"""Rill (metrics_view) importer.

Maps Rill metrics-view YAML (reference ``adapters/rill.py``; public
docs docs.rilldata.com/build/metrics-view) onto one Model per view:

- ``model``/``table`` -> table binding; ``timeseries`` -> default time
  dimension with ``smallest_time_grain`` mapped to a granularity
- dimensions: ``column`` (and its deprecated ``property`` alias),
  ``expression``, ``lookup_table`` lookups (keyed column becomes the
  SQL, lookup config retained in meta), ``ignore: true`` dropped,
  unnamed dims follow Rill's ``name -> column -> dimension_<i>`` rule
  with the first unnamed expression matching the timeseries claiming
  its name (ref ``adapters/rill.py:394-494``)
- measures: aggregate auto-extraction; ``type: derived`` formulas;
  ``type: time_comparison`` -> native prior-period comparison;
  ``window:`` rolling definitions -> cumulative metrics with the frame
  preserved; ``requires``/``per`` promote to derived unless the
  expression is itself one plain aggregation; ``format_d3`` /
  ``format_preset`` map onto format fields; unnamed measures get
  ``measure_<i>`` (ref ``adapters/rill.py:496-610``)
- ``security:`` access/row_filter Go templates (``{{ .user.x }}``)
  translate to the engine's ``{{ user.x }}`` namespace -> SecurityPolicy
- ``parent:`` derived views copy the selected field subset from their
  parent model
"""

from __future__ import annotations

import re

from sidemantic_spark.adapters.base import BaseAdapter, split_simple_aggregate, sql_metric
from sidemantic_spark.core.model import Dimension, Metric, Model

_GRAIN_MAP = {
    # this engine truncates at second/minute natively, so only the
    # sub-second grain coarsens (the reference folds everything below
    # hour up to hour)
    "millisecond": "second", "second": "second", "minute": "minute",
    "hour": "hour", "day": "day", "week": "week", "month": "month",
    "quarter": "quarter", "year": "year",
}
_FORMAT_PRESETS = {
    "humanize": "decimal_0", "currency_usd": "usd", "currency_eur": "eur",
    "percentage": "percent", "interval_ms": "decimal_0",
}


class RillAdapter(BaseAdapter):
    def parse_file(self, layer, path: str) -> None:
        import os as _os

        import yaml as _yaml

        with open(path) as fh:
            docs = [d for d in _yaml.safe_load_all(fh.read()) if d]
        stem = _os.path.splitext(_os.path.basename(path))[0]
        for doc in docs:
            if isinstance(doc, dict):
                self.parse(layer, doc, filestem=stem)

    def parse(self, layer, data: dict, filestem: str | None = None) -> None:
        if data.get("type") not in (None, "metrics_view"):
            return  # canvases/explores/dashboards have no semantic content
        if data.get("parent"):
            # derived (parent) metrics view: selects a field subset of
            # its parent instead of defining its own (rill
            # parse_metrics_view.go) — copy the named fields
            parent = layer.graph.models.get(data["parent"])
            if parent is None:
                return
            pdims = _field_selector(data.get("parent_dimensions"))
            pmets = _field_selector(data.get("parent_measures"))
            import dataclasses

            import re as _re

            raw_name = data.get("name") or data.get("display_name") or "derived"
            layer.add_model(dataclasses.replace(
                parent,
                name=_re.sub(r"\W+", "_", str(raw_name)).strip("_").lower(),
                dimensions=[dataclasses.replace(d) for d in parent.dimensions
                            if pdims(d.name)
                            or d.name == parent.default_time_dimension],
                metrics=[dataclasses.replace(m) for m in parent.metrics
                         if pmets(m.name)],
                label=data.get("display_name"),
            ))
            return
        if "measures" not in data and "dimensions" not in data:
            return
        # Rill names a metrics view by its FILE STEM when `name:` is
        # absent (runtime/parser); `model:` is the backing table, not
        # the view's identity
        name = data.get("name") or filestem or data.get("model") or data.get("table")
        if not name:
            return

        timeseries = data.get("timeseries")
        grain = _grain(data.get("smallest_time_grain"))
        dims: list[Dimension] = []
        seen = set()
        ts_taken = False
        for i, d in enumerate(data.get("dimensions") or []):
            dim = self._parse_dimension(d, i, timeseries, grain, ts_taken)
            if dim is None or dim.name in seen:
                continue
            seen.add(dim.name)
            dims.append(dim)
            if timeseries and dim.name == timeseries:
                ts_taken = True
        if timeseries and not any(
                d.name == timeseries or d.sql == timeseries for d in dims):
            dims.append(Dimension(
                name=timeseries, type="time", granularity=grain or "day",
            ))

        metrics: list[Metric] = []
        mseen = set()
        for i, m in enumerate(data.get("measures") or []):
            metric = self._parse_measure(m, i)
            if metric is not None and metric.name not in mseen:
                mseen.add(metric.name)
                metrics.append(metric)

        layer.add_model(Model(
            name=name if isinstance(name, str) else str(name),
            table=data.get("model") or data.get("table") or name,
            primary_key=data.get("primary_key", "id"),
            dimensions=dims,
            metrics=metrics,
            default_time_dimension=timeseries if timeseries else None,
            default_grain=(grain or "day") if timeseries else None,
            description=data.get("description"),
            security=self._parse_security(data.get("security")),
        ))

    def _parse_dimension(self, d: dict, index: int, timeseries: str | None,
                         grain: str | None, ts_taken: bool) -> Dimension | None:
        if not isinstance(d, dict) or d.get("ignore"):
            return None
        # ``property:`` is the deprecated alias for ``column:``
        column = d.get("column") or d.get("property")
        expression = d.get("expression")
        lookup_key = d.get("lookup_key_column")
        sql = expression or column or lookup_key
        if not sql:
            return None
        # Rill's name rule: name -> column -> dimension_<i>; the FIRST
        # unnamed expression matching the timeseries claims its name so
        # default_time_dimension resolves (ref adapters/rill.py:455-461)
        name = d.get("name")
        if not name:
            if timeseries and sql == timeseries and not ts_taken:
                name = timeseries
            else:
                name = column or lookup_key or f"dimension_{index}"
        is_ts = bool(timeseries) and (sql == timeseries or name == timeseries)
        meta = None
        if d.get("lookup_table"):
            meta = {"rill_lookup_table": d["lookup_table"],
                    "rill_lookup_key_column": lookup_key,
                    "rill_lookup_value_column": d.get("lookup_value_column")}
            if d.get("lookup_default_expression") is not None:
                meta["rill_lookup_default_expression"] = d["lookup_default_expression"]
        return Dimension(
            name=name,
            type="time" if is_ts else "categorical",
            sql=None if sql == name else sql,
            granularity=(grain or "day") if is_ts else None,
            label=d.get("display_name") or d.get("label"),
            description=d.get("description"),
            meta=meta,
        )

    def _parse_measure(self, m: dict, index: int) -> Metric | None:
        if not isinstance(m, dict) or m.get("ignore"):
            return None
        expr = m.get("expression") or m.get("sql")
        if not expr:
            return None
        name = m.get("name") or f"measure_{index}"
        mtype = str(m.get("type") or "").lower()
        fmt = m.get("format_d3")
        preset = m.get("format_preset")
        common = dict(
            label=m.get("display_name") or m.get("label"),
            description=m.get("description"),
            format=fmt,
            value_format_name=(_FORMAT_PRESETS.get(preset, preset)
                               if preset and not fmt else None),
        )
        meta: dict | None = None
        if m.get("per") is not None:
            meta = {"rill_per": m["per"]}

        window = m.get("window")
        if window:
            # rolling-window measure -> cumulative with the declared frame
            # (Rill: window.order + window.frame over the timeseries)
            frame = order = None
            if isinstance(window, dict):
                order = window.get("order")
                frame = window.get("frame")
            split = split_simple_aggregate(expr)
            if split is None:
                return Metric(name=name, type="derived", expr=expr,
                              meta=meta, **common)
            agg, inner = split
            if order:
                meta = dict(meta or {}, rill_window_order=order)
            return Metric(name=name, type="cumulative", agg=agg,
                          sql=None if inner in ("*", "1", "") else inner,
                          window_frame=frame, meta=meta, **common)
        if mtype == "time_comparison":
            # the expression names the base measure; Rill compares to the
            # immediately prior period
            return Metric(name=name, type="time_comparison",
                          base_metric=expr, comparison_type="prior_period",
                          meta=dict(meta or {}, rill_type="time_comparison"),
                          **common)
        if mtype == "derived":
            return Metric(name=name, type="derived", expr=expr,
                          meta=meta, **common)
        if (m.get("requires") or m.get("per")) and split_simple_aggregate(expr) is None:
            # requires/per promotion, unless the expression is one plain
            # aggregation which must keep simple decomposition
            return Metric(name=name, type="derived", expr=expr,
                          meta=meta, **common)
        return sql_metric(name, expr, meta=meta, **common)

    @staticmethod
    def _parse_security(sec) -> object | None:
        """Rill ``security:`` -> SecurityPolicy; ``{{ .user.x }}`` Go
        templates become our ``{{ user.x }}`` Jinja namespace."""
        if not isinstance(sec, dict):
            return None
        from sidemantic_spark.core.security import SecurityPolicy

        kwargs: dict = {}
        access = sec.get("access")
        if isinstance(access, str) and access.strip():
            kwargs["access"] = _user_refs(access)
        elif isinstance(access, bool):
            kwargs["access"] = access
        row_filter = sec.get("row_filter")
        if isinstance(row_filter, str) and row_filter.strip():
            kwargs["row_filters"] = [_user_refs(row_filter)]
        return SecurityPolicy(**kwargs) if kwargs else None


def _user_refs(template: str) -> str:
    return re.sub(r"\.user\.", "user.", template)


def _field_selector(sel):
    """Predicate for Rill's parent_dimensions/parent_measures selector
    forms (ref adapters/rill.py:150-210): omitted / ``"*"`` -> all;
    a name list -> membership; ``{exclude: [...]}`` -> all but those;
    ``{regex: ...}`` -> pattern match; ``"* EXCLUDE (a, b)"`` / ``{expr:
    ...}`` -> DuckDB star expression. Unknown forms inherit everything
    rather than silently dropping fields."""
    if sel is None or sel == "*":
        return lambda _n: True
    if isinstance(sel, str):
        m = re.match(r"^\*\s*EXCLUDE\s*\((.*?)\)\s*$", sel.strip(), re.IGNORECASE)
        if m:
            exc = {x.strip().strip("\"'") for x in m.group(1).split(",") if x.strip()}
            return lambda n: n not in exc
        return lambda _n: True
    if isinstance(sel, (list, tuple, set)):
        names = set(sel)
        return lambda n: n in names
    if isinstance(sel, dict):
        if "exclude" in sel:
            exc = set(sel.get("exclude") or [])
            return lambda n: n not in exc
        if "regex" in sel:
            pat = re.compile(sel["regex"])
            return lambda n: bool(pat.search(n))
        if "expr" in sel:
            return _field_selector(sel["expr"])
    return lambda _n: True


def _grain(g: str | None) -> str | None:
    if not g:
        return None
    return _GRAIN_MAP.get(str(g).lower().strip())


# ----------------------------------------------------------------------
# export (reference adapters/rill.py export contract)
# ----------------------------------------------------------------------

def export_rill(graph) -> list[dict]:
    """Graph -> one Rill metrics_view doc per model. Lossy-but-faithful
    inverse of :meth:`RillAdapter.parse`: simple aggs render as SQL
    expressions (auto-extraction re-derives the agg on import), derived
    metrics keep their formula; window-metric types are dropped."""
    from sidemantic_spark.adapters.base import simple_agg_sql

    docs = []
    for model in graph.models.values():
        time_dims = [d for d in model.dimensions if d.type == "time"]
        timeseries = model.default_time_dimension or (
            time_dims[0].name if time_dims else None
        )
        doc: dict = {"type": "metrics_view", "name": model.name,
                     "model": model.table or model.name}
        if model.primary_key != "id":
            doc["primary_key"] = model.primary_key
        if timeseries:
            doc["timeseries"] = timeseries
            ts = next((d for d in time_dims if d.name == timeseries), None)
            if ts is not None and ts.granularity:
                doc["smallest_time_grain"] = ts.granularity
        dims = []
        for d in model.dimensions:
            if d.name == timeseries:
                continue
            out = {"name": d.name}
            if d.sql and d.sql != d.name:
                out["expression"] = d.sql
            else:
                out["column"] = d.name
            if d.label:
                out["display_name"] = d.label
            if d.description:
                out["description"] = d.description
            dims.append(out)
        if dims:
            doc["dimensions"] = dims
        measures = []
        for m in model.metrics:
            expr = simple_agg_sql(m) if m.is_simple else (
                m.expr if m.type == "derived" else None
            )
            if expr is None:
                continue
            out = {"name": m.name, "expression": expr}
            if m.label:
                out["display_name"] = m.label
            if m.description:
                out["description"] = m.description
            measures.append(out)
        if measures:
            doc["measures"] = measures
        if model.description:
            doc["description"] = model.description
        docs.append(doc)
    return docs
