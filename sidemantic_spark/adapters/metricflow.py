"""MetricFlow / dbt Semantic Layer importer.

Maps dbt semantic-layer YAML (reference ``adapters/metricflow.py``;
public spec docs.getdbt.com/docs/build/semantic-models) onto our graph.
Both YAML generations are handled:

- **legacy spec** — top-level ``semantic_models:`` (entities /
  dimensions / measures) + ``metrics:`` with ``type_params``
  (ref ``adapters/metricflow.py:166-175,276-392``)
- **latest spec** (dbt Core 1.12 / Fusion) — semantic models embedded
  under ``models:`` with a nested ``semantic_model:`` block, column-
  level ``entity:``/``dimension:`` declarations, measures folded into
  inline ``type: simple`` metrics, and metric parameters promoted to
  top-level keys (ref ``adapters/metricflow.py:109-164,394-486``)

Construct mapping:

- semantic_model -> Model; table from ``config.meta.hex.table`` >
  ``model: ref('tbl')`` > name; ``sql:`` -> derived model
- entities: primary -> model pk; foreign -> many_to_one Relationship to
  whichever model declares that entity as primary (resolved after all
  models parse); entity names resolve to their backing ``expr`` column
  for semi-additive ``window_groupings`` (ref ``:313-351``)
- measures -> Metric (agg case-insensitive; ``percentile`` becomes an
  exact ordered-set complete-SQL aggregate — the reference *drops*
  percentile measures (``:540-590``), Spark evaluates them natively;
  ``non_additive_dimension`` -> semi-additive fields; ``meta.filters``
  -> per-metric filters)
- ``meta.segments`` -> Segments, ``meta.extends`` -> model inheritance
- metrics: simple (measure passthrough / folded agg), ratio, derived
  (per-input ``alias`` rewritten to the real metric unless the input
  carries ``offset_window``/``offset_to_grain``/``filter``, which are
  retained as metadata — ref ``:730-754,833-863``), cumulative
  (window / grain_to_date / period_agg from any of the three spellings),
  conversion (retained as graph metadata, never registered as a
  queryable metric: MetricFlow references base/conversion *measures*
  while our funnel type takes event-filter SQL, so registration would
  silently compute wrong conversions — ref ``:865-924``)
- metric ``filter`` strings translate ``{{ Dimension('e__d') }}`` /
  ``{{ TimeDimension('e__d', 'grain') }}`` / ``{{ Entity('e') }}``
  Jinja refs into our ``model.dim`` / ``dim__grain`` forms
- ``saved_queries`` (list or name-keyed mapping) -> SavedQuery with
  group_by / where / order_by / limit
"""

from __future__ import annotations

import re

from sidemantic_spark.adapters.base import BaseAdapter, inverse, resolve_dbt_ref
from sidemantic_spark.core.model import (
    Dimension,
    Metric,
    Model,
    Relationship,
    Segment,
)

# MetricFlow agg -> ours (any case; ref ``:540-563``); exports use the first listed
_AGG_MAP = {
    "sum": "sum",
    "count": "count",
    "count_distinct": "count_distinct",
    "average": "avg",
    "avg": "avg",
    "min": "min",
    "max": "max",
    "median": "median",
    "sum_boolean": "sum",
}

# Jinja object refs inside MetricFlow ``filter`` / ``where`` strings
_J_DIM_RE = re.compile(r"\{\{\s*Dimension\(\s*'([^']+)'\s*\)\s*\}\}")
_J_TDIM_RE = re.compile(
    r"\{\{\s*TimeDimension\(\s*'([^']+)'\s*,\s*'(\w+)'\s*\)\s*\}\}"
)
_J_ENT_RE = re.compile(r"\{\{\s*Entity\(\s*'([^']+)'\s*\)\s*\}\}")
_J_METRIC_RE = re.compile(r"\{\{\s*Metric\(\s*'([^']+)'[^}]*\)\s*\}\}")


class MetricFlowAdapter(BaseAdapter):
    def __init__(self) -> None:
        # entity name -> owning model across every file seen by this
        # adapter instance; rebuilt from the layer graph each parse
        self._entity_owner: dict[str, str] = {}
        # conversion specs retained as metadata (ref ``:865-924``)
        self._pending_conversions: list[dict] = []

    def parse(self, layer, data: dict) -> None:
        parsed: list[tuple[Model, list[dict], str | None]] = []
        for sm in data.get("semantic_models") or []:
            out = self._parse_semantic_model(sm)
            if out is not None:
                parsed.append(out)

        # Latest spec: ``models:`` entries with a nested ``semantic_model:``
        # block (ref ``adapters/metricflow.py:109-124``). ``enabled: false``
        # drops the model AND its inline metrics (they fold a measure on
        # the missing model, so they could never be queried).
        inline_metric_defs: list[tuple[Model, dict]] = []
        for entry in data.get("models") or []:
            if not isinstance(entry, dict) or "semantic_model" not in entry:
                continue
            out = self._parse_model_spec(entry)
            if out is None:
                continue
            parsed.append(out)
            for mdef in entry.get("metrics") or []:
                inline_metric_defs.append((out[0], mdef))

        # entity name -> owning model (declared primary there)
        primary_owner: dict[str, str] = {}
        for model, _entities, primary in parsed:
            if primary:
                primary_owner[primary] = model.name
        for name, mdl in layer.graph.models.items():
            pe = getattr(mdl, "_mf_primary_entity", None)
            if pe:
                primary_owner.setdefault(pe, name)
        # accumulate across parse() calls: a metrics-only document must
        # still resolve entity refs declared by an earlier document
        self._entity_owner.update(primary_owner)

        for model, entities, _primary in parsed:
            for e in entities:
                if e.get("type") == "foreign" and e["name"] in primary_owner:
                    target = primary_owner[e["name"]]
                    if target != model.name:
                        model.relationships.append(Relationship(
                            name=target,
                            type="many_to_one",
                            foreign_key=e.get("expr") or e["name"],
                        ))
            layer.add_model(model)

        # Inline metrics on latest-spec models: a ``type: simple`` metric
        # folds a measure whose expr names columns on the owning model, so
        # it attaches TO that model (bare-name queries then resolve via
        # the unique-owner lookup) — the reference instead registers it
        # graph-level and SQL-qualifies the expr (ref ``:125-163``); the
        # model-attached form is the idiomatic shape in this engine.
        # Complex inline metrics (ratio/derived/cumulative over measures)
        # go graph-level like top-level metrics.
        for model, mdef in inline_metric_defs:
            metric = self._parse_metric(mdef)
            if metric is None:
                continue
            if mdef.get("type", "simple") == "simple" and metric.agg is not None:
                if metric.sql is None and metric.agg not in ("count",):
                    # expr-less sum/avg/...: MetricFlow aggregates the
                    # column named after the measure (ref ``:155-162``)
                    metric.sql = metric.name
                elif metric.sql is not None and metric.agg == "count" \
                        and metric.sql.strip() in ("1", "*"):
                    metric.sql = None  # constant count == COUNT(*)
                if model.metric(metric.name) is None:
                    model.metrics.append(metric)
                    model.reindex()
            else:
                self._add_metric(layer, metric)

        for mdata in data.get("metrics") or []:
            metric = self._parse_metric(mdata)
            if metric is not None:
                self._add_metric(layer, metric)

        if self._pending_conversions:
            store = layer.graph.metadata.setdefault(
                "metricflow_conversion_metrics", {})
            for spec in self._pending_conversions:
                store.setdefault(spec["name"], spec)
            self._pending_conversions = []

        self._parse_saved_queries(layer, data.get("saved_queries"))

    @staticmethod
    def _add_metric(layer, metric: Metric) -> None:
        # duplicate names across files: first definition wins (ref ``:228-233``)
        if metric.name in layer.graph.metrics:
            return
        # derived metrics with offset_window input aliases: register a
        # hidden prior-value time comparison per alias so the formula's
        # alias refs resolve to real shifted metrics
        for item in getattr(metric, "_mf_offset_inputs", []) or []:
            alias = item["alias"]
            if alias in layer.graph.metrics:
                continue
            offset = str(item["offset_window"]).strip()
            mm = re.match(r"^(\d+)\s+(day|week|month|quarter|year)s?$",
                          offset, re.I)
            std = {("1", "year"): "yoy", ("1", "quarter"): "qoq",
                   ("1", "month"): "mom", ("1", "week"): "wow",
                   ("1", "day"): "dod"}
            comparison = std.get((mm.group(1), mm.group(2).lower())) if mm else None
            layer.graph.add_metric(Metric(
                name=alias,
                type="time_comparison",
                base_metric=item["name"],
                comparison_type=comparison or "prior_period",
                time_offset=None if comparison else offset,
                calculation="prior",
                public=False,
            ))
        layer.graph.add_metric(metric)

    # ------------------------------------------------------------------
    # semantic models
    # ------------------------------------------------------------------

    def _parse_semantic_model(self, sm: dict):
        name = sm.get("name")
        if not name:
            return None
        # table precedence: config.meta.hex.table > ref() > name (ref ``:289-304``)
        hex_table = (((sm.get("config") or {}).get("meta") or {})
                     .get("hex") or {}).get("table")
        table = hex_table or resolve_dbt_ref(sm.get("model")) or name
        model_sql = sm.get("sql")  # filtered/derived models
        defaults = sm.get("defaults") or {}
        agg_time_dim = defaults.get("agg_time_dimension")
        meta = sm.get("meta") or {}

        entities = sm.get("entities") or []
        pk = None
        primary_entity = sm.get("primary_entity")
        entity_column: dict[str, str] = {}
        for e in entities:
            ename = e.get("name")
            if ename:
                entity_column[ename] = e.get("expr") or ename
            if e.get("type") == "primary":
                pk = e.get("expr") or ename
                primary_entity = primary_entity or ename

        dims = [d for d in (self._parse_dimension(dd)
                            for dd in sm.get("dimensions") or []) if d]
        dim_names = {d.name for d in dims}
        # a virtual agg_time_dimension (e.g. metric_time) that names no
        # real time dimension must not dangle as the model default
        if agg_time_dim and not any(
                d.name == agg_time_dim and d.type == "time" for d in dims):
            agg_time_dim = None

        metrics: list[Metric] = []
        for m in sm.get("measures") or []:
            metric = self._parse_measure(m)
            if metric is None:
                continue
            if metric.non_additive_window_groupings:
                # an entity name in window_groupings resolves to its
                # backing column; dimension names pass through (ref ``:344-351``)
                metric.non_additive_window_groupings = [
                    g if g in dim_names else entity_column.get(g, g)
                    for g in metric.non_additive_window_groupings
                ]
            metrics.append(metric)

        segments = [
            Segment(name=s["name"], sql=s["sql"], description=s.get("description"))
            for s in meta.get("segments") or []
            if s.get("name") and s.get("sql")
        ]

        model = Model(
            name=name,
            table=None if model_sql else table,
            sql=model_sql,
            primary_key=pk or "id",
            dimensions=dims,
            metrics=metrics,
            segments=segments,
            extends=meta.get("extends"),
            default_time_dimension=agg_time_dim,
            default_grain=meta.get("default_grain"),
            description=sm.get("description"),
            label=sm.get("label"),
        )
        model._mf_primary_entity = primary_entity
        return model, entities, primary_entity

    def _parse_model_spec(self, entry: dict):
        """Latest-spec ``models:`` entry: entities and dimensions are
        declared column-by-column under ``columns:`` (ref ``:394-486``)."""
        semantic_model = entry.get("semantic_model")
        if not isinstance(semantic_model, dict):
            return None
        if semantic_model.get("enabled") is False:
            return None
        name = semantic_model.get("name") or entry.get("name")
        if not name:
            return None

        pk = None
        primary_entity = None
        entities: list[dict] = []
        dims: list[Dimension] = []
        for col in entry.get("columns") or []:
            if not isinstance(col, dict):
                continue
            col_name = col.get("name")

            ent = col.get("entity")
            if ent is not None:
                if isinstance(ent, str):  # ``entity: primary`` shorthand
                    ent = {"type": ent}
                etype = ent.get("type", "primary")
                ename = ent.get("name") or col_name
                eexpr = ent.get("expr") or col_name
                entities.append({"name": ename, "type": etype, "expr": eexpr})
                if etype == "primary":
                    pk = eexpr
                    primary_entity = ename

            dd = col.get("dimension")
            if dd is not None:
                if isinstance(dd, str):  # ``dimension: time`` shorthand
                    dd = {"type": dd}
                legacy = {
                    "name": dd.get("name") or col_name,
                    "type": dd.get("type", "categorical"),
                    "expr": dd.get("expr", col_name),
                    "description": dd.get("description") or col.get("description"),
                    "label": dd.get("label"),
                    "meta": dd.get("meta") or {},
                }
                grain = col.get("granularity") or dd.get("granularity")
                if grain:
                    legacy["type_params"] = {"time_granularity": grain}
                dim = self._parse_dimension(legacy)
                if dim:
                    dims.append(dim)

        agg_time = (entry.get("agg_time_dimension")
                    or semantic_model.get("agg_time_dimension")
                    or ((entry.get("defaults") or semantic_model.get("defaults")
                         or {}).get("agg_time_dimension")))
        model = Model(
            name=name,
            table=entry.get("name"),  # the dbt model itself
            primary_key=pk or "id",
            dimensions=dims,
            default_time_dimension=agg_time,
            description=semantic_model.get("description") or entry.get("description"),
        )
        model._mf_primary_entity = primary_entity
        return model, entities, primary_entity

    def _parse_dimension(self, dd: dict) -> Dimension | None:
        name = dd.get("name")
        if not name:
            return None
        dtype = "time" if dd.get("type") == "time" else "categorical"
        granularity = None
        if dtype == "time":
            granularity = (dd.get("type_params") or {}).get(
                "time_granularity", "day")
        meta = dd.get("meta") or {}
        expr = dd.get("expr")
        return Dimension(
            name=name,
            type=dtype,
            sql=str(expr) if expr is not None else None,
            granularity=granularity,
            description=dd.get("description"),
            label=dd.get("label"),
            format=meta.get("format"),
            value_format_name=meta.get("value_format_name"),
            parent=meta.get("parent"),
        )

    def _parse_measure(self, m: dict) -> Metric | None:
        name = m.get("name")
        if not name:
            return None
        raw_agg = m.get("agg", "sum") or "sum"
        expr = m.get("expr")
        sql = str(expr) if expr is not None else None

        # percentile: the reference drops these as unrepresentable
        # (``:580-590``); Spark evaluates exact ordered-set aggregates,
        # so emit a complete-SQL measure instead
        if str(raw_agg).lower() == "percentile":
            params = m.get("agg_params") or {}
            frac = float(params.get("percentile", 0.5))
            fn = ("PERCENTILE_DISC" if params.get("use_discrete_percentile")
                  else "PERCENTILE_CONT")
            return Metric(
                name=name,
                sql=f"{fn}({frac}) WITHIN GROUP (ORDER BY {sql or name})",
                sql_is_complete=True,
                description=m.get("description"),
                label=m.get("label"),
            )

        agg = _AGG_MAP.get(str(raw_agg).lower())
        if agg is None:
            return None  # unrepresentable aggregation: skip, never coerce

        meta = m.get("meta") or {}
        nad = m.get("non_additive_dimension") or {}
        return Metric(
            name=name,
            agg=agg,
            sql=sql,
            description=m.get("description"),
            label=m.get("label"),
            filters=list(meta.get("filters") or []),
            format=meta.get("format"),
            value_format_name=meta.get("value_format_name"),
            drill_fields=list(meta.get("drill_fields") or []),
            non_additive_dimension=nad.get("name"),
            non_additive_window={"min": "min", "max": "max"}.get(
                nad.get("window_choice", "max"), "max"),
            non_additive_window_groupings=list(nad.get("window_groupings") or []),
        )

    # ------------------------------------------------------------------
    # graph-level metrics
    # ------------------------------------------------------------------

    @staticmethod
    def _ref_name(value):
        """Measure/metric input that may be a bare name or a mapping like
        ``{name: bookers, fill_nulls_with: 0, join_to_timespine: true}``."""
        if isinstance(value, dict):
            return value.get("name")
        return value

    @staticmethod
    def _ref_fill(value):
        if isinstance(value, dict):
            return value.get("fill_nulls_with")
        return None

    def _parse_metric(self, m: dict) -> Metric | None:
        name = m.get("name")
        if not name:
            return None
        mtype = m.get("type", "simple")
        # legacy nests parameters under type_params; latest promotes them
        tp = m.get("type_params") or {}

        if mtype == "conversion":
            return self._parse_conversion(name, m, tp)
        if mtype not in ("simple", "ratio", "derived", "cumulative"):
            return None  # unsupported metric type: drop

        filt = m.get("filter")
        filters = [self._translate_where(filt)] if filt else []
        meta = m.get("meta") or {}
        common = dict(
            description=m.get("description"),
            label=m.get("label"),
            filters=filters,
            format=meta.get("format"),
            value_format_name=meta.get("value_format_name"),
            drill_fields=list(meta.get("drill_fields") or []),
            extends=meta.get("extends"),
        )

        if mtype == "simple":
            measure = tp.get("measure", m.get("measure"))
            top_agg = m.get("agg")
            if top_agg is not None:
                # latest-spec folded measure: agg + expr on the metric
                agg = _AGG_MAP.get(str(top_agg).lower())
                if agg is None:
                    return None
                raw = m.get("expr")
                return Metric(name=name, agg=agg,
                              sql=str(raw) if raw is not None else None,
                              **common)
            if measure is not None:
                mname = self._ref_name(measure)
                if mname == name and not filters:
                    return None  # same-named passthrough; model metric suffices
                return Metric(name=name, type="derived", expr=mname,
                              fill_nulls_with=self._ref_fill(measure), **common)
            if m.get("expr") is not None:
                return Metric(name=name, type="derived",
                              expr=str(m.get("expr")), **common)
            return None

        if mtype == "ratio":
            num = tp.get("numerator", m.get("numerator"))
            den = tp.get("denominator", m.get("denominator"))
            return Metric(name=name, type="ratio",
                          numerator=self._ref_name(num),
                          denominator=self._ref_name(den), **common)

        if mtype == "derived":
            expr = tp.get("expr", m.get("expr"))
            inputs = tp.get("metrics")
            if inputs is None:
                inputs = m.get("input_metrics")
            summary = self._summarize_inputs(inputs)
            if expr and summary:
                expr = self._rewrite_input_aliases(str(expr), summary)
            extra = {"input_metrics": summary} if summary else None
            metric = Metric(name=name, type="derived", expr=expr,
                            meta=extra, **common)
            # offset_window aliases are expressible here as native
            # prior-value time comparisons (the reference can only retain
            # them as metadata, ref :744-752) — synthesize one hidden
            # shifted metric per offset alias so the formula queries
            metric._mf_offset_inputs = [
                i for i in (summary or [])
                if i.get("alias") and i.get("offset_window")
                and i.get("filter") is None and i.get("offset_to_grain") is None
            ]
            return metric

        # cumulative: window / grain_to_date / period_agg can sit under
        # type_params (legacy convenience), cumulative_type_params
        # (canonical legacy), or the top level (latest) (ref ``:756-777``)
        measure = tp.get("measure")
        if measure is None:
            measure = m.get("input_metric")
        ctp = tp.get("cumulative_type_params") or {}
        window = tp.get("window") or ctp.get("window") or m.get("window")
        gtd = (tp.get("grain_to_date") or ctp.get("grain_to_date")
               or m.get("grain_to_date"))
        period_agg = (ctp.get("period_agg") or tp.get("period_agg")
                      or m.get("period_agg"))
        extra = {"period_agg": period_agg} if period_agg else None
        return Metric(name=name, type="cumulative",
                      base_metric=self._ref_name(measure),
                      window=window, grain_to_date=gtd, meta=extra, **common)

    @staticmethod
    def _summarize_inputs(inputs) -> list[dict] | None:
        """Per-input derived modifiers (alias / offset_window /
        offset_to_grain / filter), normalized (ref ``:809-831``)."""
        if not inputs:
            return None
        out = []
        for entry in inputs:
            if isinstance(entry, dict):
                item = {"name": entry.get("name")}
                for key in ("alias", "offset_window", "offset_to_grain", "filter"):
                    if entry.get(key) is not None:
                        item[key] = entry.get(key)
                out.append(item)
            else:
                out.append({"name": entry})
        return out or None

    @staticmethod
    def _rewrite_input_aliases(expr: str, summary: list[dict]) -> str:
        """Replace plain input aliases with their real metric names so the
        derived expression references metrics that exist in the graph.
        An alias carrying ``offset_window``/``offset_to_grain`` denotes a
        time-shifted value and ``filter`` a filtered subset — both differ
        from the base metric, so those aliases stay intact and the input
        list rides along as metadata (ref ``:833-863``)."""
        out = expr
        for item in summary:
            alias, real = item.get("alias"), item.get("name")
            if not alias or not real or alias == real:
                continue
            if any(item.get(k) is not None
                   for k in ("offset_window", "offset_to_grain", "filter")):
                continue
            out = re.sub(rf"\b{re.escape(alias)}\b", real, out)
        return out

    def _parse_conversion(self, name: str, m: dict, tp: dict) -> None:
        """Retain the conversion spec as graph metadata; never register a
        queryable metric. MetricFlow names base/conversion *measures*,
        our funnel type takes event-filter SQL — registering would
        silently compute wrong conversions (ref ``:865-924``)."""
        conv = tp.get("conversion_type_params") or {}
        base = self._ref_name(conv.get("base_measure")) or \
            self._ref_name(m.get("base_metric"))
        conversion = self._ref_name(conv.get("conversion_measure")) or \
            self._ref_name(m.get("conversion_metric"))
        entity = conv.get("entity") or m.get("entity")
        if not (base and conversion and entity):
            return None
        spec = {
            "name": name,
            "description": m.get("description"),
            "label": m.get("label"),
            "entity": entity,
            "base_measure": base,
            "conversion_measure": conversion,
            "window": conv.get("window") or m.get("window"),
            "calculation": (conv.get("calculation") or m.get("calculation")
                            or "conversion_rate"),
            "constant_properties": (conv.get("constant_properties")
                                    or m.get("constant_properties")),
            "filter": m.get("filter"),
        }
        self._pending_conversions.append(spec)
        return None

    # ------------------------------------------------------------------
    # saved queries + filter templating
    # ------------------------------------------------------------------

    def _parse_saved_queries(self, layer, saved_queries) -> None:
        """List (canonical) or name-keyed mapping (latest) (ref ``:235-274``)."""
        if not saved_queries:
            return
        from sidemantic_spark.core.consumption import SavedQuery

        entries = []
        if isinstance(saved_queries, dict):
            for key, value in saved_queries.items():
                if isinstance(value, dict):
                    entry = dict(value)
                    entry.setdefault("name", key)
                    entries.append(entry)
        else:
            entries = [sq for sq in saved_queries if isinstance(sq, dict)]

        for sq in entries:
            if not sq.get("name"):
                continue
            qp = sq.get("query_params") or {}
            where = qp.get("where")
            if isinstance(where, str):
                where = [where]
            order_by = qp.get("order_by")
            if isinstance(order_by, str):
                order_by = [order_by]
            layer.graph.add_saved_query(SavedQuery(
                name=sq["name"],
                metrics=list(qp.get("metrics") or []),
                dimensions=[_strip_dunder(d) for d in qp.get("group_by") or []],
                filters=[self._translate_where(w) for w in where or []],
                order_by=[_strip_dunder(o) for o in order_by or []],
                limit=qp.get("limit"),
                label=sq.get("label"),
                description=sq.get("description"),
            ))

    def _translate_where(self, s: str) -> str:
        """MetricFlow Jinja object refs -> our reference forms:
        ``{{ Dimension('order__status') }}`` -> ``orders.status`` (entity
        resolved to its owning model when known, else the bare dim),
        ``{{ TimeDimension('e__d', 'month') }}`` -> ``d__month``,
        ``{{ Entity('order') }}`` -> the entity name."""
        if not isinstance(s, str) or "{{" not in s:
            return s

        out = _J_TDIM_RE.sub(
            lambda mm: _grain_suffix(dim_ref_str(mm.group(1), self._entity_owner),
                                     mm.group(2)), s)
        out = _J_DIM_RE.sub(
            lambda mm: dim_ref_str(mm.group(1), self._entity_owner), out)
        out = _J_ENT_RE.sub(lambda mm: mm.group(1), out)
        out = _J_METRIC_RE.sub(lambda mm: mm.group(1), out)
        return out


def dim_ref_str(ref: str, owner_map: dict[str, str]) -> str:
    if "__" in ref:
        entity, dim = ref.split("__", 1)
        owner = owner_map.get(entity)
        return f"{owner}.{dim}" if owner else dim
    return ref


def _grain_suffix(ref: str, grain: str) -> str:
    return f"{ref}__{grain}"


def _strip_dunder(ref: str) -> str:
    """``Dimension('order_id__ordered_at').grain('month')`` and
    ``metric_time__month`` style refs -> plain dim refs."""
    m = re.search(r"Dimension\(\s*'([^']+)'\s*\)(?:\.grain\(\s*'(\w+)'\s*\))?", ref)
    if m:
        base = m.group(1).split("__", 1)[-1]
        return f"{base}__{m.group(2)}" if m.group(2) else base
    return ref


# ----------------------------------------------------------------------
# export (reference adapters/base.py:9 parse/export contract)
# ----------------------------------------------------------------------

def export_metricflow(graph) -> dict:
    """Graph -> dbt/MetricFlow semantic-model YAML document (dict)."""
    semantic_models = []
    metrics_out = []
    for model in graph.models.values():
        entities = []
        pk = model.pk_list()
        entities.append({
            "name": model.name,
            "type": "primary",
            "expr": pk[0] if len(pk) == 1 else " || ".join(pk),
        })
        for r in model.relationships:
            if r.type == "many_to_one" and r.foreign_key:
                fks = r.fk_list()
                entities.append({"name": r.name, "type": "foreign",
                                 "expr": fks[0] if len(fks) == 1 else " || ".join(fks)})
        dims = []
        for d in model.dimensions:
            out = {"name": d.name, "type": "time" if d.type == "time" else "categorical"}
            if d.sql and d.sql != d.name:
                out["expr"] = d.sql
            if d.type == "time":
                out["type_params"] = {"time_granularity": d.granularity or "day"}
            if d.description:
                out["description"] = d.description
            dims.append(out)
        measures = []
        for m in model.metrics:
            if m.type == "ratio":
                metrics_out.append({
                    "name": m.name, "type": "ratio",
                    "type_params": {"numerator": m.numerator, "denominator": m.denominator},
                })
                continue
            if m.type == "derived":
                metrics_out.append({
                    "name": m.name, "type": "derived",
                    "type_params": {"expr": m.expr},
                })
                continue
            if m.type == "cumulative":
                tp: dict = {"measure": m.base_metric}
                ctp: dict = {}
                if m.window:
                    ctp["window"] = m.window
                if m.grain_to_date:
                    ctp["grain_to_date"] = m.grain_to_date
                if ctp:
                    tp["cumulative_type_params"] = ctp
                metrics_out.append({"name": m.name, "type": "cumulative",
                                    "type_params": tp})
                continue
            if not m.is_simple or m.agg not in _EXPORT_AGG:
                continue  # MetricFlow has no agg for it
            out = {"name": m.name, "agg": _EXPORT_AGG[m.agg]}
            if m.sql:
                out["expr"] = m.sql
            if m.non_additive_dimension:
                nad = {"name": m.non_additive_dimension,
                       "window_choice": m.non_additive_window or "max"}
                if m.non_additive_window_groupings:
                    nad["window_groupings"] = list(m.non_additive_window_groupings)
                out["non_additive_dimension"] = nad
            if m.filters:
                out["meta"] = {"filters": list(m.filters)}
            if m.description:
                out["description"] = m.description
            measures.append(out)
        sm = {"name": model.name,
              "model": f"ref('{model.table or model.name}')",
              "entities": entities}
        if model.default_time_dimension:
            sm["defaults"] = {"agg_time_dimension": model.default_time_dimension}
        if dims:
            sm["dimensions"] = dims
        if measures:
            sm["measures"] = measures
        if model.segments:
            sm["meta"] = {"segments": [
                {"name": s.name, "sql": s.sql} for s in model.segments]}
        semantic_models.append(sm)
    doc: dict = {"semantic_models": semantic_models}
    for name, m in graph.metrics.items():
        if m.type == "ratio":
            metrics_out.append({"name": name, "type": "ratio",
                                "type_params": {"numerator": m.numerator,
                                                "denominator": m.denominator}})
        elif m.type == "derived":
            metrics_out.append({"name": name, "type": "derived",
                                "type_params": {"expr": m.expr}})
        elif m.type == "cumulative":
            tp = {"measure": m.base_metric}
            if m.window:
                tp["window"] = m.window
            if m.grain_to_date:
                tp["grain_to_date"] = m.grain_to_date
            metrics_out.append({"name": name, "type": "cumulative",
                                "type_params": tp})
    if metrics_out:
        # dedupe by name (model-level complex metrics also land here)
        seen = set()
        unique = []
        for entry in metrics_out:
            if entry["name"] not in seen:
                seen.add(entry["name"])
                unique.append(entry)
        doc["metrics"] = unique
    saved = []
    for sq in graph.saved_queries.values():
        qp: dict = {"metrics": list(sq.metrics), "group_by": list(sq.dimensions)}
        if sq.filters:
            qp["where"] = list(sq.filters)
        if sq.order_by:
            qp["order_by"] = list(sq.order_by)
        if sq.limit is not None:
            qp["limit"] = sq.limit
        saved.append({"name": sq.name, "query_params": qp})
    if saved:
        doc["saved_queries"] = saved
    return doc


_EXPORT_AGG = inverse(_AGG_MAP)
