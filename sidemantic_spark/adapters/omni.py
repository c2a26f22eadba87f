"""Omni importer.

Maps Omni's view/model YAML (reference ``adapters/omni.py``; public
docs docs.omni.co/docs/modeling) onto our graph:

- view file -> Model (``table_name`` (+``schema``) -> table;
  ``dimensions``/``measures`` are *mappings* field-name -> props)
- dimension props: ``sql`` (``${TABLE}.col``), ``type`` (string/
  number/timestamp/date/boolean), ``primary_key: true``
- measure props: ``aggregate_type`` (count/sum/average/...), ``sql``
  (``${view.field}`` resolves to the view's dimension), ``filters``
  (``{field: {is: value}}`` -> per-metric filter SQL)
- ``relationships`` (model.yaml or relationships.yaml, a list) ->
  Relationship on the ``join_from_view`` model, keys parsed from
  ``on_sql ${a.x} = ${b.y}``

Views without an explicit ``name`` are named ``{schema}__{filestem}``
(Omni's cross-file reference convention). Topics/snapshots/dbt blocks
are consumption/lineage metadata and are skipped.
"""

from __future__ import annotations

import os
import re

import yaml

from sidemantic_spark.adapters.base import BaseAdapter, inverse
from sidemantic_spark.adapters.lookml import (
    _distinct_quantile_sql,
    _keyed_distinct_agg_sql,
)
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

# Omni relationship_type -> engine type (ref adapters/omni.py:577-584)
_REL_TYPES = {
    "one_to_one": "one_to_one",
    "many_to_one": "many_to_one",
    "assumed_many_to_one": "many_to_one",
    "one_to_many": "one_to_many",
    "many_to_many": "many_to_many",
}
# Omni join_type -> generator join-type override (always_left is Omni's
# default LEFT-join policy; other values pass through as metadata only)
_JOIN_TYPES = {"always_left": "left", "inner": "inner",
               "full_outer": "full", "full": "full"}

# Omni dimension / measure type -> ours; exports use the first listed
_DIM_TYPES = {
    "string": "categorical",
    "number": "numeric",
    "boolean": "boolean",
    "yesno": "boolean",
    "timestamp": "time",
    "date": "time",
    "datetime": "time",
}

_AGGS = {
    "count": "count",
    "sum": "sum",
    "average": "avg",
    "avg": "avg",
    "min": "min",
    "max": "max",
    "count_distinct": "count_distinct",
    "median": "median",
}

# Omni timeframe names -> engine grains (ref adapters/omni.py:295-305)
_TIMEFRAMES = {
    "date": "day",
    "day": "day",
    "week": "week",
    "month": "month",
    "quarter": "quarter",
    "year": "year",
    "hour": "hour",
    "minute": "minute",
    "second": "second",
}


class OmniAdapter(BaseAdapter):
    def parse_file(self, layer, path: str) -> None:
        with open(path) as fh:
            docs = [d for d in yaml.safe_load_all(fh.read()) if d is not None]
        stem = os.path.basename(path)
        for suffix in (".view.yaml", ".view.yml", ".topic.yaml",
                       ".topic.yml", ".yaml", ".yml"):
            if stem.endswith(suffix):
                stem = stem[: -len(suffix)]
                break
        for doc in docs:
            self.parse(layer, doc, filestem=stem)

    def parse(self, layer, data, filestem: str | None = None) -> None:
        if isinstance(data, list):  # relationships.yaml
            self._parse_relationships(layer, data)
            return
        if not isinstance(data, dict):
            return
        if data.get("relationships"):
            self._parse_relationships(layer, data["relationships"])
        if data.get("base_view"):
            # *.topic.yaml: a curated query surface over a base view +
            # allowed join fan — the Explore consumption contract
            self._parse_topic(layer, data, filestem)
            return
        if isinstance(data.get("dimensions"), dict) or isinstance(
            data.get("measures"), dict
        ):
            layer.add_model(self._parse_view(data, filestem))
            self._resolve_pending_topics(layer)

    def _parse_topic(self, layer, data: dict, filestem: str | None) -> None:
        from sidemantic_spark.core.consumption import Explore

        base = data["base_view"]
        name = (filestem or data.get("label") or base).lower().replace(" ", "_")
        # the join fan names which related views the topic exposes;
        # nested keys are transitive joins — flatten for field scoping
        def flat(joins: dict) -> list[str]:
            out = []
            for k, v in (joins or {}).items():
                out.append(k)
                if isinstance(v, dict):
                    out.extend(flat(v))
            return out

        allowed_models = [base] + flat(data.get("joins"))
        allowed_dims: list[str] | None = None
        allowed_mets: list[str] | None = None
        if all(m in layer.graph.models for m in allowed_models):
            allowed_dims, allowed_mets = self._topic_scope(layer, allowed_models)
        explore = Explore(
            name=name, model=base, label=data.get("label"),
            description=data.get("description"),
            allowed_dimensions=allowed_dims,
            allowed_metrics=allowed_mets,
        )
        try:
            layer.add_explore(explore)
        except Exception:
            return
        if allowed_dims is None:
            # directory loaders sort `x.topic.yaml` BEFORE `x.view.yaml`,
            # so the referenced views usually aren't parsed yet — defer
            # the field-scoping resolution and retry after later files
            # instead of importing the topic unrestricted
            if not hasattr(self, "_pending_topics"):
                self._pending_topics = []
            self._pending_topics.append((explore, allowed_models))

    @staticmethod
    def _topic_scope(layer, allowed_models: list[str]) -> tuple[list[str], list[str]]:
        dims = [
            f"{m}.{d.name}"
            for m in allowed_models
            for d in layer.graph.models[m].dimensions
        ]
        mets = [
            f"{m}.{x.name}"
            for m in allowed_models
            for x in layer.graph.models[m].metrics
        ]
        return dims, mets

    def _resolve_pending_topics(self, layer) -> None:
        still: list = []
        for explore, allowed_models in getattr(self, "_pending_topics", []):
            if all(m in layer.graph.models for m in allowed_models):
                dims, mets = self._topic_scope(layer, allowed_models)
                explore.allowed_dimensions = dims
                explore.allowed_metrics = mets
            else:
                still.append((explore, allowed_models))
        self._pending_topics = still

    def _parse_view(self, data: dict, filestem: str | None) -> Model:
        schema = data.get("schema")
        name = data.get("name") or (
            f"{schema}__{filestem}" if schema and filestem else filestem or "view"
        )
        table = data.get("table_name") or name

        def resolve(sql: str | None) -> str | None:
            if sql is None:
                return None
            out = sql.replace("${TABLE}.", "")
            # same-view refs become bare columns; cross-view stay dotted
            out = re.sub(
                r"\$\{" + re.escape(name) + r"\.(\w+)\}", r"\1", out
            )
            out = re.sub(r"\$\{(\w+)\.(\w+)\}", r"\1.\2", out)
            return out.strip()

        pk: list[str] = []
        dims: list[Dimension] = []
        for dname, props in (data.get("dimensions") or {}).items():
            props = props or {}
            sql = resolve(props.get("sql"))
            dtype = _DIM_TYPES.get(props.get("type", "string"), "categorical")
            # timeframes on a time dimension: first maps to the base
            # granularity, full list to supported_granularities
            # (ref adapters/omni.py:292-316)
            timeframes = props.get("timeframes")
            if timeframes is not None and not isinstance(timeframes, list):
                timeframes = [timeframes]
            granularity = None
            supported: list[str] = []
            if timeframes:
                dtype = "time"
                mapped = [
                    _TIMEFRAMES[tf] for tf in timeframes if tf in _TIMEFRAMES
                ]
                if mapped:
                    granularity = mapped[0]
                    supported = list(dict.fromkeys(mapped))
            meta = (
                {"order_by_field": props["order_by_field"]}
                if props.get("order_by_field") is not None else None
            )
            syn = props.get("synonyms")
            dims.append(
                Dimension(
                    name=dname,
                    type=dtype,
                    sql=None if sql in (None, dname) else sql,
                    granularity=granularity,
                    supported_granularities=supported,
                    description=props.get("description"),
                    label=props.get("label"),
                    public=props.get("hidden") is not True,
                    # first-class synonyms field feeds catalog/LSP
                    # search, matching every other adapter
                    synonyms=[str(s) for s in syn] if isinstance(syn, list) else [],
                    meta=meta,
                )
            )
            if props.get("primary_key") is True:
                pk.append(sql or dname)

        metrics: list[Metric] = []
        for mname, props in (data.get("measures") or {}).items():
            props = props or {}
            # time-comparison pattern (ref adapters/omni.py:350-380):
            # a filter carrying date_offset_from_query with
            # cancel_query_filter means "this measure, shifted back by
            # the offset" — the engine's time_comparison metric
            tc = self._time_comparison_metric(mname, props)
            if tc is not None:
                metrics.append(tc)
                continue
            mtype = props.get("aggregate_type", "count")
            agg = _AGGS.get(mtype)
            inner = resolve(props.get("sql"))
            complete_sql = None
            if agg is None:
                # Omni long-tail aggregates (ref adapters/omni.py:
                # 384-440 leaves these agg-less with metadata; this
                # engine can execute them): percentile -> continuous
                # quantile; *_distinct_on -> fan-out-safe keyed-distinct
                # aggregates over custom_primary_key_sql; list ->
                # sorted collect_set join
                key = resolve(props.get("custom_primary_key_sql"))
                if mtype == "percentile" and inner:
                    # explicit None check: percentile: 0 (the minimum)
                    # is falsy and must not coerce to the median
                    pct = props.get("percentile")
                    frac = float(50 if pct is None else pct) / 100.0
                    complete_sql = (
                        _distinct_quantile_sql(inner, key, frac)
                        if key else f"PERCENTILE({inner}, {frac})"
                    )
                elif mtype in ("sum_distinct_on", "average_distinct_on") and inner and key:
                    complete_sql = _keyed_distinct_agg_sql(
                        "sum_distinct" if mtype.startswith("sum") else "avg_distinct",
                        inner, key,
                    )
                elif mtype == "median_distinct_on" and inner and key:
                    complete_sql = _distinct_quantile_sql(inner, key, 0.5)
                elif mtype == "count_distinct_on" and key:
                    agg, inner = "count_distinct", key
                elif mtype == "list" and inner:
                    complete_sql = (
                        "array_join(sort_array(collect_set("
                        f"CAST({inner} AS STRING))), ', ')"
                    )
                else:
                    continue  # untranslatable (no sql/key to build from)
            filters = []
            for ffield, fprops in (props.get("filters") or {}).items():
                if not isinstance(fprops, dict):
                    continue
                if "is" in fprops:
                    v = fprops["is"]
                    lit = v if isinstance(v, (int, float)) else f"'{v}'"
                    filters.append(f"{name}.{ffield} = {lit}")
                elif "is_not" in fprops:
                    v = fprops["is_not"]
                    lit = v if isinstance(v, (int, float)) else f"'{v}'"
                    filters.append(f"{name}.{ffield} != {lit}")
            meta = {
                k: props[k]
                for k in ("aggregate_type", "percentile",
                          "custom_primary_key_sql")
                if props.get(k) is not None
            } if complete_sql is not None else None
            msyn = props.get("synonyms")
            metrics.append(
                Metric(
                    name=mname,
                    agg=agg if complete_sql is None else None,
                    sql=complete_sql if complete_sql is not None else inner,
                    sql_is_complete=complete_sql is not None,
                    filters=filters,
                    description=props.get("description"),
                    label=props.get("label"),
                    synonyms=[str(s) for s in msyn] if isinstance(msyn, list) else [],
                    meta=meta,
                )
            )

        return Model(
            name=name,
            table=f"{schema}.{table}" if schema else table,
            primary_key=(pk[0] if len(pk) == 1 else pk) if pk else "id",
            dimensions=dims,
            metrics=metrics,
            description=(data.get("description") or "").strip() or None,
        )

    _TC_SUFFIXES = (
        "_yoy", "_mom", "_wow", "_dod", "_qoq",
        "_same_time_two_years_previously", "_same_time_one_year_previously",
        "_same_time_last_month", "_same_time_last_week",
        "_previous_period", "_prior_period",
    )

    def _time_comparison_metric(self, mname: str, props: dict):
        """Omni offset-measure pattern -> time_comparison Metric
        (ref adapters/omni.py:350-380,478-540): the offset unit picks
        yoy/mom/wow/dod/qoq, the known name suffixes locate the base
        measure, and Omni's default calculation is the difference."""
        for conditions in (props.get("filters") or {}).values():
            if not isinstance(conditions, dict):
                continue
            offset = conditions.get("date_offset_from_query")
            if offset is None or conditions.get("cancel_query_filter") is not True:
                continue
            low = str(offset).lower()
            comparison = next(
                (c for u, c in (("year", "yoy"), ("quarter", "qoq"),
                                ("month", "mom"), ("week", "wow"),
                                ("day", "dod")) if u in low),
                "prior_period",
            )
            base = mname
            for suffix in self._TC_SUFFIXES:
                if base.endswith(suffix):
                    base = base[: -len(suffix)]
                    break
            return Metric(
                name=mname,
                type="time_comparison",
                base_metric=base,
                comparison_type=comparison,
                time_offset=str(offset),
                calculation="difference",
                label=props.get("label"),
                description=props.get("description"),
            )
        return None

    def _parse_relationships(self, layer, rels: list) -> None:
        for rl in rels or []:
            if not isinstance(rl, dict):
                continue
            src = rl.get("join_from_view")
            dst = rl.get("join_to_view")
            on_sql = rl.get("on_sql") or ""
            if not (src and dst) or src not in layer.graph.models:
                continue
            if dst not in layer.graph.models:
                continue
            left = layer.graph.get_model(src)
            if any(r.name == dst for r in left.relationships):
                continue
            m = re.fullmatch(
                r"\s*\$\{(\w+)\.(\w+)\}\s*=\s*\$\{(\w+)\.(\w+)\}\s*",
                " ".join(on_sql.split()),
            )
            rtype_str = rl.get("relationship_type", "many_to_one")
            # ``assumed_many_to_one`` is Omni's auto-inferred variant
            # (ref adapters/omni.py:577-584); join_type/reversible are
            # Omni join metadata with no first-class field (ref :602-609)
            rtype = _REL_TYPES.get(rtype_str, "many_to_one")
            meta: dict = {}
            if rl.get("join_type") is not None:
                meta["join_type"] = rl["join_type"]
            if rl.get("reversible") is not None:
                meta["reversible"] = rl["reversible"]
            if rtype_str == "assumed_many_to_one":
                meta["assumed"] = True
            # engine-idiomatic: always_left/inner/full_outer drive the
            # generator's join-type override directly
            jt = _JOIN_TYPES.get(str(rl.get("join_type") or "").lower())
            if m:
                av, ac, bv, bc = m.groups()
                if av == dst:  # orient: left side of ON is the from-view
                    av, ac, bv, bc = bv, bc, av, ac
                if rtype == "one_to_many":
                    rel = Relationship(
                        name=dst, type="one_to_many", foreign_key=bc,
                        primary_key=ac, join_type=jt, meta=meta or None,
                    )
                else:
                    rel = Relationship(
                        name=dst, type=rtype, foreign_key=ac, primary_key=bc,
                        join_type=jt, meta=meta or None,
                    )
            else:
                custom = re.sub(r"\$\{" + re.escape(src) + r"\.(\w+)\}", r"{from}.\1", on_sql)
                custom = re.sub(r"\$\{" + re.escape(dst) + r"\.(\w+)\}", r"{to}.\1", custom)
                rel = Relationship(name=dst, type=rtype, sql=" ".join(custom.split()),
                                   join_type=jt, meta=meta or None)
            left.relationships.append(rel)
            layer.graph._invalidate()


# ----------------------------------------------------------------------
# export (reference adapters/omni.py export contract)
# ----------------------------------------------------------------------

_DIM_TYPES_OUT = inverse(_DIM_TYPES)
_AGGS_OUT = inverse(_AGGS)

_EQ_FILTER_RE = re.compile(
    r"^(\w+)\.(\w+)\s*(=|!=)\s*(?:'([^']*)'|(-?\d+(?:\.\d+)?))$"
)


def export_omni(graph) -> list:
    """Graph -> Omni docs: one view dict per model plus a relationships
    list (the shape ``OmniAdapter.parse`` accepts). Measure filters of
    the ``model.field = literal`` shape map to Omni filter props."""
    docs: list = []
    rels: list = []
    for model in graph.models.values():
        doc: dict = {"name": model.name}
        table = model.table or model.name
        if "." in table:
            schema, phys = table.rsplit(".", 1)
            doc["schema"] = schema
            doc["table_name"] = phys
        else:
            doc["table_name"] = table
        pk = set(model.pk_list())
        dims: dict = {}
        covered = set()
        for d in model.dimensions:
            props: dict = {"type": _DIM_TYPES_OUT.get(d.type, "string")}
            if d.sql and d.sql != d.name:
                props["sql"] = (
                    "${TABLE}." + d.sql if re.fullmatch(r"\w+", d.sql) else d.sql
                )
                covered.add(d.sql)
            if d.name in pk or (d.sql in pk if d.sql else False):
                props["primary_key"] = True
            if d.label:
                props["label"] = d.label
            if d.description:
                props["description"] = d.description
            if not d.public:
                props["hidden"] = True
            dims[d.name] = props
            covered.add(d.name)
        for col in sorted(pk - covered):
            dims[col] = {"type": "number", "primary_key": True, "hidden": True}
        if dims:
            doc["dimensions"] = dims
        measures: dict = {}
        for m in model.metrics:
            agg = _AGGS_OUT.get(m.agg) if m.is_simple else None
            if agg is None:
                continue
            props = {"aggregate_type": agg}
            if m.sql:
                props["sql"] = (
                    "${TABLE}." + m.sql if re.fullmatch(r"\w+", m.sql) else m.sql
                )
            filters: dict = {}
            ok = True
            for f in m.filters:
                fm = _EQ_FILTER_RE.match(f.strip())
                if not fm or fm.group(1) != model.name:
                    ok = False
                    break
                val = fm.group(4) if fm.group(4) is not None else (
                    float(fm.group(5)) if "." in fm.group(5) else int(fm.group(5))
                )
                filters[fm.group(2)] = (
                    {"is": val} if fm.group(3) == "=" else {"is_not": val}
                )
            if not ok:
                continue  # unrepresentable filter: skip the measure
            if filters:
                props["filters"] = filters
            if m.label:
                props["label"] = m.label
            if m.description:
                props["description"] = m.description
            measures[m.name] = props
        if measures:
            doc["measures"] = measures
        if model.description:
            doc["description"] = model.description
        docs.append(doc)
    from sidemantic_spark.adapters.base import m2o_edges

    for owner, tgt, fks, pks, rtype, _jt in m2o_edges(graph):
        if len(fks) != 1:
            continue  # omni on_sql regex is single-column
        rd = {
            "join_from_view": owner,
            "join_to_view": tgt,
            "on_sql": f"${{{owner}.{fks[0]}}} = ${{{tgt}.{pks[0]}}}",
            "relationship_type": rtype,
        }
        # round-trip Omni join metadata (join_type/reversible) preserved
        # on import (ref adapters/omni.py:602-609, :948-954)
        for mname, other in ((owner, tgt), (tgt, owner)):
            mdl = graph.models.get(mname)
            rel = next(
                (r for r in (mdl.relationships if mdl else []) if r.name == other),
                None,
            )
            if rel is not None and rel.meta:
                if rel.meta.get("assumed"):
                    rd["relationship_type"] = "assumed_many_to_one"
                for k in ("join_type", "reversible"):
                    if rel.meta.get(k) is not None:
                        rd[k] = rel.meta[k]
                break
        rels.append(rd)
    if rels:
        docs.append(rels)
    return docs
