"""AtScale SML (Semantic Modeling Language) importer.

Re-expression of the reference's AtScale adapter
(``adapters/atscale_sml.py``): SML is a multi-file YAML catalog where
each file carries an ``object_type`` — ``dataset`` (physical table +
columns), ``dimension`` (hierarchies/levels, possibly level-embedded
metrics), ``metric`` (calculation_method over a dataset column), and
``model`` (relationships binding fact datasets to dimension levels,
plus ``aggregates`` which map to our pre-aggregation specs).
``parse_file`` accepts a directory (whole catalog) or a single file.
"""

from __future__ import annotations

import os

import yaml

from sidemantic_spark.adapters.base import BaseAdapter, inverse
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

# AtScale calculation_method / data_type -> ours; exports use the first listed
_CALC_MAP = {
    "sum": "sum",
    "count": "count",
    "count distinct": "count_distinct",
    "count-distinct": "count_distinct",
    "count_distinct": "count_distinct",
    "count nonnull": "count",
    "count non-null": "count",
    "count non null": "count",
    "average": "avg",
    "avg": "avg",
    "min": "min",
    "minimum": "min",
    "max": "max",
    "maximum": "max",
    "median": "median",
    "stddev": "stddev",
    "stddev_samp": "stddev",
    "stddev_pop": "stddev_pop",
    "var_samp": "variance",
    "var_pop": "variance_pop",
    "percentile": "median",
}

# SQL keywords/literals/type names that may appear in a metric_calc
# expression without being metric references
_SQL_WORDS = {
    "and", "or", "not", "case", "when", "then", "else", "end", "null",
    "true", "false", "is", "in", "like", "between", "as", "cast",
    "double", "float", "int", "integer", "bigint", "decimal", "numeric",
    "string", "varchar", "boolean", "date", "timestamp", "interval",
    "distinct", "over", "partition", "by", "order",
}

_DTYPE_MAP = {
    "double": "numeric", "int": "numeric", "bigint": "numeric",
    "integer": "numeric", "float": "numeric",
    "datetime": "time", "date": "time", "timestamp": "time",
    "boolean": "boolean", "bool": "boolean",
}

# AtScale level time_unit -> engine granularity (ref atscale_sml.py:22-32)
_TIME_UNIT_MAP = {
    "year": "year", "halfyear": "quarter", "trimester": "quarter",
    "quarter": "quarter", "month": "month", "week": "week", "day": "day",
    "hour": "hour", "minute": "minute", "second": "second",
}


class AtScaleAdapter(BaseAdapter):
    def parse_file(self, layer, path: str) -> None:
        docs: list[dict] = []
        if os.path.isdir(path):
            for f in sorted(os.listdir(path)):
                if f.endswith((".yml", ".yaml")):
                    with open(os.path.join(path, f)) as fh:
                        docs.extend(d for d in yaml.safe_load_all(fh) if d)
        else:
            with open(path) as fh:
                docs.extend(d for d in yaml.safe_load_all(fh) if d)
        self.parse_docs(layer, docs)

    def parse(self, layer, data: dict) -> None:
        self.parse_docs(layer, [data])

    def parse_docs(self, layer, docs: list[dict]) -> None:
        datasets = {d["unique_name"]: d for d in docs if d.get("object_type") == "dataset"}
        dimensions = {d["unique_name"]: d for d in docs if d.get("object_type") == "dimension"}
        metrics = [d for d in docs if d.get("object_type") in ("metric", "metric_calc")]
        models = [d for d in docs if d.get("object_type") == "model"]

        # dimension unique_name -> (dataset, level columns) via hierarchies
        dim_datasets: dict[str, str] = {}
        dim_levels: dict[str, list[str]] = {}
        level_metrics: dict[str, list[dict]] = {}
        for dname, dim in dimensions.items():
            levels: list[str] = []
            for h in dim.get("hierarchies") or []:
                for lvl in h.get("levels") or []:
                    lname = lvl.get("unique_name")
                    if lname:
                        levels.append(lname)
                    for lm in lvl.get("metrics") or []:
                        ds = lm.get("dataset")
                        if ds:
                            dim_datasets.setdefault(dname, ds)
                            level_metrics.setdefault(ds, []).append(lm)
            # level_attributes may also name the dataset
            for la in dim.get("level_attributes") or []:
                ds = la.get("dataset")
                if ds:
                    dim_datasets.setdefault(dname, ds)
            dim_levels[dname] = levels

        # dimension-object level attributes refine dataset columns:
        # name_column / key_columns[0] give the SQL, time_unit makes it
        # a time dimension at that granularity (ref adapters/
        # atscale_sml.py:545-611)
        attr_dims: dict[str, list[Dimension]] = {}
        for dname, dim in dimensions.items():
            is_time_dim = str(dim.get("type", "")).lower() == "time"
            for attr in dim.get("level_attributes") or []:
                targets = [(attr.get("dataset"), attr)]
                for shared in attr.get("shared_degenerate_columns") or []:
                    if shared.get("dataset"):
                        targets.append((shared["dataset"], shared))
                for ds_name, src in targets:
                    if not ds_name:
                        continue
                    aname = attr.get("unique_name") or attr.get("name")
                    if not aname:
                        continue
                    sql = src.get("name_column")
                    if not sql:
                        kc = src.get("key_columns") or attr.get("key_columns") or []
                        sql = kc[0] if kc else None
                    sql = sql or aname
                    tu = str(attr.get("time_unit") or "").lower()
                    dtype = "time" if (is_time_dim or tu) else None
                    attr_dims.setdefault(ds_name, []).append(Dimension(
                        name=aname,
                        sql=None if sql == aname else sql,
                        type=dtype or "categorical",
                        granularity=_TIME_UNIT_MAP.get(tu) if dtype == "time" else None,
                        label=attr.get("label") or dim.get("label"),
                        description=attr.get("description"),
                    ))

        # build one Model per dataset
        for ds_name, ds in datasets.items():
            dims = []
            for col in ds.get("columns") or []:
                cname = col.get("name")
                if not cname:
                    continue
                dt = str(col.get("data_type") or "string").lower().split("(")[0]
                dims.append(Dimension(name=cname, type=_DTYPE_MAP.get(dt, "categorical")))
            # dimension-attribute refinements override same-named /
            # same-column dims and add attribute-named ones
            for ad in attr_dims.get(ds_name, []):
                existing = next(
                    (i for i, d in enumerate(dims)
                     if d.name == ad.name or (ad.sql and d.name == ad.sql)),
                    None,
                )
                if existing is not None and dims[existing].name == ad.name:
                    dims[existing] = ad
                elif all(d.name != ad.name for d in dims):
                    dims.append(ad)
            mets = []
            for lm in level_metrics.get(ds_name, []):
                agg = _CALC_MAP.get(str(lm.get("calculation_method", "")).lower())
                if agg and lm.get("unique_name"):
                    mets.append(Metric(
                        name=lm["unique_name"], agg=agg,
                        sql=lm.get("column") if agg != "count" else lm.get("column"),
                        label=lm.get("label"),
                    ))
            pk = "id"
            for col in ds.get("columns") or []:
                n = col.get("name", "")
                if n in ("id", f"{ds_name}_id") or n == f"{ds_name.replace('dim_', '').replace('fact_', '')}_id":
                    pk = n
                    break
            try:
                layer.add_model(Model(
                    name=ds_name, table=ds.get("table") or ds_name,
                    primary_key=pk, dimensions=dims, metrics=mets,
                    description=ds.get("label"),
                ))
            except Exception:
                pass

        # metrics attach to their dataset's model; a metric_calc may
        # omit `dataset:` (SML calcs are cube-level) — bind it to the
        # model defining every metric its expression references.
        # Unresolvable calcs are deferred on the instance and retried
        # after each file (the defining metric may parse later).
        pending = getattr(self, "_pending_calcs", [])
        self._pending_calcs = []
        for met in metrics + pending:
            ds_name = met.get("dataset")
            if not ds_name and met.get("object_type") == "metric_calc":
                import re as _re

                expr = met.get("expression") or ""
                refs = set(_re.findall(r"[A-Za-z_]\w*", expr))
                # identifiers in call position are SQL functions
                # (SAFE_DIVIDE, COALESCE, IF, ...), and SQL keywords /
                # literals are not metric refs — requiring EVERY token
                # to be a metric name would defer common calc shapes
                # (CASE WHEN, function calls) forever and drop them
                funcs = set(_re.findall(r"([A-Za-z_]\w*)\s*\(", expr))
                metric_refs = {
                    r for r in refs
                    if r not in funcs and r.lower() not in _SQL_WORDS
                }
                for cand in layer.graph.models.values():
                    names = {mm.name for mm in cand.metrics}
                    if metric_refs and metric_refs <= names:
                        ds_name = cand.name
                        break
                if ds_name is None:
                    self._pending_calcs.append(met)
                    continue
            if not ds_name or ds_name not in layer.graph.models:
                continue
            model = layer.graph.models[ds_name]
            if met.get("object_type") == "metric_calc":
                model.add_metric(Metric(
                    name=met["unique_name"], type="derived",
                    expr=met.get("expression"), label=met.get("label"),
                ))
                continue
            method = str(met.get("calculation_method", "")).lower()
            if method == "percentile" and met.get("custom_quantiles"):
                # exact ordered-set aggregate at the declared quantile
                # (the bare "percentile" method maps to median)
                q = float(met["custom_quantiles"][0])
                model.add_metric(Metric(
                    name=met["unique_name"],
                    sql=(f"PERCENTILE_CONT({q}) WITHIN GROUP "
                         f"(ORDER BY {met.get('column')})"),
                    sql_is_complete=True,
                    label=met.get("label"),
                ))
                continue
            if method in ("sum distinct", "sum-distinct",
                          "average distinct", "avg distinct"):
                # value-level DISTINCT dedup — NOT the same as the
                # generator's pk-row fan-out dedup (rows [10,10,20] sum
                # to 30 here, 40 under row-dedup), so import as an
                # opaque complete-SQL aggregate preserving the value
                # semantics
                fn = "SUM" if method.startswith("sum") else "AVG"
                model.add_metric(Metric(
                    name=met["unique_name"],
                    sql=f"{fn}(DISTINCT {met.get('column')})",
                    sql_is_complete=True,
                    label=met.get("label"),
                ))
                continue
            agg = _CALC_MAP.get(method)
            if not agg:
                continue
            model.add_metric(Metric(
                name=met["unique_name"], agg=agg,
                sql=met.get("column") if not (agg == "count" and not met.get("column")) else None,
                label=met.get("label"),
            ))

        # model files: relationships fact-dataset -> dimension's dataset
        for mdl in models:
            for rel in mdl.get("relationships") or []:
                frm = rel.get("from") or {}
                to = rel.get("to") or {}
                fact_ds = frm.get("dataset")
                join_cols = frm.get("join_columns") or []
                target_dim = to.get("dimension")
                level = to.get("level")
                if not fact_ds or not join_cols or fact_ds not in layer.graph.models:
                    continue
                target_ds = dim_datasets.get(target_dim)
                if target_ds is None:
                    # dimension with no dataset binding (e.g. a pure date
                    # dimension): skip the edge, keep the fact columns
                    continue
                if target_ds not in layer.graph.models or target_ds == fact_ds:
                    continue  # degenerate dimension on the fact itself
                fact = layer.graph.models[fact_ds]
                fk_val = join_cols if len(join_cols) > 1 else join_cols[0]
                if any(r.name == target_ds and r.foreign_key == fk_val
                       for r in fact.relationships):
                    continue
                fact.relationships.append(Relationship(
                    name=target_ds, type="many_to_one",
                    foreign_key=fk_val,
                    primary_key=level,
                ))
                layer.graph._invalidate()
            # aggregates -> pre-aggregation specs
            for agg_def in mdl.get("aggregates") or []:
                target = None
                agg_metric_names = [
                    mn.get("unique_name") if isinstance(mn, dict) else mn
                    for mn in (agg_def.get("metrics") or [])
                ]
                agg_metric_names = [mn for mn in agg_metric_names if mn]
                for met_name in agg_metric_names:
                    for ds_name, m in layer.graph.models.items():
                        if m.metric(met_name) is not None:
                            target = ds_name
                            break
                    if target:
                        break
                if not target:
                    continue
                try:
                    from sidemantic_spark.preagg.matcher import PreAggregation

                    layer.graph.models[target].pre_aggregations.append(PreAggregation(
                        name=agg_def.get("unique_name", "rollup"),
                        measures=agg_metric_names,
                        dimensions=[a.get("name") for a in agg_def.get("attributes") or []
                                    if isinstance(a, dict) and a.get("name")],
                    ))
                except Exception:
                    pass


# ----------------------------------------------------------------------
# export (reference adapters/atscale_sml.py export contract)
# ----------------------------------------------------------------------

_CALC_OUT = inverse(_CALC_MAP)
_DTYPE_OUT = inverse(_DTYPE_MAP)


def export_atscale(graph) -> list[dict]:
    """Graph -> AtScale SML catalog docs: one ``dataset`` per model
    (columns from dimensions), ``metric``/``metric_calc`` docs, per-edge
    ``dimension`` docs binding the target dataset, and one ``model`` doc
    carrying the relationships."""
    from sidemantic_spark.adapters.base import m2o_edges

    docs: list[dict] = []
    for model in graph.models.values():
        cols = []
        seen = set()
        for d in model.dimensions:
            cname = d.sql if (d.sql and __import__("re").fullmatch(r"\w+", d.sql)) else d.name
            if cname in seen:
                continue
            seen.add(cname)
            cols.append({"name": cname, "data_type": _DTYPE_OUT.get(d.type, "string")})
        for c in model.pk_list():
            if c not in seen and __import__("re").fullmatch(r"\w+", c):
                seen.add(c)
                cols.append({"name": c, "data_type": "bigint"})
        docs.append({
            "object_type": "dataset",
            "unique_name": model.name,
            "table": model.table or model.name,
            "columns": cols,
            **({"label": model.description} if model.description else {}),
        })
        for m in model.metrics:
            if m.is_simple and m.agg in _CALC_OUT:
                docs.append({
                    "object_type": "metric",
                    "unique_name": m.name,
                    "dataset": model.name,
                    "calculation_method": _CALC_OUT[m.agg],
                    **({"column": m.sql} if m.sql else {}),
                    **({"label": m.label} if m.label else {}),
                })
            elif m.type == "derived" and m.expr:
                docs.append({
                    "object_type": "metric_calc",
                    "unique_name": m.name,
                    "dataset": model.name,
                    "expression": m.expr,
                    **({"label": m.label} if m.label else {}),
                })
    relationships = []
    for owner, tgt, fks, pks, _rtype, _jt in m2o_edges(graph):
        dim_name = f"Dim_{tgt}"
        if not any(d.get("object_type") == "dimension" and d.get("unique_name") == dim_name
                   for d in docs):
            docs.append({
                "object_type": "dimension",
                "unique_name": dim_name,
                "hierarchies": [{"unique_name": f"{tgt}_h",
                                 "levels": [{"unique_name": pks[0]}]}],
                "level_attributes": [{"dataset": tgt}],
            })
        relationships.append({
            "from": {"dataset": owner, "join_columns": fks},
            "to": {"dimension": dim_name, "level": pks[0]},
        })
    # pre-aggregation specs ride on the model doc as aggregates
    aggregates = []
    for model in graph.models.values():
        for pa in model.pre_aggregations:
            aggregates.append({
                "unique_name": pa.name,
                "metrics": list(pa.measures),
                "attributes": [{"name": d} for d in pa.dimensions],
            })
    docs.append({
        "object_type": "model",
        "unique_name": "model",
        "relationships": relationships,
        **({"aggregates": aggregates} if aggregates else {}),
    })
    return docs
