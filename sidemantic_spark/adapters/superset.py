"""Apache Superset dataset importer.

Maps Superset dataset export YAML (reference ``adapters/superset.py``;
public format: superset import/export datasets) onto one Model:
``catalog``/``schema``/``table_name`` -> qualified binding (``sql``
for virtual datasets), ``columns`` -> dimensions (``is_dttm`` or the
``main_dttm_col`` -> time with DATE->day / else hour granularity),
``metrics`` -> Metric via the declared ``metric_type`` else aggregate
auto-extraction of the SQL expression; non-extractable expressions
become derived metrics. Display/format keys with no first-class
equivalent (``d3format``, ``currency``, ``warning_text``,
``advanced_data_type``, ``python_date_format``, ``folders``,
``extra.currency_code_column``) ride under a ``superset`` meta
namespace (ref ``adapters/superset.py:26-36``).
"""

from __future__ import annotations

import json

from sidemantic_spark.adapters.base import BaseAdapter, split_simple_aggregate, sql_metric
from sidemantic_spark.core.model import Dimension, Metric, Model

_METRIC_TYPES = {"count": "count", "count_distinct": "count_distinct",
                 "sum": "sum", "avg": "avg", "min": "min", "max": "max"}


def _meta_of(obj: dict, keys: tuple[str, ...]) -> dict | None:
    extra = {k: obj[k] for k in keys if obj.get(k) is not None}
    return {"superset": extra} if extra else None


class SupersetAdapter(BaseAdapter):
    def parse(self, layer, data: dict) -> None:
        name = data.get("table_name")
        if not name or ("metrics" not in data and "columns" not in data):
            return

        main_dttm = data.get("main_dttm_col")
        dims: list[Dimension] = []
        pk = "id"
        for c in data.get("columns") or []:
            cname = c.get("column_name")
            if not cname:
                continue
            ctype = (c.get("type") or "").upper()
            grain = None
            if c.get("is_dttm") or cname == main_dttm:
                dtype = "time"
                grain = "day" if ("DATE" in ctype and "TIME" not in ctype) \
                    else "hour"
            elif any(t in ctype for t in ("INT", "FLOAT", "DOUBLE", "DECIMAL", "NUMERIC")):
                dtype = "numeric"
            elif "BOOL" in ctype:
                dtype = "boolean"
            else:
                dtype = "categorical"
            if cname == "id":
                pk = cname
            expr = c.get("expression")
            dims.append(Dimension(
                name=cname,
                type=dtype,
                granularity=grain,
                sql=expr if expr else None,
                label=c.get("verbose_name"),
                description=c.get("description"),
                meta=_meta_of(c, ("advanced_data_type", "python_date_format",
                                  "datetime_format")),
            ))
        if main_dttm and not any(d.name == main_dttm for d in dims):
            dims.append(Dimension(name=main_dttm, type="time"))

        metrics: list[Metric] = []
        for m in data.get("metrics") or []:
            mname = m.get("metric_name")
            expr = m.get("expression")
            if not mname or not expr:
                continue
            common = dict(
                label=m.get("verbose_name"),
                description=m.get("description"),
                format=m.get("d3format"),
                meta=_meta_of(m, ("d3format", "currency", "warning_text")),
            )
            agg = _METRIC_TYPES.get(str(m.get("metric_type") or "").lower())
            if agg:
                # the expression is the source of truth: a single outer
                # aggregate splits into agg + inner (this also handles the
                # COUNT(DISTINCT x) spelling of count_distinct)
                split = split_simple_aggregate(expr)
                if split is not None:
                    s_agg, inner = split
                    metrics.append(Metric(
                        name=mname, agg=s_agg,
                        sql=None if inner in ("*", "") else inner, **common))
                elif "(" not in expr:
                    # bare column with a declared aggregation type
                    metrics.append(Metric(name=mname, agg=agg, sql=expr, **common))
                else:
                    # complex aggregate expression: emit verbatim into the
                    # aggregate scope rather than nesting it under agg
                    metrics.append(Metric(name=mname, sql=expr,
                                          sql_is_complete=True, **common))
                continue
            metrics.append(sql_metric(mname, expr, **common))

        # dataset-level metadata: catalog qualifier, folders, and the
        # extra.currency_code_column key (extra serializes as JSON)
        superset_meta: dict = {}
        if data.get("catalog") is not None:
            superset_meta["catalog"] = data["catalog"]
        if data.get("folders") is not None:
            superset_meta["folders"] = data["folders"]
        extra = data.get("extra")
        if isinstance(extra, str):
            try:
                extra = json.loads(extra)
            except (TypeError, ValueError):
                extra = None
        ccc = data.get("currency_code_column")
        if ccc is None and isinstance(extra, dict):
            ccc = extra.get("currency_code_column")
        if ccc is not None:
            superset_meta["currency_code_column"] = ccc

        table_parts = [p for p in (data.get("catalog"), data.get("schema"),
                                   name) if p]
        layer.add_model(Model(
            name=name,
            table=".".join(table_parts) if not data.get("sql") else None,
            sql=data.get("sql"),
            primary_key=pk,
            dimensions=dims,
            metrics=metrics,
            default_time_dimension=main_dttm if main_dttm else None,
            description=data.get("description"),
            meta={"superset": superset_meta} if superset_meta else None,
        ))


# ----------------------------------------------------------------------
# export (reference adapters/superset.py export contract)
# ----------------------------------------------------------------------

_TYPE_OUT = {"numeric": "DOUBLE", "boolean": "BOOLEAN",
             "time": "TIMESTAMP", "categorical": "TEXT"}


def export_superset(graph) -> list[dict]:
    """Graph -> one Superset dataset-export doc per model. The dataset
    name doubles as the table binding (Superset identifies datasets by
    table_name), so models whose name differs from their table keep the
    model name and re-import bound to it."""
    from sidemantic_spark.adapters.base import simple_agg_sql

    docs = []
    for model in graph.models.values():
        doc: dict = {"table_name": model.name}
        if model.sql:
            doc["sql"] = model.sql
        time_dims = [d for d in model.dimensions if d.type == "time"]
        main_dttm = model.default_time_dimension or (
            time_dims[0].name if time_dims else None
        )
        if main_dttm:
            doc["main_dttm_col"] = main_dttm
        cols = []
        for d in model.dimensions:
            out = {"column_name": d.name,
                   "type": _TYPE_OUT.get(d.type, "TEXT")}
            if d.type == "time":
                out["is_dttm"] = True
            if d.sql and d.sql != d.name:
                out["expression"] = d.sql
            if d.label:
                out["verbose_name"] = d.label
            if d.description:
                out["description"] = d.description
            cols.append(out)
        if cols:
            doc["columns"] = cols
        mets = []
        for m in model.metrics:
            expr = simple_agg_sql(m) if m.is_simple else (
                m.expr if m.type == "derived" else None
            )
            if expr is None:
                continue
            out = {"metric_name": m.name, "expression": expr}
            if m.label:
                out["verbose_name"] = m.label
            if m.description:
                out["description"] = m.description
            mets.append(out)
        if mets:
            doc["metrics"] = mets
        if model.description:
            doc["description"] = model.description
        docs.append(doc)
    return docs
