"""Snowflake Cortex Analyst semantic-model YAML importer.

Re-expression of the reference's Snowflake adapter
(``adapters/snowflake.py:85``; public spec docs.snowflake.com
semantic-view-yaml-spec):

- ``tables`` -> models (``base_table`` database/schema/table -> 3-part
  physical binding, ``primary_key.columns`` -> composite PK)
- ``dimensions`` / ``time_dimensions`` -> typed dimensions with
  ``synonyms``; ``sample_values`` / ``cortex_search_service`` /
  ``is_enum`` / ``unique`` / ``labels`` / ``tags`` retained under a
  ``snowflake`` metadata namespace; ``access_modifier:
  private_access`` -> non-public (ref ``:486-494``)
- ``facts`` (and the legacy ``measures`` alias) -> metrics with
  ``default_aggregation`` (default sum)
- table-scoped ``metrics`` carry full aggregate SQL: a single outer
  aggregate splits into agg + inner expr; anything else becomes an
  opaque complete-SQL measure (the engine qualifies bare columns into
  the model scope — the reference instead rewrites them onto a
  ``{model}`` placeholder, ref ``:418-466``)
- top-level ``metrics`` attach to their ``table:`` when named, else
  register graph-level (``model.field`` refs left untouched); metrics
  for tables in later files resolve after all docs parse
- top-level ``relationships`` -> edges on the left table
  (``relationship_columns`` composite, ``join_type`` mapped)
- ``filters`` -> segments with bare columns qualified to ``{model}``
- top-level ``verified_queries`` / ``custom_instructions`` /
  ``module_custom_instructions`` accumulate under
  ``graph.metadata["snowflake"]`` (ref ``:537-576``)
"""

from __future__ import annotations

import re
import warnings

from sidemantic_spark.adapters.base import AGG_TYPES, BaseAdapter, inverse, split_simple_aggregate
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship, Segment
from sidemantic_spark.sql.fragments import sub_code

_BARE_COL_RE = re.compile(r"(?<![\w.'{])([A-Za-z_][A-Za-z0-9_]*)(?![\w.(}])(?!\s*\()")
_SQL_WORDS = {
    "case", "when", "then", "else", "end", "and", "or", "not", "null",
    "nullif", "coalesce", "cast", "as", "is", "in", "like", "ilike",
    "rlike", "regexp", "between", "exists", "any", "all", "some",
    "escape", "true", "false", "int", "bigint", "double", "decimal",
    "distinct", "interval", "date", "timestamp",
    # niladic current-time functions appear without parens
    "current_date", "current_timestamp", "current_time", "localtimestamp",
}


def _qualify_model_placeholder(expr: str) -> str:
    """Bare column refs -> ``{model}.col`` (Cortex filter expressions use
    bare names; our Segment contract resolves ``{model}`` to the model
    alias — ref ``adapters/snowflake.py:20-39``)."""
    return sub_code(expr or "", lambda seg: _BARE_COL_RE.sub(
        lambda m: m.group(1) if m.group(1).lower() in _SQL_WORDS
        else "{model}." + m.group(1), seg))


class SnowflakeAdapter(BaseAdapter):
    def parse(self, layer, data: dict) -> None:
        tables = data.get("tables") or []
        for tbl in tables:
            model = self._parse_table(tbl)
            if model is not None:
                try:
                    layer.add_model(model)
                except Exception:
                    pass

        for rel in data.get("relationships") or []:
            self._apply_relationship(layer, rel)

        # top-level metrics: table-scoped attach to their table (now or
        # once a later doc defines it), unscoped register graph-level
        pending = layer.graph.metadata.setdefault("snowflake_pending_metrics", [])
        for mdef in data.get("metrics") or []:
            table_name = mdef.get("table")
            metric = self._parse_scoped_metric(mdef, scoped=bool(table_name))
            if metric is None:
                continue
            if table_name:
                pending.append((table_name, metric))
            elif metric.name not in layer.graph.metrics:
                layer.graph.add_metric(metric)
        still = []
        attached = False
        for table_name, metric in pending:
            model = layer.graph.models.get(table_name)
            if model is None:
                still.append((table_name, metric))
            elif model.metric(metric.name) is None:
                model.metrics.append(metric)
                model.reindex()
                attached = True
        pending[:] = still
        if attached:
            layer.graph._invalidate()

        self._apply_top_level_sections(layer, data)

    # ------------------------------------------------------------------

    def _apply_relationship(self, layer, rel: dict) -> None:
        left = rel.get("left_table")
        right = rel.get("right_table")
        cols = rel.get("relationship_columns") or []
        if not (left and right and cols):
            return
        model = layer.graph.models.get(left)
        if model is None:
            return
        fks = [c.get("left_column") for c in cols if c.get("left_column")]
        pks = [c.get("right_column") for c in cols if c.get("right_column")]
        if not fks or len(fks) != len(pks):
            return
        rtype = rel.get("relationship_type") or "many_to_one"
        if rtype not in ("many_to_one", "one_to_one", "one_to_many", "many_to_many"):
            rtype = "many_to_one"
        jt = str(rel.get("join_type") or "").lower()
        if any(r.name == right for r in model.relationships):
            return
        model.relationships.append(Relationship(
            name=right, type=rtype,
            foreign_key=fks if len(fks) > 1 else fks[0],
            primary_key=pks if len(pks) > 1 else pks[0],
            join_type={"inner": "inner", "full_outer": "full"}.get(jt),
        ))
        layer.graph._invalidate()

    def _apply_top_level_sections(self, layer, data: dict) -> None:
        meta = layer.graph.metadata.setdefault("snowflake", {})
        vq = data.get("verified_queries") or []
        if vq:
            meta.setdefault("verified_queries", []).extend(vq)
        ci = data.get("custom_instructions")
        if ci is not None:
            meta["custom_instructions"] = ci
        mci = data.get("module_custom_instructions")
        if mci is not None:
            if isinstance(meta.get("module_custom_instructions"), dict) \
                    and isinstance(mci, dict):
                meta["module_custom_instructions"].update(mci)
            else:
                meta["module_custom_instructions"] = mci

    # ------------------------------------------------------------------

    def _parse_table(self, tbl: dict) -> Model | None:
        name = tbl.get("name")
        if not name:
            return None
        base = tbl.get("base_table") or {}
        parts = [base.get("database"), base.get("schema"),
                 base.get("table") or name]
        table = ".".join(p for p in parts if p)

        dims: list[Dimension] = []
        for d in tbl.get("dimensions") or []:
            dim = self._parse_dimension(d, time=False)
            if dim:
                dims.append(dim)
        for td in tbl.get("time_dimensions") or []:
            dim = self._parse_dimension(td, time=True)
            if dim:
                dims.append(dim)

        mets: list[Metric] = []
        # facts = row-level values with a default aggregation; the
        # table-level "measures" key is a legacy alias of "facts"
        for m in (tbl.get("facts") or []) + (tbl.get("measures") or []):
            if not m.get("name"):
                continue
            declared = m.get("default_aggregation") or "sum"
            agg = AGG_TYPES.get(str(declared).lower())
            if agg is None:
                warnings.warn(f"Snowflake fact {m['name']!r}: unknown "
                              f"default_aggregation {declared!r}, skipped",
                              stacklevel=2)
                continue
            mets.append(Metric(
                name=m["name"], agg=agg,
                sql=m.get("expr") or m["name"],
                description=m.get("description"),
                synonyms=list(m.get("synonyms") or []),
                public=_public(m),
                meta=_field_meta(m, ("access_modifier", "is_enum", "labels",
                                     "tags", "non_additive_dimensions")),
            ))
        # table-scoped "metrics" carry full aggregate SQL
        for m in tbl.get("metrics") or []:
            metric = self._parse_scoped_metric(m)
            if metric is not None:
                mets.append(metric)

        segs = []
        for f in tbl.get("filters") or []:
            if f.get("name") and f.get("expr"):
                segs.append(Segment(
                    name=f["name"],
                    sql=_qualify_model_placeholder(f["expr"]),
                    description=f.get("description"),
                ))

        pk_cols = (tbl.get("primary_key") or {}).get("columns") or []
        return Model(
            name=name, table=table,
            primary_key=pk_cols if len(pk_cols) > 1 else (pk_cols[0] if pk_cols else "id"),
            dimensions=dims, metrics=mets, segments=segs,
            description=tbl.get("description"),
        )

    def _parse_dimension(self, d: dict, time: bool) -> Dimension | None:
        if not d.get("name"):
            return None
        if time:
            dtype = "time"
        else:
            dt = str(d.get("data_type") or "text").upper()
            if dt.startswith(("NUMBER", "INT", "FLOAT", "DECIMAL", "NUMERIC",
                              "DOUBLE")):
                dtype = "numeric"
            elif dt.startswith("BOOL"):
                dtype = "boolean"
            elif dt.startswith(("DATE", "TIMESTAMP")):
                dtype = "time"
            else:
                dtype = "categorical"
        sf = {k: d[k] for k in ("unique", "is_enum", "access_modifier",
                                "labels", "tags") if d.get(k) is not None}
        if d.get("sample_values") is not None:
            sf["sample_values"] = [str(v) for v in d["sample_values"]]
        css = d.get("cortex_search_service") or d.get("cortex_search_service_name")
        if css is not None:
            sf["cortex_search_service"] = (
                css.get("service") if isinstance(css, dict) else css)
        return Dimension(
            name=d["name"],
            type=dtype,
            sql=None if d.get("expr") in (None, d["name"]) else d["expr"],
            granularity="day" if dtype == "time" else None,
            description=d.get("description"),
            synonyms=list(d.get("synonyms") or []),
            public=_public(d),
            meta={"snowflake": sf} if sf else None,
        )

    def _parse_scoped_metric(self, m: dict, scoped: bool = True) -> Metric | None:
        """A Cortex ``metrics`` entry: full aggregate SQL over the
        table's columns (ref ``adapters/snowflake.py:418-466``)."""
        if not m.get("name") or not m.get("expr"):
            return None
        common = dict(
            description=m.get("description"),
            synonyms=list(m.get("synonyms") or []),
            public=_public(m),
            meta=_field_meta(m, ("access_modifier", "labels", "tags",
                                 "non_additive_dimensions",
                                 "using_relationships")),
        )
        if scoped:
            simple = split_simple_aggregate(m["expr"])
            if simple is not None:
                agg, inner = simple
                if agg in AGG_TYPES or agg == "count_distinct":
                    return Metric(name=m["name"],
                                  agg=AGG_TYPES.get(agg, agg),
                                  sql=None if inner in ("*", "1", "") else inner,
                                  **common)
            # complex aggregate expression: opaque complete-SQL measure —
            # the generator qualifies bare columns into the model CTE scope
            return Metric(name=m["name"], sql=m["expr"], sql_is_complete=True,
                          **common)
        # graph-level metric: references are already ``model.field``
        # qualified — keep as a derived formula (ref ``:186-196``)
        return Metric(name=m["name"], type="derived", expr=m["expr"], **common)


def _public(definition: dict) -> bool:
    # Snowflake uses access_modifier=private_access for hidden helpers
    return definition.get("access_modifier") != "private_access"


def _field_meta(definition: dict, keys: tuple[str, ...]) -> dict | None:
    extra = {k: definition[k] for k in keys if definition.get(k) is not None}
    return {"snowflake": extra} if extra else None


# ----------------------------------------------------------------------
# export (reference adapters/snowflake.py export contract)
# ----------------------------------------------------------------------

def export_snowflake(graph) -> dict:
    """Graph -> Cortex Analyst semantic-model YAML (dict): tables with
    dimensions/time_dimensions/measures + top-level relationships."""
    agg_out = inverse(AGG_TYPES)
    tables = []
    rels_out = []
    for model in graph.models.values():
        tbl: dict = {"name": model.name}
        table = model.table or model.name
        if "." in table:
            schema, phys = table.rsplit(".", 1)
            if "." in schema:
                db, schema = schema.rsplit(".", 1)
                tbl["base_table"] = {"database": db, "schema": schema, "table": phys}
            else:
                tbl["base_table"] = {"schema": schema, "table": phys}
        else:
            tbl["base_table"] = {"table": table}
        pk = model.pk_list()
        if pk != ["id"]:
            tbl["primary_key"] = {"columns": pk}
        dims, tdims = [], []
        for d in model.dimensions:
            out = {"name": d.name}
            if d.sql and d.sql != d.name:
                out["expr"] = d.sql
            if d.description:
                out["description"] = d.description
            if d.synonyms:
                out["synonyms"] = list(d.synonyms)
            sf = (d.meta or {}).get("snowflake") or {}
            if sf.get("sample_values"):
                out["sample_values"] = list(sf["sample_values"])
            if d.type == "time":
                tdims.append(out)
            else:
                out["data_type"] = {"numeric": "number",
                                    "boolean": "boolean"}.get(d.type, "text")
                dims.append(out)
        if dims:
            tbl["dimensions"] = dims
        if tdims:
            tbl["time_dimensions"] = tdims
        measures = []
        scoped_metrics = []
        for m in model.metrics:
            if m.sql_is_complete and m.sql:
                scoped_metrics.append({
                    "name": m.name, "expr": m.sql,
                    **({"description": m.description} if m.description else {}),
                })
                continue
            if not m.is_simple or m.agg not in agg_out:
                continue
            measures.append({
                "name": m.name,
                "expr": m.sql or m.name,
                "default_aggregation": agg_out[m.agg],
                **({"description": m.description} if m.description else {}),
                **({"synonyms": list(m.synonyms)} if m.synonyms else {}),
            })
        if measures:
            tbl["facts"] = measures
        if scoped_metrics:
            tbl["metrics"] = scoped_metrics
        if model.segments:
            tbl["filters"] = [
                {"name": s.name,
                 "expr": s.sql.replace("{model}.", ""),
                 **({"description": s.description} if s.description else {})}
                for s in model.segments
            ]
        if model.description:
            tbl["description"] = model.description
        tables.append(tbl)
    from sidemantic_spark.adapters.base import m2o_edges

    for owner, tgt, fks, pks, rtype, jt in m2o_edges(graph):
        rels_out.append({
            "name": f"{owner}_to_{tgt}",
            "left_table": owner,
            "right_table": tgt,
            "relationship_columns": [
                {"left_column": fk, "right_column": pkc}
                for fk, pkc in zip(fks, pks)
            ],
            "relationship_type": rtype,
            **({"join_type": jt} if jt else {}),
        })
    out: dict = {"name": "semantic_model", "tables": tables}
    if rels_out:
        out["relationships"] = rels_out
    sf_meta = graph.metadata.get("snowflake") or {}
    if sf_meta.get("verified_queries"):
        out["verified_queries"] = list(sf_meta["verified_queries"])
    if sf_meta.get("custom_instructions") is not None:
        out["custom_instructions"] = sf_meta["custom_instructions"]
    return out
