"""ThoughtSpot TML importer.

Re-expression of the reference's ThoughtSpot adapter
(``adapters/thoughtspot.py``): ``*.table.tml`` files declare physical
tables whose columns carry ``column_type`` (ATTRIBUTE/MEASURE) and
``aggregation``; ``*.worksheet.tml`` files declare multi-table join
graphs (``[a::col] = [b::col]`` conditions) plus formulas; model TML
aliases tables. ``default_date_bucket`` maps to a time dimension with
the matching granularity.
"""

from __future__ import annotations

import re

import yaml

from sidemantic_spark.adapters.base import BaseAdapter, inverse
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

# TML aggregation / date bucket / data_type -> ours; exports use the first listed
_AGG_MAP = {
    "SUM": "sum",
    "COUNT": "count",
    "COUNT_DISTINCT": "count_distinct",
    "AVERAGE": "avg",
    "MIN": "min",
    "MAX": "max",
    "MEDIAN": "median",
    "STD_DEVIATION": "stddev",
    "VARIANCE": "variance",
}

_BUCKET_GRAIN = {
    "HOURLY": "hour", "DAILY": "day", "WEEKLY": "week",
    "MONTHLY": "month", "QUARTERLY": "quarter", "YEARLY": "year",
}

_DTYPE_MAP = {
    "DOUBLE": "numeric", "INT32": "numeric", "INT64": "numeric",
    "FLOAT": "numeric", "DATETIME": "time", "DATE": "time",
    "TIMESTAMP": "time", "BOOL": "boolean", "BOOLEAN": "boolean",
    "VARCHAR": "categorical",
}

_JOIN_COND_RE = re.compile(r"\[(\w+)::(\w+)\]\s*=\s*\[(\w+)::(\w+)\]")
# single [table::col] ref; table part may carry "(path)_suffix" decorations
_TML_REF = re.compile(r"\[([^\]:]+)::([^\]]+)\]")
_TS_REF_RE = re.compile(r"\[(\w+)::([\w ]+)\]")


class ThoughtSpotAdapter(BaseAdapter):
    def parse(self, layer, data: dict) -> None:
        if "table" in data:
            self._parse_table(layer, data["table"])
        if "worksheet" in data:
            ws = data["worksheet"]
            self._parse_worksheet(layer, ws)
            if ws.get("worksheet_columns"):
                self._parse_semantic(layer, ws, kind="worksheet")
        if "model" in data:
            md = data["model"]
            self._parse_worksheet(layer, md)
            if md.get("columns"):
                self._parse_semantic(layer, md, kind="model")

    def _parse_table(self, layer, tbl: dict) -> None:
        name = tbl.get("name")
        if not name:
            return
        dims: list[Dimension] = []
        mets: list[Metric] = []
        pk = "id"
        for col in tbl.get("columns") or []:
            cname = col.get("name")
            if not cname:
                continue
            props = col.get("properties") or {}
            db_col = col.get("db_column_name") or cname
            dt = str(col.get("data_type") or "VARCHAR").upper()
            if str(props.get("column_type", "ATTRIBUTE")).upper() == "MEASURE":
                agg = _AGG_MAP.get(str(props.get("aggregation", "SUM")).upper())
                if agg is None:
                    continue
                mets.append(Metric(
                    name=cname, agg=agg,
                    sql=db_col if agg != "count" else None,
                    label=col.get("custom_name") or col.get("display_name"),
                    format=props.get("format_pattern"),
                    description=col.get("description"),
                ))
            else:
                bucket = props.get("default_date_bucket")
                dtype = _DTYPE_MAP.get(dt, "categorical")
                gran = _BUCKET_GRAIN.get(str(bucket).upper()) if bucket else None
                if gran:
                    dtype = "time"
                dims.append(Dimension(
                    name=cname, type=dtype,
                    sql=None if db_col == cname else db_col,
                    granularity=gran,
                    label=col.get("custom_name") or col.get("display_name"),
                    format=props.get("format_pattern"),
                ))
                if cname == "id" or props.get("is_primary_key"):
                    pk = cname
        db_table = tbl.get("db_table") or name
        schema = tbl.get("schema")
        table = f"{schema}.{db_table}" if schema and schema.lower() not in ("public",) else db_table
        # table-level joins_with: joins declared on the table file itself
        # (ref adapters/thoughtspot.py:786,1483-1518) — ``on`` is
        # "[TABLE::col] = [TABLE (decorated path)::col]"; destination.name
        # is authoritative, the bracketed names may carry path suffixes
        rels: list[Relationship] = []
        for join in tbl.get("joins_with") or []:
            if not isinstance(join, dict):
                continue
            dest = join.get("destination")
            dest = dest.get("name") if isinstance(dest, dict) else dest
            # YAML 1.1 parses a bare `on:` key as boolean True
            cond = join.get("on") or join.get(True) or ""
            refs = _TML_REF.findall(str(cond))
            if not dest or len(refs) < 2:
                continue
            jt = str(join.get("type", "INNER")).upper()
            rtype = "many_to_one"
            if join.get("is_one_to_one"):
                rtype = "one_to_one"
            elif jt in ("RIGHT_OUTER", "FULL_OUTER", "OUTER"):
                rtype = "many_to_many"
            rels.append(Relationship(
                name=dest, type=rtype,
                foreign_key=refs[0][1], primary_key=refs[1][1],
                join_type="inner" if jt == "INNER" else None,
            ))
        try:
            layer.add_model(Model(
                name=name, table=db_table if table != db_table else table,
                primary_key=pk, dimensions=dims, metrics=mets,
                relationships=rels,
                description=tbl.get("description"),
            ))
        except Exception:
            pass

    def _parse_worksheet(self, layer, ws: dict) -> None:
        # joins between already-imported table models
        for join in ws.get("joins") or []:
            # YAML 1.1 parses the bare `on:` key as boolean True
            cond = join.get("on") or join.get(True) or ""
            src, dst = join.get("source"), join.get("destination")
            pairs = _JOIN_COND_RE.findall(cond)
            if not (src and dst and pairs):
                continue
            fks = [p[1] for p in pairs if p[0] == src]
            pks = [p[3] for p in pairs if p[2] == dst]
            if len(fks) != len(pks) or not fks:
                continue
            rtype = "one_to_one" if join.get("is_one_to_one") else "many_to_one"
            jt = str(join.get("type", "")).upper()
            try:
                model = layer.graph.get_model(src)
            except Exception:
                continue
            if any(r.name == dst for r in model.relationships):
                continue
            model.relationships.append(Relationship(
                name=dst, type=rtype,
                foreign_key=fks if len(fks) > 1 else fks[0],
                primary_key=pks if len(pks) > 1 else pks[0],
                join_type="inner" if jt == "INNER" else None,
            ))
            layer.graph._invalidate()
        # formulas: derived metrics on the first referenced table
        for formula in ws.get("formulas") or []:
            fname, expr = formula.get("name"), formula.get("expr")
            if not fname or not expr:
                continue
            refs = _TS_REF_RE.findall(expr)
            if not refs:
                continue
            owner = refs[0][0]
            try:
                model = layer.graph.get_model(owner)
            except Exception:
                continue
            if model.metric(fname) is not None:
                continue
            body = _TS_REF_RE.sub(lambda m: m.group(2).replace(" ", "_"), expr)
            model.add_metric(Metric(name=fname, type="derived", expr=body))


    # -- Model / Worksheet TML as a semantic model --------------------
    # Reference adapters/thoughtspot.py:940 `_parse_model` /:813
    # worksheet path: the TML object itself becomes ONE semantic model —
    # single-table objects bind the physical table directly; joined
    # objects compile to derived SQL (the join tree inlined, every
    # referenced column projected under its TML column name), with
    # role-playing aliases kept as the in-scope relation names.

    def _parse_semantic(self, layer, d: dict, kind: str) -> None:
        name = d.get("name")
        if not name:
            return
        if kind == "model":
            tables = d.get("model_tables") or []
            col_defs = d.get("columns") or []
            flat_joins = []
            for t in tables:
                src = t.get("alias") or t.get("name") or t.get("id")
                for j in t.get("joins") or []:
                    cond = j.get("on")
                    if cond is None and True in j:
                        cond = j.get(True)
                    flat_joins.append({
                        "source": src, "destination": j.get("with"),
                        "on": cond or "", "type": j.get("type"),
                    })
        else:
            tables = d.get("tables") or []
            col_defs = d.get("worksheet_columns") or []
            flat_joins = []
            for j in d.get("joins") or []:
                cond = j.get("on")
                if cond is None and True in j:
                    cond = j.get(True)
                flat_joins.append({
                    "source": j.get("source"), "destination": j.get("destination"),
                    "on": cond or "", "type": j.get("type"),
                })
        if not tables:
            return
        # path lookup: every token (name/id/alias/path id) -> in-scope
        # relation (the alias when the entry is aliased)
        path: dict[str, str] = {}
        phys: dict[str, str] = {}  # relation -> physical table
        for t in tables:
            tname = t.get("name") or t.get("id")
            alias = t.get("alias")
            rel = alias or tname
            if not rel:
                continue
            fqn = t.get("fqn")
            phys[rel] = (fqn.rsplit(".", 1)[-1] if fqn else tname) or rel
            for token in (t.get("name"), t.get("id"), alias):
                if token:
                    path[token] = rel
        for tp in d.get("table_paths") or []:
            if tp.get("id"):
                path[tp["id"]] = path.get(tp.get("table"), tp.get("table"))

        def conv(expr: str | None) -> str | None:
            if not expr:
                return expr
            return _TS_REF_RE.sub(
                lambda m: f"{path.get(m.group(1), m.group(1))}."
                          f"{m.group(2).replace(' ', '_')}",
                expr,
            )

        formulas = d.get("formulas") or []
        f_by_id = {f.get("id"): f for f in formulas if f.get("id")}
        f_by_name = {f.get("name"): f for f in formulas if f.get("name")}

        def formula_expr(f: dict, depth: int = 0) -> str | None:
            expr = f.get("expr")
            if expr is None or depth > 4:
                return expr
            # inline nested formula references by name
            for other in formulas:
                oname = other.get("name")
                if oname and other is not f and re.search(
                    rf"\[{re.escape(oname)}\]", expr
                ):
                    inner = formula_expr(other, depth + 1)
                    if inner:
                        expr = expr.replace(f"[{oname}]", f"({inner})")
            return expr

        base_rel = next(
            (path.get(t.get("name") or t.get("id"))
             for t in tables[:1]), None
        )
        single = len(tables) == 1 and not flat_joins
        dims: list[Dimension] = []
        mets: list[Metric] = []
        projections: list[tuple[str, str]] = []  # (alias, expr)

        def strip_base(expr: str) -> str:
            # single-table objects bind the table directly; qualifiers
            # refer to the one in-scope relation
            return re.sub(rf"\b{re.escape(base_rel)}\.", "", expr) if base_rel else expr

        for col in col_defs:
            cname = col.get("name")
            fid = col.get("formula_id")
            cid = col.get("column_id")
            f = f_by_id.get(fid) or f_by_name.get(fid) or f_by_name.get(cname)
            if not cname:
                cname = (f or {}).get("name") or (cid.split("::")[-1] if cid else None)
            if not cname:
                continue
            out = re.sub(r"\W+", "_", cname).strip("_")
            props = col.get("properties") or {}
            if f is not None:
                expr = conv(formula_expr(f))
            elif cid and "::" in cid:
                q, c = cid.split("::", 1)
                expr = f"{path.get(q, q)}.{c.replace(' ', '_')}"
            else:
                expr = cid or out
            is_measure = str(props.get("column_type", "ATTRIBUTE")).upper() == "MEASURE"
            if single:
                expr = strip_base(expr)
            if is_measure:
                agg = _AGG_MAP.get(str(props.get("aggregation", "SUM")).upper())
                if agg is None:
                    mets.append(Metric(name=out, agg="count", public=False,
                                       description=f"unsupported TML aggregation: "
                                                   f"{props.get('aggregation')}"))
                    continue
                if single:
                    mets.append(Metric(name=out, agg=agg, sql=expr,
                                       label=col.get("custom_name") or col.get("display_name")))
                else:
                    raw = f"__m_{out}"
                    projections.append((raw, expr))
                    mets.append(Metric(name=out, agg=agg, sql=raw,
                                       label=col.get("custom_name") or col.get("display_name")))
            else:
                bucket = props.get("default_date_bucket")
                gran = _BUCKET_GRAIN.get(str(bucket).upper()) if bucket else None
                dt = str(col.get("data_type") or "VARCHAR").upper()
                dtype = "time" if gran or dt in ("DATE", "DATETIME", "TIMESTAMP") \
                    else _DTYPE_MAP.get(dt, "categorical")
                if single:
                    dims.append(Dimension(
                        name=out, type=dtype, granularity=gran,
                        sql=None if expr == out else expr,
                        label=col.get("custom_name") or col.get("display_name"),
                    ))
                else:
                    projections.append((out, expr))
                    dims.append(Dimension(name=out, type=dtype, granularity=gran,
                                          label=col.get("custom_name") or col.get("display_name")))

        pk = next((x.name for x in dims if x.name in ("id",) or x.name.endswith("_id")),
                  dims[0].name if dims else "id")
        if single:
            model = Model(name=name, table=phys.get(base_rel, base_rel),
                          primary_key=pk, dimensions=dims, metrics=mets,
                          description=d.get("description"))
        else:
            # derived SQL: inline the join tree, project every TML column
            joined = {base_rel}
            from_sql = f"{phys.get(base_rel, base_rel)}"
            if base_rel and phys.get(base_rel) != base_rel:
                from_sql += f" AS {base_rel}"
            pending = list(flat_joins)
            for _ in range(len(pending) + 1):
                rest = []
                for j in pending:
                    src = path.get(j["source"], j["source"])
                    dst = path.get(j["destination"], j["destination"])
                    jt = str(j.get("type") or "").upper()
                    if src in joined and dst not in joined:
                        # forward: attach the destination table
                        kw = {"LEFT_OUTER": "LEFT JOIN", "RIGHT_OUTER": "RIGHT JOIN",
                              "FULL_OUTER": "FULL JOIN"}.get(jt, "JOIN")
                        attach = dst
                    elif dst in joined and src not in joined:
                        # reverse: the join points back toward an
                        # already-joined table — attach the SOURCE side
                        # with the outer direction flipped (a LEFT join
                        # from src seen from dst's side is a RIGHT join)
                        kw = {"LEFT_OUTER": "RIGHT JOIN", "RIGHT_OUTER": "LEFT JOIN",
                              "FULL_OUTER": "FULL JOIN"}.get(jt, "JOIN")
                        attach = src
                    else:
                        if not (src in joined and dst in joined):
                            rest.append(j)
                        continue
                    rel_sql = phys.get(attach, attach)
                    if rel_sql != attach:
                        rel_sql += f" AS {attach}"
                    from_sql += f" {kw} {rel_sql} ON {conv(j['on'])}"
                    joined.add(attach)
                pending = rest
            sel = ", ".join(f"{e} AS {a}" for a, e in projections) or "*"
            model = Model(name=name, sql=f"SELECT {sel} FROM {from_sql}",
                          primary_key=pk, dimensions=dims, metrics=mets,
                          description=d.get("description"))
        try:
            layer.add_model(model)
        except Exception:
            pass

    def parse_file(self, layer, path: str) -> None:
        with open(path) as fh:
            data = yaml.safe_load(fh)
        if isinstance(data, dict):
            self.parse(layer, data)


# ----------------------------------------------------------------------
# export (reference adapters/thoughtspot.py export contract)
# ----------------------------------------------------------------------

_AGG_OUT = inverse(_AGG_MAP)
_BUCKET_OUT = inverse(_BUCKET_GRAIN)
_DTYPE_OUT = inverse(_DTYPE_MAP)


def export_thoughtspot(graph) -> list[dict]:
    """Graph -> TML docs: one ``table`` per model (ATTRIBUTE columns
    from dimensions, MEASURE columns from simple aggs) plus one
    ``worksheet`` carrying the join graph and derived-metric formulas."""
    from sidemantic_spark.adapters.base import m2o_edges

    docs = []
    for model in graph.models.values():
        cols = []
        pk = set(model.pk_list())
        covered = set()
        for d in model.dimensions:
            props: dict = {"column_type": "ATTRIBUTE"}
            if d.type == "time" and d.granularity:
                props["default_date_bucket"] = _BUCKET_OUT.get(
                    d.granularity, "DAILY")
            col: dict = {"name": d.name,
                         "data_type": _DTYPE_OUT.get(d.type, "VARCHAR"),
                         "properties": props}
            if d.sql and d.sql != d.name:
                col["db_column_name"] = d.sql
                covered.add(d.sql)
            if d.name in pk or (d.sql in pk if d.sql else False):
                props["is_primary_key"] = True
            if d.label:
                col["custom_name"] = d.label
            if d.description:
                col["description"] = d.description
            cols.append(col)
            covered.add(d.name)
        for c in sorted(pk - covered):
            cols.append({"name": c, "data_type": "INT64",
                         "properties": {"column_type": "ATTRIBUTE",
                                        "is_primary_key": True}})
        for m in model.metrics:
            if not m.is_simple or m.agg not in _AGG_OUT:
                continue
            import re as _re

            msql = m.sql
            if msql:
                # TML measures bind to physical columns; unwrap simple
                # CAST(col AS type) decimal-exactness wrappers
                cm = _re.fullmatch(
                    r"CAST\s*\(\s*(\w+)\s+AS\s+[\w(), ]+\)", msql, _re.I
                )
                if cm:
                    msql = cm.group(1)
                elif not _re.fullmatch(r"\w+", msql):
                    continue
            col = {"name": m.name,
                   "data_type": "DOUBLE",
                   "properties": {"column_type": "MEASURE",
                                  "aggregation": _AGG_OUT[m.agg]}}
            if msql and msql != m.name:
                col["db_column_name"] = msql
            if m.label:
                col["custom_name"] = m.label
            if m.description:
                col["description"] = m.description
            cols.append(col)
        tbl: dict = {"name": model.name, "columns": cols}
        if model.table and model.table != model.name:
            if "." in model.table:
                schema, phys = model.table.rsplit(".", 1)
                tbl["schema"] = schema
                tbl["db_table"] = phys
            else:
                tbl["db_table"] = model.table
        if model.description:
            tbl["description"] = model.description
        docs.append({"table": tbl})
    joins = []
    formulas = []
    for owner, tgt, fks, pks, rtype, jt in m2o_edges(graph):
        cond = " AND ".join(
            f"[{owner}::{fk}] = [{tgt}::{pkc}]" for fk, pkc in zip(fks, pks)
        )
        joins.append({
            "name": f"{owner}_{tgt}",
            "source": owner,
            "destination": tgt,
            "on": cond,
            **({"is_one_to_one": True} if rtype == "one_to_one" else {}),
            **({"type": jt.upper()} if jt else {}),
        })
    for model in graph.models.values():
        for m in model.metrics:
            if m.type == "derived" and m.expr:
                import re as _re

                body = _re.sub(
                    r"\b([a-zA-Z_]\w*)\b",
                    lambda mm: f"[{model.name}::{mm.group(1)}]"
                    if model.metric(mm.group(1)) is not None else mm.group(1),
                    m.expr,
                )
                if "::" in body:
                    formulas.append({"name": m.name, "expr": body})
    if joins or formulas:
        docs.append({"worksheet": {
            "name": "exported",
            **({"joins": joins} if joins else {}),
            **({"formulas": formulas} if formulas else {}),
        }})
    return docs
