"""BSL (Boring Semantic Layer) importer.

Re-expression of the reference's BSL adapter (``adapters/bsl.py`` +
``bsl_expr.py``): YAML keyed by model name with ibis-deferred Python
expressions, translated via the ``ast`` module (BSL expressions are
valid Python):

- ``_.col`` (own column, nested ``_.a.b`` allowed), ``_.col.sum()`` /
  ``.mean()/.min()/.max()/.nunique()/...`` aggregations, ``_.count()``
  row count, compound aggregations ``(_.a - _.b).sum()``, date parts
  ``_.created_at.year()`` -> EXTRACT
- filters: comparisons, ``&``/``|``/``~`` logical ops, ``.isin()`` /
  ``.notin()`` / ``.between()`` / ``.isnull()`` / ``.notnull()`` /
  ``.like()``, ternary ``a if cond else b`` -> CASE
  (ref ``bsl_expr.py:275-397``)
- calc measures (no ``_.`` prefix) reference other measures ->
  derived metrics; ``_.all(metric)`` -> the window-total ``__bsl_all``
  marker the generator resolves (ref ``bsl_expr.py:466-477``)
- model level: ``primary_key``, ``filter`` -> row filter,
  ``time_dimension`` -> default time dimension; ``is_entity`` marks
  the pk, ``is_time_dimension`` + ``smallest_time_grain`` mark time
  dimensions
- joins: ``type: one|many|cross`` with ``left_on``/``right_on``
  (``with``/``foreign_key`` accepted as aliases)
"""

from __future__ import annotations

import ast
import re

from sidemantic_spark.adapters.base import BaseAdapter, inverse
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

# ibis column method -> ours; exports use the first listed
_AGG_METHOD_MAP = {
    "sum": "sum",
    "mean": "avg",
    "avg": "avg",
    "min": "min",
    "max": "max",
    "count": "count",
    "nunique": "count_distinct",
    "median": "median",
    "std": "stddev",
    "var": "variance",
}
_DATE_METHODS = {"year", "month", "day", "hour", "minute", "second", "week",
                 "quarter"}
_GRAIN_RE = re.compile(r"TIME_GRAIN_(\w+)", re.I)
_OP_MAP = {ast.Add: "+", ast.Sub: "-", ast.Mult: "*", ast.Div: "/",
           ast.Mod: "%"}
_CMP_MAP = {ast.Eq: "=", ast.NotEq: "!=", ast.Lt: "<", ast.LtE: "<=",
            ast.Gt: ">", ast.GtE: ">="}


def _attr_chain(node: ast.AST) -> list[str] | None:
    """``_.a.b`` -> ["a", "b"]; None when not rooted at ``_``."""
    attrs: list[str] = []
    while isinstance(node, ast.Attribute):
        attrs.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name) and node.id == "_":
        attrs.reverse()
        return attrs
    return None


def _node_sql(node: ast.AST, measure_scope: bool = False) -> str | None:
    """BSL AST node -> SQL fragment; None when untranslatable.

    With ``measure_scope`` bare names are metric references (calc
    measures); otherwise only ``_.``-rooted refs resolve to columns.
    """
    if isinstance(node, ast.Attribute):
        attrs = _attr_chain(node)
        if attrs:
            return ".".join(attrs)
        return None
    if isinstance(node, ast.Name):
        return node.id if measure_scope and node.id != "_" else None
    if isinstance(node, ast.Constant):
        v = node.value
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, (int, float)):
            return str(v)
        return None
    if isinstance(node, ast.BinOp):
        # BSL uses & / | for logical AND/OR (ibis deferred convention)
        if isinstance(node.op, (ast.BitAnd, ast.BitOr)):
            left = _node_sql(node.left, measure_scope)
            right = _node_sql(node.right, measure_scope)
            if left is None or right is None:
                return None
            op = "AND" if isinstance(node.op, ast.BitAnd) else "OR"
            return f"({left}) {op} ({right})"
        op = _OP_MAP.get(type(node.op))
        left = _node_sql(node.left, measure_scope)
        right = _node_sql(node.right, measure_scope)
        if op is None or left is None or right is None:
            return None
        if isinstance(node.left, ast.BinOp):
            left = f"({left})"
        if isinstance(node.right, ast.BinOp):
            right = f"({right})"
        return f"{left} {op} {right}"
    if isinstance(node, ast.Compare):
        if len(node.ops) != 1 or len(node.comparators) != 1:
            return None
        op = _CMP_MAP.get(type(node.ops[0]))
        left = _node_sql(node.left, measure_scope)
        right = _node_sql(node.comparators[0], measure_scope)
        if op is None or left is None or right is None:
            return None
        return f"{left} {op} {right}"
    if isinstance(node, ast.UnaryOp):
        operand = _node_sql(node.operand, measure_scope)
        if operand is None:
            return None
        if isinstance(node.op, ast.USub):
            return f"-{operand}"
        if isinstance(node.op, ast.UAdd):
            return operand
        if isinstance(node.op, (ast.Invert, ast.Not)):
            return f"NOT ({operand})"
        return None
    if isinstance(node, ast.BoolOp):
        op = "AND" if isinstance(node.op, ast.And) else "OR"
        parts = [_node_sql(v, measure_scope) for v in node.values]
        if any(p is None for p in parts):
            return None
        return f" {op} ".join(f"({p})" for p in parts)
    if isinstance(node, ast.IfExp):
        cond = _node_sql(node.test, measure_scope)
        t = _node_sql(node.body, measure_scope)
        f = _node_sql(node.orelse, measure_scope)
        if None in (cond, t, f):
            return None
        return f"CASE WHEN {cond} THEN {t} ELSE {f} END"
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        method = node.func.attr
        # _.all(metric) -> window-total marker the generator resolves
        if measure_scope and method == "all" and isinstance(node.func.value, ast.Name) \
                and node.func.value.id == "_" and len(node.args) == 1:
            arg = _node_sql(node.args[0], measure_scope=True)
            return f"__bsl_all({arg})" if arg else None
        value = _node_sql(node.func.value, measure_scope)
        if value is None:
            return None
        args = [_node_sql(a, measure_scope) for a in node.args]
        if method == "isin" and len(node.args) == 1 \
                and isinstance(node.args[0], (ast.List, ast.Tuple)):
            vals = [_node_sql(e) for e in node.args[0].elts]
            if any(v is None for v in vals):
                return None
            return f"{value} IN ({', '.join(vals)})"
        if method == "notin" and len(node.args) == 1 \
                and isinstance(node.args[0], (ast.List, ast.Tuple)):
            vals = [_node_sql(e) for e in node.args[0].elts]
            if any(v is None for v in vals):
                return None
            return f"{value} NOT IN ({', '.join(vals)})"
        if any(a is None for a in args):
            return None
        if method == "isnull" and not args:
            return f"{value} IS NULL"
        if method == "notnull" and not args:
            return f"{value} IS NOT NULL"
        if method == "between" and len(args) == 2:
            return f"{value} BETWEEN {args[0]} AND {args[1]}"
        if method in ("like", "ilike") and len(args) == 1:
            return f"{value} {method.upper()} {args[0]}"
        if method in _DATE_METHODS and not args:
            return f"EXTRACT({method.upper()} FROM {value})"
        if method in ("lower", "upper", "trim") and not args:
            return f"{method.upper()}({value})"
        return None
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
        # getattr(_, 'weird name') -> quoted identifier
        if node.func.id == "getattr" and len(node.args) == 2 \
                and isinstance(node.args[1], ast.Constant) \
                and isinstance(node.args[1].value, str):
            ident = "`" + node.args[1].value.replace("`", "") + "`"
            base = None
            if isinstance(node.args[0], ast.Name) and node.args[0].id == "_":
                return ident
            base = _node_sql(node.args[0], measure_scope)
            return f"{base}.{ident}" if base else None
        args = [_node_sql(a, measure_scope) for a in node.args]
        if any(a is None for a in args):
            return None
        if node.func.id.upper() == "CAST" and len(node.args) == 2 \
                and isinstance(node.args[1], ast.Constant):
            return f"CAST({args[0]} AS {node.args[1].value})"
        return f"{node.func.id.upper()}({', '.join(args)})"
    return None


def bsl_filter_to_sql(expr: str) -> str:
    """BSL filter expression -> SQL WHERE fragment (raw expr on failure)."""
    try:
        tree = ast.parse(expr.strip(), mode="eval")
    except SyntaxError:
        return re.sub(r"_\.(\w+)", r"\1", expr)
    out = _node_sql(tree.body)
    return out if out is not None else re.sub(r"_\.(\w+)", r"\1", expr)


def bsl_measure(expr: str) -> tuple[str | None, str | None, str | None]:
    """BSL measure expression -> (sql, agg, date_part).

    ``_.count()`` -> (None, count, None); ``_.amount.sum()`` ->
    (amount, sum, None); ``(_.a - _.b).sum()`` -> ("a - b", sum, None);
    ``_.created_at.year()`` -> (created_at, None, year).
    """
    try:
        tree = ast.parse(expr.strip(), mode="eval")
    except SyntaxError:
        return expr, None, None
    node = tree.body
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        method = node.func.attr
        base = node.func.value
        if isinstance(base, ast.Name) and base.id == "_" \
                and method in _AGG_METHOD_MAP and not node.args:
            return None, _AGG_METHOD_MAP[method], None
        attrs = _attr_chain(base)
        if attrs and not node.args:
            col = ".".join(attrs)
            if method in _AGG_METHOD_MAP:
                return col, _AGG_METHOD_MAP[method], None
            if method in _DATE_METHODS:
                return col, None, method
        if method in _AGG_METHOD_MAP and isinstance(
                base, (ast.BinOp, ast.Compare, ast.Call, ast.IfExp,
                       ast.UnaryOp, ast.BoolOp)):
            inner = _node_sql(base)
            if inner:
                return inner, _AGG_METHOD_MAP[method], None
    sql = _node_sql(node)
    return (sql if sql is not None else expr), None, None


class BslAdapter(BaseAdapter):
    def parse(self, layer, data: dict) -> None:
        for name, spec in (data or {}).items():
            if not isinstance(spec, dict) or not (
                "dimensions" in spec or "measures" in spec or "table" in spec
            ):
                continue
            model = self._parse_model(name, spec)
            if model is not None:
                try:
                    layer.add_model(model)
                except Exception:
                    pass

    def _parse_model(self, name: str, spec: dict) -> Model | None:
        dims: list[Dimension] = []
        pk = spec.get("primary_key")
        for dname, d in (spec.get("dimensions") or {}).items():
            if isinstance(d, str):
                d = {"expr": d}
            expr = (d.get("expr") or f"_.{dname}").strip()
            sql, _agg, date_part = bsl_measure(expr)
            if date_part and sql:
                sql = f"EXTRACT({date_part.upper()} FROM {sql})"
            if d.get("is_entity") and not pk:
                pk = dname
            grain = None
            gm = _GRAIN_RE.search(str(d.get("smallest_time_grain") or ""))
            if gm:
                grain = gm.group(1).lower()
            dims.append(Dimension(
                name=dname,
                type="time" if d.get("is_time_dimension") or grain else (
                    "numeric" if date_part else "categorical"),
                sql=None if sql == dname else sql,
                granularity=grain,
                description=d.get("description"),
            ))

        mets: list[Metric] = []
        measure_names = set((spec.get("measures") or {}).keys())
        for mname, m in (spec.get("measures") or {}).items():
            if isinstance(m, str):
                m = {"expr": m}
            expr = (m.get("expr") or "").strip()
            desc = m.get("description")
            mfilter = m.get("filter")
            filters = [bsl_filter_to_sql(mfilter)] if mfilter else []
            if expr.startswith("_.") or expr.startswith("("):
                sql, agg, _dp = bsl_measure(expr)
                if agg:
                    mets.append(Metric(name=mname, agg=agg, sql=sql,
                                       description=desc, filters=filters))
                    continue
            # calc measure: formula over other measure names — with or
            # without the deferred prefix (``revenue / order_count`` and
            # ``_.revenue / _.all(_.revenue)`` both qualify)
            try:
                body = _node_sql(ast.parse(expr, mode="eval").body,
                                 measure_scope=True)
            except SyntaxError:
                body = None
            body = body or re.sub(r"_\.(\w+)", r"\1", expr)
            refs = set(re.findall(r"\b(\w+)\b", body))
            if (refs & measure_names - {mname}) or "__bsl_all" in body:
                mets.append(Metric(name=mname, type="derived", expr=body,
                                   description=desc, filters=filters))
            else:
                mets.append(Metric(name=mname, sql=body, description=desc,
                                   filters=filters))

        rels: list[Relationship] = []
        for rname, r in (spec.get("joins") or {}).items():
            if not isinstance(r, dict):
                continue
            kind = str(r.get("type") or r.get("kind") or "one").lower()
            left_on = r.get("left_on") or r.get("with") or r.get("foreign_key")
            right_on = r.get("right_on")
            if kind == "cross":
                rels.append(Relationship(name=r.get("model") or rname,
                                         type="cross"))
            elif kind in ("many", "one_to_many"):
                # local key joins the FK on the related model
                rels.append(Relationship(
                    name=r.get("model") or rname, type="one_to_many",
                    primary_key=left_on, foreign_key=right_on,
                ))
            else:
                rels.append(Relationship(
                    name=r.get("model") or rname,
                    type="many_to_one" if kind in ("one", "many_to_one")
                    else ("one_to_one" if kind == "one_to_one" else "many_to_one"),
                    foreign_key=left_on,
                    primary_key=right_on,
                ))

        row_filters = []
        if spec.get("filter"):
            row_filters.append(bsl_filter_to_sql(str(spec["filter"])))

        return Model(
            name=name, table=spec.get("table") or name, primary_key=pk or "id",
            dimensions=dims, metrics=mets, relationships=rels,
            description=spec.get("description"),
            default_time_dimension=spec.get("time_dimension"),
            row_filters=row_filters,
        )


# ----------------------------------------------------------------------
# export (reference adapters/bsl.py export contract)
# ----------------------------------------------------------------------

_AGG_METHOD_OUT = inverse(_AGG_METHOD_MAP)


def export_bsl(graph) -> dict:
    """Graph -> BSL YAML (dict keyed by model name) with ibis-deferred
    expressions. Bare-column aggs render as ``_.col.method()``; richer
    expressions fall back to plain SQL strings which re-import through
    aggregate auto-extraction."""
    import re as _re

    from sidemantic_spark.adapters.base import simple_agg_sql

    out: dict = {}
    for model in graph.models.values():
        spec: dict = {"table": model.table or model.name}
        dims: dict = {}
        pk = model.pk_list()
        for d in model.dimensions:
            dspec: dict = {}
            if d.sql and d.sql != d.name:
                dspec["expr"] = (
                    f"_.{d.sql}" if _re.fullmatch(r"\w+", d.sql) else d.sql
                )
            if d.name in pk or (d.sql in pk if d.sql else False):
                dspec["is_entity"] = True
            if d.type == "time":
                dspec["is_time_dimension"] = True
                if d.granularity:
                    dspec["smallest_time_grain"] = f"TIME_GRAIN_{d.granularity.upper()}"
            if d.description:
                dspec["description"] = d.description
            dims[d.name] = dspec or {"expr": f"_.{d.name}"}
        if dims:
            spec["dimensions"] = dims
        measures: dict = {}
        for m in model.metrics:
            if m.is_simple:
                if m.agg == "count" and not m.sql:
                    expr = "_.count()"
                elif m.sql and _re.fullmatch(r"\w+", m.sql) and m.agg in _AGG_METHOD_OUT:
                    expr = f"_.{m.sql}.{_AGG_METHOD_OUT[m.agg]}()"
                else:
                    expr = simple_agg_sql(m)
            elif m.type == "derived":
                expr = m.expr
            else:
                expr = None
            if not expr:
                continue
            mspec: dict = {"expr": expr}
            if m.description:
                mspec["description"] = m.description
            measures[m.name] = mspec
        if measures:
            spec["measures"] = measures
        joins: dict = {}
        for r in model.relationships:
            if r.type == "cross" or r.through or r.sql or not r.foreign_key:
                continue
            if r.type == "one_to_many":
                j = {"model": r.name, "type": "many",
                     "left_on": r.primary_key or (pk[0] if pk else "id"),
                     "right_on": r.foreign_key}
            else:
                j = {"model": r.name, "type": "one",
                     "left_on": r.foreign_key}
                if r.primary_key:
                    j["right_on"] = r.primary_key
            joins[r.name] = j
        if joins:
            spec["joins"] = joins
        if model.description:
            spec["description"] = model.description
        if model.row_filters:
            spec["filter"] = model.row_filters[0]
        out[model.name] = spec
    return out
