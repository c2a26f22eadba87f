"""Shared adapter plumbing."""

from __future__ import annotations

import re

from sidemantic_spark.core.model import Metric
from sidemantic_spark.sql.fragments import close_paren


class AdapterError(Exception):
    pass


class BaseAdapter:
    """parse/parse_file contract (ref ``adapters/base.py:9``)."""

    def parse(self, layer, data: dict) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def parse_file(self, layer, path: str) -> None:
        from sidemantic_spark.authoring.yaml_io import yaml_safe_load_all

        with open(path) as fh:
            text = fh.read()
        self.parse_docs(layer, [d for d in yaml_safe_load_all(text) if d])

    def parse_docs(self, layer, docs: list[dict]) -> None:
        for doc in docs:
            self.parse(layer, doc)


_REF_RE = re.compile(r"ref\(\s*['\"]([\w.]+)['\"]\s*\)")


def resolve_dbt_ref(model: str | None) -> str | None:
    """``ref('fct_orders')`` -> ``fct_orders``; plain names pass through."""
    if model is None:
        return None
    m = _REF_RE.search(model)
    return m.group(1) if m else model


def strip_cube_placeholders(sql: str | None, cube_name: str) -> str | None:
    """``{CUBE}.col`` / ``{CUBE.col}`` / ``{other.col}`` -> plain refs.

    ``{CUBE}`` refers to the declaring cube; in our CTE-scoped SQL the
    bare column name is correct. Cross-cube refs become model.column.
    """
    if sql is None:
        return None
    out = sql.replace("{CUBE}.", "").replace(f"{{{cube_name}}}.", "")
    out = re.sub(r"\{CUBE\.(\w+)\}", r"\1", out)
    out = re.sub(r"\{(\w+)\.(\w+)\}", r"\1.\2", out)
    out = out.replace("{CUBE}", cube_name)
    return out


# Cube / Snowflake aggregation type -> ours; exports use the first listed
AGG_TYPES = {
    "count": "count",
    "sum": "sum",
    "avg": "avg",
    "min": "min",
    "max": "max",
    "count_distinct": "count_distinct",
    "countDistinct": "count_distinct",
    "count_distinct_approx": "approx_count_distinct",
    "countDistinctApprox": "approx_count_distinct",
    "median": "median",
    "stddev": "stddev",
}


def inverse(table: dict) -> dict:
    """Export table from an import table: our name -> the first spelling
    listed for it. Names without a spelling get no entry, so an exporter
    leaves them out instead of writing what its importer cannot read."""
    out: dict = {}
    for spelling, ours in table.items():
        out.setdefault(ours, spelling)
    return out


# ----------------------------------------------------------------------
# shared export helpers (reference adapters/base.py:9 export contract)
# ----------------------------------------------------------------------

# SQL aggregate -> ours (any case); ``COUNT(DISTINCT x)`` is count_distinct
SQL_AGGS = {
    "SUM": "sum", "COUNT": "count", "COUNT_DISTINCT": "count_distinct",
    "APPROX_COUNT_DISTINCT": "approx_count_distinct",
    "AVG": "avg", "AVERAGE": "avg", "MIN": "min", "MAX": "max",
    "MEDIAN": "median", "STDDEV": "stddev", "STDDEV_POP": "stddev_pop",
    "VARIANCE": "variance", "VAR_POP": "variance_pop",
}
_SQL_AGG_OUT = inverse(SQL_AGGS)

_AGG_SPLIT_RE = re.compile(
    rf"^\s*({'|'.join(SQL_AGGS)})\s*\(\s*(distinct\s+)?(.*?)\s*\)\s*$",
    re.I | re.S,
)


def split_simple_aggregate(expr: str) -> tuple[str, str] | None:
    """``SUM(amount)`` -> ("sum", "amount"); None for anything more
    complex (nested parens inside the argument are fine, a second
    top-level call or a wrapping operator is not)."""
    m = _AGG_SPLIT_RE.match(expr or "")
    if not m:
        return None
    # the whole expression must be ONE call: the paren opened after the
    # function name must close at the very end (a count-equality check
    # would wrongly accept close-then-open shapes like SUM(a) + SUM(b))
    s = expr.strip()
    if close_paren(s, s.index("(")) != len(s) - 1:
        return None
    inner = m.group(3)
    agg = SQL_AGGS[m.group(1).upper()]
    if m.group(2):
        if agg != "count":
            return None
        agg = "count_distinct"
    return agg, inner.strip()


def sql_metric(name: str, expr: str, **kw):
    """Metric from a measure's SQL expression (Rill, Superset): one
    aggregate call is a simple metric, anything else a derived formula.
    Metric's auto-extraction reads our agg names; ``SQL_AGGS`` adds the
    SQL-only ones (``VAR_POP``)."""
    metric = Metric(name=name, sql=expr, **kw)
    split = split_simple_aggregate(expr) if metric.sql_is_complete else None
    if split is not None:
        return Metric(name=name, agg=split[0], sql=split[1], **kw)
    if metric.agg is None:
        return Metric(name=name, type="derived", expr=expr, **kw)
    return metric


def simple_agg_sql(metric) -> str | None:
    """Render a simple-agg metric as a plain SQL aggregate call
    (``SUM(x)`` / ``COUNT(*)`` / ``COUNT(DISTINCT x)``), the lingua
    franca of expression-based formats (Rill, Superset, BSL, OSI).
    Returns None for non-simple metrics."""
    if not metric.is_simple:
        return None
    if metric.agg == "count_distinct":
        return f"COUNT(DISTINCT {metric.sql or '*'})"
    fn = _SQL_AGG_OUT.get(metric.agg)
    return f"{fn}({metric.sql or '*'})" if fn else None


def m2o_edges(graph):
    """Canonical equi-join edges for export: yields
    ``(owner_name, target_name, fk_cols_on_owner, pk_cols_on_target,
    rel_type, join_type)``.

    Formats that declare joins as "fk on the owning table = pk on the
    joined table" (Hex, Omni, Snowflake, ThoughtSpot, TMDL, Holistics,
    OSI, ...) cannot express our graph's one_to_many orientation, where
    ``foreign_key`` names the *child* column — so one_to_many edges are
    re-emitted as the equivalent many_to_one on the child model (the
    graph adds the reverse edge on import, preserving connectivity and
    join keys exactly). Cross joins, junction (through) edges, and
    custom-SQL conditions are skipped — callers with a native construct
    for those handle them separately.
    """
    seen = set()
    out = []
    for model in graph.models.values():
        for rel in model.relationships:
            if rel.type == "cross" or rel.through or rel.sql:
                continue
            target = graph.models.get(rel.name)
            tpk = target.pk_list() if target else ["id"]
            if rel.type == "one_to_many":
                owner, tgt = rel.name, model.name
                fks = rel.fk_list() or tpk
                pks = rel.pk_list(model.pk_list())
                rtype = "many_to_one"
            else:
                owner, tgt = model.name, rel.name
                if rel.type in ("one_to_one",):
                    fks = rel.pk_list(model.pk_list())
                    pks = rel.fk_list() or tpk
                else:
                    fks = rel.fk_list() or model.pk_list()
                    pks = rel.pk_list(tpk)
                rtype = rel.type
            if not fks or len(fks) != len(pks):
                continue
            key = (owner, tgt, tuple(fks))
            if key in seen:
                continue
            seen.add(key)
            out.append((owner, tgt, list(fks), list(pks), rtype,
                        getattr(rel, "join_type", None)))
    return out


_SQL_KEYWORD_TOKENS = {
    "and", "or", "not", "in", "is", "null", "true", "false", "like",
    "between", "case", "when", "then", "else", "end", "as", "distinct",
    "interval", "day", "month", "year", "decimal", "double", "bigint",
    "int", "integer", "string", "varchar", "boolean", "date", "timestamp",
}


def qualify_columns(sql: str, model_name: str) -> str:
    """Prefix bare column identifiers with ``model_name.`` — inverse of
    the per-adapter "strip owner qualification" import step. Function
    calls, dotted refs, quoted literals, keywords and type names are
    left alone."""

    def repl(m: re.Match) -> str:
        tok = m.group(0)
        if tok[0] in "'\"" or tok.endswith("("):
            return tok
        prev = sql[m.start() - 1] if m.start() else ""
        if prev == "." or tok.lower() in _SQL_KEYWORD_TOKENS:
            return tok
        nxt = sql[m.end():m.end() + 1]
        if nxt == ".":
            return tok  # already a qualifier itself
        return f"{model_name}.{tok}"

    return re.sub(r"'[^']*'|\"[^\"]*\"|[A-Za-z_]\w*\s*\(|[A-Za-z_]\w*", repl, sql)
