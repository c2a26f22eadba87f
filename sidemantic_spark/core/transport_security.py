"""Fail-closed security gates for SQL-based transports.

Re-expression of the reference's ``core/transport_security.py``: when a
layer declares any security policy (or enforces column visibility), SQL
arriving over a transport (pgwire, HTTP) must be *recognized* as
semantic SQL and regenerated through the compiler — a query reading a
source the rewriter does not control would bypass row filters and
visibility. Unrecognized sources are refused before execution;
projection-only queries (``SELECT 1``) stay available.

The reference resolves sources with sqlglot scopes; sqlglot is not
available here, so sources are read conservatively off the text as
``sql/fragments.tokens`` lexes it (literals and comments blanked): every
``FROM``/``JOIN`` target identifier anywhere in the query (including
inside derived tables — the global scan naturally covers nested
scopes), minus declared CTE names. Anything that defeats the scan
(quoted identifiers, table functions) fails closed.
"""

from __future__ import annotations

import re

from sidemantic_spark.sql.fragments import tokens


class TransportSecurityError(Exception):
    pass


def has_declared_security(layer) -> bool:
    return any(
        getattr(m, "security", None) is not None
        for m in layer.graph.models.values()
    )


def has_enforced_column_restrictions(layer) -> bool:
    """Visibility enforcement with something to hide. Our layer enforces
    visibility by default (unlike the reference, where the flag is
    opt-in and therefore the boundary by itself), so the control
    activates only when the graph actually declares hidden fields —
    otherwise every default-configured layer would refuse passthrough
    SQL it has no policy interest in."""
    if not getattr(layer, "enforce_visibility", False):
        return False
    for m in layer.graph.models.values():
        if any(not d.public for d in m.dimensions):
            return True
        if any(not x.public for x in m.metrics):
            return True
    return False


def controls_are_active(layer) -> bool:
    return has_declared_security(layer) or has_enforced_column_restrictions(layer)


# NB: the comma alternative must not carry a leading \b — after a
# closing paren (`), cnt AS (`) there is no word boundary before the
# comma, so `\b(?:WITH|,)` silently missed every CTE after the first
_CTE_RE = re.compile(r"(?:\bWITH\b|,)\s+([A-Za-z_]\w*)\s+AS\s*\(", re.I)
_SOURCE_RE = re.compile(r"\b(?:FROM|JOIN)\s+([A-Za-z_][\w.]*|\S)", re.I)
_SAFE_NONTABLE = {"unnest", "values", "range", "lateral"}


def unrecognized_sources(sql: str, layer) -> list[str]:
    """Source tables that are neither semantic models nor local CTEs.
    Returns ``['<unparseable SQL>']`` when the query defeats the lexer
    (fail closed)."""
    text = "".join({"string": "''", "comment": " "}.get(kind, t)
                   for t, kind, _depth in tokens(sql))
    ctes = {m.group(1).lower() for m in _CTE_RE.finditer(text)}
    allowed = {n.lower() for n in layer.graph.models} | ctes | {"metrics"}
    out: set[str] = set()
    for m in _SOURCE_RE.finditer(text):
        tok = m.group(1)
        if tok == "(":
            continue  # derived table; its inner FROMs are scanned too
        if not re.fullmatch(r"[A-Za-z_][\w.]*", tok):
            return ["<unparseable SQL>"]
        base = tok.split(".")[-1].lower()
        nxt = text[m.end():m.end() + 1]
        if nxt == "(":
            if base in _SAFE_NONTABLE:
                continue
            return ["<unparseable SQL>"]  # unknown table function
        # exact (bare) match only: models and CTEs are registered as
        # bare names, so a QUALIFIED token (spark_catalog.default.orders)
        # whose last segment merely matches a model name is a raw
        # catalog read that would bypass row policies — refuse it
        if tok.lower() not in allowed:
            out.add(tok)
    return sorted(out)


def rewrite_transport_sql(layer, query: str, *, user: dict | None = None,
                          transport: str = "sql") -> str:
    """Gate + rewrite: refuse source reads the compiler cannot secure,
    else return the rewritten Spark SQL."""
    if controls_are_active(layer):
        bad = unrecognized_sources(query, layer)
        if bad:
            raise TransportSecurityError(
                f"{transport} refused non-semantic source(s) "
                f"{', '.join(bad)} while security controls are active"
            )
    return layer.rewrite(query, user=user)
