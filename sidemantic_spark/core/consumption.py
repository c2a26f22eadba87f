"""Consumption contracts: Explore (curated entrypoint) and SavedQuery.

Re-expression of the reference's ``core/consumption.py:100,168``:
an Explore constrains callers to field allowlists (dimensions, metrics,
filter fields, order-by fields), injects defaults and mandatory
filters, and caps limits; a SavedQuery is a named immutable structured
query, optionally governed by an Explore. Both resolve at compile time
(``core/semantic_layer.py:923``) — pure metadata, no execution-side
cost.

Expression helpers mirror the reference's
``expression_field_references`` / ``qualify_expression_fields``
(``core/consumption.py:11-67``): bare known fields qualify with the
base model, columns inside subqueries are left alone (their scope is
the subquery), but model-qualified refs anywhere — including
correlated refs inside EXISTS — still count as references for
allowlist enforcement.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from sidemantic_spark.sql.fragments import LITERALS, segments, subquery_spans


class ContractError(Exception):
    pass


# tokens that appear in filter EXPRESSIONS but are not field refs
_SQL_WORDS = {
    "AND", "OR", "NOT", "IN", "IS", "NULL", "LIKE", "BETWEEN", "TRUE",
    "FALSE", "CASE", "WHEN", "THEN", "ELSE", "END", "EXISTS", "CAST",
    "DATE", "TIMESTAMP", "INTERVAL",
    # niladic functions: bare tokens that are SQL, not field refs
    # (reference expression_field_references only collects exp.Column
    # nodes, so CURRENT_DATE never flags there either). Interval UNIT
    # words (DAY/MONTH/...) are NOT listed here — a model can
    # legitimately have a dimension named `year`/`month`, and skipping
    # those bare tokens would fail-open the allowlist lint; they are
    # instead blanked positionally by _INTERVAL_RE below, which only
    # matches the unit in `INTERVAL '<n>' <unit>` position.
    "CURRENT_DATE", "CURRENT_TIMESTAMP", "CURRENT_TIME", "LOCALTIME",
    "LOCALTIMESTAMP", "CURRENT_USER", "SESSION_USER",
}

_INTERVAL_RE = re.compile(
    r"\bINTERVAL\s+('[^']*'|\d+)\s+[A-Za-z_]+\b", re.I
)


def _qualify(value: str, model: str) -> str:
    base = value.split(" ", 1)[0]
    return value if "." in base else f"{model}.{value}"


_IDENT_RE = re.compile(
    r"(?<![\w.])[A-Za-z_][A-Za-z0-9_]*(?:__[a-z]+)?(?!\s*\()(?![\w.])"
)
_DOTTED_RE = re.compile(
    r"(?<![\w.])([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*(?:__[a-z]+)?)(?![\w.])"
)


def qualify_expression_fields(
    expressions: list[str],
    base_model: str,
    known_fields: set[str] | None = None,
) -> list[str]:
    """Prefix bare known-field tokens with the base model; tokens inside
    string literals and subqueries stay untouched (a subquery column
    resolves in its own scope). Without ``known_fields`` the
    leading-token heuristic applies (legacy behavior)."""
    out: list[str] = []
    for expr in expressions:
        if known_fields is None:
            out.append(_qualify(expr, base_model))
            continue
        spans = subquery_spans(expr)

        def in_subquery(pos: int) -> bool:
            return any(s <= pos < e for s, e in spans)

        pieces: list[str] = []
        offset = 0
        for seg, literal in segments(expr, LITERALS):
            if literal:
                pieces.append(seg)
                offset += len(seg)
                continue

            def sub(m: re.Match) -> str:
                tok = m.group(0)
                if in_subquery(offset + m.start()):
                    return tok
                if tok.split("__", 1)[0] in known_fields:
                    return f"{base_model}.{tok}"
                return tok

            pieces.append(_IDENT_RE.sub(sub, seg))
            offset += len(seg)
        out.append("".join(pieces))
    return out


def expression_field_references(
    expressions: list[str],
    base_model: str,
    known_fields: set[str] | None = None,
    graph_models: set[str] | None = None,
) -> set[str]:
    """Semantic field refs in contract expressions, for allowlist
    enforcement. Bare known fields (outside subqueries) count as
    ``base_model.field``; dotted ``model.field`` refs count wherever
    they appear — including correlated refs inside EXISTS subqueries —
    when the qualifier is a known graph model (a subquery-local alias
    is not a semantic ref)."""
    refs: set[str] = set()
    models = {base_model} | (graph_models or set())
    for expr in expressions:
        spans = subquery_spans(expr)

        def in_subquery(pos: int) -> bool:
            return any(s <= pos < e for s, e in spans)

        offset = 0
        for seg, literal in segments(expr, LITERALS):
            if literal:
                offset += len(seg)
                continue
            for m in _DOTTED_RE.finditer(seg):
                if m.group(1) in models:
                    refs.add(f"{m.group(1)}.{m.group(2)}")
            if known_fields is not None:
                for m in _IDENT_RE.finditer(seg):
                    if in_subquery(offset + m.start()):
                        continue
                    if m.group(0).split("__", 1)[0] in known_fields:
                        refs.add(f"{base_model}.{m.group(0)}")
            offset += len(seg)
    return refs


def _strip_grain(ref: str) -> str:
    return ref.split("__", 1)[0]


@dataclass
class Explore:
    name: str
    model: str
    label: str | None = None
    description: str | None = None
    allowed_dimensions: list[str] | None = None  # None = unrestricted
    allowed_metrics: list[str] | None = None
    allowed_filter_fields: list[str] | None = None
    allowed_order_by: list[str] | None = None
    default_dimensions: list[str] = field(default_factory=list)
    default_metrics: list[str] = field(default_factory=list)
    filters: list[str] = field(default_factory=list)  # mandatory
    default_filters: list[str] = field(default_factory=list)
    default_order_by: list[str] = field(default_factory=list)
    default_limit: int | None = None
    max_limit: int | None = None

    def __post_init__(self) -> None:
        if (
            self.default_limit is not None
            and self.max_limit is not None
            and self.default_limit > self.max_limit
        ):
            raise ContractError(f"explore {self.name!r}: default_limit exceeds max_limit")
        for kind, allowed, defaults in (
            ("dimensions", self.allowed_dimensions, self.default_dimensions),
            ("metrics", self.allowed_metrics, self.default_metrics),
        ):
            if allowed is not None:
                allow = {_qualify(v, self.model) for v in allowed}
                bad = [v for v in defaults if _qualify(v, self.model) not in allow]
                if bad:
                    raise ContractError(
                        f"explore {self.name!r}: default_{kind} not allowed: {bad}"
                    )
        # defaults must satisfy their own allowlists too (reference
        # core/consumption.py explore validators,
        # tests/core/test_consumption_types.py:56-87)
        if self.allowed_filter_fields is not None:
            # same extraction semantics as the user-filter path below
            # (_IDENT_RE skips function names, subquery bodies resolve in
            # their own scope, grains strip before the allowlist match) —
            # a graph isn't available at construction, so bare tokens
            # that aren't SQL words count as field refs
            allow_f = {
                _qualify(_strip_grain(v), self.model)
                for v in self.allowed_filter_fields
            }
            for f in self.default_filters:
                # interval literals collapse to an opaque SQL token so
                # their unit word (DAY/WEEK/...) is never scanned as a
                # field ref, while a COLUMN named `day`/`year` outside
                # interval position still lints against the allowlist
                f = _INTERVAL_RE.sub(" NULL ", f)
                spans = subquery_spans(f)
                fields: set[str] = set()
                offset = 0
                for seg, literal in segments(f, LITERALS):
                    if literal:
                        offset += len(seg)
                        continue
                    for m in _DOTTED_RE.finditer(seg):
                        # only the explore's own model qualifies at
                        # construction time — a subquery-local alias
                        # (`a.r`, correlated `audit.id`) is not a
                        # semantic field (mirrors the user path's
                        # known-model restriction)
                        if m.group(1) == self.model:
                            fields.add(f"{m.group(1)}.{m.group(2)}")
                    for m in _IDENT_RE.finditer(seg):
                        if any(s <= offset + m.start() < e for s, e in spans):
                            continue
                        tok = m.group(0)
                        if tok.upper() in _SQL_WORDS:
                            continue
                        fields.add(_qualify(tok, self.model))
                    offset += len(seg)
                bad_f = sorted(
                    t for t in {
                        _qualify(_strip_grain(x), self.model) for x in fields
                    }
                    if t not in allow_f
                )
                if bad_f:
                    raise ContractError(
                        f"explore {self.name!r}: default_filters reference "
                        f"fields outside allowed_filter_fields: {bad_f}"
                    )
        if self.allowed_order_by is not None:
            allow_o = {
                _qualify(_strip_grain(v), self.model)
                for v in self.allowed_order_by
            }
            for o in self.default_order_by:
                base = re.sub(r"\s+(ASC|DESC)\s*$", "", o.strip(), flags=re.I)
                if _qualify(_strip_grain(base), self.model) not in allow_o:
                    raise ContractError(
                        f"explore {self.name!r}: default_order_by {o!r} not in "
                        "allowed_order_by"
                    )

    def _known_fields(self, graph) -> set[str] | None:
        if graph is None:
            return None
        model = graph.models.get(self.model)
        if model is None:
            return None
        return (
            {d.name for d in model.dimensions}
            | {m.name for m in model.metrics}
            | {s.name for s in getattr(model, "segments", [])}
        )

    def resolve(self, kwargs: dict, graph=None) -> dict:
        """Apply the contract to query kwargs; returns updated kwargs."""
        out = dict(kwargs)
        metrics = [_qualify(m, self.model) for m in (out.get("metrics") or [])]
        dims = [_qualify(d, self.model) for d in (out.get("dimensions") or [])]
        if not metrics and not dims:
            metrics = [_qualify(m, self.model) for m in self.default_metrics]
            dims = [_qualify(d, self.model) for d in self.default_dimensions]
        if not metrics and not dims:
            # an explore with allowlists but no defaults cannot compile
            # an empty selection (reference raises the same way,
            # tests/core/test_consumption_compiler.py:148-170)
            raise ContractError(
                f"explore {self.name!r}: must select at least one metric "
                "or dimension (no defaults configured)"
            )
        if self.allowed_metrics is not None:
            allow = {_qualify(v, self.model) for v in self.allowed_metrics}
            bad = [m for m in metrics if m not in allow]
            if bad:
                raise ContractError(f"explore {self.name!r}: metrics not allowed: {bad}")
        if self.allowed_dimensions is not None:
            allow = {_qualify(v, self.model) for v in self.allowed_dimensions}
            bad = [d for d in dims if d not in allow]
            if bad:
                raise ContractError(
                    f"explore {self.name!r} does not allow dimension(s) "
                    f"{bad} (not allowed by contract)"
                )
        known = self._known_fields(graph)
        graph_models = set(graph.models) if graph is not None else None
        user_filters = list(out.get("filters") or [])
        if self.allowed_filter_fields is not None and user_filters:
            allow = {_qualify(_strip_grain(v), self.model) for v in self.allowed_filter_fields}
            refs = expression_field_references(
                user_filters, self.model, known, graph_models
            )
            bad_refs = sorted(
                r for r in refs
                if _qualify(_strip_grain(r), self.model) not in allow
            )
            if bad_refs:
                raise ContractError(
                    f"explore {self.name!r} does not allow filter field(s) "
                    f"{bad_refs} (not allowed by contract)"
                )
            # fail closed on subqueries that read semantic tables: an
            # alias (`FROM orders o ... o.priority`) hides the column
            # refs from extraction, reopening the aggregate
            # side-channel the allowlist exists to close. Subqueries
            # over non-semantic tables (allowed-values lookups) pass.
            if graph_models:
                for f in user_filters:
                    for s, e in subquery_spans(f):
                        body = f[s:e]
                        hit = next(
                            (m for m in graph_models if re.search(
                                rf"\b(?:FROM|JOIN)\s+{re.escape(m)}\b",
                                body, re.I)),
                            None,
                        )
                        if hit is not None:
                            raise ContractError(
                                f"explore {self.name!r} does not allow "
                                f"filter subqueries scanning model {hit!r} "
                                "(not allowed: aliased column access is "
                                "unauditable)"
                            )
        filters = user_filters or qualify_expression_fields(
            self.default_filters, self.model, known
        )
        filters = qualify_expression_fields(self.filters, self.model, known) + filters
        user_order = list(out.get("order_by") or [])
        if self.allowed_order_by is not None and user_order:
            allow = {
                _qualify(_strip_grain(v), self.model)
                for v in self.allowed_order_by
            }
            for o in user_order:
                ref = re.sub(r"\s+(ASC|DESC)\s*$", "", o.strip(), flags=re.I)
                # the grain variant of an allowed field is the same
                # field (mirrors the filter-allowlist strip above)
                if _qualify(_strip_grain(ref), self.model) not in allow:
                    raise ContractError(
                        f"explore {self.name!r} does not allow ordering by "
                        f"{ref!r} (not allowed by contract)"
                    )
        order_by = user_order or qualify_expression_fields(
            self.default_order_by, self.model, known
        )
        limit = out.get("limit")
        if (
            limit is not None
            and self.max_limit is not None
            and limit > self.max_limit
        ):
            # an explicit request above the cap is an error, not a
            # silent truncation (reference 'exceeds max_limit')
            raise ContractError(
                f"explore {self.name!r}: limit {limit} exceeds max_limit "
                f"{self.max_limit}"
            )
        if limit is None:
            limit = self.default_limit
        if self.max_limit is not None and limit is None:
            limit = self.max_limit
        out.update(
            metrics=metrics, dimensions=dims, filters=filters,
            order_by=order_by, limit=limit,
        )
        return out


@dataclass
class SavedQuery:
    name: str
    metrics: list[str] = field(default_factory=list)
    dimensions: list[str] = field(default_factory=list)
    filters: list[str] = field(default_factory=list)
    segments: list[str] = field(default_factory=list)
    order_by: list[str] = field(default_factory=list)
    limit: int | None = None
    parameters: dict | None = None
    explore: str | None = None
    label: str | None = None
    description: str | None = None
    # reference core/consumption.py SavedQuery.visibility default
    visibility: str = "public"

    def __post_init__(self) -> None:
        if self.limit is not None and self.limit < 0:
            raise ContractError(
                f"saved query {self.name!r}: limit must be >= 0"
            )

    def as_kwargs(self) -> dict:
        out: dict = {
            "metrics": list(self.metrics),
            "dimensions": list(self.dimensions),
            "filters": list(self.filters),
            "segments": list(self.segments),
            "order_by": list(self.order_by),
        }
        if self.limit is not None:
            out["limit"] = self.limit
        if self.parameters:
            out["parameters"] = dict(self.parameters)
        return out


# the reference exports View as an alias of Explore (Looker-style
# naming; tests/core/test_consumption_types.py asserts View is Explore)
View = Explore
