"""Semantic-SQL rewriter: plain SELECT text over models -> compiled
Spark SQL.

Re-expression of the reference's second compiler
(``sql/query_rewriter.py:170`` ``QueryRewriter.rewrite``): users write
``SELECT orders.revenue, orders.status FROM orders WHERE ...`` treating
models as tables and metrics/dimensions as columns; the rewriter
extracts metrics/dims/filters/order/limit (ref ``:5898-6008``,
``:6009-6185``), handles top-level set operations per branch (ref
``:5330-5392``), and hands a structured query to the generator.

sqlglot is unavailable here, so parsing is a quote/paren-aware clause
splitter over the supported semantic-SQL surface. Unsupported SQL
raises with a pointer to the structured API; arbitrary warehouse SQL
should go straight to ``spark.sql``.

A rewrite is request-scoped, so concurrent clients can share one
rewriter. Each call compiles on its own copy of the rewriter. Fields the
query needs but the graph lacks (``COUNT(*)``, an aggregate over a raw
column, a function of a dimension, a raw table in a JOIN) go into a
request-local fork of the graph, never into the shared one.
"""

from __future__ import annotations

import copy
import dataclasses
import re
from dataclasses import dataclass, field

from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship
from sidemantic_spark.preagg.matcher import grain_derivable
from sidemantic_spark.sql.fragments import (
    LITERALS,
    close_paren,
    split_alias,
    split_items,
    split_top,
    strip_comments,
    sub_code,
)
from sidemantic_spark.sql.generator import (
    _SQL_KEYWORDS,
    CompileCache,
    QueryCompileError,
    QuerySpec,
    _key_part,
    read_header,
)

_CLAUSES = ["WHERE", "GROUP BY", "HAVING", "QUALIFY", "ORDER BY", "LIMIT", "OFFSET"]
_SET_OPS = ["UNION ALL", "UNION", "INTERSECT", "EXCEPT"]
# tokens that can follow a table name in a FROM clause and are therefore
# never table aliases
_JOIN_KEYWORDS = ("ON", "JOIN", "LEFT", "RIGHT", "INNER", "FULL", "OUTER",
                  "CROSS", "USING")


def _strip(sql: str) -> str:
    """Remove comments and a trailing ``;``. Comments are tokens, so an
    apostrophe inside one (``/* don't */``) opens no literal."""
    return strip_comments(sql).strip().rstrip(";").strip()


def _normalize_compound_keywords(sql: str) -> str:
    """Collapse internal whitespace in two-word clause keywords
    (``GROUP   BY`` -> ``GROUP BY``) outside literals and quoted names —
    clause values are keyed by the one spelling (ref corpus
    tests/fixtures/sql/yardstick/measures.test 'extra spaces' case)."""
    return sub_code(sql, lambda t: re.sub(
        r"\b(GROUP|ORDER)\s+BY\b", lambda m: f"{m.group(1).upper()} BY",
        t, flags=re.I,
    ))


_AGGREGATE_REF_RE = re.compile(r"\bAGGREGATE\s*\(\s*(\"[^\"]+\"|[\w.]+)\s*\)", re.I)


def _normalize_cast_types(sql: str) -> str:
    """Map DuckDB/Postgres type names Spark lacks onto Spark spellings
    in postfix casts (``x::VARCHAR`` -> ``x::STRING``) and CAST calls.
    Spark parses ``::`` natively (3.4+); only the bare length-less
    VARCHAR/TEXT type names fail (ref corpus measures.test ::VARCHAR
    family). Literals and quoted names are left as written."""
    # postfix form only: `AS VARCHAR` inside CAST() can't be told apart
    # from a column alias literally named "varchar" by regex
    return sub_code(sql, lambda t: re.sub(
        r"(::\s*)(?:VARCHAR|TEXT)\b(?!\s*\()", r"\1STRING", t, flags=re.I,
    ))


def _yardstick_normalize(sql: str) -> str:
    """Yardstick flavor (reference ``sql/query_rewriter.py:3007-3043``):
    ``SEMANTIC SELECT ...`` prefix and ``AGGREGATE(measure)`` refs.
    ``AGGREGATE(x)`` unwraps to the bare measure ref — the semantic
    planner supplies the aggregation from the metric definition.
    ``AGGREGATE(x) AT (...)`` is left intact for the AT-modifier path
    (the AGGREGATE form carries a different visibility default than a
    bare ``measure AT (...)`` — ref ``:3717-3760``)."""
    sql = re.sub(r"^\s*SEMANTIC\s+", "", sql, flags=re.I)
    # schema-qualified AGGREGATE (`schema.AGGREGATE(m)`) is the same
    # function (ref test_yardstick_schema_qualified_aggregate_function)
    sql = re.sub(r"\b\w+\.(AGGREGATE\s*\()", r"\1", sql, flags=re.I)
    # curly measure refs `{revenue}` -> bare refs; `{{ param }}` Jinja
    # braces are untouched (inner braces are brace-adjacent). A literal
    # like WHERE tag = '{code}' must survive intact
    sql = sub_code(
        sql, lambda t: re.sub(r"(?<!\{)\{\s*(\w+)\s*\}(?!\})", r"\1", t)
    )
    # AGGREGATE() wrappers are PRESERVED here: the wrapper carries the
    # visibility default (AGGREGATE(m) sees the query WHERE, a bare
    # measure ref on a measure view ignores it — ref
    # query_rewriter.py:3717-3760 and the paper Listing-8 family), so a
    # global unwrap would erase the distinction before the planner
    # classifies the items. The classic (non-AT, non-measure-view)
    # select path unwraps locally in _strip_aggregate_wrappers.
    return sql


def _strip_aggregate_wrappers(text: str) -> str:
    """Unwrap ``AGGREGATE(measure)`` to the bare ref for the classic
    grouped path (the semantic planner supplies the aggregation from
    the metric definition); AT-followed calls stay wrapped."""

    def sub(m: re.Match) -> str:
        if re.match(r"\s*AT\s*\(", text[m.end():], re.I):
            return m.group(0)
        return m.group(1).strip('"').replace(" ", "_")

    return _AGGREGATE_REF_RE.sub(sub, text)


_AT_HEAD_RE = re.compile(
    # the bare-ref form REQUIRES whitespace before AT: without it the
    # ref atom backtracks into any identifier ending in "AT" —
    # `CONCAT(...)` parsed as measure `CONC` + modifier `AT (...)`
    # (r12 probe finding; the AGGREGATE form is boundary-safe via its
    # closing paren)
    r"^(?:(AGGREGATE)\s*\(\s*([A-Za-z_][\w.]*)\s*\)\s*|([A-Za-z_][\w.]*)\s+)"
    r"(AT\s*\(.*)$",
    re.I | re.S,
)


def _parse_at_item(item: str):
    """Parse a select item of the Yardstick context-modifier form
    ``AGGREGATE(measure) AT (mod) [AT (mod)]...`` or
    ``measure AT (mod)...`` (ref ``sql/query_rewriter.py:3630-3760``).
    Returns ``(measure_ref, is_aggregate_form, [modifier, ...], alias)``
    or None if the item is not an AT call."""
    expr, alias = split_alias(item)
    m = _AT_HEAD_RE.match(expr.strip())
    if not m:
        return None
    is_agg = bool(m.group(1))
    ref = m.group(2) or m.group(3)
    rest = m.group(4)
    mods: list[str] = []
    i = 0
    while True:
        mm = re.match(r"\s*AT\s*\(", rest[i:], re.I)
        if not mm:
            break
        j = i + mm.end()
        k = close_paren(rest, j - 1)
        if k is None:
            raise QueryCompileError(f"unclosed AT (...) modifier: {item!r}")
        mods.append(rest[j:k].strip())
        i = k + 1
    if rest[i:].strip() or not mods:
        return None
    return ref, is_agg, mods, alias


def _scan_aggregate_terms(expr: str):
    """Find every ``AGGREGATE(ref) [AT (...)]...`` term inside an
    arbitrary expression. Returns ``(template, terms)`` where each term
    in the template is replaced by ``\x00T{n}\x00`` and ``terms[n]`` is
    ``(ref, [modifier, ...])`` (empty mods = plain aggregate)."""
    terms: list[tuple[str, list[str]]] = []
    out: list[str] = []
    i = 0
    while i < len(expr):
        m = re.match(r"AGGREGATE\s*\(\s*([A-Za-z_][\w.]*)\s*\)", expr[i:], re.I)
        if m and (i == 0 or not (expr[i - 1].isalnum() or expr[i - 1] == "_")):
            ref = m.group(1)
            j = i + m.end()
            mods: list[str] = []
            while True:
                am = re.match(r"\s*AT\s*\(", expr[j:], re.I)
                if not am:
                    break
                k = close_paren(expr, j + am.end() - 1)
                if k is None:
                    raise QueryCompileError(f"unclosed AT (...) in {expr!r}")
                mods.append(expr[j + am.end() : k].strip())
                j = k + 1
            out.append(f"\x00T{len(terms)}\x00")
            terms.append((ref, mods))
            i = j
        else:
            out.append(expr[i])
            i += 1
    return "".join(out), terms


_AGG_ITEM_RE = re.compile(r"^(SUM|MIN|MAX)\s*\(\s*([A-Za-z_]\w*)\s*\)$", re.I)
_DTRUNC_ITEM_RE = re.compile(
    r"^DATE_TRUNC\s*\(\s*'(\w+)'\s*,\s*([A-Za-z_]\w*)\s*\)$", re.I
)
_ROWNUM_RE = re.compile(
    r"^(ROW_NUMBER|RANK|DENSE_RANK)\s*\(\s*\)\s*OVER\s*\("
    r"\s*(?:PARTITION\s+BY\s+(.*?))?\s*ORDER\s+BY\s+(.+?)\s*\)$",
    re.I | re.S,
)


@dataclass
class _InnerParse:
    """A simple single-model semantic SELECT decomposed for wrapper
    rules: classified items with their output column names, plus an
    optional single ROW_NUMBER/RANK window item."""

    base: str
    entries: list = field(default_factory=list)  # (out, kind, ref, alias)
    rn: tuple | None = None  # (out, window_sql)
    clause_vals: dict = field(default_factory=dict)
    distinct: bool = False

    @property
    def colmap(self) -> dict:
        return {out: (kind, ref) for out, kind, ref, _a in self.entries}


# an ORDER BY item that is one double-quoted name, with its direction
_QUOTED_ORDER_RE = re.compile(
    r'("(?:[^"\\]|\\.|"")+")(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?',
    re.I,
)


def _peel_clauses(select_list: str, tail: str) -> tuple[str, dict[str, str]]:
    """Split the text after FROM into what precedes its clauses and
    ``{keyword: clause text}``, peeled right-to-left so earlier splits
    don't eat later keywords. A double-quoted ORDER BY item names an
    output column of ``select_list``, as DuckDB and Postgres read it
    (Spark would sort by a string constant); one that names none
    raises."""
    clause_vals: dict[str, str] = {}
    for kw in reversed(_CLAUSES):
        parts = split_top(tail, kw)
        if len(parts) > 1:
            clause_vals[kw] = parts[-1].strip()
            tail = parts[0]
    order = split_items(clause_vals.get("ORDER BY", ""))
    quoted = [_QUOTED_ORDER_RE.fullmatch(o) for o in order]
    if any(quoted):
        names = {}
        for item in split_items(select_list):
            expr, alias = split_alias(item)
            name = alias or expr.rpartition(".")[2]
            names[name.strip("`").replace("``", "`").lower()] = name
        for i, m in enumerate(quoted):
            if m:
                name = names.get(m.group(1)[1:-1].replace('""', '"').lower())
                if name is None:
                    raise QueryCompileError(
                        f"ORDER BY {m.group(1)} names no output column")
                order[i] = name + order[i][m.end(1):]
        clause_vals["ORDER BY"] = ", ".join(order)
    return tail, clause_vals


def _out_name(kind: str, full_ref: str, alias: str | None) -> str:
    if alias:
        return alias
    return full_ref.split(".", 1)[1]


class SemanticSqlRewriter:
    def __init__(self, layer) -> None:
        self.layer = layer
        self._cache = CompileCache()
        # benchmark/debug escape hatch: False keeps wrapper queries on
        # the naive island-only rewrite (wrapper executed verbatim), the
        # baseline the reference's planner benchmark compares against
        self.wrapper_rules_enabled = True

    # -- public -------------------------------------------------------

    def rewrite(self, sql: str, user: dict | None = None,
                use_preaggs: bool = True, preagg_strict: bool = False) -> str:
        """Semantic SQL text -> executable Spark SQL, every semantic
        island compiled with ``user`` and the per-request modes."""
        return self._rewrite(sql, user, use_preaggs, preagg_strict)[0]

    def _rewrite(self, sql: str, user: dict | None = None,
                 use_preaggs: bool = True, preagg_strict: bool = False) -> tuple:
        """``(compiled SQL, applied rules, rejected rules, pushed
        filters)`` of one request. The request compiles on its own
        shallow copy of this rewriter, which shares only the cache: its
        user, modes, rule lists and graph are its own, so concurrent
        clients never see each other's state."""
        request = dict(user=user, use_preaggs=use_preaggs,
                       preagg_strict=preagg_strict)
        key = self.layer.generator.state_key() + (
            self.wrapper_rules_enabled, sql, *map(_key_part, request.values()))
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        req = copy.copy(self)
        # the user and modes are stamped onto every compiled QuerySpec,
        # so transport SQL (pgwire/HTTP/MCP) gets the row policies of the
        # structured API (ref tests/test_mcp_security.py)
        req._request = request
        # the shared graph until the first ad-hoc field forks it (_own)
        req.graph, req.generator = self.layer.graph, self.layer.generator
        req._applied_rules, req._rejected_rules, req._pushed_filters = [], [], []
        req._inner_join_models, req._extra_scope = [], []
        out = req._rewrite_node(
            _yardstick_normalize(
                _normalize_cast_types(
                    _normalize_compound_keywords(_strip(sql))
                )
            )
        )
        return self._cache.put(key, (
            out, tuple(req._applied_rules), tuple(req._rejected_rules),
            tuple(req._pushed_filters),
        ))

    def explain(self, sql: str) -> dict:
        """Rewrite plan summary (reference's RewriteExplanation:
        chosen plan + applied/rejected optimization rules)."""
        compiled, applied, rejected, pushed = self._rewrite(sql)
        header = read_header(compiled.splitlines()[0] if compiled else "")
        models = header.get("models", "")
        # post-process: a compiled island whose instrumentation header
        # sits INSIDE preserved outer SQL (wrapper/CTE kept) — the
        # reference's semantic_plus_postprocess route; a header at
        # position 0 with no nested header is the direct route
        hdr = compiled.find("-- sidemantic_spark")
        post_process = hdr > 0 or (
            hdr == 0 and "-- sidemantic_spark" in compiled[1:]
        )
        return {
            "input_sql": sql,
            "compiled_sql": compiled,
            "plan": header.get("plan", "unknown"),
            "models": models.split(",") if models else [],
            # the rollup's physical name, as explain_plan reports it
            "used_preagg": header.get("used_preagg"),
            "applied_rules": list(applied),
            "rejected_rules": list(rejected),
            # reference RewriteExplanation parity (r11): which outer
            # predicates were folded into the semantic spec, whether a
            # wrapper survives as post-process, and the FROM source
            "pushed_filters": list(pushed),
            "post_process": post_process,
            "source_kind": (
                "metrics"
                if re.search(r"\bFROM\s+metrics\b", sql, re.I)
                else "model"
            ),
        }

    # -- internals ----------------------------------------------------

    def _generate(self, spec):
        # stamp the request onto every compiled spec so access checks,
        # row policies and modes apply exactly as in layer.query(...)
        return self.generator.generate(dataclasses.replace(spec, **self._request))

    def _own(self, model: Model) -> None:
        """Put ``model`` (an ad-hoc model, or a request copy of a model
        gaining an ad-hoc field) into this request's graph. The first
        call forks the shared graph: a new ``models`` dict and join-path
        caches, compiled by a copy of the shared generator (its flags)
        with an empty cache. The shared graph is never written."""
        if self.graph is self.layer.graph:
            graph = copy.copy(self.graph)
            graph.models, graph._path_cache = dict(graph.models), {}
            gen = copy.copy(self.generator)
            gen.graph, gen._cache = graph, CompileCache()
            self.graph, self.generator = graph, gen
        self.graph.models[model.name] = model
        self.graph._invalidate()

    def _add_field(self, model_name: str, kind: str, item) -> None:
        """Add ``item`` to the ``kind`` list (``metrics``, ``dimensions``
        or ``relationships``) of this request's copy of ``model_name``,
        unless a field of that name is already there."""
        model = copy.copy(self.graph.get_model(model_name))
        if all(x.name != item.name for x in getattr(model, kind)):
            setattr(model, kind, [*getattr(model, kind), item])
            model.reindex()
            self._own(model)

    def _adhoc_models(self) -> set:
        """Models this request added: raw tables named in explicit joins."""
        return self.graph.models.keys() - self.layer.graph.models.keys()

    def _rewrite_node(self, sql: str) -> str:
        # CTAS / INSERT ... SELECT: the DDL/DML prefix passes through and
        # the SELECT part compiles semantically (ref
        # test_yardstick_ctas_and_insert_select_with_aggregate)
        ddl = re.match(
            r"^\s*(CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+|TEMP\s+)?"
            r"(?:TABLE|VIEW)\s+[\w.]+\s+AS"
            r"|INSERT\s+INTO\s+[\w.]+(?:\s*\([^)]*\))?)"
            r"\s+((?:SELECT|WITH|SEMANTIC)\b.*)$",
            sql, re.I | re.S,
        )
        if ddl:
            return ddl.group(1) + "\n" + self._rewrite_node(ddl.group(2))
        # CTE islands: rewrite each WITH body that is a semantic query,
        # leave plain-SQL bodies and the outer statement intact
        # (ref sql/query_rewriter.py:4913-4973, :5299-5461)
        if re.match(r"^\s*WITH\b", sql, re.IGNORECASE):
            return self._rewrite_with(sql)
        # top-level set operations: rewrite each branch independently
        # (ref sql/query_rewriter.py:4974-4983, :5330-5392). A branch
        # with NO semantic island — a FROM-less literal arm
        # (`SELECT 'SENTINEL', -1`), a plain-table arm — passes through
        # verbatim: only island branches compile semantically (r12
        # probe: the literal arm used to be forced through
        # _rewrite_select and die on "needs a FROM clause")
        for op in _SET_OPS:
            parts = split_top(sql, op)
            if len(parts) > 1:
                branches = [
                    self._rewrite_node(p.strip())
                    if self._has_semantic_island(p)
                    else p.strip()
                    for p in parts
                ]
                joined = f"\n{op}\n".join(f"({b})" for b in branches)
                return joined
        # wrapper-shaped queries over a semantic island: apply the
        # semantic optimization rules (the ones that change which plan /
        # rollup is used — ref sql/query_rewriter.py:638-2428, SURVEY §4)
        if self.wrapper_rules_enabled:
            opt = self._try_wrapper_rules(sql)
            if opt is not None:
                return opt
        # FROM-subquery island: SELECT ... FROM (<semantic select>) alias
        sub = self._rewrite_from_subquery(sql)
        if sub is not None:
            return sub
        return self._rewrite_select(sql)

    def _is_semantic(self, sql: str, shadowed: set[str] | None = None) -> bool:
        """Does this SELECT's FROM name a registered model?  ``shadowed``
        names (in-scope CTEs) take precedence per SQL scoping rules —
        a CTE named like a model must NOT resolve to the model."""
        m = re.match(r"^\s*SELECT\b", sql, re.IGNORECASE)
        if not m:
            return False
        parts = split_top(sql, "FROM")
        if len(parts) < 2:
            return False
        tail = parts[1].strip()
        m = re.match(r"([A-Za-z_][A-Za-z0-9_]*)", tail)
        if not m:
            return False
        if shadowed and m.group(1) in shadowed:
            return False
        # `FROM metrics` is the virtual catalog table — semantic even
        # though no model is named (ref test_from_metrics_in_cte: the
        # island sat inside a CTE body and shipped to Spark raw)
        if m.group(1).lower() == "metrics":
            return True
        return m.group(1) in self.graph.models

    def _has_semantic_island(
        self, text: str, shadowed: set[str] | None = None
    ) -> bool:
        """Does this statement contain a semantic query anywhere the
        node rewriter would compile one — directly, in a set-op branch,
        or inside a derived table? Shadow-aware: CTE names take
        precedence over models (r11: WITH bodies/outers holding
        wrapped islands used to ship raw model refs to Spark)."""
        if self._is_semantic(text, shadowed=shadowed):
            return True
        for op in _SET_OPS:
            parts = split_top(text, op)
            if len(parts) > 1:
                return any(
                    self._has_semantic_island(p.strip(), shadowed)
                    for p in parts
                )
        parts = split_top(text, "FROM")
        if len(parts) > 1:
            tail = parts[1].lstrip()
            if tail.startswith("("):
                end = close_paren(tail)
                if end is not None:
                    return self._has_semantic_island(
                        tail[1:end].strip(), shadowed
                    )
        return False

    def _rewrite_with(self, sql: str) -> str:
        body = re.sub(r"^\s*WITH\b", "", sql, count=1, flags=re.IGNORECASE)
        recursive = ""
        m_rec = re.match(r"\s*RECURSIVE\b", body, re.IGNORECASE)
        if m_rec:
            # user RECURSIVE CTEs pass through verbatim (reference
            # test_semantic_root_with_recursive_cte_preserved)
            recursive = "RECURSIVE "
            body = body[m_rec.end():]
        # scan `name AS ( ... )` items sequentially: a top-level comma
        # continues the CTE list, anything else starts the outer SELECT
        ctes: list[tuple[str, str, str]] = []
        pos = 0
        while True:
            # optional column list: `name(col, ...) AS (` (reference
            # test_semantic_root_with_recursive_cte_preserved declares
            # `status_chain(status, depth)`)
            m = re.match(
                r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*(\([^()]*\))?\s+AS\s*\(",
                body[pos:], re.IGNORECASE,
            )
            if not m:
                raise QueryCompileError(
                    f"unsupported CTE item: {body[pos:pos + 60]!r}"
                )
            start = pos + m.end() - 1
            end = close_paren(body, start)
            if end is None:
                raise QueryCompileError("unbalanced parens in WITH clause")
            ctes.append(
                (m.group(1), m.group(2) or "", body[start + 1 : end].strip())
            )
            after = end + 1
            nxt = re.match(r"\s*,", body[after:])
            if nxt:
                pos = after + nxt.end()
                continue
            outer = body[after:].strip()
            break
        if not outer:
            raise QueryCompileError("WITH clause has no outer SELECT")
        # the outer statement must be a SELECT (possibly parenthesized
        # set-op branches): `WITH t AS (...) INSERT INTO ...` would
        # smuggle DML through the read-only SQL gateway (reference
        # test_raw_rejects_dml_in_cte rejects exactly this)
        if not re.match(r"^[\s(]*SELECT\b", outer, re.IGNORECASE):
            raise QueryCompileError(
                "WITH outer statement must be a SELECT; DML/DDL is not "
                f"allowed through the semantic SQL gateway: {outer[:60]!r}"
            )
        rendered = []
        seen_ctes: set[str] = set()
        for name, collist, cte_body in ctes:
            # a CTE body may reference earlier CTEs, which shadow
            # same-named models; later CTEs and the outer SELECT see
            # every CTE name
            if self._has_semantic_island(cte_body, shadowed=seen_ctes):
                cte_body = self._rewrite_node(cte_body)
            rendered.append(f"{name}{collist} AS (\n{cte_body}\n)")
            seen_ctes.add(name)
        if self._has_semantic_island(outer, shadowed=seen_ctes):
            # the outer may hold a derived-table or set-op ISLAND even
            # when its FROM is not a bare model — leaving it verbatim
            # ships raw model refs to Spark (r11 negative-matrix and
            # hex-preview ports). CTE names shadow models.
            outer = self._rewrite_node(outer)
        # a semantic ROOT compiles to its own WITH; splice the user CTEs
        # into that generated CTE list instead of emitting WITH twice
        # (ref test_semantic_root_with_user_cte_preserved). A user CTE
        # whose name collides with a generated one would silently
        # shadow the model CTE — refuse with the reference's error
        # (ref test_root_semantic_cte_name_collision).
        m_head = re.match(
            r"^((?:\s*--[^\n]*\n)*)\s*WITH\s+(?!RECURSIVE\b)", outer,
            re.IGNORECASE,
        )
        if m_head:
            comment = m_head.group(1)
            gen_body = outer[m_head.end():]
            gen_names = {
                gm.group(1)
                for gm in re.finditer(
                    r"(?:^|,)\s*([A-Za-z_]\w*)\s*(?:\([^()]*\))?\s+AS\s*\(",
                    gen_body,
                )
            }
            clash = sorted(seen_ctes & gen_names)
            if clash:
                raise QueryCompileError(
                    f"CTE name {clash[0]!r} conflicts with an internally "
                    "generated name; rename the CTE"
                )
            return (
                comment + "WITH " + recursive + ",\n".join(rendered)
                + ",\n" + gen_body
            )
        return "WITH " + recursive + ",\n".join(rendered) + "\n" + outer

    def _rewrite_from_subquery(self, sql: str) -> str | None:
        """SELECT ... FROM (<semantic select>) alias ... — rewrite the
        island, keep the wrapper verbatim (Catalyst optimizes the
        wrapper; ref keeps wrapper micro-opts we delegate, SURVEY §4)."""
        parts = split_top(sql, "FROM")
        if len(parts) < 2:
            return None
        tail = parts[1].lstrip()
        if not tail.startswith("("):
            return None
        end = close_paren(tail)
        if end is None:
            return None
        inner = tail[1:end].strip()
        if not self._is_semantic(inner):
            # BI tools wrap the wrapper (ROW_NUMBER pagination around a
            # projection around the semantic island): recurse — the
            # island may sit one or more levels down (reference
            # semantic_plus_postprocess plan,
            # tests/queries/test_semantic_sql_planner.py:2913-2950)
            try:
                compiled_inner = self._rewrite_node(inner)
            except QueryCompileError:
                return None
            if _strip(compiled_inner) == _strip(inner):
                return None
            return f"{parts[0]}FROM (\n{compiled_inner}\n){tail[end + 1:]}"
        compiled = self._rewrite_node(inner)
        return f"{parts[0]}FROM (\n{compiled}\n){tail[end + 1:]}"

    # -- wrapper-shape optimization rules ------------------------------
    #
    # The reference measures these at 1.05-1.2x over naive wrapper SQL
    # (its semantic-SQL planner benchmark; ours is
    # scripts/benchmark_rewriter.py). On Spark, Catalyst
    # collapses projections/filters natively, so we keep only the rules
    # that change the *semantic* plan (which grain is grouped, which
    # rollup table can serve the query, order+limit vs window top-N)
    # per SURVEY §4.

    def _parse_inner(self, sql: str) -> _InnerParse | None:
        """Decompose a simple single-model semantic SELECT; None if the
        text is anything richer (expression path, joins, set ops)."""
        m = re.match(r"^\s*SELECT\s+(DISTINCT\s+)?(.*)$", sql, re.I | re.S)
        if not m:
            return None
        distinct = bool(m.group(1))
        from_parts = split_top(m.group(2), "FROM")
        if len(from_parts) != 2:
            return None
        select_list = from_parts[0].strip()
        cur, clause_vals = _peel_clauses(select_list, from_parts[1])
        base = cur.strip()
        if "QUALIFY" in clause_vals:
            return None
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", base):
            return None
        if base not in self.graph.models:
            return None
        out = _InnerParse(base=base, clause_vals=clause_vals, distinct=distinct)
        seen: set[str] = set()
        for item in split_items(select_list):
            ref, alias = split_alias(item)
            wm = _ROWNUM_RE.match(ref)
            if wm is not None:
                if out.rn is not None or alias is None:
                    return None
                out.rn = (alias, ref)
                continue
            target = self._classify_ref(ref, base)
            if target is None:
                return None
            kind, full = target
            name = _out_name(kind, full, alias)
            if name in seen:
                return None
            seen.add(name)
            out.entries.append((name, kind, full, alias))
        if out.rn and out.rn[0] in seen:
            return None
        return out

    def _parse_inner_expanded(self, sql: str) -> _InnerParse | None:
        """Middle level of the BI-expanded top-N shape —
        ``SELECT <inner outputs..>, WINFN() OVER (..) AS rn FROM
        (<semantic select>) alias`` — folded into the equivalent
        one-level ``_InnerParse`` with the window item attached (the
        reference's global_row_number_topn accepts exactly this shape,
        tests/queries/test_semantic_sql_planner.py:2776-2840)."""
        m = re.match(r"^\s*SELECT\s+(DISTINCT\s+)?(.*)$", sql, re.I | re.S)
        if not m or m.group(1):
            return None
        from_parts = split_top(m.group(2), "FROM")
        if len(from_parts) != 2:
            return None
        select_list = from_parts[0].strip()
        tail = from_parts[1].lstrip()
        if not tail.startswith("("):
            return None
        end = close_paren(tail)
        if end is None:
            return None
        # the middle level may carry nothing beyond an optional alias:
        # its own WHERE/GROUP BY would change which rows get numbered
        remainder = tail[end + 1 :].strip()
        if remainder and not re.fullmatch(
            r"(?:AS\s+)?[A-Za-z_][A-Za-z0-9_]*", remainder, re.I
        ):
            return None
        inner = self._parse_inner(tail[1:end].strip())
        if inner is None or inner.rn is not None or inner.distinct:
            return None
        outs = {o for o, _k, _r, _a in inner.entries}
        seen: set[str] = set()
        rn = None
        for item in split_items(select_list):
            ref, alias = split_alias(item)
            wm = _ROWNUM_RE.match(ref)
            if wm is not None:
                if rn is not None or alias is None:
                    return None
                rn = (alias, ref)
                continue
            # only bare un-realiased passthrough of the inner outputs:
            # anything else changes the projection and must fall back
            if alias is not None or ref not in outs or ref in seen:
                return None
            seen.add(ref)
        if rn is None or seen != outs or rn[0] in outs:
            return None
        inner.rn = rn
        return inner

    def _try_wrapper_rules(self, sql: str) -> str | None:
        m = re.match(r"^\s*SELECT\s+(DISTINCT\s+)?(.*)$", sql, re.I | re.S)
        if not m:
            return None
        outer_distinct = bool(m.group(1))
        from_parts = split_top(m.group(2), "FROM")
        if len(from_parts) != 2:
            return None
        outer_list = from_parts[0].strip()
        tail = from_parts[1].lstrip()
        if not tail.startswith("("):
            return None
        end = close_paren(tail)
        if end is None:
            return None
        inner_sql = tail[1:end].strip()
        cur, clause_vals = _peel_clauses(outer_list, tail[end + 1:])
        between = cur.strip()
        # only an optional subquery alias may sit between ) and clauses
        # (quoted forms included: PowerQuery emits `AS "_"`)
        _ALIAS_FORM = (
            r'(?:AS\s+)?(?:"([A-Za-z_][A-Za-z0-9_]*)"'
            r"|`([A-Za-z_][A-Za-z0-9_]*)`"
            r"|([A-Za-z_][A-Za-z0-9_]*))"
        )
        alias_m = re.fullmatch(_ALIAS_FORM, between, re.I) if between else None
        if between and alias_m is None:
            return None
        # multi-group shapes (GROUPING SETS / ROLLUP / CUBE) must never
        # fold: the reagg rules would flatten them into a single plain
        # GROUP BY and silently DROP the subtotal rows (r11
        # grouping-sets port caught exactly that)
        if "GROUP BY" in clause_vals and re.search(
            r"\b(GROUPING\s+SETS|ROLLUP|CUBE)\s*\(",
            clause_vals["GROUP BY"], re.I,
        ):
            return None
        # alias-qualified outer refs (`sq.status`, `"_"."status"` — BI
        # tools emit these) de-qualify to the bare output names the
        # colmap knows — unless the alias shadows a model name, where
        # `alias.field` may be a genuine semantic ref (r11
        # planner-parity port: the reference accepts `sq.status = ...`
        # / `ORDER BY sq.total_revenue`)
        if alias_m is not None:
            alias = next(g for g in alias_m.groups() if g)
            known = {m.lower() for m in self.graph.models}
            if alias.lower() not in known:
                dq_re = re.compile(
                    r'(?<![\w.])["`]?%s["`]?\s*\.\s*'
                    r'(?:"([A-Za-z_]\w*)"|`([A-Za-z_]\w*)`|([A-Za-z_]\w*))'
                    % re.escape(alias),
                    re.I,
                )

                def _dequalify(text: str) -> str:
                    # reads quoted names: the alias may be one (`"_"`)
                    return sub_code(text, lambda seg: dq_re.sub(
                        lambda m: m.group(1) or m.group(2) or m.group(3),
                        seg,
                    ), LITERALS)

                outer_list = _dequalify(outer_list)
                clause_vals = {
                    k: _dequalify(v) for k, v in clause_vals.items()
                }
        # wrapper QUALIFY `fn() OVER (...) <= k` folds like the
        # expanded-rownum BI shape: synthesize the rn column and let
        # _rule_rownum_topn choose fold-to-LIMIT vs window stage
        # (Spark has no QUALIFY, so leaving it in the wrapper would
        # fail at parse — ref qualify_row_number_topn :2841). Runs
        # AFTER alias de-qualification so `OVER (ORDER BY sq.revenue)`
        # has its alias stripped like every other clause (review
        # finding).
        qualify_rn = None
        if "QUALIFY" in clause_vals:
            if "WHERE" in clause_vals:
                return None
            qv = clause_vals.pop("QUALIFY").strip()
            qm = re.match(
                r"(?:ROW_NUMBER|RANK|DENSE_RANK)\s*\(\s*\)\s*OVER\s*\(",
                qv, re.I,
            )
            if qm is None:
                return None
            over_open = qm.end() - 1
            end_rel = close_paren(qv[over_open:])
            if end_rel is None:
                return None
            rest = qv[over_open + end_rel + 1:].strip()
            cm = re.fullmatch(r"(<=|<)\s*(\d+)", rest)
            if cm is None:
                return None
            qualify_rn = (
                qv[: over_open + end_rel + 1], cm.group(1), cm.group(2)
            )
        inner = self._parse_inner(inner_sql)
        if inner is None:
            inner = self._parse_inner_expanded(inner_sql)
        if inner is None:
            return None
        if qualify_rn is not None:
            if inner.rn is not None:
                return None
            inner.rn = ("__qualify_rn", qualify_rn[0])
            clause_vals["WHERE"] = (
                f"__qualify_rn {qualify_rn[1]} {qualify_rn[2]}"
            )

        outer_items = [split_alias(i) for i in split_items(outer_list)]

        if inner.rn is not None:
            out = self._rule_rownum_topn(
                inner, outer_items, outer_distinct, clause_vals
            )
            if out is None:
                self._rejected_rules.append("rownum_topn")
            return out
        out = self._rule_distinct_dims(inner, outer_items, outer_distinct, clause_vals)
        if out is not None:
            return out
        out = self._rule_time_rollup(inner, outer_items, outer_distinct, clause_vals)
        if out is not None:
            return out
        return self._rule_wrapper_pushdown(
            inner, outer_items, outer_distinct, clause_vals
        )

    def _map_out_cols(self, text: str, inner: _InnerParse) -> str:
        """Replace inner output-column tokens with their semantic refs so
        the generator's reference machinery classifies them."""
        colmap = inner.colmap

        def sub(tm: re.Match) -> str:
            tok = tm.group(0)
            hit = colmap.get(tok)
            return hit[1] if hit else tok

        return sub_code(text, lambda seg: re.sub(
            r"(?<![\w.])[A-Za-z_][A-Za-z0-9_]*(?:__[a-z]+)?(?!\s*\()(?![\w.])",
            sub,
            seg,
        ))

    def _inner_filters(self, inner: _InnerParse) -> list[str]:
        filters = []
        if "WHERE" in inner.clause_vals:
            filters.append(self._qualify_bare(inner.clause_vals["WHERE"], inner.base))
        if "HAVING" in inner.clause_vals:
            filters.append(self._qualify_bare(inner.clause_vals["HAVING"], inner.base))
        return filters

    def _outer_order(
        self, clause_vals: dict, inner: _InnerParse
    ) -> list[str] | None:
        """Outer ORDER BY items mapped to semantic refs — or None when
        an item is NOT a plain ``ref [ASC|DESC]`` (ordinals, computed
        expressions, NULLS FIRST/LAST): folding those into the plan
        either re-qualifies into unresolvable names or silently changes
        NULL placement, so the rule must bail to post-process (r11
        negative-matrix port found both)."""
        if "ORDER BY" not in clause_vals:
            return []
        out = []
        for o in split_items(clause_vals["ORDER BY"]):
            if not re.fullmatch(
                r"\s*[A-Za-z_][A-Za-z0-9_]*(?:__[a-z]+)?"
                r"(?:\s+(?:ASC|DESC))?\s*",
                o, re.I,
            ):
                return None
            out.append(self._map_out_cols(o, inner))
        return out

    def _rule_rownum_topn(
        self, inner, outer_items, outer_distinct, clause_vals
    ) -> str | None:
        """``SELECT * FROM (sem + ROW_NUMBER() OVER (...) AS rn) WHERE
        rn <= k`` -> ORDER BY + LIMIT when ungrouped-window, else a
        window stage over the compiled plan (ref
        sql/query_rewriter.py:1201-1478 row_number/QUALIFY top-N)."""
        if outer_distinct or "GROUP BY" in clause_vals or "HAVING" in clause_vals:
            return None
        # min(k, LIMIT) only composes without an OFFSET, and an inner
        # LIMIT/OFFSET would change which rows the row numbers cover —
        # fall back to the naive wrapper in both cases
        if "OFFSET" in clause_vals:
            return None
        if inner.clause_vals.get("LIMIT") or inner.clause_vals.get("OFFSET"):
            return None
        rn_out, rn_sql = inner.rn
        where = clause_vals.get("WHERE", "")
        fm = re.fullmatch(rf"\s*{re.escape(rn_out)}\s*(<=|<)\s*(\d+)\s*", where)
        bm = re.fullmatch(
            rf"\s*{re.escape(rn_out)}\s+BETWEEN\s+(\d+)\s+AND\s+(\d+)\s*",
            where,
            re.I,
        )
        if fm:
            lo, hi = 1, int(fm.group(2)) - (1 if fm.group(1) == "<" else 0)
        elif bm:
            # rn BETWEEN a AND b is LIMIT (b-a+1) OFFSET (a-1) pagination
            # (reference global_row_number_topn BETWEEN form)
            lo, hi = int(bm.group(1)), int(bm.group(2))
        else:
            return None
        k = hi
        if hi < lo or hi <= 0 or lo < 1:
            return None
        # projection must be * or the full inner column set (a dim
        # subset would change the grain)
        if not (len(outer_items) == 1 and outer_items[0][0] == "*"):
            outs = {o for o, _k, _r, _a in inner.entries}
            want = {ref for ref, _alias in outer_items}
            if want != outs:
                return None
        wm = _ROWNUM_RE.match(rn_sql)
        if wm is None:
            # only the QUALIFY-synthesized path can land here (the
            # expanded-rownum parse pre-validates with this regex): an
            # OVER () without ORDER BY has no top-N meaning — reject
            # cleanly instead of AttributeError (review finding)
            return None
        fn, partition, order = wm.group(1).upper(), wm.group(2), wm.group(3)
        spec_entries = inner.entries
        metrics = [
            f"{ref} AS {alias}" if alias else ref
            for _o, kind, ref, alias in spec_entries
            if kind == "metric"
        ]
        dims = [
            f"{ref} AS {alias}" if alias else ref
            for _o, kind, ref, alias in spec_entries
            if kind == "dim"
        ]
        filters = self._inner_filters(inner)

        win_order = [
            self._map_out_cols(o, inner).strip() for o in split_items(order)
        ]
        # an outer ORDER BY that restates the window's order is implied
        # by the plan's own ORDER BY and does not block the fast path
        # (the reference applies safe_order_pushdown alongside the
        # top-N rule); anything else needs the window stage
        outer_order_redundant = True
        if "ORDER BY" in clause_vals:
            outer_order = [
                self._map_out_cols(o, inner).strip()
                for o in split_items(clause_vals["ORDER BY"])
            ]

            def _norm(items: list[str]) -> list[str]:
                return [
                    re.sub(r"\s+", " ", o).upper()
                    + ("" if re.search(r"\s(ASC|DESC)$", o, re.I) else " ASC")
                    for o in items
                ]

            outer_order_redundant = _norm(outer_order) == _norm(
                win_order[: len(outer_order)]
            )

        if fn == "ROW_NUMBER" and not partition and outer_order_redundant:
            # global top-N: fold into plan ORDER BY + LIMIT — Catalyst
            # compiles this to TakeOrderedAndProject (no full sort, no
            # window exchange); rn BETWEEN windows become LIMIT+OFFSET
            limit = hi - lo + 1
            if "LIMIT" in clause_vals:
                limit = min(limit, int(clause_vals["LIMIT"]))
            spec = QuerySpec(
                metrics=metrics,
                dimensions=dims,
                filters=filters,
                order_by=win_order,
                limit=limit,
                offset=lo - 1 if lo > 1 else None,
            )
            self._applied_rules.append("rownum_topn_limit")
            compiled = self._generate(spec)
            star = len(outer_items) == 1 and outer_items[0][0] == "*"
            if not star:
                # the compiled plan's columns are the INNER output
                # names; an outer alias must be applied ON TOP of the
                # inner name (`status AS st`), never used as if it were
                # a plan column (review finding: SELECT st would be
                # unresolvable)
                want = [
                    f"{ref} AS {alias}" if alias else ref
                    for ref, alias in outer_items
                ]
                produced = [
                    a or o for o, k, _r, a in spec_entries if k == "dim"
                ] + [
                    a or o for o, k, _r, a in spec_entries if k == "metric"
                ]
                if want != produced:
                    compiled = self._post_project(compiled, want)
            return compiled

        # partitioned (or RANK/DENSE_RANK) top-N: window stage above the
        # compiled plan, filtered in a subquery (Spark has no QUALIFY)
        spec = QuerySpec(metrics=metrics, dimensions=dims, filters=filters)
        compiled = self._generate(spec)
        if len(outer_items) == 1 and outer_items[0][0] == "*":
            outs = ", ".join(o for o, _k, _r, _a in inner.entries)
        else:
            # the OUTER projection (already validated = the full inner
            # column set) drives name order — BI tools bind by position
            outs = ", ".join(
                f"{ref} AS {alias}" if alias else ref
                for ref, alias in outer_items
            )

        # window spec references must use the compiled plan's OUTPUT
        # column names, not the semantic model-qualified refs
        ref_to_out = {ref: o for o, _k, ref, _a in inner.entries}

        def to_out(text: str) -> str:
            for ref, o in sorted(ref_to_out.items(), key=lambda kv: -len(kv[0])):
                text = re.sub(rf"(?<![\w.]){re.escape(ref)}(?![\w.])", o, text)
            return text

        part_clause = (
            f"PARTITION BY {to_out(partition.strip())} " if partition else ""
        )
        out_sql = (
            f"SELECT {outs} FROM (\n"
            f"SELECT _t.*, {fn}() OVER ({part_clause}ORDER BY {to_out(order.strip())}) AS __rn\n"
            f"FROM (\n{compiled}\n) _t\n"
            f") _w WHERE "
            + (f"__rn BETWEEN {lo} AND {hi}" if lo > 1 else f"__rn <= {hi}")
        )
        if "ORDER BY" in clause_vals:
            out_sql += f"\nORDER BY {clause_vals['ORDER BY']}"
        if "LIMIT" in clause_vals:
            out_sql += f"\nLIMIT {int(clause_vals['LIMIT'])}"
        if "OFFSET" in clause_vals:
            out_sql += f"\nOFFSET {int(clause_vals['OFFSET'])}"
        self._applied_rules.append("rownum_topn_window")
        return out_sql

    def _rule_distinct_dims(
        self, inner, outer_items, outer_distinct, clause_vals
    ) -> str | None:
        """``SELECT DISTINCT dim FROM (wider sem query)`` -> dims-only
        grouped query (drops unused metric aggregation entirely and can
        route to a pre-aggregation — ref sql/query_rewriter.py:1108)."""
        grouped_no_aggs = "GROUP BY" in clause_vals and not any(
            _AGG_ITEM_RE.match(ref) for ref, _a in outer_items
        )
        if not (outer_distinct or grouped_no_aggs):
            return None
        if "HAVING" in clause_vals:
            return None
        if inner.clause_vals.get("LIMIT") or inner.clause_vals.get("OFFSET"):
            return None
        colmap = inner.colmap
        dims = []
        for ref, alias in outer_items:
            hit = colmap.get(ref)
            if hit is None or hit[0] != "dim":
                return None
            dims.append(f"{hit[1]} AS {alias}" if alias else hit[1])
        filters = self._inner_filters(inner)
        if "WHERE" in clause_vals:
            mapped = self._map_out_cols(clause_vals["WHERE"], inner)
            filters.append(mapped)
            self._pushed_filters.append(mapped)
        order_by = self._outer_order(clause_vals, inner)
        if order_by is None:
            return None
        spec = QuerySpec(
            metrics=[],
            dimensions=dims,
            filters=filters,
            order_by=order_by,
            limit=int(clause_vals["LIMIT"]) if "LIMIT" in clause_vals else None,
            offset=int(clause_vals["OFFSET"]) if "OFFSET" in clause_vals else None,
        )
        self._applied_rules.append("distinct_dims")
        return self._generate(spec)

    def _rule_time_rollup(
        self, inner, outer_items, outer_distinct, clause_vals
    ) -> str | None:
        """``SELECT DATE_TRUNC('month', day_col), SUM(m) FROM (sem at
        day grain) GROUP BY`` -> recompile the semantic query at the
        coarser grain (ref sql/query_rewriter.py:1960-2016). This is the
        rule that lets a month query ride a day-grain rollup table."""
        if outer_distinct or "GROUP BY" not in clause_vals:
            return None
        if inner.clause_vals.get("LIMIT") or inner.clause_vals.get("OFFSET"):
            return None
        colmap = inner.colmap
        graph = self.graph
        dims: list[str] = []
        metrics: list[str] = []
        saw_agg = False
        for ref, alias in outer_items:
            dm = _DTRUNC_ITEM_RE.match(ref)
            am = _AGG_ITEM_RE.match(ref)
            if dm:
                grain, col = dm.group(1).lower(), dm.group(2)
                hit = colmap.get(col)
                if hit is None or hit[0] != "dim":
                    return None
                base_ref = hit[1].split("__", 1)[0]
                model_name, dim_name = base_ref.split(".", 1)
                dim = graph.get_model(model_name).dimension(dim_name)
                if dim is None or dim.type != "time":
                    return None
                src = (
                    hit[1].split("__", 1)[1]
                    if "__" in hit[1]
                    else dim.granularity
                )
                if src is None or not grain_derivable(src, grain):
                    return None
                new_ref = f"{base_ref}__{grain}"
                dims.append(f"{new_ref} AS {alias}" if alias else new_ref)
            elif am:
                fn, col = am.group(1).upper(), am.group(2)
                hit = colmap.get(col)
                if hit is None or hit[0] != "metric":
                    return None
                model_name, metric_name = hit[1].split(".", 1)
                metric = graph.get_model(model_name).metric(metric_name)
                agg = metric.agg if metric else None
                ok = (
                    (fn == "SUM" and agg in ("sum", "count"))
                    or (fn == "MIN" and agg == "min")
                    or (fn == "MAX" and agg == "max")
                )
                if not ok:
                    return None
                saw_agg = True
                metrics.append(f"{hit[1]} AS {alias}" if alias else hit[1])
            else:
                hit = colmap.get(ref)
                if hit is None or hit[0] != "dim":
                    return None
                dims.append(f"{hit[1]} AS {alias}" if alias else hit[1])
        if not saw_agg or not dims:
            return None
        filters = self._inner_filters(inner)
        if "WHERE" in clause_vals:
            mapped = self._map_out_cols(clause_vals["WHERE"], inner)
            filters.append(mapped)
            self._pushed_filters.append(mapped)
        if "HAVING" in clause_vals:
            mapped = self._map_out_cols(clause_vals["HAVING"], inner)
            filters.append(mapped)
            self._pushed_filters.append(mapped)
        order_by = self._outer_order(clause_vals, inner)
        if order_by is None:
            return None
        spec = QuerySpec(
            metrics=metrics,
            dimensions=dims,
            filters=filters,
            order_by=order_by,
            limit=int(clause_vals["LIMIT"]) if "LIMIT" in clause_vals else None,
            offset=int(clause_vals["OFFSET"]) if "OFFSET" in clause_vals else None,
        )
        self._applied_rules.append("time_rollup")
        return self._generate(spec)

    def _rule_wrapper_pushdown(
        self, inner, outer_items, outer_distinct, clause_vals
    ) -> str | None:
        """Plain wrapper ``SELECT */cols FROM (sem) WHERE ... ORDER ...
        LIMIT`` -> merge the wrapper into the semantic plan (ref
        sql/query_rewriter.py:2240-2389). Dropping unprojected metrics
        also drops their aggregation work."""
        if outer_distinct or "GROUP BY" in clause_vals or "HAVING" in clause_vals:
            return None
        if inner.clause_vals.get("LIMIT") or inner.clause_vals.get("OFFSET"):
            return None
        colmap = inner.colmap
        star = len(outer_items) == 1 and outer_items[0][0] == "*"
        if star:
            keep = [(o, k, r, a) for o, k, r, a in inner.entries]
        else:
            keep = []
            for ref, alias in outer_items:
                hit = colmap.get(ref)
                if hit is None:
                    return None
                keep.append((ref, hit[0], hit[1], alias))
            # every inner dim must survive, else the wrapper changes grain
            inner_dims = {o for o, k, _r, _a in inner.entries if k == "dim"}
            if {o for o, k, _r, _a in keep if k == "dim"} != inner_dims:
                return None
        # the outer-visible name is the outer alias when given, else the
        # INNER output name — `SELECT orders.revenue AS total_revenue`
        # wrapped and re-selected must stay `total_revenue`, not revert
        # to the metric's default name (r11 planner-parity port)
        metrics = [
            f"{r} AS {a or o}" for o, k, r, a in keep if k == "metric"
        ]
        dims = [f"{r} AS {a or o}" for o, k, r, a in keep if k == "dim"]
        filters = self._inner_filters(inner)
        pushed = False
        if "WHERE" in clause_vals:
            mapped = self._map_out_cols(clause_vals["WHERE"], inner)
            filters.append(mapped)
            self._pushed_filters.append(mapped)
            pushed = True
        order_by = self._outer_order(clause_vals, inner)
        if order_by is None:
            return None
        if order_by:
            pushed = True
        elif "ORDER BY" in inner.clause_vals:
            order_by = [
                self._qualify_bare(o, inner.base)
                for o in split_items(inner.clause_vals["ORDER BY"])
            ]
        limit = int(clause_vals["LIMIT"]) if "LIMIT" in clause_vals else None
        offset = int(clause_vals["OFFSET"]) if "OFFSET" in clause_vals else None
        if limit is not None or offset is not None:
            pushed = True
        if not pushed and star:
            # nothing to push and nothing dropped: plain island
            return None
        spec = QuerySpec(
            metrics=metrics,
            dimensions=dims,
            filters=filters,
            order_by=order_by,
            limit=limit,
            offset=offset,
            ungrouped=not metrics
            and not any(k == "metric" for _o, k, _r, _a in inner.entries)
            and not inner.distinct,
        )
        self._applied_rules.append("wrapper_pushdown")
        compiled = self._generate(spec)
        if not star:
            # the generator lays out dims-then-metrics; an outer
            # projection in a different order gets a zero-cost Project
            # on top (Catalyst collapses it) so the column ORDER the BI
            # tool asked for survives the flatten
            want = [a or o for o, _k, _r, a in keep]
            produced = [a or o for o, k, _r, a in keep if k == "dim"] + [
                a or o for o, k, _r, a in keep if k == "metric"
            ]
            if want != produced:
                compiled = self._post_project(compiled, want)
        return compiled

    def _post_project(self, compiled: str, want: list[str]) -> str:
        """Wrap a compiled plan in ``SELECT <want> FROM (...)`` keeping
        the instrumentation header and any top-level ORDER BY / LIMIT /
        OFFSET OUTSIDE the subquery (ordering through a subquery is not
        guaranteed)."""
        head = ""
        body = compiled
        if body.startswith("--"):
            head, body = body.split("\n", 1)
        tail_parts: list[str] = []
        cur = body
        for kw in ("OFFSET", "LIMIT", "ORDER BY"):
            parts = split_top(cur, kw)
            if len(parts) > 1:
                tail_parts.insert(0, f"{kw} {parts[-1].strip()}")
                cur = parts[0]
        sql = f"SELECT {', '.join(want)} FROM (\n{cur.strip()}\n)"
        if tail_parts:
            sql += "\n" + "\n".join(tail_parts)
        return (head + "\n" + sql) if head else sql

    def _rewrite_fromless(self, select_body: str) -> str | None:
        """``SELECT`` without a top-level FROM whose items are scalar
        subqueries and/or constants (ref corpus measures.test
        cardinality checks: ``SELECT (SELECT COUNT(*) FROM t) AS a,
        (SELECT COUNT(*) FROM measure_view) AS b``). Each parenthesized
        subquery island compiles through the semantic path when it
        references a model; plain-SQL islands and literals pass
        through. Returns None when an item is neither, so the caller's
        needs-a-FROM error still fires for genuinely malformed SQL."""
        items = split_items(select_body)
        out_items: list[str] = []
        for i, item in enumerate(items):
            expr, alias = split_alias(item)
            expr = expr.strip()
            if expr.startswith("(") and re.match(r"\(\s*SELECT\b", expr, re.I):
                end = close_paren(expr)
                if end == len(expr) - 1:
                    inner = expr[1:end].strip()
                    from sidemantic_spark.core.graph import SemanticGraphError

                    try:
                        compiled = self._rewrite_node(inner)
                    except (QueryCompileError, SemanticGraphError):
                        compiled = inner  # plain-SQL subquery island
                    out_items.append(
                        f"(\n{compiled}\n) AS {alias or f'expr_{i}'}"
                    )
                    continue
            if re.fullmatch(
                r"\s*(?:-?[\d.]+|NULL|TRUE|FALSE|'(?:[^']|'')*')\s*",
                expr, re.I,
            ):
                out_items.append(f"{expr} AS {alias}" if alias else expr)
                continue
            return None
        if not out_items:
            return None
        self._applied_rules.append("fromless_scalar_subqueries")
        return "SELECT " + ",\n       ".join(out_items)

    def _rewrite_select(self, sql: str) -> str:
        self._extra_scope: list[str] = []  # joined-model lookup scope
        inner_models: list[str] = []  # explicit INNER-join targets
        m = re.match(r"^\s*SELECT\s+(?:DISTINCT\s+)?(.*)$", sql, re.IGNORECASE | re.DOTALL)
        if not m:
            raise QueryCompileError(f"semantic SQL must start with SELECT: {sql[:80]!r}")
        rest = m.group(1)
        from_parts = split_top(rest, "FROM")
        if len(from_parts) < 2:
            fromless = self._rewrite_fromless(rest)
            if fromless is not None:
                return fromless
            raise QueryCompileError("semantic SQL needs a FROM clause")
        select_list = from_parts[0].strip()
        cur, clause_vals = _peel_clauses(select_list, from_parts[1])
        from_clause = cur.strip()

        if re.search(r"\bJOIN\b", from_clause, re.I):
            # explicit JOINs are accepted but must match declared
            # relationship keys (ref sql/query_rewriter.py:5568-5707);
            # compilation still goes through the relationship graph.
            # Table aliases (`FROM orders o JOIN customer c ON ...`)
            # rebind to their models first (ref corpus measures.test
            # aliased multi-fact joins).
            # `USING (c1, c2)` (ref corpus measures.test Listing-9
            # join) normalizes to the equivalent ON equality over the
            # two preceding table names/aliases before alias stripping
            # a LEFT/RIGHT/INNER/FULL prefix is a join keyword, never a
            # table alias (`a LEFT JOIN b USING (c)` must not bind LEFT
            # as a's alias and emit `ON LEFT.c = ...`)
            _jk = r"(?:LEFT|RIGHT|INNER|FULL|OUTER|CROSS|JOIN)\b"
            um = re.fullmatch(
                r"\s*([A-Za-z_]\w*)"
                rf"(?:\s+(?:AS\s+)?(?!{_jk})([A-Za-z_]\w*))?\s+"
                r"((?:LEFT|RIGHT|INNER|FULL)(?:\s+OUTER)?\s+)?"
                r"JOIN\s+([A-Za-z_]\w*)"
                rf"(?:\s+(?:AS\s+)?(?!{_jk})([A-Za-z_]\w*))?\s+"
                r"USING\s*\(([^)]*)\)\s*", from_clause, re.I,
            )
            if um:
                lt = um.group(2) or um.group(1)
                rt = um.group(5) or um.group(4)
                cols_u = [c.strip() for c in um.group(6).split(",") if c.strip()]
                on = " AND ".join(f"{lt}.{c} = {rt}.{c}" for c in cols_u)
                head = f"{um.group(1)} {um.group(2)}" if um.group(2) else um.group(1)
                tail_t = f"{um.group(4)} {um.group(5)}" if um.group(5) else um.group(4)
                jtype = (um.group(3) or "").strip()
                jtype = f"{jtype} " if jtype else ""
                from_clause = f"{head} {jtype}JOIN {tail_t} ON {on}"
            self._register_adhoc_join_tables(from_clause)
            alias_map: dict[str, str] = {}

            def strip_alias(m: re.Match) -> str:
                prefix, model_name, alias_name = m.group(1), m.group(2), m.group(3)
                if (model_name in self.graph.models
                        and alias_name.upper() not in _JOIN_KEYWORDS
                        and alias_name not in self.graph.models):
                    alias_map[alias_name] = model_name
                    return prefix + model_name
                return m.group(0)

            # the alias candidate must never be a join keyword, and the
            # rejection must happen in the pattern (negative lookahead)
            # rather than in strip_alias: a consumed-but-unchanged match
            # like `orders JOIN` would eat the JOIN token and leave the
            # following `customers c` pair unmatched.
            from_clause = re.sub(
                r"(^\s*|\bJOIN\s+)([A-Za-z_]\w*)\s+(?:AS\s+)?"
                r"(?!(?:" + "|".join(_JOIN_KEYWORDS) + r")\b)"
                r"([A-Za-z_]\w*)\b",
                strip_alias, from_clause, flags=re.I,
            )
            for alias_name, model_name in alias_map.items():
                alias_re = re.compile(rf"(?<![\w.]){re.escape(alias_name)}\.")
                select_list = alias_re.sub(f"{model_name}.", select_list)
                from_clause = alias_re.sub(f"{model_name}.", from_clause)
                clause_vals = {
                    k: alias_re.sub(f"{model_name}.", v)
                    if k not in ("LIMIT", "OFFSET") else v
                    for k, v in clause_vals.items()
                }
            base_model = self._validate_explicit_joins(from_clause)
            inner_models = self._inner_join_models
            self._inner_join_models = []  # consume here: expression/AT
            # routes build their own specs, and leftovers must never
            # leak into a later statement's join resolution
        elif (am := re.fullmatch(
            r"([A-Za-z_][A-Za-z0-9_]*)\s+(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)",
            from_clause, re.I,
        )) and am.group(1) in self.graph.models:
            # FROM model [AS] alias: alias-qualified refs rebind to the
            # model (ref corpus measures.test table-alias family)
            base_model, alias_name = am.group(1), am.group(2)
            alias_re = re.compile(rf"(?<![\w.]){re.escape(alias_name)}\.")
            select_list = alias_re.sub(f"{base_model}.", select_list)
            clause_vals = {
                k: alias_re.sub(f"{base_model}.", v) if k not in ("LIMIT", "OFFSET") else v
                for k, v in clause_vals.items()
            }
        elif not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", from_clause):
            raise QueryCompileError(
                f"semantic FROM must name a single model (joins come from the "
                f"relationship graph): {from_clause!r}"
            )
        else:
            base_model = from_clause
        graph = self.graph
        items = split_items(select_list)
        if base_model not in graph.models and base_model.lower() == "metrics":
            # `FROM metrics` virtual catalog table (reference
            # sql/query_rewriter.py from-metrics route)
            return self._rewrite_metrics_table(items, clause_vals)
        model = graph.get_model(base_model)

        # SELECT * expands to the base model's public dimensions and
        # simple/ratio/derived metrics (reference
        # test_select_star_expansion; window/funnel metrics need their
        # own plans and are not auto-included)
        if any(it.strip() == "*" for it in items):
            expanded: list[str] = []
            for it in items:
                if it.strip() != "*":
                    expanded.append(it)
                    continue
                expanded += [
                    f"{base_model}.{d.name}" for d in model.dimensions if d.public
                ]
                expanded += [
                    f"{base_model}.{mm.name}" for mm in model.metrics
                    if mm.public and (
                        mm.is_simple or mm.type in ("ratio", "derived")
                    )
                ]
            items = expanded

        # ad-hoc COUNT(*) = a count metric of the base model (reference
        # test_ad_hoc_count_aggregation), hidden name
        out_items: list[str] = []
        for it in items:
            ref, alias = split_alias(it)
            if re.fullmatch(r"COUNT\s*\(\s*\*\s*\)", ref.strip(), re.IGNORECASE):
                self._add_field(base_model, "metrics",
                                Metric(name="__adhoc_count", agg="count"))
                out_items.append(f"{base_model}.__adhoc_count AS {alias or 'count'}")
                continue
            # ad-hoc aggregate over a dimension column (`AVG(c.custAge)`
            # — ref corpus measures.test Listing-9 weighted average):
            # registered as a per-query metric on the dim's model; under
            # a fanned-out join the entity-grain dedup plan evaluates it
            # over distinct joined entities.
            am = re.fullmatch(
                r"(AVG|SUM|MIN|MAX|COUNT)\s*\(\s*([A-Za-z_][\w.]*)\s*\)",
                ref.strip(), re.I,
            )
            if am:
                tgt = self._classify_ref(am.group(2), base_model)
                if tgt is None:
                    # ad hoc aggregate over a RAW (undeclared) column —
                    # `SUM(orders.amount)` without a predefined metric
                    # (ref test_sql_rewriter.py:661): a request-local
                    # metric on the BASE model. Targeting a
                    # joined model fails early (ref :689) — its CTE
                    # would not carry the raw column.
                    inner = am.group(2)
                    col_model, _, col = inner.rpartition(".")
                    if (
                        col_model and col_model != base_model
                        and col_model in graph.models
                    ):
                        raise QueryCompileError(
                            f"ad hoc aggregate {ref.strip()!r} must target "
                            f"the base semantic model {base_model!r}"
                        )
                    if (
                        (not col_model or col_model == base_model)
                        and re.fullmatch(r"[A-Za-z_]\w*", col)
                        and col.lower() not in _SQL_KEYWORDS
                    ):
                        # validate the raw column against the TABLE
                        # schema at COMPILE time (the engine's stance
                        # everywhere else — event filters, grain
                        # suffixes): a typo'd column must raise a clear
                        # QueryCompileError, not a runtime
                        # AnalysisException (r12 probe finding). Skip
                        # when the table is not resolvable here
                        # (SQL-defined models, unregistered catalogs).
                        tbl = getattr(model, "table", None)
                        if tbl:
                            from pyspark.errors import PySparkException

                            try:
                                tcols = {
                                    c.lower()
                                    for c in self.layer.spark.table(
                                        tbl
                                    ).columns
                                }
                            except PySparkException:
                                # table not resolvable at compile time
                                # (unregistered catalog): fall back to
                                # the runtime error path
                                tcols = None
                            if tcols is not None and col.lower() not in tcols:
                                raise QueryCompileError(
                                    f"ad hoc aggregate {ref.strip()!r}: "
                                    f"column {col!r} is neither a declared "
                                    f"field of model {base_model!r} nor a "
                                    f"column of its table {tbl!r}"
                                )
                        fn = am.group(1).lower()
                        mname = f"__adhoc_{fn}_{col}"
                        self._add_field(base_model, "metrics",
                                        Metric(name=mname, agg=fn, sql=col))
                        out_items.append(
                            f"{base_model}.{mname} AS {alias or f'{fn}_{col}'}"
                        )
                        continue
                if tgt is not None and tgt[0] == "dim":
                    dmodel, dfield = tgt[1].split(".", 1)
                    dfield = dfield.split("__", 1)[0]
                    fn = am.group(1).lower()
                    mname = f"__adhoc_{fn}_{dfield}"
                    dim_obj = graph.get_model(dmodel).dimension(dfield)
                    self._add_field(dmodel, "metrics", Metric(
                        name=mname, agg=fn,
                        sql=(dim_obj.sql or dfield) if dim_obj else dfield,
                    ))
                    out_items.append(
                        f"{dmodel}.{mname} AS {alias or f'{fn}_{dfield}'}"
                    )
                    continue
            out_items.append(it)
        items = out_items

        metrics: list[str] = []
        dimensions: list[str] = []
        select_list2, clause_vals = self._register_expr_dims(
            ", ".join(items), clause_vals, base_model, model
        )
        items = split_items(select_list2)

        def _has_at_term(it: str) -> bool:
            if _parse_at_item(it) is not None:
                return True
            # expression items embedding AGGREGATE(...) AT (...) terms
            # (ref corpus measures.test pct-of-total / yoy arithmetic)
            ref, _a = split_alias(it)
            try:
                _t, terms = _scan_aggregate_terms(ref)
            except QueryCompileError:
                return False
            return any(mods for _r, mods in terms)

        if "WHERE" in clause_vals and re.search(
            r"\bAT\s*\(", clause_vals["WHERE"], re.I
        ):
            corr = self._rewrite_correlated_where(
                items, clause_vals, base_model
            )
            if corr is not None:
                return corr

        if any(_has_at_term(it) for it in items):
            return self._rewrite_at_select(items, clause_vals, base_model)

        # measure-view invisible default (ref plain-reference family):
        # a BARE measure ref on an AS-MEASURE view ignores the query
        # WHERE; AGGREGATE(m) opts into it. With a WHERE present the AT
        # machinery (which encodes per-item visibility) compiles the
        # query even without any AT modifier in it.
        if getattr(model, "measure_view", False) and "WHERE" in clause_vals:

            def _is_bare_metric(it: str) -> bool:
                ref0, _a0 = split_alias(it)
                t0 = self._classify_ref(ref0, base_model)
                return bool(
                    t0 and t0[0] == "metric" and ".__adhoc_" not in t0[1]
                )

            if any(_is_bare_metric(it) for it in items):
                return self._rewrite_at_select(items, clause_vals, base_model)

        # classic grouped path: AGGREGATE() wrappers unwrap to plain
        # (visible) metric refs here, AFTER the routing above
        items = [_strip_aggregate_wrappers(it) for it in items]
        clause_vals = {
            k: _strip_aggregate_wrappers(v) if k not in ("LIMIT", "OFFSET") else v
            for k, v in clause_vals.items()
        }
        classified: list[tuple[str, str, str | None]] = []
        has_expression = False
        for item in items:
            ref, alias = split_alias(item)
            target = self._classify_ref(ref, base_model)
            if target is None:
                has_expression = True
                break
            classified.append((*target, alias))
        if has_expression:
            return self._rewrite_expression_select(items, clause_vals, base_model)
        for kind, full, alias in classified:
            rendered = f"{full} AS {alias}" if alias else full
            (metrics if kind == "metric" else dimensions).append(rendered)

        filters = []
        if "WHERE" in clause_vals:
            filters.append(self._qualify_bare(clause_vals["WHERE"], base_model))
        order_by = []
        if "ORDER BY" in clause_vals:
            order_by = [
                self._qualify_bare(o, base_model) for o in split_items(clause_vals["ORDER BY"])
            ]
        limit = int(clause_vals["LIMIT"]) if "LIMIT" in clause_vals else None
        offset = int(clause_vals["OFFSET"]) if "OFFSET" in clause_vals else None
        if "HAVING" in clause_vals:
            having = clause_vals["HAVING"]
            # HAVING may reference a select item's output ALIAS
            # (`orders.revenue AS rev ... HAVING rev > x`) — the
            # reference engine resolves it (DuckDB alias-in-HAVING);
            # Spark does not, so substitute the underlying ref.
            # Precedence mirrors SQL: a token that already resolves as
            # a field of the query's models wins over a same-named
            # alias (r12 probe finding)
            for kind, full, alias in classified:
                if not alias or alias == full.rsplit(".", 1)[-1]:
                    continue
                if self._classify_ref(alias, base_model) is not None:
                    continue
                having = re.sub(
                    rf"(?<![\w.]){re.escape(alias)}(?![\w.(])", full, having
                )
            filters.append(self._qualify_bare(having, base_model))
        # GROUP BY is accepted and validated implicitly: grouping is
        # derived from the dimension set (reference behavior)

        spec = QuerySpec(
            metrics=metrics,
            dimensions=dimensions,
            filters=filters,
            order_by=order_by,
            limit=limit,
            offset=offset,
            inner_models=inner_models,
            # dimension-only queries GROUP at the dimension grain, like
            # the reference rewriter (ref tests/queries/
            # test_sql_rewriter.py:412: `SELECT orders.status FROM
            # orders` -> distinct statuses). Raw-row drill-to-detail
            # stays available via the structured ungrouped=True API —
            # the pre-r12 raw-row default here was a divergence.
            ungrouped=False,
        )
        if "QUALIFY" in clause_vals:
            return self._apply_qualify(
                spec, clause_vals["QUALIFY"], classified, base_model
            )
        return self._generate(spec)

    def _rewrite_metrics_table(self, items: list[str], clause_vals: dict) -> str:
        """``FROM metrics`` virtual table (reference
        sql/query_rewriter.py from-metrics route + tests/queries/
        test_sql_rewriter.py:1038-1129): query ANY model's fields by
        model-qualified name, plus graph-level metrics by bare name.
        SELECT * and bare field names are rejected — no base model
        scopes them."""
        graph = self.graph
        metrics: list[str] = []
        dimensions: list[str] = []
        for item in items:
            ref, alias = split_alias(item)
            ref = ref.strip()
            if ref == "*":
                raise QueryCompileError(
                    "FROM metrics does not support SELECT *; name "
                    "model-qualified fields"
                )
            if ref in graph.metrics:
                metrics.append(f"{ref} AS {alias}" if alias else ref)
                continue
            target = self._classify_ref(ref, base_model=None)
            if target is None:
                raise QueryCompileError(
                    f"FROM metrics requires model-qualified metric/"
                    f"dimension names (or graph metrics); got {ref!r}"
                )
            kind, full = target
            rendered = f"{full} AS {alias}" if alias else full
            (metrics if kind == "metric" else dimensions).append(rendered)
        filters = []
        if "WHERE" in clause_vals:
            filters.append(clause_vals["WHERE"])
        if "HAVING" in clause_vals:
            filters.append(clause_vals["HAVING"])
        order_by = (
            split_items(clause_vals["ORDER BY"])
            if "ORDER BY" in clause_vals else []
        )
        spec = QuerySpec(
            metrics=metrics,
            dimensions=dimensions,
            filters=filters,
            order_by=order_by,
            limit=int(clause_vals["LIMIT"]) if "LIMIT" in clause_vals else None,
            offset=int(clause_vals["OFFSET"]) if "OFFSET" in clause_vals else None,
        )
        return self._generate(spec)

    def _apply_qualify(
        self, spec: QuerySpec, qualify: str, classified: list, base_model: str
    ) -> str:
        """``QUALIFY ROW_NUMBER() OVER (...) <= k`` on a semantic SELECT
        (DuckDB/Snowflake syntax; Spark has no QUALIFY). An unpartitioned
        row_number folds into ORDER BY + LIMIT; anything else becomes a
        window stage + subquery filter above the compiled plan (ref
        sql/query_rewriter.py:1379-1478 QUALIFY top-N)."""
        fm = re.fullmatch(r"\s*(.*?)\s*(<=|<)\s*(\d+)\s*", qualify, re.S)
        wm = _ROWNUM_RE.match(fm.group(1).strip()) if fm else None
        if fm is None or wm is None:
            raise QueryCompileError(
                f"unsupported QUALIFY (expected ROW_NUMBER/RANK/DENSE_RANK "
                f"OVER (...) <= k): {qualify!r}"
            )
        k = int(fm.group(3)) - (1 if fm.group(2) == "<" else 0)
        fn, partition, order = wm.group(1).upper(), wm.group(2), wm.group(3)
        if k <= 0:
            raise QueryCompileError(f"QUALIFY top-N bound must be positive: {qualify!r}")

        if (
            fn == "ROW_NUMBER"
            and not partition
            and not spec.order_by
            # min(k, LIMIT) is only equivalent without an OFFSET: with
            # one, LIMIT k OFFSET o returns rows o+1..o+k of the full
            # stream, while rn<=k keeps only the first k — fall through
            # to the explicit window stage
            and spec.offset is None
        ):
            spec.order_by = [
                self._qualify_bare(o, base_model) for o in split_items(order)
            ]
            spec.limit = k if spec.limit is None else min(spec.limit, k)
            self._applied_rules.append("qualify_topn_limit")
            return self._generate(spec)

        order_by, limit, offset = spec.order_by, spec.limit, spec.offset
        spec.order_by, spec.limit, spec.offset = [], None, None
        compiled = self._generate(spec)
        # window refs are output-column names in the wrapper; rewrite
        # model.field / model.field__grain forms to their output names
        out_by_ref = {
            full: _out_name(kind, full, alias) for kind, full, alias in classified
        }

        def to_out(text: str) -> str:
            for full, out in sorted(out_by_ref.items(), key=lambda kv: -len(kv[0])):
                text = re.sub(rf"(?<![\w.]){re.escape(full)}(?![\w.])", out, text)
            return text

        outs = ", ".join(
            _out_name(kind, full, alias) for kind, full, alias in classified
        )
        part_clause = f"PARTITION BY {to_out(partition.strip())} " if partition else ""
        sql = (
            f"SELECT {outs} FROM (\n"
            f"SELECT _t.*, {fn}() OVER ({part_clause}ORDER BY {to_out(order.strip())}) AS __rn\n"
            f"FROM (\n{compiled}\n) _t\n"
            f") _w WHERE __rn <= {k}"
        )
        if order_by:
            sql += "\nORDER BY " + ", ".join(to_out(o) for o in order_by)
        if limit is not None:
            sql += f"\nLIMIT {int(limit)}"
        if offset is not None:
            sql += f"\nOFFSET {int(offset)}"
        self._applied_rules.append("qualify_topn_window")
        return sql

    def _rewrite_correlated_where(
        self, items: list[str], clause_vals: dict[str, str], base_model: str
    ) -> str | None:
        """Row-vs-measure comparison in WHERE (ref corpus measures.test
        Listing-12 family): ``WHERE o.revenue > o.avgRevenue AT (WHERE
        prodName = o.prodName)`` filters DETAIL rows against a measure
        evaluated in a correlated context. Compiles as detail rows
        LEFT-JOINed to the per-correlation-key aggregate (both sides
        re-use the model's own plans; the aggregate side is tiny, so
        Catalyst broadcast-joins it), with the comparison applied as a
        plain WHERE. Returns None when the WHERE doesn't match the
        supported shape — one measure-AT conjunct whose modifier is a
        correlated equality on a dimension — so the caller's normal
        routes (and their precise errors) still apply."""
        conjs = [c.strip() for c in split_top(
            clause_vals["WHERE"], "AND") if c.strip()]
        at_conj, others = None, []
        for c in conjs:
            if at_conj is None and re.search(r"\bAT\s*\(", c, re.I):
                at_conj = c
            else:
                others.append(c)
        if at_conj is None:
            return None
        m = re.match(
            r"^(.+?)\s*(>=|<=|<>|!=|=|>|<)\s*([A-Za-z_][\w.]*)\s+AT\s*\(",
            at_conj, re.I | re.S,
        )
        if not m:
            return None
        lhs, op, mref = m.group(1), m.group(2), m.group(3)
        mod_start = m.end() - 1
        mod_end = close_paren(at_conj[mod_start:])
        if mod_end is None or at_conj[mod_start + mod_end + 1:].strip():
            return None
        mod = at_conj[mod_start + 1: mod_start + mod_end]
        tgt = self._classify_ref(mref, base_model)
        if tgt is None or tgt[0] != "metric":
            return None
        full_metric = tgt[1]
        mm = re.match(r"^\s*WHERE\s+(.+)$", mod.strip(), re.I | re.S)
        if not mm:
            return None
        pm = re.fullmatch(
            r"([A-Za-z_][\w.]*)\s*=\s*([A-Za-z_][\w.]*)",
            mm.group(1).strip(),
        )
        if not pm:
            return None

        def dim_short(ref2: str) -> str | None:
            t = self._classify_ref(ref2, base_model)
            return t[1].split(".", 1)[1] if t and t[0] == "dim" else None

        da, db = dim_short(pm.group(1)), dim_short(pm.group(2))
        if da is None or da != db:
            return None
        corr = da

        sel: list[tuple[str, str | None]] = []
        for item in items:
            ref2, alias = split_alias(item)
            t = self._classify_ref(ref2, base_model)
            if t is None or t[0] != "dim":
                return None
            sel.append((t[1], alias))

        def to_det(text: str) -> tuple[str, set[str]]:
            used: set[str] = set()

            def repl(mt: re.Match) -> str:
                t = self._classify_ref(mt.group(0), base_model)
                if t and t[0] == "dim":
                    short = t[1].split(".", 1)[1]
                    used.add(t[1])
                    return f"__det.{short}"
                return mt.group(0)

            out = sub_code(text, lambda seg: re.sub(r"[A-Za-z_][\w.]*", repl, seg))
            return out, used

        lhs_det, det_refs = to_det(lhs.strip())
        other_det: list[str] = []
        for c in others:
            cd, used = to_det(c)
            det_refs |= used
            other_det.append(cd)
        det_refs |= {full for full, _a in sel}
        det_refs.add(f"{base_model}.{corr}")

        det_sql = self._generate(QuerySpec(
            dimensions=sorted(det_refs), ungrouped=True,
        ))
        ctx_sql = self._generate(QuerySpec(
            metrics=[full_metric],
            dimensions=[f"{base_model}.{corr}"],
        ))
        mout = _out_name("metric", full_metric, None)
        out_cols = [
            f"__det.{full.split('.', 1)[1]}"
            + (f" AS {alias}" if alias else "")
            for full, alias in sel
        ]
        preds = [f"{lhs_det} {op} __ctx.{mout}"] + other_det
        sql = (
            f"WITH __det AS (\n{det_sql}\n),\n__ctx AS (\n{ctx_sql}\n)\n"
            + "SELECT " + ", ".join(out_cols)
            + f"\nFROM __det\nLEFT JOIN __ctx ON __det.{corr} <=> __ctx.{corr}"
            + "\nWHERE " + "\n  AND ".join(f"({p})" for p in preds)
        )
        if "ORDER BY" in clause_vals:
            ob = clause_vals["ORDER BY"]
            for full, alias in sorted(sel, key=lambda kv: -len(kv[0])):
                ob = re.sub(
                    rf"(?<![\w.]){re.escape(full)}(?![\w.])",
                    alias or full.split(".", 1)[1], ob,
                )
            sql += "\nORDER BY " + ob
        if "LIMIT" in clause_vals:
            sql += f"\nLIMIT {int(clause_vals['LIMIT'])}"
        if "OFFSET" in clause_vals:
            sql += f"\nOFFSET {int(clause_vals['OFFSET'])}"
        self._applied_rules.append("correlated_where_measure")
        return sql

    def _rewrite_at_select(
        self, items: list[str], clause_vals: dict[str, str], base_model: str
    ) -> str:
        """Yardstick ``AT (...)`` context modifiers (ref
        ``sql/query_rewriter.py:4742-4904`` ``_apply_yardstick_modifiers``):
        each AT call evaluates its measure in a *modified* dimension
        context — ``ALL`` drops dimensions (grand/partial totals),
        ``SET dim = v`` / ``SET dim IN (...)`` pins a dimension,
        ``WHERE pred`` adds filters, ``VISIBLE`` opts into the query's
        own WHERE. On Spark each modified context compiles to its own
        aggregated subquery at the reduced grain, joined back to the
        main grouped query on the surviving dimensions — aggregated
        frames are tiny, so Catalyst broadcast-joins them; no
        correlated-subquery execution is needed."""

        unsupported = [c for c in ("QUALIFY",) if c in clause_vals]
        if unsupported:
            # refusing beats silently dropping the clause
            raise QueryCompileError(
                f"AT (...) context modifiers do not support "
                f"{'/'.join(unsupported)} in the same query"
            )

        def dim_base(full: str) -> str:
            return re.sub(r"__[a-z]+$", "", full)

        at_calls: list[tuple] = []  # (ref, is_agg, mods, alias, expose)
        render: list[tuple] = []    # ordered output plan
        classified: list[tuple[str, str, str | None]] = []
        metrics: list[str] = []
        dims_rendered: list[str] = []
        metric_outs: dict[str, str] = {}  # full metric -> out column

        def add_main(kind: str, full: str, alias: str | None) -> str:
            out = _out_name(kind, full, alias)
            rendered = f"{full} AS {alias}" if alias else full
            pool = metrics if kind == "metric" else dims_rendered
            if rendered not in pool and not any(
                _out_name(k, f, a) == out for k, f, a in classified
            ):
                classified.append((kind, full, alias))
                pool.append(rendered)
            if kind == "metric":
                metric_outs[full] = out
            return out

        # GROUP BY ROLLUP(dim): the main context adds the grand-total
        # grouping-set row; AGGREGATE terms then join per-group (the
        # total row's NULL dim matches no sub-context, so every measure
        # is NULL there while COUNT(*) still counts — ref corpus paper
        # Listing-8 block)
        with_totals = bool(re.search(
            r"\bROLLUP\s*\(", clause_vals.get("GROUP BY", ""), re.I
        ))

        for item in items:
            parsed = _parse_at_item(item)
            if parsed is not None:
                ref, is_agg, mods, alias = parsed
                render.append(("at", len(at_calls), alias))
                at_calls.append((ref, is_agg, mods, alias, True))
                continue
            ref, alias = split_alias(item)
            target = self._classify_ref(ref, base_model)
            if target is not None:
                kind, full = target
                if kind == "metric" and ".__adhoc_" not in full:
                    # bare measure ref in an AT query: evaluates in the
                    # group context but IGNORES the query WHERE (the
                    # paper's invisible default; AGGREGATE(m) opts in).
                    # COUNT(*) / AVG(col) — rewritten to __adhoc_*
                    # metrics upstream — are literal SQL, not measure
                    # refs: they stay in the main visible context.
                    render.append(("at", len(at_calls), alias))
                    at_calls.append((ref, False, [], alias, True))
                    continue
                add_main(kind, full, alias)
                render.append(("main", kind, full, alias))
                continue
            # expression path: arithmetic over AGGREGATE(...)/AT terms
            # and already-aggregated measure refs (ref corpus
            # measures.test pct-of-total / yoy-change families)
            template, terms = _scan_aggregate_terms(ref)
            if not terms and "AT" not in ref.upper():
                raise QueryCompileError(
                    f"AT-modifier queries support plain metric/dimension "
                    f"select items alongside the AT calls, got: {item!r}"
                )
            term_map: list[tuple] = []
            for tref, tmods in terms:
                tgt = self._classify_ref(tref, base_model)
                if tgt is None or tgt[0] != "metric":
                    raise QueryCompileError(
                        f"AGGREGATE() requires a measure reference, got {tref!r}"
                    )
                if tmods or with_totals:
                    # under ROLLUP totals even mod-less AGGREGATE terms
                    # must join per-group so the total row reads NULL
                    term_map.append(("at", len(at_calls)))
                    at_calls.append((tref, True, tmods, None, False))
                else:
                    term_map.append(("main", add_main("metric", tgt[1], None)))
            # bare measure/dim tokens in the remainder bind to __main
            token_subs: dict[str, str] = {}
            for tok in set(re.findall(r"[A-Za-z_][\w.]*", re.sub(r"\x00T\d+\x00", " ", template))):
                if tok.upper() in ("AND", "OR", "NOT", "NULL", "CASE", "WHEN",
                                   "THEN", "ELSE", "END", "AS", "CAST",
                                   "DOUBLE", "IS"):
                    continue
                tgt = self._classify_ref(tok, base_model)
                if tgt is None:
                    continue
                kind, full = tgt
                if kind == "dim":
                    out = _out_name("dim", full, None)
                    if not any(_out_name(k, f, a) == out
                               for k, f, a in classified):
                        raise QueryCompileError(
                            f"expression references dimension {tok!r} which "
                            "is not selected by the query"
                        )
                    token_subs[tok] = f"__main.{out}"
                else:
                    token_subs[tok] = f"__main.{add_main('metric', full, None)}"
            for tok, repl in token_subs.items():
                template = re.sub(rf"(?<![\w.]){re.escape(tok)}(?![\w.(])",
                                  repl, template)
            render.append(("expr", template, alias, term_map))

        # HAVING over AT terms (ref corpus measures.test AT+HAVING):
        # each AGGREGATE(...) AT (...) term in the HAVING expression
        # resolves to the matching at-context's value column (adding a
        # hidden context when the select list doesn't already compute
        # it); since every context is pre-aggregated in its own CTE,
        # HAVING becomes a plain WHERE over the joined result.
        having_template = None
        having_map: list[tuple] = []
        if "HAVING" in clause_vals:
            having_template, hterms = _scan_aggregate_terms(
                clause_vals["HAVING"]
            )
            if not hterms:
                raise QueryCompileError(
                    "HAVING alongside AT modifiers must filter on "
                    "AGGREGATE(...) terms"
                )
            def _resolved(ref2: str) -> str:
                tgt2 = self._classify_ref(ref2, base_model)
                return tgt2[1] if tgt2 else ref2

            for tref, tmods in hterms:
                tfull = _resolved(tref)
                tkey = [re.sub(r"\s+", " ", m.strip().upper()) for m in tmods]
                found = None
                for ci, (cref, _ci_agg, cmods, _ca, _ce) in enumerate(at_calls):
                    if _resolved(cref) == tfull and [
                        re.sub(r"\s+", " ", m.strip().upper()) for m in cmods
                    ] == tkey:
                        found = ci
                        break
                if found is None and tmods:
                    found = len(at_calls)
                    at_calls.append((tref, True, tmods, None, False))
                if found is not None:
                    having_map.append(("at", found))
                else:
                    having_map.append(
                        ("main", add_main("metric", tfull, None))
                    )

        where = (
            self._qualify_bare(clause_vals["WHERE"], base_model)
            if "WHERE" in clause_vals
            else None
        )
        has_main = bool(classified)
        dim_entries = [
            (full, alias) for kind, full, alias in classified if kind == "dim"
        ]
        if has_main:
            main_spec = QuerySpec(
                metrics=metrics,
                dimensions=dims_rendered,
                filters=[where] if where else [],
                with_totals=with_totals,
            )
            ctes = [f"__main AS (\n{self._generate(main_spec)}\n)"]
        else:
            # main-less AT query (`SELECT AGGREGATE(m) AT (ALL) FROM x`):
            # no grouped context to join back to — the at-contexts ARE
            # the result (ref corpus measures.test at-only family)
            ctes = []
        joins: list[str] = []
        for idx, (ref, is_agg, mods, alias, _expose) in enumerate(at_calls):
            target = self._classify_ref(ref, base_model)
            if target is None or target[0] != "metric":
                raise QueryCompileError(
                    f"AT modifiers require a measure reference, got {ref!r}"
                )
            full_metric = target[1]
            # re-store the resolved full ref so the render stage names
            # default columns from the qualified metric
            at_calls[idx] = (full_metric, is_agg, mods, alias, _expose)

            # flatten compound modifiers: `AT (ALL a, WHERE x)` splits on
            # top-level commas; bare continuations extend a previous ALL
            # target list (`AT (ALL a, b)`)
            flat: list[str] = []
            for mod in mods:
                prev_kw = None
                for part in split_items(mod):
                    head = part.split(None, 1)
                    kw = head[0].upper() if head else ""
                    if kw == "SET":
                        # compound `SET dim = <expr> VISIBLE` inside one
                        # modifier: the trailing keyword is its own flag,
                        # not part of the SET expression (ref
                        # test_yardstick_compound_at_modifiers_set_visible)
                        vm = re.match(r"^(.*?)\s+VISIBLE\s*$", part, re.I)
                        if vm:
                            flat.append(vm.group(1))
                            flat.append("VISIBLE")
                            prev_kw = "VISIBLE"
                            continue
                    if kw in ("ALL", "WHERE", "SET", "VISIBLE"):
                        flat.append(part)
                        prev_kw = kw
                    elif prev_kw == "ALL":
                        flat[-1] += ", " + part
                    else:
                        raise QueryCompileError(
                            f"unsupported AT modifier: {part!r}"
                        )

            active = list(dim_entries)
            preds: list[str] = []
            join_overrides: dict[str, str] = {}  # sub out col -> main-side expr
            include_visible = bool(is_agg)
            has_set = any(m.split(None, 1)[0].upper() == "SET" for m in flat)
            if has_set:
                include_visible = False
            # a single WHERE modifier evaluates non-correlated (ref
            # query_rewriter.py:4774-4777,4825-4827): dims are cleared
            if len(flat) == 1 and flat[0].split(None, 1)[0].upper() == "WHERE":
                active = []
            for mod in flat:
                head = mod.split(None, 1)
                kw = head[0].upper()
                rest = head[1].strip() if len(head) > 1 else ""
                if kw == "ALL" and not rest:
                    active, preds, include_visible = [], [], False
                elif kw == "ALL":
                    # targets split on commas OR bare whitespace
                    # (`AT (ALL year region)` — ref corpus measures.test)
                    targets = [
                        t2 for t in split_items(rest)
                        for t2 in t.strip().split()
                    ]
                    for t in targets:
                        tgt = self._classify_ref(t.strip(), base_model)
                        if tgt is None or tgt[0] != "dim":
                            raise QueryCompileError(
                                f"ALL target must be a dimension: {t!r}"
                            )
                        tb = dim_base(tgt[1])
                        active = [
                            e for e in active if dim_base(e[0]) != tb
                        ]
                elif kw == "WHERE":
                    preds.append(self._qualify_bare(rest, base_model))
                elif kw == "SET":
                    pm = re.match(
                        r"^([A-Za-z_][\w.]*(?:__[a-z]+)?)\s*(=|IN\b)\s*(.+)$",
                        rest,
                        re.I | re.S,
                    )
                    if not pm:
                        raise QueryCompileError(
                            f"unsupported SET modifier: {mod!r} "
                            f"(expected `SET dim = value` or `SET dim IN (...)`)"
                        )
                    dref, op, val = pm.group(1), pm.group(2).upper(), pm.group(3)
                    tgt = self._classify_ref(dref, base_model)
                    if tgt is None or tgt[0] != "dim":
                        raise QueryCompileError(
                            f"SET target must be a dimension: {dref!r}"
                        )
                    tb = dim_base(tgt[1])
                    # contextual shift: the value references the target
                    # dimension (optionally via Yardstick's CURRENT
                    # keyword) — `SET year = year - 1` means "evaluate
                    # at the row's year minus one", a shifted JOIN, not
                    # a constant pin (ref corpus measures.test
                    # prior-year family). The dim stays grouped in the
                    # sub-context and the join equates the sub's value
                    # to the shifted outer expression.
                    val_clean = re.sub(r"\bCURRENT\s+", "", val.strip(),
                                       flags=re.I)
                    dim_short = tgt[1].split(".", 1)[1]
                    shift = op == "=" and re.search(
                        rf"(?<![\w.]){re.escape(dim_base(dim_short))}(?![\w.])",
                        val_clean,
                    )
                    if shift:
                        entry = next(
                            (e for e in dim_entries if dim_base(e[0]) == tb),
                            None,
                        )
                        if entry is None:
                            # CURRENT-shift without the dim in the select
                            # list (ref corpus measures.test CURRENT-shift
                            # family): the current value can only come
                            # from an equality filter on the dim; with no
                            # such filter the evaluation context has no
                            # current value and the measure is NULL (an
                            # impossible predicate makes the ungrouped
                            # aggregate return NULL / the joined context
                            # return no row).
                            cur_val = None
                            short = dim_base(dim_short)
                            for conj in re.split(r"\bAND\b", where or "",
                                                 flags=re.I):
                                cm = re.fullmatch(
                                    rf"\s*\(*\s*(?:[\w.]+\.)?{re.escape(short)}"
                                    r"\s*=\s*('(?:[^']|'')*'|[-\w.]+)\s*\)*\s*",
                                    conj,
                                )
                                if cm:
                                    cur_val = cm.group(1)
                                    break
                            if cur_val is not None:
                                shifted = re.sub(
                                    rf"(?<![\w.]){re.escape(short)}(?![\w.])",
                                    cur_val, val_clean,
                                )
                                preds.append(f"{tgt[1]} = ({shifted})")
                            else:
                                preds.append("1 = 0")
                            continue
                        if entry not in active:
                            active.append(entry)
                        out_col = entry[1] or entry[0].split(".", 1)[1]
                        join_overrides[out_col] = re.sub(
                            rf"(?<![\w.]){re.escape(dim_base(dim_short))}(?![\w.])",
                            f"__main.{out_col}",
                            val_clean,
                        )
                        continue
                    active = [e for e in active if dim_base(e[0]) != tb]
                    preds.append(f"{tgt[1]} {op} {val.strip()}")
                elif kw == "VISIBLE":
                    if not has_set:
                        include_visible = True

            sub_filters = list(preds)
            if include_visible and where:
                sub_filters.insert(0, where)
            # drop context dims the measure's own fact can neither
            # reach nor conform to (another fact's PRIVATE dims, ref
            # corpus measures.test cross-view join): the measure's
            # context grain is what its fact can express; the join back
            # then repeats the value across the private dim's values.
            # Ad-hoc join tables don't count as reach — a
            # measure view joined through a plain table keeps its OWN
            # context (the paper Listing-9 semantics: avgAge is the
            # same for every prodName group), it does not inherit the
            # bridge's grouping.
            mm_model = full_metric.split(".", 1)[0]
            reach = self.generator._reachable_from(mm_model) - self._adhoc_models()
            mm_obj = self.graph.get_model(mm_model)

            def _ctx_ok(full_dim: str) -> bool:
                dmodel, dfield = dim_base(full_dim).split(".", 1)
                return dmodel in reach or mm_obj.dimension(dfield) is not None

            active = [e for e in active if _ctx_ok(e[0])]
            sub_dims = [f"{f} AS {a}" if a else f for f, a in active]
            sub_sql = self._generate(
                QuerySpec(
                    metrics=[full_metric],
                    dimensions=sub_dims,
                    filters=sub_filters,
                )
            )
            mout = _out_name("metric", full_metric, None)
            sub_outs = [a or f.split(".", 1)[1] for f, a in active]
            a_alias = f"__at{idx}"
            sel_cols = ", ".join(sub_outs + [f"{mout} AS __val{idx}"])
            ctes.append(f"{a_alias} AS (\nSELECT {sel_cols} FROM (\n{sub_sql}\n)\n)")
            if sub_outs:
                cond = " AND ".join(
                    f"{a_alias}.{c} <=> {join_overrides[c]}"
                    if c in join_overrides
                    else f"__main.{c} <=> {a_alias}.{c}"
                    for c in sub_outs
                )
                joins.append(f"LEFT JOIN {a_alias} ON {cond}")
            else:
                joins.append(f"CROSS JOIN {a_alias}")

        def at_val(idx: int) -> str:
            return f"__at{idx}.__val{idx}"

        out_cols: list[str] = []
        for entry in render:
            if entry[0] == "main":
                _tag, kind, full, alias = entry
                out_cols.append(f"__main.{_out_name(kind, full, alias)}")
            elif entry[0] == "at":
                _tag, idx, alias = entry
                ref = at_calls[idx][0]
                default = _out_name("metric", ref, None) + f"_at_{idx}"
                out_cols.append(f"{at_val(idx)} AS {alias or default}")
            else:
                _tag, template, alias, term_map = entry
                resolved = template
                for n, tm in enumerate(term_map):
                    repl = at_val(tm[1]) if tm[0] == "at" else f"__main.{tm[1]}"
                    resolved = resolved.replace(f"\x00T{n}\x00", repl)
                out_cols.append(
                    f"({resolved}) AS {alias or f'expr_{len(out_cols)}'}"
                )
        if has_main:
            from_sql = "__main\n" + "\n".join(joins)
        else:
            # at-only query: the first context anchors the FROM; a
            # main-less sub has no dims to join on, so peers cross-join
            from_sql = "__at0\n" + "\n".join(
                f"CROSS JOIN __at{i}" for i in range(1, len(at_calls))
            )
        sql = (
            "WITH "
            + ",\n".join(ctes)
            + "\nSELECT "
            + ", ".join(out_cols)
            + "\nFROM "
            + from_sql
        )
        if having_template is not None:
            resolved_h = having_template
            for n, hm in enumerate(having_map):
                repl = (
                    at_val(hm[1]) if hm[0] == "at" else f"__main.{hm[1]}"
                )
                resolved_h = resolved_h.replace(f"\x00T{n}\x00", repl)
            sql += "\nWHERE " + resolved_h
        if "ORDER BY" in clause_vals:
            # model-qualified refs (`model.dim`) name __main's output
            # columns in the final select scope. Bare measure refs that
            # were routed to invisible AT contexts live in `render`,
            # not `classified` — map them to their rendered output
            # alias too, or ORDER BY model.metric leaks the qualified
            # ref into the outer scope and fails to resolve.
            ob = clause_vals["ORDER BY"]
            order_map: list[tuple[str, str]] = [
                (full, _out_name(kind, full, alias))
                for kind, full, alias in classified
            ]
            seen_at: set[str] = set()
            for entry in render:
                if entry[0] != "at":
                    continue
                _tag, idx, alias = entry
                ref = at_calls[idx][0]
                if ref in seen_at or not at_calls[idx][4]:  # not exposed
                    continue
                seen_at.add(ref)
                order_map.append(
                    (ref, alias or _out_name("metric", ref, None) + f"_at_{idx}")
                )
            for full, out in sorted(order_map, key=lambda kv: -len(kv[0])):
                ob = re.sub(
                    rf"(?<![\w.]){re.escape(full)}(?![\w.])", out, ob,
                )
            sql += "\nORDER BY " + ob
        if "LIMIT" in clause_vals:
            sql += f"\nLIMIT {int(clause_vals['LIMIT'])}"
        if "OFFSET" in clause_vals:
            sql += f"\nOFFSET {int(clause_vals['OFFSET'])}"
        self._applied_rules.append("yardstick_at_modifiers")
        return sql

    def _rewrite_expression_select(
        self, items: list[str], clause_vals: dict[str, str], base_model: str
    ) -> str:
        """Ad-hoc expressions over metrics/dims (ref
        ``sql/query_rewriter.py:5708-5897`` ``_rewrite_expression_query``):
        compile an inner semantic query projecting every referenced
        field, then evaluate the expressions in a wrapper SELECT.
        Catalyst collapses the wrapper projection, so no further
        micro-optimization is needed (SURVEY §4)."""
        if "QUALIFY" in clause_vals:
            raise QueryCompileError(
                "QUALIFY is not supported on expression selects; move the "
                "expression into a wrapper query"
            )
        graph = self.graph
        inner_metrics: list[str] = []
        inner_dims: list[str] = []
        seen: set[str] = set()

        def note(kind: str, full: str) -> str:
            # output column name the generator produces for a bare ref
            _, field = full.split(".", 1)
            if full not in seen:
                seen.add(full)
                (inner_metrics if kind == "metric" else inner_dims).append(full)
            return field

        token_re = re.compile(
            r"(?<![\w.'])([A-Za-z_][A-Za-z0-9_]*)(?:\.([A-Za-z_][A-Za-z0-9_]*))?"
            r"(?:__([a-z]+))?(?![\w.])"
        )

        def sub_refs(text: str) -> tuple[str, bool]:
            matched = False

            def repl(m: re.Match) -> str:
                nonlocal matched
                tok = m.group(0)
                target = self._classify_ref(tok, base_model)
                if target is None:
                    return tok
                matched = True
                return note(*target)

            out = sub_code(text, lambda seg: token_re.sub(repl, seg))
            return out, matched

        outer_items = []
        for i, item in enumerate(items):
            ref, alias = split_alias(item)
            target = self._classify_ref(ref, base_model)
            if target is not None:
                name = note(*target)
                outer_items.append(f"{name} AS {alias}" if alias else name)
                continue
            rewritten, matched = sub_refs(ref)
            # `matched` (not text comparison): a resolved ref can render
            # as its own spelling (`2 * revenue` resolves revenue to the
            # identically-named output column)
            if not matched:
                if re.fullmatch(
                    r"\s*(?:-?[\d.]+|NULL|TRUE|FALSE|'(?:[^']|'')*')\s*",
                    ref, re.I,
                ):
                    # constant select items pass through (ref corpus
                    # measures.test literal-projection family)
                    outer_items.append(f"{ref} AS {alias or f'expr_{i}'}")
                    continue
                raise QueryCompileError(
                    f"unsupported select item {item!r}: references no known "
                    "metric or dimension"
                )
            outer_items.append(f"{rewritten} AS {alias or f'expr_{i}'}")

        filters = []
        if "WHERE" in clause_vals:
            filters.append(self._qualify_bare(clause_vals["WHERE"], base_model))
        having = (
            sub_refs(clause_vals["HAVING"])[0] if "HAVING" in clause_vals else None
        )
        order_raw = (
            split_items(clause_vals["ORDER BY"]) if "ORDER BY" in clause_vals else []
        )
        order = [sub_refs(o)[0] for o in order_raw]

        spec = QuerySpec(metrics=inner_metrics, dimensions=inner_dims, filters=filters)
        inner_sql = self._generate(spec)
        out = f"SELECT {', '.join(outer_items)}\nFROM (\n{inner_sql}\n) _expr"
        if having:
            # the HAVING may reference expression aliases, so filter a
            # wrapper above the projection (Catalyst collapses it)
            out = f"SELECT * FROM (\n{out}\n) _h\nWHERE {having}"
        if order:
            out += f"\nORDER BY {', '.join(order)}"
        if "LIMIT" in clause_vals:
            out += f"\nLIMIT {int(clause_vals['LIMIT'])}"
        if "OFFSET" in clause_vals:
            out += f"\nOFFSET {int(clause_vals['OFFSET'])}"
        return out

    def _register_adhoc_join_tables(self, from_clause: str) -> None:
        """Plain catalog tables named in an explicit JOIN become ad-hoc
        models of this request's graph (every column a dimension) so a
        query can join a raw table against a measure view (ref corpus
        measures.test qualified-join family)."""
        spark = getattr(self.layer, "spark", None)
        if spark is None:
            return
        for t in re.findall(
            r"(?:^\s*|\bJOIN\s+)([A-Za-z_]\w*)", from_clause, re.I
        ):
            if t in self.graph.models or t.upper() in _JOIN_KEYWORDS:
                continue
            from pyspark.errors import AnalysisException, ParseException

            try:
                cols = spark.sql(f"SELECT * FROM {t} WHERE 1=0").columns
            except (AnalysisException, ParseException):
                continue  # not a readable table: let validation raise
            # built around Model.__post_init__: inside `with layer:` it
            # registers every new Model on the shared graph
            model = object.__new__(Model)
            for f in dataclasses.fields(Model):
                setattr(model, f.name, f.default
                        if f.default_factory is dataclasses.MISSING
                        else f.default_factory())
            model.name = model.table = t
            model.primary_key = cols[0]
            model.dimensions = [Dimension(name=c) for c in cols]
            model.reindex()
            self._own(model)

    def _validate_explicit_joins(self, from_clause: str) -> str:
        """``model [LEFT|INNER] JOIN other ON a.x = b.y [...]`` — every ON
        pair must match a declared relationship's fk/pk (reference
        explicit-join validation ``sql/query_rewriter.py:5568-5707``).
        Returns the base model name; the generator rebuilds the joins
        from the graph, so validation is the only job here."""
        graph = self.graph
        joins = list(re.finditer(
            r"\b(LEFT\s+(?:OUTER\s+)?|INNER\s+|FULL\s+(?:OUTER\s+)?)?JOIN\b",
            from_clause, flags=re.I,
        ))
        base_model = (
            from_clause[: joins[0].start()] if joins else from_clause
        ).strip()
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", base_model):
            raise QueryCompileError(f"invalid join base: {base_model!r}")
        graph.get_model(base_model)
        seen = {base_model}
        self._inner_join_models = []
        for i, jm in enumerate(joins):
            seg = from_clause[
                jm.end(): joins[i + 1].start() if i + 1 < len(joins) else None
            ]
            jtype = (jm.group(1) or "INNER").split()[0].upper()
            m = re.match(r"^\s*([A-Za-z_]\w*)\s+ON\s+(.+)$", seg.strip(), re.I | re.S)
            if not m:
                raise QueryCompileError(f"unparseable JOIN segment: {seg.strip()[:80]!r}")
            if jtype == "INNER":
                # a bare/INNER explicit JOIN keeps the reference's
                # join-existence semantics even when nothing of the
                # joined model is selected (ref test_sql_rewriter.py:296)
                self._inner_join_models.append(m.group(1))
            target, cond = m.group(1), m.group(2).strip()
            graph.get_model(target)
            # a fully parenthesized predicate is the same condition (ref
            # test_sql_rewriter.py:281 `ON (a.x = b.y)`); strip outer
            # parens that enclose the whole text (not `(a) AND (b)`)
            # before splitting conjuncts
            while cond.startswith("(") and close_paren(cond) == len(cond) - 1:
                cond = cond[1:-1].strip()
            pairs = []
            for conj in re.split(r"\bAND\b", cond, flags=re.I):
                em = re.match(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", conj.strip())
                if not em:
                    raise QueryCompileError(
                        f"explicit JOIN condition must be model.col = model.col: {conj.strip()!r}")
                pairs.append((em.group(1), em.group(2), em.group(3), em.group(4)))
            if not self._join_matches_graph(seen, target, pairs):
                # conformed-dimension join: two UNRELATED facts joined on
                # same-named dimensions both declare (ref corpus
                # measures.test multi-fact family). Valid — the
                # generator's multi-fact split builds exactly this
                # FULL-OUTER-on-conformed-dims plan.
                tgt_model = graph.get_model(target)
                conformed = pairs and all(
                    a_col == b_col
                    and graph.get_model(a_m).dimension(a_col) is not None
                    and tgt_model.dimension(b_col) is not None
                    for a_m, a_col, _b_m, b_col in pairs
                )
                # an ad-hoc table bridge beats the conformed
                # interpretation: a plain table carries no measures, so
                # a multi-fact FULL OUTER split has nothing to split —
                # the graph join (entity-grain fan-out handling) is the
                # semantics the reference gives these queries
                if not self._hook_adhoc_bridge(pairs, target) and not conformed:
                    raise QueryCompileError(
                        f"explicit JOIN to {target!r} does not match any "
                        f"declared relationship keys: {cond!r}")
            seen.add(target)
        # unqualified refs in the select list may name fields of ANY
        # joined model (ref corpus aliased multi-fact joins)
        self._extra_scope = [m2 for m2 in seen if m2 != base_model]
        return base_model

    def _hook_adhoc_bridge(self, pairs: list, target: str) -> bool:
        """When one side of an unmatched explicit join is an ad-hoc
        table model, wire a many_to_one relationship from the bridge
        onto the measure view's pk for this request — the
        graph's fan-out machinery then evaluates the view's measures at
        entity grain (AVG over DISTINCT joined entities, the reference
        corpus qualified-join semantics), not over duplicated join
        rows."""
        eph = self._adhoc_models()
        if not pairs or not eph:
            return False
        graph = self.graph
        sides = {m for a_m, _ac, b_m, _bc in pairs for m in (a_m, b_m)}
        bridges = sides & eph
        others = sides - eph
        if len(bridges) != 1 or len(others) != 1:
            return False
        bridge, other = next(iter(bridges)), next(iter(others))
        fks, pks = [], []
        for a_m, a_col, b_m, b_col in pairs:
            if a_m == bridge and b_m == other:
                fks.append(a_col)
                pks.append(b_col)
            elif a_m == other and b_m == bridge:
                fks.append(b_col)
                pks.append(a_col)
            else:
                return False
        if pks != graph.get_model(other).pk_list():
            return False
        self._add_field(bridge, "relationships", Relationship(
            name=other, type="many_to_one",
            foreign_key=fks[0] if len(fks) == 1 else fks,
        ))
        return True

    def _join_matches_graph(self, seen: set, target: str, pairs: list) -> bool:
        graph = self.graph
        for src in seen:
            src_model = graph.get_model(src)
            tgt_model = graph.get_model(target)
            for rel, owner in (
                [(r, src) for r in src_model.relationships if r.name == target]
                + [(r, target) for r in tgt_model.relationships if r.name == src]
            ):
                fks = rel.fk_list()
                if not fks:
                    continue
                # key orientation mirrors core/graph.py:175-180: a
                # many_to_one declaration carries the FK locally and
                # joins the target's PK; one_to_many/one_to_one join the
                # DECLARING model's key to the FK on the related model
                # (ref test_sql_rewriter.py:342 composite one_to_many)
                if rel.type in ("one_to_many", "one_to_one"):
                    fk_side, pk_side = rel.name, owner
                    pks = rel.pk_list(graph.get_model(owner).pk_list())
                else:
                    fk_side, pk_side = owner, rel.name
                    pks = rel.pk_list(graph.get_model(rel.name).pk_list())
                # user SQL may write either the physical column or a
                # dimension whose expression is that column
                def names_for(model_name: str, physical: str) -> set:
                    mdl = graph.get_model(model_name)
                    out = {physical}
                    out.update(d.name for d in mdl.dimensions if d.expr == physical)
                    return out

                def pair_ok(declared, got_pair) -> bool:
                    (m1, c1), (m2, c2) = declared
                    gd = dict(got_pair)
                    return (
                        set(gd) == {m1, m2}
                        and gd[m1] in names_for(m1, c1)
                        and gd[m2] in names_for(m2, c2)
                    )

                want = [((fk_side, fk), (pk_side, pk)) for fk, pk in zip(fks, pks)]
                got = [((a, b), (c, d)) for a, b, c, d in pairs]
                if len(want) == len(got) and all(
                    any(pair_ok(w, g) for g in got) for w in want
                ):
                    return True
        return False

    # scalar functions whose application to a dimension is itself a
    # groupable dimension (ref corpus measures.test MONTH()/DATE_TRUNC()
    # select items). Aggregates are deliberately absent.
    _EXPR_DIM_FNS = (
        "MONTH", "YEAR", "DAY", "QUARTER", "WEEK", "DAYOFWEEK", "HOUR",
        "DATE_TRUNC", "UPPER", "LOWER", "LEFT", "RIGHT", "SUBSTRING",
        "SUBSTR", "CONCAT", "ARRAY_LENGTH", "LENGTH", "COALESCE",
    )

    def _register_expr_dims(
        self, text: str, clause_vals: dict, base_model: str, model
    ) -> tuple[str, dict]:
        """Fold scalar-function-over-dimension expressions into ad-hoc
        model dimensions so ``SELECT MONTH(order_date), AGGREGATE(m)``
        groups by the expression (ref corpus function-dim family). The
        expression text is replaced with the generated dimension name
        everywhere it appears (select items AND inside AT mods /
        clauses), so modifiers like ``AT (ALL MONTH(d))`` target the
        same dimension."""
        import hashlib

        pat = re.compile(
            r"\b(" + "|".join(self._EXPR_DIM_FNS) + r")\s*\(", re.I
        )
        exprs: list[str] = []
        for m in pat.finditer(text):
            end = close_paren(text, m.end() - 1)
            expr = text[m.start() : None if end is None else end + 1]
            # every identifier inside must be a dimension of the model
            # (or a nested allowed function / string literal)
            ok = True
            inner = re.sub(r"'[^']*'", "", expr)
            for tok in set(re.findall(r"[A-Za-z_][\w]*", inner)):
                if tok.upper() in self._EXPR_DIM_FNS:
                    continue
                if model.dimension(tok) is not None:
                    continue
                ok = False
                break
            if ok and re.search(r"[A-Za-z_]", inner[len(expr.split("(")[0]):]):
                exprs.append(expr)
        mapping: dict[str, str] = {}
        for expr in sorted(set(exprs), key=len, reverse=True):
            # Spark spelling for the DuckDB-isms the corpus uses
            sql_expr = re.sub(r"\bARRAY_LENGTH\s*\(", "size(", expr, flags=re.I)
            # no "__" in the name: the grain-suffix convention splits on it
            name = "expr_dim_" + hashlib.md5(expr.encode()).hexdigest()[:8]
            self._add_field(base_model, "dimensions",
                            Dimension(name=name, sql=sql_expr))
            mapping[expr] = name
        if not mapping:
            return text, clause_vals
        def apply(s: str) -> str:
            for expr, name in mapping.items():
                s = s.replace(expr, name)
            return s
        clause_vals = {
            k: apply(v) if k not in ("LIMIT", "OFFSET") else v
            for k, v in clause_vals.items()
        }
        return apply(text), clause_vals

    def _classify_ref(self, ref: str, base_model: str | None) -> tuple[str, str] | None:
        ref = ref.strip()
        graph = self.graph
        m = re.fullmatch(
            r"([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*?)(?:__([a-z]+))?",
            ref,
        )
        if m:
            model_name, field, grain = m.group(1), m.group(2), m.group(3)
            if model_name not in graph.models:
                return None
            model = graph.get_model(model_name)
            if model.metric(field) is not None and grain is None:
                return ("metric", ref)
            if model.dimension(field) is not None:
                return ("dim", ref)
            return None
        if base_model is not None and re.fullmatch(
            r"[A-Za-z_][A-Za-z0-9_]*(?:__[a-z]+)?", ref
        ):
            # bare column: resolve against the base model, then any
            # explicitly-joined models (set by _validate_explicit_joins)
            base = ref.split("__", 1)[0]
            for scope in [base_model, *self._extra_scope]:
                model = graph.get_model(scope)
                if model.metric(base) is not None:
                    return ("metric", f"{scope}.{ref}")
                if model.dimension(base) is not None:
                    return ("dim", f"{scope}.{ref}")
            # graph-level metrics resolve by their bare name when no
            # in-scope model owns the field (ref test_sql_rewriter.py:701
            # `SELECT total_orders FROM orders`)
            if base in graph.metrics:
                return ("metric", ref)
        return None

    def _qualify_bare(self, text: str, base_model: str) -> str:
        """Qualify bare field names with the base model so the
        generator's reference machinery sees them."""
        model = self.graph.get_model(base_model)
        known_fields = {d.name for d in model.dimensions} | {m.name for m in model.metrics}

        def sub(m: re.Match) -> str:
            tok = m.group(0)
            base = tok.split("__", 1)[0]
            if base in known_fields:
                return f"{base_model}.{tok}"
            return tok

        # don't double-qualify model.field references
        return sub_code(text, lambda seg: re.sub(
            r"(?<![\w.])[A-Za-z_][A-Za-z0-9_]*(?:__[a-z]+)?(?!\s*\()(?![\w.])",
            sub,
            seg,
        ))
