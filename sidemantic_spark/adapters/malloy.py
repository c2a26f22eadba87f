"""Malloy source-file importer.

The reference ships a vendored ANTLR Malloy parser
(``adapters/malloy.py``, ~2k LoC + grammar). We re-express the semantic
subset with a brace-aware line parser covering the published Malloy
modeling surface: ``source: X is <conn>.table('t') extend { ... }``
blocks with ``primary_key:``, ``dimension:``, ``measure:``,
``join_one/join_many/join_cross:``, and source-level ``where:``.
Measures map via aggregate auto-extraction; ``{ where: ... }`` measure
filters become per-metric filters (ref ``adapters/malloy.py:738``
_parse_aggregation, ``:1368`` model assembly).
"""

from __future__ import annotations

import re

from sidemantic_spark.adapters.base import BaseAdapter
from sidemantic_spark.core.model import Dimension, Metric, Model, Relationship

_SOURCE_START = re.compile(
    r"^source:\s*(`[^`]+`|\w+)(?:\s*\([^)]*\))?\s+is\s+", re.M
)
_TABLE_RE = re.compile(r"(?:\w+\.)?(?:table|virtual)\(\s*['\"]([^'\"]+)['\"]\s*\)")
_SQL_RE = re.compile(r"\w+\.sql\(\s*(?:\"\"\"|'''|\"|')(.*?)(?:\"\"\"|'''|\"|')\s*\)", re.S)
_FIELD_RE = re.compile(r"^\s*`?([\w ]+?)`?\s+is\s+(.+)$")
_JOIN_WITH_RE = re.compile(r"^\s*(\w+)\s+with\s+(\w+)\s*$")
_JOIN_ON_RE = re.compile(r"^\s*(\w+)\s+on\s+(.+)$")
# Malloy aggregates, named as ours (count_distinct has its own regexes)
_AGGS = ("count", "sum", "avg", "min", "max", "stddev", "median")
_AGG_CALL_RE = re.compile(rf"^({'|'.join(_AGGS)})\s*\((.*)\)\s*(\{{.*\}})?\s*$", re.S)
_COUNT_DISTINCT_RE = re.compile(r"^count\s*\(\s*distinct\s+(.+?)\s*\)\s*(\{.*\})?\s*$", re.S)
_CD_FUNC_RE = re.compile(r"^count_distinct\s*\(\s*(.+?)\s*\)\s*(\{.*\})?\s*$", re.S)
# Malloy's canonical dot-method aggregate: `amount.sum()` /
# `items.amount.avg()` (reference adapters/malloy.py +
# tests/adapters/malloy/test_audit_regressions.py)
_DOT_AGG_RE = re.compile(
    r"^([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)\."
    rf"({'|'.join(_AGGS)})\s*\(\s*\)$"
)
_EMBEDDED_AGG_RE = re.compile(
    r"(?:[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*\.)?"
    rf"(?:{'|'.join(_AGGS)})\s*\("
)
_TIMEFRAME_DIM_RE = re.compile(
    r"^(\w+)\.(year|quarter|month|week|day|hour|minute|second)$"
)


def _is_single_call_expr(expr: str) -> bool:
    """True when ``expr`` is exactly one call — fn(...) with the first
    parenthesis closing at the very end (a trailing { ... } refinement
    block excluded before the caller gets here). Guards the greedy
    ``(.*)`` agg regexes against compound forms like sum(a) / sum(b)."""
    i = expr.find("(")
    if i < 0:
        return False
    depth = 0
    for j in range(i, len(expr)):
        if expr[j] == "(":
            depth += 1
        elif expr[j] == ")":
            depth -= 1
            if depth == 0:
                return expr[j + 1:].strip() == ""
    return False


def _translate_agg_calls(expr: str, cond: str | None) -> str:
    """Rewrite Malloy aggregate calls inside a composite expression to
    SQL aggregates (``amount.sum()`` -> ``SUM(amount)``, ``count()`` ->
    ``COUNT(*)``); a measure-level ``{ where: }`` condition bakes in as
    CASE WHEN so the filter survives the complete-SQL form."""

    def dot(m: "re.Match") -> str:
        path, agg = m.group(1), m.group(2)
        if agg == "count":
            inner = "*" if cond is None else f"CASE WHEN {cond} THEN 1 END"
            return f"COUNT({inner})"
        val = path if cond is None else f"CASE WHEN {cond} THEN {path} END"
        return f"{agg.upper()}({val})"

    out = re.sub(
        r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)\."
        r"(sum|avg|min|max|median|stddev|count)\s*\(\s*\)",
        dot, expr,
    )

    def classic(m: "re.Match") -> str:
        agg, inner = m.group(1), m.group(2).strip()
        if agg == "count" and not inner:
            inner = "*" if cond is None else f"CASE WHEN {cond} THEN 1 END"
            return f"COUNT({inner})"
        if cond is not None and inner:
            inner = f"CASE WHEN {cond} THEN {inner} END"
        return f"{agg.upper()}({inner})"

    return re.sub(
        r"(?<![\w.])(count|sum|avg|min|max|median|stddev)\s*\(\s*([^()]*)\s*\)",
        classic, out,
    )


def _strip_comments(text: str) -> str:
    text = re.sub(r"//[^\n]*", "", text)
    text = re.sub(r"/\*.*?\*/", "", text, flags=re.S)
    # `# annotation` lines vanish from the parsed text; their content is
    # collected separately by _collect_annotations
    text = re.sub(r"^\s*#[^\n]*$", "", text, flags=re.M)
    return text


_ANN_DESC_RE = re.compile(r"^desc\s*:\s*(.*)$", re.IGNORECASE)
_ANN_TARGET_RE = re.compile(
    r"^\s*(?:source\s*:\s*)?([A-Za-z_`][\w`]*)\s+is\b"
)


def _collect_annotations(text: str) -> dict[str, tuple[str | None, list[str]]]:
    """Malloy ``# annotation`` lines attach to the NEXT declaration
    (reference adapters/malloy.py:412-432 and
    tests/fixtures/malloy/annotations.malloy): ``# desc: text`` is a
    description, any other tag string joins the ``tags`` meta list.
    Returns {target_name: (description, tags)} keyed by the sanitized
    source/field name the annotation precedes."""
    out: dict[str, tuple[str | None, list[str]]] = {}
    desc: str | None = None
    tags: list[str] = []
    for line in text.splitlines():
        s = line.strip()
        if s.startswith("#"):
            body = s.lstrip("#").strip()
            m = _ANN_DESC_RE.match(body)
            if m:
                desc = m.group(1).strip()
            elif body:
                tags.append(body)
            continue
        if not s or s.startswith("//"):
            continue
        if desc is not None or tags:
            t = _ANN_TARGET_RE.match(s)
            if t:
                out[_sanitize_name(t.group(1))] = (desc, tags)
            desc, tags = None, []
    return out


def _apply_annotations(ann: dict, models) -> None:
    if not ann:
        return
    for model in models:
        got = ann.get(model.name)
        if got and not model.description:
            model.description = got[0] or model.description
            if got[1]:
                model.meta = {**(model.meta or {}), "tags": got[1]}
        for field in list(model.dimensions) + list(model.metrics):
            got = ann.get(field.name)
            if not got:
                continue
            if got[0] and not field.description:
                field.description = got[0]
            if got[1]:
                field.meta = {**(field.meta or {}), "tags": got[1]}


def _sanitize_name(name: str) -> str:
    """Backtick source names may hold arbitrary text (`cube:carrier`);
    model names become SQL CTE identifiers, so map to a safe slug."""
    name = name.strip("`")
    return re.sub(r"\W+", "_", name).strip("_") or "unnamed"


def _copy_model(parent, name: str):
    """Independent copy of a parent source for `is parent extend {...}`
    inheritance (field lists are copied shallowly per element via
    dataclasses.replace so extension edits don't mutate the parent)."""
    import dataclasses

    return dataclasses.replace(
        parent,
        name=name,
        dimensions=[dataclasses.replace(d) for d in parent.dimensions],
        metrics=[dataclasses.replace(m) for m in parent.metrics],
        relationships=[dataclasses.replace(r) for r in parent.relationships],
        row_filters=list(parent.row_filters),
        segments=[dataclasses.replace(s) for s in parent.segments],
    )


def _scan_binding(text: str, start: int) -> tuple[str, str, int]:
    """From the char after `is `, consume the binding expression and an
    optional extension block. Returns (binding, block_body, end_index).

    Handles: call parens with nested quotes/triple-quotes
    (``duckdb.sql(\"\"\"...\"\"\")``), `::type` constraints,
    ``from( parent -> { ... } )`` and bare ``parent -> { ... }``
    pipelines (the pipeline block belongs to the BINDING, and a further
    `extend {`/`+ {`/`{` after it is the extension), and the three
    extension spellings ``extend {``, ``+ {``, ``{``."""
    i, n = start, len(text)

    def skip_string(j: int) -> int:
        for q in ('"""', "'''", '"', "'"):
            if text.startswith(q, j):
                end = text.find(q, j + len(q))
                return (end + len(q)) if end >= 0 else n
        return j

    def skip_balanced(j: int, open_ch: str, close_ch: str) -> int:
        depth = 0
        while j < n:
            k = skip_string(j)
            if k != j:
                j = k
                continue
            c = text[j]
            if c == open_ch:
                depth += 1
            elif c == close_ch:
                depth -= 1
                if depth == 0:
                    return j + 1
            j += 1
        return n

    # consume the primary term: identifier/backtick chain with optional
    # call parens, e.g. duckdb.sql("""...""") or from( ... ) or a name
    bind_start = i
    while i < n:
        m = re.match(r"[\w.`]+", text[i:])
        if m:
            i += m.end()
        if i < n and text[i] == "(":
            i = skip_balanced(i, "(", ")")
        # `::type` constraint: consume and continue
        if text.startswith("::", i):
            i += 2
            continue
        break
    # optional pipeline: ALL `-> { ... }` / `-> name` stages are part
    # of the binding — consuming only the first stage would hide a
    # multi-stage pipeline from _parse_source's refusal guard and
    # silently import a truncated stage-1 model
    while True:
        m = re.match(r"\s*->\s*", text[i:])
        if not m:
            break
        i += m.end()
        if i < n and text[i] == "{":
            i = skip_balanced(i, "{", "}")
        else:
            nm = re.match(r"[\w.`]+", text[i:])
            if not nm:
                break
            i += nm.end()
    binding = text[bind_start:i].strip()
    # optional extension block: `extend {`, `+ {`, or bare `{`
    m = re.match(r"[ \t]*(?:extend[ \t]*|\+[ \t\r\n]*)?\{", text[i:])
    if m:
        open_idx = i + m.end() - 1
        body, end = _block(text, open_idx)
        return binding, body, end + 1
    return binding, "", i


def _block(text: str, open_idx: int) -> tuple[str, int]:
    """Return (body, end_index) of the brace block opening at open_idx."""
    depth = 0
    for i in range(open_idx, len(text)):
        c = text[i]
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return text[open_idx + 1 : i], i
    return text[open_idx + 1 :], len(text)


_SQL_KEYWORDS = {"and", "or", "not", "in", "is", "null", "true", "false",
                 "like", "between", "case", "when", "then", "else", "end"}


def _qualify_bare(text: str, model: str) -> str:
    """Prefix bare identifiers (not already dotted, not literals/keywords/
    function calls) with ``model.``."""
    out = []
    i = 0
    for m in re.finditer(r"'[^']*'|\"[^\"]*\"|[A-Za-z_]\w*(?:\s*\()?|[^A-Za-z_']+", text):
        tok = m.group(0)
        if (tok and tok[0].isalpha() or tok.startswith("_")) and not tok.endswith("("):
            prev_end = m.start()
            prev = text[prev_end - 1] if prev_end else ""
            if prev != "." and tok.lower() not in _SQL_KEYWORDS:
                out.append(f"{model}.{tok}")
                continue
        out.append(tok)
        i = m.end()
    return "".join(out)


def _split_top(expr: str, sep: str) -> list[str]:
    """Split on a top-level separator token (outside quotes/parens)."""
    parts: list[str] = []
    depth = 0
    i = last = 0
    n = len(expr)
    w = len(sep)
    while i < n:
        c = expr[i]
        if c == "'":
            i += 1
            while i < n and expr[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and expr.startswith(sep, i):
            parts.append(expr[last:i])
            i += w
            last = i
            continue
        i += 1
    parts.append(expr[last:])
    return parts


_PICK_RE = re.compile(
    r"pick\s+(.+?)\s+when\s+(.+?)(?=\s+pick\s|\s+else\s|$)", re.I | re.S
)
_CMP_START_RE = re.compile(r"^\s*(=|!=|<=|>=|<|>)\s*(.+)$", re.S)
_LHS_OP_RE = re.compile(r"^(.*?)(=|!=|<=|>=|<|>)\s*([^=<>].*)$", re.S)
_DATE_LIT_RE = re.compile(r"@(\d{4})(?:-(\d{2}))?(?:-(\d{2}))?")


def _expand_alt_tree(expr: str, sep: str, sql_op: str) -> str:
    """Malloy partial-comparison alternation: ``x < 10 & > 0`` ->
    ``x < 10 AND x > 0``; ``s != 'a' & 'b'`` -> ``s != 'a' AND s != 'b'``
    (ref ``adapters/malloy.py:1132-1200`` and/or trees)."""
    parts = [p.strip() for p in _split_top(expr, sep)]
    if len(parts) < 2 or not all(parts):
        return expr
    head = _LHS_OP_RE.match(parts[0])
    if not head:
        return expr
    lhs, op = head.group(1).strip(), head.group(2)
    out = [parts[0]]
    for p in parts[1:]:
        cm = _CMP_START_RE.match(p)
        if cm:  # partial with its own operator: `> -8000`
            out.append(f"{lhs} {cm.group(1)} {cm.group(2).strip()}")
        else:  # bare value reuses the head operator: `'Returned'`
            out.append(f"{lhs} {op} {p}")
    return f" {sql_op} ".join(out)


def _malloy_expr_to_sql(expr: str) -> str:
    """Malloy scalar expr -> Spark SQL (the documented idioms: ``::``
    casts, ``@`` date literals, ``now``, ``pick/when/else`` -> CASE,
    ``??`` -> COALESCE, ``&``/``|`` alternation trees, ``~``/``!~``
    regex-or-LIKE matches — ref ``adapters/malloy.py:795-1200``)."""
    expr = expr.strip().rstrip(",").strip()
    # pick V when C pick V2 when C2 else E -> CASE
    if re.match(r"^\s*pick\s", expr, re.I):
        whens = [(v.strip(), c.strip()) for v, c in _PICK_RE.findall(expr)]
        if whens:
            em = re.search(r"\belse\s+(.+)$", expr, re.I | re.S)
            case = "CASE " + " ".join(
                f"WHEN {_malloy_expr_to_sql(c)} THEN {v}" for v, c in whens
            )
            if em:
                case += f" ELSE {em.group(1).strip()}"
            return case + " END"
    # double-quoted segments are opaque (identifiers / passthrough) —
    # no transform may rewrite their contents (ref
    # test_expression_transforms_ignore_malloy_syntax_inside_strings)
    held: list[str] = []

    def _hold(m: re.Match) -> str:
        held.append(m.group(0))
        return f"\x00{len(held) - 1}\x00"

    expr = re.sub(r'"(?:[^"\\]|\\.)*"', _hold, expr)
    # regex / LIKE match: s ~ r'...' -> RLIKE, s ~ '...' -> LIKE
    # (these consume their quoted operands, so they run BEFORE string
    # protection)
    expr = re.sub(r"!~\s*r'((?:[^'\\]|\\.)*)'", r" NOT RLIKE '\1'", expr)
    expr = re.sub(r"~\s*r'((?:[^'\\]|\\.)*)'", r" RLIKE '\1'", expr)
    expr = re.sub(r"!~\s*('(?:[^'\\]|\\.)*')", r" NOT LIKE \1", expr)
    expr = re.sub(r"~\s*('(?:[^'\\]|\\.)*')", r" LIKE \1", expr)
    # ...now protect remaining single-quoted literals from the scalar
    # rewrites below (@dates, casts, now)
    expr = re.sub(r"'(?:[^'\\]|\\.|'')*'", _hold, expr)
    # x::date / x::timestamp casts
    expr = re.sub(r"(\w+)::(\w+)", r"CAST(\1 AS \2)", expr)
    # fn!type(args) result-type annotations -> fn(args)
    expr = re.sub(r"(\w+)!(?!=)\w*\(", r"\1(", expr)
    # @2024-01-15 / @2024-03 / @2024 date literals
    expr = _DATE_LIT_RE.sub(
        lambda m: f"DATE '{m.group(1)}-{m.group(2) or '01'}-{m.group(3) or '01'}'",
        expr,
    )
    # standalone `now`
    expr = re.sub(r"(?<![\w.'])now(?![\w.('])", "CURRENT_TIMESTAMP", expr)
    for i, lit in enumerate(held):
        expr = expr.replace(f"\x00{i}\x00", lit)
    # ?? null-coalescing chains
    if "??" in expr:
        parts = [p.strip() for p in _split_top(expr, "??")]
        if len(parts) > 1 and all(parts):
            expr = "COALESCE(" + ", ".join(parts) + ")"
    # & / | alternation trees (spaced, top-level only — `&`/`|` are not
    # SQL operators in these scalar contexts)
    if " & " in expr:
        expr = _expand_alt_tree(expr, " & ", "AND")
    if " | " in expr:
        expr = _expand_alt_tree(expr, " | ", "OR")
    return expr


class MalloyAdapter(BaseAdapter):
    def parse_file(self, layer, path: str) -> None:
        with open(path) as fh:
            text = fh.read()
        self.parse_text(layer, text)

    def parse(self, layer, data) -> None:  # dict contract not used for malloy
        raise NotImplementedError("Malloy is text, use parse_file/parse_text")

    def parse_text(self, layer, text: str) -> None:
        ann = _collect_annotations(text)
        text = _strip_comments(text)
        local: dict[str, Model] = {}
        for m in _SOURCE_START.finditer(text):
            name = _sanitize_name(m.group(1))
            binding, body, _end = _scan_binding(text, m.end())
            model = self._parse_source(name, binding, body, local, layer)
            if model is None:
                continue
            local[name] = model
            try:
                layer.add_model(model)
            except Exception:
                pass  # duplicate across imports: first wins
        _apply_annotations(ann, local.values())

    def _lookup_parent(self, ref: str, local: dict, layer) -> Model | None:
        ref = _sanitize_name(ref.split("::", 1)[0].strip())
        if ref in local:
            return local[ref]
        return getattr(layer.graph, "models", {}).get(ref)

    def _parse_source(
        self, name: str, binding: str, body: str, local: dict, layer
    ) -> Model | None:
        table = sql = None
        parent: Model | None = None
        binding = binding.strip()
        # `from( parent -> { ... } )` / `parent -> { ... }`: a
        # query-derived source — compile the simple pipeline shapes
        # (group_by/aggregate/select/where/order_by/limit) to derived
        # SQL; aggregate outputs become plain columns of the new source
        # (Malloy semantics: a from() source's fields are the query's
        # output columns)
        pm = re.match(r"^(?:from\(\s*)?(`[^`]+`|\w+)\s*->\s*\{", binding)
        if pm:
            qparent = self._lookup_parent(pm.group(1), local, layer)
            if qparent is None:
                return None
            qbody, qend = _block(binding, binding.index("{", pm.start()))
            # multi-stage pipelines (`-> {} -> {}`) are out of scope;
            # truncating to stage 1 would be a silently-wrong model
            if "->" in binding[qend:]:
                return None
            derived = self._compile_pipeline(qparent, qbody)
            if derived is None:
                return None
            sql, out_dims = derived
            model = Model(name=name, sql=sql, primary_key="id",
                          dimensions=out_dims, metrics=[], relationships=[])
            if body:
                self._apply_body(model, body)
            return model

        # composite source (##! experimental{composite_sources}):
        # `compose(a, b, ...)` resolves fields per-query across the
        # components; statically we bind to the FIRST component (the
        # widest rollup in the cube pattern) as the queryable surface
        cm = re.match(r"^compose\(\s*(`[^`]+`|\w+)", binding)
        if cm:
            parent = self._lookup_parent(cm.group(1), local, layer)
            if parent is not None:
                model = _copy_model(parent, name)
                if body:
                    self._apply_body(model, body)
                return model
            return None

        tm = _TABLE_RE.search(binding)
        if tm:
            table = tm.group(1)
            # 'orders.parquet' style: bind to bare table name
            if table.endswith((".parquet", ".csv", ".json")):
                table = table.rsplit("/", 1)[-1].rsplit(".", 1)[0]
        else:
            sm = _SQL_RE.search(binding)
            if sm:
                sql = sm.group(1).strip()
            else:
                # `source: child is parent [extend|+] { ... }`: source
                # inheritance — copy the parent's binding and fields,
                # then apply the extension body (`::type` constraints
                # are assertions, stripped)
                parent = self._lookup_parent(binding, local, layer)
                if parent is not None:
                    model = _copy_model(parent, name)
                    if body:
                        self._apply_body(model, body)
                    return model
                if re.match(r"^\w+$", binding):
                    table = binding  # unknown bare ref: reuse as table name
                else:
                    return None

        model = Model(
            name=name, table=table, sql=sql, primary_key="id",
            dimensions=[], metrics=[], relationships=[], row_filters=[],
        )
        if body:
            self._apply_body(model, body)
        return model

    def _apply_body(self, model: Model, body: str) -> None:
        """Apply an extend/`+` block to ``model`` in place: added fields
        replace same-named inherited ones (Malloy extension override),
        ``except:`` drops inherited fields, ``where:`` appends row
        filters."""
        section = None
        new_dims: list[Dimension] = []
        new_mets: list[Metric] = []
        new_rels: list[Relationship] = []
        dropped: set[str] = set()
        # one-line bodies chain sections (`{ where: x except: a, b }`);
        # split them — but NOT a measure's `{ where: ... }` filter
        # suffix, whose `where:` follows an open brace
        body = re.sub(r"([^{\s])[ \t]+((?:where|except)\s*:)", r"\1\n\2", body)
        pending: list[str] = []
        pending_section: str | None = None

        def dispatch(sec: str, entry: str) -> None:
            if sec in ("dimension", "declare"):
                self._add_field(entry, new_dims, new_mets)
            elif sec == "measure":
                self._add_measure(entry, new_mets)
            elif sec in ("join_one", "join_many", "join_cross"):
                self._add_join(sec, entry, new_rels)

        def flush() -> None:
            nonlocal pending, pending_section
            if pending and pending_section:
                dispatch(pending_section, " ".join(pending))
            pending = []
            pending_section = None

        for raw in body.splitlines():
            line = raw.rstrip()
            if not line.strip():
                continue
            header = re.match(
                r"^\s*(dimension|measure|join_one|join_many|join_cross|where"
                r"|primary_key|declare|except|timezone)\s*:\s*(.*)$",
                line,
            )
            if header:
                flush()
                section = header.group(1)
                rest = header.group(2).strip()
                if section == "primary_key":
                    model.primary_key = rest
                    section = None
                    continue
                if section == "timezone":
                    # `timezone: 'America/Los_Angeles'` — preserved as
                    # model metadata, same as the reference (its Malloy
                    # importer stashes the tz in metadata; query-time
                    # bucketing uses the engine's per-query timezone)
                    tz = rest.strip().strip("'\"")
                    if tz:
                        model.meta = {**(model.meta or {}), "timezone": tz}
                    section = None
                    continue
                if section == "where":
                    if rest:
                        model.row_filters.append(_malloy_expr_to_sql(rest))
                    section = None
                    continue
                if section == "except":
                    dropped.update(
                        _sanitize_name(x.strip()) for x in rest.split(",") if x.strip()
                    )
                    section = None
                    continue
                if not rest:
                    continue
                line = rest
            else:
                line = line.strip()
            if section is None:
                continue
            # a new field entry starts at `name is [...]` (the expression
            # may start on the next line); anything else continues the
            # previous entry (multi-line pick blocks etc.)
            if re.match(r"^`?[\w ]+?`?\s+is(\s|$)", line) or not pending:
                flush()
                pending = [line]
                pending_section = section
            else:
                pending.append(line)
        flush()
        # qualify bare column refs in measure filters with the model name
        for met in new_mets:
            met.filters = [_qualify_bare(f, model.name) for f in met.filters]
        if dropped:
            model.dimensions = [d for d in model.dimensions if d.name not in dropped]
            model.metrics = [m for m in model.metrics if m.name not in dropped]
        for d in new_dims:
            model.dimensions = [x for x in model.dimensions if x.name != d.name]
            model.dimensions.append(d)
        for m in new_mets:
            model.metrics = [x for x in model.metrics if x.name != m.name]
            model.metrics.append(m)
        for rl in new_rels:
            model.relationships = [
                x for x in model.relationships if x.name != rl.name
            ]
            model.relationships.append(rl)
        model.reindex()

    def _compile_pipeline(
        self, parent: Model, qbody: str
    ) -> tuple[str, list[Dimension]] | None:
        """Compile a simple Malloy query stage over ``parent`` to
        derived SQL: group_by + aggregate (+ where/order_by/limit), or
        select: * (+ order_by/limit). Nested/multi-stage pipelines are
        out of scope and return None."""
        group_by: list[tuple[str, str]] = []   # (out_name, sql)
        select_cols: list[tuple[str, str]] = []  # row-level projection
        aggs: list[tuple[str, str]] = []
        wheres: list[str] = []
        order_by = limit = None
        select_star = False
        section = None
        dim_sql = {d.name: (d.sql or d.name) for d in parent.dimensions}
        for raw in qbody.splitlines():
            line = raw.strip()
            if not line:
                continue
            header = re.match(
                r"^(group_by|aggregate|select|where|order_by|limit|nest|top)"
                r"\s*:\s*(.*)$",
                line,
            )
            if header:
                section = header.group(1)
                line = header.group(2).strip()
                if section == "limit":
                    limit = line
                    section = None
                    continue
                if section == "order_by":
                    order_by = line.rstrip(",")
                    section = None
                    continue
                if section == "where":
                    if line:
                        wheres.append(_malloy_expr_to_sql(line))
                    section = None
                    continue
                if section == "nest":
                    return None  # nested queries: not a flat source
                if not line:
                    continue
            if section == "select":
                # Malloy select is a ROW-LEVEL projection preserving
                # multiplicity — never a GROUP BY
                if line.strip().rstrip(",") == "*":
                    select_star = True
                else:
                    for item in line.split(","):
                        item = item.strip()
                        if item:
                            select_cols.append((item, dim_sql.get(item, item)))
                continue
            if section == "group_by":
                for item in line.rstrip(",").split(","):
                    item = item.strip()
                    if not item:
                        continue
                    fm = _FIELD_RE.match(item)
                    if fm:
                        out = fm.group(1).strip().replace(" ", "_")
                        group_by.append((out, _malloy_expr_to_sql(fm.group(2))))
                    else:
                        out = item.split(".")[-1]
                        group_by.append((out, dim_sql.get(item, item)))
                continue
            if section == "aggregate":
                for item in line.rstrip(",").split(","):
                    item = item.strip()
                    if not item:
                        continue
                    fm = _FIELD_RE.match(item)
                    if fm:
                        out = fm.group(1).strip().replace(" ", "_")
                        mets: list[Metric] = []
                        self._add_measure(item, mets)
                        if mets and mets[0].is_simple:
                            aggs.append((out, mets[0].agg_sql(mets[0].sql or "1")))
                        elif mets:
                            aggs.append((out, mets[0].expr or "NULL"))
                    else:
                        pm = parent.metric(item)
                        if pm is None or not pm.is_simple:
                            return None
                        aggs.append((item, pm.agg_sql(pm.sql or "1")))
                continue
        src = parent.table or (f"({parent.sql})" if parent.sql else None)
        if src is None:
            return None
        if select_star and not group_by and not aggs:
            sql = f"SELECT * FROM {src}"
            out_dims = [
                Dimension(name=d.name, sql=d.sql, type=d.type)
                for d in parent.dimensions
            ]
        elif select_cols and not group_by and not aggs:
            cols = [(f"{s} AS {o}" if s != o else o) for o, s in select_cols]
            sql = f"SELECT {', '.join(cols)} FROM {src}"
            if wheres:
                sql += " WHERE " + " AND ".join(f"({w})" for w in wheres)
            out_dims = [Dimension(name=o, type="categorical") for o, _s in select_cols]
        elif group_by or aggs:
            cols = [
                (f"{s} AS {o}" if s != o else o) for o, s in group_by
            ] + [f"{s} AS {o}" for o, s in aggs]
            sql = f"SELECT {', '.join(cols)} FROM {src}"
            if wheres:
                sql += " WHERE " + " AND ".join(f"({w})" for w in wheres)
            if group_by:
                sql += " GROUP BY " + ", ".join(o for o, _s in group_by)
            out_dims = [Dimension(name=o, type="categorical") for o, _s in group_by]
            out_dims += [Dimension(name=o, type="numeric") for o, _s in aggs]
        else:
            return None
        if order_by:
            sql += f" ORDER BY {order_by}"
        if limit:
            sql += f" LIMIT {limit}"
        return sql, out_dims

    def _add_field(self, line: str, dims: list[Dimension], mets: list[Metric]) -> None:
        fm = _FIELD_RE.match(line)
        if not fm:
            return
        fname, expr = fm.group(1).strip().replace(" ", "_"), fm.group(2).strip()
        if (
            _AGG_CALL_RE.match(expr) or _COUNT_DISTINCT_RE.match(expr)
            or _CD_FUNC_RE.match(expr) or _DOT_AGG_RE.match(expr)
        ):
            self._add_measure(line, mets)  # declare: can hold measures
            return
        tf = _TIMEFRAME_DIM_RE.match(expr)
        if tf:
            # trailing timeframe (`created_at.month`) infers a time
            # dimension at that granularity (reference
            # test_trailing_timeframe_infers_time_and_granularity)
            dims.append(Dimension(
                name=fname, sql=None if tf.group(1) == fname else tf.group(1),
                type="time", granularity=tf.group(2),
            ))
            return
        sql = _malloy_expr_to_sql(expr)
        dtype = "categorical"
        low = sql.lower()
        if "date_trunc" in low or "as date" in low or "as timestamp" in low:
            dtype = "time"
        elif re.search(r"[<>=]|\bis\b", low) and "_is_" not in low:
            dtype = "boolean"
        elif re.search(
            r"[+-]\s*(?:interval\s+)?'?\d+'?\s+"
            r"(?:day|week|month|quarter|year|hour|minute|second)s?\b",
            low,
        ):
            # duration arithmetic (`created_at + 1 day`) stays a time
            # dimension (ref test_duration_arithmetic_is_time)
            dtype = "time"
        dims.append(Dimension(name=fname, sql=None if sql == fname else sql, type=dtype))

    def _add_measure(self, line: str, mets: list[Metric]) -> None:
        fm = _FIELD_RE.match(line)
        if not fm:
            return
        fname, expr = fm.group(1).strip().replace(" ", "_"), fm.group(2).strip()
        # chained refinements AND together: `count() { where: a } {
        # where: b }` keeps BOTH filters (ref
        # test_chained_where_keeps_all_filters_and_aggregation) — strip
        # trailing { where: } groups innermost-last
        filters: list[str] = []
        while True:
            wm = re.search(r"\{\s*where:\s*([^{}]*?)\s*\}\s*$", expr, re.S)
            if not wm:
                break
            filters.insert(0, _malloy_expr_to_sql(wm.group(1)))
            expr = expr[: wm.start()].strip()
        cd = _COUNT_DISTINCT_RE.match(expr) or _CD_FUNC_RE.match(expr)
        if cd:
            mets.append(Metric(name=fname, agg="count_distinct",
                               sql=_malloy_expr_to_sql(cd.group(1)), filters=filters))
            return
        dm = _DOT_AGG_RE.match(expr)
        if dm:
            # dot-method aggregate: `amount.sum()` -> agg=sum sql=amount
            path, agg = dm.group(1), dm.group(2)
            mets.append(Metric(
                name=fname, agg=agg,
                sql=_malloy_expr_to_sql(path), filters=filters,
            ))
            return
        am = _AGG_CALL_RE.match(expr)
        if am and _is_single_call_expr(expr):
            # only when the WHOLE expr is one call: `sum(a) / sum(b)`
            # must NOT split greedily into agg=sum sql="a) / sum(b" —
            # compound aggregate arithmetic falls through to the
            # complete-SQL branch (ref
            # test_ratio_of_two_aggregates_is_derived family)
            agg, inner = am.group(1), am.group(2).strip()
            mets.append(Metric(
                name=fname, agg=agg,
                sql=None if not inner or agg == "count" else _malloy_expr_to_sql(inner),
                filters=filters,
            ))
            return
        if _EMBEDDED_AGG_RE.search(expr):
            # arithmetic over aggregates (`amount.sum() / count()`) ->
            # complete-SQL expression metric; a { where: } condition
            # bakes into each aggregate (reference
            # test_ratio_of_two_aggregates_is_derived family)
            cond = " AND ".join(filters) if filters else None
            sql = _malloy_expr_to_sql(_translate_agg_calls(expr, cond))
            mets.append(Metric(name=fname, sql=sql, sql_is_complete=True))
            return
        # formula over other measures -> derived
        mets.append(Metric(name=fname, type="derived", expr=_malloy_expr_to_sql(expr), filters=filters))

    def _add_join(self, kind: str, line: str, rels: list[Relationship]) -> None:
        wm = _JOIN_WITH_RE.match(line)
        if wm:
            target, fk = wm.group(1), wm.group(2)
            rels.append(Relationship(name=target, type="many_to_one", foreign_key=fk))
            return
        om = _JOIN_ON_RE.match(line)
        if om:
            target, cond = om.group(1), om.group(2).strip()
            rtype = "one_to_many" if kind == "join_many" else "many_to_one"
            # AND-composed equalities of (target.col, source col) in
            # either ordering -> (composite) key-pair relationship, the
            # engine's native composite join (ref adapters/malloy.py
            # extracts the same via _extract_on_condition_keys and
            # stashes extras in metadata.composite_keys; here every key
            # participates in the join). Anything else -> custom
            # {from}/{to} condition SQL.
            pks: list[str] = []
            fks: list[str] = []
            for part in re.split(r"\s+and\s+", cond, flags=re.IGNORECASE):
                part = part.strip()
                fwd = re.match(rf"^{target}\.(\w+)\s*=\s*(\w+)$", part)
                rev = re.match(rf"^(\w+)\s*=\s*{target}\.(\w+)$", part)
                if fwd:
                    pk, fk = fwd.group(1), fwd.group(2)
                elif rev:
                    pk, fk = rev.group(2), rev.group(1)
                else:
                    pks = []
                    break
                pks.append(pk)
                fks.append(fk)
            if pks:
                if kind == "join_many":
                    rels.append(Relationship(
                        name=target, type="one_to_many",
                        foreign_key=pks if len(pks) > 1 else pks[0],
                    ))
                else:
                    rels.append(Relationship(
                        name=target, type="many_to_one",
                        foreign_key=fks if len(fks) > 1 else fks[0],
                        primary_key=pks if len(pks) > 1 else pks[0],
                    ))
            else:
                cond_sql = re.sub(rf"\b{target}\.", "{to}.", cond)
                cond_sql = re.sub(r"(?<![\w.{])(\w+)(?=\s*=)", r"{from}.\1", cond_sql, count=0)
                rels.append(Relationship(name=target, type=rtype, sql=cond_sql))
        elif kind == "join_cross" and re.match(r"^\w+$", line.strip()):
            rels.append(Relationship(name=line.strip(), type="cross"))


# ----------------------------------------------------------------------
# export (reference adapters/malloy.py export contract)
# ----------------------------------------------------------------------

def export_malloy(graph, connection: str = "spark") -> str:
    """Graph -> Malloy source text. Time dimensions are emitted as
    ``col::timestamp`` casts so the import re-derives the time type;
    simple aggs render as ``sum(expr)`` etc.; one metric filter rides
    the ``{ where: ... }`` suffix."""
    out: list[str] = []
    for model in graph.models.values():
        if model.sql:
            binding = f'{connection}.sql("""{model.sql}""")'
        else:
            binding = f"{connection}.table('{model.table or model.name}')"
        lines = [f"source: {model.name} is {binding} extend {{"]
        pk = model.pk_list()
        if len(pk) == 1 and pk != ["id"]:
            lines.append(f"  primary_key: {pk[0]}")
        dims = [d for d in model.dimensions if not d.window]
        if dims:
            lines.append("  dimension:")
            for d in dims:
                expr = d.sql or d.name
                if d.type == "time" and re.fullmatch(r"\w+", expr):
                    expr = f"{expr}::timestamp"
                if expr == d.name:
                    # malloy needs `x is <expr>`; a self-ref is fine
                    expr = d.name
                lines.append(f"    {d.name} is {expr}")
        mets = []
        for m in model.metrics:
            if m.is_simple and (m.agg in _AGGS or m.agg == "count_distinct"):
                if m.agg == "count" and not m.sql:
                    body = "count()"
                elif m.agg == "count_distinct":
                    body = f"count(distinct {m.sql or '*'})"
                else:
                    body = f"{m.agg}({m.sql or ''})"
                if m.filters:
                    body += " { where: " + " and ".join(m.filters) + " }"
                mets.append(f"    {m.name} is {body}")
            elif m.type == "derived" and m.expr:
                mets.append(f"    {m.name} is {m.expr}")
            elif m.type == "ratio" and m.numerator and m.denominator:
                mets.append(
                    f"    {m.name} is {m.numerator} / nullif({m.denominator}, 0)"
                )
        if mets:
            lines.append("  measure:")
            lines.extend(mets)
        for r in model.relationships:
            if r.through:
                continue
            if r.type == "cross":
                lines.append(f"  join_cross: {r.name}")
                continue
            target = graph.models.get(r.name)
            tpk = target.pk_list() if target else ["id"]
            if r.type == "one_to_many":
                fks = r.fk_list() or tpk
                lpk = r.pk_list(model.pk_list())
                if len(fks) == 1:
                    lines.append(
                        f"  join_many: {r.name} on {r.name}.{fks[0]} = {lpk[0]}"
                    )
            elif r.type in ("many_to_one", "one_to_one"):
                fks = r.fk_list()
                pks = r.pk_list(tpk)
                if len(fks) == 1 and pks == tpk:
                    lines.append(f"  join_one: {r.name} with {fks[0]}")
                elif len(fks) == 1:
                    lines.append(
                        f"  join_one: {r.name} on {r.name}.{pks[0]} = {fks[0]}"
                    )
        lines.append("}")
        out.append("\n".join(lines))
    return "\n\n".join(out) + "\n"
