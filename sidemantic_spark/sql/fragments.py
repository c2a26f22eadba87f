"""SQL text utilities: one tokenizer and the helpers built on it.

The reference parses SQL with sqlglot (``sql/fragment.py:1-16``);
sqlglot is not available here, so every module that reads SQL text goes
through ``tokens``, one scan that knows the SQL token kinds as Spark
reads them: single-quoted string literals and double-quoted names with
doubled-quote and backslash escapes (``'it\\'s'`` is one literal),
backtick-quoted identifiers with doubled-backtick escapes, ``--`` line
comments, ``/* */`` block comments, and bracket depth. On top of it:

- ``split_top`` / ``split_items``: split at a top-level keyword or
  comma;
- ``close_paren``: the bracket that closes the one at a position;
- ``split_alias``: split a select item's ``AS alias`` off;
- ``strip_comments``: the text without its comments;
- ``subquery_spans``: where the ``( SELECT ... )`` subqueries are;
- ``segments`` / ``sub_code``: the runs of text outside literals,
  for regexes that must not read inside them. A rewrite leaves quoted
  identifiers as written (``OPAQUE``); a fail-closed check still reads
  inside them (``LITERALS``);
- ``find_refs`` / ``replace_refs`` / ``split_conjuncts``: the compiler's
  ``model.field[__grain]`` references and top-level AND conjuncts
  (reference ``sql/generator.py:1640-1750`` filter classification
  needs both).

Formats that quote differently (DAX ``'T'[col]``, Malloy, Tableau and
LookML fields) keep their own scanners in their adapters.
"""

from __future__ import annotations

import functools
import itertools
import re
from collections.abc import Callable, Iterator

_GRAINS = "second|minute|hour|day|week|month|quarter|year"
# the one canonical grain-word set — security scans and REF_RE both
# derive from it so a new grain cannot desynchronize them
GRAIN_WORDS = frozenset(_GRAINS.split("|"))
REF_RE = re.compile(
    rf"\b([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*?)(?:__({_GRAINS}))?\b"
)

# an unterminated literal, identifier or block comment runs to the end
_TOKEN_RE = re.compile(
    r"'(?:[^'\\]|\\.?|'')*'?"
    r'|"(?:[^"\\]|\\.?|"")*"?'
    r"|`(?:[^`]|``)*`?"
    r"|--[^\n]*"
    r"|/\*.*?(?:\*/|\Z)"
    r"|[()\[\]{},]"
    r"|[^'\"`()\[\]{},/-]+"
    r"|[/-]",
    re.S,
)
_KINDS = {"'": "string", '"': "ident", "`": "ident", "--": "comment",
          "/*": "comment"}
_OPEN, _CLOSE = "([{", ")]}"
# what a text rewrite leaves verbatim: literals, comments and quoted
# identifiers (Spark reads "x" as a string; `x` names exactly x) ...
OPAQUE = frozenset({"string", "ident", "comment"})
# ... and what a fail-closed check skips: it still reads quoted names
LITERALS = frozenset({"string", "comment"})
_QUOTED_NAME_RE = re.compile(r'"(?:[^"]|"")+"|`(?:[^`]|``)+`')


def tokens(sql: str) -> Iterator[tuple[str, str, int]]:
    """Yield ``(text, kind, depth)`` for consecutive tokens covering
    ``sql``. ``kind`` is ``"string"``, ``"ident"`` (quoted identifier),
    ``"comment"`` or ``"code"``; every bracket and comma is a code token
    of its own. ``depth`` counts the brackets around the token, so an
    opening bracket and its closer carry the same depth."""
    depth = 0
    for m in _TOKEN_RE.finditer(sql):
        text = m.group()
        if text in _CLOSE:
            depth -= 1
        yield text, _KINDS.get(text[:2]) or _KINDS.get(text[0], "code"), depth
        if text in _OPEN:
            depth += 1


def segments(sql: str, opaque: frozenset = OPAQUE) -> list[tuple[str, bool]]:
    """``sql`` as ``(text, is_opaque)`` runs: each token of an ``opaque``
    kind on its own, everything between them merged into one run."""
    parts: list[tuple[str, bool]] = []
    buf: list[str] = []
    for text, kind, _depth in tokens(sql):
        if kind not in opaque:
            buf.append(text)
            continue
        if buf:
            parts.append(("".join(buf), False))
            buf.clear()
        parts.append((text, True))
    if buf:
        parts.append(("".join(buf), False))
    return parts


def sub_code(
    sql: str, fn: Callable[[str], str], opaque: frozenset = OPAQUE
) -> str:
    """Apply ``fn`` to every run of ``sql`` outside the ``opaque`` token
    kinds, leaving those verbatim."""
    return "".join(t if o else fn(t) for t, o in segments(sql, opaque))


@functools.lru_cache(maxsize=64)
def _sep_re(sep: str) -> re.Pattern:
    if not sep[0].isalpha():
        return re.compile(re.escape(sep))
    words = r"\s+".join(map(re.escape, sep.split()))
    return re.compile(rf"(?<!\w){words}(?!\w)", re.I)


@functools.lru_cache(maxsize=256)
def _top_code(sql: str) -> str:
    """``sql`` with all but its top-level code blanked to NULs (a
    clause split asks the same text for each clause keyword)."""
    return "".join(
        text if kind == "code" and depth == 0 else "\0" * len(text)
        for text, kind, depth in tokens(sql)
    )


def _top_spans(sql: str, sep: str, maxsplit: int = -1) -> list[tuple[int, int]]:
    found = _sep_re(sep).finditer(_top_code(sql))
    if maxsplit >= 0:
        found = itertools.islice(found, maxsplit)
    return [m.span() for m in found]


def split_top(sql: str, sep: str, maxsplit: int = -1) -> list[str]:
    """Split ``sql`` at ``sep`` outside literals, identifiers, comments
    and brackets, like ``str.split``. A word ``sep`` (``FROM``,
    ``GROUP BY``) matches case-insensitively on word boundaries, with
    any whitespace between its words; any other ``sep`` matches as
    written."""
    parts, last = [], 0
    for s, e in _top_spans(sql, sep, maxsplit):
        parts.append(sql[last:s])
        last = e
    parts.append(sql[last:])
    return parts


def split_items(text: str) -> list[str]:
    """A select or order list's items: split at top-level commas,
    stripped; an empty last item is dropped."""
    items = [p.strip() for p in split_top(text, ",")]
    return items[:-1] if items and not items[-1] else items


def close_paren(sql: str, start: int = 0) -> int | None:
    """Index of the bracket closing the one at ``sql[start]``, or None
    when it is never closed."""
    pos = start
    for text, kind, depth in tokens(sql[start:]):
        if kind == "code" and depth == 0 and text in _CLOSE:
            return pos
        pos += len(text)
    return None


def strip_comments(sql: str) -> str:
    """``sql`` without its comments; a block comment leaves a space."""
    return "".join(
        (" " if text[:2] == "/*" else "") if kind == "comment" else text
        for text, kind, _depth in tokens(sql)
    )


def split_alias(item: str) -> tuple[str, str | None]:
    """``expr AS alias`` -> ``(expr, alias)``; ``(item, None)`` without
    one. A quoted alias (``"rev, total"``, or in backticks) comes back
    as the backtick-quoted name Spark reads, embedded backticks
    doubled."""
    item = item.strip()
    last = list(tokens(item))[-1][0] if item.endswith(('"', "`")) else ""
    if _QUOTED_NAME_RE.fullmatch(last):
        q = last[0]
        alias = "`" + last[1:-1].replace(q * 2, q).replace("`", "``") + "`"
    else:
        m = re.search(r"(?<!\w)[A-Za-z_][A-Za-z0-9_]*$", item)
        if m is None:
            return item, None
        last = alias = m.group()
    m = re.match(r"(.*?)\s+AS\s+$", item[: len(item) - len(last)], re.I | re.S)
    if m is None:
        return item, None
    return m.group(1).strip(), alias


_ALIAS_RE = re.compile(r"\bAS\s+[\"`]?([A-Za-z_][A-Za-z0-9_]*)[\"`]?", re.I)


def _scan_text(sql: str) -> str:
    """Same-length copy with literals/comments blanked and quote chars
    of quoted identifiers spaced (``AS "ORDERS"`` scans as an alias)."""
    scan: list[str] = []
    for seg, opaque in segments(sql):
        if not opaque or seg[:1] in ('"', "`"):
            scan.append(seg.replace('"', " ").replace("`", " "))
        else:
            scan.append(" " * len(seg))
    return "".join(scan)


def subquery_spans(sql: str) -> list[tuple[int, int]]:
    """``(start, end)`` of every ``( SELECT ... )`` subquery outside
    literals and comments, nested ones included; an unclosed one runs
    to the end of ``sql``."""
    spans = []
    for m in re.finditer(r"\(\s*SELECT\b", _scan_text(sql), re.I):
        end = close_paren(sql, m.start())
        spans.append((m.start(), len(sql) if end is None else end + 1))
    return spans


def _shadow_spans(
    sql: str, known_models: set[str]
) -> list[tuple[int, int, set[str]]]:
    """(start, end, models) for each ``( SELECT ... )`` subquery that
    re-binds a known model name via an explicit ``AS alias``
    (``EXISTS (SELECT 1 FROM audit AS orders WHERE orders.revenue ...)``)
    — refs to the shadowed name INSIDE that span are subquery-scope
    columns, not semantic references (reference alias-scope
    classification, tests/metrics/test_filters.py:411-438). Shadowing is
    scoped to the span: the same fragment's refs OUTSIDE the subquery
    still classify/rewrite normally, so an embedded alias can never
    blind the whole predicate (fail-open hazard for visibility
    enforcement; round-10 review finding)."""
    scan = _scan_text(sql)
    known_lower = {m.lower(): m for m in known_models}
    bounds = subquery_spans(sql)
    # attribute each alias to the INNERMOST span containing it: an alias
    # declared in a nested subquery must not shadow the enclosing
    # subquery's correlated refs (round-10 review #2). An alias OUTSIDE
    # every span is a top-level derived-table alias
    # (``(SELECT ...) AS orders``) whose scope is the whole fragment.
    shadow: dict[tuple[int, int], set[str]] = {}
    span_ends = {e for _s, e in bounds}
    for a in _ALIAS_RE.finditer(scan):
        hit = known_lower.get(a.group(1).lower())
        if hit is None:
            continue
        owner = None
        for s, e in bounds:
            if s <= a.start() < e and (
                owner is None or s > owner[0]  # innermost = latest start
            ):
                owner = (s, e)
        if owner is None:
            # whole-fragment shadowing applies ONLY to a derived-table
            # alias — `(SELECT ...) AS name` with the `AS` after a
            # span's closing paren (extra wrapping parens are peeled:
            # `((SELECT ...)) AS name` still shadows — review finding).
            # Any other bare `AS name` (a select-list or CAST-adjacent
            # alias that happens to equal a model name) names an output
            # column, which must not suppress classification of genuine
            # model refs in the fragment.
            prev = scan[:a.start()].rstrip()
            derived = False
            while prev.endswith(")"):
                if len(prev) in span_ends:
                    derived = True
                    break
                prev = prev[:-1].rstrip()
            if not derived:
                continue
            owner = (0, len(scan))
        shadow.setdefault(owner, set()).add(hit)
    return [(s, e, models) for (s, e), models in shadow.items()]


def _is_shadowed(
    spans: list[tuple[int, int, set[str]]], pos: int, model: str
) -> bool:
    return any(s <= pos < e and model in sh for s, e, sh in spans)


def find_refs(
    sql: str, known_models: set[str], shadowing: bool = True
) -> list[tuple[str, str, str | None]]:
    """All ``model.field[__grain]`` references outside string literals /
    quoted identifiers / comments, restricted to known model names.
    ``shadowing=True`` skips refs inside subquery spans that re-bind the
    model name as an alias (classification semantics); pass False for
    fail-closed scans (security) that must see every spelling."""
    spans = _shadow_spans(sql, known_models) if shadowing else []
    out: list[tuple[str, str, str | None]] = []
    offset = 0
    for seg, quoted in segments(sql):
        if quoted:
            offset += len(seg)
            continue
        for m in REF_RE.finditer(seg):
            if m.group(1) in known_models and not _is_shadowed(
                spans, offset + m.start(), m.group(1)
            ):
                out.append((m.group(1), m.group(2), m.group(3)))
        offset += len(seg)
    return out


def replace_refs(
    sql: str,
    known_models: set[str],
    fn: Callable[[str, str, str | None], str],
) -> str:
    """Rewrite every model.field[__grain] reference outside string
    literals / quoted identifiers / comments via
    ``fn(model, field, grain) -> replacement sql``; refs inside
    alias-shadowing subquery spans are left verbatim (see
    ``_shadow_spans``) while refs outside those spans still rewrite."""
    spans = _shadow_spans(sql, known_models)
    parts = []
    offset = 0
    for seg, quoted in segments(sql):
        if quoted:
            parts.append(seg)
            offset += len(seg)
            continue
        seg_off = offset

        def _sub(m: re.Match) -> str:
            if m.group(1) not in known_models or _is_shadowed(
                spans, seg_off + m.start(), m.group(1)
            ):
                return m.group(0)
            return fn(m.group(1), m.group(2), m.group(3))

        parts.append(REF_RE.sub(_sub, seg))
        offset += len(seg)
    return "".join(parts)


def split_conjuncts(sql: str) -> list[str]:
    """Split on top-level AND (outside brackets and literals),
    preserving OR groupings (reference AND-flattening with OR-paren
    preservation, ``sql/generator.py:1640-1750``).

    An UNPARENTHESIZED top-level OR makes the whole expression one
    unit: "a OR b AND c" means a OR (b AND c) in SQL, and splitting on
    the AND would re-associate it as (a OR b) AND c."""
    if _top_spans(sql, "OR", 1):
        stripped = sql.strip()
        return [stripped] if stripped else []
    parts: list[str] = []
    # a top-level BETWEEN's connector AND is part of the predicate, not
    # a conjunction boundary ("x BETWEEN a AND b AND y = 1" splits only
    # at the SECOND AND) — r11 planner-parity port exposed the naive
    # split emitting "(x BETWEEN a)" into a CTE WHERE
    between_pending = 0
    start = last = 0
    for s, e in _top_spans(sql, "AND") + [(len(sql), len(sql))]:
        between_pending += len(_top_spans(sql[last:s], "BETWEEN"))
        last = e
        if between_pending and s < len(sql):
            between_pending -= 1
            continue
        parts.append(sql[start:s].strip())
        start = e
    return [p for p in parts if p]


_INTERVAL_RE = re.compile(r"^\s*(\d+)\s+(second|minute|hour|day|week|month|quarter|year)s?\s*$", re.I)


def parse_interval(text: str) -> tuple[int, str]:
    """Parse '7 days' -> (7, 'day')."""
    m = _INTERVAL_RE.match(text)
    if not m:
        raise ValueError(f"cannot parse interval {text!r}")
    return int(m.group(1)), m.group(2).lower()


def interval_sql(text: str) -> str:
    """'7 days' -> Spark ``INTERVAL '7' DAY``.

    Spark has no QUARTER interval qualifier (INVALID_TYPED_LITERAL) —
    quarters emit as 3n MONTH."""
    n, unit = parse_interval(text)
    if unit == "quarter":
        return f"INTERVAL '{3 * n}' MONTH"
    return f"INTERVAL '{n}' {unit.upper()}"
