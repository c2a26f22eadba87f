"""SQL text is read by one tokenizer, ``sql/fragments.py`` ``tokens``
(AST guard, same style as ``test_name_table_guard.py``).

A loop that compares characters against a quote, or against a paren
while counting depth, is a hand-written scanner, and so is a split at
``'`` or at the ``'(?:[^']|'')*'`` literal pattern. Each such copy
tracked a different subset of SQL's tokens: most knew only single quotes, so a quoted
identifier (``"rev, total"``) or a literal holding ``--`` or ``)`` broke
the text apart. Outside ``fragments.py``, the only scanners allowed are
for formats that quote differently, listed below with a reason.
"""

import ast
import os

ROOT = os.path.join(os.path.dirname(__file__), "..")
PACKAGE = "sidemantic_spark"
TOKENIZER = "sidemantic_spark/sql/fragments.py"

_QUOTES = {"'", '"', "`"}
_PARENS = {"(", ")", "[", "]", "{", "}"}

_NOT_SQL = {
    "graphene": "Graphene source: `#` annotations and comments, and "
                "backslash escapes in its string literals",
    "holistics": "Holistics AML: `{ }` blocks, not SQL",
    "lookml": "LookML: `{ }` blocks and double-quoted string values, not "
              "SQL identifiers",
    "malloy": "Malloy: `{ }` refinement blocks and its own quoting",
    "tableau": "Tableau formulas: `[Field]` names and `//` comments",
    "tmdl": "DAX: `'Table'[Column]` quotes a table name with single "
            "quotes, which SQL reads as a string literal",
}

# (file, function) -> why that function may scan characters itself
ALLOWED = {
    (f"sidemantic_spark/adapters/{fmt}.py", func): _NOT_SQL[fmt]
    for fmt, funcs in {
        "graphene": ("_scan_top_level", "_skip_string", "_split_outside",
                     "_strip_inline"),
        "holistics": ("_block",),
        "lookml": ("_parse_block", "_split_list_items", "read_list"),
        "malloy": ("_block", "_is_single_call_expr", "_split_top"),
        "tableau": ("_matching_paren", "_protect", "_split_args"),
        "tmdl": ("_call_body", "_split_dax_args"),
    }.items()
    for func in funcs
}


def _package_files():
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                yield os.path.relpath(path, ROOT).replace(os.sep, "/")


def _char_compares(node: ast.AST) -> set[str]:
    """The quote and paren characters a comparison tests a character
    against: ``ch == "'"``, ``ch in "()"``, ``ch in ("(", ")")``."""
    if not isinstance(node, ast.Compare):
        return set()
    chars: set[str] = set()
    for op, right in zip(node.ops, node.comparators):
        if isinstance(op, (ast.Eq, ast.NotEq)):
            sides = [node.left, right]
        elif isinstance(op, (ast.In, ast.NotIn)):
            sides = right.elts if isinstance(right, (ast.Tuple, ast.List, ast.Set)) else [right]
        else:
            continue
        for c in sides:
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                if isinstance(op, (ast.In, ast.NotIn)) and len(c.value) > 1:
                    chars |= set(c.value) & (_QUOTES | _PARENS)
                elif c.value in _QUOTES | _PARENS:
                    chars.add(c.value)
    return chars


def _is_scanner_loop(loop: ast.AST) -> bool:
    """A loop that tracks quotes, or counts paren depth by ones."""
    chars = set().union(*(_char_compares(n) for n in ast.walk(loop)))
    counts = any(
        isinstance(n, ast.AugAssign) and isinstance(n.value, ast.Constant)
        and n.value.value == 1
        for n in ast.walk(loop)
    )
    return bool(chars & _QUOTES) or bool(chars & _PARENS and counts)


def _is_quote_split(node: ast.AST) -> bool:
    """``x.split("'")`` or ``re.split(r"('(?:[^']|'')*')", x)``."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "split" and node.args):
        return False
    arg = node.args[0]
    return isinstance(arg, ast.Constant) and isinstance(arg.value, str) and (
        arg.value == "'" or "(?:[^']|'')" in arg.value
    )


def _scanners(rel: str) -> list[tuple[int, str]]:
    """(line, enclosing function) of every character-scanning loop and
    quote split in ``rel``."""
    with open(os.path.join(ROOT, rel)) as f:
        tree = ast.parse(f.read(), filename=rel)
    out: list[tuple[int, str]] = []

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name if func == "<module>" else func
        if isinstance(node, (ast.For, ast.While)) and _is_scanner_loop(node):
            out.append((node.lineno, func))
            return
        if _is_quote_split(node):
            out.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return out


def _found() -> dict[tuple[str, str], int]:
    return {
        (rel, func): line
        for rel in _package_files() if rel != TOKENIZER
        for line, func in _scanners(rel)
    }


def test_no_sql_scanner_outside_the_tokenizer():
    bad = [f"{rel}:{line} {func}" for (rel, func), line in _found().items()
           if (rel, func) not in ALLOWED]
    assert bad == []


def test_allow_list_has_no_stale_entries():
    assert set(ALLOWED) <= set(_found())
