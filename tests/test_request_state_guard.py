"""No request mutates shared state (AST guard, same style as
``test_exception_boundaries.py``).

- The per-request modes (``REQUEST_FIELDS`` apart from the ``user`` and
  ``timezone`` context) are ``QuerySpec`` fields passed per call.
  Nothing assigns them as attributes: a leftover assignment to the
  generator's old ``use_preaggs`` attribute would silently do nothing.
- Session conf writes (``conf.set`` / ``conf.unset``) in the library
  happen only at the set-up sites below. Anything else changes the
  session for every concurrent request.
- The compiler writes no graph: in the rewriter and the generator,
  nothing calls ``_invalidate()``, assigns ``.generation`` or appends to
  or removes from a model's ``metrics`` / ``dimensions`` /
  ``relationships``, apart from the sites below.
"""

import ast
import os

from sidemantic_spark.sql.generator import REQUEST_FIELDS

ROOT = os.path.join(os.path.dirname(__file__), "..")

MODES = set(REQUEST_FIELDS) - {"user", "timezone"}
SCANNED = ("sidemantic_spark", "tests", "scripts", "bench.py",
           "__spark_entry__.py")

# (file, enclosing function) -> why that site may write session conf
CONF_WRITES_ALLOWED = {
    ("sidemantic_spark/project.py", "apply"):
        "session set-up: applies the project file's runtime spark conf",
    ("sidemantic_spark/models/tpch.py", "register_tables"):
        "table set-up: read nanosecond parquet timestamps as longs",
    ("sidemantic_spark/streaming/stream_layer.py", "to_memory_sink"):
        "pins the replay's state-store width: Spark has no per-query "
        "width for state stores",
}


COMPILER = ("sidemantic_spark/sql/rewriter.py",
            "sidemantic_spark/sql/generator.py")
FIELD_LISTS = {"metrics", "dimensions", "relationships"}

# (file, enclosing function) -> why that site may write a graph
GRAPH_WRITES_ALLOWED = {
    ("sidemantic_spark/sql/rewriter.py", "_own"):
        "writes only the request's fork of the graph, made in the same "
        "function: ad-hoc fields never reach the shared graph",
}


def _py_files(rel: str):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield rel
        return
    for dirpath, _dirs, files in os.walk(path):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.relpath(os.path.join(dirpath, name), ROOT)


def _tree(rel: str) -> ast.AST:
    with open(os.path.join(ROOT, rel)) as f:
        return ast.parse(f.read(), filename=rel)


def _mode_assignments(rel: str) -> list[str]:
    out = []
    for node in ast.walk(_tree(rel)):
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        else:
            continue
        for t in targets:
            for sub in ast.walk(t):
                if isinstance(sub, ast.Attribute) and sub.attr in MODES:
                    out.append(f"{rel}:{node.lineno} .{sub.attr}")
    return out


def _conf_writes(rel: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``<x>.conf.set/unset`` call."""
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("set", "unset")
                    and isinstance(child.func.value, ast.Attribute)
                    and child.func.value.attr == "conf"):
                out.append((func, child.lineno))
            visit(child, func)

    visit(_tree(rel), "<module>")
    return out


def _graph_writes(rel: str) -> list[tuple[str, int, str]]:
    """(enclosing function, line, what) of every graph write: an
    ``_invalidate()`` call, a ``.generation`` assignment, or a list
    edit on ``<x>.metrics`` / ``.dimensions`` / ``.relationships``."""
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                f = child.func
                if f.attr == "_invalidate":
                    out.append((func, child.lineno, "_invalidate()"))
                elif (f.attr in ("append", "remove", "insert", "extend", "pop", "clear")
                        and isinstance(f.value, ast.Attribute)
                        and f.value.attr in FIELD_LISTS):
                    out.append((func, child.lineno, f".{f.value.attr}.{f.attr}()"))
            targets = (child.targets if isinstance(child, ast.Assign)
                       else [child.target]
                       if isinstance(child, (ast.AugAssign, ast.AnnAssign))
                       else [])
            for t in targets:
                for sub in ast.walk(t):
                    if isinstance(sub, ast.Attribute) and sub.attr == "generation":
                        out.append((func, child.lineno, ".generation ="))
            visit(child, func)

    visit(_tree(rel), "<module>")
    return out


def test_compiler_writes_no_graph():
    bad = [
        f"{rel}:{line} {what} in {func}()"
        for rel in COMPILER
        for func, line, what in _graph_writes(rel)
        if (rel, func) not in GRAPH_WRITES_ALLOWED
    ]
    assert bad == []


def test_graph_write_allow_list_has_no_stale_entries():
    live = {(rel, func) for rel in COMPILER
            for func, _line, _what in _graph_writes(rel)}
    assert set(GRAPH_WRITES_ALLOWED) <= live


def test_no_attribute_assignment_of_request_modes():
    hits = [h for top in SCANNED for rel in _py_files(top)
            for h in _mode_assignments(rel)]
    assert hits == []


def test_session_conf_writes_only_at_setup_sites():
    bad = [
        f"{rel}:{line} in {func}()"
        for rel in _py_files("sidemantic_spark")
        for func, line in _conf_writes(rel)
        if (rel.replace(os.sep, "/"), func) not in CONF_WRITES_ALLOWED
    ]
    assert bad == []


def test_conf_allow_list_has_no_stale_entries():
    live = {
        (rel.replace(os.sep, "/"), func)
        for rel in _py_files("sidemantic_spark")
        for func, _line in _conf_writes(rel)
    }
    assert set(CONF_WRITES_ALLOWED) <= live
