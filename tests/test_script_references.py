"""Every ``scripts/*.py`` path cited by the library, the tests, the bench
harness, the contract entry module or the README names a file that
exists, and every library name and keyword argument the scripts and the
bench harness use exists, so deleting a script or renaming a library name
or parameter cannot leave a dangling reference in code the test suite
never runs."""

from __future__ import annotations

import ast
import importlib
import inspect
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CITING = ["sidemantic_spark", "tests", "bench.py", "__spark_entry__.py", "README.md"]
_SCRIPT_REF = re.compile(r"\bscripts/([A-Za-z0-9_]+\.py)\b")


def _cited_scripts() -> dict[str, list[str]]:
    cited: dict[str, list[str]] = {}
    for name in CITING:
        path = ROOT / name
        files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
        for f in files:
            for script in _SCRIPT_REF.findall(f.read_text(encoding="utf-8")):
                cited.setdefault(script, []).append(str(f.relative_to(ROOT)))
    return cited


def test_cited_scripts_exist():
    cited = _cited_scripts()
    assert cited, "no scripts/*.py citation found: the scan is broken"
    missing = {
        script: where for script, where in cited.items()
        if not (ROOT / "scripts" / script).is_file()
    }
    assert not missing, f"cited scripts that do not exist: {missing}"


def _imports(tree: ast.AST) -> tuple[set[str], dict[str, str]]:
    """Dotted ``sidemantic_spark`` names a module imports, and the local
    names those imports bind."""
    refs: set[str] = set()
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "sidemantic_spark":
                    refs.add(a.name)
                    if a.asname:
                        aliases[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and (
            (node.module or "").split(".")[0] == "sidemantic_spark"
        ):
            for a in node.names:
                refs.add(f"{node.module}.{a.name}")
                aliases[a.asname or a.name] = f"{node.module}.{a.name}"
    return refs, aliases


def _dotted(node: ast.AST, aliases: dict[str, str]) -> str | None:
    """The library name ``node`` reads: an imported name, or
    ``alias.attr`` through one."""
    if isinstance(node, ast.Name):
        return aliases.get(node.id)
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        if node.value.id in aliases:
            return f"{aliases[node.value.id]}.{node.attr}"
    return None


def _library_references(path: Path) -> set[str]:
    """Dotted ``sidemantic_spark`` names that ``path`` imports, plus every
    ``alias.attr`` read through a name bound by one of those imports."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    refs, aliases = _imports(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            dotted = _dotted(node, aliases)
            if dotted:
                refs.add(dotted)
    return refs


def _library_calls(path: Path) -> list[tuple[str, int, list[str]]]:
    """(dotted callee, line, keyword names) of every call ``path`` makes
    to a ``sidemantic_spark`` name; ``**kwargs`` spreads are skipped."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    _, aliases = _imports(tree)
    calls = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            dotted = _dotted(node.func, aliases)
            kws = [k.arg for k in node.keywords if k.arg is not None]
            if dotted and kws:
                calls.append((dotted, node.lineno, kws))
    return calls


_MISSING = object()


def _resolve(dotted: str):
    parts = dotted.split(".")
    obj = importlib.import_module(parts[0])
    for i, part in enumerate(parts[1:], start=2):
        if hasattr(obj, part):
            obj = getattr(obj, part)
            continue
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ModuleNotFoundError:
            return _MISSING
    return obj


def _script_users() -> list[Path]:
    return sorted((ROOT / "scripts").glob("*.py")) + [ROOT / "bench.py"]


def test_script_library_names_exist():
    refs = {f.name: _library_references(f) for f in _script_users()}
    assert any(refs.values()), "no sidemantic_spark reference found: the scan is broken"
    missing = {
        name: sorted(r for r in found if _resolve(r) is _MISSING)
        for name, found in refs.items()
    }
    missing = {name: found for name, found in missing.items() if found}
    assert not missing, f"library names used by scripts that do not exist: {missing}"


def test_script_library_keywords_exist():
    """Every keyword a script or the bench harness passes to a library
    callable is a parameter of that callable (callables taking
    ``**kwargs`` accept anything and are skipped)."""
    checked, bad = 0, []
    for f in _script_users():
        for dotted, line, kws in _library_calls(f):
            obj = _resolve(dotted)
            try:
                params = inspect.signature(obj).parameters
            except (TypeError, ValueError):
                continue
            if any(p.kind is p.VAR_KEYWORD for p in params.values()):
                continue
            checked += 1
            bad += [f"{f.name}:{line} {dotted}({k}=)" for k in kws if k not in params]
    assert checked, "no keyword call to a library callable found: the scan is broken"
    assert not bad, f"keywords the library callables do not take: {bad}"
