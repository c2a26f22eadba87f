"""Every ``scripts/*.py`` path cited by the library, the tests, the bench
harness, the contract entry module or the README names a file that
exists, and every library name the scripts and the bench harness use
exists, so deleting a script or renaming a library name cannot leave a
dangling reference in code the test suite never runs."""

from __future__ import annotations

import ast
import importlib
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


def _library_references(path: Path) -> set[str]:
    """Dotted ``sidemantic_spark`` names that ``path`` imports, plus every
    ``alias.attr`` read through a name bound by one of those imports."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
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
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            refs.add(f"{aliases[node.value.id]}.{node.attr}")
    return refs


def _resolves(dotted: str) -> bool:
    parts = dotted.split(".")
    obj = importlib.import_module(parts[0])
    for i, part in enumerate(parts[1:], start=2):
        if hasattr(obj, part):
            obj = getattr(obj, part)
            continue
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ModuleNotFoundError:
            return False
    return True


def test_script_library_names_exist():
    users = sorted((ROOT / "scripts").glob("*.py")) + [ROOT / "bench.py"]
    refs = {f.name: _library_references(f) for f in users}
    assert any(refs.values()), "no sidemantic_spark reference found: the scan is broken"
    missing = {
        name: sorted(r for r in found if not _resolves(r))
        for name, found in refs.items()
    }
    missing = {name: found for name, found in missing.items() if found}
    assert not missing, f"library names used by scripts that do not exist: {missing}"
