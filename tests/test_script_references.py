"""Every ``scripts/*.py`` path cited by the library, the tests, the bench
harness, the contract entry module or the README names a file that
exists, so deleting a script cannot leave a dangling reference."""

from __future__ import annotations

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
