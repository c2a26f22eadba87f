"""Every adapter's export names come from its import table (AST guard,
same style as ``test_request_state_guard.py``).

Each format writes its spellings for our aggregation and dimension-type
names once, as the import table, and ``adapters.base.inverse`` derives
the export table from it. A dict literal whose keys are all our names
and whose values differ from them is a hand-written export table: it
can drift from the importer and write names the importer never reads
back. The only such entries allowed are listed below with a reason.
"""

import ast
import os

from sidemantic_spark.core.model import SIMPLE_AGGS

ROOT = os.path.join(os.path.dirname(__file__), "..")
ADAPTERS = os.path.join("sidemantic_spark", "adapters")

OUR_NAMES = SIMPLE_AGGS | {"categorical", "numeric", "time", "boolean"}

_BY_PATTERN = (
    "the importer reads a column type by its prefix or substring, not "
    "through a name table; test_dimension_type_roundtrip_every_format "
    "pins that each written type reads back"
)

# (file, our name) -> why that entry of a hand-written table is allowed
ALLOWED = {
    ("sidemantic_spark/adapters/lookml.py", "approx_count_distinct"):
        "LookML has no approximate distinct count: the exact "
        "count_distinct is written instead",
    **{("sidemantic_spark/adapters/superset.py", t): _BY_PATTERN
       for t in ("numeric", "boolean", "time", "categorical")},
    ("sidemantic_spark/adapters/snowflake.py", "numeric"): _BY_PATTERN,
}


def _adapter_files():
    for name in sorted(os.listdir(os.path.join(ROOT, ADAPTERS))):
        if name.endswith(".py"):
            yield f"{ADAPTERS}/{name}".replace(os.sep, "/")


def _export_tables(rel: str) -> list[tuple[int, str]]:
    """(line, our name) of every entry of a dict literal whose string
    keys are all our names and which maps one of them elsewhere."""
    with open(os.path.join(ROOT, rel)) as f:
        tree = ast.parse(f.read(), filename=rel)
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Dict):
            continue
        pairs = [(k.value, v) for k, v in zip(node.keys, node.values)
                 if isinstance(k, ast.Constant) and isinstance(k.value, str)]
        if not pairs or any(k not in OUR_NAMES for k, _v in pairs):
            continue
        renamed = [k for k, v in pairs
                   if isinstance(v, ast.Constant) and v.value != k]
        if renamed:
            out.extend((node.lineno, k) for k in renamed)
    return out


def test_no_hand_written_export_tables():
    bad = [
        f"{rel}:{line} {name}"
        for rel in _adapter_files()
        for line, name in _export_tables(rel)
        if (rel, name) not in ALLOWED
    ]
    assert bad == []


def test_allow_list_has_no_stale_entries():
    live = {(rel, name) for rel in _adapter_files()
            for _line, name in _export_tables(rel)}
    assert set(ALLOWED) <= live
