"""The bench harness's per-tier contamination flags come from the
calibration probes that actually ran."""

from __future__ import annotations

import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _bench():
    spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _probes(**noop):
    return {label: {"noop_sql_sec": v, "tiny_scan_sec": 0.05} for label, v in noop.items()}


def test_tier_flags_from_all_probes():
    flags = _bench().tier_contamination(_probes(
        run_start=0.03, post_headline=0.03, post_heavy_extras=0.2, post_extras=0.03,
    ))
    assert flags == {"headline": False, "extras_heavy": True, "extras_rest": True}


def test_tier_flags_without_heavy_extras_probe():
    """The heavy-extras probe fires only when its trigger entry is in
    EXTRA; without it both extras tiers bracket on the probes that ran
    instead of raising KeyError and losing the whole record."""
    tier_contamination = _bench().tier_contamination
    assert tier_contamination(_probes(
        run_start=0.03, post_headline=0.03, post_extras=0.03,
    )) == {"headline": False, "extras_heavy": False, "extras_rest": False}
    assert tier_contamination(_probes(
        run_start=0.03, post_headline=0.03, post_extras=0.2,
    )) == {"headline": False, "extras_heavy": True, "extras_rest": True}
