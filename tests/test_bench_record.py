"""bench.py's record bookkeeping, checked offline against a committed
record (no Spark session needed)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402


def test_continuity_totals_reproduce_r12_record():
    """Every continuity field derives from the one {row: round joined}
    table: fed the r12 record's per-row walls, the derivation gives back
    the totals that record carries, to the last digit."""
    rec = json.loads((ROOT / "BENCH_r12.json").read_text())["parsed"]
    got = bench.continuity_totals(rec["queries"])
    assert got == {
        "continuity_subset_total": 27.953,
        "continuity_subset_n": 34,
        "continuity_subset_r9_total": 18.038,
        "continuity_subset_r10_total": 22.35,
        "continuity_subset_r11_total": 24.351,
    }
    assert got == {k: rec[k] for k in got}


def test_continuity_table_covers_only_headline_rows():
    assert set(bench.CONTINUITY_JOINED) <= set(bench.HEADLINE)
