"""``__spark_entry__.queries()`` orders the registry least-evidenced
first from the driver's ``CORRECTNESS_r*.json`` files (the registry
itself keeps registration order and reads no file at import)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as E  # noqa: E402
from big_data_analysis_project_spark.registry import ORACLE, QUERIES  # noqa: E402

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}
RED = {"rows_match": True, "schema_match": True, "hash_match": False}


def test_queries_order_rules(tmp_path):
    o1, o2, o3 = sorted(ORACLE)[:3]
    n1 = min(k for k in QUERIES if k not in ORACLE)
    rounds = {
        # numeric round order: r10 is the latest, so o1's green r2 row
        # is overwritten by its red r10 row (a name sort would not)
        2: {o1: GREEN},
        9: {o2: GREEN},
        10: {
            o1: RED,
            o2: GREEN,
            # a rows-only row banks only for a key without an oracle
            n1: {"err": "no_oracle"},
            o3: {"err": "no_oracle"},
        },
    }
    for n, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))
    (tmp_path / "CORRECTNESS_r11.json").write_text("not json")

    got = list(E.queries(tmp_path))
    assert sorted(got) == sorted(QUERIES)
    unchecked = sorted(
        (k for k in QUERIES if k not in {o1, o2, o3, n1}),
        key=lambda k: (k not in ORACLE, k),
    )
    # latest-red first, then fewest green rows, then oracle keys, then name
    assert got == sorted([o1, o3]) + unchecked + [n1, o2]

