"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator
from SURVEY.md §2 plus the Phase-E extensions, backed by
``big_data_analysis_project_spark.registry``.
"""

from __future__ import annotations

import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from big_data_analysis_project_spark.registry import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship"](spark, "/root/testdata/sf0.001")


# Driver-evidence rotation, self-managing: the driver's correctness
# harness checks only the FIRST 50 keys of queries() each round, so the
# keys come least-evidenced-first — keys with the fewest banked GREEN
# driver rows (counted from the CORRECTNESS_r*.json files the driver
# leaves at the repo root) lead, name order breaking ties. Every round
# therefore banks up to 50 new driver rows with no manual window edits,
# sweeping the whole registry in ceil(n/50) rounds. Only green evidence
# banks: a key whose LATEST evidence is a failed or errored row sorts
# BEFORE even never-checked keys (rank -1) so the (hopefully fixed) key
# is re-checked next round — latest, not ever-green: a key that
# regressed after an early green round must still lead the window, or
# it would never be re-checked. A rows-only 'no_oracle' row only counts
# for keys that still have no oracle — if a key gained one since, the
# stale weak row shouldn't keep the stronger check out of the window.
# Order only affects which keys the driver samples; the local oracle
# suite checks every key every run.


def _driver_row_counts(root: Path, oracle_keys: set[str]) -> dict[str, int]:
    counts: dict[str, int] = {}
    latest_green: dict[str, bool] = {}

    def round_no(f: Path) -> int:
        # NUMERIC round order (ADVICE r4): lexicographic filename sort
        # would put r100 before r20 and let a stale row overwrite the
        # true latest status once rounds outgrow the zero-padding
        m = re.search(r"r(\d+)", f.name)
        return int(m.group(1)) if m else -1

    # ascending round order: per-key overwrite leaves the LATEST status
    for f in sorted(root.glob("CORRECTNESS_r*.json"), key=round_no):
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            if not isinstance(row, dict):
                continue
            err = row.get("err")
            flags = [
                row.get("rows_match"), row.get("schema_match"),
                row.get("hash_match"),
            ]
            green = (err is None and False not in flags) or (
                err == "no_oracle" and key not in oracle_keys
            )
            if green:
                counts[key] = counts.get(key, 0) + 1
            latest_green[key] = green
    for key, green in latest_green.items():
        if not green:
            counts[key] = -1
    return counts


def queries(root: Path = ROOT) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / Phase E,
    least-evidenced first by the ``CORRECTNESS_r*.json`` files under
    ``root`` (see the rotation note above)."""
    banked = _driver_row_counts(root, set(ORACLE))
    # tie-break within a bank count: oracle-backed keys first — a driver
    # row for them is a hash-grade check, vs rows-only for no-oracle keys
    order = sorted(QUERIES, key=lambda k: (banked.get(k, 0), k not in ORACLE, k))
    return {k: QUERIES[k] for k in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query key. Keys absent here
    (LSH-based dedup/ANN, true structured streaming) are
    non-SQL-expressible and get the driver's rows-only check."""
    return dict(ORACLE)
