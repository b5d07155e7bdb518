"""The data-quality report (SURVEY.md §2.12). The aggregations A1-A8
(§2.5) are registry keys.

All grouped aggregates compile to partial (map-side) + final
aggregation in Spark's physical plan, so the shuffle carries one row
per group per mapper — the reason a groupBy over 100 TB is fine as
long as the group count is bounded.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quality_report(
    df: DataFrame,
    key_col: str = "iso3",
    year_col: str = "year",
    checks: Mapping[str, Column] | None = None,
) -> DataFrame:
    """Data-quality report as ONE aggregation job.

    ref: spark_data_processor.py:726-754 runs ~8 separate actions
    (count, distinct, min/max, per-check counts); the ~165 s the
    reference spent here (BASELINE.md) was this fragmentation. Here
    the same numbers come from a single conditional-aggregation pass —
    the idiomatic Spark shape, and the difference between one scan and
    eight at 100 TB.
    """
    checks = checks or {}
    agg_cols = [
        F.count(F.lit(1)).alias("total_records"),
        F.countDistinct(key_col).alias("distinct_keys"),
        F.min(year_col).alias("min_year"),
        F.max(year_col).alias("max_year"),
    ]
    for name, cond in checks.items():
        agg_cols.append(F.sum(F.when(cond, 1).otherwise(0)).alias(name))
    return df.select(*agg_cols)
