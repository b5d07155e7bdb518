"""Join operators J1-J2 (SURVEY.md §2.4) plus the scale helpers the
reference never needed (broadcast hints, salted join for skew)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def left_join_population(
    facts: DataFrame,
    population: DataFrame,
    on: Sequence[str] = ("iso3", "year"),
    pop_col: str = "population",
    fill_missing: int | None = 0,
) -> DataFrame:
    """J1: left equi-join on a composite key, null-fill misses.

    ref: spark_data_processor.py:548-561. The explicit ``select`` on
    the right side is column pruning before the exchange; at reference
    scale AQE broadcasts the 60-row side automatically, at 100 TB the
    same line is a sort-merge join on (iso3, year) — no code change.
    """
    right = population.select(*on, pop_col)
    joined = facts.join(right, on=list(on), how="left")
    if fill_missing is not None:
        joined = joined.na.fill({pop_col: fill_missing})
    return joined


def salted_join(
    big: DataFrame,
    skewed_small: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-mitigation join (engine addition, SURVEY.md §2.4 note).

    Replicates the small side ``salt_buckets`` times and salts the big
    side's key so one hot key spreads over many reducers. AQE's skew
    handling usually suffices; this is the manual fallback for extreme
    skew (e.g. a null-heavy or celebrity key at 100 TB).

    Only ``inner`` and ``left`` joins are valid: the small side is
    replicated ``salt_buckets`` times BEFORE the join, so a right/full
    outer would emit every unmatched small-side row once PER REPLICA
    (salt_buckets copies instead of 1).
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: the "
            "replicated small side would duplicate unmatched rows "
            f"{salt_buckets}x under an outer join"
        )
    salted_big = big.withColumn("_salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    salted_small = skewed_small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    joined = salted_big.join(salted_small, on=[on, "_salt"], how=how)
    return joined.drop("_salt")
