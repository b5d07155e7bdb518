"""Window operators W1-W2 and top-k (O4). SURVEY.md §2.6-2.7.

The reference implements ranking only in its PostgreSQL materialized
views (``init_db.sql:96-102``); here they are native Spark window
functions.

Scale note: a global ``Window.orderBy`` (no partitionBy) funnels all
rows through one task — fine for mart-sized inputs (the reference's
use), wrong for raw facts. For a large global top-k, orderBy+limit
compiles to Spark's TakeOrderedAndProject: a per-partition top-k then
a tiny final merge.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ScaleRefusal


def rank_by(
    df: DataFrame,
    order_col: str,
    desc: bool = True,
    alias: str = "rank",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """W1: RANK() OVER (ORDER BY x DESC). ref: init_db.sql:96-102.

    Mart-scale ONLY: the partition-less window funnels every row
    through one task. To keep that contract honest for callers outside
    the registry (where the plan suite can't see them), the function
    materializes ``df.limit(max_rows+1)`` with an eager
    ``localCheckpoint`` and refuses when it holds ``max_rows+1`` rows
    (VERDICT r4 #6: the guard turns a silent 100 TB single-task sort
    into an immediate error naming ``global_rank``). The checkpoint
    bounds BOTH costs: at most ``max_rows+1`` rows are ever
    materialized on an oversized input, and an accepted input's
    (possibly expensive) lineage runs ONCE — the rank executes over
    the checkpointed rows, never a second scan — so the guard also
    cannot be invalidated by a source that grows between probe and
    execution (ADVICE r5 #2: the old count-then-rank shape scanned
    twice and re-read the live source). Trade-off: the checkpointed
    limit output is one arbitrary-but-now-pinned ``max_rows``-bounded
    subset when the input is exactly at the cap; refusal, not
    truncation, is still the behavior past it. Pass ``max_rows=None``
    to skip the probe (and its eager job + materialized copy) when
    the input is known mart-sized."""
    if max_rows is not None:
        probed = df.limit(max_rows + 1).localCheckpoint(eager=True)
        if probed.count() > max_rows:
            raise ScaleRefusal(
                f"rank_by: input exceeds max_rows={max_rows} — a "
                "partition-less window would sort it in ONE task. Use "
                "global_rank (two-phase, scale-safe) for data-sized "
                "inputs, or pass max_rows=None to override."
            )
        df = probed  # rank over the SAME rows the probe admitted
    order = F.desc(order_col) if desc else F.asc(order_col)
    return df.withColumn(alias, F.rank().over(Window.orderBy(order)))


def global_rank(
    df: DataFrame,
    order_col: str,
    desc: bool = True,
    alias: str = "rank",
    num_partitions: int = 32,
) -> DataFrame:
    """Scale-safe global RANK: two-phase instead of a single-task
    ``Window.orderBy`` (VERDICT r1 #4).

    Phase 1: ``repartitionByRange`` on the order column — equal values
    land in the same partition, so ties never span partitions and
    per-partition RANK is locally correct. The repartitioned frame is
    pinned with ``localCheckpoint(eager=True)`` so both downstream
    reads see ONE physical ``_pid`` assignment (a recompute could
    re-sample range bounds and shift ids).
    Phase 2: per-partition row counts — ``num_partitions`` rows,
    bounded by cluster width, not data volume — are collected to the
    driver, turned into an exclusive running offset, and applied as a
    literal ``_pid -> offset`` map lookup; global rank = local rank +
    offset of strictly-better partitions.

    Every data-sized operation is parallel across ``num_partitions``
    tasks; there is NO partition-less window and NO join — the offset
    is a map literal, so the plan is checkpoint-scan → window(_pid) →
    project (VERDICT r4 #4 clawed back the broadcast-exchange +
    tiny-window stages of the previous two-branch design).
    Storage note: unlike ``.cache()``, localCheckpoint blocks are NOT
    retained by the CacheManager — they are dropped when the frame is
    garbage-collected, so sessions ranking many distinct large inputs
    don't accumulate data-sized copies. Trade-off: checkpoint blocks
    don't survive executor loss; a lost block fails the job loudly
    (re-run the operator) instead of silently recomputing with a
    possibly different ``_pid`` assignment — at 100 TB, fail-stop is
    the correct side of that trade for a correctness-critical id.
    """
    order = F.desc(order_col) if desc else F.asc(order_col)
    parts = (
        df.repartitionByRange(num_partitions, order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_pid"]: r["_n"]
        for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    }
    offsets: dict[int, int] = {}
    running = 0
    for pid in sorted(counts):
        offsets[pid] = running
        running += counts[pid]
    if offsets:
        off_map = F.create_map(
            *[F.lit(x) for pid_off in sorted(offsets.items()) for x in pid_off]
        )
        off_expr = F.coalesce(off_map[F.col("_pid")], F.lit(0))
    else:
        off_expr = F.lit(0)
    local_w = Window.partitionBy("_pid").orderBy(order)
    # bigint, not int: past 2^31 rows a 32-bit rank wraps silently
    # (non-ANSI), which is exactly the data regime this operator exists
    # for
    return (
        parts.withColumn("_local", F.rank().over(local_w))
        .withColumn(alias, (F.col("_local") + off_expr).cast("bigint"))
        .drop("_pid", "_local")
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    val_col: str,
    alias: str = "start_off",
    num_partitions: int = 32,
) -> DataFrame:
    """Scale-safe EXCLUSIVE running sum of ``val_col`` in global
    ``order_cols`` order — the two-level scan pattern that replaces a
    single-task ``SUM(...) OVER (ORDER BY ...)`` (VERDICT r3 #6, the
    ``pack_chunks``/``corpus_assemble`` perf-weak items).

    Phase 1: ``repartitionByRange`` on the order columns, so partition
    ranges respect the global order and per-partition exclusive sums
    (a window PARTITIONED by ``_pid``) are locally correct; the frame
    is pinned with ``localCheckpoint(eager=True)`` so both downstream
    reads see one physical ``_pid`` assignment.
    Phase 2: per-partition totals — ``num_partitions`` rows, bounded
    by cluster width, not data volume — are collected to the driver,
    exclusively prefix-summed, and applied as a literal
    ``_pid -> base`` map lookup; global offset = base + local.

    Every data-sized operation is parallel; there is NO partition-less
    window and NO join — same storage/failure contract as
    ``global_rank`` (localCheckpoint blocks are GC-dropped rather than
    CacheManager-retained; executor loss fails loudly instead of
    risking a silent ``_pid`` reshuffle). ``order_cols`` must be a
    unique key of ``df``: the exclusive sum at a tied position would
    otherwise depend on intra-tie order. ``val_col`` must be
    INTEGRAL — values are summed as bigint so the result is exact and
    identical at any partition count (per-partition float sums
    truncated independently would make the offsets depend on
    ``num_partitions``). A fractional ``val_col`` raises TypeError
    rather than silently floor-truncating every value (ADVICE r5 #3:
    an external float caller previously got truncated offsets with
    only a docstring to warn them); cast to bigint explicitly at the
    call site if truncation is genuinely intended."""
    from pyspark.sql.types import DecimalType, FractionalType

    vt = df.schema[val_col].dataType
    if isinstance(vt, FractionalType) and not (
        isinstance(vt, DecimalType) and vt.scale == 0
    ):
        raise TypeError(
            f"global_prefix_sum: val_col {val_col!r} is {vt.simpleString()} "
            "— the exclusive sum is exact-integer by contract (per-value "
            "bigint). Cast to bigint explicitly if floor-truncation is "
            "intended."
        )
    order = [F.asc(c) for c in order_cols]
    val = F.col(val_col).cast("bigint")
    parts = (
        df.repartitionByRange(num_partitions, *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {
        r["_pid"]: r["_t"] or 0
        for r in parts.groupBy("_pid").agg(F.sum(val).alias("_t")).collect()
    }
    bases: dict[int, int] = {}
    running = 0
    for pid in sorted(totals):
        bases[pid] = running
        running += int(totals[pid])
    if bases:
        base_map = F.create_map(
            *[F.lit(x) for pid_base in sorted(bases.items()) for x in pid_base]
        )
        base_expr = F.coalesce(base_map[F.col("_pid")], F.lit(0)).cast("bigint")
    else:
        base_expr = F.lit(0).cast("bigint")
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        parts.withColumn(
            "_local",
            F.coalesce(F.sum(val).over(local_w), F.lit(0)).cast("bigint"),
        )
        .withColumn(alias, (F.col("_local") + base_expr).cast("bigint"))
        .drop("_pid", "_local")
    )


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """W2: latest row per key — row_number()=1 over desc order.

    ref: init_db.sql:102 (``WHERE year = (SELECT MAX(year) ...)``).
    The window form partitions by key so it scales horizontally; the
    scalar-subquery form is ``filter_latest_year`` in plans/.
    ``tiebreak_cols`` (also descending) make the pick deterministic
    when several rows share the max order value.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(order_col), *[F.desc(c) for c in tiebreak_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    desc: bool = True,
    alias: str = "rank",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """O4: top-k per group via ranking window. Pass ``tiebreak_cols``
    for a deterministic order when ``order_col`` can tie (row_number
    on ties is otherwise partition-order-dependent).
    ref surface: ComparisonTable.jsx:42-64 (declared, never implemented
    server-side in the reference)."""
    order = [F.desc(order_col) if desc else F.asc(order_col)]
    order += [F.asc(c) for c in tiebreak_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn(alias, F.row_number().over(w)).filter(F.col(alias) <= k)
