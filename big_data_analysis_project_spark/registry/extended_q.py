"""Extended relational + pipeline operators (engine additions beyond
the reference's surface, second wave): semi/anti joins, cube and
grouping-sets hierarchies, deterministic hash sampling, histogram
binning, as-of and bucketed range joins over the events stream,
salted skew joins, z-score anomaly detection, ntile quantile bands,
corpus term statistics, and a hive-partitioned parquet sink.

Every key here is oracle-checked (plain ANSI SQL on DuckDB). Output
columns stick to VARCHAR/BIGINT/INT/DOUBLE and never ROUND a divided
double (oracle hash-compare rules learned in round 1).
"""

from __future__ import annotations

import tempfile
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_events, load_table
from ..sources.snapshot import footer_bounds
from .dedup_q import _NGRAM_ORACLE as _NGRAM_PAIR_SQL

from ._base import ScaleRefusal, make_registry, sink_root

QUERIES, ORACLE, q = make_registry()


# --- joins -------------------------------------------------------------


@q(
    "join_semi",
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with at least one order. Semi joins
    ship only the join key of the right side through the shuffle and
    never duplicate left rows — at 100 TB this replaces the
    join+distinct anti-pattern."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


@q(
    "join_outer",
    """WITH a AS (SELECT o_custkey AS custkey, COUNT(*) AS n_1995 FROM orders
                  WHERE year(o_orderdate) = 1995 GROUP BY 1),
            b AS (SELECT o_custkey AS custkey, COUNT(*) AS n_1996 FROM orders
                  WHERE year(o_orderdate) = 1996 GROUP BY 1)
       SELECT COALESCE(a.custkey, b.custkey) AS custkey,
              COALESCE(n_1995, 0) AS n_1995,
              COALESCE(n_1996, 0) AS n_1996
       FROM a FULL OUTER JOIN b USING (custkey)""",
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join of two year-sliced per-customer order counts —
    unmatched keys on BOTH sides, null-filled to zero. Both inputs are
    pre-aggregated before the join, so the shuffle carries one row per
    (customer, year) instead of raw orders; the outer join itself is a
    plain shuffled hash join on the same key partitioning."""
    o = load_table(spark, sf_dir, "orders")

    def year_counts(yr: int, alias: str) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == yr)
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.count(F.lit(1)).alias(alias))
        )

    a = year_counts(1995, "n_1995")
    b = year_counts(1996, "n_1996")
    return a.join(b, "custkey", "full_outer").select(
        "custkey",
        F.coalesce("n_1995", F.lit(0)).alias("n_1995"),
        F.coalesce("n_1996", F.lit(0)).alias("n_1996"),
    )


@q(
    "set_intersect_except",
    """SELECT 'both' AS tag, k FROM (
         SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT o_custkey AS k FROM orders)
       UNION ALL
       SELECT 'segment_only' AS tag, k FROM (
         SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
         EXCEPT
         SELECT o_custkey AS k FROM orders)""",
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct set semantics): BUILDING-segment
    customers split into those with and without orders. Catalyst plans
    both as aggregates over a shared key shuffle — same scale shape as
    a groupBy on the key; no row duplication ever crosses the wire."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    seg = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    ordered = o.select(F.col("o_custkey").alias("k"))
    both = seg.intersect(ordered).select(F.lit("both").alias("tag"), "k")
    only = seg.subtract(ordered).select(F.lit("segment_only").alias("tag"), "k")
    return both.unionByName(only)


@q(
    "join_anti",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 300000)""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no high-value (>300k) order.
    (Every customer in the testdata has SOME order, so the plain
    orphan check would be a vacuous 0-row key; the value filter keeps
    the anti-join genuinely exercised — 30 rows at sf0.01.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@q(
    "join_salted",
    """SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority""",
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-guarded equi-join: the build side (orders) is exploded
    with 8 salt values and the probe side (lineitem) picks a
    deterministic salt, so one hot orderkey spreads over 8 reducers
    instead of melting one. Result is provably identical to the plain
    join — the oracle IS the plain join. At local scale AQE's skew
    handling makes this a no-op; at 1000 executors with a power-law
    key it is the difference between minutes and a dead stage."""
    n_salt = 8
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.explode(F.array(*[F.lit(s) for s in range(n_salt)])).alias("salt")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(n_salt)).alias("salt"),
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
    )


@q(
    "asof_join",
    """SELECT c.event_id,
              strftime(MAX(v.ts), '%Y-%m-%d %H:%M:%S.%f') AS view_ts
       FROM (SELECT * FROM events WHERE event_type = 'click') c
       LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
         ON v.user_id = c.user_id AND v.ts <= c.ts
       GROUP BY c.event_id""",
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click matched to the latest view at-or-before
    it for the same user (DuckDB spells this ASOF JOIN; the oracle
    uses the equivalent MAX-over-inequality form).

    Spark-first plan: tag both sides, union, ONE window pass per user
    ordered by (ts, views-first) carrying last(view_ts) forward. Cost
    is a single shuffle on user_id — no inequality join, no per-row
    probe; this is the scale shape for "latest quote before trade"
    on billions of rows."""
    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    tagged = ev.filter(F.col("event_type").isin("click", "view")).withColumn(
        # views sort before clicks at identical ts so v.ts <= c.ts
        # semantics hold on ties
        "is_click", F.when(F.col("event_type") == "click", 1).otherwise(0)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.withColumn(
        "view_ts",
        F.last(F.when(F.col("is_click") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("is_click") == 1).select(
        "event_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
    )


@q(
    "range_join_bucketed",
    """SELECT e.event_id, COUNT(x.event_id) AS n_following
       FROM (SELECT * FROM events WHERE event_type = 'error') e
       LEFT JOIN events x
         ON x.user_id = e.user_id
        AND x.ts > e.ts AND x.ts <= e.ts + INTERVAL 1 HOUR
       GROUP BY e.event_id""",
)
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time-bucketing: events within 1 hour after each
    error, per user. A naive inequality join is a broadcast-nested-
    loop (O(n*m)); bucketing both sides to the hour and equi-joining
    on (user, bucket) with the probe side exploded to {h, h+1} turns
    it into a hash join whose per-bucket fan-in is bounded by the
    window length — the standard interval-join plan (Flink/Trino do
    the same internally)."""
    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    hour = lambda c: (F.unix_timestamp(c) / 3600).cast("bigint")  # noqa: E731
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
        "user_id",
        hour(F.col("ts")).alias("h"),
    )
    # probe side lands in bucket h and h+1 of the matching error
    probe = ev.select(
        F.col("event_id").alias("x_id"),
        F.col("ts").alias("x_ts"),
        "user_id",
        F.explode(
            F.array(hour(F.col("ts")), hour(F.col("ts")) - 1)
        ).alias("h"),
    )
    matched = (
        err.join(probe, ["user_id", "h"])
        .filter(
            (F.col("x_ts") > F.col("err_ts"))
            & (F.col("x_ts") <= F.col("err_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("err_id")
        .agg(F.count(F.lit(1)).alias("n_following"))
    )
    return (
        err.select("err_id")
        .join(matched, "err_id", "left")
        .select(
            F.col("err_id").alias("event_id"),
            F.coalesce("n_following", F.lit(0)).alias("n_following"),
        )
    )


# --- aggregation hierarchies ------------------------------------------


@q(
    "agg_cube",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
              COALESCE(l_linestatus, 'ALL') AS linestatus,
              COUNT(*) AS n
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: every combination of the grouping dimensions in one
    shuffle (rollup's lattice sibling)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
        )
    )


@q(
    "agg_grouping_sets",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
              COALESCE(l_linestatus, 'ALL') AS linestatus,
              COUNT(*) AS n
       FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — only the requested lattice nodes, no
    full cube expansion (cheaper when you need 2 of 2^k nodes)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return spark.sql(
        """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                  COALESCE(l_linestatus, 'ALL') AS linestatus,
                  COUNT(*) AS n
           FROM li_gs GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""
    )


# --- sampling / binning / bands ---------------------------------------


@q(
    "sample_hash",
    """SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
       FROM orders
       WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '19'""",
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% hash sample: md5 of the key, keep hex
    prefixes 00..19 (26/256 ≈ 10.2%). Unlike df.sample(), the subset
    is stable across runs, engines, partitionings, and retries —
    the property a reproducible eval-set split needs. Filter pushes
    to the scan; no shuffle at all."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 2)
        <= "19"
    ).select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))


@q(
    "sample_stratified",
    """SELECT doc_id, lang FROM documents
       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
             <= CASE WHEN lang = 'en' THEN '19' ELSE '7f' END""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample with per-stratum rates: ~10% of
    the dominant language, ~50% of everything else — the rebalancing
    a multilingual training mix does (downsample the head, keep the
    tail). Same md5-prefix determinism as sample_hash, so the split
    is reproducible across runs, engines, and partitionings; the rate
    lookup is a narrow CASE, the filter pushes into the scan, and
    there is no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    cutoff = F.when(F.col("lang") == "en", F.lit("19")).otherwise(F.lit("7f"))
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
        <= cutoff
    ).select("doc_id", "lang")


@q(
    "sample_weighted",
    """SELECT doc_id, n_chars,
              CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                   AS BIGINT) AS u48
       FROM documents
       WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) * 1000 < (n_chars + 1) * 281474976710656""",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted (PPS / Poisson) sample: each document is
    kept with probability proportional to its weight — here
    (n_chars+1)/1000, capped at 1 — the quality- or length-weighted
    subsample a curriculum builder draws (downstream estimators
    reweight by 1/p_i, Horvitz-Thompson). The uniform is the first 48
    md5 bits of the key as an INTEGER, and the inclusion test is pure
    integer arithmetic (u48 * 1000 < (w) * 2^48 — no ln/pow, whose
    libm last-ulp differences would reorder a top-k variant across
    engines), so the subset is bit-stable across runs, engines,
    partitionings, and retries, unlike df.sample(). Per-row filter
    only: pushes toward the scan, no shuffle, and at 100 TB it
    composes with any pre-filter without breaking determinism.
    Fixed-k weighted reservoirs (Efraimidis-Spirakis) trade this
    exactness for an ordering on float keys; PPS keeps the surface
    integer-exact."""
    d = load_table(spark, sf_dir, "documents")
    u48 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 12),
        16,
        10,
    ).cast("bigint")
    return d.select("doc_id", "n_chars", u48.alias("u48")).filter(
        F.col("u48") * 1000 < (F.col("n_chars") + 1) * F.lit(281474976710656)
    )


@q(
    "quantile_bins",
    """WITH th AS (
         SELECT quantile_cont(l_quantity, 0.25) AS p25,
                quantile_cont(l_quantity, 0.50) AS p50,
                quantile_cont(l_quantity, 0.75) AS p75
         FROM lineitem
       )
       SELECT CASE WHEN l_quantity <= p25 THEN 0
                   WHEN l_quantity <= p50 THEN 1
                   WHEN l_quantity <= p75 THEN 2
                   ELSE 3 END AS bin,
              COUNT(*) AS n,
              MIN(l_quantity) AS lo,
              MAX(l_quantity) AS hi
       FROM lineitem, th GROUP BY 1""",
)
def quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram WITHOUT a global NTILE window:
    one aggregate computes the exact quartile thresholds, a broadcast
    cross join + CASE assigns bins narrowly, one shuffle counts them.
    A global NTILE funnels every row through one task; this shape
    scales — at 100 TB swap percentile for approx_percentile and keep
    the plan. l_quantity is integer-valued, so the interpolated
    quartiles are float-exact in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    th = li.agg(
        F.percentile("l_quantity", 0.25).alias("p25"),
        F.percentile("l_quantity", 0.50).alias("p50"),
        F.percentile("l_quantity", 0.75).alias("p75"),
    )
    binned = li.crossJoin(F.broadcast(th)).withColumn(
        "bin",
        F.when(F.col("l_quantity") <= F.col("p25"), 0)
        .when(F.col("l_quantity") <= F.col("p50"), 1)
        .when(F.col("l_quantity") <= F.col("p75"), 2)
        .otherwise(3),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_quantity").alias("lo"),
        F.max("l_quantity").alias("hi"),
    )


@q(
    "histogram_bins",
    """SELECT CAST(FLOOR(l_extendedprice / 500) AS BIGINT) AS bin,
              COUNT(*) AS n
       FROM lineitem GROUP BY 1""",
)
def histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bin id = floor(x / width). One shuffle
    keyed on the bin — the building block for distribution profiling
    at scale (IEEE double division + floor is bit-identical across
    engines, so the oracle is exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 500).cast("bigint").alias("bin")
        ).agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "ntile_quartile",
    """SELECT o_orderkey,
              NTILE(4) OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) AS quartile
       FROM orders""",
)
def ntile_quartile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile banding via NTILE over a partitioned window (unique
    orderkey tiebreak keeps the assignment deterministic). Partitioned
    by priority, so no single-task global window."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select("o_orderkey", F.ntile(4).over(w).alias("quartile"))


# --- anomaly detection -------------------------------------------------


@q(
    "anomaly_zscore",
    """WITH s AS (
         SELECT user_id, AVG(value) AS m, STDDEV_SAMP(value) AS sd
         FROM events GROUP BY user_id
       )
       SELECT e.event_id FROM events e JOIN s USING (user_id)
       WHERE ABS(e.value - s.m) > 3 * s.sd""",
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key z-score outliers: |x - mean| > 3*stddev within each
    user. Two shuffles on user_id (agg + broadcast-able stats join);
    formulated multiplication-only — no division, no rounding — so
    the oracle comparison is exact."""
    ev = load_events(spark, sf_dir).select("event_id", "user_id", "value")
    stats = ev.groupBy("user_id").agg(
        F.avg("value").alias("m"), F.stddev_samp("value").alias("sd")
    )
    return (
        ev.join(F.broadcast(stats), "user_id")
        .filter(F.abs(F.col("value") - F.col("m")) > 3 * F.col("sd"))
        .select("event_id")
    )


# --- corpus term statistics -------------------------------------------


@q(
    "text_term_stats",
    """WITH tok AS (
         SELECT doc_id, unnest(string_split_regex(lower(trim(text, ' ')), '[ \\t\\n\\x0B\\f\\r]+')) AS term
         FROM documents
       )
       SELECT term,
              COUNT(DISTINCT doc_id) AS df,
              COUNT(*) AS tf
       FROM tok WHERE term <> ''
       GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 100""",
)
def text_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics (the integer core of TF-IDF): document
    frequency + total term frequency for common terms. The idf itself
    is ln(N/df) — left to the caller because it is a divided double
    (oracle-rounding hazard); df and tf carry all the information.
    One explode + one shuffle keyed on the term."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), "[ \\t\\n\\x0B\\f\\r]+")).alias("term")
    ).filter(F.col("term") != "")
    return (
        tok.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
        )
        .filter(F.col("df") >= 100)
    )


# --- partitioned sink --------------------------------------------------


@q(
    "sink_partitioned",
    """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
              COUNT(*) AS n,
              CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price_floor
       FROM orders GROUP BY 1""",
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+: hive-partitioned parquet sink (partitionBy year) and
    re-scan aggregating per partition. At scale this layout is what
    makes partition pruning possible — a year-filtered query reads
    1/Nth of the data; the re-read here proves the round-trip
    preserves both the partition column and row payloads."""
    out = str(sink_root() / "sink_partitioned")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    o.write.mode("overwrite").partitionBy("order_year").parquet(out)
    back = spark.read.parquet(out)
    # FLOOR before the bigint cast: Spark's double->bigint cast
    # truncates while DuckDB's rounds, so the floor pins both engines
    # to the same integer
    return back.groupBy("order_year").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor("o_totalprice").cast("bigint")).alias("sum_price_floor"),
    )


@q(
    "compact_files",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids
       FROM events""",
)
def compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip: fragment events into 64
    over-parallel part files (what a streaming sink or a 1000-task
    writer leaves behind), compact to target-sized files via
    sinks.compact_parquet, and prove the rewrite is lossless by
    re-aggregating row and key counts from the compacted copy. The
    file-count reduction itself is asserted in tests/test_sinks.py."""
    from .. import sinks

    frag = str(sink_root() / "compact_in")
    out = str(sink_root() / "compact_out")
    load_events(spark, sf_dir).repartition(64).write.mode("overwrite").parquet(frag)
    sinks.compact_parquet(spark, frag, out)
    back = spark.read.parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
    )


@q(
    "schema_evolution",
    """WITH v1 AS (SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice
                   FROM orders WHERE o_orderkey % 2 = 0),
            v2 AS (SELECT o_orderkey, o_custkey, o_totalprice
                   FROM orders WHERE o_orderkey % 2 = 1)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy_rows,
              CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
       FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)""",
)
def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written under
    different schema versions (v1 lacks o_totalprice; v2 added it) are
    scanned together with mergeSchema=true — legacy rows surface the
    new column as NULL, exactly the lake contract a years-old 100 TB
    table accumulates. Footer merging is a planning-time cost; the
    scan itself stays columnar and per-batch prunable."""
    o = load_table(spark, sf_dir, "orders")
    root = sink_root() / "schema_evo"
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_custkey")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v1.write.mode("overwrite").parquet(str(root / "batch_v1"))
    v2.write.mode("overwrite").parquet(str(root / "batch_v2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        str(root / "batch_v1"), str(root / "batch_v2")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_legacy_rows"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


# --- second wave: cumulative / argmax / json / ordered concat ---------


@q(
    "running_total",
    """SELECT o_custkey, o_orderkey,
              COUNT(*) OVER w AS n_so_far,
              CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) OVER w AS BIGINT) AS spend_floor
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer order count + floor-sum (integer-exact,
    so the oracle hash is stable). Partitioned window — no global
    single-task sort; per-partition state is O(1)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_so_far"),
        F.sum(F.floor("o_totalprice").cast("bigint")).over(w).alias("spend_floor"),
    )


@q(
    "agg_argmax",
    """SELECT o_orderpriority,
              arg_max(o_orderkey, o_totalprice) AS top_orderkey,
              ROUND(MAX(o_totalprice), 2) AS top_price
       FROM orders GROUP BY o_orderpriority""",
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax without a window: the orderkey of the priciest order per
    priority in ONE aggregation pass (max_by / arg_max). At scale this
    replaces the rank()=1 window idiom — no sort, map-side partial
    aggregation. Precondition: the max price is unique per group
    (verified for the testdata at every sf; with ties max_by is
    engine-arbitrary — add a struct tiebreak where the sort key
    admits one)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("top_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


@q(
    "json_extract_props",
    """SELECT CAST(props->>'$.k' AS BIGINT) AS k, COUNT(*) AS n
       FROM events GROUP BY 1""",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a field out of the JSON props
    column and aggregate on it. get_json_object stays JVM-side
    (Jackson, codegen) — no Python in the path; at 100 TB prefer
    from_json with an explicit schema so the parse happens once."""
    ev = load_events(spark, sf_dir)
    return (
        ev.select(F.get_json_object("props", "$.k").cast("bigint").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "agg_string_concat",
    """SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
       FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name""",
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: nations per region, comma-joined in
    sorted order (sort_array makes collect_list deterministic —
    collect order is not)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations")
        )
    )


@q(
    "window_sliding",
    """WITH e AS (
         SELECT (epoch_us(ts) // 1800000000) * 1800000000 AS b FROM events
       ),
       w AS (SELECT unnest([b, b - 1800000000]) AS ws FROM e)
       SELECT strftime(make_timestamp(CAST(ws AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS window_start,
              COUNT(*) AS n
       FROM w GROUP BY 1""",
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1 h wide, 30 min slide): each event
    lands in exactly 2 windows. Spark's window() generates the
    assignment inline (no join); the oracle unnests the same 2 bucket
    starts per event. Same groupBy(window) shape runs unchanged under
    Structured Streaming with a watermark."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "60 minutes", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )


@q(
    "sink_bucketed",
    """SELECT o.o_custkey, COUNT(*) AS n_orders,
              CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS spend_floor
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE c.c_acctbal > 0
       GROUP BY o.o_custkey""",
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table sink + co-located join: both sides written
    bucketed by the join key (8 buckets), then joined WITHOUT a
    shuffle — the scan's bucketing satisfies the join's distribution
    requirement (tests/test_sinks.py asserts no Exchange in the plan).
    At 100 TB this is THE layout decision: bucketing the fact table on
    its join key once turns every subsequent join/agg on that key into
    a shuffle-free stage."""
    out_o = str(sink_root() / "bucketed_orders")
    out_c = str(sink_root() / "bucketed_customer")
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", out_o)
        .saveAsTable("bdap_bucketed_orders")
    )
    (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal")
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", out_c)
        .saveAsTable("bdap_bucketed_customer")
    )
    o = spark.table("bdap_bucketed_orders")
    c = spark.table("bdap_bucketed_customer").filter(F.col("c_acctbal") > 0)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor("o_totalprice").cast("bigint")).alias("spend_floor"),
        )
    )


@q(
    "graph_degree",
    """WITH pairs AS (
"""
    + _NGRAM_PAIR_SQL
    + """
       ),
       ends AS (
         SELECT doc_a AS doc_id FROM pairs
         UNION ALL
         SELECT doc_b FROM pairs
       )
       SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id""",
    artifacts={"ngram_pairs"},
    fallback="graph_degree_lsh",
)
def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex degree over the near-dup similarity graph (the profiling
    step before clustering: degree distribution tells you whether the
    corpus has boilerplate blow-up). One union + one shuffle over the
    edge list."""
    from .dedup_q import ngram_pairs_cached

    edges = ngram_pairs_cached(spark, sf_dir)
    # explode both endpoints from each edge row — a union of two
    # selects over `edges` would execute the whole jaccard pipeline
    # twice (one run per branch), doubling the dominant cost
    ends = edges.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    return ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))


@q(
    "graph_triangles",
    """WITH pairs AS (
"""
    + _NGRAM_PAIR_SQL
    + """
       ),
       e AS (SELECT doc_a, doc_b FROM pairs)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
       FROM e xy
       JOIN e xz ON xz.doc_a = xy.doc_a AND xz.doc_b > xy.doc_b
       JOIN e yz ON yz.doc_a = xy.doc_b AND yz.doc_b = xz.doc_b""",
    artifacts={"ngram_pairs"},
    fallback="graph_triangles_capped",
)
def graph_triangles(
    spark: SparkSession, sf_dir: str, wedge_cap: int | None = None
) -> DataFrame:
    """Triangle count over the near-dup similarity graph — the density
    probe that tells CLIQUE boilerplate (template families, where
    transitive dedup is safe) from CHAIN drift (A~B~C with A!~C, where
    connected-component dedup over-merges). Degree and triangle count
    together are the standard pre-clustering diagnostic.

    Algorithm: edges arrive oriented (doc_a < doc_b from the pair
    pipeline), so each triangle x<y<z is counted exactly once by the
    wedge join (x,y)+(x,z: z>y) closed by the (y,z) edge probe — two
    shuffle joins on vertex keys, no DISTINCT, no double counting.

    This is the EXACT twin: its wedge work is inherently cubic in the
    largest near-clique (measured: 190 s at sf1skew, whose hot
    template family is ~2 400 docs / 2.9 M edges / ~2.3e9 real
    triangles — the output itself is cubic, no orientation trick
    avoids enumerating it). The scale path is
    ``graph_triangles_capped`` (degree-ordered orientation + per-
    vertex adjacency cap: 4.3 s on the same graph, bit-equal to this
    key at every driver scale). Rides the per-snapshot memoized pair
    list like the other graph consumers.

    WEDGE-WORK GUARD (VERDICT r7 #1): before planning the join, one
    cheap aggregation over the (already-checkpointed) edge artifact
    computes the EXACT row count of the wedge join — the edges arrive
    id-oriented, so it is sum over doc_a of outdeg*(outdeg-1)/2, not
    an estimate. Above ``TRIANGLE_WEDGE_BUDGET`` (override via
    ``wedge_cap``; 0 = unlimited for a deliberate oracle run) the key
    REFUSES with the capped tier named — the same probe-and-refuse
    discipline as dedup_embedding's block guard, so the declared-cubic
    exact twin cannot silently burn hours on a clique-bearing corpus
    (measured: sf1skew's 2 400-doc family is ~2.3e9 wedges / 153 s;
    sf3skew's ~6.2e10 wedges would be hours). Every driver/bench/
    uniform-probe scale passes untouched (sf3 uniform is 7 680 edges
    -> well under 1e6 wedges)."""
    from .dedup_q import ngram_pairs_cached

    e = ngram_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    cap = TRIANGLE_WEDGE_BUDGET if wedge_cap is None else wedge_cap
    if cap:
        from .dedup_q import audit_exceeds_budget

        stats = wedge_stats(e).collect()[0]
        wedges = stats["wedges"]
        if audit_exceeds_budget(
            int(wedges), float(stats["wedges_dbl"]), int(stats["max_outdeg"]), cap
        ):
            raise ScaleRefusal(
                f"graph_triangles: the id-oriented wedge join would "
                f"enumerate {wedges} wedge rows (> wedge budget {cap}); "
                "the exact twin is output-cubic in the largest near-"
                "clique by declared contract. Use graph_triangles_capped "
                "(degree-ordered orientation + adjacency cap, exact "
                "whenever every oriented out-degree <= cap) or pass "
                "wedge_cap=0 for a deliberate oracle run.",
                key="graph_triangles",
                measured=int(wedges),
                budget=cap,
                alternative="graph_triangles_capped",
            )
    # merge hints: all three sides are the edge-list artifact, whose
    # checkpoint-backed stats misreport as tiny (round-6 scale-probe
    # finding) — statically broadcasting the FULL edge list is exactly
    # the plan that dies on a 100 TB-scale graph
    xy, xz, yz = e.alias("xy"), e.alias("xz"), e.alias("yz")
    wedges = xy.hint("merge").join(
        xz.hint("merge"),
        (F.col("xz.doc_a") == F.col("xy.doc_a"))
        & (F.col("xz.doc_b") > F.col("xy.doc_b")),
    )
    closed = wedges.join(
        yz.hint("merge"),
        (F.col("yz.doc_a") == F.col("xy.doc_b"))
        & (F.col("yz.doc_b") == F.col("xz.doc_b")),
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def wedge_stats(e: DataFrame) -> DataFrame:
    """(n_edges, wedges) of an id-oriented edge frame in one
    aggregation: wedges = sum over doc_a of outdeg*(outdeg-1)/2 — the
    EXACT pre-filter row count of the triangle wedge join, not an
    estimate (edges arrive doc_a < doc_b, so out-adjacency under id
    orientation is exactly what the join enumerates). Pure int64:
    each term is even, so the halving shift is exact division, and
    the bound stays exact past 2^53. Shared by the
    ``graph_triangles`` refusal guard and the ``graph_wedge_audit``
    registry surface — one implementation, oracle-checked. Also
    returns ``max_outdeg`` and ``wedges_dbl`` (a float64 shadow sum)
    so the guard's budget comparison survives an int64 wrap past
    2^63 (ADVICE r8; see ``audit_exceeds_budget``) — the audit
    registry key projects those internals away."""
    deg = e.groupBy("doc_a").agg(F.count(F.lit(1)).alias("c"))
    return deg.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_edges"),
        F.coalesce(
            F.shiftright(
                F.sum(F.col("c").cast("bigint") * (F.col("c") - 1)), 1
            ),
            F.lit(0).cast("bigint"),
        ).alias("wedges"),
        F.coalesce(F.max("c"), F.lit(0)).cast("bigint").alias("max_outdeg"),
        F.coalesce(
            F.sum(F.col("c").cast("double") * (F.col("c") - 1)) / 2,
            F.lit(0.0),
        ).alias("wedges_dbl"),
    )


@q(
    "graph_wedge_audit",
    """WITH pairs AS (
"""
    + _NGRAM_PAIR_SQL
    + """
       ),
       d AS (SELECT doc_a, COUNT(*) AS c FROM pairs GROUP BY doc_a)
       SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_edges,
              CAST(COALESCE(SUM(c * (c - 1)), 0) // 2 AS BIGINT) AS wedges
       FROM d""",
    artifacts={"ngram_pairs"},
    fallback="graph_wedge_audit_lsh",
)
def graph_wedge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The triangle pre-flight audit as a first-class query (round 8):
    the exact wedge-join row count of ``graph_triangles``, computed
    from the out-degree distribution of the id-oriented edge artifact
    in one cheap aggregation. This is the number a pipeline checks
    BEFORE scheduling exact triangle counting — the refusal guard in
    ``graph_triangles`` consumes the same aggregate (measured round 8:
    13 wedges at sf0.1, <1e6 at sf3 uniform, ~2.3e9 at sf1skew's
    near-clique where the exact join costs 153 s, ~6.2e10 at sf3skew
    — hours). Exposing it oracle-checked hash-verifies the guard's
    arithmetic against DuckDB, the same discipline as
    ``shingle_df_audit`` for the evidence build."""
    from .dedup_q import ngram_pairs_cached

    e = ngram_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    return wedge_stats(e).select("n_edges", "wedges")


# Wedge budget for the EXACT triangle twin's probe-and-refuse guard:
# 2e8 wedge-join rows is ~15 s of local join work — an order above any
# uniform-corpus probe scale (sf3: 7 680 edges, < 1e6 wedges) and an
# order below the sf1skew clique (~2.3e9 wedges, 153 s) whose silent
# burn the guard exists to stop.
TRIANGLE_WEDGE_BUDGET = 200_000_000

# Per-vertex adjacency cap for the capped triangle tier: the wedge
# fan-out of any vertex is bounded at CAP^2 regardless of its degree,
# so total wedge work is <= n_vertices * CAP^2 — the BUCKET_CAP
# analogue for triangle counting. 64 is far above every driver-scale
# degree (exact there) while bounding a 2 400-member near-clique's
# 2.3e9-wedge enumeration (measured 190 s at sf1skew) to ~10M.
TRIANGLE_ADJ_CAP = 64


@q(
    "graph_triangles_capped",
    """WITH pairs AS (
"""
    + _NGRAM_PAIR_SQL
    + f"""
       ),
       e AS (SELECT doc_a, doc_b FROM pairs),
       deg AS (SELECT v, COUNT(*) AS d FROM (
                 SELECT doc_a AS v FROM e UNION ALL SELECT doc_b AS v FROM e
               ) GROUP BY v),
       dir AS (SELECT
                 CASE WHEN da.d < db.d OR (da.d = db.d AND e.doc_a < e.doc_b)
                      THEN e.doc_a ELSE e.doc_b END AS src,
                 CASE WHEN da.d < db.d OR (da.d = db.d AND e.doc_a < e.doc_b)
                      THEN e.doc_b ELSE e.doc_a END AS dst,
                 CASE WHEN da.d < db.d OR (da.d = db.d AND e.doc_a < e.doc_b)
                      THEN db.d ELSE da.d END AS dd
               FROM e
               JOIN deg da ON da.v = e.doc_a
               JOIN deg db ON db.v = e.doc_b),
       adj AS (SELECT src, dst, dd FROM dir
               QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY dd, dst)
                       <= {TRIANGLE_ADJ_CAP})
       SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
       FROM adj a1
       JOIN adj a2 ON a2.src = a1.src
                  AND (a2.dd > a1.dd OR (a2.dd = a1.dd AND a2.dst > a1.dst))
       JOIN adj a3 ON a3.src = a1.dst AND a3.dst = a2.dst""",
    artifacts={"ngram_pairs"},
    fallback="graph_triangles_lsh",
)
def graph_triangles_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-bounded triangle count: degree-ordered orientation + a
    per-vertex adjacency cap — the scale path next to the exact
    ``graph_triangles`` twin, the same exact-twin/capped-tier split as
    `dedup_embedding`/`dedup_semantic`.

    Degree-ordered orientation (each edge points to its higher-
    (degree, id) endpoint — the classic triangle-enumeration trick)
    already kills the hub-star blow-up: a zipf hub's fan-out under id
    ordering is its full adjacency squared with zero triangles to
    show for it, while under degree ordering the hub absorbs in-edges
    and fans out nothing. What orientation cannot fix is a true
    near-CLIQUE (the sf1skew hot template family: ~2 400 docs, 2.9 M
    edges, ~2.3e9 real triangles — measured 190 s), because the
    output itself is cubic in the clique size. The adjacency cap
    bounds that: each vertex keeps its {TRIANGLE_ADJ_CAP} lowest-rank
    out-neighbors, so wedge work is <= n * CAP^2 and the count becomes
    a deterministic truncation LOWER BOUND — exact whenever every
    out-degree is <= CAP (all driver scales: max degree there is far
    below {TRIANGLE_ADJ_CAP}, so this key equals the exact twin and
    stays oracle-green; the DuckDB oracle applies the identical
    orientation + QUALIFY cap, so the hash-compare is exact at every
    scale, capped or not).

    100 TB: two shuffles on vertex keys for degrees + orientation,
    one bounded per-src window (partition size <= degree, never the
    corpus), then the same MERGE-hinted SMJ wedge pipeline as the
    exact twin — no broadcast of checkpoint-backed sides (round-6
    rule), no CartesianProduct, per-task memory O(CAP) rows."""
    from .dedup_q import ngram_pairs_cached

    e = ngram_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    return count_triangles_capped(e, TRIANGLE_ADJ_CAP)


@q("graph_triangles_lsh", artifacts={"minhash_pairs"})  # rows-only: LSH edge set has no portable-SQL oracle
def graph_triangles_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the BANDED-MINHASH near-dup graph — the
    END-TO-END scale path, closing the gap the round-9 sf3skew
    full-registry run exposed: ``graph_triangles_capped`` bounds the
    COUNTING work, but its input edge list is the exact evidence join,
    which (correctly) refuses at sf3skew's 6.9e8 pairs_bound — so at
    exactly the adversarial scale the capped tier exists for, it had
    no edges to count. This key builds its edges from
    ``minhash_pairs_cached`` instead (BUCKET_CAP banding + exact-
    Jaccard verify, measured FLAT through the 9x hot-family pair
    blowup, 0.05 s at sf3skew) and counts with the same degree-
    ordered, adjacency-capped kernel — every stage bounded, no
    evidence build anywhere in the lineage, so graph stats stay
    servable on the corpus where every exact tier refuses (measured
    at sf3skew: 20.8 s cold including the full signature/banding
    build, 0.93 s warm, vs the exact path's refused 6.2e10-wedge
    bill).

    Quality contract: LSH edges are a verified SUBSET of the exact
    pair set (banding can miss a pair, never invent one), and capping
    only ever drops wedges, so the count is a deterministic LOWER
    BOUND of the true triangle count — equal to ``graph_triangles``
    wherever banding recall is 1 and degrees are under the cap (every
    driver scale; equality pinned in
    tests/test_boundaries.py::test_triangles_lsh_matches_exact_at_driver_scale)."""
    from .dedup_q import minhash_pairs_cached

    e = minhash_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    return count_triangles_capped(e, TRIANGLE_ADJ_CAP)


@q("graph_wedge_audit_lsh", artifacts={"minhash_pairs"})  # rows-only: LSH edges
def graph_wedge_audit_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight pricing for the LSH triangle path (VERDICT r9 #2):
    at sf3skew ``graph_wedge_audit`` refuses — it prices the exact
    wedge join but CONSUMES the exact evidence edge list, which the
    pairs-budget guard correctly declines to build there — so
    ``graph_triangles_lsh``, the one graph key still servable at that
    scale, ran unpriced. This audit prices it over its ACTUAL input:
    the banded-minhash edge artifact (BUCKET_CAP bounded, measured
    flat through the skew decades), under the SAME degree-ordered
    orientation the capped kernel enumerates (``degree_oriented_edges``
    is shared code, not a parallel formula).

    One row: ``n_edges``; ``wedges`` = Σ_src C(outdeg, 2), the exact
    wedge-join row count an UNCAPPED degree-oriented count would
    enumerate on these edges (the bill the adjacency cap bounds); and
    ``wedges_capped`` = Σ_src C(min(outdeg, {TRIANGLE_ADJ_CAP}), 2),
    the exact row count of ``graph_triangles_lsh``'s a1⨝a2 wedge join
    — so a pipeline checks this number BEFORE scheduling the count,
    the same discipline as every other guard input. Both sums are
    pure int64 (even terms, exact shift-halving) with the float64
    shadow kept internal. wedges >= wedges_capped always, equality
    exactly when every oriented out-degree <= the cap (pinned with
    the actual join row count in tests/test_boundaries.py). Cost:
    the degree aggregation + orientation joins — two shuffles on
    vertex keys over the memoized edge artifact, nothing quadratic.
    Rows-only driver check: the LSH edge set has no portable-SQL
    oracle, but the identical wedge arithmetic is hash-verified by
    ``graph_wedge_audit`` against DuckDB on the exact edge set."""
    from .dedup_q import minhash_pairs_cached

    e = minhash_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    outdeg = (
        degree_oriented_edges(e)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "cc",
            F.least(F.col("c"), F.lit(TRIANGLE_ADJ_CAP)).cast("bigint"),
        )
    )
    return outdeg.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_edges"),
        F.coalesce(
            F.shiftright(
                F.sum(F.col("c").cast("bigint") * (F.col("c") - 1)), 1
            ),
            F.lit(0).cast("bigint"),
        ).alias("wedges"),
        F.coalesce(
            F.shiftright(F.sum(F.col("cc") * (F.col("cc") - 1)), 1),
            F.lit(0).cast("bigint"),
        ).alias("wedges_capped"),
    )


@q("graph_degree_lsh", artifacts={"minhash_pairs"})  # rows-only: LSH edge set has no portable-SQL oracle
def graph_degree_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex degree over the BANDED-MINHASH near-dup graph — the
    bounded tier ``graph_degree`` routes to (round 10): the exact
    twin's edge list is the evidence join, which correctly refuses at
    sf3skew, so the degree-distribution profile (the FIRST thing a
    pipeline wants on a boilerplate-suspect corpus) was unservable at
    exactly the scale that makes it interesting. Same one-explode +
    one-shuffle shape as ``graph_degree``, edges from
    ``minhash_pairs_cached`` (BUCKET_CAP banding, measured flat
    through the skew decades). LSH edges are a verified SUBSET of the
    exact pair set, so every degree is a lower bound — equal wherever
    banding recall is 1 (every driver scale; pinned in
    tests/test_router.py)."""
    from .dedup_q import minhash_pairs_cached

    edges = minhash_pairs_cached(spark, sf_dir)
    ends = edges.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
    return ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))


def degree_oriented_edges(e: DataFrame) -> DataFrame:
    """(doc_a < doc_b undirected edges) -> (src, dst, dd): each edge
    pointed at its higher-(degree, id) endpoint, ``dd`` = the dst's
    degree — the classic triangle-enumeration orientation (kills the
    hub-star wedge blow-up; see ``graph_triangles_capped``). Shared
    front half of the capped count kernel and the wedge audits, so the
    audit prices EXACTLY the orientation the kernel enumerates."""
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .unionAll(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = e.join(
        deg.select(F.col("v").alias("doc_a"), F.col("d").alias("da")).hint("merge"),
        "doc_a",
    ).join(
        deg.select(F.col("v").alias("doc_b"), F.col("d").alias("db")).hint("merge"),
        "doc_b",
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return ed.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
    )


def capped_adjacency(dird: DataFrame, cap: int) -> DataFrame:
    """Keep each src's ``cap`` lowest-(dd, dst) out-neighbors — the
    per-vertex adjacency cap that bounds wedge work at n * cap^2. A
    bounded per-src window (partition size <= degree), never the
    corpus."""
    return (
        dird.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("src").orderBy("dd", "dst")),
        )
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )


def count_triangles_capped(e: DataFrame, cap: int) -> DataFrame:
    """Degree-oriented, adjacency-capped triangle count over an edge
    frame (doc_a < doc_b, one row per undirected edge). Exact whenever
    every oriented out-degree is <= cap; deterministic truncation
    lower bound otherwise. See ``graph_triangles_capped``.

    The capped adjacency is materialized ONCE with an eager
    localCheckpoint before the three-way self-join (optimization r13,
    guide §2.4/§3.3): the three aliases previously re-planned the
    whole orientation pipeline (degree aggregation + two merge joins
    + the per-src cap window — ~4 exchanges each) per join arm, 18
    Exchange nodes total, with no ReusedExchange because each arm's
    required ordering differs. Checkpointing truncates the plan to
    three scans of an n*cap-bounded frame (5 Exchange nodes in the
    captured plan dump; the same bounded-intermediate discipline as
    ``_pagerank_over``'s symdeg).

    Construction-time side effect (ADVICE r13 #2, documented): the
    eager checkpoint runs a Spark job when the DataFrame is BUILT, so
    even explain-only/schema-introspection callers pay one bounded
    adjacency materialization per construction — the same accepted
    trade as ``_pagerank_over``; memoize per (edge-artifact, cap) via
    snapshot_memo if that ever becomes a problem."""
    adj = capped_adjacency(degree_oriented_edges(e), cap).localCheckpoint(
        eager=True
    )
    a1, a2, a3 = adj.alias("a1"), adj.alias("a2"), adj.alias("a3")
    wedges = a1.hint("merge").join(
        a2.hint("merge"),
        (F.col("a2.src") == F.col("a1.src"))
        & (
            (F.col("a2.dd") > F.col("a1.dd"))
            | ((F.col("a2.dd") == F.col("a1.dd")) & (F.col("a2.dst") > F.col("a1.dst")))
        ),
    )
    closed = wedges.join(
        a3.hint("merge"),
        (F.col("a3.src") == F.col("a1.dst")) & (F.col("a3.dst") == F.col("a2.dst")),
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


# --- incremental ingest / skew profiling -------------------------------


@q(
    "merge_upsert",
    """WITH updates AS (
         SELECT o_orderkey, o_totalprice + 1000.0 AS totalprice,
                'updated' AS status, 2 AS version
         FROM orders WHERE o_orderkey % 10 = 0
       ),
       base AS (
         SELECT o_orderkey, o_totalprice AS totalprice,
                'base' AS status, 1 AS version
         FROM orders
       ),
       unioned AS (SELECT * FROM base UNION ALL SELECT * FROM updates)
       SELECT o_orderkey, totalprice, status FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                      ORDER BY version DESC) AS rn
         FROM unioned
       ) WHERE rn = 1""",
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 merge (upsert) without a mutable table format: union the
    base table with an update batch, keep the highest-version row per
    key via a keyed window. One shuffle on the merge key — the same
    plan a Delta/Iceberg MERGE compiles to for full-partition rewrites,
    expressed in pure DataFrame ops. The update batch here is a
    deterministic 10% slice with bumped prices, so the oracle verifies
    that updates win and non-updated rows survive.
    ref: init_db.sql:138-144 (INSERT ... ON CONFLICT) is the
    reference's single-row version of this."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.lit("base").alias("status"),
        F.lit(1).alias("version"),
    )
    # +1000.0 is an EXACT double op — a rounded multiply here would
    # hit the Spark-half-away vs DuckDB-half-even tie split
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 1000.0).alias("totalprice"),
        F.lit("updated").alias("status"),
        F.lit(2).alias("version"),
    )
    unioned = base.unionByName(updates)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("o_orderkey", "totalprice", "status")
    )


@q(
    "key_distribution",
    """SELECT bucket, COUNT(*) AS n FROM (
         SELECT substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 2) AS bucket
         FROM lineitem
       ) GROUP BY bucket""",
)
def key_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew profiler: hash every key into 256 md5
    buckets and count — the pre-flight diagnostic that tells you
    whether a key needs salting (join_salted) or AQE skew handling
    before you pay for a lopsided shuffle. md5 (not Spark's
    murmur3 hash()) so the bucketing is engine-portable and
    oracle-checkable; one partial-aggregated shuffle of 256 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.substring(
                F.md5(F.col("l_orderkey").cast("string").cast("binary")), 1, 2
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "scd2_history",
    """SELECT o_custkey, o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
              COALESCE(strftime(LEAD(o_orderdate) OVER w, '%Y-%m-%d'),
                       '9999-12-31') AS valid_to,
              CAST(CASE WHEN LEAD(o_orderdate) OVER w IS NULL
                        THEN 1 ELSE 0 END AS INT) AS is_current
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: per customer, each order opens a
    version valid until the next order's date (exclusive); the last
    version is current (open-ended 9999-12-31 sentinel). The lakehouse
    companion to merge_upsert's SCD-1: one key-partitioned window, no
    global ordering, scales with the key cardinality. Dates emitted as
    strings so the oracle surface stays VARCHAR/BIGINT/INT."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format(nxt, "yyyy-MM-dd"), F.lit("9999-12-31")).alias(
            "valid_to"
        ),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


_PR_ITER = 5
_PR_DAMP = 0.85
# fixed-point iteration state (VERDICT r4 #7): rank scaled at 1e9 as
# BIGINT, damping as the EXACT fraction 17/20 — every update is pure
# int64 arithmetic (DIV is floor division), so the emitted ranks are
# bit-identical across hosts, partitionings, and reruns, unlike a
# float power iteration whose sum order varies. Scale 1e9 (not 1e12)
# is the overflow budget: a hub vertex's inbound mass is bounded by
# the total n_vertices * _PR_SCALE, and 17 * SUM(c) must stay under
# 2^63 — at 1e9 that allows ~5e8 vertices of average rank converging
# on one hub before wrap (at 1e12 a ~5e5-neighbor hub — exactly the
# template-hub docs this key exists to surface — would wrap silently
# under non-ANSI int64). Truncation loses < 1e-9 per edge per round,
# still three orders under the 1e-6 equivalence bound.
_PR_SCALE = 10**9
_PR_NUM, _PR_DEN = 17, 20
_PR_BASE = _PR_SCALE - _PR_SCALE * _PR_NUM // _PR_DEN  # (1-d) * scale, exact

# iterative-frame sizing: each loop-invariant/loop-carried partition
# should hold about this many (int64 src, int64 dst, int64 deg) rows —
# ~12 MB — small enough to sort/join in memory, big enough that task
# overhead doesn't dominate. VERDICT r5 #6: the previous literal
# repartition(4)/coalesce(4) was an sf0.1-sized constant inside the key
# sold as the 100 TB iterative shape.
_ITER_ROWS_PER_PARTITION = 500_000


def _iter_partitions(spark: SparkSession, n_rows: int) -> int:
    """Partition count for the frames inside an iterative loop: enough
    that no partition exceeds ``_ITER_ROWS_PER_PARTITION`` rows, capped
    at the session's shuffle parallelism (the loop never needs MORE
    tasks than a normal shuffle would get), floor 1 so a near-empty
    graph doesn't shuffle into hundreds of empty files."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(cap, -(-n_rows // _ITER_ROWS_PER_PARTITION)))


@q("graph_pagerank", artifacts={"ngram_pairs"}, fallback="graph_pagerank_lsh")  # rows-only: iterative algorithm, not SQL-expressible
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup similarity graph (the canonical
    iterative-DataFrame algorithm; ranks surface the 'template hub'
    documents that connected-component dedup should keep). Undirected
    edges symmetrized, so every vertex has out-degree >= 1 and no
    dangling-mass correction is needed — the per-iteration update is
    exactly rank = (1-d) + d * sum(rank_in/deg_in), carried in
    fixed point: rank_e9 = (1-d)*1e9 + 17 * SUM(rank_e9 DIV deg)
    DIV 20. Truncation loses < 1e-9 per edge per round — far inside
    the 1e-6 equivalence bound the recall test pins — and buys a
    bit-stable rows-only surface (the driver hashes these rows; a
    float surface differed in the last ulps across hosts). See the
    scale-constant comment above for the int64 overflow budget.

    Scale shape: each iteration is one join + one shuffle on vertex id,
    and the lineage is CUT with an eager localCheckpoint per iteration
    — without it the plan doubles every round and round ~20 stops
    compiling. Exact-integer replica equivalence + float-reference
    tolerance in tests/test_recall.py."""
    from .dedup_q import ngram_pairs_cached

    edges = ngram_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    return _pagerank_over(spark, edges)


@q("graph_pagerank_lsh", artifacts={"minhash_pairs"})  # rows-only: LSH edges + iterative algorithm
def graph_pagerank_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the BANDED-MINHASH near-dup graph — the bounded
    tier ``graph_pagerank`` routes to (round 10): its exact twin's
    edge list is the evidence join, which correctly refuses at
    sf3skew's 6.9e8 pairs_bound, so at exactly the scale where hub
    ranking matters most the ranks were unservable. Identical
    fixed-point kernel (``_pagerank_over`` is shared code, not a
    parallel implementation) over ``minhash_pairs_cached`` — BUCKET_CAP
    banding + exact-Jaccard verify, measured flat through the skew
    decades. Quality contract: LSH edges are a verified SUBSET of the
    exact pair set, so ranks are the exact PageRank of the
    LSH-recovered subgraph — equal to ``graph_pagerank`` wherever
    banding recall is 1 (every driver scale; pinned in
    tests/test_router.py)."""
    from .dedup_q import minhash_pairs_cached

    edges = minhash_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    return _pagerank_over(spark, edges)


def _pagerank_over(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """The shared fixed-point PageRank kernel (see ``graph_pagerank``
    for the update rule, the int64 budget, and the checkpoint-per-
    iteration rationale); ``edges`` is any oriented (doc_a, doc_b)
    near-dup pair frame."""
    sym = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # degree pre-joined ONCE; the edge frame is the loop invariant, so
    # materialize it src-partitioned and every iteration's join
    # co-locates on it without re-running jaccard. Partition count is
    # DERIVED from the symmetrized edge count (the pairs frame is a
    # memoized checkpoint, so the count is a cheap scan), not a fixed
    # literal — see _iter_partitions above (VERDICT r5 #6)
    n_parts = _iter_partitions(spark, edges.count() * 2)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    symdeg = (
        sym.join(deg, "src").repartition(n_parts, "src").localCheckpoint(eager=True)
    )
    ranks = symdeg.select(F.col("src").alias("doc_id")).distinct().withColumn(
        "rank_e9", F.lit(_PR_SCALE).cast("bigint")
    )
    for _ in range(_PR_ITER):
        # symmetric graph: every vertex has >=1 in-edge, so the inbound
        # aggregate already covers the whole vertex set — no left join
        # back onto a vertex frame needed
        # merge hint: both sides are checkpoint-backed (misreported
        # tiny stats — round-6 scale-probe finding), and at the scale
        # this key models, the rank frame is vertex-sized: a static
        # broadcast of it per iteration is the OOM path
        ranks = (
            symdeg.hint("merge")
            .join(ranks.withColumnRenamed("doc_id", "src").hint("merge"), "src")
            .select(
                F.col("dst").alias("doc_id"),
                F.expr("rank_e9 DIV out_deg").alias("c"),
            )
            .groupBy("doc_id")
            .agg(
                (
                    F.lit(_PR_BASE)
                    + F.expr(f"{_PR_NUM} * SUM(c) DIV {_PR_DEN}")
                ).cast("bigint").alias("rank_e9")
            )
            .coalesce(n_parts)
            .localCheckpoint(eager=True)
        )
    return ranks


@q(
    "join_hint_shuffle_hash",
    """SELECT o_orderkey, c_name
       FROM orders JOIN customer ON o_custkey = c_custkey
       WHERE o_totalprice > 400000""",
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-STRATEGY control: the same equi-join the planner would
    sort-merge, pinned to a shuffled hash join with the SHUFFLE_HASH
    hint. At scale this is the right call whenever one side fits a
    per-task hash map but not a broadcast — it skips BOTH sort passes
    (SMJ's dominant cost on wide rows) at the price of building the
    map. The hint surface (BROADCAST / MERGE / SHUFFLE_HASH /
    SHUFFLE_REPLICATE_NL) is how a user overrides stats-driven
    strategy when they know better; plan-asserted in
    tests/test_plans.py."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = load_table(spark, sf_dir, "customer")
    return o.join(c.hint("SHUFFLE_HASH"), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name"
    )


_BLOOM_CONFS = {
    # inject the runtime filter at test scale: the defaults gate on a
    # >=10 GB application-side scan, sized for the real clusters this
    # demonstrates for
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # no broadcast: a broadcastable build side needs no bloom filter
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@contextmanager
def bloom_demo_confs(spark: SparkSession):
    """Set ``_BLOOM_CONFS`` and restore the previous values on exit —
    the ONE save/set/restore used by both the registry key and the plan
    test, so the asserted plan always runs under the same confs as the
    key (a copy-pasted restore block drifting in one place would let
    the test assert a different session than the key executes in)."""
    prev = {k: spark.conf.get(k) for k in _BLOOM_CONFS}  # all have defaults
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy frame under ``join_bloom_runtime_filter`` — exposed
    separately so tests/test_plans.py can assert ``might_contain`` in
    the optimized plan while ``_BLOOM_CONFS`` are in effect (the key
    itself returns a checkpoint whose lineage no longer shows it)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 300000)
    )
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("bigint")
            ).cast("bigint").alias("rev_e2"),
        )
    )


@q(
    "join_bloom_runtime_filter",
    """SELECT l_returnflag, COUNT(*) AS n_lines,
              CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                            AS BIGINT)) AS BIGINT) AS rev_e2
       FROM lineitem, orders
       WHERE l_orderkey = o_orderkey
         AND o_orderpriority = '1-URGENT'
         AND o_totalprice > 300000
       GROUP BY l_returnflag""",
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME row-level filtering (Spark's bloom-filter join
    pruning): the selective orders leg builds a bloom filter over its
    o_orderkey set during planning, and Catalyst injects
    ``might_contain(xxhash64(l_orderkey))`` UNDER the lineitem scan —
    at 100 TB the fact side drops non-qualifying rows before the
    sort-merge shuffle instead of shuffling the full table and
    discarding ~88% of it at the join. This is the dynamic cousin of
    static partition pruning, and the right tool when the build side
    is selective but too big to broadcast.

    The injection thresholds default to cluster scale (>=10 GB
    application-side scan), so the key pins them down for the demo
    and RESTORES them after executing eagerly under the overridden
    confs (localCheckpoint — lazy execution would otherwise happen
    after the restore; same eager-result pattern as the sink keys).
    Plan-asserted in tests/test_plans.py via ``bloom_filtered_join``;
    the bloom filter is a may-contain prefilter, so results are
    byte-identical to the plain join and the oracle is the plain
    SQL."""
    with bloom_demo_confs(spark):
        return bloom_filtered_join(spark, sf_dir).localCheckpoint(eager=True)


@q(
    "sink_sorted",
    "SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price FROM orders",
)
def sink_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-CLUSTERED parquet layout (the CLUSTER BY of lake tables):
    repartitionByRange on the key + sortWithinPartitions before the
    write, so every output file owns a DISJOINT o_orderkey range and
    its parquet footer min/max become zone maps — a point or range
    predicate on the key prunes to one file at planning time, the
    file-level analogue of sink_partitioned's directory pruning (which
    only works for low-cardinality keys; range-clustering handles the
    high-cardinality ones). File-range disjointness is footer-verified
    in tests/test_boundaries.py."""

    out = str(Path(tempfile.mkdtemp(prefix="sink_sorted_", dir=sink_root())) / "orders_sorted")
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


@q(
    "variant_extract",
    """SELECT CAST(props->>'$.k' AS BIGINT) AS k,
              COUNT(*) AS n,
              CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
       FROM events
       WHERE CAST(props->>'$.k' AS BIGINT) IS NOT NULL
       GROUP BY 1""",
)
def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` shreds the JSON string ONCE into a binary variant,
    and every downstream access is a typed ``variant_get`` path read —
    the answer to json_extract_props' 100 TB caveat (get_json_object
    re-parses the string per extraction; variant parses once and
    field reads are O(path) over the encoded form, the same storage
    model Parquet variant shredding uses). Same aggregation surface
    as json_extract_props so the two parse strategies are directly
    comparable in BENCH output."""
    ev = load_events(spark, sf_dir)
    v = ev.select(F.parse_json("props").alias("v"))
    return (
        v.select(F.try_variant_get("v", "$.k", "bigint").alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
        )
    )


@q(
    "sink_zorder",
    """SELECT l_orderkey, l_partkey, l_suppkey,
              ROUND(l_extendedprice, 2) AS price
       FROM lineitem""",
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered parquet layout — multi-dimensional file
    skipping, the lakehouse OPTIMIZE ZORDER BY technique built from
    primitives: bucket both cluster keys into 8-bit ranks, interleave
    the bits into a Morton code (pure shift/or codegen), then
    range-partition + sort on the code before the write. Each output
    file then covers a small RECTANGLE of the (l_partkey, l_suppkey)
    plane, so footer min/max zone maps prune files for predicates on
    EITHER column — where a single-column sort (sink_sorted) prunes
    only its sort key and leaves the second column's ranges spanning
    every file. Two-column pruning is footer-verified in
    tests/test_sinks.py. The bucket bounds come from the parquet
    FOOTER statistics (optimization r14, guide §6) — the same exact
    min/max the previous scalar aggregation computed, read from
    row-group headers instead of a full corpus scan; at 100 TB this
    is the catalog-statistics lookup. A source without usable footer
    stats, or off the local file system, falls back to the one scalar
    min/max pass."""

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.round("l_extendedprice", 2).alias("price"),
    )
    stats = footer_bounds(spark, sf_dir, "lineitem", ("l_partkey", "l_suppkey"))
    if stats is not None:
        (p_lo, p_hi), (s_lo, s_hi) = stats["l_partkey"], stats["l_suppkey"]
    else:
        b = li.select(
            F.min("l_partkey").alias("p_lo"), F.max("l_partkey").alias("p_hi"),
            F.min("l_suppkey").alias("s_lo"), F.max("l_suppkey").alias("s_hi"),
        ).collect()[0]
        p_lo, p_hi, s_lo, s_hi = b.p_lo, b.p_hi, b.s_lo, b.s_hi
    bits = 8

    def rank(col: str, lo: int, hi: int):
        span = max(hi - lo, 1)
        return F.least(
            F.lit((1 << bits) - 1),
            F.floor((F.col(col) - lo) * (1 << bits) / (span + 1)).cast("int"),
        )

    px, sx = rank("l_partkey", p_lo, p_hi), rank("l_suppkey", s_lo, s_hi)
    morton = F.lit(0)
    for i in range(bits):
        bit_p = F.shiftright(px, i).bitwiseAND(F.lit(1))
        bit_s = F.shiftright(sx, i).bitwiseAND(F.lit(1))
        morton = morton + F.shiftleft(bit_p, 2 * i) + F.shiftleft(bit_s, 2 * i + 1)

    out = str(Path(tempfile.mkdtemp(prefix="sink_zorder_", dir=sink_root())) / "lineitem_z")
    (
        li.withColumn("_z", morton)
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


_STATS_COLS = ("s_suppkey", "s_nationkey")

_STATS_ORACLE = " UNION ALL ".join(
    f"""SELECT '{c}' AS col_name, '{m}' AS metric,
              CAST({expr.format(c=c)} AS VARCHAR) AS value FROM supplier"""
    for c in _STATS_COLS
    for m, expr in (
        ("min", "MIN({c})"),
        ("max", "MAX({c})"),
        ("num_nulls", "COUNT(*) - COUNT({c})"),
    )
)


@q("table_stats_cbo", _STATS_ORACLE)
def table_stats_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog column statistics — the input side of cost-based
    optimization: supplier is written as a managed table, ``ANALYZE
    TABLE ... COMPUTE STATISTICS FOR COLUMNS`` populates the metastore,
    and the key reads the stats BACK through ``DESCRIBE EXTENDED`` —
    so what the oracle checks is the catalog's view, not a recompute.
    min/max/num_nulls are exact (distinct_count is HLL-approximate and
    deliberately off the compare surface). At 100 TB these stats are
    what lets the planner pick broadcast sides, reorder joins, and
    estimate shuffle sizes without scanning; the companion pytest
    (tests/test_plans.py) asserts the exact rowCount actually lands on
    the relation the optimizer sees."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS bdap_stats_tbl")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(Path(wh) / "bdap_stats_tbl", ignore_errors=True)
    load_table(spark, sf_dir, "supplier").write.mode("overwrite").saveAsTable(
        "bdap_stats_tbl"
    )
    spark.sql(
        "ANALYZE TABLE bdap_stats_tbl COMPUTE STATISTICS FOR COLUMNS "
        + ", ".join(_STATS_COLS)
    )
    frames = []
    for c in _STATS_COLS:
        d = spark.sql(f"DESCRIBE EXTENDED bdap_stats_tbl {c}")
        frames.append(
            d.filter(F.col("info_name").isin("min", "max", "num_nulls")).select(
                F.lit(c).alias("col_name"),
                F.col("info_name").alias("metric"),
                F.col("info_value").alias("value"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


@q(
    "sink_partition_overwrite",
    """WITH base AS (SELECT CAST(year(o_orderdate) AS INT) AS order_year,
                            o_orderkey, o_totalprice
                     FROM orders)
       SELECT order_year,
              COUNT(*) AS n,
              CAST(SUM(CASE WHEN order_year = 1996
                            THEN CAST(FLOOR(o_totalprice * 2) AS BIGINT)
                            ELSE CAST(FLOOR(o_totalprice) AS BIGINT) END)
                   AS BIGINT) AS sum_price_floor
       FROM base GROUP BY order_year""",
)
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite — the incremental-mart write
    semantic: ``partitionOverwriteMode=dynamic`` makes an overwrite
    replace ONLY the partitions present in the incoming frame, where
    static mode (the default) would truncate the whole table first.
    The key writes the full year-partitioned mart, then overwrites
    just year=1996 with restated rows (prices doubled); the re-read
    must show 1996 restated AND every other year untouched — which is
    exactly what the oracle expresses. At 100 TB this is how a daily
    pipeline republishes one day of a years-deep mart without
    rewriting (or locking) the other thousand partitions. The conf is
    set per-write via option(), not session-wide."""
    out = str(sink_root() / "sink_partition_overwrite")
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderkey",
        "o_totalprice",
    )
    o.write.mode("overwrite").partitionBy("order_year").parquet(out)
    restated = o.filter(F.col("order_year") == 1996).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    (
        restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("order_year")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("order_year").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor("o_totalprice").cast("bigint")).alias("sum_price_floor"),
    )


_DERBY_URL = "jdbc:derby:memory:bdap_marts;create=true"
_DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@q(
    "sink_jdbc_roundtrip",
    """SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal, 2) AS acctbal
       FROM customer WHERE c_nationkey = 3""",
)
def sink_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 + S10 LIVE: the customer mart written to a real JDBC
    database and read back with an equality filter — no longer just
    the no-driver-jar gate. The database is embedded Derby (the jar
    Spark ships for its Hive metastore, so this runs in any Spark
    distribution with zero extra dependencies; in-memory, per-JVM —
    executors and driver share it in local mode, and at cluster scale
    the url swaps to the real warehouse endpoint with everything else
    unchanged). The read-back pushes IsNotNull + EqualTo INTO the
    remote scan (plan-asserted in tests/test_sinks.py) — the JDBC
    source's predicate pushdown is the entire point of S10: the
    database does the filtering, Spark transfers only matching rows.
    ref: spark_data_processor.py:891-932 (pandas to_sql into
    PostgreSQL — driver-side and chunked, where this streams from
    executors)."""
    from .. import sinks
    from ..sources.readers import read_jdbc

    mart = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    sinks.write_jdbc(
        mart, _DERBY_URL, "bdap_customer_mart",
        properties=_DERBY_PROPS, audit_col=None,
    )
    back = read_jdbc(spark, _DERBY_URL, "bdap_customer_mart", _DERBY_PROPS)
    return back.filter(F.col("c_nationkey") == 3)
