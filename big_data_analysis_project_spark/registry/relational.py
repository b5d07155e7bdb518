"""Relational query keys (SURVEY.md §2.1-2.7, §2.12) over the driver
testdata, each with a DuckDB oracle.

Conventions shared with the oracles (FIXTURES.md §B):
* every computed column is aliased identically on both sides;
* double aggregates are rounded (2-4 dp) so sum-order nondeterminism
  can't flip the value hash;
* timestamps leave queries as 'yyyy-MM-dd[ HH:mm:ss]' strings — Spark
  session TZ is pinned UTC to match DuckDB's naive timestamps;
* deterministic tie-breaks on every rank/limit.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rates import per_100k
from ..operators import cleaning
from ..operators.cleaning import repair_swapped_columns
from ..operators.reshape import pivot_indicators, unpivot
from ..operators.windows import latest_per_key, topk_per_group
from ..plans.flagship import FLAGSHIP_ORACLE_SQL, revenue_by_nation
from ..sources.readers import load_events, load_table, read_csv
from ..sources.synthetic import _BASE_RATES, _POPULATIONS

from ._base import KEY_ARTIFACTS, local_values_df, make_registry, sink_root

QUERIES, ORACLE, q = make_registry()


# --- flagship ----------------------------------------------------------

QUERIES["flagship"] = revenue_by_nation
ORACLE["flagship"] = FLAGSHIP_ORACLE_SQL
# direct registration bypasses @q — record the empty artifact set so
# skip-warm tooling sees every key mapped (see _base.KEY_ARTIFACTS)
KEY_ARTIFACTS["flagship"] = frozenset()


# --- S: scans / sinks --------------------------------------------------


@q("scan_csv", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S6 round-trip: parquet -> headered CSV -> schema'd CSV scan.
    ref: tb_data_collection.py:53-126 (CSV source), spark_data_processor.py:638-651 (sink).
    """
    out = str(sink_root() / "scan_csv")
    load_table(spark, sf_dir, "nation").write.mode("overwrite").option("header", "true").csv(out)
    return read_csv(spark, out, schema="n_nationkey int, n_name string, n_regionkey int")


@q("scan_json", "SELECT r_regionkey, r_name FROM region")
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3: JSON source with explicit schema. ref: tb_data_collection.py:128-233."""
    out = str(sink_root() / "scan_json")
    load_table(spark, sf_dir, "region").write.mode("overwrite").json(out)
    return spark.read.schema("r_regionkey int, r_name string").json(out)


@q("sink_parquet", "SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS acctbal FROM supplier")
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: snappy parquet sink + re-scan. ref artifacts: data/processed/*.parquet."""
    out = str(sink_root() / "sink_parquet")
    (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal"))
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


@q(
    "sink_csv",
    "SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal FROM customer",
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: CSV sink (distributed write, not toPandas). ref: spark_data_processor.py:638-651."""
    out = str(sink_root() / "sink_csv")
    (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        .write.mode("overwrite")
        .option("header", "true")
        .csv(out)
    )
    return read_csv(spark, out, schema="c_custkey bigint, c_name string, acctbal double")


@q(
    "sink_orc",
    "SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS acctbal FROM supplier",
)
def sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + re-scan (engine addition: second columnar format,
    Spark-native reader/writer — same predicate-pushdown and
    column-pruning story as parquet, relevant where the lake already
    standardized on ORC). Round-trips the same projection as
    sink_parquet so the two formats share one oracle shape."""
    out = str(sink_root() / "sink_orc")
    (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("acctbal"))
        .write.mode("overwrite")
        .orc(out)
    )
    return spark.read.orc(out)


@q(
    "sink_jsonl",
    "SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal FROM customer",
)
def sink_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema'd re-scan (engine addition — the
    interchange format LLM-corpus pipelines actually emit/ingest).
    Distributed line-delimited write; the re-read pins an explicit
    schema, never inference (schema inference is a full extra pass at
    100 TB and type-unstable across batches)."""
    out = str(sink_root() / "sink_jsonl")
    (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        .write.mode("overwrite")
        .json(out)
    )
    return spark.read.schema("c_custkey bigint, c_name string, acctbal double").json(out)


_SYN_DIM = ", ".join(
    f"('{iso3}', {rate}, {float(_POPULATIONS[iso3])})" for iso3, rate in _BASE_RATES.items()
)

ORACLE_GEN_SYNTHETIC = f"""
WITH dim(iso3, base_rate, population) AS (VALUES {_SYN_DIM}),
years AS (SELECT UNNEST(range(2018, 2024)) AS year),
grid AS (
  SELECT iso3, base_rate, population, CAST(year AS INT) AS year,
         0.9 + ((year * 37 + ascii(substr(iso3, 1, 1)) * 11 + ascii(substr(iso3, 3, 1)) * 5) % 200) / 1000.0 AS noise
  FROM dim, years
)
SELECT iso3, year,
       ROUND(base_rate * power(0.98, year - 2018) * noise, 2) AS e_inc_100k,
       ROUND(base_rate * power(0.98, year - 2018) * noise * population / 100000.0, 0) AS e_inc_num
FROM grid
"""


@q("gen_synthetic", ORACLE_GEN_SYNTHETIC)
def gen_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: synthetic generator, harness variant with arithmetic
    pseudo-noise instead of rand(seed) so the oracle can reproduce it
    (FIXTURES.md: 'no RNG in harness'). Fully distributed: dimension
    cross-join x year range, column exprs only.
    ref: tb_data_collection.py:251-318."""
    # pure-JVM VALUES literal, not createDataFrame (optimization r14):
    # the pickled-row conversion job cost ~0.5 s per call — see
    # _base.local_values_df
    dim = local_values_df(
        spark,
        [(iso3, rate, float(_POPULATIONS[iso3])) for iso3, rate in _BASE_RATES.items()],
        "iso3 string, base_rate double, population double",
    )
    years = spark.range(2018, 2024).select(F.col("id").cast("int").alias("year"))
    grid = dim.crossJoin(years).withColumn(
        "noise",
        F.lit(0.9)
        + (
            (
                F.col("year") * 37
                + F.ascii(F.substring("iso3", 1, 1)) * 11
                + F.ascii(F.substring("iso3", 3, 1)) * 5
            )
            % 200
        )
        / F.lit(1000.0),
    )
    rate = F.col("base_rate") * F.pow(F.lit(0.98), F.col("year") - F.lit(2018)) * F.col("noise")
    return grid.select(
        "iso3",
        "year",
        F.round(rate, 2).alias("e_inc_100k"),
        F.round(rate * F.col("population") / F.lit(100_000.0), 0).alias("e_inc_num"),
    )


# --- F: filters / projections / scalar expressions ---------------------


@q(
    "filter_valid",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
       WHERE l_quantity IS NOT NULL AND l_quantity >= 0
         AND l_orderkey IS NOT NULL AND l_partkey IS NOT NULL""",
)
def filter_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: multi-predicate validity filter. ref: spark_data_processor.py:424-430."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").isNotNull()
        & (F.col("l_quantity") >= 0)
        & F.col("l_orderkey").isNotNull()
        & F.col("l_partkey").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@q(
    "filter_range",
    """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
       FROM lineitem
       WHERE l_shipdate IS NOT NULL
         AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 23:59:59'""",
)
def filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: null-safe range filter (pushed to the parquet scan).
    ref: spark_data_processor.py:460-464."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate").isNotNull()
        & F.col("l_shipdate").between("1996-01-01 00:00:00", "1997-12-31 23:59:59")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
    )


@q(
    "filter_isin",
    """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
       WHERE l_returnflag IN ('A', 'R')""",
)
def filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: set-membership filter. ref: spark_data_processor.py:471-479."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag").isin("A", "R")).select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )


@q(
    "filter_positive",
    """SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
       WHERE l_discount IS NOT NULL AND l_discount > 0
         AND l_orderkey IS NOT NULL""",
)
def filter_positive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: positivity filter (null-safe strict > 0, plus required-col
    non-null guard). ref: spark_data_processor.py:496-501. The
    predicate is a plain conjunction over scan columns, so it pushes
    to the parquet reader like F1-F3."""
    li = load_table(spark, sf_dir, "lineitem")
    return cleaning.filter_positive(
        li, "l_discount", required_cols=["l_orderkey"]
    ).select("l_orderkey", "l_linenumber", "l_discount")


@q(
    "filter_eq",
    """SELECT event_id, user_id, ROUND(value, 2) AS value FROM events
       WHERE event_type = 'purchase'""",
)
def filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/F: equality filter (the serving layer's WHERE k=%(k)s).
    ref: flask_api_server.py:261-285."""
    ev = load_events(spark, sf_dir)
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.round("value", 2).alias("value")
    )


@q("project", "SELECT c_custkey, c_name, c_mktsegment FROM customer")
def project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: column-subset projection (pruned at the scan).
    ref: spark_data_processor.py:603-609."""
    return load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


@q(
    "cast_int",
    """SELECT event_id, TRY_CAST(regexp_extract(props, '[0-9]+') AS INT) AS k
       FROM events""",
)
def cast_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: junk-tolerant string->int cast (regex-extracted from the
    JSON-ish props column). ref: spark_data_processor.py:454-457."""
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.regexp_extract("props", "[0-9]+", 0).try_cast("int").alias("k"),
    )


@q(
    "case_when",
    """SELECT c_custkey,
              CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'vehicle'
                   WHEN c_mktsegment = 'MACHINERY' THEN 'industrial'
                   WHEN c_mktsegment = 'BUILDING' THEN 'industrial'
                   ELSE 'consumer' END AS segment_group
       FROM customer""",
)
def case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: CASE WHEN value standardization. ref: spark_data_processor.py:509-514."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", "vehicle")
        .when(F.col("c_mktsegment") == "MACHINERY", "industrial")
        .when(F.col("c_mktsegment") == "BUILDING", "industrial")
        .otherwise("consumer")
        .alias("segment_group"),
    )


@q(
    "derive_rates",
    """WITH per_flag AS (
         SELECT l_returnflag, SUM(l_extendedprice * (1 - l_discount)) AS revenue
         FROM lineitem GROUP BY l_returnflag
       ), total AS (SELECT SUM(revenue) AS total_revenue FROM per_flag)
       SELECT l_returnflag,
              ROUND(revenue, 2) AS revenue,
              ROUND(CAST(CASE WHEN total_revenue > 0
                              THEN CAST(revenue * 100000 / total_revenue AS DECIMAL(12,2))
                              ELSE 0 END AS DOUBLE), 2) AS revenue_per_100k
       FROM per_flag, total""",
)
def derive_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: zero-guarded decimal rate derivation (the reference's
    per-100k formula over revenue shares, incl. the when/otherwise(0)
    decimal(12,2) widening). ref: spark_data_processor.py:567-592.

    Oracle-surface convention (FIXTURES.md §B / VERDICT r1 #1): the
    driver's value-hash normalizer serializes DECIMAL differently
    between Spark and DuckDB, so the *registry key* casts the rate to
    DOUBLE on both sides. Decimal typing stays authoritative in
    functions/rates.py where the golden-parity test needs it."""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    total = per_flag.select(F.sum("revenue").alias("total_revenue"))
    return per_flag.crossJoin(F.broadcast(total)).select(
        "l_returnflag",
        F.round("revenue", 2).alias("revenue"),
        F.round(per_100k("revenue", "total_revenue").cast("double"), 2).alias(
            "revenue_per_100k"
        ),
    )


@q(
    "null_fill",
    """SELECT o_orderkey,
              COALESCE(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END, 'UNKNOWN') AS status_filled,
              COALESCE(CASE WHEN o_totalprice < 1000 THEN NULL ELSE ROUND(o_totalprice, 2) END, 0.0) AS price_filled
       FROM orders""",
)
def null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: na.fill over synthesized nulls. ref: spark_data_processor.py:526,559."""
    o = load_table(spark, sf_dir, "orders")
    with_nulls = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("status_filled"),
        F.when(F.col("o_totalprice") < 1000, None)
        .otherwise(F.round("o_totalprice", 2))
        .alias("price_filled"),
    )
    return with_nulls.na.fill({"status_filled": "UNKNOWN", "price_filled": 0.0})


@q(
    "col_swap",
    """SELECT o_orderkey,
              CAST(EXTRACT(year FROM o_orderdate) AS INT) AS year,
              'e_stat_' || o_orderstatus AS indicator
       FROM orders""",
)
def col_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: data-driven column-swap repair. A deliberately broken frame
    (year cells carrying 'e_*' indicator names) is probed and repaired.
    ref: spark_data_processor.py:437-451."""
    o = load_table(spark, sf_dir, "orders")
    broken = o.select(
        "o_orderkey",
        # swapped on purpose: indicator values sit in `year` and vice versa
        F.concat(F.lit("e_stat_"), F.col("o_orderstatus")).alias("year"),
        F.year("o_orderdate").cast("string").alias("indicator"),
    )
    fixed = repair_swapped_columns(broken, col_a="year", col_b="indicator")
    return fixed.select(
        "o_orderkey", F.col("year").cast("int").alias("year"), "indicator"
    )


# --- P: reshape ---------------------------------------------------------

_PIVOT_ORACLE = """
WITH uniq AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, MAX(l_quantity) AS qty
  FROM lineitem GROUP BY 1, 2, 3
)
SELECT l_orderkey, l_linenumber,
       COALESCE(MAX(CASE WHEN l_returnflag = 'A' THEN qty END), 0) AS A,
       COALESCE(MAX(CASE WHEN l_returnflag = 'N' THEN qty END), 0) AS N,
       COALESCE(MAX(CASE WHEN l_returnflag = 'R' THEN qty END), 0) AS R
FROM uniq GROUP BY l_orderkey, l_linenumber
"""


@q("pivot_first", _PIVOT_ORACLE)
def pivot_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: long->wide pivot with first(value) under the uniqueness
    precondition (one row per group x pivot value; established here by
    a pre-aggregation because the synthetic lineitem repeats
    (orderkey, linenumber)), explicit value list so the plan is
    static. ref: spark_data_processor.py:523-526."""
    li = load_table(spark, sf_dir, "lineitem")
    uniq = li.groupBy("l_orderkey", "l_linenumber", "l_returnflag").agg(
        F.max("l_quantity").alias("l_quantity")
    )
    return pivot_indicators(
        uniq,
        group_cols=("l_orderkey", "l_linenumber"),
        pivot_col="l_returnflag",
        values=("A", "N", "R"),
        value_col="l_quantity",
    )


@q(
    "unpivot",
    f"""WITH wide AS ({_PIVOT_ORACLE})
       SELECT l_orderkey, l_linenumber, flag, quantity FROM (
         SELECT l_orderkey, l_linenumber, 'A' AS flag, A AS quantity FROM wide
         UNION ALL SELECT l_orderkey, l_linenumber, 'N', N FROM wide
         UNION ALL SELECT l_orderkey, l_linenumber, 'R', R FROM wide
       )""",
)
def unpivot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: melt the pivoted frame back to long. ref: tb_data_collection.py:92-95."""
    wide = pivot_first(spark, sf_dir)
    return unpivot(
        wide,
        ids=("l_orderkey", "l_linenumber"),
        values=("A", "N", "R"),
        var_name="flag",
        value_name="quantity",
    )


# --- J: joins -----------------------------------------------------------


@q(
    "join_left",
    """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice,
              c_name, COALESCE(c_mktsegment, 'NONE') AS mktsegment
       FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left equi-join + miss fill. ref: spark_data_processor.py:548-561."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"], "left").drop("c_custkey")
    return joined.withColumn("mktsegment", F.coalesce("c_mktsegment", F.lit("NONE"))).drop(
        "c_mktsegment"
    )


@q(
    "join_broadcast",
    """SELECT n_nationkey, n_name, r_name
       FROM nation JOIN region ON n_regionkey = r_regionkey""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: broadcast inner join against a small dimension.
    ref: flask_api_server.py:421-442 (coords lookup-join)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name", "r_name"
    )


# --- A: aggregations ----------------------------------------------------


@q(
    "agg_max_scalar",
    "SELECT strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_orderdate FROM orders",
)
def agg_max_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: global max as a one-row frame. ref: spark_data_processor.py:601."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_orderdate"))


@q(
    "groupby_agg",
    """SELECT l_returnflag, l_linestatus,
              ROUND(SUM(l_quantity), 2) AS sum_qty,
              ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
              ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
              ROUND(AVG(l_quantity), 4) AS avg_qty,
              ROUND(AVG(l_discount), 4) AS avg_disc,
              COUNT(*) AS count_order
       FROM lineitem
       GROUP BY l_returnflag, l_linestatus""",
)
def groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: groupBy + multi-agg with aliases (TPC-H Q1 shape — partial
    agg map-side, one row per group on the shuffle).
    ref: spark_data_processor.py:612-620."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@q(
    "count_group",
    "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag",
)
def count_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: grouped count. ref: spark_data_processor.py:736-741."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


@q(
    "agg_minmax",
    """SELECT strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_shipdate,
              strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_shipdate,
              MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
       FROM lineitem""",
)
def agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: min+max in one pass. ref: spark_data_processor.py:733."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_shipdate"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_shipdate"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@q(
    "count_distinct",
    "SELECT COUNT(DISTINCT l_suppkey) AS n_suppliers, COUNT(DISTINCT l_partkey) AS n_parts FROM lineitem",
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: exact distinct counts (approx_count_distinct is the 100 TB
    variant; exact here for oracle parity). ref: spark_data_processor.py:732."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@q(
    "agg_sql_stats",
    """SELECT COUNT(*) AS total_records,
              CAST(MIN(EXTRACT(year FROM o_orderdate)) AS INT) AS min_year,
              CAST(MAX(EXTRACT(year FROM o_orderdate)) AS INT) AS max_year,
              COUNT(DISTINCT o_custkey) AS n_customers
       FROM orders""",
)
def agg_sql_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the serving layer's stats endpoint in one pass.
    ref: flask_api_server.py:771-774."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.count(F.lit(1)).alias("total_records"),
        F.min(F.year("o_orderdate")).alias("min_year"),
        F.max(F.year("o_orderdate")).alias("max_year"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@q(
    "agg_median",
    """SELECT l_returnflag,
              ROUND(MEDIAN(l_quantity), 4) AS median_qty,
              ROUND(AVG(l_quantity), 4) AS avg_qty
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: grouped exact median (percentile_approx is the 100 TB
    variant). ref: init_db.sql:109-122 (PERCENTILE_CONT matview)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("median_qty"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


@q(
    "quality_report",
    """SELECT COUNT(*) AS total_records,
              COUNT(DISTINCT l_suppkey) AS distinct_keys,
              CAST(MIN(EXTRACT(year FROM l_shipdate)) AS INT) AS min_year,
              CAST(MAX(EXTRACT(year FROM l_shipdate)) AS INT) AS max_year,
              CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_qty,
              CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_discount
       FROM lineitem""",
)
def quality_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12: the reference's 8-action quality report as ONE
    conditional-aggregation pass. ref: spark_data_processor.py:726-754."""
    from ..operators.aggregates import quality_report

    li = load_table(spark, sf_dir, "lineitem").withColumn("year", F.year("l_shipdate"))
    return quality_report(
        li,
        key_col="l_suppkey",
        year_col="year",
        checks={
            "nonpositive_qty": F.col("l_quantity") <= 0,
            "high_discount": F.col("l_discount") > 0.05,
        },
    )


# --- W/O: windows, sorts, limits ----------------------------------------


@q(
    "window_rank",
    """WITH spend AS (
         SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spend
         FROM orders GROUP BY o_custkey
       )
       SELECT o_custkey, total_spend,
              RANK() OVER (ORDER BY total_spend DESC) AS spend_rank
       FROM spend""",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: RANK over a global ordering, two-phase (range-partitioned
    local rank + per-partition offsets) so no single task ever sees the
    full per-customer frame — the input here is one row per customer,
    which grows linearly with scale. ref: init_db.sql:96-102."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
    from ..operators.windows import global_rank

    return global_rank(spend, "total_spend", desc=True, alias="spend_rank").select(
        "o_custkey", "total_spend", "spend_rank"
    )


@q(
    "latest_per_key",
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
       FROM (
         SELECT o_custkey, o_orderkey, o_orderdate,
                ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         FROM orders
       ) WHERE rn = 1""",
)
def latest_per_key_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: latest row per key (horizontally-scalable window form of the
    reference's MAX(year) scalar subquery). ref: init_db.sql:102."""
    o = load_table(spark, sf_dir, "orders")
    return latest_per_key(
        o, ["o_custkey"], "o_orderdate", tiebreak_cols=["o_orderkey"]
    ).select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
    )


@q(
    "topk",
    """SELECT c_nationkey, c_custkey, ROUND(c_acctbal, 2) AS acctbal, nation_rank FROM (
         SELECT c_nationkey, c_custkey, c_acctbal,
                ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS nation_rank
         FROM customer
       ) WHERE nation_rank <= 3""",
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: top-3 per group (the frontend's declared-but-unimplemented
    rankings surface). ref: ComparisonTable.jsx:42-64."""
    c = load_table(spark, sf_dir, "customer")
    # tiebreak_cols matches the oracle's ROW_NUMBER tie-break on
    # c_custkey, keeping row_number deterministic on equal acctbal
    return topk_per_group(
        c.select("c_nationkey", "c_custkey", "c_acctbal"),
        group_cols=("c_nationkey",),
        order_col="c_acctbal",
        k=3,
        alias="nation_rank",
        tiebreak_cols=("c_custkey",),
    ).select(
        "c_nationkey", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "nation_rank"
    )


@q(
    "sort_desc",
    """SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
       FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
)
def sort_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: order by desc + limit — compiles to TakeOrderedAndProject
    (per-partition heap, no global sort). ref: spark_data_processor.py:609."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


@q(
    "sort_multi",
    """SELECT s_suppkey, s_nationkey, s_name, ROUND(s_acctbal, 2) AS acctbal
       FROM supplier ORDER BY s_nationkey, s_acctbal DESC, s_suppkey""",
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: multi-column sort (range-partition exchange).
    ref: spark_data_processor.py:620,627."""
    s = load_table(spark, sf_dir, "supplier")
    return s.orderBy("s_nationkey", F.desc("s_acctbal"), "s_suppkey").select(
        "s_suppkey", "s_nationkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )


@q(
    "limit_n",
    """SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 5""",
)
def limit_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: deterministic limit (ordered first — a bare limit is
    partition-order-dependent). ref: spark_data_processor.py:437."""
    o = load_table(spark, sf_dir, "orders")
    return o.orderBy("o_orderkey").limit(5).select("o_orderkey", "o_orderstatus")


# --- set ops (engine addition, SURVEY.md §2.8) ---------------------------


@q(
    "union_by_name",
    """SELECT * FROM (
         SELECT c_nationkey AS nationkey, 'customer' AS side, COUNT(*) AS n
         FROM customer GROUP BY c_nationkey
         UNION ALL
         SELECT s_nationkey AS nationkey, 'supplier' AS side, COUNT(*) AS n
         FROM supplier GROUP BY s_nationkey
       )""",
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: unionByName stacking two same-schema collections (the
    natural multi-source composition noted in SURVEY.md §2.8)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("side", F.lit("customer"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("side", F.lit("supplier"))
    )
    return c.unionByName(s).select("nationkey", "side", "n")


@q(
    "scan_csv_permissive",
    # the split is two deterministic constants (25 nation rows + 2
    # injected bad lines), so the oracle is the constant itself —
    # stricter than the former rows-only check
    "SELECT CAST(25 AS BIGINT) AS n_good, CAST(2 AS BIGINT) AS n_corrupt",
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingest with corrupt-record capture: malformed
    lines land in ``_corrupt_record`` instead of killing the load —
    on a 100 TB ingest a handful of mangled lines is a certainty, and
    the three Spark modes (PERMISSIVE / DROPMALFORMED / FAILFAST)
    are the engine's answer to it. Returns (n_good, n_corrupt) so the
    split is assertable; the dirty fixture derives deterministically
    from the nation dim (25 rows, built driver-side — a tiny-dim
    fixture, not a data-path collect) plus two injected bad lines
    (wrong arity; unparseable int)."""
    rows = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).collect()
    out = sink_root() / "scan_csv_permissive"
    out.mkdir(parents=True, exist_ok=True)
    lines = [f"{r.n_nationkey},{r.n_name},{r.n_regionkey}" for r in rows]
    lines.insert(3, "999,TOOFEW")  # wrong arity
    lines.insert(7, "notanint,BADLAND,xyz")  # unparseable ints
    (out / "dirty.csv").write_text("\n".join(lines) + "\n")
    df = spark.read.schema(
        "n_nationkey int, n_name string, n_regionkey int, _corrupt_record string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(str(out))
    # cache() before splitting on _corrupt_record: Spark documents that
    # the corrupt column is only reliably populated when the parsed
    # batch is materialized (referencing it alone on a lazy scan can
    # return nulls)
    df = df.cache()
    return df.agg(
        F.sum(F.col("_corrupt_record").isNull().cast("bigint")).alias("n_good"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("bigint")).alias("n_corrupt"),
    )


# revenue is summed in EXACT integer cents (FLOOR(x*100) per row is the
# same value on both engines; BIGINT addition is order-independent) so
# the ORDER BY / LIMIT 10 boundary can never flip on a .005-adjacent
# group the way a raw double sum — whose accumulation order differs
# between Spark and DuckDB — could. Cents divide back to a double only
# after the cut, where the same IEEE division runs on both engines.
_Q3_SQL = """
    SELECT l_orderkey,
           CAST(revenue_cents AS DOUBLE) / 100 AS revenue,
           orderdate
    FROM (
        SELECT l_orderkey,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                   AS revenue_cents,
               {datefmt} AS orderdate
        FROM bdap_customer c
        JOIN bdap_orders o ON c.c_custkey = o.o_custkey
        JOIN bdap_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate
    ) AS g
    ORDER BY revenue_cents DESC, l_orderkey
    LIMIT 10
"""


@q(
    "sql_tpch_q3",
    _Q3_SQL.format(datefmt="strftime(o_orderdate, '%Y-%m-%d')")
    .replace("bdap_customer c", "customer c")
    .replace("bdap_orders o", "orders o")
    .replace("bdap_lineitem l", "lineitem l"),
)
def sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority) adapted to the testdata schema,
    run as PURE ``spark.sql`` text over registered temp views — the
    SQL-first face of the engine: identical text modulo the date
    formatter runs on DuckDB as the oracle, and Catalyst plans the
    3-table join exactly as it does the DataFrame composition
    (pushed-down segment/date predicates, broadcast or SMJ by stats).
    Declarative parity between the two APIs is the point of the key."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"bdap_{t}")
    return spark.sql(_Q3_SQL.format(datefmt="date_format(o_orderdate, 'yyyy-MM-dd')"))


# Q1/Q6 share Q3's engine-exactness discipline: every money/quantity
# measure is summed as FLOOR(x*100) BIGINT cents (per-row FLOOR of the
# same IEEE double product is engine-identical; integer addition is
# order-independent), so the grouped sums hash-match with no float
# tolerance. Averages would be cents/count doubles — derivable by the
# caller, left out of the compare surface.
_Q1_SQL = """
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS sum_qty_e2,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_base_e2,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS sum_disc_e2,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
                         AS BIGINT)) AS BIGINT) AS sum_charge_e2,
           COUNT(*) AS count_order
    FROM bdap_lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


@q(
    "sql_tpch_q1",
    _Q1_SQL.replace("bdap_lineitem", "lineitem"),
)
def sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) as pure ``spark.sql`` text — the
    canonical one-table scan-heavy aggregation: whole-stage-codegen
    expression evaluation into a 4-group hash aggregate with map-side
    partials, the plan shape that dominates 100 TB fact-table scans.
    Identical SQL runs on DuckDB as the oracle."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("bdap_lineitem")
    return spark.sql(_Q1_SQL)


_Q6_SQL = """
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100) AS BIGINT))
                AS BIGINT) AS revenue_e2,
           COUNT(*) AS n_rows
    FROM bdap_lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


@q(
    "sql_tpch_q6",
    _Q6_SQL.replace("bdap_lineitem", "lineitem"),
)
def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue) as pure ``spark.sql`` text: the
    selective-scan benchmark — every predicate (ship-date range,
    discount band, quantity cap) must reach the parquet scan as a
    pushed filter plus row-group min/max pruning, then a single global
    sum with no shuffle beyond the final 1-row reduce. The date
    window is shifted to 1996 to overlap the testdata's 1995-2001
    shipdate range."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("bdap_lineitem")
    return spark.sql(_Q6_SQL)


@q(
    "sink_table",
    "SELECT p_partkey, p_name, p_brand, ROUND(p_retailprice, 2) AS price FROM part",
)
def sink_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed CATALOG table: saveAsTable into the session warehouse,
    read back through ``spark.table`` — the catalog face of the sink
    surface (path-based parquet/orc/jsonl keys above are the other).
    A managed table is what downstream SQL users actually query: it
    survives in the metastore with schema + stats, and at scale it is
    where table-format layers (Delta/Iceberg) plug in. Idempotence
    needs BOTH a catalog drop and a location cleanup: the default
    in-memory catalog forgets the table between sessions while its
    warehouse directory persists, and saveAsTable refuses a fresh
    managed table over a leftover location."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS bdap_sink_table")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(Path(wh) / "bdap_sink_table", ignore_errors=True)
    (
        load_table(spark, sf_dir, "part")
        .select(
            "p_partkey", "p_name", "p_brand",
            F.round("p_retailprice", 2).alias("price"),
        )
        .write.mode("overwrite")
        .saveAsTable("bdap_sink_table")
    )
    return spark.table("bdap_sink_table")


@q("scan_python_datasource", ORACLE_GEN_SYNTHETIC)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3 re-expressed on the Spark-4 PYTHON DATA SOURCE API: a
    custom registered source (one InputPartition per country — the
    parallel-fetch shape a real REST collector needs) yields the same
    deterministic grid as ``gen_synthetic``, so the two scan paths
    share one oracle (the source yields raw doubles; rounding happens
    here, JVM-side, where the mode is known to match the oracle).
    See sources/synthetic.py:SyntheticTBDataSource."""
    from ..sources.synthetic import register_synthetic_datasource

    fmt = register_synthetic_datasource(spark)
    return spark.read.format(fmt).load().select(
        "iso3",
        "year",
        F.round("raw_100k", 2).alias("e_inc_100k"),
        F.round("raw_num", 0).alias("e_inc_num"),
    )


@q(
    "scan_pyds_pushdown",
    f"SELECT * FROM ({ORACLE_GEN_SYNTHETIC}) WHERE iso3 = 'IDN'",
)
def scan_pyds_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter PUSHDOWN into the custom Python data source: the
    iso3 = 'IDN' predicate reaches the reader's ``pushFilters``, which
    prunes the partition list to ONE country before any row is
    produced — the REST-source analogue of parquet partition pruning
    (fetch one endpoint, not ten). tests/test_plans.py asserts the
    scan plans exactly one input partition."""
    from ..sources.synthetic import register_synthetic_datasource

    fmt = register_synthetic_datasource(spark)
    return (
        spark.read.format(fmt)
        .load()
        .filter(F.col("iso3") == "IDN")
        .select(
            "iso3",
            "year",
            F.round("raw_100k", 2).alias("e_inc_100k"),
            F.round("raw_num", 0).alias("e_inc_num"),
        )
    )


@q(
    "sink_python_datasource",
    "SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal FROM customer",
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write through a CUSTOM Python Data Source SINK (two-phase
    commit: per-partition temp files renamed into place only after
    every partition succeeded — see sinks.make_jsonl_sink_datasource)
    then re-read with a pinned schema. Same projection/oracle as
    sink_jsonl, so the custom-writer path is verified against the
    built-in writer's contract."""
    import shutil

    from ..sinks import make_jsonl_sink_datasource

    spark.dataSource.register(make_jsonl_sink_datasource())
    out = str(sink_root() / "sink_python_datasource")
    # the custom sink only implements append; per-run isolation is the
    # caller's job (the sf0.01 run's files otherwise pollute sf0.1's)
    shutil.rmtree(out, ignore_errors=True)
    (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        .write.format("bdap_jsonl_sink")
        .option("path", out)
        .mode("append")
        .save()
    )
    return spark.read.schema("c_custkey bigint, c_name string, acctbal double").json(out)
