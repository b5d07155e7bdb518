"""Sources: parquet/csv/json readers with explicit schemas.

Re-expresses the reference's ingestion surface (S1-S5, S10 in
SURVEY.md §2.1) as declarative Spark reads:

* S1 HTTP CSV (``tb_data_collection.py:53-126``) -> ``read_csv`` with an
  explicit schema (the HTTP fetch itself is an out-of-engine staging
  concern; anything file-like or mounted works as a path).
* S2/S3 REST JSON (``tb_data_collection.py:128-233``) ->
  ``read_json_records`` / ``spark.createDataFrame(rows, schema)``.
* S5 pandas->Spark with schema (``spark_data_processor.py:413-414``) ->
  schema-on-read, no pandas staging.
* S10 JDBC source w/ equality filters (``flask_api_server.py:261-285``)
  -> ``read_jdbc`` (gated: needs a driver jar on the classpath).

Scale note: every reader returns an unmaterialized DataFrame so
Catalyst sees filters/projections above it and pushes them into the
scan (verify with ``df.explain`` -> ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-testdata table (columnar parquet scan)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-tz TIMESTAMP
    regardless of how the parquet encodes it. Two encodings exist
    across driver testdata generations: TIMESTAMP(NANOS) (read as
    bigint via the nanosAsLong conf set in session.py) and
    timestamp[us] (read as TIMESTAMP_NTZ). The session tz is pinned to
    UTC (session.py), so the NTZ->LTZ cast is value-preserving and both
    paths agree exactly with DuckDB's native micros timestamps."""
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        # integer div, NOT (ts / 1000).cast("long"): the double division
        # loses precision at ~1.7e18 nanos (2^53 mantissa) and lands 1us
        # off DuckDB's exact truncation on ~2% of rows
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type != "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_raw_ts_type(spark: SparkSession, sf_dir: str) -> str:
    """The Spark dtype ``events.parquet``'s ts column reads as — needed
    by streaming keys, whose file source requires a user-supplied
    schema that must match the on-disk encoding."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes)["ts"]


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table loader, tolerant of both ts encodings the driver
    testdata has shipped (TIMESTAMP(NANOS) and timestamp[us]) — see
    normalize_events_ts. The conf fallback below only fires for
    sessions built outside get_spark (e.g. the driver's own harness
    session)."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    return normalize_events_ts(raw)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan with explicit schema (PERMISSIVE: junk rows become nulls
    and are handled by the cleaning operators, not by exceptions)."""
    reader = spark.read.option("header", str(header).lower()).option("mode", "PERMISSIVE")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # inference only for ad-hoc exploration; production paths pass a schema
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json_records(
    spark: SparkSession,
    records: list[dict],
    schema: T.StructType,
) -> DataFrame:
    """Thin ingestion adapter for REST-API-shaped row lists (S2/S3).

    The reference pulls WHO GHO / World Bank JSON with ``requests`` and
    builds pandas frames (``tb_data_collection.py:128-233``); here the
    already-fetched records land directly in a typed DataFrame.
    """
    return spark.createDataFrame(records, schema=schema)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    predicates: list[str] | None = None,
) -> DataFrame:
    """JDBC source (S10). Requires the vendor driver jar on the
    classpath; equality predicates belong in ``.filter`` above this —
    Spark pushes them into the remote query automatically."""
    if predicates:
        # partition predicates are ONLY accepted through the dedicated
        # reader API — as a generic .option() the key is silently
        # dropped by JDBCOptions and the full table comes back in one
        # partition (each predicate becomes one partition's WHERE; the
        # result is their union)
        return spark.read.jdbc(
            url, table, predicates=list(predicates),
            properties=dict(properties or {}),
        )
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()
