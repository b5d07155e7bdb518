"""Unit tests for the round-13 data-derived streaming partition
sizing (``streaming_q._stream_partitions``): state-store-bound drains
size to source bytes (floor 2, cap cores), Python-kernel drains size
to worker parallelism, and the env override wins everywhere. Pure
logic — the function touches only ``defaultParallelism`` and the
filesystem, so a stub session suffices (no JVM)."""

from __future__ import annotations

import types

import pytest

from big_data_analysis_project_spark.registry.streaming_q import (
    _STATE_PARTITION_TARGET_BYTES,
    _stream_partitions,
)


def _stub_spark(cores: int):
    sc = types.SimpleNamespace(defaultParallelism=cores)
    return types.SimpleNamespace(sparkContext=sc)


@pytest.fixture(autouse=True)
def _no_env_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)


def test_small_source_hits_the_floor(tmp_path):
    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    assert _stream_partitions(_stub_spark(32), str(tmp_path)) == 2


def test_large_source_scales_and_caps_at_cores(tmp_path):
    # a directory table of two part files, ~5 stores' worth of bytes
    d = tmp_path / "events.parquet"
    d.mkdir()
    half = (5 * _STATE_PARTITION_TARGET_BYTES) // 2
    for i in range(2):
        f = d / f"part-{i}.parquet"
        with f.open("wb") as fh:
            fh.truncate(half)  # sparse: size without writing 160 MB
    assert _stream_partitions(_stub_spark(32), str(tmp_path)) == 5
    # a small cluster caps at its core count
    assert _stream_partitions(_stub_spark(3), str(tmp_path)) == 3


def test_missing_source_falls_to_floor(tmp_path):
    assert _stream_partitions(_stub_spark(32), str(tmp_path)) == 2


def test_kernel_parallel_sizes_to_workers_not_state(tmp_path):
    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    # tiny state, but the per-group Python kernel wants parallelism
    assert (
        _stream_partitions(_stub_spark(32), str(tmp_path), kernel_parallel=True)
        == 16
    )
    assert (
        _stream_partitions(_stub_spark(4), str(tmp_path), kernel_parallel=True)
        == 4
    )


def test_env_override_wins_both_regimes(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "7")
    assert _stream_partitions(_stub_spark(32), str(tmp_path)) == 7
    assert (
        _stream_partitions(_stub_spark(32), str(tmp_path), kernel_parallel=True)
        == 7
    )


def test_typoed_env_override_falls_back(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "lots")
    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    assert _stream_partitions(_stub_spark(32), str(tmp_path)) == 2


# --- r14: events ts bounds from parquet footer statistics -------------
#
# stream_outer_join / stream_dedup_watermarked derive their staging
# split points from min/max(ts); the footer read replaces a full
# corpus scan (guide §6) and must be bit-identical to the aggregation
# for BOTH on-disk ts encodings, else the staged micro-batches — and
# with them the emitted row sets — would silently change.


def test_ts_bounds_footer_equals_aggregation(spark):
    """Also the integer columns sink_zorder buckets on, and the
    aggregation fallback for a corpus off the local file system."""
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.sources.snapshot import footer_bounds
    from big_data_analysis_project_spark.sources.readers import load_events, load_table

    from .conftest import SF_SMOKE, viewfs_mount

    got = footer_bounds(spark, SF_SMOKE, "events", ("ts",))["ts"]
    b = (
        load_events(spark, SF_SMOKE)
        .select(
            F.unix_micros(F.min("ts")).alias("lo"),
            F.unix_micros(F.max("ts")).alias("hi"),
        )
        .collect()[0]
    )
    assert got == (b.lo, b.hi)
    cols = ("l_partkey", "l_suppkey")
    b = load_table(spark, SF_SMOKE, "lineitem").select(
        *(f(c) for c in cols for f in (F.min, F.max))
    ).collect()[0]
    got = footer_bounds(spark, SF_SMOKE, "lineitem", cols)
    assert got == {"l_partkey": (b[0], b[1]), "l_suppkey": (b[2], b[3])}
    assert footer_bounds(spark, viewfs_mount(spark, SF_SMOKE), "lineitem", cols) is None


def test_ts_bounds_nanos_encoding_floors_to_micros(spark, tmp_path):
    """TIMESTAMP(NANOS) corpora (older testdata generations) read as
    bigint nanos and normalize with ``ts div 1000``; the footer path
    must floor-divide the same way."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.sources.snapshot import footer_bounds
    from big_data_analysis_project_spark.sources.readers import load_events

    ns = [1_704_067_200_123_456_789, 1_704_067_200_123_457_999, 1_706_000_000_000_000_001]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["click"] * 3),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}"] * 3),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    got = footer_bounds(spark, str(tmp_path), "events", ("ts",))["ts"]
    assert got == (min(ns) // 1000, max(ns) // 1000)
    b = (
        load_events(spark, str(tmp_path))
        .select(
            F.unix_micros(F.min("ts")).alias("lo"),
            F.unix_micros(F.max("ts")).alias("hi"),
        )
        .collect()[0]
    )
    assert got == (b.lo, b.hi)


def test_ts_bounds_fallback_paths(spark, tmp_path):
    """No stats / no file / pre-epoch values all return None so the
    caller's aggregation fallback fires instead of a wrong bound."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_analysis_project_spark.sources.snapshot import footer_bounds

    def bounds():
        return footer_bounds(spark, str(tmp_path), "events", ("ts",))

    # missing table
    assert bounds() is None
    # statistics disabled at write time
    tbl = pa.table({"ts": pa.array([1, 2, 3], pa.timestamp("us"))})
    pq.write_table(
        tbl, tmp_path / "events.parquet", write_statistics=False
    )
    assert bounds() is None
    # pre-epoch nanos: floor and Spark's truncating div diverge
    tbl = pa.table({"ts": pa.array([-1_500, 2_000], pa.timestamp("ns"))})
    pq.write_table(tbl, tmp_path / "events.parquet")
    assert bounds() is None


def test_ts_bounds_match_pyspark_datetime_roundtrip(spark):
    """stream_backfill_tail reconstructs the corpus max_ts datetime
    from the footer hi bound via TimestampType.fromInternal's exact
    recipe; it must equal the collected MAX(ts) value."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.sources.snapshot import footer_bounds
    from big_data_analysis_project_spark.sources.readers import load_events

    from .conftest import SF_SMOKE

    hi_us = footer_bounds(spark, SF_SMOKE, "events", ("ts",))["ts"][1]
    m_footer = datetime.fromtimestamp(hi_us // 1_000_000).replace(
        microsecond=hi_us % 1_000_000
    )
    m_collected = (
        load_events(spark, SF_SMOKE).agg(F.max("ts").alias("m")).collect()[0]["m"]
    )
    assert m_footer == m_collected
