"""Sink tests (S6-S8): parquet round-trip with partition pruning,
single-file CSV parity, JDBC gated on driver availability."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from big_data_analysis_project_spark.sinks import write_csv, write_jdbc, write_parquet
from big_data_analysis_project_spark.sources.readers import load_table

from .conftest import SF_SMOKE


@pytest.fixture()
def orders(spark):
    return load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", F.year("o_orderdate").alias("year")
    )


def test_write_parquet_partitioned_prunes(spark, orders, tmp_path):
    out = str(tmp_path / "orders_parq")
    write_parquet(orders, out, partition_by=["year"], audit_col="updated_at")
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    assert "updated_at" in back.columns
    # partition pruning: a year filter must reach PartitionFilters, and
    # the pruned scan must read fewer files than the full table
    one_year = back.filter(F.col("year") == 1995)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "year" in plan.split("PartitionFilters")[1][:80]


def test_write_parquet_upsert_keys(spark, orders, tmp_path):
    out = str(tmp_path / "orders_dedup")
    doubled = orders.union(orders)
    write_parquet(doubled, out, upsert_keys=["o_orderkey"])
    assert spark.read.parquet(out).count() == orders.count()


def test_write_csv_single_file(spark, orders, tmp_path):
    out = tmp_path / "orders_csv"
    write_csv(orders.limit(50), str(out), single_file=True)
    parts = list(out.glob("part-*.csv"))
    assert len(parts) == 1, f"expected one CSV part file, got {parts}"
    back = spark.read.option("header", "true").csv(str(out))
    assert back.count() == 50


def _jdbc_driver_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.sqlite.JDBC")
        return True
    except Exception:
        return False


def test_write_jdbc_or_gate(spark, orders, tmp_path):
    """With a driver jar: full write+read-back round trip. Without:
    the writer must surface the JVM's driver error, not silently
    no-op (the gate the docstring promises)."""
    url = f"jdbc:sqlite:{tmp_path / 'marts.db'}"
    if _jdbc_driver_available(spark):
        write_jdbc(orders.limit(20), url, "orders_mart", audit_col=None)
        back = spark.read.format("jdbc").option("url", url).option("dbtable", "orders_mart").load()
        assert back.count() == 20
    else:
        with pytest.raises(Exception, match="(?i)driver|sqlite|class"):
            write_jdbc(orders.limit(20), url, "orders_mart", audit_col=None)


def test_bucketed_join_has_no_shuffle(spark):
    """The whole point of sink_bucketed: both sides written bucketed
    by the join key, so the join + per-key agg plan must contain ZERO
    shuffle Exchanges — the scan's bucketing satisfies the
    distribution requirement end to end."""
    import re

    from big_data_analysis_project_spark.registry.extended_q import sink_bucketed
    from .conftest import SF_SMOKE

    df = sink_bucketed(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not re.findall(r"\bExchange\b", plan), plan
    assert df.count() > 0


def test_compact_parquet_reduces_files(spark, orders, tmp_path):
    from big_data_analysis_project_spark.sinks import compact_parquet

    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    orders.repartition(32).write.mode("overwrite").parquet(frag)
    before, after = compact_parquet(spark, frag, out)
    assert before == 32
    assert after < before  # tiny table -> single target-sized file
    assert after == 1
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    assert sorted(back.columns) == sorted(orders.columns)
    # the same source given as a file: URI lists the same files
    assert compact_parquet(spark, Path(frag).as_uri(), str(tmp_path / "c2")) == (32, 1)


def test_sink_zorder_prunes_both_dimensions(spark):
    """The Z-order writer's scale claim, footer-verified: a mid-range
    window predicate on EITHER cluster column must overlap only a
    strict subset of the files' footer min/max ranges — the
    multi-dimensional skipping a single-column sort cannot give (its
    secondary column spans every file)."""
    import pyarrow.parquet as pq

    from big_data_analysis_project_spark.registry import QUERIES

    from .conftest import SF_SMOKE

    df = QUERIES["sink_zorder"](spark, SF_SMOKE)
    files = sorted({r[0] for r in df.select(F.input_file_name()).distinct().collect()})
    assert len(files) >= 4, f"expected several z-range files, got {len(files)}"

    def col_ranges(idx):
        out = []
        for f in files:
            md = pq.ParquetFile(f.removeprefix("file://")).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            out.append((min(mins), max(maxs)))
        return out

    # schema order: l_orderkey, l_partkey, l_suppkey, price
    for idx in (1, 2):
        ranges = col_ranges(idx)
        lo = min(r[0] for r in ranges)
        hi = max(r[1] for r in ranges)
        # first-quarter window: a centered one would straddle the
        # z-curve's top-level split of this column and legitimately
        # touch both halves of the plane
        w_lo = lo + (hi - lo) * 1 // 8
        w_hi = lo + (hi - lo) * 2 // 8
        overlapping = sum(1 for a, b in ranges if not (b < w_lo or a > w_hi))
        assert overlapping < len(files), (
            f"column {idx}: window [{w_lo},{w_hi}] overlaps all {len(files)} files "
            f"— no skipping on this dimension: {ranges}"
        )


def test_jdbc_roundtrip_pushes_filters(spark):
    """The live Derby round-trip must push its equality predicate into
    the remote JDBC scan (the database filters, Spark transfers
    matching rows only) — a post-scan Filter over a full-table read
    defeats S10's purpose."""
    from big_data_analysis_project_spark.registry.extended_q import (
        sink_jdbc_roundtrip,
    )
    from .conftest import SF_SMOKE

    df = sink_jdbc_roundtrip(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "JDBCRelation" in plan, plan
    assert "EqualTo(c_nationkey,3)" in plan, plan


def test_read_jdbc_predicates_partition_and_filter(spark):
    """read_jdbc with partition predicates must return exactly the
    union of the per-predicate row sets, one partition per predicate —
    not the whole table (the regression: passing predicates as a
    generic option is silently ignored by JDBCOptions)."""
    from big_data_analysis_project_spark.registry.extended_q import (
        _DERBY_PROPS,
        _DERBY_URL,
        sink_jdbc_roundtrip,
    )
    from big_data_analysis_project_spark.sources.readers import read_jdbc

    from .conftest import SF_SMOKE

    sink_jdbc_roundtrip(spark, SF_SMOKE).collect()  # (re)create the table
    df = read_jdbc(
        spark, _DERBY_URL, "bdap_customer_mart", _DERBY_PROPS,
        # vendor-SQL fragments: Spark's JDBC writer creates QUOTED
        # (case-sensitive) columns, so Derby needs the quotes back
        predicates=['"c_nationkey" = 3', '"c_nationkey" = 5'],
    )
    assert df.rdd.getNumPartitions() == 2
    full = read_jdbc(spark, _DERBY_URL, "bdap_customer_mart", _DERBY_PROPS)
    expected = full.filter("c_nationkey IN (3, 5)").count()
    assert df.count() == expected > 0


@pytest.mark.parametrize("key", ["sink_sorted", "sink_zorder"])
def test_per_call_sink_copies_live_under_the_sink_root(spark, key):
    """The per-call output copy of each key is created under the
    module's sink root, which is deleted at exit, not as a bare temp
    dir that outlives the process."""
    from big_data_analysis_project_spark.registry import QUERIES
    from big_data_analysis_project_spark.registry._base import sink_root

    files = QUERIES[key](spark, SF_SMOKE).inputFiles()
    root = sink_root().resolve().as_uri()
    assert files and all(f.startswith(root + "/") for f in files), files
