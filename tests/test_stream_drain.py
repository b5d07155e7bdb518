"""The streaming drain contract (``streaming_q.run_stream`` / ``_start``):
state partitions are captured when a query starts, a drain leaves the
caller's session conf as it found it, staged inputs are deleted once
the drain ends, and stream results do not depend on the session time
zone."""

from __future__ import annotations

import tempfile
import threading
import time

import pytest
from pyspark.sql import functions as F

from big_data_analysis_project_spark.registry import QUERIES
from big_data_analysis_project_spark.registry.streaming_q import (
    _stream_partitions,
    _ts_bounds,
)
from big_data_analysis_project_spark.sources.readers import load_events
from big_data_analysis_project_spark.sources.snapshot import footer_bounds

from .conftest import SF_CORRECT, SF_SMOKE

# every stream_* key whose output is a memory sink (the foreachBatch
# marts and the batch audit are not)
MEMORY_SINK_KEYS = sorted(
    k
    for k in QUERIES
    if k.startswith("stream_")
    and k not in ("stream_foreach_batch", "stream_incremental", "stream_pair_audit")
)


def _last_progress(spark, key: str, query_name: str):
    """Run ``key`` and return the last progress report of its streaming
    query ``query_name``, as the caller's listener saw it."""
    from pyspark.sql.streaming import StreamingQueryListener

    lock = threading.Lock()
    ids, progress, ended = {}, {}, set()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            with lock:
                ids[event.id] = event.name

        def onQueryProgress(self, event):
            with lock:
                progress[event.progress.name] = event.progress

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with lock:
                ended.add(ids.get(event.id))

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        QUERIES[key](spark, SF_SMOKE).count()
        deadline = time.monotonic() + 30
        # listener events arrive asynchronously
        while query_name not in ended and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    assert query_name in ended, f"{key}: no termination event for {query_name}"
    return progress[query_name]


@pytest.mark.parametrize(
    "key, query_name, kernel_parallel",
    [
        ("stream_hourly", "bdap_stream_hourly", False),
        ("stream_sessionize", "bdap_stream_sessionize", True),
    ],
)
def test_state_partitions_are_captured_at_start(spark, key, query_name, kernel_parallel):
    """``_start`` sets the shuffle-partition count only around
    ``writer.start()``; the stateful operators must still run with it
    after the caller's value is restored."""
    want = _stream_partitions(spark, SF_SMOKE, kernel_parallel=kernel_parallel)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    # a session value the drain must not pick up
    spark.conf.set("spark.sql.shuffle.partitions", str(want + 3))
    try:
        ops = _last_progress(spark, key, query_name).stateOperators
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert ops
    assert [op.numShufflePartitions for op in ops] == [want] * len(ops)


@pytest.mark.parametrize("key", MEMORY_SINK_KEYS)
def test_drain_leaves_session_conf_unchanged(spark, key):
    before = dict(spark.conf.getAll)
    QUERIES[key](spark, SF_SMOKE).count()
    assert dict(spark.conf.getAll) == before


@pytest.mark.parametrize("key", ["stream_hourly", "stream_dedup_watermarked"])
def test_drain_deletes_its_stage(spark, tmp_path, monkeypatch, key):
    """A table stage (symlinks) and a batch-frame stage (written
    files) are both gone once the memory-sink drain returns."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert QUERIES[key](spark, SF_SMOKE).count() > 0
    assert not list(tmp_path.glob("bdap_*"))


def test_outer_join_is_time_zone_independent(spark):
    """The quartile staging split of ``stream_outer_join`` must read
    event time the way the session does: the corpus stores local
    (isAdjustedToUTC=false) timestamps, whose raw footer values are
    unix micros only under UTC. A new session does not inherit a
    runtime-set time zone, so the zone is set on it directly."""
    ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert footer_bounds(ny, SF_CORRECT, "events", ("ts",)) is None
    row = (
        load_events(ny, SF_CORRECT)
        .select(F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts")))
        .collect()[0]
    )
    assert _ts_bounds(ny, SF_CORRECT, load_events(ny, SF_CORRECT)) == (row[0], row[1])

    utc = sorted(map(tuple, QUERIES["stream_outer_join"](spark, SF_CORRECT).collect()))
    got = sorted(map(tuple, QUERIES["stream_outer_join"](ny, SF_CORRECT).collect()))
    assert utc and got == utc
