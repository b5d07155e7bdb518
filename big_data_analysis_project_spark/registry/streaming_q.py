"""Event-stream queries (Phase E / SURVEY.md §2.10).

The reference has no streaming (batch + a 30-day scheduler loop,
``tb_data_collection.py:352-393``); these are the engine additions a
stream-shaped events table implies. The family pattern: every
streaming shape ships as a PAIR — an oracle-checked batch twin
(tumbling/sliding/session windows, enrichment join, interval join)
plus the same body as a REAL Structured Streaming query, equivalence-
tested row-for-row against the twin in tests/test_recall.py because
streaming semantics aren't DuckDB-expressible. Stateful coverage:
windowed aggs, native session_window (batch + streaming),
applyInPandasWithState custom sessionization, dropDuplicates dedup,
stream-static broadcast enrichment, watermarked stream-stream
interval joins (inner, left outer, backfill tail), a foreachBatch
versioned-snapshot mart sink, and a checkpoint-sharing incremental
re-run over newly-arrived files (stream_incremental — the §2.10
scheduler contract).

Every file-backed stream key is a transform handed to ``run_stream``,
which owns the rest of the drain:

* staging — ``source`` is a table name, whose part files are
  symlinked (or, off the local file system, copied) flat into a
  per-call stage (events read through the one raw schema and
  ``normalize_events_ts``), or a list of batch frames,
  each written as one file with an ascending mtime and replayed one
  file per micro-batch;
* reading — ``query(read)`` gets a ``read()`` that returns a fresh
  streaming frame over the one stage, so both sides of a stream-stream
  join read one staged copy;
* sink and drain — a memory sink named ``name``, returned as
  ``spark.table(name)``, or a ``sink`` callable run as
  ``foreachBatch``; an availableNow trigger and a shuffle-partition
  count from ``_stream_partitions`` (both set in ``_start``);
* cleanup — the stage is deleted once the drain ends. Only outputs
  read lazily after the call (the foreachBatch mart, the incremental
  mart) live on, under the exit-cleaned ``sink_root()``.

Drains run in the caller's session, not in ``spark.newSession()``: a
new session's memory-sink view raises AnalysisException from the
caller's ``spark.table``, the caller's StreamingQueryListener sees
none of its progress events, and it does not inherit a runtime-set
session time zone. So the one session-conf write is narrowed instead:
``_start`` sets ``spark.sql.shuffle.partitions`` only around
``writer.start()``, which captures it for the query's lifetime.

``stream_python_source`` keeps its own poll-to-count loop: its source
never ends, so it cannot drain under availableNow.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import env_int
from ..sources.readers import (
    events_raw_ts_type,
    load_events,
    load_table,
    normalize_events_ts,
)
from ..sources.snapshot import (
    copy_to_local,
    footer_bounds,
    footer_rows,
    local_dir,
    parquet_files,
    table_bytes,
    table_path,
)

from ._base import ScaleRefusal, make_registry, sink_root
from ._memo import register_cache

QUERIES, ORACLE, q = make_registry()


# ~bytes of source data one state store should own before another
# partition pays off; far below this, per-batch delta-file commits (4
# stores per join side per partition) dominate the stage
_STATE_PARTITION_TARGET_BYTES = 64 << 20


def _stream_partitions(
    spark: SparkSession, sf_dir: str, table: str = "events",
    kernel_parallel: bool = False,
) -> int:
    """Shuffle-partition count for a streaming drain, sized to the
    DATA instead of fixed (optimization round 13; previously a flat 8).
    Two regimes, measured at sf0.1:

    * state-store-bound ops (stream-stream joins, windowed aggs,
      dropDuplicates): every shuffle partition is a state store paying
      per-batch delta-file + commit cost — a 4-batch outer-join drain
      measured 6.0-8.9 s at 8 partitions vs 4.3-4.8 s at 2 for a few
      MB of state. Partitions derive from source size
      (ceil(bytes / 64 MB), floor 2, cap cores), so a 100 TB arrival
      dir still fans out to the cluster while a small tail stays at
      the floor;
    * ``kernel_parallel`` ops (applyInPandasWithState): throughput is
      bound by Python-worker parallelism, not store count — the same
      sf0.1 sessionize measured 5.2-5.8 s at 2 partitions vs 2.6-3.8 s
      at 8-16 — so these size to cores (capped at 16).

    ``SPARK_GRAFT_STREAM_STATE_PARTITIONS`` overrides both regimes for
    cluster tuning."""
    env = env_int("SPARK_GRAFT_STREAM_STATE_PARTITIONS", None)
    if env is not None:
        return max(1, env)
    cores = spark.sparkContext.defaultParallelism
    if kernel_parallel:
        return max(2, min(cores, 16))
    try:
        nbytes = table_bytes(spark, sf_dir, table)
    except OSError:
        nbytes = 0  # unreadable source: fall through to the floor
    return max(2, min(cores, -(-nbytes // _STATE_PARTITION_TARGET_BYTES)))


def _start(spark: SparkSession, writer, parts: int):
    """Start ``writer`` as an availableNow drain with ``parts`` shuffle
    partitions and wait for it to end; returns the terminated query.
    Every stateful operator keeps one state store per shuffle
    partition, so the count is sized to the data (see
    ``_stream_partitions``), not taken from the session default. A
    query captures the conf when it starts, so the caller's value is
    restored right after ``start()``: batch work planned while the
    stream drains never sees the stream's count, and a session that
    never set it is left without it."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(parts))
    try:
        query = writer.trigger(availableNow=True).start()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    query.awaitTermination()
    return query


# the file-source schema of each non-events table a stream stages
_TABLE_SCHEMAS = {
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
}


def _events_schema(spark: SparkSession, sf_dir: str) -> str:
    """The raw on-disk events schema a file stream must be given: ``ts``
    reads as bigint nanos or as timestamp[us] depending on the corpus
    generation, and ``normalize_events_ts`` turns either into a
    session-tz timestamp."""
    ts_t = events_raw_ts_type(spark, sf_dir)
    return (
        f"event_id bigint, ts {ts_t}, user_id bigint, "
        "event_type string, value double, props string"
    )


def _stage_table_files(stage, sf_dir: str, table: str, spark=None) -> None:
    """Put a parquet table's data file(s) flat into a staging dir:
    local files as symlinks, others (any non-``file`` URI) copied
    through Hadoop. A parquet TABLE is a directory of part files, and
    FileStreamSource does not recurse into subdirectories — a
    directory symlink would silently match ZERO files. Flat part files
    are also the honest layout: a production arrival directory
    receives files, not table directories. Flat names drop
    directory-encoded partition VALUES; callers stage plain tables.
    ``spark`` is needed only for a non-local table."""
    src = table_path(sf_dir, table)
    files = parquet_files(spark, src)
    if not files:
        raise ValueError(
            f"no parquet files found at {src} — staging would silently "
            "stream zero rows"
        )
    local = local_dir(src)
    for i, (name, _, _) in enumerate(files):
        dst = Path(stage) / f"part-{i:05d}.parquet"
        if local is None:
            copy_to_local(spark, src, name, dst)
        else:
            # resolve(): a RELATIVE sf_dir would otherwise be stored
            # verbatim as the link target and re-resolved against the
            # staging dir, leaving every link dangling
            os.symlink((local / name).resolve(), dst)


def _stage_batches(stage: Path, frames: list[DataFrame]):
    """Write each frame as ONE parquet file in ``stage``, with mtimes
    ascending in list order so a ``maxFilesPerTrigger=1`` file source
    replays them as one micro-batch each, in order. One partitioned
    write produces every file; an empty frame writes no file. Returns
    the files' schema.

    The hash repartition on the batch tag sends all of a frame's rows
    to one writer task while the scans and filters above it stay
    parallel — coalesce(1) would propagate up the narrow chain and
    serialize the whole source scan into one task."""
    tmp = stage / "_w"
    tagged = [f.withColumn("_batch", F.lit(i)) for i, f in enumerate(frames)]
    (
        reduce(DataFrame.unionByName, tagged)
        .repartition(len(frames), "_batch")
        .write.partitionBy("_batch")
        .parquet(str(tmp))
    )
    for i in range(len(frames)):
        bdir = tmp / f"_batch={i}"
        if not bdir.exists():
            continue
        dst = stage / f"batch_{i}.parquet"
        shutil.move(str(next(bdir.glob("part-*.parquet"))), dst)
        os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
    shutil.rmtree(tmp)
    return frames[0].schema


def run_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    query,
    *,
    source="events",
    mode: str = "append",
    sink=None,
    kernel_parallel: bool = False,
) -> DataFrame | None:
    """Stage ``source``, run ``query(read)`` over it as a streaming
    query named ``name``, drain it with availableNow, and delete the
    stage. ``source`` is a table name of ``sf_dir`` (``events`` or
    ``documents``) or a list of batch frames (see ``_stage_batches``);
    ``read()`` returns a fresh streaming frame over the stage on every
    call. Without ``sink`` the output goes to a memory sink and comes
    back as ``spark.table(name)``; with one, ``sink(batch_df,
    batch_id)`` runs as ``foreachBatch`` and nothing is returned."""
    stage = Path(tempfile.mkdtemp(prefix=f"{name}_"))
    try:
        if isinstance(source, str):
            _stage_table_files(stage, sf_dir, source, spark)
            table = source
            if source == "events":
                schema = _events_schema(spark, sf_dir)
            else:
                schema = _TABLE_SCHEMAS[source]

            def read() -> DataFrame:
                df = spark.readStream.schema(schema).format("parquet").load(str(stage))
                return normalize_events_ts(df) if table == "events" else df
        else:
            table = "events"
            schema = _stage_batches(stage, source)

            def read() -> DataFrame:
                return (
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1)
                    .format("parquet")
                    .load(str(stage))
                )

        writer = query(read).writeStream.outputMode(mode).queryName(name)
        writer = writer.format("memory") if sink is None else writer.foreachBatch(sink)
        _start(
            spark, writer,
            _stream_partitions(spark, sf_dir, table, kernel_parallel=kernel_parallel),
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(name) if sink is None else None


def _ts_bounds(spark: SparkSession, sf_dir: str, ev: DataFrame) -> tuple:
    """(min, max) of ``unix_micros(ts)`` over the normalized events
    frame ``ev``: from the footer when it gives them exactly in this
    session's time zone, else one MIN/MAX aggregation (None, None on an
    empty table). At 100 TB the aggregation is a full corpus scan."""
    stats = footer_bounds(spark, sf_dir, "events", ("ts",))
    if stats is not None:
        return stats["ts"]
    row = ev.select(
        F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
    ).collect()[0]
    return row[0], row[1]


def _hourly(ev: DataFrame, cents: bool = False) -> DataFrame:
    """The hourly tumbling aggregate per event type, shared by
    ``window_tumbling``, its streaming twins and the incremental mart.
    Spark's window() is epoch-aligned, matching the oracle's
    floor(epoch/3600). ``cents`` sums exact integer cents (FLOOR x100)
    instead of rounding a double sum: an incremental state merge
    changes the double accumulation order, so a raw double sum could
    round apart from a one-shot oracle at .005 boundaries."""
    if cents:
        total = F.sum(F.floor(F.col("value") * 100)).cast("double") / 100
    else:
        total = F.round(F.sum("value"), 2)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), total.alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@q(
    "window_tumbling",
    """SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
              event_type,
              COUNT(*) AS n_events,
              ROUND(SUM(value), 2) AS total_value
       FROM events
       GROUP BY 1, 2""",
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling window aggregate (batch form)."""
    return _hourly(load_events(spark, sf_dir))


@q("stream_hourly")  # rows-only: true streaming, not SQL-expressible
def stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same hourly aggregate as a genuine Structured Streaming
    job: file source -> watermark -> windowed agg -> memory sink,
    driven to completion with availableNow (the batch-of-files
    trigger). At scale the source swaps to kafka/files-on-arrival and
    the sink to a table — the query body is unchanged.

    Accepted residual: both twins round the same double sum with the
    same JVM HALF_UP, but the state-store merge can accumulate in a
    different order than the batch aggregation, so a sum landing
    within 1 ulp of a .005 boundary could round apart. Never observed
    on this deterministic testdata across every round; the exact-cents
    discipline that removes the class entirely is demonstrated by
    ``stream_incremental``'s floor-cents surface — a production
    pipeline needing bit-equal twins should adopt it."""
    return run_stream(
        spark, sf_dir, "bdap_stream_hourly",
        lambda read: _hourly(read().withWatermark("ts", "2 hours")),
        mode="complete",
    )


SESSION_GAP_MIN = 360  # 6 h — ~2 events/user/day in the testdata

_SESSIONIZE_ORACLE = f"""
WITH ev AS (SELECT user_id, event_id, ts, value FROM events),
flags AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flags
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM numbered GROUP BY user_id, session_no
"""


@q("sessionize", _SESSIONIZE_ORACLE)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch: lag-flag + running-sum
    session numbering, both windows partitioned by user_id so the op
    scales horizontally (no global window; per-user frames are small).
    The session boundary is a >SESSION_GAP_MIN idle gap.
    Engine addition — the streaming twin is stream_sessionize."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds, NOT unix_timestamp: that truncates
    # sub-second parts, so a gap of exactly gap+0.7s read as gap+0s
    # fails the strict > and wrongly merges two sessions (bit us at
    # sf0.1, user 805: 6h00m00.714s gap vs the 6h threshold)
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    flags = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > gap_us
            ),
            1,
        ).otherwise(0),
    )
    numbered = flags.withColumn(
        "session_no", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    ).drop("session_no")


@q("stream_sessionize")  # rows-only: custom stateful streaming op
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sessionization as a CUSTOM STATEFUL streaming operator:
    applyInPandasWithState keyed on user_id. Per micro-batch, each
    user's open session lives in GroupState; events extend it or close
    it (gap exceeded) and every session — closed or still open — is
    emitted in update mode, so the final batch's output equals the
    batch twin (asserted row-for-row in tests/test_recall.py).

    Scale: state is one small tuple per user (last_ts, start, n,
    total); Spark shuffles events to the user's state partition — the
    same partitioning the batch window uses. At real scale the source
    swaps to kafka and GroupStateTimeout evicts idle users.
    ref surface: SURVEY.md §2.10 (engine addition; the reference has
    no streaming)."""

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = SESSION_GAP_MIN * 60 * 1_000_000

    def sessionize_user(key, pdfs, state: GroupState):
        # the per-group body is the hot path: it runs once per user per
        # micro-batch (~15k calls/batch at sf0.1), so constant per-call
        # pandas overhead dominates the stage. Everything here is numpy
        # (lexsort + flatnonzero/reduceat segmentation) — the pandas
        # sort_values + per-row Python loop variant measured ~2x slower
        # end-to-end
        (user_id,) = key
        # state tuple: (last_ts_us, start_us, n_events, total_value) —
        # integer MICROSECONDS, the same unit the batch twin compares
        # with unix_micros(): an earlier revision used float64 posix
        # seconds, whose ~128ns quantization at 2026 epochs could split
        # an exactly-gap-apart pair the batch path keeps merged
        sess = list(state.get) if state.exists else None
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        ts_raw = rows["ts"].to_numpy()
        order = np.lexsort((rows["event_id"].to_numpy(), ts_raw))
        # datetime64[us or ns] -> int64 posix MICROseconds, exact for
        # both parquet encodings (ns floors by integer division)
        epoch = ts_raw[order].astype("datetime64[us]").astype("int64")
        val = rows["value"].to_numpy()[order]
        n = len(epoch)
        new_flag = np.empty(n, dtype=bool)
        new_flag[0] = sess is None or (epoch[0] - sess[0]) > gap_us
        new_flag[1:] = (epoch[1:] - epoch[:-1]) > gap_us
        starts = np.flatnonzero(new_flag)
        seg = (
            starts
            if starts.size and starts[0] == 0
            else np.concatenate(([0], starts))
        )
        counts = np.diff(np.append(seg, n))
        totals = np.add.reduceat(val, seg)
        seg_start = epoch[seg]
        seg_last = epoch[np.append(seg[1:], n) - 1]
        out = [
            [int(seg_last[i]), int(seg_start[i]), int(counts[i]), float(totals[i])]
            for i in range(len(seg))
        ]
        if sess is not None and not new_flag[0]:
            # first segment continues the carried open session
            out[0] = [out[0][0], sess[1], sess[2] + out[0][2], sess[3] + out[0][3]]
        state.update(tuple(out[-1]))  # open session: emitted now, updated next batch
        return iter(
            [
                pd.DataFrame(
                    {
                        "user_id": [user_id] * len(out),
                        "session_start": [
                            pd.Timestamp(s[1], unit="us").strftime("%Y-%m-%d %H:%M:%S")
                            for s in out
                        ],
                        "n_events": [s[2] for s in out],
                        # RAW double — rounding happens JVM-side below:
                        # Python round() half-evens while Spark F.round
                        # half-ups, so a kernel-side round diverges from
                        # the batch twin on exactly-representable .xx5
                        # sums (the verify-skill's LAO-154.535 class)
                        "total_value": [s[3] for s in out],
                    }
                )
            ]
        )

    def sessions(read) -> DataFrame:
        return (
            read()
            .select("user_id", "event_id", "ts", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                sessionize_user,
                outputStructType="user_id bigint, session_start string, n_events bigint, total_value double",
                stateStructType="last_ts bigint, start bigint, n bigint, total double",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    tbl = run_stream(
        spark, sf_dir, "bdap_stream_sessionize", sessions,
        mode="update", kernel_parallel=True,
    )
    # update-mode memory sink: latest emission per (user, session_start)
    wlast = Window.partitionBy("user_id", "session_start").orderBy(
        F.desc("n_events")
    )
    return (
        tbl.withColumn("_rn", F.row_number().over(wlast))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        # same JVM HALF_UP rounding as the batch twin (see kernel note)
        .withColumn("total_value", F.round("total_value", 2))
    )


@q("stream_dedup")  # rows-only: stateful streaming twin of dedup_exact
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: content-hash the incoming
    documents and dropDuplicates on the hash — the incremental twin of
    the batch ``dedup_exact`` key (set-equality of kept hashes asserted
    in tests/test_recall.py). State is one 32-byte hash per distinct
    document, the exact state a 100 TB incremental-ingest dedup keeps;
    at real scale the source swaps to files-on-arrival/kafka and
    ``withWatermark`` + ``dropDuplicatesWithinWatermark`` bounds the
    state window."""
    return run_stream(
        spark, sf_dir, "bdap_stream_dedup",
        lambda read: read()
        .select(F.md5(F.encode(F.col("text"), "UTF-8")).alias("h"))
        .dropDuplicates(["h"]),
        source="documents",
    )


@q("stream_sliding")  # rows-only: true streaming twin of window_sliding
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window count (1 h wide, 30 min slide) as a genuine
    Structured Streaming job — the streaming twin of the oracle-checked
    ``window_sliding`` batch key (equality asserted in
    tests/test_recall.py). Same watermark + groupBy(window) body; only
    the source/sink wiring differs from batch."""
    return run_stream(
        spark, sf_dir, "bdap_stream_sliding",
        lambda read: read()
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "60 minutes", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        ),
        mode="complete",
    )


@q(
    "events_enrich",
    """SELECT e.event_id, e.event_type,
              c.c_mktsegment AS segment,
              n.n_name AS nation_name
       FROM events e
       JOIN customer c ON e.user_id = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey""",
)
def events_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event enrichment: fact stream joined through a two-hop
    dimension chain (customer -> nation), both sides broadcast — the
    batch twin of stream_enrich. At 100 TB the events side streams
    through map tasks while the dims ship once per executor; zero
    shuffle, no float aggregation in the oracle surface."""
    ev = load_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            "event_id",
            "event_type",
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation_name"),
        )
    )


@q("stream_enrich")  # rows-only: true streaming, not SQL-expressible
def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events file stream joined to
    the static customer->nation dimension chain — the canonical
    Structured Streaming lookup pattern (stateless, append-mode; the
    dim is re-broadcast per micro-batch, so slowly-changing dims are
    picked up between batches). Equivalence-tested row-for-row against
    events_enrich (tests/test_recall.py)."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    dim = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("c_custkey", "c_mktsegment", "n_name")
    )

    def enrich(read) -> DataFrame:
        stream = read()
        return stream.join(
            F.broadcast(dim), stream.user_id == dim.c_custkey
        ).select(
            "event_id",
            "event_type",
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation_name"),
        )

    return run_stream(spark, sf_dir, "bdap_stream_enrich", enrich)


_ATTR_WINDOW_US = 3_600_000_000  # the 1-hour attribution window


def _clicks(ev: DataFrame) -> DataFrame:
    return ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )


def _purchases(ev: DataFrame) -> DataFrame:
    return ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )


def _attribution_sides(spark: SparkSession, sf_dir: str):
    """(clicks, purchases) for the TIME-BUCKETED interval join. Round
    11 plan fix, found by the fifth decade: the naive equi-join on
    user_id with the range as a residual evaluates the FULL per-user
    click x purchase cross — Σᵤ nc(u)·np(u) candidates, 2.75e10 at
    sf10skew with 1.35e10 on the single hottest user, i.e. one
    sort-merge task grinding a key no AQE skew split can divide
    (measured 675 s for the 38.2 M true rows). Bucketing event time to
    the window size and joining on (user, bin) — with each purchase
    exploded to its own bin and the previous one, so every pair with
    p_ts ∈ [c_ts, c_ts+1h] co-locates — prunes candidates to
    CO-TEMPORAL pairs only and spreads a hot user over ~bins-many
    keys. Each true pair joins exactly once (a click owns one bin; the
    purchase's two exploded bins are distinct), so no dedup pass.
    Same rows, same oracle; only the candidate space changed."""
    ev = load_events(spark, sf_dir)
    clicks = _clicks(ev).withColumn(
        "bin", F.expr(f"unix_micros(c_ts) div {_ATTR_WINDOW_US}")
    )
    purchases = _purchases(ev).withColumn(
        "p_bin",
        F.explode(
            F.array(
                F.expr(f"unix_micros(p_ts) div {_ATTR_WINDOW_US} - 1"),
                F.expr(f"unix_micros(p_ts) div {_ATTR_WINDOW_US}"),
            )
        ),
    )
    return clicks, purchases


def _attribution_join(
    clicks: DataFrame, purchases: DataFrame, how: str, binned: bool = True
) -> DataFrame:
    cond = F.col("user_id") == F.col("p_user")
    if binned:
        cond = cond & (F.col("bin") == F.col("p_bin"))
    cond = (
        cond
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("interval 1 hour"))
    )
    return clicks.join(purchases, cond, how).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


def _stream_attribution(read, how: str = "inner", delay: str = "2 hours") -> DataFrame:
    """The attribution interval join between two streaming reads of
    one stage, each side watermarked by ``delay``: the watermark and
    the range condition bound join state to about (1 h window + delay)
    of events per side, however long the stream runs."""
    clicks = _clicks(read()).withWatermark("c_ts", delay)
    purchases = _purchases(read()).withWatermark("p_ts", delay)
    return _attribution_join(clicks, purchases, how, binned=False)


_ATTRIBUTION_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@q("events_attribution", _ATTRIBUTION_ORACLE)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution interval join (batch twin of stream_pair_join):
    every purchase paired with each same-user click in the preceding
    hour. TIME-BUCKETED since round 11 (see ``_attribution_sides``):
    joins on (user_id, hour_bin) so candidates are co-temporal pairs,
    not the full per-user cross — the plan that survives a zipf-hot
    user at the measured fifth decade. Gap emitted as exact integer
    microseconds (unix_micros), no float time math."""
    clicks, purchases = _attribution_sides(spark, sf_dir)
    return _attribution_join(clicks, purchases, "inner")


# --- stream-join replay guard (round 11) --------------------------------
#
# The fifth measured decade (sf10skew) found the registry's last
# unguarded super-linear paths: the two stream-STREAM join demos. Their
# state scan is keyed only on user_id, so per micro-batch the work is
# Σ n_clicks(u) x n_purchases(u) over co-resident state — measured
# 95.3 s at sf1skew, 786.3 s at sf3skew (pairs_bound 3.05e9, one hot
# user owning 1.5e9 of it), projected HOURS at sf10skew's measured
# 2.75e10 bound (bench_scale_stream_skew.json / BENCH_SCALE.md).
# Replaying a whole skewed history through a single-box micro-batch
# state store is the backfill anti-pattern; a 100 TB pipeline batch-
# backfills history and streams only the watermark-bounded tail. So
# the demos now price their replay first and refuse over budget,
# naming their BATCH twins as the bounded tier: events_attribution is
# row-identical to stream_pair_join (equivalence-pinned in
# tests/test_recall.py), events_attribution_outer is row-identical on
# the matched side and a SUPERSET on the null-extended side (the
# stream withholds end-of-replay unmatched rows its final watermark
# never released — the batch twin is the more complete answer).
# Budget = the engine-standard 2.5e8 (uniform decades measure ≤2.7e7
# at sf10 and pass; every measured skew decade refuses — the full
# measured per-decade table lives in BENCH_SCALE.md §"Round 11: the
# stream-join replay guard", the source of record for these numbers).

STREAM_PAIRS_BUDGET = 250_000_000

_STREAM_PAIR_AUDIT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_joint_users,
       CAST(COALESCE(MAX(nc * np), 0) AS BIGINT) AS max_term,
       CAST(COALESCE(SUM(nc * np), 0) AS BIGINT) AS pairs_bound
FROM (SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
      FROM events GROUP BY user_id)
WHERE nc > 0 AND np > 0
"""


def stream_pair_profile(ev: DataFrame) -> dict:
    """One-aggregation audit of the stream-stream join replay cost:
    the watermarked join's state scan is keyed on user_id alone (the
    time window is a residual, not a state-pruning key), so per user
    the replay evaluates n_clicks(u) x n_purchases(u) candidate pairs
    — ``pairs_bound`` is that sum, ``max_term`` the hottest user's
    share. Same bigint + float64-shadow + exact-max discipline as
    ``incremental_probe_profile`` (dedup_q); one shuffle on user_id,
    linear in the events table."""
    return _pair_audit(ev).collect()[0].asDict()


def _pair_audit(ev: DataFrame) -> DataFrame:
    term = F.col("nc") * F.col("np")
    return (
        ev.groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "click").cast("bigint")).alias("nc"),
            F.sum((F.col("event_type") == "purchase").cast("bigint")).alias("np"),
        )
        .filter((F.col("nc") > 0) & (F.col("np") > 0))
        .agg(
            F.count(F.lit(1)).alias("n_joint_users"),
            F.coalesce(F.max(term), F.lit(0)).cast("bigint").alias("max_term"),
            F.coalesce(F.sum(term), F.lit(0)).cast("bigint").alias("pairs_bound"),
            F.coalesce(
                F.sum(term.cast("double")), F.lit(0.0)
            ).alias("pairs_bound_dbl"),
        )
    )


_STREAM_PAIR_PROFILE_CACHE: dict = register_cache({})

# stream_backfill_tail's pre-flight (corpus max_ts + tail profile),
# deterministic per snapshot — same memo discipline as the profile
# above (see the key's body)
_BACKFILL_PREFLIGHT_CACHE: dict = register_cache({})


def stream_pair_profile_cached(spark: SparkSession, sf_dir: str) -> dict:
    """Per-snapshot memo of ``stream_pair_profile`` — a refusal
    memoizes nothing, so without this every guarded retry (both join
    keys, their routed facades, min-of-2 bench runs) re-pays the audit
    shuffle (the measured 20.8 s -> 0.65 s routed_triangles lesson)."""
    from ._memo import snapshot_memo

    return snapshot_memo(
        _STREAM_PAIR_PROFILE_CACHE,
        spark,
        sf_dir,
        lambda: stream_pair_profile(load_events(spark, sf_dir)),
    )


def _stream_pairs_budget() -> int:
    """The effective replay budget: SPARK_GRAFT_STREAM_PAIRS_CAP
    overrides (0 = unlimited) for a deliberate replay measurement.
    One place (round-12 review) so the env parse cannot drift between
    the full-replay guard and the tail guard."""
    return env_int("SPARK_GRAFT_STREAM_PAIRS_CAP", STREAM_PAIRS_BUDGET)


def _stream_pairs_exceed(p: dict, budget: int) -> bool:
    """The shared over-budget predicate for a user-keyed state-cross
    profile: the overflow-safe bound check (bigint + float64 shadow)
    OR a single hot user alone over budget. One place (round-12
    review) so a budget-semantics fix cannot silently miss one of the
    two guards that price stream replays."""
    from .dedup_q import audit_exceeds_budget

    return (
        audit_exceeds_budget(p["pairs_bound"], p["pairs_bound_dbl"], 0, budget)
        or p["max_term"] > budget
    )


def _guard_stream_replay(spark: SparkSession, sf_dir: str, key: str, alt: str) -> None:
    """Probe-and-refuse for the stream-stream join demos: price the
    replay's per-user state cross before staging a byte. Eager by
    contract (tests/test_router.py pins every guarded key raising at
    invocation)."""
    budget = _stream_pairs_budget()
    if not budget:
        return
    p = stream_pair_profile_cached(spark, sf_dir)
    if _stream_pairs_exceed(p, budget):
        raise ScaleRefusal(
            f"{key}: replaying this corpus through the micro-batch "
            f"state store evaluates {p['pairs_bound']} per-user "
            f"click x purchase state pairs (> budget {budget}; hottest "
            f"user {p['max_term']} pairs alone) — the stream-stream "
            "join's state scan is keyed on user_id only, so a skewed "
            "replay is the backfill anti-pattern (measured 786 s at "
            f"pairs_bound 3.05e9, BENCH_SCALE.md). Run {alt} (the "
            "batch twin) for history and the stream for the "
            "watermark-bounded tail — stream_backfill_tail is that "
            "composition as one key, equal to the batch answer — or "
            "set SPARK_GRAFT_STREAM_PAIRS_CAP=0 for a deliberate "
            "replay.",
            key=key,
            measured=p["pairs_bound"],
            budget=budget,
            alternative=alt,
            override_env="SPARK_GRAFT_STREAM_PAIRS_CAP",
        )


@q("stream_pair_audit", _STREAM_PAIR_AUDIT_ORACLE)
def stream_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-join replay guard's pre-flight price as an
    oracle-checked query (the pricing-surface discipline:
    shingle_df_audit / graph_wedge_audit / incremental_probe_audit):
    joint-user count, hottest user's click x purchase product, and the
    total pairs_bound the state scan would evaluate."""
    return _pair_audit(load_events(spark, sf_dir)).drop("pairs_bound_dbl")


@q(
    "events_attribution_outer",
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
              CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
       FROM (SELECT * FROM events WHERE event_type = 'click') c
       LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
         ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",
)
def events_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER attribution interval join — the batch twin of
    ``stream_outer_join`` and its declared bounded tier: every click
    emits, null-extended when no same-user purchase lands in its hour.
    Contract vs the stream key (one-sided, like every declared tier):
    matched rows are IDENTICAL (pinned for the stream subset in
    tests/test_recall.py); null-extended rows are a SUPERSET of the
    stream's (the stream withholds unmatched clicks its final
    watermark never evicted — a bounded-replay artifact, not an answer
    the batch form should reproduce). Same time-bucketed join as
    ``events_attribution`` (left-outer preserves one null row per
    unmatched click — the left side is never exploded), so a hot user
    costs co-temporal pairs, not the full cross."""
    clicks, purchases = _attribution_sides(spark, sf_dir)
    return _attribution_join(clicks, purchases, "leftOuter")


@q("stream_pair_join", fallback="events_attribution")  # rows-only: true stream-stream join
def stream_pair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join with watermarks: the click stream
    joined to the purchase stream on user_id within a 1-hour event-time
    range — the hardest Structured Streaming shape (both sides buffer
    state; the watermark + range condition bound it, so state is
    ~1 hour of events per side regardless of stream length). Same
    output as events_attribution; equivalence-tested row-for-row in
    tests/test_recall.py.

    Skew contract: a zipf-hot user multiplies the ANSWER, not just the
    work — at sf1skew the hot user's clicks x purchases yield 587 838
    true pairs vs 3 710 uniform (158x), and this key and the batch
    twin emit the identical row set (82 s streaming vs 5.6 s batch:
    per-row state-store overhead on an output-bound join, not a
    planning defect). At 100 TB the mitigation is semantic, not
    physical: cap pairs-per-user upstream (rank/limit per key) if the
    product is not the wanted answer.

    Round 11: the replay is GUARDED — over STREAM_PAIRS_BUDGET
    per-user state pairs the key refuses (measured 786 s at sf3skew's
    3.05e9 bound) and names the row-identical batch twin
    ``events_attribution`` as the bounded tier (see the guard block
    above)."""
    _guard_stream_replay(spark, sf_dir, "stream_pair_join", "events_attribution")
    return run_stream(spark, sf_dir, "bdap_stream_pair_join", _stream_attribution)


STREAM_TAIL_HOURS = 6


@q("stream_backfill_tail", _ATTRIBUTION_ORACLE, fallback="events_attribution")
def stream_backfill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill + streaming-tail COMPOSITION (VERDICT r11 #3): the
    architecture the stream-join replay guard prescribes in prose,
    demonstrated end-to-end as one key that EQUALS the full batch
    answer row-for-row — which is why it registers the attribution
    oracle itself.

    Split = max(ts) - {STREAM_TAIL_HOURS}h (deterministic, data-
    derived). Each attribution pair is OWNED by its click, so the
    halves partition exactly:

    * batch half: ``events_attribution``'s time-bucketed join with
      clicks restricted to ``c_ts < split`` — purchases UNRESTRICTED,
      so a boundary-straddling pair (history click, tail purchase
      within the hour) lands here;
    * streaming half: ONLY the tail snapshot (``ts >= split``) staged
      and replayed through the watermarked stream-stream join — every
      pair it can owe has ``p_ts >= c_ts >= split``, so the staged
      tail is self-contained, and state is hours of events by
      construction, not history (the replay anti-pattern the guard
      refuses).

    The tail replay is still PRICED (same user-keyed state-cross
    profile, same budget) — a corpus whose final {STREAM_TAIL_HOURS}
    hours alone blow the state budget refuses loudly rather than
    grinding. Measured: at sf3skew the full replay's bound is 3.05e9
    (refuses) while the 6-hour tail's is 2.25e5 (runs); at sf10skew
    2.75e10 vs 2.0e6. Union(batch half, stream half) == the full
    batch answer, equivalence-pinned in tests/test_recall.py and
    oracle-checked by the driver.

    The tail-over-budget refusal ROUTES (VERDICT r12 #2): the
    declared fallback is ``events_attribution``, the batch twin this
    key's oracle already describes — row-identical by the equivalence
    above, so the route contract is EXACT, not one-sided, and
    ``routed_backfill_tail`` (the facade) stays oracle-valid on every
    corpus whichever tier runs."""
    from datetime import datetime, timedelta

    ev = load_events(spark, sf_dir)
    # the pre-flight scalars (corpus max_ts, tail state-cross profile)
    # are deterministic per snapshot, so they are memoized the same way
    # every other guard's probe is (stream_pair_profile_cached): one
    # events scan + one tail aggregation per snapshot instead of per
    # invocation — the bench (min-of-2) and the routed facade otherwise
    # re-pay both jobs on all four calls of a round
    from ._memo import snapshot_memo

    def _preflight():
        # the datetime construction replicates pyspark's own
        # TimestampType.fromInternal exactly (integer seconds +
        # microsecond replace), so the F.lit round-trip is bit-identical
        # to a collected MAX(ts) value
        hi_us = _ts_bounds(spark, sf_dir, ev)[1]
        if hi_us is None:
            return None, None
        m = datetime.fromtimestamp(hi_us // 1_000_000).replace(
            microsecond=hi_us % 1_000_000
        )
        s = m - timedelta(hours=STREAM_TAIL_HOURS)
        return s, stream_pair_profile(ev.filter(F.col("ts") >= F.lit(s)))

    split, tail_profile = snapshot_memo(
        _BACKFILL_PREFLIGHT_CACHE, spark, sf_dir, _preflight,
        extra=("tail", STREAM_TAIL_HOURS),
    )
    clicks, purchases = _attribution_sides(spark, sf_dir)
    if split is None:  # empty corpus: the (empty) batch join
        return _attribution_join(clicks, purchases, "inner")
    tail = ev.filter(F.col("ts") >= F.lit(split))

    budget = _stream_pairs_budget()
    if budget:
        p = tail_profile
        if _stream_pairs_exceed(p, budget):
            raise ScaleRefusal(
                f"stream_backfill_tail: even the {STREAM_TAIL_HOURS}h "
                f"tail's user-keyed state cross is {p['pairs_bound']} "
                f"pairs (> budget {budget}) — run events_attribution "
                "(the batch twin) for everything, or set "
                "SPARK_GRAFT_STREAM_PAIRS_CAP=0 deliberately.",
                key="stream_backfill_tail",
                measured=p["pairs_bound"],
                budget=budget,
                alternative="events_attribution",
                override_env="SPARK_GRAFT_STREAM_PAIRS_CAP",
            )

    # batch half: history-owned clicks against ALL purchases
    hist = _attribution_join(
        clicks.filter(F.col("c_ts") < F.lit(split)), purchases, "inner"
    )
    # streaming half: the tail staged as ONE batch frame, so one file
    # and one micro-batch. The replay's row-for-row equality with the
    # batch half relies on that: split across micro-batches, the 2h
    # watermarks could evict click/purchase state before a matching
    # row arrived and silently drop valid pairs.
    tail_half = run_stream(
        spark, sf_dir, "bdap_backfill_tail", _stream_attribution,
        source=[tail.select("event_id", "ts", "user_id", "event_type")],
    )
    return hist.unionByName(tail_half)


def _native_sessions(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@q("sessionize_builtin", _SESSIONIZE_ORACLE)
def sessionize_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's NATIVE ``session_window`` — the
    idiomatic one-operator form of ``sessionize`` (which builds the
    same thing from lag-flag + running sum). One groupBy, fully
    JVM-side, and the operator is streaming-ready as-is (the same
    expression works under readStream + watermark).

    Boundary contract matches the lag-based key exactly (verified, not
    assumed: ``session_window``'s merge is INCLUSIVE of the session
    end, so a gap of exactly SESSION_GAP_MIN stays in the session and
    one microsecond more splits — the same ``>`` semantics as
    ``sessionize``, hence the shared oracle).
    tests/test_boundaries.py pins both sides of the edge."""
    return _native_sessions(load_events(spark, sf_dir))


@q("stream_session_builtin")  # rows-only: native streaming session windows
def stream_session_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sessionize_builtin``'s body run as a REAL streaming query —
    the point of the native operator: the identical
    groupBy(session_window) expression moves from batch to
    readStream + watermark unchanged (vs stream_sessionize, whose
    custom applyInPandasWithState needed its own state plumbing).
    Streaming session windows reject update mode (sessions can merge,
    which re-keys the group), so the sink runs in COMPLETE mode —
    fine against the test-only memory sink, while a production sink
    uses append mode, where the watermark closes sessions and only
    finished sessions emit. Equivalence vs the batch key is asserted
    row-for-row in tests/test_recall.py."""
    return run_stream(
        spark, sf_dir, "bdap_stream_session_builtin",
        lambda read: _native_sessions(read().withWatermark("ts", "2 hours")),
        mode="complete",
    )


@q("stream_foreach_batch")  # rows-only: foreachBatch durable-sink bridge
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming -> batch-sink bridge every production pipeline
    ends in: the hourly aggregate streamed in update mode into a
    ``foreachBatch`` MERGE against a durable parquet mart. Each batch
    upserts its updated groups (anti-join out the stale rows, union
    the fresh ones) and commits a NEW versioned snapshot directory,
    then flips a pointer file — the poor man's transaction log, which
    is exactly what Delta/Iceberg's MERGE INTO + commit log replace at
    scale (snapshots stay atomic and readers never see a half-written
    mart). The memory-sink keys above are test-only; this one writes
    the real files. Final mart equals the batch ``window_tumbling``
    output row-for-row (tests/test_recall.py)."""
    # the returned frame reads the mart lazily, so it lives until exit
    mart = Path(tempfile.mkdtemp(prefix="stream_feb_mart_", dir=sink_root()))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        pointer = mart / "_LATEST"
        prev = int(pointer.read_text()) if pointer.exists() else -1
        fresh = batch_df.select(
            "window_start", "event_type", "n_events", "total_value"
        )
        if prev >= 0:
            current = sess.read.parquet(str(mart / f"v{prev}"))
            kept = current.join(
                fresh.select("window_start", "event_type"),
                ["window_start", "event_type"],
                "left_anti",
            )
            fresh = kept.unionByName(fresh)
        fresh.write.mode("overwrite").parquet(str(mart / f"v{prev + 1}"))
        pointer.write_text(str(prev + 1))

    run_stream(
        spark, sf_dir, "bdap_stream_foreach_batch",
        lambda read: _hourly(read().withWatermark("ts", "2 hours")),
        mode="update", sink=merge_batch,
    )
    latest = int((mart / "_LATEST").read_text())
    return spark.read.parquet(str(mart / f"v{latest}"))


def incremental_hourly_runs(spark: SparkSession, sf_dir: str):
    """Two availableNow RUNS of one hourly-aggregate query over a
    landing directory that gains files between runs, sharing a single
    checkpoint — the file-arrival re-run contract of the reference's
    30-day scheduler loop (ref: tb_data_collection.py:352-393,
    main_orchestrator.py 'schedule' mode), done incrementally instead
    of as a full recompute.

    Run 1 sees batch-1 files; batch-2 files then land; run 2 restarts
    from the checkpoint and reads ONLY the new files (the file-source
    log remembers batch 1) while the aggregation state carries the old
    groups — so the final complete-mode snapshot equals a full
    recompute over everything. Returns ``(mart_df, stats)`` where
    stats carries per-run input-row counts so tests can assert the
    second run was genuinely incremental, and batch row counts so they
    can assert coverage. total_value sums exact integer cents (see
    ``_hourly``).
    """
    raw_schema = _events_schema(spark, sf_dir)
    # the returned frame reads the mart lazily, so it lives until exit
    root = Path(tempfile.mkdtemp(prefix="incremental_", dir=sink_root()))
    landing, ckpt, mart = root / "landing", root / "ckpt", root / "mart"
    landing.mkdir()

    # deterministic 2-way split of the events feed, written in the raw
    # on-disk schema so the file stream reads both batches identically.
    # ONE partitioned write produces both splits; partitionBy drops the
    # split column from the data files, so each part file keeps exactly
    # the raw schema. batch_rows comes from the written files' parquet
    # footers (exact metadata), independent evidence for the
    # incrementality assertion (not derived from streaming progress).
    raw = spark.read.schema(raw_schema).parquet(f"{sf_dir}/events.parquet")
    split_root = root / "split"
    (
        raw.withColumn("b", F.pmod("event_id", F.lit(2)))
        .write.partitionBy("b")
        .parquet(str(split_root))
    )
    batches = [sorted((split_root / f"b={i}").glob("part-*.parquet")) for i in (0, 1)]
    batch_rows = [footer_rows(files) for files in batches]

    stream = normalize_events_ts(
        spark.readStream.schema(raw_schema).format("parquet").load(str(landing))
    )

    def snapshot(batch_df: DataFrame, batch_id: int) -> None:
        # complete mode: every micro-batch carries the FULL state, so
        # overwriting yields an always-consistent mart snapshot
        batch_df.write.mode("overwrite").parquet(str(mart))

    writer = (
        _hourly(stream, cents=True)
        .writeStream.outputMode("complete")
        .foreachBatch(snapshot)
        .option("checkpointLocation", str(ckpt))
    )
    parts = _stream_partitions(spark, sf_dir)
    stats = {"batch_rows": batch_rows, "run_input_rows": []}
    try:
        for files in batches:
            for f in files:
                shutil.copy(f, landing / f"{f.parent.name}-{f.name}")
            query = _start(spark, writer, parts)
            stats["run_input_rows"].append(
                int(sum(p["numInputRows"] for p in query.recentProgress))
            )
    finally:
        # only the mart must outlive the call
        for d in (landing, ckpt, split_root):
            shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(str(mart)), stats


@q(
    "stream_incremental",
    """SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
              event_type,
              COUNT(*) AS n_events,
              CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
       FROM events
       GROUP BY 1, 2""",
)
def stream_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 scheduler parity as an INCREMENTAL run: the oracle is a
    full recompute over all events, the key produces the same mart via
    two checkpoint-sharing availableNow runs where the second processes
    only newly-arrived files (incrementality itself is pinned by
    tests/test_recall.py::test_incremental_second_run_reads_only_new).
    """
    mart, _stats = incremental_hourly_runs(spark, sf_dir)
    return mart


@q("stream_outer_join", fallback="events_attribution_outer")  # rows-only: outer emission is watermark-gated
def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM **LEFT OUTER** interval join — the semantics the
    inner pair join can't express: clicks that never converted still
    emit, null-extended, once the watermark proves no purchase can
    arrive inside their 1-hour window. The distinctive mechanics:
    a left row is held in state with a matched flag; its null row is
    emitted only at state EVICTION (watermark past c_ts + join window
    + delay), so unmatched output arrives delayed by design, and rows
    near end-of-stream stay withheld when the final watermark never
    passes them (bounded-input caveat asserted in tests/test_recall.py:
    matched rows equal the batch inner join exactly; null rows are a
    non-empty, correct subset of the batch anti-join side).

    To make eviction actually happen under ``availableNow``, the
    events are staged as 4 time-quartile batches replayed one per
    micro-batch — each advances the watermark ~7.5 days, closing the
    prior batch's state. State per side stays bounded by (join window
    + delay) of events, independent of stream length — the 100 TB
    property.

    Round 11: the replay is GUARDED like ``stream_pair_join`` (same
    per-user state-cross bill); the declared tier is
    ``events_attribution_outer`` — matched rows identical, null rows a
    superset (the complete anti-join side, where bounded replay
    withholds end-of-stream clicks)."""
    _guard_stream_replay(
        spark, sf_dir, "stream_outer_join", "events_attribution_outer"
    )
    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type"
    )
    lo, hi = _ts_bounds(spark, sf_dir, ev)
    n_files = 4
    span = (hi - lo) // n_files + 1
    # stage ONLY the event types the join consumes: every other type
    # would be written, re-scanned per micro-batch, and then dropped by
    # both branch filters anyway. The quartile boundaries above are
    # computed over the FULL table first, so batch composition — and
    # with it the watermark progression and the emitted row set — is
    # unchanged.
    ev = ev.filter(F.col("event_type").isin("click", "purchase"))
    quartile = ((F.unix_micros("ts") - F.lit(lo)) / F.lit(span)).cast("int")
    return run_stream(
        spark, sf_dir, "bdap_stream_outer_join",
        lambda read: _stream_attribution(read, "leftOuter", "10 minutes"),
        source=[ev.filter(quartile == i) for i in range(n_files)],
    )


@q(
    "stream_python_source",
    """SELECT CAST(r.range AS BIGINT) AS i,
              CAST(r.range % 3 AS BIGINT) AS bucket
       FROM range(0, 300) r""",
)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over a custom STREAMING Python Data Source — the
    streaming face of the Python-source API surface (batch reader,
    pushdown reader, and writer live in relational.py). The source
    emits a deterministic 0..299 sequence in 100-row micro-batches
    driven by its replayable offset dict; the query projects a bucket
    column and drains to a memory sink. Unlike the file-backed
    streaming keys there is no availableNow contract for a custom
    simple reader (the source never "ends"), so the drain polls the
    sink to the known terminal count and stops the query — the test
    surface stays exactly the oracle's range(0, 300) grid."""
    import time

    from ..sources.synthetic import (
        STREAM_TOTAL_ROWS,
        register_counter_stream_source,
    )

    fmt = register_counter_stream_source(spark)
    df = (
        spark.readStream.format(fmt)
        .load()
        .select("i", (F.col("i") % 3).alias("bucket"))
    )
    qname = "bdap_stream_python_source"
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        # 50 ms poll: the source drains its 300 rows in a few hundred
        # ms of micro-batches, so a 200 ms poll added up to ~0.6 s of
        # pure sleep to a ~1 s key (measured r13); the count() poll
        # itself is a 3-partition local job, cheap at this cadence
        while spark.table(qname).count() < STREAM_TOTAL_ROWS:
            # fail FAST on a dead query: without this check a startup
            # error (source registration, schema) would burn the whole
            # deadline before awaitTermination surfaces the real cause
            if q.exception() is not None:
                raise q.exception()
            if time.monotonic() > deadline:
                raise TimeoutError("stream_python_source never reached terminal count")
            time.sleep(0.05)
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(qname)


@q("stream_dedup_watermarked")  # rows-only: bounded-state streaming dedup
def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup — ``withWatermark`` +
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+), the production form
    of ``stream_dedup``: that key's plain ``dropDuplicates`` keeps one
    state row per distinct key FOREVER, which on an unbounded 100 TB
    ingest stream is an OOM with a countdown; within-watermark dedup
    evicts state older than the delay, bounding state by (arrival-rate
    x watermark) at the documented cost that only duplicates arriving
    within the delay of their first occurrence are suppressed — the
    at-least-once-source contract (e.g. Kafka redelivery), where dup
    arrivals cluster near the original by construction.

    Staged as two batches replayed one per micro-batch: batch 2
    re-delivers the last 2 h of batch 1's events (inside the 4 h
    watermark, so suppression is GUARANTEED) alongside the later half
    of the stream. tests/test_recall.py asserts exact set equality
    with the batch distinct — every event exactly once."""
    ev = load_events(spark, sf_dir).select("event_id", "ts", "event_type")
    lo, hi = _ts_bounds(spark, sf_dir, ev)
    mid = (lo + hi) // 2
    two_h = 2 * 3600 * 1_000_000
    b1 = ev.filter(F.unix_micros("ts") <= mid)
    redelivered = b1.filter(F.unix_micros("ts") > mid - two_h)
    b2 = ev.filter(F.unix_micros("ts") > mid).unionByName(redelivered)
    return run_stream(
        spark, sf_dir, "bdap_stream_dedup_wm",
        lambda read: read()
        .withWatermark("ts", "4 hours")
        .dropDuplicatesWithinWatermark(["event_id"]),
        source=[b1, b2],
    ).select("event_id", "event_type")
