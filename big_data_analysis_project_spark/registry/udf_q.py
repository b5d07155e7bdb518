"""The Python UDF surface, one key per API tier (SURVEY §2.11: the
reference is UDF-free; these are engine additions demonstrating where
custom Python logic plugs in when no built-in exists — and the cost
ladder between the tiers):

* ``udf_pandas_tokens`` — Arrow-vectorized ``@pandas_udf`` scalar.
  The SAME semantic as the JVM-side ``text_tokens`` key, so the two
  are directly benchmarkable: this is the 10-100x-faster-than-row-UDF
  tier, still slower than built-ins (serialize out + back).
* ``udaf_momentum`` — batch grouped-map custom aggregation (the batch
  twin of stream_sessionize's applyInPandasWithState): per-group
  numpy over Arrow groups. ``applyInArrow`` since the r13 optimization
  round (the pandas grouped-map boxing alone cost 3.4 s at sf0.1);
  the pandas-boxed grouped path remains exercised by
  ``stream_sessionize``'s applyInPandasWithState.
* ``udtf_word_freq`` — a Python UDTF in a LATERAL join, the 1->N
  row-generator tier (row-at-a-time Python; the LAST resort — fine
  off the hot path, never on it).

Every key keeps integer/string outputs so the DuckDB oracle compares
hash-exactly (no float tolerance games).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

from ..functions.text import (
    STOPWORDS,
    py_word_hits,
    py_ws_split,
    sql_word_hits,
    sql_ws_count,
    sql_ws_split,
    ws_token_counts,
)
from ..sources.readers import load_events, load_table

from ._base import make_registry

QUERIES, ORACLE, q = make_registry()


@q(
    "udf_pandas_tokens",
    f"""SELECT doc_id,
              {sql_ws_count()} AS n_ws_tokens
       FROM documents""",
)
def udf_pandas_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count via an Arrow-batched ``@pandas_udf`` —
    semantically identical to the JVM path in ``text_tokens``
    (text_q.py), kept as a separate key so the Python-UDF tier has
    its own oracle row and its cost is visible next to the built-in
    in BENCH output. Plan shape: scan -> one Arrow round trip ->
    project; no shuffle. (Defined inside the key: DDL-string return
    types resolve against the active session, so module-import-time
    decoration would need a session that doesn't exist yet.)"""
    ws_tokens = pandas_udf(ws_token_counts, "long")
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", ws_tokens(F.col("text")).alias("n_ws_tokens"))


@q(
    "udaf_momentum",
    """SELECT user_id, COUNT(*) AS n_events,
              CAST(SUM(CASE WHEN value > prev THEN 1 ELSE 0 END) AS BIGINT) AS n_up
       FROM (SELECT user_id, value,
                    LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             FROM events)
       GROUP BY user_id""",
)
def udaf_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event momentum (how many events increased on the
    previous value, in event-time order) as a batch grouped-map
    custom aggregation — the UDAF tier: one shuffle on the group key,
    then arbitrary per-group numpy. This particular statistic IS
    lag-expressible (the oracle does exactly that), which is the
    point: the key verifies the Arrow grouped-map plumbing against a
    built-in restatement, so the harness catches ordering or batching
    bugs in the custom tier. State shape at 100 TB: groups stream
    through workers one at a time; nothing driver-side.

    Optimization r13 (guide §4.1/§4.2): the grouped map is
    ``applyInArrow``, not ``applyInPandas`` — measured at sf0.1
    (100 k events, 1 500 users) the pandas variant cost 4.7 s against
    this kernel's 1.3 s, ~2.3 ms of pure per-group pandas boxing for
    a ~0.1 ms numpy kernel. The Arrow table's columns feed numpy
    directly; sort order (ts, then event_id on ties) and the
    NaN-comparison semantics of the momentum count are unchanged, so
    the emitted rows are identical (DuckDB hash-green at
    sf0.001/0.01/0.1; tie/NaN edge semantics pinned against the
    built-in restatement in tests/test_boundaries.py)."""
    import numpy as np
    import pyarrow as pa

    ev = load_events(spark, sf_dir).select("user_id", "event_id", "ts", "value")

    def momentum(tbl: pa.Table) -> pa.Table:
        uid = tbl.column("user_id")[0].as_py()
        ts = tbl.column("ts").to_numpy(zero_copy_only=False)
        eid = tbl.column("event_id").to_numpy(zero_copy_only=False)
        vals = tbl.column("value").to_numpy(zero_copy_only=False)
        order = np.lexsort((eid, ts))
        v = vals[order]
        return pa.table(
            {
                "user_id": pa.array([int(uid)], type=pa.int64()),
                "n_events": pa.array([len(v)], type=pa.int64()),
                "n_up": pa.array([int((np.diff(v) > 0).sum())], type=pa.int64()),
            }
        )

    return ev.groupBy("user_id").applyInArrow(
        momentum, "user_id bigint, n_events bigint, n_up bigint"
    )


@q(
    "udtf_word_freq",
    f"""SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n
       FROM (SELECT doc_id,
                    unnest({sql_ws_split(lower=True)}) AS word
             FROM documents)
       WHERE word <> ''
       GROUP BY doc_id, word""",
)
def udtf_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word frequencies through a Python UDTF in a
    LATERAL join — the 1->N generator tier of the UDF surface.
    Row-at-a-time Python: correct, composable, and the slowest tier
    (the oracle restates it with unnest + GROUP BY; `text_top_terms`
    does related work fully JVM-side — prefer that shape on hot
    paths). The UDTF itself is per-row/stateless so the plan stays
    embarrassingly parallel: scan -> pythonUDTF -> project, no
    shuffle."""

    @udtf(returnType="word string, n bigint")
    class WordFreq:
        def eval(self, text: str):
            from collections import Counter

            if text is None:
                return
            toks = py_ws_split(text, lower=True)
            for w, n in Counter(t for t in toks if t).items():
                yield w, n

    spark.udtf.register("bdap_word_freq", WordFreq)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("bdap_udtf_docs")
    return spark.sql(
        """SELECT d.doc_id, w.word, w.n
           FROM bdap_udtf_docs d, LATERAL bdap_word_freq(d.text) w"""
    )


@q(
    "udf_arrow_norm",
    """SELECT vec_id,
              CAST(FLOOR(sqrt(list_aggregate(
                     list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                     'sum')) * 10000) AS BIGINT) AS norm_e4
       FROM embeddings""",
)
def udf_arrow_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector L2 norms through ``mapInArrow`` — the zero-copy tier of
    the UDF ladder: Arrow RecordBatches flow into Python with NO
    pandas materialization, the list<float> column is consumed as its
    flat values buffer + offsets (one `np.add.reduceat` per batch),
    and a new batch flows back. This is the tier for numeric kernels
    over array columns where even the pandas_udf Series boxing is
    measurable waste.

    Engine-exactness: values are upcast float32->float64 (exact),
    squared and summed IN ARRAY ORDER (reduceat is a sequential C
    loop; DuckDB's list_aggregate folds in order too — identical IEEE
    operation sequence), then FLOOR(x*1e4) fixes the point. Plan:
    scan -> ArrowEvalPython(mapInArrow) -> project; no shuffle."""
    import pyarrow as pa

    def norms(batches):
        import numpy as np

        for batch in batches:
            tbl = batch
            vec_ids = tbl.column(0)
            emb = tbl.column(1)
            # segment by value_lengths, NOT emb.offsets: raw offsets
            # desync from flatten() on sliced batches (flatten
            # re-bases) and null lists (flatten skips them) — rebuild
            # 0-based bounds from per-row lengths instead
            lens = emb.value_lengths().to_numpy(zero_copy_only=False)
            lens = np.nan_to_num(lens.astype(np.float64)).astype(np.int64)
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            sq = flat * flat
            bounds = np.concatenate(([0], np.cumsum(lens)))
            # reduceat only over NON-EMPTY segments: empty segments
            # have zero length, so consecutive non-empty starts are
            # exact segment boundaries and every start < len(sq) — no
            # clamping. (A min-clamp here once SPLIT the segment
            # preceding a trailing empty list: lens=[3,0], sq=[1,4,9]
            # clamped starts to [0,2] and row 0 summed 5 instead of
            # 14.) reduceat keeps SEQUENTIAL in-segment accumulation —
            # the exactness contract vs DuckDB's in-order fold
            # (ndarray.sum would be pairwise and break it)
            sums = np.zeros(len(lens), dtype=np.float64)
            ne = lens > 0
            if ne.any():
                sums[ne] = np.add.reduceat(sq, bounds[:-1][ne])
            norm_e4 = np.floor(np.sqrt(sums) * 10000).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [vec_ids, pa.array(norm_e4, type=pa.int64())],
                names=["vec_id", "norm_e4"],
            )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(norms, "vec_id bigint, norm_e4 bigint")


@q(
    "udaf_arrow_group",
    """SELECT user_id, COUNT(*) AS n_events,
              CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
       FROM events GROUP BY user_id""",
)
def udaf_arrow_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregation through ``applyInArrow`` — the
    zero-copy GROUPED tier completing the UDF ladder (scalar
    pandas_udf -> grouped applyInPandas -> scalar mapInArrow ->
    grouped applyInArrow): each group arrives as a pyarrow Table, the
    kernel reduces it with numpy (exact-cents sum: per-row FLOOR then
    int64 addition, engine-identical to the oracle), and no pandas
    boxing ever happens. Same one-shuffle-on-the-group-key scale shape
    as udaf_momentum; this statistic IS built-in-expressible — the
    point is verifying the Arrow grouped plumbing against a built-in
    restatement."""
    import numpy as np
    import pyarrow as pa

    def reduce_group(tbl: pa.Table) -> pa.Table:
        uid = tbl.column("user_id")[0].as_py()
        vals = tbl.column("value").to_numpy(zero_copy_only=False)
        # NULL values arrive as NaN; np.floor(NaN).astype(int64) is
        # INT64_MIN garbage, while the oracle's SUM skips NULLs — mask
        # them out to state the same semantics
        vals = vals[~np.isnan(vals)]
        cents = np.floor(vals * 100).astype(np.int64)
        return pa.table(
            {
                "user_id": pa.array([uid], type=pa.int64()),
                "n_events": pa.array([len(vals)], type=pa.int64()),
                "sum_value_e2": pa.array([int(cents.sum())], type=pa.int64()),
            }
        )

    ev = load_events(spark, sf_dir).select("user_id", "value")
    return ev.groupBy("user_id").applyInArrow(
        reduce_group, "user_id bigint, n_events bigint, sum_value_e2 bigint"
    )


@q(
    "pandas_api_groupby",
    """SELECT o_orderpriority,
              COUNT(*) AS n_orders,
              CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS total_e2
       FROM orders GROUP BY o_orderpriority""",
)
def pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas API on Spark (``pyspark.pandas``) face of the
    engine: the reference's whole processing layer is written in
    pandas idiom and round-trips through the driver (ref:
    spark_data_processor.py toPandas/createDataFrame hops); this key
    shows that exact idiom — column assignment with a numpy ufunc,
    named-aggregation groupby, reset_index — running FULLY distributed
    (np.floor dispatches to the JVM FLOOR via the ufunc protocol, the
    groupby plans the same map-side-combined hash aggregate as the
    DataFrame API) and hash-matching the same exact-cents oracle as
    every native key. The migration story for a pandas-first user:
    keep the code shape, lose the driver bottleneck. ``.to_spark()``
    re-enters the native API at zero cost (same logical plan)."""
    import numpy as np
    import pyspark.pandas as ps

    psdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
    psdf = psdf.assign(
        cents=np.floor(psdf["o_totalprice"] * 100).astype("int64")
    )
    out = (
        psdf.groupby("o_orderpriority")
        .agg(n_orders=("o_orderkey", "count"), total_e2=("cents", "sum"))
        .reset_index()
    )
    return out.to_spark()


@q(
    "udf_pandas_iter_score",
    f"""SELECT doc_id,
              CAST(10 * {sql_word_hits(STOPWORDS)} + length(text) % 7 AS BIGINT) AS score
       FROM documents""",
)
def udf_pandas_iter_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALAR_ITER pandas UDF tier — ``Iterator[pd.Series] ->
    Iterator[pd.Series]`` — the batched-inference contract: expensive
    per-worker setup (loading a model, opening a connection) runs ONCE
    before the loop and every Arrow batch of the partition reuses it,
    where the plain scalar tier would re-enter Python state per batch.
    The "model" here is a deterministic stopword scorer (the ASCII
    word rule of ``functions/text.py``) so the key stays
    oracle-checkable; swap the
    setup line for a real model load and the plan — scan ->
    ArrowEvalPython -> project, no shuffle — is exactly the 100 TB
    batch-scoring shape (pair with
    spark.sql.execution.arrow.maxRecordsPerBatch to bound per-batch
    memory at model-input size). Completes the Python cost ladder:
    scalar pandas_udf / SCALAR_ITER / grouped applyInPandas /
    applyInPandasWithState / UDTF / mapInArrow / applyInArrow."""
    @pandas_udf("long")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # per-worker setup, amortized over every batch of the partition
        stop = frozenset(STOPWORDS)
        for s in batches:
            hits = s.map(
                lambda x: py_word_hits(x, stop) if isinstance(x, str) else None
            )
            yield 10 * hits + s.str.len() % 7

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", score(F.col("text")).alias("score"))


@q(
    "sql_udf_scalar",
    """SELECT o_orderkey,
              CAST(FLOOR(o_totalprice * (1 - CASE WHEN o_orderpriority
                                                  IN ('1-URGENT', '2-HIGH')
                                                  THEN 0.05 ELSE 0.0 END) * 100)
                   AS BIGINT) AS discounted_e2
       FROM orders WHERE o_orderkey < 1000""",
)
def sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-native UDF tier (``CREATE FUNCTION ... RETURN expr``,
    Spark 3.4+): business logic declared ONCE in catalog-resident SQL
    and reused across queries — unlike every Python tier above, the
    body inlines into Catalyst at plan time, so it costs NOTHING at
    execution (full codegen, pushdown through it, no serialization
    boundary). This is the first tier a pipeline should reach for;
    the Python ladder exists for logic SQL can't express. The oracle
    states the same expression inline — which is exactly what the
    optimizer sees after substitution, so parity is trivially exact
    (priority-discounted price in integer cents)."""
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION bdap_priority_discount(
               price DOUBLE, priority STRING) RETURNS DOUBLE
           RETURN price * (1 - CASE WHEN priority IN ('1-URGENT', '2-HIGH')
                                    THEN 0.05 ELSE 0.0 END)"""
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("bdap_udf_orders")
    return spark.sql(
        """SELECT o_orderkey,
                  CAST(FLOOR(bdap_priority_discount(o_totalprice,
                                                    o_orderpriority) * 100)
                       AS BIGINT) AS discounted_e2
           FROM bdap_udf_orders WHERE o_orderkey < 1000"""
    )
