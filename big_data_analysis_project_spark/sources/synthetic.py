"""S4: synthetic TB data, Spark-native.

The reference's fallback generator builds per-country rows in a Python
loop with numpy noise (``tb_data_collection.py:251-318``). The
``gen_synthetic`` registry key declares the same grid as a cross-join
of literal dimension frames plus deterministic column expressions;
this module holds the country profile it shares with the Python data
sources below.
"""

from __future__ import annotations

# base incidence per 100k by iso3, mirroring the reference's hardcoded
# country profile table (tb_data_collection.py:255-266 semantics)
_BASE_RATES = {
    "KHM": 302.0,
    "IDN": 312.0,
    "LAO": 155.0,
    "MYS": 92.0,
    "MMR": 338.0,
    "PHL": 554.0,
    "SGP": 47.0,
    "THA": 150.0,
    "VNM": 176.0,
    "TLS": 498.0,
}

_POPULATIONS = {
    "KHM": 16_700_000,
    "IDN": 273_500_000,
    "LAO": 7_400_000,
    "MYS": 32_400_000,
    "MMR": 54_400_000,
    "PHL": 109_600_000,
    "SGP": 5_700_000,
    "THA": 69_800_000,
    "VNM": 97_300_000,
    "TLS": 1_300_000,
}


# --- Python Data Source API (Spark 4) ----------------------------------


class SyntheticTBDataSource:
    """Custom PYTHON DATA SOURCE producing the synthetic TB grid —
    the Spark-4 Python DataSource API is the idiomatic home for the
    reference's REST collectors (ref: tb_data_collection.py:128-233):
    instead of staging API responses to files, the source yields rows
    directly into the scan, partitioned for parallel fetch (here one
    InputPartition per country; a real REST source partitions by page
    or shard and each executor pulls its own partition).

    Deterministic arithmetic noise identical to ``gen_synthetic``'s
    column expressions, so both share one DuckDB oracle. The source
    emits RAW doubles and leaves rounding to the consuming query's
    JVM-side ``F.round`` — Python's ``round()`` half-evens where
    Spark/DuckDB agreed on half-up for this grid (bit us on exactly
    one of 60 values: LAO 2018, 154.535), and a source shouldn't bake
    presentation rounding into the data anyway."""

    # real import deferred: pyspark.sql.datasource exists only where
    # the runtime supports the API, and this module must import
    # everywhere
    @classmethod
    def _impl(cls):
        from pyspark.sql.datasource import (
            DataSource,
            DataSourceReader,
            EqualTo,
            InputPartition,
        )

        class _Reader(DataSourceReader):
            """Supports FILTER PUSHDOWN on iso3: an accepted EqualTo
            prunes source partitions (the REST analogue: fetch one
            country's endpoint instead of all ten) — Spark re-applies
            only the filters yielded back as unsupported."""

            def __init__(self):
                self._iso3 = None

            def pushFilters(self, filters):
                for f in filters:
                    if isinstance(f, EqualTo) and f.attribute in (("iso3",), "iso3"):
                        self._iso3 = f.value
                    else:
                        yield f

            def partitions(self):
                if self._iso3 is not None:
                    keys = [self._iso3] if self._iso3 in _BASE_RATES else []
                else:
                    keys = sorted(_BASE_RATES)
                return [InputPartition(iso3) for iso3 in keys]

            def read(self, partition):
                iso3 = partition.value
                rate0 = _BASE_RATES[iso3]
                pop = float(_POPULATIONS[iso3])
                for year in range(2018, 2024):
                    noise = (
                        0.9
                        + ((year * 37 + ord(iso3[0]) * 11 + ord(iso3[2]) * 5) % 200)
                        / 1000.0
                    )
                    rate = rate0 * (0.98 ** (year - 2018)) * noise
                    yield (iso3, year, rate, rate * pop / 100_000.0)

        class _Source(DataSource):
            @classmethod
            def name(cls):
                return "bdap_synth"

            def schema(self):
                return "iso3 string, year int, raw_100k double, raw_num double"

            def reader(self, schema):
                return _Reader()

        return _Source


def register_synthetic_datasource(spark) -> str:
    """Register the custom source under its format name and return it.
    Python-source filter pushdown sits behind a conf that defaults
    OFF (and a reader implementing pushFilters FAILS outright when
    it's off) — runtime-settable, so enable it here rather than
    depending on how the consuming session was built."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    src = SyntheticTBDataSource._impl()
    spark.dataSource.register(src)
    return src.name()


STREAM_BATCH_ROWS = 100
STREAM_TOTAL_ROWS = 300


def register_counter_stream_source(spark) -> str:
    """Register a STREAMING Python Data Source (Spark 4
    ``SimpleDataSourceStreamReader``): a deterministic integer
    sequence delivered in {offset -> offset+100} micro-batches until
    row {STREAM_TOTAL_ROWS}, then empty batches forever. The offset
    dict is the source's replay contract — on restart Spark hands the
    last committed offset back to ``read``, which is exactly how a
    REST/poll collector makes re-delivery idempotent. Driver-side
    simple reader: fine for control-plane-sized streams (the batch
    twin SyntheticTBDataSource shows the partitioned form)."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _Reader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"v": 0}

        def read(self, start):
            s = int(start["v"])
            if s >= STREAM_TOTAL_ROWS:
                return iter([]), {"v": s}
            e = min(s + STREAM_BATCH_ROWS, STREAM_TOTAL_ROWS)
            return iter([(i,) for i in range(s, e)]), {"v": e}

        def commit(self, end):
            pass

    class _Source(DataSource):
        @classmethod
        def name(cls):
            return "bdap_counter_stream"

        def schema(self):
            return "i bigint"

        def simpleStreamReader(self, schema):
            return _Reader()

    spark.dataSource.register(_Source)
    return _Source.name()
