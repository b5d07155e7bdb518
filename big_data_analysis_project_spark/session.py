"""SparkSession factory.

Replaces the reference's session builder
(``spark_data_processor.py:267-330``) minus the Windows/HDFS
scaffolding, with three deliberate departures:

* Arrow python<->JVM transfer is **enabled** (the reference disabled it
  as a Windows workaround, ``spark_data_processor.py:279``);
* shuffle partitions default to the local core count and are left to
  AQE coalescing instead of the hardcoded ``4``;
* session time zone pinned to UTC so timestamp semantics match the
  DuckDB oracle used by the correctness harness.

At cluster scale the same factory applies: AQE (incl. skew-join
handling) re-plans at runtime, so the static partition number is only
the initial value.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

from pyspark.sql import SparkSession

__all__ = ["env_int", "get_spark", "run_config", "stop_spark"]

# the directory holding this package: Python workers import the
# package's UDFs and kernels from here, whatever their working directory
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)


def env_int(name: str, default):
    """The integer value of environment variable ``name``, or
    ``default`` when it is unset, empty or not an integer. A malformed
    value prints a one-line ``[env]`` warning on stderr instead of
    raising: every integer ``SPARK_GRAFT_*`` knob is read through here,
    some at import time, and a typo'd export must not take down the
    import or the warm phase."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        return int(raw)
    except ValueError:
        print(
            f"[env] {name}={raw!r} is not an integer; using the default {default}",
            file=sys.stderr,
        )
        return default


def _default_parallelism() -> int:
    return max(1, env_int("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "big_data_analysis_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target local[N] testing; on a real cluster pass
    ``master=None`` with externally-managed submit conf — every config
    below is still correct at 1000 executors (AQE owns runtime
    partition counts; Kryo + Arrow are scale-neutral).
    """
    cores = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # local-mode driver == every executor: Spark's 1g default heap
        # shared by N concurrent task threads gives each task ~20 MB of
        # execution memory at N=32 — the round-6 10x scale probe OOMed
        # exactly there. Size the heap to the task concurrency (512 MB
        # per slot, floor 2g) the way any real submit would; applies
        # only when THIS process launches the JVM (a pre-existing
        # session keeps its heap — heap size is launch-time-only).
        # Override with SPARK_GRAFT_DRIVER_MEM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(2, cores // 2)}g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # some driver-testdata generations ship events.parquet with
        # TIMESTAMP(NANOS), which the vectorized reader rejects; read
        # nanos as long (normalized in sources.readers). Harmless for
        # micros-encoded generations. Set at build time so no reader
        # mutates session conf as a side effect.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Python workers import from their working directory, so
        # without this a UDF key finds the package only when the
        # process started in the repo root (ModuleNotFoundError from
        # any other cwd). Spark prepends its own pyspark path and
        # appends the process PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_LOCAL_MASTER"):
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_config(spark: SparkSession) -> dict:
    """The launch facts that decide whether two timing artifacts are
    comparable (VERDICT r12 #4): heap, partitions, AQE, core count.
    Recorded in every bench/scale artifact so a mismatched-config α
    comparison is visible in the artifacts themselves — the round-12
    sf30skew probe ran on the 16g default heap and overstated α (1.48
    vs the heap-matched 0.76) with nothing in the artifact to say so.
    ``jvm_max_heap_gb`` is the ACTUAL live heap (Runtime.maxMemory),
    not the requested conf: heap is launch-time-only, so a
    pre-existing JVM silently ignores spark.driver.memory."""
    sc = spark.sparkContext
    return {
        "master": sc.getConf().get("spark.master", "?"),
        "driver_memory_conf": sc.getConf().get(
            "spark.driver.memory", "jvm-default"
        ),
        "jvm_max_heap_gb": round(
            sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**30, 2
        ),
        "shuffle_partitions": spark.conf.get(
            "spark.sql.shuffle.partitions", "?"
        ),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled", "?"),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
    }


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
