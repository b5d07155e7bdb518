from __future__ import annotations

import uuid
from pathlib import Path

import pytest

from big_data_analysis_project_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def viewfs_mount(spark, target) -> str:
    """A ``viewfs://`` URI (which ``pathlib`` cannot open) for the local
    dir ``target``; a new mount table per call, as Hadoop caches one
    file system per table."""
    table = f"mt{uuid.uuid4().hex[:12]}"
    spark._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{table}.link./data", Path(target).resolve().as_uri()
    )
    return f"viewfs://{table}/data"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="bdap-tests", shuffle_partitions=8)
    yield s
    # release the JVM gateway and warehouse/derby locks — a lingering
    # metastore lock from an unkilled JVM fails the NEXT run's
    # getOrCreate with "Another instance of Derby may have booted"
    s.stop()
