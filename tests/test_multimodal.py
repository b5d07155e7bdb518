"""Multimodal plumbing tests: the stub gate and the Arrow batch
contract (the oracle harness already value-checks mm_* keys)."""

from __future__ import annotations

import pytest

from big_data_analysis_project_spark.functions.multimodal import (
    DECODE_SCHEMA,
    decode_image,
    decode_meta_batches,
)
from big_data_analysis_project_spark.registry import QUERIES

from .conftest import SF_SMOKE


def test_decode_image_stub_gate():
    """Without pillow the real decoder must fail loudly with swap-in
    instructions, never silently fake."""
    pytest.importorskip_reason = None
    try:
        import PIL  # noqa: F401

        pytest.skip("pillow unexpectedly present; stub gate not reachable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="pillow"):
        decode_image(b"\x89PNG\r\n")


def test_decode_meta_batches_shape():
    """The mapInPandas body must honor the batch-iterator contract:
    one output frame per input batch, schema columns by name."""
    import pandas as pd

    batches = [
        pd.DataFrame({"doc_id": [1, 2], "payload": [b"abc", b""]}),
        pd.DataFrame({"doc_id": [3], "payload": [b"\x00\xff"]}),
    ]
    out = list(decode_meta_batches(iter(batches)))
    assert len(out) == 2, "must yield one frame per Arrow batch"
    cols = [c.split()[0] for c in DECODE_SCHEMA.split(", ")]
    assert list(out[0].columns) == cols
    # empty payload row survives with zeroed meta (null handling)
    row = out[0].iloc[1]
    assert row["n_bytes"] == 0 and row["width"] == 1 and row["checksum"] == 0


def test_mm_decode_meta_multi_batch(spark):
    """Force tiny Arrow batches so the key exercises >1 batch per
    partition — result must be identical to the single-batch run."""
    baseline = {tuple(r) for r in QUERIES["mm_decode_meta"](spark, SF_SMOKE).collect()}
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        small = {tuple(r) for r in QUERIES["mm_decode_meta"](spark, SF_SMOKE).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert small == baseline and len(baseline) == 500


def test_mm_resize_from_foreign_cwd_without_pythonpath(spark, tmp_path):
    """Python workers must import the package whatever the process's
    working directory: a get_spark session started from a temp dir,
    with PYTHONPATH unset, runs the mapInPandas key to the same row
    count as the session started from the repo root."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    code = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from big_data_analysis_project_spark.session import get_spark\n"
        "from big_data_analysis_project_spark.registry import QUERIES\n"
        "spark = get_spark(app_name='foreign-cwd', master='local[2]')\n"
        f"print('ROWS', QUERIES['mm_resize'](spark, {SF_SMOKE!r}).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS ")]
    want = QUERIES["mm_resize"](spark, SF_SMOKE).count()
    assert rows == [f"ROWS {want}"] and want > 0
