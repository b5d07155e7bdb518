"""``session.env_int``: every integer SPARK_GRAFT_* knob falls back to
its default on an unset, empty or malformed value, warning on stderr
for the malformed one, instead of raising at import or mid-warm."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from big_data_analysis_project_spark.session import env_int

REPO = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize(
    "raw, want, warns",
    [(None, 7, False), ("", 7, False), (" 42 ", 42, False), ("4O", 7, True)],
    ids=["unset", "empty", "valid", "typo"],
)
def test_env_int(monkeypatch, capsys, raw, want, warns):
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_TEST_KNOB", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", raw)
    assert env_int("SPARK_GRAFT_TEST_KNOB", 7) == want
    err = capsys.readouterr().err
    assert ("[env] SPARK_GRAFT_TEST_KNOB" in err) == warns, err


def test_registry_imports_with_typoed_sample_cap(tmp_path):
    """The driver sample cap is read at import time: a typo used to
    make importing the registry raise ValueError. The import also
    creates no directory (the sink root is made on first use), seen
    through an audit hook on os.mkdir."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_SAMPLE_CAP="lots", PYTHONPATH=str(REPO))
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; made = []; sys.addaudithook("
            "lambda e, a: made.append(a[0]) if e == 'os.mkdir' else None); "
            "import big_data_analysis_project_spark.registry as R; "
            "print(R.similarity_q._DRIVER_SAMPLE_CAP, made)",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "50000 []"
    assert "[env] SPARK_GRAFT_DRIVER_SAMPLE_CAP='lots'" in proc.stderr


def test_warm_survives_typoed_mllib_cap(spark, tmp_path, monkeypatch):
    """A typo'd MLlib pairs cap used to raise ValueError out of the
    mllib_model build and abort the whole warm phase; it now falls back
    to the default budget and the model warms."""
    from pyspark.sql import functions as F

    from big_data_analysis_project_spark.registry import (
        ARTIFACTS,
        warm_shared_artifacts,
    )

    rows = [(i, "alpha beta gamma delta epsilon", "en", "t") for i in range(3)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text")).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    monkeypatch.setenv("SPARK_GRAFT_MLLIB_PAIRS_CAP", "2.5e8")
    keep = {"shingles", "mllib_model"}
    out = warm_shared_artifacts(
        spark, str(tmp_path), skip=frozenset(ARTIFACTS) - keep
    )
    assert set(out) == keep
