"""A corpus path written as a ``file:`` URI or through a ``viewfs://``
mount gives the plain path's stream results, compared on (rows,
sorted-row digest): a stream that stages nothing drains zero rows
without an error."""

from __future__ import annotations

import hashlib
from pathlib import Path

import pytest

from big_data_analysis_project_spark.registry import QUERIES

from .conftest import SF_SMOKE, viewfs_mount

# routed stream facade -> the stream key it routes to: at sf0.001
# every guard passes, so a facade returns its head's result
FACADES = {
    "routed_pair_join": "stream_pair_join",
    "routed_outer_join": "stream_outer_join",
    "routed_backfill_tail": "stream_backfill_tail",
}
# stream_python_source reads no corpus file: its source is a counter
KEYS = sorted(
    k for k in QUERIES if k.startswith("stream_") and k != "stream_python_source"
) + ["window_tumbling", *FACADES]


def _result(df) -> tuple[int, str]:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def forms(spark):
    return {"file": Path(SF_SMOKE).as_uri(), "viewfs": viewfs_mount(spark, SF_SMOKE)}


@pytest.fixture(scope="module")
def plain(spark):
    """The plain path's result of a key, computed once per module."""
    cache = {}

    def result(key):
        if key not in cache:
            cache[key] = _result(QUERIES[key](spark, SF_SMOKE))
        return cache[key]

    return result


@pytest.mark.parametrize("key", KEYS)
def test_uri_corpus_matches_plain_path(spark, forms, plain, key):
    want = plain(FACADES.get(key, key))
    assert want[0] > 0
    for form, path in forms.items():
        assert _result(QUERIES[key](spark, path)) == want, form
