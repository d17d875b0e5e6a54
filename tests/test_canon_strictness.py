"""The local oracle replica must be exactly as strict as the driver's
canonicalizer.

Round 3 shipped three keys whose array-typed outputs crashed the
driver's ``_canon`` (pandas ``sort_values`` → ``Categorical`` factorize
→ ``TypeError: unhashable type: 'numpy.ndarray'``) while the replica
printed ok, because it pre-stringified list columns before sorting
(VERDICT r3 #2). These tests pin the strict behavior: non-hashable
column values raise in ``norm_frame``. The per-key ban on
complex-typed (array/map/struct) output columns runs inside
``test_registry.py::test_query_runs_on_smallest_sf``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from check_correctness import norm_frame


def test_norm_frame_rejects_ndarray_columns():
    # Spark toPandas materializes array<T> columns as np.ndarray cells.
    df = pd.DataFrame({"id": [2, 1], "vec": [np.array([1.0, 2.0]), np.array([3.0])]})
    with pytest.raises(TypeError, match="unhashable"):
        norm_frame(df)


def test_norm_frame_rejects_list_columns():
    # DuckDB .df() materializes LIST columns as Python lists.
    df = pd.DataFrame({"id": [2, 1], "vec": [[1.0, 2.0], [3.0]]})
    with pytest.raises(TypeError, match="unhashable"):
        norm_frame(df)


def test_norm_frame_sorts_scalars_with_nulls():
    df = pd.DataFrame(
        {"k": ["b", None, "a"], "n": [2.0, 1.0, None], "i": [3, 1, 2]}
    )
    out = norm_frame(df)
    assert list(out.columns) == ["i", "k", "n"]
    assert out["k"].tolist() == [None, "a", "b"]
    assert len(out) == 3


def test_tracked_persists_are_released(spark, sf_dir):
    """Operator-scoped persists (MinHash signature table) must register
    with session.track_persist and be releasable between queries —
    the round-3 hot-session degradation came from exactly these
    accumulating for the session's lifetime."""
    from logistics_data_pipeline_spark import registry, session
    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm.dedup import neardup_minhash

    session.release_tracked_persists()
    docs = load_table(spark, sf_dir, "documents")
    neardup_minhash(docs).count()
    assert len(session._TRACKED_PERSISTS) >= 1
    tracked = list(session._TRACKED_PERSISTS)
    released = registry.clear_session_caches(spark)
    assert released >= 1
    assert session._TRACKED_PERSISTS == []
    from pyspark import StorageLevel

    for df in tracked:
        assert df.storageLevel == StorageLevel.NONE

