"""Regression tests for the round-5 ADVICE items fixed in round 6.

The rewriter's tail-split case moved to ``tests/test_registry.py``
(``test_clause_split_edges``, on the clause split that replaced the tail
splitter); the import below keeps its name here.
"""

from pyspark.sql import functions as F

from test_registry import (  # noqa: F401 (moved; the old name stays)
    test_clause_split_edges as test_registry_split_tail_edges,
)


def test_lsh_bands_null_vector_drops_instead_of_raising(spark):
    """ADVICE r5 (similarity.py dim guard): size(NULL) is NULL, so the
    naive when(size==dim) guard sent NULL vectors into raise_error (with
    a NULL message).  NULL embeddings must silently drop out of the
    bucket join — the pre-guard behavior — while wrong-length vectors
    still fail loudly."""
    import pytest

    from arrow_udf_spark.operators.similarity import lsh_bands

    df = spark.createDataFrame(
        [(1, [0.5] * 64), (2, None)], "vec_id: long, embedding: array<double>"
    )
    rows = lsh_bands(df).collect()
    # the NULL vector produces band rows with NULL bkey (equi-join drops
    # them); it must NOT raise
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r["bkey"])
    assert all(k is not None for k in by_id[1])
    assert all(k is None for k in by_id[2])

    bad = spark.createDataFrame(
        [(1, [0.5] * 63)], "vec_id: long, embedding: array<double>"
    )
    with pytest.raises(Exception, match="length != dim"):
        lsh_bands(bad).collect()


def test_kmeans_oracle_orders_by_squared_distance():
    """ADVICE r5: the oracle must compare the same quantity Spark's
    argmin fold compares (the squared-distance sum), never its sqrt —
    sqrt can round two distinct squares to equal doubles and flip the
    cid tie-break."""
    from arrow_udf_spark.queries import ORACLE

    for name in ("kmeans_train_assign", "ivf_trained_topk", "ivf_multiprobe_topk"):
        sql = ORACLE[name]
        assert "list_distance" not in sql, name
        assert "list_sum(list_transform" in sql, name
