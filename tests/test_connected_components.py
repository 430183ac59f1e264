"""Connected-components cluster collapse: correctness on known graphs."""

from pyspark.sql import functions as F

from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
    assign_canonical,
    connected_components,
    jaccard_pairs,
)


def _cc_map(edges_df):
    return {r["node"]: r["comp"] for r in edges_df.collect()}


def test_two_components_and_min_label(spark):
    # component {1,2,3,4} (path) and {10, 11} — labels collapse to minimum
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = _cc_map(connected_components(edges))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_long_chain_converges_in_log_rounds(spark):
    # a 64-node path: naive propagation needs 63 rounds; pointer jumping
    # must finish well within max_iter=10
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    got = _cc_map(connected_components(edges, max_iter=10))
    assert set(got.values()) == {0}
    assert len(got) == 65


def test_assign_canonical_covers_isolated_docs(spark, documents):
    pairs = jaccard_pairs(documents, n=3, threshold=0.4)
    out = assign_canonical(documents, pairs)
    assert out.count() == documents.count()
    # canonical id is always <= own id (min-label convention)
    assert out.filter(F.col("canonical_id") > F.col("doc_id")).count() == 0
    # docs without near-dups keep their own id
    paired = {r["doc_a"] for r in pairs.collect()} | {
        r["doc_b"] for r in pairs.collect()
    }
    own = out.filter(~F.col("doc_id").isin(list(paired)) if paired else F.lit(True))
    assert own.filter(F.col("canonical_id") != F.col("doc_id")).count() == 0
    # keep-one filter drops exactly (cluster size - 1) docs per cluster
    kept = out.filter(F.col("doc_id") == F.col("canonical_id")).count()
    n_clusters = out.select("canonical_id").distinct().count()
    assert kept == n_clusters


# ---------------------------------------------------------------------------
# label propagation (r12)


def test_label_propagation_triangles_converge_and_separate(spark):
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import label_propagation

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    adj = spark.createDataFrame(
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
        "node long, nbr long",
    )
    out = {r["node"]: r["community"] for r in label_propagation(adj, iters=3).collect()}
    assert set(out) == {1, 2, 3, 10, 11, 12}
    # each triangle agrees internally; the two triangles differ
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11] == out[12]
    assert out[1] != out[10]


def test_label_propagation_deterministic_under_repartition(spark):
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import label_propagation

    edges = [(i, i + 1) for i in range(1, 30)] + [(5, 20), (7, 25), (1, 15)]
    rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    adj = spark.createDataFrame(rows, "node long, nbr long")
    a = sorted(map(tuple, label_propagation(adj, iters=3).collect()))
    b = sorted(map(tuple, label_propagation(adj.repartition(13), iters=3).collect()))
    assert a == b and len(a) == 30


def test_label_propagation_null_endpoints_never_win(spark):
    """The argmax is ``min(struct(-cnt, lab))``, and a struct orders a
    NULL field first: a NULL label reaching the pick would win every
    node it touches.  Edges with a NULL endpoint must leave the other
    nodes' communities as they are without them, and no node may end up
    in a NULL community."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import label_propagation

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    clean = {
        r["node"]: r["community"]
        for r in label_propagation(
            spark.createDataFrame(rows, "node long, nbr long"), iters=3
        ).collect()
    }
    dirty = {
        r["node"]: r["community"]
        for r in label_propagation(
            spark.createDataFrame(rows + [(1, None), (None, 1)], "node long, nbr long"),
            iters=3,
        ).collect()
    }
    assert None not in dirty.values()
    assert {k: v for k, v in dirty.items() if k is not None} == clean


def test_label_propagation_rejects_bad_iters(spark):
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import label_propagation

    adj = spark.createDataFrame([(1, 2), (2, 1)], "node long, nbr long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="iters"):
        label_propagation(adj, iters=0)


# ---------------------------------------------------------------------------
# triangle counting (r12)


def test_triangle_counts_k4_plus_pendant(spark):
    """K4 has 4 triangles, each node in exactly 3; a pendant node joined
    by one edge is in none (and so absent from the output)."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        triangle_counts,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(k4 + [(4, 99)], "u long, v long")
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    assert sum(out.values()) == 3 * 4  # 4 triangles x 3 corners


def test_triangle_counts_orientation_and_dedup_invariance(spark):
    """The input contract is loose (any endpoint order, possible
    duplicates, self-loops) — counts must be invariant to all of it."""
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        triangle_counts,
    )

    tri = [(1, 2), (2, 3), (3, 1)]
    messy = tri + [(2, 1), (3, 3), (1, 2)]
    a = sorted(map(tuple, triangle_counts(spark.createDataFrame(tri, "u long, v long")).collect()))
    b = sorted(map(tuple, triangle_counts(spark.createDataFrame(messy, "u long, v long")).collect()))
    assert a == b == [(1, 1), (2, 1), (3, 1)]
