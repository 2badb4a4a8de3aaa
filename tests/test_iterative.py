"""Exactness tests for the iterative DataFrame algorithms (k-means, CC) —
these back the rows-only registry entries with known-answer checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from rxlan_aws_lakehouse_spark.ops.iterative import connected_components, kmeans


def test_kmeans_separable_clusters(spark):
    """Two well-separated blobs: k-means must recover them exactly."""
    blob_a = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(5)]
    blob_b = [(10 + i, [10.0 + 0.01 * i, 10.0]) for i in range(5)]
    df = spark.createDataFrame(blob_a + blob_b, "vec_id long, vec array<double>")
    assigned, centroids = kmeans(df, k=2, max_iter=5)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    a_clusters = {got[i] for i in range(5)}
    b_clusters = {got[10 + i] for i in range(5)}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters
    # centroids converged near blob centers
    cx = sorted(c[0] for c in centroids)
    assert abs(cx[0] - 0.02) < 0.1 and abs(cx[1] - 10.02) < 0.1


def test_kmeans_deterministic(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(30)],
        "vec_id long, vec array<double>",
    )
    a1, _ = kmeans(df, k=3, max_iter=3)
    a2, _ = kmeans(df, k=3, max_iter=3)
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_connected_components_known_graph(spark):
    """Two chains and an isolated edge: min-label components."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "src long, dst long",
    )
    out = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert {out[n] for n in (1, 2, 3, 4)} == {1}
    assert {out[n] for n in (10, 11)} == {10}
    assert {out[n] for n in (20, 21, 22)} == {20}


def test_connected_components_long_chain_converges(spark):
    """A path graph longer than one propagation step still converges
    (label must travel the full diameter)."""
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    out = {r["node"]: r["comp"] for r in connected_components(edges, max_iter=20).collect()}
    assert set(out.values()) == {0}
    assert len(out) == n + 1


def test_connected_components_raises_when_budget_too_small(spark):
    """Exhausting max_iter before convergence must raise, not silently
    return half-propagated labels (wrong dup-cluster assignments)."""
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_kmeans_assignments_match_returned_centroids(spark):
    """Every returned assignment must be to the NEAREST returned centroid —
    the final E-step keeps the (assignments, centroids) pair consistent."""
    df = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)],
        "vec_id long, vec array<double>",
    )
    assigned, centroids = kmeans(df, k=3, max_iter=2)  # stop before convergence
    vecs = {r["vec_id"]: list(r["vec"]) for r in df.collect()}
    labels = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    for vid, lbl in labels.items():
        d = [sum((a - b) ** 2 for a, b in zip(vecs[vid], c)) for c in centroids]
        assert d[lbl] == min(d), (vid, lbl, d)


def test_pagerank_known_graph(spark):
    """Star graph, symmetric edges: hub 1 <-> leaves 2,3,4. Closed form
    after convergence-ish iterations: hub rank ≈ 3x a leaf's. With d=0.85,
    N=4: leaf sends all rank to hub, hub splits over 3 leaves. Verify the
    exact 2-iteration recurrence by hand."""
    from rxlan_aws_lakehouse_spark.ops.iterative import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 1), (3, 1), (4, 1)],
        "src int, dst int",
    )
    pr = {r["node"]: r["rank"] for r in pagerank(edges, iters=2).collect()}
    # iter1: hub = 0.15/4 + 0.85*(3 * 0.25/1) = 0.675; leaf = 0.0375 + 0.85*(0.25/3)
    leaf1 = 0.15 / 4 + 0.85 * (0.25 / 3)
    hub1 = 0.15 / 4 + 0.85 * (3 * 0.25)
    # iter2: hub gets all three leaves' rank; each leaf gets hub1/3
    hub2 = 0.15 / 4 + 0.85 * (3 * leaf1)
    leaf2 = 0.15 / 4 + 0.85 * (hub1 / 3)
    assert abs(pr[1] - hub2) < 1e-12
    for n in (2, 3, 4):
        assert abs(pr[n] - leaf2) < 1e-12
    # total mass conserved on a symmetric (dangling-free) graph
    assert abs(sum(pr.values()) - 1.0) < 1e-9


def test_pagerank_dangling_drops_mass(spark):
    """Documented semantics: a node with no out-edges drops its mass
    (simplified recurrence) — total rank < 1 on an asymmetric chain."""
    from rxlan_aws_lakehouse_spark.ops.iterative import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    pr = {r["node"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    assert sum(pr.values()) < 1.0
    assert pr[3] > pr[2] > 0  # downstream accumulates


def test_connected_components_string_ids_propagate_fully(spark):
    """Non-numeric node ids have no exact label sum; convergence must
    still wait until no label changes (a chain needs several rounds)."""
    chain = [f"n{i:02d}" for i in range(8)]
    edges = spark.createDataFrame(
        list(zip(chain, chain[1:])) + [("x", "y")], "src string, dst string"
    )
    out = {
        r["node"]: r["comp"]
        for r in connected_components(edges, max_iter=20).collect()
    }
    assert {out[n] for n in chain} == {"n00"}
    assert out["x"] == out["y"] == "x"
