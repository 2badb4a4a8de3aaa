"""Iterative DataFrame algorithms: Lloyd's k-means and connected components.

The driver contract classes these as genuinely non-SQL-expressible
(rows-only correctness checks); pytest verifies them against known answers
and invariants instead.

Scale shape — both follow the same discipline:
  * each iteration is ONE declarative DataFrame round (shuffle on the
    natural key), so an N-iteration run is N shuffles, not N collect/
    re-parallelize cycles;
  * per-iteration state lives in a small driver-side structure only when it
    is inherently small (k centroids); row-scale state (component labels)
    stays distributed;
  * loops truncate lineage with localCheckpoint so plan depth stays O(1)
    per iteration instead of O(iterations) — without it, iteration 20's
    plan would replay iterations 1-19.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from .similarity import dot


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kmeans(
    vectors: DataFrame,
    k: int,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's algorithm with deterministic seeding (first k ids).

    Returns (assignments DataFrame [id_col, cluster], final centroids).
    The E-step broadcasts the k centroids as literal arrays (no join); the
    M-step is posexplode -> per-dimension avg — one shuffle per iteration
    carrying (cluster, dim, partial-sum) triples.
    """
    seeds = (
        vectors.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [list(r[vec_col]) for r in seeds]

    def assign(cents):
        cent_lits = [F.array(*[F.lit(float(x)) for x in c]) for c in cents]
        dists = [_sq_dist(F.col(vec_col), cl) for cl in cent_lits]
        best = F.lit(0)
        best_d = dists[0]
        for i in range(1, k):
            cond = dists[i] < best_d
            best = F.when(cond, F.lit(i)).otherwise(best)
            best_d = F.when(cond, dists[i]).otherwise(best_d)
        return vectors.withColumn("cluster", best)

    for _ in range(max_iter):
        assigned = assign(centroids)
        new_cent = (
            assigned.select("cluster", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.transform("pm", lambda s: s["m"]).alias("cvec"))
        )
        got = {r["cluster"]: list(r["cvec"]) for r in new_cent.collect()}
        centroids = [got.get(i, centroids[i]) for i in range(k)]

    # one final E-step so the returned assignments are consistent with the
    # returned (post-update) centroids — without it a point can be labeled
    # with a cluster whose final centroid is no longer its nearest
    return assign(centroids).select(id_col, "cluster"), centroids


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components by iterative label propagation (min-label).

    Returns (node, component) where component = min node id reachable.
    Each iteration: propagate each node's current label to its neighbors,
    keep the min — one shuffle on node id. Converges in O(diameter)
    iterations; stops early when no label changes (so a generous max_iter
    costs nothing on converged graphs). Raises if the budget is exhausted
    before convergence — plain min-label needs up to graph-diameter rounds,
    and silently returning half-propagated labels would merge/split dup
    clusters incorrectly. This is the cluster step after near-dup pair
    generation (MinHash/SimHash pairs -> dup groups).
    """
    # r17 (guide §5 — cache only what is reused AND expensive): the edge
    # frame joins into EVERY round; without a persist each iteration
    # re-executed the caller's whole upstream pipeline (the dup lanes
    # feed the LSH candidate-verify joins in here — measured as the bulk
    # of connected_components' wall). Persist for the loop, release after.
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct().persist()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    # Convergence check (r17): labels are node ids and only ever DECREASE
    # (min of mins), so for INTEGRAL ids the label-sum is strictly
    # monotone and "sum unchanged" ⟺ "no label changed" — one cheap
    # aggregate over the just-checkpointed frame instead of a
    # join+filter+count probe (decimal(38,0): exact, no int64 overflow at
    # any node-id scale). Other id types (strings, binary hashes) have no
    # exact sum: each round joins old and new labels and stops when no
    # label changed.
    integral = isinstance(labels.schema["comp"].dataType, IntegralType)
    _sum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("comp").cast("decimal(38,0)"))
    ).collect()[0][0]
    prev_sum = _sum(labels) if integral else None
    converged = False
    try:
        for _ in range(max_iter):
            prop = (
                sym.join(labels, sym.a == labels.node)
                .select(F.col("b").alias("node"), F.col("comp"))
                .union(labels.select("node", "comp"))
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
            )
            prop = prop.localCheckpoint(eager=True)  # truncate lineage per round
            if integral:
                cur_sum = _sum(prop)
                done = cur_sum == prev_sum
                prev_sum = cur_sum
            else:
                old = labels.select("node", F.col("comp").alias("old"))
                done = prop.join(old, "node").filter("comp <> old").isEmpty()
            labels = prop
            if done:
                converged = True
                break
    finally:
        sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(graph diameter exceeds the budget); raise max_iter"
        )
    return labels


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table; returns
    (node, rank). The simplified textbook recurrence
    ``r' = (1-d)/N + d * Σ r(in-neighbor)/outdeg(in-neighbor)`` —
    dangling-node mass is dropped, not redistributed (feed symmetric
    edges if every node should keep out-degree), which keeps the
    per-iteration step a pure join+aggregate an independent engine can
    reproduce exactly (the oracle unrolls the same K iterations in SQL).

    Scale shape: the rank vector and degree table stay DISTRIBUTED,
    keyed by node; each iteration is one join-shuffle + one aggregate
    shuffle on node id (the same exchange pattern GraphX's Pregel uses),
    with lineage truncated per round — K iterations cost K bounded
    rounds, no driver-side state beyond the node count scalar."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    outdeg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges[src] == ranks["node"])
            .join(outdeg, src)
            .select(
                F.col(dst).alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit((1.0 - damping) / n_nodes)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        ranks = ranks.localCheckpoint(eager=True)  # O(1) plan depth
    return ranks
