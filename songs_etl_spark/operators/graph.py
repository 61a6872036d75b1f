"""Distributed connected components — the clustering step of near-duplicate
deduplication (pairs → duplicate groups → one canonical id per group).

Iterative min-label propagation: every vertex repeatedly adopts the minimum
label among itself and its neighbors; the fixpoint labels each vertex with
its component's minimum vertex id. Each round is two key-partitioned hash
joins plus one aggregation — no driver-side data, no crossJoin — so the same
plan runs per round at any graph size. Round count = graph diameter;
near-dup graphs are dense small-diameter clusters, so a handful of rounds
converges (for adversarial long chains the large-star/small-star algorithm
[Kiveris et al., MapReduce and Beyond] halves the diameter per round — noted
as the escalation path, not needed for dedup workloads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """Label each vertex of the undirected graph given by ``pairs`` with its
    component's minimum vertex id.

    Returns a DataFrame (id, component_id) covering every vertex that appears
    in at least one pair. Deterministic: the labeling is a pure function of
    the edge set. Stops early as soon as a round changes no label; raises if
    ``max_iterations`` rounds don't converge (diameter larger than expected —
    switch to large-star/small-star rather than silently truncating).
    """
    from songs_etl_spark.plans._util import cut, iterate

    half = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = half.unionByName(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    labels = cut(edges.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id")))

    def propagate(labels: DataFrame) -> DataFrame | None:
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = cut(
            labels.join(neighbor_min, "id", "left").select(
                "id", F.least("label", "nbr_label").alias("label")
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        return None if changed == 0 else new_labels

    labels, converged = iterate(labels, propagate, max_iterations)
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    return labels.select("id", F.col("label").alias("component_id"))


def _symmetric(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    return edges.unionByName(rev).filter(F.col("a") != F.col("b")).distinct()


def _min_neighbor(edges_sym: DataFrame) -> DataFrame:
    """m(u) = min(Γ(u) ∪ {u}) over a symmetric edge list."""
    return edges_sym.groupBy("a").agg(
        F.min(F.least(F.col("a"), F.col("b"))).alias("m")
    )


def connected_components_twostar(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond", 2014).

    Same contract as ``connected_components`` — (id, component_id =
    component min) for every vertex in ``pairs`` — but each round HALVES the
    effective diameter instead of shrinking it by one, so convergence is
    O(log² n) rounds on any graph, including the adversarial long chains
    where plain min-label propagation needs diameter rounds. Per round:
    one (vertex-keyed) aggregation for m(u) plus one equi-join — the same
    shuffle budget as a propagation round.

    large-star: every neighbor v > u re-attaches to m(u);
    small-star: every neighbor v ≤ u (and u itself) attaches to m(u).
    At the fixpoint the edge set is a union of stars rooted at component
    minima. Convergence is detected by edge-set fingerprint (count +
    xxhash64 sum — order-insensitive, collision odds ~2⁻⁶⁴); the bound
    raises rather than silently truncating.
    """
    from songs_etl_spark.plans._util import cut, iterate

    raw = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = cut(_symmetric(raw))
    # Vertices come from the RAW pairs, not the symmetrized edges: _symmetric
    # drops self-loops (a != b), so a vertex appearing only as (x, x) would
    # otherwise vanish instead of getting component_id = x via the final
    # left-join coalesce — same contract as connected_components.
    vertices = cut(
        raw.select(F.col("a").alias("id"))
        .unionByName(raw.select(F.col("b").alias("id")))
        .distinct()
    )

    def fingerprint(e: DataFrame) -> tuple[int, object]:
        # Hash sum in DECIMAL: a LongType sum of 64-bit hashes overflows
        # under ANSI mode; decimal(38,0) is exact for any edge count.
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).first()
        return row["n"], row["h"]

    def star_round(e: DataFrame, large: bool) -> DataFrame:
        m = _min_neighbor(e)
        joined = e.join(m, "a")
        if large:
            attach = joined.filter(F.col("b") > F.col("a")).select(
                F.col("b").alias("a"), F.col("m").alias("b")
            )
        else:
            attach = joined.filter(F.col("b") <= F.col("a")).select(
                F.col("b").alias("a"), F.col("m").alias("b")
            ).unionByName(joined.select("a", F.col("m").alias("b")))
        return _symmetric(attach)

    def two_star(state: tuple[DataFrame, tuple]) -> tuple[DataFrame, tuple] | None:
        edges, fp = state
        new_edges = cut(star_round(star_round(edges, large=True), large=False))
        new_fp = fingerprint(new_edges)
        return None if new_fp == fp else (new_edges, new_fp)

    (edges, _), converged = iterate((edges, fingerprint(edges)), two_star, max_iterations)
    if not converged:
        raise RuntimeError(
            f"connected_components_twostar did not converge in {max_iterations} rounds"
        )
    # Stars: every vertex's component is min(self, neighbors).
    labels = _min_neighbor(edges).select(
        F.col("a").alias("id"), F.col("m").alias("component_id")
    )
    out = vertices.join(labels, "id", "left").select(
        "id", F.coalesce("component_id", F.col("id")).alias("component_id")
    )
    return out
