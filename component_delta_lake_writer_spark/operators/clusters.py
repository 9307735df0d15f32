"""Duplicate-cluster resolution: connected components over near-dup
pairs (the step after minhash_dedup in a real dedup pipeline — each
document keeps the canonical representative of its duplicate cluster).

This is the engine's one genuinely iterative operator (label
propagation to fixpoint), so it is NOT SQL-expressible in a single
oracle query — the driver records a rows-only check and the tests
verify against a driver-side union-find on the same pairs.

Algorithm (large-graph-safe): start with label(v) = v, repeatedly set
label(v) = min(label(v), min(label(neighbor))) via a join over the
(undirected) edge list until no label changes. Converges in
O(diameter) rounds; each round is two hash joins + a groupBy — all
shuffle-partitioned on the vertex id. Dedup-cluster graphs have tiny
diameter (near-clique clusters), so rounds ≈ 2-3 in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.session import local_relation


# Below this many edges the pair list is resolved driver-side with a
# union-find (a few MB at most: 2×8-byte ids × 1M ≈ 16 MB) instead of
# O(diameter) join+groupBy shuffle rounds. Post-LSH dup-pair lists are
# a tiny fraction of corpus size, so even a 100 TB corpus usually
# lands under this; when it doesn't, the distributed fixpoint below
# takes over — same result, no driver materialization.
LOCAL_CC_MAX_EDGES = 1_000_000


def _local_union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Path-halving union-find by min id; O(E α(V))."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        parent[x] = r
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the component label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {v: find(v) for v in parent}


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
    local_threshold: int = LOCAL_CC_MAX_EDGES,
) -> DataFrame:
    """Returns (id, component) — component = min vertex id reachable.

    ``edges`` is an undirected pair list (each pair once, any order).

    Adaptive execution: a cheap count gates between a driver-side
    union-find (edge list ≤ ``local_threshold`` — the common case
    after LSH banding, where dup pairs ≪ corpus rows) and the
    distributed min-label-propagation fixpoint (unbounded, one
    shuffle per round). Both produce identical (id, component) rows.
    """
    # Single-materialization gate (respelled r13, guide §1.4/§5.3):
    # the old `limit(threshold+1).collect()` looked bounded but
    # executed as CollectLimit — the driver pulls partition waves
    # incrementally (1, then scaleUpFactor more, ...), so an
    # under-threshold edge list still re-dispatched the whole
    # (expensive — post-LSH) final stage 4-5 times, and the
    # above-threshold case then recomputed the full lineage AGAIN for
    # the distributed path. Now: persist the cast edge projection,
    # materialize it with ONE full-parallelism count (the upstream
    # LSH shuffles run exactly once), and serve BOTH the local
    # union-find collect and the distributed fixpoint from the cache.
    # The driver still never holds more than threshold rows: the
    # bounded `limit().count()` gate decides before any collect.
    edges = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).persist()
    n_gate = edges.limit(local_threshold + 1).count()
    if n_gate <= local_threshold:
        rows = edges.collect()
        spark = edges.sparkSession
        edges.unpersist()
        labels = _local_union_find([(r[0], r[1]) for r in rows])
        # no edges, no labels: an empty relation
        return local_relation(
            spark, "id long, component long", list(zip(*labels.items()))
        )
    # Distributed path: edges is already persisted and materialized by
    # the gating count above, so the symmetrized union's two reads hit
    # the cache.
    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    sym = sym.persist()
    # Round 0 fused into initialization: the same groupBy that
    # discovers the vertex set already sees every neighbor, so start
    # from label(v) = min(v, min(neighbors)) instead of label(v) = v —
    # one fewer propagation round (each round = a join+groupBy shuffle
    # at graph scale, ~1.5 s of fixed stage overhead on small graphs).
    labels = (
        sym.groupBy(F.col("u").alias("id"))
        .agg(F.least(F.min("v"), F.first("u")).alias("component"))
        .persist()
    )

    prev = labels
    for round_no in range(max_iterations):
        # One shuffle per round: neighbor contributions and each
        # vertex's own label union into a single groupBy that computes
        # the new label AND carries the old one for the convergence
        # flag — no separate neighbor-min aggregation or old-vs-new
        # join (each a full extra shuffle at graph scale, and ~1s of
        # fixed stage overhead per round on small graphs).
        contrib = sym.join(
            labels.select(F.col("id").alias("v"), F.col("component").alias("c")),
            "v",
        ).select(
            F.col("u").alias("id"),
            F.col("c"),
            F.lit(None).cast("long").alias("old"),
        )
        own = labels.select(
            "id",
            F.col("component").alias("c"),
            F.col("component").alias("old"),
        )
        merged = (
            contrib.unionByName(own)
            .groupBy("id")
            .agg(F.min("c").alias("component"), F.max("old").alias("old"))
        )
        if round_no >= 1:
            # POINTER DOUBLING from round 2 on: label(v) ←
            # min(label(v), label(label(v))). Near-clique dedup
            # clusters converge inside the fused round 0 + round 1
            # (compression there would be a wasted join); still being
            # unconverged past round 1 means chain-like components, and
            # jumping through the label's own label halves the
            # remaining rounds — O(diameter) → O(log diameter) total,
            # one extra join per round. The propagate result is
            # lineage-truncated FIRST: the hop references it three
            # times, which un-truncated grows the logical plan 3× per
            # round (planner OOM by round ~8).
            merged = merged.localCheckpoint(eager=True)
            hop = merged.select(
                F.col("component").alias("hop_id")
            ).distinct().join(
                merged.select(
                    F.col("id").alias("hop_id"),
                    F.col("component").alias("hop_c"),
                ),
                "hop_id",
            )
            merged = (
                merged.join(hop, F.col("component") == F.col("hop_id"), "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("hop_c"), F.col("component")),
                    ).alias("component"),
                    "old",
                )
            )
        # localCheckpoint (not persist): an ITERATIVE fixpoint's plan
        # nests the whole previous round otherwise — lineage must be
        # CUT each round, not just cached. Spark's own iterative
        # algorithms (GraphX Pregel, ML ALS) checkpoint the same way;
        # the eager materialization also doubles as this round's
        # execution barrier, so `changed` below reads the stored rows.
        merged = merged.localCheckpoint(eager=True)
        changed = (
            merged.filter(F.col("component") != F.col("old")).limit(1).count()
        )
        prev.unpersist()
        prev = merged
        labels = merged.select("id", "component")
        if changed == 0:
            break
    sym.unpersist()
    edges.unpersist()
    return labels


def dedup_clusters(
    pairs: DataFrame, id_col_a: str = "id_a", id_col_b: str = "id_b"
) -> DataFrame:
    """Cluster near-dup pairs and pick the canonical keeper (min id):
    returns (id, keep_id, is_keeper)."""
    comp = connected_components(pairs, id_col_a, id_col_b)
    return comp.select(
        "id",
        F.col("component").alias("keep_id"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )


def dedup_clusters_by_score(
    pairs: DataFrame,
    scores: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Cluster near-dup pairs and keep the BEST-scoring member of each
    cluster (ties by lowest id) instead of the lowest id — the policy
    real corpus cleaning wants ("among near-dups, keep the highest-
    quality copy", not "keep whichever crawled first").

    ``scores`` is an (id, score) relation covering at least every id
    in ``pairs``. One extra shuffle over dedup_clusters: the
    per-component argmax (max_by over component). Returns
    (id, keep_id, is_keeper).
    """
    comp = connected_components(pairs, id_col_a, id_col_b)
    scored = comp.join(
        scores.select(
            F.col(id_col).alias("id"), F.col(score_col).alias("_sc")
        ),
        "id",
    )
    # deterministic argmax: (score DESC, id ASC) encoded as a single
    # orderable struct for max_by
    keepers = scored.groupBy("component").agg(
        F.expr("max_by(id, struct(_sc, -id))").alias("keep_id")
    )
    return (
        scored.join(keepers, "component")
        .select(
            "id",
            "keep_id",
            (F.col("id") == F.col("keep_id")).alias("is_keeper"),
        )
    )
