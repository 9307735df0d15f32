"""Iterative graph computation on DataFrames: PageRank.

The link-analysis pass of a web-corpus pipeline (rank-weighted
sampling of crawled documents — the original reason PageRank exists
is literally training-data curation). Spark-first shape: each power
iteration is one edges⋈ranks join + one aggregation; the edge table
is the only big relation and is scanned once per iteration, ranks are
node-sized. Iteration count is fixed (pipelines run a handful), not
convergence-polled — no driver round-trips.

Determinism contract (the same bar as kmeans/PQ): per-edge
contributions are rounded and accumulated as DECIMAL so the per-node
sum is order-free, making every iteration — and therefore the final
ranks — bit-identical to the unrolled SQL oracle at any parallelism.
Dangling-node mass is dropped (identically on both engines), the
standard simplification when ranks are used for relative weighting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from component_delta_lake_writer_spark.functions.exact import quantize
from component_delta_lake_writer_spark.session import local_relation


def pagerank(
    edges: DataFrame,
    iterations: int = 2,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over an edge list (multi-edges count).
    Returns (node, rank) for every node."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(outdeg, "src")
            .select(
                "dst",
                quantize(F.col("rank") / F.col("od"), 12).alias("w"),
            )
        )
        sums = contrib.groupBy("dst").agg(
            F.sum("w").cast("double").alias("s")
        )
        ranks = nodes.join(
            sums, nodes["node"] == sums["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected edge list — the graph-density diagnostic behind
    community detection and link-spam screens (a crawl graph whose
    clustering collapses is a link farm; one whose clustering spikes
    is a mirror cluster the dedup pass missed).

    The scalable formulation is degree orientation (a.k.a.
    compact-forward): order nodes by (degree, id), orient every
    undirected edge from the smaller to the larger endpoint, and join
    oriented adjacency with itself on the source.  Each triangle is
    then counted exactly once (at its lowest-ordered vertex), and the
    wedge join is bounded by Σ outdeg² where outdeg ≤ O(√m) — the
    standard trick that keeps a power-law hub from exploding the
    self-join (a raw wedge join on an unoriented graph is Σ deg²,
    quadratic in the hub degree).  Three shuffles total: the degree
    aggregation, the wedge self-join, and the closing-edge semi-join;
    the degree table is node-sized and broadcast when small.

    Returns ONE row: (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering = 3·triangles / wedges, NULL on a wedge-free
    graph).  n_wedges is the undirected path-of-length-2 count
    Σ C(deg, 2).
    """
    e = (
        edges.filter(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(
        F.col("node").alias("a"), F.col("deg").alias("dega")
    )
    db = deg.select(
        F.col("node").alias("b"), F.col("deg").alias("degb")
    )
    # orient from the (deg, id)-smaller endpoint to the larger; the
    # comparison key is total, so orientation is deterministic
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("dega") < F.col("degb"))
                | (
                    (F.col("dega") == F.col("degb"))
                    & (F.col("a") < F.col("b"))
                ),
                F.struct(
                    F.col("a").alias("u"),
                    F.col("b").alias("v"),
                    F.col("degb").alias("degv"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("u"),
                    F.col("a").alias("v"),
                    F.col("dega").alias("degv"),
                )
            )
            .alias("o")
        )
        .select("o.u", "o.v", "o.degv")
    )
    left = oriented.select(
        F.col("u"), F.col("v").alias("x"), F.col("degv").alias("dx")
    )
    right = oriented.select(
        F.col("u"), F.col("v").alias("y"), F.col("degv").alias("dy")
    )
    wedges_oriented = left.join(right, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    )
    tri = wedges_oriented.join(closing, ["x", "y"], "left_semi")
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            # coalesce: SUM over an empty/edge-free graph is NULL,
            # but "zero wedges" is a count, not an unknown.
            # Integer arithmetic end to end: deg*(deg-1) is always
            # even, so `div 2` is exact — a float division here would
            # make cross-engine parity hinge on the double sum staying
            # under 2^53 AND on round-vs-truncate cast semantics
            # (DuckDB CAST(double AS BIGINT) rounds, Spark truncates).
            F.coalesce(
                F.sum(
                    F.expr(
                        "(CAST(deg AS BIGINT) * (deg - 1)) div 2"
                    )
                ),
                F.lit(0).cast("long"),
            )
            .cast("long")
            .alias("n_wedges"),
        )
    )
    return stats.crossJoin(n_tri).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_wedges").cast("long").alias("n_wedges"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        F.when(
            F.col("n_wedges") > 0,
            F.round(
                F.lit(3.0)
                * F.col("n_triangles")
                / F.col("n_wedges"),
                6,
            ),
        ).alias("global_clustering"),
    )


def bfs_distances(
    edges: DataFrame,
    sources: list,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source breadth-first search over an undirected edge
    list: every node reachable from ``sources`` within ``max_hops``,
    with its exact hop distance — the blast-radius primitive behind
    "what else does this corrupted record touch" lineage walks and
    crawl-frontier expansion.

    Spark-first shape mirrors pagerank: a FIXED number of rounds
    (``max_hops`` — no convergence polling, no driver round-trips in
    the loop), each round ONE join of the current frontier against
    the symmetrized adjacency plus one anti-join against the known
    set, so a node's distance is assigned the first time it is seen
    — the textbook level-synchronous BFS.  The frontier and known
    sets are persisted per round to keep lineage linear.  Distance
    is deterministic (min over all paths) by construction.

    Returns (node, dist), dist 0..max_hops; sources themselves are
    dist 0.  ``sources`` is a bounded driver-side list (seed ids),
    never corpus-scale.  The seed DataFrame's node type is DERIVED
    from the edge column's type (string node ids work exactly like
    integer ones — no silent join coercion).  All intermediates are
    persisted for lineage linearity DURING the walk and unpersisted
    before return; the result itself carries no cached blocks (it is
    a plain union of the per-round frontiers, re-derivable).
    """
    spark = edges.sparkSession
    e = edges.filter(
        F.col(src).isNotNull()
        & F.col(dst).isNotNull()
        & (F.col(src) != F.col(dst))
    )
    # no distinct here: duplicate/multi-edges only produce duplicate
    # neighbor candidates, which the per-round frontier distinct
    # collapses anyway — a global edge dedup would be a full shuffle
    # paid once for what the round-level distinct gets for free
    sym = (
        e.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            e.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .persist()
    )
    node_type = edges.schema[src].dataType
    seed_schema = T.StructType(
        [T.StructField("node", T.StringType(), False)]
    )
    known = (
        local_relation(spark, seed_schema, [[str(s) for s in sources]])
        .select(
            F.col("node").cast(node_type).alias("node"),
            F.lit(0).cast("int").alias("dist"),
        )
        .persist()
    )
    to_release = [sym, known]
    frontier = known
    for h in range(1, max_hops + 1):
        nbrs = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
        )
        fresh = (
            nbrs.join(known, "node", "left_anti")
            .withColumn("dist", F.lit(h).cast("int"))
            .persist()
        )
        known = known.unionByName(fresh).persist()
        to_release.extend([fresh, known])
        frontier = fresh
    # materialize the final level set ONCE, then release every cached
    # block the walk pinned (r10 advice: repeated calls accumulated
    # executor storage with no unpersist)
    result = known.localCheckpoint(eager=True)
    for cached in to_release:
        cached.unpersist()
    return result


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities over a DIRECTED edge list — the
    link-analysis complement to PageRank for curation: an authority
    is a page many good hubs point AT (citation-worthy content), a
    hub is a page pointing at many good authorities (index/directory
    pages a crawler should expand first).  PageRank conflates the
    two roles; HITS separates them.

    Same execution shape and determinism contract as pagerank: each
    half-iteration is one edges⋈scores join + one aggregation with
    per-edge contributions ROUNDED to 12dp and accumulated as DECIMAL
    (order-free sums), a fixed iteration count, no driver round-trips
    in the loop.  Scores are max-normalized after every half-step
    (the standard HITS scaling) — the max is a deterministic scalar
    over deterministic values, broadcast back as a one-row join, so
    normalization adds no row-space movement.  Multi-edges count,
    matching pagerank.

    Returns (node, authority, hub) for every node, both rounded 9dp.
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.withColumn("h", F.lit(1.0))
    auth = nodes.withColumn("a", F.lit(0.0))
    for _ in range(iterations):
        a_raw = (
            e.join(hub, e["src"] == hub["node"])
            .select(
                "dst",
                quantize("h", 12).alias("w"),
            )
            .groupBy("dst")
            .agg(F.sum("w").cast("double").alias("s"))
        )
        a_all = nodes.join(
            a_raw, nodes["node"] == a_raw["dst"], "left"
        ).select(
            "node", F.coalesce(F.col("s"), F.lit(0.0)).alias("s")
        )
        a_max = a_all.agg(F.max("s").alias("mx"))
        auth = a_all.crossJoin(F.broadcast(a_max)).select(
            "node",
            F.when(F.col("mx") > 0, F.col("s") / F.col("mx"))
            .otherwise(F.lit(0.0))
            .alias("a"),
        )
        h_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .select(
                "src",
                quantize("a", 12).alias("w"),
            )
            .groupBy("src")
            .agg(F.sum("w").cast("double").alias("s"))
        )
        h_all = nodes.join(
            h_raw, nodes["node"] == h_raw["src"], "left"
        ).select(
            "node", F.coalesce(F.col("s"), F.lit(0.0)).alias("s")
        )
        h_max = h_all.agg(F.max("s").alias("mx"))
        hub = h_all.crossJoin(F.broadcast(h_max)).select(
            "node",
            F.when(F.col("mx") > 0, F.col("s") / F.col("mx"))
            .otherwise(F.lit(0.0))
            .alias("h"),
        )
    return (
        nodes.join(auth, "node")
        .join(hub, "node")
        .select(
            "node",
            F.round(F.col("a"), 9).alias("authority"),
            F.round(F.col("h"), 9).alias("hub"),
        )
    )
