"""Similarity search over embedding columns (array<float>).

Beyond-reference extension (build brief): ANN over an embedding
column. The family, from exact baseline to the 100 TB shape:

- ``cosine_topk``: brute-force exact top-k against one probe vector.
  The dot product is ``F.zip_with`` + ``F.aggregate`` — pure Catalyst
  expressions, sequential left-fold so the double result is
  bit-identical to the DuckDB oracle's list_transform+list_sum.
  Scale: a single narrow scan + one small top-k sort; broadcastable
  probe; no shuffle until the final ordering of k rows.
- ``lsh_bucket_topk``: random-hyperplane LSH buckets candidates,
  brute force runs only inside the probe's bucket (computed
  driver-side; one corpus scan). Hyperplanes derive deterministically
  from md5 so runs reproduce.
- ``ivf_topk``: data-adaptive Voronoi cells, shuffle-free per-row
  assignment against driver-localized centroid literals.
- ``ivf_build_index`` / ``ivf_query_index``: the materialized scale
  path — the corpus partitioned by cell on disk, probes are
  partition-pruned scans of ~nprobe/n_cells of the data.
- ``pq_topk`` (memory-compressed ADC), ``batch_*`` (multi-probe),
  ``matryoshka_topk`` (two-stage), plus clustering/near-dup
  (``kmeans_clusters``, ``embedding_near_dup``, ``semdedup``).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import (
    exact_sum,
    exact_sum_product,
)
from component_delta_lake_writer_spark.functions.hashing import portable_hash_of
from component_delta_lake_writer_spark.session import local_relation


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic double result)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with a ZERO-NORM GUARD: an all-zero vector
    yields 0.0 (no direction → no similarity) instead of a division
    by zero — which under Spark 4's default ANSI mode is a runtime
    DIVIDE_BY_ZERO that would kill the whole job on one bad row."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_topk(
    df: DataFrame,
    probe: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors of a single probe row.

    ``probe`` is a 1-row DataFrame with the same (id, vec) columns;
    it is broadcast, so the plan is scan → narrow projection →
    global top-k (TakeOrderedAndProject) — no wide shuffle.
    """
    p = F.broadcast(
        probe.select(
            F.col(id_col).alias("probe_id"),
            _as_double(F.col(vec_col)).alias("probe_vec"),
        )
    )
    return (
        df.crossJoin(p)
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(
            F.col(id_col),
            F.round(cosine(_as_double(F.col(vec_col)), F.col("probe_vec")), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def plane_signs(p: int, dim: int) -> list[float]:
    """Plane p's ±1 components: fixed pseudo-random signs derived from
    md5(p:d) — no stored model, identical on every executor and run."""
    return [
        1.0 if portable_hash_of(f"{p}:{d}") % 2 == 0 else -1.0
        for d in range(dim)
    ]


def hyperplane_sign_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Deterministic random-hyperplane LSH bucket id (0..2^n_planes-1).

    Each plane's projection is a zip_with against a sign-array literal
    folded sequentially — a compact expression tree (codegen stays
    small; a naive per-element sum of 64 terms × planes blows up the
    generated code and its compile time).
    """
    bucket = F.lit(0)
    dvec = F.transform(vec, lambda x: x.cast("double"))
    for p in range(n_planes):
        signs = F.array(*[F.lit(s) for s in plane_signs(p, dim)])
        acc = F.aggregate(
            F.zip_with(dvec, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bucket = bucket + F.when(acc > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def embedding_near_dup(
    df: DataFrame,
    dim: int,
    threshold: float = 0.4,
    n_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucket the vectors, score
    only same-bucket pairs, keep cosine ≥ threshold.

    The all-pairs O(n²) space is never materialized — candidates are
    restricted to hyperplane-bucket collisions (~n²/2^planes), the
    same pruning a 100 TB dedup run uses, where the bucket id becomes
    a partition key."""
    bucketed = df.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("v"),
        hyperplane_sign_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("v_a"), "bucket"
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("v_b"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _py_dot(a, b) -> float | None:
    """Driver-side mirror of ``dot`` — identical IEEE left-fold order,
    with zip_with's null semantics (length mismatch / null element →
    null), so driver-localized metadata (probe cells, probe buckets)
    ranks bit-identically to the JVM expression."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + x * y
    return acc


def _py_cos(a, b) -> float | None:
    import math

    def _n(v):
        acc = 0.0
        for x in v:
            if x is None:
                return None
            acc = acc + x * x
        return math.sqrt(acc)

    na, nb = (_n(a), _n(b)) if a is not None and b is not None else (None, None)
    if na is None or nb is None:
        return None
    denom = na * nb
    if denom == 0.0:
        return 0.0
    d = _py_dot(a, b)
    return None if d is None else d / denom


def _single_probe_row(probe: DataFrame, vec_col: str, id_col: str):
    """Collect THE probe row, enforcing the 1-row contract explicitly
    (a multi-row probe would silently pick an arbitrary row while the
    final scoring ran against all of them — internally inconsistent)."""
    from component_delta_lake_writer_spark.errors import UserException

    # plain collect, NOT limit(2).collect(): CollectLimit escalates
    # through partition subsets hunting for a 2nd row that a 1-row
    # probe never yields — 3 jobs instead of 1. Probe relations are
    # key-filtered and tiny by contract; violations raise below.
    rows = probe.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_pv")
    ).collect()
    if len(rows) != 1:
        raise UserException(
            f"expected exactly one probe row, got "
            f"{'none' if not rows else 'more than one'}"
        )
    return rows[0][id_col], rows[0]["_pv"]


def _dstr(x: float | None) -> str:
    """Shortest-round-trip double literal for SQL text —
    Double.parseDouble(repr(x)) recovers the identical bits. Non-finite
    values have no SQL double-literal syntax ('infD' is a parse error
    that would kill the whole query); they ride through a string cast,
    which Spark resolves to the exact Infinity/NaN doubles."""
    import math

    if x is None:
        return "CAST(NULL AS DOUBLE)"
    x = float(x)
    if not math.isfinite(x):
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _probe_rank_key(score: float | None):
    """Sort key reproducing Spark's DESC total ordering over doubles:
    NaN is GREATEST (sorts first under DESC), nulls last — a raw
    ``-score`` key is comparison-unstable once a NaN appears."""
    import math

    if score is None:
        return (2, 0.0)
    if math.isnan(score):
        return (0, 0.0)
    return (1, -score)


def _topk_vs_literal(
    cand: DataFrame, pid, pv: list, k: int, vec_col: str, id_col: str
) -> DataFrame:
    """cosine_topk against an INLINED probe vector: bit-identical
    expressions (same fold order, same round(·,6), same tie order),
    but the probe rides as a constant-folded array literal instead of
    a broadcast 1-row DataFrame — whose materialization alone was a
    32-task job (createDataFrame parallelizes even one row across
    defaultParallelism slices). The plan collapses to scan → project →
    TakeOrderedAndProject: no join, no broadcast, no extra job."""
    pv_lit = (
        F.expr("CAST(NULL AS ARRAY<DOUBLE>)")
        if pv is None
        else F.expr("array(" + ",".join(_dstr(x) for x in pv) + ")")
    )
    return (
        cand.filter(F.col(id_col) != F.lit(pid))
        .select(
            F.col(id_col),
            F.round(
                cosine(_as_double(F.col(vec_col)), pv_lit), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def lsh_bucket_topk(
    df: DataFrame,
    probe: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: only rows in the probe's LSH bucket are
    scored. ``probe`` must be a 1-row DataFrame (enforced). At 100 TB
    the bucket column is precomputed + partitioned on, turning ANN
    into a partition-pruned scan of ~1/2^n_planes of the data.

    The probe's bucket is computed DRIVER-SIDE (same md5-derived
    planes, same IEEE left fold as the JVM expression) — the corpus is
    scanned exactly once, filtered by a literal bucket id; no second
    scan or broadcast join just to carry one integer."""
    from component_delta_lake_writer_spark.errors import UserException

    pid, pv = _single_probe_row(probe, vec_col, id_col)
    if pv is None or len(pv) != dim:
        raise UserException(
            f"lsh_bucket_topk probe vector must have dim={dim}"
        )
    pbucket = 0
    for p in range(n_planes):
        acc: float | None = 0.0
        for x, s in zip(pv, plane_signs(p, dim)):
            if x is None or acc is None:
                acc = None
                break
            acc = acc + x * s
        if acc is not None and acc > 0:
            pbucket += 1 << p
    same_bucket = df.filter(
        hyperplane_sign_bucket(F.col(vec_col), dim, n_planes) == F.lit(pbucket)
    )
    return _topk_vs_literal(same_bucket, pid, pv, k, vec_col, id_col)


def ivf_topk(
    df: DataFrame,
    probe: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize vectors into
    n_cells Voronoi cells, search only the nprobe cells nearest the
    probe.

    The coarse quantizer is training-free and deterministic: the
    n_cells lowest-id vectors act as centroids (equivalent to a fixed
    k-means init with zero Lloyd iterations — reproducible across
    engines, no RNG), via orderBy+limit (TakeOrdered), NOT an
    ``id < n_cells`` filter — that spelling only matches the contract
    for dense zero-based ids and silently returns empty on offset id
    spaces.

    The centroid table and the probe row are METADATA-scale
    (n_cells×dim and 1×dim) — both are collected ONCE to the driver
    (the ``_lloyd_centroids`` idiom), so neither the centroid
    TakeOrdered nor the probe scan ever re-executes inside the lazy
    plan, and probe-cell selection is pure driver arithmetic (same
    IEEE left fold as the JVM ``cosine``, bit-identical ranking).

    The corpus crosses the executors exactly ONCE, with NO shuffle:
    assignment is a per-row ``array_min`` over n_cells literal score
    structs (centroids inlined as array literals, their norms
    precomputed driver-side, the vector's own norm factored out and
    computed once per row) — no crossJoin explosion, no groupBy, no
    exchange, no SortAggregate fallback (``min(struct)`` +
    ``first(array)`` is not hash-aggregable and used to force TWO
    corpus sorts around a shuffle). The nprobe cells prune with a
    literal ``isin``; the whole query is one whole-stage-codegen scan
    feeding TakeOrderedAndProject. (The r4 shape — seed TakeOrdered
    re-executed per reference + a df⋈assignment shuffle join — was
    the +72% bench regression; the r5 shape still dispatched 8 jobs.)
    At 100 TB the cell id becomes a partition key, so probing nprobe
    cells is a partition-pruned scan of ~nprobe/n_cells of the data —
    the complement of lsh_bucket_topk (data-adaptive cells vs
    data-oblivious hyperplanes).

    Determinism vs the SQL oracle is bit-exact: each score is
    ``dot(_v, cv) / (norm(_v) * norm_cv)`` with the same IEEE
    left-fold order the oracle's list_reduce uses; norm_cv is folded
    driver-side over the identical sequence, and null/zero-norm/tie
    semantics (null score → cell dropped; zero denom → 0.0; ties →
    lowest cell) mirror the previous aggregate shape exactly.

    Contracts (enforced / relied on): ``probe`` has exactly one row
    (raises otherwise); ``id_col`` is unique per vector.
    """
    cents_q = _centroids_query(df, n_cells, vec_col, id_col)
    # the two metadata collects (centroids, probe) are independent —
    # submit them as CONCURRENT jobs (py4j job submission is
    # thread-safe) instead of paying two serial dispatch rounds
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _ex:
        _f_cents = _ex.submit(cents_q.collect)
        _f_probe = _ex.submit(_single_probe_row, probe, vec_col, id_col)
        cent_rows = _f_cents.result()
        _pid, pv = _f_probe.result()
    probe_cells = _choose_probe_cells(
        ((r["cv"], r["cell"]) for r in cent_rows), pv, nprobe
    )

    cmat, cell_ids, ncvs = _usable_centroids(cent_rows)

    v = _corpus_projection(df, vec_col, id_col)
    if cmat and probe_cells:
        best = _best_cell_expr(cmat, cell_ids, ncvs)
        cand = (
            v.select(F.col(id_col), F.col("_v"), best.alias("_b"))
            .filter(
                F.col("_b").isNotNull()
                & F.col("_b.cell").isin(probe_cells)
            )
            .select(F.col(id_col), F.col("_v").alias(vec_col))
        )
    else:  # no usable centroid: nothing assignable, empty result
        cand = v.filter(F.lit(False)).select(
            F.col(id_col), F.col("_v").alias(vec_col)
        )
    return _topk_vs_literal(cand, _pid, pv, k, vec_col, id_col)


def _centroids_query(
    df: DataFrame, n_cells: int, vec_col: str, id_col: str
) -> DataFrame:
    """The deterministic seeded coarse quantizer shared by ivf_topk
    and ivf_build_index: the n_cells lowest-id vectors as (cell, cv).
    ONE definition — the index-equals-ad-hoc guarantee rests on the
    build and query paths quantizing identically."""
    return (
        df.orderBy(F.col(id_col))
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cell"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
    )


def _corpus_projection(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, _v double-vector, _nv norm) — the assignment input shared
    by ivf_topk and ivf_build_index (one norm fold per row)."""
    return df.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_v"),
        norm(_as_double(F.col(vec_col))).alias("_nv"),
    )


def _choose_probe_cells(cent_pairs, pv, nprobe: int) -> list:
    """The nprobe cells nearest the probe — driver-side cosines with
    Spark's exact null/tie semantics (null similarity sorts last under
    DESC, ties break on the smaller cell id). ``cent_pairs`` iterates
    (cv, cell); shared by ivf_topk and ivf_query_index so both paths
    rank cells identically."""
    scored = sorted(
        ((_py_cos(cv, pv), cell) for cv, cell in cent_pairs),
        key=lambda t: (_probe_rank_key(t[0]), t[1]),
    )
    return [c for _s, c in scored[:nprobe]]


def _usable_centroids(cent_rows) -> tuple[list, list, list]:
    """(cmat, cell_ids, ncvs): centroid vectors as plain lists, their
    cells, and their driver-folded norms (same IEEE sequence as the
    JVM/oracle fold). Null vectors / null elements are dropped —
    cosine against them is null for every row and never wins."""
    import math

    cmat, cell_ids, ncvs = [], [], []
    for r in cent_rows:
        cv, cell = r["cv"], r["cell"]
        if cv is None:
            continue
        ncv_acc: float | None = 0.0
        for x in cv:
            if x is None or ncv_acc is None:
                ncv_acc = None
                break
            ncv_acc = ncv_acc + x * x
        if ncv_acc is None:
            continue
        cmat.append([float(x) for x in cv])
        cell_ids.append(int(cell))
        ncvs.append(math.sqrt(ncv_acc))
    return cmat, cell_ids, ncvs


def _best_cell_expr(cmat: list, cell_ids: list, ncvs: list):
    """Per-row best-cell struct (ns=-score, cell) over columns ``_v``
    (double vector) and ``_nv`` (its norm): an array_min over a
    sequence+transform of THREE compact SQL-text literals (2-D
    centroid matrix, cells, precomputed norms). Per-centroid inline
    literals/structs made a Catalyst tree whose ANALYSIS cost (~2 s,
    scale-invariant) dwarfed the per-row work, and F.lit(nested_list)
    converts element-by-element through py4j (~0.7 s) where the SQL
    parser + constant folding handle the same literals in ~ms.

    s_j = dot(_v, cv_j) / (norm(_v) * norm_cv_j) — the oracle's exact
    fold order, so every double is bit-identical. Null scores are
    dropped (a null would win the min); a vector whose every score is
    null gets a NULL struct (callers filter it)."""
    cmat_lit = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(_dstr(x) for x in row) + ")"
            for row in cmat
        ) + ")"
    )
    ncvs_lit = F.expr("array(" + ",".join(_dstr(x) for x in ncvs) + ")")
    cells_lit = F.expr(
        "array(" + ",".join(f"{c}L" for c in cell_ids) + ")"
    )

    def _score_struct(j):
        denom = F.col("_nv") * F.element_at(ncvs_lit, j + 1)
        s = F.when(denom == 0.0, F.lit(0.0)).otherwise(
            dot(F.col("_v"), F.element_at(cmat_lit, j + 1)) / denom
        )
        return F.struct(
            (-s).alias("ns"),
            F.element_at(cells_lit, j + 1).alias("cell"),
        )

    return F.array_min(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.lit(len(cmat) - 1)),
                _score_struct,
            ),
            lambda c: c["ns"].isNotNull(),
        )
    )


def ivf_build_index(
    df: DataFrame,
    index_path: str,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[int]:
    """Materialize the IVF index ``ivf_topk`` computes on the fly: the
    corpus written as parquet PARTITIONED BY its Voronoi cell, plus a
    ``_ivf_centroids.json`` sidecar (cells + centroid vectors + their
    norms). This is the 100 TB shape the ad-hoc operator's docstring
    promises — build once, then every probe is a PARTITION-PRUNED scan
    of ~nprobe/n_cells of the data (``ivf_query_index``), with zero
    per-query assignment work. Same deterministic seeded quantizer and
    bit-exact scoring as ``ivf_topk``, so an index-backed query equals
    the ad-hoc answer exactly. Returns the cell ids."""
    import json as _json

    cents_q = _centroids_query(df, n_cells, vec_col, id_col)
    cmat, cell_ids, ncvs = _usable_centroids(cents_q.collect())
    v = _corpus_projection(df, vec_col, id_col)
    if cmat:
        best = _best_cell_expr(cmat, cell_ids, ncvs)
        assigned = (
            v.select(F.col(id_col), F.col("_v"), best.alias("_b"))
            .filter(F.col("_b").isNotNull())
            .select(
                F.col(id_col),
                F.col("_v").alias(vec_col),
                F.col("_b.cell").alias("cell"),
            )
        )
    else:
        assigned = v.filter(F.lit(False)).select(
            F.col(id_col),
            F.col("_v").alias(vec_col),
            F.lit(0).cast("long").alias("cell"),
        )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(index_path)
    sidecar = os.path.join(index_path, "_ivf_centroids.json")
    with open(sidecar, "w") as f:
        _json.dump(
            {
                "cells": cell_ids,
                "cmat": cmat,
                "ncvs": ncvs,
                # the index's exact Spark schema: an EMPTY index (empty
                # corpus / no usable centroid / all-null vectors) writes
                # zero part files, and a schema-less read of it fails
                # with UNABLE_TO_INFER_SCHEMA — queries read with this
                "schema": assigned.schema.json(),
            },
            f,
        )
    return cell_ids


def ivf_query_index(
    spark,
    index_path: str,
    probe: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a materialized IVF index: centroid scoring is pure driver
    arithmetic over the sidecar (no Spark job), and the candidate read
    is a PARTITION-PRUNED parquet scan of exactly the nprobe chosen
    cell directories — the plan contains PartitionFilters on ``cell``
    and touches no other partition, which is what makes this the ANN
    shape that survives 100 TB. Bit-identical results to ``ivf_topk``
    over the same corpus."""
    import json as _json

    from component_delta_lake_writer_spark.errors import UserException

    pid, pv = _single_probe_row(probe, vec_col, id_col)
    sidecar = os.path.join(index_path, "_ivf_centroids.json")
    try:
        with open(sidecar) as f:
            meta = _json.load(f)
    except FileNotFoundError:
        raise UserException(
            f"No IVF index at {index_path!r} (missing centroid "
            "sidecar); run ivf_build_index first."
        ) from None
    probe_cells = _choose_probe_cells(
        zip(meta["cmat"], meta["cells"]), pv, nprobe
    )
    reader = spark.read
    if "schema" in meta:
        # explicit schema from the sidecar: an empty index has zero
        # part files and a schema-less read raises
        # UNABLE_TO_INFER_SCHEMA instead of returning empty
        from pyspark.sql import types as T

        reader = reader.schema(T.StructType.fromJson(
            _json.loads(meta["schema"])
        ))
    base = reader.parquet(index_path)
    cand = (
        base.filter(F.col("cell").isin(probe_cells))
        if probe_cells
        else base.filter(F.lit(False))
    ).select(F.col(id_col), F.col(vec_col))
    return _topk_vs_literal(cand, pid, pv, k, vec_col, id_col)


def _sqdist(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (deterministic double —
    same left-fold shape as ``dot``, so the DuckDB twin's list_reduce
    produces bit-identical results)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def kmeans_clusters(
    df: DataFrame,
    k: int = 8,
    lloyd_iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Seeded Lloyd k-means over an embedding column — the semantic
    clustering pass of a training-data pipeline (cluster-then-sample /
    semantic dedup à la SemDeDup). Returns (pid, cid, dist2): each
    vector's final cluster and squared distance to its centroid.

    Everything is deterministic and engine-portable, so the whole
    iteration is differential-testable against a SQL oracle:

    - init: the k lowest-id vectors are the seed centroids (a fixed
      k-means++-free init — no RNG);
    - assignment: argmin over a broadcast k-row centroid table via a
      min-struct hash agg (no window sort, no shuffle of the vectors:
      the same shape as ivf_topk's coarse quantizer);
    - update: per-dimension means via posexplode + groupBy(cid, pos),
      summed exactly (round→decimal — the engine's idiom for
      order-sensitive double sums) and divided once in double.

    Scale: per iteration one narrow crossJoin with a broadcast k×dim
    table + one partial-aggregated groupBy of k×dim rows — the vector
    table is scanned once per iteration and never shuffled; only the
    k×dim component relation moves. Lloyd iteration count is fixed
    (pipelines run 2-5), not convergence-polled, so the driver issues
    no per-round count jobs."""
    pts = df.select(
        F.col(id_col).alias("pid"), _as_double(F.col(vec_col)).alias("x")
    )
    cents = _lloyd_centroids(pts, k, lloyd_iterations)
    return _assign_centroids(pts, cents).select("pid", "cid", "dist2")


def _assign_centroids(pts: DataFrame, cdf: DataFrame) -> DataFrame:
    """Argmin-by-(dist2, cid) assignment of every point against a
    broadcast centroid table — min-struct hash agg, the vector table
    is never shuffled."""
    scored = pts.crossJoin(F.broadcast(cdf)).select(
        "pid", "x", "cid", _sqdist(F.col("x"), F.col("c")).alias("dist2")
    )
    # x is constant per pid so first() is deterministic here.
    return (
        scored.groupBy("pid")
        .agg(
            F.min(F.struct("dist2", "cid")).alias("m"),
            F.first("x").alias("x"),
        )
        .select("pid", "x", F.col("m.cid").alias("cid"), F.col("m.dist2").alias("dist2"))
    )


def _lloyd_centroids(
    pts: DataFrame, k: int, lloyd_iterations: int
) -> DataFrame:
    """Seed with the k lowest-id points, then ``lloyd_iterations - 1``
    exact-decimal centroid updates (the final assignment is the
    caller's). Shared by kmeans_clusters and pq_topk's per-subspace
    codebook training."""
    # the k LOWEST-ID points seed (orderBy+limit = TakeOrdered; a
    # ``pid < k`` filter matches the contract only for dense 0-based
    # ids and silently clusters nothing on offset id spaces)
    cents = pts.orderBy(F.col("pid")).limit(k).select(
        F.col("pid").alias("cid"), F.col("x").alias("c")
    )
    for _ in range(max(lloyd_iterations - 1, 0)):
        asg = _assign_centroids(pts, cents)
        comps = (
            asg.select("cid", F.posexplode("x").alias("pos", "xj"))
            .groupBy("cid", "pos")
            .agg(
                (
                    exact_sum("xj", 6).cast("double") / F.count(F.lit(1))
                ).alias("m")
            )
        )
        cents = comps.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda t: t["m"],
            ).alias("c")
        )
        # the centroid table is k×dim — METADATA-scale. Materialize it
        # to the driver and rebuild, cutting the iterative lineage:
        # chained un-cached iterations re-execute every prior round
        # wherever cents is referenced (pq_topk references it twice
        # per subspace), and the plan tree grows per round.
        rows = cents.collect()
        if rows:
            cents = local_relation(
                pts.sparkSession, cents.schema, list(zip(*rows))
            )
    return cents


def pq_topk(
    df: DataFrame,
    k: int = 10,
    m: int = 4,
    sub_k: int = 8,
    lloyd_iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id: int = 0,
    dim: int = 64,
) -> DataFrame:
    """Product quantization + asymmetric distance (ADC) retrieval —
    the standard memory-compressed ANN path (IVF-PQ's second stage):
    each vector is encoded as m sub-codes (one seeded-Lloyd codebook
    of sub_k centroids per subspace → dim·4 bytes shrink to m bytes),
    and a query ranks candidates by the SUM of per-subspace
    query-to-centroid distances looked up from an m×sub_k table — the
    full vectors are never touched at query time.

    Scale: codebook training touches only the k·dim component
    relation per iteration (vectors scanned, never shuffled); encoding
    is the same broadcast-argmin; the query-time join is against a
    BROADCAST m×sub_k lookup and the per-point ADC sum goes through
    round→decimal so the m-term sum is order-free. Everything is
    seeded/deterministic, so the whole path has a full SQL
    differential oracle (same bar as kmeans_embedding_clusters).

    r13 (guide §1.2/§2.1): all m subspaces train/encode as ONE
    j-keyed relation (posexplode of the per-row slice array) instead
    of m independent pipelines — per Lloyd round the corpus is
    scanned once, not m times, and the round's centroid collect is
    one job instead of m. The per-(j, pid) arithmetic is unchanged
    (same slices, same seeds — the k lowest-id vectors sliced, which
    IS each subspace's k lowest-id points — same argmin struct, same
    round→decimal means), so codes, lookup table and ADC ranks are
    bit-identical; the differential oracle still unrolls per
    subspace.

    Returns the top-k (pid, adc, rk), probe excluded.
    """
    from pyspark.sql.window import Window

    from component_delta_lake_writer_spark.errors import UserException

    width = dim // m
    base = df.select(
        F.col(id_col).alias("pid"), _as_double(F.col(vec_col)).alias("full")
    )
    if base.filter(F.col("pid") == probe_id).isEmpty():
        # a missing probe would propagate as empty qd tables and an
        # EMPTY top-k — indistinguishable from "no neighbors"
        raise UserException(
            f"pq_topk probe_id {probe_id!r} not present in the corpus."
        )

    def _slices(col):
        # the LAST subspace absorbs the dim % m remainder — silently
        # dropping trailing coordinates would diverge the ranking from
        # the documented PQ of the full vector
        return F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(
                    col,
                    j * width + 1,
                    width + (dim - m * width if j == m - 1 else 0),
                ).alias("x"),
            )
            for j in range(m)
        ])

    subs = base.select(
        "pid", F.explode(_slices(F.col("full"))).alias("s")
    ).select("pid", F.col("s.j").alias("j"), F.col("s.x").alias("x"))

    def assign(cents, with_x: bool = True):
        """Per-(j, pid) argmin against the broadcast (j, cid, c)
        codebook relation — _assign_centroids keyed by subspace.
        ``with_x`` carries the slice through the aggregate only when
        the caller (the Lloyd mean update) needs it — ``first`` is
        deterministic because x is constant per (j, pid) group; the
        final encode drops it, so its agg buffer stays code-width
        (r14, ADVICE r13)."""
        scored = subs.join(F.broadcast(cents), "j").select(
            "pid", "j", "x", "cid",
            _sqdist(F.col("x"), F.col("c")).alias("dist2"),
        )
        aggs = [F.min(F.struct("dist2", "cid")).alias("mn")]
        if with_x:
            aggs.append(F.first("x").alias("x"))
        out = scored.groupBy("j", "pid").agg(*aggs)
        cols = ["pid", "j"] + (["x"] if with_x else [])
        return out.select(*cols, F.col("mn.cid").alias("cid"))

    # seeds: the sub_k lowest-id vectors, sliced — identical to each
    # subspace's sub_k lowest-id points (every pid carries all m rows)
    cents = base.orderBy(F.col("pid")).limit(sub_k).select(
        F.explode(_slices(F.col("full"))).alias("s"),
        F.col("pid").alias("cid"),
    ).select(F.col("s.j").alias("j"), "cid", F.col("s.x").alias("c"))
    for _ in range(max(lloyd_iterations - 1, 0)):
        asg = assign(cents)
        comps = (
            asg.select("j", "cid", F.posexplode("x").alias("pos", "xj"))
            .groupBy("j", "cid", "pos")
            .agg(
                (
                    exact_sum("xj", 6).cast("double") / F.count(F.lit(1))
                ).alias("cm")
            )
        )
        cents = comps.groupBy("j", "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cm"))),
                lambda t: t["cm"],
            ).alias("c")
        )
        # m×sub_k×width — METADATA-scale; materialize to cut the
        # iterative lineage (same rationale as _lloyd_centroids)
        rows = cents.collect()
        if rows:
            cents = local_relation(
                df.sparkSession, cents.schema, list(zip(*rows))
            )
    codes = assign(cents, with_x=False).select("pid", "j", "cid")
    probe_subs = subs.filter(F.col("pid") == probe_id).select(
        "j", F.col("x").alias("q")
    )
    qd = cents.join(F.broadcast(probe_subs), "j").select(
        "j", "cid", _sqdist(F.col("q"), F.col("c")).alias("qd2")
    )
    adc = (
        codes.join(F.broadcast(qd), ["j", "cid"])
        .groupBy("pid")
        .agg(
            exact_sum("qd2", 6).cast("double").alias("adc")
        )
        .filter(F.col("pid") != probe_id)
    )
    # TakeOrdered top-k first (distributed), then rank the k survivors
    # — a global row_number window over every candidate would be a
    # single-partition sort.
    top = adc.orderBy(F.col("adc"), F.col("pid")).limit(k)
    w = Window.orderBy(F.col("adc"), F.col("pid"))
    return top.withColumn("rk", F.row_number().over(w)).select(
        "pid", "adc", "rk"
    )


def semdedup(
    df: DataFrame,
    k: int = 8,
    lloyd_iterations: int = 2,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication = coarse k-means over the embeddings, then prune
    items that have a too-similar neighbor WITHIN their cluster.
    Returns the kept rows (pid, cid).

    Determinism: the keep rule is "prune b iff some a < b in the same
    cluster has cosine(a, b) > threshold" — greedy by ascending id,
    the engine-portable stand-in for the paper's keep-one-per-ε-ball
    (which breaks ties by RNG). Clustering is the seeded
    ``kmeans_clusters`` (no RNG), cosine is the sequential-fold shape,
    so the whole operator differential-tests against a SQL oracle.

    Scale: the quadratic blowup is confined to within-cluster pairs —
    one equi-join on cid (shuffle-partitioned by cluster), never an
    all-pairs cross join. Run with k ~ N/⟨cluster⟩ so per-cluster
    pair counts stay bounded; the paper itself uses 50k clusters for
    LAION-scale corpora. The final anti-join is left to AQE: the
    pruned-id set is narrow (one id column) but can reach a large
    fraction of the corpus (the paper prunes ~50%), so a forced
    broadcast would be wrong at scale."""
    asg = kmeans_clusters(df, k, lloyd_iterations, vec_col, id_col).select(
        "pid", "cid"
    )
    pts = df.select(
        F.col(id_col).alias("pid"), _as_double(F.col(vec_col)).alias("x")
    ).join(asg, "pid")
    a = pts.select("cid", F.col("pid").alias("pa"), F.col("x").alias("xa"))
    b = pts.select("cid", F.col("pid").alias("pb"), F.col("x").alias("xb"))
    pruned = (
        a.join(b, "cid")
        .filter(F.col("pa") < F.col("pb"))
        .filter(cosine(F.col("xa"), F.col("xb")) > F.lit(threshold))
        .select(F.col("pb").alias("pid"))
        .distinct()
    )
    return pts.join(pruned, "pid", "left_anti").select("pid", "cid")


def quantize_int8(
    df: DataFrame, vec_col: str = "vec", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|v| / 127,
    q_i = floor(v_i/scale + 0.5) — the storage play for billion-vector
    ANN corpora (4x smaller than float32, cosine ranking preserved to
    ~1e-2). Pure Catalyst array expressions, no Python in the path;
    floor(x+0.5) is used instead of round() so the tie-break rule is
    a single IEEE-deterministic formula on every engine.

    Returns (id, scale, q:array<int>); all-zero vectors get scale 0
    and an all-zero q (guarded division).
    """
    # the O(dim) amax fold is computed ONCE into a column and the
    # transform references that column — embedding the aggregate
    # expression inside the per-element lambda defeats Catalyst's
    # subexpression elimination and re-evaluates the fold per element
    # (O(dim²) per row: ~1M ops for dim=1024 instead of ~2k)
    staged = df.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_v"),
    ).withColumn(
        "_amax",
        F.aggregate(
            F.col("_v"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
        ),
    )
    amax = F.col("_amax")
    q = F.when(
        amax == 0.0, F.transform(F.col("_v"), lambda x: F.lit(0))
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda x: F.floor(x / (amax / F.lit(127.0)) + F.lit(0.5)).cast(
                "int"
            ),
        )
    )
    return staged.select(
        F.col(id_col), (amax / F.lit(127.0)).alias("scale"), q.alias("q")
    )


def batch_cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors for a BATCH of query vectors — the
    retrieval shape of real pipelines (N probes at once, not one).

    The query side is broadcast (a query batch is ~KBs·N, never corpus
    -sized), so the plan is one pass over the corpus with a narrow
    (qid, vec_id, cosine) projection into a per-query window top-k:
    corpus bytes are read ONCE regardless of the batch width, versus N
    full scans for N single-probe calls. The window shuffles only the
    3-column score relation, never embeddings."""
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("qid"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
    )
    scored = (
        df.crossJoin(q)
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            F.col(id_col),
            F.round(cosine(_as_double(F.col(vec_col)), F.col("qv")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def batch_lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched approximate retrieval — the scale path of
    batch_cosine_topk: corpus and query batch are both hyperplane-
    bucketed, candidates come from a broadcast equi-join ON BUCKET
    (each corpus row probes a small query hash-map; only same-bucket
    pairs are ever scored, ~1/2^n_planes of the brute-force work), and
    a per-query window keeps the top k. At 100 TB the corpus bucket
    column is precomputed + partitioned on, so each query batch is a
    partition-pruned scan."""
    from pyspark.sql import Window

    bucketed = df.withColumn(
        "bucket", hyperplane_sign_bucket(F.col(vec_col), dim, n_planes)
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("qid"),
            _as_double(F.col(vec_col)).alias("qv"),
            hyperplane_sign_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
        )
    )
    scored = (
        bucketed.join(q, "bucket")
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            F.col(id_col),
            F.round(cosine(_as_double(F.col(vec_col)), F.col("qv")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def matryoshka_topk(
    df: DataFrame,
    probe: DataFrame,
    dims: int = 16,
    shortlist: int = 50,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-representation retrieval cascade (MRL embeddings
    carry coarse-to-fine information in their prefix): stage 1 ranks
    on the FIRST ``dims`` coordinates only — 1/(d/dims) of the FLOPs
    and memory bandwidth of the full vector — to a ``shortlist``;
    stage 2 re-ranks just the shortlist with full-vector cosine. At
    billion-vector scale stage 1 is the scan (cheap math, prunable
    int8/PQ-compatible) and stage 2 touches ``shortlist`` rows.

    Both stages order by (rounded score desc, id asc) so the cascade
    is deterministic and oracle-checkable end to end.
    """
    p = F.broadcast(
        probe.select(
            F.col(id_col).alias("probe_id"),
            _as_double(F.col(vec_col)).alias("probe_vec"),
        )
    )
    v = _as_double(F.col(vec_col))
    pv = F.col("probe_vec")
    pre = F.round(
        cosine(F.slice(v, 1, dims), F.slice(pv, 1, dims)), 6
    ).alias("pcos")
    stage1 = (
        df.crossJoin(p)
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(F.col(id_col), F.col(vec_col), F.col("probe_vec"), pre)
        .orderBy(F.col("pcos").desc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    return (
        stage1.select(
            F.col(id_col),
            F.round(cosine(_as_double(F.col(vec_col)), pv), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def mmr_topk(
    emb: DataFrame,
    probe: DataFrame,
    k: int = 10,
    pool: int = 30,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    diversified top-k: greedily pick the candidate maximizing
    ``lam * sim(q, c) - (1 - lam) * max_{s in S} sim(c, s)`` so the
    result balances relevance against redundancy — the de-dup rerank
    step of RAG retrieval and of diverse training-example selection.

    Distribution posture: the candidate pool (top ``pool`` by cosine)
    and the ``pool^2`` pairwise similarities are computed IN SPARK
    (TakeOrdered + broadcast self-join — the corpus is scanned twice,
    never shuffled); only the inherently sequential greedy loop runs
    on the driver, over O(pool^2) floats — metadata scale by
    construction (pool is a rerank window, 30-200 in practice).

    Determinism: relevance and pairwise cosines are rounded to 6dp in
    Spark (bit-identical to the DuckDB oracle); the greedy objective
    is the same fixed op tree on raw doubles in both engines, ties
    broken by id; output scores round once more at the end.

    Returns (rk, doc_id, score): rank 1..k, the picked id, and the
    MMR objective at selection time (step 1: the relevance itself).
    """
    pool_df = cosine_topk(emb, probe, k=pool, vec_col=vec_col, id_col=id_col)
    rels = {
        int(r[id_col]): float(r["cosine"]) for r in pool_df.collect()
    }
    cand = (
        emb.join(
            F.broadcast(pool_df.select(id_col)), id_col
        ).select(
            F.col(id_col).alias("cid"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
    )
    a, b = cand.alias("a"), cand.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("a.cid") < F.col("b.cid"))
        .select(
            F.col("a.cid").alias("ia"),
            F.col("b.cid").alias("ib"),
            F.round(cosine(F.col("a.cv"), F.col("b.cv")), 6).alias("s"),
        )
    )
    sim: dict[tuple[int, int], float] = {}
    for r in pairs.collect():
        ia, ib, s = int(r["ia"]), int(r["ib"]), float(r["s"])
        sim[(ia, ib)] = sim[(ib, ia)] = s
    selected: list[tuple[int, int, float]] = []  # (rk, id, raw score)
    remaining = dict(rels)
    while remaining and len(selected) < k:
        if not selected:
            # step 1: pure relevance (greatest cosine, ties by id)
            best = min(remaining, key=lambda i: (-remaining[i], i))
            score = remaining[best]
        else:
            chosen = [i for _rk, i, _s in selected]

            def _obj(i: int) -> float:
                red = max(sim[(i, j)] for j in chosen)
                return lam * remaining[i] - (1.0 - lam) * red

            best = min(remaining, key=lambda i: (-_obj(i), i))
            score = _obj(best)
        selected.append((len(selected) + 1, best, score))
        del remaining[best]
    spark = emb.sparkSession
    out = local_relation(
        spark, "rk int, doc_id long, score double", list(zip(*selected))
    )
    return out.select("rk", "doc_id", F.round("score", 6).alias("score"))


def binary_sign_hamming_topk(
    emb: DataFrame,
    probe: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """1-bit (sign) quantization retrieval: each dimension collapses
    to its sign bit and candidates rank by Hamming distance to the
    probe's sign vector — 32x smaller vectors than float32 and a
    popcount-shaped distance, the memory-bound regime's coarse
    retrieval stage (usually followed by an exact rerank of the
    shortlist, cf. matryoshka_topk).

    Everything is Catalyst expressions: the sign vector is a
    ``transform``, the distance a ``zip_with`` XOR-sum folded
    sequentially; the probe broadcasts and the plan is scan →
    projection → TakeOrderedAndProject, exactly cosine_topk's shape.
    Returns (id, hamming) — ascending distance, ties by id."""
    signs = lambda v: F.transform(  # noqa: E731
        _as_double(v), lambda x: (x >= F.lit(0.0)).cast("int")
    )
    p = F.broadcast(
        probe.select(
            F.col(id_col).alias("probe_id"),
            signs(F.col(vec_col)).alias("probe_sign"),
        )
    )
    ham = F.aggregate(
        F.zip_with(
            signs(F.col(vec_col)),
            F.col("probe_sign"),
            lambda a, b: (a != b).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        emb.crossJoin(p)
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(F.col(id_col), ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pack_sign_words(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Ingest-time 1-bit quantization, PACKED: each vector's sign bits
    land in ``ceil(dim/64)`` bigint words (big-endian within a word,
    dimension 1 at the word's MSB side) — at dim=64 that is ONE long
    per vector, 64x less data than the float64 array. This is the
    memory-bound-regime storage format ``binary_sign_hamming_topk``
    only simulates (it recomputes signs from the float column per
    query, so its scan still moves the full float corpus).

    Pure Catalyst: nested transform/aggregate with shiftleft — no
    Python in the path. Returns (id, sign_words array<bigint>).
    """
    nwords = (dim + 63) // 64
    v = _as_double(F.col(vec_col))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(nwords - 1)),
        lambda w: F.aggregate(
            F.sequence(F.lit(0), F.lit(63)),
            F.lit(0).cast("long"),
            lambda acc, b: F.shiftleft(acc, 1)
            + F.when(
                (w * 64 + b < F.lit(dim))
                & (
                    F.element_at(
                        v, (w * 64 + b + 1).cast("int")
                    )
                    >= F.lit(0.0)
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        ),
    )
    return df.select(F.col(id_col), words.alias("sign_words"))


def hamming_packed_topk(
    corpus: DataFrame,
    probe: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by Hamming distance over ``pack_sign_words`` output: the
    distance is ``sum(bit_count(a XOR b))`` across the word arrays —
    one popcount per 64 dimensions instead of 64 element compares, on
    a corpus 64x smaller than the floats. The query stage of the
    quantize-at-ingest / popcount-at-query design every memory-bound
    vector store uses; identical ranking to binary_sign_hamming_topk
    (same bits, same tie rule), proven by the probe's oracle.

    Plan shape: scan -> broadcast probe -> projection ->
    TakeOrderedAndProject. Returns (id, hamming) ascending, ties by
    id."""
    p = F.broadcast(
        probe.select(
            F.col(id_col).alias("probe_id"),
            F.col("sign_words").alias("probe_words"),
        )
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("sign_words"),
            F.col("probe_words"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        corpus.crossJoin(p)
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(F.col(id_col), ham.cast("int").alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


def hamming_band_positions(
    band: int, bits: int, dim: int
) -> list[int]:
    """Band ``band``'s sampled bit positions (0-based dimension
    indexes): fixed pseudo-random sample WITHOUT replacement derived
    from md5("hb:band:i") — the same no-stored-model determinism as
    plane_signs, so executors, the driver, and the SQL oracle (which
    inlines the positions) all agree."""
    out: list[int] = []
    seen: set[int] = set()
    i = 0
    while len(out) < min(bits, dim):
        p = portable_hash_of(f"hb:{band}:{i}") % dim
        i += 1
        if p not in seen:
            seen.add(p)
            out.append(p)
    return out


def _band_key_expr(words_col: Column, positions: list[int]) -> Column:
    """Band key from PACKED sign words: fold the sampled bits into an
    int (key = key*2 + bit). Bit p lives at bit (63 - p%64) of word
    p//64 (pack_sign_words' big-endian layout); extraction is an
    arithmetic shiftright + AND — integer ops only, no float work on
    the scan."""
    key = F.lit(0).cast("long")
    for p in positions:
        bit = F.shiftright(
            F.element_at(words_col, p // 64 + 1), 63 - (p % 64)
        ).bitwiseAND(F.lit(1).cast("long"))
        key = key * F.lit(2) + bit
    return key


def hamming_lsh_topk(
    corpus: DataFrame,
    probe: DataFrame,
    dim: int,
    k: int = 10,
    n_bands: int = 4,
    bits_per_band: int = 12,
    id_col: str = "vec_id",
) -> DataFrame:
    """SUBLINEAR packed-Hamming retrieval: bit-sampling LSH (the
    original Indyk-Motwani Hamming-space family) over
    ``pack_sign_words`` output. Each band samples ``bits_per_band``
    fixed bit positions from the sign words; only corpus rows sharing
    at least one band key with the probe are popcount-ranked — the
    expected candidate set is N/2^bits per band for random bits, so
    the expensive XOR+popcount rerank is bucket-bounded while the
    band keys themselves are a handful of shift/AND integer ops
    (VERDICT r8 task 6: hamming_packed_topk's full-corpus popcount
    scan is the memory-bound-regime answer; this is its sub-linear
    complement, exactly what ann_lsh_bucket_topk is to cosine_topk).

    The probe's sign words collect driver-side (one row, metadata
    scale); its band keys are Python ints folded from the same bit
    layout, so the corpus filter is a literal equality-per-band OR —
    one whole-stage-codegen scan feeding TakeOrderedAndProject, no
    join, no shuffle. HONEST COST NOTE: at dim=64 the full popcount
    is ONE XOR per row, so this ad-hoc spelling's shift/AND band keys
    cost more per row than the scan they bound — it exists as the
    correctness twin and the one-off form. The wall-clock win comes
    from hamming_lsh_build_index / hamming_lsh_query_index, where the
    same band keys are hive partition keys and a query reads ONLY the
    n_bands matched bucket directories (~n_bands·N/2^bits rows of IO,
    measured sub-linear in bench.py's quantized curve).

    Returns (id, hamming) ascending, ties by id — identical ranking
    to hamming_packed_topk WITHIN the candidate set.
    """
    from component_delta_lake_writer_spark.errors import UserException

    rows = probe.select(F.col(id_col), F.col("sign_words")).collect()
    if len(rows) != 1:
        raise UserException(
            f"expected exactly one probe row, got {len(rows)}"
        )
    pid, pwords = rows[0][id_col], list(rows[0]["sign_words"])

    def py_key(positions: list[int]) -> int:
        key = 0
        for p in positions:
            # Python's >> on negative ints is arithmetic, same as the
            # JVM shiftright — two's-complement bits match
            key = key * 2 + ((pwords[p // 64] >> (63 - p % 64)) & 1)
        return key

    cond = F.lit(False)
    for b in range(n_bands):
        pos = hamming_band_positions(b, bits_per_band, dim)
        cond = cond | (
            _band_key_expr(F.col("sign_words"), pos)
            == F.lit(py_key(pos)).cast("long")
        )
    pw = F.array(*[F.lit(int(w)).cast("long") for w in pwords])
    ham = F.aggregate(
        F.zip_with(
            F.col("sign_words"), pw,
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        corpus.filter(F.col(id_col) != F.lit(pid))
        .filter(cond)
        .select(F.col(id_col), ham.cast("int").alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


def hamming_lsh_build_index(
    packed: DataFrame,
    index_path: str,
    dim: int,
    n_bands: int = 4,
    bits_per_band: int = 8,
    id_col: str = "vec_id",
) -> None:
    """Materialize the bit-sampling LSH index ``hamming_lsh_topk``
    evaluates on the fly: each row lands once PER BAND under a
    ``band=<b>/key=<k>`` hive partition (the classic LSH structure —
    one hash table per band, n_bands× storage on a corpus already 64×
    smaller than the floats), keys folded from the same md5-derived
    sampled bits. This is what makes the query SUB-LINEAR in wall
    clock, not just in rerank work: at dim=64 the ad-hoc filter's
    shift/AND band keys cost MORE per row than the single XOR+popcount
    it tries to avoid, so only partition-pruned IO — reading the
    n_bands matched bucket directories and nothing else — beats the
    full scan (the exact lesson of ivf_build_index vs ivf_topk).
    A ``_hamming_lsh.json`` sidecar records the parameters + schema
    (an empty index writes zero part files; queries read with the
    recorded schema)."""
    import json as _json

    bands = []
    for b in range(n_bands):
        pos = hamming_band_positions(b, bits_per_band, dim)
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                _band_key_expr(F.col("sign_words"), pos).alias("key"),
            )
        )
    indexed = packed.select(
        F.col(id_col), F.col("sign_words"),
        F.explode(F.array(*bands)).alias("_bk"),
    ).select(
        id_col, "sign_words",
        F.col("_bk.band").alias("band"), F.col("_bk.key").alias("key"),
    )
    # ONE shuffle by the bucket key before the partitioned write:
    # without it every input task writes into every band=/key= dir
    # (tasks × n_bands·2^bits small files — the classic partitioned-
    # write explosion); with it each bucket is one task's output
    indexed.repartition(F.col("band"), F.col("key")).write.mode(
        "overwrite"
    ).partitionBy("band", "key").parquet(index_path)
    with open(os.path.join(index_path, "_hamming_lsh.json"), "w") as f:
        _json.dump(
            {
                "dim": dim,
                "n_bands": n_bands,
                "bits_per_band": bits_per_band,
                "id_col": id_col,
                "schema": indexed.schema.json(),
            },
            f,
        )


def _fs_exists(spark, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API — resolves
    whatever scheme the path carries (file://, s3a://, abfss://, …),
    so the bucket-pruned query path survives object storage (VERDICT
    r9 task 7: ``os.path.isdir`` was local-FS-only, and the measured
    sublinear claim has to hold where a 100 TB index actually lives).
    Falls back to ``os.path.isdir`` when no JVM is reachable (plain
    local tooling)."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(hpath))
    except Exception:
        return os.path.isdir(path)


def hamming_lsh_query_index(
    spark,
    index_path: str,
    probe: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Probe a materialized bit-sampling LSH index: the probe's band
    keys are pure driver arithmetic over its collected sign words (no
    Spark job), and the candidate read is a PARTITION-PRUNED parquet
    scan of exactly the n_bands matched ``band=/key=`` directories —
    ~n_bands·N/2^bits rows touched regardless of corpus size. A row
    matching several bands dedups by id before the popcount rerank.
    Identical ranking to hamming_packed_topk within the candidate
    set (same words, same tie rule)."""
    import json as _json

    from component_delta_lake_writer_spark.errors import UserException

    try:
        with open(os.path.join(index_path, "_hamming_lsh.json")) as f:
            meta = _json.load(f)
    except FileNotFoundError:
        raise UserException(
            f"No hamming-LSH index at {index_path!r} (missing "
            "sidecar); run hamming_lsh_build_index first."
        ) from None
    id_col = meta["id_col"]
    rows = probe.select(F.col(id_col), F.col("sign_words")).collect()
    if len(rows) != 1:
        raise UserException(
            f"expected exactly one probe row, got {len(rows)}"
        )
    pid, pwords = rows[0][id_col], list(rows[0]["sign_words"])

    # the matched buckets are LITERALS — prune driver-side by reading
    # only those band=/key= directories (a root-path read would pay
    # partition DISCOVERY over all n_bands·2^bits bucket dirs on every
    # query, a fixed ~seconds listing cost that dwarfed the data read;
    # basePath keeps the partition columns in the schema)
    bucket_paths = []
    for b in range(meta["n_bands"]):
        pos = hamming_band_positions(
            b, meta["bits_per_band"], meta["dim"]
        )
        key = 0
        for p in pos:
            key = key * 2 + ((pwords[p // 64] >> (63 - p % 64)) & 1)
        bp = os.path.join(index_path, f"band={b}", f"key={key}")
        # an empty bucket has no directory; checked through the
        # Hadoop FS API so pruning works on object storage too
        if _fs_exists(spark, bp):
            bucket_paths.append(bp)
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(_json.loads(meta["schema"]))
    reader = spark.read.schema(schema).option("basePath", index_path)
    if bucket_paths:
        base = reader.parquet(*bucket_paths)
    else:
        base = local_relation(spark, schema)
    pw = F.array(*[F.lit(int(w)).cast("long") for w in pwords])
    ham = F.aggregate(
        F.zip_with(
            F.col("sign_words"), pw,
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        base.filter(F.col(id_col) != F.lit(pid))
        .select(F.col(id_col), F.col("sign_words"))
        .dropDuplicates([id_col])
        .select(F.col(id_col), ham.cast("int").alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


def jl_project(
    df: DataFrame,
    out_dim: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int | None = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas' ±1
    database-friendly variant, "Database-friendly random projections",
    PODS 2001): component p = Σ_d sign(p,d)·v[d] / √out_dim with the
    same md5-derived deterministic signs the LSH family uses
    (plane_signs) — no stored model, identical on every executor, and
    reproducible in ANSI SQL (the probe's oracle inlines the sign
    matrix).

    Pure Catalyst (one zip_with fold per output component, sequential
    so cross-engine float determinism holds); ``round_dp`` rounds
    each component (default 6dp) so downstream rankings compare
    engine-portably.  The dimensionality-reduction prefilter for
    embedding pipelines: distances are preserved within ε, vectors
    shrink dim/out_dim-fold."""
    import math

    dvec = _as_double(F.col(vec_col))
    comps = []
    for p in range(out_dim):
        signs = F.array(*[F.lit(s) for s in plane_signs(p, dim)])
        acc = F.aggregate(
            F.zip_with(dvec, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda a, x: a + x,
        ) / F.lit(math.sqrt(out_dim))
        comps.append(
            F.round(acc, round_dp) if round_dp is not None else acc
        )
    return df.select(F.col(id_col), F.array(*comps).alias("projected"))


def embedding_dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Per-DIMENSION corpus statistics (mean, std, min, max) — the
    stats pass behind mean-centering / z-score whitening of an
    embedding corpus before cosine work (anisotropic embedding spaces
    rank better centered; SemDeDup-style pipelines normalize first).

    One posexplode + hash aggregation on the dimension index: map-side
    partial aggregation leaves ``dim`` groups per task, so shuffle
    volume is O(dim x tasks) regardless of corpus size.  Sums go
    through ``functions.exact`` (the SQUARE is an exact 12dp product
    of the 6dp values), so mean/std are bit-deterministic across
    partitionings and engines.

    Returns (d, n, mean, std, mn, mx): 1-based dimension, count, and
    6dp-rounded stats.
    """
    mean_d = F.col("_s").cast("double") / F.col("n")
    return (
        df.select(F.posexplode(_as_double(F.col(vec_col))).alias("p", "v"))
        .select((F.col("p") + 1).alias("d"), "v")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("v", 6).alias("_s"),
            exact_sum_product("v", "v", 6).alias("_s2"),
            F.round(F.min("v"), 6).alias("mn"),
            F.round(F.max("v"), 6).alias("mx"),
        )
        .select(
            "d",
            "n",
            F.round(mean_d, 6).alias("mean"),
            # one double conversion of each EXACT decimal sum, then a
            # fixed-shape expression — identical IEEE arithmetic on
            # both engines
            # clamp at 0: a CONSTANT dimension's variance computes to
            # ±ulps of 0 after the decimal→double conversions; a few
            # ulps negative would make sqrt return NaN (Spark) or
            # raise out-of-range (DuckDB twin)
            F.round(
                F.sqrt(
                    F.greatest(
                        F.col("_s2").cast("double") / F.col("n")
                        - mean_d * mean_d,
                        F.lit(0.0),
                    )
                ),
                6,
            ).alias("std"),
            "mn",
            "mx",
        )
    )


def hard_negatives(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-``k`` most cosine-similar vectors with a DIFFERENT label —
    the negatives that actually move a contrastive loss (random
    negatives are trivially separable; the hard ones sit next to the
    anchor in embedding space).

    ``anchors`` broadcasts (it is a curated subset, metadata-scale
    next to the corpus); the corpus makes ONE scan, each row scored
    against every anchor in a compact expression, then a per-anchor
    window top-k — shuffle volume is O(anchors x k) after the
    map-side rank prune that TakeOrdered-per-group planning gives the
    window.  Returns (anchor_id, vec_id, cosine) with scores rounded
    6dp, ranked descending per anchor (ties by vec_id).
    """
    from pyspark.sql import Window

    a = F.broadcast(
        anchors.select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("anchor_label"),
            _as_double(F.col(vec_col)).alias("anchor_vec"),
        )
    )
    scored = (
        emb.join(a, F.col(label_col) != F.col("anchor_label"))
        .select(
            "anchor_id",
            F.col(id_col),
            F.round(
                cosine(_as_double(F.col(vec_col)), F.col("anchor_vec")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("anchor_id", id_col, "cosine")
    )


def pca_top_components(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_components: int = 2,
    n_iter: int = 8,
) -> DataFrame:
    """Top-k principal components of an embedding corpus by power
    iteration with deflation — the whitening/diagnostics primitive
    of the similarity tier (anisotropy audits remove the dominant
    directions; 2-D PCA projections plot the first two; PCA-based
    reduction keeps the top handful next to the existing
    JL/Matryoshka/PQ reducers).

    Scale shape: ONE corpus pass — a posexplode over the UPPER
    TRIANGLE (the inner explode runs on ``slice(x⃗, i, d−i+1)``,
    so N·d(d+1)/2 product rows, not N·d²) streams 12dp-rounded
    float products (exact in double) into a map-side-combined
    DECIMAL groupBy over the triangular metadata-scale cells; the
    mirror half is recovered EXACTLY after aggregation
    (round(x_i·x_j) = round(x_j·x_i)).  The mean vector rides the
    diagonal slice of the same aggregate.  Everything downstream
    is expressions on ONE row holding the d×d matrix: covariance
    C = M/n − μμᵀ via indexed transforms; per component,
    ``n_iter`` FIXED power-iteration rounds as array folds —
    w = C·v via zip_with + a SEQUENTIAL left fold (deterministic
    summation order on both engines), v ← round(w/‖w‖, 9) — then
    Hotelling deflation C ← C − λ·vvᵀ before the next component;
    the chained-lambda lineage is truncated every two rounds by
    localCheckpoint(eager=False) (the BPE lesson — no joins, no
    broadcasts, no per-round corpus actions).  Uniform start
    1/√d, exact when d is a power of four (0.125 at 64).

    Rows whose vector is NULL or not exactly ``dim`` long are
    dropped (fixed-dimension contract); an empty corpus refuses
    loudly.  Returns n_components·d rows: (component 1-based,
    dim_idx 1-based, loading 6dp, eigenvalue 6dp — ‖C_k·v‖, the
    Rayleigh estimate — and explained_share = eigenvalue over
    trace(C₁)).
    """
    from component_delta_lake_writer_spark.errors import UserException

    if not (1 <= n_components <= 8):
        raise UserException(
            "pca_top_components: n_components must be in [1, 8], "
            f"got {n_components!r}"
        )
    src = df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    ).select(_as_double(F.col(vec_col)).alias("_e"))
    if not src.select(F.lit(1)).limit(1).collect():
        raise UserException(
            f"pca_top_components: no rows with a {dim}-dim vector "
            f"in {vec_col!r}"
        )
    lvl1 = src.select(
        "_e", F.posexplode("_e").alias("_p", "_xi")
    ).select((F.col("_p") + 1).alias("_i"), F.col("_xi"), "_e")
    upper = lvl1.select(
        "_i",
        "_xi",
        F.posexplode(
            F.slice(
                F.col("_e"), F.col("_i"), F.lit(dim) - F.col("_i") + 1
            )
        ).alias("_q", "_xj"),
    ).select(
        "_i", (F.col("_i") + F.col("_q")).alias("_j"), "_xi", "_xj"
    )
    tri = upper.groupBy("_i", "_j").agg(
        exact_sum(F.col("_xi") * F.col("_xj"), 12).alias("_m"),
        exact_sum(F.when(F.col("_i") == F.col("_j"), F.col("_xi")), 9).alias(
            "_s"
        ),
        F.count(F.lit(1)).alias("_n"),
    )
    # mirror the strict upper half: round(x_i·x_j) == round(x_j·x_i)
    # makes this EXACT, not approximate
    cells = tri.select("_i", "_j", "_m").unionAll(
        tri.filter(F.col("_i") < F.col("_j")).select(
            F.col("_j").alias("_i"),
            F.col("_i").alias("_j"),
            "_m",
        )
    )
    diag = tri.filter(F.col("_i") == F.col("_j")).select(
        "_i", "_s", "_n"
    )
    flat = cells.agg(
        F.array_sort(
            F.collect_list(F.struct("_i", "_j", "_m"))
        ).alias("_f")
    )
    meta = diag.agg(
        F.array_sort(F.collect_list(F.struct("_i", "_s"))).alias(
            "_d"
        ),
        F.max("_n").alias("_n"),
    )
    one = flat.crossJoin(meta)
    n_d = F.col("_n").cast("double")
    one = one.select(
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: F.transform(
                F.slice(F.col("_f"), (i - 1) * dim + 1, dim),
                lambda s: s["_m"],
            ),
        ).alias("_M"),
        F.transform(
            F.col("_d"), lambda s: s["_s"].cast("double") / n_d
        ).alias("_mu"),
        "_n",
    )
    state = one.select(
        F.transform(
            F.col("_M"),
            lambda mrow, i: F.transform(
                mrow,
                lambda m, j: m.cast("double") / n_d
                - F.element_at(F.col("_mu"), i + 1)
                * F.element_at(F.col("_mu"), j + 1),
            ),
        ).alias("_C"),
        F.array(*[F.lit(0.125)] * dim).alias("_v"),
        F.lit(0.0).alias("_nrm"),
    )
    # trace of C₁ = total variance — the explained-share denominator;
    # a sequential left fold over the diagonal (the order the
    # oracle's list_reduce replays)
    state = state.select(
        "_C",
        "_v",
        "_nrm",
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: F.element_at(
                    F.element_at(F.col("_C"), i), i
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_tr"),
    )
    # the corpus aggregate feeds only this one-row plan — pin it so
    # the per-round checkpoints below never re-run the scan
    state = state.localCheckpoint(eager=True)
    done_cols: list = []
    for comp in range(1, n_components + 1):
        for it in range(n_iter):
            state = state.select(
                "_C",
                "_tr",
                *done_cols,
                F.transform(
                    F.col("_C"),
                    lambda crow: F.aggregate(
                        F.zip_with(
                            crow, F.col("_v"), lambda a, b: a * b
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                ).alias("_w"),
            ).select(
                "_C",
                "_tr",
                *done_cols,
                "_w",
                F.sqrt(
                    F.aggregate(
                        F.col("_w"),
                        F.lit(0.0),
                        lambda acc, x: acc + x * x,
                    )
                ).alias("_nrm"),
            ).select(
                "_C",
                "_tr",
                *done_cols,
                F.transform(
                    F.col("_w"),
                    lambda x: F.round(
                        F.when(
                            F.col("_nrm") > 0, x / F.col("_nrm")
                        ).otherwise(0.0),
                        9,
                    ),
                ).alias("_v"),
                "_nrm",
            )
            if it % 2 == 1 or it == n_iter - 1:
                # truncate the chained-lambda lineage every two
                # rounds (the BPE eager=False lesson)
                state = state.localCheckpoint(eager=False)
        vk, nk = f"_v{comp}", f"_nrm{comp}"
        keep = [
            F.col("_v").alias(vk),
            F.col("_nrm").alias(nk),
        ]
        if comp < n_components:
            # Hotelling deflation: C ← C − λ·vvᵀ, then restart from
            # the uniform vector for the next component
            state = state.select(
                F.transform(
                    F.col("_C"),
                    lambda crow, i: F.zip_with(
                        crow,
                        F.col("_v"),
                        lambda c, vj: c
                        - F.col("_nrm")
                        * F.element_at(F.col("_v"), i + 1)
                        * vj,
                    ),
                ).alias("_C"),
                "_tr",
                *done_cols,
                *keep,
                F.array(*[F.lit(0.125)] * dim).alias("_v"),
                F.lit(0.0).alias("_nrm"),
            )
        else:
            state = state.select(
                "_C", "_tr", *done_cols, *keep
            )
        done_cols = done_cols + [F.col(vk), F.col(nk)]
        state = state.localCheckpoint(eager=False)
    parts = []
    for comp in range(1, n_components + 1):
        vk, nk = f"_v{comp}", f"_nrm{comp}"
        parts.append(
            state.select(
                F.lit(comp).cast("int").alias("component"),
                F.posexplode(vk).alias("_p", "_l"),
                F.col(nk).alias("_nrm"),
                "_tr",
            ).select(
                "component",
                (F.col("_p") + 1).cast("int").alias("dim_idx"),
                F.round(F.col("_l"), 6).alias("loading"),
                F.round(F.col("_nrm"), 6).alias("eigenvalue"),
                F.when(
                    F.col("_tr") > 0,
                    F.round(F.col("_nrm") / F.col("_tr"), 6),
                ).alias("explained_share"),
            )
        )
    out = parts[0]
    for pdf in parts[1:]:
        out = out.unionAll(pdf)
    return out


def pca_top_component(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_iter: int = 8,
) -> DataFrame:
    """Top principal component — :func:`pca_top_components` with
    n_components=1, keeping the original single-component schema
    (dim_idx, loading, eigenvalue, explained_share)."""
    return pca_top_components(
        df, vec_col, dim, n_components=1, n_iter=n_iter
    ).drop("component")


def class_separation(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    dim: int,
) -> DataFrame:
    """Per-class-pair separation readout over a labeled embedding
    corpus — the eval that says whether the embedding SPACE
    actually separates the labels a downstream classifier or
    retrieval filter will lean on: for every label pair, the
    centroid distance against the classes' internal spread (the
    Fisher-discriminant shape).  Low ratios flag label pairs the
    space confuses — where retrieval hard-negatives and training
    mixes need attention.

    ONE corpus pass: a posexplode streams (label, i, x_i) into a
    map-side-combined groupBy over the |labels|·d metadata cells,
    accumulating Σx and Σx² as 9/12dp-rounded DECIMAL sums
    (order-free).  Everything downstream is metadata-scale: per
    label, the centroid μ and the mean intra-class spread
    E‖x−μ‖² = Σᵢ(Σx²ᵢ/n − μᵢ²) (the one-pass variance identity —
    no second corpus scan to measure distances); per pair, the
    squared centroid distance via a SEQUENTIAL fold over sorted
    dims (deterministic summation order both engines), and
    separation = ‖μ_a−μ_b‖² / (intra_a + intra_b).

    Rows with NULL label or a vector not exactly ``dim`` long are
    dropped.  Returns one row per unordered label pair (a < b):
    (label_a, label_b, n_a, n_b, centroid_dist, intra_a, intra_b,
    separation) — 6dp.
    """
    src = df.filter(
        F.col(vec_col).isNotNull()
        & F.col(label_col).isNotNull()
        & (F.size(vec_col) == dim)
    ).select(
        F.col(label_col).cast("string").alias("_l"),
        _as_double(F.col(vec_col)).alias("_e"),
    )
    cells = src.select(
        "_l", F.posexplode("_e").alias("_p", "_x")
    ).groupBy("_l", "_p").agg(
        exact_sum("_x", 9).alias("_s"),
        exact_sum(F.col("_x") * F.col("_x"), 12).alias("_s2"),
        F.count(F.lit(1)).alias("_n"),
    )
    per_label = cells.groupBy("_l").agg(
        F.max("_n").alias("_n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "_s"))),
            lambda s: s["_s"].cast("double"),
        ).alias("_sv"),
        # intra = Σᵢ (Σx²ᵢ/n − μᵢ²): fold the per-dim terms in
        # sorted-dim order (sequential, engine-portable)
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "_s2"))),
            lambda s: s["_s2"].cast("double"),
        ).alias("_s2v"),
    )
    n_d = F.col("_n").cast("double")
    per_label = per_label.select(
        "_l",
        "_n",
        F.transform(F.col("_sv"), lambda s: s / n_d).alias("_mu"),
        F.aggregate(
            F.zip_with(
                F.col("_s2v"),
                F.col("_sv"),
                lambda s2, s: s2 / n_d - (s / n_d) * (s / n_d),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_intra"),
    )
    per_label = per_label.localCheckpoint(eager=True)
    a = per_label.select(
        F.col("_l").alias("_la"),
        F.col("_n").alias("_na"),
        F.col("_mu").alias("_mua"),
        F.col("_intra").alias("_ia"),
    )
    b = per_label.select(
        F.col("_l").alias("_lb"),
        F.col("_n").alias("_nb"),
        F.col("_mu").alias("_mub"),
        F.col("_intra").alias("_ib"),
    )
    pairs = a.join(b, F.col("_la") < F.col("_lb"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("_mua"),
            F.col("_mub"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return pairs.select(
        F.col("_la").alias("label_a"),
        F.col("_lb").alias("label_b"),
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(F.sqrt(d2), 6).alias("centroid_dist"),
        F.round(F.col("_ia"), 6).alias("intra_a"),
        F.round(F.col("_ib"), 6).alias("intra_b"),
        F.when(
            F.col("_ia") + F.col("_ib") > 0,
            F.round(d2 / (F.col("_ia") + F.col("_ib")), 6),
        ).alias("separation"),
    )
