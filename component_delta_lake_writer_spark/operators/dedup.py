"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Beyond-reference extension (build brief): the dedup family a training
-data pipeline needs, each expressed as compositions of built-in
DataFrame ops so they scale as ordinary shuffles:

- exact: fingerprint (md5 of normalized text) → groupBy. One shuffle
  on a 32-char key; skew-free by construction (hash keys).
- MinHash+LSH: shingle explode → per-doc min over a pairwise-
  independent hash family (map-side combinable groupBy) → band keys →
  self-join on (band, key) for candidates → exact-Jaccard verify on
  candidates only. The classic near-linear near-dup pipeline: the
  O(n²) pair space is never materialized, only hash-bucket collisions.
- SimHash: sign-aggregated token hashes → 32-bit signature; near-dups
  = signatures at small Hamming distance found via band keys.
- n-gram Jaccard: exact verify used by the LSH candidates (and usable
  standalone on any candidate pair set).

All hashes derive from the portable hash (``functions/hashing.py``),
which the DuckDB oracle reproduces bit-for-bit; the LCG hash family
(a*h+b) % p uses constants small enough that a*h stays inside int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.hashing import portable_hash
from component_delta_lake_writer_spark.operators.text import (
    fingerprint,
    normalize_text,
    spread_for_fanout,
)

# (a, b) pairs for the universal hash family (a*h + b) mod P.
# a < 2^31, h < 2^32 → a*h < 2^63: no int64 overflow.
# 16 hashes = 4 LSH bands × 4 rows: collision probability s^4 per
# band — a sharp threshold curve around s≈0.5-0.7 (vs s^2, which
# floods buckets with 0.2-similar pairs on low-entropy corpora).
HASH_FAMILY: list[tuple[int, int]] = [
    (1664525, 1013904223),
    (22695477, 1),
    (69069, 12345),
    (1103515245, 12345),
    (134775813, 1),
    (214013, 2531011),
    (1140671485, 12820163),
    (65793, 4282663),
    (16843009, 826366247),
    (30903, 30903),
    (31083, 49831),
    (2147001325, 715136305),
    (16807, 0),
    (48271, 0),
    (69621, 0),
    (40692, 0),
]
MERSENNE_P = 4294967311  # prime > 2^32

# Band buckets larger than this are skipped when generating candidate
# pairs: a bucket of B docs yields B²/2 pairs, so degenerate buckets
# (boilerplate / exact-duplicate clusters, which exact_dedup already
# handles) would dominate runtime quadratically. Standard practice in
# large-corpus near-dup pipelines; the DuckDB oracle applies the same
# cap, so the contract stays checkable.
MAX_BUCKET = 64


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-free dedup: keep the min-id representative per
    normalized-text fingerprint. Returns (fingerprint, keep_id, n_dups).
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Word k-gram shingle hashes per doc: (id, h:uint32).

    Word-level shingles (the standard unit for text near-dup — ~|tokens|
    rows/doc instead of ~|chars| for character shingles: ~6x less hash
    work at identical dedup quality). Shingling is expressed as
    split+sequence+transform+explode — pure Catalyst expressions, no
    Python. ``h`` is the first 8 md5 hex chars as an integer
    (oracle-reproducible: DuckDB parses the same hex).

    NOT distinct by design — MIN() for signatures is duplicate-
    insensitive and jaccard_verify dedups via collect_set, so the
    engine skips a full (doc_id, h) shuffle. The oracle's DISTINCT
    produces identical results.
    """
    # Shingling amplifies each row ~|tokens| times; a small file count
    # would otherwise pin the whole fan-out (and its md5 per shingle)
    # on few cores. Spread to the session's parallelism first — but
    # only when the scan is under-split (see spread_for_fanout).
    df = spread_for_fanout(df)
    # Tokenization is projected to a materialized column FIRST: inlining
    # it into the transform lambda would re-evaluate the full-document
    # regex normalize + split once per shingle position (~|tokens|× per
    # doc — measured 2× the whole pipeline's cost).
    toked = df.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("_toks"),
    )
    t = F.col("_toks")
    return toked.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(t) - (k - 1), F.lit(1))),
                lambda i: F.array_join(F.slice(t, i, k), " "),
            )
        ).alias("shingle"),
    ).select(
        F.col(id_col),
        portable_hash("shingle").alias("h"),
    ).filter(F.col("h").isNotNull())
    # NULL-text docs produce one NULL shingle (split(NULL) slices to
    # NULL); unfiltered, their empty sets all band to the same ""
    # key, pair up, and the 0/0 Jaccard raises DIVIDE_BY_ZERO under
    # Spark 4's default ANSI mode — one NULL doc killed the job


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-doc MinHash signature columns m0..m{k-1}. Single map-side-
    combinable groupBy over the shingle stream."""
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(HASH_FAMILY)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def signatures_from_sets(sets: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """MinHash signatures computed FROM the per-doc shingle-set arrays
    (``hs`` column) instead of the raw shingle stream: min over a set
    equals min over the multiset, so results are bit-identical to
    ``minhash_signatures`` — with ZERO additional shuffle and zero
    re-scan of the corpus when the set relation is already
    materialized for the verify stage.

    k separate ``array_min(transform(…))`` passes, NOT one
    ``aggregate`` with a k-field struct accumulator: higher-order
    functions evaluate per-element without codegen, and rebuilding a
    16-field struct per array element measured ~20% slower end-to-end
    than 16 simple traversals (A/B'd under bench-like JVM warmth)."""
    sig_cols = [
        F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P),
            )
        ).alias(f"m{i}")
        for i, (a, b) in enumerate(HASH_FAMILY)
    ]
    return sets.select(F.col(id_col), *sig_cols)


def lsh_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band.

    Bands are string keys m_i||'_'||…; the self-join runs on
    (band_idx, band_key) after an explode — a hash-partitioned
    equi-join, never an O(n²) cross product. Buckets with <2 docs
    produce no pairs and buckets above ``max_bucket`` are skipped
    (see MAX_BUCKET) — so the join's worst case per bucket is bounded
    at max_bucket²/2 regardless of corpus skew.
    """
    k = len(HASH_FAMILY)
    if bands < 1 or k % bands != 0:
        raise ValueError(
            f"bands={bands} must divide the hash family size {k}: a "
            "non-divisor silently drops signature rows, and bands > "
            f"{k} degenerates every band key to '' (zero recall)."
        )
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        key = F.concat_ws("_", *[p.cast("string") for p in parts])
        band_cols.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    banded = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # ONE shuffle over the banded stream: collect each bucket's member
    # ids and generate its pairs IN-ARRAY (sorted, so id_a < id_b by
    # construction; per-bucket pair count bounded by max_bucket²/2).
    # The previous groupBy-count + bucket-join + self-join spelling
    # paid three shuffles over the 4×-exploded stream — at corpus
    # scale the banded stream is the pipeline's widest relation, so
    # shuffling it once instead of three times is the dominant win.
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(
            (F.size("ids") >= 2) & (F.size("ids") <= max_bucket)
        )
        .select(F.array_sort("ids").alias("ids"))
    )
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    persist_sets: bool = False,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only.

    Per-doc shingle sets are collected once into arrays, candidates
    join the two arrays, and the intersection is ``array_intersect``
    — two joins total, per-pair cost O(|set|), no exploded
    pair×shingle blow-up.

    ``persist_sets``: the sets relation feeds both join sides (sa,
    sb); without caching, the shingle lineage under it computes once
    per side. Persisting the (small: one row per doc) set relation
    halves that — measured faster on both the minhash and ngram
    paths since the array-pair LSH rewrite.
    """
    sets = shingle_sets(sh, id_col)
    if persist_sets:
        sets = sets.persist()
    return verify_from_sets(candidates, sets, threshold)


def shingle_sets(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, hs: array<bigint>, n) — each doc's distinct shingle hashes.
    One map-side-combinable groupBy over the shingle stream."""
    return (
        sh.groupBy(id_col)
        .agg(F.collect_set("h").alias("hs"))
        .withColumn("n", F.size("hs"))
    )


def sets_with_signatures(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, hs, n, m0..m{k-1}) — the per-doc shingle SET and its full
    MinHash signature from ONE groupBy over the shingle stream.

    The k min-aggregates ride the same (map-side-combinable) aggregate
    that builds the set: min over the shingle MULTISET equals min over
    the set (duplicates never change a min), so the signature columns
    are bit-identical to ``signatures_from_sets(shingle_sets(sh))`` —
    but the k LCG probes are evaluated by the aggregate's codegen'd
    update projection as the shingle stream flows by, instead of k
    INTERPRETED higher-order ``transform``+``array_min`` traversals
    (each allocating a k-mapped copy of the array) over the cached
    set relation afterwards (r14, guide §4.2/§5.4). The shuffle grows
    by k bigints per partial — noise next to the set payload."""
    aggs = [F.collect_set("h").alias("hs")] + [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(HASH_FAMILY)
    ]
    return sh.groupBy(id_col).agg(*aggs).withColumn("n", F.size("hs"))


def verify_from_sets(
    candidates: DataFrame, sets: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard over candidate pairs given a prebuilt set relation
    (first column = the id). Two equi-joins, array_intersect per pair."""
    id_col = sets.columns[0]
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"), F.col("n").alias("n_a")
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"), F.col("n").alias("n_b")
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / (F.col("n_a") + F.col("n_b") - inter), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH → verify.
    Returns (id_a, id_b, jaccard) pairs above the threshold.

    The pipeline makes exactly ONE pass over the corpus: the shingle
    stream aggregates into the per-doc SET+SIGNATURE relation (one row
    per doc, persisted — ``sets_with_signatures``: the 16 minhash
    mins ride the same groupBy that builds the set, so the signature
    costs zero extra passes AND zero interpreted array traversals),
    and BOTH downstream needs read it — banding straight off the
    cached m0..m15 columns, the exact-Jaccard verify off the cached
    arrays via ``verify_from_sets``. The exploded shingle stream
    itself is never cached (its serialized fan-out measured ~3× the
    recompute cost) and never recomputed either."""
    sh = shingles(df, text_col, id_col, k_shingle)
    sets = sets_with_signatures(sh, id_col).persist()
    sig = sets.select(
        F.col(id_col), *[f"m{i}" for i in range(len(HASH_FAMILY))]
    )
    cand = lsh_candidates(sig, id_col)
    return verify_from_sets(cand, sets.select(id_col, "hs", "n"), threshold)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """32-bit SimHash over whitespace tokens: for each bit, sign of the
    sum of ±1 token votes. Explode + conditional sums — one shuffle."""
    tok = spread_for_fanout(df).select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), r"\s+")).alias("tok"),
    ).select(
        F.col(id_col),
        portable_hash("tok").alias("h"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        sig = sig + F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(0)
    return agg.select(F.col(id_col), sig.alias("simhash"))


# Shingles with document frequency above this produce no candidate
# pairs in ngram_jaccard_dedup: a shingle shared by B docs yields
# B²/2 pairs, so boilerplate shingles would dominate quadratically —
# and pairs whose ONLY shared shingles are corpus-common ones sit far
# below any useful Jaccard threshold anyway. Rare shingles are the
# discriminative ones (classic inverted-index blocking). Must exceed
# the largest expected near-dup CLUSTER size: a cluster of B
# near-identical docs pushes its shared shingles to df≈B, and capping
# below that silently drops the whole cluster. With the MIN_SHARED
# gate carrying the volume control, 32 costs little (≤ 496 generated
# pairs per bucket) and keeps clusters up to 32 docs recallable.
RARE_DF = 32


# A pair must share at least this many rare shingles to become a
# verification candidate. At threshold 0.5 a true near-dup shares
# dozens of shingles, and every shared shingle of a dup pair has
# df ≥ 2 (it occurs in both docs) — so real pairs clear this bar by
# an order of magnitude, while the single-coincidence pairs that
# dominate the blocking join (~99% of it) are dropped before the
# expensive set-intersection verify.
MIN_SHARED = 2


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.5,
    rare_df: int = RARE_DF,
    min_shared: int = MIN_SHARED,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via rare-shingle blocking.

    No sketching: candidates are doc pairs sharing ≥ min_shared RARE
    shingles (document frequency in [2, rare_df]) found through the
    inverted index, then exact set-Jaccard on the full shingle sets.
    Deterministic recall for any pair sharing min_shared rare shingles
    — the complement of MinHash+LSH (probabilistic recall,
    frequency-blind). Cost: one groupBy for the index, a bounded
    in-array pair expansion (≤ rare_df²/2 pairs per shingle), a pair
    co-count, and the shared verify_from_sets. Candidate space is the
    inverted-index collision set, never O(n²).
    """
    # Same one-corpus-pass shape as minhash_dedup: the compact per-doc
    # SET relation (one row per doc) is the single materialization;
    # the inverted index re-explodes from the cached arrays (cheap)
    # instead of caching the raw explode+md5 fan-out (whose serialized
    # size dominated — measured 7.6 s cold vs 2.9 s for this shape).
    sh = shingles(df, text_col, id_col, k_shingle)
    sets = shingle_sets(sh, id_col).persist()
    # Inverted index in ONE shuffle: the arrays are already distinct
    # per doc, so no separate dedup pass. Worst-case postings list =
    # all docs (~MB) — fine to materialize then discard; buckets that
    # survive hold ≤ rare_df ids.
    postings = (
        sets.select(F.col(id_col), F.explode("hs").alias("h"))
        .groupBy("h")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= rare_df))
    )
    # ≤ rare_df²/2 pairs per bucket, generated in-array (ids sorted →
    # id_a < id_b for free); the co-count groupBy costs the same
    # shuffle a distinct would and feeds the min_shared gate.
    cand = (
        postings.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ids) - 1), "
                    "i -> transform(sequence(0, i - 1), "
                    "j -> struct(ids[j] AS id_a, ids[i] AS id_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("id_a", "id_b")
    )
    return verify_from_sets(cand, sets, threshold)


def incremental_exact_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING kept corpus — the daily
    operation of a continuously-built training set (the reference's
    append/upsert loop shape, applied to dedup state).

    Two stages, both shuffling fingerprints only — document text never
    crosses the wire past its own partition:

    1. in-batch: keep the min-id doc per fingerprint (window-min, one
       shuffle of the batch);
    2. cross-corpus: anti-join the survivors' fingerprints against the
       corpus's DISTINCT fingerprint set. The corpus side is reduced
       to one 32-char column before the join, so at 100 TB the
       exchange carries ~1% of corpus bytes; AQE picks broadcast when
       the batch-day fingerprint set is small enough.

    Returns the surviving batch rows as (doc_id, fingerprint).
    """
    from pyspark.sql import Window

    b = batch.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    in_batch = (
        b.withColumn("_min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_min_id"))
        .drop("_min_id")
    )
    seen = corpus.select(
        fingerprint(F.col(text_col)).alias("__seen_fp")
    ).distinct()
    # NULL-SAFE anti-join: stage 1's window groups NULL fingerprints
    # (NULL-text docs) together, but a null-UNSAFE join would never
    # match them against a corpus NULL — the incremental path would
    # keep re-admitting NULL-text docs the batch path collapses
    return in_batch.join(
        seen,
        F.col("fingerprint").eqNullSafe(F.col("__seen_fp")),
        "left_anti",
    )


def cross_corpus_near_dup(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.5,
    rare_df: int = RARE_DF,
    min_shared: int = MIN_SHARED,
) -> DataFrame:
    """Near-duplicate DECONTAMINATION between two corpora: exact
    n-gram-Jaccard pairs (id_a = train doc, id_b = test doc,
    jaccard) at or above ``threshold`` — the near-dup upgrade of the
    exact-match benchmark-contamination screen (quality.py), catching
    eval documents that leaked into training data with trivial edits.

    Blocking inverts ONLY the train side: shingles indexed when their
    train-side document frequency is ≤ ``rare_df`` (cross-corpus df
    starts at 1 — a leaked test doc needs just one train occurrence,
    unlike self-dedup's ≥2). The test side's per-doc shingle sets join
    the index equi-on hash, pairs gate on ≥ ``min_shared`` shared
    indexed shingles, then the shared exact set-Jaccard verify runs.
    Candidate space is the inverted-index collision set — never
    O(train × test). Ids must be distinct across the two inputs.

    At 100 TB the train index is built once and reused per eval set;
    each probe is one equi-join of the (small) eval shingle stream
    against it.

    The two persisted set relations (one row per doc — bounded) feed
    both the blocking and verify stages of the returned LAZY plan, so
    they stay cached for the session like minhash_dedup's set
    relation; Spark's LRU storage eviction bounds the residency."""
    tr_sets = shingle_sets(
        shingles(train, text_col, id_col, k_shingle), id_col
    ).persist()
    te_sets = shingle_sets(
        shingles(test, text_col, id_col, k_shingle), id_col
    ).persist()
    postings = (
        tr_sets.select(F.col(id_col), F.explode("hs").alias("h"))
        .groupBy("h")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("tr_ids"))
        .filter(F.size("tr_ids") <= rare_df)
    )
    te_sh = te_sets.select(
        F.col(id_col).alias("id_b"), F.explode("hs").alias("h")
    )
    cand = (
        te_sh.join(postings, "h")
        .select(F.explode("tr_ids").alias("id_a"), "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("id_a", "id_b")
    )
    return verify_from_sets(
        cand, tr_sets.unionByName(te_sets), threshold
    )


def ngram_containment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.8,
    rare_df: int = RARE_DF,
    min_shared: int = MIN_SHARED,
) -> DataFrame:
    """Sub-document duplication via n-gram CONTAINMENT: pairs where
    the SMALLER document's shingle set is mostly inside the larger's
    (|A∩B| / min(|A|, |B|) >= threshold). Jaccard misses these — a
    paragraph quoted inside a 100x larger page has tiny Jaccard but
    containment ~1.0 — and they are exactly the quote/boilerplate/
    wrapper duplication a training corpus wants flagged.

    Same deterministic-recall candidate machinery as
    ngram_jaccard_dedup (rare-shingle inverted index, bounded
    in-array pair expansion, shared-count gate); only the verify
    statistic changes. Candidate space is the inverted-index
    collision set, never O(n^2)."""
    sh = shingles(df, text_col, id_col, k_shingle)
    sets = shingle_sets(sh, id_col).persist()
    postings = (
        sets.select(F.col(id_col), F.explode("hs").alias("h"))
        .groupBy("h")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= rare_df))
    )
    cand = (
        postings.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(ids) - 1), "
                    "i -> transform(sequence(0, i - 1), "
                    "j -> struct(ids[j] AS id_a, ids[i] AS id_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("id_a", "id_b")
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / F.least("n_a", "n_b"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 3,
    block_len: int = 8,
    compare_len: int = 30,
    max_block: int = 256,
) -> DataFrame:
    """Levenshtein near-dup pairs with PREFIX BLOCKING: documents are
    compared on their lowercased ``compare_len``-char prefix, but only
    within blocks sharing the first ``block_len`` characters — the
    classic entity-resolution blocking that turns an O(N²) fuzzy join
    into Σ(block²), with ``max_block`` capping any degenerate block
    (a shared boilerplate prefix would otherwise re-create the
    quadratic; skipped blocks trade recall for a hard cost bound,
    same posture as MAX_BUCKET in the MinHash pipeline).

    One shuffle on the block key; ``levenshtein`` is JVM-side in both
    engines, so the probe's oracle reproduces every distance exactly.
    Returns (id_a, id_b, dist) with id_a < id_b.
    """
    t = df.select(
        F.col(id_col),
        F.substring(F.lower(F.col(text_col)), 1, compare_len).alias("_p"),
    ).withColumn("_b", F.substring("_p", 1, block_len))
    sizes = t.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    bounded = t.join(
        F.broadcast(sizes.filter(F.col("_n") <= max_block)), "_b"
    )
    a = bounded.select(
        F.col("_b"), F.col(id_col).alias("id_a"), F.col("_p").alias("_pa")
    )
    b = bounded.select(
        F.col("_b"), F.col(id_col).alias("id_b"), F.col("_p").alias("_pb")
    )
    return (
        a.join(b, "_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("_pa", "_pb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def domain_similarity(
    df: DataFrame,
    domain_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary similarity between corpus DOMAINS — the
    mix-planning readout: before blending sources (or deciding two
    crawls are redundant), teams ask how much of the domains' token
    sets overlap.  Reports BOTH the exact Jaccard and the MinHash
    estimate from the house 16-permutation family — the same
    sketch the doc-level dedup tier uses — so the sketch's quality
    is visible next to the truth it approximates (at 100 TB the
    exact intersection join is the expensive path and the
    signature comparison is free; at audit scale you run both).

    ONE corpus pass tokenizes (lowercase letter runs → the house
    md5-prefix hash) and collapses to the DISTINCT (domain, token
    hash) relation (vocab-scale, pinned — min over a set equals
    min over the multiset, so the signatures read the same
    relation the exact join does): per-domain signatures are 16
    min-aggregates; exact intersections ride one self-join keyed
    on the token hash (heavy-hitter keys, metadata output);
    |A∪B| = |A|+|B|−|A∩B|.  Returns one row per unordered domain
    pair: (domain_a, domain_b, n_tokens_a, n_tokens_b,
    intersection, exact_jaccard, minhash_jaccard, k_hashes).
    """
    toks = (
        df.filter(
            F.col(text_col).isNotNull()
            & F.col(domain_col).isNotNull()
        )
        .select(
            F.col(domain_col).cast("string").alias("_d"),
            F.explode(
                F.array_remove(
                    F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                    "",
                )
            ).alias("_tok"),
        )
        .select(
            "_d",
            portable_hash("_tok").alias("_h"),
        )
        .groupBy("_d", "_h")
        .agg(F.lit(1).alias("_one"))
    )
    toks = toks.localCheckpoint(eager=True)
    sigs = toks.groupBy("_d").agg(
        F.count(F.lit(1)).alias("_nt"),
        *[
            F.min(
                (F.lit(a) * F.col("_h") + F.lit(b))
                % F.lit(MERSENNE_P)
            ).alias(f"_m{i}")
            for i, (a, b) in enumerate(HASH_FAMILY)
        ],
    )
    inter = (
        toks.select(F.col("_d").alias("_da"), "_h")
        .join(
            toks.select(F.col("_d").alias("_db"), "_h"),
            "_h",
        )
        .filter(F.col("_da") < F.col("_db"))
        .groupBy("_da", "_db")
        .agg(F.count(F.lit(1)).alias("_ix"))
    )
    a = sigs.select(
        F.col("_d").alias("_da"),
        F.col("_nt").alias("_na"),
        *[F.col(f"_m{i}").alias(f"_a{i}") for i in range(len(HASH_FAMILY))],
    )
    b = sigs.select(
        F.col("_d").alias("_db"),
        F.col("_nt").alias("_nb"),
        *[F.col(f"_m{i}").alias(f"_b{i}") for i in range(len(HASH_FAMILY))],
    )
    pairs = (
        a.join(b, F.col("_da") < F.col("_db"))
        .join(F.broadcast(inter), ["_da", "_db"], "left")
        .select(
            "*",
            F.coalesce(F.col("_ix"), F.lit(0)).alias("_ixc"),
        )
    )
    k = len(HASH_FAMILY)
    matches = sum(
        (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int")
        for i in range(k)
    )
    union = F.col("_na") + F.col("_nb") - F.col("_ixc")
    return pairs.select(
        F.col("_da").alias("domain_a"),
        F.col("_db").alias("domain_b"),
        F.col("_na").cast("long").alias("n_tokens_a"),
        F.col("_nb").cast("long").alias("n_tokens_b"),
        F.col("_ixc").cast("long").alias("intersection"),
        F.when(
            union > 0,
            F.round(
                F.col("_ixc").cast("double") / union.cast("double"),
                6,
            ),
        ).alias("exact_jaccard"),
        F.round(
            matches.cast("double") / F.lit(float(k)), 6
        ).alias("minhash_jaccard"),
        F.lit(k).cast("int").alias("k_hashes"),
    )
