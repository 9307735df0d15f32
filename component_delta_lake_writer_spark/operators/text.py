"""Text-analysis operators for training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen) — no Python UDFs. Every helper returns a column
or DataFrame transform so Catalyst can push/prune around it.

Beyond-reference extension (SURVEY §2.6/§7 M4): the reference has no
scalar text surface; these are the operators a 100 TB document corpus
needs (tokenize/quality/language-ID/fingerprint), designed to run as
narrow projections over a partitioned scan — no shuffle at all until
an aggregation asks for one. Integer hashes (winnowing's k-grams) are
the portable hash of ``functions/hashing.py``; ``fingerprint`` keeps
the full md5 hex string.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import (
    exact_sum,
    exact_sum_product,
    quantize,
)
from component_delta_lake_writer_spark.functions.hashing import portable_hash
from component_delta_lake_writer_spark.session import local_relation

# whitespace tokenizer — identical semantics to the DuckDB oracle's
# string_split_regex(trim(x), '\s+')
_WS = r"\s+"

# BPE-ish word/number/symbol pieces (used by token_count_bpe)
_BPE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it"]

# tiny per-language marker sets for the n-gram/stopword language ID
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|is|with)\b",
    "de": r"\b(der|und|die|das|nicht)\b",
    "fr": r"\b(le|la|et|les|des)\b",
    "es": r"\b(el|los|las|y|que)\b",
    "zh": r"[一-鿿]",
}


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(text), _WS))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish piece count: letter runs + digit runs + single symbols."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    r"""Punctuation fraction with UNICODE letter/digit classes: Java's
    \w is ASCII-only, so every CJK or accented character counted as
    punctuation — well-formed zh/ja/de/fr text scored near the floor
    of quality_score and a quality gate filtered it wholesale. \p{L}
    and \p{N} behave identically in Java regex and DuckDB's RE2, so
    the oracle mirrors stay bit-exact."""
    n_punct = F.size(
        F.regexp_extract_all(text, F.lit(r"[^\p{L}\p{N}_\s]"), F.lit(0))
    )
    return n_punct / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column) -> Column:
    pat = r"\b(" + "|".join(_STOPWORDS) + r")\b"
    hits = F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), F.lit(0)))
    return hits / F.greatest(token_count(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1]-ish quality heuristic: long enough, not
    punctuation soup, has a sane stopword share. Weights arbitrary but
    fixed; the point is the Spark-side shape (pure column expr)."""
    len_score = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    punct_pen = punct_ratio(text)
    stop = stopword_ratio(text)
    return F.round(
        0.5 * len_score + 0.3 * F.least(stop * 5.0, F.lit(1.0)) + 0.2 * (1.0 - punct_pen),
        6,
    )


def lang_scores(text: Column) -> dict[str, Column]:
    return {
        lang: F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), F.lit(0)))
        for lang, pat in LANG_MARKERS.items()
    }


def lang_id_from_scores(scores: dict[str, Column]) -> Column:
    """Argmax over per-language score columns; deterministic tie-break
    by the fixed language order (first strictly-greater wins)."""
    langs = list(LANG_MARKERS)
    best_lang = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        is_better = scores[lang] > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, scores[lang]).otherwise(best_score)
    return F.when(best_score > 0, best_lang).otherwise(F.lit("und"))


def lang_id(text: Column) -> Column:
    """Argmax over marker hits. NOTE: inlines each regex into the
    when-chain; for hot paths project ``lang_scores`` into real columns
    first and use ``lang_id_from_scores`` so every regex runs once
    (the chained argmax otherwise duplicates the regexp_extract_all
    subtrees many times in the generated code)."""
    return lang_id_from_scores(lang_scores(text))


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), _WS, " "))


def _parse_bytes(s: str) -> int:
    """Spark size-string → bytes ('134217728b', '128m', '1g', '4MB')."""
    t = s.strip().lower()
    for suffix, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("b", 1), ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
        ("t", 1 << 40),
    ):
        if t.endswith(suffix):
            return int(float(t[: -len(suffix)]) * mult)
    return int(t)


# Logical-plan nodes a SCAN-ROOTED input may consist of: narrow
# row-level ops over a file relation. Anything else (aggregate, join,
# window, repartition, union, generator, ...) means the input is
# derived — its partitioning was already sized by an upstream shuffle
# (and AQE), so the local-crutch repartition must not fire.
_SCAN_ROOTED_NODES = frozenset({"Project", "Filter", "Relation", "SubqueryAlias", "View"})


def _scan_split_estimate(df: DataFrame) -> int | None:
    """Estimated scan-task count for a scan-rooted DataFrame, computed
    from FILE METADATA only — no job, no physical planning (the old
    ``df.rdd.getNumPartitions()`` probe forced full physical planning
    and, under AQE on a derived input, could execute upstream query
    stages just to answer the gate). Mirrors Spark's own
    FilePartition.maxSplitBytes sizing: splits of
    min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores)).
    Returns None when the input is derived or the file sizes are not
    locally statable — callers then leave partitioning alone (an
    upstream exchange / AQE already sized it)."""
    import math
    from urllib.parse import unquote, urlparse

    try:
        tree = df._jdf.queryExecution().analyzed().treeString()
    except Exception:
        return None
    for line in tree.splitlines():
        name = line.lstrip(" :+-").split(" ", 1)[0].split("(", 1)[0]
        if name and name not in _SCAN_ROOTED_NODES:
            return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes: list[int] = []
    for uri in files:
        if uri.startswith("file:"):
            path = unquote(urlparse(uri).path)
        elif "://" not in uri:
            path = uri
        else:  # remote storage: no cheap size probe, AQE owns it
            return None
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    conf = df.sparkSession.conf
    max_pb = _parse_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    open_cost = _parse_bytes(
        conf.get("spark.sql.files.openCostInBytes", "4m")
    )
    p = df.sparkSession.sparkContext.defaultParallelism
    total = sum(sizes) + open_cost * len(sizes)
    max_split = min(max_pb, max(open_cost, total // max(p, 1) + 1))
    return sum(max(1, math.ceil(sz / max_split)) for sz in sizes)


def spread_for_fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition to session parallelism — but ONLY for a
    scan-rooted input whose estimated split count is below the core
    count.

    The shingle/token fan-outs amplify each row ~|tokens| times, so a
    small split count (locally: one ~10 MB parquet file = a couple of
    tasks) would pin the whole md5-per-shingle pass on few cores. At
    corpus scale the scan already yields far more splits than cores
    and an unconditional ``repartition(n)`` becomes a full shuffle of
    the text payload for nothing — the classic accidental exchange.
    The split count comes from scan FILE METADATA (no job — see
    ``_scan_split_estimate``); derived inputs pass through untouched
    because their partitioning was already sized by the upstream
    exchange and AQE. Round-robin placement never changes results
    (every consumer aggregates by key).

    Derived (not scan-rooted) inputs are never repartitioned, however
    few partitions they have: a fan-out caller must not pre-coalesce
    its input (``coalesce(1)``, a small ``repartition``), or the whole
    fan-out runs on that many cores.
    """
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    est = _scan_split_estimate(df)
    if est is not None and est < p:
        df = df.repartition(p)
    return df


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text. Used for
    exact dedup; cheap, shuffle-free until the groupBy."""
    return F.md5(normalize_text(text))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return (
        df.withColumn("n_tokens", token_count(c))
        .withColumn("n_pieces", token_count_bpe(c))
        .withColumn("punct_ratio", F.round(punct_ratio(c), 6))
        .withColumn("stopword_ratio", F.round(stopword_ratio(c), 6))
        .withColumn("quality", quality_score(c))
        .withColumn("lang_pred", lang_id(c))
        .withColumn("fingerprint", fingerprint(c))
    )


# Winnowing (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms
# for Document Fingerprinting", SIGMOD 2003) parameters: character
# k-gram size and window width. Guarantee: any match of length
# ≥ WINNOW_K + WINNOW_W - 1 chars between two docs is caught by at
# least one selected fingerprint; expected density ≈ 2/(w+1).
WINNOW_K = 8
WINNOW_W = 4
# Fingerprints are taken over this prefix: plenty for near-dup
# detection (the same bound keeps the per-row hash count — and the
# DuckDB oracle's mirror — at ≤ max_chars k-gram hashes per doc).
WINNOW_MAX_CHARS = 512


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_chars: int = WINNOW_MAX_CHARS,
) -> DataFrame:
    """Distinct winnowed fingerprints per doc: (id, fp:bigint).

    The rolling-hash fingerprint family from the build brief: hash
    every char k-gram of the normalized text, slide a w-window over
    the hash sequence, keep each window's minimum — all as one
    Catalyst array expression per row (sequence → transform → slice →
    array_min), no explosion until the final per-fingerprint unnest
    and no Python. The k-gram hash is the engine's portable hash
    (``functions/hashing.py``, identical in the DuckDB oracle) rather
    than a Karp-Rabin polynomial: same selection semantics, and the
    true rolling evaluation is an implementation detail Catalyst can't
    express cheaper anyway at k=8.
    """
    s = F.substring(normalize_text(F.col(text_col)), 1, max_chars)
    df = df.select(F.col(id_col), s.alias("_s"))
    hs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("_s") - (k - 1), F.lit(1))),
        lambda i: portable_hash(F.substring("_s", i, k)),
    )
    fps = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(_hs) - {w - 1}, 1)), "
        f"j -> array_min(slice(_hs, j, {w}))))"
    )
    return (
        spread_for_fanout(df)
        .select(F.col(id_col), hs.alias("_hs"))
        .select(F.col(id_col), F.explode(fps).alias("fp"))
    )


# Chunking defaults: ~chunk_tokens-token windows advancing by
# (chunk_tokens - overlap) — the RAG/pretraining slicing shape.
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Split documents into overlapping ~fixed-token chunks:
    (id, chunk_idx, chunk_text, n_tokens).

    Pure Catalyst: tokenize once (projected column — see the shingles
    lesson), generate chunk starts with a strided sequence, slice +
    rejoin per start, explode. Each input row fans out to
    ceil(tokens/stride) rows with no shuffle; at 100 TB chunking
    pipelines stay embarrassingly parallel."""
    stride = chunk_tokens - overlap
    toked = df.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("_toks"),
    )
    t = F.col("_toks")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(t) - overlap, F.lit(1)), F.lit(stride)
    )
    return (
        toked.select(
            F.col(id_col),
            F.posexplode(
                F.transform(starts, lambda s: F.slice(t, s, chunk_tokens))
            ).alias("chunk_idx", "_chunk"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.array_join(F.col("_chunk"), " ").alias("chunk_text"),
            F.size("_chunk").alias("n_tokens"),
        )
    )


def redact_pii(text: Column) -> Column:
    """Replace emails, then long digit runs (7+, phone/account-shaped),
    with typed placeholders. Order matters: emails first so their
    digits don't half-redact. Both patterns are RE2/ICU-portable and
    reproduced verbatim by the DuckDB oracle (with the 'g' flag)."""
    emails = F.regexp_replace(
        text, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    return F.regexp_replace(emails, r"[0-9]{7,}", "<NUM>")


def segment_words(text: Column, words_per_seg: int = 12) -> Column:
    """Split a document into fixed-width word segments (array<string>)
    — the unit of paragraph-level dedup when the corpus carries no
    natural paragraph breaks. Array-slice composition, no explode: the
    per-row work stays inside one codegen stage."""
    words = F.split(F.trim(text), r"\s+")
    n_seg = F.ceil(F.size(words) / F.lit(words_per_seg)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * words_per_seg + 1, words_per_seg)
        ),
    )


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_seg: int = 12,
) -> DataFrame:
    """C4-style paragraph-level exact dedup: every segment is kept
    only at its FIRST corpus-wide occurrence (lowest (doc_id, seg));
    later repeats are cut and each document is reassembled from its
    surviving segments in order. Documents losing every segment drop
    out entirely (C4 drops now-empty pages the same way).

    Plan: segment per-row (no shuffle) → posexplode → one window
    shuffle keyed on the segment text (first-occurrence ranking) →
    one groupBy(doc) shuffle to reassemble. At 100 TB the window key
    could be md5(segment) to narrow the shuffle — kept as the raw
    text here so the SQL oracle is exact."""
    from pyspark.sql.window import Window

    segs = docs.select(
        F.col(id_col),
        F.posexplode(segment_words(F.col(text_col), words_per_seg)).alias(
            "seg", "para"
        ),
    ).filter(F.col("para") != "")
    w = Window.partitionBy("para").orderBy(id_col, "seg")
    first = segs.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return (
        first.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("seg", "para"))
            ).alias("_parts"),
        )
        .select(
            id_col,
            F.concat_ws(
                "\n", F.transform(F.col("_parts"), lambda s: s["para"])
            ).alias("text_dedup"),
            F.size("_parts").cast("long").alias("n_paras"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 8,
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT character n-gram shingles that appear in no other
    document. High novelty = unique content worth keeping; low =
    boilerplate/template text — the cheap corpus-quality counterpart
    of near-dup detection (a near-dup pair scores low novelty without
    any pairwise comparison).

    Scale posture: shingles explode map-side from the normalized text
    (array_distinct bounds the per-doc fan-out). A shingle with
    document frequency 1 belongs to exactly ONE document, so the
    novel-shingle count per doc falls straight out of the single
    shingle-keyed hash aggregation — ``agg(count, min(doc_id))``,
    filter df=1, re-group by the owning doc. No join back onto the
    exploded shingle stream (the r7 shape shuffled the full shingle
    stream twice; this shuffles it once). Per-doc totals read
    ``size(shs)`` straight off the per-doc array projection — r13:
    the totals branch previously RE-EXPLODED the arrays and hash-
    aggregated the full shingle stream a second time just to count
    what ``size`` already knows; reading the size off the array rows
    measured ~2.5x faster end-to-end (interleaved A/B, and a persist
    of the array relation bought nothing on top — the explode, not
    the array build, was the cost). Documents shorter than ``n``
    normalized characters produce no shingles and drop out (novelty
    is undefined for them).

    Returns (doc_id, n_shingles, novel_frac) with novel_frac rounded
    to 6dp (integer-exact counts; one double division).
    """
    norm = normalize_text(F.col(text))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - F.lit(n - 1)),
            lambda i: F.substr(norm, i, F.lit(n)),
        )
    )
    per_doc = df.select(
        F.col(doc_id).alias("doc_id"),
        F.when(F.length(norm) >= n, shingles)
        .otherwise(F.array().cast("array<string>"))
        .alias("shs"),
    )
    sh = per_doc.select("doc_id", F.explode("shs").alias("sh"))
    # one shingle-keyed shuffle: df AND the (unique) owner when df=1
    novel = (
        sh.groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("df") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    # per-doc totals: size() of the arrays — no second explode; summed
    # per doc_id so duplicate-id inputs aggregate exactly as the
    # exploded count did, and zero-shingle docs still drop out
    totals = (
        per_doc.groupBy("doc_id")
        .agg(F.sum(F.size("shs")).alias("n_shingles"))
        .filter(F.col("n_shingles") > 0)
    )
    return (
        totals.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("novel_frac"),
        )
    )


def zipf_slope(
    tokens: DataFrame, token_col: str, top_n: int = 200
) -> DataFrame:
    """Zipf's-law fit over the corpus token frequencies: the
    least-squares slope of ln(frequency) against ln(rank) for the
    ``top_n`` most frequent tokens — natural language sits near −1;
    a corpus that drifts toward 0 (flat — templated/boilerplate
    spam) or steepens far past −1.5 (a few tokens dominating —
    generator loops, tag soup) fails the naturalness smell test
    before any model sees it.

    Shape: one map-side-combinable token count, a distributed
    TakeOrdered for the top-``top_n`` (never a global sort of the
    vocabulary), then the regression over those ≤top_n rows — the
    rank re-derivation and the fit are metadata-scale.  Exactness:
    ln values are rounded to 9dp and summed as DECIMAL (order-free);
    the closed-form slope/intercept is a fixed double expression over
    those exact sums, so the fit is bit-identical at any parallelism
    and engine-portable.  Vocabulary size and total token count ride
    the same counts relation (one extra reduced aggregation).

    Returns ONE row: (n_ranked, vocab_size, total_tokens, slope,
    intercept) — slope/intercept rounded 6dp, NULL on a degenerate
    fit (fewer than 2 ranked tokens).
    """
    from pyspark.sql import Window

    counts = tokens.groupBy(
        F.col(token_col).alias("_t")
    ).agg(F.count(F.lit(1)).alias("_c"))
    top = counts.orderBy(
        F.col("_c").desc(), F.col("_t").asc()
    ).limit(top_n)
    w_rank = Window.orderBy(F.col("_c").desc(), F.col("_t").asc())
    ranked = top.select(
        F.log(F.row_number().over(w_rank).cast("double")).alias("_x"),
        F.log(F.col("_c").cast("double")).alias("_y"),
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("_x", 9).cast("double").alias("sx"),
        exact_sum("_y", 9).cast("double").alias("sy"),
        exact_sum_product("_x", "_y", 9).cast("double").alias("sxy"),
        exact_sum_product("_x", "_x", 9).cast("double").alias("sxx"),
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("_c").alias("total_tokens"),
    )
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return sums.crossJoin(F.broadcast(totals)).select(
        F.col("n").cast("long").alias("n_ranked"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.when(F.col("n") >= 2, F.round(slope, 6)).alias("slope"),
        F.when(
            F.col("n") >= 2,
            F.round(
                (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
            ),
        ).alias("intercept"),
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_count: int = 1,
    max_word_len: int = 16,
) -> DataFrame:
    """Train a BPE merge table over a corpus — the training half of
    ``token_count_bpe``'s application side (VERDICT r12 gap #4):
    classic byte-pair encoding (Sennrich et al. 2016) as the house
    fixed-rounds iterative shape.

    ONE corpus scan builds the word-frequency dictionary (words =
    lowercased letter runs, truncated to ``max_word_len``, pruned by
    ``min_count``) — BPE trains on the word-count dict, never the
    raw corpus, which is what makes the 100 TB posture work: the
    dict is the heavy-hitter relation (orders of magnitude smaller
    than the corpus, but still distributed) and every one of the
    ``n_merges`` rounds runs entirely over it.  Per round: adjacent
    symbol pairs via an indexed ``transform`` + explode, a
    frequency-weighted groupBy, and a ONE-ROW argmax aggregate with
    the house total-order tiebreak (count desc, then (left, right)
    lexicographic — min of struct(-count, l, r), no unpartitioned
    window) collected driver-side — the sanctioned bounded-collect
    class, and the only action the round performs.  The winning
    pair is then applied as a pure PROJECTION: an ``aggregate``
    fold doing the greedy left-to-right pair replacement per word,
    with the pair embedded as literals so no join materializes
    (a broadcast-crossJoin spelling measured 2 jobs/round of pure
    scheduling overhead for the same plan), followed by a LAZY
    ``localCheckpoint(eager=False)`` — the checkpoint materializes
    as a side effect of the NEXT round's aggregate action, so each
    round costs exactly one job while the fold-expression nesting
    depth stays at 1 (an un-checkpointed chain was measured to
    explode analysis time; an eager checkpoint doubles the job
    count).  FileScans after the dict pin: 0.

    Returns the merge table, one row per learned merge:
    (merge_rank, left_sym, right_sym, pair_count), ranks 1-based in
    learning order.  Training stops early if the dict is fully
    merged (no adjacent pairs left).
    """
    spark = df.sparkSession
    words = (
        df.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), "[^a-z]+")
            ).alias("_w")
        )
        .filter(F.col("_w") != "")
        .select(F.substring("_w", 1, max_word_len).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select(F.split("_w", "").alias("_syms"), "_cnt")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple] = []
    for r in range(n_merges):
        pairs = (
            words.select(
                "_cnt",
                F.expr(
                    "transform(slice(_syms, 1, size(_syms)-1), "
                    "(x, i) -> struct(x AS l, "
                    "element_at(_syms, i + 2) AS r))"
                ).alias("_ps"),
            )
            .select("_cnt", F.explode("_ps").alias("_p"))
            .groupBy(
                F.col("_p.l").alias("_l"), F.col("_p.r").alias("_r")
            )
            .agg(F.sum("_cnt").alias("_c"))
        )
        row = pairs.agg(
            F.min(
                F.struct(
                    (-F.col("_c")).alias("nc"),
                    F.col("_l"),
                    F.col("_r"),
                )
            ).alias("_b")
        ).collect()[0]["_b"]
        if row is None or row["_l"] is None:
            break
        left, right = row["_l"], row["_r"]
        merges.append((r + 1, left, right, int(-row["nc"])))
        if r < n_merges - 1:
            # symbols are [a-z]-runs by construction; the quote
            # escape is defensive only
            lq = left.replace("'", "''")
            rq = right.replace("'", "''")
            fold = (
                "aggregate(_syms, cast(array() as array<string>), "
                "(acc, s) -> CASE WHEN size(acc) > 0 "
                f"AND element_at(acc, -1) = '{lq}' AND s = '{rq}' "
                "THEN concat(slice(acc, 1, size(acc)-1), "
                f"array('{lq}{rq}')) "
                "ELSE concat(acc, array(s)) END)"
            )
            words = words.select(
                F.expr(fold).alias("_syms"), "_cnt"
            ).localCheckpoint(eager=False)
    return local_relation(
        spark,
        "merge_rank int, left_sym string, right_sym string, "
        "pair_count long",
        list(zip(*merges)),
    )


def vocab_js_divergence(
    df: DataFrame,
    side_col: str,
    side_a: str,
    side_b: str,
    text_col: str = "text",
) -> DataFrame:
    """Jensen–Shannon divergence between two corpus slices' unigram
    distributions — the text analog of the PSI drift monitor: "has
    the VOCABULARY of what we're ingesting moved", the comparison
    teams run between a new crawl snapshot and the training mix,
    between two domains before blending, or between train and eval
    to quantify contamination pressure.  JS (unlike KL) is finite
    when either side holds tokens the other lacks — exactly the
    out-of-vocabulary case corpus comparison is FOR — symmetric,
    and bounded by ln 2.

    ``side_a`` / ``side_b`` DECLARE the two slices (the srm_check
    posture: the comparison's arms are part of its contract, and
    resolving them from the data would cost a pre-pass corpus
    scan).  A row whose side is neither declared label refuses at
    action time inside the one counting pass, and a declared side
    with zero tokens refuses at the readout — an undeclared or
    empty slice IS a comparison bug, not a default.

    Scale shape: ONE corpus scan exploding normalized tokens,
    collapsed to the vocabulary-scale per-token (count_a, count_b)
    relation (pinned — it feeds the 1-row totals AND the term
    fold); each JS term 0.5·(p·ln(p/m) + q·ln(q/m)) is a fixed
    double expression rounded 9dp into a DECIMAL sum — order-free,
    engine-portable.

    Returns ONE row: (side_a, side_b, tokens_a, tokens_b, vocab_a,
    vocab_b, vocab_shared, js_divergence 6dp, js_distance 6dp).
    """
    src = df.filter(
        F.col(side_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(side_col).cast("string").alias("_side"),
        F.explode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("_tok"),
    ).filter(F.col("_tok") != "")
    is_a = F.col("_side") == F.lit(side_a)
    is_b = F.col("_side") == F.lit(side_b)
    per_tok = src.groupBy("_tok").agg(
        # the otherwise IS the refusal: a row matching neither
        # declared side fires executor-side inside this one pass (a
        # when(...)-guarded raise in a side branch would never be
        # evaluated for the offending rows)
        F.sum(
            F.when(is_a, F.lit(1))
            .when(is_b, F.lit(0))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "vocab_js_divergence: undeclared side "
                        ),
                        F.col("_side"),
                    )
                ).cast("int")
            )
        ).alias("_ca"),
        F.sum(F.when(is_b, 1).otherwise(0)).alias("_cb"),
    )
    per_tok = per_tok.localCheckpoint(eager=True)
    totals = per_tok.agg(
        F.sum("_ca").alias("_ta"), F.sum("_cb").alias("_tb")
    )
    staged = per_tok.crossJoin(F.broadcast(totals))
    # guarded divisions: with an empty declared side the ANSI
    # divide-by-zero would fire before the readout's own refusal —
    # NULL here, the zero-tokens raise below owns the error message
    p = F.when(
        F.col("_ta") > 0, F.col("_ca").cast("double") / F.col("_ta")
    )
    q = F.when(
        F.col("_tb") > 0, F.col("_cb").cast("double") / F.col("_tb")
    )
    m = F.lit(0.5) * (p + q)
    term = F.lit(0.5) * (
        F.coalesce(
            F.when(F.col("_ca") > 0, p * F.log(p / m)), F.lit(0.0)
        )
        + F.coalesce(
            F.when(F.col("_cb") > 0, q * F.log(q / m)), F.lit(0.0)
        )
    )
    agg = staged.agg(
        F.sum("_ca").alias("tokens_a"),
        F.sum("_cb").alias("tokens_b"),
        F.sum(F.when(F.col("_ca") > 0, 1).otherwise(0)).alias(
            "vocab_a"
        ),
        F.sum(F.when(F.col("_cb") > 0, 1).otherwise(0)).alias(
            "vocab_b"
        ),
        F.sum(
            F.when(
                (F.col("_ca") > 0) & (F.col("_cb") > 0), 1
            ).otherwise(0)
        ).alias("vocab_shared"),
        exact_sum(term, 9).alias("_js"),
    )
    js = F.when(
        (F.col("tokens_a") > 0) & (F.col("tokens_b") > 0),
        F.col("_js").cast("double"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "vocab_js_divergence: a declared side has zero "
                "tokens — comparison inconclusive"
            )
        ).cast("double")
    )
    return agg.select(
        F.lit(side_a).alias("side_a"),
        F.lit(side_b).alias("side_b"),
        F.col("tokens_a").cast("long").alias("tokens_a"),
        F.col("tokens_b").cast("long").alias("tokens_b"),
        F.col("vocab_a").cast("long").alias("vocab_a"),
        F.col("vocab_b").cast("long").alias("vocab_b"),
        F.col("vocab_shared").cast("long").alias("vocab_shared"),
        F.round(js, 6).alias("js_divergence"),
        F.round(F.sqrt(F.greatest(js, F.lit(0.0))), 6).alias(
            "js_distance"
        ),
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 3,
    top_k: int = 50,
) -> DataFrame:
    """Cross-document boilerplate inventory — word n-grams that
    recur across MANY documents (cookie banners, license headers,
    nav text, 'terms of service apply'): the corpus-cleaning
    signal that is NOT deduplication (the host documents are all
    distinct; it's the SPAN that repeats).  Pretraining pipelines
    strip these spans after dedup — this operator finds what to
    strip.

    Scale shape: word n-gram shingles explode map-side from the
    lowercased letter-token split (the BPE tokenization spelling);
    a per-doc ``array_distinct`` bounds the fan-out before the
    explode, so a doc repeating its own banner counts ONCE; one
    hash aggregation counts distinct host docs per shingle, the
    ``min_docs`` filter drops the long unique tail BEFORE the
    top-k (the overwhelming majority of shingles — the filter is
    the scale valve), and the final ranking is a
    TakeOrderedAndProject under the total order
    (n_docs DESC, ngram ASC) — deterministic at the cut.

    Returns ≤ ``top_k`` rows: (ngram, n_docs).
    """
    words = F.array_remove(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), ""
    )
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(
                F.slice(words, i, n), " "
            ),
        )
    )
    exploded = (
        df.filter(
            F.col(text_col).isNotNull()
            & (F.size(words) >= n)
        )
        .select(
            F.col(id_col).alias("_d"),
            F.explode(shingles).alias("_g"),
        )
    )
    # per-doc array_distinct already guarantees one (doc, shingle)
    # row — a plain count IS the distinct-doc count, and unlike
    # countDistinct it map-side combines
    counts = exploded.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_nd")
    )
    return (
        counts.filter(F.col("_nd") >= min_docs)
        .orderBy(F.desc("_nd"), F.asc("_g"))
        .limit(top_k)
        .select(
            F.col("_g").alias("ngram"),
            F.col("_nd").cast("long").alias("n_docs"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary richness and unseen-mass estimation — the corpus
    coverage readout: how much vocabulary does this corpus carry,
    how much is it still missing, and what fraction of the NEXT
    token stream will be types never seen here?  Chao1
    (V + F₁²/(2F₂)) lower-bounds the true vocabulary size from the
    singleton/doubleton counts; Good–Turing F₁/N estimates the
    probability mass of unseen types — the two numbers a
    tokenizer-training or domain-transfer plan starts from.

    ONE corpus scan: token explode (the BPE word split) →
    per-token counts → a frequency-of-frequencies collapse (the
    second groupBy runs on |vocab| rows, metadata-scale).  All
    statistics are exact-integer-derived (F₁²/(2F₂) and F₁/N are
    single rounded divisions); the bias-corrected Chao1 variant
    (F₁(F₁−1)/(2(F₂+1))) is used when F₂ = 0, per the standard
    recommendation.

    Returns ONE row: (n_tokens, vocab_size, f1_singletons,
    f2_doubletons, chao1, unseen_mass 6dp).
    """
    words = F.array_remove(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"), ""
    )
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.explode(words).alias("_w")
    )
    per_word = toks.groupBy("_w").agg(
        F.count(F.lit(1)).alias("_c")
    )
    fof = per_word.groupBy("_c").agg(
        F.count(F.lit(1)).alias("_f")
    )
    agg = fof.agg(
        exact_sum_product("_c", F.col("_f"), 0).alias("_n"),
        F.sum("_f").alias("_v"),
        F.sum(
            F.when(F.col("_c") == 1, F.col("_f")).otherwise(0)
        ).alias("_f1"),
        F.sum(
            F.when(F.col("_c") == 2, F.col("_f")).otherwise(0)
        ).alias("_f2"),
    )
    f1 = F.col("_f1").cast("double")
    f2 = F.col("_f2").cast("double")
    v = F.col("_v").cast("double")
    chao1 = F.when(
        F.col("_f2") > 0, v + f1 * f1 / (F.lit(2.0) * f2)
    ).otherwise(
        v + f1 * (f1 - 1) / (F.lit(2.0) * (f2 + 1))
    )
    unseen = F.when(
        F.col("_n") > 0, f1 / F.col("_n").cast("double")
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_tokens"),
        F.col("_v").cast("long").alias("vocab_size"),
        F.col("_f1").cast("long").alias("f1_singletons"),
        F.col("_f2").cast("long").alias("f2_doubletons"),
        F.round(chao1, 6).alias("chao1"),
        F.round(unseen, 6).alias("unseen_mass"),
    )


def strip_boilerplate(
    df: DataFrame,
    spans,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove known boilerplate spans from every document — the
    action half of :func:`boilerplate_ngrams`' inventory: once the
    recurring spans (cookie banners, license headers) are known,
    every occurrence is stripped before tokenization/training.

    ``spans`` is a bounded list of literal strings (the inventory's
    top-k — pass ``[r.ngram for r in inventory.collect()]``; the
    bounded collect is the sanctioned metadata class).  Removal is
    a CHAIN of literal (non-regex) replaces applied in the
    DETERMINISTIC order longest-span-first then lexicographic —
    the order is part of the contract, because overlapping spans
    make removal order observable; whitespace is re-collapsed once
    at the end so butted neighbors don't fuse.  Pure Catalyst
    (``replace``), no regex engine in the hot path, one
    projection — no shuffle at all.

    Returns (id, text_clean, n_chars_removed).
    """
    ordered = sorted(set(spans), key=lambda s: (-len(s), s))
    cleaned = F.col(text_col)
    for s in ordered:
        cleaned = F.replace(cleaned, F.lit(s), F.lit(""))
    cleaned = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        cleaned.alias("text_clean"),
        (F.length(text_col) - F.length(cleaned))
        .cast("long")
        .alias("n_chars_removed"),
    )


def bpe_fertility(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    min_count: int = 1,
    max_word_len: int = 16,
) -> DataFrame:
    """Tokenizer fertility of a freshly-trained BPE table on its
    own corpus — the compression readout tokenizer work actually
    optimizes: tokens-per-word and characters-per-token after
    ``n_merges`` learned merges.  Teams run this curve (fertility
    vs merge count) to size a vocabulary before committing to a
    full training run; a corpus whose fertility stays high is the
    signal the word distribution doesn't compress (code, IDs,
    non-target languages).

    Trains via :func:`bpe_train_merges` (one corpus scan to the
    word-frequency dict, fixed dict-scale rounds), then applies
    the learned table — ALL ranks, in learning order — as the same
    literal-embedded greedy fold projections with lazy
    checkpoints, and folds the dict to exact-integer totals
    (Σcnt, Σcnt·chars, Σcnt·tokens).

    Returns ONE row: (n_merges_learned, n_distinct_words,
    total_words, total_chars, total_tokens, fertility 6dp,
    chars_per_token 6dp).
    """
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train_merges(
            df,
            text_col=text_col,
            n_merges=n_merges,
            min_count=min_count,
            max_word_len=max_word_len,
        ).collect()
    ]
    words = (
        df.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), "[^a-z]+")
            ).alias("_w")
        )
        .filter(F.col("_w") != "")
        .select(F.substring("_w", 1, max_word_len).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select(F.split("_w", "").alias("_syms"), "_cnt")
        .localCheckpoint(eager=True)
    )
    for left, right in merges:
        lq = left.replace("'", "''")
        rq = right.replace("'", "''")
        fold = (
            "aggregate(_syms, cast(array() as array<string>), "
            "(acc, s) -> CASE WHEN size(acc) > 0 "
            f"AND element_at(acc, -1) = '{lq}' AND s = '{rq}' "
            "THEN concat(slice(acc, 1, size(acc)-1), "
            f"array('{lq}{rq}')) "
            "ELSE concat(acc, array(s)) END)"
        )
        words = words.select(
            F.expr(fold).alias("_syms"), "_cnt"
        ).localCheckpoint(eager=False)
    agg = words.agg(
        F.count(F.lit(1)).alias("_nw"),
        F.sum("_cnt").alias("_tw"),
        exact_sum(
            quantize("_cnt", 0) * F.length(F.concat_ws("", F.col("_syms"))),
            0,
        ).alias("_tc"),
        exact_sum_product("_cnt", F.size("_syms"), 0).alias("_tt"),
    )
    return agg.select(
        F.lit(len(merges)).cast("int").alias("n_merges_learned"),
        F.col("_nw").cast("long").alias("n_distinct_words"),
        F.col("_tw").cast("long").alias("total_words"),
        F.col("_tc").cast("long").alias("total_chars"),
        F.col("_tt").cast("long").alias("total_tokens"),
        F.when(
            F.col("_tw") > 0,
            F.round(
                F.col("_tt").cast("double")
                / F.col("_tw").cast("double"),
                6,
            ),
        ).alias("fertility"),
        F.when(
            F.col("_tt") > 0,
            F.round(
                F.col("_tc").cast("double")
                / F.col("_tt").cast("double"),
                6,
            ),
        ).alias("chars_per_token"),
    )
