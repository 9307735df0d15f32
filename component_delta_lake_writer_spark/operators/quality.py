"""Corpus-quality operators for training-data pipelines.

Beyond-reference family (the reference is a writer; these are the
quality gates a 100 TB pretraining corpus runs before the write):

- ``repetition_stats``: Gopher-style repetition signals (Rae et al.
  2021, "Scaling Language Models", §A1.1 quality heuristics) —
  duplicate n-gram fraction and most-frequent-word mass per document.
- ``contamination_check``: benchmark-contamination screen — flags
  documents sharing any n-gram with a holdout/benchmark set (the
  GPT-3-style "13-gram overlap" test, Brown et al. 2020 §C, with a
  configurable n).
- ``canonical_url`` / ``url_dedup``: URL canonicalization (lowercase
  scheme+host, strip tracking params, drop trailing slash) and
  canonical-URL grouping — the first, cheapest dedup pass of a web
  corpus.

Scale posture: everything is built-in expressions (whole-stage
codegen); the only wide operations are partial-aggregated groupBys,
and the contamination join broadcasts the (small) benchmark n-gram
set. No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import exact_sum, quantize

_TRACKING = r"^(utm_[^=]*|ref|fbclid|gclid|mc_cid|mc_eid)="


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def _ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams as an array column (empty when < n tokens).

    Codegen'd spelling (r11): the original transform() lambda ran on
    Spark's interpreted higher-order-function path — profiled ~35x
    slower than the surrounding explode on a 200k-doc corpus.  The
    tokens (split on \\s+, so space-free by construction) re-join
    into one string and ``n`` interleaved non-overlapping
    regexp_extract_all passes (dropping 0..n-1 leading tokens)
    enumerate exactly the k-n+1 grams.  Gram MULTISET is identical
    to the lambda spelling; array ORDER is interleaved, which every
    consumer (distinct-fraction, explode) is insensitive to.  See
    _bigram_array_fast for the n=2 straight-from-text variant.

    Edge-whitespace contract (r11 review): split(trim(text)) can
    yield an EMPTY edge token when the text starts/ends with
    non-space whitespace (trim strips only spaces); re-joining would
    then carry a leading/trailing space that breaks the token-drop
    regex (duplicated first gram).  The re-joined string is
    therefore TRIMMED — grams are built from the artifact-free
    token sequence (the bigram_lift normalize-then-trim idiom); the
    matching oracles tokenize their gram construction the same
    way."""
    s = F.trim(F.array_join(tokens, " "))
    pat = F.lit("[^ ]+" + " [^ ]+" * (n - 1))
    parts = []
    for j in range(n):
        src = (
            F.regexp_replace(s, f"^([^ ]+ ){{{j}}}", "")
            if j
            else s
        )
        parts.append(F.regexp_extract_all(src, pat, 0))
    return F.coalesce(
        F.concat(*parts), F.array().cast("array<string>")
    )


def _bigram_array_fast(text: Column) -> Column:
    """Word-bigram array WITHOUT a higher-order lambda: Spark runs
    transform()/zip_with() lambdas on the interpreted expression path
    (no whole-stage codegen), which profiled ~35x slower than the
    surrounding explode on a 200k-doc corpus (r11 lm_curve).  Two
    interleaved non-overlapping regexp_extract_all passes — pairs
    starting at tokens 1,3,5,... plus pairs starting at 2,4,6,...
    after dropping the first token — enumerate exactly the k-1
    bigrams of a k-token text, fully codegen'd.  Token semantics
    match _tokens (split on \\s+ of the trimmed text) for all
    space-separated inputs; leading/trailing NON-space whitespace is
    normalized away (normalize-THEN-trim — trim alone strips only
    spaces, and a leading separator would break the token-drop
    regex; r11 review)."""
    n = F.trim(F.regexp_replace(text, r"\s+", " "))
    pat = F.lit("[^ ]+ [^ ]+")
    odd = F.regexp_extract_all(n, pat, 0)
    even = F.regexp_extract_all(
        F.regexp_replace(n, "^[^ ]+ ", ""), pat, 0
    )
    # NULL text -> empty array (the _ngrams(_tokens(...)) contract;
    # explode treats both the same, but keep the helper faithful)
    return F.coalesce(
        F.concat(odd, even), F.array().cast("array<string>")
    )


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_2gram_frac: float = 0.9,
    max_top_word_frac: float = 0.3,
) -> DataFrame:
    """Gopher-style repetition metrics + keep verdict per document.

    - ``dup_2gram_frac`` / ``dup_3gram_frac``: 1 − distinct/total word
      n-grams — high values mean the document is template/boilerplate.
    - ``top_word_frac``: mass of the single most frequent word.
    - ``keep``: passes both thresholds.

    One narrow expression pass for the n-gram fractions + one
    partial-aggregated explode/groupBy for the top-word mass (grouped
    by document id — no global shuffle of text payloads, only of
    (id, word, count) partial aggregates).
    """
    toks = _tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.size(toks).alias("n_words"),
        _ngrams(toks, 2).alias("__g2"),
        _ngrams(toks, 3).alias("__g3"),
    ).withColumns(
        {
            "dup_2gram_frac": F.round(
                F.when(
                    F.size("__g2") > 0,
                    1 - F.size(F.array_distinct("__g2")) / F.size("__g2"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
            "dup_3gram_frac": F.round(
                F.when(
                    F.size("__g3") > 0,
                    1 - F.size(F.array_distinct("__g3")) / F.size("__g3"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        }
    )
    top = (
        base.select(F.col(id_col), F.explode("__toks").alias("__w"))
        .groupBy(id_col, "__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__top"))
    )
    out = (
        base.drop("__toks", "__g2", "__g3")
        # LEFT join: a NULL-text doc explodes to no token rows and an
        # inner join silently dropped it from the report — it must
        # surface with zeroed metrics and a keep verdict instead
        .join(top, id_col, "left")
        .withColumn(
            "top_word_frac",
            F.round(
                F.when(
                    F.col("n_words") > 0,
                    F.coalesce(F.col("__top"), F.lit(0)) / F.col("n_words"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .drop("__top")
    )
    return out.withColumn(
        "keep",
        (F.col("dup_2gram_frac") <= max_dup_2gram_frac)
        & (F.col("top_word_frac") <= max_top_word_frac),
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination screen: documents sharing ≥1 word
    ``n``-gram with the benchmark set, with the count of distinct
    shared n-grams. The benchmark n-gram set is distinct-ed and
    BROADCAST (benchmarks are small by construction; the 100 TB corpus
    side never shuffles — each candidate n-gram probes the broadcast
    hash set map-side)."""
    bench_grams = (
        benchmark.select(
            F.explode(_ngrams(_tokens(F.col(text_col)), n)).alias("__g")
        )
        .distinct()
    )
    cand = docs.select(
        F.col(id_col),
        F.explode(_ngrams(_tokens(F.col(text_col)), n)).alias("__g"),
    )
    return (
        cand.join(F.broadcast(bench_grams), "__g")
        .groupBy(id_col)
        .agg(F.count_distinct("__g").alias("n_shared_ngrams"))
    )


def canonical_url(url: Column) -> Column:
    """Canonical form: lowercase host (scheme DROPPED deliberately —
    http/https variants of one page are the dedup target), path
    without trailing slash, query without tracking params (sorted for
    stability), no fragment. A URL with no parseable scheme+host (or
    NULL) canonicalizes to NULL: mapping every malformed URL to ''
    grouped unrelated documents as duplicates of each other."""
    host = F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+([^?#]*)", 1),
        r"/+$",
        "",
    )
    # query = after the first '?' that precedes any '#': a '?' inside
    # the FRAGMENT is client-side and must not leak into the canonical
    qs = F.regexp_extract(url, r"^[^#]*?\?([^#]*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda kv: (kv != "") & ~kv.rlike(_TRACKING),
        )
    )
    q = F.concat_ws("&", kept)
    return F.when(
        host == "", F.lit(None)
    ).otherwise(
        F.concat(
            host, path,
            F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        )
    )


def url_dedup(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by canonical URL; emit groups with duplicates
    (canonical form, cardinality, keeper = min id) — the keeper rule
    matches the exact-dedup convention elsewhere in the engine."""
    return (
        docs.select(F.col(id_col), canonical_url(F.col(url_col)).alias("curl"))
        .filter(F.col("curl").isNotNull())
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def mix_report(
    docs: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Corpus mixing report: per group (source × language by default)
    document and whitespace-token counts plus each group's share of
    all corpus tokens — the table a pretraining run reads to set its
    sampling mixture. Token share is an exact integer ratio presented
    as a rounded double.

    Scale: one partial-aggregated groupBy over ~|groups| rows, then a
    broadcast-sized global total joined back (Spark plans the empty
    window as a single-row cross join) — the fact table is scanned
    once."""
    from component_delta_lake_writer_spark.operators.text import token_count

    per = docs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("n_tokens"),
    )
    from pyspark.sql.window import Window

    total = F.sum("n_tokens").over(Window.partitionBy())
    return per.withColumn(
        "token_share",
        F.round(F.col("n_tokens").cast("double") / total, 6),
    )


def unigram_model(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus unigram LM: per lowercase whitespace token, its count and
    ``logp`` = round(log2(count/total), 4). The whole-relation total is
    a single-partition window over the (small) vocabulary relation, not
    over the corpus — safe at any corpus size because the aggregation
    below it has already collapsed to |vocab| rows.

    ``logp`` is rounded BEFORE any cross-row use so downstream decimal
    sums are order-free and cross-engine exact (registry determinism
    rule #2: Spark log2 is Math.log(x)/Math.log(2), DuckDB's is C
    log2 — they can differ in the last ulp, which round-4 hides)."""
    from pyspark.sql.window import Window

    tok = docs.select(
        F.explode(_tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # scalar total + broadcast cross join: the empty-window spelling
    # funnels the WHOLE vocabulary through one partition, and a
    # web-scale vocab (1e9+ distinct tokens) is not small
    total = F.broadcast(freq.agg(F.sum("n").alias("__t")))
    return (
        freq.crossJoin(total)
        .withColumn("logp", F.round(F.log2(F.col("n") / F.col("__t")), 4))
        .drop("__t")
    )


def unigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram bits-per-token (a perplexity proxy, the
    CCNet/fastText-style LM quality signal without an external model):
    mean −log2 p(token) under the corpus's own unigram distribution.
    Low bits/token ⇒ common-word soup; high ⇒ rare-token noise — both
    tails are what a quality gate trims.

    The model (|vocab| rows) is broadcast; the per-doc sum goes
    through round→decimal so partition order can't perturb the hash.
    Two shuffles total (vocab agg + per-doc agg) regardless of corpus
    size."""
    model = unigram_model(docs, text_col)
    tok = docs.select(
        F.col(id_col),
        F.explode(_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    per = (
        tok.join(F.broadcast(model), "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            exact_sum(-F.col("logp"), 4).alias("_bits"),
        )
    )
    return per.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(
            F.col("_bits").cast("double") / F.col("n_tokens"), 6
        ).alias("bits_per_token"),
    )


def repeated_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplicate spans (the building block of
    Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    Better": word-level here instead of suffix-array byte-level): every
    ``n``-gram span that recurs in ≥ ``min_docs`` distinct documents,
    with its document frequency and total occurrence count. Downstream
    span removal / doc filtering keys off this relation.

    Scale shape: the explode is the |tokens|× fan-out every shingling
    op here pays (cf. dedup.shingle); the groupBy is map-side-combined
    (count/count_distinct partials), so the shuffle carries one row per
    distinct (span, doc) — boilerplate-heavy corpora collapse hard."""
    spans = docs.select(
        F.col(id_col),
        F.explode(_ngrams(_tokens(F.col(text_col)), n)).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count_distinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def bigram_lift(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Collocation extraction: corpus bigram counts with LIFT — the
    PMI association measure without the log (lift = P(xy)/(P(x)P(y)),
    monotone with PMI, and exactly computable: every factor is an
    integer count, so the only float op is one final division of two
    exact BIGINT products — the engine's cross-engine determinism
    rule).

    Plan: bigrams come from an in-row array transform + explode (no
    self-join over token positions), then one groupBy; unigram counts
    join back on the two words. ``min_count`` gates the join inputs —
    at corpus scale the bigram tail is Zipf-huge and the gate is what
    keeps the join sides bounded. Deterministic top_n via
    (count DESC, w1, w2) ordering."""
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
    # single-token/empty docs are guarded explicitly: sequence(1, 0)
    # is the DESCENDING array [1, 0] (not empty), and element_at(_, 0)
    # raises INVALID_INDEX_OF_ZERO — one short doc killed the job
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.expr("array()")),
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_uni = uni.agg(F.sum("n").cast("long").alias("t"))
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= min_count)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("n").alias("n_1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n").alias("n_2"))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .select(
            "w1",
            "w2",
            F.col("n_xy").cast("long").alias("n_xy"),
            # each factor casts to double BEFORE multiplying: the
            # bigint products overflow around 1e13 corpus tokens
            # (ARITHMETIC_OVERFLOW under default ANSI); values this
            # size are exact in double up to 2^53 and the result is
            # rounded to 6 places anyway
            F.round(
                (F.col("n_xy").cast("double") * F.col("t").cast("double"))
                / (
                    F.col("n_1").cast("double")
                    * F.col("n_2").cast("double")
                ),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_xy").desc(), "w1", "w2")
        .limit(top_n)
    )


def bigram_lm_perplexity(
    docs: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    broadcast_model: bool = True,
) -> DataFrame:
    """CCNet-style n-gram LM quality score (Wenzek et al. 2020 §3.3,
    the perplexity filter virtually every public LLM-data pipeline
    runs): train an add-α-smoothed bigram LM on a reference corpus
    (``train``; defaults to ``docs`` itself), then score every
    document's mean negative log-probability and perplexity under
    it.  Low perplexity ⇒ reference-like text; high ⇒ boilerplate,
    noise, or another language — CCNet keeps the low-ppl head.

    Model = ONE training-corpus scan: lowercase whitespace bigrams →
    counts c(w1 w2); context totals c(w1·) = Σ_w2 c(w1 w2) re-derived
    from that SAME |bigram| relation (no second scan), vocabulary V =
    distinct tokens of the bigram relation (1-row broadcast).
    Score = ONE target-corpus scan: per-doc bigrams left-join the
    model, p(w2|w1) = (c12+α)/(c(w1·)+α·V) with both counts
    coalesced to 0 — an unseen context degrades smoothly to 1/V with
    NO special-case branch.  Per-token −ln p is a deterministic
    scalar composition rounded 4dp (the unigram_model rule: Spark's
    Math.log and DuckDB's C log differ in the last ulp, which
    round-4 hides), summed as DECIMAL (order-free),
    so the score is engine-portable; perplexity = exp(mean), a fixed
    scalar over the exact sum.

    Model-size crossover: ``broadcast_model=True`` (default) hash-
    broadcasts the bigram + context relations to every executor —
    right while the model stays ≤ ~10⁷ distinct bigrams (~500 MB
    serialized; a Wikipedia-scale CCNet reference LM fits).  Past
    that — e.g. training on the 100 TB corpus itself, where distinct
    bigrams reach billions — set False: both probes become shuffle
    hash joins keyed on the bigram/context strings, pricing one
    extra shuffle of the EXPLODED target corpus each, which is the
    only plan that doesn't OOM the executors on the model.

    Docs with < 2 tokens have no bigram and are not scored (CCNet
    skips empties too).  Returns (doc_id, n_bigrams, avg_neg_logp,
    perplexity) — both scores rounded 6dp.
    """
    ref = train if train is not None else docs
    big_tr = ref.select(
        F.explode(
            _bigram_array_fast(F.lower(F.col(text_col)))
        ).alias("big")
    )
    bigrams = big_tr.groupBy("big").agg(
        F.count(F.lit(1)).alias("c12")
    )
    # the model relation feeds FOUR consumers (bigram join, context
    # re-agg, both vocab projections); without pinning, each one
    # re-scans the TRAINING CORPUS — 4 extra corpus scans at 100 TB.
    # localCheckpoint collapses them to one materialization of the
    # |distinct bigrams| relation (the shard_export idiom: blocks are
    # released with the DataFrame, no app-lifetime cache pin).
    bigrams = bigrams.localCheckpoint(eager=True)
    contexts = (
        bigrams.groupBy(
            F.substring_index(F.col("big"), " ", 1).alias("w1")
        )
        .agg(F.sum("c12").alias("c1"))
    )
    vocab = F.broadcast(
        bigrams.select(
            F.substring_index(F.col("big"), " ", 1).alias("t")
        )
        .union(
            bigrams.select(
                F.substring_index(F.col("big"), " ", -1).alias("t")
            )
        )
        .agg(F.countDistinct("t").alias("__v"))
    )
    if broadcast_model:
        bigrams = F.broadcast(bigrams)
        contexts = F.broadcast(contexts)
    scored = (
        docs.select(
            F.col(id_col),
            F.explode(
                _bigram_array_fast(F.lower(F.col(text_col)))
            ).alias("big"),
        )
        .join(bigrams, "big", "left")
        .withColumn(
            "w1", F.substring_index(F.col("big"), " ", 1)
        )
        .join(contexts, "w1", "left")
        .crossJoin(vocab)
        .select(
            F.col(id_col),
            quantize(
                -F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha))
                    / (
                        F.coalesce(F.col("c1"), F.lit(0))
                        + F.lit(alpha) * F.col("__v")
                    )
                ),
                4,
            ).alias("_nlp"),
        )
    )
    per = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("_nlp").alias("_s"),
    )
    avg = F.col("_s").cast("double") / F.col("n_bigrams")
    return per.select(
        F.col(id_col),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(avg, 6).alias("avg_neg_logp"),
        F.round(F.exp(F.round(avg, 6)), 6).alias("perplexity"),
    )
