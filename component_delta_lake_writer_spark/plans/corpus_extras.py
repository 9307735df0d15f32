"""Third wave of training-pipeline probes: corpus mixing report,
quality-weighted importance sampling, seeded k-means semantic
clustering. Same float-determinism rules as query_registry (sequential
folds for within-row math, round→decimal for cross-row double sums,
DOUBLE-only presentation)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import exact_sum
from component_delta_lake_writer_spark.plans.extra_queries import BUCKET_SQL
from component_delta_lake_writer_spark.plans.query_registry import query
from component_delta_lake_writer_spark.session import local_relation
from component_delta_lake_writer_spark.tables import load_table

_TOKENS_SQL = "len(string_split_regex(trim(text), '\\s+'))"


@query(
    "corpus_mix_report",
    oracle=f"""
    WITH per AS (
      SELECT source, lang, COUNT(*) AS n_docs,
        SUM({_TOKENS_SQL}) AS n_tokens
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
      ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6)
        AS token_share
    FROM per
    """,
)
def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture report (operators.quality.mix_report): per
    (source, lang) doc/token counts and the group's share of all
    corpus tokens — what a pretraining run reads to set sampling
    ratios. Integer token sums are exact; the share is one double
    division, rounded for presentation."""
    from component_delta_lake_writer_spark.operators.quality import mix_report

    return mix_report(load_table(spark, sf_dir, "documents"))


@query(
    "importance_sample_docs",
    oracle=f"""
    WITH rated AS (
      SELECT doc_id, source,
        CASE WHEN n_chars >= 400 THEN 90
             WHEN n_chars >= 200 THEN 50
             ELSE 10 END AS rate
      FROM documents
    )
    SELECT source, COUNT(*) AS n_sampled,
      CAST(SUM(CAST(ROUND(100.0 / rate, 6) AS DECIMAL(18,6))) AS DOUBLE)
        AS est_total_docs,
      MIN(doc_id) AS min_id
    FROM rated
    WHERE {BUCKET_SQL.format(id='doc_id', salt='imp')} < rate
    GROUP BY source
    """,
)
def importance_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling (operators.sampling.importance_sample):
    longer documents kept at 90%, medium at 50%, short at 10%, each
    kept row carrying its inverse-probability weight. The per-source
    weight sum is an unbiased estimate of the full corpus size — the
    check that the weights are actually usable. Weight sums go through
    the round→decimal idiom (order-free, engine-exact)."""
    from component_delta_lake_writer_spark.operators.sampling import (
        importance_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("n_chars") >= 400, F.lit(90))
        .when(F.col("n_chars") >= 200, F.lit(50))
        .otherwise(F.lit(10))
    )
    s = importance_sample(docs, "doc_id", rate)
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        exact_sum("weight", 6)
        .cast("double")
        .alias("est_total_docs"),
        F.min("doc_id").alias("min_id"),
    )


_D2_SQL = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> ({x}[i] - {c}[i]) * ({x}[i] - {c}[i])), (a, b) -> a + b)"
)


@query(
    "kmeans_embedding_clusters",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id AS pid,
        list_transform(generate_series(1, 64),
                       i -> CAST(embedding[i] AS DOUBLE)) AS x
      FROM embeddings
    ),
    c0 AS (SELECT pid AS cid, x AS c FROM pts WHERE pid < 8),
    a1 AS (
      SELECT pid, x, cid FROM (
        SELECT p.pid, p.x, c.cid,
          ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY
            {_D2_SQL.format(x='p.x', c='c.c')}, c.cid) AS rn
        FROM pts p CROSS JOIN c0 c) t
      WHERE rn = 1
    ),
    comp1 AS (
      SELECT cid, i AS pos,
        CAST(SUM(CAST(ROUND(x[i], 6) AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*) AS m
      FROM a1 CROSS JOIN generate_series(1, 64) AS g(i)
      GROUP BY cid, i
    ),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM comp1 GROUP BY cid),
    a2 AS (
      SELECT pid, cid, d2 FROM (
        SELECT p.pid, c.cid,
          {_D2_SQL.format(x='p.x', c='c.c')} AS d2,
          ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY
            {_D2_SQL.format(x='p.x', c='c.c')}, c.cid) AS rn
        FROM pts p CROSS JOIN c1 c) t
      WHERE rn = 1
    )
    SELECT cid AS cluster_id, COUNT(*) AS n_points,
      CAST(SUM(CAST(ROUND(d2, 6) AS DECIMAL(20,6))) AS DOUBLE) AS inertia
    FROM a2 GROUP BY cid
    """,
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Lloyd k-means (operators.similarity.kmeans_clusters,
    k=8, 2 iterations) — semantic clustering for cluster-then-sample /
    SemDeDup-style pipelines. The ENTIRE iteration (seed init,
    argmin assignment, exact-decimal centroid update, re-assignment)
    is mirrored in the oracle CTE chain, so this is a full
    differential check of an iterative ML operator, not a smoke
    test. Output: per-cluster sizes + exact-presented inertia."""
    from component_delta_lake_writer_spark.operators.similarity import (
        kmeans_clusters,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    asg = kmeans_clusters(emb, k=8, lloyd_iterations=2)
    return asg.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_points"),
        exact_sum("dist2", 6)
        .cast("double")
        .alias("inertia"),
    )


_COS_SQL = (
    "(list_reduce(list_transform(generate_series(1, 64), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y) / "
    "(sqrt(list_reduce(list_transform(generate_series(1, 64), "
    "i -> {a}[i] * {a}[i]), (x, y) -> x + y)) * "
    "sqrt(list_reduce(list_transform(generate_series(1, 64), "
    "i -> {b}[i] * {b}[i]), (x, y) -> x + y))))"
)


@query(
    "semdedup_prune",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id AS pid,
        list_transform(generate_series(1, 64),
                       i -> CAST(embedding[i] AS DOUBLE)) AS x
      FROM embeddings
    ),
    c0 AS (SELECT pid AS cid, x AS c FROM pts WHERE pid < 8),
    a1 AS (
      SELECT pid, x, cid FROM (
        SELECT p.pid, p.x, c.cid,
          ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY
            {_D2_SQL.format(x='p.x', c='c.c')}, c.cid) AS rn
        FROM pts p CROSS JOIN c0 c) t
      WHERE rn = 1
    ),
    comp1 AS (
      SELECT cid, i AS pos,
        CAST(SUM(CAST(ROUND(x[i], 6) AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*) AS m
      FROM a1 CROSS JOIN generate_series(1, 64) AS g(i)
      GROUP BY cid, i
    ),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM comp1 GROUP BY cid),
    a2 AS (
      SELECT pid, cid FROM (
        SELECT p.pid, c.cid,
          ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY
            {_D2_SQL.format(x='p.x', c='c.c')}, c.cid) AS rn
        FROM pts p CROSS JOIN c1 c) t
      WHERE rn = 1
    ),
    asgx AS (SELECT a2.pid, a2.cid, p.x FROM a2 JOIN pts p USING (pid)),
    pruned AS (
      SELECT DISTINCT b.pid
      FROM asgx a JOIN asgx b
        ON a.cid = b.cid AND a.pid < b.pid
      WHERE {_COS_SQL.format(a='a.x', b='b.x')} > 0.4
    )
    SELECT pid, cid FROM a2
    WHERE pid NOT IN (SELECT pid FROM pruned)
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators.similarity.semdedup, arXiv:2303.09540):
    seeded k-means (k=8, 2 Lloyd iterations) then within-cluster
    cosine pruning at threshold 0.4, greedy by ascending id. The
    oracle mirrors the ENTIRE pipeline — clustering CTE chain (same
    as kmeans_embedding_clusters) + the pairwise prune — so both the
    cluster boundaries and the prune decisions are differential-
    checked. Output: every kept (pid, cid) row."""
    from component_delta_lake_writer_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup(emb, k=8, lloyd_iterations=2, threshold=0.4)


# ---------------------------------------------------------------------------
# Wave 4: domain balancing, token-budget mixing, unigram-LM quality,
# exact-substring span detection.
# ---------------------------------------------------------------------------


@query(
    "domain_cap_docs",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, {_TOKENS_SQL} AS n_tokens,
        ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    SELECT source, COUNT(*) AS n_kept,
      CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM ranked WHERE rn <= 15 GROUP BY source
    """,
)
def domain_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (operators.sampling.domain_cap): at most 15 docs
    per source, preferring the longest (n_chars desc, doc_id ties) —
    the guard against one crawl domain dominating the mix. Integer
    aggregates only; exact at any SF."""
    from component_delta_lake_writer_spark.operators.sampling import domain_cap
    from component_delta_lake_writer_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    capped = domain_cap(docs, "source", 15, "n_chars", "doc_id")
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(token_count(F.col("text")).cast("long")).alias("sum_tokens"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "token_budget_mix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKENS_SQL} AS n_tokens FROM documents
    ),
    r AS (
      SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source, COUNT(*) AS n_kept,
      CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
      CAST(MAX(cum) AS BIGINT) AS budget_used
    FROM r WHERE cum - n_tokens < 800 GROUP BY source
    """,
)
def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mix cut (operators.sampling.token_budget_sample):
    greedy 800-token prefix per source in doc_id order — "N tokens per
    source" as a training mix is actually cut. Pure integer running
    sums; the kept set is a function of the data alone."""
    from component_delta_lake_writer_spark.operators.sampling import (
        token_budget_sample,
    )
    from component_delta_lake_writer_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text")).cast("long")
    )
    kept = token_budget_sample(docs, "source", 800, "n_tokens", "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("kept_tokens"),
        F.max("_cum_tokens").alias("budget_used"),
    )


@query(
    "unigram_logprob_quality",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
        unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
    model AS (
      SELECT tok,
        ROUND(LOG2(CAST(n AS DOUBLE) / SUM(n) OVER ()), 4) AS logp
      FROM freq
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
      ROUND(CAST(SUM(CAST(-logp AS DECIMAL(18,4))) AS DOUBLE)
            / COUNT(*), 6) AS bits_per_token
    FROM tok JOIN model USING (tok)
    GROUP BY doc_id
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram bits-per-token (operators.quality.unigram_logprob): the
    CCNet-style LM quality signal computed from the corpus's own
    unigram distribution — no external model. logp is rounded to 4
    BEFORE the per-doc decimal sum (cross-engine log2 ulp + order
    independence, determinism rules #1/#2)."""
    from component_delta_lake_writer_spark.operators.quality import (
        unigram_logprob,
    )

    return unigram_logprob(load_table(spark, sf_dir, "documents"))


@query(
    "repeated_ngram_spans",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
        string_split_regex(trim(regexp_replace(text, '\s+', ' ',
          'g')), ' ') AS toks
      FROM documents
    ),
    sp AS (
      SELECT doc_id, unnest(
        CASE WHEN len(toks) >= 8 THEN
          list_transform(generate_series(1, len(toks)-7),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
              || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' '
              || toks[i+6] || ' ' || toks[i+7])
        ELSE []::VARCHAR[] END) AS span
      FROM t
    )
    SELECT span, COUNT(DISTINCT doc_id) AS n_docs,
      COUNT(*) AS n_occurrences
    FROM sp GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 3
    """,
)
def repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (operators.quality.
    repeated_spans): word 8-grams recurring in ≥3 distinct docs with
    document frequency + occurrence count — the word-level analogue of
    Lee et al. 2021's suffix-array substring dedup, and the relation a
    span-removal pass keys on. Map-side-combined counts; the shuffle
    carries one row per distinct (span, doc)."""
    from component_delta_lake_writer_spark.operators.quality import (
        repeated_spans,
    )

    return repeated_spans(
        load_table(spark, sf_dir, "documents"), n=8, min_docs=3
    )


@query(
    "temperature_mix_quota",
    oracle="""
    WITH per AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_weight
      FROM documents GROUP BY source
    ), m AS (
      SELECT source, n_weight,
        ROUND(CAST(n_weight AS DOUBLE)
              / CAST(SUM(n_weight) OVER () AS DOUBLE), 6) AS share,
        CAST(ROUND(SQRT(CAST(n_weight AS DOUBLE)
                        / CAST(SUM(n_weight) OVER () AS DOUBLE))
                   * 1000000, 0) AS BIGINT) AS micro
      FROM per
    )
    SELECT source, n_weight, share,
      ROUND(CAST(micro AS DOUBLE) / CAST(SUM(micro) OVER () AS DOUBLE), 6)
        AS p_temp,
      CAST(ROUND(ROUND(CAST(micro AS DOUBLE)
                       / CAST(SUM(micro) OVER () AS DOUBLE), 6)
                 * 1000000000, 0) AS BIGINT) AS quota
    FROM m
    """,
)
def temperature_mix_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened (α=0.5) per-source token quotas for a
    1B-token mix (operators.sampling.temperature_quota): the
    low-resource-source boosting step of a multilingual pretraining
    mix. Normalization runs in integer micro-units so the oracle
    matches bit-for-bit (module docstring rules)."""
    from component_delta_lake_writer_spark.operators.sampling import (
        temperature_quota,
    )

    return temperature_quota(
        load_table(spark, sf_dir, "documents"),
        "source",
        "n_chars",
        budget=1_000_000_000,
    )


@query(
    "paragraph_dedup_docs",
    oracle="""
    WITH lists AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS lst
      FROM documents
    ), words AS (
      SELECT doc_id, UNNEST(lst) AS w,
        CAST(generate_subscripts(lst, 1) AS INTEGER) AS pos
      FROM lists
    ), segs AS (
      SELECT doc_id, (pos - 1) // 12 AS seg,
        string_agg(w, ' ' ORDER BY pos) AS para
      FROM words GROUP BY doc_id, (pos - 1) // 12
    ), first AS (
      SELECT doc_id, seg, para,
        ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, seg) AS rn
      FROM segs WHERE para <> ''
    )
    SELECT doc_id, string_agg(para, chr(10) ORDER BY seg) AS text_dedup,
      CAST(COUNT(*) AS BIGINT) AS n_paras
    FROM first WHERE rn = 1 GROUP BY doc_id
    """,
)
def paragraph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style paragraph-level exact dedup over the documents corpus
    (operators.text.paragraph_dedup): 12-word segments, corpus-wide
    first-occurrence keep, per-document reassembly."""
    from component_delta_lake_writer_spark.operators.text import paragraph_dedup

    return paragraph_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "bigram_collocations",
    oracle="""
    WITH lists AS (
      SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
          AS lst
      FROM documents
    ), words AS (
      SELECT doc_id, UNNEST(lst) AS w,
        CAST(generate_subscripts(lst, 1) AS INTEGER) AS pos
      FROM lists
    ), uni AS (
      SELECT w, COUNT(*) AS n FROM words GROUP BY w
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS t FROM uni
    ), big AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_xy
      FROM words a
      JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.w, b.w
      HAVING COUNT(*) >= 5
    )
    SELECT w1, w2, CAST(n_xy AS BIGINT) AS n_xy,
      ROUND(CAST(n_xy * (SELECT t FROM tot) AS DOUBLE)
            / CAST(u1.n * u2.n AS DOUBLE), 6) AS lift
    FROM big JOIN uni u1 ON u1.w = big.w1 JOIN uni u2 ON u2.w = big.w2
    ORDER BY n_xy DESC, w1, w2 LIMIT 50
    """,
)
def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigram collocations with integer-exact lift
    (operators.quality.bigram_lift)."""
    from component_delta_lake_writer_spark.operators.quality import bigram_lift

    return bigram_lift(load_table(spark, sf_dir, "documents"))


@query(
    "quantile_bucket_sample",
    oracle=f"""
    WITH tiled AS (
      SELECT doc_id, source, n_chars,
        NTILE(4) OVER (ORDER BY n_chars, doc_id) AS bucket
      FROM documents
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_kept,
      MIN(doc_id) AS min_id,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM tiled
    WHERE {BUCKET_SQL.format(id='doc_id', salt='qtile')} <
      CASE bucket WHEN 1 THEN 10 WHEN 2 THEN 25 WHEN 3 THEN 50
                  ELSE 100 END
    GROUP BY bucket
    """,
)
def quantile_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum sampling (operators.sampling.
    quantile_bucket_sample): 4 NTILE buckets of doc length, kept at
    10/25/50/100% — worst quantile trickles, best is kept whole."""
    from component_delta_lake_writer_spark.operators.sampling import (
        quantile_bucket_sample as op,
    )

    docs = load_table(spark, sf_dir, "documents")
    kept = op(docs, "n_chars", "doc_id")
    return kept.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


_BM25_QUERIES = [
    (1, "hash"),
    (1, "join"),
    (2, "window"),
    (2, "stream"),
    (2, "agg"),
    (3, "vector"),
    (3, "scan"),
]

_BM25_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)


def _bm25_oracle(source: str, k: int = 5) -> str:
    """The full BM25 CTE chain over any (doc_id, text) relation —
    shared by the plain-corpus probe, the curated-pipeline composite,
    and (at ``k=pool``) the hybrid-RRF fusion oracle."""
    return f"""
    q(query_id, term) AS (VALUES {_BM25_VALUES}),
    tok AS (
      SELECT doc_id, t.tok AS term
      FROM (SELECT doc_id,
              trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
            FROM {source}) d,
      LATERAL (SELECT unnest(string_split(d.norm, ' ')) AS tok) t
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT tok.doc_id, tok.term, COUNT(*) AS tf
      FROM tok JOIN (SELECT DISTINCT term FROM q) v USING (term)
      GROUP BY tok.doc_id, tok.term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id, tf.term,
        -- parenthesized to MATCH THE OPERATOR'S op tree exactly:
        -- idf * ((tf*(k1+1)) / denom). The left-assoc spelling
        -- ((idf*tf)*(k1+1))/denom differs by up to 1 ulp (measured),
        -- which can flip ROUND(w, 6) on one side only at a rounding
        -- boundary (registry determinism rule 2).
        CAST(ROUND(
          ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
          * ((tf.tf * (1.2::DOUBLE + 1.0))
             / (tf.tf + 1.2::DOUBLE
                * ((1.0 - 0.75::DOUBLE)
                   + 0.75::DOUBLE * dl.dl / stats.avgdl))),
          6) AS DECIMAL(18,6)) AS w
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    bm25_final AS (
      SELECT query_id, doc_id, score, rk FROM (
        SELECT q.query_id, c.doc_id,
          CAST(SUM(c.w) AS DOUBLE) AS score,
          ROW_NUMBER() OVER (
            PARTITION BY q.query_id
            ORDER BY CAST(SUM(c.w) AS DOUBLE) DESC, c.doc_id) AS rk
        FROM contrib c JOIN q USING (term)
        GROUP BY q.query_id, c.doc_id
      ) WHERE rk <= {k}
    )"""


@query(
    "bm25_topk_docs",
    oracle="WITH " + _bm25_oracle("documents")
    + " SELECT query_id, doc_id, score, rk FROM bm25_final",
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (operators.retrieval.bm25_topk): three term
    queries ranked against the whole corpus, top-5 docs per query. The
    token stream is semi-joined against the broadcast query vocabulary
    before any shuffle; per-term contributions go through the
    round->decimal idiom so the cross-term score sum is order-free."""
    from component_delta_lake_writer_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    queries = local_relation(
        spark, "query_id int, term string", list(zip(*_BM25_QUERIES))
    )
    return bm25_topk(docs, queries, k=5)


@query(
    "ngram_novelty_docs",
    oracle="""
    WITH d AS (
      SELECT doc_id,
        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, substr(norm, CAST(i AS INT), 8) AS sh
      FROM d,
      LATERAL unnest(
        generate_series(1, CAST(length(norm) AS BIGINT) - 7)
      ) AS t(i)
      WHERE length(norm) >= 8
    ),
    cnt AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh)
    SELECT doc_id, COUNT(*) AS n_shingles,
      CAST(ROUND(
        CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS novel_frac
    FROM sh JOIN cnt USING (sh)
    GROUP BY doc_id
    """,
)
def ngram_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 8-gram novelty (operators.text.ngram_novelty):
    fraction of a doc's distinct character shingles unique to it in
    the corpus — boilerplate scores low without any pairwise
    comparison. One map-side shingle explode, one hash agg on the
    shingle key, one equi-join back."""
    from component_delta_lake_writer_spark.operators.text import (
        ngram_novelty,
    )

    return ngram_novelty(load_table(spark, sf_dir, "documents"), n=8)


_RRF_PROBES = [(1, 0), (2, 7), (3, 11)]  # query_id -> probe vec_id
_RRF_DOT = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)


@query(
    "hybrid_rrf_retrieval",
    oracle="WITH "
    + _bm25_oracle("documents", k=20)
    + f""",
    vecq(query_id, pvid) AS (VALUES {
        ", ".join(f"({q}, {v})" for q, v in _RRF_PROBES)
    }),
    pv AS (
      SELECT vecq.query_id, e.embedding AS pv
      FROM vecq JOIN embeddings e ON e.vec_id = vecq.pvid
    ),
    cosl AS (
      SELECT pv.query_id, CAST(e.vec_id AS BIGINT) AS doc_id,
        ROUND({_RRF_DOT.format(a='e.embedding', b='pv.pv')}
          / (sqrt({_RRF_DOT.format(a='e.embedding', b='e.embedding')})
             * sqrt({_RRF_DOT.format(a='pv.pv', b='pv.pv')})), 6)
          AS cosine
      FROM embeddings e, pv
    ),
    vtop AS (
      SELECT query_id, doc_id, rk_vec FROM (
        SELECT query_id, doc_id,
          ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, doc_id
          ) AS rk_vec
        FROM cosl
      ) WHERE rk_vec <= 20
    ),
    btop AS (
      SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id, rk AS rk_lex
      FROM bm25_final
    ),
    fused AS (
      SELECT query_id, doc_id,
        ROUND(COALESCE(1.0 / (60.0 + b.rk_lex), 0.0)
              + COALESCE(1.0 / (60.0 + v.rk_vec), 0.0), 6) AS rrf
      FROM btop b FULL JOIN vtop v USING (query_id, doc_id)
    )
    SELECT query_id, doc_id, rrf, rk FROM (
      SELECT query_id, doc_id, rrf,
        ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY rrf DESC, doc_id
        ) AS rk
      FROM fused
    ) WHERE rk <= 10
    """,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused with reciprocal-rank
    fusion (operators.retrieval.hybrid_rrf_topk): BM25 top-20 and
    cosine top-20 per query, RRF score 1/(60+rank) summed over the
    lists, top-10 kept. The RAG-curation shape: both rank lists are
    O(queries x pool) metadata after one corpus pass each."""
    from component_delta_lake_writer_spark.operators.retrieval import (
        hybrid_rrf_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = local_relation(
        spark, "query_id int, term string", list(zip(*_BM25_QUERIES))
    )
    probe_map = local_relation(
        spark, "query_id int, probe_vec_id int", list(zip(*_RRF_PROBES))
    )
    return hybrid_rrf_topk(docs, queries, emb, probe_map, k=10, pool=20)


@query(
    "filtered_vector_topk",
    oracle=f"""
    WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
      ROUND({_RRF_DOT.format(a='e.embedding', b='p.pv')}
        / (sqrt({_RRF_DOT.format(a='e.embedding', b='e.embedding')})
           * sqrt({_RRF_DOT.format(a='p.pv', b='p.pv')})), 6) AS cosine
    FROM embeddings e, p
    WHERE e.label = 3 AND e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id LIMIT 10
    """,
)
def filtered_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered (pre-filter) vector search — top-k cosine restricted
    to rows passing a structured predicate, the lakehouse vector-
    search shape ("nearest docs WHERE label = 3"). The predicate is a
    plain Catalyst filter BELOW the similarity projection, so it
    reaches the parquet scan as a pushed filter and prunes before any
    vector math runs (asserted in tests/test_plan_quality.py)."""
    from component_delta_lake_writer_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    return S.cosine_topk(emb.filter(F.col("label") == 3), probe, k=10)


@query(
    "mmr_diversified_topk",
    oracle=f"""
    WITH RECURSIVE
    p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
    pool AS (
      SELECT e.vec_id AS id,
        ROUND({_RRF_DOT.format(a='e.embedding', b='p.pv')}
          / (sqrt({_RRF_DOT.format(a='e.embedding', b='e.embedding')})
             * sqrt({_RRF_DOT.format(a='p.pv', b='p.pv')})), 6) AS rel
      FROM embeddings e, p WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id LIMIT 30
    ),
    cand AS (
      SELECT pool.id, pool.rel, e.embedding AS v
      FROM pool JOIN embeddings e ON e.vec_id = pool.id
    ),
    ps AS (
      SELECT a.id AS ia, b.id AS ib,
        ROUND({_RRF_DOT.format(a='a.v', b='b.v')}
          / (sqrt({_RRF_DOT.format(a='a.v', b='a.v')})
             * sqrt({_RRF_DOT.format(a='b.v', b='b.v')})), 6) AS s
      FROM cand a, cand b WHERE a.id < b.id
    ),
    simx AS (
      SELECT ia, ib, s FROM ps UNION ALL SELECT ib, ia, s FROM ps
    ),
    mmr(rk, id, raw, sel) AS (
      (SELECT 1, id, rel, [id] FROM pool ORDER BY rel DESC, id LIMIT 1)
      UNION ALL
      (SELECT m.rk + 1, c.id,
         0.7 * c.rel - (1.0 - 0.7) * (
           SELECT MAX(s.s) FROM simx s
           WHERE s.ia = c.id AND list_contains(m.sel, s.ib)),
         list_append(m.sel, c.id)
       FROM mmr m, pool c
       WHERE m.rk < 10 AND NOT list_contains(m.sel, c.id)
       ORDER BY 0.7 * c.rel - (1.0 - 0.7) * (
           SELECT MAX(s.s) FROM simx s
           WHERE s.ia = c.id AND list_contains(m.sel, s.ib)) DESC, c.id
       LIMIT 1)
    )
    SELECT rk, CAST(id AS BIGINT) AS doc_id,
      CAST(ROUND(raw, 6) AS DOUBLE) AS score
    FROM mmr
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified retrieval
    (operators.similarity.mmr_topk): greedy
    lam*rel - (1-lam)*max-redundancy selection over a top-30 cosine
    pool. Pool and pairwise sims are computed in Spark; only the
    inherently sequential greedy loop runs driver-side over O(pool^2)
    floats. The oracle replays the exact greedy recursion as a
    DuckDB recursive CTE (per-step argmax via ORDER BY … LIMIT 1)."""
    from component_delta_lake_writer_spark.operators.similarity import (
        mmr_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    return mmr_topk(emb, probe, k=10, pool=30, lam=0.7)


@query(
    "binary_quant_hamming_topk",
    oracle="""
    WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
      CAST(list_reduce(list_transform(generate_series(1, 64),
        i -> CASE WHEN (CAST(e.embedding[i] AS DOUBLE) >= 0)
                    <> (CAST(p.pv[i] AS DOUBLE) >= 0)
             THEN 1 ELSE 0 END), (x, y) -> x + y) AS INT) AS hamming
    FROM embeddings e, p
    WHERE e.vec_id <> 0
    ORDER BY hamming ASC, e.vec_id LIMIT 10
    """,
)
def binary_quant_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit sign-quantization retrieval
    (operators.similarity.binary_sign_hamming_topk): candidates rank
    by Hamming distance between sign vectors — the 32x-compressed
    coarse retrieval stage. Integer-exact on both engines, so the
    check is bitwise."""
    from component_delta_lake_writer_spark.operators.similarity import (
        binary_sign_hamming_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    return binary_sign_hamming_topk(emb, probe, k=10)


@query(
    "hamming_packed_topk",
    oracle="""
    WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
      CAST(list_reduce(list_transform(generate_series(1, 64),
        i -> CASE WHEN (CAST(e.embedding[i] AS DOUBLE) >= 0)
                    <> (CAST(p.pv[i] AS DOUBLE) >= 0)
             THEN 1 ELSE 0 END), (x, y) -> x + y) AS INT) AS hamming
    FROM embeddings e, p
    WHERE e.vec_id <> 0
    ORDER BY hamming ASC, e.vec_id LIMIT 10
    """,
)
def hamming_packed_topk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed 1-bit retrieval (operators.similarity.pack_sign_words +
    hamming_packed_topk): sign bits quantized at ingest into bigint
    words (dim=64 -> ONE long per vector, 64x less data than the
    floats), queried with bit_count(XOR) popcounts. The oracle is the
    same element-wise sign-mismatch count the unpacked probe uses —
    bit-packing must not change a single distance or tie."""
    from component_delta_lake_writer_spark.operators.similarity import (
        hamming_packed_topk,
        pack_sign_words,
    )

    packed = pack_sign_words(
        load_table(spark, sf_dir, "embeddings"), dim=64
    )
    return hamming_packed_topk(
        packed, packed.filter(F.col("vec_id") == 0), k=10
    )


def _hb_band_disjunction_sql(
    n_bands: int = 4, bits: int = 8, dim: int = 64
) -> str:
    """The bit-sampling LSH candidate filter as ANSI SQL: band-key
    equality over distinct sampled positions is EXACTLY per-position
    sign-bit equality (the fold is injective), so the oracle inlines
    the md5-derived positions as a conjunction per band — no packed
    words in SQL, which also differentially validates the
    pack/extract layout against raw embedding signs."""
    from component_delta_lake_writer_spark.operators.similarity import (
        hamming_band_positions,
    )

    bands = []
    for b in range(n_bands):
        pos = hamming_band_positions(b, bits, dim)
        terms = [
            f"((CAST(e.embedding[{p + 1}] AS DOUBLE) >= 0) = "
            f"(CAST(p.pv[{p + 1}] AS DOUBLE) >= 0))"
            for p in pos
        ]
        bands.append("(" + " AND ".join(terms) + ")")
    return " OR ".join(bands)


@query(
    "hamming_lsh_topk",
    oracle=f"""
    WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
      CAST(list_reduce(list_transform(generate_series(1, 64),
        i -> CASE WHEN (CAST(e.embedding[i] AS DOUBLE) >= 0)
                    <> (CAST(p.pv[i] AS DOUBLE) >= 0)
             THEN 1 ELSE 0 END), (x, y) -> x + y) AS INT) AS hamming
    FROM embeddings e, p
    WHERE e.vec_id <> 0 AND ({_hb_band_disjunction_sql()})
    ORDER BY hamming ASC, e.vec_id LIMIT 10
    """,
)
def hamming_lsh_topk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sublinear packed-Hamming retrieval
    (operators.similarity.hamming_lsh_topk): bit-sampling LSH over
    the ingest-time sign words — only rows sharing a sampled-bit band
    key with the probe are popcount-ranked, the sub-linear complement
    of hamming_packed_topk's full scan (what ann_lsh_bucket_topk is
    to cosine_topk). The oracle recomputes the band filter from RAW
    embedding signs (key equality == per-position bit equality), so
    packing, extraction, and ranking are all differentially pinned."""
    from component_delta_lake_writer_spark.operators.similarity import (
        hamming_lsh_topk,
        pack_sign_words,
    )

    packed = pack_sign_words(
        load_table(spark, sf_dir, "embeddings"), dim=64
    )
    return hamming_lsh_topk(
        packed, packed.filter(F.col("vec_id") == 0), dim=64, k=10,
        n_bands=4, bits_per_band=8,
    )


@query(
    "hamming_lsh_indexed_topk",
    oracle=f"""
    WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
      CAST(list_reduce(list_transform(generate_series(1, 64),
        i -> CASE WHEN (CAST(e.embedding[i] AS DOUBLE) >= 0)
                    <> (CAST(p.pv[i] AS DOUBLE) >= 0)
             THEN 1 ELSE 0 END), (x, y) -> x + y) AS INT) AS hamming
    FROM embeddings e, p
    WHERE e.vec_id <> 0 AND ({_hb_band_disjunction_sql(bits=6)})
    ORDER BY hamming ASC, e.vec_id LIMIT 10
    """,
)
def hamming_lsh_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED bit-sampling LSH retrieval
    (operators.similarity.hamming_lsh_build_index + query_index): the
    packed corpus lands once per band under band=/key= hive
    partitions; the query is a PARTITION-PRUNED read of exactly the
    probe's matched buckets + a popcount rerank — the wall-clock-
    sublinear shape the ad-hoc hamming_lsh_topk only bounds in rerank
    work. Same oracle shape as the ad-hoc key: indexing must not
    change a single distance or tie. bits_per_band=6 here (vs the
    ad-hoc key's 8): at sf0.01 the BUILD's per-bucket-dir commit
    overhead scales with 4·2^bits dirs (~10 s at 1024, ~3.5 s at
    256), and the probe's semantics — bucket pruning equals the
    ad-hoc filter — are parameter-independent."""
    import os

    from component_delta_lake_writer_spark.operators.similarity import (
        hamming_lsh_build_index,
        hamming_lsh_query_index,
        pack_sign_words,
    )
    from component_delta_lake_writer_spark.plans.query_registry import (
        _scratch,
    )

    packed = pack_sign_words(
        load_table(spark, sf_dir, "embeddings"), dim=64
    )
    idx = os.path.join(
        _scratch("hamming_lsh_indexed_topk", sf_dir), "index"
    )
    hamming_lsh_build_index(
        packed, idx, dim=64, n_bands=4, bits_per_band=6
    )
    return hamming_lsh_query_index(
        spark, idx, packed.filter(F.col("vec_id") == 0), k=10
    )


@query(
    "shard_export_balanced",
    oracle="""
    WITH h AS (
      SELECT doc_id,
        md5('0' || '|' || CAST(doc_id AS VARCHAR)) AS hh
      FROM documents
    ),
    r AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hh) - 1 AS rk FROM h
    )
    SELECT CAST(rk % 8 AS INT) AS shard,
      COUNT(*) AS n_docs,
      MIN(doc_id) AS min_id,
      CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM r GROUP BY 1
    """,
)
def shard_export_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export (operators.sampling.shard_export): a
    seeded-hash global permutation dealt round-robin into 8 shards.
    The oracle recomputes the same permutation with ROW_NUMBER over
    the same md5 — shard membership must match row-for-row, and shard
    sizes may differ by at most one (asserted here; hash-mod sharding
    can't give that)."""
    from component_delta_lake_writer_spark.operators.sampling import (
        shard_export,
    )

    docs = load_table(spark, sf_dir, "documents")
    sharded = shard_export(docs, "doc_id", n_shards=8, seed=0)
    out = sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )
    sizes = [r["n_docs"] for r in out.select("n_docs").collect()]
    if max(sizes) - min(sizes) > 1:  # unconditional: assert dies under -O
        raise AssertionError(f"unbalanced shards: {sizes}")
    return out


def _pq_d2(x: str, c: str, n: int = 16) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {n}), "
        f"i -> ({x}[i] - {c}[i]) * ({x}[i] - {c}[i])), (a, b) -> a + b)"
    )


def _pq_subspace_ctes(j: int, width: int = 16, sub_k: int = 8) -> str:
    lo = (j - 1) * width + 1
    hi = j * width
    d2_pc = _pq_d2("p.x", "c.c", width)
    return f"""
    pts_{j} AS (
      SELECT vec_id AS pid,
        list_transform(generate_series({lo}, {hi}),
                       i -> CAST(embedding[i] AS DOUBLE)) AS x
      FROM embeddings
    ),
    c0_{j} AS (SELECT pid AS cid, x AS c FROM pts_{j} WHERE pid < {sub_k}),
    a1_{j} AS (
      SELECT pid, x, cid FROM (
        SELECT p.pid, p.x, c.cid,
          ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY
            {_pq_d2('p.x', 'c.c', width)}, c.cid) AS rn
        FROM pts_{j} p CROSS JOIN c0_{j} c) t
      WHERE rn = 1
    ),
    comp1_{j} AS (
      SELECT cid, i AS pos,
        CAST(SUM(CAST(ROUND(x[i], 6) AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*) AS m
      FROM a1_{j} CROSS JOIN generate_series(1, {width}) AS g(i)
      GROUP BY cid, i
    ),
    c1_{j} AS (SELECT cid, list(m ORDER BY pos) AS c FROM comp1_{j} GROUP BY cid),
    codes_{j} AS (
      SELECT pid, {j - 1} AS j, cid FROM (
        SELECT p.pid, c.cid,
          ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY
            {d2_pc}, c.cid) AS rn
        FROM pts_{j} p CROSS JOIN c1_{j} c) t
      WHERE rn = 1
    ),
    qd_{j} AS (
      SELECT {j - 1} AS j, c.cid,
        {_pq_d2('q.x', 'c.c', width)} AS qd2
      FROM c1_{j} c CROSS JOIN (SELECT x FROM pts_{j} WHERE pid = 0) q
    )"""


_PQ_ORACLE = (
    "WITH "
    + ",".join(_pq_subspace_ctes(j) for j in (1, 2, 3, 4))
    + """,
    codes AS (
      SELECT * FROM codes_1 UNION ALL SELECT * FROM codes_2
      UNION ALL SELECT * FROM codes_3 UNION ALL SELECT * FROM codes_4
    ),
    qd AS (
      SELECT * FROM qd_1 UNION ALL SELECT * FROM qd_2
      UNION ALL SELECT * FROM qd_3 UNION ALL SELECT * FROM qd_4
    ),
    adc AS (
      SELECT c.pid,
        CAST(SUM(CAST(ROUND(q.qd2, 6) AS DECIMAL(20,6))) AS DOUBLE)
          AS adc
      FROM codes c JOIN qd q ON c.j = q.j AND c.cid = q.cid
      WHERE c.pid <> 0
      GROUP BY c.pid
    )
    SELECT pid, adc, rk FROM (
      SELECT pid, adc,
        ROW_NUMBER() OVER (ORDER BY adc, pid) AS rk
      FROM adc
    ) WHERE rk <= 10
    """
)


@query("ann_pq_adc_topk", oracle=_PQ_ORACLE)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC retrieval
    (operators.similarity.pq_topk): 4 subspaces x 8-centroid seeded
    codebooks (each trained with the same exact-decimal Lloyd
    iteration as kmeans_embedding_clusters), vectors encoded to 4
    codes, query ranked by the broadcast m x sub_k lookup-table sum.
    The ENTIRE path — per-subspace training, encoding, ADC — is
    mirrored in the generated oracle CTE chain: a full differential
    check of the compressed-ANN standard, completing the retrieval
    family (brute force / LSH / IVF / PQ)."""
    from component_delta_lake_writer_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, k=10, m=4, sub_k=8, lloyd_iterations=2)


_CURATED_SQL = r"""
    t0 AS (
      SELECT doc_id, text,
        string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    gx AS (
      SELECT doc_id, text, len(toks) AS n_words, toks,
        CASE WHEN len(toks) >= 2 THEN
          list_transform(generate_series(1, len(toks)-1),
                         i -> toks[i] || ' ' || toks[i+1])
        ELSE []::VARCHAR[] END AS g2
      FROM t0
    ),
    topw AS (
      SELECT doc_id, max(c) AS topc FROM (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS w FROM t0)
        GROUP BY doc_id, w
      ) GROUP BY doc_id
    ),
    keepdocs AS (
      SELECT gx.doc_id, gx.text
      FROM gx JOIN topw USING (doc_id)
      WHERE ROUND(CASE WHEN len(g2) > 0
              THEN 1 - len(list_distinct(g2))::DOUBLE / len(g2)
              ELSE 0 END, 6) <= 0.9
        AND ROUND(CASE WHEN n_words > 0
              THEN topc::DOUBLE / n_words ELSE 0 END, 6) <= 0.3
    ),
    fps AS (
      SELECT doc_id, text,
        md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM keepdocs
    ),
    keepmin AS (SELECT fp, MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
    curated AS (
      SELECT f.doc_id, f.text
      FROM fps f JOIN keepmin k ON f.doc_id = k.doc_id
    )
"""


@query(
    "pipeline_curated_retrieval",
    oracle="WITH " + _CURATED_SQL + ", " + _bm25_oracle("curated")
    + " SELECT query_id, doc_id, score, rk FROM bm25_final",
)
def pipeline_curated_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composite for the retrieval stack: Gopher repetition
    gate → exact keep-one dedup → Okapi BM25 top-5 over only the
    SURVIVORS — the curate-then-index shape of a RAG/pretraining
    pipeline, every stage the already-oracled operator, and the whole
    chain mirrored end-to-end in one oracle (filter thresholds on the
    same rounded fractions, dedup on the same md5 fingerprint, BM25
    statistics recomputed over the curated corpus — idf/avgdl shift
    when documents drop, and the oracle proves ours shift identically)."""
    from component_delta_lake_writer_spark.operators.quality import (
        repetition_stats,
    )
    from component_delta_lake_writer_spark.operators.retrieval import bm25_topk
    from component_delta_lake_writer_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    kept_ids = repetition_stats(docs).filter(F.col("keep")).select("doc_id")
    kept = docs.join(kept_ids, "doc_id").select("doc_id", "text")
    # Exact keep-one dedup as ONE keyed aggregate (min_by over the
    # row struct — the pipeline_clean_corpus respelling): the old
    # groupBy(fp).min(doc_id) + join-back re-derived the whole
    # gate+join lineage a second time (two more corpus scans in the
    # plan) to re-attach text the aggregate already saw. Identical
    # survivors: doc_id is unique, so the min_by row IS the row whose
    # doc_id the old join selected.
    curated = (
        kept.withColumn("fp", fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(F.min_by(F.struct("doc_id", "text"), F.col("doc_id")).alias("__r"))
        .select(F.col("__r.doc_id").alias("doc_id"), F.col("__r.text").alias("text"))
    )
    queries = local_relation(
        spark, "query_id int, term string", list(zip(*_BM25_QUERIES))
    )
    return bm25_topk(curated, queries, k=5)


_DOTN = (
    "list_reduce(list_transform(generate_series(1, {n}), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


@query(
    "matryoshka_topk",
    oracle=f"""
    WITH p AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0),
    s1 AS (
      SELECT e.vec_id, e.embedding, p.pv,
        ROUND({_DOTN.format(n=16, a='e.embedding', b='p.pv')}
          / (sqrt({_DOTN.format(n=16, a='e.embedding', b='e.embedding')})
             * sqrt({_DOTN.format(n=16, a='p.pv', b='p.pv')})), 6) AS pcos
      FROM embeddings e, p
      WHERE e.vec_id <> 0
      ORDER BY pcos DESC, e.vec_id ASC LIMIT 50
    )
    SELECT vec_id,
      ROUND({_DOTN.format(n=64, a='embedding', b='pv')}
        / (sqrt({_DOTN.format(n=64, a='embedding', b='embedding')})
           * sqrt({_DOTN.format(n=64, a='pv', b='pv')})), 6) AS cosine
    FROM s1
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
)
def matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka retrieval cascade (operators.similarity
    ::matryoshka_topk): prefix-16 cosine shortlist of 50, re-ranked by
    full 64-dim cosine to a top-10 — the cheap-first-stage ANN shape,
    deterministic at both stages (rounded score, id tie-break)."""
    from component_delta_lake_writer_spark.operators import (
        similarity as SIM,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    return SIM.matryoshka_topk(emb, probe, dims=16, shortlist=50, k=10)


@query(
    "merge_asof_backward",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS quote
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, epoch_us(ts)
    )
    SELECT l.event_id, l.user_id, l.ts_us,
      CASE WHEN l.ts_us - r.ts_us <= 1800000000
           THEN r.ts_us END AS ts_us_r,
      CASE WHEN l.ts_us - r.ts_us <= 1800000000
           THEN r.quote END AS quote_r
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    """,
)
def merge_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General two-table as-of join (operators.timeseries.merge_asof,
    backward + 30-minute tolerance): every purchase picks the latest
    same-user view quote at-or-before it — one shuffle on user_id,
    ordered-stream running last, NO range join. Oracle: DuckDB's
    native ASOF LEFT JOIN with the tolerance as a post-CASE."""
    from component_delta_lake_writer_spark.operators.timeseries import (
        merge_asof,
    )

    e = load_table(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    right = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("quote"))
    )
    return merge_asof(
        left, right, on="ts_us", by=["user_id"],
        direction="backward", tolerance=1_800_000_000,
    )


@query(
    "merge_asof_nearest",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS quote
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, epoch_us(ts)
    ),
    b AS (
      SELECT l.event_id, r.ts_us AS b_ts, r.quote AS b_q
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    ),
    f AS (
      SELECT l.event_id, r.ts_us AS f_ts, r.quote AS f_q
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts_us <= r.ts_us
    )
    SELECT l.event_id, l.user_id, l.ts_us,
      CASE
        WHEN b.b_ts IS NULL THEN f.f_ts
        WHEN f.f_ts IS NULL THEN b.b_ts
        WHEN (f.f_ts - l.ts_us) < (l.ts_us - b.b_ts) THEN f.f_ts
        ELSE b.b_ts END AS ts_us_r,
      CASE
        WHEN b.b_ts IS NULL THEN f.f_q
        WHEN f.f_ts IS NULL THEN b.b_q
        WHEN (f.f_ts - l.ts_us) < (l.ts_us - b.b_ts) THEN f.f_q
        ELSE b.b_q END AS quote_r
    FROM l JOIN b USING (event_id) JOIN f USING (event_id)
    """,
)
def merge_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_asof direction='nearest' (backward wins ties — the pandas
    rule): oracle composes DuckDB's backward and forward ASOF joins
    and picks the closer side with the same tie-break."""
    from component_delta_lake_writer_spark.operators.timeseries import (
        merge_asof,
    )

    e = load_table(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    right = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("quote"))
    )
    return merge_asof(
        left, right, on="ts_us", by=["user_id"], direction="nearest"
    )


@query(
    "variant_semistructured",
    oracle="""
    WITH j AS (
      SELECT o_orderkey,
        json_object(
          'cust', o_custkey,
          'status', o_orderstatus,
          'amounts', json_array(o_totalprice, o_totalprice * 0.1),
          'flags', json_object('late', o_orderkey % 3 = 0)
        ) AS v
      FROM orders
    )
    SELECT CAST(json_extract(v, '$.cust') AS BIGINT) AS cust,
      COUNT(*) AS n,
      CAST(SUM(CAST(
        CAST(json_extract(v, '$.amounts[1]') AS DOUBLE) AS DECIMAL(20,6)
      )) AS DOUBLE) AS fee_total
    FROM j
    WHERE CAST(json_extract(v, '$.flags.late') AS BOOLEAN)
      AND json_extract_string(v, '$.status') = 'O'
    GROUP BY cust
    ORDER BY n DESC, cust LIMIT 50
    """,
)
def variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT end-to-end: rows become nested JSON, parse_json
    lifts them to VARIANT, variant_get does TYPED path extraction
    (nested object, array index, boolean flag) feeding a filter and
    an aggregation — the open-ended semi-structured column pattern,
    binary-encoded instead of string-reparsed per access. Oracle:
    DuckDB json_extract over the identically constructed document."""
    o = load_table(spark, sf_dir, "orders")
    j = o.select(
        "o_orderkey",
        F.parse_json(
            F.to_json(
                F.struct(
                    F.col("o_custkey").alias("cust"),
                    F.col("o_orderstatus").alias("status"),
                    F.array(
                        F.col("o_totalprice"),
                        F.col("o_totalprice") * 0.1,
                    ).alias("amounts"),
                    F.struct(
                        (F.col("o_orderkey") % 3 == 0).alias("late")
                    ).alias("flags"),
                )
            )
        ).alias("v"),
    )
    return (
        j.filter(
            F.expr("variant_get(v, '$.flags.late', 'boolean')")
            & (F.expr("variant_get(v, '$.status', 'string')") == "O")
        )
        .groupBy(
            F.expr("variant_get(v, '$.cust', 'bigint')").alias("cust")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum(
                F.expr("variant_get(v, '$.amounts[1]', 'double')"), 6
            ).cast("double").alias("fee_total"),
        )
        .orderBy(F.col("n").desc(), F.col("cust").asc())
        .limit(50)
    )


@query(
    "python_datasource_manifest",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 4 != 3
    """,
)
def python_datasource_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API: the Keboola sliced-manifest
    contract as a registered `spark.read.format('sliced_manifest')`
    connector — one InputPartition per slice (parallel slice reads on
    a cluster), explicit schema, headerless CSV slices. Staged: three
    slice files + manifest; read back through the connector."""
    import os as _os
    import shutil as _sh

    from component_delta_lake_writer_spark.plans.query_registry import (
        _scratch,
    )
    from component_delta_lake_writer_spark.sources import (
        manifest_datasource as MDS,
    )

    base = _scratch("python_datasource_manifest", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    _os.makedirs(base)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # ONE collect, bucketed driver-side — three filtered collects
    # re-scanned the table once per slice for disjoint k%4 buckets
    all_rows = o.filter(F.col("o_orderkey") % 4 != 3).collect()
    buckets: dict[int, list] = {0: [], 1: [], 2: []}
    for r in all_rows:
        buckets[r[0] % 4].append(r)
    for i in range(3):
        with open(_os.path.join(base, f"slice_{i}.csv"), "w") as fh:
            for r in buckets[i]:
                fh.write(f"{r[0]},{r[1]},{r[2]}\n")
    man = _os.path.join(base, "manifest")
    MDS.stage_slices_from_csv_dir(base, man)
    MDS.register(spark)
    return (
        spark.read.format("sliced_manifest")
        .schema("o_orderkey BIGINT, o_orderstatus STRING, "
                "o_totalprice DOUBLE")
        .option("manifest", man)
        .load()
    )


@query(
    "interpolate_linear_series",
    oracle="""
    WITH hourly AS (
      SELECT user_id % 5 AS grp, date_trunc('hour', ts) AS h,
        CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(20,6))) AS DOUBLE) AS v
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ),
    spine AS (
      SELECT g.grp, s.h
      FROM (SELECT DISTINCT grp FROM hourly) g
      CROSS JOIN (
        SELECT unnest(generate_series(
          (SELECT MIN(h) FROM hourly),
          (SELECT MAX(h) FROM hourly),
          INTERVAL 1 HOUR)) AS h
      ) s
    ),
    joined AS (
      SELECT sp.grp, sp.h, epoch_us(sp.h) AS t, hv.v
      FROM spine sp LEFT JOIN hourly hv
        ON hv.grp = sp.grp AND hv.h = sp.h
    ),
    marked AS (
      SELECT grp, h, t, v,
        MAX(CASE WHEN v IS NOT NULL THEN t END)
          OVER (PARTITION BY grp ORDER BY t
                ROWS UNBOUNDED PRECEDING) AS pt,
        MIN(CASE WHEN v IS NOT NULL THEN t END)
          OVER (PARTITION BY grp ORDER BY t
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM joined
    ),
    vals AS (
      SELECT m.grp, m.h, m.t, m.v, m.pt, m.nt,
        pv.v AS pv, nv.v AS nv
      FROM marked m
      LEFT JOIN joined pv ON pv.grp = m.grp AND pv.t = m.pt
      LEFT JOIN joined nv ON nv.grp = m.grp AND nv.t = m.nt
    )
    SELECT grp, h,
      ROUND(CASE
        WHEN v IS NOT NULL THEN v
        WHEN pt IS NOT NULL AND nt IS NOT NULL AND nt <> pt
          THEN pv + (nv - pv) * (CAST(t AS DOUBLE) - pt) / (nt - pt)
      END, 6) AS v
    FROM vals
    """,
)
def interpolate_linear_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation (operators.timeseries
    ::interpolate_linear): hourly purchase sums per user-group on a
    dense spine; missing hours get the straight line between their
    known neighbors, edges stay NULL — the continuous-measure sibling
    of the LOCF gap-fill (`gap_fill_hourly`). Oracle rebuilds the
    same two-window interpolation in DuckDB."""
    from component_delta_lake_writer_spark.operators.timeseries import (
        interpolate_linear,
    )

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hourly = (
        e.groupBy(
            (F.col("user_id") % 5).alias("grp"),
            F.date_trunc("hour", F.col("ts")).alias("h"),
        )
        .agg(
            exact_sum("value", 6)
            .cast("double")
            .alias("v")
        )
    )
    bounds = hourly.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    ).first()
    spine = (
        hourly.select("grp").distinct()
        .crossJoin(
            spark.sql(
                f"SELECT explode(sequence(TIMESTAMP '{bounds['lo']}', "
                f"TIMESTAMP '{bounds['hi']}', INTERVAL 1 HOUR)) AS h"
            )
        )
    )
    joined = spine.join(hourly, ["grp", "h"], "left").withColumn(
        "t", F.col("h").cast("timestamp").cast("long") * 1_000_000
    )
    out = interpolate_linear(joined, on="t", value_col="v", by=["grp"])
    return out.select("grp", "h", F.round("v", 6).alias("v"))


@query(
    "png_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_png,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(100 + doc_id % 500 AS INT) END AS width,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(100 + doc_id % 300 AS INT) END AS height,
      CASE WHEN doc_id % 7 <> 0 THEN 8 END AS bit_depth,
      CASE WHEN doc_id % 7 <> 0 THEN 6 END AS color_type
    FROM documents
    """,
)
def png_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG container-metadata parse
    (operators.multimodal.parse_png_meta): each document's payload is
    staged as a REAL PNG signature + IHDR header (dimensions derived
    from doc_id; every 7th doc gets garbage bytes instead), and the
    parser recovers width/height/bit-depth/color-type from the raw
    bytes with hex-slice Catalyst expressions — the codec-free
    metadata tier of the multimodal family, with the garbage rows
    proving the never-throws contract. The oracle recomputes the
    staged header fields from the same doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_png_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    hdr_hex = F.concat(
        F.lit("89504E470D0A1A0A"),        # signature
        F.lit("0000000D"),                 # IHDR length 13
        F.lit("49484452"),                 # 'IHDR'
        F.format_string("%08x", (F.lit(100) + F.col("doc_id") % 500)),
        F.format_string("%08x", (F.lit(100) + F.col("doc_id") % 300)),
        F.lit("0806"),                     # bit depth 8, color type 6
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
        .alias("payload"),
    )
    return parse_png_meta(staged)


@query(
    "wav_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 5 <> 0) AS is_wav,
      CASE WHEN doc_id % 5 <> 0 THEN 1 END AS audio_format,
      CASE WHEN doc_id % 5 <> 0
           THEN CAST(1 + doc_id % 2 AS INT) END AS n_channels,
      CASE WHEN doc_id % 5 <> 0 THEN CAST(
        CASE doc_id % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050
          ELSE 44100 END AS INT) END AS sample_rate,
      CASE WHEN doc_id % 5 <> 0
           THEN CAST(16 + 8 * (doc_id % 2) AS INT) END
        AS bits_per_sample
    FROM documents
    """,
)
def wav_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV/RIFF container-metadata parse
    (operators.multimodal.parse_wav_meta): payloads staged as real
    RIFF/WAVE/fmt headers with little-endian fields derived from
    doc_id (every 5th doc gets garbage); the parser reassembles the
    LE integers from per-byte hex slices. Audio sibling of
    png_meta_parse — the multimodal metadata tier, codec-free."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_wav_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    ch = (F.lit(1) + F.col("doc_id") % 2).cast("int")
    sr = (
        F.when(F.col("doc_id") % 3 == 0, 16000)
        .when(F.col("doc_id") % 3 == 1, 22050)
        .otherwise(44100)
        .cast("int")
    )
    bits = (F.lit(16) + 8 * (F.col("doc_id") % 2)).cast("int")

    def le16(v):
        return F.format_string(
            "%02x%02x", (v % 256).cast("int"),
            (v / 256).cast("int") % 256,
        )

    def le32(v):
        return F.format_string(
            "%02x%02x%02x%02x",
            (v % 256).cast("int"),
            ((v / 256).cast("int") % 256),
            ((v / 65536).cast("int") % 256),
            ((v / 16777216).cast("int") % 256),
        )

    hdr_hex = F.concat(
        F.lit("52494646"), F.lit("24000000"),       # RIFF, size 36
        F.lit("57415645"), F.lit("666d7420"),       # WAVE, 'fmt '
        F.lit("10000000"),                           # fmt len 16
        le16(F.lit(1)), le16(ch), le32(sr),
        F.lit("000000000000"),                       # byte rate+align
        le16(bits),
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
        .alias("payload"),
    )
    return parse_wav_meta(staged)


@query(
    "jpeg_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_jpeg,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(200 + doc_id % 700 AS INT) END AS width,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(120 + doc_id % 420 AS INT) END AS height,
      CASE WHEN doc_id % 7 <> 0 THEN 3 END AS n_components,
      CASE WHEN doc_id % 7 <> 0 THEN 8 END AS bit_depth,
      CASE WHEN doc_id % 7 <> 0 THEN (doc_id % 3 <> 0) END AS has_exif
    FROM documents
    """,
)
def jpeg_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG container-metadata parse
    (operators.multimodal.parse_jpeg_meta — VERDICT r9 task 5): each
    payload is staged as a REAL JPEG header stream — SOI, APP0/JFIF,
    a VARIABLE-length APP1/EXIF segment (doc_id%17 pad bytes, absent
    for every 3rd doc) and an SOF0 frame header with dimensions
    derived from doc_id — followed by text bytes; every 7th doc gets
    garbage instead.  The variable APP1 length shifts the SOF offset
    per row, so only a true marker-segment WALK (not the PNG-style
    fixed hex slice) recovers the fields.  The oracle recomputes the
    staged arithmetic, as png_meta_parse's does."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_jpeg_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    pad = (F.col("doc_id") % 17).cast("int")
    app1 = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(
            F.lit("FFE1"),
            F.format_string("%04x", pad + 8),   # 2 len + 6 hdr + pad
            F.lit("457869660000"),               # 'Exif\\0\\0'
            F.expr("repeat('00', CAST(doc_id % 17 AS INT))"),
        ),
    ).otherwise(F.lit(""))
    hdr_hex = F.concat(
        F.lit("FFD8"),                            # SOI
        F.lit("FFE000104A46494600010100000100010000"),  # APP0/JFIF 16
        app1,
        F.lit("FFC00011"),                        # SOF0, len 17
        F.lit("08"),                              # bit depth 8
        F.format_string("%04x", (F.lit(120) + F.col("doc_id") % 420)),
        F.format_string("%04x", (F.lit(200) + F.col("doc_id") % 700)),
        F.lit("03"),                              # 3 components
        F.lit("012200021101031101"),              # component specs
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
        .alias("payload"),
    )
    return parse_jpeg_meta(staged)


@query(
    "mp4_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_mp4,
      CASE WHEN doc_id % 7 <> 0 THEN 'isom' END AS major_brand,
      CASE WHEN doc_id % 7 <> 0 THEN 600 END AS timescale,
      CASE WHEN doc_id % 7 <> 0
           THEN ROUND(CAST((10 + doc_id % 50) * 1000.0 AS DOUBLE), 6)
      END AS duration_ms,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(320 + (doc_id % 5) * 16 AS INT) END AS width,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(240 + (doc_id % 3) * 16 AS INT) END AS height,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(1 + doc_id % 2 AS INT) END AS n_tracks
    FROM documents
    """,
)
def mp4_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/ISO-BMFF container-metadata parse
    (operators.multimodal.parse_mp4_meta): each payload is staged as
    a REAL box tree — ftyp(isom), a VARIABLE-length top-level `free`
    box (doc_id%13 pad), then moov holding another variable `free`
    box (doc_id%11 + 1 pad), an mvhd (timescale 600, duration from
    doc_id) and 1-2 trak▸tkhd boxes (dims 16.16 fixed-point from
    doc_id; the second track, when present, is an audio-shaped
    zero-dims track the parser must skip past) — every 7th doc gets
    garbage.  The variable padding shifts every offset per row, so
    only a true size-prefixed box WALK recovers the fields.  Video
    sibling of jpeg/png/wav_meta_parse; oracle replays the staged
    arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_mp4_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    p1 = (F.col("doc_id") % 13).cast("int")
    p2 = (F.col("doc_id") % 11 + 1).cast("int")
    ntr = (1 + F.col("doc_id") % 2).cast("int")
    dur = (600 * (10 + F.col("doc_id") % 50)).cast("int")
    w = (320 + (F.col("doc_id") % 5) * 16).cast("int")
    h = (240 + (F.col("doc_id") % 3) * 16).cast("int")

    def box32(v):  # u32 big-endian hex from an int column/literal
        return F.format_string("%08x", v)

    tkhd = lambda wv, hv: F.concat(  # noqa: E731
        F.lit("0000005C746B6864"),          # size 92, 'tkhd'
        F.lit("00" * 76),                    # ver..matrix zeros
        box32((wv * 65536).cast("int")),     # width  16.16
        box32((hv * 65536).cast("int")),     # height 16.16
    )
    trak = lambda wv, hv: F.concat(  # noqa: E731
        F.lit("000000647472616B"), tkhd(wv, hv)  # size 100, 'trak'
    )
    mvhd = F.concat(
        F.lit("0000006C6D766864"),            # size 108, 'mvhd'
        F.lit("00000000" * 3),                 # ver/flags, creation, mod
        box32(F.lit(600)), box32(dur),
        F.lit("00" * 80),                      # rate..next_track zeros
    )
    free2 = F.concat(
        box32(p2 + 8), F.lit("66726565"),
        F.expr("repeat('00', CAST(doc_id % 11 + 1 AS INT))"),
    )
    moov_size = (8 + (p2 + 8) + 108 + 100 * ntr).cast("int")
    hdr_hex = F.concat(
        F.lit("0000001066747970" + "69736F6D" + "00000000"),  # ftyp
        box32(p1 + 8), F.lit("66726565"),                      # free
        F.expr("repeat('00', CAST(doc_id % 13 AS INT))"),
        box32(moov_size), F.lit("6D6F6F76"),                   # moov
        free2, mvhd, trak(w, h),
        F.when(ntr == 2, trak(F.lit(0), F.lit(0))).otherwise(
            F.lit("")
        ),
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
        .alias("payload"),
    )
    return parse_mp4_meta(staged)


@query(
    "webp_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_webp,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE doc_id % 3 WHEN 0 THEN 'lossy'
          WHEN 1 THEN 'lossless' ELSE 'extended' END END AS format,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(16 + doc_id % 1000 AS INT) END AS width,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(16 + doc_id % 600 AS INT) END AS height,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE doc_id % 3 WHEN 0 THEN FALSE
          ELSE (doc_id % 2 = 1) END END AS has_alpha,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE doc_id % 3 WHEN 2 THEN (doc_id % 4 = 0)
          ELSE FALSE END END AS has_anim
    FROM documents
    """,
)
def webp_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP container-metadata parse
    (operators.multimodal.parse_webp_meta): payloads staged as real
    RIFF/WEBP headers rotating through all THREE variants by doc_id
    (lossy VP8 sync-coded u14 dims, lossless VP8L packed LE u32
    bitfield, extended VP8X u24 canvas + flag byte); every 7th doc
    gets garbage bytes, proving the never-throws contract.  Pure
    Catalyst hex-slices — RIFF's fixed offsets need no byte walk
    (unlike JPEG/MP4's mapInPandas).  The oracle predicts the parsed
    fields from the same doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_webp_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    w = (F.lit(16) + F.col("doc_id") % 1000).cast("int")
    h = (F.lit(16) + F.col("doc_id") % 600).cast("int")
    alpha = (F.col("doc_id") % 2 == 1).cast("int")
    anim = (F.col("doc_id") % 4 == 0).cast("int")

    def le_hex(v, nbytes):
        return F.concat(
            *[
                F.format_string(
                    "%02x",
                    (
                        (v / F.lit(256 ** i)).cast("long") % 256
                    ).cast("int"),
                )
                for i in range(nbytes)
            ]
        )

    # VP8 lossy: frame tag (3 arbitrary bytes) + sync + u14 dims
    lossy = F.concat(
        F.lit("56503820"),                       # 'VP8 '
        le_hex(F.lit(20), 4),                    # chunk size
        F.lit("000000"), F.lit("9D012A"),        # tag + sync
        le_hex(w, 2), le_hex(h, 2),
    )
    # VP8L lossless: 0x2F + LE u32 bitfield (w-1 | h-1<<14 | a<<28)
    vp8l_bits = (
        (w - 1) + (h - 1) * F.lit(16384) + alpha * F.lit(268435456)
    )
    lossless = F.concat(
        F.lit("5650384C"),                       # 'VP8L'
        le_hex(F.lit(9), 4),
        F.lit("2F"), le_hex(vp8l_bits, 4), F.lit("00"),
    )
    # VP8X extended: flag byte + 3 reserved + u24 canvas-1 dims
    extended = F.concat(
        F.lit("56503858"),                       # 'VP8X'
        le_hex(F.lit(10), 4),
        le_hex(alpha * F.lit(16) + anim * F.lit(2), 1),
        F.lit("000000"),
        le_hex(w - 1, 3), le_hex(h - 1, 3),
    )
    chunk = (
        F.when(F.col("doc_id") % 3 == 0, lossy)
        .when(F.col("doc_id") % 3 == 1, lossless)
        .otherwise(extended)
    )
    hdr_hex = F.concat(
        F.lit("52494646"),                       # 'RIFF'
        le_hex(F.lit(1000), 4),                  # file size (unused)
        F.lit("57454250"),                       # 'WEBP'
        chunk,
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
        .alias("payload"),
    )
    return parse_webp_meta(staged)


@query(
    "gif_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 9 <> 0) AS is_gif,
      CASE WHEN doc_id % 9 <> 0 THEN
        CASE WHEN doc_id % 2 = 0 THEN '87a' ELSE '89a' END
      END AS version,
      CASE WHEN doc_id % 9 <> 0
           THEN CAST(1 + doc_id % 800 AS INT) END AS width,
      CASE WHEN doc_id % 9 <> 0
           THEN CAST(1 + doc_id % 640 AS INT) END AS height,
      CASE WHEN doc_id % 9 <> 0
           THEN (doc_id % 3 <> 0) END AS has_gct,
      CASE WHEN doc_id % 9 <> 0 THEN
        CASE WHEN doc_id % 3 <> 0
          THEN CAST(POWER(2, doc_id % 8 + 1) AS INT)
          ELSE 0 END END AS gct_entries
    FROM documents
    """,
)
def gif_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF container-metadata parse
    (operators.multimodal.parse_gif_meta): payloads staged as real
    GIF87a/89a logical-screen descriptors (LE u16 dims + packed GCT
    byte derived from doc_id; every 9th doc gets garbage).  The
    fixed-offset sibling completing the image container tier
    (PNG big-endian, WebP RIFF, GIF LE) — all pure Catalyst
    hex-slices.  The oracle predicts the parsed fields from the
    same doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_gif_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    w = (F.lit(1) + F.col("doc_id") % 800).cast("int")
    h = (F.lit(1) + F.col("doc_id") % 640).cast("int")
    gct = (F.col("doc_id") % 3 != 0).cast("int")
    packed = gct * F.lit(128) + (F.col("doc_id") % 8).cast("int")

    def le16(v):
        return F.format_string(
            "%02x%02x",
            (v % 256).cast("int"),
            (v / 256).cast("int") % 256,
        )

    hdr_hex = F.concat(
        F.lit("474946"),                         # 'GIF'
        F.when(F.col("doc_id") % 2 == 0, F.lit("383761"))  # '87a'
        .otherwise(F.lit("383961")),             # '89a'
        le16(w), le16(h),
        F.format_string("%02x", packed),
        F.lit("0000"),                           # bg index + aspect
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
        .alias("payload"),
    )
    return parse_gif_meta(staged)


@query(
    "tiff_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_tiff,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END
      END AS byte_order,
      CASE WHEN doc_id % 7 <> 0 THEN 5 END AS n_entries,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(16 + doc_id % 2000 AS INT) END AS width,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(16 + doc_id % 1200 AS INT) END AS height,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(8 * (1 + doc_id % 2) AS INT)
      END AS bits_per_sample,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(1 + doc_id % 8 AS INT) END AS compression,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(1 + doc_id % 4 AS INT) END AS samples_per_pixel
    FROM documents
    """,
)
def tiff_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF container-metadata parse
    (operators.multimodal.parse_tiff_meta): payloads staged as REAL
    TIFF streams exercising every branch the parser owns — endianness
    alternates II/MM by doc parity, a VARIABLE pre-IFD pad (doc_id %
    29) moves the IFD per row so the column-position substring
    arithmetic is actually load-bearing, ImageWidth alternates
    LONG/SHORT storage (doc_id % 5), and BitsPerSample alternates
    inline count-1 with the count-3 OFFSET spelling (doc_id % 3 = 0:
    three shorts parked after the IFD, the RGB layout) — every 7th
    doc gets garbage, proving the never-throws contract.  Pure
    Catalyst hex-slices on both the staging and parsing side; the
    oracle predicts the fields from the same doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_tiff_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    le = F.col("doc_id") % 2 == 0
    pad = (F.col("doc_id") % 29).cast("int")
    ifd_off = pad + 8
    w = (F.lit(16) + F.col("doc_id") % 2000).cast("long")
    h = (F.lit(16) + F.col("doc_id") % 1200).cast("long")
    bits = (8 * (1 + F.col("doc_id") % 2)).cast("long")
    comp = (1 + F.col("doc_id") % 8).cast("long")
    spp = (1 + F.col("doc_id") % 4).cast("long")
    # IFD = count(2) + 5 entries x 12 + next-IFD(4) = 66 bytes
    extra_off = (ifd_off + 66).cast("long")

    def be_hex(v, nbytes):
        return F.format_string(f"%0{2 * nbytes}x", v)

    def le_hex(v, nbytes):
        return F.concat(
            *[
                F.format_string(
                    "%02x",
                    ((v / F.lit(256 ** i)).cast("long") % 256).cast(
                        "int"
                    ),
                )
                for i in range(nbytes)
            ]
        )

    def u16(v):
        return F.when(le, le_hex(v, 2)).otherwise(be_hex(v, 2))

    def u32(v):
        return F.when(le, le_hex(v, 4)).otherwise(be_hex(v, 4))

    def entry(tag, typ, cnt, val_hex):
        return F.concat(u16(F.lit(tag)), u16(typ), u32(cnt), val_hex)

    short_val = lambda v: F.concat(u16(v), F.lit("0000"))  # noqa: E731
    wide = F.col("doc_id") % 5 != 0      # width stored as LONG
    rgbish = F.col("doc_id") % 3 == 0    # bits via count-3 offset
    entries = F.concat(
        F.when(
            wide, entry(256, F.lit(4), F.lit(1), u32(w))
        ).otherwise(entry(256, F.lit(3), F.lit(1), short_val(w))),
        entry(257, F.lit(3), F.lit(1), short_val(h)),
        F.when(
            rgbish, entry(258, F.lit(3), F.lit(3), u32(extra_off))
        ).otherwise(entry(258, F.lit(3), F.lit(1), short_val(bits))),
        entry(259, F.lit(3), F.lit(1), short_val(comp)),
        entry(277, F.lit(3), F.lit(1), short_val(spp)),
    )
    hdr_hex = F.concat(
        F.when(le, F.lit("49492a00")).otherwise(F.lit("4d4d002a")),
        u32(ifd_off.cast("long")),
        F.expr("repeat('00', CAST(doc_id % 29 AS INT))"),
        u16(F.lit(5)),
        entries,
        F.lit("00000000"),                       # next IFD: none
        F.when(
            rgbish, F.concat(u16(bits), u16(bits), u16(bits))
        ).otherwise(F.lit("")),
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
        .alias("payload"),
    )
    return parse_tiff_meta(staged)


@query(
    "mp3_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_mp3,
      CASE WHEN doc_id % 7 <> 0 THEN (doc_id % 3 <> 0)
           ELSE FALSE END AS has_id3,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE WHEN doc_id % 2 = 0 THEN '1' ELSE '2' END
      END AS mpeg_version,
      CASE WHEN doc_id % 7 <> 0 THEN 3 END AS layer,
      CASE WHEN doc_id % 7 <> 0 THEN CAST(
        CASE WHEN doc_id % 2 = 0 THEN
          CASE 1 + doc_id % 14
            WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
            WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80
            WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
            WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
            WHEN 13 THEN 256 WHEN 14 THEN 320 END
        ELSE
          CASE 1 + doc_id % 14
            WHEN 1 THEN 8 WHEN 2 THEN 16 WHEN 3 THEN 24
            WHEN 4 THEN 32 WHEN 5 THEN 40 WHEN 6 THEN 48
            WHEN 7 THEN 56 WHEN 8 THEN 64 WHEN 9 THEN 80
            WHEN 10 THEN 96 WHEN 11 THEN 112 WHEN 12 THEN 128
            WHEN 13 THEN 144 WHEN 14 THEN 160 END
        END AS INT) END AS bitrate_kbps,
      CASE WHEN doc_id % 7 <> 0 THEN CAST(
        CASE WHEN doc_id % 2 = 0 THEN
          CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
            ELSE 32000 END
        ELSE
          CASE doc_id % 3 WHEN 0 THEN 22050 WHEN 1 THEN 24000
            ELSE 16000 END
        END AS INT) END AS sample_rate_hz,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE doc_id % 4 WHEN 0 THEN 'stereo'
          WHEN 1 THEN 'joint_stereo' WHEN 2 THEN 'dual_channel'
          ELSE 'mono' END
      END AS channel_mode
    FROM documents
    """,
)
def mp3_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 frame-header parse (operators.multimodal.parse_mp3_meta):
    payloads staged as real streams — an ID3v2 tag with a VARIABLE
    syncsafe size (doc_id % 100 pad bytes, absent for every 3rd doc)
    floats the first frame sync per row, then a valid 4-byte frame
    header cycling MPEG1/MPEG2 Layer III through all 14 bitrate
    indices, 3 sample-rate indices and 4 channel modes — every 7th
    doc gets a NUL byte + text garbage (UTF-8 can never contain the
    0xFF sync byte, so the bounded sync scan proves the never-throws
    contract; the NUL prefix pins has_id3 = false even for a text
    that happens to start with the ASCII bytes 'ID3' — r12 ADVICE).
    The oracle replays the ISO bitrate/sample-rate tables as CASE
    ladders over the same doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_mp3_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    id3 = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(
            F.lit("494433" + "0400" + "00"),     # 'ID3' v2.4 flags 0
            F.format_string(
                "000000%02x", (F.col("doc_id") % 100).cast("int")
            ),                                    # syncsafe size <128
            F.expr("repeat('00', CAST(doc_id % 100 AS INT))"),
        ),
    ).otherwise(F.lit(""))
    b1 = F.when(F.col("doc_id") % 2 == 0, F.lit("fb")).otherwise(
        F.lit("f3")
    )  # sync low bits + version + layer III + protection
    b2 = F.format_string(
        "%02x",
        (
            (1 + F.col("doc_id") % 14) * 16 + (F.col("doc_id") % 3) * 4
        ).cast("int"),
    )
    b3 = F.format_string(
        "%02x", ((F.col("doc_id") % 4) * 64).cast("int")
    )
    hdr_hex = F.concat(id3, F.lit("ff"), b1, b2, b3)
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(
            F.concat(F.unhex(F.lit("00")), F.encode("text", "utf-8"))
        )
        .alias("payload"),
    )
    return parse_mp3_meta(staged)


@query(
    "flac_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_flac,
      CASE WHEN doc_id % 7 <> 0 THEN 4096 END AS min_block,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(4096 + doc_id % 1000 AS INT) END AS max_block,
      CASE WHEN doc_id % 7 <> 0 THEN CAST(
        CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
          ELSE 96000 END AS INT) END AS sample_rate,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(1 + doc_id % 8 AS INT) END AS channels,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(16 + 8 * (doc_id % 2) AS INT)
      END AS bits_per_sample,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST((doc_id % 16) * 4294967296
                     + (doc_id * 1000) % 4294967296
                     AS BIGINT)
      END AS total_samples
    FROM documents
    """,
)
def flac_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC STREAMINFO parse (operators.multimodal.parse_flac_meta):
    payloads staged as real fLaC streams — marker, a STREAMINFO
    block header (last-block flag set, length 34), block sizes,
    zeroed frame-size bounds, the PACKED 64-bit bitfield (20-bit
    sample rate, 3-bit channels-1, 5-bit bits-1, 36-bit total
    samples — the high nibble of the sample count exercised via
    doc_id % 16 x 2^32) and a zero MD5 — every 7th doc gets garbage.
    Pure Catalyst hex-slices both sides (FLAC pins STREAMINFO first,
    so offsets are fixed — the WAV/WebP/GIF class, not the MP3
    class); the oracle predicts the unpacked fields from the same
    doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_flac_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    sr = (
        F.when(F.col("doc_id") % 3 == 0, 44100)
        .when(F.col("doc_id") % 3 == 1, 48000)
        .otherwise(96000)
        .cast("long")
    )
    ch = (1 + F.col("doc_id") % 8).cast("long")
    bps = (16 + 8 * (F.col("doc_id") % 2)).cast("long")
    total_hi = (F.col("doc_id") % 16).cast("long")
    # Mask to 32 bits: %08x would otherwise grow past 8 hex chars
    # once doc_id >= 4294968 (large SFs) and shift every later byte
    # (r12 ADVICE).  The oracle applies the same mask.
    total_lo = ((F.col("doc_id") * 1000) % F.lit(4294967296)).cast(
        "long"
    )
    u32a = sr * 4096 + (ch - 1) * 512 + (bps - 1) * 16 + total_hi
    hdr_hex = F.concat(
        F.lit("664c6143"),                        # 'fLaC'
        F.lit("80000022"),                        # last, type 0, 34
        F.format_string("%04x", F.lit(4096)),
        F.format_string(
            "%04x", (4096 + F.col("doc_id") % 1000).cast("int")
        ),
        F.lit("000000000000"),                    # frame-size bounds
        F.format_string("%08x", u32a),
        F.format_string("%08x", total_lo),
        F.lit("00" * 16),                         # MD5 signature
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
        .alias("payload"),
    )
    return parse_flac_meta(staged)


@query(
    "exif_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0 AND doc_id % 5 <> 0) AS has_exif,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0 THEN
        CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END
      END AS byte_order,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
           THEN CAST(1 + doc_id % 8 AS INT) END AS orientation,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0 THEN
        CASE doc_id % 3 WHEN 0 THEN 'LG' WHEN 1 THEN 'CANON'
          ELSE 'NIKON' END
      END AS make,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
           THEN 'MDL' || lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0')
      END AS model,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
           THEN '2023:'
             || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || ':'
             || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' '
             || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':'
             || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':'
             || lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0')
      END AS datetime_original
    FROM documents
    """,
)
def exif_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF extraction (operators.multimodal.parse_exif_meta):
    payloads staged as REAL streams covering every branch the
    composition owns — endianness alternates II/MM by doc parity;
    Make alternates the INLINE count<=4 ASCII spelling (doc_id % 3 =
    0, 'LG') with the offset-from-TIFF-header spelling ('CANON' /
    'NIKON' parked behind the IFD); Model and DateTimeOriginal
    always ride offsets, the latter one hop away in the private
    Exif IFD behind pointer tag 34665; every 11th EXIF doc ships as
    a BARE TIFF stream (no JPEG wrapper — the second carrier the
    operator accepts), the rest as full JPEGs (SOI + APP1 + EOI +
    the doc text as trailing garbage); every 5th doc is a JPEG with
    an APP0/JFIF segment but NO EXIF (the missing-EXIF leg the r12
    verdict demanded); every 7th doc is text garbage, proving the
    never-throws contract.  The oracle predicts every field from
    the same doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_exif_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    le = F.col("doc_id") % 2 == 0

    def be_hex(v, nbytes):
        return F.format_string(f"%0{2 * nbytes}x", v)

    def le_hex(v, nbytes):
        return F.concat(
            *[
                F.format_string(
                    "%02x",
                    ((v / F.lit(256 ** i)).cast("long") % 256).cast(
                        "int"
                    ),
                )
                for i in range(nbytes)
            ]
        )

    def u16(v):
        return F.when(le, le_hex(v, 2)).otherwise(be_hex(v, 2))

    def u32(v):
        return F.when(le, le_hex(v, 4)).otherwise(be_hex(v, 4))

    def entry(tag, typ, cnt, val_hex):
        return F.concat(
            u16(F.lit(tag)), u16(typ), u32(cnt), val_hex
        )

    def ascii_hex(col):
        return F.lower(F.hex(F.encode(col, "utf-8")))

    inline_make = F.col("doc_id") % 3 == 0
    orient = (1 + F.col("doc_id") % 8).cast("long")
    make_str = (
        F.when(F.col("doc_id") % 3 == 1, F.lit("CANON"))
        .otherwise(F.lit("NIKON"))
    )
    model_str = F.format_string(
        "MDL%04d", (F.col("doc_id") % 1000).cast("int")
    )
    dto_str = F.format_string(
        "2023:%02d:%02d %02d:%02d:%02d",
        (1 + F.col("doc_id") % 12).cast("int"),
        (1 + F.col("doc_id") % 28).cast("int"),
        (F.col("doc_id") % 24).cast("int"),
        (F.col("doc_id") % 60).cast("int"),
        ((F.col("doc_id") * 7) % 60).cast("int"),
    )
    # fixed TIFF-block layout (offsets from the TIFF header): IFD0 at
    # 8 with 4 ascending entries + next-IFD 0 -> 62; make area 62(6),
    # model 68(8), Exif IFD 76 (count + 1 entry + next-IFD -> 94),
    # DateTimeOriginal string 94(20); total 114 bytes
    make_entry = F.when(
        inline_make,
        entry(271, F.lit(2), F.lit(3), F.lit("4c470000")),  # 'LG\0'+pad
    ).otherwise(entry(271, F.lit(2), F.lit(6), u32(F.lit(62))))
    ifd0 = F.concat(
        u16(F.lit(4)),
        make_entry,
        entry(272, F.lit(2), F.lit(8), u32(F.lit(68))),
        entry(274, F.lit(3), F.lit(1), F.concat(u16(orient), F.lit("0000"))),
        entry(34665, F.lit(4), F.lit(1), u32(F.lit(76))),
        F.lit("00000000"),                        # next IFD: none
    )
    make_area = F.when(inline_make, F.lit("00" * 6)).otherwise(
        F.concat(ascii_hex(make_str), F.lit("00"))
    )
    exif_ifd = F.concat(
        u16(F.lit(1)),
        entry(36867, F.lit(2), F.lit(20), u32(F.lit(94))),
        F.lit("00000000"),
    )
    tiff_hex = F.concat(
        F.when(le, F.lit("49492a00")).otherwise(F.lit("4d4d002a")),
        u32(F.lit(8)),
        ifd0,
        make_area,
        F.concat(ascii_hex(model_str), F.lit("00")),
        exif_ifd,
        F.concat(ascii_hex(dto_str), F.lit("00")),
    )
    # JPEG wrapper: SOI + APP1(len 122 = 2 + 'Exif\0\0' + 114) + EOI
    jpeg_hex = F.concat(
        F.lit("ffd8ffe1007a457869660000"), tiff_hex, F.lit("ffd9")
    )
    # JPEG with APP0/JFIF but no EXIF — the missing-EXIF leg
    no_exif_hex = F.lit(
        "ffd8ffe000104a46494600010100000100010000ffd9"
    )
    doc = F.col("doc_id")
    staged = d.select(
        "doc_id",
        F.when(doc % 7 == 0, F.encode("text", "utf-8"))
        .when(
            doc % 5 == 0,
            F.concat(F.unhex(no_exif_hex), F.encode("text", "utf-8")),
        )
        .when(doc % 11 == 0, F.unhex(tiff_hex))
        .otherwise(
            F.concat(F.unhex(jpeg_hex), F.encode("text", "utf-8"))
        )
        .alias("payload"),
    )
    return parse_exif_meta(staged)


def _bpe_oracle(n_merges: int = 8) -> str:
    """Unroll the fixed-rounds BPE training as the house CTE cascade
    (the Bradley-Terry / Cox precedent): w0 = the word-frequency
    dict exploded to symbol lists, then per round r a pair count
    (list_zip of the shifted symbol lists), a 1-row argmax with the
    count-desc/(l,r)-asc total-order tiebreak, and the greedy
    left-to-right merge as a list_reduce fold — the exact DuckDB
    spelling of the operator's ``aggregate`` fold."""
    parts = [
        """w0 AS (
    SELECT [substr(w, i, 1) for i in range(1, 1 + length(w))] AS syms,
           cnt
    FROM (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (
        SELECT substr(raw_w, 1, 16) AS w
        FROM (
          SELECT unnest(
            regexp_split_to_array(lower(text), '[^a-z]+')
          ) AS raw_w FROM documents
        ) WHERE raw_w <> ''
      ) GROUP BY w
    )
  )"""
    ]
    selects = []
    prev = "w0"
    for r in range(1, n_merges + 1):
        parts.append(
            f"""p{r} AS (
    SELECT p[1] AS l, p[2] AS r, SUM(cnt) AS c
    FROM (SELECT cnt,
          unnest(list_zip(syms[:len(syms)-1], syms[2:])) AS p
          FROM {prev})
    GROUP BY 1, 2
  ),
  b{r} AS (SELECT l, r, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1)"""
        )
        if r < n_merges:
            parts.append(
                f"""w{r} AS (
    SELECT list_reduce([[s] for s in {prev}.syms], (acc, x) ->
      CASE WHEN acc[-1] = b.l AND x[1] = b.r
      THEN acc[:len(acc)-1] || [b.l || b.r]
      ELSE acc || x END) AS syms, cnt
    FROM {prev}, b{r} b
  )"""
            )
            prev = f"w{r}"
        selects.append(
            f"SELECT {r} AS merge_rank, l AS left_sym, r AS right_sym,"
            f" CAST(c AS BIGINT) AS pair_count FROM b{r}"
        )
    return (
        "WITH " + ",\n  ".join(parts) + "\n  "
        + " UNION ALL ".join(selects)
    )


@query("bpe_train_merges", oracle=_bpe_oracle(6))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-table training
    (operators.text.bpe_train_merges): 6 merges learned from the
    documents corpus — one corpus scan to the word-frequency dict,
    then 6 fixed rounds of metadata-scale pair counting + 1-row
    argmax + fold-applied merge.  The oracle unrolls the identical
    rounds as a CTE cascade with list_zip pair extraction and a
    list_reduce greedy fold (``_bpe_oracle``); counts are exact
    integers and the tiebreak is a total order, so the tables agree
    bit-for-bit."""
    from component_delta_lake_writer_spark.operators.text import (
        bpe_train_merges as _train,
    )

    d = load_table(spark, sf_dir, "documents")
    return _train(d, n_merges=6)


@query(
    "ogg_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_ogg,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 0 THEN
        CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END
      END AS codec,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 0
           THEN CAST(1 + doc_id % 8 AS INT) END AS channels,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 0 THEN CAST(
        CASE doc_id % 3 WHEN 0 THEN 48000 WHEN 1 THEN 44100
          ELSE 16000 END AS BIGINT) END AS sample_rate,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 0
                AND doc_id % 2 = 0
           THEN CAST(doc_id % 1000 AS INT) END AS pre_skip
    FROM documents
    """,
)
def ogg_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGG/Opus/Vorbis identification-header parse
    (operators.multimodal.parse_ogg_meta): payloads staged as real
    first pages — 'OggS' + BOS flag + a 1-segment table, then an
    OpusHead packet (even docs: version 1, channels, pre-skip,
    input rate, gain, mapping) or a \\x01vorbis packet (odd docs:
    version 0, channels, rate, bitrate triple, blocksizes,
    framing); every 11th doc gets a VALID OggS page carrying an
    unknown codec packet (codec NULL with is_ogg true — the
    degrade-to-recovered contract), every 7th doc text garbage.
    Pure Catalyst hex-slices both sides; the oracle predicts the
    fields from the same doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_ogg_meta,
    )

    d = load_table(spark, sf_dir, "documents")

    def le_hex(v, nbytes):
        return F.concat(
            *[
                F.format_string(
                    "%02x",
                    ((v / F.lit(256 ** i)).cast("long") % 256).cast(
                        "int"
                    ),
                )
                for i in range(nbytes)
            ]
        )

    doc = F.col("doc_id")
    ch = (1 + doc % 8).cast("long")
    rate = (
        F.when(doc % 3 == 0, 48000)
        .when(doc % 3 == 1, 44100)
        .otherwise(16000)
        .cast("long")
    )
    pre_skip = (doc % 1000).cast("long")
    page27 = F.lit(
        "4f676753"            # 'OggS'
        + "00"                # version 0
        + "02"                # header type: beginning-of-stream
        + "0000000000000000"  # granule position
        + "01000000"          # serial
        + "00000000"          # page sequence
        + "00000000"          # CRC (not validated by the parser)
        + "01"                # ONE segment (spec-required for the
                              # id packet, what pins the offsets)
    )
    opus_pkt = F.concat(
        F.lit("13"),                        # segment length 19
        F.lit("4f70757348656164"),          # 'OpusHead'
        F.lit("01"),                        # version 1
        F.format_string("%02x", ch.cast("int")),
        le_hex(pre_skip, 2),
        le_hex(rate, 4),
        F.lit("0000"),                      # output gain
        F.lit("00"),                        # mapping family
    )
    vorbis_pkt = F.concat(
        F.lit("1e"),                        # segment length 30
        F.lit("01766f72626973"),            # \\x01 'vorbis'
        F.lit("00000000"),                  # version 0
        F.format_string("%02x", ch.cast("int")),
        le_hex(rate, 4),
        F.lit("00" * 12),                   # bitrate max/nom/min
        F.lit("b8"),                        # blocksizes
        F.lit("01"),                        # framing bit
    )
    unknown_pkt = F.lit("09" + "6e6f74206120696400")  # 'not a id\\0'
    hdr_hex = F.concat(
        page27,
        F.when(doc % 11 == 0, unknown_pkt)
        .when(doc % 2 == 0, opus_pkt)
        .otherwise(vorbis_pkt),
    )
    staged = d.select(
        "doc_id",
        F.when(
            doc % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
        .alias("payload"),
    )
    return parse_ogg_meta(staged)


@query(
    "bmp_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_bmp,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(1 + doc_id % 4000 AS INT) END AS width,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(1 + doc_id % 3000 AS INT) END AS height,
      CASE WHEN doc_id % 7 <> 0 THEN (doc_id % 4 = 0) END
        AS top_down,
      CASE WHEN doc_id % 7 <> 0 THEN CAST(
        CASE doc_id % 6 WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 8
          WHEN 3 THEN 16 WHEN 4 THEN 24 ELSE 32 END AS INT)
      END AS bits_per_pixel,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(doc_id % 3 AS INT) END AS compression,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(54 + (doc_id % 1024) * 4 AS BIGINT)
      END AS data_offset
    FROM documents
    """,
)
def bmp_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP header parse (operators.multimodal.parse_bmp_meta):
    payloads staged as real 'BM' + BITMAPINFOHEADER streams with
    every field little-endian from doc_id arithmetic — the SIGNED
    height exercised both ways (every 4th doc stores the
    two's-complement negative = the spec's top-down flag), bit
    depth rotating through all six legal values, compression
    through BI_RGB/RLE8/RLE4.  Garbage docs (doc_id % 7 = 0) are
    prefixed with a 0x00 byte so corpus text can never alias the
    'BM' magic (the mp3 ID3 fixture rule).  Pure Catalyst
    hex-slices both sides; the oracle predicts the fields from the
    same arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_bmp_meta,
    )

    d = load_table(spark, sf_dir, "documents")

    def le16(v):
        return F.format_string(
            "%02x%02x", (v % 256).cast("int"),
            (v / 256).cast("int") % 256,
        )

    def le32(v):
        return F.format_string(
            "%02x%02x%02x%02x",
            (v % 256).cast("int"),
            ((v / 256).cast("int") % 256),
            ((v / 65536).cast("int") % 256),
            ((v / 16777216).cast("int") % 256),
        )

    w = (1 + F.col("doc_id") % 4000).cast("long")
    hmag = (1 + F.col("doc_id") % 3000).cast("long")
    # two's-complement i32: top-down rows store -height
    h_stored = F.when(
        F.col("doc_id") % 4 == 0, F.lit(4294967296) - hmag
    ).otherwise(hmag)
    bpp = (
        F.when(F.col("doc_id") % 6 == 0, 1)
        .when(F.col("doc_id") % 6 == 1, 4)
        .when(F.col("doc_id") % 6 == 2, 8)
        .when(F.col("doc_id") % 6 == 3, 16)
        .when(F.col("doc_id") % 6 == 4, 24)
        .otherwise(32)
        .cast("long")
    )
    comp = (F.col("doc_id") % 3).cast("long")
    data_off = (54 + (F.col("doc_id") % 1024) * 4).cast("long")
    hdr_hex = F.concat(
        F.lit("424d"),                      # 'BM'
        F.lit("00000000"),                  # file size (unused)
        F.lit("00000000"),                  # reserved
        le32(data_off),
        F.lit("28000000"),                  # DIB size 40 LE
        le32(w),
        le32(h_stored),
        F.lit("0100"),                      # planes = 1
        le16(bpp),
        le32(comp),
        F.lit("00" * 20),                   # rest of the 40-byte DIB
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(
            F.concat(F.unhex(F.lit("00")), F.encode("text", "utf-8"))
        )
        .alias("payload"),
    )
    return parse_bmp_meta(staged)


@query(
    "avi_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_avi,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(33333 + (doc_id % 5) * 8333 AS BIGINT)
      END AS micro_sec_per_frame,
      CASE WHEN doc_id % 7 <> 0 THEN
        ROUND(1000000.0
          / CAST(33333 + (doc_id % 5) * 8333 AS DOUBLE), 3)
      END AS fps,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(doc_id % 100000 AS BIGINT) END AS total_frames,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(1 + doc_id % 3 AS INT) END AS n_streams,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(320 + (doc_id % 5) * 16 AS INT) END AS width,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(240 + (doc_id % 3) * 16 AS INT) END AS height
    FROM documents
    """,
)
def avi_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI main-header parse (operators.multimodal.parse_avi_meta):
    payloads staged as real RIFF/'AVI '/LIST-hdrl/avih streams —
    the spec-required canonical chunk order, every field
    little-endian from doc_id arithmetic, fps derived from
    dwMicroSecPerFrame as the identical rounded double expression
    on both engines.  Garbage docs carry the 0x00-prefix guard.
    Pure Catalyst hex-slices (the FLAC/WAV fixed-offset class —
    MP4 owns the video byte-walk class)."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_avi_meta,
    )

    d = load_table(spark, sf_dir, "documents")

    def le32(v):
        return F.format_string(
            "%02x%02x%02x%02x",
            (v % 256).cast("int"),
            ((v / 256).cast("int") % 256),
            ((v / 65536).cast("int") % 256),
            ((v / 16777216).cast("int") % 256),
        )

    mspf = (33333 + (F.col("doc_id") % 5) * 8333).cast("long")
    frames = (F.col("doc_id") % 100000).cast("long")
    streams = (1 + F.col("doc_id") % 3).cast("long")
    w = (320 + (F.col("doc_id") % 5) * 16).cast("long")
    h = (240 + (F.col("doc_id") % 3) * 16).cast("long")
    hdr_hex = F.concat(
        F.lit("52494646"),                  # 'RIFF'
        F.lit("00000000"),                  # riff size (unused)
        F.lit("41564920"),                  # 'AVI '
        F.lit("4c495354"),                  # 'LIST'
        F.lit("44000000"),                  # list size 68 LE
        F.lit("6864726c"),                  # 'hdrl'
        F.lit("61766968"),                  # 'avih'
        F.lit("38000000"),                  # cb = 56 LE
        le32(mspf),
        F.lit("00000000" * 3),              # maxbps, padding, flags
        le32(frames),
        F.lit("00000000"),                  # initial frames
        le32(streams),
        F.lit("00000000"),                  # suggested buffer
        le32(w),
        le32(h),
        F.lit("00" * 16),                   # 4 reserved u32
    )
    staged = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(
            F.concat(F.unhex(F.lit("00")), F.encode("text", "utf-8"))
        )
        .alias("payload"),
    )
    return parse_avi_meta(staged)


@query(
    "gzip_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_gzip,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE WHEN doc_id % 5 = 0 THEN TRUE
             WHEN doc_id % 11 = 0 THEN FALSE
             ELSE doc_id % 2 = 0 END END AS ftext,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(1700000000 + doc_id % 100000 AS BIGINT)
      END AS mtime,
      CASE WHEN doc_id % 7 <> 0 THEN CAST(
        CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 255 END AS INT)
      END AS os_byte,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
           THEN 'doc_' || doc_id || '.txt' END AS fname,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST((doc_id % 1000000) * 3 + 42 AS BIGINT)
      END AS isize
    FROM documents
    """,
)
def gzip_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip member-header parse (operators.multimodal.
    parse_gzip_meta): payloads staged as real RFC 1952 members —
    magic+deflate, a flag byte cycling FTEXT-only (every 5th doc:
    no FNAME), FEXTRA+FNAME (every 11th: a 4-byte extra field
    shifts the name), and FNAME[+FTEXT] (the rest), a 32-bit-safe
    MTIME, the OS byte, the NUL-terminated original filename, then
    deflate-stand-in text bytes and the 8-byte trailer whose last
    4 bytes are ISIZE (LE).  Every 7th doc is NUL-prefixed text
    garbage (the NUL pins is_gzip false even for a text starting
    with the magic's ASCII — the mp3 r12-ADVICE discipline).  All
    staged values are bounded (< 2^32) so the arithmetic prediction
    never overflows the field width (FLAC r12-ADVICE discipline).
    Pure Catalyst hex-slices both sides."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_gzip_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    doc = F.col("doc_id")

    def le_hex(v, nbytes):
        return F.concat(
            *[
                F.format_string(
                    "%02x",
                    ((v / F.lit(256 ** i)).cast("long") % 256).cast(
                        "int"
                    ),
                )
                for i in range(nbytes)
            ]
        )

    mtime = (F.lit(1700000000) + doc % 100000).cast("long")
    isize = ((doc % 1000000) * 3 + 42).cast("long")
    flg = (
        F.when(doc % 5 == 0, F.lit("01"))
        .when(doc % 11 == 0, F.lit("0c"))
        .when(doc % 2 == 0, F.lit("09"))
        .otherwise(F.lit("08"))
    )
    os_hex = F.when(doc % 2 == 0, F.lit("03")).otherwise(F.lit("ff"))
    fname_hex = F.concat(
        F.hex(
            F.encode(
                F.format_string("doc_%d.txt", doc), "utf-8"
            )
        ),
        F.lit("00"),
    )
    after_fixed = (
        F.when(doc % 5 == 0, F.lit(""))                  # no FNAME
        .when(
            doc % 11 == 0,
            # XLEN=4 LE + 4 extra bytes, then the name
            F.concat(F.lit("0400" + "61623132"), fname_hex),
        )
        .otherwise(fname_hex)
    )
    hdr_hex = F.concat(
        F.lit("1f8b08"), flg, le_hex(mtime, 4), F.lit("00"), os_hex,
        after_fixed,
    )
    trailer_hex = F.concat(F.lit("00000000"), le_hex(isize, 4))
    staged = d.select(
        "doc_id",
        F.when(
            doc % 7 != 0,
            F.concat(
                F.unhex(hdr_hex),
                F.encode("text", "utf-8"),
                F.unhex(trailer_hex),
            ),
        )
        .otherwise(
            F.concat(F.unhex(F.lit("00")), F.encode("text", "utf-8"))
        )
        .alias("payload"),
    )
    return parse_gzip_meta(staged)


@query(
    "warc_header_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_warc,
      CASE WHEN doc_id % 7 <> 0 THEN '1.0' END AS warc_version,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE WHEN doc_id % 5 = 0 THEN 'warcinfo'
             ELSE CASE doc_id % 3 WHEN 0 THEN 'response'
                  WHEN 1 THEN 'request' ELSE 'metadata' END
        END END AS warc_type,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
           THEN 'https://example.com/doc/' || doc_id
      END AS target_uri,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(2014 + doc_id % 10 AS VARCHAR)
                || '-01-15T10:30:00Z'
      END AS warc_date,
      CASE WHEN doc_id % 7 <> 0
           THEN '<urn:uuid:' || doc_id || '>' END AS record_id,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(doc_id % 100000 + 100 AS BIGINT)
      END AS content_length
    FROM documents
    """,
)
def warc_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record-header parse (operators.multimodal.
    parse_warc_header) — the Common Crawl container, the bulk
    source format of LLM pretraining corpora.  Payloads staged as
    real records: 'WARC/1.0' + named fields + CRLFCRLF + the text
    block; every 5th doc a warcinfo record WITHOUT a Target-URI
    (NULL-field leg), every 11th doc spells the field names in
    lowercase (the case-insensitivity contract), every 7th doc is
    NUL-prefixed text garbage (a text that happens to start with
    'WARC/' cannot fake a record — the mp3 r12-ADVICE discipline).
    The parser cuts the header at the first byte-aligned CRLFCRLF
    in hex space before decoding, so the binary block never reaches
    the UTF-8 decode; the oracle predicts every field from the same
    doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_warc_header,
    )

    d = load_table(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    wtype = F.when(doc % 5 == 0, F.lit("warcinfo")).otherwise(
        F.when(doc % 3 == 0, F.lit("response"))
        .when(doc % 3 == 1, F.lit("request"))
        .otherwise(F.lit("metadata"))
    )
    wdate = F.format_string(
        "%d-01-15T10:30:00Z", (F.lit(2014) + doc % 10).cast("int")
    )
    rid = F.format_string("<urn:uuid:%d>", doc)
    clen = (doc % 100000 + 100).cast("long")
    lower = doc % 11 == 0

    def fld(name, value):
        nm = F.when(lower, F.lit(name.lower())).otherwise(
            F.lit(name)
        )
        return F.concat(nm, F.lit(": "), value, F.lit("\r\n"))

    hdr = F.concat(
        F.lit("WARC/1.0\r\n"),
        fld("WARC-Type", wtype),
        fld("WARC-Record-ID", rid),
        F.when(
            doc % 5 != 0,
            fld(
                "WARC-Target-URI",
                F.format_string("https://example.com/doc/%d", doc),
            ),
        ).otherwise(F.lit("")),
        fld("WARC-Date", wdate),
        fld("Content-Length", clen.cast("string")),
        F.lit("\r\n"),
    )
    staged = d.select(
        "doc_id",
        F.when(
            doc % 7 != 0,
            F.concat(
                F.encode(hdr, "utf-8"), F.encode("text", "utf-8")
            ),
        )
        .otherwise(
            F.concat(F.unhex(F.lit("00")), F.encode("text", "utf-8"))
        )
        .alias("payload"),
    )
    return parse_warc_header(staged)


@query(
    "zstd_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_zstd,
      CASE WHEN doc_id % 7 <> 0 THEN doc_id % 3 = 0
      END AS single_segment,
      CASE WHEN doc_id % 7 <> 0 THEN doc_id % 2 = 0
      END AS has_checksum,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 3 <> 0
           THEN CAST(10 + doc_id % 8 AS INT) END AS window_log,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE WHEN doc_id % 5 = 0 THEN CAST(doc_id % 200 AS BIGINT)
             WHEN doc_id % 11 = 0
               THEN CAST(doc_id % 100000 + 70000 AS BIGINT)
        END END AS dict_id,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE doc_id % 4
          WHEN 0 THEN CASE WHEN doc_id % 3 = 0
            THEN CAST(doc_id % 256 AS BIGINT) END
          WHEN 1 THEN CAST(256 + doc_id % 65536 AS BIGINT)
          WHEN 2 THEN CAST(doc_id % 1000000 AS BIGINT)
          ELSE CAST((doc_id % 1000000) * 5 AS BIGINT)
        END END AS content_size
    FROM documents
    """,
)
def zstd_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zstd frame-header parse (operators.multimodal.
    parse_zstd_meta): payloads staged as real RFC 8878 frame
    prefixes cycling every descriptor combination — Single_Segment
    (every 3rd doc: no window descriptor, FCS width 1 legal),
    all four FCS widths (doc %4, with the +256 bias on width 2),
    1- and 4-byte dictionary ids (every 5th / 11th doc), the
    checksum bit (every 2nd) — then text bytes standing in for the
    compressed blocks.  Every 7th doc is NUL-prefixed garbage (the
    mp3 r12-ADVICE discipline); all staged values bounded (the
    FLAC r12-ADVICE discipline).  Pure Catalyst hex-slices with
    COLUMN positions both sides; the oracle predicts every field
    from the same doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_zstd_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    doc = F.col("doc_id")

    def le_hex(v, nbytes):
        return F.concat(
            *[
                F.format_string(
                    "%02x",
                    ((v / F.lit(256 ** i)).cast("long") % 256).cast(
                        "int"
                    ),
                )
                for i in range(nbytes)
            ]
        )

    ss = doc % 3 == 0
    fcs_flag = (doc % 4).cast("int")
    did_flag = (
        F.when(doc % 5 == 0, 1).when(doc % 11 == 0, 3).otherwise(0)
    )
    fhd = (
        fcs_flag * 64
        + F.when(ss, 32).otherwise(0)
        + F.when(doc % 2 == 0, 4).otherwise(0)
        + did_flag
    ).cast("int")
    wd = F.when(ss, F.lit("")).otherwise(
        F.format_string("%02x", ((doc % 8) * 8).cast("int"))
    )
    did = (
        F.when(doc % 5 == 0, le_hex((doc % 200).cast("long"), 1))
        .when(
            doc % 11 == 0,
            le_hex((doc % 100000 + 70000).cast("long"), 4),
        )
        .otherwise(F.lit(""))
    )
    fcs = (
        F.when(
            fcs_flag == 0,
            F.when(
                ss, le_hex((doc % 256).cast("long"), 1)
            ).otherwise(F.lit("")),
        )
        .when(fcs_flag == 1, le_hex((doc % 65536).cast("long"), 2))
        .when(
            fcs_flag == 2, le_hex((doc % 1000000).cast("long"), 4)
        )
        .otherwise(
            le_hex(((doc % 1000000) * 5).cast("long"), 8)
        )
    )
    hdr_hex = F.concat(
        F.lit("28b52ffd"),
        F.format_string("%02x", fhd),
        wd,
        did,
        fcs,
    )
    staged = d.select(
        "doc_id",
        F.when(
            doc % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(
            F.concat(F.unhex(F.lit("00")), F.encode("text", "utf-8"))
        )
        .alias("payload"),
    )
    return parse_zstd_meta(staged)


@query(
    "tar_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_tar,
      CASE WHEN doc_id % 7 <> 0
           THEN 'data/doc_' || doc_id || '.txt' END AS name,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST((doc_id % 1000000) * 2 + 17 AS BIGINT)
      END AS size,
      CASE WHEN doc_id % 7 <> 0
           THEN CAST(1700000000 + doc_id % 100000 AS BIGINT)
      END AS mtime,
      CASE WHEN doc_id % 7 <> 0 THEN
        CASE WHEN doc_id % 5 = 0 THEN 'dir'
             WHEN doc_id % 11 = 0 THEN 'symlink'
             ELSE 'file' END END AS typeflag
    FROM documents
    """,
)
def tar_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USTAR header parse (operators.multimodal.parse_tar_meta):
    payloads staged as real 262+ byte tar headers — NUL-padded
    name field, zero-padded OCTAL size/mtime numerals with NUL
    terminators, dir/symlink/file typeflag legs, the 'ustar'
    magic — followed by text bytes.  Every 7th doc NUL-prefixed
    garbage (the mp3 r12-ADVICE discipline); values bounded (the
    FLAC discipline).  Pure Catalyst: octal via conv(_, 8, 10),
    text fields hex-cut at their terminator before decoding."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_tar_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    size = ((doc % 1000000) * 2 + 17).cast("long")
    mtime = (F.lit(1700000000) + doc % 100000).cast("long")

    def oct11_hex(v):
        return F.concat(
            F.hex(
                F.encode(
                    F.lpad(F.conv(v.cast("string"), 10, 8), 11, "0"),
                    "utf-8",
                )
            ),
            F.lit("00"),
        )

    name_hex = F.rpad(
        F.hex(
            F.encode(
                F.format_string("data/doc_%d.txt", doc), "utf-8"
            )
        ),
        200,
        "0",
    )
    tf_hex = (
        F.when(doc % 5 == 0, F.lit("35"))       # '5' dir
        .when(doc % 11 == 0, F.lit("32"))       # '2' symlink
        .otherwise(F.lit("30"))                  # '0' file
    )
    hdr_hex = F.concat(
        name_hex,
        F.lit("00" * 24),                        # mode/uid/gid
        oct11_hex(size),
        oct11_hex(mtime),
        F.lit("20" * 8),                         # checksum blanks
        tf_hex,
        F.lit("00" * 100),                       # linkname
        F.lit("757374617200"),                   # 'ustar\\0'
        F.lit("3030"),                           # version '00'
    )
    staged = d.select(
        "doc_id",
        F.when(
            doc % 7 != 0,
            F.concat(F.unhex(hdr_hex), F.encode("text", "utf-8")),
        )
        .otherwise(
            F.concat(F.unhex(F.lit("00")), F.encode("text", "utf-8"))
        )
        .alias("payload"),
    )
    return parse_tar_meta(staged)


@query(
    "container_sniff_docs",
    oracle="""
    SELECT fmt AS format, COUNT(*) AS n_docs
    FROM (
      SELECT CASE doc_id % 10
        WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gzip'
        WHEN 3 THEN 'zstd' WHEN 4 THEN 'wav' WHEN 5 THEN 'mp3'
        WHEN 6 THEN 'warc' WHEN 8 THEN 'mp4' WHEN 9 THEN 'tar'
      END AS fmt
      FROM documents
    ) GROUP BY 1
    """,
)
def container_sniff_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Magic-byte triage report (operators.multimodal.
    sniff_container_format): a mixed corpus staged across nine
    container formats plus a NUL-prefixed garbage leg, sniffed in
    one CASE-ladder pass and rolled up to per-format counts — the
    routing step in front of the parse_*_meta tier.  The garbage
    leg groups under format NULL (the quarantine signal)."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        sniff_container_format,
    )

    d = load_table(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    hdr = (
        F.when(doc % 10 == 0, F.lit("89504e470d0a1a0a"))
        .when(doc % 10 == 1, F.lit("ffd8ffe0"))
        .when(doc % 10 == 2, F.lit("1f8b08"))
        .when(doc % 10 == 3, F.lit("28b52ffd"))
        .when(
            doc % 10 == 4,
            F.lit("52494646" + "10000000" + "57415645"),
        )
        .when(doc % 10 == 5, F.lit("494433"))
        .when(doc % 10 == 6, F.lit("574152432f312e30"))
        .when(doc % 10 == 8, F.lit("00000018" + "66747970"))
        .when(doc % 10 == 9, F.lit("00" * 257 + "7573746172"))
        .otherwise(F.lit("00"))                  # garbage leg
    )
    staged = d.select(
        "doc_id",
        F.concat(F.unhex(hdr), F.encode("text", "utf-8")).alias(
            "payload"
        ),
    )
    return (
        sniff_container_format(staged)
        .groupBy("format")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "boilerplate_ngrams_docs",
    oracle="""
    WITH staged AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN
          'terms of service apply to this content all rights '
          || 'reserved ' || text
        WHEN doc_id % 6 = 0 THEN
          'click here to subscribe to our newsletter for daily '
          || 'updates ' || text
        ELSE text END AS t
      FROM documents WHERE text IS NOT NULL
    ),
    words AS (
      SELECT doc_id,
        list_filter(regexp_split_to_array(lower(t), '[^a-z]+'),
          w -> w <> '') AS ws
      FROM staged
    ),
    sh AS (
      SELECT doc_id,
        list_distinct([array_to_string(ws[i:i+7], ' ')
          for i in range(1, len(ws) - 6)]) AS gs
      FROM words WHERE len(ws) >= 8
    ),
    ex AS (SELECT doc_id, unnest(gs) AS g FROM sh),
    counts AS (SELECT g, COUNT(*) AS nd FROM ex GROUP BY 1)
    SELECT g AS ngram, CAST(nd AS BIGINT) AS n_docs
    FROM counts WHERE nd >= 3
    ORDER BY nd DESC, g LIMIT 50
    """,
)
def boilerplate_ngrams_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-document boilerplate inventory
    (operators.text.boilerplate_ngrams): two boilerplate sentences
    planted on the %4 / %6 residue classes of the corpus (the
    cookie-banner shape — distinct documents sharing a SPAN), word
    8-gram shingles with per-doc distinct, one hash count, top-50
    under the (n_docs DESC, ngram) total order."""
    from component_delta_lake_writer_spark.operators.text import (
        boilerplate_ngrams,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    doc = F.col("doc_id")
    staged = d.select(
        "doc_id",
        F.when(
            doc % 4 == 0,
            F.concat(
                F.lit(
                    "terms of service apply to this content all "
                    "rights reserved "
                ),
                F.col("text"),
            ),
        )
        .when(
            doc % 6 == 0,
            F.concat(
                F.lit(
                    "click here to subscribe to our newsletter "
                    "for daily updates "
                ),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return boilerplate_ngrams(
        staged, "text", "doc_id", n=8, min_docs=3, top_k=50
    )


@query(
    "vocab_coverage_docs",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(
        regexp_split_to_array(lower(text), '[^a-z]+'),
        w -> w <> '')) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    pw AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1),
    fof AS (SELECT c, COUNT(*) AS f FROM pw GROUP BY 1),
    ag AS (
      SELECT
        SUM(CAST(CAST(c AS DECIMAL(38,0)) * f AS DECIMAL(38,0)))
          AS n,
        SUM(f) AS v,
        SUM(CASE WHEN c = 1 THEN f ELSE 0 END) AS f1,
        SUM(CASE WHEN c = 2 THEN f ELSE 0 END) AS f2
      FROM fof
    )
    SELECT CAST(n AS BIGINT) AS n_tokens,
      CAST(v AS BIGINT) AS vocab_size,
      CAST(f1 AS BIGINT) AS f1_singletons,
      CAST(f2 AS BIGINT) AS f2_doubletons,
      ROUND(CASE WHEN f2 > 0 THEN
        CAST(v AS DOUBLE) + CAST(f1 AS DOUBLE) * f1
          / (2.0 * CAST(f2 AS DOUBLE))
      ELSE
        CAST(v AS DOUBLE) + CAST(f1 AS DOUBLE) * (f1 - 1)
          / (2.0 * (CAST(f2 AS DOUBLE) + 1))
      END, 6) AS chao1,
      CASE WHEN n > 0 THEN
        ROUND(CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
      END AS unseen_mass
    FROM ag
    """,
)
def vocab_coverage_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vocabulary richness readout (operators.text.vocab_coverage):
    Chao1 richness lower bound and Good-Turing unseen mass from the
    frequency-of-frequencies collapse — one token explode, two
    metadata-scale aggregations, exact-integer singleton/doubleton
    counts."""
    from component_delta_lake_writer_spark.operators.text import (
        vocab_coverage,
    )

    return vocab_coverage(
        load_table(spark, sf_dir, "documents"), "text"
    )


@query(
    "strip_boilerplate_docs",
    oracle="""
    WITH staged AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN
          'terms of service apply to this content all rights '
          || 'reserved ' || text
        WHEN doc_id % 6 = 0 THEN
          'click here to subscribe to our newsletter for daily '
          || 'updates ' || text
        ELSE text END AS t
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
      trim(regexp_replace(
        replace(
          replace(t,
            'click here to subscribe to our newsletter for '
            || 'daily updates ', ''),
          'terms of service apply to this content all rights '
          || 'reserved ', ''),
        '\\s+', ' ', 'g')) AS text_clean,
      CAST(length(t) - length(trim(regexp_replace(
        replace(
          replace(t,
            'click here to subscribe to our newsletter for '
            || 'daily updates ', ''),
          'terms of service apply to this content all rights '
          || 'reserved ', ''),
        '\\s+', ' ', 'g'))) AS BIGINT) AS n_chars_removed
    FROM staged
    """,
)
def strip_boilerplate_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boilerplate span removal (operators.text.strip_boilerplate)
    on the planted fixture: the two known banners stripped from
    every document by the deterministic longest-first literal
    replace chain, whitespace re-collapsed, removed-char counts
    per doc."""
    from component_delta_lake_writer_spark.operators.text import (
        strip_boilerplate,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    doc = F.col("doc_id")
    span_a = (
        "terms of service apply to this content all rights "
        "reserved "
    )
    span_b = (
        "click here to subscribe to our newsletter for daily "
        "updates "
    )
    staged = d.select(
        "doc_id",
        F.when(doc % 4 == 0, F.concat(F.lit(span_a), F.col("text")))
        .when(doc % 6 == 0, F.concat(F.lit(span_b), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return strip_boilerplate(staged, [span_a, span_b])


def _bpe_fertility_oracle(n_merges: int = 4) -> str:
    """The _bpe_oracle cascade extended through the LAST merge's
    application, folded to the dict's exact-integer fertility
    totals.  CTEs are MATERIALIZED: each round's dict is consumed
    by both the next pair count and the next fold, and DuckDB
    inlines multiply-referenced CTEs (the PCA-oracle lesson —
    un-materialized, the cascade re-evaluates exponentially)."""
    parts = [
        """w0 AS MATERIALIZED (
    SELECT [substr(w, i, 1) for i in range(1, 1 + length(w))] AS syms,
           cnt
    FROM (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (
        SELECT substr(raw_w, 1, 16) AS w
        FROM (
          SELECT unnest(
            regexp_split_to_array(lower(text), '[^a-z]+')
          ) AS raw_w FROM documents
        ) WHERE raw_w <> ''
      ) GROUP BY w
    )
  )"""
    ]
    prev = "w0"
    for r in range(1, n_merges + 1):
        parts.append(
            f"""p{r} AS MATERIALIZED (
    SELECT p[1] AS l, p[2] AS r, SUM(cnt) AS c
    FROM (SELECT cnt,
          unnest(list_zip(syms[:len(syms)-1], syms[2:])) AS p
          FROM {prev})
    GROUP BY 1, 2
  ),
  b{r} AS MATERIALIZED (SELECT l, r, c FROM p{r}
    ORDER BY c DESC, l, r LIMIT 1),
  w{r} AS MATERIALIZED (
    SELECT list_reduce([[s] for s in {prev}.syms], (acc, x) ->
      CASE WHEN acc[-1] = b.l AND x[1] = b.r
      THEN acc[:len(acc)-1] || [b.l || b.r]
      ELSE acc || x END) AS syms, cnt
    FROM {prev}, b{r} b
  )"""
        )
        prev = f"w{r}"
    return (
        "WITH " + ",\n  ".join(parts) + f"""
  SELECT CAST({n_merges} AS INT) AS n_merges_learned,
    CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
    CAST(SUM(cnt) AS BIGINT) AS total_words,
    CAST(SUM(CAST(CAST(cnt AS DECIMAL(38,0))
      * length(array_to_string(syms, '')) AS DECIMAL(38,0)))
      AS BIGINT) AS total_chars,
    CAST(SUM(CAST(CAST(cnt AS DECIMAL(38,0)) * len(syms)
      AS DECIMAL(38,0))) AS BIGINT) AS total_tokens,
    ROUND(CAST(SUM(CAST(CAST(cnt AS DECIMAL(38,0)) * len(syms)
        AS DECIMAL(38,0))) AS DOUBLE)
      / CAST(SUM(cnt) AS DOUBLE), 6) AS fertility,
    ROUND(CAST(SUM(CAST(CAST(cnt AS DECIMAL(38,0))
        * length(array_to_string(syms, '')) AS DECIMAL(38,0)))
        AS DOUBLE)
      / CAST(SUM(CAST(CAST(cnt AS DECIMAL(38,0)) * len(syms)
        AS DECIMAL(38,0))) AS DOUBLE), 6) AS chars_per_token
  FROM {prev}"""
    )


@query("bpe_fertility_docs", oracle=_bpe_fertility_oracle(4))
def bpe_fertility_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BPE fertility curve point (operators.text.bpe_fertility):
    4 merges trained on the documents corpus, applied through the
    LAST rank, dict folded to exact-integer token/char totals —
    the tokenizer-compression readout."""
    from component_delta_lake_writer_spark.operators.text import (
        bpe_fertility,
    )

    return bpe_fertility(
        load_table(spark, sf_dir, "documents"), n_merges=4
    )


@query(
    "zip_meta_parse",
    oracle="""
    SELECT doc_id,
      (doc_id % 7 <> 0) AS is_zip,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
           THEN CAST(1 + doc_id % 100 AS INT) END AS n_entries,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
           THEN CAST(doc_id % 100000 + 22 AS BIGINT)
      END AS cd_size,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
           THEN CAST(doc_id % 1000000 AS BIGINT) END AS cd_offset,
      CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 <> 0
           THEN CAST(doc_id % 5 AS INT) END AS comment_len
    FROM documents
    """,
)
def zip_meta_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP EOCD parse (operators.multimodal.parse_zip_meta):
    payloads staged as local-header magic + text bytes + a real
    end-of-central-directory record with a variable-length comment
    (doc %5 leg: header but NO EOCD — truncated-archive NULLs;
    %7 NUL-prefixed garbage).  The tail-window greedy hex match
    pins the record behind the text; the oracle predicts the
    fields from the doc_id arithmetic."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_zip_meta,
    )

    d = load_table(spark, sf_dir, "documents")
    doc = F.col("doc_id")

    def le_hex(v, nbytes):
        return F.concat(
            *[
                F.format_string(
                    "%02x",
                    ((v / F.lit(256 ** i)).cast("long") % 256).cast(
                        "int"
                    ),
                )
                for i in range(nbytes)
            ]
        )

    clen = (doc % 5).cast("long")
    eocd_hex = F.concat(
        F.lit("504b0506" + "0000" + "0000"),
        le_hex((1 + doc % 100).cast("long"), 2),
        le_hex((1 + doc % 100).cast("long"), 2),
        le_hex((doc % 100000 + 22).cast("long"), 4),
        le_hex((doc % 1000000).cast("long"), 4),
        le_hex(clen, 2),
        F.expr("repeat('63', CAST(doc_id % 5 AS INT))"),  # 'c'*n
    )
    staged = d.select(
        "doc_id",
        F.when(
            doc % 7 != 0,
            F.when(
                doc % 5 == 0,
                F.concat(
                    F.unhex(F.lit("504b0304")),
                    F.encode("text", "utf-8"),
                ),
            ).otherwise(
                F.concat(
                    F.unhex(F.lit("504b0304")),
                    F.encode("text", "utf-8"),
                    F.unhex(eocd_hex),
                )
            ),
        )
        .otherwise(
            F.concat(F.unhex(F.lit("00")), F.encode("text", "utf-8"))
        )
        .alias("payload"),
    )
    return parse_zip_meta(staged)


def _domain_sim_oracle() -> str:
    from component_delta_lake_writer_spark.operators.dedup import (
        HASH_FAMILY,
        MERSENNE_P,
    )

    mins = ",\n        ".join(
        f"MIN(({a} * h + {b}) % {MERSENNE_P}) AS m{i}"
        for i, (a, b) in enumerate(HASH_FAMILY)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
        for i in range(len(HASH_FAMILY))
    )
    k = len(HASH_FAMILY)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT DISTINCT CAST(doc_id % 5 AS VARCHAR) AS d,
        ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
      FROM (
        SELECT doc_id, unnest(list_filter(
          regexp_split_to_array(lower(text), '[^a-z]+'),
          w -> w <> '')) AS tok
        FROM documents WHERE text IS NOT NULL
      )
    ),
    sigs AS MATERIALIZED (
      SELECT d, COUNT(*) AS nt,
        {mins}
      FROM toks GROUP BY 1
    ),
    inter AS (
      SELECT a.d AS da, b.d AS db, COUNT(*) AS ix
      FROM toks a JOIN toks b ON a.h = b.h AND a.d < b.d
      GROUP BY 1, 2
    )
    SELECT a.d AS domain_a, b.d AS domain_b,
      CAST(a.nt AS BIGINT) AS n_tokens_a,
      CAST(b.nt AS BIGINT) AS n_tokens_b,
      CAST(COALESCE(ix, 0) AS BIGINT) AS intersection,
      CASE WHEN a.nt + b.nt - COALESCE(ix, 0) > 0 THEN
        ROUND(CAST(COALESCE(ix, 0) AS DOUBLE)
          / CAST(a.nt + b.nt - COALESCE(ix, 0) AS DOUBLE), 6)
      END AS exact_jaccard,
      ROUND(CAST(({match_sum}) AS DOUBLE) / {float(k)!r}, 6)
        AS minhash_jaccard,
      CAST({k} AS INT) AS k_hashes
    FROM sigs a JOIN sigs b ON a.d < b.d
    LEFT JOIN inter ON inter.da = a.d AND inter.db = b.d
    """


@query("domain_similarity_docs", oracle=_domain_sim_oracle())
def domain_similarity_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise domain vocabulary similarity
    (operators.dedup.domain_similarity): five doc_id-residue
    domains — exact Jaccard off the distinct-token self-join next
    to the 16-permutation MinHash estimate from the SAME pinned
    relation, the sketch-vs-truth audit of the dedup tier's
    machinery at corpus-mix scale."""
    from component_delta_lake_writer_spark.operators.dedup import (
        domain_similarity,
    )

    d = load_table(spark, sf_dir, "documents").withColumn(
        "domain", (F.col("doc_id") % 5).cast("string")
    )
    return domain_similarity(d, "domain", "text")


@query(
    "pipeline_container_triage",
    oracle="""
    SELECT fmt AS format,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(*) AS BIGINT) AS n_parsed,
      CAST(1.0 AS DOUBLE) AS parse_rate
    FROM (
      SELECT CASE doc_id % 4 WHEN 0 THEN 'gzip' WHEN 1 THEN 'zstd'
        WHEN 2 THEN 'tar' END AS fmt
      FROM documents
    ) WHERE fmt IS NOT NULL GROUP BY 1
    UNION ALL
    SELECT NULL AS format,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(0 AS BIGINT) AS n_parsed,
      CAST(0.0 AS DOUBLE) AS parse_rate
    FROM documents WHERE doc_id % 4 = 3
    """,
)
def pipeline_container_triage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end container triage pipeline — the composition the
    archive tier exists for: a mixed corpus (real gzip members,
    zstd frames, tar headers, garbage) is sniffed, parsed by all
    three format parsers, and rolled up to per-format parse
    success.  The sniffer and every parser are pure Catalyst
    PROJECTIONS of the same staged relation, combined here through
    narrow doc_id equi-joins (the operators' public shapes — a
    production pipeline at 100 TB would fold the parser
    expressions into one projection and skip the joins entirely;
    the parsers being column-expression-only is what makes that
    fold possible).  The oracle predicts every row from the
    residue arithmetic: the staged payloads are all valid, so
    parse_rate is exactly 1 per format and the garbage leg lands
    in the NULL quarantine row with 0 parsed."""
    from component_delta_lake_writer_spark.operators.multimodal import (
        parse_gzip_meta,
        parse_tar_meta,
        parse_zstd_meta,
        sniff_container_format,
    )

    d = load_table(spark, sf_dir, "documents")
    doc = F.col("doc_id")

    def le_hex(v, nbytes):
        return F.concat(
            *[
                F.format_string(
                    "%02x",
                    ((v / F.lit(256 ** i)).cast("long") % 256).cast(
                        "int"
                    ),
                )
                for i in range(nbytes)
            ]
        )

    gzip_hex = F.concat(
        F.lit("1f8b08" + "08"),
        le_hex((F.lit(1700000000) + doc % 1000).cast("long"), 4),
        F.lit("0003"),
        F.hex(F.encode(F.lit("f.txt"), "utf-8")),
        F.lit("00"),
    )
    gzip_tail = F.concat(
        F.lit("00000000"), le_hex((doc % 1000 + 1).cast("long"), 4)
    )
    zstd_hex = F.concat(
        F.lit("28b52ffd" + "84"),                  # fcs=2, checksum
        F.format_string("%02x", ((doc % 8) * 8).cast("int")),
        le_hex((doc % 100000).cast("long"), 4),
    )
    tar_hex = F.concat(
        F.rpad(
            F.hex(F.encode(F.lit("member.bin"), "utf-8")), 200, "0"
        ),
        F.lit("00" * 24),
        F.hex(
            F.encode(
                F.lpad(
                    F.conv((doc % 1000).cast("string"), 10, 8),
                    11,
                    "0",
                ),
                "utf-8",
            )
        ),
        F.lit("00"),
        F.hex(F.encode(F.lit("00000000000"), "utf-8")),
        F.lit("00"),
        F.lit("20" * 8 + "30" + "00" * 100),
        F.lit("757374617200" + "3030"),
    )
    staged = d.select(
        "doc_id",
        F.when(
            doc % 4 == 0,
            F.concat(
                F.unhex(gzip_hex),
                F.encode("text", "utf-8"),
                F.unhex(gzip_tail),
            ),
        )
        .when(
            doc % 4 == 1,
            F.concat(F.unhex(zstd_hex), F.encode("text", "utf-8")),
        )
        .when(
            doc % 4 == 2,
            F.concat(F.unhex(tar_hex), F.encode("text", "utf-8")),
        )
        .otherwise(
            F.concat(F.unhex(F.lit("00")), F.encode("text", "utf-8"))
        )
        .alias("payload"),
    )
    sniffed = sniff_container_format(staged).withColumnRenamed(
        "format", "fmt"
    )
    gz = parse_gzip_meta(staged).select("doc_id", "isize")
    zs = parse_zstd_meta(staged).select("doc_id", "content_size")
    tr = parse_tar_meta(staged).select("doc_id", "size")
    one = (
        staged.select("doc_id")
        .join(sniffed, "doc_id")
        .join(gz, "doc_id")
        .join(zs, "doc_id")
        .join(tr, "doc_id")
    )
    parsed = (
        F.when(F.col("fmt") == "gzip", F.col("isize").isNotNull())
        .when(
            F.col("fmt") == "zstd",
            F.col("content_size").isNotNull(),
        )
        .when(F.col("fmt") == "tar", F.col("size").isNotNull())
        .otherwise(F.lit(False))
    )
    return (
        one.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(parsed.cast("int")).alias("n_parsed"),
        )
        .select(
            F.col("fmt").alias("format"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_parsed").cast("long").alias("n_parsed"),
            F.round(
                F.col("n_parsed").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("parse_rate"),
        )
    )
