"""Sparse lexical retrieval: Okapi BM25 ranking over the corpus.

The reference writer has no retrieval surface (it is a load/DDL
component, ``/root/reference/src/component.py:84-260``); this module is
part of the training-data-pipeline extension family (SURVEY §7 M4):
scoring a small set of term queries against the full document corpus is
the retrieval step of RAG data curation and of query-based corpus
audits.

Scale posture (100 TB): the token explode is map-side only; the token
stream is immediately semi-joined against the *broadcast* query
vocabulary, so every shuffle downstream of the explode carries only
rows whose term appears in some query — O(|docs| x |query vocab|)
worst case, in practice a tiny fraction of the corpus. Corpus-level
scalars (N, avgdl) are one integer-exact aggregate. No per-row Python;
everything is Catalyst expressions.

Float determinism across engines: each per-(doc, term) BM25
contribution is a fixed-length arithmetic expression (deterministic),
rounded to 6 decimals and summed exactly (``functions.exact``) so
the cross-term sum is order-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.functions.exact import quantize
from component_delta_lake_writer_spark.operators.text import normalize_text


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Rank documents against term queries with Okapi BM25.

    ``queries`` is a small (query_id, term) relation — one row per
    query term, broadcast to every executor. Returns the top ``k``
    documents per query as (query_id, doc_id, score, rk), score
    descending with doc_id as the deterministic tie-break.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))        (Okapi/Lucene)
    w(t, D) = idf * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score(Q, D) = sum of round(w, 6) over terms of Q      (decimal-exact)
    """
    tok = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.explode(F.split(normalize_text(F.col(text)), " ")).alias("term"),
    )
    vocab = queries.select("term").distinct()
    # ONE doc-keyed aggregation computes BOTH the document length and
    # the matched-term occurrence lists (r14, guide §2.4): the old
    # shape aggregated dl and tf as SEPARATE groupBys over a persisted
    # token stream and re-joined them on doc_id — a join of two
    # corpus-scale relations that planned as the suite's one remaining
    # static SortMergeJoin (tf re-shuffled by doc_id just to re-attach
    # a count the same scan had already seen). Now: flag each token
    # against the broadcast query vocabulary (left join preserves the
    # row count — vocab is distinct), then a single groupBy(doc_id)
    # carries dl plus the (sparse) matched occurrences; per-(doc,term)
    # tf is counted IN-ARRAY. Exchanges over corpus-scale data: 3 → 1,
    # SortMergeJoin: 1 → 0, and the persisted relation shrinks from
    # the token stream to one bounded row per doc (guide §5.3).
    flagged = tok.join(
        F.broadcast(vocab.withColumn("_hit", F.lit(True))), "term", "left"
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        F.collect_list(F.when(F.col("_hit"), F.col("term"))).alias("_mts"),
    )
    # Persist: scalars, tf/df and the contribution scan below all read
    # this one-row-per-doc cache (the old code persisted the full
    # token stream for the same sharing).
    per_doc = per_doc.persist()
    # Corpus scalars (N, total length) as a broadcast 1-row relation
    # instead of a driver `.first()` (optimization r13): the collect
    # spent a whole extra Spark job + driver round-trip inside every
    # timed/composed call; a broadcast-nested-loop attach keeps the
    # entire query ONE job. Values are bit-identical: the divisions
    # below are the same binary64 ops the driver-side floats did.
    # Empty corpus: the agg row carries n=0/sum=NULL, but every
    # downstream relation is already empty, so the old early-return's
    # shape (same columns, zero rows) falls out naturally and the
    # divisions never evaluate on a row.
    scalars = per_doc.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum("dl").alias("_total_len"),
    )
    n_docs_d = F.col("_n_docs").cast("double")
    avgdl = F.col("_total_len").cast("double") / n_docs_d
    # (doc_id, dl, term, tf) for matched terms only — tf counted
    # in-array (bounded by the doc's matched occurrences; docs with no
    # match explode to zero rows, exactly the old semi-join behavior).
    mts = F.col("_mts")
    tf_structs = F.transform(
        F.array_distinct(mts),
        lambda t: F.struct(
            t.alias("term"),
            F.size(F.filter(mts, lambda x: x == t)).alias("tf"),
        ),
    )
    tf = per_doc.select(
        "doc_id", "dl", F.explode(tf_structs).alias("_s")
    ).select(
        "doc_id", "dl", F.col("_s.term").alias("term"),
        F.col("_s.tf").alias("tf"),
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (n_docs_d - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") * F.lit(k1 + 1.0) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            "term",
            quantize(idf * norm, 6).alias("w"),
        )
    )
    scored = (
        contrib.join(F.broadcast(queries), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("w").cast("double").alias("score"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    queries: DataFrame,
    emb: DataFrame,
    probe_map: DataFrame,
    k: int = 10,
    pool: int = 20,
    k_rrf: int = 60,
    doc_id: str = "doc_id",
    text: str = "text",
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion
    (RRF, Cormack et al. 2009 — the fusion Elasticsearch/OpenSearch
    ship for hybrid search): per query, take the BM25 top ``pool`` and
    the cosine top ``pool``, then score every candidate
    ``sum(1 / (k_rrf + rank))`` over the lists it appears in and keep
    the top ``k``.

    ``probe_map`` is a tiny (query_id, probe_vec_id) relation binding
    each lexical query to its query embedding (both sides broadcast).

    Scale posture: the lexical side inherits bm25_topk's broadcast-
    vocabulary semi-join; the vector side crosses the corpus against
    the broadcast probes once and ranks with one shuffle
    (Window per query_id); fusion joins two ``O(queries x pool)``
    rank lists — metadata-sized, exchanged broadcast by AQE.

    Determinism: ranks are integers (score ties broken by doc_id on
    both engines — BM25 scores are decimal-exact, cosines are rounded
    to 6dp before ranking), and the RRF sum is two doubles added in a
    fixed order, rounded to 6dp.
    """
    from component_delta_lake_writer_spark.operators.similarity import (
        _as_double,
        cosine,
    )

    lex = bm25_topk(
        docs, queries, k=pool, doc_id=doc_id, text=text
    ).select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rk").alias("rk_lex"),
    )
    probes = (
        emb.join(
            F.broadcast(probe_map),
            F.col(vec_id) == F.col("probe_vec_id"),
        )
        .select("query_id", _as_double(F.col(vec_col)).alias("pv"))
    )
    cos = emb.crossJoin(F.broadcast(probes)).select(
        "query_id",
        F.col(vec_id).cast("long").alias("doc_id"),
        F.round(cosine(_as_double(F.col(vec_col)), F.col("pv")), 6).alias(
            "cosine"
        ),
    )
    w_vec = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id")
    )
    vec = (
        cos.withColumn("rk_vec", F.row_number().over(w_vec))
        .filter(F.col("rk_vec") <= pool)
        .select("query_id", "doc_id", "rk_vec")
    )
    # Fusion as UNION ALL + one hash aggregate (optimization r13): the
    # previous full_outer join of the two rank lists could only plan
    # as a SortMergeJoin (full-outer cannot broadcast) — two exchanges
    # + two sorts over metadata-scale lists. The union spelling pays
    # ONE exchange of |lex|+|vec| rows. Values are bit-identical: per
    # (query, doc) there are at most two contributions, double
    # addition of two values is commutative, and a single
    # contribution equals the old `x + 0.0` coalesce.
    lex_c = lex.select(
        "query_id",
        "doc_id",
        (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rk_lex"))).alias(
            "contrib"
        ),
    )
    vec_c = vec.select(
        "query_id",
        "doc_id",
        (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rk_vec"))).alias(
            "contrib"
        ),
    )
    fused = (
        lex_c.unionByName(vec_c)
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("rrf"))
    )
    w_out = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rk", F.row_number().over(w_out))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "rrf", "rk")
    )


def rank_eval(
    results: DataFrame,
    qrels: DataFrame,
    query_col: str,
    doc_col: str,
    rank_col: str,
    k: int = 10,
) -> DataFrame:
    """Retrieval-quality evaluation: MRR and recall@``k`` of a ranked
    result list against a relevance-judgment relation — the metric
    pass that gates every retrieval change (BM25 tweaks, new
    embeddings, hybrid fusion weights) before it touches production.

    Shape: one equi-join of the rank-bounded results against the
    distinct judgments (both shuffled on the query key once), then
    per-query reductions to |queries| rows and a final metadata-scale
    aggregation.  Per-query reciprocal rank and recall are rounded to
    9dp and averaged as DECIMAL sums, so the corpus-level means are
    order-free and engine-portable.  Queries with no judged-relevant
    documents are excluded (MRR/recall are undefined there — the
    trec_eval convention); queries whose relevant docs all miss the
    top-``k`` contribute 0, not NULL.

    Returns ONE row: (n_queries, mrr, recall_at_k) rounded 6dp.
    """
    rel = (
        qrels.filter(
            F.col(query_col).isNotNull() & F.col(doc_col).isNotNull()
        )
        .select(
            F.col(query_col).alias("_q"), F.col(doc_col).alias("_d")
        )
        .distinct()
    )
    hits = (
        results.filter(F.col(rank_col) <= k)
        .select(
            F.col(query_col).alias("_q"),
            F.col(doc_col).alias("_d"),
            F.col(rank_col).alias("_r"),
        )
        .join(rel, ["_q", "_d"])
        .groupBy("_q")
        .agg(
            F.min("_r").alias("_first"),
            F.count(F.lit(1)).alias("_nhit"),
        )
    )
    per_q = (
        rel.groupBy("_q")
        .agg(F.count(F.lit(1)).alias("_nrel"))
        .join(hits, "_q", "left")
        .select(
            quantize(
                F.coalesce(F.lit(1.0) / F.col("_first"), F.lit(0.0)), 9
            ).alias("_rr"),
            quantize(
                F.coalesce(F.col("_nhit"), F.lit(0)).cast("double")
                / F.col("_nrel"),
                9,
            ).alias("_rec"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.sum("_rr").cast("double") / F.count(F.lit(1)), 6
        ).alias("mrr"),
        F.round(
            F.sum("_rec").cast("double") / F.count(F.lit(1)), 6
        ).alias("recall_at_k"),
    )


def ndcg_at_k(
    results: DataFrame,
    qrels: DataFrame,
    query_col: str,
    doc_col: str,
    rank_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """nDCG@``k`` with GRADED relevance — the ranking metric that
    rank_eval's binary MRR/recall can't express (a 3-relevant doc at
    rank 1 must beat a 1-relevant doc there; recall counts them the
    same).  Standard exponential gain: DCG = Σ_{i≤k} (2^rel −1) /
    log₂(rank+1) over judged docs, normalized by the query's ideal
    DCG (its own judgments sorted by grade, best k).

    Shape mirrors rank_eval: one equi-join of the rank-bounded
    results against the judgments (one shuffle each on the query
    key); the ideal ranking is a per-QUERY window over the judgments
    relation (partitioned by query — never a single global sort).
    Per-position terms are rounded 9dp and summed as DECIMAL, the
    per-query ratio is rounded 9dp before the decimal mean, so the
    corpus metric is order-free and engine-portable.  Queries with
    no positive-grade judgment are excluded (nDCG undefined);
    grades must be small non-negative ints (gain 2^rel is exact to
    rel ≤ 30, and the 9dp terms hold it).

    Returns ONE row: (n_queries, ndcg_at_k) rounded 6dp.
    """
    from pyspark.sql import Window

    rel = (
        qrels.filter(
            F.col(query_col).isNotNull()
            & F.col(doc_col).isNotNull()
            & (F.col(rel_col) > 0)
        )
        .groupBy(
            F.col(query_col).alias("_q"),
            F.col(doc_col).alias("_d"),
        )
        .agg(F.max(F.col(rel_col)).cast("int").alias("_rel"))
    )
    gain = F.pow(F.lit(2.0), F.col("_rel")) - F.lit(1.0)
    dcg = (
        results.filter(F.col(rank_col) <= k)
        .select(
            F.col(query_col).alias("_q"),
            F.col(doc_col).alias("_d"),
            F.col(rank_col).alias("_r"),
        )
        .join(rel, ["_q", "_d"])
        .select(
            "_q",
            quantize(gain / F.log2(F.col("_r") + F.lit(1.0)), 9).alias(
                "_term"
            ),
        )
        .groupBy("_q")
        .agg(F.sum("_term").alias("_dcg"))
    )
    w_ideal = Window.partitionBy("_q").orderBy(
        F.col("_rel").desc(), F.col("_d")
    )
    idcg = (
        rel.withColumn("_i", F.row_number().over(w_ideal))
        .filter(F.col("_i") <= k)
        .select(
            "_q",
            quantize(gain / F.log2(F.col("_i") + F.lit(1.0)), 9).alias(
                "_term"
            ),
        )
        .groupBy("_q")
        .agg(F.sum("_term").alias("_idcg"))
    )
    per_q = idcg.join(dcg, "_q", "left").select(
        quantize(
            F.coalesce(F.col("_dcg"), F.lit(0)).cast("double")
            / F.col("_idcg").cast("double"),
            9,
        ).alias("_ndcg")
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.sum("_ndcg").cast("double") / F.count(F.lit(1)), 6
        ).alias("ndcg_at_k"),
    )


def map_at_k(
    results: DataFrame,
    qrels: DataFrame,
    query_col: str,
    doc_col: str,
    rank_col: str,
    k: int = 10,
) -> DataFrame:
    """Mean Average Precision@``k`` — the order-sensitive binary
    companion to rank_eval's MRR/recall (MRR sees only the FIRST
    hit; MAP rewards packing every relevant doc early):
    AP = (1/min(R, k)) Σ_{hits i≤k} precision@rank_i.

    Same join shape as rank_eval; precision@rank of each hit needs
    the count of relevant docs at-or-above it, which is a window
    over the per-query HIT rows only (partitioned by query, ≤k rows
    each — never corpus-wide).  Per-hit precisions are rounded 9dp
    and summed as DECIMAL; per-query AP likewise before the corpus
    mean.  Queries with no judged-relevant docs are excluded; ones
    whose relevant docs all miss the top-k contribute 0.

    Returns ONE row: (n_queries, map_at_k) rounded 6dp.
    """
    from pyspark.sql import Window

    rel = (
        qrels.filter(
            F.col(query_col).isNotNull() & F.col(doc_col).isNotNull()
        )
        .select(
            F.col(query_col).alias("_q"), F.col(doc_col).alias("_d")
        )
        .distinct()
    )
    w_hits = (
        Window.partitionBy("_q")
        .orderBy("_r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hit_ap = (
        results.filter(F.col(rank_col) <= k)
        .select(
            F.col(query_col).alias("_q"),
            F.col(doc_col).alias("_d"),
            F.col(rank_col).alias("_r"),
        )
        .join(rel, ["_q", "_d"])
        .select(
            "_q",
            "_r",
            F.count(F.lit(1)).over(w_hits).alias("_nrel_above"),
        )
        .select(
            "_q",
            quantize(
                F.col("_nrel_above").cast("double") / F.col("_r"), 9
            ).alias("_p"),
        )
        .groupBy("_q")
        .agg(F.sum("_p").alias("_sp"))
    )
    per_q = (
        rel.groupBy("_q")
        .agg(F.count(F.lit(1)).alias("_nrel"))
        .join(hit_ap, "_q", "left")
        .select(
            quantize(
                F.coalesce(F.col("_sp"), F.lit(0)).cast("double")
                / F.least(F.col("_nrel"), F.lit(k)),
                9,
            ).alias("_ap")
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.sum("_ap").cast("double") / F.count(F.lit(1)), 6
        ).alias("map_at_k"),
    )
