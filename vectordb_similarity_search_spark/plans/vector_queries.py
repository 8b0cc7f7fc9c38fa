"""Vector-surface queries (SURVEY.md §2.4): the reference's core capability.

Covers V4 (cosine 1×N), V5/V6 (two-phase top-k), J2 (similarity join),
V1 (z-score fit), V7 (embedding variance), A1-A5 (stats over hits,
reference :366-407), S5 (store-time stats, :288-292).

Every oracle twin computes in DOUBLE after an explicit cast (matching the
Spark kernels in ``functions/vector.py``) and rounds scores to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cache
from ..operators.topk import knn, similarity_join
from .catalog import expected_oracle as _expected_oracle
from .catalog import query, t


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fetch the query vector (a query *parameter*, like the reference's
    query patient dict, similarity_search.py:613-634 — one driver-side row,
    not a data-path collect), memoized per (session, sf_dir, vec_id)."""

    def fetch() -> list[float]:
        row = (
            t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .head()
        )
        return list(row[0])

    return list(
        cache.get(spark, "model", sf_dir, "query_vec", vec_id, reads=(sf_dir,), build=fetch)
    )


@query(
    "v_knn_cosine",
    oracle="""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id, e.label,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qv FROM q)) AS s
  FROM embeddings e
  WHERE e.vec_id <> 0
)
SELECT vec_id, label, (round(s, 6) + 0) AS score
FROM scored ORDER BY s DESC, vec_id LIMIT 10
""",
)
def v_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbours of vec 0 — reference E2 search path
    (similarity_search.py:300-305) as scan → score projection →
    TakeOrderedAndProject."""
    qv = _query_vec(spark, sf_dir, 0)
    corpus = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return knn(corpus, qv, k=10).select(
        "vec_id", "label", F.round("score", 6).alias("score")
    )


@query(
    "v_knn_l2",
    oracle="""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id, e.label,
         list_distance(CAST(e.embedding AS DOUBLE[]), (SELECT qv FROM q)) AS d
  FROM embeddings e
  WHERE e.vec_id <> 0
)
SELECT vec_id, label, (round(d, 6) + 0) AS dist
FROM scored ORDER BY d ASC, vec_id LIMIT 10
""",
)
def v_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 euclidean neighbours of vec 0 (metric variant of V4/V5)."""
    qv = _query_vec(spark, sf_dir, 0)
    corpus = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return knn(corpus, qv, k=10, metric="l2", score_col="dist").select(
        "vec_id", "label", F.round("dist", 6).alias("dist")
    )


@query(
    "v_sim_join_topk",
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, s,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, (round(s, 6) + 0) AS score, rank
FROM ranked WHERE rank <= 3
""",
)
def v_sim_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N×M similarity join (J2): top-3 neighbours for each of 5 query
    vectors, self-pairs excluded. Broadcast queries + rank window."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = similarity_join(
        queries,
        emb.select("vec_id", "embedding"),
        k=3,
        pair_filter=F.col("vec_id") != F.col("query_id"),
    )
    return res.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


@query(
    "v_triplet_mining",
    oracle="""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q.qid, e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s
  FROM embeddings e, q WHERE e.vec_id <> q.qid
), ranked AS (
  SELECT qid, vec_id, s,
         row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rk,
         max(s) OVER (PARTITION BY qid) AS ps
  FROM scored
), staged AS (
  SELECT qid, vec_id, (round(s, 6) + 0) AS s6, rk,
         (round(s, 6) + 0) <= (round(ps, 6) + 0) - 0.05 AS is_neg,
         sum(CASE WHEN (round(s, 6) + 0) <= (round(ps, 6) + 0) - 0.05
                  THEN 1 ELSE 0 END) OVER (
           PARTITION BY qid ORDER BY rk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nr
  FROM ranked WHERE rk <= 20
)
SELECT qid AS anchor_id,
       CASE WHEN rk = 1 THEN 'positive' ELSE 'negative' END AS role,
       vec_id AS cand_id, s6 AS score
FROM staged
WHERE rk = 1 OR (is_neg AND nr <= 2)
""",
)
def v_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining (operators/topk.mine_triplets):
    for each of 10 anchors, the nearest neighbour as the POSITIVE plus up
    to 2 semi-hard NEGATIVES — the best-scoring candidates at least 0.05
    cosine below the positive (FaceNet-style: close enough to teach the
    margin, far enough to be real negatives). One broadcast-anchors
    corpus scan; role assignment is windows over the rank's own anchor
    exchange (no second scan — plan-audit learning #1). Full SQL twin:
    margin predicates evaluate on round-6 scores in BOTH engines so the
    boundary is engine-robust. At 100 TB the candidate source swaps to
    the batch ANN probe (ivf_search_index_batch); the mining frame is
    unchanged."""
    from ..operators.topk import mine_triplets

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return mine_triplets(
        queries,
        emb.select("vec_id", "embedding"),
        n_neg=2,
        margin=0.05,
        depth=20,
    )


@query(
    "v_grouped_knn",
    oracle="""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id, e.label,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qv FROM q)) AS s
  FROM embeddings e WHERE e.vec_id <> 0
), ranked AS (
  SELECT label, vec_id, s,
         CAST(row_number() OVER (
           PARTITION BY label ORDER BY s DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT label, rank, vec_id, (round(s, 6) + 0) AS score
FROM ranked WHERE rank <= 3
""",
)
def v_grouped_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by search (operators/topk.grouped_knn): top-3 neighbours of
    query vec 0 within EVERY label — the "group results by payload
    field" feature of vector stores, one scan for all groups instead of
    one filtered search per group. The scored scan is the same
    shuffle-free projection as v_knn_cosine; the per-label rank compiles
    to WindowGroupLimit (partial group-top-k before the exchange), so
    the shuffle carries at most labels x k x partitions rows. Full SQL
    twin (rank window partitioned by label)."""
    from ..operators.topk import grouped_knn

    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    return grouped_knn(
        emb.filter(F.col("vec_id") != 0), qv, "label", k=3
    ).select("label", "rank", "vec_id", F.round("score", 6).alias("score"))


@query(
    "v_query_cohort_stats",
    oracle="""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), hits AS (
  SELECT e.vec_id, e.label,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qv FROM q)) AS s
  FROM embeddings e
  WHERE e.vec_id <> 0
  ORDER BY s DESC, e.vec_id LIMIT 10
)
SELECT label,
       count(*) AS n_hits,
       (round(avg(s), 6) + 0) AS avg_score,
       (round(min(s), 6) + 0) AS min_score,
       (round(max(s), 6) + 0) AS max_score
FROM hits GROUP BY label
""",
)
def v_query_cohort_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outcome stats over the top-k hit cohort — the reference's
    transplant-statistics bundle over merged results
    (similarity_search.py:366-407, A1-A5) with label as the outcome."""
    qv = _query_vec(spark, sf_dir, 0)
    corpus = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    hits = knn(corpus, qv, k=10)
    return hits.groupBy("label").agg(
        F.count("*").alias("n_hits"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.min("score"), 6).alias("min_score"),
        F.round(F.max("score"), 6).alias("max_score"),
    )


@query(
    "v_centroids",
    oracle="""
SELECT label, pos, (round(avg(c), 6) + 0) AS centroid
FROM (
  SELECT label,
         CAST(unnest(embedding) AS DOUBLE) AS c,
         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos
  FROM embeddings
)
GROUP BY label, pos
""",
)
def v_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components — the partial-aggregate-friendly way to
    compute class prototypes (map-side combine on (label,pos); shuffle is
    |labels|·dim rows, independent of corpus size)."""
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .select("label", (F.col("pos") + 1).cast("int").alias("pos"), "col")
        .groupBy("label", "pos")
        .agg(F.round(F.avg("col"), 6).alias("centroid"))
    )


@query(
    "v_embedding_variance",
    oracle="""
SELECT count(*) AS n_components,
       (round(avg(c), 6) + 0) AS mean_component,
       (round(var_samp(c), 6) + 0) AS var_component
FROM (SELECT CAST(unnest(embedding) AS DOUBLE) AS c FROM embeddings)
""",
)
def v_embedding_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality scalar — reference V7 (`torch.var` over the whole
    matrix, similarity_search.py:255-260; torch.var is sample variance)."""
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select(F.explode(F.col("embedding").cast("array<double>")).alias("c"))
        .agg(
            F.count("*").alias("n_components"),
            F.round(F.avg("c"), 6).alias("mean_component"),
            F.round(F.var_samp("c"), 6).alias("var_component"),
        )
    )


@query(
    "v_zscore_fit",
    oracle="""
SELECT pos, (round(avg(c), 6) + 0) AS mu, (round(stddev_pop(c), 6) + 0) AS sigma
FROM (
  SELECT CAST(unnest(embedding) AS DOUBLE) AS c,
         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos
  FROM embeddings
)
GROUP BY pos
""",
)
def v_zscore_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit of the z-score normalizer (V1: population std, eps added at apply
    time — similarity_search.py:198). Computing the stats as a tiny aggregate
    and broadcasting them back is the train/serve-skew-free design the
    reference lacks (its query path re-normalizes per row, :576)."""
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")))
        .select((F.col("pos") + 1).cast("int").alias("pos"), "col")
        .groupBy("pos")
        .agg(
            F.round(F.avg("col"), 6).alias("mu"),
            F.round(F.stddev_pop("col"), 6).alias("sigma"),
        )
    )


@query(
    "v_store_stats",
    oracle="""
SELECT label,
       count(*) AS n_vectors,
       (round(avg(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[])))), 6) + 0) AS avg_norm
FROM embeddings GROUP BY label
""",
)
def v_store_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-time statistics (reference S5, similarity_search.py:288-292):
    per-partition-key counts + mean vector norm."""
    from ..functions.vector import l2_norm

    emb = t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg(l2_norm("embedding")), 6).alias("avg_norm"),
    )


@query(
    "v_dot_topk",
    oracle="""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id, e.label,
         list_inner_product(CAST(e.embedding AS DOUBLE[]), (SELECT qv FROM q)) AS s
  FROM embeddings e WHERE e.vec_id <> 0
)
SELECT vec_id, label, (round(s, 6) + 0) AS dot_score
FROM scored ORDER BY s DESC, vec_id LIMIT 10
""",
)
def v_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by raw inner product (maximum-inner-product search — the
    third metric next to cosine/L2; same two-phase top-k plan)."""
    from ..functions.vector import array_lit, dot

    qv = _query_vec(spark, sf_dir, 0)
    corpus = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    scored = corpus.withColumn("s", dot(F.col("embedding"), array_lit(qv)))
    return (
        scored.orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("s", 6).alias("dot_score"))
    )


@query(
    "v_hybrid_rrf",
    oracle="""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), cos_ranked AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (
           ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                           (SELECT qv FROM q)) DESC,
                    vec_id ASC) AS INTEGER) AS rank_cos
  FROM embeddings WHERE vec_id <> 0
  ORDER BY rank_cos LIMIT 50
), toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t,
         CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS dl
  FROM documents
), tf AS (
  SELECT doc_id, dl,
         CAST(len(list_filter(t, x -> x = 'table')) AS DOUBLE) AS tf0,
         CAST(len(list_filter(t, x -> x = 'scan')) AS DOUBLE) AS tf1,
         CAST(len(list_filter(t, x -> x = 'window')) AS DOUBLE) AS tf2
  FROM toks
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) / count(*) AS avgdl,
         CAST(count(CASE WHEN tf0 > 0 THEN 1 END) AS DOUBLE) AS df0,
         CAST(count(CASE WHEN tf1 > 0 THEN 1 END) AS DOUBLE) AS df1,
         CAST(count(CASE WHEN tf2 > 0 THEN 1 END) AS DOUBLE) AS df2
  FROM tf
), bm AS (
  SELECT doc_id,
         ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
         AS s
  FROM tf, stats
), bm_ranked AS (
  SELECT doc_id,
         -- rank by the ROUNDED score: the Spark side ranks bm25_topk's
         -- round(.,6) output, so a sub-5e-7 score gap must tie (doc_id
         -- breaks it) on BOTH sides or ranks diverge
         CAST(row_number() OVER (ORDER BY round(s, 6) DESC, doc_id ASC) AS INTEGER) AS rank_bm
  FROM bm ORDER BY rank_bm LIMIT 50
), fused AS (
  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
         coalesce(1.0 / (60 + b.rank_bm), 0.0)
           + coalesce(1.0 / (60 + c.rank_cos), 0.0) AS rrf
  FROM bm_ranked b FULL OUTER JOIN cos_ranked c ON b.doc_id = c.doc_id
)
SELECT doc_id, (round(rrf, 6) + 0) AS rrf
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
""",
)
def v_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword ranking over documents fused with the
    cosine ranking around query vec 0 (ids shared in the synthetic fixture)
    by reciprocal-rank fusion — the standard lexical+vector combiner
    (operators/bm25.rrf_fuse). Both rankings are top-50 candidate sets;
    RRF runs over their union (missing side contributes 0)."""
    from pyspark.sql import Window

    from ..operators.bm25 import bm25_topk, rrf_fuse
    from ..operators.topk import knn

    qv = _query_vec(spark, sf_dir, 0)
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    cos50 = knn(emb, qv, 50)
    cos_ranked = cos50.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("vec_id").asc()))
        .cast("int")
        .alias("rank_cos"),
    )
    bm = bm25_topk(t(spark, sf_dir, "documents"), ["table", "scan", "window"], k=50)
    # rank over the RAW candidate order bm25_topk already fixed (it returns
    # rounded scores; recompute rank on the returned order deterministically)
    bm_ranked = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .cast("int")
        .alias("rank_bm"),
    )
    return rrf_fuse(
        bm_ranked, cos_ranked,
        id_col="doc_id", rank_col_a="rank_bm", rank_col_b="rank_cos", k=10,
    ).select("doc_id", "rrf")


@query(
    "v_filtered_knn",
    oracle="""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id, e.label,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qv FROM q)) AS s
  FROM embeddings e
  WHERE e.vec_id <> 0
    AND e.vec_id IN (SELECT doc_id FROM documents
                     WHERE lang = 'en' AND n_chars >= 300)
)
SELECT vec_id, label, (round(s, 6) + 0) AS score
FROM scored ORDER BY s DESC, vec_id LIMIT 10
""",
)
def v_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-10 cosine neighbours of vec 0 among
    vectors whose document is English and >= 300 chars — the vector-DB
    metadata-filter search the reference's cohort queries approximate
    (similarity_search.py:366-407 filter AFTER search; this is the exact
    PRE-filter form). The allow-list is a broadcast LEFT SEMI join (metadata
    dims are small next to a 100 TB corpus), scoring stays exhaustive over
    the filtered set, so exactness holds at any filter selectivity."""
    from ..operators.topk import filtered_knn

    qv = _query_vec(spark, sf_dir, 0)
    allowed = (
        t(spark, sf_dir, "documents")
        .filter((F.col("lang") == "en") & (F.col("n_chars") >= 300))
        .select("doc_id")
    )
    corpus = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return filtered_knn(
        corpus, qv, 10, allowed=allowed, allowed_on="doc_id"
    ).select("vec_id", "label", F.round("score", 6).alias("score"))


@query(
    "v_range_search",
    oracle="""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id, e.label,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qv FROM q)) AS s
  FROM embeddings e
  WHERE e.vec_id <> 0
)
SELECT vec_id, label, (round(s, 6) + 0) AS score
FROM scored WHERE s >= 0.2 ORDER BY s DESC, vec_id
""",
)
def v_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: every vector with cosine >= 0.2 to vec 0 (the
    count-unbounded companion of v_knn_cosine — a vector store's "within
    distance r" query). Narrow scan + filter; the only shuffle is the final
    range-partitioned sort of the (small) result."""
    from ..operators.topk import range_search

    corpus = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    hits = range_search(corpus, _query_vec(spark, sf_dir, 0), 0.2)
    return hits.orderBy(F.col("score").desc(), F.col("vec_id").asc()).select(
        "vec_id", "label", F.round("score", 6).alias("score")
    )


@query(
    "v_search_docs",
    oracle="""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qv FROM q)) AS s
  FROM embeddings e
  WHERE e.vec_id <> 0
), top AS (
  SELECT vec_id, s FROM scored ORDER BY s DESC, vec_id LIMIT 10
)
SELECT t.vec_id AS doc_id, d.lang, d.source, d.n_chars,
       substr(d.text, 1, 60) AS snippet, (round(t.s, 6) + 0) AS score
FROM top t JOIN documents d ON d.doc_id = t.vec_id
ORDER BY t.s DESC, t.vec_id
""",
)
def v_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hydrated search: top-10 neighbours of vec 0 joined back to their
    document payload (lang, source, size, snippet) — the serving shape a
    vector DB returns (ids alone are useless to the caller). Late
    materialization: the wide payload join happens AFTER top-k, so only k
    rows carry text; the k-row hit set is the broadcast side and the
    documents scan streams once without a shuffle (at 100 TB the same plan
    holds — broadcasting the corpus-sized side would be the bug)."""
    qv = _query_vec(spark, sf_dir, 0)
    corpus = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    hits = knn(corpus, qv, 10).select("vec_id", "score")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars",
        F.substring("text", 1, 60).alias("snippet"),
    )
    return (
        docs.join(F.broadcast(hits), docs.doc_id == hits.vec_id)
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .select(
            "doc_id", "lang", "source", "n_chars", "snippet",
            F.round("score", 6).alias("score"),
        )
    )


@query("v_mmr_rerank", oracle=_expected_oracle("v_mmr_rerank", sf_bound=True))
def v_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity rerank: top-25 cosine candidates of vec 0, greedily
    re-ranked by Maximal Marginal Relevance (λ=0.7) down to 10 — the
    result-diversification stage real retrieval stacks bolt onto ANN
    (Carbonell & Goldstein 1998; no counterpart in the reference, which
    returns raw similarity order, similarity_search.py:305). Distributed
    first phase (TakeOrdered top-25) + one 25-row applyInPandas group; the
    greedy loop never sees the corpus. Fixture oracle: MMR's sequential
    selection is not SQL-expressible, but is deterministic (sorted greedy
    input, fixed tie-breaks)."""
    from ..operators.topk import mmr_rerank

    qv = _query_vec(spark, sf_dir, 0)
    corpus = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    cands = knn(corpus, qv, 25)
    return mmr_rerank(cands, 10, lambda_=0.7).select(
        "vec_id",
        F.round("relevance", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
        "mmr_rank",
    )


@query(
    "v_embedding_drift",
    oracle="""
WITH f AS (
  SELECT CASE WHEN label < 5 THEN 0 ELSE 1 END AS pop,
         CAST(embedding[1] AS DOUBLE) AS x
  FROM embeddings),
binned AS (
  SELECT pop,
         CAST(least(greatest(floor((x - (-1.0)) / 0.25), 0), 7) AS INTEGER) AS bin,
         count(*) AS n
  FROM f GROUP BY pop, bin),
bins AS (SELECT CAST(range AS INTEGER) AS bin FROM range(0, 8)),
c AS (
  SELECT bins.bin,
         coalesce((SELECT n FROM binned WHERE pop = 0 AND binned.bin = bins.bin), 0) AS n_ref,
         coalesce((SELECT n FROM binned WHERE pop = 1 AND binned.bin = bins.bin), 0) AS n_cur
  FROM bins),
tot AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM c)
SELECT c.bin, CAST(c.n_ref AS BIGINT) AS n_ref, CAST(c.n_cur AS BIGINT) AS n_cur,
       (round((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 8 AS DOUBLE)
               - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE))
              * (ln(CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 8 AS DOUBLE))
                 - ln(CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE))), 6) + 0)
         AS psi_term
FROM c, tot ORDER BY c.bin
""",
)
def v_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: Population Stability Index of the first
    embedding component between the label<5 (reference) and label>=5
    (current) populations — the distribution-shift check a production
    embedding pipeline runs before trusting a new corpus snapshot or
    re-trained encoder (no counterpart in the reference). Fixed 8-bin
    histogram over [-1, 1], +1 smoothing, every bin reported (an empty
    bin is signal). Two partial-agg counts + an 8-row join; integer
    sufficient statistics → bit-stable, fully SQL-twinned."""
    from ..operators.profile import population_stability

    emb = t(spark, sf_dir, "embeddings")
    return population_stability(
        emb.filter(F.col("label") < 5),
        emb.filter(F.col("label") >= 5),
        F.element_at("embedding", 1).cast("double"),
        n_bins=8, lo=-1.0, hi=1.0,
    )


@query(
    "v_late_interaction",
    oracle="""
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 3
), chunks AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id >= 3
), pm AS (
  SELECT c.label, q.q_id, max(list_cosine_similarity(c.cv, q.qv)) AS m
  FROM chunks c CROSS JOIN q GROUP BY c.label, q.q_id
)
SELECT label, (round(sum(m), 6) + 0) AS score
FROM pm GROUP BY label ORDER BY sum(m) DESC, label LIMIT 5
""",
)
def v_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT-style sum-of-max) as a catalog
    query: vecs 0-2 act as the query's token vectors, labels group the
    remaining vectors into multi-vector "documents"; top-5 documents by
    Σ_q max_chunk cosine. One scan, one partial-aggregated groupBy —
    the multi-vector serving shape modern retrieval stacks add after
    single-vector ANN (operators/topk.late_interaction_topk)."""
    from ..operators.topk import late_interaction_topk

    qvs = [_query_vec(spark, sf_dir, i) for i in range(3)]
    chunks = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= 3)
    return late_interaction_topk(
        chunks, qvs, k=5, doc_col="label"
    ).select("label", F.round("score", 6).alias("score"))


@query(
    "v_hybrid_alpha",
    oracle="""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
), cos50 AS (
  SELECT vec_id AS doc_id,
         list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                (SELECT qv FROM q)) AS s
  FROM embeddings WHERE vec_id <> 0
  ORDER BY s DESC, vec_id ASC LIMIT 50
), cos_norm AS (
  SELECT doc_id,
         CASE WHEN max(s) OVER () > min(s) OVER ()
              THEN (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
              ELSE 0.0 END AS na
  FROM cos50
), toks AS (
  SELECT doc_id, string_split_regex(text, '\\s+') AS t,
         CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS dl
  FROM documents
), tf AS (
  SELECT doc_id, dl,
         CAST(len(list_filter(t, x -> x = 'table')) AS DOUBLE) AS tf0,
         CAST(len(list_filter(t, x -> x = 'scan')) AS DOUBLE) AS tf1,
         CAST(len(list_filter(t, x -> x = 'window')) AS DOUBLE) AS tf2
  FROM toks
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) / count(*) AS avgdl,
         CAST(count(CASE WHEN tf0 > 0 THEN 1 END) AS DOUBLE) AS df0,
         CAST(count(CASE WHEN tf1 > 0 THEN 1 END) AS DOUBLE) AS df1,
         CAST(count(CASE WHEN tf2 > 0 THEN 1 END) AS DOUBLE) AS df2
  FROM tf
), bm AS (
  SELECT doc_id,
         ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
         AS s
  FROM tf, stats
), bm50 AS (
  SELECT doc_id, round(s, 6) AS s
  FROM bm ORDER BY round(s, 6) DESC, doc_id ASC LIMIT 50
), bm_norm AS (
  SELECT doc_id,
         CASE WHEN max(s) OVER () > min(s) OVER ()
              THEN (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
              ELSE 0.0 END AS nb
  FROM bm50
), fused AS (
  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
         0.75 * coalesce(b.nb, 0.0) + 0.25 * coalesce(c.na, 0.0) AS f
  FROM bm_norm b FULL OUTER JOIN cos_norm c ON b.doc_id = c.doc_id
)
SELECT doc_id, (round(f, 6) + 0) AS fused
FROM fused ORDER BY fused DESC, doc_id ASC LIMIT 10
""",
)
def v_hybrid_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by convex score fusion (alpha-blend, the
    score-level combiner next to v_hybrid_rrf's rank-level one): the
    BM25 top-50 and cosine top-50 candidate lists are each min-max
    normalized over their own list, then fused 0.75·lexical +
    0.25·dense. Alpha 0.75 is deliberate: exactly representable in
    binary, so the Spark plan's 1-alpha and the oracle's 0.25 literal
    are the same double (bit-parity discipline). Served by
    operators/bm25.alpha_fuse — the min/max windows are
    single-partition exchanges over 50-row candidate lists and the
    fusion join moves at most 100 rows; candidate generation upstream
    owns the corpus cost."""
    from pyspark.sql import Window  # noqa: F401  (parity with rrf twin)

    from ..operators.bm25 import alpha_fuse, bm25_topk
    from ..operators.topk import knn

    qv = _query_vec(spark, sf_dir, 0)
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    cos50 = knn(emb, qv, 50).select(
        F.col("vec_id").alias("doc_id"), "score"
    )
    bm50 = bm25_topk(
        t(spark, sf_dir, "documents"), ["table", "scan", "window"], k=50
    )
    return alpha_fuse(
        bm50,
        cos50,
        id_col="doc_id",
        score_col_a="bm25",
        score_col_b="score",
        alpha=0.75,
        k=10,
    ).select("doc_id", "fused")


@query(
    "v_mrl_recall",
    oracle="""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
dims(dim) AS (VALUES (8),(16),(32),(64)),
scored AS (
  SELECT d.dim, e.vec_id,
         list_cosine_similarity(list_slice(CAST(e.embedding AS DOUBLE[]), 1, d.dim),
                                list_slice((SELECT qv FROM q), 1, d.dim)) AS s
  FROM embeddings e CROSS JOIN dims d WHERE e.vec_id <> 0
),
ranked AS (
  SELECT dim, vec_id, row_number() OVER (PARTITION BY dim ORDER BY s DESC, vec_id) AS r
  FROM scored
),
truth AS (SELECT vec_id FROM ranked WHERE dim = 64 AND r <= 10)
SELECT CAST(dim AS INT) AS dim,
       CAST(count(*) FILTER (WHERE vec_id IN (SELECT vec_id FROM truth)) AS INT) AS hits,
       (round(CAST(count(*) FILTER (WHERE vec_id IN (SELECT vec_id FROM truth)) AS DOUBLE)
              / 10.0, 6) + 0) AS recall
FROM ranked WHERE r <= 10 GROUP BY dim ORDER BY dim
""",
)
def v_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) dimension-truncation quality curve: recall@10 of
    prefix-truncated cosine search at dim ∈ {8,16,32,64} vs the full-dim
    exact top-10 for query vec 0 — the accuracy/cost trade-off behind
    shortening stored vectors (beside the codebook compressions:
    v_pq_knn / v_sq8_knn / v_bq_knn, this is the "just keep a prefix"
    one; MRL-trained embeddings make the prefix meaningful).

    ONE corpus scan: each row explodes to the 4 dims and scores
    cosine(slice(v,1,d), slice(q,1,d)) in the shared JVM fold; a per-dim
    rank window (WindowGroupLimit partials) keeps top-10 per dim, and the
    dim-64 branch doubles as ground truth via a per-vec_id flag window
    over the 40 surviving rows — no self-join, no second scan, no
    collect. Oracle: full SQL twin (list_slice + list_cosine_similarity
    share the fold association)."""
    from ..functions.vector import array_lit, cosine_similarity

    qv = _query_vec(spark, sf_dir, 0)
    dims = [8, 16, 32, 64]
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    cand = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.explode(F.array(*[F.lit(d) for d in dims])).alias("dim"),
    ).select(
        "dim",
        "vec_id",
        cosine_similarity(
            F.slice(F.col("v"), F.lit(1), F.col("dim")),
            F.slice(array_lit(qv), F.lit(1), F.col("dim")),
        ).alias("s"),
    )
    w_rank = Window.partitionBy("dim").orderBy(
        F.col("s").desc(), F.col("vec_id").asc()
    )
    top = cand.withColumn("r", F.row_number().over(w_rank)).filter(
        F.col("r") <= 10
    )
    w_vec = Window.partitionBy("vec_id")
    hit = F.max(
        F.when(F.col("dim") == 64, F.lit(1)).otherwise(F.lit(0))
    ).over(w_vec)
    return (
        top.withColumn("_hit", hit)
        .groupBy(F.col("dim").cast("int").alias("dim"))
        .agg(F.sum("_hit").cast("int").alias("hits"))
        .select(
            "dim",
            "hits",
            F.round(F.col("hits").cast("double") / F.lit(10.0), 6).alias(
                "recall"
            ),
        )
        .orderBy("dim")
    )


@query(
    "v_semantic_cache",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS prior_id, b.vec_id AS q_id,
         list_cosine_similarity(a.v, b.v) AS s
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
),
hit AS (
  SELECT q_id, prior_id AS cache_id, s,
         row_number() OVER (PARTITION BY q_id ORDER BY prior_id) AS rn
  FROM pairs
)
SELECT e.vec_id, h.cache_id IS NOT NULL AS cache_hit, h.cache_id,
       (round(h.s, 6) + 0) AS score
FROM e LEFT JOIN (SELECT * FROM hit WHERE rn = 1) h ON e.vec_id = h.q_id
ORDER BY e.vec_id
""",
)
def v_semantic_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-cache audit: treating vec_id order as query arrival
    order, for every query find the EARLIEST prior query within cosine
    0.4 — the hit-rate analysis behind semantic response caches (serve
    the cached answer when a sufficiently-similar query already ran).
    Returns one row per query: (vec_id, cache_hit, cache_id, score).

    Scale path: candidate (prior, later) pairs come from the block-grid
    BLAS miner (operators/dedup.embedding_neardup_blocked — shuffle
    N·√P vectors, never N² pairs; exact rescore in the oracle fold
    association), then ONE rank window picks the min prior per query and
    a left join back onto the id column marks misses. The threshold
    deliberately matches d_embedding_neardup's 0.4 mining floor — below
    it SRP-LSH banding can't prune (see the blocked miner's docstring).
    Oracle: full SQL twin over the same exact pair predicate."""
    from ..operators.dedup import embedding_neardup_blocked

    emb = t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_blocked(emb, threshold=0.4).select(
        F.col("id_b").alias("q_id"),
        F.col("id_a").alias("prior_id"),
        "cosine",
    )
    w = Window.partitionBy("q_id").orderBy(F.col("prior_id").asc())
    hit = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            F.col("prior_id").alias("cache_id"),
            F.col("cosine").alias("score"),
        )
    )
    base = emb.select("vec_id")
    return (
        base.join(hit, base.vec_id == hit.q_id, "left")
        .select(
            "vec_id",
            F.col("cache_id").isNotNull().alias("cache_hit"),
            "cache_id",
            "score",
        )
        .orderBy("vec_id")
    )


@query(
    "v_knn_graph",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT a.vec_id AS sa, b.vec_id AS sb, list_cosine_similarity(a.v, b.v) AS s
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT sa, sb, s,
         row_number() OVER (PARTITION BY sa ORDER BY s DESC, sb) AS r
  FROM scored
),
knn AS (SELECT * FROM ranked WHERE r <= 5)
SELECT x.sa AS id_a, x.sb AS id_b, (round(x.s, 6) + 0) AS cosine,
       CAST(x.r AS INT) AS rank_ab, CAST(y.r AS INT) AS rank_ba
FROM knn x JOIN knn y ON x.sa = y.sb AND x.sb = y.sa
WHERE x.sa < x.sb
ORDER BY id_a, id_b
""",
)
def v_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN edges (k=5) over the embedding corpus — the
    reciprocal-neighbor graph kNN-clustering, graph-ANN index builds and
    mutual-NN dedup start from (an edge survives only if BOTH endpoints
    rank each other top-5; the classic noise filter for hubness).

    Scale path: operators/graph.knn_graph — block-grid BLAS local top-k,
    O(N·√P·k) candidate shuffle, global per-src rank. Mutuality needs NO
    self-join of the edge list (which would run the grid twice): each
    directed edge folds to its unordered key and one groupBy keeps keys
    seen from both directions, with the direction ranks pivoted out of
    the same aggregate. Exact rescore is direction-symmetric (same fold
    over dims, commutative per-element products), so the pair's two
    cosines are bit-identical and max() is a no-op choice. Oracle: full
    SQL cross-join twin."""
    from ..operators.graph import knn_graph

    emb = t(spark, sf_dir, "embeddings")
    g = knn_graph(emb, k=5)
    folded = g.select(
        F.least("src", "dst").alias("id_a"),
        F.greatest("src", "dst").alias("id_b"),
        F.when(F.col("src") < F.col("dst"), F.col("rank")).alias("r_fwd"),
        F.when(F.col("src") > F.col("dst"), F.col("rank")).alias("r_rev"),
        "cosine",
    )
    return (
        folded.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.max("r_fwd").alias("rank_ab"),
            F.max("r_rev").alias("rank_ba"),
            F.max("cosine").alias("_cos"),
        )
        .filter(F.col("_n") == 2)
        .select(
            "id_a",
            "id_b",
            F.round("_cos", 6).alias("cosine"),
            "rank_ab",
            "rank_ba",
        )
        .orderBy("id_a", "id_b")
    )


_RP_EVEN_HEX = ("0", "2", "4", "6", "8", "a", "c", "e")


@query(
    "v_rp_distortion",
    oracle="""
WITH sub AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 40
),
proj AS (
  SELECT vec_id, v,
         list_transform(range(1, 33), j ->
           list_reduce(
             list_transform(range(1, 65), i ->
               CASE WHEN substr(md5('rp:' || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)
                         IN ('0','2','4','6','8','a','c','e')
                    THEN v[i] ELSE -v[i] END),
             (a, b) -> a + b)) AS y
  FROM sub
),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         list_reduce(list_transform(range(1, 65),
                     i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])), (p, q) -> p + q) AS d2,
         list_transform(range(1, 33), j -> (a.y[j] - b.y[j]) * (a.y[j] - b.y[j])) AS dd
  FROM proj a JOIN proj b ON a.vec_id < b.vec_id
),
ratios AS (
  SELECT k,
         (round(list_reduce(list_slice(dd, 1, k), (p, q) -> p + q) / (k * d2), 6) + 0) AS ratio
  FROM pairs CROSS JOIN (SELECT unnest([4, 8, 16, 32]) AS k)
  WHERE d2 > 0
)
SELECT CAST(k AS INT) AS k_proj, CAST(count(*) AS BIGINT) AS n_pairs,
       (round(min(ratio), 6) + 0) AS min_ratio,
       (round(max(ratio), 6) + 0) AS max_ratio,
       (round(CAST(sum(CASE WHEN ratio BETWEEN 0.8 AND 1.2 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(count(*) AS DOUBLE), 6) + 0) AS frac_within_20pct
FROM ratios GROUP BY k ORDER BY k
""",
)
def v_rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss audit: squared-distance distortion of a
    CONTENT-KEYED ±1 random projection at k ∈ {4,8,16,32} target dims,
    measured on the 40-vector audit subset's 780 pairs — the
    concentration curve that justifies sketch dimensionality choices
    (SimHash/SRP-LSH's quality knob, quantified; the family's audit
    query beside v_ivf_recall_curve and v_mrl_recall).

    Determinism at scale: the projection matrix is NOT rand(seed) but
    the parity of md5('rp:i:j')'s first hex char (the r_dp_counts /
    hash_sample discipline) — reproducible across engines, sessions and
    layouts, so the oracle replays it bit-for-bit. All folds (project,
    distance, per-k prefix) accumulate strictly left-to-right in both
    engines; only the 32-dim projection is computed and smaller k reuse
    its prefix (one projection, four curve points). The audit subset is
    deliberately bounded; at corpus scale the same projection expression
    is a shuffle-free JVM map."""
    emb = t(spark, sf_dir, "embeddings")
    sub = emb.filter(F.col("vec_id") < 40).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def _signed(v, i, j):
        key = F.concat(
            F.lit("rp:"),
            i.cast("string"),
            F.lit(":"),
            j.cast("string"),
        )
        return F.when(
            F.substring(F.md5(key), 1, 1).isin(*_RP_EVEN_HEX),
            F.element_at(v, i.cast("int")),
        ).otherwise(-F.element_at(v, i.cast("int")))

    proj = sub.withColumn(
        "y",
        F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda j: F.aggregate(
                F.sequence(F.lit(1), F.lit(64)),
                F.lit(0.0),
                lambda acc, i: acc + _signed(F.col("v"), i, j),
            ),
        ),
    )
    a = proj.select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("y").alias("ya"),
    )
    b = proj.select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("y").alias("yb"),
    )
    pairs = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            F.aggregate(
                F.zip_with(
                    "va", "vb", lambda p, q: (p - q) * (p - q)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            F.zip_with(
                "ya", "yb", lambda p, q: (p - q) * (p - q)
            ).alias("dd"),
        )
        .filter(F.col("d2") > 0)
    )
    ratios = pairs.select(
        F.explode(F.array(*[F.lit(k) for k in (4, 8, 16, 32)])).alias("k"),
        F.col("d2"),
        F.col("dd"),
    ).select(
        "k",
        F.round(
            F.aggregate(
                F.slice(F.col("dd"), F.lit(1), F.col("k")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (F.col("k") * F.col("d2")),
            6,
        ).alias("ratio"),
    )
    return (
        ratios.groupBy(F.col("k").cast("int").alias("k_proj"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.min("ratio"), 6).alias("min_ratio"),
            F.round(F.max("ratio"), 6).alias("max_ratio"),
            F.round(
                F.sum(
                    F.when(
                        F.col("ratio").between(0.8, 1.2), F.lit(1)
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("frac_within_20pct"),
        )
        .orderBy("k_proj")
    )


@query(
    "v_centroid_margin",
    oracle="""
WITH comp AS (
  SELECT label,
         CAST(unnest(embedding) AS DOUBLE) AS c,
         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos
  FROM embeddings
),
cent AS (
  SELECT label, pos, (round(avg(c), 6) + 0) AS cc FROM comp GROUP BY label, pos
),
carr AS (
  SELECT label AS clabel, list(cc ORDER BY pos) AS cvec FROM cent GROUP BY label
),
scored AS (
  SELECT e.label AS mlabel, c.clabel,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) AS s
  FROM embeddings e CROSS JOIN carr c
),
m AS (
  SELECT mlabel, clabel, avg(s) AS ms, count(*) AS n
  FROM scored GROUP BY mlabel, clabel
),
own AS (SELECT mlabel, ms AS own_cos, n FROM m WHERE mlabel = clabel),
other AS (SELECT mlabel, max(ms) AS best_other FROM m WHERE mlabel <> clabel GROUP BY mlabel)
SELECT o.mlabel AS label, CAST(o.n AS BIGINT) AS n,
       (round(o.own_cos, 6) + 0) AS own_cos,
       (round(t.best_other, 6) + 0) AS best_other_cos,
       (round(o.own_cos - t.best_other, 6) + 0) AS margin
FROM own o JOIN other t ON o.mlabel = t.mlabel
ORDER BY label
""",
)
def v_centroid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-separability audit: per label, members' mean cosine to their
    OWN class centroid vs the best mean cosine to any OTHER centroid, and
    the margin — the embedding-quality check (are classes actually
    separated in the stored space?) beside v_centroids / v_embedding_
    variance / p_pca_variance.

    Parity discipline: centroids are ROUND-6 before scoring, so both
    engines score against identical prototype values (the v_centroids
    precedent makes the round-6 centroid itself engine-stable); member
    scores then flow through the shared fold. Shape: one (label, pos)
    partial-agg centroid pass (|labels|·dim shuffle rows), the 10-row
    centroid table broadcast into ONE corpus scan, and a single
    conditional aggregate pivots own-vs-other — no second scan, no m×m
    join."""
    from ..functions.vector import cosine_similarity

    emb = t(spark, sf_dir, "embeddings")
    cent = (
        emb.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .select("label", (F.col("pos") + 1).cast("int").alias("pos"), "col")
        .groupBy("label", "pos")
        .agg(F.round(F.avg("col"), 6).alias("cc"))
    )
    carr = (
        cent.groupBy(F.col("label").alias("clabel"))
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "cc"))).alias("_s")
        )
        .select("clabel", F.col("_s.cc").alias("cvec"))
    )
    scored = emb.select(
        F.col("label").alias("mlabel"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).crossJoin(F.broadcast(carr)).select(
        "mlabel", "clabel", cosine_similarity("v", "cvec").alias("s")
    )
    m = scored.groupBy("mlabel", "clabel").agg(
        F.avg("s").alias("ms"), F.count(F.lit(1)).alias("n")
    )
    same = F.col("mlabel") == F.col("clabel")
    return (
        m.groupBy(F.col("mlabel").alias("label"))
        .agg(
            F.max(F.when(same, F.col("n"))).cast("long").alias("n"),
            F.max(F.when(same, F.col("ms"))).alias("_own"),
            F.max(F.when(~same, F.col("ms"))).alias("_other"),
        )
        .select(
            "label",
            "n",
            F.round("_own", 6).alias("own_cos"),
            F.round("_other", 6).alias("best_other_cos"),
            F.round(F.col("_own") - F.col("_other"), 6).alias("margin"),
        )
        .orderBy("label")
    )


# nDCG discount table in integer millionths: DISC_PPM[i-1] = round(1e6 /
# log2(i+1)), CUM_DISC_PPM its prefix sums (the ideal DCG for j relevant
# hits). Shared LITERALS between the Spark plan and the DuckDB twin, so no
# engine evaluates a transcendental inside the metric — the entire eval is
# exact integer arithmetic until the final display division.
DISC_PPM = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]
CUM_DISC_PPM = [
    1000000, 1630930, 2130930, 2561607, 2948460,
    3304667, 3638000, 3953465, 4254495, 4543560,
]
_SQL_DISC = "[" + ", ".join(str(x) for x in DISC_PPM) + "]"
_SQL_CUM = "[" + ", ".join(str(x) for x in CUM_DISC_PPM) + "]"


@query(
    "v_label_ndcg",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel,
         CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 20),
c AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id >= 20),
relcnt AS (
  SELECT q.query_id, count(c.vec_id) AS n_rel
  FROM q LEFT JOIN c ON c.label = q.qlabel GROUP BY q.query_id),
scored AS (
  SELECT q.query_id, q.qlabel, c.vec_id, c.label,
         list_cosine_similarity(c.cv, q.qv) AS s
  FROM c CROSS JOIN q),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY s DESC, vec_id) AS rank
  FROM scored QUALIFY rank <= 10),
perq AS (
  SELECT query_id, qlabel,
         sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS hits,
         sum(CASE WHEN label = qlabel
                  THEN {_SQL_DISC}[rank] ELSE 0 END) AS dcg_ppm,
         min(CASE WHEN label = qlabel THEN rank END) AS fr,
         count(*) AS depth
  FROM ranked GROUP BY query_id, qlabel),
metrics AS (
  SELECT p.qlabel, p.hits, p.depth,
         coalesce(1000000 // p.fr, 0) AS rr_ppm,
         CASE WHEN r.n_rel > 0
              THEN (1000000 * p.dcg_ppm)
                   // {_SQL_CUM}[least(r.n_rel, 10)]
         END AS ndcg_ppm
  FROM perq p JOIN relcnt r ON r.query_id = p.query_id)
SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_queries,
       (round(CAST(sum(hits) AS DOUBLE)
              / CAST(sum(depth) AS DOUBLE), 6) + 0) AS mean_precision,
       (round(CAST(sum(rr_ppm) AS DOUBLE) / count(*) / 1000000.0, 6) + 0)
         AS mean_mrr,
       (round(CAST(sum(ndcg_ppm) AS DOUBLE) / count(ndcg_ppm) / 1000000.0,
              6) + 0) AS mean_ndcg
FROM metrics GROUP BY qlabel ORDER BY qlabel
""",
)
def v_label_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of exact cosine search against label
    relevance — the ann-benchmarks-style quality readout (per query-label:
    mean precision@10, MRR, nDCG@10 of the top-10 neighbour list, a hit
    being a corpus vector sharing the query's label).  This is the eval
    harness a user runs to decide whether the embedding space is good
    enough to serve — it complements v_recall_matrix (which scores INDEX
    tiers against exact search; this scores exact search against labels).

    Exactness: the nDCG discount 1/log2(rank+1) enters as a SHARED integer-
    millionths literal table (no engine-side transcendental), per-query DCG
    and ideal-DCG are integer sums/lookups, per-query nDCG and reciprocal
    rank are integer divisions — so every cross-row aggregate is exact and
    order-independent, and doubles appear only in the final display
    division (round 6).  The ideal DCG truncates at min(n_rel, 10) corpus
    members of the query's label (left-join + count so a label with zero
    corpus members yields NULL nDCG, not a crash); precision normalizes by
    the actual returned depth, which matters at tiny scale factors where
    the corpus is smaller than k.

    Scale shape: 20 query vectors broadcast into a BroadcastNestedLoopJoin
    over one corpus scan (the similarity_join operator — corpus never
    shuffles); the rank window moves only scored (query, corpus) id pairs;
    label relevance counts ride a corpus-label aggregate broadcast back to
    the 20-row query side."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    qmeta = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    corpus = emb.filter(F.col("vec_id") >= 20).select(
        "vec_id", "embedding", "label"
    )
    ranked = similarity_join(queries, corpus, k=10).select(
        "query_id", "vec_id", "label", "rank"
    )
    disc = F.array(*[F.lit(x) for x in DISC_PPM])
    cum = F.array(*[F.lit(x) for x in CUM_DISC_PPM])
    labeled = ranked.join(F.broadcast(qmeta), "query_id")
    rel = F.col("label") == F.col("qlabel")
    perq = labeled.groupBy("query_id", "qlabel").agg(
        F.sum(F.when(rel, 1).otherwise(0)).alias("hits"),
        F.sum(
            F.when(rel, F.element_at(disc, F.col("rank"))).otherwise(0)
        ).alias("dcg_ppm"),
        F.min(F.when(rel, F.col("rank"))).alias("fr"),
        F.count(F.lit(1)).alias("depth"),
    )
    relcnt = (
        qmeta.join(
            F.broadcast(
                corpus.groupBy(F.col("label").alias("qlabel")).agg(
                    F.count(F.lit(1)).alias("n_rel")
                )
            ),
            "qlabel",
            "left",
        )
        .select("query_id", F.coalesce("n_rel", F.lit(0)).alias("n_rel"))
    )
    metrics = (
        perq.join(F.broadcast(relcnt), "query_id")
        .withColumn(
            "idcg_ppm",
            F.when(
                F.col("n_rel") > 0,
                F.element_at(
                    cum, F.least(F.col("n_rel"), F.lit(10)).cast("int")
                ),
            ),
        )
        .select(
            "qlabel",
            "hits",
            "depth",
            F.coalesce(
                F.expr("1000000 div fr").cast("long"), F.lit(0).cast("long")
            ).alias("rr_ppm"),
            F.expr("(1000000 * dcg_ppm) div idcg_ppm").alias("ndcg_ppm"),
        )
    )
    return (
        metrics.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.round(
                F.sum("hits").cast("double") / F.sum("depth").cast("double"),
                6,
            ).alias("mean_precision"),
            F.round(
                F.sum("rr_ppm").cast("double") / F.count(F.lit(1)) / 1000000.0,
                6,
            ).alias("mean_mrr"),
            F.round(
                F.sum("ndcg_ppm").cast("double")
                / F.count("ndcg_ppm")
                / 1000000.0,
                6,
            ).alias("mean_ndcg"),
        )
        .orderBy("label")
    )


@query(
    "v_link_prediction",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT a.vec_id AS sa, b.vec_id AS sb, list_cosine_similarity(a.v, b.v) AS s
  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
ranked AS (
  SELECT sa, sb,
         row_number() OVER (PARTITION BY sa ORDER BY s DESC, sb) AS r
  FROM scored),
knn AS (SELECT * FROM ranked WHERE r <= 5),
mut AS (
  SELECT x.sa AS id_a, x.sb AS id_b
  FROM knn x JOIN knn y ON x.sa = y.sb AND x.sb = y.sa
  WHERE x.sa < x.sb),
und AS (
  SELECT id_a AS u, id_b AS w FROM mut
  UNION ALL SELECT id_b AS u, id_a AS w FROM mut),
deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
wt AS (
  SELECT u, CAST(round(1000000.0 / ln(CAST(d AS DOUBLE)), 0) AS BIGINT) AS q
  FROM deg WHERE d >= 2),
cand AS (
  SELECT a.w AS id_a, b.w AS id_b, wt.q
  FROM und a JOIN und b ON a.u = b.u AND a.w < b.w
  JOIN wt ON wt.u = a.u),
aa AS (
  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS common,
         sum(q) AS sq
  FROM cand GROUP BY 1, 2),
nonedge AS (
  SELECT aa.* FROM aa
  LEFT JOIN mut ON mut.id_a = aa.id_a AND mut.id_b = aa.id_b
  WHERE mut.id_a IS NULL)
SELECT id_a, id_b, common,
       (round(CAST(sq AS DOUBLE) / 1000000.0, 6) + 0) AS aa_score
FROM nonedge
ORDER BY sq DESC, id_a, id_b LIMIT 20
""",
)
def v_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the mutual 5-NN graph: score every
    NON-adjacent vector pair at graph distance 2 by Σ_z 1/ln(deg z) over
    common neighbors z (rarer shared neighbors count more — the classic
    "which edges are missing" heuristic behind graph-ANN index repair and
    recommend-similar backfills); top-20 predicted links.

    Exactness: each neighbor's 1/ln(deg) quantizes to integer millionths
    BEFORE the per-pair sum (t_token_entropy discipline), so scores and
    the top-20 cutoff rank on exact BIGINTs; ln is defined because a
    common neighbor has degree >= 2 by construction. The wedge join runs
    on the MUTUAL graph's adjacency (sparse by construction — mutuality
    is the hubness filter), so candidate pairs are bounded by
    Σ_z deg(z)² over a degree-capped (<= k) graph, never N².

    Scale path: the underlying directed top-k comes from
    operators/graph.knn_graph (block-grid BLAS, O(N·√P·k) candidate
    shuffle); everything after runs on edge-list-sized frames (one
    neighbor-hash exchange for the wedge join, one degree aggregate)."""
    from ..operators.graph import knn_graph

    emb = t(spark, sf_dir, "embeddings")
    g = knn_graph(emb, k=5)
    folded = g.select(
        F.least("src", "dst").alias("id_a"),
        F.greatest("src", "dst").alias("id_b"),
    )
    mut = (
        folded.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == 2)
        .drop("_n")
    )
    und = mut.select(F.col("id_a").alias("u"), F.col("id_b").alias("w")).unionByName(
        mut.select(F.col("id_b").alias("u"), F.col("id_a").alias("w"))
    )
    # degree-1 nodes can never BE a common neighbor (a wedge needs two
    # distinct edges at z), and 1/ln(1) would raise under ANSI — filter
    # them before the division instead of relying on the join to prune
    wt = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= 2)
        .select(
            "u",
            F.round(1000000.0 / F.log(F.col("d").cast("double")), 0)
            .cast("long")
            .alias("q"),
        )
    )
    a = und.alias("a")
    b = und.alias("b")
    wtz = wt.select(F.col("u").alias("z"), "q").alias("wtz")
    cand = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.w") < F.col("b.w")))
        .join(wtz, F.col("a.u") == F.col("z"))
        .select(
            F.col("a.w").alias("id_a"), F.col("b.w").alias("id_b"), "q"
        )
    )
    aa = cand.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("common"),
        F.sum("q").alias("sq"),
    )
    nonedge = aa.join(mut, ["id_a", "id_b"], "left_anti")
    return (
        nonedge.select(
            "id_a",
            "id_b",
            "common",
            F.round(F.col("sq").cast("double") / 1000000.0, 6).alias(
                "aa_score"
            ),
            "sq",
        )
        .orderBy(F.col("sq").desc(), "id_a", "id_b")
        .limit(20)
        .drop("sq")
    )


@query(
    "v_ood_centroid",
    oracle="""
WITH comp AS (
  SELECT label,
         CAST(unnest(embedding) AS DOUBLE) AS c,
         CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos
  FROM embeddings),
cent AS (
  SELECT label, pos, (round(avg(c), 6) + 0) AS cc FROM comp GROUP BY label, pos),
carr AS (
  SELECT label AS clabel, list(cc ORDER BY pos) AS cvec FROM cent GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label AS mlabel, c.clabel,
         CAST(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           c.cvec) * 1000000, 0) AS BIGINT)
           AS s_ppm
  FROM embeddings e CROSS JOIN carr c),
per_member AS (
  SELECT vec_id, mlabel,
         max(CASE WHEN clabel = mlabel THEN s_ppm END) AS own_ppm,
         max(CASE WHEN clabel <> mlabel
                  THEN (s_ppm + 1000000) * 1000 + (999 - clabel)
             END) AS best_key
  FROM scored GROUP BY 1, 2),
flags AS (
  SELECT mlabel,
         CASE WHEN best_key // 1000 - 1000000 > own_ppm THEN 1 ELSE 0
              END AS flagged,
         CASE WHEN best_key // 1000 - 1000000 > own_ppm
              THEN 999 - best_key % 1000 END AS pred
  FROM per_member),
conf AS (
  SELECT mlabel, pred, CAST(count(*) AS BIGINT) AS c
  FROM flags WHERE flagged = 1 GROUP BY 1, 2),
top_conf AS (
  SELECT mlabel,
         999 - (max(c * 1000 + (999 - pred)) % 1000) AS top_pred
  FROM conf GROUP BY mlabel)
SELECT f.mlabel AS label,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(f.flagged) AS BIGINT) AS n_flagged,
       (round(CAST(sum(f.flagged) AS DOUBLE) / count(*), 6) + 0)
         AS flag_rate,
       CAST(max(t.top_pred) AS INT) AS top_confusion_label
FROM flags f LEFT JOIN top_conf t ON f.mlabel = t.mlabel
GROUP BY f.mlabel ORDER BY label
""",
)
def v_ood_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confident-mislabel screen over the embedding corpus: a member is
    FLAGGED when some other label's centroid is strictly closer (cosine)
    than its own — the cheap first pass of label-noise cleaning
    (Confident Learning-style, public method) beside v_centroid_margin's
    class-level separability view; per label, the flag count/rate and
    the most common foreign attraction (top confusion target).

    Exactness: centroids are ROUND-6 (the v_centroids precedent), member
    cosines quantize to integer millionths, and every comparison,
    argmax, and mode after that is pure BIGINT arithmetic — the foreign
    argmax and the confusion mode pack (value, tie-break) into one
    integer key (s_ppm·1000 + (999 − label), counts likewise), so ties
    break identically in both engines with no struct/argmax semantics in
    play. The only double is the round-6 rate. The key packing strides
    by 1000, so the label domain must be [0, 999]; rather than decode a
    wrong top_confusion_label identically in both engines past that
    bound, the centroid frame raises on any out-of-domain label (a
    per-label-row check on the tiny broadcast side — free).

    Shape: one (label, pos) centroid pass, the |labels|-row centroid
    table broadcast into ONE corpus scan, a member-keyed conditional
    aggregate (own vs best-other pivot — no per-member window), then
    label-sized aggregates."""
    from ..functions.vector import cosine_similarity

    emb = t(spark, sf_dir, "embeddings")
    cent = (
        emb.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .select("label", (F.col("pos") + 1).cast("int").alias("pos"), "col")
        .groupBy("label", "pos")
        .agg(F.round(F.avg("col"), 6).alias("cc"))
    )
    label_in_domain = (F.col("clabel") >= 0) & (F.col("clabel") <= 999)
    carr = (
        cent.groupBy(F.col("label").alias("clabel"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cc"))).alias("_s"))
        .select(
            F.when(label_in_domain, F.col("clabel"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "v_ood_centroid: label outside the packing "
                            "domain [0, 999]: "
                        ),
                        F.col("clabel").cast("string"),
                    )
                )
            )
            .alias("clabel"),
            F.col("_s.cc").alias("cvec"),
        )
    )
    s_ppm = F.round(
        cosine_similarity("v", "cvec") * 1000000, 0
    ).cast("long")
    # widen BEFORE the broadcast centroid join: each member row pays
    # |labels| HOF cosine folds — the similarity_join case (guide §2.5
    # input skew / §1.2); no-op at production split counts, and the
    # member-keyed partial aggregate below still collapses the pairs
    # map-side before the one shuffle (round-9 optimization).
    from ..util import widen

    scored = (
        widen(
            emb.select(
                "vec_id",
                F.col("label").alias("mlabel"),
                F.col("embedding").cast("array<double>").alias("v"),
            )
        )
        .crossJoin(F.broadcast(carr))
        .select("vec_id", "mlabel", "clabel", s_ppm.alias("s_ppm"))
    )
    own_match = F.col("clabel") == F.col("mlabel")
    per_member = scored.groupBy("vec_id", "mlabel").agg(
        F.max(F.when(own_match, F.col("s_ppm"))).alias("own_ppm"),
        F.max(
            F.when(
                ~own_match,
                # +1e6 shift keeps the packed key NON-NEGATIVE (cosine
                # can be negative): floor (DuckDB //) and trunc (double
                # cast) division only agree on non-negative operands
                (F.col("s_ppm") + 1000000) * 1000 + (999 - F.col("clabel")),
            )
        ).alias("best_key"),
    )
    flagged = (
        F.floor(F.col("best_key") / 1000).cast("long") - 1000000
        > F.col("own_ppm")
    )
    flags = per_member.select(
        "mlabel",
        F.when(flagged, 1).otherwise(0).alias("flagged"),
        F.when(flagged, 999 - F.col("best_key") % 1000).alias("pred"),
    )
    conf = (
        flags.filter(F.col("flagged") == 1)
        .groupBy("mlabel", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    top_conf = conf.groupBy("mlabel").agg(
        (999 - F.max(F.col("c") * 1000 + (999 - F.col("pred"))) % 1000)
        .alias("top_pred")
    )
    return (
        flags.groupBy("mlabel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("flagged").cast("long").alias("n_flagged"),
            F.round(
                F.sum("flagged").cast("double") / F.count(F.lit(1)), 6
            ).alias("flag_rate"),
        )
        .join(F.broadcast(top_conf), "mlabel", "left")
        .select(
            F.col("mlabel").alias("label"),
            "n",
            "n_flagged",
            "flag_rate",
            F.col("top_pred").cast("int").alias("top_confusion_label"),
        )
        .orderBy("label")
    )
