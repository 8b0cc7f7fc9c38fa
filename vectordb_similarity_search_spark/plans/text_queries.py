"""Documents-surface queries: token stats, exact dedup, n-gram Jaccard
near-dup (the exact baseline the MinHash-LSH operator approximates),
quality scoring, heuristic language ID. North-star LLM-pipeline text ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..functions.text import (
    LANG_MARKERS,
    avg_token_len,
    char_shingles,
    lang_guess,
    n_tokens,
    quality_bucket,
    stopword_ratio,
    tokens,
)
from .catalog import expected_oracle, query, t

# DuckDB mirrors of the expression builders in functions/text.py.
SQL_TOKENS = r"string_split_regex(text, '\s+')"
SQL_NTOK = f"len({SQL_TOKENS})"
SQL_SHINGLES = (
    "list_distinct(list_transform("
    "range(1, greatest(len(text) - 4, 1) + 1), "
    "i -> substr(text, CAST(i AS INTEGER), 5)))"
)


def _sql_marker_count(words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({SQL_TOKENS}, t -> list_contains([{lst}], t)))"


@query(
    "t_token_stats",
    oracle=f"""
SELECT lang,
       count(*) AS n_docs,
       (round(CAST(sum({SQL_NTOK}) AS DOUBLE) / count(*), 6) + 0) AS avg_tokens,
       CAST(max({SQL_NTOK}) AS INTEGER) AS max_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""",
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language (north-star token-count op): whitespace
    tokenization as a pure JVM expression, integer-exact averages."""
    d = t(spark, sf_dir, "documents")
    nt = n_tokens("text")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum(nt).cast("double") / F.count("*"), 6).alias("avg_tokens"),
        F.max(nt).cast("int").alias("max_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "t_exact_dedup",
    oracle="""
SELECT count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct_texts,
       count(*) - count(DISTINCT md5(text)) AS n_dup_docs,
       (SELECT count(*) FROM (
          SELECT md5(text) h FROM documents GROUP BY 1 HAVING count(*) > 1
       )) AS n_dup_groups
FROM documents
""",
)
def t_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication summary via content hash (north-star exact-dedup
    op). At 100 TB the md5-groupBy shuffles 16-byte digests, not documents —
    this is the standard exact-dedup plan."""
    d = t(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    # fully lazy: the dup-group count is its own 1-row aggregate crossJoined
    # in (broadcast), not a build-time .count() baked into the plan as a
    # literal — query build runs no jobs.
    dup_groups = (
        d.groupBy(h.alias("h"))
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count("*").cast("long").alias("n_dup_groups"))
    )
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(h).alias("n_distinct_texts"),
        (F.count("*") - F.countDistinct(h)).alias("n_dup_docs"),
    ).crossJoin(F.broadcast(dup_groups))


@query(
    "t_ngram_jaccard_pairs",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, source, {SQL_SHINGLES} AS s FROM documents
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, (round(jac, 6) + 0) AS jaccard
FROM pairs WHERE jac >= 0.3
""",
)
def t_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by source (north-star
    n-gram-Jaccard dedup). This is the exact baseline; MinHash-LSH
    (operators/dedup.py) approximates it without the quadratic
    within-block join.

    Scale: the self-join is blocked on `source`, so cost is Σ|block|²,
    and the shuffle key is the blocking key — the classic pair-generation
    plan. Skewed blocks would need salting or LSH; noted in dedup.py."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", char_shingles("text", 5).alias("s")
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), F.col("source"), F.col("s").alias("sa")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), F.col("source"), F.col("s").alias("sb")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    return (
        a.join(b, ["source"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jac", jac)
        .filter(F.col("jac") >= 0.3)
        .select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))
    )


@query(
    "t_quality_buckets",
    oracle=f"""
WITH scored AS (
  SELECT lang,
         {SQL_NTOK} AS nt,
         CAST(len(replace(text, ' ', '')) AS DOUBLE) / {SQL_NTOK} AS atl
  FROM documents
)
SELECT lang,
       CASE WHEN nt < 20 THEN 'short'
            WHEN atl < 2.0 OR atl > 10.0 THEN 'odd_tokens'
            ELSE 'good' END AS bucket,
       count(*) AS n_docs
FROM scored GROUP BY 1, 2
""",
)
def t_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (north-star quality op): bucket documents by token
    count and mean token length."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("lang", quality_bucket("text", LANG_MARKERS["en"]).alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "t_lang_guess_confusion",
    oracle=f"""
WITH scores AS (
  SELECT lang,
         {_sql_marker_count(LANG_MARKERS['en'])} AS s_en,
         {_sql_marker_count(LANG_MARKERS['de'])} AS s_de,
         {_sql_marker_count(LANG_MARKERS['es'])} AS s_es,
         {_sql_marker_count(LANG_MARKERS['fr'])} AS s_fr
  FROM documents
), guessed AS (
  SELECT lang,
         CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unk'
              WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
              WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS guess
  FROM scores
)
SELECT lang, guess, count(*) AS n_docs
FROM guessed GROUP BY lang, guess
""",
)
def t_lang_guess_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID confusion matrix (north-star language-ID op):
    marker-word scores with fixed tie order (en > de > es > fr)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_guess("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "t_stopword_ratio",
    oracle=f"""
SELECT source,
       (round(avg(CAST({_sql_marker_count(LANG_MARKERS['en'])} AS DOUBLE)
                 / {SQL_NTOK}), 6) + 0) AS avg_stopword_ratio,
       count(*) AS n_docs
FROM documents
GROUP BY source
""",
)
def t_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio quality signal aggregated per source."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.round(F.avg(stopword_ratio("text", LANG_MARKERS["en"])), 6).alias(
            "avg_stopword_ratio"
        ),
        F.count("*").alias("n_docs"),
    )


@query(
    "t_bpe_tokens",
    oracle=r"""
SELECT lang,
       count(*) AS n_tokens,
       count(DISTINCT tok) AS n_distinct_tokens
FROM (
  SELECT lang, unnest(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS tok
  FROM documents
)
GROUP BY lang
""",
)
def t_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (north-star token-count op): letter runs /
    digit runs / single punctuation as separate tokens; vocabulary size per
    language via distinct aggregation over the exploded token stream."""
    d = t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    return (
        d.select("lang", F.explode(toks).alias("tok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct_tokens"),
        )
    )


@query(
    "t_fingerprint_pairs",
    oracle=expected_oracle("t_fingerprint_pairs", sf_bound=True),
)
def t_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint overlap pairs (north-star document
    fingerprinting). Oracle: expected-output parquet (content-pure
    xxhash64 sketch — no DuckDB replay; winnowing guarantees pinned by
    tests/test_fingerprint.py)."""
    from ..operators.fingerprint import fingerprint_overlap_pairs

    # min_shared=20: this fixture's vocabulary is tiny, so low thresholds
    # match nearly every within-source pair (5734/6000 at min_shared=3).
    return fingerprint_overlap_pairs(
        t(spark, sf_dir, "documents"), min_shared=20
    )


@query(
    "t_doclen_percentiles",
    oracle="""
SELECT source,
       (round(quantile_cont(n_chars, 0.5), 4) + 0) AS median_chars,
       (round(quantile_cont(n_chars, 0.95), 4) + 0) AS p95_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY source
""",
)
def t_doclen_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution per source (exact percentiles)."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("median_chars"),
        F.round(F.percentile("n_chars", F.lit(0.95)), 4).alias("p95_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline queries (Gopher-style repetition, chunking,
# sequence packing, filter funnel). All pure JVM expressions; token arrays
# are materialized in their own projection step before any HOF consumes
# them (an expression referenced inside a lambda re-evaluates per element).
# ---------------------------------------------------------------------------

# duplicate word-n-gram fraction of one doc: 1 - distinct/total, 0.0 when
# fewer than n tokens (no n-grams). NULL-free by construction: the index
# range stops at size-n+1, so element_at never reads past the end (DuckDB's
# list_distinct drops NULLs while Spark's array_distinct keeps them — NULLs
# in the gram list would silently diverge).
def _dup_ngram_frac(toks: F.Column, n: int) -> F.Column:
    sz = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), sz - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.when(
        sz >= n,
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double")
        / F.size(grams).cast("double"),
    ).otherwise(F.lit(0.0))


def _sql_dup_ngram_frac(n: int) -> str:
    parts = " || ' ' || ".join(f"toks[CAST(i + {j} AS INTEGER)]" for j in range(n))
    grams = f"list_transform(range(1, greatest(len(toks) - {n - 2}, 1)), i -> {parts})"
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"1.0 - CAST(len(list_distinct({grams})) AS DOUBLE) / len({grams}) "
        "ELSE 0.0 END"
    )


@query(
    "t_rep_ngram",
    oracle=f"""
WITH tok AS (SELECT source, {SQL_TOKENS} AS toks FROM documents),
frac AS (SELECT source,
                {_sql_dup_ngram_frac(2)} AS dup2,
                {_sql_dup_ngram_frac(3)} AS dup3
         FROM tok)
SELECT source,
       count(*) AS n_docs,
       (round(avg(dup2), 6) + 0) AS avg_dup_2gram,
       (round(avg(dup3), 6) + 0) AS avg_dup_3gram,
       CAST(count(CASE WHEN dup2 > 0.5 THEN 1 END) AS BIGINT) AS n_repetitive
FROM frac GROUP BY source
""",
)
def t_rep_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition: fraction of duplicate word
    2-/3-grams per doc, aggregated per source (the 'duplicate n-gram
    fraction' family of quality filters from the Gopher/MassiveText rules,
    public in Rae et al. 2021). Docs with dup-2gram fraction > 0.5 are the
    boilerplate/template suspects a pipeline would drop."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("source", tokens("text").alias("toks"))
    frac = tok.select(
        "source",
        _dup_ngram_frac(F.col("toks"), 2).alias("dup2"),
        _dup_ngram_frac(F.col("toks"), 3).alias("dup3"),
    )
    return frac.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("dup2"), 6).alias("avg_dup_2gram"),
        F.round(F.avg("dup3"), 6).alias("avg_dup_3gram"),
        F.count(F.when(F.col("dup2") > 0.5, 1)).cast("long").alias("n_repetitive"),
    )


@query(
    "t_chunk_stats",
    oracle=f"""
WITH tok AS (SELECT doc_id, source, {SQL_TOKENS} AS toks FROM documents),
spans AS (
  SELECT doc_id, source,
         unnest(list_transform(
             range(0, CASE WHEN len(toks) <= 32 THEN 1
                           ELSE CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1 END),
             j -> len(toks[CAST(j*24 + 1 AS INTEGER):CAST(least(j*24 + 32, len(toks)) AS INTEGER)])
         )) AS chunk_tokens
  FROM tok)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       (round(CAST(sum(chunk_tokens) AS DOUBLE) / count(*), 6) + 0) AS avg_chunk_tokens,
       CAST(min(chunk_tokens) AS INTEGER) AS min_chunk_tokens
FROM spans GROUP BY source
""",
)
def t_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (size 32 tokens, stride 24 — the
    overlap-chunking every retrieval/training pipeline runs before
    embedding): explode real chunk rows, then aggregate per source. The
    chunk build is one narrow JVM projection — no shuffle until the final
    aggregate, so it scales as the scan does."""
    d = t(spark, sf_dir, "documents")
    size, stride = 32, 24
    tok = d.select("doc_id", "source", tokens("text").alias("toks"))
    n_chunks = F.when(F.size("toks") <= size, F.lit(1)).otherwise(
        F.ceil((F.size("toks") - size) / float(stride)).cast("long") + 1
    )
    chunks = tok.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda j: F.size(
                    F.slice(
                        F.col("toks"),
                        (j * stride + 1).cast("int"),
                        F.least(
                            F.lit(size),
                            F.size("toks") - (j * stride).cast("int"),
                        ),
                    )
                ),
            )
        ).alias("chunk_tokens"),
    )
    return chunks.groupBy("source").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.round(F.sum("chunk_tokens").cast("double") / F.count("*"), 6)
        .alias("avg_chunk_tokens"),
        F.min("chunk_tokens").cast("int").alias("min_chunk_tokens"),
    )


@query(
    "t_pack_sequences",
    oracle=f"""
WITH tok AS (SELECT doc_id, source, {SQL_NTOK} AS nt FROM documents),
cum AS (
  SELECT source, nt,
         sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM tok)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(cum) AS BIGINT) AS total_tokens,
       CAST(ceil(max(cum) / 1024.0) AS BIGINT) AS n_sequences,
       CAST(count(CASE WHEN floor((cum - nt) / 1024.0) != floor((cum - 1) / 1024.0)
                  THEN 1 END) AS BIGINT) AS n_boundary_docs
FROM cum GROUP BY source
""",
)
def t_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-slice sequence packing audit (the standard LLM training
    layout: concatenate each source's token stream in doc_id order, cut
    every 1024 tokens): sequences produced and documents straddling a cut
    boundary, from one per-source cumsum — integer-exact. The cumsum
    routes through operators/ranking.auto_grouped_cumsum (round-8
    coarse-window lint): `source` has ~20 distinct values, so a plain
    PARTITION BY source window funnels the corpus through 20 reducers at
    100 TB; past the size threshold the bucketed form windows on
    (source, doc_id-quantile-bucket) instead — bit-identical (parity
    pinned in tests/test_ranking.py)."""
    from ..operators.ranking import auto_grouped_cumsum

    d = t(spark, sf_dir, "documents")
    seq_len = 1024
    tok = d.select("doc_id", "source", n_tokens("text").alias("nt"))
    cum = auto_grouped_cumsum(
        tok, "nt", ["source"], "doc_id", col_name="cum"
    ).select("source", "nt", "cum")
    crosses = F.floor((F.col("cum") - F.col("nt")) / float(seq_len)) != F.floor(
        (F.col("cum") - 1) / float(seq_len)
    )
    return cum.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("cum").cast("long").alias("total_tokens"),
        F.ceil(F.max("cum") / float(seq_len)).cast("long").alias("n_sequences"),
        F.count(F.when(crosses, 1)).cast("long").alias("n_boundary_docs"),
    )


@query(
    "t_filter_funnel",
    oracle=f"""
WITH m AS (
  SELECT source,
         (n_chars BETWEEN 100 AND 2000) AS len_ok,
         (CAST(len(replace(text, ' ', '')) AS DOUBLE) / {SQL_NTOK}
            BETWEEN 3 AND 10) AS tokavg_ok,
         (CAST({_sql_marker_count(LANG_MARKERS['en'])} AS DOUBLE) / {SQL_NTOK}
            >= 0.02) AS stop_ok
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN NOT len_ok THEN 1 END) AS BIGINT) AS fail_length,
       CAST(count(CASE WHEN len_ok AND NOT tokavg_ok THEN 1 END) AS BIGINT)
         AS fail_token_len,
       CAST(count(CASE WHEN len_ok AND tokavg_ok AND NOT stop_ok THEN 1 END)
         AS BIGINT) AS fail_stopwords,
       CAST(count(CASE WHEN len_ok AND tokavg_ok AND stop_ok THEN 1 END)
         AS BIGINT) AS kept
FROM m GROUP BY source
""",
)
def t_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel (the CCNet/Gopher-style keep/drop report every
    corpus pipeline publishes): rule-ordered drop counts — length gate,
    then mean-token-length gate, then stopword-density gate — and the
    surviving count, per source. Single pass, conditional counts only."""
    d = t(spark, sf_dir, "documents")
    len_ok = F.col("n_chars").between(100, 2000)
    tokavg_ok = avg_token_len("text").between(3, 10)
    stop_ok = stopword_ratio("text", LANG_MARKERS["en"]) >= 0.02
    m = d.select(
        "source",
        len_ok.alias("len_ok"),
        tokavg_ok.alias("tokavg_ok"),
        stop_ok.alias("stop_ok"),
    )
    return m.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count(F.when(~F.col("len_ok"), 1)).cast("long").alias("fail_length"),
        F.count(F.when(F.col("len_ok") & ~F.col("tokavg_ok"), 1))
        .cast("long")
        .alias("fail_token_len"),
        F.count(
            F.when(F.col("len_ok") & F.col("tokavg_ok") & ~F.col("stop_ok"), 1)
        )
        .cast("long")
        .alias("fail_stopwords"),
        F.count(
            F.when(F.col("len_ok") & F.col("tokavg_ok") & F.col("stop_ok"), 1)
        )
        .cast("long")
        .alias("kept"),
    )


@query(
    "t_top_tokens",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({SQL_TOKENS}) AS tok FROM documents),
counts AS (
  SELECT source, tok, count(*) AS n FROM tok GROUP BY source, tok),
ranked AS (
  SELECT source, tok, n,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n DESC, tok ASC) AS INTEGER) AS rank
  FROM counts)
SELECT source, tok, CAST(n AS BIGINT) AS n, rank
FROM ranked WHERE rank <= 5
""",
)
def t_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source top-5 vocabulary (the 'what is this corpus made of'
    report): explode → count → rank with a deterministic (count desc, token
    asc) tie-break. Partial aggregation absorbs the token explosion before
    the shuffle — the exchange moves (source, token, partial count), never
    token instances."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("source", "tok", F.col("n").cast("long").alias("n"), "rank")
    )


@query(
    "t_idf_common",
    oracle=f"""
WITH dtok AS (
  SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS tok FROM documents),
df_counts AS (
  SELECT tok, count(*) AS df FROM dtok GROUP BY tok)
SELECT tok, CAST(df AS BIGINT) AS df,
       (round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df), 6) + 0)
         AS idf
FROM df_counts
ORDER BY df DESC, tok ASC LIMIT 10
""",
)
def t_idf_common(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency / IDF table head (the weighting every TF-IDF or
    stopword-discovery pass needs): distinct tokens per doc → df →
    ln(N/df), top-10 most common with deterministic tie-break. N rides a
    1-row broadcast crossJoin — lazy, no driver-side count."""
    d = t(spark, sf_dir, "documents")
    total = d.agg(F.count("*").alias("_n"))
    dfc = (
        d.select("doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    return (
        dfc.crossJoin(F.broadcast(total))
        .select(
            "tok",
            F.col("df").cast("long").alias("df"),
            F.round(F.log(F.col("_n").cast("double") / F.col("df")), 6).alias("idf"),
        )
        .orderBy(F.col("df").desc(), F.col("tok").asc())
        .limit(10)
    )


_BM25_TERMS = ["table", "scan", "window"]


def _sql_bm25_frags(
    terms: list[str], k1: float = 1.2, b: float = 0.75
) -> tuple[str, str, str]:
    """The three generated fragments of the static-BM25 DuckDB twin
    (per-term tf columns, per-term df aggregates, the fixed-order part
    sum) — constant-folded the way the Spark build folds them so the
    doubles match bit-for-bit. ONE copy, shared by _sql_bm25 and
    _sql_bm25_prf's feedback stage."""
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(t, x -> x = '{w}')) AS DOUBLE) AS tf{i}"
        for i, w in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"CAST(count(CASE WHEN tf{i} > 0 THEN 1 END) AS DOUBLE) AS df{i}"
        for i in range(len(terms))
    )
    parts = " + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1 + 1.0}) / (tf{i} + {k1} * ({1.0 - b} + {b} * dl / avgdl))"
        for i in range(len(terms))
    )
    return tf_cols, df_cols, parts


def _sql_bm25(terms: list[str], k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of operators/bm25.bm25_topk."""
    tf_cols, df_cols, parts = _sql_bm25_frags(terms, k1, b)
    return f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS t, CAST({SQL_NTOK} AS DOUBLE) AS dl
  FROM documents),
tf AS (
  SELECT doc_id, dl,
         {tf_cols}
  FROM toks),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(dl) / count(*) AS avgdl,
         {df_cols}
  FROM tf)
SELECT doc_id, (round({parts}, 6) + 0) AS bm25
FROM tf, stats
ORDER BY bm25 DESC, doc_id ASC LIMIT 10
"""


@query("t_bm25_topk", oracle=_sql_bm25(_BM25_TERMS))
def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed bag of query terms (the lexical half
    of hybrid retrieval; operators/bm25.py): per-term tf as token-array
    expressions (no explode), corpus stats via one tiny broadcast
    aggregate, single scan."""
    from ..operators.bm25 import bm25_topk

    return bm25_topk(t(spark, sf_dir, "documents"), _BM25_TERMS, k=10)


# ---------------------------------------------------------------------------
# Round-2 additions: decontamination, phrase mining, PII scrubbing, Zipf
# vocabulary diagnostics. Same discipline as above: integer-exact where
# possible, token arrays projected before HOFs consume them, shuffles move
# keys/ids — never document text.
# ---------------------------------------------------------------------------

_EVAL_SOURCE = "src0"  # the held-out "benchmark" slice for decontamination


@query(
    "t_decontaminate",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, {SQL_TOKENS} AS w FROM documents),
g AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
             range(1, len(w) - 3),
             i -> array_to_string(list_slice(w, i, i + 4), ' ')))) AS g
  FROM tok WHERE len(w) >= 5),
ev AS (SELECT DISTINCT g FROM g WHERE source = '{_EVAL_SOURCE}'),
hits AS (
  SELECT DISTINCT t.doc_id, t.source
  FROM g t JOIN ev USING (g) WHERE t.source != '{_EVAL_SOURCE}'),
base AS (
  SELECT source, count(*) AS n FROM documents
  WHERE source != '{_EVAL_SOURCE}' GROUP BY source),
c AS (SELECT source, count(*) AS nc FROM hits GROUP BY source)
SELECT base.source AS source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(coalesce(nc, 0) AS BIGINT) AS n_contaminated,
       (round(CAST(coalesce(nc, 0) AS DOUBLE) / n, 6) + 0) AS contam_rate
FROM base LEFT JOIN c ON base.source = c.source
""",
)
def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the n-gram-collision check every training
    pipeline runs against its eval sets; public method from GPT-3/PaLM
    appendix decontamination): treat one source as the held-out benchmark,
    flag every training document sharing any word 5-gram with it.

    Scale shape: the eval n-gram set is DISTINCT'd then BROADCAST — the
    100 TB train side never shuffles; each partition streams its exploded
    grams past the in-memory hash set (a broadcast-hash-semi-join). The
    per-doc `array_distinct` bounds the explosion at one gram per token."""
    return contamination_report(t(spark, sf_dir, "documents"), _EVAL_SOURCE)


def contamination_report(d: DataFrame, eval_source: str) -> DataFrame:
    """The decontamination plan over any documents-shaped frame
    (doc_id, source, text) — see t_decontaminate for the scale rationale.
    Shared by the catalog query and scripts/scale_smoke_decontam.py."""
    tok = d.select("doc_id", "source", tokens("text").alias("w"))
    g5 = F.when(
        F.size("w") >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 4),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, 5)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = tok.select("doc_id", "source", F.explode(g5).alias("g"))
    eval_grams = (
        grams.filter(F.col("source") == eval_source).select("g").distinct()
    )
    hits = (
        grams.filter(F.col("source") != eval_source)
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id", "source")
        .distinct()
    )
    base = (
        d.filter(F.col("source") != eval_source)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    contam = hits.groupBy("source").agg(F.count("*").alias("nc"))
    return base.join(contam, "source", "left").select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.coalesce(F.col("nc"), F.lit(0)).cast("long").alias("n_contaminated"),
        F.round(
            F.coalesce(F.col("nc"), F.lit(0)).cast("double") / F.col("n"), 6
        ).alias("contam_rate"),
    )


_PHRASES = ["table hash", "part filter", "merge group"]


@query(
    "t_phrase_stats",
    oracle=f"""
WITH tok AS (SELECT source, {SQL_TOKENS} AS w FROM documents),
bg AS (
  SELECT source,
         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]) AS b
  FROM tok),
per AS (
  SELECT source, p.phrase,
         len(list_filter(b, x -> x = p.phrase)) AS n
  FROM bg, (VALUES {", ".join(f"('{p}')" for p in _PHRASES)}) p(phrase))
SELECT source, phrase,
       CAST(sum(n) AS BIGINT) AS n_occurrences,
       CAST(count(CASE WHEN n > 0 THEN 1 END) AS BIGINT) AS n_docs_with
FROM per GROUP BY source, phrase
""",
)
def t_phrase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase (adjacent-bigram) frequency per source for a fixed
    phrase list — the n-gram/collocation count behind phrase mining and
    tokenizer-merge audits.

    Implemented NARROW: each doc builds its bigram array in its own
    projection and counts matches with `filter` — no posexplode +
    positional self-join (which would shuffle one row per token; at 100 TB
    that plan moves the whole corpus through an exchange keyed on doc_id).
    The only shuffle here is the final (source, phrase) aggregate."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("source", tokens("text").alias("w"))
    bigrams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat(
                F.element_at(F.col("w"), i.cast("int")),
                F.lit(" "),
                F.element_at(F.col("w"), (i + 1).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = tok.select("source", bigrams.alias("b"))
    per = bg.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("phrase"),
                        F.size(
                            F.filter(F.col("b"), lambda x: x == F.lit(p))
                        ).alias("n"),
                    )
                    for p in _PHRASES
                ]
            )
        ).alias("pc"),
    ).select("source", F.col("pc.phrase").alias("phrase"), F.col("pc.n").alias("n"))
    return per.groupBy("source", "phrase").agg(
        F.sum("n").cast("long").alias("n_occurrences"),
        F.count(F.when(F.col("n") > 0, 1)).cast("long").alias("n_docs_with"),
    )


# Dialect-portable redaction patterns (Java regex and RE2 agree on these).
_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"


@query(
    "t_scrub_pii",
    oracle=f"""
WITH contact AS (
  SELECT c_mktsegment,
         printf('reach %s at user%d@example.com or +1-%03d-%04d soon',
                c_name, c_custkey, c_custkey % 1000, c_custkey % 10000) AS txt
  FROM customer),
red AS (
  SELECT c_mktsegment, txt,
         regexp_replace(regexp_replace(txt, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS clean
  FROM contact)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(len(regexp_extract_all(txt, '{_EMAIL_RE}'))) AS BIGINT)
         AS n_emails,
       CAST(sum(len(regexp_extract_all(txt, '{_PHONE_RE}'))) AS BIGINT)
         AS n_phones,
       CAST(sum(len(txt) - len(clean)) AS BIGINT) AS chars_delta
FROM red GROUP BY c_mktsegment
""",
)
def t_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing audit (emails + phone numbers → placeholder tokens).
    The fixture corpus carries no organic PII, so the query synthesizes a
    deterministic contact line per customer row FROM existing columns and
    then exercises the real redaction path: regex match-count + global
    replace + redacted-mass accounting, per market segment.

    The patterns are written in the common Java-regex/RE2 subset so the
    DuckDB twin replays them verbatim. All outputs integer-exact. At scale
    this is a pure narrow map — no shuffle except the final aggregate."""
    c = t(spark, sf_dir, "customer")
    txt = F.format_string(
        "reach %s at user%d@example.com or +1-%03d-%04d soon",
        F.col("c_name"),
        F.col("c_custkey"),
        F.col("c_custkey") % 1000,
        F.col("c_custkey") % 10000,
    )
    red = c.select(
        "c_mktsegment",
        txt.alias("txt"),
        F.regexp_replace(
            F.regexp_replace(txt, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("clean"),
    )
    return red.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.regexp_count("txt", F.lit(_EMAIL_RE))).cast("long").alias("n_emails"),
        F.sum(F.regexp_count("txt", F.lit(_PHONE_RE))).cast("long").alias("n_phones"),
        F.sum(F.length("txt") - F.length("clean")).cast("long").alias("chars_delta"),
    )


@query(
    "t_zipf_slope",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({SQL_TOKENS}) AS tok FROM documents),
counts AS (
  SELECT source, tok, count(*) AS n FROM tok GROUP BY source, tok),
ranked AS (
  SELECT source, n,
         row_number() OVER (PARTITION BY source
                            ORDER BY n DESC, tok ASC) AS rank
  FROM counts),
vocab AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS vocab_size,
         CAST(count(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_hapax
  FROM counts GROUP BY source),
slope AS (
  SELECT source,
         (round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
           + 0) AS zipf_slope
  FROM ranked WHERE rank <= 50 GROUP BY source)
SELECT vocab.source AS source, vocab_size, n_hapax, zipf_slope
FROM vocab JOIN slope ON vocab.source = slope.source
""",
)
def t_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary diagnostics per source: size, hapax-legomena count, and
    the Zipf rank-frequency slope (ln n vs ln rank regression over the top
    50 ranks) — the corpus-health fingerprint that flags template-y or
    machine-generated slices (natural text sits near slope -1).

    The token explosion is absorbed by partial aggregation before the
    (source, token) shuffle; the regression runs on ≤50 rows per source."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    vocab = counts.groupBy("source").agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.count(F.when(F.col("n") == 1, 1)).cast("long").alias("n_hapax"),
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("tok").asc())
    ranked = counts.withColumn("rank", F.row_number().over(w))
    slope = (
        ranked.filter(F.col("rank") <= 50)
        .groupBy("source")
        .agg(
            F.round(
                F.regr_slope(
                    F.log(F.col("n").cast("double")),
                    F.log(F.col("rank").cast("double")),
                ),
                6,
            ).alias("zipf_slope")
        )
    )
    return vocab.join(slope, "source")


_PHRASE_Q_TERMS = ["scan", "window"]
_PHRASE_Q = "table hash"


def _sql_bm25_phrase(
    terms: list[str], phrase: str, k1: float = 1.2, b: float = 0.75,
    weight: float = 1.5,
) -> str:
    """DuckDB twin of operators/bm25.bm25_phrase_topk — same folded
    expression shapes as _sql_bm25 so the doubles match bit-for-bit; the
    phrase tf comes from the bigram list, mirroring the Spark build."""
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(t, x -> x = '{w}')) AS DOUBLE) AS tf{i}"
        for i, w in enumerate(terms)
    )
    bigram = "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])"
    df_cols = ",\n         ".join(
        f"CAST(count(CASE WHEN tf{i} > 0 THEN 1 END) AS DOUBLE) AS df{i}"
        for i in range(len(terms))
    )

    def part(tf: str, df: str) -> str:
        return (
            f"ln(1.0 + (n - {df} + 0.5) / ({df} + 0.5))"
            f" * ({tf} * {k1 + 1.0}) / ({tf} + {k1} * ({1.0 - b} + {b} * dl / avgdl))"
        )

    parts = " + ".join(part(f"tf{i}", f"df{i}") for i in range(len(terms)))
    return f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS t, CAST({SQL_NTOK} AS DOUBLE) AS dl
  FROM documents),
tf AS (
  SELECT doc_id, dl,
         {tf_cols},
         CAST(len(list_filter({bigram}, x -> x = '{phrase}')) AS DOUBLE) AS tfp
  FROM toks),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(dl) / count(*) AS avgdl,
         {df_cols},
         CAST(count(CASE WHEN tfp > 0 THEN 1 END) AS DOUBLE) AS dfp
  FROM tf)
SELECT doc_id, (round({parts} + {part("tfp", "dfp")} * {weight}, 6) + 0) AS bm25
FROM tf, stats
ORDER BY bm25 DESC, doc_id ASC LIMIT 10
"""


@query("t_bm25_phrase", oracle=_sql_bm25_phrase(_PHRASE_Q_TERMS, _PHRASE_Q))
def t_bm25_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-boosted BM25 top-10 (operators/bm25.py::bm25_phrase_topk):
    the exact phrase scores as a weighted virtual term whose tf is the
    per-doc adjacent-bigram count — positional relevance without a
    positional index or any row explosion."""
    from ..operators.bm25 import bm25_phrase_topk

    return bm25_phrase_topk(
        t(spark, sf_dir, "documents"), _PHRASE_Q_TERMS, _PHRASE_Q, k=10
    )


# DoReMi-style domain reweighting targets: three upweighted head domains,
# the rest share the remaining mass uniformly. repr'd doubles so the Spark
# literals and the DuckDB VALUES parse to identical float64s.
_MIX_HEAD = {"src0": 0.2, "src1": 0.15, "src2": 0.15}
_MIX_REST = (1.0 - sum(_MIX_HEAD.values())) / 17  # src3..src19
_MIX_TARGETS = {
    **_MIX_HEAD,
    **{f"src{i}": _MIX_REST for i in range(3, 20)},
}
_MIX_SQL_VALUES = ", ".join(
    f"('{s}', CAST({w!r} AS DOUBLE))" for s, w in _MIX_TARGETS.items()
)


@query(
    "t_domain_mixture",
    oracle=f"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum({SQL_NTOK}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (
  SELECT per.*, CAST(sum(n_tokens) OVER () AS DOUBLE) AS tot_tokens
  FROM per),
tgt(source, t_share) AS (VALUES {_MIX_SQL_VALUES})
SELECT t.source, n_docs, n_tokens,
       (round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) + 0) AS current_share,
       (round(t_share, 6) + 0) AS target_share,
       (round(least(1.0, t_share * (0.5 * tot_tokens)
                         / CAST(n_tokens AS DOUBLE)), 6) + 0)
         AS sample_fraction,
       CAST(floor(least(1.0, t_share * (0.5 * tot_tokens)
                             / CAST(n_tokens AS DOUBLE))
                  * CAST(n_tokens AS DOUBLE)) AS BIGINT) AS expected_tokens
FROM tot t JOIN tgt USING (source)
""",
)
def t_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting plan (DoReMi / The Pile-style corpus
    mixing, public methods): given literal target mixture weights per
    source domain and a token budget (50% of the corpus), derive each
    domain's sampling fraction = min(1, target_share · budget / tokens) and
    its expected token yield — the table a training-data pipeline feeds to
    its per-domain samplers (stratified_sample_by takes exactly these
    fractions). One shuffle (per-source agg); the global total rides a
    window over the 20-row aggregate, and the weight table folds into the
    plan as a literal map — nothing driver-side, no second scan."""
    d = t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(n_tokens("text")).cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window

    tot = F.sum("n_tokens").over(Window.partitionBy()).cast("double")
    m = F.create_map(
        *[x for s, w in _MIX_TARGETS.items() for x in (F.lit(s), F.lit(w))]
    )
    t_share = m[F.col("source")]
    # reference the materialized tot_tokens COLUMN (not the window
    # expression again) so the plan carries exactly one Window node
    frac = F.least(
        F.lit(1.0),
        t_share
        * (F.lit(0.5) * F.col("tot_tokens"))
        / F.col("n_tokens").cast("double"),
    )
    return (
        per.withColumn("tot_tokens", tot)
        .filter(t_share.isNotNull())
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("tot_tokens"), 6)
            .alias("current_share"),
            F.round(t_share, 6).alias("target_share"),
            F.round(frac, 6).alias("sample_fraction"),
            F.floor(frac * F.col("n_tokens").cast("double"))
            .cast("long")
            .alias("expected_tokens"),
        )
    )


@query(
    "t_bigram_logprob",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {SQL_TOKENS} AS t FROM documents
), bigrams AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2
), cab AS (
  SELECT bg, CAST(count(*) AS DOUBLE) AS c_ab FROM bigrams GROUP BY bg
), ca AS (
  SELECT string_split(bg, ' ')[1] AS a, CAST(sum(c_ab) AS DOUBLE) AS c_a
  FROM cab GROUP BY 1
), v AS (
  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab
  FROM (SELECT unnest(t) AS tok FROM toks)
), doc_scores AS (
  SELECT b.doc_id, b.source,
         avg(ln((c.c_ab + 1.0) / (a.c_a + v.vocab))) AS doc_lp
  FROM bigrams b
  JOIN cab c ON b.bg = c.bg
  JOIN ca a ON string_split(b.bg, ' ')[1] = a.a
  CROSS JOIN v
  GROUP BY b.doc_id, b.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       (round(avg(doc_lp), 6) + 0) AS avg_bigram_logprob
FROM doc_scores GROUP BY source
""",
)
def t_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram LM quality score (the CCNet-style LM filter with
    the corpus as its own LM): per document, the mean add-one-smoothed
    conditional log-likelihood ln((c(a,b)+1)/(c(a)+V)) of its bigrams,
    aggregated per source. Gibberish scores far below template text — the
    standard perplexity-bucket signal, here with an exact SQL twin instead
    of an opaque model.

    Scale shape: bigram/unigram count tables are corpus-reduced aggregates
    (shuffle carries (bigram, partial count), never documents); the scoring
    join keys exploded bigrams against the count tables — at web scale the
    count tables are the small side (vocabulary², zipf-truncated) and
    broadcast; V is a 1-row lazy aggregate crossJoined in."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", tokens("text").alias("t")).filter(
        F.size("t") >= 2
    )
    bigrams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("t", i), F.element_at("t", i + 1)
                ),
            )
        ).alias("bg"),
    )
    cab = bigrams.groupBy("bg").agg(F.count("*").cast("double").alias("c_ab"))
    ca = cab.groupBy(
        F.split("bg", " ").getItem(0).alias("a")
    ).agg(F.sum("c_ab").alias("c_a"))
    vocab = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("vocab"))
    )
    doc_scores = (
        bigrams.join(cab, "bg")
        .join(ca, F.split("bg", " ").getItem(0) == F.col("a"))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "source")
        .agg(
            F.avg(
                F.log(
                    (F.col("c_ab") + F.lit(1.0))
                    / (F.col("c_a") + F.col("vocab"))
                )
            ).alias("doc_lp")
        )
    )
    return doc_scores.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("doc_lp"), 6).alias("avg_bigram_logprob"),
    )


_NB_THRESH = 0.06  # weak-label boundary on the en-stopword ratio


@query(
    "t_nb_quality",
    oracle=f"""
WITH lab AS (
  SELECT doc_id, text,
         CASE WHEN CAST({_sql_marker_count(LANG_MARKERS['en'])} AS DOUBLE)
                   / CAST({SQL_NTOK} AS DOUBLE) >= {_NB_THRESH}
              THEN 1 ELSE 0 END AS y
  FROM documents),
tok AS (SELECT doc_id, y, unnest({SQL_TOKENS}) AS tok FROM lab),
cnt AS (
  SELECT tok,
         sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c0
  FROM tok GROUP BY tok),
tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0, count(*) AS v FROM cnt),
w AS (
  SELECT tok,
         CAST(round(ln(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + v AS DOUBLE))
                    - ln(CAST(c0 + 1 AS DOUBLE) / CAST(n0 + v AS DOUBLE)),
                    9) AS DECIMAL(24,9)) AS wd
  FROM cnt, tot),
pri AS (
  SELECT ln(CAST(sum(y) AS DOUBLE) / CAST(sum(1 - y) AS DOUBLE)) AS prior
  FROM lab),
sc AS (
  SELECT tok.doc_id, sum(w.wd) AS s
  FROM tok JOIN w USING (tok) GROUP BY tok.doc_id)
SELECT sc.doc_id, CAST(lab.y AS INTEGER) AS label,
       (round(CAST(sc.s AS DOUBLE) + pri.prior, 6) + 0) AS nb_log_odds
FROM sc JOIN lab USING (doc_id), pri
ORDER BY CAST(sc.s AS DOUBLE) + pri.prior DESC, sc.doc_id
LIMIT 20
""",
)
def t_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality classifier as a catalog query: multinomial Naive
    Bayes (Laplace-smoothed) fit against a CCNet-style weak label (en
    stopword ratio >= 0.06 — the 'looks like the reference corpus'
    proxy), self-scored, top-20 docs by log-odds. The whole train+score
    is ONE lazy plan: a (token, class) count aggregate, broadcast
    log-ratio weights, an exact DECIMAL per-doc sum — closed-form
    training a 100 TB corpus can afford (contrast ml/quality's
    iterative logreg, whose per-iteration job makes it an offline op).
    Integer sufficient statistics make the result bit-deterministic and
    fully SQL-expressible — hence a real DuckDB twin, not a fixture."""
    from ..functions.text import stopword_ratio
    from ..ml.quality import nb_quality_log_odds

    d = t(spark, sf_dir, "documents")
    labeled = d.withColumn(
        "_lbl", stopword_ratio("text", LANG_MARKERS["en"]) >= _NB_THRESH
    )
    scored = nb_quality_log_odds(labeled, "_lbl")
    return scored.orderBy(
        F.col("nb_log_odds").desc(), F.col("doc_id").asc()
    ).limit(20).select(
        "doc_id", "label", F.round("nb_log_odds", 6).alias("nb_log_odds")
    )


@query(
    "t_heavy_hitters",
    oracle=f"""
WITH tok AS (
  SELECT unnest({SQL_TOKENS}) AS tok FROM documents),
counts AS (
  SELECT tok, count(*) AS n FROM tok GROUP BY tok),
ranked AS (
  SELECT tok, CAST(n AS BIGINT) AS n,
         CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS INTEGER) AS rank
  FROM counts)
SELECT tok, n, rank FROM ranked WHERE rank <= 20
""",
)
def t_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide top-20 tokens via the Misra-Gries + exact-recount
    operator (operators/heavyhitters.py): one bounded-memory candidate
    scan (<= capacity counters per task, no shuffle over the token
    domain), then a broadcast-semi-joined exact recount of candidates
    only. The plan CERTIFIES exactness (k-th count > n/(capacity+1)) and
    raises rather than under-report — so this query's oracle twin is the
    plain exact SQL, not an approximation contract. The scale win over
    t_top_tokens' groupBy: the exchange here is bounded by capacity *
    partitions however large the vocabulary (URLs/n-grams/user-ids), the
    classic sketch->verify shape for 100 TB frequency reports."""
    from ..operators.heavyhitters import heavy_hitters

    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    res = heavy_hitters(toks, "tok", 20, capacity=512)
    return res.select("tok", F.col("cnt").cast("long").alias("n"), "rank")


@query(
    "t_mixture_sample",
    oracle=expected_oracle("t_mixture_sample", sf_bound=True),
)
def t_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END domain-mixture materialization: the per-source sampling
    fractions t_domain_mixture derives (DoReMi target shares against a
    50% token budget) actually DRAW the sample — fraction table
    broadcast onto the documents scan, membership decided by the
    content-keyed xxhash64 bucket (operators/sampling's shared family:
    reproducible across layouts/sessions/appends) — and the report shows
    the achieved mixture: sampled docs/tokens per domain and the
    achieved share vs target. Fully lazy (fractions are a lazy aggregate
    broadcast back; two passes over documents total, the
    stratified-sampler shape). Oracle: expected-parquet (content-keyed
    draw has no DuckDB replay; sf-bound, hostile-conf verified)."""
    from ..operators.sampling import _hash_bucket
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(n_tokens("text")).cast("long").alias("n_tokens")
    )
    tot = F.sum("n_tokens").over(Window.partitionBy()).cast("double")
    m = F.create_map(
        *[x for s, w in _MIX_TARGETS.items() for x in (F.lit(s), F.lit(w))]
    )
    t_share = m[F.col("source")]
    frac = F.least(
        F.lit(1.0),
        t_share
        * (F.lit(0.5) * F.col("tot_tokens"))
        / F.col("n_tokens").cast("double"),
    )
    fracs = (
        per.withColumn("tot_tokens", tot)
        .filter(t_share.isNotNull())
        .select(
            "source",
            F.round(t_share, 6).alias("target_share"),
            frac.alias("_frac"),
        )
    )
    sampled = d.join(F.broadcast(fracs), "source").where(
        _hash_bucket(["doc_id"], 7)
        < (F.col("_frac") * F.lit(1_000_000.0)).cast("long")
    )
    rep = sampled.groupBy("source").agg(
        F.count("*").cast("long").alias("sampled_docs"),
        F.sum(n_tokens("text")).cast("long").alias("sampled_tokens"),
        F.first("target_share").alias("target_share"),
    )
    stot = F.sum("sampled_tokens").over(Window.partitionBy()).cast("double")
    return rep.withColumn("_stot", stot).select(
        "source",
        "sampled_docs",
        "sampled_tokens",
        "target_share",
        F.round(
            F.col("sampled_tokens").cast("double") / F.col("_stot"), 4
        ).alias("achieved_share"),
    )


# ---------------------------------------------------------------------------
# Round-4 sixth-session additions.
# ---------------------------------------------------------------------------

_LINE_L = 5  # tokens per "line" segment for corpus line dedup


@query(
    "t_line_dedup",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS tk FROM documents
), seg AS (
  SELECT doc_id, u.i - 1 AS cidx,
         array_to_string(tk[((u.i-1)*{_LINE_L}+1):(u.i*{_LINE_L})], ' ') AS chunk
  FROM toks, unnest(range(1, CAST(ceil(len(tk)/{_LINE_L}.0) AS BIGINT)+1)) u(i)
), ranked AS (
  SELECT doc_id, cidx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
  FROM seg
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS dropped_lines,
         coalesce(array_to_string(
           list(chunk ORDER BY cidx) FILTER (WHERE rn = 1), ' '), '') AS clean_text
  FROM ranked GROUP BY doc_id
)
SELECT doc_id, n_lines, dropped_lines,
       CAST(CASE WHEN clean_text = '' THEN 0
                 ELSE len(string_split(clean_text, ' ')) END AS BIGINT)
         AS clean_tokens,
       clean_text
FROM agg
""",
)
def t_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style corpus-level line dedup (north-star pretraining
    op the doc-granularity family doesn't cover): every repeated
    {_LINE_L}-token line keeps only its first occurrence corpus-wide and
    each document is REWRITTEN from its surviving lines — the rewrite form,
    vs d_substring_spans' report form. One md5-keyed window exchange
    (digests + ids, never text) + a small dropped-index join; operator scale
    notes in operators/dedup.line_dedup."""
    from ..operators.dedup import line_dedup

    return line_dedup(t(spark, sf_dir, "documents"), line_tokens=_LINE_L)


def _text_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build-once/probe-many inverted index for the documents fixture
    (same offline-build contract as nonsql_queries._ivf_index_for: index
    construction is an offline job, not query work), memoized with
    cache.memo_dir."""
    from ..operators.invindex import text_index_write

    return cache.memo_dir(
        "tidx",
        [os.path.join(sf_dir, "documents.parquet")],
        build=lambda path: text_index_write(t(spark, sf_dir, "documents"), path, num_buckets=16),
    )


@query("t_bm25_indexed", oracle=_sql_bm25(_BM25_TERMS))
def t_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 served from the PREBUILT inverted index — the serving
    twin of t_bm25_topk, sharing its oracle VERBATIM because the shared
    fixed-order score fold (operators/bm25.bm25_score_expr) makes the
    indexed result bit-identical to the scan path's. The probe reads only
    the query terms' hash buckets (bucket IN (...) PartitionFilters, term
    IN (...) PushedFilters — pinned in tests/test_invindex.py) instead of
    re-tokenizing the corpus; operator scale notes in
    operators/invindex.py."""
    from ..operators.invindex import bm25_topk_indexed

    return bm25_topk_indexed(
        spark, _text_index_for(spark, sf_dir), _BM25_TERMS, k=10
    )


def _text_index_incremental_for(spark: SparkSession, sf_dir: str) -> str:
    """Build-80%/append-20% inverted index for t_bm25_incremental: the
    store is constructed through the INGEST path (text_index_write on the
    hash-keyed 80% split, text_index_append for the rest) rather than one
    offline build. Memoized like _text_index_for."""
    from ..operators.invindex import text_index_append, text_index_write

    def build(path: str) -> None:
        d = t(spark, sf_dir, "documents")
        old = d.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) != 0)
        new = d.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0)
        text_index_write(old, path, num_buckets=16)
        text_index_append(new, path)

    return cache.memo_dir("tidxinc", [os.path.join(sf_dir, "documents.parquet")], build=build)


@query("t_bm25_incremental", oracle=_sql_bm25(_BM25_TERMS))
def t_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 served from an index grown through the INGEST path —
    80% of the corpus built offline, the remaining 20% appended via
    operators/invindex.text_index_append (batch-only tokenize, exact
    integer df/N/total-dl stats merge, no rescan of existing postings).
    Shares t_bm25_topk's full-corpus oracle VERBATIM: the append
    contract is that the grown store is bit-identical to a rebuild, so
    the indexed probe must reproduce the scan path's scores over the
    WHOLE corpus exactly (tests/test_invindex.py pins the parity at the
    operator level; this query puts it under the driver's hash check)."""
    from ..operators.invindex import bm25_topk_indexed

    return bm25_topk_indexed(
        spark, _text_index_incremental_for(spark, sf_dir), _BM25_TERMS, k=10
    )


@query(
    "t_token_shards",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, {SQL_NTOK} AS n_tok,
         row_number() OVER (ORDER BY {SQL_NTOK} DESC, doc_id) AS r
  FROM documents),
assigned AS (
  SELECT CAST(CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
                   ELSE 7 - ((r - 1) % 8) END AS INTEGER) AS shard,
         n_tok
  FROM ranked),
per_shard AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS shard_tokens
  FROM assigned GROUP BY shard)
SELECT shard, n_docs, shard_tokens,
       (round(CAST(shard_tokens AS DOUBLE)
              / avg(CAST(shard_tokens AS DOUBLE)) OVER (), 6) + 0)
         AS balance_ratio
FROM per_shard
""",
)
def t_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced training-shard plan: documents dealt into 8 shards in
    snake order of descending token count (one-pass LPT approximation), so
    every shard ends up with ~equal token mass — the step that decides which
    docs land in which training files before a corpus write-out.

    Spark shape: ranks come from operators/ranking.global_row_number —
    quantile-bucketed, P-way-parallel row_number over a (doc_id, n_tok)
    projection, NOT a single-reducer global sort; text never shuffles. The
    oracle replays the identical total order with a plain row_number (same
    ranks by construction), so the parity also pins the distributed-rank
    implementation against the single-window semantics at sf0.01."""
    from pyspark.sql import Window

    from ..operators.ranking import snake_shards

    d = t(spark, sf_dir, "documents")
    frame = d.select("doc_id", n_tokens("text").alias("n_tok"))
    assigned = snake_shards(
        frame, "n_tok", "doc_id", 8, persist=True, memo_key=(sf_dir,)
    )
    per = assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("shard_tokens"),
    )
    wall = Window.partitionBy()
    return per.select(
        "shard",
        "n_docs",
        "shard_tokens",
        F.round(
            F.col("shard_tokens").cast("double")
            / F.avg(F.col("shard_tokens").cast("double")).over(wall),
            6,
        ).alias("balance_ratio"),
    )


@query(
    "t_chisq_lang_source",
    oracle="""
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2),
tot AS (
  SELECT lang, source, o,
         CAST(sum(o) OVER (PARTITION BY lang) AS BIGINT) AS rt,
         CAST(sum(o) OVER (PARTITION BY source) AS BIGINT) AS ct,
         CAST(sum(o) OVER () AS BIGINT) AS n
  FROM cells),
terms AS (
  SELECT lang, source, n,
         CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
           / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) AS term
  FROM tot),
folded AS (
  SELECT CAST(max(n) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_lang,
         CAST(count(DISTINCT source) AS BIGINT) AS n_source,
         CAST(list_reduce(list(CAST(term AS DOUBLE) ORDER BY lang, source),
                          (a, b) -> a + b) AS DOUBLE) AS s
  FROM terms)
SELECT n_docs,
       (n_lang - 1) * (n_source - 1) AS dof,
       (round(CAST(n_docs AS DOUBLE) * s - CAST(n_docs AS DOUBLE), 6) + 0)
         AS chi2,
       (round(sqrt((CAST(n_docs AS DOUBLE) * s - CAST(n_docs AS DOUBLE))
                   / (CAST(n_docs AS DOUBLE)
                      * CAST(least(n_lang - 1, n_source - 1) AS DOUBLE))),
              6) + 0) AS cramers_v
FROM folded
""",
)
def t_chisq_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between document language and source
    (is the corpus mix uniform across providers?) plus Cramér's V effect
    size — the categorical-association readout next to e_ab_test's
    two-proportion z.

    Uses the identity chi2 = N * sum(o²/(rt*ct)) - N so every input to the
    float stage is an exact BIGINT; the float per-cell terms are then summed
    by a FIXED-ORDER fold over the (lang, source)-sorted cell list — the
    bm25_score_expr discipline — because a parallel float sum reassociates
    the adds and drifts in the last bits run-to-run. All windows/folds run
    on the contingency frame (#langs × #sources rows); the wide pass is one
    grouped count."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    tot = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).cast("long").alias("rt"),
        F.sum("o").over(Window.partitionBy("source")).cast("long").alias("ct"),
        F.sum("o").over(Window.partitionBy()).cast("long").alias("n"),
    )
    terms = tot.select(
        "lang",
        "source",
        "n",
        (
            F.col("o").cast("double")
            * F.col("o").cast("double")
            / (F.col("rt").cast("double") * F.col("ct").cast("double"))
        ).alias("term"),
    )
    folded = terms.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_lang"),
        F.countDistinct("source").cast("long").alias("n_source"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("lang", "source", "term"))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("s"),
    )
    n_d = F.col("n_docs").cast("double")
    chi2 = n_d * F.col("s") - n_d
    return folded.select(
        "n_docs",
        ((F.col("n_lang") - 1) * (F.col("n_source") - 1)).alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    n_d
                    * F.least(
                        F.col("n_lang") - 1, F.col("n_source") - 1
                    ).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# Sentence segmentation shared by the readability query and its oracle:
# non-empty segments between sentence-ending punctuation runs. Both
# engines trim the same whitespace and clamp to >= 1 so a fragment with
# no terminator still counts as one sentence (and empty text cannot
# divide by zero under ANSI).
SQL_NSENT = (
    "greatest(len(list_filter(string_split_regex(text, '[.!?]+'), "
    "s -> len(trim(s)) > 0)), 1)"
)


def _n_sentences() -> "F.Column":
    return F.greatest(
        F.size(
            F.filter(
                F.split("text", r"[.!?]+"),
                lambda s: F.length(F.trim(s)) > 0,
            )
        ),
        F.lit(1),
    )


@query(
    "t_readability_ari",
    oracle=f"""
WITH per_doc AS (
  SELECT lang,
         CAST(n_chars AS BIGINT) AS c,
         CAST({SQL_NTOK} AS BIGINT) AS w,
         CAST({SQL_NSENT} AS BIGINT) AS s
  FROM documents),
scored AS (
  SELECT lang, c, w, s,
         4.71 * (CAST(c AS DOUBLE) / CAST(w AS DOUBLE))
           + 0.5 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 21.43 AS ari
  FROM per_doc)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s) AS BIGINT) AS total_sentences,
       (round(4.71 * (CAST(sum(c) AS DOUBLE) / CAST(sum(w) AS DOUBLE))
              + 0.5 * (CAST(sum(w) AS DOUBLE) / CAST(sum(s) AS DOUBLE))
              - 21.43, 6) + 0) AS corpus_ari,
       (round(min(ari), 6) + 0) AS min_ari,
       (round(max(ari), 6) + 0) AS max_ari
FROM scored
GROUP BY lang
""",
)
def t_readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per language — the quality-filter
    signal reading-level heuristics feed (Flesch-family scores need
    syllables; ARI needs only chars/words/sentences, all countable as
    pure JVM expressions).

    Float discipline: the corpus-level ARI comes from exact BIGINT sums
    (sum chars / sum words / sum sentences) so no float accumulates across
    rows in arbitrary order; per-doc ARIs appear only under min/max, which
    are order-independent. One scan, one grouped aggregate."""
    d = t(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.col("n_chars").cast("long").alias("c"),
        n_tokens("text").cast("long").alias("w"),
        _n_sentences().cast("long").alias("s"),
    )
    ari = (
        4.71 * (F.col("c").cast("double") / F.col("w").cast("double"))
        + 0.5 * (F.col("w").cast("double") / F.col("s").cast("double"))
        - 21.43
    )
    scored = per_doc.withColumn("ari", ari)
    sum_ari = (
        4.71
        * (F.sum("c").cast("double") / F.sum("w").cast("double"))
        + 0.5 * (F.sum("w").cast("double") / F.sum("s").cast("double"))
        - 21.43
    )
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("s").cast("long").alias("total_sentences"),
        F.round(sum_ari, 6).alias("corpus_ari"),
        F.round(F.min("ari"), 6).alias("min_ari"),
        F.round(F.max("ari"), 6).alias("max_ari"),
    )


@query(
    "t_keyword_tfidf",
    oracle=f"""
WITH dtok AS (
  SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS tok FROM documents),
dfc AS (
  SELECT tok, count(*) AS df FROM dtok GROUP BY tok),
tfx AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS tok
  FROM documents WHERE doc_id < 30),
tfc AS (
  SELECT doc_id, tok, count(*) AS tf FROM tfx GROUP BY doc_id, tok),
scored AS (
  SELECT tfc.doc_id, tfc.tok, tfc.tf, dfc.df,
         CAST(tf AS DOUBLE)
           * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df)
           AS score
  FROM tfc JOIN dfc USING (tok)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, tok ASC) AS rank
  FROM scored)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rank AS INTEGER) AS rank,
       tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       (round(score, 6) + 0) AS score
FROM ranked WHERE rank <= 3
""",
)
def t_keyword_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by TF-IDF for a
    requested doc set (doc_id < 30), with document frequency computed over
    the WHOLE corpus — the 'what is this document about' tagging query
    (t_idf_common's per-document counterpart).

    Score = tf * ln(N/df), the same idf shape t_idf_common pins across
    engines; ties break (score DESC, token ASC), deterministic because
    the doubles are bit-identical. Scale shape: the corpus pays one
    distinct-token-per-doc exchange for df (partial agg absorbs the
    explosion); the requested docs' tf table is tiny and BROADCAST into
    the df aggregate — no corpus-sized sort-merge join; N rides a 1-row
    broadcast crossJoin; top-3 per doc compiles to WindowGroupLimit, so
    the rank filter prunes before any exchange."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    total = d.agg(F.count("*").alias("_n"))
    dfc = (
        d.select(F.explode(F.array_distinct(tokens("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    tfc = (
        d.filter(F.col("doc_id") < 30)
        .select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    scored = (
        dfc.join(F.broadcast(tfc), "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * F.log(F.col("_n").cast("double") / F.col("df"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "rank",
            "tok",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("score", 6).alias("score"),
        )
    )


@query(
    "t_ks_drift",
    oracle="""
WITH pts AS (
  SELECT lang, n_chars AS x,
         CASE WHEN CAST(substr(source, 4, 10) AS INT) % 2 = 0 THEN 1 ELSE 0 END AS g
  FROM documents
), cdf AS (
  SELECT lang,
         sum(g) OVER (PARTITION BY lang ORDER BY x) AS ca,
         sum(1 - g) OVER (PARTITION BY lang ORDER BY x) AS cb,
         sum(g) OVER (PARTITION BY lang) AS ta,
         sum(1 - g) OVER (PARTITION BY lang) AS tb
  FROM pts
), diffs AS (
  SELECT lang, ta, tb,
         CASE WHEN ta > 0 AND tb > 0
              THEN abs(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
                       - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
         END AS d
  FROM cdf
)
SELECT lang, CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b,
       (round(max(d), 6) + 0) AS ks
FROM diffs GROUP BY lang ORDER BY lang
""",
)
def t_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic per language:
    KS = max |F_A(x) − F_B(x)| over document lengths, comparing
    even-numbered sources (group A) against odd (group B) — the
    distribution-shift monitor for corpus refreshes (PSI's rank-free
    sibling; v_embedding_drift covers the embedding column, this covers
    a scalar). Returns (lang, n_a, n_b, ks); ks is NULL when a language
    has only one group (statistic undefined).

    Shape (round-8, routed past the coarse-window lint): an empirical
    CDF with tie-collapsing RANGE semantics is exactly an inclusive
    cumulative count over the (lang, x)-DISTINCT counts frame, so the
    per-lang windows never see raw document rows — and the cumulative
    counts route through operators/ranking.auto_grouped_cumsum (plain
    per-lang window while the distinct frame is small, bucketed
    (lang, x-quantile) windows past the threshold: ~5 langs never means
    5 reducers). Group totals are a broadcast lang-sized aggregate.
    Counts stay integer until the final double division (identical IEEE
    quotient in both engines), so no float-sum ordering is in play."""
    from ..operators.ranking import auto_grouped_cumsum

    docs = t(spark, sf_dir, "documents")
    pts = docs.select(
        "lang",
        F.col("n_chars").alias("x"),
        F.when(
            F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("g"),
    )
    counts = pts.groupBy("lang", "x").agg(
        F.sum("g").cast("long").alias("a_c"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    cum = auto_grouped_cumsum(
        auto_grouped_cumsum(counts, "a_c", ["lang"], "x", col_name="ca"),
        "c",
        ["lang"],
        "x",
        col_name="ct",
    )
    totals = counts.groupBy("lang").agg(
        F.sum("a_c").cast("long").alias("ta"),
        (F.sum("c") - F.sum("a_c")).cast("long").alias("tb"),
    )
    cdf = cum.join(F.broadcast(totals), "lang").select(
        "lang",
        "ca",
        (F.col("ct") - F.col("ca")).alias("cb"),
        "ta",
        "tb",
    )
    d = F.when(
        (F.col("ta") > 0) & (F.col("tb") > 0),
        F.abs(
            F.col("ca").cast("double") / F.col("ta").cast("double")
            - F.col("cb").cast("double") / F.col("tb").cast("double")
        ),
    )
    return (
        cdf.withColumn("d", d)
        .groupBy("lang")
        .agg(
            F.max("ta").cast("long").alias("n_a"),
            F.max("tb").cast("long").alias("n_b"),
            F.round(F.max("d"), 6).alias("ks"),
        )
        .orderBy("lang")
    )


@query(
    "t_nb_calibration",
    oracle=f"""
WITH lab AS (
  SELECT doc_id, text,
         CASE WHEN CAST({{marker}} AS DOUBLE)
                   / CAST({{ntok}} AS DOUBLE) >= {{thresh}}
              THEN 1 ELSE 0 END AS y
  FROM documents),
tok AS (SELECT doc_id, y, unnest({{tokens}}) AS tok FROM lab),
cnt AS (
  SELECT tok,
         sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c0
  FROM tok GROUP BY tok),
tot AS (SELECT sum(c1) AS n1, sum(c0) AS n0, count(*) AS v FROM cnt),
w AS (
  SELECT tok,
         CAST(round(ln(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + v AS DOUBLE))
                    - ln(CAST(c0 + 1 AS DOUBLE) / CAST(n0 + v AS DOUBLE)),
                    9) AS DECIMAL(24,9)) AS wd
  FROM cnt, tot),
pri AS (
  SELECT ln(CAST(sum(y) AS DOUBLE) / CAST(sum(1 - y) AS DOUBLE)) AS prior
  FROM lab),
sc AS (
  SELECT tok.doc_id, sum(w.wd) AS s
  FROM tok JOIN w USING (tok) GROUP BY tok.doc_id),
binned AS (
  SELECT sc.doc_id, lab.y,
         CAST(round(1.0 / (1.0 + exp(-(CAST(sc.s AS DOUBLE) + pri.prior)))
                    * 1000000, 0) AS BIGINT) AS pm
  FROM sc JOIN lab USING (doc_id), pri)
SELECT CAST(least(pm // 100000, 9) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       (round(CAST(sum(pm) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE), 6) + 0) AS avg_pred,
       (round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) + 0) AS pos_rate
FROM binned GROUP BY 1 ORDER BY 1
""".format(
        marker=_sql_marker_count(LANG_MARKERS["en"]),
        ntok=SQL_NTOK,
        thresh=_NB_THRESH,
        tokens=SQL_TOKENS,
    ),
)
def t_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the t_nb_quality classifier: predicted
    probability (sigmoid of the NB log-odds) bucketed into deciles vs
    the empirical positive rate per bucket — the calibration check every
    trained quality filter needs before its scores gate data (a
    well-calibrated bin has avg_pred ≈ pos_rate; NB is typically
    over-confident at the extremes, visible here).

    Engine-robust binning: the probability is quantized FIRST to integer
    millionths (round(p·1e6) — one shared double op), and the decile is
    INTEGER division of that, so no float ever meets a bin boundary; bin
    means come from exact integer sums of the same millionths. Same
    one-pass train+score plan as t_nb_quality (integer sufficient
    statistics, DECIMAL per-doc sums) plus one decile groupBy."""
    from ..functions.text import stopword_ratio
    from ..ml.quality import nb_quality_log_odds

    d = t(spark, sf_dir, "documents")
    labeled = d.withColumn(
        "_lbl", stopword_ratio("text", LANG_MARKERS["en"]) >= _NB_THRESH
    )
    scored = nb_quality_log_odds(labeled, "_lbl")
    binned = scored.select(
        F.col("label").alias("y"),
        F.round(
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-F.col("nb_log_odds")))
            * 1000000,
            0,
        )
        .cast("long")
        .alias("pm"),
    )
    return (
        binned.select(
            F.least(F.expr("pm div 100000"), F.lit(9))
            .cast("int")
            .alias("bin"),
            "y",
            "pm",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("pm").cast("double")
                / 1000000.0
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_pred"),
            F.round(
                F.sum("y").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("pos_rate"),
        )
        .orderBy("bin")
    )


@query(
    "t_hashtf_knn",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
),
tf AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS UBIGINT) % 64 AS BIGINT) AS bucket,
         count(*) AS c
  FROM tok GROUP BY doc_id, bucket
),
norms AS (SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS n FROM tf GROUP BY doc_id),
q0 AS (SELECT bucket, c FROM tf WHERE doc_id = 0),
dots AS (
  SELECT tf.doc_id, CAST(sum(tf.c * q0.c) AS BIGINT) AS dot
  FROM tf JOIN q0 USING (bucket) WHERE tf.doc_id <> 0 GROUP BY tf.doc_id
),
scored AS (
  SELECT d.doc_id,
         CAST(d.dot AS DOUBLE) / ((SELECT n FROM norms WHERE doc_id = 0) * nr.n) AS s
  FROM dots d JOIN norms nr ON d.doc_id = nr.doc_id
)
SELECT doc_id, (round(s, 6) + 0) AS score
FROM scored ORDER BY s DESC, doc_id LIMIT 10
""",
)
def t_hashtf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical vector search WITHOUT a trained model: each document is a
    64-bucket feature-HASHED term-frequency vector (the hashing trick —
    md5-bucketed tokens, the r_dp_counts content-keyed discipline, so
    both engines build identical vectors), and the query doc's top-10
    cosine neighbours come from one sparse dot product. This is the
    content-based fallback every pipeline has before embeddings exist,
    and the bridge between the BM25 surface and the dense v_* search.

    Exactness: tf counts and the dot product are INTEGERS (the sparse
    join sums c·c over shared buckets); doubles appear only in the two
    norm square roots and the final division — bit-identical in both
    engines. Shape: tokenize → (doc, bucket) partial-agg counts; the
    query doc's 64-bucket vector broadcasts into the sparse-dot join;
    norms are a second agg over the same tf frame (identical subplan —
    Spark's exchange reuse serves it from the first shuffle)."""
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast(
                    "bigint"
                )
                % 64
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    norms = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("n")
    )
    q0 = tf.filter(F.col("doc_id") == 0).select(
        "bucket", F.col("c").alias("qc")
    )
    n0 = norms.filter(F.col("doc_id") == 0).select(F.col("n").alias("n0"))
    dots = (
        tf.filter(F.col("doc_id") != 0)
        .join(F.broadcast(q0), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("qc")).cast("long").alias("dot"))
    )
    scored = (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(n0))
        .select(
            "doc_id",
            (
                F.col("dot").cast("double") / (F.col("n0") * F.col("n"))
            ).alias("s"),
        )
    )
    return (
        scored.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", F.round("s", 6).alias("score"))
    )


@query(
    "t_pmi_bigrams",
    oracle=r"""
WITH toks AS (
  SELECT string_split_regex(text, '\s+') AS tk FROM documents),
uc AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
bx AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks),
bc AS (
  SELECT a, b, count(*) AS c_ab
  FROM (SELECT tk[i] AS a, tk[i + 1] AS b FROM bx) GROUP BY a, b),
uct AS (SELECT w, c, sum(c) OVER () AS n_uni FROM uc),
bct AS (SELECT a, b, c_ab, sum(c_ab) OVER () AS n_bi FROM bc
        QUALIFY c_ab >= 5),
scored AS (
  SELECT a, b, c_ab, ua.c AS c_a, ub.c AS c_b,
         ln((CAST(c_ab AS DOUBLE) * CAST(ua.n_uni AS DOUBLE)
             * CAST(ua.n_uni AS DOUBLE))
            / (CAST(n_bi AS DOUBLE) * CAST(ua.c AS DOUBLE)
               * CAST(ub.c AS DOUBLE))) AS pmi
  FROM bct JOIN uct ua ON bct.a = ua.w JOIN uct ub ON bct.b = ub.w)
SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab, CAST(c_a AS BIGINT) AS c_a,
       CAST(c_b AS BIGINT) AS c_b, (round(pmi, 6) + 0) AS pmi
FROM scored ORDER BY pmi DESC, a ASC, b ASC LIMIT 20
""",
)
def t_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information bigram collocations: the top-20 adjacent
    word pairs whose joint frequency most exceeds what their marginal
    frequencies predict — the classic collocation extractor (Church & Hanks
    1990) and a corpus-health probe (template-y corpora surface their
    boilerplate here).  pmi = ln(P(ab) / (P(a)P(b))) with P(ab) = c_ab/n_bi
    and P(w) = c_w/n_uni, evaluated as one double expression over exact
    integer counts (identical parse shape in the oracle, so the doubles are
    bit-stable; engine-ln at round-6 is the established house discipline —
    t_bigram_logprob precedent).  A c_ab >= 5 support floor mirrors the
    standard practice of suppressing singleton-noise PMI spikes.

    Scale shape: one exchange for unigram counts, one for bigram counts
    (both map-side partial-agg'ed); corpus totals ride the grouped frames
    as empty-partition window sums (no crossJoin re-scan — round-4 plan
    learning); the two marginal joins are vocabulary-sized, never
    corpus-sized, and the final top-20 is a TakeOrderedAndProject.  The
    bigram transform is a pure JVM expression over a pre-projected token
    array (no per-element re-tokenization)."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    tk = F.col("tk")
    toks = d.select(tokens("text").alias("tk"))
    uc = (
        toks.select(F.explode(tk).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.struct(
                F.element_at(tk, i).alias("a"),
                F.element_at(tk, i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    bc = (
        toks.select(F.explode(bigrams).alias("s"))
        .select("s.a", "s.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    every = Window.partitionBy()
    uct = uc.withColumn("n_uni", F.sum("c").over(every))
    bct = bc.withColumn("n_bi", F.sum("c_ab").over(every)).filter(
        F.col("c_ab") >= 5
    )
    ua = uct.select(F.col("w").alias("a"), F.col("c").alias("c_a"), "n_uni")
    ub = ua.select(F.col("a").alias("b"), F.col("c_a").alias("c_b"), "n_uni")
    scored = (
        bct.join(ua, "a")
        .join(ub.drop("n_uni"), "b")
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            F.log(
                (
                    F.col("c_ab").cast("double")
                    * F.col("n_uni").cast("double")
                    * F.col("n_uni").cast("double")
                )
                / (
                    F.col("n_bi").cast("double")
                    * F.col("c_a").cast("double")
                    * F.col("c_b").cast("double")
                )
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
        .select(
            "a",
            "b",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            F.round("pmi", 6).alias("pmi"),
        )
    )


@query(
    "t_token_entropy",
    oracle=r"""
WITH tok AS (
  SELECT lang, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
vc AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY lang, w),
ag AS (
  SELECT lang, sum(c) AS n, count(*) AS v,
         sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT))
           AS slc
  FROM vc GROUP BY lang)
SELECT lang, CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS vocab,
       (round(ln(CAST(n AS DOUBLE))
              - CAST(slc AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE), 6) + 0)
         AS entropy_nats,
       (CASE WHEN v > 1
             THEN round((ln(CAST(n AS DOUBLE))
                         - CAST(slc AS DOUBLE) / 1000000.0
                           / CAST(n AS DOUBLE))
                        / ln(CAST(v AS DOUBLE)), 6) + 0
        END) AS norm_entropy
FROM ag ORDER BY lang
""",
)
def t_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per language — the corpus-diversity probe
    (low entropy = template/boilerplate corpus, the signal dedup teams
    check before and after d_* passes): Shannon H = ln(N) - (1/N)·Σ c·ln c
    over the per-language vocabulary, plus the vocabulary-size-normalized
    efficiency H/ln(V) (1.0 = uniform usage).

    Exactness: the only cross-row float sum, Σ c·ln(c), quantizes each
    vocabulary row's ln(c) to integer millionths BEFORE the sum
    (t_nb_calibration discipline), so the aggregate is exact integer
    arithmetic and order-independent; the outer ln(N)/ln(V) are one
    engine-ln each on exact integers, round-6 (established house
    treatment).  norm_entropy is NULL for a single-token vocabulary
    (ln(1) = 0 — ANSI guard).

    Scale shape: one (lang, token) partial-agg exchange (the vocabulary
    explosion is absorbed map-side), then a language-sized aggregate.
    Nothing else moves."""
    d = t(spark, sf_dir, "documents")
    vc = (
        d.select("lang", F.explode(tokens("text")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ag = vc.groupBy("lang").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        # DECIMAL(38,0) accumulation (r_theil_index discipline): a raw
        # long sum of c*ln_ppm(c) wraps at ~5e11 corpus tokens while the
        # DuckDB twin's HUGEINT stays exact.
        F.sum(
            F.col("c").cast("decimal(19,0)")
            * F.round(F.log(F.col("c").cast("double")) * 1000000, 0)
            .cast("long")
            .cast("decimal(19,0)")
        ).alias("slc"),
    )
    n_d = F.col("n").cast("double")
    ent = F.log(n_d) - F.col("slc").cast("double") / 1000000.0 / n_d
    return ag.select(
        "lang",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("v").cast("long").alias("vocab"),
        F.round(ent, 6).alias("entropy_nats"),
        F.when(
            F.col("v") > 1,
            F.round(ent / F.log(F.col("v").cast("double")), 6),
        ).alias("norm_entropy"),
    ).orderBy("lang")


def _sql_bm25_prf(seeds: list[str], k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin of operators/bm25.prf_expand_topk: seed BM25 feedback
    stage (same constant-folded shapes as _sql_bm25), integer-deterministic
    expansion pick, then the dynamic-term scorer's fold (list_reduce over a
    term-sorted part list with a 0.0 init — Spark's aggregate() mirror)."""
    tf_cols, df_cols, parts = _sql_bm25_frags(seeds, k1, b)
    seed_list = ", ".join(f"'{w}'" for w in seeds)
    return f"""
WITH toks AS (
  SELECT doc_id, {SQL_TOKENS} AS t, CAST({SQL_NTOK} AS DOUBLE) AS dl
  FROM documents),
tfs AS (
  SELECT doc_id, dl,
         {tf_cols}
  FROM toks),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(dl) / count(*) AS avgdl,
         {df_cols}
  FROM tfs),
fb AS (
  SELECT doc_id FROM (
    SELECT doc_id, (round({parts}, 6) + 0) AS s FROM tfs, stats)
  WHERE s > 0
  ORDER BY s DESC, doc_id ASC LIMIT 10),
dtok AS (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks),
gdf AS (SELECT term, count(*) AS gdf FROM dtok GROUP BY term),
fbc AS (
  SELECT term, count(*) AS fbc
  FROM dtok JOIN fb USING (doc_id) GROUP BY term),
expn AS (
  SELECT term FROM fbc JOIN gdf USING (term)
  WHERE term NOT IN ({seed_list})
  QUALIFY row_number() OVER (ORDER BY fbc DESC, gdf ASC, term ASC) <= 3),
qt AS (SELECT unnest([{seed_list}]) AS term UNION SELECT term FROM expn),
occ AS (SELECT doc_id, dl, unnest(t) AS term FROM toks),
tfq AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
  FROM occ JOIN qt USING (term) GROUP BY doc_id, term),
dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfq GROUP BY term),
parts AS (
  SELECT doc_id,
         ln(1.0 + (n - df + 0.5) / (df + 0.5))
           * (tf * {k1 + 1.0})
           / (tf + {k1} * ({1.0 - b} + {b} * dl / avgdl)) AS part,
         term
  FROM tfq JOIN dfq USING (term), stats),
folded AS (
  SELECT doc_id,
         list_reduce(list_prepend(0.0, list(part ORDER BY term)),
                     (a, x) -> a + x) AS s
  FROM parts GROUP BY doc_id)
SELECT doc_id, (round(s, 6) + 0) AS bm25
FROM folded ORDER BY bm25 DESC, doc_id ASC LIMIT 10
"""


@query("t_bm25_prf", oracle=_sql_bm25_prf(_BM25_TERMS))
def t_bm25_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (operators/bm25.prf_expand_topk):
    BM25 the seed bag, mine 3 expansion terms from the top-10 feedback
    documents (feedback-frequency desc, global df asc — the Rocchio signal
    with integer-deterministic ranking), re-rank with the expanded bag via
    the DYNAMIC-term scorer (bm25._dynamic_topk_from_toks) — terms live in a
    DataFrame, scored through a broadcast join + term-sorted fixed-order
    fold, which is the architecture static per-term columns cannot give a
    data-dependent query.  Fold parity with the static path is exact
    (0.0-init + absent-term-part-is-0.0 are float identities), pinned by
    tests/test_bm25.py."""
    from ..operators.bm25 import prf_expand_topk

    return prf_expand_topk(t(spark, sf_dir, "documents"), _BM25_TERMS)


@query(
    "t_nb_crossval",
    oracle=f"""
WITH lab AS (
  SELECT doc_id, text,
         (strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 3 AS fold,
         CASE WHEN CAST({_sql_marker_count(LANG_MARKERS['en'])} AS DOUBLE)
                   / CAST({SQL_NTOK} AS DOUBLE) >= {_NB_THRESH}
              THEN 1 ELSE 0 END AS y
  FROM documents),
tok AS (SELECT doc_id, fold, y, unnest({SQL_TOKENS}) AS tok FROM lab),
tfc AS (
  SELECT tok, fold,
         sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS cf1,
         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS cf0
  FROM tok GROUP BY tok, fold),
gc AS (SELECT tok, sum(cf1) AS c1, sum(cf0) AS c0 FROM tfc GROUP BY tok),
folds AS (SELECT unnest([0, 1, 2]) AS fold),
tw AS (
  SELECT gc.tok, folds.fold,
         gc.c1 - coalesce(tfc.cf1, 0) AS t1,
         gc.c0 - coalesce(tfc.cf0, 0) AS t0
  FROM gc CROSS JOIN folds
  LEFT JOIN tfc ON tfc.tok = gc.tok AND tfc.fold = folds.fold),
seen AS (SELECT * FROM tw WHERE t1 + t0 > 0),
ftot AS (
  SELECT fold, sum(t1) AS n1, sum(t0) AS n0, count(*) AS v
  FROM seen GROUP BY fold),
w AS (
  SELECT tok, seen.fold,
         CAST(round(ln(CAST(t1 + 1 AS DOUBLE) / CAST(n1 + v AS DOUBLE))
                    - ln(CAST(t0 + 1 AS DOUBLE) / CAST(n0 + v AS DOUBLE)),
                    9) AS DECIMAL(24,9)) AS wd
  FROM seen JOIN ftot ON ftot.fold = seen.fold),
dlab AS (
  SELECT fold, sum(y) AS f1, sum(1 - y) AS f0 FROM lab GROUP BY fold),
pri AS (
  SELECT fold,
         ln(CAST(sum(f1) OVER () - f1 AS DOUBLE)
            / CAST(sum(f0) OVER () - f0 AS DOUBLE)) AS prior
  FROM dlab),
sc AS (
  SELECT tok.doc_id, tok.fold, sum(w.wd) AS s
  FROM tok JOIN w ON w.tok = tok.tok AND w.fold = tok.fold
  GROUP BY tok.doc_id, tok.fold),
pred AS (
  SELECT lab.doc_id, lab.fold,
         CASE WHEN coalesce(CAST(sc.s AS DOUBLE), 0.0) + pri.prior > 0
              THEN 1 ELSE 0 END AS yhat,
         lab.y
  FROM lab JOIN pri ON pri.fold = lab.fold
  LEFT JOIN sc ON sc.doc_id = lab.doc_id)
SELECT CAST(fold AS INTEGER) AS fold, CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN yhat = y THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       (round(CAST(sum(CASE WHEN yhat = y THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(count(*) AS DOUBLE), 6) + 0) AS accuracy
FROM pred GROUP BY fold ORDER BY fold
""",
)
def t_nb_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-fold cross-validated accuracy of the NB quality classifier
    (t_nb_quality's model) — the model-selection readout that separates
    'scores the training data' from 'generalizes'.  The key trick that
    keeps the whole CV ONE lazy plan with a full SQL twin: Naive Bayes
    training is count algebra, so each fold's leave-fold-out model is the
    GLOBAL (token, class) counts MINUS that fold's counts — one token-fold
    aggregate feeds all three models, no per-fold re-scan.  Folds are
    content-keyed (md5 hex of doc_id, the hash_sample/e_ab_test keying
    family — layout- and session-independent, and exactly mirrorable in
    SQL unlike xxhash64).  Per-fold vocabulary, Laplace totals and priors
    all derive from the same subtraction; tokens unseen in a fold's
    training complement are ignored at scoring (standard OOV choice), a
    document with NO trained token is classified by the prior alone (left
    join — never dropped from the denominator), and test-doc scores are
    exact DECIMAL sums plus an engine-ln prior (measured min |score|
    margin 1.2e-3 vs ~1e-16 ulp drift).  Accuracy is an exact integer
    ratio.

    Scale shape: one corpus token exchange → (token, fold) partial-agg →
    vocabulary-sized everything thereafter (the 3-fold weight table is
    3x vocab rows); scoring joins the token stream once on (tok, fold).
    The fold CROSS JOIN is a 3-row literal broadcast."""
    from pyspark.sql import Window as _W

    from ..functions.text import stopword_ratio

    d = t(spark, sf_dir, "documents")
    fold = F.expr(
        "(instr('0123456789abcdef', "
        "substr(md5(cast(doc_id as string)), 1, 1)) - 1) % 3"
    ).cast("int")
    lab = d.select(
        "doc_id",
        "text",
        fold.alias("fold"),
        F.when(
            stopword_ratio("text", LANG_MARKERS["en"]) >= _NB_THRESH, 1
        )
        .otherwise(0)
        .alias("y"),
    )
    tok = lab.select(
        "doc_id", "fold", "y", F.explode(tokens("text")).alias("tok")
    )
    tfc = tok.groupBy("tok", "fold").agg(
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("cf1"),
        F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).alias("cf0"),
    )
    gc = tfc.groupBy("tok").agg(
        F.sum("cf1").alias("c1"), F.sum("cf0").alias("c0")
    )
    folds = spark.range(1).select(
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("fold")
    )
    tw = (
        gc.crossJoin(F.broadcast(folds))
        .join(tfc, ["tok", "fold"], "left")
        .select(
            "tok",
            "fold",
            (F.col("c1") - F.coalesce("cf1", F.lit(0))).alias("t1"),
            (F.col("c0") - F.coalesce("cf0", F.lit(0))).alias("t0"),
        )
    )
    seen = tw.filter(F.col("t1") + F.col("t0") > 0)
    ftot = seen.groupBy("fold").agg(
        F.sum("t1").alias("n1"),
        F.sum("t0").alias("n0"),
        F.count(F.lit(1)).alias("v"),
    )
    w = seen.join(F.broadcast(ftot), "fold").select(
        "tok",
        "fold",
        F.round(
            F.log(
                (F.col("t1") + 1).cast("double")
                / (F.col("n1") + F.col("v")).cast("double")
            )
            - F.log(
                (F.col("t0") + 1).cast("double")
                / (F.col("n0") + F.col("v")).cast("double")
            ),
            9,
        )
        .cast("decimal(24,9)")
        .alias("wd"),
    )
    dlab = lab.groupBy("fold").agg(
        F.sum("y").alias("f1"), F.sum(1 - F.col("y")).alias("f0")
    )
    every = _W.partitionBy()
    pri = dlab.select(
        "fold",
        F.log(
            (F.sum("f1").over(every) - F.col("f1")).cast("double")
            / (F.sum("f0").over(every) - F.col("f0")).cast("double")
        ).alias("prior"),
    )
    sc = (
        tok.join(w, ["tok", "fold"])
        .groupBy("doc_id", "fold")
        .agg(F.sum("wd").alias("s"))
    )
    # LEFT join from the full labeled frame: a test document with no token
    # in its fold's training complement is classified by the prior ALONE,
    # not dropped from the accuracy denominator (review find).
    pred = (
        lab.select("doc_id", "fold", "y")
        .join(F.broadcast(pri), "fold")
        .join(sc, ["doc_id", "fold"], "left")
        .select(
            "fold",
            F.when(
                F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                + F.col("prior")
                > 0,
                1,
            )
            .otherwise(0)
            .alias("yhat"),
            "y",
        )
    )
    return (
        pred.groupBy(F.col("fold").cast("int").alias("fold"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(F.col("yhat") == F.col("y"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("yhat") == F.col("y"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("accuracy"),
        )
        .orderBy("fold")
    )


@query(
    "t_heldout_ppl",
    oracle=f"""
WITH lab AS (
  SELECT doc_id, lang, text,
         (strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 10 AS fold
  FROM documents),
toks AS (SELECT doc_id, lang, fold, {SQL_TOKENS} AS t FROM lab),
bigrams AS (
  SELECT doc_id, lang, fold,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2),
cab AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c_ab
  FROM bigrams WHERE fold <> 0 GROUP BY bg),
ca AS (
  SELECT string_split(bg, ' ')[1] AS a, CAST(sum(c_ab) AS BIGINT) AS c_a
  FROM cab GROUP BY 1),
v AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
  FROM (SELECT unnest(t) AS tok FROM toks WHERE fold <> 0)),
scored AS (
  SELECT b.doc_id, b.lang,
         avg(ln(CAST(coalesce(c.c_ab, 0) + 1 AS DOUBLE)
                / CAST(coalesce(a.c_a, 0) + v.vocab + 1 AS DOUBLE)))
           AS doc_lp,
         CAST(sum(CASE WHEN c.c_ab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unseen,
         CAST(count(*) AS BIGINT) AS n_bg
  FROM bigrams b
  LEFT JOIN cab c ON b.bg = c.bg
  LEFT JOIN ca a ON string_split(b.bg, ' ')[1] = a.a
  CROSS JOIN v
  WHERE b.fold = 0
  GROUP BY b.doc_id, b.lang)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       (round(avg(doc_lp), 6) + 0) AS avg_heldout_logprob,
       (round(CAST(sum(n_unseen) AS DOUBLE) / CAST(sum(n_bg) AS DOUBLE), 6)
        + 0) AS unseen_bigram_rate
FROM scored GROUP BY lang
""",
)
def t_heldout_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT bigram LM quality score — the leakage-free sibling of
    t_bigram_logprob (which scores the corpus as its own LM, so
    boilerplate scores itself up): train add-one-smoothed bigram counts
    on the ~90% md5-keyed train split, score ONLY the held-out ~10% of
    documents against them, report per language the mean held-out
    log-likelihood and the unseen-bigram rate. Low scores on held-out
    text flag genuinely unpredictable/gibberish slices; a high unseen
    rate flags domain shift between the splits — together the signal a
    perplexity-based corpus filter would use (CCNet's wikipedia-LM
    shape, with an exact SQL twin instead of a KenLM binary).

    Split discipline: fold = md5(doc_id) nibble % 10 — the t_nb_crossval
    content-keyed family (layout/session-independent, SQL-mirrorable;
    xxhash64 has no DuckDB twin). Smoothing: ln((c_ab+1)/(c_a+V+1)) with
    TRAIN vocabulary V (+1 for the implicit UNK context): unseen
    contexts degrade to ln(1/(V+1)) instead of dividing by zero.

    Scale shape: count tables are train-corpus-reduced aggregates
    (shuffle carries (bigram, count), never text); the scoring LEFT
    joins key 10% of the exploded bigrams against them — at web scale
    the zipf-truncated count tables broadcast; V is a 1-row lazy
    aggregate crossJoined in (t_bigram_logprob precedent). Bigrams build
    through the collapse-proof zip_with chain (word_ngrams_all — the
    element_at transform re-evaluates the token array per gram)."""
    from ..functions.text import word_ngrams_all

    d = t(spark, sf_dir, "documents")
    fold = F.expr(
        "(instr('0123456789abcdef', "
        "substr(md5(cast(doc_id as string)), 1, 1)) - 1) % 10"
    ).cast("int")
    lab = d.select("doc_id", "lang", "text", fold.alias("fold"))
    toks = lab.select("doc_id", "lang", "fold", tokens("text").alias("t"))
    bigrams = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        "lang",
        "fold",
        F.explode(word_ngrams_all(F.col("t"), 2)).alias("bg"),
    )
    train_bg = bigrams.filter(F.col("fold") != 0)
    cab = train_bg.groupBy("bg").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    )
    ca = cab.groupBy(F.split("bg", " ").getItem(0).alias("a")).agg(
        F.sum("c_ab").cast("long").alias("c_a")
    )
    vocab = (
        toks.filter(F.col("fold") != 0)
        .select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").cast("long").alias("vocab"))
    )
    scored = (
        bigrams.filter(F.col("fold") == 0)
        .join(cab, "bg", "left")
        .join(ca, F.split("bg", " ").getItem(0) == F.col("a"), "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(
            F.avg(
                F.log(
                    (F.coalesce("c_ab", F.lit(0)) + 1).cast("double")
                    / (
                        F.coalesce("c_a", F.lit(0))
                        + F.col("vocab")
                        + 1
                    ).cast("double")
                )
            ).alias("doc_lp"),
            F.sum(
                F.when(F.col("c_ab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_unseen"),
            F.count(F.lit(1)).cast("long").alias("n_bg"),
        )
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("doc_lp"), 6).alias("avg_heldout_logprob"),
        F.round(
            F.sum("n_unseen").cast("double") / F.sum("n_bg").cast("double"),
            6,
        ).alias("unseen_bigram_rate"),
    )


@query(
    "t_kl_divergence",
    oracle=r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
sc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
j AS (
  SELECT source, c,
         CAST(round(ln(CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT)
       - CAST(round(ln(CAST(sum(c) OVER (PARTITION BY w) AS DOUBLE))
                    * 1000000, 0) AS BIGINT) AS dln
  FROM sc),
ag AS (
  SELECT source, sum(c) AS n, count(*) AS vocab, sum(c * dln) AS s
  FROM j GROUP BY source)
SELECT source, CAST(n AS BIGINT) AS n_tokens,
       CAST(vocab AS BIGINT) AS vocab,
       (round(CAST(s AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
              + ln(CAST(sum(n) OVER () AS DOUBLE))
              - ln(CAST(n AS DOUBLE)), 6) + 0) AS kl_nats
FROM ag ORDER BY source
""",
)
def t_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus drift: KL(P_source || P_corpus) over unigram
    token distributions — the mixture-audit probe a curation pipeline
    runs next to t_domain_mixture (a source whose KL spikes is drifting
    away from the blend it was weighted for; 0 = indistinguishable from
    the corpus mixture). No smoothing is needed by construction: every
    source token is in the corpus, so q(w) > 0 wherever p(w) > 0.

    Identity: KL = (1/n_s)·Σ_w c_sw·(ln c_sw − ln c_w) + ln N − ln n_s
    (both Σ c_sw = n_s terms folded out), so the only cross-row float
    work quantizes each vocabulary row's ln to integer millionths BEFORE
    the sum (t_token_entropy discipline) — exact DECIMAL accumulation,
    order-independent; the outer ln N / ln n_s are one engine-ln each on
    exact integers, round-6.

    Scale shape: one (source, token) partial-agg exchange, one token-hash
    window exchange for the corpus counts (window over the GROUPED frame
    — never a join back that would re-evaluate the tokenize subtree, the
    round-4 plan-audit lesson), then a source-sized aggregate; the ln N
    scalar rides a window over that ~|sources|-row frame."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    sc = (
        d.select("source", F.explode(tokens("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lnppm = lambda col: (  # noqa: E731 - local expression shorthand
        F.round(F.log(col.cast("double")) * 1000000, 0).cast("long")
    )
    cw = F.sum("c").over(Window.partitionBy("w"))
    j = sc.select(
        "source",
        "c",
        (lnppm(F.col("c")) - lnppm(cw)).alias("dln"),
    )
    ag = j.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(
            F.col("c").cast("decimal(19,0)")
            * F.col("dln").cast("decimal(19,0)")
        ).alias("s"),
    )
    big_n = F.sum("n").over(Window.partitionBy())
    n_d = F.col("n").cast("double")
    return ag.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.round(
            F.col("s").cast("double") / 1000000.0 / n_d
            + F.log(big_n.cast("double"))
            - F.log(n_d),
            6,
        ).alias("kl_nats"),
    ).orderBy("source")


@query(
    "t_temperature_mixture",
    oracle=f"""
WITH per AS (
  SELECT source, CAST(sum({SQL_NTOK}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
q AS (
  SELECT source, n_tokens,
         CAST(round(exp(0.3 * CAST(round(ln(CAST(n_tokens AS DOUBLE))
                                         * 1000000, 0) AS BIGINT)
                              / 1000000.0) * 1000000, 0) AS BIGINT) AS qw
  FROM per),
tot AS (
  SELECT q.*,
         CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tokens,
         CAST(sum(qw) OVER () AS HUGEINT) AS tot_qw
  FROM q)
SELECT source, n_tokens,
       (round(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE), 6) + 0)
         AS raw_share,
       (round(CAST(qw AS DOUBLE) / CAST(tot_qw AS DOUBLE), 6) + 0)
         AS temp_share,
       (round(CAST(qw AS DOUBLE) / CAST(tot_qw AS DOUBLE)
              * CAST(tot_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
          + 0) AS upsample_factor
FROM tot ORDER BY source
""",
)
def t_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (the mT5/XLM-R low-resource
    upsampling rule, public method): sampling share p_s ∝ n_s^α with
    α = 0.3, reported next to the raw token share and the implied
    per-source upsample factor p_s·N/n_s — the knob a multilingual or
    multi-domain pipeline turns when raw proportions would starve small
    sources (contrast t_domain_mixture, which hits EXPLICIT target
    shares; temperature needs no target table).

    Exactness: n^α = exp(α·ln n) evaluates on ln values pre-quantized to
    integer millionths and the result re-quantizes to millionths before
    the cross-source normalization sum (exact integer arithmetic;
    identical double expression trees feed both engines' exp), so shares
    divide exact integers, round-6.

    Scale shape: one per-source aggregate; the two totals ride one
    window over the ~|sources|-row frame. Nothing else moves."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(n_tokens("text")).cast("long").alias("n_tokens")
    )
    ln_ppm = F.round(
        F.log(F.col("n_tokens").cast("double")) * 1000000, 0
    ).cast("long")
    qw = F.round(F.exp(F.lit(0.3) * ln_ppm / 1000000.0) * 1000000, 0).cast(
        "long"
    )
    w = Window.partitionBy()
    tot = per.select(
        "source",
        "n_tokens",
        qw.alias("qw"),
    ).select(
        "source",
        "n_tokens",
        "qw",
        F.sum("n_tokens").over(w).cast("long").alias("tot_tokens"),
        F.sum(F.col("qw").cast("decimal(38,0)")).over(w).alias("tot_qw"),
    )
    share = F.col("qw").cast("double") / F.col("tot_qw").cast("double")
    return tot.select(
        "source",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double")
            / F.col("tot_tokens").cast("double"),
            6,
        ).alias("raw_share"),
        F.round(share, 6).alias("temp_share"),
        F.round(
            share
            * F.col("tot_tokens").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("upsample_factor"),
    ).orderBy("source")


@query(
    "t_lang_outliers",
    oracle="""
WITH sl AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
ranked AS (
  SELECT source, lang, c,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, lang) AS r,
         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_docs
  FROM sl),
major AS (
  SELECT source, lang AS majority_lang, c AS majority_docs, n_docs
  FROM ranked WHERE r = 1)
SELECT m.source, m.n_docs, m.majority_lang,
       CAST(m.n_docs - m.majority_docs AS BIGINT) AS n_outliers,
       (round(CAST(m.n_docs - m.majority_docs AS DOUBLE)
              / CAST(m.n_docs AS DOUBLE), 6) + 0) AS outlier_rate
FROM major m ORDER BY m.source
""",
)
def t_lang_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-consistency audit per source: the majority language and
    how many documents deviate from it — the routing-bug detector a
    multilingual crawl pipeline runs per feed (a source whose outlier
    rate jumps is mixing feeds or mislabeling languages; pair with
    t_chisq_lang_source's global independence test).

    Exact end to end: counts are BIGINTs, the majority pick is a
    deterministic rank (count desc, lang asc tie-break), and the rate is
    the only double, round-6. One (source, lang) partial-agg exchange;
    the rank/total windows run on that tiny grouped frame."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    sl = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wr = Window.partitionBy("source").orderBy(F.col("c").desc(), "lang")
    wall = Window.partitionBy("source")
    ranked = sl.select(
        "source",
        "lang",
        "c",
        F.row_number().over(wr).alias("r"),
        F.sum("c").over(wall).cast("long").alias("n_docs"),
    )
    out = F.col("n_docs") - F.col("c")
    return (
        ranked.filter(F.col("r") == 1)
        .select(
            "source",
            "n_docs",
            F.col("lang").alias("majority_lang"),
            out.cast("long").alias("n_outliers"),
            F.round(
                out.cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("outlier_rate"),
        )
        .orderBy("source")
    )


@query(
    "t_dedup_impact",
    oracle=f"""
WITH keyed AS (
  SELECT source, md5(text) AS h, CAST({SQL_NTOK} AS BIGINT) AS n_tok,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY doc_id) AS rn
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS dup_docs,
       CAST(coalesce(sum(n_tok) FILTER (WHERE rn > 1), 0) AS BIGINT)
         AS dup_tokens,
       (round(CAST(coalesce(sum(n_tok) FILTER (WHERE rn > 1), 0) AS DOUBLE)
              / CAST(sum(n_tok) AS DOUBLE), 6) + 0) AS token_waste
FROM keyed GROUP BY source ORDER BY source
""",
)
def t_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report per source: how many documents AND how much
    token mass exact dedup would remove (keep-first by md5, corpus-wide)
    — the number that decides whether a source's crawl is worth its
    storage, and the per-source attribution t_exact_dedup's corpus-level
    summary can't give (a 30% token_waste source is a re-crawl loop; a
    clean one isn't).

    Keep-first discipline: corpus-wide md5 window ordered by doc_id (the
    t_line_dedup keying), so a duplicate pair spanning two sources
    charges the LATER doc's source — dedup cost lands where the
    re-crawl happened. BIGINT-exact counts/sums; the rate is the only
    double, round-6. Shape: one md5-keyed window exchange (digests +
    token counts move, never text), then a source-sized aggregate."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    w = Window.partitionBy(h).orderBy("doc_id")
    keyed = d.select(
        "source",
        n_tokens("text").cast("long").alias("n_tok"),
        F.row_number().over(w).alias("rn"),
    )
    dup = F.col("rn") > 1
    return (
        keyed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("dup_docs"),
            F.coalesce(F.sum(F.when(dup, F.col("n_tok"))), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "dup_docs",
            "dup_tokens",
            F.round(
                F.col("dup_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("token_waste"),
        )
        .orderBy("source")
    )
