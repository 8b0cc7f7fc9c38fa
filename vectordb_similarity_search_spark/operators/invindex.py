"""Materialized inverted index for lexical retrieval — the text analogue
of the written IVF index (operators/ann.py): posting lists built once
offline, served by partition-pruned scans.

The scan-path BM25 (operators/bm25.py) re-tokenizes the whole corpus per
query — the right plan for ad-hoc analytics, the wrong one for a serving
workload. This module materializes the classic IR layout instead:

- ``postings/`` — one row per (term, doc): ``(term, doc id, tf, dl)``,
  hash-partitioned into ``bucket=<b>`` directories by a Python-computable
  md5 bucket of the term. A query for a handful of terms reads ONLY the
  buckets those terms hash to (PartitionFilters) and only matching terms
  within them (PushedFilters) — at 100 TB a 3-term query touches
  3/``num_buckets`` of the store instead of re-scanning every document.
  Document length rides denormalized on each posting row (impact-file
  style) so scoring needs no doc-table join.
- ``_stats/terms`` — per-term document frequency (corpus-vocabulary rows).
- ``_stats/meta`` — one row: doc count, average doc length, total doc
  length (the exact integer-valued numerator avgdl divides — what makes
  incremental stats merges bit-equal to a rebuild's).
- ``_docs`` — one row per document: ``(id, dl)`` (doc-cardinality; the
  append path's duplicate-id guard).
- ``_meta.json`` — sidecar with ``num_buckets`` (read with plain Python at
  query build: no Spark job, same trick as the zone-map sidecar).

Scoring reuses ``bm25.bm25_score_expr`` — the SAME fixed-order folded
expression as the scan path, with per-term tf pivoted to columns after
the pruned scan (a groupBy float sum would reassociate the adds), so the
indexed top-k is bit-identical to ``bm25_topk`` whenever every result doc
contains at least one query term. That is the one semantic caveat of any
inverted index: zero-match documents are unrepresented, so fewer than k
rows come back when fewer than k docs match any term (the scan path would
pad with zero-score docs).

Ingest: :func:`text_index_append` grows the store WITHOUT re-tokenizing
the existing corpus (the write_signature_store discipline from
operators/dedup): new postings append into the same bucket dirs, df/N/
total-dl stats merge by exact integer-valued arithmetic — a probe of the
appended store is BIT-IDENTICAL to one of a full rebuild over the union
corpus (pinned in tests/test_invindex.py). Crash honesty: an append is a
multi-directory update plain parquet cannot make atomic, so a
``_append_pending`` marker brackets it — probes REFUSE a store whose
marker survives (torn append: postings and stats may disagree; rebuild).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache, commit
from ..functions.text import n_tokens, tokens
from .ann import _index_scan
from .bm25 import bm25_score_expr


def _py_bucket(term: str, num_buckets: int) -> int:
    """Python side of the term→bucket hash."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % num_buckets


def _jvm_bucket(term_col, num_buckets: int):
    """JVM side of the term→bucket hash — md5 hex prefix parsed base-16,
    identical to :func:`_py_bucket` (15 hex digits = 60 bits, inside long
    range; parity pinned in tests/test_invindex.py)."""
    return F.pmod(
        F.conv(F.substring(F.md5(term_col.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(num_buckets),
    ).cast("int")


def text_index_write(
    docs: DataFrame,
    path: str,
    *,
    num_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Build and write the inverted index. One tokenize+explode pass:
    postings via (id, term) groupBy — the shuffle carries (term, id, tf)
    rows, never text — then df per term and the 1-row corpus stats as
    by-products of the same posting frame. The json sidecar is written
    LAST (commit marker): a reader never sees a store whose postings and
    stats disagree. A rebuild is also the documented RECOVERY from a torn
    append, so it clears the ``_append_pending`` marker and any stats-dir
    swap leftovers a crashed append left behind."""
    root = path.rstrip("/")
    posted = _postings_frame(docs, id_col, text_col, num_buckets)
    posted.write.partitionBy("bucket").mode("overwrite").parquet(
        f"{root}/postings"
    )
    post_scan = docs.sparkSession.read.parquet(f"{root}/postings")
    post_scan.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/_stats/terms")
    docs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum(n_tokens(text_col).cast("double")) / F.count(F.lit(1))).alias(
            "avgdl"
        ),
        F.sum(n_tokens(text_col).cast("double")).alias("total_dl"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/_stats/meta")
    docs.select(
        F.col(id_col), n_tokens(text_col).cast("double").alias("dl")
    ).write.mode("overwrite").parquet(f"{root}/_docs")
    _clear_append_leftovers(root)
    commit.write_json(
        f"{root}/_meta.json",
        {"num_buckets": num_buckets, "id_col": id_col, "text_col": text_col},
    )
    cache.invalidate(root)


def _postings_frame(
    docs: DataFrame, id_col: str, text_col: str, num_buckets: int
) -> DataFrame:
    """The ONE tokenize→explode→(id, term) groupBy→bucket pipeline both
    the build and the append write — shared so a tokenization or bucket
    change can never diverge between them (the append==rebuild
    bit-parity depends on it)."""
    return (
        docs.select(
            F.col(id_col),
            F.explode(tokens(text_col)).alias("term"),
            n_tokens(text_col).cast("double").alias("dl"),
        )
        .groupBy(id_col, "term", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("bucket", _jvm_bucket(F.col("term"), num_buckets))
    )


def _require_not_torn(root: str, path: str) -> None:
    if os.path.exists(f"{root}/_append_pending"):
        raise RuntimeError(
            f"inverted index at {path} has a torn append "
            "(_append_pending survives); rebuild with text_index_write"
        )


def _clear_append_leftovers(root: str) -> None:
    """Remove the torn-append marker and any stats-dir swap leftovers
    (parked snapshots / ``__new_*`` tmp outputs) a crashed
    append left: called by the REBUILD only (text_index_write — the
    documented recovery path). An append never cleans up: it refuses to
    run on a torn store (_require_not_torn) precisely so debris stays in
    place as evidence until the operator rebuilds."""
    import glob
    import shutil

    try:
        os.remove(f"{root}/_append_pending")
    except FileNotFoundError:
        pass
    for stats in (f"{root}/_stats/terms", f"{root}/_stats/meta"):
        for d in commit.parks(stats) + glob.glob(f"{stats}__new_*"):
            shutil.rmtree(d, ignore_errors=True)


def text_index_append(new_docs: DataFrame, path: str) -> int:
    """Grow a written index with ``new_docs`` WITHOUT re-tokenizing the
    existing corpus: tokenize only the batch, append its postings into
    the same bucket partition dirs, and merge the corpus stats by exact
    arithmetic — df adds integer counts, N adds the batch count, avgdl
    re-divides the merged total-dl. Because dl values are whole-number
    token counts, every merged statistic is an exactly-represented
    integer in double (until 2^53 corpus tokens), so a probe of the
    appended store is BIT-IDENTICAL to a probe of a full rebuild over
    the union corpus (pinned in tests/test_invindex.py). The text column
    comes from the store's sidecar (recorded at build) — an append can
    never tokenize a different column than the index was built on.

    Duplicate ids are REJECTED before any write — against the existing
    ``_docs`` table (one broadcast semi-join, never the postings) AND
    within the batch itself (an at-least-once upstream that delivers a
    doc twice in one batch would otherwise double its postings
    silently). Returns the number of documents appended.

    The batch is PERSISTED for the duration of the append: the postings
    write, the df merge, and the ``_docs`` append must all see the SAME
    evaluation of ``new_docs`` (a non-deterministic input re-evaluated
    per consumer could write postings that disagree with the stats).

    Crash protocol: ``_append_pending`` marker first, removed last;
    stats dirs swap via recoverable snapshot renames. A crash mid-append
    leaves the marker, and every probe raises until the store is rebuilt
    (``text_index_write`` clears the marker and any swap leftovers) —
    plain parquet cannot make a multi-directory append atomic, and a
    silent torn state (postings newer than stats) would serve subtly
    wrong scores instead of an error.

    Scale shape: tokenize+groupBy over the BATCH only; the stats merge
    jobs are vocabulary- and 1-row-sized; nothing rescans or reshuffles
    the existing postings (appended files land beside them)."""
    import uuid

    root = path.rstrip("/")
    spark = new_docs.sparkSession
    with open(f"{root}/_meta.json") as f:
        meta = json.load(f)
    num_buckets, id_col = meta["num_buckets"], meta["id_col"]
    text_col = meta.get("text_col", "text")
    _require_not_torn(root, path)
    old_meta = spark.read.parquet(f"{root}/_stats/meta").collect()[0]
    if "total_dl" not in old_meta.asDict():
        raise ValueError(
            "index predates incremental stats (no total_dl in "
            "_stats/meta); rebuild with text_index_write before appending"
        )

    batch = new_docs.select(F.col(id_col), F.col(text_col)).persist()
    try:
        in_batch_dup = (
            batch.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") > 1)
            .limit(1)
            .collect()
        )
        if in_batch_dup:
            raise ValueError(
                f"append batch contains id {in_batch_dup[0][id_col]!r} "
                "more than once; an append must be insert-only and "
                "id-unique within the batch"
            )
        dup = (
            spark.read.parquet(f"{root}/_docs")
            .join(F.broadcast(batch.select(id_col)), id_col, "left_semi")
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"append batch contains ids already in the index "
                f"(e.g. {dup[0][id_col]!r}); an append must be insert-only"
            )
        stats = batch.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(n_tokens(text_col).cast("double")).alias("total_dl"),
        ).collect()[0]
        n_new = int(stats["n"])
        if n_new == 0:
            return 0

        # Marker FIRST, created O_EXCL: two concurrent appends would
        # otherwise both proceed and race the stats merge (lost update,
        # df/N undercount) while the first finisher's marker removal
        # unmarks the still-in-flight second — committing inconsistent
        # stats WITHOUT the torn-store protection. Exclusive creation
        # makes the second append fail fast instead.
        pending = f"{root}/_append_pending"
        try:
            os.close(os.open(pending, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            raise RuntimeError(
                f"another append to {path} is in flight (_append_pending "
                "exists); appends must be serialized per store"
            ) from None
        posted = _postings_frame(batch, id_col, text_col, num_buckets)
        posted.write.partitionBy("bucket").mode("append").parquet(
            f"{root}/postings"
        )
        batch.select(
            F.col(id_col), n_tokens(text_col).cast("double").alias("dl")
        ).write.mode("append").parquet(f"{root}/_docs")

        # stats merge: vocabulary-sized union+sum, swapped recoverably
        new_df = posted.groupBy("term").agg(
            F.count(F.lit(1)).cast("double").alias("df")
        )
        merged_terms = (
            spark.read.parquet(f"{root}/_stats/terms")
            .unionByName(new_df)
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        tmp_terms = f"{root}/_stats/terms__new_{uuid.uuid4().hex[:8]}"
        merged_terms.coalesce(1).write.mode("overwrite").parquet(tmp_terms)
        commit.swap(f"{root}/_stats/terms", tmp_terms)

        n_total = float(old_meta["n"]) + float(stats["n"])
        dl_total = float(old_meta["total_dl"]) + float(stats["total_dl"])
        tmp_meta = f"{root}/_stats/meta__new_{uuid.uuid4().hex[:8]}"
        spark.range(1).select(
            F.lit(n_total).alias("n"),
            (F.lit(dl_total) / F.lit(n_total)).alias("avgdl"),
            F.lit(dl_total).alias("total_dl"),
        ).coalesce(1).write.mode("overwrite").parquet(tmp_meta)
        commit.swap(f"{root}/_stats/meta", tmp_meta)

        cache.invalidate(root)
        os.remove(pending)  # marker LAST: the append is committed
        return n_new
    finally:
        batch.unpersist()


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 served from the written index. Plan shape: ONE
    partition-pruned scan of the query terms' buckets (bucket IN (...) in
    PartitionFilters, term IN (...) in PushedFilters — pinned in
    tests/test_invindex.py), per-term tf pivoted to columns by a doc-id
    groupBy over only the matching postings, corpus stats and per-term df
    crossJoined in as broadcast 1-row aggregates (lazy — zero jobs at
    build), then the shared fixed-order score fold and a TakeOrdered
    top-k. The exchanges move posting rows for the query terms only —
    at 100 TB that is |matching docs|·|terms| tiny rows, never the corpus."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    _require_not_torn(path.rstrip("/"), path)
    with open(f"{path.rstrip('/')}/_meta.json") as f:
        meta = json.load(f)
    num_buckets, id_col = meta["num_buckets"], meta["id_col"]
    buckets = sorted({_py_bucket(t, num_buckets) for t in query_terms})
    post = (
        _index_scan(spark, f"{path.rstrip('/')}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(query_terms))
    )
    pivoted = post.groupBy(id_col).agg(
        F.max("dl").alias("_len"),
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("tf"))), F.lit(0)
            )
            .cast("double")
            .alias(f"_tf{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = _index_scan(spark, f"{path.rstrip('/')}/_stats/meta").select(
        F.col("n").alias("_n"), F.col("avgdl").alias("_avgdl")
    )
    dfs = (
        _index_scan(spark, f"{path.rstrip('/')}/_stats/terms")
        .filter(F.col("term").isin(query_terms))
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("term") == t, F.col("df"))), F.lit(0.0)
                ).alias(f"_df{i}")
                for i, t in enumerate(query_terms)
            ]
        )
    )
    scored = pivoted.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(dfs))
    score = bm25_score_expr(len(query_terms), k1, b)
    return (
        scored.select(id_col, F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )
