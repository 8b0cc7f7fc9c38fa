#!/usr/bin/env python
"""Incremental dedup at scale: a 400k-doc corpus signature store + a 20k
arriving batch with 2% injected near-copies of corpus docs. The point:
per-batch cost must be O(batch hashing + key join against the store),
with the corpus never re-shingled and never self-paired.

Checks:
- incremental pairs == exactly the injected (new -> corpus) near-dups,
- batch wall << store-build wall (the amortization that matters),
- store append accepts the batch; a second run then finds copies OF the
  first batch.

    python scripts/scale_smoke_incremental.py   # ~2-3 min
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from vectordb_similarity_search_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_pairs_incremental,
    write_signature_store,
)
from vectordb_similarity_search_spark.session import get_spark  # noqa: E402

N_CORPUS = int(os.environ.get("SCALE_CORPUS", 400_000))
N_BATCH = int(os.environ.get("SCALE_BATCH", 20_000))
DUP_STRIDE = 50  # 2% of the batch are near-copies of corpus docs
VOCAB = 5000


def doc_text(src_id_col, marker_col):
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(60)),
        lambda i: F.format_string(
            "w%05d", F.pmod(F.xxhash64(src_id_col, i), F.lit(VOCAB))
        ),
    )
    return F.concat_ws(" ", marker_col, F.array_join(toks, " "))


def main() -> None:
    spark = get_spark(
        app_name="scale-smoke-incremental", master="local[32]",
        shuffle_partitions=64,
    )
    spark.sparkContext.setLogLevel("ERROR")

    corpus = spark.range(N_CORPUS).select(
        F.col("id").alias("doc_id"),
        doc_text(F.col("id"), F.lit("regular")).alias("text"),
    )
    # batch ids live above the corpus; every DUP_STRIDE-th is a near-copy
    # of corpus doc (id % N_CORPUS) with the leading marker flipped
    batch = spark.range(N_CORPUS, N_CORPUS + N_BATCH).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % DUP_STRIDE == 0, F.col("id") % F.lit(N_CORPUS))
        .otherwise(F.col("id"))
        .alias("src_id"),
        (F.col("id") % DUP_STRIDE == 0).alias("is_dup"),
    ).select(
        "doc_id",
        doc_text(
            F.col("src_id"),
            F.when(F.col("is_dup"), F.lit("mutated")).otherwise(F.lit("regular")),
        ).alias("text"),
        "is_dup", "src_id",
    )

    work = tempfile.mkdtemp(prefix="smoke_incr_")
    # materialize to parquet and read back: generated (range-derived)
    # frames under-report sizeInBytes, which can trick Catalyst into
    # BROADCASTING a corpus-sized text side (observed as a broadcast OOM
    # in the full re-pair comparison at 1.6M docs); parquet stats are
    # honest and match the production shape
    corpus.write.parquet(os.path.join(work, "corpus"))
    corpus = spark.read.parquet(os.path.join(work, "corpus"))
    batch.write.parquet(os.path.join(work, "batch"))
    batch = spark.read.parquet(os.path.join(work, "batch"))
    store = os.path.join(work, "sigs")
    t0 = time.perf_counter()
    write_signature_store(corpus, store, shingle_n=3, shingle_mode="word")
    t_store = time.perf_counter() - t0
    print(f"store build ({N_CORPUS} docs): {t_store:.1f} s")

    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs_incremental(
        batch.select("doc_id", "text"), store, corpus, threshold=0.8
    ).collect()
    t_inc = time.perf_counter() - t0
    got = {(r.id_new, r.id_corpus) for r in pairs}
    want = {
        (r.doc_id, r.src_id)
        for r in batch.filter("is_dup").select("doc_id", "src_id").collect()
    }
    print(f"incremental pairs ({N_BATCH}-doc batch): {len(got)} found in {t_inc:.1f} s")
    assert got == want, (len(got), len(want), list(got - want)[:3], list(want - got)[:3])

    # the honest alternative: re-run the batch operator over corpus+batch
    # (re-shingles the corpus in Python, self-pairs the corpus) and filter
    # to cross pairs
    from vectordb_similarity_search_spark import cache
    from vectordb_similarity_search_spark.operators.dedup import minhash_lsh_pairs

    union = corpus.unionByName(batch.select("doc_id", "text"))
    t0 = time.perf_counter()
    full = minhash_lsh_pairs(
        union, threshold=0.8, shingle_n=3, shingle_mode="word"
    ).collect()
    t_full = time.perf_counter() - t0
    cache.release()
    cross = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b))
        for r in full
        if (r.id_a >= N_CORPUS) != (r.id_b >= N_CORPUS)
    }
    assert cross == want, (len(cross), len(want))
    print(f"full re-pair alternative: {t_full:.1f} s -> incremental is "
          f"{t_full / t_inc:.1f}x faster and emits no corpus self-pairs")

    # accept the batch, then a copy-of-batch doc must pair against it
    write_signature_store(
        batch.select("doc_id", "text"), store,
        shingle_n=3, shingle_mode="word", mode="append",
    )
    probe_src = N_CORPUS + 1  # a non-dup batch doc
    probe = spark.range(1).select(
        F.lit(9_999_999).alias("doc_id"),
        doc_text(F.lit(probe_src).cast("long"), F.lit("mutated")).alias("text"),
    )
    union_texts = corpus.unionByName(batch.select("doc_id", "text"))
    p2 = minhash_lsh_pairs_incremental(probe, store, union_texts, threshold=0.8).collect()
    assert {(r.id_new, r.id_corpus) for r in p2} == {(9_999_999, probe_src)}, p2
    print("append + re-probe: OK")
    print("ALL OK")


if __name__ == "__main__":
    main()
