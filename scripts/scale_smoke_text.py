#!/usr/bin/env python
"""Text-pipeline scale smoke: run the dedup/vocab operators on a synthetic
corpus 20-100x the sf0.1 fixture (pure JVM generation — no fixture files).

Usage: python scripts/scale_smoke_text.py [n_docs] [dup_rate]

The corpus mimics the fixture's shape (60-word docs from a small vocab)
plus an injected exact-near-duplicate rate so the LSH operators have true
positives to find at scale.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from vectordb_similarity_search_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_pairs,
    simhash_pairs,
)
from vectordb_similarity_search_spark.session import get_spark  # noqa: E402

VOCAB_SIZE = 5000  # realistic token entropy: random-pair Jaccard ~ 0


def injected_pairs(n: int, dup_rate: float = 0.02) -> set[tuple[int, int]]:
    """The exact (source, copy) near-dup pair set :func:`gen_docs` injects
    — exported so smokes assert against the generator's OWN rule instead
    of re-deriving the stride arithmetic inline (round-4 ADVICE: an
    inline re-derivation silently diverges if the injection rule ever
    changes; this function and gen_docs share the predicate below)."""
    stride = int(1 / dup_rate)
    return {(i - 1, i) for i in range(1, n) if i % stride == 1}


def gen_docs(spark, n: int, dup_rate: float = 0.02):
    """n docs, ~60 tokens each from a 5000-word synthetic vocabulary,
    deterministic; a dup_rate slice are copies of an earlier doc with the
    first token changed (J ≈ 0.95 true near-dups). The injected pair set
    is exported by :func:`injected_pairs` — keep the two predicates in
    lockstep."""
    stride = int(1 / dup_rate)
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            (F.col("id") % stride == 1) & (F.col("id") >= 1),
            F.col("id") - 1,
        )
        .otherwise(F.col("id"))
        .alias("src_id"),
    )
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(60)),
        lambda i: F.format_string(
            "w%05d", F.pmod(F.xxhash64(F.col("src_id"), i), F.lit(VOCAB_SIZE))
        ),
    )
    return base.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.when(F.col("src_id") != F.col("doc_id"), F.lit("mutated")).otherwise(
                F.lit("regular")
            ),
            F.array_join(toks, " "),
        ).alias("text"),
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    dup_rate = float(sys.argv[2]) if len(sys.argv) > 2 else 0.02
    spark = get_spark(master="local[32]", shuffle_partitions=64)
    docs = gen_docs(spark, n, dup_rate).persist()
    t0 = time.time()
    n_docs = docs.count()
    print(f"corpus: {n_docs} docs, gen+persist {time.time()-t0:.1f}s", flush=True)

    t0 = time.time()
    pairs = minhash_lsh_pairs(docs, threshold=0.8, bands=16, n_hashes=64)
    n_pairs = pairs.count()
    print(f"minhash_lsh_pairs(J>=0.8, char): {n_pairs} pairs  {time.time()-t0:.1f}s", flush=True)

    t0 = time.time()
    pairs_w = minhash_lsh_pairs(
        docs, threshold=0.8, bands=16, n_hashes=64, shingle_mode="word", shingle_n=3
    )
    n_pairs_w = pairs_w.count()
    print(f"minhash_lsh_pairs(J>=0.8, word): {n_pairs_w} pairs  {time.time()-t0:.1f}s", flush=True)

    t0 = time.time()
    n_sim = simhash_pairs(docs).count()
    print(f"simhash_pairs(ham<=3): {n_sim} pairs  {time.time()-t0:.1f}s", flush=True)

    t0 = time.time()
    from vectordb_similarity_search_spark.operators.dedup import (
        dedup_keep_canonical,
    )

    kept = dedup_keep_canonical(docs, pairs_w).count()
    print(
        f"cluster + keep-canonical: {kept} of {n_docs} docs kept  "
        f"{time.time()-t0:.1f}s",
        flush=True,
    )

    t0 = time.time()
    from vectordb_similarity_search_spark.functions.text import tokens

    counts = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .count()
        .orderBy(F.col("count").desc())
        .limit(5)
    )
    counts.collect()
    print(f"top-5 tokens: {time.time()-t0:.1f}s", flush=True)


if __name__ == "__main__":
    main()
