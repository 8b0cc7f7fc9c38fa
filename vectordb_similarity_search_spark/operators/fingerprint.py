"""Document fingerprinting by winnowing (north-star op): select, per
sliding window of k-gram hashes, the minimum hash — the classic
plagiarism/near-dup fingerprint (Schleimer et al., SIGMOD 2003, public
algorithm). Guarantees: any shared substring of length ≥ w+k-1 yields at
least one shared fingerprint.

Pure Spark column expressions: shingle → xxhash64 → sliding window min →
distinct. Per-document arrays stay modest (|text|), and the fingerprint
set is what shuffles — never the text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import widen


def kgram_hashes(c: Column | str, k: int = 5) -> Column:
    """Ordered (non-distinct) k-gram xxhash64 sequence of a string."""
    c = F.col(c) if isinstance(c, str) else c
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.xxhash64(F.substr(c, i, F.lit(k))))


def _winnow_from_hashes(hashes: Column, w: int) -> Column:
    n_windows = F.greatest(F.size(hashes) - (w - 1), F.lit(1))
    windows = F.sequence(F.lit(1), n_windows)
    return F.array_distinct(
        F.transform(windows, lambda i: F.array_min(F.slice(hashes, i, w)))
    )


def with_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "fp",
    *,
    k: int = 5,
    w: int = 8,
) -> DataFrame:
    """Attach winnowed fingerprints, materializing the k-gram hash array in
    its own projection step so each hash is computed exactly once (the
    inlined single-expression form re-evaluates the array per window)."""
    return (
        widen(df).withColumn("_kgram_hashes", kgram_hashes(text_col, k))
        .withColumn(out_col, _winnow_from_hashes(F.col("_kgram_hashes"), w))
        .drop("_kgram_hashes")
    )


def fingerprint_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 5,
    w: int = 8,
    min_shared: int = 2,
    block_col: str | None = "source",
) -> DataFrame:
    """Pairs of documents sharing ≥ min_shared winnowed fingerprints —
    substring-level near-dup detection (complementary to MinHash, which
    measures set overlap, not contiguity). Blocked self-join like the
    Jaccard baseline; the inverted-index formulation (explode fingerprints,
    group on fingerprint, exactly the LSH-bucket plan in
    operators/dedup._candidate_pairs) is the unblocked scale path."""
    cols = [id_col] + ([block_col] if block_col else [])
    fp = with_fingerprints(df, text_col, "fp", k=k, w=w).select(*cols, "fp")
    a = fp.select(
        F.col(id_col).alias("id_a"),
        F.col("fp").alias("fa"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    b = fp.select(
        F.col(id_col).alias("id_b"),
        F.col("fp").alias("fb"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    joined = a.join(b, [block_col] if block_col else None) if block_col else a.crossJoin(b)
    shared = F.size(F.array_intersect("fa", "fb"))
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("shared_fingerprints", shared.cast("int"))
        .filter(F.col("shared_fingerprints") >= min_shared)
        .select("id_a", "id_b", "shared_fingerprints")
    )
