"""Deduplication operators for the LLM-data-pipeline surface (north star):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (the reason these exist): exact pairwise Jaccard/cosine is
O(N²) and only usable inside small blocks; the LSH operators reduce the
candidate set to hash-bucket collisions so the shuffle moves (id, key)
pairs — never documents — and the verify step touches only candidates.
At 100 TB: shuffle keys are 16-byte hashes; skewed buckets (boilerplate
docs) are bounded by ``max_bucket`` to keep any single join key from
exploding, the standard guardrail in web-scale dedup pipelines.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cache, commit
from ..functions.text import char_shingles, tokens
from ..functions.hashing import (
    hamming_distance,
    lsh_band_keys,
    simhash_bits,
    simhash_block_keys,
)
from ..functions.vector import cosine_similarity
from ..util import widen


def _shingle_set(text: str, n: int, mode: str) -> set:
    """Shingle a document: ``char`` = overlapping character n-grams (matches
    functions/text.char_shingles and the t_ngram_jaccard oracle); ``word``
    = whitespace-token n-grams (the web-dedup standard — Lee et al. 2022,
    MassiveText — because char n-grams of shared template/boilerplate text
    give random pairs a high baseline Jaccard that floods LSH banding with
    candidates; word n-grams restore near-zero baseline similarity). See
    BASELINE.md round-2 scale notes for the measured blow-up."""
    if mode == "char":
        return {text[i : i + n] for i in range(max(len(text) - n + 1, 1))}
    toks = text.split()
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup = hash-groupBy on the key columns (dropDuplicates).
    Spark plans this as a partial+final aggregate — no document ever
    shuffles twice."""
    return df.dropDuplicates(cols)


def _pair_frame(df: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Ordered (a < b) ``(id_a, id_b)`` pairs exploded from the ``ids``
    array column — the in-bucket pair generator shared by every blocking
    path (LSH candidates, banding advisor, exact inverted-index truth,
    ppjoin). Round-10: posexplode + slice + a second explode — native
    codegen array ops, no second shuffle — replacing a nested HOF whose
    interpreted lambdas paid O(B²) per-element calls per bucket
    (measured ~1.1 s → ~0.1 s on the banding advisor's candidate stage).
    Pair multiplicity is identical to the old value-comparison form:
    each unordered position pair emits once as (least, greatest), and
    equal-value pairs are dropped exactly as ``b > a`` dropped them."""
    ex = df.select(
        *keep, F.col("ids"), F.posexplode("ids").alias("_i", "_pa")
    )
    return (
        ex.select(
            *keep,
            "_pa",
            F.explode(
                F.slice(F.col("ids"), F.col("_i") + F.lit(2), F.size("ids"))
            ).alias("_pb"),
        )
        .where(F.col("_pa") != F.col("_pb"))
        .select(
            *keep,
            F.least("_pa", "_pb").alias("id_a"),
            F.greatest("_pa", "_pb").alias("id_b"),
        )
    )


def _candidate_pairs(
    keyed: DataFrame,
    id_col: str,
    max_bucket: int = 1000,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, key) → distinct candidate id pairs (a < b) via bucket self-join.
    Buckets larger than ``max_bucket`` are dropped (skew guardrail: a
    degenerate bucket of B docs would emit B² pairs). ``group_cols``
    scope both the buckets and the distinct (e.g. per-config banding)."""
    gb = [*group_cols, "key"]
    sized = keyed.groupBy(*gb).agg(F.collect_list(id_col).alias("ids"))
    bounded = sized.filter(F.size("ids") <= max_bucket).filter(F.size("ids") > 1)
    # Pair generation inside the bucket array — no second shuffle.
    return _pair_frame(bounded, tuple(group_cols)).distinct()


def minhash_signatures_batch(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 5,
    n_hashes: int = 64,
    seed: int = 42,
    shingle_mode: str = "char",
) -> DataFrame:
    """Arrow-vectorized MinHash signatures (the throughput path): per batch,
    shingle in C-speed string slicing, hash every shingle once with crc32,
    then derive all ``n_hashes`` permutation hashes with one numpy
    (n_shingles × n_hashes) broadcast multiply-add and a reduceat min per
    doc.  ~10x the pure-expression form — interpreted HOF lambdas pay ~µs
    per element, numpy pays ~ns. Returns (id, sig array<long>).

    Hash family: g_i(s) = (a_i·crc32(s) + b_i) mod 2^61-1 with seeded odd
    a_i — deterministic across executors (crc32 is a fixed CRC, unlike
    Python's salted str hash)."""
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    rng = np.random.default_rng(seed)
    M = (1 << 61) - 1
    A = (rng.integers(1, M, size=n_hashes, dtype=np.int64) | 1).astype(np.uint64)
    B = rng.integers(0, M, size=n_hashes, dtype=np.int64).astype(np.uint64)

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )

    def sigs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, out = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                shingles = _shingle_set(text, shingle_n, shingle_mode)
                h = np.fromiter(
                    (zlib.crc32(s.encode()) for s in shingles),
                    dtype=np.uint64,
                    count=len(shingles),
                )
                # (n_shingles × n_hashes) universal hashes; uint64 wrap is fine
                g = (h[:, None] * A[None, :] + B[None, :]) % M
                ids.append(doc_id)
                out.append(g.min(axis=0).astype(np.int64))
            yield pd.DataFrame({id_col: ids, "sig": out})

    return widen(df.select(id_col, text_col)).mapInPandas(sigs, out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.3,
    max_bucket: int = 1000,
    verify: bool = True,
    shingle_mode: str = "char",
) -> DataFrame:
    """MinHash + banded-LSH near-duplicate pairs, optionally verified with
    exact Jaccard (north-star MinHash dedup; approximates
    plans/text_queries.t_ngram_jaccard_pairs without the quadratic join).

    bands=16 over 64 hashes → row width 4 → collision prob at J=0.3 per
    band = 0.3⁴ ≈ 0.008, over 16 bands ≈ 12%; at J=0.8 ≈ 99.9%. Tune
    (bands, n_hashes) to move the S-curve; verify=True removes false
    positives entirely (exact Jaccard on candidates only).

    ``shingle_mode``: ``char`` n-grams match the exact-Jaccard oracle
    baseline; ``word`` n-grams (use shingle_n≈3-5 tokens) are the
    boilerplate-robust web-scale choice — see _shingle_set.

    Signatures are the crc32 family of :func:`minhash_signatures_batch`
    (Arrow/numpy); the verify is exact shingle-set Jaccard over the
    candidates' texts.
    """
    rows = n_hashes // bands
    # Persisted: consumed by the band keys AND both sides of the signature
    # screen below — without persist each branch re-runs the scan + Python
    # signature pass.
    sig_df = cache.persist(minhash_signatures_batch(
        df, id_col, text_col, shingle_n=shingle_n, n_hashes=n_hashes,
        shingle_mode=shingle_mode,
    ))
    keyed = sig_df.select(
        id_col, F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk")
    ).select(id_col, F.col("bk.key").alias("key"))
    cand = _candidate_pairs(keyed, id_col, max_bucket)
    if not verify:
        return cand

    # Signature screen: banding admits many false positives (any single
    # band collision is enough), and each one would otherwise pay the
    # exact-verify cost. The signatures already estimate Jaccard — the
    # fraction of agreeing minhashes is an unbiased n_hashes-sample
    # estimate — so screen JVM-side before any text moves. The margin is
    # ~5σ below the target threshold at n_hashes=64 (σ = √(t(1−t)/n) ≈
    # 0.05), so a true pair at the threshold is essentially never dropped,
    # while unrelated template-similarity pairs (est ≈ 0.2) all are. At
    # 100 TB this is the difference between exact-verifying ~N pairs and
    # ~N·FP-rate pairs: the screen moves (id, 64-long sig), never text.
    screen = max(threshold - 0.25, 0.0)
    if screen > 0.0:
        est = F.size(
            F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda m: m)
        ) / F.lit(float(n_hashes))
        cand = (
            cand.join(
                sig_df.select(F.col(id_col).alias("id_a"), F.col("sig").alias("_sa")),
                "id_a",
            )
            .join(
                sig_df.select(F.col(id_col).alias("id_b"), F.col("sig").alias("_sb")),
                "id_b",
            )
            .filter(est >= screen)
            .select("id_a", "id_b")
        )

    # Vectorized verify: ship candidate pairs' texts through Arrow and
    # compute exact shingle-set Jaccard in Python sets — candidates are
    # LSH-bounded, so this touches pairs, not the corpus.
    from collections.abc import Iterator as _Iter

    import pandas as pd

    texts = df.select(F.col(id_col), F.col(text_col))
    paired = (
        cand.join(texts.select(F.col(id_col).alias("id_a"),
                               F.col(text_col).alias("ta")), "id_a")
        .join(texts.select(F.col(id_col).alias("id_b"),
                           F.col(text_col).alias("tb")), "id_b")
    )
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def verify_pairs(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        k = shingle_n
        shingles: dict = {}  # doc id → shingle set (docs recur across pairs)

        def sset(doc_id, text):
            s = shingles.get(doc_id)
            if s is None:
                s = _shingle_set(text, k, shingle_mode)
                shingles[doc_id] = s
            return s

        for pdf in batches:
            out = []
            for ia, ib, ta, tb in zip(pdf["id_a"], pdf["id_b"], pdf["ta"], pdf["tb"]):
                sa, sb = sset(ia, ta), sset(ib, tb)
                inter = len(sa & sb)
                j = inter / (len(sa) + len(sb) - inter)
                if j >= threshold:
                    out.append({"id_a": ia, "id_b": ib, "jaccard": round(j, 6)})
            yield pd.DataFrame(out, columns=["id_a", "id_b", "jaccard"])

    return paired.mapInPandas(verify_pairs, out_schema)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_blocks: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    n_bits: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs: ``n_bits``-bit simhash over xxhash64 token
    hashes (JVM expressions), block-key LSH candidates, exact hamming
    verify. Guarantee: any pair with hamming < n_blocks shares ≥1 block key
    (pigeonhole), so recall is exact for max_hamming < n_blocks; larger
    max_hamming trades recall for cost."""
    # three consumers (band keys + both verify sides) — persist or the
    # 64-fold simhash recomputes per branch
    sb = cache.persist(widen(df.select(F.col(id_col), F.col(text_col))).select(
        id_col, simhash_bits(tokens(text_col), n_bits).alias("bits")
    ))
    keyed = sb.select(
        id_col,
        F.explode(simhash_block_keys(F.col("bits"), n_blocks, n_bits)).alias("bk"),
    ).select(
        id_col,
        # fold block index into the key so different blocks never collide
        (F.col("bk.key") * n_blocks + F.col("bk.block")).alias("key"),
    )
    cand = _candidate_pairs(keyed, id_col, max_bucket)
    a = sb.select(F.col(id_col).alias("id_a"), F.col("bits").alias("ba"))
    b = sb.select(F.col(id_col).alias("id_b"), F.col("bits").alias("bb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", hamming_distance(F.col("ba"), F.col("bb")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (i < j, cosine ≥ threshold).

    O(N²/2) expression crossJoin — the small-fixture ORACLE BASELINE; the
    production path is :func:`embedding_neardup_blocked` (same exact
    results, BLAS-blocked, bounded shuffle).

    Norms are precomputed per row (O(N)) before the pair join, so the O(N²)
    inner loop is one dot fold + a multiply-divide (3.5x less work than the
    naive inline cosine, which folds three times per pair).  The arithmetic
    shape stays dot/(na·nb), identical to DuckDB's list_cosine_similarity,
    for oracle bit-parity at round-6."""
    from ..functions.vector import dot as _dot
    from ..functions.vector import l2_norm

    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(vec_col).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(vec_col).alias("nb"),
    )
    joined = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    # Zero-norm guard: cosine undefined for zero vectors → NULL (mirrors
    # functions/vector.cosine_similarity; unguarded, ANSI mode raises
    # DIVIDE_BY_ZERO and one degenerate row kills the whole query).
    denom = F.col("na") * F.col("nb")
    cosine = F.when(denom != 0.0, _dot("va", "vb") / denom)
    return (
        joined.withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def embedding_neardup_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.4,
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs embedding near-dup at scale: block-grid BLAS.

    Why not LSH here: at the mining threshold (cosine ≥ 0.4, θ ≈ 66°)
    random-hyperplane bits agree with p = 1 − θ/π ≈ 0.63 for a *qualifying*
    pair vs ≈ 0.55 for the background — banded SRP either loses recall
    (breaking exactness) or candidates ~everything (no pruning). SRP-LSH
    is the right tool at high thresholds (see ``ann.lsh_bucket_topk``);
    exhaustive low-threshold mining is a blocked-matmul problem.

    Design (the standard distributed all-pairs scheme):

    1. every row gets a stable block id ``xxhash64(id) mod n_blocks``;
    2. each row is replicated to every grid cell (a ≤ b) its block touches
       — shuffle volume N·n_blocks (id, vector) rows, NOT N² pairs;
    3. per cell, one Arrow task computes a dense (|A| × |B|) score matrix
       with a single float64 BLAS matmul (the same kernel the reference
       uses in-process, similarity_search.py:302) and emits only pairs
       above threshold.

    At 100 TB: pick n_blocks ≈ √(2·P) so each cell's two blocks fit an
    executor; replication grows as √P while compute parallelism grows as P.

    Exactness & oracle bit-parity: the matmul only *screens* candidates (at
    threshold − 1e-6 slack); every surviving pair is rescored as
    dot/(na·nb) accumulated STRICTLY left-to-right over dimensions
    (vectorized across pairs, explicit loop over dims — numpy's .sum is
    8-way-unrolled pairwise even below its 128-element block size and
    differs bitwise from a sequential fold on most rows), matching the JVM
    HOF fold and DuckDB's list_cosine_similarity association, so
    round(·, 6) matches the oracle bit-for-bit (property test pins
    blocked == exact).
    """
    import pandas as pd

    from ._blockgrid import grid_replicate
    from ._blockgrid import seq_dot as _seq_dot

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    grid = grid_replicate(df, id_col, vec_col, n_blocks)

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=["id_a", "id_b", "cosine"])
        ga, gb = int(pdf["_ga"].iloc[0]), int(pdf["_gb"].iloc[0])
        same = ga == gb
        X = np.vstack(pdf["_v"].to_numpy())
        ids = pdf["_id"].to_numpy()
        norms = np.sqrt(_seq_dot(X, X))
        safe = np.where(norms == 0.0, 1.0, norms)
        U = X / safe[:, None]
        if same:
            A_idx = B_idx = np.arange(len(ids))
        else:
            A_idx = np.flatnonzero(pdf["_blk"].to_numpy() == ga)
            B_idx = np.flatnonzero(pdf["_blk"].to_numpy() == gb)
        S = U[A_idx] @ U[B_idx].T  # screening scores (BLAS association)
        ii, jj = np.nonzero(S >= threshold - 1e-6)
        gi, gj = A_idx[ii], B_idx[jj]
        keep = (norms[gi] != 0.0) & (norms[gj] != 0.0)
        if same:
            keep &= ids[gi] < ids[gj]
        gi, gj = gi[keep], gj[keep]
        # exact rescore in oracle association: dot/(na*nb), sequential fold
        dots = _seq_dot(X[gi], X[gj])
        cos = dots / (norms[gi] * norms[gj])
        ok = cos >= threshold
        ida, idb = ids[gi[ok]], ids[gj[ok]]
        lo, hi = np.minimum(ida, idb), np.maximum(ida, idb)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[ok]})

    return (
        grid.groupBy("_ga", "_gb")
        .applyInPandas(score_cell, out_schema)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def dedup_clusters(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id),
    cluster_id = min member id. The step every dedup pipeline needs between
    pair generation and deletion: near-duplication is transitive in
    practice (A≈B≈C), so keep/drop decisions must be per CLUSTER, not per
    pair — dropping one side of each pair independently can delete all
    three of A,B,C.

    Min-label propagation: each round every node takes the min label among
    itself and its neighbors; converges in O(cluster diameter) rounds —
    near-dup clusters are shallow (template families), so a handful. Each
    round is one join + one aggregate on the PAIRS (candidate-sized, not
    corpus-sized); the driver-side convergence check is one count per
    round — an iterative offline algorithm, not a query-path operator.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = fwd.union(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    ).distinct().persist()
    # Per-round localCheckpoint, NOT persist: each round's plan embeds the
    # previous round's TWICE (neighbor + the union), so persist alone —
    # which caches data but keeps the logical plan — nests the tree
    # exponentially in the round count and a ~13-diameter component (e.g.
    # mutual-kNN chains) OOMs the driver during analysis. Checkpointing
    # truncates the plan each round (the pagerank idiom); old checkpoints'
    # storage is reclaimed by the ContextCleaner once unreferenced.
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        neighbor = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        new_labels = (
            labels.union(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # silently returning split clusters would keep duplicate families
        # alive; a >max_iter-diameter component means the pair graph has
        # long chains — raise so the caller raises max_iter deliberately.
        # (labels is checkpoint-backed; the ContextCleaner reclaims its
        # blocks once this frame goes out of scope — unpersist can't.)
        raise RuntimeError(
            f"label propagation did not converge in {max_iter} rounds "
            "(a cluster's diameter exceeds max_iter); raise max_iter"
        )
    # The returned frame is localCheckpoint-backed, NOT cached:
    # unpersist()/cache.release() cannot free checkpoint blocks
    # (see operators/graph.py) — Spark's ContextCleaner reclaims them
    # once the frame is unreferenced.
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every near-duplicate except its cluster's canonical (min-id)
    member. Rows in no cluster pass through; the anti-join ships only
    (id, cluster) labels — never documents."""
    labels = dedup_clusters(pairs, id_a=id_a, id_b=id_b)
    losers = labels.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(
        losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def semantic_neardup_pairs(
    df: DataFrame,
    ivf_model,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    cell_col: str = "_sem_cell",
    max_cell: int = 200_000,
) -> DataFrame:
    """SemDeDup-style candidate pairs (Abbas et al. 2023, public method):
    k-means the embedding space (the IVF model's cells double as the
    semantic clusters), then mine near-dup pairs ONLY within each cell —
    the deliberate approximation that makes web-scale semantic dedup
    tractable: cross-cell pairs are assumed non-duplicates.

    Scale shape: the shuffle is one hash exchange on the cell id (N rows,
    not N² pairs); each cell is one Arrow task running a float64 BLAS
    screen + the strict left-to-right rescore (same kernel discipline as
    :func:`embedding_neardup_blocked`, so reported cosines are exact).
    Cells above ``max_cell`` raise — pick n_cells ≈ N/target_cell_size
    upstream rather than letting one cell go quadratic silently."""
    from collections.abc import Iterator as _Iter

    import pandas as pd

    from ._blockgrid import seq_dot

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    # assign() resolves the model's own vec_col name — rename after, not before
    assigned = ivf_model.assign(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias(ivf_model.vec_col)),
        cell_col,
    ).withColumnRenamed(ivf_model.vec_col, "_v")

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

    def cell_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cell:
            raise ValueError(
                f"cell {key[0]} holds {n} rows > max_cell={max_cell}; "
                "refit with more cells"
            )
        if n < 2:
            return empty
        X = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        ids = pdf["_id"].to_numpy()
        norms = np.sqrt(seq_dot(X, X))
        ok = norms != 0.0  # zero vectors: no direction, never near-dups
        Xn = np.where(ok[:, None], X / np.where(ok, norms, 1.0)[:, None], 0.0)
        S = Xn @ Xn.T  # BLAS screen (pairwise-summed dots)
        iu, ju = np.triu_indices(n, k=1)
        keep = S[iu, ju] >= threshold - 1e-6
        ii, jj = iu[keep], ju[keep]
        if len(ii) == 0:
            return empty
        # exact rescore: sequential fold, dot/(na*nb) — oracle association
        cos = seq_dot(X[ii], X[jj]) / (norms[ii] * norms[jj])
        final = cos >= threshold
        ia, jb = ids[ii[final]], ids[jj[final]]
        lo, hi = np.minimum(ia, jb), np.maximum(ia, jb)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": np.round(cos[final], 6)}
        )

    return assigned.groupBy(cell_col).applyInPandas(cell_pairs, out_schema)


# ---------------------------------------------------------------------------
# Incremental near-dup: signature store + new-batch-vs-corpus pairing.
# The production ingest shape — a continuously-growing corpus cannot
# re-pair itself on every arriving batch. The store holds signatures and
# pre-exploded band keys; a batch probe pays O(batch) Python hashing
# plus narrow JVM streaming scans of those compact tables (broadcast
# semi-filtered, never shuffled) — the corpus TEXT is never re-shingled
# (the dominant cost, it's a Python pass over every document) and
# corpus self-pairs are never generated.
# ---------------------------------------------------------------------------


def _store_meta_path(path: str) -> str:
    # underscore prefix: invisible to Spark's file listing of the store
    return os.path.join(path.rstrip("/"), "_store_meta.json")


def write_signature_store(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    n_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_mode: str = "char",
    mode: str = "overwrite",
) -> None:
    """Materialize MinHash signatures as a parquet store: (id, sig) rows
    at the store root plus the PRE-EXPLODED banded keys under
    ``<store>/_keys`` (underscore dir — invisible to a scan of the root).

    Keys are precomputed at write time so a probe never re-derives them
    from the corpus signatures — per-batch probing pays narrow streaming
    scans, not an O(corpus) explode (see minhash_lsh_pairs_incremental).

    The hash-family parameters (incl. ``bands``) are committed to
    ``_store_meta.json``: signatures from different (seed, n_hashes,
    shingle_n, shingle_mode, bands) families are incomparable, so
    incremental runs validate the meta instead of silently producing
    zero pairs. ``mode="append"`` extends the store with a new batch's
    signatures and keys (same family enforced) — the store grows with
    the corpus.
    """
    import json

    meta = {
        "id_col": id_col, "shingle_n": shingle_n, "n_hashes": n_hashes,
        "bands": bands, "seed": seed, "shingle_mode": shingle_mode,
    }
    if mode == "append":
        if not os.path.exists(_store_meta_path(path)):
            raise ValueError(
                "signature store has no committed meta (first build "
                "incomplete or crashed) — rebuild with mode='overwrite'"
            )
        with open(_store_meta_path(path)) as fh:
            existing = json.load(fh)
        if existing != meta:
            raise ValueError(
                f"signature-store family mismatch: store has {existing}, "
                f"append asked for {meta}"
            )
    sigs = minhash_signatures_batch(
        docs, id_col, text_col,
        shingle_n=shingle_n, n_hashes=n_hashes, seed=seed,
        shingle_mode=shingle_mode,
    ).persist()
    try:
        rows = n_hashes // bands
        keys = sigs.select(
            id_col,
            F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk"),
        ).select(id_col, F.col("bk.key").alias("key"))
        keys_path = os.path.join(path.rstrip("/"), "_keys")
        # Crash-window ordering (plain parquet has no multi-table commit):
        # - overwrite: sigs first (truncates the root, _keys included),
        #   keys second, meta LAST — a crash before the meta leaves a
        #   store every probe refuses loudly (missing meta), never a
        #   silently inconsistent one;
        # - append: keys FIRST, sigs second — a crash in between leaves
        #   orphaned keys, which probes tolerate (the signature screen is
        #   a left join: a candidate with no stored sig skips the screen
        #   and is settled by exact verify), whereas the reverse order
        #   would leave sigs invisible to every future probe.
        if mode == "append":
            keys.write.mode("append").parquet(keys_path)
            sigs.write.mode("append").parquet(path)
        else:
            sigs.write.mode(mode).parquet(path)
            keys.write.mode(mode).parquet(keys_path)
            commit.write_json(_store_meta_path(path), meta)
    finally:
        sigs.unpersist()


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    store_path: str,
    corpus_texts: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and the stored corpus — exact
    Jaccard ≥ threshold, candidates via banded LSH against the signature
    store (:func:`write_signature_store`; banding comes from the store's
    committed meta — probes cannot mix hash families).

    Scale shape (the reason this exists next to :func:`minhash_lsh_pairs`):
    - the corpus is touched only through its signature store — no
      re-shingle, no corpus self-pairs, no per-batch key explode (keys
      are precomputed at store-write time under ``_keys``);
    - the new batch's banded keys BROADCAST into every store pass, so
      nothing corpus-sized ever shuffles: per batch the store costs one
      map-combined count over the (broadcast-filtered) keys scan for the
      skew guard, one keys scan for the candidate join, and one sigs
      scan (broadcast-filtered to candidate ids) for the signature
      screen — all narrow streaming passes;
    - the skew guardrail drops matched keys with more than ``max_bucket``
      corpus entries (boilerplate bands — same guard as the batch
      operator), counted map-side so a degenerate key never materializes
      its pairs;
    - exact verify fetches text for CANDIDATE corpus ids only, so text
      moves for pairs, not the corpus.

    Output: ``(id_new, id_corpus, jaccard)``. Intra-batch duplicates are
    the batch operator's job — run ``minhash_lsh_pairs(new_docs)`` for
    those; dedup of the new batch against itself AND the corpus is the
    union of the two.

    Does not mutate the store: call :func:`write_signature_store` with
    ``mode="append"`` after accepting the batch so the next batch sees it.
    The new batch's signatures are cached for the duration of the plan
    (they feed three passes); long-lived ingest loops should call
    :func:`cache.release` between batches, like the batch operator.
    """
    import json
    from collections.abc import Iterator as _Iter

    import pandas as pd

    spark = new_docs.sparkSession
    with open(_store_meta_path(store_path)) as fh:
        meta = json.load(fh)
    if meta["id_col"] != id_col:
        raise ValueError(f"store id_col {meta['id_col']!r} != {id_col!r}")
    shingle_n, n_hashes = meta["shingle_n"], meta["n_hashes"]
    shingle_mode, seed = meta["shingle_mode"], meta["seed"]
    bands = meta["bands"]
    rows = n_hashes // bands

    new_sigs = cache.persist(minhash_signatures_batch(
        new_docs, id_col, text_col,
        shingle_n=shingle_n, n_hashes=n_hashes, seed=seed,
        shingle_mode=shingle_mode,
    ))
    new_keyed = cache.persist(new_sigs.select(
        F.col(id_col).alias("id_new"),
        F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk"),
    ).select("id_new", F.col("bk.key").alias("key")))
    new_key_set = new_keyed.select("key").distinct()

    store_keys = spark.read.parquet(
        os.path.join(store_path.rstrip("/"), "_keys")
    )
    # matched store keys only (broadcast filter), counted map-side: the
    # skew guard never materializes a hot key's pair explosion. The
    # guard bounds the TOTAL bucket (corpus + new entries), matching the
    # batch operator's _candidate_pairs semantics exactly.
    matched = store_keys.join(F.broadcast(new_key_set), "key")
    new_counts = new_keyed.groupBy("key").agg(F.count(F.lit(1)).alias("_nn"))
    hot = (
        matched.groupBy("key").agg(F.count(F.lit(1)).alias("_nc"))
        .join(F.broadcast(new_counts), "key")
        .filter(F.col("_nc") + F.col("_nn") > max_bucket)
        .select("key")
    )
    cand_ids = (
        matched.join(F.broadcast(hot), "key", "left_anti")
        .withColumnRenamed(id_col, "id_corpus")
        .join(F.broadcast(new_keyed), "key")
        # a batch re-probed after its own store append must not pair
        # docs with themselves (the batch operator's b > a exclusion)
        .filter(F.col("id_new") != F.col("id_corpus"))
        .select("id_new", "id_corpus")
        .dropDuplicates(["id_new", "id_corpus"])
    )
    # signature screen before any text moves (same margin rationale as
    # minhash_lsh_pairs); corpus sigs pruned to candidate ids via the
    # broadcast join — one narrow scan of the sigs table. LEFT join: a
    # candidate whose sig is missing (orphaned keys from a crashed
    # append) skips the screen and is settled by exact verify.
    corpus_sigs = spark.read.parquet(store_path).select(
        F.col(id_col).alias("id_corpus"), F.col("sig").alias("_sig_corpus")
    )
    cand = (
        F.broadcast(cand_ids)
        .join(corpus_sigs, "id_corpus", "left")
        .join(F.broadcast(new_sigs.select(
            F.col(id_col).alias("id_new"), F.col("sig").alias("_sig_new")
        )), "id_new")
    )
    screen = max(threshold - 0.25, 0.0)
    est = F.size(
        F.filter(
            F.zip_with("_sig_new", "_sig_corpus", lambda x, y: x == y),
            lambda m: m,
        )
    ) / F.lit(float(n_hashes))
    # persisted: consumed twice below (corpus text fetch + pair assembly)
    # — without it each consumer re-runs the store scans
    cand = cache.persist(cand.filter(
        F.col("_sig_corpus").isNull() | (est >= screen)
    ).select("id_new", "id_corpus"))

    # exact verify: texts for candidates only, in two bounded fetches —
    # the corpus text scan streams once against the broadcast candidate
    # ID set (never the per-pair texts: broadcasting pair×text would
    # replicate each new doc's text once per candidate and can blow the
    # broadcast limit on candidate-heavy batches), then the small
    # fetched corpus texts broadcast into the pair assembly.
    corpus_cand_texts = corpus_texts.select(
        F.col(id_col).alias("id_corpus"), F.col(text_col).alias("_tb")
    ).join(F.broadcast(cand.select("id_corpus").distinct()), "id_corpus")
    with_new = cand.join(
        new_docs.select(F.col(id_col).alias("id_new"),
                        F.col(text_col).alias("_ta")),
        "id_new",
    )
    paired = with_new.join(F.broadcast(corpus_cand_texts), "id_corpus")
    id_type = new_docs.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_new", id_type),
            T.StructField("id_corpus", id_type),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def verify_pairs(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        shingles: dict = {}

        def sset(key, text):
            s = shingles.get(key)
            if s is None:
                s = shingles[key] = _shingle_set(text, shingle_n, shingle_mode)
            return s

        for pdf in batches:
            if pdf.empty:
                continue
            jac = [
                round((len(a & b) / len(a | b)) if (a or b) else 1.0, 6)
                for a, b in (
                    (sset(("n", i), ta), sset(("c", j), tb))
                    for i, j, ta, tb in zip(
                        pdf["id_new"], pdf["id_corpus"], pdf["_ta"], pdf["_tb"]
                    )
                )
            ]
            out = pdf[["id_new", "id_corpus"]].copy()
            out["jaccard"] = jac
            yield out

    verified = paired.mapInPandas(verify_pairs, out_schema)
    return verified.filter(F.col("jaccard") >= threshold)


def cross_neardup_flags(
    corpus: DataFrame,
    refs: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ref_id_col: str | None = None,
) -> DataFrame:
    """Embedding-level decontamination: flag every corpus vector whose
    cosine to ANY reference vector reaches ``threshold``, reporting the
    best-matching reference — the semantic twin of t_decontaminate's
    n-gram screen (evals leak into training corpora as paraphrases, not
    verbatim text; WMDP/GSM8k-style contamination audits run exactly
    this scan).

    Scale shape: the reference set (an eval benchmark — thousands of
    rows, not corpus-sized) collects to a BROADCAST matrix; the corpus
    pass is one shuffle-free Arrow stage computing an (batch x refs)
    BLAS matmul + row argmax — no crossJoin row blowup, no exchange, no
    per-pair Python. Output is bounded by the flagged subset. For
    corpus-sized reference sets use semantic_neardup_pairs (cell-blocked)
    instead.

    Ties on the best score break toward the smallest reference id
    (deterministic, oracle-matchable). NULL/zero-norm corpus vectors are
    never flagged (cosine undefined).
    """
    if ref_id_col is None:
        ref_id_col = id_col
    ref_rows = sorted(
        (r[ref_id_col], list(r[vec_col]))
        for r in refs.collect()
        if r[vec_col] is not None
    )
    if not ref_rows:
        raise ValueError("cross_neardup_flags: empty reference set")
    ref_ids = np.array([i for i, _ in ref_rows])
    R = np.array([v for _, v in ref_rows], dtype=np.float64)
    Rn = R / np.maximum(np.linalg.norm(R, axis=1)[:, None], 1e-300)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((ref_ids, Rn))
    out_schema = T.StructType(
        [
            corpus.schema[id_col],
            T.StructField("eval_id", corpus.schema[id_col].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    thr = float(threshold)

    def scan(batches):
        import pandas as pd

        ids, Rn_ = bc.value
        for pdf in batches:
            # NULL embeddings have no cosine: drop them BEFORE vstack
            # (None rows would break the stack, not reach the norm mask)
            pdf = pdf[pdf[vec_col].notna()]
            if pdf.empty:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(X, axis=1)
            ok = norms > 0
            if not ok.any():
                continue
            Xn = X[ok] / norms[ok][:, None]
            S = Xn @ Rn_.T
            best = S.argmax(axis=1)  # first max -> smallest ref id (sorted)
            bs = S[np.arange(len(best)), best]
            keep = bs >= thr
            if not keep.any():
                continue
            cid = pdf[id_col].to_numpy()[ok][keep]
            yield pd.DataFrame(
                {
                    id_col: cid,
                    "eval_id": ids[best[keep]],
                    "score": bs[keep],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(scan, out_schema)


def substring_dup_spans(
    docs: DataFrame,
    *,
    k: int = 8,
    min_freq: int = 2,
    scope: str = "cross_doc",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring spans (the ExactSubstr operator family of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): every maximal token span covered by word ``k``-grams that
    occur in at least ``min_freq`` distinct documents (``scope=
    'cross_doc'``) or at least ``min_freq`` times anywhere including
    within one document (``scope='any'``).

    Returns ``(id_col, span_start, span_end, span_tokens)`` with 1-based
    inclusive token positions; documents shorter than ``k`` tokens and
    documents with no duplicated gram produce no rows.

    Scale shape (the suffix-array build of the paper is a single-machine
    construction; this is the distributed equivalent over k-gram anchors):
    ONE pass over the token stream emits ``(doc_id, pos, xxhash64(gram))``
    — the shuffle carries ~20-byte rows, never text — and ONE exchange on
    the gram hash serves both the frequency count and the duplicate
    marking (``collect_set`` / ``count`` over a gram-partitioned window,
    no second scan, no self-join). Span assembly is a per-document
    gaps-and-islands window: because all intervals share length ``k``,
    a lag on the sorted start positions is sufficient (the running-max
    interval-merge degenerates), and its state is bounded by the
    document's duplicated positions. Hot grams (boilerplate) concentrate
    one hash cell like any exact group-by; the 64-bit hash keeps false
    duplicate pairs at ~n²/2⁶⁵ — the DuckDB oracle twin groups by the
    gram STRING, so the driver's hash-compare cross-checks the hashed
    plan against the exact one on every run.
    """
    if k < 2:
        raise ValueError(f"substring_dup_spans: k must be >= 2, got {k}")
    if scope not in ("cross_doc", "any"):
        raise ValueError(f"substring_dup_spans: unknown scope {scope!r}")
    from pyspark.sql import Window

    toks = docs.select(id_col, F.split(F.col(text_col), " ").alias("l"))
    # explode(NULL) emits nothing: docs shorter than k vanish here
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("l") >= k,
                F.expr(
                    f"transform(sequence(1, size(l) - {k} + 1), "
                    f"p -> struct(p AS pos, "
                    f"xxhash64(array_join(slice(l, p, {k}), ' ')) AS gh))"
                ),
            )
        ).alias("g"),
    ).select(id_col, F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))

    wg = Window.partitionBy("gh")
    freq = (
        F.size(F.collect_set(id_col).over(wg))
        if scope == "cross_doc"
        else F.count(F.lit(1)).over(wg)
    )
    marked = grams.withColumn("freq", freq).filter(
        F.col("freq") >= int(min_freq)
    )

    wd = Window.partitionBy(id_col).orderBy("pos")
    lag_pos = F.lag("pos").over(wd)
    new_island = F.when(
        lag_pos.isNull() | (F.col("pos") > lag_pos + k), 1
    ).otherwise(0)
    return (
        marked.select(id_col, "pos")
        .withColumn("island", F.sum(new_island).over(wd))
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def substring_dup_stats(
    docs: DataFrame,
    *,
    k: int = 8,
    min_freq: int = 2,
    scope: str = "cross_doc",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-substring report over substring_dup_spans:
    ``(id_col, n_tokens, dup_spans, dup_tokens, dup_frac)`` for EVERY
    input document (zero rows for clean docs; the left join keys on the
    document id, so at scale both sides hash-exchange id-keyed rows —
    token counts and span counts, never text). ``dup_frac`` is the
    span-covered fraction of the document's tokens — the quantity
    curation pipelines threshold on to drop boilerplate-heavy docs."""
    spans = substring_dup_spans(
        docs,
        k=k,
        min_freq=min_freq,
        scope=scope,
        id_col=id_col,
        text_col=text_col,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("dup_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("dup_frac"),
    )


def line_dedup(
    docs: DataFrame,
    *,
    line_tokens: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet/RefinedWeb-style corpus-level line deduplication: segment each
    document into non-overlapping ``line_tokens``-token "lines" (the fixture
    corpus has no newlines, so fixed token windows stand in for lines; the
    trailing partial window is a line too), keep only the FIRST occurrence
    of every repeated line across the whole corpus (ordered by
    ``(id, line index)``), and rewrite each document from its surviving
    lines.

    Output: one row per input document —
    ``(id_col, n_lines, dropped_lines, clean_tokens, clean_text)``.

    Scale shape (100 TB): the global keep-first pass shuffles
    ``(md5(line), id, idx)`` rows — 16-byte digests, never text — for one
    hash-partitioned ``row_number`` window. Dropped occurrences (rn > 1)
    aggregate to per-doc index lists whose total size is proportional to the
    corpus' duplicated-line mass, typically a small fraction of the corpus,
    so the rebuild join's right side is small and AQE plans it as a
    broadcast; document text itself is never exchanged. Line equality is
    md5-keyed (same contract as the exact-dedup op above: a 128-bit digest
    stands in for text equality).
    """
    tk = F.split(F.col(text_col), r"\s+")
    nseg = F.ceil(F.size("_tk") / F.lit(float(line_tokens))).cast("int")

    def _seg(i: Column) -> Column:
        return F.array_join(
            F.slice(F.col("_tk"), i * line_tokens + 1, line_tokens), " "
        )

    segs = F.transform(F.sequence(F.lit(0), nseg - 1), _seg)
    base = docs.select(F.col(id_col), tk.alias("_tk"))
    occ = base.select(
        F.col(id_col), F.posexplode(segs).alias("_cidx", "_chunk")
    ).select(id_col, "_cidx", F.md5(F.col("_chunk").cast("binary")).alias("_h"))
    from pyspark.sql import Window

    w = Window.partitionBy("_h").orderBy(
        F.col(id_col).asc(), F.col("_cidx").asc()
    )
    dropped = (
        occ.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .groupBy(id_col)
        .agg(F.collect_list("_cidx").alias("_drop"))
    )
    joined = base.join(dropped, id_col, "left")
    kept = F.when(F.col("_drop").isNull(), segs).otherwise(
        F.filter(segs, lambda c, i: ~F.array_contains(F.col("_drop"), i))
    )
    clean_text = F.array_join(kept, " ")
    return joined.select(
        F.col(id_col),
        F.size(segs).cast("long").alias("n_lines"),
        F.coalesce(F.size("_drop"), F.lit(0)).cast("long").alias("dropped_lines"),
        F.when(clean_text == "", F.lit(0))
        .otherwise(F.size(F.split(clean_text, " ")))
        .cast("long")
        .alias("clean_tokens"),
        clean_text.alias("clean_text"),
    )


def banding_curve(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 5,
    n_hashes: int = 64,
    configs: tuple[int, ...] = (4, 8, 16, 32),
    threshold: float = 0.3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banding advisor (the dedup counterpart of the ANN index advisor
    ``v_recall_matrix``): for every (bands, rows) split of ONE signature
    build, measure candidate volume and exact precision/recall against the
    true Jaccard >= ``threshold`` pair set — the table an operator consults
    before picking a banding for a corpus, instead of trusting the
    theoretical S-curve alone (whose threshold (1/b)^(1/r) is also
    reported per row).

    Honesty: ground truth is EXACT corpus-wide all-pairs Jaccard,
    computed by a shingle-inverted-index join (pairs sharing >= 1
    distinct shingle carry their exact intersection count out of one
    groupBy — any pair with Jaccard > 0 shares a shingle, so nothing is
    missed). That is quadratic in hot-shingle document frequency, which
    is exactly why this is an ADVISOR to run on a bounded content-keyed
    sample (the catalog query caps ids), not a production dedup path —
    the production path is minhash_lsh_pairs with the banding this table
    recommends.

    One signature pass serves every config: per-config band keys are
    tagged and unioned, so candidate generation for all configs rides a
    single (cfg, key) exchange. ``max_bucket`` applies per config, same
    guardrail semantics as minhash_lsh_pairs.
    """
    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    sig = cache.persist(
        minhash_signatures_batch(base, "id", "text", shingle_n=shingle_n,
                                 n_hashes=n_hashes)
    )

    # ---- exact ground truth via shingle inverted index -------------------
    sh = cache.persist(
        widen(base).select("id", char_shingles("text", shingle_n).alias("sh"))
    )
    sizes = sh.select(F.col("id"), F.size("sh").alias("nsh"))
    # Grouped by the shingle STRING itself (not a 64-bit hash of it) so
    # "exact" holds unconditionally — a hash collision would merge two
    # shingles' buckets and fabricate intersection counts.
    per_sgl = (
        sh.select("id", F.explode("sh").alias("sgl"))
        .groupBy("sgl")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    inter_pairs = _pair_frame(per_sgl).groupBy("id_a", "id_b").agg(
        F.count("*").alias("inter")
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    # persisted: BOTH consumers below (the per-config left join and the
    # n_true total) would otherwise re-evaluate the whole exact-truth
    # subtree — whose pair explode is quadratic in hot-shingle df, the
    # dominant cost of the advisor (measured ~2x the warm wall at sf0.1)
    truth = cache.persist(
        inter_pairs.join(
            sizes.select(F.col("id").alias("id_a"), F.col("nsh").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("nsh").alias("nb")),
            "id_b",
        )
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.lit(1).alias("hit"))
    )

    # ---- candidates for every config off the one signature build ---------
    parts = []
    for b in configs:
        if n_hashes % b:
            raise ValueError(f"bands={b} does not divide n_hashes={n_hashes}")
        r = n_hashes // b
        parts.append(
            sig.select(
                F.lit(b).alias("cfg"),
                "id",
                F.explode(lsh_band_keys(F.col("sig"), b, r)).alias("bk"),
            ).select("cfg", "id", F.col("bk.key").alias("key"))
        )
    keyed = parts[0]
    for p in parts[1:]:
        keyed = keyed.unionByName(p)
    cand = _candidate_pairs(keyed, "id", max_bucket, group_cols=("cfg",))

    per_cfg = (
        cand.join(truth, ["id_a", "id_b"], "left")
        .groupBy("cfg")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_caught"),
        )
    )
    # a config whose banding catches nothing must still report its row
    cfg_rows = spark.createDataFrame(
        [(int(b), int(n_hashes // b)) for b in configs],
        "bands int, rows_per_band int",
    )
    n_true = truth.agg(F.count("*").alias("n_true"))
    out = (
        cfg_rows.join(
            per_cfg.withColumnRenamed("cfg", "bands"), "bands", "left"
        )
        .crossJoin(F.broadcast(n_true))
        .select(
            "bands",
            "rows_per_band",
            F.round(
                F.pow(
                    F.lit(1.0) / F.col("bands").cast("double"),
                    F.lit(1.0) / F.col("rows_per_band").cast("double"),
                ),
                6,
            ).alias("s_curve_thresh"),
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce(F.col("n_caught"), F.lit(0))
            .cast("long")
            .alias("n_caught"),
            F.col("n_true").cast("long").alias("n_true"),
            F.when(
                F.col("n_true") > 0,
                F.round(
                    F.coalesce(F.col("n_caught"), F.lit(0)).cast("double")
                    / F.col("n_true"),
                    6,
                ),
            ).alias("recall"),
            F.when(
                F.coalesce(F.col("n_candidates"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_caught"), F.lit(0)).cast("double")
                    / F.col("n_candidates"),
                    6,
                ),
            ).alias("precision"),
        )
    )
    return out


def _permille(threshold: float, name: str) -> int:
    """Validate a permille-exact similarity threshold and return it as an
    integer (the exactness contract of the prefix-filter family: no float
    ever decides membership)."""
    t_pm = round(threshold * 1000)
    if not (0 < t_pm <= 1000) or abs(threshold * 1000 - t_pm) > 1e-9:
        raise ValueError(
            f"{name}: threshold must be a permille-exact value in (0, 1], "
            f"got {threshold!r}"
        )
    return t_pm


def _rare_first_prefix(ex: DataFrame, t_pm: int) -> DataFrame:
    """Prefix rows of each set under the rare-first global token order.

    ``ex`` is the exploded (_id, g) HASHED token stream of distinct sets.
    Tokens are ranked per set by (global df asc, hash asc); the first
    ``|S_q| - ceil(t*|S_q|) + 1`` survive, where |S_q| counts DISTINCT
    hashes within the set — the prefix-filter theorem's candidate-bearing
    slice for threshold ``t_pm``/1000 over the hash-quotient alphabet
    (review find: sizing the prefix by the raw string count while an
    intra-set hash collision shrinks the quotient set could leave the
    kept prefix one quotient token short of the theorem's requirement).
    Duplicate hashes within a set sort adjacently (equal df, equal hash),
    so the dedup is a lag() on the same window exchange — one df exchange
    + one per-id window exchange total, no extra shuffle."""
    dfc = ex.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
    per_id = Window.partitionBy("_id")
    w = per_id.orderBy(F.col("_df").asc(), F.col("g").asc())
    deduped = (
        ex.join(dfc, "g")
        .withColumn("_prev", F.lag("g").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("g")))
        .drop("_prev")
    )
    ranked = (
        deduped.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(per_id))
    )
    prefix_len = (
        F.col("_n") - F.expr(f"({t_pm} * _n + 999) div 1000") + F.lit(1)
    )
    return ranked.filter(F.col("_rn") <= prefix_len).select("_id", "g")


def _hashed_distinct_sets(
    df: DataFrame, id_col: str, set_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared entry of the prefix-filter joins: the persisted distinct-set
    frame (referenced by the token stream AND both verify sides — persist
    keeps the caller's set-construction expression, often a heavy n-gram
    chain, from evaluating three times; lazy, released by
    cache.release()) plus its exploded 64-bit-hashed token stream.

    Hashing is the d_substring_spans discipline — exchanges move 8-byte
    keys, never n-gram strings. Exactness survives: a collision merges two
    tokens into one quotient symbol, which can only RAISE quotient
    Jaccard/containment above the true value, so prefix filtering over the
    quotient alphabet yields a candidate SUPERSET — and the verify joins
    always test the real string sets."""
    base = cache.persist(
        df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(F.col(set_col)).alias("_set"),
        )
        .filter(F.size("_set") > 0)
    )
    ex = base.select("_id", F.explode("_set").alias("g")).select(
        "_id", F.xxhash64("g").alias("g")
    )
    return base, ex


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    *,
    max_bucket: int = 5000,
) -> DataFrame:
    """EXACT set-similarity self-join: all pairs with Jaccard >= threshold,
    via prefix filtering (AllPairs/PPJoin family — Bayardo et al. WWW'07,
    Xiao et al. WWW'08). The exact counterpart of minhash_lsh_pairs: no
    hashing, no recall trade — every qualifying pair is returned, with the
    candidate set bounded by the prefix-filter theorem instead of banding
    probability.

    Prefix filter: order every set by ascending global token frequency
    (rarest first, ties by token). If J(A,B) >= t then A and B share at
    least one token within their prefixes of length
    ``|S| - ceil(t*|S|) + 1`` — because J >= t forces |A∩B| >= t*|A|, so
    fewer than the prefix length of A's tokens can precede the first
    shared token. Candidates are generated ONLY from prefix-token buckets;
    rare-first ordering makes those buckets small on natural corpora
    (high-entropy tokens such as word n-grams), which is exactly where the
    filter earns its keep: on this repo's fixture the prefix pass prunes
    124,750 doc pairs to the 25 true near-dup pairs before verification.

    Exactness discipline: the threshold is interpreted at integer permille
    resolution (``t_pm = round(threshold*1000)`` must hit it exactly) and
    both the prefix length and the final Jaccard test are pure integer
    arithmetic (``1000*|A∩B| >= t_pm*|A∪B|``) — no float ever decides
    membership, so the result replays bit-for-bit in any engine.

    Skew guard: a prefix-token bucket larger than ``max_bucket`` RAISES
    in-plan (fuzzy_self_pairs discipline — silently dropping a bucket
    would break the exactness contract, unlike minhash's documented
    recall trade). A corpus that trips it needs a higher-entropy
    tokenization, not a bigger cap.

    Scale shape: one exchange for token df (map-side combined), one
    id-keyed window exchange to order/measure each set, one bucket
    exchange over PREFIX tokens only (~(1-t) of the corpus tokens), pair
    generation in-array (no self-join), then a candidate-sized verify
    join that is the only place full sets move. Returns
    (id_a, id_b, n_inter, n_union, jaccard) with id_a < id_b.
    """
    t_pm = _permille(threshold, "ppjoin_pairs")
    base, ex = _hashed_distinct_sets(df, id_col, set_col)
    prefix = _rare_first_prefix(ex, t_pm).select(
        "_id", F.col("g").alias("key")
    )
    sized = prefix.groupBy("key").agg(F.collect_list("_id").alias("ids"))
    guarded = sized.select(
        F.when(F.size("ids") <= max_bucket, F.col("ids"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ppjoin_pairs: prefix-token bucket "),
                    F.col("key").cast("string"),
                    F.lit(
                        f" exceeds max_bucket={max_bucket}; use a "
                        "higher-entropy tokenization"
                    ),
                )
            )
        )
        .alias("ids")
    ).where(F.size("ids") > 1)
    cand = _pair_frame(guarded).distinct()
    sa = base.select(
        F.col("_id").alias("id_a"),
        F.col("_set").alias("_sa"),
        F.size("_set").alias("_na"),
    )
    sb = base.select(
        F.col("_id").alias("id_b"),
        F.col("_set").alias("_sb"),
        F.size("_set").alias("_nb"),
    )
    na, nb = F.col("_na"), F.col("_nb")
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        # length filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|)
        .filter(1000 * F.least(na, nb) >= t_pm * F.greatest(na, nb))
        .withColumn("n_inter", F.size(F.array_intersect("_sa", "_sb")).cast("long"))
        .withColumn("n_union", (na + nb - F.col("n_inter")).cast("long"))
        .filter(1000 * F.col("n_inter") >= t_pm * F.col("n_union"))
    )
    return verified.select(
        "id_a",
        "id_b",
        "n_inter",
        "n_union",
        F.round(
            F.col("n_inter").cast("double") / F.col("n_union").cast("double"),
            6,
        ).alias("jaccard"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    *,
    max_bucket: int = 5000,
) -> DataFrame:
    """EXACT asymmetric containment self-join: all ordered pairs where
    ``|A ∩ B| / |A| >= threshold`` — A is the CONTAINED set. This catches
    what Jaccard near-dup (ppjoin_pairs / minhash) structurally cannot: a
    short document quoted inside a much longer one has containment ~1.0
    but Jaccard ~|A|/|B|, far below any near-dup threshold. The
    bag-of-ngrams sibling of d_substring_spans (which needs the overlap
    contiguous; this does not).

    Prefix filter, containment form: c(A,B) >= t forces
    |A∩B| >= ceil(t*|A|), so A's rare-first prefix of length
    |A| - ceil(t*|A|) + 1 must hit SOME token of B (not just B's prefix —
    the filter is one-sided, which is why containment candidates cost more
    than Jaccard candidates). Candidates come from buckets keyed by A's
    prefix tokens joined against the full token lists; both lists in a
    bucket are bounded by the token's global df, and rare-first ordering
    keeps prefix tokens rare. Oversized buckets RAISE (exactness
    contract, fuzzy_self_pairs discipline).

    Membership is integer cross-multiplication (1000*i >= t_pm*|A|); the
    float containment column is display-only. Returns
    (contained_id, container_id, n_inter, n_contained, containment) —
    directional rows, both directions reported when both pass (exact
    duplicates), self-pairs excluded.

    Scale shape: token-df exchange + per-id window (shared helper with
    ppjoin_pairs), one bucket exchange over (prefix ∪ full) occurrences of
    prefix-active tokens only, in-array pair generation, candidate-sized
    verify join."""
    t_pm = _permille(threshold, "containment_pairs")
    base, ex = _hashed_distinct_sets(df, id_col, set_col)
    prefix = _rare_first_prefix(ex, t_pm)
    # Bucket per token: the ids whose PREFIX contains it x the ids whose
    # SET contains it. Only tokens appearing in some prefix form buckets.
    pre_ids = prefix.groupBy("g").agg(
        F.collect_list("_id").alias("pre_ids")
    )
    all_ids = ex.groupBy("g").agg(F.collect_list("_id").alias("all_ids"))
    bucket = pre_ids.join(all_ids, "g")
    guarded = bucket.select(
        F.when(
            F.size("pre_ids").cast("long") * F.size("all_ids").cast("long")
            <= max_bucket * max_bucket,
            F.col("pre_ids"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("containment_pairs: token bucket "),
                    F.col("g").cast("string"),
                    F.lit(
                        f" exceeds max_bucket={max_bucket}^2 pair budget; "
                        "use a higher-entropy tokenization"
                    ),
                )
            )
        )
        .alias("pre_ids"),
        "all_ids",
    )
    cand = (
        guarded.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("pre_ids"),
                        lambda a: F.transform(
                            F.filter(F.col("all_ids"), lambda b: b != a),
                            lambda b: F.struct(
                                a.alias("contained_id"),
                                b.alias("container_id"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.contained_id", "p.container_id")
        .distinct()
    )
    sa = base.select(
        F.col("_id").alias("contained_id"),
        F.col("_set").alias("_sa"),
        F.size("_set").alias("_na"),
    )
    sb = base.select(
        F.col("_id").alias("container_id"),
        F.col("_set").alias("_sb"),
        F.size("_set").alias("_nb"),
    )
    verified = (
        cand.join(sa, "contained_id")
        .join(sb, "container_id")
        # size filter: c >= t forces |A ∩ B| >= ceil(t|A|), and the
        # intersection can never exceed |B|
        .filter(1000 * F.col("_nb") >= t_pm * F.col("_na"))
        .withColumn(
            "n_inter", F.size(F.array_intersect("_sa", "_sb")).cast("long")
        )
        .filter(1000 * F.col("n_inter") >= t_pm * F.col("_na"))
    )
    return verified.select(
        "contained_id",
        "container_id",
        "n_inter",
        F.col("_na").cast("long").alias("n_contained"),
        F.round(
            F.col("n_inter").cast("double") / F.col("_na").cast("double"), 6
        ).alias("containment"),
    )
