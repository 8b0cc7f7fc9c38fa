"""Product quantization (PQ) with asymmetric-distance scoring and exact
rescore — the deep-compression tier of the vector store (public technique:
Jégou et al. 2011; the PQ of FAISS).

Vectors are split into ``m`` subspaces; each subspace gets a small k-means
codebook; a vector encodes to ``m`` code bytes (64-dim float32 → 8 bytes =
32x). Search is ADC: the query precomputes an (m × k) lookup table of
subspace dot products, so scoring a code is ``m`` table lookups + adds —
one numpy gather per Arrow batch here. Exact rescore of the top-C
candidates restores exact top-k.

Spark shape: codebooks train driver-side on a bounded SAMPLE (the standard
PQ recipe — codebooks are tiny and training needs k·m·iters distance
evals, not the corpus); encode/score are Arrow batch passes; the rescore
is a broadcast candidate semi-join. Cosine use: normalize vectors first
(dot over unit vectors == cosine), which also makes ADC error scale-free.

This module also holds the package's one k-means: :func:`sample_vectors`
takes the training sample in ONE Spark job (a hash top-k, so the sample is
a function of the vectors alone, not of the partition layout, and every
row is validated on the way), and :func:`_kmeans` runs seeded Lloyd's on
it driver-side. The IVF fit (operators/ann.ivf_fit) uses both.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .topk import knn


def sample_vectors(
    df: DataFrame, vec_col: str, cap: int, seed: int
) -> tuple[np.ndarray, int]:
    """The ``cap`` vectors with the smallest ``xxhash64(seed, v)`` (ties
    broken by ``v``) as a float64 matrix, plus the corpus row count — ONE
    Spark job: an ordered limit (per-task top-k, bounded state, no
    shuffle) whose input also feeds an ``Observation`` over EVERY row.

    The sample is a function of the vector contents only, so any
    repartitioning of the same corpus trains bit-identical models (a bare
    ``limit`` takes whichever partitions come first). The observation
    rejects NULL, ragged, empty and non-finite vectors anywhere in the
    corpus, not just in the sample, with one ``ValueError`` carrying the
    counts; the checks are codegen'd array_max/array_min/array_compact
    expressions, not lambdas."""
    v = F.col("_v")
    hi, lo = F.array_max(v), F.array_min(v)
    bad = (
        F.isnan(hi)
        | (hi == float("inf"))
        | (lo == float("-inf"))
        | (F.size(F.array_compact(v)) < F.size(v))
    )
    dim = F.when(v.isNotNull(), F.size(v))
    obs = Observation()
    rows = (
        df.select(F.col(vec_col).cast("array<double>").alias("_v"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.count_if(v.isNull()).alias("null"),
            F.min(dim).alias("min_dim"),
            F.max(dim).alias("max_dim"),
            F.count_if(bad).alias("non_finite"),
        )
        .orderBy(F.xxhash64(F.lit(seed), v), v)
        .limit(cap)
        .collect()
    )
    c = obs.get
    if c["null"] or c["non_finite"] or c["min_dim"] != c["max_dim"] or c["min_dim"] == 0:
        raise ValueError(
            f"{vec_col!r} must hold non-NULL, finite vectors of one length: "
            f"{c['rows']} rows, {c['null']} NULL, {c['non_finite']} with "
            f"NaN/Inf/NULL elements, lengths {c['min_dim']}..{c['max_dim']}"
        )
    return np.asarray([r[0] for r in rows], dtype=np.float64), c["rows"]


def _kmeans(X: np.ndarray, k: int, max_iter: int, rng: np.random.Generator) -> np.ndarray:
    """Seeded k-means on the driver (``X`` is a bounded sample): greedy
    k-means++ seeding, then Lloyd's until ``max_iter`` or until no assignment
    changes. Distances take the matmul form ``|x|² − 2XCᵀ + |c|²`` —
    O(n·k) memory where broadcasting ``X − C`` is O(n·k·d), which an IVF
    sample of 256 points × hundreds of cells cannot afford. A cell left
    empty is re-seeded at the sample point farthest from its centre
    (ties by index), so the result depends on ``X`` and ``rng`` only."""
    n = len(X)
    if n < k:
        raise ValueError(f"k-means needs at least k={k} points, got {n}")
    x2 = np.einsum("ij,ij->i", X, X)

    def sqdist(C: np.ndarray) -> np.ndarray:
        c2 = np.einsum("ij,ij->i", C, C)
        return np.maximum(x2[:, None] - 2.0 * (X @ C.T) + c2[None, :], 0.0)

    # greedy k-means++: draw 2 + ln k candidates ∝ D² per step and keep
    # the one that lowers the potential most (Arthur & Vassilvitskii §6)
    trials = 2 + int(np.log(k))
    centers = np.empty((k, X.shape[1]))
    centers[0] = X[rng.integers(n)]
    closest = sqdist(centers[:1])[:, 0]
    for j in range(1, k):
        cum = np.cumsum(closest)
        if cum[-1] > 0.0:
            cand = np.searchsorted(cum, rng.random(trials) * cum[-1], side="right")
        else:  # every point sits on a chosen centre (duplicates)
            cand = rng.integers(n, size=trials)
        d2 = np.minimum(closest[:, None], sqdist(X[cand]))
        best = int(d2.sum(axis=0).argmin())
        centers[j] = X[cand[best]]
        closest = d2[:, best]

    assign = None
    for _ in range(max_iter):
        # |x|² is constant per row, so the argmin needs only |c|² − 2x·c
        d = X @ centers.T
        d *= -2.0
        d += np.einsum("ij,ij->i", centers, centers)
        new = d.argmin(axis=1)
        if assign is not None and np.array_equal(new, assign):
            break
        assign = new
        counts = np.bincount(assign, minlength=k)
        live = counts > 0
        starts = np.cumsum(counts) - counts
        sums = np.add.reduceat(X[np.argsort(assign, kind="stable")], starts[live])
        centers[live] = sums / counts[live, None]
        empty = np.flatnonzero(~live)
        if len(empty):
            far = np.argsort(-(x2 + d[np.arange(n), assign]), kind="stable")
            centers[empty] = X[far[: len(empty)]]
    return centers


class PqModel:
    """codebooks: (m, k, dsub) — subspace centroids."""

    def __init__(self, codebooks: np.ndarray):
        self.codebooks = codebooks
        self.m, self.k, self.dsub = codebooks.shape

    def encode(self, df: DataFrame, vec_col: str = "embedding",
               code_col: str = "pq_code") -> DataFrame:
        bc = df.sparkSession.sparkContext.broadcast(self.codebooks)
        schema = T.StructType(
            [f for f in df.schema.fields if f.name != vec_col]
            + [T.StructField(code_col, T.BinaryType())]
        )
        m, dsub = self.m, self.dsub

        def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            books = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                codes = np.empty((len(X), m), dtype=np.uint8)
                for s in range(m):
                    sub = X[:, s * dsub : (s + 1) * dsub]
                    d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                    codes[:, s] = d2.argmin(axis=1)
                out = pdf.drop(columns=[vec_col]).copy()
                out[code_col] = [c.tobytes() for c in codes]
                yield out

        return df.mapInPandas(enc, schema)

    def screen(
        self,
        codes: DataFrame,
        query_vec: Sequence[float],
        depth: int,
        *,
        id_col: str = "vec_id",
        code_col: str = "pq_code",
        metric: str = "cosine",
    ) -> DataFrame:
        """ADC top-``depth`` candidates (id, _adc) — the screen half of
        :meth:`search`, exposed for recall audits. The lookup
        table matches the metric: dot product (desc) for ``cosine`` — the
        corpus must have been encoded from normalized vectors (see fit_pq
        ``normalize``) — or squared subspace distance (asc) for ``l2``; a
        dot screen on un-normalized vectors would keep the LARGEST vectors,
        not the nearest."""
        if metric not in ("cosine", "l2"):
            raise ValueError(f"unsupported metric {metric!r}")
        q = np.asarray(query_vec, dtype=np.float64)
        qsub = (q / np.linalg.norm(q) if metric == "cosine" else q).reshape(
            self.m, self.dsub
        )
        if metric == "cosine":
            lut = np.einsum("mkd,md->mk", self.codebooks, qsub)  # (m × k) dots
        else:
            lut = ((self.codebooks - qsub[:, None, :]) ** 2).sum(axis=2)
        bc = codes.sparkSession.sparkContext.broadcast(lut)
        out_schema = T.StructType(
            [codes.schema[id_col], T.StructField("_adc", T.DoubleType())]
        )
        m = self.m

        def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            table = bc.value
            cols = np.arange(m)
            for pdf in batches:
                if pdf.empty:
                    continue
                C = np.vstack(
                    [np.frombuffer(b, dtype=np.uint8) for b in pdf[code_col]]
                ).astype(np.int64)
                s = table[cols[None, :], C].sum(axis=1)
                yield pd.DataFrame({id_col: pdf[id_col], "_adc": s})

        order = (
            F.col("_adc").desc() if metric == "cosine" else F.col("_adc").asc()
        )
        return (
            codes.select(id_col, code_col)
            .mapInPandas(adc, out_schema)
            .orderBy(order, F.col(id_col).asc())
            .limit(depth)
        )

    def search(
        self,
        codes: DataFrame,
        floats: DataFrame,
        query_vec: Sequence[float],
        k: int = 10,
        *,
        rescore: int = 100,
        id_col: str = "vec_id",
        code_col: str = "pq_code",
        vec_col: str = "embedding",
        metric: str = "cosine",
    ) -> DataFrame:
        """ADC screen → exact knn over the candidates (broadcast
        semi-join into the float table)."""
        cand = self.screen(
            codes, query_vec, rescore,
            id_col=id_col, code_col=code_col, metric=metric,
        )
        subset = floats.join(F.broadcast(cand.select(id_col)), id_col)
        return knn(subset, list(query_vec), k, id_col=id_col, vec_col=vec_col,
                   metric=metric)


def fit_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    m: int = 8,
    k: int = 16,
    sample_rows: int = 20_000,
    iters: int = 10,
    seed: int = 42,
    normalize: bool = True,
) -> PqModel:
    """Train subspace codebooks on at most ``sample_rows`` vectors taken
    by :func:`sample_vectors` — so the codebooks are a function of the
    corpus contents and ``seed``, whatever its partition layout.
    ``normalize`` unit-norms the training vectors — use together with
    normalized corpus vectors for cosine search (dot == cosine)."""
    X, _ = sample_vectors(df, vec_col, sample_rows, seed)
    if normalize:
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        X = X / norms
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.stack(
        [
            _kmeans(X[:, s * dsub : (s + 1) * dsub], k, iters, rng)
            for s in range(m)
        ]
    )
    return PqModel(books)


def l2_normalized(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Unit-normalize a vector column via one Arrow pass (cosine prep for
    PQ encode)."""
    schema = df.schema

    def norm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = np.linalg.norm(X, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            pdf = pdf.copy()
            pdf[vec_col] = list(X / n)
            yield pdf

    return df.mapInPandas(norm, schema)
