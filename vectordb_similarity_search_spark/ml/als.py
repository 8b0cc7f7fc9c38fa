"""Distributed Alternating Least Squares matrix factorization.

The canonical collaborative-filtering trainer (Koren et al. 2009;
Zhou et al. 2008 "Large-scale Parallel Collaborative Filtering"),
re-expressed as DataFrame operations:

- each half-iteration SOLVES one side exactly: the user step joins the
  ratings onto the item-factor table (a hash join on item id) and runs
  one ``applyInPandas`` per user group that builds the k×k normal
  equations and solves them — the item step is symmetric. NO
  driver-side collect of ratings or factors: both factor tables live as
  DataFrames, and each half-step is join → grouped solve, the same
  shape Spark MLlib's ALS blocks compute;
- factor frames are ``localCheckpoint``-ed per half-step — the
  iterative-loop discipline from operators/graph.pagerank and
  operators/dedup.dedup_clusters (a loop that rebuilds a frame from its
  previous iteration must checkpoint, not persist: persist keeps the
  nested logical plan and the tree grows exponentially in rounds);
- determinism: init factors are a content-keyed hash of (id, dim) —
  the hash_sample / r_dp_counts discipline, never rand(seed) — and
  every per-group normal-equation accumulation folds over ratings
  SORTED by counterpart id, so A and b are bit-identical under any
  partition layout and ``np.linalg.solve`` sees the same inputs
  (fixture-oracle stable the way r_pagerank is);
- training RMSE is reported from integer-quantized squared errors
  (exact sums, layout-independent).

At 100 TB: the join side scales out (ratings never leave executors);
the factor tables are (n_users + n_items) × k rows — shuffle-light. For
corpora where a single user's ratings don't fit a task, MLlib's block
formulation shards the normal equations too; this implementation
documents that boundary instead of hiding it (grouped solve = one task
per user).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hash_unit(key: str) -> float:
    """Deterministic uniform in [0, 1): first 13 hex chars of md5 over
    2^52 — the content-keyed draw shared with r_dp_counts."""
    h = int(hashlib.md5(key.encode()).hexdigest()[:13], 16)
    return h / float(1 << 52)


def _init_vector(i: int, rank: int, tag: str, scale: float = 0.1) -> list[float]:
    """Content-keyed factor init of one id: factor[d] of id i is
    (md5-uniform('als:tag:i:d') − 0.5)·scale — reproducible across
    sessions, layouts and cluster sizes."""
    return [(_hash_unit(f"als:{tag}:{i}:{d}") - 0.5) * scale for d in range(rank)]


def init_factors(ids, rank: int, *, tag: str, scale: float = 0.1):
    """:func:`_init_vector` for every id, as the ``{id: vector}`` map the
    test replica of :func:`als_fit` starts from."""
    return {
        int(i): np.array(_init_vector(int(i), rank, tag, scale), dtype=np.float64)
        for i in ids
    }


def _solve_side(
    ratings: DataFrame,
    other_factors: DataFrame,
    *,
    solve_col: str,
    other_col: str,
    rank: int,
    reg: float,
) -> DataFrame:
    """One ALS half-step: solve ``solve_col``'s factors given
    ``other_col``'s. ratings(solve_col, other_col, r double);
    other_factors(other_col, f array<double>). Returns
    (solve_col, f array<double>)."""
    joined = ratings.join(other_factors, other_col).select(
        solve_col, other_col, "r", "f"
    )
    out_schema = T.StructType(
        [
            T.StructField(solve_col, T.LongType()),
            T.StructField("f", T.ArrayType(T.DoubleType())),
        ]
    )

    def solve_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic accumulation: fold in (counterpart id, rating)
        # order — the rating tie-break covers inputs with duplicate
        # (user, item) keys (an event log rather than a pre-aggregated
        # matrix), where id-only sorting would leave equal-key rows in
        # partition-dependent arrival order and drift the fold
        pdf = pdf.sort_values([other_col, "r"], kind="mergesort")
        Y = np.vstack(pdf["f"].to_numpy())  # n × k
        r = pdf["r"].to_numpy(dtype=np.float64)
        A = np.eye(rank) * reg
        b = np.zeros(rank)
        for i in range(len(r)):  # explicit fold, not Y.T@Y (assoc-stable)
            yi = Y[i]
            A = A + np.outer(yi, yi)
            b = b + r[i] * yi
        x = np.linalg.solve(A, b)
        return pd.DataFrame(
            {solve_col: [int(pdf[solve_col].iloc[0])], "f": [list(x)]}
        )

    return joined.groupBy(solve_col).applyInPandas(solve_group, out_schema)


def als_fit(
    ratings: DataFrame,
    *,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "rating",
    rank: int = 4,
    reg: float = 0.1,
    n_iter: int = 3,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Fit ALS; returns (user_factors, item_factors, rmse_per_round).

    ``user_factors``/(``item_factors``) are (id, f array<double>)
    DataFrames, checkpointed (safe to reuse without recompute). RMSE is
    training RMSE after each full round, from integer-millionth
    squared-error sums (exact, layout-independent). Runs jobs at call
    time — an offline training op, not a lazy query plan."""
    if rank < 1:
        raise ValueError(f"rank must be >= 1, got {rank}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if reg <= 0:
        # reg=0 makes the normal equations singular for users with
        # < rank ratings — raise instead of letting LAPACK throw deep
        # inside a task
        raise ValueError(f"reg must be > 0, got {reg}")

    r = ratings.select(
        F.col(user_col).cast("long").alias("u"),
        F.col(item_col).cast("long").alias("i"),
        F.col(rating_col).cast("double").alias("r"),
    ).localCheckpoint(eager=True)
    if not r.head(1):
        raise ValueError("als_fit: ratings is empty")

    # content-keyed init for the ITEM side (the first user step solves
    # against it), computed ON THE EXECUTORS over the distinct-item frame
    # — the factor table never exists driver-side (50M items × rank
    # floats would be a driver OOM); _init_vector is the one formula,
    # shared with init_factors
    factor_schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("f", T.ArrayType(T.DoubleType())),
        ]
    )

    def init_batch(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "i": pdf["i"],
                    "f": [_init_vector(int(i), rank, "item") for i in pdf["i"]],
                }
            )

    item_f = (
        r.select("i")
        .distinct()
        .mapInPandas(init_batch, factor_schema)
        .localCheckpoint(eager=True)
    )

    rmse: list[float] = []
    user_f = None
    for _ in range(n_iter):
        user_f = _solve_side(
            r, item_f, solve_col="u", other_col="i", rank=rank, reg=reg
        ).localCheckpoint(eager=True)
        item_f = _solve_side(
            r, user_f, solve_col="i", other_col="u", rank=rank, reg=reg
        ).localCheckpoint(eager=True)
        # exact training error: per-row squared error quantized to
        # millionths, summed as integers
        pred = (
            r.join(user_f.select("u", F.col("f").alias("xf")), "u")
            .join(item_f.select("i", F.col("f").alias("yf")), "i")
            .select(
                "r",
                F.aggregate(
                    F.zip_with("xf", "yf", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("p"),
            )
        )
        row = pred.select(
            F.round((F.col("r") - F.col("p")) * (F.col("r") - F.col("p"))
                    * 1000000, 0)
            .cast("long")
            .alias("se")
        ).agg(F.sum("se").alias("sse"), F.count(F.lit(1)).alias("n")).first()
        rmse.append(float(np.sqrt(row["sse"] / 1e6 / row["n"])))
    return user_f, item_f, rmse


def als_recommend(
    user_factors: DataFrame,
    item_factors: DataFrame,
    user_ids: list[int],
    k: int = 3,
) -> DataFrame:
    """Top-k items per requested user by predicted rating x_u·y_i: the
    requested users' factors broadcast into ONE scan of the item-factor
    table, per-user rank window (WindowGroupLimit partials). Returns
    (u, i, score round-6, rank)."""
    from pyspark.sql import Window

    sel = user_factors.filter(F.col("u").isin([int(x) for x in user_ids]))
    scored = item_factors.select("i", F.col("f").alias("yf")).crossJoin(
        F.broadcast(sel.select("u", F.col("f").alias("xf")))
    ).select(
        "u",
        "i",
        F.aggregate(
            F.zip_with("xf", "yf", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("score"),
    )
    w = Window.partitionBy("u").orderBy(F.col("score").desc(), F.col("i"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("u", "i", F.round("score", 6).alias("score"), "rank")
    )
