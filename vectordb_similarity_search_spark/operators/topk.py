"""Top-k similarity search operators.

Reference behavior being re-expressed (SURVEY.md §2.4, §3 E2):

- per-hospital brute-force cosine + local top-k (similarity_search.py:300-305)
- cross-silo gather + global re-rank top-k (similarity_search.py:330-357)

In Spark the scatter-gather IS the execution model: ``orderBy(desc).limit(k)``
plans as ``TakeOrderedAndProject`` — each partition computes a partial top-k,
the driver merges k·P candidates.  That is exactly the reference's two-phase
top-k, but distributed and without materializing a dense matrix in one
process's RAM.

Tie-breaks: the reference's ``np.argsort`` tie order is unspecified
(similarity_search.py:305); we define deterministic ordering (score desc,
then id asc) so results are reproducible and oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import cosine_similarity, l2_distance
from ..util import widen


def _score(
    vec_col: str, query: Column | Sequence[float], metric: str
) -> tuple[Column, bool]:
    """Returns (score column, descending?). ``query`` is a vector column or
    a driver-side query vector (folded into the plan as a literal)."""
    if metric == "cosine":
        return cosine_similarity(vec_col, query), True
    if metric == "l2":
        return l2_distance(vec_col, query), False
    raise ValueError(f"unknown metric {metric!r} (want 'cosine' or 'l2')")


def knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    score_col: str = "score",
) -> DataFrame:
    """Exact brute-force k-nearest-neighbours of one query vector.

    The 1×N similarity scan of the reference query path
    (similarity_search.py:302-305). The query vector is a folded literal —
    no shuffle, no broadcast table, just a projection over the (column-pruned)
    parquet scan, then TakeOrderedAndProject (per-partition partial top-k,
    O(k·P) driver merge).
    """
    score, desc = _score(vec_col, query_vec, metric)
    scored = corpus.withColumn(score_col, score)
    order = F.col(score_col).desc() if desc else F.col(score_col).asc()
    return scored.orderBy(order, F.col(id_col).asc()).limit(k)


def similarity_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    score_col: str = "score",
    pair_filter: Column | None = None,
) -> DataFrame:
    """N×M brute-force similarity join: top-k corpus rows per query row.

    Strategy (SURVEY.md §2.3 J2): broadcast the (small) query side into a
    BroadcastNestedLoopJoin — each corpus partition streams once, NO shuffle
    of the corpus — score JVM-side, then per-query top-k via a rank window.

    ``pair_filter`` is applied to scored (query, corpus) pairs before ranking
    (e.g. self-exclusion ``col("vec_id") != col("query_id")``).

    The window shuffles O(N·Q) scored rows on query_id; exact and fine up to
    ~10^8 scored pairs. For the 100 TB path use
    :func:`similarity_join_blocked`, which reduces to O(k·P·Q) rows before
    any shuffle via vectorized block-local top-k.
    """
    score, desc = _score(vec_col, F.col(query_vec_col), metric)
    order = F.col(score_col).desc() if desc else F.col(score_col).asc()

    keep = [c for c in corpus.columns if c != vec_col]
    # widen BEFORE the broadcast join: each corpus row pays |queries|
    # HOF cosine folds (Q x dim multiply-adds per row — the wide-HOF
    # case util.widen exists for); a single-split local corpus would
    # score every pair on one core. No-op at production split counts,
    # and the rank window's WindowGroupLimit still reduces each
    # partition to Q x k rows before the one shuffle (round-9
    # optimization, guide §2.5 input skew / §1.2 per-task work).
    scored = (
        widen(corpus)
        .crossJoin(F.broadcast(queries.select(query_id_col, query_vec_col)))
        .withColumn(score_col, score)
        .select(query_id_col, score_col, *keep)
    )
    if pair_filter is not None:
        scored = scored.filter(pair_filter)
    w = Window.partitionBy(query_id_col).orderBy(order, F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def grouped_knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    group_col: str,
    k: int = 3,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    score_col: str = "score",
) -> DataFrame:
    """Group-by search: top-``k`` nearest rows PER GROUP for one query —
    the "group results by payload field" feature of vector stores
    (diversify results across labels/namespaces/sources in one pass
    instead of one filtered search per group).

    Shape: the scored scan is the same shuffle-free projection as
    :func:`knn`; the per-group rank compiles to WindowGroupLimit
    (partial per-partition group-top-k BEFORE the exchange, since Spark
    3.5), so the shuffle carries at most groups x k x partitions rows —
    never the corpus. One scan regardless of group count; G filtered
    knn() calls would be G scans.
    """
    score, desc = _score(vec_col, query_vec, metric)
    order = F.col(score_col).desc() if desc else F.col(score_col).asc()
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col).asc())
    keep = [c for c in corpus.columns if c != vec_col]
    return (
        corpus.withColumn(score_col, score)
        .select(*keep, score_col)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def mine_triplets(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    n_neg: int = 2,
    margin: float = 0.05,
    depth: int = 20,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Contrastive training-pair mining: for each anchor, the POSITIVE
    (nearest neighbor) plus up to ``n_neg`` semi-hard NEGATIVES — the
    highest-scoring candidates at least ``margin`` cosine below the
    positive (FaceNet-style semi-hard mining: negatives close enough to
    teach the margin, far enough to be true negatives). This is the
    training-data generator for embedding-model fine-tuning.

    Shape: one :func:`similarity_join` (broadcast anchors, single corpus
    scan, per-anchor rank window) and then role assignment in the SAME
    single-partition-per-anchor frame — the positive flag, the per-anchor
    max score, and the running negative count are all windows over the
    anchor exchange the rank already paid for; no second scan, no new
    shuffle (plan-audit learning #1: branching pos/neg into two frames
    and unioning would re-run the similarity join per branch).

    Margin comparisons run on round-6 scores so the boundary predicate is
    engine-robust (the SQL oracle twin evaluates the same rounded
    doubles). Candidates are the top ``depth`` per anchor: at 100 TB,
    swap the exact similarity_join for the batch ANN probe
    (``ivf_search_index_batch``) and keep this role-assignment frame
    unchanged — it only needs (anchor, cand, score, rank).

    Returns (anchor_id, role, cand_id, score) with role in
    {'positive', 'negative'}.
    """
    if n_neg < 0:
        raise ValueError(f"n_neg must be >= 0, got {n_neg}")
    if margin <= 0:
        # at margin <= 0 the rank-1 positive itself satisfies the
        # negative predicate and consumes a negative slot — the caller
        # would silently get n_neg-1 negatives per anchor
        raise ValueError(f"margin must be > 0, got {margin}")
    hits = similarity_join(
        queries,
        corpus,
        k=depth,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        id_col=id_col,
        vec_col=vec_col,
        pair_filter=F.col(id_col) != F.col(query_id_col),
    )
    w_all = Window.partitionBy(query_id_col)
    w_run = w_all.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s6 = F.round("score", 6)
    ps6 = F.round(F.max("score").over(w_all), 6)
    is_neg = s6 <= ps6 - F.lit(margin)
    staged = hits.select(
        F.col(query_id_col).alias("anchor_id"),
        F.col(id_col).alias("cand_id"),
        s6.alias("score"),
        F.col("rank"),
        is_neg.alias("_neg"),
        F.sum(F.when(is_neg, 1).otherwise(0)).over(w_run).alias("_nr"),
    )
    role = (
        F.when(F.col("rank") == 1, F.lit("positive"))
        .when(F.col("_neg") & (F.col("_nr") <= n_neg), F.lit("negative"))
    )
    return (
        staged.withColumn("role", role)
        .where(F.col("role").isNotNull())
        .select("anchor_id", "role", "cand_id", "score")
    )


def similarity_join_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    score_col: str = "score",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact N×M top-k at scale: BLAS block scoring + two-phase top-k.

    Phase 1 (``mapInPandas``, Arrow-vectorized): each corpus batch computes a
    dense (batch × Q) score matrix with one numpy matmul — the same BLAS
    kernel the reference uses in-process (similarity_search.py:302) — and
    emits only its local top-k per query.  Result: ≤ k·Q rows per batch, so
    the shuffle moves O(k·batches·Q) rows instead of O(N·Q).

    Phase 2: global per-query rank window over the reduced candidate set.

    Exactness: every batch's top-k per query is a superset contributor of the
    global top-k per query, so phase 2 sees all true winners.

    The query side is COLLECTED and broadcast as a dense matrix — that is
    the operator's contract (queries << corpus). ``max_queries`` bounds
    the collect so a misuse with a corpus-sized "queries" frame raises
    instead of OOMing the driver (the mmr_rerank ``max_candidates``
    pattern): the limit+1 probe reads at most ``max_queries + 1`` rows,
    never the full offending frame.
    """
    q_rows = queries.select(query_id_col, query_vec_col).limit(
        max_queries + 1
    ).collect()
    if not q_rows:
        raise ValueError("queries DataFrame is empty")
    if len(q_rows) > max_queries:
        raise ValueError(
            f"similarity_join_blocked got > {max_queries} query rows; the "
            "query side is collected to the driver and broadcast - pass "
            "the smaller frame as queries (or raise max_queries "
            "deliberately if the driver can hold the matrix)"
        )
    q_ids = [r[0] for r in q_rows]
    q_mat = np.asarray([r[1] for r in q_rows], dtype=np.float64)  # Q × d
    if metric == "cosine":
        # Zero-vector convention: zero-norm rows (query or corpus) score 0.0
        # against everything instead of NaN/inf. This differs from knn(),
        # where cosine vs a zero vector is NULL and orders last — for top-k
        # with k < N the outcome is the same (never a winner); callers that
        # need NULL semantics on degenerate vectors should use knn()/
        # similarity_join().
        q_norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
        q_norms[q_norms == 0.0] = 1.0
        q_mat = q_mat / q_norms

    sc = corpus.sparkSession.sparkContext
    bc_ids = sc.broadcast(q_ids)
    bc_q = sc.broadcast(q_mat)

    id_field = corpus.schema[id_col]
    qid_field = queries.schema[query_id_col]
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, qid_field.dataType),
            T.StructField(id_col, id_field.dataType),
            T.StructField(score_col, T.DoubleType()),
        ]
    )

    def block_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qm = bc_q.value  # Q × d, rows unit-norm for cosine
        qids = np.asarray(bc_ids.value)
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)  # B × d
            if metric == "cosine":
                norms = np.linalg.norm(X, axis=1, keepdims=True)
                norms[norms == 0.0] = 1.0
                S = (X / norms) @ qm.T  # B × Q, higher = better
                order_desc = True
            else:  # l2
                x2 = (X * X).sum(axis=1)[:, None]
                q2 = (qm * qm).sum(axis=1)[None, :]
                S = np.sqrt(np.maximum(x2 + q2 - 2.0 * (X @ qm.T), 0.0))
                order_desc = False
            kk = min(k, S.shape[0])
            # argpartition: O(B) per query instead of full sort
            if order_desc:
                idx = np.argpartition(-S, kk - 1, axis=0)[:kk]  # k × Q
            else:
                idx = np.argpartition(S, kk - 1, axis=0)[:kk]
            rows_id = pdf[id_col].to_numpy()
            out = pd.DataFrame(
                {
                    query_id_col: np.repeat(qids, kk),
                    id_col: rows_id[idx.T.ravel()],
                    score_col: np.take_along_axis(S, idx, axis=0).T.ravel(),
                }
            )
            yield out

    candidates = corpus.select(id_col, vec_col).mapInPandas(block_topk, out_schema)
    order = F.col(score_col).desc() if metric == "cosine" else F.col(score_col).asc()
    w = Window.partitionBy(query_id_col).orderBy(order, F.col(id_col).asc())
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def range_search(
    corpus: DataFrame,
    query_vec: Sequence[float],
    threshold: float,
    *,
    vec_col: str = "embedding",
    metric: str = "cosine",
    score_col: str = "score",
) -> DataFrame:
    """All corpus rows within a similarity/distance threshold of one query
    (the vector-store "radius search" companion of :func:`knn` — same scan
    shape as the reference's scoring pass, similarity_search.py:302-305, but
    bounded by score instead of count).

    cosine: keep rows with ``score >= threshold``; l2: ``dist <= threshold``.
    Rows whose score is NULL (zero-norm vectors under cosine) are dropped —
    "within the radius" is undefined for them.

    Scale: a narrow projection + filter over the (column-pruned) scan — no
    shuffle, no driver merge; the result is unbounded by construction, so
    callers that need an ordered result pay one range-partitioned sort.
    """
    score, desc = _score(vec_col, query_vec, metric)
    scored = corpus.withColumn(score_col, score)
    pred = (
        F.col(score_col) >= float(threshold)
        if desc
        else F.col(score_col) <= float(threshold)
    )
    return scored.filter(pred)


def filtered_knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    predicate: Column | None = None,
    allowed: DataFrame | None = None,
    allowed_on: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    score_col: str = "score",
    broadcast_allowed: bool = True,
) -> DataFrame:
    """Exact kNN under a metadata filter — PRE-filter semantics (the filter
    restricts the candidate set *before* scoring, so the result always has
    min(k, |allowed|) rows; post-filtering a plain top-k can return fewer).

    Two filter forms, composable:
    - ``predicate``: a column predicate on the corpus itself — Catalyst
      pushes it into the parquet scan (PushedFilters), so the filtered scan
      reads less, not more.
    - ``allowed`` (+ ``allowed_on``, default ``id_col``): an id frame from a
      metadata table — applied as a LEFT SEMI join, broadcast by default
      (filters in vector stores are dimension-sized next to the corpus).
      Pass ``broadcast_allowed=False`` when the allow-list is itself huge;
      the semi join then shuffles both sides on the id.

    This is the engine's version of a vector DB's filtered search; exactness
    comes free because scoring is exhaustive over the filtered set — unlike
    IVF post-filtering there is no recall loss however selective the filter.
    """
    if predicate is None and allowed is None:
        raise ValueError("filtered_knn needs a predicate and/or an allowed frame")
    filtered = corpus
    if predicate is not None:
        filtered = filtered.filter(predicate)
    if allowed is not None:
        on = allowed_on or id_col
        ids = allowed.select(F.col(on).alias(id_col)).distinct()
        if broadcast_allowed:
            ids = F.broadcast(ids)
        filtered = filtered.join(ids, on=id_col, how="left_semi")
    return knn(
        filtered, query_vec, k,
        id_col=id_col, vec_col=vec_col, metric=metric, score_col=score_col,
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    *,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "score",
    max_candidates: int = 10_000,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversity rerank of a small candidate set.

    MMR(i) = λ·rel(i) − (1−λ)·max_{j∈selected} cos(i, j); greedily pick the
    argmax ``k`` times (Carbonell & Goldstein 1998).  The first pick is the
    most relevant candidate; ties break (mmr desc, id asc), and the greedy
    input is sorted (rel desc, id asc) so the result is deterministic
    regardless of partitioning.

    Architecture: rerank is inherently sequential over the WHOLE candidate
    set, so it must not run on the corpus — the contract is candidates
    come from a distributed first-phase retriever (:func:`knn`,
    ``ivf_knn``) with candidate count ~k·oversample (tens to hundreds).
    The single ``applyInPandas`` group moves only those rows to one task
    and stays in the lazy plan (no driver collect at build time); a group
    larger than ``max_candidates`` raises rather than degrading into a
    driver-sized quadratic.

    Output: ``(id_col, relevance, mmr_score, mmr_rank)`` — ``relevance`` is
    the input ``score_col``; ``mmr_score`` of the first pick is λ·rel (no
    selected set yet). Candidates with NULL/NaN relevance (undefined
    similarity, e.g. zero-norm vectors) are dropped before the greedy
    loop — NaN would otherwise win ``np.argmax``.
    """
    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
    id_field = candidates.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("relevance", T.DoubleType()),
            T.StructField("mmr_score", T.DoubleType()),
            T.StructField("mmr_rank", T.IntegerType()),
        ]
    )
    lam = float(lambda_)

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_candidates:
            raise ValueError(
                f"mmr_rerank got {len(pdf)} candidates (> {max_candidates}); "
                "rerank the output of a top-k retriever, not a corpus"
            )
        # Drop candidates with undefined relevance (NULL/NaN score — e.g.
        # cosine vs a zero-norm vector, which knn() scores NULL): NaN would
        # otherwise WIN np.argmax and surface first with garbage penalties.
        pdf = pdf[pdf[score_col].notna()]
        if pdf.empty:
            return pd.DataFrame(
                {
                    id_col: pd.Series([], dtype=object),
                    "relevance": pd.Series([], dtype=np.float64),
                    "mmr_score": pd.Series([], dtype=np.float64),
                    "mmr_rank": pd.Series([], dtype=np.int32),
                }
            )
        pdf = pdf.sort_values(
            [score_col, id_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        U = X / norms
        S = U @ U.T  # candidate-candidate cosine
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        n = len(pdf)
        kk = min(k, n)
        selected: list[int] = []
        max_sim = np.full(n, -np.inf)
        picked = np.zeros(n, dtype=bool)
        mmr_out = np.empty(kk, dtype=np.float64)
        for step in range(kk):
            if step == 0:
                mmr = lam * rel - (1.0 - lam) * 0.0
            else:
                mmr = lam * rel - (1.0 - lam) * max_sim
            mmr_masked = np.where(picked, -np.inf, mmr)
            best = int(np.argmax(mmr_masked))  # ties → lowest index = id asc
            selected.append(best)
            mmr_out[step] = mmr_masked[best]
            picked[best] = True
            max_sim = np.maximum(max_sim, S[:, best])
        sel = np.asarray(selected)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy()[sel],
                "relevance": rel[sel],
                "mmr_score": mmr_out,
                "mmr_rank": np.arange(1, kk + 1, dtype=np.int32),
            }
        )

    return (
        candidates.select(id_col, vec_col, score_col)
        .withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(lambda _key, pdf: rerank(pdf), out_schema)
    )


def late_interaction_topk(
    chunks: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    k: int = 5,
    *,
    doc_col: str = "doc_id",
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Late-interaction (ColBERT-style, Khattab & Zaharia 2020) retrieval
    over multi-vector documents: each document is a GROUP of chunk/token
    vectors; score(doc) = Σ_q max_chunk cos(q, chunk) — every query
    vector picks its best-matching chunk, matches sum.

    Plan, sized for 100 TB: the Q query vectors fold into the projection
    as literals (like :func:`knn` — no broadcast table, no shuffle of
    the corpus), each chunk row emits Q scores, and a single partial-
    aggregated ``groupBy(doc)`` computes the per-query MAX and their SUM
    in one exchange of |docs| rows. TakeOrdered finishes. Nothing
    quadratic, no Python.

    NULL chunk scores (zero-norm vectors) are ignored by MAX; a document
    whose every chunk is degenerate for some query contributes 0 for
    that query (sum of the remaining terms — standard maxsim practice).
    """
    if not query_vecs:
        raise ValueError("need at least one query vector")
    maxes = [
        F.max(cosine_similarity(vec_col, qv)).alias(f"_m{i}")
        for i, qv in enumerate(query_vecs)
    ]
    per_doc = chunks.groupBy(doc_col).agg(*maxes)
    total = None
    for i in range(len(query_vecs)):
        term = F.coalesce(F.col(f"_m{i}"), F.lit(0.0))
        total = term if total is None else total + term
    return (
        per_doc.select(doc_col, total.alias(score_col))
        .orderBy(F.col(score_col).desc(), F.col(doc_col).asc())
        .limit(k)
    )
