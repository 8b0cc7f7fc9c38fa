"""Approximate nearest-neighbour search: the scale path past brute force.

The reference searches by exact brute-force cosine over an in-memory matrix
(similarity_search.py:300-305) — fine at 150k rows, impossible at 100 TB.
These operators keep the brute-force kernel (operators/topk.py) as the
within-cell scorer but prune the search space first:

- IVF (inverted-file): k-means partition of the corpus; a query probes only
  the ``nprobe`` nearest cells. Write the corpus partitioned by cell id and
  the probe becomes a partition-pruned scan — the Spark-native analogue of
  an IVF index. The cells train FAISS-style on a bounded sample (256
  points per cell, one Spark job) with the driver-side k-means that also
  trains the PQ codebooks (operators/pq).
- SRP-LSH: random-hyperplane signatures bucket cosine-similar vectors;
  probing a bucket is a hash-key filter.

Both trade recall for cost; recall properties are pinned by
tests/test_ann.py against the exact kNN baseline.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hyperplane_signature
from .. import cache, commit
from .pq import _kmeans, sample_vectors
from .topk import knn


# Training points per cell — FAISS's ``max_points_per_centroid``: past a
# few hundred points a cell's centroid moves by far less than the cell's
# own spread, so fitting on more rows buys no recall, only cost.
_POINTS_PER_CELL = 256


def ivf_fit(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 20,
) -> "IvfModel":
    """K-means the corpus into ``n_cells`` inverted-file cells. ONE Spark
    job (operators/pq.sample_vectors) validates every row and takes the
    ``256 × n_cells`` vectors with the smallest seeded hash; seeded
    Lloyd's (operators/pq._kmeans, the same kernel the PQ codebooks
    train with) runs on that sample driver-side. The centres depend only
    on the corpus contents and ``seed``, not on its partition layout.
    Raises ``ValueError`` for NULL, ragged or non-finite vectors anywhere
    in the corpus, or for fewer rows than ``n_cells``. Returns a model
    holding the (tiny) centroid table."""
    X, rows = sample_vectors(corpus, vec_col, _POINTS_PER_CELL * n_cells, seed)
    if rows < n_cells:
        raise ValueError(f"{rows} corpus rows cannot fill n_cells={n_cells} cells")
    centers = _kmeans(X, n_cells, max_iter, np.random.default_rng(seed))
    return IvfModel(centers, vec_col)


class IvfModel:
    # Above this cell count the unrolled-expression assign path loses: it
    # builds one interpreted HOF distance expression PER CENTROID per row
    # (a 4k-cell production IVF would be a 4k-wide expression array — plan
    # bloat plus interpreted-HOF cost), while one Arrow batch matmul
    # against the broadcast centroid matrix is O(batch × cells) BLAS.
    EXPR_MAX_CELLS = 64

    def __init__(self, centers: np.ndarray, vec_col: str):
        self.centers = centers  # n_cells × dim, driver-side (tiny)
        self.vec_col = vec_col

    def assign(self, corpus: DataFrame, cell_col: str = "cell") -> DataFrame:
        """Attach the nearest-centroid cell id to every corpus row — the
        'build the index' step. At scale, persist the result partitioned by
        ``cell`` (partitionBy on write) so probes prune at the source.

        Two physical strategies (parity at 256 cells pinned in
        tests/test_ann.py): a JVM expression form for small models (keeps
        the whole plan codegen-friendly and oracle-replayable) and an
        Arrow ``mapInPandas`` BLAS argmin for large ones (the centroid
        matrix rides the closure — one broadcast per executor, one matmul
        per batch), picked by ``EXPR_MAX_CELLS``. The two
        compute the distance with different float summation orders, so a
        vector EXACTLY equidistant from two centroids can land differently;
        real corpora don't sit on bisectors, and an index is always
        built+probed through one strategy."""
        if len(self.centers) > self.EXPR_MAX_CELLS:
            return self._assign_blas(corpus, cell_col)
        from ..functions.vector import matrix_lit, to_double_array

        # one array<array<double>> centroid literal under one transform: the
        # per-centroid squared distance is the same left-to-right fold as
        # before, built in O(1) py4j calls whatever n_cells × dim is
        vec = to_double_array(self.vec_col)
        dists = F.transform(
            matrix_lit(self.centers),
            lambda c: F.aggregate(
                F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
        )
        cell = F.array_position(dists, F.array_min(dists)).cast("int") - 1
        return corpus.withColumn(cell_col, cell)

    def _assign_blas(self, corpus: DataFrame, cell_col: str) -> DataFrame:
        """Arrow argmin assign: ||x−c||² = ||x||² − 2x·c + ||c||², and the
        ||x||² term is constant per row, so argmin(||c||² − 2 X Cᵀ) picks
        the same cell — one (batch × dim)·(dim × cells) matmul per Arrow
        batch, float64 like the expression path."""
        from pyspark.sql import types as T

        centers = np.ascontiguousarray(self.centers, dtype=np.float64)
        c_norm = (centers**2).sum(axis=1)
        vec_col = self.vec_col
        # mirror withColumn semantics: re-assigning a frame that already
        # carries cell_col replaces it instead of duplicating the field
        corpus = corpus.drop(cell_col)
        schema = T.StructType(
            list(corpus.schema.fields) + [T.StructField(cell_col, T.IntegerType())]
        )

        def assign_batches(batches):
            import pandas as pd

            for pdf in batches:
                pdf = pdf.copy()
                if len(pdf) == 0:
                    pdf[cell_col] = pd.Series([], dtype="int32")
                    yield pdf
                    continue
                x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                d = c_norm - 2.0 * (x @ centers.T)
                pdf[cell_col] = np.argmin(d, axis=1).astype(np.int32)
                yield pdf

        return corpus.mapInPandas(assign_batches, schema)

    def probe_cells(self, query_vec: Sequence[float], nprobe: int = 2) -> list[int]:
        q = np.asarray(query_vec, dtype=np.float64)
        d = ((self.centers - q) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d)[:nprobe]]


def lsh_bucket_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """SRP-LSH probe: score only corpus rows whose hyperplane signature
    matches the query's. One hash-key filter + within-bucket exact top-k.
    Recall rises with fewer planes (bigger buckets); multi-probe = widen
    the isin() list with near signatures."""
    import numpy as _np

    rng = _np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    q = _np.asarray(query_vec, dtype=_np.float64)
    q_key = 0
    for i in range(n_planes):
        q_key = q_key * 2 + (1 if float(planes[i] @ q) >= 0 else 0)
    keyed = corpus.withColumn("_lsh", hyperplane_signature(F.col(vec_col), dim, n_planes, seed))
    return knn(
        keyed.filter(F.col("_lsh") == q_key).drop("_lsh"),
        query_vec,
        k,
        id_col=id_col,
        vec_col=vec_col,
    )


def _index_scan(spark, path: str, schema: str | None = None) -> DataFrame:
    """Session-cached scan of ``path`` (the footer job of a fresh read
    would land at query BUILD); a known ``schema`` also skips the footer
    job of the first read. Writers below invalidate ``path``."""

    def read():
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(path)

    return cache.get(spark, "index_scan", path, reads=(path,), build=read)


def ivf_write_index(
    model: IvfModel,
    corpus: DataFrame,
    path: str,
    *,
    cell_col: str = "cell",
) -> None:
    """Materialize the IVF index as a cell-partitioned parquet store — the
    durable form of the reference's in-memory per-hospital matrix
    (similarity_search.py:284-286), except probes become partition-pruned
    scans: a search with nprobe=4 of 64 cells reads 1/16th of the data and
    the pruning shows up in the plan's PartitionFilters."""
    try:
        model.assign(corpus, cell_col).write.partitionBy(cell_col).mode(
            "overwrite"
        ).parquet(path)
    finally:
        cache.invalidate(path)  # a failed overwrite may have removed files


def _tombstone_dir(path: str) -> str:
    """Tombstone store of a written index. The leading underscore keeps the
    directory invisible to Spark's file listing (same convention as
    ``_SUCCESS``/``_metadata``), so a raw ``spark.read.parquet(path)`` of
    the index never picks tombstones up as data or as a partition value —
    pinned in tests/test_ann_lifecycle.py."""
    return f"{path.rstrip('/')}/_tombstones"


def _tombstone_ids(spark, path: str, id_col: str) -> DataFrame | None:
    import os

    tp = _tombstone_dir(path)
    if not os.path.isdir(tp):
        return None
    # the schema is fixed (one bigint id column), so re-reading the store
    # after a delete runs no schema job; no distinct(): the anti-join only
    # tests existence, and an id deleted twice just repeats a build row
    return _index_scan(spark, tp, f"{id_col} long")


def _apply_tombstones(spark, path: str, scan: DataFrame, id_col: str) -> DataFrame:
    tomb = _tombstone_ids(spark, path, id_col)
    if tomb is None:
        return scan
    return scan.join(F.broadcast(tomb), id_col, "left_anti")


def _stage_tombstones(path: str, ids: DataFrame, id_col: str) -> str:
    """Write an id frame as ONE parquet file into a hidden staging directory
    of the index (underscore prefix: invisible to index and tombstone scans)
    and return that directory; :func:`_publish_tombstones` makes it live.
    Staging lets a caller validate in the same job as the write and still
    leave the index untouched when it rejects the batch."""
    import uuid

    stage = f"{path.rstrip('/')}/_tombstones_{uuid.uuid4().hex[:8]}"
    ids.select(F.col(id_col).cast("long")).coalesce(1).write.parquet(stage)
    return stage


def _publish_tombstones(path: str, stage: str) -> None:
    """Move a staged tombstone file into ``<index>/_tombstones`` by rename
    (same directory tree, so one metadata operation per file; the first
    batch renames the whole staged directory, so the store never exists
    without a readable file). A crash between the staged write and the
    rename leaves only an invisible staging directory."""
    import os
    import shutil

    tp = _tombstone_dir(path)
    if not os.path.isdir(tp):
        os.rename(stage, tp)
    else:
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                os.rename(os.path.join(stage, f), os.path.join(tp, f))
        shutil.rmtree(stage)
    cache.invalidate(tp)


def _id_frame(spark, ids: Sequence[int], id_col: str) -> DataFrame:
    """A one-column bigint frame of driver-side ids, built JVM-side: one
    long[] literal exploded over a one-row range. No Python worker runs
    (``createDataFrame(list)`` ships the rows through a Python RDD) and
    the py4j cost does not grow with ``len(ids)``."""
    from ..functions.vector import long_array_lit

    return spark.range(1).select(F.explode(long_array_lit(ids)).alias(id_col))


def ivf_delete(spark, path: str, ids, *, id_col: str = "vec_id") -> int:
    """Logical delete from a written IVF / IVF-PQ index — the vector-store
    lifecycle op the reference lacks entirely (its store is rebuilt
    in-memory per batch, similarity_search.py:275-292).

    Design (the standard ANN-store shape — e.g. FAISS remove_ids /
    Milvus-style delta deletes, public architecture): deletes append an
    id batch under ``<index>/_tombstones`` — O(batch), no index file is
    touched, concurrent probes keep working — and every search
    anti-joins the (broadcast) tombstone set. :func:`ivf_compact`
    physically purges tombstoned rows and clears the set, so the
    broadcast stays bounded by the delete traffic between compactions.

    Contract: index ids are unique and a tombstone kills the ID, not a
    row — appending the same id while its tombstone is live stays hidden
    and is purged by the next compact (the tombstone cannot know which
    copy a caller meant). To re-insert a deleted id: compact first, then
    append. Document-level upsert belongs to operators/merge, not the
    index. Returns the number of tombstones written (0 for an empty
    batch).
    """
    ids = [int(i) for i in ids]
    if not ids:
        return 0
    _publish_tombstones(path, _stage_tombstones(path, _id_frame(spark, ids, id_col), id_col))
    return len(ids)


def ivf_search_index(
    spark,
    path: str,
    model: IvfModel,
    query_vec,
    k: int = 10,
    *,
    nprobe: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    metric: str = "cosine",
    predicate=None,
) -> DataFrame:
    """Query a written IVF index: the cell predicate prunes partitions at
    the source (file listing level) — no bytes of non-probed cells are
    read. Tombstoned ids (:func:`ivf_delete`) are anti-joined out.

    ``predicate`` adds a metadata filter over the probed candidates
    (filtered ANN): pre-filter semantics within the probed cells — the
    filter applies BEFORE top-k, so however selective it is the result is
    the true top-k of the filtered probed set (no post-filter recall
    cliff); payload-column predicates additionally push into the pruned
    scan (PushedFilters). Recall vs exact filtered search is governed by
    nprobe alone, same as the unfiltered probe."""
    from pyspark.sql import functions as FF

    cells = model.probe_cells(query_vec, nprobe)
    indexed = _index_scan(spark, path).filter(FF.col(cell_col).isin(cells))
    indexed = _apply_tombstones(spark, path, indexed, id_col)
    if predicate is not None:
        indexed = indexed.filter(predicate)
    return knn(indexed, query_vec, k, id_col=id_col, vec_col=model.vec_col, metric=metric)


def ivf_search_until_k(
    spark,
    path: str,
    model: IvfModel,
    query_vec,
    k: int = 10,
    *,
    start_nprobe: int = 1,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    metric: str = "cosine",
    predicate=None,
) -> tuple[DataFrame, int]:
    """Escalating filtered probe — the serving loop for SELECTIVE
    metadata filters, where a fixed nprobe can return fewer than ``k``
    survivors: probe ``start_nprobe`` cells, and if the filtered probe
    holds < k rows DOUBLE nprobe and retry, up to full coverage. Returns
    ``(result, nprobe_used)``.

    Contract: each round is one partition-pruned scan + one count job
    (log2(n_cells) rounds worst case — a driver-side serving loop, not a
    query plan); the result is always the EXACT top-k of the filtered
    probed set (pre-filter semantics inherited from ivf_search_index),
    and at full escalation it equals exact filtered search
    (v_filtered_knn semantics — pinned in tests/test_ann_lifecycle.py).
    Termination at k hits does NOT certify global exactness (standard
    IVF recall semantics; the escalation only guarantees result SIZE) —
    callers needing certified-exact filtered top-k use the exact path.

    The returned frame is PERSISTED and MATERIALIZED (every round,
    including the full-coverage terminal one, runs its count against the
    persisted frame — without the cache the caller's collect would re-run
    the most expensive probe a second time), and it is registered for
    :func:`cache.release` so bench/drive teardowns can free it;
    callers may also unpersist once consumed.
    """
    if start_nprobe < 1:
        raise ValueError(f"start_nprobe must be >= 1, got {start_nprobe}")
    n_cells = len(model.centers)
    nprobe = min(start_nprobe, n_cells)
    while True:
        res = cache.persist(ivf_search_index(
            spark, path, model, query_vec, k,
            nprobe=nprobe, id_col=id_col, cell_col=cell_col,
            metric=metric, predicate=predicate,
        ))
        # count FIRST so the full-coverage terminal round is materialized
        # too (a bare `nprobe >= n_cells or count()` short-circuits and
        # would hand back an unmaterialized persisted frame)
        n_hits = res.count()
        if nprobe >= n_cells or n_hits >= k:
            return res, nprobe
        # insufficient round: unpersist AND deregister, or the registry
        # would grow one dead entry per escalation step
        cache.discard(res)
        nprobe = min(nprobe * 2, n_cells)


def ivf_search_index_batch(
    spark,
    path: str,
    model: IvfModel,
    queries,
    k: int = 10,
    *,
    nprobe: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    metric: str = "cosine",
    q_id_col: str = "q_id",
    score_col: str = "score",
    predicate=None,
) -> DataFrame:
    """Batch-serving ANN: probe the written IVF index for MANY query
    vectors in ONE partition-pruned scan — the shape a serving tier hits
    right after single-query search works (the reference's per-call loop,
    similarity_search.py:300-305, would re-scan the store per query).

    ``queries``: ``[(q_id, vector), ...]`` — a query *parameter set* like
    the reference's query patient dicts; q_ids must be distinct.

    Plan shape, sized for 100 TB:
    - probe-cell assignment runs driver-side against the tiny centroid
      matrix (Q × n_cells numpy, microseconds — not a Spark job);
    - the index is read ONCE, filtered to the UNION of all probed cells —
      the cell predicate lands in the scan's PartitionFilters, so cells
      no query probes are never listed or read (one scan, not Q scans;
      pinned in tests/test_plans.py);
    - the (q_id, cell, query_vec) probe table — Q·nprobe rows — joins in
      as a BROADCAST equi-join on the cell id, so every index row meets
      exactly the queries probing its cell; scoring is the same JVM fold
      as single-query knn;
    - per-query top-k is a grouped rank: the only exchange hashes the
      candidate rows (rows-in-probed-cells × matching queries) by q_id.
      That candidate set is the work any batch ANN must score; nothing
      quadratic and no driver loop.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from ..functions.vector import cosine_similarity, l2_distance

    qlist = list(queries)
    if len({q for q, _ in qlist}) != len(qlist):
        raise ValueError("duplicate q_id in batch")
    rows = [
        (int(qid), int(cell), [float(x) for x in vec])
        for qid, vec in qlist
        for cell in model.probe_cells(vec, nprobe)
    ]
    union_cells = sorted({c for _, c, _ in rows})
    qdf = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField(q_id_col, T.LongType()),
                T.StructField(cell_col, T.IntegerType()),
                T.StructField("_q_vec", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    scan = _index_scan(spark, path).filter(F.col(cell_col).isin(union_cells))
    scan = _apply_tombstones(spark, path, scan, id_col)
    if predicate is not None:
        scan = scan.filter(predicate)
    j = scan.join(F.broadcast(qdf), cell_col)
    if metric == "cosine":
        score = cosine_similarity(model.vec_col, "_q_vec")
        order = [F.col(score_col).desc(), F.col(id_col)]
    elif metric == "l2":
        score = l2_distance(model.vec_col, "_q_vec")
        order = [F.col(score_col).asc(), F.col(id_col)]
    else:
        raise ValueError(f"unsupported metric {metric!r}")
    out_cols = [c for c in scan.columns if c not in (model.vec_col, cell_col)]
    w = Window.partitionBy(q_id_col).orderBy(*order)
    return (
        j.withColumn(score_col, score)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(q_id_col, *out_cols, score_col)
    )


def ivf_append(
    model: IvfModel,
    new_rows: DataFrame,
    path: str,
    *,
    cell_col: str = "cell",
) -> None:
    """Incremental insert into a written IVF index — the reference's
    store-time insert (similarity_search.py:275-292 rebuilds its whole
    in-memory matrix per batch; here an insert appends parquet files ONLY
    under the cells the new vectors land in; existing files are never
    rewritten and concurrent probes keep working).

    Centroids are NOT refit on insert (standard IVF practice: the cell
    assignment function must stay frozen or existing cells go stale);
    periodic offline refits rebuild the index under a new path."""
    try:
        model.assign(new_rows, cell_col).write.partitionBy(cell_col).mode(
            "append"
        ).parquet(path)
    finally:
        cache.invalidate(path)


def ivf_compact(
    spark,
    path: str,
    *,
    cell_col: str = "cell",
    id_col: str = "vec_id",
    target_rows_per_file: int = 1_000_000,
) -> bool:
    """Compact an appended IVF index: many small per-insert files per cell
    degrade scan throughput (file-open overhead, tiny row groups). Rewrite
    the index so that each cell holds ⌈cell rows / target_rows_per_file⌉
    files — one shuffle by cell puts every cell in one task, and
    ``maxRecordsPerFile`` rolls that task's output for the cell every
    ``target_rows_per_file`` rows — then swap the index directory
    (``commit.swap`` — parked old snapshot, mid-swap crash recovered on
    the next compact/merge). No separate count job: the survivor count is
    observed during the write.

    Compaction is also the tombstone GC: rows deleted via
    :func:`ivf_delete` are dropped from the rewrite, and the swap retires
    the ``_tombstones`` directory with the old snapshot (the new snapshot
    is written clean), so probes stop paying the anti-join.

    Returns True if a rewrite happened. A compact whose survivor set is
    EMPTY (every live row tombstoned) is a no-op returning False: plain
    partitioned parquet cannot represent an empty table (the swap would
    install a schema-less directory and brick every subsequent probe), so
    the rewrite is discarded unswapped and the files and tombstones stay as
    they are — probes already return nothing; to actually retire the
    index, delete its directory."""
    import shutil
    import uuid

    from pyspark.sql import Observation

    if target_rows_per_file < 1:
        raise ValueError(f"target_rows_per_file must be >= 1, got {target_rows_per_file}")
    commit.recover(path)
    obs = Observation()
    # observed ABOVE the shuffle: when the survivor set is empty, AQE
    # replaces the empty shuffle stage (and any metrics node inside it) by
    # an empty relation, but keeps a metrics node sitting on top of it
    df = (
        _apply_tombstones(spark, path, spark.read.parquet(path), id_col)
        .repartition(F.col(cell_col))
        .observe(obs, F.count(F.lit(1)).alias("rows"))
    )
    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    (
        df.write.partitionBy(cell_col)
        .option("maxRecordsPerFile", target_rows_per_file)
        .mode("overwrite")
        .parquet(tmp)
    )
    if not obs.get["rows"]:
        shutil.rmtree(tmp, ignore_errors=True)
        return False
    commit.swap(path, tmp)
    return True


def ivf_cell_balance(
    spark,
    path: str,
    model: IvfModel,
    *,
    cell_col: str = "cell",
    id_col: str = "vec_id",
) -> dict:
    """Balance diagnostic over the LIVE rows of a written IVF index (the
    driver-side twin of the v_index_stats query): per-cell counts, the
    hottest cell's ratio to the ideal even share (1.0 = perfectly
    balanced), and the starved-cell count. One cell-grouped count job —
    the group key is the partition-metadata column, so the scan lists
    files without reading vector bytes."""
    df = _apply_tombstones(spark, path, _index_scan(spark, path), id_col)
    counts = {
        r[cell_col]: r["n"]
        for r in df.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_cells = len(model.centers)
    total = sum(counts.values())
    ideal = total / n_cells if n_cells and total else 0.0
    return {
        "total_rows": total,
        "n_cells": n_cells,
        "max_cell_ratio": (max(counts.values()) / ideal) if ideal else 0.0,
        "empty_cells": n_cells - len(counts),
        "counts": counts,
    }


def ivf_maintain(
    spark,
    path: str,
    model: IvfModel,
    *,
    rebalance_ratio: float = 3.0,
    target_rows_per_file: int = 1_000_000,
    cell_col: str = "cell",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 20,
) -> tuple[IvfModel, dict]:
    """Maintenance pass with a drift trigger (round-5 VERDICT #7):
    measure cell balance, then either

    - plain :func:`ivf_compact` when the hottest cell is within
      ``rebalance_ratio`` × the ideal even share (frozen centroids are
      still a good partitioner — standard IVF practice), or
    - RE-CLUSTER when drifted appends have blown past it: refit k-means
      on the live rows (same ``n_cells``/seed discipline as
      :func:`ivf_fit`), reassign, and rewrite the index under the same
      recoverable snapshot swap as compact (tombstones retired with the
      old snapshot).

    Returns ``(model, report)`` — the SAME model object after a plain
    compact, a NEW model after a re-cluster (callers must route
    subsequent probes through it: the old assignment function no longer
    matches the store). ``report`` is the pre-maintenance balance dict
    plus an ``action`` key (``none`` / ``compact`` / ``recluster``).

    Scale shape: the trigger is one metadata-column count job; a
    re-cluster costs one k-means fit + one index rewrite — the same
    O(index) as the offline refit it replaces, now fired by a measured
    threshold instead of a calendar guess.
    """
    if rebalance_ratio < 1.0:
        raise ValueError(f"rebalance_ratio must be >= 1, got {rebalance_ratio}")
    # Recover a crashed swap (compact/recluster) BEFORE measuring: a
    # parked snapshot means `path` may not exist, and the balance scan
    # would raise PATH_NOT_FOUND before any restore further down could
    # run. Same on-entry discipline as ivf_compact.
    commit.recover(path)
    report = ivf_cell_balance(
        spark, path, model, cell_col=cell_col, id_col=id_col
    )
    if report["total_rows"] == 0:
        return model, {**report, "action": "none"}
    if report["max_cell_ratio"] <= rebalance_ratio:
        did = ivf_compact(
            spark, path,
            cell_col=cell_col, id_col=id_col,
            target_rows_per_file=target_rows_per_file,
        )
        return model, {**report, "action": "compact" if did else "none"}

    import uuid

    live = _apply_tombstones(
        spark, path, _index_scan(spark, path), id_col
    ).drop(cell_col)
    new_model = ivf_fit(
        live,
        vec_col=model.vec_col,
        n_cells=len(model.centers),
        seed=seed,
        max_iter=max_iter,
    )
    tmp = f"{path.rstrip('/')}__recluster_{uuid.uuid4().hex[:8]}"
    new_model.assign(live, cell_col).write.partitionBy(cell_col).mode(
        "overwrite"
    ).parquet(tmp)
    commit.swap(path, tmp)
    return new_model, {**report, "action": "recluster"}


def ivfpq_write_index(
    ivf_model: IvfModel,
    pq_model,
    corpus: DataFrame,
    path: str,
    *,
    cell_col: str = "cell",
    normalize_codes: bool = False,
) -> None:
    """Write an IVF-PQ index: rows are cell-partitioned (IVF — probes
    become partition-pruned scans) AND carry PQ code bytes next to the
    float vector (PQ — the probe scores codes via lookup tables and only
    rescores the short-list from the float column). This is the classic
    two-level ANN layout (FAISS IVFPQ, public architecture): at 100 TB
    the scan of a probed cell reads ~(m bytes + id) per row for the ADC
    pass; the float column is touched for rescore rows only via parquet
    late materialization / a second pruned read.

    ``normalize_codes=True`` encodes the PQ codes from L2-NORMALIZED
    copies while storing the RAW vectors in the float column: the cosine
    ADC screen requires unit vectors (see ``PqModel.screen``), but an
    exact rescore over raw vectors keeps the served scores bit-identical
    to a plain IVF probe of the same cells (cosine is scale-invariant in
    VALUE but not in float ARITHMETIC — rescoring pre-normalized copies
    would drift in the last bits). Pass False (default) when the corpus
    is already normalized. Non-vector columns of ``corpus`` (payload,
    e.g. label) ride into the index rows."""
    from .pq import l2_normalized

    assigned = ivf_model.assign(corpus, cell_col)
    to_encode = (
        l2_normalized(assigned, ivf_model.vec_col)
        if normalize_codes
        else assigned
    )
    encoded = pq_model.encode(
        to_encode, vec_col=ivf_model.vec_col, code_col="pq_code"
    ).join(assigned.select("vec_id", ivf_model.vec_col), "vec_id")
    try:
        encoded.write.partitionBy(cell_col).mode("overwrite").parquet(path)
    finally:
        cache.invalidate(path)


def ivfpq_search_index(
    spark,
    path: str,
    ivf_model: IvfModel,
    pq_model,
    query_vec,
    k: int = 10,
    *,
    nprobe: int = 4,
    rescore: int = 100,
    id_col: str = "vec_id",
    cell_col: str = "cell",
) -> DataFrame:
    """Probe an IVF-PQ index: partition-pruned scan of ``nprobe`` cells,
    ADC screening over the code bytes, exact cosine rescore of the
    short-list from the stored float vectors."""
    from pyspark.sql import functions as FF

    cells = ivf_model.probe_cells(query_vec, nprobe)
    # cached scan plan (not spark.read.parquet per call): a fresh reader
    # pays a schema-footer job per probe — see _index_scan / the
    # zero-job-rebuild contract in tests/test_lazy_build.py
    probed = _index_scan(spark, path).filter(FF.col(cell_col).isin(cells))
    probed = _apply_tombstones(spark, path, probed, id_col)
    return pq_model.search(
        probed,
        probed,
        query_vec,
        k,
        rescore=rescore,
        id_col=id_col,
        code_col="pq_code",
        vec_col=ivf_model.vec_col,
    )
