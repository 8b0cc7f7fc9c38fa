"""Continuous vector ingest: a Structured Streaming feed into the written
IVF index (operators/ann.py) — the streaming half of the vector-store
lifecycle. The reference rebuilds its whole in-memory store per arriving
batch (similarity_search.py:275-292); here each micro-batch appends
parquet files only under the cells its vectors land in, so the index
stays serveable during ingest and an insert/delete batch costs O(batch),
not O(store). Compaction is the exception: it rewrites the whole index,
O(store), once every ``compact_every`` batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ann import (
    IvfModel,
    _publish_tombstones,
    _stage_tombstones,
    ivf_append,
    ivf_compact,
)


def vector_ingest_stream(
    vectors: DataFrame,
    model: IvfModel,
    index_path: str,
    checkpoint_dir: str,
    *,
    id_col: str = "vec_id",
    delete_col: str | None = None,
    compact_every: int | None = None,
    target_rows_per_file: int = 1_000_000,
):
    """foreachBatch ingest of a vector CDC feed into a written IVF index.

    Per micro-batch:
    - rows flagged by ``delete_col`` (when given) become tombstones
      (the :func:`ivf_delete` store — O(batch) append, no index file
      touched), validated and staged in one job;
    - remaining rows are cell-assigned under the FROZEN centroids and
      appended only under the touched cells (:func:`ivf_append`);
    - every ``compact_every``-th batch id triggers
      :func:`ivf_compact`, bounding small-file growth and GC-ing
      tombstones — probes between compactions pay one broadcast
      anti-join against the (delete-traffic-bounded) tombstone set.

    Contract (the index's single-version rule, operators/ann.ivf_delete):
    the feed may INSERT new ids and DELETE existing ids. A batch carrying
    both a delete and an insert for the same id is ambiguous under
    tombstone semantics and is REJECTED (batch-local check — no table
    scan); updating a vector in place is delete → compact → re-insert,
    or rebuild offline. Re-fitting centroids on drift is likewise an
    offline rebuild under a new path.

    Replay safety: an append is NOT idempotent (a replayed batch would
    duplicate ids), so applied batches are recorded in a ledger —
    ``<index>__applied/<batch_id>`` marker files, same protocol and same
    honest crash window as ``rollup_ingest_stream`` (dying between the
    append and the marker write duplicates that one batch; closing it
    needs a transactional table format). The ledger lives OUTSIDE the
    index directory so compaction's snapshot swap never touches it.
    """
    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_vector_batch(
            batch_df, batch_id, model, index_path,
            id_col=id_col, delete_col=delete_col,
            compact_every=compact_every,
            target_rows_per_file=target_rows_per_file,
        )

    return (
        vectors.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def apply_vector_batch(
    batch_df: DataFrame,
    batch_id: int,
    model: IvfModel,
    index_path: str,
    *,
    id_col: str = "vec_id",
    delete_col: str | None = None,
    compact_every: int | None = None,
    target_rows_per_file: int = 1_000_000,
) -> bool:
    """The exactly-once micro-batch apply behind
    :func:`vector_ingest_stream` (module-level so replay/audit tooling
    exercises the PRODUCTION apply path, not a replica). Returns True if
    the batch was applied, False if the ledger marked it as a replay."""
    ledger = f"{index_path.rstrip('/')}__applied"
    marker = os.path.join(ledger, str(batch_id))
    if os.path.exists(marker):
        return False  # replayed batch: already ingested
    batch, live = batch_df, True
    if delete_col is not None:
        flag = F.coalesce(F.col(delete_col), F.lit(False))
        live = _apply_batch_deletes(batch_df, batch_id, index_path, id_col, flag)
        batch = batch_df.filter(~flag).drop(delete_col)
    if live:  # no emptiness probe: an empty partitioned append writes no files
        ivf_append(model, batch, index_path)
    # cadence keys off the DURABLE batch_id (monotonic across stream
    # restarts via the checkpoint), not a process-local counter — a
    # crash-looping stream must still reach its compactions
    if compact_every and batch_id % compact_every == compact_every - 1:
        ivf_compact(
            batch_df.sparkSession, index_path, id_col=id_col,
            target_rows_per_file=target_rows_per_file,
        )
    os.makedirs(ledger, exist_ok=True)
    with open(marker, "w"):
        pass
    return True


def _apply_batch_deletes(
    batch_df: DataFrame, batch_id: int, index_path: str, id_col: str, flag
) -> int:
    """Validate a CDC batch and tombstone its deleted ids in ONE job: group
    the batch by id, write the deleted ids to a hidden staging directory
    (operators/ann._stage_tombstones) and observe, on the way, the deleted
    id count, the delete+insert conflicts and the live row count. A conflict
    rejects the batch with the index untouched (staging removed); otherwise
    the staged ids are published. Returns the live (to-append) row count."""
    import shutil

    from pyspark.sql import Observation

    per_id = batch_df.groupBy(id_col).agg(
        F.max(flag).alias("_dead"), F.count(F.when(~flag, 1)).alias("_live")
    )
    conflict = F.col("_dead") & (F.col("_live") > 0)
    obs = Observation()
    # observed above the id shuffle, so an empty batch still reports zeros
    # (see operators/ann.ivf_compact)
    checked = per_id.observe(
        obs,
        F.count(F.when(F.col("_dead"), 1)).alias("dead"),
        F.count(F.when(conflict, 1)).alias("conflicts"),
        F.coalesce(F.sum("_live"), F.lit(0)).alias("live"),
    )
    stage = _stage_tombstones(
        index_path, checked.filter(F.col("_dead")), id_col
    )
    m = obs.get
    if m["conflicts"] or not m["dead"]:
        shutil.rmtree(stage, ignore_errors=True)
    if m["conflicts"]:
        sample = [
            r[0]
            for r in per_id.filter(conflict)
            .select(id_col)
            .orderBy(id_col)
            .limit(5)
            .collect()
        ]
        raise ValueError(
            f"batch {batch_id} both deletes and inserts ids {sample}… — "
            "in-place update is not expressible with tombstones; delete, "
            "compact, then re-insert"
        )
    if m["dead"]:
        _publish_tombstones(index_path, stage)
    return m["live"]


def semantic_cache_stream(
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_planes: int = 8,
    bands: int = 4,
    seed: int = 77,
    max_bucket: int = 500,
) -> DataFrame:
    """STREAMING semantic-cache hits — the incremental form of the batch
    ``v_semantic_cache`` audit: as query vectors arrive, each is checked
    against previously-seen queries in its SRP-LSH buckets and
    ``(vec_id, cache_id, cosine)`` hit rows are emitted immediately
    (cache_id = an earlier query within cosine ``threshold``; serve its
    cached answer instead of recomputing).

    Candidate generation is banded random-hyperplane LSH (seeded planes,
    ``bands`` bands of ``n_planes`` sign bits), the right tool at CACHE
    thresholds (≥0.9: near-parallel vectors agree on almost every
    hyperplane, so same-bucket recall is ~1 — see the blocked miner's
    docstring for why LSH is wrong at LOW thresholds; this operator
    documents that operating point rather than pretending exactness).
    Hits ARE exact: state stores the float vectors, and every candidate
    is scored with the exact sequential-fold cosine before the threshold
    test — a pair colliding in several bands emits once per band; the
    consumer dedupes, as with ``events.neardup_pairs_stream``.

    State per bucket = (ids, packed float64 vectors), bounded by
    ``max_bucket`` (a hot bucket stops absorbing new cache entries but
    still serves hits — the cache stops growing, not the lookups).
    Shuffle per micro-batch carries (id, vector, band-key) rows only.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions.hashing import hyperplane_signature
    from ..operators._blockgrid import seq_dot as _seq_dot

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")

    # one packed sign-key per band (independent seeded plane sets), the
    # band index folded into the group key so bands never collide
    keyed = queries.select(
        id_col,
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        hyperplane_signature(
                            F.col(vec_col), dim, n_planes, seed + b
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band"),
    )

    out_schema = "vec_id BIGINT, cache_id BIGINT, cosine DOUBLE"
    state_schema = "ids ARRAY<BIGINT>, vecs BINARY"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ids, packed = state.get
            ids = list(ids)
            vecs = np.frombuffer(packed, dtype=np.float64).reshape(-1, dim)
        else:
            ids, vecs = [], np.empty((0, dim), dtype=np.float64)
        out = []
        for pdf in pdfs:
            for qid, v in zip(pdf["vec_id"], pdf["_v"]):
                qv = np.asarray(list(v), dtype=np.float64)
                qn = float(np.sqrt(np.dot(qv, qv)))
                if len(ids) and qn != 0.0:
                    norms = np.sqrt(_seq_dot(vecs, vecs))
                    safe = np.where(norms == 0.0, 1.0, norms)
                    cos = _seq_dot(vecs, np.broadcast_to(qv, vecs.shape)) / (
                        safe * qn
                    )
                    cos[norms == 0.0] = -2.0
                    for j in np.flatnonzero(cos >= threshold):
                        out.append(
                            (int(qid), int(ids[j]), round(float(cos[j]), 6))
                        )
                if len(ids) < max_bucket:
                    ids.append(int(qid))
                    vecs = np.vstack([vecs, qv[None, :]])
        state.update((ids, vecs.tobytes()))
        yield pd.DataFrame(out, columns=["vec_id", "cache_id", "cosine"])

    renamed = keyed.withColumnRenamed(id_col, "vec_id")
    return renamed.groupBy("_band").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
