"""Structured Streaming jobs over the events stream (SURVEY.md §2.9 — the
reference has NO streaming; this is north-star surface).

Design: each job is the SAME transformation the batch catalog checks
against the DuckDB oracle (plans/event_queries.py) applied to a streaming
DataFrame + a watermark. Spark's unified batch/stream planner makes the
batch oracle a genuine correctness proxy; what the stream tests add
(tests/test_streaming.py) is watermark/late-data and incremental-state
behavior.

Scale notes: state stores are keyed by (window, type) / (user, session) /
event_id — all bounded by the watermark horizon; shuffle partitioning is
the state partitioning. At 100 TB/day you size
``spark.sql.shuffle.partitions`` to the state volume, not the input rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts_stream(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed counts/sums per event type with late-data handling: events
    later than the watermark are dropped, windows finalize (append-able)
    once the watermark passes their end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user (native session_window state merge —
    the streaming form of plans/event_queries.e_session_windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    *,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each key within
    the watermark horizon (``dropDuplicatesWithinWatermark`` — state expires
    with the watermark, so memory is bounded; the streaming form of the
    exact-dedup operator)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def running_user_totals_stream(
    events: DataFrame,
    *,
    watermark: str = "2 hours",
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the
    north-star 'custom stateful operator' slot): per-user running event
    count + value total, one update row per user per micro-batch.

    State = (count, total) per user — O(users), not O(events). Pass
    ``timeout_minutes`` to expire idle users' state on a processing-time
    clock; note that processing-time timeouts make the query schedule
    micro-batches continuously to advance the clock (so
    ``processAllAvailable`` will not settle — use a real trigger in
    production, leave None for drain-style tests).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"
    state_schema = "n BIGINT, total DOUBLE"
    with_timeout = timeout_minutes is not None

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if with_timeout:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if with_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def neardup_pairs_stream(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    max_bucket: int = 200,
) -> DataFrame:
    """STREAMING near-duplicate detection — the incremental form of
    operators/dedup.minhash_lsh_pairs: as documents arrive, each is checked
    against the previously-seen members of its LSH buckets and (id_new,
    id_seen, est_jaccard) pairs are emitted immediately.

    Plan shape: per-row MinHash signature as pure projections (HOF
    array_min per hash — no aggregation, so it composes with the stateful
    op), explode band keys, ``applyInPandasWithState`` keyed by band key.
    State per bucket = (ids, packed signatures) bounded by ``max_bucket``
    (boilerplate buckets stop growing — same skew guardrail as the batch
    operator). A pair colliding in several bands is emitted once per
    colliding band; downstream exact-verify/dedup (batch operator's verify
    step) absorbs duplicates — documented, matches how streaming LSH is
    deployed (candidates are a stream, verification is the consumer).

    Estimated (not exact) Jaccard: the stream never stores documents, only
    ``n_hashes``-long signatures — state is O(buckets × max_bucket × 128 B),
    not O(corpus)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    shingles = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length(text_col) - (shingle_n - 1), F.lit(1))
            ),
            lambda i: F.substr(F.col(text_col), i, F.lit(shingle_n)),
        )
    )
    base = docs.withColumn("_h", F.transform(shingles, lambda s: F.xxhash64(s)))
    sig = F.array(
        *[
            F.array_min(F.transform("_h", _perm_hash(i)))
            for i in range(n_hashes)
        ]
    )
    rows = n_hashes // bands
    keyed = (
        base.withColumn("_sig", sig)
        .select(
            id_col,
            "_sig",
            F.explode(
                F.array(
                    *[
                        F.xxhash64(
                            F.lit(bnd), F.slice("_sig", bnd * rows + 1, rows)
                        )
                        for bnd in range(bands)
                    ]
                )
            ).alias("_band"),
        )
    )

    out_schema = "id_new BIGINT, id_seen BIGINT, est_jaccard DOUBLE"
    state_schema = "ids ARRAY<BIGINT>, sigs BINARY"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ids, packed = state.get
            ids = list(ids)
            sigs = np.frombuffer(packed, dtype=np.int64).reshape(-1, n_hashes)
        else:
            ids, sigs = [], np.empty((0, n_hashes), dtype=np.int64)
        out = []
        for pdf in pdfs:
            for doc_id, s in zip(pdf[id_col], pdf["_sig"]):
                sv = np.asarray(list(s), dtype=np.int64)
                if len(ids):
                    est = (sigs == sv).mean(axis=1)
                    for j in np.flatnonzero(est >= threshold):
                        out.append((int(doc_id), int(ids[j]), round(float(est[j]), 6)))
                if len(ids) < max_bucket:
                    ids.append(int(doc_id))
                    sigs = np.vstack([sigs, sv[None, :]])
        state.update((ids, sigs.tobytes()))
        yield pd.DataFrame(out, columns=["id_new", "id_seen", "est_jaccard"])

    return keyed.groupBy("_band").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _perm_hash(i: int):
    """Single-arg factory so the loop index binds per-hash (PySpark HOF
    lambdas capture late otherwise)."""

    def f(h):
        return F.xxhash64(F.lit(i), h)

    return f


def rollup_ingest_stream(
    events: DataFrame, rollup_path: str, checkpoint_dir: str
):
    """Streaming ingest into the incremental rollup table
    (operators/rollup.py): each micro-batch flows through
    ``upsert_rollup`` — the same mergeable-partials maintenance the batch
    path uses, so streaming and batch ingest produce identical tables.

    Replay safety: foreachBatch is at-least-once (a crash after the sink
    write but before the checkpoint commit replays the batch), and a
    rollup MERGE is not naturally idempotent — re-applying a batch double
    counts. An applied-batch ledger (one marker file per Spark batch id,
    checked before the merge) makes replays no-ops. Honest crash window:
    dying BETWEEN the merge and the marker write still double-counts that
    one batch on restart; closing it needs a transactional table format
    (Delta/Iceberg commit protocols), which plain parquet cannot express.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_rollup_batch(batch_df, batch_id, rollup_path)

    return (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _apply_once(batch_id: int, target_path: str, apply_fn) -> bool:
    """ONE copy of the applied-batch marker protocol shared by every
    foreachBatch sink that merges into a plain-parquet target
    (rollup, sketch ledger): check the marker, run ``apply_fn``, then
    write the marker. Returns True if applied, False on a replayed
    batch id. The honest crash window (dying between the apply and the
    marker write re-applies one batch on restart) is documented at each
    stream's docstring — closing it needs a transactional table
    format."""
    import os

    ledger = f"{target_path.rstrip('/')}__applied"
    marker = os.path.join(ledger, str(batch_id))
    if os.path.exists(marker):
        return False  # replayed batch: already merged
    apply_fn()
    os.makedirs(ledger, exist_ok=True)
    with open(marker, "w"):
        pass
    return True


def apply_rollup_batch(
    batch_df: DataFrame, batch_id: int, rollup_path: str
) -> bool:
    """The exactly-once micro-batch apply behind
    :func:`rollup_ingest_stream` (module-level so replay/audit tooling
    exercises the PRODUCTION apply path). Returns True if the batch was
    merged, False if the ledger marked it as a replay."""
    from ..operators.rollup import upsert_rollup

    return _apply_once(
        batch_id,
        rollup_path,
        lambda: upsert_rollup(batch_df.sparkSession, rollup_path, batch_df),
    )


def cdc_merge_stream(
    updates: DataFrame,
    table_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    *,
    order_col: str | None = None,
    delete_col: str | None = None,
    partition_by: list[str] | None = None,
    retain_history: int | None = None,
    schema_evolution: bool = False,
):
    """Streaming upsert: each micro-batch of CDC rows MERGEs into the
    parquet table at ``table_path`` — the streaming twin of
    ``operators/merge.py`` (with ``partition_by``, each batch rewrites
    only the partitions it touches, the O(touched) path a continuous
    100 TB ingest needs).

    ``order_col``: CDC feeds routinely carry several versions of a key
    per batch; the row with the greatest ``order_col`` wins (ties break
    on the row's own column values — deterministic). Without it, a batch
    with duplicate keys is REJECTED by the merge, not silently collapsed.
    The ordering column may be feed METADATA (an LSN/op timestamp that
    is not a table column) — after resolution it is dropped when the
    target table does not carry it.

    ``retain_history`` (flat path only): keep the newest N pre-batch
    snapshots queryable via operators/timetravel.read_version — per-batch
    table versions for as-of debugging of a live ingest.

    ``schema_evolution`` (flat path only): a batch carrying NEW data
    columns evolves the table (ADD-COLUMN with NULL backfill —
    operators/merge semantics; strictly additive, type changes still
    error). ``order_col`` handling is unchanged: resolution metadata is
    dropped when the target lacks it — evolution is for DATA columns; a
    feed wanting its version column persisted adds it to the table
    schema explicitly.

    Replay safety, unlike ``rollup_ingest_stream``: an upsert/delete
    MERGE is naturally IDEMPOTENT — re-applying a batch overwrites the
    same keys with the same values — so foreachBatch's at-least-once
    replay needs no applied-batch ledger, PROVIDED this stream is the
    table's only writer (a replay interleaved with another writer's
    change can resurrect it).
    """
    from ..operators.merge import merge_parquet, merge_parquet_partitioned

    if retain_history is not None and retain_history < 1:
        raise ValueError(
            f"retain_history must be >= 1, got {retain_history}"
        )
    if retain_history is not None and partition_by:
        raise ValueError(
            "retain_history requires the flat (non-partitioned) merge "
            "path: pruned applies rewrite only touched partition dirs, "
            "so there is no whole-table snapshot to retain"
        )
    if schema_evolution and partition_by:
        raise ValueError(
            "schema_evolution requires the flat merge path: a pruned "
            "apply rewrites only touched partition dirs, so untouched "
            "dirs would keep the old schema and readers would see a "
            "split-brain table"
        )
    target_cols: set[str] = set()  # memoized across batches (stable schema)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df
        if order_col is not None:
            from pyspark.sql import Window

            others = [
                c
                for c in batch.columns
                if c not in key_cols and c != order_col
            ]
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(order_col).desc(), *[F.col(c).desc() for c in others]
            )
            batch = (
                batch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            # the ordering column may be feed metadata, not a table
            # column — drop it when the target doesn't carry it (schema
            # read memoized; this stream is the table's only writer)
            if not target_cols:
                target_cols.update(
                    batch_df.sparkSession.read.parquet(table_path).columns
                )
            if order_col not in target_cols:
                batch = batch.drop(order_col)
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        if partition_by:
            merge_parquet_partitioned(
                spark, table_path, batch, key_cols, partition_by,
                delete_col=delete_col,
            )
        else:
            merge_parquet(
                spark, table_path, batch, key_cols, delete_col=delete_col,
                retain_history=retain_history,
                schema_evolution=schema_evolution,
            )

    return (
        updates.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def attribution_stream(events: DataFrame) -> DataFrame:
    """Streaming last-touch attribution — the stateful twin of the batch
    ``e_attribution`` query (plans/event_queries.py): every purchase emits
    one credit row naming the user's most recent PRIOR touch (view/click),
    'unattributed' when none has been seen yet.

    State per user = the latest touch channel — O(users), independent of
    event volume. A micro-batch's rows for a user are CONCATENATED across
    Arrow chunks and then sorted by ts before replay
    (``applyInPandasWithState`` groups but neither orders rows nor
    guarantees one chunk per group — sorting chunks independently would
    mis-credit any user whose batch rows span chunks), so as long as each
    user's events arrive in timestamp order ACROSS batches — the
    replay-a-log shape — the emitted credits equal the batch twin exactly
    (tests/test_streaming.py and scale_smoke_streaming section 5 pin it).
    Late cross-batch touches do not retro-credit earlier purchases;
    last-touch attribution over out-of-order streams needs watermarked
    buffering, which the batch query is for.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id BIGINT, event_id BIGINT, channel STRING, value DOUBLE"
    )
    state_schema = "touch STRING"

    def update(key, pdfs, state: GroupState):
        (touch,) = state.get if state.exists else (None,)
        out: dict[str, list] = {
            "user_id": [], "event_id": [], "channel": [], "value": [],
        }
        chunks = list(pdfs)
        if not chunks:
            # state-only invocation (e.g. a timed-out key if a timeout is
            # ever configured): nothing to replay, keep state as-is
            state.update((touch,))
            return
        pdf = (
            pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        ).sort_values("ts")
        for eid, etype, val in zip(
            pdf["event_id"].to_numpy(),
            pdf["event_type"].to_numpy(),
            pdf["value"].to_numpy(),
        ):
            if etype == "purchase":
                out["user_id"].append(key[0])
                out["event_id"].append(int(eid))
                out["channel"].append(
                    touch if touch is not None else "unattributed"
                )
                out["value"].append(float(val))
            elif etype in ("view", "click"):
                touch = etype
        state.update((touch,))
        if out["user_id"]:
            yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def support_alert_stream(
    events: DataFrame, *, support: int = 4
) -> DataFrame:
    """Streaming support-threshold alerts: one row per user each time
    their cumulative event count CROSSES a doubling milestone
    (``support``, 2x, 4x, …) — the ingest-time surge/abuse detector (the
    same shape flags a template n-gram or a hot domain crossing support
    during a crawl; key by that column instead).

    Emits ``(user_id, milestone, event_id)`` where ``event_id`` is the
    exact event that crossed the milestone under (ts, event_id) order —
    so the batch twin is a per-key rank: ``row_number() OVER
    (PARTITION BY user ORDER BY ts, event_id) == support * 2^j``
    (tests/test_streaming.py pins stream == batch on a cross-batch
    replay). Milestone doubling bounds output at O(log n) rows per key
    — an alert channel, not a count dump (running_user_totals_stream is
    the every-event form).

    State per user = (count, next_milestone): two BIGINTs, O(users) in
    the disk-backed state store — the standard Structured Streaming
    dedup/session state shape; the bounded-MEMORY census over unbounded
    keyspaces is the batch Misra-Gries operator
    (operators/heavyhitters.py), which this stream complements, not
    replaces. Same ordering caveat as attribution_stream: per-key rows
    are concatenated across Arrow chunks and sorted by (ts, event_id)
    within each batch; cross-batch order must come from the replay
    (time-ordered log)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if support < 1:
        raise ValueError(f"support must be >= 1, got {support}")
    out_schema = "user_id BIGINT, milestone BIGINT, event_id BIGINT"
    state_schema = "cnt BIGINT, nxt BIGINT"

    def update(key, pdfs, state: GroupState):
        cnt, nxt = state.get if state.exists else (0, support)
        chunks = list(pdfs)
        if not chunks:
            state.update((cnt, nxt))
            return
        pdf = (
            pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        ).sort_values(["ts", "event_id"])
        out: dict[str, list] = {"user_id": [], "milestone": [], "event_id": []}
        for eid in pdf["event_id"].to_numpy():
            cnt += 1
            if cnt == nxt:
                out["user_id"].append(key[0])
                out["milestone"].append(int(nxt))
                out["event_id"].append(int(eid))
                nxt *= 2
        state.update((int(cnt), int(nxt)))
        if out["user_id"]:
            yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sketch_ingest_stream(
    events: DataFrame, ledger_path: str, checkpoint_dir: str
):
    """Streaming ingest into the mergeable HLL sketch ledger
    (operators/sketches.HLL): each micro-batch folds into the stored
    per-(day, event_type) distinct-user sketches via the O(touched-days)
    partition-pruned upsert — a continuous distinct-count feed whose
    serving queries (rolling windows, type rollups) never rescan the
    event history.

    Replay safety is TWO-TIER here: the distinct ESTIMATES are
    replay-safe by algebra (HLL union is a register max — re-merging
    identical keys cannot drift them), and the applied-batch ledger
    (same marker protocol as :func:`rollup_ingest_stream`) additionally
    protects the exact ``n_events`` sums, which a replayed merge WOULD
    double-count. Same honest crash window as every plain-parquet sink:
    dying between the merge and the marker write re-applies one batch's
    event counts on restart (the estimates still cannot drift)."""
    from ..operators.sketches import HLL

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_ledger_batch(HLL, batch_df, batch_id, ledger_path)

    return (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def apply_ledger_batch(
    kind, batch_df: DataFrame, batch_id: int, ledger_path: str
) -> bool:
    """The micro-batch apply of any sketch ledger ``kind``
    (operators/sketches.LedgerKind — the one behind
    :func:`sketch_ingest_stream`; module-level so replay/audit tooling
    exercises the PRODUCTION apply path): ``kind.upsert`` behind the
    applied-batch marker. Returns True if the batch was merged, False if
    the marker identified it as a replay. Whether the marker guards
    correctness (additive counts) or only cost (an idempotent merge) is
    the kind's ``doc``.

    Null-ts contract: rows with a NULL/unparseable ``ts`` cannot live in
    a day-partitioned ledger (the upsert would raise on every retry,
    wedging the stream with its staged slice discarded), so they are
    DROPPED here before the merge — the documented availability trade;
    a pipeline that must not lose malformed rows routes them to a
    dead-letter sink upstream."""
    return _apply_once(
        batch_id,
        ledger_path,
        lambda: kind.upsert(
            batch_df.filter(F.col("ts").isNotNull()), ledger_path
        ),
    )
