"""Keyed MERGE (upsert/delete) into a parquet table — vanilla-Spark
emulation of the lakehouse MERGE INTO.

Plain parquet has no transactional row-level merge (that's what
Delta/Iceberg table formats add); the portable pattern is
read-join-rewrite with a recoverable directory swap:

1. read the current table snapshot,
2. full-outer join target vs updates on the key (updates broadcast when
   small — the common CDC case: a day's changes vs years of history),
3. resolve per row: update wins over target, absent-in-target inserts,
   tombstones delete,
4. write the new snapshot NEXT TO the table and publish it with
   ``commit.swap`` (the previous snapshot is parked and removed only
   after the new one is in place; a crash mid-swap is undone by
   ``commit.recover``, which every writer here runs on entry).

Scale notes: the rewrite cost is one pass over the table — that is the
honest floor for format-less parquet. The partition-pruned writers
(``merge_parquet_partitioned``, ``scd2_apply_partitioned``) rewrite only
the touched partitions and publish them as one partition-set commit
(``commit.commit_partitions``): a crash mid-commit is rolled forward by
the next writer's entry, so no reader after that sees the batch
half-applied.
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import commit


# Table-level schema sidecar (partitioned evolution). A partitioned
# evolving merge rewrites ONLY touched partition dirs with the new column;
# untouched dirs keep their old footers (byte-identical — the whole point
# of the pruned path). Plain spark.read.parquet over such mixed footers
# picks ONE footer's schema nondeterministically, so the table-level
# schema is recorded in an underscore-prefixed sidecar (ignored by Spark's
# file listing) and read back by read_table_snapshot: an explicit
# read-schema makes parquet fill the column with NULL in old files —
# exactly the ADD-COLUMN NULL-backfill semantics, without touching them.
# merge_parquet writes the sidecar into every snapshot it stages, so the
# next merge and every readback skip the parquet footer (schema-inference)
# job. Writers that swap in a whole new dir without one drop it with the
# old snapshot; the pruned writers keep the schema it records.
_SCHEMA_SIDECAR = "_table_schema.json"


def _sidecar_path(table_path: str) -> str:
    import os

    return os.path.join(table_path, _SCHEMA_SIDECAR)


def _read_schema_sidecar(table_path: str):
    import json
    import os

    from pyspark.sql import types as T

    p = _sidecar_path(table_path)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return T.StructType.fromJson(json.load(fh))


def read_table_snapshot(spark: SparkSession, table_path: str) -> DataFrame:
    """Read a merge-managed parquet table honoring its schema sidecar, if
    one exists (written by ``merge_parquet`` and by a partitioned
    schema-evolving merge): the explicit schema skips the footer job and
    makes partitions whose files predate an added column surface it as
    NULL. Without a sidecar this is a plain parquet scan. Raises
    ``RuntimeError`` while a partition commit is pending
    (``commit.require_committed``)."""
    commit.require_committed(table_path)
    schema = _read_schema_sidecar(table_path)
    if schema is None:
        return spark.read.parquet(table_path)
    return spark.read.schema(schema).parquet(table_path)


def _reject_duplicate_keys(updates: DataFrame, key_cols: list[str]) -> None:
    """One compact job over the (small, CDC-sized) updates batch: group by
    key, keep groups with >1 row, probe emptiness. Replaces the previous
    two-job ``distinct().count() != count()`` form — the grouped plan
    short-circuits at the first duplicate via the isEmpty limit-1."""
    dups = updates.groupBy(*key_cols).count().where(F.col("count") > 1)
    if not dups.isEmpty():
        raise ValueError("updates carry duplicate keys; resolve before merging")


def merge_parquet(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_cols: list[str],
    *,
    delete_col: str | None = None,
    partition_by: list[str] | None = None,
    broadcast_updates: bool = True,
    retain_history: int | None = None,
    schema_evolution: bool = False,
) -> None:
    """Upsert ``updates`` into the parquet table at ``table_path`` by key.

    ``delete_col``: optional boolean column in ``updates`` marking
    tombstones — matching target rows are removed (and such updates never
    insert). The column itself is not written.

    ``retain_history``: when set, the pre-merge snapshot is RETAINED as a
    queryable version under ``<table>/_history`` (keeping the newest N —
    operators/timetravel.py: ``read_version`` for as-of reads,
    ``diff_summary`` against it for merge audits) instead of deleted at
    swap time.

    ``schema_evolution``: allow the batch to carry NEW columns (the Delta
    ``mergeSchema`` ADD-COLUMN semantics): each new column joins the
    table schema with NULL backfill on every untouched row. Strictly
    additive — a batch MISSING existing table columns still errors
    (whole rows are replaced by key here, so silently NULLing a column
    the batch didn't mention would be data loss, not evolution), and no
    type change of an existing column is ever accepted.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if retain_history is not None and retain_history < 1:
        # validate BEFORE the merge job runs: archive_swap's own check
        # would fire only after the tmp snapshot is written, stranding it
        raise ValueError(f"retain_history must be >= 1, got {retain_history}")
    commit.recover(table_path)
    if retain_history is not None:
        from .timetravel import recover_history

        recover_history(table_path)  # finish an interrupted archive
    target = read_table_snapshot(spark, table_path)
    if schema_evolution:
        target = _evolve_target(target, updates, delete_col)
    upd = _resolve_updates(target, updates, key_cols, delete_col)
    merged = _merged_frame(target, upd, key_cols, broadcast_updates)

    tmp = f"{table_path.rstrip('/')}__merge_{uuid.uuid4().hex[:8]}"
    w = merged.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    commit.write_json(_sidecar_path(tmp), merged.schema.jsonValue())
    if retain_history is not None:
        from .timetravel import archive_swap

        archive_swap(table_path, tmp, retain=retain_history)
    else:
        commit.swap(table_path, tmp)


def _evolve_target(
    target: DataFrame,
    updates: DataFrame,
    delete_col: str | None,
) -> DataFrame:
    """ADD-COLUMN schema evolution: extend ``target`` with every batch
    column it lacks, typed from the batch, NULL on existing rows — so the
    ordinary schema check and merge path then apply unchanged. Existing
    columns present in both must agree on TYPE (widening/retyping is not
    evolution; it silently corrupts readers of old files)."""
    # membership must be CASE-INSENSITIVE to match Spark's default column
    # resolution: under caseSensitive=false, withColumn('V', ...) REPLACES
    # an existing 'v' — a case-sensitive check here treated a case-drifted
    # batch column as new and silently NULLed the whole existing column
    # (review-confirmed data loss). A case-drifted name is deliberately
    # NOT added: it falls through to _resolve_updates' exact set check,
    # which rejects the batch just like the non-evolution path would.
    by_lower = {f.name.lower(): f for f in target.schema.fields}
    for f_upd in updates.schema.fields:
        name, dt = f_upd.name, f_upd.dataType
        # the tombstone skip must be case-insensitive like the data-column
        # membership check: a case-drifted tombstone name ('_DELETED' vs
        # delete_col='_deleted') is still the tombstone under Spark's
        # case-insensitive resolution, not a new data column to persist
        if delete_col is not None and name.lower() == delete_col.lower():
            continue
        have = by_lower.get(name.lower())
        if have is not None:
            if have.dataType != dt:
                raise ValueError(
                    f"schema_evolution cannot change column '{have.name}' "
                    f"from {have.dataType.simpleString()} to "
                    f"{dt.simpleString()}; only ADDING columns is supported"
                )
        else:
            target = target.withColumn(name, F.lit(None).cast(dt))
    return target


def _resolve_updates(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    delete_col: str | None,
) -> DataFrame:
    """Schema-check the batch, normalize the tombstone flag to ``_tomb``,
    and reject duplicate keys (one compact job)."""
    data_cols = [c for c in updates.columns if c != delete_col]
    if set(target.columns) != set(data_cols):
        raise ValueError(
            f"updates schema {sorted(data_cols)} != table schema "
            f"{sorted(target.columns)}"
        )
    upd = updates
    if delete_col is None:
        upd = upd.withColumn("_tomb", F.lit(False))
    else:
        upd = upd.withColumn("_tomb", F.coalesce(F.col(delete_col), F.lit(False)))
        upd = upd.drop(delete_col)
    _reject_duplicate_keys(upd, key_cols)
    return upd


def _merged_frame(
    target: DataFrame,
    upd: DataFrame,
    key_cols: list[str],
    broadcast_updates: bool,
) -> DataFrame:
    """The lazy merged snapshot of ``target`` (the full table, or a
    pruned partition slice) against a ``_resolve_updates``-normalized
    batch: update wins over target, tombstones drop, new keys insert."""
    data_cols = [c for c in target.columns]
    u = upd.select(
        *[F.col(k).alias(f"_k_{k}") for k in key_cols],
        F.struct(*[F.col(c) for c in data_cols]).alias("_u"),
        "_tomb",
    )
    cond = [target[k].eqNullSafe(u[f"_k_{k}"]) for k in key_cols]
    keep = ~F.coalesce(F.col("_tomb"), F.lit(False))
    if broadcast_updates:
        # target LEFT-joins the broadcast updates — a full_outer join
        # would ignore the broadcast hint and sort-merge the whole table
        # on every merge; inserts come from a keys-only anti-join, so the
        # table's payload never shuffles for the tiny-CDC-batch case.
        joined = target.join(F.broadcast(u), cond, "left")
        updated = (
            joined.filter(keep)
            .select(
                *[
                    F.when(F.col("_u").isNotNull(), F.col("_u")[c])
                    .otherwise(target[c])
                    .alias(c)
                    for c in target.columns
                ]
            )
        )
        tgt_keys = target.select(
            *[F.col(k).alias(f"_tk_{k}") for k in key_cols]
        )
        inserts = (
            upd.filter(~F.col("_tomb"))
            .join(
                tgt_keys,
                [F.col(k).eqNullSafe(F.col(f"_tk_{k}")) for k in key_cols],
                "left_anti",
            )
            .select(*[F.col(c) for c in target.columns])
        )
        return updated.unionByName(inserts)
    # big-batch path: one full_outer shuffle beats the left-join
    # shape's extra table scan + key shuffle when the updates side
    # is too large to broadcast anyway
    joined = target.join(u, cond, "full_outer")
    return (
        joined.filter(keep)
        .select(
            *[
                F.when(F.col("_u").isNotNull(), F.col("_u")[c])
                .otherwise(target[c])
                .alias(c)
                for c in target.columns
            ]
        )
    )


def scd2_apply(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_cols: list[str],
    *,
    ts_col: str = "effective_ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    broadcast_updates: bool = True,
) -> None:
    """Slowly-changing-dimension type 2 apply: dimension history as
    immutable versioned rows. The table carries ``valid_from``/``valid_to``
    (NULL valid_to = current row); ``updates`` carries the key, the new
    attribute values and ``ts_col`` (when the change took effect).

    Per key: an update whose attributes DIFFER from the current row closes
    it (valid_to = effective_ts) and inserts a new current row; an update
    equal to the current row is a no-op (idempotent CDC replay); a new key
    inserts its first current row. An update AT OR BEFORE the current
    row's valid_from with changed attributes is rejected: older is stale
    CDC re-delivery (it would install old data over newer and write a
    negative-duration history row), and an EQUAL timestamp would write a
    zero-duration history row that as-of lookups (point-in-time join on
    ``valid_from <= t < valid_to``) can never return — ambiguous input,
    so it is refused rather than silently ordered. Emit strictly
    increasing effective timestamps per key.
    History rows are never touched — the rewrite is one pass + swap, same
    recoverable-snapshot discipline as merge_parquet. At scale, partition
    by a key-derived bucket and rewrite only partitions with changes.

    Join shape and job count (round-4 single-pass validation): ONE
    compact duplicate-key job over the (tiny) updates batch, then ONE
    write job. The stale check rides the write itself as an
    ``Observation`` aggregate on the joined frame — the dimension is no
    longer scanned by a separate eager validation job; a stale batch is
    detected after the tmp write, which is then discarded before the
    swap (table state untouched either way). Within the write job the
    dimension parquet is read with full payload once (the LEFT join
    driving close/keep/version) plus one KEYS-ONLY column-pruned scan
    (the anti-join producing brand-new keys); a full-outer join would
    ignore the broadcast hint and sort-merge the whole dimension every
    apply.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    commit.recover(table_path)
    target = read_table_snapshot(spark, table_path)
    snapshot, obs = _scd2_snapshot(
        target, updates, key_cols, ts_col, valid_from, valid_to,
        broadcast_updates,
    )

    tmp = f"{table_path.rstrip('/')}__scd2_{uuid.uuid4().hex[:8]}"
    snapshot.write.mode("overwrite").parquet(tmp)
    _raise_if_stale(obs, tmp)
    commit.swap(table_path, tmp)


def _raise_if_stale(obs: Observation, tmp: str) -> None:
    n_stale = obs.get["n_stale"] or 0
    if n_stale:
        shutil.rmtree(tmp, ignore_errors=True)
        raise ValueError(
            f"{n_stale} update(s) are at-or-before the valid_from of the row "
            "they would replace (stale or same-timestamp CDC batch); "
            "refusing to rewrite history"
        )


def _scd2_snapshot(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    ts_col: str,
    valid_from: str,
    valid_to: str,
    broadcast_updates: bool,
) -> tuple[DataFrame, Observation]:
    """The lazy SCD2 snapshot of ``target`` (full dimension or a pruned
    partition slice) plus the Observation whose ``n_stale`` metric must be
    checked after the write and before any swap."""
    attr_cols = [
        c
        for c in target.columns
        if c not in (*key_cols, valid_from, valid_to)
    ]
    expect = set(key_cols) | set(attr_cols) | {ts_col}
    if set(updates.columns) != expect:
        raise ValueError(
            f"updates schema {sorted(updates.columns)} != expected {sorted(expect)}"
        )
    _reject_duplicate_keys(updates, key_cols)

    vf_type = target.schema[valid_from].dataType
    vt_type = target.schema[valid_to].dataType
    u = updates.select(
        *[F.col(k).alias(f"_k_{k}") for k in key_cols],
        F.struct(*[F.col(c) for c in attr_cols]).alias("_u"),
        F.col(ts_col).cast(vf_type).alias("_ts"),
    )
    if broadcast_updates:
        u = F.broadcast(u)

    history = target.filter(F.col(valid_to).isNotNull())
    current = target.filter(F.col(valid_to).isNull())
    cond = [current[k].eqNullSafe(u[f"_k_{k}"]) for k in key_cols]
    j = current.join(u, cond, "left")
    # from here on every current-side column name is unambiguous in j
    # (the updates side carries only _k_*/_u/_ts), so plain F.col works
    changed = F.col("_u").isNotNull() & (
        F.struct(*[F.col(c) for c in attr_cols]) != F.col("_u")
    )
    stale = changed & (F.col("_ts") <= F.col(valid_from))
    obs = Observation()
    j = j.observe(obs, F.sum(stale.cast("long")).alias("n_stale"))

    # one pass over the joined frame emits BOTH output shapes per row:
    # the (possibly closed) current version always, plus the new opened
    # version when the attributes changed — explode of a 1- or 2-element
    # struct array, so j is consumed exactly once and the Observation
    # counts each row exactly once.
    closed = F.struct(
        *[F.col(k).alias(k) for k in key_cols],
        *[F.col(c).alias(c) for c in attr_cols],
        F.col(valid_from).alias(valid_from),
        F.when(changed, F.col("_ts"))
        .otherwise(F.lit(None))
        .cast(vt_type)
        .alias(valid_to),
    )
    opened = F.struct(
        *[F.col(f"_k_{k}").alias(k) for k in key_cols],
        *[F.col("_u")[c].alias(c) for c in attr_cols],
        F.col("_ts").alias(valid_from),
        F.lit(None).cast(vt_type).alias(valid_to),
    )
    cur_rows = j.select(
        F.explode(
            F.when(changed, F.array(closed, opened)).otherwise(F.array(closed))
        ).alias("_r")
    ).select("_r.*")

    # brand-new keys: anti-join against the current KEYS (narrow — the
    # dimension's attribute payload never shuffles here; eqNullSafe to
    # match the join semantics above)
    cur_keys = current.select(
        *[F.col(k).alias(f"_ck_{k}") for k in key_cols]
    )
    new_rows = updates.join(
        cur_keys,
        [
            F.col(k).eqNullSafe(F.col(f"_ck_{k}"))
            for k in key_cols
        ],
        "left_anti",
    ).select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).cast(vf_type).alias(valid_from),
        F.lit(None).cast(vt_type).alias(valid_to),
    )
    snapshot = history.unionByName(cur_rows).unionByName(new_rows)
    return snapshot, obs


def _partition_dirs(root: str) -> set[str]:
    """Relative paths of the leaf partition directories under ``root``
    (dirs that directly contain data files) — names are Spark's own
    ``col=value`` encoding on both the table and tmp sides, so they
    compare as opaque strings and no value→dirname re-encoding (with its
    escaping pitfalls) ever happens here."""
    import os

    out = set()
    for dirpath, _dirnames, filenames in os.walk(root):
        if dirpath == root:
            continue
        if any(f.endswith(".parquet") for f in filenames):
            out.add(os.path.relpath(dirpath, root))
    return out


def merge_parquet_partitioned(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_by: list[str],
    *,
    delete_col: str | None = None,
    broadcast_updates: bool = True,
    max_touched_partitions: int = 10_000,
    schema_evolution: bool = False,
) -> int:
    """Partition-pruned MERGE: rewrite ONLY the partitions the updates
    touch — the scale path the module docstring promises. At a 100 TB
    table with daily CDC touching a handful of partitions, the full
    ``merge_parquet`` rewrite is O(table); this is O(touched partitions)
    end to end: the target read is a partition-pruned scan, the join runs
    on the slice, and only touched partition directories are swapped.

    Correctness precondition (validated): every ``partition_by`` column
    must be part of ``key_cols`` — a row's partition is then determined
    by its immutable key, so an update can never MOVE a row between
    partitions (which a pruned merge could not see). Partition a fact
    table by a key-derived bucket (``pmod(xxhash64(key), N)``) or an
    immutable event date to satisfy this.

    Mechanics: touched partition values are the updates' distinct
    partition tuples (driver-bounded, capped at
    ``max_touched_partitions`` — beyond that, a full merge is cheaper
    than per-dir bookkeeping and the cap raises with that advice). The
    merged slice is written next to the table and published as ONE
    partition-set commit (``commit.commit_partitions``): written dirs
    replace their live namesakes or move in new, and a touched dir with
    NO output rows (every row tombstoned) is removed. Crash honesty: the
    commit's pending marker names the whole set before any live dir
    changes, so a crash mid-commit is rolled forward by the next writer's
    entry (``commit.recover``) — after it, the batch is fully applied.
    Between the crash and that entry, a reader can see the batch
    half-applied. Returns the number of partitions rewritten.

    ``schema_evolution``: same strictly-additive ADD-COLUMN semantics as
    ``merge_parquet`` — but only TOUCHED partitions are rewritten with
    the new column; untouched partition dirs stay byte-identical (their
    old footers lack the column), and the table-level schema is recorded
    in a ``_table_schema.json`` sidecar that ``read_table_snapshot``
    (used by every reader/writer in this module) feeds to the parquet
    reader as an explicit schema, surfacing the column as NULL in
    pre-evolution files. A new partition column can never be added this
    way (``partition_by`` ⊆ ``key_cols`` ⊆ existing schema). Crash
    honesty: the sidecar is written BEFORE the partition commit — a crash
    between leaves the table readable at the NEW schema with the column
    NULL everywhere (no data dir has changed yet), and re-running the
    merge completes the rewrite. The reverse order would be unrepairable:
    with some touched dirs already carrying the new column and no
    sidecar, plain readers pick one footer nondeterministically, and a
    re-run sees the column as pre-existing (``evolved`` stays False) so
    the sidecar would never be written.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    _validate_pruned_partitioning(key_cols, partition_by)
    _require_hive_layout(table_path)
    commit.recover(table_path)
    full = read_table_snapshot(spark, table_path)
    base_cols = set(full.columns)
    if schema_evolution:
        full = _evolve_target(full, updates, delete_col)
    evolved = set(full.columns) != base_cols
    upd = _resolve_updates(full, updates, key_cols, delete_col)

    pred = _touched_predicate(upd, partition_by, max_touched_partitions)
    if pred is None:
        return 0
    target = full.filter(pred)  # partition-pruned scan
    merged = _merged_frame(target, upd, key_cols, broadcast_updates)
    existing = _existing_partition_dirs(target, table_path)

    tmp_root = f"{table_path.rstrip('/')}__pmerge_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp_root)
    if evolved:
        # the batch actually added columns: record the table-level schema
        # (partition columns ride at their read positions) BEFORE any dir
        # carries mixed footers — see the crash-honesty note above
        commit.write_json(_sidecar_path(table_path), full.schema.jsonValue())
    return _commit_partitions(table_path, tmp_root, existing)


def _validate_pruned_partitioning(
    key_cols: list[str], partition_by: list[str]
) -> None:
    if not partition_by:
        raise ValueError("partition_by must be non-empty (else use the full apply)")
    if not set(partition_by) <= set(key_cols):
        raise ValueError(
            "partition_by must be a subset of key_cols: a pruned merge is "
            "only sound when a row's partition is key-determined and "
            "immutable (use a key-derived bucket column)"
        )


def _require_hive_layout(table_path: str) -> None:
    """A pruned apply against a FLAT table would leave the original
    root-level files in place next to the new partition dirs — every
    touched row silently duplicated. Refuse up front instead."""
    import os

    flat = [
        f
        for f in os.listdir(table_path)
        if f.endswith(".parquet") and os.path.isfile(os.path.join(table_path, f))
    ]
    if flat:
        raise ValueError(
            f"{table_path} holds root-level parquet files — not a "
            "hive-partitioned layout; write it with partitionBy first or "
            "use the full (non-pruned) apply"
        )


def _touched_predicate(
    upd: DataFrame, partition_by: list[str], max_touched: int
):
    """OR-of-tuples filter over the updates' distinct partition values
    (driver-bounded, capped); None when the batch is empty."""
    touched = (
        upd.select(*partition_by).distinct().limit(max_touched + 1).collect()
    )
    if len(touched) > max_touched:
        raise ValueError(
            f"updates touch > {max_touched} partitions; a full rewrite is "
            "the better plan at that span"
        )
    clauses = []
    for row in touched:
        clause = None
        for c in partition_by:
            # == / isNull, NOT eqNullSafe: the catalyst partition-pruning
            # rule recognizes EqualTo and IsNull but not <=>, so a
            # null-safe-equals predicate here silently degrades the
            # "pruned" scan to a full-table read (caught by the 20M-row
            # scale smoke: pruned wall grew with TABLE size, not slice)
            v = row[c]
            eq = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
            clause = eq if clause is None else (clause & eq)
        clauses.append(clause)
    # Balanced OR tree, NOT a left-deep (a|b)|c chain: Catalyst walks
    # expression trees recursively, and a chain thousands of Ors deep
    # (legal — the cap is 10k partitions) overflows the driver stack
    # during analysis. Pairwise reduction keeps depth at log2(n) ~ 14
    # while preserving the exact EqualTo/IsNull shapes the pruning rule
    # matches.
    while len(clauses) > 1:
        clauses = [
            clauses[i] | clauses[i + 1] if i + 1 < len(clauses) else clauses[i]
            for i in range(0, len(clauses), 2)
        ]
    return clauses[0] if clauses else None


def _existing_partition_dirs(target: DataFrame, table_path: str) -> set[str]:
    """The touched partitions' dir names as they exist on disk, named by
    Spark itself (input_file_name over the pruned slice — a
    file-listing-scale job, O(touched partitions))."""
    import os

    from urllib.parse import unquote

    root = os.path.abspath(table_path)
    existing = set()
    for r in target.select(F.input_file_name().alias("f")).distinct().collect():
        f = r["f"]
        if f.startswith("file:"):
            f = f[len("file:"):]
        # input_file_name returns a URI: the ON-DISK dir name "p=a b"
        # arrives as "p=a%20b" (and hive's own escaping "p=x%3Ay" as
        # "p=x%253Ay"). One unquote level recovers the on-disk name so
        # this set compares equal to _partition_dirs' os.walk names —
        # otherwise any partition value with a space/':'/'%' makes the
        # commit treat the dir as brand-new AND fully-deleted.
        f = unquote(f)
        rel = os.path.relpath(os.path.dirname(f), root)
        if rel != ".":
            existing.add(rel)
    return existing


def _commit_partitions(table_path: str, tmp_root: str, existing: set[str]) -> int:
    """Publish the written partition dirs over the touched ``existing``
    ones (a touched dir with no output rows is deleted); returns the
    number of partitions rewritten."""
    written = _partition_dirs(tmp_root)
    commit.commit_partitions(table_path, tmp_root, written, existing - written)
    return len(written | existing)


def scd2_apply_partitioned(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_by: list[str],
    *,
    ts_col: str = "effective_ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    broadcast_updates: bool = True,
    max_touched_partitions: int = 10_000,
) -> int:
    """Partition-pruned SCD2 apply: the ``scd2_apply`` semantics (close /
    version / insert, single-pass Observation stale check, same
    equal-timestamp rejection) touching ONLY the partitions the batch's
    keys live in — the scale path for a 100 TB dimension partitioned by a
    key-derived bucket (``pmod(xxhash64(key), N)``).

    Same precondition as ``merge_parquet_partitioned`` (``partition_by``
    ⊆ ``key_cols``): a key's entire version history then lives in one
    partition forever, so close+insert pairs never straddle a partition
    boundary and untouched partitions cannot hold a current row for an
    updated key. A stale batch is detected after the tmp write and
    discarded before ANY partition dir is swapped — the dimension is
    untouched on rejection. Crash honesty matches
    ``merge_parquet_partitioned``: one partition-set commit, rolled
    forward by the next writer's entry after a crash. Returns the number
    of partitions rewritten.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    _validate_pruned_partitioning(key_cols, partition_by)
    _require_hive_layout(table_path)
    commit.recover(table_path)
    full = read_table_snapshot(spark, table_path)
    missing = set(partition_by) - set(updates.columns)
    if missing:
        raise ValueError(f"updates lack partition columns {sorted(missing)}")

    pred = _touched_predicate(
        updates.select(*partition_by), partition_by, max_touched_partitions
    )
    if pred is None:
        return 0
    target = full.filter(pred)  # partition-pruned scan
    snapshot, obs = _scd2_snapshot(
        target, updates, key_cols, ts_col, valid_from, valid_to,
        broadcast_updates,
    )
    existing = _existing_partition_dirs(target, table_path)

    tmp_root = f"{table_path.rstrip('/')}__pscd2_{uuid.uuid4().hex[:8]}"
    snapshot.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp_root)
    _raise_if_stale(obs, tmp_root)
    return _commit_partitions(table_path, tmp_root, existing)
