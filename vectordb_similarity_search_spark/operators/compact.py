"""Small-file compaction — the OPTIMIZE half of the lakehouse write
path (Delta/Iceberg ``OPTIMIZE`` / ``rewrite_data_files`` on plain
parquet directories).

Why it's a first-class operator at 100 TB: streaming ingest
(streaming/events.py), incremental rollups (operators/rollup.py) and
partitioned MERGE (operators/merge.py) all append or rewrite per
micro-batch, and each commit leaves files sized by the batch, not by
the reader. A table touched by 10k micro-batches scans as 10k file
opens + footer reads + 10k scheduler splits per executor wave — file
COUNT, not byte count, becomes the scan bottleneck. Compaction
bin-packs those files back to ``target_file_bytes`` so the scan's task
count tracks data volume again.

Spark shapes used here:

- **Flat tables** rewrite in one job: ``repartition(n_target)`` (or
  ``repartitionByRange`` + ``sortWithinPartitions`` when ``sort_cols``
  is given, preserving the clustered layout and its zone maps —
  compaction then IS re-clustering, like OPTIMIZE ZORDER) and a
  recoverable snapshot swap (``commit.swap``).
- **Hive-partitioned tables** compact only the partition dirs that
  need it, in ONE shuffle job for all touched dirs: the touched dirs
  are read with ``basePath`` (keeps partition columns), every row gets
  a within-partition bucket ``pmod(xxhash64(random-ish), n_target)``
  sized per dir from a broadcast map, and one
  ``repartition(partition_cols + bucket)`` gives each (dir, bucket) a
  single writer — each dir comes back with at most its target file
  count. Untouched dirs are never read, never rewritten
  (byte-identical, pinned in tests). The touched dirs are published as
  one partition-set commit (``commit.commit_partitions``), like the
  partitioned MERGE.

The reference engine has no storage layer at all (in-memory store,
similarity_search.py:268-271); this is engine-native surface.
"""

from __future__ import annotations

import glob
import math
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import commit
from .merge import _partition_dirs

DEFAULT_TARGET_BYTES = 128 << 20


def _data_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "part-*.parquet")))


def _dir_bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def small_file_report(table_path: str, *, target_file_bytes: int = DEFAULT_TARGET_BYTES) -> dict:
    """Metadata-only health check (no Spark job): per-table file count,
    bytes, how many files are below half the target (the 'small' ones),
    and the file count a compaction would produce. For a partitioned
    table the numbers aggregate over leaf dirs."""
    dirs = _partition_dirs(table_path) or {"."}
    n_files = n_small = total = 0
    target_files = 0
    for rel in sorted(dirs):
        files = _data_files(os.path.join(table_path, rel) if rel != "." else table_path)
        b = _dir_bytes(files)
        n_files += len(files)
        n_small += sum(1 for f in files if os.path.getsize(f) < target_file_bytes // 2)
        total += b
        target_files += max(1, math.ceil(b / target_file_bytes)) if files else 0
    return {
        "n_files": n_files,
        "n_small_files": n_small,
        "total_bytes": total,
        "files_after_compaction": target_files,
        "worth_compacting": target_files < n_files,
    }


def compact_parquet(
    spark: SparkSession,
    table_path: str,
    *,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    sort_cols: list[str] | None = None,
    vacuum_keep: int | None = None,
) -> dict:
    """Rewrite a FLAT parquet directory into ``ceil(bytes/target)``
    files. With ``sort_cols`` the rewrite re-clusters
    (``repartitionByRange`` + in-file sort) and refreshes the zone-map
    sidecar, so compaction keeps selective reads prunable; without it a
    round-robin ``repartition`` balances file sizes exactly. No-op (no
    job at all) when the table already has no more files than the
    target — safe to run on a schedule. Recoverable snapshot swap; a
    crashed previous run is healed on entry.

    Versioned tables (round-9): a table carrying ``_history`` swaps
    through ``timetravel.history_preserving_swap`` — retained versions
    survive the rewrite instead of dying with the old snapshot (the
    rewrite holds the same logical rows, so no new version is cut).
    ``vacuum_keep`` wires retention GC into the compaction schedule:
    after a successful rewrite, archived versions beyond the N newest
    are deleted (``timetravel.vacuum_versions``)."""
    from .timetravel import HISTORY_DIR, recover_history, vacuum_versions

    commit.recover(table_path)
    recover_history(table_path)  # finish an interrupted archive, if any
    files = _data_files(table_path)
    if not files:
        raise ValueError(f"no parquet data files under {table_path}")
    n_target = max(1, math.ceil(_dir_bytes(files) / target_file_bytes))
    if n_target >= len(files):
        # the rewrite is a no-op but scheduled retention GC still runs
        vacuumed = (
            vacuum_versions(table_path, keep_last=vacuum_keep)
            if vacuum_keep is not None
            else []
        )
        return {
            "files_before": len(files),
            "files_after": len(files),
            "rewritten": False,
            "vacuumed_versions": vacuumed,
        }

    from ..sources.zonemap import SIDECAR, write_zone_map

    sidecar = os.path.join(table_path, SIDECAR)
    zone_cols: list[str] | None = None
    if os.path.exists(sidecar):
        import json

        with open(sidecar) as fh:
            zone_cols = json.load(fh)["columns"]

    # sidecar-aware: compacting a partition-pruned evolved table must read
    # the table-level schema (NULL-backfilled), not one arbitrary footer's
    from .merge import read_table_snapshot

    df = read_table_snapshot(spark, table_path)
    if sort_cols:
        out = df.repartitionByRange(n_target, *[df[c] for c in sort_cols]).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_target)
    tmp = f"{table_path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    out.write.parquet(tmp)
    if os.path.isdir(os.path.join(table_path, HISTORY_DIR)):
        from .timetravel import history_preserving_swap

        history_preserving_swap(table_path, tmp)
    else:
        commit.swap(table_path, tmp)
    if zone_cols or sort_cols:
        # the old sidecar died with the old snapshot; re-commit stats
        # for the same columns (plus any new clustering columns)
        write_zone_map(table_path, sorted(set(zone_cols or []) | set(sort_cols or [])))
    vacuumed: list[int] = []
    if vacuum_keep is not None:
        vacuumed = vacuum_versions(table_path, keep_last=vacuum_keep)
    return {
        "files_before": len(files),
        "files_after": len(_data_files(table_path)),
        "rewritten": True,
        "vacuumed_versions": vacuumed,
    }


def compact_parquet_partitioned(
    spark: SparkSession,
    table_path: str,
    partition_cols: list[str],
    *,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict:
    """Compact only the partition dirs of a hive-layout table whose
    file count exceeds their byte-size target. ONE shuffle job rewrites
    every touched dir (basePath read keeps the partition columns; a
    per-dir bucket column sized from a broadcast map caps each dir's
    writer count), then one partition-set commit replaces exactly the
    touched dirs — untouched dirs are never read and stay
    byte-identical."""
    commit.recover(table_path)
    dirs = _partition_dirs(table_path)
    if not dirs:
        raise ValueError(
            f"{table_path} has no col=value partition dirs; use compact_parquet"
        )
    # partition_cols MUST match the on-disk dir nesting IN ORDER: the
    # data-side join key is built in caller order while the dir-side key
    # follows the directory nesting — a mismatch would drop every row in
    # the inner join and the commit would then remove the
    # "empty" partitions. Data loss, so validate up front.
    disk_order = [seg.split("=", 1)[0] for seg in next(iter(dirs)).split(os.sep)]
    if partition_cols != disk_order:
        raise ValueError(
            f"partition_cols {partition_cols} must match the table's "
            f"on-disk partition nesting {disk_order} (same columns, same order)"
        )
    plan: dict[str, int] = {}
    before = after = 0
    for rel in sorted(dirs):
        files = _data_files(os.path.join(table_path, rel))
        if not files:
            continue
        n_target = max(1, math.ceil(_dir_bytes(files) / target_file_bytes))
        before += len(files)
        if n_target < len(files):
            plan[rel] = n_target
        else:
            after += len(files)
    if not plan:
        return {"dirs_touched": 0, "files_before": before, "files_after": before, "rewritten": False}

    touched = [os.path.join(table_path, rel) for rel in sorted(plan)]
    # sidecar-aware: a partition-pruned evolved table mixes old/new
    # footers across dirs — an explicit table-level read schema keeps the
    # multi-dir read deterministic and NULL-backfills pre-evolution files
    from .merge import _read_schema_sidecar

    reader = spark.read.option("basePath", table_path)
    sidecar_schema = _read_schema_sidecar(table_path)
    if sidecar_schema is not None:
        reader = reader.schema(sidecar_schema)
    df = reader.parquet(*touched)

    # dir → bucket count as a broadcast-joined plan (tiny map; the big
    # side shuffles once on partition cols + bucket)
    key = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(
                F.col(c).cast("string"), F.lit("__HIVE_DEFAULT_PARTITION__")
            )
            for c in partition_cols
        ],
    )
    sizes = spark.createDataFrame(
        [(_rel_to_key(rel), n) for rel, n in plan.items()],
        "part_key string, n_buckets int",
    )
    # The bucket MUST be deterministic per row: a nondeterministic draw
    # (rand) feeding a shuffle can lose/duplicate rows when a map task
    # retries with fresh draws. Hash the data columns instead.
    data_cols = [c for c in df.columns if c not in partition_cols]
    bucketed = (
        df.withColumn("_pk", key)
        .join(F.broadcast(sizes), F.col("_pk") == F.col("part_key"))
        .withColumn(
            "_bucket",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in data_cols]), F.col("n_buckets")
            ).cast("int"),
        )
        .drop("_pk", "part_key", "n_buckets")
    )
    tmp = f"{table_path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    (
        bucketed.repartition(*[F.col(c) for c in partition_cols], F.col("_bucket"))
        .drop("_bucket")
        .write.partitionBy(*partition_cols)
        .parquet(tmp)
    )
    # Defense in depth against the join-key/dir-key mismatch class: a
    # compaction rewrites exactly the planned dirs — if the tmp output
    # is missing any (rows were lost to a bad key) abort with the table
    # untouched rather than let the commit delete "empty" partitions.
    tmp_dirs = _partition_dirs(tmp)
    if tmp_dirs != set(plan):
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction output dirs {sorted(tmp_dirs)} != planned "
            f"{sorted(plan)}; aborting before any swap (table unchanged)"
        )
    commit.commit_partitions(table_path, tmp, plan)
    for rel in plan:
        after += len(_data_files(os.path.join(table_path, rel)))
    return {
        "dirs_touched": len(plan),
        "files_before": before,
        "files_after": after,
        "rewritten": True,
    }


def _rel_to_key(rel: str) -> str:
    """``col=a/col2=b`` dir path → the join key built from column
    values (unescape Spark's partition-value URL encoding)."""
    from urllib.parse import unquote

    vals = [unquote(seg.split("=", 1)[1]) for seg in rel.split(os.sep)]
    return "\x1f".join(vals)
