"""Snapshot versioning ("time travel lite") for swap-rewritten tables.

Delta/Iceberg keep every table version behind a transaction log; the
plain-parquet writers here (operators/merge.py) historically deleted the
previous snapshot at swap time. This module retains it instead: the old
snapshot's files move under ``<table>/_history/v{NNNNNN}/`` — an
underscore-prefixed directory, so Spark's file listing and partition
discovery ignore it for current-table reads (the same visibility trick
as the ANN index's ``_tombstones``) — giving

- ``read_version``: query the table AS OF any retained version,
- ``diff_summary(read_version(...), current)``: what did that merge
  actually change (operators/diff.py composes directly),
- bounded retention (``retain`` newest versions; older pruned at the
  next swap).

Crash honesty (extends ``commit.swap``'s contract): the swap itself
still has the documented park-and-rename window, undone by
``commit.recover``. Archiving happens strictly AFTER the new snapshot is
live (it is the swap's ``retire`` step); a crash mid-archive leaves the
old snapshot parked (``commit.parks``) and :func:`recover_history` (run
by versioned writers on entry) finishes moving it into ``_history``.
Data is never lost in any window; at worst a version is archived late.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from .. import commit

HISTORY_DIR = "_history"
_V_RE = re.compile(r"v(\d{6})$")


def _hist(table_path: str) -> str:
    return os.path.join(table_path.rstrip("/"), HISTORY_DIR)


def list_versions(table_path: str) -> list[int]:
    """Retained version numbers, oldest first (empty when none)."""
    d = _hist(table_path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        m = _V_RE.fullmatch(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_version(
    spark: SparkSession, table_path: str, version: int
) -> DataFrame:
    """The table AS OF ``version`` (see :func:`list_versions`)."""
    path = os.path.join(_hist(table_path), f"v{version:06d}")
    if not os.path.isdir(path):
        raise ValueError(
            f"version {version} not retained at {table_path} "
            f"(have {list_versions(table_path)})"
        )
    # sidecar-aware: an archived snapshot of a partition-pruned evolved
    # table carries its _table_schema.json; read it like the live table
    from .merge import read_table_snapshot

    return read_table_snapshot(spark, path)


def _hoist_history(table_path: str, park: str) -> None:
    """Move the park's own ``_history`` (it WAS the table) into the new
    table, so versions chain across swaps instead of nesting. MUST run
    before the next version number is computed: the new table has no
    history of its own until the hoist, so numbering first would restart
    at v1 and collide with (or mis-order against) the hoisted versions
    (round-4 review, verified by simulation)."""
    old_hist = os.path.join(park, HISTORY_DIR)
    new_hist = _hist(table_path)
    if os.path.isdir(old_hist):
        if os.path.isdir(new_hist):
            # both exist only in a crash-recovery replay: merge entries
            for name in os.listdir(old_hist):
                dst = os.path.join(new_hist, name)
                if not os.path.exists(dst):
                    os.rename(os.path.join(old_hist, name), dst)
            shutil.rmtree(old_hist, ignore_errors=True)
        else:
            os.rename(old_hist, new_hist)


def _archive_park(table_path: str, park: str) -> int:
    """Archive a parked previous snapshot as the next version under
    ``_history`` and return its number."""
    _hoist_history(table_path, park)
    versions = list_versions(table_path)
    version = (versions[-1] + 1) if versions else 1
    os.makedirs(_hist(table_path), exist_ok=True)
    os.rename(park, os.path.join(_hist(table_path), f"v{version:06d}"))
    return version


def recover_history(table_path: str) -> bool:
    """Finish an interrupted archive: if the table is live but parked
    snapshots remain (crash between swap and archive), move them into
    ``_history``. Returns True if anything was recovered. (A crash BEFORE
    the swap completed — table missing — is ``commit.recover``'s case,
    which writers run first.)"""
    if not os.path.isdir(table_path):
        return False
    parks = commit.parks(table_path)
    for park in parks:
        _archive_park(table_path, park)
    return bool(parks)


def archive_swap(
    table_path: str, new_path: str, *, retain: int = 5
) -> int:
    """``commit.swap`` that retains the previous snapshot as the next
    version under ``_history`` (pruned to the ``retain`` newest). Returns
    the version number the previous snapshot received.
    """
    if retain < 1:
        raise ValueError(f"retain must be >= 1, got {retain}")
    recover_history(table_path)
    archived = []

    def retire(park: str) -> None:
        archived.append(_archive_park(table_path, park))
        for v in list_versions(table_path)[:-retain]:
            shutil.rmtree(
                os.path.join(_hist(table_path), f"v{v:06d}"), ignore_errors=True
            )

    commit.swap(table_path, new_path, retire=retire)
    return archived[0]


def history_preserving_swap(table_path: str, new_path: str) -> None:
    """``commit.swap`` for REWRITES of a versioned table (compaction): the
    retained ``_history`` moves onto the new snapshot instead of dying
    with the old one; the previous snapshot itself is NOT archived — a
    compaction rewrite holds the same logical rows, so it is the same
    version. Crash honesty: the rename windows are ``commit.swap``'s
    (table briefly missing → parked copy intact, ``commit.recover``
    restores it); a crash AFTER the new snapshot is live but before park
    cleanup leaves the park with the history still inside, and
    :func:`recover_history` (run on entry by versioned writers,
    compaction, and :func:`vacuum_versions`) hoists the history back and
    archives the park as a version — conservative (a byte-identical
    version appears) but lossless; vacuum prunes it later."""

    def retire(park: str) -> None:
        _hoist_history(table_path, park)
        shutil.rmtree(park)

    commit.swap(table_path, new_path, retire=retire)


def vacuum_versions(table_path: str, *, keep_last: int) -> list[int]:
    """Retention-bounded version GC (round-9 VERDICT #6): delete
    archived versions under ``_history`` beyond the ``keep_last``
    newest — the missing half of the retention story (``archive_swap``
    prunes only at swap time, so a long-quiet table written with a
    large ``retain`` accumulates versions unboundedly). Returns the
    deleted version numbers, oldest first.

    Safety: REFUSES a mid-swap torn table (live dir missing while a
    parked snapshot exists — ``commit.recover``'s case): vacuuming
    around a torn swap could GC the only surviving
    lineage. A LIVE table with parked snapshots is first recovered
    (parks archived as versions, numbering completed) so retention
    counts them — recover-then-prune, never prune-around."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    if not os.path.isdir(table_path):
        parks = commit.parks(table_path)
        if parks:
            raise RuntimeError(
                f"table at {table_path} is mid-swap (live dir missing, "
                f"parked snapshot(s) {parks}); run commit.recover "
                "— every versioned writer does on entry — before "
                "vacuuming"
            )
        raise ValueError(f"no table at {table_path}")
    recover_history(table_path)
    versions = list_versions(table_path)
    doomed = versions[:-keep_last]
    for v in doomed:
        shutil.rmtree(os.path.join(_hist(table_path), f"v{v:06d}"))
    return doomed
