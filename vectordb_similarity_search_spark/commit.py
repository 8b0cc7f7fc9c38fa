"""How a write is published and how a crash is recovered — the one place.

Plain parquet has no transaction log, so every writer publishes by
renaming directories it wrote next to the live table. Five parts:

- :func:`swap` replaces a whole directory by two renames. The previous
  snapshot is parked at ``<live>__old_<8 hex>`` until the new one is in
  place, then handed to ``retire`` (deleted by default; versioned tables
  archive it). POSIX cannot exchange two directories atomically, so a
  crash between the renames leaves ``live`` missing with the previous
  snapshot intact under its park name; readers racing that window see a
  missing path, never a half-written table.
- :func:`commit_partitions` replaces a SET of partition directories. An
  O_EXCL pending marker in the table root names the staging directory,
  the partitions to replace and the partitions to delete; it is written
  before any live directory changes and removed after the last one has.
  The staging directory holds the full new state of every replaced
  partition, so a crash anywhere in between is finished, not undone.
- :func:`recover` runs at the entry of every writer: it restores the
  newest park of a missing ``live`` and rolls a pending partition commit
  forward. Its cost on a clean table is two ``stat`` calls — no
  directory walk.
- :func:`require_committed` runs at the entry of every reader of a
  partition-committed table and refuses while a pending marker exists.
  A reader never rolls forward itself: it cannot tell a crashed commit
  from one still in flight, and finishing a live writer's commit under
  it would race that writer.
- :func:`write_json` writes a sidecar atomically (tmp file, then
  ``os.replace``), so a crash leaves the previous sidecar or the new
  one, never torn JSON.

Every publish invalidates the cache entries over the published path in a
``finally`` (``cache.py``'s staleness contract), so a publish that fails
half-way leaves no entry pinning the old listing.

Contract: one writer per table path at a time. A second writer that
reaches a partition commit while another's marker is live is refused.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterable

from . import cache

PENDING = "_commit_pending.json"


def _move(src: str, dst: str) -> None:
    """Every directory move of a publish or a recovery goes through here."""
    os.rename(src, dst)


def parks(live: str) -> list[str]:
    """Parked previous snapshots of ``live``, oldest first."""
    return sorted(
        glob.glob(glob.escape(live.rstrip("/")) + "__old_*"), key=os.path.getmtime
    )


def swap(live: str, new: str, *, retire: Callable[[str], object] = shutil.rmtree) -> None:
    """Replace the directory ``live`` with ``new``: park ``live``, rename
    ``new`` into place, then ``retire(park)``."""
    park = f"{live.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
    try:
        _move(live, park)
        _move(new, live)
        retire(park)
    finally:
        cache.invalidate(live)


def commit_partitions(
    root: str, staged: str, replace: Iterable[str], delete: Iterable[str] = ()
) -> None:
    """Move the partition directories ``replace`` (paths relative to
    ``staged`` and ``root``, nested ``a=1/b=2`` allowed) from ``staged``
    into ``root``, replacing same-named ones, and remove the partitions
    ``delete`` from ``root``; ``staged`` is removed at the end."""
    pending = {
        "staging": os.path.relpath(staged, root),
        "replace": sorted(replace),
        "delete": sorted(delete),
    }
    try:
        fd = os.open(os.path.join(root, PENDING), os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError:
        # entry-time recovery consumed any crashed writer's marker, so a
        # marker here belongs to a live writer
        raise RuntimeError(
            f"concurrent commit detected at {root}: another writer's pending "
            "marker appeared mid-write. Tables are SINGLE-WRITER (serialize "
            "writes per table path); retry after the other writer finishes"
        ) from None
    with os.fdopen(fd, "w") as fh:
        json.dump(pending, fh)
    _roll_forward(root, pending)


def _roll_forward(root: str, pending: dict) -> None:
    """Apply a marked commit; every step is idempotent, so a commit
    interrupted anywhere is finished by running this again."""
    staged = os.path.join(root, pending["staging"])
    try:
        for name in pending["replace"]:
            src, dst = os.path.join(staged, name), os.path.join(root, name)
            if not os.path.isdir(src):
                continue  # moved before the interruption
            shutil.rmtree(dst, ignore_errors=True)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _move(src, dst)
        for name in pending["delete"]:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        shutil.rmtree(staged, ignore_errors=True)
        os.remove(os.path.join(root, PENDING))
    finally:
        cache.invalidate(root)


def recover(path: str) -> None:
    """Undo the window of a crashed :func:`swap` and finish a crashed
    :func:`commit_partitions` at ``path``."""
    if not os.path.exists(path):
        parked = parks(path)
        if not parked:
            return
        _move(parked[-1], path)
    marker = os.path.join(path, PENDING)
    if os.path.exists(marker):
        with open(marker) as fh:
            _roll_forward(path, json.load(fh))


def require_committed(path: str) -> None:
    """Raise ``RuntimeError`` while a partition commit at ``path`` is
    pending, so a reader never serves a batch half-applied."""
    if os.path.exists(os.path.join(path, PENDING)):
        raise RuntimeError(
            f"{path} has a pending partition commit ({PENDING}): a writer is "
            "publishing or crashed mid-commit; if no writer is running, "
            "commit.recover(path) finishes it"
        )


def write_json(path: str, obj) -> None:
    """Replace the JSON file ``path`` with ``obj`` atomically."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)
