"""One cache layer for everything the engine builds once and serves many
times: lazy plans, fitted models, query parameters, persisted frames and
the offline indexes memoized on local disk.

Three stores, one staleness contract each.

**Session entries** (:func:`get`, :func:`invalidate`, :func:`clear`).
Values are keyed by ``(applicationId, kind, *key)``; the kinds in use are
``plan`` (registry plan handles), ``scan`` (fixture-table scans),
``index_scan`` (ANN/inverted-index and ledger scans), ``audit_scan``,
``model`` (fitted models and query parameters) and ``plan_stats``
(window-bucket bounds and per-bucket aggregates).

- What is cached is a LAZY plan or a driver-side parameter, never a result:
  every action on a cached DataFrame re-executes from its inputs. The win
  is build cost: ``spark.read.parquet`` runs a 1-task footer job per call,
  model fits run jobs, and a registry builder pays 0.3-1.3 s of py4j
  expression construction. Reusing them keeps a second build zero-job
  (tests/test_lazy_build.py).
- A new session has a new ``applicationId``; inserting an entry sweeps the
  entries of every other application, so a process that restarts sessions
  never pins plans into dead JVM contexts.
- A cached plan pins the file listing of what it reads, so every entry
  records the paths it reads: a table scan its table path, a registry plan
  or fitted model its ``sf_dir``, an index or ledger scan its directory.
  Every writer that changes a directory calls :func:`invalidate` on it
  after the change has landed, which drops every entry whose read path
  lies on, under or above the written path. The publishes of
  ``commit.py`` (snapshot swaps, partition commits) and the index
  writers invalidate in a ``finally``, so a write that fails half-way
  leaves no entry over the table. A rebuild
  that invalidated before its renames would let a plan built in between
  pin the old listing. Registry builders read only ``sf_dir`` and
  committed memo directories, and neither changes once written, so a write
  to an unrelated table keeps the registry plans.
- Audited streaming targets are live (appends land without a writer hook),
  so an ``audit_scan`` key also carries a fingerprint of the directory
  listing, and a new fingerprint replaces the old entry.
- A builder is pure in ``(spark, sf_dir)`` given fixed module state. The
  one runtime knob that reaches plan construction is
  ``ranking.DIMENSION_WINDOW_MAX_BYTES``; code that patches such a knob
  calls ``clear("plan")`` before and after. That drops plan handles but
  keeps fitted models, so the rebuilt plans still run zero jobs.

**Persisted frames** (:func:`persist`, :func:`discard`, :func:`release`).
One app-scoped :class:`PersistRegistry` for every operator that persists an
intermediate frame several plan branches consume; :func:`release` is the
single teardown hook for benches and drivers.

**Memo directories** (:func:`memo_dir`). Offline builds (ANN and text
indexes, streaming scenarios) are written once under
``tempfile.gettempdir()`` (so ``TMPDIR`` moves the memo root) as
``vss_<name>_<key>``. The key hashes the sources' absolute paths, mtimes
and sizes, the build parameters and a fingerprint of this package's
``.py`` sources, so regenerated inputs or changed code never get an old
build. A ``_DONE`` marker commits the directory; a directory without it is
removed and rebuilt.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable, Sequence
from typing import Any

from pyspark.sql import DataFrame

from .session import package_py_files

# (applicationId, kind, *key) -> (value, normalized paths the value reads)
_ENTRIES: dict[tuple, tuple[Any, tuple[str, ...]]] = {}


def _overlaps(a: str, b: str) -> bool:
    """Same path, or one under the other at a path-component boundary."""
    return a == b or a.startswith(b + "/") or b.startswith(a + "/")


def get(spark, kind: str, *key, build: Callable[[], Any], reads: Iterable[str] = ()) -> Any:
    """The session's cached value for ``(kind, *key)``, built on a miss
    with ``build()`` and recorded as reading ``reads``."""
    app = spark.sparkContext.applicationId
    full = (app, kind, *key)
    hit = _ENTRIES.get(full)
    if hit is None:
        value = build()
        for k in [k for k in _ENTRIES if k[0] != app]:
            del _ENTRIES[k]
        hit = _ENTRIES[full] = (value, tuple(os.path.abspath(p) for p in reads))
    return hit[0]


def invalidate(path: str) -> None:
    """Drop every entry that reads ``path``, a path under it or above it."""
    p = os.path.abspath(path)
    for k in [k for k, (_, reads) in _ENTRIES.items() if any(_overlaps(p, r) for r in reads)]:
        del _ENTRIES[k]


def clear(kind: str, *key) -> None:
    """Drop the entries of ``kind`` whose key starts with ``key``."""
    n = len(key)
    for k in [k for k in _ENTRIES if k[1] == kind and k[2 : 2 + n] == key]:
        del _ENTRIES[k]


class PersistRegistry:
    """App-scoped registry of persisted DataFrames.

    Rebuilding a semantically equal plan in the same session returns the
    ALREADY-registered handle (Spark's CacheManager dedupes the cached
    data anyway — reusing the Python handle keeps the registry bounded by
    the number of DISTINCT cached plans, not the number of builds), and
    ``release()`` lets teardowns free everything.

    Hit verification: entries are bucketed by the cheap
    ``(applicationId, semanticHash, schema)`` key, but ``semanticHash``
    is a 32-bit digest, so a bucket hit is CONFIRMED with the public
    ``DataFrame.sameSemantics`` check (canonicalized-plan equality)
    before the cached handle is returned — two different plans that
    collide on the 32-bit hash coexist in one bucket instead of aliasing.
    """

    def __init__(self) -> None:
        self._frames: dict[tuple, list[DataFrame]] = {}

    def persist(self, df: DataFrame) -> DataFrame:
        app = df.sparkSession.sparkContext.applicationId
        for k in [k for k in self._frames if k[0] != app]:
            self._frames.pop(k)  # dead sessions: JVM cache died with them
        key = (app, df.semanticHash(), str(df.schema))
        for cached in self._frames.get(key, []):
            if df.sameSemantics(cached):
                return cached
        df = df.persist()
        self._frames.setdefault(key, []).append(df)
        return df

    def discard(self, df: DataFrame) -> bool:
        """Unpersist + deregister ONE frame (matched by Python identity).
        For serving loops that persist speculative rounds and keep only
        the terminal one — interim rounds must leave the registry, or it
        regrows per call. Returns True when the frame was registered."""
        for key, frames in list(self._frames.items()):
            for i, frame in enumerate(frames):
                if frame is df:
                    frames.pop(i)
                    if not frames:
                        del self._frames[key]
                    try:
                        df.unpersist()
                    except Exception:
                        pass
                    return True
        return False

    def release(self) -> int:
        """Unpersist every registered DataFrame; returns count."""
        n = 0
        for frames in self._frames.values():
            for frame in frames:
                try:
                    frame.unpersist()
                    n += 1
                except Exception:
                    pass
        self._frames.clear()
        return n

    def __len__(self) -> int:
        return len(self._frames)


PERSISTED = PersistRegistry()
persist = PERSISTED.persist
discard = PERSISTED.discard
release = PERSISTED.release


@functools.cache
def code_fingerprint() -> str:
    """Digest of every ``.py`` source of this package (path and bytes)."""
    h = hashlib.md5()
    for full, rel in sorted(package_py_files(), key=lambda f: f[1]):
        h.update(rel.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def memo_dir(name: str, sources: Sequence[str], *params, build: Callable[[str], None]) -> str:
    """Directory ``vss_<name>_<key>`` under the temp root holding the
    committed output of ``build(dir)``; built on first use."""
    parts = []
    for src in sources:
        st = os.stat(src)
        parts.append(f"{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}")
    parts += [repr(p) for p in params]
    parts.append(code_fingerprint())
    key = hashlib.md5("|".join(parts).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"vss_{name}_{key}")
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)  # half-built: rebuild
        os.makedirs(path)
        build(path)
        invalidate(path)
        with open(done, "w"):  # creating an empty file is atomic
            pass
    return path
