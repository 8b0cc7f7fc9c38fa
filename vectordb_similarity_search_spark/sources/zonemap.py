"""File-level zone-map pruning: the READ side of the clustered writes.

``write_sorted`` / ``write_zordered`` (sources/io.py) lay data out so
every parquet file covers a small slice of the clustering key space —
tight per-file min/max footer statistics. Spark's own parquet reader
exploits those stats at ROW-GROUP granularity *after* it has opened each
file; this module prunes at FILE granularity *before* planning, the way
a lakehouse table format (Delta/Iceberg) prunes from min/max stats in
its transaction log. On a 100 TB z-ordered table a selective 2-column
predicate typically keeps a few percent of the files — pruning them at
listing time removes the per-file open/footer-read tasks entirely, not
just their row-group scans.

Metadata layer, honestly framed: collecting footer stats is O(files)
driver-side work. At lakehouse scale that information lives in a log
written INCREMENTALLY at commit time — so the sidecar here
(``_zonemap.json``, one small JSON per table, written once by
:func:`write_zone_map` right after the clustered write) is the moral
equivalent, and readers never re-open footers. Readers remain correct
without the sidecar (they fall back to footer collection) and remain
correct when files were APPENDED after the sidecar was written: unknown
files are conservatively kept (scanned), never skipped.

The reference engine holds its store in process memory
(similarity_search.py:268-271) and has no storage-skipping layer; this
is part of the from-scratch lakehouse surface the Spark engine needs.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import commit

SIDECAR = "_zonemap.json"

# Stats are trusted only for types whose JSON round-trip preserves
# ordering: ints, floats, and strings (parquet string stats may be
# truncated for long values — see _safe_str below). Anything else
# (timestamps, decimals, binary) is recorded as "no stats" and the file
# is conservatively kept.
_SCALARS = (int, float, str)


def _safe_stat(stats) -> tuple | None:
    """(min, max) if the footer carries order-exact stats, else None."""
    if stats is None or not stats.has_min_max:
        return None
    lo, hi = stats.min, stats.max
    if not (isinstance(lo, _SCALARS) and isinstance(hi, _SCALARS)):
        return None
    if isinstance(lo, bool) or isinstance(hi, bool):
        return None
    # Long string stats may be TRUNCATED by the writer; a truncated max
    # understates the true bound and would prune a file that matches.
    # Spark's default truncation threshold is far above this, so stats
    # this long are suspect — treat as absent.
    if isinstance(lo, str) and (len(lo) >= 1024 or len(hi) >= 1024):
        return None
    return (lo, hi)


def collect_zone_map(path: str, cols: list[str]) -> dict[str, dict]:
    """Per-file {col: [min, max]} from parquet footers (row-group stats
    folded to file level). Missing/untrusted stats are omitted — absence
    means "cannot prune on this column for this file"."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).path: i for i in range(md.num_columns)}
        per_col: dict[str, list] = {}
        for c in cols:
            if c not in names:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                s = _safe_stat(md.row_group(rg).column(names[c]).statistics)
                if s is None:
                    ok = False
                    break
                lo = s[0] if lo is None else min(lo, s[0])
                hi = s[1] if hi is None else max(hi, s[1])
            if ok and lo is not None:
                per_col[c] = [lo, hi]
        out[os.path.basename(f)] = per_col
    return out


def write_zone_map(path: str, cols: list[str]) -> str:
    """Persist the footer stats as the table's ``_zonemap.json`` sidecar
    (call once, right after a clustered write — the commit-time log entry
    of a real table format). Returns the sidecar path."""
    zm = collect_zone_map(path, cols)
    sidecar = os.path.join(path, SIDECAR)
    commit.write_json(sidecar, {"columns": cols, "files": zm})
    return sidecar


def read_zone_map(path: str) -> dict[str, dict] | None:
    sidecar = os.path.join(path, SIDECAR)
    if not os.path.exists(sidecar):
        return None
    with open(sidecar) as fh:
        return json.load(fh)["files"]


def prune_files(
    path: str,
    predicates: dict[str, tuple],
    *,
    zone_map: dict[str, dict] | None = None,
) -> tuple[list[str], int]:
    """Select the files that can satisfy ``predicates`` ({col: (lo, hi)},
    either bound may be None for half-open ranges). Returns
    (kept_file_paths, total_file_count).

    A file is skipped ONLY when some predicate column has trusted stats
    whose [min, max] does not intersect [lo, hi]; files without stats for
    a column, and files not present in the sidecar at all (appended after
    it was written), are kept. Pruning never affects correctness — the
    reader re-applies the predicate as a row filter."""
    all_files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    if zone_map is None:
        zone_map = read_zone_map(path)
    if zone_map is None:
        zone_map = collect_zone_map(path, list(predicates))
    kept = []
    for f in all_files:
        stats = zone_map.get(os.path.basename(f))
        if stats is None:
            kept.append(f)  # unknown file (e.g. appended): must scan
            continue
        keep = True
        for c, (lo, hi) in predicates.items():
            if c not in stats:
                continue  # no trusted stats: cannot prune on this column
            fmin, fmax = stats[c]
            if (hi is not None and fmin > hi) or (lo is not None and fmax < lo):
                keep = False
                break
        if keep:
            kept.append(f)
    return kept, len(all_files)


def pruned_scan(
    spark: SparkSession,
    path: str,
    predicates: dict[str, tuple],
    *,
    zone_map: dict[str, dict] | None = None,
) -> DataFrame:
    """Scan ``path`` reading ONLY the files whose zone-map interval
    intersects every predicate, then re-apply the predicates as row
    filters (file skipping is a superset screen, identical semantics to a
    full scan + filter; parity pinned in tests/test_zonemap.py). NULL
    rows never satisfy a range predicate, so skipping files whose kept
    rows would all be filtered anyway is sound."""
    kept, _total = prune_files(path, predicates, zone_map=zone_map)
    if kept:
        df = spark.read.parquet(*kept)
    else:
        schema = spark.read.parquet(path).schema
        df = spark.createDataFrame([], schema)
    for c, (lo, hi) in predicates.items():
        if lo is not None:
            df = df.filter(F.col(c) >= lo)
        if hi is not None:
            df = df.filter(F.col(c) <= hi)
    return df
