"""Multi-format source/sink layer: parquet, ORC, JSON-lines, CSV.

The reference has no file I/O at all (in-memory dicts/numpy,
similarity_search.py:268-271); this module is the engine's generic storage
boundary beyond the parquet fixture loaders (sources/tables.py).

Design rules encoded here (the ones that matter at 100 TB):

- **Schema is explicit on read** for the text formats: read them back
  with ``spark.read.schema(...)`` and the writer's options below. CSV/JSON
  schema inference runs an extra full pass over the data before the real
  job — at scale that's a second 100 TB scan. Columnar formats
  (parquet/ORC) carry their schema in file metadata.
- **Partitioned layout is the coarsest index.** ``partition_by`` writes
  ``col=value/`` directories; readers that filter on the partition column
  prune whole directories at planning time (asserted by plan test — the
  scan's PartitionFilters, not a row filter).
- **CSV cannot carry nested/array columns** — callers get an explicit
  error instead of a silently stringified column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FORMATS = ("parquet", "orc", "json", "csv")

# Write (and read-back) options per text format: ISO timestamps so
# round-trips are lossless at micro precision.
_CSV_OPTS = {
    "header": "true",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    # TIMESTAMP_NTZ columns (e.g. the events table's nanos-precision ts)
    # are governed by a SEPARATE option; without it the writer falls back
    # to millis and the round-trip silently truncates micros.
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}
_JSON_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def _has_nested(schema: T.StructType) -> bool:
    return any(
        isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        for f in schema.fields
    )


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    if fmt == "csv" and _has_nested(df.schema):
        raise ValueError(
            "CSV cannot represent nested/array columns; use parquet/orc/json"
        )
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "csv":
        w = w.options(**_CSV_OPTS)
    elif fmt == "json":
        w = w.options(**_JSON_OPTS)
    w.format(fmt).save(path)


def write_bucketed(
    df,
    table_name: str,
    bucket_cols: list[str],
    *,
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a BUCKETED managed table: rows are hash-partitioned into
    ``n_buckets`` files per partition by ``bucket_cols`` at WRITE time, so
    joins/aggregations on those columns read co-located data and skip the
    shuffle entirely — the pre-shuffle trade every large repeatedly-joined
    fact table should make (pay the shuffle once at write, never at read).
    Optional ``sort_cols`` pre-sorts within buckets (sort-merge join
    without the sort). Requires the session catalog (bucket metadata lives
    in the table catalog, not the parquet files)."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def write_sorted(
    df,
    path: str,
    sort_cols: list[str],
    *,
    n_files: int | None = None,
    mode: str = "overwrite",
    zone_map: bool = False,
) -> None:
    """Write parquet globally range-clustered on ``sort_cols``:
    ``repartitionByRange`` gives each output file a disjoint key range and
    ``sortWithinPartitions`` orders rows inside it, so every parquet
    row-group carries TIGHT min/max statistics on the sort key (zone
    maps). Readers with a selective predicate on that key then skip whole
    files (disjoint ranges) and whole row groups (footer stats) instead
    of scanning — the sorted-layout half of what Delta's OPTIMIZE ZORDER
    does, expressible on plain parquet for single-key (or prefix-ordered
    multi-key) predicates. Pay the sort once at write; every selective
    read afterwards touches O(matching row groups), not O(table)."""
    parts = df
    cols = [df[c] for c in sort_cols]
    if n_files is not None:
        parts = df.repartitionByRange(n_files, *cols)
    else:
        parts = df.repartitionByRange(*cols)
    parts.sortWithinPartitions(*cols).write.mode(mode).parquet(path)
    if zone_map:
        # commit-time stats sidecar: file-level pruning without footer
        # reads (sources/zonemap.py)
        from .zonemap import write_zone_map

        write_zone_map(path, sort_cols)


def write_zordered(
    df,
    path: str,
    z_cols: list[str],
    *,
    n_files: int = 8,
    bits: int | None = None,
    mode: str = "overwrite",
    zone_map: bool = False,
) -> None:
    """Write parquet Z-ORDER clustered on two-or-more numeric columns —
    the multi-dimensional half of Delta's OPTIMIZE ZORDER, on plain
    parquet. A single-key sort (write_sorted) gives tight zone maps on
    ONE column and useless ones on the rest; interleaving the bits of
    each column's normalized rank into a Morton (Z) value and
    range-clustering on THAT gives every file/row-group a small hyper-
    rectangle of the key space, so selective predicates on ANY of the
    z-columns skip most row groups via footer min/max stats.

    Normalization is a lazy per-column (min, max) aggregate crossJoined
    in (no driver-side pass): each column maps to a ``bits``-bit bucket,
    and the buckets' bits interleave into the sort key. All expression-
    level — one extra projection, then the same repartitionByRange +
    sortWithinPartitions write as write_sorted.

    ``bits`` defaults to the deepest interleave that fits a signed long
    (63 // n_cols, capped at 16); an explicit value is validated — a key
    wider than 63 bits would wrap into the sign bit / low positions and
    silently scramble the ordering."""
    if len(z_cols) < 2:
        raise ValueError("z-order needs >= 2 columns (use write_sorted for 1)")
    if bits is None:
        bits = min(16, 63 // len(z_cols))
    if bits < 1 or bits * len(z_cols) > 63:
        raise ValueError(
            f"bits={bits} with {len(z_cols)} columns needs "
            f"{bits * len(z_cols)} key bits; a signed long holds 63"
        )
    stats = df.agg(
        *[
            f
            for c in z_cols
            for f in (
                F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
            )
        ]
    )
    scaled = df.crossJoin(F.broadcast(stats))
    top = (1 << bits) - 1
    buckets = [
        F.least(
            F.lit(top),
            F.floor(
                (F.col(c).cast("double") - F.col(f"_lo_{c}"))
                / (
                    F.when(
                        F.col(f"_hi_{c}") > F.col(f"_lo_{c}"),
                        F.col(f"_hi_{c}") - F.col(f"_lo_{c}"),
                    ).otherwise(F.lit(1.0))
                )
                * top
            ).cast("long"),
        )
        for c in z_cols
    ]
    n = len(z_cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + d))
    zdf = scaled.withColumn("_z", z).drop(
        *[f"_lo_{c}" for c in z_cols], *[f"_hi_{c}" for c in z_cols]
    )
    (
        zdf.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
    if zone_map:
        from .zonemap import write_zone_map

        write_zone_map(path, z_cols)
