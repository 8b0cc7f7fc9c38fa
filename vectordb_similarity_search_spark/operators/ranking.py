"""Distributed global ranking — ``row_number`` over a total order WITHOUT
a single-reducer sort, plus the token-balanced shard assignment built on it.

Why this exists: ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY
compiles to a single-partition Exchange — the entire table funnels through
one task. Fine at fixture scale, a wall at 100 TB. ``global_row_number``
produces the identical ranks with bounded per-task state:

1. one stats pass computes approximate quantiles of the leading sort key
   (``percentile_approx`` — deterministic for a given dataset, unlike
   ``repartitionByRange``'s random sampling, so recomputations of the plan
   agree on bucket assignment without a persist);
2. every row gets a bucket from those bounds via a pure expression —
   rows EQUAL on the leading key always share a bucket, so bucket order
   extends to the full sort order;
3. one exchange on the bucket id; ``row_number`` runs per bucket;
4. per-bucket counts (a tiny aggregate, ≤ ``buckets`` rows) are collected
   and turned into cumulative offsets shipped back as a literal map —
   global rank = bucket offset + local rank.

The shuffle carries only the projected frame (callers should select the
key/payload columns they need first — for shard planning that is two
columns, ~16 bytes/row). Skew caveat: a leading-key value heavier than
``rows/buckets`` concentrates in one bucket (ties cannot be split without
breaking rank correctness); pick a high-cardinality leading key.

Build cost: two tiny driver jobs over the projected frame (quantile stats,
bucket counts) before the ranked plan itself — an OFFLINE planning
primitive like ``measure_key_skew``, not a serving-path operator; callers
on the hot path should reuse the returned frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cache, commit


def persist_dimension_frame(df: DataFrame) -> DataFrame:
    """Persist (app-scoped, released by :func:`cache.release`) a
    dimension aggregate that a ROUTED dimension-global plan is about to
    consume several times. The bucketed machinery makes multiple passes
    (rank quantiles, bucket counts, cumsum quantiles/sums, the final plan,
    scalar aggregates) — without this, each pass re-runs the aggregate's
    whole subtree from the fact-table scan, and the routed branch only
    fires when that subtree is HUGE. Spark's CacheManager matches any
    semantically-equal subplan, so every consumer built over the same
    aggregate hits the one cache."""
    return cache.persist(df)


def _bucket_expr(key: Column, bounds: list, *, descending: bool) -> Column:
    """0-based bucket index in SORT order: number of quantile bounds the
    row has passed. Equal keys → equal bucket, always.

    Physical form: for the usual bucket counts a flat WHEN-sum — plain
    whole-stage-codegen comparisons (HOF lambdas are interpreted,
    round-1 lesson; this expression runs once per FACT row in
    r_equidepth_histogram). Past 48 bounds fall back to the aggregate
    fold: a wider unrolled chain risks the 64-term JIT-inlining cliff
    (round-1 lesson #3) and plan bloat."""
    cmp = (lambda b: key < b) if descending else (lambda b: key > b)
    if len(bounds) <= 48:
        expr: Column = F.lit(0)
        for b in bounds:
            expr = expr + F.when(cmp(F.lit(b)), F.lit(1)).otherwise(F.lit(0))
        return expr
    arr = F.array(*[F.lit(b) for b in bounds])
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc + F.when(cmp(b), F.lit(1)).otherwise(F.lit(0)),
    )


def global_row_number(
    df: DataFrame,
    keys: list[str],
    *,
    descending: list[bool] | None = None,
    buckets: int = 32,
    col_name: str = "rn",
    persist: bool = False,
    memo_key: tuple | None = None,
) -> DataFrame:
    """Append 1-based global ``row_number`` under the total order given by
    ``keys``/``descending`` — identical output to a bare
    ``row_number() OVER (ORDER BY ...)``, but P-way parallel
    (tests/test_ranking.py pins the parity and the no-single-exchange plan).

    ``keys`` must form a total order (ties make ranks nondeterministic in
    ANY engine); the leading key drives bucketing, the rest break ties.

    ``persist=True`` caches the input frame across the three consumers
    (quantile stats, bucket counts, the ranked plan itself) — pass it when
    ``df`` is derived by non-trivial work (e.g. tokenizing text), so the
    derivation runs once, not three times. The cache is the PROJECTED
    frame the caller built (keys + payload), not the source table; it
    stays session-lived like the other per-session memos. Correctness
    never depends on it: bucket assignment is a pure function of the row.

    ``memo_key``: stable identity of the input whose first element is
    the path it reads (e.g. ``(sf_dir,)``) — when given, the planning artifacts (bounds, offsets, total count)
    memoize per session so a REBUILD of the same plan runs zero driver
    jobs (the lazy-build contract catalog queries follow). Callers
    mutating the underlying data between builds must not pass it.
    """
    return _global_rank(
        df,
        keys,
        descending=descending,
        buckets=buckets,
        col_name=col_name,
        persist=persist,
        memo_key=memo_key,
    )[0]


def _global_rank(
    df: DataFrame,
    keys: list[str],
    *,
    descending: list[bool] | None = None,
    buckets: int = 32,
    col_name: str = "rn",
    persist: bool = False,
    memo_key: tuple | None = None,
) -> tuple[DataFrame, int]:
    """Core of :func:`global_row_number`; also returns the TOTAL row count
    (a free by-product of the per-bucket count pass), which
    :func:`global_ntile` needs to replay exact SQL ntile semantics without
    an extra job or a single-partition count window."""
    if not keys:
        raise ValueError("keys must name at least one order column")
    desc = descending or [False] * len(keys)
    if len(desc) != len(keys):
        raise ValueError("descending must match keys length")
    if persist:
        df = cache.persist(df)

    k0 = F.col(keys[0])

    def _bucket_of(bounds: list) -> Column:
        if not bounds:  # constant/empty leading key: one bucket
            nonnull = F.lit(0)
        else:
            nonnull = _bucket_expr(k0, bounds, descending=desc[0])
        # NULL leading keys sort FIRST under asc and LAST under desc in
        # Spark's default ordering; the bucket must agree or ranks break
        # bit-parity with the single-window form (tests pin both)
        null_bucket = F.lit(len(bounds)) if desc[0] else F.lit(-1)
        return F.when(k0.isNull(), null_bucket).otherwise(nonnull)

    def plan_stats() -> tuple[list, dict[int, int], int]:
        fracs = [i / buckets for i in range(1, buckets)]
        row = df.select(
            F.percentile_approx(keys[0], fracs, 10_000).alias("q")
        ).first()
        qs = row["q"] or []
        # dedupe (heavy ties collapse adjacent quantiles) and order the
        # bounds in SORT direction so bucket index increases along the
        # output order
        bounds = sorted(set(qs), reverse=desc[0])
        counts = {
            r["_grn_bucket"]: r["n"]
            for r in df.withColumn("_grn_bucket", _bucket_of(bounds))
            .groupBy("_grn_bucket")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        offsets = {}
        acc = 0
        for b in sorted(counts):
            offsets[b] = acc
            acc += counts[b]
        return bounds, offsets, acc

    # the SECOND build of a rank-backed catalog query must run zero jobs
    # (tests/test_lazy_build.py), so a caller-keyed input memoizes its
    # planning artifacts for the session; ad-hoc frames have no stable
    # identity to key on
    if memo_key is None:
        bounds, offsets, total = plan_stats()
    else:
        bounds, offsets, total = cache.get(
            df.sparkSession, "plan_stats", tuple(keys), tuple(desc), buckets, *memo_key,
            reads=memo_key[:1], build=plan_stats,
        )

    bucketed = df.withColumn("_grn_bucket", _bucket_of(bounds))
    if offsets:
        off_map = F.create_map(*[F.lit(x) for bo in offsets.items() for x in bo])
        offset = F.coalesce(
            F.element_at(off_map, F.col("_grn_bucket")), F.lit(0)
        )
    else:  # empty input: no offsets to add
        offset = F.lit(0)

    order = [
        F.col(k).desc() if d else F.col(k).asc() for k, d in zip(keys, desc)
    ]
    w = Window.partitionBy("_grn_bucket").orderBy(*order)
    ranked = (
        bucketed.withColumn(
            col_name,
            (F.row_number().over(w) + offset).cast("long"),
        )
        .drop("_grn_bucket")
    )
    return ranked, total


def global_ntile(
    df: DataFrame,
    n_tiles: int,
    keys: list[str],
    *,
    descending: list[bool] | None = None,
    buckets: int = 32,
    col_name: str = "tile",
    persist: bool = False,
    memo_key: tuple | None = None,
) -> DataFrame:
    """Append SQL-standard ``ntile(n_tiles)`` under the total order given
    by ``keys``/``descending`` — bit-identical to
    ``ntile(n) OVER (ORDER BY ...)`` (tests/test_ranking.py pins parity
    against the single-window form), but WITHOUT its SinglePartition sort
    exchange: ranks come from :func:`global_row_number` and the tile is
    pure arithmetic on (rank, total).

    SQL ntile semantics replayed exactly: with ``n`` rows and ``k`` tiles,
    ``q, rem = divmod(n, k)`` — the first ``rem`` tiles hold ``q + 1``
    rows, the rest ``q`` (both Spark and DuckDB implement this form). The
    total ``n`` is a free by-product of the rank's per-bucket count pass,
    so no extra job, no ``count() OVER ()`` single-partition window.

    ``keys`` must form a TOTAL order: ntile over a non-total order is
    nondeterministic in any engine (ties split across tile boundaries in
    whatever order the sort emitted), so catalog queries always add a key
    column as the final tie-break.
    """
    if n_tiles < 1:
        raise ValueError("n_tiles must be >= 1")
    ranked, n = _global_rank(
        df,
        keys,
        descending=descending,
        buckets=buckets,
        col_name="_gnt_rn",
        persist=persist,
        memo_key=memo_key,
    )
    rn = F.col("_gnt_rn")
    q, rem = divmod(n, n_tiles)
    if q == 0:
        # fewer rows than tiles: row r lands alone in tile r
        tile = rn
    else:
        cut = rem * (q + 1)
        tile = F.when(
            rn <= F.lit(cut),
            F.floor((rn - 1) / F.lit(q + 1)) + 1,
        ).otherwise(F.lit(rem) + F.floor((rn - F.lit(cut) - 1) / F.lit(q)) + 1)
    return ranked.withColumn(col_name, tile.cast("int")).drop("_gnt_rn")


def snake_shards(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    n_shards: int,
    *,
    buckets: int = 32,
    col_name: str = "shard",
    persist: bool = False,
    memo_key: tuple | None = None,
) -> DataFrame:
    """Weight-balanced shard assignment (training-shard planning): rank rows
    by ``weight_col`` DESC (``id_col`` breaks ties), then deal ranks into
    ``n_shards`` boustrophedon ("snake") order — shard 0..N-1 forward on even
    blocks, N-1..0 backward on odd blocks. For heavy-tailed weights this is
    the classic one-pass approximation to longest-processing-time balancing:
    every shard receives exactly one row per block, alternating which shard
    gets the block's heaviest row.

    Rank comes from :func:`global_row_number`, so the only wide exchange is
    the bucketed (projected) frame — no single-reducer sort. The caller
    joins the (id, shard) result back to the full-width table; shuffling
    document text through the rank was never needed.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    ranked = global_row_number(
        df.select(id_col, weight_col),
        [weight_col, id_col],
        descending=[True, False],
        buckets=buckets,
        col_name="_rank",
        persist=persist,
        memo_key=memo_key,
    )
    block = ((F.col("_rank") - 1) / n_shards).cast("long")
    pos = ((F.col("_rank") - 1) % n_shards).cast("long")
    shard = F.when(block % 2 == 0, pos).otherwise(n_shards - 1 - pos)
    return ranked.withColumn(col_name, shard.cast("int")).drop("_rank")


def write_training_shards(
    df: DataFrame,
    path: str,
    weight_col: str,
    id_col: str,
    n_shards: int,
    *,
    buckets: int = 32,
    mode: str = "overwrite",
) -> list[dict]:
    """Materialize the :func:`snake_shards` plan: write ``df`` as
    ``shard=K`` hive directories with EXACTLY ONE parquet file per shard
    (each shard's rows are co-located by a shard-keyed repartition before
    ``partitionBy``), plus a ``_shard_manifest.json`` sidecar recording
    per-shard row counts and weight mass — the file-per-shard layout
    training loaders consume, with the manifest standing in for a listing
    pass.

    Data movement: the rank runs on the projected (id, weight) frame
    (persisted — see :func:`global_row_number`); the full-width payload
    moves exactly twice — the assignment join's id-hash exchange and the
    shard-keyed exchange feeding the write. Returns the manifest rows.

    The manifest is written AFTER the parquet commit (commit-marker
    pattern shared with the inverted index's ``_meta.json``): a reader
    that requires the manifest never sees half-written shards.
    """
    import os

    from pyspark.sql.functions import col

    if mode != "overwrite":
        # append would stack a second file into each shard=K dir and the
        # manifest would describe only the new rows — both violate the
        # layout contract readers rely on
        raise ValueError(
            "write_training_shards writes a complete layout; mode="
            f"{mode!r} is not supported (re-shard the unioned input)"
        )
    # persist the RANKED assignment (not just the input projection): the
    # write join and the manifest stats both consume it, so the bucketed
    # exchange + per-bucket row_number run once, not twice. Both caches
    # are released after the last consumer (the stats collect) — a write
    # is a one-shot operation, not a session-lived query build, so
    # leaving them pinned would leak executor memory across repeated
    # shard writes in one process.
    proj = df.select(id_col, weight_col).persist()
    assigned = snake_shards(
        proj,
        weight_col,
        id_col,
        n_shards,
        buckets=buckets,
    ).persist()
    full = df.join(assigned.select(id_col, "shard"), id_col)
    (
        full.repartition(n_shards, col("shard"))
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
    # stats come from the narrow assignment frame (its persisted
    # projection), not another scan of the full-width table
    stats = (
        assigned.groupBy("shard")
        .agg(
            F.count("*").alias("rows"),
            F.sum(weight_col).alias("weight"),
        )
        .collect()
    )
    assigned.unpersist()
    proj.unpersist()

    def _num(x):
        return int(x) if float(x).is_integer() else float(x)

    manifest = sorted(
        (
            {
                "shard": int(r["shard"]),
                "rows": int(r["rows"]),
                "weight": _num(r["weight"]),
            }
            for r in stats
        ),
        key=lambda m: m["shard"],
    )
    sidecar = {
        "n_shards": n_shards,
        "weight_col": weight_col,
        "id_col": id_col,
        "total_rows": sum(m["rows"] for m in manifest),
        "total_weight": sum(m["weight"] for m in manifest),
        "shards": manifest,
    }
    commit.write_json(os.path.join(path, "_shard_manifest.json"), sidecar)
    return manifest


# ---------------------------------------------------------------------------
# Auto-routed dimension-global windows (round-5 VERDICT #6). An ORDER BY
# window with no PARTITION BY plans a SinglePartition sort exchange — the
# right plan while the frame is a per-entity AGGREGATE far smaller than the
# fact table, a one-reducer straggler once the dimension itself is huge
# (billions of users/customers at 100 TB). The auto_* forms keep the plain
# single-window plan below a Catalyst size estimate and transparently
# reroute onto the bucketed global machinery past it; both branches are
# bit-identical under a TOTAL order (pinned in tests/test_ranking.py).
# ---------------------------------------------------------------------------
DIMENSION_WINDOW_MAX_BYTES = 256 << 20


def estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for the frame's optimized plan — a
    pure driver-side statistic (scan file sizes propagated through
    operator heuristics; no Spark job runs)."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _order_cols(keys: list[str], descending: list[bool] | None) -> list[Column]:
    desc = descending or [False] * len(keys)
    if len(desc) != len(keys):
        raise ValueError("descending must match keys length")
    return [
        F.col(k).desc() if d else F.col(k).asc() for k, d in zip(keys, desc)
    ]


def auto_row_number(
    df: DataFrame,
    keys: list[str],
    *,
    descending: list[bool] | None = None,
    col_name: str = "rn",
    buckets: int = 32,
    max_bytes: int | None = None,
) -> DataFrame:
    """1-based global row_number under the total order ``keys``/
    ``descending`` (LongType in both branches): the plain single-window
    plan below the size estimate, :func:`global_row_number` past it."""
    limit = DIMENSION_WINDOW_MAX_BYTES if max_bytes is None else max_bytes
    if estimated_plan_bytes(df) <= limit:
        w = Window.orderBy(*_order_cols(keys, descending))
        return df.withColumn(col_name, F.row_number().over(w).cast("long"))
    return global_row_number(
        df, keys, descending=descending, buckets=buckets, col_name=col_name
    )


def global_cumsum(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    *,
    descending: list[bool] | None = None,
    buckets: int = 32,
    col_name: str = "cumsum",
) -> DataFrame:
    """Running ``sum(value_col)`` under the total order ``keys`` —
    identical to ``sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``
    but without its SinglePartition exchange: the same quantile-bucket
    scheme as :func:`global_row_number`, with per-bucket SUM offsets
    (collected P rows, exact Decimal/int arithmetic) added to a
    within-bucket running sum."""
    if not keys:
        raise ValueError("keys must name at least one order column")
    desc = descending or [False] * len(keys)
    k0 = F.col(keys[0])

    fracs = [i / buckets for i in range(1, buckets)]
    row = df.select(
        F.percentile_approx(keys[0], fracs, 10_000).alias("q")
    ).first()
    bounds = sorted(set(row["q"] or []), reverse=desc[0])

    def _bucket_of() -> Column:
        nonnull = (
            F.lit(0) if not bounds
            else _bucket_expr(k0, bounds, descending=desc[0])
        )
        null_bucket = F.lit(len(bounds)) if desc[0] else F.lit(-1)
        return F.when(k0.isNull(), null_bucket).otherwise(nonnull)

    sums = {
        r["_gcs_bucket"]: r["s"]
        for r in df.withColumn("_gcs_bucket", _bucket_of())
        .groupBy("_gcs_bucket")
        .agg(F.sum(value_col).alias("s"))
        .collect()
    }
    offsets, acc = {}, None
    for b in sorted(sums):
        offsets[b] = acc
        s = sums[b]  # None when every value in the bucket is NULL
        if s is not None:
            acc = s if acc is None else acc + s

    bucketed = df.withColumn("_gcs_bucket", _bucket_of())
    # exact literals (Decimal stays Decimal, int stays int); buckets with
    # no predecessor add nothing
    nonnull_offsets = {b: v for b, v in offsets.items() if v is not None}
    if nonnull_offsets:
        off_map = F.create_map(
            *[F.lit(x) for bo in nonnull_offsets.items() for x in bo]
        )
        offset = F.element_at(off_map, F.col("_gcs_bucket"))
    else:
        offset = F.lit(None)
    w = Window.partitionBy("_gcs_bucket").orderBy(
        *_order_cols(keys, descending)
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = F.sum(value_col).over(w)
    # SQL running-sum NULL semantics: NULL values contribute nothing, and
    # the result is NULL only while NO non-null value has been seen yet —
    # across buckets too (running NULL + non-null offset = the offset)
    out = bucketed.withColumn(
        col_name,
        F.when(offset.isNull(), running)
        .when(running.isNull(), offset)
        .otherwise(running + offset),
    ).drop("_gcs_bucket")
    # match the single-window result type exactly (sum over decimal(p,s)
    # widens to decimal(p+10,s); running + offset widens once more)
    want = df.select(
        F.sum(value_col).over(
            Window.orderBy(*_order_cols(keys, descending)).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).alias("_t")
    ).schema["_t"].dataType
    return out.withColumn(col_name, F.col(col_name).cast(want))


def auto_cumsum(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    *,
    descending: list[bool] | None = None,
    col_name: str = "cumsum",
    buckets: int = 32,
    max_bytes: int | None = None,
) -> DataFrame:
    """Running sum under a total order: plain single-window plan below
    the size estimate, :func:`global_cumsum` past it."""
    limit = DIMENSION_WINDOW_MAX_BYTES if max_bytes is None else max_bytes
    if estimated_plan_bytes(df) <= limit:
        w = Window.orderBy(*_order_cols(keys, descending)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return df.withColumn(col_name, F.sum(value_col).over(w))
    return global_cumsum(
        df, value_col, keys,
        descending=descending, buckets=buckets, col_name=col_name,
    )


def grouped_cumsum(
    df: DataFrame,
    value_col: str,
    grp_cols: list[str],
    order_col: str,
    *,
    buckets: int = 32,
    col_name: str = "cumsum",
) -> DataFrame:
    """Per-group running ``sum(value_col)`` ordered by ``order_col`` —
    identical to ``sum(v) OVER (PARTITION BY grp ORDER BY o ROWS
    UNBOUNDED PRECEDING)`` — WITHOUT a per-group row-sized sort: the
    plain window hashes every row of a group onto one reducer, so a
    BOUNDED-cardinality group column (k order priorities, k regions)
    funnels the whole table through ≤k tasks at 100 TB. Here the window
    partitions on (group, quantile-bucket of ``order_col``) instead —
    k·``buckets`` sorts of ~1/buckets of a group each — and per-(group,
    bucket) exclusive-prefix SUM offsets (one tiny collected aggregate,
    ≤ k·buckets rows, exact int/Decimal arithmetic) are broadcast-joined
    back on top of the within-bucket running sum.

    Contract: rows must be UNIQUE on (``grp_cols``, ``order_col``) — the
    caller aggregates ties first (a (grp, value)-distinct counts frame,
    the r_mann_whitney shape), which any rank/midrank derivation needs
    anyway. Group cardinality must be bounded (the offsets frame is
    collected); high-cardinality groups don't need this machinery — the
    plain per-group window already spreads across reducers. NULL order
    keys sort FIRST (Spark ASC default), matching the plain window."""
    if not grp_cols:
        raise ValueError("grp_cols must name at least one group column")
    ok = F.col(order_col)

    fracs = [i / buckets for i in range(1, buckets)]
    row = df.select(
        F.percentile_approx(order_col, fracs, 10_000).alias("q")
    ).first()
    bounds = sorted(set(row["q"] or []))
    nonnull = (
        F.lit(0) if not bounds else _bucket_expr(ok, bounds, descending=False)
    )
    bucketed = df.withColumn(
        "_grc_bucket", F.when(ok.isNull(), F.lit(-1)).otherwise(nonnull)
    )

    # per-(group, bucket) totals -> exclusive prefix offsets within each
    # group, shipped back as a broadcast frame (≤ |groups|·buckets rows)
    spark = df.sparkSession
    totals = (
        bucketed.groupBy(*grp_cols, "_grc_bucket")
        .agg(F.sum(value_col).alias("_grc_sum"))
        .collect()
    )
    by_grp: dict[tuple, list] = {}
    for r in totals:
        by_grp.setdefault(tuple(r[g] for g in grp_cols), []).append(
            (r["_grc_bucket"], r["_grc_sum"])
        )
    off_rows = []
    for gkey, lst in by_grp.items():
        acc = None
        for b, s in sorted(lst, key=lambda t: t[0]):
            if acc is not None:
                off_rows.append((*gkey, b, acc))
            if s is not None:
                acc = s if acc is None else acc + s
    # offset dtype: match what sum(value_col) widens to (Decimal scale,
    # long for ints) by reusing the aggregate's own schema
    sum_type = (
        df.select(F.sum(value_col).alias("_t")).schema["_t"].dataType
    )
    grp_fields = [df.schema[g] for g in grp_cols]
    off_schema = T.StructType(
        [
            *grp_fields,
            T.StructField("_grc_bucket", T.IntegerType()),
            T.StructField("_grc_offset", sum_type),
        ]
    )
    offsets = spark.createDataFrame(off_rows, off_schema)

    w = Window.partitionBy(*grp_cols, "_grc_bucket").orderBy(
        ok.asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = F.sum(value_col).over(w)
    joined = bucketed.withColumn("_grc_bucket", F.col("_grc_bucket").cast("int")).join(
        F.broadcast(offsets), [*grp_cols, "_grc_bucket"], "left"
    )
    off = F.col("_grc_offset")
    out = joined.withColumn(
        col_name,
        F.when(off.isNull(), running)
        .when(running.isNull(), off)
        .otherwise(running + off),
    ).drop("_grc_bucket", "_grc_offset")
    # match the plain-window result type exactly (sum + offset may widen)
    want = df.select(
        F.sum(value_col).over(
            Window.partitionBy(*grp_cols).orderBy(ok.asc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).alias("_t")
    ).schema["_t"].dataType
    return out.withColumn(col_name, F.col(col_name).cast(want))


def grouped_rolling(
    df: DataFrame,
    grp_cols: list[str],
    order_cols: list[str],
    lookback: int,
    *,
    buckets: int = 32,
    max_bytes: int | None = None,
) -> tuple[DataFrame, "WindowSpec", Column]:  # noqa: F821
    """Trailing ``ROWS BETWEEN lookback PRECEDING AND 1 PRECEDING``
    frames over COARSE series (a handful of event types / sensors)
    without funneling each series through one reducer: returns
    ``(frame, window_spec, keep)`` — build the rolling aggregates over
    ``window_spec`` on ``frame``, then filter with ``keep``.

    Below the size estimate this is the plain per-group window. Past it,
    rows are quantile-bucketed on the leading order column and every
    real row's ``lookback`` predecessors are made PRESENT in its
    (group, bucket) partition by duplicating exact predecessor tails as
    flagged HALO rows: per (group, destination-bucket) the driver walks
    the collected per-(group, bucket) row counts (a ≤|groups|·buckets
    frame) backwards, taking the tail of each earlier bucket until
    ``lookback`` rows are covered — so thin buckets cascade correctly.
    Halo rows feed frames only; ``keep`` drops them from the output.
    Frame contents are identical row-for-row to the plain window's, so
    aggregates (including float ones) are bit-identical — pinned in
    tests/test_ranking.py.

    Ordering contract: ``order_cols`` ascending, leading column numeric
    or timestamp (bucket bounds come from ``percentile_approx``); rows
    equal on the LEADING column always share a bucket, and the full
    ``order_cols`` tuple must be a total order within each group."""
    if lookback < 1:
        raise ValueError(f"lookback must be >= 1, got {lookback}")
    limit = DIMENSION_WINDOW_MAX_BYTES if max_bytes is None else max_bytes
    keep_all = F.lit(True)
    if estimated_plan_bytes(df) <= limit:
        w = Window.partitionBy(*grp_cols).orderBy(
            *[F.col(c).asc() for c in order_cols]
        ).rowsBetween(-lookback, -1)
        return df, w, keep_all

    lead = order_cols[0]
    dtype = df.schema[lead].dataType.simpleString()
    key = (
        F.unix_micros(F.col(lead)) if dtype == "timestamp" else F.col(lead)
    )
    fracs = [i / buckets for i in range(1, buckets)]
    row = df.select(
        F.percentile_approx(key, fracs, 10_000).alias("q")
    ).first()
    bounds = sorted(set(row["q"] or []))
    bexpr = (
        F.lit(0) if not bounds else _bucket_expr(key, bounds, descending=False)
    )
    base = df.withColumn(
        "_grw_bucket",
        F.when(key.isNull(), F.lit(-1)).otherwise(bexpr).cast("int"),
    ).withColumn("_grw_halo", F.lit(False))

    counts = (
        base.groupBy(*grp_cols, "_grw_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    by_grp: dict[tuple, list[tuple[int, int]]] = {}
    for r in counts:
        by_grp.setdefault(tuple(r[g] for g in grp_cols), []).append(
            (r["_grw_bucket"], r["_n"])
        )
    # (grp..., src_bucket, dst_bucket, take_last_k): nearest-first walk —
    # from each earlier bucket take its TAIL until lookback rows covered
    map_rows = []
    for gkey, lst in by_grp.items():
        lst.sort()
        for i in range(1, len(lst)):
            need, j = lookback, i - 1
            while need > 0 and j >= 0:
                take = min(need, lst[j][1])
                map_rows.append((*gkey, lst[j][0], lst[i][0], take))
                need -= take
                j -= 1
    frame = base
    if map_rows:
        spark = df.sparkSession
        grp_fields = [df.schema[g] for g in grp_cols]
        map_schema = T.StructType(
            [
                *grp_fields,
                T.StructField("_grw_bucket", T.IntegerType()),
                T.StructField("_grw_dst", T.IntegerType()),
                T.StructField("_grw_take", T.LongType()),
            ]
        )
        mapping = spark.createDataFrame(
            [(*m[:-1], int(m[-1])) for m in map_rows], map_schema
        )
        w_desc = Window.partitionBy(*grp_cols, "_grw_bucket").orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        halo = (
            base.withColumn("_grw_rnd", F.row_number().over(w_desc))
            .join(F.broadcast(mapping), [*grp_cols, "_grw_bucket"])
            .filter(F.col("_grw_rnd") <= F.col("_grw_take"))
            .withColumn("_grw_bucket", F.col("_grw_dst"))
            .withColumn("_grw_halo", F.lit(True))
            .drop("_grw_rnd", "_grw_dst", "_grw_take")
        )
        frame = base.unionByName(halo)
    w = Window.partitionBy(*grp_cols, "_grw_bucket").orderBy(
        *[F.col(c).asc() for c in order_cols]
    ).rowsBetween(-lookback, -1)
    return frame, w, ~F.col("_grw_halo")


def auto_grouped_cumsum(
    df: DataFrame,
    value_col: str,
    grp_cols: list[str],
    order_col: str,
    *,
    col_name: str = "cumsum",
    buckets: int = 32,
    max_bytes: int | None = None,
) -> DataFrame:
    """Per-group running sum: the plain ``PARTITION BY grp`` window while
    the frame's size estimate is small (the sort is tiny, whatever the
    group cardinality), :func:`grouped_cumsum` past it (bounded-
    cardinality groups stop funneling onto ≤k reducers). The routing
    threshold keys on the bytes of the frame ACTUALLY windowed — callers
    pass the tie-aggregated distinct frame, not raw rows — so a huge
    distinct frame over a coarse group column routes correctly."""
    limit = DIMENSION_WINDOW_MAX_BYTES if max_bytes is None else max_bytes
    if estimated_plan_bytes(df) <= limit:
        w = Window.partitionBy(*grp_cols).orderBy(
            F.col(order_col).asc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return df.withColumn(col_name, F.sum(value_col).over(w))
    return grouped_cumsum(
        df, value_col, grp_cols, order_col,
        buckets=buckets, col_name=col_name,
    )
