"""Dimension-global windows — ranks, ntiles, running sums and trailing
frames over a total order — WITHOUT a single-reducer sort.

Why this exists: ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY
compiles to a single-partition Exchange — the entire table funnels through
one task; a ``PARTITION BY grp`` window over a handful of groups funnels
it through a handful. Fine at fixture scale, a wall at 100 TB. Every
bucketed form here runs the same recipe (:func:`_bucket_stats`):

1. one stats pass computes approximate quantiles of the leading sort key
   (``percentile_approx`` — deterministic for a given dataset, unlike
   ``repartitionByRange``'s random sampling, so recomputations of the plan
   agree on bucket assignment without a persist);
2. every row gets a bucket from those bounds via a pure expression —
   rows EQUAL on the leading key always share a bucket, so bucket order
   extends to the full sort order;
3. one tiny per-(group, bucket) aggregate (≤ groups·``buckets`` rows) is
   collected: row counts for ranks and halos, sums for running sums;
4. the window runs per (group, bucket), and each bucket's share of its
   predecessors comes back from the collected aggregate — rank offsets as
   a literal map, running-sum offsets and halo rows through a NULL-safe
   broadcast join (:func:`_attach`).

The shuffle carries only the projected frame (callers should select the
key/payload columns they need first — for shard planning that is two
columns, ~16 bytes/row). Skew caveat: a leading-key value heavier than
``rows/buckets`` concentrates in one bucket (ties cannot be split without
breaking rank correctness); pick a high-cardinality leading key.

Build cost: two tiny driver jobs over the projected frame (quantile stats,
bucket aggregate) before the ranked plan itself — an OFFLINE planning
primitive, not a serving-path operator; callers on the hot path should
reuse the returned frame.

The plain-vs-bucketed choice for frames that are usually small lives here
too, in one predicate (:func:`_routes`), used by :func:`dimension_rank`,
:func:`auto_grouped_cumsum` and :func:`grouped_rolling`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cache, commit

_BUCKET = "_rk_bucket"
_RUNNING = (Window.unboundedPreceding, Window.currentRow)


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


def _order_cols(keys: list[str], descending: list[bool] | None) -> list[Column]:
    if not keys:
        raise ValueError("keys must name at least one order column")
    desc = descending or [False] * len(keys)
    if len(desc) != len(keys):
        raise ValueError("descending must match keys length")
    return [
        F.col(k).desc() if d else F.col(k).asc() for k, d in zip(keys, desc)
    ]


def _bucket_stats(
    df: DataFrame,
    lead: str,
    agg: Column,
    *,
    descending: bool = False,
    group_cols: list[str] = (),
    buckets: int = 32,
    memo_key: tuple | None = None,
) -> tuple[Column, dict[tuple, list]]:
    """The one bucketing core: quantile bounds of ``lead`` and one
    collected per-(group, bucket) ``agg``. Returns the bucket column (in
    SORT order of ``lead``) and ``{group key: [(bucket, value), ...]}``
    with each list in bucket order.

    NULL leading keys sort FIRST under asc and LAST under desc in Spark's
    default ordering, so they take bucket -1 ascending and
    ``len(bounds)`` descending — any other bucket breaks bit-parity with
    the single-window form (tests pin both). A timestamp leading key is
    bucketed on its ``unix_micros`` (numeric bounds, no session-timezone
    literal round trip).

    ``memo_key``: stable identity of the input whose first element is the
    path it reads (e.g. ``(sf_dir,)``) — when given, bounds and aggregate
    memoize per session so a REBUILD of the same plan runs zero driver
    jobs (tests/test_lazy_build.py); ad-hoc frames have no stable identity
    to key on. Callers mutating the underlying data between builds must
    not pass it."""
    key = F.col(lead)
    if isinstance(df.schema[lead].dataType, T.TimestampType):
        key = F.unix_micros(key)

    def bucket_of(bounds: list) -> Column:
        nonnull = (
            _bucket_expr(key, bounds, descending=descending) if bounds
            else F.lit(0)  # constant/empty leading key: one bucket
        )
        null_bucket = F.lit(len(bounds) if descending else -1)
        return F.when(key.isNull(), null_bucket).otherwise(nonnull)

    def build() -> tuple[list, dict[tuple, list]]:
        fracs = [i / buckets for i in range(1, buckets)]
        qs = df.select(F.percentile_approx(key, fracs, 10_000).alias("q")).first()["q"]
        # dedupe (heavy ties collapse adjacent quantiles) and order the
        # bounds in SORT direction so bucket index increases along the
        # output order
        bounds = sorted(set(qs or []), reverse=descending)
        rows = (
            df.withColumn(_BUCKET, bucket_of(bounds))
            .groupBy(*group_cols, _BUCKET)
            .agg(agg.alias("_v"))
            .collect()
        )
        stats: dict[tuple, list] = {}
        for r in sorted(rows, key=lambda r: r[_BUCKET]):
            stats.setdefault(tuple(r[g] for g in group_cols), []).append(
                (r[_BUCKET], r["_v"])
            )
        return bounds, stats

    if memo_key is None:
        bounds, stats = build()
    else:
        bounds, stats = cache.get(
            df.sparkSession, "plan_stats", lead, descending, tuple(group_cols),
            str(agg), buckets, *memo_key, reads=memo_key[:1], build=build,
        )
    return bucket_of(bounds), stats


def _exclusive_prefix(stats: dict[tuple, list]) -> list[tuple]:
    """``(*group, bucket, offset)`` rows: each bucket's total over the
    EARLIER buckets of its group. SQL sum semantics — NULL totals add
    nothing, and a bucket with no non-null predecessor gets no row."""
    rows = []
    for gkey, lst in stats.items():
        acc = None
        for b, s in lst:
            if acc is not None:
                rows.append((*gkey, b, acc))
            if s is not None:
                acc = s if acc is None else acc + s
    return rows


def _attach(
    df: DataFrame,
    group_cols: list[str],
    rows: list[tuple],
    fields: list[T.StructField],
    how: str,
) -> DataFrame:
    """Broadcast-join collected ``(*group, bucket, *fields)`` rows onto the
    bucketed ``df`` on (group, bucket). Group keys match NULL-safely — a
    NULL group is a group like any other, exactly as in the plain
    ``PARTITION BY`` window."""
    gk = [f"_rk_g{i}" for i in range(len(group_cols))]
    schema = T.StructType(
        [
            *(T.StructField(k, df.schema[g].dataType) for k, g in zip(gk, group_cols)),
            T.StructField("_rk_b", T.IntegerType()),
            *fields,
        ]
    )
    side = df.sparkSession.createDataFrame(rows, schema)
    on = [F.col(_BUCKET) == F.col("_rk_b")]
    on += [F.col(g).eqNullSafe(F.col(k)) for g, k in zip(group_cols, gk)]
    return df.join(F.broadcast(side), on, how).drop(*gk, "_rk_b")


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

    ``memo_key``: see :func:`_bucket_stats` — a rebuild runs zero jobs.
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
    order = _order_cols(keys, descending)
    if persist:
        df = cache.persist(df)
    bucket, stats = _bucket_stats(
        df, keys[0], F.count("*"), descending=bool(descending and descending[0]),
        buckets=buckets, memo_key=memo_key,
    )
    # rank offsets ride the plan as a literal map (bucket -> rows before
    # it): plain data, so the memoized stats rebuild the plan with no job
    offsets = _exclusive_prefix(stats)
    offset = F.lit(0)
    if offsets:
        off_map = F.create_map(*[F.lit(x) for bo in offsets for x in bo])
        offset = F.coalesce(F.element_at(off_map, F.col(_BUCKET)), offset)
    w = Window.partitionBy(_BUCKET).orderBy(*order)
    ranked = (
        df.withColumn(_BUCKET, bucket)
        .withColumn(col_name, (F.row_number().over(w) + offset).cast("long"))
        .drop(_BUCKET)
    )
    return ranked, sum(n for lst in stats.values() for _, n in lst)


def ntile_of(rn: Column, n: Column, n_tiles: int) -> Column:
    """SQL-standard ``ntile(n_tiles)`` of the 1-based row ``rn`` among
    ``n`` rows: with ``q, rem = divmod(n, n_tiles)`` the first ``rem``
    tiles hold ``q + 1`` rows, the rest ``q`` (both Spark and DuckDB
    implement this form); with fewer rows than tiles row r lands alone in
    tile r. A literal ``n`` folds to the same constants at plan time."""
    q = F.floor(n / F.lit(n_tiles)).cast("long")
    rem = (n % F.lit(n_tiles)).cast("long")
    cut = rem * (q + 1)
    return F.when(q == 0, rn).otherwise(
        F.when(rn <= cut, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(rem + F.floor((rn - cut - 1) / q) + 1)
    ).cast("int")


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
    pure arithmetic on (rank, total) (:func:`ntile_of`). The total is a free
    by-product of the rank's per-bucket count pass, so no extra job, no
    ``count() OVER ()`` single-partition window.

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
    tile = ntile_of(F.col("_gnt_rn"), F.lit(n), n_tiles)
    return ranked.withColumn(col_name, tile).drop("_gnt_rn")


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




def global_cumsum(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    *,
    group_cols: list[str] = (),
    descending: list[bool] | None = None,
    buckets: int = 32,
    col_name: str = "cumsum",
) -> DataFrame:
    """Running ``sum(value_col)`` under the total order ``keys`` within
    each ``group_cols`` group (the whole frame when there are none) —
    identical to ``sum(v) OVER (PARTITION BY grp ORDER BY ... ROWS
    UNBOUNDED PRECEDING)``, result type included — WITHOUT its
    row-sized sorts: the plain window hashes every row of a group onto
    one reducer (all rows, with no groups), so a bounded-cardinality group
    column funnels the table through ≤k tasks at 100 TB. Here the window
    partitions on (group, quantile-bucket of the leading key) — k·
    ``buckets`` sorts of ~1/buckets of a group each — and per-(group,
    bucket) exclusive-prefix SUM offsets (one tiny collected aggregate,
    exact int/Decimal arithmetic) are broadcast-joined back on top of the
    within-bucket running sum.

    SQL running-sum NULL semantics: NULL values contribute nothing, and
    the result is NULL only while NO non-null value has been seen yet —
    across buckets too (running NULL + non-null offset = the offset).
    Group cardinality must be bounded (the offsets frame is collected);
    high-cardinality groups don't need this machinery — the plain
    per-group window already spreads across reducers."""
    order = _order_cols(keys, descending)
    bucket, stats = _bucket_stats(
        df, keys[0], F.sum(value_col), descending=bool(descending and descending[0]),
        group_cols=group_cols, buckets=buckets,
    )
    sum_type = df.select(F.sum(value_col).alias("_t")).schema["_t"].dataType
    framed = _attach(
        df.withColumn(_BUCKET, bucket), group_cols, _exclusive_prefix(stats),
        [T.StructField("_rk_offset", sum_type)], "left",
    )
    running = F.sum(value_col).over(
        Window.partitionBy(*group_cols, _BUCKET).orderBy(*order).rowsBetween(*_RUNNING)
    )
    off = F.col("_rk_offset")
    out = framed.withColumn(
        col_name,
        F.when(off.isNull(), running)
        .when(running.isNull(), off)
        .otherwise(running + off),
    ).drop(_BUCKET, "_rk_offset")
    # match the plain-window result type exactly (sum over decimal(p,s)
    # widens to decimal(p+10,s); running + offset widens once more)
    want = df.select(
        F.sum(value_col).over(
            Window.partitionBy(*group_cols).orderBy(*order).rowsBetween(*_RUNNING)
        ).alias("_t")
    ).schema["_t"].dataType
    return out.withColumn(col_name, F.col(col_name).cast(want))


# ---------------------------------------------------------------------------
# Routed windows (round-5 VERDICT #6). An ORDER BY window with no PARTITION
# BY, or one partitioned on a coarse group column, plans one reducer per
# partition — the right plan while the frame is a per-entity AGGREGATE far
# smaller than the fact table, a straggler once the frame itself is huge
# (billions of users/customers at 100 TB). The routed forms keep the plain
# window below a Catalyst size estimate and reroute onto the bucketed
# machinery past it; both branches are bit-identical under a TOTAL order
# (pinned in tests/test_ranking.py). Tests force the bucketed branch by
# patching DIMENSION_WINDOW_MAX_BYTES (and clearing the plan cache).
# ---------------------------------------------------------------------------
DIMENSION_WINDOW_MAX_BYTES = 256 << 20


def estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for the frame's optimized plan — a
    pure driver-side statistic (scan file sizes propagated through
    operator heuristics; no Spark job runs)."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _routes(df: DataFrame) -> bool:
    """The one plain-vs-bucketed decision: does windowing ``df`` need the
    bucketed machinery? Keyed on the bytes of the frame ACTUALLY windowed
    — callers pass the per-entity aggregate or tie-aggregated distinct
    frame, not raw rows."""
    return estimated_plan_bytes(df) > DIMENSION_WINDOW_MAX_BYTES


def dimension_rank(
    df: DataFrame,
    keys: list[str],
    *,
    descending: list[bool] | None = None,
    total: str | None = None,
    running: bool = False,
) -> DataFrame:
    """Append the dimension-global columns a per-entity report needs,
    under the total order ``keys``/``descending``: ``rn`` (1-based
    row_number, long), ``n`` (row count) and, given a ``total`` value
    column, ``total`` (its sum) and — with ``running`` — ``cumsum`` (its
    running sum, ROWS UNBOUNDED PRECEDING).

    Below the size estimate these are plain windows (one SinglePartition
    sort of a small aggregate). Past it: :func:`global_row_number` and
    :func:`global_cumsum`, with the scalars as a 1-row broadcast cross
    join, so only the final scalar aggregate crosses a single partition.
    That branch persists ``df`` once (app-scoped, released by
    :func:`cache.release`): the rank and cumsum planning passes, the
    scalar aggregate and the final plan all consume it, and without the
    cache each re-runs the aggregate's whole subtree from the fact-table
    scan."""
    order = _order_cols(keys, descending)
    scalars = {"n": F.count("*")}
    if total is not None:
        scalars["total"] = F.sum(total)
    if not _routes(df):
        wall = Window.partitionBy()
        cols = [
            F.row_number().over(Window.orderBy(*order)).cast("long").alias("rn"),
            *(agg.over(wall).alias(name) for name, agg in scalars.items()),
        ]
        if running:
            w = Window.orderBy(*order).rowsBetween(*_RUNNING)
            cols.append(F.sum(total).over(w).alias("cumsum"))
        return df.select("*", *cols)
    names = [*df.columns, "rn", *scalars, *(["cumsum"] if running else [])]
    df = cache.persist(df)
    out = global_row_number(df, keys, descending=descending, col_name="rn")
    if running:
        out = global_cumsum(out, total, keys, descending=descending)
    return out.crossJoin(
        F.broadcast(df.agg(*(agg.alias(name) for name, agg in scalars.items())))
    ).select(*names)  # the plain branch's column order


def auto_grouped_cumsum(
    df: DataFrame,
    value_col: str,
    grp_cols: list[str],
    order_col: str,
    *,
    col_name: str = "cumsum",
    buckets: int = 32,
) -> DataFrame:
    """Per-group running sum ordered by ``order_col``: the plain
    ``PARTITION BY grp`` window while the frame's size estimate is small
    (the sort is tiny, whatever the group cardinality),
    :func:`global_cumsum` past it (bounded-cardinality groups stop
    funneling onto ≤k reducers). Contract: rows UNIQUE on (``grp_cols``,
    ``order_col``) — callers aggregate ties first (a (grp, value)-distinct
    counts frame), which any rank/midrank derivation needs anyway. NULL
    order keys sort FIRST (Spark ASC default)."""
    if _routes(df):
        return global_cumsum(
            df, value_col, [order_col], group_cols=grp_cols,
            buckets=buckets, col_name=col_name,
        )
    w = Window.partitionBy(*grp_cols).orderBy(F.col(order_col).asc())
    return df.withColumn(col_name, F.sum(value_col).over(w.rowsBetween(*_RUNNING)))


def grouped_rolling(
    df: DataFrame,
    grp_cols: list[str],
    order_cols: list[str],
    lookback: int,
    *,
    buckets: int = 32,
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
    the collected per-(group, bucket) row counts backwards, taking the
    tail of each earlier bucket until ``lookback`` rows are covered — so
    thin buckets cascade correctly. Halo rows feed frames only; ``keep``
    drops them from the output. Frame contents are identical row-for-row
    to the plain window's, so aggregates (including float ones) are
    bit-identical — pinned in tests/test_ranking.py.

    Ordering contract: ``order_cols`` ascending, leading column numeric
    or timestamp (bucket bounds come from ``percentile_approx``); rows
    equal on the LEADING column always share a bucket, and the full
    ``order_cols`` tuple must be a total order within each group."""
    if lookback < 1:
        raise ValueError(f"lookback must be >= 1, got {lookback}")
    asc = [F.col(c).asc() for c in order_cols]
    if not _routes(df):
        w = Window.partitionBy(*grp_cols).orderBy(*asc).rowsBetween(-lookback, -1)
        return df, w, F.lit(True)

    bucket, stats = _bucket_stats(
        df, order_cols[0], F.count(F.lit(1)), group_cols=grp_cols, buckets=buckets
    )
    frame = df.withColumn(_BUCKET, bucket).withColumn("_rk_halo", F.lit(False))
    # (grp..., src_bucket, dst_bucket, take_last_k): nearest-first walk —
    # from each earlier bucket take its TAIL until lookback rows covered
    takes = []
    for gkey, lst in stats.items():
        for i in range(1, len(lst)):
            need, j = lookback, i - 1
            while need > 0 and j >= 0:
                take = min(need, lst[j][1])
                takes.append((*gkey, lst[j][0], lst[i][0], take))
                need -= take
                j -= 1
    if takes:
        tail_rank = F.row_number().over(
            Window.partitionBy(*grp_cols, _BUCKET).orderBy(*[F.col(c).desc() for c in order_cols])
        )
        halo = (
            _attach(
                frame.withColumn("_rk_rnd", tail_rank), grp_cols, takes,
                [T.StructField("_rk_dst", T.IntegerType()),
                 T.StructField("_rk_take", T.LongType())],
                "inner",
            )
            .filter(F.col("_rk_rnd") <= F.col("_rk_take"))
            .withColumn(_BUCKET, F.col("_rk_dst"))
            .withColumn("_rk_halo", F.lit(True))
            .drop("_rk_rnd", "_rk_dst", "_rk_take")
        )
        frame = frame.unionByName(halo)
    w = Window.partitionBy(*grp_cols, _BUCKET).orderBy(*asc).rowsBetween(-lookback, -1)
    return frame, w, ~F.col("_rk_halo")
