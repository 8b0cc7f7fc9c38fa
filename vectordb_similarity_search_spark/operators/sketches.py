"""Mergeable-sketch ledgers: pre-aggregated per-(day, segment) summaries
that answer later rollups and trailing windows without rescanning the
raw event log.

The 100 TB problem this solves: "distinct users per 7-day window, per
month, per event type, overall" each naively re-shuffle the raw event log
per question. A mergeable summary (leaves plus an associative merge —
Agarwal et al., "Mergeable Summaries", PODS 2012) is sketched once per
(day, segment) leaf in ONE linear pass over the log; every rollup is then
an aggregation over the tiny ledger, and a day's late data is one merge
against that day's stored leaves.

Seven kinds, each a :class:`LedgerKind` spec over one engine (write,
O(touched-days) upsert, repair, retention and the trailing-window
expansion :func:`_trailing`):

- ``HLL`` — distinct counts (DataSketches HLL via Spark's
  ``hll_sketch_agg`` / ``hll_union_agg``);
- ``CMS`` — count-min point frequencies;
- ``QSK`` — log-bucket rank sketch for percentiles;
- ``THETA`` — sampled key hashes for set intersection/union;
- ``HH`` — Misra-Gries heavy hitters with interval bounds;
- ``SAMPLE`` — uniform row sample for ad-hoc grouped estimates;
- ``STRATIFIED`` — per-stratum bottom-k sample that keeps rare strata exact.

``LEDGER_KINDS`` maps each kind's name (also its sidecar ``kind``) to its
spec; ``streaming/events.apply_ledger_batch`` is the micro-batch apply.

Determinism contract (verified in tests/test_sketches.py): every leaf is
a pure function of its rows and every merge is order-independent, so
readouts are independent of partitioning, merge grouping, and row order.
For HLL, a leaf-union rollup equals the direct sketch over the base rows
bit-for-bit on ESTIMATES (serialized sketch BYTES are not canonical
across merge orders — sparse/dense internal modes differ — so parity is
pinned on estimates, never on blob bytes). KLL quantile sketches were
evaluated and EXCLUDED: Spark's implementation is randomized per run,
which breaks the repo's oracle bar.

Reference parity: the reference engine has no sketch surface
(similarity_search.py is exact-only); this module is part of the
mandated large-scale-pipeline superset.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cache

# 2^12 registers ≈ 0.8% relative standard error — the classic
# cost/accuracy point; callers can widen for tighter bounds.
DEFAULT_LG_K = 12


def daily_hll_sketches(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """ONE linear pass over the event log → the leaf sketch ledger:
    ``(day, event_type, n_events, sk)`` with ``sk`` an HLL sketch of the
    distinct ``key_col`` values. This is the only operator here that
    touches the raw log; everything downstream aggregates the ledger
    (days × types rows, ~4 KB each at lg_k=12)."""
    if not 4 <= lg_k <= 21:
        raise ValueError(f"lg_k must be in [4, 21], got {lg_k}")
    return (
        events.select(
            F.to_date(ts_col).alias("day"),
            F.col(type_col).alias("event_type"),
            F.col(key_col).alias("_k"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.hll_sketch_agg("_k", F.lit(lg_k)).alias("sk"),
        )
    )


def hll_estimate(sk: Column | str) -> Column:
    return F.hll_sketch_estimate(sk).cast("long")


def _trailing(ledger: DataFrame, window_days: int, *cols: str) -> DataFrame:
    """The one trailing-window expansion every rolling readout shares:
    each ledger row EXPLODES into the ``window_days`` output days it
    contributes to (a Generate, no join predicate), and a broadcast equi
    semi-join keeps only days that actually occur in the ledger. Output:
    ``(day, *cols)`` with ``day`` the OUTPUT day; the caller merges its
    kind's leaves per day. (A day-range self-join spells the same thing
    but plans a BroadcastNestedLoopJoin — the repo's plan-invariant
    sweep rejects non-equi joins on principle; this form is pure
    Generate + hash join.)"""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    days = ledger.select("day").distinct().select(F.col("day").alias("out_day"))
    return (
        ledger.select(
            F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("_off"),
            "day",
            *cols,
        )
        .select(F.date_add(F.col("day"), F.col("_off")).alias("out_day"), *cols)
        .join(F.broadcast(days), "out_day", "left_semi")
        .withColumnRenamed("out_day", "day")
    )


def _rolling(
    ledger: DataFrame, window_days: int, extra_keys: tuple[str, ...]
) -> DataFrame:
    """HLL trailing windows: :func:`_trailing`, then one
    ``hll_union_agg`` per (day, *extra keys). ONE copy serves the
    all-types and per-type forms so the window semantics cannot
    diverge."""
    rolled = (
        _trailing(ledger, window_days, *extra_keys, "n_events", "sk")
        .groupBy("day", *extra_keys)
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.hll_union_agg("sk").alias("sk"),
        )
    )
    return rolled.select(
        "day", *extra_keys, "n_events", hll_estimate("sk").alias("est_distinct")
    )


def rolling_distinct(ledger: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing ``window_days``-day distinct-key estimate per day from
    the LEAF LEDGER alone. Cost is O(|ledger| · window_days) on rows
    that are days×types in number — independent of the raw log size,
    which is the whole point (window expansion: :func:`_trailing`).
    Distinct-count is NOT sum-decomposable across days (a user active
    twice in the window counts once); the sketch union gets the
    de-duplicated semantics that a sum of daily counts cannot."""
    return _rolling(ledger, window_days, ())


def rollup_distinct(ledger: DataFrame) -> DataFrame:
    """Re-aggregability demo and ops rollup: per-event_type whole-range
    distinct estimates AND the all-types grand total, every number from
    the SAME leaf sketches via union — no raw-log pass. Output:
    ``(scope, n_events, est_distinct)`` with scope 'type:<event_type>'
    rows plus one 'total' row."""
    per_type = (
        ledger.groupBy("event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.hll_union_agg("sk").alias("sk"),
        )
        .select(
            F.concat(F.lit("type:"), F.col("event_type")).alias("scope"),
            "n_events",
            hll_estimate("sk").alias("est_distinct"),
        )
    )
    total = ledger.agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.hll_union_agg("sk").alias("sk"),
    ).select(
        F.lit("total").alias("scope"),
        "n_events",
        hll_estimate("sk").alias("est_distinct"),
    )
    return per_type.unionByName(total)


# ---------------------------------------------------------------------------
# Persisted ledgers: one engine (write, upsert, repair, retention); each
# kind is a LedgerKind spec declared after its builder and merge
# ---------------------------------------------------------------------------


_META_FILE = "_ledger_meta.json"
_PENDING_FILE = "_upsert_pending.json"
_STAGING_DIR = "_staging"


def _write_ledger_meta(path: str, meta: dict) -> None:
    tmp = os.path.join(path, _META_FILE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, _META_FILE))


def _check_ledger_meta(path: str, got: dict) -> None:
    """Refuse a maintenance call whose configuration differs from the
    stored ledger's (advisory fix: a mismatched lg_k or column mapping
    used to be silently accepted and only blow up — or worse, quietly
    skew — deep inside the union)."""
    meta_path = os.path.join(path, _META_FILE)
    if not os.path.isfile(meta_path):
        return  # pre-meta store: keep accepting (documented compat)
    with open(meta_path) as fh:
        meta = json.load(fh)
    diffs = {k: (meta.get(k), got[k]) for k in got if meta.get(k) != got[k]}
    if diffs:
        raise ValueError(
            f"ledger at {path} was built with {meta}; maintenance call "
            f"disagrees on {diffs} — pass the stored configuration or "
            "rebuild the ledger"
        )


def sketch_ledger_repair(path: str) -> int:
    """Complete a torn upsert commit (crash between day-dir swaps).
    The pending marker is written O_EXCL BEFORE any day dir is mutated
    and the full merged state of every touched day sits in the staging
    dir, so repair = finish moving staged day dirs into place — each
    move is idempotent (an already-moved day has no staged dir left).
    Returns the number of day dirs repaired (0 = store was clean)."""
    marker = os.path.join(path, _PENDING_FILE)
    if not os.path.isfile(marker):
        return 0
    with open(marker) as fh:
        pending = json.load(fh)
    staging = os.path.join(path, pending["staging"])
    fixed = 0
    try:
        for day in pending["days"]:
            staged = os.path.join(staging, f"day={day}")
            if not os.path.isdir(staged):
                continue  # this day's swap already completed pre-crash
            live = os.path.join(path, f"day={day}")
            if os.path.isdir(live):
                shutil.rmtree(live)
            os.replace(staged, live)
            fixed += 1
    finally:
        if fixed:
            cache.invalidate(path)
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    os.remove(marker)
    return fixed


def _staged_day_upsert(path: str, delta: DataFrame, merge_fn, meta: dict) -> int:
    """The O(touched-days) persisted-ledger upsert behind
    :meth:`LedgerKind.upsert`, its one caller (``merge_fn(stored_slice,
    delta)`` is the only sketch-specific part): bootstrap a missing store
    from the delta alone; otherwise repair any torn commit, validate the
    stored configuration, read back ONLY the touched day partitions,
    merge, STAGE the merged slice executor-side (no sketch state through
    the driver), and swap day dirs under an O_EXCL pending marker. Crash
    semantics as documented on :meth:`LedgerKind.upsert`.
    SINGLE-WRITER: concurrent upserts against one ledger path are a
    contract violation (the entry-time repair would sweep a live
    writer's staging); a concurrent commit is detected at the marker
    open and refused with a descriptive error."""
    spark = delta.sparkSession
    exists = os.path.isdir(path)
    if exists:
        sketch_ledger_repair(path)
        _check_ledger_meta(path, meta)
    # touched-day list: a bounded driver frame (days, not sketch state)
    day_vals = [r["day"] for r in delta.select("day").distinct().collect()]
    if any(d is None for d in day_vals):
        # A null day (null/invalid ts) cannot be addressed by a
        # day-partitioned ledger: F.col('day').isin(...) never matches
        # NULL and the dir-name swap would look for 'day=None' while
        # Spark stages '__HIVE_DEFAULT_PARTITION__' — a lossy torn
        # commit. Refuse loudly; the streaming apply_ledger_batch drops
        # null-ts rows up front under its documented contract.
        raise ValueError(
            "ledger delta contains a NULL day (null or unparseable "
            "timestamps): filter null-ts rows before the upsert — a "
            "day-partitioned ledger cannot store them"
        )
    if not day_vals:
        # empty delta (e.g. a zero-row first micro-batch): bootstrapping
        # would write a store holding only _SUCCESS, which the next
        # upsert's schema inference cannot read — skip entirely
        return 0
    if not exists:
        delta.write.partitionBy("day").mode("overwrite").parquet(path)
        _write_ledger_meta(path, meta)
        return len(day_vals)
    touched_days = sorted(day_vals)
    touched = [str(d) for d in touched_days]  # ISO names = partition dirs
    staging = os.path.join(path, _STAGING_DIR)
    if os.path.isdir(staging):  # stale pre-marker staging from a crash
        shutil.rmtree(staging)
    stored = spark.read.parquet(path).filter(F.col("day").isin(touched_days))
    merged = merge_fn(stored, delta)
    # stage executor-side: the lazy read of `path` executes HERE, before
    # any live day dir is mutated — no self-overwrite torn read
    merged.write.partitionBy("day").mode("overwrite").parquet(staging)
    # commit under an O_EXCL marker (round-8 advisory fix: the marker +
    # staged slice make a mid-commit crash repairable instead of lossy)
    marker = os.path.join(path, _PENDING_FILE)
    try:
        fd = os.open(marker, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError:
        # entry-time repair consumed any CRASHED writer's marker, so a
        # marker here means another LIVE writer committed concurrently —
        # the single-writer contract (see the upsert docstrings) was
        # violated; refuse with a actionable error instead of the raw
        # O_EXCL traceback
        raise RuntimeError(
            f"concurrent ledger maintenance detected at {path}: another "
            "writer's pending marker appeared mid-upsert. Sketch ledgers "
            "are SINGLE-WRITER (serialize maintenance per ledger path); "
            "retry after the other writer finishes"
        ) from None
    with os.fdopen(fd, "w") as fh:
        json.dump({"days": touched, "staging": _STAGING_DIR}, fh)
    # NO try/finally cleanup here: if a swap raises (or the process
    # dies), the marker + staged slice must SURVIVE so the next entry's
    # sketch_ledger_repair can finish the commit; cleanup only happens
    # after every day dir is in place.
    for day in touched:
        live = os.path.join(path, f"day={day}")
        staged = os.path.join(staging, f"day={day}")
        if os.path.isdir(live):
            shutil.rmtree(live)
        os.replace(staged, live)
    shutil.rmtree(staging, ignore_errors=True)
    os.remove(marker)
    return len(touched)


def _n_true(cond: Column) -> Column:
    """Number of rows where ``cond`` holds (0 on an empty frame)."""
    return F.coalesce(F.sum(cond.cast("int")), F.lit(0))


@dataclass(frozen=True)
class LedgerKind:
    """One persisted ledger kind as a spec over the shared engine.

    - ``doc``: what the kind summarizes and its replay-safety note —
      every streaming apply sits behind the applied-batch marker, and the
      note says whether the marker guards correctness (additive counts)
      or only cost (idempotent merge);
    - ``columns(**cfg)``: the canonical ledger columns;
    - ``build(events, **cfg)``: the ``daily_*`` leaf builder;
    - ``merge(stored, delta, **cfg)``: the same-day merge of two leaf
      frames;
    - ``check(back, **cfg)``: ONE aggregate over the written store,
      returning ``(rows, problem)`` — ``problem`` is the error message
      when the stored frame contradicts the claimed config, else None;
    - ``config``: the sidecar keys and their defaults, in sidecar order;
    - ``knobs``: execution-only upsert keys and their defaults, not
      recorded (results are identical for any value).

    A config key the kind does not know raises ``TypeError``, as an
    unknown keyword would."""

    name: str
    doc: str
    columns: Callable[..., tuple[str, ...]]
    build: Callable[..., DataFrame]
    merge: Callable[..., DataFrame]
    check: Callable[..., tuple[int, str | None]]
    config: dict[str, Any]
    knobs: dict[str, Any] = field(default_factory=dict)

    def resolve(self, cfg: dict, *, knobs: bool = False) -> dict:
        """``cfg`` over the defaults; ``knobs`` admits the upsert-only
        keys."""
        known = {**self.config, **(self.knobs if knobs else {})}
        unknown = sorted(set(cfg) - set(known))
        if unknown:
            raise TypeError(
                f"{self.name} ledger got unexpected config keys {unknown}"
            )
        return {**known, **cfg}

    def meta(self, cfg: dict) -> dict:
        """The ``_ledger_meta.json`` sidecar of a resolved ``cfg``."""
        return {
            "kind": self.name,
            **{
                k: list(cfg[k]) if isinstance(cfg[k], tuple) else cfg[k]
                for k in self.config
            },
        }

    def write(self, ledger: DataFrame, path: str, **cfg) -> int:
        """Materialize a built ledger at ``path``, partitioned by day so
        maintenance and windowed reads prune to the touched days, and
        return its row count. The ``_ledger_meta.json`` sidecar records
        the build configuration so the maintenance entry points validate
        against it instead of silently accepting a mismatched merge.

        Steps, in order: missing-column check, partitioned write, ONE
        read-back aggregate (row count plus the kind's violation
        columns), the kind's error on any violation, then the sidecar —
        so a sidecar is only ever written for a store CROSS-CHECKED
        against it (a ledger built one way but written with different
        kwargs used to get a wrong sidecar, after which correct
        maintenance was rejected and wrong maintenance validated). What
        each kind can and cannot detect is on its ``check``; the source
        column NAMES are not recoverable from the frame and stay
        caller-asserted."""
        cfg = self.resolve(cfg)
        missing = set(self.columns(**cfg)) - set(ledger.columns)
        if missing:
            raise ValueError(
                f"{self.name} ledger frame is missing columns "
                f"{sorted(missing)}; build it with {self.build.__name__}"
            )
        try:
            ledger.write.partitionBy("day").mode("overwrite").parquet(path)
        finally:
            cache.invalidate(path)
        n, problem = self.check(ledger.sparkSession.read.parquet(path), **cfg)
        if problem:
            raise ValueError(problem)
        _write_ledger_meta(path, self.meta(cfg))
        return n

    def upsert(self, batch: DataFrame, path: str, **cfg) -> int:
        """O(touched-days) maintenance: build the batch's leaves, read
        back ONLY the stored day-partitions the batch touches
        (partition-pruned scan), merge, and swap just those day dirs —
        untouched history is never read or rewritten (the repo's
        partitioned-merge discipline). Bootstrap: a missing store is
        created from the batch alone; an empty batch writes nothing.
        Returns the number of day partitions written.

        Write path: the merged touched-day slice is STAGED executor-side
        (one partitioned parquet write under ``_staging`` — an underscore
        dir, invisible to parquet readers of the store), then committed
        by swapping day dirs under an O_EXCL pending marker. Leaf state
        never round-trips through the driver, so a year-wide backfill
        over a high-cardinality type column streams through executors
        like any other write. Crash semantics: a crash BEFORE the marker
        leaves the store untouched (stale staging is swept on the next
        call); a crash mid-commit is repaired from the staged slice by
        :func:`sketch_ledger_repair` (run at every entry) — no
        touched-day history can be lost. The residual at-least-once
        window is the caller's: a crash between a completed commit and
        the applied-batch marker re-applies one batch (see the kind's
        ``doc`` for what that does to it).

        Contract: SINGLE WRITER per ledger path (serialize maintenance; a
        detected concurrent commit raises), and NO null-day rows in the
        batch (null/unparseable ``ts`` cannot live in a day-partitioned
        store — the streaming apply path drops them before calling here,
        direct callers must filter or the upsert raises)."""
        cfg = self.resolve(cfg, knobs=True)
        delta = self.build(batch, **cfg)
        try:
            return _staged_day_upsert(
                path, delta, functools.partial(self.merge, **cfg), self.meta(cfg)
            )
        finally:
            cache.invalidate(path)


def sketch_ledger_merge_batch(
    spark: SparkSession, batch: DataFrame, path: str, **cfg
) -> DataFrame:
    """Incremental maintenance of an ``HLL`` ledger (keywords: its
    config): fold a NEW batch of raw events into the stored ledger
    WITHOUT rescanning history — sketch the batch (one pass over batch
    rows only), then per (day, event_type) union against the stored
    sketch where one exists. Returns the merged ledger frame LAZILY — no
    sketch blob ever passes through the driver; the caller snapshots it
    with ``HLL.upsert`` (staged executor-side write) or pins merged ==
    full-rebuild estimates in tests. Late-arriving data for an old day is
    just another union. Replay semantics: see ``HLL.doc``."""
    cfg = HLL.resolve(cfg)
    sketch_ledger_repair(path)
    _check_ledger_meta(path, HLL.meta(cfg))
    return HLL.merge(spark.read.parquet(path), HLL.build(batch, **cfg))


def _hll_merge(stored: DataFrame, delta: DataFrame, **_) -> DataFrame:
    return (
        stored.select("day", "event_type", "n_events", "sk")
        .unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.hll_union_agg("sk").alias("sk"),
        )
    )


def _hll_check(back: DataFrame, lg_k: int, **_) -> tuple[int, str | None]:
    """Every sketch blob's serialized lgK header byte must equal the
    claimed ``lg_k``. DataSketches HLL preamble: serialized byte 3
    (1-indexed pos 4) is lgK in every mode (LIST/SET/HLL) — verified in
    tests."""
    s = back.agg(
        F.count(F.lit(1)).alias("n"),
        _n_true(F.substring("sk", 4, 1) != F.lit(bytes([lg_k]))).alias("bad"),
    ).first()
    if not s["bad"]:
        return s["n"], None
    return s["n"], (
        f"{s['bad']} sketch blob(s) were built with a different lg_k than "
        f"the claimed {lg_k}; pass the lg_k the ledger was built with"
    )


HLL = LedgerKind(
    "hll",
    doc="""Distinct keys per (day, event_type): ``(day, event_type,
    n_events, sk)``. The distinct ESTIMATES are replay-safe by algebra
    (HLL union is a register max — identical keys cannot drift it), but
    the exact ``n_events`` sums are additive: a replayed batch
    double-counts them, so the applied-batch marker keeps them
    exactly-once.""",
    columns=lambda **_: ("day", "event_type", "n_events", "sk"),
    build=daily_hll_sketches,
    merge=_hll_merge,
    check=_hll_check,
    config={
        "key_col": "user_id",
        "type_col": "event_type",
        "ts_col": "ts",
        "lg_k": DEFAULT_LG_K,
    },
)


def rolling_distinct_by_type(
    ledger: DataFrame, window_days: int = 7
) -> DataFrame:
    """Per-event_type trailing window: :func:`_rolling` grouped by
    (day, event_type) — each type's trailing distinct users, deduped
    within type across days. Output: ``(day, event_type, n_events,
    est_distinct)``."""
    return _rolling(ledger, window_days, ("event_type",))


# ---------------------------------------------------------------------------
# Count-min sketch ledger (round 8): the FREQUENCY twin of the HLL ledger
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 4096


def daily_cms_sketches(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """ONE linear pass over the event log → a sparse COUNT-MIN ledger
    ``(day, r, c, cnt)``: per day, ``depth`` hash rows of ``width``
    counters over ``key_col`` (xxhash64 seeded by the row index, keys
    hashed through a canonical string cast so build and probe agree on
    types). The frequency twin of :func:`daily_hll_sketches`: distinct
    questions union HLL registers, frequency questions SUM counters —
    both mergeable, both deterministic (integer sums of a pure row
    function), both answerable from days×depth×width-bounded state
    without rescanning the log. Classic CMS guarantees hold per fixed
    hash family: estimates NEVER undercount, and overcount is bounded by
    colliding mass (~N/width per row, min over ``depth`` rows)."""
    if not 1 <= depth <= 16:
        raise ValueError(f"depth must be in [1, 16], got {depth}")
    if width < 16:
        raise ValueError(f"width must be >= 16, got {width}")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    F.pmod(
                        F.xxhash64(F.col("_k").cast("string"), F.lit(r)),
                        F.lit(width),
                    )
                    .cast("int")
                    .alias("c"),
                )
                for r in range(depth)
            ]
        )
    )
    # Round-10 (§1.2/§2.3): tie-compress to (day, key) cells BEFORE the
    # depth× explode — keys repeat within a day, so the explode and the
    # counter aggregate run over the compressed cells with exact weights
    # (counter sums are identical; the (day, key) partial aggregate also
    # shrinks what the first exchange carries).
    return (
        events.select(
            F.to_date(ts_col).alias("day"), F.col(key_col).alias("_k")
        )
        .groupBy("day", "_k")
        .agg(F.count(F.lit(1)).cast("long").alias("_w"))
        .select("day", "_w", cells.alias("rc"))
        .groupBy("day", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.sum("_w").cast("long").alias("cnt"))
    )


def cms_estimate(
    ledger: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-frequency estimates for a SMALL candidate key frame from
    the CMS ledger: roll the ledger up over days (element-wise counter
    SUM — the mergeability), probe each key's ``depth`` cells, take the
    min. Returns ``(key_col, est)``. The candidate frame is broadcast
    (candidates come from a heavy-hitter pass or a business list — kNN
    of the frequency world); a missing counter reads 0. ``depth`` and
    ``width`` must match the build — pass them together."""
    rolled = ledger.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))
    probes = (
        keys.select(F.col(key_col).alias("_k"))
        .distinct()
        .select(
            "_k",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            F.pmod(
                                F.xxhash64(
                                    F.col("_k").cast("string"), F.lit(r)
                                ),
                                F.lit(width),
                            )
                            .cast("int")
                            .alias("c"),
                        )
                        for r in range(depth)
                    ]
                )
            ).alias("rc"),
        )
        .select("_k", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    )
    # broadcast the ROLLED ledger (<= depth*width rows): the left side of
    # a left-outer join cannot be the broadcast build side, so hinting
    # the probe frame would be silently ignored by the planner
    return (
        probes.join(F.broadcast(rolled), ["r", "c"], "left")
        .groupBy("_k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
        .select(F.col("_k").alias(key_col), F.col("est").cast("long"))
    )


def _cms_merge(stored: DataFrame, delta: DataFrame, **_) -> DataFrame:
    # counter merge IS integer addition — the whole mergeability story
    return (
        stored.select("day", "r", "c", "cnt")
        .unionByName(delta)
        .groupBy("day", "r", "c")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def _cms_check(
    back: DataFrame, depth: int, width: int, **_
) -> tuple[int, str | None]:
    """The cell coordinates must fit the claimed hash family: a nonempty
    ledger's max row index must be exactly ``depth - 1`` (every key
    writes all ``depth`` rows) and its max column must be ``< width``. A
    width LARGER than the build's is not detectable from coordinates
    alone and stays caller-asserted."""
    s = back.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("r").alias("max_r"),
        F.max("c").alias("max_c"),
    ).first()
    if not s["n"] or (s["max_r"] == depth - 1 and s["max_c"] < width):
        return s["n"], None
    return s["n"], (
        f"CMS ledger cells (max r={s['max_r']}, max "
        f"c={s['max_c']}) do not fit the claimed hash family "
        f"(depth={depth}, width={width}); pass the family the "
        "ledger was built with"
    )


CMS = LedgerKind(
    "cms",
    doc="""Count-min point frequencies per day: ``(day, r, c, cnt)``, the
    hash family (depth/width) in the sidecar — a probe or merge built
    with a DIFFERENT family would silently read garbage cells. The merge
    is plain integer addition of counter cells, so unlike HLL estimates
    CMS counts are NOT replay-safe by algebra (re-adding a batch doubles
    its mass): the applied-batch marker is what makes the stream
    exactly-once.""",
    columns=lambda **_: ("day", "r", "c", "cnt"),
    build=daily_cms_sketches,
    merge=_cms_merge,
    check=_cms_check,
    config={
        "key_col": "user_id",
        "ts_col": "ts",
        "depth": CMS_DEPTH,
        "width": CMS_WIDTH,
    },
)


# ---------------------------------------------------------------------------
# Quantile (rank) sketch ledger (round 9): the PERCENTILE sibling of the
# HLL (distinct) and CMS (frequency) ledgers
# ---------------------------------------------------------------------------
#
# Why not Spark's KLL (``kll_sketch_agg``) or ``approx_percentile``: KLL
# compaction is RANDOMIZED per run, which breaks this repo's
# determinism/oracle bar (see the module docstring), and
# approx_percentile exposes no mergeable persisted state. The ledger
# here is an HDR-histogram-style log-bucket rank sketch (the public
# HdrHistogram / Prometheus-native-histogram idea): each value maps to
# a deterministic geometric bucket with ``QSK_SUB_BUCKETS`` sub-buckets
# per octave, leaves are exact per-(day, event_type, bucket) counts, and
# the merge is plain integer addition — associative, commutative,
# layout-independent, and persistable through the same staged day-swap
# engine as the other two ledgers.
#
# Accuracy is a THEOREM, not a tuning: bucket counts (hence ranks) are
# exact, so the rank-r order statistic provably lies inside the bucket
# the estimator finds, and the geometric-midpoint estimate is within
# 2^(1/(2k)) - 1 relative error of it (~1.09% at k=32). The interpolated
# form below keeps that bound against the CONTINUOUS (n-1)p percentile
# definition Spark's ``percentile`` and DuckDB's ``quantile_cont``
# share, because a convex combination of per-point bounds is a bound on
# the convex combination.

QSK_SUB_BUCKETS = 32
_QSK_OFFSET = 1 << 20  # > k*|log2(double range)| for any sane k


def _qsk_bucket(v: Column, k: int) -> Column:
    """Deterministic signed log-bucket index: 0 for zero, mirrored
    negative indices for negative values, monotone in ``v``."""
    kk = F.lit(float(k))
    return (
        F.when(v == 0, F.lit(0).cast("long"))
        .when(v > 0, (F.floor(F.log2(v) * kk) + F.lit(_QSK_OFFSET)))
        .otherwise(-(F.floor(F.log2(-v) * kk) + F.lit(_QSK_OFFSET)))
        .cast("long")
    )


def _qsk_mid(b: Column, k: int) -> Column:
    """Geometric midpoint of bucket ``b`` — the value estimate."""
    kk = F.lit(float(k))
    return (
        F.when(b == 0, F.lit(0.0))
        .when(
            b > 0,
            F.pow(F.lit(2.0), (b.cast("double") - _QSK_OFFSET + 0.5) / kk),
        )
        .otherwise(
            -F.pow(F.lit(2.0), (-b.cast("double") - _QSK_OFFSET + 0.5) / kk)
        )
    )


def qsk_relative_bound(k: int = QSK_SUB_BUCKETS) -> float:
    """The structural relative-error bound of the rank sketch:
    ``2^(1/(2k)) - 1`` (~0.0109 at the default k=32). Same-sign data
    only (a mixed-sign interpolation is bounded in absolute mass, not
    relative — see :func:`rolling_percentiles`)."""
    return 2.0 ** (1.0 / (2.0 * k)) - 1.0


def daily_qsk_sketches(
    events: DataFrame,
    *,
    value_col: str = "value",
    type_col: str = "event_type",
    ts_col: str = "ts",
    k: int = QSK_SUB_BUCKETS,
) -> DataFrame:
    """ONE linear pass over the log → the rank-sketch leaf ledger
    ``(day, event_type, b, cnt)``: exact counts per deterministic
    log-bucket of ``value_col``. NULL values are dropped (percentile
    semantics ignore NULLs on every engine). Leaf volume is bounded by
    days × types × occupied buckets (a few hundred buckets spans the
    full double range at k=32) — independent of the raw row count,
    which is what makes a daily p50/p99 monitor over 100 TB a ledger
    merge instead of a log rescan."""
    if not 1 <= k <= 4096:
        raise ValueError(f"k must be in [1, 4096], got {k}")
    v = F.col("_v")
    return (
        events.select(
            F.to_date(ts_col).alias("day"),
            F.col(type_col).alias("event_type"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .filter(v.isNotNull())
        .select("day", "event_type", _qsk_bucket(v, k).alias("b"))
        .groupBy("day", "event_type", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _qsk_percentiles_from_buckets(
    grouped: DataFrame, keys: list[str], qs: tuple[float, ...], k: int
) -> DataFrame:
    """Shared estimator: ``grouped`` holds (keys..., b, cnt); per key
    group, sort the (bucket, count) pairs IN-ARRAY (bounded by occupied
    buckets, never by row count) and read each quantile with the
    continuous (n-1)p definition — rank scan via ``F.aggregate``, no
    window, no Python."""

    def rank_mid(arr: Column, r: Column) -> Column:
        # bucket mid of the 1-indexed rank-r element: single HOF pass
        # over the sorted (b, cnt) array with exact cumulative counts
        acc0 = F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(None).cast("long").alias("bb"),
        )
        res = F.aggregate(
            arr,
            acc0,
            lambda acc, x: F.struct(
                (acc["cum"] + x["cnt"]).alias("cum"),
                F.when(acc["bb"].isNotNull(), acc["bb"])
                .when(acc["cum"] + x["cnt"] >= r, x["b"])
                .alias("bb"),
            ),
        )
        return _qsk_mid(res["bb"], k)

    per = grouped.groupBy(*keys).agg(
        F.sum("cnt").cast("long").alias("n"),
        F.array_sort(F.collect_list(F.struct("b", "cnt"))).alias("_arr"),
    )
    cols = [*keys, F.col("n")]
    n = F.col("n")
    for q in qs:
        pos = (n - 1).cast("double") * F.lit(float(q))  # 0-indexed
        i = F.floor(pos).cast("long")
        frac = pos - i.cast("double")
        lo = rank_mid(F.col("_arr"), i + 1)
        hi = rank_mid(F.col("_arr"), F.least(i + 2, n))
        est = (1.0 - frac) * lo + frac * hi
        cols.append(est.alias(f"p{str(q).replace('0.', '')}"))
    return per.select(*cols)


def rolling_percentiles(
    ledger: DataFrame,
    window_days: int = 7,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    *,
    k: int = QSK_SUB_BUCKETS,
) -> DataFrame:
    """Trailing ``window_days``-day value percentiles per day from the
    LEAF LEDGER alone — the daily p50/p99 monitor that motivates the
    ledger. Window expansion by :func:`_trailing` (Generate + hash
    join, no BNLJ); the per-day merge
    is an integer bucket-count sum, then the shared in-array estimator
    reads the quantiles. Output: ``(day, n, p5, p9, p99, ...)`` with
    one ``p*`` column per requested quantile.

    Error contract (same-sign data): each estimate is within
    :func:`qsk_relative_bound` of the exact continuous percentile —
    ranks are exact, the order statistics provably sit in the buckets
    the scan finds, and the (n-1)p interpolation is a convex
    combination of two per-point-bounded estimates."""
    contrib = (
        _trailing(ledger, window_days, "b", "cnt")
        .groupBy("day", "b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return _qsk_percentiles_from_buckets(contrib, ["day"], qs, k)


def rolling_percentiles_by_type(
    ledger: DataFrame,
    window_days: int = 7,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    *,
    k: int = QSK_SUB_BUCKETS,
) -> DataFrame:
    """Per-event_type trailing-window percentiles — the QSK sibling of
    :func:`rolling_distinct_by_type`: same explode + broadcast-semi-join
    window engine, bucket counts merged per (day, type) before the
    shared in-array estimator. Output: ``(day, event_type, n, p*...)``.
    Same error contract as :func:`rolling_percentiles`."""
    contrib = (
        _trailing(ledger, window_days, "event_type", "b", "cnt")
        .groupBy("day", "event_type", "b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return _qsk_percentiles_from_buckets(contrib, ["day", "event_type"], qs, k)


def rollup_percentiles(
    ledger: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    *,
    k: int = QSK_SUB_BUCKETS,
) -> DataFrame:
    """Re-aggregability readout: whole-range percentiles per event_type
    AND all-types total, every number a bucket-count SUM over the SAME
    leaves (a total percentile is NOT derivable from per-type
    percentiles — only from mergeable state). Output: ``(scope, n,
    p*...)`` with 'type:<event_type>' rows plus one 'total' row."""
    per = _qsk_percentiles_from_buckets(
        ledger.groupBy("event_type", "b").agg(
            F.sum("cnt").cast("long").alias("cnt")
        ),
        ["event_type"],
        qs,
        k,
    ).select(
        F.concat(F.lit("type:"), F.col("event_type")).alias("scope"),
        *[c for c in ("n",)],
        *[F.col(c) for c in _q_names(qs)],
    )
    tot = _qsk_percentiles_from_buckets(
        ledger.groupBy("b").agg(F.sum("cnt").cast("long").alias("cnt")),
        [],
        qs,
        k,
    ).select(F.lit("total").alias("scope"), "n", *_q_names(qs))
    return per.unionByName(tot)


def _q_names(qs: tuple[float, ...]) -> list[str]:
    return [f"p{str(q).replace('0.', '')}" for q in qs]


def _qsk_merge(stored: DataFrame, delta: DataFrame, **_) -> DataFrame:
    # like CMS: the merge IS integer addition of bucket counts
    return (
        stored.select("day", "event_type", "b", "cnt")
        .unionByName(delta)
        .groupBy("day", "event_type", "b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


QSK = LedgerKind(
    "qsk",
    doc="""Value percentiles per (day, event_type): ``(day, event_type, b,
    cnt)`` log-bucket counts, the bucketing ``k`` in the sidecar (a probe
    or merge with a different ``k`` reads garbage buckets). The merge is
    integer addition of bucket counts — like CMS, and unlike HLL register
    max, NOT replay-safe by algebra, so the applied-batch marker guards
    correctness. The write checks the schema only: ``k`` is not
    recoverable from bucket indices (any k yields in-range longs) and
    stays caller-asserted, like the CMS width-larger case.""",
    columns=lambda **_: ("day", "event_type", "b", "cnt"),
    build=daily_qsk_sketches,
    merge=_qsk_merge,
    check=lambda back, **_: (back.count(), None),
    config={
        "value_col": "value",
        "type_col": "event_type",
        "ts_col": "ts",
        "k": QSK_SUB_BUCKETS,
    },
)


# ---------------------------------------------------------------------------
# Theta-style distinct set-operation ledger (round 9): the SET-ALGEBRA
# sibling — intersection/union cardinality across arbitrary segments
# ---------------------------------------------------------------------------
#
# HLL answers "how many distinct" but cannot intersect (only union); the
# theta family (Apache DataSketches) keeps a HASH SAMPLE of the keys so
# A∩B is estimable by intersecting samples. The form here is the
# fixed-threshold variant: keep key k iff ``xxhash64(k) mod den < num``
# (sampling rate p = num/den). That is DETERMINISTIC (no per-run
# randomness — the repo's oracle bar), MERGEABLE by plain distinct-union
# (hence replay-safe by algebra, like HLL register max), and every set
# operation runs on the samples: |A ∩ B| ≈ |S_A ∩ S_B| / p,
# |A ∪ B| ≈ |S_A ∪ S_B| / p. Error is the binomial sampling error
# ~ sqrt((1-p)/(p·n)) relative — the accuracy/size dial is ``num/den``
# (at 100 TB you run p = 2^-12 and keep ~0.02% of keys; the fixture
# queries run p = 3/4 because their segments hold only hundreds of
# keys).

THETA_NUM = 3
THETA_DEN = 4


def _theta_keep(key: Column, num: int, den: int) -> Column:
    return F.pmod(F.xxhash64(key.cast("string")), F.lit(den)) < F.lit(num)


def daily_theta_sketches(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    num: int = THETA_NUM,
    den: int = THETA_DEN,
) -> DataFrame:
    """ONE linear pass over the log → the sampled-key leaf ledger
    ``(day, event_type, h)``: the distinct retained key hashes per
    (day, segment). The map-side sample filter runs BEFORE the distinct
    shuffle, so the shuffle carries only p·n rows — that is the whole
    scale story. The 64-bit hash is the element identity downstream
    (cross-key collisions are negligible and deterministic)."""
    if not 1 <= num < den:
        raise ValueError(f"need 1 <= num < den, got num={num} den={den}")
    key = F.col(key_col)
    return (
        events.select(
            F.to_date(ts_col).alias("day"),
            F.col(type_col).alias("event_type"),
            F.xxhash64(key.cast("string")).alias("h"),
        )
        .filter(F.pmod(F.col("h"), F.lit(den)) < F.lit(num))
        .distinct()
    )


def theta_overlap(
    ledger: DataFrame, *, num: int = THETA_NUM, den: int = THETA_DEN
) -> DataFrame:
    """Pairwise segment set-operation estimates from the LEDGER alone:
    for every segment pair (type_a < type_b) with at least one shared
    sample, the sampled counts and the scaled estimates of |A|, |B|,
    |A ∩ B|, |A ∪ B| and Jaccard. Pairs with ZERO sampled co-occurrence
    are omitted (their intersection estimate is 0); callers needing a
    full matrix left-join this onto their pair skeleton.

    Spark shape (the e_audience_overlap idiom, plans/event_queries.py):
    leaves roll up to distinct (segment, h), per-h segment sets are
    bounded arrays, ordered pairs generate IN-ARRAY — the shuffle
    carries h→set rows, never segment×segment×h tuples, and no
    cross/nested-loop join appears anywhere."""
    if not 1 <= num < den:
        raise ValueError(f"need 1 <= num < den, got num={num} den={den}")
    return _theta_pairwise(
        ledger.select("event_type", "h").distinct(),
        [],
        float(den) / float(num),
    )


def _theta_pairwise(
    th: DataFrame, keys: list[str], scale: float
) -> DataFrame:
    """Shared pairwise estimator over a DISTINCT ``(*keys, event_type,
    h)`` sample frame — whole-range (keys=[]) and day-windowed
    (keys=["day"]) forms spell the same algebra through one copy."""
    per_type = th.groupBy(*keys, "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    pairs = (
        th.groupBy(*keys, "h")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
        .where(F.size("types") > 1)
        .select(
            *keys,
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("types"),
                        lambda a: F.transform(
                            F.filter(F.col("types"), lambda b: b > a),
                            lambda b: F.struct(
                                a.alias("type_a"), b.alias("type_b")
                            ),
                        ),
                    )
                )
            ).alias("pr"),
        )
        .groupBy(*keys, "pr.type_a", "pr.type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("m_both"))
    )
    pop = F.broadcast(per_type)
    a = pop.select(
        *[F.col(k).alias(f"_ka_{k}") for k in keys],
        F.col("event_type").alias("type_a"),
        F.col("m").alias("m_a"),
    )
    b = pop.select(
        *[F.col(k).alias(f"_kb_{k}") for k in keys],
        F.col("event_type").alias("type_b"),
        F.col("m").alias("m_b"),
    )
    joined = pairs.join(
        a,
        [pairs["type_a"] == a["type_a"]]
        + [pairs[k] == a[f"_ka_{k}"] for k in keys],
    ).join(
        b,
        [pairs["type_b"] == b["type_b"]]
        + [pairs[k] == b[f"_kb_{k}"] for k in keys],
    )
    return joined.select(
        *[pairs[k] for k in keys],
        pairs["type_a"],
        pairs["type_b"],
        "m_a",
        "m_b",
        "m_both",
        (F.col("m_a") * scale).alias("est_a"),
        (F.col("m_b") * scale).alias("est_b"),
        (F.col("m_both") * scale).alias("est_both"),
        ((F.col("m_a") + F.col("m_b") - F.col("m_both")) * scale).alias(
            "est_union"
        ),
        (
            F.col("m_both").cast("double")
            / (F.col("m_a") + F.col("m_b") - F.col("m_both")).cast("double")
        ).alias("est_jaccard"),
    )


def rolling_theta_overlap(
    ledger: DataFrame,
    window_days: int = 7,
    *,
    num: int = THETA_NUM,
    den: int = THETA_DEN,
) -> DataFrame:
    """Per-day TRAILING-WINDOW pairwise overlap estimates — the rolling
    audience-overlap metric ("7-day Jaccard between segments, daily")
    from the ledger alone: the same explode + broadcast-semi-join
    window engine as the HLL/QSK rolling readouts builds a per-day
    distinct sample frame (a key active on several window days counts
    once — set semantics, deduped by the distinct), then the shared
    pairwise estimator runs grouped by day. Output: ``(day, type_a,
    type_b, m_*, est_*)`` — same columns as :func:`theta_overlap` plus
    ``day``."""
    if not 1 <= num < den:
        raise ValueError(f"need 1 <= num < den, got num={num} den={den}")
    th = _trailing(ledger, window_days, "event_type", "h").distinct()
    return _theta_pairwise(th, ["day"], float(den) / float(num))


def theta_rollup_distinct(
    ledger: DataFrame, *, num: int = THETA_NUM, den: int = THETA_DEN
) -> DataFrame:
    """Per-segment and all-segments distinct-key estimates from the
    ledger (the union side of the algebra — what HLL also gives, here
    from the same state that serves intersections). Output: ``(scope,
    m, est_distinct)`` with 'type:<event_type>' rows plus 'total'."""
    if not 1 <= num < den:
        raise ValueError(f"need 1 <= num < den, got num={num} den={den}")
    scale = float(den) / float(num)
    th = ledger.select("event_type", "h").distinct()
    per = th.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    ).select(
        F.concat(F.lit("type:"), F.col("event_type")).alias("scope"), "m"
    )
    tot = (
        ledger.select("h")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .select(F.lit("total").alias("scope"), "m")
    )
    return per.unionByName(tot).select(
        "scope", "m", (F.col("m") * scale).alias("est_distinct")
    )


def _theta_merge(stored: DataFrame, delta: DataFrame, **_) -> DataFrame:
    # set union IS distinct — idempotent, hence replay-safe by algebra
    return (
        stored.select("day", "event_type", "h").unionByName(delta).distinct()
    )


def _theta_check(
    back: DataFrame, num: int, den: int, **_
) -> tuple[int, str | None]:
    """Every stored hash must satisfy the claimed keep-predicate ``h mod
    den < num``. A ledger sampled at a LOWER rate than claimed can slip
    through when its kept set is a subset of the claimed one (documented
    residual, like the CMS width-larger case); a higher-rate or
    wrong-hash ledger is caught."""
    s = back.agg(
        F.count(F.lit(1)).alias("n"),
        _n_true(~(F.pmod(F.col("h"), F.lit(den)) < F.lit(num))).alias("bad"),
    ).first()
    if not s["bad"]:
        return s["n"], None
    return s["n"], (
        f"{s['bad']} stored hash(es) violate the claimed sampling "
        f"predicate (h mod {den} < {num}); pass the num/den the "
        "ledger was built with"
    )


THETA = LedgerKind(
    "theta",
    doc="""Sampled key hashes per (day, event_type) for set algebra:
    ``(day, event_type, h)``, the sampling rate num/den in the sidecar.
    The merge is distinct-union, which is IDEMPOTENT — unlike CMS/QSK
    counts, a replayed batch cannot drift a theta ledger, so the
    applied-batch marker is purely a cost guard.""",
    columns=lambda **_: ("day", "event_type", "h"),
    build=daily_theta_sketches,
    merge=_theta_merge,
    check=_theta_check,
    config={
        "key_col": "user_id",
        "type_col": "event_type",
        "ts_col": "ts",
        "num": THETA_NUM,
        "den": THETA_DEN,
    },
)


def ledger_percentiles(
    ledger: DataFrame,
    keys: tuple[str, ...] = ("day", "event_type"),
    qs: tuple[float, ...] = (0.5,),
    *,
    k: int = QSK_SUB_BUCKETS,
) -> DataFrame:
    """Percentile estimates grouped by arbitrary ledger key columns —
    the generic readout behind :func:`rolling_percentiles` (day windows)
    and :func:`rollup_percentiles` (type/total scopes); the streaming
    ingest audit reads per-(day, type) medians through this. Output:
    ``(keys..., n, p*...)``."""
    grouped = ledger.groupBy(*keys, "b").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return _qsk_percentiles_from_buckets(grouped, list(keys), qs, k)


def sketch_ledger_retention(path: str, *, keep_days: int) -> list[str]:
    """Retention GC for ANY day-partitioned sketch ledger — all seven
    kinds share the ``day=YYYY-MM-DD`` layout, so one function serves
    them all (the ledger sibling of
    ``timetravel.vacuum_versions``, round-9): drop day partitions older
    than ``keep_days`` behind the NEWEST stored day. The horizon is
    DATA-relative, not wall-clock — deterministic for a given store, so
    tests and replays see stable results. Returns the deleted day
    names, oldest first.

    A trailing-window serving query over the retained horizon is
    unaffected as long as ``keep_days`` ≥ its window (the rolling
    readers derive output days from stored leaves, so pruned history
    simply falls out of scope). Entry-time torn-commit repair runs
    first, exactly like the maintenance entry points; the single-writer
    contract applies here too (retention racing an upsert could delete
    a day the upsert is re-staging)."""
    if keep_days < 1:
        raise ValueError(f"keep_days must be >= 1, got {keep_days}")
    if not os.path.isdir(path):
        raise ValueError(f"no ledger at {path}")
    sketch_ledger_repair(path)
    days = []
    for name in os.listdir(path):
        m = re.fullmatch(r"day=(\d{4}-\d{2}-\d{2})", name)
        if m:
            days.append(m.group(1))
    if not days:
        return []
    newest = max(datetime.date.fromisoformat(d) for d in days)
    cutoff = newest - datetime.timedelta(days=keep_days - 1)
    doomed = sorted(
        d for d in days if datetime.date.fromisoformat(d) < cutoff
    )
    try:
        for d in doomed:
            shutil.rmtree(os.path.join(path, f"day={d}"))
    finally:
        if doomed:
            cache.invalidate(path)
    return doomed


# ---------------------------------------------------------------------------
# Heavy-hitters (top-k) summary ledger (round 9): the TOP-K sibling —
# "daily top users/URLs/tokens" without a log rescan per question
# ---------------------------------------------------------------------------
#
# HLL answers distinct, CMS answers point frequency, QSK answers ranks,
# theta answers set algebra; none answers "WHICH keys are the heaviest"
# from stored state. The batch Misra-Gries operator
# (operators/heavyhitters.py — reference analogue: the pandas
# ``value_counts`` top-k report paths of similarity_search.py) is exact
# but rescans the corpus twice per question; a daily top-k monitor over
# 100 TB needs MERGEABLE per-day summaries instead. The form here is the
# classic mergeable heavy-hitters summary (Agarwal, Cormode, Huang,
# Phillips, Wei, Yi — "Mergeable Summaries", PODS 2012): each leaf
# computes the EXACT top-(k+1) counts of its (day, event_type) slice,
# SUBTRACTS the (k+1)-th count ``c*`` from the kept top-k (dropping
# non-positives) and records ``err = c*`` — the true Misra-Gries state.
# Per-summary invariants, both pinned structurally in tests and at
# write time:
#
#   (a) per key: counter ≤ true count ≤ counter + err (absent ≤ err);
#   (b) Σ counters + (k+1)·err ≤ n_events.
#
# (b) is what makes the error bound survive ARBITRARY merge trees: the
# merge rule (sum counters per key; subtract the (k+1)-th combined
# counter c_sub; err' = err_a + err_b + c_sub) removes ≥ (k+1)·c_sub of
# counter mass, so (b) telescopes and err ≤ n/(k+1) for EVERY stored
# summary — the textbook bound, by induction, not by tuning. (Storing
# exact top-k with err = c* instead satisfies (a) but breaks (b): a
# 9-equal-keys/k=8 slice has M + (k+1)·err ≈ 2n, and err then roughly
# doubles per merge level.) Every readout is interval arithmetic over
# leaf state: ``lb = Σ counters where present`` and ``ub = lb + Σ err``
# over the scope's leaves, so ub − lb = Σ err ≤ N/(k+1) — and
# EVERYTHING is deterministic integer arithmetic: the driver query
# carries a FULL exact SQL twin (DuckDB re-implements the identical
# summary algebra with window functions), a strictly stronger oracle
# than the CMS/theta tolerance twins.
#
# Scale shape: leaf build is one groupBy(day, type, key) count (the one
# wide shuffle, map-side combined) followed by a TWO-LEVEL in-array
# tournament for per-group top-(k+1) — level 1 takes each hash-bucket's
# local top inside a bounded aggregation buffer (a key lives in exactly
# one bucket, so bucket-top unions contain the group top), level 2
# merges ≤ ``buckets`` bounded arrays. No per-group row_number window
# (the coarse-window lint), no Python, no driver loop; readouts touch
# days×types×k rows of ledger state, never the log.

HH_K = 64
HH_BUCKETS = 256


def _hh_topn_arr(
    df: DataFrame, keys: list[str], n: int, buckets: int, via: str = "window"
) -> DataFrame:
    """Exact per-``keys``-group top-``n`` of a ``(*keys, _k, _c)`` counts
    frame under (count desc, key asc). Output: ``(*keys, _arr, _tot)`` where
    ``_arr`` is ascending by ``(nc = -count, k)`` (so position 1 is the
    heaviest) and ``_tot`` is the sum of ALL counts in the group, not
    just the kept top.

    Round-10: two implementations, picked by input size class.
    ``via="window"`` (the RAW-counts daily build): ``row_number() ≤ n``
    under the same total order — Spark's WindowGroupLimit runs a partial
    map-side top-n heap per group BEFORE the exchange (≤ n rows per
    group per task shuffle, vs the tournament's level-1 partial
    collect_list buffers, which held and shuffled ~D_group/``buckets``
    DISTINCT keys as arrays), then the final per-group cut; the kept ≤ n
    rows fold into the output array in a bounded aggregate, and ``_tot``
    joins back broadcast from a group-cardinality count aggregate.
    ``via="tournament"`` (ledger-sized READOUT merges — days×types×k
    rows at any scale): the original two-level collect_list tournament —
    fewer stages, measured faster on small inputs, and its level-1
    buffers are bounded by the ledger size itself."""
    item = F.struct(
        (-F.col("_c")).cast("long").alias("nc"), F.col("_k").alias("k")
    )
    if via == "window":
        w = Window.partitionBy(*keys).orderBy(
            F.col("_c").desc(), F.col("_k").asc()
        )
        kept = df.withColumn("_rk", F.row_number().over(w)).filter(
            F.col("_rk") <= n
        )
        arr = kept.groupBy(*keys).agg(
            F.array_sort(F.collect_list(item)).alias("_arr")
        )
        tot = df.groupBy(*keys).agg(F.sum("_c").cast("long").alias("_tot"))
        # null-safe attach: a NULL group key (null day/type) is its own
        # group under groupBy — a plain equi-join would drop it (the
        # tournament's pure-groupBy chain kept it; round-10 review)
        tot = tot.select(
            *[F.col(c).alias(f"_t_{c}") for c in keys], "_tot"
        )
        jcond = F.lit(True)
        for c in keys:
            jcond = jcond & F.col(c).eqNullSafe(F.col(f"_t_{c}"))
        return arr.join(F.broadcast(tot), jcond).select(
            *keys, "_arr", "_tot"
        )
    lvl1 = df.groupBy(
        *keys, F.pmod(F.xxhash64("_k"), F.lit(buckets)).alias("_bk")
    ).agg(
        F.slice(F.array_sort(F.collect_list(item)), 1, n).alias("_top"),
        F.sum("_c").cast("long").alias("_pn"),
    )
    return lvl1.groupBy(*keys).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("_top"))), 1, n
        ).alias("_arr"),
        F.sum("_pn").cast("long").alias("_tot"),
    )


def daily_hh_sketches(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    k: int = HH_K,
    buckets: int = HH_BUCKETS,
) -> DataFrame:
    """ONE pass over the event log → the heavy-hitters leaf ledger
    ``(day, event_type, n_events, items, err)``: ``items`` the
    Misra-Gries counters of the slice — exact top-``k`` ``(k: key, c:
    count − err)`` pairs under (count desc, key asc), with ``err`` the
    (k+1)-th count subtracted so invariants (a)/(b) of the section
    comment hold (0 when the slice has ≤ k distinct keys — the leaf is
    then a complete, EXACT census). NULL keys are dropped entirely (a
    NULL heavy hitter is a data-quality signal — ``r_table_profile``
    territory), so ``n_events`` counts non-null-key rows and the bound
    algebra stays consistent. ``buckets`` is an execution knob
    (tournament fan-in), not a semantic parameter — results are
    identical for any value."""
    if not 1 <= k <= 65536:
        raise ValueError(f"k must be in [1, 65536], got {k}")
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    cnts = (
        events.select(
            F.to_date(ts_col).alias("day"),
            F.col(type_col).alias("event_type"),
            F.col(key_col).cast("string").alias("_k"),
        )
        .filter(F.col("_k").isNotNull())
        .groupBy("day", "event_type", "_k")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    arr = _hh_topn_arr(cnts, ["day", "event_type"], k + 1, buckets)
    c_star = (
        F.when(F.size("_arr") > k, -F.element_at("_arr", k + 1)["nc"])
        .otherwise(F.lit(0))
        .cast("long")
    )
    return arr.select(
        "day",
        "event_type",
        F.col("_tot").alias("n_events"),
        F.filter(
            F.transform(
                F.slice("_arr", 1, k),
                lambda x: F.struct(
                    x["k"].alias("k"),
                    (-x["nc"] - c_star).cast("long").alias("c"),
                ),
            ),
            lambda x: x["c"] > 0,
        ).alias("items"),
        c_star.alias("err"),
    )


def _hh_scope_bounds(
    u: DataFrame, keys: list[str], top_n: int, buckets: int
) -> DataFrame:
    """Shared readout: ``u`` holds ``(*keys, n_events, err, items)``
    summary rows; per ``keys`` group, merge by the interval algebra
    (lb = Σ present counts, ub = lb + Σ err) and keep the top ``top_n``
    by (lb desc, key asc). Output: ``(*keys, rank, key, lb, ub)``."""
    tot = u.groupBy(*keys).agg(
        F.sum("err").cast("long").alias("_err_total")
    )
    lbs = (
        u.select(*keys, F.explode("items").alias("it"))
        .groupBy(*keys, F.col("it.k").alias("_k"))
        .agg(F.sum("it.c").cast("long").alias("_c"))
    )
    # ledger-sized input (days×types×k rows) — the tournament's two hash
    # aggregates beat the window's extra stages here (round-10 A/B)
    arr = _hh_topn_arr(lbs, keys, top_n, buckets, via="tournament")
    return (
        arr.select(*keys, F.posexplode("_arr"))
        .join(F.broadcast(tot), keys)
        .select(
            *keys,
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("col.k").alias("key"),
            (-F.col("col.nc")).cast("long").alias("lb"),
            (-F.col("col.nc") + F.col("_err_total"))
            .cast("long")
            .alias("ub"),
        )
    )


def hh_rollup(
    ledger: DataFrame, top_n: int = 20, *, buckets: int = HH_BUCKETS
) -> DataFrame:
    """Re-aggregability readout: whole-range top-``top_n`` keys per
    event_type AND all-types total, every number an interval merge over
    the SAME leaves — no raw-log pass (a total top-k is NOT derivable
    from per-type top-k lists alone; only from summary state with error
    accounting). Output: ``(scope, rank, key, lb, ub)`` with scope
    'type:<event_type>' rows plus 'total' rows, ranked by (lb desc, key
    asc). Contract: exact count ∈ [lb, ub] for every returned key, and
    ub − lb = Σ err over the scope's leaves ≤ N_scope/(k+1)."""
    base = ledger.select("event_type", "n_events", "err", "items")
    u = base.select(
        F.concat(F.lit("type:"), F.col("event_type")).alias("scope"),
        "n_events",
        "err",
        "items",
    ).unionByName(
        base.select(
            F.lit("total").alias("scope"), "n_events", "err", "items"
        )
    )
    return _hh_scope_bounds(u, ["scope"], top_n, buckets)


def rolling_hh(
    ledger: DataFrame,
    window_days: int = 7,
    top_n: int = 20,
    *,
    buckets: int = HH_BUCKETS,
) -> DataFrame:
    """Per-day TRAILING-WINDOW top keys — the daily "top users this
    week" monitor from the ledger alone: the same explode +
    broadcast-semi-join window engine as the HLL/QSK/theta rolling
    readouts, then the shared interval-merge readout grouped by day.
    Output: ``(day, rank, key, lb, ub)``; same bound contract as
    :func:`hh_rollup` per window."""
    contrib = _trailing(ledger, window_days, "n_events", "err", "items")
    return _hh_scope_bounds(contrib, ["day"], top_n, buckets)


def _hh_merge(
    stored: DataFrame, delta: DataFrame, *, k: int, buckets: int, **_
) -> DataFrame:
    """Same-day summary merge (late data / micro-batches) — the PODS'12
    mergeable-summaries rule: sum counters per key, find ``c_sub`` = the
    (k+1)-th combined counter (0 when ≤ k keys survive), SUBTRACT it
    from every kept counter and drop non-positives, and fold it into the
    error term: ``err' = err_a + err_b + c_sub``. The subtraction is
    what keeps the error ADDITIVELY bounded under arbitrary merge trees
    ((k+1)·err ≤ n_events holds for every stored summary, pinned in
    tests); counters remain lower bounds throughout. Deterministic and
    layout-independent: counter sums are exact and the tournament
    tie-break is total."""
    u = stored.select(
        "day", "event_type", "n_events", "items", "err"
    ).unionByName(delta.select(
        "day", "event_type", "n_events", "items", "err"
    ))
    meta = u.groupBy("day", "event_type").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("err").cast("long").alias("_err_in"),
    )
    cnts = (
        u.select("day", "event_type", F.explode("items").alias("it"))
        .groupBy("day", "event_type", F.col("it.k").alias("_k"))
        .agg(F.sum("it.c").cast("long").alias("_c"))
    )
    # ledger-sized merge input (summary items of the touched days) —
    # tournament form, same reasoning as the rollup readout
    arr = _hh_topn_arr(
        cnts, ["day", "event_type"], k + 1, buckets, via="tournament"
    ).drop("_tot")
    empty = F.expr("array()").cast(
        "array<struct<nc:bigint,k:string>>"
    )
    # left join: a group whose every item was subtracted away on a
    # previous merge has summary rows but no exploded counters
    joined = meta.join(arr, ["day", "event_type"], "left").select(
        "day",
        "event_type",
        "n_events",
        "_err_in",
        F.coalesce(F.col("_arr"), empty).alias("_arr"),
    )
    c_sub = (
        F.when(
            F.size("_arr") > k, -F.element_at("_arr", k + 1)["nc"]
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    items = F.filter(
        F.transform(
            F.slice("_arr", 1, k),
            lambda x: F.struct(
                x["k"].alias("k"),
                (-x["nc"] - c_sub).cast("long").alias("c"),
            ),
        ),
        lambda x: x["c"] > 0,
    )
    return joined.select(
        "day",
        "event_type",
        "n_events",
        items.alias("items"),
        (F.col("_err_in") + c_sub).cast("long").alias("err"),
    )


def _hh_check(back: DataFrame, k: int, **_) -> tuple[int, str | None]:
    """No summary may hold MORE than ``k`` items, every stored counter
    must be positive, ``err`` non-negative, and the mass invariant (b) —
    ``Σ counters + (k+1)·err ≤ n_events`` — must hold per summary row
    under the claimed ``k`` (the invariant the merge bound telescopes
    through; a k LARGER than the build's inflates the (k+1)·err term and
    is caught here whenever any summary evicted). A SMALLER-k claim on an
    eviction-free ledger is not detectable from the frame (documented
    residual, like the CMS width-larger case)."""
    mass = F.coalesce(
        F.aggregate(
            "items",
            F.lit(0).cast("long"),
            lambda acc, x: acc + x["c"],
        ),
        F.lit(0).cast("long"),
    )
    s = back.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.max(F.size("items")), F.lit(0)).alias("max_items"),
        F.coalesce(F.min("err"), F.lit(0)).alias("min_err"),
        F.coalesce(
            F.min(
                F.coalesce(
                    F.array_min(F.transform("items", lambda x: x["c"])),
                    F.lit(1).cast("long"),
                )
            ),
            F.lit(1).cast("long"),
        ).alias("min_c"),
        _n_true(
            mass + F.lit(k + 1) * F.col("err") > F.col("n_events")
        ).alias("bad_mass"),
    ).first()
    if not s["n"] or not (
        s["max_items"] > k
        or s["min_err"] < 0
        or s["min_c"] < 1
        or s["bad_mass"]
    ):
        return s["n"], None
    return s["n"], (
        f"heavy-hitters ledger summaries (max items "
        f"{s['max_items']}, min err {s['min_err']}, min "
        f"counter {s['min_c']}, mass-invariant violations "
        f"{s['bad_mass']}) do not fit the claimed k={k}; "
        "pass the k the ledger was built with"
    )


HH = LedgerKind(
    "hh",
    doc="""Heavy hitters per (day, event_type): ``(day, event_type,
    n_events, items, err)`` Misra-Gries summaries, merged by the PODS'12
    compress rule of :func:`_hh_merge`. Like CMS/QSK counts — and unlike
    HLL register max / theta distinct-union — summary counters are NOT
    replay-safe by algebra (a replayed batch inflates counts), so the
    applied-batch marker guards correctness. ``buckets`` is the merge's
    tournament fan-in: an execution knob, not recorded.""",
    columns=lambda **_: ("day", "event_type", "n_events", "items", "err"),
    build=daily_hh_sketches,
    merge=_hh_merge,
    check=_hh_check,
    config={
        "key_col": "user_id",
        "type_col": "event_type",
        "ts_col": "ts",
        "k": HH_K,
    },
    knobs={"buckets": HH_BUCKETS},
)


def hh_estimate(
    ledger: DataFrame, keys: DataFrame, key_col: str
) -> DataFrame:
    """Point INTERVAL estimates for a SMALL candidate key frame from the
    heavy-hitters ledger — the MG analogue of :func:`cms_estimate`
    (which bounds from above only; MG bounds from BOTH sides): per
    candidate, ``lb`` = Σ stored counters across all leaves (0 when the
    key never survived any summary) and ``ub`` = lb + Σ err over ALL
    leaves — whole-range scope, true count ∈ [lb, ub] by invariant (a).
    Returns ``(key_col, lb, ub)``. The candidate frame is broadcast
    (candidates come from a business list or a CMS screen); the err
    total is a 1-row broadcast scalar. Intersecting with a CMS probe —
    ``[hh_lb, min(cms_est, hh_ub)]`` — tightens both, since the two
    ledgers err in opposite directions."""
    cand = keys.select(
        F.col(key_col).cast("string").alias("_k")
    ).distinct()
    lbs = (
        ledger.select(F.explode("items").alias("it"))
        .select(F.col("it.k").alias("_k"), F.col("it.c").alias("_c"))
        .join(F.broadcast(cand), "_k", "left_semi")
        .groupBy("_k")
        .agg(F.sum("_c").cast("long").alias("lb"))
    )
    err_total = ledger.agg(
        F.coalesce(F.sum("err"), F.lit(0)).cast("long").alias("_err_total")
    )
    return (
        cand.join(lbs, "_k", "left")
        .crossJoin(F.broadcast(err_total))
        .select(
            F.col("_k").alias(key_col),
            F.coalesce("lb", F.lit(0).cast("long")).alias("lb"),
            (F.coalesce("lb", F.lit(0).cast("long")) + F.col("_err_total"))
            .cast("long")
            .alias("ub"),
        )
    )


def rolling_hh_by_type(
    ledger: DataFrame,
    window_days: int = 7,
    top_n: int = 20,
    *,
    buckets: int = HH_BUCKETS,
) -> DataFrame:
    """Per-event_type trailing-window top keys — the HH sibling of
    :func:`rolling_distinct_by_type` / :func:`rolling_percentiles_by_type`
    (API symmetry across the ledger family): the same explode +
    broadcast-semi-join window engine, interval-merged per (day, type).
    Output: ``(day, event_type, rank, key, lb, ub)``; the bound contract
    of :func:`hh_rollup` holds per (window, type) scope."""
    contrib = _trailing(
        ledger, window_days, "event_type", "n_events", "err", "items"
    )
    return _hh_scope_bounds(contrib, ["day", "event_type"], top_n, buckets)


# ---------------------------------------------------------------------------
# Deterministic row-sample ledger (round 9): APPROXIMATE QUERY PROCESSING —
# ad-hoc grouped aggregates from stored state at 1/p of the scan cost
# ---------------------------------------------------------------------------
#
# The five ledgers above each answer ONE question family from mergeable
# state (distinct / frequency / quantiles / set algebra / top-k). The
# question they cannot answer is the AD-HOC one: "average value per
# event_type last week", "revenue share by a grouping nobody
# pre-aggregated". The classic scale answer (BlinkDB, Agarwal et al.,
# EuroSys 2013 — public) is a maintained UNIFORM SAMPLE: keep row r iff
# ``xxhash64(id(r)) mod den < num`` (rate p = num/den over a UNIQUE row
# id, so membership is a pure row function — deterministic, the repo's
# oracle bar), estimate with Horvitz-Thompson scaling: est_count = n/p,
# est_sum = Σv/p, est_avg = Σv/n (the ratio estimator needs no
# scaling). Relative error ~ sqrt((1-p)/(p·n_group)) — the dial is
# num/den exactly as for the theta ledger (p = 2^-8..2^-12 at 100 TB).
#
# Ledger shape: the sampled rows THEMSELVES, day-partitioned, with the
# payload columns a serving tier queries. The merge is distinct-union
# on (day, id) — IDEMPOTENT, hence replay-safe by algebra (the theta
# property; re-applying a batch cannot change the sample), persisted
# through the same staged day-swap engine. The map-side sample filter
# runs at the scan — the build plans NO shuffle at all (a filtered
# projection), which is the whole maintenance story.

SAMPLE_NUM = 3
SAMPLE_DEN = 4


def daily_sample_rows(
    events: DataFrame,
    *,
    id_col: str = "event_id",
    ts_col: str = "ts",
    payload: tuple[str, ...] = ("event_type", "value"),
    num: int = SAMPLE_NUM,
    den: int = SAMPLE_DEN,
) -> DataFrame:
    """ONE filtered projection over the log → the sample ledger
    ``(day, id, *payload)``: rows whose unique ``id_col`` passes the
    fixed-threshold keep-predicate. NO aggregation, NO shuffle — at
    100 TB the build writes p·N rows and nothing else moves.
    ``id_col`` must be unique per row (sampling hashes row IDENTITY;
    hashing a non-unique column would correlate inclusion across
    duplicate rows and bias every estimate — the theta ledger is the
    key-sampling form)."""
    if not 1 <= num < den:
        raise ValueError(f"need 1 <= num < den, got num={num} den={den}")
    idc = F.col(id_col)
    return events.select(
        F.to_date(ts_col).alias("day"),
        idc.alias("id"),
        F.xxhash64(idc.cast("string")).alias("_h"),
        *[F.col(c) for c in payload],
    ).filter(F.pmod(F.col("_h"), F.lit(den)) < F.lit(num)).drop("_h")


def sample_grouped_stats(
    ledger: DataFrame,
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    *,
    num: int = SAMPLE_NUM,
    den: int = SAMPLE_DEN,
) -> DataFrame:
    """Horvitz-Thompson grouped estimates from the sample ledger alone:
    ``(keys..., n_sampled, est_count, est_sum, est_avg)``. est_count
    and est_sum scale by 1/p; est_avg is the ratio estimator (sample
    mean — no scaling; NULL values contribute to neither numerator nor
    denominator, matching SQL AVG). A group with no sampled rows is
    absent (its est is 0); callers needing a full matrix left-join onto
    their group skeleton, the theta_overlap convention."""
    if not 1 <= num < den:
        raise ValueError(f"need 1 <= num < den, got num={num} den={den}")
    scale = float(den) / float(num)
    return ledger.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        (F.count(F.lit(1)) * scale).alias("est_count"),
        (F.sum(value_col) * scale).alias("est_sum"),
        F.avg(value_col).alias("est_avg"),
    )


def rolling_sample_stats(
    ledger: DataFrame,
    window_days: int = 7,
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    *,
    num: int = SAMPLE_NUM,
    den: int = SAMPLE_DEN,
) -> DataFrame:
    """Per-day TRAILING-WINDOW grouped estimates — ad-hoc AQP over time
    windows from the ledger alone: the same explode + broadcast-semi-join
    window engine as every other ledger readout, then the HT estimators
    per (day, *keys). Output: ``(day, keys..., n_sampled, est_count,
    est_sum, est_avg)``. Window semantics are ROW-scoped (each sampled
    row counts in every window day it falls in) — the estimators stay
    unbiased because inclusion is decided once per row, independent of
    the window."""
    contrib = _trailing(ledger, window_days, *keys, value_col)
    return sample_grouped_stats(
        contrib, ("day", *keys), value_col, num=num, den=den
    )


def _sample_merge(stored: DataFrame, delta: DataFrame, **_) -> DataFrame:
    # distinct-union on full rows, keyed by (day, id): a row id is
    # unique, so identical replayed rows collapse — idempotent, the
    # theta property (payload columns ride along unchanged)
    return stored.select(*delta.columns).unionByName(delta).distinct()


def _sample_check(
    back: DataFrame, num: int, den: int, **_
) -> tuple[int, str | None]:
    """Every stored id must satisfy the claimed keep-predicate, and ids
    must be UNIQUE — a duplicate id means the source id column was not a
    row identity and every estimate is biased (caught here, not in
    production reads). A lower-rate ledger can slip through a
    higher-rate claim (the theta residual)."""
    s = back.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("id").alias("n_ids"),
        _n_true(
            ~(
                F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(den))
                < F.lit(num)
            )
        ).alias("bad"),
    ).first()
    if not s["bad"] and s["n"] == s["n_ids"]:
        return s["n"], None
    return s["n"], (
        f"sample ledger violates its contract ({s['bad']} id(s) "
        f"outside the claimed keep-predicate h mod {den} < {num}; "
        f"{s['n'] - s['n_ids']} duplicate id(s)); pass the "
        "num/den the ledger was built with and a UNIQUE id column"
    )


SAMPLE = LedgerKind(
    "sample",
    doc="""Uniform row sample: ``(day, id, *payload)``, the sampling rate
    num/den in the sidecar. The merge is distinct-union on (day, id) —
    like theta, IDEMPOTENT: a replayed batch cannot change the sample, so
    the applied-batch marker is purely a cost guard.""",
    columns=lambda payload, **_: ("day", "id", *payload),
    build=daily_sample_rows,
    merge=_sample_merge,
    check=_sample_check,
    config={
        "id_col": "event_id",
        "ts_col": "ts",
        "payload": ("event_type", "value"),
        "num": SAMPLE_NUM,
        "den": SAMPLE_DEN,
    },
)


# ---------------------------------------------------------------------------
# Stratified bottom-k sample ledger (round 9): AQP that survives SKEW —
# rare strata stay EXACT, common strata are capped
# ---------------------------------------------------------------------------
#
# The uniform sample ledger above fails on rare groups: a stratum with
# 0.01% share keeps ~0 rows at p = 2^-8 and its ad-hoc estimates are
# garbage — the problem BlinkDB's stratified samples exist to solve.
# The deterministic form here is per-stratum BOTTOM-K BY HASH (the KMV
# idea): keep each (day, stratum)'s ``cap`` smallest ``xxhash64(id)``
# rows. A hash order is a random order, so the kept set is a simple
# random sample WITHOUT replacement of size m = min(cap, n_g) — the HT
# estimators scale by n_g/m, and a RARE stratum (n_g ≤ cap) keeps
# everything: scale 1, estimates EXACT. Each row carries the stratum's
# exact row count ``n`` (additive across merges), so no sidecar is
# needed. The merge is bottom-cap OF THE UNION with n summed —
# ASSOCIATIVE and IDEMPOTENT (replayed rows collapse by id before the
# cut), so the streamed ledger is BIT-EQUAL to a one-shot build, a
# strictly stronger parity than the uniform sample's.

STRATIFIED_CAP = 1024


def daily_stratified_sample(
    events: DataFrame,
    *,
    id_col: str = "event_id",
    ts_col: str = "ts",
    strata: tuple[str, ...] = ("event_type",),
    payload: tuple[str, ...] = ("value",),
    cap: int = STRATIFIED_CAP,
) -> DataFrame:
    """ONE pass over the log → the stratified sample ledger ``(day,
    *strata, n, id, h, *payload)``: per (day, strata) the ``cap``
    smallest-hash rows, every row stamped with the stratum's EXACT row
    count ``n``. ``id_col`` must be unique per row (hash of row
    identity — the uniform ledger's contract). Per-stratum bottom-cap
    is a rank-limit window (WindowGroupLimit: map-side partial top-cap
    heaps, then the per-group final cut — bounded task memory); the
    stratum's exact ``n`` joins back from a ledger-sized count
    aggregate."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    idc = F.col(id_col)
    rows = events.select(
        F.to_date(ts_col).alias("day"),
        *[F.col(c) for c in strata],
        idc.alias("id"),
        F.xxhash64(idc.cast("string")).alias("h"),
        *[F.col(c) for c in payload],
    )
    keys = ["day", *strata]
    # Round-10: the bottom-cap is a row_number() <= cap over (h, id) — a
    # TOTAL order since id is unique — which Spark's WindowGroupLimit
    # rewrites into a partial (map-side) top-cap heap per stratum before
    # the exchange plus a final per-group cut: bounded task memory like
    # the old two-level collect_list tournament, without materializing
    # and array-sorting whole level-1 buffers (0.64 -> measured faster at
    # sf0.1, identical output rows).
    w = Window.partitionBy(*keys).orderBy("h", "id")
    kept = (
        rows.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )
    counts = rows.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # null-safe attach: a NULL day/stratum is its own group under
    # groupBy — a plain equi-join would drop its sample (the old
    # tournament's pure-groupBy chain kept it; round-10 review)
    counts = counts.select(
        *[F.col(c).alias(f"_c_{c}") for c in keys], "n"
    )
    jcond = F.lit(True)
    for c in keys:
        jcond = jcond & F.col(c).eqNullSafe(F.col(f"_c_{c}"))
    return kept.join(F.broadcast(counts), jcond).select(
        *keys,
        "n",
        "id",
        "h",
        *[F.col(c) for c in payload],
    )


def stratified_grouped_stats(
    ledger: DataFrame,
    strata: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Per-stratum whole-range HT estimates from the stratified ledger:
    ``(*strata, n_exact, n_sampled, est_count, est_sum, est_avg,
    is_exact)``. ``est_count`` is the EXACT count (the ledger carries
    n), ``est_sum`` scales the sampled sum by Σn/Σm across the
    stratum's days (each day is an independent simple random sample, so
    per-day scaling sums; the pooled ratio below is the standard
    combined estimator), ``est_avg`` = est_sum/est_count. ``is_exact``
    is TRUE when every day of the stratum kept all its rows (m == n) —
    the rare-stratum guarantee."""
    per_day = ledger.groupBy("day", *strata).agg(
        F.first("n").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("_m"),
        F.sum(value_col).alias("_sv"),
    )
    est_day_sum = F.col("_sv") * (
        F.col("_n").cast("double") / F.col("_m").cast("double")
    )
    return (
        per_day.select(
            *strata,
            "_n",
            "_m",
            est_day_sum.alias("_est_s"),
            (F.col("_m") == F.col("_n")).alias("_full"),
        )
        .groupBy(*strata)
        .agg(
            F.sum("_n").cast("long").alias("n_exact"),
            F.sum("_m").cast("long").alias("n_sampled"),
            F.sum("_n").cast("double").alias("est_count"),
            F.sum("_est_s").alias("est_sum"),
            (F.sum("_est_s") / F.sum("_n")).alias("est_avg"),
            F.min("_full").alias("is_exact"),
        )
    )


def _stratified_merge(
    stored: DataFrame,
    delta: DataFrame,
    *,
    strata: tuple[str, ...],
    payload: tuple[str, ...],
    cap: int,
    **_,
) -> DataFrame:
    keys = ["day", *strata]
    cols = [*keys, "n", "id", "h", *payload]
    # n is additive ACROSS batches but constant WITHIN one side's
    # stratum rows: recover each side's per-stratum n, sum, restamp
    s_n = stored.groupBy(*keys).agg(F.first("n").alias("_sn"))
    d_n = delta.groupBy(*keys).agg(F.first("n").alias("_dn"))
    n_new = s_n.join(d_n, keys, "full_outer").select(
        *keys,
        (
            F.coalesce("_sn", F.lit(0)) + F.coalesce("_dn", F.lit(0))
        ).cast("long").alias("n"),
    )
    u = (
        stored.select(*cols)
        .unionByName(delta.select(*cols))
        .drop("n")
        .dropDuplicates([*keys, "id"])  # replayed rows collapse
    )
    item = F.struct(F.col("h"), F.col("id"), *[F.col(c) for c in payload])
    low = u.groupBy(*keys).agg(
        F.slice(F.array_sort(F.collect_list(item)), 1, cap).alias("_low")
    )
    return (
        low.join(n_new, keys)
        .select(*keys, "n", F.explode("_low").alias("_r"))
        .select(
            *keys,
            "n",
            F.col("_r.id").alias("id"),
            F.col("_r.h").alias("h"),
            *[F.col(f"_r.{c}").alias(c) for c in payload],
        )
    )


def _stratified_check(
    back: DataFrame, strata: tuple[str, ...], cap: int, **_
) -> tuple[int, str | None]:
    """Per (day, strata) at most ``cap`` rows, a single consistent ``n``
    with n ≥ m, unique ids, and ``h == xxhash64(id)`` recomputable for
    every row (a corrupted hash column would silently break the bottom-k
    merge order). The row count is Σm of the same per-stratum
    aggregate."""
    per = back.groupBy("day", *strata).agg(
        F.count(F.lit(1)).alias("m"),
        F.countDistinct("id").alias("m_ids"),
        F.countDistinct("n").alias("n_vals"),
        F.first("n").alias("n"),
        _n_true(F.col("h") != F.xxhash64(F.col("id").cast("string"))).alias(
            "bad_h"
        ),
    )
    s = per.agg(
        F.coalesce(F.sum("m"), F.lit(0)).alias("rows"),
        F.coalesce(F.max("m"), F.lit(0)).alias("max_m"),
        _n_true(
            (F.col("m") != F.col("m_ids"))
            | (F.col("n_vals") != 1)
            | (F.col("n") < F.col("m"))
            | (F.col("bad_h") > 0)
        ).alias("bad"),
    ).first()
    if not s["rows"] or (s["max_m"] <= cap and not s["bad"]):
        return s["rows"], None
    return s["rows"], (
        f"stratified ledger violates its contract (max stratum rows "
        f"{s['max_m']} vs cap {cap}; {s['bad']} stratum(s) "
        "with duplicate ids, inconsistent n, n < m, or a hash "
        "column that does not equal xxhash64(id)); pass the build "
        "configuration and a UNIQUE id column"
    )


STRATIFIED = LedgerKind(
    "stratified",
    doc="""Per-stratum bottom-k sample: ``(day, *strata, n, id, h,
    *payload)``, the strata, payload and cap in the sidecar. The merge is
    bottom-cap OF THE UNION with n summed — associative AND idempotent
    for the sampled ROWS (replayed rows collapse by id before the cut),
    so the streamed ledger is BIT-EQUAL to a one-shot build; the
    applied-batch marker guards only the additive ``n`` column (a
    replayed batch would double-count it, exactly the HLL n_events
    situation).""",
    columns=lambda strata, payload, **_: (
        "day", *strata, "n", "id", "h", *payload
    ),
    build=daily_stratified_sample,
    merge=_stratified_merge,
    check=_stratified_check,
    config={
        "id_col": "event_id",
        "ts_col": "ts",
        "strata": ("event_type",),
        "payload": ("value",),
        "cap": STRATIFIED_CAP,
    },
)

LEDGER_KINDS: dict[str, LedgerKind] = {
    k.name: k for k in (HLL, CMS, QSK, THETA, HH, SAMPLE, STRATIFIED)
}

