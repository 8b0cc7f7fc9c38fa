"""Workload ``analytics``: cold then warm runs of a fixed registry mix.

In a process whose memo root is empty, build and first-execute every query
of the mix (the cold pass: registry build, any memo/index builds it triggers,
first execution with the result collected), then run warm rounds of the
same mix through the cached plan handles into the noop sink until
``--seconds`` have passed since the cold pass began (at least three rounds).
Results are checked against the DuckDB oracles after the timed phases.
"""

from __future__ import annotations

import os
import time

import datagen
from harness import cpu_s, median

SF = 0.002  # 12k lineitem rows; see perfbench/README.md for the sizing
WARM_ROUNDS_MIN = 3
SETUP_REPS = 3  # setup_s takes the median of these
MIX = [
    # cold-path leaders: memo or bound-fitting jobs at build time
    "t_bm25_indexed",
    "r_rfm_segments",
    # stage-bound: wall floored by per-stage scheduling
    "d_ppjoin_pairs",
    # controls with near-zero build cost
    "r_pricing_summary",
    "r_market_revenue",
]


def memo_usage(root: str) -> tuple[int, float]:
    """Count the package's ``vss_*`` memo directories under ``root`` and
    their size in MiB."""
    dirs, size = 0, 0
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if name.startswith("vss_") and os.path.isdir(path):
            dirs += 1
            for d, _, files in os.walk(path):
                size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return dirs, size / 2**20


def run(b) -> None:
    from vectordb_similarity_search_spark.plans import REGISTRY

    tr = b.tracer
    b.start_session()
    setups, setups_cpu = [], []
    for rep in range(SETUP_REPS):
        c0, t0 = cpu_s(), time.perf_counter()
        with tr.span("bench.tables_gen", op="setup"):
            sf_dir = os.path.join(b.scratch, f"tables{rep}")
            rows = datagen.write_tables(sf_dir, SF, b.seed)
        setups.append(time.perf_counter() - t0)
        setups_cpu.append(cpu_s() - c0)
    b.setup_metrics(setups, setups_cpu)
    b.info["tables_rows"] = rows["lineitem"]
    spark = b.spark

    from tracing import executor_totals

    counters0 = executor_totals(spark) if tr.enabled else None
    overhead0 = tr.overhead_s
    ops: dict[str, list[int]] = {q: [] for q in MIX}
    first: dict[str, object] = {}
    build_s: dict[str, float] = {}
    first_s: dict[str, float] = {}
    warm_s: dict[str, list[float]] = {q: [] for q in MIX}
    warm_cpu: dict[str, list[float]] = {q: [] for q in MIX}
    latencies: list[float] = []
    cpu: list[float] = []

    def cold(q):
        with tr.span("plans.build", op=f"{q}#cold", q=q):
            t0 = time.perf_counter()
            df = REGISTRY[q].fn(spark, sf_dir)
            build_s[q] = time.perf_counter() - t0
        with tr.span("spark.first", op=f"{q}#cold", q=q):
            return df.toPandas()

    def warm(q, r):
        with tr.span("plans.hit", op=f"{q}#w{r}", q=q):
            df = REGISTRY[q].fn(spark, sf_dir)
        with tr.span("spark.warm", op=f"{q}#w{r}", q=q):
            df.write.format("noop").mode("overwrite").save()

    t_cold = time.perf_counter()  # the warm rounds run until --seconds after this
    for q in MIX:
        op_id, out, dt, dc = b.op(q, cold, q)
        ops[q].append(op_id)
        latencies.append(dt)
        cpu.append(dc)
        if out is not None:
            first[q] = out
            first_s[q] = dt - build_s[q]
    cold_cpu = sum(cpu)
    memo_dirs, memo_mb = memo_usage(b.scratch)

    live = [q for q in MIX if q in first]
    r = 0
    while r < WARM_ROUNDS_MIN or time.perf_counter() - t_cold < b.seconds:
        for q in live:
            op_id, _, dt, dc = b.op(q, warm, q, r)
            ops[q].append(op_id)
            latencies.append(dt)
            cpu.append(dc)
            if op_id not in b.failed:
                warm_s[q].append(dt)
                warm_cpu[q].append(dc)
        r += 1
    busy = sum(latencies)
    overhead = tr.overhead_s - overhead0
    counters1 = executor_totals(spark) if tr.enabled else None

    # Correctness, untimed: each query's SQL oracle in DuckDB over the same
    # parquet files. (Every query of the mix has one; expected-output
    # fixture oracles only hold at the test data's scale.)
    from tests.oracle import _normalize, duck_con

    con = duck_con(sf_dir)
    for q, actual in first.items():
        expected = _normalize(con.execute(REGISTRY[q].oracle).fetchdf())
        if not b.check(q, "frame", _normalize(actual), expected):
            b.failed.update(ops[q])
    con.close()

    b.e2e.update({
        "cold_cpu_s": cold_cpu,
        "warm_cpu_s": sum(median(v) for v in warm_cpu.values() if v),
        "cpu_ms_per_op": sum(cpu) / len(cpu) * 1e3,
    })
    wall = {
        "wall.cold_total_s": sum(build_s[q] + first_s[q] for q in first),
        "wall.warm_total_s": sum(median(v) for v in warm_s.values() if v),
        "wall.ops_per_s": len(latencies) / busy,
    }
    b.info.update({
        **{k: round(v, 4) for k, v in wall.items()},
        "warm_rounds": r,
        "memo_dirs": memo_dirs,
        "queries": " ".join(MIX),
    })
    if not tr.enabled:
        return

    L = b.layer
    L.update(wall)
    L["session.start_s"] = tr.median_self("session.start")
    L["bench.tables_gen_s"] = tr.median_self("bench.tables_gen")
    L["plans.build_s"] = tr.total("plans.build", "self_s")
    L["plans.build_jobs"] = tr.total("plans.build", "jobs")
    L["plans.build_tasks"] = tr.total("plans.build", "tasks")
    L["plans.hit_ms"] = tr.median_self("plans.hit", 1e3)
    for q in MIX:
        L[f"plans.{q}.build_s"] = tr.total("plans.build", "self_s", q=q)
        L[f"plans.{q}.build_jobs"] = tr.total("plans.build", "jobs", q=q)
        L[f"spark.{q}.first_s"] = tr.total("spark.first", "self_s", q=q)
        L[f"spark.{q}.warm_s"] = tr.median_self("spark.warm", q=q)
    L["util.memo_dirs"] = memo_dirs
    L["util.memo_mb"] = memo_mb
    window = [s for s in tr.spans if s.op != "setup"]
    L["spark.jobs"] = sum(s.jobs for s in window)
    L["spark.stages"] = sum(s.stages for s in window)
    L["spark.tasks"] = sum(s.tasks for s in window)
    for k in counters1:
        L[f"spark.{k}"] = counters1[k] - counters0[k]
    L["trace.overhead_ratio"] = overhead / (busy - overhead)
