#!/usr/bin/env python3
"""Repository benchmark: one seeded, single-client, closed-loop workload per
run against the package's public functions.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Run it from the repository root. Every metric is printed by name with its
unit; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` carrying the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``, which also writes the spans under ``.perfbench_out/``).

Each run points ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` at a fresh directory
under ``.perfbench_tmp/`` and removes it afterwards, so the package's memo
directories start empty and no other ``vss_*`` directory is read or touched.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "vectordb_similarity_search_spark"
WORKLOADS = ("analytics", "vector_store")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    spec = load_spec()

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}_{args.seed}_", dir=tmp_root)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    tempfile.tempdir = None  # tempfile caches the directory; re-read TMPDIR
    sys.path.insert(0, ROOT)

    from harness import Bench

    t_start = time.perf_counter()
    bench = None
    try:
        bench = Bench(args, scratch)
        if args.workload == "analytics":
            import analytics as workload
        else:
            import vector_store as workload
        workload.run(bench)
        bench.e2e["jvm_heap_mb"] = bench.jvm_heap_mb()
        bench.layer["jvm.peak_rss_mb"] = bench.jvm_peak_rss_mb()
        missed = bench.check.self_check()
        if bench.tracer.enabled:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            bench.tracer.write(os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.jsonl"))
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(scratch, ignore_errors=True)
        if os.path.isdir(tmp_root) and not os.listdir(tmp_root):
            os.rmdir(tmp_root)

    bench.info["run_wall_s"] = round(time.perf_counter() - t_start, 1)
    failed = len(bench.failed)
    error_rate = failed / max(1, bench.attempted)
    section = "per_layer" if args.trace else "end_to_end"
    values = bench.layer if args.trace else bench.e2e
    metrics = {}
    for m in spec[section]:
        if m["name"] not in values and not args.trace:
            raise KeyError(f"workload {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}

    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
          f"trace {args.trace}  local[{bench.cores}]")
    for k, v in sorted(bench.info.items()):
        print(f"  info {k} = {v}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(f"  error_rate = {error_rate:.6g} ratio ({failed} failed of {bench.attempted} attempted)")
    for msg in bench.errors + bench.check.messages:
        print(f"  failed: {msg}")
    print(f"  self-check: {len(bench.check.samples) - len(missed)}/{len(bench.check.samples)} "
          f"perturbed answers reported as errors" + (f"; missed {missed}" if missed else ""))
    print(json.dumps({
        "correct": failed == 0 and not missed,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
