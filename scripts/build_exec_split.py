#!/usr/bin/env python
"""Split each query's per-run wall into BUILD (python-side plan
construction: the registry builder call, py4j expression-tree traffic)
vs EXEC (noop-sink execution of an already-built handle) — the guide
§1.2 "per-task work includes the driver's own per-run work" diagnostic
that motivated the registry plan cache.

Usage: python scripts/build_exec_split.py [--nocache] <query> [query ...]

--nocache drops the registry plan handles before each timed build so
every timed run pays full plan construction — the split then shows what
bench timed runs paid BEFORE the cache existed.
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from vectordb_similarity_search_spark.plans import REGISTRY  # noqa: E402
from vectordb_similarity_search_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    nocache = "--nocache" in args
    if nocache:
        args.remove("--nocache")
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="build_exec_split",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    from vectordb_similarity_search_spark import cache

    out: dict[str, dict[str, float]] = {}
    for name in names:
        fn = REGISTRY[name].fn
        # warm (build + exec once, untimed)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        builds, execs = [], []
        for _ in range(3):
            if nocache:
                cache.clear("plan")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        out[name] = {
            "build": round(min(builds), 3),
            "exec": round(min(execs), 3),
        }
        print(f"{name}: build {out[name]['build']} exec {out[name]['exec']}",
              flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
