#!/usr/bin/env python
"""Per-query cost of registry queries in one session: BUILD (python-side
plan construction: the registry builder call, py4j expression-tree
traffic), EXEC (noop-sink execution of an already-built handle) and the
classes Janino compiled for each — the guide §1.2 "per-task work
includes the driver's own per-run work" diagnostic that motivated the
registry plan cache.

Protocol: each named query runs once, untimed (build + exec, the run
that compiles its generated classes); then three rounds run the named
queries in the given order, and the min of 3 of each part is reported.
That is bench.py's protocol (one warm run, then min of 3 into the noop
sink) except that the rounds interleave the queries the way a serving
session does, so ``compiles repeat`` (Janino compilations over the three
rounds) is 0 only if the session's codegen cache holds the classes of
every named query at once; anything else is recompilation of evicted
classes (or, under AQE, a new codegen stage numbering).

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
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    from vectordb_similarity_search_spark import cache

    builds = {name: [] for name in names}
    execs = {name: [] for name in names}
    first = {}
    repeat = dict.fromkeys(names, 0)
    for name in names:
        n0 = compiled().getCount()
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        first[name] = compiled().getCount() - n0
    for _ in range(3):
        for name in names:
            if nocache:
                cache.clear("plan")
            n0 = compiled().getCount()
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            repeat[name] += compiled().getCount() - n0
            builds[name].append(t1 - t0)
            execs[name].append(t2 - t1)
    out: dict[str, dict[str, float]] = {}
    for name in names:
        out[name] = {
            "build": round(min(builds[name]), 3),
            "exec": round(min(execs[name]), 3),
            "compiles_first": first[name],
            "compiles_repeat": repeat[name],
        }
        print(
            f"{name}: build {out[name]['build']} exec {out[name]['exec']} "
            f"compiles first {first[name]} repeat {repeat[name]}",
            flush=True,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
