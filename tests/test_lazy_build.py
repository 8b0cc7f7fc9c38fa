"""Query BUILD must be plan-only for the SQL families: constructing the
DataFrame runs zero Spark jobs (eager .count()/.collect() at build time
bakes literals into the plan and puts driver-side jobs on the query path —
the anti-pattern previously fixed in r_intersect_except, s_sample_stratified
and t_exact_dedup).

Round 4: the exemption list shrank to ONE query. Query *parameters*
(_query_vec), z-score corpus stats (_zparams), ANN indexes and fitted
models are all memoized per session now, so the SECOND build of EVERY
catalog query — vector/ANN/model families included — must run zero jobs.
The plan-handle cache is cleared before that build, so the query function
really runs instead of returning its memoized DataFrame.
The single exception is d_dedup_keep: connected-components convergence is
an inherently iterative driver loop (documented in operators/dedup.py as
an offline algorithm, not a query path)."""

from __future__ import annotations

import pytest

from vectordb_similarity_search_spark import cache
from vectordb_similarity_search_spark.plans import REGISTRY

# build-time driver iteration is the algorithm itself here, not a fixable
# lookup: label propagation checks convergence with a bounded count() loop
ITERATIVE_BUILD = {
    "d_dedup_keep",
    "r_pagerank",
    "d_knn_components",
    "r_als_recs",
}


@pytest.mark.parametrize(
    "name", [n for n in REGISTRY if n not in ITERATIVE_BUILD]
)
def test_build_runs_no_jobs(spark, sf_dir, name, count_jobs):
    # warm: the first touch of a table pays spark.read.parquet's 1-task
    # schema-footer job (inherent to the reader, cached by load_table);
    # the first build of a parameterized/model query additionally pays its
    # memoized parameter fetch / model fit exactly once per session
    REGISTRY[name].fn(spark, sf_dir)
    # the probed build must really BUILD: without this it returns the
    # memoized plan handle and could never see a job
    cache.clear("plan")
    _, jobs = count_jobs(REGISTRY[name].fn, spark, sf_dir)
    assert jobs == 0, f"{name} ran {jobs} job(s) at plan build"


def test_widen_skips_derived_frames_without_jobs(spark, sf_dir, count_jobs):
    """Round-10 (ADVICE): widen()'s split-count probe goes through
    .rdd, which under AQE executes upstream shuffle stages. A derived
    (aggregated/joined) input must come back UNCHANGED with zero jobs;
    a scan-shaped input still widens."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.util import widen

    scan = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_type")
    derived = scan.groupBy("event_type").count()

    out, jobs = count_jobs(widen, derived)
    assert out is derived
    assert jobs == 0

    widened = widen(scan.filter(F.col("event_type").isNotNull()))
    assert "Repartition" in widened._jdf.queryExecution().analyzed().toString()
