"""A warm query reuses the classes whole-stage codegen compiled for it.

Spark keeps compiled classes in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries (100 by default). The
``perfbench`` analytics mix needs more distinct classes than that, so
with the default every interleaved warm round evicted classes before
their next use and recompiled ~116 of them. ``get_spark`` sizes the cache
above the whole registry's working set.
"""

from __future__ import annotations

from vectordb_similarity_search_spark.plans import REGISTRY

from .conftest import SMOKE_SF

# the perfbench analytics mix, in its order
MIX = (
    "t_bm25_indexed",
    "r_rfm_segments",
    "d_ppjoin_pairs",
    "r_pricing_summary",
    "r_market_revenue",
)


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_warm_mix_compiles_no_classes(spark, count_codegen_compiles):
    """After one pass over the mix, a second pass compiles nothing.

    AQE is off for the two passes. With AQE on, the codegen stage ids
    inside d_ppjoin_pairs's plan follow the order in which its
    concurrently ready query stages get planned, so now and then a warm
    run meets a numbering it has not compiled yet (6 classes, in about
    one warm round of ten). Without AQE each plan is numbered once, so
    any compile in the second pass is an evicted class."""
    def run_mix():
        for q in MIX:
            REGISTRY[q].fn(spark, SMOKE_SF).write.format("noop").mode("overwrite").save()

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, cold = count_codegen_compiles(run_mix)
        _, warm = count_codegen_compiles(run_mix)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert warm == 0, (cold, warm)
