"""Sink + partition-pruning tests (SURVEY.md §2.1 S4): the reference's
in-memory dict store becomes hospital-partitioned parquet; a hospital-
restricted search must read only that partition's files."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from vectordb_similarity_search_spark.operators.topk import (
    similarity_join,
    similarity_join_blocked,
)
from vectordb_similarity_search_spark.sources.synthetic import gen_hospital_patients
from vectordb_similarity_search_spark.sources.tables import load_table


def test_partitioned_store_prunes(spark, tmp_path):
    pts = gen_hospital_patients(
        spark, {"Hospital_A": 200, "Hospital_B": 200, "Hospital_C": 200}
    )
    path = str(tmp_path / "store")
    pts.write.partitionBy("hospital").mode("overwrite").parquet(path)

    store = spark.read.parquet(path)
    assert store.count() == 600
    pruned = store.filter(F.col("hospital") == "Hospital_B")
    assert pruned.count() == 200
    # partition pruning must appear in the scan node (inputFiles() is
    # relation-level and reflects the store before pruning)
    from .test_plans import plan_of

    plan = plan_of(pruned)
    part_filters = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_filters and "hospital" in part_filters[0]


def test_blocked_similarity_join_matches_window_impl(spark, sf_dir):
    """The mapInPandas block-topk scale path must return the same neighbor
    sets (and near-identical scores) as the declarative window version."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.select("vec_id", "embedding")
    exact = {
        (r.query_id, r.rank): (r.vec_id, r.score)
        for r in similarity_join(q, corpus, k=5).collect()
    }
    blocked = {
        (r.query_id, r.rank): (r.vec_id, r.score)
        for r in similarity_join_blocked(q, corpus, k=5).collect()
    }
    assert set(exact) == set(blocked)
    for key, (vid, score) in exact.items():
        bvid, bscore = blocked[key]
        assert bvid == vid
        assert abs(bscore - score) < 1e-9
