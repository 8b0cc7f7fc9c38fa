"""Winnowing fingerprint guarantees + approx-distinct accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectordb_similarity_search_spark.operators.fingerprint import (
    fingerprint_overlap_pairs,
    with_fingerprints,
)
from vectordb_similarity_search_spark.plans import REGISTRY
from vectordb_similarity_search_spark.sources.tables import load_table


def test_identical_docs_share_all_fingerprints(spark):
    text = "spark window query batch filter join merge sort value table"
    df = spark.createDataFrame(
        [(1, text, "s"), (2, text, "s"),
         (3, "entirely different words elsewhere in vocabulary space here", "s")],
        "doc_id long, text string, source string",
    )
    fps = {r.doc_id: set(r.fp) for r in with_fingerprints(df).collect()}
    assert fps[1] == fps[2]
    assert not fps[1] & fps[3] or len(fps[1] & fps[3]) < len(fps[1]) // 2
    pairs = {(r.id_a, r.id_b) for r in
             fingerprint_overlap_pairs(df, min_shared=2).collect()}
    assert (1, 2) in pairs


def test_shared_substring_yields_shared_fingerprint(spark):
    """Winnowing guarantee: a shared run of length >= w+k-1 (=12 chars)
    produces at least one common fingerprint."""
    common = "abcdefghijklmnopqrstuvwxyz0123456789"
    df = spark.createDataFrame(
        [(1, "prefix one " + common, "s"), (2, common + " suffix two", "s")],
        "doc_id long, text string, source string",
    )
    fps = {r.doc_id: set(r.fp) for r in with_fingerprints(df).collect()}
    assert fps[1] & fps[2]


def test_postings_form_matches_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(100).cache()
    # inverted-index form: (doc_id, fingerprint) postings
    postings = with_fingerprints(docs, out_col="_fp").select(
        "doc_id", F.explode("_fp").alias("fp")
    )
    # docs sharing >=3 fingerprints via the inverted index
    a = postings.alias("a")
    b = postings.alias("b")
    via_index = (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.countDistinct("fp").alias("shared"))
        .filter(F.col("shared") >= 3)
    )
    got_idx = {(r.id_a, r.id_b) for r in via_index.collect()}
    got_pairs = {
        (r.id_a, r.id_b)
        for r in fingerprint_overlap_pairs(docs, min_shared=3, block_col=None).collect()
    }
    assert got_idx == got_pairs


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """Round-8 form: the query itself now carries the exact count and
    the ±5% contract as a driver-hashed boolean — this test re-derives
    the exact counts independently and pins both the boolean and the
    carried exact value against them."""
    rows = REGISTRY["r_approx_distinct"].fn(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    exact = {
        r.o_orderstatus: r.n
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert {r.o_orderstatus for r in rows} == set(exact)
    for r in rows:
        assert r.exact_customers == exact[r.o_orderstatus]
        assert r.approx_ok is True
