"""Report rendering (S6) + vector-kernel property tests (hypothesis)."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from vectordb_similarity_search_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_distance,
    row_zscore_normalize,
)
from vectordb_similarity_search_spark.operators.cohort import PatientSimilaritySearch
from vectordb_similarity_search_spark.operators.report import render_search_report
from vectordb_similarity_search_spark.sources.synthetic import gen_hospital_patients


def test_render_search_report(spark):
    pts = gen_hospital_patients(
        spark, {"Hospital_A": 150, "Hospital_B": 150, "Hospital_C": 150}
    )
    engine = PatientSimilaritySearch(pts)
    hits, stats = engine.search_with_stats({"age": 60, "meld_score": 30}, top_k=5)
    text = render_search_report(hits, stats)
    assert "Rank 1:" in text and "Rank 5:" in text
    assert "transplant rate:" in text
    assert "%" in text or "n/a" in text
    # rank order in the report matches the hit order
    r1 = text.index("Rank 1:")
    r5 = text.index("Rank 5:")
    assert r1 < r5


vec = st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32).filter(
        lambda x: abs(x) > 1e-3
    ),
    min_size=4,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(vec)
def test_vector_kernel_properties(spark, v):
    df = spark.createDataFrame([(v, v)], "a array<double>, b array<double>")
    row = df.select(
        cosine_similarity("a", "b").alias("self_cos"),
        l2_distance("a", "b").alias("self_dist"),
        dot("a", "b").alias("self_dot"),
    ).head()
    assert math.isclose(row.self_cos, 1.0, rel_tol=1e-9)
    assert row.self_dist == 0.0
    assert math.isclose(row.self_dot, math.fsum(x * x for x in v), rel_tol=1e-9)


def test_row_zscore_matches_reference_semantics(spark):
    """Mean ~0, population std ~1 across the row's own components — the
    reference's :576 per-row normalize (documented quirk, kept only for
    migration parity)."""
    v = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame([(v,)], "a array<double>")
    out = df.select(row_zscore_normalize("a").alias("z")).head().z
    mean = sum(out) / len(out)
    var = sum((x - mean) ** 2 for x in out) / len(out)
    assert abs(mean) < 1e-9
    assert abs(var - 1.0) < 1e-6
