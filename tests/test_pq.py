"""Product quantization: code size, ADC sanity, rescored exactness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectordb_similarity_search_spark.operators.pq import fit_pq, l2_normalized
from vectordb_similarity_search_spark.operators.topk import knn
from vectordb_similarity_search_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def model(spark, emb):
    return fit_pq(emb, m=8, k=16, seed=7)


def test_code_is_m_bytes(spark, emb, model):
    codes = model.encode(l2_normalized(emb))
    r = codes.select("pq_code").head()
    assert len(r.pq_code) == 8  # 64 float dims -> 8 bytes (32x vs float32)


def test_fit_rejects_indivisible_dims(spark, emb):
    with pytest.raises(ValueError, match="divisible"):
        fit_pq(emb, m=7)


def test_adc_rescored_matches_exact(spark, emb, model):
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    codes = model.encode(l2_normalized(corpus))
    want = [r.vec_id for r in knn(corpus, qv, 10).collect()]
    # rescore window sized ~25x k (standard ADC practice): exact top-k
    got = [
        r.vec_id
        for r in model.search(codes, corpus, qv, k=10, rescore=250).collect()
    ]
    assert got == want
    # the narrow window shows the tradeoff: high but not exact recall
    got100 = {
        r.vec_id
        for r in model.search(codes, corpus, qv, k=10, rescore=100).collect()
    }
    assert len(got100 & set(want)) >= 9


def test_codebooks_deterministic(spark, emb):
    a = fit_pq(emb, m=8, k=16, seed=7)
    b = fit_pq(emb, m=8, k=16, seed=7)
    assert np.array_equal(a.codebooks, b.codebooks)


def test_sorted_fit_is_layout_independent(spark, emb):
    """fit_pq trains on a hash-ordered sample, so the codebooks are a pure
    content function: reshuffling the corpus into a different partition
    layout must yield bit-identical codebooks without any sort (a bare
    limit() sample would not — it takes whatever partitions come first)."""
    a = fit_pq(emb, m=16, k=32, seed=42)
    b = fit_pq(emb.repartition(7), m=16, k=32, seed=42)
    assert np.array_equal(a.codebooks, b.codebooks)


def test_l2_metric_screens_by_distance(spark):
    """The reviewer scenario: an un-normalized corpus where large-dot
    vectors are FAR — the l2 screen must keep the true nearest."""
    import numpy as np

    rows = [(0, [1.0, 0.0] * 4)]  # the true nearest to q
    rng = np.random.default_rng(1)
    for i in range(1, 400):
        rows.append((i, [float(50.0 + rng.normal()), float(rng.normal())] * 4))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = fit_pq(df, m=4, k=16, normalize=False, seed=3)
    codes = model.encode(df, vec_col="embedding")
    q = [1.0, 0.0] * 4
    got = model.search(codes, df, q, k=1, rescore=20, metric="l2").collect()
    assert got[0].vec_id == 0


def test_kmeans_reaches_a_lloyd_fixed_point():
    """The matmul-form kernel against a broadcast brute-force reference:
    at convergence every point sits in its nearest cell and every centre
    is the mean of its cell, with no cell left empty."""
    from vectordb_similarity_search_spark.operators.pq import _kmeans

    rng = np.random.default_rng(5)
    blobs = rng.standard_normal((6, 8)) * 5.0
    X = np.repeat(blobs, 50, axis=0) + rng.standard_normal((300, 8))
    centers = _kmeans(X, 6, 100, np.random.default_rng(1))
    d2 = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    assert sorted(np.bincount(assign, minlength=6)) == [50] * 6
    for j in range(6):
        np.testing.assert_allclose(centers[j], X[assign == j].mean(axis=0), rtol=0, atol=1e-12)
    again = _kmeans(X, 6, 100, np.random.default_rng(1))
    assert np.array_equal(centers, again)
