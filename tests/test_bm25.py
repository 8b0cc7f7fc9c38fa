"""BM25 + RRF operator properties (the oracle pins exact values; these pin
semantics the oracle can't see)."""

from __future__ import annotations

import math

import pytest

from vectordb_similarity_search_spark.operators.bm25 import bm25_topk, rrf_fuse


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "apple banana cherry date"),
        (1, "apple apple apple banana"),
        (2, "cherry cherry cherry cherry"),
        (3, "unrelated words only here"),
        (4, ("apple banana " + "filler " * 50).strip()),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_matches_hand_computation(spark, corpus):
    got = {r.doc_id: r.bm25 for r in bm25_topk(corpus, ["apple"], k=5).collect()}
    # hand BM25: N=5, df=3, avgdl = (4+4+4+4+52)/5 = 13.6
    n, df, avgdl, k1, b = 5.0, 3.0, 13.6, 1.2, 0.75
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def s(tf, dl):
        return round(idf * (tf * 2.2) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)

    assert got[1] == s(3, 4)   # highest tf wins
    assert got[0] == s(1, 4)
    assert got[4] == s(1, 52)  # length-normalized below doc 0
    assert got[1] > got[0] > got[4]
    assert got[3] == 0.0       # no term → zero score


def test_rrf_union_semantics(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], "id long, rank_a int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "id long, rank_b int")
    got = {r.id: r.rrf for r in rrf_fuse(a, b, id_col="id", k=10).collect()}
    assert got[2] == round(1 / 62 + 1 / 61, 6)  # in both rankings
    assert got[1] == round(1 / 61, 6)           # only in a
    assert got[3] == round(1 / 62, 6)           # only in b
    assert got[2] > got[1] > got[3]


def test_bm25_requires_terms(spark, corpus):
    with pytest.raises(ValueError):
        bm25_topk(corpus, [])


def test_bm25_matches_python_reference_on_random_corpora(spark):
    """Randomized corpora: Spark BM25 == a straightforward pure-Python
    implementation, to round(6), for every doc and several term bags."""
    import math
    import random

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(1, 40))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    k1, b = 1.2, 0.75

    def py_bm25(terms):
        toks = {i: t.split() for i, t in docs}
        n = float(len(docs))
        avgdl = sum(len(v) for v in toks.values()) / n
        scores = {}
        for i, tk in toks.items():
            s = 0.0
            for term in terms:
                tf = float(tk.count(term))
                dfreq = float(sum(1 for v in toks.values() if term in v))
                idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
                s += idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * len(tk) / avgdl)
                )
            scores[i] = round(s, 6)
        return scores

    for terms in (["w0"], ["w1", "w2"], ["w3", "w4", "w5", "missing"]):
        want = py_bm25(terms)
        got = {
            r.doc_id: r.bm25
            for r in bm25_topk(df, terms, k=60).collect()
        }
        assert got == {i: want[i] for i in got}
        # top-k ordering respects the reference scores
        ordered = sorted(got, key=lambda i: (-got[i], i))
        assert ordered == sorted(want, key=lambda i: (-want[i], i))[: len(got)]


def test_alpha_fuse_normalization_and_missing_sides(spark):
    import pyspark.sql.functions as F  # noqa: F401

    from vectordb_similarity_search_spark.operators.bm25 import alpha_fuse

    a = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, 0.0)], "doc_id long, sa double"
    )
    b = spark.createDataFrame(
        [(2, 1.0), (3, 3.0), (4, 2.0)], "doc_id long, sb double"
    )
    rows = {
        r.doc_id: r.fused
        for r in alpha_fuse(
            a, b, id_col="doc_id", score_col_a="sa", score_col_b="sb",
            alpha=0.75, k=10,
        ).collect()
    }
    # a-normalized: 1:1.0 2:0.5 3:0.0 ; b-normalized: 2:0.0 3:1.0 4:0.5
    assert rows[1] == 0.75          # only side a
    assert rows[2] == 0.375         # 0.75*0.5 + 0.25*0.0
    assert rows[3] == 0.25          # 0.75*0.0 + 0.25*1.0
    assert rows[4] == 0.125         # only side b: 0.25*0.5


def test_alpha_fuse_degenerate_list_normalizes_to_zero(spark):
    from vectordb_similarity_search_spark.operators.bm25 import alpha_fuse

    a = spark.createDataFrame([(1, 7.0), (2, 7.0)], "doc_id long, sa double")
    b = spark.createDataFrame([(1, 1.0), (2, 2.0)], "doc_id long, sb double")
    rows = {
        r.doc_id: r.fused
        for r in alpha_fuse(
            a, b, id_col="doc_id", score_col_a="sa", score_col_b="sb",
            alpha=0.5, k=10,
        ).collect()
    }
    assert rows[1] == 0.0 and rows[2] == 0.5


def test_alpha_fuse_validates_alpha(spark):
    import pytest

    from vectordb_similarity_search_spark.operators.bm25 import alpha_fuse

    a = spark.createDataFrame([(1, 1.0)], "doc_id long, s double")
    with pytest.raises(ValueError, match="alpha"):
        alpha_fuse(a, a, id_col="doc_id", score_col_a="s", score_col_b="s",
                   alpha=1.5)


def test_dynamic_bm25_bit_matches_static(spark, sf_dir):
    """The dynamic-term scorer behind prf_expand_topk, fed the static
    term set (no expansion), must reproduce bm25_topk BIT-exactly (same
    rounded scores, same order): the 0.0 fold init and
    absent-term-part-is-0.0 are float identities."""
    from vectordb_similarity_search_spark.operators.bm25 import (
        bm25_topk,
        prf_expand_topk,
    )
    from vectordb_similarity_search_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    terms = ["table", "scan", "window"]
    static = [(r.doc_id, r.bm25) for r in bm25_topk(docs, terms, k=10).collect()]
    assert all(s > 0 for _, s in static)  # else zero-match docs could pad
    dyn = [
        (r.doc_id, r.bm25)
        for r in prf_expand_topk(docs, terms, k=10, n_expand=0).collect()
    ]
    assert dyn == static


def test_prf_expansion_changes_ranking_deterministically(spark, sf_dir):
    """PRF is reproducible AND actually expanded: if the expansion stage
    silently returned zero terms, the result would equal plain seed BM25
    (review find — the old assertion could not see that regression)."""
    from vectordb_similarity_search_spark.operators.bm25 import (
        bm25_topk,
        prf_expand_topk,
    )
    from vectordb_similarity_search_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = [(r.doc_id, r.bm25) for r in prf_expand_topk(docs, ["table", "scan"]).collect()]
    b = [(r.doc_id, r.bm25) for r in prf_expand_topk(docs, ["table", "scan"]).collect()]
    assert a == b and len(a) == 10
    seed_only = [
        (r.doc_id, r.bm25)
        for r in bm25_topk(docs, ["table", "scan"], k=10).collect()
    ]
    assert a != seed_only  # expansion terms contributed score


def test_prf_validation(spark, sf_dir):
    import pytest as _pytest

    from vectordb_similarity_search_spark.operators.bm25 import (
        prf_expand_topk,
    )
    from vectordb_similarity_search_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError):
        prf_expand_topk(docs, ["table"], fb_k=0)


def test_prf_tokenized_frame_inherits_input_parallelism(spark):
    """Round-10 (verdict #6) scale lint: prf_expand_topk's persisted
    tokenized frame must carry the INPUT's partitioning — no serializing
    operator between the corpus scan and the persist. At 100 TB the scan
    arrives with >= cores splits, so this property IS the guarantee that
    the three PRF stages never funnel through one task (the fixture's
    single-split local plan is the legitimate small case, which is why
    this pins partition inheritance rather than an absolute count)."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark import cache
    from vectordb_similarity_search_spark.operators import bm25

    docs = (
        spark.range(0, 2000)
        .repartition(8)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("alpha beta gamma delta doc "),
                F.col("id").cast("string"),
            ).alias("text"),
        )
    )
    cache.release()
    try:
        bm25.prf_expand_topk(docs, ["alpha"], k=5)
        frames = [
            f for lst in cache.PERSISTED._frames.values() for f in lst
        ]
        assert frames, "prf must persist its tokenized frame"
        assert all(f.rdd.getNumPartitions() >= 8 for f in frames), [
            f.rdd.getNumPartitions() for f in frames
        ]
    finally:
        cache.release()
