"""Property tests for the hash-sketch dedup operators — these pin the
correctness the DuckDB oracle can't (xxhash64 sketches have no SQL twin).
Baseline: the exact n-gram Jaccard pairs (oracle-checked separately)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectordb_similarity_search_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
)
from vectordb_similarity_search_spark.plans import REGISTRY
from vectordb_similarity_search_spark.sources.tables import load_table


import pytest


def test_minhash_lsh_finds_exact_high_jaccard_pairs(spark, sf_dir):
    """Every exact pair with J >= 0.5 must be recalled by the LSH operator
    (at 32 bands × 2 rows the miss probability at J=0.5 is ~(1-.25)^32 ≈ 1e-4)
    and every reported pair must meet the verify threshold (no false
    positives by construction)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = REGISTRY["t_ngram_jaccard_pairs"].fn(spark, sf_dir).collect()
    exact_high = {
        (r.doc_a, r.doc_b) for r in exact if r.jaccard >= 0.5
    }
    got = minhash_lsh_pairs(
        docs, threshold=0.3, bands=32, n_hashes=64
    ).collect()
    got_pairs = {(r.id_a, r.id_b) for r in got}
    assert exact_high <= got_pairs
    assert all(r.jaccard >= 0.3 for r in got)


def test_minhash_identical_docs_always_pair(spark):
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different content about spark engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_lsh_pairs(df).collect()}
    assert got.get((1, 2)) == 1.0
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_identical_docs_distance_zero(spark):
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "unrelated words entirely elsewhere totally distinct here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(df).collect()}
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got


def test_exact_dedup_drops_duplicates(spark):
    rows = [(1, "same"), (2, "same"), (3, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert exact_dedup(df, ["text"]).count() == 2


def test_embedding_neardup_self_similarity(spark):
    rows = [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b): r.cosine for r in
           embedding_neardup_pairs(df, threshold=0.9).collect()}
    assert got == {(1, 2): 1.0}


def test_embedding_neardup_zero_vector_is_null_not_error(spark):
    """A zero vector in the corpus must NOT raise DIVIDE_BY_ZERO under ANSI
    mode; its cosine is NULL (undefined) and the pair is filtered out."""
    rows = [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b): r.cosine for r in
           embedding_neardup_pairs(df, threshold=0.9).collect()}
    assert got == {(1, 2): 1.0}


def test_embedding_neardup_blocked_equals_exact(spark, sf_dir):
    """The block-grid BLAS path must reproduce the exact crossJoin baseline
    bit-for-bit (ids AND round-6 cosines), for several grid sizes —
    including n_blocks=1 (single cell) and n_blocks > distinct hash blocks."""
    from vectordb_similarity_search_spark.operators.dedup import (
        embedding_neardup_blocked,
    )
    from vectordb_similarity_search_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.id_a, r.id_b): r.cosine
             for r in embedding_neardup_pairs(emb, threshold=0.4).collect()}
    assert exact  # fixture must actually have qualifying pairs
    for nb in (1, 4, 8):
        got = {(r.id_a, r.id_b): r.cosine
               for r in embedding_neardup_blocked(
                   emb, threshold=0.4, n_blocks=nb).collect()}
        assert got == exact, f"n_blocks={nb}"


def test_embedding_neardup_blocked_zero_vector(spark):
    rows = [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.0, 0.0])]
    from vectordb_similarity_search_spark.operators.dedup import (
        embedding_neardup_blocked,
    )

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b): r.cosine
           for r in embedding_neardup_blocked(df, threshold=0.9, n_blocks=2).collect()}
    assert got == {(1, 2): 1.0}


def test_simhash_non_default_bits_roundtrip(spark):
    """n_bits != 64 must block over the actual signature width (the block
    keys derive from n_bits, so identical docs still collide and verify)."""
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "unrelated words entirely elsewhere totally distinct here now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_pairs(df, n_bits=32, n_blocks=4).collect()}
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got


def test_minhash_word_shingles_recall_and_exactness(spark):
    """Word-shingle mode: finds injected near-dups, agrees with an exact
    word-n-gram Jaccard computed in-process, and never emits a pair below
    threshold (verify removes banding false positives)."""
    import numpy as np

    from vectordb_similarity_search_spark.operators.dedup import (
        _shingle_set,
        minhash_lsh_pairs,
    )

    rng = np.random.default_rng(11)
    vocab = [f"w{i:04d}" for i in range(2000)]
    docs, texts = [], {}
    for i in range(200):
        toks = list(rng.choice(vocab, size=50))
        if i % 25 == 1:  # near-dup of the previous doc, one token changed
            toks = texts[i - 1].split()
            toks[0] = "CHANGED"
        texts[i] = " ".join(toks)
        docs.append((i, texts[i]))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(
            df, threshold=0.5, shingle_mode="word", shingle_n=3
        ).collect()
    }
    # exact word-trigram Jaccard over all pairs
    ss = {i: _shingle_set(t, 3, "word") for i, t in texts.items()}
    expected = {}
    for a in range(200):
        for b in range(a + 1, 200):
            inter = len(ss[a] & ss[b])
            j = inter / (len(ss[a]) + len(ss[b]) - inter)
            if j >= 0.5:
                expected[(a, b)] = round(j, 6)
    assert expected, "fixture must contain true near-dups"
    assert got == expected


def test_simhash_pigeonhole_recall(spark):
    """Simhash (xxhash64 family): pigeonhole recall on injected
    near-identical docs, no pair above max_hamming, and the bit arrays are
    valid simhash output (0/1, length 64)."""
    import numpy as np

    from vectordb_similarity_search_spark.functions.hashing import simhash_bits
    from vectordb_similarity_search_spark.functions.text import tokens

    rng = np.random.default_rng(3)
    vocab = [f"w{i:04d}" for i in range(2000)]
    texts = {}
    # 200-token docs: one changed token shifts each bit-sum by ±2 out of
    # ~sqrt(200) — expected hamming ~2 of 64, comfortably inside ham<=3
    for i in range(100):
        toks = list(rng.choice(vocab, size=200))
        if i % 20 == 1:  # near-dup: one token changed
            toks = texts[i - 1].split()
            toks[0] = "CHANGED"
        texts[i] = " ".join(toks)
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    bits = {
        r.doc_id: list(r.bits)
        for r in df.select("doc_id", simhash_bits(tokens("text")).alias("bits")).collect()
    }
    assert all(len(b) == 64 and set(b) <= {0, 1} for b in bits.values())

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(df).collect()
    }
    assert all(h <= 3 for h in got.values())
    # every injected pair whose true hamming <= 3 must be found (pigeonhole)
    for i in range(1, 100, 20):
        ham = sum(a != b for a, b in zip(bits[i - 1], bits[i]))
        if ham <= 3:
            assert (i - 1, i) in got and got[(i - 1, i)] == ham
    assert got, "expected at least one near-dup pair"


def test_dedup_clusters_transitive_chain(spark):
    """A 4-hop chain collapses to one cluster (requires >1 propagation
    round); disjoint pair stays its own cluster."""
    from vectordb_similarity_search_spark.operators.dedup import (
        dedup_clusters,
        dedup_keep_canonical,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 4, 5, 7, 10, 11]], "doc_id long, text string"
    )
    kept = sorted(
        r.doc_id for r in dedup_keep_canonical(docs, pairs).collect()
    )
    # one survivor per cluster (min id), untouched doc 7 passes through
    assert kept == [1, 7, 10]


class TestSemanticPrune:
    """SemDeDup-style cluster-blocked embedding dedup
    (operators/dedup.py::semantic_neardup_pairs, checked against the
    exact baseline ``embedding_neardup_pairs``)."""

    def test_pairs_subset_of_exact_and_same_cell_complete(self, spark):
        from vectordb_similarity_search_spark.operators.ann import ivf_fit
        from vectordb_similarity_search_spark.operators.dedup import (
            embedding_neardup_pairs,
            semantic_neardup_pairs,
        )
        from vectordb_similarity_search_spark.sources.tables import load_table

        from .conftest import SMOKE_SF

        emb = load_table(spark, SMOKE_SF, "embeddings")
        ivf = ivf_fit(emb, n_cells=4, seed=7)
        got = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in semantic_neardup_pairs(emb, ivf, threshold=0.4).collect()
        }
        exact = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_neardup_pairs(emb, threshold=0.4).collect()
        }
        # precision: every semantic pair is a true pair with the exact score
        for k, v in got.items():
            assert k in exact and exact[k] == v
        # completeness within cells: every exact pair whose ends share a
        # cell must be reported
        cells = {
            r["_id"]: r["c"]
            for r in ivf.assign(
                emb.selectExpr("vec_id as _id", "embedding"), "c"
            ).collect()
        }
        same_cell_exact = {
            k for k in exact if cells[k[0]] == cells[k[1]]
        }
        assert same_cell_exact <= set(got)
        # the approximation is doing real blocking work on this fixture
        assert len(got) >= 1

    def test_prune_keeps_canonical_per_cluster(self, spark):
        from vectordb_similarity_search_spark.operators.ann import ivf_fit
        from vectordb_similarity_search_spark.operators.dedup import (
            dedup_clusters,
            dedup_keep_canonical,
            semantic_neardup_pairs,
        )
        from vectordb_similarity_search_spark.sources.tables import load_table

        from .conftest import SMOKE_SF

        emb = load_table(spark, SMOKE_SF, "embeddings")
        ivf = ivf_fit(emb, n_cells=4, seed=7)
        pairs = semantic_neardup_pairs(emb, ivf, threshold=0.4)
        labels = dedup_clusters(pairs)
        n_losers = labels.filter("doc_id != cluster_id").count()
        kept = dedup_keep_canonical(emb, pairs, id_col="vec_id")
        assert kept.count() == emb.count() - n_losers
        # every cluster's canonical (min id) survives
        canon_ids = {r["cluster_id"] for r in labels.collect()}
        kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
        assert canon_ids <= kept_ids


def test_cross_neardup_flags_matches_bruteforce(spark, sf_dir):
    """Arrow-matmul flags == per-row brute force (best ref, threshold),
    and the corpus pass is shuffle-free."""
    import numpy as np

    from vectordb_similarity_search_spark.operators.dedup import (
        cross_neardup_flags,
    )
    from vectordb_similarity_search_spark.sources.tables import load_table

    from .conftest import plan_of

    emb = load_table(spark, sf_dir, "embeddings")
    refs = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    out = cross_neardup_flags(corpus.repartition(5), refs, 0.3)
    got = {r.vec_id: (r.eval_id, round(r.score, 6)) for r in out.collect()}

    R = {r.vec_id: np.array(r.embedding, float) for r in refs.collect()}
    want = {}
    for r in corpus.collect():
        v = np.array(r.embedding, float)
        nv = np.linalg.norm(v)
        if nv == 0:
            continue
        best = max(
            (
                (float(v @ w) / (nv * np.linalg.norm(w)), -rid)
                for rid, w in R.items()
            ),
        )
        s, rid = best[0], -best[1]
        if s >= 0.3:
            want[r.vec_id] = (rid, round(s, 6))
    assert got == want and len(got) > 0
    assert "Exchange" not in plan_of(cross_neardup_flags(corpus, refs, 0.3))


def test_cross_neardup_flags_rejects_empty_refs(spark, sf_dir):
    from vectordb_similarity_search_spark.operators.dedup import (
        cross_neardup_flags,
    )
    from vectordb_similarity_search_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="empty reference"):
        cross_neardup_flags(emb, emb.filter(F.col("vec_id") < 0), 0.3)


def test_dedup_clusters_deep_chain_no_plan_explosion(spark):
    """Regression: a 16-hop path needs ~15 propagation rounds; the old
    per-round persist kept the full logical plan, which embeds the prior
    round TWICE per round (neighbor + union) and OOMed the driver during
    analysis at ~13 rounds. localCheckpoint truncates the plan each round
    — this converges (and fast) or the fix regressed."""
    from vectordb_similarity_search_spark.operators.dedup import (
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(17)}
