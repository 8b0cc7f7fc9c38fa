"""Cohort statistics + the patient similarity search API — the reference's
end-user surface (``PrivacyPreservingPatientSearch``, similarity_search.py
:409-578, report :648-738) re-expressed as composable DataFrame operators.

The multi-silo 'scatter-gather' of the reference (per-hospital search then
merge, :323-363) is in Spark simply a query over a hospital-partitioned
table: partition pruning scatter-side, TakeOrderedAndProject gather-side.
That collapse is the point of the port (SURVEY.md §7 step 6).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..sources.synthetic import FEATURES
from .topk import knn


def cohort_stats(hits: DataFrame) -> DataFrame:
    """The reference's transplant-statistics bundle over a result cohort
    (A1-A6, similarity_search.py:366-407 + :719-725): counts, conditional
    counts, rates, filtered means, waitlist breakdown, profile means of the
    successful subset. One single-pass aggregation — no self-joins, NULLs
    where a subgroup is empty (the reference gates dict keys instead, A5)."""
    tx = F.col("received_transplant") == 1
    ok = tx & (F.col("transplant_success") == 1)
    return hits.agg(
        F.count("*").alias("total_patients"),                              # A1 :372
        F.count(F.when(tx, 1)).alias("transplanted"),                      # A1 :373
        F.count(F.when(~tx, 1)).alias("not_transplanted"),                 # A1 :374
        F.round(F.avg(tx.cast("double")), 6).alias("transplant_rate"),     # A2 :380
        F.round(F.avg(F.when(tx, F.col("days_to_transplant"))), 6)
        .alias("avg_wait_days"),                                           # A3 :385
        F.round(F.avg(F.when(tx, F.col("transplant_success").cast("double"))), 6)
        .alias("transplant_success_rate"),                                 # A2 :389
        F.round(F.avg(F.when(tx, F.col("days_to_transplant") / 30.44)), 6)
        .alias("avg_wait_months"),                                         # P9 :391
        *[
            F.count(F.when(F.col("waitlist_status") == i, 1)).alias(f"waitlist_{lbl}")
            for i, lbl in [(0, "active"), (1, "removed_sick"),
                           (2, "removed_improved"), (3, "deceased")]      # A4 :395-398
        ],
        F.round(F.avg(F.when(ok, F.col("age"))), 6).alias("success_avg_age"),        # A6 :719
        F.round(F.avg(F.when(ok, F.col("meld_score"))), 6).alias("success_avg_meld"),  # A6 :722
        F.round(F.avg(F.when(ok, F.col("diabetes").cast("double"))), 6)
        .alias("success_diabetes_rate"),                                   # A6 :725
    )


def zscore_params(patients: DataFrame, cols: Sequence[str] = FEATURES) -> dict:
    """Fit the z-score normalizer once over the corpus (V1 semantics:
    population std + eps, similarity_search.py:198) and return driver-side
    params — the stored-stats design that fixes the reference's
    train/serve skew (it re-normalizes each query row against itself, :576;
    SURVEY.md §2.4 V2)."""
    row = patients.select(
        *[F.avg(c).alias(f"mu_{c}") for c in cols],
        *[F.stddev_pop(c).alias(f"sd_{c}") for c in cols],
    ).head()
    return {
        c: (row[f"mu_{c}"], row[f"sd_{c}"] + 1e-8)  # eps per :198
        for c in cols
    }


def zscore_vector(query: dict, params: dict, cols: Sequence[str] = FEATURES) -> list[float]:
    """Order + default-fill + normalize a query patient dict into the
    feature vector (reference :561-578: missing keys default 0, fixed
    feature order :565-571)."""
    return [
        (float(query.get(c, 0.0)) - params[c][0]) / params[c][1] for c in cols
    ]


def zscore_features_col(params: dict, cols: Sequence[str] = FEATURES) -> Column:
    """The corpus-side feature vector as one array<double> column,
    normalized with the SAME stored params as the query path."""
    return F.array(
        *[
            ((F.col(c).cast("double") - F.lit(params[c][0])) / F.lit(params[c][1]))
            for c in cols
        ]
    )


class PatientSimilaritySearch:
    """Capability mirror of the reference's
    ``PrivacyPreservingPatientSearch.search_similar_patients`` (E2,
    similarity_search.py:541-559) on a hospital-partitioned patients table.

    Differences by design (SURVEY.md §7):
    - the 'federated store' is one partitioned DataFrame; per-silo search +
      merge is Spark's own partial top-k, not hand-rolled scatter-gather;
    - normalization uses stored corpus stats (no per-row re-normalize bug);
    - optionally embeds with the trained MLP (ml/embed.py) instead of raw
      z-scored features.
    """

    def __init__(self, patients: DataFrame, embed=None, params: dict | None = None):
        # ``params``: precomputed zscore_params output — fitting is one
        # eager aggregate job over the corpus, so repeat engine builds on
        # the same corpus should pass the memoized stats (the catalog
        # queries cache per session; tests/test_lazy_build.py pins it)
        self.patients = patients
        self.params = params if params is not None else zscore_params(patients)
        self.embed = embed  # optional: ml.embed.EmbeddingModel
        feats = zscore_features_col(self.params)
        self.store = patients.withColumn("features", feats)
        if embed is not None:
            # embed the store ONCE: persisted lazily (no job here; the first
            # search materializes it), so query plans scan the cached
            # embeddings instead of re-running the mapInPandas MLP over every
            # patient per action — search_with_stats collects two. Freed by
            # cache.release().
            self.store = cache.persist(
                embed.transform(self.store, "features", "embedding")
            )

    def search(
        self, query: dict, top_k: int = 10, hospitals: Sequence[str] | None = None
    ) -> DataFrame:
        """Top-k similar patients (+ all outcome columns for the stats
        layer). ``hospitals`` restricts the scatter set — with the store
        written partitioned by hospital this is partition pruning, the
        Spark-native version of 'search only these silos' (:332-334)."""
        qv = zscore_vector(query, self.params)
        store, vec_col = self.store, "features"
        if self.embed is not None:
            qv = self.embed.transform_vector(qv)
            vec_col = "embedding"
        if hospitals:
            store = store.filter(F.col("hospital").isin(list(hospitals)))
        return knn(
            store, qv, top_k, id_col="patient_id", vec_col=vec_col, metric="cosine"
        ).drop(vec_col)

    def search_with_stats(self, query: dict, top_k: int = 10):
        """E2 end-to-end: (ranked hits, cohort stats) — the reference's
        result dict (:359-363) as two DataFrames."""
        hits = self.search(query, top_k)
        return hits, cohort_stats(hits)
