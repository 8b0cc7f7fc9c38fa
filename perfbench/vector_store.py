"""Workload ``vector_store``: the paper's E2 serving path with ingest and
table merges beside it, one client, closed loop.

Set-up (session start, then one timed set-up): write a seeded clustered
corpus, ``ivf_fit`` + ``ivf_write_index`` over it, generate the hospital
patients, ``federated_train`` an embedding and build a
``PatientSimilaritySearch`` over it; write a ``lineitem`` merge target.

Timed loop: whole cycles of a seeded operation order until ``--seconds``
have passed (at least two cycles). One cycle holds
- 3 ``ann``: ``ivf_search_index`` on the read-only serving index, a label
  predicate on one of them;
- 2 ``exact``: ``knn`` over the whole corpus;
- 1 ``patient``: ``search_with_stats``, hits and stats collected;
- 1 ``ingest``: ``apply_vector_batch`` into a second index (append rows,
  tombstone live ids, compact every ``COMPACT_EVERY``-th batch), followed by
  a ``raw_search`` for a row it just appended;
- 1 ``merge``: ``merge_parquet`` of a 1% CDC batch, followed by a
  ``readback`` through ``read_table_snapshot``.
Every read builds its plan and collects it; every answer is checked.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

import datagen
from checks import cosine_scores, topk_ids
from harness import cpu_s, median

N_CORPUS = 6_000
N_CELLS = 8
NPROBE = 2
K = 10
PATIENTS = {"Hospital_A": 200, "Hospital_B": 200, "Hospital_C": 200}
FED_ROUNDS = 1
INGEST_ROWS = 200
INGEST_DELETES = 20
COMPACT_EVERY = 2
CDC_SHARE = 0.01
SF_LINEITEM = 0.002
CYCLE = ["ann"] * 3 + ["exact"] * 2 + ["patient", "ingest", "merge"]
CYCLES_MIN = 2


def _files(path: str) -> tuple[int, int]:
    """Number and bytes of the parquet data files under ``path``, outside
    underscore directories (tombstones, ``_temporary``)."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not d.split(os.sep)[-1].startswith("_"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Store:
    """The benchmark's own record of what the program should answer."""

    def __init__(self, corpus: datagen.Corpus, cells: np.ndarray):
        self.vectors = corpus.vectors
        self.labels = corpus.labels
        self.ids = np.arange(len(corpus.vectors), dtype=np.int64)
        self.cells = cells  # serving-index cell of every corpus row
        # ingest index: live rows
        self.live = {int(i): v for i, v in zip(self.ids, self.vectors)}
        self.deleted: set[int] = set()
        self.next_id = len(self.ids)


def setup(b, rng: np.random.Generator):
    from vectordb_similarity_search_spark.ml.embed import federated_train
    from vectordb_similarity_search_spark.operators.ann import ivf_fit, ivf_write_index
    from vectordb_similarity_search_spark.operators.cohort import (
        PatientSimilaritySearch,
        zscore_features_col,
        zscore_params,
    )
    from vectordb_similarity_search_spark.sources.synthetic import gen_hospital_patients

    tr = b.tracer
    d = os.path.join(b.scratch, "store")
    os.makedirs(d)
    spark = b.spark
    with tr.span("bench.corpus_gen", op="setup"):
        corpus = datagen.Corpus(rng, N_CORPUS)
        datagen.write_parquet(
            datagen.Corpus.frame(np.arange(N_CORPUS), corpus.vectors, corpus.labels),
            os.path.join(d, "corpus.parquet"),
        )
        li = datagen.lineitem_frame(rng, int(6_000_000 * SF_LINEITEM), int(1_500_000 * SF_LINEITEM), 400, 20)
        os.makedirs(os.path.join(d, "lineitem"))
        datagen.write_parquet(li, os.path.join(d, "lineitem", "part-0.parquet"))
    corpus_df = spark.read.parquet(os.path.join(d, "corpus.parquet"))
    with tr.span("operators.ann.ivf_fit", op="setup"):
        model = ivf_fit(corpus_df, n_cells=N_CELLS, seed=b.seed, max_iter=8)
    with tr.span("operators.ann.ivf_write_index", op="setup"):
        ivf_write_index(model, corpus_df, os.path.join(d, "index"))
    with tr.span("sources.gen_patients", op="setup"):
        # one file: 600 rows need no more, and the generator's 24 partitions
        # would make the write, not the generator, the step's cost
        gen_hospital_patients(spark, PATIENTS, seed=b.seed).coalesce(1).write.parquet(os.path.join(d, "patients"))
        patients = spark.read.parquet(os.path.join(d, "patients"))
    with tr.span("operators.cohort.zscore_params", op="setup"):
        params = zscore_params(patients)
    with tr.span("ml.embed.federated_train", op="setup"):
        embed = federated_train(
            patients.withColumn("features", zscore_features_col(params)),
            rounds=FED_ROUNDS, local_epochs=1, seed=b.seed,
        )
    with tr.span("operators.cohort.build", op="setup"):
        pss = PatientSimilaritySearch(patients, embed=embed, params=params)
    return d, corpus, corpus_df, model, pss, li


def run(b) -> None:
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.ann import ivf_search_index
    from vectordb_similarity_search_spark.operators.cohort import zscore_vector
    from vectordb_similarity_search_spark.operators.merge import (
        merge_parquet,
        read_table_snapshot,
    )
    from vectordb_similarity_search_spark.operators.topk import knn
    from vectordb_similarity_search_spark.sources.synthetic import FEATURES
    from vectordb_similarity_search_spark.streaming.vectors import apply_vector_batch

    tr = b.tracer
    b.start_session()
    # One set-up, unlike analytics: it is JIT-cold and costs ~25 s of wall,
    # and two more would push a run past the benchmark's time budget.
    c0, t0 = cpu_s(), time.perf_counter()
    d, corpus, corpus_df, model, pss, li = setup(b, np.random.default_rng([b.seed, 2]))
    b.setup_metrics([time.perf_counter() - t0], [cpu_s() - c0])
    spark = b.spark
    index, ingest_index, table = (os.path.join(d, x) for x in ("index", "ingest", "lineitem"))
    rng = np.random.default_rng([b.seed, 3])

    # Benchmark-side answers, untimed: the serving index's cells, the
    # embedded patient store, and a second index for the ingest side.
    cell_rows = spark.read.parquet(index).select("vec_id", "cell").toPandas()
    cells = np.empty(N_CORPUS, dtype=np.int64)
    cells[cell_rows["vec_id"].to_numpy()] = cell_rows["cell"].to_numpy()
    store = Store(corpus, cells)
    emb = pss.store.select("hospital", "patient_id", "embedding", *FEATURES).toPandas()
    emb_keys = (emb["hospital"] + "/" + emb["patient_id"]).to_numpy()
    emb_matrix = np.vstack(emb["embedding"].to_numpy())
    shutil.copytree(index, ingest_index)
    table_rows = li.set_index(["l_orderkey", "l_linenumber"])["l_extendedprice"].to_dict()
    _, index_bytes = _files(index)
    table_schema = read_table_snapshot(spark, table).schema.add("_deleted", "boolean")

    lat: dict[str, list[float]] = {k: [] for k in (*CYCLE, "raw_search", "readback", "compact")}
    cycles: list[float] = [0.0]  # Σ wall latency per cycle
    cycles_cpu: list[float] = [0.0]  # Σ CPU seconds per cycle
    recalls: list[float] = []
    merge_files: list[int] = []
    merge_amp: list[float] = []
    batch_id = n_ann = 0
    last_ingest = None

    def search(path, q, pred=None):
        with tr.span("operators.ann.search_build"):
            df = ivf_search_index(spark, path, model, q.tolist(), K, nprobe=NPROBE, predicate=pred)
        with tr.span("operators.ann.search_collect"):
            return df.select("vec_id").collect()

    def exact(q):
        with tr.span("operators.topk.knn_build"):
            df = knn(corpus_df, q.tolist(), K)
        with tr.span("operators.topk.knn_collect"):
            return df.select("vec_id").collect()

    def patient(query):
        with tr.span("operators.cohort.search_build"):
            hits, stats = pss.search_with_stats(query, K)
        with tr.span("operators.cohort.collect"):
            return hits.collect(), stats.collect()

    def ingest(batch_df, bid):
        with tr.span("streaming.vectors.apply", compact=bid % COMPACT_EVERY == COMPACT_EVERY - 1):
            return apply_vector_batch(
                batch_df, bid, model, ingest_index,
                delete_col="is_deleted", compact_every=COMPACT_EVERY,
            )

    def merge(cdc_df):
        with tr.span("operators.merge.merge_parquet"):
            merge_parquet(spark, table, cdc_df, ["l_orderkey", "l_linenumber"], delete_col="_deleted")

    def readback():
        with tr.span("operators.merge.read_table_snapshot"):
            df = read_table_snapshot(spark, table)
        with tr.span("operators.merge.readback_collect"):
            return df.agg(F.count("*"), F.sum("l_extendedprice")).collect()[0]

    def timed(kind, fn, *args):
        with tr.span(f"op.{kind}", op=f"{kind}#{b.attempted}"):
            op_id, out, dt, dc = b.op(kind, fn, *args)
        lat[kind].append(dt)
        cycles[-1] += dt
        cycles_cpu[-1] += dc
        return op_id, out

    from tracing import executor_totals

    counters0 = executor_totals(spark) if tr.enabled else None
    overhead0 = tr.overhead_s
    t_loop = time.perf_counter()
    while True:
        for kind in rng.permutation(CYCLE):
            if kind == "ann":
                q = corpus.near(store.vectors[rng.integers(N_CORPUS)])
                label = int(rng.integers(10)) if n_ann % 3 == 2 else None
                n_ann += 1
                pred = F.col("label") == label if label is not None else None
                op_id, rows = timed("ann", search, index, q, pred)
                if rows is None:
                    continue
                got = [r[0] for r in rows]
                mask = np.isin(store.cells, model.probe_cells(q.tolist(), NPROBE))
                everywhere = np.ones(N_CORPUS, bool)
                if label is not None:
                    mask &= store.labels == label
                    everywhere &= store.labels == label
                scores = cosine_scores(store.vectors, q)
                exp = topk_ids(scores[mask], store.ids[mask], K)
                b.verify(op_id, "ann", "topk", got, list(exp), dict(zip(store.ids[mask].tolist(), scores[mask])))
                truth = set(topk_ids(scores[everywhere], store.ids[everywhere], K).tolist())
                recalls.append(len(truth & set(got)) / K)
            elif kind == "exact":
                q = corpus.near(store.vectors[rng.integers(N_CORPUS)])
                op_id, rows = timed("exact", exact, q)
                if rows is None:
                    continue
                scores = cosine_scores(store.vectors, q)
                b.verify(op_id, "exact", "topk", [r[0] for r in rows],
                         list(topk_ids(scores, store.ids, K)), dict(zip(store.ids.tolist(), scores)))
            elif kind == "patient":
                row = emb.iloc[int(rng.integers(len(emb)))]
                query = {c: float(row[c]) * float(rng.uniform(0.9, 1.1)) for c in FEATURES}
                op_id, out = timed("patient", patient, query)
                if out is None:
                    continue
                hits, stats = out
                qv = pss.embed.transform_vector(zscore_vector(query, pss.params))
                scores = cosine_scores(emb_matrix, np.asarray(qv))
                got = [f"{h['hospital']}/{h['patient_id']}" for h in hits]
                b.verify(op_id, "patient", "topk", got, list(topk_ids(scores, emb_keys, K)),
                         dict(zip(emb_keys.tolist(), scores)))
                b.verify(op_id, "patient.stats", "equal", stats[0]["total_patients"], len(hits), "total_patients")
                b.verify(op_id, "patient.stats", "equal", stats[0]["transplanted"],
                         sum(h["received_transplant"] == 1 for h in hits), "transplanted")
            elif kind == "ingest":
                new, labels = corpus.draw(INGEST_ROWS)
                new_ids = np.arange(store.next_id, store.next_id + INGEST_ROWS)
                dead = rng.choice(np.fromiter(store.live, np.int64), INGEST_DELETES, replace=False)
                batch = pd.concat([
                    datagen.Corpus.frame(new_ids, new, labels).assign(is_deleted=False),
                    datagen.Corpus.frame(dead, np.zeros((len(dead), datagen.DIM)), np.zeros(len(dead))).assign(is_deleted=True),
                ], ignore_index=True)
                batch_df = spark.createDataFrame(batch, "vec_id long, embedding array<float>, label int, is_deleted boolean")
                compacts = batch_id % COMPACT_EVERY == COMPACT_EVERY - 1
                op_id, applied = timed("ingest", ingest, batch_df, batch_id)
                last_ingest = op_id
                batch_id += 1
                if compacts:
                    lat["compact"].append(lat["ingest"].pop())
                if applied is None:
                    continue
                b.verify(op_id, "ingest", "equal", applied, True, "batch applied")
                store.next_id += INGEST_ROWS
                store.live.update(zip(new_ids.tolist(), new))
                for i in dead.tolist():
                    store.live.pop(i)
                store.deleted.update(dead.tolist())
                pick = int(rng.integers(INGEST_ROWS))
                op_id, rows = timed("raw_search", search, ingest_index, new[pick])
                if rows is None:
                    continue
                got = [r[0] for r in rows]
                b.verify(op_id, "raw_search", "equal", got[0] if got else None, int(new_ids[pick]), "rank-1 hit")
                b.verify(op_id, "raw_search", "disjoint", set(got), store.deleted, "tombstoned ids returned")
            else:  # merge
                keys = list(table_rows)
                n = max(3, int(len(keys) * CDC_SHARE))
                picked = [keys[i] for i in rng.choice(len(keys), n, replace=False)]
                upd, dels = picked[: n * 3 // 4], picked[n * 3 // 4:]
                top = max(k[0] for k in keys) + 1
                ins = [(top + i, 1) for i in range(n // 4)]
                cdc = li.head(len(upd) + len(dels) + len(ins)).copy()
                cdc[["l_orderkey", "l_linenumber"]] = np.array(upd + dels + ins, dtype=np.int64)
                cdc["l_extendedprice"] = np.round(rng.uniform(900.0, 100_000.0, len(cdc)), 2)
                cdc["_deleted"] = [False] * len(upd) + [True] * len(dels) + [False] * len(ins)
                cdc_df = spark.createDataFrame(cdc.astype({"l_linenumber": np.int32}), table_schema)
                op_id, _ = timed("merge", merge, cdc_df)
                if op_id in b.failed:
                    continue
                for k, p, gone in zip(map(tuple, cdc[["l_orderkey", "l_linenumber"]].to_numpy().tolist()),
                                      cdc["l_extendedprice"], cdc["_deleted"]):
                    if gone:
                        table_rows.pop(k, None)
                    else:
                        table_rows[k] = p
                files, size = _files(table)
                merge_files.append(files)
                merge_amp.append(size / max(1, cdc.memory_usage(deep=True).sum()))
                op_id, row = timed("readback", readback)
                if row is None:
                    continue
                b.verify(op_id, "readback", "equal", row[0], len(table_rows), "rows")
                b.verify(op_id, "readback", "close", row[1], sum(table_rows.values()), "sum(l_extendedprice)")
        if len(cycles) >= CYCLES_MIN and time.perf_counter() - t_loop >= b.seconds:
            break
        cycles.append(0.0)
        cycles_cpu.append(0.0)
    busy = sum(sum(v) for v in lat.values())
    overhead = tr.overhead_s - overhead0
    counters1 = executor_totals(spark) if tr.enabled else None

    # Index state, untimed: live rows = corpus + appended - deleted.
    ids = set(spark.read.parquet(ingest_index).select("vec_id").toPandas()["vec_id"].tolist())
    tombstones = os.path.join(ingest_index, "_tombstones")
    if os.path.isdir(tombstones):
        ids -= set(spark.read.parquet(tombstones).toPandas()["vec_id"].tolist())
    if last_ingest is not None:
        b.verify(last_ingest, "ingest.live", "equal", len(ids), len(store.live), "live rows")
    ingest_files, _ = _files(ingest_index)

    all_lat = [x for v in lat.values() for x in v]
    b.e2e.update({
        "cold_cpu_s": cycles_cpu[0],
        "warm_cpu_s": sum(cycles_cpu[1:]) / len(cycles_cpu[1:]),
        "cpu_ms_per_op": sum(cycles_cpu) / len(all_lat) * 1e3,
    })
    wall = {
        "wall.cold_total_s": cycles[0],
        "wall.warm_total_s": sum(cycles[1:]) / len(cycles[1:]),
        "wall.ops_per_s": len(all_lat) / busy,
    }
    p50 = {k: median(v) for k, v in lat.items()}
    b.info.update({
        **{k: round(v, 4) for k, v in wall.items()},
        "cycles": len(cycles),
        "ops": " ".join(f"{k}:{len(v)}" for k, v in lat.items()),
        "recall_at_10": median(recalls),
        **{f"{k}_p50_ms": round(v * 1e3, 3) for k, v in p50.items()},
    })
    if not tr.enabled:
        return

    L = b.layer
    L.update(wall)
    L["session.start_s"] = tr.median_self("session.start")
    L["bench.corpus_gen_s"] = tr.median_self("bench.corpus_gen")
    L["sources.gen_patients_s"] = tr.median_self("sources.gen_patients")
    L["ml.embed.federated_train_s"] = tr.median_self("ml.embed.federated_train")
    L["operators.ann.ivf_fit_s"] = tr.median_self("operators.ann.ivf_fit")
    L["operators.ann.ivf_write_index_s"] = tr.median_self("operators.ann.ivf_write_index")
    L["operators.ann.search_build_ms"] = tr.median_self("operators.ann.search_build", 1e3)
    L["operators.ann.search_collect_ms"] = tr.median_self("operators.ann.search_collect", 1e3)
    L["operators.ann.index_files"] = ingest_files
    L["operators.ann.index_bytes_per_row"] = index_bytes / N_CORPUS
    L["operators.topk.knn_build_ms"] = tr.median_self("operators.topk.knn_build", 1e3)
    L["operators.topk.knn_collect_ms"] = tr.median_self("operators.topk.knn_collect", 1e3)
    L["operators.cohort.search_build_ms"] = tr.median_self("operators.cohort.search_build", 1e3)
    L["operators.cohort.collect_ms"] = tr.median_self("operators.cohort.collect", 1e3)
    L["streaming.vectors.apply_s"] = tr.median_self("streaming.vectors.apply")
    L["operators.merge.merge_parquet_s"] = tr.median_self("operators.merge.merge_parquet")
    L["operators.merge.files_written"] = median(merge_files)
    L["operators.merge.mb_written_per_cdc_mb"] = median(merge_amp)
    L["ann_p50_ms"] = p50["ann"] * 1e3
    L["exact_p50_ms"] = p50["exact"] * 1e3
    L["patient_p50_ms"] = p50["patient"] * 1e3
    L["recall_at_10"] = median(recalls)
    L["ingest_p50_s"] = p50["ingest"]
    L["compact_p50_s"] = p50["compact"]
    L["raw_search_p50_ms"] = p50["raw_search"] * 1e3
    L["merge_p50_s"] = p50["merge"]
    window = [s for s in tr.spans if s.op != "setup"]
    L["spark.jobs"] = sum(s.jobs for s in window)
    L["spark.stages"] = sum(s.stages for s in window)
    L["spark.tasks"] = sum(s.tasks for s in window)
    for k in counters1:
        L[f"spark.{k}"] = counters1[k] - counters0[k]
    L["trace.overhead_ratio"] = overhead / (busy - overhead)
