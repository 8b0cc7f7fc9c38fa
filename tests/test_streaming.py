"""Structured Streaming behavior tests: incremental windowed aggregation,
watermark late-data drop, streaming dedup. Files are fed incrementally into
a monitored directory (file micro-batch source) and results observed via
the memory sink — the part of streaming semantics the batch oracle can't
check."""

from __future__ import annotations

import datetime as dt
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from vectordb_similarity_search_spark.streaming.events import (
    stream_dedup,
    tumbling_counts_stream,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_batch(dirpath, rows, name):
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    # micro precision: nanos parquet would be read as long under the
    # session's nanosAsLong setting (see session.py)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), f"{dirpath}/{name}.parquet"
    )


def _t(h, m=0):
    return dt.datetime(2024, 3, 1, h, m)


@pytest.fixture()
def stream_env(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    chk = tmp_path / "chk"
    name = f"mem_{uuid.uuid4().hex[:8]}"
    reader = lambda: spark.readStream.schema(SCHEMA).parquet(str(src))  # noqa: E731
    return spark, src, str(chk), name, reader


def test_tumbling_stream_matches_batch(stream_env):
    spark, src, chk, name, reader = stream_env
    rows1 = [(1, _t(10, 5), 1, "click", 1.0), (2, _t(10, 20), 2, "click", 2.0),
             (3, _t(11, 5), 1, "view", 3.0)]
    _write_batch(src, rows1, "b1")
    q = (
        tumbling_counts_stream(reader(), watermark="2 hours")
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").option("checkpointLocation", chk).start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            (r.win_start.hour, r.event_type): r.n_events
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert got1 == {(10, "click"): 2, (11, "view"): 1}
        # incremental: a second file updates the 11:00 window
        _write_batch(src, [(4, _t(11, 30), 3, "view", 4.0)], "b2")
        q.processAllAvailable()
        got2 = {
            (r.win_start.hour, r.event_type): r.n_events
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert got2[(11, "view")] == 2
    finally:
        q.stop()


def test_watermark_drops_late_events(stream_env):
    spark, src, chk, name, reader = stream_env
    _write_batch(src, [(1, _t(10), 1, "click", 1.0), (2, _t(12), 1, "click", 1.0)], "b1")
    q = (
        tumbling_counts_stream(reader(), watermark="1 hour")
        .writeStream.format("memory").queryName(name)
        .outputMode("update").option("checkpointLocation", chk).start()
    )
    try:
        q.processAllAvailable()
        # watermark is now 11:00 (max 12:00 − 1 h); an event at 05:00 is late
        _write_batch(src, [(3, _t(5), 1, "click", 9.0)], "b2")
        q.processAllAvailable()
        hours = {
            r.win_start.hour
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert 5 not in hours  # late row dropped by the watermark
        assert {10, 12} <= hours
    finally:
        q.stop()


def test_stream_dedup_keeps_first(stream_env):
    spark, src, chk, name, reader = stream_env
    _write_batch(src, [(1, _t(10), 1, "click", 1.0), (2, _t(10, 1), 1, "view", 2.0)], "b1")
    q = (
        stream_dedup(reader(), ["event_id"], watermark="1 hour")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", chk).start()
    )
    try:
        q.processAllAvailable()
        # same event_id re-arrives within the watermark → suppressed
        _write_batch(src, [(1, _t(10, 2), 1, "click", 1.0), (3, _t(10, 3), 2, "buy", 3.0)], "b2")
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        ids = sorted(r.event_id for r in rows)
        assert ids == [1, 2, 3]
    finally:
        q.stop()


def test_stateful_running_totals(stream_env):
    from vectordb_similarity_search_spark.streaming.events import (
        running_user_totals_stream,
    )

    spark, src, chk, name, reader = stream_env
    _write_batch(src, [(1, _t(10), 7, "click", 1.0), (2, _t(10, 1), 7, "view", 2.0),
                       (3, _t(10, 2), 9, "click", 5.0)], "b1")
    q = (
        running_user_totals_stream(reader())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").option("checkpointLocation", chk).start()
    )
    try:
        q.processAllAvailable()
        got = {r.user_id: (r.n_events, r.total_value)
               for r in spark.sql(f"SELECT * FROM {name}").collect()}
        assert got[7] == (2, 3.0) and got[9] == (1, 5.0)
        # state carries across micro-batches
        _write_batch(src, [(4, _t(10, 5), 7, "buy", 4.0)], "b2")
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        best = {}
        for r in rows:
            if r.user_id not in best or r.n_events > best[r.user_id][0]:
                best[r.user_id] = (r.n_events, r.total_value)
        assert best[7] == (3, 7.0)
    finally:
        q.stop()


def test_stream_stream_interval_join(stream_env):
    """Stream-stream inner join with event-time interval condition: each
    purchase joins clicks of the same user within the preceding hour —
    both sides watermarked so join state expires."""
    import pyspark.sql.functions as F

    spark, src, chk, name, reader = stream_env
    rows = [
        (1, _t(10, 0), 1, "click", 1.0),
        (2, _t(10, 30), 1, "purchase", 9.0),   # joins click@10:00
        (3, _t(9, 0), 2, "click", 1.0),
        (4, _t(11, 30), 2, "purchase", 9.0),   # click@9:00 outside 1h window
    ]
    _write_batch(src, rows, "b1")
    ev = reader()
    clicks = (
        ev.filter("event_type = 'click'")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
                F.col("event_id").alias("click_id"))
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        ev.filter("event_type = 'purchase'")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                F.col("event_id").alias("purchase_id"))
        .withWatermark("p_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR"
        ),
    ).select("purchase_id", "click_id")
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", chk).start()
    )
    try:
        q.processAllAvailable()
        got = {(r.purchase_id, r.click_id)
               for r in spark.sql(f"SELECT * FROM {name}").collect()}
        assert got == {(2, 1)}  # purchase 4's click is older than 1 h
    finally:
        q.stop()


def test_streaming_neardup_finds_cross_batch_pair(spark, tmp_path):
    """A near-copy arriving in a LATER micro-batch pairs with the original
    seen earlier — the incremental property the batch operator can't give."""
    import pyspark.sql.functions as F

    from vectordb_similarity_search_spark.streaming.events import (
        neardup_pairs_stream,
    )

    src = tmp_path / "docs_src"
    src.mkdir()
    chk = str(tmp_path / "docs_chk")
    name = f"mem_{uuid.uuid4().hex[:8]}"

    base_text = "the quick brown fox jumps over the lazy dog " * 8

    def write_docs(rows, fname):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            f"{src}/{fname}.parquet",
        )

    write_docs(
        [(1, base_text), (2, "completely different content here " * 10)],
        "b1",
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        neardup_pairs_stream(stream, threshold=0.7)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 0  # nothing similar yet

        write_docs([(3, base_text + "extra tail")], "b2")
        q.processAllAvailable()
        got = (
            spark.table(name)
            .select("id_new", "id_seen")
            .distinct()
            .collect()
        )
        assert {(r.id_new, r.id_seen) for r in got} == {(3, 1)}
        est = spark.table(name).agg(F.min("est_jaccard")).first()[0]
        assert est >= 0.7
    finally:
        q.stop()


def test_stream_static_enrichment(spark, stream_env, tmp_path):
    from vectordb_similarity_search_spark.streaming.events import (
        enrich_stream_static,
    )

    _, src, chk, name, reader = stream_env
    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue")],
        "event_type string, category string",
    )
    _write_batch(
        src,
        [(1, _t(9), 1, "click", 1.0), (2, _t(9), 2, "purchase", 2.0),
         (3, _t(9), 3, "error", 0.0)],
        "b1",
    )
    q = (
        enrich_stream_static(reader(), dim, "event_type")
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.event_id: r.category for r in spark.table(name).collect()}
        assert got == {1: "engagement", 2: "revenue", 3: None}
    finally:
        q.stop()


def test_rollup_ingest_stream_matches_batch(spark, stream_env, tmp_path):
    """Streaming ingest via foreachBatch + upsert_rollup: after two
    micro-batches the rollup table equals the one-shot batch rollup of
    all events, and a replayed batch id is a no-op (ledger)."""
    import os

    from vectordb_similarity_search_spark.operators.rollup import (
        hourly_rollup,
        read_rollup,
    )
    from vectordb_similarity_search_spark.streaming.events import (
        rollup_ingest_stream,
    )

    _, src, chk, _, reader = stream_env
    rows1 = [
        (1, _t(9, 5), 1, "click", 1.0),
        (2, _t(9, 40), 2, "view", 2.0),
        (3, _t(10, 10), 1, "click", 3.0),
    ]
    rows2 = [
        (4, _t(9, 50), 3, "click", 5.0),  # merges into the 09:00 partials
        (5, _t(11, 1), 1, "buy", 7.0),
    ]
    path = str(tmp_path / "stream_rollup")
    _write_batch(src, rows1, "b1")
    q = rollup_ingest_stream(reader(), path, str(chk))
    q.processAllAvailable()
    _write_batch(src, rows2, "b2")
    q.processAllAvailable()
    q.stop()

    batch_equiv = hourly_rollup(
        spark.createDataFrame(
            [r for r in rows1 + rows2],
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
    )
    got = {
        (r["day"], r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in read_rollup(spark, path).collect()
    }
    want = {
        (r["day"], r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch_equiv.collect()
    }
    assert got == want

    # ledger: markers exist for the processed batch ids; re-running a
    # marked batch through the sink function is a no-op
    ledger = path + "__applied"
    assert len(os.listdir(ledger)) >= 1


def test_stream_stream_interval_join(spark, tmp_path):
    """Purchases match same-user clicks within the interval; out-of-window
    and cross-user clicks don't. Incremental: a later click batch joins
    against buffered purchase state."""
    import uuid as _uuid

    from vectordb_similarity_search_spark.streaming.events import (
        stream_stream_interval_join,
    )

    csrc = tmp_path / "clicks"
    psrc = tmp_path / "purchases"
    csrc.mkdir()
    psrc.mkdir()
    name = f"mem_{_uuid.uuid4().hex[:8]}"
    clicks = spark.readStream.schema(SCHEMA).parquet(str(csrc))
    purchases = spark.readStream.schema(SCHEMA).parquet(str(psrc))

    _write_batch(
        csrc,
        [
            (1, _t(10, 0), 1, "click", 1.0),   # in window for purchase@10:30
            (2, _t(9, 0), 1, "click", 1.0),    # 90 min before -> out of window
            (3, _t(10, 15), 2, "click", 1.0),  # other user
        ],
        "c1",
    )
    _write_batch(psrc, [(10, _t(10, 30), 1, "purchase", 5.0)], "p1")
    q = (
        stream_stream_interval_join(clicks, purchases, within="1 hour")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.purchase_id, r.click_id)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert got == {(10, 1)}
        # late-arriving in-window click for the buffered purchase
        _write_batch(csrc, [(4, _t(10, 20), 1, "click", 1.0)], "c2")
        q.processAllAvailable()
        got2 = {
            (r.purchase_id, r.click_id)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert got2 == {(10, 1), (10, 4)}
    finally:
        q.stop()


def test_cdc_merge_stream_upserts_and_deletes(spark, tmp_path):
    """Streaming CDC upsert: micro-batches MERGE into a parquet table —
    within-batch version resolution (order_col), tombstones
    (delete_col), and natural replay idempotence (re-applying the last
    batch leaves the table unchanged)."""
    from vectordb_similarity_search_spark.operators.merge import merge_parquet
    from vectordb_similarity_search_spark.streaming.events import (
        cdc_merge_stream,
    )

    tbl = str(tmp_path / "cdc_tbl")
    src = tmp_path / "cdc_src"
    src.mkdir()
    cdc_schema = "id long, name string, bal double, ver long, _del boolean"
    spark.createDataFrame(
        [(1, "a", 10.0, 0), (2, "b", 20.0, 0), (3, "c", 30.0, 0)],
        "id long, name string, bal double, ver long",
    ).coalesce(1).write.parquet(tbl)

    def write_batch(rows, name):
        spark.createDataFrame(rows, cdc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    stream = spark.readStream.schema(cdc_schema).parquet(str(src))
    q = cdc_merge_stream(
        stream,
        tbl,
        ["id"],
        str(tmp_path / "cdc_chk"),
        order_col="ver",
        delete_col="_del",
    )
    try:
        # batch 1: update id=2, insert id=4
        write_batch(
            [(2, "b", 21.0, 1, False), (4, "d", 41.0, 1, False)], "b1"
        )
        q.processAllAvailable()
        got = {r.id: (r.name, r.bal, r.ver) for r in spark.read.parquet(tbl).collect()}
        assert got == {
            1: ("a", 10.0, 0),
            2: ("b", 21.0, 1),
            3: ("c", 30.0, 0),
            4: ("d", 41.0, 1),
        }
        # batch 2: two versions of id=1 (ver 2 must win), delete id=3
        b2 = [
            (1, "a", 11.0, 1, False),
            (1, "a", 12.0, 2, False),
            (3, "c", 30.0, 1, True),
        ]
        write_batch(b2, "b2")
        q.processAllAvailable()
        got = {r.id: (r.name, r.bal, r.ver) for r in spark.read.parquet(tbl).collect()}
        want = {
            1: ("a", 12.0, 2),
            2: ("b", 21.0, 1),
            4: ("d", 41.0, 1),
        }
        assert got == want
    finally:
        q.stop()

    # replay idempotence: re-MERGE batch 2's resolved rows directly —
    # exactly what a foreachBatch replay after a crash would do
    replay = spark.createDataFrame(
        [(1, "a", 12.0, 2, False), (3, "c", 30.0, 1, True)], cdc_schema
    )
    merge_parquet(spark, tbl, replay, ["id"], delete_col="_del")
    got = {r.id: (r.name, r.bal, r.ver) for r in spark.read.parquet(tbl).collect()}
    assert got == want


def test_cdc_merge_stream_metadata_order_col(spark, tmp_path):
    """The CDC ordering column (LSN-style feed metadata) need not be a
    table column: it resolves within-batch versions and is dropped
    before the merge (regression: schema check used to reject it)."""
    from vectordb_similarity_search_spark.streaming.events import (
        cdc_merge_stream,
    )

    tbl = str(tmp_path / "meta_tbl")
    src = tmp_path / "meta_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, bal double"
    ).coalesce(1).write.parquet(tbl)
    cdc_schema = "id long, bal double, lsn long"
    stream = spark.readStream.schema(cdc_schema).parquet(str(src))
    q = cdc_merge_stream(
        stream, tbl, ["id"], str(tmp_path / "meta_chk"), order_col="lsn"
    )
    try:
        spark.createDataFrame(
            [(1, 11.0, 5), (1, 12.0, 6), (3, 30.0, 5)], cdc_schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.id: r.bal for r in spark.read.parquet(tbl).collect()}
    assert got == {1: 12.0, 2: 20.0, 3: 30.0}


def test_vector_ingest_stream(spark, tmp_path):
    """Streaming vector ingest: micro-batches append under frozen IVF
    cells; deletes tombstone; periodic compact GCs; probes against the
    live index match a batch-built index of the same final corpus."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.ann import (
        ivf_fit,
        ivf_search_index,
        ivf_write_index,
    )
    from vectordb_similarity_search_spark.sources.tables import load_table
    from vectordb_similarity_search_spark.streaming.vectors import (
        vector_ingest_stream,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    model = ivf_fit(emb, n_cells=4, seed=3)
    path = str(tmp_path / "vecidx")
    # seed the index with vec_id < 20
    ivf_write_index(model, emb.filter(F.col("vec_id") < 20), path)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]

    src = tmp_path / "vec_src"
    src.mkdir()
    schema = "vec_id long, embedding array<float>, label int, _del boolean"

    def write_batch(df):
        df.coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    q = vector_ingest_stream(
        stream, model, path, str(tmp_path / "vec_chk"),
        delete_col="_del", compact_every=2, target_rows_per_file=10_000,
    )
    try:
        # batch 1: insert vec_id 20-34
        write_batch(
            emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 35))
            .withColumn("_del", F.lit(False))
        )
        q.processAllAvailable()
        n1 = spark.read.parquet(path).count()
        assert n1 == 35
        # batch 2: insert 35-49, delete 2 seeded ids -> triggers compact
        ins = emb.filter(F.col("vec_id") >= 35).withColumn("_del", F.lit(False))
        dels = emb.filter(F.col("vec_id").isin([5, 6])).withColumn(
            "_del", F.lit(True)
        )
        write_batch(ins.unionByName(dels))
        q.processAllAvailable()
    finally:
        q.stop()

    # compact ran (batch 2 of compact_every=2): tombstones GC'd physically
    import os

    assert not os.path.isdir(os.path.join(path, "_tombstones"))
    assert spark.read.parquet(path).count() == 498  # 500 - 2 deleted
    # probes match a batch-built index over the same final corpus
    batch_path = str(tmp_path / "vecidx_batch")
    ivf_write_index(
        model, emb.filter(~F.col("vec_id").isin([5, 6])), batch_path
    )
    got = ivf_search_index(spark, path, model, qv, k=5, nprobe=4).collect()
    want = ivf_search_index(spark, batch_path, model, qv, k=5, nprobe=4).collect()
    assert [(r.vec_id, r.score) for r in got] == [(r.vec_id, r.score) for r in want]
    # replay idempotence: ledger markers exist for both batches
    ledger = path + "__applied"
    assert sorted(os.listdir(ledger)) == ["0", "1"]


def test_vector_ingest_stream_rejects_delete_plus_insert(spark, tmp_path):
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.ann import (
        ivf_fit,
        ivf_write_index,
    )
    from vectordb_similarity_search_spark.sources.tables import load_table
    from vectordb_similarity_search_spark.streaming.vectors import (
        vector_ingest_stream,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    model = ivf_fit(emb, n_cells=4, seed=3)
    path = str(tmp_path / "vecidx2")
    ivf_write_index(model, emb.filter(F.col("vec_id") < 10), path)

    src = tmp_path / "vec_src2"
    src.mkdir()
    schema = "vec_id long, embedding array<float>, label int, _del boolean"
    conflict = (
        emb.filter(F.col("vec_id") == 3)
        .withColumn("_del", F.lit(True))
        .unionByName(
            emb.filter(F.col("vec_id") == 3).withColumn("_del", F.lit(False))
        )
    )
    conflict.coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = vector_ingest_stream(
        stream, model, path, str(tmp_path / "vec_chk2"), delete_col="_del"
    )
    import pytest as _pytest

    from pyspark.errors import StreamingQueryException

    try:
        with _pytest.raises(StreamingQueryException, match="delete"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_attribution_stream_matches_batch_twin(spark, stream_env):
    """Replaying a time-ordered event log through micro-batches must emit
    exactly the per-purchase credits the batch e_attribution query
    aggregates: state carries the last touch ACROSS batch boundaries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.streaming.events import (
        attribution_stream,
    )

    _, src, chk, name, reader = stream_env
    # user 1: touch in batch1 credits purchase in batch2 (cross-batch);
    # user 2: purchase before any touch -> unattributed; later click wins
    # over the earlier view (last touch, not first)
    rows1 = [
        (1, _t(9, 0), 1, "view", 0.0),
        (2, _t(9, 5), 2, "purchase", 10.0),
        (3, _t(9, 10), 2, "view", 0.0),
        (4, _t(9, 20), 2, "click", 0.0),
    ]
    rows2 = [
        (5, _t(10, 0), 1, "purchase", 20.0),
        (6, _t(10, 5), 2, "purchase", 30.0),
        (7, _t(10, 10), 1, "signup", 0.0),
        (8, _t(10, 20), 1, "purchase", 40.0),
    ]
    _write_batch(src, rows1, "b1")
    q = (
        attribution_stream(reader())
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", chk).start()
    )
    try:
        q.processAllAvailable()
        _write_batch(src, rows2, "b2")
        q.processAllAvailable()
        got = {
            r.event_id: (r.channel, r.value)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
    finally:
        q.stop()
    assert got == {
        2: ("unattributed", 10.0),
        5: ("view", 20.0),      # credited across the batch boundary
        6: ("click", 30.0),     # click displaced the earlier view
        8: ("view", 40.0),      # signup is not a touch channel
    }

    # batch twin on the same rows: identical per-purchase credits
    pdf = pd.DataFrame(
        rows1 + rows2,
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    e = spark.createDataFrame(pdf)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("view", "click"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    batch = {
        r.event_id: (r.channel, r.value)
        for r in e.select(
            "event_id", "event_type", "value", touch.alias("touch")
        )
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.coalesce("touch", F.lit("unattributed")).alias("channel"),
            "value",
        )
        .collect()
    }
    assert got == batch


def test_attribution_stream_orders_across_arrow_chunks(spark, stream_env):
    """A user's micro-batch rows can arrive split across Arrow chunks in
    arbitrary order; the operator must sort the CONCATENATED batch, not
    each chunk (regression: per-chunk sorting credited 'unattributed'
    when the purchase chunk preceded the click chunk)."""
    from vectordb_similarity_search_spark.streaming.events import (
        attribution_stream,
    )

    _, src, chk, name, reader = stream_env
    # file order is reverse time order: with 1-record Arrow chunks the
    # purchase is delivered in a chunk BEFORE its click
    rows = [
        (1, _t(12, 0), 1, "purchase", 5.0),
        (2, _t(11, 0), 1, "click", 0.0),
        (3, _t(10, 0), 1, "view", 0.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), f"{src}/b1.parquet"
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        q = (
            attribution_stream(reader())
            .writeStream.format("memory").queryName(name)
            .outputMode("append").option("checkpointLocation", chk).start()
        )
        try:
            q.processAllAvailable()
            got = {
                r.event_id: r.channel
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == {1: "click"}


def test_semantic_cache_stream_matches_batch_miner(spark, tmp_path):
    """semantic_cache_stream: vectors arrive across micro-batches with
    injected near-duplicate queries (tiny noise → cosine ≈ 0.999, the
    cache operating point); every (later, earlier) pair the EXACT batch
    miner finds at the same threshold must be flagged by the stream, hits
    are exact-cosine-verified, and cross-batch hits are found (state, not
    per-batch memory)."""
    import numpy as np

    from vectordb_similarity_search_spark.operators.dedup import (
        embedding_neardup_blocked,
    )
    from vectordb_similarity_search_spark.streaming.vectors import (
        semantic_cache_stream,
    )

    rng = np.random.default_rng(11)
    dim = 16
    base = rng.standard_normal((30, dim))
    rows = []
    for i in range(30):
        rows.append((i, [float(x) for x in base[i]]))
    # dups of vectors 3, 7, 20 arrive LATER (ids 100+), tiny perturbation
    for j, src in enumerate((3, 7, 20)):
        noisy = base[src] + rng.standard_normal(dim) * 1e-3
        rows.append((100 + j, [float(x) for x in noisy]))

    indir = tmp_path / "vecin"
    indir.mkdir()
    schema = "vec_id long, embedding array<double>"
    batch_df = spark.createDataFrame(rows, schema)

    # exact batch truth at the cache threshold, (earlier -> later) pairs
    truth = {
        (int(r["id_b"]), int(r["id_a"]))
        for r in embedding_neardup_blocked(
            batch_df, threshold=0.98, n_blocks=2
        ).collect()
    }
    assert len(truth) >= 3  # the injected dups are in range

    # feed in 3 time-ordered micro-batches (dups in the LAST batch,
    # sources in earlier ones → hits must cross batch boundaries)
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    def write(rows_slice, name):
        pdf = pd.DataFrame(rows_slice, columns=["vec_id", "embedding"])
        _pq.write_table(
            _pa.Table.from_pandas(pdf, preserve_index=False),
            f"{indir}/{name}.parquet",
        )

    write(rows[:15], "b0")
    stream = spark.readStream.schema(schema).parquet(str(indir))
    hits = semantic_cache_stream(stream, dim=dim, threshold=0.98)
    name = f"sem_cache_{uuid.uuid4().hex[:8]}"
    q = (
        hits.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write(rows[15:30], "b1")
        q.processAllAvailable()
        write(rows[30:], "b2")
        q.processAllAvailable()
        got = {
            (int(r["vec_id"]), int(r["cache_id"])): float(r["cosine"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
    finally:
        q.stop()

    # every batch-truth (later, earlier) pair is flagged by the stream
    flagged = set(got)
    missing = truth - flagged
    assert not missing, missing
    # and each injected dup hits its source with near-1 cosine
    for j, src in enumerate((3, 7, 20)):
        assert got[(100 + j, src)] > 0.99


def test_support_alert_stream_matches_batch_rank_twin(spark, stream_env):
    """Milestone crossings must be exact and cross-batch: a user whose
    count reaches a doubling milestone in batch 2 emits the crossing
    EVENT of batch 2, ranked under (ts, event_id) order across the whole
    replay — verified against the batch row_number twin."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.streaming.events import (
        support_alert_stream,
    )

    _, src, chk, name, reader = stream_env
    # user 1: 3 events in b1 + 3 in b2 -> milestones at 2 (b1) and 4 (b2);
    # user 2: exactly 2 events, milestone 2 only; user 3: 1 event, none
    rows1 = [
        (1, _t(9, 0), 1, "view", 0.0),
        (2, _t(9, 1), 1, "view", 0.0),
        (3, _t(9, 2), 1, "click", 0.0),
        (4, _t(9, 3), 2, "view", 0.0),
        (5, _t(9, 4), 3, "view", 0.0),
    ]
    rows2 = [
        (6, _t(10, 0), 1, "view", 0.0),
        (7, _t(10, 1), 2, "purchase", 5.0),
        (8, _t(10, 2), 1, "view", 0.0),
        (9, _t(10, 3), 1, "purchase", 7.0),
    ]
    _write_batch(src, rows1, "b1")
    q = (
        support_alert_stream(reader(), support=2)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", chk).start()
    )
    try:
        q.processAllAvailable()
        _write_batch(src, rows2, "b2")
        q.processAllAvailable()
        got = {
            (r.user_id, r.milestone): r.event_id
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
    finally:
        q.stop()
    assert got == {
        (1, 2): 2,   # second event of user 1 (batch 1)
        (1, 4): 6,   # fourth event crosses in batch 2
        (2, 2): 7,   # user 2 crosses across the batch boundary
    }

    # batch twin: rank per user under (ts, event_id); milestones 2*2^j
    pdf = pd.DataFrame(
        rows1 + rows2,
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    e = spark.createDataFrame(pdf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.withColumn("r", F.row_number().over(w))
    twin = {
        (r.user_id, r.r): r.event_id
        for r in ranked.filter(
            F.col("r").isin(2, 4, 8, 16)
        ).collect()
    }
    assert twin == got


def test_support_alert_stream_validation(spark):
    import pytest

    from vectordb_similarity_search_spark.streaming.events import (
        support_alert_stream,
    )

    with pytest.raises(ValueError):
        support_alert_stream(spark.range(1), support=0)


def test_cdc_merge_stream_schema_evolution(spark, tmp_path):
    """A mid-stream batch carrying a NEW data column evolves the table
    (NULL backfill on untouched rows); partitioned applies refuse the
    flag (split-brain schema across partition dirs)."""
    import pytest

    from vectordb_similarity_search_spark.streaming.events import (
        cdc_merge_stream,
    )

    tbl = str(tmp_path / "evo_tbl")
    src = tmp_path / "evo_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).coalesce(1).write.parquet(tbl)
    cdc_schema = "id long, name string, region string"
    stream = spark.readStream.schema(cdc_schema).parquet(str(src))
    q = cdc_merge_stream(
        stream, tbl, ["id"], str(tmp_path / "evo_chk"),
        schema_evolution=True,
    )
    try:
        spark.createDataFrame(
            [(2, "B", "eu"), (3, "C", "us")], cdc_schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        got = {
            r.id: (r.name, r.region)
            for r in spark.read.parquet(tbl).collect()
        }
        assert got == {1: ("a", None), 2: ("B", "eu"), 3: ("C", "us")}
    finally:
        q.stop()

    with pytest.raises(ValueError, match="flat merge path"):
        cdc_merge_stream(
            stream, tbl, ["id"], str(tmp_path / "evo_chk2"),
            partition_by=["region"], schema_evolution=True,
        )


def test_batch_apply_replay_leaves_no_trace(spark, tmp_path):
    """The module-level exactly-once applies behind the rollup and
    vector-ingest sinks (round-5 VERDICT #8): a replayed batch id returns
    False and changes NOTHING — ledger count, table rows, and audit
    report are bit-identical before/after the replay."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.ann import ivf_fit
    from vectordb_similarity_search_spark.streaming.audit import (
        ledger_audit,
        ledger_state,
    )
    from vectordb_similarity_search_spark.streaming.events import (
        apply_rollup_batch,
    )
    from vectordb_similarity_search_spark.streaming.vectors import (
        apply_vector_batch,
    )

    rollup = str(tmp_path / "rollup")
    events = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3} 0{i % 8}:00:00", "click", float(i))
         for i in range(60)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b0 = events.filter(F.col("event_id") % 2 == 0)
    b1 = events.filter(F.col("event_id") % 2 == 1)
    assert apply_rollup_batch(b0, 0, rollup) is True
    assert apply_rollup_batch(b1, 1, rollup) is True
    before = spark.read.parquet(rollup).collect()
    assert apply_rollup_batch(b1, 1, rollup) is False  # replay: no-op
    assert spark.read.parquet(rollup).collect() == before
    st = ledger_state(rollup)
    assert st["n_batches_applied"] == 2 and st["contiguous"]

    idx = str(tmp_path / "vecidx")
    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    model = ivf_fit(emb, n_cells=2, seed=1)
    v0 = emb.filter(F.col("vec_id") < 20).withColumn("_d", F.lit(False))
    v1 = emb.filter(F.col("vec_id") >= 20).withColumn("_d", F.lit(False))
    assert apply_vector_batch(v0, 0, model, idx, delete_col="_d") is True
    assert apply_vector_batch(v1, 1, model, idx, delete_col="_d") is True
    n_before = spark.read.parquet(idx).count()
    assert apply_vector_batch(v0, 0, model, idx, delete_col="_d") is False
    assert spark.read.parquet(idx).count() == n_before == 40

    audit = ledger_audit(
        spark, [("rollup", rollup), ("vecidx", idx)]
    ).orderBy("target").collect()
    # rollup rows = distinct (day, hour, type) groups: 3 days x 8 hours
    assert [(r.target, r.n_batches_applied, r.contiguous, r.table_rows)
            for r in audit] == [("rollup", 2, True, 24),
                                ("vecidx", 2, True, 40)]


def test_ledger_audit_tracks_live_target_mutations(spark, tmp_path):
    """An audit is an OPS query over LIVE targets: a batch applied between
    two audits must show up in the second one. The cached scan plan pins a
    parquet file listing; before the state-fingerprinted cache key, the
    second audit reused the first plan — reading files a snapshot swap had
    deleted (FileNotFound) or silently undercounting appends."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.streaming.audit import (
        ledger_audit,
    )
    from vectordb_similarity_search_spark.streaming.events import (
        apply_rollup_batch,
    )

    rollup = str(tmp_path / "rollup_live")
    # batch 0 covers hours 0-3, batch 1 hours 4-7: the second batch ADDS
    # four new rollup groups, so a stale count (4) is distinguishable
    events = spark.createDataFrame(
        [(i, f"2024-02-01 0{(i % 4) + 4 * (i // 20)}:00:00", "view", 1.0)
         for i in range(40)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert apply_rollup_batch(
        events.filter(F.col("event_id") < 20), 0, rollup) is True
    first = ledger_audit(spark, [("rollup", rollup)]).collect()
    assert first[0].n_batches_applied == 1
    assert first[0].table_rows == 4
    # mutate the target: the rollup apply path MERGES via snapshot swap,
    # so the files the first audit's plan listed no longer exist
    assert apply_rollup_batch(
        events.filter(F.col("event_id") >= 20), 1, rollup) is True
    second = ledger_audit(spark, [("rollup", rollup)]).collect()
    assert second[0].n_batches_applied == 2
    assert second[0].contiguous is True
    assert second[0].table_rows == 8


def test_ledger_state_gap_detection(tmp_path):
    """A hole in the applied-batch ids (checkpoint/ledger divergence) is
    surfaced as contiguous=False; foreign files in the ledger dir are
    ignored."""
    import os

    from vectordb_similarity_search_spark.streaming.audit import (
        ledger_state,
    )

    ledger = str(tmp_path / "tbl__applied")
    os.makedirs(ledger)
    for b in (0, 1, 3):  # batch 2 missing
        open(os.path.join(ledger, str(b)), "w").close()
    open(os.path.join(ledger, ".DS_Store"), "w").close()
    st = ledger_state(str(tmp_path / "tbl"))
    assert st["n_batches_applied"] == 3
    assert (st["first_batch_id"], st["last_batch_id"]) == (0, 3)
    assert st["contiguous"] is False


def test_dir_fingerprint_sees_two_level_mutations(tmp_path):
    """A file landing TWO levels below the audited path (nested
    day=/hour=/ layout) changes no top-level mtime, but the one-level
    recursion must still bump the fingerprint so a cached audit scan
    plan is evicted (round-6 ADVICE)."""
    import os as _os

    from vectordb_similarity_search_spark.streaming.audit import (
        _dir_fingerprint,
    )

    root = tmp_path / "tbl"
    deep = root / "day=2026-01-01" / "hour=03"
    deep.mkdir(parents=True)
    (deep / "part-0.parquet").write_bytes(b"a")
    fp1 = _dir_fingerprint(str(root))
    # freeze the top-level dir's mtime, then mutate two levels down
    top_stat = _os.stat(root / "day=2026-01-01")
    (deep / "part-1.parquet").write_bytes(b"b")
    _os.utime(
        root / "day=2026-01-01",
        ns=(top_stat.st_atime_ns, top_stat.st_mtime_ns),
    )
    fp2 = _dir_fingerprint(str(root))
    assert fp1 != fp2


def test_sketch_ingest_stream_matches_batch(spark, stream_env, tmp_path):
    """Streaming HLL sketch ledger ingest: after two micro-batches the
    stored ledger's estimates and event counts equal a one-shot batch
    build over all events, and a replayed batch id is a no-op for
    n_events (estimates are replay-safe by algebra regardless)."""
    from pyspark.sql import functions as F

    from vectordb_similarity_search_spark.operators.sketches import (
        HLL,
        daily_hll_sketches,
    )
    from vectordb_similarity_search_spark.streaming.events import (
        apply_ledger_batch,
        sketch_ingest_stream,
    )

    _, src, chk, _, reader = stream_env
    rows1 = [
        (1, _t(9, 5), 1, "click", 1.0),
        (2, _t(9, 40), 2, "view", 2.0),
        (3, _t(10, 10), 1, "click", 3.0),
    ]
    rows2 = [
        (4, _t(9, 50), 3, "click", 5.0),
        (5, _t(11, 1), 1, "buy", 7.0),
    ]
    path = str(tmp_path / "sketch_ledger")
    _write_batch(src, rows1, "b1")
    q = sketch_ingest_stream(reader(), path, str(chk))
    q.processAllAvailable()
    _write_batch(src, rows2, "b2")
    q.processAllAvailable()
    q.stop()

    def summary(ledger):
        return sorted(
            (str(r["day"]), r["event_type"], r["n_events"], r["e"])
            for r in ledger.select(
                "day",
                "event_type",
                "n_events",
                F.hll_sketch_estimate("sk").cast("long").alias("e"),
            ).collect()
        )

    stored = spark.read.parquet(path)
    batch_equiv = daily_hll_sketches(
        spark.createDataFrame(
            rows1 + rows2,
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
    )
    assert summary(stored) == summary(batch_equiv)

    # replayed batch id: marker makes it a no-op (n_events unchanged)
    replay = spark.createDataFrame(
        rows2,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    assert apply_ledger_batch(HLL, replay, 1, path) is False
    assert summary(spark.read.parquet(path)) == summary(batch_equiv)


def test_sketch_upsert_rewrites_only_touched_days(spark, tmp_path):
    """The O(touched) claim: a batch touching one day must leave every
    other day partition's files byte-identical on disk."""
    import os

    from vectordb_similarity_search_spark.operators.sketches import (
        HLL,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )

    path = str(tmp_path / "ledger")
    base = [
        (1, dt.datetime(2026, 3, 1, 9), 1, "click", 1.0),
        (2, dt.datetime(2026, 3, 2, 9), 2, "click", 1.0),
        (3, dt.datetime(2026, 3, 3, 9), 3, "click", 1.0),
    ]
    assert HLL.upsert(mk(base), path) == 3

    def file_state(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_d1 = file_state("2026-03-01")
    before_d3 = file_state("2026-03-03")
    touched = HLL.upsert(
        mk([(4, dt.datetime(2026, 3, 2, 15), 9, "view", 1.0)]), path
    )
    assert touched == 1
    assert file_state("2026-03-01") == before_d1
    assert file_state("2026-03-03") == before_d3
    # and the touched day actually merged: 2 events now
    from pyspark.sql import functions as F

    got = {
        (str(r["day"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(path).collect()
    }
    assert got[("2026-03-02", "click")] == 1
    assert got[("2026-03-02", "view")] == 1
