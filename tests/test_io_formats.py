"""Multi-format source/sink round-trips and partition pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_similarity_search_spark.sources.io import _CSV_OPTS, _JSON_OPTS, write_table
from vectordb_similarity_search_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def read_table(spark, path, fmt, schema=None):
    """Read back with the writer's text-format options and, when given,
    an explicit schema (no inference pass)."""
    r = spark.read.options(**{"csv": _CSV_OPTS, "json": _JSON_OPTS}.get(fmt, {}))
    if schema is not None:
        r = r.schema(schema)
    return r.format(fmt).load(path)


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_documents_roundtrip(spark, tmp_path, fmt):
    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / f"docs_{fmt}")
    write_table(docs, path, fmt)
    back = read_table(spark, path, fmt, schema=docs.schema)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    assert _sorted_rows(back, cols) == _sorted_rows(docs, cols)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json"])
def test_embeddings_array_roundtrip(spark, tmp_path, fmt):
    emb = load_table(spark, SF, "embeddings").limit(50)
    path = str(tmp_path / f"emb_{fmt}")
    write_table(emb, path, fmt)
    back = read_table(spark, path, fmt, schema=emb.schema)
    a = {r.vec_id: list(r.embedding) for r in emb.collect()}
    b = {r.vec_id: list(r.embedding) for r in back.collect()}
    assert a == b


def test_csv_rejects_arrays(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="nested/array"):
        write_table(emb, str(tmp_path / "x"), "csv")


def test_events_timestamp_roundtrip_json(spark, tmp_path):
    ev = load_table(spark, SF, "events").limit(100)
    path = str(tmp_path / "ev_json")
    write_table(ev, path, "json")
    back = read_table(spark, path, "json", schema=ev.schema)
    a = _sorted_rows(ev, ["event_id", "ts"])
    assert a == _sorted_rows(back, ["event_id", "ts"])


def test_partitioned_write_prunes(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "docs_part")
    write_table(docs, path, "parquet", partition_by=["source"])
    back = read_table(spark, path, "parquet").filter(F.col("source") == "src3")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "src3" in plan
    n_expected = docs.filter(F.col("source") == "src3").count()
    assert back.count() == n_expected


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key: the join plan has NO Exchange
    on either side — the write-time bucketing replaced the read-time
    shuffle."""
    import re

    from vectordb_similarity_search_spark.sources.io import write_bucketed

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    lines = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=4)
    write_bucketed(
        lines.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        n_buckets=4,
    )
    try:
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange hashpartitioning", plan), plan
        # sanity: result matches the plain (shuffled) join
        plain = orders.join(
            lines.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        assert joined.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_write_sorted_produces_tight_zone_maps(spark, tmp_path):
    """Range-clustered write: files cover DISJOINT key ranges and each
    row group's min/max span is a small slice of the domain — the footer
    stats a selective reader uses to skip row groups entirely. The same
    data written unsorted has every row group spanning ~the full domain
    (no skipping possible)."""
    import glob

    import pyarrow.parquet as pq

    from vectordb_similarity_search_spark.sources.io import write_sorted

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    lo, hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).head()
    domain = hi - lo + 1

    def spans(path):
        out = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)  # l_orderkey
                out.append((col.statistics.min, col.statistics.max))
        return out

    sorted_path = str(tmp_path / "sorted")
    write_sorted(li, sorted_path, ["l_orderkey"], n_files=8)
    unsorted_path = str(tmp_path / "unsorted")
    li.repartition(8).write.parquet(unsorted_path)

    s_spans = sorted(spans(sorted_path))
    u_spans = spans(unsorted_path)
    # sorted: disjoint file ranges (each next min > previous max)
    for (_, prev_max), (nxt_min, _) in zip(s_spans, s_spans[1:]):
        assert nxt_min > prev_max
    # sorted row groups are tight; unsorted ones span ~the whole domain
    widest_sorted = max(mx - mn for mn, mx in s_spans) / domain
    narrowest_unsorted = min(mx - mn for mn, mx in u_spans) / domain
    assert widest_sorted < 0.35
    assert narrowest_unsorted > 0.9


def test_write_zordered_tightens_both_dimensions(spark, tmp_path):
    """Z-order clustering: row-group min/max spans shrink on BOTH
    z-columns (a single-key sort only tightens its own column; the
    second dimension spans ~the whole domain)."""
    import glob

    import pyarrow.parquet as pq

    from vectordb_similarity_search_spark.sources.io import (
        write_sorted,
        write_zordered,
    )

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    dom = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey"),
    ).head()
    domains = {0: dom[1] - dom[0] + 1, 1: dom[3] - dom[2] + 1}

    def spans(path, col_idx):
        out = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                out.append((st.min, st.max))
        return out

    zpath = str(tmp_path / "zorder")
    write_zordered(li, zpath, ["l_orderkey", "l_partkey"], n_files=16)
    spath = str(tmp_path / "sorted1d")
    write_sorted(li, spath, ["l_orderkey"], n_files=16)

    def median_rel_span(path, idx):
        s = sorted((mx - mn) / domains[idx] for mn, mx in spans(path, idx))
        return s[len(s) // 2]

    # z-order: BOTH columns' typical row-group span is a fraction of the
    # domain; the 1-d sort leaves the second column at ~full domain
    assert median_rel_span(zpath, 0) < 0.6
    assert median_rel_span(zpath, 1) < 0.6
    assert median_rel_span(spath, 1) > 0.9


def test_write_zordered_rejects_overflowing_bits(spark, tmp_path):
    import pytest as _pytest

    from vectordb_similarity_search_spark.sources.io import write_zordered

    df = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"
    )
    with _pytest.raises(ValueError, match="63"):
        write_zordered(
            df, str(tmp_path / "z"), df.columns[:4], bits=16
        )
    # default bits auto-fits: 5 columns -> 12 bits each (60 <= 63)
    write_zordered(df, str(tmp_path / "z5"), df.columns, n_files=4)
