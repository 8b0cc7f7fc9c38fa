"""The publish protocol (vectordb_similarity_search_spark/commit.py): atomic
sidecar writes. The crash paths of the swap and the partition commit are
pinned through their writers (test_merge_skew, test_rollup,
test_sketches, test_plan_cache)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vectordb_similarity_search_spark import commit


def _tear_json_dump(monkeypatch) -> None:
    """Make ``json.dump`` write half its output, then raise — a crash in
    the middle of a sidecar write."""
    real = json.dumps

    def torn(obj, fh, **kw):
        text = real(obj, **kw)
        fh.write(text[: len(text) // 2])
        raise OSError("injected failure mid-write")

    monkeypatch.setattr(json, "dump", torn)


def test_write_json_crash_keeps_previous_file(tmp_path, monkeypatch):
    path = str(tmp_path / "_meta.json")
    with open(path, "w") as fh:
        fh.write('{"v": 1}')
    _tear_json_dump(monkeypatch)
    with pytest.raises(OSError, match="mid-write"):
        commit.write_json(path, {"v": 2, "pad": "x" * 100})
    with open(path) as fh:
        assert fh.read() == '{"v": 1}'


def _sidecar_writes(spark, tmp_path):
    """(sidecar path, writer) for each Spark writer whose sidecar used to
    be a plain ``json.dump`` into the live file."""
    from vectordb_similarity_search_spark.operators.dedup import (
        write_signature_store,
    )
    from vectordb_similarity_search_spark.operators.ranking import (
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} about topic {i % 3}") for i in range(20)],
        "doc_id long, text string",
    )
    store, shards = str(tmp_path / "sigs"), str(tmp_path / "shards")
    weighted = docs.withColumn("n_tok", F.length("text"))
    return [
        (
            os.path.join(store, "_store_meta.json"),
            lambda: write_signature_store(docs, store),
        ),
        (
            os.path.join(shards, "_shard_manifest.json"),
            lambda: write_training_shards(weighted, shards, "n_tok", "doc_id", 2),
        ),
    ]


def test_sidecars_are_never_torn(spark, tmp_path, monkeypatch):
    """A crash in the middle of the sidecar write leaves no torn JSON: the
    overwrite's data write already replaced the directory, so the
    sidecar is absent (readers refuse the store loudly), never half a
    file that parses as garbage."""
    for sidecar, write in _sidecar_writes(spark, tmp_path):
        write()
        with open(sidecar) as fh:
            json.load(fh)
        with monkeypatch.context() as m:
            _tear_json_dump(m)
            with pytest.raises(OSError, match="mid-write"):
                write()
        assert not os.path.exists(sidecar), sidecar
