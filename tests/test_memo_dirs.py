"""On-disk memo directories (cache.memo_dir), driven through the text-index
memo of t_bm25_indexed: a directory is served only while its sources, its
parameters and the package code are unchanged, and only once committed."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from vectordb_similarity_search_spark import cache
from vectordb_similarity_search_spark.plans.text_queries import _text_index_for


@pytest.fixture()
def memo_env(sf_dir, tmp_path, monkeypatch):
    """A private memo root (TMPDIR) and a private copy of the documents
    table, so the test can touch its source without touching fixtures."""
    root = tmp_path / "memo"
    root.mkdir()
    monkeypatch.setenv("TMPDIR", str(root))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy2(os.path.join(sf_dir, "documents.parquet"), sf)
    return str(root), str(sf)


def _memo_dirs(root: str) -> list[str]:
    return sorted(n for n in os.listdir(root) if n.startswith("vss_tidx_"))


def test_code_change_builds_a_new_dir(spark, memo_env, monkeypatch):
    root, sf = memo_env
    first = _text_index_for(spark, sf)
    assert os.path.dirname(first) == root
    assert os.path.exists(os.path.join(first, "_DONE"))
    assert _text_index_for(spark, sf) == first  # served, not rebuilt

    monkeypatch.setattr(cache, "code_fingerprint", lambda: "changed-code")
    second = _text_index_for(spark, sf)
    assert second != first
    assert os.path.exists(os.path.join(second, "_DONE"))
    assert os.path.exists(os.path.join(second, "_meta.json"))
    assert _memo_dirs(root) == sorted(
        os.path.basename(p) for p in (first, second)
    )


def test_dir_without_done_marker_is_rebuilt(spark, memo_env):
    root, sf = memo_env
    path = _text_index_for(spark, sf)
    os.remove(os.path.join(path, "_DONE"))
    leftover = os.path.join(path, "half_built_leftover")
    open(leftover, "w").close()

    assert _text_index_for(spark, sf) == path
    assert not os.path.exists(leftover)  # the half-built dir was removed
    assert os.path.exists(os.path.join(path, "_DONE"))
    assert os.path.exists(os.path.join(path, "_meta.json"))


def test_touched_source_gives_a_new_key(spark, memo_env):
    root, sf = memo_env
    first = _text_index_for(spark, sf)
    src = os.path.join(sf, "documents.parquet")
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))

    second = _text_index_for(spark, sf)
    assert second != first
    assert os.path.exists(os.path.join(second, "_DONE"))
    assert len(_memo_dirs(root)) == 2
