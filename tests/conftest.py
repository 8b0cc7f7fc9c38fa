from __future__ import annotations

import os
import sys
import threading
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectordb_similarity_search_spark.session import get_spark  # noqa: E402

SMOKE_SF = "/root/testdata/sf0.001"
ORACLE_SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master=os.environ.get("SPARK_TEST_MASTER", "local[4]"),
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SMOKE_SF


def plan_of(df) -> str:
    """Formatted physical plan of an UNEXECUTED DataFrame (AQE prints
    final+initial trees after an action — assert on fresh frames only)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn, *args)`` runs ``fn`` under a fresh Spark job group
    and returns ``(result, number of Spark jobs it started)`` — the probe
    behind the zero-jobs-at-build and per-operation job pins."""
    sc = spark.sparkContext

    def run(fn, *args, **kwargs):
        group = f"job-probe-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "job probe")
        try:
            out = fn(*args, **kwargs)
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def count_codegen_compiles(spark):
    """``count_codegen_compiles(fn, *args)`` returns ``(result, classes
    Janino compiled while fn ran)``, read from Spark's own counter. A
    class served from the codegen cache is not compiled, so a warm query
    whose classes are still cached counts 0. The counter is JVM-wide: run
    nothing else on the session meanwhile."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    def run(fn, *args, **kwargs):
        before = metric().getCount()
        out = fn(*args, **kwargs)
        return out, metric().getCount() - before

    return run


@pytest.fixture()
def fail_move(monkeypatch):
    """``fail_move(n)`` makes the ``n``-th directory move of ``commit``
    (1-based, counted from the call) raise ``OSError`` — the torn state a
    crash at that point of a publish leaves behind — and returns the list
    of ``(src, dst)`` moves attempted so far. Later moves run normally."""
    from vectordb_similarity_search_spark import commit

    real = commit._move

    def arm(n: int) -> list:
        moves = []

        def move(src, dst):
            moves.append((src, dst))
            if len(moves) == n:
                raise OSError(f"injected failure in commit move {n}")
            real(src, dst)

        monkeypatch.setattr(commit, "_move", move)
        return moves

    return arm


@pytest.fixture()
def count_py4j_calls(monkeypatch):
    """``count_py4j_calls(fn, *args)`` returns ``(result, py4j round trips)``:
    every ``ClientServerConnection.send_command`` made by the calling
    thread. py4j's finalizer thread sends the release commands of dropped
    JVM handles asynchronously, whenever it runs, so those are not counted."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command

    def run(fn, *args, **kwargs):
        n = 0
        caller = threading.get_ident()

        def counting(self, *a, **kw):
            nonlocal n
            n += threading.get_ident() == caller
            return send(self, *a, **kw)

        monkeypatch.setattr(ClientServerConnection, "send_command", counting)
        try:
            out = fn(*args, **kwargs)
        finally:
            monkeypatch.setattr(ClientServerConnection, "send_command", send)
        return out, n

    return run
