"""SparkSession factory with scale-aware defaults.

Defaults target correctness on ``local[N]`` while remaining the right
settings for a large cluster: AQE on (runtime shuffle coalescing + skew-join
splitting), Arrow on (vectorized pandas_udf transfer), UTC session timezone
(so timestamp semantics match the DuckDB oracle and are cluster-stable),
and a codegen class cache sized to the engine's working set.

The codegen cache holds the classes whole-stage codegen compiles with
Janino. Spark's default keeps the 100 most recently used, but one
session of this engine cycles through more distinct classes than that:
the five-query ``perfbench`` analytics mix alone needs ~172, so with the
default every warm round evicted classes before their next use and
recompiled ~118 of them (and HotSpot then JIT-compiled each new class
again). The cap is sized from a pass over the whole registry (see the
comment at the setting); each cached class keeps its source text on the
heap and its loaded class in Metaspace.

It is a STATIC conf: it takes effect only when the session is created,
so it cannot be set on a session built elsewhere. A caller's own
session, such as the one the ``__spark_entry__.py`` contract is called
with (replicated by ``scripts/drive_replica.py``), does not go through
:func:`get_spark` and keeps Spark's default.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_ZIP: str | None = None


def package_py_files() -> list[tuple[str, str]]:
    """``(absolute path, path relative to the repo root)`` of every ``.py``
    source of this package."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    files = []
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        for fn in filenames:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                files.append((full, os.path.relpath(full, root)))
    return files


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``sc.addPyFile``.

    The grading driver (and any real spark-submit deployment) loads
    ``__spark_entry__.py`` by file path from an arbitrary cwd, so workers
    can NOT import ``vectordb_similarity_search_spark`` from their own
    ``sys.path`` — yet cloudpickle serializes mapInPandas closures that
    reference module-level functions (e.g. ``ml.embed._forward``) BY
    REFERENCE, which makes the worker import the module. ``addPyFile`` is
    Spark's mechanism for exactly this: the zip is distributed with the
    job and prepended to every worker's ``sys.path`` — the same call that
    ships the package to 1000 real executors.

    Idempotent per SparkContext; the zip is built once per driver process.
    """
    global _PKG_ZIP
    sc = spark.sparkContext
    if getattr(sc, "_vss_pkg_shipped", False):
        return
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        fd, zip_path = tempfile.mkstemp(prefix="vss_pkg_", suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(zip_path, "w") as zf:
            for full, rel in package_py_files():
                zf.write(full, rel)
        _PKG_ZIP = zip_path
    sc.addPyFile(_PKG_ZIP)
    sc._vss_pkg_shipped = True


def get_spark(
    app_name: str = "vectordb-similarity-search-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    On a real cluster, ``master``/executor sizing come from spark-submit; we
    only set logical-plan-level configs here so the same code runs on
    ``local[32]`` and on 1000 executors.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # At 100 TB you want O(2-3x total cores) partitions; AQE coalesces
        # down when partitions are small, so err on the high side there.
        # Locally, match the core count to avoid tiny-task overhead.
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The events fixture stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long (ns since epoch) and normalize in the
        # loader (sources/tables.py) to TimestampType at micro precision.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MiB input splits: good parallelism at TB scale without
        # drowning the scheduler in tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # rank-limit windows (top-k per group) convert to WindowGroupLimit
        # — a map-side partial top-k heap before the exchange — only when
        # the limit is <= this threshold; the stratified-sample ledger's
        # cap is 1024, just past the 1000 default. Scale-neutral: the
        # value bounds the per-task heap ENTRY COUNT, not data size
        # (round-10; plain sessions still return identical results via
        # the ordinary Window path)
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "4096")
        # Janino class cache (LRU, default 100 entries). One pass over
        # the whole registry at sf0.001 compiles 3,873 distinct classes
        # (5,583 compilations under the default cap, which also thrashes
        # the 172-class perfbench analytics mix on every warm round); the
        # next power of two holds them all. A cached class costs ~32 KiB
        # of heap (its source text is the key) plus its loaded class in
        # Metaspace: the full registry working set retains 291 -> 413 MiB
        # heap and 196 -> 228 MiB Metaspace, the analytics mix a few MiB.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def runtime_bloom_filter_confs(
    application_side_scan_threshold: str = "10GB",
) -> dict[str, str]:
    """Confs that let Catalyst inject a RUNTIME Bloom filter into shuffle
    joins: when one join side carries a selective filter, its join keys are
    bloom-aggregated and the OTHER side's scan is pre-filtered with
    ``might_contain`` BEFORE the exchange — rows that cannot match never
    shuffle. This is the row-level complement of partition pruning and one
    of the biggest shuffle reducers for selective fact-fact joins at
    100 TB (broadcast joins don't need it; sort-merge joins do).

    Spark enables the optimizer by default but gates it on the application
    side scanning >= 10 GB; pass a smaller threshold to demonstrate/force
    it on small inputs (tests use "0").
    """
    return {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": application_side_scan_threshold,
    }
