"""Query registry: name → (Spark plan builder, DuckDB oracle SQL).

Contract (driver, see repo-root ``__spark_entry__.py``): each Spark builder
takes ``(spark, sf_dir)`` and returns a DataFrame; the oracle SQL runs in
DuckDB over pre-registered views of the same parquet tables.  Column names
are aliased identically on both sides (the driver sorts columns by name and
hashes values).

Float discipline (so value-hashes match bit-for-bit):
- money/quantity aggregates go through DECIMAL (exact) and are cast to
  double at the end — identical in Spark and DuckDB;
- intrinsically-float results (cosine scores, variances) are computed in
  double on both sides and ``(round(x, 6) + 0)``-ed in the output.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .. import cache
from ..session import ensure_package_on_executors
from ..sources.tables import load_table

# Expected-output parquet fixtures (tests/fixtures/): oracles for queries
# whose results are deterministic but not SQL-expressible (seeded
# generators, hash sketches, iterative k-means). scripts/
# gen_expected_fixtures.py regenerates them; tests/test_oracle_parity.py
# and the driver replay them through DuckDB's read_parquet.
FIXTURES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)

# Fixture oracles whose expected output is a function of the INPUT TABLES
# (documents/embeddings/lineitem), generated at the driver's correctness
# scale sf0.01 — valid ONLY at that sf. (The seeded-generator fixtures are
# sf-independent and absent from this set.) test_oracle_parity pins these
# at sf0.01 regardless of the smoke-sf default.
SF_BOUND_ORACLES: set[str] = set()


def expected_oracle(name: str, *, sf_bound: bool = False) -> str:
    """DuckDB oracle that replays a committed expected-output parquet."""
    if sf_bound:
        SF_BOUND_ORACLES.add(name)
    return (
        "SELECT * FROM read_parquet('"
        + os.path.join(FIXTURES_DIR, f"{name}_expected.parquet")
        + "')"
    )


def fixture_table(filename: str) -> str:
    """DuckDB ``read_parquet`` path of a GENERATOR-TRUTH fixture table
    (scripts/gen_media_ground_truth.py): unlike :func:`expected_oracle`,
    the oracle SQL built over one of these does REAL aggregation work —
    the fixture holds raw generator-side samples/digests (independent of
    every engine decode path), not the query's own frozen output."""
    return os.path.join(FIXTURES_DIR, filename)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records a weaker rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable:
    """Decorator registering a query builder under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver calls queries with its own session from an arbitrary
            # cwd; ship the package so worker-side closure unpickling can
            # import it (see session.ensure_package_on_executors).
            ensure_package_on_executors(spark)
            # one plan handle per (session, sf_dir, query): a builder is a
            # pure function of both, and rebuilding pays 0.3-1.3 s of py4j
            # expression construction (staleness contract in cache.py)
            return cache.get(
                spark, "plan", sf_dir, name, reads=(sf_dir,), build=lambda: fn(spark, sf_dir)
            )

        REGISTRY[name] = QuerySpec(name, wrapped, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand fixture-table scan."""
    return load_table(spark, sf_dir, name)
