"""Vector math as native Spark column expressions (higher-order functions).

This is the engine's version of the reference's brute-force cosine kernel
(`sklearn.cosine_similarity` over an in-memory matrix,
similarity_search.py:300-305).  We express dot/norm/cosine with
``zip_with`` + ``aggregate`` so the whole computation stays JVM-side inside
Catalyst (no Python round-trip, pushdown-friendly) and scales linearly with
partitioned scans instead of requiring a single dense matrix in one
process's RAM. These higher-order functions are NOT code-generated:
``ZipWith`` and ``ArrayAggregate`` implement ``CodegenFallback``, so each
fold runs interpreted inside the generated stage. Per-row cost is
therefore counted in folds, and a fold whose inputs are all literal (the
query norm of :func:`cosine_similarity`) is done once on the driver.

Driver-side vectors become plan literals through :func:`array_lit` /
:func:`matrix_lit`, which cross the py4j bridge as one float64 byte string:
a constant number of py4j calls whatever the dimension.

All kernels cast to ``array<double>`` first so results are deterministic and
bit-comparable with the DuckDB oracle (which also computes in double after a
``CAST(x AS DOUBLE[])``).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions.builtin import _invoke_function


def to_double_array(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")


def _jvm_array(values, jtype: str = "double"):
    """A JVM ``double[]`` / ``long[]`` holding ``values`` flattened in C
    order. The values cross py4j as one big-endian byte string and are read
    back through ``ByteBuffer.asDoubleBuffer()``/``asLongBuffer()``:
    bit-exact (signed zeros, NaN, subnormals) in a number of py4j calls
    that does not depend on the element count (one ``F.lit`` per element
    costs ~4 calls each)."""
    dtype, view = {"double": (">f8", "asDoubleBuffer"), "long": (">i8", "asLongBuffer")}[jtype]
    sc = SparkContext._active_spark_context
    assert sc is not None, "no active SparkContext"
    flat = np.ascontiguousarray(values, dtype=dtype).ravel()
    out = sc._gateway.new_array(getattr(sc._jvm, jtype), flat.size)
    getattr(sc._jvm.java.nio.ByteBuffer.wrap(flat.tobytes()), view)().get(out)
    return out


def long_array_lit(ids) -> Column:
    """A literal array<bigint> column of driver-side ids (O(1) py4j calls)."""
    return _invoke_function("lit", _jvm_array(np.asarray(ids, dtype=np.int64), "long"))


def array_lit(vec) -> Column:
    """A literal array<double> column for a driver-side query vector.

    Mirrors the reference's broadcast of the embedded query
    (similarity_search.py:332-334) — a constant folded into the plan, shipped
    once per executor with the task binary, never shuffled. Same value and
    type as ``F.array(*[F.lit(float(x)) ...]).cast("array<double>")``
    (pinned in tests/test_vector_store_costs.py), built in O(1) py4j calls.
    """
    arr = _jvm_array(np.asarray(vec, dtype=np.float64))
    return _invoke_function("lit", arr).cast("array<double>")


def matrix_lit(rows) -> Column:
    """A literal array<array<double>> column, one inner array per row of a
    driver-side n × dim matrix (e.g. IVF centroids). One byte transfer, then
    Scala's ``ArrayOps.grouped(dim)`` splits the flat ``double[]`` into rows
    JVM-side: O(1) py4j calls in both n and dim."""
    m = np.asarray(rows, dtype=np.float64)
    if m.ndim != 2 or m.shape[1] == 0:
        raise ValueError(f"matrix_lit needs an n x dim matrix, dim >= 1; got shape {m.shape}")
    flat = _jvm_array(m)
    jvm = SparkContext._active_spark_context._jvm
    nested = (
        jvm.scala.collection.ArrayOps(flat)
        .grouped(m.shape[1])
        .toArray(jvm.scala.reflect.ClassTag.apply(flat.getClass()))
    )
    return _invoke_function("lit", nested)


def _is_vector(x) -> bool:
    """True for a driver-side vector (list/tuple/ndarray), False for a
    column reference (Column or column name)."""
    return isinstance(x, (Sequence, np.ndarray)) and not isinstance(x, str)


def _query_norm(vec) -> float:
    """|q| of a driver-side vector with the SAME left-to-right float64 fold
    as ``l2_norm`` (0.0, then acc + x*x per element, then sqrt), so the
    folded constant is bit-identical to what the per-row fold computes."""
    acc = 0.0
    for x in np.asarray(vec, dtype=np.float64).tolist():
        acc = acc + x * x
    return math.sqrt(acc)


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-to-right fold — matches DuckDB list ops' order.

    Measured (sf0.1, 2M pairs, dim 64): the HOF fold with PRECOMPUTED
    norms runs in ~9 s; the scale path for massive pair counts is the
    numpy-blocked scorer (operators/topk.similarity_join_blocked)."""
    a, b = to_double_array(a), to_double_array(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) = a·b / (|a||b|) — the reference's core scoring kernel
    (similarity_search.py:302). NULL when either vector is zero (cosine is
    undefined there; ANSI mode would otherwise raise DIVIDE_BY_ZERO). The
    non-zero path's arithmetic is unchanged, preserving oracle bit-parity.

    ``b`` may be a driver-side vector (list/ndarray) instead of a column:
    it becomes an :func:`array_lit` and its norm is folded once on the
    driver (:func:`_query_norm`, same order, same bits), so each row pays
    two interpreted folds (a·b and |a|) instead of three."""
    if _is_vector(b):
        b_norm = F.lit(_query_norm(b))
        b = array_lit(b)
    else:
        b_norm = l2_norm(b)
    denom = l2_norm(a) * b_norm
    return F.when(denom != 0.0, dot(a, b) / denom)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance; ``b`` may be a driver-side vector (array_lit)."""
    if _is_vector(b):
        b = array_lit(b)
    a, b = to_double_array(a), to_double_array(b)
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def row_zscore_normalize(a: Column | str, eps: float = 1e-8) -> Column:
    """Per-row z-score across a vector's own components — bug-compatible
    mirror of the reference's query-path normalization
    (similarity_search.py:576), which normalizes the query row against
    ITSELF instead of the training statistics (train/serve skew; SURVEY.md
    §2.4 V2). Provided for migration parity only — new code should use
    ``operators.cohort.zscore_params``/``zscore_vector`` (stored stats)."""
    a = to_double_array(a)
    n = F.size(a)
    mu = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x) / n
    var = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x - mu) * (x - mu)) / n
    sd = F.sqrt(var) + F.lit(eps)
    return F.transform(a, lambda x: (x - mu) / sd)

