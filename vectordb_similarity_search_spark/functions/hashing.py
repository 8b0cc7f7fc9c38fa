"""Hash-sketch column expressions: MinHash, SimHash, random-hyperplane LSH.

All sketches are built from ``xxhash64`` (Spark's built-in 64-bit hash,
JVM-side, codegen-able) — no Python in the hot path. These back the dedup
and ANN operators; they are rows-only checked (DuckDB has no xxhash64, so
no SQL oracle can replay them — correctness comes from property tests
against the exact baselines, tests/test_dedup.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from .vector import array_lit


def lsh_band_keys(signature: Column, bands: int, rows: int) -> Column:
    """Banded LSH keys: hash each band of ``rows`` consecutive signature
    entries. Two docs become candidates iff they collide in ≥1 band.
    Returns array<struct<band:int, key:bigint>> ready to explode."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.lit(b), F.slice(signature, b * rows + 1, rows)).alias(
                    "key"
                ),
            )
            for b in range(bands)
        ]
    )


def simhash_bits(tokens: Column, n_bits: int = 64) -> Column:
    """SimHash bit vector (array<int> of 0/1, length n_bits).

    bit[j] = 1 iff Σ_tokens (bit j of xxhash64(token) ? +1 : -1) > 0.
    Computed as one token-hash projection then n_bits folds — all JVM.
    """
    hashes = F.transform(tokens, lambda tk: F.xxhash64(tk))

    def bit_merge(j: int):
        return lambda acc, h: acc + (
            F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1
        ).cast("int")

    bit_sums = F.array(
        *[F.aggregate(hashes, F.lit(0), bit_merge(j)) for j in range(n_bits)]
    )
    return F.transform(bit_sums, lambda s: F.when(s > 0, 1).otherwise(0))


def simhash_block_keys(bits: Column, n_blocks: int = 4, n_bits: int = 64) -> Column:
    """Pack the simhash bit array into ``n_blocks`` integer block keys for
    LSH bucketing: docs within hamming distance < n_blocks share ≥1 block
    (pigeonhole). ``n_bits`` must match the signature width produced by
    :func:`simhash_bits` — blocking over the wrong range would silently
    break the pigeonhole recall guarantee.
    Returns array<struct<block:int, key:int>>."""
    assert n_bits % n_blocks == 0, f"{n_bits} bits not divisible into {n_blocks} blocks"
    w = n_bits // n_blocks
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("block"),
                F.aggregate(
                    F.slice(bits, b * w + 1, w),
                    F.lit(0),
                    lambda acc, bit: acc * 2 + bit,
                ).alias("key"),
            )
            for b in range(n_blocks)
        ]
    )


def hamming_distance(bits_a: Column, bits_b: Column) -> Column:
    return F.size(F.filter(F.zip_with(bits_a, bits_b, lambda x, y: x != y), lambda d: d))


def hyperplane_signature(vec: Column, dim: int, n_planes: int = 16, seed: int = 42) -> Column:
    """Random-hyperplane (SRP) LSH key for cosine similarity: bit i =
    sign(v·r_i) packed into one int. Planes are a seeded numpy draw folded
    into the plan as literals — identical on every executor, no shuffle.
    Each plane is one ``array_lit`` (O(1) py4j calls, and one reference
    object in the generated code rather than ``dim`` inlined constants)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    v = vec.cast("array<double>")
    key = F.lit(0)
    for i in range(n_planes):
        p = array_lit(planes[i])
        d = F.aggregate(F.zip_with(v, p, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
        key = key * 2 + F.when(d >= 0, 1).otherwise(0)
    return key
