"""Skew-handling join: salting for hot keys.

A shuffle join hashes rows to reducers BY KEY, so one hot key (the
boilerplate document, the null-ish default id, the mega-customer) lands
its entire row set on a single reducer — at 100 TB that one task runs for
hours while the rest of the cluster idles. AQE's skew-join split handles
sort-merge cases adaptively; salting is the explicit, always-works form,
and the only option when the skewed side must aggregate too.

Mechanics: the big side appends a uniform salt in [0, n_salts) to the
key; the small side is replicated once per salt value (explode). The hot
key now spreads over n_salts reducers; results are identical to the
unsalted join (each big row meets each matching small row exactly once —
on its own salt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = "_salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    *,
    n_salts: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Join ``big`` (skewed) with ``small`` on equality keys, spreading
    each key over ``n_salts`` reducers. ``how``: inner or left (semantics
    where the big side drives). The salt never escapes."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (big side drives)")
    if any(SALT in df.columns for df in (big, small)):
        raise ValueError(f"column {SALT!r} already present")
    b = big.withColumn(SALT, F.floor(F.rand(seed) * n_salts).cast("int"))
    s = small.withColumn(
        SALT, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = b.join(s, on + [SALT], how)
    return out.drop(SALT)
