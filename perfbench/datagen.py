"""Seeded benchmark inputs. Everything the package receives is generated
here from the run's ``--seed``; the package never sees the seed itself.

The fixture tables mirror the schema and value domains of the repository's
TPC-H-ish test data (``region`` .. ``embeddings``), so registry queries and
their DuckDB oracles run on them unchanged. Row counts scale with ``sf`` the
way the test data does (``lineitem`` = 6M x sf).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def unit_rows(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def lineitem_frame(rng, n_lines: int, n_orders: int, n_parts: int, n_supps: int) -> pd.DataFrame:
    """``lineitem`` with a unique (l_orderkey, l_linenumber) key, so the same
    frame can serve as a merge target."""
    orderkey = np.sort(rng.integers(0, n_orders, n_lines))
    linenumber = pd.Series(orderkey).groupby(orderkey).cumcount().to_numpy() + 1
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    return pd.DataFrame({
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supps, n_lines).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_lines),
        "l_linestatus": rng.choice(["O", "F"], n_lines),
        "l_shipdate": _days(rng, n_lines, "1995-01-02", "2001-11-04"),
    })


def _documents(rng, n: int) -> pd.DataFrame:
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    # a few near-duplicates give the dedup/similarity-join queries pairs
    for i in rng.choice(n, max(1, n // 30), replace=False):
        src = texts[int(rng.integers(n))].split()
        src[int(rng.integers(len(src)))] = "dup"
        texts[i] = " ".join(src)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten fixture tables as ``<out_dir>/<table>.parquet``;
    returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_doc, n_emb, n_user = n(50_000), n(50_000), n(15_000)
    tables: dict[str, pd.DataFrame] = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust
            ),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{c} {w}" for c, w in zip(
                    rng.choice(["red", "blue", "green", "black", "white", "small", "large", "steel"], n_part),
                    rng.choice(["anvil", "bolt", "ring", "widget", "gear", "pipe", "nut", "valve"], n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
        "lineitem": lineitem_frame(rng, n_line, n_ord, n_part, n_supp),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(
                np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
            "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
            "value": np.clip(np.round(rng.exponential(40.0, n_ev), 2), 0.01, None),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": pd.DataFrame({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(unit_rows(rng.normal(size=(n_emb, DIM)))),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        write_parquet(df, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in tables.items()}


def write_parquet(df: pd.DataFrame, path: str) -> None:
    schema = None
    if "embedding" in df.columns:
        fields = [
            pa.field(c, pa.list_(pa.float32())) if c == "embedding"
            else pa.field(c, pa.from_numpy_dtype(df[c].dtype) if df[c].dtype != object else pa.string())
            for c in df.columns
        ]
        schema = pa.schema(fields)
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


class Corpus:
    """A clustered vector corpus: a Gaussian mixture on the unit sphere
    with integer labels. New rows for ingest come from the same mixture."""

    def __init__(self, rng: np.random.Generator, n: int, n_clusters: int = 32, spread: float = 1.0):
        self.rng = rng
        self.centres = unit_rows(rng.normal(size=(n_clusters, DIM)))
        self.spread = spread
        self.vectors, self.labels = self.draw(n)

    def draw(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        c = self.rng.integers(0, len(self.centres), n)
        x = self.centres[c] + self.spread * self.rng.normal(size=(n, DIM)) / np.sqrt(DIM)
        return unit_rows(x), (c % 10).astype(np.int32)

    def near(self, x: np.ndarray) -> np.ndarray:
        """A query placed near the corpus point ``x``."""
        return unit_rows((x + 0.05 * self.rng.normal(size=DIM) / np.sqrt(DIM))[None, :])[0]

    @staticmethod
    def frame(ids: np.ndarray, vectors: np.ndarray, labels: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({
            "vec_id": ids.astype(np.int64),
            "embedding": list(vectors.astype(np.float32)),
            "label": labels.astype(np.int32),
        })
