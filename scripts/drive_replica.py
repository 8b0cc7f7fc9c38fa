#!/usr/bin/env python
"""Driver-contract replica: run registry queries against their DuckDB
oracles the way the grading driver does, in a fresh plain SparkSession.

    python scripts/drive_replica.py [--hostile] [--tz TZ] [sf_dir] [query ...]

No query args = full registry. --hostile uses a deliberately nasty
session (local[3], 7 shuffle partitions, 64 KB splits) to flush out
layout/conf assumptions; --tz sets the process timezone first (catches
session-timezone leaks — the loader must normalize, not assume). This is
THE verification pass (pytest is not — see .claude/skills/verify).
"""

from __future__ import annotations

import hashlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    args = sys.argv[1:]
    hostile = "--hostile" in args
    if hostile:
        args.remove("--hostile")
    if "--tz" in args:
        i = args.index("--tz")
        if i + 1 >= len(args):
            print("usage: drive_replica.py [--hostile] [--tz TZ] [sf_dir] …")
            return 2
        os.environ["TZ"] = args[i + 1]
        del args[i : i + 2]
        import time as _time

        _time.tzset()
    sf = args[0] if args else "/root/testdata/sf0.01"
    if args:
        args = args[1:]

    import duckdb
    import pandas as pd
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    names = args or list(E.queries().keys())
    b = SparkSession.builder.config("spark.ui.enabled", "false")
    if hostile:
        b = (
            b.master("local[3]")
            .config("spark.sql.shuffle.partitions", "7")
            .config("spark.sql.files.maxPartitionBytes", "65536")
            .config("spark.default.parallelism", "3")
        )
    else:
        b = b.master("local[8]").config("spark.sql.shuffle.partitions", "8")
    spark = b.getOrCreate()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )

    def canon(df: pd.DataFrame) -> tuple:
        df = df[sorted(df.columns)]
        df = df.sort_values(list(df.columns)).reset_index(drop=True)
        buf = io.StringIO()
        df.to_csv(buf, index=False, float_format="%.6f")
        return (
            len(df),
            tuple(df.columns),
            hashlib.md5(buf.getvalue().encode()).hexdigest(),
        )

    qs, osql = E.queries(), E.oracle_sql()
    bad = 0
    for name in names:
        try:
            a = canon(qs[name](spark, sf).toPandas())
            o = canon(con.execute(osql[name]).df())
            if a != o:
                bad += 1
                print(f"FAIL {name}: spark={a} oracle={o}", flush=True)
        except Exception as ex:  # noqa: BLE001 - report and continue
            bad += 1
            print(f"ERR  {name}: {ex!r}"[:400], flush=True)
    print(f"DONE {len(names) - bad}/{len(names)} green", flush=True)
    # teardown: drop the module-level persisted frames (PRF corpus cache
    # etc.) before stopping — the round-4 ADVICE leak fix
    from vectordb_similarity_search_spark import cache

    cache.release()
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
