"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables (default sf0.01), then compares
row count, column names, and an order-insensitive value hash — mirroring
CORRECTNESS_r{N}.json. Usage::

    python scripts/check_correctness.py [query_name ...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        # 12 significant digits: tolerant of last-ULP engine differences,
        # strict enough to catch real bugs.
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows: list[tuple], columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(normalize_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as e
    from incremental_datapipeline_using_snowflake_spark.queries.util import TABLES
    from incremental_datapipeline_using_snowflake_spark.session import get_session

    spark = get_session("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    names = args.names or list(qs)
    failed = []
    for name in names:
        t0 = time.time()
        sdf = qs[name](spark, args.sf)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  {name:28s} rows-only: {len(srows)} rows  ({t_spark:.1f}s)")
            continue
        t0 = time.time()
        res = con.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        t_duck = time.time() - t0

        ok_rows = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        sh = table_hash(srows, scols)
        oh = table_hash(orows, ocols)
        ok_hash = sh == oh
        status = "OK " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(
            f"  {name:28s} {status} rows={len(srows)}/{len(orows)}"
            f" cols={'=' if ok_cols else 'DIFF'} hash={'=' if ok_hash else f'{sh}!={oh}'}"
            f"  (spark {t_spark:.1f}s duck {t_duck:.2f}s)"
        )
        if status == "FAIL":
            failed.append(name)
            if not ok_cols:
                print(f"    spark cols: {scols}\n    duck  cols: {ocols}")
            if ok_cols and not ok_hash:
                # print first differing row pair for debugging
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                snorm = sorted(
                    tuple(normalize_cell(r[i]) for i in order) for r in srows
                )
                onorm = sorted(
                    tuple(normalize_cell(r[i]) for i in order) for r in orows
                )
                for a, b in zip(snorm, onorm):
                    if a != b:
                        print(f"    first diff:\n      spark: {a}\n      duck : {b}")
                        break

    print(f"\n{len(names) - len(failed)}/{len(names)} queries match", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
