"""Driver-environment simulation of the correctness gate.

The per-round driver builds its OWN SparkSession (default confs — not
session.py's) and canonicalizes results through pandas (``toPandas`` /
duckdb ``.df()``).  That surface exposed four round-2 hash mismatches that
scripts/check_correctness.py (``collect``/``fetchall`` based) could not see:
DuckDB's HUGEINT/DECIMAL aggregate outputs become **float64** in pandas
while Spark emits int64/Decimal.

This script reproduces that surface: a vanilla SparkSession, pandas frames
on both sides, a dtype audit (int-vs-float is flagged even when the values
would stringify equally), and a value hash over stringified cells.

Usage::

    python scripts/check_driver_sim.py [query_name ...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v) -> str:
    import datetime
    import decimal

    import pandas as pd

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"  # pandas NaN stands in for NULL
        if v == 0:
            return "0"
        return f"{v:.12g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.12g}"
    # Date/timestamp representations diverge between engines (Spark DATE ->
    # datetime.date objects; DuckDB DATE -> datetime64 Timestamps at
    # midnight). Canonicalize both to a bare date when there is no time
    # part — applied identically to both sides, so it cannot mask a real
    # value difference, only a representation difference.
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        if v.time() == datetime.time(0, 0) and v.tzinfo is None:
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def df_hash(pdf) -> str:
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)]
    lines = sorted(
        "\x1f".join(norm_cell(None if pd.isna(v) else v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


NUMERIC_KIND = {"i": "int", "u": "int", "f": "float"}


def dtype_mismatches(spdf, opdf) -> list[str]:
    """Columns where one side is integer-typed and the other float/object —
    the exact shape that broke round 2 under the driver's canonicalizer."""
    out = []
    for c in spdf.columns:
        if c not in opdf.columns:
            continue
        sk = spdf[c].dtype.kind
        ok = opdf[c].dtype.kind
        s_kind = NUMERIC_KIND.get(sk, sk)
        o_kind = NUMERIC_KIND.get(ok, ok)
        if s_kind != o_kind and {s_kind, o_kind} & {"int", "float"}:
            out.append(f"{c}: spark={spdf[c].dtype} oracle={opdf[c].dtype}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e
    from incremental_datapipeline_using_snowflake_spark.queries.util import TABLES

    # Deliberately NOT session.py: mimic a harness-default session.
    spark = (
        SparkSession.builder.appName("driver-sim")
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    names = args.names or list(qs)
    failed = []
    for name in names:
        try:
            t0 = time.time()
            spdf = qs[name](spark, args.sf).toPandas()
            t_spark = time.time() - t0
        except Exception as exc:  # noqa: BLE001 — report, keep going
            print(f"  {name:28s} SPARK-ERR {type(exc).__name__}: {str(exc)[:160]}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"  {name:28s} rows-only: {len(spdf)} rows ({t_spark:.1f}s)")
            continue
        opdf = con.execute(oracles[name]).df()

        probs = []
        if len(spdf) != len(opdf):
            probs.append(f"rows {len(spdf)}!={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            probs.append(f"cols {sorted(spdf.columns)}!={sorted(opdf.columns)}")
        dt = dtype_mismatches(spdf, opdf)
        if dt:
            probs.append("dtypes[" + "; ".join(dt) + "]")
        if not probs and df_hash(spdf) != df_hash(opdf):
            probs.append("value-hash")
            cols = sorted(spdf.columns)
            import pandas as pd

            sn = sorted(
                tuple(norm_cell(None if pd.isna(x) else x) for x in row)
                for row in spdf[cols].itertuples(index=False, name=None)
            )
            on = sorted(
                tuple(norm_cell(None if pd.isna(x) else x) for x in row)
                for row in opdf[cols].itertuples(index=False, name=None)
            )
            for a, b in zip(sn, on):
                if a != b:
                    probs.append(f"first-diff spark={a} oracle={b}")
                    break
        status = "OK " if not probs else "FAIL " + " | ".join(probs)
        print(f"  {name:28s} {status} ({t_spark:.1f}s)")
        if probs:
            failed.append(name)

    print(f"\n{len(names) - len(failed)}/{len(names)} driver-sim clean", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
