"""Measure per-query physical-execution metrics: shuffle bytes/records,
scan bytes, and output rows, straight from the executed plan's SQLMetrics.

The scale discipline this repo claims ("minimize shuffles, push down,
prune") is usually argued from plan SHAPE; this script turns it into
NUMBERS — run any declared query and see exactly how many bytes crossed an
Exchange. Usage::

    python scripts/shuffle_metrics.py q1_pricing_summary passage_dedup [--sf DIR]

Output: one line per query — total shuffle bytes written, shuffle records,
scan bytes, executed-plan Exchange count — plus a per-Exchange breakdown
with -v.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def iter_nodes(node):
    """Depth-first walk of an executed SparkPlan, descending through AQE
    roots and query-stage wrappers (their subplans are not children())."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from iter_nodes(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        try:
            yield from iter_nodes(node.plan())
            return
        except Exception:
            pass
    it = node.children().iterator()
    while it.hasNext():
        yield from iter_nodes(it.next())


def node_metrics(node) -> dict[str, int]:
    vals: dict[str, int] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    return vals


def collect_metrics(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan()
    totals = {
        "shuffle_bytes": 0,
        "shuffle_records": 0,
        "scan_bytes": 0,
        "scan_rows": 0,
        "n_exchanges": 0,
        "exchanges": [],
    }
    seen = set()
    for node in iter_nodes(plan):
        # a query stage and its wrapped shuffle share metric objects;
        # dedupe on identity of the metric map contents + node id
        key = (node.getClass().getSimpleName(), node.id())
        if key in seen:
            continue
        seen.add(key)
        cls = node.getClass().getSimpleName()
        m = node_metrics(node)
        if cls == "ShuffleExchangeExec":
            b = int(m.get("shuffleBytesWritten", 0))
            r = int(m.get("shuffleRecordsWritten", 0))
            totals["shuffle_bytes"] += b
            totals["shuffle_records"] += r
            totals["n_exchanges"] += 1
            totals["exchanges"].append((b, r))
        if cls in ("FileSourceScanExec", "BatchScanExec"):
            totals["scan_bytes"] += int(m.get("filesSize", 0))
            totals["scan_rows"] += int(m.get("numOutputRows", 0))
    return totals


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("-v", action="store_true")
    args = ap.parse_args()

    from incremental_datapipeline_using_snowflake_spark.queries import all_queries
    from incremental_datapipeline_using_snowflake_spark.session import get_session

    spark = get_session("shuffle-metrics")
    qs = all_queries()
    names = args.names or list(qs)
    print(f"{'query':30s} {'shuffle_MB':>10} {'shuffle_rows':>12} {'scan_MB':>8} {'exch':>5}")
    for name in names:
        fn, _ = qs[name]
        df = fn(spark, args.sf)
        df.collect()
        t = collect_metrics(df)
        print(
            f"{name:30s} {t['shuffle_bytes'] / 1e6:10.2f} {t['shuffle_records']:12d}"
            f" {t['scan_bytes'] / 1e6:8.2f} {t['n_exchanges']:5d}"
        )
        if args.v:
            for b, r in t["exchanges"]:
                print(f"    exchange: {b / 1e6:.3f} MB / {r} rows")
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
