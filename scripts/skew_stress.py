"""Hot-key skew stress A/B: AQE skew-join vs explicit salting vs nothing.

Builds a pathological workload from lineitem (default sf0.1, 600k rows):
1% of join keys (100 of 10 000) carry 50% of the rows, the rest spread
uniformly. Joins it to a 10 000-row dim table that is too big to broadcast
(forced: autoBroadcastJoinThreshold=-1, emulating a large dim at scale) and
aggregates, under three strategies:

  - none    : sort-merge join, AQE skew splitting OFF — the pathology
  - aqe     : sort-merge join, AQE skew splitting ON (thresholds lowered to
              make 30 MB-scale hot partitions splittable at local scale;
              production defaults of 256 MB operate the same way at real
              partition sizes)
  - salted  : operators/skew.salted_join — hot side fanned out over 16
              sub-keys, dim replicated 16x

Also A/Bs the aggregation path: plain groupBy(sum/count) vs
operators/skew.two_phase_agg, on the same skewed keys.

All variants must return identical results (asserted); the numbers go to
SHUFFLE.md. Usage::

    python scripts/skew_stress.py [--sf DIR] [--buckets 16]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shuffle_metrics import collect_metrics  # noqa: E402


def build_inputs(spark, sf_dir: str, tmp: str):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # 50% of rows -> keys [0, 100); 50% -> keys [100, 10000)
    hot = F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(2)) == 0
    key = F.when(
        hot, F.pmod(F.hash("l_orderkey"), F.lit(100))
    ).otherwise(100 + F.pmod(F.hash("l_orderkey", "l_partkey"), F.lit(9900)))
    fact = li.select(key.alias("k"), F.col("l_extendedprice").alias("v"))
    dim = spark.range(10_000).select(
        F.col("id").cast("int").alias("k"), (F.col("id") % 97).alias("w")
    )
    fact.write.mode("overwrite").parquet(f"{tmp}/fact")
    dim.write.mode("overwrite").parquet(f"{tmp}/dim")
    return spark.read.parquet(f"{tmp}/fact"), spark.read.parquet(f"{tmp}/dim")


def run(df, label: str) -> tuple[tuple, float, dict]:
    t0 = time.time()
    row = df.collect()[0]
    wall = time.time() - t0
    m = collect_metrics(df)
    print(
        f"  {label:28s} {wall:6.2f}s  shuffle {m['shuffle_bytes'] / 1e6:7.2f} MB"
        f" / {m['shuffle_records']:>9,} rows / {m['n_exchanges']} exchanges"
    )
    return tuple(row), wall, m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args()

    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from incremental_datapipeline_using_snowflake_spark.operators.skew import (
        salted_join,
        two_phase_agg,
    )

    spark = (
        SparkSession.builder.appName("skew-stress")
        .master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        fact, dim = build_inputs(spark, args.sf, tmp)
        n = fact.count()
        topshare = (
            fact.filter(F.col("k") < 100).count() / n
        )
        print(f"fact rows: {n:,}; share on the 1% hot keys: {topshare:.1%}")

        def joined(j):
            return j.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v") * F.col("w")).cast("decimal(38,2)").alias("s"),
            )

        # force non-broadcast joins: at scale the dim side is large too
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        # local-scale analogue of the production thresholds: hot partitions
        # here are ~10 MB, production skew is GBs vs 256 MB default
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4MB"
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

        print("JOIN (fact ⋈ dim on the skewed key):")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        r_none = run(joined(fact.join(dim, "k")), "none (SMJ, skew split off)")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        r_aqe = run(joined(fact.join(dim, "k")), "aqe skew-join split")
        r_salt = run(
            joined(salted_join(fact, dim, on="k", salt_buckets=args.buckets)),
            f"salted_join (b={args.buckets})",
        )
        assert r_none[0] == r_aqe[0] == r_salt[0], "variants disagree!"

        print("AGG (groupBy skewed key, sum/count):")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        plain = (
            fact.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .agg(F.count(F.lit(1)), F.sum("n"), F.sum("s").cast("decimal(38,2)"))
        )
        r_p = run(plain, "plain groupBy (partial agg)")
        tp = two_phase_agg(
            fact, ["k"], {"n": F.count(F.lit(1)), "s": F.sum("v")},
            salt_buckets=args.buckets,
        ).agg(F.count(F.lit(1)), F.sum("n"), F.sum("s").cast("decimal(38,2)"))
        r_t = run(tp, "two_phase_agg (salted)")
        assert r_p[0] == r_t[0], "agg variants disagree!"
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
