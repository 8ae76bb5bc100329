#!/usr/bin/env python
"""Symmetric-protocol floor probe for leakage_safe_split and tpch_q18 at
sf10 (VERDICT r14 #3): the fair-storage chain's only two >2× entries are
sub-1.2 s absolutes where Spark's two-stage scheduling floor dominates.
Measure the candidate levers before pinning a floor note.

leakage_safe_split (0.245 s vs DuckDB 0.089 on the SAME 24 MB sidecar):
the shipped plan is sidecar scan (32 buckets) → exchange-free
HashAggregate(text_hash) → tiny Exchange(split) → final HashAggregate.
Variants (all parity-checked against shipped):
  L_ship   shipped two-stage shape
  L_c1     coalesce(1) on the sidecar scan — ONE stage, zero exchange,
           single task over 550k fixed-width rows
  L_c4     coalesce(4) — middle ground (still one exchange)
  L_duck   the DuckDB FP twin, for the session-local ratio

tpch_q18 (1.17 s vs 0.505 — DuckDB streams the orderkey-sorted copy):
cumulative fragments of the shipped plan over the bucketed layout:
  G0  bucketed lineitem (l_orderkey, qty-cents) scan
  G1  G0 + groupBy(l_orderkey) SUM       (exchange-free on the bucket)
  G2  G1 + HAVING qty_c > 25000
  G3  full shipped q18 (joins + top-10)
plus G1s: the same rollup forced through a per-partition SORT-exploiting
mapInPandas-free form — sortWithinPartitions is a no-op on the sorted
buckets, so this isolates whether Spark's HashAggregate (15M-entry hash
table per task) vs a streaming fold is the gap.

Protocol: one session, layout + sidecar served, warm pass, min-of-N
interleaved; noop writes for Spark, fetchall for DuckDB.
"""
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kafka_backup_spark.queries import layout  # noqa: E402
from kafka_backup_spark.queries.pipeline import (  # noqa: E402
    TWIN_MODULUS,
    SQL_LEAKAGE_SAFE_SPLIT_FP,
    _fp_sidecar,
    _split_rollup,
    q_leakage_safe_split,
    q_tpch_q18,
)
from kafka_backup_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
OUT = os.environ.get("BUCKETED_OUT", "/tmp/kbs_bucketed_sf10")
N = int(os.environ.get("PROBE_REPEATS", "6"))
# layout opt-in must be live BEFORE get_spark reads it into the session conf
os.environ["SPARK_GRAFT_BUCKETED_LAYOUT"] = OUT


def leakage_variants(spark):
    fp = _fp_sidecar(spark, SF_DIR)
    assert fp, "sidecar not served — build/register the layout root first"
    w = F.when(F.col("doc_id") % TWIN_MODULUS == 0, F.lit(2)).otherwise(F.lit(1))

    def groups(src):
        return src.groupBy(F.col("text_hash").alias("h")).agg(
            F.sum(w).cast("long").alias("n"), F.min("doc_id").alias("gid")
        )

    return {
        "L_ship": lambda: q_leakage_safe_split(spark, SF_DIR),
        "L_c1": lambda: _split_rollup(groups(spark.table(fp).coalesce(1))),
        "L_c4": lambda: _split_rollup(groups(spark.table(fp).coalesce(4))),
    }


def q18_fragments(spark):
    from kafka_backup_spark.queries.pipeline import _gated_orderkey, _view

    _view(
        spark, SF_DIR, "lineitem", "orders", "customer",
        bucketed=_gated_orderkey(spark, SF_DIR, "lineitem", "orders"),
    )
    li = spark.table("lineitem").select(
        "l_orderkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qc"),
    )
    rolled = li.groupBy("l_orderkey").agg(F.sum("qc").alias("qty_c"))
    return {
        "G0_scan": lambda: li,
        "G1_rollup": lambda: rolled,
        "G2_having": lambda: rolled.filter(F.col("qty_c") > 25000),
        "G3_full_q18": lambda: q_tpch_q18(spark, SF_DIR),
    }


def main():
    spark = get_spark("sym_floor", master="local[32]", shuffle_partitions=32)
    ent = layout.register_bucketed(spark, OUT)
    assert ent is not None, f"no layout at {OUT}"
    if layout.FP_KEY not in ent["tables"]:
        ent = layout.materialize_fingerprints(spark, SF_DIR, OUT)
        from kafka_backup_spark import artifacts

        # a sidecar added after registration hides behind the layout memo
        # until the session's artifacts are released (same move bench.py makes)
        artifacts.release(spark)
        ent = layout.register_bucketed(spark, OUT)
    fp_spec = ent["tables"][layout.FP_KEY]

    # build each plan ONCE (the chains serve plan-cached DataFrames; per-
    # repeat reconstruction would add ~0.2-0.3 s of driver Column calls)
    lv = {k: fn() for k, fn in leakage_variants(spark).items()}
    ship = {tuple(r) for r in lv["L_ship"].collect()}
    for k in ("L_c1", "L_c4"):
        got = {tuple(r) for r in lv[k].collect()}
        assert got == ship, f"{k} parity FAILED"
    print("leakage parity OK")

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents_fp AS SELECT * FROM "
        f"'{fp_spec['path']}/*.parquet'"
    )

    frags = {k: fn() for k, fn in q18_fragments(spark).items()}

    def run(df):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    everything = {**lv, **frags}
    times = {k: [] for k in everything}
    duck_ts = []
    for k in everything:
        run(everything[k])  # warm
    con.sql(SQL_LEAKAGE_SAFE_SPLIT_FP).fetchall()  # warm duck
    for _ in range(N):
        for k, df in everything.items():
            times[k].append(run(df))
        t0 = time.monotonic()
        con.sql(SQL_LEAKAGE_SAFE_SPLIT_FP).fetchall()
        duck_ts.append(time.monotonic() - t0)
    for k, ts in times.items():
        print(f"{k:14s} min {min(ts):6.3f}  repeats {[round(t, 3) for t in ts]}")
    print(f"{'L_duck_fp':14s} min {min(duck_ts):6.3f}  repeats {[round(t, 3) for t in duck_ts]}")
    print(json.dumps({
        "leakage_ratio_ship": round(min(times["L_ship"]) / min(duck_ts), 2),
        "leakage_ratio_c1": round(min(times["L_c1"]) / min(duck_ts), 2),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
