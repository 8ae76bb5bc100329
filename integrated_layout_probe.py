#!/usr/bin/env python
"""Integrated bucketed-layout A/B at sf10: the SHIPPED catalog queries,
one session, conf toggled per repeat with full cache hygiene (plan cache +
view memo), min-of-N interleaved.  This measures the path a user actually
gets with SPARK_GRAFT_BUCKETED_LAYOUT set, including the layout-conditional
q21 hint — not a hand-written variant.

Usage: python integrated_layout_probe.py [names...]
"""
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from kafka_backup_spark import artifacts, catalog  # noqa: E402
from kafka_backup_spark.queries import layout  # noqa: E402
from kafka_backup_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
OUT = os.environ.get("BUCKETED_OUT", "/tmp/bucketed_sf10")
N = int(os.environ.get("PROBE_REPEATS", "6"))

DEFAULT = [
    "tpch_q3_priority",
    "tpch_q5_region_volume",
    "tpch_q7_nation_volume",
    "tpch_q9_profit",
    "tpch_q10_returns",
    "tpch_q18_large_orders",
    "tpch_q21_sole_returns",
    "tpch_q17_small_qty",  # control: part-keyed, only the scan changes
    "tpch_q1_pricing",  # control: no join
]


def set_layout(spark, on: bool) -> None:
    if on:
        spark.conf.set("spark.kafkaBackupSpark.bucketedLayout", OUT)
    else:
        spark.conf.unset("spark.kafkaBackupSpark.bucketedLayout")
    artifacts.release(spark)


def main():
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("layout_probe", master="local[32]", shuffle_partitions=32)
    if layout.register_bucketed(spark, OUT) is None:
        t0 = time.monotonic()
        layout.materialize_bucketed(spark, SF_DIR, OUT)
        print(f"materialize: {time.monotonic() - t0:.1f} s")
    qs = catalog.queries()

    def run(name):
        t0 = time.monotonic()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    for name in names:
        set_layout(spark, False)
        a = sorted(map(tuple, qs[name](spark, SF_DIR).collect()))
        set_layout(spark, True)
        b = sorted(map(tuple, qs[name](spark, SF_DIR).collect()))
        if a != b:
            print(f"{name}: PARITY MISMATCH")
            continue
        off_t, on_t = [], []
        for _ in range(N):
            set_layout(spark, False)
            off_t.append(run(name))
            set_layout(spark, True)
            on_t.append(run(name))
        print(
            f"{name}: plain min {min(off_t):.3f} bucketed min {min(on_t):.3f} "
            f"delta {(1 - min(on_t) / min(off_t)) * 100:+.1f}%  "
            f"plain {[round(t, 2) for t in off_t]} bucketed {[round(t, 2) for t in on_t]}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
