#!/usr/bin/env python
"""Quantized-vector width A/B (r15, guide §2.3 narrower types):

V_i32 : _quantize casts components to int (the working-tree change) —
        halves the persisted ANN index, the (cell, vec_id, qe) exchange,
        and every Arrow transfer into the Python scorers.
V_i64 : the r14 array<bigint> shape.

Every consumer promotes before arithmetic (float64 in the Arrow scorers,
int64 in the Lloyd sums), so values must be bit-identical — asserted via
sorted-row hashes before timing.  Interleaved A/B blocks in ONE session:
each block monkeypatches textops._quantize, releases the shared ANN
index (artifacts.release), rebuilds + warms untimed, then times reps
through the noop sink with per-rep job descriptions (guide §1.4/1.5)."""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from kafka_backup_spark import artifacts
from kafka_backup_spark.queries import textops as T
from kafka_backup_spark.session import autosize_shuffle_partitions, get_spark

QUERIES = {
    "embedding_near_dup": T.q_embedding_near_dup,
    "ivf_topk": T.q_ivf_topk,
    "cluster_balance": T.q_cluster_balance,
    "ann_recall": T.q_ann_recall,
}


def quant_i32(col):
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * T.QUANT_SCALE + F.lit(0.5)).cast("int")
    )


def quant_i64(col):
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * T.QUANT_SCALE + F.lit(0.5)).cast("long")
    )


def rows_hash(df) -> str:
    """Sorted-row sha256 by default; at larger SFs set
    SPARK_GRAFT_PROBE_AGG_PARITY=1 for an order-insensitive in-engine
    checksum (count + sum of xxhash64 over all columns) so the parity
    step never collects a multi-million-row result to the driver.  A
    sum-of-hashes is weaker than the sorted-row hash (compensating-pair
    collisions are possible in principle); the bit-identity claim itself
    was settled by the sorted-row variant at sf0.1, and the agg checksum
    only re-verifies it at scale."""
    if os.environ.get("SPARK_GRAFT_PROBE_AGG_PARITY"):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return f"n{row['n']}_s{row['s']}"
    rows = sorted(tuple(r) for r in df.collect())
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "4"))
    blocks = int(os.environ.get("SPARK_GRAFT_PROBE_BLOCKS", "2"))
    spark = get_spark("quant_ab")
    sc = spark.sparkContext
    autosize_shuffle_partitions(spark, sf_dir)
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()

    hashes: dict[str, dict[str, str]] = {"i32": {}, "i64": {}}
    times: dict[str, dict[str, list[float]]] = {
        v: {q: [] for q in QUERIES} for v in ("i32", "i64")
    }

    for blk in range(blocks):
        for vname, fn in (("i32", quant_i32), ("i64", quant_i64)):
            T._quantize = fn
            artifacts.release(spark)
            dfs = {q: build(spark, sf_dir) for q, build in QUERIES.items()}
            for q, df in dfs.items():  # warm: index build + first plan, untimed
                sc.setJobDescription(f"quant_ab:warm:{vname}:{q}#b{blk}")
                noop(df)
            if blk == 0:
                for q, df in dfs.items():
                    hashes[vname][q] = rows_hash(df)
            for rep in range(reps):
                for q, df in dfs.items():
                    sc.setJobDescription(f"quant_ab:{vname}:{q}#b{blk}r{rep}")
                    t0 = time.monotonic()
                    noop(df)
                    times[vname][q].append(time.monotonic() - t0)
            sc.setJobDescription(None)

    print("parity:", json.dumps(hashes))
    for q in QUERIES:
        assert hashes["i32"][q] == hashes["i64"][q], f"{q} parity MISMATCH"
    summary = {
        v: {q: {"min": round(min(t), 3), "all": [round(x, 3) for x in t]} for q, t in qs.items()}
        for v, qs in times.items()
    }
    print(json.dumps(summary, indent=2))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
