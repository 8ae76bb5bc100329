#!/usr/bin/env python
"""embedding_near_dup A/B (r15): pair-join scorer vs per-cell scorer.

V_pair : the r15-mid shape, reconstructed explicitly so the A/B stands
         regardless of which variant the query body currently ships —
         same-cell id-pair self-join, pair distinct, two vector-attach
         joins, fused mapInArrow pair scorer (_score_pairs).
V_cell : per-cell slicing (guide §2.4 remove shuffles / §8 ship ids once):
         group (vec_id, qe) by cell via groupBy().applyInArrow, generate
         the a<b pairs INSIDE the stage from the cell's vector matrix
         (anchor-block bounded), and score them with the identical
         per-pair float64 op sequence.  Each vector crosses the Python
         boundary once per probe cell (2×n rows total) instead of once
         per candidate pair (~86×n at sf0.1), the pair self-join +
         candidate-distinct exchange disappear, and the distinct moves to
         the threshold survivors (pairs sharing both probe cells are
         scored twice, deterministically → identical rows).
V_ship : whatever `q_embedding_near_dup` currently ships (sanity row).

Parity: sorted-row hash across all variants before timing.  min-of-N
interleaved, noop sink, per-rep job descriptions (guide §1.4/1.5).
"""

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


def rows_hash(df) -> str:
    """Sorted-row sha256 by default; at larger SFs set
    SPARK_GRAFT_PROBE_AGG_PARITY=1 for an order-insensitive in-engine
    checksum (count + sum of xxhash64 over all columns) so the parity
    step never collects the 10.5M-row sf10 result to the driver (same
    escape as quant_ab.py; the bit-identity claim was settled by the
    sorted-row variant at sf0.1)."""
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


def build_v_cell(spark, sf_dir):
    """Per-cell variant over the SAME warm shared index as the shipped body."""
    entry = artifacts.peek(spark, "ann", f"near_dup:{sf_dir}")
    corpus = entry["corpus"]
    member = T._ann_index_frame(spark, f"near_dup:{sf_dir}", "member", None)
    mm = member.join(corpus, "vec_id").select("cell", "vec_id", "qe")
    scored = mm.groupBy("cell").applyInArrow(
        T._cell_pairs_fn(4, T.COSINE_DUP_THRESHOLD, T.EMB_DIM),
        "vec_a long, vec_b long, cosine_sim double",
    )
    return scored.distinct()


def build_v_pair(spark, sf_dir):
    """The r15-mid pair-join shape over the same warm shared index."""
    entry = artifacts.peek(spark, "ann", f"near_dup:{sf_dir}")
    corpus = entry["corpus"]
    member = T._ann_index_frame(spark, f"near_dup:{sf_dir}", "member", None)
    a, b = member.alias("a"), member.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    pa_ = corpus.select(F.col("vec_id").alias("vec_a"), F.col("qe").alias("qa"))
    pb_ = corpus.select(F.col("vec_id").alias("vec_b"), F.col("qe").alias("qb"))
    return T._score_pairs(
        cand.join(pa_, "vec_a").join(pb_, "vec_b"),
        "vec_a",
        "vec_b",
        4,
        threshold=T.COSINE_DUP_THRESHOLD,
    )


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "8"))
    spark = get_spark("embdup_cell_ab")
    sc = spark.sparkContext
    autosize_shuffle_partitions(spark, sf_dir)
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()

    v_ship = T.q_embedding_near_dup(spark, sf_dir)
    noop(v_ship)  # builds + warms the shared index
    v_cell = build_v_cell(spark, sf_dir)
    v_pair = build_v_pair(spark, sf_dir)

    h_ship, h_cell, h_pair = rows_hash(v_ship), rows_hash(v_cell), rows_hash(v_pair)
    print("parity:", json.dumps({"V_ship": h_ship, "V_cell": h_cell, "V_pair": h_pair}))
    assert h_ship == h_cell == h_pair, "parity MISMATCH"

    variants = {"V_pair": v_pair, "V_cell": v_cell}
    times: dict[str, list[float]] = {k: [] for k in variants}
    for rep in range(reps):
        for k, df in variants.items():
            sc.setJobDescription(f"cell_ab:{k}#r{rep}")
            t0 = time.monotonic()
            noop(df)
            times[k].append(time.monotonic() - t0)
            sc.setJobDescription(None)
    summary = {
        k: {"min": round(min(v), 3), "all": [round(x, 3) for x in v]}
        for k, v in times.items()
    }
    print(json.dumps(summary, indent=2))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
