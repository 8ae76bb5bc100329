#!/usr/bin/env python
"""_score_pairs A/B (r15): pandas-UDF pair scorer vs fused mapInArrow.

V_old : the pre-change scorer — `_pair_cosine_udf(4)` pandas UDF
        (asNondeterministic-pinned for embedding_near_dup, plain for
        ivf_topk whose window rank already forced single eval).
V_new : the shipped `_score_pairs` mapInArrow stage (zero-copy batch
        reshape, threshold fused for embedding_near_dup).

Both variants share the SAME warm persisted ANN index, candidate shape
and downstream operators; parity is a sorted-row hash before timing.
min-of-N interleaved, noop sink, per-rep job descriptions (guide §1.4/1.5).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_backup_spark import artifacts
from kafka_backup_spark.queries import textops as T
from kafka_backup_spark.session import autosize_shuffle_partitions, get_spark


def rows_hash(df) -> str:
    rows = sorted(tuple(r) for r in df.collect())
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "8"))
    spark = get_spark("score_pairs_ab")
    sc = spark.sparkContext
    autosize_shuffle_partitions(spark, sf_dir)
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()

    # Warm both shared indexes through the shipped bodies.
    noop(T.q_embedding_near_dup(spark, sf_dir))
    noop(T.q_ivf_topk(spark, sf_dir))

    # ── embedding_near_dup variants over the SAME warm index ──
    nd = artifacts.peek(spark, "ann", f"near_dup:{sf_dir}")
    corpus = nd["corpus"]
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
    pa = corpus.select(F.col("vec_id").alias("vec_a"), F.col("qe").alias("qa"))
    pb = corpus.select(F.col("vec_id").alias("vec_b"), F.col("qe").alias("qb"))
    paired = cand.join(pa, "vec_a").join(pb, "vec_b")
    embdup_old = (
        paired.select(
            "vec_a",
            "vec_b",
            T._pair_cosine_udf(4)
            .asNondeterministic()(F.col("qa"), F.col("qb"))
            .alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= T.COSINE_DUP_THRESHOLD)
    )
    embdup_new = T._score_pairs(
        paired, "vec_a", "vec_b", 4, threshold=T.COSINE_DUP_THRESHOLD
    )

    # ── ivf_topk variants over the SAME warm index ──
    ivf = artifacts.peek(spark, "ann", f"ivf:{sf_dir}")
    icorpus, cells, cent_mat = ivf["corpus"], ivf["cells"], ivf["cent_mat"]
    probes = icorpus.filter(F.col("vec_id") < T.IVF_PROBES)
    pcells = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("qe").alias("pq"),
        F.explode(T._cells_udf(cells, cent_mat, T.IVF_NPROBE)(F.col("qe"))).alias("cell"),
    )
    neighbors = T._ann_index_frame(spark, f"ivf:{sf_dir}", "neighbors", None)
    icand = F.broadcast(pcells).join(neighbors, on="cell").filter(
        F.col("probe_id") != F.col("vec_id")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )

    def topk(sims):
        return (
            sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= T.IVF_TOP_K)
            .select(
                "probe_id", "neighbor_id", "cosine_sim",
                F.col("rank").cast("int").alias("rank"),
            )
        )

    ivf_old = topk(
        icand.select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            T._pair_cosine_udf(4)(F.col("pq"), F.col("qe")).alias("cosine_sim"),
        )
    )
    ivf_new = topk(
        T._score_pairs(
            icand.select(
                "probe_id",
                F.col("vec_id").alias("neighbor_id"),
                F.col("pq").alias("qa"),
                F.col("qe").alias("qb"),
            ),
            "probe_id",
            "neighbor_id",
            4,
        )
    )

    variants = {
        "embdup_old": embdup_old,
        "embdup_new": embdup_new,
        "ivf_old": ivf_old,
        "ivf_new": ivf_new,
    }

    h = {k: rows_hash(df) for k, df in variants.items()}
    print("parity:", json.dumps(h))
    assert h["embdup_old"] == h["embdup_new"], "embdup parity MISMATCH"
    assert h["ivf_old"] == h["ivf_new"], "ivf parity MISMATCH"

    times: dict[str, list[float]] = {k: [] for k in variants}
    for rep in range(reps):
        for k, df in variants.items():
            sc.setJobDescription(f"ab:{k}#r{rep}")
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
