#!/usr/bin/env python
"""ivf_topk scorer three-way A/B (r16, VERDICT r15 #1's disposition item:
the r15 mapInArrow scorer was flat-to-negative at sf0.1 — prove it at
sf10 or revert).

The candidate set is nprobe·(n/k)·|probes| ≈ 20·√n rows — 9.9k at sf0.1,
~9.0k at sf10 — so the scorer's BATCH compute is trivial at every scale
and the real cost is the Python stage launch itself (media_floor_probe
r15: a pass-through Python stage costs ~0.24 s of per-job orchestration).
That suggests a third option beyond keep-vs-revert: score in PURE JVM
expressions (guide §4.1 — the best UDF is no UDF).

V_arrow  : the shipped _score_pairs mapInArrow stage.
V_pandas : the r14 pandas pair-UDF shape (the revert target).
V_jvm    : _icsim(pq, qe, 4) — the unrolled 64-term integer dot product
           (whole-stage codegen, the same expression the index build
           uses) with sqrt/div/round in JVM doubles.

Exactness: quantized components ≤ ~10⁴ ⇒ products ≤ 10⁸ and dim-64 sums
≤ ~10¹⁰ ≪ 2⁵³, so the int64 dot equals the float64 dot bit-for-bit;
sqrt/div are single IEEE ops on identical values; Spark round(x, 4)
(BigDecimal HALF_UP) has matched both numpy's copysign(floor(|x|·10⁴+0.5))
and DuckDB's round() on this value domain across every green round since
r12 (cosine_topk ships F.round, the embedding family ships the numpy
form, both hash-equal to the same oracles).  Parity: sorted-row hash
across all three variants, plus ann_recall through each scorer.
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


def _cand(spark, sf_dir):
    """The shipped candidate frame over the warm shared index."""
    idx = artifacts.peek(spark, "ann", f"ivf:{sf_dir}")
    corpus, cells, cent_mat = idx["corpus"], idx["cells"], idx["cent_mat"]
    probes = corpus.filter(F.col("vec_id") < T.IVF_PROBES)
    pcells = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("qe").alias("pq"),
        F.explode(T._cells_udf(cells, cent_mat, T.IVF_NPROBE)(F.col("qe"))).alias("cell"),
    )
    neighbors = T._ann_index_frame(spark, f"ivf:{sf_dir}", "neighbors", None)
    return F.broadcast(pcells).join(neighbors, on="cell").filter(
        F.col("probe_id") != F.col("vec_id")
    )


def _rank(sims):
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= T.IVF_TOP_K)
        .select("probe_id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


def build_variants(spark, sf_dir):
    cand = _cand(spark, sf_dir)
    arrow = _rank(
        T._score_pairs(
            cand.select(
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
    pandas_sims = cand.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        T._pair_cosine_udf(4)(F.col("pq"), F.col("qe")).alias("cosine_sim"),
    )
    pandas = _rank(pandas_sims)
    jvm_sims = cand.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        T._icsim(F.col("pq"), F.col("qe"), 4).alias("cosine_sim"),
    )
    jvm = _rank(jvm_sims)
    return {"V_arrow": arrow, "V_pandas": pandas, "V_jvm": jvm}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "10"))
    spark = get_spark("ivf_ab")
    sc = spark.sparkContext
    autosize_shuffle_partitions(spark, sf_dir)
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()

    v_ship = T.q_ivf_topk(spark, sf_dir)
    noop(v_ship)  # build + warm the shared index
    variants = build_variants(spark, sf_dir)

    hs = {k: rows_hash(df) for k, df in variants.items()}
    hs["V_ship"] = rows_hash(v_ship)
    print("parity:", json.dumps(hs))
    assert len(set(hs.values())) == 1, "parity MISMATCH"

    # ann_recall through each scorer: brute side identical, ivf side swapped
    from kafka_backup_spark.queries.pipeline import q_cosine_topk

    bf = q_cosine_topk(spark, sf_dir).select("probe_id", "neighbor_id")
    recalls = {}
    for k, iv in variants.items():
        j = bf.join(
            iv.select("probe_id", "neighbor_id", F.lit(1).alias("hit")),
            ["probe_id", "neighbor_id"],
            "left",
        )
        recalls[f"recall_{k}"] = j.agg(
            F.countDistinct("probe_id").alias("n_probes"),
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
        ).select(
            "n_probes", "n_true", "n_hit",
            F.expr("CASE WHEN n_true = 0 THEN 0 ELSE (n_hit * 1000000) div n_true END").alias("recall_ppm"),
        )
    rh = {k: rows_hash(df) for k, df in recalls.items()}
    print("recall parity:", json.dumps(rh))
    assert len(set(rh.values())) == 1, "recall parity MISMATCH"

    timed = dict(variants)
    timed.update(recalls)
    for name, df in timed.items():  # warm
        sc.setJobDescription(f"ivf_ab:warm:{name}")
        noop(df)
    times = {k: [] for k in timed}
    for rep in range(reps):
        for name, df in timed.items():
            sc.setJobDescription(f"ivf_ab:{name}#r{rep}")
            t0 = time.monotonic()
            noop(df)
            times[name].append(time.monotonic() - t0)
    sc.setJobDescription(None)
    print(json.dumps(
        {k: {"min": round(min(v), 3), "all": [round(x, 3) for x in v]} for k, v in times.items()},
        indent=2,
    ))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
