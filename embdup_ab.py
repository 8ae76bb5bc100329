#!/usr/bin/env python
"""embedding_near_dup A/B: two candidate levers vs the shipped body (r15).

V_ship : shipped body (distinct pre-UDF, vector-attach joins, Arrow pair UDF)
V_late : distinct moved AFTER the threshold filter — the pre-UDF distinct
         removes only the pairs that share BOTH probe cells (~1.6% at
         sf0.1), so scoring the few dupes and deduping the tiny result
         skips a 180k-row exchange (guide §2.4: remove shuffles outright).
V_bmap : ship ids, not payloads (guide §8): candidates carry ONLY
         (vec_a, vec_b); the scorer holds a broadcast {vec_id: vector}
         numpy map and computes the exact cosine per batch.  Removes both
         attach joins AND the wide Arrow transfer.  NOTE: driver-collects
         the corpus — viable only under a footprint gate (fine at sf0.1's
         2081x64, NOT a 100-TB shape without per-slice delivery).

Each variant parity-checked against V_ship (sorted row hash) before
timing.  min-of-N interleaved, noop sink.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "6"))
    spark = get_spark("embdup_ab")
    autosize_shuffle_partitions(spark, sf_dir)
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()

    v_ship = T.q_embedding_near_dup(spark, sf_dir)
    v_ship.write.format("noop").mode("overwrite").save()  # builds the index

    entry = artifacts.peek(spark, "ann", f"near_dup:{sf_dir}")
    corpus, member = entry["corpus"], entry["member"]

    a, b = member.alias("a"), member.alias("b")
    cand_raw = a.join(
        b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))

    pa = corpus.select(F.col("vec_id").alias("vec_a"), F.col("qe").alias("qa"))
    pb = corpus.select(F.col("vec_id").alias("vec_b"), F.col("qe").alias("qb"))

    # V_late: no pre-UDF distinct; dedupe the filtered survivors
    v_late = (
        cand_raw.join(pa, "vec_a")
        .join(pb, "vec_b")
        .select(
            "vec_a", "vec_b",
            T._pair_cosine_udf(4)(F.col("qa"), F.col("qb")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= T.COSINE_DUP_THRESHOLD)
        .distinct()
    )

    # V_bmap: broadcast {vec_id: np vector}; candidates stay (vec_a, vec_b)
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType

    vec_rows = corpus.collect()
    bvec = spark.sparkContext.broadcast(
        {r["vec_id"]: np.asarray(r["qe"], dtype=np.float64) for r in vec_rows}
    )

    def pair_cos_ids(va, vb):
        if len(va) == 0:
            return pd.Series([], dtype=np.float64)
        m = bvec.value
        A = np.stack([m[i] for i in va])
        B = np.stack([m[i] for i in vb])
        s = (A * B).sum(axis=1) / (
            np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
        )
        return pd.Series(np.copysign(np.floor(np.abs(s) * 1e4 + 0.5) / 1e4, s))

    pair_cos_ids.__annotations__ = {
        "va": pd.Series, "vb": pd.Series, "return": pd.Series
    }
    cos_by_id = F.pandas_udf(pair_cos_ids, DoubleType())
    v_bmap = (
        cand_raw.distinct()
        .select(
            "vec_a", "vec_b", cos_by_id(F.col("vec_a"), F.col("vec_b")).alias("cosine_sim")
        )
        .filter(F.col("cosine_sim") >= T.COSINE_DUP_THRESHOLD)
    )

    # V_both: bmap scorer AND late distinct
    v_both = (
        cand_raw.select(
            "vec_a", "vec_b", cos_by_id(F.col("vec_a"), F.col("vec_b")).alias("cosine_sim")
        )
        .filter(F.col("cosine_sim") >= T.COSINE_DUP_THRESHOLD)
        .distinct()
    )

    href = rows_hash(v_ship)
    for name, df in [("V_late", v_late), ("V_bmap", v_bmap), ("V_both", v_both)]:
        hh = rows_hash(df)
        print(f"parity {name}: {'OK' if hh == href else 'MISMATCH ' + hh + ' vs ' + href}")

    variants = {"V_ship": v_ship, "V_late": v_late, "V_bmap": v_bmap, "V_both": v_both}
    mins = {k: float("inf") for k in variants}
    for rep in range(reps):
        for name, df in variants.items():
            spark.sparkContext.setJobDescription(f"embdup_ab:{name}#r{rep}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            mins[name] = min(mins[name], time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    print("== variant mins (s), min-of-%d interleaved, noop sink" % reps)
    for name, v in mins.items():
        print(f"  {name:8s} {v:7.3f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
