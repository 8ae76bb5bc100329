#!/usr/bin/env python
"""embedding_near_dup warm-path stage decomposition (r15, guide §1).

The biggest single bench entry at sf0.1 (1.23-1.31 s warm min-of-5) has
never had its floor named.  Cumulative prefixes of the shipped plan, all
noop-sink, min-of-N interleaved, AFTER the shared ANN index (corpus +
member persists) is built — i.e. exactly the warm cost the bench's
min-of-5 reports:

  F0  member scan (persisted top-2-cell assignment)
  F1  + same-cell self-join (raw candidate pairs, pre-distinct)
  F2  + distinct
  F3  + qa/qb vector attach (two joins against the persisted corpus)
  F4  full shipped body (+ Arrow pair-cosine UDF + threshold filter)

Prints per-fragment min seconds and the row counts that explain them.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from kafka_backup_spark import artifacts
from kafka_backup_spark.queries import textops as T
from kafka_backup_spark.session import autosize_shuffle_partitions, get_spark


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "6"))
    spark = get_spark("embdup_probe")
    autosize_shuffle_partitions(spark, sf_dir)

    # warm the session + build the shared ANN index exactly once (the same
    # amortization bench.py's min-of-5 measures)
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    full = T.q_embedding_near_dup(spark, sf_dir)
    full.write.format("noop").mode("overwrite").save()

    entry = artifacts.peek(spark, "ann", f"near_dup:{sf_dir}")
    corpus, member = entry["corpus"], entry["member"]

    a, b = member.alias("a"), member.alias("b")
    cand_raw = a.join(
        b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    cand = cand_raw.distinct()
    pa = corpus.select(F.col("vec_id").alias("vec_a"), F.col("qe").alias("qa"))
    pb = corpus.select(F.col("vec_id").alias("vec_b"), F.col("qe").alias("qb"))
    attached = cand.join(pa, "vec_a").join(pb, "vec_b").select("vec_a", "vec_b", "qa", "qb")

    frags = {
        "F0_member_scan": member,
        "F1_selfjoin_raw": cand_raw,
        "F2_plus_distinct": cand,
        "F3_plus_vector_attach": attached,
        "F4_full_shipped": full,
    }

    mins: dict[str, float] = {k: float("inf") for k in frags}
    for rep in range(reps):
        for name, df in frags.items():
            spark.sparkContext.setJobDescription(f"embdup_probe:{name}#r{rep}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            mins[name] = min(mins[name], time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)

    counts = {
        "member_rows": member.count(),
        "cand_raw_rows": cand_raw.count(),
        "cand_distinct_rows": cand.count(),
        "result_rows": full.count(),
        "n_cells": len(entry["cells"]),
    }
    print("== fragment mins (s), min-of-%d interleaved, noop sink" % reps)
    prev = None
    for name in frags:
        inc = "" if prev is None else f"  (+{mins[name] - prev:+.3f})".replace("+-", "-")
        print(f"  {name:24s} {mins[name]:7.3f}{inc}")
        prev = mins[name]
    print("== counts:", counts)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
