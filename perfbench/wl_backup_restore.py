"""backup_restore: the product's own path, closed loop, one client.

Each operation is one cycle on fresh stores: ``BackupEngine.run`` plus
``ManifestStore.save``; the same source backed up incrementally by
``stream_backup`` with an ``availableNow`` trigger; an integrity-scan
validate of the batch store; then a PITR restore that reads a seed-chosen
quarter of the time range, keeps 6 of the 8 topics, renames 2 of them and
murmur2-repartitions 6 -> 12 partitions into a parquet sink. The first
cycle of the fresh session is reported as the cold operation; the warm
ones make the latency median.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import checks
import gen
import spans as tr

RECORDS = 30_000
SOURCE_FILES = 8
SEGMENT_SPAN = 1000
RESTORE_PARTITIONS = 12
BACKUP_ID = "perfbench"


def restore_choice(seed: int) -> tuple[list[str], dict[str, str], int, int]:
    """Topics kept, topic renames and the inclusive [lo, hi] ms window of
    the restore, from ``seed``."""
    rng = random.Random(seed)
    kept = sorted(rng.sample(gen.TOPICS, 6))
    mapping = {t: f"{t}-dr" for t in sorted(rng.sample(kept, 2))}
    quarter = gen.SPAN_MS // 4
    lo = gen.BASE_TS_MS + rng.randrange(0, gen.SPAN_MS - quarter)
    return kept, mapping, lo, lo + quarter


def _dir_bytes(path: str) -> tuple[int, int]:
    """Bytes and count of the parquet files under ``path``."""
    files = [os.path.join(d, f) for d, _s, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return sum(os.path.getsize(f) for f in files), len(files)


def run(ctx) -> dict:
    from kafka_backup_spark import manifest as mani
    from kafka_backup_spark.engine import BackupConfig, BackupEngine, RestoreConfig, RestoreEngine
    from kafka_backup_spark.manifest_store import ManifestStore
    from kafka_backup_spark.schema import RECORD_SCHEMA
    from kafka_backup_spark.sources.segments import SegmentStore
    from kafka_backup_spark.streaming import backup_stream
    from kafka_backup_spark.validation.checks import integrity_scan, validation_summary

    tracer = ctx.tracer
    tracer.wrap(SegmentStore, "write", "sources.segments.SegmentStore.write")
    tracer.wrap(SegmentStore, "read_any", "sources.segments.SegmentStore.read_any")

    def make_input(rep_dir: str) -> gen.Dataset:
        return gen.write_dataset(ctx.seed, RECORDS, rep_dir, SOURCE_FILES)

    data = ctx.setup(make_input)
    spark = ctx.spark
    source = spark.read.schema(RECORD_SCHEMA).parquet(*data.files)

    # expectations, from the source files alone
    src_sql = checks.parquet_source(data.files)
    src_sum = checks.checksum(src_sql)
    n_segments = checks.segment_count(src_sql, SEGMENT_SPAN)
    kept, mapping, lo, hi = restore_choice(ctx.seed)
    want_counts, restored_bytes = checks.restore_expectation(src_sql, kept, mapping, lo, hi, RESTORE_PARTITIONS)
    restore_cfg = RestoreConfig(
        include_topics=kept,
        window_start_ms=lo,
        window_end_ms=hi,
        topic_mapping=mapping,
        repartition_to=RESTORE_PARTITIONS,
    )

    cycles, backup_s, stream_s, validate_s, restore_s = [], [], [], [], []
    progress: dict[str, list[dict]] = {}
    store_ratio, bytes_written, files_written, summary_passed = [], [], [], []
    traced_ops: list[str] = []
    failed = 0
    errors: list[str] = []
    peak_disk = 0
    # the cold cycle, then warm ones for ctx.seconds; a traced run needs a
    # traced and an untraced warm cycle to measure its own overhead
    min_cycles = 3 if tracer.enabled else 2
    t_end = None  # set once the cold cycle is done
    i = 0
    sc = spark.sparkContext
    while i < min_cycles or time.perf_counter() < t_end:
        op = f"cycle{i}"
        # traced runs alternate traced and untraced warm cycles
        tracer.on = tracer.enabled and (i == 0 or i % 2 == 1)
        tracer.op = op
        if tracer.on:
            traced_ops.append(op)
        root = os.path.join(ctx.work, "stores", op)
        sink = os.path.join(ctx.work, "sinks", op)
        store = SegmentStore(root)

        t0 = time.perf_counter()
        sc.setJobDescription(f"perfbench:backup#{op}")
        with tracer.span("engine.BackupEngine.run"):
            manifest = BackupEngine(store, BackupConfig(segment_span=SEGMENT_SPAN)).run(source)
        with tracer.span("manifest_store.ManifestStore.save"):
            doc = ManifestStore(root, BACKUP_ID).save(manifest, segment_span=SEGMENT_SPAN)
        t1 = time.perf_counter()

        sc.setJobDescription(None)  # micro-batches carry their own
        stream_store = SegmentStore(os.path.join(ctx.work, "streams", op))
        with tracer.span("streaming.backup_stream.stream_backup"):
            query = backup_stream.stream_backup(
                backup_stream.read_record_stream(spark, os.path.dirname(data.files[0])),
                stream_store,
                os.path.join(ctx.work, "checkpoints", op),
                trigger={"availableNow": True},
            )
        query.awaitTermination()
        progress[op] = list(query.recentProgress)
        t1s = time.perf_counter()

        sc.setJobDescription(f"perfbench:validate#{op}")
        mstore = ManifestStore(root, BACKUP_ID)
        stored = mstore.load(spark)
        observed = mani.build_manifest(store.read(spark), SEGMENT_SPAN).select(
            "key", "record_count", "start_offset", "end_offset"
        )
        with tracer.span("validation.checks.integrity_scan"):
            scan = integrity_scan(stored, observed)
            status = {r["status"]: r["count"] for r in scan.groupBy("status").count().collect()}
        t2 = time.perf_counter()

        sc.setJobDescription(f"perfbench:restore#{op}")
        with tracer.span("engine.RestoreEngine.plan"):
            out = RestoreEngine(store, restore_cfg).plan(spark)
        with tracer.span("engine.RestoreEngine.execute"):
            out.write.mode("overwrite").parquet(sink)
        t3 = time.perf_counter()
        sc.setJobDescription(None)
        tracer.op = None

        ctx.log(
            f"{op}: backup {t1 - t0:.2f} s, stream backup {t1s - t1:.2f} s, "
            f"validate {t2 - t1s:.2f} s, restore {t3 - t2:.2f} s"
        )
        cycles.append(t3 - t0)
        backup_s.append(t1 - t0)
        stream_s.append(t1s - t1)
        validate_s.append(t2 - t1s)
        restore_s.append(t3 - t2)

        # ── checks, outside the timed region ──
        files = checks.store_files(store.topics_path())
        errs = checks.same_records(src_sum, checks.store_source(files), f"{op} backup store")
        # the streamed store, read through the sink's own log
        logged = checks.sink_log_files(stream_store.topics_path())
        errs += checks.same_records(src_sum, checks.store_source(logged), f"{op} stream store")
        listed = sum(len(p["segments"]) for t in doc["topics"] for p in t["partitions"])
        if listed != n_segments:
            errs.append(f"{op} manifest: {listed} segments, source has {n_segments}")
        # count 'valid' rows directly: validation_summary(...).overall only
        # knows passed/failed/error/warning and reads an integrity scan
        # with missing segments as 'passed'
        if status != {"valid": n_segments}:
            errs.append(f"{op} validate: statuses {status}, want {n_segments} valid")
        errs += checks.same_counts(want_counts, checks.restore_counts(sink), f"{op} restore")
        if errs:
            failed += 1
            errors += errs
        store_bytes, n_files = _dir_bytes(store.topics_path())
        store_ratio.append(store_bytes / data.payload_bytes)
        bytes_written.append(store_bytes)
        files_written.append(n_files)
        if i == 0 and tracer.enabled:
            summary = validation_summary(scan).collect()[0]
            summary_passed.append(summary["passed"])
        peak_disk = max(peak_disk, ctx.disk_bytes())
        for path in (root, sink, stream_store.root, os.path.join(ctx.work, "checkpoints", op)):
            shutil.rmtree(path, ignore_errors=True)
        if i == 0:
            t_end = time.perf_counter() + ctx.seconds
        i += 1
    tracer.on = tracer.enabled

    warm = cycles[1:]
    result = {
        "attempted": len(cycles),
        "failed": failed,
        "errors": errors,
        "e2e": {
            "latency_p50_s": statistics.median(warm),
            "cold_s": cycles[0],
        },
    }
    if not tracer.enabled:
        return result

    warm_traced = [op for op in traced_ops if op != "cycle0"]
    untraced = [c for k, c in enumerate(cycles) if k > 0 and f"cycle{k}" not in traced_ops]
    traced_t = [c for k, c in enumerate(cycles) if k > 0 and f"cycle{k}" in traced_ops]
    restores = {f"perfbench:restore#{op}" for op in warm_traced}
    stages = tr.stage_totals(spark, restores)
    n = max(1, len(warm_traced))
    scanned = stages["input_records"] / n
    rows_out = sum(want_counts.values())
    med = statistics.median
    # the availableNow micro-batches of the traced warm cycles
    batches = [p for op in warm_traced for p in progress[op] if p["numInputRows"]]

    def batch_median(key: str) -> float:
        return med(p["durationMs"].get(key, 0) for p in batches) / 1000 if batches else 0.0

    result["layers"] = {
        "product.backup_mb_s": data.payload_bytes / 1e6 / med(backup_s[1:]),
        "product.restore_mb_s": restored_bytes / 1e6 / med(restore_s[1:]),
        "product.stream_backup_mb_s": data.payload_bytes / 1e6 / med(stream_s[1:]),
        "product.validate_s": med(validate_s[1:]),
        "product.store_bytes_per_payload_byte": med(store_ratio),
        "engine.BackupEngine.run_s": tracer.median_per_op("engine.BackupEngine.run", warm_traced),
        "engine.BackupEngine.run.self_s": tracer.median_per_op("engine.BackupEngine.run", warm_traced, self_time=True),
        "sources.segments.SegmentStore.write_s": tracer.median_per_op("sources.segments.SegmentStore.write", warm_traced),
        "store.bytes_written": med(bytes_written),
        "store.files_written": med(files_written),
        "manifest_store.ManifestStore.save_s": tracer.median_per_op("manifest_store.ManifestStore.save", warm_traced),
        "sources.segments.SegmentStore.read_any_s": tracer.median_per_op("sources.segments.SegmentStore.read_any", warm_traced),
        "engine.RestoreEngine.plan_s": tracer.median_per_op("engine.RestoreEngine.plan", warm_traced),
        "engine.RestoreEngine.execute_s": tracer.median_per_op("engine.RestoreEngine.execute", warm_traced),
        "restore.rows_scanned": scanned,
        "restore.rows_out": rows_out,
        "restore.rows_out_per_scanned": rows_out / scanned if scanned else 0.0,
        "spark.scan_bytes_read": tr.sql_metric_total(spark, restores, tr.FILES_READ) / n,
        "spark.shuffle_bytes_written": stages["shuffle_write_bytes"] / n,
        "spark.spill_bytes": stages["spill_bytes"] / n,
        "spark.python_eval_ms": tr.sql_metric_total(spark, restores, tr.PYTHON_EVAL) / n,
        "streaming.backup_stream.stream_backup_s": tracer.median_per_op("streaming.backup_stream.stream_backup", warm_traced),
        "stream.batch_s": batch_median("triggerExecution"),
        "stream.add_batch_s": batch_median("addBatch"),
        "stream.latest_offset_s": batch_median("latestOffset"),
        "stream.wal_commit_s": batch_median("walCommit"),
        "stream.rows_per_batch": med(p["numInputRows"] for p in batches) if batches else 0.0,
        "stream.batches": len(batches) / n,
        "validation.checks.integrity_scan_s": tracer.median_per_op("validation.checks.integrity_scan", warm_traced),
        "validate.segments_valid": n_segments,
        "validate.summary_passed": summary_passed[0],
        "trace.overhead_share": med(traced_t) / med(untraced) - 1 if traced_t and untraced else 0.0,
        "run.peak_disk_bytes": peak_disk,
    }
    return result
