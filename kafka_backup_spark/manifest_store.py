"""Manifest persistence: the reference's ``{backup_id}/manifest.json``
document (manifest.rs:6-165; writer backup/engine.rs:1214-1301) as a JSON
artifact next to the segment store, with merge-on-write precedence.

The document shape mirrors the reference: top-level backup metadata, per
topic ``original_partition_count`` + partitions, per partition ordered
segment lists. Segments live in the manifest DataFrame (manifest.py); this
module only converts DataFrame ⇄ document and applies the save-time merge
(stored wins) so restart double-writes stay idempotent.

Driver-side JSON I/O is deliberate: a manifest is ~1 row per 128 MB of data
(≈800k rows at 100 TB, a few hundred MB of JSON at most), and the reference
makes the same single-writer assumption for the manifest object.
"""

from __future__ import annotations

import json
import time
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from kafka_backup_spark import manifest as mani

SEGMENT_FIELDS = [
    "key", "start_offset", "end_offset", "start_ts", "end_ts",
    "record_count", "uncompressed_size", "compressed_size",
]

# Arrow types map onto Spark's: string, int (partition), long (the rest)
MANIFEST_SCHEMA = pa.schema(
    [("topic", pa.string()), ("partition", pa.int32()), ("key", pa.string())]
    + [(f, pa.int64()) for f in SEGMENT_FIELDS[1:]]
)


def manifest_to_doc(
    manifest: DataFrame,
    backup_id: str,
    source_cluster_id: str | None = None,
    compression: str = "zstd",
    created_at_ms: int | None = None,
    segment_span: int | None = None,
) -> dict[str, Any]:
    """DataFrame → BackupManifest document (manifest.rs:6-28 field surface).
    One driver collect of segment-granularity rows (see module docstring),
    sorted on the driver: a distributed ``orderBy`` would add a range-sample
    job and an exchange for rows that all end up here anyway."""
    rows = sorted(
        manifest.collect(), key=lambda r: (r["topic"], r["partition"], r["start_offset"])
    )
    topics: dict[str, dict[str, Any]] = {}
    for r in rows:
        t = topics.setdefault(
            r["topic"], {"name": r["topic"], "partitions": {}}
        )
        p = t["partitions"].setdefault(
            r["partition"], {"partition": r["partition"], "segments": []}
        )
        p["segments"].append({f: r[f] for f in SEGMENT_FIELDS})
    topic_list = []
    for name in sorted(topics):
        t = topics[name]
        parts = [t["partitions"][k] for k in sorted(t["partitions"])]
        for p in parts:
            p["last_offset"] = max(s["end_offset"] for s in p["segments"])
        topic_list.append(
            {
                "name": name,
                "original_partition_count": max(p["partition"] for p in parts) + 1,
                "partitions": parts,
            }
        )
    doc: dict[str, Any] = {
        "backup_id": backup_id,
        "created_at": created_at_ms if created_at_ms is not None else int(time.time() * 1000),
        "source_cluster_id": source_cluster_id,
        "compression": compression,
        "topics": topic_list,
    }
    if segment_span is not None:
        # persisted so a later rescan (validate) derives the SAME segment keys
        # the backup wrote — without it a non-default span makes every segment
        # look missing
        doc["segment_span"] = segment_span
    return doc


def doc_to_manifest(spark: SparkSession, doc: dict[str, Any]) -> DataFrame:
    """BackupManifest document → manifest DataFrame.  Built from a typed
    Arrow table, so the frame is a ``LocalTableScan``: no Python worker."""
    rows = [
        {"topic": t["name"], "partition": p["partition"], **s}
        for t in doc["topics"]
        for p in t["partitions"]
        for s in p["segments"]
    ]
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=MANIFEST_SCHEMA))


class ManifestStore:
    """JSON manifest persistence rooted at the store path."""

    def __init__(self, root: str, backup_id: str):
        self.root = root.rstrip("/")
        self.backup_id = backup_id

    def path(self) -> str:
        return f"{self.root}/{self.backup_id}/manifest.json"

    def load_doc(self) -> dict[str, Any] | None:
        # fsio routes remote store roots (s3a://…) through the Hadoop
        # filesystem — the manifest must live NEXT TO the segments, not on
        # the driver's local disk under a directory named like the URI
        from kafka_backup_spark import fsio

        if not fsio.exists(self.path()):
            return None
        return json.loads(fsio.read_text(self.path()))

    def load(self, spark: SparkSession) -> DataFrame | None:
        doc = self.load_doc()
        return doc_to_manifest(spark, doc) if doc is not None else None

    def save(
        self,
        current: DataFrame,
        source_cluster_id: str | None = None,
        created_at_ms: int | None = None,
        segment_span: int | None = None,
    ) -> dict[str, Any]:
        """S8 merge-on-write: load stored manifest, union-merge with
        ``current`` (stored wins on key/start_offset collisions —
        backup/engine.rs:1240-1301), write back atomically."""
        prior = self.load_doc()
        merged = (
            mani.merge_manifests(doc_to_manifest(current.sparkSession, prior), current)
            if prior is not None
            else current
        )
        if segment_span is None and prior is not None:
            segment_span = prior.get("segment_span")
        doc = manifest_to_doc(
            merged,
            self.backup_id,
            source_cluster_id,
            created_at_ms=created_at_ms,
            segment_span=segment_span,
        )
        from kafka_backup_spark import fsio

        fsio.write_text(self.path(), json.dumps(doc, sort_keys=True))
        return doc
