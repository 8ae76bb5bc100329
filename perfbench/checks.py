"""Output checks, computed with DuckDB, never with the engine under test.

They run outside the timed region. Each returns a list of mismatch
messages; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import json
import os
from urllib.parse import unquote, urlparse

import duckdb

# order-insensitive checksum of the record identity and payload; DuckDB
# sums UBIGINT hashes into a HUGEINT, so nothing wraps
CHECKSUM_SQL = (
    'SELECT count(*) AS n, count(DISTINCT (topic, "partition", "offset")) AS ids, '
    'coalesce(sum(hash(topic, "partition", "offset", key, value)), 0) AS h FROM {src}'
)


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET threads = 2")
    con.sql("SET memory_limit = '1GB'")
    return con


def parquet_source(files: list[str]) -> str:
    """A DuckDB relation over canonical-record parquet files."""
    return f"read_parquet({json.dumps(files)})"


def store_source(files: list[str]) -> str:
    """A DuckDB relation over segment-store files, taking topic and
    partition from their hive path the way the engine does."""
    return (
        f"(SELECT * EXCLUDE (partition), CAST(partition AS INTEGER) AS \"partition\" "
        f"FROM read_parquet({json.dumps(files)}, hive_partitioning = true, "
        f"hive_types = {{'topic': VARCHAR, 'partition': INTEGER}}))"
    )


def store_files(topics_path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(topics_path, "topic=*", "partition=*", "*.parquet")))


def sink_log_files(topics_path: str) -> list[str]:
    """Files a streaming file sink has committed, from its ``_spark_metadata``
    log (each batch file lists its adds; compact files repeat them)."""
    files: set[str] = set()
    for path in glob.glob(os.path.join(topics_path, "_spark_metadata", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:  # first line is the version
                entry = json.loads(line)
                if entry.get("action", "add") == "add":
                    files.add(unquote(urlparse(entry["path"]).path))
    return sorted(files)


def checksum(src: str) -> tuple[int, int, int]:
    con = _connect()
    try:
        return tuple(int(v) for v in con.sql(CHECKSUM_SQL.format(src=src)).fetchone())
    finally:
        con.close()


def same_records(expected: tuple[int, int, int], src: str, what: str) -> list[str]:
    """``src`` must hold exactly the records behind ``expected`` (a
    ``checksum`` result), each once."""
    got = checksum(src)
    errs = []
    if got[0] != got[1]:
        errs.append(f"{what}: {got[0] - got[1]} duplicate (topic, partition, offset) rows")
    if got != expected:
        errs.append(f"{what}: (rows, ids, hash) {got} != source {expected}")
    return errs


def segment_count(src: str, span: int) -> int:
    """Segments the manifest must list: one per (topic, partition, offset
    span), the engine's fixed-span segmentation."""
    con = _connect()
    try:
        sql = f'SELECT count(DISTINCT (topic, "partition", "offset" // {span})) FROM {src}'
        return int(con.sql(sql).fetchone()[0])
    finally:
        con.close()


def restore_expectation(
    src: str,
    topics: list[str],
    mapping: dict[str, str],
    lo_ms: int,
    hi_ms: int,
    n_out: int,
) -> tuple[dict[tuple[str, int], int], int]:
    """What a PITR restore of ``src`` must produce: rows per (target
    topic, target partition) and the payload bytes restored. The target
    partition is Kafka's murmur2 partitioner for non-NULL keys and
    ``(partition + offset) mod n`` round-robin for NULL keys, written with
    the package's DuckDB murmur2 twin."""
    from kafka_backup_spark.functions.murmur2 import murmur2_duckdb_sql

    rename = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in mapping.items())
    topic_expr = f"CASE topic {rename} ELSE topic END" if mapping else "topic"
    target = (
        f"CASE WHEN key IS NULL THEN (\"partition\" + \"offset\") % {n_out} "
        f"ELSE ({murmur2_duckdb_sql('key')} & 2147483647) % {n_out} END"
    )
    where = (
        f"topic IN ({', '.join(repr(t) for t in topics)}) "
        f"AND epoch_ms(timestamp) BETWEEN {lo_ms} AND {hi_ms}"
    )
    con = _connect()
    try:
        rows = con.sql(
            f"SELECT {topic_expr} AS t, CAST({target} AS INTEGER) AS p, count(*) AS n, "
            f"coalesce(sum(coalesce(octet_length(key), 0) + coalesce(octet_length(value), 0)), 0) AS b "
            f"FROM {src} WHERE {where} GROUP BY ALL"
        ).fetchall()
    finally:
        con.close()
    counts = {(t, int(p)): int(n) for t, p, n, _b in rows}
    return counts, sum(int(b) for *_x, b in rows)


def restore_counts(sink_dir: str) -> dict[tuple[str, int], int]:
    files = sorted(glob.glob(os.path.join(sink_dir, "*.parquet")))
    if not files:
        return {}
    con = _connect()
    try:
        rows = con.sql(
            f'SELECT topic, "partition", count(*) FROM read_parquet({json.dumps(files)}) GROUP BY ALL'
        ).fetchall()
    finally:
        con.close()
    return {(t, int(p)): int(n) for t, p, n in rows}


def same_counts(expected: dict, got: dict, what: str) -> list[str]:
    if got == expected:
        return []
    diff = sorted(k for k in set(expected) | set(got) if expected.get(k) != got.get(k))
    return [f"{what}: {len(diff)} (topic, partition) counts differ, e.g. "
            + ", ".join(f"{k}: {got.get(k)} != {expected.get(k)}" for k in diff[:3])]
