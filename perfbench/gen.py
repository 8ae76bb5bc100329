"""Seeded generator of canonical Kafka records for the perfbench workloads.

Records follow the package's record envelope (key, value, topic, partition,
offset, timestamp, timestampType, headers) and are written straight to
parquet with pyarrow. Nothing here goes through the engine, so a change to
the engine cannot change its own input.

The data covers envelope cases the fixed test fixtures never have:

- NULL keys (the murmur2 round-robin branch) and empty keys;
- NULL values (tombstones);
- multi-byte and emoji bytes in keys, values and header keys;
- 0-3 headers per record, some with NULL values;
- offset gaps inside a partition;
- one dominant partition.

Keys are Zipf-distributed; values are log-normal in size (about 0.5 KB on
average) and cut from a word pool that zstd compresses about 3x.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPICS = [
    "orders", "payments", "clicks", "inventory",
    "audit.log", "user-events", "metrics_v2", "search",
]
PARTITIONS = 6
HOT_TOPIC, HOT_PARTITION, HOT_SHARE = 2, 3, 0.25
BASE_TS_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
SPAN_MS = 3_600_000

NULL_KEY, EMPTY_KEY, WIDE_KEY, NULL_VALUE = 0.02, 0.01, 0.05, 0.02
GAP_SHARE, GAP_MAX = 0.03, 20
HEADER_KEYS = ["trace-id", "content-type", "retry-count", "x-origin-🚀", "schema-ver"]
NULL_HEADER_VALUE = 0.1

_WORDS_MB = ["naïve", "größe", "façade", "日本語", "данные", "ключ", "🚀", "😀✓", "ñandú"]

HEADER_FIELDS = [pa.field("key", pa.string(), False), pa.field("value", pa.binary(), True)]
ARROW_SCHEMA = pa.schema(
    [
        pa.field("key", pa.binary()),
        pa.field("value", pa.binary()),
        pa.field("topic", pa.string(), False),
        pa.field("partition", pa.int32(), False),
        pa.field("offset", pa.int64(), False),
        pa.field("timestamp", pa.timestamp("ms", tz="UTC"), False),
        pa.field("timestampType", pa.int32()),
        pa.field("headers", pa.list_(pa.struct(HEADER_FIELDS))),
    ]
)


@dataclass
class Dataset:
    """Where a generated data set lives and what it holds."""

    files: list[str]
    records: int
    payload_bytes: int  # key bytes + value bytes, NULLs counting 0


def _word_pool(rng: np.random.Generator, nbytes: int) -> bytes:
    """Text of random words, numbers and multi-byte tokens; zstd packs it
    about 3x."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(3, 10, size=600)
    vocab = [bytes(rng.choice(letters, size=n)) for n in lens]
    vocab += [w.encode() for w in _WORDS_MB]
    n_tokens = nbytes // 6
    picks = rng.integers(0, len(vocab), size=n_tokens)
    nums = rng.integers(0, 1 << 32, size=n_tokens)
    is_num = rng.random(n_tokens) < 0.04
    parts = [
        b"%x" % nums[i] if is_num[i] else vocab[picks[i]] for i in range(n_tokens)
    ]
    return b" ".join(parts)[:nbytes]


def _binary_from_slices(pool: bytes, starts, lens, valid) -> pa.Array:
    """BinaryArray of pool[start:start+len]; rows where ``valid`` is False
    are NULL."""
    lens = np.where(valid, lens, 0).astype(np.int64)
    data = b"".join(pool[s:s + n] for s, n in zip(starts.tolist(), lens.tolist()))
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    bitmap = np.packbits(valid.astype(np.uint8), bitorder="little")
    return pa.Array.from_buffers(
        pa.binary(),
        len(lens),
        [pa.py_buffer(bitmap.tobytes()), pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)],
        null_count=int((~valid).sum()),
    )


def _keys(rng: np.random.Generator, n: int) -> pa.Array:
    ids = np.minimum(rng.zipf(1.2, size=n), 50_000)
    kind = rng.random(n)
    out: list[bytes | None] = []
    for i, u in zip(ids.tolist(), kind.tolist()):
        if u < NULL_KEY:
            out.append(None)
        elif u < NULL_KEY + EMPTY_KEY:
            out.append(b"")
        elif u < NULL_KEY + EMPTY_KEY + WIDE_KEY:
            out.append(f"用户-{i}-ключ".encode())
        else:
            out.append(b"user-%d" % i)
    return pa.array(out, pa.binary())


def _headers(rng: np.random.Generator, pool: bytes, n: int) -> pa.Array:
    counts = rng.integers(0, 4, size=n)
    total = int(counts.sum())
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    hkeys = pa.array(np.array(HEADER_KEYS, dtype=object)[rng.integers(0, len(HEADER_KEYS), total)])
    hvals = _binary_from_slices(
        pool,
        rng.integers(0, len(pool) - 16, size=total),
        rng.integers(0, 17, size=total),
        rng.random(total) >= NULL_HEADER_VALUE,
    )
    structs = pa.StructArray.from_arrays([hkeys, hvals], fields=HEADER_FIELDS)
    return pa.ListArray.from_arrays(pa.array(offsets), structs)


def _records(rng: np.random.Generator, n: int) -> tuple[pa.Table, int]:
    """``n`` records in timestamp order, and their payload bytes."""
    hot = rng.random(n) < HOT_SHARE
    slot = rng.integers(0, len(TOPICS) * PARTITIONS - 1, size=n)
    hot_slot = HOT_TOPIC * PARTITIONS + HOT_PARTITION
    slot = np.where(slot >= hot_slot, slot + 1, slot)
    slot = np.where(hot, hot_slot, slot)
    ts = BASE_TS_MS + np.sort(rng.integers(0, SPAN_MS, size=n))

    # offsets: per (topic, partition), increasing in timestamp order, with
    # a base of its own and occasional gaps
    order = np.argsort(slot, kind="stable")
    steps = 1 + np.where(rng.random(n) < GAP_SHARE, rng.integers(1, GAP_MAX + 1, size=n), 0)
    sorted_slot = slot[order]
    run = np.cumsum(steps[order])
    first = np.r_[0, np.flatnonzero(np.diff(sorted_slot)) + 1]
    starts = np.repeat(run[first] - steps[order][first], np.diff(np.r_[first, n]))
    bases = rng.integers(0, 1_000_000, size=len(TOPICS) * PARTITIONS)
    offsets = np.empty(n, dtype=np.int64)
    offsets[order] = bases[sorted_slot] + run - starts - 1
    # producers' clocks are not monotonic: jitter after offsets are fixed
    ts = ts + rng.integers(-50, 51, size=n)

    pool = _word_pool(rng, 4 << 20)
    vlen = np.clip(rng.lognormal(np.log(400), 0.7, size=n), 1, 8192).astype(np.int64)
    vvalid = rng.random(n) >= NULL_VALUE
    values = _binary_from_slices(pool, rng.integers(0, len(pool) - 8192, size=n), vlen, vvalid)
    keys = _keys(rng, n)
    table = pa.Table.from_arrays(
        [
            keys,
            values,
            pa.array(np.array(TOPICS, dtype=object)[slot // PARTITIONS], pa.string()),
            pa.array((slot % PARTITIONS).astype(np.int32)),
            pa.array(offsets),
            pa.array(ts.astype("datetime64[ms]")).cast(pa.timestamp("ms", tz="UTC")),
            pa.array(np.zeros(n, dtype=np.int32)),
            _headers(rng, pool, n),
        ],
        schema=ARROW_SCHEMA,
    )
    key_bytes = sum(len(k) for k in keys.to_pylist() if k is not None)
    return table, key_bytes + int(vlen[vvalid].sum())


def write_dataset(seed: int, records: int, out_dir: str, files: int) -> Dataset:
    """Generate ``records`` records from ``seed`` and write them in
    timestamp order as ``files`` parquet files under ``out_dir``. File i
    holds the i-th time slice, so the files replay as a stream in name
    order."""
    rng = np.random.default_rng(seed)
    table, payload = _records(rng, records)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    bounds = np.linspace(0, records, files + 1).astype(int)
    for i in range(files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path, compression="zstd")
        paths.append(path)
    return Dataset(paths, records, payload)

