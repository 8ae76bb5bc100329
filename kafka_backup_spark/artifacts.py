"""Session artifact registry: the one store for what the catalog builds once
per Spark session and reuses across calls — prepared plans, pinned base
tables and metadata frames, temp-view bindings, the bucketed-layout
manifest, footer-derived gates, LSH gram/band tables, ANN indexes and
compacted segment stores.

Entries live in one insertion-ordered dict keyed ``(applicationId, kind,
key)``.  Each entry carries the ``free`` callback that releases what its
value holds (unpersist its DataFrames, drop its temp view); ``release`` is
the only path that frees a session's entries, so adding a kind never means
editing a release fan-out.  Kinds in ``CAPS`` evict their oldest entries
past the cap; an eviction only costs a rebuild, never a wrong answer.

Staleness contract: an entry is keyed on the session and on its inputs'
path (sf_dir, layout root, index tag), with NO file-modification check —
parquet under a queried path is treated as immutable for the session's
lifetime (true for the testdata tiers and for any versioned corpus layout,
where rewrites land in new directories).  A writer that changes files
under a path in place must call ``release(spark)`` afterwards; until then
every kind keeps serving what it built from the old files.

Only one SparkContext runs per process, so an entry keyed on another
applicationId belongs to a stopped session: a miss drops such entries
without calling ``free`` (the call would go through the dead context).
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# ~90 plans × a handful of sf_dirs; ~19 meta pins per sf_dir; gram arrays
# and band tables share one cap (2 per sf_dir); 2 ANN tags per sf_dir
CAPS = {"plan": 1024, "meta": 128, "gram": 8, "ann": 8}

_ENTRIES: dict[tuple[str, str, Hashable], tuple[Any, Callable[[Any], None] | None]] = {}


def unpersist(value: Any) -> None:
    """Default ``free``: unpersist a DataFrame value, or the DataFrames
    among a dict value's values."""
    for v in value.values() if isinstance(value, dict) else (value,):
        if isinstance(v, DataFrame):
            try:
                v.unpersist()
            except Exception:
                pass  # session already stopped; nothing left to free


def _app(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


def _free(entry: tuple[Any, Callable[[Any], None] | None]) -> None:
    value, free = entry
    if free is not None:
        free(value)


def get(
    spark: SparkSession,
    kind: str,
    key: Hashable,
    build: Callable[[], Any],
    free: Callable[[Any], None] | None = unpersist,
) -> Any:
    """The stored value, or ``build()``'s result stored on a miss."""
    app = _app(spark)
    entry = _ENTRIES.get((app, kind, key))
    if entry is not None:
        return entry[0]
    for k in [k for k in _ENTRIES if k[0] != app]:
        del _ENTRIES[k]
    cap = CAPS.get(kind)
    if cap is not None:
        same = [k for k in _ENTRIES if k[1] == kind]
        for k in same[: max(0, len(same) - cap + 1)]:
            _free(_ENTRIES.pop(k))
    value = build()
    _ENTRIES[(app, kind, key)] = (value, free)
    return value


def put(
    spark: SparkSession,
    kind: str,
    key: Hashable,
    value: Any,
    free: Callable[[Any], None] | None = unpersist,
) -> None:
    """Store ``value``, first freeing the value it replaces — so a caller
    re-acquiring the same resource (a temp view, a persisted plan) does it
    after ``put`` returns."""
    k = (_app(spark), kind, key)
    old = _ENTRIES.pop(k, None)
    if old is not None:
        _free(old)
    _ENTRIES[k] = (value, free)


def peek(spark: SparkSession, kind: str, key: Hashable) -> Any:
    """The stored value, or None."""
    entry = _ENTRIES.get((_app(spark), kind, key))
    return None if entry is None else entry[0]


def keys(spark: SparkSession, kind: str) -> list:
    """The session's keys of ``kind``, oldest first."""
    app = _app(spark)
    return [k[2] for k in _ENTRIES if k[0] == app and k[1] == kind]


def release(spark: SparkSession | None = None) -> None:
    """Free and drop every entry of ``spark``'s session (of every session
    when None)."""
    app = None if spark is None else _app(spark)
    for k in [k for k in _ENTRIES if app is None or k[0] == app]:
        _free(_ENTRIES.pop(k))
