"""Spans and engine counters for the perfbench traced run.

Spans (name, start, end, parent, op) are kept in memory and written out
once, when the run ends. They come from two places, both in this
directory: ``Tracer.span`` blocks around the benchmark's own calls into
the package, and ``Tracer.wrap``, which swaps a public function or method
of the package for a timing wrapper for the length of the run, so calls the
package makes internally (``BackupEngine.run`` calling
``SegmentStore.write``) get spans too. The package's code is not changed.

Spark's own counters are read from outside through the status stores,
keyed by the job description the benchmark sets before each phase.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``enabled`` is the run's ``--trace`` flag;
    ``on`` can be switched per operation so a traced run also has
    untraced operations to measure its own overhead against."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.on = enabled
        self.op: str | None = None
        self.spans: list[list] = []  # [name, start, end, parent index, op]
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as span ``name`` while tracing
        is on. Undone by ``unwrap_all``."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.on:
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def per_op(self, name: str, self_time: bool = False) -> dict[str, float]:
        """Seconds spent in spans called ``name``, summed per operation.
        With ``self_time`` each span counts minus the time its child spans
        cover (spans are recorded from one thread, so children never
        overlap one another)."""
        child = [0.0] * len(self.spans)
        if self_time:
            for s in self.spans:
                if s[3] is not None and s[2] is not None:
                    child[s[3]] += s[2] - s[1]
        out: dict[str, float] = {}
        for i, (n, start, end, _parent, op) in enumerate(self.spans):
            if n == name and end is not None:
                out[op] = out.get(op, 0.0) + (end - start) - child[i]
        return out

    def median_per_op(self, name: str, ops: list[str], self_time: bool = False) -> float:
        """Median over ``ops`` of ``per_op``; an op without the span counts
        0. Returns 0.0 when ``ops`` is empty (the layer is not exercised)."""
        got = self.per_op(name, self_time)
        return statistics.median(got.get(op, 0.0) for op in ops) if ops else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for n, start, end, parent, op in self.spans:
                fh.write(json.dumps({"name": n, "start": start, "end": end, "parent": parent, "op": op}) + "\n")


# ── Spark status stores ──────────────────────────────────────────────────

PYTHON_EVAL = "time to run Python workers"  # the Arrow-UDF node's eval time
FILES_READ = "size of files read"  # bytes of the files a scan selected

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000,
}


def _metric_total(text: str) -> float:
    """Total of one formatted SQL metric value: either a bare figure
    (``'0 ms'``, ``'12'``) or ``'total (min, med, max ...)\\n10.9 s (...)'``."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def stage_totals(spark, descriptions: set[str]) -> dict[str, float]:
    """Input records, shuffle-write and spill bytes of every stage whose
    job description is in ``descriptions``, from the app status store."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
    out = {"input_records": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        d = s.description()
        if not d.isDefined() or d.get() not in descriptions:
            continue
        out["input_records"] += s.inputRecords()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


def sql_metric_total(spark, descriptions: set[str], metric: str) -> float:
    """Sum of SQL metric ``metric`` (e.g. ``'time to run Python workers'``,
    in ms or bytes) over every SQL execution whose description is in
    ``descriptions``, from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.description() not in descriptions:
            continue
        values = store.executionMetrics(e.executionId())
        seen = set()  # AQE re-plans list one accumulator several times
        ms = e.metrics().iterator()
        while ms.hasNext():
            m = ms.next()
            if m.name() != metric or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                total += _metric_total(v.get())
    return total
