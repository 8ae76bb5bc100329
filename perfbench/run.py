#!/usr/bin/env python3
"""Product-path benchmark of kafka_backup_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``backup_restore`` or ``catalog``)
against the package's public API in one process on ``local[<cpus>]``,
checks every output with DuckDB, and prints as its last stdout line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics (a layer the workload does not
run reports 0).

Everything a run builds (inputs, stores, checkpoints, layouts, Spark
scratch) lives in its own directory under ``.perfbench/`` in the checkout
and is removed when the run ends; spans of a traced run are written to
``.perfbench/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 2
DRIVER_MEMORY = "2g"
WORKLOADS = ("backup_restore", "catalog")


class Run:
    """One benchmark run: its scratch directory, Spark session, tracer
    and the set-up protocol every workload shares."""

    def __init__(self, workload: str, seed: int, seconds: float, tracer):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.here = HERE
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
        self.spark = None
        self.setup_s: float | None = None
        self.launch_s: float | None = None
        self.setup_ops: list[str] = []
        self.t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        """Progress note on stderr, stamped with seconds since the start."""
        print(f"perfbench [{time.perf_counter() - self.t0:7.2f} s] {msg}", file=sys.stderr, flush=True)

    def setup(self, build):
        """Start the JVM once, then set the workload up ``SETUP_REPS`` times,
        each in a fresh Spark session of that JVM: restart the session, then
        ``build(rep_dir)``. ``setup_s`` is the median of the repetitions;
        the last session and the last build's result are kept, earlier
        builds are deleted."""
        from kafka_backup_spark.session import get_spark

        self.tracer.op = "launch"
        t0 = time.perf_counter()
        with self.tracer.span("session.launch"):
            self.spark = get_spark(f"perfbench-{self.workload}")
            self.spark.range(1).count()
        self.launch_s = time.perf_counter() - t0
        times = []
        out = None
        for rep in range(SETUP_REPS):
            op = f"setup{rep}"
            self.setup_ops.append(op)
            self.tracer.op = op
            rep_dir = os.path.join(self.work, op)
            t0 = time.perf_counter()
            self.spark.stop()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(f"perfbench-{self.workload}")
                self.spark.range(1).count()
            out = build(rep_dir)
            times.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(rep_dir, ignore_errors=True)
        self.tracer.op = None
        self.setup_s = statistics.median(times)
        self.log(f"JVM launch {self.launch_s:.2f} s, set-up " + ", ".join(f"{t:.2f}" for t in times) + " s")
        return out

    def disk_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(self.work) for f in fs
        )

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for the JVM to
        exit (its Python workers go with it)."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _environment(work: str, cpus: int) -> None:
    """Point every scratch location at ``work`` and pin the core count
    (``get_spark`` would otherwise default to local[32])."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_GRAFT_BUCKETED_LAYOUT", None)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads stage and SQL metrics back from the status
        # stores, which otherwise drop entries past 1000 jobs
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "5000",
    }
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "kafka_backup_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: no kafka_backup_spark package and bench.py under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    # the package, bench.py and selfcheck.py live at the checkout root
    sys.path.insert(1, ROOT)
    tracer = spans.Tracer(bool(args.trace))
    run = Run(args.workload, args.seed, args.seconds, tracer)
    cpus = len(os.sched_getaffinity(0))
    _environment(run.work, cpus)
    cwd = os.getcwd()
    os.chdir(run.work)
    try:
        if args.workload == "backup_restore":
            import wl_backup_restore as wl
        else:
            import wl_catalog as wl
        result = wl.run(run)
        run.log(f"local[{cpus}], default parallelism {run.spark.sparkContext.defaultParallelism}")
        if args.trace:
            result["layers"].update(
                {
                    "session.launch_s": run.launch_s,
                    "session.get_spark_s": tracer.median_per_op("session.get_spark", run.setup_ops),
                    "ops_attempted": result["attempted"],
                    "ops_failed": result["failed"],
                }
            )
            os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
            tracer.write(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        tracer.unwrap_all()
        run.shutdown()
        os.chdir(cwd)
        shutil.rmtree(run.work, ignore_errors=True)

    run.log(f"done: {result['attempted']} ops, {result['failed']} failed")
    for err in result["errors"][:20]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    if args.trace:
        values, wanted, default = result["layers"], spec["per_layer"], 0.0
    else:
        values, wanted, default = {**result["e2e"], "setup_s": run.setup_s}, spec["end_to_end"], None
    metrics = {}
    for m in wanted:
        value = values.get(m["name"], default)
        if value is None:
            raise RuntimeError(f"workload {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
