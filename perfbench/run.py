#!/usr/bin/env python3
"""Benchmark of the crawl engine and its checked queries.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Runs one workload (or ``all`` of them, one after the other, in this
process) on ``local[4]``. Set-up is done ``Workload.setups`` times and
timed; then the expected answers are computed with the repository's
oracles; then the workload's untimed warm-up runs, if it has one; then
timed passes run in a closed loop with one caller until ``--seconds``
have been measured (at least one pass). Every operation's output is
checked. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.

Everything the run writes lives under ``.perfbench/`` in the checkout
and is removed before the result is printed. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import uuid
from contextlib import nullcontext, suppress

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
DRIVER_MEM = "3g"


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "web_archive_downloader_spark")
    )


class Bench:
    """One invocation's state: its private directory, its Spark session
    and, in a traced run, its tracer."""

    def __init__(self, seed: int, trace: bool, parent: str):
        self.seed, self.trace = seed, trace
        self.cores = CORES
        self.dir = tempfile.mkdtemp(prefix="workload-", dir=parent)
        self.spark = None
        self.tracer = None
        self.setup_parts: dict[str, list[float]] = {}
        self.event_dir: str | None = None
        self.warehouse = os.path.join(ROOT, "spark-warehouse")
        self.warehouse_before = os.path.exists(self.warehouse)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def start_session(self, cores: int = CORES, event_log: bool = False) -> None:
        from web_archive_downloader_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("local"),
            "spark.ui.showConsoleProgress": "false",
            # the first session's settings become the JVM's defaults
            "spark.eventLog.enabled": "false",
        }
        if event_log:
            self.event_dir = self.path(f"events-{uuid.uuid4().hex[:8]}")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true", "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
        self.cores = cores

    def warm(self) -> None:
        """JVM warm-up (one shuffle job) and Python-worker warm-up (one
        task per core starts a worker and imports the engine's UDF
        modules in it)."""
        from pyspark.sql import functions as F

        from perfbench.workloads import import_udf_modules

        self.spark.range(1_000_000).groupBy((F.col("id") % 97).alias("k")).count().collect()
        self.spark.range(self.cores).repartition(self.cores).mapInPandas(import_udf_modules, "id long") \
            .write.format("noop").mode("overwrite").save()

    def setup(self, wl, event_log: bool) -> dict[str, float]:
        t0 = time.perf_counter()
        self.start_session(event_log=event_log)
        t1 = time.perf_counter()
        self.warm()
        t2 = time.perf_counter()
        wl.prepare(self)
        t3 = time.perf_counter()
        self.log(f"setup start {t1 - t0:.2f}s warm {t2 - t1:.2f}s prepare {t3 - t2:.2f}s")
        return {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1, "inputs.prepare_s": t3 - t2, "total": t3 - t0}

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def loop(self, wl, ledger, seconds: float) -> None:
        t0 = time.perf_counter()
        while True:
            wl.run_pass(self, ledger)
            if time.perf_counter() - t0 >= seconds:
                return

    def close(self) -> list[str]:
        """Stop Spark, remove the run directory and report anything a
        run left in the checkout."""
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            shutil.rmtree(self.dir, ignore_errors=True)
        left = [self.dir] if os.path.exists(self.dir) else []
        if os.path.exists(self.warehouse) and not self.warehouse_before:
            left.append(self.warehouse)
        return left


def end_to_end(wl, setups: list[dict], loop_s: float) -> dict[str, tuple[float, str]]:
    from perfbench.trace import scale

    return {
        "setup_s": (scale(statistics.median(s["total"] for s in setups), loop_s), "s"),
        "pass_s": (scale(wl.pass_seconds(), loop_s), "s"),
    }


def run_workload(name: str, seed: int, seconds: float, trace: bool, parent: str) -> dict:
    from perfbench.trace import RssSampler, Tracer, loop_seconds
    from perfbench.workloads import WORKLOADS, Ledger

    wl = WORKLOADS[name]()
    ledger = Ledger()
    b = Bench(seed, trace, parent)
    try:
        # The speed probe runs while nothing else does: before and after
        # each set-up, and twice before and twice after the timed passes.
        # Times are scaled by the median of all readings, which leaves out
        # those taken in sub-second stalls.
        probe = [loop_seconds()]
        setups = []
        for _ in range(wl.setups):
            setups.append(b.setup(wl, event_log=trace))
            probe.append(loop_seconds())
        t0 = time.perf_counter()
        wl.expect(b)
        b.log(f"expected answers {time.perf_counter() - t0:.2f}s")
        t0 = time.perf_counter()
        wl.warm_up(b, ledger)
        b.log(f"warm-up {time.perf_counter() - t0:.2f}s")
        if trace:
            b.tracer = Tracer(os.path.basename(b.dir), b.spark.sparkContext)
            wl.install(b.tracer)
        probe += [loop_seconds(), loop_seconds()]
        with RssSampler() as rss:
            try:
                b.loop(wl, ledger, seconds)
            finally:
                if b.tracer is not None:
                    b.tracer.uninstall()
        probe += [loop_seconds(), loop_seconds()]
        b.log("speed probe " + " ".join(f"{p * 1000:.3f}ms" for p in probe))
        loop_s = statistics.median(probe)
        if trace:
            metrics = traced(b, wl, ledger, setups, rss.peak, loop_s)
        else:
            metrics = end_to_end(wl, setups, loop_s)
    finally:
        left = b.close()
    if left:
        ledger.attempted += 1
        ledger.failed += 1
        print(f"perfbench: run left behind {left}", file=sys.stderr)
    return {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced(b, wl, ledger, setups, rss_peak: int, loop_s: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a run whose passes were traced: every
    ``per_layer`` metric of ``BENCHMARK.json``; a layer the workload does
    not call reads 0."""
    from perfbench.trace import read_event_log, scale

    tracer, b.tracer = b.tracer, None
    bookkeeping = len(tracer.spans) * tracer.span_cost()
    tracer.write(os.path.join(ROOT, ".perfbench", f"spans-{wl.name}-{b.seed}.jsonl"))
    b.spark.stop()
    b.spark = None
    jobs = read_event_log(b.event_dir)
    values = {k: statistics.median(s[k] for s in setups) for k in ("session.start_s", "session.warmup_s", "inputs.prepare_s")}
    values.update(wl.layers(b, tracer, jobs, ledger))
    values["process.peak_rss_mb"] = rss_peak / 2**20
    values["host.loop_ms"] = loop_s * 1000.0
    values["trace.pass_s"] = scale(wl.pass_seconds(), loop_s)
    values["trace.overhead_share"] = bookkeeping / sum(wl.times) if wl.times else 0.0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = json.load(f)["per_layer"]
    return {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in per_layer}


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the JVM PySpark launched and every other process this run
    started (the Python workers are the JVM's children), and wait until
    they have exited. A process still running after ``timeout``, or one
    left by a launch that was interrupted, is killed."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree, running

    pids = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    deadline = time.monotonic()
    if gateway is not None:
        gateway.shutdown()
        # the JVM's gateway server exits when its standard input closes
        gateway.proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
        deadline += timeout
    while any(running(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if running(p):
            with suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)
    if gateway is not None:
        gateway.proc.wait()
    while any(running(p) for p in pids):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not engine_present():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    # Python workers import the engine by module name, whatever the
    # working directory is.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        print(f"perfbench: unknown workload {unknown}; known: {list(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    inv = tempfile.mkdtemp(prefix="run-", dir=base)
    # PySpark's gateway handshake, the JVM and the Python workers write
    # temporary files; keep them, and the JVM's perf data, out of /tmp.
    tmp = os.path.join(inv, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    try:
        results = {n: run_workload(n, args.seed, args.seconds, bool(args.trace), inv) for n in names}
    finally:
        stop_processes()
        # after the JVM has exited: its shutdown hooks can recreate a local dir
        shutil.rmtree(inv, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    for n, res in results.items():
        for metric, m in res["metrics"].items():
            print(f"{n:18s} {metric:40s} {m['value']:14.4f} {m['unit']}")
        print(f"{n:18s} {'failed_share':40s} {res['failed'] / res['attempted']:14.4f} ({res['failed']}/{res['attempted']})")
    if len(results) == 1:
        out = next(iter(results.values()))
    else:
        out = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()},
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
