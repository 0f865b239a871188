"""The repository benchmark: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload pcap_bulk --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout: Spark's Python workers must import
``wireduck_spark`` from the checkout being measured, and a one-task probe
in set-up fails the run when they do not.

A run generates its inputs from ``--seed`` under ``perfbench/work/``
(untimed), sets up (``session.get_spark``, ``sources.pcap.register`` and
one untimed warm-up op, all timed as ``setup_s``), then runs ops for
``--seconds`` seconds, checking every answer.

``--trace 0`` prints the end-to-end metrics: ``setup_s``; the median wall
time of one op, ``op_s``; the CPU time per op, ``cpu_s``, of this process,
the JVM and the Python workers; and their summed peak RSS, ``peak_rss_mb``.
The three times are divided by the machine's mean slowdown over the same
window (``spans.BoxSpeed``): on shared virtual CPUs the raw times of one
build swing by half from minute to minute. ``--trace 1`` records spans
around each layer's public calls, runs the per-layer probes after the
ops, prints the per-layer metrics and writes the spans to
``perfbench/work/traces/``; its ``raw.*`` metrics are that run's three
times before the division, and ``box.slowdown`` the divisor.
Diagnostics (core count, load average, steal share, slowdown, raw times,
packets per second) go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import gen
import spans
from workloads import SQL_QUERIES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark cores: one vCPU of a 4-vCPU box stays free for the driver and
# the JVM's own threads, which steadies per-op latency.
CPUS = min(3, os.cpu_count() or 1)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the program write in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "WIREDUCK_GLOSSARY_DIR": os.path.join(work, "glossary"),
        # a 1 GB heap keeps the run small on a shared box and caps how far
        # GC-timed heap growth can move peak RSS from run to run
        "SPARK_DRIVER_MEM": "1g",
        # spark-submit's launcher is a JVM of its own
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData' --conf spark.ui.showConsoleProgress=false "
            "pyspark-shell"),
    })


def _worker_origin(_):
    import os

    import wireduck_spark
    return os.path.realpath(wireduck_spark.__file__)


def check_worker_code(spark) -> None:
    """Fail unless the Python workers run this checkout's package."""
    want = os.path.realpath(os.path.join(ROOT, "wireduck_spark",
                                         "__init__.py"))
    got = spark.sparkContext.parallelize([0], 1).map(_worker_origin).first()
    if got != want:
        sys.exit(f"perfbench: Spark workers import {got}, not {want}; "
                 "run from the root of the checkout being measured")


def stop(spark) -> None:
    """Stop Spark and wait for the JVM and every worker to exit."""
    from pyspark import SparkContext

    # the py4j gateway owns the JVM process; the JVM exits when its
    # stdin closes
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while spans.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in spans.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    sys.path.insert(0, ROOT)
    from wireduck_spark.session import get_spark
    from wireduck_spark.sources.pcap import register

    tracer = spans.Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, tracer)
    wl.generate()
    probes = None
    if args.trace:
        probes = gen.probe_captures(os.path.join(work, "probe"), args.seed)

    steal0, ticks0 = spans.cpu_ticks()
    load0 = os.getloadavg()[0]
    box = spans.BoxSpeed()
    spark = None
    try:
        wall0 = time.time()
        t0 = time.perf_counter()
        with tracer.span("setup.session"):
            spark = get_spark(f"perfbench-{args.workload}", cpus=CPUS)
        t1 = time.perf_counter()
        with tracer.span("setup.register"):
            register(spark)
        t2 = time.perf_counter()
        with tracer.span("setup.warmup"):
            attempted, failed = wl.op(spark, -1)
        t3 = time.perf_counter()
        wall3 = time.time()
        spark.sparkContext.setLogLevel("ERROR")
        check_worker_code(spark)

        # the first ops after set-up run slower than the rest
        for i in range(wl.settle_ops):
            n, bad = wl.op(spark, -2 - i)
            attempted, failed = attempted + n, failed + bad

        # CPU time is read once around all ops: a process's time moves to
        # its parent only when the parent reaps it, so per-op deltas are
        # lumpy.
        op_s, ring_exhausted = [], False
        cpu0 = spans.tree_cpu_s(skip=box.pid)
        wall_ops = time.time()
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < args.seconds:
            w0 = time.perf_counter()
            try:
                n, bad = wl.op(spark, i)
            except StopIteration:
                ring_exhausted = True
                break
            op_s.append(time.perf_counter() - w0)
            attempted, failed, i = attempted + n, failed + bad, i + 1
        if not op_s:
            sys.exit("perfbench: no timed op ran")
        cpu_s = (spans.tree_cpu_s(skip=box.pid) - cpu0) / len(op_s)
        wall_end = time.time()
        rss = spans.peak_rss_mb(skip=box.pid)
        box.stop()  # the per-layer probes below are not normalized
        slow_setup = box.factor(wall0, wall3)
        slow_ops = box.factor(wall_ops, wall_end)

        if args.trace:
            metrics = per_layer(spark, wl, tracer, probes,
                                (t1 - t0, t2 - t1, t3 - t2), op_s, slow_ops)
            metrics.update({"raw.setup_s": t3 - t0,
                            "raw.op_s": statistics.median(op_s),
                            "raw.cpu_s": cpu_s})
            units = {k: _unit(k) for k in metrics}
            tracer.write(os.path.join(
                HERE, "work", "traces",
                f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {"setup_s": (t3 - t0) / slow_setup,
                       "op_s": statistics.median(op_s) / slow_ops,
                       "cpu_s": cpu_s / slow_ops,
                       "peak_rss_mb": sum(rss.values())}
            units = {"setup_s": "s", "op_s": "s", "cpu_s": "s",
                     "peak_rss_mb": "MB"}
    finally:
        box.stop()
        if spark is not None:
            stop(spark)

    steal1, ticks1 = spans.cpu_ticks()
    diag = {"nproc": os.cpu_count(), "spark_cores": CPUS, "ops": len(op_s),
            "ring_exhausted": ring_exhausted,
            "loadavg_1m": [load0, os.getloadavg()[0]],
            "steal_share": (steal1 - steal0) / max(ticks1 - ticks0, 1),
            "slowdown": {"setup": slow_setup, "ops": slow_ops},
            "raw": {"setup_s": t3 - t0, "op_s": statistics.median(op_s),
                    "cpu_s": cpu_s},
            "op_s": op_s, "rss_mb": rss}
    if getattr(wl, "packets", None):
        diag["pkts_per_s"] = wl.packets / statistics.median(op_s)
    print("# diagnostics " + json.dumps(diag), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


def _unit(name: str) -> str:
    for suffix, unit in (("us_per_pkt", "us"), ("mb_per_s", "MB/s"),
                         ("pkts_per_s", "1/s"), ("_s", "s"),
                         ("slowdown", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(spark, wl, tracer, probes, setup, op_s, slowdown) -> dict:
    """Per-layer metrics from the spans of this run, plus the probes.

    Times are as measured, except ``traced.op_s``, which is divided by
    ``box.slowdown`` like the end-to-end ``op_s`` so that the two give the
    tracing overhead. ``sql.<query>.*`` is 0 on a workload that does not
    run the query."""
    from wireduck_spark.sources.pcap import read_pcap

    med = statistics.median
    ops = sorted({s["op"] for s in tracer.spans
                  if s["name"] == "op" and s["op"] >= 0})

    def per_op(name, key=None):
        vals = []
        for i in ops:
            sel = [s for s in tracer.spans if s["op"] == i and
                   s["name"] == name]
            vals.append(sum((s.get(key, 0) if key else s["end"] - s["start"])
                            for s in sel))
        return med(vals)

    out = {"setup.session_s": setup[0], "setup.register_s": setup[1],
           "setup.warmup_s": setup[2], "box.slowdown": slowdown,
           "traced.op_s": med(op_s) / slowdown,
           "op.build_s": per_op("op.build"), "op.exec_s": per_op("op.exec"),
           "op.jobs": per_op("op", "jobs"), "op.tasks": per_op("op", "tasks"),
           "op.failed_tasks": per_op("op", "failed_tasks")}
    for q in SQL_QUERIES:
        sel = [s for s in tracer.spans if s.get("query") == q
               and s["op"] is not None and s["op"] >= 0]
        for key, name in (("build_s", "op.build"), ("exec_s", "op.exec")):
            vals = [s["end"] - s["start"] for s in sel if s["name"] == name]
            out[f"sql.{q}.{key}"] = med(vals) if vals else 0.0
        for key in ("jobs", "tasks"):
            vals = [s.get(key, 0) for s in sel if s["name"] == "sql"]
            out[f"sql.{q}.{key}"] = med(vals) if vals else 0
    schema = read_pcap(spark, probes["mixed.pcap"], protocols=wl.protocols,
                       engine="native").schema
    out.update(spans.pcap_layers(tracer, schema, probes))
    path, pkts = wl.scan_input()
    if path is None:
        path = os.path.join(os.path.dirname(probes["mixed.pcap"]), "mixed.*")
        pkts = 2 * gen.PROBE_PKTS
    out.update(spans.noop_scan(
        spark, tracer, lambda: read_pcap(spark, path, protocols=wl.protocols,
                                         engine="native"), pkts))
    return out


if __name__ == "__main__":
    sys.exit(main())
