"""Spans, Spark job counts, /proc counters, the per-layer probes and the
machine-speed sampler.

Spans are recorded only from the benchmark's own files, around calls into
the program's public functions. They stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import json
import os
import select
import struct
import subprocess
import sys
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Records (name, start, end, parent, op) spans when enabled; when
    disabled, ``span`` only yields and costs one generator step."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": op, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@contextmanager
def job_group(spark, tracer: Tracer, rec: dict, group: str):
    """Tag the Spark jobs started inside with ``group`` and store their
    job, task and failed-task counts on the span record (tracing only)."""
    if not tracer.enabled:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        rec.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)


# ---- /proc counters ---------------------------------------------------

def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Live processes started (directly or not) by this one."""
    return _proc_tree(os.getpid())[1:]


def tree_cpu_s(skip: int | None = None) -> float:
    """CPU seconds of this process, the JVM and the Python workers,
    including children they have already reaped; ``skip`` leaves one
    child out."""
    total = 0
    for pid in _proc_tree(os.getpid()):
        if pid == skip:
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def peak_rss_mb(skip: int | None = None) -> dict[str, float]:
    """VmHWM in MB of this process and each live descendant but ``skip``,
    by ``name:pid``."""
    out = {}
    for pid in _proc_tree(os.getpid()):
        if pid == skip:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(
                fields["VmHWM"].split()[0]) / 1024
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# ---- per-layer probes (traced run only) -------------------------------

def _best_time(fn) -> float:
    """Fastest of 5 calls: on a shared box noise only adds time,
    and arrow.build is a difference of three such times."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return min(times)


def pcap_layers(tracer: Tracer, schema, probes: dict) -> dict:
    """Walk, dissect and Arrow-build costs, in-process on the probe
    captures: ``open_record_batches`` (record walk), ``batch_columns``
    (vectorized dissect) and ``native_arrow_batches`` (walk + dissect +
    Arrow build)."""
    from wireduck_spark.sources import native, native_vec
    from wireduck_spark.sources.pcap import native_arrow_batches

    names = [f.name for f in schema.fields]
    out: dict = {}

    def records(path):
        batches, split = native.open_record_batches(path)
        return list(batches), split

    def walk(path):
        for _ in native.open_record_batches(path)[0]:
            pass

    def dissect(recs, split):
        frame_no = 1
        for batch in recs:
            native_vec.batch_columns(batch, names, split, frame_no, False)
            frame_no += len(batch[0])

    def arrow(path):
        for _ in native_arrow_batches(schema, path):
            pass

    totals = {"pkts": 0, "walk": 0.0, "dissect": 0.0, "arrow": 0.0}
    for fmt in ("pcap", "pcapng"):
        path = probes[f"mixed.{fmt}"]
        recs, split = records(path)
        n = sum(len(b[0]) for b in recs)
        key = "classic" if fmt == "pcap" else "pcapng"
        with tracer.span(f"walk.{key}", pkts=n):
            t_walk = _best_time(lambda: walk(path))
        with tracer.span(f"dissect.mixed.{key}", pkts=n):
            t_dis = _best_time(lambda: dissect(recs, split))
        with tracer.span(f"arrow.{key}", pkts=n):
            t_arrow = _best_time(lambda: arrow(path))
        out[f"walk.{key}.us_per_pkt"] = t_walk / n * 1e6
        out[f"walk.{key}.mb_per_s"] = os.path.getsize(path) / t_walk / 1e6
        totals["pkts"] += n
        totals["walk"] += t_walk
        totals["dissect"] += t_dis
        totals["arrow"] += t_arrow
    n = totals["pkts"]
    out["dissect.us_per_pkt"] = totals["dissect"] / n * 1e6
    out["arrow.us_per_pkt"] = totals["arrow"] / n * 1e6
    out["arrow.build.us_per_pkt"] = (
        totals["arrow"] - totals["walk"] - totals["dissect"]) / n * 1e6
    for cls in ("fast", "l7", "fallback"):
        recs, split = records(probes[cls])
        n = sum(len(b[0]) for b in recs)
        with tracer.span(f"dissect.{cls}", pkts=n):
            t = _best_time(lambda: dissect(recs, split))
        out[f"dissect.{cls}.us_per_pkt"] = t / n * 1e6
    return out


def noop_scan(spark, tracer: Tracer, read, pkts: int) -> dict:
    """The JVM hand-off alone: scan the capture into Spark's no-op sink,
    with no query on top."""
    with tracer.span("scan", pkts=pkts) as rec:
        with job_group(spark, tracer, rec, "bench-scan"):
            read().write.format("noop").mode("overwrite").save()
    return {"scan.pkts_per_s": pkts / (rec["end"] - rec["start"]),
            "scan.tasks": rec["tasks"]}


# ---- box speed --------------------------------------------------------

def _calibration_loop() -> None:
    """Fixed work, about 5 ms of CPU at full speed: struct unpacking,
    integer arithmetic and dict stores, as in the program's Python side."""
    buf = bytes(range(256)) * 64
    acc, table = 0, {}
    for _ in range(16):
        for i in range(0, len(buf) - 16, 16):
            a, b, c, _d = struct.unpack_from("<IIII", buf, i)
            acc ^= a + b
            table[i & 1023] = c


def _calibrate(period: float) -> None:
    """Child process: every ``period`` seconds, on the next CPU in turn,
    time the fixed loop in CPU seconds (descheduling does not count, a
    slower CPU does). Writes [[wall time, cpu seconds], ...] to stdout
    once stdin has a line."""
    cpus = sorted(os.sched_getaffinity(0))
    samples, k = [], 0
    while not select.select([sys.stdin], [], [], period)[0]:
        os.sched_setaffinity(0, {cpus[k % len(cpus)]})
        k += 1
        t0 = time.thread_time()
        _calibration_loop()
        samples.append((time.time(), time.thread_time() - t0))
    json.dump(samples, sys.stdout)


class BoxSpeed:
    """Samples how fast this machine's CPUs run while the benchmark runs.

    Shared virtual CPUs switch between full speed and about half speed
    every second or so, independently of each other and of this program,
    and the share of slow time drifts over minutes. ``factor`` gives a
    window's mean slowdown against CAL_REF_S, the loop's CPU time at full
    speed; a time measured over the window divided by it reads as the
    time at full speed."""

    CAL_REF_S = 0.0048
    PERIOD_S = 0.2

    def __init__(self):
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(self.PERIOD_S)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.pid = self._proc.pid
        self.samples: list | None = None

    def stop(self) -> None:
        if self.samples is None:
            out, _ = self._proc.communicate("stop\n", timeout=30)
            self.samples = json.loads(out)

    def factor(self, start: float, end: float) -> float:
        """Mean slowdown in the wall-clock window [start, end]."""
        sel = [cpu for t, cpu in self.samples if start <= t <= end]
        return sum(sel) / len(sel) / self.CAL_REF_S


if __name__ == "__main__":
    _calibrate(float(sys.argv[1]))
