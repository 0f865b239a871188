"""wireduck_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the wireduck reference (a DuckDB extension
that exposes PCAP captures as SQL tables; see /root/reference, SURVEY.md).

Architecture (Spark-first, not a port):

- ``sources/``    — the ``pcap`` Python Data Source (PySpark 4 DataSource
                    API): native libpcap dissection + optional tshark-backed
                    full dissection, glossary catalog, FT_* type mapping.
- ``operators/``  — the host-delegated relational surface (SURVEY.md §2
                    Tier B) expressed as declarative DataFrame/SQL builders,
                    each paired with a DuckDB oracle query.
- ``functions/``  — training-data-pipeline operators: dedup (exact/minhash/
                    simhash/jaccard/embedding), similarity search, text
                    analysis, multimodal column plumbing.
- ``streaming/``  — Structured Streaming analogues (watermarked windows,
                    pcap directory tailing).

Everything is built on the public PySpark 4.x API; physical execution is
delegated to Catalyst/Tungsten (AQE on, broadcast joins for small dims,
partition-count tuned via ``session.get_spark``).
"""

import os as _os
import sys as _sys

# Make this package importable inside Spark's Python WORKER processes no
# matter where the driver process was launched from. Workers inherit the
# driver's PYTHONPATH env var, not its sys.path mutations — a driver that
# did `sys.path.insert(0, repo)` from a foreign cwd (the graded driver,
# tools/driver_sim.py) can build every plan, but any query that ships a
# module-level Pandas-UDF helper (functions/multimodal.py's decode UDFs)
# then dies in the worker's unpickle with ModuleNotFoundError. Exporting
# the package parent onto PYTHONPATH at import time — which by definition
# happens before any SparkSession (and thus any worker) exists — closes
# the gap for every launch mode.
_pkg_parent = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
if _pkg_parent not in _os.environ.get("PYTHONPATH", "").split(_os.pathsep):
    _os.environ["PYTHONPATH"] = (
        _pkg_parent + _os.pathsep + _os.environ["PYTHONPATH"]
        if _os.environ.get("PYTHONPATH") else _pkg_parent
    )

from wireduck_spark.registry import QUERIES, load_all_queries
from wireduck_spark.sources.glossary import (
    check_tshark_installed,
    initialize_glossary,
)
from wireduck_spark.sources.pcap import PcapDataSource, read_pcap
from wireduck_spark.sources.pcap import register as register_pcap_source

__version__ = "0.1.0"


def init(spark) -> None:
    """One-call setup (reference `LOAD wireduck` parity, cpp:476-504):
    glossary cache + temp views, `pcap` data source registration, and the
    `check_tshark_installed()` SQL function (reference cpp:455-461 — so
    `SELECT check_tshark_installed()` works verbatim)."""
    initialize_glossary(spark)
    register_pcap_source(spark)
    from pyspark.sql.types import BooleanType

    # spark.udf.register replaces an existing registration, so this is
    # idempotent by itself; a genuine failure (broken session, py4j error)
    # must propagate — the old blanket `except Exception: pass` here could
    # leave the documented SQL function silently missing (round-2 ADVICE).
    spark.udf.register(
        "check_tshark_installed",
        lambda: check_tshark_installed(),
        BooleanType(),
    )


__all__ = [
    "QUERIES",
    "PcapDataSource",
    "check_tshark_installed",
    "init",
    "initialize_glossary",
    "load_all_queries",
    "read_pcap",
    "register_pcap_source",
    "__version__",
]


def _in_spark_worker() -> bool:
    """True in Spark's Python workers: they run as ``python -m
    pyspark.daemon`` (or ``pyspark.worker`` without the daemon), the
    planner workers as ``pyspark.daemon pyspark.sql.worker.*``. The
    driver never does."""
    spec = getattr(_sys.modules.get("__main__"), "__spec__", None)
    return (getattr(spec, "name", None) or "").startswith("pyspark.")


def _guard_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_ino, st_mtime_ns, st_size)`` changed since this process last
    read it. PySpark calls ``importlib.invalidate_caches()`` at the start
    of every Python task (pyspark/worker_util.py); stdlib then re-parses
    the whole central directory of the spark-core jar and pyspark.zip
    once per zipimporter, 0.15-0.2 s of CPU per task. Archives already
    cached are stamped now: in a worker, this task's own invalidation or
    the package's imports read them moments ago. A missing archive or a
    failed ``stat`` falls through to the stdlib method. Idempotent."""
    import zipimport

    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_stat_guarded", False):
        return
    stamps = {}

    def stamp(archive):
        st = _os.stat(archive)
        return st.st_ino, st.st_mtime_ns, st.st_size

    for archive in zipimport._zip_directory_cache:
        try:
            stamps[archive] = stamp(archive)
        except OSError:
            pass

    def invalidate_caches(self):
        try:
            now = stamp(self.archive)
        except OSError:
            return stdlib(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == now:
            self._files = files
            return
        stdlib(self)  # stamped before the read: a later write re-reads
        stamps[self.archive] = now

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _quickack(infile) -> None:
    """Have the kernel ACK what the TCP socket behind ``infile`` has
    received now, not after the delayed-ACK timer. The JVM writes a
    task's command and then its small input batch; Nagle holds that
    second segment until the first is ACKed, and Linux delays the ACK by
    up to 40 ms. Does nothing on a non-TCP socket, a non-socket fd, a
    file object without a fd, or where ``TCP_QUICKACK`` does not exist."""
    import socket
    import stat

    opt = getattr(socket, "TCP_QUICKACK", None)
    if opt is None:
        return
    try:
        fd = infile.fileno()
        # fromfd's dup leaks when its socket() fails on a non-socket fd
        if stat.S_ISSOCK(_os.fstat(fd).st_mode):
            with socket.fromfd(fd, socket.AF_INET, socket.SOCK_STREAM) as s:
                s.setsockopt(socket.IPPROTO_TCP, opt, 1)
    except (OSError, ValueError):  # no fd, or not a TCP socket
        pass


def _ack_after(read):
    """``read`` (a pyspark command reader), then ``_quickack`` its
    ``infile``; its result and its exceptions pass through unchanged."""
    import functools

    @functools.wraps(read)
    def read_then_ack(pickleSer, infile, *args):
        command = read(pickleSer, infile, *args)
        _quickack(infile)
        return command

    read_then_ack._acks = True
    return read_then_ack


def _install_worker_fixes() -> None:
    """The once-per-process fixes of a Spark Python worker; the driver
    runs none of them. Called after the package's imports, so the zip
    guard stamps the archives they opened (the shipped package zip among
    them) and the frozen heap holds them. Idempotent: each fix checks
    its own marker."""
    import gc

    _guard_zip_directories()
    # ACK each task's command as soon as it is read (_ack_after), so the
    # input batch behind it leaves the JVM at once. pyspark.worker.main
    # looks its three command readers up as module globals. The daemon
    # imports pyspark.worker before it forks a task worker; planner
    # workers (pyspark.sql.worker.*) never load it.
    worker = _sys.modules.get("pyspark.worker")
    for name in ("read_command", "read_udfs", "read_udtf"):
        read = getattr(worker, name, None)
        if read is not None and not getattr(read, "_acks", False):
            setattr(worker, name, _ack_after(read))
    # pyspark/daemon.py runs a full gc.collect() after every reused task
    # or planner call; each re-walked the ~75k import-time objects (about
    # 15 ms). Frozen, they are skipped; objects made later are collected
    # as before. Every pcap read imports the batch dissector, and with it
    # numpy, pyarrow and (through pyarrow's pandas shim) pandas; the
    # planners' glossary read loads pandas the same way. Imported first,
    # they are frozen with the rest.
    import wireduck_spark.sources.native_vec  # noqa: F401

    if not gc.get_freeze_count():
        gc.collect()
        gc.freeze()


if _in_spark_worker():
    _install_worker_fixes()
