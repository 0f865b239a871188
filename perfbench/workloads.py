"""The three workloads: inputs, warm-up, one timed op, and its check.

- ``pcap_bulk``: per-packet cost. One op is the flagship port-pair
  aggregate plus per-``frame.protocols`` counts over two captures just
  above the 64 MiB split threshold (classic pcap and pcapng).
- ``pcap_ring``: fixed per-query cost. One op is a top-5 ``dns.qry.name``
  question against one small ring file, never the same file twice.
- ``sql_mix``: Spark execution and the driver-side builders, no pcap
  layer. One op is a pass over a fixed list of registry queries, in an
  order the seed permutes.

Every op's answer is checked; ``op`` returns the number of queries it
ran and how many of them raised or answered wrong.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import random
import traceback

import gen
from spans import Tracer, job_group

BULK_SQL = """
SELECT `tcp.srcport` AS sp, `tcp.dstport` AS dp, `frame.protocols` AS proto,
       grouping(`frame.protocols`) AS by_pair,
       count(*) AS n, sum(`tcp.len`) AS bytes
FROM bench_bulk
GROUP BY GROUPING SETS ((`tcp.srcport`, `tcp.dstport`), (`frame.protocols`))
"""
RING_SQL = """
SELECT `dns.qry.name` AS name, count(*) AS n FROM bench_ring
WHERE `dns.qry.name` IS NOT NULL
GROUP BY `dns.qry.name` ORDER BY n DESC, name ASC LIMIT 5
"""
# The ring holds a file for every op a run can make at this op time or
# slower; a faster program ends the timed window when the ring runs out,
# still after at least ``--seconds / RING_MIN_OP_S`` ops.
RING_MIN_OP_S = 0.1

# The relational list: ROADMAP targets across TPC-H, the as-of join, and
# the graph, similarity and dedup builders.
SQL_QUERIES = ("tpch_q15", "join_asof", "graph_jaccard_coshopper",
               "sim_topk_bruteforce", "dedup_minhash_lsh")


class Workload:
    name = ""
    protocols: list[str] = gen.BULK_PROTOCOLS
    # untimed ops after the warm-up, until per-op times stop falling
    # (about 4 s of ops on a 4-vCPU box)
    settle_ops = 1

    def __init__(self, work: str, seed: int, seconds: float, tracer: Tracer):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.seconds = seconds

    def generate(self) -> None:
        """Write the inputs and the expected answers (untimed)."""

    def op(self, spark, i: int) -> tuple[int, int]:
        raise NotImplementedError

    def scan_input(self) -> tuple[str | None, int]:
        """(path glob, packet count) for the traced no-op scan; None
        scans the probe captures."""
        return None, 0

    def _pcap_query(self, spark, i: int, path: str, view: str, sql: str):
        from wireduck_spark.sources.pcap import read_pcap

        tr = self.tracer
        with tr.span("op", op=i) as rec, job_group(spark, tr, rec, f"op{i}"):
            with tr.span("op.build", op=i):
                read_pcap(spark, path, protocols=self.protocols,
                          engine="native").createOrReplaceTempView(view)
                df = spark.sql(sql)
            with tr.span("op.exec", op=i):
                return df.collect()


class PcapBulk(Workload):
    name = "pcap_bulk"

    def generate(self) -> None:
        self.dir = os.path.join(self.work, "bulk")
        self.truth = gen.bulk_captures(self.dir, self.seed)
        self.packets = self.truth.packets

    def op(self, spark, i):
        try:
            rows = self._pcap_query(spark, i, os.path.join(self.dir, "bulk.*"),
                                    "bench_bulk", BULK_SQL)
        except Exception:  # a failed op is counted, not fatal
            traceback.print_exc(limit=3)
            return 1, 1
        pairs = {(r.sp, r.dp): [r.n, r.bytes] for r in rows if r.by_pair}
        protos = {r.proto: r.n for r in rows if not r.by_pair}
        ok = pairs == self.truth.pairs and protos == dict(self.truth.protocols)
        return 1, int(not ok)

    def scan_input(self):
        return os.path.join(self.dir, "bulk.*"), self.packets


class PcapRing(Workload):
    name = "pcap_ring"
    protocols = ["dns"]
    settle_ops = 6

    def generate(self) -> None:
        # warm-up, settle, then the timed ops
        n_files = (1 + self.settle_ops
                   + math.ceil(self.seconds / RING_MIN_OP_S))
        self.ring = gen.ring_captures(os.path.join(self.work, "ring"),
                                      self.seed, n_files)
        self.next_file = 0

    def op(self, spark, i):
        if self.next_file >= len(self.ring):
            raise StopIteration("ring exhausted")
        path, expected = self.ring[self.next_file]
        self.next_file += 1
        try:
            rows = self._pcap_query(spark, i, path, "bench_ring", RING_SQL)
        except Exception:
            traceback.print_exc(limit=3)
            return 1, 1
        return 1, int([(r.name, r.n) for r in rows] != expected)


class SqlMix(Workload):
    name = "sql_mix"
    settle_ops = 2

    def generate(self) -> None:
        import duckdb

        from wireduck_spark.registry import TABLES, load_all_queries

        self.sf_dir = os.path.join(self.work, "tables")
        gen.tables(self.sf_dir, self.seed)
        specs = load_all_queries()
        self.specs = [specs[q] for q in SQL_QUERIES]
        random.Random(self.seed).shuffle(self.specs)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        self.expected = {}
        for spec in self.specs:
            tbl = con.execute(spec.oracle).fetch_arrow_table()
            rows = zip(*(col.to_pylist() for col in tbl.columns))
            self.expected[spec.name] = result_hash(tbl.column_names,
                                                   list(rows))
        con.close()

    def op(self, spark, i):
        tr, failed = self.tracer, 0
        with tr.span("op", op=i) as rec:
            for spec in self.specs:
                # a query's own cache() must not carry over to the next pass
                spark.catalog.clearCache()
                failed += self._query(spark, i, spec)
        if tr.enabled:
            for key in ("jobs", "tasks", "failed_tasks"):
                rec[key] = sum(s.get(key, 0) for s in tr.spans
                               if s["op"] == i and s["name"] == "sql")
        return len(self.specs), failed

    def _query(self, spark, i, spec) -> int:
        tr = self.tracer
        try:
            with tr.span("sql", op=i, query=spec.name) as rec, \
                    job_group(spark, tr, rec, f"op{i}-{spec.name}"):
                with tr.span("op.build", op=i, query=spec.name):
                    df = spec.fn(spark, self.sf_dir)
                with tr.span("op.exec", op=i, query=spec.name):
                    rows = df.collect()
        except Exception:
            traceback.print_exc(limit=3)
            return 1
        got = result_hash(df.columns, [tuple(r) for r in rows])
        return int(got != self.expected[spec.name])


WORKLOADS = {w.name: w for w in (PcapBulk, PcapRing, SqlMix)}


def _canon(v) -> str:
    """One cell in an engine-neutral form (5.0 == 5; NaN; timestamps)."""
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        if v == int(v) and abs(v) < 2**53:
            return f"i:{int(v)}"
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return f"t:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted by their canonical cells."""
    order = sorted(range(len(columns)), key=lambda j: columns[j].lower())
    head = "|".join(columns[j].lower() for j in order)
    body = sorted("|".join(_canon(r[j]) for j in order) for r in rows)
    return hashlib.sha256("\n".join([head, *body]).encode()).hexdigest()

