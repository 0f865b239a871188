"""Streaming pcap source: tail a capture directory as a Structured
Streaming source (SURVEY.md §7.6 — live capture is absent in the
reference; its README lists it as roadmap).

`PcapStreamDataSource` implements the PARTITIONED `DataSourceStreamReader`
(round-2 VERDICT #3: the previous `SimpleDataSourceStreamReader`
materialized every new file's packets into a driver-side Python list —
fine for rotating tcpdump files, a scale-killer when a 10 GB capture
lands):

- The offset is `{file -> size_at_listing}` for every file ever matched.
  `latestOffset()` only globs the directory (driver cost: one listing);
  no capture bytes are read on the driver.
- `partitions(start, end)` turns each newly-appeared file into one input
  partition — or MANY byte-range partitions for large captures, by the
  batch source's split rule (`pcap.split_ranges`) — so dissection runs
  on EXECUTORS with the same columnar Arrow emission as the batch reader.
- Sizes are frozen into the offset, so a micro-batch replayed after a
  failure re-reads exactly the same byte ranges even if a capture file
  grew in between (the reason `byte_range_partitions` takes `size=`).

Rotation contract: a file is consumed once, at the size it had when first
listed — intended for rotate-on-close directories (tcpdump -G style),
where files are complete when they appear. Bytes appended to an
already-consumed file are not re-read (same rule as Spark's own
FileStreamSource). The offset grows by one entry per file ever seen, the
same bookkeeping FileStreamSource keeps in its seen-files log.
"""

from __future__ import annotations

import glob as globmod
import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

from wireduck_spark.sources.glossary import fetch_selected_fields
from wireduck_spark.sources.pcap import native_arrow_batches, split_ranges
from wireduck_spark.sources.typemap import map_ft_type


@dataclass
class PcapStreamPartition(InputPartition):
    path: str
    start_byte: int
    end_byte: int
    # size-at-listing of the WHOLE file (not this slice): threads through
    # native_arrow_batches to open_record_batches(size=) so a batch
    # replays identically even if the capture grew after the offset was
    # recorded — reading the live size executor-side let a record that
    # straddled then-EOF appear only on the replay, and flipped unsplit
    # reads into offset-numbered ones (r12 review).
    file_size: int


class PcapStreamDataSource(DataSource):
    """Registered name: `pcap_stream`. Options: path (glob), protocols."""

    @classmethod
    def name(cls) -> str:
        return "pcap_stream"

    def schema(self) -> StructType:
        protocols = [
            p.strip()
            for p in self.options.get("protocols", "").split(",")
            if p.strip()
        ]
        return StructType(
            [
                StructField(f.filter_name, map_ft_type(f.field_type), True)
                for f in fetch_selected_fields(protocols)
            ]
        )

    def streamReader(self, schema: StructType) -> "PcapStreamReader":
        return PcapStreamReader(schema, dict(self.options))


class PcapStreamReader(DataSourceStreamReader):
    """Partitioned stream reader: driver lists files, executors dissect."""

    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.pattern = options.get("path", "")
        self._latest: dict[str, int] = {}

    # -- Offsets (driver-side, listing only) --------------------------------

    def initialOffset(self) -> dict:
        return {"files": json.dumps({})}

    def latestOffset(self) -> dict:
        seen = dict(self._latest)
        for p in globmod.glob(self.pattern):
            if p not in seen and os.path.isfile(p):
                seen[p] = os.path.getsize(p)
        self._latest = seen
        return {"files": json.dumps(seen, sort_keys=True)}

    # -- Planning ------------------------------------------------------------

    def partitions(self, start: dict, end: dict) -> list[PcapStreamPartition]:
        done = json.loads(start.get("files", "{}"))
        upto = json.loads(end.get("files", "{}"))
        parts: list[PcapStreamPartition] = []
        for path in sorted(set(upto) - set(done)):
            size = upto[path]
            ranges = split_ranges(path, size) or [(0, size)]
            parts.extend(
                PcapStreamPartition(path, start, end, size)
                for start, end in ranges
            )
        return parts

    # -- Execution (executor-side) ------------------------------------------

    def read(self, partition: PcapStreamPartition):
        yield from native_arrow_batches(
            self.schema_,
            partition.path,
            partition.start_byte,
            partition.end_byte,
            size=partition.file_size,
        )

    def commit(self, end: dict) -> None:
        pass


def register_stream(spark) -> None:
    from wireduck_spark.sources.pcap import _ship_package

    _ship_package(spark)
    try:
        spark.dataSource.register(PcapStreamDataSource)
    except Exception:
        pass


def read_pcap_stream(spark, path_glob: str, protocols: str = ""):
    register_stream(spark)
    reader = spark.readStream.format("pcap_stream")
    if protocols:
        reader = reader.option("protocols", protocols)
    return reader.load(path_glob)


def traffic_per_window(packets, window: str = "10 seconds",
                       watermark: str = "30 seconds"):
    """Watermarked tumbling traffic stats over a packet stream: packets
    and bytes per (window, protocol path) — the continuous twin of
    `pcap_scan_default`'s batch aggregate, keyed on packet CAPTURE time
    (`frame.time_epoch`), not arrival time, so replayed/late capture
    files land in the right window until the watermark closes it.

    Scale: per-window per-protocol state only; the watermark bounds it.
    """
    from pyspark.sql import functions as F

    return (
        packets.withWatermark("`frame.time_epoch`", watermark)
        .groupBy(
            F.window(F.col("`frame.time_epoch`"), window).alias("w"),
            F.col("`frame.protocols`").alias("protocols"),
        )
        .agg(
            F.count("*").alias("n_packets"),
            F.sum("`frame.len`").cast("bigint").alias("total_bytes"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "protocols",
            "n_packets",
            "total_bytes",
        )
    )


FLOWLET_STATE_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
        StructField("payload", LongType()),
    ]
)

FLOWLET_OUTPUT_SCHEMA = StructType(
    [
        StructField("stream", LongType()),
        StructField("flowlet_id", LongType()),
        StructField("n_packets", LongType()),
        StructField("payload_bytes", LongType()),
        StructField("duration_s", DoubleType()),
    ]
)

_FLOWLET_GAP_US = 5_000_000


def _flowlet_update(key, batches, state):
    """Per-stream flowlet accumulator: packets extend the open flowlet
    until a >5 s inactivity gap CLOSES it (emitted) and opens the next —
    the reference roadmap's flow-reassembly case as Spark-native state.
    State is 5 ints per live stream; closed flowlets leave state
    entirely. Emission happens only at gaps: the final open flowlet per
    stream stays in state (a timeout would finalize it in a live
    deployment — the session_tracker availableNow caveat applies)."""
    (stream,) = key
    seq, start_us, last_us, n, payload = (
        state.get if state.exists else (1, None, None, 0, 0)
    )
    out = {k: [] for k in
           ("stream", "flowlet_id", "n_packets", "payload_bytes",
            "duration_s")}
    import pandas as pd

    # A group larger than the Arrow batch size arrives as SEVERAL chunks
    # in arbitrary shuffle order; per-chunk sorting cannot restore global
    # time order for long streams (>10k packets per micro-batch), so
    # materialize the whole group and sort ONCE. Group size per
    # micro-batch is bounded by the trigger, not the capture.
    chunks = [c for c in batches if len(c)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "fno"]
        )
        for t, plen in zip(pdf["ts_us"].astype("int64"),
                           pdf["plen"].astype("int64")):
            t = int(t)
            if last_us is not None and t - last_us > _FLOWLET_GAP_US:
                out["stream"].append(stream)
                out["flowlet_id"].append(int(seq))
                out["n_packets"].append(int(n))
                out["payload_bytes"].append(int(payload))
                out["duration_s"].append(
                    round((last_us - start_us) / 1e6, 3))
                seq, start_us, n, payload = seq + 1, t, 0, 0
            if start_us is None:
                start_us = t
            last_us = t
            n += 1
            payload += int(plen)
    state.update((int(seq), int(start_us), int(last_us), int(n),
                  int(payload)))
    yield pd.DataFrame(out)


def flowlet_tracker(packets) -> "DataFrame":
    """Streaming twin of the batch pcap_flowlet_split query: NetFlow
    inactive-timeout flow accounting over the LIVE capture stream,
    keyed on the content-derived tcp.stream. Composes the partitioned
    pcap DataSourceStreamReader with applyInPandasWithState — the
    reference's roadmap item ('flow reassembly') expressed with stock
    Spark streaming state.

    Scale: state is 5 ints per ACTIVE stream (closed flowlets exit
    state at emission); the shuffle key is the 64-bit stream id.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = packets.select(
        F.col("`tcp.stream`").alias("stream"),
        F.unix_micros(F.col("`frame.time_epoch`").cast("timestamp"))
        .alias("ts_us"),
        F.col("`frame.number`").alias("fno"),
        F.col("`tcp.len`").alias("plen"),
    )
    return src.groupBy("stream").applyInPandasWithState(
        _flowlet_update,
        outputStructType=FLOWLET_OUTPUT_SCHEMA,
        stateStructType=FLOWLET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming QUIC Version-Negotiation downgrade tracker
# ---------------------------------------------------------------------------

VN_STATE_SCHEMA = StructType(
    [
        StructField("first_ft_us", LongType()),
        StructField("first_version", LongType()),
        StructField("vn_ft_us", LongType()),
        StructField("retry_version", LongType()),
        # Initial-packet (time, version) candidates buffered while no VN
        # has been seen yet, so a VN arriving in a LATER micro-batch
        # (multi-file / out-of-order stream) can still backfill the
        # retry selection. Bounded at _VN_CAND_CAP earliest entries.
        StructField("cand_ft_us", ArrayType(LongType())),
        StructField("cand_version", ArrayType(LongType())),
    ]
)

VN_OUTPUT_SCHEMA = StructType(
    [
        StructField("client", StringType()),
        StructField("first_version", LongType()),
        StructField("vn_received", LongType()),
        StructField("retry_version", LongType()),
        StructField("downgrade", LongType()),
    ]
)

_QUIC_V2 = 0x6B3343CF


def _vrank(v: int) -> int:
    # semantic version order (wire values are not ordered); unknown -> 0
    return 1 if v == 1 else 2 if v == _QUIC_V2 else 0


_VN_CAND_CAP = 32


def _vn_update(key, batches, state):
    """State per client: first-Initial (time, version), first VN arrival
    time, first post-VN retry version (-1 sentinels), plus a bounded
    buffer of Initial (time, version) candidates kept while no VN has
    been seen. The buffer lets a VN that arrives in a LATER micro-batch
    than the retry Initial (multi-file / out-of-order stream) backfill
    the retry — without it, retry_v would stay -1 forever and the final
    row would diverge from the batch pcap_quic_vn_downgrade twin.
    first/vn selections take the event-time MINIMUM across batches, so
    inter-batch disorder cannot flip them; retry locks at its first
    resolution (a VN arriving even earlier than an already-resolved
    retry keeps the resolved version — beyond the buffered window the
    stream follows first-resolution semantics). The downgrade verdict
    re-derives the batch query's rank comparison each micro-batch.
    Chunk-safe: concat all Arrow chunks, sort ONCE by capture time."""
    import pandas as pd

    (client,) = key
    first_ft, first_v, vn_ft, retry_v = -1, -1, -1, -1
    cands: list[tuple[int, int]] = []
    if state.exists:
        first_ft, first_v, vn_ft, retry_v, cft, cv = state.get
        cands = [(int(a), int(b)) for a, b in zip(cft or (), cv or ())]
    chunks = [c for c in batches if len(c)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("ft_us")
        for ft, ver, isvn in zip(
            pdf["ft_us"].astype("int64"),
            pdf["version"].astype("int64"),
            pdf["is_vn"],
        ):
            ft, ver = int(ft), int(ver)
            if isvn:
                if vn_ft < 0 or ft < vn_ft:
                    vn_ft = ft
            else:
                if first_ft < 0 or ft < first_ft:
                    first_ft, first_v = ft, ver
                if retry_v < 0:
                    cands.append((ft, ver))
    if vn_ft >= 0 and retry_v < 0:
        later = sorted(c for c in cands if c[0] > vn_ft)
        if later:
            retry_v = later[0][1]
    # Buffer hygiene: once a VN time is known, unresolved candidates are
    # all <= vn_ft and can never qualify — drop them (future Initials
    # resolve in-loop next batch). While still VN-less, keep the
    # earliest _VN_CAND_CAP candidates.
    cands = [] if vn_ft >= 0 else sorted(cands)[:_VN_CAND_CAP]
    state.update((first_ft, first_v, vn_ft, retry_v,
                  [c[0] for c in cands], [c[1] for c in cands]))
    out = []
    if first_ft >= 0:
        downgrade = int(
            vn_ft >= 0 and retry_v >= 0
            and _vrank(first_v) > 0
            and _vrank(retry_v) < _vrank(first_v)
        )
        out.append((client, first_v, int(vn_ft >= 0),
                    retry_v if retry_v >= 0 else None, downgrade))
    yield pd.DataFrame(out, columns=[f.name for f in VN_OUTPUT_SCHEMA.fields])


def vn_downgrade_tracker(packets) -> "DataFrame":
    """Streaming twin of the batch pcap_quic_vn_downgrade query over a
    live capture stream (`read_pcap_stream(..., protocols='ip,udp,quic')`):
    the VN downgrade-attack flag trips while the handshake is still in
    flight, not in tomorrow's batch scan — the always-on posture a
    security query actually wants.

    State is 4 ints per client (bounded by client cardinality, never by
    packet volume); per-packet work is one comparison chain. The final
    emitted row per client is bit-identical to the batch query's row
    (pinned by tests/test_streaming.py::test_vn_downgrade_stream_matches_batch).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Same direction gate as the batch query: Initials count only in the
    # client direction (udp.dstport == 443) — real servers also send
    # Initial packets, which would otherwise mint bogus client rows.
    q = (
        packets.filter(
            F.col("`quic.version`").isNotNull()
            & ((F.col("`quic.version`") == 0)
               | ((F.col("`quic.long.packet_type`") == 0)
                  & (F.col("`udp.dstport`") == 443)))
        )
        .select(
            F.when(F.col("`quic.version`") == 0, F.col("`ip.dst`"))
            .otherwise(F.col("`ip.src`")).alias("client"),
            F.unix_micros(F.col("`frame.time_epoch`")).alias("ft_us"),
            F.col("`quic.version`").cast("long").alias("version"),
            (F.col("`quic.version`") == 0).alias("is_vn"),
        )
    )
    return q.groupBy("client").applyInPandasWithState(
        _vn_update,
        outputStructType=VN_OUTPUT_SCHEMA,
        stateStructType=VN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
