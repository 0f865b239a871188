"""Differential pins for the r15 vectorized batch dissector.

native_vec.batch_columns must be BIT-IDENTICAL to the per-packet dict
path (native.iter_packets + per-column appends) on every fixture
capture, every schema, split reads, limits, and pcapng — the
vectorized fast path covers plain Ethernet/IPv4/TCP + header-only UDP
and everything else falls back to dissect_packet per row, so any
drift between the two paths is a bug in the fast path's masks or
merges. The reference implementation below is the pre-r15
native_arrow_batches body, kept verbatim as the differential oracle.
"""

from __future__ import annotations

import os
import struct

import pytest

from tests.pcap_fixtures import (
    build_eth_ipv4_tcp,
    build_eth_ipv4_udp,
    build_pcapng,
    dns_query_payload,
)
from tests.test_native import FIXTURE
from wireduck_spark.sources import native, synth
from wireduck_spark.sources.pcap import (
    ARROW_BATCH_ROWS,
    PcapDataSource,
    _arrow_schema,
    native_arrow_batches,
)

CACHE = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".wireduck_cache")


def dict_path_batches(schema, path, start=None, end=None, limit=None,
                      size=None):
    """The pre-r15 per-packet dict producer, verbatim — the oracle."""
    import pyarrow as pa

    aschema = _arrow_schema(schema)
    names = [f.name for f in schema.fields]

    def flush(cols):
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, aschema)],
            schema=aschema)

    cols = [[] for _ in names]
    name_cols = list(zip(names, cols))
    k = 0
    t = 0
    for fields in native.iter_packets(
            path, start, end, raw_ts=True,
            include_raw="frame.raw" in names, size=size):
        if limit is not None and t >= limit:
            break
        get = fields.get
        for name, col in name_cols:
            col.append(get(name))
        k += 1
        t += 1
        if k >= ARROW_BATCH_ROWS:
            yield flush(cols)
            cols = [[] for _ in names]
            name_cols = list(zip(names, cols))
            k = 0
    if k:
        yield flush(cols)


def _pydicts(batches):
    return [b.to_pydict() for b in batches]


def _all_captures(tmp_path, monkeypatch):
    """Every synth `*_capture` function's output plus a pcapng twin of the
    same frames, and the reference fix.pcap when it is present. The
    200k-row throughput capture is covered by the split/limit test below
    with a row cap; it is left out of the full sweep for time."""
    frames_of = {}
    write_pcap = synth.write_pcap

    def record(path, frames):
        frames_of[path] = frames
        return write_pcap(path, frames)

    monkeypatch.setattr(synth, "write_pcap", record)
    caps = []
    for name in sorted(dir(synth)):
        if not name.endswith("_capture") or name == "throughput_capture":
            continue
        path = getattr(synth, name)(str(tmp_path / f"{name}.pcap"))
        twin = path + "ng"
        with open(twin, "wb") as fh:
            fh.write(build_pcapng(frames_of[path]))
        caps += [path, twin]
    if os.path.exists(FIXTURE):
        caps.append(FIXTURE)
    return caps


@pytest.mark.parametrize("proto_opt", ["all", "tcp"])
def test_vec_matches_dict_path_on_every_capture(proto_opt, tmp_path,
                                                monkeypatch):
    for cap in _all_captures(tmp_path, monkeypatch):
        ds = PcapDataSource({"path": cap, "engine": "native",
                             "protocols": proto_opt})
        schema = ds.schema()
        size = os.path.getsize(cap)
        for a, b in ((None, None), (24, size // 2), (size // 2, size)):
            got = _pydicts(native_arrow_batches(schema, cap, a, b))
            want = _pydicts(dict_path_batches(schema, cap, a, b))
            assert got == want, \
                f"{os.path.basename(cap)} ({proto_opt}) [{a}:{b}]"


def test_vec_matches_dict_path_split_and_limit():
    cap = os.path.join(CACHE, "v22", "synth", "throughput.pcap")
    if not os.path.exists(cap):
        from wireduck_spark.sources.synth import throughput_capture

        cap = throughput_capture(cap)
    ds = PcapDataSource({"path": cap, "engine": "native",
                         "protocols": "tcp"})
    schema = ds.schema()
    size = os.path.getsize(cap)
    mid = size // 2
    for a, b in ((24, mid), (mid, size)):
        got = _pydicts(native_arrow_batches(
            schema, cap, a, b, limit=9000))
        want = _pydicts(dict_path_batches(
            schema, cap, a, b, limit=9000))
        assert got == want, f"split[{a}:{b}]"


def test_vec_matches_dict_path_pcapng(tmp_path):
    # pcapng through the same batched record walk as classic; mixes
    # fast-path TCP, header-only UDP and a fallback (DNS) row
    frames = [
        build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 40000, 80, 1, 0,
                           0x18, b"GET / HTTP/1.1\r\nHost: x\r\n\r\n"),
        build_eth_ipv4_tcp("10.0.0.2", "10.0.0.1", 80, 40000, 1, 2,
                           0x10, b""),
        build_eth_ipv4_udp("10.0.0.1", "8.8.8.8", 5000, 53,
                           dns_query_payload("www.example.com")),
    ]
    path = str(tmp_path / "mini.pcapng")
    with open(path, "wb") as fh:
        fh.write(build_pcapng([(1_700_000_000.0 + i, f)
                               for i, f in enumerate(frames)]))
    ds = PcapDataSource({"path": path, "engine": "native",
                         "protocols": "all"})
    schema = ds.schema()
    got = _pydicts(native_arrow_batches(schema, path))
    want = _pydicts(dict_path_batches(schema, path))
    assert got == want
