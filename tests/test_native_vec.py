"""Differential pins for the r15 vectorized batch dissector.

native_vec.batch_columns must be BIT-IDENTICAL to the per-packet dict
path (native.iter_packets + per-column appends) on every fixture
capture, every schema, split reads, limits, and pcapng — the
vectorized path covers Ethernet with one 802.1Q tag, IPv4 and IPv6
TCP/UDP, ARP and ICMPv4, and the rows it leaves to dissect_packet
(decap ports, IPv6 extension headers, QinQ, other IP protocols) run
it per row, so any drift between the two paths is a bug in the
vectorized masks or merges. The reference implementation below is the
pre-r15 native_arrow_batches body, kept verbatim as the differential
oracle.
"""

from __future__ import annotations

import ast
import inspect
import os
import random
import socket
import struct
import textwrap

import numpy as np
import pyarrow as pa
import pytest

from tests.pcap_fixtures import (
    build_eth_ipv4_tcp,
    build_eth_ipv4_udp,
    build_pcap,
    build_pcapng,
    dns_query_payload,
)
from tests.test_native import FIXTURE
from wireduck_spark.sources import native, native_vec, synth
from wireduck_spark.sources.glossary import load_fields
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
    same frames, the edge-case capture below in both framings, and the
    reference fix.pcap when it is present. The
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
    caps += _edge_capture(tmp_path)
    if os.path.exists(FIXTURE):
        caps.append(FIXTURE)
    return caps


# every protocol the glossary knows: the full schema ("all" is not a
# protocol name, so it selects only the five default fields)
EVERY = ",".join(sorted({f.protocol_filter_name for f in load_fields()}))


@pytest.mark.parametrize("proto_opt", ["all", "tcp", EVERY],
                         ids=["all", "tcp", "every"])
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


# ---- the L7 prescreen -------------------------------------------------------

def _port_literals(fn) -> set[int]:
    """The integer literals ``fn`` compares its sport/dport against."""
    ports: set[int] = set()
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    for node in ast.walk(tree):
        if not isinstance(node, ast.Compare):
            continue
        names, consts = set(), set()
        for side in (node.left, *node.comparators):
            for e in side.elts if isinstance(side, ast.Tuple) else (side,):
                if isinstance(e, ast.Name):
                    names.add(e.id)
                elif isinstance(e, ast.Constant) and type(e.value) is int:
                    consts.add(e.value)
        if names & {"sport", "dport"}:
            ports |= consts
    return ports


def test_prescreen_ports_cover_every_chain_port_literal():
    tcp = _port_literals(native._tcp_l7)
    udp = _port_literals(native._udp_payload_chain)
    # the walk finds the chains' port tests at all
    assert {4222, 53} <= tcp
    assert {53, 443, 2152, 4789, 1900} <= udp
    tcp_gated = set(native_vec._TCP_GATED.tolist())
    assert tcp | set(native._tcp_port_probes()) <= tcp_gated
    assert udp <= set(native._UDP_GATED_PORTS) | {native_vec._QUIC_PORT}


_TRIGGERS = (
    *native._HTTP_METHODS,
    b"HTTP/1.1 200 OK\r\n\r\n",
    native._HTTP2_PREFACE + bytes.fromhex("000000040000000000"),
    # TLS records (content types 20-23, versions 3.0-3.4 and 3.5)
    *(bytes([t, 3, v, 0, 5]) + bytes(5) for t in range(20, 24)
      for v in range(6)),
    b"\x00\x01\x00\x00" + native._STUN_COOKIE + bytes(12),  # STUN
    # DTLS 1.0 and 1.2 records
    *(bytes([t]) + v + bytes(8) + b"\x00\x02" + bytes(2)
      for t in range(20, 24) for v in (b"\xfe\xff", b"\xfe\xfd")),
    # QUIC long headers: the shortest one the probe claims, and one
    # with connection ids
    b"\xc3\x00\x00\x00\x01\x00\x00",
    b"\xc3\x00\x00\x00\x01\x04abcd\x00" + bytes(8),
)


def _fuzz_payloads() -> list[bytes]:
    rng = random.Random(9)
    out = [bytes([b]) for b in range(256)]
    out += [rng.randbytes(rng.randrange(1, 5)) for _ in range(200)]
    out += [rng.randbytes(rng.randrange(5, 64)) for _ in range(100)]
    for t in _TRIGGERS:
        for cut in range(1, min(len(t), 12) + 1):
            out.append(t[:cut])
            out.append(t[:cut] + rng.randbytes(rng.randrange(1, 24)))
        out.append(t)
        for k in range(min(len(t), 8)):  # one byte of the head changed
            b = bytearray(t)
            b[k] ^= 1 << rng.randrange(8)
            out.append(bytes(b))
    return out


def _screen(screen, rows) -> np.ndarray:
    """``screen`` over [(payload, sport, dport)] rows, as batch_columns
    calls it."""
    lens = np.array([len(p) for p, _, _ in rows], np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    a = np.frombuffer(b"".join(p for p, _, _ in rows), np.uint8)
    return screen(native_vec._head(a, starts, lens), lens,
                  np.array([r[1] for r in rows]),
                  np.array([r[2] for r in rows]))


def test_prescreen_rejects_only_rows_no_probe_claims():
    ports = (set(native_vec._TCP_GATED.tolist()) | native._UDP_GATED_PORTS
             | {443, 80, 8080, 5001, 40000, 1, 65535})
    rows = [(p, sp, dp) for port in sorted(ports)
            for sp, dp in ((port, 40001), (40001, port))
            for p in _fuzz_payloads()]
    for screen, kind in ((native_vec._tcp_candidates, "tcp"),
                         (native_vec._udp_candidates, "udp")):
        keep = _screen(screen, rows)
        rejected = [r for r, c in zip(rows, keep.tolist()) if not c]
        assert len(rejected) > 10_000, kind  # the screen does reject
        for payload, sp, dp in rejected:
            fields: dict = {}
            if kind == "tcp":
                label = native._tcp_l7(payload, sp, dp, fields)
            else:
                tail: list = []
                native._udp_payload_chain(bytes(8) + payload, 0, payload,
                                          sp, dp, tail, fields)
                label = tail or None
            assert label is None and not fields, (kind, payload, sp, dp)


# ---- edge-case differential -------------------------------------------------

_ETH = bytes(6) + bytes([2, 0, 0, 0, 0, 1]) + b"\x08\x00"


def _l2(ethertype: int, tags=()) -> bytes:
    """An Ethernet header with one 802.1Q header per TCI in ``tags``."""
    return _ETH[:12] + b"".join(struct.pack(">HH", 0x8100, tci)
                                for tci in tags) \
        + struct.pack(">H", ethertype)


def _ip4(src: str, dst: str, proto: int, l4: bytes, ip_len: int,
         tags=()) -> bytes:
    return _l2(0x0800, tags) + struct.pack(
        ">BBHHHBBH4s4s", 0x45, 0, ip_len, 1, 0, 64, proto, 0,
        socket.inet_aton(src), socket.inet_aton(dst)) + l4


def _ip6(src: str, dst: str, next_hdr: int, l4: bytes, tags=(),
         plen=None) -> bytes:
    return _l2(0x86DD, tags) + struct.pack(
        ">IHBB16s16s", 6 << 28, len(l4) if plen is None else plen,
        next_hdr, 64, socket.inet_pton(socket.AF_INET6, src),
        socket.inet_pton(socket.AF_INET6, dst)) + l4


def _tcp_l4(sport, dport, payload, options=b"", flags=0x18, data_off=None):
    doff = 20 + len(options) if data_off is None else data_off
    return struct.pack(">HHIIBBHHH", sport, dport, 7, 9, (doff // 4) << 4,
                       flags, 8192, 0, 0) + options + payload


def _udp_l4(sport, dport, payload, length=None):
    ulen = 8 + len(payload) if length is None else length
    return struct.pack(">HHHH", sport, dport, ulen, 0) + payload


def _tcp(src, dst, sport, dport, payload, options=b"", flags=0x18,
         data_off=None, tags=()):
    l4 = _tcp_l4(sport, dport, payload, options, flags, data_off)
    return _ip4(src, dst, 6, l4, 20 + len(l4), tags)


def _udp(src, dst, sport, dport, payload, length=None, tags=()):
    l4 = _udp_l4(sport, dport, payload, length)
    return _ip4(src, dst, 17, l4, 20 + len(l4), tags)


def _icmp(src, dst, icmp_type, rest: bytes, tags=()):
    l4 = struct.pack(">BBH", icmp_type, 0, 0xBEEF) + rest
    return _ip4(src, dst, 1, l4, 20 + len(l4), tags)


def _arp(opcode, sip, tip, hlen=6, plen=4, tags=()):
    return _l2(0x0806, tags) + struct.pack(
        ">HHBBH", 1, 0x0800, hlen, plen, opcode) \
        + bytes([2, 0, 0, 0, 0, 9]) + socket.inet_aton(sip) \
        + bytes(6) + socket.inet_aton(tip)


def _edge_frames() -> list[bytes]:
    opts = (b"\x02\x04\x05\xb4\x01\x03\x03\x07"
            b"\x04\x02\x00\x00")  # MSS, NOP + window scale, SACK-perm
    http = b"GET /x HTTP/1.1\r\nHost: h\r\n\r\n"
    hello = synth.tls_client_hello("edge.example", curves=(0x1d,),
                                   ec_formats=(0,))
    quic_long = b"\xc3\x00\x00\x00\x01\x04abcd\x02xy" + bytes(20)
    quic_short = b"\x43" + bytes(40)
    frames = []
    # TCP payloads of 1-4 bytes, some the start of a probe's magic
    for p in (b"G", b"GE", b"GET", b"GET ", b"\x16", b"\x16\x03\x01",
              b"PRI ", b"zz", b"\x00\x00\x00\x00"):
        frames.append(_tcp("10.0.0.1", "10.0.0.2", 40000, 5001, p))
    # snaplen-truncated payloads: tcp.len > the bytes captured
    for p, cut in ((http, 70), (hello, 80), (bytes(range(200)), 60),
                   (b"abcdef", 54), (b"abcdef", 56)):
        frames.append(_tcp("10.0.0.3", "10.0.0.4", 40001, 80, p)[:cut])
    # TCP options plus a payload (and options alone)
    frames += [
        _tcp("10.0.0.5", "10.0.0.6", 40002, 5001, http, opts),
        _tcp("10.0.0.5", "10.0.0.6", 40002, 5001, b"opaque data", opts),
        _tcp("10.0.0.5", "10.0.0.6", 40002, 5001, b"", opts, flags=0x02),
        # a data offset past the captured bytes, and one below 20
        _tcp("10.0.0.5", "10.0.0.6", 40002, 5001, b"", data_off=60),
        _tcp("10.0.0.5", "10.0.0.6", 40002, 5001, b"abc", data_off=8),
    ]
    # equal source and destination IPs (both port orders, equal ports)
    for sp, dp in ((1000, 2000), (2000, 1000), (3000, 3000)):
        frames.append(_tcp("10.9.9.9", "10.9.9.9", sp, dp, b"same host"))
        frames.append(_udp("10.9.9.9", "10.9.9.9", sp, dp, b"same host"))
    # IPs whose string order and numeric order differ
    for src, dst in (("10.0.0.9", "10.0.0.10"), ("10.0.0.10", "10.0.0.9"),
                     ("9.0.0.1", "10.0.0.1"), ("10.0.0.100", "10.0.0.2")):
        frames.append(_tcp(src, dst, 5555, 6666, b"order"))
        frames.append(_tcp(src, dst, 5555, 6666, b""))
        frames.append(_udp(src, dst, 5555, 6666, b"order"))
    # UDP length fields below 8 (negative Len=) and past the capture
    for length in (0, 4, 7, 8, 200):
        frames.append(_udp("10.0.1.1", "10.0.1.2", 7000, 7001,
                           b"\x16\xfe\xfd" + bytes(12), length))
    # UDP/443: QUIC long and short headers, both directions
    for p in (quic_long, quic_short, quic_long[:6], b"\xc0",
              b"\xc0\x00\x00\x00\x01\x00\x00"):
        frames.append(_udp("10.0.2.1", "10.0.2.2", 50000, 443, p))
        frames.append(_udp("10.0.2.2", "10.0.2.1", 443, 50000, p))
    # STUN and DTLS on ephemeral ports, Ethernet trailer padding
    frames += [
        _udp("10.0.3.1", "10.0.3.2", 50001, 50002,
             b"\x00\x01\x00\x00" + native._STUN_COOKIE + bytes(12)),
        _udp("10.0.3.1", "10.0.3.2", 50001, 50002,
             b"\x17\xfe\xfd" + bytes(8) + b"\x00\x02ab"),
        _tcp("10.0.3.1", "10.0.3.2", 50001, 50002, b"", flags=0x10)
        + bytes(6),
        _udp("10.0.3.1", "10.0.3.2", 50001, 50002, b"hi") + bytes(16),
    ]
    # 802.1Q: IPv4 TCP with an L7 label and with options, UDP, ARP,
    # ICMP, an unknown inner ethertype, a short inner IPv4 header and a
    # tagged frame too short for its tag
    frames += [
        _tcp("10.0.4.1", "10.0.4.2", 40003, 80, http, tags=(0x2064,)),
        _tcp("10.0.4.1", "10.0.4.2", 40003, 5001, b"x", opts,
             tags=(0xE005,)),
        _udp("10.0.4.1", "10.0.4.2", 5000, 53,
             dns_query_payload("vlan.example"), tags=(7,)),
        _udp("10.0.4.2", "10.0.4.1", 6000, 7000, b"bulk" * 8, tags=(7,)),
        _arp(1, "10.0.4.1", "10.0.4.254", tags=(7,)),
        _icmp("10.0.4.1", "10.0.4.2", 8, b"\x00\x07\x00\x01", tags=(7,)),
        _l2(0x88B5, (7,)) + b"opaque",
        _l2(0x0800, (7,)) + bytes(12),
        _l2(0x0800, (7,))[:16],
    ]
    # IPv6: TCP with an L7 label, with options, with a payload length
    # under the segment and cut short; UDP with and without an L7
    # label; the same host on both ends; VLAN+IPv6; a truncated IPv6
    # header; an extension header, ICMPv6 and a no-next-header packet
    v6a, v6b = "2001:db8::1", "2001:db8:0:1::a"
    frames += [
        _ip6(v6a, v6b, 6, _tcp_l4(40010, 443, hello)),
        _ip6(v6b, v6a, 6, _tcp_l4(443, 40010, b"", flags=0x10)),
        _ip6(v6a, v6b, 6, _tcp_l4(40011, 5001, b"opaque", opts)),
        _ip6(v6a, v6b, 6, _tcp_l4(40012, 5001, b"abcdef"), plen=22),
        _ip6(v6a, v6b, 6, _tcp_l4(40013, 5001, b"")[:12]),
        _ip6(v6a, "fe80::2", 17, _udp_l4(5000, 53,
                                        dns_query_payload("v6.example"))),
        _ip6("fe80::2", v6a, 17, _udp_l4(7000, 7001, b"v6 bulk")),
        _ip6(v6a, v6a, 17, _udp_l4(7001, 7000, b"same host")),
        _ip6(v6a, v6b, 6, _tcp_l4(40014, 80, http), tags=(0x0005,)),
        _ip6(v6a, v6b, 17, _udp_l4(7000, 7001, b"tagged"), tags=(5,)),
        _ip6(v6a, v6b, 6, _tcp_l4(40015, 80, b""))[:14 + 30],
        _ip6(v6a, v6b, 6, b"", tags=(5,))[:18 + 39],
        _ip6(v6a, v6b, 0, bytes([6, 0]) + bytes(6)
             + _tcp_l4(40016, 5001, b"behind hop-by-hop")),
        _ip6(v6a, v6b, 58, bytes([128, 0, 0, 0, 0, 1, 0, 1])),
        _ip6(v6a, v6b, 59, b"nothing"),
    ]
    # QinQ: a second 802.1Q tag inside the first
    frames += [
        _tcp("10.0.5.1", "10.0.5.2", 40020, 80, http, tags=(0x0064, 0x0005)),
        _l2(0x0806, (1, 2)) + bytes(28),
    ]
    # ARP: request, reply, another opcode, a non-IPv4 ARP and one cut
    # short of its addresses
    frames += [
        _arp(1, "10.0.6.1", "10.0.6.254"),
        _arp(2, "10.0.6.254", "10.0.6.1"),
        _arp(3, "10.0.6.1", "10.0.6.2"),
        _arp(1, "10.0.6.1", "10.0.6.2", plen=16),
        _arp(1, "10.0.6.1", "10.0.6.2")[:14 + 20],
    ]
    # ICMPv4: echo request and reply, the other named types, an unnamed
    # one, an echo without room for its identifier and a cut header
    frames += [
        _icmp("10.0.7.1", "10.0.7.2", 8, b"\x12\x34\x00\x01ping"),
        _icmp("10.0.7.2", "10.0.7.1", 0, b"\x12\x34\x00\x01ping"),
        _icmp("10.0.7.1", "10.0.7.2", 3, bytes(4)),
        _icmp("10.0.7.1", "10.0.7.2", 11, bytes(4)),
        _icmp("10.0.7.1", "10.0.7.2", 13, bytes(4)),
        _icmp("10.0.7.1", "10.0.7.2", 8, b"\x12\x34"),
        _icmp("10.0.7.1", "10.0.7.2", 8, b"")[:14 + 20 + 3],
    ]
    return frames


def _edge_capture(tmp_path) -> list[str]:
    """The rows the columnar dissector must get exactly right, as a
    classic capture and its pcapng twin."""
    frames = [(1_700_000_000.0 + i / 8, f)
              for i, f in enumerate(_edge_frames())]
    classic = str(tmp_path / "edge.pcap")
    synth.write_pcap(classic, frames)
    ng = str(tmp_path / "edge.pcapng")
    with open(ng, "wb") as fh:
        fh.write(build_pcapng(frames))
    return [classic, ng]


def test_hex_columns_past_the_string_offset_limit_go_row_by_row(
        tmp_path, monkeypatch):
    cap = _edge_capture(tmp_path)[0]
    schema = PcapDataSource({"path": cap, "engine": "native",
                             "protocols": EVERY}).schema()
    names = [f.name for f in schema.fields]
    want = _pydicts(dict_path_batches(schema, cap))

    def hex_cols():
        batches, split = native.open_record_batches(cap)
        cols = native_vec.batch_columns(next(batches), names, split, 1,
                                        True)
        return cols["tcp.payload"], cols["frame.raw"]

    assert all(isinstance(c, pa.Array) for c in hex_cols())
    monkeypatch.setattr(native_vec, "_MAX_STRING_BYTES", 64)
    assert all(isinstance(c, np.ndarray) for c in hex_cols())
    assert _pydicts(native_arrow_batches(schema, cap)) == want


def test_classic_pcap_writers_share_one_encoder(tmp_path):
    frames = [(1_700_000_000.25, b"\x01" * 60), (1_700_000_001.5, b"")]
    path = synth.write_pcap(str(tmp_path / "w.pcap"), frames)
    with open(path, "rb") as fh:
        assert fh.read() == build_pcap(frames) == synth.pcap_bytes(frames)
    hdr = struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 262144, 1)
    assert synth.pcap_bytes(frames).startswith(hdr + struct.pack(
        "<IIII", 1_700_000_000, 250_000, 60, 60))
    ns = build_pcap(frames, nanos=True, snaplen=96)
    assert ns.startswith(struct.pack("<IHHiIII", 0xA1B23C4D, 2, 4, 0, 0,
                                     96, 1) + struct.pack(
        "<IIII", 1_700_000_000, 250_000_000, 60, 60))
