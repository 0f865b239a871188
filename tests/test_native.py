"""Native libpcap dissector: synthetic fixtures + the reference's real
fix.pcap with its README golden aggregate."""

import os

import pytest

from tests.pcap_fixtures import (
    build_eth_arp, build_eth_ipv4_icmp, build_eth_ipv4_tcp,
    build_eth_ipv4_udp, build_pcap, build_pcapng, dns_query_payload,
    two_flow_pcap,
)
from wireduck_spark.sources.native import (
    byte_range_partitions, is_pcapng, iter_packets, read_global_header,
    stream_id,
)

FIXTURE = "/root/reference/fix.pcap"


@pytest.fixture()
def pcap_file(tmp_path):
    p = tmp_path / "two_flow.pcap"
    p.write_bytes(two_flow_pcap())
    return str(p)


def test_global_header_variants(tmp_path):
    us = build_pcap([(1.0, b"x" * 20)])
    ns = build_pcap([(1.0, b"x" * 20)], nanos=True)
    assert read_global_header(us).ts_divisor == 1_000_000
    assert read_global_header(ns).ts_divisor == 1_000_000_000
    with pytest.raises(ValueError):
        read_global_header(b"\x00" * 24)


def test_dissection(pcap_file):
    pkts = list(iter_packets(pcap_file))
    assert len(pkts) == 4
    p1, p2, p3, p4 = pkts
    assert p1["frame.number"] == 1
    assert p1["frame.protocols"] == "eth:ethertype:ip:tcp"
    assert p1["tcp.flags.syn"] is True and p1["tcp.flags.ack"] is False
    assert p1["tcp.len"] == 0
    assert p2["tcp.len"] == 5
    assert p2["tcp.flags.syn"] is True and p2["tcp.flags.ack"] is True
    assert p3["tcp.len"] == 7
    assert p3["tcp.payload"] == b"goodbye".hex()
    # content-derived stream id: same conversation -> same id, both
    # directions, partition-invariant (deviation from tshark's ordinal)
    assert p1["tcp.stream"] == p2["tcp.stream"] == p3["tcp.stream"]
    assert p1["tcp.stream"] == stream_id("10.0.0.1", 1111, "10.0.0.2", 80)
    assert p1["tcp.stream"] == stream_id("10.0.0.2", 80, "10.0.0.1", 1111)
    assert p4["frame.protocols"] == "eth:ethertype:ip:udp"
    assert p4["udp.srcport"] == 5353 and p4["udp.dstport"] == 53
    assert p4["udp.length"] == 12
    assert p1["ip.src"] == "10.0.0.1" and p1["ip.dst"] == "10.0.0.2"
    # sub-second timestamps preserved
    assert p2["frame.time_epoch"].microsecond == 500000


def test_nanosecond_timestamps(tmp_path):
    f = build_eth_ipv4_tcp("1.1.1.1", "2.2.2.2", 1, 2, 0, 0, 0x10, b"")
    p = tmp_path / "ns.pcap"
    p.write_bytes(build_pcap([(123.000000456, f)], nanos=True))
    pkt = next(iter_packets(str(p)))
    assert pkt["frame.time_epoch"].microsecond == 0  # 456ns truncates to 0us


def test_byte_range_splitting(pcap_file):
    """Fixed byte-range plan + executor-side resync: every packet lands in
    exactly one slice, for ANY split count, and per-flow aggregates match
    the unsplit read (partition-invariant tcp.stream)."""
    whole = list(iter_packets(pcap_file))

    def flow_stats(pkts):
        out = {}
        for p in pkts:
            s = p.get("tcp.stream")
            if s is not None:
                c, b = out.get(s, (0, 0))
                out[s] = (c + 1, b + p["tcp.len"])
        return out

    size = os.path.getsize(pcap_file)
    for n_splits in (1, 2, 3, 5, 16):
        parts = byte_range_partitions(pcap_file, n_splits)
        assert parts[0][0] == 24 and parts[-1][1] == size
        pkts = [p for s, e in parts for p in iter_packets(pcap_file, s, e)]
        assert len(pkts) == len(whole)
        # same packets, same order when concatenated in range order
        assert [p["frame.len"] for p in pkts] == [
            p["frame.len"] for p in whole
        ]
        assert flow_stats(pkts) == flow_stats(whole)


def test_split_survives_glitched_first_timestamp(tmp_path):
    """A first record with valid lengths but ts_sec=0 (a real-world capture
    artifact) must NOT poison the resync timestamp anchor: every genuine
    record in later byte-range slices is still recovered (round-3 ADVICE —
    the old file-head anchor was validated on lengths only, so each
    non-first slice silently dropped all its records)."""
    from tests.pcap_fixtures import build_eth_ipv4_tcp, build_pcap

    frames = [(0.0 if i == 0 else 1_700_000_000.0 + i,
               build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, i, 0,
                                  0x18, b"x" * (40 + i)))
              for i in range(12)]
    p = tmp_path / "glitch.pcap"
    p.write_bytes(build_pcap(frames))
    whole = list(iter_packets(str(p)))
    assert len(whole) == 12
    size = os.path.getsize(str(p))
    for n_slices in (2, 3, 5):
        step = max((size - 24) // n_slices, 32)
        bounds = [24] + list(range(24 + step, size, step)) + [size]
        got = [pkt for s, e in zip(bounds, bounds[1:])
               for pkt in iter_packets(str(p), s, e)]
        assert len(got) == len(whole), (
            f"{n_slices} slices dropped {len(whole) - len(got)} records"
        )
        assert [f["frame.len"] for f in got] == [f["frame.len"] for f in whole]


def test_split_plan_reads_nothing(pcap_file, monkeypatch):
    """The partition plan must never read the capture on the driver
    (round-1 scale-killer: a full driver-side header walk). Only
    os.path.getsize is consulted."""
    import builtins

    real_open = builtins.open

    def deny_open(path, *a, **k):
        if str(path) == pcap_file:
            raise AssertionError("partition planning opened the capture")
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", deny_open)
    parts = byte_range_partitions(pcap_file, 4)
    assert len(parts) >= 1


def test_arp_dissection(tmp_path):
    req = build_eth_arp(1, b"\xaa\xbb\xcc\x00\x00\x01", "192.168.1.10",
                        bytes(6), "192.168.1.1")
    rep = build_eth_arp(2, b"\xaa\xbb\xcc\x00\x00\x02", "192.168.1.1",
                        b"\xaa\xbb\xcc\x00\x00\x01", "192.168.1.10")
    p = tmp_path / "arp.pcap"
    p.write_bytes(build_pcap([(1.0, req), (1.1, rep)]))
    a, b = list(iter_packets(str(p)))
    assert a["frame.protocols"] == "eth:ethertype:arp"
    assert a["arp.opcode"] == 1 and b["arp.opcode"] == 2
    assert a["arp.src.proto_ipv4"] == "192.168.1.10"
    assert a["arp.dst.proto_ipv4"] == "192.168.1.1"
    assert "Who has 192.168.1.1?" in a["_ws.col.info"]
    assert "192.168.1.1 is at aa:bb:cc:00:00:02" == b["_ws.col.info"]


def test_icmp_dissection(tmp_path):
    echo = build_eth_ipv4_icmp("10.0.0.1", "8.8.8.8", 8, 0, 77, 3)
    reply = build_eth_ipv4_icmp("8.8.8.8", "10.0.0.1", 0, 0, 77, 3)
    p = tmp_path / "icmp.pcap"
    p.write_bytes(build_pcap([(1.0, echo), (1.05, reply)]))
    a, b = list(iter_packets(str(p)))
    assert a["frame.protocols"] == "eth:ethertype:ip:icmp"
    assert a["icmp.type"] == 8 and b["icmp.type"] == 0
    assert a["icmp.ident"] == 77 and a["icmp.seq"] == 3
    assert a["_ws.col.info"] == "Echo (ping) request"


def test_dns_dissection(tmp_path):
    q = build_eth_ipv4_udp("10.0.0.1", "8.8.8.8", 40000, 53,
                           dns_query_payload("example.com", 28, 0xBEEF))
    p = tmp_path / "dns.pcap"
    p.write_bytes(build_pcap([(1.0, q)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["frame.protocols"] == "eth:ethertype:ip:udp:dns"
    assert pkt["dns.id"] == 0xBEEF
    assert pkt["dns.flags.response"] is False
    assert pkt["dns.count.queries"] == 1
    assert pkt["dns.qry.name"] == "example.com"
    assert pkt["dns.qry.type"] == 28
    assert "Standard query 0xbeef example.com" == pkt["_ws.col.info"]


def test_http_dissection(tmp_path):
    req = build_eth_ipv4_tcp("10.0.0.1", "93.184.216.34", 50000, 80, 1, 1,
                             0x18, b"GET /index.html HTTP/1.1\r\nHost: x\r\n")
    resp = build_eth_ipv4_tcp("93.184.216.34", "10.0.0.1", 80, 50000, 1, 30,
                              0x18, b"HTTP/1.1 404 Not Found\r\n\r\n")
    p = tmp_path / "http.pcap"
    p.write_bytes(build_pcap([(1.0, req), (1.2, resp)]))
    a, b = list(iter_packets(str(p)))
    assert a["frame.protocols"].endswith("tcp:http")
    assert a["http.request.method"] == "GET"
    assert a["http.request.uri"] == "/index.html"
    assert b["http.response.code"] == 404
    assert b["http.response.phrase"] == "Not Found"


def test_pcapng_reading(tmp_path):
    """Same packets through pcapng framing == classic framing (the native
    engine hard-rejected pcapng in round 1; Wireshark writes it by
    default since 1.8)."""
    f1 = build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, 100, 0, 0x02,
                            b"")
    f2 = build_eth_ipv4_udp("10.0.0.3", "10.0.0.4", 5353, 53, b"dns?")
    frames = [(1700000000.25, f1), (1700000001.0, f2)]
    png = tmp_path / "cap.pcapng"
    png.write_bytes(build_pcapng(frames))
    classic = tmp_path / "cap.pcap"
    classic.write_bytes(build_pcap(frames))
    assert is_pcapng(str(png)) and not is_pcapng(str(classic))
    got = list(iter_packets(str(png)))
    want = list(iter_packets(str(classic)))
    assert len(got) == 2
    for g, w in zip(got, want):
        assert g == w  # identical dissection incl. us timestamps


def test_truncated_and_garbage_captures(tmp_path):
    """Corrupt inputs degrade gracefully (per-cell-null philosophy at the
    file level): truncated record -> stop after the good packets; garbage
    payload bytes -> a frame row with NULL protocol fields, no exception."""
    f1 = build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 1, 2, b"ok")
    good = build_pcap([(1700000000.0, f1), (1700000001.0, f1)])

    truncated = tmp_path / "trunc.pcap"
    truncated.write_bytes(good[:-10])  # second record's body cut short
    pkts = list(iter_packets(str(truncated)))
    assert len(pkts) == 1 and pkts[0]["udp.srcport"] == 1

    garbage = tmp_path / "garbage.pcap"
    garbage.write_bytes(build_pcap([(1700000000.0, b"\xde\xad\xbe\xef" * 5)]))
    [pkt] = list(iter_packets(str(garbage)))
    assert pkt["frame.len"] == 20
    assert pkt.get("udp.srcport") is None

    empty = tmp_path / "empty.pcap"
    empty.write_bytes(build_pcap([]))
    assert list(iter_packets(str(empty))) == []

    import pytest as _pytest
    notpcap = tmp_path / "not.pcap"
    notpcap.write_bytes(b"this is not a capture file at all..")
    with _pytest.raises(ValueError):
        list(iter_packets(str(notpcap)))


def test_dns_answer_dissection(tmp_path):
    """A-record answers: resolved address, CNAME chain, min TTL."""
    import struct as st

    q = b"\x07example\x03com\x00" + st.pack(">HH", 1, 1)
    # response: qd=1 an=2 — CNAME then A (classic chain), name via pointer
    hdr = st.pack(">HHHHHH", 0xBEEF, 0x8180, 1, 2, 0, 0)
    cname_rd = b"\x03www\x07example\x03com\x00"
    ans1 = b"\xc0\x0c" + st.pack(">HHIH", 5, 1, 300, len(cname_rd)) + cname_rd
    ans2 = b"\xc0\x0c" + st.pack(">HHIH", 1, 1, 60, 4) + bytes([93, 184, 216, 34])
    payload = hdr + q + ans1 + ans2
    frame = build_eth_ipv4_udp("1.1.1.1", "10.0.0.1", 53, 40000, payload)
    p = tmp_path / "dnsresp.pcap"
    p.write_bytes(build_pcap([(1700000000.0, frame)]))
    [pkt] = list(iter_packets(str(p)))
    assert pkt["dns.flags.response"] is True
    assert pkt["dns.qry.name"] == "example.com"
    assert pkt["dns.a"] == "93.184.216.34"
    assert pkt["dns.cname"] == "www.example.com"
    assert pkt["dns.resp.ttl"] == 60
    assert pkt["dns.count.answers"] == 2


def test_ipv6_icmpv6_vlan_dissection(tmp_path):
    """IPv6 addresses, ICMPv6 type, and 802.1Q VLAN de-encapsulation."""
    from tests.pcap_fixtures import (
        build_eth_ipv6_icmpv6, build_eth_ipv6_udp, build_vlan_ipv4_tcp,
    )

    src16 = bytes.fromhex("20010db8000000000000000000000001")
    dst16 = bytes.fromhex("20010db8000000000000000000000002")
    frames = [
        (1700000000.0, build_eth_ipv6_udp(src16, dst16, 5000, 53, b"q")),
        (1700000000.1, build_eth_ipv6_icmpv6(src16, dst16, 128)),
        (1700000000.2, build_vlan_ipv4_tcp(42, "10.0.0.1", "10.0.0.2",
                                           4444, 443)),
    ]
    p = tmp_path / "v6vlan.pcap"
    p.write_bytes(build_pcap(frames))
    pkts = list(iter_packets(str(p)))
    assert pkts[0]["ipv6.src"] == "2001:db8:0:0:0:0:0:1"
    assert pkts[0]["ipv6.dst"] == "2001:db8:0:0:0:0:0:2"
    assert pkts[0]["udp.dstport"] == 53
    assert "ipv6" in pkts[0]["frame.protocols"]
    assert pkts[1]["icmpv6.type"] == 128
    assert "icmpv6" in pkts[1]["frame.protocols"]
    assert pkts[2]["tcp.dstport"] == 443 and pkts[2]["tcp.flags.syn"] is True
    assert "vlan" in pkts[2]["frame.protocols"]
    assert pkts[2]["ip.src"] == "10.0.0.1"


def test_pcapng_byte_range_split_invariance(tmp_path):
    """Byte-range slices of one pcapng capture see every packet exactly
    once (EPB-marker resync), matching the whole-file read — the same
    contract the classic reader has."""
    frames = [
        (1700000000.0 + i * 0.001,
         build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 1000 + i % 7, 53,
                            bytes([i % 251]) * (i % 100)))
        for i in range(500)
    ]
    png = tmp_path / "big.pcapng"
    png.write_bytes(build_pcapng(frames))
    size = os.path.getsize(png)

    whole = {
        (p["frame.time_epoch"], p["udp.srcport"], p["frame.len"])
        for p in iter_packets(str(png))
    }
    assert len(whole) == 500

    got = []
    for start, end in byte_range_partitions(str(png), 7):
        got.extend(
            (p["frame.time_epoch"], p["udp.srcport"], p["frame.len"])
            for p in iter_packets(str(png), start, end)
        )
    assert len(got) == 500  # no duplicates across slices
    assert set(got) == whole
    assert byte_range_partitions(str(png), 7)[-1][1] == size


@pytest.mark.skipif(not os.path.exists(FIXTURE), reason="fixture not present")
def test_fixture_golden_aggregate():
    """The reference README.md:160-167 golden result, reproduced without
    tshark: (429, 259678) for 11001->53867 and (56, 19702) reversed."""
    agg = {}
    n = 0
    for pkt in iter_packets(FIXTURE):
        n += 1
        if "tcp.srcport" in pkt:
            key = (pkt["tcp.srcport"], pkt["tcp.dstport"])
            c, s = agg.get(key, (0, 0))
            agg[key] = (c + 1, s + pkt["tcp.len"])
    assert n == 485
    assert agg[(11001, 53867)] == (429, 259678)
    assert agg[(53867, 11001)] == (56, 19702)
    # single loopback session -> one tcp stream (content-derived id)
    streams = {p["tcp.stream"] for p in iter_packets(FIXTURE)
               if "tcp.stream" in p}
    assert len(streams) == 1


def test_snaplen_tightens_resync_cap(tmp_path):
    """A declared small snaplen becomes the resync plausibility cap: split
    invariance holds on a snaplen-64 capture (every record <= 64 bytes)."""
    frames = [
        (1700000000.0 + i, build_eth_ipv4_udp("10.0.0.1", "10.0.0.2",
                                              1000 + i, 53, b"x")[:60])
        for i in range(40)
    ]
    p = tmp_path / "snap64.pcap"
    p.write_bytes(build_pcap(frames, snaplen=64))
    whole = list(iter_packets(str(p)))
    assert len(whole) == 40
    pkts = [
        pk
        for s, e in byte_range_partitions(str(p), 4)
        for pk in iter_packets(str(p), s, e)
    ]
    assert [pk["frame.len"] for pk in pkts] == [
        pk["frame.len"] for pk in whole
    ]


def test_huge_snaplen_falls_back_to_unsplit(tmp_path):
    """snaplen beyond the 1 MiB sane resync cap: byte-range slices fall
    back to one unsplit read — the first slice owns every packet, the
    others own none, and nothing is silently dropped (round-2 ADVICE)."""
    frames = [
        (1700000000.0 + i,
         build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, i, 0, 0x10,
                            b"p" * 100))
        for i in range(25)
    ]
    p = tmp_path / "bigsnap.pcap"
    p.write_bytes(build_pcap(frames, snaplen=8 * 1024 * 1024))
    whole = list(iter_packets(str(p)))
    assert len(whole) == 25
    parts = byte_range_partitions(str(p), 4)
    assert len(parts) > 1
    per_slice = [list(iter_packets(str(p), s, e)) for s, e in parts]
    assert len(per_slice[0]) == 25  # first slice reads the whole file
    assert all(len(sl) == 0 for sl in per_slice[1:])


def test_classic_resync_scans_past_first_window(tmp_path):
    """A >4 MiB run of non-record bytes between the split start and the
    first real record must not yield an empty slice: the resync walks
    window-by-window to the boundary (round-2 ADVICE)."""
    import struct as _struct

    from wireduck_spark.sources.native import read_global_header, resync_offset

    frames = [
        (1700000000.0 + i,
         build_eth_ipv4_udp("10.0.0.9", "10.0.0.8", 999, 53, b"q"))
        for i in range(3)
    ]
    tail = build_pcap(frames)[24:]  # records only
    header = build_pcap([])[:24]
    gap = bytes(5 * 1024 * 1024)  # zeros never chain-validate (caplen==0)
    blob = header + gap + tail
    p = tmp_path / "gap.pcap"
    p.write_bytes(blob)
    info = read_global_header(header)
    with open(p, "rb") as fh:
        off = resync_offset(fh, info, 30, len(blob))
    assert off == 24 + len(gap)


def test_pcapng_spb_split_invariance(tmp_path):
    """SPB-only pcapng (no timestamps) survives byte-range splitting: the
    resync accepts SPB markers too (round-2 ADVICE: EPB-only matching
    dropped every packet in non-first slices)."""
    frames = [
        (0.0, build_eth_ipv4_tcp("10.1.0.1", "10.1.0.2", 5000 + i, 80,
                                 i, 0, 0x18, b"spb-payload"))
        for i in range(30)
    ]
    png = tmp_path / "spb.pcapng"
    png.write_bytes(build_pcapng(frames, spb=True))
    size = os.path.getsize(png)
    whole = [p["tcp.srcport"] for p in iter_packets(str(png))]
    assert whole == [5000 + i for i in range(30)]
    cuts = [0, size // 3, 2 * size // 3, size]
    sliced = [
        p["tcp.srcport"]
        for a, b in zip(cuts, cuts[1:])
        for p in iter_packets(str(png), a, b)
    ]
    assert sliced == whole


def test_pcapng_resync_scans_past_filler_run(tmp_path):
    """A >4 MiB run of NRB filler blocks between packet blocks (long
    dumpcap captures) must not blank the slice that starts inside it: the
    pcapng resync continues into later windows (round-2 ADVICE)."""
    frames = [
        (1700000000.0 + i,
         build_eth_ipv4_udp("10.2.0.1", "10.2.0.2", 7000 + i, 53, b"z"))
        for i in range(2)
    ]
    png = tmp_path / "filler.pcapng"
    png.write_bytes(
        build_pcapng(frames, mid_filler_bytes=5 * 1024 * 1024)
    )
    size = os.path.getsize(png)
    whole = [p["udp.srcport"] for p in iter_packets(str(png))]
    assert whole == [7000, 7001]
    # cut inside the filler run: packet 1 in slice A, packet 2 in slice B,
    # whose resync must scan ~5 MiB of filler before finding the EPB
    mid = size // 2
    a = [p["udp.srcport"] for p in iter_packets(str(png), 0, mid)]
    b = [p["udp.srcport"] for p in iter_packets(str(png), mid, size)]
    assert a == [7000] and b == [7001]


def test_udp_stream_is_partition_invariant(tmp_path):
    """udp.stream mirrors tcp.stream: a content-derived id identical for
    both directions of a 4-tuple conversation and stable across byte-
    range splits (fix.pcap is TCP-only, so a synthetic 2-conversation
    UDP capture is used)."""
    from wireduck_spark.sources.native import iter_packets
    from wireduck_spark.sources.synth import udp_frame, write_pcap

    cap = str(tmp_path / "udp_streams.pcap")
    write_pcap(cap, [
        (1.0, udp_frame("10.0.0.1", "10.0.0.2", 1111, 2222, b"q1")),
        (1.1, udp_frame("10.0.0.2", "10.0.0.1", 2222, 1111, b"r1")),
        (1.2, udp_frame("10.0.0.3", "10.0.0.4", 3333, 4444, b"q2")),
    ])
    pkts = [p for p in iter_packets(cap) if "udp.srcport" in p]
    assert len(pkts) == 3
    assert all("udp.stream" in p for p in pkts)
    # both directions of conversation 1 share one id; conversation 2 differs
    assert pkts[0]["udp.stream"] == pkts[1]["udp.stream"]
    assert pkts[2]["udp.stream"] != pkts[0]["udp.stream"]


def test_ntp_dissection(tmp_path):
    import struct as _s
    # v4 client poll: LI=0 VN=4 Mode=3, stratum 2, poll 6; xmt at a known
    # instant (2024-01-01 00:00:00 UTC + 0.5 s in NTP 1900-based 32.32)
    xmt_sec = 1704067200 + 2208988800
    xmt_frac = 1 << 31  # 0.5 s
    payload = (
        bytes([(0 << 6) | (4 << 3) | 3, 2, 6, 0xEC])
        + bytes(36)
        + _s.pack(">II", xmt_sec, xmt_frac)
    )
    pkt_bytes = build_eth_ipv4_udp("10.0.0.9", "193.0.0.229", 45000, 123,
                                   payload)
    p = tmp_path / "ntp.pcap"
    p.write_bytes(build_pcap([(1.0, pkt_bytes)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["frame.protocols"] == "eth:ethertype:ip:udp:ntp"
    assert pkt["ntp.flags.vn"] == 4
    assert pkt["ntp.flags.mode"] == 3
    assert pkt["ntp.stratum"] == 2
    assert pkt["ntp.ppoll"] == 6
    assert pkt["ntp.xmt"] == 1704067200_500000  # epoch micros incl. frac
    assert pkt["_ws.col.info"] == "NTP Version 4, client"


def test_dhcp_dissection(tmp_path):
    import struct as _s
    mac = b"\xde\xad\xbe\xef\x00\x01"
    fixed = bytearray(240)
    fixed[0] = 1                      # BOOTREQUEST
    fixed[1:4] = bytes([1, 6, 0])     # htype/hlen/hops
    fixed[4:8] = _s.pack(">I", 0x3903F326)
    fixed[12:16] = bytes(4)           # ciaddr 0.0.0.0
    fixed[16:20] = bytes([192, 168, 1, 100])  # yiaddr
    fixed[28:34] = mac
    fixed[236:240] = b"\x63\x82\x53\x63"
    options = bytes([53, 1, 3, 255])  # DHCP Request, end
    pkt_bytes = build_eth_ipv4_udp("0.0.0.0", "255.255.255.255", 68, 67,
                                   bytes(fixed) + options)
    p = tmp_path / "dhcp.pcap"
    p.write_bytes(build_pcap([(1.0, pkt_bytes)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["frame.protocols"] == "eth:ethertype:ip:udp:dhcp"
    assert pkt["dhcp.type"] == 1
    assert pkt["dhcp.id"] == 0x3903F326
    assert pkt["dhcp.ip.client"] == "0.0.0.0"
    assert pkt["dhcp.ip.your"] == "192.168.1.100"
    assert pkt["dhcp.hw.mac_addr"] == "de:ad:be:ef:00:01"
    assert pkt["dhcp.option.dhcp"] == 3
    assert pkt["_ws.col.info"] == "DHCP Request - Transaction ID 0x3903f326"


def test_ntp_fields_through_spark(spark, tmp_path):
    """ntp.xmt flows through the Arrow path as TimestampType."""
    import struct as _s
    xmt_sec = 1704067200 + 2208988800
    payload = (
        bytes([(0 << 6) | (4 << 3) | 4, 1, 10, 0xEC])
        + bytes(36) + _s.pack(">II", xmt_sec, 0)
    )
    pkt_bytes = build_eth_ipv4_udp("193.0.0.229", "10.0.0.9", 123, 45000,
                                   payload)
    p = tmp_path / "ntp2.pcap"
    p.write_bytes(build_pcap([(1.0, pkt_bytes)]))
    from wireduck_spark.sources.pcap import read_pcap
    df = read_pcap(spark, str(p), protocols=["ntp"], engine="native")
    row = df.collect()[0]
    assert row["ntp.flags.mode"] == 4
    assert str(row["ntp.xmt"]).startswith("2024-01-01 00:00:00")


def test_ipv6_extension_header_walk(tmp_path):
    """An IPv6 packet with a hop-by-hop extension header before UDP must
    still dissect the L4 layer (RFC 8200 chained next-headers); without
    the walk the payload lands in 'data'."""
    import struct as _s
    src16, dst16 = bytes(15) + b"\x01", bytes(15) + b"\x02"
    udp_payload = b"x" * 4
    udp = _s.pack(">HHHH", 5000, 5001, 8 + len(udp_payload), 0) + udp_payload
    # hop-by-hop: next=17 (UDP), len=0 -> 8 bytes total (6 pad bytes)
    hbh = bytes([17, 0]) + bytes(6)
    ip6 = _s.pack(">IHBB", 0x60000000, len(hbh) + len(udp), 0, 64) \
        + src16 + dst16
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + _s.pack(">H", 0x86DD)
    p = tmp_path / "v6ext.pcap"
    p.write_bytes(build_pcap([(1.0, eth + ip6 + hbh + udp)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["frame.protocols"] == "eth:ethertype:ipv6:udp"
    assert pkt["udp.srcport"] == 5000
    assert pkt["udp.dstport"] == 5001
    assert pkt["udp.length"] == 8 + len(udp_payload)


def test_ipv6_fragment_offset_stops_l4(tmp_path):
    """IPv6 fragment header: the FIRST fragment (offset 0) still carries a
    real L4 header and dissects as UDP; a NON-FIRST fragment's bytes are
    mid-packet payload and must land in 'data' with no bogus port fields
    (round-3 ADVICE; matches tshark's non-reassembled behavior)."""
    import struct as _s
    src16, dst16 = bytes(15) + b"\x01", bytes(15) + b"\x02"
    udp_payload = b"y" * 4
    udp = _s.pack(">HHHH", 6000, 6001, 8 + len(udp_payload), 0) + udp_payload
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + _s.pack(">H", 0x86DD)

    def frag_pkt(offset_units: int, body: bytes) -> bytes:
        # fragment header: next=17 (UDP), reserved, 13-bit offset<<3 | M
        frag = bytes([17, 0]) + _s.pack(">H", (offset_units << 3) | 1) \
            + _s.pack(">I", 0xDEADBEEF)
        ip6 = _s.pack(">IHBB", 0x60000000, len(frag) + len(body), 44, 64) \
            + src16 + dst16
        return eth + ip6 + frag + body

    p = tmp_path / "v6frag.pcap"
    p.write_bytes(build_pcap([
        (1.0, frag_pkt(0, udp)),              # first fragment: real UDP hdr
        (1.1, frag_pkt(185, b"\x17\x70\x17\x71" + b"z" * 12)),  # mid-payload
    ]))
    first, rest = list(iter_packets(str(p)))
    assert "udp" in first["frame.protocols"]
    assert first["udp.srcport"] == 6000
    assert rest["frame.protocols"].endswith(":data")
    assert "udp.srcport" not in rest and "tcp.srcport" not in rest


def test_tcp_options_dissection(tmp_path):
    """A SYN carrying MSS + wscale + SACK-permitted options surfaces all
    three tshark-named fields; option walk is bounded by data_off."""
    import struct as _s
    opts = (
        _s.pack(">BBH", 2, 4, 1460)      # MSS 1460
        + bytes([1])                      # NOP
        + _s.pack(">BBB", 3, 3, 7)        # wscale shift 7
        + _s.pack(">BB", 4, 2)            # SACK permitted
        + bytes([0, 0])                   # EOL + pad to 12 = 3 words
    )
    assert len(opts) == 12
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + _s.pack(">H", 0x0800)
    tcp_len = 20 + len(opts)
    ip = _s.pack(
        ">BBHHHBBH4s4s", 0x45, 0, 20 + tcp_len, 1, 0, 64, 6, 0,
        bytes([10, 0, 0, 1]), bytes([10, 0, 0, 2]),
    )
    data_off_flags = ((tcp_len // 4) << 12) | 0x002  # SYN
    tcp = _s.pack(">HHIIHHHH", 44000, 443, 1, 0, data_off_flags,
                  65535, 0, 0) + opts
    p = tmp_path / "tcpopt.pcap"
    p.write_bytes(build_pcap([(1.0, eth + ip + tcp)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["tcp.flags.syn"] is True
    assert pkt["tcp.options.mss_val"] == 1460
    assert pkt["tcp.options.wscale.shift"] == 7
    assert pkt["tcp.options.sack_perm"] is True


def test_gre_decap_inner_wins():
    """GRE (proto 47, RFC 2784/2890): inner IPv4 is dissected in place
    with key extraction; outer endpoints preserved under gre.outer_*."""
    import struct

    from wireduck_spark.sources.native import dissect_packet
    from wireduck_spark.sources.synth import _eth, _ipv4, tcp_frame

    inner_full = tcp_frame("172.16.0.1", "172.16.0.2", 55000, 8080,
                           99, 0x18, b"tunneled!")
    inner_ip = inner_full[14:]  # strip inner eth: GRE carries raw IP
    gre = struct.pack(">HH", 0x2000, 0x0800)  # key-present flag
    gre += struct.pack(">I", 0xDEADBEEF)      # key
    gre += inner_ip
    outer = _eth(b"\x02\0\0\0\0\x01", 0x0800) + _ipv4(
        "198.51.100.1", "198.51.100.2", 47, len(gre)) + gre

    fields: dict = {}
    dissect_packet(outer, 1, fields)
    assert fields["gre.proto"] == 0x0800
    assert fields["gre.key"] == 0xDEADBEEF
    assert fields["gre.outer_ip_src"] == "198.51.100.1"
    assert fields["gre.outer_ip_dst"] == "198.51.100.2"
    # inner wins for the standard columns
    assert fields["ip.src"] == "172.16.0.1"
    assert fields["ip.dst"] == "172.16.0.2"
    assert fields["tcp.srcport"] == 55000
    assert fields["tcp.dstport"] == 8080
    assert fields["tcp.len"] == 9
    assert "gre" in fields["frame.protocols"]
    assert fields["frame.protocols"].count("ip") >= 2


def test_vlan_tag_fields():
    """802.1Q: vlan.id (12-bit) and priority (3-bit PCP) from the TCI,
    with the inner ethertype still dissected normally."""
    import struct

    from wireduck_spark.sources.native import dissect_packet
    from wireduck_spark.sources.synth import tcp_frame

    plain = tcp_frame("10.0.0.1", "10.0.0.2", 40001, 80, 1, 0x18, b"x")
    tci = (5 << 13) | 0x123  # priority 5, vlan 0x123
    tagged = plain[:12] + struct.pack(">HH", 0x8100, tci) + plain[12:]
    fields: dict = {}
    dissect_packet(tagged, 1, fields)
    assert fields["vlan.id"] == 0x123
    assert fields["vlan.priority"] == 5
    assert fields["tcp.dstport"] == 80
    assert "vlan" in fields["frame.protocols"]


# ---------------------------------------------------------------------------
# Round-12 native-dissector review fixes
# ---------------------------------------------------------------------------


def test_ipv4_non_first_fragment_stops_l4(tmp_path):
    """A non-first IPv4 fragment (fragment offset != 0) carries mid-packet
    payload after the IP header, not an L4 header: the dissector must stop
    (tshark's non-reassembled behavior) instead of emitting bogus
    port/flag/stream fields — the guard the IPv6 branch has had since
    round 3 (r12 review). The FIRST fragment (MF set, offset 0) still
    contains the real L4 header and must keep dissecting."""
    import struct as _s

    full = build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, 1, 0,
                              0x18, b"xx")
    frag = bytearray(full)
    _s.pack_into(">H", frag, 14 + 6, 0x00B9)  # offset 185 (x8 bytes)
    first = bytearray(full)
    _s.pack_into(">H", first, 14 + 6, 0x2000)  # MF set, offset 0
    p = tmp_path / "frag.pcap"
    p.write_bytes(build_pcap([(1.0, bytes(frag)), (2.0, bytes(first))]))
    nf, f0 = list(iter_packets(str(p)))
    assert "tcp.srcport" not in nf and "tcp.stream" not in nf
    assert nf["frame.protocols"] == "eth:ethertype:ip:data"
    assert nf["ip.src"] == "10.0.0.1"  # L3 fields still dissected
    assert f0["tcp.srcport"] == 1111  # first fragment keeps its L4


def test_dns_many_label_name_decodes_fully(tmp_path):
    """A legal 20+-label DNS name (typical of tunneling traffic) must
    decode completely AND leave the parse position right, so qry.type is
    still read from the question footer — r12 review: ordinary labels
    used to charge the 16-deep compression bound, truncating the name
    and desynchronizing everything behind it."""
    name = ".".join(f"l{i}" for i in range(20)) + ".example.com"
    q = build_eth_ipv4_udp("10.0.0.1", "8.8.8.8", 40000, 53,
                           dns_query_payload(name, 16, 0xCAFE))
    p = tmp_path / "dns_long.pcap"
    p.write_bytes(build_pcap([(1.0, q)]))
    (pkt,) = list(iter_packets(str(p)))
    assert pkt["dns.qry.name"] == name
    assert pkt["dns.qry.type"] == 16


def test_tcp_info_flag_order_matches_wireshark(tmp_path):
    """Wireshark renders the info-column flag list in BIT order:
    [FIN, ACK] / [PSH, ACK] / [SYN, ECE, CWR] — never [ACK, FIN]; and
    URG/ECE/CWR must be named at all (r12 review)."""
    combos = ((0x11, "[FIN, ACK]"), (0x18, "[PSH, ACK]"),
              (0x12, "[SYN, ACK]"), (0xC2, "[SYN, ECE, CWR]"),
              (0x20, "[URG]"))
    frames = [
        (float(i), build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1000 + i,
                                      80, 1, 0, flags, b""))
        for i, (flags, _) in enumerate(combos)
    ]
    p = tmp_path / "flags.pcap"
    p.write_bytes(build_pcap(frames))
    for pkt, (_, expect) in zip(iter_packets(str(p)), combos):
        assert expect in pkt["_ws.col.info"], pkt["_ws.col.info"]


def test_is_grease_exact_rfc8701_set():
    """RFC 8701 reserves exactly the 16 equal-byte 0x?A?A values; an
    unequal-byte 0x?A?A (e.g. 0x2A4A) is a legitimate codepoint and must
    NOT be stripped from JA3 (r12 review)."""
    from wireduck_spark.sources.native import _is_grease

    greases = {((h << 4) | 0xA) * 0x101 for h in range(16)}
    for v in greases:
        assert _is_grease(v), hex(v)
    for v in (0x2A4A, 0x1A2A, 0xA0A, 0x0A1A, 0x1301):
        if v not in greases:
            assert not _is_grease(v), hex(v)


def test_truncated_client_hello_emits_no_ja3(tmp_path):
    """A snaplen-cut ClientHello must not emit a confidently-wrong JA3
    computed over a clipped extension walk (it would match nothing in
    published feeds — a silent false negative); record-layer fields and
    any SNI already parsed stay (r12 review)."""
    from wireduck_spark.sources.synth import tls_client_hello

    hello = tls_client_hello("example.com", curves=(29, 23),
                             ec_formats=(0,))
    full = build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 50000, 443, 1, 0,
                              0x18, hello)
    cut = build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 50001, 443, 1, 0,
                             0x18, hello[:-6])
    p = tmp_path / "tls_trunc.pcap"
    p.write_bytes(build_pcap([(1.0, full), (2.0, cut)]))
    ok, trunc = list(iter_packets(str(p)))
    assert "tls.handshake.ja3" in ok and "tls.handshake.ja3_string" in ok
    assert "tls.handshake.ja3" not in trunc
    assert "tls.handshake.ja3_string" not in trunc
    assert trunc["tls.record.length"] == ok["tls.record.length"]
    assert trunc.get("tls.handshake.extensions_server_name") \
        == "example.com"


def test_pcapng_oversized_snaplen_reads_unsplit(tmp_path):
    """pcapng twin of classic's splittable_snaplen fallback (r12 review:
    it did not exist, so a block larger than the resync sanity cap at a
    slice boundary was owned by NO slice — silent record loss): an IDB
    snaplen past the cap makes the first slice own the whole file and
    every other slice yield nothing — exactly-once preserved."""
    frames = [
        (float(i), build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 1000 + i,
                                      53, b"x" * 50))
        for i in range(30)
    ]
    png = build_pcapng(frames, snaplen=8 * 1024 * 1024)
    p = tmp_path / "big_snap.pcapng"
    p.write_bytes(png)
    size = len(png)
    whole = [x["udp.srcport"] for x in iter_packets(str(p))]
    assert whole == [1000 + i for i in range(30)]
    parts = byte_range_partitions(str(p), 4, size=size)
    assert len(parts) > 1
    got = [
        x["udp.srcport"]
        for s, e in parts
        for x in iter_packets(str(p), s, e, size=size)
    ]
    assert got == whole  # all records, exactly once, no slice overlap


def test_frozen_size_replays_identically_after_growth(tmp_path):
    """Streaming replay contract (r12 review): a batch planned against a
    frozen size-at-listing must yield the SAME rows when replayed after
    the capture grew — a record whose header preceded frozen-EOF but
    whose bytes extended past it stays excluded on the replay."""
    frames = [
        (float(i), build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 2000 + i,
                                      53, b"y" * 40))
        for i in range(5)
    ]
    full = build_pcap(frames)
    rec_len = 16 + len(frames[0][1])
    cut = 24 + 4 * rec_len + 16 + 10  # 5th header whole, data partial
    p = tmp_path / "grow.pcap"
    p.write_bytes(full[:cut])
    original = [x["udp.srcport"]
                for x in iter_packets(str(p), 0, cut, size=cut)]
    assert original == [2000, 2001, 2002, 2003]
    p.write_bytes(full)  # the capture "grows" to completion
    replay = [x["udp.srcport"]
              for x in iter_packets(str(p), 0, cut, size=cut)]
    assert replay == original
    live = [x["udp.srcport"] for x in iter_packets(str(p))]
    assert live == [2000, 2001, 2002, 2003, 2004]


def test_single_slice_plan_keeps_ordinal_frame_numbers(tmp_path):
    """frame.number semantics must not depend on the FORMAT for the same
    plan (r12 review: a one-slice plan — start == GLOBAL_HEADER_LEN —
    yielded ordinals on classic but byte offsets on pcapng)."""
    frames = [(1.0, build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 1, 53,
                                       b"z")),
              (2.0, build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 2, 53,
                                       b"z"))]
    classic = tmp_path / "one.pcap"
    classic.write_bytes(build_pcap(frames))
    png = tmp_path / "one.pcapng"
    png.write_bytes(build_pcapng(frames))
    for path in (classic, png):
        (start, end), = byte_range_partitions(str(path), 1)
        nums = [x["frame.number"]
                for x in iter_packets(str(path), start, end)]
        assert nums == [1, 2], (path.name, nums)


def test_pcapng_unsplit_fallback_tiny_slices_no_duplication(tmp_path):
    """ADVICE r12: the unsplittable-snaplen ownership test must be
    start_byte <= GLOBAL_HEADER_LEN (the planner's unique minimum first-
    slice start), not <= first_pkt — with per-slice spans smaller than
    the SHB+IDB preamble, slices 2..k used to ALSO own the whole file
    and every row duplicated."""
    from tests.pcap_fixtures import pcapng_block  # noqa: F401 (doc)

    frames = [
        (float(i), build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 3000 + i,
                                      53, b"q" * 30))
        for i in range(3)
    ]
    png = build_pcapng(frames, snaplen=8 * 1024 * 1024)  # unsplittable
    p = tmp_path / "tiny_slices.pcapng"
    p.write_bytes(png)
    size = len(png)
    whole = [x["udp.srcport"] for x in iter_packets(str(p))]
    assert whole == [3000, 3001, 3002]
    parts = byte_range_partitions(str(p), 64, size=size)
    # the probe only bites when some slice starts INSIDE the preamble
    assert any(0 < s - 24 < 48 for s, _ in parts[1:]) or len(parts) > 8
    got = [
        x["udp.srcport"]
        for s, e in parts
        for x in iter_packets(str(p), s, e, size=size)
    ]
    assert got == whole  # exactly once — no preamble-straddling dupes

    # extract_pcapng_slice twin: only the first slice materializes rows
    from wireduck_spark.sources.native import (
        extract_slice as extract_pcapng_slice,
    )
    owned = []
    for i, (s, e) in enumerate(parts):
        out = tmp_path / f"slice_{i}.pcapng"
        offs = extract_pcapng_slice(str(p), s, e, str(out))
        owned.append(len(offs))
    assert owned[0] == 3 and sum(owned) == 3


def test_pcapng_unsplit_read_skips_oversized_block(tmp_path, monkeypatch):
    """ADVICE r12: on an UNSPLIT read, a legitimate block larger than the
    sanity cap (trailing length field confirms blen) is skipped — not a
    silent truncation of every block behind it; a CORRUPT length (trailer
    disagrees) still stops the walk instead of chaining into garbage."""
    import struct as st

    import wireduck_spark.sources.native as native
    from tests.pcap_fixtures import pcapng_block

    monkeypatch.setattr(native, "_MAX_SANE_ORIGLEN", 1024)
    frames = [(1.0, build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 4000, 53,
                                       b"a" * 20)),
              (2.0, build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 4001, 53,
                                       b"b" * 20))]
    base = build_pcapng(frames[:1])
    giant = pcapng_block(0x00000BAD, bytes(2048))  # valid trailer, > cap
    us = 2_000_000
    data = frames[1][1]
    epb2 = pcapng_block(0x00000006, st.pack(
        "<IIIII", 0, us >> 32, us & 0xFFFFFFFF, len(data), len(data)) + data)
    p = tmp_path / "giant_mid.pcapng"
    p.write_bytes(base + giant + epb2)
    ports = [x["udp.srcport"] for x in iter_packets(str(p))]
    assert ports == [4000, 4001]  # giant block skipped, not truncating

    # corrupt trailer: walk stops at the lie, no giant allocation
    bad_giant = bytearray(giant)
    bad_giant[-4:] = st.pack("<I", 99)
    p2 = tmp_path / "giant_corrupt.pcapng"
    p2.write_bytes(base + bytes(bad_giant) + epb2)
    ports2 = [x["udp.srcport"] for x in iter_packets(str(p2))]
    assert ports2 == [4000]

    # extract twin: the skipped block is not copied, both EPBs are
    from wireduck_spark.sources.native import (
        extract_slice as extract_pcapng_slice,
    )
    out = tmp_path / "giant_slice.pcapng"
    offs = extract_pcapng_slice(str(p), None, None, str(out))
    assert len(offs) == 2
    ports3 = [x["udp.srcport"] for x in iter_packets(str(out))]
    assert ports3 == [4000, 4001]


def test_chunk_edges_keep_every_record(tmp_path):
    """~9 MiB captures cross the record walk's 4 MiB read edges, with a
    record (classic) or block (pcapng) cut by every edge and, in the
    pcapng file, a second SHB section after the first edge. The whole
    read, the union of a 3-slice read, and the extract_slice files of
    the whole file and of each slice read back must all return exactly
    the written records."""
    from bisect import bisect_right

    import wireduck_spark.sources.native as native

    # 50,000-byte frames: neither a 50,016-byte record nor a 50,032-byte
    # EPB divides 4 MiB, so the edges land inside records
    frames = [
        (1_700_000_000 + i / 8,
         build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 1000 + i, 9,
                            bytes([i % 251]) * 49_958))
        for i in range(190)
    ]
    want = [(round(ts * 1_000_000), len(f), f) for ts, f in frames]
    classic = tmp_path / "edges.pcap"
    classic.write_bytes(build_pcap(frames))
    png = tmp_path / "edges.pcapng"
    section1 = build_pcapng(frames[:100])
    png.write_bytes(section1 + build_pcapng(frames[100:]))
    assert native._CHUNK < len(section1) < 2 * native._CHUNK

    def rows(path, start=None, end=None):
        batches, _ = native.open_record_batches(str(path), start, end)
        return [r for b in batches for r in zip(b[1], b[3], b[4])]

    def offsets(path, start=None, end=None):
        batches, _ = native.open_record_batches(str(path), start, end)
        return [o for b in batches for o in b[0]]

    for path, head in ((classic, 24), (png, 0)):
        blob = path.read_bytes()
        size = len(blob)
        assert 8 << 20 < size < 10 << 20
        # every block start, and the edges the walk reads up to: the
        # reads are contiguous, _CHUNK bytes each after the head
        if path is classic:
            starts = [24 + i * (16 + len(f)) for i, (_, f) in
                      enumerate(frames)]
        else:
            starts, off = [], 0
            while off < size:
                starts.append(off)
                off += int.from_bytes(blob[off + 4:off + 8], "little")
        for edge in range(head + native._CHUNK, size, native._CHUNK):
            cut = starts[bisect_right(starts, edge) - 1]
            assert cut < edge < cut + 16 + 50_000, (path.name, edge)

        assert rows(path) == want, path.name
        parts = byte_range_partitions(str(path), 3)
        assert len(parts) == 3
        assert [r for s, e in parts for r in rows(path, s, e)] == want
        # each slice is shorter than one read, so the whole-file extract
        # is the one that copies across the edges
        extracted = []
        for i, (s, e) in enumerate([(None, None)] + parts):
            out = tmp_path / f"{path.name}.{i}"
            assert native.extract_slice(str(path), s, e, str(out)) \
                == offsets(path, s, e)
            extracted += rows(out)
        assert extracted == want + want, path.name


def test_record_walk_memory_stays_linear(tmp_path, monkeypatch):
    """A batch never spans two walk buffers, so a walk holds a few
    buffers at a time however many records a batch could take: with a
    256 KiB read size, 100 records of 64 KiB read whole, at the default
    4096 rows per batch, must peak at a few reads (the buffer being
    refilled, the read, the new buffer and the batch the caller still
    holds), not near the file (a walk that carried the batch into each new buffer held and copied
    about size**2 / (2 * read size), here about 80 MiB). Every record
    still comes back, and extract_slice copies the file verbatim."""
    import tracemalloc

    import wireduck_spark.sources.native as native

    monkeypatch.setattr(native, "_CHUNK", 256 << 10)
    frames = [
        (1_700_000_000 + i / 8,
         build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 1000 + i, 9,
                            bytes([i]) * 65_494))
        for i in range(100)
    ]
    for name, blob in (("big.pcap", build_pcap(frames)),
                       ("big.pcapng", build_pcapng(frames))):
        path = tmp_path / name
        path.write_bytes(blob)
        assert len(blob) > 24 * native._CHUNK
        tracemalloc.start()
        try:
            batches, _ = native.open_record_batches(str(path))
            got = [(len(b[0]), sum(map(len, b[4]))) for b in batches]
            walk_peak = tracemalloc.get_traced_memory()[1]
            tracemalloc.reset_peak()
            out = tmp_path / (name + ".out")
            native.extract_slice(str(path), None, None, str(out))
            extract_peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert sum(n for n, _ in got) == len(frames), name
        assert sum(b for _, b in got) == sum(len(f) for _, f in frames)
        assert out.read_bytes() == blob, name
        assert walk_peak < 8 * native._CHUNK, (name, walk_peak)
        assert extract_peak < 8 * native._CHUNK, (name, extract_peak)


def test_dns_name_depth_exhaustion_advances_past_pointer():
    """ADVICE r12: when the compression-pointer depth bound trips, the
    name walk must still advance next_off past the 2-byte pointer —
    pointers always terminate a name — so the field walk behind a
    maliciously deep chain stays in sync."""
    from wireduck_spark.sources.native import _dns_name

    # '<label a><pointer to 0>' driven at the depth bound: the pointer
    # is refused (depth) but next_off must be 4, not 2 (the old break
    # left it AT the pointer byte)
    payload = b"\x01a\xc0\x00\x00"
    name, noff = _dns_name(payload, 0, depth=16)
    assert name == "a"
    assert noff == 4

    # sanity below the bound: the same bytes resolve the loop-free tail
    deep = b"\x01a\xc0\x04" + b"\x01b\x00"
    name2, noff2 = _dns_name(deep, 0)
    assert name2 == "a.b" and noff2 == 4


# ---- an independent record-walk oracle -------------------------------------

def _oracle_classic(blob: bytes) -> list[tuple]:
    """(offset, epoch_us, incl, orig, bytes) of every record of a whole
    classic capture, one struct unpack per record."""
    import struct

    magic = blob[:4]
    endian = "<" if magic in (b"\xd4\xc3\xb2\xa1", b"\x4d\x3c\xb2\xa1") \
        else ">"
    nanos = struct.unpack(endian + "I", magic)[0] == 0xA1B23C4D
    out, off = [], 24
    while off + 16 <= len(blob):
        ts, frac, incl, orig = struct.unpack_from(endian + "IIII", blob, off)
        if off + 16 + incl > len(blob):
            break
        us = frac // 1000 if nanos else frac
        out.append((off, ts * 1_000_000 + us, incl, orig,
                    blob[off + 16:off + 16 + incl]))
        off += 16 + incl
    return out


def _oracle_pcapng(blob: bytes) -> list[tuple]:
    """The same for a whole pcapng capture, one struct unpack per block
    header: SHB byte order, IDB if_tsresol, EPB and SPB."""
    import struct

    out, off, endian, ticks = [], 0, "<", []
    while off + 12 <= len(blob):
        if blob[off:off + 4] == b"\x0a\x0d\x0d\x0a":
            endian = "<" if blob[off + 8:off + 12] == b"\x4d\x3c\x2b\x1a" \
                else ">"
            ticks = []
        btype, blen = struct.unpack_from(endian + "II", blob, off)
        body = blob[off + 8:off + blen - 4]
        if btype == 1:  # IDB: options after linktype, reserved, snaplen
            tick, opt = 1_000_000, 8
            while opt + 4 <= len(body):
                code, ln = struct.unpack_from(endian + "HH", body, opt)
                if code == 0:
                    break
                if code == 9:
                    v = body[opt + 4]
                    tick = 2 ** (v & 0x7F) if v & 0x80 else 10 ** v
                opt += 4 + (ln + 3) // 4 * 4
            ticks.append(tick)
        elif btype == 6:
            if_id, hi, lo, incl, orig = struct.unpack_from(
                endian + "IIIII", body)
            tick = ticks[if_id] if if_id < len(ticks) else 1_000_000
            out.append((off, ((hi << 32) | lo) * 1_000_000 // tick, incl,
                        orig, body[20:20 + incl]))
        elif btype == 3:
            orig = struct.unpack_from(endian + "I", body)[0]
            data = body[4:4 + orig]
            out.append((off, 0, len(data), orig, data))
        off += blen
    return out


def _framing_captures(tmp_path) -> tuple[list[str], list[str]]:
    """Captures of the framing variants the synth files do not use, as
    (splittable, whole-file only): nanosecond and big-endian classic;
    pcapng with Simple Packet Blocks, with filler blocks, and with a
    nanosecond interface, an interface id past the table and an EPB
    whose caplen runs past its block; and a pcapng whose big-endian
    second section a later slice cannot read (its preamble is the first
    section's), so it is read whole only."""
    import struct

    frames = [(1_700_000_000 + i / 7, build_eth_ipv4_udp(
        "10.0.0.1", "10.0.0.2", 1000 + i, 9, bytes([i]) * (i * 37 % 300)))
        for i in range(40)]

    def block(endian, btype, body):
        pad = bytes(-len(body) % 4)
        n = 12 + len(body) + len(pad)
        return struct.pack(endian + "II", btype, n) + body + pad \
            + struct.pack(endian + "I", n)

    def section(endian):
        """SHB, a nanosecond IDB and a 2**-10 s IDB, then the frames on
        interfaces 0, 1 and 2 in turn (2 is past the table, so it counts
        microseconds); frame 3 claims 50 bytes more than its block
        holds."""
        out = [block(endian, 0x0A0D0D0A,
                     struct.pack(endian + "IHHq", 0x1A2B3C4D, 1, 0, -1))]
        for tsresol in (9, 0x8A):
            out.append(block(endian, 1, struct.pack(
                endian + "HHIHHB3x", 1, 0, 65535, 9, 1, tsresol)
                + bytes(4)))
        for i, (ts, f) in enumerate(frames):
            t = int(ts * (1e9, 1024, 1e6)[i % 3])
            incl = len(f) + 50 if i == 3 else len(f)
            out.append(block(endian, 6, struct.pack(
                endian + "IIIII", i % 3, t >> 32, t & 0xFFFFFFFF, incl,
                len(f)) + f))
        return b"".join(out)

    be = struct.pack(">IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1)
    for ts, f in frames:
        be += struct.pack(">IIII", int(ts), int(ts % 1 * 1e6), len(f),
                          len(f) + 4) + f
    blobs = {
        "ns.pcap": build_pcap(frames, nanos=True),
        "be.pcap": be,
        "spb.pcapng": build_pcapng(frames, spb=True),
        "filler.pcapng": build_pcapng(frames, mid_filler_bytes=70_000),
        "ifaces.pcapng": section("<"),
        "sections.pcapng": section("<") + section(">"),
    }
    paths = []
    for name, blob in blobs.items():
        (tmp_path / name).write_bytes(blob)
        paths.append(str(tmp_path / name))
    return paths[:-1], paths[-1:]


def test_record_walk_matches_an_independent_reader(tmp_path, monkeypatch):
    """open_record_batches against the one-unpack-per-record readers
    above, per record (offset, epoch, incl, orig, bytes): every synth
    capture and the edge capture of the vectorized differential, each
    in classic and pcapng, plus the framing variants, read whole and as
    the union of a 3-slice read."""
    import wireduck_spark.sources.native as native
    from tests.test_native_vec import _all_captures

    def walked(path, start=None, end=None):
        batches, _ = native.open_record_batches(path, start, end)
        return [r for b in batches for r in zip(
            b[0].tolist(), b[1].tolist(), b[2].tolist(), b[3].tolist(),
            b[4])]

    split, whole_only = _framing_captures(tmp_path)
    caps = _all_captures(tmp_path, monkeypatch) + split + whole_only
    assert sum(p.endswith(".pcapng") for p in caps) >= 10
    for path in caps:
        with open(path, "rb") as fh:
            blob = fh.read()
        want = (_oracle_pcapng if is_pcapng(path) else _oracle_classic)(blob)
        assert want, path
        assert walked(path) == want, os.path.basename(path)
        if path in whole_only:
            continue
        parts = byte_range_partitions(path, 3)
        assert [r for s, e in parts for r in walked(path, s, e)] == want, \
            os.path.basename(path)
