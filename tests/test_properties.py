"""Property-based robustness tests (hypothesis): the native dissector
and the byte-range split machinery over adversarial inputs.

Captures in the wild contain truncated, malformed, and hostile packets;
a 100 TB scan cannot afford a per-packet exception or a split that
silently loses records. These properties complement the golden-value
tests in test_native.py: goldens pin known-good outputs, properties pin
"never crashes, never loses data" over generated inputs.
"""

from __future__ import annotations

import pytest
import struct

# r15 driver-window split (pytest.ini): heavyweight battery, opt-in
pytestmark = pytest.mark.slow

from hypothesis import given, settings
from hypothesis import strategies as st

from tests.pcap_fixtures import build_eth_ipv4_tcp, build_eth_ipv4_udp, build_pcap
from wireduck_spark.sources.native import (
    byte_range_partitions, dissect_packet, iter_packets,
)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=200), st.integers(0, 300))
def test_dissect_never_raises_on_arbitrary_bytes(blob, linktype):
    """dissect_packet must swallow any byte garbage at any linktype:
    absent-protocol fields stay NULL, no exception escapes to the scan."""
    fields: dict = {}
    dissect_packet(blob, linktype, fields)
    assert "frame.protocols" in fields


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=0, max_size=120))
def test_dissect_truncated_udp_payloads(payload):
    """A syntactically valid UDP packet with arbitrary payload (including
    ones that look like truncated DNS/NTP/DHCP) must dissect without
    raising, and always keep the UDP layer fields."""
    pkt = build_eth_ipv4_udp("10.0.0.1", "10.0.0.2", 53, 123, payload)
    fields: dict = {}
    dissect_packet(pkt, 1, fields)
    assert fields["udp.srcport"] == 53
    assert fields["udp.dstport"] == 123


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.binary(min_size=0, max_size=60).map(
            # high-bit alphabet: classic pcap has no record markers, so a
            # payload that EMBEDS a byte-exact valid record chain ending at
            # EOF is indistinguishable from real records by ANY content
            # resync (the reference can't split at all). Bytes >= 0x80 make
            # every in-payload u32 exceed the caplen/origlen/ts-fraction
            # sanity bounds, which is the contract the resync documents;
            # an earlier run of this test WITHOUT the restriction caught a
            # real bug (unbounded origlen accepted a phantom record).
            lambda b: bytes(x | 0x80 for x in b)
        ),
        min_size=1, max_size=20,
    ),
    st.integers(2, 6),
)
def test_split_union_equals_whole_file(payloads, n_slices):
    """For any capture content (modulo embedded byte-exact fake records,
    see alphabet note) and ANY slice count, the union of byte-range
    slices must yield exactly the whole-file packet set — every record
    owned by exactly one slice (resync property)."""
    frames = [
        build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, i, 0, 0x18, pl)
        for i, pl in enumerate(payloads)
    ]
    import os
    import tempfile
    fd, path = tempfile.mkstemp(suffix=".pcap")
    with os.fdopen(fd, "wb") as fh:
        fh.write(build_pcap([(1.0 + i, f) for i, f in enumerate(frames)]))

    whole = list(iter_packets(path))
    size = os.path.getsize(path)
    # force splitting regardless of threshold by slicing the byte range
    # the way byte_range_partitions would for a huge file
    step = max(size // n_slices, 32)
    bounds = list(range(24, size, step)) + [size]
    sliced = []
    for s, e in zip(bounds, bounds[1:]):
        sliced.extend(iter_packets(path, s, e))
    # first slice starts after the global header like the planner's slices
    head = list(iter_packets(path, 0, bounds[0])) if bounds[0] > 24 else []
    got = head + sliced
    assert len(got) == len(whole)
    assert {f["frame.len"] for f in got} == {f["frame.len"] for f in whole}
    assert sorted(f["frame.time_epoch"] for f in got) == sorted(
        f["frame.time_epoch"] for f in whole
    )
    os.unlink(path)


@settings(max_examples=50, deadline=None)
@given(st.binary(min_size=24, max_size=400))
def test_iter_packets_never_raises_on_corrupt_captures(blob):
    """A capture file of arbitrary bytes (valid classic-pcap magic glued
    to garbage) must never raise out of iter_packets — corrupt tails are
    skipped, not fatal (the reference's tshark would error the whole
    query; the scan contract here is per-record tolerance)."""
    import os
    import tempfile
    header = struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 0xFFFF, 1)
    fd, path = tempfile.mkstemp(suffix=".pcap")
    with os.fdopen(fd, "wb") as fh:
        fh.write(header + blob)
    for fields in iter_packets(path):
        assert fields["frame.cap_len"] >= 0
    os.unlink(path)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.binary(min_size=0, max_size=60), min_size=1, max_size=20),
    st.integers(2, 6),
    st.booleans(),
)
def test_pcapng_split_union_equals_whole_file(payloads, n_slices, spb):
    """pcapng split invariance holds for FULLY arbitrary payloads (no
    alphabet restriction): block framing carries a trailing-length echo,
    so a payload-embedded phantom needs three matching u32s (~2^-64) —
    the structural advantage over classic pcap's markerless records."""
    import os
    import tempfile

    from tests.pcap_fixtures import build_eth_ipv4_tcp, build_pcapng

    frames = [
        build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, i, 0, 0x18, pl)
        for i, pl in enumerate(payloads)
    ]
    fd, path = tempfile.mkstemp(suffix=".pcapng")
    with os.fdopen(fd, "wb") as fh:
        fh.write(build_pcapng(
            [(1700000000.0 + i, f) for i, f in enumerate(frames)], spb=spb
        ))

    whole = list(iter_packets(path))
    size = os.path.getsize(path)
    step = max(size // n_slices, 32)
    bounds = [0] + list(range(step, size, step)) + [size]
    got = []
    for s, e in zip(bounds, bounds[1:]):
        got.extend(iter_packets(path, s, e))
    assert len(got) == len(whole)
    assert sorted(f["frame.len"] for f in got) == sorted(
        f["frame.len"] for f in whole
    )
    os.unlink(path)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.binary(min_size=0, max_size=60).map(
            lambda b: bytes(x | 0x80 for x in b)  # same alphabet note as
        ),                                         # the classic split test
        min_size=1, max_size=20,
    ),
    st.integers(2, 6),
    st.booleans(),
)
def test_slice_extraction_union_equals_whole_file(payloads, n_slices, png):
    """The split-tshark extraction invariant, fuzzed: for any capture
    content and slice count, the per-slice standalone mini-captures
    (extract_classic_slice / extract_pcapng_slice) together contain
    exactly the whole file's packets — each temp capture re-dissects
    independently (that is what the per-slice tshark pipe consumes), and
    the returned offsets are strictly increasing across slices."""
    import os
    import tempfile

    from wireduck_spark.sources.native import (
        extract_slice as extract_classic_slice,
        extract_slice as extract_pcapng_slice,
    )
    from tests.pcap_fixtures import (
        build_eth_ipv4_tcp, build_pcap, build_pcapng,
    )

    frames = [
        (1700000000.0 + i,
         build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, i, 0, 0x18, pl))
        for i, pl in enumerate(payloads)
    ]
    suffix = ".pcapng" if png else ".pcap"
    build = build_pcapng if png else build_pcap
    extract = extract_pcapng_slice if png else extract_classic_slice
    fd, path = tempfile.mkstemp(suffix=suffix)
    with os.fdopen(fd, "wb") as fh:
        fh.write(build(frames))
    whole = list(iter_packets(path))
    size = os.path.getsize(path)
    first = 0 if png else 24
    step = max((size - first) // n_slices, 32)
    bounds = [first] + list(range(first + step, size, step)) + [size]
    got, offsets = [], []
    for j, (s, e) in enumerate(zip(bounds, bounds[1:])):
        out = path + f".slice{j}"
        offs = extract(path, s, e, out)
        pkts = list(iter_packets(out))
        assert len(pkts) == len(offs)
        got.extend(pkts)
        offsets.extend(offs)
        os.unlink(out)
    assert len(got) == len(whole)
    assert offsets == sorted(offsets) and len(set(offsets)) == len(offsets)
    assert sorted(f["frame.len"] for f in got) == sorted(
        f["frame.len"] for f in whole
    )
    os.unlink(path)


@settings(max_examples=200, deadline=None)
@given(st.one_of(st.none(), st.text(max_size=24)))
def test_cast_cell_never_raises(cell):
    """The tshark-path per-cell cast must return value-or-None for ANY
    cell text and every FT-mapped Spark type — the reference's
    null-on-error contract (wireduck_extension.cpp:201-237) with no
    exception channel."""
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, TimestampType,
    )

    from wireduck_spark.sources.typemap import cast_cell

    for dtype in (LongType(), DoubleType(), BooleanType(), StringType(),
                  TimestampType()):
        out = cast_cell(cell, dtype)
        assert out is None or not isinstance(out, Exception)


@settings(max_examples=50, deadline=None)
@given(st.lists(
    st.sampled_from(["tcp", "udp", "dns", "http", "tls", "ip", "ipv6",
                     "arp", "icmp", "ntp", "dhcp", "eth"]),
    min_size=0, max_size=8, unique=True,
))
def test_schema_ordering_invariants(protocols):
    """For ANY protocols argument the reference's FetchSelectedFields
    ordering must hold (cpp:63-69): frame.* fields first, _ws.col.info
    last, requested-protocol fields in argument order between them."""
    from wireduck_spark.sources.glossary import fetch_selected_fields

    names = [f.filter_name for f in fetch_selected_fields(protocols)]
    assert names[0].startswith("frame.")
    assert names[-1] == "_ws.col.info"
    # frame block is a contiguous prefix
    in_frame = True
    for n in names[:-1]:
        if not n.startswith("frame."):
            in_frame = False
        elif not in_frame:
            assert False, f"frame field {n} after non-frame fields"


@settings(max_examples=60, deadline=None)
@given(
    st.integers(0, 2**24 - 1),                      # VNI
    st.integers(1024, 65535), st.integers(1, 65535),  # inner ports
    st.binary(min_size=0, max_size=64),             # inner payload
    st.booleans(),                                  # inner proto tcp/udp
)
def test_vxlan_decap_roundtrip_property(vni, sport, dport, payload, use_tcp):
    """For ANY inner packet, dissecting the VXLAN-encapsulated frame must
    yield the same inner flow fields as dissecting the inner frame
    directly, plus the VNI and preserved outer endpoints."""
    from wireduck_spark.sources.native import dissect_packet
    from wireduck_spark.sources.synth import tcp_frame, udp_frame, vxlan_encap

    if use_tcp:
        inner = tcp_frame("172.16.1.1", "172.16.1.2", sport, dport,
                          7, 0x18, payload)
    else:
        inner = udp_frame("172.16.1.1", "172.16.1.2", sport, dport, payload)
    direct: dict = {}
    dissect_packet(inner, 1, direct)
    outer: dict = {}
    dissect_packet(vxlan_encap("192.0.2.10", "192.0.2.20", vni, inner),
                   1, outer)
    assert outer["vxlan.vni"] == vni
    assert outer["vxlan.outer_ip_src"] == "192.0.2.10"
    assert outer["vxlan.outer_ip_dst"] == "192.0.2.20"
    # inner flow fields survive decap identically
    for k, v in direct.items():
        if k.startswith(("tcp.", "udp.", "ip.")) and not k.endswith("stream"):
            assert outer.get(k) == v, k
    assert outer["frame.protocols"].startswith("eth:ethertype:ip:udp:vxlan")


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=80))
def test_vxlan_without_vni_flag_not_decapped(payload):
    """UDP/4789 traffic WITHOUT the VNI-valid flag must stay an ordinary
    UDP packet (no bogus inner dissection of payload bytes)."""
    from wireduck_spark.sources.native import dissect_packet
    from wireduck_spark.sources.synth import udp_frame

    # first byte != 0x08 pattern: force flags byte to 0
    raw = bytes([0x00]) + payload
    fields: dict = {}
    dissect_packet(
        udp_frame("192.0.2.10", "192.0.2.20", 49152, 4789, raw), 1, fields)
    assert "vxlan.vni" not in fields
    assert fields["ip.src"] == "192.0.2.10"  # outer untouched
    assert "vxlan" not in fields["frame.protocols"]


@given(
    payload=st.binary(min_size=0, max_size=120),
    sport=st.integers(min_value=1024, max_value=65535),
)
@settings(max_examples=200, deadline=None)
def test_quic_parse_never_raises_and_claims_only_valid(payload, sport):
    """QUIC property: arbitrary UDP/443 payloads never crash the
    dissector, and 'quic' is claimed ONLY when the long-header
    invariants hold (0b11 first-byte prefix, both CID lengths <= 20 and
    in-bounds) — with version/DCID/SCID then present and consistent;
    otherwise NO quic.* field leaks (the scratch-dict commit rule)."""
    from wireduck_spark.sources.native import dissect_packet
    from wireduck_spark.sources.synth import udp_frame

    fields: dict = {}
    dissect_packet(
        udp_frame("10.0.0.1", "10.0.0.2", sport, 443, payload), 1, fields)
    claimed = "quic" in fields.get("frame.protocols", "")
    if claimed:
        assert fields.get("quic.header_form") is True
        dcid_len = payload[5]
        assert (payload[0] & 0xC0) == 0xC0
        assert dcid_len <= 20
        assert fields["quic.dcid"] == payload[6:6 + dcid_len].hex()
        scid_len = payload[6 + dcid_len]
        assert scid_len <= 20
        assert fields["quic.scid"] == (
            payload[7 + dcid_len:7 + dcid_len + scid_len].hex())
        assert fields["quic.version"] == int.from_bytes(
            payload[1:5], "big")
    else:
        assert not any(k.startswith("quic.") for k in fields)


@given(
    payload=st.binary(min_size=0, max_size=80),
    port=st.sampled_from([21, 22, 25]),
)
@settings(max_examples=200, deadline=None)
def test_banner_dissectors_never_raise(payload, port):
    """SSH/SMTP/FTP banner parsing must survive arbitrary bytes on the
    service ports, and any claimed field must be printable ASCII or a
    3-digit integer code."""
    from wireduck_spark.sources.native import dissect_packet
    from wireduck_spark.sources.synth import tcp_frame

    f: dict = {}
    dissect_packet(tcp_frame("10.0.0.1", "10.0.0.2", 40000, port, 1,
                             0x18, payload), 1, f)
    if "ssh.protocol" in f:
        assert f["ssh.protocol"].startswith("SSH-")
    for k in ("smtp.response.code", "ftp.response.code"):
        if k in f:
            assert 0 <= f[k] <= 999
    for k in ("smtp.req.command", "ftp.request.command"):
        if k in f:
            assert f[k].isupper() and f[k].isalpha()
