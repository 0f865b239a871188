"""Golden tests for the pcap connection-quality analysis queries.

The session_capture fixture (sources/synth.py) is built from hand-chosen
timestamps, so every expected value below is derivable by inspection:
50 ms / 120 ms handshake RTTs, exactly one retransmitted segment, and
30 ms / 450 ms / unanswered DNS transactions. These queries are
rows-only in the driver gate (DuckDB cannot read pcap); this module IS
their correctness contract.
"""

from __future__ import annotations

import os

import pytest

from wireduck_spark.registry import load_all_queries
from wireduck_spark.sources.native import stream_id
from wireduck_spark.sources.pcap_queries import FIXTURE

SF = "/root/testdata/sf0.001"

needs_fixture = pytest.mark.skipif(not os.path.exists(FIXTURE),
                                   reason="fixture not present")

STREAM_A = stream_id("10.0.1.1", 40001, "10.0.2.1", 80)
STREAM_B = stream_id("10.0.1.2", 40002, "10.0.2.1", 443)
STREAM_C = stream_id("10.0.1.3", 40003, "10.0.2.2", 9000)


@pytest.fixture(scope="module")
def queries():
    return load_all_queries()


def _rows(queries, spark, name):
    return {r[0]: r for r in queries[name].fn(spark, SF).collect()}


def test_handshake_rtt_golden(spark, queries):
    by_stream = _rows(queries, spark, "pcap_tcp_handshake_rtt")
    assert by_stream[STREAM_A]["rtt_us"] == 50_000
    assert by_stream[STREAM_B]["rtt_us"] == 120_000
    # stream C has no captured handshake -> no row, not a bogus RTT
    assert STREAM_C not in by_stream
    assert len(by_stream) == 2


def test_retransmissions_golden(spark, queries):
    by_stream = _rows(queries, spark, "pcap_tcp_retransmissions")
    assert by_stream[STREAM_A]["data_segments"] == 3
    assert by_stream[STREAM_A]["retransmissions"] == 1
    assert by_stream[STREAM_B]["retransmissions"] == 0
    assert by_stream[STREAM_C]["retransmissions"] == 0
    assert len(by_stream) == 3


def test_dns_latency_golden(spark, queries):
    by_name = {
        r["qry_name"]: r
        for r in queries["pcap_dns_latency"].fn(spark, SF).collect()
    }
    fast = by_name["fast.example.com"]
    assert fast["latency_us"] == 30_000 and fast["n_answers"] == 1
    slow = by_name["slow.example.com"]  # NXDOMAIN: answered, zero answers
    assert slow["latency_us"] == 450_000 and slow["n_answers"] == 0
    lost = by_name["lost.example.com"]  # never answered -> NULL latency
    assert lost["latency_us"] is None and lost["n_answers"] is None
    assert len(by_name) == 3


def test_protocol_hierarchy_golden(spark, queries):
    rows = {
        r["proto_path"]: r
        for r in queries["pcap_protocol_hierarchy"].fn(spark, SF).collect()
    }
    # every frame counts once at every level of its protocols path
    assert rows["eth"]["n_frames"] == 12
    assert rows["eth"]["total_bytes"] == 773
    assert rows["eth:ethertype:arp"]["n_frames"] == 2
    assert rows["eth:ethertype:ip"]["n_frames"] == 10
    assert rows["eth:ethertype:ip:udp:dns"]["n_frames"] == 3
    assert rows["eth:ethertype:ip:tcp:http"]["n_frames"] == 4
    # parent level >= child level at every edge (hierarchy invariant)
    for path, r in rows.items():
        parent = path.rsplit(":", 1)[0]
        if parent != path:
            assert rows[parent]["n_frames"] >= r["n_frames"]


def test_beacon_detection_golden(spark, queries):
    """The 30 s ±0.2 s implant flow must flag as a beacon; the bursty
    browsing flow (CV ~1.2) must not."""
    implant = stream_id("10.0.5.5", 49152, "10.9.9.9", 443)
    browsing = stream_id("10.0.5.6", 50000, "93.184.216.34", 443)
    rows = _rows(queries, spark, "pcap_beacon_detection")
    assert rows[implant]["is_beacon"] is True
    assert rows[implant]["n_gaps"] == 20
    # 20 gaps averaging exactly 30 s
    assert rows[implant]["sum_gap_ms"] == 600_000
    assert rows[browsing]["is_beacon"] is False
    assert rows[browsing]["n_gaps"] == 10
    assert len(rows) == 2


def test_port_scan_detect_golden(spark, queries):
    """25 bare SYNs to 25 distinct ports flags the scanner; the client
    doing 2 real handshakes stays clean. RST/SYN-ACK answers (ack bit
    set) must not count as probes."""
    rows = {
        (r["src"], r["dst"]): r
        for r in queries["pcap_port_scan_detect"].fn(spark, SF).collect()
    }
    scanner = rows[("10.0.9.9", "10.0.2.1")]
    assert scanner["n_syns"] == 25
    assert scanner["n_ports_probed"] == 25
    assert scanner["is_scanner"] is True
    benign = rows[("10.0.1.1", "10.0.2.1")]
    assert benign["n_ports_probed"] == 2
    assert benign["is_scanner"] is False
    # responders never appear (their packets all carry ACK)
    assert all(src != "10.0.2.1" for src, _ in rows)
    assert len(rows) == 2


def test_ja3_fingerprint_golden(spark, queries):
    """JA3 strings/hashes computed from first principles must match the
    dissector: default stack 771,4865-4866,0,, (shared by two clients);
    the GREASE client's 0x0a0a cipher and 0x1a1a curve are stripped."""
    import hashlib

    plain = "771,4865-4866,0,,"
    grease = "771,4865-49195,0-10-11,29-23,0"
    rows = {
        r["ja3"]: r
        for r in queries["pcap_ja3_fingerprint"].fn(spark, SF).collect()
    }
    h_plain = hashlib.md5(plain.encode()).hexdigest()
    h_grease = hashlib.md5(grease.encode()).hexdigest()
    assert set(rows) == {h_plain, h_grease}
    assert rows[h_plain]["ja3_string"] == plain
    assert rows[h_plain]["n_hellos"] == 2
    assert rows[h_plain]["n_clients"] == 2
    assert rows[h_plain]["sni_hosts"] == "a.example.com,b.example.com"
    assert rows[h_grease]["ja3_string"] == grease
    assert rows[h_grease]["n_clients"] == 1
    assert rows[h_grease]["sni_hosts"] == "c.example.com"


def test_ja3s_server_fingerprint(spark, queries):
    """The synthetic ServerHello (771, cipher 0x1301, no extensions)
    must yield JA3S string '771,4865,' with its md5."""
    import hashlib
    import os

    from wireduck_spark.registry import load_all_queries  # noqa: F401
    from wireduck_spark.sources.glossary import cache_dir
    from wireduck_spark.sources.pcap import read_pcap
    from wireduck_spark.sources.synth import tls_capture

    cap = tls_capture(os.path.join(cache_dir(), "synth", "tls.pcap"))
    df = read_pcap(spark, cap, protocols=["tls"], engine="native")
    rows = df.filter(df["`tls.handshake.ja3s`"].isNotNull()).collect()
    assert len(rows) == 1
    expected = "771,4865,"
    assert rows[0]["tls.handshake.ja3s_string"] == expected
    assert rows[0]["tls.handshake.ja3s"] == hashlib.md5(
        expected.encode()).hexdigest()


def test_arp_spoof_detect_golden(spark, queries):
    rows = _rows(queries, spark, "pcap_arp_spoof_detect")
    # gateway IP claimed by both its real MAC and the attacker's
    gw = rows["10.0.0.1"]
    assert gw["n_replies"] == 5
    assert gw["n_macs"] == 2
    assert gw["is_spoofed"] is True
    assert gw["macs"] == "aa:00:00:00:00:01,ee:00:00:00:00:66"
    benign = rows["10.0.0.5"]
    assert benign["n_macs"] == 1 and benign["is_spoofed"] is False
    # the who-has request must not count as a claim
    assert len(rows) == 2


def test_payload_entropy_golden(spark, queries):
    import math

    from wireduck_spark.sources.native import stream_id

    rows = _rows(queries, spark, "pcap_payload_entropy")
    const_s = stream_id("10.0.3.1", 41001, "10.0.4.1", 9100)
    unif_s = stream_id("10.0.3.2", 41002, "10.0.4.1", 9200)
    text_s = stream_id("10.0.3.3", 41003, "10.0.4.1", 80)
    assert rows[const_s]["entropy_bits"] == 0.0
    assert rows[const_s]["n_bytes"] == 200
    assert rows[const_s]["is_high_entropy"] is False
    # one packet carrying every byte value exactly once: exactly 8 bits
    assert rows[unif_s]["entropy_bits"] == 8.0
    assert rows[unif_s]["n_distinct_bytes"] == 256
    assert rows[unif_s]["is_high_entropy"] is True
    # ASCII text: recompute the expected value from the same bytes
    text = (b"GET /index.html HTTP/1.1\r\nHost: example.com\r\n"
            b"User-Agent: test\r\n\r\n")
    hist: dict[int, int] = {}
    for b in text:
        hist[b] = hist.get(b, 0) + 1
    t = len(text)
    expected = math.log2(t) - sum(c * math.log2(c) for c in hist.values()) / t
    assert rows[text_s]["entropy_bits"] == round(expected, 4)
    assert rows[text_s]["is_high_entropy"] is False


def test_follow_tcp_stream_golden(spark, queries):
    import hashlib

    rows = {
        (r["stream"], r["src"], r["sport"]): r
        for r in queries["pcap_follow_tcp_stream"].fn(spark, SF).collect()
    }
    a_cli = rows[(STREAM_A, "10.0.1.1", 40001)]
    # retransmitted "0123456789" collapses to one reassembled copy
    assert a_cli["n_segments"] == 1
    assert a_cli["n_bytes"] == 10
    assert a_cli["contiguous"] is True
    assert a_cli["content_md5"] == hashlib.md5(b"0123456789").hexdigest()
    a_srv = rows[(STREAM_A, "10.0.2.1", 80)]
    assert a_srv["n_bytes"] == 20
    assert a_srv["content_md5"] == hashlib.md5(
        b"abcdefghijklmnopqrst").hexdigest()
    b_cli = rows[(STREAM_B, "10.0.1.2", 40002)]
    assert b_cli["content_md5"] == hashlib.md5(b"hello").hexdigest()
    c_cli = rows[(STREAM_C, "10.0.1.3", 40003)]
    assert c_cli["content_md5"] == hashlib.md5(b"orphan").hexdigest()
    # only data-bearing directions appear (no ACK-only rows)
    assert len(rows) == 4


def test_dns_tunneling_detect_golden(spark, queries):
    rows = {r["zone"]: r
            for r in queries["pcap_dns_tunneling_detect"].fn(
                spark, SF).collect()}
    tun = rows["example.com"]
    assert tun["n_queries"] == 30
    assert tun["n_distinct_subdomains"] == 30
    assert tun["avg_qname_len"] >= 40
    assert tun["is_suspected"] is True
    # each benign zone: one short query, never flagged
    for zone in ("example.org", "google.com", "fastly.net", "github.com"):
        assert rows[zone]["is_suspected"] is False
    assert len(rows) == 5


def test_vxlan_decap_golden(spark, queries):
    rows = {(r["vni"], r["sport"]): r
            for r in queries["pcap_vxlan_decap"].fn(spark, SF).collect()}
    # tenant A: inner flow visible with its VNI, outer VTEP preserved
    a = rows[(100, 33001)]
    assert a["n_packets"] == 3 and a["payload_bytes"] == 30
    assert a["src"] == "10.0.0.1" and a["dst"] == "10.0.0.2"
    assert a["dport"] == 80
    assert a["outer_src"] == "192.0.2.1"
    # tenant B: SAME inner IPs, different VNI -> separate row
    b = rows[(200, 33002)]
    assert b["n_packets"] == 2 and b["payload_bytes"] == 40
    assert b["dport"] == 443
    # underlay flow: no VNI
    u = rows[(None, 22022)]
    assert u["n_packets"] == 1 and u["outer_src"] is None
    assert len(rows) == 3


def test_traceroute_path_golden(spark, queries):
    rows = sorted(
        queries["pcap_traceroute_path"].fn(spark, SF).collect(),
        key=lambda r: r["hop"],
    )
    assert len(rows) == 4  # noise ping (type 0) excluded
    assert [r["hop"] for r in rows] == [1, 2, 3, 4]
    assert [r["router"] for r in rows] == [
        "10.1.0.1", "10.2.0.1", "10.3.0.1", "198.51.100.50"]
    assert [r["rtt_us"] for r in rows] == [2000, 4000, 6000, 8000]
    assert [r["is_destination"] for r in rows] == [False, False, False, True]
    assert all(r["client"] == "10.0.5.1" for r in rows)


@needs_fixture
def test_capture_summary_golden(spark, queries):
    """capinfos parity on the reference fixture: 485 packets, 44.7 s span
    starting 2015-11-28 17:59:35 UTC (SURVEY.md 5.1 characterization)."""
    row = queries["pcap_capture_summary"].fn(
        spark, SF).collect()[0]
    assert row["n_packets"] == 485
    assert row["first_packet"].startswith("2015-11-28 17:59:35")
    assert 44.0 < row["duration_s"] < 45.5
    assert row["avg_pkt_bytes"] == row["total_bytes"] // 485
    assert row["avg_bits_per_s"] > 0


def test_http_transactions_golden(spark, queries):
    """multiproto_capture: GET /index.html -> 200 in 100 ms, then
    GET /missing -> 404 in 100 ms on the same stream."""
    rows = sorted(
        queries["pcap_http_transactions"].fn(spark, SF).collect(),
        key=lambda r: r["ordinal"],
    )
    assert len(rows) == 2
    assert rows[0]["method"] == "GET"
    assert rows[0]["uri"] == "/index.html"
    assert rows[0]["status"] == 200
    assert rows[0]["latency_us"] == 100_000
    assert rows[1]["uri"] == "/missing"
    assert rows[1]["status"] == 404
    assert rows[1]["latency_us"] == 100_000


def test_ipv6_traffic_golden(spark, queries):
    rows = {(r["family"], r["src"]): r
            for r in queries["pcap_ipv6_traffic"].fn(spark, SF).collect()}
    a = rows[("ipv6", "2001:db8:0:0:0:0:0:1")]
    assert a["n_packets"] == 2
    assert a["dst"] == "2001:db8:0:0:0:0:0:2"
    b = rows[("ipv6", "2001:db8:0:0:0:0:0:3")]
    assert b["n_packets"] == 1
    v4 = rows[("ipv4", "10.0.0.1")]
    assert v4["n_packets"] == 1
    assert len(rows) == 3


@needs_fixture
def test_pcap_lake_federation_goldens(spark, sf_dir):
    """Capture x parquet-dim federation: the per-service rollup must
    reproduce the flagship port-pair goldens through the broadcast join
    (429/259678 toward the fix-feed port, 56/19702 back)."""
    from wireduck_spark.registry import load_all_queries

    rows = {
        r["service"]: (r["n_packets"], r["payload_bytes"])
        for r in load_all_queries()["pcap_lake_federation"]
        .fn(spark, sf_dir).collect()
    }
    assert rows["fix-feed"] == (429, 259678)
    assert rows["fix-client"] == (56, 19702)


@needs_fixture
def test_pcap_capture_compare_goldens(spark, sf_dir):
    """Capture diff through the pcap sink: the data-only rewrite must
    drop exactly the zero-length segments of each direction of the
    flagship flow (429 -> 425 requests, 56 -> 5 responses)."""
    from wireduck_spark.registry import load_all_queries

    rows = {
        (r["srcport"], r["dstport"]):
            (r["n_before"], r["n_after"], r["status"])
        for r in load_all_queries()["pcap_capture_compare"]
        .fn(spark, sf_dir).collect()
    }
    assert rows[(11001, 53867)] == (429, 425, "changed")
    assert rows[(53867, 11001)] == (56, 5, "changed")


@needs_fixture
def test_pcap_flowlet_split_goldens(spark, sf_dir):
    """fix.pcap's one TCP stream must split into exactly 5 flowlets at
    the 5 s inactivity timeout, packets summing to the capture's 485,
    with the big data burst (450 pkts / 273199 B) as flowlet 2."""
    from wireduck_spark.registry import load_all_queries

    rows = [
        (r["flowlet_id"], r["n_packets"], r["payload_bytes"])
        for r in load_all_queries()["pcap_flowlet_split"]
        .fn(spark, sf_dir).collect()
    ]
    assert len(rows) == 5
    assert sum(n for _, n, _ in rows) == 485
    assert rows[1] == (2, 450, 273199)


@needs_fixture
def test_pcap_syn_options_goldens(spark, sf_dir):
    """fix.pcap's two loopback SYNs must surface MSS 65495 with window
    scales 7 (client) and 2 (server), both SACK-permitted."""
    from wireduck_spark.registry import load_all_queries

    rows = {
        (r["mss"], r["wscale"]): (r["sack_permitted"], r["n_syn"])
        for r in load_all_queries()["pcap_syn_options_audit"]
        .fn(spark, sf_dir).collect()
    }
    assert rows == {(65495, 7): (True, 1), (65495, 2): (True, 1)}


def test_pcap_quic_handshakes_goldens(spark, sf_dir):
    """QUIC long-header parse over the deterministic synth capture: 7
    packets -> 6 (version, dcid) rows; v1 client a1..a8 sends 1 Initial
    and receives/acks 2 Handshakes under the server's DCID, the v2
    (0x6b3343cf) pair parses with its draft version number, the unknown
    version 0x1a2a3a4a is answered by a version==0 Version Negotiation."""
    from wireduck_spark.registry import load_all_queries

    rows = {
        (r["version"], r["dcid"]): (
            r["n_packets"], r["n_initial"], r["n_handshake"],
            r["version_negotiation"],
        )
        for r in load_all_queries()["pcap_quic_handshakes"]
        .fn(spark, sf_dir).collect()
    }
    assert rows == {
        (0, "a1a2a3a4a5a6a7a8"): (1, 0, 0, 1),
        (1, "0f0e0d0c"): (2, 0, 2, 0),
        (1, "a1a2a3a4a5a6a7a8"): (1, 1, 0, 0),
        (0x1A2A3A4A, "a1a2a3a4a5a6a7a8"): (1, 1, 0, 0),
        (0x6B3343CF, "1f1e1d1c1b1a"): (1, 0, 1, 0),
        (0x6B3343CF, "b1b2b3b4"): (1, 1, 0, 0),
    }


def test_pcap_quic_vn_downgrade_goldens(spark, sf_dir):
    """VN downgrade detection over the deterministic downgrade capture:
    client .1 offered v2, got Version Negotiation, retried v1 -> flagged
    (RFC 9000 §6.3: VN must never move a client off a version it
    supports); client .2 is a clean v1 handshake; client .3 offered an
    unknown version and negotiated down to v1 legitimately -> NOT
    flagged."""
    from wireduck_spark.registry import load_all_queries

    rows = {
        r["client"]: (r["first_version"], r["vn_received"],
                      r["retry_version"], r["downgrade"])
        for r in load_all_queries()["pcap_quic_vn_downgrade"]
        .fn(spark, sf_dir).collect()
    }
    assert rows == {
        "10.0.8.1": (0x6B3343CF, 1, 1, 1),
        "10.0.8.2": (1, 0, None, 0),
        "10.0.8.3": (0x5A5A5A5A, 1, 1, 0),
    }


def test_quic_short_header_and_garbage_not_claimed(spark, sf_dir):
    """Opaque UDP/443 payloads must NOT gain quic.* fields: a short
    header (0b01......) is indistinguishable from random bytes without
    connection state, and a long-header lookalike with an oversized
    DCID length must fail validation leaving no partial fields."""
    from wireduck_spark.sources.native import dissect_packet
    from wireduck_spark.sources.synth import udp_frame

    for payload in (b"\x4a" + b"x" * 30,          # short-header form
                    b"\xc0\x00\x00\x00\x01\xff" + b"y" * 30):  # dcid>20
        f: dict = {}
        dissect_packet(udp_frame("10.0.0.1", "10.0.0.2", 51000, 443,
                                 payload), 1, f)
        assert not any(k.startswith("quic.") for k in f), f
        assert "quic" not in f["frame.protocols"]


def test_pcap_quic_federation_goldens(spark, sf_dir):
    """QUIC x edge-catalog federation goldens over the deterministic
    quic capture: all 7 long-header packets attribute to cloud-edge-1;
    v1 carries 3 packets across 2 DCIDs (client a1..a8 + server
    0f0e0d0c), the v2 pair splits into 2 DCIDs, Version Negotiation
    keeps its own version-0 row."""
    from wireduck_spark.registry import load_all_queries

    rows = {
        (r["tenant"], r["version"]): (r["n_packets"], r["n_dcids"])
        for r in load_all_queries()["pcap_quic_federation"]
        .fn(spark, sf_dir).collect()
    }
    assert rows == {
        ("cloud-edge-1", 0): (1, 1),
        ("cloud-edge-1", 1): (3, 2),
        ("cloud-edge-1", 0x1A2A3A4A): (1, 1),
        ("cloud-edge-1", 0x6B3343CF): (2, 2),
    }


def test_pcap_service_inventory_goldens(spark, sf_dir):
    """Banner-protocol inventory over the deterministic services
    capture: SSH (2 banner packets, min banner = the OpenSSH client
    string), SMTP (7 control packets, 4 distinct commands: EHLO, MAIL,
    RCPT, QUIT), FTP (5 packets, 2 commands: USER, PASS) — all on
    server 10.0.9.2."""
    from wireduck_spark.registry import load_all_queries

    rows = {
        (r["server"], r["service"]): (
            r["n_packets"], r["ssh_banner"], r["n_distinct_commands"])
        for r in load_all_queries()["pcap_service_inventory"]
        .fn(spark, sf_dir).collect()
    }
    assert rows == {
        ("10.0.9.2", "ssh"): (2, "SSH-2.0-OpenSSH_8.9p1", 0),
        ("10.0.9.2", "smtp"): (7, None, 4),
        ("10.0.9.2", "ftp"): (5, None, 2),
    }


def test_banner_dissectors_not_claimed_off_port_or_garbage():
    """A payload that LOOKS like a banner on a non-service port stays
    opaque TCP; garbage on port 22/25/21 claims nothing."""
    from wireduck_spark.sources.native import dissect_packet
    from wireduck_spark.sources.synth import tcp_frame

    f: dict = {}
    dissect_packet(tcp_frame("10.0.0.1", "10.0.0.2", 40000, 40001, 1,
                             0x18, b"SSH-2.0-OpenSSH_8.9\r\n"), 1, f)
    assert "ssh.protocol" not in f
    for port, payload in ((22, b"\x00\x01\x02binary"),
                          (25, b"NOTACMD something\r\n"),
                          (21, b"\xff\xfe garbage")):
        f2: dict = {}
        dissect_packet(tcp_frame("10.0.0.1", "10.0.0.2", 40000, port, 1,
                                 0x18, payload), 1, f2)
        assert not any(k.startswith(("ssh.", "smtp.", "ftp."))
                       for k in f2), (port, f2)


def test_ntp_clock_skew_goldens(spark, sf_dir):
    """Passive clock-skew audit over the deterministic NTP capture:
    client A runs +0.25 s fast, client B -0.125 s slow, the server is
    the capture-box reference (skew exactly 0 — both timestamps use
    exact binary sub-second fractions, so no fixed-point truncation)."""
    rows = {
        (r["host"], r["role"]): (r["n_packets"], r["stratum"],
                                 r["mean_skew_us"])
        for r in load_all_queries()["pcap_ntp_clock_skew"]
        .fn(spark, sf_dir).collect()
    }
    assert rows == {
        ("10.0.10.1", "client"): (3, 16, 250000),
        ("10.0.10.2", "client"): (3, 16, -125000),
        ("192.0.2.10", "server"): (6, 2, 0),
    }


def test_dhcp_lease_inventory_goldens(spark, sf_dir):
    """DORA accounting over the deterministic DHCP capture: client A's
    clean 4-message lease of .100; client B NAKed once, then leased
    .101 on the second round (2 discovers/offers/requests, 1 ack,
    1 nak)."""
    rows = {
        r["mac"]: (r["n_discover"], r["n_offer"], r["n_request"],
                   r["n_ack"], r["n_nak"], r["leased_ip"])
        for r in load_all_queries()["pcap_dhcp_lease_inventory"]
        .fn(spark, sf_dir).collect()
    }
    assert rows == {
        "de:ad:be:ef:00:01": (1, 1, 1, 1, 0, "192.168.1.100"),
        "de:ad:be:ef:00:02": (2, 2, 2, 1, 1, "192.168.1.101"),
    }


@needs_fixture
def test_flow_export_sink_golden(spark, queries):
    """The exported flow table must reproduce the reference README's
    fix.pcap goldens (429 pkts / 259678 payload bytes one direction,
    56 / 19702 the other) AFTER the parquet round-trip, proving the
    sink wrote exactly what the rollup computed."""
    rows = {
        (r["src_port"], r["dst_port"]): r
        for r in queries["pcap_flow_export_sink"].fn(spark, SF).collect()
    }
    fwd = rows[(11001, 53867)]
    rev = rows[(53867, 11001)]
    assert fwd["n_packets"] == 429 and fwd["payload_bytes"] == 259678
    assert rev["n_packets"] == 56 and rev["payload_bytes"] == 19702
    assert len(rows) == 2
    for r in rows.values():
        assert r["n_bytes"] >= r["payload_bytes"]
        assert r["first_seen"] <= r["last_seen"]


@needs_fixture
def test_flow_import_talkers_golden(spark, queries):
    """The flow-lake IMPORT query must fold the exported table's two
    directional flows into one loopback-host row whose counters equal
    the README goldens summed per role: 429+56 = 485 packets each way
    and identical bytes in/out (every flow is 127.0.0.1 -> 127.0.0.1)."""
    rows = queries["pcap_flow_import_talkers"].fn(spark, SF).collect()
    assert len(rows) == 1
    [r] = rows
    assert r["host"] == "127.0.0.1"
    assert r["flows_out"] == 2 and r["flows_in"] == 2
    assert r["pkts_out"] == 485 and r["pkts_in"] == 485
    assert r["bytes_out"] == r["bytes_in"] == r["bytes_total"] // 2
    assert r["bytes_total"] == 622836


def test_scratch_dir_reaps_dead_owners_only(tmp_path, monkeypatch):
    """ADVICE r11 + the r12 review's lazy-handle hazard: repeated
    invocations accumulated one wireduck_flow_lake_* dir per run, but an
    age floor alone could reap a dir a LIVE session's lazily-returned
    DataFrame still re-scans. _scratch_dir therefore embeds the creator
    pid and reaps only dirs whose creator is GONE: dead-pid dirs past
    the 5-minute minimum-age floor go (the floor shrinks the
    probe-to-rmtree race and the PID-recycling window — ADVICE r12),
    young dirs survive regardless of pid, live-pid dirs survive at any
    age, legacy un-pidded dirs fall back to the age floor, other
    prefixes are never touched, and the fresh dir carries this
    process's pid."""
    import tempfile

    from wireduck_spark.sources.pcap_queries import _scratch_dir

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path), raising=False)
    # pid 1 is init (alive, unsignalable by us -> must survive);
    # pick a dead pid by probing a high range.
    dead_pid = None
    for cand in range(99999, 90000, -7):
        try:
            os.kill(cand, 0)
        except ProcessLookupError:
            dead_pid = cand
            break
        except (PermissionError, OSError):
            continue
    assert dead_pid is not None
    dead = tmp_path / f"wireduck_test_scratch_{dead_pid}_x"
    dead_young = tmp_path / f"wireduck_test_scratch_{dead_pid}_y"
    live = tmp_path / "wireduck_test_scratch_1_x"
    mine = tmp_path / f"wireduck_test_scratch_{os.getpid()}_x"
    legacy_old = tmp_path / "wireduck_test_scratch_legacy_old"
    legacy_new = tmp_path / "wireduck_test_scratch_legacy_new"
    other = tmp_path / "unrelated_prefix_dir"
    for d in (dead, dead_young, live, mine, legacy_old, legacy_new, other):
        d.mkdir()
    old = 1_000_000_000  # 2001 — far past any age floor
    for d in (dead, live, legacy_old, other):
        os.utime(d, (old, old))

    fresh = _scratch_dir("wireduck_test_scratch_")
    assert os.path.isdir(fresh)
    assert f"wireduck_test_scratch_{os.getpid()}_" in fresh
    assert not dead.exists(), "dead-owner dir was not reaped"
    assert dead_young.exists(), \
        "dead-owner dir younger than the min-age floor must survive"
    assert live.exists(), "live-owner dir must survive at any age"
    assert mine.exists(), "this process's own prior dir must survive"
    assert not legacy_old.exists(), "old legacy dir past floor not reaped"
    assert legacy_new.exists(), "young legacy dir must survive"
    assert other.exists(), "other-prefix dirs must never be touched"


@needs_fixture
def test_flow_lake_recurring_dst_golden(spark, queries):
    """The multi-capture flow lake must surface EXACTLY the two
    destinations present in more than one capture: the benign client
    10.0.1.1 reaches 10.0.2.1:80 and :443 in BOTH the session and the
    portscan fixtures, while fix.pcap's loopback flows and the 25
    scanned ports are single-capture noise. Counters derive from the
    synth frame lists: port 80 sees session stream A's 6 packets
    (one side) ... pinned as totals below."""
    rows = {
        (r["dst_addr"], r["dst_port"]): r
        for r in queries["pcap_flow_lake_recurring_dst"].fn(
            spark, SF).collect()
    }
    assert set(rows) == {("10.0.2.1", 80), ("10.0.2.1", 443)}
    p80, p443 = rows[("10.0.2.1", 80)], rows[("10.0.2.1", 443)]
    assert p80["n_captures"] == 2 and p443["n_captures"] == 2
    assert p80["n_flows"] == 2 and p443["n_flows"] == 2
    assert p80["pkts"] == 8 and p443["pkts"] == 6
    assert p80["bytes"] == 470 and p443["bytes"] == 347
