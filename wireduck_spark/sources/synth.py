"""Deterministic synthetic capture builder (classic libpcap framing:
24-byte global header + 16-byte record headers — SURVEY.md §5.1).

Used by the registry's protocol-dissection queries: DuckDB can't read
pcap and the reference fixture (fix.pcap) carries only one TCP flow, so
multi-protocol coverage (DNS/HTTP/ARP/ICMP) runs over a capture
synthesized bit-for-bit reproducibly here.
"""

from __future__ import annotations

import hashlib
import os
import struct


def _eth(src_mac: bytes, ethertype: int) -> bytes:
    return bytes(6) + src_mac + struct.pack(">H", ethertype)


def _ipv4(src: str, dst: str, proto: int, payload_len: int,
          ttl: int = 64) -> bytes:
    return struct.pack(
        ">BBHHHBBH4s4s",
        0x45, 0, 20 + payload_len, 1, 0, ttl, proto, 0,
        bytes(int(x) for x in src.split(".")),
        bytes(int(x) for x in dst.split(".")),
    )


def tcp_frame(src: str, dst: str, sport: int, dport: int, seq: int,
              flags: int, payload: bytes) -> bytes:
    tcp = struct.pack(">HHIIBBHHH", sport, dport, seq, 0, 5 << 4, flags,
                      8192, 0, 0) + payload
    return _eth(b"\x02\0\0\0\0\x01", 0x0800) + _ipv4(
        src, dst, 6, len(tcp)
    ) + tcp


def udp_frame(src: str, dst: str, sport: int, dport: int,
              payload: bytes, ttl: int = 64) -> bytes:
    udp = struct.pack(">HHHH", sport, dport, 8 + len(payload), 0) + payload
    return _eth(b"\x02\0\0\0\0\x01", 0x0800) + _ipv4(
        src, dst, 17, len(udp), ttl=ttl
    ) + udp


def icmp_frame(src: str, dst: str, icmp_type: int, ident: int,
               seq: int) -> bytes:
    icmp = struct.pack(">BBHHH", icmp_type, 0, 0, ident, seq) + b"ping"
    return _eth(b"\x02\0\0\0\0\x01", 0x0800) + _ipv4(
        src, dst, 1, len(icmp)
    ) + icmp


def arp_frame(opcode: int, src_mac: bytes, src_ip: str, dst_ip: str) -> bytes:
    arp = struct.pack(">HHBBH", 1, 0x0800, 6, 4, opcode)
    arp += src_mac + bytes(int(x) for x in src_ip.split("."))
    arp += bytes(6) + bytes(int(x) for x in dst_ip.split("."))
    return _eth(src_mac, 0x0806) + arp


def dns_query(qname: str, qtype: int = 1, dns_id: int = 0x1234) -> bytes:
    q = b"".join(
        bytes([len(p)]) + p.encode() for p in qname.split(".")
    ) + b"\x00"
    return struct.pack(">HHHHHH", dns_id, 0x0100, 1, 0, 0, 0) + q + \
        struct.pack(">HH", qtype, 1)


def pcap_bytes(frames: list[tuple[float, bytes]], nanos: bool = False,
               snaplen: int = 262144) -> bytes:
    """[(epoch_ts, frame_bytes)] -> a classic little-endian Ethernet
    libpcap capture (microsecond, or nanosecond with ``nanos``)."""
    magic = 0xA1B23C4D if nanos else 0xA1B2C3D4
    mult = 1_000_000_000 if nanos else 1_000_000
    chunks = [struct.pack("<IHHiIII", magic, 2, 4, 0, 0, snaplen, 1)]
    for ts, data in frames:
        sec = int(ts)
        frac = int(round((ts - sec) * mult))
        chunks += (struct.pack("<IIII", sec, frac, len(data), len(data)),
                   data)
    return b"".join(chunks)


def write_pcap(path: str, frames: list[tuple[float, bytes]]) -> str:
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(pcap_bytes(frames))
    os.replace(tmp, path)
    return path


def tls_client_hello(sni: str, version: int = 0x0303,
                     ciphers: tuple[int, ...] = (0x1301, 0x1302),
                     curves: tuple[int, ...] = (),
                     ec_formats: tuple[int, ...] = ()) -> bytes:
    """Minimal-but-well-formed TLS ClientHello record with an SNI
    extension (deterministic random bytes); optional supported_groups /
    ec_point_formats extensions so JA3 covers all five fields."""
    host = sni.encode()
    ext_sni = struct.pack(">HHHBH", 0, len(host) + 5, len(host) + 3, 0,
                          len(host)) + host
    ext_blob = ext_sni
    if curves:
        groups = b"".join(struct.pack(">H", g) for g in curves)
        ext_blob += struct.pack(">HHH", 10, len(groups) + 2,
                                len(groups)) + groups
    if ec_formats:
        fmts = bytes(ec_formats)
        ext_blob += struct.pack(">HHB", 11, len(fmts) + 1, len(fmts)) + fmts
    exts = struct.pack(">H", len(ext_blob)) + ext_blob
    body = struct.pack(">H", version) + bytes(range(32))  # version + random
    body += b"\x00"  # empty session id
    cs = b"".join(struct.pack(">H", c) for c in ciphers)
    body += struct.pack(">H", len(cs)) + cs
    body += b"\x01\x00"  # compression: null
    body += exts
    hs = b"\x01" + len(body).to_bytes(3, "big") + body
    return b"\x16\x03\x01" + struct.pack(">H", len(hs)) + hs


def tls_server_hello(version: int = 0x0303) -> bytes:
    body = struct.pack(">H", version) + bytes(range(32)) + b"\x00" + \
        b"\x13\x01" + b"\x00"
    hs = b"\x02" + len(body).to_bytes(3, "big") + body
    return b"\x16\x03\x03" + struct.pack(">H", len(hs)) + hs


def tls_capture(path: str) -> str:
    """3-frame TLS exchange: two ClientHellos (distinct SNI) + one
    ServerHello, plus an application-data record."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700000100.0
    frames = [
        (t + 0.0, tcp_frame("10.0.0.1", "142.250.1.1", 50001, 443, 1, 0x18,
                            tls_client_hello("spark.apache.org"))),
        (t + 0.1, tcp_frame("142.250.1.1", "10.0.0.1", 443, 50001, 1, 0x18,
                            tls_server_hello())),
        (t + 0.2, tcp_frame("10.0.0.2", "142.250.1.2", 50002, 443, 1, 0x18,
                            tls_client_hello("duckdb.org", 0x0304))),
        (t + 0.3, tcp_frame("142.250.1.1", "10.0.0.1", 443, 50001, 40, 0x18,
                            b"\x17\x03\x03\x00\x05hello")),
    ]
    return write_pcap(path, frames)


def throughput_capture(path: str, n_packets: int = 200_000) -> str:
    """~21 MB deterministic capture (mixed TCP/UDP, 50 ports) for the
    bench's pcap-throughput entry: big enough that dissection dominates
    session overhead, small enough to build once in ~2 s (cached)."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700000000.0
    payload = b"x" * 40
    frames = []
    for i in range(n_packets):
        if i % 4 == 3:
            frames.append((t + i * 1e-4, udp_frame(
                "10.0.0.1", "10.0.0.2", 1000 + i % 50, 2000, payload)))
        else:
            frames.append((t + i * 1e-4, tcp_frame(
                "10.0.0.1", "10.0.0.2", 1000 + i % 50, 80, i, 0x18, payload)))
    return write_pcap(path, frames)


def multiproto_capture(path: str) -> str:
    """Write (idempotently) a 12-frame capture covering ARP, ICMP, DNS,
    HTTP and plain TCP/UDP — deterministic bytes, stable across runs."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700000000.0
    frames = [
        (t + 0.0, arp_frame(1, b"\x02\0\0\0\0\x01", "10.0.0.1", "10.0.0.254")),
        (t + 0.1, arp_frame(2, b"\x02\0\0\0\0\xfe", "10.0.0.254", "10.0.0.1")),
        (t + 0.2, dns_query_frame("example.com", 1, 0x1111)),
        (t + 0.3, dns_query_frame("spark.apache.org", 28, 0x2222)),
        (t + 0.4, dns_query_frame("example.com", 1, 0x3333)),
        (t + 0.5, icmp_frame("10.0.0.1", "8.8.8.8", 8, 7, 1)),
        (t + 0.6, icmp_frame("8.8.8.8", "10.0.0.1", 0, 7, 1)),
        (t + 1.0, tcp_frame("10.0.0.1", "93.184.216.34", 40001, 80, 1, 0x18,
                            b"GET /index.html HTTP/1.1\r\nHost: e\r\n\r\n")),
        (t + 1.1, tcp_frame("93.184.216.34", "10.0.0.1", 80, 40001, 1, 0x18,
                            b"HTTP/1.1 200 OK\r\n\r\n")),
        (t + 1.2, tcp_frame("10.0.0.1", "93.184.216.34", 40001, 80, 40, 0x18,
                            b"GET /missing HTTP/1.1\r\nHost: e\r\n\r\n")),
        (t + 1.3, tcp_frame("93.184.216.34", "10.0.0.1", 80, 40001, 20, 0x18,
                            b"HTTP/1.1 404 Not Found\r\n\r\n")),
        (t + 2.0, udp_frame("10.0.0.9", "10.0.0.10", 9999, 10000, b"hello")),
    ]
    return write_pcap(path, frames)


def dns_query_frame(qname: str, qtype: int, dns_id: int) -> bytes:
    return udp_frame("10.0.0.1", "1.1.1.1", 40000, 53,
                     dns_query(qname, qtype, dns_id))


def beacon_capture(path: str) -> str:
    """Two UDP flows for beacon hunting: an implant checking in every
    30 s with ±0.2 s jitter (coefficient of variation ~0.007 — regular)
    and a browsing-shaped flow with bursty gaps (CV >> 0.3 — irregular).
    Timestamps are hand-chosen so tests/test_pcap_analysis.py can derive
    the expected verdicts by inspection."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700002000.0
    frames = []
    # implant: 21 check-ins, gaps 29.8-30.2 s (deterministic jitter)
    jitter = [0.0, 0.2, -0.2, 0.1, -0.1, 0.0, 0.2, -0.2, 0.1, -0.1,
              0.0, 0.2, -0.2, 0.1, -0.1, 0.0, 0.2, -0.2, 0.1, -0.1, 0.0]
    at = t
    for i, j in enumerate(jitter):
        at = t + 30.0 * i + j
        frames.append((at, udp_frame("10.0.5.5", "10.9.9.9", 49152, 443,
                                     b"\x17\x01" + bytes(30))))
    # browsing: bursty gaps (seconds): 1, 7, 2, 40, 3, 90, 1, 25, 2, 60
    gaps = [0, 1, 8, 10, 50, 53, 143, 144, 169, 171, 231]
    for g in gaps:
        frames.append((t + 0.5 + g, udp_frame("10.0.5.6", "93.184.216.34",
                                              50000, 443, b"GET" + bytes(20))))
    frames.sort(key=lambda f: f[0])
    return write_pcap(path, frames)


def dns_response(qname: str, dns_id: int, answer_ip: str | None = "93.184.216.34",
                 ttl: int = 300, rcode: int = 0) -> bytes:
    """DNS response payload: echoes the question, optionally one A answer
    (name via 0xc00c compression pointer). rcode=3 + answer_ip=None gives
    an NXDOMAIN shape."""
    q = b"".join(
        bytes([len(p)]) + p.encode() for p in qname.split(".")
    ) + b"\x00" + struct.pack(">HH", 1, 1)
    an = 1 if answer_ip else 0
    hdr = struct.pack(">HHHHHH", dns_id, 0x8180 | rcode, 1, an, 0, 0)
    ans = b""
    if answer_ip:
        ans = b"\xc0\x0c" + struct.pack(">HHIH", 1, 1, ttl, 4) + bytes(
            int(x) for x in answer_ip.split(".")
        )
    return hdr + q + ans


def session_capture(path: str) -> str:
    """Deterministic capture for connection-quality analytics: two TCP
    sessions with full handshakes (50 ms and 120 ms SYN->SYN-ACK RTT), one
    retransmitted data segment on stream A, a handshake-less data flow,
    and three DNS transactions (30 ms answered, 450 ms NXDOMAIN, one
    never answered). Golden values in tests/test_pcap_analysis.py derive
    from exactly these timestamps."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700001000.0
    a = ("10.0.1.1", "10.0.2.1", 40001, 80)      # stream A endpoints
    b = ("10.0.1.2", "10.0.2.1", 40002, 443)     # stream B endpoints
    frames = [
        # stream A: SYN / SYN-ACK (+50 ms) / ACK, data, retransmission, FIN
        (t + 0.000000, tcp_frame(a[0], a[1], a[2], a[3], 100, 0x02, b"")),
        (t + 0.050000, tcp_frame(a[1], a[0], a[3], a[2], 500, 0x12, b"")),
        (t + 0.050500, tcp_frame(a[0], a[1], a[2], a[3], 101, 0x10, b"")),
        (t + 0.060000, tcp_frame(a[0], a[1], a[2], a[3], 101, 0x18,
                                 b"0123456789")),
        (t + 0.200000, tcp_frame(a[0], a[1], a[2], a[3], 101, 0x18,
                                 b"0123456789")),  # retransmission
        (t + 0.250000, tcp_frame(a[1], a[0], a[3], a[2], 501, 0x18,
                                 b"abcdefghijklmnopqrst")),
        (t + 0.300000, tcp_frame(a[0], a[1], a[2], a[3], 111, 0x11, b"")),
        # stream B: SYN / SYN-ACK (+120 ms) / ACK, one data segment
        (t + 1.000000, tcp_frame(b[0], b[1], b[2], b[3], 7000, 0x02, b"")),
        (t + 1.120000, tcp_frame(b[1], b[0], b[3], b[2], 9000, 0x12, b"")),
        (t + 1.120600, tcp_frame(b[0], b[1], b[2], b[3], 7001, 0x10, b"")),
        (t + 1.130000, tcp_frame(b[0], b[1], b[2], b[3], 7001, 0x18,
                                 b"hello")),
        # stream C: mid-connection data only (no handshake in capture)
        (t + 2.000000, tcp_frame("10.0.1.3", "10.0.2.2", 40003, 9000, 42,
                                 0x18, b"orphan")),
        # DNS: answered in 30 ms / NXDOMAIN in 450 ms / never answered
        (t + 3.000000, udp_frame("10.0.3.1", "1.1.1.1", 41000, 53,
                                 dns_query("fast.example.com", 1, 0xAAAA))),
        (t + 3.030000, udp_frame("1.1.1.1", "10.0.3.1", 53, 41000,
                                 dns_response("fast.example.com", 0xAAAA))),
        (t + 4.000000, udp_frame("10.0.3.1", "1.1.1.1", 41001, 53,
                                 dns_query("slow.example.com", 1, 0xBBBB))),
        (t + 4.450000, udp_frame("1.1.1.1", "10.0.3.1", 53, 41001,
                                 dns_response("slow.example.com", 0xBBBB,
                                              answer_ip=None, rcode=3))),
        (t + 5.000000, udp_frame("10.0.3.1", "1.1.1.1", 41002, 53,
                                 dns_query("lost.example.com", 1, 0xCCCC))),
    ]
    return write_pcap(path, frames)


def portscan_capture(path: str) -> str:
    """SYN-scan fixture: scanner 10.0.9.9 probes 25 consecutive ports of
    10.0.2.1 (bare SYNs 100 ms apart, RST answers), while legitimate
    client 10.0.1.1 completes ordinary handshakes to just ports 80/443.
    tests/test_pcap_analysis.py asserts the scanner/benign verdicts."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700003000.0
    frames = []
    for i in range(25):
        at = t + 0.1 * i
        frames.append((at, tcp_frame("10.0.9.9", "10.0.2.1", 54321,
                                     2000 + i, 1, 0x02, b"")))
        frames.append((at + 0.001, tcp_frame("10.0.2.1", "10.0.9.9",
                                             2000 + i, 54321, 0, 0x14,
                                             b"")))  # RST+ACK
    for j, port in enumerate((80, 443)):
        base = t + 1.0 + 0.5 * j
        frames.append((base, tcp_frame("10.0.1.1", "10.0.2.1", 40100 + j,
                                       port, 10, 0x02, b"")))
        frames.append((base + 0.02, tcp_frame("10.0.2.1", "10.0.1.1", port,
                                              40100 + j, 90, 0x12, b"")))
        frames.append((base + 0.021, tcp_frame("10.0.1.1", "10.0.2.1",
                                               40100 + j, port, 11, 0x10,
                                               b"")))
        frames.append((base + 0.03, tcp_frame("10.0.1.1", "10.0.2.1",
                                              40100 + j, port, 11, 0x18,
                                              b"GET / HTTP/1.1\r\n\r\n")))
    frames.sort(key=lambda f: f[0])
    return write_pcap(path, frames)


def ja3_capture(path: str) -> str:
    """JA3 fixture: two clients sharing one TLS stack (identical
    fingerprint, different SNI), plus one GREASE-speaking client whose
    GREASE cipher/curve values must be stripped from the JA3 string.
    tests/test_pcap_analysis.py computes the expected md5s directly."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700004000.0
    frames = [
        (t + 0.0, tcp_frame("10.0.7.1", "142.250.1.1", 50001, 443, 1, 0x18,
                            tls_client_hello("a.example.com"))),
        (t + 0.1, tcp_frame("10.0.7.2", "142.250.1.1", 50002, 443, 1, 0x18,
                            tls_client_hello("b.example.com"))),
        (t + 0.2, tcp_frame("10.0.7.3", "142.250.1.1", 50003, 443, 1, 0x18,
                            tls_client_hello(
                                "c.example.com",
                                ciphers=(0x0A0A, 0x1301, 0xC02B),
                                curves=(0x1A1A, 29, 23),
                                ec_formats=(0,)))),
    ]
    return write_pcap(path, frames)


def arp_spoof_capture(path: str) -> str:
    """ARP-spoof fixture: gateway 10.0.0.1 answers legitimately from
    aa:00:00:00:00:01 (3 replies), then an attacker claims the same IP
    from ee:00:00:00:00:66 (2 gratuitous replies); benign host 10.0.0.5
    answers once. tests/test_pcap_analysis.py asserts exactly the
    gateway IP is flagged and the MAC sets match."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700005000.0
    gw_mac = bytes.fromhex("aa0000000001")
    atk_mac = bytes.fromhex("ee0000000066")
    host_mac = bytes.fromhex("bb0000000002")
    frames = [
        (t + 0.0, arp_frame(1, bytes.fromhex("cc0000000003"),
                            "10.0.0.7", "10.0.0.1")),  # who-has (ignored)
        (t + 0.1, arp_frame(2, gw_mac, "10.0.0.1", "10.0.0.7")),
        (t + 5.0, arp_frame(2, gw_mac, "10.0.0.1", "10.0.0.8")),
        (t + 9.0, arp_frame(2, gw_mac, "10.0.0.1", "10.0.0.9")),
        (t + 12.0, arp_frame(2, atk_mac, "10.0.0.1", "10.0.0.7")),
        (t + 12.5, arp_frame(2, atk_mac, "10.0.0.1", "10.0.0.8")),
        (t + 15.0, arp_frame(2, host_mac, "10.0.0.5", "10.0.0.7")),
    ]
    return write_pcap(path, frames)


def entropy_capture(path: str) -> str:
    """Payload-entropy fixture: three TCP streams with analytically known
    Shannon entropy — constant bytes (exactly 0.0 bits), one packet
    containing every byte value once (exactly 8.0 bits), and ASCII text
    (computed in the test from the same bytes)."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700006000.0
    text = (b"GET /index.html HTTP/1.1\r\nHost: example.com\r\n"
            b"User-Agent: test\r\n\r\n")
    frames = [
        (t + 0.0, tcp_frame("10.0.3.1", "10.0.4.1", 41001, 9100, 1, 0x18,
                            b"\x00" * 120)),
        (t + 0.1, tcp_frame("10.0.3.1", "10.0.4.1", 41001, 9100, 121, 0x18,
                            b"\x00" * 80)),
        (t + 0.2, tcp_frame("10.0.3.2", "10.0.4.1", 41002, 9200, 1, 0x18,
                            bytes(range(256)))),
        (t + 0.3, tcp_frame("10.0.3.3", "10.0.4.1", 41003, 80, 1, 0x18,
                            text)),
    ]
    return write_pcap(path, frames)


def dns_tunnel_capture(path: str) -> str:
    """DNS-tunneling fixture: 30 exfil queries with long unique base32-ish
    subdomain labels under tun.example.com at 2 qps, against 4 benign
    lookups of ordinary short names. tests/test_pcap_analysis.py asserts
    exactly the tunnel domain is flagged."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700007000.0
    frames = []
    for i in range(30):
        label = hashlib.md5(f"exfil-{i}".encode()).hexdigest()[:28]
        qname = f"c{i:02d}{label}.tun.example.com"
        frames.append((t + 0.5 * i,
                       udp_frame("10.0.8.1", "1.1.1.1", 42000 + i, 53,
                                 dns_query(qname, 16, 0x3000 + i))))
    for j, name in enumerate(("www.example.org", "mail.google.com",
                              "cdn.fastly.net", "api.github.com")):
        frames.append((t + 20.0 + j,
                       udp_frame("10.0.8.2", "1.1.1.1", 43000 + j, 53,
                                 dns_query(name, 1, 0x4000 + j))))
    frames.sort(key=lambda f: f[0])
    return write_pcap(path, frames)


def vxlan_encap(outer_src: str, outer_dst: str, vni: int,
                inner_frame: bytes) -> bytes:
    """Wrap a complete inner Ethernet frame in UDP/4789 + VXLAN header
    (RFC 7348: flags 0x08 = VNI valid, 3-byte VNI)."""
    vxlan_hdr = bytes([0x08, 0, 0, 0]) + vni.to_bytes(3, "big") + b"\x00"
    return udp_frame(outer_src, outer_dst, 49152, 4789,
                     vxlan_hdr + inner_frame)


def vxlan_capture(path: str) -> str:
    """Overlay-network fixture: two tenants (VNI 100 / VNI 200) tunneled
    between the same two VTEPs, plus one un-tunneled underlay flow.
    Tenant flows reuse overlapping RFC1918 inner addresses — the case
    where outer-header analytics are useless and decap is mandatory."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700008000.0
    vtep = ("192.0.2.1", "192.0.2.2")
    frames = []
    # tenant A (VNI 100): web flow, 3 data packets
    for i in range(3):
        inner = tcp_frame("10.0.0.1", "10.0.0.2", 33001, 80,
                          1 + i * 10, 0x18, b"A" * 10)
        frames.append((t + 0.1 * i, vxlan_encap(*vtep, 100, inner)))
    # tenant B (VNI 200): SAME inner IPs, different app, 2 packets
    for i in range(2):
        inner = tcp_frame("10.0.0.1", "10.0.0.2", 33002, 443,
                          1 + i * 20, 0x18, b"B" * 20)
        frames.append((t + 1.0 + 0.1 * i, vxlan_encap(*vtep, 200, inner)))
    # underlay management flow (no tunnel)
    frames.append((t + 2.0, tcp_frame("192.0.2.1", "192.0.2.9", 22022, 22,
                                      5, 0x18, b"ssh-ish")))
    return write_pcap(path, frames)


def traceroute_capture(path: str) -> str:
    """Traceroute fixture: UDP probes from 10.0.5.1 to 198.51.100.50 with
    TTL 1..4 (classic 33434+ ports); hops 1-3 answer ICMP time-exceeded
    from router IPs at +2/ +4/ +6 ms, the destination answers ICMP
    port-unreachable at +8 ms. One unrelated ping is noise."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700009000.0
    client, dst = "10.0.5.1", "198.51.100.50"
    routers = ("10.1.0.1", "10.2.0.1", "10.3.0.1")
    frames = []
    for hop in range(1, 5):
        base = t + hop  # one probe per second, like real traceroute
        frames.append((base, udp_frame(client, dst, 40000 + hop,
                                       33433 + hop, b"probe", ttl=hop)))
        if hop <= 3:
            frames.append((base + 0.002 * hop,
                           icmp_frame(routers[hop - 1], client, 11, 0, 0)))
        else:
            frames.append((base + 0.008,
                           icmp_frame(dst, client, 3, 0, 0)))
    frames.append((t + 10.0, icmp_frame("8.8.8.8", "10.0.9.9", 0, 1, 1)))
    frames.sort(key=lambda f: f[0])
    return write_pcap(path, frames)


def _ipv6_addr(suffix: int) -> bytes:
    return bytes.fromhex("20010db8") + bytes(10) + struct.pack(">H", suffix)


def ipv6_frame(src_sfx: int, dst_sfx: int, sport: int, dport: int,
               payload: bytes, proto: int = 17) -> bytes:
    """Minimal Ethernet/IPv6/UDP-or-TCP frame (2001:db8::/32 doc prefix)."""
    if proto == 17:
        l4 = struct.pack(">HHHH", sport, dport, 8 + len(payload), 0) + payload
    else:  # TCP
        l4 = struct.pack(">HHIIBBHHH", sport, dport, 1, 0, 5 << 4, 0x18,
                         8192, 0, 0) + payload
    ip6 = struct.pack(">IHBB", 0x60000000, len(l4), proto, 64)
    ip6 += _ipv6_addr(src_sfx) + _ipv6_addr(dst_sfx)
    return _eth(b"\x02\0\0\0\0\x01", 0x86DD) + ip6 + l4


def ipv6_capture(path: str) -> str:
    """Dual-stack fixture: two IPv6 flows (UDP + TCP) and one IPv4 flow,
    for the v6 traffic rollup query."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700011000.0
    frames = [
        (t + 0.0, ipv6_frame(1, 2, 40001, 53, b"q6-dns", proto=17)),
        (t + 0.1, ipv6_frame(1, 2, 40001, 53, b"q6-dns2", proto=17)),
        (t + 0.2, ipv6_frame(3, 2, 40002, 443, b"tls6-bytes", proto=6)),
        (t + 0.3, tcp_frame("10.0.0.1", "10.0.0.2", 40003, 80, 1, 0x18,
                            b"v4")),
    ]
    return write_pcap(path, frames)


def quic_long_header(ptype: int, version: int, dcid: bytes, scid: bytes,
                     payload: bytes = b"\x00" * 40) -> bytes:
    """QUIC long-header packet bytes (RFC 9000 §17.2): first byte
    0b11TTxxxx, 4-byte version, length-prefixed DCID/SCID, opaque rest
    (token/length/PN are protected payload as far as header parsing
    goes)."""
    b0 = 0xC0 | ((ptype & 0x03) << 4)
    return (bytes([b0]) + version.to_bytes(4, "big")
            + bytes([len(dcid)]) + dcid
            + bytes([len(scid)]) + scid
            + payload)


def quic_capture(path: str) -> str:
    """Deterministic QUIC handshake capture: two clients dial
    cloud.example (UDP/443) with v1 Initial + Handshake exchanges, one
    speaks draft v2 (0x6b3343cf), and the server answers one unknown
    version with Version Negotiation (version 0)."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700000600.0
    c1, s1 = bytes.fromhex("a1a2a3a4a5a6a7a8"), bytes.fromhex("0f0e0d0c")
    c2, s2 = bytes.fromhex("b1b2b3b4"), bytes.fromhex("1f1e1d1c1b1a")
    frames = [
        # client 1: v1 Initial -> server Handshake back
        (t + 0.000, udp_frame("10.0.7.1", "203.0.113.80", 51111, 443,
                              quic_long_header(0, 1, c1, b""))),
        (t + 0.030, udp_frame("203.0.113.80", "10.0.7.1", 443, 51111,
                              quic_long_header(2, 1, s1, c1))),
        (t + 0.031, udp_frame("10.0.7.1", "203.0.113.80", 51111, 443,
                              quic_long_header(2, 1, s1, c1))),
        # client 2: QUIC v2 Initial (version 0x6b3343cf)
        (t + 0.500, udp_frame("10.0.7.2", "203.0.113.80", 52222, 443,
                              quic_long_header(0, 0x6B3343CF, c2, b""))),
        (t + 0.530, udp_frame("203.0.113.80", "10.0.7.2", 443, 52222,
                              quic_long_header(2, 0x6B3343CF, s2, c2))),
        # client 3: unknown version -> Version Negotiation reply
        (t + 1.000, udp_frame("10.0.7.3", "203.0.113.80", 53333, 443,
                              quic_long_header(0, 0x1A2A3A4A, c1, b""))),
        (t + 1.020, udp_frame("203.0.113.80", "10.0.7.3", 443, 53333,
                              quic_long_header(0, 0, c1, s1))),
    ]
    return write_pcap(path, frames)


def quic_vn_capture(path: str) -> str:
    """Deterministic QUIC Version-Negotiation downgrade scenario:

    - client A offers v2, the path answers Version Negotiation, and A
      retries with v1 — the classic VN downgrade-attack signature
      (RFC 9000 §6.3: a client MUST ignore VN that would move it off a
      version it already supports end-to-end);
    - client B completes a clean v1 handshake (no VN);
    - client C offers an UNKNOWN version, gets VN, retries v1 — the
      legitimate negotiation VN exists for.
    """
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700000900.0
    srv = "203.0.113.90"
    a, b, c = "10.0.8.1", "10.0.8.2", "10.0.8.3"
    da, sa = bytes.fromhex("d1d2d3d4d5d6d7d8"), bytes.fromhex("0a0b0c0d")
    db, sb = bytes.fromhex("e1e2e3e4"), bytes.fromhex("1a1b1c1d1e1f")
    dc = bytes.fromhex("f1f2f3f4f5f6")
    v2 = 0x6B3343CF
    frames = [
        # client A: v2 Initial -> VN -> downgraded v1 retry -> v1 done
        (t + 0.000, udp_frame(a, srv, 54001, 443,
                              quic_long_header(0, v2, da, b""))),
        (t + 0.020, udp_frame(srv, a, 443, 54001,
                              quic_long_header(0, 0, da, sa))),
        (t + 0.050, udp_frame(a, srv, 54001, 443,
                              quic_long_header(0, 1, da, b""))),
        (t + 0.080, udp_frame(srv, a, 443, 54001,
                              quic_long_header(2, 1, sa, da))),
        # client B: clean v1, no VN
        (t + 0.500, udp_frame(b, srv, 54002, 443,
                              quic_long_header(0, 1, db, b""))),
        (t + 0.530, udp_frame(srv, b, 443, 54002,
                              quic_long_header(2, 1, sb, db))),
        # client C: unknown version -> VN -> legitimate v1 retry
        (t + 1.000, udp_frame(c, srv, 54003, 443,
                              quic_long_header(0, 0x5A5A5A5A, dc, b""))),
        (t + 1.020, udp_frame(srv, c, 443, 54003,
                              quic_long_header(0, 0, dc, sb))),
        (t + 1.050, udp_frame(c, srv, 54003, 443,
                              quic_long_header(0, 1, dc, b""))),
    ]
    return write_pcap(path, frames)


def services_capture(path: str) -> str:
    """Deterministic cleartext-services capture: SSH version exchange,
    an SMTP submission dialogue, and an FTP login — the banner/control
    traffic a service-inventory audit reads."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700000700.0
    c, s = "10.0.9.1", "10.0.9.2"

    def tcpp(src, dst, sport, dport, seq, payload):
        return tcp_frame(src, dst, sport, dport, seq, 0x18, payload)  # PSH|ACK

    frames = [
        # SSH version exchange (both directions banner)
        (t + 0.00, tcpp(c, s, 50022, 22, 1, b"SSH-2.0-OpenSSH_8.9p1\r\n")),
        (t + 0.01, tcpp(s, c, 22, 50022, 1,
                        b"SSH-2.0-dropbear_2022.83\r\n")),
        # SMTP dialogue
        (t + 1.00, tcpp(s, c, 25, 50025, 1,
                        b"220 mail.example.com ESMTP ready\r\n")),
        (t + 1.01, tcpp(c, s, 50025, 25, 1, b"EHLO client.example\r\n")),
        (t + 1.02, tcpp(s, c, 25, 50025, 34, b"250-mail.example.com\r\n")),
        (t + 1.03, tcpp(c, s, 50025, 25, 21,
                        b"MAIL FROM:<a@example.com>\r\n")),
        (t + 1.04, tcpp(s, c, 25, 50025, 56, b"250 2.1.0 Ok\r\n")),
        (t + 1.05, tcpp(c, s, 50025, 25, 48,
                        b"RCPT TO:<b@example.com>\r\n")),
        (t + 1.06, tcpp(c, s, 50025, 25, 73, b"QUIT\r\n")),
        # FTP login
        (t + 2.00, tcpp(s, c, 21, 50021, 1,
                        b"220 ProFTPD Server ready\r\n")),
        (t + 2.01, tcpp(c, s, 50021, 21, 1, b"USER anonymous\r\n")),
        (t + 2.02, tcpp(s, c, 21, 50021, 27, b"331 Password required\r\n")),
        (t + 2.03, tcpp(c, s, 50021, 21, 17, b"PASS guest\r\n")),
        (t + 2.04, tcpp(s, c, 21, 50021, 51, b"230 User logged in\r\n")),
    ]
    return write_pcap(path, frames)


def _ntp_payload(vn: int, mode: int, stratum: int, poll: int,
                 xmt_epoch_us: int) -> bytes:
    """RFC 5905 v1-v4 header with only the transmit timestamp populated
    (1900-based 32.32 fixed point). Use sub-second parts that are exact
    binary fractions (0.25 s, 0.125 s, ...) so the dissector's
    (frac * 1e6) >> 32 conversion round-trips without truncation."""
    sec = xmt_epoch_us // 1_000_000 + 2208988800
    frac = ((xmt_epoch_us % 1_000_000) << 32) // 1_000_000
    return (
        bytes([(0 << 6) | (vn << 3) | mode, stratum, poll & 0xFF, 0xEC])
        + bytes(36)
        + struct.pack(">II", sec, frac)
    )


def ntp_capture(path: str) -> str:
    """Deterministic NTP clock-skew scenario: two clients poll one
    stratum-2 server three times each. Client A's clock runs +0.25 s
    fast, client B's -0.125 s slow (exact binary fractions); the server
    transmits true capture time (skew 0). The capture box is the time
    reference, so xmt - frame time IS the sender's clock skew."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t0 = 1700002000.0
    srv = "192.0.2.10"
    a, b = "10.0.10.1", "10.0.10.2"
    frames = []
    for i in range(3):
        ta = t0 + 64.0 * i
        tb = t0 + 7.0 + 64.0 * i
        a_us = int(ta) * 1_000_000 + 250_000          # +0.25 s fast
        b_us = int(tb) * 1_000_000 - 125_000          # -0.125 s slow
        frames += [
            (ta, udp_frame(a, srv, 45001, 123,
                           _ntp_payload(4, 3, 16, 6, a_us))),
            # server replies at +0.5 s (exact binary fraction in both the
            # pcap frac field and the NTP 32.32 encoding -> skew exactly 0)
            (ta + 0.5, udp_frame(srv, a, 123, 45001,
                                 _ntp_payload(4, 4, 2, 6,
                                              (int(ta) * 1_000_000
                                               + 500_000)))),
            (tb, udp_frame(b, srv, 45002, 123,
                           _ntp_payload(3, 3, 16, 6, b_us))),
            (tb + 0.5, udp_frame(srv, b, 123, 45002,
                                 _ntp_payload(3, 4, 2, 6,
                                              (int(tb) * 1_000_000
                                               + 500_000)))),
        ]
    return write_pcap(path, frames)


def _dhcp_payload(op: int, xid: int, ciaddr: str, yiaddr: str,
                  mac6: bytes, msgtype: int) -> bytes:
    """RFC 2131 BOOTP framing + option-53 message type."""
    def ip4(s):
        return bytes(int(x) for x in s.split("."))

    b = bytes([op, 1, 6, 0]) + struct.pack(">I", xid) + bytes(4)
    b += ip4(ciaddr) + ip4(yiaddr) + bytes(8)
    b += mac6 + bytes(10) + bytes(64) + bytes(128)
    b += b"\x63\x82\x53\x63" + bytes([53, 1, msgtype]) + b"\xff"
    return b


def dhcp_capture(path: str) -> str:
    """Deterministic DHCP lease scenario: client A completes one clean
    DORA (leased 192.168.1.100); client B's first REQUEST is NAKed (the
    offered address was taken), then a second DORA leases .101."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = 1700003000.0
    srv, bcast = "192.168.1.1", "255.255.255.255"
    mac_a = b"\xde\xad\xbe\xef\x00\x01"
    mac_b = b"\xde\xad\xbe\xef\x00\x02"
    zero = "0.0.0.0"

    def cli(ts, mac, xid, msg, ciaddr=zero):
        return (ts, udp_frame(zero if ciaddr == zero else ciaddr, bcast,
                              68, 67, _dhcp_payload(1, xid, ciaddr, zero,
                                                    mac, msg)))

    def srv_msg(ts, mac, xid, msg, yiaddr):
        return (ts, udp_frame(srv, bcast, 67, 68,
                              _dhcp_payload(2, xid, zero, yiaddr, mac,
                                            msg)))

    frames = [
        # client A: DISCOVER -> OFFER -> REQUEST -> ACK (.100)
        cli(t + 0.0, mac_a, 0x1001, 1),
        srv_msg(t + 0.1, mac_a, 0x1001, 2, "192.168.1.100"),
        cli(t + 0.2, mac_a, 0x1001, 3),
        srv_msg(t + 0.3, mac_a, 0x1001, 5, "192.168.1.100"),
        # client B: first round NAKed, second round lands .101
        cli(t + 1.0, mac_b, 0x2001, 1),
        srv_msg(t + 1.1, mac_b, 0x2001, 2, "192.168.1.100"),
        cli(t + 1.2, mac_b, 0x2001, 3),
        srv_msg(t + 1.3, mac_b, 0x2001, 6, "0.0.0.0"),
        cli(t + 2.0, mac_b, 0x2002, 1),
        srv_msg(t + 2.1, mac_b, 0x2002, 2, "192.168.1.101"),
        cli(t + 2.2, mac_b, 0x2002, 3),
        srv_msg(t + 2.3, mac_b, 0x2002, 5, "192.168.1.101"),
    ]
    return write_pcap(path, frames)
