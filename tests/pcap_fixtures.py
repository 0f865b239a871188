"""Synthetic pcap byte fixtures (SURVEY.md §5.2: libpcap framing is a
24-byte global header + 16-byte record headers — trivially writable)."""

from __future__ import annotations

import struct

from wireduck_spark.sources.synth import pcap_bytes


def ipv4_checksum_stub() -> int:
    return 0  # checksum validity is not dissected


def build_eth_ipv4_tcp(
    src: str, dst: str, sport: int, dport: int, seq: int, ack: int,
    flags: int, payload: bytes,
) -> bytes:
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + struct.pack(">H", 0x0800)
    ip_payload_len = 20 + len(payload)
    ip = struct.pack(
        ">BBHHHBBH4s4s",
        0x45, 0, 20 + ip_payload_len, 1, 0, 64, 6, ipv4_checksum_stub(),
        bytes(int(x) for x in src.split(".")),
        bytes(int(x) for x in dst.split(".")),
    )
    tcp = struct.pack(
        ">HHIIBBHHH", sport, dport, seq, ack, 5 << 4, flags, 8192, 0, 0
    )
    return eth + ip + tcp + payload


def build_eth_ipv4_udp(
    src: str, dst: str, sport: int, dport: int, payload: bytes
) -> bytes:
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + struct.pack(">H", 0x0800)
    udp_len = 8 + len(payload)
    ip = struct.pack(
        ">BBHHHBBH4s4s",
        0x45, 0, 20 + udp_len, 1, 0, 64, 17, 0,
        bytes(int(x) for x in src.split(".")),
        bytes(int(x) for x in dst.split(".")),
    )
    udp = struct.pack(">HHHH", sport, dport, udp_len, 0xABCD)
    return eth + ip + udp + payload


def build_eth_arp(
    opcode: int, src_mac: bytes, src_ip: str, dst_mac: bytes, dst_ip: str
) -> bytes:
    eth = bytes(6) + src_mac + struct.pack(">H", 0x0806)
    arp = struct.pack(">HHBBH", 1, 0x0800, 6, 4, opcode)
    arp += src_mac + bytes(int(x) for x in src_ip.split("."))
    arp += dst_mac + bytes(int(x) for x in dst_ip.split("."))
    return eth + arp


def build_eth_ipv4_icmp(
    src: str, dst: str, icmp_type: int, code: int, ident: int, seq: int
) -> bytes:
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + struct.pack(">H", 0x0800)
    icmp = struct.pack(">BBHHH", icmp_type, code, 0, ident, seq) + b"ping"
    ip = struct.pack(
        ">BBHHHBBH4s4s",
        0x45, 0, 20 + len(icmp), 1, 0, 64, 1, 0,
        bytes(int(x) for x in src.split(".")),
        bytes(int(x) for x in dst.split(".")),
    )
    return eth + ip + icmp


def dns_query_payload(qname: str, qtype: int = 1, dns_id: int = 0x1234) -> bytes:
    q = b"".join(
        bytes([len(lbl)]) + lbl.encode() for lbl in qname.split(".")
    ) + b"\x00"
    return struct.pack(">HHHHHH", dns_id, 0x0100, 1, 0, 0, 0) + q + struct.pack(
        ">HH", qtype, 1
    )


def build_eth_ipv6_udp(
    src16: bytes, dst16: bytes, sport: int, dport: int, payload: bytes
) -> bytes:
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + struct.pack(">H", 0x86DD)
    udp_len = 8 + len(payload)
    ip6 = struct.pack(">IHBB", 0x60000000, udp_len, 17, 64) + src16 + dst16
    udp = struct.pack(">HHHH", sport, dport, udp_len, 0)
    return eth + ip6 + udp + payload


def build_eth_ipv6_icmpv6(src16: bytes, dst16: bytes, icmp_type: int) -> bytes:
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + struct.pack(">H", 0x86DD)
    icmp6 = struct.pack(">BBH", icmp_type, 0, 0) + b"ping6"
    ip6 = struct.pack(">IHBB", 0x60000000, len(icmp6), 58, 255) + src16 + dst16
    return eth + ip6 + icmp6


def build_vlan_ipv4_tcp(
    vlan_id: int, src: str, dst: str, sport: int, dport: int
) -> bytes:
    """802.1Q-tagged TCP SYN."""
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + struct.pack(">H", 0x8100)
    tag = struct.pack(">HH", vlan_id, 0x0800)
    ip = struct.pack(
        ">BBHHHBBH4s4s",
        0x45, 0, 40, 1, 0, 64, 6, 0,
        bytes(int(x) for x in src.split(".")),
        bytes(int(x) for x in dst.split(".")),
    )
    tcp = struct.pack(">HHIIBBHHH", sport, dport, 1, 0, 5 << 4, 0x02, 8192,
                      0, 0)
    return eth + tag + ip + tcp


def pcapng_block(btype: int, body: bytes) -> bytes:
    pad = (-len(body)) % 4
    total = 12 + len(body) + pad
    return (
        struct.pack("<II", btype, total) + body + bytes(pad)
        + struct.pack("<I", total)
    )


def build_pcapng(
    frames: list[tuple[float, bytes]],
    linktype: int = 1,
    spb: bool = False,
    mid_filler_bytes: int = 0,
    snaplen: int = 262144,
) -> bytes:
    """Minimal pcapng: SHB + one IDB (usec tsresol default) + packet blocks.

    spb=True emits Simple Packet Blocks (no timestamp/interface) instead of
    EPBs. mid_filler_bytes inserts ~that many bytes of framing-valid NRB
    filler blocks after the FIRST packet block (models the ISB/NRB/custom
    runs long dumpcap captures interleave between packets)."""
    shb = pcapng_block(0x0A0D0D0A, struct.pack("<IHHq", 0x1A2B3C4D, 1, 0, -1))
    idb = pcapng_block(0x00000001, struct.pack("<HHI", linktype, 0, snaplen))
    out = [shb, idb]
    for i, (ts, data) in enumerate(frames):
        if spb:
            body = struct.pack("<I", len(data)) + data
            out.append(pcapng_block(0x00000003, body))
        else:
            us = int(round(ts * 1_000_000))
            body = struct.pack(
                "<IIIII", 0, us >> 32, us & 0xFFFFFFFF, len(data), len(data)
            ) + data
            out.append(pcapng_block(0x00000006, body))
        if i == 0:
            remaining = mid_filler_bytes
            while remaining > 0:
                chunk = min(remaining, 65536)
                out.append(pcapng_block(0x00000004, bytes(chunk)))
                remaining -= chunk + 12
    return b"".join(out)


def build_pcap(
    frames: list[tuple[float, bytes]],
    nanos: bool = False,
    snaplen: int = 262144,
) -> bytes:
    """frames: [(epoch_ts, frame_bytes)] -> classic libpcap bytes."""
    return pcap_bytes(frames, nanos=nanos, snaplen=snaplen)


def two_flow_pcap() -> bytes:
    """3 TCP packets (one flow, 5+7 payload bytes) + 1 UDP packet."""
    f1 = build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, 100, 0, 0x02, b"")
    f2 = build_eth_ipv4_tcp("10.0.0.2", "10.0.0.1", 80, 1111, 200, 101, 0x12,
                            b"hello")
    f3 = build_eth_ipv4_tcp("10.0.0.1", "10.0.0.2", 1111, 80, 101, 201, 0x18,
                            b"goodbye")
    f4 = build_eth_ipv4_udp("10.0.0.3", "10.0.0.4", 5353, 53, b"dns?")
    return build_pcap(
        [(1700000000.0, f1), (1700000000.5, f2), (1700000001.25, f3),
         (1700000002.0, f4)]
    )


def build_eth_ipv4_raw(src: str, dst: str, proto: int,
                       l4: bytes) -> bytes:
    """Ethernet + IPv4 header around an arbitrary L4 payload — the
    builder for non-TCP/UDP IP protocols (IGMP 2, SCTP 132, ...)."""
    eth = bytes(6) + bytes([0, 0, 0, 0, 0, 1]) + struct.pack(">H", 0x0800)
    ip = struct.pack(
        ">BBHHHBBH4s4s",
        0x45, 0, 20 + len(l4), 1, 0, 64, proto, 0,
        bytes(int(x) for x in src.split(".")),
        bytes(int(x) for x in dst.split(".")),
    )
    return eth + ip + l4
