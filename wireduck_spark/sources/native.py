"""Native libpcap dissector: pure-Python packet parsing with no external
dependency.

The reference can only scan pcap by shelling out to tshark
(/root/reference/src/wireduck_extension.cpp:109,126). This module is the
"beyond reference" scale path: classic-libpcap framing (24-byte global
header + 16-byte record headers) plus Ethernet/IPv4/IPv6/TCP/UDP header
dissection in struct-unpacking Python. Because it reads bytes directly, a
single large capture can be SPLIT BY BYTE RANGE into Spark partitions
(`byte_range_partitions` + executor-side `resync_offset`) — the reference
is architecturally single-threaded (one tshark pipe, cpp:126,180).

Emitted fields use Wireshark filter names (tcp.srcport, ip.src, ...) with
tshark-compatible value semantics, so the same glossary-driven schema
serves both engines. Fields the native dissector cannot know (deep app
protocols) stay NULL — exactly how absent fields behave in the reference.
"""

from __future__ import annotations

import hashlib
import os
import struct
from dataclasses import dataclass
from datetime import datetime, timedelta
from functools import lru_cache, partial

import numpy as np

from wireduck_spark.sources.fs import filesystem_for

_EPOCH0 = datetime(1970, 1, 1)  # naive UTC epoch (exact us arithmetic)

MAGIC_US_LE = 0xA1B2C3D4
MAGIC_US_BE = 0xD4C3B2A1
MAGIC_NS_LE = 0xA1B23C4D
MAGIC_NS_BE = 0x4D3CB2A1

GLOBAL_HEADER_LEN = 24
RECORD_HEADER_LEN = 16


@dataclass(frozen=True)
class PcapInfo:
    endian: str  # '<' | '>'
    ts_divisor: int  # 1e6 (usec) or 1e9 (nsec)
    linktype: int
    snaplen: int


def read_global_header(buf: bytes) -> PcapInfo:
    if len(buf) < GLOBAL_HEADER_LEN:
        raise ValueError("not a pcap file: truncated global header")
    magic = struct.unpack("<I", buf[:4])[0]
    if magic == MAGIC_US_LE:
        endian, div = "<", 1_000_000
    elif magic == MAGIC_NS_LE:
        endian, div = "<", 1_000_000_000
    else:
        magic_be = struct.unpack(">I", buf[:4])[0]
        if magic_be == MAGIC_US_LE:
            endian, div = ">", 1_000_000
        elif magic_be == MAGIC_NS_LE:
            endian, div = ">", 1_000_000_000
        else:
            raise ValueError(f"not a classic pcap file (magic {magic:#x}); "
                             "pcapng is not supported by the native engine")
    _, _, _, _, snaplen, linktype = struct.unpack(
        endian + "HHiIII", buf[4:GLOBAL_HEADER_LEN]
    )
    return PcapInfo(endian, div, linktype, snaplen)


def byte_range_partitions(
    path: str, n_splits: int, size: int | None = None
) -> list[tuple[int, int]]:
    """Fixed byte-range partition plan for splitting ONE capture across
    executors: [(start_byte, end_byte)] slices of roughly equal size.

    Scale-safe by construction: the plan is computed from os.path.getsize
    ALONE — the driver reads zero bytes of the capture (round-1 version
    walked every 16-byte record header driver-side, a full sequential pass
    of a 1 TB file before any executor started). Executors resync to the
    first real record boundary inside their range (`resync_offset`), the
    same strategy Hadoop text splits use with newline resync.

    Pass `size` to plan against a FROZEN size instead of the live file —
    the streaming source records size-at-listing in its offset so a batch
    replays identically even if the capture grew since."""
    if size is None:
        size = filesystem_for(path).size(path)
    payload = size - GLOBAL_HEADER_LEN
    if payload <= 0:
        return [(GLOBAL_HEADER_LEN, size)]
    n_splits = max(1, n_splits)
    per = (payload + n_splits - 1) // n_splits
    return [
        (GLOBAL_HEADER_LEN + i * per,
         min(GLOBAL_HEADER_LEN + (i + 1) * per, size))
        for i in range((payload + per - 1) // per)
    ]


_RESYNC_CHAIN = 3  # consecutive plausible records required to accept a sync
_MAX_SANE_CAPLEN = 4 * 262144
# orig (on-wire) length sanity: origlen may exceed snaplen on truncated
# captures, but a >64 MiB "packet" is not a packet — it's payload bytes
# masquerading as a record header at a split boundary (found by
# tests/test_properties.py: a phantom record with orig=538 MB chained
# cleanly into EOF).
_MAX_SANE_ORIGLEN = 1 << 26
# Timestamp proximity: every record accepted by resync must lie within
# this many seconds of the file's FIRST record (a capture spanning >20
# years is not a capture; payload garbage parsed as ts_sec rarely lands
# next to the true capture epoch).
_TS_PROXIMITY_SEC = 631_152_000  # 20 years


def _caplen_cap(info: PcapInfo) -> int:
    """Per-record plausibility cap for split resync.

    The header snaplen is authoritative when declared (round-2 ADVICE: a
    1 MiB default cap silently dropped legitimate >1 MiB records at split
    boundaries when the capture's snaplen allowed them); the 1 MiB sane
    default applies only when snaplen is 0/unset. Captures whose snaplen
    exceeds `splittable_snaplen` never reach this cap — they fall back to
    an unsplit read (see _unsplit)."""
    return info.snaplen if 0 < info.snaplen else _MAX_SANE_CAPLEN


def splittable_snaplen(info: PcapInfo) -> bool:
    """Whether byte-range split resync is trustworthy for this capture.

    A snaplen beyond the sane cap would need an unbounded resync window;
    rather than risk silent drops, such captures read as ONE partition
    (first slice takes the whole file, other slices yield nothing)."""
    return not info.snaplen or info.snaplen <= _MAX_SANE_CAPLEN


def _chain_validates(buf: bytes, rel: int, info: PcapInfo, abs_base: int,
                     size: int, first_ts: int | None = None) -> bool:
    """True if a chain of plausible records starts at buf[rel:].

    Plausibility per record: 0 < caplen <= snaplen (header-honored, sane
    default when unset), caplen <= origlen <= 64 MiB, fractional
    timestamp < divisor, ts within 20 years of its PREDECESSOR in the
    chain (self-anchoring — the first chain record is compared to the
    optional `first_ts` file anchor only if the caller validated that
    anchor; round-3 ADVICE: an unvalidated file-head anchor with a
    glitched ts_sec, a real capture artifact, silently dropped every
    record of every non-first slice), record fits in the file. The chain
    accepts early when it runs cleanly into EOF or off the window.

    This is necessarily heuristic — classic pcap has no record markers,
    so payload bytes that EMBED a byte-exact valid record chain ending
    at EOF are indistinguishable from real records by any content-based
    resync (the reference sidesteps this by not splitting at all). The
    bounds here make accidental garbage astronomically unlikely, which
    is the documented contract; see tests/test_properties.py.
    """
    cap = _caplen_cap(info)
    off = rel
    prev_ts = first_ts
    for i in range(_RESYNC_CHAIN):
        if off + RECORD_HEADER_LEN > len(buf):
            return i > 0  # window exhausted after >=1 valid record
        ts_s, frac, incl, orig = struct.unpack(
            info.endian + "IIII", buf[off:off + RECORD_HEADER_LEN]
        )
        if not (0 < incl <= cap and incl <= orig
                and orig <= _MAX_SANE_ORIGLEN
                and frac < info.ts_divisor
                and abs_base + off + RECORD_HEADER_LEN + incl <= size):
            return False
        if prev_ts is not None and abs(ts_s - prev_ts) > _TS_PROXIMITY_SEC:
            return False
        prev_ts = ts_s
        off += RECORD_HEADER_LEN + incl
        if abs_base + off >= size:
            return True  # chained exactly into EOF
    return True


def resync_offset(fh, info: PcapInfo, start: int, size: int) -> int:
    """First byte offset >= start where a plausible record chain begins
    (executor-side; reads only this partition's neighborhood). Returns
    `size` when no record starts in the remainder.

    False-positive odds per candidate: frac<divisor passes for ~0.02% of
    random u32s (usec), caplen bounds for ~0.1%, chained 3 deep —
    effectively zero against real payload bytes.

    Scans window-by-window to EOF instead of giving up after one window
    (round-2 ADVICE: a single fixed window silently yielded zero records
    when the first boundary lay beyond it). Windows overlap by one record
    header so a chain starting in a window's tail is re-examined, never
    falsely rejected.
    """
    if start <= GLOBAL_HEADER_LEN:
        return GLOBAL_HEADER_LEN
    window = _caplen_cap(info) * (_RESYNC_CHAIN + 1)
    # The file's first record timestamp anchors the ts-proximity check for
    # the first record of each candidate chain (chain-internal links are
    # self-anchoring). The anchor is trusted ONLY when a full record chain
    # validates at the file head (round-3 ADVICE: a first record with
    # valid lengths but a glitched ts_sec — e.g. 0, a real capture
    # artifact — previously poisoned the anchor and every non-first slice
    # silently dropped all its records). One bounded window read; the
    # chain check itself runs anchor-free.
    fh.seek(GLOBAL_HEADER_LEN)
    head = fh.read(min(window, size - GLOBAL_HEADER_LEN))
    first_ts = None
    if (len(head) >= RECORD_HEADER_LEN
            and _chain_validates(head, 0, info, GLOBAL_HEADER_LEN, size)):
        first_ts = struct.unpack(info.endian + "I", head[:4])[0]
    base = start
    while base < size:
        fh.seek(base)
        buf = fh.read(min(window, size - base))
        if not buf:
            break
        for rel in range(len(buf)):
            if _chain_validates(buf, rel, info, base, size, first_ts):
                return base + rel
        # only candidates whose 16-byte header didn't fit the window can
        # have been wrongly rejected — re-examine them in the next window
        step = max(len(buf) - (RECORD_HEADER_LEN - 1), 1)
        base += step
    return size


# Address renderers are the dissector's #1 CPU cost (2 MACs + 2 IPs per
# packet): bytes.hex/inet_ntoa are C-level, and real captures carry few
# distinct addresses, so an lru_cache turns the common case into one dict
# hit per address.
@lru_cache(maxsize=65536)
def _mac(b: bytes) -> str:
    return b.hex(":")


@lru_cache(maxsize=65536)
def _ipv4(b: bytes) -> str:
    import socket

    return socket.inet_ntoa(b)


@lru_cache(maxsize=65536)
def _ipv6(b: bytes) -> str:
    parts = [f"{(b[i] << 8) | b[i + 1]:x}" for i in range(0, 16, 2)]
    return ":".join(parts)  # non-compressed form (deterministic)


# Wireshark renders the info-column flag list in BIT order (FIN, SYN,
# RST, PSH, ACK, URG, ECE, CWR) — "[FIN, ACK]", "[PSH, ACK]", never
# "[ACK, FIN]" (r12 review: the old SYN/ACK-first order deviated for
# FIN/PSH/RST+ACK combos and dropped URG/ECE/CWR entirely, so string
# filters written against tshark output silently missed rows here).
_TCP_FLAG_NAMES = (
    (0x01, "FIN"), (0x02, "SYN"), (0x04, "RST"), (0x08, "PSH"),
    (0x10, "ACK"), (0x20, "URG"), (0x40, "ECE"), (0x80, "CWR"),
)

# flags byte -> "SYN, ACK" label: 256-entry table beats a per-packet join
_TCP_FLAG_STR = tuple(
    ", ".join(n for m, n in _TCP_FLAG_NAMES if flags & m)
    for flags in range(256)
)

# Precompiled fixed-header layouts for the per-packet hot path (r14,
# guide §1.2 step 2): one unpack_from replaces several struct.unpack
# calls + slice allocations per packet. Values are identical to the
# field-by-field reads by construction.
_TCP_FIXED = struct.Struct(">HHIIBBHH")   # sport dport seq ack off/res flags win cksum
_IPV4_FIXED = struct.Struct(">BBHHHBBH4s4s")  # ver/ihl tos len id frag ttl proto cksum src dst


# IPv6 next-header values the dissector walks as extension headers:
# hop-by-hop, routing, fragment, destination options
_IPV6_EXT_HEADERS = (0, 43, 44, 60)


def dissect_packet(data: bytes, linktype: int, fields: dict) -> None:
    """Dissect one captured frame (Ethernet linktype) into `fields`."""
    protos = ["eth"]
    if linktype != 1 or len(data) < 14:
        fields["frame.protocols"] = "raw" if linktype != 1 else "eth"
        return
    fields["eth.dst"] = _mac(data[0:6])
    fields["eth.src"] = _mac(data[6:12])
    ethertype = struct.unpack(">H", data[12:14])[0]
    off = 14
    if ethertype == 0x8100 and len(data) >= 18:  # 802.1Q VLAN
        protos.append("vlan")
        tci = struct.unpack(">H", data[14:16])[0]
        fields["vlan.id"] = tci & 0x0FFF
        fields["vlan.priority"] = tci >> 13
        ethertype = struct.unpack(">H", data[16:18])[0]
        off = 18
    fields["eth.type"] = ethertype
    protos.append("ethertype")

    if ethertype == 0x0800 and len(data) >= off + 20:  # IPv4
        _dissect_ipv4(data, off, protos, fields)
    elif ethertype == 0x86DD and len(data) >= off + 40:  # IPv6
        protos.append("ipv6")
        payload_len = struct.unpack(">H", data[off + 4:off + 6])[0]
        next_header = data[off + 6]
        fields["ipv6.src"] = _ipv6(data[off + 8:off + 24])
        fields["ipv6.dst"] = _ipv6(data[off + 24:off + 40])
        # walk extension headers (RFC 8200 §4): hop-by-hop(0), routing(43),
        # destination-options(60) carry (next, len-in-8-octets-minus-1);
        # fragment(44) is fixed 8 bytes. Without this walk an IPv6 packet
        # with any extension header would mis-dissect its L4 as "data".
        # A NON-FIRST fragment (fragment-offset != 0) carries mid-packet
        # payload after the fragment header, not an L4 header: stop L4
        # dissection there, matching tshark's non-reassembled behavior
        # (round-3 ADVICE — previously emitted bogus port/flag fields).
        l4_off = off + 40
        hdr_guard = 0
        non_first_fragment = False
        while next_header in _IPV6_EXT_HEADERS and hdr_guard < 8:
            if len(data) < l4_off + 8:
                break
            nh = data[l4_off]
            if next_header == 44:
                ext_len = 8
                frag_field = struct.unpack(
                    ">H", data[l4_off + 2:l4_off + 4])[0]
                if frag_field >> 3:  # 13-bit fragment offset, 8-octet units
                    non_first_fragment = True
            else:
                ext_len = (data[l4_off + 1] + 1) * 8
            payload_len -= ext_len
            l4_off += ext_len
            next_header = nh
            hdr_guard += 1
        if non_first_fragment:
            protos.append("data")
        else:
            _dissect_l4(data, l4_off, next_header, payload_len, protos,
                        fields)
    elif ethertype == 0x0806 and len(data) >= off + 28:  # ARP (over IPv4)
        protos.append("arp")
        _dissect_arp(data, off, fields)
    elif ethertype == 0x0806:
        protos.append("arp")
    else:
        protos.append("data")
    fields["frame.protocols"] = ":".join(protos)


def _dissect_ipv4(data: bytes, off: int, protos: list,
                  fields: dict) -> None:
    """IPv4 header + L4 dissection (also the GRE inner-packet entry)."""
    protos.append("ip")
    # r14 per-task-work opt (guide §1.2 step 2): one precompiled
    # unpack_from for the whole 20-byte fixed header (this runs once
    # per packet; identical values by construction).
    (ver_ihl, _tos, total_len, _ident, frag_word, ttl, proto, _cksum,
     src4, dst4) = _IPV4_FIXED.unpack_from(data, off)
    ihl = (ver_ihl & 0x0F) * 4
    fields["ip.version"] = ver_ihl >> 4
    fields["ip.hdr_len"] = ihl
    fields["ip.len"] = total_len
    fields["ip.ttl"] = ttl
    fields["ip.proto"] = proto
    fields["ip.src"] = _ipv4(src4)
    fields["ip.dst"] = _ipv4(dst4)
    # A NON-FIRST IPv4 fragment (13-bit fragment offset != 0, low bits of
    # the flags/frag-offset word) carries mid-packet payload after the IP
    # header, not an L4 header: stop dissection there, matching tshark's
    # non-reassembled behavior — the exact guard the IPv6 branch added in
    # round 3 (r12 review: the IPv4 path had been emitting bogus
    # port/flag/stream fields and sub-dissecting payload garbage for
    # every fragment after the first).
    if frag_word & 0x1FFF:
        protos.append("data")
        return
    _dissect_l4(data, off + ihl, proto, total_len - ihl, protos, fields)


def _dissect_arp(data: bytes, off: int, fields: dict) -> None:
    """ARP for Ethernet/IPv4 (hlen=6, plen=4 — the only wire-common case)."""
    _hw, _pt, hlen, plen, opcode = struct.unpack(
        ">HHBBH", data[off:off + 8]
    )
    fields["arp.opcode"] = opcode
    if hlen == 6 and plen == 4 and len(data) >= off + 28:
        fields["arp.src.hw_mac"] = _mac(data[off + 8:off + 14])
        fields["arp.src.proto_ipv4"] = _ipv4(data[off + 14:off + 18])
        fields["arp.dst.hw_mac"] = _mac(data[off + 18:off + 24])
        fields["arp.dst.proto_ipv4"] = _ipv4(data[off + 24:off + 28])
        if opcode == 1:
            fields["_ws.col.info"] = (
                f"Who has {fields['arp.dst.proto_ipv4']}?"
                f" Tell {fields['arp.src.proto_ipv4']}"
            )
        elif opcode == 2:
            fields["_ws.col.info"] = (
                f"{fields['arp.src.proto_ipv4']} is at"
                f" {fields['arp.src.hw_mac']}"
            )


_HTTP_METHODS = (b"GET ", b"POST ", b"PUT ", b"DELETE ", b"HEAD ",
                 b"OPTIONS ", b"PATCH ", b"TRACE ", b"CONNECT ")


def _tcp_options(data: bytes, off: int, data_off: int,
                 fields: dict) -> None:
    """TCP options (between the 20-byte header and data_off): MSS,
    window scale, SACK-permitted — the flow-fingerprinting trio
    (field names match tshark's epan TCP dissector). Split out of
    _dissect_l4 in r15 so the vectorized batch path (native_vec) can
    reuse the exact walk for the minority of rows with options."""
    opt_off, opt_end = off + 20, off + min(data_off, len(data) - off)
    while opt_off < opt_end:
        kind = data[opt_off]
        if kind == 0:  # end of options
            break
        if kind == 1:  # NOP
            opt_off += 1
            continue
        if opt_off + 1 >= opt_end:
            break
        olen = data[opt_off + 1]
        if olen < 2 or opt_off + olen > opt_end:
            break
        if kind == 2 and olen == 4:
            fields["tcp.options.mss_val"] = struct.unpack(
                ">H", data[opt_off + 2:opt_off + 4])[0]
        elif kind == 3 and olen == 3:
            fields["tcp.options.wscale.shift"] = data[opt_off + 2]
        elif kind == 4 and olen == 2:
            fields["tcp.options.sack_perm"] = True
        opt_off += olen


def _probe_smb_tcp(payload: bytes, fields: dict) -> str | None:
    if _dissect_smb(payload, fields):
        return "smb2" if "smb2.cmd" in fields else "smb"
    return None


def _probe_kerberos_tcp(payload: bytes, fields: dict) -> str | None:
    # TCP Kerberos: RFC 4120 §7.2.2 4-byte length prefix
    if len(payload) > 4 \
            and int.from_bytes(payload[0:4], "big") == len(payload) - 4 \
            and _dissect_kerberos(payload[4:], fields):
        return "kerberos"
    return None


def _labeled(label: str, probe) -> object:
    def run(payload: bytes, fields: dict) -> str | None:
        return label if probe(payload, fields) else None

    return run


# Port-gated TCP probes in the _dissect_l4 chain's original elif order
# (the tuple's first element). r15: the chain's ~25 `PORT in (sport,
# dport)` membership tests cost more per packet than the probes they
# guard on non-matching traffic; two dict lookups replace them. A
# port's probe failing falls through to the next matching candidate,
# then http2/dns — exactly the old elif semantics. Built lazily: the
# probe functions are defined further down the module.
_TCP_PORT_PROBES: dict = {}


def _tcp_port_probes() -> dict:
    if not _TCP_PORT_PROBES:
        _TCP_PORT_PROBES.update({
            22: (0, _labeled("ssh", _dissect_ssh)),
            25: (1, _labeled("smtp", _dissect_smtp)),
            21: (2, _labeled("ftp", _dissect_ftp)),
            110: (3, _labeled("pop", _dissect_pop)),
            143: (4, _labeled("imap", _dissect_imap)),
            5060: (5, _labeled("sip", _dissect_sip)),
            445: (6, _probe_smb_tcp),
            502: (7, _labeled("mbtcp", _dissect_modbus)),
            1883: (8, _labeled("mqtt", _dissect_mqtt)),
            3389: (9, _labeled("tpkt", _dissect_tpkt)),
            179: (10, _labeled("bgp", _dissect_bgp)),
            554: (11, _labeled("rtsp", _dissect_rtsp)),
            389: (12, _labeled("ldap", _dissect_ldap)),
            23: (13, _labeled("telnet", _dissect_telnet)),
            3306: (14, _labeled("mysql", _dissect_mysql)),
            5432: (15, _labeled("pgsql", _dissect_pgsql)),
            6379: (16, _labeled("redis", _dissect_redis)),
            5672: (17, _labeled("amqp", _dissect_amqp)),
            88: (18, _probe_kerberos_tcp),
            1723: (19, _labeled("pptp", _dissect_pptp)),
            20000: (20, _labeled("dnp3", _dissect_dnp3)),
            9418: (21, _labeled("git", _dissect_git)),
            6667: (22, _labeled("irc", _dissect_irc)),
            49: (23, _labeled("tacplus", _dissect_tacplus)),
            11211: (24, _labeled("memcache", _dissect_memcache)),
        })
    return _TCP_PORT_PROBES


def _tcp_l7(payload: bytes, sport: int, dport: int,
            fields: dict) -> str | None:
    """The TCP payload probe chain from _dissect_l4 (r15 split so the
    vectorized batch path can run it per payload row without re-doing
    the fixed-header work; the port-gated middle section is a lookup
    table in the chain's original order). Returns the protocol label
    to append, or None. native_vec's prescreen skips the rows none of
    these probes can claim: a new probe must be port-gated through the
    table (or 4222/53 here), or widen that prescreen."""
    if 4222 in (sport, dport) and _dissect_nats(payload, fields):
        # NATS before generic HTTP: its CONNECT {json} line
        # collides with the HTTP CONNECT method on 4222
        return "nats"
    if _dissect_http(payload, fields):
        return "http"
    if _dissect_tls(payload, fields):
        return "tls"
    probes = _TCP_PORT_PROBES or _tcp_port_probes()
    c1 = probes.get(sport)
    c2 = probes.get(dport)
    if c1 is not None:
        if c2 is not None and c2 is not c1:
            if c2[0] < c1[0]:
                c1, c2 = c2, c1
            label = c1[1](payload, fields)
            if label:
                return label
            label = c2[1](payload, fields)
            if label:
                return label
        else:
            label = c1[1](payload, fields)
            if label:
                return label
    elif c2 is not None:
        label = c2[1](payload, fields)
        if label:
            return label
    if _dissect_http2(payload, fields):
        return "http2"
    if 53 in (sport, dport) and len(payload) >= 14:
        # DNS over TCP (RFC 1035 §4.2.2): 2-byte length prefix
        # then the standard message — zone transfers and large
        # answers live here.
        dlen = int.from_bytes(payload[0:2], "big")
        if dlen >= 12 and _dissect_dns(payload[2:2 + dlen], fields):
            return "dns"
    return None


# Every port a branch of _udp_payload_chain is gated on, except QUIC's
# 443, whose branch also needs a long header. native_vec's prescreen
# sends a payload row through the chain when either port is in this
# set; on any other port only the QUIC, STUN and DTLS branches can
# claim it, and the prescreen tests their header bytes itself. A port
# added to the chain must be added here (tests/test_native_vec.py reads
# the chain's port literals and checks).
_UDP_GATED_PORTS = frozenset((
    53, 5353, 123, 67, 68, 4789, 5355, 5060, 161, 162, 514, 69, 1812,
    1813, 51820, 2152, 88, 137, 520, 500, 4500, 1701, 47808, 5683,
    11211, 20000, 1900,
))


def _udp_payload_chain(data: bytes, off: int, payload: bytes,
                       sport: int, dport: int, protos: list,
                       fields: dict) -> None:
    """The UDP payload probe chain, verbatim from _dissect_l4 (r15
    split so the vectorized batch path can run it per payload row; the
    VXLAN/GTP decap branches rewrite other layers' fields, so the
    vectorized caller routes rows that could hit them — dport 4789 /
    port 2152 — to the full-row fallback instead and they are only
    reachable from the dict path here).

    The vectorized caller passes a fresh `fields` dict, so no other
    branch may read an earlier layer's fields; a new branch that does
    (or rewrites them) must add its ports to native_vec's ``udp_fb``.
    The caller also skips rows its prescreen rules out, so a new port
    branch must add its port to ``_UDP_GATED_PORTS``."""
    if (sport in (53, 5353) or dport in (53, 5353)) and len(payload) >= 12:
        proto_name = "mdns" if 5353 in (sport, dport) else "dns"
        if _dissect_dns(payload, fields):
            protos.append(proto_name)
    elif (sport == 123 or dport == 123) and len(payload) >= 48:
        if _dissect_ntp(payload, fields):
            protos.append("ntp")
    elif (sport in (67, 68) or dport in (67, 68)) and len(payload) >= 240:
        if _dissect_dhcp(payload, fields):
            protos.append("dhcp")
    elif (
        443 in (sport, dport)
        and len(payload) >= 7
        # long header + fixed bit (RFC 9000 §17.2): 0b11xxxxxx.
        # Short (1-RTT) headers are NOT claimed: without connection
        # tracking their DCID length is unknowable and any opaque
        # UDP payload would false-positive on a one-bit check.
        and (payload[0] & 0xC0) == 0xC0
    ):
        if _dissect_quic(payload, fields):
            protos.append("quic")
    elif (
        dport == 4789
        and len(payload) >= 8 + 14
        and payload[0] & 0x08  # VNI-valid flag (RFC 7348 §5)
        and "vxlan.vni" not in fields  # one decap level, no loops
    ):
        # VXLAN decapsulation: 8-byte header, then a complete inner
        # Ethernet frame. Deviation from tshark documented at the
        # module level: tshark's `-T fields` joins outer+inner
        # occurrences with commas (which the reference's stoll cast
        # would NULL for numeric columns); here the INNER values win
        # for the standard columns — the inner flow is the analytic
        # identity in an overlay network — and the outer endpoints
        # stay queryable as vxlan.outer_ip_src/dst. tcp.stream /
        # udp.stream are computed from the merged (inner) tuple, so
        # flow analytics see the tenant flow, not the tunnel.
        protos.append("vxlan")
        fields["vxlan.vni"] = int.from_bytes(payload[4:7], "big")
        fields["vxlan.outer_ip_src"] = fields.get("ip.src")
        fields["vxlan.outer_ip_dst"] = fields.get("ip.dst")
        inner_fields: dict = {"vxlan.vni": fields["vxlan.vni"]}
        dissect_packet(payload[8:], 1, inner_fields)
        inner_protos = inner_fields.pop("frame.protocols", "")
        inner_fields.pop("_ws.col.info", None)
        fields.update(inner_fields)
        if inner_protos:
            protos.extend(inner_protos.split(":"))
        fields["_ws.col.info"] = (
            f"VXLAN VNI {fields['vxlan.vni']}: "
            + ":".join(inner_protos.split(":")[2:] or ["data"])
        )
    elif (5355 in (sport, dport)) and len(payload) >= 12:
        # LLMNR (RFC 4795) is DNS wire format on 5355 — same reuse
        # as mdns above; dns.* fields, llmnr in frame.protocols.
        if _dissect_dns(payload, fields):
            protos.append("llmnr")
    elif 5060 in (sport, dport):
        if _dissect_sip(payload, fields):
            protos.append("sip")
    elif sport in (161, 162) or dport in (161, 162):
        if _dissect_snmp(payload, fields):
            protos.append("snmp")
    elif dport == 514 or sport == 514:
        if _dissect_syslog(payload, fields):
            protos.append("syslog")
    elif dport == 69:
        if _dissect_tftp(payload, fields):
            protos.append("tftp")
    elif sport in (1812, 1813) or dport in (1812, 1813):
        if _dissect_radius(payload, fields):
            protos.append("radius")
    elif 51820 in (sport, dport):
        if _dissect_wireguard(payload, fields):
            protos.append("wg")
    elif 2152 in (sport, dport):
        inner: list = []
        if _dissect_gtp(payload, fields, inner):
            # gtp sits BEFORE the decapped inner protocol chain
            protos.append("gtp")
            protos.extend(inner)
    elif 88 in (sport, dport):
        if _dissect_kerberos(payload, fields):
            protos.append("kerberos")
    elif 137 in (sport, dport):
        if _dissect_nbns(payload, fields):
            protos.append("nbns")
    elif sport == 520 or dport == 520:
        if _dissect_rip(payload, fields):
            protos.append("rip")
    elif sport in (500, 4500) or dport in (500, 4500):
        if _dissect_isakmp(payload, fields,
                           natt=(4500 in (sport, dport))):
            protos.append("isakmp")
    elif 1701 in (sport, dport):
        if _dissect_l2tp(payload, fields):
            protos.append("l2tp")
    elif 47808 in (sport, dport):
        if _dissect_bacnet(payload, fields):
            protos.append("bvlc")
    elif 5683 in (sport, dport):
        if _dissect_coap(payload, fields):
            protos.append("coap")
    elif 11211 in (sport, dport):
        if _dissect_memcache(payload, fields):
            protos.append("memcache")
    elif 20000 in (sport, dport):
        if _dissect_dnp3(payload, fields):
            protos.append("dnp3")
    elif 1900 in (sport, dport):
        if _dissect_ssdp(payload, fields):
            protos.append("ssdp")
    elif _dissect_stun(payload, fields):
        protos.append("stun")
    elif _dissect_dtls(payload, fields):
        protos.append("dtls")



# ICMP info-column text by type; other types read "Type N"
_ICMP_KINDS = {0: "Echo (ping) reply", 3: "Destination unreachable",
               8: "Echo (ping) request", 11: "Time-to-live exceeded"}


def _dissect_l4(
    data: bytes, off: int, proto: int, l3_payload_len: int,
    protos: list, fields: dict,
) -> None:
    if proto == 6 and len(data) >= off + 20:  # TCP
        protos.append("tcp")
        # r14 per-task-work opt (guide §1.2 step 2): ONE precompiled
        # unpack_from for the 18-byte fixed header instead of three
        # struct.unpack calls + two byte indexes — this line runs once
        # per packet on the dissector hot path (~0.4 us/packet saved,
        # measured; identical values by construction).
        sport, dport, seq, ack, offres, flags, window, checksum = \
            _TCP_FIXED.unpack_from(data, off)
        data_off = (offres >> 4) * 4
        fields["tcp.srcport"] = sport
        fields["tcp.dstport"] = dport
        fields["tcp.seq"] = seq
        fields["tcp.ack"] = ack
        fields["tcp.hdr_len"] = data_off
        fields["tcp.flags.syn"] = bool(flags & 0x02)
        fields["tcp.flags.ack"] = bool(flags & 0x10)
        fields["tcp.flags.fin"] = bool(flags & 0x01)
        fields["tcp.flags.reset"] = bool(flags & 0x04)
        fields["tcp.flags.push"] = bool(flags & 0x08)
        fields["tcp.window_size_value"] = window
        fields["tcp.checksum"] = checksum
        payload_len = max(l3_payload_len - data_off, 0)
        fields["tcp.len"] = payload_len
        _tcp_options(data, off, data_off, fields)
        payload = data[off + data_off:off + data_off + payload_len]
        if payload:
            fields["tcp.payload"] = payload.hex()
        flagstr = _TCP_FLAG_STR[flags]
        fields["_ws.col.info"] = (
            f"{sport} → {dport} [{flagstr}] Seq={seq} Ack={ack}"
            f" Len={payload_len}"
        )
        if payload:
            label = _tcp_l7(payload, sport, dport, fields)
            if label:
                protos.append(label)
    elif proto == 17 and len(data) >= off + 8:  # UDP
        protos.append("udp")
        sport, dport, length, checksum = struct.unpack(">HHHH", data[off:off + 8])
        fields["udp.srcport"] = sport
        fields["udp.dstport"] = dport
        fields["udp.length"] = length
        fields["udp.checksum"] = checksum
        fields["_ws.col.info"] = f"{sport} → {dport} Len={length - 8}"
        payload = data[off + 8:off + 8 + max(length - 8, 0)]
        _udp_payload_chain(data, off, payload, sport, dport,
                           protos, fields)
    elif proto == 1 and len(data) >= off + 4:  # ICMP
        protos.append("icmp")
        fields["icmp.type"] = data[off]
        fields["icmp.code"] = data[off + 1]
        fields["icmp.checksum"] = struct.unpack(">H", data[off + 2:off + 4])[0]
        if data[off] in (0, 8) and len(data) >= off + 8:
            fields["icmp.ident"], fields["icmp.seq"] = struct.unpack(
                ">HH", data[off + 4:off + 8]
            )
        fields["_ws.col.info"] = _ICMP_KINDS.get(data[off],
                                                 f"Type {data[off]}")
    elif proto == 58 and len(data) >= off + 4:  # ICMPv6
        protos.append("icmpv6")
        fields["icmpv6.type"] = data[off]
        fields["icmpv6.code"] = data[off + 1]
        fields["icmpv6.checksum"] = struct.unpack(">H", data[off + 2:off + 4])[0]
        # NDP neighbor solicitation/advertisement target (RFC 4861) —
        # the IPv6 twin of the ARP-spoofing analytic surface.
        if data[off] in (135, 136) and len(data) >= off + 24:
            fields["icmpv6.nd.ns.target_address" if data[off] == 135
                   else "icmpv6.nd.na.target_address"] = _ipv6(
                data[off + 8:off + 24])
    elif proto == 89 and _dissect_ospf(data, off, fields):  # OSPFv2
        protos.append("ospf")
    elif proto == 2 and len(data) >= off + 8:  # IGMP (RFC 2236/3376)
        protos.append("igmp")
        fields["igmp.type"] = data[off]
        fields["igmp.max_resp"] = data[off + 1]
        fields["igmp.maddr"] = ".".join(
            str(b) for b in data[off + 4:off + 8])
        kind = {0x11: "Membership Query", 0x12: "Membership Report v1",
                0x16: "Membership Report v2", 0x17: "Leave Group",
                0x22: "Membership Report v3"}.get(
                    data[off], f"Type 0x{data[off]:02x}")
        fields["_ws.col.info"] = f"{kind} {fields['igmp.maddr']}"
    elif proto == 132 and len(data) >= off + 12:  # SCTP (RFC 9260)
        protos.append("sctp")
        sport, dport = struct.unpack(">HH", data[off:off + 4])
        fields["sctp.srcport"] = sport
        fields["sctp.dstport"] = dport
        fields["sctp.verification_tag"] = struct.unpack(
            ">I", data[off + 4:off + 8])[0]
        info = f"{sport} → {dport}"
        if len(data) >= off + 13:
            # first chunk type (0 DATA, 1 INIT, 2 INIT-ACK, 3 SACK, 4
            # HEARTBEAT, 7 SHUTDOWN, 14 SHUTDOWN-COMPLETE, …)
            ct = data[off + 12]
            fields["sctp.chunk_type"] = ct
            kind = {0: "DATA", 1: "INIT", 2: "INIT_ACK", 3: "SACK",
                    4: "HEARTBEAT", 5: "HEARTBEAT_ACK", 6: "ABORT",
                    7: "SHUTDOWN", 14: "SHUTDOWN_COMPLETE",
                    11: "COOKIE_ECHO", 12: "COOKIE_ACK"}.get(
                        ct, f"chunk {ct}")
            info += f" [{kind}]"
        fields["_ws.col.info"] = info
    elif proto == 47 and len(data) >= off + 4:  # GRE (RFC 2784/2890)
        flags_ver = struct.unpack(">H", data[off:off + 2])[0]
        ptype = struct.unpack(">H", data[off + 2:off + 4])[0]
        protos.append("gre")
        # First GRE layer wins the gre.* fields AND the one decap level
        # (r12 review: a nested GRE-in-GRE packet used to overwrite the
        # OUTER tunnel's gre.proto/gre.key with inner-header values even
        # though decap correctly stopped — the emitted fields mixed two
        # tunnel layers; the old `"gre.proto" in fields` guard was set
        # unconditionally 16 lines above, i.e. always true).
        outer_gre = "gre.proto" not in fields
        if outer_gre:
            fields["gre.proto"] = ptype
        hdr = 4
        if flags_ver & 0x8000:  # checksum present -> +checksum/reserved
            hdr += 4
        if flags_ver & 0x2000:  # key present
            if outer_gre:
                fields["gre.key"] = struct.unpack(
                    ">I", data[off + hdr:off + hdr + 4])[0] \
                    if len(data) >= off + hdr + 4 else None
            hdr += 4
        if flags_ver & 0x1000:  # sequence present
            hdr += 4
        # Inner IPv4 decap, one level (same inner-wins deviation as the
        # VXLAN branch; outer endpoints preserved under gre.outer_*).
        if ptype == 0x0800 and len(data) >= off + hdr + 20 and outer_gre:
            fields["gre.outer_ip_src"] = fields.get("ip.src")
            fields["gre.outer_ip_dst"] = fields.get("ip.dst")
            _dissect_ipv4(data, off + hdr, protos, fields)
    else:
        protos.append("data")


def _dns_name(payload: bytes, off: int, depth: int = 0) -> tuple[str, int]:
    """Decode one (possibly compressed) DNS name; returns (name, next_off).

    Compression-pointer chains are depth-bounded (16) SEPARATELY from
    ordinary labels, which are bounded at the RFC 1035 maximum (127) —
    r12 review: plain labels used to charge the pointer bound, so a
    legal 17+-label name (typical of exactly the DNS-tunneling traffic
    pcap_dns_tunneling_detect hunts) was silently truncated mid-name
    AND left next_off pointing into the name, desynchronizing the
    question/answer walk behind it."""
    labels = []
    n_labels = 0
    while off < len(payload) and n_labels < 128:
        length = payload[off]
        if length == 0:
            return ".".join(labels), off + 1
        if length & 0xC0 == 0xC0:  # compression pointer
            if off + 1 >= len(payload):
                break  # truncated pointer: record ends mid-name
            if depth >= 16:
                # Depth exhaustion on a malicious pointer chain: a
                # pointer always TERMINATES the name, so next_off must
                # still advance past its 2 bytes — breaking here left
                # off AT the pointer byte and desynchronized the
                # question/answer walk behind it, the same desync class
                # as the r12 label-bound fix (ADVICE r12).
                return ".".join(labels), off + 2
            ptr = ((length & 0x3F) << 8) | payload[off + 1]
            tail, _ = _dns_name(payload, ptr, depth + 1)
            if tail:
                labels.append(tail)
            return ".".join(labels), off + 2
        off += 1
        labels.append(
            payload[off:off + length].decode("ascii", errors="replace")
        )
        off += length
        n_labels += 1
    return ".".join(labels), off


# NTP epoch (1900-01-01) -> Unix epoch (1970-01-01) offset, seconds.
_NTP_UNIX_OFFSET = 2208988800

_NTP_MODE_NAMES = {
    1: "symmetric active", 2: "symmetric passive", 3: "client",
    4: "server", 5: "broadcast", 6: "control", 7: "private",
}


def _dissect_ssh(payload: bytes, fields: dict) -> bool:
    """SSH version-exchange banner (RFC 4253 §4.2): the one cleartext
    line before key exchange — 'SSH-2.0-OpenSSH_8.9...'. tshark field
    name ssh.protocol; the banner is the software-inventory signal
    (version scanning / policy audit) and all later packets are
    opaque, so only the banner packet claims the protocol."""
    if not payload.startswith(b"SSH-"):
        return False
    line = payload.split(b"\n", 1)[0].rstrip(b"\r")
    if len(line) > 255:
        return False
    try:
        banner = line.decode("ascii")
    except UnicodeDecodeError:
        return False
    fields["ssh.protocol"] = banner
    fields["_ws.col.info"] = f"Protocol: {banner}"
    return True


def _line_protocol(payload: bytes):
    """First CRLF line of a text control channel, ASCII or None."""
    line = payload.split(b"\n", 1)[0].rstrip(b"\r")
    if not line or len(line) > 512:
        return None
    try:
        return line.decode("ascii")
    except UnicodeDecodeError:
        return None


_SMTP_COMMANDS = ("HELO", "EHLO", "MAIL", "RCPT", "DATA", "QUIT",
                  "RSET", "NOOP", "VRFY", "STARTTLS", "AUTH")


def _dissect_smtp(payload: bytes, fields: dict) -> bool:
    """SMTP control channel: 3-digit response codes and command verbs
    (tshark fields smtp.response.code / smtp.req.command). Mail-flow
    visibility at the protocol level — who greets, who submits."""
    line = _line_protocol(payload)
    if line is None:
        return False
    if len(line) >= 3 and line[:3].isdigit() and (
            len(line) == 3 or line[3] in " -"):
        fields["smtp.response.code"] = int(line[:3])
        fields["_ws.col.info"] = f"S: {line}"
        return True
    verb = line.split(" ", 1)[0].upper()
    if verb in _SMTP_COMMANDS:
        fields["smtp.req.command"] = verb
        fields["_ws.col.info"] = f"C: {line}"
        return True
    return False


_FTP_COMMANDS = ("USER", "PASS", "QUIT", "RETR", "STOR", "LIST", "CWD",
                 "PWD", "TYPE", "PASV", "PORT", "DELE", "MKD", "RMD")


def _dissect_ftp(payload: bytes, fields: dict) -> bool:
    """FTP control channel (tshark fields ftp.response.code /
    ftp.request.command) — same line grammar as SMTP with its own verb
    set; cleartext credentials on port 21 are exactly what a capture
    audit is hunting."""
    line = _line_protocol(payload)
    if line is None:
        return False
    if len(line) >= 3 and line[:3].isdigit() and (
            len(line) == 3 or line[3] in " -"):
        fields["ftp.response.code"] = int(line[:3])
        fields["_ws.col.info"] = f"Response: {line}"
        return True
    verb = line.split(" ", 1)[0].upper()
    if verb in _FTP_COMMANDS:
        fields["ftp.request.command"] = verb
        fields["_ws.col.info"] = f"Request: {line}"
        return True
    return False


_SIP_METHODS = ("INVITE", "ACK", "BYE", "CANCEL", "OPTIONS", "REGISTER",
                "SUBSCRIBE", "NOTIFY", "REFER", "INFO", "MESSAGE",
                "UPDATE", "PRACK")

# RFC 3261 §7.3.3 compact header forms.
_SIP_COMPACT = {"i": "call-id", "f": "from", "t": "to"}


def _sip_headers(payload: bytes) -> dict:
    """Case-folded {header: value} for the three analytic SIP headers,
    tolerant of compact forms; stops at the blank line before any body."""
    out: dict = {}
    for raw in payload.split(b"\n")[1:64]:
        raw = raw.rstrip(b"\r")
        if not raw:
            break
        if b":" not in raw:
            continue
        name, _, value = raw.partition(b":")
        try:
            key = name.strip().decode("ascii").lower()
            key = _SIP_COMPACT.get(key, key)
            if key in ("call-id", "from", "to") and key not in out:
                out[key] = value.strip().decode("ascii", errors="replace")
        except UnicodeDecodeError:
            continue
    return out


def _sip_addr(value: str) -> str:
    """The addr-spec of a From/To header: the <...> URI when bracketed,
    else the value before any ;params — matches what tshark's
    sip.from.addr/sip.to.addr carry."""
    if "<" in value and ">" in value:
        return value[value.index("<") + 1:value.index(">")]
    return value.split(";", 1)[0].strip()


def _dissect_sip(payload: bytes, fields: dict) -> bool:
    """SIP signaling (RFC 3261) on 5060: request method or status code
    plus the Call-ID / From / To trio — the fields every VoIP CDR
    reconstruction keys on (tshark names sip.Method, sip.Status-Code,
    sip.Call-ID, sip.from.addr, sip.to.addr)."""
    line = _line_protocol(payload)
    if line is None:
        return False
    parts = line.split(" ")
    if line.startswith("SIP/2.0 ") and len(parts) >= 2 \
            and parts[1].isdigit():
        fields["sip.Status-Code"] = int(parts[1])
        fields["_ws.col.info"] = f"Status: {line}"
    elif (len(parts) == 3 and parts[0] in _SIP_METHODS
          and parts[2].startswith("SIP/")):
        fields["sip.Method"] = parts[0]
        fields["_ws.col.info"] = f"Request: {line}"
    else:
        return False
    hdrs = _sip_headers(payload)
    if "call-id" in hdrs:
        fields["sip.Call-ID"] = hdrs["call-id"]
    if "from" in hdrs:
        fields["sip.from.addr"] = _sip_addr(hdrs["from"])
    if "to" in hdrs:
        fields["sip.to.addr"] = _sip_addr(hdrs["to"])
    return True


def _ber_len(payload: bytes, off: int):
    """BER definite length at off -> (length, next_off) or None (long
    forms beyond 2 bytes / indefinite lengths are rejected — SNMP on
    the wire is definite and short)."""
    if off >= len(payload):
        return None
    b = payload[off]
    if b < 0x80:
        return b, off + 1
    if b == 0x81 and off + 1 < len(payload):
        return payload[off + 1], off + 2
    if b == 0x82 and off + 2 < len(payload):
        return int.from_bytes(payload[off + 1:off + 3], "big"), off + 3
    return None


def _dissect_snmp(payload: bytes, fields: dict) -> bool:
    """SNMP v1/v2c header (BER): version, community string, and PDU
    type — the inventory/security triple (cleartext `public` on 161 is
    a classic audit finding). v3 (version 3) emits version only; the
    msgGlobalData that follows has no community. snmp.pdu_type is this
    engine's name for the context tag (0xA0 get .. 0xA8 report);
    tshark models it as the choice of snmp.data."""
    if not payload or payload[0] != 0x30:
        return False
    ln = _ber_len(payload, 1)
    if ln is None:
        return False
    _, off = ln
    # version: INTEGER (universal 0x02), length 1
    if off + 2 >= len(payload) or payload[off] != 0x02:
        return False
    vlen, voff = payload[off + 1], off + 2
    if vlen != 1 or voff >= len(payload):
        return False
    version = payload[voff]
    if version > 3:
        return False
    fields["snmp.version"] = version
    off = voff + 1
    if version == 3:
        fields["_ws.col.info"] = "SNMPv3"
        return True
    # community: OCTET STRING
    if off >= len(payload) or payload[off] != 0x04:
        return False
    ln = _ber_len(payload, off + 1)
    if ln is None:
        return False
    clen, coff = ln
    if coff + clen > len(payload):
        return False
    community = payload[coff:coff + clen].decode("ascii", errors="replace")
    fields["snmp.community"] = community
    off = coff + clen
    if off < len(payload) and 0xA0 <= payload[off] <= 0xA8:
        pdu = payload[off] - 0xA0
        fields["snmp.pdu_type"] = pdu
        kind = {0: "get-request", 1: "get-next-request", 2: "get-response",
                3: "set-request", 4: "trap", 5: "getBulkRequest",
                6: "informRequest", 7: "snmpV2-trap",
                8: "report"}.get(pdu, f"pdu {pdu}")
        fields["_ws.col.info"] = f"{kind} community={community}"
    return True


def _dissect_syslog(payload: bytes, fields: dict) -> bool:
    """BSD syslog (RFC 3164/5424) on UDP 514: `<PRI>` splits into
    facility (pri div 8) and severity (pri mod 8) — tshark fields
    syslog.facility / syslog.level / syslog.msg."""
    if len(payload) < 3 or payload[0:1] != b"<":
        return False
    end = payload.find(b">", 1, 5)
    if end < 0 or not payload[1:end].isdigit():
        return False
    pri = int(payload[1:end])
    if pri > 191:
        return False
    fields["syslog.facility"] = pri >> 3
    fields["syslog.level"] = pri & 7
    msg = payload[end + 1:end + 513].decode("utf-8", errors="replace")
    fields["syslog.msg"] = msg
    fields["_ws.col.info"] = f"SYSLOG {pri >> 3}.{pri & 7}: {msg[:80]}"
    return True


def _dissect_tftp(payload: bytes, fields: dict) -> bool:
    """TFTP (RFC 1350) initial request on UDP 69: opcode plus the
    filename/mode of RRQ/WRQ — the firmware/config-transfer audit
    signal. DATA/ACK ride an ephemeral server port chosen per transfer,
    so without flow tracking only the request packet claims the
    protocol (documented deviation; same spirit as QUIC short
    headers)."""
    if len(payload) < 4:
        return False
    opcode = int.from_bytes(payload[0:2], "big")
    if opcode not in (1, 2):
        return False
    rest = payload[2:]
    parts = rest.split(b"\x00")
    if len(parts) < 2 or not parts[0]:
        return False
    fields["tftp.opcode"] = opcode
    fname = parts[0].decode("ascii", errors="replace")
    fields["tftp.source_file" if opcode == 1
           else "tftp.destination_file"] = fname
    fields["tftp.type"] = parts[1].decode("ascii", errors="replace").lower()
    kind = "Read Request" if opcode == 1 else "Write Request"
    fields["_ws.col.info"] = f"{kind}, File: {fname}"
    return True


_POP_COMMANDS = ("USER", "PASS", "STAT", "LIST", "RETR", "DELE", "NOOP",
                 "RSET", "QUIT", "TOP", "UIDL", "APOP", "CAPA", "STLS")


def _dissect_pop(payload: bytes, fields: dict) -> bool:
    """POP3 control channel (tshark fields pop.request.command /
    pop.response.indicator) — same line grammar family as SMTP/FTP;
    USER/PASS on 110 is the cleartext-credential audit case."""
    line = _line_protocol(payload)
    if line is None:
        return False
    if line.startswith("+OK") or line.startswith("-ERR"):
        fields["pop.response.indicator"] = line.split(" ", 1)[0]
        fields["_ws.col.info"] = f"S: {line}"
        return True
    verb = line.split(" ", 1)[0].upper()
    if verb in _POP_COMMANDS:
        fields["pop.request.command"] = verb
        fields["_ws.col.info"] = f"C: {line}"
        return True
    return False


_IMAP_COMMANDS = ("LOGIN", "LOGOUT", "CAPABILITY", "SELECT", "EXAMINE",
                  "FETCH", "LIST", "LSUB", "STATUS", "SEARCH", "STORE",
                  "COPY", "UID", "NOOP", "IDLE", "APPEND", "CREATE",
                  "DELETE", "EXPUNGE", "AUTHENTICATE", "STARTTLS")


def _dissect_imap(payload: bytes, fields: dict) -> bool:
    """IMAP4 control channel: tagged `a001 LOGIN …` requests and
    `* …` / `a001 OK …` responses (tshark fields imap.request.tag,
    imap.request.command, imap.response.status)."""
    line = _line_protocol(payload)
    if line is None:
        return False
    parts = line.split(" ")
    if parts[0] == "*" and len(parts) >= 2:
        fields["imap.response.status"] = parts[1].upper()
        fields["_ws.col.info"] = f"S: {line}"
        return True
    if len(parts) >= 2 and parts[0].isalnum() and len(parts[0]) <= 16:
        word = parts[1].upper()
        if word in ("OK", "NO", "BAD"):
            fields["imap.response.status"] = word
            fields["_ws.col.info"] = f"S: {line}"
            return True
        if word in _IMAP_COMMANDS:
            fields["imap.request.tag"] = parts[0]
            fields["imap.request.command"] = word
            fields["_ws.col.info"] = f"C: {line}"
            return True
    return False


_SMB2_COMMANDS = {
    0: "NEGOTIATE", 1: "SESSION_SETUP", 2: "LOGOFF", 3: "TREE_CONNECT",
    4: "TREE_DISCONNECT", 5: "CREATE", 6: "CLOSE", 7: "FLUSH", 8: "READ",
    9: "WRITE", 10: "LOCK", 11: "IOCTL", 12: "CANCEL", 13: "ECHO",
    14: "QUERY_DIRECTORY", 15: "CHANGE_NOTIFY", 16: "QUERY_INFO",
    17: "SET_INFO", 18: "OPLOCK_BREAK",
}


def _dissect_smb(payload: bytes, fields: dict) -> bool:
    """SMB1/SMB2/SMB3 on 445: the 4-byte protocol magic (\\xffSMB /
    \\xfeSMB) behind optional NetBIOS session-service framing. SMB2
    emits command, response flag, message id, and session id (tshark
    names smb2.cmd / smb2.flags.response / smb2.msg_id /
    smb2.sesid); legacy SMB1 emits smb.cmd. File-share visibility —
    lateral-movement hunting's first question."""
    # NetBIOS session service: 0x00 + 24-bit length, then the SMB PDU.
    if len(payload) >= 8 and payload[0] == 0 and payload[4] in (
            0xFF, 0xFE) and payload[5:8] == b"SMB":
        payload = payload[4:]
    if len(payload) >= 8 and payload[0] == 0xFF and payload[1:4] == b"SMB":
        fields["smb.cmd"] = payload[4]
        fields["_ws.col.info"] = f"SMB1 Command 0x{payload[4]:02x}"
        return True
    if len(payload) >= 64 and payload[0] == 0xFE and payload[1:4] == b"SMB":
        cmd = int.from_bytes(payload[12:14], "little")
        flags = int.from_bytes(payload[16:20], "little")
        fields["smb2.cmd"] = cmd
        fields["smb2.flags.response"] = bool(flags & 0x01)
        fields["smb2.msg_id"] = int.from_bytes(payload[24:32], "little")
        fields["smb2.sesid"] = int.from_bytes(payload[40:48], "little")
        kind = _SMB2_COMMANDS.get(cmd, f"0x{cmd:04x}")
        side = "Response" if flags & 0x01 else "Request"
        fields["_ws.col.info"] = f"{kind} {side}"
        return True
    return False


def _dissect_modbus(payload: bytes, fields: dict) -> bool:
    """Modbus/TCP on 502 (MBAP framing): transaction id, unit id, and
    function code — the ICS/OT inventory triple (tshark names
    mbtcp.trans_id / mbtcp.unit_id / modbus.func_code). Gated on the
    MBAP protocol-id field being 0 and a coherent length."""
    if len(payload) < 8:
        return False
    trans_id = int.from_bytes(payload[0:2], "big")
    proto_id = int.from_bytes(payload[2:4], "big")
    length = int.from_bytes(payload[4:6], "big")
    if proto_id != 0 or length < 2 or length > 254 \
            or len(payload) < 6 + length:
        return False
    fields["mbtcp.trans_id"] = trans_id
    fields["mbtcp.unit_id"] = payload[6]
    func = payload[7]
    fields["modbus.func_code"] = func & 0x7F
    kind = {1: "Read Coils", 2: "Read Discrete Inputs",
            3: "Read Holding Registers", 4: "Read Input Registers",
            5: "Write Single Coil", 6: "Write Single Register",
            15: "Write Multiple Coils",
            16: "Write Multiple Registers"}.get(
                func & 0x7F, f"Function {func & 0x7F}")
    exc = " Exception" if func & 0x80 else ""
    fields["_ws.col.info"] = f"Modbus {kind}{exc} (unit {payload[6]})"
    return True


_MQTT_TYPES = {1: "CONNECT", 2: "CONNACK", 3: "PUBLISH", 4: "PUBACK",
               8: "SUBSCRIBE", 9: "SUBACK", 12: "PINGREQ",
               13: "PINGRESP", 14: "DISCONNECT"}


def _dissect_mqtt(payload: bytes, fields: dict) -> bool:
    """MQTT on 1883: fixed-header message type (tshark mqtt.msgtype);
    CONNECT additionally validates and emits the protocol name
    ('MQTT' / 'MQIsdp') and client id (mqtt.protoname / mqtt.clientid)
    — IoT fleet visibility. Non-CONNECT packets are claimed only for
    defined message types with a coherent remaining length."""
    if len(payload) < 2:
        return False
    msgtype = payload[0] >> 4
    if msgtype not in _MQTT_TYPES:
        return False
    # variable-length remaining length (1-4 bytes, 7 bits each)
    rem, mult, off = 0, 1, 1
    while off < min(len(payload), 5):
        b = payload[off]
        rem += (b & 0x7F) * mult
        mult <<= 7
        off += 1
        if not b & 0x80:
            break
    else:
        return False
    if len(payload) - off < rem or (msgtype != 3 and rem > 1024):
        return False
    if msgtype == 1:  # CONNECT: validate the protocol-name field
        if off + 2 > len(payload):
            return False
        nlen = int.from_bytes(payload[off:off + 2], "big")
        name = payload[off + 2:off + 2 + nlen]
        if name not in (b"MQTT", b"MQIsdp"):
            return False
        fields["mqtt.protoname"] = name.decode("ascii")
        # client id: after name, level(1), flags(1), keepalive(2)
        cid_off = off + 2 + nlen + 4
        if cid_off + 2 <= len(payload):
            clen = int.from_bytes(payload[cid_off:cid_off + 2], "big")
            cid = payload[cid_off + 2:cid_off + 2 + clen]
            fields["mqtt.clientid"] = cid.decode("utf-8", errors="replace")
    elif msgtype not in (3,) and payload[0] & 0x0F not in (0, 2):
        # reserved flag bits must be 0 for non-PUBLISH types (bit 1 ok
        # for SUBSCRIBE/UNSUBSCRIBE QoS1 requirement)
        return False
    fields["mqtt.msgtype"] = msgtype
    fields["_ws.col.info"] = f"MQTT {_MQTT_TYPES[msgtype]}"
    return True


def _dissect_tpkt(payload: bytes, fields: dict) -> bool:
    """TPKT (RFC 1006) + X.224 COTP on 3389 — the RDP connection
    envelope: tpkt.version/tpkt.length and the COTP PDU type
    (x224.type; 0xE0 CR / 0xD0 CC is the RDP handshake signature)."""
    if len(payload) < 6 or payload[0] != 3 or payload[1] != 0:
        return False
    length = int.from_bytes(payload[2:4], "big")
    if length != len(payload) or length < 6:
        return False
    fields["tpkt.version"] = 3
    fields["tpkt.length"] = length
    x224_type = payload[5] & 0xF0
    fields["x224.type"] = x224_type >> 4
    kind = {0xE0: "Connection Request", 0xD0: "Connection Confirm",
            0xF0: "Data", 0x80: "Disconnect Request"}.get(
                x224_type, f"0x{x224_type:02x}")
    fields["_ws.col.info"] = f"X.224 {kind}"
    return True


_RADIUS_CODES = {1: "Access-Request", 2: "Access-Accept",
                 3: "Access-Reject", 4: "Accounting-Request",
                 5: "Accounting-Response", 11: "Access-Challenge"}


def _dissect_radius(payload: bytes, fields: dict) -> bool:
    """RADIUS on 1812/1813: code, packet id, declared length (tshark
    radius.code / radius.id / radius.length) — AAA visibility. Gated on
    a known code and the declared length matching the datagram."""
    if len(payload) < 20:
        return False
    code = payload[0]
    length = int.from_bytes(payload[2:4], "big")
    if code not in _RADIUS_CODES or length != len(payload):
        return False
    fields["radius.code"] = code
    fields["radius.id"] = payload[1]
    fields["radius.length"] = length
    fields["_ws.col.info"] = f"RADIUS {_RADIUS_CODES[code]} id={payload[1]}"
    return True


def _dissect_ospf(data: bytes, off: int, fields: dict) -> bool:
    """OSPFv2 header (IP proto 89): version, packet type, router id,
    area id (tshark ospf.version / ospf.msg / ospf.srcrouter /
    ospf.area_id) — routing-plane visibility."""
    if len(data) < off + 24 or data[off] != 2:
        return False
    ptype = data[off + 1]
    if not 1 <= ptype <= 5:
        return False
    fields["ospf.version"] = 2
    fields["ospf.msg"] = ptype
    fields["ospf.srcrouter"] = ".".join(
        str(b) for b in data[off + 4:off + 8])
    fields["ospf.area_id"] = ".".join(
        str(b) for b in data[off + 8:off + 12])
    kind = {1: "Hello", 2: "DB Description", 3: "LS Request",
            4: "LS Update", 5: "LS Acknowledge"}[ptype]
    fields["_ws.col.info"] = f"OSPF {kind}"
    return True


def _dissect_wireguard(payload: bytes, fields: dict) -> bool:
    """WireGuard on 51820: message type 1-4 with the three reserved
    zero bytes (the RFC-draft gate), sender/receiver indices (tshark
    wg.type / wg.sender / wg.receiver) — modern-VPN visibility."""
    if len(payload) < 16 or payload[1:4] != b"\x00\x00\x00":
        return False
    mtype = payload[0]
    if mtype not in (1, 2, 3, 4):
        return False
    sizes = {1: 148, 2: 92, 3: 64}
    if mtype in sizes and len(payload) != sizes[mtype]:
        return False
    fields["wg.type"] = mtype
    idx = int.from_bytes(payload[4:8], "little")
    if mtype in (1, 2):       # initiation/response carry sender @4
        fields["wg.sender"] = idx
        if mtype == 2:        # response also names the receiver @8
            fields["wg.receiver"] = int.from_bytes(
                payload[8:12], "little")
    else:                      # cookie reply / transport: receiver @4
        fields["wg.receiver"] = idx
    kind = {1: "Handshake Initiation", 2: "Handshake Response",
            3: "Cookie Reply", 4: "Transport Data"}[mtype]
    fields["_ws.col.info"] = f"WireGuard {kind}"
    return True


_BGP_TYPES = {1: "OPEN", 2: "UPDATE", 3: "NOTIFICATION", 4: "KEEPALIVE",
              5: "ROUTE-REFRESH"}


def _dissect_bgp(payload: bytes, fields: dict) -> bool:
    """BGP-4 on 179 (RFC 4271): the all-ones 16-byte marker gate, then
    length/type (tshark bgp.length / bgp.type); OPEN additionally
    emits version, AS number, and router identifier
    (bgp.open.version / bgp.open.myas / bgp.open.identifier) —
    peering-plane visibility."""
    if len(payload) < 19 or payload[:16] != b"\xff" * 16:
        return False
    length = int.from_bytes(payload[16:18], "big")
    btype = payload[18]
    if not 19 <= length <= 4096 or btype not in _BGP_TYPES:
        return False
    fields["bgp.length"] = length
    fields["bgp.type"] = btype
    info = f"BGP {_BGP_TYPES[btype]}"
    if btype == 1 and len(payload) >= 28:
        fields["bgp.open.version"] = payload[19]
        fields["bgp.open.myas"] = int.from_bytes(payload[20:22], "big")
        fields["bgp.open.identifier"] = ".".join(
            str(b) for b in payload[24:28])
        info += f" AS{fields['bgp.open.myas']}"
    fields["_ws.col.info"] = info
    return True


_RTSP_METHODS = ("OPTIONS", "DESCRIBE", "ANNOUNCE", "SETUP", "PLAY",
                 "PAUSE", "TEARDOWN", "GET_PARAMETER", "SET_PARAMETER",
                 "RECORD", "REDIRECT")


def _dissect_rtsp(payload: bytes, fields: dict) -> bool:
    """RTSP control channel on 554 (tshark rtsp.method / rtsp.url /
    rtsp.status) — streaming-session visibility; the SETUP transport
    negotiation is where RTP ports are born."""
    line = _line_protocol(payload)
    if line is None:
        return False
    parts = line.split(" ")
    if line.startswith("RTSP/1.") and len(parts) >= 2 \
            and parts[1].isdigit():
        fields["rtsp.status"] = int(parts[1])
        fields["_ws.col.info"] = f"Reply: {line}"
        return True
    if len(parts) == 3 and parts[0] in _RTSP_METHODS \
            and parts[2].startswith("RTSP/"):
        fields["rtsp.method"] = parts[0]
        fields["rtsp.url"] = parts[1]
        fields["_ws.col.info"] = f"Request: {line}"
        return True
    return False


_LDAP_OPS = {
    0x60: "bindRequest", 0x61: "bindResponse", 0x42: "unbindRequest",
    0x63: "searchRequest", 0x64: "searchResEntry", 0x65: "searchResDone",
    0x66: "modifyRequest", 0x67: "modifyResponse", 0x68: "addRequest",
    0x69: "addResponse", 0x4A: "delRequest", 0x6B: "delResponse",
    0x77: "extendedReq", 0x78: "extendedResp",
}


def _dissect_ldap(payload: bytes, fields: dict) -> bool:
    """LDAP on 389 (BER): messageID and the protocolOp application tag
    (tshark ldap.messageID; ldap.protocolOp is this engine's scalar
    for the op tag tshark renders as the choice subtree) — directory
    visibility, unsigned binds being the audit case."""
    if not payload or payload[0] != 0x30:
        return False
    ln = _ber_len(payload, 1)
    if ln is None:
        return False
    _, off = ln
    if off + 2 >= len(payload) or payload[off] != 0x02:
        return False
    mlen = payload[off + 1]
    if mlen < 1 or mlen > 4 or off + 2 + mlen > len(payload):
        return False
    msg_id = int.from_bytes(payload[off + 2:off + 2 + mlen], "big")
    op_off = off + 2 + mlen
    if op_off >= len(payload) or payload[op_off] not in _LDAP_OPS:
        return False
    fields["ldap.messageID"] = msg_id
    fields["ldap.protocolOp"] = payload[op_off]
    fields["_ws.col.info"] = (
        f"LDAP {_LDAP_OPS[payload[op_off]]}({msg_id})")
    return True


def _dissect_telnet(payload: bytes, fields: dict) -> bool:
    """Telnet on 23, claimed only for IAC option negotiation (0xFF
    command sequences — tshark telnet.cmd/telnet.opt); raw keystroke
    payloads stay opaque rather than false-positive on arbitrary
    bytes. Cleartext remote shells are themselves the finding."""
    if len(payload) < 3 or payload[0] != 0xFF:
        return False
    cmd, opt = payload[1], payload[2]
    if cmd not in (0xFB, 0xFC, 0xFD, 0xFE, 0xFA):  # WILL/WONT/DO/DONT/SB
        return False
    fields["telnet.cmd"] = cmd
    fields["telnet.opt"] = opt
    kind = {0xFB: "Will", 0xFC: "Won't", 0xFD: "Do", 0xFE: "Don't",
            0xFA: "Suboption"}[cmd]
    fields["_ws.col.info"] = f"Telnet {kind} {opt}"
    return True


_HTTP2_PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"


def _dissect_http2(payload: bytes, fields: dict) -> bool:
    """HTTP/2 connection preface (`PRI * HTTP/2.0`) on any TCP port —
    the only h2 artifact recognizable without connection state; the
    SETTINGS frame that must follow is parsed when present
    (http2.type/http2.length/http2.streamid). Claimed only on the
    literal 24-byte preface, never on bare binary frames."""
    if not payload.startswith(_HTTP2_PREFACE):
        return False
    fields["_ws.col.info"] = "HTTP/2 Connection Preface"
    rest = payload[len(_HTTP2_PREFACE):]
    if len(rest) >= 9:
        fields["http2.length"] = int.from_bytes(rest[0:3], "big")
        fields["http2.type"] = rest[3]
        fields["http2.streamid"] = (
            int.from_bytes(rest[5:9], "big") & 0x7FFFFFFF)
    return True


def _dissect_mysql(payload: bytes, fields: dict) -> bool:
    """MySQL initial handshake (server greeting) on 3306: protocol 10
    + the NUL-terminated server version string (tshark
    mysql.protocol / mysql.version) — database-inventory visibility;
    the greeting travels server->client before any auth."""
    if len(payload) < 6 or payload[4] != 0x0A:
        return False
    plen = int.from_bytes(payload[0:3], "little")
    if plen + 4 > len(payload) or payload[3] != 0:  # sequence id 0
        return False
    end = payload.find(b"\x00", 5, 5 + 64)
    if end < 0:
        return False
    version = payload[5:end]
    if not version or not all(0x20 <= b < 0x7F for b in version):
        return False
    fields["mysql.protocol"] = 10
    fields["mysql.version"] = version.decode("ascii")
    fields["_ws.col.info"] = f"MySQL Server Greeting {fields['mysql.version']}"
    return True


def _dissect_pgsql(payload: bytes, fields: dict) -> bool:
    """PostgreSQL startup on 5432: the SSLRequest magic (80877103) or a
    StartupMessage with protocol 3.0 (196608), both length-framed
    (tshark pgsql.length / pgsql.frontend) — database-inventory
    visibility plus the does-it-negotiate-TLS audit bit."""
    if len(payload) < 8:
        return False
    length = int.from_bytes(payload[0:4], "big")
    code = int.from_bytes(payload[4:8], "big")
    if length == 8 and code == 80877103:
        fields["pgsql.length"] = length
        fields["pgsql.frontend"] = True
        fields["_ws.col.info"] = "PostgreSQL SSLRequest"
        return True
    if code == 196608 and 8 <= length <= 10000 \
            and length <= len(payload):
        fields["pgsql.length"] = length
        fields["pgsql.frontend"] = True
        fields["_ws.col.info"] = "PostgreSQL StartupMessage (3.0)"
        return True
    return False


def _dissect_redis(payload: bytes, fields: dict) -> bool:
    """Redis RESP on 6379: an array-of-bulk-strings request (the only
    shape clients send) yields the command verb (this engine's
    redis.command; tshark's RESP dissector models the frame tree).
    Gated on the full *N / $len grammar, not just the leading '*'."""
    if len(payload) < 8 or payload[0:1] != b"*":
        return False
    try:
        head, rest = payload.split(b"\r\n", 1)
        n = int(head[1:])
        if not 1 <= n <= 1024 or not rest.startswith(b"$"):
            return False
        blen_raw, rest = rest[1:].split(b"\r\n", 1)
        blen = int(blen_raw)
        if not 1 <= blen <= 64 or len(rest) < blen:
            return False
        cmd = rest[:blen].decode("ascii").upper()
    except (ValueError, UnicodeDecodeError):
        return False
    if not cmd.isalpha():
        return False
    fields["redis.command"] = cmd
    fields["_ws.col.info"] = f"Redis {cmd} ({n} args)"
    return True


def _dissect_amqp(payload: bytes, fields: dict) -> bool:
    """AMQP protocol header on 5672: the literal 'AMQP' magic + the
    4-byte version triple (tshark amqp.version.major/minor for 0-9-1;
    AMQP 1.0 sends id 0 proto 1.0.0) — message-broker inventory."""
    if len(payload) < 8 or payload[0:4] != b"AMQP":
        return False
    fields["amqp.version.major"] = payload[5]
    fields["amqp.version.minor"] = payload[6]
    fields["_ws.col.info"] = (
        f"AMQP Protocol Header {payload[5]}.{payload[6]}.{payload[7]}")
    return True


_STUN_TYPES = {0x0001: "Binding Request", 0x0101: "Binding Success",
               0x0111: "Binding Error", 0x0011: "Binding Indication"}


_COAP_CODE_NAMES = {1: "GET", 2: "POST", 3: "PUT", 4: "DELETE"}


def _dissect_coap(payload: bytes, fields: dict) -> bool:
    """CoAP on 5683 (RFC 7252): version-1 bits + coherent token length
    (tshark coap.type / coap.code / coap.mid) — constrained-device IoT
    telemetry, the UDP twin of MQTT."""
    if len(payload) < 4 or (payload[0] >> 6) != 1:
        return False
    tkl = payload[0] & 0x0F
    if tkl > 8 or len(payload) < 4 + tkl:
        return False
    fields["coap.type"] = (payload[0] >> 4) & 0x03
    fields["coap.code"] = payload[1]
    fields["coap.mid"] = int.from_bytes(payload[2:4], "big")
    cls, detail = payload[1] >> 5, payload[1] & 0x1F
    kind = _COAP_CODE_NAMES.get(payload[1], f"{cls}.{detail:02d}")
    fields["_ws.col.info"] = f"CoAP {kind} MID={fields['coap.mid']}"
    return True


_MEMCACHE_COMMANDS = ("get ", "gets ", "set ", "add ", "replace ",
                      "append ", "prepend ", "cas ", "delete ", "incr ",
                      "decr ", "touch ", "stats", "flush_all", "version")


def _dissect_memcache(payload: bytes, fields: dict) -> bool:
    """Memcached text protocol on 11211 (tshark memcache.command) —
    cache-tier inventory; an internet-exposed memcached is both a data
    leak and a DDoS reflector, which is why the audit looks."""
    line = _line_protocol(payload)
    if line is None:
        return False
    low = line.lower()
    if not (low.startswith(_MEMCACHE_COMMANDS) or low in
            ("stats", "version", "flush_all")):
        return False
    fields["memcache.command"] = low.split(" ", 1)[0]
    fields["_ws.col.info"] = f"Memcache {line[:80]}"
    return True


def _dissect_nats(payload: bytes, fields: dict) -> bool:
    """NATS on 4222: the INFO/CONNECT JSON handshake and the
    PUB/SUB/MSG/PING/PONG verbs (nats.command — this engine's scalar;
    tshark has no NATS dissector, field name namespaced accordingly) —
    cloud-native messaging inventory."""
    line = _line_protocol(payload)
    if line is None:
        return False
    verb = line.split(" ", 1)[0].upper()
    if verb in ("INFO", "CONNECT"):
        if "{" not in line:
            return False
    elif verb not in ("PUB", "SUB", "UNSUB", "MSG", "PING", "PONG",
                      "+OK", "-ERR"):
        return False
    fields["nats.command"] = verb
    fields["_ws.col.info"] = f"NATS {line[:80]}"
    return True


def _dissect_pptp(payload: bytes, fields: dict) -> bool:
    """PPTP control channel on 1723: the magic cookie 0x1A2B3C4D gate
    plus message/control types (tshark pptp.type for the control
    message type, pptp.length) — legacy-VPN exposure; PPTP presence is
    itself the audit finding."""
    if len(payload) < 12 or payload[4:8] != b"\x1a\x2b\x3c\x4d":
        return False
    length = int.from_bytes(payload[0:2], "big")
    msg = int.from_bytes(payload[2:4], "big")
    if msg != 1 or length != len(payload):
        return False
    ctype = int.from_bytes(payload[8:10], "big")
    fields["pptp.length"] = length
    fields["pptp.type"] = ctype
    kind = {1: "Start-Control-Connection-Request",
            2: "Start-Control-Connection-Reply",
            7: "Outgoing-Call-Request",
            8: "Outgoing-Call-Reply"}.get(ctype, f"control {ctype}")
    fields["_ws.col.info"] = f"PPTP {kind}"
    return True


def _dissect_dnp3(payload: bytes, fields: dict) -> bool:
    """DNP3 link layer on 20000: the 0x0564 start bytes, length,
    control, destination/source addresses (tshark dnp3.len / dnp3.ctl
    / dnp3.dst / dnp3.src) — the second ICS/SCADA protocol next to
    Modbus; electric-utility telemetry."""
    if len(payload) < 10 or payload[0:2] != b"\x05\x64":
        return False
    length = payload[2]
    if length < 5:
        return False
    fields["dnp3.len"] = length
    fields["dnp3.ctl"] = payload[3]
    fields["dnp3.dst"] = int.from_bytes(payload[4:6], "little")
    fields["dnp3.src"] = int.from_bytes(payload[6:8], "little")
    fields["_ws.col.info"] = (
        f"DNP3 from {fields['dnp3.src']} to {fields['dnp3.dst']}")
    return True


def _dissect_bacnet(payload: bytes, fields: dict) -> bool:
    """BACnet/IP BVLC on 47808: type 0x81, function, and the declared
    length matching the datagram (tshark bvlc.function / bvlc.length)
    — building-automation exposure mapping."""
    if len(payload) < 4 or payload[0] != 0x81:
        return False
    length = int.from_bytes(payload[2:4], "big")
    if length != len(payload) or payload[1] > 0x0C:
        return False
    fields["bvlc.function"] = payload[1]
    fields["bvlc.length"] = length
    kind = {0x0A: "Original-Unicast-NPDU",
            0x0B: "Original-Broadcast-NPDU",
            0x00: "BVLC-Result"}.get(payload[1],
                                     f"function 0x{payload[1]:02x}")
    fields["_ws.col.info"] = f"BACnet/IP {kind}"
    return True


def _dissect_l2tp(payload: bytes, fields: dict) -> bool:
    """L2TPv2 on 1701: version-bits gate, control/data flag, tunnel and
    session ids (tshark l2tp.type / l2tp.tunnel / l2tp.session) — the
    carrier-VPN tunnel identity pair."""
    if len(payload) < 8:
        return False
    flags = int.from_bytes(payload[0:2], "big")
    if flags & 0x000F != 2:  # version must be 2
        return False
    is_control = bool(flags & 0x8000)
    off = 2
    if flags & 0x4000:  # length present
        declared = int.from_bytes(payload[2:4], "big")
        if declared != len(payload):
            return False
        off += 2
    elif is_control:
        return False  # control messages MUST carry a length (RFC 2661)
    if off + 4 > len(payload):
        return False
    fields["l2tp.type"] = int(is_control)
    fields["l2tp.tunnel"] = int.from_bytes(payload[off:off + 2], "big")
    fields["l2tp.session"] = int.from_bytes(
        payload[off + 2:off + 4], "big")
    kind = "Control" if is_control else "Data"
    fields["_ws.col.info"] = (
        f"L2TP {kind} tunnel={fields['l2tp.tunnel']}"
        f" session={fields['l2tp.session']}")
    return True


def _dissect_git(payload: bytes, fields: dict) -> bool:
    """Git pkt-line on 9418: a 4-hex-digit length framing a
    `git-upload-pack`/`git-receive-pack` request (tshark
    git.packet_len; the service string is this engine's git.service)
    — who clones what from where."""
    if len(payload) < 8:
        return False
    try:
        plen = int(payload[0:4], 16)
    except ValueError:
        return False
    if plen < 8 or plen > len(payload):
        return False
    body = payload[4:plen]
    if not body.startswith(b"git-"):
        return False
    fields["git.packet_len"] = plen
    fields["git.service"] = body.split(b" ", 1)[0].decode(
        "ascii", errors="replace")
    fields["_ws.col.info"] = (
        f"Git {fields['git.service']}")
    return True


_IRC_COMMANDS = ("NICK", "USER", "JOIN", "PART", "PRIVMSG", "NOTICE",
                 "PING", "PONG", "QUIT", "MODE", "TOPIC", "KICK",
                 "WHOIS", "CAP", "PASS")


def _dissect_irc(payload: bytes, fields: dict) -> bool:
    """IRC on 6667: client command verbs and server-prefixed numeric
    replies (tshark irc.request.command / irc.response.num_command) —
    the classic C2 long tail a capture audit still has to rule out."""
    line = _line_protocol(payload)
    if line is None:
        return False
    if line.startswith(":"):
        parts = line.split(" ")
        if len(parts) >= 2 and parts[1].isdigit() and len(parts[1]) == 3:
            fields["irc.response.num_command"] = int(parts[1])
            fields["_ws.col.info"] = f"IRC reply {parts[1]}"
            return True
        return False
    verb = line.split(" ", 1)[0].upper()
    if verb in _IRC_COMMANDS:
        fields["irc.request.command"] = verb
        fields["_ws.col.info"] = f"IRC {line[:80]}"
        return True
    return False


def _dissect_tacplus(payload: bytes, fields: dict) -> bool:
    """TACACS+ on 49: major version 0xC gate, packet type 1-3
    (authen/author/acct), session id, and the body length matching the
    TCP segment (tshark tacplus.type / tacplus.session_id) —
    network-device AAA next to RADIUS."""
    if len(payload) < 12 or (payload[0] >> 4) != 0x0C:
        return False
    ptype = payload[1]
    if ptype not in (1, 2, 3):
        return False
    body_len = int.from_bytes(payload[8:12], "big")
    if 12 + body_len != len(payload):
        return False
    fields["tacplus.type"] = ptype
    fields["tacplus.session_id"] = int.from_bytes(payload[4:8], "big")
    kind = {1: "Authentication", 2: "Authorization",
            3: "Accounting"}[ptype]
    fields["_ws.col.info"] = f"TACACS+ {kind}"
    return True


_STUN_COOKIE = b"\x21\x12\xa4\x42"


def _dissect_stun(payload: bytes, fields: dict) -> bool:
    """STUN (RFC 5389) on any UDP port — ICE/WebRTC candidates ride
    ephemeral ports, so the gate is the magic cookie 0x2112A442 plus
    the zero top type bits and a 4-aligned length matching the
    datagram (tshark stun.type / stun.length)."""
    if len(payload) < 20 or payload[4:8] != _STUN_COOKIE:
        return False
    mtype = int.from_bytes(payload[0:2], "big")
    length = int.from_bytes(payload[2:4], "big")
    if mtype & 0xC000 or length % 4 or 20 + length != len(payload):
        return False
    fields["stun.type"] = mtype
    fields["stun.length"] = length
    fields["_ws.col.info"] = (
        f"STUN {_STUN_TYPES.get(mtype, f'0x{mtype:04x}')}")
    return True


def _dissect_isakmp(payload: bytes, fields: dict,
                    natt: bool = False) -> bool:
    """ISAKMP/IKE on 500 (and 4500 behind the non-ESP marker): SPIs,
    major version (1 = IKEv1, 2 = IKEv2), exchange type, and the
    declared length gate (tshark isakmp.version / isakmp.exchangetype
    / isakmp.length) — VPN control-plane visibility. The NAT-T marker
    strip is PORT-conditional: a zero leading SPI word on 500 must not
    be misread as a marker."""
    if natt and len(payload) >= 4 \
            and payload[0:4] == b"\x00\x00\x00\x00":
        payload = payload[4:]  # NAT-T non-ESP marker on 4500
    if len(payload) < 28:
        return False
    version = payload[17]
    exch = payload[18]
    length = int.from_bytes(payload[24:28], "big")
    if version not in (0x10, 0x20) or length != len(payload):
        return False
    fields["isakmp.version"] = version >> 4
    fields["isakmp.exchangetype"] = exch
    fields["isakmp.length"] = length
    kind = {2: "Identity Protection", 4: "Aggressive",
            5: "Informational", 34: "IKE_SA_INIT", 35: "IKE_AUTH",
            36: "CREATE_CHILD_SA", 37: "INFORMATIONAL"}.get(
                exch, f"exchange {exch}")
    fields["_ws.col.info"] = f"IKEv{version >> 4} {kind}"
    return True


_SSDP_METHODS = (b"M-SEARCH", b"NOTIFY")


def _dissect_ssdp(payload: bytes, fields: dict) -> bool:
    """SSDP on 1900: UPnP discovery in HTTP syntax — tshark routes it
    through the HTTP dissector under the ssdp protocol, mirrored here
    (http.request.method / http.response.code fields, ssdp in
    frame.protocols). IoT/UPnP exposure mapping."""
    if payload.startswith(b"HTTP/1.1 200"):
        return _dissect_http(payload, fields)
    if not payload.startswith(_SSDP_METHODS):
        return False
    line = _line_protocol(payload)
    if line is None:
        return False
    parts = line.split(" ", 2)
    if len(parts) < 3 or not parts[2].startswith("HTTP/"):
        return False
    fields["http.request.method"] = parts[0]
    fields["http.request.uri"] = parts[1]
    fields["http.request.version"] = parts[2]
    fields["_ws.col.info"] = line
    return True


def _dissect_dtls(payload: bytes, fields: dict) -> bool:
    """DTLS record header on any UDP port (WebRTC media negotiates
    random ports, so the gate is structural, not port-based): content
    type 20-23 + version 0xFEFF (1.0) / 0xFEFD (1.2) + the declared
    record length matching the datagram (tshark
    dtls.record.content_type / .version / .length)."""
    if len(payload) < 13 or payload[0] not in (20, 21, 22, 23):
        return False
    version = int.from_bytes(payload[1:3], "big")
    if version not in (0xFEFF, 0xFEFD):
        return False
    length = int.from_bytes(payload[11:13], "big")
    if 13 + length > len(payload):
        return False
    fields["dtls.record.content_type"] = payload[0]
    fields["dtls.record.version"] = version
    fields["dtls.record.length"] = length
    kind = {20: "Change Cipher Spec", 21: "Alert", 22: "Handshake",
            23: "Application Data"}[payload[0]]
    fields["_ws.col.info"] = f"DTLS {kind}"
    return True


def _dissect_gtp(payload: bytes, fields: dict, protos: list) -> bool:
    """GTPv1-U on 2152: flags/message/TEID (tshark gtp.flags /
    gtp.message / gtp.teid), with one level of G-PDU (0xFF) inner-IPv4
    decapsulation — the mobile-network twin of the VXLAN/GRE decap
    (inner subscriber flow wins the standard columns, tunnel endpoints
    stay as gtp.outer_ip_*)."""
    if len(payload) < 8 or (payload[0] & 0xF0) != 0x30:
        return False
    msg = payload[1]
    length = int.from_bytes(payload[2:4], "big")
    if 8 + length > len(payload):
        return False
    fields["gtp.flags"] = payload[0]
    fields["gtp.message"] = msg
    fields["gtp.teid"] = int.from_bytes(payload[4:8], "big")
    hdr = 8
    if payload[0] & 0x07:  # E/S/PN flags add 4 option bytes
        hdr += 4
    if msg == 0xFF and len(payload) >= hdr + 20 \
            and (payload[hdr] >> 4) == 4:
        fields["gtp.outer_ip_src"] = fields.get("ip.src")
        fields["gtp.outer_ip_dst"] = fields.get("ip.dst")
        inner = payload[hdr:]
        inner_fields: dict = {}
        inner_protos: list = []
        _dissect_ipv4(
            b"\x00" * 14 + inner, 14, inner_protos, inner_fields)
        inner_fields.pop("_ws.col.info", None)
        fields.update(inner_fields)
        protos.extend(inner_protos)
        fields["_ws.col.info"] = (
            f"GTP-U TEID 0x{fields['gtp.teid']:08x}: "
            + ":".join(inner_protos or ["data"]))
    else:
        fields["_ws.col.info"] = f"GTP message 0x{msg:02x}"
    return True


_KRB_MSGS = {0x6A: "AS-REQ", 0x6B: "AS-REP", 0x6C: "TGS-REQ",
             0x6D: "TGS-REP", 0x6E: "AP-REQ", 0x6F: "AP-REP",
             0x7E: "KRB-ERROR"}


def _dissect_kerberos(payload: bytes, fields: dict) -> bool:
    """Kerberos v5 on 88: the ASN.1 APPLICATION tag selects the message
    type (AS-REQ 10 .. KRB-ERROR 30 — tshark kerberos.msg_type carries
    the application number, not the raw tag byte). Authentication-plane
    visibility: AS-REQ floods and KRB-ERROR storms are the audit
    signals."""
    if len(payload) < 4 or payload[0] not in _KRB_MSGS:
        return False
    if _ber_len(payload, 1) is None:
        return False
    fields["kerberos.msg_type"] = payload[0] & 0x1F
    fields["_ws.col.info"] = f"Kerberos {_KRB_MSGS[payload[0]]}"
    return True


def _nbns_decode(label: str) -> str | None:
    """RFC 1001 §14.1 first-level decoding: a 32-char A..P label packs
    16 bytes, two nibbles per char; the 16th byte is the NetBIOS
    suffix. Returns 'NAME<suffix-hex>' or None if not NBNS-encoded."""
    if len(label) != 32 or any(c < "A" or c > "P" for c in label):
        return None
    raw = bytes(
        ((ord(label[i]) - 65) << 4) | (ord(label[i + 1]) - 65)
        for i in range(0, 32, 2)
    )
    name = raw[:15].decode("ascii", errors="replace").rstrip(" ")
    return f"{name}<{raw[15]:02x}>"


def _dissect_nbns(payload: bytes, fields: dict) -> bool:
    """NetBIOS Name Service on 137: DNS wire format whose names are
    first-level encoded — decoded here to the human NetBIOS name +
    suffix (tshark nbns.id / nbns.flags.response / nbns.name), the
    legacy-Windows discovery chatter every enterprise capture is full
    of."""
    scratch: dict = {}
    if not _dissect_dns(payload, scratch):
        return False
    fields["nbns.id"] = scratch.get("dns.id")
    fields["nbns.flags.response"] = scratch.get("dns.flags.response")
    qname = scratch.get("dns.qry.name", "")
    decoded = _nbns_decode(qname.split(".")[0]) if qname else None
    if decoded is None:
        return False  # not first-level encoded -> not NBNS
    fields["nbns.name"] = decoded
    verb = "Name query response" if fields["nbns.flags.response"] \
        else "Name query"
    fields["_ws.col.info"] = f"NBNS {verb} {decoded}"
    return True


def _dissect_rip(payload: bytes, fields: dict) -> bool:
    """RIP v1/v2 on 520: command (1 request / 2 response) and version
    (tshark rip.command / rip.version) — legacy routing chatter."""
    if len(payload) < 4 or payload[0] not in (1, 2) \
            or payload[1] not in (1, 2) or payload[2:4] != b"\x00\x00":
        return False
    fields["rip.command"] = payload[0]
    fields["rip.version"] = payload[1]
    kind = "Request" if payload[0] == 1 else "Response"
    fields["_ws.col.info"] = f"RIPv{payload[1]} {kind}"
    return True


def _dissect_quic(payload: bytes, fields: dict) -> bool:
    """QUIC v1/v2 header parse (RFC 9000 §17) on UDP/443 traffic.

    Long headers are self-describing: version, DCID, SCID, and the
    packet type (v1 mapping: 0 Initial, 1 0-RTT, 2 Handshake, 3 Retry;
    version 0 is Version Negotiation). Short (1-RTT) headers are NOT
    claimed at all — their DCID length is not on the wire (tshark
    recovers it via connection tracking), and a one-bit heuristic would
    false-positive on arbitrary UDP payloads (documented deviation,
    same spirit as the VXLAN inner-wins rule). Field names match
    tshark's QUIC dissector (quic.version, quic.dcid, quic.scid,
    quic.long.packet_type)."""
    b0 = payload[0]
    # Parse into a scratch dict and commit only on full validation, so a
    # failed parse never leaves partial quic.* fields on an opaque UDP
    # packet that happened to start with 0b11.
    out: dict = {"quic.header_form": True}
    version = int.from_bytes(payload[1:5], "big")
    out["quic.version"] = version
    dcid_len = payload[5]
    if dcid_len > 20 or len(payload) < 6 + dcid_len + 1:
        return False
    out["quic.dcid"] = payload[6:6 + dcid_len].hex()
    scid_off = 6 + dcid_len
    scid_len = payload[scid_off]
    if scid_len > 20 or len(payload) < scid_off + 1 + scid_len:
        return False
    out["quic.scid"] = payload[scid_off + 1:scid_off + 1 + scid_len].hex()
    if version == 0:
        out["_ws.col.info"] = "QUIC Version Negotiation"
    else:
        ptype = (b0 >> 4) & 0x03
        out["quic.long.packet_type"] = ptype
        kind = {0: "Initial", 1: "0-RTT", 2: "Handshake", 3: "Retry"}[ptype]
        out["_ws.col.info"] = f"QUIC {kind}, DCID={out['quic.dcid']}"
    fields.update(out)
    return True


def _dissect_ntp(payload: bytes, fields: dict) -> bool:
    """NTP v1-v4 header (RFC 5905 §7.3; field names match tshark's epan
    NTP dissector). Emits the flags byte split, stratum/poll, and the
    transmit timestamp converted from the 1900-based 32.32 fixed-point
    format to epoch microseconds (TimestampType)."""
    b0 = payload[0]
    li, vn, mode = b0 >> 6, (b0 >> 3) & 0x07, b0 & 0x07
    if not 1 <= vn <= 4 or mode == 0:
        return False
    fields["ntp.flags.li"] = li
    fields["ntp.flags.vn"] = vn
    fields["ntp.flags.mode"] = mode
    fields["ntp.stratum"] = payload[1]
    # poll is signed (log2 seconds; negative for sub-second intervals)
    fields["ntp.ppoll"] = struct.unpack(">b", payload[2:3])[0]
    xmt_sec, xmt_frac = struct.unpack(">II", payload[40:48])
    if xmt_sec:
        fields["ntp.xmt"] = (
            (xmt_sec - _NTP_UNIX_OFFSET) * 1_000_000
            + ((xmt_frac * 1_000_000) >> 32)
        )
    kind = _NTP_MODE_NAMES.get(mode, f"mode {mode}")
    fields["_ws.col.info"] = f"NTP Version {vn}, {kind}"
    return True


_DHCP_MSG_NAMES = {
    1: "Discover", 2: "Offer", 3: "Request", 4: "Decline", 5: "ACK",
    6: "NAK", 7: "Release", 8: "Inform",
}
_DHCP_COOKIE = b"\x63\x82\x53\x63"


def _dissect_dhcp(payload: bytes, fields: dict) -> bool:
    """DHCP over BOOTP framing (RFC 2131; field names match tshark's epan
    DHCP dissector). Fixed header fields plus the option-53 message type
    from the TLV area after the magic cookie."""
    if len(payload) < 240 or payload[236:240] != _DHCP_COOKIE:
        return False
    fields["dhcp.type"] = payload[0]
    fields["dhcp.id"] = struct.unpack(">I", payload[4:8])[0]
    fields["dhcp.ip.client"] = _ipv4(payload[12:16])
    fields["dhcp.ip.your"] = _ipv4(payload[16:20])
    fields["dhcp.hw.mac_addr"] = _mac(payload[28:34])
    msgtype = None
    i = 240
    while i + 1 < len(payload):
        opt = payload[i]
        if opt == 0:  # pad
            i += 1
            continue
        if opt == 255:  # end
            break
        ln = payload[i + 1]
        if opt == 53 and ln == 1 and i + 2 < len(payload):
            msgtype = payload[i + 2]
        i += 2 + ln
    if msgtype is not None:
        fields["dhcp.option.dhcp"] = msgtype
        kind = f"DHCP {_DHCP_MSG_NAMES.get(msgtype, f'type {msgtype}')}"
    else:
        kind = "Boot Request" if payload[0] == 1 else "Boot Reply"
    fields["_ws.col.info"] = (
        f"{kind} - Transaction ID 0x{fields['dhcp.id']:x}"
    )
    return True


def _dissect_dns(payload: bytes, fields: dict) -> bool:
    """DNS header + first question (the analytics-relevant surface:
    transaction id, response flag, section counts, query name/type)."""
    try:
        dns_id, dns_flags, qd, an, ns, ar = struct.unpack(
            ">HHHHHH", payload[:12]
        )
    except struct.error:
        return False
    fields["dns.id"] = dns_id
    fields["dns.flags.response"] = bool(dns_flags & 0x8000)
    fields["dns.count.queries"] = qd
    fields["dns.count.answers"] = an
    fields["dns.count.auth_rr"] = ns
    fields["dns.count.add_rr"] = ar
    if qd >= 1 and len(payload) > 12:
        name, noff = _dns_name(payload, 12)
        fields["dns.qry.name"] = name
        if noff + 4 <= len(payload):
            qtype, _qclass = struct.unpack(">HH", payload[noff:noff + 4])
            fields["dns.qry.type"] = qtype
            noff += 4
        verb = "Standard query response" if dns_flags & 0x8000 else \
            "Standard query"
        fields["_ws.col.info"] = f"{verb} 0x{dns_id:04x} {name}"
        if an >= 1 and dns_flags & 0x8000:
            _dissect_dns_answers(payload, noff, an, fields)
    return True


def _dissect_dns_answers(payload: bytes, off: int, an: int, fields) -> None:
    """First A/AAAA/CNAME answers: resolved address (dns.a / dns.aaaa),
    CNAME target, and the minimum TTL — the fields passive-DNS analytics
    join on. Stops silently on truncation (per-cell-null philosophy)."""
    a = aaaa = cname = None
    min_ttl = None
    try:
        for _ in range(min(an, 32)):
            _name, off = _dns_name(payload, off)
            rtype, _rclass, ttl, rdlen = struct.unpack(
                ">HHIH", payload[off:off + 10]
            )
            off += 10
            rdata = payload[off:off + rdlen]
            off += rdlen
            if len(rdata) < rdlen:
                break
            min_ttl = ttl if min_ttl is None else min(min_ttl, ttl)
            if rtype == 1 and rdlen == 4 and a is None:
                a = _ipv4(rdata)
            elif rtype == 28 and rdlen == 16 and aaaa is None:
                aaaa = _ipv6(rdata)
            elif rtype == 5 and cname is None:
                cname, _ = _dns_name(payload, off - rdlen)
    except (struct.error, IndexError):
        pass
    if a is not None:
        fields["dns.a"] = a
    if aaaa is not None:
        fields["dns.aaaa"] = aaaa
    if cname is not None:
        fields["dns.cname"] = cname
    if min_ttl is not None:
        fields["dns.resp.ttl"] = min_ttl


def _dissect_http(payload: bytes, fields: dict) -> bool:
    """HTTP/1.x start-line only (request method/uri/version or response
    code/phrase) — the fields port-pair analytics join on."""
    if payload.startswith(b"HTTP/"):
        line = payload.split(b"\r\n", 1)[0][:512].decode("ascii",
                                                         errors="replace")
        parts = line.split(" ", 2)
        fields["http.response.version"] = parts[0]
        if len(parts) > 1 and parts[1].isdigit():
            fields["http.response.code"] = int(parts[1])
        if len(parts) > 2:
            fields["http.response.phrase"] = parts[2]
        fields["_ws.col.info"] = line
        return True
    if payload.startswith(_HTTP_METHODS):
        line = payload.split(b"\r\n", 1)[0][:512].decode("ascii",
                                                         errors="replace")
        parts = line.split(" ", 2)
        fields["http.request.method"] = parts[0]
        if len(parts) > 1:
            fields["http.request.uri"] = parts[1]
        if len(parts) > 2:
            fields["http.request.version"] = parts[2]
        fields["_ws.col.info"] = line
        return True
    return False


_TLS_HS_NAMES = {1: "Client Hello", 2: "Server Hello", 11: "Certificate",
                 16: "Client Key Exchange", 20: "Finished"}


def _dissect_tls(payload: bytes, fields: dict) -> bool:
    """TLS record layer + handshake header + ClientHello SNI.

    Detection is content-based (record type 20-23, legacy version 0x03xx,
    sane length), not port-based — QUIC-less TLS on any port dissects.
    The reference surfaces these fields only through tshark; this is the
    tshark-free subset a flow-analytics user actually joins on: record
    type/version, handshake type/version, and the SNI host name.
    """
    if len(payload) < 5:
        return False
    ctype = payload[0]
    if ctype < 20 or ctype > 23 or payload[1] != 0x03 or payload[2] > 0x04:
        return False
    rec_len = struct.unpack(">H", payload[3:5])[0]
    if rec_len == 0 or rec_len > (1 << 14) + 2048:
        return False
    fields["tls.record.content_type"] = ctype
    fields["tls.record.version"] = struct.unpack(">H", payload[1:3])[0]
    fields["tls.record.length"] = rec_len
    info = f"TLS record type {ctype}"
    body = payload[5:5 + rec_len]
    # A snaplen-truncated record (captured bytes end before the declared
    # record length) can still yield the SNI and header fields, but a
    # fingerprint computed over a CLIPPED cipher/extension walk would be
    # a confidently-wrong md5 that matches nothing in published JA3
    # feeds — a silent false negative in threat-intel joins (r12
    # review). Emit NO ja3/ja3s on truncation instead.
    truncated = len(body) < rec_len
    if ctype == 22 and len(body) >= 4:  # handshake
        hs_type = body[0]
        fields["tls.handshake.type"] = hs_type
        info = _TLS_HS_NAMES.get(hs_type, f"Handshake {hs_type}")
        if hs_type in (1, 2) and len(body) >= 6:
            fields["tls.handshake.version"] = struct.unpack(
                ">H", body[4:6]
            )[0]
        if hs_type == 1:
            sni, cs_len, ja3_str = _client_hello_details(body[4:])
            if cs_len is not None:
                fields["tls.handshake.cipher_suites_length"] = cs_len
            if sni:
                fields["tls.handshake.extensions_server_name"] = sni
                info = f"Client Hello (SNI={sni})"
            if ja3_str is not None and not truncated:
                fields["tls.handshake.ja3_string"] = ja3_str
                fields["tls.handshake.ja3"] = hashlib.md5(
                    ja3_str.encode()).hexdigest()
        elif hs_type == 2:
            ja3s_str = _server_hello_ja3s(body[4:])
            if ja3s_str is not None and not truncated:
                fields["tls.handshake.ja3s_string"] = ja3s_str
                fields["tls.handshake.ja3s"] = hashlib.md5(
                    ja3s_str.encode()).hexdigest()
    fields["_ws.col.info"] = info
    return True


_U16 = struct.Struct(">H")
_TLS_EXT_HDR = struct.Struct(">HH")  # extension type, length


def _u16_list(b: bytes, off: int, nbytes: int) -> tuple:
    """The big-endian uint16s of an ``nbytes``-long list at ``off``, in
    one unpack, as far as ``b`` holds whole values (an odd length's last
    value takes one byte past the list, as a 2-byte walk over it does)."""
    k = min((nbytes + 1) // 2, (len(b) - off) // 2)
    return struct.unpack_from(f">{k}H", b, off) if k > 0 else ()


def _ja3_field(values) -> str:
    """One JA3 list: dash-joined in wire order, GREASE values dropped."""
    return "-".join([str(v) for v in values if v not in _GREASE])


def _server_hello_ja3s(b: bytes) -> str | None:
    """JA3S string `version,cipher,extensions` from a ServerHello body
    (post handshake-header) — the server half of the JA3 pair: a C2
    server answers every implant with the same stack, so (ja3, ja3s)
    pairs fingerprint both ends of a TLS conversation."""
    try:
        version = _U16.unpack_from(b, 0)[0]
        off = 2 + 32  # server_version + random
        off += 1 + b[off]  # session_id
        cipher = _U16.unpack_from(b, off)[0]
        off += 2
        off += 1  # compression method
        exts: list[int] = []
        if off + 2 <= len(b):
            ext_total = _U16.unpack_from(b, off)[0]
            off += 2
            end = min(off + ext_total, len(b))
            while off + 4 <= end:
                etype, elen = _TLS_EXT_HDR.unpack_from(b, off)
                exts.append(etype)
                off += 4 + elen
        return f"{version},{cipher},{_ja3_field(exts)}"
    except (IndexError, struct.error):
        return None


def _is_grease(v: int) -> bool:
    """GREASE code points are excluded from JA3. RFC 8701 reserves the
    16 values whose two bytes are EQUAL and end in 0xA (0x0a0a, 0x1a1a,
    ... 0xfafa) — the old `(v & 0x0F0F) == 0x0A0A` mask also matched any
    unequal-byte 0x?A?A value, which would silently strip a future
    legitimately-assigned codepoint from the fingerprint (r12 review)."""
    return (v & 0x0F0F) == 0x0A0A and (v >> 8) == (v & 0xFF)


# the 16 values _is_grease accepts, for set lookups in the JA3 lists
_GREASE = frozenset(0x0A0A + 0x1010 * k for k in range(16))


def _client_hello_details(
    b: bytes,
) -> tuple[str | None, int | None, str | None]:
    """(SNI host name, cipher_suites byte length, JA3 string) from a
    ClientHello body (post handshake-header); Nones on truncation.

    JA3 (Salesforce's TLS-client fingerprint, the de-facto standard
    flow-analytics join key): `version,ciphers,extensions,curves,formats`
    with each list dash-joined in wire order and GREASE values dropped.
    The md5 of this string is what threat-intel feeds publish.
    """
    try:
        version = _U16.unpack_from(b, 0)[0]
        off = 2 + 32  # client_version + random
        off += 1 + b[off]  # session_id
        cs_len = _U16.unpack_from(b, off)[0]
        off += 2
        ciphers = _u16_list(b, off, cs_len)
        off += cs_len
        off += 1 + b[off]  # compression_methods
        sni = None
        exts: list[int] = []
        curves: tuple = ()
        ec_fmts = b""
        if off + 2 <= len(b):
            ext_total = _U16.unpack_from(b, off)[0]
            off += 2
            end = min(off + ext_total, len(b))
            while off + 4 <= end:
                etype, elen = _TLS_EXT_HDR.unpack_from(b, off)
                off += 4
                exts.append(etype)
                if etype == 0 and elen >= 5:  # server_name
                    # list_len(2) + type(1) + name_len(2) + name
                    name_len = _U16.unpack_from(b, off + 3)[0]
                    name = b[off + 5:off + 5 + name_len]
                    sni = name.decode("ascii", errors="replace")
                elif etype == 10 and elen >= 2:  # supported_groups
                    curves = _u16_list(b, off + 2,
                                       _U16.unpack_from(b, off)[0])
                elif etype == 11 and elen >= 1:  # ec_point_formats
                    ec_fmts = b[off + 1:off + 1 + b[off]]
                off += elen
        ja3_str = ",".join((
            str(version),
            _ja3_field(ciphers),
            _ja3_field(exts),
            _ja3_field(curves),
            "-".join([str(f) for f in ec_fmts]),
        ))
        return sni, cs_len, ja3_str
    except (IndexError, struct.error):
        return None, None, None


@lru_cache(maxsize=65536)
def stream_id(src, sport, dst, dport) -> int:
    """Content-derived tcp.stream: stable 63-bit hash of the canonical
    (sorted) endpoint pair.

    Deviation from tshark's first-seen ordinal (deliberate — round-1
    ADVICE): an ordinal is scan-order-dependent, so byte-range splitting a
    capture silently renumbered/merged flows. A content hash is
    partition-invariant by construction: the same connection gets the same
    id in every slice, every file, every run. Grouping semantics are
    identical (one id per 4-tuple conversation); only the id VALUES differ
    from tshark's 0,1,2,...
    """
    a, b = sorted(((str(src), int(sport)), (str(dst), int(dport))))
    h = hashlib.md5(f"{a[0]}:{a[1]}|{b[0]}:{b[1]}".encode()).digest()
    return int.from_bytes(h[:8], "big") & 0x7FFFFFFFFFFFFFFF


PCAPNG_MAGIC = b"\x0a\x0d\x0d\x0a"  # SHB block type, endian-invariant


def is_pcapng(path: str) -> bool:
    with filesystem_for(path).open(path) as fh:
        return fh.read(4) == PCAPNG_MAGIC


# Read size of both record walks: one fh.read per 4 MiB instead of
# reads per record or block (a longer record or block is read whole).
_CHUNK = 4 << 20


def _unsplit(start_byte):
    """(start_byte, end_byte) of a slice of a capture whose snaplen is
    beyond the sane resync cap. Byte-range resync can't be trusted
    there, so the FIRST slice — the only one starting at or before
    GLOBAL_HEADER_LEN, the planner's unique minimum — owns the whole
    file and every other slice owns nothing: exactly-once without
    coordination (round-2 ADVICE fix; ADVICE r12: testing against the
    end of the pcapng preamble instead let slices whose start fell
    inside it ALSO own the whole file)."""
    if start_byte is not None and start_byte > GLOBAL_HEADER_LEN:
        return None, 0
    return None, None


def _refill(fh, buf: bytes, lo: int, pos: int, need: int,
            raw: list) -> bytes:
    """The walk buffer after a refill: buf[pos:] plus one read of at
    least max(_CHUNK, need) bytes. The walked bytes buf[lo:pos] go to
    `raw` as a view, which the next batch carries out (see _walk). The
    walks cut the batch collected so far before a refill, so a batch's
    records always sit in one buffer."""
    raw.append(memoryview(buf)[lo:pos])
    return b"".join((memoryview(buf)[pos:], fh.read(max(_CHUNK, need))))


def _cut(batch, buf: bytes, base: int, lo: int, pos: int, offs: list,
         raw: list, *layout) -> tuple:
    """The (offsets, columns, raw) triple a walk yields at buf[pos],
    buf[0] being file offset ``base``: ``columns()`` is
    ``batch(buf, offs, base, *layout)`` and the walked bytes buf[lo:pos]
    join ``raw``."""
    raw.append(memoryview(buf)[lo:pos])
    return offs, partial(batch, buf, offs, base, *layout), raw


class RecordBytes:
    """The captured bytes of a batch's records, sliced on demand: record
    i is ``buf[start[i]:start[i] + length[i]]``, where ``buf`` is the
    walk buffer the records sit in and ``start``/``length`` are int64
    arrays. An int index gives that record's bytes, a slice a view of
    those records, and iteration every record's bytes in order."""

    __slots__ = ("buf", "start", "length")

    def __init__(self, buf: bytes, start: np.ndarray, length: np.ndarray):
        self.buf = buf
        self.start = start
        self.length = length

    def __len__(self) -> int:
        return len(self.start)

    def __getitem__(self, i):
        if isinstance(i, slice):
            return RecordBytes(self.buf, self.start[i], self.length[i])
        s = int(self.start[i])
        return self.buf[s:s + int(self.length[i])]

    def __iter__(self):
        buf = self.buf
        for s, n in zip(self.start.tolist(), self.length.tolist()):
            yield buf[s:s + n]


def _gather_u32(a: np.ndarray, at: np.ndarray, words: int,
                u32: np.dtype) -> np.ndarray:
    """The ``words`` consecutive u32 fields at each offset ``at`` of the
    byte array ``a``, as a (words, rows) int64 array."""
    b = a[at[:, None] + np.arange(4 * words)]
    return b.view(u32).astype(np.int64).T.copy()


def _classic_batch(buf: bytes, offs: list, base: int, u32: np.dtype,
                   div: int, linktype: int) -> tuple:
    """The column batch of classic records whose headers start at the
    file offsets ``offs``; buf[0] is file offset ``base``."""
    offs = np.array(offs, np.int64)
    s = offs - base
    ts, frac, incl, orig = _gather_u32(np.frombuffer(buf, np.uint8), s, 4,
                                       u32)
    # integer microseconds (no float round-trip: ns captures keep exact
    # us truncation, and 2038+ second counts stay exact)
    epoch = ts * 1_000_000 + frac // div
    return (offs, epoch, incl, orig,
            RecordBytes(buf, s + RECORD_HEADER_LEN, incl), linktype)


def _walk_classic(fh, size: int, start_byte, end_byte, batch_rows: int):
    """The classic-libpcap record walk of :func:`_walk`."""
    head = fh.read(GLOBAL_HEADER_LEN)
    info = read_global_header(head)
    if not splittable_snaplen(info):
        start_byte, end_byte = _unsplit(start_byte)
    base = GLOBAL_HEADER_LEN  # the file offset of buf[0]
    if start_byte is not None:
        base = resync_offset(fh, info, start_byte, size)
        fh.seek(base)
    end = size if end_byte is None else end_byte
    incl_at = struct.Struct(info.endian + "I").unpack_from
    layout = (np.dtype(info.endian + "u4"), info.ts_divisor // 1_000_000,
              info.linktype)
    cap = _MAX_SANE_ORIGLEN
    hl = RECORD_HEADER_LEN
    buf = b""
    pos = lo = have = 0
    raw: list = [head]
    offs: list = []
    while base + pos < end:
        if pos + hl > have:
            if offs:
                yield _cut(_classic_batch, buf, base, lo, pos, offs, raw,
                           *layout)
                offs, raw, lo = [], [], pos
            buf = _refill(fh, buf, lo, pos, 0, raw)
            base += pos
            pos = lo = 0
            have = len(buf)
            if hl > have:
                break
        incl = incl_at(buf, pos + 8)[0]
        nxt = pos + hl + incl
        if incl > cap or base + nxt > size:
            break
        if nxt > have:
            if offs:
                yield _cut(_classic_batch, buf, base, lo, pos, offs, raw,
                           *layout)
                offs, raw, lo = [], [], pos
            buf = _refill(fh, buf, lo, pos, hl + incl, raw)
            base += pos
            pos = lo = 0
            have = len(buf)
            nxt = hl + incl
            if nxt > have:
                break
        offs.append(base + pos)
        pos = nxt
        if len(offs) >= batch_rows:
            span = base + pos - offs[0]
            yield _cut(_classic_batch, buf, base, lo, pos, offs, raw, *layout)
            offs, raw, lo = [], [], pos
            if have - pos < span and base + pos < end:
                buf = _refill(fh, buf, lo, pos, min(span, end - base - pos),
                              raw)
                base += pos
                pos = lo = 0
                have = len(buf)
    yield _cut(_classic_batch, buf, base, lo, pos, offs, raw, *layout)


_SHB_TYPE = 0x0A0D0D0A
_IDB_TYPE = 0x00000001
_SPB_TYPE = 0x00000003
_EPB_TYPE = 0x00000006


def _idb_tsresol(body: bytes, endian: str) -> int:
    """Parse IDB options for if_tsresol (code 9) -> ticks per second.
    Default is 10^-6 (pcapng spec)."""
    off = 8  # linktype u16 + reserved u16 + snaplen u32
    while off + 4 <= len(body):
        code, ln = struct.unpack(endian + "HH", body[off:off + 4])
        if code == 0:
            break
        val = body[off + 4:off + 4 + ln]
        if code == 9 and ln >= 1:
            v = val[0]
            return 2 ** (v & 0x7F) if v & 0x80 else 10 ** v
        off += 4 + ((ln + 3) & ~3)
    return 1_000_000


_MAX_SANE_BLOCK = 4 * 1024 * 1024


def _pcapng_block_len(buf: bytes, rel: int, endian: str, abs_base: int,
                      size: int) -> int | None:
    """Block length if the block at buf[rel:] has valid pcapng framing
    (sane length, 4-aligned, in-file, trailing length echo), else None."""
    if rel + 12 > len(buf):
        return None
    blen = struct.unpack(endian + "I", buf[rel + 4:rel + 8])[0]
    if blen < 12 or blen % 4 or blen > _MAX_SANE_BLOCK \
            or abs_base + rel + blen > size:
        return None
    if rel + blen <= len(buf):
        trailer = struct.unpack(
            endian + "I", buf[rel + blen - 4:rel + blen]
        )[0]
        if trailer != blen:
            return None
    return blen


def _pcapng_chain_validates(buf: bytes, rel: int, endian: str, abs_base: int,
                            size: int) -> bool:
    """True if a packet block (EPB or SPB) with a chain of framing-valid
    blocks starts at buf[rel:] (pcapng analogue of _chain_validates).
    SPB is accepted so SPB-only captures survive splitting (round-2 ADVICE:
    EPB-only matching lost every packet in non-first slices of them)."""
    if rel + 4 > len(buf) or struct.unpack(
        endian + "I", buf[rel:rel + 4]
    )[0] not in (_EPB_TYPE, _SPB_TYPE):
        return False
    off = rel
    for i in range(_RESYNC_CHAIN):
        if off + 12 > len(buf):
            return i > 0
        blen = _pcapng_block_len(buf, off, endian, abs_base, size)
        if blen is None:
            return False
        off += blen
        if abs_base + off >= size:
            return True
    return True


def pcapng_resync_offset(fh, endian: str, start: int, size: int) -> int:
    """First offset >= start where a plausible packet-block chain (EPB or
    SPB) begins (executor-side, reads only this partition's neighborhood)
    — `size` if none.

    Candidates come from bytes.find on the block-type markers (C-speed
    scan; every real packet block starts with one), then chain-validate.
    Scans window-by-window to EOF instead of giving up after ~4 MiB
    (round-2 ADVICE: a run of ISB/NRB/custom blocks between packet blocks
    — common in long dumpcap captures — pushed the first EPB past one
    window and the slice silently yielded nothing). Windows overlap by one
    block header so a tail candidate is re-examined, never lost."""
    window = _MAX_SANE_BLOCK + 4096
    markers = [struct.pack(endian + "I", t) for t in (_EPB_TYPE, _SPB_TYPE)]
    base = start
    while base < size:
        fh.seek(base)
        buf = fh.read(min(window, size - base))
        if not buf:
            break
        cands = sorted(
            rel
            for m in markers
            for rel in _find_all(buf, m)
        )
        for rel in cands:
            if _pcapng_chain_validates(buf, rel, endian, base, size):
                return base + rel
        step = max(len(buf) - 11, 1)  # re-examine candidates whose 12-byte
        base += step                  # framing didn't fit this window
    return size


def _find_all(buf: bytes, marker: bytes):
    rel = buf.find(marker)
    while rel != -1:
        yield rel
        rel = buf.find(marker, rel + 1)


_PCAPNG_HDR = {e: struct.Struct(e + "II").unpack_from for e in "<>"}
# pcapng timestamps convert to microseconds in int64 for interface
# resolutions up to this many ticks per second, with Python ints above
_MAX_VEC_TICKS = 10 ** 12


def _epoch_us(hi: np.ndarray, lo: np.ndarray, k: np.ndarray,
              ticks: list) -> np.ndarray:
    """floor(((hi << 32) | lo) * 10**6 / ticks[k]) per row: in int64 as
    q * 10**6 + r * 10**6 // ticks when every term fits, else with
    Python ints, where a value past int64 raises OverflowError."""
    if hi.max() < 1 << 31 and max(
            ticks[i] for i in np.unique(k).tolist()) <= _MAX_VEC_TICKS:
        per = np.array([min(t, _MAX_VEC_TICKS) for t in ticks], np.int64)[k]
        q, r = np.divmod((hi << 32) | lo, per)
        if q.max() < (1 << 63) // 1_000_000 - 1:
            return q * 1_000_000 + r * 1_000_000 // per
    return np.array([((h << 32) | x) * 1_000_000 // ticks[i]
                     for h, x, i in zip(hi.tolist(), lo.tolist(),
                                        k.tolist())], np.int64)


def _pcapng_batch(buf: bytes, offs: list, base: int, endian: str,
                  interfaces: tuple) -> tuple:
    """The column batch of the EPB and SPB blocks that start at the file
    offsets ``offs`` (buf[0] is file offset ``base``), all in one
    section of byte order ``endian`` under the interface table
    ``interfaces``: (linktype, ticks per second) by interface id."""
    offs = np.array(offs, np.int64)
    s = offs - base
    a = np.frombuffer(buf, np.uint8)
    u32 = np.dtype(endian + "u4")
    btype, blen, word = _gather_u32(a, s, 3, u32)
    # SPB: original length, then the packet, cut to the block
    spb = btype == _SPB_TYPE
    orig = word
    incl = np.minimum(word, blen - 16)
    start = s + 12
    length = incl.copy()
    lt = np.full(len(s), interfaces[0][0] if interfaces else 1, np.int64)
    epoch = np.zeros(len(s), np.int64)
    if not spb.all():
        # EPB: interface, ts hi/lo, caplen, origlen, then the packet; an
        # interface id past the table reads as (linktype 1, 10**6 ticks)
        epb = ~spb
        if_id, hi, lo, e_incl, e_orig = _gather_u32(a, s[epb] + 8, 5, u32)
        table = (*interfaces, (1, 1_000_000))
        k = np.minimum(if_id, len(interfaces))
        lt[epb] = np.array([x for x, _ in table], np.int64)[k]
        epoch[epb] = _epoch_us(hi, lo, k, [t for _, t in table])
        incl[epb] = e_incl
        orig[epb] = e_orig
        start[epb] += 16
        length[epb] = np.minimum(e_incl, blen[epb] - 32)
    if len(lt) and (lt == lt[0]).all():
        lt = int(lt[0])
    return offs, epoch, incl, orig, RecordBytes(buf, start, length), lt


def _walk_pcapng(fh, size: int, start_byte, end_byte, batch_rows: int):
    """The pcapng block walk of :func:`_walk`: SHB (endianness per
    section), IDB (linktype and ts resolution per interface) and EPB/SPB
    packet blocks; other block types are walked but not decoded. The
    reference reads pcapng only via tshark (cpp:109 just hands the path
    over); this makes the tshark-free engine accept the
    Wireshark-default format.

    The head is every block before the first packet block. pcapng puts
    interface definitions before the packets they describe, so a
    byte-range slice walks this O(KB) preamble, then resyncs to the
    first packet-block chain at or after its start. An IDB added
    mid-file (hot-plugged interface) is missed by slices after it —
    documented limitation; such captures should disable splitting.

    A preamble IDB snaplen that could produce a packet block over
    ``_MAX_SANE_BLOCK`` makes resync untrustworthy (r12 review: a block
    that large at a slice boundary fails every resync chain and no slice
    owns it), so such a capture reads unsplit (:func:`_unsplit`).
    snaplen 0 (unset/unlimited) stays splittable under the sanity cap —
    the same documented residual as classic's snaplen-0 rule.

    A batch holds the packet blocks of one section under one interface
    table: an SHB or IDB, or a skipped giant block, ends the batch
    collected so far."""
    cap = _MAX_SANE_ORIGLEN
    endian = "<"
    hdr = _PCAPNG_HDR[endian]
    interfaces: list[tuple[int, int]] = []
    splittable = in_head = True
    buf = b""
    base = pos = lo = have = 0  # base: the file offset of buf[0]
    end = size
    raw: list = []
    offs: list = []
    while base + pos < end and base + pos + 12 <= size:
        if pos + 12 > have:
            if offs:
                yield _pcapng_cut(buf, base, lo, pos, offs, endian,
                                  interfaces, raw)
                offs, raw, lo = [], [], pos
            buf = _refill(fh, buf, lo, pos, 0, raw)
            base += pos
            pos = lo = 0
            have = len(buf)
            if 12 > have:
                break
        btype, blen = hdr(buf, pos)
        if btype == _SHB_TYPE:  # section restart (the type is palindromic)
            if offs:
                yield _pcapng_cut(buf, base, lo, pos, offs, endian,
                                  interfaces, raw)
                offs, raw, lo = [], [], pos
            endian = "<" if buf[pos + 8:pos + 12] == b"\x4d\x3c\x2b\x1a" \
                else ">"
            hdr = _PCAPNG_HDR[endian]
            interfaces = []
            btype, blen = hdr(buf, pos)
        nxt = pos + blen
        if blen < 12 or base + nxt > size:
            break
        if in_head and btype in (_EPB_TYPE, _SPB_TYPE):
            in_head = False
            if not splittable:
                start_byte, end_byte = _unsplit(start_byte)
            if end_byte is not None:
                end = end_byte
            if start_byte is not None and start_byte > base + pos:
                raw.append(memoryview(buf)[lo:pos])
                base = pcapng_resync_offset(fh, endian, start_byte, size)
                fh.seek(base)
                buf = b""
                pos = lo = have = 0
            continue
        if blen > cap:
            # A giant blen must not become one near-file-sized read (r12
            # review), but on an UNSPLIT read stopping here silently
            # truncated everything behind it (ADVICE r12). If the
            # block's trailing length confirms blen, it is a real (if
            # giant) block: skip it uncopied. Split reads stop — the
            # slice that owns the next block resyncs past this one.
            if start_byte is None:
                fh.seek(base + nxt - 4)
                if fh.read(4) == struct.pack(endian + "I", blen):
                    yield _pcapng_cut(buf, base, lo, pos, offs, endian,
                                      interfaces, raw)
                    offs, raw = [], []
                    base += nxt
                    fh.seek(base)
                    buf = b""
                    pos = lo = have = 0
                    continue
            break
        if nxt > have:
            if offs:
                yield _pcapng_cut(buf, base, lo, pos, offs, endian,
                                  interfaces, raw)
                offs, raw, lo = [], [], pos
            buf = _refill(fh, buf, lo, pos, blen, raw)
            base += pos
            pos = lo = 0
            have = len(buf)
            nxt = blen
            if nxt > have:
                break
        if btype == _EPB_TYPE and blen >= 32 \
                or btype == _SPB_TYPE and blen >= 16:
            offs.append(base + pos)
        elif btype == _IDB_TYPE and blen >= 20:
            if offs:
                yield _pcapng_cut(buf, base, lo, pos, offs, endian,
                                  interfaces, raw)
                offs, raw, lo = [], [], pos
            body = buf[pos + 8:nxt - 4]
            linktype, _, snaplen = struct.unpack_from(endian + "HHI", body)
            # 128 B of EPB framing/options headroom over the snaplen
            if snaplen + 128 > _MAX_SANE_BLOCK and snaplen != 0:
                splittable = False
            interfaces.append((linktype, _idb_tsresol(body, endian)))
        pos = nxt
        if len(offs) >= batch_rows:
            span = base + pos - offs[0]
            yield _pcapng_cut(buf, base, lo, pos, offs, endian, interfaces,
                              raw)
            offs, raw, lo = [], [], pos
            if have - pos < span and base + pos < end:
                buf = _refill(fh, buf, lo, pos, min(span, end - base - pos),
                              raw)
                base += pos
                pos = lo = 0
                have = len(buf)
    yield _pcapng_cut(buf, base, lo, pos, offs, endian, interfaces, raw)


def _pcapng_cut(buf: bytes, base: int, lo: int, pos: int, offs: list,
                endian: str, interfaces: list, raw: list) -> tuple:
    """:func:`_cut` for a batch of packet blocks of one pcapng section
    of byte order ``endian`` under the interface table ``interfaces``."""
    return _cut(_pcapng_batch, buf, base, lo, pos, offs, raw, endian,
                tuple(interfaces))


def _walk(fh, size: int, start_byte, end_byte, batch_rows: int = 4096):
    """Walk one byte-range slice of a capture, classic or pcapng (sniffed
    from the first 4 bytes), in 4 MiB chunks. Yields (offsets, columns,
    raw) triples: ``offsets`` lists the file offsets of up to
    batch_rows packet records the slice owns, ``columns()`` builds
    their column batch (see :func:`open_record_batches`) and ``raw``
    holds the file bytes walked since the previous triple, verbatim:
    the head (classic global header or pcapng preamble) first, then
    every record or block the slice owns. The last triple may hold no
    rows.

    The per-record loop only reads each record's length to find the
    next one and notes the record's offset; ``columns()`` gathers the
    header fields with NumPy from the one walk buffer a batch's records
    sit in. A batch ends at batch_rows records or where the walk
    refills its buffer, whichever comes first, so no batch spans two
    buffers. After a full batch the walk refills early when the rest of
    the buffer is shorter than that batch (reading at least that batch's
    length, up to the slice end), so the next batch of records of
    similar size fits whole; a refill copies only the unwalked rest of
    the buffer.

    start_byte/end_byte None read the whole file. Ownership is the
    byte_range_partitions contract: a record or block belongs to the
    slice iff its header STARTS in [resync(start), end), even when its
    body extends past end (the next slice resyncs past it). Two guards
    stop the walk before a record is read: (a) a length over
    _MAX_SANE_ORIGLEN is payload garbage, not a packet, and must not
    become one giant allocation (r12 review; pcapng skips a confirmed
    giant block instead on unsplit reads); (b) a record extending past
    `size` must not be read from a file that has GROWN since the plan
    froze `size` — replays of a frozen byte range would otherwise yield
    rows the original run did not (the streaming replays-identically
    contract)."""
    pcapng = fh.read(4) == PCAPNG_MAGIC
    fh.seek(0)
    walk = _walk_pcapng if pcapng else _walk_classic
    return walk(fh, size, start_byte, end_byte, batch_rows)


def extract_slice(path: str, start_byte, end_byte,
                  out_path: str) -> list[int]:
    """Materialize one byte-range slice of a classic or pcapng capture
    as a STANDALONE mini-capture: the head — the 24-byte global header,
    or the pcapng preamble (SHB + IDBs + any other pre-packet blocks) —
    copied verbatim so endianness, ts resolution, snaplen and link types
    are preserved, then every record or block the slice owns, also
    verbatim (for pcapng that includes interleaved ISB/NRB/custom
    blocks, and a mid-slice SHB restarts its section in the temp file
    exactly as in the source). So any record-stream consumer (tshark
    above all) dissects the slice exactly as it would the whole file.
    Ownership is :func:`_walk`'s.

    Returns the original-file byte offset of each copied PACKET record
    or block (the ones tshark numbers as frames), in order: the
    split-read frame.number surrogate (same contract as iter_packets on
    a slice), letting the caller rewrite the consumer's slice-local
    ordinals into globally unique, partition-invariant ids.

    This is the editcap-free way to lift the reference's
    one-file-one-process tshark ceiling (wireduck_extension.cpp:126,180):
    the driver plans fixed byte ranges from the file size alone, each
    executor extracts its slice locally (through the fs seam — works on
    object stores) and pipes a private tshark over it.
    """
    fs = filesystem_for(path)
    offsets: list[int] = []
    with fs.open(path) as fh, open(out_path, "wb") as out:
        for offs, _, raw in _walk(fh, fs.size(path), start_byte, end_byte):
            out.writelines(raw)
            offsets += offs
    return offsets


def open_record_batches(path: str, start_byte: int | None = None,
                        end_byte: int | None = None,
                        size: int | None = None,
                        batch_rows: int = 4096):
    """(iterator of columnar record batches, split flag) for a capture
    slice — the record walk under the vectorized Arrow path and
    iter_packets. A batch is the tuple (offsets, epoch_us, incl, orig,
    data, linktype) of up to batch_rows records: the first four are
    int64 arrays, ``data`` a :class:`RecordBytes` over the walk buffer
    (each record's captured bytes, sliced on demand) and linktype an
    int when uniform over the batch, else an int64 array. `split` tells
    the consumer whether frame.number is the byte offset (sliced read)
    or the 1-based ordinal (whole-file read) — the rule iter_packets
    documents."""
    fs = filesystem_for(path)
    if size is None:
        size = fs.size(path)
    fh = fs.open(path)
    # One split rule for BOTH formats (r12 review: pcapng used
    # `start_byte > 0`, so the same single-slice plan —
    # byte_range_partitions always starts at GLOBAL_HEADER_LEN —
    # produced ordinal frame.numbers on classic but byte offsets on
    # pcapng). GLOBAL_HEADER_LEN is the planner's minimum first-slice
    # start; any true split's later slices start far beyond it.
    split = start_byte is not None and (
        start_byte > GLOBAL_HEADER_LEN
        or (end_byte is not None and end_byte < size)
    )

    def gen():
        try:
            for offs, columns, _ in _walk(fh, size, start_byte, end_byte,
                                          batch_rows):
                if offs:
                    yield columns()
        finally:
            fh.close()

    return gen(), split


def iter_packets(
    path: str,
    start_byte: int | None = None,
    end_byte: int | None = None,
    raw_ts: bool = False,
    include_raw: bool = False,
    size: int | None = None,
):
    """Yield one {filter_name: value} dict per packet (classic pcap or
    pcapng — format sniffed from the first 4 bytes).

    start_byte/end_byte select a byte-range slice (the plan from
    byte_range_partitions): a record belongs to the slice iff its record
    header STARTS in [resync(start_byte), end_byte) — every record is
    owned by exactly one slice, and the executor resyncs to the first real
    record boundary itself (the driver never walks the file). Classic
    files resync on 16-byte record-header plausibility chains; pcapng
    resyncs on EPB block-marker chains after reading the O(KB) head
    preamble (SHB endianness + interface table).

    frame.number: 1-based ordinal for whole-file reads (tshark parity);
    for byte-range slices it is the record's byte offset — a globally
    unique, monotone, partition-invariant surrogate (a true ordinal would
    require counting every prior record, i.e. a full pre-scan).

    raw_ts=True emits frame.time_epoch as epoch MICROSECONDS (int) instead
    of a datetime — the Arrow emission fast path (pyarrow builds the
    timestamp column straight from int64s, no per-packet datetime object).

    `size` is the PLAN-frozen total file size: pass the size the
    partition plan was computed from (byte_range_partitions(size=...))
    so a batch replays identically even if the capture grew since —
    r12 review: deriving it live from the filesystem let a record whose
    bytes extended past then-EOF be skipped on the original run yet
    yielded on a replay after the file grew, and flipped the
    split-detection comparison below. None (the default) reads the live
    size — correct for one-shot batch reads of a quiescent file.

    All IO goes through the `fs` seam, so `path` may be local, memory://
    (tests), or any fsspec/pyarrow scheme (s3://, hdfs://, ...) — the
    byte-range split contract is identical on all of them.
    """
    batches, split = open_record_batches(path, start_byte, end_byte,
                                         size=size)
    frame_no = 1
    for offs, epochs, incls, origs, datas, lt in batches:
        lts = [lt] * len(offs) if isinstance(lt, int) else lt.tolist()
        for off, epoch_us, incl, orig, data, linktype in zip(
                offs.tolist(), epochs.tolist(), incls.tolist(),
                origs.tolist(), datas, lts):
            fields: dict = {
                "frame.number": off if split else frame_no,
                "frame.time_epoch": epoch_us if raw_ts else (
                    _EPOCH0 + timedelta(microseconds=epoch_us)
                ),
                "frame.len": orig,
                "frame.cap_len": incl,
            }
            if include_raw:
                fields["frame.raw"] = data.hex()
            dissect_packet(data, linktype, fields)
            if "tcp.srcport" in fields:
                src = fields.get("ip.src") or fields.get("ipv6.src")
                dst = fields.get("ip.dst") or fields.get("ipv6.dst")
                fields["tcp.stream"] = stream_id(
                    src, fields["tcp.srcport"], dst, fields["tcp.dstport"]
                )
            elif "udp.srcport" in fields:
                src = fields.get("ip.src") or fields.get("ipv6.src")
                dst = fields.get("ip.dst") or fields.get("ipv6.dst")
                fields["udp.stream"] = stream_id(
                    src, fields["udp.srcport"], dst, fields["udp.dstport"]
                )
            yield fields
            frame_no += 1
