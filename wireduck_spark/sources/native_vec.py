"""Vectorized (columnar) batch dissector for the native pcap engine.

The per-packet dict path (native.dissect_packet -> dict -> per-column
appends) spends most of its time building and re-reading ~20-field
Python dicts per packet. This module parses the fixed headers of a
whole record batch at once with NumPy gathers over the walk buffer the
records sit in (native.RecordBytes) and emits pyarrow-ready columns
directly: Ethernet II with one 802.1Q tag, IPv4, the fixed 40-byte
IPv6 header, ARP's fixed fields, ICMPv4 type and code, and the TCP and
UDP headers. The TCP/UDP tail is columnar too, over IPv4 and IPv6 and
with or without a VLAN tag: addresses, info lines, flow ids (one md5
per distinct 4-tuple; IPv6 text from native._ipv6, once per distinct
address) and the payload hex (one Arrow string array per batch).
Per-packet Python runs only on these rows:

- TCP candidate rows: rows with options (data_off > 20, which
  native._tcp_options walks), and payload rows the prescreen
  (``_tcp_candidates``) cannot rule out for the L7 probe chain
  (native._tcp_l7 — the exact chain _dissect_l4 runs),
- UDP candidate rows: payload rows the prescreen (``_udp_candidates``)
  cannot rule out for native._udp_payload_chain, which runs on a fresh
  per-row dict,
- the full-row fallback: UDP payload rows that could hit the VXLAN
  (dport 4789) or GTP (port 2152) decap branches, which rewrite other
  layers' columns; IPv6 rows with an extension-header chain; QinQ
  (a second 802.1Q tag); and the IP protocols of
  ``_L4_FALLBACK_PROTOS``. Such a row runs native.dissect_packet and
  overwrites its cells, so it is bit-identical to the dict path BY
  CONSTRUCTION.

Every other row class is pinned bit-identical to the dict path by
tests/test_native_vec.py's full differential over every fixture
capture and its edge rows. Non-Ethernet link types and frames shorter
than an Ethernet header carry only the frame columns ("raw" / "eth").

The prescreen reads each payload's first bytes and its ports. It is an
exact superset: a row it rejects is one where the chain would return no
label and write no field. Its port sets come from the chains' own tables
(native._tcp_port_probes, native._UDP_GATED_PORTS) and its byte tests
from their HTTP, HTTP/2, TLS, QUIC, STUN and DTLS gates;
tests/test_native_vec.py checks the chains' port literals against it
and fuzzes the byte tests.

The UDP payload rows that stay on the fast path are only correct
because no other _udp_payload_chain branch reads an earlier layer's
fields: the chain sees a fresh dict there, not the row's dissected
L2-L4 fields. A new branch that reads or rewrites another layer's
fields must add its ports to ``udp_fb`` in batch_columns.
"""

from __future__ import annotations

import binascii
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from wireduck_spark.sources.native import (
    _HTTP2_PREFACE,
    _HTTP_METHODS,
    _ICMP_KINDS,
    _IPV6_EXT_HEADERS,
    _STUN_COOKIE,
    _TCP_FLAG_STR,
    _UDP_GATED_PORTS,
    _ipv6,
    _tcp_l7,
    _tcp_options,
    _tcp_port_probes,
    _udp_payload_chain,
    dissect_packet,
    stream_id,
)

# IP protocol numbers _dissect_l4 handles beyond TCP, UDP and ICMP
# (IGMP, GRE, ICMPv6, OSPF, SCTP): rows with these run the full-row
# fallback; every other protocol number is the dissector's "data" tail,
# which the fast path reproduces directly.
_L4_FALLBACK_PROTOS = (2, 47, 58, 89, 132)

# frame.protocols of a fast-path row: link layer, network layer and
# transport layer picked by index (an L7 label is appended per row)
_L2_NAMES = ("eth:ethertype", "eth:vlan:ethertype")
_L3_NAMES = ("data", "arp", "ip", "ipv6")
_L4_NAMES = ("", ":data", ":tcp", ":udp", ":icmp")
_PROTOCOLS = np.array([f"{l2}:{l3}{l4}" for l2 in _L2_NAMES
                       for l3 in _L3_NAMES for l4 in _L4_NAMES], object)

# the columns batch_columns takes from the batch itself, never from a
# fallback row's dict
_BATCH_FIELDS = frozenset((
    "frame.number", "frame.time_epoch", "frame.len", "frame.cap_len",
    "frame.raw", "frame.protocols"))

# ---- the L7 prescreen -------------------------------------------------------
# payload bytes the prescreen reads per row
_HEAD = 8
# ports on which _tcp_l7 runs a probe whatever the payload: its port
# table plus its NATS (4222) and DNS-over-TCP (53) branches
_TCP_GATED = np.array(sorted({*_tcp_port_probes(), 4222, 53}))
_UDP_GATED = np.array(sorted(_UDP_GATED_PORTS))
# UDP/443 payloads reach the QUIC probe only with a long header
_QUIC_PORT = 443
# the starts _tcp_l7's content probes claim: HTTP requests and
# responses and the HTTP/2 preface, cut to the bytes the prescreen reads
_TCP_TEXT_STARTS = tuple(
    np.frombuffer(p[:_HEAD], np.uint8)
    for p in (*_HTTP_METHODS, b"HTTP/", _HTTP2_PREFACE))
_STUN_MAGIC = np.frombuffer(_STUN_COOKIE, np.uint8)


def _head(a: np.ndarray, start: np.ndarray, length: np.ndarray):
    """The first _HEAD bytes of each payload a[start:start + length] as
    a (rows, _HEAD) int16 matrix, -1 past the payload's end, so no byte
    test can match a byte that is not the payload's."""
    k = np.arange(_HEAD)
    inside = k < length[:, None]
    out = np.full(inside.shape, -1, np.int16)
    out[inside] = a[(start[:, None] + k)[inside]]
    return out


def _starts_with(head: np.ndarray, prefix: np.ndarray) -> np.ndarray:
    return (head[:, :len(prefix)] == prefix).all(axis=1)


def _tcp_candidates(head, length, sport, dport) -> np.ndarray:
    """Rows whose non-empty payload _tcp_l7 might claim or write a field
    for: a gated port, an HTTP or HTTP/2 start, or a TLS record header
    (type 20-23, major version 3, minor <= 4). Payloads shorter than a
    TLS header (5 bytes) go through as well: a margin the byte tests,
    exact on short heads, do not need, at the cost of a rare row."""
    c = (length < 5) | np.isin(sport, _TCP_GATED) \
        | np.isin(dport, _TCP_GATED)
    b0, b1, b2 = head[:, 0], head[:, 1], head[:, 2]
    c |= (b0 >= 20) & (b0 <= 23) & (b1 == 3) & (b2 >= 0) & (b2 <= 4)
    for start in _TCP_TEXT_STARTS:
        c |= _starts_with(head, start)
    return c


def _udp_candidates(head, length, sport, dport) -> np.ndarray:
    """Rows whose non-empty payload _udp_payload_chain might claim or
    write a field for: a gated port, a QUIC long header (0b11xxxxxx) on
    443, the STUN magic cookie, or a DTLS content type (20-23)."""
    c = np.isin(sport, _UDP_GATED) | np.isin(dport, _UDP_GATED)
    b0 = head[:, 0]
    c |= ((sport == _QUIC_PORT) | (dport == _QUIC_PORT)) & (length >= 7) \
        & (b0 >= 0xC0)
    c |= _starts_with(head[:, 4:], _STUN_MAGIC)
    c |= (b0 >= 20) & (b0 <= 23)
    return c


# ---- column-at-a-time string builders ---------------------------------------
_FLAG_STRS = pa.array(_TCP_FLAG_STR)
_ICMP_INFO = np.array([_ICMP_KINDS.get(t, f"Type {t}") for t in range(256)],
                      object)
_HEX_DIGITS = np.frombuffer(b"0123456789abcdef", np.uint8)
# the most bytes a pa.string() column's int32 offsets can address
_MAX_STRING_BYTES = (1 << 31) - 1


def _dec(v: np.ndarray) -> pa.Array:
    """Integers as their decimal text (str(int))."""
    return pc.cast(pa.array(v), pa.string())


def _joined(*parts) -> pa.Array:
    """Per row, the concatenation of ``parts`` (arrays or str)."""
    return pc.binary_join_element_wise(*parts, "")


def _dotted(v32: np.ndarray) -> pa.Array:
    """IPv4 addresses as dotted quads (socket.inet_ntoa)."""
    return pc.binary_join_element_wise(
        *(_dec((v32 >> sh) & 0xFF) for sh in (24, 16, 8, 0)), ".")


def _macs(a: np.ndarray, start: np.ndarray) -> np.ndarray:
    """The 6 bytes at each ``start`` as 'aa:bb:cc:dd:ee:ff' strings."""
    b = a[start[:, None] + np.arange(6)]
    out = np.full((len(start), 17), ord(":"), np.uint8)
    out[:, 0::3] = _HEX_DIGITS[b >> 4]
    out[:, 1::3] = _HEX_DIGITS[b & 0x0F]
    return out.view("S17").ravel().astype("U17").astype(object)


def _stream_ids(src: pa.Array, sport, dst: pa.Array, dport) -> np.ndarray:
    """native.stream_id of each row's 4-tuple: the canonical key string
    (lower endpoint first, as sorted() orders (ip string, port)) built a
    column at a time, then one md5 per distinct key."""
    first = pc.less(src, dst).to_numpy(zero_copy_only=False) | (
        pc.equal(src, dst).to_numpy(zero_copy_only=False) & (sport <= dport))
    keep = pa.array(first)
    key = _joined(pc.if_else(keep, src, dst), ":",
                  _dec(np.where(first, sport, dport)), "|",
                  pc.if_else(keep, dst, src), ":",
                  _dec(np.where(first, dport, sport)))
    enc = key.dictionary_encode()
    keys = enc.dictionary
    bounds = np.frombuffer(keys.buffers()[1], np.int32, len(keys) + 1,
                           keys.offset * 4).tolist()
    text = memoryview(keys.buffers()[2])
    md5 = hashlib.md5
    digests = b"".join([md5(text[x:y]).digest()
                        for x, y in zip(bounds, bounds[1:])])
    # the first 8 of each 16-byte digest, big-endian, top bit cleared
    ids = (np.frombuffer(digests, ">u8")[::2]
           & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64)
    return ids[enc.indices.to_numpy()]


def _hex_column(buf: bytes, lo: np.ndarray, hi: np.ndarray,
                valid: np.ndarray, patch: dict):
    """Per row, buf[lo:hi] hex-encoded (null where not ``valid``), or
    the hex string ``patch`` gives for the row, as one pa.StringArray.

    ``lo <= hi <= the next row's lo`` must hold, and a patched row must
    be empty and not ``valid``. One take over a binary view of ``buf``
    gathers the segments and one hexlify encodes them; the patched rows'
    strings are spliced in between. When the hex would overflow the
    string offsets, the column is built row by row as an object ndarray
    instead."""
    n = len(lo)
    rows = sorted(patch)
    texts = [patch[i].encode() for i in rows]
    total = 2 * int((hi - lo)[valid].sum()) + sum(map(len, texts))
    if total > _MAX_STRING_BYTES:
        out = np.empty(n, object)
        for i, x, y in zip(np.flatnonzero(valid).tolist(),
                           lo[valid].tolist(), hi[valid].tolist()):
            out[i] = buf[x:y].hex()
        for i in rows:
            out[i] = patch[i]
        return out
    bounds = np.empty(2 * n + 1, np.int64)
    bounds[0:2 * n:2] = lo
    bounds[1:2 * n:2] = np.where(valid, hi, lo)
    bounds[2 * n] = len(buf)
    view = pa.Array.from_buffers(
        pa.large_binary(), 2 * n,
        [None, pa.py_buffer(bounds), pa.py_buffer(buf)])
    segs = view.take(pa.array(np.arange(0, 2 * n, 2)))
    seg_off = np.frombuffer(segs.buffers()[1], np.int64, n + 1,
                            segs.offset * 8)
    hexed = binascii.hexlify(
        memoryview(segs.buffers()[2])[seg_off[0]:seg_off[-1]])
    offsets = 2 * (seg_off - seg_off[0])
    if rows:
        pieces, prev = [], 0
        whole = memoryview(hexed)
        for cut, text in zip(offsets[rows].tolist(), texts):
            pieces += (whole[prev:cut], text)
            prev = cut
        pieces.append(whole[prev:])
        hexed = b"".join(pieces)
        grow = np.zeros(n + 1, np.int64)
        grow[np.array(rows) + 1] = list(map(len, texts))
        offsets = offsets + np.cumsum(grow)
        valid = valid.copy()
        valid[rows] = True
    return pa.Array.from_buffers(
        pa.string(), n,
        [pa.py_buffer(np.packbits(valid, bitorder="little")),
         pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(hexed)])


def _ipv6_text(a: np.ndarray, at: np.ndarray) -> np.ndarray:
    """native._ipv6 of the 16 bytes at each ``at``, as an object ndarray:
    one call per distinct address."""
    b = a[at[:, None] + np.arange(16)]
    uniq, inv = np.unique(b.view("V16").ravel(), return_inverse=True)
    return np.array([_ipv6(bytes(u)) for u in uniq], object)[inv]


def batch_columns(recs: tuple, names: list[str], split: bool,
                  frame_no0: int, include_raw: bool) -> dict:
    """Dissect one COLUMNAR record batch into per-name column values.

    ``recs``: (offs, epochs, incls, origs, datas, linktype) as yielded by
    native.open_record_batches — int64 arrays, a native.RecordBytes and
    an int or int64 array. Returns {name: (np.ndarray, valid mask) |
    object np.ndarray | pa.Array} for every requested name —
    pyarrow-ready.
    """
    offs, epoch, incl, orig, datas, lt_raw = recs
    n = len(datas)
    buf, s, lens = datas.buf, datas.start, datas.length
    a = np.frombuffer(buf, np.uint8)
    lt = np.full(n, lt_raw, np.int64) if isinstance(lt_raw, int) else lt_raw

    def g8(rel, ok: np.ndarray) -> np.ndarray:
        out = np.zeros(n, np.int64)
        out[ok] = a[(s + rel)[ok]]
        return out

    def g16(rel, ok):
        out = np.zeros(n, np.int64)
        i = (s + rel)[ok]
        out[ok] = (a[i].astype(np.int64) << 8) | a[i + 1]
        return out

    def g32(rel, ok):
        out = np.zeros(n, np.int64)
        i = (s + rel)[ok]
        out[ok] = (a[i].astype(np.int64) << 24) \
            | (a[i + 1].astype(np.int64) << 16) \
            | (a[i + 2].astype(np.int64) << 8) | a[i + 3]
        return out

    # ---- L2: Ethernet II, one 802.1Q tag -----------------------------------
    eth_ok = (lt == 1) & (lens >= 14)
    et = g16(12, eth_ok)
    vlan = eth_ok & (et == 0x8100) & (lens >= 18)
    tci = g16(14, vlan)
    etype = np.where(vlan, g16(16, vlan), et)
    l3 = np.where(vlan, 18, 14)
    qinq = vlan & (etype == 0x8100)
    ip4 = eth_ok & (etype == 0x0800) & (lens >= l3 + 20)
    ip6 = eth_ok & (etype == 0x86DD) & (lens >= l3 + 40)
    arp = eth_ok & (etype == 0x0806)
    arp_ok = arp & (lens >= l3 + 28)

    # ---- IPv4 and IPv6 fixed headers ---------------------------------------
    ver_ihl = g8(l3, ip4)
    ihl = (ver_ihl & 0x0F) * 4
    total_len = g16(l3 + 2, ip4)
    ttl = g8(l3 + 8, ip4)
    frag = ip4 & ((g16(l3 + 6, ip4) & 0x1FFF) != 0)
    src32 = g32(l3 + 12, ip4)
    dst32 = g32(l3 + 16, ip4)
    next_hdr = g8(l3 + 6, ip6)
    ext6 = ip6 & np.isin(next_hdr, _IPV6_EXT_HEADERS)
    proto = np.where(ip4, g8(l3 + 9, ip4), next_hdr)
    l4off = np.where(ip4, l3 + ihl, l3 + 40)
    l3_paylen = np.where(ip4, total_len - ihl, g16(l3 + 4, ip6))
    l4 = (ip4 & ~frag) | (ip6 & ~ext6)

    tcp_m = l4 & (proto == 6) & (lens >= l4off + 20)
    udp_m = l4 & (proto == 17) & (lens >= l4off + 8)
    icmp_m = l4 & (proto == 1) & (lens >= l4off + 4)
    l4_rest = l4 & ~tcp_m & ~udp_m & ~icmp_m
    l4_fb = l4_rest & np.isin(proto, _L4_FALLBACK_PROTOS)

    # ---- TCP fixed header --------------------------------------------------
    sport = g16(l4off, tcp_m)
    dport = g16(l4off + 2, tcp_m)
    seq = g32(l4off + 4, tcp_m)
    ackn = g32(l4off + 8, tcp_m)
    offres = g8(l4off + 12, tcp_m)
    flags = g8(l4off + 13, tcp_m)
    window = g16(l4off + 14, tcp_m)
    tcksum = g16(l4off + 16, tcp_m)
    data_off = (offres >> 4) * 4
    tcp_paylen = np.maximum(l3_paylen - data_off, 0)
    # the captured payload: data[pstart:pstart + tcp_paylen]
    tcp_pstart = l4off + data_off
    tcp_caplen = np.where(
        tcp_m, np.clip(np.minimum(tcp_paylen, lens - tcp_pstart), 0, None), 0)

    # ---- UDP fixed header --------------------------------------------------
    usport = g16(l4off, udp_m)
    udport = g16(l4off + 2, udp_m)
    ulen = g16(l4off + 4, udp_m)
    ucksum = g16(l4off + 6, udp_m)
    # the captured payload: data[l4off + 8:l4off + ulen]; non-empty iff
    # the length field says there is payload AND the capture holds bytes
    # past the header
    udp_caplen = np.where(
        udp_m, np.clip(np.minimum(ulen - 8, lens - l4off - 8), 0, None), 0)
    udp_has_pay = udp_caplen > 0
    # only rows that could hit the VXLAN/GTP decap branches (which read
    # and rewrite other layers' fields) take the full fallback; every
    # other payload row runs the shared _udp_payload_chain per packet
    # on a fresh dict, which is right only while no other branch reads
    # an earlier layer's fields — a new cross-layer branch must extend
    # this mask
    udp_fb = udp_has_pay & (
        (udport == 4789) | (usport == 2152) | (udport == 2152))
    udp_fast = udp_m & ~udp_fb

    # ---- ICMP and ARP fixed fields -----------------------------------------
    icmp_type = g8(l4off, icmp_m)
    echo = icmp_m & ((icmp_type == 0) | (icmp_type == 8)) \
        & (lens >= l4off + 8)
    arp_ipv4 = arp_ok & (g16(l3 + 4, arp_ok) == 0x0604)  # hlen 6, plen 4
    arp_op = g16(l3 + 6, arp_ok)

    # ---- full-row fallback set --------------------------------------------
    fallback = qinq | ext6 | l4_fb | udp_fb

    tcp_rows = np.flatnonzero(tcp_m)
    udp_rows = np.flatnonzero(udp_fast)
    fb_rows = np.flatnonzero(fallback)

    # ---- frame.protocols base ----------------------------------------------
    l3_kind = np.select([arp, ip4, ip6], [1, 2, 3], 0)
    l4_kind = np.select([tcp_m, udp_m, icmp_m, ip4 | ip6], [2, 3, 4, 1], 0)
    protocols = _PROTOCOLS[(vlan * len(_L3_NAMES) + l3_kind)
                           * len(_L4_NAMES) + l4_kind]
    protocols[lt != 1] = "raw"
    protocols[(lt == 1) & (lens < 14)] = "eth"

    # ---- column store ------------------------------------------------------
    cols: dict = {}
    want = set(names)

    def num(name, arr, valid):
        if name in want:
            cols[name] = (arr, valid.copy())

    always = np.ones(n, bool)
    if split:
        frame_no = offs
    else:
        frame_no = np.arange(frame_no0, frame_no0 + n, dtype=np.int64)
    num("frame.time_epoch", epoch, always)
    num("frame.number", frame_no, always)
    num("frame.len", orig, always)
    num("frame.cap_len", incl, always)
    num("eth.type", etype, eth_ok)
    num("vlan.id", tci & 0x0FFF, vlan)
    num("vlan.priority", tci >> 13, vlan)
    num("ip.version", ver_ihl >> 4, ip4)
    num("ip.hdr_len", ihl, ip4)
    num("ip.len", total_len, ip4)
    num("ip.ttl", ttl, ip4)
    num("ip.proto", proto, ip4)
    num("tcp.srcport", sport, tcp_m)
    num("tcp.dstport", dport, tcp_m)
    num("tcp.seq", seq, tcp_m)
    num("tcp.ack", ackn, tcp_m)
    num("tcp.hdr_len", data_off, tcp_m)
    num("tcp.len", tcp_paylen, tcp_m)
    num("tcp.window_size_value", window, tcp_m)
    num("tcp.checksum", tcksum, tcp_m)
    num("udp.srcport", usport, udp_fast)
    num("udp.dstport", udport, udp_fast)
    num("udp.length", ulen, udp_fast)
    num("udp.checksum", ucksum, udp_fast)
    num("icmp.type", icmp_type, icmp_m)
    num("icmp.code", g8(l4off + 1, icmp_m), icmp_m)
    num("icmp.checksum", g16(l4off + 2, icmp_m), icmp_m)
    num("icmp.ident", g16(l4off + 4, echo), echo)
    num("icmp.seq", g16(l4off + 6, echo), echo)
    num("arp.opcode", arp_op, arp_ok)
    for fname, bit in (("tcp.flags.fin", 0x01), ("tcp.flags.syn", 0x02),
                       ("tcp.flags.reset", 0x04), ("tcp.flags.push", 0x08),
                       ("tcp.flags.ack", 0x10)):
        if fname in want:
            cols[fname] = ((flags & bit) != 0, tcp_m.copy())

    # L3 source and destination text: dotted quads on IPv4 rows, the
    # dict path's IPv6 text on IPv6 rows (ip.* / ipv6.* and the flow ids)
    ip_src = ip_dst = v6_src = v6_dst = None
    ip6_rows = np.flatnonzero(ip6 & ~fallback)
    if want & {"ip.src", "ip.dst", "tcp.stream", "udp.stream"}:
        ip_src, ip_dst = _dotted(src32), _dotted(dst32)
    if len(ip6_rows) and want & {"ipv6.src", "ipv6.dst", "tcp.stream",
                                 "udp.stream"}:
        at = s[ip6_rows] + l3[ip6_rows]
        v6_src, v6_dst = _ipv6_text(a, at + 8), _ipv6_text(a, at + 24)
    l3_src, l3_dst = ip_src, ip_dst
    if ip_src is not None and v6_src is not None:
        v6 = pa.array(ip6 & ~fallback)
        l3_src = pc.replace_with_mask(ip_src, v6, pa.array(v6_src))
        l3_dst = pc.replace_with_mask(ip_dst, v6, pa.array(v6_dst))
    for name, rows, sp, dp in (("tcp.stream", tcp_rows, sport, dport),
                               ("udp.stream", udp_rows, usport, udport)):
        if name in want:
            ids = np.zeros(n, np.int64)
            if len(rows):
                ids[rows] = _stream_ids(l3_src.take(rows), sp[rows],
                                        l3_dst.take(rows), dp[rows])
            valid = np.zeros(n, bool)
            valid[rows] = True
            cols[name] = (ids, valid)

    # string / sparse columns are object ndarrays (None = null)
    lists: dict = {nm: np.empty(n, object) for nm in names
                   if nm not in cols and nm != "frame.protocols"}

    # the fallback rows get these from the dict path below
    eth_rows = np.flatnonzero(eth_ok & ~fallback)
    if "eth.dst" in lists:
        lists["eth.dst"][eth_rows] = _macs(a, s[eth_rows])
    if "eth.src" in lists:
        lists["eth.src"][eth_rows] = _macs(a, s[eth_rows] + 6)
    ip_rows = np.flatnonzero(ip4 & ~fallback)
    for name, ips in (("ip.src", ip_src), ("ip.dst", ip_dst)):
        if name in lists:
            lists[name][ip_rows] = ips.take(ip_rows).to_numpy(
                zero_copy_only=False)
    for name, texts in (("ipv6.src", v6_src), ("ipv6.dst", v6_dst)):
        if name in lists and texts is not None:
            lists[name][ip6_rows] = texts

    info = lists.get("_ws.col.info")
    if info is not None and len(tcp_rows):
        r = tcp_rows
        info[r] = _joined(
            _dec(sport[r]), " → ", _dec(dport[r]), " [",
            _FLAG_STRS.take(flags[r]), "] Seq=", _dec(seq[r]), " Ack=",
            _dec(ackn[r]), " Len=", _dec(tcp_paylen[r]),
        ).to_numpy(zero_copy_only=False)
    if info is not None and len(udp_rows):
        r = udp_rows
        info[r] = _joined(
            _dec(usport[r]), " → ", _dec(udport[r]), " Len=",
            _dec(ulen[r] - 8),
        ).to_numpy(zero_copy_only=False)
    if info is not None:
        r = np.flatnonzero(icmp_m)
        info[r] = _ICMP_INFO[icmp_type[r]]

    # ARP over Ethernet/IPv4 (hlen 6, plen 4): addresses and info text
    arp_rows = np.flatnonzero(arp_ipv4)
    if len(arp_rows):
        at = s[arp_rows] + l3[arp_rows]
        smac = _macs(a, at + 8)
        sip = _dotted(g32(l3 + 14, arp_ipv4)[arp_rows])
        dip = _dotted(g32(l3 + 24, arp_ipv4)[arp_rows])
        for name, vals in (
                ("arp.src.hw_mac", smac),
                ("arp.src.proto_ipv4", sip.to_numpy(zero_copy_only=False)),
                ("arp.dst.hw_mac", _macs(a, at + 18)),
                ("arp.dst.proto_ipv4", dip.to_numpy(zero_copy_only=False))):
            if name in lists:
                lists[name][arp_rows] = vals
        if info is not None:
            op = arp_op[arp_rows]
            text = np.where(
                op == 1,
                _joined("Who has ", dip, "? Tell ", sip).to_numpy(
                    zero_copy_only=False),
                _joined(sip, " is at ", pa.array(smac)).to_numpy(
                    zero_copy_only=False))
            named = (op == 1) | (op == 2)
            info[arp_rows[named]] = text[named]

    def put_extras(i: int, extras: dict) -> None:
        for k, v in extras.items():
            col = lists.get(k)
            if col is not None:
                col[i] = v

    # ---- per-row TCP candidates (options, L7 probe chain) ------------------
    tcp_pay = tcp_rows[tcp_caplen[tcp_rows] > 0]
    pay_head = _head(a, s[tcp_pay] + tcp_pstart[tcp_pay], tcp_caplen[tcp_pay])
    tcp_cand = np.union1d(
        tcp_rows[data_off[tcp_rows] > 20],
        tcp_pay[_tcp_candidates(pay_head, tcp_caplen[tcp_pay],
                                sport[tcp_pay], dport[tcp_pay])])
    for i, sp, dp, off, doff, plen in zip(
            tcp_cand.tolist(), sport[tcp_cand].tolist(),
            dport[tcp_cand].tolist(), l4off[tcp_cand].tolist(),
            data_off[tcp_cand].tolist(), tcp_paylen[tcp_cand].tolist()):
        data = datas[i]
        extras: dict = {}
        if doff > 20:
            _tcp_options(data, off, doff, extras)
        pstart = off + doff
        payload = data[pstart:pstart + plen]
        if payload:
            label = _tcp_l7(payload, sp, dp, extras)
            if label:
                protocols[i] += ":" + label
        put_extras(i, extras)

    # ---- per-row UDP candidates (payload probe chain) ----------------------
    udp_pay = udp_rows[udp_has_pay[udp_rows]]
    pay_head = _head(a, s[udp_pay] + l4off[udp_pay] + 8, udp_caplen[udp_pay])
    udp_cand = udp_pay[_udp_candidates(pay_head, udp_caplen[udp_pay],
                                       usport[udp_pay], udport[udp_pay])]
    for i, sp, dp, off, ln in zip(
            udp_cand.tolist(), usport[udp_cand].tolist(),
            udport[udp_cand].tolist(), l4off[udp_cand].tolist(),
            ulen[udp_cand].tolist()):
        data = datas[i]
        extras = {}
        tail: list = []
        _udp_payload_chain(data, off, data[off + 8:off + ln], sp, dp, tail,
                           extras)
        if tail:
            protocols[i] += ":" + ":".join(tail)
        put_extras(i, extras)

    # ---- full-row fallback: the exact dict path ----------------------------
    if len(fb_rows):
        targets = [(nm, cols.get(nm), lists.get(nm)) for nm in names
                   if nm not in _BATCH_FIELDS]
        for i, linktype in zip(fb_rows.tolist(), lt[fb_rows].tolist()):
            fields: dict = {}
            dissect_packet(datas[i], linktype, fields)
            if "tcp.srcport" in fields:
                fsrc = fields.get("ip.src") or fields.get("ipv6.src")
                fdst = fields.get("ip.dst") or fields.get("ipv6.dst")
                fields["tcp.stream"] = stream_id(
                    fsrc, fields["tcp.srcport"], fdst,
                    fields["tcp.dstport"])
            elif "udp.srcport" in fields:
                fsrc = fields.get("ip.src") or fields.get("ipv6.src")
                fdst = fields.get("ip.dst") or fields.get("ipv6.dst")
                fields["udp.stream"] = stream_id(
                    fsrc, fields["udp.srcport"], fdst,
                    fields["udp.dstport"])
            protocols[i] = fields.get("frame.protocols")
            get = fields.get
            for nm, entry, col in targets:
                v = get(nm)
                if entry is not None:
                    arr, valid = entry
                    if v is None:
                        valid[i] = False
                    else:
                        arr[i] = v
                        valid[i] = True
                else:
                    col[i] = v

    # ---- hex columns, one Arrow array each ---------------------------------
    if "tcp.payload" in lists:
        pay_lo = s + np.where(tcp_m, np.minimum(tcp_pstart, lens), 0)
        fb_pay = lists["tcp.payload"]
        lists["tcp.payload"] = _hex_column(
            buf, pay_lo, pay_lo + tcp_caplen, tcp_caplen > 0,
            {i: fb_pay[i] for i in fb_rows.tolist()
             if fb_pay[i] is not None})
    if include_raw and "frame.raw" in lists:
        lists["frame.raw"] = _hex_column(buf, s, s + lens, always, {})

    out: dict = {}
    for nm in names:
        if nm == "frame.protocols":
            out[nm] = protocols
        elif nm in cols:
            out[nm] = cols[nm]
        else:
            out[nm] = lists[nm]
    return out
