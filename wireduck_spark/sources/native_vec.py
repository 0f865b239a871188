"""Vectorized (columnar) batch dissector for the native pcap engine.

r15 optimization (guide §4.2 "do the heavy lifting in native code"):
the per-packet dict path (native.iter_packets -> dict -> per-column
appends) spends most of its time building and re-reading ~20-field
Python dicts per packet. This module parses the fixed L2/L3/L4 headers
for a whole record batch at once with NumPy gathers over one
concatenated byte buffer and emits pyarrow-ready columns directly. The
generic TCP/UDP tail is columnar too: addresses, info lines, flow ids
(one md5 per distinct 4-tuple) and the payload hex (one Arrow string
array per batch). Per-packet Python runs only on these rows:

- TCP candidate rows: rows with options (data_off > 20, which
  native._tcp_options walks), and payload rows the prescreen
  (``_tcp_candidates``) cannot rule out for the L7 probe chain
  (native._tcp_l7 — the exact chain _dissect_l4 runs),
- UDP candidate rows: payload rows the prescreen (``_udp_candidates``)
  cannot rule out for native._udp_payload_chain, which runs on a fresh
  per-row dict,
- everything off the proven fast path (VLAN, IPv6, ARP, non-TCP/UDP IP
  protocols, other linktypes, and the UDP payload rows that could hit
  the VXLAN (dport 4789) or GTP (port 2152) decap branches, which
  rewrite other layers' columns): the row falls back to
  native.dissect_packet and overwrites its cells, so the output is
  bit-identical to the dict path BY CONSTRUCTION for every row class
  (pinned by tests/test_native_vec.py's full differential over every
  fixture capture).

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

The fast path intentionally covers exactly the traffic that dominates
big captures (plain Ethernet II / IPv4 / TCP and UDP); a capture full
of exotic rows degrades gracefully to dict-path speed.
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
    _STUN_COOKIE,
    _TCP_FLAG_STR,
    _UDP_GATED_PORTS,
    _tcp_l7,
    _tcp_options,
    _tcp_port_probes,
    _udp_payload_chain,
    dissect_packet,
    stream_id,
)

# IPv4 protocol numbers _dissect_l4 handles beyond TCP/UDP — rows with
# these fall back to the dict path; every other protocol number is the
# dissector's "data" tail, which the fast path reproduces directly.
_L4_FALLBACK_PROTOS = (1, 2, 47, 58, 89, 132)

# interned frame.protocols strings for the common TCP L7 labels
_PROTO_TCP_LABELS = {
    "http": "eth:ethertype:ip:tcp:http",
    "tls": "eth:ethertype:ip:tcp:tls",
    "ssh": "eth:ethertype:ip:tcp:ssh",
    "dns": "eth:ethertype:ip:tcp:dns",
    "http2": "eth:ethertype:ip:tcp:http2",
}

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


def batch_columns(recs: tuple, names: list[str], split: bool,
                  frame_no0: int, include_raw: bool) -> dict:
    """Dissect one COLUMNAR record batch into per-name column values.

    ``recs``: (offs, epochs, incls, origs, datas, linktype) — parallel
    per-batch lists (linktype is a scalar when uniform) as yielded by
    native.open_record_batches. Returns {name: (np.ndarray, valid
    mask) | object np.ndarray | pa.Array} for every requested name —
    pyarrow-ready.
    """
    offs_l, epochs_l, incls_l, origs_l, datas, lt_raw = recs
    n = len(datas)
    lens = np.fromiter(map(len, datas), np.int64, n)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    buf = b"".join(datas)
    a = np.frombuffer(buf, np.uint8)
    s = offsets[:n]
    if isinstance(lt_raw, int):
        lt = np.full(n, lt_raw, np.int64)
    else:
        lt = np.array(lt_raw, np.int64)

    def g8(rel: np.ndarray, ok: np.ndarray) -> np.ndarray:
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

    # ---- L2 classification -------------------------------------------------
    eth_ok = (lt == 1) & (lens >= 14)
    et = g16(np.int64(12), eth_ok)
    vlan = eth_ok & (et == 0x8100)
    ip4 = eth_ok & (et == 0x0800) & ~vlan
    ipv6 = eth_ok & (et == 0x86DD)
    arp = eth_ok & (et == 0x0806)
    ip4_ok = ip4 & (lens >= 34)

    # ---- IPv4 fixed header -------------------------------------------------
    m = ip4_ok
    ver_ihl = g8(np.int64(14), m)
    ihl = (ver_ihl & 0x0F) * 4
    total_len = g16(np.int64(16), m)
    ttl = g8(np.int64(22), m)
    proto = g8(np.int64(23), m)
    frag_word = g16(np.int64(20), m)
    frag = m & ((frag_word & 0x1FFF) != 0)
    src32 = g32(np.int64(26), m)
    dst32 = g32(np.int64(30), m)
    l4off = 14 + ihl

    tcp_m = m & ~frag & (proto == 6) & (lens >= l4off + 20)
    udp_m = m & ~frag & (proto == 17) & (lens >= l4off + 8)
    l4_rest = m & ~frag & ~tcp_m & ~udp_m
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
    tcp_paylen = np.maximum(total_len - ihl - data_off, 0)
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

    # ---- full-row fallback set --------------------------------------------
    fallback = vlan | ipv6 | (arp & eth_ok) | l4_fb | udp_fb

    tcp_rows = np.flatnonzero(tcp_m)
    udp_rows = np.flatnonzero(udp_fast)
    fb_rows = np.flatnonzero(fallback)

    # ---- frame.protocols base ----------------------------------------------
    protocols = np.empty(n, object)
    protocols[lt != 1] = "raw"
    protocols[(lt == 1) & (lens < 14)] = "eth"
    # ethertypes the fast path ends at "data" (unknown et, short IPv4)
    protocols[eth_ok & ~ip4_ok & ~ipv6 & ~arp & ~vlan] = \
        "eth:ethertype:data"
    protocols[frag | (l4_rest & ~l4_fb)] = "eth:ethertype:ip:data"
    protocols[tcp_rows] = "eth:ethertype:ip:tcp"
    protocols[udp_rows] = "eth:ethertype:ip:udp"

    # ---- column store ------------------------------------------------------
    cols: dict = {}
    want = set(names)

    def num(name, arr, valid):
        if name in want:
            cols[name] = (arr, valid.copy())

    epoch = np.array(epochs_l, np.int64)
    always = np.ones(n, bool)
    if split:
        frame_no = np.array(offs_l, np.int64)
    else:
        frame_no = np.arange(frame_no0, frame_no0 + n, dtype=np.int64)
    num("frame.time_epoch", epoch, always)
    num("frame.number", frame_no, always)
    num("frame.len", np.array(origs_l, np.int64), always)
    num("frame.cap_len", np.array(incls_l, np.int64), always)
    num("eth.type", et, ip4_ok | (eth_ok & ~vlan & ~ip4_ok))
    num("ip.version", ver_ihl >> 4, m)
    num("ip.hdr_len", ihl, m)
    num("ip.len", total_len, m)
    num("ip.ttl", ttl, m)
    num("ip.proto", proto, m)
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
    for fname, bit in (("tcp.flags.fin", 0x01), ("tcp.flags.syn", 0x02),
                       ("tcp.flags.reset", 0x04), ("tcp.flags.push", 0x08),
                       ("tcp.flags.ack", 0x10)):
        if fname in want:
            cols[fname] = ((flags & bit) != 0, tcp_m.copy())

    ip_src = ip_dst = None
    if want & {"ip.src", "ip.dst", "tcp.stream", "udp.stream"}:
        ip_src, ip_dst = _dotted(src32), _dotted(dst32)
    for name, rows, sp, dp in (("tcp.stream", tcp_rows, sport, dport),
                               ("udp.stream", udp_rows, usport, udport)):
        if name in want:
            ids = np.zeros(n, np.int64)
            if len(rows):
                ids[rows] = _stream_ids(
                    ip_src.take(rows), sp[rows], ip_dst.take(rows), dp[rows])
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
    ip_rows = np.flatnonzero(m & ~fallback)
    for name, ips in (("ip.src", ip_src), ("ip.dst", ip_dst)):
        if name in lists:
            lists[name][ip_rows] = ips.take(ip_rows).to_numpy(
                zero_copy_only=False)

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
                protocols[i] = _PROTO_TCP_LABELS.get(label) or (
                    "eth:ethertype:ip:tcp:" + label)
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
            protocols[i] = "eth:ethertype:ip:udp:" + ":".join(tail)
        put_extras(i, extras)

    # ---- full-row fallback: the exact dict path ----------------------------
    if len(fb_rows):
        fnl = frame_no.tolist()
        ltl = lt.tolist()
        targets = [(nm, cols.get(nm), lists.get(nm)) for nm in names
                   if nm != "frame.protocols"]
        for i in fb_rows.tolist():
            data = datas[i]
            fields: dict = {
                "frame.number": fnl[i],
                "frame.time_epoch": epochs_l[i],
                "frame.len": origs_l[i],
                "frame.cap_len": incls_l[i],
            }
            if include_raw:
                fields["frame.raw"] = data.hex()
            dissect_packet(data, ltl[i], fields)
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
        lists["frame.raw"] = _hex_column(buf, s, offsets[1:], always, {})

    out: dict = {}
    for nm in names:
        if nm == "frame.protocols":
            out[nm] = protocols
        elif nm in cols:
            out[nm] = cols[nm]
        else:
            out[nm] = lists[nm]
    return out
