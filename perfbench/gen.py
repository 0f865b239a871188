"""Seeded input generators for the benchmark, with their ground truth.

Everything here depends only on the seed: the same seed writes the same
bytes and returns the same expected answers. The program under test only
ever sees the files written here; the expected answers come from what the
generator put into the files, never from the program.

- ``bulk_captures``: one traffic stream written as two captures (classic
  pcap, then pcapng), each just above the reader's 64 MiB split threshold.
- ``ring_captures``: a ring of small pcapng files, like ``dumpcap -b``.

The class shares of both mixes are chosen, not measured, and no real
capture backs them: they make a reproducible load, not a model of any
network. Only their shape follows published packet-size studies (for
example Sinha, Papadopoulos and Heidemann, "Internet Packet Size
Distributions: Some Observations", 2007): most packets are either
near-MTU data segments or header-only ACKs, with a minority of small
request/response payloads.
- ``probe_captures``: small captures of the bulk mix plus class-pure
  sub-captures, for the traced run's per-layer probes.
- ``tables``: a small TPC-H-like star schema plus events, documents and
  embeddings, as parquet, for the relational workload.
"""

from __future__ import annotations

import os
import random
import struct
from collections import Counter

SPLIT_BYTES = 64 * 1024 * 1024
BULK_FILE_BYTES = SPLIT_BYTES + 512 * 1024
T0 = 1_700_000_000
PROBE_PKTS = 12_000
RING_PKTS = 3000
# distinct DNS names per stream
N_NAMES = 40
# tables(): 0.01 of TPC-H scale factor 1 (60k lineitem rows)
TABLE_SCALE = 0.01

# frame.protocols as the native engine names each generated packet class
# (a payload no L7 probe recognises ends the chain at the transport layer)
PROTO = {
    "data": "eth:ethertype:ip:tcp",
    "ack": "eth:ethertype:ip:tcp",
    "http": "eth:ethertype:ip:tcp:http",
    "tls": "eth:ethertype:ip:tcp:tls",
    "udp": "eth:ethertype:ip:udp",
    "dns": "eth:ethertype:ip:udp:dns",
    "ipv6": "eth:ethertype:ipv6:tcp",
    "vlan": "eth:vlan:ethertype:ip:tcp",
}
# share of packets per class in the bulk mix (chosen, see above): bulk
# TCP data and bulk UDP (QUIC 1-RTT-like datagrams) near the MTU,
# header-only ACKs, small HTTP/DNS/TLS payloads; ipv6 + vlan (5%) leave
# the vectorized fast path
BULK_MIX = {"data": 45, "udp": 10, "ack": 20, "http": 8, "dns": 7,
            "tls": 5, "ipv6": 3, "vlan": 2}
RING_MIX = {"data": 30, "ack": 30, "http": 18, "dns": 22}
# class-pure sub-captures for the dissect probe: "l7" rows carry a
# payload the dissector probes row by row
DISSECT_CLASSES = {"fast": ("ack",),
                   "l7": ("data", "udp", "http", "tls", "dns"),
                   "fallback": ("ipv6", "vlan")}
BULK_PROTOCOLS = ["tcp", "udp", "dns", "http", "tls"]

_MAC = bytes(6) + bytes([2, 0, 0, 0, 0, 1])
_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango "
          "uniform victor whiskey xray yankee zulu").split()
_TLDS = ("com", "net", "org", "io", "dev")


def _ip4(a: int) -> bytes:
    return struct.pack(">I", a)


def _ipv4_hdr(src: int, dst: int, proto: int, l4_len: int) -> bytes:
    return struct.pack(">BBHHHBBH4s4s", 0x45, 0, 20 + l4_len, 1, 0, 64,
                       proto, 0, _ip4(src), _ip4(dst))


def _tcp(sport: int, dport: int, seq: int, flags: int,
         payload: bytes) -> bytes:
    return struct.pack(">HHIIBBHHH", sport, dport, seq, 0, 5 << 4, flags,
                       8192, 0, 0) + payload


def _udp(sport: int, dport: int, payload: bytes) -> bytes:
    return struct.pack(">HHHH", sport, dport, 8 + len(payload), 0) + payload


def _eth_ip4(src: int, dst: int, proto: int, l4: bytes) -> bytes:
    return _MAC + b"\x08\x00" + _ipv4_hdr(src, dst, proto, len(l4)) + l4


def _dns_name(name: str) -> bytes:
    return b"".join(bytes([len(p)]) + p.encode()
                    for p in name.split(".")) + b"\x00"


def _dns(name: str, dns_id: int, response: bool) -> bytes:
    question = _dns_name(name) + struct.pack(">HH", 1, 1)
    if not response:
        return struct.pack(">HHHHHH", dns_id, 0x0100, 1, 0, 0, 0) + question
    answer = b"\xc0\x0c" + struct.pack(">HHIH", 1, 1, 300, 4) + \
        bytes([93, 184, dns_id & 0xFF, 34])
    return struct.pack(">HHHHHH", dns_id, 0x8180, 1, 1, 0, 0) + question + \
        answer


def _client_hello(sni: str) -> bytes:
    host = sni.encode()
    ext = struct.pack(">HHHBH", 0, len(host) + 5, len(host) + 3, 0,
                      len(host)) + host
    body = b"\x03\x03" + bytes(range(32)) + b"\x00"
    body += struct.pack(">H", 4) + b"\x13\x01\x13\x02" + b"\x01\x00"
    body += struct.pack(">H", len(ext)) + ext
    hs = b"\x01" + len(body).to_bytes(3, "big") + body
    return b"\x16\x03\x01" + struct.pack(">H", len(hs)) + hs


def dns_names(rng: random.Random, n: int) -> list[str]:
    names = set()
    while len(names) < n:
        names.add(f"{rng.choice(_WORDS)}{rng.randrange(100)}."
                  f"{rng.choice(_WORDS)}.{rng.choice(_TLDS)}")
    return sorted(names)


class Traffic:
    """A seeded packet stream. ``next()`` returns (class, sport, dport,
    tcp_len, frame); TCP rows carry their ports and payload length, UDP
    rows carry None for all three, and DNS rows add the query name."""

    def __init__(self, seed: int, mix: dict):
        self.rng = random.Random(seed)
        self.classes = list(mix)
        self.weights = list(mix.values())
        self.names = dns_names(self.rng, N_NAMES)
        # Zipf-like popularity, so a top-5 by count is well spread
        self.name_w = [1.0 / (i + 1) for i in range(N_NAMES)]
        self.filler = bytes(32 + b % 95 for b in self.rng.randbytes(4096))
        self.seq = 0

    def _below(self, n: int) -> int:
        return int(self.rng.random() * n)

    def _host(self, net: int) -> int:
        return (10 << 24) | (net << 16) | (1 + self._below(63))

    def _eph(self) -> int:
        return 40000 + self._below(48)

    def next(self):
        rng, below = self.rng, self._below
        cls = rng.choices(self.classes, self.weights)[0]
        self.seq += 1
        cli, srv = self._host(1), self._host(2)
        if cls == "data":
            n = 1200 + below(249)
            off = below(1024)
            sp, dp = 5001, self._eph()
            frame = _eth_ip4(srv, cli, 6, _tcp(sp, dp, self.seq, 0x18,
                                               self.filler[off:off + n]))
            return cls, sp, dp, n, frame
        if cls == "ack":
            sp, dp = self._eph(), 5001
            return cls, sp, dp, 0, _eth_ip4(cli, srv, 6,
                                            _tcp(sp, dp, self.seq, 0x10, b""))
        if cls == "udp":
            # a QUIC short-header (1-RTT) datagram: first byte 0b01xxxxxx,
            # which no UDP payload probe claims
            n = 1200 + below(150)
            off = below(1024)
            payload = bytes([0x40 | (self.filler[off] & 0x3F)]) + \
                self.filler[off + 1:off + n]
            return cls, None, None, None, _eth_ip4(
                srv, cli, 17, _udp(443, 50000 + below(64), payload))
        if cls == "http":
            path = "/".join(rng.choice(_WORDS) for _ in range(3))
            if rng.random() < 0.5:
                sp, dp = self._eph(), 80
                payload = (f"GET /{path} HTTP/1.1\r\nHost: "
                           f"{rng.choice(self.names)}\r\nUser-Agent: bench/1"
                           "\r\nAccept: */*\r\n\r\n").encode()
                src, dst = cli, srv
            else:
                sp, dp = 80, self._eph()
                body = self.filler[:64 + below(448)]
                payload = (f"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                           f"Content-Length: {len(body)}\r\n\r\n"
                           ).encode() + body
                src, dst = srv, cli
            return cls, sp, dp, len(payload), _eth_ip4(
                src, dst, 6, _tcp(sp, dp, self.seq, 0x18, payload))
        if cls == "tls":
            sp, dp = self._eph(), 443
            payload = _client_hello(rng.choice(self.names))
            return cls, sp, dp, len(payload), _eth_ip4(
                cli, srv, 6, _tcp(sp, dp, self.seq, 0x18, payload))
        if cls == "dns":
            name = rng.choices(self.names, self.name_w)[0]
            dns_id = below(65536)
            if rng.random() < 0.5:
                frame = _eth_ip4(cli, srv, 17, _udp(
                    50000 + below(64), 53, _dns(name, dns_id, False)))
            else:
                frame = _eth_ip4(srv, cli, 17, _udp(
                    53, 50000 + below(64), _dns(name, dns_id, True)))
            return cls, None, None, None, frame, name
        if cls == "ipv6":
            n = 100 + below(500)
            sp, dp = self._eph(), 8080
            tcp = _tcp(sp, dp, self.seq, 0x18, self.filler[:n])
            ip6 = struct.pack(">IHBB", 0x60000000, len(tcp), 6, 64) + \
                bytes(15) + bytes([1 + below(63)]) + \
                bytes(15) + bytes([64 + below(64)])
            return cls, sp, dp, n, _MAC + b"\x86\xdd" + ip6 + tcp
        # vlan: 802.1Q-tagged IPv4 ACK
        sp, dp = self._eph(), 5001
        l4 = _tcp(sp, dp, self.seq, 0x10, b"")
        frame = (_MAC + b"\x81\x00" + struct.pack(">HH", 100, 0x0800)
                 + _ipv4_hdr(cli, srv, 6, len(l4)) + l4)
        return cls, sp, dp, 0, frame


class _Writer:
    """Classic pcap or pcapng (one Ethernet interface, usec resolution)."""

    def __init__(self, path: str, pcapng: bool):
        self.fh = open(path, "wb")
        self.pcapng = pcapng
        self.size = 0
        if pcapng:
            self._put(_ng_block(0x0A0D0D0A, struct.pack(
                "<IHHq", 0x1A2B3C4D, 1, 0, -1)))
            self._put(_ng_block(0x00000001, struct.pack("<HHI", 1, 0,
                                                       262144)))
        else:
            self._put(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0,
                                  262144, 1))

    def _put(self, b: bytes) -> None:
        self.fh.write(b)
        self.size += len(b)

    def write(self, ts_us: int, frame: bytes) -> None:
        n = len(frame)
        if self.pcapng:
            self._put(_ng_block(6, struct.pack(
                "<IIIII", 0, ts_us >> 32, ts_us & 0xFFFFFFFF, n, n) + frame))
        else:
            self._put(struct.pack("<IIII", ts_us // 1_000_000,
                                  ts_us % 1_000_000, n, n) + frame)

    def close(self) -> None:
        self.fh.close()


def _ng_block(btype: int, body: bytes) -> bytes:
    pad = (-len(body)) % 4
    total = 12 + len(body) + pad
    return struct.pack("<II", btype, total) + body + bytes(pad) + \
        struct.pack("<I", total)


class Truth:
    """Expected answers accumulated while packets are written."""

    def __init__(self):
        self.pairs: dict = {}     # (sport, dport) -> [count, sum tcp.len]
        self.protocols: Counter = Counter()
        self.dns: Counter = Counter()
        self.packets = 0

    def add(self, item) -> None:
        cls, sp, dp, tlen = item[:4]
        self.packets += 1
        self.protocols[PROTO[cls]] += 1
        acc = self.pairs.setdefault((sp, dp), [0, None])
        acc[0] += 1
        if tlen is not None:
            acc[1] = (acc[1] or 0) + tlen
        if cls == "dns":
            self.dns[item[5]] += 1

    def top_dns(self) -> list:
        """The top-5 DNS names by count, ties broken by name."""
        return sorted(self.dns.items(), key=lambda kv: (-kv[1], kv[0]))[:5]


def _fill(traffic: Traffic, w: _Writer, truth: Truth, ts: list,
          until_bytes: int | None = None, n_packets: int | None = None,
          classes: tuple | None = None) -> None:
    done = 0
    while (until_bytes is None or w.size < until_bytes) and (
            n_packets is None or done < n_packets):
        item = traffic.next()
        if classes is not None and item[0] not in classes:
            continue
        ts[0] += 50 + traffic._below(200)
        w.write(ts[0], item[4])
        truth.add(item)
        done += 1


def bulk_captures(out_dir: str, seed: int) -> Truth:
    """bulk.pcap then bulk.pcapng: one stream, each file just above the
    split threshold, so both framings run the byte-range split plan."""
    os.makedirs(out_dir, exist_ok=True)
    traffic = Traffic(seed, BULK_MIX)
    truth = Truth()
    ts = [T0 * 1_000_000]
    for name, ng in (("bulk.pcap", False), ("bulk.pcapng", True)):
        w = _Writer(os.path.join(out_dir, name), ng)
        _fill(traffic, w, truth, ts, until_bytes=BULK_FILE_BYTES)
        w.close()
    return truth


def ring_captures(out_dir: str, seed: int,
                  n_files: int) -> list[tuple[str, list]]:
    """``n_files`` pcapng ring files of RING_PKTS packets each ->
    [(path, expected top-5 DNS)]."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    ts = [T0 * 1_000_000]
    for i in range(n_files):
        traffic = Traffic(seed * 1000 + i, RING_MIX)
        truth = Truth()
        path = os.path.join(out_dir, f"ring_{i:05d}.pcapng")
        w = _Writer(path, True)
        _fill(traffic, w, truth, ts, n_packets=RING_PKTS)
        w.close()
        out.append((path, truth.top_dns()))
    return out


def probe_captures(out_dir: str, seed: int) -> dict[str, str]:
    """Small bulk-mix captures in both framings plus one class-pure
    classic capture per dissect class, PROBE_PKTS packets each ->
    {label: path}."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    traffic = Traffic(seed, BULK_MIX)
    ts = [T0 * 1_000_000]
    for label, ng, classes in (
            ("mixed.pcap", False, None), ("mixed.pcapng", True, None),
            *((f"{k}.pcap", False, v) for k, v in DISSECT_CLASSES.items())):
        path = os.path.join(out_dir, label)
        w = _Writer(path, ng)
        _fill(traffic, w, Truth(), ts, n_packets=PROBE_PKTS,
              classes=classes)
        w.close()
        paths[label.rsplit(".", 1)[0] if classes else label] = path
    return paths


# ---- relational tables ------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("red", "small", "hot", "old", "large", "blue", "cold", "new")
_PART_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gear", "pipe",
              "valve")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_DOC_WORDS = ("a agg batch big column customer data fast filter group hash "
              "join key line merge order part query row scan slow small "
              "sort spark stream table the value vector window").split()


def tables(out_dir: str, seed: int) -> None:
    """Write region .. embeddings as parquet at TABLE_SCALE. Value domains
    follow the registry's fixture tables."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    scale = TABLE_SCALE
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(50_000 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us")

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def keys(n):
        return pa.array(np.arange(n, dtype=np.int64))

    def pick(options, n):
        return [options[i] for i in rng.integers(0, len(options), n)]

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": list(_REGIONS)})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    put("customer", {
        "c_custkey": keys(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust)})
    put("supplier", {
        "s_suppkey": keys(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    put("part", {
        "p_partkey": keys(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(pick(_PART_ADJ, n_part),
                                              pick(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(rng.uniform(900, 999.9, n_part), 1)})
    put("orders", {
        "o_orderkey": keys(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": pick(_PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), n_line),
        "l_linestatus": pick(("F", "O"), n_line),
        "l_shipdate": days("1995-01-02", 2499, n_line)})
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    put("events", {
        "event_id": keys(n_ev),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev)),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.06:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _DOC_WORDS[int(rng.integers(len(_DOC_WORDS)))]
        else:
            words = pick(_DOC_WORDS, int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": keys(n_doc), "text": texts,
        "lang": pick(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": keys(n_emb),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})
