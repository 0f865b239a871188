"""The `pcap` DataSource end-to-end through Spark: schema inference,
options, native engine reads, mocked-tshark reads, filter translation,
multi-file globs (SURVEY.md §5.2)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In, IsNotNull, IsNull

from tests.pcap_fixtures import two_flow_pcap
from wireduck_spark.sources import pcap as pcap_mod
from wireduck_spark.sources.pcap import (
    read_pcap, translate_filters_to_display,
)
from wireduck_spark.sources.tshark import build_argv, parse_tsv_line

FIXTURE = "/root/reference/fix.pcap"


@pytest.fixture()
def pcap_file(tmp_path):
    p = tmp_path / "a.pcap"
    p.write_bytes(two_flow_pcap())
    return str(p)


def test_default_schema(spark, pcap_file):
    df = read_pcap(spark, pcap_file, engine="native")
    assert df.columns == [
        "frame.time_epoch", "frame.number", "frame.len", "frame.protocols",
        "_ws.col.info",
    ]
    assert df.count() == 4


def test_protocols_schema_and_values(spark, pcap_file):
    df = read_pcap(spark, pcap_file, protocols=["tcp"], engine="native")
    assert df.columns[-1] == "_ws.col.info"
    rows = df.orderBy("`frame.number`").collect()
    tcp_rows = [r for r in rows if r["tcp.srcport"] is not None]
    assert len(tcp_rows) == 3
    # UDP packet has NULL tcp fields (absent-protocol semantics)
    udp_row = rows[-1]
    assert udp_row["tcp.srcport"] is None


def test_climit(spark, pcap_file):
    df = read_pcap(spark, pcap_file, climit=2, engine="native")
    assert df.count() == 2


def test_multifile_glob(spark, tmp_path):
    for name in ("a.pcap", "b.pcap"):
        (tmp_path / name).write_bytes(two_flow_pcap())
    df = read_pcap(spark, f"{tmp_path}/*.pcap", engine="native")
    assert df.count() == 8
    assert df.rdd.getNumPartitions() == 2  # one partition per file


def test_climit_global_across_glob(spark, tmp_path):
    """climit is a GLOBAL cap (reference single-file semantics) even over
    a multi-file glob — round-1 ADVICE: per-partition `-c` alone returned
    up to N*n_files rows."""
    for name in ("a.pcap", "b.pcap", "c.pcap"):
        (tmp_path / name).write_bytes(two_flow_pcap())
    assert read_pcap(spark, f"{tmp_path}/*.pcap", climit=5,
                     engine="native").count() == 5


def test_empty_glob_raises(spark, tmp_path):
    """No matching files -> clear error at planning, not a confusing
    per-partition FileNotFoundError (round-1 ADVICE)."""
    df = read_pcap(spark, f"{tmp_path}/nothing-*.pcap", engine="native")
    with pytest.raises(Exception) as exc:
        df.count()
    assert "no files match" in str(exc.value)


def test_split_read_through_spark(spark, tmp_path):
    """Byte-range splitting end-to-end through Spark: a capture forced to
    split into multiple partitions yields the same packet count and the
    same per-flow aggregates as the unsplit read (partition-invariant
    tcp.stream — the round-1 ADVICE flow-merge bug)."""
    p = tmp_path / "multi.pcap"
    p.write_bytes(two_flow_pcap() * 1)  # header-correct single capture
    # grow it: 30 copies of the 4 frames (same flows, later timestamps)
    from tests.pcap_fixtures import (build_eth_ipv4_tcp, build_eth_ipv4_udp,
                                     build_pcap)
    frames = []
    for i in range(30):
        frames.append((1700000000.0 + i, build_eth_ipv4_tcp(
            "10.0.0.1", "10.0.0.2", 1111, 80, 100 + i, 0, 0x18, b"payload")))
        frames.append((1700000000.5 + i, build_eth_ipv4_udp(
            "10.0.0.3", "10.0.0.4", 5353, 53, b"dns?")))
    p.write_bytes(build_pcap(frames))
    pcap_mod.register(spark)

    def agg(df):
        return {
            r["stream"]: (r["n"], r["b"])
            for r in df.filter(F.col("`tcp.stream`").isNotNull())
            .groupBy(F.col("`tcp.stream`").alias("stream"))
            .agg(F.count("*").alias("n"), F.sum("`tcp.len`").alias("b"))
            .collect()
        }

    whole = (spark.read.format("pcap").option("engine", "native")
             .option("protocols", "tcp").load(str(p)))
    split = (spark.read.format("pcap").option("engine", "native")
             .option("protocols", "tcp")
             .option("split_threshold", "200")  # force many range splits
             .load(str(p)))
    assert split.rdd.getNumPartitions() > 1
    assert split.count() == whole.count() == 60
    assert agg(split) == agg(whole)


MiB = 1 << 20


@pytest.mark.parametrize("size, n_slices", [
    (1 * MiB, 1),
    (pcap_mod.SPLIT_BYTES, 1),
    (pcap_mod.SPLIT_BYTES + 1, 2),
    (64 * MiB + 512 * 1024, 3),
])
def test_split_rule_is_shared_by_batch_and_stream_readers(
        spark, tmp_path, size, n_slices):
    """One split rule, planned from the size alone (the capture is a
    sparse file): at most SPLIT_BYTES stays one whole-file partition, a
    larger capture becomes ceil(size / SPLIT_BYTES) contiguous slices
    covering [header, size), and the batch and the stream reader plan
    the same ranges for the same (path, size). read_pcap coalesces to
    one partition exactly when that rule plans one, reading nothing."""
    import json

    from wireduck_spark.sources.native import GLOBAL_HEADER_LEN
    from wireduck_spark.streaming.pcap_stream import PcapStreamReader

    p = tmp_path / "big.pcap"
    with open(p, "wb") as fh:
        fh.truncate(size)
    path = str(p)
    schema = pcap_mod.PcapDataSource({}).schema()
    batch = [
        (q.start_byte, q.end_byte)
        for q in pcap_mod.PcapReader(
            schema, {"path": path, "engine": "native"}).partitions()
    ]
    stream = [
        (q.start_byte, q.end_byte)
        for q in PcapStreamReader(schema, {"path": path}).partitions(
            {"files": "{}"}, {"files": json.dumps({path: size})})
    ]
    ranges = pcap_mod.split_ranges(path, size)
    if n_slices == 1:
        assert ranges is None
        assert batch == [(None, None)]
        assert stream == [(0, size)]
    else:
        assert batch == stream == ranges
        assert len(ranges) == n_slices
        assert ranges[0][0] == GLOBAL_HEADER_LEN
        assert ranges[-1][1] == size
        assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
    logical = read_pcap(spark, path, engine="native") \
        ._jdf.queryExecution().logical().toString()
    assert ("Repartition 1, false" in logical) == (n_slices == 1)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _collect_in_group(spark, df, group: str):
    """(rows, number of Spark jobs the collect ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _top_dns(df):
    """The perfbench ring op's question: the top-5 DNS query names."""
    return (df.where(F.col("`dns.qry.name`").isNotNull())
            .groupBy(F.col("`dns.qry.name`").alias("name"))
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "name").limit(5))


def test_one_partition_read_runs_as_one_job(spark, tmp_path):
    """A read_pcap that plans one partition is coalesced to one, which
    Catalyst sees as SinglePartition: the aggregate needs no Exchange
    and the query runs as one Spark job. The same query over
    spark.read.format("pcap") keeps its shuffle (two jobs under AQE)
    and gives the same rows."""
    from wireduck_spark.sources import synth

    path = synth.session_capture(str(tmp_path / "s.pcap"))
    one = _top_dns(read_pcap(spark, path, protocols=["dns"],
                             engine="native"))
    rows, jobs = _collect_in_group(spark, one, f"one-{tmp_path.name}")
    assert "Exchange" not in _executed_plan(one)
    assert jobs == 1
    plain = _top_dns(spark.read.format("pcap").option("engine", "native")
                     .option("protocols", "dns").load(path))
    plain_rows, plain_jobs = _collect_in_group(
        spark, plain, f"plain-{tmp_path.name}")
    assert "Exchange hashpartitioning" in _executed_plan(plain)
    assert plain_jobs > 1
    assert rows == plain_rows
    assert rows[0]["n"] == 2


def test_glob_and_split_reads_keep_the_shuffle(spark, tmp_path):
    """Only a one-partition read is coalesced: a two-file glob (two
    partitions) and a capture above SPLIT_BYTES (byte-range slices,
    planned from the size of a sparse file, so nothing is read) keep
    Spark's hash Exchange before the aggregate."""
    from wireduck_spark.sources import synth

    for name in ("a.pcap", "b.pcap"):
        synth.session_capture(str(tmp_path / "glob" / name))
    glob = _top_dns(read_pcap(spark, f"{tmp_path}/glob/*.pcap",
                              protocols=["dns"], engine="native"))
    assert glob.collect()[0]["n"] == 4
    assert "Exchange hashpartitioning" in _executed_plan(glob)

    big = tmp_path / "big.pcap"
    with open(big, "wb") as fh:
        fh.truncate(pcap_mod.SPLIT_BYTES + 1)
    split = _top_dns(read_pcap(spark, str(big), protocols=["dns"],
                               engine="native"))
    assert "Exchange hashpartitioning" in _executed_plan(split)


def _by_protocols(df):
    return (df.groupBy("`frame.protocols`")
            .agg(F.count("*").alias("n"), F.sum("`frame.len`").alias("b")))


def _udp_lag(df):
    from pyspark.sql import Window

    w = Window.partitionBy("`udp.stream`").orderBy("`frame.number`")
    return df.where(F.col("`udp.stream`").isNotNull()).select(
        "`udp.stream`", "`frame.number`",
        F.lag("`frame.time_epoch`").over(w).alias("prev"))


def _tcp_self_join(df):
    a = df.select(F.col("`tcp.stream`").alias("s"),
                  F.col("`frame.number`").alias("fa"))
    b = df.select(F.col("`tcp.stream`").alias("s"),
                  F.col("`frame.number`").alias("fb"))
    return a.join(b, "s")


# (query, whether it shuffles over read_pcap, over spark.read.format).
# A sort-merge join still shuffles a coalesced read: Spark 4 keeps a
# single-partition join side unshuffled only when its estimated size is
# at most spark.sql.maxSinglePartitionBytes, and a Python data source
# reports no size.
@pytest.mark.parametrize("query, one_shuffles, plain_shuffles", [
    (_by_protocols, False, True),
    (_udp_lag, False, True),
    (_tcp_self_join, True, True),
    (lambda df: df, False, False),
])
@pytest.mark.parametrize("climit", [None, 14])
def test_coalesced_read_matches_the_shuffled_read(
        spark, tmp_path, query, one_shuffles, plain_shuffles, climit):
    """The coalesce changes the plan, never the data: an aggregate, a
    window, a self-join and a plain (climit) read over read_pcap give
    the rows of the same query over spark.read.format("pcap"), whose
    aggregate and window still shuffle."""
    from wireduck_spark.sources import synth

    path = synth.session_capture(str(tmp_path / "s.pcap"))
    protocols = ["tcp", "udp", "dns"]
    one = query(read_pcap(spark, path, protocols=protocols, climit=climit,
                          engine="native"))
    reader = (spark.read.format("pcap").option("engine", "native")
              .option("protocols", ",".join(protocols)))
    if climit is not None:
        reader = reader.option("climit", str(climit))
    plain = query(reader.load(path))
    got = sorted(map(tuple, one.collect()), key=repr)
    assert got == sorted(map(tuple, plain.collect()), key=repr)
    assert len(got) > 1
    assert ("Exchange" in _executed_plan(one)) == one_shuffles
    assert ("Exchange" in _executed_plan(plain)) == plain_shuffles


def test_register_ships_the_package_once(spark, pcap_file):
    """read_pcap and read_pcap_stream register on every call, but the
    package zip is shipped once per context: addPyFile would otherwise
    grow the include list sent to every task, and the driver's
    sys.path, by one entry per read."""
    import sys

    from wireduck_spark.streaming.pcap_stream import register_stream

    sc = spark.sparkContext
    read_pcap(spark, pcap_file, engine="native")
    includes = list(sc._python_includes)
    n_path = len(sys.path)
    for _ in range(5):
        read_pcap(spark, pcap_file, engine="native")
        register_stream(spark)
    assert sc._python_includes == includes
    assert len(sys.path) == n_path


def test_package_zip_is_named_by_content(tmp_path):
    """The shipped zip is named by a hash of the package sources: the
    same code reuses its zip, and changed code gets a new one (a zip
    named by version alone handed one checkout's old code to another)."""
    import zipfile

    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("A = 1\n")
    (pkg / "sub" / "m.py").write_text("B = 2\n")
    out = tmp_path / "out"
    out.mkdir()
    first = pcap_mod._package_zip(str(pkg), str(out))
    assert pcap_mod._package_zip(str(pkg), str(out)) == first
    (pkg / "sub" / "m.py").write_text("B = 3\n")
    changed = pcap_mod._package_zip(str(pkg), str(out))
    assert changed != first
    with zipfile.ZipFile(changed) as zf:
        assert zf.read("wireduck_spark/sub/m.py") == b"B = 3\n"


def test_tshark_split_read_through_spark(spark, tmp_path):
    """Split-tshark end-to-end through Spark (round-3 VERDICT #3): a
    classic capture forced to split plans multiple byte-range partitions
    under engine=tshark; each executor extracts its slice into a
    standalone temp capture and runs one (mocked) tshark pipe over it.
    Same packet multiset as the whole-file tshark read, same per-flow
    aggregates as the native engine on the same split, and frame.number
    carries the native split path's byte-offset surrogate (globally
    unique, partition-invariant)."""
    from tests.pcap_fixtures import build_eth_ipv4_tcp, build_pcap

    p = tmp_path / "big.pcap"
    frames = [
        (1700000000.0 + i, build_eth_ipv4_tcp(
            "10.0.0.1", "10.0.0.2", 1111, 80, 100 + i, 0, 0x18,
            b"p" * (20 + i % 7)))
        for i in range(60)
    ]
    p.write_bytes(build_pcap(frames))
    pcap_mod.register(spark)

    def load(engine, split):
        r = (spark.read.format("pcap").option("engine", engine)
             .option("protocols", "tcp")
             .option("tshark_mock_engine", "native"))
        if split:
            r = r.option("split_threshold", "200")
        return r.load(str(p))

    split_tshark = load("tshark", split=True)
    assert split_tshark.rdd.getNumPartitions() > 1
    whole_tshark = load("tshark", split=False)
    assert whole_tshark.rdd.getNumPartitions() == 1
    split_native = load("native", split=True)

    assert split_tshark.count() == whole_tshark.count() == 60
    # identical per-packet payload multiset vs the whole-file pipe
    key = lambda df: sorted(
        (r["tcp.seq"], r["tcp.len"], r["frame.len"]) for r in df.collect()
    )
    assert key(split_tshark) == key(whole_tshark)
    # frame.number surrogate matches the native split contract exactly
    fn = lambda df: sorted(r["frame.number"] for r in df.collect())
    assert fn(split_tshark) == fn(split_native)
    assert len(set(fn(split_tshark))) == 60


def test_extract_classic_slice_is_standalone(tmp_path):
    """Slice extraction: union of per-slice temp captures == whole file
    (byte-identical records, original header preserved), offsets are the
    records' original byte positions."""
    from wireduck_spark.sources.native import (
        byte_range_partitions, extract_slice as extract_classic_slice,
        iter_packets,
    )
    from tests.pcap_fixtures import build_eth_ipv4_tcp, build_pcap

    p = tmp_path / "src.pcap"
    frames = [
        (1700000000.0 + i, build_eth_ipv4_tcp(
            "10.0.0.1", "10.0.0.2", 1, 80, i, 0, 0x18, b"z" * (10 + i)))
        for i in range(20)
    ]
    raw = build_pcap(frames)
    p.write_bytes(raw)
    whole = list(iter_packets(str(p)))
    all_offsets, all_pkts = [], []
    for j, (s, e) in enumerate(byte_range_partitions(str(p), 4)):
        out = tmp_path / f"slice{j}.pcap"
        offs = extract_classic_slice(str(p), s, e, str(out))
        all_offsets.extend(offs)
        sliced = list(iter_packets(str(out)))
        assert len(sliced) == len(offs)
        assert out.read_bytes()[:24] == raw[:24]  # header preserved
        all_pkts.extend(sliced)
    assert len(all_pkts) == len(whole) == 20
    assert all_offsets == sorted(all_offsets)
    # offsets point at the true record starts: re-reading each record's
    # caplen from the source at that offset matches the sliced packet
    assert [f["frame.len"] for f in all_pkts] == [
        f["frame.len"] for f in whole
    ]


def test_tshark_split_pcapng_through_spark(spark, tmp_path):
    """Split-tshark on the Wireshark-default pcapng format: byte-range
    partitions plan under engine=tshark, each slice extracts as a
    standalone mini-capture (SHB+IDB preamble + verbatim blocks) for its
    private (mocked) pipe; packet multiset matches the whole-file read
    and frame.number carries the block-offset surrogate."""
    from tests.pcap_fixtures import build_eth_ipv4_tcp, build_pcapng

    p = tmp_path / "big.pcapng"
    frames = [
        (1700000000.0 + i, build_eth_ipv4_tcp(
            "10.0.0.1", "10.0.0.2", 1111, 80, 100 + i, 0, 0x18,
            b"p" * (20 + i % 7)))
        for i in range(60)
    ]
    p.write_bytes(build_pcapng(frames))
    pcap_mod.register(spark)

    def load(engine, split):
        r = (spark.read.format("pcap").option("engine", engine)
             .option("protocols", "tcp")
             .option("tshark_mock_engine", "native"))
        if split:
            r = r.option("split_threshold", "200")
        return r.load(str(p))

    split_tshark = load("tshark", split=True)
    assert split_tshark.rdd.getNumPartitions() > 1
    whole_tshark = load("tshark", split=False)
    key = lambda df: sorted(
        (r["tcp.seq"], r["tcp.len"], r["frame.len"]) for r in df.collect()
    )
    assert split_tshark.count() == whole_tshark.count() == 60
    assert key(split_tshark) == key(whole_tshark)
    fn = lambda df: sorted(r["frame.number"] for r in df.collect())
    assert fn(split_tshark) == fn(load("native", split=True))


def test_extract_pcapng_slice_is_standalone(tmp_path):
    """pcapng slice extraction: union of per-slice temp captures == whole
    file; preamble (SHB+IDB) is copied verbatim so each slice stands
    alone; packet-block offsets are returned in order. Also exercises
    SPB-only captures and mid-file filler blocks (NRB runs)."""
    from wireduck_spark.sources.native import (
        byte_range_partitions, extract_slice as extract_pcapng_slice,
        iter_packets,
    )
    from tests.pcap_fixtures import build_eth_ipv4_tcp, build_pcapng

    frames = [
        (1700000000.0 + i, build_eth_ipv4_tcp(
            "10.0.0.1", "10.0.0.2", 1, 80, i, 0, 0x18, b"z" * (10 + i)))
        for i in range(20)
    ]
    for variant, kw in (("epb", {}), ("spb", {"spb": True}),
                        ("filler", {"mid_filler_bytes": 4000})):
        p = tmp_path / f"src_{variant}.pcapng"
        p.write_bytes(build_pcapng(frames, **kw))
        whole = list(iter_packets(str(p)))
        assert len(whole) == 20
        all_offsets, all_pkts = [], []
        for j, (s, e) in enumerate(byte_range_partitions(str(p), 4)):
            out = tmp_path / f"slice_{variant}{j}.pcapng"
            offs = extract_pcapng_slice(str(p), s, e, str(out))
            sliced = list(iter_packets(str(out)))
            assert len(sliced) == len(offs)
            all_offsets.extend(offs)
            all_pkts.extend(sliced)
        assert len(all_pkts) == len(whole) == 20, variant
        assert all_offsets == sorted(all_offsets)
        assert [f["frame.len"] for f in all_pkts] == [
            f["frame.len"] for f in whole
        ], variant


def test_multiproto_dissect_through_spark(spark, tmp_path):
    """DNS/HTTP/ICMP/ARP columns flow through the glossary-driven schema
    and the Arrow batch path with real values (no tshark)."""
    from wireduck_spark.sources.synth import multiproto_capture

    cap = multiproto_capture(str(tmp_path / "multiproto.pcap"))
    df = read_pcap(spark, cap, protocols=["dns", "http", "icmp", "arp"],
                   engine="native")
    rows = df.orderBy("`frame.number`").collect()
    assert len(rows) == 12
    dns_names = [r["dns.qry.name"] for r in rows if r["dns.qry.name"]]
    assert dns_names == ["example.com", "spark.apache.org", "example.com"]
    assert [r["http.request.method"] for r in rows
            if r["http.request.method"]] == ["GET", "GET"]
    assert [r["http.response.code"] for r in rows
            if r["http.response.code"] is not None] == [200, 404]
    assert [r["icmp.type"] for r in rows
            if r["icmp.type"] is not None] == [8, 0]
    assert [r["arp.opcode"] for r in rows
            if r["arp.opcode"] is not None] == [1, 2]


def test_tls_dissect_through_spark(spark, tmp_path):
    """TLS record/handshake fields + ClientHello SNI via the native
    dissector (content-based detection, not port-based)."""
    from wireduck_spark.sources.synth import tls_capture

    cap = tls_capture(str(tmp_path / "tls.pcap"))
    df = read_pcap(spark, cap, protocols=["tls"], engine="native")
    rows = df.orderBy("`frame.number`").collect()
    assert len(rows) == 4
    assert [r["tls.record.content_type"] for r in rows] == [22, 22, 22, 23]
    assert [r["tls.handshake.type"] for r in rows] == [1, 2, 1, None]
    snis = [r["tls.handshake.extensions_server_name"] for r in rows]
    assert snis == ["spark.apache.org", None, "duckdb.org", None]
    assert rows[2]["tls.handshake.version"] == 0x0304
    assert rows[0]["tls.handshake.cipher_suites_length"] == 4
    assert "tls" in rows[0]["frame.protocols"]


@pytest.mark.skipif(not os.path.exists(FIXTURE), reason="fixture not present")
def test_golden_aggregate_through_spark(spark):
    t = read_pcap(spark, FIXTURE, protocols=["tcp"], engine="native")
    got = {
        (r["srcport"], r["dstport"]): (r["n"], r["s"])
        for r in t.groupBy(
            F.col("`tcp.srcport`").alias("srcport"),
            F.col("`tcp.dstport`").alias("dstport"),
        )
        .agg(F.count("*").alias("n"), F.sum("`tcp.len`").alias("s"))
        .collect()
    }
    assert got[(11001, 53867)] == (429, 259678)
    assert got[(53867, 11001)] == (56, 19702)


# -- tshark path (mocked: no tshark in this container) ----------------------


def test_build_argv_matches_reference_shape():
    argv = build_argv("/x/f.pcap", ["frame.number", "tcp.srcport"],
                      climit=4, cfilter="tcp.len > 0")
    assert argv[:5] == ["tshark", "-r", "/x/f.pcap", "-T", "fields"]
    assert argv[5:9] == ["-e", "frame.number", "-e", "tcp.srcport"]
    assert argv[9:11] == ["-c", "4"]
    assert argv[11:13] == ["-Y", "tcp.len > 0"]


def test_parse_tsv_line_pads_and_skips():
    assert parse_tsv_line("", 3) is None
    assert parse_tsv_line("a\tb", 3) == ["a", "b", ""]
    assert parse_tsv_line("a\tb\tc\td", 3) == ["a", "b", "c"]


CANNED_TSV = (
    "1448733575.25\t1\t74\teth:ethertype:ip:tcp\tinfo1\n"
    "1448733575.50\t2\tBADNUM\teth:ethertype:ip:tcp\tinfo2\n"
    ""  # zero-field row -> skipped
)


def test_tshark_engine_with_mock(spark, pcap_file):
    """tshark path end-to-end through Spark with canned TSV (the
    `tshark_mock_tsv` option is the subprocess seam — reader construction
    happens in Spark's Python worker, beyond monkeypatch reach)."""
    pcap_mod.register(spark)
    df = (
        spark.read.format("pcap")
        .option("engine", "tshark")
        .option("cfilter", "tcp.len > 0")
        .option("tshark_mock_tsv", CANNED_TSV)
        .load(pcap_file)
        .orderBy("`frame.number`")
    )
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0]["frame.len"] == 74
    assert rows[0]["frame.time_epoch"].microsecond == 250000
    # BADNUM -> NULL cell only; the rest of the row survives (deviation §4.4)
    assert rows[1]["frame.len"] is None
    assert rows[1]["_ws.col.info"] == "info2"


@pytest.mark.parametrize("engine", ["native", "auto"])
def test_native_engine_refuses_cfilter(pcap_file, engine, monkeypatch):
    """The native engine has no display-filter evaluator, so a cfilter
    fails at plan time instead of returning unfiltered rows."""
    monkeypatch.setattr("shutil.which", lambda name: None)  # auto -> native
    schema = pcap_mod.PcapDataSource({}).schema()
    with pytest.raises(ValueError, match=r"'native'.*\.where\(\).*tshark"):
        pcap_mod.PcapReader(schema, {"path": pcap_file, "engine": engine,
                                     "cfilter": "tcp.len > 0"})
    assert pcap_mod.PcapReader(
        schema, {"path": pcap_file, "engine": engine}).engine == "native"


def test_native_cfilter_fails_the_query(spark, pcap_file):
    with pytest.raises(Exception, match="cfilter 'tcp.len > 0'"):
        read_pcap(spark, pcap_file, protocols=["tcp"], cfilter="tcp.len > 0",
                  engine="native").collect()


FIELD_TYPES = {
    "tcp.srcport": "FT_UINT16", "tcp.len": "FT_UINT32",
    "ip.proto": "FT_UINT8", "udp.srcport": "FT_UINT16",
    "_ws.col.info": "FT_STRING", "ip.src": "FT_IPv4",
    "smpp.broadcast_rep_num": "FT_UINT_STRING",
    "tcp.flags.syn": "FT_BOOLEAN",
}


def test_filter_translation_pushes_only_superset_safe():
    """Round-1 ADVICE (high): only numeric comparisons on true integer/
    float FT_* fields plus IsNotNull are superset-safe. String/IP/bytes
    comparisons, IsNull, StringContains, and boolean fields must NOT be
    pushed — tshark evaluates them with typed semantics while Spark
    re-evaluates with string semantics, so pushing can drop rows Spark
    would keep (over-filter = silently wrong results)."""
    df, n = translate_filters_to_display(
        [
            EqualTo(("tcp.srcport",), 80),
            GreaterThan(("tcp.len",), 0),
            In(("ip.proto",), (6, 17)),
            IsNotNull(("udp.srcport",)),
        ],
        FIELD_TYPES,
    )
    assert n == 4
    assert "(tcp.srcport == 80)" in df
    assert "(tcp.len > 0)" in df
    assert "(ip.proto in {6 17})" in df
    assert "(udp.srcport)" in df


def test_filter_translation_refuses_unsafe():
    unsafe = [
        IsNull(("udp.srcport",)),              # !(field) over-filters
        EqualTo(("_ws.col.info",), "hi"),      # string equality
        GreaterThan(("ip.src",), "10.0.0.0"),  # IP-typed ordering
        EqualTo(("smpp.broadcast_rep_num",), 3),  # FT_UINT_STRING misclass
        EqualTo(("tcp.flags.syn",), True),     # boolean spelling mismatch
    ]
    df, n = translate_filters_to_display(unsafe, FIELD_TYPES)
    assert df is None and n == 0


def test_pushdown_plan_prunes_rows(spark, pcap_file):
    """Filters reach pushFilters (conf enabled in register()) and results
    stay correct because all filters are also re-applied by Spark."""
    df = read_pcap(spark, pcap_file, protocols=["tcp"], engine="native")
    out = df.filter(F.col("`tcp.srcport`") == 1111).count()
    assert out == 2


@pytest.mark.skipif(not os.path.exists(FIXTURE), reason="fixture not present")
def test_ts_str_truncation_is_display_only(spark):
    """pcap_flagship_portpair renders first_seen through ts_str (whole
    seconds, for cross-engine hash stability); the underlying
    frame.time_epoch keeps microsecond precision, observable in
    pcap_flow_stats' duration_s carrying a fractional part (VERDICT r2
    next-round #9: pin the display contract)."""
    from wireduck_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    flows = QUERIES["pcap_flow_stats"].fn(spark, "").collect()
    assert flows, "expected TCP flows in fix.pcap"
    frac = [r for r in flows if r["duration_s"] % 1 != 0]
    assert frac, (
        "every flow duration is whole seconds - microsecond precision "
        "lost upstream of the aggregate"
    )
    heads = QUERIES["pcap_scan_default"].fn(spark, "").collect()
    assert all(
        len(r["first_seen"]) == 19 for r in heads
    ), "ts_str contract: 'YYYY-MM-DD HH:MM:SS' display form"


def test_sql_temporary_view_over_pcap(spark, pcap_file):
    """The pure-SQL path a reference user would take: CREATE TEMPORARY
    VIEW ... USING pcap OPTIONS (...) and then plain spark.sql over it —
    the Spark twin of the reference's `SELECT * FROM read_pcap('f.pcap',
    protocols:=['tcp'])` table-function call (wireduck_extension.cpp:80).
    Options flow through the DataSource identically to the reader API."""
    from wireduck_spark.sources.pcap import register
    register(spark)
    spark.sql("DROP VIEW IF EXISTS capture_sql")
    spark.sql(
        "CREATE TEMPORARY VIEW capture_sql USING pcap OPTIONS ("
        f"path '{pcap_file}', engine 'native', protocols 'tcp')"
    )
    assert spark.sql("SELECT count(*) AS n FROM capture_sql").collect()[0][
        "n"] == 4
    tcp = spark.sql(
        "SELECT `frame.number`, `tcp.srcport` FROM capture_sql "
        "WHERE `tcp.srcport` IS NOT NULL ORDER BY `frame.number`"
    ).collect()
    assert len(tcp) == 3
    # climit through SQL OPTIONS caps rows exactly like the reader option
    spark.sql("DROP VIEW IF EXISTS capture_sql_lim")
    spark.sql(
        "CREATE TEMPORARY VIEW capture_sql_lim USING pcap OPTIONS ("
        f"path '{pcap_file}', engine 'native', climit '2')"
    )
    assert spark.sql(
        "SELECT count(*) AS n FROM capture_sql_lim").collect()[0]["n"] == 2


def test_split_frame_number_remap_survives_filtered_output(spark, tmp_path):
    """The slice-local ordinal -> byte-offset rewrite keys on the EMITTED
    frame.number, not the row index: a display filter that drops rows
    from tshark's output must not desynchronize the mapping. Simulated
    by a cfilter the (mocked) pipe doesn't apply but Spark re-applies —
    plus a direct check that surviving rows carry exactly the offsets of
    the packets they describe."""
    from tests.pcap_fixtures import build_eth_ipv4_tcp, build_pcap

    p = tmp_path / "f.pcap"
    # alternate payload sizes so tcp.len identifies each packet uniquely
    frames = [
        (1700000000.0 + i, build_eth_ipv4_tcp(
            "10.0.0.1", "10.0.0.2", 1111, 80, 100 + i, 0, 0x18,
            b"q" * (10 + i)))
        for i in range(40)
    ]
    p.write_bytes(build_pcap(frames))
    pcap_mod.register(spark)
    df = (
        spark.read.format("pcap").option("engine", "tshark")
        .option("protocols", "tcp")
        .option("tshark_mock_engine", "native")
        .option("split_threshold", "200")
        .load(str(p))
        .filter("`tcp.len` >= 30")  # drops the first 20 packets
    )
    rows = df.collect()
    assert len(rows) == 20
    native_rows = {
        r["frame.number"]: r["tcp.len"]
        for r in spark.read.format("pcap").option("engine", "native")
        .option("protocols", "tcp").option("split_threshold", "200")
        .load(str(p)).collect()
    }
    for r in rows:
        # each surviving row's byte-offset id maps to the SAME packet in
        # the native split read — the mapping never slipped
        assert native_rows[r["frame.number"]] == r["tcp.len"]


def test_pcap_writer_filter_and_save_roundtrip(spark, tmp_path):
    """Filter-and-save: read a capture with raw bytes, keep one flow,
    write a NEW capture via df.write.format('pcap'), re-read it and get
    exactly that flow back — the sink workflow the reference cannot do."""
    from wireduck_spark.sources.native import stream_id
    from wireduck_spark.sources.pcap import read_pcap
    from wireduck_spark.sources.synth import session_capture

    cap = session_capture(str(tmp_path / "session.pcap"))
    full = read_pcap(spark, cap, protocols=["frame", "ip", "tcp"],
                     engine="native")
    target = stream_id("10.0.1.1", 40001, "10.0.2.1", 80)
    flow = full.filter(F.col("`tcp.stream`") == target)
    n_flow = flow.count()
    assert n_flow == 7  # handshake + data + retrans + resp + fin

    out_dir = str(tmp_path / "filtered_out")
    flow.select("`frame.time_epoch`", "`frame.raw`").write.format(
        "pcap").mode("overwrite").save(out_dir)

    files = [f for f in os.listdir(out_dir) if f.endswith(".pcap")]
    assert files, "expected at least one part file"
    reread = read_pcap(spark, f"{out_dir}/*.pcap",
                       protocols=["ip", "tcp"], engine="native")
    rows = reread.collect()
    assert len(rows) == n_flow
    assert {r["tcp.stream"] for r in rows} == {target}
    # payload content survives byte-for-byte
    payloads = sorted(
        r["tcp.payload"] for r in rows if r["tcp.payload"] is not None)
    assert payloads == sorted(
        [b"0123456789".hex(), b"0123456789".hex(),
         b"abcdefghijklmnopqrst".hex()])
    # timestamps survive to the microsecond
    ts = sorted(r["frame.time_epoch"] for r in rows)
    orig_ts = sorted(r["frame.time_epoch"]
                     for r in flow.select("`frame.time_epoch`").collect())
    assert ts == orig_ts


def test_pcap_writer_requires_raw_column(spark, tmp_path):
    from wireduck_spark.sources.pcap import read_pcap
    from wireduck_spark.sources.synth import session_capture

    cap = session_capture(str(tmp_path / "session2.pcap"))
    no_raw = read_pcap(spark, cap, protocols=["ip", "tcp"], engine="native")
    with pytest.raises(Exception, match="frame.raw"):
        no_raw.select("`frame.time_epoch`", "`ip.src`").write.format(
            "pcap").mode("append").save(str(tmp_path / "nope"))
