"""The reference README's worked examples, run 1:1 against this engine
(/root/reference/README.md — the exact queries a migrating user pastes
first). Each test cites the README line it mirrors and asserts the
values the reference prints, minus documented deviations (the native
dissector doesn't implement tshark's FIX application-layer dissector,
so `frame.protocols` is the tshark path's transport-level prefix)."""

from __future__ import annotations

import os

import pytest

from wireduck_spark.sources.glossary import DEFAULT_FIELDS
from wireduck_spark.sources.pcap import read_pcap

FIXTURE = "/root/reference/fix.pcap"
needs_fixture = pytest.mark.skipif(not os.path.exists(FIXTURE),
                                   reason="fixture not present")


@needs_fixture
def test_default_scan_readme_l45(spark):
    """README.md:45 — `select * from read_pcap('fix.pcap') limit 10`:
    5 default columns in the reference's order; the printed
    frame.len sequence for packets 1-10 is asserted verbatim."""
    df = read_pcap(spark, FIXTURE, engine="native")
    # README column order: time_epoch, number, len, protocols, info
    assert df.columns == ["frame.time_epoch", "frame.number",
                          "frame.len", "frame.protocols", "_ws.col.info"]
    assert set(df.columns) == set(DEFAULT_FIELDS)
    rows = df.orderBy("`frame.number`").limit(10).collect()
    assert [r["frame.len"] for r in rows] == [
        74, 74, 66, 166, 66, 166, 66, 147, 147, 66]
    # tshark shows eth:ethertype:ip:tcp(:fix); native = the transport
    # prefix of that path (FIX is an application dissector we don't ship)
    for r in rows:
        assert r["frame.protocols"].startswith("eth:ethertype:ip:tcp")
    # the SYN handshake info strings carry the same ports
    assert "53867" in rows[0]["_ws.col.info"]
    assert "11001" in rows[0]["_ws.col.info"]


@needs_fixture
def test_climit_readme_l67(spark):
    """README.md:67 — `read_pcap('fix.pcap', climit:=4)`: exactly 4
    packets scanned."""
    df = read_pcap(spark, FIXTURE, engine="native", climit=4)
    assert df.count() == 4


@needs_fixture
def test_protocols_schema_readme_l100(spark):
    """README.md:100/116 — `read_pcap('fix.pcap', protocols:=['udp'],
    climit:=4)`: the schema widens to the udp glossary columns (the
    reference gets 32 via tshark's full field table; the builtin
    glossary ships the dissector-backed subset — same deduction rule,
    README 'schema system' section)."""
    df = read_pcap(spark, FIXTURE, engine="native", protocols=["udp"],
                   climit=4)
    udp_cols = [c for c in df.columns if c.startswith("udp.")]
    assert {"udp.srcport", "udp.dstport", "udp.length",
            "udp.checksum"} <= set(udp_cols)
    assert df.count() == 4


@needs_fixture
def test_flagship_aggregate_readme_l160(spark):
    """README.md:160 — the flagship group-by: count + sum(tcp.len) per
    (srcport, dstport); the reference prints (429, 259678) and
    (56, 19702) for the two directions."""
    from pyspark.sql import functions as F

    t = read_pcap(spark, FIXTURE, engine="native",
                  protocols=["ip", "tcp"])
    got = {
        (r["srcport"], r["dstport"]): (r["n"], r["s"])
        for r in t.groupBy(
            F.col("`tcp.srcport`").alias("srcport"),
            F.col("`tcp.dstport`").alias("dstport"),
        ).agg(
            F.count("*").alias("n"),
            F.sum("`tcp.len`").cast("bigint").alias("s"),
        ).collect()
    }
    assert got[(11001, 53867)] == (429, 259678)
    assert got[(53867, 11001)] == (56, 19702)


def test_glossary_tables_readme_l84(spark):
    """README.md:84-85 — glossary_protocols / glossary_fields exist as
    queryable tables with the documented shape."""
    from wireduck_spark.sources.glossary import initialize_glossary

    initialize_glossary(spark)
    protos = spark.sql("SELECT * FROM glossary_protocols")
    fields = spark.sql("SELECT * FROM glossary_fields")
    assert {"full_name", "short_name", "filter_name"} <= set(protos.columns)
    assert protos.count() >= 15
    assert fields.filter("protocol_filter_name = 'udp'").count() >= 4
