"""Filesystem seam: the capture split machinery must work unchanged
against a non-local filesystem (memory:// here; s3/hdfs/gcs in
production via fsspec or pyarrow.fs) — round-2 VERDICT #4."""

import pytest

from tests.pcap_fixtures import build_eth_ipv4_tcp, build_pcap, two_flow_pcap
from wireduck_spark.sources.fs import (
    LocalFilesystem,
    MemoryFilesystem,
    filesystem_for,
    path_scheme,
)
from wireduck_spark.sources.native import byte_range_partitions, iter_packets


@pytest.fixture(autouse=True)
def clean_memory_fs():
    MemoryFilesystem.clear()
    yield
    MemoryFilesystem.clear()


def test_scheme_routing(tmp_path):
    assert path_scheme("/a/b.pcap") == ""
    assert path_scheme("file:///a/b.pcap") == "file"
    assert path_scheme("memory://caps/x.pcap") == "memory"
    assert path_scheme("S3://bucket/k") == "s3"
    assert isinstance(filesystem_for("/a/b.pcap"), LocalFilesystem)
    assert isinstance(filesystem_for("memory://x"), MemoryFilesystem)
    # file:// prefix maps onto plain os paths
    p = tmp_path / "f.bin"
    p.write_bytes(b"abc")
    fs = filesystem_for(f"file://{p}")
    assert fs.size(f"file://{p}") == 3
    assert fs.exists(f"file://{p}")


def test_memory_fs_contract():
    MemoryFilesystem.put("memory://caps/a.bin", b"hello")
    fs = filesystem_for("memory://caps/a.bin")
    assert fs.exists("memory://caps/a.bin")
    assert fs.size("memory://caps/a.bin") == 5
    with fs.open("memory://caps/a.bin") as fh:
        fh.seek(1)
        assert fh.read(3) == b"ell"
    assert not fs.exists("memory://caps/missing")
    with pytest.raises(FileNotFoundError):
        fs.size("memory://caps/missing")


def test_capture_split_reads_through_memory_fs():
    """byte_range_partitions + iter_packets over memory:// slices must
    reproduce the whole-file read exactly — no os.path/open assumptions
    anywhere in the plan/resync/dissect path."""
    frames = [
        (1700000000.0 + i,
         build_eth_ipv4_tcp("10.9.0.1", "10.9.0.2", 4000 + i, 443,
                            i, 0, 0x18, b"x" * 50))
        for i in range(60)
    ]
    url = "memory://caps/sliced.pcap"
    MemoryFilesystem.put(url, build_pcap(frames))
    whole = list(iter_packets(url))
    assert [p["tcp.srcport"] for p in whole] == [4000 + i for i in range(60)]
    parts = byte_range_partitions(url, 5)
    assert len(parts) == 5
    sliced = [p for s, e in parts for p in iter_packets(url, s, e)]
    assert [p["tcp.srcport"] for p in sliced] == [
        p["tcp.srcport"] for p in whole
    ]


def test_pcap_reader_plans_memory_paths():
    """The batch reader's partition planning routes size/exists through
    the seam, so a remote-scheme path plans byte-range splits without a
    local file (driver reads zero capture bytes either way)."""
    from wireduck_spark.sources.pcap import PcapReader
    from wireduck_spark.sources.glossary import fetch_selected_fields
    from pyspark.sql.types import StructField, StructType
    from wireduck_spark.sources.typemap import map_ft_type

    url = "memory://caps/planned.pcap"
    MemoryFilesystem.put(url, two_flow_pcap())
    schema = StructType(
        [
            StructField(f.filter_name, map_ft_type(f.field_type), True)
            for f in fetch_selected_fields([])
        ]
    )
    reader = PcapReader(
        schema, {"path": url, "engine": "native", "split_threshold": "64"}
    )
    parts = reader.partitions()
    # a tiny threshold still forces ceil(size / threshold) range splits
    size = len(two_flow_pcap())
    assert len(parts) == -(-size // 64) > 1
    with pytest.raises(ValueError, match="split_threshold"):
        PcapReader(schema, {"path": url, "split_threshold": "0"})
    assert all(p.path == url for p in parts)
    # and the executor-side read path works against the same seam
    total = sum(
        b.num_rows for p in parts for b in reader.read(p)
    )
    assert total == 4


def test_spark_scratch_dir_is_process_private_and_reaps_dead_pids(tmp_path,
                                                                  monkeypatch):
    """Spark overwrite-writes race across processes on a shared path
    (round-7: two concurrent corpus runs clobbered service_catalog.parquet).
    The scratch root must therefore be keyed by live pid, and stale pid
    directories from dead processes must be reaped on first use."""
    import os
    import subprocess
    import sys

    from wireduck_spark.sources import glossary

    monkeypatch.setattr(glossary, "cache_dir", lambda: str(tmp_path))
    mine = glossary.spark_scratch_dir()
    assert mine.endswith(f"pid-{os.getpid()}")
    assert os.path.isdir(mine)

    # a second process resolves a DIFFERENT directory under the same root
    other = subprocess.run(
        [sys.executable, "-c",
         "import os, sys; sys.path.insert(0, os.getcwd());"
         f"os.environ['WIREDUCK_GLOSSARY_DIR'] = {str(tmp_path)!r};"
         "from wireduck_spark.sources.glossary import spark_scratch_dir;"
         "print(spark_scratch_dir())"],
        capture_output=True, text=True, cwd=os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))), check=True,
    ).stdout.strip()
    assert other != mine and "pid-" in other

    # that pid is now dead; its directory persists until the reap runs
    # on the next first-use in a live process
    assert os.path.isdir(other)
    import shutil
    shutil.rmtree(mine)  # force the "first use" branch again
    glossary.spark_scratch_dir()
    assert not os.path.exists(other)
