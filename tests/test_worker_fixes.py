"""The fixes Spark's Python workers install when they import
``wireduck_spark``, besides the zip guard (tests/test_zip_guard.py): the
task command readers ACK the socket at once, and the import-time heap is
frozen out of the daemon's per-task ``gc.collect()``. The driver process
gets neither."""

import gc
import io
import json
import os
import socket
import subprocess
import sys

import pytest

import wireduck_spark
from wireduck_spark.sources.pcap import register

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
READERS = ("read_command", "read_udfs", "read_udtf")


def _fresh_state(main_spec=None):
    """``[readers wrapped, gc freeze count, unchanged by a second
    install]`` in a fresh process that imports ``pyspark.worker`` (as the
    daemon does before it forks) and then ``wireduck_spark`` with
    ``__main__.__spec__`` named ``main_spec``."""
    code = (
        "import gc, importlib.machinery, json, sys\n"
        f"if {main_spec!r}:\n"
        "    sys.modules['__main__'].__spec__ = "
        f"importlib.machinery.ModuleSpec({main_spec!r}, None)\n"
        "import pyspark.worker as w\n"
        "import wireduck_spark\n"
        f"names = {READERS!r}\n"
        "state = lambda: ([getattr(w, n) for n in names], "
        "gc.get_freeze_count())\n"
        "before = state()\n"
        "wrapped = [getattr(r, '_acks', False) for r in before[0]]\n"
        "if all(wrapped):\n"
        "    wireduck_spark._install_worker_fixes()\n"
        "print(json.dumps([wrapped, before[1], state() == before]))\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True, timeout=120)
    return json.loads(out.stdout)


def test_worker_installs_fixes_and_driver_does_not():
    wrapped, frozen, unchanged = _fresh_state("pyspark.daemon")
    assert wrapped == [True, True, True] and frozen > 0
    assert unchanged  # a second install is a no-op
    assert _fresh_state() == [[False, False, False], 0, True]
    import pyspark.worker

    assert not any(getattr(getattr(pyspark.worker, n), "_acks", False)
                   for n in READERS)
    assert gc.get_freeze_count() == 0


def _open_fds():
    return len(os.listdir("/proc/self/fd"))


@pytest.fixture
def setsockopt_calls(monkeypatch):
    calls = []
    real = socket.socket.setsockopt

    def spy(self, *args):
        calls.append(args)
        return real(self, *args)

    monkeypatch.setattr(socket.socket, "setsockopt", spy)
    return calls


@pytest.fixture
def tcp_file():
    with socket.create_server(("127.0.0.1", 0)) as server:
        client = socket.create_connection(server.getsockname())
        peer, _ = server.accept()
        with client, peer, peer.makefile("rb") as infile:
            yield infile


@pytest.mark.skipif(not hasattr(socket, "TCP_QUICKACK"),
                    reason="no TCP_QUICKACK on this platform")
def test_quickack_sets_the_option_on_a_tcp_socket(tcp_file, setsockopt_calls):
    n = _open_fds()
    wireduck_spark._quickack(tcp_file)
    assert setsockopt_calls == [(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)]
    assert _open_fds() == n


def test_quickack_is_silent_on_a_unix_socket():
    a, b = socket.socketpair()
    with a, b, a.makefile("rb") as infile:
        n = _open_fds()
        wireduck_spark._quickack(infile)
        assert _open_fds() == n


def test_quickack_is_silent_on_a_pipe():
    r, w = os.pipe()
    with os.fdopen(r, "rb") as infile, os.fdopen(w, "wb"):
        n = _open_fds()
        wireduck_spark._quickack(infile)
        assert _open_fds() == n
    wireduck_spark._quickack(io.BytesIO())  # no fd at all


def test_quickack_is_silent_without_the_constant(tcp_file, setsockopt_calls,
                                                 monkeypatch):
    monkeypatch.delattr(socket, "TCP_QUICKACK", raising=False)
    wireduck_spark._quickack(tcp_file)
    assert setsockopt_calls == []


def test_wrapper_passes_result_args_and_exceptions_through():
    seen = []
    result = object()

    def read(pickle_ser, infile, *args):
        seen.append((pickle_ser, infile, args))
        return result

    wrapped = wireduck_spark._ack_after(read)
    assert wrapped._acks and wrapped.__name__ == "read"
    assert wrapped("ser", io.BytesIO(), 7) is result
    assert seen[0][0] == "ser" and seen[0][2] == (7,)

    boom = RuntimeError("bad command")

    def fails(pickle_ser, infile):
        raise boom

    with pytest.raises(RuntimeError) as err:
        wireduck_spark._ack_after(fails)("ser", io.BytesIO())
    assert err.value is boom


def test_worker_tasks_see_acking_readers_and_a_frozen_heap(spark):
    """From inside Spark's Python workers: the command readers are
    wrapped, the import-time heap is frozen, and the daemon's per-task
    ``gc.collect()`` walks fewer objects than were frozen."""

    def probe(_):
        import gc
        import os

        import pyspark.worker

        import wireduck_spark  # noqa: F401  (installs the fixes)

        yield (os.getpid(),
               all(getattr(getattr(pyspark.worker, n), "_acks", False)
                   for n in ("read_command", "read_udfs", "read_udtf")),
               gc.get_freeze_count(), len(gc.get_objects()))

    register(spark)
    rows = (spark.sparkContext.parallelize(range(8), 8)
            .mapPartitions(probe).collect())
    assert len(rows) == 8
    assert all(wrapped for _, wrapped, _, _ in rows)
    assert all(tracked < frozen for _, _, frozen, tracked in rows), rows
