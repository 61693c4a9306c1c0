"""``ensure_package_shipped`` under concurrent first calls: the package
zip is written and registered with ``addPyFile`` exactly once per
SparkContext, however many request threads arrive together."""

from __future__ import annotations

import sys
import tempfile
import threading
import time

from cloudfloe_spark.sources import tables


class _FakeContext:
    def __init__(self):
        self.added = []
        self._lock = threading.Lock()

    def addPyFile(self, path):
        time.sleep(0.05)  # widen the window a second writer would race in
        with self._lock:
            self.added.append(path)


class _FakeSession:
    def __init__(self, sc):
        self.sparkContext = sc


def test_concurrent_first_calls_ship_once(tmp_path, monkeypatch):
    # a fresh registry and a private zip location: the real session of
    # this test process has shipped its own zip under the temp dir
    monkeypatch.setattr(tables, "_SHIPPED_CONTEXTS", set())
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    sc = _FakeContext()
    spark = _FakeSession(sc)
    start = threading.Barrier(4)
    errors = []

    def call():
        try:
            start.wait()
            tables.ensure_package_shipped(spark)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=call) for _ in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(sc.added) == 1
    # an already-shipped context is a no-op
    tables.ensure_package_shipped(spark)
    assert len(sc.added) == 1
