"""Service process of the ``service_mix`` workload.

Runs ``cloudfloe_spark.service.api.make_server`` over one SparkSession
from the library's ``get_spark``, as the service's own entry point
(``api.main``) does, at ``local[nproc]``, and takes JSON commands
on stdin from the benchmark; replies are stdout lines that start with
``common.PROTOCOL_PREFIX``. Besides serving, it builds the benchmark's
Iceberg table, runs the ``iceberg_churn`` writer (``delete_where`` needs
this process's Spark session) and, on request, installs the tracer.

    python3 perfbench/server.py --run-dir DIR --seed N
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

_out_lock = threading.Lock()


def reply(event: str, **fields) -> None:
    with _out_lock:
        print(common.PROTOCOL_PREFIX + json.dumps({"event": event, **fields}), flush=True)


def duckdb_cursor_per_call() -> None:
    """Give every ``duckdb.execute`` call a cursor of its own.

    ``sources.partition_pruning.extract_scan_conjuncts`` parses SQL with
    ``duckdb.execute``, i.e. on DuckDB's module-level default connection,
    which is not thread-safe. The service calls it from concurrent request
    threads, and the service process then died inside DuckDB (segfault or
    general protection fault in the kernel log) in 4 of about 60 runs,
    taking every request in flight with it. Until the library
    parses on a connection of its own, the benchmark's service process
    routes those calls through cursors (see perfbench/README.md)."""
    import duckdb

    base = duckdb.connect()
    lock = threading.Lock()

    def execute(query, *args, **kwargs):
        with lock:
            cur = base.cursor()
        return cur.execute(query, *args, **kwargs)

    duckdb.execute = execute


def build_table(spark, root: str, batches: list[str], delete: str | None, ts0_ms: int) -> dict:
    """One Iceberg v2 snapshot per batch file, then, unless ``delete`` is
    None, one merge-on-read delete; returns the snapshot ids in commit
    order."""
    import pyarrow.parquet as pq

    from cloudfloe_spark.sources.iceberg_fixture import LocalIcebergTable
    from cloudfloe_spark.sources.maintenance import delete_where

    t0 = time.perf_counter()
    tables = [pq.read_table(p) for p in batches]
    table = LocalIcebergTable(root, tables[0].schema)
    ids = [
        table.append_snapshot([t], timestamp_ms=ts0_ms + i * 1000)
        for i, t in enumerate(tables)
    ]
    if delete is not None:
        res = delete_where(spark, root, delete, timestamp_ms=ts0_ms + len(ids) * 1000)
        ids.append(res["snapshot_id"])
    return {"snapshots": ids, "build_s": time.perf_counter() - t0}


class Writer(threading.Thread):
    """The ``iceberg_churn`` writer: one cycle every ``period_s`` (or
    back to back when a cycle overruns), each an append, a merge-on-read
    delete and, every ``compact_every`` cycles, a compaction through the
    service's own ``POST /api/maintenance/compact``. Every commit is
    reported with its start and end on the monotonic clock, which the
    benchmark process shares."""

    def __init__(self, spark, root: str, appends: list[str], deletes: list[str],
                 compact_every: int, period_s: float, port: int) -> None:
        super().__init__(daemon=True)
        self.spark, self.root = spark, root
        self.appends, self.deletes = appends, deletes
        self.compact_every, self.period_s, self.port = compact_every, period_s, port
        self.stop_event = threading.Event()
        self._ts = int(time.time() * 1000)

    def _timestamp(self) -> int:
        self._ts = max(self._ts + 1, int(time.time() * 1000))
        return self._ts

    def _commit(self, op: str, fn) -> None:
        t0 = time.monotonic()
        out = fn()
        t1 = time.monotonic()
        reply("commit", op=op, t_start=t0, t_end=t1, ms=(t1 - t0) * 1000, **out)

    def _append(self, path: str) -> dict:
        import pyarrow.parquet as pq

        from cloudfloe_spark.sources.iceberg_fixture import commit_row_delta_snapshot

        n = pq.ParquetFile(path).metadata.num_rows
        sid = commit_row_delta_snapshot(
            self.root, new_data_files=[(path, n)], timestamp_ms=self._timestamp()
        )
        return {"snapshot_id": sid}

    def _delete(self, cond: str) -> dict:
        from cloudfloe_spark.sources.maintenance import delete_where

        res = delete_where(self.spark, self.root, cond, timestamp_ms=self._timestamp())
        return {"snapshot_id": res["snapshot_id"]}

    def _compact(self) -> dict:
        body = json.dumps({
            "connection": {"storageType": "local", "tablePath": self.root},
        }).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{self.port}/api/maintenance/compact", data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            out = json.loads(resp.read())
        return {"snapshot_id": int(out["snapshotId"]), "files_rewritten": out["filesBefore"]}

    def run(self) -> None:
        start = time.monotonic()
        try:
            for i, (path, cond) in enumerate(zip(self.appends, self.deletes)):
                if self.stop_event.wait(max(0.0, start + i * self.period_s - time.monotonic())):
                    return
                for op, fn in (
                    ("iceberg_fixture.append", lambda: self._append(path)),
                    ("maintenance.delete_where", lambda: self._delete(cond)),
                ):
                    if self.stop_event.is_set():
                        return
                    self._commit(op, fn)
                if (i + 1) % self.compact_every == 0 and not self.stop_event.is_set():
                    self._commit("maintenance.compact", self._compact)
        except Exception as e:  # the boundary: report, the benchmark fails the run
            reply("writer_error", error=f"{type(e).__name__}: {e}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()

    from cloudfloe_spark.service.api import make_server

    duckdb_cursor_per_call()
    spark = common.start_spark(args.run_dir)
    httpd = make_server(spark, "127.0.0.1", 0)
    server_thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    server_thread.start()
    port = httpd.server_address[1]
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    tracer = Tracer(job_probe=lambda: int(scheduler.nextJobId()))
    reply(
        "ready", port=port, pid=os.getpid(), jvm_pid=common.jvm_pid(spark),
        config=common.config_proof(spark, args.seed),
    )
    writer = None
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd.pop("cmd")
        if op == "build_table":
            reply("table", **build_table(spark, **cmd))
        elif op == "trace_on":
            tracer.install()
            tracer.track_jobs = bool(cmd.get("jobs"))
            reply("tracing")
        elif op == "trace_off":
            tracer.uninstall()
            reply("untraced")
        elif op == "trace_reset":
            tracer.reset()
            reply("reset")
        elif op == "trace_dump":
            tracer.dump(cmd["path"])
            reply("dumped")
        elif op == "writer_start":
            writer = Writer(spark, port=port, **cmd)
            writer.start()
            reply("writer_started")
        elif op == "writer_stop":
            if writer is not None:
                writer.stop_event.set()
                writer.join()
            reply("writer_stopped")
        elif op == "stop":
            break
    httpd.shutdown()
    httpd.server_close()
    server_thread.join()
    common.stop_spark(spark)
    reply("bye")


if __name__ == "__main__":
    main()
