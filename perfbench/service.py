"""The ``service_mix`` workload: closed-loop HTTP clients in this process
against ``perfbench/server.py`` in its own. Before the timed loop comes
the ``iceberg_churn`` phase, on a table of its own, in which readers
check every answer for freshness while a writer commits beside the
service; it also warms the service up.

Set-up builds an Iceberg v2 table from the seeded ``orders`` table (20
appended snapshots plus one merge-on-read delete) and computes every
expected answer before the clock starts.
"""

from __future__ import annotations

import http.client
import json
import os
import queue
import random
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import common, datagen, oracle, trace

SERVICE_SF = 0.1
N_BATCHES = 20
ROW_LIMIT = 1000
SETUP_STARTS = 2
#: closed-loop clients of the timed loop: half the cores, so the
#: service's Spark tasks and JIT threads are not queued behind them
CLIENTS = 2
CHURN_READERS = 3
WARM_S = 2.0
CHURN_S = 5.0
CHURN_MAX_S = 30.0
CHURN_CYCLES = 40
WRITER_PERIOD_S = 1.0
COMPACT_EVERY = 1
REJECTS = [
    "SELECT 1 AS a; SELECT 2 AS b",
    "DROP TABLE orders",
    "COPY (SELECT 1) TO 'out.csv'",
    "ATTACH 'other.db' AS other",
]


@dataclass
class Request:
    kind: str
    sql: str
    expect: str  # key into the expected-answer map, or "400"


@dataclass
class Result:
    req: Request
    t0: float  # monotonic
    t1: float
    status: int
    rows: list | None


# -- the service process ------------------------------------------------------------


class ServerProc:
    """``perfbench/server.py`` in a child process; replies arrive on a
    queue, commit reports of the churn writer on a list."""

    def __init__(self, run_dir: str, seed: int) -> None:
        env = dict(os.environ, CLOUDFLOE_ENABLE_MAINTENANCE="1")  # the churn's compaction
        self.log_path = os.path.join(run_dir, f"server-{time.monotonic_ns()}.log")
        self._log = open(self.log_path, "w")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(common.BENCH_DIR, "server.py"),
             "--run-dir", run_dir, "--seed", str(seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, env=env, cwd=common.REPO_ROOT,
        )
        self.replies: queue.Queue = queue.Queue()
        self.commits: list[dict] = []
        self.writer_errors: list[dict] = []
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def wait_ready(self) -> None:
        """Block until the service answers ``/health``; ``ready_s`` is the
        time from spawn to that answer."""
        ready = self.expect("ready", timeout=170)
        self.port, self.jvm_pid, self.config = ready["port"], ready["jvm_pid"], ready["config"]
        status, _ = http_json(self.port, "GET", "/health")
        if status != 200:
            raise RuntimeError(f"server health check returned {status}")
        self.ready_s = time.perf_counter() - self.t_spawn

    def _read(self) -> None:
        for line in self.proc.stdout:
            if not line.startswith(common.PROTOCOL_PREFIX):
                continue
            msg = json.loads(line[len(common.PROTOCOL_PREFIX):])
            if msg["event"] == "commit":
                self.commits.append(msg)
            elif msg["event"] == "writer_error":
                self.writer_errors.append(msg)
            else:
                self.replies.put(msg)
        self.replies.put({"event": "exited"})

    def log_tail(self) -> str:
        with open(self.log_path) as f:
            return "".join(line for line in f if "WARN" not in line)[-4000:]

    def _failure(self, what: str) -> RuntimeError:
        return RuntimeError(f"{what}; server log ends:\n{self.log_tail()}")

    def expect(self, event: str, timeout: float = 120) -> dict:
        msg = self.replies.get(timeout=timeout)
        if msg["event"] != event:
            raise self._failure(f"server sent {msg} while waiting for {event}")
        return msg

    def call(self, cmd: str, reply: str, timeout: float = 300, **fields) -> dict:
        try:
            self.proc.stdin.write(json.dumps({"cmd": cmd, **fields}) + "\n")
            self.proc.stdin.flush()
        except BrokenPipeError:
            raise self._failure(f"server gone before {cmd}") from None
        return self.expect(reply, timeout)

    def peak_rss_mb(self) -> float:
        return common.vm_hwm_mb(self.proc.pid) + common.vm_hwm_mb(self.jvm_pid)

    def kill(self) -> None:
        """Stop at once: kill the JVM and the server, wait until both are gone."""
        jvm = getattr(self, "jvm_pid", None)
        for pid in (jvm, self.proc.pid):
            try:
                if pid is not None:
                    os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        self.proc.wait()
        deadline = time.monotonic() + 30
        while jvm and os.path.exists(f"/proc/{jvm}") and time.monotonic() < deadline:
            time.sleep(0.02)
        self._reader.join(timeout=10)
        self._log.close()

    def stop(self) -> None:
        try:
            if self.proc.poll() is None:
                self.call("stop", "bye", timeout=60)
            self.proc.wait(timeout=60)
        except (OSError, RuntimeError, queue.Empty, subprocess.TimeoutExpired):
            self.kill()
            return
        self._reader.join(timeout=10)
        self._log.close()


def start_server(run_dir: str, seed: int) -> tuple[ServerProc, list[float]]:
    """Cold-start ``SETUP_STARTS`` service processes at once, time each
    from spawn until it answers ``/health``, and keep the first; returns
    it with every start time."""
    servers = [ServerProc(run_dir, seed) for _ in range(SETUP_STARTS)]
    try:
        for srv in servers:
            srv.wait_ready()
    except BaseException:
        for srv in servers:
            srv.kill()
        raise
    for srv in servers[1:]:
        srv.stop()
    return servers[0], [srv.ready_s for srv in servers]


def http_json(port: int, method: str, path: str, body: dict | None = None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=300)
    try:
        data = json.dumps(body).encode() if body is not None else None
        conn.request(method, path, body=data, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def send(port: int, req: Request) -> Result:
    payload = {"sql": req.sql, "connection": {"storageType": "local"}, "rowLimit": ROW_LIMIT}
    t0 = time.monotonic()
    status, body = http_json(port, "POST", "/api/query", payload)
    t1 = time.monotonic()
    return Result(req, t0, t1, status, body.get("rows") if status == 200 else None)


# -- set-up: tables and expected answers ------------------------------------------------


class IcebergFixture:
    """The ``orders`` rows split into ``N_BATCHES`` files, one per
    snapshot, and the answers every snapshot must give. The layout is the
    same for every seed; the seed picks the point-lookup keys."""

    def __init__(self, run_dir: str, orders: pa.Table, seed: int) -> None:
        rng = random.Random("iceberg-layout")
        self.root = os.path.join(run_dir, "iceberg", "orders")
        self.churn_root = os.path.join(run_dir, "iceberg", "orders_churn")
        bdir = os.path.join(run_dir, "batches")
        os.makedirs(bdir)
        n = orders.num_rows
        cuts = sorted(rng.sample(range(1, n), N_BATCHES - 1))
        bounds = list(zip([0] + cuts, cuts + [n]))
        self.batches, self.paths = [], []
        for i, (lo, hi) in enumerate(bounds):
            self.batches.append(orders.slice(lo, hi - lo))
            self.paths.append(os.path.join(bdir, f"batch_{i:02d}.parquet"))
            pq.write_table(self.batches[-1], self.paths[-1])
        n_cust = int(pc.max(orders.column("o_custkey")).as_py()) + 1
        self.deleted = rng.sample(range(n_cust), 50)
        self.delete_sql = f"o_custkey IN ({', '.join(map(str, self.deleted))})"
        # state i: the first i+1 batches; state N_BATCHES: after the delete
        self.states = [pa.concat_tables(self.batches[: i + 1]) for i in range(N_BATCHES)]
        self.states.append(oracle.delete_rows(self.states[-1], "o_custkey", self.deleted))
        self.custkeys = random.Random(f"custkeys:{seed}").sample(range(n_cust), 8)

    def build(self, srv: ServerProc) -> None:
        """The read-only table of the timed loop (``snapshots``: one per
        state) and the ``iceberg_churn`` phase's table, the same batches
        without the delete (``churn_snapshots``)."""
        self.snapshots = srv.call(
            "build_table", "table", root=self.root, batches=self.paths,
            delete=self.delete_sql, ts0_ms=1_700_000_000_000,
        )["snapshots"]
        self.churn_snapshots = srv.call(
            "build_table", "table", root=self.churn_root, batches=self.paths,
            delete=None, ts0_ms=1_700_000_000_000,
        )["snapshots"]


class Bag:
    """Seeded draws that go through every value before repeating one, so
    any stretch of a request sequence holds nearly the same constants
    whatever the seed."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self._left: dict[tuple, list] = {}

    def draw(self, values):
        key = tuple(values)
        left = self._left.get(key)
        if not left:
            left = self._left[key] = list(key)
            self.rng.shuffle(left)
        return left.pop()


def demo_request(shape: int, orders: str, docs: str, bag: Bag) -> Request:
    """``/api/demo/queries`` shape ``shape`` (0-4) with seeded constants,
    made deterministic under LIMIT by a total ORDER BY."""
    if shape == 0:
        s = bag.draw("FOP")
        sql = ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate "
               f"FROM read_parquet('{orders}') WHERE o_orderstatus = '{s}' "
               "ORDER BY o_orderdate DESC, o_orderkey LIMIT 10")
    elif shape == 1:
        sql = f"SELECT COUNT(*) as total_orders FROM read_parquet('{orders}')"
    elif shape == 2:
        sql = ("SELECT o_orderpriority, COUNT(*) as order_count "
               f"FROM read_parquet('{orders}') "
               "GROUP BY o_orderpriority ORDER BY o_orderpriority DESC")
    elif shape == 3:
        t = bag.draw((400000, 420000, 440000, 460000))
        sql = ("SELECT o_orderkey, o_orderdate, o_totalprice "
               f"FROM read_parquet('{orders}') WHERE o_totalprice > {t} "
               "ORDER BY o_totalprice DESC, o_orderkey")
    else:
        lang = bag.draw(datagen._LANGS)
        sql = ("SELECT TRIM(word) as word, COUNT(*) as count FROM "
               "(SELECT UNNEST(string_split(text, ' ')) as word "
               f"FROM read_parquet('{docs}') WHERE lang = '{lang}') "
               "WHERE word <> '' GROUP BY word ORDER BY count DESC")
    return Request(f"demo{shape}", sql, sql)


def status_request(root: str, state: int) -> Request:
    return Request(
        "ice_current",
        "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total "
        f"FROM iceberg_scan('{root}') GROUP BY o_orderstatus",
        f"status:{state}",
    )


def iceberg_request(shape: int, root: str, snapshots: list[int], custkeys: list[int],
                    bag: Bag) -> Request:
    """Iceberg read shape ``shape`` (0-3) with seeded constants. Time
    travel goes to one of the five snapshots before the delete: they
    differ by one data file, so the seed's draws leave the cost of the
    requests the same (snapshot 0 reads one file, the last one twenty
    plus the deletes, and costs nearly three times as much)."""
    if shape == 0:
        return status_request(root, len(snapshots) - 1)
    if shape == 1:
        c = bag.draw(custkeys)
        return Request(
            "ice_point",
            "SELECT o_orderkey, o_totalprice, o_orderpriority "
            f"FROM iceberg_scan('{root}') WHERE o_custkey = {c}",
            f"point:{c}",
        )
    if shape == 2:
        i = bag.draw(range(len(snapshots) - 6, len(snapshots) - 1))
        return Request(
            "ice_version",
            "SELECT COUNT(*) AS n, SUM(o_totalprice) AS total "
            f"FROM iceberg_scan('{root}') VERSION AS OF {snapshots[i]}",
            f"total:{i}",
        )
    return Request(
        "ice_snapshots",
        f"SELECT snapshot_id FROM iceberg_snapshots('{root}') ORDER BY sequence_number",
        "snapshots",
    )


#: One deck of 20 requests: 1 policy reject, each demo shape twice, each
#: Iceberg shape twice and the current aggregate once more.
DECK = [("reject", 0)] + [("demo", k) for k in range(5)] * 2 + \
    [("iceberg", k) for k in range(4)] * 2 + [("iceberg", 0)]


def service_mix_requests(seed: int, client: int, n: int, orders: str, docs: str,
                         root: str, snapshots: list[int], custkeys: list[int]) -> list[Request]:
    """Client ``client``'s first ``n`` requests: ``DECK`` after deck, each
    in a seeded order with constants from seeded ``Bag`` draws, so every
    window of the loop sends nearly the same mix whatever the seed.
    Depends only on its arguments."""
    rng = random.Random(f"service_mix:{seed}:{client}")
    bag = Bag(rng)
    out: list[Request] = []
    while len(out) < n:
        deck = list(DECK)
        rng.shuffle(deck)
        for part, shape in deck:
            if part == "reject":
                out.append(Request("reject", bag.draw(REJECTS), "400"))
            elif part == "demo":
                out.append(demo_request(shape, orders, docs, bag))
            else:
                out.append(iceberg_request(shape, root, snapshots, custkeys, bag))
    return out[:n]


def check(res: Result, expected: dict) -> bool:
    """An expected reject must come back 400; everything else 200 with
    the expected rows."""
    if res.req.expect == "400":
        return res.status == 400
    return res.status == 200 and oracle.rows_match(res.rows, expected[res.req.expect])


# -- closed loop ----------------------------------------------------------------------


def closed_loop(port: int, sequences: list[list[Request]], seconds: float) -> list[Result]:
    """One thread per sequence; each sends its next request when the last
    one returned, until ``seconds`` have passed."""
    results: list[list[Result]] = [[] for _ in sequences]
    deadline = time.monotonic() + seconds
    errors: list[BaseException] = []

    def client(i: int) -> None:
        try:
            seq = sequences[i]
            j = 0
            while time.monotonic() < deadline:
                results[i].append(send(port, seq[j % len(seq)]))
                j += 1
        except BaseException as e:  # re-raised in the caller
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(len(sequences))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return [r for rs in results for r in rs]


def mix_p50_ms(results: list[Result], weights: dict[str, int]) -> float:
    """The median latency of each request kind, averaged with the kind's
    share of the mix as weight, in ms.

    The mix is bimodal (parquet requests take about half the time of
    Iceberg scans), so the median of the pooled latencies sits on the
    cliff between the two modes and jumps with the few requests that
    happen to straddle it; per-kind medians do not."""
    by_kind: dict[str, list[float]] = {}
    for r in results:
        by_kind.setdefault(r.req.kind, []).append(r.t1 - r.t0)
    kinds = [k for k in weights if k in by_kind]
    total = sum(weights[k] for k in kinds)
    return 1000 * sum(weights[k] * statistics.median(by_kind[k]) for k in kinds) / total


def read_metrics(results: list[Result], weights: dict[str, int]) -> dict:
    """Latency of the results (the mix-weighted median, the pooled tail)
    and results completed per second over the span from the first
    request sent to the last answer."""
    lat = common.latency_summary([r.t1 - r.t0 for r in results])
    lat["p50_ms"] = mix_p50_ms(results, weights)
    lat["throughput"] = len(results) / (max(r.t1 for r in results) - min(r.t0 for r in results))
    return lat


def trace_phases(srv: ServerProc, run_dir: str, seconds: float, run_loop,
                 one_client) -> tuple[dict, list[Result]]:
    """The traced run: the same loop untraced and traced in turn, three
    times (so warm-up drift falls on both), then one client with Spark job
    counting. Returns the per-layer metrics and every result."""
    slot = seconds / 6
    untraced: list[Result] = []
    traced: list[Result] = []
    for _ in range(3):
        untraced += run_loop(slot)
        srv.call("trace_on", "tracing", jobs=False)
        traced += run_loop(slot)
        srv.call("trace_off", "untraced")
    path = os.path.join(run_dir, "spans.json")
    srv.call("trace_dump", "dumped", path=path)
    with open(path) as f:
        rep = trace.layer_report(json.load(f))
    srv.call("trace_reset", "reset")
    srv.call("trace_on", "tracing", jobs=True)
    single = one_client(seconds / 4)
    srv.call("trace_dump", "dumped", path=path)
    with open(path) as f:
        rep_jobs = trace.layer_report(json.load(f))
    mean_u = statistics.fmean(r.t1 - r.t0 for r in untraced) * 1000
    mean_t = statistics.fmean(r.t1 - r.t0 for r in traced) * 1000
    out = {f"{k}_ms": v for k, v in rep["layer_ms"].items()}
    out["api.http_ms"] = mean_t - rep["handler_ms"]
    out.update(rep["counts"])
    out["spark.jobs"] = rep_jobs["jobs_per_request"]
    out["trace.untraced_latency_ms"] = mean_u
    out["trace.traced_latency_ms"] = mean_t
    out["trace.overhead_ms"] = mean_t - mean_u
    common.emit("trace report (mean ms per request, traced phase, "
                f"{rep['requests']} requests):")
    accounted = 0.0
    for name in trace.SERVICE_LAYERS + ["api.http"]:
        v = out[f"{name}_ms"]
        accounted += v
        common.emit(f"  {name:24s} {v:9.2f} ms  {100 * v / mean_t:5.1f}%")
    common.emit(f"  {'sum of layers':24s} {accounted:9.2f} ms  = traced latency {mean_t:.2f} ms")
    common.emit(f"  untraced latency {mean_u:.2f} ms; tracing overhead {mean_t - mean_u:.2f} ms")
    return out, untraced + traced + single


# -- the workload ---------------------------------------------------------------------


def expected_answers(fx: IcebergFixture, seqs: list[list[Request]]) -> dict[str, list]:
    """Every answer the request sequences can ask for: pyarrow over the
    Iceberg snapshots' files, DuckDB for the parquet requests."""
    import duckdb

    expected: dict[str, list] = {
        "snapshots": [[s] for s in fx.snapshots],
        f"status:{N_BATCHES}": oracle.status_answer(fx.states[N_BATCHES]),
    }
    con = duckdb.connect()
    try:
        for r in (r for seq in seqs for r in seq):
            if r.expect in expected or r.expect == "400":
                continue
            kind, _, arg = r.expect.partition(":")
            if kind == "status":
                expected[r.expect] = oracle.status_answer(fx.states[int(arg)])
            elif kind == "point":
                expected[r.expect] = oracle.point_answer(fx.states[-1], int(arg))
            elif kind == "total":
                expected[r.expect] = oracle.total_answer(fx.states[int(arg)])
            else:
                expected[r.expect] = oracle.duckdb_rows(con, r.sql, ROW_LIMIT)
    finally:
        con.close()
    return expected


def service_mix(rd: common.RunDir, seed: int, seconds: float, traced: bool) -> dict:
    """The ``iceberg_churn`` phase on its own table, then a closed loop of
    ``CLIENTS`` clients over the mix."""
    ph = common.Phases()
    paths = datagen.write_tables(rd.sub("data"), SERVICE_SF)
    orders, docs = paths["orders"], paths["documents"]
    fx = IcebergFixture(rd.path, pq.read_table(orders), seed)
    n_clients = min(CLIENTS, common.n_cpus())
    ph.mark("inputs")
    srv, starts = start_server(rd.path, seed)
    ph.mark("starts")
    try:
        common.check_config(srv.config)
        fx.build(srv)
        ph.mark("table")
        seqs = [
            service_mix_requests(seed, c, 400, orders, docs, fx.root, fx.snapshots, fx.custkeys)
            for c in range(n_clients)
        ]
        expected = expected_answers(fx, seqs)
        churn = Churn(rd, fx, seed, cycles=CHURN_CYCLES)
        weights: dict[str, int] = {}
        for r in (r for seq in seqs for r in seq):
            weights[r.kind] = weights.get(r.kind, 0) + 1
        ph.mark("expected")
        # warm-up: one request alone first, because concurrent first
        # requests on a fresh service race in ensure_package_shipped,
        # which rewrites the package zip Spark already registered, and
        # every later task fails on the changed file (see
        # perfbench/README.md); then the churn phase, every distinct
        # request shape once and the loop itself
        warm = [send(srv.port, status_request(fx.root, N_BATCHES))]
        ph.mark("warm")
        churned = churn_phase(srv, churn, seed, CHURN_READERS)
        ph.mark("churn")
        shapes = {r.kind: r for seq in seqs for r in seq}
        with ThreadPoolExecutor(CHURN_READERS + 1) as pool:
            warm += pool.map(lambda r: send(srv.port, r), shapes.values())
        warm += closed_loop(srv.port, seqs, WARM_S)
        ph.mark("warm")
        if traced:
            layers, timed = trace_phases(
                srv, rd.path, seconds, lambda s: closed_loop(srv.port, seqs, s),
                lambda s: closed_loop(srv.port, seqs[:1], s),
            )
        else:
            timed = closed_loop(srv.port, seqs, seconds)
        ph.mark("measure")
        rss = srv.peak_rss_mb()
    except Exception:
        print(f"server exit code {srv.proc.poll()}; log ends:\n{srv.log_tail()}",
              file=sys.stderr)
        raise
    finally:
        srv.stop()
    ph.mark("stop")
    churn.apply(srv.commits)
    bad = [r for r in warm + timed if not check(r, expected)]
    bad += [r for r in churned if not churn.check(r)]
    for r in bad[:5]:
        common.emit(f"FAILED {r.req.kind} status={r.status} sql={r.req.sql[:120]!r} "
                    f"rows={str(r.rows)[:300]}")
    failed = len(bad) + len(srv.writer_errors)
    commits = [c for c in srv.commits if c["op"] != "maintenance.compact"]
    out = {
        "config": srv.config, "setup_starts_s": starts,
        "attempted": len(warm) + len(timed) + len(churned) + len(srv.commits),
        "failed": failed, "peak_rss_mb": rss, "phases": ph.times,
        "writer_errors": srv.writer_errors, "commits": len(srv.commits),
        "commit_p50_ms": statistics.median(c["ms"] for c in commits) if commits else 0.0,
        "churn_read_p50_ms": statistics.median(r.t1 - r.t0 for r in churned) * 1000
        if churned else 0.0,
    }
    if traced:
        layers.update(write_layers(srv.commits, churn.root, churn.tables[-1].num_rows))
        layers["iceberg_churn.read_p50_ms"] = out["churn_read_p50_ms"]
        layers["peak_rss_mb"] = rss
        out["layers"] = layers
    else:
        out["reads"] = read_metrics(timed, weights)
    return out


# -- iceberg_churn -------------------------------------------------------------------


class Churn:
    """The writer's seeded commits and the expected answer of every state
    they produce; ``apply`` replays the writer's commit reports."""

    def __init__(self, rd: common.RunDir, fx: IcebergFixture, seed: int, cycles: int) -> None:
        rng = random.Random(f"iceberg_churn:{seed}")
        pend = rd.sub("pending")
        self.root = fx.churn_root
        # the churn table holds the first len(churn_snapshots) states
        base = fx.states[len(fx.churn_snapshots) - 1]
        next_key = int(pc.max(base.column("o_orderkey")).as_py()) + 1
        n_cust = int(pc.max(base.column("o_custkey")).as_py()) + 1
        self.appends, self.append_tables, self.delete_keys, self.deletes = [], [], [], []
        src = fx.batches[0]
        for i in range(cycles):
            rows = src.take(sorted(rng.sample(range(src.num_rows), 300)))
            keys = pa.array(range(next_key, next_key + rows.num_rows), pa.int64())
            next_key += rows.num_rows
            rows = rows.set_column(0, "o_orderkey", keys)
            path = os.path.join(pend, f"append_{i:04d}.parquet")
            pq.write_table(rows, path)
            self.appends.append(path)
            self.append_tables.append(rows)
            ks = rng.sample(range(n_cust), 3)
            self.delete_keys.append(ks)
            self.deletes.append(f"o_custkey IN ({', '.join(map(str, ks))})")
        self.timeline = oracle.Timeline()
        for sid in fx.churn_snapshots:
            self.timeline.add(sid, 0, float("-inf"), float("-inf"))
        self.tables = [base]
        self.answers = [oracle.total_answer(base)]
        # the pre-run snapshots answer time travel with their own states
        self.snapshot_answers = {
            sid: oracle.total_answer(st) for sid, st in zip(fx.churn_snapshots, fx.states)
        }

    def apply(self, commits: list[dict]) -> None:
        n_app = n_del = 0
        for c in commits:
            table = self.tables[-1]
            if c["op"] == "iceberg_fixture.append":
                table = pa.concat_tables([table, self.append_tables[n_app]])
                n_app += 1
            elif c["op"] == "maintenance.delete_where":
                table = oracle.delete_rows(table, "o_custkey", self.delete_keys[n_del])
                n_del += 1
            if c["snapshot_id"] is None:  # a delete that matched nothing
                continue
            if c["op"] != "maintenance.compact":
                self.tables.append(table)
                self.answers.append(oracle.total_answer(table))
            state = len(self.tables) - 1
            self.timeline.add(c["snapshot_id"], state, c["t_start"], c["t_end"])
            self.snapshot_answers[c["snapshot_id"]] = self.answers[state]

    def check(self, res: Result) -> bool:
        if res.status != 200:
            return False
        kind = res.req.kind
        if kind == "churn_current":
            return any(
                oracle.rows_match(res.rows, self.answers[s])
                for s in self.timeline.fresh_states(res.t0, res.t1)
            )
        if kind == "churn_snapshots":
            return self.timeline.listing_ok([int(r[0]) for r in res.rows], res.t0, res.t1)
        want = self.snapshot_answers.get(int(res.req.expect))
        return want is not None and oracle.rows_match(res.rows, want)


def churn_current(root: str) -> Request:
    return Request(
        "churn_current",
        f"SELECT COUNT(*) AS n, SUM(o_totalprice) AS total FROM iceberg_scan('{root}')",
        "fresh",
    )


def churn_reader(port: int, root: str, seed: int, client: int, keep_reading) -> list[Result]:
    """Closed loop of one reader: the current snapshot, or the snapshot
    listing followed by time travel to the previous snapshot."""
    rng = random.Random(f"iceberg_churn:{seed}:{client}")
    out = []
    while keep_reading():
        if rng.random() < 0.5:
            out.append(send(port, churn_current(root)))
            continue
        listing = send(port, Request(
            "churn_snapshots",
            f"SELECT snapshot_id FROM iceberg_snapshots('{root}') ORDER BY sequence_number",
            "listing",
        ))
        out.append(listing)
        if listing.status != 200 or len(listing.rows) < 2:
            continue
        prev = int(listing.rows[-2][0])
        out.append(send(port, Request(
            "churn_version",
            f"SELECT COUNT(*) AS n, SUM(o_totalprice) AS total "
            f"FROM iceberg_scan('{root}') VERSION AS OF {prev}",
            str(prev),
        )))
    return out


def churn_phase(srv: ServerProc, churn: Churn, seed: int, readers: int) -> list[Result]:
    """Readers while the writer commits beside the service, for
    ``CHURN_S`` seconds and until the writer has compacted once (at most
    ``CHURN_MAX_S`` seconds); returns the reads."""
    srv.call("writer_start", "writer_started", root=churn.root, appends=churn.appends,
             deletes=churn.deletes, compact_every=COMPACT_EVERY, period_s=WRITER_PERIOD_S)
    t0 = time.monotonic()

    def keep_reading() -> bool:
        now = time.monotonic()
        compacted = any(c["op"] == "maintenance.compact" for c in srv.commits)
        return now < t0 + CHURN_S or (
            not compacted and not srv.writer_errors and now < t0 + CHURN_MAX_S)

    with ThreadPoolExecutor(max(1, readers)) as pool:
        parts = list(pool.map(
            lambda i: churn_reader(srv.port, churn.root, seed, i, keep_reading),
            range(max(1, readers)),
        ))
    srv.call("writer_stop", "writer_stopped")
    return [r for part in parts for r in part]


def write_layers(commits: list[dict], root: str, live_rows: int) -> dict:
    out = {}
    for op in ("maintenance.delete_where", "iceberg_fixture.append", "maintenance.compact"):
        ms = [c["ms"] for c in commits if c["op"] == op]
        out[f"{op}_ms"] = statistics.median(ms) if ms else 0.0
    out["maintenance.files_rewritten"] = sum(
        c.get("files_rewritten", 0) for c in commits
    )
    size = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )
    out["storage.bytes_per_live_row"] = size / max(1, live_rows)
    return out
