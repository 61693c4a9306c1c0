"""The ``catalog_batch`` workload: one thread of this process runs
a fixed set of catalog operators, seed-shuffled in every pass, as
``fn(spark, sf_dir)`` then ``.collect()``; no service layer is involved.
The reported pass time is the sum of each operator's median run time,
so a run that ends part-way through a pass still counts every run.

Set-up hashes the rows of every operator's DuckDB twin (``oracle_sql``);
every operator run must match that hash.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import random
import statistics
import subprocess
import sys
import time

from perfbench import common, datagen

CATALOG_SF = 0.01
SETUP_HELPERS = 1
WARM_PASSES = 1
#: bench.py HEADLINE operators where the roadmap's open items land.
#: iceberg_v3_dv_scan is left out: its fixture path is fixed under /tmp.
OPERATORS = [
    "dedup_clusters_star", "graph_pagerank_iter", "graph_kcore_peel",
    "dedup_minhash_lsh_pairs", "sim_pq_adc_topk", "sim_ivf_ann_topk",
    "text_bm25_topk", "streaming_tumbling_counts", "q5_local_supplier_volume",
    "q1_pricing_summary",
]

COLD_START = (
    "import sys, time; t = time.perf_counter(); sys.path.insert(0, sys.argv[2]);"
    "from perfbench import common; import cloudfloe_spark.queries;"
    "s = common.start_spark(sys.argv[1]); s.range(1).count();"
    "print('@@ready', time.perf_counter() - t, flush=True); common.stop_spark(s)"
)


def _norm(v):
    """Cell normalization of the catalog's differential tests; numbers
    compare by value whatever type each engine gives them."""
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else round(f, 9) + 0.0
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def rows_hash(rows) -> str:
    canon = sorted((tuple(_norm(c) for c in r) for r in rows), key=repr)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def oracle_hash(duck, sql: str) -> tuple[list[str], str]:
    """The DuckDB twin's column names, sorted, and the hash of its rows
    with the columns in that order."""
    cur = duck.execute(sql)
    names = [d[0] for d in cur.description]
    cols = sorted(names)
    idx = [names.index(c) for c in cols]
    return cols, rows_hash([[r[i] for i in idx] for r in cur.fetchall()])


def matches(want: tuple[list[str], str], columns: list[str], rows) -> bool:
    cols, digest = want
    if sorted(columns) != cols:
        return False
    return rows_hash([[row[c] for c in cols] for row in rows]) == digest


def spawn_cold_start(run_dir: str) -> subprocess.Popen:
    """A fresh interpreter that imports the catalog, starts the session
    and runs its first job, then reports the seconds that took."""
    return subprocess.Popen(
        [sys.executable, "-c", COLD_START, run_dir, common.REPO_ROOT],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=common.REPO_ROOT,
    )


def cold_start_seconds(proc: subprocess.Popen) -> float:
    out, err = proc.communicate(timeout=170)
    for line in out.splitlines():
        if line.startswith("@@ready "):
            return float(line.split()[1])
    raise RuntimeError(f"cold start failed:\n{err[-3000:]}")


def oracle_hashes(paths: dict[str, str], cat) -> dict[str, tuple[list[str], str]]:
    """Every operator's expected rows, from its DuckDB twin."""
    import duckdb

    duck = duckdb.connect()
    try:
        for name in datagen.ALL_TABLES:
            duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{paths[name]}')")
        return {op: oracle_hash(duck, cat[op].oracle) for op in OPERATORS}
    finally:
        duck.close()


def expected_hashes(paths: dict[str, str], cat) -> dict[str, tuple[list[str], str]]:
    """``oracle_hashes``, computed once per checkout.

    The tables do not depend on ``--seed``, and the twins take DuckDB
    about 11 s on 4 cores, which must not run beside the warm-up pass
    (see ``catalog_batch``). So the hashes are kept under
    ``.perfbench_cache/`` in a file named by a digest of everything they
    depend on: DuckDB's version, the bytes of every table file, each
    twin's SQL and this module's normalization code."""
    import duckdb

    key = hashlib.sha256()
    parts = [duckdb.__version__.encode(), str(CATALOG_SF).encode()]
    parts += [cat[op].oracle.encode() for op in OPERATORS]
    for path in [paths[name] for name in datagen.ALL_TABLES] + [__file__]:
        with open(path, "rb") as f:
            parts.append(f.read())
    for part in parts:
        key.update(hashlib.sha256(part).digest())
    path = os.path.join(common.CACHE_DIR, f"catalog-oracle-{key.hexdigest()[:32]}.json")
    try:
        with open(path) as f:
            return {op: (cols, digest) for op, (cols, digest) in json.load(f).items()}
    except (OSError, ValueError):
        pass
    want = oracle_hashes(paths, cat)
    os.makedirs(common.CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(want, f)
    os.replace(tmp, path)  # a run beside this one reads all of it or none
    return want


def catalog_batch(rd: common.RunDir, seed: int, seconds: float, traced: bool) -> dict:
    """The DuckDB twins, then ``WARM_PASSES`` untimed passes over
    ``OPERATORS`` in a fresh session, then timed passes until ``seconds``
    have passed and every
    operator ran at least once; the last pass stops where the time ran
    out. Every operator run is built, collected and hash-matched against
    its DuckDB twin."""
    ph = common.Phases()
    paths = datagen.write_tables(rd.sub("data"), CATALOG_SF)
    sf_dir = os.path.dirname(paths["orders"])
    ph.mark("inputs")
    # set-up samples: this process's own start, with helpers starting
    # the same way at the same time
    helpers = [spawn_cold_start(rd.path) for _ in range(SETUP_HELPERS)]
    try:
        t0 = time.perf_counter()
        from cloudfloe_spark.queries import all_queries

        spark = common.start_spark(rd.path)
        spark.range(1).count()
        starts = [time.perf_counter() - t0] + [cold_start_seconds(p) for p in helpers]
    finally:
        for p in helpers:
            if p.poll() is None:
                p.kill()
                p.wait()
    ph.mark("starts")
    try:
        cfg = common.config_proof(spark, seed)
        common.check_config(cfg)
        cat = all_queries()
        scheduler = spark.sparkContext._jsc.sc().dagScheduler()
        rng = random.Random(f"catalog_batch:{seed}")
        build = {op: [] for op in OPERATORS}
        execute = {op: [] for op in OPERATORS}
        jobs = {op: [] for op in OPERATORS}
        results = []  # (op, columns, rows) of every run, checked at the end

        def run_op(op: str, timed: bool) -> None:
            j0 = int(scheduler.nextJobId()) if traced else 0
            b0 = time.perf_counter()
            df = cat[op].fn(spark, sf_dir)
            b1 = time.perf_counter()
            rows = df.collect()
            b2 = time.perf_counter()
            results.append((op, df.columns, rows))
            if timed:
                if traced:
                    jobs[op].append(int(scheduler.nextJobId()) - j0)
                build[op].append((b1 - b0) * 1000)
                execute[op].append((b2 - b1) * 1000)

        def shuffled() -> list[str]:
            order = list(OPERATORS)
            rng.shuffle(order)
            return order

        # Nothing runs beside the twins or the warm-up pass: the first timed
        # pass still runs on the JVM's warm-up curve (passes keep getting
        # faster for minutes), and how far background JIT compilation got
        # depends on the CPU it was left. With DuckDB on other cores during
        # the warm-up pass, timed passes spread by a quarter between runs.
        want = expected_hashes(paths, cat)
        ph.mark("oracle")
        for _ in range(WARM_PASSES):
            for op in shuffled():
                run_op(op, timed=False)
        ph.mark("warm")
        deadline = time.monotonic() + seconds
        t_measure = time.perf_counter()
        timed_runs = 0
        while timed_runs < len(OPERATORS) or time.monotonic() < deadline:
            for op in shuffled():
                if timed_runs >= len(OPERATORS) and time.monotonic() >= deadline:
                    break
                run_op(op, timed=True)
                timed_runs += 1
        t_measure = time.perf_counter() - t_measure
        ph.mark("measure")
        rss = common.vm_hwm_mb(os.getpid()) + common.vm_hwm_mb(common.jvm_pid(spark))
    finally:
        common.stop_spark(spark)
    ph.mark("stop")
    failed = sum(not matches(want[op], cols, rows) for op, cols, rows in results)
    run_ms = {op: [b + e for b, e in zip(build[op], execute[op])] for op in OPERATORS}
    out = {
        "config": cfg, "setup_starts_s": starts, "attempted": len(results),
        "failed": failed, "peak_rss_mb": rss, "phases": ph.times,
        "runs_per_op": {op: len(v) for op, v in run_ms.items()},
        "reads": {
            "n": timed_runs,
            "p50_ms": sum(statistics.median(v) for v in run_ms.values()),
            "tail_pct": 100,
            "tail_ms": sum(max(v) for v in run_ms.values()),
            "throughput": timed_runs / t_measure,
        },
    }
    if traced:
        layers = {"peak_rss_mb": rss}
        for op in OPERATORS:
            layers[f"queries.build_ms.{op}"] = statistics.median(build[op])
            layers[f"spark.execute_ms.{op}"] = statistics.median(execute[op])
            layers[f"spark.jobs.{op}"] = statistics.median(jobs[op])
        out["layers"] = layers
    return out
