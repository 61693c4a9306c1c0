"""In-memory spans around calls into the library's modules.

The benchmark wraps public functions of the library from the outside
(module attributes and every other ``cloudfloe_spark`` module that
imported the same function by name), so the library itself carries no
tracing code. A span records its name, start, end, parent span and the
request it belongs to; a request starts at ``Handlers.query``. Counters
(metadata listings, metadata loads, manifest reads) attach to the
current request. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import importlib
import json
import sys
import threading
import time

#: (module, attribute, span name); "Cls.method" patches a class attribute.
SERVICE_SPANS = [
    ("cloudfloe_spark.service.api", "Handlers.query", "api.handler"),
    ("cloudfloe_spark.service.engine", "run_query", "engine.other"),
    ("cloudfloe_spark.service.engine", "request_session", "engine.session"),
    ("cloudfloe_spark.service.validation", "validate_statement_shape", "validation.shape"),
    ("cloudfloe_spark.service.validation", "validate_and_limit_sql", "validation.limit"),
    ("cloudfloe_spark.service.validation", "assert_plan_is_query", "validation.plan_guard"),
    ("cloudfloe_spark.service.convert", "convert_scan_functions", "convert.rewrite"),
    ("cloudfloe_spark.service.convert", "transpile_duckdb", "convert.rewrite"),
    ("cloudfloe_spark.service.file_reads", "resolve_file_reads", "file_reads.resolve"),
    ("cloudfloe_spark.service.iceberg_local", "resolve_iceberg_reads", "iceberg_local.resolve"),
    ("cloudfloe_spark.service.iceberg_local", "resolve_incremental_reads", "iceberg_local.resolve"),
    ("pyspark.sql.session", "SparkSession.sql", "spark.sql"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark.collect"),
]
SERVICE_COUNTERS = [
    ("cloudfloe_spark.sources.iceberg_meta", "latest_metadata_path", "iceberg_meta.listings"),
    ("cloudfloe_spark.sources.iceberg_meta", "load_metadata", "iceberg_meta.metadata_loads"),
    ("cloudfloe_spark.sources.avrolite", "read_avro", "iceberg_meta.manifest_reads"),
]
REQUEST_SPAN = "api.handler"
SERVICE_LAYERS = sorted({name for _, _, name in SERVICE_SPANS})
COUNTER_NAMES = [name for _, _, name in SERVICE_COUNTERS]


class Tracer:
    def __init__(self, job_probe=None) -> None:
        self.spans: list[list] = []  # [id, name, start, end, parent, request]
        self.counts: dict[tuple[int, str], int] = {}
        self.jobs: dict[int, int] = {}  # request -> Spark jobs it started
        self.track_jobs = False
        self._job_probe = job_probe
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_request = 0
        self._originals: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, new_request: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            if new_request:
                req = self._next_request
                self._next_request += 1
            else:
                req = parent[5] if parent else None
            span = [sid, name, 0.0, 0.0, parent[0] if parent else None, req]
            self.spans.append(span)
        jobs0 = self._job_probe() if new_request and self.track_jobs else None
        stack.append(span)
        span[2] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span[3] = time.perf_counter()
            stack.pop()
            if jobs0 is not None:
                self.jobs[req] = self._job_probe() - jobs0

    def reset(self) -> None:
        with self._lock:
            self.spans, self.counts, self.jobs = [], {}, {}

    def count(self, name: str) -> None:
        stack = self._stack()
        req = stack[-1][5] if stack else None
        if req is None:
            return
        with self._lock:
            self.counts[(req, name)] = self.counts.get((req, name), 0) + 1

    # -- patching ------------------------------------------------------------
    def _wrap_span(self, fn, name: str):
        new_request = name == REQUEST_SPAN

        def traced(*args, **kwargs):
            return self.call(name, fn, args, kwargs, new_request)

        traced.__wrapped__ = fn
        return traced

    def _wrap_count(self, fn, name: str):
        def counted(*args, **kwargs):
            self.count(name)
            return fn(*args, **kwargs)

        counted.__wrapped__ = fn
        return counted

    def _patch(self, module: str, attr: str, make) -> None:
        mod = importlib.import_module(module)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            orig = cls.__dict__[meth]
            self._originals.append((cls, meth, orig))
            setattr(cls, meth, make(orig))
            return
        orig = getattr(mod, attr)
        wrapped = make(orig)
        for m in list(sys.modules.values()):
            name = getattr(m, "__name__", "") or ""
            if (m is mod or name.startswith("cloudfloe_spark")) and getattr(
                m, attr, None
            ) is orig:
                self._originals.append((m, attr, orig))
                setattr(m, attr, wrapped)

    def install(self, spans=SERVICE_SPANS, counters=SERVICE_COUNTERS) -> None:
        if self._originals:
            return  # already installed
        for module, attr, name in spans:
            self._patch(module, attr, lambda f, n=name: self._wrap_span(f, n))
        for module, attr, name in counters:
            self._patch(module, attr, lambda f, n=name: self._wrap_count(f, n))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()

    def dump(self, path: str) -> None:
        with self._lock:
            data = {
                "spans": self.spans,
                "counts": [[r, n, c] for (r, n), c in self.counts.items()],
                "jobs": self.jobs,
            }
        with open(path, "w") as f:
            json.dump(data, f)


# -- analysis (client side) ---------------------------------------------------


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: list[list]) -> list[tuple[str, int | None, float]]:
    """``(name, request, self seconds)`` per span: its duration minus the
    part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sid, _name, s, e, parent, _req in spans:
        if parent is not None:
            children.setdefault(parent, []).append((s, e))
    return [
        (name, req, (e - s) - _covered(children.get(sid, [])))
        for sid, name, s, e, _parent, req in spans
    ]


def layer_report(data: dict) -> dict:
    """Per request: mean self milliseconds of each service layer, mean
    counter values, mean handler milliseconds, and Spark jobs per request
    where they were tracked."""
    spans = data["spans"]
    requests = {req for _sid, name, _s, _e, _p, req in spans if name == REQUEST_SPAN}
    n = max(1, len(requests))
    layer_ms = {name: 0.0 for name in SERVICE_LAYERS}
    for name, req, self_s in self_times(spans):
        if req in requests and name in layer_ms:
            layer_ms[name] += self_s * 1000
    counts = {name: 0 for name in COUNTER_NAMES}
    for req, name, c in data["counts"]:
        if req in requests:
            counts[name] += c
    handler_ms = sum(
        (e - s) * 1000 for _sid, name, s, e, _p, _req in spans if name == REQUEST_SPAN
    )
    jobs = list(data["jobs"].values())
    return {
        "requests": len(requests),
        "layer_ms": {k: v / n for k, v in layer_ms.items()},
        "counts": {k: v / n for k, v in counts.items()},
        "handler_ms": handler_ms / n,
        "jobs_per_request": sum(jobs) / len(jobs) if jobs else 0.0,
    }

