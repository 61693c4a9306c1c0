"""Benchmark entry point.

    python3 perfbench/run.py --workload {service_mix,catalog_batch}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds its own inputs from ``--seed``
under a run-scoped directory in the checkout, measures for ``--seconds``,
checks every answer and prints human-readable lines followed by one JSON
result line: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a separate traced run (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import os
import signal
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("service_mix", "catalog_batch")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    from perfbench import catalog, trace

    names = [(f"{n}_ms", "ms") for n in trace.SERVICE_LAYERS]
    names += [("api.http_ms", "ms")]
    names += [(n, "count") for n in trace.COUNTER_NAMES]
    names += [("spark.jobs", "count")]
    names += [(f"trace.{n}_ms", "ms") for n in
              ("untraced_latency", "traced_latency", "overhead")]
    names += [(f"{op}_ms", "ms") for op in
              ("maintenance.delete_where", "iceberg_fixture.append", "maintenance.compact")]
    names += [("maintenance.files_rewritten", "count"), ("storage.bytes_per_live_row", "B/row"),
              ("iceberg_churn.read_p50_ms", "ms"), ("peak_rss_mb", "MB")]
    for op in catalog.OPERATORS:
        names += [(f"queries.build_ms.{op}", "ms"), (f"spark.execute_ms.{op}", "ms"),
                  (f"spark.jobs.{op}", "count")]
    return names


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one string-hash order in this process and every one it starts,
        # so set and dict iteration in the program is the same in every run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:])
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(common.REPO_ROOT, "cloudfloe_spark")):
        sys.exit("perfbench: no cloudfloe_spark package beside perfbench/; "
                 "run from the root of a full checkout")

    from perfbench import catalog, service

    run = {"service_mix": service.service_mix,
           "catalog_batch": catalog.catalog_batch}[args.workload]
    with common.RunDir() as rd:
        out = run(rd, args.seed, args.seconds, bool(args.trace))

    common.emit("config " + " ".join(f"{k}={v}" for k, v in out["config"].items()))
    common.emit("setup starts (s): " + " ".join(f"{s:.3f}" for s in out["setup_starts_s"]))
    if "phases" in out:
        common.emit("phases (s): " + " ".join(f"{k}={v:.2f}" for k, v in out["phases"].items()))
    error_rate = out["failed"] / out["attempted"]
    common.emit(f"operations attempted={out['attempted']} failed={out['failed']} "
                f"error_rate={error_rate:.4f}")
    common.emit(f"peak_rss_mb={out['peak_rss_mb']:.1f}")
    if "commit_p50_ms" in out:
        common.emit(f"iceberg_churn: commits={out['commits']} "
                    f"commit_p50_ms={out['commit_p50_ms']:.1f} "
                    f"read_p50_ms={out['churn_read_p50_ms']:.1f} "
                    f"writer_errors={out['writer_errors']}")
    if "runs_per_op" in out:
        common.emit("timed runs per operator " + " ".join(
            f"{op}={n}" for op, n in out["runs_per_op"].items()))
    if args.trace:
        layers = out["layers"]
        metrics = {name: (float(layers.get(name, 0.0)), unit) for name, unit in per_layer_names()}
    else:
        reads = out["reads"]
        common.emit(f"samples={reads['n']} tail percentile=p{reads['tail_pct']}")
        metrics = {
            "setup_s": (statistics.median(out["setup_starts_s"]), "s"),
            "p50_ms": (reads["p50_ms"], "ms"),
            "tail_ms": (reads["tail_ms"], "ms"),
            "throughput": (reads["throughput"], "1/s"),
        }
    for name, (value, unit) in metrics.items():
        common.emit(f"{name} {value:.4f} {unit}")
    common.emit(common.result_line(out["failed"] == 0, out["attempted"], out["failed"], metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
