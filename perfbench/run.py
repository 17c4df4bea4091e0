"""Benchmark entry point.

    python3 perfbench/run.py --workload offline_extract --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Sets up the named workload, warms it,
measures it for ``--seconds`` (the Spark workloads: the fixed number of
jobs or request cycles that takes about that long) and checks every
output. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it holds the
run's context: seed, held-out seed, pinned environment, CPU steal,
load, sample counts and ``failed_frac``.

With ``--trace 1`` the window is split: the first half runs untraced,
the second with spans around every layer call; the per-layer figures
come from the second half and the slowdown of the second half's mean
request latency against the first is ``trace.overhead_frac``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import fmean

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ["offline_extract", "prototype_jobs", "remote_http"]

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "request_p50_s": "s",
    "request_p90_s": "s",
    "peak_rss_mb": "MiB",
}

# Layers a workload does not reach report 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "ingest.prepare_s": "s",
    "transform.plan_s": "s",
    "unpack.plan_s": "s",
    "jobs.submit_s": "s",
    "jobs.await_s": "s",
    "jobs.list_s": "s",
    "jobs.spark_jobs_per_request": "count",
    "jobs.spark_stages_per_request": "count",
    "jobs.tasks_per_request": "count",
    "results.cache_write_s": "s",
    "results.cache_read_s": "s",
    "results.fetch_s": "s",
    "results.collect_s": "s",
    "results.cache_bytes_per_row": "B",
    "templates.classify_s": "s",
    "templates.score_s": "s",
    "templates.embed_s": "s",
    "templates.rank_s": "s",
    "elo.fit_s": "s",
    "cost.estimate_s": "s",
    "backends.stub.generate_s_per_krow": "s",
    "backends.http.submit_s": "s",
    "backends.http.poll_s": "s",
    "backends.http.fetch_s": "s",
    "backends.http.requests_per_job": "count",
    "backends.http.polls_per_job": "count",
    "backends.http.retries_524": "count",
    "backends.http.rows_sent_per_unique_row": "ratio",
    "server.inflight_jobs_mean": "count",
    "request.self_s": "s",
    "request.samples": "count",
    "trace.spans_per_request": "count",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description="sutro_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def make_workload(name: str, seed: int, cpus: int):
    from perfbench import workloads

    if name == "offline_extract":
        return workloads.OfflineExtract(seed, cpus)
    if name == "prototype_jobs":
        return workloads.PrototypeJobs(seed, cpus)
    return workloads.RemoteHttp(seed, cpus, ROOT)


def measure(args, env: dict) -> tuple[dict, dict]:
    from perfbench import stats, system
    from perfbench.gen import HELDOUT_SEED

    t0 = time.perf_counter()
    import pyspark
    import sutro_spark  # noqa: F401 - import cost is part of set-up

    from perfbench.spans import Tracer
    from perfbench.workloads import layer_metrics

    import_s = time.perf_counter() - t0
    load_start = os.getloadavg()
    jiffies = system.cpu_jiffies()
    workload = make_workload(args.workload, args.seed, env["cpus"])
    try:
        setup_s = import_s + workload.setup()
        if args.trace:
            base = workload.measure(args.seconds / 2, None)
            tracer = Tracer()
            workload.patch(tracer)
            try:
                phase = workload.measure(args.seconds / 2, tracer)
            finally:
                tracer.restore()
            layers = layer_metrics(workload, phase, tracer)
            layers["session.get_spark_s"] = workload.get_spark_s
            layers["trace.overhead_frac"] = fmean(phase.latencies) / fmean(base.latencies) - 1
            phase.attempted += base.attempted
            phase.failed += base.failed
        else:
            phase = workload.measure(args.seconds, None)
        peak_rss_mb = workload.peak_rss_mb()
    finally:
        workload.close()

    lat = stats.latency_summary(phase.latencies)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "heldout_seed": HELDOUT_SEED,
        "trace": args.trace,
        "unit_of_attempted": workload.unit,
        "failed_frac": stats.failed_frac(phase.failed, phase.attempted),
        "request_samples": lat["samples"],
        "samples_beyond_p90": lat["samples_beyond_p90"],
        "measured_s": phase.busy_s,
        "import_s": import_s,
        "env": {
            **env,
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "cpu_steal_pct": system.steal_pct(jiffies, system.cpu_jiffies()),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
        },
    }
    if args.trace:
        metrics = {name: (layers.get(name, 0.0), unit) for name, unit in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (stats.rate(phase.rows, phase.busy_s), "1/s"),
            "request_p50_s": (lat["p50_s"], "s"),
            "request_p90_s": (lat["p90_s"], "s"),
            "peak_rss_mb": (peak_rss_mb, "MiB"),
        }
    result = {
        "correct": phase.failed == 0,
        "attempted": phase.attempted,
        "failed": phase.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sutro_spark", "__init__.py")):
        print(f"perfbench: no sutro_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    # Import the benchmark as a package from the checkout root, and keep
    # this directory off the path so its module names shadow nothing.
    sys.path[0] = ROOT
    from perfbench import system

    tmp_parent = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_parent, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        env = system.pin_environment(ROOT, tmp)
        detail, result = measure(args, env)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_parent)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
