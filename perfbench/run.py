#!/usr/bin/env python3
"""Benchmark of the tiler and its query operators.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process drives one Spark session on
local[nproc] as a closed loop with one client: one pipeline or query at
a time, the load generated in this process. Each run builds its inputs
from the seed, warms up (the warm-up counts toward ``setup_s``), checks
the warm-up's outputs, then repeats the workload's operations for
``--seconds``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` calls each layer in turn under a span and reports the
per-layer metrics (a layer the workload never calls reads 0). The last
stdout line is one JSON object with the keys correct, attempted, failed
and metrics; the line before it holds the run context. Spans are
written to ``.perfbench_work/spans-<workload>-<seed>.json``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout: inputs, checkpoints, sinks, Spark local dirs and temp files.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "osm_inertial_flow_partitioner_spark"

#: inputs per workload. The finish threshold is scaled with the input so
#: that level 1 keeps the shape 120k docs give at the default threshold:
#: one distributed direction round on the root, then finish kernels. The
#: root (10,007 entities at 4k docs, for any seed) is at least 2.5x the
#: threshold, so it is cut distributed; an inertial cut leaves each side
#: at most 75% of it, below 2.5x, so both sides finish in-kernel.
WORKLOADS = {
    "tile_4k": {"kind": "tile", "n_docs": 4_000, "finish_threshold": 3_500},
    "query_mix": {"kind": "queries", "sf": 0.01},
}


def _prepare_env(spec: dict) -> tuple[str, str]:
    """Point every temp, local and worker path into the checkout; must
    run before pyspark or the package is imported."""
    work = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work, "tmp")  # also caches the compiled C kernel
    os.makedirs(tmp, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's helper JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{java_opts}' pyspark-shell"
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if "finish_threshold" in spec:
        os.environ["TILER_FINISH_THRESHOLD"] = str(spec["finish_threshold"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work, run_dir


def _commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None, workloads: dict | None = None) -> int:
    workloads = workloads or WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = workloads[args.workload]

    needed = [PACKAGE, "bench.py", os.path.join("scripts", "check_queries.py"),
              "BENCHMARK.json"]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a full checkout, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["per_layer"] if args.trace else bench["end_to_end"]

    work, run_dir = _prepare_env(spec)
    t_session = time.perf_counter()
    from bench import cpu_probe
    from osm_inertial_flow_partitioner_spark.session import get_spark

    from perfbench import harness

    module = importlib.import_module(f"perfbench.{spec['kind']}")
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", cpus=cpus)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_session
        measured, ops, context = module.run(
            spark, spec, args.seed, args.seconds, bool(args.trace), run_dir,
            session_s, cpus,
        )
        spans = measured.pop("_spans", None)
        if args.trace:
            metrics = measured
        else:
            metrics = harness.end_to_end(measured["setup_s"], measured["ops_s"])
        metrics["host.jvm_peak_rss_mb"] = harness.jvm_peak_rss_mb(spark)
        # after every measured region, so that it costs wall time only
        probe_s = cpu_probe(spark, cpus)
        metrics["host.cpu_probe_s"] = probe_s
    finally:
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if spans is not None:
        with open(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(spans, f)
    context.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cpus, "local_n": cpus, "commit": _commit(),
        "host.cpu_probe_s": probe_s, "attempted": ops.attempted, "failed": ops.failed,
        "failed_frac": ops.failed / max(ops.attempted, 1),
    })
    names = {m["name"] for m in declared}
    if args.trace and set(metrics) - names:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(set(metrics) - names)}")
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {
            m["name"]: {
                "value": float(metrics.get(m["name"], 0) if args.trace else metrics[m["name"]]),
                "unit": m["unit"],
            }
            for m in declared
        },
    }
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
