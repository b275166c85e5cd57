"""Smoke test of the benchmark at toy sizes (a few minutes at local[4]):

    python3 -m pytest perfbench/test_smoke.py -q

Every metric BENCHMARK.json names must be printed with its unit, an
unchanged program must pass every output check, and a corrupted
assignment or query result must count as a failed operation. Each run
is its own process, as the benchmark command is.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import run

TOY = {
    "tile_4k": {"kind": "tile", "n_docs": 1_000, "finish_threshold": 900},
    "query_mix": {"kind": "queries", "sf": 0.001},
}

#: per-layer metrics each workload must report nonzero; the rest of its
#: prefixes' metrics may read 0 (no cut edges or failed tasks, for one)
LAYERS = {
    "tile_4k": ("sources.", "kernel.", "partitioner.", "checkpoint.", "graph_io.", "packing."),
    "query_mix": ("query.",),
}
MAY_BE_ZERO = {"partitioner.cut_edges", "partitioner.failed_tasks"}

with open(f"{run.ROOT}/BENCHMARK.json") as _f:
    BENCH = json.load(_f)


def plain(argv: list[str]) -> int:
    return run.main(argv, workloads=TOY)


def corrupt_assignment(argv: list[str]) -> int:
    """Flip one cell id in the first timed tile run's assignment."""
    from perfbench import tile

    run_once, calls = tile.run_once, []

    def corrupted(spark, pages):
        dt, rows, res = run_once(spark, pages)
        calls.append(dt)
        if len(calls) == 2:  # the warm-up (call 1) is the reference
            rows = rows.copy()
            rows[0, 2] += 1
        return dt, rows, res

    tile.run_once = corrupted
    return run.main(argv, workloads=TOY)


def corrupt_query(argv: list[str]) -> int:
    """Drop all but one row of q1_pricing_summary's result."""
    from perfbench import queries

    all_queries = queries.queries

    def corrupted():
        qs = dict(all_queries())
        q1 = qs["q1_pricing_summary"]
        qs["q1_pricing_summary"] = lambda spark, sf: q1(spark, sf).limit(1)
        return qs

    queries.queries = corrupted
    return run.main(argv, workloads=TOY)


def _result(entry: str, workload: str, trace: int) -> dict:
    argv = ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    code = f"import sys; from perfbench import test_smoke; sys.exit(test_smoke.{entry}({argv!r}))"
    # the partitioner reads its finish threshold when it is imported,
    # which a corrupting entry point does before run.main sets it
    env = dict(os.environ)
    if "finish_threshold" in TOY[workload]:
        env["TILER_FINISH_THRESHOLD"] = str(TOY[workload]["finish_threshold"])
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=run.ROOT, env=env, capture_output=True,
        text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _assert_declared_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def test_workloads_match_benchmark_json():
    assert set(TOY) == set(run.WORKLOADS) == {w["name"] for w in BENCH["workloads"]}


@pytest.mark.parametrize("workload", sorted(TOY))
def test_traced_run_is_clean_and_reports_every_layer_metric(workload):
    result = _result("plain", workload, trace=1)
    _assert_declared_metrics(result, BENCH["per_layer"])
    assert result["correct"] and result["failed"] == 0
    zero = [
        name for name, m in result["metrics"].items()
        if name.startswith(LAYERS[workload]) and name not in MAY_BE_ZERO and m["value"] == 0
    ]
    assert not zero, f"{workload} did not report {zero}"


@pytest.mark.parametrize(
    "entry,workload",
    [("corrupt_assignment", "tile_4k"), ("corrupt_query", "query_mix")],
)
def test_corrupted_output_is_a_failed_operation(entry, workload):
    result = _result(entry, workload, trace=0)
    _assert_declared_metrics(result, BENCH["end_to_end"])
    assert result["failed"] == 1 and not result["correct"]
