"""Query workload: the 17 headline queries of ``bench.py`` over seeded
tables, each pass in a seed-shuffled order, to a noop sink. It makes no
partitioner or kernel calls, so a tiler-only change should leave it
unchanged.

Check (outside every timed region): each query's collected output
equals its ``oracle_sql()`` DuckDB twin after ``canon``.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np

from osm_inertial_flow_partitioner_spark.entry import oracle_sql, queries
from scripts.check_queries import canon

from .harness import Ops, built_inputs, median, plan_seconds
from .tables import TABLES, make_tables, write_tables
from .trace import Tracer

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "geo_cell_index",
    "knn_lookup",
    "pip_join",
    "dedup_exact",
    "lsh_candidate_pairs",
    "simhash",
    "simhash_near_dups",
    "text_stats",
    "corpus_filter",
    "ann_cosine_topk",
    "ann_cosine_topk_ivf",
    "geo_segment_project",
    "events_sessionize",
    "events_hourly_rollup",
]


def same_result(spark_pdf, oracle_pdf) -> bool:
    """Equal after ``canon``: floats within 1.5e-6, everything else as
    strings (the tolerance ``scripts/check_queries.py`` applies)."""
    a, b = canon(spark_pdf), canon(oracle_pdf)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(b[c].dtype, np.floating):
            ok = np.allclose(a[c].astype(float), b[c].astype(float),
                             rtol=0, atol=1.5e-6, equal_nan=True)
        else:
            ok = bool((a[c].astype(str) == b[c].astype(str)).all())
        if not ok:
            return False
    return True


def _timed_pass(spark, qs, order, sf_dir, ops: Ops, times: dict) -> None:
    for name in order:
        t0 = time.perf_counter()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ops.check(False, f"{name} raised")
        else:
            times.setdefault(name, []).append(time.perf_counter() - t0)
            ops.check(True, name)


def run(spark, spec: dict, seed: int, seconds: float, trace: bool, work: str,
        session_s: float, cpus: int) -> tuple[dict, Ops, dict]:
    ops = Ops()
    sf_dir = os.path.join(work, "tables")

    def build():
        tables = make_tables(np.random.default_rng(seed), spec["sf"])
        write_tables(tables, sf_dir)
        return tables

    tables, build_s = built_inputs(build, lambda _: None)
    qs = queries()
    rng = np.random.default_rng(seed)

    # warm-up: one collected pass, checked against DuckDB afterwards
    t0 = time.perf_counter()
    collected = {}
    for name in rng.permutation(HEADLINE):
        try:
            collected[name] = qs[name](spark, sf_dir).toPandas()
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            collected[name] = None
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + build_s + warmup_s

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = oracle_sql()
    for name in HEADLINE:
        got = collected[name]
        ops.check(
            got is not None and same_result(got, con.execute(oracles[name]).df()),
            f"{name} differs from its DuckDB oracle",
        )
    con.close()
    context = {"sf": spec["sf"], "tables": {n: t.num_rows for n, t in tables.items()},
               "session_s": session_s, "build_s": build_s, "warmup_s": warmup_s}

    times: dict[str, list[float]] = {}
    if trace:
        _timed_pass(spark, qs, HEADLINE, sf_dir, ops, times)
        tr = Tracer(spark, f"queries-{seed}")
        plan_s = 0.0
        for name in HEADLINE:
            try:
                with tr.span(f"query.{name}"):
                    df = qs[name](spark, sf_dir)
                    t0 = time.perf_counter()
                    plan_seconds(df)
                    plan_s += time.perf_counter() - t0
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                ops.check(False, f"{name} raised while traced")
        metrics = {f"query.{n}_s": tr.duration(f"query.{n}") for n in HEADLINE}
        metrics.update({
            "driver.plan_s": plan_s,
            "spark.jobs": tr.total("jobs"),
            "spark.shuffle_mb": tr.total("shuffle_bytes") / 2**20,
            "spark.untagged_jobs": tr.untagged_jobs(),
            "trace.overhead_s": tr.total_duration([f"query.{n}" for n in HEADLINE])
            - sum(sum(v) for v in times.values()),
            "_spans": tr.spans,
        })
        return metrics, ops, context

    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() < t_end:
        _timed_pass(spark, qs, rng.permutation(HEADLINE), sf_dir, ops, times)
    if len(times) < len(HEADLINE):
        raise RuntimeError("a query never completed; no per-query median")
    context["query_s"] = times
    return {"setup_s": setup_s, "ops_s": [median(times[n]) for n in HEADLINE]}, ops, context
