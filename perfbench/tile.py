"""Tile workload: seeded pages -> ``run_pipeline`` to a collected
assignment, the shape ``bench.py`` times and the workload's one timed
operation. The traced run adds the durable path (``RoundCheckpoint``
snapshots, the sinks and the resume replay) as per-layer metrics.

Checks (outside every timed region): the warm-up assignment equals
``multilevel_partition_local`` on the same collected vertices and edges,
and every later assignment, traced layers included, is byte-identical
to it.
"""

from __future__ import annotations

import os
import time

import numpy as np

from osm_inertial_flow_partitioner_spark.config import PartitionConfig
from osm_inertial_flow_partitioner_spark.kernel import multilevel_partition_local
from osm_inertial_flow_partitioner_spark.kernel.bisection import bisect_once
from osm_inertial_flow_partitioner_spark.operators.packing import pack_assignment
from osm_inertial_flow_partitioner_spark.operators.partitioner import (
    multilevel_partition,
)
from osm_inertial_flow_partitioner_spark.plans.checkpoint import RoundCheckpoint
from osm_inertial_flow_partitioner_spark.plans.pipeline import run_pipeline
from osm_inertial_flow_partitioner_spark.sources import extract as extract_mod
from osm_inertial_flow_partitioner_spark.sources.extract import (
    extract_entities,
    knn_adjacency,
    text_invariant_check,
)
from osm_inertial_flow_partitioner_spark.sources.graph_io import (
    write_mlp,
    write_partition_samples,
)
from osm_inertial_flow_partitioner_spark.sources.pages import generate_pages

from .harness import Ops, built_inputs, dir_bytes, median, plan_seconds
from .trace import Tracer

CELL_SIZES = [256, 2048]
RES = 6
K = 4


def _config() -> PartitionConfig:
    return PartitionConfig(cell_sizes=list(CELL_SIZES))


def assignment_array(df) -> np.ndarray:
    """(vertex_id, level, cell_id) rows as an int64 array ordered by
    (level, vertex_id): equal arrays mean byte-identical assignments."""
    pdf = df.select("vertex_id", "level", "cell_id").toPandas()
    return _ordered(pdf.to_numpy(dtype=np.int64))


def _ordered(rows: np.ndarray) -> np.ndarray:
    return rows[np.lexsort((rows[:, 0], rows[:, 1]))]


def build_pages(spark, n_docs: int, seed: int, cpus: int):
    pages = generate_pages(spark, n_docs, seed=seed, num_partitions=2 * cpus).persist()
    pages.count()
    return pages


def run_once(spark, pages) -> tuple[float, np.ndarray, object]:
    """One ``run_pipeline`` call; returns (seconds to the collected
    assignment, the assignment, the pipeline result)."""
    t0 = time.perf_counter()
    res = run_pipeline(
        spark, pages, _config(), res=RES, k=K, verify_text_invariant=True
    )
    rows = assignment_array(res.assignment)
    return time.perf_counter() - t0, rows, res


def _release(res) -> None:
    res.entities.unpersist()
    res.edges.unpersist()


def collected_graph(entities, edges):
    """Vertices (ascending ids, dense lat/lon arrays) and undirected edges
    sorted by (tail, edge_id), as the distributed==local suite feeds the
    local partitioner."""
    v = entities.select("entity_id", "lat", "lon").toPandas()
    e = edges.select("edge_id", "tail", "head").toPandas().sort_values(
        ["tail", "edge_id"], kind="stable"
    )
    ids = v["entity_id"].to_numpy(np.int64)
    lat = np.zeros(int(ids.max()) + 1)
    lon = np.zeros_like(lat)
    lat[ids] = v["lat"].to_numpy()
    lon[ids] = v["lon"].to_numpy()
    return np.sort(ids), lat, lon, e["tail"].to_numpy(np.int64), e["head"].to_numpy(np.int64)


def local_assignment(graph) -> tuple[np.ndarray, int]:
    """The single-process oracle's assignment in ``assignment_array``
    layout, and its number of bisections."""
    ids, lat, lon, tails, heads = graph
    assign, _num_cells, stats = multilevel_partition_local(
        ids, lat, lon, tails, heads, list(CELL_SIZES)
    )
    rows = np.stack(
        [
            np.concatenate([ids] * len(CELL_SIZES)),
            np.repeat(np.arange(len(CELL_SIZES), dtype=np.int64), len(ids)),
            assign.reshape(-1),
        ],
        axis=1,
    )
    return _ordered(rows), len(stats)


def run(spark, spec: dict, seed: int, seconds: float, trace: bool, work: str,
        session_s: float, cpus: int) -> tuple[dict, Ops, dict]:
    ops = Ops()
    pages, build_s = built_inputs(
        lambda: build_pages(spark, spec["n_docs"], seed, cpus), lambda p: p.unpersist()
    )
    # warm-up: one full run; its assignment is the reference
    t0 = time.perf_counter()
    _, ref, res = run_once(spark, pages)
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + build_s + warmup_s
    graph = collected_graph(res.entities, res.edges)
    context = {"n_docs": spec["n_docs"], "n_entities": res.n_entities,
               "finish_threshold": spec["finish_threshold"], "session_s": session_s,
               "build_s": build_s, "warmup_s": warmup_s}
    _release(res)
    if trace:
        return _traced(spark, pages, graph, ref, work, seed, ops), ops, context

    ops.check(np.array_equal(ref, local_assignment(graph)[0]),
              "assignment differs from the local oracle")
    tile_s = []
    t_end = time.perf_counter() + seconds
    while not tile_s or time.perf_counter() < t_end:
        dt, got, res = run_once(spark, pages)
        _release(res)
        tile_s.append(dt)
        ops.check(np.array_equal(got, ref), f"run {len(tile_s)} differs")
    context["tile_s"] = tile_s
    return {"setup_s": setup_s, "ops_s": [median(tile_s)]}, ops, context


def _traced(spark, pages, graph, ref, work, seed, ops: Ops) -> dict:
    """One untraced run (the reference for ``trace.overhead_s``), then
    each layer called in pipeline order under its own span."""
    untraced_s, got, res = run_once(spark, pages)
    _release(res)
    ops.check(np.array_equal(got, ref), "untraced run differs")

    tr = Tracer(spark, f"tile-{seed}")
    cfg = _config()
    # the adjacency resolution is picked inside knn_adjacency; record the
    # value it hands to grid_disk for the candidate probes
    picked_res: list[int] = []
    grid_disk = extract_mod.grid_disk

    def recording_grid_disk(cell, res, k=1):
        picked_res.append(int(res))
        return grid_disk(cell, res, k)

    with tr.span("sources.extract"):
        entities, n = extract_entities(pages, res=RES, return_count=True)
        entities.persist().count()
    extract_mod.grid_disk = recording_grid_disk
    try:
        with tr.span("sources.adjacency"):
            edges = knn_adjacency(entities, k=K, n_points=n)
            n_edges = edges.persist().count()
    finally:
        extract_mod.grid_disk = grid_disk
    with tr.span("sources.invariant"):
        ops.check(text_invariant_check(pages, pages) == 0, "text invariant violated")
    vertices = entities.select(entities["entity_id"].alias("vertex_id"), "lat", "lon")

    with tr.span("partitioner"):
        assignment, num_cells, pmetrics = multilevel_partition(
            spark, vertices, edges, cfg, n_vertices=n
        )
        got = assignment_array(assignment)
    ops.check(np.array_equal(got, ref), "traced partition differs")
    # under a span of its own, so that only the package's jobs go untagged
    with tr.span("partitioner.metrics"):
        stats = pmetrics.select("level", "round", "cut_edges").toPandas()
    with tr.span("driver.plan"):
        packed = pack_assignment(assignment, num_cells)
        plan_seconds(packed)
    with tr.span("packing"):
        packed.write.format("noop").mode("overwrite").save()

    ckpt_dir = os.path.join(work, "ckpt-traced")
    with tr.span("checkpoint.partition"):
        a2, nc2, m2 = multilevel_partition(
            spark, vertices, edges, cfg, n_vertices=n,
            checkpoint=RoundCheckpoint(spark, ckpt_dir),
        )
        got = assignment_array(a2)
    ops.check(np.array_equal(got, ref), "checkpointed partition differs")
    out = os.path.join(work, "out-traced")
    with tr.span("graph_io.sink"):
        # stage C of run_pipeline
        write_mlp(pack_assignment(a2, nc2), nc2, f"{out}/mlp")
        for level in range(len(CELL_SIZES) - 1):
            write_partition_samples(a2, vertices, f"{out}/samples", level)
        m2.write.mode("overwrite").parquet(f"{out}/metrics")
    with tr.span("checkpoint.replay"):
        a3, _, _ = multilevel_partition(
            spark, vertices, edges, cfg, n_vertices=n,
            checkpoint=RoundCheckpoint(spark, ckpt_dir),
        )
        got = assignment_array(a3)
    ops.check(np.array_equal(got, ref), "checkpoint replay differs")
    units = sum(
        1 for d, _, files in os.walk(ckpt_dir)
        if any(f.endswith(".parquet") for f in files)
    )

    with tr.span("kernel.local"):
        expected, kernel_bisections = local_assignment(graph)
    ops.check(np.array_equal(ref, expected), "assignment differs from the local oracle")
    ids, lat, lon, tails, heads = graph
    with tr.span("kernel.root_bisect"):
        bisect_once(ids, lat[ids], lon[ids], tails, heads)
    entities.unpersist()
    edges.unpersist()

    part = next(s for s in tr.spans if s["name"] == "partitioner")
    cores = spark.sparkContext.defaultParallelism
    # the spans that cover what the untraced run did
    pipeline_spans = ["sources.extract", "sources.adjacency", "sources.invariant",
                      "partitioner"]
    cut = stats[stats["cut_edges"] >= 0]
    return {
        "sources.extract_s": tr.duration("sources.extract"),
        "sources.adjacency_s": tr.duration("sources.adjacency"),
        "sources.adjacency_edges": n_edges,
        "sources.adjacency_res": picked_res[-1] if picked_res else -1,
        "sources.invariant_s": tr.duration("sources.invariant"),
        "kernel.local_s": tr.duration("kernel.local"),
        "kernel.root_bisect_s": tr.duration("kernel.root_bisect"),
        "kernel.bisections": kernel_bisections,
        "partitioner.partition_s": tr.duration("partitioner"),
        "partitioner.rounds": len(stats[["level", "round"]].drop_duplicates()),
        "partitioner.bisections": len(cut),
        "partitioner.cut_edges": int(cut["cut_edges"].sum()),
        "partitioner.jobs": part["jobs"],
        "partitioner.tasks": part["tasks"],
        "partitioner.busy_s": part["busy_s"],
        "partitioner.busy_frac": part["busy_s"] / (tr.duration("partitioner") * cores),
        "partitioner.shuffle_mb": part["shuffle_bytes"] / 2**20,
        "partitioner.failed_tasks": part["failed_tasks"],
        "checkpoint.partition_s": tr.duration("checkpoint.partition"),
        "checkpoint.replay_s": tr.duration("checkpoint.replay"),
        "checkpoint.units": units,
        "checkpoint.bytes_mb": dir_bytes(ckpt_dir) / 2**20,
        "graph_io.sink_s": tr.duration("graph_io.sink"),
        "packing.pack_s": tr.duration("packing"),
        "driver.plan_s": tr.duration("driver.plan"),
        "spark.jobs": tr.total("jobs"),
        "spark.shuffle_mb": tr.total("shuffle_bytes") / 2**20,
        "spark.untagged_jobs": tr.untagged_jobs(),
        "trace.overhead_s": tr.total_duration(pipeline_spans) - untraced_s,
        "_spans": tr.spans,
    }
