"""Distributed == local equivalence (SURVEY.md §5): the cogrouped
applyInPandas partitioner must produce byte-identical (vertex_id, level,
cell_id) rows to the single-process oracle, at any parallelism."""

import os
from collections import Counter

import numpy as np
import pytest

from osm_inertial_flow_partitioner_spark.config import PartitionConfig
from osm_inertial_flow_partitioner_spark.kernel import (
    multilevel_partition_local,
    pack_cell_numbers,
)
from osm_inertial_flow_partitioner_spark.operators.packing import pack_assignment
from osm_inertial_flow_partitioner_spark.operators.partitioner import (
    multilevel_partition,
)
from osm_inertial_flow_partitioner_spark.sources.fixtures import (
    road_like_graph,
    unit_square_grid,
)


def _to_dfs(spark, fix):
    v, e = fix
    vdf = spark.createDataFrame(
        [(int(i), float(v["lat"][i]), float(v["lon"][i])) for i in v["ids"]],
        "vertex_id long, lat double, lon double",
    )
    edf = spark.createDataFrame(
        [
            (int(e["edge_id"][i]), int(e["tail"][i]), int(e["head"][i]))
            for i in range(len(e["tail"]))
        ],
        "edge_id long, tail long, head long",
    )
    return vdf, edf


def _local_expected(fix, cell_sizes):
    v, e = fix
    assign, num_cells, _ = multilevel_partition_local(
        v["ids"], v["lat"], v["lon"], e["tail"], e["head"], cell_sizes
    )
    ids = np.sort(v["ids"])
    expected = {
        (int(ids[i]), lvl): int(assign[lvl, i])
        for lvl in range(len(cell_sizes))
        for i in range(len(ids))
    }
    return expected, num_cells, assign


@pytest.mark.parametrize(
    "fixture,cell_sizes,threshold",
    [
        (lambda: unit_square_grid(16), [8, 32, 128], 1 << 15),  # local fast path
        (lambda: unit_square_grid(16), [8, 32, 128], 4),  # fully distributed rounds
        (lambda: road_like_graph(400, seed=7), [16, 64, 256], 64),  # hybrid
    ],
)
def test_distributed_equals_local(spark, fixture, cell_sizes, threshold):
    fix = fixture()
    expected, exp_cells, _ = _local_expected(fix, cell_sizes)
    vdf, edf = _to_dfs(spark, fix)
    result, num_cells, metrics = multilevel_partition(
        spark,
        vdf,
        edf,
        PartitionConfig(cell_sizes=cell_sizes),
        local_recursion_threshold=threshold,
    )
    rows = result.collect()
    got = {(r["vertex_id"], r["level"]): r["cell_id"] for r in rows}
    assert num_cells == exp_cells
    assert got == expected
    # control rows: every bisection row is one of the oracle's cuts; a
    # finish row (the whole recursion of a small cell) reports no cut
    v, e = fix
    _, _, stats = multilevel_partition_local(
        v["ids"], v["lat"], v["lon"], e["tail"], e["head"], cell_sizes
    )
    oracle = Counter(
        (s.round, s.n, s.cut_edges, s.part_two, s.best_job) for s in stats
    )
    cuts, lower = Counter(), 0
    for r in metrics.filter("mode = 'cell'").collect():
        key = (r["round"], r["n"], r["cut_edges"], r["part_two"], r["best_job"])
        if r["best_job"] < 0:
            assert key[2:] == (-1, -1, -1)
        else:
            cuts[key] += 1
            lower += r["level"] < len(cell_sizes) - 1
    assert not cuts - oracle
    if threshold == 4:
        assert lower, "no lower level ran a distributed bisection round"


def test_packed_cell_numbers_match_local(spark):
    fix = unit_square_grid(16)
    cell_sizes = [8, 32, 128]
    expected, exp_cells, assign_local = _local_expected(fix, cell_sizes)
    vdf, edf = _to_dfs(spark, fix)
    result, num_cells, _ = multilevel_partition(
        spark, vdf, edf, PartitionConfig(cell_sizes=cell_sizes)
    )
    packed = pack_assignment(result, num_cells)
    got = {r["vertex_id"]: r["cell_number"] for r in packed.collect()}
    exp_packed = pack_cell_numbers(assign_local, exp_cells)
    ids = np.sort(fix[0]["ids"])
    for i, v in enumerate(ids):
        assert got[int(v)] == int(exp_packed[i])


def test_metrics_lineage_present(spark):
    fix = unit_square_grid(8)
    vdf, edf = _to_dfs(spark, fix)
    result, num_cells, metrics = multilevel_partition(
        spark, vdf, edf, PartitionConfig(cell_sizes=[8, 32])
    )
    m = metrics.collect()
    assert len(m) >= 1
    cols = set(metrics.columns)
    assert {"level", "round", "root", "parent_path", "n", "cut_edges", "part_two"} <= cols


def _disjoint_union(a, b, lon_shift):
    """Vertices and edges of ``b`` appended to ``a`` with ids (and edge
    ids) shifted past ``a``'s and longitudes shifted by ``lon_shift``."""
    (va, ea), (vb, eb) = a, b
    off = len(va["ids"])
    ids = np.concatenate([va["ids"], vb["ids"] + off])
    lat = np.concatenate([va["lat"], vb["lat"]])
    lon = np.concatenate([va["lon"], vb["lon"] + lon_shift])
    tails = np.concatenate([ea["tail"], eb["tail"] + off])
    heads = np.concatenate([ea["head"], eb["head"] + off])
    return (
        {"ids": ids, "lat": lat, "lon": lon},
        {"edge_id": np.arange(len(tails), dtype=np.int64), "tail": tails, "head": heads},
    )


def test_multi_component_root_equals_local(spark):
    # round 0 cuts the whole two-component root in one per-cell kernel
    # call (444 >= 2.5 x threshold, so it is not promoted to a finish):
    # the whole-cell flow must match the local oracle exactly
    fix = _disjoint_union(unit_square_grid(12), road_like_graph(300), 1.5)
    cell_sizes = [16, 128]
    expected, exp_cells, _ = _local_expected(fix, cell_sizes)
    vdf, edf = _to_dfs(spark, fix)
    result, num_cells, metrics = multilevel_partition(
        spark, vdf, edf, PartitionConfig(cell_sizes=cell_sizes),
        local_recursion_threshold=150,
    )
    got = {(r["vertex_id"], r["level"]): r["cell_id"] for r in result.collect()}
    assert num_cells == exp_cells
    assert got == expected
    root_cut = metrics.filter("level = 1 and round = 0").collect()
    assert [(r["n"], r["mode"]) for r in root_cut] == [(444, "cell")]


def test_two_phase_prefix_sum_matches_collect(spark, monkeypatch):
    # without a row-count hint every prefix sum takes the two-phase
    # path; the hybrid case above pins the collect path to the same
    # local oracle
    from osm_inertial_flow_partitioner_spark.operators import partitioner

    prefix_sum = partitioner._exclusive_cumsum_by_key
    monkeypatch.setattr(
        partitioner, "_exclusive_cumsum_by_key",
        lambda df, key, value, out_col, n_rows_hint=None: prefix_sum(
            df, key, value, out_col
        ),
    )
    fix = road_like_graph(400, seed=7)
    cell_sizes = [16, 64, 256]
    expected, exp_cells, _ = _local_expected(fix, cell_sizes)
    vdf, edf = _to_dfs(spark, fix)
    result, num_cells, _ = multilevel_partition(
        spark, vdf, edf, PartitionConfig(cell_sizes=cell_sizes),
        local_recursion_threshold=64,
    )
    got = {(r["vertex_id"], r["level"]): r["cell_id"] for r in result.collect()}
    assert num_cells == exp_cells
    assert got == expected


def test_resume_through_bisection_round(spark, tmp_path):
    # level 1 bisects in rounds 0 and 1 the cells the relabel hands it,
    # then finishes them. A crash in round 1 leaves round 0's snapshot
    # only: resume replays that bisection round and recomputes the rest
    # from its sizes, byte-identical to an unchecked run
    import glob

    from osm_inertial_flow_partitioner_spark.plans.checkpoint import (
        RoundCheckpoint,
    )

    vdf, edf = _to_dfs(spark, road_like_graph(400, seed=7))
    cfg = PartitionConfig(cell_sizes=[16, 64, 256])

    def run(checkpoint=None):
        result, num_cells, metrics = multilevel_partition(
            spark, vdf, edf, cfg, local_recursion_threshold=64,
            checkpoint=checkpoint,
        )
        return (
            sorted(map(tuple, result.collect())),
            num_cells,
            sorted(map(tuple, metrics.collect())),
        )

    plain = run()
    ck_dir = str(tmp_path / "ck")
    assert run(RoundCheckpoint(spark, ck_dir)) == plain
    # (round, bisected?) of level 1's metrics rows
    level1 = {(r[1], r[7] >= 0) for r in plain[2] if r[0] == 1}
    last = max(rnd for rnd, _ in level1)
    assert {(0, True), (1, True), (last, False)} <= level1
    later = [f"{ck_dir}/level=1/round={rnd}/manifest.json" for rnd in range(1, last + 1)]
    for manifest in later + glob.glob(f"{ck_dir}/unit=*/manifest.json"):
        os.remove(manifest)
    assert run(RoundCheckpoint(spark, ck_dir)) == plain


def test_too_many_big_cells_for_the_stat_collect(spark, monkeypatch):
    from osm_inertial_flow_partitioner_spark.operators import partitioner

    monkeypatch.setattr(partitioner, "DRIVER_COLLECT_MAX_ROWS", 0)
    vdf, edf = _to_dfs(spark, road_like_graph(400, seed=7))
    with pytest.raises(ValueError, match="local_recursion_threshold"):
        multilevel_partition(
            spark, vdf, edf, PartitionConfig(cell_sizes=[16, 64, 256]),
            local_recursion_threshold=64,
        )


def _job_descriptions(spark, group):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        d = store.job(jid).description()
        out.append(d.get() if d.isDefined() else None)
    return out


def test_every_partitioner_job_is_labeled(spark):
    vdf, edf = _to_dfs(spark, unit_square_grid(8))
    sc = spark.sparkContext
    sc.setJobGroup("partitioner-labels", "caller")
    try:
        # a bisection round, a finish round, the relabel, then the
        # multi-level finish
        multilevel_partition(
            spark, vdf, edf, PartitionConfig(cell_sizes=[4, 16]),
            local_recursion_threshold=20,
        )
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    descriptions = _job_descriptions(spark, "partitioner-labels")
    assert descriptions
    assert [d for d in descriptions if not (d or "").startswith("tiler:")] == []
