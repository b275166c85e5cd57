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


def _isolated_and_coincident(fix):
    """``fix`` plus 3 vertices without edges, and with vertex 1 moved
    onto vertex 0's point."""
    v, e = fix
    n = len(v["ids"])
    lat = np.concatenate([v["lat"], [0.11, 0.52, 0.93]])
    lon = np.concatenate([v["lon"], [0.87, 0.46, 0.05]])
    lat[1], lon[1] = lat[0], lon[0]
    return {"ids": np.arange(n + 3), "lat": lat, "lon": lon}, e


def _finish_chains(metrics_rows) -> dict:
    """(root, parent_path, n) of each finished cell -> the levels of its
    rows: its own level, then every level below it pre-finished."""
    chains: dict = {}
    for r in metrics_rows:
        if r["best_job"] < 0:
            key = (r["root"], r["parent_path"], r["n"])
            chains.setdefault(key, set()).add(r["level"])
    return chains


@pytest.mark.parametrize(
    "fixture,cell_sizes,threshold",
    [
        (lambda: unit_square_grid(16), [8, 32, 128], 1 << 15),  # local fast path
        (lambda: unit_square_grid(16), [8, 32, 128], 4),  # fully distributed rounds
        (lambda: road_like_graph(400, seed=7), [16, 64, 256], 64),  # hybrid
        # a level-2 finish pre-finishes levels 1 and 0; level 1 then
        # finishes its live cells next to the pre-finished ones
        pytest.param(
            lambda: road_like_graph(400, seed=7), [8, 16, 64, 256], 64,
            id="prefinished-mix",
        ),
        pytest.param(
            lambda: _isolated_and_coincident(road_like_graph(400, seed=7)),
            [8, 16, 64, 256], 64,
            id="prefinished-mix-isolated-coincident",
        ),
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
    if len(cell_sizes) == 4:
        chains = _finish_chains(metrics.collect())
        assert any(len(levels) >= 3 for levels in chains.values()), (
            "no finish pre-finished two lower levels"
        )
        tops = {max(levels) for levels in chains.values()}
        mixed = {
            lvl
            for levels in chains.values()
            for lvl in levels
            if lvl < max(levels) and lvl in tops
        }
        assert mixed, "no level finished live cells next to pre-finished ones"


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
    for rnd in range(1, last + 1):
        os.remove(f"{ck_dir}/level=1/round={rnd}/manifest.json")
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
        # a bisection round, a finish round that also completes level
        # 0, then the relabels of both levels
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


def test_prefix_sum_frame_carries_no_hint(spark):
    # the relabel filters and explodes the prefix-sum frame into the
    # empty-cell ids; a broadcast hint there is not on a join, so Spark
    # only logs a HintErrorLogger warning for it
    from osm_inertial_flow_partitioner_spark.operators.partitioner import (
        ASSIGN_SCHEMA,
        EMPTIES_SCHEMA,
        _relabel_level,
    )
    from osm_inertial_flow_partitioner_spark.session import local_frame

    assign = local_frame(
        spark,
        [(0, 2, 5, 0.0, 0.0, [], []), (0, 3, 6, 1.0, 1.0, [], [])],
        ASSIGN_SCHEMA,
    )
    _, num_cells, empty_cells, _ = _relabel_level(
        assign,
        local_frame(spark, [(0, 1)], EMPTIES_SCHEMA),
        local_frame(spark, [(1,)], "root long"),
        n_roots_hint=2,
    )
    assert num_cells == 5
    assert sorted(r["root"] for r in empty_cells.collect()) == [2, 3, 4]
    assert "ResolvedHint" not in empty_cells._jdf.queryExecution().analyzed().toString()


def test_checkpoint_format_version_misses(spark, tmp_path, monkeypatch):
    # snapshots written under another snapshot format must not replay
    from osm_inertial_flow_partitioner_spark.plans import checkpoint as ckpt

    vdf, edf = _to_dfs(spark, unit_square_grid(8))
    cfg = PartitionConfig(cell_sizes=[4, 16])
    ck = ckpt.RoundCheckpoint(spark, str(tmp_path))
    multilevel_partition(spark, vdf, edf, cfg, local_recursion_threshold=20, checkpoint=ck)
    assert ck.config_token == ckpt.derive_config_token(cfg.cell_sizes, cfg.rate, 20)
    assert ck.has_round(1, 0)
    monkeypatch.setattr(ckpt, "CHECKPOINT_FORMAT", ckpt.CHECKPOINT_FORMAT + 1)
    other = ckpt.derive_config_token(cfg.cell_sizes, cfg.rate, 20)
    assert other != ck.config_token
    assert not ckpt.RoundCheckpoint(spark, str(tmp_path), other).has_round(1, 0)


def _job_counts(spark, group) -> tuple[Counter, int]:
    """Jobs per description (the round's ``small=… big=…`` counts
    stripped) and tasks run, over one job group."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    jobs, tasks = Counter(), 0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        d = job.description()
        jobs[d.get().split(" small=")[0] if d.isDefined() else None] += 1
        tasks += job.numCompletedTasks()
    return jobs, tasks


#: Spark jobs per description and tasks of one partition + the caller's
#: collects of assignment and metrics, at the session's cpus=4 and
#: shuffle_partitions=8. The counts repeat run after run, except that
#: AQE scheduling now and then adds one job (seen once in a full-suite
#: run: 17 jobs for a 16-job round), so a run may exceed the table by
#: one job of at most shuffle_partitions tasks; a job more in every
#: round fails. One that earns a cut lowers its budget.
JOB_BUDGETS = {
    "threshold=4": (
        lambda: unit_square_grid(16), [8, 32, 128], 4,
        {
            "tiler: count vertices": 2,
            "tiler: level=2 round=0": 6,
            "tiler: level=2 round=1": 10,
            "tiler: level=2 end": 1,
            "tiler: level=2 relabel": 8,
            "tiler: level=1 round=0": 16,
            "tiler: level=1 round=1": 10,
            "tiler: level=1 end": 1,
            "tiler: level=1 relabel": 8,
            "tiler: level=0 round=0": 16,
            "tiler: level=0 round=1": 9,
            "tiler: level=0 round=2": 10,
            "tiler: level=0 end": 2,
            "tiler: level=0 relabel": 8,
            "caller": 2,
        },
        380,
    ),
    "hybrid": (
        lambda: road_like_graph(400, seed=7), [16, 64, 256], 64,
        {
            "tiler: count vertices": 2,
            "tiler: level=2 round=0": 6,
            "tiler: level=2 end": 1,
            "tiler: level=2 relabel": 8,
            "tiler: level=1 round=0": 16,
            "tiler: level=1 round=1": 10,
            "tiler: level=1 round=2": 10,
            "tiler: level=1 end": 2,
            "tiler: level=1 relabel": 8,
            "tiler: level=0 round=0": 18,
            "tiler: level=0 end": 2,
            "tiler: level=0 relabel": 9,
            "caller": 2,
        },
        285,
    ),
    "multi-component": (
        lambda: _disjoint_union(unit_square_grid(12), road_like_graph(300), 1.5),
        [16, 128], 150,
        {
            "tiler: count vertices": 2,
            "tiler: level=1 round=0": 6,
            "tiler: level=1 round=1": 9,
            "tiler: level=1 end": 2,
            "tiler: level=1 relabel": 8,
            "tiler: level=0 relabel": 9,
            "caller": 2,
        },
        117,
    ),
}


@pytest.mark.parametrize("name", list(JOB_BUDGETS))
def test_job_budget(spark, name):
    fixture, cell_sizes, threshold, job_budget, task_budget = JOB_BUDGETS[name]
    vdf, edf = _to_dfs(spark, fixture())
    sc = spark.sparkContext
    group = f"job-budget-{name}"
    sc.setJobGroup(group, "caller")
    try:
        result, _, metrics = multilevel_partition(
            spark, vdf, edf, PartitionConfig(cell_sizes=cell_sizes),
            local_recursion_threshold=threshold,
        )
        result.collect()
        metrics.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs, tasks = _job_counts(spark, group)
    assert {d: n for d, n in jobs.items() if n > job_budget.get(d, 0) + 1} == {}
    assert sum(jobs.values()) <= sum(job_budget.values()) + 1
    assert tasks <= task_budget + 8
