"""Recursive bisection + multilevel local oracle (SURVEY.md §5 pipeline
property tests): every vertex in exactly one cell per level, cell sizes
<= U_level, lower-level cells nest inside upper-level cells, packed cell
numbers round-trip (P9, io_writer.go:54-67)."""

import numpy as np
import pytest

from osm_inertial_flow_partitioner_spark.kernel import (
    bisect_once,
    multilevel_partition_local,
    pack_cell_numbers,
    recursive_bisection,
)
from osm_inertial_flow_partitioner_spark.kernel.multilevel import (
    multilevel_finish_local,
    pv_offsets,
    unpack_cell_numbers,
)
from osm_inertial_flow_partitioner_spark.sources.fixtures import (
    road_like_graph,
    unit_square_grid,
)


def test_recursive_bisection_grid():
    v, e = unit_square_grid(8)
    res = recursive_bisection(v["ids"], v["lat"], v["lon"], e["tail"], e["head"], 16)
    sizes = [len(c) for c in res.cells]
    assert all(s < 16 for s in sizes)
    allv = np.sort(np.concatenate([c for c in res.cells if len(c)]))
    assert np.array_equal(allv, v["ids"])  # exactly-one-cell property
    # frozen numbering: cells ordered by min original vertex id
    mins = [int(c[0]) for c in res.cells if len(c)]
    assert mins == sorted(mins)
    assert mins[0] == 0


def test_recursive_bisection_dag_pool_matches_serial():
    """The task-DAG thread-pool scheduler (engaged for cells >= 32768)
    must reproduce the serial loop's cells AND stats sequence exactly —
    the round-6 restructure reorders execution, never results. Also
    pins the aligned-coords fast path against the dict path."""
    v, e = road_like_graph(40_000, seed=23)
    ids = v["ids"]
    serial = recursive_bisection(
        ids, v["lat"], v["lon"], e["tail"], e["head"], 2048, pool_workers=1
    )
    pooled = recursive_bisection(
        ids, v["lat"], v["lon"], e["tail"], e["head"], 2048, pool_workers=8
    )
    aligned = recursive_bisection(
        ids, v["lat"][ids], v["lon"][ids], e["tail"], e["head"], 2048,
        pool_workers=8, coords_aligned=True,
    )
    for other in (pooled, aligned):
        assert len(other.cells) == len(serial.cells)
        for a, b in zip(serial.cells, other.cells):
            assert np.array_equal(a, b)
        assert [
            (s.n, s.cut_edges, s.part_two, s.best_job, s.round)
            for s in other.stats
        ] == [
            (s.n, s.cut_edges, s.part_two, s.best_job, s.round)
            for s in serial.stats
        ]


def test_coords_aligned_rejects_misaligned_coordinates():
    v, e = unit_square_grid(4)
    ids = v["ids"]
    lat, lon = v["lat"][ids][:-1], v["lon"][ids][:-1]  # one short
    with pytest.raises(AssertionError, match="coords_aligned"):
        recursive_bisection(
            ids, lat, lon, e["tail"], e["head"], 8, coords_aligned=True
        )
    with pytest.raises(AssertionError, match="coords_aligned"):
        multilevel_finish_local(
            ids, lat, lon, e["tail"], e["head"], [8, 4], coords_aligned=True
        )


def test_bisect_once_rejects_edges_leaving_the_cell():
    v, e = unit_square_grid(4)
    ids = v["ids"][:-1]  # the last vertex's edges now leave the cell
    with pytest.raises(AssertionError, match="not a vertex of the cell"):
        bisect_once(ids, v["lat"][ids], v["lon"][ids], e["tail"], e["head"])


def test_recursive_bisection_rejects_nonterminating_config():
    v, e = unit_square_grid(4)
    with pytest.raises(ValueError):
        recursive_bisection(v["ids"], v["lat"], v["lon"], e["tail"], e["head"], 3)


def test_multilevel_grid_nesting_and_packing():
    v, e = unit_square_grid(16)  # 256 vertices
    cell_sizes = [8, 32, 128]
    assign, num_cells, stats = multilevel_partition_local(
        v["ids"], v["lat"], v["lon"], e["tail"], e["head"], cell_sizes
    )
    L, n = assign.shape
    assert L == 3 and n == 256
    # cell sizes respected (levels where partitioning happened)
    for lvl in range(L):
        counts = np.bincount(assign[lvl])
        nonzero = counts[counts > 0]
        assert nonzero.max() <= cell_sizes[lvl] or (
            lvl == L - 1 and n <= cell_sizes[lvl]
        )
    # nesting: level l cell maps to exactly one level l+1 cell
    for lvl in range(L - 1):
        pairs = {}
        for i in range(n):
            child, parent = int(assign[lvl, i]), int(assign[lvl + 1, i])
            assert pairs.setdefault(child, parent) == parent
    # packing round-trip
    packed = pack_cell_numbers(assign, num_cells)
    unpacked = unpack_cell_numbers(packed, num_cells)
    assert np.array_equal(unpacked, assign)
    # P9 bit layout: level-0 in the low bits
    off = pv_offsets(num_cells)
    assert off[0] == 0
    bits0 = off[1]
    assert np.array_equal(packed & ((1 << bits0) - 1), assign[0])


def test_multilevel_top_level_skip_when_small():
    v, e = unit_square_grid(4)  # 16 vertices
    assign, num_cells, _ = multilevel_partition_local(
        v["ids"], v["lat"], v["lon"], e["tail"], e["head"], [4, 64]
    )
    # top level: n=16 <= 64 -> single cell, no bisection
    assert num_cells[1] == 1
    assert set(assign[1].tolist()) == {0}
    # level 0 still partitions into cells < 4
    counts = np.bincount(assign[0], minlength=num_cells[0])
    assert counts.max() < 4


def test_multilevel_small_parent_produces_empty_cell():
    # a 2-vertex parent cell at a lower level degenerates to (empty, all):
    # numCells counts the empty cell (faithful to assignFinalPartition on
    # a 0-vertex side, recursiveBisection.go:127-136)
    ids = np.arange(2)
    lat = np.array([0.0, 1.0])
    lon = np.array([0.0, 1.0])
    tails, heads = np.array([0]), np.array([1])
    assign, num_cells, _ = multilevel_partition_local(
        ids, lat, lon, tails, heads, [8, 16]
    )
    assert num_cells[1] == 1  # top: single cell (2 <= 16)
    assert num_cells[0] == 2  # empty + all
    # both vertices in the non-empty cell, which sorts first
    assert set(assign[0].tolist()) == {0}


def test_multilevel_road_graph_properties():
    v, e = road_like_graph(400, seed=7)
    cell_sizes = [16, 64, 256]
    assign, num_cells, stats = multilevel_partition_local(
        v["ids"], v["lat"], v["lon"], e["tail"], e["head"], cell_sizes
    )
    n = len(v["ids"])
    for lvl in range(3):
        assert np.bincount(assign[lvl]).max() <= cell_sizes[lvl]
    # determinism: run again -> identical
    assign2, num_cells2, _ = multilevel_partition_local(
        v["ids"], v["lat"], v["lon"], e["tail"], e["head"], cell_sizes
    )
    assert np.array_equal(assign, assign2) and num_cells == num_cells2


def test_multilevel_finish_local_matches_full_oracle():
    """multilevel_finish_local (the one-pass multi-level finish kernel)
    must reproduce multilevel_partition_local's lower-level cells and
    numbering exactly when seeded with the oracle's top-level cells."""
    v, e = road_like_graph(300, seed=11)
    cell_sizes = [8, 32, 128]
    assign, num_cells, _ = multilevel_partition_local(
        v["ids"], v["lat"], v["lon"], e["tail"], e["head"], cell_sizes
    )
    ids = np.sort(v["ids"])
    L = len(cell_sizes)

    # rebuild the oracle's top-level cells, then finish levels 1..0 via
    # the finish kernel per top cell, concatenating in top-cell order
    top = [ids[assign[L - 1] == c] for c in range(num_cells[L - 1])]
    for level in (1, 0):
        got_cells: list[np.ndarray] = []
        for cell in top:
            per_level = multilevel_finish_local(
                cell, v["lat"], v["lon"], e["tail"], e["head"],
                [cell_sizes[lvl] for lvl in range(L - 2, level - 1, -1)],
            )
            got_cells.extend(per_level[-1])
        exp = {
            c: set(ids[assign[level] == c].tolist())
            for c in range(num_cells[level])
        }
        got = {i: set(c.tolist()) for i, c in enumerate(got_cells)}
        assert len(got_cells) == num_cells[level]
        assert {k: v_ for k, v_ in got.items() if v_} == {
            k: v_ for k, v_ in exp.items() if v_
        }
