"""Recursive bisection (kernel + single-process oracle).

``bisect_once`` is the unit of work both for the local oracle and for
the Spark cogrouped-``applyInPandas`` kernel: one balanced min-cut of one
cell. ``recursive_bisection`` is the single-process driver mirroring
RecursiveBisection.Partition
(`/root/reference/pkg/partitioner/recursiveBisection.go:37-66`):

- the initial cell is always bisected once (queue seeded with it);
- a side is re-bisected while size >= maximumCellSize ("tooSmall" is a
  strict <, recursiveBisection.go:48-50);
- the degenerate n <= 3 case (int(n*0.25) == 0 endpoints) produces an
  (empty, all) split — the empty side still consumes a final cell id
  (assignFinalPartition on a 0-vertex graph, recursiveBisection.go:127-136),
  so empty cells exist and count toward numCells, exactly as in the
  reference.

Final cell numbering: the reference assigns ids in FIFO completion order
under a mutex — deterministic only because its driver is sequential. We
freeze the SURVEY.md §7 rule instead: within one Partition() call,
non-empty final cells are ordered by their minimum original vertex id,
empty cells after them (in creation order). The cell *sets* are
identical to the reference's; only the labels are canonicalized.
"""

from __future__ import annotations

import os
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

import numpy as np

from ..config import SOURCE_SINK_RATE
from .inertial import best_inertial_cut
from .maxflow import FlowGraph


@dataclass
class CutStats:
    """Per-bisection metrics (lineage / invariant checks)."""

    n: int
    cut_edges: int
    part_two: int
    best_job: int
    round: int = 0


def _bisect_local(
    n: int,
    lat: np.ndarray,
    lon: np.ndarray,
    lt: np.ndarray,
    lh: np.ndarray,
    rate: float,
    jobs_workers: int | None = None,
) -> tuple[np.ndarray, CutStats]:
    """Core of ``bisect_once`` over LOCAL edge indices (0..n-1): the
    recursion below carries local indices down instead of re-deriving
    them per cell via searchsorted over original ids — the remap was a
    co-dominant cost of big finish kernels once the flow search itself
    was compiled (round 6). Same graph, same cut, same stats."""
    graph = FlowGraph.from_directed_edges(n, lt, lh)
    flags, part_two, cut, job = best_inertial_cut(
        graph, lat, lon, rate, jobs_workers=jobs_workers
    )
    side = (~flags).astype(np.int8)
    return side, CutStats(n=n, cut_edges=cut, part_two=part_two, best_job=job)


def bisect_once(
    vertex_ids: np.ndarray,
    lat: np.ndarray,
    lon: np.ndarray,
    tails: np.ndarray,
    heads: np.ndarray,
    rate: float = SOURCE_SINK_RATE,
    jobs_workers: int | None = None,
) -> tuple[np.ndarray, CutStats]:
    """Bisect one cell. Inputs use *original* vertex ids:

    - ``vertex_ids`` MUST be ascending (the frozen local-id order: every
      reference subgraph inherits ascending-original-id local order from
      the Partition() root, see buildInitialPartitionGraph
      recursiveBisection.go:138-165 + applyBisection id remap :75-122);
    - ``(tails, heads)`` is the directed edge list sorted by
      (tail, original edge id) — the CSR iteration order of
      ForOutEdgesOfVertex. Edges with an endpoint outside the cell must
      already be dropped (the J3 semi-join, recursiveBisection.go:155-159).

    ``jobs_workers`` caps the direction-job thread pool, as in
    ``best_inertial_cut`` (None = its size-gated auto policy).

    Returns (side array: 0 = partition one / source side, 1 = partition
    two; stats).
    """
    n = len(vertex_ids)
    lt = np.searchsorted(vertex_ids, tails)
    lh = np.searchsorted(vertex_ids, heads)
    assert np.array_equal(vertex_ids[np.minimum(lt, n - 1)], tails) and (
        np.array_equal(vertex_ids[np.minimum(lh, n - 1)], heads)
    ), "bisect_once: an edge endpoint is not a vertex of the cell"
    return _bisect_local(n, lat, lon, lt, lh, rate, jobs_workers=jobs_workers)


@dataclass
class BisectionResult:
    # list of final cells, each an ascending array of original vertex ids;
    # relabeled: non-empty by min original id, then empty cells
    cells: list[np.ndarray] = field(default_factory=list)
    stats: list[CutStats] = field(default_factory=list)


def aligned_coords(
    vertex_ids, lat_by_vertex, lon_by_vertex, coords_aligned: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ascending ids, lat, lon) with the coordinates aligned to the ids.

    ``lat_by_vertex``/``lon_by_vertex`` may be dense arrays indexed by
    original vertex id, or dicts — or, with ``coords_aligned=True``,
    arrays already aligned to ``np.sort(vertex_ids)`` (the cogroup
    kernels hold exactly that, so no dict build / id-indexed gather)."""
    ids = np.sort(np.asarray(vertex_ids, dtype=np.int64))
    if coords_aligned:
        lat = np.asarray(lat_by_vertex, dtype=np.float64)
        lon = np.asarray(lon_by_vertex, dtype=np.float64)
        assert len(lat) == len(lon) == len(ids), (
            "coords_aligned: lat/lon must align to np.sort(vertex_ids)"
        )
    elif isinstance(lat_by_vertex, dict):
        lat = np.array([lat_by_vertex[int(v)] for v in ids], dtype=np.float64)
        lon = np.array([lon_by_vertex[int(v)] for v in ids], dtype=np.float64)
    else:
        lat = np.asarray(lat_by_vertex, dtype=np.float64)[ids]
        lon = np.asarray(lon_by_vertex, dtype=np.float64)[ids]
    return ids, lat, lon


def work_item(ids, lat, lon, tails, heads) -> tuple:
    """The work item of one cell: (ascending original ids, lat, lon,
    local tails, local heads). Edges leaving the cell are dropped (the
    J3 semi-join, as in buildInitialPartitionGraph) and the (tail, edge
    id) order of the input is kept."""
    tails = np.asarray(tails, dtype=np.int64)
    heads = np.asarray(heads, dtype=np.int64)
    member = np.isin(tails, ids) & np.isin(heads, ids)
    return (
        ids, lat, lon,
        np.searchsorted(ids, tails[member]),
        np.searchsorted(ids, heads[member]),
    )


def _bisect_item(item, rate: float) -> tuple[CutStats, tuple, tuple]:
    """Bisect one work item; returns (stats, side-one child, side-two
    child), each child a work item of its own."""
    cell, lat_c, lon_c, lt, lh = item
    side, stats = _bisect_local(len(cell), lat_c, lon_c, lt, lh, rate)
    # split the parent's edges by the side of BOTH endpoints — cross-cut
    # edges drop, exactly the J3 filter of the child
    st = side[lt]
    same = st == side[lh]
    one_e = same & (st == 0)
    two_e = same & (st == 1)
    # local indices remap to each child by cumulative rank of its side —
    # monotone in parent-local index, hence in original id, so the
    # frozen ascending order is preserved
    one_v = side == 0
    two_v = ~one_v
    new1 = np.cumsum(one_v) - 1
    new2 = np.cumsum(two_v) - 1
    return (
        stats,
        (cell[one_v], lat_c[one_v], lon_c[one_v], new1[lt[one_e]], new1[lh[one_e]]),
        (cell[two_v], lat_c[two_v], lon_c[two_v], new2[lt[two_e]], new2[lh[two_e]]),
    )


def _run_now(fn, *args) -> Future:
    """The inline executor: run ``fn`` on the calling thread."""
    fut: Future = Future()
    fut.set_result(fn(*args))
    return fut


def bisection_tree(
    item, max_cell_size: int, rate: float, workers: int | None = None
) -> tuple[list[tuple], int, list[CutStats]]:
    """Single-process Partition() (recursiveBisection.go:37-66) of one
    work item: re-bisect every side of size >= ``max_cell_size``.

    Returns (final non-empty work items ordered by min original id,
    number of empty cells, stats in round-by-round generation order).

    Cells are independent (identical cut set to the reference FIFO), so
    the bisection TREE runs as a task DAG: each child is submitted the
    moment its parent finishes, and one slow branch never barriers the
    others. A big entering cell (>= 32768 vertices — the raised finish
    threshold hands a whole level's recursion to ONE Spark task) runs
    the DAG on a pool of ``workers`` threads (None = min(16,
    cpu_count); the compiled Dinic releases the GIL); a smaller one, the
    many-concurrent-tasks regime, runs it on the inline executor. Stats
    are sorted by the (round, heap index) key — children 2h/2h+1 of
    increasing parent h sort ascending, which IS the round-by-round
    generation order — so the sequence does not depend on the executor.
    Without a C compiler the pool runs the GIL-bound numpy engine: same
    results, no speedup."""
    if max_cell_size <= 3:
        raise ValueError(
            "max_cell_size <= 3 does not terminate in the reference "
            "(int(n*0.25) == 0 endpoints on an oversized cell)"
        )
    if workers is None:
        workers = min(16, os.cpu_count() or 4)
    pool = (
        ThreadPoolExecutor(max_workers=workers)
        if len(item[0]) >= 32768 and workers > 1
        else None
    )
    submit = _run_now if pool is None else pool.submit
    pending: dict = {}
    recorded: list[tuple[int, int, CutStats]] = []
    finals: list[tuple] = []
    n_empty = 0
    try:
        # per-cell direction jobs keep the size-gated auto policy of
        # best_inertial_cut: the mild oversubscription measured FASTER
        # than budgeting the inner pool by active-cell count
        pending[submit(_bisect_item, item, rate)] = (0, 1)
        while pending:
            done, _ = wait(list(pending), return_when=FIRST_COMPLETED)
            for fut in done:
                rnd, hidx = pending.pop(fut)
                stats, *children = fut.result()
                stats.round = rnd
                recorded.append((rnd, hidx, stats))
                for ci, child in enumerate(children):
                    if len(child[0]) == 0:
                        n_empty += 1  # empty side still consumes a cell id
                    elif len(child[0]) < max_cell_size:
                        finals.append(child)
                    else:
                        pending[submit(_bisect_item, child, rate)] = (
                            rnd + 1, 2 * hidx + ci,
                        )
    finally:
        if pool is not None:
            pool.shutdown(wait=False, cancel_futures=True)
    recorded.sort(key=lambda t: (t[0], t[1]))
    finals.sort(key=lambda c: int(c[0][0]))  # min original id (ascending arrays)
    return finals, n_empty, [s for _, _, s in recorded]


def recursive_bisection(
    vertex_ids: np.ndarray,
    lat_by_vertex: dict[int, float] | np.ndarray,
    lon_by_vertex: dict[int, float] | np.ndarray,
    tails: np.ndarray,
    heads: np.ndarray,
    max_cell_size: int,
    rate: float = SOURCE_SINK_RATE,
    pool_workers: int | None = None,
    coords_aligned: bool = False,
) -> BisectionResult:
    """Partition() of one cell through ``bisection_tree``.

    ``pool_workers`` caps the big-cell DAG pool (None = min(16,
    cpu_count)). Coordinates are read as in ``aligned_coords``. ``tails``/
    ``heads`` use original ids sorted by (tail, edge id) and may contain
    edges leaving the cell (they are filtered here, as in
    buildInitialPartitionGraph).
    """
    ids, lat, lon = aligned_coords(
        vertex_ids, lat_by_vertex, lon_by_vertex, coords_aligned
    )
    finals, n_empty, stats = bisection_tree(
        work_item(ids, lat, lon, tails, heads), max_cell_size, rate,
        pool_workers,
    )
    empty = np.empty(0, dtype=np.int64)
    return BisectionResult([f[0] for f in finals] + [empty] * n_empty, stats)
