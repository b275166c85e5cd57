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

    def assignment(self, num_vertices_hint: int | None = None) -> dict[int, int]:
        out: dict[int, int] = {}
        for cid, cell in enumerate(self.cells):
            for v in cell.tolist():
                out[v] = cid
        return out


def _edges_within(
    cell: np.ndarray, tails: np.ndarray, heads: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Keep edges with both endpoints in ``cell`` (J3 semi-join filter),
    preserving the (tail, edge id) order of the input arrays."""
    member = np.isin(tails, cell) & np.isin(heads, cell)
    return tails[member], heads[member]


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
    """Single-process Partition() (recursiveBisection.go:37-66), executed
    as rounds (identical cut set to the FIFO queue — each bisection is
    independent of the others).

    ``pool_workers`` caps the big-cell round pool (None = min(16,
    cpu_count)); the Spark driver passes its cores-per-concurrent-task
    estimate so several promoted finish tasks don't oversubscribe the
    host.

    ``lat_by_vertex``/``lon_by_vertex`` may be dense arrays indexed by
    original vertex id, or dicts — or, with ``coords_aligned=True``,
    arrays already aligned to ``np.sort(vertex_ids)`` (the cogroup
    kernels hold exactly that, so no dict build / id-indexed gather).
    ``tails``/``heads`` use original ids sorted by (tail, edge id) and
    may contain edges leaving the cell (they are filtered here, as in
    buildInitialPartitionGraph).
    """
    if max_cell_size <= 3:
        raise ValueError(
            "max_cell_size <= 3 does not terminate in the reference "
            "(int(n*0.25) == 0 endpoints on an oversized cell)"
        )

    vertex_ids = np.sort(np.asarray(vertex_ids, dtype=np.int64))
    # Align coordinates to the sorted root ids ONCE — the former per-cell
    # dict/dense lookup paid a Python loop (or a huge-index gather) per
    # cell per round; a positional searchsorted gather is pure numpy.
    if coords_aligned:
        root_lat = np.asarray(lat_by_vertex, dtype=np.float64)
        root_lon = np.asarray(lon_by_vertex, dtype=np.float64)
        assert len(root_lat) == len(root_lon) == len(vertex_ids), (
            "coords_aligned: lat/lon must align to np.sort(vertex_ids)"
        )
    elif isinstance(lat_by_vertex, dict):
        root_lat = np.array(
            [lat_by_vertex[int(v)] for v in vertex_ids], dtype=np.float64
        )
        root_lon = np.array(
            [lon_by_vertex[int(v)] for v in vertex_ids], dtype=np.float64
        )
    else:
        root_lat = np.asarray(lat_by_vertex, dtype=np.float64)[vertex_ids]
        root_lon = np.asarray(lon_by_vertex, dtype=np.float64)[vertex_ids]

    result = BisectionResult()
    final_nonempty: list[np.ndarray] = []
    n_empty = 0
    # Work items carry (original ids ascending, lat, lon, local tails,
    # local heads): a child's edges AND their local indices derive from
    # its parent's via the cut-side split below, so the former per-cell
    # `_edges_within` rescan of the FULL root edge list every round —
    # O(E log n) x 2^round — and the per-cell original-id searchsorted
    # remaps (bisect_once + the side gathers; the dominant numpy cost
    # of a big finish kernel after the flow search was compiled) are
    # both one O(n + E_parent) split per bisection.
    t0, h0 = _edges_within(vertex_ids, tails, heads)
    lt0 = np.searchsorted(vertex_ids, t0)
    lh0 = np.searchsorted(vertex_ids, h0)
    active: list[tuple] = [(vertex_ids, root_lat, root_lon, lt0, lh0)]

    workers = (
        min(16, os.cpu_count() or 4) if pool_workers is None else pool_workers
    )

    def bisect_cell(item, jobs_workers):
        cell, lat_c, lon_c, lt, lh = item
        n_c = len(cell)
        side, stats = _bisect_local(
            n_c, lat_c, lon_c, lt, lh, rate, jobs_workers=jobs_workers
        )
        # split the parent's edges by the side of BOTH endpoints —
        # cross-cut edges drop, exactly what _edges_within(child) kept
        st = side[lt]
        sh = side[lh]
        same = st == sh
        one_e = same & (st == 0)
        two_e = same & (st == 1)
        # local indices remap to each child by cumulative rank of its
        # side — monotone in parent-local index, hence in original id,
        # so the frozen ascending order is preserved
        one_v = side == 0
        two_v = ~one_v
        new1 = np.cumsum(one_v) - 1
        new2 = np.cumsum(two_v) - 1
        return (
            stats,
            (cell[one_v], lat_c[one_v], lon_c[one_v], new1[lt[one_e]], new1[lh[one_e]]),
            (cell[two_v], lat_c[two_v], lon_c[two_v], new2[lt[two_e]], new2[lh[two_e]]),
        )

    # Cells are independent (identical cut set to the reference FIFO);
    # for a big entering cell — the raised finish threshold hands a
    # whole level's recursion to ONE Spark task — the bisection TREE is
    # executed as a task DAG on a thread pool: each child is submitted
    # the moment its parent finishes (the compiled Dinic releases the
    # GIL), so one slow branch no longer barriers the whole round (the
    # former per-round pool.map lost ~15-20% of the wall to stragglers).
    # Stats are re-sorted to the exact BFS order afterwards via the
    # (round, heap index) key — children 2h/2h+1 of increasing parent h
    # sort ascending, which IS the old round-by-round generation order —
    # so the emitted sequence is bit-identical to the serial loop.
    # Small entering cells (the many-concurrent-tasks regime, e.g. the
    # multilevel finish) stay fully serial — no pool, no
    # oversubscription. Without a C compiler the pool runs the GIL-bound
    # numpy engine: same results, no speedup.
    if len(vertex_ids) >= 32768 and workers > 1:
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        pool = ThreadPoolExecutor(max_workers=workers)
        try:
            # per-cell direction jobs keep the size-gated auto policy
            # (10-way pool on >= PARALLEL_JOBS_MIN_N cells): the mild
            # oversubscription measured FASTER than budgeting the inner
            # pool by active-cell count — the C kernel releases the GIL
            # and idle-thread cost is noise next to barrier loss.
            pending: dict = {}
            recorded: list[tuple[int, int, CutStats]] = []

            def submit(item, rnd: int, hidx: int) -> None:
                fut = pool.submit(bisect_cell, item, None)
                pending[fut] = (rnd, hidx)

            submit(active[0], 0, 1)
            while pending:
                done, _ = wait(list(pending), return_when=FIRST_COMPLETED)
                for fut in done:
                    rnd, hidx = pending.pop(fut)
                    stats, one_item, two_item = fut.result()
                    stats.round = rnd
                    recorded.append((rnd, hidx, stats))
                    for ci, part in enumerate((one_item, two_item)):
                        if len(part[0]) == 0:
                            n_empty += 1  # empty side still consumes an id
                        elif len(part[0]) < max_cell_size:
                            final_nonempty.append(part[0])
                        else:
                            submit(part, rnd + 1, 2 * hidx + ci)
            recorded.sort(key=lambda t: (t[0], t[1]))
            result.stats.extend(s for _, _, s in recorded)
        finally:
            pool.shutdown(wait=False, cancel_futures=True)
    else:
        rnd = 0
        while active:
            outs = [bisect_cell(item, None) for item in active]
            nxt: list[tuple] = []
            for stats, one_item, two_item in outs:
                stats.round = rnd
                result.stats.append(stats)
                for part in (one_item, two_item):
                    if len(part[0]) == 0:
                        n_empty += 1  # empty side still consumes a cell id
                    elif len(part[0]) < max_cell_size:
                        final_nonempty.append(part[0])
                    else:
                        nxt.append(part)
            active = nxt
            rnd += 1

    final_nonempty.sort(key=lambda c: int(c[0]))  # min original id (ascending arrays)
    result.cells = final_nonempty + [
        np.empty(0, dtype=np.int64) for _ in range(n_empty)
    ]
    return result
