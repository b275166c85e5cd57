"""Single-process multilevel partitioner + cell-number packing.

Local oracle for the distributed driver (operators/partitioner.py), and
the semantic source for golden fixtures. Mirrors
RunMultilevelPartitioning
(`/root/reference/pkg/partitioner/multilevel_partitioner.go:43-77`):

- top level (L-1): partition all vertices with U_{L-1} **only if**
  n > U_{L-1}, else a single cell holds everything
  (multilevel_partitioner.go:48-55);
- every lower level: run Partition() on *each* cell of the level above,
  unconditionally — even a 1-vertex cell gets one (degenerate) bisection
  (multilevel_partitioner.go:59-68), which is why empty cells appear;
- level-l cell ids are the concatenation of per-parent results in parent
  cell-id order (the append at :67).

``pack_cell_numbers`` is op P9 (io_writer.go:54-67):
pvOffset[l+1] = pvOffset[l] + ceil(log2(numCells[l])), level-0 id in the
low bits; values stay < 2^63 for the reference config (<= ~60 bits).
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from ..config import SOURCE_SINK_RATE
from .bisection import (
    CutStats,
    aligned_coords,
    bisection_tree,
    recursive_bisection,
    work_item,
)


def multilevel_partition_local(
    vertex_ids: np.ndarray,
    lat: np.ndarray,
    lon: np.ndarray,
    tails: np.ndarray,
    heads: np.ndarray,
    cell_sizes: list[int],
    rate: float = SOURCE_SINK_RATE,
) -> tuple[np.ndarray, list[int], list[CutStats]]:
    """Returns (assignment[level, vertex_pos] cell id aligned to sorted
    ``vertex_ids``; numCells per level incl. empty cells; stats).

    ``lat``/``lon`` are dense arrays indexed by original vertex id.
    ``cell_sizes`` is smallest (level 0) .. biggest (level L-1).
    """
    vertex_ids = np.sort(np.asarray(vertex_ids, dtype=np.int64))
    L = len(cell_sizes)
    n = len(vertex_ids)
    pos = {int(v): i for i, v in enumerate(vertex_ids)}
    assign = np.zeros((L, n), dtype=np.int64)
    num_cells = [0] * L
    stats: list[CutStats] = []

    # level L-1
    top_u = cell_sizes[L - 1]
    if n > top_u:
        res = recursive_bisection(vertex_ids, lat, lon, tails, heads, top_u, rate)
        stats.extend(res.stats)
        cells = res.cells
    else:
        cells = [vertex_ids]
    for cid, cell in enumerate(cells):
        for v in cell.tolist():
            assign[L - 1, pos[v]] = cid
    num_cells[L - 1] = len(cells)

    # lower levels: Partition() per parent cell, unconditionally
    for level in range(L - 2, -1, -1):
        u = cell_sizes[level]
        out_cells: list[np.ndarray] = []
        for cell in cells:
            if len(cell) == 0:
                # reference: Partition on an empty id list builds an empty
                # graph; the queue pops it, bisects the empty graph into
                # two empty sides -> two empty final cells
                out_cells.extend([np.empty(0, dtype=np.int64)] * 2)
                continue
            res = recursive_bisection(cell, lat, lon, tails, heads, u, rate)
            stats.extend(res.stats)
            out_cells.extend(res.cells)
        for cid, cell in enumerate(out_cells):
            for v in cell.tolist():
                assign[level, pos[v]] = cid
        num_cells[level] = len(out_cells)
        cells = out_cells

    return assign, num_cells, stats


def multilevel_finish_local(
    vertex_ids: np.ndarray,
    lat_by_vertex,
    lon_by_vertex,
    tails: np.ndarray,
    heads: np.ndarray,
    cell_sizes_desc: list[int],
    rate: float = SOURCE_SINK_RATE,
    coords_aligned: bool = False,
    workers: int | None = None,
) -> list[list[tuple[list[np.ndarray], int]]]:
    """Complete the recursion for ONE cell across its own level and
    every level below in a single local pass (the Spark finish kernel).

    ``cell_sizes_desc`` lists the levels' max cell sizes from the cell's
    own level DOWN to level 0 (e.g. [U_2, U_1, U_0]). Per level, per
    parent: ``bisection_tree`` already emits children in the frozen
    relabel order (non-empty by min original vertex id, then empties —
    SURVEY.md §7), and an EMPTY parent contributes 2 empty children in
    place (Partition on an empty graph, multilevel_partitioner.go:59-68);
    concatenating children in parent order therefore reproduces
    ``multilevel_partition_local``'s (and the distributed relabel's)
    numbering exactly, offset by the count of cells in preceding cells
    (added by the Spark driver).

    Coordinates are read as in ``bisection.aligned_coords``. Each final
    cell comes back from ``bisection_tree`` as a work item that already
    carries its own edges in local indices, so it seeds the next level
    as-is: the entering cell's edges are filtered and remapped once.

    ``workers`` is the thread budget (None = one tree at a time, each
    with ``bisection_tree``'s default pool): the k independent
    per-parent trees of a level run on up to ``workers`` threads at
    once, each with ``workers // k`` threads for its own DAG pool, so
    the one tree of the cell's own level gets all of them.

    Returns, per level in ``cell_sizes_desc`` order, one
    (non-empty children as ascending-id arrays, number of empty
    children) pair per parent, parents in the frozen order.
    """
    ids, lat, lon = aligned_coords(
        vertex_ids, lat_by_vertex, lon_by_vertex, coords_aligned
    )
    items = [work_item(ids, lat, lon, tails, heads)]
    empty = tuple(a[:0] for a in items[0])
    per_level: list[list[tuple[list[np.ndarray], int]]] = []
    for u in cell_sizes_desc:
        inner = workers if workers is None else max(1, workers // len(items))

        def tree(item):
            if len(item[0]) == 0:
                return [], 2
            finals, n_empty, _ = bisection_tree(item, u, rate, inner)
            return finals, n_empty

        with ThreadPoolExecutor(max(1, min(workers or 1, len(items)))) as pool:
            trees = list(pool.map(tree, items))
        per_level.append([([f[0] for f in finals], ne) for finals, ne in trees])
        items = [c for finals, ne in trees for c in finals + [empty] * ne]
    return per_level


def pv_offsets(num_cells: list[int]) -> list[int]:
    """pvOffset per io_writer.go:54-57; ceil(log2(1)) == 0 bits."""
    off = [0]
    for c in num_cells:
        bits = 0 if c <= 1 else math.ceil(math.log2(c))
        off.append(off[-1] + bits)
    if off[-1] > 62:
        raise ValueError(f"packed cell number needs {off[-1]} bits > 62")
    return off


def pack_cell_numbers(assign: np.ndarray, num_cells: list[int]) -> np.ndarray:
    """cellNumbers[v] |= cellId(level) << pvOffset[level] (io_writer.go:61-67)."""
    off = pv_offsets(num_cells)
    packed = np.zeros(assign.shape[1], dtype=np.int64)
    for level in range(assign.shape[0]):
        packed |= assign[level] << np.int64(off[level])
    return packed


def unpack_cell_numbers(packed: np.ndarray, num_cells: list[int]) -> np.ndarray:
    """Inverse of pack_cell_numbers (property-test aid)."""
    off = pv_offsets(num_cells)
    L = len(num_cells)
    out = np.zeros((L, len(packed)), dtype=np.int64)
    for level in range(L):
        bits = off[level + 1] - off[level]
        mask = (1 << bits) - 1
        out[level] = (packed >> np.int64(off[level])) & np.int64(mask)
    return out
