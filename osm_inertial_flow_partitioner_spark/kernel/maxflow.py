"""Unit-capacity Dinic max-flow / min-cut kernel (numpy, executor-local).

Re-expresses the semantics of the reference Go implementation:

- undirected unit-capacity edge pairs with the reverse edge at ``id ^ 1``
  (`/root/reference/pkg/datastructure/partition_graph.go:216-229`);
- super-source/super-sink augmentation with INF(=1e9)-capacity
  *undirected* edge pairs (`partition_graph.go:231-244`,
  `pkg/partitioner/helper.go:30-45`, CLRS §26.1);
- BFS level graph + current-arc DFS blocking flow
  (`pkg/partitioner/dinic_sources_sinks.go:12-73`);
- source-side cut flags = vertices still BFS-reachable in the final
  residual graph, excluding the two artificial vertices; cut-edge count =
  max flow (`dinic_sources_sinks.go:75-102`, `dinic.go:169-178`).

Determinism (frozen per SURVEY.md §7): adjacency order is edge-insertion
order. Because edge ids are assigned in insertion order and each edge id
is appended to exactly one vertex's list at creation time, a vertex's
adjacency equals "all edge ids with tail == vertex, ascending" — so the
CSR is one stable argsort, no per-edge Python.

The reference BFS breaks early when the target is *popped*
(`dinic_sources_sinks.go:29-31`). At that point every node at distance
<= dist(t) already has its exact level (FIFO order), and deeper nodes —
INVALID there, finite level here — can never lie on a level-increasing
path ending at t, and get skipped (there) or explored-and-dead-ended
(here) with the same net arc advancement at their parents. The blocking
flow and the final (failing, hence break-free) BFS flags are therefore
identical; we run full BFS, which vectorizes.

``min_cut`` runs the compiled twin of this Dinic (kernel/cdinic.py)
when it builds; this numpy Dinic is the test oracle and the fallback
for a host without a C compiler.
"""

from __future__ import annotations

import numpy as np

from ..config import INF_CAPACITY

INVALID_LEVEL = np.iinfo(np.int64).max  # reference: 9e9 (partitioner/constant.go:4)


class FlowGraph:
    """Flow graph topology for one cell (real edges only).

    Construct via ``from_directed_edges`` with the directed edge list in
    reference iteration order (ascending tail, then original edge id —
    matching ForOutEdgesOfVertex CSR order in buildInitialPartitionGraph,
    recursiveBisection.go:154-161). Each directed edge (u, v), u != v,
    becomes an undirected unit pair: forward u->v at id 2k, reverse v->u
    at id 2k+1 (PartitionGraph.AddEdge semantics). A bidirectional
    original road contributes capacity 2 per direction, as in the
    reference.
    """

    def __init__(self, n: int, eu: np.ndarray, ev: np.ndarray):
        self.n = n
        self.eu = eu  # interleaved (u,v),(v,u) pairs; len = 2 * #directed edges
        self.ev = ev
        # cached across extended() calls (one per direction job): the
        # stable argsort of the base arcs and their sorted keys — the
        # per-job CSR is then a two-sorted-sequence merge instead of a
        # full argsort of base + artificial arcs
        self._base_order: np.ndarray | None = None
        self._base_keys: np.ndarray | None = None
        self._base_csr: tuple[np.ndarray, np.ndarray] | None = None

    def base_csr(self) -> tuple[np.ndarray, np.ndarray]:
        """(off, flat) CSR over the REAL arcs only, cached per cell —
        the implicit-terminal compiled kernel reuses it across all 10
        direction jobs, so a job costs zero numpy graph construction."""
        if self._base_csr is None:
            if self._base_order is None:
                self._base_order = np.argsort(self.eu, kind="stable")
                self._base_keys = self.eu[self._base_order]
            counts = np.bincount(self.eu, minlength=self.n)
            off = np.zeros(self.n + 1, dtype=np.int64)
            np.cumsum(counts, out=off[1:])
            self._base_csr = (off, self._base_order)
        return self._base_csr

    @classmethod
    def from_directed_edges(
        cls, n: int, tails: np.ndarray, heads: np.ndarray
    ) -> "FlowGraph":
        tails = np.asarray(tails, dtype=np.int64)
        heads = np.asarray(heads, dtype=np.int64)
        keep = tails != heads  # AddEdge skips self-loops (partition_graph.go:217-219)
        tails, heads = tails[keep], heads[keep]
        m = len(tails)
        eu = np.empty(2 * m, dtype=np.int64)
        ev = np.empty(2 * m, dtype=np.int64)
        eu[0::2] = tails
        ev[0::2] = heads
        eu[1::2] = heads
        ev[1::2] = tails
        return cls(n, eu, ev)

    def extended(self, sources: np.ndarray, sinks: np.ndarray) -> "_ExtGraph":
        """Per-job state with artificial source (local id n) and sink
        (n+1) and INF undirected pairs appended in source order then sink
        order (createArtificialSourceSink, helper.go:30-45)."""
        n = self.n
        s, t = n, n + 1
        sources = np.asarray(sources, dtype=np.int64)
        sinks = np.asarray(sinks, dtype=np.int64)
        m0 = len(self.eu)
        ns, nt = len(sources), len(sinks)
        m = m0 + 2 * (ns + nt)
        eu = np.empty(m, dtype=np.int64)
        ev = np.empty(m, dtype=np.int64)
        ecap = np.ones(m, dtype=np.int64)
        eu[:m0] = self.eu
        ev[:m0] = self.ev
        i = m0 + 2 * np.arange(ns)
        eu[i], ev[i] = s, sources  # s -> src (INF)
        eu[i + 1], ev[i + 1] = sources, s  # src -> s (INF; AddInfEdge reverse)
        base = m0 + 2 * ns
        j = base + 2 * np.arange(nt)
        eu[j], ev[j] = sinks, t  # sink -> t (INF)
        eu[j + 1], ev[j + 1] = t, sinks  # t -> sink (INF)
        ecap[m0:] = INF_CAPACITY

        # per-vertex insertion order == stable sort by eu. The base part
        # is job-invariant: cache its argsort and MERGE the (sorted-by-
        # construction after their own small argsort) artificial arcs in,
        # instead of re-sorting all m arcs per direction job.
        if self._base_order is None:
            self._base_order = np.argsort(self.eu, kind="stable")
            self._base_keys = self.eu[self._base_order]
        extra_order = np.argsort(eu[m0:], kind="stable")
        extra_keys = eu[m0:][extra_order]
        # stable merge, base arcs first on equal keys (lower edge ids)
        pos_base = np.arange(m0, dtype=np.int64) + np.searchsorted(
            extra_keys, self._base_keys, side="left"
        )
        pos_extra = np.arange(len(extra_keys), dtype=np.int64) + np.searchsorted(
            self._base_keys, extra_keys, side="right"
        )
        order = np.empty(m, dtype=np.int64)
        order[pos_base] = self._base_order
        order[pos_extra] = m0 + extra_order
        counts = np.bincount(eu, minlength=n + 2)
        off = np.zeros(n + 3, dtype=np.int64)
        np.cumsum(counts, out=off[1:])
        return _ExtGraph(n + 2, eu, ev, ecap, off, order)


class _ExtGraph:
    """CSR topology + mutable per-run flow state."""

    def __init__(self, n, eu, ev, ecap, off, flat):
        self.n = n
        self.eu = eu
        self.ev = ev
        self.ecap = ecap
        self.off = off  # len n+1 (one spare slot unused)
        self.flat = flat  # edge ids, adjacency-concatenated
        self.eflow = np.zeros(len(eu), dtype=np.int64)
        self.level = np.full(n, INVALID_LEVEL, dtype=np.int64)
        # list-mirror caches for the blocking-flow hot loop
        self._ev_list = None
        self._ecap_list = None
        self._eflow_list = None


def _bfs_levels(g: _ExtGraph, s: int, t: int) -> bool:
    """Vectorized full BFS on the residual graph (bfsLevelGraph,
    dinic_sources_sinks.go:12-45; see module docstring for the
    early-break equivalence argument)."""
    g.level.fill(INVALID_LEVEL)
    g.level[s] = 0
    frontier = np.array([s], dtype=np.int64)
    lvl = 0
    ev, ecap, eflow, off, flat, level = g.ev, g.ecap, g.eflow, g.off, g.flat, g.level
    while frontier.size:
        starts = off[frontier]
        counts = off[frontier + 1] - starts
        total = int(counts.sum())
        if total == 0:
            break
        base = np.repeat(starts, counts)
        step = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(counts) - counts, counts
        )
        eidx = flat[base + step]
        tgt = ev[eidx]
        ok = (ecap[eidx] - eflow[eidx] > 0) & (level[tgt] == INVALID_LEVEL)
        tgt = tgt[ok]
        if tgt.size == 0:
            break
        lvl += 1
        level[tgt] = lvl
        frontier = np.unique(tgt)
    return level[t] != INVALID_LEVEL


def _blocking_flow_phase(g: _ExtGraph, s: int, t: int) -> int:
    """One full blocking-flow phase: repeated current-arc DFS until no
    augmenting path remains (the inner loop of
    computeMinCutSuperSourceSink, dinic_sources_sinks.go:83-90).

    EXACT-equivalence speedup: the set of *admissible* arcs
    (level[v] == level[u]+1 and residual > 0) can only SHRINK during a
    phase — levels only change to INVALID (dead-end kills), residual
    only changes on pushed path edges (which become saturated) and their
    reverses (whose level relation level[u] = level[v]-1 makes them
    inadmissible this phase by construction). So we pre-filter each
    vertex's adjacency to its phase-start admissible arcs *in original
    order* (vectorized numpy) and let the Python DFS scan only those,
    re-checking level (dead-end kills) and residual (saturation) — the
    sequence of chosen arcs, and hence the augmenting paths and the
    final flow, are identical to the reference's full scan.
    """
    level_np = g.level
    eu, ev_np, ecap_np, eflow_np, off_np, flat_np = (
        g.eu, g.ev, g.ecap, g.eflow, g.off, g.flat,
    )
    adm = (level_np[eu] + 1 == level_np[ev_np]) & (ecap_np > eflow_np)
    adm_flat = adm[flat_np]
    flat2_np = flat_np[adm_flat]
    # per-vertex admissible counts via prefix sums over the flat order
    pref = np.zeros(len(adm_flat) + 1, dtype=np.int64)
    np.cumsum(adm_flat, out=pref[1:])
    off2_np = pref[off_np[: g.n + 1]]

    # hot-loop state as Python lists (list indexing is several times
    # faster than numpy scalar indexing); static topology lists and the
    # authoritative eflow list are cached on the graph across phases
    if g._ev_list is None:
        g._ev_list = g.ev.tolist()
        g._ecap_list = g.ecap.tolist()
        g._eflow_list = g.eflow.tolist()
    ev = g._ev_list
    ecap = g._ecap_list
    eflow = g._eflow_list
    flat2 = flat2_np.tolist()
    off2 = off2_np.tolist()
    level = level_np.tolist()
    last = [0] * g.n  # resetCurrentEdges (dinic.go:126-130)
    pushed: list[int] = []
    deltas: list[int] = []

    total = 0
    INVALID = INVALID_LEVEL
    while True:
        stack = [s]
        path: list[int] = []
        f = 0
        while stack:
            u = stack[-1]
            if u == t:
                f = min(ecap[e] - eflow[e] for e in path)
                for e in path:
                    eflow[e] += f
                    eflow[e ^ 1] -= f
                    pushed.append(e)
                    deltas.append(f)
                break
            nxt = level[u] + 1
            base = off2[u]
            end = off2[u + 1]
            j = last[u]
            advanced = False
            while base + j < end:
                e = flat2[base + j]
                v = ev[e]
                if level[v] == nxt and ecap[e] > eflow[e]:
                    stack.append(v)
                    path.append(e)
                    advanced = True
                    break
                j += 1
            last[u] = j
            if not advanced:
                level[u] = INVALID
                stack.pop()
                if path:
                    path.pop()
                    last[stack[-1]] += 1
        if f == 0:
            break
        total += f

    # mirror flow deltas back into the numpy state for the next BFS
    if pushed:
        ids = np.asarray(pushed, dtype=np.int64)
        dl = np.asarray(deltas, dtype=np.int64)
        np.add.at(eflow_np, ids, dl)
        np.add.at(eflow_np, ids ^ 1, -dl)
    # levels are reset by the next BFS; no write-back needed
    return total


def dinic_unit_terminal_min_cut(
    base: FlowGraph, sources: np.ndarray, sinks: np.ndarray
) -> tuple[np.ndarray, int, int, None]:
    """Production engine: implicit-terminal unit-capacity compiled
    Dinic (kernel/cdinic.py), the counterpart of the reference's
    border-nodes variant — the super source/sink and their INF arcs are
    never materialized. The base CSR is built once per cell and reused
    by every direction job, so a job costs zero numpy graph
    construction. Flags/value equal ``dinic_min_cut``'s: the max-flow
    value is unique and the flags are the unique minimal min cut of ANY
    max flow (Picard & Queyranne 1980). Terminals must be disjoint
    (guaranteed by the 25%-extremes selection). Returns None in the
    graph slot — flow state stays inside the C call; use
    ``dinic_min_cut`` when ``validate_min_cut`` is needed."""
    from . import cdinic

    off, flat = base.base_csr()
    sources = np.asarray(sources, dtype=np.int64)
    is_snk = np.zeros(base.n, dtype=np.uint8)
    is_snk[np.asarray(sinks, dtype=np.int64)] = 1
    max_flow, level = cdinic.dinic_unit_terminal_c(
        base.n, base.ev, off, flat, sources, is_snk
    )
    flags = level >= 0
    part_two = int(base.n) - int(flags.sum())
    return flags, part_two, max_flow, None


def dinic_min_cut(
    base: FlowGraph, sources: np.ndarray, sinks: np.ndarray
) -> tuple[np.ndarray, int, int, "_ExtGraph"]:
    """computeMinCutSuperSourceSink (dinic_sources_sinks.go:75-102).

    Returns a 4-tuple (flags over the n real vertices, True = source
    side / partition one; num_nodes_in_partition_two; cut_edges = max
    flow; the extended graph with final flow state, for validation).
    """
    g = base.extended(sources, sinks)
    s, t = base.n, base.n + 1
    max_flow = 0
    while True:
        if _bfs_levels(g, s, t):
            max_flow += _blocking_flow_phase(g, s, t)
        else:
            flags = g.level[: base.n] != INVALID_LEVEL
            part_two = int(base.n) - int(flags.sum())
            return flags, part_two, max_flow, g


def min_cut(
    base: FlowGraph, sources: np.ndarray, sinks: np.ndarray
) -> tuple[np.ndarray, int, int, "_ExtGraph | None"]:
    """The one place that picks the max-flow engine: the compiled
    implicit-terminal Dinic when kernel/cdinic.py built, else the numpy
    ``dinic_min_cut`` (about 10x slower; ``cdinic`` warns once when the
    build fails). Both return the same (flags, part_two, cut): the flow
    value is unique and the flags are the unique minimal min cut."""
    from . import cdinic

    if cdinic.available():
        return dinic_unit_terminal_min_cut(base, sources, sinks)
    return dinic_min_cut(base, sources, sinks)


def validate_min_cut(
    base: FlowGraph,
    sources: np.ndarray,
    sinks: np.ndarray,
    flags: np.ndarray,
    cut_edges: int,
    g: _ExtGraph,
) -> None:
    """The reference's debug-gated oracle as hard asserts
    (validateResultOne, dinic_sources_sinks.go:104-166):

    - capacity constraint: flow(e) <= cap(e) for every arc;
    - flow conservation at every non-source/sink real vertex;
    - max-flow == number of saturated source->sink crossing arcs
      (max-flow min-cut theorem);
    - source outgoing flow == sink incoming flow.
    """
    n = base.n
    assert np.all(g.eflow <= g.ecap), "capacity constraint violated"
    pos = g.eflow > 0
    outf = np.bincount(g.eu[pos], weights=g.eflow[pos], minlength=n + 2)
    inf_ = np.bincount(g.ev[pos], weights=g.eflow[pos], minlength=n + 2)
    terminals = np.zeros(n + 2, dtype=bool)
    terminals[np.asarray(sources, dtype=np.int64)] = True
    terminals[np.asarray(sinks, dtype=np.int64)] = True
    terminals[n] = terminals[n + 1] = True
    interior = ~terminals
    assert np.allclose(outf[interior], inf_[interior]), "flow conservation violated"
    m0 = len(base.eu)
    eu, ev = g.eu[:m0], g.ev[:m0]
    cross = int((flags[eu] & ~flags[ev]).sum())
    assert cross == cut_edges, f"cut capacity {cross} != max flow {cut_edges}"
    # NET flow out of s == NET flow into t (the flow-value identity);
    # netting keeps the check valid for any legal circulation through s
    assert outf[n] - inf_[n] == inf_[n + 1] - outf[n + 1], "source-out != sink-in"
