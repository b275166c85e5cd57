"""Compiled (C, via ctypes) kernel: the production min-cut.

The numpy Dinic in ``maxflow.py`` pays per-BFS-level numpy dispatch
overhead and per-arc Python interpretation in its hot loop; on the
high-diameter geometric kNN cells this engine partitions, a single
direction job costs ~0.45s at 40k vertices (~60 Dinic phases x hundreds
of thin BFS levels). The same algorithm in portable C runs the whole
job in single-digit milliseconds.

Correctness contract: ``dinic_unit_terminal`` is the reference-shaped
Dinic of ``maxflow.dinic_min_cut`` with the super source/sink left
implicit — identical CSR adjacency order (``flat``), current-arc DFS,
reverse edge at ``id ^ 1``, flags = the final failing BFS's reachable
set. The max-flow VALUE is unique and the flags are the unique minimal
min cut of ANY max flow (Picard & Queyranne 1980), so the result is
engine-independent by theorem; bit-equality against the numpy Dinic is
additionally pinned by tests: the ``tests/test_cdinic.py`` fuzz battery,
and ``min_cut`` against the numpy Dinic on every fixture x direction.

Build discipline: the C source below is compiled ONCE per machine into
a content-hashed shared object under the system temp dir (atomic
rename, so concurrent Python workers race safely). When the build or
dlopen fails — no compiler, sandboxed tmp — ``available()`` is False,
``maxflow.min_cut`` runs the numpy Dinic, and the first call in the
process emits a ``RuntimeWarning`` naming the failure.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import threading
import warnings

import numpy as np

_SRC = r"""
#include <stdint.h>
#include <stdlib.h>

typedef int64_t i64;

/* Unit-capacity Dinic with IMPLICIT terminals: the artificial super
   source/sink and their INF arcs are never materialized. BFS seeds
   every source at level 0 (the s->src INF arcs never saturate, so the
   sources are always residual-reachable from s); an augmenting path
   ends at any sink whose level is tlevel-1 = min sink level (matching
   the explicit graph, where only arcs snk->t with
   level[snk]+1 == level[t] are admissible); real arcs all have unit
   capacity so every augmenting path carries exactly 1. The virtual
   source's current-arc is an index into srcs[] (its adjacency order in
   the explicit graph is exactly the source array order). Terminals
   MUST be disjoint (guaranteed by the 25%-extremes selection).
   level out: >= 0 residual-reachable from s, < 0 not — the flags of
   the unique minimal min cut. Returns the max flow (= cut edges),
   or -1 on allocation failure. */
i64 dinic_unit_terminal(i64 n, i64 m, const i64 *ev, const i64 *off,
                        const i64 *flat, const i64 *srcs, i64 nsrc,
                        const unsigned char *is_snk, i64 *level) {
    i64 *queue = (i64 *)malloc((size_t)n * sizeof(i64));
    i64 *it = (i64 *)malloc((size_t)n * sizeof(i64));
    i64 *stack_v = (i64 *)malloc((size_t)(n + 1) * sizeof(i64));
    i64 *stack_e = (i64 *)malloc((size_t)(n + 1) * sizeof(i64));
    signed char *eflow = (signed char *)calloc((size_t)(m > 0 ? m : 1), 1);
    if (!queue || !it || !stack_v || !stack_e || !eflow) {
        free(queue); free(it); free(stack_v); free(stack_e); free(eflow);
        return -1;
    }
    i64 flow = 0;
    for (;;) {
        /* BFS from all sources over residual real arcs */
        for (i64 i = 0; i < n; i++) level[i] = -1;
        i64 qh = 0, qt = 0;
        for (i64 i = 0; i < nsrc; i++) {
            i64 u = srcs[i];
            if (level[u] < 0) { level[u] = 0; queue[qt++] = u; }
        }
        i64 tlevel = -1;
        while (qh < qt) {
            i64 u = queue[qh++];
            if (tlevel >= 0 && level[u] + 1 >= tlevel) break;
            i64 lu = level[u] + 1;
            for (i64 j = off[u]; j < off[u + 1]; j++) {
                i64 e = flat[j];
                i64 v = ev[e];
                if (level[v] < 0 && eflow[e] < 1) {
                    level[v] = lu;
                    queue[qt++] = v;
                    if (tlevel < 0 && is_snk[v]) tlevel = lu + 1;
                }
            }
        }
        /* sources that are sinks are excluded by contract; a source
           popped at level 0 can itself end no path */
        if (tlevel < 0) break; /* level[] = final reachability */
        /* blocking flow: current-arc DFS; virtual s iterates srcs */
        for (i64 i = 0; i < n; i++) it[i] = off[i];
        i64 s_it = 0;
        while (s_it < nsrc) {
            i64 u0 = srcs[s_it];
            if (level[u0] != 0) { s_it++; continue; }
            i64 top = 0;
            stack_v[0] = u0;
            int found = 0;
            while (top >= 0) {
                i64 u = stack_v[top];
                if (is_snk[u] && level[u] + 1 == tlevel) { found = 1; break; }
                int advanced = 0;
                i64 nxt = level[u] + 1;
                for (; it[u] < off[u + 1]; it[u]++) {
                    i64 e = flat[it[u]];
                    i64 v = ev[e];
                    if (level[v] == nxt && eflow[e] < 1) {
                        stack_e[top + 1] = e;
                        stack_v[++top] = v;
                        advanced = 1;
                        break;
                    }
                }
                if (!advanced) {
                    level[u] = -2; /* dead-end kill */
                    top--;
                    if (top >= 0) it[stack_v[top]]++;
                    else s_it++; /* virtual s advances its current arc */
                }
            }
            if (found) {
                for (i64 k = 1; k <= top; k++) {
                    i64 e = stack_e[k];
                    eflow[e]++;
                    eflow[e ^ 1]--;
                }
                flow++; /* unit caps: bottleneck is always 1 */
            }
        }
    }
    free(queue); free(it); free(stack_v); free(stack_e); free(eflow);
    return flow;
}
"""

_P = ctypes.POINTER(ctypes.c_int64)
_LIB = None
_TRIED = False
_LOCK = threading.Lock()


def _build() -> "ctypes.CDLL":
    h = hashlib.sha256(_SRC.encode()).hexdigest()[:16]
    cache = os.path.join(tempfile.gettempdir(), f"spark_graft_cdinic_{h}")
    so = cache + ".so"
    if not os.path.exists(so):
        src = f"{cache}.{os.getpid()}.c"
        tmp = f"{cache}.{os.getpid()}.so"
        with open(src, "w") as f:
            f.write(_SRC)
        try:
            subprocess.run(
                ["cc", "-O2", "-shared", "-fPIC", "-o", tmp, src],
                check=True,
                capture_output=True,
                timeout=60,
            )
            os.replace(tmp, so)  # atomic: concurrent workers race safely
        finally:
            for p in (src, tmp):
                try:
                    os.remove(p)
                except OSError:
                    pass
    lib = ctypes.CDLL(so)
    lib.dinic_unit_terminal.restype = ctypes.c_int64
    lib.dinic_unit_terminal.argtypes = [
        ctypes.c_int64, ctypes.c_int64, _P, _P, _P,
        _P, ctypes.c_int64, ctypes.POINTER(ctypes.c_ubyte), _P,
    ]
    return lib


def _lib():
    global _LIB, _TRIED
    if not _TRIED:
        with _LOCK:  # pool threads race to the first call: warn once
            if not _TRIED:
                try:
                    _LIB = _build()
                except Exception as exc:
                    stderr = getattr(exc, "stderr", None)
                    reason = (
                        stderr.decode(errors="replace").strip()
                        if stderr
                        else f"{type(exc).__name__}: {exc}"
                    )
                    warnings.warn(
                        f"cdinic: building the compiled kernel failed "
                        f"({reason}); min-cut now runs the numpy engine, "
                        f"about 10x slower",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                _TRIED = True
    return _LIB


def available() -> bool:
    return _lib() is not None


def _ptr(a: np.ndarray) -> "ctypes._Pointer":
    return a.ctypes.data_as(_P)


def dinic_unit_terminal_c(
    n: int,
    ev: np.ndarray,
    off: np.ndarray,
    flat: np.ndarray,
    sources: np.ndarray,
    is_snk: np.ndarray,
) -> tuple[int, np.ndarray]:
    """Implicit-terminal unit-capacity compiled Dinic over the REAL-arc
    CSR (no artificial arcs materialized; flow state lives inside the
    call). Returns (max_flow, level) where level >= 0 marks the
    source-side residual-reachable set."""
    lib = _lib()
    assert lib is not None
    ev = np.ascontiguousarray(ev, dtype=np.int64)
    off = np.ascontiguousarray(off, dtype=np.int64)
    flat = np.ascontiguousarray(flat, dtype=np.int64)
    sources = np.ascontiguousarray(sources, dtype=np.int64)
    assert is_snk.dtype == np.uint8 and is_snk.flags.c_contiguous
    level = np.empty(n, dtype=np.int64)
    mf = lib.dinic_unit_terminal(
        n, len(ev), _ptr(ev), _ptr(off), _ptr(flat),
        _ptr(sources), len(sources),
        is_snk.ctypes.data_as(ctypes.POINTER(ctypes.c_ubyte)), _ptr(level),
    )
    if mf < 0:
        raise MemoryError("cdinic: work-array allocation failed")
    return int(mf), level
