"""The compiled kernel (kernel/cdinic.py) must be bit-identical to the
numpy oracles on randomized graphs, and a failed build must be loud.

Seeded fuzz battery: random geometric-ish and Erdos-Renyi graphs with
varying density, disconnected components, duplicate edges, degenerate
n <= 3 cells and random source/sink rates — the compiled
implicit-terminal Dinic must agree with the numpy Dinic on (flags,
part_two, cut) exactly, and the numpy Dinic's flow state must pass the
reference's validation asserts.
"""

from __future__ import annotations

import subprocess
import warnings

import numpy as np
import pytest

from osm_inertial_flow_partitioner_spark.kernel import cdinic
from osm_inertial_flow_partitioner_spark.kernel.inertial import best_inertial_cut
from osm_inertial_flow_partitioner_spark.kernel.maxflow import (
    FlowGraph,
    dinic_min_cut,
    dinic_unit_terminal_min_cut,
    validate_min_cut,
)
from osm_inertial_flow_partitioner_spark.sources.fixtures import unit_square_grid

needs_cc = pytest.mark.skipif(
    not cdinic.available(), reason="no C toolchain in this runtime"
)


def _random_graph(rng: np.random.Generator):
    kind = rng.integers(0, 3)
    if kind == 0:  # sparse ER, possibly disconnected
        n = int(rng.integers(2, 120))
        m = int(rng.integers(0, 3 * n))
        tails = rng.integers(0, n, size=m)
        heads = rng.integers(0, n, size=m)
    elif kind == 1:  # geometric grid-ish: neighbors in id space
        n = int(rng.integers(4, 200))
        m = int(rng.integers(n, 4 * n))
        tails = rng.integers(0, n, size=m)
        heads = np.clip(tails + rng.integers(-3, 4, size=m), 0, n - 1)
    else:  # degenerate tiny
        n = int(rng.integers(1, 4))
        m = int(rng.integers(0, 4))
        tails = rng.integers(0, n, size=m)
        heads = rng.integers(0, n, size=m)
    return n, tails.astype(np.int64), heads.astype(np.int64)


def _random_terminals(rng: np.random.Generator, n: int):
    rate = float(rng.uniform(0.05, 0.45))
    k = max(int(n * rate), 0)
    perm = rng.permutation(n)
    return perm[:k].astype(np.int64), perm[n - k :].astype(np.int64)


@needs_cc
def test_fuzz_engines_bit_equal():
    rng = np.random.default_rng(20260822)
    checked = 0
    for _ in range(200):
        n, tails, heads = _random_graph(rng)
        src, snk = _random_terminals(rng, n)
        if len(src) == 0:
            continue
        g = FlowGraph.from_directed_edges(n, tails, heads)
        f_d, p_d, c_d, _ = dinic_min_cut(g, src, snk)
        f_t, p_t, c_t, _ = dinic_unit_terminal_min_cut(g, src, snk)
        assert (c_t, p_t) == (c_d, p_d)
        assert np.array_equal(f_t, f_d)
        checked += 1
    assert checked > 100  # the battery actually ran


def test_fuzz_raw_cdinic_validates():
    # the numpy Dinic oracle's flow state passes the reference's
    # validation oracle (capacity, conservation, cut == flow)
    rng = np.random.default_rng(7)
    for _ in range(50):
        n, tails, heads = _random_graph(rng)
        src, snk = _random_terminals(rng, n)
        if len(src) == 0:
            continue
        g = FlowGraph.from_directed_edges(n, tails, heads)
        flags, p2, cut, gext = dinic_min_cut(g, src, snk)
        validate_min_cut(g, src, snk, flags, cut, gext)


def test_build_failure_warns_once_and_falls_back(monkeypatch):
    v, e = unit_square_grid(7)
    ids = v["ids"]
    lat, lon = v["lat"][ids], v["lon"][ids]

    def cut():
        graph = FlowGraph.from_directed_edges(len(ids), e["tail"], e["head"])
        return best_inertial_cut(graph, lat, lon)

    expected = cut()  # the compiled engine wherever a C compiler exists

    def failing_build():
        raise subprocess.CalledProcessError(
            1, ["cc"], stderr=b"cc: fatal error: no input files"
        )

    # reset the once-per-process build state around a failing build
    monkeypatch.setattr(cdinic, "_build", failing_build)
    monkeypatch.setattr(cdinic, "_LIB", None)
    monkeypatch.setattr(cdinic, "_TRIED", False)
    with pytest.warns(
        RuntimeWarning,
        match=r"cc: fatal error: no input files.*numpy engine, about 10x slower",
    ):
        flags, part_two, cut_edges, job = cut()
    assert not cdinic.available()
    assert np.array_equal(flags, expected[0])
    assert (part_two, cut_edges, job) == expected[1:]
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # one warning per process
        cut()
