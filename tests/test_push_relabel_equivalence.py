"""The production ``min_cut`` must be BIT-IDENTICAL to the numpy
reference-shaped Dinic oracle on (flags, part_two, max_flow): the
max-flow value is unique and the flags are the unique minimal min cut
(Picard-Queyranne), independent of which max flow an engine finds.

Covers every fixture graph x every inertial direction, random
Erdos-Renyi-ish graphs (hypothesis) and a geometric 4-NN graph, and
flow-validity of the Dinic result via the reference's debug oracle."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_inertial_flow_partitioner_spark.kernel import (
    FlowGraph,
    dinic_min_cut,
    validate_min_cut,
)
from osm_inertial_flow_partitioner_spark.kernel.inertial import (
    direction_jobs,
    pick_sources_sinks,
)
from osm_inertial_flow_partitioner_spark.kernel.maxflow import min_cut
from osm_inertial_flow_partitioner_spark.sources.fixtures import (
    disconnected_components,
    path_graph,
    star_graph,
    two_cliques_bridge,
    unit_square_grid,
)

FIXTURES = {
    "grid4": lambda: unit_square_grid(4),
    "grid7": lambda: unit_square_grid(7),
    "cliques": two_cliques_bridge,
    "path": path_graph,
    "star": star_graph,
    "disconnected": disconnected_components,
}


def _graph(fix):
    v, e = fix
    n = len(v["ids"])
    return (
        FlowGraph.from_directed_edges(n, e["tail"], e["head"]),
        v["lat"][v["ids"]],
        v["lon"][v["ids"]],
    )


def _assert_all_equal(graph, sources, sinks):
    fd, p2d, mfd, gd = dinic_min_cut(graph, sources, sinks)
    fp, p2p, mfp, _ = min_cut(graph, sources, sinks)
    assert np.array_equal(fd, fp)
    assert (p2d, mfd) == (p2p, mfp)
    validate_min_cut(graph, sources, sinks, fd, mfd, gd)


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_fixtures_all_directions(name):
    graph, lat, lon = _graph(FIXTURES[name]())
    for a, b in direction_jobs():
        proj = a * lon + b * lat
        sources, sinks = pick_sources_sinks(proj, 0.25)
        if len(sources) == 0:
            continue
        _assert_all_equal(graph, sources, sinks)


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=10**6), st.integers(8, 60))
def test_random_graphs_identical(seed, n):
    rng = np.random.default_rng(seed)
    m = int(n * rng.uniform(1.0, 3.0))
    tails = rng.integers(0, n, m)
    heads = rng.integers(0, n, m)
    order = np.argsort(tails, kind="stable")
    tails, heads = tails[order], heads[order]
    graph = FlowGraph.from_directed_edges(n, tails, heads)
    proj = rng.permutation(n).astype(float)
    sources, sinks = pick_sources_sinks(proj, 0.25)
    _assert_all_equal(graph, sources, sinks)


def test_geometric_graph_identical():
    rng = np.random.default_rng(3)
    n = 400
    lat = rng.uniform(-10, 10, n)
    lon = rng.uniform(-10, 10, n)
    # 4-NN brute force
    tails, heads = [], []
    for i in range(n):
        d = (lat - lat[i]) ** 2 + (lon - lon[i]) ** 2
        d[i] = np.inf
        for j in np.argsort(d)[:4]:
            a, b = min(i, int(j)), max(i, int(j))
            tails += [a, b]
            heads += [b, a]
    order = np.argsort(np.array(tails), kind="stable")
    graph = FlowGraph.from_directed_edges(
        n, np.array(tails)[order], np.array(heads)[order]
    )
    for a, b in direction_jobs():
        proj = a * lon + b * lat
        sources, sinks = pick_sources_sinks(proj, 0.25)
        _assert_all_equal(graph, sources, sinks)
