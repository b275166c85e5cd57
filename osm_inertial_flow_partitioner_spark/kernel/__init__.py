"""Executor-local numpy kernels (never distributed objects).

The flow subgraph of one cell always fits a single executor (max cell
size 2^20 vertices, reference main.go:21); Spark parallelism comes from
the *number of cells*, which doubles every bisection round.
"""

from .maxflow import FlowGraph, dinic_min_cut, validate_min_cut  # noqa: F401
from .inertial import best_inertial_cut, direction_jobs  # noqa: F401
from .bisection import bisect_once, recursive_bisection  # noqa: F401
from .multilevel import multilevel_partition_local, pack_cell_numbers  # noqa: F401
