"""Engine configuration.

Default cell sizes mirror the reference CLI invocation
(`/root/reference/main.go:21`): 5 levels with maximum cell sizes
``[2^8, 2^11, 2^14, 2^17, 2^20]`` (Delling et al., "Customizable Route
Planning in Road Networks"). ``SOURCE_SINK_RATE`` and the 10-direction
sweep constants mirror `/root/reference/pkg/constant.go:16-23` and
`/root/reference/pkg/partitioner/inertial_flow.go:123-132`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Reference: pkg/constant.go:20
SOURCE_SINK_RATE = 0.25
# Reference: pkg/constant.go:16 (INF_WEIGHT = 1e9)
INF_CAPACITY = 10**9
# Reference: main.go:21
DEFAULT_CELL_SIZES = [2**8, 2**11, 2**14, 2**17, 2**20]

# Reference: pkg/constant.go:18 (INERTIAL_FLOW_ITERATION = 5) ->
# slopes -1 + i*(2/5), inertial_flow.go:123-126
SLOPES = [-1.0 + i * (2.0 / 5.0) for i in range(5)]
# Reference: inertial_flow.go:128-132
DIAGONALS = [(1.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, -1.0), (-1.0, 1.0)]


@dataclass
class PartitionConfig:
    """Multilevel partitioning configuration.

    ``cell_sizes`` is ordered smallest (level 0) to biggest (level L-1),
    matching the reference's ``u`` array (multilevel_partitioner.go:12-14).
    """

    cell_sizes: list[int] = field(default_factory=lambda: list(DEFAULT_CELL_SIZES))
    rate: float = SOURCE_SINK_RATE

    @property
    def levels(self) -> int:
        return len(self.cell_sizes)
