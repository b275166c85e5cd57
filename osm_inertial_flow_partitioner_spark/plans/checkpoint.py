"""Per-round checkpoint / resume with per-partition lineage + metrics.

The reference is a single batch process with no resume; the graft spec
(north_rule) requires resumable rounds. Design: every bisection round
snapshots the assignment table, the next round's cell sizes, the
empty-cell counts and the round's lineage metrics to a parquet snapshot
directory, plus a manifest recording (level, round, row count, config
token, and the driver's per-round scalars: the cells the round left
live for the next level, and whether it ran a finish kernel). On an
Iceberg-enabled cluster the same calls
map to ``writeTo(...).createOrReplace()`` snapshots; parquet + manifest
keeps the sandbox dependency-free while exercising identical resume
logic (write-then-reload also truncates Spark lineage each round, which
the driver loop needs anyway).

Resume: re-invoke the partitioner with the same checkpoint — each
(level, round) that already has a complete snapshot is REPLAYED from
disk (assignment reloaded, driver state restored) instead of recomputed,
then execution continues live from the first missing round. A config
token guards against resuming across changed configurations or
snapshot formats. The final
assignment is byte-identical (tested in tests/test_pipeline_streaming.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

#: version of the snapshot layout; bump it whenever a snapshot's schema
#: or meaning changes, so that snapshots of an older layout miss. 2: the
#: assignment carries each pre-finished vertex's lower-level cells.
CHECKPOINT_FORMAT = 2


def derive_config_token(cell_sizes, rate, local_recursion_threshold) -> str:
    """Deterministic token over everything that changes the assignment —
    resuming a checkpoint dir written under a different configuration or
    snapshot format must MISS (stale per-round snapshots would silently
    produce a wrong final assignment otherwise)."""
    payload = json.dumps(
        {
            "format": CHECKPOINT_FORMAT,
            "cell_sizes": list(cell_sizes),
            "rate": rate,
            "local_recursion_threshold": local_recursion_threshold,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


class RoundCheckpoint:
    def __init__(self, spark: SparkSession, root: str, config_token: str = ""):
        self.spark = spark
        self.root = root
        self.config_token = config_token
        os.makedirs(root, exist_ok=True)

    def _dir(self, level: int, rnd: int) -> str:
        return os.path.join(self.root, f"level={level}", f"round={rnd}")

    def snapshot_round_dfs(
        self,
        level: int,
        rnd: int,
        assign: DataFrame,
        sizes: DataFrame,
        empties: DataFrame,
        metrics: DataFrame,
        state: dict,
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        """Durable per-round state: the per-cell rows as distributed
        DataFrames — the driver never holds them — plus the driver's
        few per-round scalars (``state``, kept in the manifest). Returns
        the reloaded frames (lineage truncated at the snapshot)."""
        d = self._dir(level, rnd)
        parts = {"assign": assign, "sizes": sizes, "empties": empties, "metrics": metrics}
        out = {}
        for name, df in parts.items():
            p = os.path.join(d, name)
            df.write.mode("overwrite").parquet(p)
            out[name] = self.spark.read.schema(df.schema).parquet(p)
        manifest = {
            "level": level,
            "round": rnd,
            "rows": out["assign"].count(),
            "config_token": self.config_token,
            "state": state,
            "completed_at": time.time(),
        }
        with open(os.path.join(d, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        return out["assign"], out["sizes"], out["empties"], out["metrics"]

    def load_round_dfs(
        self, level: int, rnd: int, schemas: dict
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, dict]:
        """The frames and the ``state`` of one round's snapshot."""
        d = self._dir(level, rnd)
        with open(os.path.join(d, "manifest.json")) as f:
            state = json.load(f)["state"]
        return (
            *(
                self.spark.read.schema(schemas[name]).parquet(os.path.join(d, name))
                for name in ("assign", "sizes", "empties", "metrics")
            ),
            state,
        )

    def has_round(self, level: int, rnd: int) -> bool:
        p = os.path.join(self._dir(level, rnd), "manifest.json")
        if not os.path.exists(p):
            return False
        if not self.config_token:
            # an empty token cannot prove the snapshot matches this
            # configuration — never replay (multilevel_partition always
            # derives a token, so this only guards direct callers)
            return False
        with open(p) as f:
            return json.load(f).get("config_token") == self.config_token

    def latest(self) -> tuple[int, int] | None:
        """(level, round) of the last completed round snapshot, for
        inspection; None when there is none."""
        best = None
        if not os.path.isdir(self.root):
            return None
        for lvl_dir in os.listdir(self.root):
            if not lvl_dir.startswith("level="):
                continue
            level = int(lvl_dir.split("=")[1])
            for rnd_dir in os.listdir(os.path.join(self.root, lvl_dir)):
                if not rnd_dir.startswith("round="):
                    continue
                rnd = int(rnd_dir.split("=")[1])
                if os.path.exists(
                    os.path.join(self.root, lvl_dir, rnd_dir, "manifest.json")
                ):
                    key = (-level, rnd)  # top level (highest) runs first
                    if best is None or key > best[0]:
                        best = (key, (level, rnd))
        return best[1] if best else None

    def finalize(self, result: DataFrame, num_cells: list[int], metrics: DataFrame):
        """Durable final assignment + per-bisection lineage/metrics."""
        result.write.mode("overwrite").parquet(os.path.join(self.root, "assignment"))
        metrics.write.mode("overwrite").parquet(os.path.join(self.root, "metrics"))
        with open(os.path.join(self.root, "final_manifest.json"), "w") as f:
            json.dump({"num_cells": num_cells, "completed_at": time.time()}, f)
