"""Distributed multilevel inertial-flow partitioner.

The reference runs a *sequential* FIFO of bisections per level
(`/root/reference/pkg/partitioner/recursiveBisection.go:37-66`) inside a
single Go process. Here the while-loop lives on the Spark driver and each
iteration is ONE distributed job: every oversized cell is bisected in
parallel by a numpy kernel inside cogrouped ``applyInPandas``. Cut
semantics are identical because each cell's bisection is independent.

Two execution modes, chosen per round from driver-side cell counts:

1. **per-cell bisection** (big cells): one cogroup group per cell; the
   10 inertial direction jobs (`inertial_flow.go:123-132`) run inside
   the kernel on a thread pool of ``parallelism // #big cells`` threads
   (the compiled Dinic releases the GIL), so a lone root uses every core
   and many cells do not oversubscribe the host; the frozen
   (cut, balance, job) argmin is taken in-process, as the reference
   takes it (`inertial_flow.go:107-168`);
2. **finish** (cell below ``local_recursion_threshold``): the kernel
   runs the *entire remaining recursion* of its cell locally in one
   call — its own level and every level below, since the reference
   partitions each parent cell on its own
   (multilevel_partitioner.go:59-68). A vertex it finishes carries its
   lower-level cells on its assignment row, so at every lower level it
   is an inactive cell that only the relabel touches, and a level whose
   every cell was finished above runs no round at all.

Scale design (100 TB / 10^9+ vertices): parallelism unit = cell; a max
cell of 2^20 vertices fits one executor (reference main.go:21). Per
round: 2 equi-joins label edge endpoints with their cell key (round 0
of the top level tags them with the literal root key instead), then one
cogrouped shuffle feeds the kernel; all shuffles shrink with the active
set and the active-key side broadcasts.
Cell labels are (root, path) heap-numbered paths (prefix-free per root),
relabeled per level by the frozen SURVEY.md §7 rule: per parent,
non-empty cells by min original vertex id, then empty cells (degenerate
n<=3 splits — assignFinalPartition on a 0-vertex side,
recursiveBisection.go:127-136 — have no vertex rows; the kernel reports
them in the n_empty column of the level's metrics rows, which the
relabel sums per root). Per-round snapshots + lineage/metrics via
plans/checkpoint.py.

Driver memory is bounded by the bisected cells, not by the total cell
count: finish-kernel metrics and the per-level relabel live in
DataFrames (per-root rank window + two-phase prefix sum over roots).
The driver holds one stat row per bisected cell: a bisected cell has
>= ``local_recursion_threshold`` vertices, so a round collects at most
n_vertices / threshold rows (15k at 10^9 vertices and the default
threshold). Cell sizes are always driver rows: a round's are the at
most twice as many oversized children, and a level's entry sizes are
its live cells, each one side of a cell that the level above bisected,
so at most twice that level's collected stat rows. Literal control rows
(active sizes, stat rows, prefix-sum offsets) become Arrow local
relations through ``session.local_frame``, so reading them starts no
Spark job and no Python worker.
"""

from __future__ import annotations

import os
import time
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import PartitionConfig
from ..kernel.bisection import bisect_once
from ..kernel.multilevel import multilevel_finish_local
from ..session import local_frame

KERNEL_OUT_SCHEMA = (
    "root long, parent_path long, path long, vertex_id long, "
    "lat double, lon double, "
    "n int, cut_edges int, part_two int, best_job int, n_empty int"
)

#: the per-parent stat columns of a kernel output row
STAT_COLUMNS = ("n", "cut_edges", "part_two", "best_job", "n_empty")

#: the finish kernel's extra columns: the two lower-level arrays of
#: ASSIGN_SCHEMA, and the finished cell's empty cells at each level below
FINISH_OUT_SCHEMA = KERNEL_OUT_SCHEMA + (
    ", lower_keys array<long>, lower_empties array<int>, sub_empties array<int>"
)

#: A vertex that a finish kernel completed carries its cells at the
#: levels below in two arrays, nearest level first: ``lower_keys`` (the
#: cell's min vertex id, unique as cells are disjoint) and
#: ``lower_empties`` (the number of empty cells among the children of
#: that cell's parent). Entering a level moves the head of
#: ``lower_keys`` into ``path``; the level's relabel adds the head of
#: ``lower_empties`` to the root's empty cells and drops it. Live
#: vertices carry empty arrays.
ASSIGN_SCHEMA = (
    "root long, path long, vertex_id long, lat double, lon double, "
    "lower_keys array<long>, lower_empties array<int>"
)
ASSIGN_COLUMNS = (
    "root", "path", "vertex_id", "lat", "lon", "lower_keys", "lower_empties"
)
SIZES_SCHEMA = "root long, path long, n long"
METRICS_SCHEMA = (
    "level int, round int, root long, parent_path long, n int, "
    "cut_edges int, part_two int, best_job int, n_empty int, mode string"
)

#: active cells smaller than this finish their whole recursion in one
#: kernel call (a few MB of int64/float64 arrays per cell). Round-5
#: default was 16k, sized to the ~10s-per-16k-cell numpy kernel; round
#: 6 raised it to 64k after the compiled Dinic landed (``min_cut``'s C
#: engine — the same 16k finish now runs ~0.3s, a 28k finish ~1.5s), so a
#: local finish beats a ~6-9s distributed round up to far larger cells
#: (50k docs: 4 rounds/level -> 1, same-window A/B in
#: OPTIMIZATION_r06.md). Cells past ``PROMOTE_CAP x`` this threshold
#: still bisect distributed, so executor memory is never exceeded: a
#: 128k-vertex finish task peaks well under the 2^20-vertex
#: executor-memory design bound.
DEFAULT_LOCAL_RECURSION_THRESHOLD = int(
    os.environ.get("TILER_FINISH_THRESHOLD", 1 << 16)
)

#: promote-rule cap: borderline big cells are promoted to an in-kernel
#: finish only when the largest of them is below cap * threshold. With
#: the compiled kernel AND the threaded recursion (kernel/bisection.py
#: round 6) a 2.5x-threshold (~164k) finish costs ~3s in one task —
#: cheaper than the distributed round it replaces. 2.5 specifically
#: covers the 200k-doc shape, where two 55/45-ish bisections of the
#: ~500k root leave four ~125-150k cells that a 2.0 cap sent through
#: one more bisection round + a finish round (~28s) instead of four
#: parallel ~3s finish tasks (same-window A/B in OPTIMIZATION_r06.md).
#: Never promotes a cell that could stress executor memory: 2.5x the
#: 64k threshold is ~16% of the 2^20-vertex per-executor design bound.
PROMOTE_CAP = 2.5

#: largest row count a prefix sum collects to the driver (bigger or
#: unbounded frames take the two-phase distributed path), and the most
#: cells one round may bisect: their stat rows are always collected
DRIVER_COLLECT_MAX_ROWS = 65536


def _sorted_cell_arrays(vdf: pd.DataFrame, edf: pd.DataFrame):
    vdf = vdf.sort_values("vertex_id")
    ids = vdf["vertex_id"].to_numpy(np.int64)
    lat = vdf["lat"].to_numpy(np.float64)
    lon = vdf["lon"].to_numpy(np.float64)
    if len(edf):
        edf = edf.sort_values(["tail", "edge_id"])
        tails = edf["tail"].to_numpy(np.int64)
        heads = edf["head"].to_numpy(np.int64)
    else:
        tails = heads = np.empty(0, dtype=np.int64)
    return ids, lat, lon, tails, heads


def _no_lower_levels() -> list:
    """The lower-level arrays of a live vertex (ASSIGN_SCHEMA)."""
    return [
        F.array().cast("array<long>").alias("lower_keys"),
        F.array().cast("array<int>").alias("lower_empties"),
    ]


def _make_finish_kernel(
    cell_sizes_desc: list[int], rate: float, thread_budget: int
):
    """Mode 2: complete the recursion of one small cell at its own level
    (``cell_sizes_desc[0]``) and every level below, in one
    ``multilevel_finish_local`` call on at most ``thread_budget``
    threads (the driver's cores-per-concurrent-task estimate)."""

    def kernel(key, vdf: pd.DataFrame, edf: pd.DataFrame) -> pd.DataFrame:
        root, path = int(key[0]), int(key[1])
        ids, lat, lon, tails, heads = _sorted_cell_arrays(vdf, edf)
        [(nonempty, n_empty)], *lower = multilevel_finish_local(
            ids, lat, lon, tails, heads, cell_sizes_desc, rate,
            coords_aligned=True, workers=thread_budget,
        )
        bits = max(int(np.ceil(np.log2(len(nonempty) + n_empty + 1))), 1)
        # heap path gains `bits` low bits here (plus 1 bit per earlier
        # bisection round); overflow would silently alias distinct cells
        assert (path << bits) < 2**62, (
            f"cell path {path} << {bits} overflows the int64 heap path"
        )
        # cells are disjoint ascending subsets of ``ids``: one positional
        # gather builds the whole output
        cat = np.concatenate(nonempty)
        pos = np.searchsorted(ids, cat)
        paths = np.repeat(
            (np.int64(path) << bits) | np.arange(len(nonempty), dtype=np.int64),
            [len(c) for c in nonempty],
        )
        # per vertex in ``ids`` order, one column per level below: the
        # cell's min id, and its parent's empty-cell count
        keys = np.empty((len(ids), len(lower)), dtype=np.int64)
        parent_empties = np.empty((len(ids), len(lower)), dtype=np.int32)
        for j, parents in enumerate(lower):
            cells = [c for finals, _ in parents for c in finals]
            sizes = [len(c) for c in cells]
            at = np.searchsorted(ids, np.concatenate(cells))
            keys[at, j] = np.repeat([c[0] for c in cells], sizes)
            parent_empties[at, j] = np.repeat(
                [ne for finals, ne in parents for _ in finals], sizes
            )
        sub_empties = [sum(ne for _, ne in parents) for parents in lower]
        return pd.DataFrame(
            {
                "root": np.full(len(cat), root, dtype=np.int64),
                "parent_path": np.full(len(cat), path, dtype=np.int64),
                "path": paths,
                "vertex_id": cat,
                "lat": lat[pos],
                "lon": lon[pos],
                "n": np.full(len(cat), len(ids), dtype=np.int32),
                "cut_edges": np.full(len(cat), -1, dtype=np.int32),
                "part_two": np.full(len(cat), -1, dtype=np.int32),
                "best_job": np.full(len(cat), -1, dtype=np.int32),
                "n_empty": np.full(len(cat), n_empty, dtype=np.int32),
                "lower_keys": list(keys[pos]),
                "lower_empties": list(parent_empties[pos]),
                "sub_empties": [sub_empties] * len(cat),
            }
        )

    return kernel


def _make_bisect_kernel(rate: float, thread_budget: int):
    """Mode 1: one bisection per cell, the 10 direction jobs in-process
    on at most ``thread_budget`` threads (the driver's
    cores-per-concurrent-cell estimate).

    A cell may hold several connected components: its whole-cell flow
    gives the same cut as a union of per-component flows, because the
    flags are the unique minimal min cut of any max flow
    (Picard-Queyranne) and no augmenting path crosses components."""

    def kernel(key, vdf: pd.DataFrame, edf: pd.DataFrame) -> pd.DataFrame:
        root, path = int(key[0]), int(key[1])
        ids, lat, lon, tails, heads = _sorted_cell_arrays(vdf, edf)
        assert (path << 1) < 2**62, (
            f"cell path {path} << 1 overflows the int64 heap path"
        )
        side, st = bisect_once(
            ids, lat, lon, tails, heads, rate, jobs_workers=thread_budget
        )
        return pd.DataFrame(
            {
                "root": np.int64(root),
                "parent_path": np.int64(path),
                "path": (np.int64(path) << 1) | side.astype(np.int64),
                "vertex_id": ids,
                "lat": lat,
                "lon": lon,
                "n": np.int32(st.n),
                "cut_edges": np.int32(st.cut_edges),
                "part_two": np.int32(st.part_two),
                "best_job": np.int32(st.best_job),
                "n_empty": np.int32(1 if st.part_two == st.n else 0),
            }
        )

    return kernel


def _bisect_control_rows(
    prows, level: int, rnd: int, max_cell_size: int
) -> tuple[list, list, int]:
    """Literal control rows (metrics, still-oversized child sizes) and
    the number of final non-empty children — the cells left live for
    the next level — from the collected per-parent stat rows of a
    bisection round. LITERAL on purpose: deriving them lazily round
    after round chains the lineage, and Catalyst's sizeInBytes stats (a
    PRODUCT over join children) compound into BigIntegers with
    thousands of digits — the driver then spends MINUTES per round in
    planning (round-2 lesson)."""
    mrows, srows, live = [], [], 0
    for r in prows:
        root, path = int(r["root"]), int(r["parent_path"])
        n_cell, p2 = int(r["n"]), int(r["part_two"])
        mrows.append(
            (
                level, rnd, root, path, n_cell, int(r["cut_edges"]),
                p2, int(r["best_job"]), int(r["n_empty"]), "cell",
            )
        )
        for side, n_side in enumerate((n_cell - p2, p2)):
            if n_side >= max_cell_size:
                srows.append((root, path * 2 + side, n_side))
            elif n_side:
                live += 1
    return mrows, srows, live


def _round_plan(spark, sizes: list, all_active: bool, local_threshold: int):
    """The round decision from the driver rows (root, path, n) of the
    round's active cells: every live cell at round 0, the
    still-oversized children after.

    Returns None when no cell is active, else (active frame, #small
    cells, #big cells, the (root, path) of the only cell when it holds
    every vertex of the assignment — ``all_active`` — else None)."""
    if not sizes:
        return None
    n_big = sum(1 for r in sizes if r[2] >= local_threshold)
    max_n = max(r[2] for r in sizes)
    # every bisection round appends >= 1 bit to the heap path
    assert max(r[1] for r in sizes) < 2**61, (
        "heap-numbered cell path near int64 overflow"
    )
    # promote rule: when every remaining big cell is < PROMOTE_CAP x the
    # finish threshold, one more distributed bisection round would only
    # produce children that all finish locally next round — skip the
    # round and finish the borderline cells in-kernel now. Collapses the
    # trailing dribble of the bisection prefix (50k docs: rounds/level
    # 6 -> 4 measured at the default threshold) without ever promoting a
    # cell that could stress executor memory.
    if n_big and max_n < PROMOTE_CAP * local_threshold:
        n_big = 0
    # a bisected cell holds >= local_threshold vertices, so the stat
    # rows collected per round number at most n_vertices / threshold
    if n_big > DRIVER_COLLECT_MAX_ROWS:
        raise ValueError(
            f"{n_big} cells of >= local_recursion_threshold="
            f"{local_threshold} vertices are bisected in one round, more "
            f"than the {DRIVER_COLLECT_MAX_ROWS} stat rows the driver "
            "collects; raise local_recursion_threshold"
        )
    one_cell = sizes[0][:2] if all_active and len(sizes) == 1 else None
    return (
        local_frame(spark, sizes, SIZES_SCHEMA), len(sizes) - n_big, n_big, one_cell
    )


def _free_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint`` frame. DataFrame.unpersist
    does not reach them: they belong to the RDD under its LogicalRDD.
    Unpersisted through the context, as ``RDD.unpersist`` warns that a
    local checkpoint cannot be recomputed — nothing reads it again."""
    rdd = df._jdf.logicalPlan().rdd()
    rdd.context().unpersistRDD(rdd.id(), False)


def _label_edges(edges: DataFrame, active: DataFrame) -> DataFrame:
    """J3 semi-join: label both endpoints, keep intra-cell edges."""
    vmap = active.select(F.col("vertex_id").alias("v"), "root", "path")
    return (
        edges.join(
            vmap.withColumnsRenamed({"v": "tail", "root": "rt", "path": "pt"}), "tail"
        )
        .join(
            vmap.withColumnsRenamed({"v": "head", "root": "rh", "path": "ph"}), "head"
        )
        .filter((F.col("rt") == F.col("rh")) & (F.col("pt") == F.col("ph")))
        .select(
            "edge_id",
            "tail",
            "head",
            F.col("rt").alias("root"),
            F.col("pt").alias("path"),
        )
    )


def _exclusive_cumsum_by_key(
    df: DataFrame, key: str, value: str, out_col: str,
    n_rows_hint: int | None = None,
) -> tuple[DataFrame, int]:
    """Distributed exclusive prefix sum of ``value`` over rows ordered
    by ``key`` — two-phase (range partition, per-partition offsets,
    local window), never a single-partition global window. The driver
    sees only O(#partitions) offsets. Returns (df + out_col, total).

    ``n_rows_hint``: when the CALLER knows the row count is bounded
    (per-root frames at a level transition are bounded by the known
    cell count), a small frame takes one bounded collect instead of the
    two-phase machinery — repartitionByRange alone costs a sampling
    pass, a checkpoint and a counts job, ~3 driver round-trips to
    prefix-sum a handful of rows (round-6 gap profiling). Identical
    offsets: ascending-``key`` order either way."""
    spark = df.sparkSession
    if n_rows_hint is not None and n_rows_hint <= DRIVER_COLLECT_MAX_ROWS:
        rows = sorted(df.collect(), key=lambda r: r[key])
        acc, out_rows = 0, []
        for r in rows:
            d = r.asDict()
            d[out_col] = acc
            acc += int(d[value])
            out_rows.append(d)
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            df.schema.fields + [StructField(out_col, LongType(), False)]
        )
        # no broadcast hint: the consumers also filter and explode this
        # frame, where a hint only draws a HintErrorLogger warning, and
        # its joins broadcast the small local relation anyway
        out = local_frame(
            spark,
            [tuple(d[f.name] for f in schema.fields) for d in out_rows],
            schema,
        )
        return out, acc
    nparts = max(spark.sparkContext.defaultParallelism, 2)
    part = (
        df.repartitionByRange(nparts, F.asc(key))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin range boundaries across passes
    )
    sums = {
        r["pid"]: r["s"]
        for r in part.groupBy("pid").agg(F.sum(value).alias("s")).collect()
    }
    acc, offs = 0, {}
    for pid in sorted(sums):
        offs[pid] = acc
        acc += int(sums[pid])
    if not offs:
        return part.withColumn(out_col, F.lit(0).cast("long")).drop("pid"), 0
    off_df = F.broadcast(
        local_frame(
            spark, [(int(p), int(o)) for p, o in offs.items()], "pid int, pidoff long"
        )
    )
    w = (
        Window.partitionBy("pid")
        .orderBy(F.asc(key))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        part.join(off_df, "pid")
        .withColumn(
            out_col,
            F.col("pidoff") + F.coalesce(F.sum(value).over(w), F.lit(0)),
        )
        .drop("pid", "pidoff")
    )
    return out, acc


def _run_level(
    assign: DataFrame,
    edges: DataFrame,
    cell_sizes: list[int],
    rate: float,
    local_threshold: int,
    level: int,
    sizes: list,
    checkpoint=None,
    all_active: bool = True,
) -> tuple[DataFrame, DataFrame, int, bool, list]:
    """Bisection rounds for one level. Round 0 bisects every live cell
    (Partition() runs per parent unconditionally,
    multilevel_partitioner.go:59-68); later rounds only cells with
    count >= the level's max cell size.

    ``sizes`` holds the driver rows (root, path, n) of the round's
    active cells, which ``_round_plan`` turns into the round decision:
    at round 0 the level's live cells, collected by the relabel above;
    after that the still-oversized children, rebuilt from the bisection
    kernel's collected per-parent stat rows by ``_bisect_control_rows``
    (a bisected cell holds >= ``local_threshold`` vertices, so a round
    collects at most n_vertices / threshold stat rows), or read from
    the manifest of a replayed round. Finish-kernel metrics stay
    DataFrames. ``all_active``: every vertex of ``assign`` is in a cell
    of ``sizes`` (False when vertices finished above ride along).

    Returns (assignment, the level's metrics frame — checkpointed, or
    read from the round snapshots — the number of final cells left live
    for the next level, whether a finish kernel ran, and the round
    assignments' local checkpoints, which the caller frees once the
    relabel no longer needs them)."""
    spark = assign.sparkSession
    sc = spark.sparkContext
    parallelism = sc.defaultParallelism
    ckpt_parts = max(parallelism, 2)
    max_cell_size = cell_sizes[level]
    schemas = {"assign": ASSIGN_SCHEMA, "metrics": METRICS_SCHEMA}
    level_metric_frames: list[DataFrame] = []
    level_unpersist: list[DataFrame] = []
    round_ckpts: list[DataFrame] = []
    live, finished = 0, False

    def budget(n_cells: int) -> int:
        # cores per concurrent kernel task: each task's thread pool gets
        # its fair slice of the host instead of 10 threads apiece
        return max(1, parallelism // max(1, min(n_cells, parallelism)))

    rnd = 0
    # ``all_active`` stays true while every cell in ``assign`` is active:
    # a round keeps it when it ran no finish kernel and got every child
    # of every bisected parent back as oversized. Then the round has no
    # inactive cells to carry over.
    while True:
        sc.setJobDescription(f"tiler: level={level} round={rnd}")
        if checkpoint is not None and checkpoint.has_round(level, rnd):
            # resume: replay this round from its durable snapshot
            assign, m, state = checkpoint.load_round_dfs(level, rnd, schemas)
            level_metric_frames.append(m)
            sizes = [tuple(r) for r in state["sizes"]]
            live += state["live"]
            finished = finished or state["finished"]
            all_active = False
            rnd += 1
            continue
        plan = _round_plan(spark, sizes, all_active, local_threshold)
        if plan is None:
            break
        active, n_small, n_big, one_cell = plan
        _t_round = time.time()
        sc.setJobDescription(
            f"tiler: level={level} round={rnd} small={n_small} big={n_big}"
        )

        frames = (
            []
            if all_active
            else [
                assign.join(
                    F.broadcast(active.select("root", "path")),
                    ["root", "path"],
                    "left_anti",
                ).select(*ASSIGN_COLUMNS)
            ]
        )

        def run_kernel(keys_df, kernel, schema, stat_columns):
            if one_cell is not None:
                # the only cell holds every vertex and edge: tag the
                # edges with its literal key instead of two joins
                act = assign
                e_act = edges.select(
                    "edge_id", "tail", "head",
                    F.lit(one_cell[0]).cast("long").alias("root"),
                    F.lit(one_cell[1]).cast("long").alias("path"),
                )
            else:
                act = assign.join(
                    F.broadcast(keys_df.select("root", "path")),
                    ["root", "path"],
                    "inner",
                )
                e_act = _label_edges(edges, act)
            out = (
                act.select("root", "path", "vertex_id", "lat", "lon")
                .groupBy("root", "path")
                .cogroup(e_act.groupBy("root", "path"))
                .applyInPandas(kernel, schema=schema)
                .persist()
            )
            per_parent = out.groupBy("root", "parent_path").agg(
                *(F.first(c).alias(c) for c in stat_columns)
            )
            return out, per_parent

        finish_out = fin = None
        if n_small:
            # finish rows are one per small cell (O(#cells) at a lower
            # level): their metrics stay lazy
            finish_out, fin = run_kernel(
                active.filter(F.col("n") < local_threshold) if n_big else active,
                _make_finish_kernel(
                    cell_sizes[level::-1], rate, budget(n_small)
                ),
                FINISH_OUT_SCHEMA,
                (*STAT_COLUMNS, "sub_empties"),
            )
            frames.append(finish_out.select(*ASSIGN_COLUMNS))
            level_unpersist.append(finish_out)
        if n_big:
            big_out, big_stats = run_kernel(
                active.filter(F.col("n") >= local_threshold),
                _make_bisect_kernel(rate, budget(n_big)),
                KERNEL_OUT_SCHEMA,
                STAT_COLUMNS,
            )
            frames.append(
                big_out.select(
                    "root", "path", "vertex_id", "lat", "lon", *_no_lower_levels()
                )
            )

        new_assign = reduce(DataFrame.unionByName, frames)
        if checkpoint is None:
            # ONE eager materialization of the round's kernels (the
            # assignment); the finish metrics stay LAZY against the
            # cached kernel output and are folded into one job at level
            # end. The coalesce caps the stored partition count: each
            # round's union otherwise ADDS its children's partitions to
            # the checkpointed set, and by round 6 every scan of the
            # assignment was paying 300+ task launches (profiled round-3
            # tail: checkpoint cost grew 1.1s -> 4.0s across rounds).
            _t_phase = time.time()
            assign = new_assign.coalesce(ckpt_parts).localCheckpoint(eager=True)
            round_ckpts.append(assign)
            if os.environ.get("TILER_DEBUG"):
                print(
                    f"[tiler]   assign checkpoint took {time.time() - _t_phase:.2f}s",
                    flush=True,
                )
        prows = big_stats.collect() if n_big else []
        mrows, sizes, round_live = _bisect_control_rows(
            prows, level, rnd, max_cell_size
        )
        live += round_live
        finished = finished or bool(n_small)
        round_metrics = local_frame(spark, mrows, METRICS_SCHEMA)
        if finish_out is not None:
            # a finished cell's own-level row, then one round-0 row per
            # level below with that level's empty cells in its subtree
            per_level = fin.select(
                "*",
                F.posexplode(
                    F.concat(F.array("n_empty"), "sub_empties")
                ).alias("depth", "level_empties"),
            )
            round_metrics = round_metrics.unionByName(
                per_level.select(
                    (F.lit(level) - F.col("depth")).cast("int").alias("level"),
                    F.when(F.col("depth") == 0, rnd)
                    .otherwise(0)
                    .cast("int")
                    .alias("round"),
                    "root", "parent_path", "n", "cut_edges", "part_two",
                    "best_job",
                    F.col("level_empties").alias("n_empty"),
                    F.lit("cell").alias("mode"),
                )
            )
        if checkpoint is not None:
            assign, round_metrics = checkpoint.snapshot_round_dfs(
                level, rnd, new_assign, round_metrics,
                {"sizes": sizes, "live": round_live, "finished": bool(n_small)},
            )
        level_metric_frames.append(round_metrics)
        if n_big:
            # nothing lazy reads it past this point
            big_out.unpersist()
        all_active = all_active and not n_small and len(sizes) == 2 * len(prows)
        if os.environ.get("TILER_DEBUG"):
            print(
                f"[tiler] level={level} round={rnd} small={n_small} "
                f"big={n_big} took={time.time() - _t_round:.1f}s",
                flush=True,
            )
        rnd += 1
    sc.setJobDescription(f"tiler: level={level} end")
    metrics = reduce(DataFrame.unionByName, level_metric_frames)
    if checkpoint is None:
        # one job for the level's lazy finish metrics, before the
        # kernel outputs they read are freed
        metrics = metrics.localCheckpoint(eager=True)
    for df in level_unpersist:
        df.unpersist()
    return assign, metrics, live, finished, round_ckpts


def _relabel_level(
    assign: DataFrame,
    metrics: DataFrame,
    empty_roots_df: DataFrame,
    level: int,
    live: int = 0,
    n_roots_hint: int | None = None,
) -> tuple[DataFrame, int, DataFrame, list]:
    """Frozen numbering, fully DISTRIBUTED: per parent root (in root-id
    order): non-empty cells by min original vertex id, then that root's
    empty cells; empty roots contribute 2 empty child cells in place.
    The level's kernels report a root's empty cells in the ``n_empty``
    column of their ``metrics`` rows at this ``level``; a root whose
    vertices a finish kernel completed above this level adds the empty
    count its vertices carry.

    Plan shape: one groupBy for per-cell meta, a per-root rank window
    (parallel across roots), and a two-phase exclusive prefix sum over
    roots for the cross-root id offsets — no single-partition window.
    The labeled assignment is checkpointed: the next level and the
    caller's result both read it. When the level below runs rounds
    (``live`` > 0 live cells), the driver collects their sizes from
    that checkpoint: each is one side of a cell this level bisected, so
    there are at most twice the level's collected stat rows.

    Returns (labeled assignment, num_cells, empty-cell ids as a
    DataFrame(root) for the next level, the live cells' size rows
    (root=cell_id, path=1, n) seeding the next level)."""
    # finished above this level: this level's entry still heads the
    # vertex's lower_empties (entering the level took its lower_keys one)
    pre = F.size("lower_empties") > F.size("lower_keys")
    meta = assign.groupBy("root", "path").agg(
        F.min("vertex_id").alias("min_vid"),
        F.count("*").alias("n"),
        F.max(F.when(pre, F.get("lower_empties", 0))).alias("pre_em"),
    )
    # one row per entering root: its non-empty cells, then its empty
    # ones — reported by the level's kernels, carried by vertices
    # finished above, or 2 in place of an empty root (Partition(empty
    # cell) -> 2 empty children)
    roots = (
        meta.select("root", "min_vid", "pre_em")
        .unionByName(
            metrics.filter(F.col("level") == level).select(
                "root", F.col("n_empty").cast("long")
            ),
            allowMissingColumns=True,
        )
        .unionByName(
            empty_roots_df.select("root", F.lit(2).cast("long").alias("n_empty")),
            allowMissingColumns=True,
        )
        .groupBy("root")
        .agg(
            F.count("min_vid").alias("n_ne"),
            (
                F.coalesce(F.sum("n_empty"), F.lit(0))
                + F.coalesce(F.max("pre_em"), F.lit(0))
            ).alias("n_em"),
        )
        .withColumn("total", F.col("n_ne") + F.col("n_em"))
    )
    roots, num_cells = _exclusive_cumsum_by_key(
        roots, "root", "total", "offset", n_rows_hint=n_roots_hint
    )
    wr = Window.partitionBy("root").orderBy(F.asc("min_vid"))
    cells = (
        meta.join(roots.select("root", "offset"), "root")
        .withColumn("cell_id", F.col("offset") + F.row_number().over(wr) - 1)
        .select("root", "path", "cell_id")
    )
    labeled = assign.join(cells, ["root", "path"]).select(
        "vertex_id", "lat", "lon", "cell_id", "lower_keys",
        F.when(pre, F.slice("lower_empties", 2, F.size("lower_empties")))
        .otherwise(F.col("lower_empties"))
        .alias("lower_empties"),
    ).localCheckpoint(eager=True)
    empty_cells = roots.filter(F.col("n_em") > 0).select(
        F.explode(
            F.sequence(
                F.col("offset") + F.col("n_ne"),
                F.col("offset") + F.col("n_ne") + F.col("n_em") - 1,
            )
        ).alias("root")
    )
    sizes = []
    if live:
        sizes = sorted(
            (int(r[0]), 1, int(r[1]))
            for r in labeled.filter(F.size("lower_keys") == 0)
            .groupBy("cell_id")
            .count()
            .collect()
        )
        assert len(sizes) == live, f"{len(sizes)} live cells, expected {live}"
    return labeled, int(num_cells), empty_cells, sizes


def multilevel_partition(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    config: PartitionConfig | None = None,
    local_recursion_threshold: int = DEFAULT_LOCAL_RECURSION_THRESHOLD,
    checkpoint=None,
    n_vertices: int | None = None,
) -> tuple[DataFrame, list[int], DataFrame]:
    """Top-down multilevel partitioning (RunMultilevelPartitioning,
    multilevel_partitioner.go:43-77).

    ``vertices``: (vertex_id long, lat double, lon double);
    ``edges``: (edge_id long, tail long, head long) — one row per
    undirected unit-capacity edge (the kernel adds both directions,
    partition_graph.go:216-229); both endpoints must be vertices.

    Returns (assignment (vertex_id, level, cell_id), num_cells per
    level incl. empty cells, metrics with per-bisection lineage).

    Every Spark job run in here carries a ``tiler: ...`` job
    description; the caller's description is restored on return.
    """
    sc = spark.sparkContext
    caller_description = sc.getLocalProperty("spark.job.description")
    try:
        return _partition_levels(
            spark, vertices, edges, config or PartitionConfig(),
            local_recursion_threshold, checkpoint, n_vertices,
        )
    finally:
        sc.setJobDescription(caller_description)


def _partition_levels(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    config: PartitionConfig,
    local_recursion_threshold: int,
    checkpoint,
    n_vertices: int | None,
) -> tuple[DataFrame, list[int], DataFrame]:
    L = config.levels
    cell_sizes = config.cell_sizes
    rate = config.rate
    if checkpoint is not None:
        # bind the snapshot dir to this configuration — resuming after a
        # config change must recompute, not replay stale rounds
        checkpoint.bind(cell_sizes, rate, local_recursion_threshold)
    # callers that already hold the vertex count (run_pipeline counts
    # the persisted entity frame anyway) pass it through — the count
    # here only seeds the top level's sizes row, so re-counting was a
    # pure driver-blocking job per pipeline run (2.4-4s at 200k docs,
    # round-6 gap timers)
    sc = spark.sparkContext
    sc.setJobDescription("tiler: count vertices")
    _t_dbg = time.time()
    n = vertices.count() if n_vertices is None else int(n_vertices)
    if n_vertices is None and os.environ.get("TILER_DEBUG"):
        print(f"[tiler] vertices count took {time.time() - _t_dbg:.1f}s", flush=True)
    metrics_frames: list[DataFrame] = []
    edges = edges.select("edge_id", "tail", "head")

    # the level above the top: one cell holding every vertex
    labeled = vertices.select(
        "vertex_id", "lat", "lon",
        F.lit(0).cast("long").alias("cell_id"),
        *_no_lower_levels(),
    )
    empty_cells = local_frame(spark, [], "root long")
    level_sizes = [(0, 1, n)]
    live, finished = 1, False
    level_frames: list[DataFrame] = []
    num_cells: list[int] = [0] * L
    for level in range(L - 1, -1, -1):
        if level == L - 1 and n <= cell_sizes[level]:
            # the top level partitions only when n > U_{L-1}
            # (multilevel_partitioner.go:48-55)
            num_cells[level] = 1
            level_frames.append(
                labeled.select("vertex_id", F.lit(level).alias("level"), "cell_id")
            )
            continue
        a = labeled.select(
            "vertex_id", "lat", "lon",
            F.col("cell_id").alias("root"),
            # a vertex finished above keeps its cell key at this level
            F.coalesce(F.get("lower_keys", 0), F.lit(1).cast("long")).alias("path"),
            F.slice("lower_keys", 2, F.size("lower_keys")).alias("lower_keys"),
            "lower_empties",
        )
        # with every cell finished above, only the relabel runs
        level_metrics, round_ckpts = local_frame(spark, [], METRICS_SCHEMA), []
        if live:
            a, level_metrics, live, finished_here, round_ckpts = _run_level(
                a, edges, cell_sizes, rate, local_recursion_threshold, level,
                level_sizes, checkpoint, all_active=not finished,
            )
            finished = finished or finished_here
            metrics_frames.append(level_metrics)
        sc.setJobDescription(f"tiler: level={level} relabel")
        labeled, num_cells[level], empty_cells, level_sizes = _relabel_level(
            a, level_metrics, empty_cells, level,
            # the live cells of level 0 are final: no level runs them
            live if level else 0,
            # entering roots = the upper level's cells (incl. empties)
            n_roots_hint=num_cells[level + 1] if level < L - 1 else 1,
        )
        # the checkpointed relabel no longer reads the round assignments
        for df in round_ckpts:
            _free_checkpoint(df)
        level_frames.append(
            labeled.select("vertex_id", F.lit(level).alias("level"), "cell_id")
        )

    result = reduce(DataFrame.unionByName, level_frames)
    metrics = reduce(
        DataFrame.unionByName, metrics_frames, local_frame(spark, [], METRICS_SCHEMA)
    )
    if checkpoint is not None:
        sc.setJobDescription("tiler: finalize")
        checkpoint.finalize(result, num_cells, metrics)
    return result, num_cells, metrics
