"""Distributed multilevel inertial-flow partitioner.

The reference runs a *sequential* FIFO of bisections per level
(`/root/reference/pkg/partitioner/recursiveBisection.go:37-66`) inside a
single Go process. Here the while-loop lives on the Spark driver and each
iteration is ONE distributed job: every oversized cell is bisected in
parallel by a numpy kernel inside cogrouped ``applyInPandas``. Cut
semantics are identical because each cell's bisection is independent.

Three execution modes, chosen per round from driver-side cell counts:

1. **per-cell bisection** (big cells): one cogroup group per cell; the
   10 inertial direction jobs (`inertial_flow.go:123-132`) run inside
   the kernel on a thread pool of ``parallelism // #big cells`` threads
   (the compiled Dinic releases the GIL), so a lone root uses every core
   and many cells do not oversubscribe the host; the frozen
   (cut, balance, job) argmin is taken in-process, as the reference
   takes it (`inertial_flow.go:107-168`);
2. **local finish** (cell below ``local_recursion_threshold``): the
   kernel runs the *entire remaining recursion* of its cell locally in
   one call (the reference itself is a local recursion), collapsing
   O(log n) rounds into one pass;
3. **ml-finish** (every entering cell of a level below the threshold):
   one kernel call per cell completes ALL remaining levels, instead of
   one distributed pass + relabel per level.

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
them via n_empty, carried as a DataFrame). Per-round snapshots +
lineage/metrics via plans/checkpoint.py.

Driver memory is independent of total cell count: per-cell sizes,
empty-cell bookkeeping, lineage metrics and the per-level relabel all
live in DataFrames (per-root rank window + two-phase prefix sum over
roots); the driver touches O(1) scalars per round, plus one stat row
per bisected cell while fewer cells than ``parallelism`` are big.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import PartitionConfig
from ..kernel.bisection import bisect_once, recursive_bisection

KERNEL_OUT_SCHEMA = (
    "root long, parent_path long, path long, vertex_id long, "
    "lat double, lon double, "
    "n int, cut_edges int, part_two int, best_job int, n_empty int"
)

ML_FINISH_SCHEMA = (
    "root long, level int, local_cell long, vertex_id long, n_cells long"
)

ASSIGN_SCHEMA = "root long, path long, vertex_id long, lat double, lon double"
SIZES_SCHEMA = "root long, path long, n long"
EMPTIES_SCHEMA = "root long, n_empty long"
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

#: largest row count a prefix sum collects to the driver; bigger (or
#: unbounded) frames take the two-phase distributed path
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


def _make_finish_kernel(max_cell_size: int, rate: float, thread_budget: int | None = None):
    """Mode 2: complete the recursion for one small cell.
    ``thread_budget``: driver's cores-per-concurrent-task estimate for
    the big-cell round pool inside recursive_bisection."""

    def kernel(key, vdf: pd.DataFrame, edf: pd.DataFrame) -> pd.DataFrame:
        root, path = int(key[0]), int(key[1])
        ids, lat, lon, tails, heads = _sorted_cell_arrays(vdf, edf)
        _t0 = time.time()
        res = recursive_bisection(
            ids, lat, lon, tails, heads, max_cell_size, rate,
            pool_workers=thread_budget, coords_aligned=True,
        )
        if os.environ.get("TILER_DEBUG"):
            print(
                f"[finish-kernel] root={root} path={path} n={len(ids)} "
                f"m={len(tails)} cells={len(res.cells)} "
                f"took={time.time() - _t0:.1f}s",
                flush=True,
            )
        nonempty = [c for c in res.cells if len(c)]
        n_empty = len(res.cells) - len(nonempty)
        bits = max(int(np.ceil(np.log2(len(res.cells) + 1))), 1)
        # heap path gains `bits` low bits here (plus 1 bit per earlier
        # bisection round); overflow would silently alias distinct cells
        assert (path << bits) < 2**62, (
            f"cell path {path} << {bits} overflows the int64 heap path"
        )
        # cells are disjoint ascending subsets of ``ids``: one positional
        # gather builds the whole output (the former per-cell np.isin
        # re-sorted the full id set once per cell)
        cat = np.concatenate(nonempty) if nonempty else np.empty(0, np.int64)
        pos = np.searchsorted(ids, cat)
        paths = np.repeat(
            np.array(
                [np.int64((path << bits) | i) for i in range(len(nonempty))],
                dtype=np.int64,
            ),
            [len(c) for c in nonempty],
        )
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
            }
        )

    return kernel


def _make_multilevel_finish_kernel(levels_desc: list[int], cell_sizes_desc: list[int], rate: float):
    """Multi-level local finish: ONE task completes every remaining
    level for one entering cell (kernel/multilevel.py::
    multilevel_finish_local) — collapsing L_f per-level distributed
    passes into a single cogroup. Emits long-form
    (root, level, local_cell, vertex_id, n_cells) where local_cell is
    the frozen within-root numbering and n_cells the root's total cell
    count at that level INCLUDING empties (the driver turns these into
    global ids with a per-level prefix sum over roots)."""
    from ..kernel.multilevel import multilevel_finish_local

    def kernel(key, vdf: pd.DataFrame, edf: pd.DataFrame) -> pd.DataFrame:
        root = int(key[0])
        ids, lat, lon, tails, heads = _sorted_cell_arrays(vdf, edf)
        per_level = multilevel_finish_local(
            ids, lat, lon, tails, heads, cell_sizes_desc, rate,
            coords_aligned=True,
        )
        frames = []
        for li, cells in enumerate(per_level):
            n_cells = len(cells)
            nz = [(cid, c) for cid, c in enumerate(cells) if len(c)]
            cat = (
                np.concatenate([c for _, c in nz])
                if nz
                else np.empty(0, np.int64)
            )
            cids = np.repeat(
                np.array([cid for cid, _ in nz], dtype=np.int64),
                [len(c) for _, c in nz],
            )
            frames.append(
                pd.DataFrame(
                    {
                        "root": np.full(len(cat), root, dtype=np.int64),
                        "level": np.full(
                            len(cat), levels_desc[li], dtype=np.int32
                        ),
                        "local_cell": cids,
                        "vertex_id": cat,
                        "n_cells": np.full(len(cat), n_cells, dtype=np.int64),
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

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
) -> tuple[list, list, list]:
    """Literal control rows (metrics, still-oversized child sizes,
    empty-cell counts) from the collected per-parent stat rows of a
    bisection round — LITERAL rows on purpose: they keep the driver's
    sizes mirror live and cut the cross-round lineage of the control
    frames (see the bounded-collect comment in _run_level)."""
    mrows, srows, erows = [], [], []
    for r in prows:
        root, path = int(r["root"]), int(r["parent_path"])
        n_cell, p2 = int(r["n"]), int(r["part_two"])
        mrows.append(
            (
                level, rnd, root, path, n_cell, int(r["cut_edges"]),
                p2, int(r["best_job"]), int(r["n_empty"]), "cell",
            )
        )
        if r["n_empty"]:
            erows.append((root, int(r["n_empty"])))
        if n_cell - p2 >= max_cell_size:
            srows.append((root, path * 2, n_cell - p2))
        if p2 >= max_cell_size:
            srows.append((root, path * 2 + 1, p2))
    return mrows, srows, erows


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
        out = F.broadcast(
            spark.createDataFrame(
                [tuple(d[f.name] for f in schema.fields) for d in out_rows],
                schema,
            )
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
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offs.items()], "pid int, pidoff long"
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
    max_cell_size: int,
    rate: float,
    local_threshold: int,
    level: int,
    metrics_frames: list,
    sizes_df: DataFrame,
    checkpoint=None,
    sizes_rows: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Bisection rounds for one level. Round 0 bisects every cell
    (Partition() runs per parent unconditionally,
    multilevel_partitioner.go:59-68); later rounds only cells with
    count >= max_cell_size.

    ``sizes_df`` (root, path, n) carries the per-cell sizes as a
    DataFrame — between rounds it holds only still-oversized children,
    so neither the driver nor the frame grows with TOTAL cell count.
    The driver touches O(1) scalars per round (active/big counts, max
    path) plus, while fewer than ``parallelism`` cells are big, one
    stat row per bisected cell. Lineage metrics and empty-cell
    bookkeeping are DataFrames too.

    Returns (assignment, empties_df (root, n_empty)).

    ``sizes_rows`` — optional driver-side Python mirror of ``sizes_df``
    as [(root, path, n), ...]. Only carried while it stays BOUNDED: the
    top level enters with one literal row, and while fewer than
    ``parallelism`` cells are bisected the still-oversized children come
    back through the bounded per-cell stat collect, so the mirror costs
    O(active) driver memory — never O(#cells). Any round that derives
    sizes lazily (many big cells, checkpointing, level entry from
    relabel) drops the mirror and the DataFrame path takes over. With
    the mirror live, the per-round mode decision and the active/big
    splits are pure Python — no sizes aggregation job per round."""
    spark = assign.sparkSession
    sc = spark.sparkContext
    parallelism = sc.defaultParallelism
    ckpt_parts = max(parallelism, 2)
    schemas = {
        "assign": ASSIGN_SCHEMA,
        "sizes": SIZES_SCHEMA,
        "empties": EMPTIES_SCHEMA,
        "metrics": METRICS_SCHEMA,
    }
    empties_df = spark.createDataFrame([], EMPTIES_SCHEMA)
    level_metric_frames: list[DataFrame] = []
    level_unpersist: list[DataFrame] = []

    def budget(n_cells: int) -> int:
        # cores per concurrent kernel task: each task's thread pool gets
        # its fair slice of the host instead of 10 threads apiece
        return max(1, parallelism // max(1, min(n_cells, parallelism)))

    rnd = 0
    while True:
        sc.setJobDescription(f"tiler: level={level} round={rnd}")
        if checkpoint is not None and checkpoint.has_round(level, rnd):
            # resume: replay this round from its durable snapshot
            assign, sizes_df, empties_df, m = checkpoint.load_round_dfs(
                level, rnd, schemas
            )
            metrics_frames.append(m)
            sizes_rows = None
            rnd += 1
            continue
        _t_phase = time.time()
        one_cell = None  # (root, path) of round 0's only cell
        if sizes_rows is not None:
            act_rows = (
                sizes_rows
                if rnd == 0
                else [r for r in sizes_rows if r[2] >= max_cell_size]
            )
            n_active = len(act_rows)
            if n_active == 0:
                break
            assert max(r[1] for r in act_rows) < 2**61, (
                "heap-numbered cell path near int64 overflow"
            )
            max_n = max(r[2] for r in act_rows)
            n_big = sum(1 for r in act_rows if r[2] >= local_threshold)
            if rnd == 0 and n_active == 1:
                one_cell = tuple(act_rows[0][:2])
        else:
            active = (
                sizes_df  # round 0: every parent cell, any size
                if rnd == 0
                else sizes_df.filter(F.col("n") >= max_cell_size)
            )
            agg = active.groupBy().agg(
                F.count("*").alias("n_active"),
                F.sum((F.col("n") >= local_threshold).cast("int")).alias("n_big"),
                F.max("root").alias("max_root"),
                F.max("path").alias("max_path"),
                F.max("n").alias("max_n"),
            ).first()
            n_active = int(agg["n_active"] or 0)
            if n_active == 0:
                break
            # every bisection round appends >= 1 bit to the heap path
            assert int(agg["max_path"]) < 2**61, (
                "heap-numbered cell path near int64 overflow"
            )
            max_n = int(agg["max_n"])
            n_big = int(agg["n_big"] or 0)
            if rnd == 0 and n_active == 1:
                one_cell = (int(agg["max_root"]), int(agg["max_path"]))
        # promote rule: when every remaining big cell is < PROMOTE_CAP x
        # the finish threshold, one more distributed bisection round
        # would only produce children that all finish locally next round
        # — skip the round and finish the borderline cells in-kernel now.
        # Collapses the trailing dribble of the bisection prefix (50k
        # docs: rounds/level 6 -> 4 measured at the default threshold)
        # without ever promoting a cell that could stress executor memory.
        if n_big and max_n < PROMOTE_CAP * local_threshold:
            n_big = 0
        n_small = n_active - n_big
        if sizes_rows is not None:
            active = spark.createDataFrame(act_rows, SIZES_SCHEMA)
        small_df = active.filter(F.col("n") < local_threshold) if n_big else active
        big_df = active.filter(F.col("n") >= local_threshold)
        if os.environ.get("TILER_DEBUG"):
            print(f"[tiler]   sizes prep took {time.time() - _t_phase:.2f}s", flush=True)
        _t_round = time.time()
        sc.setJobDescription(
            f"tiler: level={level} round={rnd} small={n_small} big={n_big}"
        )

        # round 0 activates every cell: no inactive cells to carry over
        frames = (
            []
            if rnd == 0
            else [
                assign.join(
                    F.broadcast(active.select("root", "path")),
                    ["root", "path"],
                    "left_anti",
                ).select("root", "path", "vertex_id", "lat", "lon")
            ]
        )
        sizes_frames: list[DataFrame] = []  # still-oversized children
        empties_frames: list[DataFrame] = []
        metric_parts: list[DataFrame] = []
        to_unpersist = []  # kernel outputs the lazy control frames read

        def run_kernel(keys_df, kernel):
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
                act.groupBy("root", "path")
                .cogroup(e_act.groupBy("root", "path"))
                .applyInPandas(kernel, schema=KERNEL_OUT_SCHEMA)
                .persist()
            )
            frames.append(out.select("root", "path", "vertex_id", "lat", "lon"))
            per_parent = out.groupBy("root", "parent_path").agg(
                F.first("n").alias("n"),
                F.first("cut_edges").alias("cut_edges"),
                F.first("part_two").alias("part_two"),
                F.first("best_job").alias("best_job"),
                F.first("n_empty").alias("n_empty"),
            )
            return out, per_parent

        def lazy_controls(out, per_parent, is_bisect):
            to_unpersist.append(out)
            metric_parts.append(
                per_parent.select(
                    F.lit(level).cast("int").alias("level"),
                    F.lit(rnd).cast("int").alias("round"),
                    "root",
                    "parent_path",
                    "n",
                    "cut_edges",
                    "part_two",
                    "best_job",
                    "n_empty",
                    F.lit("cell").alias("mode"),
                )
            )
            empties_frames.append(
                per_parent.filter(F.col("n_empty") > 0).select(
                    "root", F.col("n_empty").cast("long").alias("n_empty")
                )
            )
            if is_bisect:
                # children sizes derive from the cut metrics — no
                # counting job, and only oversized children are kept
                ch = per_parent.select(
                    "root",
                    F.explode(
                        F.array(
                            F.struct(
                                (F.col("parent_path") * 2).alias("path"),
                                (F.col("n") - F.col("part_two"))
                                .cast("long")
                                .alias("n"),
                            ),
                            F.struct(
                                (F.col("parent_path") * 2 + 1).alias("path"),
                                F.col("part_two").cast("long").alias("n"),
                            ),
                        )
                    ).alias("c"),
                ).select("root", F.col("c.path").alias("path"), F.col("c.n").alias("n"))
                sizes_frames.append(ch.filter(F.col("n") >= max_cell_size))

        if n_small:
            lazy_controls(
                *run_kernel(
                    small_df,
                    _make_finish_kernel(max_cell_size, rate, budget(n_small)),
                ),
                False,
            )
        bounded = None  # (kernel output, per-parent stats) collected below
        if n_big:
            out, per_parent = run_kernel(
                big_df, _make_bisect_kernel(rate, budget(n_big))
            )
            if sizes_rows is not None and n_big < parallelism and checkpoint is None:
                bounded = (out, per_parent)
            else:
                lazy_controls(out, per_parent, True)

        new_assign = frames[0]
        for fr in frames[1:]:
            new_assign = new_assign.unionByName(fr)
        new_sizes = (
            sizes_frames[0]
            if sizes_frames
            else spark.createDataFrame([], SIZES_SCHEMA)
        )
        for fr in sizes_frames[1:]:
            new_sizes = new_sizes.unionByName(fr)
        new_empties = empties_df
        for fr in empties_frames:
            new_empties = new_empties.unionByName(fr)
        round_metrics = (
            metric_parts[0]
            if metric_parts
            else spark.createDataFrame([], METRICS_SCHEMA)
        )
        for fr in metric_parts[1:]:
            round_metrics = round_metrics.unionByName(fr)
        if checkpoint is not None:
            assign, sizes_df, empties_df, round_metrics = (
                checkpoint.snapshot_round_dfs(
                    level, rnd, new_assign, new_sizes, new_empties, round_metrics
                )
            )
            metrics_frames.append(round_metrics)
            sizes_rows = None
            for df in to_unpersist:
                df.unpersist()
        else:
            # ONE eager materialization of the round's kernels (the
            # assignment); the tiny sizes/empties/metrics frames stay
            # LAZY against the cached kernel outputs and are folded into
            # one job at level end — no per-round fixed-latency job tax.
            # The coalesce caps the stored partition count: each round's
            # union otherwise ADDS its children's partitions to the
            # checkpointed set, and by round 6 every scan of the
            # assignment was paying 300+ task launches (profiled round-3
            # tail: checkpoint cost grew 1.1s -> 4.0s across rounds).
            _t_phase = time.time()
            assign = new_assign.coalesce(ckpt_parts).localCheckpoint(eager=True)
            if os.environ.get("TILER_DEBUG"):
                print(
                    f"[tiler]   assign checkpoint took {time.time() - _t_phase:.2f}s",
                    flush=True,
                )
            srows = []
            if bounded is not None:
                # bounded collect: fewer than `parallelism` cells were
                # bisected, so their stat rows are few and come from the
                # kernel output the checkpoint above just cached. The
                # control frames are rebuilt from LITERAL rows. Round-2
                # lesson: deriving them LAZILY round after round chains
                # the lineage, and Catalyst's sizeInBytes stats (a
                # PRODUCT over join children) compound into BigIntegers
                # with thousands of digits — the driver then spends
                # MINUTES per round in planning. Literal rows cut the
                # lineage and keep the sizes mirror live.
                out, per_parent = bounded
                mrows, srows, erows = _bisect_control_rows(
                    per_parent.collect(), level, rnd, max_cell_size
                )
                level_metric_frames.append(
                    spark.createDataFrame(mrows, METRICS_SCHEMA)
                )
                if srows:
                    new_sizes = new_sizes.unionByName(
                        spark.createDataFrame(srows, SIZES_SCHEMA)
                    )
                if erows:
                    new_empties = new_empties.unionByName(
                        spark.createDataFrame(erows, EMPTIES_SCHEMA)
                    )
                # nothing lazy reads it past this point
                out.unpersist()
            # Truncate the sizes/empties lineage whenever lazy frames
            # were contributed this round. Those frames reference the
            # kernel output, which references this round's small/big
            # split of the PREVIOUS sizes_df — more than one reference
            # per round, so while the plan object graph stays a small
            # DAG, everything that RENDERS the plan as a tree (the
            # explainString built for the SQL listener event on every
            # action) expands the sharing and grows O(2^rounds): at 200k
            # docs / local[8] round ~10's checkpoint action OOM'd a 16g
            # driver building a >40M-line plan string. Both frames are
            # O(#active cells) rows and their inputs are already cached
            # and materialized by the assignment checkpoint above, so
            # this is a sub-second cache-read job.
            # The per-round checkpoints are freed at LEVEL end (not per
            # round): lazy metric frames may recompute through them if
            # the persisted kernel outputs are evicted, and a
            # truncated-lineage checkpoint cannot be rebuilt once its
            # blocks are dropped. O(rounds) metadata-scale block sets
            # per level, all released after the metrics materialize.
            if sizes_frames:
                sizes_df = new_sizes.localCheckpoint(eager=True)
                level_unpersist.append(sizes_df)
            else:
                sizes_df = new_sizes
            if empties_frames:
                empties_df = new_empties.localCheckpoint(eager=True)
                level_unpersist.append(empties_df)
            else:
                empties_df = new_empties
            if metric_parts:
                level_metric_frames.append(round_metrics)
            level_unpersist.extend(to_unpersist)
            # refresh the Python mirror: valid only when every child
            # size this round came from the bounded stat collect (lazy
            # bisection frames -> drop the mirror)
            sizes_rows = None if sizes_frames else srows
        if os.environ.get("TILER_DEBUG"):
            print(
                f"[tiler] level={level} round={rnd} small={n_small} "
                f"big={n_big} took={time.time() - _t_round:.1f}s",
                flush=True,
            )
        rnd += 1
    sc.setJobDescription(f"tiler: level={level} end")
    if level_metric_frames:
        rm = level_metric_frames[0]
        for fr in level_metric_frames[1:]:
            rm = rm.unionByName(fr)
        metrics_frames.append(rm.localCheckpoint(eager=True))
    empties_df = empties_df.localCheckpoint(eager=True)
    for df in level_unpersist:
        df.unpersist()
    return assign, empties_df


def _relabel_level(
    assign: DataFrame,
    empties_df: DataFrame,
    empty_roots_df: DataFrame,
    n_roots_hint: int | None = None,
) -> tuple[DataFrame, int, DataFrame, DataFrame]:
    """Frozen numbering, fully DISTRIBUTED (the driver sees one scalar):
    per parent root (in root-id order): non-empty cells by min original
    vertex id, then that root's empty cells; empty roots contribute 2
    empty child cells in place.

    Plan shape: one groupBy for per-cell meta, a per-root rank window
    (parallel across roots), and a two-phase exclusive prefix sum over
    roots for the cross-root id offsets — no single-partition window,
    no O(#cells) driver collect.

    Returns (labeled assignment, num_cells, empty-cell ids as a
    DataFrame(root) for the next level, per-cell sizes DataFrame
    (root=cell_id, path=1, n) seeding the next level)."""
    meta = assign.groupBy("root", "path").agg(
        F.min("vertex_id").alias("min_vid"), F.count("*").alias("n")
    )
    ne_counts = meta.groupBy("root").agg(F.count("*").alias("n_ne"))
    em = empties_df.groupBy("root").agg(F.sum("n_empty").alias("n_em"))
    roots = (
        ne_counts.join(em, "root", "full")
        .na.fill({"n_ne": 0, "n_em": 0})
        .select("root", "n_ne", "n_em")
        .unionByName(
            # Partition(empty cell) -> 2 empty children, in place
            empty_roots_df.select(
                "root",
                F.lit(0).cast("long").alias("n_ne"),
                F.lit(2).cast("long").alias("n_em"),
            )
        )
        .withColumn("total", F.col("n_ne") + F.col("n_em"))
    )
    roots, num_cells = _exclusive_cumsum_by_key(
        roots, "root", "total", "offset", n_rows_hint=n_roots_hint
    )
    wr = Window.partitionBy("root").orderBy(F.asc("min_vid"))
    cells = meta.join(roots.select("root", "offset"), "root").withColumn(
        "cell_id", F.col("offset") + F.row_number().over(wr) - 1
    )
    labeled = assign.join(cells.select("root", "path", "cell_id"), ["root", "path"]).select(
        "vertex_id", "lat", "lon", "cell_id"
    )
    empty_cells = roots.filter(F.col("n_em") > 0).select(
        F.explode(
            F.sequence(
                F.col("offset") + F.col("n_ne"),
                F.col("offset") + F.col("n_ne") + F.col("n_em") - 1,
            )
        ).alias("root")
    )
    level_sizes = cells.select(
        F.col("cell_id").alias("root"),
        F.lit(1).cast("long").alias("path"),
        F.col("n").cast("long").alias("n"),
    )
    return labeled, int(num_cells), empty_cells, level_sizes


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
    if checkpoint is not None and not checkpoint.config_token:
        # bind the snapshot dir to this configuration — resuming after a
        # config change must recompute, not replay stale rounds
        from ..plans.checkpoint import derive_config_token

        checkpoint.config_token = derive_config_token(
            cell_sizes, rate, local_recursion_threshold
        )
    # callers that already hold the vertex count (run_pipeline counts
    # the persisted entity frame anyway) pass it through — the count
    # here only seeds sizes0, so re-counting was a pure driver-blocking
    # job per pipeline run (2.4-4s at 200k docs, round-6 gap timers)
    sc = spark.sparkContext
    sc.setJobDescription("tiler: count vertices")
    _t_dbg = time.time()
    n = vertices.count() if n_vertices is None else int(n_vertices)
    if n_vertices is None and os.environ.get("TILER_DEBUG"):
        print(f"[tiler] vertices count took {time.time() - _t_dbg:.1f}s", flush=True)
    metrics_frames: list[DataFrame] = []

    assign = vertices.select(
        "vertex_id",
        "lat",
        "lon",
        F.lit(0).cast("long").alias("root"),
        F.lit(1).cast("long").alias("path"),
    )
    edges = edges.select("edge_id", "tail", "head")

    level_frames: list[DataFrame] = []
    num_cells: list[int] = [0] * L

    top_u = cell_sizes[L - 1]
    if n > top_u:
        sizes0 = spark.createDataFrame([(0, 1, n)], SIZES_SCHEMA)
        a, empties_df = _run_level(
            assign, edges, top_u, rate, local_recursion_threshold, L - 1,
            metrics_frames, sizes0, checkpoint, sizes_rows=[(0, 1, n)],
        )
        _t = time.time()
        sc.setJobDescription(f"tiler: level={L - 1} relabel")
        labeled, c, empty_cells, level_sizes = _relabel_level(
            a, empties_df, spark.createDataFrame([], "root long"),
            n_roots_hint=1,  # the top level enters with the single root 0
        )
        if os.environ.get("TILER_DEBUG"):
            print(f"[tiler] relabel level={L-1} took {time.time() - _t:.1f}s", flush=True)
        mx_bound = top_u - 1  # bisection only stops once every cell < U
    else:
        labeled = assign.select(
            "vertex_id", "lat", "lon", F.lit(0).cast("long").alias("cell_id")
        )
        c = 1
        empty_cells = spark.createDataFrame([], "root long")
        level_sizes = spark.createDataFrame([(0, 1, n)], SIZES_SCHEMA)
        mx_bound = n  # the single top cell holds exactly n vertices
    num_cells[L - 1] = c
    level_frames.append(
        labeled.select("vertex_id", F.lit(L - 1).alias("level"), "cell_id")
    )

    current = labeled
    for level in range(L - 2, -1, -1):
        u = cell_sizes[level]
        # multi-level local finish: once EVERY entering cell fits the
        # local-recursion threshold, one cogroup pass completes ALL
        # remaining levels (each task runs the full lower recursion for
        # one cell) instead of one distributed pass + relabel per level.
        # Under checkpointing the collapsed pass is its own named
        # resumable unit (snapshots are per (level, round); the collapsed
        # pass spans several levels, so it gets a unit snapshot instead
        # — resumable runs keep the fast path).
        # every cell the level above emitted is < that level's max size
        # BY CONSTRUCTION (its bisection loop only stops when no cell
        # >= U), so the ml-finish decision needs no distributed max —
        # the former one-row agg here still cost a full driver-blocking
        # job per level through the lazy relabel lineage (round 6)
        mx = mx_bound
        if 0 < mx < local_recursion_threshold:
            _t_ml = time.time()
            sc.setJobDescription(f"tiler: ml finish from level {level}")
            lvls = list(range(level, -1, -1))
            sizes_desc = [cell_sizes[l] for l in lvls]
            unit = f"mlfinish_l{level}"
            if checkpoint is not None and checkpoint.has_unit(unit):
                out = checkpoint.load_unit(unit, ML_FINISH_SCHEMA)
            else:
                a0 = current.select(
                    "vertex_id", "lat", "lon",
                    F.col("cell_id").alias("root"),
                    F.lit(1).cast("long").alias("path"),
                )
                e_act = _label_edges(edges, a0)
                out = (
                    a0.groupBy("root", "path")
                    .cogroup(e_act.groupBy("root", "path"))
                    .applyInPandas(
                        _make_multilevel_finish_kernel(lvls, sizes_desc, rate),
                        schema=ML_FINISH_SCHEMA,
                    )
                )
                out = (
                    checkpoint.snapshot_unit(unit, out)
                    if checkpoint is not None
                    else out.localCheckpoint(eager=True)
                )
                if os.environ.get("TILER_DEBUG"):
                    print(
                        f"[tiler]   ml cogroup+checkpoint took {time.time() - _t_ml:.1f}s",
                        flush=True,
                    )
            # per-bisection lineage is collapsed inside the finish kernel;
            # keep the metrics contract with one summary row per
            # (level, entering root): n vertices, empty-cell count,
            # mode='ml_finish' (cut stats are intra-kernel, reported -1)
            metrics_frames.append(
                out.groupBy("level", "root")
                .agg(
                    F.count("*").alias("nv"),
                    F.first("n_cells").alias("n_cells"),
                    F.countDistinct("local_cell").alias("n_ne"),
                )
                .select(
                    F.col("level").cast("int").alias("level"),
                    F.lit(0).cast("int").alias("round"),
                    "root",
                    F.lit(-1).cast("long").alias("parent_path"),
                    F.col("nv").cast("int").alias("n"),
                    F.lit(-1).cast("int").alias("cut_edges"),
                    F.lit(-1).cast("int").alias("part_two"),
                    F.lit(-1).cast("int").alias("best_job"),
                    (F.col("n_cells") - F.col("n_ne")).cast("int").alias("n_empty"),
                    F.lit("ml_finish").alias("mode"),
                )
            )
            for li, lvl in enumerate(lvls):
                lvl_df = out.filter(F.col("level") == lvl)
                meta = lvl_df.groupBy("root").agg(
                    F.first("n_cells").alias("total")
                )
                # entering-empty cells double per level ("2 empty
                # children in place"): 2^(li+1) id slots at depth li+1
                roots = meta.unionByName(
                    empty_cells.select(
                        "root",
                        F.lit(int(2 ** (li + 1))).cast("long").alias("total"),
                    )
                )
                # entering-roots frame is bounded by the known upper
                # level's cell count — bounded-collect prefix sum
                roots, total_cells = _exclusive_cumsum_by_key(
                    roots, "root", "total", "offset",
                    n_rows_hint=num_cells[level + 1],
                )
                num_cells[lvl] = int(total_cells)
                level_frames.append(
                    lvl_df.join(roots.select("root", "offset"), "root").select(
                        "vertex_id",
                        F.lit(lvl).alias("level"),
                        (F.col("offset") + F.col("local_cell")).alias("cell_id"),
                    )
                )
            if os.environ.get("TILER_DEBUG"):
                print(
                    f"[tiler] ml finish (levels {lvls}) took {time.time() - _t_ml:.1f}s",
                    flush=True,
                )
            break
        a0 = current.select(
            "vertex_id",
            "lat",
            "lon",
            F.col("cell_id").alias("root"),
            F.lit(1).cast("long").alias("path"),
        )
        a, empties_df = _run_level(
            a0, edges, u, rate, local_recursion_threshold, level,
            metrics_frames, level_sizes, checkpoint,
        )
        sc.setJobDescription(f"tiler: level={level} relabel")
        labeled, c, empty_cells, level_sizes = _relabel_level(
            a, empties_df, empty_cells,
            # entering roots = the upper level's cells (incl. empties)
            n_roots_hint=num_cells[level + 1],
        )
        num_cells[level] = c
        level_frames.append(
            labeled.select("vertex_id", F.lit(level).alias("level"), "cell_id")
        )
        current = labeled
        mx_bound = u - 1  # this level's bisection bound for the next decision

    result = level_frames[0]
    for fr in level_frames[1:]:
        result = result.unionByName(fr)
    metrics = (
        metrics_frames[0]
        if metrics_frames
        else spark.createDataFrame([], METRICS_SCHEMA)
    )
    for fr in metrics_frames[1:]:
        metrics = metrics.unionByName(fr)
    if checkpoint is not None:
        sc.setJobDescription("tiler: finalize")
        checkpoint.finalize(result, num_cells, metrics)
    return result, num_cells, metrics
