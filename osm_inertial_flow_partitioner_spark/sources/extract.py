"""Geo-entity extraction from Common-Crawl-style pages.

Maps the reference's parse phase (S1-S3,
`/root/reference/pkg/osmparser/osm_parser2.go:148-373`) onto the graft
input: pages -> geo entities (vertices) -> cell-bucketed kNN adjacency
(edges). Everything is native Catalyst (``regexp_extract_all`` +
explode + window) — no Python in the extraction hot path, and the
``text`` column is only ever *read*, preserving the byte-identical
per-url invariant (input_hint; checked by tests via sha2 equality).

Dense entity ids use the scalable two-phase pattern: range-partition by
(url, pos), per-partition row_number + broadcast partition offsets — no
single-partition global window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import grid_cell, grid_disk, haversine_km
from ..operators.topk import partial_topk
from ..session import local_frame

GEO_PATTERN = r"geo:(-?\d+\.\d+),(-?\d+\.\d+)"


def extract_entities(
    pages: DataFrame, res: int = 6, return_count: bool = False
) -> DataFrame:
    """pages(url, ..., text) -> entities(entity_id, url, lat, lon, cell).

    Filter-first (pages without any mention are dropped before the
    explode — predicate prunes early), then one explode per mention.

    ``return_count=True`` returns ``(entities, n)`` where ``n`` is the
    exact row count — it is the sum of the per-partition counts the
    dense-id offsets are built from (the id-assignment join/window is
    1:1 with the checkpointed partitioning), so callers that need the
    count (the pipeline seeds sizes0 and the kNN occupancy gate with
    it) skip one full driver-blocking count job (round 6).
    """
    mentions = (
        pages.select(
            "url", F.regexp_extract_all(F.col("text"), F.lit(GEO_PATTERN), 0).alias("ms")
        )
        .filter(F.size("ms") > 0)
        .select("url", F.posexplode("ms").alias("pos", "m"))
        # one split on [:,] ("geo:lat,lon" -> [geo, lat, lon]) instead
        # of two regexp_replace+split trees per coordinate; the parsed
        # strings — hence the doubles — are identical (round 6)
        .withColumn("_parts", F.split(F.col("m"), "[:,]"))
        .select(
            "url",
            "pos",
            F.col("_parts")[1].cast("double").alias("lat"),
            F.col("_parts")[2].cast("double").alias("lon"),
        )
    )
    # pin the regex pass BEFORE range partitioning: repartitionByRange
    # SAMPLES its input to pick boundaries, so feeding it the raw plan
    # ran the full-text regexp twice per run (sample pass + write pass
    # — round-6 stage profile: the two ~30 MB text scans were the
    # extract phase's whole cost). The persist bounds it to one pass;
    # released right after the partitioning is pinned below.
    mentions = mentions.persist()
    # distributed dense ids: partition offsets + local row_number.
    # The range partitioning MUST be pinned (localCheckpoint) before the
    # two passes — re-materialization may re-sample different range
    # boundaries, which would assign duplicate ids across partitions.
    part = (
        mentions.repartitionByRange(
            max(mentions.sparkSession.sparkContext.defaultParallelism, 2),
            "url",
            "pos",
        )
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    mentions.unpersist()
    counts = {r["pid"]: r["cnt"] for r in part.groupBy("pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = F.broadcast(
        local_frame(
            part.sparkSession,
            [(int(p), int(o)) for p, o in offsets.items()],
            "pid int, offset long",
        )
    )
    w = Window.partitionBy("pid").orderBy("url", "pos")
    ent = (
        part.join(off_df, "pid")
        .withColumn("entity_id", F.col("offset") + F.row_number().over(w) - 1)
        .select("entity_id", "url", "lat", "lon")
        .withColumn("cell", grid_cell(F.col("lat"), F.col("lon"), res))
    )
    return (ent, acc) if return_count else ent


def auto_adjacency_res(n_points: int) -> int:
    """Adjacency-bucket resolution targeting O(sqrt n)-ish cell occupancy
    so the per-cell self-join stays subquadratic even inside hot
    clusters: res ~ log2(sqrt(n)) + 3, clamped to [4, 14]."""
    import math

    if n_points <= 1:
        return 4
    return max(4, min(14, int(round(math.log2(math.sqrt(n_points)))) + 3))


#: Engage the partial top-k reduction only past this estimated candidate
#: volume. Below it the plain ranking window is faster — the Arrow
#: JVM->Python transfer dominates the reduce (round-4 probe at 54.7M
#: candidates: window 14.2s vs reduce 25.0s; round-6 re-calibration at
#: 231.6M candidates under the 4x-cores shuffle-partition layout:
#: window 12.4s vs reduce 64.4s, isolated noop runs — the 128-partition
#: sort holds ~1.9M rows per sorter and spills gracefully, nowhere near
#: the round-3 single-sorter collapse). Above it the bounded reduction
#: still guards the pathological regime where one local-mode JVM would
#: hold every sorter's pages at once. 512M rows ~ 20-25 GB of sorter
#: pages across the job — the documented margin of the default 8g heap
#: with spill, and the driver-memory scaling below shrinks it on
#: smaller heaps.
TOPK_REDUCE_THRESHOLD = 512_000_000


def _default_topk_threshold() -> int:
    """128M rows is calibrated to ~5 GB of sorter pages inside the
    DEFAULT 8g local-mode heap (session.py). If SPARK_DRIVER_MEMORY
    shrinks the sole heap, the plain-window path chosen under the
    threshold re-approaches the round-3 single-sorter pressure — scale
    the default linearly with the configured heap so a 4g run engages
    the bounded reduction at 64M rows. Explicit overrides
    (SPARK_GRAFT_TOPK_THRESHOLD or the ``topk_threshold`` argument)
    always win."""
    mem = os.environ.get("SPARK_DRIVER_MEMORY", "8g").strip().lower()
    try:
        if mem.endswith("g"):
            gb = float(mem[:-1])
        elif mem.endswith("m"):
            gb = float(mem[:-1]) / 1024.0
        else:
            # Spark reads a suffix-less spark.driver.memory as MiB —
            # match that (ADVICE r5: parsing as raw bytes silently
            # forced the reduce path for SPARK_DRIVER_MEMORY=8192)
            gb = float(mem) / 1024.0
    except ValueError:
        gb = 8.0
    return int(TOPK_REDUCE_THRESHOLD * min(gb / 8.0, 1.0))


def knn_adjacency(
    entities: DataFrame,
    k: int = 4,
    res: int | None = None,
    ring: int = 1,
    topk_threshold: int | None = None,
    n_points: int | None = None,
) -> DataFrame:
    """Cell-bucketed kNN graph over entities -> undirected edge list
    (edge_id, tail, head), one row per undirected edge, deterministic
    edge ids by (tail, head) rank.

    Pattern (J6): explode the grid disk of each point -> equi-join on
    cell (never a cross join) -> haversine rank -> top-k window.

    ``res`` here is the ADJACENCY bucket resolution, independent of the
    query-cell resolution: hot clusters make coarse cells quadratic in
    the self-join, so by default it is auto-picked from the point count
    (the explicit skew handling the north_rule asks for); AQE skew-join
    splitting covers the residual imbalance.

    Physical strategy is adaptive (AQE-style, decided from a one-pass
    occupancy statistic): when the estimated candidate volume exceeds
    ``topk_threshold`` (default ``TOPK_REDUCE_THRESHOLD``, env override
    ``SPARK_GRAFT_TOPK_THRESHOLD``), a bounded per-partition top-k
    reduction (operators/topk.py) runs before the ranking window so the
    candidate set never sits in one sorter and the shuffle carries only
    ~k rows per (query, partition); below it the plain window wins (the
    reduction's Arrow round-trip costs more than the sort it saves).
    Both paths are exact under the (d, entity_id) total order — parity
    is pinned by tests/test_spatial.py.
    """
    n = entities.count() if n_points is None else n_points
    auto_res = res is None
    if auto_res:
        res = auto_adjacency_res(n)
    if topk_threshold is None:
        env = os.environ.get("SPARK_GRAFT_TOPK_THRESHOLD")
        topk_threshold = int(env) if env else _default_topk_threshold()

    def occ2_at(r: int) -> int:
        # sum of squared per-cell occupancy — one tiny O(n)-row agg job
        row = (
            entities.groupBy(
                grid_cell(F.col("lat"), F.col("lon"), r).alias("cell")
            )
            .count()
            .agg(F.sum(F.col("count") * F.col("count")).alias("s"))
            .first()
        )
        return int(row["s"] or 0)

    def occ2_ladder(r0: int, bits: int) -> list[int]:
        # sum occ^2 at r0, r0+1, ..., r0+bits in ONE job: counts at the
        # finest resolution aggregate EXACTLY to each coarser level
        # (cell_parent is a bit shift of both grid coordinates). Each
        # fine cell explodes into its (level, parent) pairs, then two
        # tiny partial-aggregating shuffles produce one row per level —
        # a fixed-depth plan for any ladder height. (A chain of
        # per-level parent aggs was also measured: one exchange PER
        # level made it slower than separate jobs; this shape A/B'd
        # fastest of the three — round 6.)
        rf = r0 + bits
        # each entity emits its (level, cell-at-level) pairs directly —
        # grid_cell at res r equals the bit-shifted parent of the res-rf
        # cell (exact hierarchy), so no intermediate fine-count exchange
        # is needed: two partial-aggregating shuffles total
        pairs = entities.select(
            F.posexplode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            grid_cell(F.col("lat"), F.col("lon"), r).alias("p"),
                        )
                        for r in range(r0, rf + 1)
                    ]
                )
            ).alias("pos", "x"),
        ).select(F.col("x.r").alias("r"), F.col("x.p").alias("p"))
        rows = (
            pairs.groupBy("r", "p")
            .agg(F.count("*").alias("c"))
            .groupBy("r")
            .agg(F.sum(F.col("c") * F.col("c")).alias("s"))
            .collect()
        )
        d = {int(x["r"]): int(x["s"] or 0) for x in rows}
        return [d.get(r0 + i, 0) for i in range(bits + 1)]

    # estimated candidate volume from per-cell occupancy: each point
    # probes its (2*ring+1)^2-cell disk, so E[candidates] ~ disk_size *
    # sum_c occ_c^2 under locally-uniform occupancy.
    disk = (2 * ring + 1) ** 2
    if auto_res:
        ladder = occ2_ladder(res, min(2, 14 - res))
        est_cand = disk * ladder[0]
    else:
        est_cand = disk * occ2_at(res)
    if auto_res:
        # density-measured refinement (round 6; guide §2.5 input skew):
        # auto_adjacency_res targets O(k)-scale disk occupancy from the
        # COUNT alone, but clustered inputs (the bench's pseudo-geotags
        # lie on a 0.1-degree modular lattice) concentrate points far
        # past the uniform assumption — measured at 50k docs: 438
        # candidates/point at the formula's res 11, a 54.7M-row
        # candidate join whose haversine + window-group-limit was the
        # single most expensive stage of the flagship (~160 CPU-s).
        # Bump the resolution until the MEASURED estimate is near the
        # target (each step is one sub-second agg job on the persisted
        # entity set; candidates shrink ~4x per bit, floor-bounded by
        # exact-duplicate sites). The target keeps a couple hundred
        # disk candidates per point — two orders above k, so the
        # ranked result is insensitive to the disk shrink (measured at
        # 50k docs: res 11 -> 12 changes 1.1% of edges — boundary ties
        # past the disk — and cuts the candidate stage 31s -> 8s; one
        # more bit would drop BELOW the data's site spacing and change
        # 13% of edges, which the target forbids). Explicit ``res``
        # arguments (all oracle-checked queries) never enter this loop.
        target = max(192, 48 * k) * max(n, 1)
        step = 0
        while res < 14 and est_cand > target:
            step += 1
            nxt = disk * (
                ladder[step] if step < len(ladder) else occ2_at(res + 1)
            )
            if nxt >= est_cand:  # duplicate-site floor reached
                break
            res += 1
            est_cand = nxt
    pts = entities.select(
        "entity_id", "lat", "lon",
        grid_cell(F.col("lat"), F.col("lon"), res).alias("cell"),
    )
    probes = pts.select(
        F.col("entity_id").alias("qid"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
        F.explode(grid_disk(F.col("cell"), res, ring)).alias("cell"),
    )
    cand = (
        probes.join(pts, "cell")
        .filter(F.col("entity_id") != F.col("qid"))
        .select(
            "qid",
            "entity_id",
            haversine_km(
                F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon")
            ).alias("d"),
        )
    )
    if est_cand > topk_threshold:
        # partial per-partition top-k BEFORE the global window (the
        # round-3 scale-killer: the bare window sorted the full
        # ~240M-row candidate set in one pass; see operators/topk.py).
        # Candidates are hash-partitioned by cell, so the reduced set is
        # <= k * disk_size rows/query.
        reduced = partial_topk(cand, ["qid"], ["d", "entity_id"], k)
    else:
        reduced = cand
    w = Window.partitionBy("qid").orderBy(
        F.col("d").asc(), F.col("entity_id").asc()
    )
    knn = (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.least("qid", "entity_id").alias("tail"),
            F.greatest("qid", "entity_id").alias("head"),
        )
        # pre-partition by tail ONCE: hash(tail) co-locates every copy
        # of a (tail, head) pair, so the dedup aggregate's clustered
        # distribution is already satisfied AND the per-tail rank window
        # reuses the same partitioning — one exchange where the
        # dedup-by-(tail,head) + window-by-(tail) pair previously paid
        # two (guide §2.4: two operations keyed compatibly share one
        # exchange; round 6)
        .repartition("tail")
        .dropDuplicates(["tail", "head"])  # J4 edge dedup
    )
    # edge ids are only used for deterministic adjacency ordering inside
    # the kernel, which sorts by (tail, edge_id): a per-tail rank is
    # enough and avoids any global (single-partition) window.
    we = Window.partitionBy("tail").orderBy("head")
    return knn.withColumn("edge_id", (F.row_number().over(we) - 1).cast("long")).select(
        "edge_id", "tail", "head"
    )


def text_invariant_check(pages_before: DataFrame, pages_after: DataFrame) -> int:
    """Count urls whose extracted text changed (must be 0): sha2-equality
    anti-join, per input_hint."""
    a = pages_before.select("url", F.sha2(F.col("text"), 256).alias("h"))
    b = pages_after.select("url", F.sha2(F.col("text"), 256).alias("h"))
    return a.join(b, ["url", "h"], "left_anti").count()
