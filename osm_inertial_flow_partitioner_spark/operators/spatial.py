"""Spatial query operators: point-in-polygon join, kNN lookup,
raster<->vector tile aggregation, and explicit skew handling.

These are the graft's query surface (BASELINE.json north_star). The
reference's only spatial primitive is projection+cut; the join patterns
here follow the standard cell-bucket design (SURVEY.md §2.C J5/J6):

- J5 PIP join: polygons are exploded to their covering grid cells
  (small dim side -> broadcast), points equi-join on cell, then an exact
  ray-casting refine runs as a *vectorized* numpy pandas UDF (Arrow
  batches; no per-row Python);
- J6 kNN lookup: grid-disk candidate generation + ranked window (for
  large query sets), or broadcast brute-force for small query sets
  (exact; used as the oracle-checked baseline);
- raster->vector rollup: closed-form cell-parent arithmetic, pure
  Catalyst;
- ``salted_repartition``: explicit hot-cell salting (north_rule) for
  skewed cell keys, complementing AQE's skew-join splitting.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.geo import cell_parent, grid_cell, grid_disk, haversine_km, lat_bin, lon_bin
from ..session import local_frame
from .topk import partial_topk


# ---------------------------------------------------------------------------
# J5: point-in-polygon join
# ---------------------------------------------------------------------------


def polygon_covering_cells(
    ring: list[tuple[float, float]], res: int
) -> list[int]:
    """Covering cells of a polygon's bounding box at resolution res
    (driver-side; polygons are metadata-scale). ring = [(lat, lon), ...]."""
    lats = [p[0] for p in ring]
    lons = [p[1] for p in ring]
    n = 1 << res

    def lb(lat):
        return min(max(int((lat + 90.0) / 180.0 * n), 0), n - 1)

    def ob(lon):
        return int((lon + 180.0) / 360.0 * n) % n

    cells = []
    for r in range(lb(min(lats)), lb(max(lats)) + 1):
        c0, c1 = ob(min(lons)), ob(max(lons))
        cs = range(c0, c1 + 1) if c0 <= c1 else list(range(c0, n)) + list(range(0, c1 + 1))
        for c in cs:
            cells.append(r * n + c)
    return cells


@F.pandas_udf(BooleanType())
def _ray_cast(
    bid: pd.Series, lat: pd.Series, lon: pd.Series,
    rings_lat: pd.Series, rings_lon: pd.Series,
) -> pd.Series:
    """Exact even-odd ray casting over a MULTIPOLYGON boundary: each
    boundary carries a list of closed rings (outer shells AND holes,
    orientation-free); a point is inside iff its ray-crossing count
    summed over ALL rings is odd — the standard even-odd rule, which
    subtracts holes and unions disjoint shells with no ring
    classification needed. Points on an edge follow the half-open
    convention (consistent with the oracle fixtures, which avoid
    boundary points).

    Vectorized ACROSS POINTS per polygon: rows in a batch are grouped by
    boundary_id (a handful of broadcast polygons), then each ring edge
    is tested against the whole point vector at once — Python work per
    batch is O(#polygons x #edges), independent of the row count. Every
    candidate row carries the boundary's complete ring set (nested
    array), so the group's first row is definitionally complete — the
    old one-ring-per-boundary assert is retired. An edge with y1 == y2
    can never satisfy (y1 > y) != (y2 > y), so skipping it (instead of
    the divide-ignore of a per-row formulation) is result-identical."""
    out = np.zeros(len(lat), dtype=bool)
    la = lat.to_numpy(np.float64)
    lo = lon.to_numpy(np.float64)
    bids = bid.to_numpy()
    for b in pd.unique(bids):
        idx = np.flatnonzero(bids == b)
        rys = [np.asarray(r, dtype=np.float64) for r in rings_lat.iloc[idx[0]]]
        rxs = [np.asarray(r, dtype=np.float64) for r in rings_lon.iloc[idx[0]]]
        x, y = lo[idx], la[idx]
        acc = np.zeros(len(idx), dtype=np.int64)
        for ry, rx in zip(rys, rxs):
            for j in range(len(rx) - 1):
                x1, y1, x2, y2 = rx[j], ry[j], rx[j + 1], ry[j + 1]
                if y1 == y2:
                    continue
                cond = (y1 > y) != (y2 > y)
                xin = (x2 - x1) * (y - y1) / (y2 - y1) + x1
                acc += cond & (x < xin)
        out[idx] = (acc % 2) == 1
    return pd.Series(out)


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 6,
    point_lat: str = "lat",
    point_lon: str = "lon",
) -> DataFrame:
    """points x polygons(boundary_id, name, rings_lat
    array<array<double>>, rings_lon array<array<double>>, closed rings)
    -> matched rows. Boundaries may be multipolygons: any number of
    outer shells and holes per boundary_id (even-odd rule).

    Plan: polygons explode to covering cells (broadcast — boundary sets
    are metadata-scale), points equi-join on their cell, exact refine via
    the vectorized ray-cast UDF. One shuffle on the points side only.
    """
    polys = polygons.withColumn(
        "cell", F.explode(F.col("covering_cells"))
    ).select("boundary_id", "name", "rings_lat", "rings_lon", "cell")
    pts = points.withColumn("cell", grid_cell(F.col(point_lat), F.col(point_lon), res))
    cand = pts.join(F.broadcast(polys), "cell")
    return cand.filter(
        _ray_cast(
            F.col("boundary_id"),
            F.col(point_lat),
            F.col(point_lon),
            F.col("rings_lat"),
            F.col("rings_lon"),
        )
    ).drop("rings_lat", "rings_lon", "cell")


def make_polygons_df(spark, polys: Iterable[dict], res: int = 6) -> DataFrame:
    """Build the polygons dim table from dicts {boundary_id, name,
    ring: [(lat, lon), ...]} (single ring) or {boundary_id, name,
    rings: [[(lat, lon), ...], ...]} (multipolygon: outer shells +
    holes, even-odd) with precomputed covering cells (union of per-ring
    bbox covers — holes lie inside their shells, so this is exactly the
    shells' cover)."""
    rows = []
    for p in polys:
        rings = [list(r) for r in p["rings"]] if "rings" in p else [list(p["ring"])]
        rings = [r + [r[0]] if r[0] != r[-1] else r for r in rings]
        cells: set[int] = set()
        for r in rings:
            cells.update(polygon_covering_cells(r, res))
        rows.append(
            (
                int(p["boundary_id"]),
                p["name"],
                [[float(a) for a, _ in r] for r in rings],
                [[float(b) for _, b in r] for r in rings],
                sorted(cells),
            )
        )
    return local_frame(
        spark,
        rows,
        "boundary_id long, name string, rings_lat array<array<double>>, "
        "rings_lon array<array<double>>, covering_cells array<long>",
    )


# ---------------------------------------------------------------------------
# J6: kNN lookup
# ---------------------------------------------------------------------------


def knn_lookup_broadcast(
    points: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact kNN for a small query set: broadcast queries x points, rank
    by (haversine, entity_id) — scalable in the points dimension (the
    big side never shuffles more than once for the window)."""
    q = F.broadcast(queries.select("query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")))
    d = haversine_km(F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist_km").asc(), F.col("entity_id").asc())
    return (
        points.crossJoin(q)
        .withColumn("dist_km", d)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "entity_id", F.round("dist_km", 6).alias("dist_km"), "rk")
    )


def knn_lookup_bucketed(
    points: DataFrame, queries: DataFrame, k: int = 5, res: int = 6, ring: int = 1
) -> DataFrame:
    """Scale-path kNN: grid-disk candidates + ranked window. Exact
    whenever the true k-th neighbor lies within the ring (tested against
    the broadcast baseline); widen ``ring`` or lower ``res`` for sparse
    data. Never a cross join."""
    q = queries.select(
        "query_id",
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
        F.explode(
            grid_disk(grid_cell(F.col("lat"), F.col("lon"), res), res, ring)
        ).alias("cell"),
    )
    pts = points.withColumn("cell", grid_cell(F.col("lat"), F.col("lon"), res))
    d = haversine_km(F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon"))
    # partial per-partition top-k before the global window: the full
    # candidate set (queries x ring-disk occupancy) never sits in one
    # sorter — only <= 9k rows per query reach the ranked window
    cand = q.join(pts, "cell").select("query_id", "entity_id", d.alias("dist_km"))
    reduced = partial_topk(cand, ["query_id"], ["dist_km", "entity_id"], k)
    w = Window.partitionBy("query_id").orderBy(F.col("dist_km").asc(), F.col("entity_id").asc())
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "entity_id", F.round("dist_km", 6).alias("dist_km"), "rk")
    )


# ---------------------------------------------------------------------------
# raster <-> vector tile aggregation
# ---------------------------------------------------------------------------


def raster_to_vector_rollup(
    points: DataFrame, res: int, parent_res: int, value_col: str | None = None
) -> DataFrame:
    """Aggregate fine-resolution cells ("raster tiles") to coarse vector
    tiles via closed-form parent arithmetic — pure Catalyst, one shuffle.

    Returns (tile long, n_points, sum_value?) at parent_res."""
    pts = points.withColumn("cell", grid_cell(F.col("lat"), F.col("lon"), res))
    pts = pts.withColumn("tile", cell_parent(F.col("cell"), res, parent_res))
    aggs = [F.count("*").alias("n_points")]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 6).alias("sum_value"))
    return pts.groupBy("tile").agg(*aggs)


def vector_tile_counts(
    assignment: DataFrame, vertices: DataFrame, level: int
) -> DataFrame:
    """Per-tile vertex counts for one partitioning level (A2/A3-style
    aggregates over the tiling output)."""
    return (
        assignment.filter(F.col("level") == level)
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_vertices"))
    )


# ---------------------------------------------------------------------------
# skew handling (explicit, per north_rule)
# ---------------------------------------------------------------------------


def salted_repartition(
    df: DataFrame, key: str, n_salt: int = 8, hot_keys: list | None = None
) -> DataFrame:
    """Explicit salt for skewed keys: hot keys fan out over n_salt
    sub-partitions; the rest keep salt 0 (so downstream per-key work can
    re-aggregate cheaply). Complements AQE skew-join splitting
    (spark.sql.adaptive.skewJoin.enabled, on in session.py).

    The salt is a content hash over ALL columns — replay-stable: a task
    retry (or upstream re-materialization changing partition layout)
    re-salts every row identically, unlike monotonically_increasing_id
    whose value depends on where the row happened to sit."""
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns])
    if hot_keys is None:
        salt = F.pmod(row_hash, F.lit(n_salt))
    else:
        hot = F.array(*[F.lit(k) for k in hot_keys])
        salt = F.when(
            F.array_contains(hot, F.col(key)), F.pmod(row_hash, F.lit(n_salt))
        ).otherwise(F.lit(0))
    return df.withColumn("salt", salt).repartition(key, "salt")


def hot_cells(points: DataFrame, res: int, top: int = 16, min_share: float = 0.01) -> list[int]:
    """Identify hot cells: any cell holding more than min_share of rows
    (driver-side metadata; used to pick salting targets).

    One job, not two — and no unpartitioned window (which would funnel
    the whole per-cell frame through a single sort task at fine ``res``
    where distinct cells ~ n_points): ``rollup`` emits the per-cell
    counts AND one grand-total row (cell IS NULL) from the same
    distributed hash aggregate. The total row's count >= every per-cell
    count, so it always survives the top-(top+1) limit; the driver
    reads it back from the <= top+1 collected rows.

    Rows whose lat/lon produce a NULL cell are excluded BEFORE the
    rollup (the isNotNull filter below disambiguates the rollup's
    grand-total row), so they do not count toward the min_share
    denominator — callers with nullable coordinates get shares over
    locatable rows only (ADVICE r5: the earlier windowed total
    included them)."""
    rows = (
        points.withColumn("cell", grid_cell(F.col("lat"), F.col("lon"), res))
        .filter(F.col("cell").isNotNull())
        .rollup("cell")
        .count()
        .orderBy(F.desc("count"))
        .limit(top + 1)
        .collect()
    )
    total = sum(int(r["count"]) for r in rows if r["cell"] is None)
    return [
        int(r["cell"])
        for r in rows
        if r["cell"] is not None and r["count"] >= total * min_share
    ][:top]
