"""Driver-contract implementation: flagship entry + oracle-checked
queries (re-exported by /root/repo/__spark_entry__.py).

Every operator family from SURVEY.md §2 (plus the training-data-pipeline
additions) gets a ``queries()`` entry over the driver-provided tables at
``sf_dir`` and, where ANSI-SQL-expressible, a DuckDB ``oracle_sql()``
twin built on *identical* arithmetic (portable md5 hashing, integer-
derived coordinates, rounded float outputs). Non-SQL-expressible ops
(the iterative tile assignment) are rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import PartitionConfig
from .functions.geo import (
    POINT_IN_LINE_TOLERANCE,
    cell_parent,
    central_angle_rad,
    coord6_nudge,
    destination_point,
    gc_project_staged,
    grid_cell,
    haversine_km,
)
from .functions.hashing import (
    MINHASH_P,
    md5_small,
    md5_small_sql,
    minhash_expr,
    minhash_params,
    minhash_sql,
)
from .operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    lsh_dup_groups,
    minhash_signatures,
    simhash,
    simhash64,
    simhash64_near_dups,
    simhash_dup_groups,
)
from .operators.partitioner import multilevel_partition
from .operators.sessionize import hourly_rollup, session_stats, sessionize
from .operators.similarity import (
    cosine,
    cosine_topk_brute,
    cosine_topk_ivf,
    embedding_near_dup,
    hyperplanes,
)
from .operators.spatial import (
    knn_lookup_broadcast,
    make_polygons_df,
    point_in_polygon_join,
    raster_to_vector_rollup,
)
from .functions.geometry import polyline_encode_udf, rdp_simplify_udf
from .operators.multimodal import extract_features
from .operators.textops import corpus_filter, document_stats
from .operators.waygraph import (
    ACCEPTED_HIGHWAY,
    BARRIER_KINDS,
    DEFAULT_SPEED,
    accepted_ways,
    add_dummy_self_edges,
    referenced_nodes,
    segment_edges,
    split_at_barriers,
    split_loops,
    traffic_light_nodes,
    way_segments,
)
from .sources.extract import knn_adjacency
from .operators.turns import resolve_way_restrictions, turn_table
from .session import local_frame
from .sources.way_fixtures import (
    nodes_df,
    nodes_values_sql,
    restrictions_df,
    restrictions_values_sql,
    turn_edges_df,
    turn_edges_values_sql,
    way_restrictions_df,
    way_restrictions_values_sql,
    ways_df,
    ways_values_sql,
)

# ---------------------------------------------------------------------------
# shared derivations (identical arithmetic Spark <-> DuckDB)
# ---------------------------------------------------------------------------

RES = 4  # grid resolution for oracle-checked cell queries
N_PERM = 8
N_BANDS = 4
SIM_BITS = 16
SIM64_K = 3  # hamming radius for the 64-bit near-dup refine
_PERMS = minhash_params(N_PERM, seed=42)
#: embedding near-dup cosine threshold — the sf tables' max off-diagonal
#: cosine is ~0.51 and 8-plane bucketing keeps only same-signature
#: pairs, so 0.25 yields a non-trivial (33-pair at sf0.01) result set
NEAR_DUP_THRESHOLD = 0.25
#: the same seeded hyperplanes both engines bucket with (rounded 6dp)
_PLANES = hyperplanes(64, 8, seed=42)

#: integer-exact pseudo-coordinates for the customer table
LAT_EXPR_SQL = "(((c_custkey * 37) % 1200) / 10.0 - 59.95)"
LON_EXPR_SQL = "(((c_custkey * 91) % 3400) / 10.0 - 169.95)"

KNN_QUERY_POINTS = [
    (0, 0.05, 0.05),
    (1, 10.33, 20.77),
    (2, -30.21, 45.6),
    (3, 51.5, -0.12),
    (4, -12.0, 130.9),
]

PIP_POLYGONS = [
    {
        "boundary_id": 1,
        "name": "rect_equator",
        "ring": [(-10.0, -20.0), (-10.0, 20.0), (10.0, 20.0), (10.0, -20.0)],
    },
    {
        "boundary_id": 2,
        "name": "rect_north",
        "ring": [(30.0, 100.0), (30.0, 140.0), (50.0, 140.0), (50.0, 100.0)],
    },
    {
        "boundary_id": 3,
        "name": "triangle",
        "ring": [(0.37, -50.11), (20.73, -30.29), (0.37, -10.53)],
    },
    {
        # real-OSM shape: a MULTIPOLYGON boundary — outer shell with a
        # hole, plus a second disjoint shell (even-odd across rings)
        "boundary_id": 4,
        "name": "holed_multi",
        "rings": [
            [(-50.0, 40.0), (-50.0, 80.0), (-20.0, 80.0), (-20.0, 40.0)],
            [(-40.0, 55.0), (-40.0, 70.0), (-30.0, 70.0), (-30.0, 55.0)],
            [(20.0, -120.0), (20.0, -80.0), (45.0, -80.0), (45.0, -120.0)],
        ],
    },
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("point_id"),
        ((F.col("c_custkey") * 37) % 1200 / 10.0 - 59.95).alias("lat"),
        ((F.col("c_custkey") * 91) % 3400 / 10.0 - 169.95).alias("lon"),
    )


_POINTS_SQL = (
    f"SELECT c_custkey AS point_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon "
    "FROM customer"
)

_HAVERSINE_SQL = (
    "2*6371.0*asin(sqrt(pow(sin(radians({lat2}-({lat1}))/2),2) + "
    "cos(radians({lat1}))*cos(radians({lat2}))*pow(sin(radians({lon2}-({lon1}))/2),2)))"
)

_TOKS_SQL = (
    "SELECT doc_id, tok FROM (SELECT doc_id, "
    "unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents) "
    "WHERE tok <> ''"
)

# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end tile assignment over sf0.001.

    The driver's documents table carries no geo payload, so a
    deterministic pseudo-geotag derivation (hash-free integer
    arithmetic, documented) stands in for the extraction regex; the rest
    is the production pipeline: points -> grid cells -> kNN graph ->
    multilevel inertial-flow partitioning -> per-level assignment."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    ents = (
        docs.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"))
        .select(
            (F.col("doc_id") * 3 + F.col("i")).alias("vertex_id"),
            ((F.col("doc_id") * 37 + F.col("i") * 101) % 1200 / 10.0 - 59.95).alias("lat"),
            ((F.col("doc_id") * 91 + F.col("i") * 53) % 3400 / 10.0 - 169.95).alias("lon"),
        )
    )
    edges = knn_adjacency(
        ents.select(F.col("vertex_id").alias("entity_id"), "lat", "lon").withColumn(
            "cell", grid_cell(F.col("lat"), F.col("lon"), 3)
        ),
        k=3,
        res=3,
    )
    assignment, num_cells, _metrics = multilevel_partition(
        spark, ents, edges, PartitionConfig(cell_sizes=[8, 32])
    )
    return assignment.orderBy("level", "vertex_id")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- relational core (filters/joins/aggs/windows) ----
    def q1_pricing_summary(spark, sf):
        # money sums run on integer cents/e4 so they are exact under any
        # partitioning (and bit-identical to the oracle)
        li = _t(spark, sf, "lineitem")
        disc_e4 = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
        ).cast("long")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
                F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                    "sum_base_price_cents"
                ),
                F.sum(disc_e4).alias("sum_disc_price_e4"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                F.count("*").alias("count_order"),
            )
        )

    q["q1_pricing_summary"] = q1_pricing_summary

    def q3_top_orders(spark, sf):
        c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        rev = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
        ).cast("long")
        return (
            c.join(o, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.sum(rev).alias("revenue_e4"))
            .orderBy(F.desc("revenue_e4"), F.asc("o_orderkey"))
            .limit(10)
        )

    q["q3_top_orders"] = q3_top_orders

    def q5_region_revenue(spark, sf):
        r = _t(spark, sf, "region")
        n = _t(spark, sf, "nation")
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders")
        li = _t(spark, sf, "lineitem")
        rev = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
        ).cast("long")
        return (
            r.join(n, F.col("r_regionkey") == F.col("n_regionkey"))
            .join(c, F.col("n_nationkey") == F.col("c_nationkey"))
            .join(o, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("r_name")
            .agg(
                F.sum(rev).alias("revenue_e4"),
                F.count("*").alias("n_lines"),
            )
        )

    q["q5_region_revenue"] = q5_region_revenue

    def dedup_rows(spark, sf):
        # J4 edge-dedup semantics on a relational table
        li = _t(spark, sf, "lineitem")
        return li.groupBy("l_orderkey", "l_partkey").agg(
            F.min("l_linenumber").alias("first_line"),
            F.count("*").alias("n_dups"),
        )

    q["dedup_rows"] = dedup_rows

    def argmin_per_group(spark, sf):
        # A6 argmin with total-order tie-break, as a window
        o = _t(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(
            F.asc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey")
        )
        return (
            o.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("o_custkey", "o_orderkey", F.round("o_totalprice", 4).alias("min_price"))
        )

    q["argmin_per_group"] = argmin_per_group

    def w1_extreme_selection(spark, sf):
        # W1 source/sink selection semantics: first/last int(n*0.25) by
        # (value, id) over the customer balance ordering. Global ranks use
        # the scalable two-phase pattern (range partition + per-partition
        # row_number + broadcast offsets) — no single-partition window.
        c = _t(spark, sf, "customer").select("c_custkey", "c_acctbal")
        n = c.count()
        k = int(n * 0.25)
        nparts = max(spark.sparkContext.defaultParallelism, 2)
        part = (
            c.repartitionByRange(nparts, F.asc("c_acctbal"), F.asc("c_custkey"))
            .withColumn("pid", F.spark_partition_id())
            .localCheckpoint(eager=True)  # pin range boundaries across passes
        )
        counts = {
            r["pid"]: r["cnt"]
            for r in part.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
        }
        acc, offsets = 0, {}
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off = F.broadcast(
            local_frame(
                spark,
                [(int(p), int(o)) for p, o in offsets.items()],
                "pid int, offset long",
            )
        )
        wl = Window.partitionBy("pid").orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
        ranked = part.join(off, "pid").withColumn(
            "rk", F.col("offset") + F.row_number().over(wl)
        )
        return ranked.filter((F.col("rk") <= k) | (F.col("rk") > n - k)).select(
            "c_custkey",
            F.when(F.col("rk") <= k, F.lit("source")).otherwise(F.lit("sink")).alias("side"),
        )

    q["w1_extreme_selection"] = w1_extreme_selection

    # ---- geo scalar functions + spatial joins ----
    def geo_haversine(spark, sf):
        p = _points(spark, sf)
        return p.select(
            "point_id",
            F.round(
                haversine_km(F.col("lat"), F.col("lon"), F.lit(0.0), F.lit(0.0)), 6
            ).alias("dist_km"),
        )

    q["geo_haversine"] = geo_haversine

    def geo_cell_index(spark, sf):
        p = _points(spark, sf)
        return (
            p.withColumn("cell", grid_cell(F.col("lat"), F.col("lon"), RES))
            .groupBy("cell")
            .agg(F.count("*").alias("n_points"), F.min("point_id").alias("min_point"))
        )

    q["geo_cell_index"] = geo_cell_index

    def raster_rollup(spark, sf):
        p = _points(spark, sf)
        return raster_to_vector_rollup(p, res=6, parent_res=RES)

    q["raster_rollup"] = raster_rollup

    def geo_destination(spark, sf):
        p = _points(spark, sf)
        dl, dn = destination_point(
            F.col("lat"), F.col("lon"), F.lit(45.0), F.lit(100.0)
        )
        return p.select(
            "point_id", F.round(dl, 5).alias("dest_lat"), F.round(dn, 5).alias("dest_lon")
        )

    q["geo_destination"] = geo_destination

    def geo_segment_project(spark, sf):
        """F6+F7 (s2_geo.go:11-36): great-circle projection of p onto
        segment a-b plus perpendicular distance in meters. Inputs get
        the reference's 6-decimal nudge (MakeSixDigitsAfterComa2)."""
        c = _t(spark, sf, "customer")
        k = F.col("c_custkey")
        s = c.select(
            k.alias("point_id"),
            coord6_nudge((k * 37) % 1200 / 10.0 - 59.95).alias("plat"),
            coord6_nudge((k * 91) % 3400 / 10.0 - 169.95).alias("plon"),
            coord6_nudge((k * 53) % 1200 / 10.0 - 59.95).alias("alat"),
            coord6_nudge((k * 17) % 3400 / 10.0 - 169.95).alias("alon"),
            coord6_nudge((k * 29) % 1200 / 10.0 - 59.95).alias("blat"),
            coord6_nudge((k * 71 + 7) % 3400 / 10.0 - 169.95).alias("blon"),
        )
        # staged projection (functions/geo.py round-6 notes): the
        # Column-form gc_project inlined its tree once per consumer —
        # proj_lat, proj_lon AND the perpendicular distance (which
        # re-projects internally) — a 255 KB single-Project plan whose
        # driver processing + codegen dominated this 150k-row query.
        # Identical arithmetic; dist_m = haversine(p, unrounded
        # projection) * 1000 exactly as gc_perp_distance_m computes it.
        s = gc_project_staged(s)
        return s.select(
            "point_id",
            F.round(F.col("_jlat"), 6).alias("proj_lat"),
            F.round(F.col("_jlon"), 6).alias("proj_lon"),
            F.round(
                haversine_km(
                    F.col("plat"), F.col("plon"), F.col("_jlat"), F.col("_jlon")
                )
                * F.lit(1000.0),
                3,
            ).alias("dist_m"),
        )

    q["geo_segment_project"] = geo_segment_project

    def geo_polyline_position(spark, sf):
        """F8 PointPositionBetweenLinePoints (s2_geo.go:44-61), long
        form: 4-vertex polylines from consecutive customers; the query
        point is projected (F6) onto segment line_id%3 and located by
        the reference's min-|d(p,ci)+d(p,ci+1)-d(ci,ci+1)| rule with
        1e-3 rad tolerance, pos = i+1, 0 when nothing qualifies. The
        angular diff is rounded to 12 dp in BOTH engines so endpoint
        ties resolve to the earliest segment deterministically."""
        c = _t(spark, sf, "customer")
        k = F.col("c_custkey")
        # line/seq via floor-div of the NON-NEGATIVE key: DuckDB //
        # truncates toward zero while Spark floor() floors, so any
        # shifted (k-1) form would disagree on a key of 0
        pts = c.select(
            F.floor(k / F.lit(4)).cast("long").alias("line_id"),
            (k % 4).alias("seq"),
            coord6_nudge((k * 37) % 1200 / 10.0 - 59.95).alias("vlat"),
            coord6_nudge((k * 91) % 3400 / 10.0 - 169.95).alias("vlon"),
        )
        # consecutive-vertex pairing via lead() — ONE shuffle on
        # line_id instead of a self-join (which would recompute and
        # re-exchange pts per side)
        ws = Window.partitionBy("line_id").orderBy("seq")
        segs = (
            pts.withColumn("blat", F.lead("vlat").over(ws))
            .withColumn("blon", F.lead("vlon").over(ws))
            .filter(F.col("blat").isNotNull())
            .select(
                "line_id",
                "seq",
                F.col("vlat").alias("alat"),
                F.col("vlon").alias("alon"),
                "blat",
                "blon",
            )
        )
        lid = F.col("line_id")
        qs = pts.select("line_id").distinct().select(
            "line_id",
            coord6_nudge((lid * 241 + 3) % 1200 / 10.0 - 59.95).alias("plat"),
            coord6_nudge((lid * 499 + 11) % 3400 / 10.0 - 169.95).alias("plon"),
        )
        base = segs.filter(F.col("seq") == lid % 3).join(qs, "line_id")
        # staged projection — same round-6 plan-size fix as
        # geo_segment_project; identical arithmetic
        gcp = gc_project_staged(base).select(
            "line_id",
            F.col("_jlat").alias("r_lat"),
            F.col("_jlon").alias("r_lon"),
        )
        diff = F.round(
            F.abs(
                central_angle_rad(
                    F.col("r_lat"), F.col("r_lon"), F.col("alat"), F.col("alon")
                )
                + central_angle_rad(
                    F.col("r_lat"), F.col("r_lon"), F.col("blat"), F.col("blon")
                )
                - central_angle_rad(
                    F.col("alat"), F.col("alon"), F.col("blat"), F.col("blon")
                )
            ),
            12,
        )
        w = Window.partitionBy("line_id").orderBy(
            F.col("diff").asc(), F.col("seq").asc()
        )
        best = (
            segs.join(gcp, "line_id")
            .withColumn("diff", diff)
            .filter(F.col("diff") < F.lit(POINT_IN_LINE_TOLERANCE))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("line_id", (F.col("seq") + 1).alias("pos"))
        )
        return gcp.join(best, "line_id", "left").select(
            "line_id",
            F.round("r_lat", 6).alias("proj_lat"),
            F.round("r_lon", 6).alias("proj_lon"),
            F.coalesce(F.col("pos"), F.lit(0)).cast("long").alias("pos"),
        )

    q["geo_polyline_position"] = geo_polyline_position

    def knn_lookup(spark, sf):
        p = _points(spark, sf).withColumnRenamed("point_id", "entity_id")
        qdf = local_frame(
            p.sparkSession, KNN_QUERY_POINTS, "query_id long, lat double, lon double"
        )
        d = haversine_km(F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon"))
        w = Window.partitionBy("query_id").orderBy(
            F.round(d, 6).asc(), F.col("entity_id").asc()
        )
        return (
            p.crossJoin(
                F.broadcast(
                    qdf.select(
                        "query_id",
                        F.col("lat").alias("qlat"),
                        F.col("lon").alias("qlon"),
                    )
                )
            )
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("query_id", "entity_id", F.round(d, 6).alias("dist_km"), "rk")
        )

    q["knn_lookup"] = knn_lookup

    def knn_adjacency_topk(spark, sf):
        """Oracle-scale exercise of the ENGAGED bounded top-k reducer:
        the production kNN adjacency forced onto its scale path
        (``topk_threshold=0`` keeps partial_topk — operators/topk.py —
        in the plan, exactly as the flagship runs it past
        TOPK_REDUCE_THRESHOLD). The DuckDB twin mirrors the
        disk-bounded candidate semantics (grid cell at res 5, 3x3
        longitude-wrapped latitude-clamped disk), so the hash check
        pins the reduced path's full edge list, not just row counts."""
        ents = _points(spark, sf).select(
            F.col("point_id").alias("entity_id"), "lat", "lon"
        )
        return knn_adjacency(ents, k=3, res=5, topk_threshold=0)

    q["knn_adjacency_topk"] = knn_adjacency_topk

    def pip_join(spark, sf):
        p = _points(spark, sf)
        polys = make_polygons_df(spark, PIP_POLYGONS, res=RES)
        return point_in_polygon_join(p, polys, res=RES).select(
            "point_id", "boundary_id"
        )

    q["pip_join"] = pip_join

    # ---- dedup family (documents) ----
    q["dedup_exact"] = lambda spark, sf: exact_dedup(_t(spark, sf, "documents"))

    q["minhash_signatures"] = lambda spark, sf: minhash_signatures(
        _t(spark, sf, "documents"), num_perm=N_PERM
    )

    q["lsh_candidate_pairs"] = lambda spark, sf: lsh_candidate_pairs(
        _t(spark, sf, "documents"), num_perm=N_PERM, bands=N_BANDS
    )

    q["simhash"] = lambda spark, sf: simhash(_t(spark, sf, "documents"), bits=SIM_BITS)

    q["simhash64"] = lambda spark, sf: simhash64(_t(spark, sf, "documents"))

    q["simhash_near_dups"] = lambda spark, sf: simhash64_near_dups(
        _t(spark, sf, "documents"), k=SIM64_K
    )

    q["jaccard_pairs"] = lambda spark, sf: jaccard_pairs(
        _t(spark, sf, "documents"), threshold=0.5
    )

    q["lsh_dup_groups"] = lambda spark, sf: lsh_dup_groups(
        _t(spark, sf, "documents"), num_perm=N_PERM
    )

    q["simhash_dup_groups"] = lambda spark, sf: simhash_dup_groups(
        _t(spark, sf, "documents"), bits=SIM_BITS
    )

    def embedding_near_dup_q(spark, sf):
        emb = _t(spark, sf, "embeddings")
        return embedding_near_dup(
            emb, threshold=NEAR_DUP_THRESHOLD, n_planes=8, dim=64, seed=42
        )

    q["embedding_near_dup"] = embedding_near_dup_q

    # ---- text analysis ----
    q["text_stats"] = lambda spark, sf: document_stats(_t(spark, sf, "documents"))

    q["corpus_filter"] = lambda spark, sf: corpus_filter(_t(spark, sf, "documents"))

    # ---- similarity search ----
    def ann_cosine_topk(spark, sf):
        emb = _t(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        # stage the raw cosine ONCE (`_raw`): the former plan inlined
        # the interpreted higher-order-function fold into the window
        # key AND the emitted sim — 2-3 evaluations per candidate pair
        # (round-6 single-evaluation pass; values unchanged)
        raw = cosine(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.transform(F.col("qvec"), lambda x: x.cast("double")),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("_s6").desc(), F.col("vec_id").asc()
        )
        return (
            emb.crossJoin(F.broadcast(qv))
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn("_raw", raw)
            .withColumn("_s6", F.round(F.col("_raw"), 6))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(F.col("_raw"), 5).alias("sim"),
                "rk",
            )
        )

    q["ann_cosine_topk"] = ann_cosine_topk

    def ann_cosine_topk_ivf(spark, sf):
        """IVF inverted-list ANN at FULL probe (nprobe == n_centroids):
        provably identical to brute force, so the brute-force oracle
        hard-checks the whole IVF path (train + assign + probe +
        rerank); reduced-probe recall is covered in pytest."""
        emb = _t(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        return cosine_topk_ivf(
            emb, qv, k=5, n_centroids=8, nprobe=8, iters=2, sim_decimals=5
        )

    q["ann_cosine_topk_ivf"] = ann_cosine_topk_ivf

    # ---- event stream (batch twins) ----
    q["events_sessionize"] = lambda spark, sf: sessionize(_t(spark, sf, "events"))

    q["session_stats"] = lambda spark, sf: session_stats(_t(spark, sf, "events"))

    q["events_hourly_rollup"] = lambda spark, sf: hourly_rollup(_t(spark, sf, "events"))

    # ---- approximate sketches with tolerance oracles ----
    # the sketch value itself is engine-specific, so the hash-exact
    # output carries the EXACT value plus a within_tolerance boolean
    # computed in-query; the oracle emits TRUE — an out-of-tolerance
    # sketch therefore fails the hash check, making the approximate
    # operator genuinely gated
    def hll_count_distinct(spark, sf):
        # HLL++ (approx_count_distinct, rsd=5%) vs exact, per event_type;
        # tolerance = 3*rsd (three-sigma) with a small-count floor
        ev = _t(spark, sf, "events")
        return (
            ev.groupBy("event_type")
            .agg(
                F.countDistinct("user_id").alias("n_users_exact"),
                F.approx_count_distinct("user_id", 0.05).alias("_a"),
            )
            .select(
                "event_type",
                "n_users_exact",
                (
                    F.abs(F.col("_a") - F.col("n_users_exact"))
                    <= F.greatest(
                        F.col("n_users_exact") * F.lit(0.15), F.lit(4.0)
                    )
                ).alias("within_tolerance"),
            )
        )

    q["hll_count_distinct"] = hll_count_distinct

    def approx_quantiles(spark, sf):
        # percentile_approx (KLL-style) vs exact interpolated percentile,
        # per event_type; tolerance = 5% of the group's value range
        ev = _t(spark, sf, "events")
        ps = [0.25, 0.5, 0.75]
        aggs = []
        for i, p in enumerate(ps):
            aggs.append(F.expr(f"percentile(value, {p})").alias(f"_e{i}"))
            aggs.append(
                F.expr(f"percentile_approx(value, {p}, 1000)").alias(f"_a{i}")
            )
        aggs += [F.max("value").alias("_mx"), F.min("value").alias("_mn")]
        g = ev.groupBy("event_type").agg(*aggs)
        tol = F.greatest((F.col("_mx") - F.col("_mn")) * F.lit(0.05), F.lit(1e-9))
        ok = F.lit(True)
        for i in range(len(ps)):
            ok = ok & (F.abs(F.col(f"_a{i}") - F.col(f"_e{i}")) <= tol)
        return g.select(
            "event_type",
            F.round("_e0", 6).alias("p25"),
            F.round("_e1", 6).alias("p50"),
            F.round("_e2", 6).alias("p75"),
            ok.alias("within_tolerance"),
        )

    q["approx_quantiles"] = approx_quantiles

    def events_sessionize_stream(spark, sf):
        # the STATEFUL streaming sessionizer (applyInPandasWithState,
        # event-time timeout, watermark-complete emission) replayed over
        # the static events table in one availableNow batch; oracle =
        # the batch gap-sessionization SQL restricted to sessions the
        # final watermark proves complete (end + gap strictly below it)
        # — the emitted set is replay-order-independent by construction
        import tempfile
        import uuid

        from .streaming.incremental import streaming_sessionize

        import shutil

        src = tempfile.mkdtemp(prefix="sess_stream_src_")
        try:
            (
                _t(spark, sf, "events")
                .select("event_id", "ts", "user_id")
                .coalesce(1)  # one file -> one micro-batch -> in-order replay
                .write.mode("overwrite")
                .parquet(src)
            )
            stream = spark.readStream.schema(
                "event_id long, ts timestamp, user_id long"
            ).parquet(src)
            name = f"sess_stream_{uuid.uuid4().hex[:8]}"
            sq = (
                streaming_sessionize(stream, gap_minutes=30, watermark="1 hour")
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            # a False return means the availableNow run is STILL going —
            # snapshotting the memory sink now would compare a partial
            # result against the oracle (confusing hash-mismatch instead
            # of a clear timeout)
            if not sq.awaitTermination(300):
                sq.stop()
                raise RuntimeError("streaming sessionize replay timed out")
            out = spark.table(name)
            # pin the rows (the memory sink dies with the query object).
            # Driver-side by design at ORACLE scale only — guard against
            # someone pointing this row at a big sf_dir and silently
            # collecting the world (memory sink is itself driver-bound,
            # so a file sink + re-read is the scale path, not a fix here)
            rows = out.limit(1_000_001).collect()
            if len(rows) > 1_000_000:
                raise RuntimeError(
                    "events_sessionize_stream is an oracle-scale replay "
                    "(memory sink + driver collect); run the batch "
                    "events_sessionize or a file-sink stream at this size"
                )
            return spark.createDataFrame(rows, out.schema)
        finally:
            shutil.rmtree(src, ignore_errors=True)

    q["events_sessionize_stream"] = events_sessionize_stream

    # ---- way-graph construction (reference parse/build phase) ----
    def way_filter(spark, sf):
        return accepted_ways(ways_df(spark)).select(
            "way_id", "highway", F.size("nodes").cast("long").alias("n_nodes")
        )

    q["way_filter"] = way_filter

    def way_segments_q(spark, sf):
        return way_segments(ways_df(spark)).select(
            "way_id", F.col("seg").cast("long").alias("seg"),
            F.col("pos").cast("long").alias("pos"), "node_id",
        )

    q["way_segments"] = way_segments_q

    def way_edges(spark, sf):
        w, n = ways_df(spark), nodes_df(spark)
        return add_dummy_self_edges(segment_edges(w, n), referenced_nodes(w, n))

    q["way_edges"] = way_edges

    def turn_table_q(spark, sf):
        return turn_table(turn_edges_df(spark), restrictions_df(spark))

    q["turn_table"] = turn_table_q

    def way_turn_table(spark, sf):
        # J2 end-to-end: way-keyed restrictions resolved through way node
        # lists, applied over the fixture's real segment edges
        w, n = ways_df(spark), nodes_df(spark)
        edges = segment_edges(w, n).select("tail", "head")
        resolved = resolve_way_restrictions(w, way_restrictions_df(spark), edges)
        return turn_table(edges, resolved)

    q["way_turn_table"] = way_turn_table

    # ---- geometry kernels (rows-only: pandas UDFs, no SQL twin) ----
    def rdp_polyline(spark, sf):
        # edge geometries = loop-split segments (the reference simplifies
        # per materialized edge, after processSegment's loop handling)
        w, n = ways_df(spark), nodes_df(spark)
        segs = split_loops(way_segments(w)).join(
            n.select("node_id", "lat", "lon"), "node_id"
        )
        geom = (
            segs.groupBy("way_id", "seg", "lpart")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("pos", F.struct("lat", "lon").alias("p")))
                ).alias("sorted")
            )
            .select(
                "way_id", "seg", "lpart",
                F.transform("sorted", lambda s: s["p"]).alias("geom"),
            )
        )
        return geom.select(
            "way_id",
            "seg",
            "lpart",
            F.size(rdp_simplify_udf(F.col("geom"))).alias("n_simplified"),
            polyline_encode_udf(F.col("geom")).alias("polyline"),
        )

    q["rdp_polyline"] = rdp_polyline

    def barrier_split(spark, sf):
        # reference order: junction split -> loop split -> barrier split
        w, n = ways_df(spark), nodes_df(spark)
        return split_at_barriers(split_loops(way_segments(w)), n)

    q["barrier_split"] = barrier_split

    def traffic_lights(spark, sf):
        # E5: full reference chain junction -> loop -> barrier -> pull
        w, n = ways_df(spark), nodes_df(spark)
        return traffic_light_nodes(
            split_at_barriers(split_loops(way_segments(w)), n), n
        )

    q["traffic_lights"] = traffic_lights

    def multimodal_features(spark, sf):
        # long-form (media_id, idx, value) so the driver canonicalizer can
        # hash it (array<float> columns are unhashable in pandas)
        media = spark.createDataFrame(
            [(i, "image", bytes([i % 7] * 32), 8, 8, 0) for i in range(20)],
            "media_id long, kind string, payload binary, width int, height int, duration_ms int",
        )
        return extract_features(media).select(
            "media_id", F.posexplode("features").alias("idx", "value")
        ).select(
            "media_id",
            F.col("idx").cast("long").alias("idx"),
            F.round(F.col("value").cast("double"), 6).alias("value"),
        )

    q["multimodal_features"] = multimodal_features

    # ---- non-SQL-expressible: the flagship tiling (rows-only check) ----
    def tile_assignment(spark, sf):
        docs = _t(spark, sf, "documents")
        ents = (
            docs.select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"))
            .select(
                (F.col("doc_id") * 3 + F.col("i")).alias("vertex_id"),
                ((F.col("doc_id") * 37 + F.col("i") * 101) % 1200 / 10.0 - 59.95).alias("lat"),
                ((F.col("doc_id") * 91 + F.col("i") * 53) % 3400 / 10.0 - 169.95).alias("lon"),
            )
        )
        edges = knn_adjacency(
            ents.select(F.col("vertex_id").alias("entity_id"), "lat", "lon").withColumn(
                "cell", grid_cell(F.col("lat"), F.col("lon"), 3)
            ),
            k=3,
            res=3,
        )
        assignment, _nc, _m = multilevel_partition(
            spark, ents, edges, PartitionConfig(cell_sizes=[16, 128])
        )
        return assignment

    q["tile_assignment"] = tile_assignment

    return q


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------


def _minhash_select_sql() -> str:
    th = md5_small_sql("tok")
    cols = ", ".join(
        f"min({minhash_sql('th', a, b)}) AS mh{i}" for i, (a, b) in enumerate(_PERMS)
    )
    return (
        f"WITH toks AS ({_TOKS_SQL}), "
        f"dt AS (SELECT DISTINCT doc_id, tok FROM toks), "
        f"th AS (SELECT doc_id, {th} AS th FROM dt) "
        f"SELECT doc_id, {cols} FROM th GROUP BY doc_id"
    )


def _simhash_sql() -> str:
    th = md5_small_sql("tok")
    sums = ", ".join(
        f"sum(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIM_BITS)
    )
    val = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIM_BITS)
    )
    return (
        f"WITH toks AS ({_TOKS_SQL}), "
        f"dt AS (SELECT DISTINCT doc_id, tok FROM toks), "
        f"th AS (SELECT doc_id, {th} AS th FROM dt), "
        f"sums AS (SELECT doc_id, {sums} FROM th GROUP BY doc_id) "
        f"SELECT doc_id, ({val})::BIGINT AS simhash FROM sums"
    )


def _simhash64_select_sql() -> str:
    sums = []
    for half in ("lo", "hi"):
        for j in range(32):
            sums.append(
                f"sum(CASE WHEN (t{half} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) "
                f"AS s{half}{j}"
            )
    vals = {
        h: " + ".join(
            f"(CASE WHEN s{h}{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32)
        )
        for h in ("lo", "hi")
    }
    return (
        f"WITH toks AS ({_TOKS_SQL}), "
        f"dt AS (SELECT DISTINCT doc_id, tok FROM toks), "
        f"th AS (SELECT doc_id, "
        f"('0x' || substr(md5(tok), 1, 8))::BIGINT AS tlo, "
        f"('0x' || substr(md5(tok), 9, 8))::BIGINT AS thi FROM dt), "
        f"sums AS (SELECT doc_id, {', '.join(sums)} FROM th GROUP BY doc_id) "
        f"SELECT doc_id, ({vals['hi']})::BIGINT AS sim_hi, "
        f"({vals['lo']})::BIGINT AS sim_lo FROM sums"
    )


def _simhash64_pairs_sql(k: int) -> str:
    bands = []
    for bnum, (col, sh) in enumerate(
        [("sim_lo", 0), ("sim_lo", 16), ("sim_hi", 0), ("sim_hi", 16)]
    ):
        bands.append(
            f"SELECT doc_id, sim_hi, sim_lo, {bnum} AS band, "
            f"(({col} >> {sh}) & 65535) AS key FROM sh"
        )
    stacked = " UNION ALL ".join(bands)
    ham = (
        "(bit_count(xor(a.sim_lo, b.sim_lo)) + "
        "bit_count(xor(a.sim_hi, b.sim_hi)))::BIGINT"
    )
    return (
        f"WITH sh AS ({_simhash64_select_sql()}), stacked AS ({stacked}) "
        f"SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2, {ham} AS hamming "
        f"FROM stacked a JOIN stacked b ON a.band = b.band AND a.key = b.key "
        f"WHERE a.doc_id < b.doc_id AND {ham} <= {k}"
    )


_CA_SQL = (
    "2*asin(sqrt(pow(sin(radians({lat2}-({lat1}))/2),2) + "
    "cos(radians({lat1}))*cos(radians({lat2}))*pow(sin(radians({lon2}-({lon1}))/2),2)))"
)


def _coord6_sql(expr: str) -> str:
    """DuckDB twin of coord6_nudge: round(x + 0.000001, 6)."""
    return f"round(({expr}) + 0.000001, 6)"


def _gc_project_ctes(keycols: str) -> str:
    """CTE chain mirroring functions.geo.gc_project expression by
    expression (same operation tree for float parity). Expects a CTE
    named `base` with columns {keycols}, plat, plon, alat, alon, blat,
    blon; terminates in `gcp` ({keycols}, plat, plon, r_lat, r_lon)."""
    return f"""
        uv AS (SELECT {keycols}, plat, plon,
            cos(radians(plat))*cos(radians(plon)) AS px,
            cos(radians(plat))*sin(radians(plon)) AS py,
            sin(radians(plat)) AS pz,
            cos(radians(alat))*cos(radians(alon)) AS ax,
            cos(radians(alat))*sin(radians(alon)) AS ay,
            sin(radians(alat)) AS az,
            cos(radians(blat))*cos(radians(blon)) AS bx,
            cos(radians(blat))*sin(radians(blon)) AS by,
            sin(radians(blat)) AS bz
          FROM base),
        nv AS (SELECT *, ay*bz - az*by AS nx, az*bx - ax*bz AS ny,
                         ax*by - ay*bx AS nz FROM uv),
        dv AS (SELECT *, (px*nx + py*ny + pz*nz) / (nx*nx + ny*ny + nz*nz)
                         AS dd FROM nv),
        qv AS (SELECT *, px - dd*nx AS qx, py - dd*ny AS qy,
                         pz - dd*nz AS qz FROM dv),
        sv AS (SELECT *,
            ((ny*az - nz*ay)*qx + (nz*ax - nx*az)*qy + (nx*ay - ny*ax)*qz)
              AS det_naq,
            ((qy*bz - qz*by)*nx + (qz*bx - qx*bz)*ny + (qx*by - qy*bx)*nz)
              AS det_qbn,
            (pow(px - ax, 2) + pow(py - ay, 2) + pow(pz - az, 2)) AS da2,
            (pow(px - bx, 2) + pow(py - by, 2) + pow(pz - bz, 2)) AS db2,
            sqrt(qx*qx + qy*qy + qz*qz) AS qn
          FROM qv),
        rv AS (SELECT *,
            CASE WHEN det_naq > 0 AND det_qbn > 0 THEN qx/qn
                 WHEN da2 <= db2 THEN ax ELSE bx END AS rx,
            CASE WHEN det_naq > 0 AND det_qbn > 0 THEN qy/qn
                 WHEN da2 <= db2 THEN ay ELSE by END AS ry,
            CASE WHEN det_naq > 0 AND det_qbn > 0 THEN qz/qn
                 WHEN da2 <= db2 THEN az ELSE bz END AS rz
          FROM sv),
        gcp AS (SELECT {keycols}, plat, plon,
            degrees(asin(least(greatest(rz, -1.0), 1.0))) AS r_lat,
            degrees(atan2(ry, rx)) AS r_lon
          FROM rv)"""


def _segment_project_sql() -> str:
    coords = ", ".join(
        f"{_coord6_sql(expr)} AS {name}"
        for name, expr in [
            ("plat", "((c_custkey * 37) % 1200) / 10.0 - 59.95"),
            ("plon", "((c_custkey * 91) % 3400) / 10.0 - 169.95"),
            ("alat", "((c_custkey * 53) % 1200) / 10.0 - 59.95"),
            ("alon", "((c_custkey * 17) % 3400) / 10.0 - 169.95"),
            ("blat", "((c_custkey * 29) % 1200) / 10.0 - 59.95"),
            ("blon", "((c_custkey * 71 + 7) % 3400) / 10.0 - 169.95"),
        ]
    )
    hav = _HAVERSINE_SQL.format(lat1="plat", lon1="plon", lat2="r_lat", lon2="r_lon")
    return (
        f"WITH base AS (SELECT c_custkey AS point_id, {coords} FROM customer), "
        f"{_gc_project_ctes('point_id')} "
        f"SELECT point_id, round(r_lat, 6) AS proj_lat, "
        f"round(r_lon, 6) AS proj_lon, "
        f"round(({hav}) * 1000.0, 3) AS dist_m FROM gcp"
    )


def _polyline_position_sql() -> str:
    ca_a = _CA_SQL.format(lat1="g.r_lat", lon1="g.r_lon", lat2="s.alat", lon2="s.alon")
    ca_b = _CA_SQL.format(lat1="g.r_lat", lon1="g.r_lon", lat2="s.blat", lon2="s.blon")
    ca_ab = _CA_SQL.format(lat1="s.alat", lon1="s.alon", lat2="s.blat", lon2="s.blon")
    vlat = _coord6_sql("((c_custkey * 37) % 1200) / 10.0 - 59.95")
    vlon = _coord6_sql("((c_custkey * 91) % 3400) / 10.0 - 169.95")
    plat = _coord6_sql("((line_id * 241 + 3) % 1200) / 10.0 - 59.95")
    plon = _coord6_sql("((line_id * 499 + 11) % 3400) / 10.0 - 169.95")
    return (
        f"WITH pts AS (SELECT (c_custkey // 4) AS line_id, "
        f"(c_custkey % 4) AS seq, {vlat} AS vlat, {vlon} AS vlon "
        f"FROM customer), "
        f"segs AS (SELECT a.line_id, a.seq, a.vlat AS alat, a.vlon AS alon, "
        f"b.vlat AS blat, b.vlon AS blon FROM pts a JOIN pts b "
        f"ON a.line_id = b.line_id AND b.seq = a.seq + 1), "
        f"qs AS (SELECT DISTINCT line_id, {plat} AS plat, {plon} AS plon "
        f"FROM pts), "
        f"base AS (SELECT s.line_id, q.plat, q.plon, s.alat, s.alon, "
        f"s.blat, s.blon FROM segs s JOIN qs q ON s.line_id = q.line_id "
        f"WHERE s.seq = s.line_id % 3), "
        f"{_gc_project_ctes('line_id')}, "
        f"cand AS (SELECT s.line_id, s.seq, "
        f"round(abs(({ca_a}) + ({ca_b}) - ({ca_ab})), 12) AS diff "
        f"FROM segs s JOIN gcp g ON s.line_id = g.line_id), "
        f"best AS (SELECT line_id, seq + 1 AS pos, row_number() OVER "
        f"(PARTITION BY line_id ORDER BY diff ASC, seq ASC) AS rk "
        f"FROM cand WHERE diff < 0.001) "
        f"SELECT g.line_id, round(g.r_lat, 6) AS proj_lat, "
        f"round(g.r_lon, 6) AS proj_lon, coalesce(b.pos, 0)::BIGINT AS pos "
        f"FROM gcp g LEFT JOIN best b ON g.line_id = b.line_id AND b.rk = 1"
    )


def _lsh_pairs_sql() -> str:
    rows = N_PERM // N_BANDS
    bands = []
    for b in range(N_BANDS):
        cols = " || '_' || ".join(
            f"mh{b * rows + r}::VARCHAR" for r in range(rows)
        )
        bands.append(f"SELECT doc_id, {b} AS band, ({cols}) AS bucket FROM sigs")
    stacked = " UNION ALL ".join(bands)
    return (
        f"WITH sigs AS ({_minhash_select_sql()}), stacked AS ({stacked}) "
        "SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2 "
        "FROM stacked a JOIN stacked b ON a.band = b.band AND a.bucket = b.bucket "
        "WHERE a.doc_id < b.doc_id"
    )


def _lsh_dup_groups_sql() -> str:
    sig = " || '_' || ".join(f"mh{i}::VARCHAR" for i in range(N_PERM))
    return (
        f"WITH sigs AS ({_minhash_select_sql()}), "
        f"g AS (SELECT ({sig}) AS sig, min(doc_id) AS doc_id, "
        f"count(*) AS n_docs FROM sigs GROUP BY 1) "
        f"SELECT doc_id, n_docs FROM g WHERE n_docs > 1"
    )


def _simhash_dup_groups_sql() -> str:
    return (
        f"WITH sh AS ({_simhash_sql()}), "
        f"g AS (SELECT simhash, min(doc_id) AS doc_id, count(*) AS n_docs "
        f"FROM sh GROUP BY 1) "
        f"SELECT doc_id, n_docs FROM g WHERE n_docs > 1"
    )


def _embedding_near_dup_sql() -> str:
    # the SAME seeded 6dp-rounded hyperplanes as the Spark side; bucket
    # bit i = (v . h_i) > 0 (operators/similarity.py::lsh_bucket)
    bucket = " + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in plane)
        + f"]) > 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(_PLANES)
    )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"b AS (SELECT vec_id, v, ({bucket})::BIGINT AS bucket FROM e), "
        "p AS (SELECT a.vec_id AS id1, c.vec_id AS id2, "
        "round(list_cosine_similarity(a.v, c.v), 6) AS sim "
        "FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id) "
        f"SELECT id1, id2, sim FROM p WHERE sim >= {NEAR_DUP_THRESHOLD}"
    )


def _pip_sql() -> str:
    # rectangles: between; triangle: same-side sign tests (strict interior)
    (a_lat, a_lon), (b_lat, b_lon), (c_lat, c_lon) = [
        (p[0], p[1]) for p in PIP_POLYGONS[2]["ring"]
    ]

    def cross(x1, y1, x2, y2):
        return f"(({x2}-({x1}))*(lat-({y1})) - (({y2}-({y1}))*(lon-({x1}))))"

    d1 = cross(a_lon, a_lat, b_lon, b_lat)
    d2 = cross(b_lon, b_lat, c_lon, c_lat)
    d3 = cross(c_lon, c_lat, a_lon, a_lat)
    tri = (
        f"(({d1} > 0 AND {d2} > 0 AND {d3} > 0) OR ({d1} < 0 AND {d2} < 0 AND {d3} < 0))"
    )
    return (
        f"WITH p AS ({_POINTS_SQL}) "
        "SELECT point_id, 1::BIGINT AS boundary_id FROM p "
        "WHERE lat > -10 AND lat < 10 AND lon > -20 AND lon < 20 "
        "UNION ALL "
        "SELECT point_id, 2::BIGINT FROM p "
        "WHERE lat > 30 AND lat < 50 AND lon > 100 AND lon < 140 "
        "UNION ALL "
        f"SELECT point_id, 3::BIGINT FROM p WHERE {tri} "
        "UNION ALL "
        # boundary 4 (multipolygon, even-odd): inside the southern shell
        # but NOT its hole, OR inside the disjoint northern shell
        "SELECT point_id, 4::BIGINT FROM p WHERE "
        "((lat > -50 AND lat < -20 AND lon > 40 AND lon < 80) "
        " AND NOT (lat > -40 AND lat < -30 AND lon > 55 AND lon < 70)) "
        "OR (lat > 20 AND lat < 45 AND lon > -120 AND lon < -80)"
    )


def _way_cte() -> str:
    hw = ", ".join(f"'{h}'" for h in ACCEPTED_HIGHWAY)
    return (
        f"ways AS (SELECT * FROM {ways_values_sql()}), "
        f"nodes AS (SELECT * FROM {nodes_values_sql()}), "
        f"aw AS (SELECT * FROM ways WHERE (highway IN ({hw}) "
        f"OR coalesce(junction, '') <> '') AND len(nodes) >= 2), "
        "ex AS (SELECT way_id, unnest(nodes)::BIGINT AS node_id, "
        "(generate_subscripts(nodes, 1) - 1)::BIGINT AS pos, "
        "len(nodes) AS n_nodes FROM aw), "
        "wc AS (SELECT node_id, count(DISTINCT way_id) AS n_ways FROM ex GROUP BY node_id), "
        "jn AS (SELECT e.way_id, e.pos, e.node_id, "
        "CASE WHEN wc.n_ways > 1 AND e.pos > 0 AND e.pos < e.n_nodes - 1 "
        "THEN 1 ELSE 0 END AS is_junc FROM ex e JOIN wc USING (node_id)), "
        "segs0 AS (SELECT way_id, pos, node_id, is_junc, "
        "sum(is_junc) OVER (PARTITION BY way_id ORDER BY pos) AS seg FROM jn), "
        "segs AS (SELECT way_id, seg::BIGINT AS seg, pos, node_id FROM segs0 "
        "UNION ALL SELECT way_id, (seg - 1)::BIGINT, pos, node_id FROM segs0 WHERE is_junc = 1)"
    )


def _loop_split_cte() -> str:
    """E2 loop split over the ``segs`` CTE (osm_parser2.go:829-836):
    2-node self-hops drop; longer loops split into [0, n-2] + [n-2, n-1]."""
    return (
        "per0 AS (SELECT way_id, seg, count(*) AS n_seg, "
        "arg_min(node_id, pos) AS fn, arg_max(node_id, pos) AS ln "
        "FROM segs GROUP BY way_id, seg), "
        "sl0 AS (SELECT s.way_id, s.seg, s.pos, s.node_id, p.n_seg, p.fn, p.ln, "
        "row_number() OVER (PARTITION BY s.way_id, s.seg ORDER BY s.pos) AS rk "
        "FROM segs s JOIN per0 p USING (way_id, seg)), "
        "sl AS (SELECT way_id, seg, 0 AS lpart, pos, node_id FROM sl0 "
        "WHERE NOT (n_seg = 2 AND fn = ln) "
        "AND (NOT (n_seg > 2 AND fn = ln) OR rk <= n_seg - 1) "
        "UNION ALL "
        "SELECT way_id, seg, 1 AS lpart, pos, node_id FROM sl0 "
        "WHERE n_seg > 2 AND fn = ln AND rk >= n_seg - 1)"
    )


def _barrier_core_cte() -> str:
    """E3 over the loop-split CTE: ends with ``bs`` = barrier-split rows
    (way_id, seg, lpart, sub, pos, node_id), clones at node_id + 1e9."""
    kinds = ", ".join(f"'{k}'" for k in BARRIER_KINDS)
    return f"""
        {_loop_split_cte()},
        b AS (SELECT node_id,
                (coalesce(barrier, '') IN ({kinds})
                 AND coalesce(access, '') = 'no') AS is_barrier
              FROM nodes),
        be AS (SELECT s.way_id, s.seg, s.lpart, s.pos, s.node_id,
                 coalesce(b.is_barrier, FALSE) AS is_barrier,
                 row_number() OVER (PARTITION BY s.way_id, s.seg, s.lpart
                                    ORDER BY s.pos) AS rk,
                 count(*) OVER (PARTITION BY s.way_id, s.seg, s.lpart) AS n
               FROM sl s LEFT JOIN b USING (node_id)),
        sp AS (SELECT *, CASE WHEN is_barrier AND rk > 1 AND rk < n
                              THEN 1 ELSE 0 END AS is_split FROM be),
        cum AS (SELECT *, sum(is_split) OVER (PARTITION BY way_id, seg, lpart
                  ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sub FROM sp),
        bs AS (
          SELECT way_id, seg, lpart, sub::BIGINT AS sub, pos, node_id
          FROM cum WHERE is_split = 0
          UNION ALL
          SELECT way_id, seg, lpart, (sub - 1)::BIGINT, pos, node_id
          FROM cum WHERE is_split = 1
          UNION ALL
          SELECT way_id, seg, lpart, sub::BIGINT, pos, node_id + 1000000000
          FROM cum WHERE is_split = 1)
    """


def _barrier_split_sql() -> str:
    """E3 oracle, mirroring operators/waygraph.py::split_at_barriers."""
    return f"""
        WITH {_way_cte()},
        {_barrier_core_cte()}
        SELECT way_id, seg, lpart, sub, pos, node_id FROM bs
    """


def _traffic_light_sql() -> str:
    """E5 oracle: interior traffic-light tags pull to the closer
    endpoint of their barrier-split segment (ties to the last endpoint);
    endpoints keep their own tags; clones never inherit tags."""
    hav_from = _HAVERSINE_SQL.format(
        lat1="lat", lon1="lon", lat2="f_lat", lon2="f_lon"
    )
    hav_to = _HAVERSINE_SQL.format(
        lat1="lat", lon1="lon", lat2="l_lat", lon2="l_lon"
    )
    return f"""
        WITH {_way_cte()},
        {_barrier_core_cte()},
        nd AS (SELECT node_id AS orig_id, lat, lon,
                 coalesce(signal, FALSE) AS sig0 FROM nodes),
        p1 AS (SELECT b.*, CASE WHEN b.node_id >= 1000000000
                 THEN b.node_id - 1000000000 ELSE b.node_id END AS orig_id
               FROM bs b),
        p2 AS (SELECT p.way_id, p.seg, p.lpart, p.sub, p.pos, p.node_id,
                 n.lat, n.lon, (n.sig0 AND p.node_id < 1000000000) AS sig
               FROM p1 p JOIN nd n USING (orig_id)),
        per AS (SELECT way_id, seg, lpart, sub,
                  arg_min(node_id, pos) AS f_node, arg_min(lat, pos) AS f_lat,
                  arg_min(lon, pos) AS f_lon,
                  arg_max(node_id, pos) AS l_node, arg_max(lat, pos) AS l_lat,
                  arg_max(lon, pos) AS l_lon,
                  min(pos) AS min_pos, max(pos) AS max_pos, count(*) AS n_pts
                FROM p2 GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
        inter AS (SELECT p.lat, p.lon, per.f_node, per.f_lat, per.f_lon,
                    per.l_node, per.l_lat, per.l_lon
                  FROM p2 p JOIN per USING (way_id, seg, lpart, sub)
                  WHERE p.sig AND p.pos > per.min_pos AND p.pos < per.max_pos),
        pulled AS (SELECT DISTINCT CASE WHEN {hav_from} < {hav_to}
                     THEN f_node ELSE l_node END AS node_id FROM inter),
        eps AS (SELECT f_node AS node_id FROM per
                UNION SELECT l_node FROM per)
        SELECT e.node_id,
               (coalesce(n.sig0, FALSE) OR p.node_id IS NOT NULL) AS has_light
        FROM eps e
        LEFT JOIN nd n ON e.node_id = n.orig_id
        LEFT JOIN pulled p ON e.node_id = p.node_id
    """


def _speed_case_sql() -> str:
    num = "nullif(regexp_extract(maxspeed, '^\\s*(\\d+(?:\\.\\d+)?)', 1), '')::DOUBLE"
    fb = "30.0"
    for k, v in sorted(DEFAULT_SPEED.items()):
        fb = f"CASE WHEN highway = '{k}' THEN {v} ELSE {fb} END"
    return (
        f"CASE WHEN {num} IS NOT NULL AND {num} > 0 THEN "
        f"(CASE WHEN regexp_matches(maxspeed, '(?i)mph') THEN {num} * 1.609344 "
        f"WHEN regexp_matches(maxspeed, '(?i)knots?') THEN {num} * 1.852 "
        f"ELSE {num} END) ELSE {fb} END"
    )


def _edges_core_cte() -> str:
    """Shared CTE chain segs -> loop split -> per-segment edges ->
    directed rows -> (tail, head) dedup. Reused by the way_edges and
    way_turn_table oracles."""
    hav = _HAVERSINE_SQL.format(
        lat1="lag(lat) OVER w", lon1="lag(lon) OVER w", lat2="lat", lon2="lon"
    )
    speed = _speed_case_sql()
    return f"""
        {_loop_split_cte()},
        pts AS (SELECT s.way_id, s.seg, s.lpart, s.pos, s.node_id, n.lat, n.lon
                FROM sl s JOIN nodes n USING (node_id)),
        hops AS (SELECT way_id, seg, lpart, pos, node_id,
                   coalesce({hav}, 0.0) * 1000.0 AS hop_m
                 FROM pts WINDOW w AS (PARTITION BY way_id, seg, lpart ORDER BY pos)),
        per_seg AS (SELECT way_id, seg, lpart, sum(hop_m) AS dist_m,
                      arg_min(node_id, pos) AS first_node,
                      arg_max(node_id, pos) AS last_node,
                      count(*) AS n_pts
                    FROM hops GROUP BY way_id, seg, lpart),
        ok AS (SELECT * FROM per_seg WHERE n_pts >= 2 AND first_node <> last_node),
        e AS (SELECT ok.*, w.highway, w.junction, w.oneway, w.maxspeed,
                ({speed}) AS speed_kmh,
                (coalesce(w.oneway, '') IN ('yes', '1', 'true', '-1')
                 OR coalesce(w.junction, '') = 'roundabout') AS is_ow,
                coalesce(w.oneway, '') = '-1' AS rev
              FROM ok JOIN ways w USING (way_id)),
        e2 AS (SELECT *, dist_m / (speed_kmh * 1000.0 / 60.0) AS weight_min FROM e),
        directed AS (
          SELECT CASE WHEN rev THEN last_node ELSE first_node END AS tail,
                 CASE WHEN rev THEN first_node ELSE last_node END AS head,
                 dist_m, weight_min FROM e2
          UNION ALL
          SELECT last_node, first_node, dist_m, weight_min FROM e2 WHERE NOT is_ow),
        dedup AS (SELECT tail, head, round(min(weight_min), 6) AS weight_min,
                    round(min(dist_m), 4) AS dist_m
                  FROM directed GROUP BY tail, head)
    """


def _way_edges_sql() -> str:
    return f"""
        WITH {_way_cte()},
        {_edges_core_cte()},
        iso AS (SELECT DISTINCT node_id FROM ex
                WHERE node_id NOT IN (SELECT tail FROM dedup))
        SELECT tail, head, weight_min, dist_m FROM dedup
        UNION ALL
        SELECT node_id, node_id, 0.0, 0.0 FROM iso
    """


def _way_turn_table_sql() -> str:
    """J2 resolution (osm_parser2.go:506-625) + turn-table application
    over the fixture's real segment edges."""
    return f"""
        WITH {_way_cte()},
        {_edges_core_cte()},
        wr AS (SELECT * FROM {way_restrictions_values_sql()}),
        ow AS (SELECT way_id, nodes,
                 (coalesce(oneway, '') IN ('yes', '1', 'true', '-1')
                  OR coalesce(junction, '') = 'roundabout') AS is_ow
               FROM aw),
        ep AS (SELECT DISTINCT tail AS v FROM dedup
               UNION SELECT DISTINCT head FROM dedup),
        res0 AS (SELECT wr.via, wr.kind, f.nodes AS fnodes, f.is_ow,
                        t.nodes AS tnodes
                 FROM wr
                 JOIN ep ON wr.via = ep.v
                 JOIN ow f ON wr.from_way = f.way_id
                 JOIN ow t ON wr.to_way = t.way_id
                 WHERE wr.from_way <> wr.to_way),
        res1 AS (SELECT *, coalesce(list_position(fnodes, via), 0) AS i FROM res0),
        res2 AS (SELECT *,
                   CASE WHEN i = 1 THEN fnodes[2] ELSE fnodes[i - 1] END AS from_node,
                   coalesce(list_position(tnodes[1:len(tnodes) - 1], via), 0) AS j
                 FROM res1 WHERE i > 0 AND NOT (i = 1 AND is_ow)),
        res AS (SELECT via, from_node, tnodes[j + 1] AS to_node, kind
                FROM res2
                WHERE from_node <> via AND j > 0 AND tnodes[j + 1] <> via),
        entries AS (SELECT DISTINCT head AS via, tail AS from_node FROM dedup),
        exits AS (SELECT DISTINCT tail AS via, head AS to_node FROM dedup),
        pairs AS (SELECT * FROM entries JOIN exits USING (via)),
        no_r AS (SELECT DISTINCT via, from_node, to_node, TRUE AS is_no
                 FROM res WHERE kind = 'no'),
        only_r AS (SELECT via, from_node, min(to_node) AS only_min,
                          max(to_node) AS only_max, TRUE AS has_only
                   FROM res WHERE kind = 'only' GROUP BY via, from_node)
        SELECT p.via::BIGINT AS via, p.from_node::BIGINT AS from_node,
               p.to_node::BIGINT AS to_node,
               (CASE WHEN n.is_no THEN 4
                     WHEN o.has_only AND (o.only_min <> o.only_max
                                          OR p.to_node <> o.only_min) THEN 4
                     ELSE 5 END)::INT AS turn_type
        FROM pairs p
        LEFT JOIN no_r n USING (via, from_node, to_node)
        LEFT JOIN only_r o USING (via, from_node)
    """


def _tile_assignment_sql() -> str:
    """Golden-VALUES oracle for the flagship multilevel tiling at
    sf0.01: the assignment pinned from the SINGLE-PROCESS kernel
    (kernel/multilevel.py — independent of the Spark driver loop) via
    scripts/gen_tile_golden.py. See goldens.py for provenance."""
    from .goldens import TILE_ASSIGNMENT, TILE_VERTEX_IDS

    rows = ", ".join(
        f"({lvl}, {vid}, {cid})"
        for lvl, cells in sorted(TILE_ASSIGNMENT.items())
        for vid, cid in zip(TILE_VERTEX_IDS, cells)
    )
    return (
        f"SELECT * FROM (VALUES {rows}) AS t(level, vertex_id, cell_id)"
    )


_DEDUP_EXACT_SQL = """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM (SELECT doc_id,
            md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
          FROM documents)
    GROUP BY h
"""


def _text_stats_sql() -> str:
    return f"""
            WITH toks AS ({_TOKS_SQL}),
            agg AS (SELECT doc_id,
                      count(*)::BIGINT AS n_tokens,
                      count(DISTINCT tok)::BIGINT AS n_distinct_tokens,
                      round(sum(length(tok)) * 1.0 / count(*), 6) AS avg_token_len,
                      round(sum(CASE WHEN tok IN ('the','a','of','and','to','in','is','on','for','with')
                                THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS stopword_ratio,
                      sum(CASE WHEN tok IN ('the','and','of') THEN 1 ELSE 0 END) AS s_en,
                      sum(CASE WHEN tok IN ('der','und','die') THEN 1 ELSE 0 END) AS s_de,
                      sum(CASE WHEN tok IN ('le','et','la') THEN 1 ELSE 0 END) AS s_fr,
                      sum(CASE WHEN tok IN ('el','y','de') THEN 1 ELSE 0 END) AS s_es
                    FROM toks GROUP BY doc_id),
            base AS (SELECT doc_id,
                      round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                            * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
                      ('0x' || substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 15))::BIGINT
                        AS fingerprint
                     FROM documents)
            SELECT a.doc_id, n_tokens, n_distinct_tokens, avg_token_len,
                   stopword_ratio, punct_ratio,
                   round((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.5 END)
                         * (0.5 + 0.5 * n_distinct_tokens / greatest(n_tokens, 1))
                         - 0.25 * punct_ratio, 6) AS quality,
                   CASE
                     WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                     WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                     WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
                     WHEN s_fr > 0 THEN 'fr'
                     ELSE 'und'
                   END AS lang_pred,
                   fingerprint
            FROM agg a JOIN base USING (doc_id)
        """


def oracle_sql() -> dict[str, str]:
    n = 1 << RES
    cell_sql = (
        f"(least(greatest(floor((lat+90.0)/180.0*{n}), 0), {n - 1})::BIGINT * {n} "
        f"+ ((floor((lon+180.0)/360.0*{n})::BIGINT % {n}) + {n}) % {n})"
    )
    n6 = 1 << 6
    cell6_sql = (
        f"(least(greatest(floor((lat+90.0)/180.0*{n6}), 0), {n6 - 1})::BIGINT * {n6} "
        f"+ ((floor((lon+180.0)/360.0*{n6})::BIGINT % {n6}) + {n6}) % {n6})"
    )
    # parent of res-6 cell at res RES=4: shift both coords by 2
    parent_sql = (
        f"((({cell6_sql} // {n6}) // 4) * {n} + (({cell6_sql} % {n6}) // 4))"
    )
    hav0 = _HAVERSINE_SQL.format(lat1="lat", lon1="lon", lat2="0.0", lon2="0.0")
    havq = _HAVERSINE_SQL.format(lat1="qlat", lon1="qlon", lat2="lat", lon2="lon")
    knn_pts = ", ".join(f"({i}, {la}, {lo})" for i, la, lo in KNN_QUERY_POINTS)

    o = {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
                   sum(round(l_extendedprice * 100, 0)::BIGINT)::BIGINT
                     AS sum_base_price_cents,
                   sum(round(l_extendedprice * (1 - l_discount) * 10000, 0)::BIGINT)::BIGINT
                     AS sum_disc_price_e4,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT o_orderkey, o_orderdate,
                   sum(round(l_extendedprice * (1 - l_discount) * 10000, 0)::BIGINT)::BIGINT
                     AS revenue_e4
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue_e4 DESC, o_orderkey ASC LIMIT 10
        """,
        "q5_region_revenue": """
            SELECT r_name,
                   sum(round(l_extendedprice * (1 - l_discount) * 10000, 0)::BIGINT)::BIGINT
                     AS revenue_e4,
                   count(*) AS n_lines
            FROM region JOIN nation ON r_regionkey = n_regionkey
                        JOIN customer ON n_nationkey = c_nationkey
                        JOIN orders ON c_custkey = o_custkey
                        JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY r_name
        """,
        "dedup_rows": """
            SELECT l_orderkey, l_partkey,
                   min(l_linenumber) AS first_line, count(*) AS n_dups
            FROM lineitem GROUP BY l_orderkey, l_partkey
        """,
        "argmin_per_group": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS min_price
            FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice ASC, o_orderdate ASC, o_orderkey ASC) AS rk
                  FROM orders) WHERE rk = 1
        """,
        "w1_extreme_selection": """
            WITH ranked AS (
              SELECT c_custkey,
                     row_number() OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS rk,
                     count(*) OVER () AS n
              FROM customer)
            SELECT c_custkey,
                   CASE WHEN rk <= floor(n * 0.25)::BIGINT THEN 'source' ELSE 'sink' END AS side
            FROM ranked
            WHERE rk <= floor(n * 0.25)::BIGINT OR rk > n - floor(n * 0.25)::BIGINT
        """,
        "geo_haversine": f"""
            WITH p AS ({_POINTS_SQL})
            SELECT point_id, round({hav0}, 6) AS dist_km FROM p
        """,
        "geo_cell_index": f"""
            WITH p AS ({_POINTS_SQL})
            SELECT {cell_sql} AS cell, count(*) AS n_points,
                   min(point_id) AS min_point
            FROM p GROUP BY 1
        """,
        "raster_rollup": f"""
            WITH p AS ({_POINTS_SQL})
            SELECT {parent_sql}::BIGINT AS tile, count(*) AS n_points
            FROM p GROUP BY 1
        """,
        "geo_destination": """
            WITH p AS ({pts}),
            c AS (SELECT point_id,
                    radians(lat) AS la1, radians(lon) AS lo1,
                    100.0/6371.0 AS ang, radians(45.0) AS brg FROM p),
            d AS (SELECT point_id, lo1, ang, brg, la1,
                    asin(sin(la1)*cos(ang) + cos(la1)*sin(ang)*cos(brg)) AS la2 FROM c)
            SELECT point_id,
                   round(degrees(la2), 5) AS dest_lat,
                   round(((degrees(lo1 + atan2(sin(brg)*sin(ang)*cos(la1),
                         cos(ang) - sin(la1)*sin(la2))) + 540.0) % 360.0) - 180.0, 5)
                     AS dest_lon
            FROM d
        """.format(pts=_POINTS_SQL),
        "knn_lookup": f"""
            WITH p AS ({_POINTS_SQL}),
            qs (query_id, qlat, qlon) AS (VALUES {knn_pts}),
            d AS (SELECT query_id, point_id AS entity_id,
                         round({havq}, 6) AS dist_km FROM qs CROSS JOIN p),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY dist_km ASC, entity_id ASC) AS rk FROM d)
            SELECT query_id, entity_id, dist_km, rk FROM r WHERE rk <= 5
        """,
        "knn_adjacency_topk": f"""
            WITH p AS ({_POINTS_SQL}),
            pts AS (SELECT point_id AS entity_id, lat, lon,
                    (least(greatest(floor((lat+90.0)/180.0*32), 0), 31)::BIGINT * 32
                     + ((floor((lon+180.0)/360.0*32)::BIGINT % 32) + 32) % 32) AS cell
                    FROM p),
            offs (dr, dc) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                     (0,1),(1,-1),(1,0),(1,1)),
            probes AS (
              SELECT entity_id AS qid, lat AS qlat, lon AS qlon,
                     ((cell // 32) + dr) * 32
                       + (((cell % 32) + dc) % 32 + 32) % 32 AS cell
              FROM pts CROSS JOIN offs
              WHERE (cell // 32) + dr BETWEEN 0 AND 31
            ),
            cand AS (
              SELECT qid, pts.entity_id AS entity_id, {havq} AS d
              FROM probes JOIN pts USING (cell)
              WHERE pts.entity_id <> qid
            ),
            r AS (SELECT qid, entity_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY d ASC, entity_id ASC) AS rk
                  FROM cand),
            e AS (SELECT DISTINCT least(qid, entity_id) AS tail,
                         greatest(qid, entity_id) AS head FROM r WHERE rk <= 3)
            SELECT (row_number() OVER (PARTITION BY tail ORDER BY head)
                     - 1)::BIGINT AS edge_id, tail, head
            FROM e
        """,
        "pip_join": _pip_sql(),
        "dedup_exact": _DEDUP_EXACT_SQL,
        "minhash_signatures": _minhash_select_sql(),
        "lsh_candidate_pairs": _lsh_pairs_sql(),
        "simhash": _simhash_sql(),
        "simhash64": _simhash64_select_sql(),
        "simhash_near_dups": _simhash64_pairs_sql(SIM64_K),
        "geo_segment_project": _segment_project_sql(),
        "geo_polyline_position": _polyline_position_sql(),
        "jaccard_pairs": f"""
            WITH toks AS ({_TOKS_SQL}),
            dt0 AS (SELECT DISTINCT doc_id, tok FROM toks),
            keep AS (SELECT tok FROM dt0 GROUP BY tok HAVING count(*) <= 1000),
            dt AS (SELECT dt0.* FROM dt0 JOIN keep USING (tok)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM dt GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
                      FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT doc1, doc2,
                   round(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jaccard
            FROM inter JOIN sizes s1 ON doc1 = s1.doc_id
                       JOIN sizes s2 ON doc2 = s2.doc_id
            WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.5
        """,
        "text_stats": _text_stats_sql(),
        "corpus_filter": f"""
            WITH stats AS ({_text_stats_sql()}),
            reps AS ({_DEDUP_EXACT_SQL})
            SELECT doc_id, lang_pred, n_tokens, quality, n_copies
            FROM stats JOIN reps USING (doc_id)
            WHERE n_tokens >= 10 AND quality >= 0.5 AND lang_pred = 'en'
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                       FROM embeddings WHERE vec_id < 5),
            d AS (SELECT query_id, vec_id AS neighbor_id,
                    list_cosine_similarity(embedding::DOUBLE[], qvec::DOUBLE[]) AS s
                  FROM embeddings CROSS JOIN q WHERE vec_id <> query_id),
            r AS (SELECT query_id, neighbor_id, round(s, 5) AS sim,
                    row_number() OVER (PARTITION BY query_id
                       ORDER BY round(s, 6) DESC, neighbor_id ASC) AS rk FROM d)
            SELECT query_id, neighbor_id, sim, rk FROM r WHERE rk <= 5
        """,
        "events_sessionize": """
            WITH g AS (SELECT user_id, event_id, ts,
                        CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                               OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                             THEN 1 ELSE 0 END AS is_new
                       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, event_id, ts,
                   (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT
                     AS session_id
            FROM g
        """,
        "events_hourly_rollup": """
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*) AS n,
                   sum(round(value * 100, 0)::BIGINT)::BIGINT AS sum_value_cents
            FROM events GROUP BY 1, 2
        """,
        "session_stats": """
            WITH g AS (SELECT user_id, event_id, ts,
                        CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                               OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                             THEN 1 ELSE 0 END AS is_new
                       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (SELECT user_id, event_id, ts,
                    (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT
                      AS session_id
                  FROM g),
            j AS (SELECT s.user_id, s.session_id,
                         floor(epoch(s.ts))::BIGINT AS et, e.value
                  FROM s JOIN events e ON s.event_id = e.event_id)
            SELECT user_id, session_id, count(*) AS n_events,
                   (max(et) - min(et))::BIGINT AS span_sec,
                   sum(round(value * 100, 0)::BIGINT)::BIGINT AS sum_value_cents
            FROM j GROUP BY 1, 2
        """,
        "lsh_dup_groups": _lsh_dup_groups_sql(),
        "simhash_dup_groups": _simhash_dup_groups_sql(),
        "embedding_near_dup": _embedding_near_dup_sql(),
        # sketch rows: oracle asserts the EXACT value and claims
        # within_tolerance = TRUE — if Spark's sketch drifts out of
        # tolerance the hash check fails (see queries())
        "hll_count_distinct": """
            SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
                   TRUE AS within_tolerance
            FROM events GROUP BY 1
        """,
        "approx_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 6) AS p25,
                   round(quantile_cont(value, 0.50), 6) AS p50,
                   round(quantile_cont(value, 0.75), 6) AS p75,
                   TRUE AS within_tolerance
            FROM events GROUP BY 1
        """,
        "events_sessionize_stream": """
            WITH g AS (SELECT user_id, event_id, ts,
                        CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                               OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                             THEN 1 ELSE 0 END AS is_new
                       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (SELECT user_id, event_id, ts,
                    (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT
                      AS session_id
                  FROM g),
            a AS (SELECT user_id, session_id,
                         -- floor: Spark's timestamp->long cast truncates
                         min(floor(epoch(ts)))::BIGINT AS start_ts,
                         max(floor(epoch(ts)))::BIGINT AS end_ts,
                         count(*) AS n_events
                  FROM s GROUP BY 1, 2),
            wm AS (SELECT max(end_ts) - 3600 AS w FROM a)
            SELECT a.user_id, a.session_id, a.start_ts, a.end_ts, a.n_events
            FROM a, wm
            -- WATERMARK-COMPLETE contract (streaming/incremental.py):
            -- the stream emits exactly the batch sessions the final
            -- watermark proves complete — end + gap STRICTLY below it
            -- (Spark fires event-time timeouts only when the timeout
            -- timestamp is strictly below the watermark), regardless of
            -- micro-batch arrival order. A non-strict oracle would
            -- flake on whole-second boundary data.
            WHERE a.end_ts + 1800 < wm.w
        """,
        "way_filter": f"""
            WITH {_way_cte()}
            SELECT way_id, highway, len(nodes)::BIGINT AS n_nodes FROM aw
        """,
        "way_segments": f"""
            WITH {_way_cte()}
            SELECT way_id, seg, pos, node_id FROM segs
        """,
        # the fake decoder tiles payload bytes([i%7]*32) to a constant
        # 16x16 array, so every feature value is exactly media_id % 7
        # (operators/multimodal.py::_fake_decode)
        "multimodal_features": """
            SELECT i AS media_id, j AS idx, (i % 7)::DOUBLE AS value
            FROM generate_series(0, 19) t(i) CROSS JOIN generate_series(0, 15) u(j)
        """,
        "way_edges": _way_edges_sql(),
        "way_turn_table": _way_turn_table_sql(),
        "barrier_split": _barrier_split_sql(),
        "traffic_lights": _traffic_light_sql(),
        "tile_assignment": _tile_assignment_sql(),
        # golden VALUES pinned from the deterministic way/node fixture
        # (sf-independent): RDP at 1.0 m + Google polyline encoding over
        # the loop-split segment geometries. Endpoint/corner behavior is
        # independently property-tested in tests/test_waygraph_geometry.py
        # (Google's published reference vector included).
        "rdp_polyline": """
            SELECT * FROM (VALUES
              (1, 0, 0, 2, '???o}@'),
              (1, 1, 0, 2, '?o}@?o}@'),
              (1, 2, 0, 2, '?_|B?o}@'),
              (2, 0, 0, 2, '?_|Bo}@?o}@?'),
              (4, 0, 0, 3, 'owHowH?o}@o}@?'),
              (4, 0, 1, 2, '_vJ_vJn}@n}@'),
              (5, 0, 0, 2, '?ozD?o}@?o}@'),
              (6, 0, 0, 2, '?o}@n}@?'),
              (8, 0, 0, 2, 'o}@w|An}@g^'),
              (8, 1, 0, 2, '?_|Bn}@g^'),
              (10, 0, 0, 2, '_pR??gE?gw@'),
              (11, 0, 0, 2, '_af@??o}@'),
              (12, 0, 0, 2, '_af@o}@?o}@'),
              (13, 0, 0, 2, '_af@_|B?o}@'),
              (14, 0, 0, 2, '_af@ozD?o}@')
            ) AS t(way_id, seg, lpart, n_simplified, polyline)
        """,
        "turn_table": f"""
            WITH e AS (SELECT * FROM {turn_edges_values_sql()}),
            r AS (SELECT * FROM {restrictions_values_sql()}),
            entries AS (SELECT DISTINCT head AS via, tail AS from_node FROM e),
            exits AS (SELECT DISTINCT tail AS via, head AS to_node FROM e),
            pairs AS (SELECT * FROM entries JOIN exits USING (via)),
            no_r AS (SELECT DISTINCT via, from_node, to_node, TRUE AS is_no
                     FROM r WHERE kind = 'no'),
            only_r AS (SELECT via, from_node, min(to_node) AS only_min,
                              max(to_node) AS only_max, TRUE AS has_only
                       FROM r WHERE kind = 'only' GROUP BY via, from_node)
            SELECT p.via::BIGINT AS via, p.from_node::BIGINT AS from_node,
                   p.to_node::BIGINT AS to_node,
                   (CASE WHEN n.is_no THEN 4
                         WHEN o.has_only AND (o.only_min <> o.only_max
                                              OR p.to_node <> o.only_min) THEN 4
                         ELSE 5 END)::INT AS turn_type
            FROM pairs p
            LEFT JOIN no_r n USING (via, from_node, to_node)
            LEFT JOIN only_r o USING (via, from_node)
        """,
    }
    # full-probe IVF is exactly brute force -> same oracle
    o["ann_cosine_topk_ivf"] = o["ann_cosine_topk"]
    return {k: v.strip() for k, v in o.items()}
