"""Similarity search over an embedding column (array<float>).

- ``cosine_topk_brute``: exact baseline — broadcast queries, native
  ``aggregate``/``zip_with`` dot product (JVM, no Python), ranked window;
- ``cosine_topk_lsh``: scale path — random-hyperplane LSH buckets
  (sign bits of fixed seeded hyperplanes) restrict candidates to same
  bucket (+ optional multi-probe), then exact rerank inside buckets;
- ``embedding_near_dup``: near-duplicate pairs with cosine >= threshold,
  bucket-joined via the same LSH to avoid the quadratic join.

Hyperplanes derive from a fixed seed so results are deterministic; the
brute-force variant is the DuckDB-oracle-checked one (list_cosine_
similarity / unnest arithmetic), the LSH variants are tested against it.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_brute(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries: (query_id, qvec array<float/double>) — broadcast (small).
    One shuffle (the per-query window)."""
    q = F.broadcast(queries.select("query_id", F.col("qvec")))
    sim = cosine(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.transform(F.col("qvec"), lambda x: x.cast("double")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    return (
        embeddings.crossJoin(q)
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("sim", F.round(sim, 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "sim", "rk")
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = (v . h_i) > 0."""
    b = F.lit(0).cast("long")
    for i, h in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                F.transform(vec_col, lambda x: x.cast("double")),
                F.lit([float(x) for x in h]),  # one Literal, not dim lits
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        b = b + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return b


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: candidates share the LSH bucket; exact rerank inside. Recall
    grows with fewer planes / multi-probe; tested against brute force."""
    planes = hyperplanes(dim, n_planes, seed)
    emb = embeddings.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
    q = queries.withColumn("bucket", lsh_bucket(F.col("qvec"), planes)).select(
        "query_id", "qvec", "bucket"
    )
    sim = cosine(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.transform(F.col("qvec"), lambda x: x.cast("double")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        emb.join(F.broadcast(q), "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("sim", F.round(sim, 6))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "sim", "rk")
    )


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold), LSH-bucketed
    self-join instead of the quadratic cross join."""
    planes = hyperplanes(dim, n_planes, seed)
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col), planes).alias("bucket")
    )
    a = emb.select(
        F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"), "bucket"
    )
    b = emb.select(
        F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"), "bucket"
    )
    sim = cosine(
        F.transform(F.col("v1"), lambda x: x.cast("double")),
        F.transform(F.col("v2"), lambda x: x.cast("double")),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("sim", F.round(sim, 6))
        .filter(F.col("sim") >= threshold)
        .select("id1", "id2", "sim")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path next to LSH. A coarse
# quantizer (deterministic k-means) splits vectors into C inverted
# lists; queries probe only the nprobe nearest lists, then rerank
# exactly inside them. Candidate work drops from O(N) to ~N*nprobe/C
# per query while the bucket join stays a plain equi-join.
# ---------------------------------------------------------------------------


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


# -- per-row cosine against a DRIVER-SIDE vector -----------------------------
#
# The N x C nearest-centroid assignment was a broadcast crossJoin +
# hash-agg struct-min: every vector shipped C times through a shuffle
# just so C interpreted cosine folds could be reduced back to one row.
# Round-6 cost attribution (isolated noop runs, sf0.1, N=2000, C=8):
# the crossJoin+groupBy shape costs ~4.1s while the SAME eight cosine
# folds computed per row as plain expressions cost ~0.45s — the
# structure, not the arithmetic, dominated. (An unrolled flat
# element_at sum was also tried and is 3-4x SLOWER than the
# higher-order-function fold — giant expression trees defeat codegen —
# so the fold stays.) Against a Python-side vector the cosine keeps the
# identical zip_with/aggregate fold, with the literal's norm
# precomputed by the same left-to-right fold in Python
# (IEEE-bit-identical; pinned by test_flat_cosine_bit_equals_hof_fold).


def _py_norm(c: list[float]) -> float:
    """norm of a literal vector via the same left fold `_norm` runs
    (Python floats are IEEE doubles, same association order)."""
    acc = 0.0
    for x in c:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _lit_arr(c: list[float]) -> Column:
    # ONE array<double> Literal node (Spark 4 F.lit accepts sequences)
    # instead of a CreateArray over dim child literals: the former put
    # ~C x dim nodes into every assignment plan, and each Lloyd
    # iteration's job re-analyzed that tree (driver-side planning was
    # the dominant cost of the ivf queries — round 6). Runtime values
    # are identical: CreateArray over foldable children constant-folds
    # to exactly this Literal.
    return F.lit([float(x) for x in c])


def _cosine_lit(v: Column, nv: Column, c: list[float]) -> Column:
    """cosine(v, c) = dot / (norm(v) * norm(c)) with norm(v) staged in
    ``nv`` and norm(c) folded driver-side — values identical to
    `cosine(v, lit_array)`, minus C-1 redundant norm folds per row."""
    return _dot(v, _lit_arr(c)) / (nv * F.lit(_py_norm(c)))


def _least_struct_cid(sims: list[Column]) -> Column:
    """argmin over struct(-sim, cid) across the per-centroid sim
    columns — the same total order the former groupBy
    ``F.min(F.struct(ns, cid))`` reduced with, as an N-ary `least`."""
    structs = [
        F.struct((-s).alias("ns"), F.lit(i).cast("int").alias("cid"))
        for i, s in enumerate(sims)
    ]
    return structs[0] if len(structs) == 1 else F.least(*structs)


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd iterations for the IVF coarse quantizer.

    Determinism discipline: a distributed float sum depends on partition
    merge order, so the centroid mean is computed on 1e-6-quantized
    INTEGER component sums (exact associative addition; |x|<=100, so
    even 10^12 rows stay under int64). Init = the vectors of the C
    smallest ids. Driver traffic is O(C * dim) per iteration.

    Round 6: the nearest-centroid assignment is a shuffle-free per-row
    argmin over the C driver-side centroid vectors (see `_cosine_lit` /
    `_least_struct_cid`) — the former N x C broadcast crossJoin +
    hash-agg struct-min shipped every vector C times through a shuffle;
    sims are bit-identical and reduce under the identical (-sim, cid)
    total order."""
    emb = embeddings.select(
        F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("v")
    )
    cents = [list(r["v"]) for r in emb.orderBy("_id").limit(n_centroids).collect()]
    # degrade gracefully when the table has fewer rows than requested
    # centroids (ADVICE r2): train what exists instead of IndexError
    n_centroids = len(cents)
    for _ in range(iters):
        nv = F.col("_nv")
        sims = [F.round(_cosine_lit(F.col("v"), nv, c), 9) for c in cents]
        best = emb.withColumn("_nv", _norm(F.col("v"))).select(
            "_id", _least_struct_cid(sims).getField("cid").alias("cid"), "v"
        )
        comp = (
            best.select("cid", F.posexplode("v").alias("pos", "val"))
            .withColumn("q", F.round(F.col("val") * 1e6, 0).cast("long"))
            .groupBy("cid", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
            .select(
                "cid", "pos", F.round(F.col("s") / F.col("n") / 1e6, 6).alias("m")
            )
        )
        means: dict[int, dict[int, float]] = {}
        for r in comp.collect():
            means.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        cents = [
            [means[i][p] for p in range(len(cents[i]))] if i in means else cents[i]
            for i in range(n_centroids)
        ]
    return cents


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    sim_decimals: int = 6,
) -> DataFrame:
    """ANN top-k via inverted lists: vectors live in their nearest
    centroid's list; each query probes its nprobe nearest lists and
    reranks exactly. nprobe == n_centroids degenerates to brute force
    (asserted in tests). Same output contract as cosine_topk_brute;
    ordering is always on the 6-dp-rounded similarity, the emitted sim
    rounds the RAW value to ``sim_decimals`` (never double-rounds)."""
    spark = embeddings.sparkSession
    if centroids is None:
        centroids = ivf_train(embeddings, n_centroids, iters, id_col, vec_col)
    cdf = F.broadcast(
        local_frame(
            spark,
            [(i, c) for i, c in enumerate(centroids)],
            "cid int, cvec array<double>",
        )
    )
    # inverted-list assignment as a shuffle-free per-row argmin over
    # the driver-side centroids (round 6; see ivf_train) — the former
    # crossJoin + hash-agg struct-min shipped every vector C times
    # through a shuffle. Identical sims and (-sim, cid) order.
    csims = [
        F.round(_cosine_lit(F.col("_v"), F.col("_nv"), c), 9) for c in centroids
    ]
    lists = (
        embeddings.select(id_col, vec_col)
        .withColumn("_v", _as_double(F.col(vec_col)))
        .withColumn("_nv", _norm(F.col("_v")))
        .select(
            id_col, vec_col, _least_struct_cid(csims).getField("cid").alias("cid")
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cid").asc()
    )
    probes = (
        queries.crossJoin(cdf)
        .withColumn("csim", F.round(cosine(_as_double(F.col("qvec")), F.col("cvec")), 9))
        .withColumn("crk", F.row_number().over(wq))
        .filter(F.col("crk") <= nprobe)
        .select("query_id", "qvec", "cid")
    )
    # rerank: stage the raw cosine ONCE (`_raw`) — the former plan
    # inlined the interpreted fold into both the 6-dp window key and
    # the emitted sim, paying 2x per candidate pair.
    raw = cosine(_as_double(F.col(vec_col)), _as_double(F.col("qvec")))
    w = Window.partitionBy("query_id").orderBy(F.col("_s6").desc(), F.col(id_col).asc())
    return (
        lists.join(F.broadcast(probes), "cid")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("_raw", raw)
        .withColumn("_s6", F.round(F.col("_raw"), 6))
        .withColumn("sim", F.round(F.col("_raw"), sim_decimals))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "sim", "rk")
    )
