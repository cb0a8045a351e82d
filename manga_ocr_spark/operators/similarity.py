"""Similarity search over embedding columns (array<float>).

Two tiers:

- :func:`cosine_topk` — brute-force exact top-k: cross join + JVM-side
  ``zip_with``/``aggregate`` dot products. Correctness baseline and the
  refinement step. O(Q x N) — fine when Q (queries) is small or after
  candidate pruning.
- :func:`lsh_bucket_topk` — the scale path: random-hyperplane LSH. Each
  vector gets a b-bit sign signature from deterministic hyperplanes
  (seeded, no RNG state — reproducible across runs/executors); candidates
  are vectors sharing a signature bucket; exact cosine re-ranks inside the
  bucket. The all-pairs cross join never happens: the only shuffle is a
  groupBy on a small integer key. At 10^12 rows this is the difference
  between feasible and impossible.

Dot products and norms are computed with the *same left-fold order* in both
the Spark expression and the DuckDB oracle so results hash identically
after rounding.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import LongType

from manga_ocr_spark.operators.memo import memo


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cos, rank). The query side is expected
    to be small and is broadcast — the corpus is never shuffled; each task
    scans its corpus split against all queries (classic brute-force ANN
    sharding).

    Norms are bound BEFORE the pair join (r7): each side's ``sqrt(sum
    v*v))`` fold runs once per VECTOR instead of once per (query, corpus)
    pair — with Q queries that deletes (Q-1)/Q of the corpus-side norm
    folds and all but one of each query's. ``cos = dot/(qn*cn)`` is
    bit-identical to the inline form (same folds, same multiply/divide
    order), so the 6-decimal rounding contract with the oracle is
    untouched.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# (seed, dim, bits, bands) -> hyperplane matrix, built once per python
# WORKER process instead of once per Arrow batch (r7): _mix is exact
# integer math in interpreted Python — bands*bits*dim calls (~4k at the
# bench setting) cost ~ms per batch, pure overhead after the first
# batch. Deterministic, so a cached copy is identical by construction.
_PLANES_CACHE: dict[tuple[int, int, int, int], "np.ndarray"] = {}


def _plane_matrix(seed: int, dim: int, bits: int, bands: int = 1) -> "np.ndarray":
    key = (seed, dim, bits, bands)
    planes = _PLANES_CACHE.get(key)
    if planes is None:
        planes = np.array(
            [
                [_mix(seed + band, b, j) for j in range(dim)]
                for band in range(bands)
                for b in range(bits)
            ]
        )  # (bands*bits, dim)
        _PLANES_CACHE[key] = planes
    return planes


def _mix(seed: int, b: int, j: int) -> float:
    """Deterministic pseudo-random in [-1, 1) from (seed, bit, dim-index)
    via a splitmix-style integer mix — identical on every executor and
    across runs without shipping matrices."""
    x = (seed * 0x9E3779B97F4A7C15 + b * 0xBF58476D1CE4E5B9 + j * 0x94D049BB133111EB) & (
        2**64 - 1
    )
    x ^= x >> 31
    x = (x * 0xD6E8FEB86659FD93) & (2**64 - 1)
    x ^= x >> 27
    return (x / 2**63) - 1.0


def hyperplane_signatures(
    vec: Column, dim: int, bits: int, bands: int, seed: int = 42
) -> Column:
    """``bands`` independent b-bit hyperplane signatures as array<long> —
    the multi-table LSH construction: each band is its own hash table
    (seed = base + band index), and a candidate pair needs to collide in
    ANY band. Recall per true neighbor with per-bit agreement p is
    1-(1-p^bits)^bands — bands multiply recall, bits shrink buckets.

    One Arrow-batched pandas UDF, ONE numpy matmul per batch: the
    (bands*bits x dim) plane matrix is cached per worker and the sign
    matrix is packed per band (a codegen variant unrolling bits*dim
    element_at terms was ~10x slower).
    """
    return memo(
        ("hyperplane_sigs", dim, bits, bands, seed), lambda: _signatures_udf(dim, bits, bands, seed)
    )(vec)


def _signatures_udf(dim: int, bits: int, bands: int, seed: int):
    from pyspark.sql.types import ArrayType

    @F.pandas_udf(ArrayType(LongType()))
    def _sigs(vs: pd.Series) -> pd.Series:
        planes = _plane_matrix(seed, dim, bits, bands)  # worker-cached
        arr = np.stack([np.asarray(v, dtype=np.float64) for v in vs])  # (n, dim)
        signs = (arr @ planes.T > 0).reshape(len(arr), bands, bits)
        weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
        sigs = (signs @ weights).astype(np.int64)  # (n, bands)
        return pd.Series(list(sigs))

    return _sigs


def _centroid_assign_udf(centroids: list[list[float]], n_probe: int = 1):
    """pandas UDF: vec -> n_probe nearest centroid ids (by cosine).

    The centroid matrix ships in the task closure (n_centroids x dim
    floats — KBs, not worth a broadcast variable); each Arrow batch is one
    numpy matmul."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _assign(vs: pd.Series) -> pd.Series:
        arr = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        arr = arr / np.maximum(np.linalg.norm(arr, axis=1, keepdims=True), 1e-12)
        sims = arr @ Cn.T  # (n, n_centroids)
        order = np.argsort(-sims, kind="stable", axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return _assign


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd iterations for the IVF coarse quantizer.

    Init: the min-id vector of each xxhash64(id) % n_centroids residue
    class (seedless, reproducible). Each iteration is ONE distributed job:
    assign via a numpy-matmul pandas UDF, recompute centroids with
    posexplode + avg (JVM-side). Centroids (n_centroids x dim floats) are
    collected to the driver between iterations — KBs, independent of
    corpus size; this is how IVF training distributes at 10^12 rows.
    Empty cells keep their previous centroid.
    """
    v = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    init = (
        v.withColumn("res", F.pmod(F.xxhash64("id"), F.lit(n_centroids)))
        .withColumn("pick", F.min("id").over(Window.partitionBy("res")))
        .filter(F.col("id") == F.col("pick"))
        .select("res", "v")
        .collect()
    )
    centroids: dict[int, list[float]] = {int(r.res): list(r.v) for r in init}
    cent_list = [centroids[i] for i in sorted(centroids)]
    for _ in range(iters):
        assign = _centroid_assign_udf(cent_list, n_probe=1)
        assigned = v.withColumn("cell", F.element_at(assign(F.col("v")), 1))
        new = (
            assigned.select("cell", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cell", F.transform("dm", lambda s: s["m"]).alias("c"))
            .collect()
        )
        updated = {int(r.cell): list(r.c) for r in new}
        cent_list = [updated.get(i, cent_list[i]) for i in range(len(cent_list))]
    return cent_list


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into cells,
    probe each query's ``n_probe`` nearest cells, exact-cosine re-rank
    inside them. The scale path beyond hyperplane LSH: cell sizes adapt
    to the data distribution (k-means), and recall/cost trades via
    ``n_probe``. Only shuffles: the cell-key join and the per-query
    top-k window — the corpus cross join never exists.
    """
    centroids = train_ivf_centroids(corpus, n_centroids, iters, id_col, vec_col)
    one = _centroid_assign_udf(centroids, n_probe=1)
    many = _centroid_assign_udf(centroids, n_probe=n_probe)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        _norm(F.col(vec_col).cast("array<double>")).alias("cn"),
    ).withColumn("cell", F.element_at(one(F.col("cv")), 1))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        _norm(F.col(vec_col).cast("array<double>")).alias("qn"),
    ).withColumn("cell", F.explode(many(F.col("qv"))))
    pairs = c.join(F.broadcast(q), ["cell"]).filter(F.col("query_id") != F.col("neighbor_id"))
    # per-vector norms bound before the join (same r7 trick as
    # cosine_topk / lsh_bucket_topk; dot/(qn*cn) is bit-identical)
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6).alias(
            "cos"
        ),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    bits: int = 8,
    bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane-signature bucket in
    ANY of ``bands`` independent hash tables; exact cosine re-ranks the
    deduplicated candidate set, so every true neighbor that reaches the
    candidate tier also survives into the top-k.

    Tuning for recall (the multi-table LSH trade): per-bit agreement of a
    pair at angle θ is p = 1-θ/π, so candidate recall ≈ 1-(1-p^bits)^bands.
    ``bands`` multiplies recall at linear extra candidate cost; ``bits``
    controls bucket occupancy and should grow ~log2(N) with corpus size so
    buckets stay bounded. The ann_recall driver query pins recall@5 >= 0.6
    against the exact tier at the shipped (bits=4, bands=16) setting
    (measured 0.92-0.96 on the test corpora).

    Scale shape: the query side (signatures + vectors) is broadcast; the
    corpus is never shuffled — its band explode is narrow and the bucket
    join is map-side. The only shuffle is the dedup + top-k over CANDIDATE
    pairs, which banding keeps ~bands * N / 2^bits per query instead of N.
    """
    # norms are bound in the SAME select as the band explode (r7): the
    # Generate's child projection computes each vector's norm fold once
    # per input row and replicates it across its band rows — so the
    # per-pair score below is one dot fold, not three (the inline cosine
    # re-folded both norms per candidate pair). dot/(qn*cn) is
    # bit-identical to the inline form (same folds, same operation
    # order), preserving the 6-decimal oracle contract.
    qsig = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        _norm(F.col(vec_col).cast("array<double>")).alias("qn"),
        F.posexplode(
            hyperplane_signatures(F.col(vec_col).cast("array<double>"), dim, bits, bands)
        ).alias("band", "bucket"),
    )
    csig = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        _norm(F.col(vec_col).cast("array<double>")).alias("cn"),
        F.posexplode(
            hyperplane_signatures(F.col(vec_col).cast("array<double>"), dim, bits, bands)
        ).alias("band", "bucket"),
    )
    pairs = csig.join(F.broadcast(qsig), ["band", "bucket"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # score BEFORE the dedup shuffle: a pair colliding in m bands is
    # cosine-scored m times (m is small — the collision count), but the
    # dedup then shuffles only (query_id, neighbor_id, cos) triples
    # instead of the two 64-double vectors per row (~40x fewer shuffle
    # bytes). The map-side partial aggregation combines same-partition
    # duplicates before they even leave the mapper.
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6).alias(
            "cos"
        ),
    )
    dedup = scored.groupBy("query_id", "neighbor_id").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return dedup.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
