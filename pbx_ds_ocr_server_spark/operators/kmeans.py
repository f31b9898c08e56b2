"""Deterministic k-means (Lloyd's) over embedding columns — the iterative
coarse-quantizer training step for IVF ANN.

Classic Spark iteration shape: centroids live on the driver (k×dims floats,
tiny), each iteration is ONE distributed pass — assignment via literal
centroid arrays folded into the plan (JVM-side `aggregate`/`zip_with`
expressions, no UDF), update via posexplode + per-(cluster, dim) average.
No RDDs, no mutable state on executors.

Determinism (everything the sandbox's byte-stability contract demands):
  * init: the k vectors with the smallest md5(id) — a fixed pseudo-random
    sample independent of partitioning;
  * assignment ties break toward the lowest cluster index;
  * empty clusters keep their previous centroid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.operators.similarity import as_double_array


def _sqdist(vec: Column, centroid: list[float]) -> Column:
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def argmin_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid by squared distance (ties → lowest
    index) as a pure column expression — shared by cluster assignment and
    PQ encoding so the tie-break rule cannot drift between them."""
    best_idx = F.lit(0)
    best_dist = _sqdist(vec, centroids[0])
    for i, cent in enumerate(centroids[1:], start=1):
        d = _sqdist(vec, cent)
        better = d < best_dist
        best_idx = F.when(better, F.lit(i)).otherwise(best_idx)
        best_dist = F.when(better, d).otherwise(best_dist)
    return best_idx.cast("int")


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a ``cluster`` column: argmin of squared distance to the given
    centroids (ties → lowest index). Pure column expressions."""
    return df.withColumn(
        "cluster", argmin_centroid(as_double_array(vec_col), centroids)
    )



def md5_init_vectors(
    df: DataFrame, k: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic k-means init: the k vectors with the smallest
    md5(id), ties on id — THE init rule, shared by kmeans_fit and
    operators/pq.pq_fit so the unrolled DuckDB mirrors (which replay this
    exact ORDER BY) can never desynchronize from one copy drifting."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    if not rows:
        # an uninformative IndexError from len(centroids[0]) downstream
        # helps nobody; reject the empty frame explicitly. (FEWER than k
        # rows is deliberate: a small PQ fit sample may hold < ks vectors
        # — the oracle replays the same shrunken init.)
        raise ValueError("k-means init over an empty frame")
    return [[float(x) for x in r[vec_col]] for r in rows]


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_round_dp: int | None = None,
    init_centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Train k centroids; returns them as plain lists (driver-side, tiny).

    ``centroid_round_dp`` rounds each centroid component (Spark-side
    ``F.round``, half-away-from-zero — the same rule ANSI engines use)
    after every update. Iterations then stay EXACTLY reproducible across
    engines whose floating sums differ in ulps (summation order), which is
    what lets the driver hash-check this iterative algorithm against a
    DuckDB mirror: unrounded, an ulp in one mean can flip a borderline
    assignment next iteration and cascade. None (default) keeps full
    precision.

    ``init_centroids`` overrides the md5-order init collect — callers that
    already hold the init vectors (pq_fit runs one Lloyd's per subspace
    over the SAME rows) skip m-1 redundant sort+collect jobs."""
    if init_centroids is not None:
        centroids = [list(map(float, c)) for c in init_centroids]
    else:
        centroids = md5_init_vectors(df, k, id_col, vec_col)
    dims = len(centroids[0])
    mean_expr = F.avg("v")
    if centroid_round_dp is not None:
        mean_expr = F.round(mean_expr, centroid_round_dp)
    for _ in range(iters):
        assigned = assign_clusters(df.select(id_col, vec_col), centroids, vec_col)
        means = (
            assigned.select(
                "cluster", F.posexplode(as_double_array(vec_col)).alias("dim", "v")
            )
            .groupBy("cluster", "dim")
            .agg(mean_expr.alias("m"))
            .collect()
        )
        new = [list(c) for c in centroids]  # empty clusters keep position
        by_cluster: dict[int, list[float]] = {}
        for r in means:
            by_cluster.setdefault(r["cluster"], [0.0] * dims)[r["dim"]] = r["m"]
        for ci, vec in by_cluster.items():
            new[ci] = vec
        centroids = new
    return centroids


def ivf_kmeans_topk(
    df: DataFrame,
    query_vec: list[float],
    k_clusters: int = 8,
    iters: int = 3,
    k: int = 5,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 5,
    centroid_round_dp: int | None = None,
) -> DataFrame:
    """End-to-end IVF: train k-means lists, probe the ``n_probe`` nearest
    lists for the query, exact-search only those rows.
    ``centroid_round_dp`` pins per-iteration centroid rounding for
    cross-engine reproducibility (see :func:`kmeans_fit`)."""
    import math

    from pbx_ds_ocr_server_spark.operators.similarity import brute_force_topk

    centroids = kmeans_fit(
        df, k=k_clusters, iters=iters, id_col=id_col, vec_col=vec_col,
        centroid_round_dp=centroid_round_dp,
    )

    def sqd(a: list[float], b: list[float]) -> float:
        return math.fsum((x - y) * (x - y) for x, y in zip(a, b))

    order = sorted(range(len(centroids)), key=lambda i: (sqd(centroids[i], query_vec), i))
    probe = set(order[:n_probe])
    assigned = assign_clusters(df, centroids, vec_col)
    cand = assigned.filter(F.col("cluster").isin([int(p) for p in probe]))
    return brute_force_topk(cand, query_vec, k, id_col, vec_col, round_dp)
