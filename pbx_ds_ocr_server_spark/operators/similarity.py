"""Approximate-nearest-neighbor search over embedding columns.

Two paths:
  * ``brute_force_topk``    — exact cosine top-k (the correctness baseline;
    one scan + a k-row ordered take; at scale, per-partition top-k then
    driver merge — Spark's sort-limit already does exactly that).
  * ``with_lsh_bucket`` / ``lsh_topk`` — random-hyperplane LSH: bucket id =
    sign bits of the embedding against deterministic pseudo-hyperplanes
    derived from md5 (reproducible in ANSI SQL — no RNG, no model state).
    Queries probe only their bucket: the scale path (candidate set shrinks
    ~2^planes), trading recall for a bounded, shuffle-free scan. Rows and
    the query are bucketed by one rule, a sequential left-to-right fold
    per plane — the JVM expression for rows, the same fold in Python for
    the one query vector.

Both are pure column expressions — JVM-side, no Python per row.
``label_centroids`` / ``label_centroid_vectors`` build the per-label
coarse-quantizer table that `operators/pq.pq_build` snapshots.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.operators.dedup import cosine


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _plane_signs(plane: int, dims: int) -> list[float]:
    """The ±1 components of pseudo-hyperplane ``plane``: component i is +1
    when the first hex digit of md5('<plane>:<i>') is 0-7, else −1 — the
    rule the SQL mirror evaluates per row."""
    return [
        1.0
        if hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[0] in "01234567"
        else -1.0
        for i in range(dims)
    ]


def hyperplane(plane: int, dims: int) -> Column:
    """:func:`_plane_signs` as a LITERAL array: the md5 rule runs dims times
    per plane on the driver, zero times per row."""
    return F.array(*[F.lit(s) for s in _plane_signs(plane, dims)])


def lsh_bucket(vec_col: Column | str, n_planes: int, dims: int) -> Column:
    """Bucket id in [0, 2^n_planes): bit p set when dot(vec, plane_p) > 0."""
    v = as_double_array(vec_col)
    bucket = F.lit(0).cast("bigint")
    for p in range(n_planes):
        dot = F.aggregate(
            F.zip_with(v, hyperplane(p, dims), lambda x, h: x * h),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast(
            "bigint"
        )
    return bucket


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dims: int | None = None,
) -> DataFrame:
    """Add the LSH 'bucket' column (:func:`lsh_bucket`). Each dot product
    is a sequential left-to-right fold, the summation ORDER of the ANSI-SQL
    mirror's list_sum, so a sign bit cannot flip between engines on a dot
    product within float ulps of zero. NULL and wrong-length embeddings
    bucket to 0 (the fold is NULL, and ``when(dot > 0)`` falls through)."""
    if dims is None:
        # one tiny probe job per call — pass dims explicitly in loops
        first = df.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError(
                "cannot infer dims from an empty frame or NULL first"
                f" {vec_col!r}; pass dims= explicitly"
            )
        dims = len(first[0])
    return df.withColumn("bucket", lsh_bucket(vec_col, n_planes, dims))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k by cosine vs a literal query vector; deterministic
    tie-break on (rounded score, id) so results are engine-comparable."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col).alias("neighbor"),
        F.round(cosine(as_double_array(vec_col), q), round_dp).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.asc("neighbor")).limit(k)


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_dp: int = 5,
) -> DataFrame:
    """Per-label elementwise mean vectors, long form (label, dim, centroid).

    posexplode keeps the math mirror-able in ANSI SQL (unnest + group by
    index); the long form doubles as the IVF coarse-quantizer table."""
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(as_double_array(vec_col)).alias("dim", "v"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.round(F.avg("v"), round_dp).alias("centroid")
    )


def label_centroid_vectors(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_dp: int = 5,
) -> DataFrame:
    """(label, cvec): the long-form :func:`label_centroids` table folded
    back to one rounded mean vector per label — the coarse-quantizer table
    in the shape search-time ranking wants. Tiny by construction (one row
    per inverted list)."""
    cents = label_centroids(df, vec_col, label_col, round_dp=round_dp)
    return cents.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("dim"), F.col("centroid")))
        ).alias("dims")
    ).select(
        "label", F.expr("transform(dims, d -> d.centroid)").alias("cvec")
    )


def lsh_topk(
    df_bucketed: DataFrame,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
) -> DataFrame:
    """ANN: score only rows in the query's bucket (1/2^planes of the data in
    expectation). df_bucketed must carry the 'bucket' column."""
    dims = len(query_vec)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # query bucket driver-side (no Spark job for one vector), by the same
    # left-to-right fold as lsh_bucket so an identical row always shares it
    qbucket = 0
    for p in range(n_planes):
        acc = 0.0
        for x, h in zip(query_vec, _plane_signs(p, dims)):
            acc += float(x) * h
        if acc > 0:
            qbucket |= 1 << p
    cand = df_bucketed.filter(F.col("bucket") == qbucket)
    return (
        cand.select(
            F.col(id_col).alias("neighbor"),
            F.round(cosine(as_double_array(vec_col), q), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("neighbor"))
        .limit(k)
    )
