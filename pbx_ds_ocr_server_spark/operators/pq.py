"""Product-quantization ANN (IVF-PQ) — the compression tier between the
IVF variants and 100 TB.

Jégou et al., "Product Quantization for Nearest Neighbor Search" (TPAMI
2011): split each D-dim vector into ``m`` subvectors, learn a small
codebook per subspace (Lloyd's — reuses :func:`operators.kmeans.kmeans_fit`
on array slices), store each vector as ``m`` small integer codes, and rank
candidates by ASYMMETRIC distance (ADC): the query stays full-precision,
per-subspace distances to every codebook centroid are computed ONCE into a
lookup table, and a candidate's approximate distance is the sum of ``m``
table lookups on its codes — no vector bytes touched at query time.
One search path: :func:`pq_build` once, then :func:`pq_search` per query.

Scale story: the storage/IO win is the point. At D=64 float32, raw vectors
are 256 B/row; m=8 one-byte codes are 8 B/row (32× compression) — a 100 TB
embedding store's candidate lists shrink to low-TB code tables that scan at
memory speed, and the scan is a pure column expression (element_at on a
literal lookup array — JVM-side, no shuffle beyond the coarse IVF filter).

Reproducibility: ``centroid_round_dp`` pins per-iteration centroid rounding
exactly like `ann_ivf_kmeans_top5`'s unrolled-Lloyd mirror, and the ADC
lookup tables are rounded to the same dp before summing, so the driver
hash-checks the whole tier against a DuckDB replay.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.operators.kmeans import kmeans_fit
from pbx_ds_ocr_server_spark.operators.similarity import as_double_array


def _sub_slice(vec: Column, sub: int, sub_dims: int) -> Column:
    return F.slice(vec, sub * sub_dims + 1, sub_dims)


def pq_fit(
    df: DataFrame,
    dims: int,
    m: int = 2,
    ks: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_round_dp: int | None = None,
) -> list[list[list[float]]]:
    """Per-subspace codebooks: ``codebooks[s][c]`` is the c-th centroid of
    subspace s (dims/m components). One Lloyd's run per subspace over the
    sliced vectors — same init rule (smallest md5(id)) and same rounded
    per-iteration means as :func:`kmeans_fit`, hence the same cross-engine
    reproducibility story."""
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    sub_dims = dims // m
    v = as_double_array(vec_col)
    # ONE init collect (the shared md5-order rule selects the same ROWS
    # for every subspace); slice the collected vectors driver-side instead
    # of re-running the sort+collect job m times
    from pbx_ds_ocr_server_spark.operators.kmeans import md5_init_vectors

    init_full = md5_init_vectors(df, ks, id_col, vec_col)
    out = []
    for s in range(m):
        sliced = df.select(
            F.col(id_col).alias(id_col),
            _sub_slice(v, s, sub_dims).alias(vec_col),
        )
        out.append(
            kmeans_fit(
                sliced,
                k=ks,
                iters=iters,
                id_col=id_col,
                vec_col=vec_col,
                centroid_round_dp=centroid_round_dp,
                init_centroids=[
                    c[s * sub_dims : (s + 1) * sub_dims] for c in init_full
                ],
            )
        )
    return out


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, vec) → (id, *carry_cols, codes array<int>): m nearest-centroid
    indices. The compressed representation — m small ints instead of dims
    floats. ``carry_cols`` rides extra columns through unchanged (the
    build step keeps the coarse ``label`` next to the codes so search can
    partition-prune on it). The argmin (ties → lowest index) is
    kmeans.argmin_centroid — the SAME expression cluster assignment uses,
    so the tie rule cannot drift."""
    from pbx_ds_ocr_server_spark.operators.kmeans import argmin_centroid

    m = len(codebooks)
    sub_dims = len(codebooks[0][0])
    v = as_double_array(vec_col)
    codes = F.array(
        *[
            argmin_centroid(_sub_slice(v, s, sub_dims), codebooks[s])
            for s in range(m)
        ]
    )
    return df.select(
        F.col(id_col).alias(id_col),
        *[F.col(c) for c in carry_cols],
        codes.alias("codes"),
    )


def adc_tables(
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    round_dp: int | None = None,
) -> list[list[float]]:
    """Asymmetric-distance lookup tables: ``dt[s][c]`` = squared distance
    from the query's s-th subvector to codebook centroid c. Computed once,
    driver-side (m × ks tiny). ``round_dp`` pins the entries so the SQL
    mirror's independently-summed tables agree bit-for-bit."""
    import math

    def _round_half_away(x: float, dp: int) -> float:
        # Spark F.round / DuckDB round() semantics (half AWAY from zero),
        # not Python round()'s banker's rule; distances are nonnegative
        return math.floor(x * 10**dp + 0.5) / 10**dp

    m = len(codebooks)
    sub_dims = len(codebooks[0][0])
    out = []
    for s in range(m):
        qs = query_vec[s * sub_dims : (s + 1) * sub_dims]
        row = []
        for cent in codebooks[s]:
            d = sum((a - b) * (a - b) for a, b in zip(qs, cent))
            row.append(
                _round_half_away(d, round_dp) if round_dp is not None else d
            )
        out.append(row)
    return out


def pq_adc_topk(
    codes_df: DataFrame,
    dt: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    round_dp: int = 5,
) -> DataFrame:
    """Rank coded vectors by ADC = Σ_s dt[s][codes[s]] — m literal-array
    lookups per row, ascending distance, ties → lowest id. The scan never
    touches vector bytes."""
    adc = None
    for s, row in enumerate(dt):
        term = F.element_at(
            F.array(*[F.lit(float(x)) for x in row]),
            F.col("codes")[s] + 1,
        )
        adc = term if adc is None else adc + term
    return (
        codes_df.select(
            F.col(id_col).alias("neighbor"),
            F.round(adc, round_dp).alias("adc"),
        )
        .orderBy(F.asc("adc"), F.asc("neighbor"))
        .limit(k)
    )


# --- production IVFADC shape (round 7): build once, search many ---


class PqIndex:
    """Output of :func:`pq_build` — everything search needs, nothing else:

    * ``codebooks`` — GLOBAL per-subspace codebooks (m × ks × dims/m
      floats; kilobytes — a broadcast literal at any scale),
    * ``codes_df`` — the whole corpus encoded: (id, label, codes
      array<int>). This is the stored index: m small ints per row where
      the raw store keeps dims floats (32× at D=64/m=8). Persist it
      partitioned/bucketed BY ``label`` and a probe prunes to
      nprobe/|labels| of the files before a byte is read,
    * ``coarse`` — [(label, centroid_vec)] collected driver-side (one row
      per inverted list — tiny by construction), so query-time list
      ranking is pure driver arithmetic, zero Spark jobs,
    * ``id_col`` — the id column name of ``codes_df``, recorded at build
      so :func:`pq_search` ranks by the caller's actual column instead
      of assuming the default."""

    __slots__ = ("codebooks", "codes_df", "coarse", "id_col")

    def __init__(self, codebooks, codes_df, coarse, id_col="vec_id"):
        self.codebooks = codebooks
        self.codes_df = codes_df
        self.coarse = coarse
        self.id_col = id_col


def pq_build(
    df: DataFrame,
    dims: int,
    m: int = 2,
    ks: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    fit_df: DataFrame | None = None,
    centroid_round_dp: int | None = None,
) -> PqIndex:
    """The ONE-OFF build step of Jégou-style IVFADC (TPAMI 2011, §IV):
    train global per-subspace codebooks ONCE, encode the whole corpus,
    snapshot the coarse-quantizer table. The fit amortizes across every
    :func:`pq_search` query instead of running inside one.

    ``fit_df`` lets the Lloyd's training run on a sample (at corpus scale
    you fit codebooks on ~1M sampled vectors, then encode everything —
    pass ``df.sample(0.001)``); default trains on ``df`` itself.
    Simplification vs the paper: codebooks are trained on RAW vectors,
    not per-list residuals — one global codebook table instead of
    coupling every code to its list's centroid. The cost
    is some quantization error near list boundaries; the scan shape and
    compression are identical.

    The input is scanned once for the coarse table, m times for the
    per-subspace Lloyd's aggregates, and once for the encode — callers
    passing a non-materialized ``df`` should :func:`caching.materialize`
    it first; this function does not persist its input."""
    from pbx_ds_ocr_server_spark.operators.similarity import (
        label_centroid_vectors,
    )

    codebooks = pq_fit(
        fit_df if fit_df is not None else df,
        dims=dims,
        m=m,
        ks=ks,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        centroid_round_dp=centroid_round_dp,
    )
    codes_df = pq_encode(
        df.withColumnRenamed(label_col, "label"),
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
        carry_cols=("label",),
    )
    # round_dp=6: the coarse table the ann_ivf_pq_top5 mirror replays
    # (per-label centroids at 6dp)
    coarse = [
        (r["label"], list(r["cvec"]))
        for r in label_centroid_vectors(
            df, vec_col=vec_col, label_col=label_col, round_dp=6
        ).collect()
    ]
    return PqIndex(codebooks, codes_df, coarse, id_col=id_col)


def _cosine_py(a: list[float], b: list[float]) -> float:
    import math

    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb) if na and nb else 0.0


def pq_search(
    index: PqIndex,
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 1,
    round_dp: int = 5,
) -> DataFrame:
    """Query the built index: rank inverted lists by cosine(query, coarse
    centroid) DRIVER-side (the coarse table is |labels| rows — no Spark
    job), probe the best ``nprobe`` lists, rank their codes by ADC against
    the GLOBAL codebooks. Returns (neighbor, adc) ascending, ties → lowest
    id.

    The probe filter is ``label IN (...)`` — an equi-predicate Catalyst
    pushes to the scan, so a codes table partitioned by label reads only
    the probed partitions. Raising ``nprobe`` trades scan volume for
    recall (the classic IVF knob); nprobe = |labels| degrades to an
    exhaustive ADC scan and recall is bounded only by quantization."""
    if nprobe < 1:
        raise ValueError(f"nprobe={nprobe}")
    # rank by cosine ROUNDED to 6dp with ties to the lowest label — the
    # rule the ann_ivf_pq_top5 mirror replays with SQL round(). That round
    # is half-AWAY on signed values: a bare floor(x*1e6+0.5) is half-UP
    # and diverges from it on negative 6dp half-ties, so round the
    # magnitude and re-sign.
    import math

    def _cos6(c: list[float]) -> float:
        x = _cosine_py(query_vec, c)
        s = -1.0 if x < 0 else 1.0
        return s * math.floor(abs(x) * 1e6 + 0.5) / 1e6

    ranked = sorted(
        index.coarse,
        key=lambda lc: (-_cos6(lc[1]), lc[0]),
    )
    probe = [label for label, _ in ranked[:nprobe]]
    cand = index.codes_df.filter(F.col("label").isin(probe))
    dt = adc_tables(query_vec, index.codebooks, round_dp=round_dp)
    return pq_adc_topk(
        cand, dt, k=k, id_col=index.id_col, round_dp=round_dp
    )
