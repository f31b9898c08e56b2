"""IVF-PQ: codebooks, codes, asymmetric distance — round-6 ANN tier."""

import random

import pytest
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.operators.pq import (
    adc_tables,
    pq_adc_topk,
    pq_encode,
    pq_fit,
)

DIMS = 8


def _clustered_rows(n_per=12, seed=5):
    """Four well-separated clusters in 8 dims, labels = cluster id."""
    rng = random.Random(seed)
    centers = [
        [10, 0, 0, 0, 0, 0, 0, 0],
        [0, 10, 0, 0, 0, 0, 0, 0],
        [0, 0, 10, 0, 0, 0, 0, 0],
        [0, 0, 0, 10, 0, 0, 0, 0],
    ]
    rows = []
    vid = 1
    for li, c in enumerate(centers):
        for _ in range(n_per):
            rows.append(
                (vid, f"c{li}", [x + rng.uniform(-1, 1) for x in c])
            )
            vid += 1
    return rows


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        _clustered_rows(), "vec_id bigint, label string, embedding array<double>"
    )


def test_pq_fit_shapes_and_determinism(vecs):
    cb1 = pq_fit(vecs, dims=DIMS, m=2, ks=4, iters=2, centroid_round_dp=5)
    cb2 = pq_fit(vecs, dims=DIMS, m=2, ks=4, iters=2, centroid_round_dp=5)
    assert cb1 == cb2  # rounded Lloyd's is exactly reproducible
    assert len(cb1) == 2 and all(len(b) == 4 for b in cb1)
    assert all(len(c) == DIMS // 2 for b in cb1 for c in b)


def test_pq_encode_compression_ratio(vecs):
    cb = pq_fit(vecs, dims=DIMS, m=2, ks=4, iters=2, centroid_round_dp=5)
    codes = pq_encode(vecs, cb).collect()
    assert all(len(r.codes) == 2 for r in codes)
    assert all(0 <= c < 4 for r in codes for c in r.codes)
    # the storage claim: m code bytes replace dims float64 components
    raw_bytes, code_bytes = DIMS * 8, 2 * 1
    assert raw_bytes / code_bytes == 32


def test_adc_tables_round_half_away():
    # d^2 = 0.125^2 = 0.015625 exactly: the 5dp tie must round AWAY from
    # zero (0.01563, the Spark/DuckDB rule); Python round()'s banker's
    # rule would give 0.01562
    cb = [[[0.0], [1.0]]]
    dt = adc_tables([0.125], cb, round_dp=5)
    assert dt[0][0] == 0.01563
    assert round(0.015625, 5) == 0.01562  # the trap being avoided


def test_adc_ranks_own_cluster_first(spark, vecs):
    """ADC over codes must rank the query's cluster ahead of the others —
    the recall property that makes the compression usable."""
    cb = pq_fit(vecs, dims=DIMS, m=2, ks=4, iters=3, centroid_round_dp=5)
    query = [10.0, 0, 0, 0, 0, 0, 0, 0]  # cluster c0's center
    dt = adc_tables(query, cb, round_dp=5)
    codes = pq_encode(vecs, cb)
    top = pq_adc_topk(codes, dt, k=12).collect()
    got = {r.neighbor for r in top}
    c0_ids = {r[0] for r in _clustered_rows() if r[1] == "c0"}
    # every top-12 hit is from the query's cluster (centers 14+ apart,
    # jitter ±1 — PQ cells cannot confuse them)
    assert got <= c0_ids and len(got) == 12


def test_pq_fit_rejects_indivisible_dims(vecs):
    with pytest.raises(ValueError):
        pq_fit(vecs, dims=DIMS, m=3)


# --- production IVFADC shape (round 7): pq_build / pq_search ---


@pytest.fixture(scope="module")
def index(vecs):
    from pbx_ds_ocr_server_spark.operators.pq import pq_build

    return pq_build(
        vecs, dims=DIMS, m=2, ks=4, iters=3, centroid_round_dp=5
    )


def test_pq_build_index_shape(index):
    assert len(index.codebooks) == 2  # global, not per-list
    assert all(len(b) == 4 for b in index.codebooks)
    assert sorted(l for l, _ in index.coarse) == ["c0", "c1", "c2", "c3"]
    rows = index.codes_df.collect()
    assert len(rows) == 48
    assert {r.label for r in rows} == {"c0", "c1", "c2", "c3"}
    assert all(len(r.codes) == 2 for r in rows)


def test_pq_build_deterministic(vecs, index):
    from pbx_ds_ocr_server_spark.operators.pq import pq_build

    again = pq_build(
        vecs, dims=DIMS, m=2, ks=4, iters=3, centroid_round_dp=5
    )
    assert again.codebooks == index.codebooks
    assert again.coarse == index.coarse


def test_pq_search_recall_vs_nprobe(spark, vecs, index):
    """The IVF knob: a query between clusters c0 and c1 needs nprobe=2 to
    see both true neighbor lists; k=18 > |one list|=12 makes the recall
    ceiling of nprobe=1 structural (12/18), not statistical."""
    from pbx_ds_ocr_server_spark.operators.pq import pq_search
    from pbx_ds_ocr_server_spark.operators.similarity import (
        brute_force_topk,
    )

    query = [10.0, 9.0, 0, 0, 0, 0, 0, 0]
    truth = {
        r.neighbor for r in brute_force_topk(vecs, query, k=18).collect()
    }
    c0 = {r[0] for r in _clustered_rows() if r[1] == "c0"}
    c1 = {r[0] for r in _clustered_rows() if r[1] == "c1"}

    got1 = {r.neighbor for r in pq_search(index, query, k=18, nprobe=1).collect()}
    got2 = {r.neighbor for r in pq_search(index, query, k=18, nprobe=2).collect()}

    assert got1 <= c0 and len(got1) == 12  # one list exhausted
    assert got2 <= c0 | c1 and len(got2) == 18
    r1 = len(got1 & truth) / 18
    r2 = len(got2 & truth) / 18
    assert r1 <= 12 / 18  # structural ceiling
    assert r2 > r1  # probing the second list buys real recall
    assert r2 >= 0.8


def test_pq_search_exhaustive_probe(vecs, index):
    """nprobe = |labels| degrades to a full ADC scan: every row ranked."""
    from pbx_ds_ocr_server_spark.operators.pq import pq_search

    out = pq_search(
        index, [10.0, 9.0, 0, 0, 0, 0, 0, 0], k=100, nprobe=4
    ).collect()
    assert len(out) == 48
    assert [r.adc for r in out] == sorted(r.adc for r in out)
    with pytest.raises(ValueError):
        pq_search(index, [1.0] * 8, nprobe=0)


def test_pq_build_fit_on_sample(vecs):
    """The 100 TB shape: codebooks trained on a sample, everything
    encoded. Even-id half still sees all four blobs, so search quality
    holds."""
    from pbx_ds_ocr_server_spark.operators.pq import pq_build, pq_search

    idx = pq_build(
        vecs, dims=DIMS, m=2, ks=4, iters=3, centroid_round_dp=5,
        fit_df=vecs.filter(F.col("vec_id") % 2 == 0),
    )
    assert idx.codes_df.count() == 48  # full corpus encoded regardless
    query = [0, 0, 10.0, 0, 0, 0, 0, 0]
    got = {r.neighbor for r in pq_search(idx, query, k=12, nprobe=1).collect()}
    c2 = {r[0] for r in _clustered_rows() if r[1] == "c2"}
    assert got <= c2 and len(got) == 12


def test_pq_search_honors_custom_id_col(spark, vecs, index):
    """Round-7 review finding: pq_search ranked by the DEFAULT id column
    name regardless of what pq_build was given — an index built over
    `doc_id` raised AnalysisException at query time. The index records
    its id column and search uses it."""
    from pbx_ds_ocr_server_spark.operators.pq import pq_build, pq_search

    renamed = vecs.withColumnRenamed("vec_id", "doc_id")
    idx = pq_build(
        renamed,
        dims=DIMS,
        m=2,
        ks=4,
        iters=3,
        id_col="doc_id",
        centroid_round_dp=5,
    )
    out = pq_search(idx, [10.0, 9.0, 0, 0, 0, 0, 0, 0], k=5, nprobe=2)
    rows = out.collect()
    assert len(rows) == 5
    assert {r.neighbor for r in rows} == {
        r.neighbor
        for r in pq_search(
            index, [10.0, 9.0, 0, 0, 0, 0, 0, 0], k=5, nprobe=2
        ).collect()
    }


def test_pq_search_probe_prunes_partitioned_codes(spark, vecs, tmp_path):
    """Substantiates the PqIndex docstring's scale claim: persist codes_df
    partitioned BY label and the nprobe filter must reach the scan as a
    PARTITION filter — at corpus scale a probe reads nprobe/|labels| of
    the files before a byte is read."""
    from pbx_ds_ocr_server_spark.operators.pq import (
        PqIndex,
        pq_build,
        pq_search,
    )

    idx = pq_build(vecs, dims=DIMS, m=2, ks=4, iters=3, centroid_round_dp=5)
    path = str(tmp_path / "codes")
    idx.codes_df.write.partitionBy("label").parquet(path)
    stored = PqIndex(
        idx.codebooks, spark.read.parquet(path), idx.coarse, id_col="vec_id"
    )
    out = pq_search(stored, [10.0, 9.0, 0, 0, 0, 0, 0, 0], k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [label" in plan.replace("\n", " "), plan[:2000]
    # and the pruned search returns the same neighbors as the in-memory one
    mem = pq_search(idx, [10.0, 9.0, 0, 0, 0, 0, 0, 0], k=5, nprobe=2)
    assert [r.neighbor for r in out.collect()] == [
        r.neighbor for r in mem.collect()
    ]


def test_pq_search_signed_half_away_rounding(spark):
    """Round-8 fix (VERDICT/ADVICE): F.round is half-AWAY on signed values;
    the old floor(x*1e6+0.5) coarse ranking was half-UP and probed a
    different list than Spark's round() picks on a negative 6dp half-tie.
    cos(q, ca) = -0.4000005 EXACTLY in float64 (the tie is representable:
    0.4000005*1e6 == 400000.5): half-up rounds it to -0.4 (ties list b,
    tie-break → probes a), half-away to -0.400001 (list b strictly wins),
    matching Spark's round()."""
    import math

    from pbx_ds_ocr_server_spark.operators.pq import PqIndex, pq_search

    x = 0.4000005
    assert x * 1e6 == 400000.5  # the half-tie is float-exact
    ca = [-x, math.sqrt(1.0 - x * x)]  # unit norm → cos(q, ca) == -x
    cb = [-0.4, math.sqrt(1.0 - 0.4 * 0.4)]  # cos(q, cb) ≈ -0.4
    codes = spark.createDataFrame(
        [("va", "a", [0]), ("vb", "b", [0])],
        "vec_id string, label string, codes array<int>",
    )
    idx = PqIndex([[[0.0, 0.0]]], codes, [("a", ca), ("b", cb)])
    got = pq_search(idx, [1.0, 0.0], k=2, nprobe=1).collect()
    assert {r.neighbor for r in got} == {"vb"}  # probed b, not tie-broken a
    # the rule IS F.round's: Spark rounds the same tie away from zero
    [[r]] = spark.sql("SELECT round(-0.4000005D, 6)").collect()
    assert r == -0.400001
