"""Dedup / similarity operators — semantics beyond the oracle comparison."""

import json

import pytest
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.operators.dedup import (
    dedup_exact,
    dedup_near,
    embedding_neardup_pairs,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
)
from pbx_ds_ocr_server_spark.operators.extract import (
    assemble_layout_json,
    extract_pages,
)
from pbx_ds_ocr_server_spark.operators.multimodal import (
    binary_pixel_metadata,
    jpeg_dimensions,
    png_dimensions,
)
from pbx_ds_ocr_server_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    with_lsh_bucket,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # exact dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta theta iota NEW"),    # near dup of 1
        (4, "completely different words live in this one document here"),
        (5, "another unrelated text with its own tokens entirely apart"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dedup_exact_keeps_min_id(docs):
    kept = sorted(r.doc_id for r in dedup_exact(docs).collect())
    assert kept == [1, 3, 4, 5]


def test_minhash_identical_docs_have_identical_sigs(docs):
    sigs = {r.id: (r.s0, r.s1, r.s2, r.s3) for r in minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_lsh_pairs_include_exact_dups(docs):
    pairs = {(r.a, r.b) for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()}
    assert (1, 2) in pairs
    assert (4, 5) not in pairs


def test_jaccard_near_dup_detected(docs):
    pairs = {(r.a, r.b): r.jaccard for r in jaccard_pairs(docs, min_jaccard=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0


def test_dedup_near_removes_dups_keeps_distinct(docs):
    # max_shingle_df is an explicit, required choice for the row-deleting
    # operator; None = exact full-set Jaccard (small trusted frame)
    kept = sorted(
        r.doc_id
        for r in dedup_near(docs, min_jaccard=0.5, max_shingle_df=None).collect()
    )
    assert kept == [1, 4, 5]  # 2 (exact) and 3 (near) fold into 1


def test_dedup_near_requires_explicit_shingle_cap(docs):
    with pytest.raises(TypeError, match="max_shingle_df"):
        dedup_near(docs, min_jaccard=0.5)


def test_minhash_jaccard_estimate_semantics(docs):
    from pbx_ds_ocr_server_spark.operators.dedup import minhash_jaccard_estimate

    est = {
        (r.a, r.b): r.est_jaccard
        for r in minhash_jaccard_estimate(docs).collect()
    }
    assert est[(1, 2)] == 1.0  # exact dups: all signature components agree
    assert all(0.0 <= v <= 1.0 for v in est.values())
    # estimates are quantized to multiples of 1/k (k=4 signature components)
    assert all(round(v * 4) == v * 4 for v in est.values())


def test_hot_shingle_guard_drops_only_recall(docs):
    pairs = jaccard_pairs(docs, min_jaccard=0.5, max_shingle_df=1)
    assert pairs.count() == 0  # every shared shingle is "hot" at df>1


def test_embedding_neardup_and_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.9, 0.1, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    dups = {(r.a, r.b) for r in embedding_neardup_pairs(emb, threshold=0.999).collect()}
    assert dups == {(1, 2)}
    top = brute_force_topk(emb.filter("vec_id != 1"), [1.0, 0.0, 0.0, 0.0], k=2)
    assert [r.neighbor for r in top.collect()] == [2, 3]


def test_lsh_bucket_query_finds_identical_vector(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    bucketed = with_lsh_bucket(emb, n_planes=4, dims=8).cache()
    got = lsh_topk(bucketed, [1.0] + [0.0] * 7, k=1, n_planes=4)
    assert got.first().neighbor == 0 and got.first().cos == 1.0


def test_lsh_topk_query_and_rows_share_the_bucket_rule(spark):
    """A cancellation vector: plane 0's products are +1e16 at index 0,
    −1e16 at index 4 and +1 at index 5. The left-to-right fold gives
    (1e16 − 1e16) + 1 > 0, so bit 0 is set; a blocked or SIMD sum can
    lose the +1 and clear it. The query bucket must follow the rows' fold,
    or lsh_topk misses an identical vector."""
    import hashlib

    sign = [
        1.0 if hashlib.md5(f"0:{i}".encode()).hexdigest()[0] in "01234567"
        else -1.0
        for i in range(64)
    ]
    vec = [0.0] * 64
    vec[0], vec[4], vec[5] = 1e16 * sign[0], -1e16 * sign[4], sign[5]
    rows = [(1, vec)] + [
        (i, [float((i * 7 + d) % 5 - 2) for d in range(64)]) for i in range(2, 6)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    bucketed = with_lsh_bucket(emb, n_planes=8, dims=64)
    assert bucketed.filter("vec_id = 1").first().bucket & 1
    got = lsh_topk(bucketed, vec, k=1, n_planes=8).collect()
    assert [(r.neighbor, r.cos) for r in got] == [(1, 1.0)]


def test_png_jpeg_dimensions():
    import struct as st

    png = b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR" + st.pack(">II", 640, 480)
    assert png_dimensions(png) == (640, 480)
    # minimal JPEG: SOI + SOF0 segment
    sof = b"\xff\xc0" + st.pack(">H", 17) + b"\x08" + st.pack(">HH", 480, 640) + b"\x03"
    jpg = b"\xff\xd8" + sof
    assert jpeg_dimensions(jpg) == (640, 480)


def test_binary_metadata_end_to_end(spark):
    import struct as st

    png = b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR" + st.pack(">II", 32, 16)
    rows = [(1, bytearray(png)), (2, bytearray(b"%PDF-1.4 x")), (3, None)]
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    got = {r.id: r for r in binary_pixel_metadata(df).collect()}
    assert got[1].kind == "png" and (got[1].width, got[1].height) == (32, 16)
    assert got[2].kind == "pdf" and got[2].width is None
    # NULL payload → all-NULL metadata row (round-7 advice closure:
    # never fabricate kind='empty'/md5(b"") for a payload that isn't there)
    assert got[3].kind is None and got[3].n_bytes is None
    assert got[3].digest is None


def test_layout_json_shape(spark, corpus):
    pages = extract_pages(corpus.filter(F.col("doc_class") == "pdf").limit(5))
    rows = assemble_layout_json(pages).collect()
    assert rows
    for r in rows:
        doc = json.loads(r.layout_json)
        assert set(doc) == {"pages"}
        idxs = [p["page_index"] for p in doc["pages"]]
        assert idxs == sorted(idxs) and idxs[0] == 1
        assert all("res" in p and "text" in p["res"] for p in doc["pages"])
        # sync-response markdown envelope parity (infer.py:110-120):
        # per-page {"text", "isStart", "isEnd"}; flags mark the first/last
        # page in processing order
        for i, p in enumerate(doc["pages"]):
            md = p["markdown"]
            assert set(md) == {"text", "isStart", "isEnd"}
            assert md["text"] == p["res"]["text"]
            assert md["isStart"] == (i == 0)
            assert md["isEnd"] == (i == len(doc["pages"]) - 1)


def test_embedding_neardup_lsh_matches_brute_force(spark):
    # real embeddings + injected exact duplicates: the LSH-bucketed path must
    # find exactly what the all-pairs path finds at threshold~1 (true pairs
    # here are identical vectors -> identical buckets, recall is exact)
    from pbx_ds_ocr_server_spark.operators.dedup import embedding_neardup_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    both = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") < 10).select(
            (F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding"
        )
    )
    lsh = {
        (r.a, r.b, r.cos)
        for r in embedding_neardup_lsh(both, threshold=0.999, dims=64).collect()
    }
    brute = {
        (r.a, r.b, r.cos)
        for r in embedding_neardup_pairs(
            both, threshold=0.999, max_rows=None
        ).collect()
    }
    assert lsh == brute and len(lsh) >= 10


def test_embedding_neardup_lsh_recall_on_perturbed_duplicates(spark):
    """ADVICE r2 #5: the driver oracle mirrors the probe set, so it verifies
    self-consistency, not recall — a probe-set regression would pass the
    gate. This test injects NEAR-but-not-identical duplicates (first
    component nudged by +0.01, cosine stays ≥0.999 but hyperplane dots CAN
    straddle zero → buckets CAN differ) and checks the LSH path against
    exhaustive cosine:
      * the DESIGNED guarantee is exact: every true pair whose buckets
        differ in ≤1 bit must be emitted;
      * overall recall on this corpus must stay high (pairs ≥2 bits apart
        need ≥2 simultaneous near-zero dots — rare by construction)."""
    from pbx_ds_ocr_server_spark.operators.dedup import embedding_neardup_lsh

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    perturbed = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.concat(
            F.array(F.element_at(v, 1) + F.lit(0.01)), F.slice(v, 2, 10_000)
        ).alias("embedding"),
    )
    both = emb.select("vec_id", v.alias("embedding")).unionByName(perturbed)
    lsh = {
        (r.a, r.b)
        for r in embedding_neardup_lsh(both, threshold=0.999, dims=64).collect()
    }
    brute = {
        (r.a, r.b): r.cos
        for r in embedding_neardup_pairs(
            both, threshold=0.999, max_rows=None
        ).collect()
    }
    assert len(brute) >= 50  # the injected pairs are all above threshold
    missed = set(brute) - lsh
    assert not (lsh - set(brute))  # LSH never invents pairs
    # exact guarantee: misses may only be pairs whose buckets differ ≥2 bits
    from pbx_ds_ocr_server_spark.operators.similarity import with_lsh_bucket

    buckets = {
        r.vec_id: r.bucket
        for r in with_lsh_bucket(both, n_planes=8, dims=64)
        .select("vec_id", "bucket")
        .collect()
    }
    for a, b in missed:
        assert bin(buckets[a] ^ buckets[b]).count("1") >= 2, (a, b)
    # and on this corpus the recall must stay high end-to-end
    assert len(missed) / len(brute) <= 0.1


def test_embedding_neardup_lsh_plan_has_no_cartesian(spark):
    from pbx_ds_ocr_server_spark.operators.dedup import embedding_neardup_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        embedding_neardup_lsh(emb, dims=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_neardup_pairs_refuses_unbounded_frames(spark):
    rows = [(i, [float(i), 1.0]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="all-pairs"):
        embedding_neardup_pairs(emb, max_rows=10).count()


def test_connected_min_label_chain_and_v_shape(spark):
    from pbx_ds_ocr_server_spark.operators.dedup import connected_min_label

    # two components: a V (1-3, 2-3) and a long chain 10-11-12-13
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (10, 11), (11, 12), (12, 13)], "a bigint, b bigint"
    )
    labels = {r.id: r.label for r in connected_min_label(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_dedup_near_transitive_folds_hub_components(spark):
    # hub B(id=3) is near A(id=1) and C(id=2); A and C are NOT near each
    # other (two words apart -> jaccard 0.667 < 0.8). One-hop keeps both
    # endpoints; transitive folds the whole component into min id 1.
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    a = base.replace("w12", "x12")
    c = "x1 " + base.split(" ", 1)[1]
    docs = spark.createDataFrame(
        [(1, a), (2, c), (3, base)], "doc_id bigint, text string"
    )
    one_hop = sorted(
        r.doc_id
        for r in dedup_near(docs, min_jaccard=0.8, max_shingle_df=None).collect()
    )
    transitive = sorted(
        r.doc_id
        for r in dedup_near(
            docs, min_jaccard=0.8, max_shingle_df=None, transitive=True
        ).collect()
    )
    assert one_hop == [1, 2]
    assert transitive == [1]


def test_paragraph_dedup_removes_cross_doc_boilerplate(spark):
    """The injected 10-word boilerplate chunk lives in both docs (doc-freq
    2 > 1) and must vanish; each doc's own content (doc-freq 1) survives,
    reassembled in original order."""
    from pbx_ds_ocr_server_spark.operators.dedup import paragraph_dedup

    boiler = "subscribe to our newsletter and follow us on social media"
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, f"{boiler} {a}"), (2, f"{boiler} {b}"), (3, "unique short doc")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.text_dedup for r in paragraph_dedup(docs).collect()}
    assert got == {1: a, 2: b, 3: "unique short doc"}
    # a doc made ENTIRELY of boilerplate collapses to empty, not a dropped row
    docs2 = spark.createDataFrame(
        [(1, boiler), (2, boiler), (3, "solo")], "doc_id bigint, text string"
    )
    got2 = {r.doc_id: r.text_dedup for r in paragraph_dedup(docs2).collect()}
    assert got2 == {1: "", 2: "", 3: "solo"}


def test_simhash_hamming_banding_is_complete_for_radius_3(spark):
    # brute-force ground truth over the 64-bit signatures vs banded pairs
    from pbx_ds_ocr_server_spark.functions.text import simhash_bands_table
    from pbx_ds_ocr_server_spark.operators.dedup import simhash_hamming_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = docs.select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    du = d.unionByName(dup)
    banded = {
        (r.a, r.b, r.hamming)
        for r in simhash_hamming_pairs(du, max_hamming=3).collect()
    }
    sig = {
        r.doc_id: (r.s0, r.s1, r.s2, r.s3)
        for r in simhash_bands_table(du).collect()
    }

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(sig[a], sig[b]))

    ids = sorted(sig)
    brute = {
        (a, b, ham(a, b))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(a, b) <= 3
    }
    assert banded == brute and len(brute) > 0
    # the first-cut 16-bit signature collided 12% of ALL pairs at this size;
    # 64 bits must collapse the pair count to near the true-dup set
    assert len(brute) < 100


def test_stratified_sample_prefilter_is_exact_at_adequate_rate(spark):
    from pbx_ds_ocr_server_spark.functions.text import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def run(**kw):
        return {
            (r.doc_id, r.lang)
            for r in stratified_sample(docs, k=5, **kw)
            .select("doc_id", "lang")
            .collect()
        }

    exact = run(pre_rate=None)  # no prefilter: the ground truth
    assert len(exact) > 0
    assert run(pre_rate=0.5) == exact  # pinned adequate rate
    assert run() == exact  # 'auto' (default): derived + verified rate
    # high-cardinality guard (round-3 ADVICE): when the approx group count
    # exceeds auto_max_groups the auto path must NOT collect the group
    # domain — it falls back to the plain (still exact) window
    assert run(auto_max_groups=2) == exact


def test_minhash_operating_point_curve(spark):
    """Production LSH operating point (k=64, 16 bands × 4 rows): measured
    candidate rate vs true shingle Jaccard on a synthetic overlap gradient.
    Theory: P[candidate] = 1 − (1 − j⁴)¹⁶ — an S-curve with threshold
    (1/16)^(1/4) ≈ 0.5. The assertions pin the three regimes: pairs at the
    0.8 dedup threshold are (essentially) always candidates, far-below-
    threshold pairs almost never, mid-curve in between. Deterministic:
    signatures are md5 of the words, no RNG anywhere."""
    from pbx_ds_ocr_server_spark.operators.dedup import banding, shingles

    REPS = 30
    WORDS = 100

    def doc_pair(rep: int, shared: int) -> tuple[str, str]:
        a = [f"r{rep}s{shared}a{i}" for i in range(WORDS)]
        b = a[:shared] + [f"r{rep}s{shared}b{i}" for i in range(WORDS - shared)]
        return " ".join(a), " ".join(b)

    # shared-word counts spanning the curve; true J computed exactly below
    levels = [95, 89, 67, 40, 12]
    rows, true_j = [], {}
    did = 0
    for shared in levels:
        for rep in range(REPS):
            ta, tb = doc_pair(rep, shared)
            sa = {" ".join(ta.split()[i : i + 3]) for i in range(WORDS - 2)}
            sb = {" ".join(tb.split()[i : i + 3]) for i in range(WORDS - 2)}
            true_j[(did, did + 1)] = len(sa & sb) / len(sa | sb)
            rows += [(did, ta), (did + 1, tb)]
            did += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, k=64)
    cand = {
        (r.a, r.b)
        for r in lsh_candidate_pairs(sigs, bands=banding(64, 16)).collect()
    }
    hits = {shared: 0 for shared in levels}
    js = {}
    for (a, b), j in true_j.items():
        shared = levels[a // (2 * REPS)]
        js[shared] = j
        if (a, b) in cand:
            hits[shared] += 1
    # high-J regime (j≈0.93 and j≈0.8): every pair is a candidate
    assert js[95] > 0.9 and hits[95] == REPS
    assert 0.78 < js[89] < 0.82 and hits[89] == REPS
    # mid-curve (j≈0.5): theory 0.645 — wide binomial bounds
    assert 0.45 < js[67] < 0.55 and 8 <= hits[67] <= 28
    # far below threshold: candidate rate collapses
    assert js[40] < 0.35 and hits[40] <= 12
    assert js[12] < 0.12 and hits[12] <= 2


def test_banding_validates_and_partitions():
    from pbx_ds_ocr_server_spark.operators.dedup import banding

    assert banding(4, 2) == (("s0", "s1"), ("s2", "s3"))
    assert banding(64, 16)[0] == ("s0", "s1", "s2", "s3")
    assert banding(64, 16)[15] == ("s60", "s61", "s62", "s63")
    with pytest.raises(ValueError):
        banding(6, 4)


def test_dedup_near_estimate_band_skips_exact_tier_for_sure_pairs(spark):
    """estimate_band: pairs the signature estimate decides (≥hi) are
    accepted without the shingle self-join; only the undecidable band pays
    for exact verification — and the composed result still removes the
    duplicates."""
    from pbx_ds_ocr_server_spark.operators.dedup import (
        _pair_estimates,
        banding,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base), (2, base), (3, base.replace("kappa", "NEW")),
            (4, "totally different words that share nothing at all here"),
            (5, "one more unrelated document with its own private words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    plain = {r.doc_id for r in dedup_near(df, max_shingle_df=None).collect()}
    banded = {
        r.doc_id
        for r in dedup_near(
            df, max_shingle_df=None, estimate_band=(0.3, 0.9)
        ).collect()
    }
    assert banded == plain  # same keepers on this frame
    assert 2 not in banded  # the exact dup is gone

    # the exact tier's input provably shrinks: est=1.0 pairs (exact dups)
    # are accepted from signatures alone, leaving fewer undecided pairs
    sigs = minhash_signatures(df)
    cand = _pair_estimates(sigs, lsh_candidate_pairs(sigs, banding(4, 2)), 4)
    n_cand = cand.count()
    n_undecided = cand.filter(
        (F.col("est_jaccard") >= 0.3) & (F.col("est_jaccard") < 0.9)
    ).count()
    n_accepted = cand.filter(F.col("est_jaccard") >= 0.9).count()
    assert n_accepted >= 1  # the (1,2) exact dup decides from signatures
    assert n_undecided < n_cand  # the shingle join sees a smaller input

    with pytest.raises(ValueError):
        dedup_near(df, max_shingle_df=None, estimate_band=(0.9, 0.3))


def test_decontaminate_drops_eval_overlaps(spark):
    """GPT-3-style benchmark decontamination: docs carrying an 8-gram from
    the eval set are dropped, clean docs survive, and the report counts
    distinct shared shingles."""
    from pbx_ds_ocr_server_spark.operators.dedup import (
        contamination_report,
        decontaminate,
    )

    eval_q = "what is the capital of france and when was it founded there"
    train = [
        (1, "some clean document about completely unrelated matters here today"),
        (2, "quiz dump: " + eval_q + " plus padding words"),   # contaminated
        (3, "another clean text with its own private vocabulary set inside"),
        (4, eval_q),                                           # verbatim copy
    ]
    df = spark.createDataFrame(train, "doc_id long, text string")
    ev = spark.createDataFrame([(0, eval_q)], "doc_id long, text string")

    kept = {r.doc_id for r in decontaminate(df, ev, ngram=8).collect()}
    assert kept == {1, 3}
    rep = {r.id: r.n_shared for r in contamination_report(df, ev, ngram=8).collect()}
    assert set(rep) == {2, 4}
    assert rep[4] == len(eval_q.split()) - 7  # all shingles of the verbatim copy
    # a permissive threshold keeps light overlaps
    assert {r.doc_id for r in decontaminate(df, ev, ngram=8, max_shared=100).collect()} == {1, 2, 3, 4}


def test_decontaminate_ignores_blank_rows(spark):
    """An empty/whitespace eval row must not nuke every blank train doc
    through the degenerate '' shingle."""
    from pbx_ds_ocr_server_spark.operators.dedup import decontaminate

    df = spark.createDataFrame(
        [(1, "real content words here in this clean training document today"),
         (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(0, ""), (1, "  ")], "doc_id long, text string")
    kept = {r.doc_id for r in decontaminate(df, ev, ngram=8).collect()}
    assert kept == {1, 2, 3}


# ----------------------------------------------------- ExactSubstr removal
@pytest.fixture(scope="module")
def es_docs(spark):
    rows = [
        (1, "a b c d e f g h unique1 tail one two"),
        # shares a..h with doc 1 AND x..v (9 tokens -> two merged windows)
        # with doc 3; its own prefix2/and survive
        (2, "prefix2 a b c d e f g h and x y z q r s t u v"),
        (3, "x y z q r s t u v solo3 words here"),
        (4, "totally different content nothing shared at all here ok"),
        (5, "short doc"),  # < k tokens: no shingles, passes through whole
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_substr_spans_merge_overlapping_windows(es_docs):
    from pbx_ds_ocr_server_spark.operators.dedup import exact_substr_spans

    spans = {
        (r.doc_id, r.s, r.e)
        for r in exact_substr_spans(es_docs, k=8).collect()
    }
    # doc 2's 9-token run x..v produces two overlapping 8-windows that must
    # merge into ONE extent [11, 19]; a..h sits at [2, 9]
    assert spans == {(1, 1, 8), (2, 2, 9), (2, 11, 19), (3, 1, 9)}


def test_exact_substr_dedup_subtracts_all_occurrences(es_docs):
    from pbx_ds_ocr_server_spark.operators.dedup import exact_substr_dedup

    out = {
        r.doc_id: (r.n_words, r.n_removed, r.text_clean)
        for r in exact_substr_dedup(es_docs, k=8).collect()
    }
    # the canonical pass removes EVERY occurrence (keep-one is exact
    # dedup's job); untouched docs pass through byte-identical
    assert out[1] == (12, 8, "unique1 tail one two")
    assert out[2] == (19, 17, "prefix2 and")
    assert out[3] == (12, 9, "solo3 words here")
    assert out[4] == (9, 0, "totally different content nothing shared at all here ok")
    assert out[5] == (2, 0, "short doc")


def test_exact_substr_full_duplicate_empties_both_copies(spark):
    from pbx_ds_ocr_server_spark.operators.dedup import exact_substr_dedup

    txt = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, txt), (2, txt)], "doc_id int, text string"
    )
    out = {r.doc_id: (r.n_removed, r.text_clean)
           for r in exact_substr_dedup(df, k=8).collect()}
    assert out == {1: (10, ""), 2: (10, "")}


def test_exact_substr_within_doc_repeat_alone_does_not_fire(spark):
    from pbx_ds_ocr_server_spark.operators.dedup import exact_substr_dedup

    # the same 8-gram twice in ONE doc: distinct-doc count is 1, so the
    # cross-document pass must leave it alone (that's repetition_metrics'
    # domain, not ExactSubstr's)
    rep = "a b c d e f g h " * 2 + "tail"
    df = spark.createDataFrame(
        [(1, rep), (2, "nothing in common with the other document at all")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r.n_removed for r in exact_substr_dedup(df, k=8).collect()}
    assert out == {1: 0, 2: 0}


def test_exact_substr_rejects_degenerate_k(es_docs):
    from pbx_ds_ocr_server_spark.operators.dedup import exact_substr_dedup

    with pytest.raises(ValueError):
        exact_substr_dedup(es_docs, k=1)


def test_exact_substr_shuffles_key_on_hash_or_id_only(spark):
    """100 TB guard: every planned shuffle in the ExactSubstr plan must key
    on the shingle hash or the doc id — no all-pairs join, no cartesian,
    no rogue repartitioning (the VERDICT r5 acceptance criterion)."""
    import re

    from pbx_ds_ocr_server_spark.operators.dedup import exact_substr_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = exact_substr_dedup(docs.select("doc_id", "text"), k=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    keys = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert keys, "expected at least one planned shuffle"
    assert set(keys) <= {"h", "id", "doc_id"}, keys


def _exact_substr_py(docs, k=8, min_docs=2):
    """Pure-Python reference: duplicated k-window discovery + union of
    covered positions + subtraction — the oracle for the property test."""
    toks = {i: t.split() for i, t in docs.items()}
    owners = {}
    for i, ws in toks.items():
        for p in range(len(ws) - k + 1):
            owners.setdefault(tuple(ws[p:p + k]), set()).add(i)
    out = {}
    for i, ws in toks.items():
        covered = set()
        for p in range(len(ws) - k + 1):
            if len(owners[tuple(ws[p:p + k])]) >= min_docs:
                covered.update(range(p, p + k))
        kept = [w for j, w in enumerate(ws) if j not in covered]
        out[i] = (len(ws), len(covered), " ".join(kept))
    return out


def test_exact_substr_property_vs_python_reference(spark):
    """Randomized corpora with planted shared runs: the Spark operator
    must agree with the direct Python computation on every doc, under a
    non-default partitioning (partition-invariance rides along)."""
    import random

    rng = random.Random(42)
    vocab = [f"w{j}" for j in range(30)]
    for trial in range(3):
        shared = " ".join(rng.choices(vocab, k=rng.randint(8, 14)))
        docs = {}
        for i in range(12):
            words_ = rng.choices(vocab, k=rng.randint(3, 25))
            if i % 3 == 0:  # plant the shared run at a random position
                pos = rng.randint(0, len(words_))
                words_[pos:pos] = shared.split()
            docs[i] = " ".join(words_)
        want = _exact_substr_py(docs)
        from pbx_ds_ocr_server_spark.operators.dedup import (
            exact_substr_dedup,
        )

        df = spark.createDataFrame(
            list(docs.items()), "doc_id int, text string"
        ).repartition(7)
        got = {
            r.doc_id: (r.n_words, r.n_removed, r.text_clean)
            for r in exact_substr_dedup(df, k=8).collect()
        }
        assert got == want, f"trial {trial}"


def test_lsh_band_bucket_cap_guards_exact_dup_megabuckets(spark):
    """Tenth-review fix: m exact-duplicate docs share EVERY band key, so
    one bucket self-joins to m^2/2 pairs per band with no cap. The
    opt-in max_bucket_df drops such megabuckets before the join (pipeline
    answer: run dedup_exact first, as corpus_curation does)."""
    from pbx_ds_ocr_server_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [(i, "the exact same templated page body repeated") for i in range(12)]
    rows += [(100, "a genuinely different document about spark plans"),
             (101, "a genuinely different document about spark plans!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df)
    uncapped = lsh_candidate_pairs(sigs).count()
    assert uncapped >= 12 * 11 // 2  # the megabucket explodes quadratically
    capped = {(r.a, r.b) for r in lsh_candidate_pairs(sigs, max_bucket_df=5).collect()}
    assert all(a >= 100 for a, _ in capped)  # megabucket gone, real pair kept
    assert (100, 101) in capped


def test_exact_substr_empty_doc_reports_zero_words(spark):
    """Tenth-review fix: ''.split is [''] so empty docs reported n_words=1,
    diverging from token_count's empty-string special case."""
    from pbx_ds_ocr_server_spark.operators.dedup import exact_substr_dedup

    df = spark.createDataFrame(
        [(1, ""), (2, "some real words here")], "doc_id long, text string"
    )
    out = {r.doc_id: r.n_words for r in exact_substr_dedup(df, k=8).collect()}
    assert out == {1: 0, 2: 4}


def test_lsh_bucket_null_and_ragged_embeddings_bucket_to_zero(spark):
    """NULL or wrong-length embeddings bucket to 0 rather than failing the
    stage: the fold is NULL and ``when(dot > 0)`` falls through."""
    from pbx_ds_ocr_server_spark.operators.similarity import with_lsh_bucket

    rows = [
        (1, [1.0, -2.0, 0.5, 3.0]),
        (2, None),
        (3, [1.0, 2.0]),  # ragged: wrong dims
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.bucket
           for r in with_lsh_bucket(df, dims=4).collect()}
    assert got[2] == 0 and got[3] == 0


def test_with_lsh_bucket_empty_frame_raises_diagnostic(spark):
    from pbx_ds_ocr_server_spark.operators.similarity import with_lsh_bucket

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="pass dims"):
        with_lsh_bucket(empty)


def test_kmeans_empty_frame_raises_diagnostic(spark):
    from pbx_ds_ocr_server_spark.operators.kmeans import kmeans_fit

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty frame"):
        kmeans_fit(empty, k=4)
