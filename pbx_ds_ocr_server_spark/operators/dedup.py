"""Deduplication operators for large-scale training-data pipelines.

All built from relational primitives so Catalyst handles distribution:
  * exact          — md5-fingerprint groupBy (map-side partial agg for free)
  * MinHash + LSH  — shingle-set min-hashes → band buckets → bucket
                     self-join (candidate pairs only; never all-pairs)
  * n-gram Jaccard — shingle explode + equi-join on shingle → intersection
                     counts vs set sizes
  * SimHash        — 16-bit near-dup signature (functions/text.simhash16)
  * embedding cosine — exact pair scoring, intended to run per LSH bucket

Scale notes: every pairwise operator goes through an equi-join on a bucket or
shingle key — a hash shuffle that AQE can skew-split — instead of a cartesian
product. Hot shingles (stopword-only 3-grams) are the skew risk; callers can
cap shingle document-frequency with ``max_shingle_df``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.caching import materialize
from pbx_ds_ocr_server_spark.functions.text import fingerprint, words
from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions


# ------------------------------------------------------------------ exact
def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-equal (after normalization) documents:
    (fingerprint, keeper=min id, n_copies)."""
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("id").alias("keeper"), F.count("*").alias("n_copies"))
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row (min id) per fingerprint — the classic exact dedup."""
    keep = exact_dup_groups(df, id_col, text_col).select(
        F.col("keeper").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------- minhash
def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """k min-hashes over the distinct n-gram shingle set:
    s_i = min(md5(shingle||'#i')).

    Hex-string min is a valid uniform hash order (md5 is uniform in hex),
    identical across Spark and any ANSI engine — no 64-bit int conversion
    games needed. Shingles (not single words) keep band collisions
    proportional to real content overlap even on small vocabularies.
    """
    # materialize the word array as a COLUMN before shingling: the
    # transform lambda inside shingles() references its input per element,
    # and an inlined words() subtree would re-run the regex normalize +
    # split once per shingle position (O(words²) regex work per doc —
    # measured 2-3× the whole signature wall at sf0.1; round 9). As an
    # attribute reference it is evaluated once per row.
    base = ensure_min_partitions(
        df.select(F.col(id_col).alias("id"), F.col(text_col))
    ).select("id", words(text_col).alias("ws")).select(
        "id", F.explode(shingles(F.col("ws"), ngram)).alias("w")
    )
    aggs = [
        F.min(F.md5(F.concat(F.col("w"), F.lit(f"#{i}")))).alias(f"s{i}")
        for i in range(k)
    ]
    return base.groupBy("id").agg(*aggs)


def banding(
    num_hashes: int, num_bands: int
) -> tuple[tuple[str, ...], ...]:
    """Split signature columns s0..s{k-1} into ``num_bands`` contiguous
    bands of ``rows = num_hashes // num_bands`` hashes each — the standard
    (b × r) LSH operating point. The candidate probability for a pair with
    true Jaccard j is 1 − (1 − j^r)^b, an S-curve with threshold
    ≈ (1/b)^(1/r):

      * k=4,  b=2 × r=2  → threshold ≈ 0.71 (the demo/oracle default)
      * k=64, b=16 × r=4 → threshold ≈ 0.50 (the documented PRODUCTION
        point: ≥0.97 candidate recall at j=0.8, <2% at j=0.2 — measured in
        tests/test_dedup_similarity.py::test_minhash_operating_point_curve)

    More bands/fewer rows moves the threshold down (more candidates, more
    recall); more rows per band sharpens the curve. num_hashes must divide
    evenly into num_bands."""
    if num_hashes % num_bands:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by"
            f" num_bands={num_bands}"
        )
    r = num_hashes // num_bands
    return tuple(
        tuple(f"s{b * r + i}" for i in range(r)) for b in range(num_bands)
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    bands: tuple[tuple[str, ...], ...] = (("s0", "s1"), ("s2", "s3")),
    max_bucket_df: int | None = None,
) -> DataFrame:
    """Docs sharing ANY band (all hashes in the band equal) → candidate pairs
    (a < b, distinct). Standard banding: the self-join key is the band tuple,
    so cost is per-bucket, never all-pairs.

    All bands are melted into one (band_id, key) relation first, so the plan
    is a SINGLE self-join regardless of band count (instead of one join +
    union per band — at n bands that recomputes the signature subplan 2n
    times; melted it is computed twice).

    ``max_bucket_df`` guards the one blow-up mode banding cannot bound on
    its own: EXACT-duplicate (or degenerate short/empty) docs share every
    band key, so one bucket of m identical docs self-joins to m²/2 pair
    rows per band. Buckets with more than this many docs are dropped
    BEFORE the join (same design as ``jaccard_pairs``' mandatory
    ``max_shingle_df``); like that cap it deletes candidate pairs, so it
    is an explicit opt-in, None by default — the intended pipeline runs
    :func:`dedup_exact` first (as ``corpus_curation`` does), after which
    no exact-dup megabucket can exist."""
    melted = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.concat_ws(
                            "|", *[F.col(c) for c in band]
                        ).alias("key"),
                    )
                    for i, band in enumerate(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band_id").alias("band_id"), F.col("bk.key").alias("key"))
    if max_bucket_df is not None:
        hot = (
            melted.groupBy("band_id", "key")
            .agg(F.count("*").alias("bdf"))  # one row per id per band key
            .filter(F.col("bdf") > max_bucket_df)
            .select("band_id", "key")
        )
        melted = melted.join(hot, ["band_id", "key"], "left_anti")
    left = melted.select(
        F.col("id").alias("a"), "band_id", "key"
    )
    right = melted.select(
        F.col("id").alias("b"), "band_id", "key"
    )
    return (
        left.join(right, ["band_id", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


# ------------------------------------------------------------ ngram jaccard
def shingles(text_col: str | Column, n: int = 3) -> Column:
    """Distinct n-word shingles as an array column (built-ins only)."""
    w = words(text_col) if isinstance(text_col, str) else text_col
    return F.array_distinct(
        F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", w)))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ min_jaccard.

    intersection via equi-join on shingle; |A∪B| = |A|+|B|−|A∩B|.
    ``max_shingle_df`` drops shingles appearing in more than that many docs
    (stopword-shingle skew guard). NOTE the cap changes the EMITTED Jaccard
    values, not just recall: sizes and intersections are both computed over
    the cap-filtered shingle sets, so a pair's reported Jaccard is the
    Jaccard of the *rare-shingle subsets* — it can exceed (or fall below)
    the true full-set Jaccard, e.g. two boilerplate-heavy docs whose shared
    rare shingles dominate after hot-shingle removal can clear the
    threshold even though their true Jaccard does not. The default cap is
    ON (1000) because an uncapped run is quadratic in the hottest shingle's
    document frequency ("of the and" with df=d contributes d² join rows)
    and dies at web scale. Pass ``None`` for small, trusted frames where
    exact full-set Jaccard matters.

    The per-doc ``sizes`` relation is deliberately NOT broadcast-hinted: it
    is one row per document (10⁹ rows at corpus scale — a guaranteed OOM as
    a build side); AQE picks broadcast at runtime when it actually fits.
    """
    # fan the narrow (id, text) frame out to full parallelism BEFORE the
    # shingle projection: a 1-row-group input would otherwise explode on one
    # core, and the exchange lets the 4 consumers of `sh` (hot-filter,
    # sizes, both self-join sides) reuse one computation (ReusedExchange)
    narrow = ensure_min_partitions(
        df.select(F.col(id_col).alias("id"), F.col(text_col))
    )
    # two-step projection (round 9): bind the word array as an attribute so
    # the shingle transform doesn't re-run the regex split per shingle
    # position (see minhash_signatures for the measured O(words²) trap)
    base = narrow.select("id", words(text_col).alias("ws")).select(
        "id", shingles(F.col("ws"), n).alias("arr")
    )
    sh = base.select("id", F.explode("arr").alias("sh"))
    if max_shingle_df is not None:
        hot = sh.groupBy("sh").count().filter(F.col("count") > max_shingle_df)
        sh = sh.join(hot.select("sh"), "sh", "left_anti")
        # pin a hash exchange on the join key: the two self-join sides AND
        # the sizes aggregate then read ONE materialized computation of the
        # explode+anti-join subplan (ReusedExchange) instead of three, and
        # the equi-join below needs hashpartitioning(sh) anyway
        sh = sh.repartition("sh")
        sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    else:
        # set sizes straight from the array — no groupBy shuffle needed
        sh = sh.repartition("sh")
        sizes = base.select("id", F.size("arr").cast("bigint").alias("n_sh"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "sh")
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "a", "n_sh": "na"}), "a")
        .join(sizes.withColumnsRenamed({"id": "b", "n_sh": "nb"}), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("a", "b", "jaccard")
    )


def _pair_estimates(sigs: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """(a, b) candidate pairs + per-id signatures → (a, b, est_jaccard):
    matching signature components / k, the classic unbiased estimator
    (P[min-hash agreement] = true Jaccard per component). Two equi-joins
    on id against the (tiny) signature relation — never touches texts.

    Callers pass ``cand = lsh_candidate_pairs(sigs, bands)``: the slim
    band self-join shuffles only (id, band_id, key) at ~50 B/row, and the
    signatures are re-attached here. Round-9 rewrite (the round-8 ×4-scale
    run measured the cost): the previous form CARRIED all 2k signature hex
    columns through the band self-join — ~4 KB/row over a
    |docs|×bands×2 relation at the k=64 production point, 57% of the whole
    estimate-tier wall at ×4 scale. The signature AGGREGATION's exchange
    (hashpartitioning(id) under the groupBy) is planned identically in all
    its consumers, so AQE reuses ONE materialization of the expensive
    shingle-explode map side (ReusedExchange — pinned by
    tests/test_plans.py::test_estimate_tier_reuses_signature_exchange);
    only the cheap final-merge aggregation re-runs per consumer. The
    per-side joins need no extra shuffle of the signature relation either:
    its groupBy partitioning (id) already satisfies the join keys (a / b),
    so only the (small) candidate-pair relation is re-shuffled."""
    xa = sigs.select(
        F.col("id").alias("a"),
        *[F.col(f"s{i}").alias(f"xa{i}") for i in range(k)],
    )
    yb = sigs.select(
        F.col("id").alias("b"),
        *[F.col(f"s{i}").alias(f"yb{i}") for i in range(k)],
    )
    matches = sum(
        F.when(F.col(f"xa{i}") == F.col(f"yb{i}"), 1).otherwise(0)
        for i in range(k)
    )
    return (
        cand.join(xa, "a")
        .join(yb, "b")
        .withColumn("est_jaccard", F.round(matches / F.lit(float(k)), 6))
        .select("a", "b", "est_jaccard")
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    num_bands: int = 2,
) -> DataFrame:
    """Jaccard ESTIMATE for LSH candidate pairs straight from the MinHash
    signatures. The cheap middle tier between candidate generation and
    exact verification: at web scale you estimate from the (tiny)
    signatures first and run the shingle self-join ONLY on pairs the
    estimate can't decide — the payload texts are never touched here.
    → (a, b, est_jaccard)."""
    sigs = minhash_signatures(df, id_col, text_col, k=k)
    return _pair_estimates(
        sigs, lsh_candidate_pairs(sigs, bands=banding(k, num_bands)), k
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_para: int = 10,
    max_doc_freq: int = 1,
) -> DataFrame:
    """Cross-document paragraph dedup (the CCNet-style boilerplate pass):
    split each document into paragraphs, drop every paragraph whose hash
    appears in MORE than ``max_doc_freq`` distinct documents (cookie
    banners, nav footers, "subscribe" blocks — the text that survives
    per-document dedup because every copy lives in a different doc), and
    reassemble the survivors in original order → (id, text_dedup).

    Paragraphs here are fixed ``words_per_para``-word chunks of the
    normalized text (the synthetic corpus carries no newlines; a real
    pipeline splits on '\\n' — swap the chunk expression, the plan shape is
    identical). Plan: explode → one hash aggregate for document frequency
    (map-side combined) → hash anti-join on the paragraph hash (the hot set
    is tiny — AQE broadcasts it) → per-doc ordered reassembly. Every
    shuffle keys on (hash) or (id): AQE-skew-splittable, no all-pairs
    anywhere, ~3 narrow shuffles at any corpus size."""
    wpp = int(words_per_para)
    base = ensure_min_partitions(
        df.select(F.col(id_col).alias("id"), F.col(text_col))
    ).select("id", words(text_col).alias("ws"))
    chunk_expr = (
        f"transform(sequence(1, greatest(cast(ceil(size(ws)/{wpp}.0) as int),"
        f" 1)), i -> concat_ws(' ', slice(ws, (i-1)*{wpp}+1, {wpp})))"
    )
    paras = base.select(
        "id", F.posexplode(F.expr(chunk_expr)).alias("pos", "para")
    ).withColumn("h", F.md5("para"))
    # NOT pinned with repartition("h") (round-9 measurement): the hot set
    # is tiny and AQE BROADCASTS the anti-join, so the paras relation never
    # shuffles today — a pin would add a full-width shuffle (including the
    # para strings) just to save one explode evaluation, measured ~0.5 s
    # slower at sf0.1 (contrast exact_substr_spans, where the reused
    # exchange is no wider than the aggregate's partial rows)
    hot = (
        paras.groupBy("h")
        .agg(F.countDistinct("id").alias("doc_freq"))
        .filter(F.col("doc_freq") > max_doc_freq)
        .select("h")
    )
    keep = paras.join(hot, "h", "left_anti")
    rebuilt = keep.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(struct(pos, para))),"
                " p -> p.para)"
            ),
        ).alias("text_dedup")
    )
    return (
        base.select("id")
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def contamination_report(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    ngram: int = 8,
) -> DataFrame:
    """Per-training-document benchmark-contamination counts: (id, n_shared)
    where n_shared = distinct ``ngram``-word shingles the document shares
    with ANY eval-set document. The audit half of :func:`decontaminate`.

    The GPT-3/PaLM-appendix shape (8-13 gram overlap against eval sets).
    Plan: explode the train side to (id, shingle); the eval side collapses
    to its DISTINCT shingle set, which is benchmark-sized by this
    function's contract (thousands of docs) and is broadcast-HINTED — an
    unhinted join would plan sort-merge first and materialize the whole
    exploded train relation to shuffle files before AQE could flip it.
    Only documents with ≥1 shared shingle appear in the output.

    Limitation (pick ``ngram`` accordingly): an eval row SHORTER than
    ``ngram`` words participates only as its whole-text shingle — it
    matches an identical short training document, NOT its containment
    inside a longer one, exactly like the published n-gram convention.
    Choose ``ngram`` ≤ the shortest meaningful eval text. Empty /
    whitespace-only rows on either side are ignored (their degenerate ''
    shingle would otherwise cross-join every blank train doc to every
    blank eval row)."""
    tr = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("id"), words(text_col).alias("ws")
    ).select(
        "id",
        F.explode(shingles(F.col("ws"), ngram)).alias("sh"),
    ).filter(F.col("sh") != "")
    ev = (
        eval_df.select(words(eval_text_col).alias("ws"))
        .select(F.explode(shingles(F.col("ws"), ngram)).alias("sh"))
        .filter(F.col("sh") != "")
        .distinct()
    )
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("id")
        .agg(F.countDistinct("sh").alias("n_shared"))
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    ngram: int = 8,
    max_shared: int = 0,
) -> DataFrame:
    """Benchmark decontamination: drop every training document sharing
    MORE than ``max_shared`` distinct ``ngram``-word shingles with the
    eval set (default 0 = any overlap contaminates — the conservative
    published convention; raise it to tolerate boilerplate collisions).
    Returns the kept rows of ``df`` unchanged (left-anti join on the
    contaminated id set from :func:`contamination_report`)."""
    bad = (
        contamination_report(
            df, eval_df, id_col, text_col, eval_text_col, ngram
        )
        .filter(F.col("n_shared") > max_shared)
        .select(F.col("id").alias(id_col))
    )
    return df.join(bad, id_col, "left_anti")


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    window: int = 4,
) -> DataFrame:
    """MOSS-style winnowing document fingerprints.

    Ordered n-gram shingles → md5 per shingle → sliding window of ``window``
    hashes → per-window minimum → the distinct set of minima is the
    fingerprint set (guaranteed to share members for documents sharing runs
    of ≥ window+ngram-1 words). Output: (id, n_fps, digest) where digest =
    md5 of the sorted concatenated fingerprint set.

    Pure window/agg composition — one shuffle on id, no UDF; mirrors 1:1
    into ANSI window SQL for the oracle.
    """
    from pyspark.sql import Window as W

    df = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        # bind the word array as an attribute first — an inlined words()
        # subtree inside the transform lambda re-runs the regex split per
        # window position (O(words²); see minhash_signatures, round 9)
        F.col(id_col).alias("id"), words(text_col).alias("ws")
    )
    w = F.col("ws")
    ordered = F.when(
        F.size(w) >= ngram,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - ngram),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, ngram)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    sh = df.select(
        "id", F.posexplode(ordered).alias("i", "s")
    ).withColumn("h", F.md5("s"))
    counts = W.partitionBy("id")
    win = W.partitionBy("id").orderBy("i").rowsBetween(0, window - 1)
    fps = (
        sh.withColumn("n_sh", F.count("*").over(counts))
        .withColumn("fp", F.min("h").over(win))
        .filter(F.col("i") <= F.greatest(F.col("n_sh") - window, F.lit(0)))
    )
    return fps.groupBy("id").agg(
        F.countDistinct("fp").alias("n_fps"),
        F.md5(F.concat_ws("", F.sort_array(F.collect_set("fp")))).alias(
            "digest"
        ),
    ).withColumnRenamed("id", id_col)


def connected_min_label(
    pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components over an (a, b) edge list → (id, label) where
    ``label`` is the component's minimum id.

    Iterative min-label propagation: each round every vertex takes the
    minimum of its own label and its neighbors' labels; converged when no
    label shrinks. The minimum travels one hop per round, so rounds needed
    = component diameter; near-dup components are tiny cliques/chains in
    practice. The loop is driver-bounded with a per-round checkpoint so the
    plan never snowballs, and RAISES if ``max_iter`` rounds pass without
    convergence — silently-wrong components would diverge from the exact
    transitive-closure oracle. This is the canonical Spark
    connected-components shape (GraphFrames' CC is the same agg without the
    library).

    Checkpoint durability follows :func:`caching.materialize`: with a
    checkpoint dir set, executor loss mid-loop recovers from storage; with
    none, rounds use executor-held blocks (no fault tolerance — fine in
    local mode, set a checkpoint dir on a real cluster)."""
    # checkpoint the (symmetrized) edge list ONCE: it is re-scanned every
    # round, and the caller's `pairs` is typically the most expensive plan
    # in this module (LSH candidates + exact-Jaccard verify in
    # dedup_near(transitive=True)) — without this, each round's count()
    # action re-ran that whole subtree twice (tenth-review fix)
    edges = materialize(
        pairs.select("a", "b").unionByName(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    labels = materialize(
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy(edges["a"].alias("id2"))
            .agg(F.min("label").alias("nlabel"))
        )
        upd = labels.join(neigh, labels["id"] == neigh["id2"], "left").select(
            labels["id"],
            labels["label"].alias("old"),
            F.least(
                labels["label"], F.coalesce(F.col("nlabel"), labels["label"])
            ).alias("label"),
        )
        upd = materialize(upd)
        changed = upd.filter(F.col("label") < F.col("old")).count()
        labels = upd.select("id", "label")
        if changed == 0:
            return labels
    raise ValueError(
        f"connected_min_label did not converge in max_iter={max_iter} rounds"
        " (a component diameter exceeds it); raise max_iter"
    )


_REQUIRED = object()  # sentinel: dedup_near's cap must be an explicit choice


def dedup_near(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.8,
    max_shingle_df: int | None | object = _REQUIRED,
    transitive: bool = False,
    num_hashes: int = 4,
    num_bands: int = 2,
    estimate_band: tuple[float, float] | None = None,
) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH candidates → exact Jaccard verify
    → connected keepers (min id wins per duplicate pair chain).

    ``max_shingle_df`` has NO default here (unlike :func:`jaccard_pairs`):
    this operator DELETES rows, and the cap changes which pairs verify (the
    emitted Jaccard is over cap-filtered shingle sets — see jaccard_pairs).
    Callers must choose: an int (scale-safe, cap-filtered verification) or
    ``None`` (exact full-set Jaccard; quadratic in the hottest shingle —
    small trusted frames only).

    The standard web-scale composition: candidate generation is bucketed
    (never all-pairs), verification touches only candidates, and the final
    keep-set is a left-anti join.

    ``(num_hashes, num_bands)`` set the LSH operating point (see
    :func:`banding`): the default (4, 2) is the demo/oracle point; the
    documented production point at 10⁹ docs is ``num_hashes=64,
    num_bands=16`` (16 bands × 4 rows — candidate-probability threshold
    ≈ 0.5 for a 0.8 dedup threshold, measured recall/candidate-rate curve
    in tests).

    ``estimate_band=(lo, hi)`` turns on the signature-estimate middle tier:
    candidate pairs whose matching-component estimate is ≥ hi are accepted
    as duplicates WITHOUT re-reading the texts, pairs with estimate < lo
    are dropped, and only the undecidable band pays for the exact shingle
    self-join. At a production operating point (k=64) the estimator's
    standard error is ≈ √(j(1−j)/64) ≈ 0.06, so e.g. (0.5, 0.95) keeps the
    exact tier to a thin slice. ``None`` (default) exact-verifies every
    candidate — the behavior the hash-gated oracle queries pin. NOTE the
    accepted tier trades exactness for cost: a pair whose true (cap-
    filtered) Jaccard is below ``min_jaccard`` but whose k-sample estimate
    clears ``hi`` is deleted anyway — at k=64 and hi=0.95 that is a
    >2.5σ-upward outlier of a j<0.8 pair; choose hi accordingly. With
    ``transitive=True`` the risk AMPLIFIES beyond that single false
    delete: accepted pairs feed connected components unverified, so ONE
    ≥hi estimator outlier can bridge two otherwise-separate components and
    delete every non-min doc of the merged component. Pipelines that
    cannot tolerate that amplification should pair ``estimate_band`` with
    ``transitive=False`` (one-hop: an outlier deletes at most its own
    larger endpoint) or reserve hi for genuinely unambiguous estimates
    (e.g. 1.0 at k=64).

    ``transitive=False`` (default): one-hop — any id that is the larger
    member of a verified pair is dropped. A hub document near two others
    that are NOT near each other (A≈B≈C, A≉C) keeps both endpoints.
    ``transitive=True``: full connected components over the verified pairs
    (iterative min-label, :func:`connected_min_label`) — exactly one keeper
    (the min id) per component, so chain dups fold too."""
    if max_shingle_df is _REQUIRED:
        raise TypeError(
            "dedup_near requires an explicit max_shingle_df: an int caps"
            " hot-shingle document frequency (scale-safe; verification"
            " Jaccard is then over cap-filtered shingle sets), None keeps"
            " exact full-set Jaccard (quadratic in the hottest shingle —"
            " small trusted frames only). This operator deletes rows, so"
            " the trade-off must be the caller's choice."
        )
    sigs = minhash_signatures(df, id_col, text_col, k=num_hashes)
    bands = banding(num_hashes, num_bands)
    accepted = None
    if estimate_band is not None:
        lo, hi = estimate_band
        if not (0.0 <= lo <= hi <= 1.0):
            raise ValueError(f"estimate_band must satisfy 0 ≤ lo ≤ hi ≤ 1, got {estimate_band}")
        # materialize the (small) estimate rows ONCE: accepted, the exact-
        # tier cand, cand_ids (both union sides) and the verified semi-join
        # all re-scan this frontier — without the checkpoint each consumer
        # re-executes the band-join/estimate stages (the heavy exchanges
        # below them are AQE-reused, but the join stages are not; round 9)
        est = materialize(_pair_estimates(
            sigs, lsh_candidate_pairs(sigs, bands=bands), num_hashes
        ))
        accepted = est.filter(F.col("est_jaccard") >= hi).select("a", "b")
        cand = est.filter(
            (F.col("est_jaccard") >= lo) & (F.col("est_jaccard") < hi)
        ).select("a", "b")
    else:
        # same re-scan argument: cand feeds cand_ids (twice) + the
        # verified semi-join
        cand = materialize(lsh_candidate_pairs(sigs, bands=bands))
    # verify candidates with exact jaccard (restricted via semi joins)
    cand_ids = cand.select(F.col("a").alias("id")).unionByName(
        cand.select(F.col("b").alias("id"))
    ).distinct()
    verified = jaccard_pairs(
        df.join(cand_ids.withColumnRenamed("id", id_col), id_col, "left_semi"),
        id_col,
        text_col,
        min_jaccard=min_jaccard,
        max_shingle_df=max_shingle_df,
    ).join(cand, ["a", "b"], "left_semi")
    if accepted is not None:
        verified = verified.select("a", "b").unionByName(accepted).distinct()
    if transitive:
        labels = connected_min_label(verified)
        losers = labels.filter(F.col("label") != F.col("id")).select(
            F.col("id").alias(id_col)
        )
    else:
        # losers: any id appearing as the larger member of a verified pair
        losers = verified.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash Hamming distance, banded so it is
    NEVER all-pairs: the signature is four 16-bit bands
    (functions/text.simhash_bands_table); by pigeonhole any pair within
    Hamming ≤ 3 agrees EXACTLY on ≥1 band, so a per-band equi-join
    generates a complete candidate set and the exact per-band
    ``bit_count(xor)`` sum verifies only candidates — the Manku et al.
    (WWW'07) web-dedup shape. 16-bit band keys give 65536 buckets: at 10⁹
    docs a bucket holds ~15k docs, so candidates are ~10⁻⁶ of all pairs
    (a 16-bit TOTAL signature saturates there — that was the round-2
    first cut). Hash-shuffled on (band, key), AQE-skew-splittable."""
    from pbx_ds_ocr_server_spark.functions.text import simhash_bands_table

    sig = simhash_bands_table(df, id_col, text_col).select(
        F.col(id_col).alias("id"), "s0", "s1", "s2", "s3"
    )
    melted = sig.select(
        "id",
        "s0",
        "s1",
        "s2",
        "s3",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.col(f"s{j}").alias("key"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("bk"),
    ).select(
        "id", "s0", "s1", "s2", "s3",
        F.col("bk.band_id").alias("band_id"),
        F.col("bk.key").alias("key"),
    )
    x = melted.select(
        F.col("id").alias("a"),
        *[F.col(f"s{j}").alias(f"xa{j}") for j in range(4)],
        "band_id",
        "key",
    )
    y = melted.select(
        F.col("id").alias("b"),
        *[F.col(f"s{j}").alias(f"yb{j}") for j in range(4)],
        "band_id",
        "key",
    )
    hamming = sum(
        F.expr(f"bit_count(xa{j} ^ yb{j})") for j in range(4)
    ).cast("bigint")
    return (
        x.join(y, ["band_id", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "xa0", "xa1", "xa2", "xa3", "yb0", "yb1", "yb2", "yb3")
        .distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ------------------------------------------------------------- embeddings
def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (JVM-side fold)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.999,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact cosine near-dup pairs — O(n²) cartesian within the given frame.

    This is the small-frame/per-bucket primitive, NOT the corpus entry
    point: ``max_rows`` (default 100k) refuses frames where the cartesian
    would be ≥10¹⁰ pairs; use :func:`embedding_neardup_lsh` for full-corpus
    near-dedup. Pass ``max_rows=None`` only when the caller already bounded
    the frame (e.g. one LSH bucket)."""
    if max_rows is not None:
        n = df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"embedding_neardup_pairs is all-pairs O(n²) and the input"
                f" exceeds max_rows={max_rows}; use embedding_neardup_lsh()"
                " for corpus-scale near-dedup, or pass max_rows=None for a"
                " frame you know is bounded (one LSH bucket)"
            )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    x = df.select(F.col(id_col).alias("a"), v.alias("va"))
    y = df.select(F.col(id_col).alias("b"), v.alias("vb"))
    return (
        x.crossJoin(y)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def embedding_neardup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.999,
    n_planes: int = 8,
    dims: int | None = None,
) -> DataFrame:
    """Corpus-scale embedding near-dedup: hyperplane-LSH bucketing →
    Hamming-≤1 multiprobe candidate join → exact cosine verify.

    The web-scale shape: every vector lands in one of 2^n_planes sign
    buckets (operators/similarity.lsh_bucket — deterministic md5
    hyperplanes, so the bucketing itself mirrors into ANSI SQL). Each
    vector then PROBES its own bucket plus the n_planes buckets at Hamming
    distance 1 (one sign bit flipped — where a true near-duplicate most
    likely lands when a single dot product straddles zero). Candidates are
    an equi-join on (probe = bucket): per-bucket cost, hash-shuffled, AQE
    skew-splittable — never an all-pairs cartesian. Exact cosine runs only
    on candidates.

    Recall: pairs whose buckets differ in ≥2 bits are missed — at
    threshold≈1 the two sign vectors can disagree on a bit only where the
    dot product is ~0, so ≥2 simultaneous straddles is rare; raise recall
    with fewer planes or accept the cost of more probes. Cost: n_planes+1
    probe rows per vector, candidate count ≈ Σ_bucket n_b·(n_b+probed)/2.

    Buckets come from similarity.with_lsh_bucket: a sequential JVM fold
    whose summation ORDER matches the ANSI-SQL mirror bit-for-bit, so the
    hash-gated driver query is exact by construction.
    """
    # lazy import: similarity.py imports cosine() from this module
    from pbx_ds_ocr_server_spark.operators.similarity import with_lsh_bucket

    # materialize the bucketed relation ONCE: three consumers re-scan it
    # (probes, the id2 join side, va/vb) and the bucket computation —
    # n_planes fold dot products per row — would otherwise run per
    # consumer (round 9). The checkpoint holds (id, vec, bucket) in
    # executor storage — the standard bucketed-frontier materialization.
    b = materialize(
        with_lsh_bucket(df, vec_col, n_planes, dims).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "bucket"
        )
    )
    probes = b.select(
        "id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(n_planes)
                ],
            )
        ).alias("probe"),
    )
    cand = (
        probes.join(
            b.select(F.col("id").alias("id2"), "bucket"),
            probes["probe"] == F.col("bucket"),
        )
        .filter(F.col("id") < F.col("id2"))
        .select(F.col("id").alias("a"), F.col("id2").alias("b"))
        .distinct()
    )
    vd = F.transform(F.col("v"), lambda x: x.cast("double"))
    va = b.select(F.col("id").alias("a"), vd.alias("va"))
    vb = b.select(F.col("id").alias("b"), vd.alias("vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


# ----------------------------------------------------- ExactSubstr removal
def _tokenized_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, ws): the fanned-out tokenized frame shared by span discovery
    and subtraction — built ONCE per exact_substr_dedup call so the two
    consumers share lineage (the fan-out exchange is reused; rebuilding it
    independently would tokenize the corpus twice)."""
    return ensure_min_partitions(
        df.select(F.col(id_col).alias("id"), F.col(text_col))
    ).select("id", words(text_col).alias("ws"))


def exact_substr_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    _base: DataFrame | None = None,
) -> DataFrame:
    """Merged duplicated-span extents per document — the discovery half of
    the Lee et al. "Deduplicating Training Data Makes Language Models
    Better" ExactSubstr pass (the RefinedWeb recipe runs the same tier).
    A span is duplicated when a ``k``-token window of the normalized text
    occurs verbatim in at least ``min_docs`` DISTINCT documents; every
    occurrence is marked (the canonical pass removes all copies — keeping
    one is exact dedup's job, not this tier's).

    Returns (id, s, e): 1-based inclusive token extents, overlapping
    extents merged per document (gaps-and-islands over a window ordered by
    start). Deliberately BUCKETED, never suffix-array-global: the suffix
    array the paper builds is a single-machine structure; the distributed
    equivalent is the k-shingle hash group-by below, which finds exactly
    the same ≥k-token shared spans (any shared run of length L ≥ k is
    covered by its L−k+1 shared k-windows, which merge back into one
    extent here).

    Plan shape / scale: every shuffle keys on the shingle hash or the doc
    id — shingle positions → groupBy(h) for the distinct-doc count (map-side
    combined) → equi-join positions⋈dup-hashes on h (AQE-skew-splittable)
    → window + two aggregations all partitioned by id (one exchange,
    reused: HashPartitioning(id) satisfies the (id, gid) grouping). No
    all-pairs join anywhere — unlike pairwise Jaccard, the distinct-doc
    COUNT per hash never explodes on hot shingles, so no df cap is needed
    for correctness (hot boilerplate shingles are exactly the spans the
    pass exists to remove).
    """
    from pyspark.sql.window import Window

    if k < 2:
        raise ValueError("k must be >= 2 (a 1-token window removes words)")
    base = (
        _base if _base is not None
        else _tokenized_base(df, id_col, text_col)
    )
    pos = (
        base.filter(F.size("ws") >= k)
        .select(
            "id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(ws)-{k}+1),"
                    f" i -> md5(concat_ws(' ', slice(ws, i, {k}))))"
                )
            ).alias("p0", "h"),
        )
        .select("id", (F.col("p0") + 1).alias("s"), "h")
    )
    # NOT pinned with repartition("h") (round-9 interleaved A/B): when the
    # dup-hash set fits a broadcast (AQE decides), the hits join never
    # shuffles `pos` at all and the pin would force a full (id, s, h)
    # shuffle just to save one posexplode+md5 evaluation — measured 0.7 s
    # slower at sf0.1. When dup outgrows broadcast, the join plans its own
    # hash exchange anyway, so the unpinned form stays scale-safe (two
    # bounded map-side evaluations, shuffles only where the join needs
    # them); contrast jaccard_pairs, whose FOUR consumers justify its pin.
    dup = (
        pos.groupBy("h")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    hits = pos.join(dup, "h").select(
        "id", "s", (F.col("s") + k - 1).alias("e")
    )
    w_prev = (
        Window.partitionBy("id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = (
        hits.withColumn("pe", F.max("e").over(w_prev))
        .withColumn(
            "new_isl",
            F.when(
                F.col("pe").isNull() | (F.col("s") > F.col("pe")), 1
            ).otherwise(0),
        )
        .withColumn("gid", F.sum("new_isl").over(w_run))
    )
    return isl.groupBy("id", "gid").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    ).select(F.col("id").alias(id_col), "s", "e")


def exact_substr_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """ExactSubstr duplicate-span REMOVAL: subtract every merged extent
    from :func:`exact_substr_spans` out of its document and reassemble the
    survivors in order. Returns (id, n_words, n_removed, text_clean) —
    n_removed is the size of the union of covered token positions (extents
    are disjoint after merging, so a plain sum is exact).

    The subtraction is a per-document JVM array filter over the collected
    extents (O(tokens × extents) with extents small by construction —
    merging collapses every run of overlapping windows to one row); docs
    with no duplicated span pass through whole via the left join."""
    base = _tokenized_base(df, id_col, text_col)
    spans = exact_substr_spans(
        df, id_col, text_col, k=k, min_docs=min_docs, _base=base
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("n_removed"),
    )
    return (
        base.join(
            per_doc.withColumnRenamed(id_col, "id"), "id", "left"
        )
        .select(
            F.col("id").alias(id_col),
            # empty/whitespace-only text splits to [''] (size 1); report 0
            # like functions/text.token_count so n_removed/n_words stats
            # don't count phantom words on blank docs (tenth-review fix)
            F.when(
                (F.size("ws") == 1) & (F.element_at("ws", 1) == ""),
                F.lit(0),
            )
            .otherwise(F.size("ws"))
            .cast("bigint")
            .alias("n_words"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias(
                "n_removed"
            ),
            F.when(
                F.col("spans").isNull(), F.concat_ws(" ", F.col("ws"))
            )
            .otherwise(
                F.concat_ws(
                    " ",
                    F.expr(
                        "filter(ws, (w, i) -> not exists(spans,"
                        " sp -> i+1 >= sp.s AND i+1 <= sp.e))"
                    ),
                )
            )
            .alias("text_clean"),
        )
    )
