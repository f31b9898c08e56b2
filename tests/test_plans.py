"""Physical-plan guarantees that matter at 100 TB (would regress silently):

  * extract_pages and extract: ZERO shuffles — payload bytes never cross
    the wire, and the fused assembly needs no url partitioning
  * the parquet scan reads only (url, html) — column pruning reaches storage
  * the assembly agg is partial+final (map-side combine before the shuffle)
  * a filter on a scannable column reaches the scan as a pushed filter
"""

import pytest
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.operators.extract import extract, extract_pages
from pbx_ds_ocr_server_spark.plans import (
    count_exchanges,
    has_pushed_filters,
    scan_read_schema,
)


@pytest.fixture(scope="module")
def parquet_corpus(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "corpus.parquet")
    corpus.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_extract_pages_has_no_shuffle(parquet_corpus):
    assert count_exchanges(extract_pages(parquet_corpus)) == 0


def test_extract_has_no_shuffle(parquet_corpus):
    # round-9 fused assembly: pages of a doc are born co-located inside the
    # extraction pass, so the whole pipeline needs zero exchanges
    assert count_exchanges(extract(parquet_corpus)) == 0


def test_scan_prunes_to_url_and_html(parquet_corpus):
    schemas = scan_read_schema(extract(parquet_corpus))
    assert schemas and all(
        set(s.split(",")) == {"url:string", "html:binary"} for s in schemas
    )


def test_assembly_agg_is_partial_final(parquet_corpus):
    # the composable page-level path (extract_pages → assemble_documents)
    # keeps its one url shuffle with map-side combine
    from pbx_ds_ocr_server_spark.operators.extract import assemble_documents

    df = assemble_documents(extract_pages(parquet_corpus))
    assert count_exchanges(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_collect_list" in plan  # map-side combine present


def test_filter_pushdown_reaches_scan(parquet_corpus):
    df = parquet_corpus.filter(F.col("url").startswith("https://host1."))
    assert has_pushed_filters(df.select("url"))


def test_jaccard_reuses_shingle_exchange(spark):
    """The hot-filtered shingle relation must be computed once: both
    self-join sides and the sizes aggregate read the pinned hash exchange
    (ReusedExchange), not three recomputations of the explode."""
    from pbx_ds_ocr_server_spark.operators.dedup import jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = jaccard_pairs(docs.select("doc_id", "text"))
    df.collect()  # reuse is an AQE stage-materialization decision
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Reused" in plan  # ReusedExchange / reused shuffle query stage
    assert "CartesianProduct" not in plan


def test_estimate_tier_reuses_signature_exchange(spark):
    """Round-9: the estimate tier joins candidate pairs back to the
    signature relation instead of carrying 2k hex columns through the band
    self-join. That is only a win if the signature aggregation's exchange
    is materialized ONCE and reused by the band-join sides and both
    per-side estimate joins — pin the ReusedExchange so a plan regression
    (e.g. diverging column pruning) cannot silently re-run the expensive
    shingle-explode map side per consumer."""
    from pbx_ds_ocr_server_spark.operators.dedup import (
        minhash_jaccard_estimate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = minhash_jaccard_estimate(docs.select("doc_id", "text"))
    df.collect()  # reuse is an AQE stage-materialization decision
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Reused" in plan
    assert "CartesianProduct" not in plan


def test_hash_sample_predicate_stays_a_filter(spark):
    """hash_sample is a pure predicate — no shuffle, no sample operator."""
    from pbx_ds_ocr_server_spark.functions.text import hash_sample
    from pbx_ds_ocr_server_spark.plans import count_exchanges

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = hash_sample(docs, 0.1).select("doc_id")
    assert count_exchanges(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Sample" not in plan


def test_stratified_sample_prefilter_runs_before_window_exchange(spark):
    """stratified_sample's default ('auto') md5-fraction prefilter must sit
    BELOW the window's hashpartitioning(group) exchange — that filter is the
    entire scale story (without it, 5 language groups over 10⁹ docs = 5
    reducers sorting everything). In the printed plan tree, deeper = earlier,
    so the conv(md5…) filter must appear after the Window/Exchange lines."""
    from pbx_ds_ocr_server_spark.functions.text import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = stratified_sample(docs, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "conv(" in plan  # the md5-fraction prefilter survived planning
    win = plan.index("Window")
    exch = plan.index("Exchange hashpartitioning(lang", win)
    assert plan.index("conv(", exch) > exch  # filter is upstream of the shuffle


def test_sequence_pack_window_partitions_on_bucket_not_global(spark):
    """sequence_pack's running-total window must hash-partition on the md5
    bucket — a global-order window would funnel the whole corpus through
    ONE reducer (the trap this operator exists to avoid)."""
    from pbx_ds_ocr_server_spark.functions.text import sequence_pack

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        sequence_pack(docs, budget=512, n_buckets=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning(bucket" in plan
    assert "Exchange SinglePartition" not in plan


def test_paragraph_dedup_plan_is_bucketed_joins_only(spark):
    from pbx_ds_ocr_server_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        paragraph_dedup(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_narrow_fanout_never_touches_payload_column(spark, corpus, tmp_path_factory):
    """ensure_min_partitions consumers must not pull the html payload into
    their exchange: the extraction plan's only repartition carries (doc_id,
    text)-sized rows."""
    from pbx_ds_ocr_server_spark.corpus import wrapped_docs_df

    path = str(tmp_path_factory.mktemp("fanout") / "docs.parquet")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.mode(
        "overwrite"
    ).parquet(path)
    df = wrapped_docs_df(spark, path, "plain")
    from pbx_ds_ocr_server_spark.plans import scan_read_schema

    schemas = scan_read_schema(df)
    assert schemas and all(
        set(s.split(",")) == {"doc_id:bigint", "text:string"} for s in schemas
    )


def test_contamination_report_broadcasts_eval_shingles(spark):
    """decontamination's eval shingle set is benchmark-sized by contract
    and must be the BROADCAST side — an unhinted join plans sort-merge and
    spills the whole exploded train relation to shuffle files first."""
    from pyspark.sql import functions as F

    from pbx_ds_ocr_server_spark.operators.dedup import contamination_report

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") < 10)
    plan = (
        contamination_report(docs, ev)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_estimate_band_join_carries_no_signature_columns(spark):
    """Round-9 rewrite of the estimate tier: the band self-join must
    shuffle only (id, band_id, key) — the round-8 ×4-scale run measured
    57% of the estimate-tier wall in the 2k hex signature columns the old
    fused form carried through this join. Signatures are re-attached via
    the per-side joins of _pair_estimates instead (whose input reuses the
    signature aggregation's exchange — see
    test_estimate_tier_reuses_signature_exchange). A regression back to
    the wide melt would reintroduce the xa*/yb* aliases below the band
    join."""
    from pbx_ds_ocr_server_spark.operators.dedup import (
        _pair_estimates,
        banding,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    sigs = minhash_signatures(docs)
    plan = _pair_estimates(
        sigs, lsh_candidate_pairs(sigs, bands=banding(4, 2)), 4
    )._jdf.queryExecution().executedPlan().toString()
    import re

    # two-step shape: slim band self-join + the two per-side estimate
    # joins = exactly 3 equi-joins (the wide-melt form had 1); and the
    # signature aliases (xa*/yb*) may appear only in the estimate joins
    # ABOVE the band join, never interleaved with the band-key explode —
    # i.e. no Generate (explode) node outputs a signature alias
    joins = re.findall(
        r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", plan
    )
    assert len(joins) == 3, plan
    for m in re.finditer(r"Generate .*", plan):
        assert "xa0" not in m.group(0) and "yb0" not in m.group(0)
    assert "CartesianProduct" not in plan


def test_hash_sample_mix_stays_shuffle_free(spark):
    """The composed sampling slot (Bernoulli sample + domain mixture) is a
    pure predicate + bounded explode: its physical plan must contain no
    exchange and no join — at 10^12 rows a shuffle here would dwarf the
    sampling work itself."""
    import __spark_entry__ as entry_mod

    plan = (
        entry_mod.queries()["hash_sample_mix"](
            spark, "/root/testdata/sf0.001"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate" in plan  # the bounded rep explode
