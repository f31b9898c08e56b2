"""Resumable checkpointed job: crash injection, resume, no double-writes
(K2/K3, SURVEY.md §2.6; north rule 'resumable from checkpoint')."""

import pytest
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.operators.extract import extract
from pbx_ds_ocr_server_spark.sources.writer import (
    CheckpointManifest,
    read_lineage,
    read_output,
    run_extract_job,
    stage_input,
)

N_BUCKETS = 4


@pytest.fixture(scope="module")
def outdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("job_out"))


@pytest.fixture(scope="module")
def crashed_then_resumed(spark, corpus, outdir):
    first = run_extract_job(
        spark, corpus, outdir, run_id="r1", n_buckets=N_BUCKETS, fail_after=2
    )
    second = run_extract_job(
        spark, corpus, outdir, run_id="r2", n_buckets=N_BUCKETS
    )
    return first, second


def test_crash_leaves_partial_manifest(crashed_then_resumed, outdir):
    first, _ = crashed_then_resumed
    assert len(first.buckets_done) == 2


def test_resume_skips_completed_buckets(crashed_then_resumed):
    first, second = crashed_then_resumed
    assert sorted(second.buckets_skipped) == sorted(first.buckets_done)
    assert len(second.buckets_done) == N_BUCKETS - 2


def test_no_double_writes_and_complete(spark, crashed_then_resumed, corpus, outdir):
    out = read_output(spark, outdir)
    assert out.count() == corpus.count()
    assert out.groupBy("url").count().filter("count > 1").count() == 0


def test_output_matches_direct_extract(spark, crashed_then_resumed, corpus, outdir):
    via_job = read_output(spark, outdir).select("url", "text", "status")
    direct = extract(corpus).select("url", "text", "status")
    assert via_job.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_job).count() == 0


def test_lineage_rows_cover_all_buckets(spark, crashed_then_resumed, outdir):
    lin = read_lineage(spark, outdir)
    assert {r.bucket for r in lin.collect()} == set(range(N_BUCKETS))
    runs = {r.run_id for r in lin.collect()}
    assert runs == {"r1", "r2"}
    # counts are consistent
    tot = lin.agg(F.sum("n_urls")).first()[0]
    assert tot == read_output(spark, outdir).count()


def test_metrics_written_on_completion(spark, crashed_then_resumed, outdir):
    import os

    m = spark.read.parquet(os.path.join(outdir, "_metrics"))
    row = m.orderBy(F.desc("finished_at")).first()
    assert row.docs_per_sec > 0


def test_manifest_corruption_is_tolerated(tmp_path):
    p = tmp_path / "manifest.json"
    p.write_text("{not json")
    m = CheckpointManifest(str(p))
    assert m.completed() == set()
    m.mark(3, 8, "rX")
    assert m.completed() == {3}


def test_rerun_of_complete_job_is_noop(spark, crashed_then_resumed, corpus, outdir):
    third = run_extract_job(spark, corpus, outdir, run_id="r3", n_buckets=N_BUCKETS)
    assert third.buckets_done == []
    assert len(third.buckets_skipped) == N_BUCKETS


def test_restage_with_different_n_buckets_raises(spark, corpus, tmp_path):
    out = str(tmp_path / "mismatch")
    run_extract_job(spark, corpus, out, run_id="rA", n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extract_job(spark, corpus, out, run_id="rB", n_buckets=2)


def test_concurrent_buckets_complete_and_match(spark, corpus, tmp_path):
    # every bucket runs at once (4 buckets < defaultParallelism): all land,
    # no double-writes, lineage complete — only the manifest update is
    # serialized, and durability holds
    out = str(tmp_path / "conc")
    res = run_extract_job(spark, corpus, out, run_id="rc", n_buckets=4)
    assert sorted(res.buckets_done) == list(range(4))
    got = read_output(spark, out)
    assert got.count() == corpus.count()
    assert got.groupBy("url").count().filter("count > 1").count() == 0
    lin = read_lineage(spark, out)
    assert {r.bucket for r in lin.collect()} == set(range(4))


def test_write_table_parquet_and_iceberg_seam(spark, tmp_path):
    from pbx_ds_ocr_server_spark.sources.writer import write_table

    df = spark.range(10).withColumnRenamed("id", "x")
    out = str(tmp_path / "wt")
    write_table(df, out, fmt="parquet", mode="overwrite")
    assert spark.read.parquet(out).count() == 10
    # jar absent in this sandbox: the error must be ACTIONABLE — name the
    # runtime artifact to add and point at the catalog-config recipe
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime") as ei:
        write_table(df, "nocat.db.t", fmt="iceberg")
    assert "spark.sql.catalog" in str(ei.value)
    with pytest.raises(ValueError, match="unknown sink format"):
        write_table(df, out, fmt="orcish")


def _has_iceberg_runtime(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def test_write_table_iceberg_e2e_append_readback(spark, tmp_path):
    """Runs ONLY when the iceberg-spark-runtime jar is on the classpath
    (absent in this sandbox — the seam test above pins the actionable
    error instead): real createOrReplace + append + read-back + snapshot
    count through the same write_table seam, no code changes."""
    if not _has_iceberg_runtime(spark):
        pytest.skip("iceberg-spark-runtime jar not on the classpath")
    from pbx_ds_ocr_server_spark.sources.writer import write_table

    spark.conf.set(
        "spark.sql.catalog.lakeci", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.lakeci.type", "hadoop")
    spark.conf.set(
        "spark.sql.catalog.lakeci.warehouse", str(tmp_path / "warehouse")
    )
    df = spark.range(5).withColumnRenamed("id", "x")
    write_table(df, "lakeci.db.t", fmt="iceberg", mode="replace")
    write_table(df, "lakeci.db.t", fmt="iceberg", mode="append")
    assert spark.table("lakeci.db.t").count() == 10
    snaps = spark.sql(
        "SELECT count(*) FROM lakeci.db.t.snapshots"
    ).first()[0]
    assert snaps >= 2  # one per commit — expiry would prune these


def test_noop_rerun_appends_no_metrics_row(spark, crashed_then_resumed, corpus, outdir):
    """Tenth-review fix: re-running an already-complete job must not
    append a zero-docs row to _metrics on every invocation."""
    import os

    metrics_dir = os.path.join(outdir, "_metrics")
    before = spark.read.parquet(metrics_dir).count()
    run_extract_job(spark, corpus, outdir, run_id="rX", n_buckets=N_BUCKETS)
    assert spark.read.parquet(metrics_dir).count() == before


def test_corrupt_staging_marker_raises_diagnostic(spark, corpus, tmp_path):
    """Tenth-review fix: a garbage marker gets a diagnostic, and a torn
    plausible-but-smaller count is caught against the bucket layout
    before any resume trusts it."""
    import os

    out = str(tmp_path / "corrupt_marker")
    run_extract_job(spark, corpus, out, run_id="r1", n_buckets=4)
    marker = os.path.join(out, "staging", "_STAGED")
    for bad in ("not-a-number", ""):  # the writer never leaves either
        with open(marker, "w", encoding="utf-8") as f:
            f.write(bad)
        with pytest.raises(ValueError, match="corrupt"):
            run_extract_job(spark, corpus, out, run_id="r2", n_buckets=4)
    with open(marker, "w", encoding="utf-8") as f:
        f.write("1")  # torn prefix of a larger legacy count
    with pytest.raises(ValueError, match="corrupt marker"):
        run_extract_job(spark, corpus, out, run_id="r3", n_buckets=1)


def test_staging_spreads_hot_host(spark, tmp_path):
    """The staging write is where payloads are salted: 400 urls from ONE
    host (the crawl-clustered worst case) in one input partition must land
    in every bucket, none holding half of them."""
    import os

    rows = [(f"https://hot.example/{i}", b"<p>x</p>") for i in range(400)]
    df = spark.createDataFrame(rows, "url string, html binary").coalesce(1)
    staging = str(tmp_path / "staging")
    stage_input(df, staging, 8)
    dirs = sorted(d for d in os.listdir(staging) if d.startswith("bucket="))
    assert dirs == sorted(f"bucket={k}" for k in range(8))
    sizes = dict(spark.read.parquet(staging).groupBy("bucket").count().collect())
    assert sorted(sizes) == list(range(8))  # every bucket dir holds rows
    assert max(sizes.values()) < 400 * 0.5  # no single hot bucket


def _sync_listeners(spark) -> None:
    # job starts reach the status tracker through the async listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_bucket_runs_no_readback_or_bookkeeping_jobs(spark, corpus, tmp_path, monkeypatch):
    """A bucket's only Spark job is its extract-and-write: status counts are
    observed on the write (no read-back of ``data/bucket=K``) and lineage /
    metrics rows are written without ``createDataFrame``."""
    import os

    from pyspark.sql import SparkSession
    from pyspark.sql.readwriter import DataFrameReader

    out = str(tmp_path / "nojobs")
    run_extract_job(spark, corpus, out, run_id="r0", n_buckets=N_BUCKETS, fail_after=0)

    def no_create(*a, **k):
        raise AssertionError("bookkeeping must not build a DataFrame")

    read_paths: list[str] = []
    parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        read_paths.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(SparkSession, "createDataFrame", no_create)
    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    tracker = spark.sparkContext.statusTracker()
    _sync_listeners(spark)
    before = set(tracker.getJobIdsForGroup())
    res = run_extract_job(spark, corpus, out, run_id="r1", n_buckets=N_BUCKETS)
    _sync_listeners(spark)
    jobs = set(tracker.getJobIdsForGroup()) - before
    monkeypatch.undo()

    assert sorted(res.buckets_done) == list(range(N_BUCKETS))
    # buckets ran at once; the locked manifest update lost none of them
    manifest = CheckpointManifest(os.path.join(out, "manifest.json"))
    assert manifest.completed() == set(range(N_BUCKETS))
    data_dir = os.path.join(out, "data")
    assert not [p for p in read_paths if str(p).startswith(data_dir)]
    # one footer read of the staging table + one write per bucket
    assert len(jobs) <= N_BUCKETS + 1, sorted(jobs)
    assert spark.read.parquet(os.path.join(out, "_metrics")).count() == 1


# the lineage DDL before html_backend was dropped, spelled out: a dir
# written by that runner holds rows of exactly this shape
LINEAGE_V2_SCHEMA = (
    "run_id string, bucket int, n_urls long, n_succeeded long,"
    " n_noop long, n_rejected long, n_failed long,"
    " started_at double, finished_at double, status string, error string,"
    " html_backend string"
)


def _mixed_font_pdf() -> bytes:
    # one font decodes, one loses its codes → succeeded_partial
    stream = b"BT /F1 12 Tf 72 700 Td (readable) Tj /F2 12 Tf 0 -20 Td <0041> Tj ET"
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R /F2 6 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /H >>\nendobj\n"
        b"6 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /C"
        b" /Encoding /Identity-H >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )


@pytest.fixture(scope="module")
def mixed_lineage_run(spark, corpus, tmp_path_factory):
    """A job over the corpus plus partial-text PDFs, with a size cap that
    rejects the largest docs, into a ``_lineage`` dir that already holds a
    row written by Spark under the v2 schema (as earlier versions of the
    runner did: the row a resume into such a dir finds)."""
    import os

    from pbx_ds_ocr_server_spark.config import ExtractConfig

    out = str(tmp_path_factory.mktemp("mixed_lineage"))
    spark.createDataFrame(
        [("old", 99, 1, 1, 0, 0, 0, 0.0, 1.0, "succeeded", None, "fast")],
        LINEAGE_V2_SCHEMA,
    ).coalesce(1).write.parquet(os.path.join(out, "_lineage"))
    partial = spark.createDataFrame(
        [(f"pdf://partial/{i}", _mixed_font_pdf()) for i in range(6)],
        "url string, html binary",
    )
    src = corpus.select("url", "html").unionByName(partial)
    cfg = ExtractConfig(max_bytes=3500)
    run_extract_job(spark, src, out, run_id="mx", cfg=cfg, n_buckets=N_BUCKETS)
    return out


def test_lineage_counts_exact_over_status_mix(spark, mixed_lineage_run):
    """Observed counts per bucket partition n_urls and equal a groupBy of
    that bucket's written output. No input yields ``failed`` (the kernels
    type every malformed input), so n_failed is checked against zero rows."""
    lin = read_lineage(spark, mixed_lineage_run).filter(F.col("run_id") == "mx")
    rows = lin.collect()
    assert sorted(r.bucket for r in rows) == list(range(N_BUCKETS))
    out = read_output(spark, mixed_lineage_run)
    seen = {r.status for r in out.select("status").distinct().collect()}
    assert {
        "succeeded", "succeeded_empty", "succeeded_partial", "succeeded_noop",
        "rejected_size", "rejected_unparseable",
    } <= seen
    by_bucket: dict[int, dict[str, int]] = {}
    for r in out.groupBy("bucket", "status").count().collect():
        by_bucket.setdefault(r.bucket, {})[r.status] = r["count"]
    for r in rows:
        assert r.n_succeeded + r.n_noop + r.n_rejected + r.n_failed == r.n_urls
        got = by_bucket[r.bucket]
        assert r.n_urls == sum(got.values())
        assert r.n_succeeded == sum(
            got.get(s, 0)
            for s in ("succeeded", "succeeded_empty", "succeeded_partial")
        )
        assert r.n_noop == got.get("succeeded_noop", 0)
        assert r.n_rejected == sum(
            v for k, v in got.items() if k.startswith("rejected")
        )
        assert r.n_failed == got.get("failed", 0)


def test_lineage_dir_mixes_spark_and_pyarrow_rows(spark, mixed_lineage_run):
    import os

    from pyspark.sql.types import StructType

    from pbx_ds_ocr_server_spark.sources.writer import LINEAGE_SCHEMA

    lin = read_lineage(spark, mixed_lineage_run)
    # the current fields, then the v2 row's trailing column
    want = StructType.fromDDL(LINEAGE_SCHEMA + ", html_backend string")
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in want
    ]
    rows = lin.collect()
    assert sorted(r.bucket for r in rows) == list(range(N_BUCKETS)) + [99]
    assert {r.bucket: r.html_backend for r in rows if r.html_backend} == {
        99: "fast"
    }
    for sub in ("_lineage", "_metrics"):
        names = os.listdir(os.path.join(mixed_lineage_run, sub))
        # Spark's own checksum files are dot-prefixed too; a temp row is not
        assert not [
            n for n in names if n.startswith(".") and not n.endswith(".crc")
        ], names


def test_failure_before_manifest_mark_redoes_bucket(spark, corpus, tmp_path, monkeypatch):
    """Write-then-status: a bucket whose data and lineage landed but whose
    manifest mark failed is redone on resume, overwriting its own output."""
    out = str(tmp_path / "crash_mark")
    mark = CheckpointManifest.mark

    def failing_mark(self, bucket, n_buckets, run_id):
        if bucket == 1:
            raise RuntimeError("crash before manifest.mark")
        mark(self, bucket, n_buckets, run_id)

    monkeypatch.setattr(CheckpointManifest, "mark", failing_mark)
    with pytest.raises(RuntimeError, match="manifest.mark"):
        run_extract_job(spark, corpus, out, run_id="r1", n_buckets=N_BUCKETS)
    monkeypatch.undo()
    res = run_extract_job(spark, corpus, out, run_id="r2", n_buckets=N_BUCKETS)
    assert res.buckets_done == [1]
    got = read_output(spark, out)
    assert got.count() == corpus.count()
    assert got.groupBy("url").count().filter("count > 1").count() == 0
