"""Structured Streaming front-end: file-source micro-batches reuse the batch
extract()."""

import pytest
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.streaming.stream import extract_stream


@pytest.fixture(scope="module")
def staged_stream_input(spark, corpus, tmp_path_factory):
    """Corpus written as two separate file drops (two micro-batch waves)."""
    base = tmp_path_factory.mktemp("stream")
    inp = str(base / "in")
    a, b = corpus.select("url", "html").randomSplit([0.5, 0.5], seed=7)
    a.write.mode("append").parquet(inp)
    b.write.mode("append").parquet(inp)
    return base, inp


def test_extract_stream_drains_and_matches(spark, corpus, staged_stream_input):
    base, inp = staged_stream_input
    out = str(base / "out")
    ckpt = str(base / "ckpt")
    q = extract_stream(spark, inp, out, ckpt, available_now=True)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == corpus.count()
    assert got.groupBy("url").count().filter("count > 1").count() == 0
    assert got.select(F.countDistinct("batch_id")).first()[0] >= 1


def test_extract_stream_restart_is_noop(spark, corpus, staged_stream_input):
    """Restarting on the same checkpoint must not reprocess drained files."""
    base, inp = staged_stream_input
    out = str(base / "out")
    ckpt = str(base / "ckpt")
    q = extract_stream(spark, inp, out, ckpt, available_now=True)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == corpus.count()

