"""Micro-batch streaming wrapper.

The reference's queue (``/root/reference/app/services/queue.py:23-149``) is a
work-dispatch buffer, not an event-time stream — so the streaming story here
is one thin wrapper: ``extract_stream``, a file-source ``readStream`` over
incoming page parquet drops, running the SAME ``extract()`` batch composition
per micro-batch via ``foreachBatch`` (exactly-once per micro-batch with the
checkpointed file source; the batch function is pure, so replays are
idempotent modulo output-append semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pbx_ds_ocr_server_spark.config import DEFAULT_CONFIG, ExtractConfig
from pbx_ds_ocr_server_spark.operators.extract import extract

PAGES_INPUT_SCHEMA = "url string, html binary"


def extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream page files from ``input_dir`` → extracted parquet in
    ``output_dir``. ``available_now=True`` drains what exists and stops
    (batch-catchup semantics); False runs continuously."""
    src = (
        spark.readStream.schema(PAGES_INPUT_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            extract(batch_df, cfg)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(output_dir)
        )

    writer = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

