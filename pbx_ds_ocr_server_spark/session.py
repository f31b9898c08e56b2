"""SparkSession factory with the scale/skew configuration the north rule
demands (AQE, skew-join handling, bounded Arrow batches).

The reference bounds its work with a queue + VRAM gating
(``/root/reference/app/services/model_manager.py:165-278``); on Spark those
concerns map to scheduler/partition config (SURVEY.md §4), set here once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size: trades python-roundtrip overhead against peak batch
# bytes. 256 measured ~3x faster than 64 on few-KB docs; for corpora with
# multi-MB blobs set spark.sql.execution.arrow.maxRecordsPerBatch to 64-128
# through extra_conf so one batch never holds many giants (skew guard,
# SURVEY.md §4)
ARROW_MAX_RECORDS = 256


def get_spark(
    app_name: str = "pbx-ds-ocr-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(8, cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-plan, skew split, small-partition coalesce
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Allow shuffled-hash joins (round 9, guide §3.1/§9): the pipeline's
        # self-joins key on hash buckets/shingles where per-partition build
        # sides are bounded, so skipping the sort-merge sorts is a measured
        # ~4% win on the heavy dedup slots locally and avoids O(n log n)
        # sorts at scale. AQE may also rewrite SMJ→SHJ when every
        # post-shuffle partition is under 128 MB (conservative vs per-task
        # memory; AQE skew-split still applies first). preferSortMergeJoin
        # =false also drives STATIC planning of every join: a side whose
        # ESTIMATED size is under autoBroadcastJoinThreshold × shuffle
        # partitions and 3× smaller than the other side is planned as a
        # shuffled hash join before any runtime size is known. Both are
        # plain SQL confs — override via extra_conf for memory-tight
        # deployments.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(128 * 1024 * 1024),
        )
        # Pin UTC: parquet timestamps are TIMESTAMP_NTZ and the DuckDB
        # oracles use naive epoch()/date_trunc — on a non-UTC host,
        # unix_timestamp/F.window would otherwise interpret NTZ values in
        # the session zone and diverge from the oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow everywhere
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        # keep scans splittable at ~128MB (tune per input-blob size at scale)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
