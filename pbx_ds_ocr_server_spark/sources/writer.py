"""Checkpointed, lineage-recording, resumable extraction job (K2/K3/K9).

Reproduces the reference's durability contract with Spark primitives:

  * ``job_status.json`` written atomically on every transition
    (``/root/reference/app/domain/job.py:35-36``,
    ``/root/reference/app/storage/local.py:62-78`` tmp+replace) →
    ``manifest.json`` here, updated with the same tmp+``os.replace`` pattern
    AFTER each bucket's data lands (write-then-status ordering,
    ``/root/reference/app/services/queue.py:106-131``; SURVEY.md §7 risk 5).
  * resume-from-disk (``/root/reference/app/api/v1/tasks.py:157-176``) →
    completed buckets are read from the manifest and skipped; within the
    run the unit of retry is a bucket (idempotent dir overwrite), so a
    crashed run never double-writes.
  * Prometheus counters (``/root/reference/app/monitoring/metrics.py:21-107``)
    → per-bucket lineage rows ``(run_id, bucket, counts by status, wall
    seconds)`` appended to a ``_lineage`` parquet table + a final
    ``_metrics`` row with docs/sec. The status counts are observed on the
    bucket's own write (``DataFrame.observe``), not read back from the
    output, and each bookkeeping row is one small parquet file written by
    pyarrow (tmp+``os.replace``) — a bucket's only Spark job is its
    extract-and-write.

Scale design: the input is first STAGED once, hash-bucketed by
``pmod(xxhash64(url), n_buckets)`` and written ``partitionBy(bucket)``.
Per-bucket reruns then read only ``bucket=K`` directories — genuine partition
pruning, the plain-parquet equivalent of an Iceberg bucket-partitioned table;
no full rescans per bucket. At 10^12 docs the staging pass is the salting
shuffle (hot crawl hosts spread uniformly), and every later retry touches
only its bucket's bytes.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from pbx_ds_ocr_server_spark.config import DEFAULT_CONFIG, ExtractConfig
from pbx_ds_ocr_server_spark.operators.extract import (
    ST_EMPTY,
    ST_FAILED,
    ST_NOOP,
    ST_OK,
    ST_PARTIAL,
    extract,
)

# Schema history: v2 added a trailing column naming the HTML kernel that
# produced a bucket; v3 drops it again, since one kernel remains. A lineage
# dir that mixes versions is mixed-schema parquet — readers must use
# spark.read.option("mergeSchema", "true") (read_lineage does): the merged
# schema keeps that column last, NULL for v3 rows.
LINEAGE_SCHEMA = (
    "run_id string, bucket int, n_urls long, n_succeeded long,"
    " n_noop long, n_rejected long, n_failed long,"
    " started_at double, finished_at double, status string, error string"
)
METRICS_SCHEMA = (
    "run_id string, docs_out long, wall_seconds double,"
    " docs_per_sec double, finished_at double"
)


def _append_row(directory: str, schema: str, row: dict) -> None:
    """Append one row to the parquet table at ``directory`` without a Spark
    job: a one-row file with the Arrow form of the DDL ``schema`` (so Spark
    reads it back with the same types as rows Spark wrote), written under a
    dot-prefixed name that Spark's and pyarrow's readers skip and then
    ``os.replace``d into place. Every file name is unique, so concurrent
    appends need no lock."""
    os.makedirs(directory, exist_ok=True)
    table = pa.Table.from_pylist(
        [row], schema=to_arrow_schema(StructType.fromDDL(schema))
    )
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, f".{name}")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


class CheckpointManifest:
    """Atomic JSON manifest of completed buckets (K1/K2 analog)."""

    def __init__(self, path: str):
        self.path = path

    def load(self) -> dict:
        try:
            with open(self.path, encoding="utf-8") as f:
                return json.load(f) or {}
        except (OSError, json.JSONDecodeError):
            return {}

    def completed(self) -> set[int]:
        return set(self.load().get("completed_buckets", []))

    def mark(self, bucket: int, n_buckets: int, run_id: str) -> None:
        data = self.load()
        done = sorted(set(data.get("completed_buckets", [])) | {bucket})
        data.update(
            completed_buckets=done,
            n_buckets=n_buckets,
            last_run_id=run_id,
            updated_at=time.time(),
        )
        tmp = f"{self.path}.tmp"  # tmp+replace, like storage/local.py:74-78
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(data, f)
        os.replace(tmp, self.path)


@dataclass
class JobResult:
    run_id: str
    buckets_done: list[int]
    buckets_skipped: list[int]
    docs_out: int
    wall_seconds: float

    @property
    def docs_per_sec(self) -> float:
        return self.docs_out / self.wall_seconds if self.wall_seconds else 0.0


def stage_input(
    df: DataFrame, staging_dir: str, n_buckets: int
) -> None:
    """One-pass hash-bucketed staging write (the salting shuffle).

    The ``_STAGED`` marker records the bucket count; re-staging the same
    directory with a DIFFERENT ``n_buckets`` raises instead of silently
    reusing the old layout (a resume at a smaller n_buckets would otherwise
    never extract buckets >= n_buckets yet mark the run complete). The
    marker is written with tmp + ``os.replace`` and always holds the count,
    so a marker that is empty or not a number is corrupt and raises; so
    does a count below the highest ``bucket=K`` dir (a torn write)."""
    marker = os.path.join(staging_dir, "_STAGED")
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as f:
            raw = f.read().strip()
        if not raw.isdigit():
            raise ValueError(
                f"staging marker at {marker} is corrupt ({raw!r}); delete"
                " the staging dir and re-stage"
            )
        recorded = int(raw)
        # cross-check the marker against the layout: a marker from a
        # legacy (pre-atomic-write) torn write could hold a plausible but
        # SMALLER count ('1' torn from '16'); bucket dirs above it prove
        # the corruption before any resume trusts it
        layout_hint = (
            max(
                (
                    int(d.split("=", 1)[1])
                    for d in os.listdir(staging_dir)
                    if d.startswith("bucket=")
                ),
                default=-1,
            )
            + 1
        )
        if layout_hint > recorded:
            raise ValueError(
                f"staging marker at {marker} records n_buckets={recorded}"
                f" but the layout has bucket dirs up to {layout_hint - 1} —"
                " corrupt marker; delete the staging dir and re-stage"
            )
        if recorded != n_buckets:
            raise ValueError(
                f"staging at {staging_dir} was written with n_buckets="
                f"{recorded}, requested {n_buckets}; use the original bucket"
                " count or re-stage into a fresh output_dir"
            )
        return
    (
        df.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
        )
        # range-partition on the bucket id: exactly one task per bucket →
        # one file per bucket dir. A hash repartition("bucket") would
        # collide bucket ids into ~0.63n tasks (balls-in-bins).
        .repartitionByRange(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging_dir)
    )
    # tmp + os.replace, same atomicity as manifest.mark: a crash mid-write
    # must not leave a TORN marker ('1' from '16' would make a later
    # resume validate against n_buckets=1, process bucket 0 only, and
    # mark the job complete — silently dropping the other buckets, the
    # exact hazard this marker exists to prevent)
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(n_buckets))
    os.replace(tmp, marker)


def run_extract_job(
    spark: SparkSession,
    input_df: DataFrame,
    output_dir: str,
    run_id: str | None = None,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_buckets: int = 8,
    fail_after: int | None = None,
) -> JobResult:
    """Resumable extraction: input table → ``output_dir/data/bucket=K/``.

    ``fail_after=k`` aborts after k buckets (crash injection for tests).
    Re-running with the same ``output_dir`` resumes from the manifest.

    Up to ``defaultParallelism`` buckets run at once from one session: each
    staged bucket is a single small file, i.e. one task, so one bucket job
    per core keeps every core extracting and a straggler bucket does not
    idle the rest. A bucket runs exactly one Spark job — its
    extract-and-write into its OWN directory, with the status counts
    observed on that write. Its lineage row is then a uniquely named file
    (no shared ``_temporary`` dir, so no lock), and only the manifest
    read-modify-write is serialized. The manifest is marked only AFTER the
    bucket's data and lineage are durable (write-then-status), so a crash
    mid-run never double-writes on resume."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    run_id = run_id or uuid.uuid4().hex[:12]
    os.makedirs(output_dir, exist_ok=True)
    staging = os.path.join(output_dir, "staging")
    data_dir = os.path.join(output_dir, "data")
    lineage_dir = os.path.join(output_dir, "_lineage")
    manifest = CheckpointManifest(os.path.join(output_dir, "manifest.json"))

    t0 = time.time()
    stage_input(input_df, staging, n_buckets)
    done = manifest.completed()
    todo = [b for b in range(n_buckets) if b not in done]
    if fail_after is not None:
        todo = todo[:fail_after]
    buckets_done: list[int] = []
    docs_out = 0
    lock = threading.Lock()
    status = F.col("status")

    def process(bucket: int) -> None:
        nonlocal docs_out
        b0 = time.time()
        # staging already co-located this bucket; no extra salting shuffle
        result = extract(staged.filter(F.col("bucket") == bucket), cfg)
        obs = Observation()
        result.observe(
            obs,
            F.count(F.lit(1)).alias("n_urls"),
            F.count_if(status.isin(ST_OK, ST_EMPTY, ST_PARTIAL)).alias("n_succeeded"),
            F.count_if(status == ST_NOOP).alias("n_noop"),
            F.count_if(status.startswith("rejected")).alias("n_rejected"),
            F.count_if(status == ST_FAILED).alias("n_failed"),
        ).write.mode("overwrite").parquet(  # idempotent
            os.path.join(data_dir, f"bucket={bucket}")
        )
        counts = obs.get
        _append_row(
            lineage_dir,
            LINEAGE_SCHEMA,
            dict(
                counts,
                run_id=run_id,
                bucket=bucket,
                started_at=b0,
                finished_at=time.time(),
                status="succeeded",
                error=None,
            ),
        )
        with lock:
            # manifest AFTER data+lineage are durable (write-then-status)
            manifest.mark(bucket, n_buckets, run_id)
            buckets_done.append(bucket)
            docs_out += counts["n_urls"]

    if todo:
        staged = spark.read.parquet(staging)  # listed once, pruned per bucket
        workers = min(len(todo), spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            list(pool.map(process, todo))  # re-raises the first failure

    wall = time.time() - t0
    res = JobResult(
        run_id=run_id,
        buckets_done=buckets_done,
        buckets_skipped=sorted(done),
        docs_out=docs_out,
        wall_seconds=wall,
    )
    all_done = not [
        b for b in range(n_buckets) if b not in manifest.completed()
    ]
    if all_done and buckets_done:
        # run complete AND this invocation did work → metrics row (K9
        # analog). The buckets_done guard keeps a no-op rerun of an
        # already-complete job from appending a zero-docs row on every
        # invocation (tenth-review fix)
        _append_row(
            os.path.join(output_dir, "_metrics"),
            METRICS_SCHEMA,
            dict(
                run_id=run_id,
                docs_out=docs_out,
                wall_seconds=wall,
                docs_per_sec=res.docs_per_sec,
                finished_at=time.time(),
            ),
        )
    return res


def write_table(
    df: DataFrame,
    target: str,
    fmt: str = "parquet",
    mode: str = "append",
) -> None:
    """Sink seam: plain-parquet path writing (default) or an Iceberg table
    via the DataFrameWriterV2 API (``fmt='iceberg'``, ``target`` =
    ``catalog.db.table``). Iceberg gives the staging layout for free —
    ``bucket(url, N)`` partition transforms replace the manual
    ``partitionBy(bucket)`` copy, and snapshot expiry replaces manifest
    bookkeeping. The runtime jar is not present in this sandbox, so the
    Iceberg branch raises a clear RuntimeError here; on a real cluster the
    same call works unchanged with:

        spark-submit \\
          --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \\
          --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \\
          --conf spark.sql.catalog.lake.type=hadoop \\
          --conf spark.sql.catalog.lake.warehouse=hdfs:///warehouse ...

    (pick the runtime matching your Spark minor version; then
    ``write_table(df, "lake.db.pages", fmt="iceberg")``)."""
    if fmt == "parquet":
        df.write.mode(mode).parquet(target)
        return
    if fmt == "iceberg":
        try:
            if mode == "append":
                df.writeTo(target).append()
            else:
                df.writeTo(target).createOrReplace()
        except Exception as exc:
            # most common cause is the missing runtime jar/catalog, but keep
            # the underlying error visible — a schema or permission failure
            # on a real cluster must not masquerade as a packaging problem
            raise RuntimeError(
                "Iceberg write failed — if the message below is about an "
                "unknown catalog/table provider, add the "
                "iceberg-spark-runtime jar (e.g. --packages org.apache."
                "iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0) and a "
                "spark.sql.catalog.<name> config; see write_table's "
                f"docstring for the full recipe. Underlying error: {exc}"
            ) from exc
        return
    raise ValueError(f"unknown sink format: {fmt!r}")


def read_output(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, "data"))


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    # mergeSchema: lineage dirs may mix schema versions (see LINEAGE_SCHEMA)
    return spark.read.option("mergeSchema", "true").parquet(
        os.path.join(output_dir, "_lineage")
    )
