"""The two workloads: pipeline, warm-up, output checks and per-layer
probes. Each times calls into the program's public functions from here, so
the program itself carries no benchmark code."""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from eventlog import EventLog

NPROC = len(os.sched_getaffinity(0))
PROD_POINT = {"num_hashes": 64, "num_bands": 16}  # production LSH point
ESTIMATE_BAND = (0.3, 0.9)
KERNEL_SAMPLE = 1500  # docs timed by the kernel probe
SCALE_REPEATS = 3  # timed passes per core count in the scaling probe

# status the extraction must give each corpus class that has no expected
# text; every other class must succeed with exactly its expected text
STATUS_WITHOUT_TEXT = {
    "empty": "rejected_unparseable",
    "bad_pdf": "rejected_unparseable",
    "png": "succeeded_noop",
    "pdf_cid_noto": "succeeded_empty",
}
# kernel-probe groups of corpus classes ("empty" and "bad_pdf" are rejected
# before any kernel runs, so the probe skips them)
KERNEL_GROUPS = {
    "html": ("plain", "paras", "boiler"),
    "html_charset": ("gb18030", "latin1", "utf8_bom", "utf16", "html_cjk"),
    "pdf": ("pdf", "pdf_multistream", "pdf_winansi", "pdf_incremental"),
    "pdf_fonts": ("pdf_cid", "pdf_cid_noto", "pdf_predefined_cmap",
                  "pdf_embedded_tt", "pdf_type1_builtin", "pdf_type3",
                  "pdf_cid_cff"),
    "pdf_crypt": ("pdf_encrypted_rc4",),
    "raster": ("png", "png_text", "jpeg_com"),
}


class Spans:
    """In-memory spans (name, start, end); recorded only when enabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[tuple[str, float, float]] = []

    @contextmanager
    def __call__(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            if self.enabled:
                self.rows.append((name, t0, time.time()))

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.rows if n == name)

    def jobs(self, log: EventLog, *names: str) -> list:
        """The Spark jobs submitted inside the spans of these names."""
        return [j for n, t0, t1 in self.rows if n in names
                for j in log.jobs_between(t0, t1)]


def session(run_dir: str, master: str | None = None, event_dir: str | None = None):
    from pbx_ds_ocr_server_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the serial collector sizes the heap (up to the program's default
        # driver memory) from the live data after each collection, so peak
        # RSS follows the heap the program uses; G1, the JVM's default,
        # grows it on measured GC time, and its peak RSS on the same input
        # varied from 2.2 to 4.5 GB between runs
        "spark.driver.extraJavaOptions": "-XX:+UseSerialGC",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=master, extra_conf=conf)


def event_log(spark, event_dir: str) -> EventLog:
    app = spark.sparkContext.applicationId
    spark.stop()  # flushes and closes the log
    return EventLog(os.path.join(event_dir, app))


def ids(df) -> set[int]:
    return {r[0] for r in df.collect()}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    )


# ------------------------------------------------------------- extraction
def check_extraction(rows, truth) -> int:
    """Rows (url, text, status) against the corpus truth → number of ok
    urls. A url is ok when it appears exactly once with the expected status
    and, where the corpus defines it, byte-identical text."""
    counts: dict[str, int] = {}
    got: dict[str, tuple[str | None, str]] = {}
    for url, text, status in rows:
        counts[url] = counts.get(url, 0) + 1
        got[url] = (text, status)
    ok = 0
    for url, cls, expected in truth:
        if counts.get(url) != 1:
            continue
        text, status = got[url]
        if expected is None:
            good = status == STATUS_WITHOUT_TEXT.get(cls)
        else:
            good = status == "succeeded" and text == expected
        ok += good
    return ok


def read_truth(inp: str) -> list[tuple]:
    t = pq.read_table(os.path.join(inp, "truth.parquet"))
    return list(zip(*(t.column(c).to_pylist()
                      for c in ("url", "doc_class", "expected_text"))))


def read_rows(path: str) -> list[tuple]:
    t = pq.read_table(path, columns=["url", "text", "status"])
    return list(zip(*(t.column(c).to_pylist() for c in ("url", "text", "status"))))


def kernel_probe(inp: str) -> dict:
    """Single-core µs/doc of the extraction kernels on every k-th doc of
    the workload's corpus, by class group (no Spark involved)."""
    from pbx_ds_ocr_server_spark.config import DEFAULT_CONFIG as cfg
    from pbx_ds_ocr_server_spark.kernels import detect_content_type, extract_html
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import extract_pdf_detailed
    from pbx_ds_ocr_server_spark.kernels.raster_meta import extract_raster_meta

    truth = pq.read_table(os.path.join(inp, "truth.parquet"),
                          columns=["url", "doc_class"])
    cls_of = dict(zip(truth.column("url").to_pylist(),
                      truth.column("doc_class").to_pylist()))
    corpus = pq.read_table(os.path.join(inp, "corpus"))
    step = max(1, corpus.num_rows // KERNEL_SAMPLE)
    urls = corpus.column("url").to_pylist()[::step]
    payloads = corpus.column("html").to_pylist()[::step]
    group_of = {c: g for g, cs in KERNEL_GROUPS.items() for c in cs}
    spent: dict[str, float] = {g: 0.0 for g in KERNEL_GROUPS}
    seen: dict[str, int] = {g: 0 for g in KERNEL_GROUPS}
    failed = 0
    for url, payload in zip(urls, payloads):
        g = group_of.get(cls_of[url])
        if g is None:
            continue
        t0 = time.perf_counter()
        try:
            ctype = detect_content_type(payload)
            if ctype == "pdf":
                extract_pdf_detailed(payload, cfg)
            elif ctype in ("png", "jpeg"):
                extract_raster_meta(payload, ctype, cfg)
            elif payload and ctype != "unknown":
                extract_html(payload, cfg)
        except Exception:  # the kernels' own failures are what is counted
            failed += 1
        spent[g] += time.perf_counter() - t0
        seen[g] += 1
    total = sum(spent.values())
    out = {"kernels.us_per_doc": 1e6 * total / max(1, sum(seen.values())),
           "kernels.failed": failed}
    for g in KERNEL_GROUPS:
        out[f"kernels.{g}.us_per_doc"] = 1e6 * spent[g] / max(1, seen[g])
    return out


class Workload:
    """One workload's pipeline, checks and per-layer probes. ``outputs``
    holds one record per completed job; the checks and per-job layer
    metrics read it."""

    def __init__(self, spark, inp: str, run_dir: str):
        self.inp, self.run_dir = inp, run_dir
        self.outputs: list = []
        self._dirs = 0
        self.bind(spark)

    def fresh_dir(self, name: str) -> str:
        """A path no earlier job used (a job_resume output dir that already
        holds a manifest would turn the job into a no-op resume)."""
        self._dirs += 1
        return os.path.join(self.run_dir, f"{name}{self._dirs}")

    def probe(self, spans: Spans) -> dict:
        """Extra calls of a traced run that the event log must see."""
        return {}

    def layer_metrics(self, spans: Spans, log: EventLog) -> dict:
        return {}

    def after_session(self) -> dict:
        """Probes that run once the traced session is closed."""
        return {}

    def rebind(self, spark) -> None:
        """Move to a new session in the same JVM: its compiled code stays
        warm, so one small job to start the Python workers is warm-up
        enough."""
        self.bind(spark)
        spark.range(NPROC * 8, numPartitions=NPROC).mapInPandas(
            lambda batches: batches, "id long"
        ).write.format("noop").mode("overwrite").save()


def extract_to(src, out: str) -> None:
    from pbx_ds_ocr_server_spark.operators.extract import extract

    extract(src).write.mode("overwrite").parquet(out)


class JobResume(Workload):
    """run_extract_job end to end: staging, a first call that stops after
    half the buckets, and a second call that resumes to completion."""

    size = {"docs": 12000, "files": 16, "pool": 24000}
    buckets = 8

    def bind(self, spark) -> None:
        self.spark = spark
        self.src = spark.read.parquet(os.path.join(self.inp, "corpus"))
        self.n_docs = pq.read_metadata(os.path.join(self.inp, "truth.parquet")).num_rows

    def _job(self, src, out: str, spans: Spans) -> tuple:
        from pbx_ds_ocr_server_spark.sources.writer import run_extract_job

        with spans("sources.writer.first_run"):
            first = run_extract_job(self.spark, src, out, n_buckets=self.buckets,
                                    fail_after=self.buckets // 2)
        with spans("sources.writer.resume"):
            second = run_extract_job(self.spark, src, out, n_buckets=self.buckets)
        return out, first, second

    def warm(self) -> None:
        # a quarter of the files, the last (giants) among them: the plan of
        # the timed job with less of its work
        files = sorted(os.listdir(os.path.join(self.inp, "corpus")))
        part = self.spark.read.parquet(
            *(os.path.join(self.inp, "corpus", f) for f in files[-1::-4]))
        self._job(part, self.fresh_dir("warm"), Spans(False))

    def run_once(self, spans: Spans) -> int:
        self.outputs.append(self._job(self.src, self.fresh_dir("job"), spans))
        return self.n_docs

    def check(self) -> int:
        """Exactly-once output per job: the manifest lists every bucket, the
        first call did half of them and the resume the rest, lineage
        ``n_urls`` sums to the input count, and every input url appears
        once with the expected status and text."""
        truth = read_truth(self.inp)
        ok = 0
        for out, first, second in self.outputs:
            with open(os.path.join(out, "manifest.json"), encoding="utf-8") as f:
                manifest = json.load(f)
            lineage = pq.read_table(os.path.join(out, "_lineage"), columns=["n_urls"])
            if (
                manifest.get("completed_buckets") == list(range(self.buckets))
                and sum(lineage.column("n_urls").to_pylist()) == self.n_docs
                and len(first.buckets_done) == self.buckets // 2
                and sorted(first.buckets_done + second.buckets_done)
                == list(range(self.buckets))
            ):
                ok += check_extraction(read_rows(os.path.join(out, "data")), truth)
        return ok

    def probe(self, spans: Spans) -> dict:
        from pbx_ds_ocr_server_spark.sources.writer import run_extract_job, stage_input

        with spans("sources.writer.stage"):
            stage_input(self.src, self.fresh_dir("stage"), self.buckets)
        with spans("sources.writer.noop_rerun"):
            rerun = run_extract_job(self.spark, self.src, self.outputs[-1][0],
                                    n_buckets=self.buckets)
        return {"sources.writer.buckets_skipped": len(rerun.buckets_skipped)}

    def layer_metrics(self, spans: Spans, log: EventLog) -> dict:
        n = len(self.outputs)
        out = self.outputs[-1][0]
        lineage = pq.read_table(os.path.join(out, "_lineage"))
        bucket_s = sorted(
            f - s for s, f in zip(lineage.column("started_at").to_pylist(),
                                  lineage.column("finished_at").to_pylist()))
        jobs = spans.jobs(log, "sources.writer.first_run", "sources.writer.resume")
        stage_jobs = spans.jobs(log, "sources.writer.stage")
        summary = log.summary(jobs)
        return {
            "operators.extract.task_cpu_s": summary["cpu_s"] / n,
            "operators.extract.gc_s": summary["gc_s"] / n,
            "operators.extract.task_skew": summary["task_skew"],
            "sources.writer.stage_s": spans.total("sources.writer.stage"),
            "sources.writer.first_run_s": spans.total("sources.writer.first_run") / n,
            "sources.writer.resume_s": spans.total("sources.writer.resume") / n,
            "sources.writer.noop_rerun_s": spans.total("sources.writer.noop_rerun"),
            "sources.writer.bucket_s.p50": bucket_s[len(bucket_s) // 2],
            "sources.writer.bucket_s.max": bucket_s[-1],
            "sources.writer.readback_s": log.wall_where(
                jobs, lambda j, _: "sources/writer.py" in j.call_site) / n,
            "sources.writer.stage_shuffle_bytes": log.summary(stage_jobs)["shuffle_bytes"],
            "sources.writer.bytes_written_per_input_byte":
                dir_bytes(os.path.join(out, "data"))
                / dir_bytes(os.path.join(self.inp, "corpus")),
            "sources.writer.buckets_done": sum(
                len(a.buckets_done) + len(b.buckets_done) for _, a, b in self.outputs) / n,
        }

    def after_session(self) -> dict:
        out = kernel_probe(self.inp)
        out.update(self.scaling_probe(out["kernels.us_per_doc"]))
        return out

    def scaling_probe(self, kernel_us: float) -> dict:
        """extract() docs/s over every fifth corpus file at local[NPROC] and
        at local[1], ``SCALE_REPEATS`` passes each after a warm-up, in a fresh
        session per level with the same shuffle partitioning. The files are
        slices of the rows sorted by payload size, so every fifth one
        samples each size range, the giants' last file among them, as the
        kernel probe's every k-th doc does."""
        files = sorted(os.listdir(os.path.join(self.inp, "corpus")))
        part = [os.path.join(self.inp, "corpus", f) for f in files[::5]]
        n = sum(pq.read_metadata(p).num_rows for p in part)
        rates: dict[int, list[float]] = {}
        for cores in (NPROC, 1):
            spark = session(self.run_dir, master=f"local[{cores}]")
            src = spark.read.parquet(*part)
            extract_to(spark.read.parquet(*part[::4]), self.fresh_dir("warm"))
            rates[cores] = []
            for _ in range(SCALE_REPEATS):
                t0 = time.time()
                extract_to(src, self.fresh_dir("scale"))
                rates[cores].append(n / (time.time() - t0))
            spark.stop()
        effs = [r / (NPROC * r1) for r in rates[NPROC] for r1 in rates[1]]
        local1_us = 1e6 / statistics.median(rates[1])
        eff = statistics.median(rates[NPROC]) / (NPROC * statistics.median(rates[1]))
        return {
            "operators.extract.local1_us_per_doc": local1_us,
            "operators.extract.framework_us_per_doc": local1_us - kernel_us,
            "operators.extract.scale_eff": eff,
            "operators.extract.scale_eff_spread": (max(effs) - min(effs)) / eff,
        }


# ---------------------------------------------------------------- curation
def oracle_keepers(inp: str, run_dir: str) -> dict[str, set[int]]:
    """doc_id sets the DuckDB oracles of ``__spark_entry__.oracle_sql()``
    give over the input's documents table: ``corpus_curation``'s keepers,
    and the near-dedup keepers implied by ``ngram_jaccard_pairs`` (every
    pair with 3-word-shingle Jaccard >= 0.8, all pairs compared): the docs
    of the queries' duplicate-injected table minus the larger id of each
    pair. Cached next to the input under a hash of the SQL (the SQL belongs
    to the program, so a changed oracle is recomputed)."""
    import hashlib

    import duckdb

    import __spark_entry__ as entry

    sql = {
        "corpus_curation": entry.oracle_sql()["corpus_curation"],
        "near": f"""SELECT doc_id FROM ({entry.DOCS_U}) WHERE doc_id NOT IN
            (SELECT b FROM ({entry.oracle_sql()["ngram_jaccard_pairs"]}))""",
    }
    digest = hashlib.sha1(json.dumps(sql, sort_keys=True).encode()).hexdigest()
    cache = os.path.join(inp, f"oracle-{digest[:16]}.json")
    if os.path.exists(cache):
        with open(cache, encoding="utf-8") as f:
            return {k: set(v) for k, v in json.load(f).items()}
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb')}'")
    path = os.path.join(inp, "documents.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    out = {name: sorted(r[0] for r in con.execute(q).fetchall())
           for name, q in sql.items()}
    con.close()
    with open(cache + ".tmp", "w", encoding="utf-8") as f:
        json.dump(out, f)
    os.replace(cache + ".tmp", cache)
    return {k: set(v) for k, v in out.items()}


def curation_split(log: EventLog, t0: float, t1: float) -> dict[str, float]:
    """Split the wall [t0, t1] of one ``corpus_curation`` call at its
    materialization points, read from the event log: each
    ``localCheckpoint`` SQL execution closes a segment when its last job
    ends. The first checkpoint holds the gate and Gopher survivors, the last
    the exact-dedup keepers; any between them belong to decontamination,
    and the final segment runs to ``t1``. The gate frame is cached lazily
    and filled by the first stage of the first checkpoint that scans it, so
    the gates end when that stage does (the Gopher flags fused into the
    same stage count as gates)."""
    jobs = sorted(log.jobs_between(t0, t1), key=lambda j: j.submit_s)
    ends: dict[int, float] = {}
    for j in jobs:
        ex = log.executions.get(j.execution)
        if ex is not None and ex.description.startswith("localCheckpoint"):
            ends[j.execution] = max(ends.get(j.execution, 0.0), j.end_s)
    bounds = sorted(ends.values())
    out = {"gates": 0.0, "gopher": 0.0, "decontaminate": 0.0, "exact": 0.0,
           "survivors": 0, "after_first": []}
    if not bounds:
        return out
    first = min(ends, key=ends.get)
    scans = [s for s in log.stages_of([j for j in jobs if j.execution == first])
             if "InMemoryTableScan" in s.scopes]
    gates_end = scans[0].end_s if scans else t0
    out.update({
        "gates": gates_end - t0,
        "gopher": bounds[0] - gates_end,
        "decontaminate": bounds[-2] - bounds[0] if len(bounds) > 2 else 0.0,
        "exact": t1 - bounds[-2] if len(bounds) > 1 else 0.0,
        "survivors": log.output_rows(first),
        "after_first": [j for j in jobs if j.submit_s > bounds[0]],
    })
    return out


class CurateDedup(Workload):
    """The query ``corpus_curation`` (gates → Gopher → decontamination →
    exact dedup), then near-dedup at the production LSH point, plain and
    with the estimate tier, over one generated documents table."""

    size = {"base": 100, "replicas": 3}

    def bind(self, spark) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.curation = entry.queries()["corpus_curation"]
        self.docs = entry._docs_u(spark, self.inp)
        # _docs_u adds a copy of each doc_id < 20
        docs = pq.read_table(os.path.join(self.inp, "documents.parquet"),
                             columns=["doc_id"]).column("doc_id").to_pylist()
        self.n_docs = len(docs) + sum(d < 20 for d in docs)

    def pipeline(self, spans: Spans) -> dict[str, set[int]]:
        from __spark_entry__ import MAX_SHINGLE_DF

        from pbx_ds_ocr_server_spark.operators.dedup import dedup_near

        with spans("corpus_curation"):
            curated = ids(self.curation(self.spark, self.inp))
        with spans("operators.dedup.near"):
            near = ids(dedup_near(self.docs, max_shingle_df=MAX_SHINGLE_DF,
                                  **PROD_POINT).select("doc_id"))
        with spans("operators.dedup.near_estimated"):
            near_est = ids(dedup_near(self.docs, max_shingle_df=MAX_SHINGLE_DF,
                                      estimate_band=ESTIMATE_BAND,
                                      **PROD_POINT).select("doc_id"))
        return {"curation": curated, "near": near, "near_estimated": near_est}

    def warm(self) -> None:
        self.pipeline(Spans(False))

    def run_once(self, spans: Spans) -> int:
        self.outputs.append(self.pipeline(spans))
        return self.n_docs

    def check(self) -> int:
        """Keeper sets against the DuckDB oracles over the same file. The
        curation must keep exactly the ``corpus_curation`` oracle's ids.
        Both k=64 near-dedup outputs must keep exactly the all-pairs
        ``ngram_jaccard_pairs`` keepers: the generator puts every twin's
        Jaccard either at or above 0.88 or below 0.68, where LSH recall at
        k=64 and the estimate tier's decisions agree with exact
        verification. A doc is ok when both sides keep it or both drop
        it."""
        want = oracle_keepers(self.inp, self.run_dir)
        ok = 0
        for out in self.outputs:
            bad = out["curation"] ^ want["corpus_curation"]  # kept by one side
            bad |= out["near"] ^ want["near"]
            bad |= out["near_estimated"] ^ want["near"]
            ok += max(0, self.n_docs - len(bad))
        return ok

    def probe(self, spans: Spans) -> dict:
        """Candidate, verified and estimate-decided pair counts at the
        production point, from the public dedup building blocks."""
        from pyspark.sql import functions as F

        from __spark_entry__ import MAX_SHINGLE_DF

        from pbx_ds_ocr_server_spark.operators.dedup import (
            banding, jaccard_pairs, lsh_candidate_pairs, minhash_jaccard_estimate,
            minhash_signatures)

        k, b = PROD_POINT["num_hashes"], PROD_POINT["num_bands"]
        sigs = minhash_signatures(self.docs, k=k).localCheckpoint()
        cand = lsh_candidate_pairs(sigs, bands=banding(k, b)).localCheckpoint()
        n_cand = cand.count()
        cand_ids = cand.select(F.col("a").alias("doc_id")).unionByName(
            cand.select(F.col("b").alias("doc_id"))).distinct()
        verified = jaccard_pairs(
            self.docs.join(cand_ids, "doc_id", "left_semi"),
            min_jaccard=0.8, max_shingle_df=MAX_SHINGLE_DF,
        ).join(cand, ["a", "b"], "left_semi").count()
        est = minhash_jaccard_estimate(self.docs, k=k, num_bands=b)
        lo, hi = ESTIMATE_BAND
        decided = est.filter((F.col("est_jaccard") >= hi)
                             | (F.col("est_jaccard") < lo)).count()
        return {
            "operators.dedup.lsh_candidates": n_cand,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verify_yield": verified / n_cand if n_cand else 0.0,
            "operators.dedup.estimate_decided_frac": decided / n_cand if n_cand else 0.0,
        }

    def layer_metrics(self, spans: Spans, log: EventLog) -> dict:
        n = len(self.outputs)
        parts = [curation_split(log, t0, t1)
                 for name, t0, t1 in spans.rows if name == "corpus_curation"]
        near = spans.jobs(log, "operators.dedup.near", "operators.dedup.near_estimated")
        dedup = near + [j for p in parts for j in p["after_first"]]
        s = log.summary(dedup)
        return {
            "functions.text.gates_s": sum(p["gates"] for p in parts) / n,
            "functions.text.gopher_s": sum(p["gopher"] for p in parts) / n,
            "functions.text.survivors": parts[-1]["survivors"],
            "operators.dedup.decontaminate_s": sum(p["decontaminate"] for p in parts) / n,
            "operators.dedup.exact_s": sum(p["exact"] for p in parts) / n,
            "operators.dedup.near_s": spans.total("operators.dedup.near") / n,
            "operators.dedup.near_estimated_s": spans.total("operators.dedup.near_estimated") / n,
            "operators.dedup.shuffle_bytes": s["shuffle_bytes"] / n,
            "operators.dedup.spill_bytes": s["spill_bytes"] / n,
            "caching.checkpoint_s": log.wall_where(
                spans.jobs(log, "corpus_curation") + near, lambda _, names: any(
                    x.startswith("localCheckpoint at") for x in names)) / n,
        }


WORKLOADS = {"job_resume": JobResume, "curate_dedup": CurateDedup}
