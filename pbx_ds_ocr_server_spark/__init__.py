"""pbx_ds_ocr_server_spark — a PySpark-native batch document-extraction engine.

A brand-new implementation (NOT a port) of the extraction semantics of the
reference system ``Feather-2/PBX-DS-OCR-server`` (a FastAPI GPU-serving wrapper
around a per-page document-extraction core), re-expressed as an idiomatic
Spark batch pipeline over Common-Crawl-style page tables
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Architecture (SURVEY.md §7):
  * ``kernels/``   — pure deterministic per-document extraction functions
                     (charset sniff, HTML boilerplate strip, PDF layout parse,
                     page-range pruning). No Spark imports; unit-testable.
  * ``operators/`` — DataFrame-in/DataFrame-out composition: content-type
                     dispatch, Arrow-batched ``mapInPandas`` extraction with
                     per-document assembly in the same pass,
                     dedup / similarity / text-stats operators.
  * ``sources/``   — WARC reader + the checkpointed, lineage-recording,
                     resumable writer (its hash-bucketed staging write is
                     where skewed input is salted).
  * ``functions/`` — column-level helper expressions (built-in functions only;
                     JVM-side, codegen-friendly).
  * ``streaming/`` — optional Structured Streaming front-end (micro-batch
                     wrapper over the same extract()).

The GPU model-inference step of the reference is replaced (per the project
north rule) by deterministic CPU extraction heuristics so the whole job runs
as vectorized pandas/Arrow UDFs — no per-row Python UDFs anywhere.
"""

__version__ = "0.1.0"

# Public API (lazy to keep bare-package import free of pyspark cost)
__all__ = [
    "ExtractConfig",
    "extract",
    "extract_pages",
    "assemble_documents",
    "assemble_layout_json",
    "run_extract_job",
    "get_spark",
]


def __getattr__(name):
    if name in ("ExtractConfig",):
        from pbx_ds_ocr_server_spark.config import ExtractConfig

        return ExtractConfig
    if name in ("extract", "extract_pages", "assemble_documents",
                "assemble_layout_json"):
        from pbx_ds_ocr_server_spark.operators import extract as _m

        return getattr(_m, name)
    if name == "run_extract_job":
        from pbx_ds_ocr_server_spark.sources.writer import run_extract_job

        return run_extract_job
    if name == "get_spark":
        from pbx_ds_ocr_server_spark.session import get_spark

        return get_spark
    raise AttributeError(name)
