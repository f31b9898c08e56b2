"""The extraction pipeline as Spark operators.

Maps the reference's per-job dataflow (SURVEY.md §3 EP1) onto a declarative
plan:

  read table
    → [one pass] mapInPandas validate + dispatch + per-page extract   (§2.1-2.4)
                 + document assembly: ordered text merge + span
                 re-base and flatten                                  (§2.5)

Design notes for 100 TB scale:
  * Validation, content-type sniff (S4/S5), size/page predicates (F1/F2),
    extraction (T6) and assembly run in ONE ``mapInPandas`` pass
    (``extract``), so the heavy ``html`` binary column is scanned exactly
    once and the plan has no shuffle: every page of a document comes from
    the same call in the same Arrow batch, and only finished document rows
    leave the pass.
  * A PDF is opened once per document: ``_extract_one`` makes one kernel
    call (``kernels.pdf_extract.read_pdf``) that returns facts — page
    count, pages with their ``unparsed`` flags, title, ``locked`` — and
    maps them to statuses here. The object scan, the page-tree walk and
    the encryption key derivation each run once.
  * Rejected rows are never dropped: they surface as documents with a
    ``status`` (→ lineage), mirroring the reference's failed-job statuses
    (``/root/reference/app/schemas.py:10-16``).
  * The page-level API (``extract_pages``) runs the same pass body and
    emits the page rows instead of assembling them. ``assemble_documents``
    turns page rows into documents with a JVM window over (url, seq) and a
    ``groupBy(url)`` — one url shuffle. It is the reference assembly that
    tests/test_extract_e2e.py pins the fused pass byte-equal to.
  * Skew (giant docs / hot hosts) is handled WITHOUT shuffling payloads:
    the job runner's hash-bucketed staging write (``stage_input`` in
    sources/writer.py), small input splits (files.maxPartitionBytes), small
    Arrow batches, and AQE. A pre-extraction payload shuffle was measured
    at ~3× end-to-end (SURVEY.md §4).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.config import (
    DEFAULT_CONFIG,
    PAGE_SEPARATOR,
    ExtractConfig,
)
from pbx_ds_ocr_server_spark.kernels import detect_content_type, extract_html
from pbx_ds_ocr_server_spark.kernels.pdf_extract import read_pdf
from pbx_ds_ocr_server_spark.kernels.raster_meta import extract_raster_meta

SPAN_STRUCT = (
    "struct<page_index:int,kind:string,bbox:array<double>,"
    "start:bigint,end:bigint,text:string>"
)
PAGES_SCHEMA = (
    "url string, content_type string, n_pages int, seq int, page_index int,"
    f" page_text string, spans array<{SPAN_STRUCT}>,"
    " title string, status string, error string"
)
DOCS_SCHEMA = (
    f"url string, text string, spans array<{SPAN_STRUCT}>, n_pages int,"
    " title string, content_type string, status string, error string"
)
PAGE_COLS = [
    "url", "content_type", "n_pages", "seq", "page_index", "page_text",
    "spans", "title", "status", "error",
]
DOC_COLS = [
    "url", "text", "spans", "n_pages", "title", "content_type", "status",
    "error",
]

# JobStatus analog (/root/reference/app/schemas.py:10-16) + rejection reasons
ST_OK = "succeeded"
ST_EMPTY = "succeeded_empty"  # page HAD content bytes but parsing got no text
ST_PARTIAL = "succeeded_partial"  # page emitted SOME text but undecodable
#   font codes lost part of it — the text is real but incomplete; consumers
#   filtering status='succeeded' see only fully-decoded pages
ST_NOOP = "succeeded_noop"
ST_FAILED = "failed"
ST_REJ_SIZE = "rejected_size"
ST_REJ_PAGES = "rejected_pages"
ST_REJ_UNPARSEABLE = "rejected_unparseable"

# doc-status tie-break among success tiers: the BEST page wins; rejections
# and failures (rank -1) dominate. The one source of both assemblies' rule
# (assemble_documents' JVM aggregation and the fused _assemble_one).
_STATUS_RANK = {ST_OK: 0, ST_PARTIAL: 1, ST_EMPTY: 2, ST_NOOP: 3}

_SEP_B = len(PAGE_SEPARATOR.encode("utf-8"))


def _span_dicts(spans) -> list[dict]:
    return [
        {
            "page_index": s.page_index,
            "kind": s.kind,
            "bbox": s.bbox,
            "start": s.start,
            "end": s.end,
            "text": s.text,
        }
        for s in spans
    ]


def _extract_one(url: str, payload: bytes, cfg: ExtractConfig) -> list[dict]:
    """One document → page rows (pure; exceptions become failed rows)."""
    base = {"url": url, "n_pages": 0, "seq": 0, "page_index": 0,
            "page_text": "", "spans": [], "title": None, "error": None}
    ctype = detect_content_type(payload)
    base["content_type"] = ctype
    if payload is None or len(payload) == 0:
        return [dict(base, status=ST_REJ_UNPARSEABLE, error="empty payload")]
    if len(payload) > cfg.max_bytes:  # F1 (app/config.py:62)
        return [dict(base, status=ST_REJ_SIZE,
                     error=f"payload {len(payload)}b > {cfg.max_bytes}b")]
    try:
        if ctype == "pdf":
            # ONE open: page count, title, pages, lock state
            n, title, pages, locked = read_pdf(payload, cfg)
            if n is None:  # F2 (app/utils/pdf.py:12-23)
                return [dict(base, status=ST_REJ_UNPARSEABLE,
                             error="pdf page count failed")]
            if n > cfg.max_pages:  # app/config.py:63
                return [dict(base, n_pages=n, status=ST_REJ_PAGES,
                             error=f"{n} pages > {cfg.max_pages}")]
            if pages and locked and all(not p.text for p, _u in pages):
                # undecryptable content streams (real user password,
                # unsupported crypt filters): typed rejection, not empty
                # text. Owner-locked RC4/AES docs decrypt with the empty
                # user password inside the kernel and never reach this
                # branch.
                return [dict(base, n_pages=n, title=title,
                             status=ST_REJ_UNPARSEABLE,
                             error="pdf encrypted (empty-user-password"
                                   " decryption not applicable)")]
            # per-page honesty: a blind-spot page (unsupported filter,
            # undecodable font codes) is never a silent success — with NO
            # text it is succeeded_empty; with PARTIAL text (some fonts
            # decoded, some lost) it is succeeded_partial, so the emitted
            # text is never mislabeled as complete AND a non-empty page is
            # never mislabeled as empty. Doc-level min(status) keeps
            # 'succeeded' if any page fully decoded.
            return [
                dict(base, n_pages=n, seq=i, page_index=p.page_index,
                     page_text=p.text, spans=_span_dicts(p.spans),
                     title=title,
                     status=ST_OK if not unparsed
                     else (ST_PARTIAL if p.text else ST_EMPTY))
                for i, (p, unparsed) in enumerate(pages)
            ] or [dict(base, n_pages=n, title=title, status=ST_OK)]
        if ctype in ("png", "jpeg"):
            # OCR-of-raster is out of scope (north rule), but rasters
            # carry metadata TEXT (PNG tEXt/iTXt, JPEG COM/EXIF): extract
            # that; files with none pass through as no-ops (FIXTURES.md §3c)
            page = extract_raster_meta(payload, ctype, cfg)
            if page is None:
                return [dict(base, status=ST_NOOP)]
            return [dict(base, n_pages=1, seq=0, page_index=1,
                         page_text=page.text, spans=_span_dicts(page.spans),
                         title=page.title, status=ST_OK)]
        if ctype == "unknown":
            return [dict(base, status=ST_NOOP)]
        page = extract_html(payload, cfg)
        return [dict(base, n_pages=1, seq=0, page_index=1,
                     page_text=page.text, spans=_span_dicts(page.spans),
                     title=page.title, status=ST_OK)]
    except Exception as exc:  # defensive, like _parse_output's fallbacks
        return [dict(base, status=ST_FAILED,
                     error=f"{type(exc).__name__}: {exc}")]


def _map_payloads(
    df: DataFrame,
    emit: Callable[[str, bytes], list[dict]],
    cols: list[str],
    schema: str,
) -> DataFrame:
    """The one ``mapInPandas`` pass over ``(url, html)``: ``emit(url,
    payload)`` turns each input row into its output rows, which leave the
    pass as ``cols`` under ``schema``. The payload column is scanned once
    and nothing is shuffled."""
    # deploy-time CID tables are a DRIVER-process registration; snapshot
    # them into the task closure so the executors' fresh module imports
    # see them too (kernels/pdf_fonts.cid_tables_snapshot docstring)
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        cid_tables_snapshot,
        restore_cid_tables,
    )

    cid_tables = cid_tables_snapshot()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # unconditional: reused workers may hold a PREVIOUS plan's tables,
        # and an empty snapshot must clear them (restore_cid_tables doc)
        restore_cid_tables(cid_tables)
        for pdf_batch in batches:
            out: list[dict] = []
            for r in pdf_batch.itertuples():
                out.extend(emit(r.url, r.html))
            yield pd.DataFrame(out, columns=cols)

    return df.select("url", "html").mapInPandas(run, schema=schema)


def extract_pages(df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """(url, html, ...) → one row per (url, page). Single pass over payloads,
    no shuffle."""
    return _map_payloads(
        df, lambda url, html: _extract_one(url, html, cfg), PAGE_COLS,
        PAGES_SCHEMA,
    )


def assemble_documents(pages: DataFrame) -> DataFrame:
    """Page rows → one row per url (M1/M2, SURVEY.md §2.5).

    Text merge follows the reference's full.md rule exactly
    (``/root/reference/app/services/pipeline.py:187-205``): pages joined in
    processing order with "\\n\\n", blank pages (after strip) skipped. Span
    offsets are re-based from page-local to document byte offsets with a
    window (cumulative page bytes + separator bytes).
    """
    nonblank = F.trim(F.col("page_text")) != ""
    w = (
        Window.partitionBy("url")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = pages.withColumn(
        "base_off",
        F.coalesce(
            F.sum(
                F.when(nonblank, F.octet_length("page_text") + F.lit(_SEP_B))
                .otherwise(F.lit(0))
            ).over(w),
            F.lit(0),
        ),
    )
    rebased = cum.withColumn(
        "doc_spans",
        F.when(
            nonblank,
            F.expr(
                "transform(spans, s -> struct("
                "s.page_index as page_index, s.kind as kind, s.bbox as bbox,"
                "s.start + base_off as start, s.end + base_off as end,"
                "s.text as text))"
            ),
        ).otherwise(F.expr(f"cast(array() as array<{SPAN_STRUCT}>)")),
    )
    # doc status: the BEST page wins among the success tiers (a doc with
    # any fully-decoded page is 'succeeded'; else any partial — which HAS
    # text — beats 'empty'), while rejections/failures dominate everything.
    # A plain string min() would sort 'succeeded_empty' before
    # 'succeeded_partial' and mislabel text-carrying docs as empty.
    status_rank = F  # F.when opens the chain, Column.when extends it
    for status, rank in _STATUS_RANK.items():
        status_rank = status_rank.when(F.col("status") == status, rank)
    status_rank = status_rank.otherwise(-1)  # rejected_* / failed dominate
    agg = rebased.groupBy("url").agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    nonblank,
                    F.struct(
                        F.col("seq"), F.col("page_text"), F.col("doc_spans")
                    ),
                )
            )
        ).alias("parts"),
        F.max("n_pages").alias("n_pages"),
        F.max("title").alias("title"),
        F.max("content_type").alias("content_type"),
        F.min(
            F.struct(status_rank.alias("r"), F.col("status").alias("s"))
        ).alias("st"),
        F.max("error").alias("error"),
    ).withColumn("status", F.col("st.s")).drop("st")
    return agg.select(
        "url",
        F.concat_ws(
            PAGE_SEPARATOR, F.expr("transform(parts, p -> p.page_text)")
        ).alias("text"),
        F.expr("flatten(transform(parts, p -> p.doc_spans))").alias("spans"),
        "n_pages",
        "title",
        "content_type",
        "status",
        "error",
    )


def assemble_layout_json(pages: DataFrame) -> DataFrame:
    """Page rows → (url, layout_json) in the reference's layout.json shape:
    ``{"pages": [{"page_index": N, "res": {...}, "markdown": {...}}]}``
    accumulated in processing order
    (``/root/reference/app/services/dsocr_model.py:217-243``, append at
    :234). ``res`` carries the page text and spans — the analog of the
    model's raw per-page output dict. ``markdown`` mirrors the sync
    response's per-page envelope ``{"text", "isStart", "isEnd"}``
    (``/root/reference/app/api/v1/infer.py:110-120``): the flags mark the
    first/last page in PROCESSING order (the reference's continuation
    markers for stitching per-page markdown into one document)."""
    agg = pages.filter(F.col("page_index") > 0).groupBy("url").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("seq"),
                    F.struct(
                        F.col("page_index"),
                        F.struct(
                            F.col("page_text").alias("text"),
                            F.col("spans"),
                        ).alias("res"),
                    ).alias("page"),
                )
            )
        ).alias("parts")
    )
    return agg.select(
        "url",
        F.to_json(
            F.struct(
                F.expr(
                    "transform(parts, (p, i) -> struct("
                    "p.page.page_index as page_index,"
                    "p.page.res as res,"
                    "struct(p.page.res.text as text,"
                    "       i = 0 as isStart,"
                    "       i = size(parts) - 1 as isEnd) as markdown))"
                ).alias("pages")
            )
        ).alias("layout_json"),
    )


def keep_latest_snapshot(df: DataFrame, ts_col: str = "warc_ts") -> DataFrame:
    """Crawl-revisit handling: keep the newest capture per url (ties break
    on the larger payload, then deterministically). Run this BEFORE
    extract() when the input may contain the same url at several
    ``warc_ts`` — extraction itself requires url-unique input (url is the
    document key, like the reference's task_id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(
        F.desc(ts_col), F.desc(F.octet_length("html")), F.desc(F.xxhash64("html"))
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _assemble_one(rows: list[dict]) -> dict:
    """Python mirror of :func:`assemble_documents` for the page rows of ONE
    document (they are produced together by ``_extract_one``, so no shuffle
    is needed to co-locate them). Must stay semantically identical to the
    JVM aggregation. The extract_* driver queries run only ``extract()``,
    so they hash-gate this path;
    tests/test_extract_e2e.py::test_fused_extract_matches_page_assembly
    keeps the JVM path in parity with it:

      * non-blank test = ``F.trim(page_text) != ''`` → strip(' ') (trim
        removes only 0x20, not general whitespace)
      * span offsets re-based by cumulative UTF-8 bytes of PRECEDING
        non-blank pages (+ separator bytes each)
      * text = non-blank pages joined by the separator in seq order
      * title/content_type/error = max ignoring None (per doc these are
        single-valued, so ordering quirks cannot surface)
      * status = min by (rank, status)
    """
    rows.sort(key=lambda r: r["seq"])
    parts: list[str] = []
    spans: list[dict] = []
    base_off = 0
    for r in rows:
        pt = r["page_text"]
        if pt.strip(" ") == "":
            continue
        parts.append(pt)
        for s in r["spans"]:
            spans.append(
                dict(s, start=s["start"] + base_off, end=s["end"] + base_off)
            )
        base_off += len(pt.encode("utf-8")) + _SEP_B
    titles = [r["title"] for r in rows if r["title"] is not None]
    errors = [r["error"] for r in rows if r["error"] is not None]
    status = min(
        ((_STATUS_RANK.get(r["status"], -1), r["status"]) for r in rows)
    )[1]
    return {
        "url": rows[0]["url"],
        "text": PAGE_SEPARATOR.join(parts),
        "spans": spans,
        "n_pages": max(r["n_pages"] for r in rows),
        "title": max(titles) if titles else None,
        "content_type": max(
            r["content_type"] for r in rows
        ),  # never None (detect_content_type is total)
        "status": status,
        "error": max(errors) if errors else None,
    }


def extract(df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Full pipeline: input table → (url, text, spans, n_pages, content_type,
    status, error). The library-call analog of the reference's synchronous
    endpoint (SURVEY.md §3 EP3).

    Input should be UNIQUE on url (url ≙ the reference's task_id); for raw
    crawls with revisits, apply ``keep_latest_snapshot`` first — each input
    row becomes its own output row, so duplicate urls give duplicate rows.

    FUSED single-pass since round 9: every page of a document is produced by
    the same ``_extract_one`` call inside the same Arrow batch, so document
    assembly needs no url shuffle at all — it runs in Python right after
    extraction and only the finished document rows leave the pass (guide
    rule: when data is already co-located, don't shuffle to "group" it).
    Byte-identity with the JVM assembly of the page-level API
    (``extract_pages`` → ``assemble_documents``) is pinned by
    tests/test_extract_e2e.py::test_fused_extract_matches_page_assembly."""
    return _map_payloads(
        df,
        lambda url, html: [_assemble_one(_extract_one(url, html, cfg))],
        DOC_COLS,
        DOCS_SCHEMA,
    )
