"""HTML main-content extraction kernel (replaces op T6, SURVEY.md §2.3).

The reference runs each rendered page through a GPU OCR model
(``/root/reference/app/services/dsocr_model.py:415-457``); per the project
north rule that step is replaced by a deterministic, CPU-only boilerplate
stripper in the Boilerpipe/trafilatura family:

  charset sniff → HTML tokenize → flat block segmentation at block-level
  tags → per-block link-density scoring → boilerplate-container pruning
  (nav/aside/footer/header/head/form/...) → entity unescape + whitespace
  collapse → span assembly with byte offsets.

The whitespace/normalization spec is OURS and frozen (SURVEY.md §7 risk 2):
  * entities unescaped with the HTML5 table (``html.unescape``)
  * runs of whitespace collapsed to a single space, block text stripped
  * kept blocks joined by ``"\\n\\n"`` (the reference's full.md separator,
    ``/root/reference/app/services/pipeline.py:205``)
  * blocks that are empty after collapse are skipped (the reference's
    ``t.strip()`` blank-skip rule, ``pipeline.py:195-197``)

Pure function of (payload bytes, config) — no I/O, no randomness, no clock —
so output is bit-stable across partitions and parallelism levels.
"""

from __future__ import annotations

import html as _html
import re
from dataclasses import dataclass, field

from pbx_ds_ocr_server_spark.config import (
    DEFAULT_CONFIG,
    PAGE_SEPARATOR,
    ExtractConfig,
)
from pbx_ds_ocr_server_spark.kernels.charset import sniff_decode

# Boilerplate scoring threshold (our frozen spec, SURVEY.md §7 risk 2): a
# block whose link text exceeds this share of its non-whitespace text is
# dropped.
LINK_DENSITY_MAX = 0.5

# Tags whose open OR close terminates the current text block.
# Everything not listed in _INLINE below is treated as a block boundary —
# permissive by design (unknown tags segment rather than glue text together).
_INLINE = frozenset(
    """a abbr acronym b bdi bdo big cite code data del dfn em font i ins kbd
    mark q rp rt ruby s samp small span strike strong sub sup time tt u var
    wbr img picture source audio video track map area object embed param
    label output progress meter""".split()
)

# Containers whose entire subtree is boilerplate (dropped).
_BOILER = frozenset(
    """head nav aside footer header form button select option optgroup
    datalist iframe svg math template menu dialog""".split()
)

# Raw-text elements: content consumed verbatim (and dropped) until the
# matching close tag.
_RAWTEXT = frozenset("script style textarea title noscript".split())

_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_TABLEISH = frozenset({"table", "thead", "tbody", "tfoot", "tr", "td", "th", "caption"})

_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:_-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*?)(/?)>",
    re.DOTALL,
)
# single-scan tokenizer: one C-level search locates AND parses the next
# markup construct; stray '<' never matches and thus stays in the text gap
# (ordered alternation: comments before other declarations)
_SCAN_RE = re.compile(
    r"<(?:(!--)"
    r"|([!?])"
    r"|(/?)([a-zA-Z][a-zA-Z0-9:_-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*?)(/?)>)",
    re.DOTALL,
)
_WS_RE = re.compile(r"\s+")
# delete-table for C-speed non-whitespace counting (matches \s for the
# whitespace that occurs in practice; frozen as part of the density spec)
_WS_DELETE = {
    ord(c): None
    for c in (
        " \t\r\n\f\v\x1c\x1d\x1e\x1f\x85\xa0\u1680"
        "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
        "\u2028\u2029\u202f\u205f\u3000"
    )
}

# fast-skip regexes for boilerplate subtrees (content is dropped wholesale,
# so we jump to the matching close instead of tokenizing tag-by-tag)
_SKIP_RES: dict[str, re.Pattern] = {}
_RAWTEXT_RES: dict[str, re.Pattern] = {}


def _rawtext_close(name: str) -> re.Pattern:
    r = _RAWTEXT_RES.get(name)
    if r is None:
        r = re.compile(r"</" + name + r"\s*>", re.IGNORECASE)
        _RAWTEXT_RES[name] = r
    return r


def _skip_re(name: str) -> re.Pattern:
    r = _SKIP_RES.get(name)
    if r is None:
        if name == "head":
            # browsers implicitly close <head> at <body>; honor that so a
            # malformed head can't swallow the document
            r = re.compile(r"</head\s*>|<body\b", re.IGNORECASE)
        else:
            r = re.compile(rf"</?{name}\b", re.IGNORECASE)
        _SKIP_RES[name] = r
    return r


def _skip_subtree(text: str, pos: int, name: str) -> int:
    """Return the position just after the subtree of an opened boilerplate
    container. Nesting-aware; unterminated containers consume to EOF.
    (A raw '</name' inside a child <script> string can close early — an
    accepted, deterministic corner of the frozen spec.)"""
    n = len(text)
    rx = _skip_re(name)
    if name == "head":
        m = rx.search(text, pos)
        if m is None:
            return n
        if m.group(0).lower().startswith("<body"):
            return m.start()  # leave <body> for the main loop
        return m.end()
    depth = 1
    while depth:
        m = rx.search(text, pos)
        if m is None:
            return n
        depth += -1 if text[m.start() + 1] == "/" else 1
        gt = text.find(">", m.end())
        pos = n if gt == -1 else gt + 1
    return pos


@dataclass
class Span:
    """One kept content block. ``start``/``end`` are UTF-8 byte offsets into
    the page text (re-based to document offsets at assembly time)."""

    page_index: int
    kind: str
    bbox: list[float]
    start: int
    end: int
    text: str


@dataclass
class PageResult:
    """Extraction output for one page (analog of DSResult,
    ``/root/reference/app/services/dsocr_model.py:177-182``)."""

    page_index: int
    text: str
    spans: list[Span] = field(default_factory=list)
    title: str | None = None


_TITLE_RE = re.compile(
    r"<title[^>]*>(.*?)</title", re.IGNORECASE | re.DOTALL
)


def _clean_title(raw: str) -> str | None:
    t = " ".join(_html.unescape(raw).split())
    return t or None


def _render_markdown(kind: str, tag: str | None, btext: str) -> str:
    """Frozen markdown rendering of a classified block (cfg.mode='markdown'):
    hN → N hashes, list items → '- ', pre → fenced. Tables stay flattened
    plain text (cell joins were already collapsed by the tokenizer). Spans
    carry the RENDERED text so byte offsets stay self-consistent."""
    if kind == "heading":
        level = int(tag[1]) if tag and len(tag) == 2 and tag[1].isdigit() else 2
        return "#" * level + " " + btext
    if kind == "list_item":
        return "- " + btext
    if kind == "pre":
        return "```\n" + btext + "\n```"
    return btext


def _classify(tag: str | None) -> str:
    if tag in _HEADINGS:
        return "heading"
    if tag == "li":
        return "list_item"
    if tag in _TABLEISH:
        return "table"
    if tag == "pre":
        return "pre"
    return "text"


def extract_html(payload: bytes, cfg: ExtractConfig = DEFAULT_CONFIG) -> PageResult:
    """Extract main content from one HTML payload → a single PageResult
    (HTML documents are one logical page; page_index is 1-based to match
    the reference, ``dsocr_model.py:391-395``)."""
    text, _enc = sniff_decode(payload)
    # first <title> wins (browser behavior); captured up-front since the
    # main loop fast-skips the <head> subtree wholesale
    tm = _TITLE_RE.search(text)
    title = _clean_title(tm.group(1)) if tm else None
    n = len(text)
    pos = 0
    link_depth = 0
    block_tag: str | None = "body"
    # current block accumulators. Link-density inputs are counted LAZILY:
    # link_texts collects only text seen inside <a>; the (identical) density
    # math runs at flush time and only when the block contains link text —
    # the common linkless block skips all counting work.
    pieces: list[str] = []
    link_texts: list[str] = []
    cur_chars = 0
    blocks: list[tuple[str, str | None, str]] = []  # (kind, tag, collapsed)
    n_blocks_seen = 0
    truncated = False

    def flush() -> None:
        nonlocal pieces, link_texts, cur_chars, n_blocks_seen
        if pieces:
            raw = "".join(pieces)
            if "&" in raw:
                raw = _html.unescape(raw)
            collapsed = " ".join(raw.split())
            if collapsed:
                n_blocks_seen += 1
                if link_texts:
                    total_nonws = len("".join(pieces).translate(_WS_DELETE))
                    link_nonws = len(
                        "".join(link_texts).translate(_WS_DELETE)
                    )
                    keep = (
                        total_nonws > 0
                        and (link_nonws / total_nonws) <= LINK_DENSITY_MAX
                    )
                else:
                    keep = True
                if keep:
                    blocks.append((_classify(block_tag), block_tag, collapsed))
        pieces = []
        link_texts = []
        cur_chars = 0

    search = _SCAN_RE.search
    while pos < n:
        m = search(text, pos)
        gap_end = m.start() if m else n
        if gap_end > pos:
            chunk = text[pos:gap_end]
            # both density counters see the SAME capped text: link text past
            # the max_block_chars cap never enters `pieces`, so it must not
            # inflate the numerator either (density could exceed 1 otherwise)
            if cur_chars < cfg.max_block_chars:
                kept = chunk[: cfg.max_block_chars - cur_chars]
                pieces.append(kept)
                cur_chars += len(chunk)
            else:
                kept = ""
            if link_depth > 0 and kept:
                link_texts.append(kept)
        if m is None:
            break
        comment, decl, closing, name, _attrs, selfclose = m.groups()
        if comment is not None:
            end = text.find("-->", m.start() + 4)
            pos = n if end == -1 else end + 3
            continue
        if decl is not None:
            end = text.find(">", m.start())
            pos = n if end == -1 else end + 1
            continue
        name = name.lower()
        pos = m.end()
        if not closing and not selfclose and name in _RAWTEXT:
            close = _rawtext_close(name).search(text, pos)
            pos = n if close is None else close.end()
            continue
        if name in _BOILER:
            flush()
            if selfclose or closing:
                continue  # stray close / void boiler tag: nothing to skip
            pos = _skip_subtree(text, pos, name)
            continue
        if name == "a":
            if closing:
                link_depth = max(0, link_depth - 1)
            elif not selfclose:
                link_depth += 1
            continue
        if name == "br":
            flush()
            continue
        if name not in _INLINE:
            flush()
            if n_blocks_seen >= cfg.max_blocks_per_doc:
                truncated = True
                break
            block_tag = name if not closing else None
            if closing:
                block_tag = None
        # inline non-anchor tags: no effect on the block

    if not truncated:
        flush()
    return assemble_page(blocks, cfg, title)


def assemble_page(
    blocks: list[tuple[str, str | None, str]],
    cfg: ExtractConfig,
    title: str | None,
) -> PageResult:
    """Shared block→PageResult assembly (this kernel and its strict test
    oracle): the span/offset math and markdown rendering are part of the
    frozen output spec and must be identical across both."""
    parts: list[str] = []
    spans: list[Span] = []
    byte_off = 0
    sep_bytes = len(PAGE_SEPARATOR.encode("utf-8"))
    markdown = cfg.mode == "markdown"
    for kind, tag, btext in blocks:
        if markdown:
            btext = _render_markdown(kind, tag, btext)
        if parts:
            byte_off += sep_bytes
        blen = len(btext.encode("utf-8"))
        spans.append(
            Span(
                page_index=1,
                kind=kind,
                bbox=[0.0, 0.0, 0.0, 0.0],
                start=byte_off,
                end=byte_off + blen,
                text=btext,
            )
        )
        parts.append(btext)
        byte_off += blen
    return PageResult(
        page_index=1,
        text=PAGE_SEPARATOR.join(parts),
        spans=spans,
        title=title,
    )
