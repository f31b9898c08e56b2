"""Strict HTML kernel: the second reading the HTML kernel is diffed against.

Implements the SAME frozen extraction spec as ``html_extract`` (the regex-
tokenizer kernel that ``extract()`` runs) on top of the stdlib event parser
(``html.parser.HTMLParser``), which follows the HTML5 tokenizer rules for
entity references, broken attributes and CDATA content. Nothing in the
package calls it: it is the independent second reading that
``tests/test_html_strict_kernel.py`` diffs the production kernel against
(golden corpus, wrapped modes, every behavioral snippet), so a bug in
either implementation shows up as divergence on the same bytes.

Known, documented divergence corners (outside the golden corpus):
  * ``max_block_chars`` counts decoded characters here but raw
    (entity-encoded) characters in the fast kernel — differs only for
    entity-heavy blocks near the cap (default 1 MiB).
  * a literal ``</nav``-like token inside a child <script> of a boilerplate
    subtree can end the fast kernel's regex skip early; the event parser is
    exact.
"""

from __future__ import annotations

from html.parser import HTMLParser

from pbx_ds_ocr_server_spark.config import DEFAULT_CONFIG, ExtractConfig
from pbx_ds_ocr_server_spark.kernels.charset import sniff_decode
from pbx_ds_ocr_server_spark.kernels.html_extract import (
    LINK_DENSITY_MAX,
    _BOILER,
    _INLINE,
    _RAWTEXT,
    _TITLE_RE,
    _WS_DELETE,
    PageResult,
    _classify,
    _clean_title,
    assemble_page,
)


class _StrictExtractor(HTMLParser):
    """Event-driven port of the fast kernel's block state machine."""

    def __init__(self, cfg: ExtractConfig):
        super().__init__(convert_charrefs=True)
        self.cfg = cfg
        self.link_depth = 0
        self.block_tag: str | None = "body"
        self.pieces: list[str] = []
        self.link_texts: list[str] = []
        self.cur_chars = 0
        self.blocks: list[tuple[str, str | None, str]] = []
        self.n_blocks_seen = 0
        self.truncated = False
        self._skip_name: str | None = None  # boilerplate subtree
        self._skip_depth = 0
        self._raw_name: str | None = None  # rawtext element

    # ----------------------------------------------------------- block ops
    def _flush(self) -> None:
        if self.pieces:
            collapsed = " ".join("".join(self.pieces).split())
            if collapsed:
                self.n_blocks_seen += 1
                if self.link_texts:
                    total = len("".join(self.pieces).translate(_WS_DELETE))
                    link = len("".join(self.link_texts).translate(_WS_DELETE))
                    keep = total > 0 and (link / total) <= LINK_DENSITY_MAX
                else:
                    keep = True
                if keep:
                    self.blocks.append(
                        (_classify(self.block_tag), self.block_tag, collapsed)
                    )
        self.pieces = []
        self.link_texts = []
        self.cur_chars = 0

    def _block_boundary(self, name: str, closing: bool) -> None:
        self._flush()
        if self.n_blocks_seen >= self.cfg.max_blocks_per_doc:
            self.truncated = True
            return
        self.block_tag = None if closing else name

    # ------------------------------------------------------------- events
    def handle_data(self, data: str) -> None:
        if self.truncated or self._skip_name or self._raw_name or not data:
            return
        if self.cur_chars < self.cfg.max_block_chars:
            kept = data[: self.cfg.max_block_chars - self.cur_chars]
            self.pieces.append(kept)
            self.cur_chars += len(data)
        else:
            kept = ""
        if self.link_depth > 0 and kept:
            self.link_texts.append(kept)

    def handle_starttag(self, name: str, attrs) -> None:
        if self.truncated:
            return
        if self._skip_name:
            if self._skip_name == "head" and name == "body":
                # browsers implicitly close <head> at <body>
                self._skip_name = None
                self._skip_depth = 0
                self._block_boundary(name, closing=False)
            elif name == self._skip_name and name != "head":
                self._skip_depth += 1
            return
        if self._raw_name:
            return
        if name in _RAWTEXT:
            self._raw_name = name
            return
        if name in _BOILER:
            self._flush()
            self._skip_name = name
            self._skip_depth = 1
            return
        if name == "a":
            self.link_depth += 1
            return
        if name == "br":
            self._flush()
            return
        if name not in _INLINE:
            self._block_boundary(name, closing=False)

    def handle_endtag(self, name: str) -> None:
        if self.truncated:
            return
        if self._skip_name:
            if name == self._skip_name:
                if self._skip_name == "head":
                    self._skip_name = None
                    self._skip_depth = 0
                else:
                    self._skip_depth -= 1
                    if self._skip_depth == 0:
                        self._skip_name = None
            return
        if self._raw_name:
            if name == self._raw_name:
                self._raw_name = None
            return
        if name in _BOILER:
            self._flush()  # stray close with no open subtree: flush only
            return
        if name == "a":
            self.link_depth = max(0, self.link_depth - 1)
            return
        if name == "br":
            self._flush()
            return
        if name not in _INLINE:
            self._block_boundary(name, closing=True)

    def handle_startendtag(self, name: str, attrs) -> None:
        if self.truncated or self._skip_name or self._raw_name:
            return
        if name in _BOILER:
            self._flush()  # void/self-closed boiler: nothing to skip
            return
        if name == "a":
            return  # self-closed anchor carries no text
        if name == "br" or name not in _INLINE:
            if name == "br":
                self._flush()
            else:
                self._block_boundary(name, closing=False)


def extract_html_strict(
    payload: bytes, cfg: ExtractConfig = DEFAULT_CONFIG
) -> PageResult:
    """Strict-backend twin of :func:`html_extract.extract_html` — same
    signature, same frozen output spec, same assembly."""
    text, _enc = sniff_decode(payload)
    tm = _TITLE_RE.search(text)
    title = _clean_title(tm.group(1)) if tm else None
    p = _StrictExtractor(cfg)
    try:
        p.feed(text)
        p.close()
    except Exception:
        pass  # keep whatever parsed; defensive like the fast kernel's spec
    if not p.truncated:
        p._flush()
    return assemble_page(p.blocks, cfg, title)
