"""The strict (html.parser) kernel, kept as a test oracle, must be
byte-identical to the production (regex tokenizer) kernel on the golden
corpus and on every behavioral snippet that kernel is specified by."""

import pandas as pd
import pytest

from pbx_ds_ocr_server_spark.config import ExtractConfig
from pbx_ds_ocr_server_spark.corpus import (
    synthesize_row,
    wrap_html_paras,
    wrap_html_plain,
    wrap_html_structured,
)
from pbx_ds_ocr_server_spark.kernels import extract_html
from pbx_ds_ocr_server_spark.kernels.html_extract_strict import (
    extract_html_strict,
)

SNIPPETS = [
    "<html><body><main><p>hello world</p></main></body></html>",
    "<body><p>one</p><p>two</p></body>",
    "<body><nav>skip me</nav><header>also</header><p>content</p>"
    "<aside>side</aside><footer>foot</footer></body>",
    "<body><div><a href='/'>link one</a> <a href='/'>link two</a> tiny</div>"
    "<p>real text that stays</p></body>",
    "<body><h1>head</h1><li>item</li><td>cell</td><p>text</p></body>",
    "<body><p>a &amp; b &lt;c&gt; &#233;</p></body>",
    "<body><script>var x = '<p>not text</p>';</script><p>yes</p></body>",
    "<body><noscript><p>nojs</p></noscript><p>real</p></body>",
    "<body><form><input><button>go</button></form><p>real</p></body>",
    "<body><p>line<br>break</p></body>",
    "<head><title>T</title><style>p{}</style></head><body><p>b</p></body>",
    "<!DOCTYPE html><html><!-- comment --><body><p>x</p></body></html>",
    "<body><nav><div><ul><li>deep</li></ul></div></nav><p>kept</p></body>",
    "<body><p>stray < bracket</p></body>",
    "<body><ul><li>one</li><li>two</li></ul></body>",
    "<body><pre>  spaced   code  </pre></body>",
    "<body></nav><p>after stray close</p></body>",
    "<body><nav/><p>after self-closed boiler</p></body>",
    "<body><textarea><p>ignored</p></textarea><p>real</p></body>",
    "<body><table><tr><td>c1</td><td>c2</td></tr></table></body>",
    "<body><main><h2>Head ing</h2><p>para one</p><li>item</li></main></body>",
]


def _compare(payload: bytes, cfg: ExtractConfig) -> None:
    a = extract_html(payload, cfg)
    b = extract_html_strict(payload, cfg)
    assert a.text == b.text
    assert a.title == b.title
    assert [(s.kind, s.start, s.end, s.text) for s in a.spans] == [
        (s.kind, s.start, s.end, s.text) for s in b.spans
    ]


@pytest.mark.parametrize("snippet", SNIPPETS)
def test_strict_matches_fast_on_snippet(snippet):
    _compare(snippet.encode("utf-8"), ExtractConfig())


@pytest.mark.parametrize("snippet", SNIPPETS)
def test_strict_matches_fast_markdown_mode(snippet):
    _compare(snippet.encode("utf-8"), ExtractConfig(mode="markdown"))


def test_strict_matches_fast_on_golden_corpus():
    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = ExtractConfig()
    n_html = 0
    for r in docs.itertuples():
        row = synthesize_row(int(r.doc_id), r.text, r.lang)
        if row["doc_class"] in ("plain", "paras", "boiler", "gb18030",
                                "latin1", "utf8_bom", "utf16", "html_cjk"):
            _compare(row["html"], cfg)
            n_html += 1
    # the threshold tracks the HTML-family share of 500 docs; it shifts
    # when the class table grows (v8: 269) because doc_class re-hashes
    assert n_html > 250


def test_strict_matches_fast_on_wrapped_modes():
    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(50)
    for r in docs.itertuples():
        norm = " ".join(str(r.text).split())
        for wrap in (wrap_html_plain, wrap_html_paras, wrap_html_structured):
            _compare(wrap(norm).encode("utf-8"), ExtractConfig())

