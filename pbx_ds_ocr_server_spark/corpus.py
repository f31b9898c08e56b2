"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1/§3).

The driver's ``documents`` table carries no raw payload bytes, so the
extraction input table mandated by the project input hint
``(url, warc_ts, html:binary, text, lang)`` is synthesized HERE, as a pure
function of each source row — no clock, no RNG state, no I/O — so the corpus
is byte-stable at every scale and parallelism level.

Document classes (keyed off a stable hash of the doc id):
  * plain HTML (utf-8) — whole text in one ``<main><p>``
  * paragraph HTML — text chunked into 10-word ``<p>`` blocks
  * boilerplate-heavy HTML — nav + link-dense sidebar + footer around main
  * charset variants — gb18030 / latin-1 / utf-8 with BOM / utf-16
  * PDF — 1-5 pages of text blocks at known coordinates
  * degenerate — empty payload / the reference's 14-byte invalid PDF fixture
    (``/root/reference/tests/test_endpoints.py:17``) / PNG magic-only rows
    (``/root/reference/tests/test_result_images_security.py:39``)

The *expected* extraction output for every class is constructed alongside the
payload (this module is also the golden oracle for the pytest suite).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import html as _html
import re
from typing import Iterator

import pandas as pd

_EPOCH = _dt.datetime(2025, 1, 1, 0, 0, 0)

# bump when synthesis logic changes — cache keys (e.g. bench staging paths)
# include it so stale staged corpora are never reused
CORPUS_VERSION = 10  # v10: + pdf_type3 (Differences-only Type3 charprocs
                     #      font) and pdf_cid_cff (Identity-H CIDFontType0
                     #      with an embedded CID-keyed CFF; Latin CIDs
                     #      recovered via the Adobe ordering prefix);
                     # v9: pdf_type1_builtin; v8: pdf_embedded_tt;
                     # v7: pdf_winansi / pdf_predefined_cmap / html_cjk /
                     #     pdf_incremental classes (round 4)

NAV = (
    '<nav class="top"><ul>'
    + "".join(f'<li><a href="/s/{i}">section {i}</a></li>' for i in range(8))
    + "</ul></nav>"
)
SIDEBAR = (
    '<div class="sidebar"><ul>'
    + "".join(
        f'<li><a href="/rel/{i}">related article number {i} click here</a></li>'
        for i in range(12)
    )
    + "</ul></div>"
)
FOOTER = (
    "<footer><p>© 2025 example corp - "
    + " ".join(f'<a href="/f/{i}">legal {i}</a>' for i in range(6))
    + "</p></footer>"
)
HEAD = (
    "<head><title>synthetic page</title>"
    '<style>body{margin:0}</style>'
    "<script>var tracker=1;</script></head>"
)


def _h(key: str) -> int:
    """Stable 64-bit hash (NOT Python's randomized hash())."""
    return int.from_bytes(hashlib.sha256(key.encode()).digest()[:8], "big")


def chunk_words(text: str, n: int = 10) -> list[str]:
    w = text.split(" ")
    return [" ".join(w[i : i + n]) for i in range(0, len(w), n)]


def wrap_html_plain(text: str) -> str:
    return (
        f"<!DOCTYPE html><html>{HEAD}<body>{NAV}"
        f"<main><p>{_html.escape(text)}</p></main>{SIDEBAR}{FOOTER}</body></html>"
    )


def wrap_html_paras_bare(text: str, words_per_para: int = 10) -> str:
    """Paragraph wrap with no boilerplate at all (oracle-friendly minimal case)."""
    paras = "".join(
        f"<p>{_html.escape(c)}</p>" for c in chunk_words(text, words_per_para)
    )
    return f"<html><body><main>{paras}</main></body></html>"


def wrap_html_paras(text: str, words_per_para: int = 10) -> str:
    paras = "".join(f"<p>{_html.escape(c)}</p>" for c in chunk_words(text, words_per_para))
    return (
        f"<!DOCTYPE html><html>{HEAD}<body>{NAV}"
        f"<main>{paras}</main>{SIDEBAR}{FOOTER}</body></html>"
    )


def wrap_html_structured(text: str, words_per_para: int = 10) -> str:
    """Deterministic structure for the markdown-mode oracle: chunk 0 is an
    <h2> heading, every 5th chunk (c % 5 == 4) an <li>, the rest <p>."""
    parts = []
    for i, c in enumerate(chunk_words(text, words_per_para)):
        esc = _html.escape(c)
        if i == 0:
            parts.append(f"<h2>{esc}</h2>")
        elif i % 5 == 4:
            parts.append(f"<li>{esc}</li>")
        else:
            parts.append(f"<p>{esc}</p>")
    return f"<html><body><main>{''.join(parts)}</main></body></html>"


# ---------------------------------------------------------------- PDF writer
def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _page_stream(items: list[tuple[float, float, str]], show) -> bytes:
    """One self-contained BT..ET content stream (Td chain from the origin).
    ``show(s)`` renders one text item as its show-operand token."""
    ops = ["BT", "/F1 12 Tf"]
    prev_x = prev_y = 0.0
    for x, y, s in items:
        ops.append(f"{x - prev_x:.1f} {y - prev_y:.1f} Td")
        ops.append(f"{show(s)} Tj")
        prev_x, prev_y = x, y
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


# CID glyph-index shift for the synthetic Type0 font: gid = ord(char) +
# 0x100. DELIBERATELY non-identity so a lazy "Identity-H == UTF-16BE"
# decoder produces garbage — only a kernel that actually reads the
# ToUnicode CMap round-trips the text.
_CID_SHIFT = 0x100


def _cid_hex(s: str) -> str:
    # chars whose shifted gid overflows 16 bits (ord >= 0xFF00 — fullwidth
    # punctuation, specials) are OMITTED: a 5-hex-digit code would
    # misalign the whole 2-byte show string and corrupt every later char.
    # Corpus texts never reach here (pdf_pages_for filters latin-1);
    # direct make_pdf callers get documented omission instead of garbage.
    return "".join(
        f"{ord(c) + _CID_SHIFT:04x}" for c in s if ord(c) + _CID_SHIFT <= 0xFFFF
    )


def _tounicode_cmap(chars: set[str]) -> bytes:
    """ToUnicode CMap for the shifted synthetic CID font: one bfrange covers
    printable ASCII, bfchar entries (chunked ≤100, per spec) cover the rest."""
    extra = sorted(
        c
        for c in chars
        if not (0x20 <= ord(c) <= 0x7E) and ord(c) + _CID_SHIFT <= 0xFFFF
    )
    lines = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CMapName /SynthToUni def",
        "/CMapType 2 def",
        "1 begincodespacerange",
        "<0000> <ffff>",
        "endcodespacerange",
        "1 beginbfrange",
        f"<{0x20 + _CID_SHIFT:04x}> <{0x7e + _CID_SHIFT:04x}> <0020>",
        "endbfrange",
    ]
    for i in range(0, len(extra), 100):
        chunk = extra[i : i + 100]
        lines.append(f"{len(chunk)} beginbfchar")
        for c in chunk:
            lines.append(f"<{ord(c) + _CID_SHIFT:04x}> <{ord(c):04x}>")
        lines.append("endbfchar")
    lines += [
        "endcmap",
        "CMap currentdict /CMap defineresource pop",
        "end",
        "end",
    ]
    return "\n".join(lines).encode("latin-1")


def make_truetype_cmap_font(chars: set[str], gid_shift: int = _CID_SHIFT) -> bytes:
    """Minimal sfnt program whose ONLY table is a 'cmap' carrying one
    (3,1) format-4 subtable mapping each char's codepoint → codepoint +
    ``gid_shift`` — the same deliberately non-identity gid convention as
    the pdf_cid class, so text recovery provably reads the table instead
    of assuming gid == unicode. Segments use the glyphIdArray form (the
    harder of format 4's two encodings) so the parser's offset arithmetic
    is exercised end-to-end. Real-renderer tables (glyf/head/...) are
    deliberately absent: the consumer is the text-first cmap reader.
    Chars whose shifted gid would overflow 16 bits (ord >= 0x10000 -
    gid_shift) are omitted, matching _cid_hex's show-string omission —
    they come back honest-lost, never misaligned."""
    cps = sorted({ord(c) for c in chars if ord(c) + gid_shift <= 0xFFFF})
    if not cps:
        cps = [0x20]
    # contiguous runs -> segments
    segs: list[tuple[int, int]] = []
    run_start = prev = cps[0]
    for cp in cps[1:]:
        if cp != prev + 1:
            segs.append((run_start, prev))
            run_start = cp
        prev = cp
    segs.append((run_start, prev))
    seg_count = len(segs) + 1  # + sentinel
    end_codes, start_codes, deltas, ros = [], [], [], []
    glyph_array: list[int] = []
    cum = 0
    for k, (s, e) in enumerate(segs):
        end_codes.append(e)
        start_codes.append(s)
        deltas.append(0)
        # idRangeOffset is in bytes from its OWN position in the ro array
        ros.append(2 * (seg_count - k) + 2 * cum)
        glyph_array.extend((cp + gid_shift) & 0xFFFF for cp in range(s, e + 1))
        cum += e - s + 1
    end_codes.append(0xFFFF)
    start_codes.append(0xFFFF)
    deltas.append(1)
    ros.append(0)

    def u16s(vals):
        return b"".join(v.to_bytes(2, "big") for v in vals)

    seg_x2 = seg_count * 2
    search_range = 2
    entry_selector = 0
    while search_range * 2 <= seg_x2:
        search_range *= 2
        entry_selector += 1
    body = (
        u16s(end_codes) + b"\x00\x00" + u16s(start_codes)
        + u16s(deltas) + u16s(ros) + u16s(glyph_array)
    )
    sub = (
        u16s([4, 14 + len(body), 0, seg_x2,
              search_range, entry_selector, seg_x2 - search_range])
        + body
    )
    cmap = u16s([0, 1, 3, 1]) + (12).to_bytes(4, "big") + sub
    font = (
        (0x00010000).to_bytes(4, "big")
        + u16s([1, 16, 0, 0])  # numTables, searchRange, entrySel, rangeShift
        + b"cmap" + (0).to_bytes(4, "big")
        + (28).to_bytes(4, "big") + len(cmap).to_bytes(4, "big")
        + cmap
    )
    return font


def make_type1_builtin_font(chars: set[str]) -> tuple[bytes, dict[str, int]]:
    """Minimal Type1 program whose cleartext declares a CUSTOM builtin
    /Encoding array: each char gets a sequential code from 0x21 (NOT its
    ASCII value — so text recovery provably reads the dup entries) mapped
    to its ``uniXXXX`` AGL name. Returns (program bytes, char → code).
    The eexec tail is opaque filler: the consumer is the cleartext
    /Encoding reader, exactly like a real extractor that never rasterizes
    glyph programs. One byte of codes holds 0xDE chars: overflow chars
    (unreachable from the corpus — pdf_pages_for's latin-1 filter caps
    distinct chars below that) are omitted from the code table AND from
    the show strings, never a crashed generation task."""
    codes = {c: 0x21 + i for i, c in enumerate(sorted(set(chars))[:0xDE])}
    dups = "\n".join(
        f"dup {code} /uni{ord(c):04X} put" for c, code in codes.items()
    )
    prog = (
        "%!PS-AdobeFont-1.0: SynthT1 001.001\n"
        "/FontName /SynthT1 def\n"
        "/Encoding 256 array\n"
        "0 1 255 {1 index exch /.notdef put} for\n"
        f"{dups}\n"
        "readonly def\n"
        "currentdict end\ncurrentfile eexec\n"
    ).encode("latin-1") + b"\x0c\x0d\x0e\x0f" * 8
    return prog, codes


def _cff_index(items: list[bytes]) -> bytes:
    """CFF INDEX with 1-byte offsets (synthetic fonts stay tiny)."""
    if not items:
        return b"\x00\x00"
    offs = [1]
    for it in items:
        offs.append(offs[-1] + len(it))
    return (
        len(items).to_bytes(2, "big")
        + b"\x01"
        + bytes(offs)
        + b"".join(items)
    )


def make_cidkeyed_cff(n_cids: int = 96) -> bytes:
    """Minimal CID-KEYED CFF (/FontFile3 /Subtype /CIDFontType0C shape):
    Top DICT carries the ROS operator (SIDs for the custom Registry and
    Ordering strings + supplement), the charset holds CIDs 1..n, not glyph
    names. The text layer deliberately does NOT decode through this
    program — `kernels/pdf_fonts.cff_simple_code_map` declines CID-keyed
    fonts by design; the pdf_cid_cff corpus class recovers its Latin CIDs
    through the descendant font's /CIDSystemInfo ordering instead."""
    header = bytes([1, 0, 4, 2])
    name_idx = _cff_index([b"SynthCID"])
    string_idx = _cff_index([b"Adobe", b"Japan1"])  # SIDs 391, 392
    gsubr = b"\x00\x00"
    charset = b"\x00" + b"".join(
        cid.to_bytes(2, "big") for cid in range(1, n_cids)
    )
    charstrings = _cff_index([b"\x0e"] * n_cids)  # endchar per glyph

    def topdict(chset_off: int, cstr_off: int) -> bytes:
        return (
            b"\x1c\x01\x87\x1c\x01\x88\x8d\x0c\x1e"  # 391 392 2 ROS
            + b"\x1d" + chset_off.to_bytes(4, "big") + b"\x0f"  # charset
            + b"\x1d" + cstr_off.to_bytes(4, "big") + b"\x11"  # CharStrings
        )

    td = topdict(0, 0)
    for _ in range(2):  # sizes first, then real offsets
        td_idx = _cff_index([td])
        base = (
            len(header) + len(name_idx) + len(td_idx)
            + len(string_idx) + len(gsubr)
        )
        td = topdict(base, base + len(charset))
    return (
        header + name_idx + _cff_index([td]) + string_idx + gsubr
        + charset + charstrings
    )


def make_pdf(
    pages: list[list[tuple[float, float, str]]],
    streams_per_page: int = 1,
    hex_strings: bool = False,
    font: str = "simple",
    encrypt: str | None = None,
    title: str | None = None,
) -> bytes:
    """Minimal valid single-xref PDF (latin-1-encodable text only).

    ``streams_per_page > 1`` splits each page's text items across that many
    content streams referenced via the ARRAY form ``/Contents [a 0 R b 0 R]``
    (each stream self-contained BT..ET); ``hex_strings`` shows text with
    ``<hex> Tj`` instead of literal strings — the two real-world PDF shapes
    the round-1 kernel was blind to.

    ``font`` picks the real-world font shape:
      * 'simple'   — Type1 /Helvetica, codes are bytes (round-1 shape)
      * 'cid'      — Type0 /Identity-H composite font whose show-text bytes
                     are SHIFTED glyph indices (gid = ord+0x100) with a
                     /ToUnicode CMap (bfrange + bfchar) — decodable only by
                     actually reading the CMap
      * 'cid_noto' — same Type0 shape but NO /ToUnicode: the bytes are
                     provably glyph indices with no map (the honesty case —
                     a text-first parser must yield empty, never mojibake)

    ``encrypt`` ∈ {None, 'rc4-40', 'rc4-128', 'aes-128', 'aes-256'}:
    standard-security-handler encryption with an owner password only — the
    EMPTY user password opens the document (the dominant "encrypted" shape
    in real crawls). 'aes-128' writes the /V 4 /R 4 crypt-filter form
    (/StdCF /CFM /AESV2, PDF 1.6+); 'aes-256' the /V 5 /R 6 /CFM /AESV3
    form (PDF 2.0: Algorithm 2.B password KDF, file key wrapped in /UE)."""
    objs: list[bytes] = []
    n_pages = len(pages)
    k = max(1, streams_per_page)
    per_page = 1 + k  # page object + k content streams
    kids = " ".join(f"{3 + per_page * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    t1_codes: dict[str, int] = {}
    t3_codes: dict[str, int] = {}
    if font == "type1_builtin":
        t1_chars = {c for page in pages for _, _, s in page for c in s}
        t1_font, t1_codes = make_type1_builtin_font(t1_chars)
        show = lambda s: (  # noqa: E731
            "<" + "".join(f"{t1_codes[c]:02x}" for c in s if c in t1_codes)
            + ">"
        )
    elif font == "type3":
        # sequential non-ASCII codes, same overflow discipline as
        # type1_builtin: chars past the 0xDE-slot table (unreachable —
        # pdf_pages_for's latin-1 filter caps the alphabet) are omitted
        # from show strings, never a crash
        t3_chars = sorted(
            {c for page in pages for _, _, s in page for c in s}
        )[:0xDE]
        t3_codes = {c: 0x21 + i for i, c in enumerate(t3_chars)}
        show = lambda s: (  # noqa: E731
            "<" + "".join(f"{t3_codes[c]:02x}" for c in s if c in t3_codes)
            + ">"
        )
    elif font == "cid_latin":
        # Identity-H over a classic Adobe ordering: show codes are CIDs,
        # Latin prefix CID = ord - 31 (callers pre-filter to ASCII)
        show = lambda s: (  # noqa: E731
            "<"
            + "".join(
                f"{ord(c) - 31:04x}" for c in s if 32 <= ord(c) <= 126
            )
            + ">"
        )
    elif font in ("cid", "embedded_tt"):
        show = lambda s: f"<{_cid_hex(s)}>"  # noqa: E731
    elif font == "cid_noto":
        show = lambda s: f"<{''.join(f'{ord(c):04x}' for c in s)}>"  # noqa: E731
    elif font == "ucs2":
        # predefined Uni*-UCS2 CMap: show bytes ARE UTF-16BE text (encode,
        # don't format ord() — a non-BMP char needs its surrogate PAIR,
        # not a 5-digit hex that would misalign the whole string)
        show = lambda s: f"<{s.encode('utf-16-be').hex()}>"  # noqa: E731
    elif font == "winansi":
        # /WinAnsiEncoding simple font: show bytes are cp1252
        show = lambda s: f"<{s.encode('cp1252').hex()}>"  # noqa: E731
    elif hex_strings:
        show = lambda s: f"<{s.encode('utf-8').hex()}>"  # noqa: E731
    else:
        show = lambda s: f"({_pdf_escape(s)})"  # noqa: E731
    font_ref = 3 + per_page * n_pages
    for i, items in enumerate(pages):
        refs = [4 + per_page * i + j for j in range(k)]
        if k == 1:
            contents = f"/Contents {refs[0]} 0 R"
        else:
            contents = "/Contents [" + " ".join(f"{r} 0 R" for r in refs) + "]"
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"{contents} /Resources << /Font << /F1 "
                f"{font_ref} 0 R >> >> >>"
            ).encode()
        )
        # split items round-robin-free: contiguous chunks keep y-order
        chunk = max(1, (len(items) + k - 1) // k)
        for j in range(k):
            stream = _page_stream(items[j * chunk : (j + 1) * chunk], show)
            objs.append(
                b"<< /Length %d >>\nstream\n%s\nendstream"
                % (len(stream), stream)
            )
    if font == "type3":
        # Type3 charprocs font: per ISO 32000-1 §9.6.5 its /Encoding
        # /Differences IS the authoritative code→glyph-name table — the
        # uniXXXX names route back to text through the AGL machinery (a
        # parser that skips Type3 fonts loses a perfectly-decodable doc);
        # the glyph procedures themselves only DRAW (d0 + painting ops)
        proc_ref = font_ref + 1
        diffs = " ".join(
            f"{code} /uni{ord(c):04X}"
            for c, code in sorted(t3_codes.items(), key=lambda kv: kv[1])
        )
        charprocs = " ".join(
            f"/uni{ord(c):04X} {proc_ref} 0 R" for c in t3_codes
        )
        objs.append(
            (
                f"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 10 10]"
                f" /FontMatrix [0.001 0 0 0.001 0 0]"
                f" /CharProcs << {charprocs} >>"
                f" /Encoding << /Type /Encoding /Differences [{diffs}] >>"
                f" /FirstChar 33 /LastChar 255 >>"
            ).encode()
        )
        proc = b"10 0 d0 0 0 m 10 10 l S"
        objs.append(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(proc), proc)
        )
    elif font == "cid_latin":
        # Type0/Identity-H + CIDFontType0 with an embedded CID-KEYED CFF
        # and NO /ToUnicode: the program's charset maps to CIDs, not glyph
        # names (cff_simple_code_map declines by design); the recoverable
        # route is the /CIDSystemInfo ordering's published Latin prefix
        # (CIDs 1-95 = U+0020..U+007E)
        desc_ref, fd_ref, ff_ref = font_ref + 1, font_ref + 2, font_ref + 3
        objs.append(
            (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCIDCFF"
                f" /Encoding /Identity-H /DescendantFonts [{desc_ref} 0 R]"
                f" >>"
            ).encode()
        )
        objs.append(
            (
                f"<< /Type /Font /Subtype /CIDFontType0"
                f" /BaseFont /SynthCIDCFF"
                f" /CIDSystemInfo << /Registry (Adobe) /Ordering (Japan1)"
                f" /Supplement 2 >> /FontDescriptor {fd_ref} 0 R >>"
            ).encode()
        )
        objs.append(
            (
                f"<< /Type /FontDescriptor /FontName /SynthCIDCFF /Flags 4"
                f" /FontFile3 {ff_ref} 0 R >>"
            ).encode()
        )
        cff = make_cidkeyed_cff()
        objs.append(
            b"<< /Subtype /CIDFontType0C /Length %d >>\nstream\n%s\nendstream"
            % (len(cff), cff)
        )
    elif font == "type1_builtin":
        # Type1 simple font with NO /Encoding entry in the font dict: the
        # custom code→glyph-name table lives only in the embedded
        # program's builtin /Encoding (non-ASCII codes — reading the dup
        # entries is the only route back to text)
        fd_ref, ff_ref = font_ref + 1, font_ref + 2
        objs.append(
            (
                f"<< /Type /Font /Subtype /Type1 /BaseFont /SynthT1"
                f" /FontDescriptor {fd_ref} 0 R >>"
            ).encode()
        )
        objs.append(
            (
                f"<< /Type /FontDescriptor /FontName /SynthT1 /Flags 4"
                f" /FontFile {ff_ref} 0 R >>"
            ).encode()
        )
        objs.append(
            b"<< /Length %d /Length1 %d >>\nstream\n%s\nendstream"
            % (len(t1_font), len(t1_font), t1_font)
        )
    elif font == "embedded_tt":
        # Type0/Identity-H with NO /ToUnicode: the only route back to text
        # is the embedded TrueType program's (3,1) cmap (shifted gids),
        # reached via DescendantFonts -> FontDescriptor -> FontFile2
        desc_ref, fd_ref, ff_ref = font_ref + 1, font_ref + 2, font_ref + 3
        objs.append(
            (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /SynthEmb"
                f" /Encoding /Identity-H /DescendantFonts [{desc_ref} 0 R]"
                f" >>"
            ).encode()
        )
        objs.append(
            (
                f"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthEmb"
                f" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
                f" /Supplement 0 >> /CIDToGIDMap /Identity"
                f" /FontDescriptor {fd_ref} 0 R >>"
            ).encode()
        )
        objs.append(
            (
                f"<< /Type /FontDescriptor /FontName /SynthEmb /Flags 4"
                f" /FontFile2 {ff_ref} 0 R >>"
            ).encode()
        )
        chars = {c for page in pages for _, _, s in page for c in s}
        tt = make_truetype_cmap_font(chars)
        objs.append(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(tt), tt)
        )
    elif font in ("cid", "cid_noto"):
        desc_ref = font_ref + 1
        tount = f" /ToUnicode {font_ref + 2} 0 R" if font == "cid" else ""
        objs.append(
            (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID"
                f" /Encoding /Identity-H /DescendantFonts [{desc_ref} 0 R]"
                f"{tount} >>"
            ).encode()
        )
        objs.append(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthCID"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
            b" /Supplement 0 >> >>"
        )
        if font == "cid":
            chars = {c for page in pages for _, _, s in page for c in s}
            cmap = _tounicode_cmap(chars)
            objs.append(
                b"<< /Length %d >>\nstream\n%s\nendstream"
                % (len(cmap), cmap)
            )
    elif font == "ucs2":
        # Type0 with a predefined UCS-2 CMap and NO ToUnicode: the codes
        # themselves are Unicode — a parser that classifies the CMap name
        # recovers the text; one that treats all Type0 as glyph-indexed
        # loses a perfectly-decodable document
        desc_ref = font_ref + 1
        objs.append(
            (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /SynthGB"
                f" /Encoding /UniGB-UCS2-H /DescendantFonts"
                f" [{desc_ref} 0 R] >>"
            ).encode()
        )
        objs.append(
            b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /SynthGB"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (GB1)"
            b" /Supplement 5 >> >>"
        )
    elif font == "winansi":
        objs.append(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding /WinAnsiEncoding >>"
        )
    else:
        objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    trailer_extra = b""
    info_idx = None
    info_raw = b""
    if title is not None:
        # UTF-16BE with BOM as a hex string — the common real-world shape
        # for non-ASCII titles (exercises the text-string decode rule)
        info_raw = b"\xfe\xff" + title.encode("utf-16-be")
        info_idx = len(objs)
        objs.append(b"<< /Title <" + info_raw.hex().encode() + b"> >>")
        trailer_extra += f" /Info {info_idx + 1} 0 R".encode()
    if encrypt is not None:
        from pbx_ds_ocr_server_spark.kernels import pdf_crypt as _pc

        aes = encrypt in ("aes-128", "aes-256")
        aes256 = encrypt == "aes-256"
        file_id = hashlib.md5(
            b"pbx-synth-id:" + repr(pages).encode("utf-8", "replace")
        ).digest()
        p = -44
        if aes256:
            v, r, bits = 5, 6, 256
            key = hashlib.sha256(b"pbx-synth-key:" + file_id).digest()
            vs = hashlib.md5(file_id + b":vs").digest()[:8]
            ks = hashlib.md5(file_id + b":ks").digest()[:8]
            u, ue = _pc.r6_make_u_ue(key, b"", vs, ks)
            ovs = hashlib.md5(file_id + b":ovs").digest()[:8]
            oks = hashlib.md5(file_id + b":oks").digest()[:8]
            o, oe = _pc.r6_make_u_ue(key, b"owner-secret", ovs, oks, udata=u)
        else:
            if aes:
                r, bits, v = 4, 128, 4
            elif encrypt == "rc4-40-cf":
                # 40-bit RC4 wrapped in a /V 4 crypt filter (/CFM /V2,
                # /StdCF /Length 5 bytes) — a real-crawl shape where the
                # key length lives in the CF entry, not the top-level dict
                r, bits, v = 4, 40, 4
            else:
                r, bits = (2, 40) if encrypt == "rc4-40" else (3, 128)
                v = 1 if bits == 40 else 2
            o = _pc.compute_o(b"owner-secret", b"", r, bits)
            key = _pc.file_key(b"", o, p, file_id, bits, r)
            u = _pc.compute_u(key, file_id, r)
            ue = oe = b""

        def enc_bytes(obj_num: int, raw: bytes) -> bytes:
            if aes:
                # R6 uses the file key directly; R4 salts it per object
                k = key if aes256 else _pc.object_key_aes(key, obj_num, 0)
                iv = hashlib.md5(b"synth-iv:%d" % obj_num).digest()
                return _pc.aes128_cbc_encrypt(k, raw, iv)
            return _pc.rc4(_pc.object_key(key, obj_num, 0), raw)

        for idx, body in enumerate(objs):
            # every stream written above carries a true direct /Length:
            # frame the data by it, so a final 0x0D data byte is encrypted
            # too (an EOL-before-endstream scan would leave it out)
            lm = re.search(rb"/Length (\d+)", body)
            sm = re.search(rb"stream\n", body)
            if lm and sm:
                start, end = sm.end(), sm.end() + int(lm.group(1))
                enc = enc_bytes(idx + 1, body[start:end])
                # AES grows the stream (IV + PKCS#7 pad): keep /Length true
                objs[idx] = (
                    body[: lm.start(1)] + b"%d" % len(enc)
                    + body[lm.end(1) : start] + enc + body[end:]
                )
        if info_idx is not None:
            # strings are encrypted with the same per-object key as streams
            enc_t = enc_bytes(info_idx + 1, info_raw)
            objs[info_idx] = b"<< /Title <" + enc_t.hex().encode() + b"> >>"
        enc_num = len(objs) + 1
        if aes256:
            cf = (
                " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
                " /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
            )
            # /Perms is REQUIRED for the V5 standard handler (ISO 32000-2):
            # AES-256-ECB of [P as 4-byte LE | 0xFF*4 | 'T' | 'adb' | pad]
            perms_block = (
                (p & 0xFFFFFFFF).to_bytes(4, "little")
                + b"\xff\xff\xff\xff"
                + b"T"  # EncryptMetadata true
                + b"adb"
                + b"synt"  # bytes 12-15: arbitrary per spec
            )
            perms = _pc._aes_encrypt_block(_pc._expand_key(key), perms_block)
            extra = (
                f" /UE <{ue.hex()}> /OE <{oe.hex()}>"
                f" /Perms <{perms.hex()}> /EncryptMetadata true"
            )
        elif aes:
            cf = (
                " /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen"
                " /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
            )
            extra = ""
        elif encrypt == "rc4-40-cf":
            cf = (
                " /CF << /StdCF << /CFM /V2 /AuthEvent /DocOpen"
                " /Length 5 >> >> /StmF /StdCF /StrF /StdCF"
            )
            extra = ""
        else:
            cf = ""
            extra = ""
        # top-level /Length: for the rc4-40-cf shape deliberately write the
        # (wrong) V4 default 128 — real producers do, and a parser that
        # reads it instead of the /StdCF entry's /Length 5 derives a bad
        # key and fails /U verification (the regression this shape pins)
        top_len = 128 if encrypt == "rc4-40-cf" else bits
        objs.append(
            (
                f"<< /Filter /Standard /V {v} /R {r} /Length {top_len}{cf}"
                f" /P {p} /O <{o.hex()}> /U <{u.hex()}>{extra} >>"
            ).encode()
        )
        trailer_extra += (
            f" /Encrypt {enc_num} 0 R"
            f" /ID [<{file_id.hex()}> <{file_id.hex()}>]"
        ).encode()

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, trailer_extra, xref_at)
    )
    return bytes(out)


def make_pdf_incremental(
    pages_v1: list[list[tuple[float, float, str]]],
    pages_v2: list[list[tuple[float, float, str]]],
) -> bytes:
    """A PDF with one incremental update (ISO 32000-1 §7.5.6): the original
    body carries ``pages_v1``'s content streams, then an APPENDED update
    section redefines each content-stream object with ``pages_v2``'s text,
    plus a second xref whose trailer chains to the first via /Prev. The
    CURRENT text of the document is pages_v2 — a parser must honor
    last-object-wins (real crawls are full of incrementally-updated
    documents: annotations, form fills, resaves).

    Both page lists must have the same length (the update rewrites content
    streams only — the page tree is untouched)."""
    if len(pages_v1) != len(pages_v2):
        raise ValueError("incremental update must keep the page count")
    base = make_pdf(pages_v1)
    m = re.search(rb"startxref\n(\d+)\n%%EOF\n$", base)
    prev_xref = int(m.group(1))
    size = int(re.search(rb"/Size (\d+)", base).group(1))
    show = lambda s: f"({_pdf_escape(s)})"  # noqa: E731
    out = bytearray(base)
    updates: list[tuple[int, int]] = []  # (obj_num, offset)
    for i, items in enumerate(pages_v2):
        # make_pdf object layout at streams_per_page=1: page i's content
        # stream is object 4 + 2*i (catalog=1, pages=2, page_i=3+2i)
        obj_num = 4 + 2 * i
        stream = _page_stream(items, show)
        updates.append((obj_num, len(out)))
        out += b"%d 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (
            obj_num,
            len(stream),
            stream,
        )
    xref_at = len(out)
    out += b"xref\n"
    for obj_num, off in updates:  # one subsection per updated object
        out += b"%d 1\n%010d 00000 n \n" % (obj_num, off)
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (size, prev_xref, xref_at)
    )
    return bytes(out)


def pdf_pages_for(
    text: str, n_pages: int, charset: str = "latin-1"
) -> list[list[tuple[float, float, str]]]:
    """Deterministic page layout: chunk text into per-page 8-word lines laid
    out top-down at y = 700, 680, ... The text is filtered to ``charset``-
    encodable characters ('latin-1' default matches the literal-string
    writer; pass 'cp1252' for winansi fonts, 'utf-16-be' for UCS-2 CMap
    fonts); a text with NO encodable content falls back to a fixed ASCII
    placeholder so pdf-class docs always carry extractable text and the
    class→status oracle stays exact."""
    # re-normalize whitespace after the filter: dropping a run of
    # unencodable chars (CJK in a latin-1 page) leaves stray spaces that
    # would otherwise become empty words / whitespace-only lines
    safe = " ".join(text.encode(charset, "ignore").decode(charset).split())
    if not safe:
        safe = "untitled document"
    lines = chunk_words(safe, 8)
    per_page = max(1, (len(lines) + n_pages - 1) // n_pages)
    pages = []
    for p in range(n_pages):
        chunk = lines[p * per_page : (p + 1) * per_page]
        pages.append(
            [(72.0, 700.0 - 20.0 * j, line) for j, line in enumerate(chunk)]
        )
    return pages


# ----------------------------------------------------------- raster writers
def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    # single source of truth for chunk framing: the pixel codec's writer
    from pbx_ds_ocr_server_spark.kernels.png_codec import png_chunk

    return png_chunk(ctype, data)


def make_png(text_items: list[tuple[str, str]], w: int = 4, h: int = 4) -> bytes:
    """Tiny valid PNG carrying (keyword, value) metadata: latin-1-encodable
    values as tEXt, others as iTXt (UTF-8)."""
    import zlib as _zlib

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    out = bytearray(b"\x89PNG\r\n\x1a\n") + _png_chunk(b"IHDR", ihdr)
    for k, v in text_items:
        kb = k.encode("latin-1", "ignore")
        try:
            out += _png_chunk(b"tEXt", kb + b"\x00" + v.encode("latin-1"))
        except UnicodeEncodeError:
            out += _png_chunk(
                b"iTXt", kb + b"\x00\x00\x00\x00\x00" + v.encode("utf-8")
            )
    raw = (b"\x00" + b"\x00" * (w * 3)) * h
    out += _png_chunk(b"IDAT", _zlib.compress(raw)) + _png_chunk(b"IEND", b"")
    return bytes(out)


def split_for_com(text: str, limit: int = 60000) -> list[str]:
    """Split text on word boundaries into chunks whose UTF-8 encoding fits a
    JPEG COM segment (max payload 65533 bytes). Mirrors what make_jpeg
    writes, so expected_text stays derivable."""
    def hard_split(w: str) -> list[str]:
        # a single "word" over the cap (minified JS, base64 blob): split on
        # character boundaries so every piece's UTF-8 fits
        out, cur, cur_b = [], [], 0
        for ch in w:
            cb = len(ch.encode("utf-8"))
            if cur and cur_b + cb > limit:
                out.append("".join(cur))
                cur, cur_b = [], 0
            cur.append(ch)
            cur_b += cb
        if cur:
            out.append("".join(cur))
        return out

    chunks: list[str] = []
    cur: list[str] = []
    cur_bytes = 0
    for word in text.split(" "):
        for w in hard_split(word) if len(word.encode("utf-8")) > limit else [word]:
            wb = len(w.encode("utf-8")) + (1 if cur else 0)
            if cur and cur_bytes + wb > limit:
                chunks.append(" ".join(cur))
                cur, cur_bytes = [], 0
                wb = len(w.encode("utf-8"))
            cur.append(w)
            cur_bytes += wb
    if cur:
        chunks.append(" ".join(cur))
    return chunks


def make_jpeg(comments: list[str]) -> bytes:
    """Minimal JPEG: SOI + COM segments (UTF-8) + EOI. Comments longer than
    one segment's 65533-byte payload cap are split on word boundaries
    (split_for_com) instead of overflowing the 2-byte length field."""
    out = bytearray(b"\xff\xd8")
    for c in comments:
        for chunk in split_for_com(c):
            data = chunk.encode("utf-8")
            out += b"\xff\xfe" + (len(data) + 2).to_bytes(2, "big") + data
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------------- corpus rows
CLASSES = (
    "plain",        # 0
    "paras",        # 1
    "boiler",       # 2  (same as paras but scorer must drop heavy sidebar)
    "gb18030",      # 3
    "latin1",       # 4
    "utf8_bom",     # 5
    "utf16",        # 6
    "pdf",          # 7
    "pdf_multistream",  # 8  (/Contents array + hex strings)
    "empty",        # 9
    "bad_pdf",      # 10
    "png",          # 11  (magic-only degenerate: no metadata -> noop)
    "png_text",     # 12  (tEXt Title + iTXt Description)
    "jpeg_com",     # 13  (COM comment segment)
    "pdf_cid",      # 14  (Type0/Identity-H + ToUnicode CMap, shifted gids)
    "pdf_encrypted_rc4",  # 15  (owner-locked RC4; empty user pwd opens)
    "pdf_cid_noto",       # 16  (Type0/Identity-H, NO ToUnicode -> honest empty)
    "pdf_winansi",        # 17  (/Encoding /WinAnsiEncoding, cp1252 bytes)
    "pdf_predefined_cmap",  # 18  (Type0 /UniGB-UCS2-H, UTF-16BE codes)
    "html_cjk",           # 19  (shift_jis / euc-jp / big5 declared charset)
    "pdf_incremental",    # 20  (appended update section, /Prev xref chain)
    "pdf_embedded_tt",    # 21  (Type0/Identity-H, no ToUnicode; text lives
                          #      in the embedded TrueType (3,1) cmap)
    "pdf_type1_builtin",  # 22  (simple Type1, no /Encoding in the font
                          #      dict; codes live in the embedded
                          #      program's builtin /Encoding array)
    "pdf_type3",          # 23  (Type3 charprocs font; /Differences is the
                          #      only code->text route)
    "pdf_cid_cff",        # 24  (Identity-H CIDFontType0, embedded
                          #      CID-keyed CFF, no ToUnicode; Latin CIDs
                          #      recovered via the Adobe-Japan1 ordering)
)

# weights: mostly HTML, some PDFs, few degenerates/rasters
_CLASS_TABLE = (
    ["plain"] * 6
    + ["paras"] * 6
    + ["boiler"] * 6
    + ["gb18030", "latin1", "utf8_bom", "utf16"]
    + ["pdf"] * 3
    + ["pdf_multistream"] * 2
    + ["empty", "bad_pdf", "png", "png_text", "jpeg_com"]
    + ["pdf_cid", "pdf_encrypted_rc4", "pdf_cid_noto"]
    + ["pdf_winansi", "pdf_predefined_cmap", "html_cjk", "pdf_incremental"]
    + ["pdf_embedded_tt", "pdf_type1_builtin"]
    + ["pdf_type3", "pdf_cid_cff"]
)


def doc_class(doc_id: int) -> str:
    return _CLASS_TABLE[_h(f"class:{doc_id}") % len(_CLASS_TABLE)]


def synthesize_row(doc_id: int, text: str, lang: str) -> dict:
    """One corpus row. ``url`` host is Zipf-ish (hash-skewed so a few hosts
    dominate — exercises salting, FIXTURES.md §1)."""
    cls = doc_class(doc_id)
    hv = _h(f"host:{doc_id}")
    # Zipf-ish: half of docs land on 4 hot hosts, rest spread over 4096
    host = hv % 4 if hv % 2 == 0 else 4 + (hv % 4096)
    url = f"https://host{host}.example/{cls}/{doc_id}"
    ts = _EPOCH + _dt.timedelta(seconds=doc_id)
    expected: str | None
    if cls == "plain":
        payload = wrap_html_plain(text).encode("utf-8")
        expected = text
    elif cls in ("paras", "boiler"):
        payload = wrap_html_paras(text).encode("utf-8")
        expected = "\n\n".join(chunk_words(text, 10))
    elif cls == "gb18030":
        body = wrap_html_paras(text).replace(
            "<head>", '<head><meta charset="gb18030">', 1
        )
        payload = body.encode("gb18030")
        expected = "\n\n".join(chunk_words(text, 10))
    elif cls == "latin1":
        safe = text.encode("latin-1", "ignore").decode("latin-1")
        body = wrap_html_plain(safe).replace(
            "<head>", '<head><meta charset="iso-8859-1">', 1
        )
        payload = body.encode("latin-1")
        expected = safe
    elif cls == "utf8_bom":
        payload = b"\xef\xbb\xbf" + wrap_html_plain(text).encode("utf-8")
        expected = text
    elif cls == "utf16":
        payload = wrap_html_plain(text).encode("utf-16")  # emits BOM
        expected = text
    elif cls == "pdf":
        n_pages = 1 + _h(f"npages:{doc_id}") % 5
        pages = pdf_pages_for(text, n_pages)
        payload = make_pdf(pages)
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "pdf_multistream":
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        pages = pdf_pages_for(text, n_pages)
        payload = make_pdf(pages, streams_per_page=2, hex_strings=True)
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "pdf_cid":
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        pages = pdf_pages_for(text, n_pages)
        payload = make_pdf(pages, font="cid")
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "pdf_encrypted_rc4":
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        pages = pdf_pages_for(text, n_pages)
        enc = "rc4-40" if _h(f"enc:{doc_id}") % 2 == 0 else "rc4-128"
        payload = make_pdf(pages, encrypt=enc)
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "pdf_cid_noto":
        # glyph-indexed with no ToUnicode: the honest outcome is EMPTY text
        # with status succeeded_empty — never mojibake-as-success
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        payload = make_pdf(pdf_pages_for(text, n_pages), font="cid_noto")
        expected = None
    elif cls == "pdf_winansi":
        # /Encoding /WinAnsiEncoding with NO /Differences and NO /ToUnicode:
        # show bytes are cp1252 — recoverable only through the Annex D base
        # encoding table (the accent phrase makes the high bytes real)
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        pages = pdf_pages_for(
            "Café déjà-vu Ångström – résumé € " + text,
            n_pages,
            charset="cp1252",
        )
        payload = make_pdf(pages, font="winansi")
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "pdf_predefined_cmap":
        # Type0 with the predefined /UniGB-UCS2-H CMap and no ToUnicode:
        # the show codes ARE UTF-16BE text — a CMap-name classifier
        # recovers it; treating all Type0 as glyph-indexed loses the doc
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        pages = pdf_pages_for(
            "中文 文档 解析 测试 " + text, n_pages, charset="utf-16-be"
        )
        payload = make_pdf(pages, font="ucs2")
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "html_cjk":
        # declared shift_jis / euc-jp / big5 page (WHATWG label → stdlib
        # codec); the injected phrase guarantees real multibyte content
        enc, inj = (
            ("shift_jis", "日本語 テスト 文書"),
            ("euc-jp", "日本語 解析 文書"),
            ("big5", "中文 測試 文件"),
        )[_h(f"cjk:{doc_id}") % 3]
        from pbx_ds_ocr_server_spark.kernels.charset import _ALIASES

        codec = _ALIASES.get(enc, enc)
        safe = " ".join(
            (inj + " " + text).encode(codec, "ignore").decode(codec).split()
        )
        body = wrap_html_plain(safe).replace(
            "<head>", f'<head><meta charset="{enc}">', 1
        )
        # 'ignore' drops unencodable BOILERPLATE chars (the © in the
        # footer template is not cp932-encodable); the <main> content is
        # `safe`, already codec-filtered, so expected_text is unaffected
        payload = body.encode(codec, "ignore")
        expected = safe
    elif cls == "pdf_embedded_tt":
        # Type0/Identity-H with NO ToUnicode: recoverable ONLY by reading
        # the embedded TrueType program's (3,1) cmap and inverting it
        # (shifted gids — a gid==unicode assumption emits garbage)
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        pages = pdf_pages_for(text, n_pages)
        payload = make_pdf(pages, font="embedded_tt")
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "pdf_type1_builtin":
        # simple Type1, custom non-ASCII codes: only the embedded
        # program's builtin /Encoding array (dup N /uniXXXX put) maps the
        # show bytes back to text
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        pages = pdf_pages_for(text, n_pages)
        payload = make_pdf(pages, font="type1_builtin")
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "pdf_type3":
        # Type3 charprocs font: /Encoding /Differences (uniXXXX names) is
        # the authoritative, and only, code->text route (§9.6.5) — the
        # glyph procedures just draw
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        pages = pdf_pages_for(text, n_pages)
        payload = make_pdf(pages, font="type3")
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "pdf_cid_cff":
        # Identity-H + CID-keyed CFF descendant, no ToUnicode: the CFF
        # charset holds CIDs (the simple-font CFF reader declines by
        # design); text comes back through the /CIDSystemInfo ordering's
        # Latin CID prefix — pages pre-filtered to ASCII so every shown
        # CID is in the recoverable 1-95 range
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        pages = pdf_pages_for(
            "Latin text recovered via the Adobe ordering prefix " + text,
            n_pages,
            charset="ascii",
        )
        payload = make_pdf(pages, font="cid_latin")
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "pdf_incremental":
        # incrementally-updated document: the appended update section's
        # content streams supersede the originals (last-object-wins)
        n_pages = 1 + _h(f"npages:{doc_id}") % 3
        stale = pdf_pages_for(
            "stale draft text superseded by the update section", n_pages
        )
        pages = pdf_pages_for(text, n_pages)
        payload = make_pdf_incremental(stale, pages)
        expected = "\n\n".join(
            "\n\n".join(line for _, _, line in page) for page in pages if page
        )
    elif cls == "empty":
        payload = b""
        expected = None
    elif cls == "bad_pdf":
        payload = b"%PDF-1.4\n%EOF"  # the reference's own invalid fixture
        expected = None
    elif cls == "png_text":
        # Title = first 5 words (latin-1 'ignore', like the latin1 class);
        # Description = full text. Expected mirrors the raster kernel:
        # per-item whitespace collapse, blank-skip, "\n\n" join.
        t5 = " ".join(
            " ".join(text.split()[:5])
            .encode("latin-1", "ignore")
            .decode("latin-1")
            .split()
        )
        desc = " ".join(text.split())
        payload = make_png([("Title", t5), ("Description", text)])
        parts = [p for p in (t5, desc) if p]
        expected = "\n\n".join(parts) if parts else None
    elif cls == "jpeg_com":
        payload = make_jpeg([text])
        # mirror the COM chunking: each segment is a separate metadata item
        parts = [
            " ".join(c.split()) for c in split_for_com(text)
        ]
        parts = [p for p in parts if p]
        expected = "\n\n".join(parts) if parts else None
    else:  # png (magic-only degenerate)
        payload = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16
        expected = None
    return {
        "url": url,
        "warc_ts": ts,
        "html": payload,
        "text": text,
        "lang": lang,
        "doc_class": cls,
        "expected_text": expected,
    }


_WARC_MIME = {
    "pdf": b"application/pdf",
    "png": b"image/png",
    "jpeg": b"image/jpeg",
    "html": b"text/html",
    "empty": b"text/html",
    "unknown": b"application/octet-stream",
}


def warc_record_bytes(row: dict, gzip_member: bool = False) -> bytes:
    """ONE corpus row → one serialized WARC/1.0 response record (optionally
    its own gzip member — the real Common-Crawl layout). Deterministic —
    no uuids, no clock: the record id derives from the url hash. The
    per-record granularity is what lets the WARC sink stream rows to disk
    in O(one record) memory.

    The HTTP Content-Type comes from ``row['content_type']`` when the
    caller provides one, else from the payload's magic bytes
    (kernels/content_type) — a curated export containing PDF/PNG/JPEG
    payloads must not mislabel them all text/html. A null ``warc_ts``
    serializes as the epoch (a deterministic placeholder — WARC-Date is
    mandatory in WARC/1.0)."""
    import gzip as _gzip

    from pbx_ds_ocr_server_spark.kernels.content_type import (
        detect_content_type,
    )

    payload = row["html"] if row["html"] is not None else b""
    ctype = row.get("content_type") or _WARC_MIME[detect_content_type(payload)]
    if isinstance(ctype, str):
        try:
            ctype = ctype.encode("latin-1")
        except UnicodeEncodeError:
            # one bad metadata value must not kill the whole export task:
            # fall back to the sniffed type (HTTP header values are latin-1)
            ctype = _WARC_MIME[detect_content_type(payload)]
    body = (
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n"
        b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
        + payload
    )
    ts = row.get("warc_ts")
    warc_date = (
        ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        if ts is not None
        else "1970-01-01T00:00:00Z"
    )
    rec_id = f"<urn:pbx:{_h('warcid:' + row['url']):016x}>"
    header = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {row['url']}\r\n"
        f"WARC-Date: {warc_date}\r\n"
        f"WARC-Record-ID: {rec_id}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("latin-1")
    record = header + body + b"\r\n\r\n"
    return _gzip.compress(record, mtime=0) if gzip_member else record


def make_warc(rows: list[dict], gzip_members: bool = False) -> bytes:
    """Serialize corpus rows into one WARC byte string (test fixture)."""
    return b"".join(warc_record_bytes(r, gzip_members) for r in rows)


_HTML_WRAPS = {
    "plain": wrap_html_plain,
    "paras_bare": wrap_html_paras_bare,
    "paras_boiler": wrap_html_paras,
    "structured": wrap_html_structured,
}
# PDF modes → make_pdf arguments; each document spans 2 + doc_id % 3 pages
_PDF_WRAPS = {
    "pdf_simple": dict(font="simple"),
    "pdf_cid_aes": dict(font="cid", encrypt="aes-128"),
    "pdf_embedded_tt": dict(font="embedded_tt"),
}


def wrapped_docs_df(spark, documents_path: str, mode: str):
    """documents(doc_id, text) → (url='doc://<id>', html) with the text
    deterministically wrapped in HTML or a PDF. HTML modes: 'plain' (one
    <p>, full boilerplate), 'paras_bare' (10-word <p> chunks, no
    boilerplate), 'paras_boiler' (10-word chunks inside the full
    nav/sidebar/footer template), 'structured' (headings, lists, pre). PDF
    modes lay the text out with ``pdf_pages_for`` (8-word lines): 'pdf_simple'
    (Type1 Helvetica), 'pdf_cid_aes' (Type0 + ToUnicode CMap, AES-128
    encrypted), 'pdf_embedded_tt' (Type0 whose text lives only in the
    embedded TrueType cmap). Used by the oracle-checked extraction queries."""
    from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions

    if mode in _PDF_WRAPS:
        kw = _PDF_WRAPS[mode]

        def wrap(norm: str, doc_id: int) -> bytes:
            return make_pdf(pdf_pages_for(norm, 2 + doc_id % 3), **kw)
    elif mode in _HTML_WRAPS:
        html = _HTML_WRAPS[mode]

        def wrap(norm: str, doc_id: int) -> bytes:
            return html(norm).encode("utf-8")
    else:
        raise ValueError(f"unknown wrap mode: {mode}")

    docs = ensure_min_partitions(
        spark.read.parquet(documents_path).select("doc_id", "text")
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                {
                    "url": f"doc://{r.doc_id}",
                    "html": wrap(" ".join(str(r.text).split()), int(r.doc_id)),
                }
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(out, columns=["url", "html"])

    return docs.mapInPandas(gen, "url string, html binary")


CORPUS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string,"
    " doc_class string, expected_text string"
)


def synthesize_corpus_df(spark, documents_path: str, repeat: int = 1):
    """documents.parquet (doc_id,text,lang,...) → Common-Crawl-style corpus.

    ``repeat`` deterministically replicates rows with distinct urls/doc_ids to
    scale the corpus up for benching (content differs per replica via the
    class hash, so this is NOT a trivially-cacheable copy)."""
    from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions

    docs = ensure_min_partitions(
        spark.read.parquet(documents_path).select("doc_id", "text", "lang")
    )
    if repeat > 1:
        from pyspark.sql import functions as F

        docs = docs.crossJoin(
            spark.range(repeat).withColumnRenamed("id", "rep")
        ).withColumn(
            "doc_id", F.col("doc_id") + F.col("rep") * F.lit(10_000_000)
        ).drop("rep")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                synthesize_row(int(r.doc_id), r.text, r.lang)
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(rows)

    return docs.mapInPandas(gen, schema=CORPUS_SCHEMA)
