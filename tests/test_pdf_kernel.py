"""PDF layout kernel — page count, reading order, ranges, blank pages."""

import zlib

from pbx_ds_ocr_server_spark.config import ExtractConfig
from pbx_ds_ocr_server_spark.corpus import make_pdf, pdf_pages_for
from pbx_ds_ocr_server_spark.kernels import extract_pdf, pdf_page_count


def test_page_count_multi():
    pdf = make_pdf(pdf_pages_for("one two three four five six seven eight " * 6, 4))
    assert pdf_page_count(pdf) == 4


def test_page_count_invalid_is_none():
    # the reference's own 14-byte fixture (tests/test_endpoints.py:17)
    assert pdf_page_count(b"%PDF-1.4\n%EOF") is None
    assert pdf_page_count(b"") is None
    assert pdf_page_count(b"not a pdf") is None


def test_single_page_reading_order():
    # blocks emitted OUT of visual order in the content stream
    pdf = make_pdf([[(72.0, 100.0, "bottom"), (72.0, 700.0, "top"), (300.0, 700.0, "top right")]])
    res = extract_pdf(pdf)
    assert res[0].text == "top\n\ntop right\n\nbottom"


def test_multi_page_order_and_index():
    pdf = make_pdf([[(72, 700, "page one")], [(72, 700, "page two")], [(72, 700, "page three")]])
    res = extract_pdf(pdf)
    assert [p.page_index for p in res] == [1, 2, 3]
    assert [p.text for p in res] == ["page one", "page two", "page three"]


def test_page_range_processing_order():
    pdf = make_pdf([[(72, 700, f"p{i}")] for i in range(1, 6)])
    res = extract_pdf(pdf, ExtractConfig(page_ranges="5,1"))
    assert [(p.page_index, p.text) for p in res] == [(5, "p5"), (1, "p1")]


def test_blank_middle_page():
    pdf = make_pdf([[(72, 700, "one")], [], [(72, 700, "three")]])
    res = extract_pdf(pdf)
    assert [p.text for p in res] == ["one", "", "three"]


def test_escapes_in_strings():
    pdf = make_pdf([[(72, 700, "par(en)s and \\ backslash")]])
    assert extract_pdf(pdf)[0].text == "par(en)s and \\ backslash"


def test_span_bboxes_carry_coords():
    pdf = make_pdf([[(72.0, 700.0, "hello")]])
    span = extract_pdf(pdf)[0].spans[0]
    assert span.bbox[:2] == [72.0, 700.0] and span.kind == "text"


def _one_page_pdf(content: bytes, filter_flate: bool = False) -> bytes:
    dct = b"<< /Length " + str(len(content)).encode()
    if filter_flate:
        dct += b" /Filter /FlateDecode"
    dct += b" >>"
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n" + dct + b"\nstream\n" + content + b"\nendstream\nendobj\n"
    )


def test_flate_compressed_stream():
    comp = zlib.compress(b"BT /F1 12 Tf 72 700 Td (flate text) Tj ET")
    pdf = _one_page_pdf(comp, filter_flate=True)
    assert pdf_page_count(pdf) == 1
    assert extract_pdf(pdf)[0].text == "flate text"


def _flate_ending_in_cr() -> tuple[bytes, str]:
    """A FlateDecode content stream whose compressed bytes end in 0x0D
    (about 1 in 256 do), found by search rather than hard-coded."""
    for i in range(20_000):
        text = f"cr framed {i}"
        comp = zlib.compress(b"BT 72 700 Td (%s) Tj ET" % text.encode())
        if comp.endswith(b"\r"):
            return comp, text
    raise AssertionError("no compressed stream ends in 0x0D")


def test_stream_framed_by_length_keeps_final_cr_byte():
    # an EOL-before-endstream scan reads the data's own final 0x0D as the
    # CR of a CRLF and drops it: zlib then fails and the page goes blank
    comp, text = _flate_ending_in_cr()
    assert extract_pdf(_one_page_pdf(comp, filter_flate=True))[0].text == text


def test_stream_framed_by_indirect_length():
    comp, text = _flate_ending_in_cr()
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 5 0 R /Filter /FlateDecode >>\nstream\n"
        + comp + b"\nendstream\nendobj\n"
        b"5 0 obj\n" + str(len(comp)).encode() + b"\nendobj\n"
    )
    assert extract_pdf(pdf)[0].text == text


def test_stream_with_wrong_length_falls_back_to_endstream():
    # crawled files carry wrong /Length values: a length that does not
    # land on endstream is ignored, never trusted
    content = b"BT 72 700 Td (length lies) Tj ET"
    for wrong in (b"3", b"999", b"7 0 R"):
        pdf = _one_page_pdf(content).replace(
            b"/Length %d" % len(content), b"/Length " + wrong
        )
        assert extract_pdf(pdf)[0].text == "length lies", wrong


def test_aes_stream_ending_in_cr_decrypts():
    # AES ciphertext ending in 0x0D: cut by one byte it is no longer a
    # whole number of blocks, and the page was lost
    for i in range(20_000):
        text = f"aes framed {i}"
        pdf = make_pdf([[(72.0, 700.0, text)]], encrypt="aes-128")
        if b"\r\nendstream" in pdf:
            break
    else:
        raise AssertionError("no AES stream ends in 0x0D")
    assert extract_pdf(pdf)[0].text == text


def test_tj_array_and_tstar():
    pdf = _one_page_pdf(
        b"BT /F1 12 Tf 20 TL 72 700 Td [(hello ) (world)] TJ T* (next line) Tj ET"
    )
    assert extract_pdf(pdf)[0].text == "hello world\n\nnext line"


def test_objstm_objects_visible():
    """Page + Pages objects packed inside a compressed /Type /ObjStm (the
    modern xref-stream layout) must still be found."""
    inner_objs = [
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
    ]
    bodies = [b for _, b in inner_objs]
    offsets, pos = [], 0
    for b in bodies:
        offsets.append(pos)
        pos += len(b) + 1
    header = " ".join(
        f"{num} {off}" for (num, _), off in zip(inner_objs, offsets)
    ).encode()
    first = len(header) + 1
    blob = header + b"\n" + b"\n".join(bodies) + b"\n"
    comp = zlib.compress(blob)
    content = b"BT /F1 12 Tf 72 700 Td (inside objstm) Tj ET"
    pdf = (
        b"%PDF-1.5\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"5 0 obj\n<< /Type /ObjStm /N 2 /First " + str(first).encode()
        + b" /Length " + str(len(comp)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + comp + b"\nendstream\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
    )
    assert pdf_page_count(pdf) == 1
    assert extract_pdf(pdf)[0].text == "inside objstm"


def test_malformed_objstm_header_skips_only_that_stream():
    """An object stream whose header is not integer pairs is skipped; the
    rest of the document still parses, and the helpers that open the
    document (pdf_decryptor, pdf_title) stay total."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        pdf_decryptor,
        pdf_title,
    )

    bad = b"x y 1 0 "
    pdf = _one_page_pdf(b"BT /F1 12 Tf 72 700 Td (still here) Tj ET") + (
        b"9 0 obj\n<< /Type /ObjStm /N 1 /First 4 /Length 8 >>\nstream\n"
        + bad + b"\nendstream\nendobj\n"
    )
    assert pdf_page_count(pdf) == 1
    assert extract_pdf(pdf)[0].text == "still here"
    assert pdf_decryptor(pdf + b"trailer << /Encrypt 9 0 R >>") is None
    assert pdf_title(pdf) is None


def test_figure_span_from_xobject():
    pdf = _one_page_pdf(b"BT /F1 12 Tf 72 700 Td (text) Tj ET /Img1 Do")
    spans = extract_pdf(pdf)[0].spans
    assert [s.kind for s in spans] == ["text", "figure"]


def _multi_content_pdf(streams: list[bytes], flate_idx: set[int] = frozenset()) -> bytes:
    """One page whose /Contents is an ARRAY of the given content streams."""
    refs = " ".join(f"{4 + i} 0 R" for i in range(len(streams)))
    out = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents ["
        + refs.encode()
        + b"] >>\nendobj\n"
    )
    for i, s in enumerate(streams):
        dct = b"<< /Length " + str(len(s)).encode()
        if i in flate_idx:
            dct += b" /Filter /FlateDecode"
        dct += b" >>"
        out += (
            str(4 + i).encode() + b" 0 obj\n" + dct
            + b"\nstream\n" + s + b"\nendstream\nendobj\n"
        )
    return out


def test_contents_array_concatenates_streams():
    pdf = _multi_content_pdf([
        b"BT /F1 12 Tf 72 700 Td (first stream) Tj ET",
        b"BT /F1 12 Tf 72 600 Td (second stream) Tj ET",
    ])
    assert pdf_page_count(pdf) == 1
    assert extract_pdf(pdf)[0].text == "first stream\n\nsecond stream"


def test_contents_array_with_mixed_filters():
    comp = zlib.compress(b"BT /F1 12 Tf 72 500 Td (flate part) Tj ET")
    pdf = _multi_content_pdf(
        [b"BT /F1 12 Tf 72 700 Td (plain part) Tj ET", comp],
        flate_idx={1},
    )
    assert extract_pdf(pdf)[0].text == "plain part\n\nflate part"


def test_hex_strings_decode():
    hx = "hex hello".encode("utf-8").hex().encode()
    pdf = _one_page_pdf(b"BT /F1 12 Tf 72 700 Td <" + hx + b"> Tj ET")
    assert extract_pdf(pdf)[0].text == "hex hello"


def test_hex_strings_whitespace_and_odd_digit():
    # <48 65 6C 6C 6F2> -> "Hello " + chr(0x20): odd digit padded with 0
    pdf = _one_page_pdf(b"BT /F1 12 Tf 72 700 Td <48 65\n6C 6C 6F 2> Tj ET")
    assert extract_pdf(pdf)[0].text == "Hello"


def test_hex_strings_in_tj_array():
    pdf = _one_page_pdf(b"BT /F1 12 Tf 72 700 Td [<6869> ( there)] TJ ET")
    assert extract_pdf(pdf)[0].text == "hi there"


def test_doublequote_operator_moves_line_and_shows():
    pdf = _one_page_pdf(
        b'BT /F1 12 Tf 20 TL 72 700 Td (line one) Tj 0 0 (line two) " ET'
    )
    assert extract_pdf(pdf)[0].text == "line one\n\nline two"


def test_unparsed_flag_for_undecodable_stream():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import extract_pdf_detailed

    bad = _one_page_pdf(b"\x01\x02 not zlib data", filter_flate=True)
    pages = extract_pdf_detailed(bad)
    assert len(pages) == 1
    page, unparsed = pages[0]
    assert page.text == "" and unparsed is True
    # genuinely blank page (empty content stream): NOT flagged
    blank = _one_page_pdf(b"")
    page, unparsed = extract_pdf_detailed(blank)[0]
    assert page.text == "" and unparsed is False


def test_pdf_title_resolves_info_not_outline():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_title

    pdf = (
        b"%PDF-1.4\n"
        b"7 0 obj\n<< /Title (Shadow Outline Title) /Type /Outlines >>\nendobj\n"
        b"9 0 obj\n<< /Title (Real Document Title) /Producer (x) >>\nendobj\n"
        b"trailer\n<< /Size 10 /Root 1 0 R /Info 9 0 R >>\n"
    )
    assert pdf_title(pdf) == "Real Document Title"
    # /Info object exists but has no /Title -> no shadowing fallback
    pdf_no_title = (
        b"%PDF-1.4\n"
        b"7 0 obj\n<< /Title (Shadow) >>\nendobj\n"
        b"9 0 obj\n<< /Producer (x) >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Info 9 0 R >>\n"
    )
    assert pdf_title(pdf_no_title) is None
    # no /Info at all -> whole-payload fallback still works
    assert pdf_title(b"%PDF-1.4\n5 0 obj\n<< /Title (Loose) >>\nendobj\n") == "Loose"


def test_make_pdf_multistream_hex_round_trip():
    text = ("alpha beta gamma delta epsilon zeta eta theta " * 4).strip()
    pages = pdf_pages_for(text, 2)
    pdf = make_pdf(pages, streams_per_page=2, hex_strings=True)
    got = extract_pdf(pdf)
    want = ["\n\n".join(line for _, _, line in page) for page in pages]
    assert [p.text for p in got] == want
    assert b"/Contents [" in pdf and b"> Tj" in pdf


def _filtered_pdf(content: bytes, filters: str) -> bytes:
    dct = (
        b"<< /Length " + str(len(content)).encode()
        + b" /Filter " + filters.encode() + b" >>"
    )
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n" + dct + b"\nstream\n" + content + b"\nendstream\nendobj\n"
    )


_SHOW = b"BT /F1 12 Tf 72 700 Td (filter text) Tj ET"


def test_asciihex_filter():
    enc = _SHOW.hex().encode() + b">"
    assert extract_pdf(_filtered_pdf(enc, "/ASCIIHexDecode"))[0].text == "filter text"


def test_ascii85_filter():
    import base64

    enc = base64.a85encode(_SHOW) + b"~>"
    assert extract_pdf(_filtered_pdf(enc, "/ASCII85Decode"))[0].text == "filter text"


def test_runlength_filter():
    # literal runs only: chunks of <=128 bytes prefixed by len-1, EOD=128
    out = bytearray()
    for i in range(0, len(_SHOW), 96):
        chunk = _SHOW[i : i + 96]
        out += bytes([len(chunk) - 1]) + chunk
    out.append(128)
    assert extract_pdf(_filtered_pdf(bytes(out), "/RunLengthDecode"))[0].text == "filter text"


def test_runlength_filter_repeats():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import _runlength_decode

    # 257-250 = 7 copies of 'a' + literal 'bc' + EOD
    assert _runlength_decode(bytes([250, ord("a"), 1, ord("b"), ord("c"), 128])) == b"aaaaaaabc"


def _lzw_encode(data: bytes) -> bytes:
    """Minimal TIFF/PDF LZW encoder (early-change) for round-trip testing."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    emit(256)  # clear
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # early change: widen when the NEXT code would not fit
        if next_code + 1 > (1 << width) and width < 12:
            width += 1
        w = bytes([ch])
    if w:
        emit(table[w])
    emit(257)  # EOD
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_filter_round_trip():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import _lzw_decode

    for payload in (b"abababababab", _SHOW, b"x" * 5000, bytes(range(256)) * 8):
        assert _lzw_decode(_lzw_encode(payload)) == payload
    assert extract_pdf(_filtered_pdf(_lzw_encode(_SHOW), "/LZWDecode"))[0].text == "filter text"


def test_filter_chain_array():
    import base64

    enc = base64.a85encode(zlib.compress(_SHOW)) + b"~>"
    pdf = _filtered_pdf(enc, "[/ASCII85Decode /FlateDecode]")
    assert extract_pdf(pdf)[0].text == "filter text"


def test_unsupported_filter_is_unparsed_not_silent():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import extract_pdf_detailed

    pdf = _filtered_pdf(b"\xff\xd8\xff jpeg-ish", "/DCTDecode")
    (page, unparsed), = extract_pdf_detailed(pdf)
    assert page.text == "" and unparsed is True


def test_inline_image_binary_does_not_leak_text():
    # binary sample data contains an unbalanced '(' that would swallow the
    # following real text if the BI..EI segment were tokenized
    content = (
        b"BT /F1 12 Tf 72 700 Td (before) Tj ET\n"
        b"BI /W 2 /H 2 /BPC 8 ID \x00( \xff\x01garbage\x02 EI\n"
        b"BT /F1 12 Tf 72 600 Td (after) Tj ET"
    )
    assert extract_pdf(_one_page_pdf(content))[0].text == "before\n\nafter"


def test_inline_image_false_positive_in_strings_preserved():
    # 'BI', 'ID' and 'EI' appearing as ordinary literal-string content must
    # NOT trigger stripping (the body is printable text, not sample data)
    content = (
        b"BT /F1 12 Tf 72 700 Td (BI) Tj 0 -20 Td (real ID text) Tj "
        b"0 -20 Td ( EI trailer) Tj ET"
    )
    assert extract_pdf(_one_page_pdf(content))[0].text == (
        "BI\n\nreal ID text\n\nEI trailer"
    )


def test_xref_stream_trailer_dict_is_found():
    """PDF 1.5+ xref-stream layout: there is NO 'trailer' keyword — /Root,
    /Info (and /Encrypt when present) live in the /Type /XRef stream
    object's dict. The scan-based parser must still resolve the Info title
    and extract text."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_title

    content = b"BT /F1 12 Tf 72 700 Td (xref stream doc) Tj ET"
    pdf = (
        b"%PDF-1.5\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Title (Xref Title) >>\nendobj\n"
        b"6 0 obj\n<< /Type /XRef /Size 7 /Root 1 0 R /Info 5 0 R"
        b" /W [1 2 1] /Length 0 >>\nstream\n\nendstream\nendobj\n"
        b"startxref\n0\n%%EOF\n"
    )
    assert extract_pdf(pdf)[0].text == "xref stream doc"
    assert pdf_title(pdf) == "Xref Title"


# ------------------------------------------------- fonts: ToUnicode / CID
def test_cid_tounicode_round_trip():
    # the synthetic CID font uses SHIFTED glyph ids (gid = ord+0x100): only
    # a kernel that actually reads the ToUnicode CMap recovers the text —
    # an "Identity-H is UTF-16BE" shortcut produces garbage
    text = ("the quick brown Fox: jumps, over 42 lazy dogs! " * 3).strip()
    pages = pdf_pages_for(text, 2)
    pdf = make_pdf(pages, font="cid")
    want = ["\n\n".join(line for _, _, line in pg) for pg in pages]
    assert [p.text for p in extract_pdf(pdf)] == want


def test_cid_tounicode_covers_bfchar_accents():
    pages = pdf_pages_for("accents café naïve Zürich stay intact", 1)
    pdf = make_pdf(pages, font="cid")
    want = ["\n\n".join(line for _, _, line in pg) for pg in pages]
    assert [p.text for p in extract_pdf(pdf)] == want  # bfchar entries used


def test_cid_without_tounicode_is_honest_empty():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import extract_pdf_detailed

    pdf = make_pdf(pdf_pages_for("words that must never appear", 2), font="cid_noto")
    res = extract_pdf_detailed(pdf)
    assert [p.text for p, _ in res] == ["", ""]
    assert all(unparsed for _, unparsed in res)  # -> succeeded_empty upstream


def test_parse_tounicode_bfrange_array_form():
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import parse_tounicode

    cmap = (
        b"1 begincodespacerange <0000> <ffff> endcodespacerange\n"
        b"1 beginbfrange <0005> <0007> [<0041> <0062> <0043>] endbfrange\n"
        b"1 beginbfchar <0010> <00e90010> endbfchar\n"
    )
    m, width = parse_tounicode(cmap)
    assert width == 2
    assert m[5] == "A" and m[6] == "b" and m[7] == "C"
    # multi-unit UTF-16BE destination decodes as a string
    assert m[0x10] == "é"


def test_parse_tounicode_scalar_bfrange_increments_last_unit():
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import parse_tounicode

    cmap = b"1 beginbfrange <0100> <0103> <0061> endbfrange"
    m, width = parse_tounicode(cmap)
    assert [m[0x100 + i] for i in range(4)] == ["a", "b", "c", "d"]
    assert width == 2  # no codespacerange -> Identity-H default


def test_differences_encoding_decodes_via_glyph_names():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import extract_pdf_detailed

    # simple font remapping code 65('A') -> eacute; 'a' stays ASCII fallback
    stream = b"BT /F1 12 Tf 72 700 Td (Aa) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /F"
        b" /Encoding << /Differences [65 /eacute] >> >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "éa"
    assert res[0][1] is False  # fully decoded: not a blind spot


def test_differences_unknown_glyph_flags_lost():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import extract_pdf_detailed

    stream = b"BT /F1 12 Tf 72 700 Td (A) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /F"
        b" /Encoding << /Differences [65 /Zcaronfancy] >> >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == ""
    assert res[0][1] is True  # unknown glyph name -> honest blind spot


def test_parse_tounicode_survives_corrupt_destinations():
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        _MAX_BFRANGE,
        parse_tounicode,
    )

    # scalar destination at U+10FFFF: the k=1 increment would leave Unicode
    # — must stay unmapped (-> lost), never raise chr() ValueError
    m, _ = parse_tounicode(
        b"1 beginbfrange <0000> <0001> <DBFFDFFF> endbfrange"
    )
    assert m[0] == "\U0010ffff" and 1 not in m
    # absurd range width: capped, not millions of dict entries
    m, _ = parse_tounicode(
        b"1 beginbfrange <00000000> <ffffffff> <0041> endbfrange"
    )
    assert 0 < len(m) <= _MAX_BFRANGE
    # increments landing in the surrogate block are skipped
    m, _ = parse_tounicode(b"1 beginbfrange <0000> <0002> <D7FF> endbfrange")
    assert m[0] == "퟿" and 1 not in m and 2 not in m


def test_simple_font_tounicode_without_codespacerange_uses_1byte_codes():
    """A simple (non-Type0) font whose ToUnicode CMap omits codespacerange
    must decode 1-byte codes — a 2-byte default would pair them up and lose
    everything (round-3 review finding)."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import extract_pdf_detailed

    stream = b"BT /F1 12 Tf 72 700 Td (AB) Tj ET"
    cmap = b"2 beginbfchar <41> <0058> <42> <0059> endbfchar"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /F"
        b" /ToUnicode 6 0 R >>\nendobj\n"
        b"6 0 obj\n<< /Length " + str(len(cmap)).encode()
        + b" >>\nstream\n" + cmap + b"\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "XY"
    assert res[0][1] is False


def test_glyph_name_rules():
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import glyph_to_unicode

    assert glyph_to_unicode("A") == "A"
    assert glyph_to_unicode("seven") == "7"
    assert glyph_to_unicode("adieresis") == "ä"
    assert glyph_to_unicode("uni00E9") == "é"
    assert glyph_to_unicode("uni00480065") == "He"
    assert glyph_to_unicode("u1F600") == "\U0001f600"
    assert glyph_to_unicode("madeupname") is None


def test_resource_inheritance_follows_parent_chain_not_file_order():
    """Nested page tree: the ROOT /Pages (first in file order) carries a
    glyph-indexed font that would LOSE the text; the page's actual parent
    carries the correct simple font. The /Parent chain must win over
    file-order heuristics (round-3 review finding)."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import extract_pdf_detailed

    stream = b"BT /F1 12 Tf 72 700 Td (inherited ok) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        # root Pages: WRONG font (Type0/Identity-H, no ToUnicode)
        b"2 0 obj\n<< /Type /Pages /Kids [6 0 R] /Count 1"
        b" /Resources << /Font << /F1 8 0 R >> >> >>\nendobj\n"
        # page: no own /Resources, parent is the INTERMEDIATE node
        b"3 0 obj\n<< /Type /Page /Parent 6 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"
        # intermediate Pages: the CORRECT font for this page
        b"6 0 obj\n<< /Type /Pages /Parent 2 0 R /Kids [3 0 R] /Count 1"
        b" /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
        b"8 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /Bad"
        b" /Encoding /Identity-H >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "inherited ok"
    assert res[0][1] is False


# -------------------------------------------------- encryption (RC4, std)
def test_encrypted_round_trips_match_plain():
    text = ("the quick brown fox jumps over the lazy dog " * 4).strip()
    pages = pdf_pages_for(text, 3)
    plain = [p.text for p in extract_pdf(make_pdf(pages))]
    # rc4-40/128 = /V 1-2 legacy; aes-128 = /V 4 /R 4 /CFM /AESV2
    # (PDF 1.6+); aes-256 = /V 5 /R 6 /CFM /AESV3 (PDF 2.0)
    for enc in ("rc4-40", "rc4-128", "aes-128", "aes-256"):
        got = [p.text for p in extract_pdf(make_pdf(pages, encrypt=enc))]
        assert got == plain, enc


def test_aes_primitives_fips197_known_answer():
    from pbx_ds_ocr_server_spark.kernels.pdf_crypt import (
        _aes_decrypt_block,
        _aes_encrypt_block,
        _expand_key,
        aes128_cbc_decrypt,
        aes128_cbc_encrypt,
    )

    # FIPS-197 appendix C.1 vector — pins the generated S-box and the whole
    # round structure
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = _aes_encrypt_block(_expand_key(key), pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert _aes_decrypt_block(_expand_key(key), ct) == pt
    # appendix C.3 (AES-256) — pins the Nk=8 key schedule + 14 rounds
    k256 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f"
        "101112131415161718191a1b1c1d1e1f"
    )
    ct256 = _aes_encrypt_block(_expand_key(k256), pt)
    assert ct256.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert _aes_decrypt_block(_expand_key(k256), ct256) == pt
    # CBC layout round trip + malformed-input hardening
    k = b"0123456789abcdef"
    data = aes128_cbc_encrypt(k, b"hello pdf world", b"\x01" * 16)
    assert aes128_cbc_decrypt(k, data) == b"hello pdf world"
    assert aes128_cbc_decrypt(k, b"short") == b""
    assert aes128_cbc_decrypt(k, b"x" * 33) == b""  # not a block multiple


def test_rc4_wrong_user_password_stays_undecryptable():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_decryptor

    pdf = make_pdf(pdf_pages_for("secret words", 1), encrypt="rc4-128")
    # corrupt /U so the empty-user-password check must fail
    import re

    m = re.search(rb"/U <([0-9a-f]+)>", pdf)
    u = m.group(1)
    flipped = (b"0" if u[:1] != b"0" else b"1") + u[1:]
    broken = pdf[: m.start(1)] + flipped + pdf[m.end(1):]
    assert pdf_decryptor(pdf) is not None
    assert pdf_decryptor(broken) is None
    assert [p.text for p in extract_pdf(broken)] == [""]


def test_extract_one_opens_each_pdf_once(monkeypatch):
    """One ``_extract_one`` call opens its PDF once: one page-tree walk,
    and for an encrypted document one file-key derivation — whether the
    empty user password opens it or not (the derivation is the costliest
    step of an RC4 document; count, pages, title and the lock check all
    read the same open)."""
    import re

    from pbx_ds_ocr_server_spark.config import DEFAULT_CONFIG
    from pbx_ds_ocr_server_spark.kernels import pdf_extract
    from pbx_ds_ocr_server_spark.operators.extract import _extract_one

    calls = {"key": 0, "walk": 0}
    key_fn = pdf_extract.empty_password_key
    walk_fn = pdf_extract._page_object_ids

    def counted_key(*a):
        calls["key"] += 1
        return key_fn(*a)

    def counted_walk(*a):
        calls["walk"] += 1
        return walk_fn(*a)

    monkeypatch.setattr(pdf_extract, "empty_password_key", counted_key)
    monkeypatch.setattr(pdf_extract, "_page_object_ids", counted_walk)

    pages = pdf_pages_for("secret words on two locked pages " * 4, 2)
    rc4 = make_pdf(pages, title="Locked Title", encrypt="rc4-128")
    m = re.search(rb"/U <([0-9a-f]+)>", rc4)
    u = m.group(1)
    flipped = (b"0" if u[:1] != b"0" else b"1") + u[1:]  # /U check fails
    locked = rc4[: m.start(1)] + flipped + rc4[m.end(1):]

    def run(pdf: bytes) -> list[dict]:
        calls.update(key=0, walk=0)
        return _extract_one("https://h.example/doc", pdf, DEFAULT_CONFIG)

    rows = run(rc4)
    assert [r["status"] for r in rows] == ["succeeded", "succeeded"]
    assert rows[0]["title"] == "Locked Title"
    assert calls == {"key": 1, "walk": 1}
    rows = run(locked)
    assert [r["status"] for r in rows] == ["rejected_unparseable"]
    assert calls == {"key": 1, "walk": 1}
    run(make_pdf(pages))
    assert calls == {"key": 0, "walk": 1}


def test_title_utf16_hex_and_encrypted():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_title

    pages = pdf_pages_for("body text", 1)
    # hex-form UTF-16BE title with BOM (the common non-ASCII shape)
    t = "Ünïcode Tïtle — test"
    assert pdf_title(make_pdf(pages, title=t)) == t
    # encrypted doc: the title string is RC4-encrypted with the same
    # per-object key as streams; empty-user-password open must decrypt it
    assert pdf_title(make_pdf(pages, title=t, encrypt="rc4-128")) == t
    assert pdf_title(make_pdf(pages, title=t, encrypt="rc4-40")) == t
    assert pdf_title(make_pdf(pages, title=t, encrypt="aes-128")) == t
    assert pdf_title(make_pdf(pages, title=t, encrypt="aes-256")) == t


def test_rc4_40bit_crypt_filter_reads_stdcf_length():
    """/V 4 /CFM /V2 with /StdCF /Length 5 (BYTES → 40-bit RC4) and a
    deliberately-wrong top-level /Length 128: the key length must come
    from the /StdCF entry itself (scaled ×8 when written in bytes), else
    /U verification fails and a recoverable document is lost to a typed
    rejection (round-3 ADVICE finding)."""
    text = ("forty bit rc4 wrapped in a crypt filter " * 3).strip()
    pages = pdf_pages_for(text, 2)
    plain = [p.text for p in extract_pdf(make_pdf(pages))]
    pdf = make_pdf(pages, encrypt="rc4-40-cf")
    assert b"/CFM /V2" in pdf and b"/Length 128" in pdf  # the trap is live
    assert [p.text for p in extract_pdf(pdf)] == plain
    # bits-form CF length (/Length 40) must decode identically
    import re

    bits_form = re.sub(rb"/Length 5 ", b"/Length 40 ", pdf, count=1)
    assert bits_form != pdf
    assert [p.text for p in extract_pdf(bits_form)] == plain


def test_title_encrypted_unresolvable_info_is_typed_absence():
    """Encrypted doc whose /Info reference does not resolve: the whole-
    payload fallback scan sees only the CIPHERTEXT /Title string — the
    result must be None (typed absence), never mojibake (round-3 ADVICE
    finding). The same broken /Info on an UNencrypted doc still recovers
    the title via the fallback."""
    import re

    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_title

    pages = pdf_pages_for("body text", 1)
    enc = make_pdf(pages, title="Secret Title", encrypt="rc4-128")
    broken = re.sub(rb"/Info \d+ 0 R", b"/Info 99 0 R", enc)
    assert broken != enc
    assert pdf_title(broken) is None
    plain = re.sub(
        rb"/Info \d+ 0 R",
        b"/Info 99 0 R",
        make_pdf(pages, title="Open Title"),
    )
    assert pdf_title(plain) == "Open Title"


def _font_pdf(stream: bytes, font_obj: bytes) -> bytes:
    """Minimal single-page document around ``stream`` with ``font_obj`` as
    object 5 (the /F1 resource) — the shared scaffold for font tests."""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n"
        b"5 0 obj\n" + font_obj + b"\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )


def test_winansi_base_encoding_decodes_high_bytes():
    """/Encoding /WinAnsiEncoding (no /Differences, no /ToUnicode): show
    bytes are cp1252 and must decode through the Annex D table, including
    the footnote overrides (0xA0 = space, 0xAD = hyphen, NOT nbsp/shy)."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    # é € – (cp1252 e9/80/96) around the overridden 0xA0 and 0xAD
    shown = bytes.fromhex("e9a08096ad")
    stream = (
        b"BT /F1 12 Tf 72 700 Td <" + shown.hex().encode() + b"> Tj ET"
    )
    pdf = _font_pdf(
        stream,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>",
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "é €–-"
    assert res[0][1] is False


def test_winansi_unassigned_byte_flags_lost():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    stream = b"BT /F1 12 Tf 72 700 Td <4181e9> Tj ET"  # A, 0x81, e-acute
    pdf = _font_pdf(
        stream,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>",
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "Aé"  # the unassigned byte vanishes...
    assert res[0][1] is True  # ...and is flagged as a blind spot


def test_del_byte_is_unassigned_in_annex_d_tables():
    """0x7F (DEL) is unassigned in the Annex D WinAnsi/MacRoman tables — it
    must fall to the lost path, never surface as a U+007F control char."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import MAC_ROMAN, WIN_ANSI

    assert 0x7F not in WIN_ANSI
    assert 0x7F not in MAC_ROMAN

    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    stream = b"BT /F1 12 Tf 72 700 Td <417f42> Tj ET"  # A, DEL, B
    pdf = _font_pdf(
        stream,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>",
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "AB"
    assert res[0][1] is True


def test_macroman_base_encoding_decodes_high_bytes():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    # mac-roman: 0x8E = é; overrides: 0xCA = space (not nbsp),
    # 0xDB = currency (Adobe's pre-euro table)
    stream = b"BT /F1 12 Tf 72 700 Td <8eca41db> Tj ET"
    pdf = _font_pdf(
        stream,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /MacRomanEncoding >>",
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "é A¤"
    assert res[0][1] is False


def test_base_encoding_with_differences_overlay():
    """/BaseEncoding /WinAnsiEncoding + /Differences: the diff wins on its
    codes, all other bytes decode through the base table (not ASCII-only
    fallback)."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    # 65 remapped to eacute by /Differences; 0xC9 = É via WinAnsi base
    stream = b"BT /F1 12 Tf 72 700 Td <41c9> Tj ET"
    pdf = _font_pdf(
        stream,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /F /Encoding"
        b" << /BaseEncoding /WinAnsiEncoding /Differences [65 /eacute] >> >>",
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "éÉ"
    assert res[0][1] is False


def test_ucs2_predefined_cmap_round_trip():
    """Type0 /Encoding /UniGB-UCS2-H with NO ToUnicode: the show codes are
    UTF-16BE text — the generator round-trips CJK through make_pdf."""
    text = "中文 文档 解析 测试 latin words too"
    pages = pdf_pages_for(text, 2, charset="utf-16-be")
    got = [p.text for p in extract_pdf(make_pdf(pages, font="ucs2"))]
    want = ["\n\n".join(line for _, _, line in page) for page in pages]
    assert got == want


def test_legacy_charset_cmaps_decode_through_codec():
    """Predefined legacy-charset CMaps: 90ms-RKSJ-H show bytes are cp932
    (Shift-JIS + NEC/IBM extensions), GBK-EUC-H bytes are GBK."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    for enc_name, codec, s in (
        (b"90ms-RKSJ-H", "cp932", "日本語テスト"),
        (b"GBK-EUC-H", "gb18030", "中文测试"),
        (b"ETen-B5-H", "big5", "中文測試"),
    ):
        raw = s.encode(codec)
        stream = b"BT /F1 12 Tf 72 700 Td <" + raw.hex().encode() + b"> Tj ET"
        pdf = _font_pdf(
            stream,
            b"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /"
            + enc_name
            + b" /DescendantFonts [9 0 R] >>",
        )
        res = extract_pdf_detailed(pdf)
        assert res[0][0].text == s, enc_name
        assert res[0][1] is False, enc_name


def test_unknown_predefined_cmap_stays_honest_empty():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    stream = b"BT /F1 12 Tf 72 700 Td <20412042> Tj ET"
    pdf = _font_pdf(
        stream,
        b"<< /Type /Font /Subtype /Type0 /BaseFont /X"
        b" /Encoding /Hojo-EUC-H /DescendantFonts [9 0 R] >>",
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == ""  # pure-CID ordering we cannot map
    assert res[0][1] is True


def test_incremental_update_last_object_wins():
    """An appended incremental-update section (second xref, /Prev chain)
    redefines the content streams: extraction must surface the UPDATED
    text, and the page count is unchanged."""
    from pbx_ds_ocr_server_spark.corpus import make_pdf_incremental
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_page_count

    stale = pdf_pages_for("old draft text that must not appear", 2)
    fresh = pdf_pages_for("the updated words are the document now", 2)
    pdf = make_pdf_incremental(stale, fresh)
    assert b"/Prev " in pdf and pdf.count(b"%%EOF") == 2
    got = [p.text for p in extract_pdf(pdf)]
    want = ["\n\n".join(l for _, _, l in page) for page in fresh]
    assert got == want
    assert "old draft" not in " ".join(got)
    assert pdf_page_count(pdf) == 2


def test_r6_password_kdf_and_key_unwrap():
    from pbx_ds_ocr_server_spark.kernels.pdf_crypt import (
        hash_2b,
        r6_make_u_ue,
        r6_verify_and_key,
    )

    fk = bytes(range(32))
    u, ue = r6_make_u_ue(fk, b"", b"vsalt678", b"ksalt678")
    assert len(u) == 48 and len(ue) == 32
    assert r6_verify_and_key(u, ue) == fk
    assert r6_verify_and_key(u, ue, b"not empty") is None
    assert r6_verify_and_key(b"short", ue) is None
    # the 2.B KDF is deterministic and password-sensitive
    assert hash_2b(b"", b"salt5678") == hash_2b(b"", b"salt5678")
    assert hash_2b(b"", b"salt5678") != hash_2b(b"x", b"salt5678")


def test_aesv2_key_length_pinned_regardless_of_length_entry_order():
    """Real V4 dicts order keys arbitrarily and may omit the top-level
    /Length (the CF entry carries its own, in BYTES): the AESV2 key is
    128-bit by definition and must not be derived from whichever /Length
    the regex finds first (round-3 review finding)."""
    import re

    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_decryptor

    pdf = make_pdf(pdf_pages_for("aes body text", 1), encrypt="aes-128")
    # strip the top-level /Length 128 — the CF's /Length 16 remains
    stripped = re.sub(rb"/Length 128 ", b"", pdf, count=1)
    assert stripped != pdf
    assert pdf_decryptor(stripped) is not None
    assert [p.text for p in extract_pdf(stripped)] == [
        p.text for p in extract_pdf(make_pdf(pdf_pages_for("aes body text", 1)))
    ]


def test_identity_stream_filter_means_plaintext_streams():
    """/StmF /Identity + /StrF /Identity = streams AND strings are NOT
    encrypted per spec: the decryptor must be the IDENTITY (not None —
    None means 'cannot open' and would make pdf_title drop a plaintext
    /Title), and the plaintext streams extract as-is — 'decrypting' them
    would destroy the text (round-3 + round-4 review findings)."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
        pdf_decryptor,
    )

    stream = b"BT /F1 12 Tf 72 700 Td (plain despite encrypt dict) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Filter /Standard /V 4 /R 4"
        b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
        b" /StmF /Identity /StrF /Identity"
        b" /P -44 /O <00> /U <00> >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Encrypt 5 0 R >>\n"
    )
    dec = pdf_decryptor(pdf)
    assert dec is not None
    assert dec(4, b"xyz") == b"xyz"  # identity on streams
    assert dec.for_strings(5, b"abc") == b"abc"  # identity on strings
    assert dec.strings_encrypted is False
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "plain despite encrypt dict"
    # a plaintext /Title in such a document must survive pdf_title — the
    # doc opens (identity), it is not "locked" (round-4 review finding)
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_title

    titled = pdf.replace(
        b"trailer\n<< /Root 1 0 R /Encrypt 5 0 R >>\n",
        b"6 0 obj\n<< /Title (Visible Title) >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Encrypt 5 0 R /Info 6 0 R >>\n",
    )
    assert pdf_title(titled) == "Visible Title"


def test_identity_selectors_without_parsable_cf_still_open():
    """/StmF /Identity /StrF /Identity with NO /CF dict at all (legal —
    Identity selectors need no crypt-filter entry), or with an
    unrecognized /CFM: both must resolve to the identity decryptor, not
    'cannot open' (round-4 review #1)."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_decryptor

    def doc(cf: bytes) -> bytes:
        # concatenation, not %-formatting: the %PDF header breaks % fmt
        return (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [] /Count 0 >>\nendobj\n"
            b"5 0 obj\n<< /Filter /Standard /V 4 /R 4" + cf +
            b" /StmF /Identity /StrF /Identity"
            b" /P -44 /O <00> /U <00> >>\nendobj\n"
            b"trailer\n<< /Root 1 0 R /Encrypt 5 0 R >>\n"
        )

    for cf in (b"", b" /CF << /StdCF << /CFM /None >> >>"):
        dec = pdf_decryptor(doc(cf))
        assert dec is not None, cf
        assert dec(4, b"xyz") == b"xyz" and dec.strings_encrypted is False
    # but an unsupported NAMED filter must still refuse — identity-return
    # only applies when both selectors are literally /Identity
    named = doc(b"").replace(b"/StmF /Identity", b"/StmF /MyCF")
    assert pdf_decryptor(named) is None


def test_title_plaintext_strings_survive_locked_streams():
    """/StmF /StdCF + /StrF /Identity with an UNVERIFIABLE key (real user
    password): streams are locked but strings are plaintext per the doc's
    own /StrF — pdf_title must still read the /Title (round-4 review #2).
    With /StrF /StdCF the same doc's title is ciphertext → None."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_title

    doc = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [] /Count 0 >>\nendobj\n"
        b"5 0 obj\n<< /Filter /Standard /V 4 /R 4"
        b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
        b" /StmF /StdCF /StrF /Identity"
        b" /P -44 /O <00112233445566778899aabbccddeeff0011223344"
        b"5566778899aabbccddeeff> /U <00112233445566778899aabbccddeeff"
        b"00112233445566778899aabbccddeeff> >>\nendobj\n"
        b"6 0 obj\n<< /Title (Readable Plain Title) >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Encrypt 5 0 R /Info 6 0 R >>\n"
    )
    assert pdf_title(doc) == "Readable Plain Title"
    locked_strings = doc.replace(b"/StrF /Identity", b"/StrF /StdCF")
    assert pdf_title(locked_strings) is None


def test_crypt_filter_dispatch_survives_dict_key_reordering():
    """'/StmF /StdCF' before '/CF << /StdCF << ... >> >>' (PDF dict key
    order is arbitrary) must not break the /StdCF lookup — a first-byte-
    occurrence match would land on the /StmF VALUE (round-3 review
    finding). Also pins /StrF-aware string dispatch: with /StrF /Identity,
    strings pass through untouched while streams still decrypt."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import pdf_decryptor

    pages = pdf_pages_for("dispatch test body", 1)
    plain = [p.text for p in extract_pdf(make_pdf(pages))]
    pdf = make_pdf(pages, encrypt="aes-128")
    cf = (
        b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16"
        b" >> >> /StmF /StdCF /StrF /StdCF"
    )
    swapped = pdf.replace(
        cf,
        b" /StmF /StdCF /StrF /StdCF /CF << /StdCF << /CFM /AESV2"
        b" /AuthEvent /DocOpen /Length 16 >> >>",
    )
    assert swapped != pdf
    assert [p.text for p in extract_pdf(swapped)] == plain
    # same for the V5 form
    pdf5 = make_pdf(pages, encrypt="aes-256")
    cf5 = (
        b" /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32"
        b" >> >> /StmF /StdCF /StrF /StdCF"
    )
    swapped5 = pdf5.replace(
        cf5,
        b" /StmF /StdCF /StrF /StdCF /CF << /StdCF << /CFM /AESV3"
        b" /AuthEvent /DocOpen /Length 32 >> >>",
    )
    assert swapped5 != pdf5
    assert [p.text for p in extract_pdf(swapped5)] == plain
    # /StrF /Identity: strings are plaintext per spec — for_strings must be
    # the identity while the stream decryptor stays a real cipher
    ident_strings = pdf.replace(b"/StrF /StdCF", b"/StrF /Identity")
    d = pdf_decryptor(ident_strings)
    assert d is not None
    assert d.for_strings(7, b"raw title bytes") == b"raw title bytes"
    assert [p.text for p in extract_pdf(ident_strings)] == plain


def test_rc4_crypt_primitives_self_consistent():
    from pbx_ds_ocr_server_spark.kernels.pdf_crypt import (
        compute_o, compute_u, empty_password_key, file_key, object_key, rc4,
    )

    assert rc4(b"Key", rc4(b"Key", b"Plaintext")) == b"Plaintext"
    # the classic published RC4 test vector
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    for r, bits in ((2, 40), (3, 128)):
        o = compute_o(b"owner", b"", r, bits)
        fid = b"\x01" * 16
        key = file_key(b"", o, -44, fid, bits, r)
        u = compute_u(key, fid, r)
        assert empty_password_key(o, u, -44, fid, bits, r) == key
        assert empty_password_key(o, b"\x00" * 32, -44, fid, bits, r) is None
        assert len(object_key(key, 7, 0)) == min(len(key) + 5, 16)


def test_mixed_crypt_selectors_never_leak_ciphertext():
    """/StmF /StdCF + /StrF /MyCF: the unknown string filter must be
    REFUSED (title = typed absence), never passed through as identity
    (mojibake). /StmF /MyCF + /StrF /StdCF: the stream channel is locked
    — no decryptor, so the typed rejection stays armed."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        pdf_decryptor,
        pdf_title,
    )

    def doc(stm: bytes, strf: bytes) -> bytes:
        return (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [] /Count 0 >>\nendobj\n"
            b"5 0 obj\n<< /Filter /Standard /V 4 /R 4"
            b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
            b" /StmF /" + stm + b" /StrF /" + strf +
            b" /P -44 /O <00112233445566778899aabbccddeeff0011223344"
            b"5566778899aabbccddeeff> /U <00112233445566778899aabbccddeeff"
            b"00112233445566778899aabbccddeeff> >>\nendobj\n"
            b"6 0 obj\n<< /Title (Some Title Bytes) >>\nendobj\n"
            b"trailer\n<< /Root 1 0 R /Encrypt 5 0 R /Info 6 0 R >>\n"
        )

    # string channel refused: even if streams decrypted, the /Title bytes
    # are /MyCF ciphertext — must be typed-absent (here the empty-password
    # key also fails, which must not change the answer)
    assert pdf_title(doc(b"StdCF", b"MyCF")) is None
    # stream channel refused: no decryptor at all
    assert pdf_decryptor(doc(b"MyCF", b"StdCF")) is None
    assert pdf_title(doc(b"MyCF", b"StdCF")) is None
    # stream Identity + string refused: no decryptor (raw-parse handles
    # plaintext streams), title refused
    assert pdf_decryptor(doc(b"Identity", b"MyCF")) is None
    assert pdf_title(doc(b"Identity", b"MyCF")) is None


def test_standard_encoding_curly_quotes_and_ligatures():
    """/Encoding /StandardEncoding: 0x27/0x60 are the CURLY quotes and the
    0xA1+ block is Adobe-ordered (ﬁ at 0256, endash at 0261) — decoding
    it as latin-1/utf-8 would emit the wrong punctuation."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    shown = bytes([0x27, 0x41, 0x60, 0o256, 0o261, 0o373])
    stream = b"BT /F1 12 Tf 72 700 Td <" + shown.hex().encode() + b"> Tj ET"
    pdf = _font_pdf(
        stream,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman"
        b" /Encoding /StandardEncoding >>",
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "’A‘ﬁ–ß"
    assert res[0][1] is False


# ------------------------------------------------ embedded font programs
def _multi_obj_pdf(stream: bytes, extra_objs: list[bytes],
                   font_obj: bytes) -> bytes:
    """Like _font_pdf but with additional objects 6..N after the font
    (for FontDescriptor / FontFile chains)."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
        font_obj,
    ] + extra_objs
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, start=1):
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    out += b"trailer\n<< /Root 1 0 R >>\n"
    return bytes(out)


def test_embedded_tt_cid_recovery_end_to_end():
    """Type0/Identity-H, NO ToUnicode, embedded TrueType whose (3,1) cmap
    maps unicode -> gid+0x100: text must round-trip byte-exactly through
    the reversed cmap (a gid==unicode assumption would emit garbage)."""
    from pbx_ds_ocr_server_spark.corpus import (
        make_pdf,
        pdf_pages_for,
    )
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    pages = pdf_pages_for(
        "embedded truetype cmap recovery works here with enough words to"
        " fill both of the requested pages completely", 2
    )
    pdf = make_pdf(pages, font="embedded_tt")
    res = extract_pdf_detailed(pdf)
    want = ["\n\n".join(s for _, _, s in page) for page in pages]
    assert [p[0].text for p in res] == want
    assert all(p[1] is False for p in res)


def test_embedded_tt_unmapped_gid_flags_lost():
    from pbx_ds_ocr_server_spark.corpus import (
        make_pdf,
        pdf_pages_for,
    )
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    # the font's cmap covers only this page's chars; splice in a show op
    # with a gid the table does not know -> that text is lost + flagged
    pages = pdf_pages_for("known words only", 1)
    pdf = make_pdf(pages, font="embedded_tt")
    bad = b"BT /F1 12 Tf 72 500 Td <fff0> Tj ET"
    pdf2 = pdf.replace(b"ET\nendstream", b"ET\n" + bad + b"\nendstream", 1)
    res = extract_pdf_detailed(pdf2)
    assert res[0][1] is True  # unmapped gid -> blind-spot flag
    assert "known words only" in res[0][0].text


def test_truetype_cmap_format4_both_segment_forms():
    """Hand-built format 4 with one idDelta segment and one glyphIdArray
    segment; both must parse, zero glyphs omitted, sentinel skipped."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        _parse_cmap_format4,
    )

    def u16s(vals):
        return b"".join(v.to_bytes(2, "big") for v in vals)

    # segs: [0x41..0x43] delta +5; [0x61..0x62] via glyph array (7, 0)
    seg_count = 3  # + sentinel
    end_codes = [0x43, 0x62, 0xFFFF]
    start_codes = [0x41, 0x61, 0xFFFF]
    deltas = [5, 0, 1]
    # glyph array right after ro array; seg 1's ro entry is at index 1:
    # bytes from that entry to array start = 2*(3-1) = 4
    ros = [0, 4, 0]
    glyph_array = [7, 0]  # 0x61 -> 7, 0x62 -> unmapped (gid 0)
    body = (
        u16s(end_codes) + b"\x00\x00" + u16s(start_codes)
        + u16s(deltas) + u16s(ros) + u16s(glyph_array)
    )
    sub = u16s([4, 14 + len(body), 0, seg_count * 2, 4, 1, 2]) + body
    m = _parse_cmap_format4(sub)
    assert m == {0x41: 0x46, 0x42: 0x47, 0x43: 0x48, 0x61: 7}


def test_truetype_parsers_survive_corrupt_programs():
    from pbx_ds_ocr_server_spark.corpus import make_truetype_cmap_font
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        truetype_gid_to_unicode,
        truetype_simple_code_map,
    )

    good = make_truetype_cmap_font(set("abc"))
    assert truetype_gid_to_unicode(good)
    for bad in (b"", b"\x00\x01\x00\x00", good[:20], good[:40],
                b"OTTO" + b"\x00" * 60, good[:60] + b"\xff" * 8):
        assert truetype_gid_to_unicode(bad) in (None, {}) or isinstance(
            truetype_gid_to_unicode(bad), dict
        )
        truetype_simple_code_map(bad)  # must not raise


def test_simple_truetype_31_cmap_codes_as_unicode():
    """Simple /TrueType font, NO /Encoding, embedded program with a (3,1)
    cmap: mapped byte codes decode as their Unicode value, unmapped codes
    are lost+flagged (9.6.6.4 lookup order)."""
    from pbx_ds_ocr_server_spark.corpus import make_truetype_cmap_font
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    tt = make_truetype_cmap_font(set("Hi there"))
    extra = [
        b"<< /Type /FontDescriptor /FontName /S /Flags 32"
        b" /FontFile2 7 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(tt), tt),
    ]
    stream = b"BT /F1 12 Tf 72 700 Td (Hi there) Tj 0 -20 Td (Hz) Tj ET"
    pdf = _multi_obj_pdf(
        stream,
        extra,
        b"<< /Type /Font /Subtype /TrueType /BaseFont /S"
        b" /FontDescriptor 6 0 R >>",
    )
    res = extract_pdf_detailed(pdf)
    # 'z' is not in the font's charset -> lost; the rest decodes
    assert "Hi there" in res[0][0].text
    assert "Hz" not in res[0][0].text and "H" in res[0][0].text
    assert res[0][1] is True


def test_type1_builtin_encoding_decodes_and_flags():
    """Simple Type1 font, NO /Encoding entry in the font dict: the
    embedded program's builtin /Encoding array (dup N /name put) decodes
    through the AGL; glyph-index names (g42) stay lost."""
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    t1 = (
        b"%!PS-AdobeFont-1.0: Synth 001.001\n"
        b"/FontName /Synth def\n"
        b"/Encoding 256 array\n"
        b"0 1 255 {1 index exch /.notdef put} for\n"
        b"dup 65 /eacute put\ndup 66 /afii10017 put\ndup 67 /ffi put\n"
        b"dup 68 /g42 put\n"
        b"readonly def\n"
        b"currentfile eexec\n\x01\x02binary"
    )
    extra = [
        b"<< /Type /FontDescriptor /FontName /Synth /Flags 4"
        b" /FontFile 7 0 R >>",
        b"<< /Length %d /Length1 %d >>\nstream\n%s\nendstream"
        % (len(t1), len(t1), t1),
    ]
    stream = b"BT /F1 12 Tf 72 700 Td <41424344> Tj ET"
    pdf = _multi_obj_pdf(
        stream,
        extra,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Synth"
        b" /FontDescriptor 6 0 R >>",
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "éАﬃ"
    assert res[0][1] is True  # the g42 glyph-index name is honest-lost


def test_agl_round5_names():
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import glyph_to_unicode

    assert glyph_to_unicode("afii10017") == "А"
    assert glyph_to_unicode("afii10023") == "Ё"
    assert glyph_to_unicode("afii10049") == "Я"
    assert glyph_to_unicode("afii10065") == "а"
    assert glyph_to_unicode("afii10071") == "ё"
    assert glyph_to_unicode("afii10097") == "я"
    assert glyph_to_unicode("afii61352") == "№"
    assert glyph_to_unicode("ffi") == "ﬃ"
    assert glyph_to_unicode("longs") == "ſ"
    assert glyph_to_unicode("dotlessi") == "ı"
    # glyph-INDEX names carry no Unicode: must stay lost
    assert glyph_to_unicode("g42") is None
    assert glyph_to_unicode("cid123") is None


def test_format12_notdef_and_subset_space_handling():
    """Review fixes: a format-12 group mapping to glyph 0 (.notdef) must
    not invert into real text, and a subset (3,1) cmap that omits U+0020
    must still decode 0x20 bytes as spaces (subset fonts draw word gaps
    with TJ offsets; losing every space would glue words together)."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        _parse_cmap_format12,
        truetype_simple_code_map,
    )
    from pbx_ds_ocr_server_spark.corpus import make_truetype_cmap_font

    def u16(v):
        return v.to_bytes(2, "big")

    def u32(v):
        return v.to_bytes(4, "big")

    # format 12 with two groups: 'A'->0 (.notdef) and 'B'->7
    sub = (
        u16(12) + u16(0) + u32(16 + 24) + u32(0) + u32(2)
        + u32(0x41) + u32(0x41) + u32(0)
        + u32(0x42) + u32(0x42) + u32(7)
    )
    m = _parse_cmap_format12(sub)
    assert m == {0x42: 7}

    tt = make_truetype_cmap_font(set("Hello"))  # no space in the charset
    cmap = truetype_simple_code_map(tt)
    assert cmap[0x20] == " "
    assert cmap[ord("H")] == "H"
    assert cmap[ord("z")] is None


def test_cidtogidmap_stream_composes_with_embedded_cmap():
    """Subset fonts renumber glyphs via a /CIDToGIDMap STREAM: show codes
    are CIDs, the stream maps CID->GID (uint16 at 2*cid), and only then
    does the embedded cmap's reverse map give text. cid 0 rows and gids
    the cmap lacks stay lost."""
    from pbx_ds_ocr_server_spark.corpus import make_truetype_cmap_font
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    tt = make_truetype_cmap_font(set("AB"))  # unicode -> ord+0x100
    gid_a, gid_b = ord("A") + 0x100, ord("B") + 0x100
    c2g = bytearray(14)
    c2g[10:12] = gid_a.to_bytes(2, "big")   # cid 5 -> gid of 'A'
    c2g[12:14] = gid_b.to_bytes(2, "big")   # cid 6 -> gid of 'B'

    def build(show_hex: bytes) -> bytes:
        # rebuild the WHOLE document per variant so /Length stays true —
        # a byte splice would rely on the parser ignoring /Length
        stream = b"BT /F1 12 Tf 72 700 Td <" + show_hex + b"> Tj ET"
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
            b" /Resources << /Font << /F1 5 0 R >> >> >>",
            b"<< /Length %d >>\nstream\n%s\nendstream"
            % (len(stream), stream),
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Sub"
            b" /Encoding /Identity-H /DescendantFonts [6 0 R] >>",
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Sub"
            b" /CIDToGIDMap 8 0 R /FontDescriptor 7 0 R >>",
            b"<< /Type /FontDescriptor /FontName /Sub /Flags 4"
            b" /FontFile2 9 0 R >>",
            b"<< /Length %d >>\nstream\n%s\nendstream"
            % (len(c2g), bytes(c2g)),
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(tt), tt),
        ]
        out = bytearray(b"%PDF-1.4\n")
        for i, body in enumerate(objs, start=1):
            out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
        out += b"trailer\n<< /Root 1 0 R >>\n"
        return bytes(out)

    res = extract_pdf_detailed(build(b"00050006"))
    assert res[0][0].text == "AB"
    assert res[0][1] is False

    # an unmapped cid (beyond the stream) is lost + flagged
    res2 = extract_pdf_detailed(build(b"000500060099"))
    assert res2[0][0].text == "AB"
    assert res2[0][1] is True


def test_type1_builtin_corpus_class_roundtrips():
    """pdf_type1_builtin: sequential non-ASCII codes + builtin /Encoding
    uniXXXX names — byte-exact recovery, nothing lost."""
    from pbx_ds_ocr_server_spark.corpus import make_pdf, pdf_pages_for
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )

    pages = pdf_pages_for(
        "builtin encoding survives a round trip across two pages of words"
        " and more words to keep the second page busy", 2
    )
    pdf = make_pdf(pages, font="type1_builtin")
    res = extract_pdf_detailed(pdf)
    assert [p[0].text for p in res] == [
        "\n\n".join(s for _, _, s in page) for page in pages
    ]
    assert all(p[1] is False for p in res)


# ------------------------------------------------------- 'post' glyph names
def _sfnt(tables: dict) -> bytes:
    n = len(tables)
    out = (0x00010000).to_bytes(4, "big") + n.to_bytes(2, "big") + b"\x00" * 6
    off = 12 + 16 * n
    recs = b""
    data = b""
    for tag, body in tables.items():
        recs += (
            tag + b"\x00" * 4
            + off.to_bytes(4, "big") + len(body).to_bytes(4, "big")
        )
        data += body
        off += len(body)
    return out + recs + data


def _post2(indexes: list, custom: list) -> bytes:
    body = (0x00020000).to_bytes(4, "big") + b"\x00" * 28
    body += len(indexes).to_bytes(2, "big")
    for i in indexes:
        body += i.to_bytes(2, "big")
    for name in custom:
        nb = name.encode("latin-1")
        body += bytes([len(nb)]) + nb
    return body


def _cmap10_format0(code_to_gid: dict) -> bytes:
    sub = (0).to_bytes(2, "big") + (262).to_bytes(2, "big") + b"\x00\x00"
    sub += bytes(code_to_gid.get(c, 0) for c in range(256))
    return (
        b"\x00\x00\x00\x01" + (1).to_bytes(2, "big") + (0).to_bytes(2, "big")
        + (12).to_bytes(4, "big") + sub
    )


def test_post_table_formats_and_standard_order():
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import parse_post_names

    # format 2.0: gid0 .notdef, gid1 std 'A' (index 36), gid2 std 'Ä'
    # (index 98 = MacRoman 0x80), gid3 std tail 'Scaron' (index 228),
    # gid4 custom 'eacute', gid5 custom glyph-index name (unmappable)
    font = _sfnt({
        b"post": _post2([0, 36, 98, 228, 258, 259], ["eacute", "g77"]),
    })
    names = parse_post_names(font)
    assert names == {1: "A", 2: "Ä", 3: "Š", 4: "é"}

    # format 1.0: glyph order IS the standard order
    f1 = _sfnt({b"post": (0x00010000).to_bytes(4, "big") + b"\x00" * 28})
    n1 = parse_post_names(f1)
    assert n1[3] == " " and n1[36] == "A" and n1[97] == "~"


def test_symbol_cmap_with_post_names_recovers_text():
    """A (3,0) symbol-cmap font was honest-all-lost; with a 'post' table
    the glyph names recover the text (code → gid at 0xF000+c → name)."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        truetype_simple_code_map,
    )

    def u16(v):
        return v.to_bytes(2, "big")

    # (3,0) format 4 mapping 0xF041..0xF042 -> gids 1..2 via idDelta
    seg = 2
    delta = (1 - 0xF041) & 0xFFFF
    body = (
        u16(0xF042) + u16(0xFFFF) + b"\x00\x00"
        + u16(0xF041) + u16(0xFFFF)
        + u16(delta) + u16(1)
        + u16(0) + u16(0)
    )
    sub = u16(4) + u16(14 + len(body)) + u16(0) + u16(seg * 2) + u16(4) + u16(1) + u16(0) + body
    cmap = b"\x00\x00\x00\x01" + u16(3) + u16(0) + (12).to_bytes(4, "big") + sub
    font = _sfnt({
        b"cmap": cmap,
        b"post": _post2([0, 258, 259], ["eacute", "germandbls"]),
    })
    m = truetype_simple_code_map(font)
    assert m[0x41] == "é" and m[0x42] == "ß"
    assert m[0x20] == " "  # space passes through
    assert m[0x43] is None  # unmapped code stays lost


def test_mac_cmap_post_names_override_macroman():
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        truetype_simple_code_map,
    )

    # (1,0) format 0: code 0x41 -> gid 1, 0x42 -> gid 2; post names only
    # for gid 1 ('eacute' overrides MacRoman 'A'); gid 2 falls back to
    # the MacRoman byte semantics ('B')
    font = _sfnt({
        b"cmap": _cmap10_format0({0x41: 1, 0x42: 2}),
        b"post": _post2([0, 258], ["eacute"]),
    })
    m = truetype_simple_code_map(font)
    assert m[0x41] == "é"
    assert m[0x42] == "B"


def test_composite_font_without_unicode_cmap_uses_post():
    """Type0/Identity-H + embedded program whose ONLY route to text is the
    post table (no Unicode cmap subtable): gid→name→text."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        truetype_gid_to_unicode,
    )

    font = _sfnt({
        b"post": _post2([0, 36, 37, 258], ["udieresis"]),
    })
    g2u = truetype_gid_to_unicode(font)
    assert g2u == {1: "A", 2: "B", 3: "ü"}


def test_hostile_format4_font_is_work_bounded():
    """A crafted cmap declaring many overlapping full-range segments whose
    codes all miss (out-of-bounds idRangeOffset) must not pin a core: the
    scan budget caps codes VISITED, not just entries added (a review
    finding — the entries-only cap never triggered because out stayed
    empty; 1024 such segments measured 11.5 s before the fix)."""
    import time

    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        _parse_cmap_format4,
    )

    def u16s(vals):
        return b"".join(v.to_bytes(2, "big") for v in vals)

    seg = 1024  # + sentinel
    n = seg + 1
    ends = [0xFFFE] * seg + [0xFFFF]
    starts = [0x0000] * seg + [0xFFFF]
    deltas = [0] * seg + [1]
    ros = [0xFFF0] * seg + [0]  # far out of bounds: every lookup misses
    body = u16s(ends) + b"\x00\x00" + u16s(starts) + u16s(deltas) + u16s(ros)
    sub = u16s([4, 14 + len(body), 0, n * 2, 4, 1, 2]) + body
    t0 = time.time()
    assert _parse_cmap_format4(sub) is None
    assert time.time() - t0 < 2.0


# ----------------------------------------------------------- CFF (Type1C)
def _cff_index_bytes(items: list) -> bytes:
    if not items:
        return b"\x00\x00"
    offs = [1]
    for it in items:
        offs.append(offs[-1] + len(it))
    out = len(items).to_bytes(2, "big") + b"\x01"
    for o in offs:
        out += bytes([o])
    return out + b"".join(items)


def _make_cff(sids: list, strings: list, enc_codes=None) -> bytes:
    """Minimal Type1C font: gids 1..n carry ``sids``; ``enc_codes[i]`` maps
    to gid i+1 (format-0 Encoding) or the Standard default when None."""
    header = bytes([1, 0, 4, 2])
    name_idx = _cff_index_bytes([b"Synth"])
    string_idx = _cff_index_bytes([s.encode() for s in strings])
    gsubr = b"\x00\x00"
    charset = b"\x00" + b"".join(s.to_bytes(2, "big") for s in sids)
    encoding = (
        b"" if enc_codes is None
        else b"\x00" + bytes([len(enc_codes)]) + bytes(enc_codes)
    )
    charstrings = _cff_index_bytes([b"\x0e"] * (1 + len(sids)))

    def topdict(cs_off, enc_off, chst_off):
        out = b"\x1d" + cs_off.to_bytes(4, "big") + b"\x0f"
        if enc_off:
            out += b"\x1d" + enc_off.to_bytes(4, "big") + b"\x10"
        out += b"\x1d" + chst_off.to_bytes(4, "big") + b"\x11"
        return out

    # two passes: sizes first (offsets 0), then the real offsets
    td = topdict(0, 0 if enc_codes is None else 1, 0)
    for _ in range(2):
        td_idx = _cff_index_bytes([td])
        base = len(header) + len(name_idx) + len(td_idx) + len(string_idx) + len(gsubr)
        cs_off = base
        enc_off = 0 if enc_codes is None else base + len(charset)
        chst_off = base + len(charset) + len(encoding)
        td = topdict(cs_off, enc_off, chst_off)
    return (
        header + name_idx + _cff_index_bytes([td]) + string_idx + gsubr
        + charset + encoding + charstrings
    )


def test_cff_code_map_custom_encoding_and_strings():
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        cff_simple_code_map,
    )

    # gid1 = SID 34 ('A'), gid2 = SID 391 (custom 'eacute'),
    # gid3 = SID 150 (ISOAdobe extended: not tabled -> lost)
    cff = _make_cff([34, 391, 150], ["eacute"], enc_codes=[0x41, 0x42, 0x43])
    m = cff_simple_code_map(cff)
    assert m[0x41] == "A"
    assert m[0x42] == "é"
    assert m[0x43] is None
    assert m[0x20] == " "  # space glyphless but never lost
    assert m[0x44] is None


def test_cff_standard_encoding_default():
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        cff_simple_code_map,
    )

    # no Encoding entry -> Standard: code 0x41 maps through STANDARD to
    # the glyph bearing SID 34; 'B' (SID 35) is absent from the charset
    cff = _make_cff([34, 109], [])  # gid2 = SID 109 ('fi' ligature)
    m = cff_simple_code_map(cff)
    assert m[0x41] == "A"
    assert m[0x42] is None
    assert m[0o256] == "ﬁ"  # StandardEncoding fi code reaches gid2


def test_cff_fontfile3_end_to_end_and_hardening():
    from pbx_ds_ocr_server_spark.kernels.pdf_extract import (
        extract_pdf_detailed,
    )
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        cff_simple_code_map,
    )

    sids = [0x41 - 0x20 + 1 + (ord(c) - 0x41) for c in "ABC"]  # A, B, C
    cff = _make_cff(sids, [], enc_codes=[0x61, 0x62, 0x63])  # a->A b->B c->C
    extra = [
        b"<< /Type /FontDescriptor /FontName /Synth /Flags 4"
        b" /FontFile3 7 0 R >>",
        b"<< /Length %d /Subtype /Type1C >>\nstream\n%s\nendstream"
        % (len(cff), cff),
    ]
    stream = b"BT /F1 12 Tf 72 700 Td (abc) Tj ET"
    pdf = _multi_obj_pdf(
        stream,
        extra,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Synth"
        b" /FontDescriptor 6 0 R >>",
    )
    res = extract_pdf_detailed(pdf)
    assert res[0][0].text == "ABC"  # the CFF Encoding remap is authoritative
    assert res[0][1] is False

    # hardening: truncations/garbage must decline, never raise
    for bad in (b"", b"\x01", cff[:10], cff[:30], cff[:-3],
                b"\x02" + cff[1:], cff[:40] + b"\xff" * 8):
        cff_simple_code_map(bad)


def test_cff_fifth_review_findings():
    """SID 8/65 are the CURLY quotes (TN5176 Appendix A, matching the
    STANDARD overrides); negative DICT offsets must not wrap to the
    buffer tail; Encoding supplements (code -> SID pairs) decode; a 0x20
    mapped to an undecodable glyph still emits a space."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        _CFF_STANDARD_SIDS,
        cff_simple_code_map,
    )

    assert _CFF_STANDARD_SIDS[8] == "’" and _CFF_STANDARD_SIDS[65] == "‘"

    # curly quotes through a custom encoding
    cff = _make_cff([8, 65], [], enc_codes=[0x27, 0x60])
    m = cff_simple_code_map(cff)
    assert m[0x27] == "’" and m[0x60] == "‘"
    # ...and through the Standard default (code 0x27 -> quoteright glyph)
    m2 = cff_simple_code_map(_make_cff([8], []))
    assert m2[0x27] == "’"

    # negative charset offset must decline, not wrap via Python indexing
    # and read the tail of the program as a charset. Patch the VALUE of
    # the 5-byte 0x1d operand in place (same length, so the Top DICT and
    # every other offset stay valid and the guard is actually reached —
    # a length-changing splice would fail earlier at the CharStrings
    # INDEX and leave the guard uncovered)
    base = _make_cff([34], [], enc_codes=[0x41])
    i = base.index(b"\x0f", 4) - 4
    neg = base[:i] + (-7).to_bytes(4, "big", signed=True) + base[i + 4:]
    assert neg.index(b"\x0f", 4) == i + 4  # operand slot, unchanged layout
    assert cff_simple_code_map(neg) is None

    # supplements: format 0x80|0 with zero base codes + one supplement
    # mapping code 0x45 -> SID 34 ('A'); needs a custom encoding blob, so
    # rebuild with the two-pass layout inline
    enc_sup = b"\x80\x00\x01\x45" + (34).to_bytes(2, "big")

    def make_with_enc(sids, enc_blob):
        header = bytes([1, 0, 4, 2])
        name_idx = _cff_index_bytes([b"Synth"])
        string_idx = _cff_index_bytes([])
        gsubr = b"\x00\x00"
        charset = b"\x00" + b"".join(s.to_bytes(2, "big") for s in sids)
        charstrings = _cff_index_bytes([b"\x0e"] * (1 + len(sids)))

        def topdict(cs, enc, chst):
            return (
                b"\x1d" + cs.to_bytes(4, "big") + b"\x0f"
                + b"\x1d" + enc.to_bytes(4, "big") + b"\x10"
                + b"\x1d" + chst.to_bytes(4, "big") + b"\x11"
            )

        td = topdict(0, 0, 0)
        for _ in range(2):
            td_idx = _cff_index_bytes([td])
            b0 = (
                len(header) + len(name_idx) + len(td_idx)
                + len(string_idx) + len(gsubr)
            )
            td = topdict(b0, b0 + len(charset),
                         b0 + len(charset) + len(enc_blob))
        return (
            header + name_idx + _cff_index_bytes([td]) + string_idx
            + gsubr + charset + enc_blob + charstrings
        )

    ms = cff_simple_code_map(make_with_enc([34], enc_sup))
    assert ms[0x45] == "A"
    # a supplement pointing at a SID the charset does NOT define is a
    # dangling mapping (a renderer would show .notdef) — honest lost,
    # while the base encoding keeps working (format 0, 1 code -> gid 1)
    dangling = b"\x80\x01\x41" + b"\x01\x45" + (99).to_bytes(2, "big")
    md = cff_simple_code_map(make_with_enc([34], dangling))
    assert md[0x41] == "A" and md[0x45] is None

    # 0x20 encoded to an untabled ISOAdobe-extended SID still yields ' '
    msp = cff_simple_code_map(_make_cff([200], [], enc_codes=[0x20]))
    assert msp[0x20] == " "


# ------------------------------------------------ round 6: Type3 + CID CFF
def _r6_xref_pdf(objs: list[bytes]) -> bytes:
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, 1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offs:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>"
        f"\nstartxref\n{xref}\n%%EOF"
    ).encode()
    return bytes(out)


def _r6_one_page_pdf(stream: bytes, font_objs: list[bytes]) -> bytes:
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
    ] + font_objs
    return _r6_xref_pdf(objs)


def test_type3_differences_decode():
    """Type3 charprocs font: /Encoding /Differences is the code→text
    route (§9.6.5); non-identity codes prove the table is actually read."""
    text = "type three glyphs"
    codes = {c: 0xA1 + i for i, c in enumerate(sorted(set(text)))}
    diffs = " ".join(
        f"{code} /uni{ord(c):04X}"
        for c, code in sorted(codes.items(), key=lambda kv: kv[1])
    )
    shown = "".join(f"{codes[c]:02x}" for c in text)
    stream = f"BT /F1 12 Tf 72 700 Td <{shown}> Tj ET".encode()
    charprocs = " ".join(f"/uni{ord(c):04X} 6 0 R" for c in codes)
    font = (
        f"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 10 10]"
        f" /FontMatrix [0.001 0 0 0.001 0 0]"
        f" /CharProcs << {charprocs} >>"
        f" /Encoding << /Differences [{diffs}] >> >>"
    ).encode()
    proc = b"<< /Length 8 >>\nstream\n10 0 d0\nendstream"
    pages = extract_pdf(_r6_one_page_pdf(stream, [font, proc]))
    assert [p.text for p in pages] == [text]


def test_type3_non_agl_names_stay_honest_lost():
    """Custom glyph names (/g1, /g2) carry no text semantics — honest
    empty, never a guessed byte value."""
    stream = b"BT /F1 12 Tf 72 700 Td <a1a2> Tj ET"
    font = (
        b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 10 10]"
        b" /FontMatrix [0.001 0 0 0.001 0 0]"
        b" /CharProcs << /g1 6 0 R /g2 6 0 R >>"
        b" /Encoding << /Differences [161 /g1 /g2] >> >>"
    )
    proc = b"<< /Length 8 >>\nstream\n10 0 d0\nendstream"
    pages = extract_pdf(_r6_one_page_pdf(stream, [font, proc]))
    assert [p.text for p in pages] == [""]


def _cid_latin_pdf(text: str, ordering: bytes = b"Japan1") -> bytes:
    shown = "".join(
        f"{ord(c) - 31:04x}" if 32 <= ord(c) <= 126 else f"{0x2710:04x}"
        for c in text
    )
    stream = f"BT /F1 12 Tf 72 700 Td <{shown}> Tj ET".encode()
    t0 = (
        b"<< /Type /Font /Subtype /Type0 /BaseFont /S"
        b" /Encoding /Identity-H /DescendantFonts [6 0 R] >>"
    )
    desc = (
        b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /S"
        b" /CIDSystemInfo << /Registry (Adobe) /Ordering (" + ordering
        + b") /Supplement 2 >> >>"
    )
    return _r6_one_page_pdf(stream, [t0, desc])


def test_cid_latin_ordering_prefix_decodes():
    """Identity-H + classic Adobe ordering, no ToUnicode: CIDs 1-95 are
    the collection's published Latin prefix (U+0020..U+007E)."""
    text = "Latin prefix ~ Z 0"
    for ordering in (b"Japan1", b"GB1", b"CNS1", b"Korea1"):
        pages = extract_pdf(_cid_latin_pdf(text, ordering))
        assert [p.text for p in pages] == [text], ordering


def test_cid_latin_beyond_prefix_stays_partial():
    """CIDs past the Latin prefix need the full ordering tables — honest
    partial: the mapped chars come back, the CJK CID does not."""
    pages = extract_pdf(_cid_latin_pdf("abc中"))
    assert [p.text for p in pages] == ["abc"]


def test_cid_unknown_ordering_stays_empty():
    """An Identity/unknown ordering has no Latin-prefix claim — honest
    empty, never a guessed mapping."""
    pages = extract_pdf(_cid_latin_pdf("abc", ordering=b"Identity"))
    assert [p.text for p in pages] == [""]


def test_registered_cid_table_extends_recovery():
    """The round-7 deploy seam: a table registered for a classic ordering
    overlays the Latin prefix through the same decode path, turning the
    former honest-partial into a full decode. (The REAL data is Adobe's
    published cid2code.txt — env-blocked here, so the registered table is
    synthetic; what's under test is the plumbing.)"""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        register_cid_table,
        unregister_cid_table,
    )

    # _cid_latin_pdf encodes any non-Latin char as CID 0x2710
    register_cid_table(b"Japan1", {0x2710: "中"})
    try:
        pages = extract_pdf(_cid_latin_pdf("abc中"))
        assert [p.text for p in pages] == ["abc中"]
    finally:
        unregister_cid_table(b"Japan1")
    # seam removed → the honest partial returns
    pages = extract_pdf(_cid_latin_pdf("abc中"))
    assert [p.text for p in pages] == ["abc"]


def test_registered_table_enables_non_classic_ordering():
    """Registering an ordering outside the classic four makes it
    recoverable; Registry must still be Adobe (the custom-registry
    decline is unchanged)."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        register_cid_table,
        unregister_cid_table,
    )

    # '!' encodes as CID ord('!')-31 = 2
    register_cid_table("KR9", {2: "か"})
    try:
        pages = extract_pdf(_cid_latin_pdf("!", ordering=b"KR9"))
        assert [p.text for p in pages] == ["か"]
    finally:
        unregister_cid_table("KR9")
    pages = extract_pdf(_cid_latin_pdf("!", ordering=b"KR9"))
    assert [p.text for p in pages] == [""]


def test_load_cid2code_published_shape():
    """Parser for the published cid2code.txt conventions: # comments,
    tab-separated with a named Unicode column, '*' = unmapped, 'x,y'
    alternates (first wins), variant letter suffixes skipped."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import load_cid2code

    text = (
        "# Copyright comment line\n"
        "# another\n"
        "CID\tJIS78\tUniJIS-UCS2\n"
        "0\t*\t*\n"
        "1\t2121\t0020\n"
        "633\t2121\t3000\n"
        "634\t2122\t3001,FF64\n"
        "635\t2123\t3013v\n"
        "bad\tx\t0041\n"
    )
    got = load_cid2code(text, "UniJIS-UCS2")
    assert got == {1: " ", 633: "　", 634: "、"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        load_cid2code(text, "NoSuchColumn")


def test_cidkeyed_cff_program_declines_simple_map():
    """The corpus's CID-keyed CFF (ROS in the Top DICT) must be refused by
    the SIMPLE-font CFF reader — its charset holds CIDs, not names."""
    from pbx_ds_ocr_server_spark.corpus import make_cidkeyed_cff
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        cff_simple_code_map,
    )

    assert cff_simple_code_map(make_cidkeyed_cff()) is None


def test_cid_cff_corpus_class_round_trip():
    """pdf_cid_cff end-to-end: the embedded CID-keyed CFF declines, the
    ordering's Latin prefix recovers the full ASCII text."""
    from pbx_ds_ocr_server_spark.corpus import make_pdf as _mk
    from pbx_ds_ocr_server_spark.corpus import pdf_pages_for

    pages_in = pdf_pages_for(
        "ordering prefix recovery end to end", 2, charset="ascii"
    )
    pages = extract_pdf(_mk(pages_in, font="cid_latin"))
    expected = ["\n\n".join(s for _, _, s in pg) for pg in pages_in]
    assert [p.text for p in pages] == expected


def test_cid_latin_requires_adobe_registry():
    """A custom registry reusing an Adobe ordering NAME has arbitrary CID
    semantics — must stay honest-empty, not decode as the Latin prefix."""
    pdf = _cid_latin_pdf("abc")
    forged = pdf.replace(b"/Registry (Adobe)", b"/Registry (FooCorp)")
    assert forged != pdf
    pages = extract_pdf(forged)
    assert [p.text for p in pages] == [""]


def test_cid_latin_indirect_cidsysteminfo_resolves():
    """The equally-legal indirect form (/CIDSystemInfo N 0 R) must decode
    the same Latin prefix as the inline dict."""
    text = "indirect system info"
    shown = "".join(f"{ord(c) - 31:04x}" for c in text)
    stream = f"BT /F1 12 Tf 72 700 Td <{shown}> Tj ET".encode()
    t0 = (
        b"<< /Type /Font /Subtype /Type0 /BaseFont /S"
        b" /Encoding /Identity-H /DescendantFonts [6 0 R] >>"
    )
    desc = (
        b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /S"
        b" /CIDSystemInfo 7 0 R >>"
    )
    csi = (
        b"<< /Registry (Adobe) /Ordering (Japan1) /Supplement 2 >>"
    )
    pages = extract_pdf(_r6_one_page_pdf(stream, [t0, desc, csi]))
    assert [p.text for p in pages] == [text]
    # hex-string forms of both values resolve too
    csi_hex = (
        b"<< /Registry <41646F6265> /Ordering <4A6170616E31>"
        b" /Supplement 2 >>"
    )
    pages = extract_pdf(_r6_one_page_pdf(stream, [t0, desc, csi_hex]))
    assert [p.text for p in pages] == [text]
