"""PDF layout-parse kernel (replaces ops T1+T6 for the PDF branch).

The reference renders PDF pages to rasters at 144 DPI and OCRs them
(``/root/reference/app/services/dsocr_model.py:144-174,415-457``); per the
north rule we parse the PDF text/layout directly instead:

  object scan → page tree (/Pages /Kids order, falling back to appearance
  order) → content-stream decode (plain or FlateDecode) → text-operator
  interpreter (BT/ET, Tm/Td/TD/T*, Tj/TJ/') tracking the text cursor →
  reading-order sort of text items by ``(-round(y), x)`` (PDF y grows upward,
  so visual top-to-bottom = descending y) → span assembly.

Page-count semantics mirror ``get_pdf_page_count``
(``/root/reference/app/utils/pdf.py:12-23``): ``None`` on any parse failure
(e.g. the reference's own 14-byte fixture ``b"%PDF-1.4\\n%EOF"``), never an
exception. Page selection honors the reference's ``_parse_page_ranges`` order
(``dsocr_model.py:106-141``) including its quirk that ``"5,1"`` processes page
5 before page 1 — the merged text follows processing order.

Each document is opened ONCE (``_OpenPdf``): one object scan, one page-tree
walk, and at most one decryptor derivation (the file key's MD5 rounds and
the /U check's 20 RC4 passes dominate an RC4 document — never re-derive
it). The public helpers (``pdf_page_count``, ``pdf_title``,
``pdf_decryptor``, ``extract_pdf[_detailed]``) each open, then read;
:func:`read_pdf` reads everything the extract operator needs from one open
— the analog of the reference's single lenient PyMuPDF open (its
``app/services/dsocr_model.py:376-390``).

Pure function of (payload bytes, config); zlib is the only dependency.
"""

from __future__ import annotations

import re
import zlib
from functools import cached_property
from typing import NamedTuple

from pbx_ds_ocr_server_spark.config import (
    DEFAULT_CONFIG,
    PAGE_SEPARATOR,
    ExtractConfig,
)
from pbx_ds_ocr_server_spark.kernels.html_extract import PageResult, Span
from pbx_ds_ocr_server_spark.kernels.page_ranges import parse_page_ranges
from pbx_ds_ocr_server_spark.kernels.pdf_crypt import (
    aes128_cbc_decrypt,
    empty_password_key,
    object_key,
    object_key_aes,
    r6_verify_and_key,
    rc4,
)
from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
    DEFAULT_FONT,
    FontDecoder,
    parse_differences,
    parse_tounicode,
)

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_STREAM_KW_RE = re.compile(rb"stream\r?\n")
# /Length: a direct integer, or an indirect `N G R` reference (group 2)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(\s+\d+\s+R)?")
_ENDSTREAM_RE = re.compile(rb"\s*endstream")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
# /Contents: single-ref AND array form (both everywhere in real crawls)
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[(.*?)\]", re.DOTALL)
_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
_TYPE_PAGES_RE = re.compile(rb"/Type\s*/Pages\b")
# /Filter: single name or array chain, applied in order
_FILTER_RE = re.compile(rb"/Filter\s*(?:\[(.*?)\]|/([A-Za-z0-9]+))", re.DOTALL)
_FILTER_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")

# content-stream tokens: strings (literal + hex), arrays, numbers, names,
# operators
_TOK_RE = re.compile(
    rb"""\((?:[^()\\]|\\.)*\)      # literal string
      | <[0-9A-Fa-f\s]*>          # hex string (never matches '<<' dicts)
      | \[ | \]
      | /[A-Za-z0-9.#_-]+
      | [-+]?\d*\.?\d+
      | [A-Za-z'"*]+
    """,
    re.VERBOSE | re.DOTALL,
)

_HEX_WS_RE = re.compile(rb"\s+")

_ESC = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _literal_string_bytes(raw: bytes) -> bytes:
    """Resolve a literal string body's escapes → raw bytes (no charset)."""
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESC:
                out += _ESC[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal \ddd (1-3 digits)
                j = i + 1
                oct_digits = b""
                while j < n and len(oct_digits) < 3 and raw[j : j + 1].isdigit():
                    oct_digits += raw[j : j + 1]
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
                continue
            if nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                continue
            out += nxt
            i += 2
            continue
        out += c
        i += 1
    return bytes(out)


def _tok_raw(tok: bytes) -> bytes:
    """Raw bytes of a string token — literal ``(...)`` or hex ``<...>``.
    These are FONT CODES, not text: a font decoder turns them into text."""
    if tok.startswith(b"("):
        return _literal_string_bytes(tok[1:-1])
    if tok.startswith(b"<"):
        hx = _HEX_WS_RE.sub(b"", tok[1:-1])
        if len(hx) % 2:  # odd digit count: spec pads with trailing 0
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except ValueError:
            return b""
    return b""


def _is_string_tok(tok: bytes) -> bool:
    return tok.startswith(b"(") or tok.startswith(b"<")


_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_N_RE = re.compile(rb"/N\s+(\d+)")
_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def _stream_raw(body: bytes, objects: dict[int, bytes]) -> bytes | None:
    """The raw (still filtered/encrypted) bytes of ``body``'s stream, or
    None when it has none.

    Framed by /Length: exactly that many bytes after the ``stream`` EOL,
    when ``endstream`` follows them after optional whitespace. The length
    is a direct integer or an ``N 0 R`` resolved through ``objects``.
    Otherwise (no usable /Length, or one that does not land on
    ``endstream``: crawled files carry wrong lengths) the data ends at the
    first EOL + ``endstream`` — a rule that drops a final 0x0D data byte,
    so it is only the fallback."""
    sm = _STREAM_KW_RE.search(body)
    if not sm:
        return None
    lm = _LENGTH_RE.search(body, 0, sm.start())
    if lm:
        n = int(lm.group(1))
        if lm.group(2):
            ref = objects.get(n, b"").strip()
            n = int(ref) if ref.isdigit() else -1
        end = sm.end() + n
        if n >= 0 and _ENDSTREAM_RE.match(body, end):
            return body[sm.end() : end]
    m = _STREAM_RE.search(body, sm.start())
    return m.group(1) if m else None


def _expand_objstm(body: bytes, out: dict[int, bytes]) -> None:
    """Unpack a cross-reference object stream (/Type /ObjStm): header is N
    (obj-number, offset) integer pairs, then the concatenated objects at
    /First. Objects inside are invisible to the raw ``N 0 obj`` scan, so
    modern xref-stream PDFs need this expansion."""
    nm = _N_RE.search(body)
    fm = _FIRST_RE.search(body)
    raw = _stream_raw(body, out)
    if not (nm and fm and raw is not None):
        return
    data, ok = _apply_filters(body, raw)
    if not ok:
        return
    n = int(nm.group(1))
    first = int(fm.group(1))
    header = data[:first].split()
    if len(header) < 2 * n:
        return
    try:
        pairs = [
            (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
        ]
    except ValueError:
        # non-integer header: skip this stream like the malformed shapes
        # above, never fail the whole document
        return
    for i, (obj_num, off) in enumerate(pairs):
        start = first + off
        end = first + pairs[i + 1][1] if i + 1 < n else len(data)
        out.setdefault(obj_num, data[start:end])


def _parse_objects(payload: bytes) -> dict[int, bytes]:
    out = {int(m.group(1)): m.group(3) for m in _OBJ_RE.finditer(payload)}
    for body in list(out.values()):
        if _OBJSTM_RE.search(body):
            _expand_objstm(body, out)
    return out


def _page_object_ids(objects: dict[int, bytes]) -> list[int]:
    """Page ids in document order: via the /Pages /Kids tree when present,
    else object-appearance order."""
    page_ids = [oid for oid, body in objects.items() if _TYPE_PAGE_RE.search(body)]
    if not page_ids:
        return []
    page_set = set(page_ids)
    for body in objects.values():
        if _TYPE_PAGES_RE.search(body):
            kids = _KIDS_RE.search(body)
            if kids:
                ordered = [
                    int(m.group(1))
                    for m in _REF_RE.finditer(kids.group(1))
                    if int(m.group(1)) in page_set
                ]
                if ordered:
                    # append any orphan pages not reachable from the tree
                    ordered += [p for p in page_ids if p not in set(ordered)]
                    return ordered
    return page_ids


def pdf_page_count(payload: bytes) -> int | None:
    """None on parse failure (mirrors the reference's
    ``app/utils/pdf.py:12-23``)."""
    if not payload or not payload.startswith(b"%PDF-"):
        return None
    try:
        return _OpenPdf(payload).n_pages
    except Exception:
        return None


def _ascii_hex_decode(data: bytes) -> bytes:
    body = data.split(b">", 1)[0]
    hx = _HEX_WS_RE.sub(b"", body)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    import base64

    body = data.split(b"~>", 1)[0]
    if body.startswith(b"<~"):
        body = body[2:]
    return base64.a85decode(_HEX_WS_RE.sub(b"", body))


def _runlength_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        if b == 128:  # EOD
            break
        if b < 128:
            out += data[i + 1 : i + 2 + b]
            i += 2 + b
        else:
            out += data[i + 1 : i + 2] * (257 - b)
            i += 2
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """PDF/TIFF LZW: MSB-first bit packing, 8-bit symbols, code 256 = clear,
    257 = EOD, code width 9→12 bits growing one entry EARLY (PDF default
    EarlyChange=1)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif prev is not None and code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("bad LZW code")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            # early change: widen one code BEFORE the table is full
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _apply_filters(body: bytes, data: bytes) -> tuple[bytes, bool]:
    """Run the stream through its /Filter chain (single name or array, in
    order). → (decoded, ok). Unsupported filters (DCTDecode, JBIG2, crypt
    filters …) and decode errors → (b'', False): the caller surfaces the
    page as succeeded_empty, never a silent success."""
    m = _FILTER_RE.search(body)
    if not m:
        return data, True
    if m.group(1) is not None:
        names = [n.decode("ascii") for n in _FILTER_NAME_RE.findall(m.group(1))]
    else:
        names = [m.group(2).decode("ascii")]
    try:
        for name in names:
            if name == "FlateDecode":
                data = zlib.decompress(data)
            elif name == "ASCIIHexDecode":
                data = _ascii_hex_decode(data)
            elif name == "ASCII85Decode":
                data = _ascii85_decode(data)
            elif name == "RunLengthDecode":
                data = _runlength_decode(data)
            elif name == "LZWDecode":
                data = _lzw_decode(data)
            else:
                return b"", False
    except Exception:
        return b"", False
    return data, True


def _stream_data(
    objects: dict[int, bytes], obj_id: int, decrypt
) -> tuple[bytes, bool]:
    """Decode object ``obj_id``'s stream → (data, had_raw). ``had_raw`` is
    True when a non-empty raw stream existed, even if decoding failed — the
    signal that separates a genuinely blank page from a parser blind spot
    (unsupported filter, undecodable data). ``decrypt(obj_id, raw)`` runs
    BEFORE the /Filter chain (the spec's order: encryption wraps the
    filtered bytes)."""
    body = objects.get(obj_id, b"")
    data = _stream_raw(body, objects)
    if data is None:
        return b"", False
    had_raw = bool(data)
    if decrypt is not None:
        data = decrypt(obj_id, data)
    decoded, ok = _apply_filters(body, data)
    if not ok:
        return b"", had_raw
    return decoded, had_raw


def _content_stream(
    objects: dict[int, bytes], page_body: bytes, page_oid: int, decrypt
) -> tuple[bytes, bool]:
    """Page body → (concatenated decoded content, had_raw_content).

    Handles BOTH /Contents forms: the single ref ``/Contents N 0 R`` and the
    array ``/Contents [N 0 R M 0 R]`` (streams concatenated in array order
    with a whitespace joint, per the PDF spec's "treated as one stream"
    rule). The array form is everywhere in real crawls; silently yielding
    empty text for it was the reference-parity gap flagged in round 1."""
    am = _CONTENTS_ARR_RE.search(page_body)
    if am:
        parts: list[bytes] = []
        had_any = False
        for rm in _REF_RE.finditer(am.group(1)):
            oid = int(rm.group(1))
            data, had = _stream_data(objects, oid, decrypt)
            had_any = had_any or had
            if data:
                parts.append(data)
        return b"\n".join(parts), had_any
    m = _CONTENTS_RE.search(page_body)
    if m:
        oid = int(m.group(1))
        return _stream_data(objects, oid, decrypt)
    return _stream_data(objects, page_oid, decrypt)


# inline images: BI <dict> ID <binary...> EI — the binary body is raw
# sample data that would otherwise feed garbage tokens (an unbalanced '('
# swallows real text up to the next ')'). EI must be whitespace-delimited
# (the standard heuristic). A match is stripped ONLY when its ID..EI body
# contains non-text bytes: real sample data is binary, while a false match
# spanning literal strings like "(BI) Tj ... ( EI) Tj" is printable and is
# left alone (a purely ASCII-encoded inline image then feeds harmless
# number/name tokens — no string tokens — to the interpreter).
_INLINE_IMG_RE = re.compile(rb"\bBI\b.*?\bID\b(.*?)\sEI\b", re.DOTALL)
_TEXTUAL_BYTES = frozenset(range(32, 127)) | {9, 10, 13}


def _strip_inline_images(stream: bytes) -> bytes:
    def repl(m: re.Match) -> bytes:
        body = m.group(1)
        if all(b in _TEXTUAL_BYTES for b in body):
            return m.group(0)  # printable: likely a false match in text
        return b" "

    return _INLINE_IMG_RE.sub(repl, stream)


def _text_items(
    stream: bytes, fonts: dict[bytes, "FontDecoder"] | None = None
) -> tuple[list[tuple[float, float, str]], bool]:
    """Interpret text-showing operators → ([(x, y, text)] in stream order,
    lost). ``fonts`` maps resource names (no slash) to decoders; the ``Tf``
    operator switches the active decoder. ``lost=True`` when any show op
    carried codes the active font could not decode honestly (CID with no
    ToUnicode, unmapped codes) — the caller surfaces the page as
    ``succeeded_empty`` instead of emitting mojibake as a success."""
    if b"BI" in stream:
        stream = _strip_inline_images(stream)
    fonts = fonts or {}
    cur = DEFAULT_FONT
    lost = False

    def show(tok: bytes) -> str:
        nonlocal lost
        s, lost_one = cur.decode(_tok_raw(tok))
        lost = lost or lost_one
        return s

    items: list[tuple[float, float, str]] = []
    x = y = 0.0
    lx = ly = 0.0  # line start (for T*)
    leading = 0.0
    stack: list[bytes] = []
    in_array: list[bytes] | None = None
    for m in _TOK_RE.finditer(stream):
        tok = m.group(0)
        if tok == b"[":
            in_array = []
            continue
        if tok == b"]":
            stack.append(b"ARRAY")
            continue
        if _is_string_tok(tok):
            if in_array is not None:
                in_array.append(tok)
            else:
                stack.append(tok)
            continue
        if tok.startswith(b"/") or re.fullmatch(rb"[-+]?\d*\.?\d+", tok):
            if in_array is not None and not tok.startswith(b"/"):
                continue  # kerning numbers inside TJ arrays are ignored
            stack.append(tok)
            continue
        # operator
        op = tok
        if op == b"Td" or op == b"TD":
            if len(stack) >= 2:
                try:
                    ty = float(stack[-1])
                    tx = float(stack[-2])
                    lx, ly = lx + tx, ly + ty
                    x, y = lx, ly
                    if op == b"TD":
                        leading = -ty
                except ValueError:
                    pass
        elif op == b"Tm":
            if len(stack) >= 6:
                try:
                    f = float(stack[-1]); e = float(stack[-2])
                    x = lx = e
                    y = ly = f
                except ValueError:
                    pass
        elif op == b"T*":
            ly -= leading
            x, y = lx, ly
        elif op == b"TL":
            if stack:
                try:
                    leading = float(stack[-1])
                except ValueError:
                    pass
        elif op == b"Tf":
            # /F1 12 Tf — switch the active font decoder
            if len(stack) >= 2 and stack[-2].startswith(b"/"):
                cur = fonts.get(stack[-2][1:], DEFAULT_FONT)
        elif op in (b"Tj", b"'", b'"'):
            # ' and " move to the next line first; " additionally carries
            # (aw ac) word/char spacing operands BEFORE the string — the
            # string is still the top of stack, spacing is layout-only
            if op != b"Tj":
                ly -= leading
                x, y = lx, ly
            if stack and _is_string_tok(stack[-1]):
                s = show(stack[-1])
                if s:
                    items.append((x, y, s))
        elif op == b"TJ":
            if in_array is not None:
                s = "".join(show(t) for t in in_array)
                if s:
                    items.append((x, y, s))
            in_array = None
        elif op == b"BT":
            x = y = lx = ly = 0.0
            leading = 0.0
        in_array = None
        stack = []
    return items, lost


_DO_RE = re.compile(rb"/([A-Za-z0-9]+)\s+Do\b")
_INFO_REF_RE = re.compile(rb"/Info\s+(\d+)\s+\d+\s+R")


def _text_string(raw: bytes) -> str:
    """Decode a PDF *text string* (ISO 32000-1 §7.9.2.2): UTF-16BE when it
    carries the BOM, else the byte path (utf-8 with replacement — close to
    PDFDocEncoding for the printable range and identical for ASCII)."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    return raw.decode("utf-8", errors="replace")


# ------------------------------------------------------------- decryption
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_HEX_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>")
_ID_LIT_RE = re.compile(rb"/ID\s*\[\s*\(((?:[^()\\]|\\.)*)\)")
_STD_FILTER_RE = re.compile(rb"/Filter\s*/Standard\b")


def _dict_string(body: bytes, key: bytes) -> bytes | None:
    """Raw bytes of a string-valued dict entry (/O, /U): literal or hex."""
    m = re.search(
        rb"/" + key + rb"\s*(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)",
        body,
        re.DOTALL,
    )
    return _tok_raw(m.group(1)) if m else None


def _identity_decryptor():
    """The decryptor for 'nothing is encrypted': passes streams and
    strings through untouched. Distinct from returning None, which means
    'cannot open' — conflating the two makes callers drop perfectly
    readable plaintext (round-4 review)."""

    def _plain(obj_num: int, data: bytes) -> bytes:
        return data

    _plain.for_strings = _plain
    _plain.strings_encrypted = False
    return _plain


class _OpenPdf:
    """One document, opened once: the parsed objects, the page ids and the
    /Encrypt reference (last trailer wins — incremental updates append);
    the standard /Encrypt dict and the decryptor are derived on first use
    and never again. Every public helper opens, then reads."""

    def __init__(self, payload: bytes):
        self.payload = payload
        self.objects = _parse_objects(payload)
        self.page_ids = _page_object_ids(self.objects)
        self.encrypt_ref: int | None = None
        for m in _ENCRYPT_REF_RE.finditer(payload):
            self.encrypt_ref = int(m.group(1))

    @property
    def n_pages(self) -> int | None:
        """Page count; None when there is no page tree."""
        return len(self.page_ids) or None

    @property
    def encrypted(self) -> bool:
        """A trailer carries an /Encrypt reference."""
        return self.encrypt_ref is not None

    @cached_property
    def encrypt_dict(self) -> bytes | None:
        """The standard-security-handler /Encrypt dictionary body, or None
        when the document is unencrypted / uses a non-standard filter."""
        body = self.objects.get(self.encrypt_ref)
        if body is None or not _STD_FILTER_RE.search(body):
            return None
        return body

    @cached_property
    def decrypt(self):
        """:func:`pdf_decryptor`'s result, derived once per document."""
        return _decryptor(self.payload, self.encrypt_dict)

    @property
    def locked(self) -> bool:
        """Encrypted, and the empty user password does not open it."""
        return self.encrypted and self.decrypt is None


def _crypt_selector(body: bytes, key: bytes) -> bytes:
    """/StmF or /StrF crypt-filter selector name (default Identity)."""
    m_ = re.search(rb"/" + key + rb"\s*/([A-Za-z0-9]+)", body)
    return m_.group(1) if m_ else b"Identity"


def _strings_plaintext(body: bytes | None) -> bool:
    """True when the encrypted document's STRINGS are plaintext per its
    own /StrF selector (/Identity, or a /V 4-5 dict with no selector).
    Lets pdf_title keep a readable /Title even when the stream key cannot
    be derived (real user password) — strings and streams are encrypted
    independently. ``body`` is the /Encrypt dict (``_OpenPdf.encrypt_dict``)."""
    if body is None:
        return False
    vm = re.search(rb"/V\s+(-?\d+)", body)
    if vm is None or int(vm.group(1)) not in (4, 5):
        return False  # V1/V2 encrypt everything
    # only the literal /Identity passthrough means plaintext; any NAMED
    # crypt filter (StdCF or otherwise) means the strings are ciphertext
    return _crypt_selector(body, b"StrF") == b"Identity"


def pdf_decryptor(payload: bytes):
    """Empty-user-password decryptor, or None.

    Handles the dominant crawl cases: standard security handler with
    /V 1-2 (RC4-40/128, /R 2-3), /V 4 /R 4 crypt filters whose /StdCF is
    /CFM /AESV2 (AES-128-CBC, PDF 1.6+) or /V2 (RC4), and /V 5 /R 6
    /CFM /AESV3 (AES-256, PDF 2.0 — key recovered from /UE after the
    Algorithm 2.B empty-password validation) — owner-password-only
    documents that the empty USER password opens, exactly like every PDF
    viewer does silently (and like PyMuPDF's lenient open gives the
    reference, ``/root/reference/app/services/dsocr_model.py:376-390``).
    The derived file key is VERIFIED against /U before use (Algorithm 6
    for R ≤ 4, Algorithm 2.A for R 6); unknown crypt filters or a real
    user password → None, and the caller keeps the typed rejection.

    Returns ``decrypt(obj_num, raw) -> raw``. Generation numbers are
    assumed 0 (the crawl norm; incremental-update gens would need the xref,
    which this scan-based parser deliberately skips)."""
    return _OpenPdf(payload).decrypt


def _decryptor(payload: bytes, body: bytes | None):
    """:func:`pdf_decryptor` for the /Encrypt dict ``body`` (None → None);
    ``payload`` supplies the trailer /ID."""
    if body is None:
        return None

    def iget(k: bytes, default: int | None = None) -> int | None:
        mm = re.search(rb"/" + k + rb"\s+(-?\d+)", body)
        return int(mm.group(1)) if mm else default

    v = iget(b"V", 0)
    r = iget(b"R", 2)
    p = iget(b"P")
    length = 40 if v == 1 else iget(b"Length", 40)
    if v not in (1, 2, 4, 5) or r not in (2, 3, 4, 6) or p is None:
        return None
    cfm = b"RC4"  # V1/V2: the cipher is RC4 at the top level
    stream_enc = string_enc = True  # V1/V2: everything is encrypted
    string_refused = False  # V4/5: a named non-StdCF /StrF we cannot run
    if v in (4, 5):
        # selectors FIRST: a dict whose /StmF and /StrF are both
        # /Identity needs no crypt filter at all (legal per spec — the doc
        # may encrypt only embedded files), so it must resolve to the
        # identity decryptor even when /CF is absent or its /CFM is
        # unrecognized (round-4 review #1: requiring a parsable /StdCF
        # before the selector check made those docs look locked).
        stm = _crypt_selector(body, b"StmF")
        strf = _crypt_selector(body, b"StrF")
        if stm == b"Identity" and strf == b"Identity":
            return _identity_decryptor()
        if stm not in (b"StdCF", b"Identity"):
            # stream channel names a crypt filter we cannot run: content
            # is locked regardless of the string channel — returning a
            # decryptor here would suppress the caller's typed rejection
            # and raw-parse ciphertext streams as if they were plaintext
            return None
        stream_enc = stm == b"StdCF"
        string_enc = strf == b"StdCF"
        # a NAMED non-StdCF string filter is ciphertext we cannot run —
        # it must be REFUSED (for_strings=None), never treated as the
        # /Identity passthrough (round-4 review pass 3: an identity
        # for_strings decodes /MyCF ciphertext titles into mojibake)
        string_refused = strf not in (b"StdCF", b"Identity")
        if not stream_enc and not string_enc:
            # /StmF /Identity + refused /StrF: streams are plaintext and
            # extraction works through the raw-parse path; strings stay
            # undecryptable (_strings_plaintext says not-plaintext)
            return None
        # crypt-filter dispatch: /CFM must be read from the /StdCF entry
        # INSIDE the /CF dict (never whichever /CFM or /StdCF byte sequence
        # appears first — '/StmF /StdCF' routinely precedes /CF in real
        # dicts).
        cf = _inline_dict_after(body, b"/CF")
        stdcf = _inline_dict_after(cf, b"/StdCF") if cf else None
        if stdcf is None:
            return None
        want = rb"/CFM\s*/(AESV3)\b" if v == 5 else rb"/CFM\s*/(AESV2|V2)\b"
        cm = re.search(want, stdcf)
        if cm is None:
            return None
        cfm = b"RC4" if cm.group(1) == b"V2" else b"AES"
        # the V4 key length comes from the /StdCF entry's OWN /Length —
        # never the first /Length in the outer dict (key order is
        # arbitrary). Producers write it in BYTES (16) or BITS (128) —
        # ISO 32000-1 Table 25 says bits, Acrobat writes bytes; values
        # < 40 are unambiguously bytes (no 5-bit keys exist), so scale
        # them ×8 the way pdf.js/mupdf do. /CFM /V2 with /Length 5 is a
        # real-crawl 40-bit-RC4-in-a-crypt-filter shape. AESV2 keys are
        # 128-bit by definition regardless of the recorded /Length.
        if cfm == b"AES":
            length = 128
        else:
            lm = re.search(rb"/Length\s+(\d+)", stdcf)
            cf_len = int(lm.group(1)) if lm else 128
            length = cf_len * 8 if cf_len < 40 else cf_len
    if v == 5:
        if r != 6:
            return None
        u5 = _dict_string(body, b"U")
        ue5 = _dict_string(body, b"UE")
        if not u5 or not ue5:
            return None
        key = r6_verify_and_key(u5, ue5)
        if key is None:
            return None

        def cipher(obj_num: int, data: bytes, _key=key) -> bytes:
            # R6 uses the 32-byte file key directly (no per-object salt)
            return aes128_cbc_decrypt(_key, data)

    else:
        encrypt_metadata = not re.search(
            rb"/EncryptMetadata\s+false\b", body
        )
        o = _dict_string(body, b"O")
        u = _dict_string(body, b"U")
        if not o or not u:
            return None
        id0 = b""
        idm = None
        for m2 in _ID_HEX_RE.finditer(payload):
            idm = m2
        if idm is not None:
            hx = _HEX_WS_RE.sub(b"", idm.group(1))
            if len(hx) % 2:
                hx += b"0"
            try:
                id0 = bytes.fromhex(hx.decode("ascii"))
            except ValueError:
                id0 = b""
        else:
            for m2 in _ID_LIT_RE.finditer(payload):
                idm = m2
            if idm is not None:
                id0 = _literal_string_bytes(idm.group(1))
        key = empty_password_key(o, u, p, id0, length, r, encrypt_metadata)
        if key is None:
            return None

        if cfm == b"AES":

            def cipher(obj_num: int, data: bytes, _key=key) -> bytes:
                return aes128_cbc_decrypt(
                    object_key_aes(_key, obj_num, 0), data
                )

        else:

            def cipher(obj_num: int, data: bytes, _key=key) -> bytes:
                return rc4(object_key(_key, obj_num, 0), data)

    def _identity(obj_num: int, data: bytes) -> bytes:
        return data

    # the returned callable decrypts STREAMS (identity when /StmF is
    # Identity — the stream bytes are plaintext); its `.for_strings`
    # attribute decrypts STRING objects per /StrF (pdf_title uses it),
    # and `.strings_encrypted` records whether strings are ciphertext at
    # all (so callers can distinguish "decrypt with a key" from "already
    # plaintext" — a string with no object number is undecryptable in
    # the former case but perfectly readable in the latter)
    decrypt = cipher if stream_enc else _identity
    if string_refused:
        # strings use a filter we cannot run: expose "encrypted with no
        # decryptor" so pdf_title yields typed absence, never mojibake
        decrypt.for_strings = None
        decrypt.strings_encrypted = True
    else:
        decrypt.for_strings = cipher if string_enc else _identity
        decrypt.strings_encrypted = string_enc
    return decrypt


# ---------------------------------------------------------- font resolution
_RES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+\d+\s+R")
_FONT_REF_RE = re.compile(rb"/Font\s+(\d+)\s+\d+\s+R")
_NAME_REF_RE = re.compile(rb"/([A-Za-z0-9.#_-]+)\s+(\d+)\s+\d+\s+R")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_IDENTITY_RE = re.compile(rb"/Encoding\s*/Identity-[HV]\b")
_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+\d+\s+R")


def _dict_at(data: bytes, start: int) -> bytes | None:
    """Balanced ``<< ... >>`` slice starting at ``start`` (which must point
    at '<<'), or None when unbalanced."""
    depth = 0
    i = start
    n = len(data)
    while i < n - 1:
        two = data[i : i + 2]
        if two == b"<<":
            depth += 1
            i += 2
            continue
        if two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return data[start:i]
            continue
        i += 1
    return None


_NAME_CHARS = frozenset(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                        b"abcdefghijklmnopqrstuvwxyz0123456789.#_-")


def _inline_dict_after(data: bytes, key: bytes) -> bytes | None:
    """The ``<< ... >>`` immediately following ``/key`` (inline dict value).

    Scans ALL occurrences of the key: dict key order is arbitrary in real
    PDFs, so an earlier occurrence of the same name used as a VALUE (e.g.
    ``/StmF /StdCF`` before ``/CF << /StdCF << ... >> >>``) must not make
    the lookup fail. An occurrence only matches when the key is a complete
    name (not a prefix of a longer one) and is followed by whitespace and
    ``<<``."""
    i = 0
    n = len(data)
    while True:
        i = data.find(key, i)
        if i < 0:
            return None
        end = i + len(key)
        if end < n and data[end] in _NAME_CHARS:
            i = end  # /StdCF matching inside /StdCF2 etc.
            continue
        j = data.find(b"<<", end)
        if j >= 0 and not data[end:j].strip():
            return _dict_at(data, j)
        i = end


_ENC_NAME_RE = re.compile(rb"/Encoding\s*/([A-Za-z0-9-]+)")
_BASE_ENC_RE = re.compile(rb"/BaseEncoding\s*/([A-Za-z0-9-]+)")
_DESC_FONTS_INLINE_RE = re.compile(rb"/DescendantFonts\s*\[\s*(\d+)\s+\d+\s+R")
_DESC_FONTS_REF_RE = re.compile(rb"/DescendantFonts\s+(\d+)\s+\d+\s+R")
_FONT_DESC_RE = re.compile(rb"/FontDescriptor\s+(\d+)\s+\d+\s+R")
_FONTFILE2_RE = re.compile(rb"/FontFile2\s+(\d+)\s+\d+\s+R")
_FONTFILE3_RE = re.compile(rb"/FontFile3\s+(\d+)\s+\d+\s+R")
_FONTFILE_RE = re.compile(rb"/FontFile\s+(\d+)\s+\d+\s+R")
_CIDTOGID_STREAM_RE = re.compile(rb"/CIDToGIDMap\s+(\d+)\s+\d+\s+R")
_FIRST_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")


def _font_program(
    objects: dict[int, bytes], font_body: bytes, regex: re.Pattern, decrypt
) -> bytes | None:
    """Embedded font-program stream bytes reached through the font dict's
    /FontDescriptor (/FontFile or /FontFile2 per ``regex``)."""
    dm = _FONT_DESC_RE.search(font_body)
    if not dm:
        return None
    desc = objects.get(int(dm.group(1)))
    if not desc:
        return None
    fm = regex.search(desc)
    if not fm:
        return None
    oid = int(fm.group(1))
    data, _ = _stream_data(objects, oid, decrypt)
    return data or None


def _descendant_font(
    objects: dict[int, bytes], body: bytes
) -> bytes | None:
    """The (single) descendant CIDFont dict of a Type0 font — inline
    ``/DescendantFonts [N 0 R]`` or the indirect-array form."""
    dm = _DESC_FONTS_INLINE_RE.search(body)
    if dm:
        return objects.get(int(dm.group(1)))
    rm = _DESC_FONTS_REF_RE.search(body)
    if not rm:
        return None
    arr = objects.get(int(rm.group(1)), b"")
    fm = _FIRST_REF_RE.search(arr)
    return objects.get(int(fm.group(1))) if fm else None


_ORDERING_RE = re.compile(rb"/Ordering\s*\(\s*([A-Za-z0-9\-]+)\s*\)")
_ORDERING_HEX_RE = re.compile(rb"/Ordering\s*<([0-9A-Fa-f\s]+)>")
_REGISTRY_ADOBE_RE = re.compile(rb"/Registry\s*\(\s*Adobe\s*\)")
_REGISTRY_HEX_RE = re.compile(rb"/Registry\s*<([0-9A-Fa-f\s]+)>")
_CIDSYSINFO_REF_RE = re.compile(rb"/CIDSystemInfo\s+(\d+)\s+\d+\s+R")


def _hex_string(m: "re.Match | None") -> bytes | None:
    """PDF hex-string value: whitespace stripped, odd digit count padded
    with a trailing zero (ISO 32000-1 §7.3.4.3 — the same rule the show-
    string and ASCIIHex decoders apply)."""
    if not m:
        return None
    h = b"".join(m.group(1).split())
    if len(h) % 2:
        h += b"0"
    try:
        return bytes.fromhex(h.decode("ascii"))
    except ValueError:
        return None


def _cid_system_info(
    objects: dict[int, bytes], desc: bytes
) -> tuple[bool, bytes | None]:
    """(registry is Adobe, ordering) from a descendant font's
    /CIDSystemInfo — the inline dict or the equally-legal indirect form
    (``/CIDSystemInfo N 0 R``), literal or hex string values."""
    src = desc
    rm = _CIDSYSINFO_REF_RE.search(desc)
    if rm:
        src = objects.get(int(rm.group(1)), b"") or desc
    registry_adobe = bool(_REGISTRY_ADOBE_RE.search(src)) or (
        _hex_string(_REGISTRY_HEX_RE.search(src)) == b"Adobe"
    )
    om = _ORDERING_RE.search(src)
    ordering = (
        om.group(1) if om else _hex_string(_ORDERING_HEX_RE.search(src))
    )
    return registry_adobe, ordering


def _ordering_latin_decoder(
    objects: dict[int, bytes], body: bytes
) -> "FontDecoder | None":
    """Round 6: recovery for an Identity-H/V composite font (code == CID)
    with no /ToUnicode and no usable embedded program — the shape a
    CID-keyed CFF (/FontFile3 /CIDFontType0C) or a non-embedded
    CIDFontType0 lands in. When the descendant's /CIDSystemInfo names one
    of the classic Adobe orderings, the collection's published Latin
    prefix (CIDs 1-95 = U+0020..U+007E, identical across the
    Japan1/GB1/CNS1/Korea1 UCS2 CMap resources) decodes directly; CIDs
    beyond it stay unmapped — honest partial, never mojibake. Reference
    analog: the visual render path handles these for free,
    /root/reference/app/services/dsocr_model.py:144-174."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        cid_ordering_cmap,
    )

    desc = _descendant_font(objects, body)
    if not desc:
        return None
    # BOTH halves of the /CIDSystemInfo must match: the Latin-prefix claim
    # is about the ADOBE collections specifically — a custom registry
    # reusing an ordering name (Registry (FooCorp) / Ordering (GB1)) has
    # arbitrary CID semantics and must stay honest-empty
    registry_adobe, ordering = _cid_system_info(objects, desc)
    if not registry_adobe or ordering is None:
        return None
    # classic collections → Latin prefix; deploy-time register_cid_table
    # data (the published cid2code tables — env-blocked here) overlays it
    # through the same path, so full CJK recovery is a data load, not code
    cmap = cid_ordering_cmap(ordering)
    if cmap is None:
        return None
    return FontDecoder("cmap", cmap=cmap, width=2)


def _embedded_cid_decoder(
    objects: dict[int, bytes], body: bytes, decrypt
) -> "FontDecoder | None":
    """Last-resort recovery for a Type0 font with no /ToUnicode and an
    Identity (or unknown) CMap: under /CIDToGIDMap /Identity the 2-byte
    show codes ARE glyph ids, and the embedded TrueType program's own
    Unicode cmap, inverted, maps them back to text (ISO 32000-1 §9.7.4.2 +
    §9.10.2's "use the font's internal information" clause). A
    /CIDToGIDMap STREAM (subset fonts renumbering glyphs) is honored:
    gid = big-endian uint16 at offset 2·CID, composed BEFORE the reverse
    cmap lookup; a truncated map or gid 0 keeps the honest lost path."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        truetype_gid_to_unicode,
    )

    desc_font = _descendant_font(objects, body)
    if not desc_font:
        return None
    # read the (small) CIDToGIDMap stream BEFORE parsing the (large) font
    # program: an unreadable declared map declines without paying for the
    # sfnt cmap parse + inversion
    c2g = _CIDTOGID_STREAM_RE.search(desc_font)
    cmap_bytes = None
    if c2g:
        oid = int(c2g.group(1))
        cmap_bytes, _ = _stream_data(objects, oid, decrypt)
        if not cmap_bytes:
            return None  # declared stream map we cannot read: decline
    prog = _font_program(objects, desc_font, _FONTFILE2_RE, decrypt)
    if not prog:
        return None
    gid2uni = truetype_gid_to_unicode(prog)
    if not gid2uni:
        return None
    if cmap_bytes is not None:
        cid2uni: dict[int, str] = {}
        # Show-string codes are 2 bytes wide, so CIDs above 0xFFFF are
        # unreachable — cap the loop so a Flate-bombed /CIDToGIDMap stream
        # can't expand to millions of dict entries on an executor (same
        # spirit as _MAX_CMAP_ENTRIES for cmap parsing).
        for cid in range(min(len(cmap_bytes) // 2, 0x10000)):
            gid = int.from_bytes(cmap_bytes[2 * cid : 2 * cid + 2], "big")
            if gid:
                s = gid2uni.get(gid)
                if s is not None:
                    cid2uni[cid] = s
        if not cid2uni:
            return None
        return FontDecoder("cmap", cmap=cid2uni, width=2)
    return FontDecoder("cmap", cmap=gid2uni, width=2)


def _embedded_simple_decoder(
    objects: dict[int, bytes], body: bytes, decrypt
) -> "FontDecoder | None":
    """Recovery for a SIMPLE font with no /Encoding entry whose mapping
    lives in the embedded program: a TrueType cmap subtable
    ((3,1)/(1,0)/(3,0) per §9.6.6.4), a CFF/Type1C program's
    Encoding+charset tables (/FontFile3), or a Type1 builtin /Encoding
    array (glyph names → AGL). Returns None when no program or no usable
    table — the caller keeps the default byte path."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        STANDARD,
        cff_simple_code_map,
        parse_type1_builtin_encoding,
        truetype_simple_code_map,
    )

    prog = _font_program(objects, body, _FONTFILE2_RE, decrypt)
    if prog:
        cmap = truetype_simple_code_map(prog)
        if cmap is not None:
            return FontDecoder("differences", diffs=cmap)
    prog = _font_program(objects, body, _FONTFILE3_RE, decrypt)
    if prog:
        cmap = cff_simple_code_map(prog)
        if cmap is not None:
            return FontDecoder("differences", diffs=cmap)
    prog = _font_program(objects, body, _FONTFILE_RE, decrypt)
    if prog:
        enc = parse_type1_builtin_encoding(prog)
        if enc == "standard":
            return FontDecoder("differences", base=STANDARD)
        if enc:
            return FontDecoder("differences", diffs=enc)
    return None


def _font_decoder(
    objects: dict[int, bytes], body: bytes, decrypt=None
) -> FontDecoder:
    """Classify one font object → decoder. Order of precedence:
    /ToUnicode CMap (exact) → composite fonts by predefined CMap class
    (Uni*-UCS2/UTF16 = direct UTF-16BE text; legacy-charset CMaps decode
    through their stdlib codec; Identity/unknown first tries the embedded
    TrueType program's reversed Unicode cmap — round 5 — then falls to
    all-lost honest empty) → /Differences + AGL over an optional
    /BaseEncoding → named WinAnsi/MacRoman/Standard base encoding →
    (no /Encoding at all) the embedded program's own tables (TrueType
    cmap subtable / Type1 builtin /Encoding) → the default simple-font
    byte path."""
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        base_encoding_table,
        classify_predefined_cmap,
    )

    is_composite = bool(_TYPE0_RE.search(body) or _IDENTITY_RE.search(body))
    tm = _TOUNICODE_RE.search(body)
    if tm:
        oid = int(tm.group(1))
        data, _ = _stream_data(objects, oid, decrypt)
        if data:
            # when the CMap omits codespacerange, the code width follows
            # the FONT type: 2-byte codes for composite (Type0/Identity-H)
            # fonts, 1-byte for simple fonts — defaulting simple fonts to
            # 2 would pair up their byte codes and miss every lookup
            cmap, width = parse_tounicode(
                data, default_width=2 if is_composite else 1
            )
            if cmap:
                return FontDecoder("cmap", cmap=cmap, width=width)
    nm = _ENC_NAME_RE.search(body)
    enc_name = nm.group(1) if nm else None
    if is_composite:
        cls = classify_predefined_cmap(enc_name) if enc_name else None
        if cls == "utf16":
            return FontDecoder("utf16")
        if cls is not None and cls != "identity":
            return FontDecoder("codec", codec=cls)
        # Identity/unknown ordering with no ToUnicode: before declaring
        # the codes unrecoverable, read the embedded TrueType program's
        # own Unicode cmap (gid -> text under CID==GID) — round 5
        emb = _embedded_cid_decoder(objects, body, decrypt)
        if emb is not None:
            return emb
        if cls == "identity":
            # round 6: an explicit Identity CMap means code == CID, so a
            # classic-ordering /CIDSystemInfo still yields the collection's
            # Latin CID prefix (the CID-keyed-CFF / non-embedded
            # CIDFontType0 shape)
            lat = _ordering_latin_decoder(objects, body)
            if lat is not None:
                return lat
        return FontDecoder("cid_unknown")
    enc_body = None
    em = _ENC_REF_RE.search(body)
    if em:
        enc_body = objects.get(int(em.group(1)))
    else:
        enc_body = _inline_dict_after(body, b"/Encoding")
    if enc_body:
        base = None
        bm = _BASE_ENC_RE.search(enc_body)
        if bm:
            base = base_encoding_table(bm.group(1))
        diffs = parse_differences(enc_body)
        if diffs or base:
            return FontDecoder("differences", diffs=diffs, base=base)
    elif enc_name:
        base = base_encoding_table(enc_name)
        if base:
            return FontDecoder("differences", base=base)
    if enc_body is None and enc_name is None:
        # no /Encoding at all: the mapping may live in the embedded font
        # program (TrueType cmap subtable / Type1 builtin /Encoding)
        emb = _embedded_simple_decoder(objects, body, decrypt)
        if emb is not None:
            return emb
    return DEFAULT_FONT


_PARENT_RE = re.compile(rb"/Parent\s+(\d+)\s+\d+\s+R")


def _own_resources(objects: dict[int, bytes], body: bytes) -> bytes | None:
    rm = _RES_REF_RE.search(body)
    if rm:
        return objects.get(int(rm.group(1)), b"")
    return _inline_dict_after(body, b"/Resources")


def _resources_for_page(
    objects: dict[int, bytes], page_body: bytes
) -> bytes | None:
    """The /Resources governing a page, per the EXACT inheritance rule
    (ISO 32000-1 §7.7.3.4): the page's own entry, else the nearest
    ancestor's, walking the /Parent chain (cycle-guarded). In a nested page
    tree the correct ANCESTOR wins — not whatever /Pages node happens to
    appear first in file order."""
    body: bytes | None = page_body
    seen: set[int] = set()
    while body is not None:
        res = _own_resources(objects, body)
        if res is not None:
            return res
        pm = _PARENT_RE.search(body)
        if pm is None:
            return None
        oid = int(pm.group(1))
        if oid in seen:
            return None  # corrupt self-referential tree
        seen.add(oid)
        body = objects.get(oid)
    return None


def _inherited_resources(objects: dict[int, bytes]) -> bytes | None:
    """Last-ditch doc-level fallback for BROKEN files whose pages carry no
    /Parent chain: the first /Pages node with /Resources. Resolved once per
    document (page-independent)."""
    for body in objects.values():
        if _TYPE_PAGES_RE.search(body):
            r = _own_resources(objects, body)
            if r is not None:
                return r
    return None


def _page_fonts(
    objects: dict[int, bytes],
    page_body: bytes,
    decrypt,
    cache: dict[int, FontDecoder],
    inherited_fn,
) -> dict[bytes, FontDecoder]:
    """Font name → decoder for one page's governing /Resources (own entry
    or nearest /Parent-chain ancestor; ``inherited_fn()`` supplies the
    lazily-resolved doc-level fallback for files with no usable chain).
    ``cache`` maps font object ids to decoders across the document's
    pages."""
    res = _resources_for_page(objects, page_body)
    if res is None:
        res = inherited_fn()
    if not res:
        return {}
    fm = _FONT_REF_RE.search(res)
    if fm:
        fdict = objects.get(int(fm.group(1)), b"")
    else:
        fdict = _inline_dict_after(res, b"/Font") or b""
    out: dict[bytes, FontDecoder] = {}
    for m in _NAME_REF_RE.finditer(fdict):
        oid = int(m.group(2))
        fbody = objects.get(oid)
        if fbody is None:
            continue
        dec = cache.get(oid)
        if dec is None:
            dec = cache[oid] = _font_decoder(objects, fbody, decrypt)
        out[m.group(1)] = dec
    return out


def pdf_title(payload: bytes) -> str | None:
    """Document title from the trailer's Info dictionary.

    Resolves ``/Info N 0 R`` (the LAST occurrence wins — incremental
    updates append a new trailer) and reads ``/Title`` from that object's
    body only, so a /Title in an outline, annotation or content stream
    cannot shadow the real document title. Falls back to a whole-payload
    scan only when no /Info reference resolves. Handles both string forms
    (literal and hex — via the same ``_dict_string`` grammar the /O and /U
    entries use), UTF-16BE text strings (BOM-prefixed — the common shape
    for non-ASCII titles), and decrypts the title when the document is
    encrypted and the empty user password opens it (strings are encrypted
    with the same per-object key as streams)."""
    return _title(_OpenPdf(payload))


def _title(doc: _OpenPdf) -> str | None:
    decrypt = doc.decrypt
    if doc.encrypted and decrypt is None:
        # no stream decryptor (real user password / unsupported handler)
        # — but strings are encrypted INDEPENDENTLY of streams: when the
        # doc's own /StrF is /Identity the /Title is plaintext and stays
        # readable; otherwise it is ciphertext → typed absence, never
        # mojibake (round-4 review #2)
        if not _strings_plaintext(doc.encrypt_dict):
            return None
    # strings follow /StrF, not /StmF — a doc may encrypt streams but not
    # strings (or vice versa)
    str_decrypt = decrypt.for_strings if decrypt is not None else None
    strings_encrypted = decrypt is not None and decrypt.strings_encrypted

    def _title_from(body: bytes, obj_num: int | None) -> str | None:
        raw = _dict_string(body, b"Title")
        if raw is None:
            return None
        if strings_encrypted:
            if obj_num is None or str_decrypt is None:
                # ciphertext with no way to decrypt it (whole-payload
                # fallback has no object number; a refused /StrF filter
                # has no cipher at all) — typed absence, never mojibake
                return None
            raw = str_decrypt(obj_num, raw)
        t = " ".join(_text_string(raw).split())
        return t or None

    payload = doc.payload
    info_obj: int | None = None
    for im in _INFO_REF_RE.finditer(payload):
        info_obj = int(im.group(1))
    if info_obj is not None:
        body = doc.objects.get(info_obj)
        if body is None:
            om = re.search(
                rb"(?<![0-9])%d\s+\d+\s+obj\b(.*?)endobj" % info_obj,
                payload,
                re.DOTALL,
            )
            body = om.group(1) if om else None
        if body is not None:
            return _title_from(body, info_obj)
    return _title_from(payload, None)


def extract_pdf(
    payload: bytes, cfg: ExtractConfig = DEFAULT_CONFIG
) -> list[PageResult]:
    """Extract selected pages → list[PageResult] in *processing order*
    (the parse_page_ranges output order — part of the byte-identity
    contract, see module docstring)."""
    return [p for p, _unparsed in extract_pdf_detailed(payload, cfg)]


def extract_pdf_detailed(
    payload: bytes, cfg: ExtractConfig = DEFAULT_CONFIG
) -> list[tuple[PageResult, bool]]:
    """Like :func:`extract_pdf` but each page carries an ``unparsed`` flag:
    True when the page HAD non-empty content-stream bytes yet produced zero
    text (unsupported filter/encoding) OR when any show op on the page
    carried font codes the kernel could not decode honestly (CID with no
    usable ToUnicode, unmapped codes) — the 'parser blind spot' signal,
    distinct from a genuinely blank page. The extract operator maps it to
    status ``succeeded_empty`` so lineage never reports a silent miss (or
    mojibake) as a clean success.

    Encrypted documents are opened transparently when the empty user
    password works (:func:`pdf_decryptor` — RC4-40/128 standard handler);
    otherwise streams stay undecodable and the caller's typed rejection
    applies."""
    return _pages(_OpenPdf(payload), cfg)


class PdfDocument(NamedTuple):
    """What the extract operator reads of one PDF (:func:`read_pdf`)."""

    n_pages: int | None  # None: no page tree
    title: str | None
    pages: list[tuple[PageResult, bool]]  # (page, unparsed), processing order
    locked: bool  # encrypted, and the empty user password does not open it


def read_pdf(payload: bytes, cfg: ExtractConfig = DEFAULT_CONFIG) -> PdfDocument:
    """Open ``payload`` once and read its page count, pages, title and lock
    state. Over ``cfg.max_pages`` (or with no page tree) nothing else is
    read: pages empty, title None. Exceptions propagate — the caller types
    them."""
    doc = _OpenPdf(payload)
    n = doc.n_pages
    if n is None or n > cfg.max_pages:
        return PdfDocument(n, None, [], False)
    pages = _pages(doc, cfg)
    return PdfDocument(n, _title(doc), pages, doc.locked)


def _pages(doc: _OpenPdf, cfg: ExtractConfig) -> list[tuple[PageResult, bool]]:
    objects = doc.objects
    decrypt = doc.decrypt
    page_ids = doc.page_ids
    total = len(page_ids)
    if total == 0:
        return []
    wanted = parse_page_ranges(cfg.page_ranges, total)
    results: list[tuple[PageResult, bool]] = []
    sep_bytes = len(PAGE_SEPARATOR.encode("utf-8"))
    font_cache: dict[int, FontDecoder] = {}
    inherited_cell: list = []  # lazily-resolved doc-level /Resources

    def inherited_fn():
        if not inherited_cell:
            inherited_cell.append(_inherited_resources(objects))
        return inherited_cell[0]

    for page_index in wanted:
        page_oid = page_ids[page_index - 1]
        body = objects.get(page_oid, b"")
        stream, had_raw = _content_stream(objects, body, page_oid, decrypt)
        fonts = _page_fonts(objects, body, decrypt, font_cache, inherited_fn)
        items, lost = _text_items(stream, fonts)
        # reading-order sort: visual top-to-bottom (descending y), then x
        items.sort(key=lambda it: (-round(it[1], 1), round(it[0], 1)))
        spans: list[Span] = []
        parts: list[str] = []
        byte_off = 0
        for ix, iy, itext in items:
            t = itext.strip()
            if not t:
                continue
            if parts:
                byte_off += sep_bytes
            blen = len(t.encode("utf-8"))
            spans.append(
                Span(
                    page_index=page_index,
                    kind="text",
                    bbox=[ix, iy, ix, iy],
                    start=byte_off,
                    end=byte_off + blen,
                    text=t,
                )
            )
            parts.append(t)
            byte_off += blen
        for fm in _DO_RE.finditer(stream):
            spans.append(
                Span(
                    page_index=page_index,
                    kind="figure",
                    bbox=[0.0, 0.0, 0.0, 0.0],
                    start=byte_off,
                    end=byte_off,
                    text="",
                )
            )
        results.append(
            (
                PageResult(
                    page_index=page_index,
                    text=PAGE_SEPARATOR.join(parts),
                    spans=spans,
                ),
                (had_raw and not parts) or lost,
            )
        )
    return results
