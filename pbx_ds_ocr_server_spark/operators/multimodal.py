"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns. Implemented for real: magic
sniffing and header-level metadata (PNG IHDR and JPEG SOF dimensions, byte
length, md5) — pure byte parsing — AND real PIXEL decode for both raster
formats: PNG through `kernels/png_codec` (zlib inflate + full scanline
unfilter; grey/RGB/RGBA/palette/grey+alpha, 1-16 bit, Adam7 — round 7
closed the palette/16-bit/interlace declines) and JPEG through
`kernels/jpeg_codec` (baseline-sequential Huffman + IDCT; round 7 shipped
grayscale, round 8 adds 3-component YCbCr with 4:4:4/4:2:0/4:2:2
sampling, chroma upsample and BT.601 RGB conversion). One operator,
:func:`binary_pixel_metadata`, reads each payload once in one Arrow-batched
``mapInPandas`` pass, no image libraries. Arithmetic-coded JPEG and
CMYK/Adobe-RGB scans still decline typed inside the codec.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from pbx_ds_ocr_server_spark.kernels.av_meta import mp4_info, wav_info


def png_dimensions(payload: bytes) -> tuple[int, int] | None:
    # IHDR is always the first chunk: 8B magic + 4B len + b'IHDR' + W,H (BE)
    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        return w, h
    return None


def jpeg_dimensions(payload: bytes) -> tuple[int, int] | None:
    if len(payload) < 4 or payload[:3] != b"\xff\xd8\xff":
        return None
    i = 2
    n = len(payload)
    while i + 9 < n:
        if payload[i] != 0xFF:
            i += 1
            continue
        marker = payload[i + 1]
        if marker == 0xFF:  # 0xFF fill-byte padding before a marker
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
            return w, h
        i += 2 + seg_len
    return None


def sniff_kind(payload: bytes) -> str:
    if not payload:
        return "empty"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[:5] == b"%PDF-":
        return "pdf"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[4:8] == b"ftyp":
        return "mp4"
    return "binary"


def decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL pixel decode for both raster formats: PNG through the
    pure-Python scanline codec (`kernels/png_codec`) and JPEG through
    `kernels/jpeg_codec` (baseline grayscale round 7, YCbCr color and
    Huffman progressive round 8). → (width, height, channels, raw row-major
    8-bit bytes — interleaved RGB for color JPEG). Out-of-scope
    subformats (arithmetic-coded JPEG, CMYK, Adobe-RGB) raise the
    codecs' typed errors; non-raster kinds raise ``ValueError`` — header
    metadata still flows through :func:`binary_pixel_metadata`. Reference
    analog: the raster branch feeds a GPU OCR model,
    `/root/reference/app/services/dsocr_model.py:368-405`."""
    from pbx_ds_ocr_server_spark.kernels.jpeg_codec import jpeg_decode
    from pbx_ds_ocr_server_spark.kernels.png_codec import png_decode

    kind = sniff_kind(payload or b"")
    if kind == "png":
        return png_decode(payload)
    if kind == "jpeg":
        return jpeg_decode(payload)
    raise ValueError(
        f"no pure-python pixel decode for kind={kind!r} — "
        "binary_pixel_metadata() provides header-level metadata for it"
    )


def _raster_pixel_stats(payload: bytes, kind: str) -> dict:
    """Decode→summarize dispatch of :func:`binary_pixel_metadata`'s raster
    branch. Raises ValueError (or a codec subtype) for non-raster or
    undecodable payloads."""
    if kind == "png":
        from pbx_ds_ocr_server_spark.kernels.png_codec import (
            png_pixel_stats,
        )

        return png_pixel_stats(payload)
    if kind == "jpeg":
        from pbx_ds_ocr_server_spark.kernels.jpeg_codec import (
            jpeg_pixel_stats,
        )

        return jpeg_pixel_stats(payload)
    raise ValueError(f"no pixel decode for kind={kind!r}")


FULL_SCHEMA = (
    "id bigint, n_bytes bigint, kind string, width int, height int,"
    " digest string, channels int, n_px bigint, luma_mean double,"
    " luma_entropy double, decode_ok boolean, sample_rate int,"
    " duration_ms bigint"
)


def binary_pixel_metadata(
    df: DataFrame, id_col: str = "id", bin_col: str = "payload"
) -> DataFrame:
    """(id, payload:binary) → header metadata (n_bytes, kind, width,
    height, digest) plus decoded-pixel curation features, in ONE
    Arrow-batched pass: every payload byte is read once and there is no id
    join afterwards. A NULL payload yields an all-NULL row (id only) —
    metadata is never fabricated for a payload that does not exist.

    Raster payloads (PNG, or JPEG — baseline grayscale/YCbCr color and
    Huffman progressive) carry channels, n_px, luminance mean and byte
    entropy of the luminance plane, and ``decode_ok`` = the payload fully
    decoded (the codecs REJECT header-vs-stream mismatches, CRC
    corruption, duplicate-IHDR forgeries, truncation and bombs, so a true
    flag means structure-consistent pixels). Non-raster and undecodable
    payloads keep a row with null features rather than dropping —
    curation gates decide, the operator reports. Decode cost is per-row
    bounded by the codecs' MAX_PIXELS guard.

    Round 8 extends the typed-metadata surface to AUDIO/VIDEO containers
    (`kernels/av_meta`): WAV rows carry channels / sample_rate /
    duration_ms from a real RIFF chunk walk, MP4 rows duration_ms from
    the mvhd box; ``decode_ok`` stays NULL for them — it asserts PIXEL
    decode, and sample data is opaque payload by design."""
    src = df.selectExpr(f"{id_col} as id", f"{bin_col} as payload")
    pixel_cols = [
        "channels", "n_px", "luma_mean", "luma_entropy", "decode_ok",
        "sample_rate", "duration_ms",
    ]
    cols = [
        "id", "n_bytes", "kind", "width", "height", "digest", *pixel_cols,
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for r in b.itertuples():
                row = {c: None for c in cols}
                row["id"] = r.id
                if r.payload is None:
                    rows.append(row)
                    continue
                p = bytes(r.payload)
                kind = sniff_kind(p)
                dims = png_dimensions(p) or jpeg_dimensions(p)
                row.update(
                    n_bytes=len(p),
                    kind=kind,
                    width=dims[0] if dims else None,
                    height=dims[1] if dims else None,
                    digest=hashlib.md5(p).hexdigest(),
                )
                if kind in ("png", "jpeg"):
                    try:
                        st = _raster_pixel_stats(p, kind)
                    except ValueError:
                        pass  # undecodable: pixel columns stay null
                    else:
                        row.update(
                            channels=st["channels"],
                            n_px=st["n_px"],
                            luma_mean=st["luma_mean"],
                            luma_entropy=st["luma_entropy"],
                            decode_ok=True,
                        )
                elif kind == "wav":
                    try:
                        ai = wav_info(p)
                    except ValueError:
                        pass  # malformed container: av columns stay null
                    else:
                        row.update(
                            channels=ai["channels"],
                            sample_rate=ai["sample_rate"],
                            duration_ms=ai["duration_ms"],
                        )
                elif kind == "mp4":
                    try:
                        mi = mp4_info(p)
                    except ValueError:
                        pass
                    else:
                        row.update(duration_ms=mi["duration_ms"])
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, schema=FULL_SCHEMA)


GREY_PALETTE = [(i, i, i) for i in range(256)]

# media-variant schedule for ids divisible by `every`: m = (id//every) % 11
# — each variant exercises a distinct decode/parse path, and every one
# keeps closed-form metadata so the oracle predicts the stats bit-for-bit.
# Changing this schedule requires NO corpus-version bump (slot-internal
# synthesis) but the oracle's closed-form predictions in
# __spark_entry__._multimodal_meta_sql MUST move with it (CLAUDE.md).
MEDIA_VARIANTS = (
    "png-grey8", "png-rgb8", "png-palette", "png-grey16",
    "png-adam7", "png-grey-alpha", "jpeg-flat", "jpeg-color",
    "jpeg-progressive", "wav-pcm", "mp4-moov",
)


def synthetic_gradient_png(seed: int, variant: int | None = None) -> bytes:
    """Deterministic gradient PNG whose DECODED statistics have closed
    forms in ``seed`` — the multimodal analog of the sha256-class trick
    `extract_status_counts` uses: the DuckDB oracle predicts the features
    from the formulas below without ever seeing the bytes, so a hash-green
    driver row proves the pixel decode (all five scanline filters — the
    encoder cycles them per row — plus, per variant, the palette lookup,
    16-bit downsample, Adam7 placement, and alpha-skip paths) reproduced
    every pixel.

      width  = 8 + seed % 9, height = 8 + seed % 7, base = seed % 64
      pixel(x, y) = base + x + y            (max 91 — never wraps)
      luma_mean = base + (width-1)/2 + (height-1)/2
      luma histogram at value base+t is trapezoidal:
          count(t) = min(t, width-1, height-1, width+height-2-t) + 1
      → entropy is a pure function of (width, height)

    ``variant`` picks the encoding (indexes :data:`MEDIA_VARIANTS` 0-5;
    all six are the SAME logical image): 0 grey 8-bit, 1 equal-channel
    RGB, 2 grey-palette indexed, 3 16-bit grey, 4 Adam7-interlaced grey,
    5 grey+alpha (alpha = a deterministic non-constant the stats must
    ignore). ``None`` keeps the round-6 parity schedule (even grey / odd
    RGB)."""
    from pbx_ds_ocr_server_spark.kernels.png_codec import png_encode

    w, h, base = 8 + seed % 9, 8 + seed % 7, seed % 64
    vals = [base + x + y for y in range(h) for x in range(w)]
    if variant is None:
        variant = seed % 2
    if variant == 0:
        return png_encode(w, h, bytes(vals), 0, filter_cycle=True)
    if variant == 1:
        return png_encode(
            w, h, bytes(v for v in vals for _ in range(3)), 2,
            filter_cycle=True,
        )
    if variant == 2:
        return png_encode(
            w, h, bytes(vals), 3, filter_cycle=True, palette=GREY_PALETTE
        )
    if variant == 3:
        return png_encode(w, h, bytes(vals), 0, filter_cycle=True, depth=16)
    if variant == 4:
        return png_encode(w, h, bytes(vals), 0, filter_cycle=True,
                          interlace=True)
    if variant == 5:
        ga = bytes(b for v in vals for b in (v, (v * 3) % 256))
        return png_encode(w, h, ga, 4, filter_cycle=True)
    raise ValueError(f"variant {variant}")


def synthetic_flat_jpeg(seed: int, progressive: bool = False) -> bytes:
    """Deterministic grayscale JPEG of flat 8x8 blocks whose decoded
    statistics have closed forms in ``seed`` (block value = base + bx +
    by — the block-space twin of the PNG gradient, so the oracle reuses
    the same trapezoid-entropy lookup):

      blocks_w = 1 + (seed % 9) // 3   (1..3 — seed is a multiple of 3
      blocks_h = 1 + (seed % 6) // 3    in the slot, so %9/%6 land on
      base     = seed % 64              {0,3,6}/{0,3})
      width = 8*blocks_w, height = 8*blocks_h, channels = 1
      luma_mean = base + (blocks_w-1)/2 + (blocks_h-1)/2

    ``progressive=True`` (variant m=8) emits the SAME logical image as a
    Huffman-progressive (SOF2) stream with successive approximation
    (al=1: DC first + DC refinement + AC first + AC refinement scans) —
    the PNG trick applied to JPEG: one image, another decode path, the
    identical oracle prediction."""
    from pbx_ds_ocr_server_spark.kernels.jpeg_codec import (
        encode_flat_blocks,
        jpeg_encode_progressive,
    )

    bw, bh, base = 1 + (seed % 9) // 3, 1 + (seed % 6) // 3, seed % 64
    vals = [base + bx + by for by in range(bh) for bx in range(bw)]
    if progressive:
        blocks = [[8 * (v - 128)] + [0] * 63 for v in vals]
        return jpeg_encode_progressive(
            bw * 8, bh * 8, [blocks], qtable_luma=[1] * 64, al=1
        )
    return encode_flat_blocks(bw, bh, vals)


def synthetic_flat_color_jpeg(seed: int) -> bytes:
    """Deterministic baseline 4:2:0 YCbCr JPEG whose decoded RGB image is
    piecewise-constant with closed-form statistics — the color twin of
    :func:`synthetic_flat_jpeg`, exercising per-component Huffman/quant
    selection, the MCU interleave, chroma upsample and the BT.601
    conversion end-to-end:

      mcus_w = 1 + (seed % 9) // 3, mcus_h = 1 + (seed % 6) // 3
      width = 16*mcus_w, height = 16*mcus_h (4:2:0 MCU = 16x16)
      base = 32 + seed % 32  (32..63 — keeps every RGB value unclamped)
      Y block (bx, by) on the 2mcus_w x 2mcus_h luma grid = base + bx + by
      Cb = 116 everywhere (delta -12); Cr checkerboards PER MCU:
      136 on even (mx+my), 138 on odd (deltas +8 / +10) — a misplaced
      chroma block lands on the wrong MCU and shifts those pixels' RGB.

    With these deltas the conversion offsets are constant integers (no
    rounding boundary is within 0.08 of any pixel):

      even MCUs: (r,g,b) = (y+11, y-2,  y-21)  → r+g+b = 3y-12
      odd  MCUs: (r,g,b) = (y+14, y-3,  y-21)  → r+g+b = 3y-10

    so the luma BIN (r+g+b)//3 is y-4 for BOTH parities — the histogram
    is the same (2mcus_w, 2mcus_h) trapezoid as the gradient PNGs and the
    oracle reuses one entropy lookup — while luma_mean keeps an exact
    integer-ratio closed form:

      luma_mean = (3*sum(Y) - 256*(12*n_even + 10*n_odd)) / (3*n_px),
      sum(Y) = 64*(ew*eh*base + eh*T(ew) + ew*T(eh)), T(k) = k(k-1)/2,
      ew = 2*mcus_w, eh = 2*mcus_h, n_odd = (mcus_w*mcus_h)//2.
    """
    from pbx_ds_ocr_server_spark.kernels.jpeg_codec import (
        encode_flat_blocks_color,
    )

    mw, mh = 1 + (seed % 9) // 3, 1 + (seed % 6) // 3
    base = 32 + seed % 32
    yv = [base + bx + by for by in range(2 * mh) for bx in range(2 * mw)]
    cb = [116] * (mw * mh)
    cr = [
        136 + 2 * ((mx + my) % 2)
        for my in range(mh)
        for mx in range(mw)
    ]
    return encode_flat_blocks_color(mw, mh, yv, cb, cr, y_sampling=(2, 2))


def synthetic_wav(seed: int) -> bytes:
    """Deterministic PCM WAV with closed-form metadata:

      sample_rate = 8000 + (seed % 8) * 1000
      channels    = 1 + seed % 2
      n_samples   = 400 + seed % 512   (16-bit PCM)
      duration_ms = n_samples * 1000 // sample_rate
      n_bytes     = 44 + n_samples * channels * 2
    """
    from pbx_ds_ocr_server_spark.kernels.av_meta import wav_encode

    sr = 8000 + (seed % 8) * 1000
    ch = 1 + seed % 2
    ns = 400 + seed % 512
    pcm = bytes((i * 7 + seed) % 256 for i in range(ns * ch * 2))
    return wav_encode(sr, ch, pcm)


def synthetic_mp4(seed: int) -> bytes:
    """Deterministic minimal ISO-BMFF file with closed-form metadata:

      timescale      = 600
      duration_units = 600 + seed % 6000
      duration_ms    = duration_units * 1000 // 600
      n_bytes        = 144 + seed % 97   (20 ftyp + 116 moov + 8 mdat
                                          header + payload)
    """
    from pbx_ds_ocr_server_spark.kernels.av_meta import mp4_encode

    return mp4_encode(600, 600 + seed % 6000, bytes(seed % 97))


def synthetic_media_payload(seed: int, every: int = 3) -> bytes:
    """The slot's media schedule: variant m = (seed // every) % 11 over
    :data:`MEDIA_VARIANTS` — six PNG encodings + a grayscale baseline, a
    4:2:0 color, and a progressive JPEG, plus a PCM WAV and a minimal
    MP4, all with closed-form decoded statistics/metadata."""
    m = (seed // every) % len(MEDIA_VARIANTS)
    if m == 10:
        return synthetic_mp4(seed)
    if m == 9:
        return synthetic_wav(seed)
    if m == 8:
        return synthetic_flat_jpeg(seed, progressive=True)
    if m == 7:
        return synthetic_flat_color_jpeg(seed)
    if m == 6:
        return synthetic_flat_jpeg(seed)
    return synthetic_gradient_png(seed, variant=m)


def with_synthetic_png_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    every: int = 3,
) -> DataFrame:
    """(id, text) → (id, payload): ids divisible by ``every`` carry a
    :func:`synthetic_media_payload` (round 8: six PNG variants, three
    JPEGs — grayscale baseline / 4:2:0 color / progressive — plus a PCM
    WAV and a minimal MP4 on the (id//every) % 11 cycle), the rest their
    utf-8 text bytes — the mixed-modality input the `multimodal_meta`
    driver slot runs on."""
    src = df.selectExpr(f"{id_col} as id", f"{text_col} as text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, payloads = [], []
            for r in b.itertuples():
                ids.append(r.id)
                if r.id % every == 0:
                    payloads.append(
                        synthetic_media_payload(int(r.id), every)
                    )
                elif r.text is None:
                    # propagate NULL like the F.encode path this replaced
                    # (str(None) would fabricate a b"None" payload)
                    payloads.append(None)
                else:
                    payloads.append(str(r.text).encode("utf-8"))
            yield pd.DataFrame({"id": ids, "payload": payloads})

    return src.mapInPandas(run, schema="id bigint, payload binary")
