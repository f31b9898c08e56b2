"""PNG pixel codec + the pixel features of binary_pixel_metadata — the
round-6 decode layer."""

import math
import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pbx_ds_ocr_server_spark.kernels.png_codec import (
    MAX_PIXELS,
    PngUnsupported,
    png_decode,
    png_encode,
    png_pixel_stats,
)
from pbx_ds_ocr_server_spark.operators.multimodal import (
    binary_pixel_metadata,
    decode_image,
    synthetic_gradient_png,
    with_synthetic_png_payloads,
)


def _gradient(w, h, base=0):
    return bytes(base + x + y for y in range(h) for x in range(w))


@pytest.mark.parametrize("color_type,ch", [(0, 1), (2, 3), (6, 4)])
@pytest.mark.parametrize("cycle", [False, True])
def test_round_trip_all_color_types_and_filters(color_type, ch, cycle):
    import random

    rng = random.Random(color_type * 10 + cycle)
    w, h = 19, 11  # >5 rows so the filter cycle hits every filter type
    px = bytes(rng.randrange(256) for _ in range(w * h * ch))
    got = png_decode(png_encode(w, h, px, color_type, filter_cycle=cycle))
    assert got == (w, h, ch, px)


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 23),
    h=st.integers(1, 17),
    ct=st.sampled_from([0, 2, 6]),
    data=st.data(),
)
def test_round_trip_fuzz(w, h, ct, data):
    ch = {0: 1, 2: 3, 6: 4}[ct]
    px = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * ch,
                max_size=w * h * ch,
            )
        )
    )
    assert png_decode(png_encode(w, h, px, ct)) == (w, h, ch, px)


def test_stats_match_closed_form():
    w, h, base = 12, 9, 30
    st_ = png_pixel_stats(png_encode(w, h, _gradient(w, h, base), 0))
    assert st_["px_width"] == w and st_["px_height"] == h
    assert st_["n_px"] == w * h and st_["channels"] == 1
    assert st_["luma_mean"] == base + (w - 1) / 2 + (h - 1) / 2
    n, ent = w * h, 0.0
    for t in range(w + h - 1):
        p = (min(t, w - 1, h - 1, w + h - 2 - t) + 1) / n
        ent -= p * math.log2(p)
    assert abs(st_["luma_entropy"] - ent) < 1e-12


def test_rgb_equal_channels_match_grey_stats():
    w, h, base = 10, 8, 4
    vals = _gradient(w, h, base)
    rgb = bytes(v for v in vals for _ in range(3))
    grey = png_pixel_stats(png_encode(w, h, vals, 0))
    col = png_pixel_stats(png_encode(w, h, rgb, 2))
    assert col["channels"] == 3
    assert col["luma_mean"] == grey["luma_mean"]
    assert col["luma_entropy"] == grey["luma_entropy"]


def _set_ihdr_byte(png: bytes, off_in_ihdr: int, value: int) -> bytes:
    b = bytearray(png)
    b[16 + off_in_ihdr] = value  # IHDR data starts at byte 16
    return bytes(b)


def _fix_ihdr_crc(png: bytes) -> bytes:
    """Recompute the IHDR CRC after a header mutation so the test hits the
    semantic check, not the round-7 CRC verification."""
    body = png[12:29]  # b'IHDR' + 13 data bytes
    return (
        png[:29]
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        + png[33:]
    )


def test_out_of_scope_forms_decline_typed():
    """Round 7 absorbed palette/16-bit/Adam7 into scope; what remains
    out-of-scope is invalid depth/colour-type combinations."""
    base = png_encode(4, 3, bytes(12), 0)
    for mut in (
        _set_ihdr_byte(base, 8, 4),  # depth 4 invalid for... (see below)
        _set_ihdr_byte(base, 9, 5),  # colour type 5 does not exist
        _set_ihdr_byte(base, 12, 2),  # interlace method 2 does not exist
    ):
        with pytest.raises(PngUnsupported):
            png_decode(_fix_ihdr_crc(mut))
    # depth 4 IS valid for grey — pair it with RGB where it is not
    rgb = png_encode(2, 2, bytes(12), 2)
    with pytest.raises(PngUnsupported, match="bit depth 4"):
        png_decode(_fix_ihdr_crc(_set_ihdr_byte(rgb, 8, 4)))
    with pytest.raises(ValueError):
        png_decode(b"not a png at all")


def test_ihdr_byte_corruption_declines_on_crc():
    """A bit-flipped but length-consistent header declines on the CRC
    check (round-7 ADVICE closure) — never decodes to wrong pixels."""
    base = png_encode(4, 3, bytes(12), 0)
    with pytest.raises(PngUnsupported, match="CRC mismatch"):
        png_decode(_set_ihdr_byte(base, 8, 16))


def test_idat_byte_corruption_declines_on_crc():
    full = png_encode(8, 8, _gradient(8, 8), 0)
    b = bytearray(full)
    b[33 + 8 + 3] ^= 0x40  # flip a bit inside IDAT data
    with pytest.raises(PngUnsupported, match="CRC mismatch"):
        png_decode(bytes(b))


def test_chunk_before_ihdr_declines():
    full = png_encode(4, 4, bytes(16), 0)
    from pbx_ds_ocr_server_spark.kernels.png_codec import png_chunk

    forged = full[:8] + png_chunk(b"sRGB", b"\x00") + full[8:]
    with pytest.raises(PngUnsupported, match="before IHDR"):
        png_decode(forged)


def test_trailing_garbage_after_zlib_stream_declines():
    """IDAT bytes past the end of a complete zlib stream are a spec
    violation (round-7 ADVICE closure)."""
    from pbx_ds_ocr_server_spark.kernels.png_codec import png_chunk

    full = png_encode(4, 4, bytes(16), 0)
    idat_len = struct.unpack(">I", full[33:37])[0]
    idat = full[41 : 41 + idat_len]
    rest = full[41 + idat_len + 4 :]  # IEND
    forged = full[:33] + png_chunk(b"IDAT", idat + b"junk") + rest
    with pytest.raises(PngUnsupported, match="trailing garbage"):
        png_decode(forged)


# --- round-7 scope: palette / sub-8 / 16-bit / grey+alpha / Adam7 ---

GREY_PALETTE = [(i, i, i) for i in range(256)]


@pytest.mark.parametrize("depth", [1, 2, 4, 8, 16])
@pytest.mark.parametrize("interlace", [False, True])
def test_round_trip_grey_depths(depth, interlace):
    import random

    rng = random.Random(depth * 2 + interlace)
    w, h = 13, 11
    if depth == 16 or depth == 8:
        px = bytes(rng.randrange(256) for _ in range(w * h))
    else:
        factor = 255 // ((1 << depth) - 1)
        px = bytes(
            rng.randrange(1 << depth) * factor for _ in range(w * h)
        )
    got = png_decode(
        png_encode(w, h, px, 0, depth=depth, interlace=interlace)
    )
    assert got == (w, h, 1, px)


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
@pytest.mark.parametrize("interlace", [False, True])
def test_round_trip_palette_depths(depth, interlace):
    import random

    rng = random.Random(40 + depth + interlace)
    w, h = 9, 7
    n_entries = 1 << depth
    pal = [
        (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for _ in range(n_entries)
    ]
    idx = bytes(rng.randrange(n_entries) for _ in range(w * h))
    got = png_decode(
        png_encode(w, h, idx, 3, depth=depth, palette=pal,
                   interlace=interlace)
    )
    expect = b"".join(bytes(pal[i]) for i in idx)
    assert got == (w, h, 3, expect)


@pytest.mark.parametrize("ct,ch", [(0, 1), (2, 3), (4, 2), (6, 4)])
def test_round_trip_16bit(ct, ch):
    import random

    rng = random.Random(ct)
    w, h = 7, 6
    px = bytes(rng.randrange(256) for _ in range(w * h * ch))
    assert png_decode(png_encode(w, h, px, ct, depth=16)) == (w, h, ch, px)


@pytest.mark.parametrize("ct,ch", [(0, 1), (2, 3), (4, 2), (6, 4)])
@pytest.mark.parametrize("dims", [(1, 1), (3, 2), (8, 8), (17, 13)])
def test_round_trip_adam7(ct, ch, dims):
    """Adam7 placement over dimensions that exercise empty passes (1x1)
    and non-multiples of 8."""
    import random

    w, h = dims
    rng = random.Random(ct * 100 + w * 10 + h)
    px = bytes(rng.randrange(256) for _ in range(w * h * ch))
    got = png_decode(png_encode(w, h, px, ct, interlace=True))
    assert got == (w, h, ch, px)


def test_grey_alpha_stats_ignore_alpha():
    from pbx_ds_ocr_server_spark.kernels.png_codec import png_pixel_stats

    w, h = 6, 5
    grey = _gradient(w, h, 10)
    ga = bytes(b for v in grey for b in (v, 7))  # alpha=7 everywhere
    st_ga = png_pixel_stats(png_encode(w, h, ga, 4))
    st_g = png_pixel_stats(png_encode(w, h, grey, 0))
    assert st_ga["channels"] == 2
    assert st_ga["luma_mean"] == st_g["luma_mean"]
    assert st_ga["luma_entropy"] == st_g["luma_entropy"]


def test_palette_stats_match_grey_via_grey_palette():
    from pbx_ds_ocr_server_spark.kernels.png_codec import png_pixel_stats

    w, h = 10, 8
    vals = _gradient(w, h, 5)
    st_pal = png_pixel_stats(
        png_encode(w, h, vals, 3, palette=GREY_PALETTE)
    )
    st_g = png_pixel_stats(png_encode(w, h, vals, 0))
    assert st_pal["channels"] == 3
    assert st_pal["luma_mean"] == st_g["luma_mean"]
    assert st_pal["luma_entropy"] == st_g["luma_entropy"]


def test_palette_index_out_of_range_declines():
    pal = [(0, 0, 0), (255, 255, 255)]
    png = png_encode(2, 2, bytes([0, 1, 1, 0]), 3, depth=8, palette=pal)
    # forge index 2 into the IDAT: re-encode with a bigger palette then
    # shrink the PLTE chunk
    png3 = png_encode(2, 2, bytes([0, 1, 2, 0]), 3, depth=8,
                      palette=pal + [(9, 9, 9)])
    from pbx_ds_ocr_server_spark.kernels.png_codec import png_chunk

    plte_len = struct.unpack(">I", png3[33:37])[0]
    assert png3[37:41] == b"PLTE" and plte_len == 9
    shrunk = (
        png3[:33]
        + png_chunk(b"PLTE", png3[41 : 41 + 6])
        + png3[41 + plte_len + 4 :]
    )
    with pytest.raises(PngUnsupported, match="palette index"):
        png_decode(shrunk)
    assert png_decode(png)[3] == bytes(
        b for i in (0, 1, 1, 0) for b in pal[i]
    )


def test_palette_without_plte_declines():
    png = png_encode(2, 2, bytes(4), 3, palette=[(1, 2, 3)])
    plte_len = struct.unpack(">I", png[33:37])[0]
    stripped = png[:33] + png[33 + 12 + plte_len :]
    with pytest.raises(PngUnsupported, match="without PLTE"):
        png_decode(stripped)


def test_plte_on_greyscale_declines():
    from pbx_ds_ocr_server_spark.kernels.png_codec import png_chunk

    full = png_encode(2, 2, bytes(4), 0)
    forged = full[:33] + png_chunk(b"PLTE", bytes(3)) + full[33:]
    with pytest.raises(PngUnsupported, match="PLTE forbidden"):
        png_decode(forged)


def test_encode_rejects_unrepresentable_sub8_sample():
    with pytest.raises(ValueError, match="not representable"):
        png_encode(2, 1, bytes([3, 255]), 0, depth=1)


def test_truncated_idat_declines():
    full = png_encode(8, 8, _gradient(8, 8), 0)
    # drop the IEND and half the IDAT payload
    cut = full[: len(full) - 12 - 10]
    with pytest.raises(PngUnsupported):
        png_decode(cut)


def test_header_stream_mismatch_declines():
    """A bombed stream cannot masquerade: header says 2x2 but the IDAT
    carries 64x64 worth of scanlines — inflate is bounded and the length
    check declines."""
    big = png_encode(64, 64, bytes(64 * 64), 0)
    small_hdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    forged = (
        big[:8]
        + struct.pack(">I", 13)
        + b"IHDR"
        + small_hdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + small_hdr) & 0xFFFFFFFF)
        + big[33:]  # original IDAT + IEND
    )
    with pytest.raises(PngUnsupported):
        png_decode(forged)


def test_dimension_bomb_refused_before_allocation():
    huge = struct.pack(">IIBBBBB", 1 << 24, 1 << 24, 8, 0, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + huge
        + struct.pack(">I", zlib.crc32(b"IHDR" + huge) & 0xFFFFFFFF)
    )
    assert (1 << 24) ** 2 > MAX_PIXELS
    with pytest.raises(PngUnsupported):
        png_decode(payload)


def test_decode_image_dispatch():
    from pbx_ds_ocr_server_spark.kernels.jpeg_codec import JpegUnsupported
    from pbx_ds_ocr_server_spark.operators.multimodal import (
        synthetic_flat_jpeg,
    )

    png = png_encode(3, 2, bytes(6), 0)
    assert decode_image(png) == (3, 2, 1, bytes(6))
    # JPEG now decodes for real (round 7); truncated streams raise the
    # codec's typed error instead of the former out-of-scope ValueError
    w, h, ch, raw = decode_image(synthetic_flat_jpeg(0))
    assert (w, h, ch) == (8, 8, 1) and raw == bytes([0]) * 64
    with pytest.raises(JpegUnsupported):
        decode_image(b"\xff\xd8\xff\xe0rest")
    with pytest.raises(ValueError, match="kind='empty'"):
        decode_image(b"")


def test_png_pixel_features_mixed_payloads(spark):
    rows = [
        (0, bytearray(synthetic_gradient_png(0))),
        (3, bytearray(synthetic_gradient_png(3))),
        (1, bytearray(b"plain text payload")),
        (2, bytearray(png_encode(4, 3, bytes(12), 0)[:20])),  # truncated
    ]
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    out = {r.id: r.asDict() for r in binary_pixel_metadata(df).collect()}
    assert out[0]["width"] == 8 and out[0]["height"] == 8
    assert out[0]["n_px"] == 64
    assert out[0]["decode_ok"] is True and out[0]["channels"] == 1
    assert out[3]["channels"] == 3  # odd seed -> RGB
    assert out[3]["luma_mean"] == (3 % 64) + (8 + 3 % 9 - 1) / 2 + (8 + 3 % 7 - 1) / 2
    for bad in (1, 2):  # non-png and truncated: null features, not a drop
        assert out[bad]["width"] is None and out[bad]["decode_ok"] is None
        assert out[bad]["n_px"] is None


def test_with_synthetic_png_payloads_split(spark):
    from pbx_ds_ocr_server_spark.operators.multimodal import (
        synthetic_media_payload,
    )

    # 11 media ids (0,3,...,30) cover the full MEDIA_VARIANTS cycle: six
    # PNG encodings + the flat-block grayscale JPEG at id 18 (m = 6),
    # the 4:2:0 color JPEG at id 21 (m = 7), the progressive grayscale
    # at id 24 (m = 8), the PCM WAV at id 27 (m = 9) and the minimal
    # MP4 at id 30 (m = 30//3 % 11 = 10)
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(33)], "doc_id bigint, text string"
    )
    out = {r.id: bytes(r.payload) for r in
           with_synthetic_png_payloads(df, every=3).collect()}
    for i in range(33):
        if i % 3 == 0:
            m = (i // 3) % 11
            magic = {9: b"RIFF", 10: b"\x00\x00\x00\x14ftyp"}.get(
                m, b"\xff\xd8\xff" if m in (6, 7, 8)
                else b"\x89PNG\r\n\x1a\n"
            )
            assert out[i][: len(magic)] == magic
            assert out[i] == synthetic_media_payload(i, every=3)
        else:
            assert out[i] == f"text {i}".encode()


def test_truncated_final_crc_declines():
    """A payload cut inside the LAST chunk's CRC is as truncated as one
    cut inside its data — both decline typed."""
    full = png_encode(4, 4, bytes(16), 0)
    with pytest.raises(PngUnsupported):
        png_decode(full[:-2])  # 2 bytes of IEND's CRC missing


def test_missing_iend_declines():
    full = png_encode(4, 4, bytes(16), 0)
    with pytest.raises(PngUnsupported):
        png_decode(full[: len(full) - 12])  # whole IEND chunk dropped


def test_duplicate_ihdr_forgery_declines():
    """IHDR must appear once (spec 11.2.2): a second header claiming
    different dimensions is a forgery vector, not a bigger image."""
    full = png_encode(4, 4, bytes(16), 0)
    ihdr2 = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    from pbx_ds_ocr_server_spark.kernels.png_codec import png_chunk

    forged = full[:33] + png_chunk(b"IHDR", ihdr2) + full[33:]
    with pytest.raises(PngUnsupported, match="duplicate IHDR"):
        png_decode(forged)


def test_encode_rejects_zero_dimensions():
    with pytest.raises(ValueError, match="positive"):
        png_encode(0, 5, b"")


def test_null_text_payload_propagates_null(spark):
    df = spark.createDataFrame(
        [(1, None), (3, None)], "doc_id bigint, text string"
    )
    out = {r.id: r.payload for r in
           with_synthetic_png_payloads(df, every=3).collect()}
    assert out[1] is None  # NOT the fabricated b"None"
    assert bytes(out[3])[:8] == b"\x89PNG\r\n\x1a\n"  # png ids unaffected


def test_trailing_data_after_iend_declines():
    """Ninth-review fix, strictness parity with the JPEG codec's
    trailing-data-after-EOI decline: bytes appended after IEND (the
    PNG+ZIP polyglot smuggling vector) must not get decode_ok."""
    good = png_encode(9, 9, _gradient(9, 9, 5), 0)
    assert png_decode(good)  # well-formed baseline still decodes
    with pytest.raises(PngUnsupported, match="trailing data after IEND"):
        png_decode(good + b"PK\x03\x04smuggled")
