"""VP8L (lossless WebP) codec tests — round 4.

The public encoder covers literal/cache/LZ77 streams; the transform and
meta-prefix decode paths the encoder never emits are exercised with
hand-crafted spec-true bitstreams built from the module's own bit writer
(the same craft pattern the GIF interlace tests use).
"""

from __future__ import annotations

import random

import pytest

from legal_document_ocr_spark.vp8l import (
    _BitWriter,
    _ct_delta,
    _distance_map,
    _palette_xbits,
    _predict,
    _write_entropy_coded,
    _write_prefix_code,
    decode_vp8l_stream,
    decode_webp,
    encode_webp_lossless,
)


def _argb_of(dec: dict) -> list[int]:
    px = dec["pixels"]
    return [
        (px[i * 4 + 3] << 24) | (px[i * 4] << 16) | (px[i * 4 + 1] << 8) | px[i * 4 + 2]
        for i in range(dec["width"] * dec["height"])
    ]


def test_vp8l_distance_map_prefix():
    """The derived 120-entry close-neighborhood table must match the
    published spec table (prefix checked explicitly; the construction
    rule — squared distance, then larger dy, then positive dx — is what
    generates the rest)."""
    dm = _distance_map()
    assert len(dm) == 120
    assert dm[:30] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
        (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
        (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3),
    ]


@pytest.mark.parametrize("mode,ch", [("L", 1), ("RGB", 3), ("RGBA", 4)])
@pytest.mark.parametrize("subtract_green", [False, True])
@pytest.mark.parametrize("cache_bits", [0, 4])
@pytest.mark.parametrize("use_lz77", [False, True])
def test_webp_lossless_roundtrip(mode, ch, subtract_green, cache_bits, use_lz77):
    w, h = 9, 5
    px = bytes((i * 37 + 11) % 256 for i in range(w * h * ch))
    dec = decode_webp(
        encode_webp_lossless(
            w, h, px, mode,
            subtract_green=subtract_green,
            cache_bits=cache_bits,
            use_lz77=use_lz77,
        )
    )
    assert (dec["width"], dec["height"], dec["mode"]) == (w, h, "RGBA")
    exp = bytearray()
    for i in range(w * h):
        if mode == "L":
            r = g = b = px[i]
            a = 255
        elif mode == "RGB":
            r, g, b = px[i * 3 : i * 3 + 3]
            a = 255
        else:
            r, g, b, a = px[i * 4 : i * 4 + 4]
        exp += bytes((r, g, b, a))
    assert dec["pixels"] == bytes(exp)


def test_webp_lz77_and_cache_on_run_image():
    px = bytes([5] * 40 + [9] * 40 + [5] * 40)
    dec = decode_webp(
        encode_webp_lossless(10, 12, px, "L", cache_bits=6, use_lz77=True)
    )
    assert dec["pixels"][0::4] == px


def _sub_pixels(a: int, b: int) -> int:
    return (
        (((((a >> 24) & 0xFF) - ((b >> 24) & 0xFF)) & 0xFF) << 24)
        | (((((a >> 16) & 0xFF) - ((b >> 16) & 0xFF)) & 0xFF) << 16)
        | (((((a >> 8) & 0xFF) - ((b >> 8) & 0xFF)) & 0xFF) << 8)
        | (((a & 0xFF) - (b & 0xFF)) & 0xFF)
    )


@pytest.mark.parametrize("mode", list(range(14)))
def test_vp8l_predictor_transform_all_modes(mode):
    rnd = random.Random(7 + mode)
    w, h, bits = 7, 6, 4
    pix = [
        (0xFF << 24)
        | (rnd.randrange(256) << 16)
        | (rnd.randrange(256) << 8)
        | rnd.randrange(256)
        for _ in range(w * h)
    ]
    res = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pix[i - 1]
            elif x == 0:
                pred = pix[i - w]
            else:
                tr = pix[i - w + 1] if x + 1 < w else pix[i - w + 1]
                pred = _predict(mode, pix[i - 1], pix[i - w], tr, pix[i - w - 1])
            res[i] = _sub_pixels(pix[i], pred)
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1, 1)
    bw.write(0, 3)
    bw.write(1, 1)
    bw.write(0, 2)  # PREDICTOR
    bw.write(bits - 2, 3)
    _write_entropy_coded(bw, [(0xFF << 24) | (mode << 8)], level0=False)
    bw.write(0, 1)
    _write_entropy_coded(bw, res, level0=True)
    assert _argb_of(decode_vp8l_stream(b"\x2f" + bw.getvalue())) == pix


def test_vp8l_color_transform():
    rnd = random.Random(11)
    w, h, bits = 6, 5, 4
    g2r, g2b, r2b = 0x23, 0xC9, 0x5A
    pix = [
        (0xFF << 24)
        | (rnd.randrange(256) << 16)
        | (rnd.randrange(256) << 8)
        | rnd.randrange(256)
        for _ in range(w * h)
    ]
    res = []
    for p in pix:
        a, r, g, b = (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF
        r2 = (r - _ct_delta(g2r, g)) & 0xFF
        b2 = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
        res.append((a << 24) | (r2 << 16) | (g << 8) | b2)
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1, 1)
    bw.write(0, 3)
    bw.write(1, 1)
    bw.write(1, 2)  # COLOR
    bw.write(bits - 2, 3)
    _write_entropy_coded(
        bw, [(0xFF << 24) | (r2b << 16) | (g2b << 8) | g2r], level0=False
    )
    bw.write(0, 1)
    _write_entropy_coded(bw, res, level0=True)
    assert _argb_of(decode_vp8l_stream(b"\x2f" + bw.getvalue())) == pix


@pytest.mark.parametrize("ncol", [2, 4, 16, 40])
def test_vp8l_palette_transform(ncol):
    rnd = random.Random(ncol)
    w, h = 11, 4
    pal = [
        (0xFF << 24)
        | (rnd.randrange(256) << 16)
        | (rnd.randrange(256) << 8)
        | rnd.randrange(256)
        for _ in range(ncol)
    ]
    idx = [rnd.randrange(ncol) for _ in range(w * h)]
    deltas, prev = [], 0
    for p in pal:
        deltas.append(_sub_pixels(p, prev))
        prev = p
    xbits = _palette_xbits(ncol)
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1, 1)
    bw.write(0, 3)
    bw.write(1, 1)
    bw.write(3, 2)  # COLOR_INDEXING
    bw.write(ncol - 1, 8)
    _write_entropy_coded(bw, deltas, level0=False)
    bw.write(0, 1)
    if xbits:
        per = 1 << xbits
        bits_per = 8 >> xbits
        pw = (w + per - 1) // per
        main = []
        for y in range(h):
            for bx in range(pw):
                v = 0
                for k in range(per):
                    x = bx * per + k
                    if x < w:
                        v |= idx[y * w + x] << (k * bits_per)
                main.append((0xFF << 24) | (v << 8))
    else:
        main = [(0xFF << 24) | (idx[i] << 8) for i in range(w * h)]
    _write_entropy_coded(bw, main, level0=True)
    assert _argb_of(decode_vp8l_stream(b"\x2f" + bw.getvalue())) == [
        pal[i] for i in idx
    ]


def test_vp8l_meta_prefix_group_selection():
    w, h, meta_bits = 8, 3, 2
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1, 1)
    bw.write(0, 3)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(1, 1)  # meta-prefix
    bw.write(meta_bits - 2, 3)
    ew = (w + (1 << meta_bits) - 1) >> meta_bits
    eh = (h + (1 << meta_bits) - 1) >> meta_bits
    meta_px = [
        (0xFF << 24) | ((0 if x == 0 else 1) << 8)
        for _ in range(eh)
        for x in range(ew)
    ]
    _write_entropy_coded(bw, meta_px, level0=False)
    for gval in (77, 200):  # two groups of zero-bit single-symbol codes
        _write_prefix_code(bw, {gval: 1}, 256 + 24)
        for chan_val in (10, 20, 255):
            _write_prefix_code(bw, {chan_val: 1}, 256)
        _write_prefix_code(bw, {0: 1}, 40)
    dec = decode_vp8l_stream(b"\x2f" + bw.getvalue())
    for y in range(h):
        for x in range(w):
            i = (y * w + x) * 4
            assert dec["pixels"][i + 1] == (77 if x < 4 else 200)
            assert dec["pixels"][i] == 10
            assert dec["pixels"][i + 2] == 20
            assert dec["pixels"][i + 3] == 255


def test_webp_dispatch_and_hardening():
    from legal_document_ocr_spark.codecs import decode_image

    px = bytes(range(12))
    dec = decode_image(encode_webp_lossless(4, 3, px, "L"))
    assert (dec["width"], dec["height"]) == (4, 3)
    assert dec["pixels"][0::4] == px

    for bad in (b"", b"\x30", b"\x2f"):
        with pytest.raises(ValueError):
            decode_vp8l_stream(bad)
    for bad in (b"RIFFxxxxWEBP", b"nope", b"RIFF\x00\x00\x00\x00WAVE"):
        with pytest.raises(ValueError):
            decode_webp(bad)
    # lossy VP8 is a declared descope, not a crash or a silent wrong answer
    lossy = b"RIFF" + (20).to_bytes(4, "little") + b"WEBP" + b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4
    with pytest.raises(NotImplementedError, match="lossy WebP"):
        decode_webp(lossy)
    # dimension bomb rejected before allocation
    bw = _BitWriter()
    bw.write((1 << 14) - 1, 14)
    bw.write((1 << 14) - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    with pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_vp8l_stream(b"\x2f" + bw.getvalue())
