"""Pure-stdlib media codecs (codecs.py): roundtrips + filter correctness."""

from __future__ import annotations

import io
import random
import struct
import wave

import pytest

from legal_document_ocr_spark.codecs import (
    _unfilter,
    decode_bmp,
    decode_image,
    decode_png,
    decode_wav,
    encode_png,
)


@pytest.mark.parametrize("w,h", [(1, 1), (5, 3), (16, 8), (33, 7)])
def test_png_gray_roundtrip(w, h):
    px = bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))
    img = decode_png(encode_png(w, h, px, 0))
    assert (img["width"], img["height"], img["mode"]) == (w, h, "L")
    assert img["pixels"] == px


@pytest.mark.parametrize("ct,ch,mode", [(2, 3, "RGB"), (6, 4, "RGBA")])
def test_png_color_roundtrip(ct, ch, mode):
    w, h = 6, 4
    px = bytes(
        (x + y + c) % 256 for y in range(h) for x in range(w) for c in range(ch)
    )
    img = decode_png(encode_png(w, h, px, ct))
    assert img["mode"] == mode and img["pixels"] == px


def _refilter(px: bytes, w: int, h: int, ch: int, ftype: int) -> bytes:
    """Forward-apply a PNG filter so _unfilter must invert it exactly."""
    stride = w * ch
    rows, prev = [], bytes(stride)
    for y in range(h):
        line = bytearray(px[y * stride : (y + 1) * stride])
        orig = bytes(line)
        if ftype == 1:
            for i in range(stride - 1, ch - 1, -1):
                line[i] = (line[i] - orig[i - ch]) & 0xFF
        elif ftype == 2:
            for i in range(stride):
                line[i] = (line[i] - prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(stride):
                left = orig[i - ch] if i >= ch else 0
                line[i] = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:
            for i in range(stride):
                a = orig[i - ch] if i >= ch else 0
                b, c = prev[i], prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] - pred) & 0xFF
        rows.append(bytes([ftype]) + bytes(line))
        prev = orig
    return b"".join(rows)


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
def test_png_unfilter_inverts_every_filter(ftype):
    w, h, ch = 4, 3, 1
    px = bytes((x * 11 + y * 29) % 256 for y in range(h) for x in range(w))
    assert _unfilter(_refilter(px, w, h, ch, ftype), w, h, ch) == px


def test_bmp_24bit_roundtrip():
    w, h = 3, 2
    rgb = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (1, 2, 3), (4, 5, 6), (7, 8, 9)]
    row_sz = (w * 3 + 3) & ~3
    data = b""
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = b"".join(bytes((b_, g, r)) for (r, g, b_) in rgb[y * w : (y + 1) * w])
        data += row + b"\x00" * (row_sz - len(row))
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    img = decode_bmp(hdr + dib + data)
    assert (img["width"], img["height"], img["mode"]) == (w, h, "RGB")
    assert img["pixels"] == b"".join(bytes(p) for p in rgb)


def test_wav_roundtrip():
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(2)
        wv.setsampwidth(2)
        wv.setframerate(16000)
        wv.writeframes(struct.pack("<8h", *range(8)))
    wav = decode_wav(buf.getvalue())
    assert (wav["channels"], wav["sample_rate"], wav["n_frames"]) == (2, 16000, 4)
    assert len(wav["pcm"]) == 16


def test_dispatch_jpeg_is_real_and_garbage_jpeg_is_valueerror():
    """JPEG now decodes for real (jpeg.py); a JPEG magic with garbage body
    is malformed input -> ValueError, and truly library-bound formats still
    raise NotImplementedError."""
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0jpegdata")
    # lossless WebP decodes for real since round 4; a well-formed LOSSY
    # (VP8) keyframe is the declared library-bound descope and says so.
    # Frame tag: keyframe bit clear, version 0, shown, first_part_size 10;
    # then the 9d 01 2a start code and 14-bit width/height (16x16).
    first_part = bytes(10)
    tag = (1 << 4) | (len(first_part) << 5)
    frame = (
        tag.to_bytes(3, "little") + b"\x9d\x01\x2a"
        + (16).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + first_part
    )
    lossy = (
        b"RIFF" + (12 + len(frame)).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + len(frame).to_bytes(4, "little") + frame
    )
    with pytest.raises(NotImplementedError, match="lossy WebP"):
        decode_image(lossy)
    # a bare fourcc with no chunk header is malformed, not "unsupported"
    with pytest.raises(ValueError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


# ---------------------------------------------------------------------------
# hardening: attacker-controlled input (ADVICE r2 medium)
# ---------------------------------------------------------------------------


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib as _zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", _zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def test_png_decompression_bomb_rejected_before_allocation():
    """A crafted IHDR declaring huge dims must raise ValueError, not
    attempt a multi-GB bytearray."""
    from legal_document_ocr_spark.codecs import _PNG_SIG

    ihdr = struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 0, 0, 0, 0)
    bomb = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    with pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_png(bomb)


def test_png_missing_ihdr_is_valueerror():
    from legal_document_ocr_spark.codecs import _PNG_SIG

    with pytest.raises(ValueError, match="missing IHDR"):
        decode_png(_PNG_SIG + _png_chunk(b"IEND", b""))


def test_png_truncated_chunk_and_short_idat_are_valueerror():
    import zlib as _zlib

    from legal_document_ocr_spark.codecs import _PNG_SIG, encode_png

    good = encode_png(4, 4, bytes(range(16)), 0)
    with pytest.raises(ValueError):
        decode_png(good[:-10])  # truncated mid-chunk
    # valid framing, IDAT shorter than height*(1+stride)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    short = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(b"\x00" * 7))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="does not match"):
        decode_png(short)
    # corrupt deflate stream
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", b"\x99\x99\x99")
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="IDAT"):
        decode_png(bad)


def test_bmp_truncated_and_bomb_are_valueerror():
    hdr = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 1 << 16, 1 << 16, 1, 24, 0, 0, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_bmp(hdr + dib)
    dib2 = struct.pack("<IiiHHIIiiII", 40, 8, 8, 1, 24, 0, 0, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="truncated BMP pixel"):
        decode_bmp(hdr + dib2 + b"\x00" * 10)


# ---------------------------------------------------------------------------
# baseline JPEG (round 3: jpeg.py — real Huffman + IDCT decoder)
# ---------------------------------------------------------------------------


def _block_constant_gray(w, h, f):
    """Image whose every 8x8 block is the constant f(bx, by) — the
    shape that roundtrips EXACTLY through quant=1 baseline JPEG."""
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px.append(f(x // 8, y // 8) % 256)
    return bytes(px)


def test_jpeg_block_constant_roundtrip_is_exact():
    from legal_document_ocr_spark.jpeg import decode_jpeg, encode_jpeg_baseline

    for w, h in [(8, 8), (16, 8), (24, 17), (1, 1), (9, 3)]:
        px = _block_constant_gray(w, h, lambda bx, by: 10 + 40 * bx + 100 * by)
        img = decode_jpeg(encode_jpeg_baseline(w, h, px))
        assert (img["width"], img["height"], img["mode"]) == (w, h, "L")
        assert img["pixels"] == px, (w, h)


def test_jpeg_random_gray_roundtrip_within_rounding():
    """quant=1: the only loss is FDCT coefficient rounding — decoded pixels
    stay within ±2 of the source for arbitrary images."""
    import random

    from legal_document_ocr_spark.jpeg import decode_jpeg, encode_jpeg_baseline

    rng = random.Random(7)
    w, h = 24, 17
    px = bytes(rng.randrange(256) for _ in range(w * h))
    img = decode_jpeg(encode_jpeg_baseline(w, h, px))
    assert max(abs(a - b) for a, b in zip(img["pixels"], px)) <= 2


def test_jpeg_color_roundtrip():
    import random

    from legal_document_ocr_spark.jpeg import decode_jpeg, encode_jpeg_baseline

    # R=G=B -> YCbCr transform exact (Cb=Cr=128), block-constant -> exact
    rgb = bytes(v for v in [77] * 64 for _ in range(3))
    img = decode_jpeg(encode_jpeg_baseline(8, 8, rgb, color=True))
    assert img["mode"] == "RGB" and img["pixels"] == rgb
    # arbitrary color: YCbCr+DCT rounding, small bounded error
    rng = random.Random(9)
    w, h = 16, 16
    rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
    img = decode_jpeg(encode_jpeg_baseline(w, h, rgb, color=True))
    assert max(abs(a - b) for a, b in zip(img["pixels"], rgb)) <= 4


def _encode_jpeg_420_with_dri(y_vals, mcux, mcuy, ri):
    """Hand-rolled 4:2:0 encoder (Y sampling 2x2, chroma 1x1, chroma blocks
    all-128, Y blocks constant per 8x8 from y_vals[mcu][b]), with restart
    interval ri — exercises the decoder paths the oracle encoder does not."""
    from legal_document_ocr_spark.jpeg import (
        _AC_LUM_BITS,
        _AC_LUM_VALS,
        _BitWriter,
        _DC_LUM_BITS,
        _DC_LUM_VALS,
        _build_codes,
        _magnitude,
    )

    dc = _build_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    ac = _build_codes(_AC_LUM_BITS, _AC_LUM_VALS)
    w, h = mcux * 16, mcuy * 16

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes([1] * 64))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, 0x22, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, b"\x00" + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS))
    out += seg(0xC4, b"\x10" + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS))
    if ri:
        out += seg(0xDD, struct.pack(">H", ri))
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00]) + b"\x00\x3f\x00")

    bw = _BitWriter()
    preds = [0, 0, 0]
    n_mcu = 0
    rst = 0
    for m in range(mcux * mcuy):
        if ri and n_mcu and n_mcu % ri == 0:
            bw.flush()
            out += bw.out
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            bw = _BitWriter()
            preds = [0, 0, 0]
        n_mcu += 1

        def put_block(ci, dc_coeff):
            diff = dc_coeff - preds[ci]
            preds[ci] = dc_coeff
            cat, bits = _magnitude(diff)
            code, ln = dc[cat]
            bw.write(code, ln)
            if cat:
                bw.write(bits, cat)
            code, ln = ac[0x00]  # EOB: constant block, no AC
            bw.write(code, ln)

        for b in range(4):  # 4 Y blocks (2x2 sampling)
            put_block(0, 8 * (y_vals[m][b] - 128))
        put_block(1, 0)  # Cb = 128 constant
        put_block(2, 0)  # Cr = 128 constant
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out), w, h


def test_jpeg_420_subsampling_and_restart_markers():
    """2x2 MCUs of 4:2:0 with DRI=1: Y recovered per-block exactly (chroma
    constant 128 -> RGB == Y replicated), restart markers resync predictors."""
    from legal_document_ocr_spark.jpeg import decode_jpeg

    y_vals = [
        (10, 60, 110, 160),
        (200, 150, 100, 50),
        (30, 30, 220, 220),
        (128, 0, 255, 64),
    ]
    payload, w, h = _encode_jpeg_420_with_dri(y_vals, 2, 2, ri=1)
    img = decode_jpeg(payload)
    assert (img["width"], img["height"], img["mode"]) == (w, h, "RGB")
    px = img["pixels"]
    for my in range(2):
        for mx in range(2):
            m = my * 2 + mx
            for b, (oy, ox) in enumerate([(0, 0), (0, 8), (8, 0), (8, 8)]):
                for y in range(8):
                    for x in range(8):
                        o = ((my * 16 + oy + y) * w + mx * 16 + ox + x) * 3
                        assert px[o] == px[o + 1] == px[o + 2] == y_vals[m][b], (
                            m, b, y, x, px[o : o + 3], y_vals[m][b],
                        )


def test_jpeg_hardening():
    from legal_document_ocr_spark.jpeg import decode_jpeg, encode_jpeg_baseline

    good = encode_jpeg_baseline(8, 8, bytes(range(64)))
    with pytest.raises(ValueError):
        decode_jpeg(good[:30])  # truncated mid-segment
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")  # no scan
    # dimension bomb in SOF0
    sof = b"\xff\xc0" + struct.pack(">H", 11) + struct.pack(
        ">BHHB", 8, 60000, 60000, 1
    ) + bytes([1, 0x11, 0])
    with pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_jpeg(b"\xff\xd8" + sof + b"\xff\xd9")
    # SOF2 with a baseline full-spectrum scan script is malformed for
    # the progressive path (T.81 G.1.1.1.1: a progressive scan is either
    # DC-only or single-component AC) — rejected, not silently wrong
    sof2 = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="mixes DC and AC"):
        decode_jpeg(sof2)


def test_jpeg_fast_paths_match_generic_loops():
    """The constant-block FDCT and DC-only IDCT shortcuts must round to the
    same integers as the generic O(64^2) loops."""
    import math

    from legal_document_ocr_spark.jpeg import _fdct_block, _idct_block

    C = [1 / math.sqrt(2)] + [1.0] * 7
    COS = [
        [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
        for x in range(8)
    ]

    def idct_ref(coeffs):
        out = []
        for y in range(8):
            for x in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        s += (
                            C[u] * C[v] * coeffs[u * 8 + v]
                            * COS[y][u] * COS[x][v]
                        )
                out.append(0.25 * s)
        return out

    for dc in (-1024.0, -8.0, 0.0, 8.0, 504.0):
        coeffs = [0.0] * 64
        coeffs[0] = dc
        fast = _idct_block(coeffs)
        ref = idct_ref(coeffs)
        assert all(round(a) == round(b) for a, b in zip(fast, ref)), dc

    def fdct_ref(samples):
        out = []
        for u in range(8):
            for v in range(8):
                s = 0.0
                for y in range(8):
                    for x in range(8):
                        s += samples[y * 8 + x] * COS[y][u] * COS[x][v]
                out.append(0.25 * C[u] * C[v] * s)
        return out

    for val in (-128, -1, 0, 64, 127):
        fast = _fdct_block([val] * 64)
        ref = fdct_ref([val] * 64)
        assert all(round(a) == round(b) for a, b in zip(fast, ref)), val


# ---------------------------------------------------------------------------
# GIF (round 3: pure-stdlib LZW decoder)
# ---------------------------------------------------------------------------


def test_gif_roundtrip_random_indices():
    from legal_document_ocr_spark.codecs import decode_gif, encode_gif

    import random

    palette = bytes(b for i in range(256) for b in (i, (i * 3) % 256, 255 - i))
    rng = random.Random(5)
    for w, h in [(8, 8), (13, 7), (1, 1), (40, 30)]:
        idx = bytes(rng.randrange(256) for _ in range(w * h))
        img = decode_gif(encode_gif(w, h, idx, palette))
        exp = b"".join(palette[i * 3 : i * 3 + 3] for i in idx)
        assert (img["width"], img["height"], img["mode"]) == (w, h, "RGB")
        assert img["pixels"] == exp, (w, h)


def test_gif_real_lzw_compression_and_interlace():
    """Decode a GIF with REAL LZW strings (dict growth past literals) and
    interlaced row order — hand-built so the decoder's dictionary and
    4-pass deinterlace paths are both exercised, not just the encoder's
    literal-only stream."""
    from legal_document_ocr_spark.codecs import _gif_lzw_decode, decode_gif

    # LZW with mcs=2: encode [0,0,0,0,1,1,1,1] using growing dictionary.
    # codes: clear(4), 0, then 0 again -> emits dict entries as we go
    # Build the code stream manually: 4,0,6(=00),1,8(=11),5(end)
    # dict after: 6:[0,0] (from prev=0+0), 7:[0,0,1]? walk:
    #   clear -> reset; read 0 -> out 0; read 6: == len(table)? table has
    #   0..3,clear,end = 6 entries -> code 6 == len -> prev+prev[0] = [0,0]
    #   -> out 00, add 6:[0,0]; read 1 -> out 1, add 7:[0,0,1]? no:
    #   prev=[0,0], entry=[1] -> add [0,0,1] as 7; read 8 == len(table)
    #   -> prev+prev[0] = [1,1] -> out 11, add 8:[1,1]; so out=0,0,0,1,1,1
    def pack(codes, widths):
        acc = nbits = 0
        data = bytearray()
        for c, wdt in zip(codes, widths):
            acc |= c << nbits
            nbits += wdt
            while nbits >= 8:
                data.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            data.append(acc & 0xFF)
        return bytes(data)

    stream = pack([4, 0, 6, 1, 8, 5], [3, 3, 3, 3, 4, 4])
    out = _gif_lzw_decode(2, stream, 6)
    assert bytes(out) == bytes([0, 0, 0, 1, 1, 1])

    # interlace: 4x8 image whose row y is filled with index y; rows are
    # STORED in pass order (0,8.. then 4.. then 2,6.. then odd)
    import struct as _s

    w, h = 4, 8
    pass_rows = [0] + [4] + [2, 6] + [1, 3, 5, 7]
    idx_stored = b"".join(bytes([y] * w) for y in pass_rows)
    palette = bytes(b for i in range(256) for b in (i, i, i))
    gif = bytearray(b"GIF89a")
    gif += _s.pack("<HH", w, h) + bytes([0xF7, 0, 0]) + palette
    gif += b"\x2c" + _s.pack("<HHHH", 0, 0, w, h) + bytes([0x40])  # interlaced
    # literal-only LZW stream for the stored indices
    mcs = 8
    codes = [1 << mcs] + list(idx_stored) + [(1 << mcs) + 1]
    stream = pack(codes, [mcs + 1] * len(codes))
    gif += bytes([mcs])
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        gif += bytes([len(chunk)]) + chunk
    gif += b"\x00\x3b"
    img = decode_gif(bytes(gif))
    for y in range(h):
        row = img["pixels"][y * w * 3 : (y + 1) * w * 3]
        assert row == bytes([y, y, y] * w), y


def test_gif_hardening():
    from legal_document_ocr_spark.codecs import decode_gif, encode_gif

    palette = bytes(768)
    good = encode_gif(4, 4, bytes(16), palette)
    with pytest.raises(ValueError):
        decode_gif(good[:40])  # truncated
    with pytest.raises(ValueError, match="no image frame"):
        decode_gif(b"GIF89a" + good[6:13] + palette + b"\x3b")
    bomb = bytearray(good)
    bomb[6:10] = struct.pack("<HH", 60000, 60000)
    # frame descriptor dims are the binding ones — patch those too
    off = 6 + 7 + 768
    bomb[off + 5 : off + 9] = struct.pack("<HH", 60000, 60000)
    with pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_gif(bytes(bomb))


# ---------------------------------------------------------------------------
# pdf.py — minimal PDF text layer
# ---------------------------------------------------------------------------


def test_pdf_roundtrip_reorders_by_coordinates():
    from legal_document_ocr_spark.pdf import encode_simple_pdf, extract_pdf_text

    runs = [
        (72, 720, "Alpha (one)"),
        (72, 706, "beta \\ two"),
        (72, 660, "Gamma"),
        (72, 646, "delta"),
    ]
    out = extract_pdf_text(encode_simple_pdf(list(reversed(runs))))
    assert out["text"] == "Alpha (one) beta \\ two Gamma delta"
    assert out["n_runs"] == 4 and out["n_blocks"] == 2


def test_pdf_flate_stream_and_left_right_order():
    import zlib

    from legal_document_ocr_spark.pdf import parse_pdf_runs, layout_blocks

    content = (
        b"BT /F1 12 Tf 300 700 Td (right) Tj ET\n"
        b"BT /F1 12 Tf 72 700 Td (left) Tj ET\n"
    )
    comp = zlib.compress(content)
    doc = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(comp)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + comp
        + b"\nendstream\nendobj\n%%EOF\n"
    )
    runs = parse_pdf_runs(doc)
    blocks = layout_blocks(runs)
    assert len(blocks) == 1 and blocks[0]["text"] == "left right"


def test_pdf_parser_rejects_non_pdf_and_truncated():
    import pytest

    from legal_document_ocr_spark.pdf import parse_pdf_runs

    with pytest.raises(ValueError):
        parse_pdf_runs(b"GIF89a not a pdf")
    with pytest.raises(ValueError):
        parse_pdf_runs(b"%PDF-1.4\nno eof marker")


def test_pdf_extract_operator_isolates_bad_records(spark):
    from legal_document_ocr_spark.operators.multimodal import pdf_extract
    from legal_document_ocr_spark.pdf import encode_simple_pdf

    good = encode_simple_pdf([(72, 720, "hello world")])
    df = spark.createDataFrame(
        [(1, good), (2, b"%PDF-1.4\ntruncated"), (3, b"garbage")],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in pdf_extract(df).collect()}
    assert out[1]["extracted_text"] == "hello world" and out[1]["error"] is None
    assert out[2]["error"] is not None and out[2]["extracted_text"] is None
    assert out[3]["error"] is not None


# ---------------------------------------------------------------------------
# TIFF (round 4)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("mode,ch", [("L", 1), ("RGB", 3)])
@pytest.mark.parametrize("packbits", [False, True])
@pytest.mark.parametrize("big_endian", [False, True])
@pytest.mark.parametrize("rows_per_strip", [None, 3])
def test_tiff_roundtrip_every_layout(mode, ch, packbits, big_endian, rows_per_strip):
    from legal_document_ocr_spark.codecs import decode_tiff, encode_tiff

    w, h = 7, 9
    px = bytes((i * 17 + 3) % 256 for i in range(w * h * ch))
    dec = decode_tiff(
        encode_tiff(
            w, h, px, mode,
            packbits=packbits,
            big_endian=big_endian,
            rows_per_strip=rows_per_strip,
        )
    )
    assert dec == {"width": w, "height": h, "mode": mode, "pixels": px}


def test_tiff_packbits_compresses_runs_and_roundtrips():
    from legal_document_ocr_spark.codecs import (
        _packbits_encode,
        decode_tiff,
        encode_tiff,
    )

    px = bytes([7] * 50 + [1, 2, 3] + [9] * 47)
    assert len(_packbits_encode(px)) < len(px)  # runs actually compress
    assert decode_tiff(encode_tiff(10, 10, px, "L", packbits=True))["pixels"] == px


def test_tiff_white_is_zero_inverts_gray():
    from legal_document_ocr_spark.codecs import decode_tiff, encode_tiff

    enc = encode_tiff(4, 2, bytes(range(8)), "L")
    i = enc.find(struct.pack("<HHI", 262, 3, 1))
    enc = enc[: i + 8] + struct.pack("<H", 0) + enc[i + 10 :]
    assert decode_tiff(enc)["pixels"] == bytes(255 - b for b in range(8))


def test_tiff_dispatch_via_decode_image():
    from legal_document_ocr_spark.codecs import decode_image, encode_tiff

    px = bytes(range(12))
    for be in (False, True):
        dec = decode_image(encode_tiff(4, 3, px, "L", big_endian=be))
        assert (dec["width"], dec["height"], dec["pixels"]) == (4, 3, px)


def test_tiff_hardening():
    from legal_document_ocr_spark.codecs import decode_tiff, encode_tiff

    with pytest.raises(ValueError):
        decode_tiff(b"nope")
    with pytest.raises(ValueError):  # IFD offset past EOF
        decode_tiff(b"MM\x00*\xff\xff\xff\xffx")
    with pytest.raises(ValueError):  # truncated header
        decode_tiff(b"II*\x00\x00")
    good = encode_tiff(2, 2, bytes(4), "L")
    # dimension bomb: patch width/height to 65536 each
    bomb = good
    for tag in (256, 257):
        j = bomb.find(struct.pack("<HHI", tag, 4, 1))
        bomb = bomb[: j + 8] + struct.pack("<I", 1 << 16) + bomb[j + 12 :]
    with pytest.raises(ValueError, match="MAX_IMAGE_PIXELS"):
        decode_tiff(bomb)
    # JPEG-in-TIFF is declared out of scope, not mis-decoded
    j = good.find(struct.pack("<HHI", 259, 3, 1))
    jp = good[: j + 8] + struct.pack("<H", 7) + good[j + 10 :]
    with pytest.raises(NotImplementedError):
        decode_tiff(jp)
    # strip shorter than its rows
    j = good.find(struct.pack("<HHI", 279, 4, 1))
    short = good[: j + 8] + struct.pack("<I", 1) + good[j + 12 :]
    with pytest.raises(ValueError):
        decode_tiff(short)


# ---------------------------------------------------------------------------
# TIFF LZW + horizontal-differencing predictor (round 4, session 18)
# ---------------------------------------------------------------------------


def test_tiff_lzw_spec_worked_example_pins_msb_first_and_code_numbering():
    """TIFF6 §13's example: bytes 7 7 7 8 8 7 7 6 6 compress to the code
    sequence 256 7 258 8 8 258 6 6 257 — hand-packed MSB-first at 9 bits.
    Pins bit order, Clear/EOI numbering, and string-table semantics
    against the published spec, not just self-roundtrip."""
    from legal_document_ocr_spark.codecs import _tiff_lzw_decode, _tiff_lzw_encode

    codes = [256, 7, 258, 8, 8, 258, 6, 6, 257]
    acc = nbits = 0
    packed = bytearray()
    for c in codes:
        acc = (acc << 9) | c
        nbits += 9
        while nbits >= 8:
            packed.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
            acc &= (1 << nbits) - 1
    if nbits:
        packed.append((acc << (8 - nbits)) & 0xFF)
    data = bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])
    assert _tiff_lzw_decode(bytes(packed), 9) == data
    assert _tiff_lzw_encode(data) == bytes(packed)


def test_tiff_lzw_roundtrip_across_width_growth_and_table_reset():
    from legal_document_ocr_spark.codecs import _tiff_lzw_decode, _tiff_lzw_encode

    rng = random.Random(7)
    low_entropy = bytes(rng.randrange(6) for _ in range(40000))  # deep table
    assert _tiff_lzw_decode(_tiff_lzw_encode(low_entropy), 40000) == low_entropy
    # incompressible data fills the table to the 4094 reset repeatedly
    hard = bytes((i * i * 31 + i) % 256 for i in range(120000))
    assert _tiff_lzw_decode(_tiff_lzw_encode(hard), len(hard)) == hard
    assert _tiff_lzw_decode(_tiff_lzw_encode(b""), 0) == b""
    with pytest.raises(ValueError):
        _tiff_lzw_decode(_tiff_lzw_encode(b"abcabcabc")[:2], 9)


@pytest.mark.parametrize("mode,ch", [("L", 1), ("RGB", 3)])
@pytest.mark.parametrize("predictor", [1, 2])
@pytest.mark.parametrize("big_endian", [False, True])
@pytest.mark.parametrize("rows_per_strip", [None, 2])
def test_tiff_lzw_predictor_roundtrip(mode, ch, predictor, big_endian, rows_per_strip):
    from legal_document_ocr_spark.codecs import decode_tiff, encode_tiff

    w, h = 7, 5
    px = bytes((3 * i + 11) % 256 for i in range(w * h * ch))
    dec = decode_tiff(
        encode_tiff(
            w, h, px, mode,
            lzw=True,
            predictor=predictor,
            big_endian=big_endian,
            rows_per_strip=rows_per_strip,
        )
    )
    assert dec == {"width": w, "height": h, "mode": mode, "pixels": px}


def test_tiff_predictor_smooth_gradient_actually_helps_lzw():
    """Horizontal differencing turns a smooth gradient into runs — the
    predictor must shrink the LZW stream (that's its whole point) and
    still roundtrip. Also pins predictor-2-with-PackBits and rejects the
    floating-point predictor (3)."""
    import struct as _s

    from legal_document_ocr_spark.codecs import decode_tiff, encode_tiff

    w, h = 64, 16
    px = bytes(min(255, x * 2 + y) for y in range(h) for x in range(w))
    flat = encode_tiff(w, h, px, "L", lzw=True)
    pred = encode_tiff(w, h, px, "L", lzw=True, predictor=2)
    assert len(pred) < len(flat)
    assert decode_tiff(pred)["pixels"] == px
    pb = encode_tiff(w, h, px, "L", packbits=True, predictor=2)
    assert decode_tiff(pb)["pixels"] == px
    bad = pred
    j = bad.find(_s.pack("<HHI", 317, 3, 1))
    bad = bad[: j + 8] + _s.pack("<H", 3) + bad[j + 10 :]
    with pytest.raises(NotImplementedError):
        decode_tiff(bad)


# ---------------------------------------------------------------------------
# progressive JPEG (round 4)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("color", [False, True])
def test_jpeg_progressive_block_constant_roundtrip_is_exact(color):
    from legal_document_ocr_spark.jpeg import decode_jpeg, encode_jpeg_progressive

    w, h, ch = 19, 13, 3 if color else 1
    px = bytearray()
    for y in range(h):
        for x in range(w):
            v = (37 * (x // 8) + 59 * (y // 8) + 11) % 256
            px += bytes([v] * ch)
    dec = decode_jpeg(encode_jpeg_progressive(w, h, bytes(px), color))
    assert (dec["width"], dec["height"]) == (w, h)
    assert dec["pixels"] == bytes(px)


@pytest.mark.parametrize("color", [False, True])
def test_jpeg_progressive_decode_matches_baseline(color):
    """Same quant=1 coefficients through both scan scripts must decode to
    identical pixels — the multi-scan accumulation adds nothing lossy."""
    import random as _random

    from legal_document_ocr_spark.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rnd = _random.Random(3)
    w, h, ch = 17, 11, 3 if color else 1
    px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
    d1 = decode_jpeg(encode_jpeg_baseline(w, h, px, color))
    d2 = decode_jpeg(encode_jpeg_progressive(w, h, px, color))
    assert d1["pixels"] == d2["pixels"]


def _craft_progressive_sa(zz):
    """Build a 4-scan successive-approximation 8x8 grayscale stream for
    the given zigzag coefficients: DC first (Al=1), AC first (Al=1),
    DC refine, AC refine — the scan shapes real encoders emit that the
    roundtrip encoder (spectral selection only) does not."""
    from legal_document_ocr_spark.jpeg import (
        _AC_LUM_BITS,
        _AC_LUM_VALS,
        _BitWriter,
        _DC_LUM_BITS,
        _DC_LUM_VALS,
        _build_codes,
        _magnitude,
    )

    dcc = _build_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    acc = _build_codes(_AC_LUM_BITS, _AC_LUM_VALS)

    def seg(m, p):
        return bytes([0xFF, m]) + struct.pack(">H", len(p) + 2) + p

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes([1] * 64))
    out += seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, b"\x00" + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS))
    out += seg(0xC4, b"\x10" + bytes(_AC_LUM_BITS) + bytes(_AC_LUM_VALS))

    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))  # DC first, Al=1
    w = _BitWriter()
    cat, bits = _magnitude(zz[0] >> 1)
    c, l = dcc[cat]
    w.write(c, l)
    if cat:
        w.write(bits, cat)
    w.flush()
    out += w.out

    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x01]))  # AC first, Al=1
    w = _BitWriter()
    run = 0
    for k in range(1, 64):
        hv = (abs(zz[k]) >> 1) * (1 if zz[k] > 0 else -1)
        if hv == 0:
            run += 1
            continue
        while run > 15:
            c, l = acc[0xF0]
            w.write(c, l)
            run -= 16
        cat, bits = _magnitude(hv)
        c, l = acc[(run << 4) | cat]
        w.write(c, l)
        w.write(bits, cat)
        run = 0
    if run:
        c, l = acc[0x00]
        w.write(c, l)
    w.flush()
    out += w.out

    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))  # DC refine
    w = _BitWriter()
    w.write(zz[0] & 1, 1)
    w.flush()
    out += w.out

    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10]))  # AC refine
    w = _BitWriter()
    pending = []
    run = 0
    for k in range(1, 64):
        a = abs(zz[k])
        if a == 0:
            run += 1
            continue
        if a > 1:  # nonzero history: correction bit rides the run
            pending.append(a & 1)
            continue
        while run > 15:
            c, l = acc[0xF0]
            w.write(c, l)
            run -= 16
            for b in pending:
                w.write(b, 1)
            pending = []
        c, l = acc[(run << 4) | 1]
        w.write(c, l)
        w.write(1 if zz[k] > 0 else 0, 1)
        for b in pending:
            w.write(b, 1)
        pending = []
        run = 0
    c, l = acc[0x00]  # EOB covers this block's tail (incl. pending bits)
    w.write(c, l)
    for b in pending:
        w.write(b, 1)
    w.flush()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_progressive_successive_approximation_craft():
    """DC/AC refinement passes reconstruct the exact coefficients —
    including a correction bit delivered through the refinement EOB run
    (the tail-scan path: the EOB run covers the CURRENT block)."""
    from legal_document_ocr_spark.jpeg import ZIGZAG, _idct_block, decode_jpeg

    zz = [0] * 64
    zz[0] = 5
    for k, v in {1: 3, 2: -3, 4: 1, 5: -1, 10: 3}.items():
        zz[k] = v
    dec = decode_jpeg(_craft_progressive_sa(zz))
    coeffs = [0] * 64
    for k in range(64):
        coeffs[ZIGZAG[k]] = zz[k]
    exp = bytes(
        min(255, max(0, int(round(s)) + 128)) for s in _idct_block(coeffs)
    )
    assert dec["pixels"] == exp


def test_jpeg_progressive_eobrun_spans_blocks():
    """An AC-first EOB with r=1 covers the current block AND the next —
    the second block's ACs must stay zero without consuming any bits."""
    from legal_document_ocr_spark.jpeg import (
        _AC_LUM_BITS,
        _AC_LUM_VALS,
        _BitWriter,
        _DC_LUM_BITS,
        _DC_LUM_VALS,
        _build_codes,
        _magnitude,
        decode_jpeg,
    )

    dcc = _build_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    # Annex-K has no (r=1, s=0) EOBRUN symbol — real progressive encoders
    # ship custom DHTs; craft one with exactly the two symbols we emit
    ac_bits = [0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    ac_vals = [0x03, 0x10]
    acc = _build_codes(ac_bits, ac_vals)

    def seg(m, p):
        return bytes([0xFF, m]) + struct.pack(">H", len(p) + 2) + p

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes([1] * 64))
    out += seg(0xC2, struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, b"\x00" + bytes(_DC_LUM_BITS) + bytes(_DC_LUM_VALS))
    out += seg(0xC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00]))  # DC, Al=0
    w = _BitWriter()
    for dc in (16, 16):  # two blocks, diff then 0
        cat, bits = _magnitude(dc if dc == 16 else 0)
        # first block diff=16, second diff=0
        pass
    # block 1: diff 16; block 2: diff 0
    for diff in (16, 0):
        cat, bits = _magnitude(diff)
        c, l = dcc[cat]
        w.write(c, l)
        if cat:
            w.write(bits, cat)
    w.flush()
    out += w.out
    out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00]))  # AC, Al=0
    w = _BitWriter()
    # block 1: one AC then EOB with r=1 -> eobrun covers blocks 1 and 2
    cat, bits = _magnitude(7)
    c, l = acc[(0 << 4) | cat]
    w.write(c, l)
    w.write(bits, cat)
    c, l = acc[0x10]  # s=0, r=1 -> EOBRUN = 2
    w.write(c, l)
    w.flush()
    out += w.out
    out += b"\xff\xd9"

    dec = decode_jpeg(bytes(out))
    assert dec["width"] == 16 and dec["height"] == 8
    # block 2 must be flat DC (no ACs) == 16/8 + 128 = 130 everywhere
    right = [dec["pixels"][y * 16 + x] for y in range(8) for x in range(8, 16)]
    assert set(right) == {130}


@pytest.mark.parametrize("mode,ch", [("L", 1), ("RGB", 3)])
@pytest.mark.parametrize("predictor", [1, 2])
def test_tiff_deflate_roundtrip_and_corrupt_strip_isolated(mode, ch, predictor):
    from legal_document_ocr_spark.codecs import decode_tiff, encode_tiff

    w, h = 9, 6
    px = bytes((5 * i + 3) % 256 for i in range(w * h * ch))
    enc = encode_tiff(
        w, h, px, mode, deflate=True, predictor=predictor, rows_per_strip=2
    )
    assert decode_tiff(enc) == {
        "width": w, "height": h, "mode": mode, "pixels": px,
    }
    # corrupt the first strip's zlib bytes -> ValueError, not zlib.error
    body = bytearray(enc)
    body[10] ^= 0xFF
    with pytest.raises(ValueError):
        decode_tiff(bytes(body))


# ---------------------------------------------------------------------------
# PNG indexed color + Adam7 interlace (round 4, session 18)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("ct,ch", [(0, 1), (2, 3), (6, 4)])
@pytest.mark.parametrize("w,h", [(1, 1), (3, 2), (8, 8), (13, 9), (16, 5)])
def test_png_adam7_roundtrip_every_type_and_sub_pass_dims(ct, ch, w, h):
    """Adam7 roundtrip incl. images smaller than the pass steps (empty
    passes must be skipped on both sides)."""
    px = bytes((7 * i + ct) % 256 for i in range(w * h * ch))
    dec = decode_png(encode_png(w, h, px, ct, interlace=True))
    assert (dec["width"], dec["height"], dec["pixels"]) == (w, h, px)


def test_png_palette_expands_plte_and_trns():
    pal = bytes(range(30))  # 10 RGB entries
    idx = bytes([0, 3, 9, 5, 1, 2])
    dec = decode_png(encode_png(3, 2, idx, 3, palette=pal))
    assert dec["mode"] == "RGB"
    assert dec["pixels"] == b"".join(pal[i * 3 : i * 3 + 3] for i in idx)
    dec = decode_png(
        encode_png(3, 2, idx, 3, palette=pal, trns=bytes([10, 20, 30]))
    )
    assert dec["mode"] == "RGBA"  # tRNS pads with opaque 255 past entry 2
    exp = b"".join(
        pal[i * 3 : i * 3 + 3] + bytes([(10, 20, 30)[i] if i < 3 else 255])
        for i in idx
    )
    assert dec["pixels"] == exp
    # interlaced + indexed compose
    dec = decode_png(encode_png(3, 2, idx, 3, palette=pal, interlace=True))
    assert dec["pixels"] == b"".join(pal[i * 3 : i * 3 + 3] for i in idx)


def test_png_palette_hardening():
    pal = bytes(range(30))
    with pytest.raises(ValueError, match="palette index past PLTE"):
        decode_png(encode_png(2, 1, bytes([0, 11]), 3, palette=pal))
    # indexed without PLTE
    import zlib as _zlib

    from legal_document_ocr_spark.codecs import _PNG_SIG

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    raw = _zlib.compress(b"\x00\x00")
    bad = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", raw)
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="missing PLTE"):
        decode_png(bad)


# ---------------------------------------------------------------------------
# ICO favicon container (round 4, session 18)
# ---------------------------------------------------------------------------


def test_ico_elects_largest_member_and_decodes_both_kinds():
    from legal_document_ocr_spark.codecs import (
        decode_ico,
        decode_image,
        encode_ico,
        encode_png,
    )

    rgba = bytes((i * 5) % 256 for i in range(4 * 3 * 4))
    png = encode_png(6, 5, bytes((3 * i) % 256 for i in range(6 * 5)), 0)
    ico = encode_ico([(4, 3, rgba), (6, 5, png)])
    dec = decode_image(ico)  # dispatch via \x00\x00\x01\x00 magic
    assert (dec["width"], dec["height"], dec["n_members"]) == (6, 5, 2)
    assert dec["mode"] == "L"
    # legacy DIB member: BGRA bottom-up + AND mask, RGBA out
    only_dib = decode_ico(encode_ico([(4, 3, rgba)]))
    assert (only_dib["mode"], only_dib["pixels"]) == ("RGBA", rgba)


def test_ico_hardening():
    from legal_document_ocr_spark.codecs import decode_ico, encode_ico

    rgba = bytes(4 * 3 * 4)
    good = encode_ico([(4, 3, rgba)])
    with pytest.raises(ValueError):
        decode_ico(b"\x00\x00\x01\x00\x05")  # truncated header
    with pytest.raises(ValueError):
        decode_ico(good[:30])  # truncated directory
    # member offset past EOF
    bad = bytearray(good)
    bad[6 + 12 : 6 + 16] = struct.pack("<I", len(good) + 100)
    with pytest.raises(ValueError, match="out of bounds"):
        decode_ico(bytes(bad))
    # 8-bit DIB member is declared out of scope
    eight = bytearray(good)
    # bpp lives at DIB offset 14 within the member (after 6+16 directory)
    eight[6 + 16 + 14 : 6 + 16 + 16] = struct.pack("<H", 8)
    with pytest.raises(NotImplementedError):
        decode_ico(bytes(eight))


# ---------------------------------------------------------------------------
# G.711 u-law / A-law WAV (round 4, session 18)
# ---------------------------------------------------------------------------


def test_g711_tables_match_audioop_reference():
    """CPython's audioop (present through 3.12) carries the ITU-T G.711
    reference tables — every one of the 512 byte expansions must match.
    Import-guarded so the suite survives its 3.13 removal."""
    audioop = pytest.importorskip("audioop")
    from legal_document_ocr_spark.codecs import _ALAW_TABLE, _ULAW_TABLE

    for i in range(256):
        assert _ULAW_TABLE[i] == struct.unpack(
            "<h", audioop.ulaw2lin(bytes([i]), 2)
        )[0]
        assert _ALAW_TABLE[i] == struct.unpack(
            "<h", audioop.alaw2lin(bytes([i]), 2)
        )[0]


def test_g711_wav_decode_and_pcm_regression():
    from legal_document_ocr_spark.codecs import (
        _ALAW_TABLE,
        _ULAW_TABLE,
        decode_wav,
        encode_wav_g711,
    )

    raw = bytes(range(256))
    d = decode_wav(encode_wav_g711(raw))
    assert (d["sample_width"], d["n_frames"], d["sample_rate"]) == (2, 256, 8000)
    assert struct.unpack("<256h", d["pcm"]) == tuple(_ULAW_TABLE[b] for b in raw)
    d = decode_wav(encode_wav_g711(raw, alaw=True, channels=2))
    assert d["channels"] == 2 and d["n_frames"] == 128
    assert struct.unpack("<256h", d["pcm"]) == tuple(_ALAW_TABLE[b] for b in raw)
    # truncated data chunk
    enc = encode_wav_g711(raw)
    with pytest.raises(ValueError):
        decode_wav(enc[:-10])
