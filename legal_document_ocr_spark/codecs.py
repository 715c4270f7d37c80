"""Pure-stdlib media codecs (zlib/struct/wave — no PIL/cv2 in this env).

Round-1 shipped ``decode_image`` as a declared NotImplementedError stub
because "the image libs aren't in this container". That's true of
PIL/cv2/ffmpeg — but PNG, BMP and WAV are decodable with nothing beyond
zlib + struct + wave, so the decode step is REAL for those formats; round 3
added a real baseline JPEG decoder too (jpeg.py — Huffman + IDCT,
grayscale/YCbCr, 4:2:0, restart markers) and a GIF decoder (LZW +
interlace + palette below); round 4 added baseline TIFF (the reference
whitelist's last unhandled image format) and lossless WebP (vp8l.py —
canonical prefix codes, LZ77, color cache, all four inverse transforms),
so the stub now covers only lossy WebP (VP8) and video essence.

Scope: non-interlaced 8-bit-depth PNG in grayscale (color type 0), RGB (2)
and RGBA (6) with all five scanline filters; uncompressed 24-bit BMP;
PCM WAV; baseline + progressive JPEG (jpeg.py); GIF87a/89a first frame; chunky 8-bit
gray/RGB TIFF (uncompressed/PackBits/LZW/deflate strips with the
horizontal-differencing predictor, II and MM byte orders, WhiteIsZero
inverted); ICO favicon containers (PNG or 32-bit BGRA DIB members,
largest member elected). Reference analogue: the reference leans on PIL inside
image_preprocessing_service.py:57-122 — same contract, stdlib engine.
These kernels run inside Arrow-batched mapInPandas stages
(operators/multimodal.py); per-image Python is the accepted cost of a real
codec, exactly as it would be with PIL.
"""

from __future__ import annotations

import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}

# Decompression-bomb bound: a crafted IHDR can declare 2^32-1 x 2^32-1 and
# the decoder would allocate height*stride bytes before reading one scanline.
# 64M pixels (~256 MB RGBA) is far above any legitimate thumbnail/page scan
# in a crawl corpus; everything larger is rejected as malformed input, the
# same contract PIL enforces via Image.MAX_IMAGE_PIXELS.
MAX_IMAGE_PIXELS = 1 << 26


# Adam7 interlace passes: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _adam7_pass_dims(width: int, height: int) -> list[tuple[int, int, int, int, int, int]]:
    """Non-empty Adam7 passes as (x0, y0, dx, dy, pass_w, pass_h)."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            out.append((x0, y0, dx, dy, pw, ph))
    return out


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    color_type: int = 0,
    *,
    palette: bytes | None = None,
    trns: bytes | None = None,
    interlace: bool = False,
) -> bytes:
    """Minimal PNG encoder (filter 0 rows, one IDAT; optional Adam7
    interlace and indexed color). ``pixels`` is row-major samples,
    ``len == width*height*channels`` — palette indices for color type 3
    (``palette`` = 3*n RGB bytes, optional ``trns`` per-entry alpha)."""
    if color_type == 3:
        ch = 1
        if palette is None or len(palette) % 3 or not 3 <= len(palette) <= 768:
            raise ValueError("color type 3 needs a 3*n-byte palette (n<=256)")
    else:
        ch = _PNG_CHANNELS[color_type]
    if len(pixels) != width * height * ch:
        raise ValueError("pixel buffer does not match dimensions")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color_type, 0, 0, 1 if interlace else 0
    )
    stride = width * ch
    if interlace:
        parts = []
        for x0, y0, dx, dy, pw, ph in _adam7_pass_dims(width, height):
            for py in range(ph):
                y = y0 + py * dy
                row = bytearray()
                for px_i in range(pw):
                    x = x0 + px_i * dx
                    row += pixels[(y * width + x) * ch : (y * width + x) * ch + ch]
                parts.append(b"\x00" + bytes(row))
        raw = b"".join(parts)
    else:
        raw = b"".join(
            b"\x00" + pixels[y * stride : (y + 1) * stride]
            for y in range(height)
        )
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += chunk(b"PLTE", palette)
        if trns is not None:
            out += chunk(b"tRNS", trns)
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def _unfilter(raw: bytes, width: int, height: int, ch: int) -> bytes:
    """Reverse PNG scanline filters (types 0-4) for 8-bit samples."""
    stride = width * ch
    out = bytearray(height * stride)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        prev_row = out[(y - 1) * stride : y * stride] if y > 0 else b"\x00" * stride
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev_row[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prev_row[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev_row[i]
                c = prev_row[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
    return bytes(out)


def decode_png(payload: bytes) -> dict:
    """Decode an 8-bit PNG — gray (0), RGB (2), indexed (3, PLTE +
    optional tRNS -> RGB/RGBA) and RGBA (6), plain or Adam7-interlaced:
    {width, height, mode, pixels}.

    Hardened against attacker-controlled input (a crawl corpus is exactly
    that): truncated chunk framing, missing/short IHDR, dimensioned
    decompression bombs (> MAX_IMAGE_PIXELS), short IDAT streams, and
    palette indices past the PLTE all raise ValueError BEFORE any large
    allocation — never KeyError / IndexError / MemoryError.
    """
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, width, height, ctype, idat = 8, None, None, None, b""
    interlace = 0
    plte: bytes | None = None
    trns: bytes | None = None
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        if pos + 8 + length > len(payload):
            raise ValueError("truncated PNG chunk data")
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            if length < 13:
                raise ValueError("short IHDR")
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data[:13]
            )
            if (
                depth != 8
                or (ctype not in _PNG_CHANNELS and ctype != 3)
                or interlace not in (0, 1)
            ):
                raise NotImplementedError(
                    "only 8-bit gray/RGB/indexed/RGBA PNG supported "
                    "(plain or Adam7)"
                )
            if width <= 0 or height <= 0:
                raise ValueError("invalid PNG dimensions")
            if width * height > MAX_IMAGE_PIXELS:
                raise ValueError(
                    f"PNG dimensions {width}x{height} exceed "
                    f"MAX_IMAGE_PIXELS={MAX_IMAGE_PIXELS}"
                )
        elif tag == b"PLTE":
            if length % 3 or length > 768:
                raise ValueError("malformed PLTE")
            plte = data
        elif tag == b"tRNS":
            trns = data
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if ctype is None:
        raise ValueError("PNG missing IHDR")
    if ctype == 3 and plte is None:
        raise ValueError("indexed PNG missing PLTE")
    ch = 1 if ctype == 3 else _PNG_CHANNELS[ctype]
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if interlace:
        passes = _adam7_pass_dims(width, height)
        expected = sum(ph * (1 + pw * ch) for _, _, _, _, pw, ph in passes)
        if len(raw) != expected:
            raise ValueError(
                f"PNG pixel data length {len(raw)} does not match the "
                f"Adam7 pass layout ({expected})"
            )
        pixels_b = bytearray(width * height * ch)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            span = ph * (1 + pw * ch)
            sub = _unfilter(raw[off : off + span], pw, ph, ch)
            off += span
            for py in range(ph):
                y = y0 + py * dy
                for px_i in range(pw):
                    x = x0 + px_i * dx
                    s = (py * pw + px_i) * ch
                    d = (y * width + x) * ch
                    pixels_b[d : d + ch] = sub[s : s + ch]
        pixels = bytes(pixels_b)
    else:
        if len(raw) != height * (1 + width * ch):
            raise ValueError(
                f"PNG pixel data length {len(raw)} does not match "
                f"{height}x{width}x{ch} scanlines"
            )
        pixels = _unfilter(raw, width, height, ch)
    if ctype == 3:
        n_entries = len(plte) // 3
        if any(i >= n_entries for i in pixels):
            raise ValueError("PNG palette index past PLTE")
        if trns is not None:
            alpha = trns + b"\xff" * (n_entries - len(trns))
            out = bytearray(len(pixels) * 4)
            for j, i in enumerate(pixels):
                out[j * 4 : j * 4 + 3] = plte[i * 3 : i * 3 + 3]
                out[j * 4 + 3] = alpha[i]
            return {
                "width": width, "height": height,
                "mode": "RGBA", "pixels": bytes(out),
            }
        out = bytearray(len(pixels) * 3)
        for j, i in enumerate(pixels):
            out[j * 3 : j * 3 + 3] = plte[i * 3 : i * 3 + 3]
        return {
            "width": width, "height": height,
            "mode": "RGB", "pixels": bytes(out),
        }
    mode = {1: "L", 3: "RGB", 4: "RGBA"}[ch]
    return {"width": width, "height": height, "mode": mode, "pixels": pixels}


def decode_bmp(payload: bytes) -> dict:
    """Decode an uncompressed 24-bit BMP: {width, height, mode, pixels}
    (pixels top-down RGB, padding stripped)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    if len(payload) < 34:
        raise ValueError("truncated BMP header")
    (data_off,) = struct.unpack("<I", payload[10:14])
    width, height = struct.unpack("<ii", payload[18:26])
    bpp, comp = struct.unpack("<HI", payload[28:34])
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP supported")
    row_sz = (width * 3 + 3) & ~3
    flip = height > 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError("invalid BMP dimensions")
    if width * height > MAX_IMAGE_PIXELS:
        raise ValueError(
            f"BMP dimensions {width}x{height} exceed "
            f"MAX_IMAGE_PIXELS={MAX_IMAGE_PIXELS}"
        )
    if data_off + height * row_sz > len(payload):
        raise ValueError("truncated BMP pixel data")
    out = bytearray()
    for y in range(height):
        src_y = (height - 1 - y) if flip else y
        row = payload[data_off + src_y * row_sz : data_off + src_y * row_sz + width * 3]
        for x in range(width):  # BGR -> RGB
            b, g, r = row[x * 3 : x * 3 + 3]
            out += bytes((r, g, b))
    return {"width": width, "height": height, "mode": "RGB", "pixels": bytes(out)}


def _g711_ulaw_to_pcm16(b: int) -> int:
    """ITU-T G.711 μ-law byte -> linear 16-bit sample (table semantics
    verified against CPython's audioop.ulaw2lin in the test suite)."""
    b = ~b & 0xFF
    exp = (b >> 4) & 7
    mant = b & 0x0F
    sample = (((mant << 3) + 0x84) << exp) - 0x84
    return -sample if b & 0x80 else sample


def _g711_alaw_to_pcm16(b: int) -> int:
    """ITU-T G.711 A-law byte -> linear 16-bit sample (verified against
    audioop.alaw2lin)."""
    b ^= 0x55
    exp = (b >> 4) & 7
    mant = b & 0x0F
    if exp:
        sample = ((mant << 4) + 0x108) << (exp - 1)
    else:
        sample = (mant << 4) + 8
    # A-law: bit 7 SET means positive (opposite of μ-law's complemented form)
    return sample if b & 0x80 else -sample


_ULAW_TABLE = [_g711_ulaw_to_pcm16(i) for i in range(256)]
_ALAW_TABLE = [_g711_alaw_to_pcm16(i) for i in range(256)]


def decode_wav(payload: bytes) -> dict:
    """Decode a WAV: {channels, sample_rate, n_frames, sample_width,
    pcm}. PCM (format 1) reads through stdlib wave; G.711 A-law (6) and
    μ-law (7) — the telephony/voicemail encodings still common in
    crawled audio — expand through the ITU-T tables to 16-bit linear
    PCM (sample_width comes back 2). Truncated RIFF framing raises
    ValueError, not struct.error."""
    import io
    import wave

    fmt_tag = None
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos = 12
        while pos + 8 <= len(payload):
            tag = payload[pos : pos + 4]
            (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            if tag == b"fmt " and ln >= 16:
                (fmt_tag,) = struct.unpack(
                    "<H", payload[pos + 8 : pos + 10]
                )
                break
            pos += 8 + ln + (ln & 1)
    if fmt_tag in (6, 7):
        # wave refuses compressed formats; walk the RIFF chunks directly
        ch, rate = struct.unpack("<HI", payload[pos + 10 : pos + 16])
        pos2 = 12
        data = None
        while pos2 + 8 <= len(payload):
            tag = payload[pos2 : pos2 + 4]
            (ln,) = struct.unpack("<I", payload[pos2 + 4 : pos2 + 8])
            if tag == b"data":
                if pos2 + 8 + ln > len(payload):
                    raise ValueError("truncated WAV data chunk")
                data = payload[pos2 + 8 : pos2 + 8 + ln]
                break
            pos2 += 8 + ln + (ln & 1)
        if data is None:
            raise ValueError("WAV missing data chunk")
        table = _ALAW_TABLE if fmt_tag == 6 else _ULAW_TABLE
        pcm = struct.pack(f"<{len(data)}h", *(table[b] for b in data))
        return {
            "channels": ch,
            "sample_rate": rate,
            "n_frames": len(data) // ch,
            "sample_width": 2,
            "pcm": pcm,
        }
    with wave.open(io.BytesIO(payload), "rb") as w:
        return {
            "channels": w.getnchannels(),
            "sample_rate": w.getframerate(),
            "n_frames": w.getnframes(),
            "sample_width": w.getsampwidth(),
            "pcm": w.readframes(w.getnframes()),
        }


def encode_wav_g711(
    samples: bytes, *, alaw: bool = False, channels: int = 1,
    sample_rate: int = 8000,
) -> bytes:
    """Wrap raw G.711 bytes in a WAV container (format tag 6/7). For
    roundtrip tests and synthesis — the companded bytes are the input."""
    fmt = struct.pack(
        "<HHIIHH", 6 if alaw else 7, channels, sample_rate,
        sample_rate * channels, channels, 8,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(samples))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )


def decode_image(payload: bytes) -> dict:
    """Dispatch by magic bytes. PNG/BMP/baseline-JPEG/GIF/TIFF/ICO and
    lossless WebP decode for real (jpeg.py: Huffman + IDCT,
    grayscale/YCbCr, all samplings, restart markers; decode_gif below:
    LZW + interlace + palette; decode_tiff below: none/PackBits/LZW/
    deflate strips, both byte orders; decode_ico below: largest-member
    election; vp8l.py: lossless WebP). Lossy-VP8 WebP raises
    NotImplementedError naming it; video frame essence still needs an
    external codec."""
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .vp8l import decode_webp

        return decode_webp(payload)
    if payload[:4] == b"\x00\x00\x01\x00":
        return decode_ico(payload)
    raise NotImplementedError(
        "only PNG, BMP, baseline JPEG, GIF, TIFF, ICO and lossless WebP "
        "(VP8L) decode without an external codec library (lossy-VP8 WebP "
        "and video need PIL/cv2/ffmpeg)"
    )


# ---------------------------------------------------------------------------
# GIF (round 3: LZW is pure integer work — no external library needed)
# ---------------------------------------------------------------------------


def encode_gif(width: int, height: int, indices: bytes, palette: bytes) -> bytes:
    """Minimal GIF89a encoder (single frame, global 256-color table,
    'uncompressed' LZW: every index emitted as a literal code with clear
    codes injected before the code width would grow). For roundtrip tests.

    ``indices``: row-major palette indices; ``palette``: 768 bytes RGB.
    """
    if len(palette) != 768:
        raise ValueError("palette must be 256 RGB entries (768 bytes)")
    if len(indices) != width * height:
        raise ValueError("index buffer does not match dimensions")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0xF7, 0, 0])  # global table, 8-bit color, 256 entries
    out += palette
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    mcs = 8  # LZW minimum code size
    clear, end = 1 << mcs, (1 << mcs) + 1
    code_bits = mcs + 1
    acc = 0
    nbits = 0
    data = bytearray()

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # GIF is LSB-first
        nbits += code_bits
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    budget = (1 << code_bits) - end - 2  # literals before width would grow
    n = 0
    for idx in indices:
        if n == budget:
            put(clear)
            n = 0
        put(idx)
        n += 1
    put(end)
    if nbits:
        data.append(acc & 0xFF)
    out += bytes([mcs])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def _gif_lzw_decode(mcs: int, data: bytes, expected: int) -> bytearray:
    """GIF-variant LZW: LSB-first variable-width codes, dict reset on clear,
    max 4096 entries."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    table: list[bytes] = []

    def reset() -> None:
        nonlocal table, code_bits
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_bits = mcs + 1

    code_bits = mcs + 1
    reset()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    while True:
        while nbits < code_bits:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << code_bits) - 1)
        acc >>= code_bits
        nbits -= code_bits
        if code == clear:
            reset()
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and (code < clear or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt GIF LZW code")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_bits) and code_bits < 12:
                code_bits += 1
        prev = entry
        if len(out) >= expected:
            break
    if len(out) < expected:
        raise ValueError("GIF pixel data shorter than frame")
    return out[:expected]


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes) -> dict:
    """Decode the FIRST frame of a GIF87a/89a: {width, height, mode, pixels}
    (RGB, palette applied, interlacing undone). Same hardening contract as
    the other decoders: truncated blocks / missing color table / dimension
    bombs raise ValueError before large allocation. Animation beyond the
    first frame is out of scope (documented, not silent)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    packed = payload[10]
    pos = 13
    global_table = b""
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        global_table = payload[pos : pos + n]
        if len(global_table) < n:
            raise ValueError("truncated GIF color table")
        pos += n
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        if pos + 10 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        _, _, w, h = struct.unpack("<HHHH", payload[pos + 1 : pos + 9])
        ipacked = payload[pos + 9]
        pos += 10
        if w <= 0 or h <= 0:
            raise ValueError("invalid GIF dimensions")
        if w * h > MAX_IMAGE_PIXELS:
            raise ValueError(
                f"GIF dimensions {w}x{h} exceed MAX_IMAGE_PIXELS={MAX_IMAGE_PIXELS}"
            )
        table = global_table
        if ipacked & 0x80:
            n = 3 * (2 << (ipacked & 0x07))
            table = payload[pos : pos + n]
            if len(table) < n:
                raise ValueError("truncated GIF local color table")
            pos += n
        if not table:
            raise ValueError("GIF frame has no color table")
        if pos >= len(payload):
            raise ValueError("truncated GIF before LZW data")
        mcs = payload[pos]
        pos += 1
        if not (2 <= mcs <= 11):
            raise ValueError("invalid GIF LZW minimum code size")
        data = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            n = payload[pos]
            data += payload[pos + 1 : pos + 1 + n]
            pos += 1 + n
        idx = _gif_lzw_decode(mcs, bytes(data), w * h)
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            de = bytearray(w * h)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                for y in range(start, h, step):
                    de[y * w : (y + 1) * w] = idx[src : src + w]
                    src += w
            idx = de
        ncolors = len(table) // 3
        out = bytearray(w * h * 3)
        for i, ix in enumerate(idx):
            if ix >= ncolors:
                raise ValueError("GIF index outside color table")
            out[i * 3 : i * 3 + 3] = table[ix * 3 : ix * 3 + 3]
        return {"width": w, "height": h, "mode": "RGB", "pixels": bytes(out)}
    raise ValueError("GIF has no image frame")


# ---------------------------------------------------------------------------
# TIFF (round 4: the reference whitelist's last unhandled image format —
# /root/reference/app/utils/validation.py:10 accepts .tiff; uncompressed
# and PackBits baseline TIFF are pure struct/integer work)
# ---------------------------------------------------------------------------

_TIFF_TYPE_SIZE = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG


def _packbits_encode(data: bytes) -> bytes:
    """Apple PackBits: runs of >=3 equal bytes become (257-n, byte);
    literals are chunked at 128."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes(((257 - run) & 0xFF, data[i]))
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (i + 2 < n and data[i] == data[i + 1] == data[i + 2])
        ):
            i += 1
        out += bytes((i - lit - 1,)) + data[lit:i]
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        b0 = data[i]
        i += 1
        if b0 == 128:  # noop
            continue
        if b0 < 128:  # literal run of b0+1
            if i + b0 + 1 > n:
                raise ValueError("truncated PackBits literal run")
            out += data[i : i + b0 + 1]
            i += b0 + 1
        else:  # repeat next byte 257-b0 times
            if i >= n:
                raise ValueError("truncated PackBits repeat run")
            out += bytes((data[i],)) * (257 - b0)
            i += 1
    if len(out) < expected:
        raise ValueError("PackBits output shorter than strip")
    return bytes(out[:expected])


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF6 §13): MSB-first variable-width codes,
    ClearCode=256 / EOI=257, first string code 258, and the spec's EARLY
    code-width change — the width bumps as soon as the next free code
    equals ``(1 << width) - 1`` (one code earlier than GIF's LSB-first
    variant above). Table resets at 4094 so early change never needs a
    13th bit. Synthesis/roundtrip side of ``_tiff_lzw_decode``."""
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code  # TIFF is MSB-first
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
            acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {}
    next_code = 258

    def reset() -> None:
        nonlocal table, width, next_code
        table = {bytes([i]): i for i in range(256)}
        width = 9
        next_code = 258

    reset()
    put(256)
    w = b""
    for b in data:
        wk = w + bytes((b,))
        if wk in table:
            w = wk
            continue
        put(table[w])
        table[wk] = next_code
        next_code += 1
        # decoder lag: the decoder assigns entry k one code AFTER the
        # encoder did, so its early-change trip (table length 511/1023/
        # 2047) lands one emitted code later — hence == (1 << width),
        # not the (1 << width) - 1 the decoder checks.
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code >= 4094:  # leave room: 4095 would force a 13th bit
            put(256)
            reset()
        w = bytes((b,))
    if w:
        put(table[w])
    put(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`_tiff_lzw_encode`, following the TIFF6 §13
    decoder pseudo-code exactly (the spec's 7/7/7/8/8/7/7/6/6 worked
    example is test-pinned). Raises ValueError on truncation or a code
    the table cannot have assigned yet."""
    out = bytearray()
    pos = 0
    acc = 0
    nbits = 0
    width = 9
    table: list[bytes] = []

    def reset() -> None:
        nonlocal table, width
        table = [bytes((i,)) for i in range(256)] + [b"", b""]
        width = 9

    reset()
    prev: bytes | None = None
    while len(out) < expected:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated TIFF LZW stream")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1
        if code == 256:
            reset()
            prev = None
            continue
        if code == 257:
            break
        if code < len(table) and (code < 256 or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt TIFF LZW code")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            # early change: NextCode == (1 << width) - 1 switches width NOW
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry
    if len(out) < expected:
        raise ValueError("TIFF LZW output shorter than strip")
    return bytes(out[:expected])


def _predictor2_encode(raw: bytes, stride: int, spp: int) -> bytes:
    """TIFF tag 317 = 2 (horizontal differencing), forward direction:
    within each row, each sample becomes its delta vs the same channel
    one pixel left (mod 256). Applied per strip BEFORE compression."""
    out = bytearray(raw)
    for r0 in range(0, len(raw), stride):
        row_end = min(r0 + stride, len(raw))
        for i in range(row_end - 1, r0 + spp - 1, -1):
            out[i] = (out[i] - raw[i - spp]) & 0xFF
    return bytes(out)


def _predictor2_decode(raw: bytearray, stride: int, spp: int) -> None:
    """Undo horizontal differencing in place (per-row running sum)."""
    for r0 in range(0, len(raw), stride):
        row_end = min(r0 + stride, len(raw))
        for i in range(r0 + spp, row_end):
            raw[i] = (raw[i] + raw[i - spp]) & 0xFF


def encode_tiff(
    width: int,
    height: int,
    pixels: bytes,
    mode: str = "L",
    *,
    packbits: bool = False,
    lzw: bool = False,
    deflate: bool = False,
    predictor: int = 1,
    rows_per_strip: int | None = None,
    big_endian: bool = False,
) -> bytes:
    """Minimal baseline TIFF encoder (chunky, 8-bit, gray or RGB, one or
    more strips, compression none/PackBits/LZW/deflate, predictor
    none/horizontal differencing). For roundtrip tests."""
    spp = {"L": 1, "RGB": 3}[mode]
    if len(pixels) != width * height * spp:
        raise ValueError("pixel buffer does not match dimensions")
    if packbits + lzw + deflate > 1:
        raise ValueError("pick one compression")
    if predictor not in (1, 2):
        raise ValueError("only predictor 1 (none) / 2 (horizontal) supported")
    e = ">" if big_endian else "<"
    rps = rows_per_strip or height
    stride = width * spp
    strips = []
    for y0 in range(0, height, rps):
        raw = pixels[y0 * stride : min(y0 + rps, height) * stride]
        if predictor == 2:
            raw = _predictor2_encode(raw, stride, spp)
        if packbits:
            raw = _packbits_encode(raw)
        elif lzw:
            raw = _tiff_lzw_encode(raw)
        elif deflate:
            raw = zlib.compress(raw, 6)
        strips.append(raw)

    # strip data starts right after the 8-byte header; IFD follows the data
    offsets, counts, pos = [], [], 8
    for s in strips:
        offsets.append(pos)
        counts.append(len(s))
        pos += len(s)
    ifd_off = pos
    header = struct.pack(
        e + "2sHI", b"MM" if big_endian else b"II", 42, ifd_off
    )
    n_strips = len(strips)
    extra = bytearray()  # out-of-line arrays appended after the IFD

    def entry(tag: int, typ: int, values: list[int]) -> bytes:
        size = _TIFF_TYPE_SIZE[typ] * len(values)
        fmt = {3: "H", 4: "I"}[typ]
        if size <= 4:
            payload = struct.pack(e + fmt * len(values), *values)
            payload += b"\x00" * (4 - size)
            return struct.pack(e + "HHI", tag, typ, len(values)) + payload
        off = ifd_off + 2 + 12 * n_entries + 4 + len(extra)
        extra.extend(struct.pack(e + fmt * len(values), *values))
        return struct.pack(e + "HHII", tag, typ, len(values), off)

    tags = [
        (256, 4, [width]),
        (257, 4, [height]),
        (258, 3, [8] * spp),
        (259, 3, [5 if lzw else 8 if deflate else 32773 if packbits else 1]),
        (262, 3, [2 if mode == "RGB" else 1]),
        (273, 4, offsets),
        (277, 3, [spp]),
        (278, 4, [rps]),
        (279, 4, counts),
        (284, 3, [1]),
    ]
    if predictor == 2:
        tags.append((317, 3, [2]))
    n_entries = len(tags)
    ifd = struct.pack(e + "H", n_entries)
    for tag, typ, vals in tags:
        ifd += entry(tag, typ, vals)
    ifd += struct.pack(e + "I", 0)  # no next IFD
    return header + b"".join(strips) + ifd + bytes(extra)


def decode_tiff(payload: bytes) -> dict:
    """Decode a baseline chunky 8-bit gray/RGB TIFF (compression none,
    PackBits, deflate/zlib (8), or LZW — MSB-first early-change variant —
    with predictor none/horizontal-differencing, either byte order,
    multi-strip):
    {width, height, mode, pixels}. WhiteIsZero grayscale is inverted to
    the BlackIsZero convention the other decoders emit. Same hardening
    contract as decode_png: truncated IFDs/strips, dimension bombs and
    unsupported layouts raise ValueError/NotImplementedError before
    large allocation. Tiled TIFF, JPEG-in-TIFF and planar layouts stay
    library-bound (documented, not silent)."""
    if payload[:4] == b"II*\x00":
        e = "<"
    elif payload[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("not a TIFF")
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    (ifd_off,) = struct.unpack(e + "I", payload[4:8])
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated TIFF IFD")
    (n_entries,) = struct.unpack(e + "H", payload[ifd_off : ifd_off + 2])
    if ifd_off + 2 + 12 * n_entries > len(payload):
        raise ValueError("truncated TIFF IFD entries")

    def read_values(typ: int, count: int, raw: bytes) -> list[int]:
        size = _TIFF_TYPE_SIZE.get(typ)
        if size is None:
            raise NotImplementedError(f"unsupported TIFF field type {typ}")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        total = size * count
        if total <= 4:
            return list(struct.unpack(e + fmt * count, raw[:total]))
        (off,) = struct.unpack(e + "I", raw)
        if off + total > len(payload):
            raise ValueError("TIFF value offset out of bounds")
        return list(struct.unpack(e + fmt * count, payload[off : off + total]))

    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(e + "HHI", payload[base : base + 8])
        if tag in (256, 257, 258, 259, 262, 273, 277, 278, 279, 284, 317):
            tags[tag] = read_values(typ, count, payload[base + 8 : base + 12])

    for required in (256, 257, 273, 279):
        if required not in tags:
            raise ValueError(f"TIFF missing required tag {required}")
    width, height = tags[256][0], tags[257][0]
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8] * spp)
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    planar = tags.get(284, [1])[0]
    if spp not in (1, 3) or any(b != 8 for b in bits) or planar != 1:
        raise NotImplementedError(
            "only chunky 8-bit grayscale/RGB TIFF supported"
        )
    if comp not in (1, 5, 8, 32773):
        raise NotImplementedError(
            "only uncompressed, LZW, deflate and PackBits TIFF supported "
            "(JPEG-in-TIFF needs an external codec)"
        )
    predictor = tags.get(317, [1])[0]
    if predictor not in (1, 2):
        raise NotImplementedError(f"unsupported TIFF predictor {predictor}")
    if photo not in (0, 1, 2):
        raise NotImplementedError(f"unsupported TIFF photometric {photo}")
    if width <= 0 or height <= 0:
        raise ValueError("invalid TIFF dimensions")
    if width * height > MAX_IMAGE_PIXELS:
        raise ValueError(
            f"TIFF dimensions {width}x{height} exceed "
            f"MAX_IMAGE_PIXELS={MAX_IMAGE_PIXELS}"
        )
    offsets, counts = tags[273], tags[279]
    if len(offsets) != len(counts):
        raise ValueError("TIFF StripOffsets/StripByteCounts mismatch")
    rps = tags.get(278, [height])[0] or height
    stride = width * spp
    out = bytearray()
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(payload):
            raise ValueError("truncated TIFF strip data")
        rows = min(rps, height - i * rps)
        if rows <= 0:
            raise ValueError("TIFF has more strips than rows")
        expected = rows * stride
        raw = payload[off : off + cnt]
        if comp == 32773:
            out += _packbits_decode(raw, expected)
        elif comp == 5:
            out += _tiff_lzw_decode(raw, expected)
        elif comp == 8:
            try:
                inflated = zlib.decompress(raw)
            except zlib.error as e:
                raise ValueError(f"corrupt TIFF deflate strip: {e}") from e
            if len(inflated) < expected:
                raise ValueError("TIFF deflate strip shorter than its rows")
            out += inflated[:expected]
        else:
            if cnt < expected:
                raise ValueError("TIFF strip shorter than its rows")
            out += raw[:expected]
    if len(out) != height * stride:
        raise ValueError("TIFF pixel data does not cover the image")
    if predictor == 2:
        _predictor2_decode(out, stride, spp)
    if photo == 0:  # WhiteIsZero -> invert to BlackIsZero
        out = bytearray(255 - b for b in out)
    mode = "L" if spp == 1 else "RGB"
    return {"width": width, "height": height, "mode": mode, "pixels": bytes(out)}


# ---------------------------------------------------------------------------
# AVI (RIFF) video container — uncompressed 24-bit DIB frames
#
# The reference treats video as an opaque upload it cannot process; this
# repo's multimodal contract (SURVEY.md §2.13) carries video as a binary
# column and decodes it executor-side. Uncompressed RIFF/AVI is the video
# analogue of WAV-in-RIFF and BMP-in-DIB: pure-stdlib byte framing, no
# entropy coding — so frame EXTRACTION (the operation a training-data
# pipeline needs: sample frames, hash them, feature them) decodes for
# real. Lossy codecs (VP8/H.264 essence inside AVI/MP4) remain the one
# declared external-library boundary.
# ---------------------------------------------------------------------------


def encode_avi_raw(
    width: int, height: int, frames_rgb: list, fps: int = 10
) -> bytes:
    """Build a minimal standard AVI: 'hdrl' (avih + one 'vids' stream with
    a 24-bit BITMAPINFOHEADER, biCompression=0) + 'movi' with one '00db'
    uncompressed DIB chunk per frame (bottom-up BGR rows padded to 4
    bytes). Test/synthesis helper — the roundtrip oracle for decode_avi."""
    import struct

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    row_bytes = width * 3
    pad = (-row_bytes) % 4
    dibs = []
    for rgb in frames_rgb:
        if len(rgb) != width * height * 3:
            raise ValueError("frame pixel buffer does not match dimensions")
        rows = []
        for y in range(height - 1, -1, -1):  # bottom-up
            row = bytearray()
            for x in range(width):
                r, g, b = rgb[(y * width + x) * 3 : (y * width + x) * 3 + 3]
                row += bytes((b, g, r))  # BGR
            rows.append(bytes(row) + b"\x00" * pad)
        dibs.append(b"".join(rows))
    frame_sz = (row_bytes + pad) * height
    n = len(frames_rgb)
    avih = struct.pack(
        "<10I4I",
        1_000_000 // fps, frame_sz * fps, 0, 0x10,  # us/frame, rate, pad, HASINDEX-less flags
        n, 0, 1, frame_sz, width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sI2H8I4h",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps, 0, n, frame_sz, 0xFFFFFFFF, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_sz, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", d) for d in dibs))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def decode_avi(payload: bytes) -> dict:
    """Decode an uncompressed-DIB AVI: walk the RIFF tree (hdrl for
    dimensions + the stream's BITMAPINFOHEADER, movi for '00db'/'00dc'
    frame chunks), convert each bottom-up padded BGR frame to top-down
    RGB. Returns {width, height, n_frames, us_per_frame, frames:
    [rgb_bytes, ...]}. Compressed essence (biCompression != 0) raises
    NotImplementedError — the declared external-codec boundary."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/'AVI ' header missing)")

    def walk(data: int, end: int):
        pos = data
        while pos + 8 <= end:
            fourcc = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body_start = pos + 8
            body_end = min(body_start + size, end)
            yield fourcc, body_start, body_end
            pos = body_start + size + (size % 2)

    width = height = None
    bitcount = compression = None
    us_per_frame = 0
    frames: list[bytes] = []

    def scan(start: int, end: int) -> None:
        nonlocal width, height, bitcount, compression, us_per_frame
        for fourcc, b0, b1 in walk(start, end):
            if fourcc == b"LIST":
                kind = payload[b0 : b0 + 4]
                if kind in (b"hdrl", b"strl", b"movi", b"rec "):
                    scan(b0 + 4, b1)
            elif fourcc == b"avih" and b1 - b0 >= 40:
                us_per_frame, = struct.unpack_from("<I", payload, b0)
                width, height = struct.unpack_from("<II", payload, b0 + 32)
            elif fourcc == b"strf" and b1 - b0 >= 20:
                _, bw, bh, _, bc, comp = struct.unpack_from(
                    "<IiiHHI", payload, b0
                )
                bitcount, compression = bc, comp
                if width is None:
                    width, height = bw, abs(bh)
            elif fourcc[2:] in (b"db", b"dc") and fourcc[:2].isdigit():
                frames.append(payload[b0:b1])

    scan(12, len(payload))
    if width is None or height is None or not frames:
        raise ValueError("AVI missing header or frame chunks")
    if compression not in (0, None) or (bitcount not in (24, None)):
        raise NotImplementedError(
            "only uncompressed 24-bit DIB AVI decodes without an external "
            "codec (VP8/H.264 essence needs cv2/ffmpeg)"
        )
    row_bytes = width * 3
    stride = row_bytes + ((-row_bytes) % 4)
    out_frames = []
    for dib in frames:
        if len(dib) < stride * height:
            raise ValueError("truncated AVI frame chunk")
        rgb = bytearray()
        for y in range(height - 1, -1, -1):  # bottom-up -> top-down
            row = dib[y * stride : y * stride + row_bytes]
            for x in range(width):
                b, g, r = row[x * 3 : x * 3 + 3]
                rgb += bytes((r, g, b))
        out_frames.append(bytes(rgb))
    return {
        "width": int(width),
        "height": int(height),
        "n_frames": len(out_frames),
        "us_per_frame": int(us_per_frame),
        "frames": out_frames,
    }


# ---------------------------------------------------------------------------
# EXIF (TIFF-structured APP1 inside JPEG) — pure stdlib
# ---------------------------------------------------------------------------
# The reference whitelist accepts .jpg/.jpeg (app/utils/validation.py:10);
# camera metadata lives in the APP1 "Exif\0\0" segment as a little TIFF
# file (IFD0 + optional Exif sub-IFD). Same encode->parse roundtrip-oracle
# pattern as encode_tiff/decode_tiff.

_EXIF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def encode_jpeg_exif(
    fields: dict,
    *,
    big_endian: bool = False,
) -> bytes:
    """Minimal JPEG container (SOI + APP1 Exif + EOI) carrying IFD0 tags
    Make/Model/Orientation/DateTime/XResolution and an Exif sub-IFD with
    ExposureTime. ``fields`` keys: make, model (str), orientation (int),
    datetime (str 'YYYY:MM:DD HH:MM:SS'), x_resolution ((num, den)),
    exposure ((num, den))."""
    e = ">" if big_endian else "<"

    def build_ifd(entries, ifd_off):
        # entries: list of (tag, typ, values); values ints or bytes
        out_of_line = bytearray()
        packed = struct.pack(e + "H", len(entries))
        data_base = ifd_off + 2 + 12 * len(entries) + 4
        for tag, typ, vals in entries:
            if typ == 2:  # ASCII, NUL-terminated
                raw = vals + b"\x00"
                count = len(raw)
            elif typ == 5:  # RATIONAL pairs
                raw = b"".join(
                    struct.pack(e + "II", n, d) for (n, d) in vals
                )
                count = len(vals)
            else:
                fmt = {3: "H", 4: "I"}[typ]
                raw = struct.pack(e + fmt * len(vals), *vals)
                count = len(vals)
            if len(raw) <= 4:
                field = raw + b"\x00" * (4 - len(raw))
            else:
                field = struct.pack(e + "I", data_base + len(out_of_line))
                out_of_line += raw
            packed += struct.pack(e + "HHI", tag, typ, count) + field
        packed += struct.pack(e + "I", 0)  # next-IFD pointer
        return packed + bytes(out_of_line)

    # layout: header(8) | IFD0 | exif sub-IFD. IFD0 size is fixed by its
    # entry count, so the sub-IFD offset is computable up front.
    ifd0_entries = [
        (0x010F, 2, fields["make"].encode("ascii")),
        (0x0110, 2, fields["model"].encode("ascii")),
        (0x0112, 3, [int(fields["orientation"])]),
        (0x011A, 5, [tuple(fields["x_resolution"])]),
        (0x0132, 2, fields["datetime"].encode("ascii")),
    ]
    probe = build_ifd(ifd0_entries + [(0x8769, 4, [0])], 8)
    exif_off = 8 + len(probe)
    ifd0 = build_ifd(ifd0_entries + [(0x8769, 4, [exif_off])], 8)
    sub = build_ifd([(0x829A, 5, [tuple(fields["exposure"])])], exif_off)
    tiff = (
        struct.pack(e + "2sHI", b"MM" if big_endian else b"II", 42, 8)
        + ifd0
        + sub
    )
    app1 = b"Exif\x00\x00" + tiff
    return (
        b"\xff\xd8"
        + b"\xff\xe1"
        + struct.pack(">H", len(app1) + 2)
        + app1
        + b"\xff\xd9"
    )


def parse_exif(payload: bytes) -> dict:
    """Walk JPEG segment markers to the APP1 Exif block and parse IFD0 +
    the Exif sub-IFD: {make, model, orientation, datetime,
    x_resolution_micro, exposure_micro}. Rationals are emitted as
    floor(num * 1e6 / den) bigints (integer arithmetic — portable).
    Hardening contract mirrors decode_tiff: truncated segments, bad
    offsets and missing APP1 raise ValueError before any large read."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos, tiff = 2, None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        seg = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            tiff = seg[6:]
            break
        if marker == 0xDA:  # SOS — no APP1 before scan data
            break
        pos += 2 + seg_len
    if tiff is None:
        raise ValueError("no Exif APP1 segment")
    if tiff[:4] == b"II*\x00":
        e = "<"
    elif tiff[:4] == b"MM\x00*":
        e = ">"
    else:
        raise ValueError("bad Exif TIFF header")

    def read_ifd(off: int) -> dict:
        if off + 2 > len(tiff):
            raise ValueError("truncated Exif IFD")
        (n,) = struct.unpack(e + "H", tiff[off : off + 2])
        if off + 2 + 12 * n > len(tiff):
            raise ValueError("truncated Exif IFD entries")
        tags = {}
        for i in range(n):
            base = off + 2 + 12 * i
            tag, typ, count = struct.unpack(e + "HHI", tiff[base : base + 8])
            size = _EXIF_TYPE_SIZE.get(typ)
            if size is None:
                continue  # skip unknown field types, keep the rest
            total = size * count
            raw = tiff[base + 8 : base + 12]
            if total > 4:
                (voff,) = struct.unpack(e + "I", raw)
                if voff + total > len(tiff):
                    raise ValueError("Exif value offset out of bounds")
                raw = tiff[voff : voff + total]
            if typ == 2:
                tags[tag] = raw[:total].split(b"\x00")[0].decode(
                    "ascii", "replace"
                )
            elif typ == 5:
                tags[tag] = [
                    struct.unpack(e + "II", raw[8 * j : 8 * j + 8])
                    for j in range(count)
                ]
            else:
                fmt = {1: "B", 3: "H", 4: "I"}[typ]
                tags[tag] = list(
                    struct.unpack(e + fmt * count, raw[:total])
                )
        return tags

    (ifd0_off,) = struct.unpack(e + "I", tiff[4:8])
    ifd0 = read_ifd(ifd0_off)
    sub = read_ifd(ifd0[0x8769][0]) if 0x8769 in ifd0 else {}

    def rat_micro(tags, tag):
        if tag not in tags or not tags[tag]:
            return None
        num, den = tags[tag][0]
        if den == 0:
            return None
        return num * 1000000 // den

    return {
        "make": ifd0.get(0x010F),
        "model": ifd0.get(0x0110),
        "orientation": ifd0.get(0x0112, [None])[0],
        "datetime": ifd0.get(0x0132),
        "x_resolution_micro": rat_micro(ifd0, 0x011A),
        "exposure_micro": rat_micro(sub, 0x829A),
    }


# ---------------------------------------------------------------------------
# ICO (favicon container — round 4, session 18)
#
# Favicons are the one image a crawler fetches for EVERY host, so the
# corpus accumulates them at host cardinality; the container is a tiny
# directory over PNG members (modern) or headerless BMP DIBs with a
# doubled-height AND mask (legacy). Pure struct work.
# ---------------------------------------------------------------------------


def encode_ico(members: list) -> bytes:
    """Build an ICO from member tuples ``(width, height, payload)`` where
    payload is a complete PNG, or ``(width, height, rgba)`` raw pixels to
    embed as a 32-bit BGRA DIB (chosen when the payload is not PNG-
    magic). For roundtrip tests."""
    entries = bytearray()
    blobs = []
    off = 6 + 16 * len(members)
    for w, h, payload in members:
        if payload[:8] != _PNG_SIG:  # embed as 32-bit BGRA DIB
            rgba = payload
            if len(rgba) != w * h * 4:
                raise ValueError("raw member must be RGBA pixels")
            dib = bytearray(
                struct.pack(
                    "<IiiHHIIiiII", 40, w, h * 2, 1, 32, 0, 0, 0, 0, 0, 0
                )
            )
            for y in range(h - 1, -1, -1):  # bottom-up BGRA
                for x in range(w):
                    r, g, b, a = rgba[(y * w + x) * 4 : (y * w + x) * 4 + 4]
                    dib += bytes((b, g, r, a))
            and_stride = ((w + 31) // 32) * 4
            dib += b"\x00" * (and_stride * h)  # AND mask: all visible
            payload = bytes(dib)
        entries += struct.pack(
            "<BBBBHHII",
            w if w < 256 else 0,
            h if h < 256 else 0,
            0, 0, 1, 32, len(payload), off,
        )
        blobs.append(payload)
        off += len(payload)
    return (
        struct.pack("<HHH", 0, 1, len(members))
        + bytes(entries)
        + b"".join(blobs)
    )


def decode_ico(payload: bytes) -> dict:
    """Decode an ICO favicon container: pick the LARGEST-area member
    (the harvest wants the best asset), decode it — PNG members through
    decode_png, legacy members as headerless 32-bit BGRA DIBs (doubled
    height, bottom-up, AND mask ignored in favor of the alpha channel) —
    and return {width, height, mode, pixels, n_members}. Same hardening
    contract as the other decoders: truncated directories/members and
    unsupported DIB depths raise before large allocation."""
    if payload[:4] != b"\x00\x00\x01\x00" or len(payload) < 6:
        raise ValueError("not an ICO")
    (count,) = struct.unpack("<H", payload[4:6])
    if count == 0 or 6 + 16 * count > len(payload):
        raise ValueError("truncated ICO directory")
    best = None
    for i in range(count):
        base = 6 + 16 * i
        bw, bh, _, _, _, _, size, off = struct.unpack(
            "<BBBBHHII", payload[base : base + 16]
        )
        w = bw or 256
        h = bh or 256
        if off + size > len(payload):
            raise ValueError("ICO member out of bounds")
        if best is None or w * h > best[0] * best[1]:
            best = (w, h, off, size)
    w, h, off, size = best
    member = payload[off : off + size]
    if member[:8] == _PNG_SIG:
        dec = decode_png(member)
        dec["n_members"] = count
        return dec
    if len(member) < 40:
        raise ValueError("truncated ICO DIB header")
    (
        hdr_sz, dw, dh, planes, bpp, comp, _img_sz, _xp, _yp, _cu, _ci
    ) = struct.unpack("<IiiHHIIiiII", member[:40])
    if hdr_sz != 40 or comp != 0:
        raise NotImplementedError("only BITMAPINFOHEADER DIB ICO members")
    if bpp != 32:
        raise NotImplementedError(
            "only 32-bit BGRA or PNG ICO members supported"
        )
    if dw != w or dh != 2 * h:
        raise ValueError("ICO DIB dimensions disagree with the directory")
    if w * h > MAX_IMAGE_PIXELS:
        raise ValueError("ICO dimensions exceed MAX_IMAGE_PIXELS")
    need = 40 + w * h * 4
    if len(member) < need:
        raise ValueError("truncated ICO DIB pixel data")
    out = bytearray(w * h * 4)
    pos = 40
    for y in range(h - 1, -1, -1):  # stored bottom-up
        for x in range(w):
            b, g, r, a = member[pos : pos + 4]
            d = (y * w + x) * 4
            out[d : d + 4] = bytes((r, g, b, a))
            pos += 4
    return {
        "width": w, "height": h, "mode": "RGBA",
        "pixels": bytes(out), "n_members": count,
    }
