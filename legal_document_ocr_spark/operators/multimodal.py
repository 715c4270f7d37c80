"""Multimodal column plumbing — opaque binary payloads with typed metadata.

The Spark-side contract for image/audio/video columns in a training-data
pipeline: payloads travel as ``binary`` columns with a typed metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages. Since round 2 the decode is REAL for the formats
stdlib can handle (codecs.py: PNG with all five scanline filters, 24-bit
BMP, PCM WAV); PIL/cv2/ffmpeg remain absent, so:

- ``image_decode`` / ``audio_decode`` — genuine decoders inside
  mapInPandas, roundtrip-verified against closed-form oracles;
- ``_media_features`` — format-agnostic plumbing: batch iteration, schema,
  hash/length features computable from bytes alone, plus a deterministic
  fake decode (dimensions derived from the content hash) so the stage works
  on payloads of ANY format, decodable or not;
- ``decode_image`` — raises ``NotImplementedError`` only for library-bound
  formats (lossy-VP8 WebP, video essence); baseline JPEG (jpeg.py) and GIF
  (LZW) are real since round 3, TIFF and lossless WebP (vp8l.py) since
  round 4;
- ``audio_features`` — integer-exact energy/peak/zero-crossing gauges over
  decoded PCM (round 4).

This mirrors how the reference isolates its media deps (pdf2image/PIL inside
image_preprocessing_service.py:57-122, subprocess tesseract inside
ocr_process_service.py:85-86): the pipeline shape is independent of the codec.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..scale.salt import ensure_parallelism
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("fake_width", IntegerType()),
        StructField("fake_height", IntegerType()),
    ]
)


def decode_image(payload: bytes) -> dict:
    """REAL image decode for PNG, BMP (codecs.py: zlib/struct, all five PNG
    scanline filters, 24-bit BMP), baseline JPEG (jpeg.py), GIF
    (codecs.decode_gif: LZW + interlace + palette), TIFF
    (codecs.decode_tiff: uncompressed/PackBits strips, both byte orders —
    round 4, closing the reference whitelist's last image format) and
    lossless WebP (vp8l.py: canonical prefix codes, LZ77 + color cache,
    all four inverse transforms — also round 4). Formats that genuinely
    need an external library (lossy-VP8 WebP, video essence) raise
    NotImplementedError naming the format.
    """
    from ..codecs import decode_image as _decode

    return _decode(payload)


IMAGE_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
        StructField("px_sum", LongType()),
        StructField("error", StringType()),
    ]
)


def _decode_error_label(e: Exception) -> str:
    """Stable per-record error flag: exception class + first line of message.

    One malformed payload in a crawl-scale batch must flag its OWN row, not
    fail the whole Spark task (a single bad record would otherwise kill the
    job after 4 task retries) — the mapInPandas analogue of the reference
    letting callers skip bad records around its PIL decode."""
    msg = str(e).splitlines()[0] if str(e) else ""
    return f"{type(e).__name__}: {msg}"[:200]


def _image_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..codecs import decode_image as _decode

    for pdf in batches:
        out = {
            "doc_id": [],
            "width": [],
            "height": [],
            "mode": [],
            "px_sum": [],
            "error": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            if payload is None:
                continue
            try:
                img = _decode(bytes(payload))
            except Exception as e:  # noqa: BLE001 — per-record isolation
                out["doc_id"].append(doc_id)
                out["width"].append(None)
                out["height"].append(None)
                out["mode"].append(None)
                out["px_sum"].append(None)
                out["error"].append(_decode_error_label(e))
                continue
            out["doc_id"].append(doc_id)
            out["width"].append(img["width"])
            out["height"].append(img["height"])
            out["mode"].append(img["mode"])
            out["px_sum"].append(sum(img["pixels"]))
            out["error"].append(None)
        yield pd.DataFrame(out)


AUDIO_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("sample_sum", LongType()),
        StructField("error", StringType()),
    ]
)


def _audio_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import struct as _struct

    from ..codecs import decode_wav

    for pdf in batches:
        out = {
            "doc_id": [],
            "channels": [],
            "sample_rate": [],
            "n_frames": [],
            "sample_sum": [],
            "error": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            if payload is None:
                continue
            try:
                wav = decode_wav(bytes(payload))
                if wav["sample_width"] != 2:
                    raise NotImplementedError(
                        f"only 16-bit PCM supported (got sample_width="
                        f"{wav['sample_width']})"
                    )
                n = len(wav["pcm"]) // 2
                samples = _struct.unpack(f"<{n}h", wav["pcm"])
            except Exception as e:  # noqa: BLE001 — per-record isolation
                out["doc_id"].append(doc_id)
                out["channels"].append(None)
                out["sample_rate"].append(None)
                out["n_frames"].append(None)
                out["sample_sum"].append(None)
                out["error"].append(_decode_error_label(e))
                continue
            out["doc_id"].append(doc_id)
            out["channels"].append(wav["channels"])
            out["sample_rate"].append(wav["sample_rate"])
            out["n_frames"].append(wav["n_frames"])
            out["sample_sum"].append(sum(samples))
            out["error"].append(None)
        yield pd.DataFrame(out)


def audio_decode(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Real PCM WAV decode stage (mapInPandas): header fields + the exact
    16-bit sample sum — the audio analogue of image_decode."""
    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(_audio_decode, AUDIO_DECODE_SCHEMA)


def image_decode(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Real decode stage over an image binary column (mapInPandas): emits
    decoded (width, height, mode) and the pixel-sum — the per-image Python
    cost of an actual codec, batch shape identical to media_features."""
    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(_image_decode, IMAGE_DECODE_SCHEMA)


def _fake_dims(content_hash: str) -> tuple[int, int]:
    """Deterministic stand-in for decoded dimensions: hash-derived.

    width  = int(md5 hex[0:4], 16) % 1000
    height = int(md5 hex[4:8], 16) % 1000
    — expressible in SQL on both engines, so the stage is oracle-checked.
    """
    return int(content_hash[0:4], 16) % 1000, int(content_hash[4:8], 16) % 1000


def _media_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        hashes = [
            hashlib.md5(bytes(p)).hexdigest() if p is not None else ""
            for p in pdf["payload"]
        ]
        dims = [_fake_dims(h) if h else (0, 0) for h in hashes]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(bytes(p)) if p is not None else 0 for p in pdf["payload"]],
                "content_hash": hashes,
                "fake_width": [d[0] for d in dims],
                "fake_height": [d[1] for d in dims],
            }
        )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", LongType()),
        StructField("frame_hash", StringType()),
    ]
)


def _frame_sample(n_frames: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_hash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                b = bytes(payload)
                # fixed-count frame sampling: frame i = contiguous byte slice
                # [start_i, start_i+len_i); a video decoder would replace the
                # slicing with timestamped frame extraction — the fan-out
                # shape, schema and batch handling stay identical
                base, rem = divmod(len(b), n_frames)
                start = 0
                for i in range(n_frames):
                    ln = base + (1 if i < rem else 0)
                    chunk = b[start : start + ln]
                    start += ln
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(len(chunk))
                    out["frame_hash"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return fn


def frame_sample(
    df: DataFrame, n_frames: int = 4, payload_col: str = "payload"
) -> DataFrame:
    """1 -> N multimodal fan-out: sample ``n_frames`` frames per payload
    (mapInPandas; the reference's PDF->page-images explode, SURVEY.md S3,
    re-expressed for opaque media bytes)."""
    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(_frame_sample(n_frames), FRAME_SCHEMA)


def media_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Feature-extract stage over a binary media column via mapInPandas.

    Input needs (doc_id, ``payload_col``); Arrow batch size is bounded by the
    session's maxRecordsPerBatch (set for multi-MB payloads in session.py).
    """
    selected = ensure_parallelism(df).selectExpr(f"doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(_media_features, MEDIA_FEATURE_SCHEMA)


IMAGE_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
        StructField("px_sum", LongType()),
        StructField("error", StringType()),
    ]
)

_MODE_CHANNELS = {"L": 1, "RGB": 3, "RGBA": 4}


def resize_nearest(img: dict, target_w: int, target_h: int) -> dict:
    """Nearest-neighbor resize of a decoded image dict (any mode).

    src pixel for output (x, y) is (x*w // target_w, y*h // target_h) —
    integer floor mapping, exactly SQL-expressible so resize stages stay
    oracle-checkable (the convention PIL calls NEAREST up to rounding).
    """
    w, h = img["width"], img["height"]
    ch = _MODE_CHANNELS[img["mode"]]
    src = img["pixels"]
    out = bytearray(target_w * target_h * ch)
    for y in range(target_h):
        sy = y * h // target_h
        for x in range(target_w):
            sx = x * w // target_w
            o = (y * target_w + x) * ch
            s = (sy * w + sx) * ch
            out[o : o + ch] = src[s : s + ch]
    return {
        "width": target_w,
        "height": target_h,
        "mode": img["mode"],
        "pixels": bytes(out),
    }


def image_resize(
    df: DataFrame,
    target_w: int,
    target_h: int,
    payload_col: str = "payload",
) -> DataFrame:
    """Decode + nearest-neighbor resize stage (mapInPandas): emits resized
    dims + pixel sum with the same per-record error isolation as
    image_decode — the thumbnail/normalize step of a multimodal training
    pipeline (every vision encoder wants fixed input dims)."""
    from ..codecs import decode_image as _decode

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [],
                "width": [],
                "height": [],
                "mode": [],
                "px_sum": [],
                "error": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    img = resize_nearest(
                        _decode(bytes(payload)), target_w, target_h
                    )
                except Exception as e:  # noqa: BLE001 — per-record isolation
                    out["doc_id"].append(doc_id)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["mode"].append(None)
                    out["px_sum"].append(None)
                    out["error"].append(_decode_error_label(e))
                    continue
                out["doc_id"].append(doc_id)
                out["width"].append(img["width"])
                out["height"].append(img["height"])
                out["mode"].append(img["mode"])
                out["px_sum"].append(sum(img["pixels"]))
                out["error"].append(None)
            yield pd.DataFrame(out)

    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(kernel, IMAGE_RESIZE_SCHEMA)


PDF_EXTRACT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_runs", IntegerType()),
        StructField("n_blocks", IntegerType()),
        StructField("extracted_text", StringType()),
        StructField("error", StringType()),
    ]
)


def pdf_extract(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """PDF text-layer extraction with layout-block segmentation (pdf.py):
    content-stream text runs reading-order sorted (top-down, left-right),
    vertically-adjacent lines merged into blocks — the north rule's "PDF
    layout-block segmentation" clause, Spark-first. Reference analogue:
    pdf2image rasterization + region segmentation
    (image_preprocessing_service.py:57-122,
    region_segmentation_service.py:20-31); here the text layer is parsed
    directly, no rasterization.

    One Arrow-batched mapInPandas, per-record error isolation (a malformed
    PDF flags its own row), no shuffle — the per-record cost is bounded by
    document size, so the stage scales linearly with the corpus exactly
    like image_decode."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..pdf import extract_pdf_text

        for pdf in batches:
            out = {
                "doc_id": [],
                "n_runs": [],
                "n_blocks": [],
                "extracted_text": [],
                "error": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    r = extract_pdf_text(bytes(payload))
                except Exception as e:  # noqa: BLE001 — per-record isolation
                    out["doc_id"].append(doc_id)
                    out["n_runs"].append(None)
                    out["n_blocks"].append(None)
                    out["extracted_text"].append(None)
                    out["error"].append(_decode_error_label(e))
                    continue
                out["doc_id"].append(doc_id)
                out["n_runs"].append(r["n_runs"])
                out["n_blocks"].append(r["n_blocks"])
                out["extracted_text"].append(r["text"])
                out["error"].append(None)
            yield pd.DataFrame(out)

    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(kernel, PDF_EXTRACT_SCHEMA)


AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ahash_hex", StringType()),
        StructField("error", StringType()),
    ]
)


def ahash64(img: dict) -> str:
    """64-bit average hash of a decoded image as 16 lowercase hex chars:
    nearest-resize to 8x8 (luma for RGB), bit i (row-major pixel i, MSB
    first) = 1 iff 64*p_i > sum(p) — strictly-greater against the mean
    keeps the comparison integer-exact, no float mean."""
    if (img["width"], img["height"]) != (8, 8):
        img = resize_nearest(img, 8, 8)
    px = img["pixels"]
    if img["mode"] in ("RGB", "RGBA"):
        step = len(px) // 64
        # integer luma (ITU-R 601-ish): (299R + 587G + 114B) / 1000
        px = [
            (299 * px[i * step] + 587 * px[i * step + 1] + 114 * px[i * step + 2])
            // 1000
            for i in range(64)
        ]
    total = sum(px)
    h = 0
    for i, p in enumerate(px):
        if 64 * p > total:
            h |= 1 << (63 - i)
    return f"{h:016x}"


def image_ahash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Perceptual hash per image — the image-side analogue of SimHash:
    byte-identical AND visually-near-identical images (recompression,
    resize) collapse to nearby hashes. Decode + hash in one Arrow batch,
    per-record error isolation, no shuffle; output is 24 bytes/row, so
    the corpus-sized image payloads never move past this stage."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codecs import decode_image as _decode

        for pdf in batches:
            out = {"doc_id": [], "ahash_hex": [], "error": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    hx = ahash64(_decode(bytes(payload)))
                except Exception as e:  # noqa: BLE001 — per-record isolation
                    out["doc_id"].append(doc_id)
                    out["ahash_hex"].append(None)
                    out["error"].append(_decode_error_label(e))
                    continue
                out["doc_id"].append(doc_id)
                out["ahash_hex"].append(hx)
                out["error"].append(None)
            yield pd.DataFrame(out)

    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(kernel, AHASH_SCHEMA)


def image_near_pairs(sigs: DataFrame, *, max_hamming: int = 3) -> DataFrame:
    """Image near-dup pairs by hamming distance on the 64-bit aHash —
    same pigeonhole as simhash_near_pairs: split into max_hamming+1 hex
    chunks; a pair within distance k must agree exactly on >=1 chunk, so
    the candidate join is equi-join per chunk (complete, no recall loss).
    Hamming verified via bit_count(xor) over JVM-side chunk ints; both
    self-join sides are corpus-sized computed frames, so shuffle_hash is
    pinned (broadcast hygiene, see PLANS.md)."""
    chunks = max_hamming + 1
    width_hex = 16 // chunks  # 4 hex chars = 16 bits per chunk at k=3
    chunk_cols = [
        F.conv(F.substring("ahash_hex", c * width_hex + 1, width_hex), 16, 10)
        .cast("long")
        .alias(f"chunk_{c}")
        for c in range(chunks)
    ]
    keyed = (
        sigs.where(F.col("error").isNull())
        .select("doc_id", *chunk_cols)
        .repartition("doc_id")
        .persist()
    )
    hamming = None
    for c in range(chunks):
        d = F.bit_count(
            F.col(f"l.chunk_{c}").bitwiseXOR(F.col(f"r.chunk_{c}"))
        )
        hamming = d if hamming is None else hamming + d
    pairs = None
    for c in range(chunks):
        l, r = keyed.alias("l"), keyed.alias("r").hint("shuffle_hash")
        p = l.join(
            r,
            (F.col(f"l.chunk_{c}") == F.col(f"r.chunk_{c}"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        ).select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.where(F.col("hamming") <= max_hamming).distinct()


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("energy", LongType()),
        StructField("peak", IntegerType()),
        StructField("zero_crossings", LongType()),
        StructField("error", StringType()),
    ]
)


def _audio_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import struct as _struct

    from ..codecs import decode_wav

    for pdf in batches:
        out = {
            "doc_id": [],
            "n_samples": [],
            "energy": [],
            "peak": [],
            "zero_crossings": [],
            "error": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            if payload is None:
                continue
            out["doc_id"].append(doc_id)
            try:
                wav = decode_wav(bytes(payload))
                if wav["sample_width"] != 2:
                    raise ValueError("audio_features expects 16-bit PCM")
                n = len(wav["pcm"]) // 2
                samples = _struct.unpack(f"<{n}h", wav["pcm"][: n * 2])
            except Exception as e:  # noqa: BLE001 — per-record isolation
                out["n_samples"].append(None)
                out["energy"].append(None)
                out["peak"].append(None)
                out["zero_crossings"].append(None)
                out["error"].append(_decode_error_label(e))
                continue
            zc = sum(
                1
                for i in range(1, n)
                if (samples[i] < 0) != (samples[i - 1] < 0)
            )
            out["n_samples"].append(n)
            out["energy"].append(sum(s * s for s in samples))
            out["peak"].append(max((abs(s) for s in samples), default=0))
            out["zero_crossings"].append(zc)
            out["error"].append(None)
        yield pd.DataFrame(out)


def audio_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Audio feature extraction over a PCM WAV binary column (mapInPandas):
    integer-exact RMS energy (sum of squares), peak amplitude and
    zero-crossing count — the cheap quality/speech-activity gauges an
    audio-corpus curation pass runs before any model-based scoring (the
    audio analogue of quality_scores; all-integer so both engines agree
    exactly). Same batch shape and per-record error isolation as
    audio_decode."""
    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(_audio_features, AUDIO_FEATURES_SCHEMA)


AUDIO_FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_id", LongType()),
        StructField("energy", LongType()),
    ]
)


def _audio_frames(frame_len: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct

        from ..codecs import decode_wav

        for pdf in batches:
            out = {"doc_id": [], "frame_id": [], "energy": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    wav = decode_wav(bytes(payload))
                    if wav["sample_width"] != 2:
                        continue
                    n = len(wav["pcm"]) // 2
                    samples = _struct.unpack(f"<{n}h", wav["pcm"][: n * 2])
                except Exception:  # noqa: BLE001 — per-record isolation
                    continue
                for f in range((n + frame_len - 1) // frame_len):
                    chunk = samples[f * frame_len : (f + 1) * frame_len]
                    out["doc_id"].append(doc_id)
                    out["frame_id"].append(f)
                    out["energy"].append(sum(s * s for s in chunk))
            yield pd.DataFrame(out)

    return gen


def audio_segments(
    df: DataFrame,
    payload_col: str = "payload",
    *,
    frame_len: int = 64,
    threshold: int = 1 << 22,
) -> DataFrame:
    """Energy-threshold voice-activity segmentation (the classic
    pre-neural VAD): frame the PCM into ``frame_len``-sample windows,
    mark frames whose integer energy (sum of squares) clears
    ``threshold`` as active, and merge consecutive active frames into
    segments with the gaps-and-islands trick (frame_id minus active-rank
    is constant within a run). The speech-segmentation primitive an
    audio-corpus pipeline runs to cut long recordings into trainable
    clips and to drop silence.

    Scale shape: the Python stage emits only (doc_id, frame_id, energy)
    scalars — payload bytes never cross an exchange; the islands window
    partitions by doc_id (bounded: frames-per-recording, never
    corpus-wide); the final per-segment rollup is a map-side-combinable
    groupBy on (doc_id, island). All-integer, so engines agree exactly.

    Output: (doc_id, seg_id, start_frame, n_frames, energy_sum).
    """
    frames = ensure_parallelism(df).selectExpr(
        "doc_id", f"{payload_col} as payload"
    ).mapInPandas(
        _audio_frames(frame_len), AUDIO_FRAMES_SCHEMA
    )
    active = frames.where(F.col("energy") >= threshold)
    w = Window.partitionBy("doc_id").orderBy("frame_id")
    islands = active.withColumn(
        "island", F.col("frame_id") - F.row_number().over(w)
    )
    seg_w = Window.partitionBy("doc_id").orderBy("start_frame")
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("frame_id").alias("start_frame"),
            F.count("*").cast("long").alias("n_frames"),
            F.sum("energy").cast("long").alias("energy_sum"),
        )
        .select(
            "doc_id",
            (F.row_number().over(seg_w) - 1).cast("long").alias("seg_id"),
            "start_frame",
            "n_frames",
            "energy_sum",
        )
    )


VIDEO_FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("px_sum", LongType()),
        StructField("error", StringType()),
    ]
)


def _video_frames(frame_step: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codecs import decode_avi

        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [], "width": [],
                "height": [], "px_sum": [], "error": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    vid = decode_avi(bytes(payload))
                except Exception as exc:  # noqa: BLE001 — per-record isolation
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(-1)
                    out["width"].append(0)
                    out["height"].append(0)
                    out["px_sum"].append(0)
                    out["error"].append(f"{type(exc).__name__}: {exc}"[:200])
                    continue
                for i in range(0, vid["n_frames"], frame_step):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["width"].append(vid["width"])
                    out["height"].append(vid["height"])
                    out["px_sum"].append(sum(vid["frames"][i]))
                    out["error"].append(None)
            yield pd.DataFrame(out)

    return gen


def video_frames(
    df: DataFrame, frame_step: int = 2, payload_col: str = "payload"
) -> DataFrame:
    """REAL video frame sampling over an uncompressed-DIB AVI column
    (codecs.decode_avi): decode the RIFF container executor-side, keep
    every ``frame_step``-th frame, emit dims + the frame's RGB pixel sum
    — the 1->N timestamped-frame extraction that frame_sample's byte
    slicing stood in for. The reference rejects video uploads outright
    (/root/reference/app/utils/validation.py:10 whitelists images only);
    here video is a first-class binary column.

    Scale shape: one mapInPandas stage; payload bytes enter Python once
    and only scalar per-frame rows come out — no frame pixels ever cross
    an exchange. Malformed payloads emit an error row (per-record
    isolation), never a task failure. Compressed essence (VP8/H.264)
    lands on the declared NotImplementedError boundary and shows up in
    the error column."""
    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(_video_frames(frame_step), VIDEO_FRAMES_SCHEMA)


EXIF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("make", StringType()),
        StructField("model", StringType()),
        StructField("orientation", IntegerType()),
        StructField("taken_at", StringType()),
        StructField("x_resolution_micro", LongType()),
        StructField("exposure_micro", LongType()),
        StructField("error", StringType()),
    ]
)


def _exif_extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..codecs import parse_exif as _parse

    for pdf in batches:
        out = {k.name: [] for k in EXIF_SCHEMA.fields}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            if payload is None:
                continue
            out["doc_id"].append(doc_id)
            try:
                ex = _parse(bytes(payload))
            except Exception as e:  # noqa: BLE001 — per-record isolation
                for k in ("make", "model", "orientation", "taken_at",
                          "x_resolution_micro", "exposure_micro"):
                    out[k].append(None)
                out["error"].append(_decode_error_label(e))
                continue
            out["make"].append(ex["make"])
            out["model"].append(ex["model"])
            out["orientation"].append(ex["orientation"])
            out["taken_at"].append(ex["datetime"])
            out["x_resolution_micro"].append(ex["x_resolution_micro"])
            out["exposure_micro"].append(ex["exposure_micro"])
            out["error"].append(None)
        yield pd.DataFrame(out).astype(
            {"orientation": "Int32", "x_resolution_micro": "Int64",
             "exposure_micro": "Int64"}
        )


def exif_extract(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Camera-metadata extraction over a JPEG binary column (mapInPandas,
    Arrow-batched): walks the APP1 Exif TIFF (codecs.parse_exif — IFD0 +
    Exif sub-IFD, both byte orders) and emits typed metadata columns;
    rationals arrive as floor(num*1e6/den) bigints. Per-record error
    isolation: a malformed payload flags its own row, never the task —
    same contract as image_decode. Payload bytes never travel past this
    stage; downstream joins/filters run on the narrow typed columns."""
    selected = ensure_parallelism(df).selectExpr(
        "doc_id", f"{payload_col} as payload"
    )
    return selected.mapInPandas(_exif_extract, EXIF_SCHEMA)


# Magic-byte sniff table: (hex prefix of the payload's first bytes, mime).
# Order matters — longest/most-specific first. Pure JVM (hex + startswith):
# the sniff itself never leaves whole-stage codegen, and payload bytes are
# dropped immediately after the 8-byte prefix is hexed.
SNIFF_MAGIC: tuple[tuple[str, str], ...] = (
    ("89504E47", "image/png"),
    ("474946383761", "image/gif"),
    ("474946383961", "image/gif"),
    ("FFD8FF", "image/jpeg"),
    ("255044462D", "application/pdf"),
    ("52494646", "audio/wav"),  # RIFF container (WAV here)
    ("3C", "text/html"),  # '<' — markup-leading payload
)


def sniff_content_type(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Append a ``sniffed`` mime column derived from the payload's magic
    bytes — the server-declared Content-Type on real crawls is wrong
    often enough (mislabeled images, HTML error pages served as
    image/*) that every ingest pipeline re-sniffs before routing to a
    decoder. JVM-only: hex of the first 8 bytes + a startswith CASE
    ladder; no Python touches the payload."""
    prefix = F.hex(F.expr(f"substring({payload_col}, 1, 8)"))
    expr = F.lit("application/octet-stream")
    for magic, mime in reversed(SNIFF_MAGIC):
        expr = F.when(prefix.startswith(magic), F.lit(mime)).otherwise(expr)
    return df.withColumn("sniffed", expr)


def content_type_census(
    df: DataFrame,
    payload_col: str = "payload",
    declared_col: str = "declared",
) -> DataFrame:
    """Declared-vs-sniffed Content-Type census: group counts over
    (declared, sniffed) with a mismatch flag — the routing-table audit
    that sizes how much of a crawl is mislabeled (and would hit the
    wrong decoder if the declared header were trusted).

    Scale shape: payload bytes reduce to an 8-byte hex prefix inside
    the scan projection, then ONE map-side-combined groupBy over the
    bounded (mime × mime) pair domain — payloads never reach the
    exchange. Output: (declared, sniffed, n, mismatch) ordered."""
    sniffed = sniff_content_type(df, payload_col)
    return (
        sniffed.groupBy(
            F.col(declared_col).alias("declared"), F.col("sniffed")
        )
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "declared",
            "sniffed",
            "n",
            (F.col("declared") != F.col("sniffed"))
            .cast("long")
            .alias("mismatch"),
        )
        .orderBy("declared", "sniffed")
    )


# Deterministic typed-payload synthesis shared by the batch census query
# and its streaming face: magic-prefix || utf-8(text), with every third
# document's declared header rotated one family off.
SYNTH_CT_MIMES: tuple[str, ...] = (
    "image/png",
    "image/gif",
    "image/jpeg",
    "application/pdf",
    "text/html",
    "text/plain",
)
SYNTH_CT_MAGIC: tuple[str, ...] = (
    "89504E470D0A1A0A",
    "474946383961",
    "FFD8FFE0",
    "255044462D312E34",
    "3C68746D6C3E",
    "",
)


def synth_typed_payloads(docs: DataFrame) -> DataFrame:
    """(payload binary, declared string) rows derived deterministically
    from (doc_id, text) — the fixture generator for the content-type
    sniff census and its streaming face; pure codegen expressions, so
    it works identically on batch and streaming DataFrames."""
    fam = (F.col("doc_id") % 6).cast("int")
    magic = F.element_at(
        F.array(*[F.lit(m) for m in SYNTH_CT_MAGIC]), fam + 1
    )
    decl_idx = (
        fam + F.when(F.col("doc_id") % 3 == 0, F.lit(1)).otherwise(F.lit(0))
    ) % 6 + 1
    return docs.select(
        F.concat(F.unhex(magic), F.encode(F.col("text"), "UTF-8")).alias(
            "payload"
        ),
        F.element_at(
            F.array(*[F.lit(m) for m in SYNTH_CT_MIMES]), decl_idx
        ).alias("declared"),
    )


# ---------------------------------------------------------------------------
# DCT perceptual hash (round 4, session 18)
# ---------------------------------------------------------------------------

PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash_hex", StringType()),
        StructField("error", StringType()),
    ]
)


def phash63(img: dict) -> str:
    """63-bit DCT perceptual hash (pHash) as 16 lowercase hex chars:
    nearest-resample to 32x32 integer luma, 2-D DCT-II (float64 cosine
    matrix — deterministic for identical pixel input), keep the 8x8
    low-frequency corner, drop DC, bit i = coefficient i > median of the
    63 AC coefficients. Robust to recompression/resize like aHash but
    frequency-weighted, so global contrast tweaks and dithering flip far
    fewer bits; DC exclusion makes it (near-)invariant to uniform
    brightness shifts. Same decoded pixels ⇒ bit-identical hash
    regardless of container format (PNG/BMP/TIFF/...) — the property
    the `phash_groups` oracle pins."""
    import numpy as np

    w, h, mode, px = img["width"], img["height"], img["mode"], img["pixels"]
    ch = {"L": 1, "RGB": 3, "RGBA": 4}[mode]
    a = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch).astype(np.int64)
    if ch >= 3:
        g = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    else:
        g = a[:, :, 0]
    yi = (np.arange(32) * h) // 32
    xi = (np.arange(32) * w) // 32
    s = g[np.ix_(yi, xi)].astype(np.float64)
    k = np.arange(32, dtype=np.float64)
    cos_m = np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / 64.0)
    d = cos_m @ s @ cos_m.T
    ac = d[:8, :8].ravel()[1:]
    med = float(np.median(ac))
    bits = 0
    for i, v in enumerate(ac):
        if v > med:
            bits |= 1 << (62 - i)
    return f"{bits:016x}"


def image_phash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """DCT perceptual hash per image — image_ahash's frequency-domain
    sibling (same stage shape: decode + hash in one Arrow batch,
    per-record error isolation, 24 bytes/row out, payloads never move
    past this stage; image_near_pairs' chunked hamming join applies
    unchanged to phash_hex)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codecs import decode_image as _decode

        for pdf in batches:
            out = {"doc_id": [], "phash_hex": [], "error": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    hx = phash63(_decode(bytes(payload)))
                except Exception as e:  # noqa: BLE001 — per-record isolation
                    out["doc_id"].append(doc_id)
                    out["phash_hex"].append(None)
                    out["error"].append(_decode_error_label(e))
                    continue
                out["doc_id"].append(doc_id)
                out["phash_hex"].append(hx)
                out["error"].append(None)
            yield pd.DataFrame(out)

    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(kernel, PHASH_SCHEMA)


IMAGE_COLORS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mean_r", LongType()),
        StructField("mean_g", LongType()),
        StructField("mean_b", LongType()),
        StructField("dominant_bucket", LongType()),
        StructField("n_px", LongType()),
        StructField("error", StringType()),
    ]
)


def image_colors(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Color profile per image -> (doc_id, mean_r/g/b, dominant_bucket,
    n_px, error): the cheap visual feature a harvest wants before any
    model — mean color finds blank/placeholder assets (solid-color
    tracking pixels), the dominant 9-bit bucket (3 bits/channel,
    r<<6|g<<3|b) clusters thumbnails by palette family. Integer-exact
    (floored means, smallest-bucket tie-break) so the oracle can state
    it in closed form. Same stage shape as image_ahash: decode +
    profile in one Arrow batch, per-record error isolation, payloads
    never move past this stage."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..codecs import decode_image as _decode

        for pdf in batches:
            out = {
                "doc_id": [], "mean_r": [], "mean_g": [], "mean_b": [],
                "dominant_bucket": [], "n_px": [], "error": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                out["doc_id"].append(doc_id)
                try:
                    img = _decode(bytes(payload))
                    ch = {"L": 1, "RGB": 3, "RGBA": 4}[img["mode"]]
                    a = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(
                        -1, ch
                    ).astype(np.int64)
                    if ch == 1:
                        rgb = np.repeat(a, 3, axis=1)
                    else:
                        rgb = a[:, :3]
                    n = rgb.shape[0]
                    means = rgb.sum(axis=0) // n
                    buckets = (
                        ((rgb[:, 0] >> 5) << 6)
                        | ((rgb[:, 1] >> 5) << 3)
                        | (rgb[:, 2] >> 5)
                    )
                    counts = np.bincount(buckets, minlength=512)
                    dom = int(counts.argmax())  # argmax = smallest on ties
                except Exception as e:  # noqa: BLE001 — per-record isolation
                    for k in (
                        "mean_r", "mean_g", "mean_b", "dominant_bucket", "n_px"
                    ):
                        out[k].append(None)
                    out["error"].append(_decode_error_label(e))
                    continue
                out["mean_r"].append(int(means[0]))
                out["mean_g"].append(int(means[1]))
                out["mean_b"].append(int(means[2]))
                out["dominant_bucket"].append(dom)
                out["n_px"].append(int(n))
                out["error"].append(None)
            yield pd.DataFrame(out)

    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(kernel, IMAGE_COLORS_SCHEMA)


MEDIA_PROFILE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
        StructField("px_sum", LongType()),
        StructField("phash_hex", StringType()),
        StructField("mean_r", LongType()),
        StructField("mean_g", LongType()),
        StructField("mean_b", LongType()),
        StructField("dominant_bucket", LongType()),
        StructField("solid", IntegerType()),
        StructField("error", StringType()),
    ]
)


def media_profile(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """FUSED media profiling — decode + pixel sum + DCT pHash + color
    profile + solid-color flag in ONE Arrow stage: the production shape
    for a media curation pipeline, where running image_decode,
    image_phash and image_colors as separate stages would decode every
    payload three times (at 100 TB of media that's the whole bill).
    The standalone stages stay for single-facet use and pin the shared
    kernels' semantics; this operator composes the same functions
    per-record. ``solid`` = every byte of the decoded pixel buffer
    equal (tracking pixels, placeholder thumbs). Per-record error
    isolation as everywhere in the family."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..codecs import decode_image as _decode

        cols = [f.name for f in MEDIA_PROFILE_SCHEMA.fields]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}

            def emit(**kw) -> None:
                for c in cols:
                    out[c].append(kw.get(c))

            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    img = _decode(bytes(payload))
                    ch = {"L": 1, "RGB": 3, "RGBA": 4}[img["mode"]]
                    a = np.frombuffer(
                        img["pixels"], dtype=np.uint8
                    ).reshape(-1, ch).astype(np.int64)
                    rgb = np.repeat(a, 3, axis=1) if ch == 1 else a[:, :3]
                    n = rgb.shape[0]
                    means = rgb.sum(axis=0) // n
                    buckets = (
                        ((rgb[:, 0] >> 5) << 6)
                        | ((rgb[:, 1] >> 5) << 3)
                        | (rgb[:, 2] >> 5)
                    )
                    dom = int(np.bincount(buckets, minlength=512).argmax())
                    emit(
                        doc_id=doc_id,
                        width=img["width"], height=img["height"],
                        mode=img["mode"], px_sum=int(a.sum()),
                        phash_hex=phash63(img),
                        mean_r=int(means[0]), mean_g=int(means[1]),
                        mean_b=int(means[2]), dominant_bucket=dom,
                        solid=int(a.max() == a.min()),
                    )
                except Exception as e:  # noqa: BLE001 — per-record isolation
                    emit(doc_id=doc_id, error=_decode_error_label(e))
            yield pd.DataFrame(out)

    selected = ensure_parallelism(df).selectExpr("doc_id", f"{payload_col} as payload")
    return selected.mapInPandas(kernel, MEDIA_PROFILE_SCHEMA)


IMAGE_HISTOGRAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("bin", LongType()),
        StructField("n_px_bin", LongType()),
        StructField("error", StringType()),
    ]
)


def image_histogram(
    df: DataFrame, payload_col: str = "payload", *, bins: int = 16
) -> DataFrame:
    """Luminance histogram per image -> (doc_id, bin, n_px_bin, error),
    one row per OCCUPIED bin: the exposure/contrast profile a media
    harvest reads before keeping an asset (all-dark and all-bright
    histograms are placeholders and failed renders; a flat histogram is
    photographic content). Luminance is the exact integer BT.601-ish
    mix lum = (2r + 5g + b) // 8 binned as lum·bins // 256 — integer
    arithmetic end to end so the oracle states the histogram in closed
    form.

    Same stage shape as image_colors: decode + profile in one Arrow
    batch, per-record error isolation (a corrupt payload yields one
    (doc_id, NULL, NULL, error) row, never a task failure), payloads
    never move past this stage — at scale only the (doc_id, bin) rows
    shuffle onward, <= bins per image.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..codecs import decode_image as _decode

        for pdf in batches:
            out = {"doc_id": [], "bin": [], "n_px_bin": [], "error": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    img = _decode(bytes(payload))
                    ch = {"L": 1, "RGB": 3, "RGBA": 4}[img["mode"]]
                    a = np.frombuffer(img["pixels"], dtype=np.uint8).reshape(
                        -1, ch
                    ).astype(np.int64)
                    if ch == 1:
                        r = g = b = a[:, 0]
                    else:
                        r, g, b = a[:, 0], a[:, 1], a[:, 2]
                    lum = (2 * r + 5 * g + b) // 8
                    hist = np.bincount(lum * bins // 256, minlength=bins)
                except Exception as e:  # noqa: BLE001 — per-record isolation
                    out["doc_id"].append(doc_id)
                    out["bin"].append(None)
                    out["n_px_bin"].append(None)
                    out["error"].append(_decode_error_label(e))
                    continue
                for i in np.nonzero(hist)[0]:
                    out["doc_id"].append(doc_id)
                    out["bin"].append(int(i))
                    out["n_px_bin"].append(int(hist[i]))
                    out["error"].append(None)
            yield pd.DataFrame(out)

    selected = ensure_parallelism(df).selectExpr(
        "doc_id", f"{payload_col} as payload"
    )
    return selected.mapInPandas(kernel, IMAGE_HISTOGRAM_SCHEMA)
