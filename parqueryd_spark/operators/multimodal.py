"""Multimodal (image/audio/video) column handling for training-data pipelines.

Design: media payloads are opaque ``binary`` columns with a typed metadata
struct alongside; all per-item compute (decode, resize, frame-sample,
feature-extract) runs as Arrow-batched ``mapInPandas`` — one Python worker per
partition, vectorized batches, never row-at-a-time UDFs. At 100 TB the binary
column dominates I/O, so operators must (a) prune it from the scan when only
metadata is needed (Catalyst column pruning does this for free because metadata
lives in separate columns, not inside the blob) and (b) size partitions by
bytes, not rows (``spark.sql.files.maxPartitionBytes``).

Codecs: self-describing uncompressed-or-zlib formats are decoded FOR REAL with
the standard library alone — NetPBM P5/P6, uncompressed 24-bit BMP, PNG
(8-bit gray/RGB via zlib + scanline unfiltering), PCM WAV (stdlib ``wave``),
and YUV4MPEG2 video (``sample_frames`` walks the FRAME-delimited container
and converts sampled C444/C420 frames to RGB). Formats that need an external
codec (JPEG, MP3, MP4/MKV — PIL/ffmpeg/soundfile are NOT in this container)
fall back to a clearly-marked deterministic sha256 fake, so the Spark-side
plumbing — schema, UDF signature, batch iteration, partition behavior — is
exercised for every payload while compressed-format pixel math stays an
explicit boundary.

Feature semantics by media type (all deterministic): image -> 8-bin grayscale
histogram (normalized); audio -> 8-segment RMS envelope (normalized);
unrecognized -> sha256-derived fake.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed metadata for a media asset (parallels common dataset-format practice:
# payload blob + sidecar metadata columns).
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("digest", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _make_raw_image_decoder():
    """Self-contained closure: payload -> (width, height, rgb bytes) for the
    stdlib-decodable image formats (NetPBM P5/P6, 8-bit gray/RGB PNG,
    uncompressed 24-bit BMP), or None for anything else/malformed. Grayscale
    sources are replicated to RGB so consumers see one pixel layout."""

    def raw_decode(payload: bytes):
        import struct as _struct
        import zlib as _zlib

        data = bytes(payload)
        try:
            if data[:2] in (b"P5", b"P6") and data[2:3] in (b" ", b"\t", b"\n", b"\r"):
                # NetPBM: magic, then whitespace/comment-separated w h maxval
                toks, i = [], 2
                while len(toks) < 3:
                    while i < len(data) and data[i : i + 1].isspace():
                        i += 1
                    if data[i : i + 1] == b"#":
                        while i < len(data) and data[i : i + 1] != b"\n":
                            i += 1
                        continue
                    j = i
                    while j < len(data) and not data[j : j + 1].isspace():
                        j += 1
                    toks.append(int(data[i:j]))
                    i = j
                i += 1  # single whitespace after maxval, then raw samples
                w, h, maxval = toks
                if maxval == 255 and w > 0 and h > 0:
                    raw = data[i:]
                    if data[:2] == b"P5" and len(raw) >= w * h:
                        return w, h, bytes(v for g in raw[: w * h] for v in (g, g, g))
                    if data[:2] == b"P6" and len(raw) >= 3 * w * h:
                        return w, h, raw[: 3 * w * h]

            if data[:8] == b"\x89PNG\r\n\x1a\n":
                # chunks: IHDR dims/format, concatenated IDAT -> zlib -> unfilter
                w, h, depth, ctype, idat, i = 0, 0, 0, -1, b"", 8
                while i + 8 <= len(data):
                    (length,) = _struct.unpack_from(">I", data, i)
                    tag = data[i + 4 : i + 8]
                    body = data[i + 8 : i + 8 + length]
                    if tag == b"IHDR":
                        w, h, depth, ctype = _struct.unpack_from(">IIBB", body, 0)
                    elif tag == b"IDAT":
                        idat += body
                    elif tag == b"IEND":
                        break
                    i += 12 + length  # length + tag + crc
                bpp = {0: 1, 2: 3}.get(ctype)
                if bpp and depth == 8 and w > 0 and h > 0:
                    raw = _zlib.decompress(idat)
                    stride = w * bpp
                    prev = bytearray(stride)
                    out = bytearray()
                    for row in range(h):
                        off = row * (stride + 1)
                        ftype = raw[off]
                        line = bytearray(raw[off + 1 : off + 1 + stride])
                        for x in range(stride):
                            a = line[x - bpp] if x >= bpp else 0
                            b = prev[x]
                            c = prev[x - bpp] if x >= bpp else 0
                            if ftype == 1:
                                line[x] = (line[x] + a) & 0xFF
                            elif ftype == 2:
                                line[x] = (line[x] + b) & 0xFF
                            elif ftype == 3:
                                line[x] = (line[x] + (a + b) // 2) & 0xFF
                            elif ftype == 4:  # Paeth
                                p = a + b - c
                                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                                line[x] = (line[x] + pred) & 0xFF
                        prev = line
                        if bpp == 1:
                            out.extend(v for g in line for v in (g, g, g))
                        else:
                            out.extend(line)
                    return w, h, bytes(out)

            if data[:2] == b"BM" and len(data) >= 54:
                (offset,) = _struct.unpack_from("<I", data, 10)
                w, h_signed = _struct.unpack_from("<ii", data, 18)
                (bpp,) = _struct.unpack_from("<H", data, 28)
                (compression,) = _struct.unpack_from("<I", data, 30)
                h = abs(h_signed)
                if bpp == 24 and compression == 0 and w > 0 and h > 0:
                    stride = (3 * w + 3) & ~3  # rows padded to 4 bytes
                    out = bytearray()
                    rows = range(h - 1, -1, -1) if h_signed > 0 else range(h)  # bottom-up
                    for row in rows:
                        base = offset + row * stride
                        for x in range(w):
                            b_, g, r = data[base + 3 * x : base + 3 * x + 3]
                            out.extend((r, g, b_))
                    return w, h, bytes(out)
        except Exception:
            pass  # malformed payload -> caller falls back to the fake
        return None

    return raw_decode


def _make_decoder():
    """Build the payload feature decoder as a self-contained closure.

    Returned function is defined with no references into this module so
    cloudpickle ships it BY VALUE to executor Python workers — the workers must
    not need ``parqueryd_spark`` importable (the engine may be driven from any
    cwd without addPyFile).
    """
    raw_decode = _make_raw_image_decoder()

    def decode(payload: bytes) -> tuple[int, int, list[float]]:
        # Real stdlib decode for self-describing formats (NetPBM, BMP, PNG,
        # WAV); deterministic sha256 fake for anything unrecognized. Any
        # malformed-but-sniffed payload also falls through to the fake —
        # a corrupt blob must never kill a 100 TB job.
        import hashlib as _hashlib
        import io as _io
        import struct as _struct

        data = bytes(payload)
        img = raw_decode(data)
        if img is not None:
            w, h, rgb = img
            bins = [0] * 8
            for k in range(0, len(rgb), 3):
                gray = (rgb[k] + rgb[k + 1] + rgb[k + 2]) // 3
                bins[gray >> 5] += 1
            n = w * h
            return w, h, [b / n for b in bins]

        try:
            if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
                import wave as _wave

                with _wave.open(_io.BytesIO(data), "rb") as wav:
                    nch, sampwidth, _rate, nframes = wav.getparams()[:4]
                    frames = wav.readframes(nframes)
                if sampwidth == 2 and nframes > 0:
                    samples = [s[0] for s in _struct.iter_unpack("<h", frames)]
                    seg = max(1, len(samples) // 8)
                    feat = []
                    for s0 in range(0, min(len(samples), 8 * seg), seg):
                        chunk = samples[s0 : s0 + seg]
                        rms = (sum(v * v for v in chunk) / len(chunk)) ** 0.5
                        feat.append(rms / 32768.0)
                    feat += [0.0] * (8 - len(feat))
                    # width/height carry (channels, bits-per-sample) for audio
                    return nch, 8 * sampwidth, feat[:8]
        except Exception:
            pass  # malformed payload -> deterministic fake below

        h = _hashlib.sha256(data).digest()
        width = 1 + h[0] % 64
        height = 1 + h[1] % 64
        feature = [b / 255.0 for b in h[2:10]]
        return width, height, feature

    return decode


# driver-side convenience (same function the executors run)
decode_image = _make_decoder()


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents fixture: utf-8 text bytes stand in
    for the binary payload (deterministic), with metadata computed JVM-side."""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("byte_len"),
        F.md5(payload).alias("digest"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
    ]
)


def resize_media(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Resize every payload to (width, height) via mapInPandas.

    Decodable image payloads (NetPBM/PNG/BMP) are REALLY resized —
    nearest-neighbor sampling over the decoded RGB grid — and re-emitted as
    canonical binary PPM (P6), so downstream stages get one uniform raw
    format whatever came in. Undecodable payloads keep the deterministic
    digest fake so plumbing (dedup on resized bytes, size accounting) still
    works on any input.
    """
    raw_decode = _make_raw_image_decoder()

    def _resize(batches):
        import hashlib as _hl

        import pandas as _pd

        def one(p: bytes) -> bytes:
            img = raw_decode(bytes(p))
            if img is None:
                return _hl.sha256(bytes(p) + f"{width}x{height}".encode()).digest()
            w0, h0, rgb = img
            out = bytearray(b"P6\n%d %d\n255\n" % (width, height))
            for y in range(height):
                sy = y * h0 // height
                for x in range(width):
                    sx = x * w0 // width
                    k = 3 * (sy * w0 + sx)
                    out.extend(rgb[k : k + 3])
            return bytes(out)

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "payload": [one(p) for p in pdf["payload"]],
                    "width": _pd.array([width] * len(pdf), dtype="int32"),
                    "height": _pd.array([height] * len(pdf), dtype="int32"),
                }
            )

    return media.mapInPandas(_resize, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, max_frames: int = 4) -> DataFrame:
    """Sample up to ``max_frames`` evenly-spaced frames per video payload
    (1-in/N-out row explosion through mapInPandas — the batch shape a real
    ffmpeg frame sampler needs).

    YUV4MPEG2 (y4m) payloads are sampled FOR REAL: the stdlib-parseable raw
    container (plain-text header, ``FRAME``-delimited planar YUV) is walked
    without decoding anything but the sampled frames, which are converted to
    RGB (C444/C420, full-range BT.601) and re-emitted as canonical binary PPM
    — the same uniform format :func:`resize_media` produces, so frames feed
    straight back into the image operators. Codec-requiring containers (MP4,
    MKV — no ffmpeg in this environment) keep the deterministic digest fake:
    frame count from the payload digest, per-index digest payloads."""

    def _sample(batches):
        import hashlib as _hl

        import pandas as _pd

        def y4m_frames(raw: bytes):
            # header: "YUV4MPEG2 W<w> H<h> F<n>:<d> ... [C<fmt>]\n"
            try:
                hdr_end = raw.index(b"\n")
            except ValueError:
                return None
            parts = raw[:hdr_end].split(b" ")
            if parts[0] != b"YUV4MPEG2":
                return None
            w = h = 0
            cfmt = b"420jpeg"  # the spec default when no C tag is present
            for tag in parts[1:]:
                if tag[:1] == b"W":
                    w = int(tag[1:])
                elif tag[:1] == b"H":
                    h = int(tag[1:])
                elif tag[:1] == b"C":
                    cfmt = tag[1:]
            if w <= 0 or h <= 0:
                return None
            if cfmt.startswith(b"444"):
                ysz, csz, half = w * h, w * h, False
            elif cfmt.startswith(b"420"):
                ysz, csz, half = w * h, (w // 2) * (h // 2), True
            else:
                return None  # 422/mono etc. -> caller falls back to the fake
            frames, i = [], hdr_end + 1
            fsize = ysz + 2 * csz
            while i < len(raw):
                try:
                    line_end = raw.index(b"\n", i)
                except ValueError:
                    break
                if raw[i : i + 5] != b"FRAME":
                    break
                body = raw[line_end + 1 : line_end + 1 + fsize]
                if len(body) < fsize:
                    break
                frames.append(body)
                i = line_end + 1 + fsize
            return (w, h, half, ysz, csz, frames) if frames else None

        def to_ppm(w, h, half, ysz, csz, body: bytes) -> bytes:
            yp, up, vp = body[:ysz], body[ysz : ysz + csz], body[ysz + csz :]
            cw = w // 2 if half else w
            out = bytearray(b"P6\n%d %d\n255\n" % (w, h))
            for yy in range(h):
                for xx in range(w):
                    yv = yp[yy * w + xx]
                    ci = (yy // 2) * cw + (xx // 2) if half else yy * w + xx
                    u, v = up[ci] - 128, vp[ci] - 128
                    # full-range BT.601 integer approximation
                    r = yv + (91881 * v >> 16)
                    g = yv - ((22554 * u + 46802 * v) >> 16)
                    b = yv + (116130 * u >> 16)
                    out.extend(
                        (
                            0 if r < 0 else (255 if r > 255 else r),
                            0 if g < 0 else (255 if g > 255 else g),
                            0 if b < 0 else (255 if b > 255 else b),
                        )
                    )
            return bytes(out)

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, mtype, p in zip(pdf["media_id"], pdf["media_type"], pdf["payload"]):
                if mtype != "video":
                    continue
                raw = bytes(p)
                vid = y4m_frames(raw)
                if vid is not None:
                    w, h, half, ysz, csz, all_frames = vid
                    n = min(max_frames, len(all_frames))
                    # evenly spaced selection over the real frame sequence
                    picks = [k * len(all_frames) // n for k in range(n)]
                    for i, fi in enumerate(picks):
                        ids.append(mid)
                        idxs.append(i)
                        frames.append(to_ppm(w, h, half, ysz, csz, all_frames[fi]))
                    continue
                n = 1 + _hl.sha256(raw).digest()[0] % max_frames
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(_hl.sha256(raw + bytes([i])).digest())
            yield _pd.DataFrame(
                {
                    "media_id": _pd.array(ids, dtype="int64"),
                    "frame_index": _pd.array(idxs, dtype="int32"),
                    "frame_payload": frames,
                }
            )

    return media.mapInPandas(_sample, schema=FRAME_SCHEMA)


def extract_features(media: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """mapInPandas feature extraction over the payload column.

    The iterator-of-batches signature keeps memory bounded regardless of
    partition size; each batch is an Arrow-backed pandas DataFrame.
    """

    decode = _make_decoder()  # closure pickled by value; no module import on workers

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, heights, feats = [], [], []
            for payload in pdf["payload"]:
                w, h, f = decode(bytes(payload))
                widths.append(w)
                heights.append(h)
                feats.append(f)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["byte_len"],
                    "digest": pdf["digest"],
                    "width": pd.array(widths, dtype="int32"),
                    "height": pd.array(heights, dtype="int32"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def image_dhash(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """64-bit difference hash (dHash) of every DECODABLE image payload:
    grayscale, box-downsample to 9x8, one bit per horizontal gradient sign —
    the classic perceptual fingerprint that survives resizing, mild noise,
    and recompression. Undecodable payloads hash to null (filter them before
    pairing). Returns (media_id, dhash).

    Arrow-batched mapInPandas over self-contained closures (no module import
    on workers); the scan reads only the id and payload columns.
    """
    raw_decode = _make_raw_image_decoder()

    def _dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(payload: bytes):
            decoded = raw_decode(bytes(payload))
            if decoded is None:
                return None
            w, h, rgb = decoded
            # grayscale box-downsample to 9 x 8
            gray = [[0.0] * 9 for _ in range(8)]
            for gy in range(8):
                for gx in range(9):
                    x0, x1 = gx * w // 9, max(gx * w // 9 + 1, (gx + 1) * w // 9)
                    y0, y1 = gy * h // 8, max(gy * h // 8 + 1, (gy + 1) * h // 8)
                    acc = npx = 0
                    for y in range(y0, min(y1, h)):
                        base = 3 * y * w
                        for x in range(x0, min(x1, w)):
                            i = base + 3 * x
                            acc += 299 * rgb[i] + 587 * rgb[i + 1] + 114 * rgb[i + 2]
                            npx += 1
                    gray[gy][gx] = acc / (1000.0 * npx) if npx else 0.0
            bits = 0
            for gy in range(8):
                for gx in range(8):
                    if gray[gy][gx + 1] > gray[gy][gx]:
                        bits |= 1 << (gy * 8 + gx)
            return bits - (1 << 64) if bits >= (1 << 63) else bits

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "dhash": pd.array(
                        [one(p) for p in pdf[payload_col]], dtype="Int64"
                    ),
                }
            )

    return media.select(
        F.col(id_col).alias(id_col), F.col(payload_col).alias(payload_col)
    ).mapInPandas(_dhash, schema=DHASH_SCHEMA)


def image_near_dup_pairs(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 4,
) -> DataFrame:
    """Perceptual near-duplicate image pairs: dHash signatures banded into
    ``max_hamming + 1`` pigeonhole blocks (reusing the text SimHash blocking
    — any pair within the radius shares an exact band), verified by true
    hamming distance. Candidate cost is band-collision-bounded exactly like
    text simhash; the decode pass is the only Python, and it runs once per
    image. ``max_hamming`` must be in [0, 63]. Returns (id_a, id_b, hamming)."""
    from parqueryd_spark.operators.dedup import _hamming_pairs

    sigs = image_dhash(media, id_col, payload_col).filter(F.col("dhash").isNotNull())
    sigs = sigs.select(F.col("media_id").alias("doc"), F.col("dhash").alias("sig"))
    return _hamming_pairs(sigs, 64, max_hamming + 1, max_hamming)
