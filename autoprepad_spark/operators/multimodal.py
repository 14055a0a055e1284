"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

The Spark-side contract is fully real — schemas, partitioning, UDF
signatures, batch shapes, and tests. Codecs:

* image — REAL: uncompressed 24-bit BMP encode/decode implemented here
  with struct + numpy (no external imaging library needed),
* audio  — REAL: PCM WAV via the stdlib ``wave`` module,
* video  — REAL for two uncompressed containers, sniffed by magic in
  ``_decode_payload``: RIFF/AVI (hdrl/strl/strf headers, `movi` '00db'
  DIB frame chunks, idx1 index) and YUV4MPEG2/Y4M (C444 full-res
  planes — the ffmpeg/x264 interchange format). Both struct/numpy-only,
  no ffmpeg. Compressed codecs (H.264 etc.) and subsampled Y4M
  (C420/C422, which need a chroma-upsampling policy) genuinely need
  ffmpeg and raise NotImplementedError; swapping in a fuller decoder
  touches ONLY ``_decode_payload``.

Scale notes: media rows are large — the operators repartition by a hash
of the id before the Python stage so Arrow batches are balanced, and
`spark.sql.execution.arrow.maxRecordsPerBatch` bounds peak memory per
Python worker. Feature extraction returns fixed-width vectors, never the
raw bytes, so downstream shuffles move features, not media.
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

FEATURE_DIM = 16


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> uncompressed 24-bit BMP bytes."""
    h, w, _ = pixels.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    data_size = (row + pad) * h
    header = struct.pack("<2sIHHI", b"BM", 54 + data_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0)
    # BMP stores rows bottom-up, channels as BGR
    body = bytearray()
    bgr = pixels[:, :, ::-1]
    zeros = b"\x00" * pad
    for r in range(h - 1, -1, -1):
        body += bgr[r].tobytes() + zeros
    return header + info + bytes(body)


def decode_bmp(b: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP bytes -> (H, W, 3) uint8 RGB."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", b, 10)[0]
    w = struct.unpack_from("<i", b, 18)[0]
    h = struct.unpack_from("<i", b, 22)[0]
    bpp = struct.unpack_from("<H", b, 28)[0]
    comp = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    row = w * 3
    stride = row + (4 - row % 4) % 4
    flipped = h > 0
    h = abs(h)
    raw = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=offset)
    rows = raw.reshape(h, stride)[:, :row].reshape(h, w, 3)
    if flipped:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def encode_wav(samples: np.ndarray, *, framerate: int = 8000) -> bytes:
    """int16 PCM samples -> mono WAV bytes (stdlib wave)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(b: bytes) -> np.ndarray:
    """WAV bytes -> int16 PCM sample array."""
    with wave.open(io.BytesIO(b), "rb") as w:
        frames = w.readframes(w.getnframes())
    return np.frombuffer(frames, dtype="<i2")


def _frame_bytes(pixels: np.ndarray) -> bytes:
    """One (H, W, 3) RGB frame -> DIB chunk body (bottom-up BGR, 4-pad)."""
    h, w, _ = pixels.shape
    pad = b"\x00" * ((4 - (w * 3) % 4) % 4)
    bgr = pixels[:, :, ::-1]
    return b"".join(bgr[r].tobytes() + pad for r in range(h - 1, -1, -1))


def encode_avi(frames: np.ndarray, *, fps: int = 10) -> bytes:
    """(N, H, W, 3) uint8 RGB frames -> uncompressed ('DIB ') AVI bytes.

    Standard RIFF layout: hdrl(avih + strl(strh+strf)) + movi('00db'
    frame chunks) + idx1. Frame rows are bottom-up BGR padded to 4, the
    same raster layout as BMP, so stride*h is 4-aligned and no RIFF
    even-padding bytes are ever needed."""
    nf, h, w, _ = frames.shape
    stride = w * 3 + (4 - (w * 3) % 4) % 4
    fsz = stride * h
    avih = b"avih" + struct.pack(
        "<IIIIIIIIIIIIIII",
        56, 1_000_000 // fps, fsz * fps, 0, 0x10, nf, 0, 1, fsz, w, h, 0, 0, 0, 0,
    )
    strh = b"strh" + struct.pack(
        "<I4s4sIHHIIIIIIiI4h",
        56, b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, nf, fsz, -1, 0, 0, 0, w, h,
    )
    strf = b"strf" + struct.pack(
        "<IIiiHHIIiiII", 40, 40, w, h, 1, 24, 0, fsz, 2835, 2835, 0, 0
    )
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
    movi_body = b"".join(
        b"00db" + struct.pack("<I", fsz) + _frame_bytes(frames[i]) for i in range(nf)
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
    idx = b"".join(
        b"00db" + struct.pack("<III", 0x10, 4 + i * (8 + fsz), fsz) for i in range(nf)
    )
    idx1 = b"idx1" + struct.pack("<I", len(idx)) + idx
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_y4m(frames: np.ndarray, *, fps: int = 10) -> bytes:
    """(N, H, W, 3) uint8 4:4:4 YCbCr planes -> YUV4MPEG2 (Y4M) bytes.

    Y4M is the uncompressed interchange format (what ffmpeg/x264 pipe
    between each other): one ASCII stream header, then per frame a
    ``FRAME\\n`` marker followed by the raw planes. C444 keeps all
    three planes full-resolution so encode/decode round-trips
    byte-exactly — no chroma subsampling loss. The last axis is the
    plane index (Y, Cb, Cr); Y4M carries YCbCr by definition, so no
    RGB conversion (which would round) is involved."""
    frames = np.asarray(frames).astype(np.uint8, copy=False)
    nf, h, w, _ = frames.shape
    head = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C444\n".encode()
    parts = [head]
    for i in range(nf):
        parts.append(b"FRAME\n")
        # plane-major: full Y plane, then Cb, then Cr
        parts.append(np.ascontiguousarray(frames[i].transpose(2, 0, 1)).tobytes())
    return b"".join(parts)


def _y4m_layout(b: bytes) -> tuple[int, int, list[int]]:
    """Parse the Y4M stream header + frame markers without touching
    plane bytes. Returns (width, height, [frame_plane_offset, ...]).
    Tags are parsed generically; subsampled colorspaces (C420/C422)
    raise NotImplementedError — decoding them needs a chroma
    upsampling policy, i.e. ffmpeg, absent in this environment."""
    if not b.startswith(b"YUV4MPEG2"):
        raise ValueError("not a Y4M payload")
    eol = b.index(b"\n")
    w = h = None
    cs = "C420jpeg"  # the spec default when no C tag is present
    for tag in b[9:eol].split():
        t = tag.decode("ascii", "replace")
        if t[0] == "W":
            w = int(t[1:])
        elif t[0] == "H":
            h = int(t[1:])
        elif t[0] == "C":
            cs = t
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H")
    if cs != "C444":
        raise NotImplementedError(
            f"subsampled Y4M colorspace {cs} needs chroma upsampling "
            "(ffmpeg), absent in this environment; C444 decodes for real"
        )
    fsz = 3 * w * h
    offs, pos = [], eol + 1
    while pos < len(b):
        if b[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at {pos}")
        pos = b.index(b"\n", pos) + 1  # FRAME may carry its own params
        offs.append(pos)
        pos += fsz
    return w, h, offs


def decode_y4m(b: bytes, frame_indices: list[int] | None = None) -> np.ndarray:
    """Y4M bytes -> (N, H, W, 3) uint8 YCbCr planes. ``frame_indices``
    decodes only the selected frames (the header walk is metadata-only,
    same contract as decode_avi)."""
    w, h, offs = _y4m_layout(b)
    idx = range(len(offs)) if frame_indices is None else frame_indices
    out = []
    for i in idx:
        raw = np.frombuffer(b, dtype=np.uint8, count=3 * w * h, offset=offs[i])
        out.append(raw.reshape(3, h, w).transpose(1, 2, 0))
    return np.stack(out)


def _avi_layout(b: bytes) -> tuple[int, int, int, list[tuple[int, int]]]:
    """Parse AVI container structure without touching frame payloads.

    Returns (width, height, bpp, [(frame_offset, frame_size), ...]) —
    a generic RIFF chunk walk, not a fixed-offset read, so any
    spec-conforming uncompressed AVI demuxes, not just ours."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    w = h = bpp = None
    frames: list[tuple[int, int]] = []

    def walk(lo: int, hi: int) -> None:
        nonlocal w, h, bpp
        pos = lo
        while pos + 8 <= hi:
            fourcc = b[pos : pos + 4]
            size = struct.unpack_from("<I", b, pos + 4)[0]
            data = pos + 8
            if fourcc == b"LIST":
                walk(data + 4, data + size)  # skip the list-type fourcc
            elif fourcc == b"strf":
                _, bw, bh, _, bits, comp = struct.unpack_from("<IiiHHI", b, data)
                if comp != 0 or bits != 24:
                    raise NotImplementedError(
                        f"compressed AVI stream (biCompression={comp}, bpp={bits}) "
                        "needs ffmpeg, absent in this environment"
                    )
                w, h, bpp = bw, abs(bh), bits
            elif fourcc in (b"00db", b"00dc") and size > 0:
                frames.append((data, size))
            pos = data + size + (size & 1)

    walk(12, len(b))
    if w is None or not frames:
        raise ValueError("AVI has no uncompressed video stream/frames")
    return w, h, bpp, frames


def _dib_to_rgb(b: bytes, off: int, w: int, h: int) -> np.ndarray:
    stride = w * 3 + (4 - (w * 3) % 4) % 4
    raw = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    return rows[::-1, :, ::-1]  # bottom-up BGR -> top-down RGB


def decode_avi(b: bytes, frame_indices: list[int] | None = None) -> np.ndarray:
    """Uncompressed AVI bytes -> (N, H, W, 3) uint8 RGB frames.

    ``frame_indices`` decodes only the selected frames (the container
    walk is header-only, so frame sampling never touches the skipped
    frame bytes — the point of a demuxer)."""
    w, h, _, frames = _avi_layout(b)
    idx = range(len(frames)) if frame_indices is None else frame_indices
    return np.stack([_dib_to_rgb(b, frames[i][0], w, h) for i in idx])


def _decode_payload(payload: bytes, kind: str, *, fake: bool) -> np.ndarray:
    """Decode media bytes to a dense float array in [0, 256).

    All three kinds decode for REAL (BMP / PCM WAV / uncompressed AVI,
    implemented above); compressed video codecs raise
    NotImplementedError from the demuxer. fake=True derives a
    deterministic pseudo-decode from the raw bytes instead (tests)."""
    if fake:
        return np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    if kind == "image":
        return decode_bmp(payload).reshape(-1).astype(np.float32)
    if kind == "audio":
        s = decode_wav(payload).astype(np.float32)
        return s / 256.0 + 128.0  # int16 -> [0, 256) scale
    if kind == "video":
        # container sniff: RIFF/AVI vs YUV4MPEG2 — both real demuxers
        if payload[:9] == b"YUV4MPEG2":
            return decode_y4m(payload).reshape(-1).astype(np.float32)
        return decode_avi(payload).reshape(-1).astype(np.float32)
    raise NotImplementedError(f"unknown media kind {kind!r}")


def extract_features(df: DataFrame, *, fake_decode: bool = True, partitions: int | None = None) -> DataFrame:
    """media table -> fixed-width feature vectors via mapInPandas.

    The 'feature' is a FEATURE_DIM-bin byte histogram of the decoded
    array — a stand-in with the exact shape a real embedding would have.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {
                "media_id": b["media_id"],
                "kind": b["kind"],
                "n_bytes": b["payload"].map(lambda p: len(p) if p is not None else None).astype("Int32"),
                "feature": None,
                "ok": True,
                "error": None,
            }
            feats, oks, errs = [], [], []
            for payload, kind in zip(b["payload"], b["kind"]):
                if payload is None:
                    feats.append(None)
                    oks.append(False)
                    errs.append("null payload")
                    continue
                try:
                    arr = _decode_payload(bytes(payload), kind, fake=fake_decode)
                    hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
                    total = max(hist.sum(), 1)
                    feats.append((hist / total).astype(np.float32))
                    oks.append(True)
                    errs.append(None)
                except (NotImplementedError, ValueError, wave.Error, EOFError) as e:
                    feats.append(None)
                    oks.append(False)
                    errs.append(str(e)[:80])
            out["feature"] = pd.Series(feats, dtype=object)
            out["ok"] = pd.Series(oks)
            out["error"] = pd.Series(errs, dtype=object)
            yield pd.DataFrame(out)

    src = df.select("media_id", "kind", "payload")
    if partitions:
        src = src.repartition(partitions, F.xxhash64("media_id"))
    return src.mapInPandas(run, schema=FEATURE_SCHEMA)


DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_elems", T.LongType(), True),
        T.StructField("elem_sum", T.DoubleType(), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
)


def decode_stats(df: DataFrame, *, partitions: int | None = None) -> DataFrame:
    """media table -> per-row decoded-element count and sum via the REAL
    codec path (BMP/WAV/AVI parsers above).

    These two scalars are exactly re-derivable by an independent engine
    when the payloads come from synth_media_arith (every decoded element
    is closed-form in the row index), which is what lets the driver's
    DuckDB oracle verify the real decode end-to-end. Sums accumulate in
    float64 over values that are integer multiples of 1/256, so they are
    EXACT (no summation-order sensitivity) for arrays up to ~10^10
    elements — far past any single media row.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            n_elems, sums, oks = [], [], []
            for payload, kind in zip(b["payload"], b["kind"]):
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    arr = _decode_payload(bytes(payload), kind, fake=False)
                    n_elems.append(int(arr.size))
                    sums.append(float(arr.astype(np.float64).sum()))
                    oks.append(True)
                except (NotImplementedError, ValueError, wave.Error, EOFError):
                    n_elems.append(None)
                    sums.append(None)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "kind": b["kind"],
                    "n_elems": pd.Series(n_elems, dtype="Int64"),
                    "elem_sum": pd.Series(sums, dtype="float64"),
                    "ok": pd.Series(oks),
                }
            )

    src = df.select("media_id", "kind", "payload")
    if partitions:
        src = src.repartition(partitions, F.xxhash64("media_id"))
    return src.mapInPandas(run, schema=DECODE_STATS_SCHEMA)


def resize_image(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize of (H, W, C) pixels — pure numpy index
    mapping, the standard thumbnailing kernel when no imaging lib is
    around. Deterministic (floor sampling grid)."""
    h, w = arr.shape[:2]
    ri = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    ci = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return arr[ri][:, ci]


THUMB_H = THUMB_W = 8

THUMBNAIL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("thumb", T.ArrayType(T.FloatType()), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def image_thumbnails(df: DataFrame, *, partitions: int | None = None) -> DataFrame:
    """Image rows -> fixed 8x8 grayscale thumbnails (decode -> resize ->
    luma), via Arrow mapInPandas. Output is 64 floats per image — the
    canonical decode/resize/extract pipeline shape; downstream shuffles
    move thumbnails, never payload bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            thumbs, oks, errs = [], [], []
            for payload in b["payload"]:
                try:
                    px = decode_bmp(bytes(payload))
                    small = resize_image(px, THUMB_H, THUMB_W).astype(np.float32)
                    gray = (
                        0.299 * small[:, :, 0]
                        + 0.587 * small[:, :, 1]
                        + 0.114 * small[:, :, 2]
                    )
                    thumbs.append(gray.reshape(-1))
                    oks.append(True)
                    errs.append(None)
                except (ValueError, struct.error) as e:
                    thumbs.append(None)
                    oks.append(False)
                    errs.append(str(e)[:80])
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "thumb": pd.Series(thumbs, dtype=object),
                    "ok": pd.Series(oks),
                    "error": pd.Series(errs, dtype=object),
                }
            )

    src = df.filter(F.col("kind") == "image").select("media_id", "payload")
    if partitions:
        src = src.repartition(partitions, F.xxhash64("media_id"))
    return src.mapInPandas(run, schema=THUMBNAIL_SCHEMA)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media table: REAL encoded payloads for all three
    kinds — 24-bit BMP images, PCM WAV audio, uncompressed AVI video."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        width = height = duration = None
        if kind == "image":
            height = int(rng.integers(4, 24))
            width = int(rng.integers(4, 24))
            pixels = rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)
            payload = encode_bmp(pixels)
            mime = "image/bmp"
        elif kind == "audio":
            n_samples = int(rng.integers(200, 4000))
            samples = rng.integers(-32768, 32767, size=n_samples).astype(np.int16)
            payload = encode_wav(samples)
            duration = int(n_samples * 1000 / 8000)
            mime = "audio/wav"
        else:
            nf = int(rng.integers(2, 8))
            height = width = int(rng.integers(4, 16))
            frames = rng.integers(0, 256, size=(nf, height, width, 3), dtype=np.uint8)
            fps = 10
            if (i // 3) % 2 == 0:
                payload, mime = encode_avi(frames, fps=fps), "video/avi"
            else:
                payload, mime = encode_y4m(frames, fps=fps), "video/x-yuv4mpeg"
            duration = int(nf * 1000 / fps)
        rows.append(
            (f"m-{i:06d}", kind, bytearray(payload), mime, width, height, duration)
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def synth_media_arith(spark, n: int = 64) -> DataFrame:
    """Arithmetic-deterministic media table: every pixel/sample value is a
    closed-form function of (row index, element index), so an independent
    SQL engine can re-derive the decoded element distribution — and hence
    the extracted feature histograms — from first principles. This is what
    lets the driver's DuckDB oracle verify the REAL decode path
    end-to-end (see __spark_entry__.q_multimodal_features).

    image i:  h = 4 + (i*7)%20, w = 4 + (i*11)%20,
              pixel(y,x,c) = (i*31 + y*13 + x*7 + c*5) % 256
    audio i:  n_samples = 200 + (i*37)%3800,
              sample(j) = ((i*97 + j*31) % 65536) - 32768
    video i:  nf = 2 + i%4, h = w = 4 + (i*5)%12,
              pixel(f,y,x,c) = (i*17 + f*29 + y*13 + x*7 + c*5) % 256
    """
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        width = height = duration = None
        if kind == "image":
            height = 4 + (i * 7) % 20
            width = 4 + (i * 11) % 20
            y, x, c = np.ogrid[0:height, 0:width, 0:3]
            pixels = ((i * 31 + y * 13 + x * 7 + c * 5) % 256).astype(np.uint8)
            payload = encode_bmp(pixels)
            mime = "image/bmp"
        elif kind == "audio":
            n_samples = 200 + (i * 37) % 3800
            j = np.arange(n_samples)
            samples = (((i * 97 + j * 31) % 65536) - 32768).astype(np.int16)
            payload = encode_wav(samples)
            duration = int(n_samples * 1000 / 8000)
            mime = "audio/wav"
        else:
            nf = 2 + i % 4
            height = width = 4 + (i * 5) % 12
            f, y, x, c = np.ogrid[0:nf, 0:height, 0:width, 0:3]
            frames = ((i * 17 + f * 29 + y * 13 + x * 7 + c * 5) % 256).astype(np.uint8)
            # alternate containers: both demux to the SAME closed-form
            # element values, so the analytic oracle is container-blind
            # while Spark's decode exercises both real paths
            if (i // 3) % 2 == 0:
                payload, mime = encode_avi(frames, fps=10), "video/avi"
            else:
                payload, mime = encode_y4m(frames, fps=10), "video/x-yuv4mpeg"
            duration = nf * 100
        rows.append(
            (f"m-{i:06d}", kind, bytearray(payload), mime, width, height, duration)
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
