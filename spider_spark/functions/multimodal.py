"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

Every operator here and every ``synth_*`` store builder is one row
function behind one mapper, ``_per_blob``: its single ``mapInPandas``
crosses the Python boundary once per Arrow batch and calls the row
function once per blob, which returns that blob's output tuples (none
when a lax operator skips an undecodable blob, one normally, one per
sampled frame).  The builders are integer-formula encoders
``seed[, flag] -> bytes`` behind ``_synth``, which emits the ``MEDIA``
shape.

Decode policy (the codec boundary): PNG and baseline JPEG blobs are
decoded FOR REAL — dependency-free spec-conformant codecs live in
functions/png.py (zlib inflate + all five scanline filters) and
functions/jpeg.py (DQT/DHT/SOF0/SOS parse, Huffman entropy decode,
IDCT, 4:4:4 / 4:2:0, restart markers) — MPNG video containers
(length-prefixed PNG frames, below) parse + frame-decode for real, and
WAV audio decodes for real through the RIFF/PCM16 codec in
functions/wav.py; remaining formats (MP3/MP4/progressive JPEG: no
PIL/ffmpeg in this container) raise NotImplementedError under
``strict=True`` or fall back to a clearly-marked deterministic fake
otherwise.

Reference analog: the crawler streams images to disk separately from text
(share_func.py:224-242 saveImage) and binarizes captcha pixels
(share_func.py:194-221) — media bytes never travel inline with text rows,
which is exactly the media_ref indirection here.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import jpeg, png, wav

_TYPES = {
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
}


def _schema(ddl: str) -> T.StructType:
    """``"name type, ..."`` -> StructType of nullable fields."""
    return T.StructType(
        [T.StructField(n, _TYPES[t]) for n, t in (f.split() for f in ddl.split(","))]
    )


MEDIA = _schema("media_ref string, content binary, media_kind string, n_bytes int")
MEDIA_FEATURES = _schema(
    "media_ref string, media_kind string, n_bytes int, width int, height int,"
    " n_frames int, byte_entropy double"
)
MEDIA_TEXT = _schema("media_ref string, title string, software string, n_keys int")


def _per_blob(
    df: DataFrame, cols: list[str], schema: T.StructType, row: Callable[..., list[tuple]]
) -> DataFrame:
    """The one mapInPandas of this module: each Arrow batch of ``cols``
    becomes the concatenation of ``row(*values)`` over its rows, every
    tuple ordered like ``schema``."""
    names = schema.fieldNames()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [t for vals in zip(*(pdf[c] for c in cols)) for t in row(*vals)],
                columns=names,
            )

    return df.select(*cols).mapInPandas(fn, schema)


def _synth(
    refs: DataFrame, kind: str, encode: Callable[..., bytes], flag: str | None = None
) -> DataFrame:
    """A MEDIA store of ``kind`` blobs, ``encode(seed[, flag])`` per ref."""
    extra = [flag] if flag else []
    df = refs.select(
        "media_ref",
        F.col("seed").cast("long").alias("seed"),
        *[F.col(c).cast("int").alias(c) for c in extra],
    )

    def row(ref, *args):
        data = encode(*map(int, args))
        return [(ref, data, kind, len(data))]

    return _per_blob(df, ["media_ref", "seed", *extra], MEDIA, row)


def _decode_rgba(content, strict: bool = False) -> tuple[np.ndarray, bool]:
    """Blob -> (h, w, 4) uint8 RGBA + whether the decode was real.

    PNG and baseline JPEG bytes go through the real codecs; anything else
    is the stubbed step: NotImplementedError when strict, deterministic
    bytes->grid fake otherwise (swapping in PIL/ffmpeg changes only this
    branch)."""
    b = bytes(content or b"")
    if png.is_png(b):
        return png.decode_png(b), True
    if jpeg.is_jpeg(b):
        rgb = jpeg.decode_jpeg(b)
        rgba = np.concatenate(
            [rgb, np.full(rgb.shape[:2] + (1,), 255, dtype=np.uint8)], axis=2
        )
        return rgba, True
    if strict:
        raise NotImplementedError(
            "non-PNG/JPEG decode requires PIL/ffmpeg, not available in this container"
        )
    a = np.frombuffer(b, dtype=np.uint8)
    n_px = max(len(a) // 4, 1)
    w = max(int(np.sqrt(n_px)), 1)
    h = max(n_px // w, 1)
    return np.resize(a, (h, w, 4)), False


def _fake_seed(b: np.ndarray) -> int:
    """Stable byte hash behind the stubbed decode's dims and frame count."""
    return int(b[:8].astype(np.int64).sum()) if len(b) >= 8 else 0


def _sum_r(px: np.ndarray) -> int:
    return int(px[..., 0].astype(np.int64).sum())


def _rgba(h: int, w: int, *channels: np.ndarray) -> np.ndarray:
    """Opaque (h, w, 4) uint8 pixels from row-major R, G, B values."""
    px = np.full((h, w, 4), 255, dtype=np.uint8)
    for c, v in enumerate(channels):
        px[..., c] = v.reshape(h, w)
    return px


def synth_media_table(refs: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """Deterministic fake media store: bytes derived from xxhash64(ref).

    Plumbing is real: binary column, sizes vary per ref, kind from the
    ref path.  (Stand-in for reading an object store by media_ref.)"""
    h = F.xxhash64(F.col(ref_col))
    n = (F.abs(h) % 3000 + 64).cast("int")  # < blob length, so n_bytes == len(content)
    kind = (
        F.when(F.col(ref_col).contains("img"), "image")
        .when(F.col(ref_col).contains("aud"), "audio")
        .otherwise("video")
    )
    # repeated sha2-hex truncated per ref — deterministic variable-length blob
    blob = F.substring(F.repeat(F.sha2(F.col(ref_col), 256), 64), 1, 4096)
    return refs.select(
        F.col(ref_col).alias("media_ref"),
        F.substring(blob, F.lit(1), n).cast("binary").alias("content"),
        kind.alias("media_kind"),
        n.alias("n_bytes"),
    )


def _image_px(s: int) -> np.ndarray:
    w, h = 16 + s % 17, 16 + s % 13
    i = np.arange(w * h, dtype=np.int64)
    return _rgba(h, w, (7 * s + 13 * i) % 256, (11 * s + 29 * i) % 256, 1 + (3 * i + s) % 7)


def _encode_png_image(s: int) -> bytes:
    return png.encode_png(_image_px(s), filter_type=s % 5)


def synth_png_media(refs: DataFrame) -> DataFrame:
    """REAL-PNG media store: per ref, deterministic RGBA pixels from the
    integer ``seed`` column, encoded through the real codec
    (png.encode_png) — so downstream operators decode genuine PNG bytes.

    The pixel formulas are integer arithmetic a SQL oracle can replicate
    (the m2 entry recomputes the binarize result analytically):
      w = 16 + seed % 17,  h = 16 + seed % 13,  i = row-major pixel index
      R = (7*seed + 13*i) % 256
      G = (11*seed + 29*i) % 256
      B = 1 + (3*i + seed) % 7      (>= 1: every surviving pixel whitens)
      A = 255
    The scanline filter rotates with seed % 5, so a batch of refs drives
    every decoder filter branch (None/Sub/Up/Average/Paeth).

    Input: (media_ref string, seed long).  Output matches
    synth_media_table: (media_ref, content, media_kind, n_bytes)."""
    return _synth(refs, "image", _encode_png_image)


def decode_and_featurize(media: DataFrame, strict: bool = False) -> DataFrame:
    """mapInPandas feature extraction over binary media columns.

    Batch shape: one Arrow batch of (media_ref, content, media_kind);
    output one row per media item.  PNG blobs decode for real (true
    width/height from the codec, functions/png.py); other formats are
    the stubbed step:
    - strict=True  -> NotImplementedError (no PIL/ffmpeg in container)
    - strict=False -> deterministic fake decode: width/height/frames from
      a stable byte hash, entropy computed for real from the bytes.
    """

    def row(ref, content, kind):
        b = np.frombuffer(content or b"", dtype=np.uint8)
        entropy = 0.0
        if len(b):
            counts = np.bincount(b, minlength=256)
            p = counts[counts > 0] / len(b)
            entropy = float(-(p * np.log2(p)).sum())
        px, real = _decode_rgba(content, strict)
        if real:
            w, h, frames = px.shape[1], px.shape[0], 1
        else:
            seed = _fake_seed(b)
            w, h = 16 + seed % 1024, 16 + (seed // 7) % 1024
            frames = 1 if kind == "image" else 1 + seed % 120
        return [(ref, kind, len(b), w, h, frames, float(np.round(entropy, 4)))]

    return _per_blob(media, ["media_ref", "content", "media_kind"], MEDIA_FEATURES, row)


def media_refs_from_documents(docs: DataFrame) -> DataFrame:
    """Explode media spans out of interleaved documents (JVM explode)."""
    return (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )


def binarize_rgba(pixels: np.ndarray) -> np.ndarray:
    """F14 captcha binarization (binaryzationImage share_func.py:194-221),
    vectorized.  The reference runs three SEQUENTIAL passes whose effects
    feed each other, so order is semantics, not style:

    1. R < 90   -> (0,0,0,255)
    2. G < 136  -> (0,0,0,255)   (sees pass 1's zeroed G channels)
    3. B > 0    -> (255,255,255,255)

    Input (..., 4) uint8 RGBA; returns a new array, pure black/white."""
    px = pixels.copy()
    px[px[..., 0] < 90] = (0, 0, 0, 255)
    px[px[..., 1] < 136] = (0, 0, 0, 255)
    px[px[..., 2] > 0] = (255, 255, 255, 255)
    return px


def binarize_media(media: DataFrame, strict: bool = False) -> DataFrame:
    """mapInPandas binarization over binary image columns: decode the blob
    into an RGBA array (REAL decode for PNG via functions/png.py; the
    stubbed deterministic fake otherwise — see _decode_rgba), run the
    reference's three-pass threshold, emit the binarized bytes +
    white-pixel fraction."""

    def row(ref, content):
        px, _real = _decode_rgba(content, strict)
        h, w = px.shape[0], px.shape[1]
        out = binarize_rgba(px)
        # integer white count alongside the fraction: exact across
        # engines (no float-rounding hazard in the m2 oracle)
        n_w = int((out[..., 0] == 255).sum())
        return [(ref, w, h, out.tobytes(), round(n_w / (h * w), 4), n_w)]

    return _per_blob(
        media,
        ["media_ref", "content"],
        _schema(
            "media_ref string, width int, height int, binarized binary,"
            " frac_white double, n_white int"
        ),
        row,
    )


def _nn_resize(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w, c) array — the single
    implementation both resize_media and resize_stats grade."""
    h, w = px.shape[0], px.shape[1]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return px[ys[:, None], xs[None, :]]


def resize_media(media: DataFrame, out_w: int = 32, out_h: int = 32) -> DataFrame:
    """Nearest-neighbor resize over binary image columns (mapInPandas).

    Decode via _decode_rgba (real for PNG, stubbed fake otherwise); the
    resize itself is real numpy index math.  Output keeps the
    binary-column contract: (media_ref, width, height, content)."""

    def row(ref, content):
        px, _real = _decode_rgba(content)
        return [(ref, out_w, out_h, _nn_resize(px, out_w, out_h).tobytes())]

    return _per_blob(
        media,
        ["media_ref", "content"],
        _schema("media_ref string, width int, height int, content binary"),
        row,
    )


def resize_stats(
    media: DataFrame, out_w: int = 32, out_h: int = 32, strict: bool = False
) -> DataFrame:
    """Fused REAL decode + nearest-neighbor resize + R-channel checksum,
    one python stage.  Same _nn_resize math as resize_media; the sum_r
    of the resized grid is the analytic value the m6 oracle recomputes
    from the generator pixel formulas."""

    def row(ref, content):
        px, _real = _decode_rgba(content, strict)
        return [(ref, out_w, out_h, _sum_r(_nn_resize(px, out_w, out_h)))]

    return _per_blob(
        media,
        ["media_ref", "content"],
        _schema("media_ref string, width int, height int, sum_r long"),
        row,
    )


def _encode_jpeg(s: int) -> bytes:
    tw, th = 2 + s % 3, 1 + s % 2
    t = (np.arange(th * 16)[:, None] // 16) * tw + (np.arange(tw * 16)[None, :] // 16)
    px = ((23 * s + 41 * t) % 256).astype(np.uint8)
    return jpeg.encode_jpeg(px, restart_interval=s % 3)


def synth_jpeg_media(refs: DataFrame) -> DataFrame:
    """REAL-JPEG media store: per ref, deterministic grayscale pixels
    built from constant 16x16 tiles, encoded through the real baseline
    codec (jpeg.encode_jpeg).  Constant tiles quantize EXACTLY under the
    flat step-8 table (DC = 8*(v-128) is a step multiple; AC = 0), so the
    decode side reproduces every pixel bit-exactly and a SQL oracle can
    recompute downstream checksums analytically:

      tiles across tw = 2 + seed % 3, tiles down th = 1 + seed % 2
      w = 16*tw, h = 16*th; tile t (row-major, 0..tw*th-1) has constant
      value v_t = (23*seed + 41*t) % 256
    The restart interval rotates with seed % 3 in {0, 1, 2} so the graded
    path also exercises DRI/RSTn framing and DC-predictor resets.

    Input: (media_ref string, seed long).  Output matches
    synth_media_table: (media_ref, content, media_kind, n_bytes)."""
    return _synth(refs, "image", _encode_jpeg)


def jpeg_stats(media: DataFrame, strict: bool = False) -> DataFrame:
    """REAL JPEG decode + stats fused in one python stage: marker parse,
    Huffman entropy decode, dequant + IDCT, then (width, height, R-channel
    sum) per blob — the m8 oracle recomputes sum_r analytically from the
    generator tile formulas.  Non-JPEG blobs raise under strict (the
    PIL/ffmpeg drop-in boundary) or report n/a dims with sum_r = -1."""

    def row(ref, content):
        b = bytes(content or b"")
        if jpeg.is_jpeg(b):
            rgb = jpeg.decode_jpeg(b)
            return [(ref, rgb.shape[1], rgb.shape[0], _sum_r(rgb))]
        if strict:
            raise NotImplementedError("non-JPEG decode requires PIL/ffmpeg, not available")
        return [(ref, 0, 0, -1)]

    return _per_blob(
        media,
        ["media_ref", "content"],
        _schema("media_ref string, width int, height int, sum_r long"),
        row,
    )


# ------------------------------------------------------- audio (WAV/PCM)
def _encode_wav(s: int, retag: int = 0) -> bytes:
    i = np.arange(500 + s % 300, dtype=np.int64)
    samples = (((37 * s + 11 * i) % 2003) - 1001).astype(np.int16)
    info = (b"c" * (1 + s % 3)) if retag else None
    return wav.encode_wav(samples, 8000 + 100 * (s % 5), info=info)


def synth_wav_media(refs: DataFrame) -> DataFrame:
    """REAL-audio media store: per ref, a genuine RIFF/WAVE blob
    (functions/wav.py) with SQL-replicable integer samples:

      sample_rate = 8000 + 100 * (seed % 5)
      n_samples   = 500 + seed % 300
      sample[i]   = ((37*seed + 11*i) % 2003) - 1001   (int16-safe)

    Input (media_ref string, seed long); output matches
    synth_media_table: (media_ref, content, media_kind, n_bytes)."""
    return _synth(refs, "audio", _encode_wav)


def wav_stats(media: DataFrame, strict: bool = False) -> DataFrame:
    """REAL audio decode + stats in one python stage: RIFF chunk-walk,
    PCM16 samples out, (rate, count, amplitude sum) per blob — the
    feature row an audio-quality filter keys on.  Non-WAV blobs raise
    under strict (the codec drop-in boundary) or fall back to zeroed
    stats with n_samples = -1 (clearly marked undecodable)."""

    def row(ref, content):
        b = bytes(content or b"")
        if wav.is_wav(b):
            rate, samples = wav.decode_wav(b)
            return [(ref, rate, len(samples), int(samples.astype(np.int64).sum()))]
        if strict:
            raise NotImplementedError("non-WAV audio decode requires ffmpeg, not available")
        return [(ref, 0, -1, 0)]

    return _per_blob(
        media,
        ["media_ref", "content"],
        _schema("media_ref string, sample_rate int, n_samples int, sum_amp long"),
        row,
    )


# ------------------------------------------------- multi-frame container
# Minimal motion-PNG container so VIDEO decode is real too, not only
# still images: magic + frame count + length-prefixed PNG frames.  The
# length prefixes give decoders O(1) seek past unsampled frames — the
# shape an MP4 atom index / MJPEG stream has.
MPNG_MAGIC = b"MPNG"


def encode_mpng(frames: list[bytes]) -> bytes:
    out = [MPNG_MAGIC, struct.pack(">I", len(frames))]
    for fb in frames:
        out.append(struct.pack(">I", len(fb)))
        out.append(fb)
    return b"".join(out)


def is_mpng(data: bytes | None) -> bool:
    return bool(data) and bytes(data[:4]) == MPNG_MAGIC


def parse_mpng(data: bytes) -> list[bytes]:
    """Container bytes -> per-frame PNG blobs (no pixel decode)."""
    n = struct.unpack(">I", data[4:8])[0]
    frames, off = [], 8
    for _ in range(n):
        ln = struct.unpack(">I", data[off : off + 4])[0]
        frames.append(data[off + 4 : off + 4 + ln])
        off += 4 + ln
    return frames


def _encode_png_video(s: int, refilter: int = 0) -> bytes:
    nf, w, h = 3 + s % 8, 8 + s % 5, 8 + s % 3
    i = np.arange(w * h, dtype=np.int64)
    frames = []
    for f in range(nf):
        r, g, b = (5 * s + 7 * f + 11 * i) % 256, (3 * s + 13 * f + 17 * i) % 256, (s + f + i) % 5
        frames.append(png.encode_png(_rgba(h, w, r, g, b), filter_type=(s + f + refilter) % 5))
    return encode_mpng(frames)


def synth_png_video(refs: DataFrame) -> DataFrame:
    """REAL-video media store: per ref, an MPNG container of genuine PNG
    frames with SQL-replicable pixel formulas (the m3 oracle recomputes
    per-frame channel sums analytically):

      n_frames = 3 + seed % 8,  w = 8 + seed % 5,  h = 8 + seed % 3
      frame f, pixel i (row-major):
        R = (5*seed + 7*f + 11*i) % 256
        G = (3*seed + 13*f + 17*i) % 256
        B = (seed + f + i) % 5,  A = 255
    The scanline filter rotates with (seed + f) % 5 so one container
    exercises every decoder filter branch.

    Input: (media_ref string, seed long); output matches
    synth_media_table: (media_ref, content, media_kind, n_bytes)."""
    return _synth(refs, "video", _encode_png_video)


def sample_frame_stats(
    media: DataFrame, every_k: int = 4, strict: bool = False
) -> DataFrame:
    """Fused sample-every-k-th-frame + REAL per-frame decode + stats, one
    python stage (CLAUDE.md perf rule 1: never chain two pandas ops in a
    stage).  MPNG containers parse for real — unsampled frames are
    SKIPPED via the length prefix, never inflated — and each sampled
    frame goes through the full PNG decode; non-container blobs raise
    under strict (the ffmpeg drop-in boundary), else fall back to the
    fake single-frame decode.

    Output: (media_ref, frame_idx, n_frames, width, height, sum_r) —
    sum_r = sum of the decoded R channel, the analytic per-frame checksum
    the m3 oracle recomputes in SQL."""

    def row(ref, content):
        b = bytes(content or b"")
        if is_mpng(b):
            frames = parse_mpng(b)
            n = len(frames)
            sampled = ((fi, png.decode_png(frames[fi])) for fi in range(0, n, every_k))
        elif strict:
            raise NotImplementedError("non-MPNG video decode requires ffmpeg, not available")
        else:
            n, sampled = 1, [(0, _decode_rgba(b)[0])]
        return [(ref, fi, n, px.shape[1], px.shape[0], _sum_r(px)) for fi, px in sampled]

    return _per_blob(
        media,
        ["media_ref", "content"],
        _schema(
            "media_ref string, frame_idx int, n_frames int, width int, height int,"
            " sum_r long"
        ),
        row,
    )


def frame_sample(media: DataFrame, every_k: int = 10) -> DataFrame:
    """Sample every k-th frame from video blobs: one OUTPUT ROW PER KEPT
    FRAME — the batch-shape contract a real decoder (ffmpeg) would have.
    Frame count/bytes are derived deterministically from the blob (the
    stubbed decode); frames are fixed-size slices of the blob, cycled."""

    def row(ref, content, kind):
        b = np.frombuffer(content or b"", dtype=np.uint8)
        n_frames = 1 if kind == "image" else 1 + _fake_seed(b) % 120
        fsize = max(len(b) // max(n_frames, 1), 1)
        starts = ((fi, (fi * fsize) % max(len(b), 1)) for fi in range(0, n_frames, every_k))
        return [(ref, fi, n_frames, b[st : st + fsize].tobytes()) for fi, st in starts]

    return _per_blob(
        media,
        ["media_ref", "content", "media_kind"],
        _schema("media_ref string, frame_idx int, n_frames int, frame binary"),
        row,
    )


def _encode_shifted_png(s: int, shift: int) -> bytes:
    w, h = 16 + s % 17, 16 + s % 13
    i = np.arange(w * h, dtype=np.int64)
    r, g, b = (7 * s + 13 * i) % 255, (11 * s + 29 * i) % 255, (3 * i + s) % 200
    return png.encode_png(_rgba(h, w, r + shift, g + shift, b + shift), filter_type=s % 5)


def synth_shifted_png_media(refs: DataFrame) -> DataFrame:
    """REAL-PNG media store for the perceptual-hash family: deterministic
    RGBA pixels from (seed, shift), encoded through the real codec.  The
    channel formulas are bounded to 254 so a uniform +shift (shift in
    {0, 1}) NEVER wraps — a shifted image is a true brightness variant
    whose bytes differ but whose average-hash is bit-identical (see
    average_hash_rgba: every integer floor shifts by exactly +shift, so
    the > comparisons are invariant, ties included):

      w = 16 + seed % 17,  h = 16 + seed % 13,  i = row-major pixel index
      R = (7*seed + 13*i)  % 255 + shift
      G = (11*seed + 29*i) % 255 + shift
      B = (3*i + seed)     % 200 + shift
      A = 255

    Input: (media_ref string, seed long, shift int).  Output matches
    synth_media_table: (media_ref, content, media_kind, n_bytes)."""
    return _synth(refs, "image", _encode_shifted_png, "shift")


def average_hash_rgba(px: np.ndarray) -> int:
    """64-bit average hash (aHash) of an (h, w, 4) uint8 RGBA array, all
    integer arithmetic so the hash is engine- and platform-exact:

      gray      = (R + 2G + B) // 4                    (int luma)
      block[y,x]= floor(mean(gray over the 8x8 grid cell))  (floor division)
      ref       = floor(mean of the 64 block values)
      bit[y,x]  = block[y,x] > ref                     (row-major, MSB first)

    Invariance contract (what makes brightness twins dedup-able): adding
    a uniform +c to every channel adds exactly +c to gray, each block
    floor, and ref — floor((s + c*n)/n) == floor(s/n) + c — so every
    comparison, ties included, is unchanged and the hash is identical."""
    h, w = px.shape[0], px.shape[1]
    if h < 8 or w < 8:
        raise ValueError(f"average_hash_rgba needs >= 8x8 pixels, got {h}x{w}")
    gray = (
        px[..., 0].astype(np.int64) + 2 * px[..., 1].astype(np.int64) + px[..., 2]
    ) // 4
    ys = [y * h // 8 for y in range(9)]
    xs = [x * w // 8 for x in range(9)]
    blocks = np.empty((8, 8), dtype=np.int64)
    for by in range(8):
        for bx in range(8):
            blk = gray[ys[by] : ys[by + 1], xs[bx] : xs[bx + 1]]
            blocks[by, bx] = int(blk.sum()) // blk.size
    ref = int(blocks.sum()) // 64
    val = 0
    for bit in (blocks > ref).flatten():
        val = (val << 1) | int(bit)
    return val


def average_hash_media(media: DataFrame, strict: bool = True) -> DataFrame:
    """mapInPandas perceptual hashing over binary image columns: decode
    the blob (REAL decode for PNG/JPEG), compute the integer-exact 64-bit
    average hash, emit it as a 16-hex-char string (no int64 sign games).
    Group-by this column to find brightness/re-encode near-duplicates
    that an exact byte hash misses — the image-side analog of the text
    MinHash tier (reference stores media by content hash only,
    share_func.py download path).  Lax mode skips a blob that decodes to
    fewer than 8x8 pixels (a short fake-decoded blob); strict raises."""

    def row(ref, content):
        px, _real = _decode_rgba(content, strict)
        if not strict and min(px.shape[:2]) < 8:
            return []
        return [(ref, px.shape[1], px.shape[0], f"{average_hash_rgba(px):016x}")]

    return _per_blob(
        media,
        ["media_ref", "content"],
        _schema("media_ref string, width int, height int, ahash string"),
        row,
    )


def synth_tagged_wav_media(refs: DataFrame) -> DataFrame:
    """REAL-audio media store for the sample-dedup family: same integer
    sample formulas as synth_wav_media, plus a ``retag`` column — retag=1
    re-encodes with a LIST/INFO metadata chunk (comment length varies
    with the seed so both word-alignment paths are exercised): the BYTES
    differ, the PCM samples do not.  Input (media_ref, seed long,
    retag int); output matches synth_media_table."""
    return _synth(refs, "audio", _encode_wav, "retag")


def audio_fingerprint_media(media: DataFrame, strict: bool = True) -> DataFrame:
    """Sample-level audio fingerprint in one python stage: REAL RIFF
    chunk-walk decode (functions/wav.py), then md5 over (rate || raw PCM
    bytes) — identical audio re-encoded with different container
    metadata fingerprints identically, while the byte-level content hash
    (the reference's media-store key) differs.  Group by the fingerprint
    to dedup.  Output (media_ref, rate, n_samples, pcm_md5)."""

    def row(ref, content):
        b = bytes(content or b"")
        if not wav.is_wav(b):
            if strict:
                raise NotImplementedError("non-WAV audio decode not available")
            return []
        rate, samples = wav.decode_wav(b)
        fp = hashlib.md5(str(rate).encode() + b"|" + samples.tobytes()).hexdigest()
        return [(ref, rate, len(samples), fp)]

    return _per_blob(
        media,
        ["media_ref", "content"],
        _schema("media_ref string, rate int, n_samples int, pcm_md5 string"),
        row,
    )


def synth_tagged_png_video(refs: DataFrame) -> DataFrame:
    """REAL-video media store for the frame-dedup family: same pixel
    formulas as synth_png_video, plus a ``refilter`` column — refilter=1
    re-encodes every frame with the NEXT scanline filter ((s+f+1) % 5
    instead of (s+f) % 5): the PNG byte streams differ, the decoded
    frames do not (all five filters are lossless).  Input (media_ref,
    seed long, refilter int); output matches synth_media_table."""
    return _synth(refs, "video", _encode_png_video, "refilter")


def video_fingerprint_media(media: DataFrame, strict: bool = True) -> DataFrame:
    """Frame-level video fingerprint in one python stage: MPNG container
    walk + REAL per-frame PNG decode, then md5 over the concatenated
    decoded frame pixels (dims included) — a re-encoded container (same
    frames, different scanline filters / compression) fingerprints
    identically while its bytes, and the byte-level media-store key,
    differ.  Output (media_ref, n_frames, frames_md5)."""

    def row(ref, content):
        b = bytes(content or b"")
        if not is_mpng(b):
            if strict:
                raise NotImplementedError("non-MPNG video decode not available")
            return []
        h = hashlib.md5()
        frames = parse_mpng(b)
        for fb in frames:
            px = png.decode_png(fb)
            h.update(np.array(px.shape, dtype=np.int64).tobytes())
            h.update(px.tobytes())
        return [(ref, len(frames), h.hexdigest())]

    return _per_blob(
        media,
        ["media_ref", "content"],
        _schema("media_ref string, n_frames int, frames_md5 string"),
        row,
    )


def _encode_tagged_png_image(s: int) -> bytes:
    text = {"Title": f"doc{s}"}
    if s % 11 != 0:
        text["Software"] = f"sw{s % 7}"
    return png.encode_png(_image_px(s), filter_type=s % 5, text=text)


def synth_png_media_tagged(refs: DataFrame) -> DataFrame:
    """synth_png_media's pixel formulas, plus spec tEXt metadata chunks
    (png.encode_png(text=)): Title = 'doc<seed>' always; Software =
    'sw<seed % 7>' except when seed % 11 == 0 (absent — extractors must
    handle missing keys, not just present ones).  Bytes therefore carry
    REAL in-band metadata the way crawled images do (Title/Software are
    the PNG spec's registered keywords)."""
    return _synth(refs, "image", _encode_tagged_png_image)


def extract_media_text(media: DataFrame, strict: bool = False) -> DataFrame:
    """In-band metadata extraction over binary media columns
    (png.png_text_chunks): per image its tEXt keyword map projected to
    the registered Title/Software keys plus the key count — WITHOUT
    inflating pixels (the chunk walk stops at IDAT boundaries' headers),
    which is the point: a 100 TB media sweep reads metadata at chunk-
    header cost, deciding what to decode later.  Non-PNG blobs: strict
    raises (codec boundary), lax yields a null row."""

    def row(ref, content):
        try:
            chunks = png.png_text_chunks(content or b"")
        except ValueError:
            if strict:
                raise
            return [(ref, None, None, -1)]
        return [(ref, chunks.get("Title"), chunks.get("Software"), len(chunks))]

    return _per_blob(media, ["media_ref", "content"], MEDIA_TEXT, row)
