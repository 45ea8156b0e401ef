"""S4 numeric-captcha OCR: the reference's ``recogImage``
(share_func.py:56-66) runs pytesseract over a simple digits-only captcha
and returns the string iff it is all digits, else False.  pytesseract is
not in this container, so the recognizer here is a from-scratch
template matcher over the SAME preprocessing the reference applies —
``functions.multimodal.binarize_rgba`` (share_func.py:194-221) — with
the reference's contract preserved: a clean all-digit read or ``None``.

Pipeline shape (all deterministic, no external libs):

  render_code_rgba(code)  -- synth captcha: 5x7 block-font glyphs at an
                             integer scale on a noisy background whose
                             noise binarizes WHITE (ink binarizes black)
  binarize_rgba(px)       -- the reference's three sequential threshold
                             passes (multimodal.py)
  recog_rgba(px)          -- segment glyphs on blank columns, infer the
                             render scale from the 7-row glyph height,
                             block-downsample each glyph to the 5x7 grid,
                             exact-match against the font templates

Session acquisition (shixin_spider.py:104-119: fetch captcha ->
recogImage -> retry <=3 on a failed read) is mirrored by
``acquire_session_token``: the executor-local session pins the FIRST
code recognized cleanly, retrying with the next deterministic challenge
on failure.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .multimodal import _per_blob, binarize_rgba

# classic 5x7 block font, digits only (the reference's captchas are
# digits-only: `result.isdigit() else False`)
_FONT_ROWS = {
    "0": ("01110", "10001", "10011", "10101", "11001", "10001", "01110"),
    "1": ("00100", "01100", "00100", "00100", "00100", "00100", "01110"),
    "2": ("01110", "10001", "00001", "00010", "00100", "01000", "11111"),
    "3": ("11111", "00010", "00100", "00010", "00001", "10001", "01110"),
    "4": ("00010", "00110", "01010", "10010", "11111", "00010", "00010"),
    "5": ("11111", "10000", "11110", "00001", "00001", "10001", "01110"),
    "6": ("00110", "01000", "10000", "11110", "10001", "10001", "01110"),
    "7": ("11111", "00001", "00010", "00100", "01000", "01000", "01000"),
    "8": ("01110", "10001", "10001", "01110", "10001", "10001", "01110"),
    "9": ("01110", "10001", "10001", "01111", "00001", "00010", "01100"),
}

GLYPH_H, GLYPH_W = 7, 5

# ink must binarize BLACK (R < 90); background and noise must binarize
# WHITE (R >= 90, G >= 136, B > 0) — see binarize_rgba's pass order
_INK = np.array([30, 30, 200, 255], dtype=np.uint8)
_BG = np.array([200, 200, 200, 255], dtype=np.uint8)
_NOISE = np.array([150, 220, 40, 255], dtype=np.uint8)


def _glyph(ch: str) -> np.ndarray:
    return np.array([[c == "1" for c in row] for row in _FONT_ROWS[ch]], dtype=bool)


def _bbox_crop(mask: np.ndarray) -> np.ndarray:
    rows = np.flatnonzero(mask.any(axis=1))
    cols = np.flatnonzero(mask.any(axis=0))
    return mask[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]


# bbox-cropped templates: every digit spans the full 7-row height, so a
# glyph's render scale is its pixel height // 7; widths differ ('1' is 3
# columns after cropping), which the matcher uses as a cheap first key
_TEMPLATES = {ch: _bbox_crop(_glyph(ch)) for ch in _FONT_ROWS}


def render_code_rgba(
    code: str, scale: int = 2, margin: int = 3, noise: int = 0, seed: int = 0
) -> np.ndarray:
    """Deterministic synth captcha: (H, W, 4) uint8 RGBA.  Glyphs are the
    5x7 font at an integer `scale` with one scaled blank column between
    them; `noise` background speckles binarize white (never touch ink)."""
    if not code or any(ch not in _FONT_ROWS for ch in code):
        raise ValueError(f"renderable codes are digits only, got {code!r}")
    w = 2 * margin + (len(code) * (GLYPH_W + 1) - 1) * scale
    h = 2 * margin + GLYPH_H * scale
    px = np.empty((h, w, 4), dtype=np.uint8)
    px[:] = _BG
    ink_mask = np.zeros((h, w), dtype=bool)
    for i, ch in enumerate(code):
        g = np.kron(_glyph(ch), np.ones((scale, scale), dtype=bool))
        x0 = margin + i * (GLYPH_W + 1) * scale
        ink_mask[margin : margin + GLYPH_H * scale, x0 : x0 + GLYPH_W * scale] |= g
    if noise:
        rng = np.random.RandomState(seed)
        ys = rng.randint(0, h, size=noise)
        xs = rng.randint(0, w, size=noise)
        keep = ~ink_mask[ys, xs]
        px[ys[keep], xs[keep]] = _NOISE
    px[ink_mask] = _INK
    return px


def recog_rgba(px: np.ndarray) -> str | None:
    """Binarize, segment on blank columns, exact-match each glyph against
    the font; a clean all-digit read or None (recogImage's contract)."""
    bw = binarize_rgba(px)
    black = bw[..., 0] == 0
    rows = np.flatnonzero(black.any(axis=1))
    if len(rows) == 0:
        return None
    black = black[rows[0] : rows[-1] + 1]
    ink_cols = black.any(axis=0)
    # glyph runs = maximal runs of non-blank columns
    edges = np.diff(ink_cols.astype(np.int8))
    starts = np.flatnonzero(edges == 1) + 1
    ends = np.flatnonzero(edges == -1) + 1
    if ink_cols[0]:
        starts = np.r_[0, starts]
    if ink_cols[-1]:
        ends = np.r_[ends, len(ink_cols)]
    out = []
    for s, e in zip(starts, ends):
        cell = _bbox_crop(black[:, s:e])
        hs, ws = cell.shape
        if hs % GLYPH_H:
            return None
        k = hs // GLYPH_H  # every digit spans the full 7-row height
        if k == 0 or ws % k:
            return None
        down = cell.reshape(GLYPH_H, k, ws // k, k).mean(axis=(1, 3)) > 0.5
        match = [ch for ch, t in _TEMPLATES.items()
                 if t.shape == down.shape and (t == down).all()]
        if len(match) != 1:
            return None
        out.append(match[0])
    return "".join(out) if out else None


RECOG_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("code", T.StringType()),
    ]
)


def recog_captcha(
    media: DataFrame,
    px_col: str = "content",
    w_col: str = "width",
    h_col: str = "height",
) -> DataFrame:
    """(media_ref, code|NULL) from REAL RGBA bytes + dims — the DataFrame
    face of recogImage.  One mapInPandas stage; captchas are tiny, so the
    per-image loop inside the Arrow batch is not a hot path."""

    def row(ref, content, w, h):
        b = np.frombuffer(content or b"", dtype=np.uint8)
        if len(b) != int(w) * int(h) * 4:
            return [(ref, None)]
        return [(ref, recog_rgba(b.reshape(int(h), int(w), 4)))]

    return _per_blob(media, ["media_ref", px_col, w_col, h_col], RECOG_SCHEMA, row)


def render_recog_identity(
    df: DataFrame,
    ref_col: str = "media_ref",
    code_col: str = "code_in",
    scale: int = 2,
    noise: int = 40,
) -> DataFrame:
    """Captcha round-trip for the oracle gate: render each row's code and
    recognize it back, FUSED into one mapInPandas stage (rendering stands
    in for the captcha-image fetch; chaining a render UDF before
    recog_captcha would run two python workers per task — the
    one-python-stage rule, CLAUDE.md perf rule 1).  Output (media_ref,
    code); recognize∘render == identity is the checked invariant."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codes = [
                recog_rgba(render_code_rgba(c, scale=scale, noise=noise, seed=i))
                for i, c in enumerate(pdf[code_col])
            ]
            yield pd.DataFrame({"media_ref": pdf[ref_col], "code": codes})

    return df.select(ref_col, code_col).mapInPandas(fn, RECOG_SCHEMA)


def challenge_code(key: int, salt: int = 0) -> str:
    """Deterministic 4-digit challenge for a session key (the synthetic
    captcha server)."""
    return f"{(key * 2654435761 + salt * 40503) % 10000:04d}"


def acquire_session_token(pid: int, max_tries: int = 3) -> str | None:
    """Per-partition session acquisition, the reference loop
    (shixin_spider.py:104-119): fetch challenge -> binarize -> recognize,
    retry with the next challenge on a failed read, <=3 tries.  With the
    synthetic renderer every read succeeds on try 1; the retry loop is
    the contract the real captcha feed exercises.  ``pid`` -1 (a worker
    run outside a Spark task) wraps to a valid RandomState seed."""
    for attempt in range(max_tries):
        code = challenge_code(pid, attempt)
        seed = (pid + attempt) % 2**32
        got = recog_rgba(render_code_rgba(code, scale=2, noise=40, seed=seed))
        if got is not None and got.isdigit():
            return got
    return None
