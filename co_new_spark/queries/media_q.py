"""Real-codec multimodal entries (round-4 verdict ask #4, extended).

Each entry synthesizes a REAL uncompressed media payload per document
(deterministic pure function of doc_id), pushes it through the real
pure-numpy decoder (operators/media.py: RIFF/WAVE PCM, 24-bit BMP), and
emits features computed FROM THE DECODED SAMPLES/PIXELS.  The DuckDB oracle
re-derives the same features arithmetically from doc_id — it never sees the
payload — so the two engines agree only if encode -> container bytes ->
decode is lossless and correctly ordered:

* mm_wav_decode: a byte-order, header-offset, or chunk-walk bug changes
  n_frames/sumsq;
* mm_bmp_decode: a BGR<->RGB mixup changes corner_red, a bottom-up row-flip
  bug changes it too (the pixel function depends on y), and stride-padding
  mistakes change pix_sum.

Scale shape: one projection of doc_id into mapInPandas (Arrow batches,
partition-parallel, no shuffle until the driver's comparison sort); the
synthesize step stands in for reading a binary column off the fact table.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators import media
from ..sources.tables import load

# WAV synthesis parameters (shared constants between engine and oracle —
# the FEATURES are computed independently on each side)
_WAV_MOD = 2001


def _per_doc(spark: SparkSession, sf: str,
             features: Callable[[int], tuple], schema: str) -> DataFrame:
    """(doc_id, *features(doc_id)) per document, ordered by doc_id.
    ``schema`` is the DDL of the feature columns.  Per-doc codec work is the
    dominant cost and embarrassingly parallel, so the compact id rows are
    spread across slots before the one mapInPandas."""
    from .training import _spread

    schema = f"doc_id long, {schema}"
    columns = [c.split()[0] for c in schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [(did, *features(did)) for did in map(int, pdf["doc_id"])]
            yield pd.DataFrame(rows, columns=columns)

    docs = _spread(load(spark, sf, "documents").select("doc_id"))
    return docs.mapInPandas(batches, schema).orderBy("doc_id")


def _wav_params(doc_id: int) -> tuple[int, int, int]:
    return (1 + doc_id % 2,            # n_channels
            8000 + 1000 * (doc_id % 3),  # sample_rate
            64 + doc_id % 64)          # n_frames


def _wav(did: int) -> dict:
    """The doc's synthesized PCM through a REAL WAV encode -> decode; every
    feature is computed from the DECODED bytes."""
    nch, rate, nf = _wav_params(did)
    i = np.arange(nch * nf, dtype=np.int64)
    flat = ((did * 31 + i * 7) % _WAV_MOD - 1000).astype(np.int16)
    return media.decode_wav(media.encode_wav(flat, rate, nch))


def _wav_features(did: int) -> tuple:
    m = _wav(did)
    s = m["samples"].astype(np.int64)
    return (m["n_channels"], m["sample_rate"], m["n_frames"],
            m["n_frames"] * 1_000_000 // m["sample_rate"], int((s * s).sum()))


def t_wav_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc audio features from a REAL WAV decode of synthesized PCM."""
    return _per_doc(spark, sf, _wav_features,
                    "n_channels long, sample_rate long, n_frames long, "
                    "duration_us long, sumsq long")


SQL_WAV_DECODE = f"""
WITH p AS (
  SELECT doc_id, 1 + doc_id % 2 AS nch,
         8000 + 1000 * (doc_id % 3) AS rate,
         64 + doc_id % 64 AS n_frames
  FROM documents
),
s AS (SELECT i FROM generate_series(0, 253) AS t(i)),
x AS (
  SELECT p.doc_id, p.nch, p.rate, p.n_frames,
         (p.doc_id * 31 + s.i * 7) % {_WAV_MOD} - 1000 AS v
  FROM p JOIN s ON s.i < p.nch * p.n_frames
)
SELECT doc_id, CAST(nch AS BIGINT) AS n_channels,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_frames * 1000000 // rate AS BIGINT) AS duration_us,
       CAST(sum(v * v) AS BIGINT) AS sumsq
FROM x GROUP BY doc_id, nch, rate, n_frames ORDER BY doc_id
"""


def _bmp_features(did: int) -> tuple:
    w, h = 4 + did % 5, 3 + did % 4
    ys, xs = np.mgrid[0:h, 0:w]
    r = (did * 7 + ys * 13 + xs * 3) % 256
    px = np.stack([r, (r + 11) % 256, (r + 5) % 256], axis=-1).astype(np.uint8)
    dec = media.decode_bmp(media.encode_bmp(px))
    return (dec.shape[1], dec.shape[0], dec.shape[2],
            int(dec.astype(np.int64).sum()), int(dec[0, 0, 0]))


def t_bmp_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc image features from a REAL BMP decode of synthesized pixels.

    corner_red = decoded[0, 0, red]: catches BGR<->RGB channel mixups AND
    bottom-up/top-down row-flip bugs (the pixel value depends on y)."""
    return _per_doc(spark, sf, _bmp_features,
                    "width long, height long, n_channels long, "
                    "pix_sum long, corner_red long")


SQL_BMP_DECODE = """
WITH p AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents
),
g AS (SELECT x, y FROM generate_series(0, 8) AS gx(x),
                       generate_series(0, 6) AS gy(y)),
px AS (
  SELECT p.doc_id, p.w, p.h,
         (p.doc_id * 7 + g.y * 13 + g.x * 3) % 256 AS r
  FROM p JOIN g ON g.x < p.w AND g.y < p.h
)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS n_channels,
       CAST(sum(r + (r + 11) % 256 + (r + 5) % 256) AS BIGINT) AS pix_sum,
       CAST(doc_id * 7 % 256 AS BIGINT) AS corner_red
FROM px GROUP BY doc_id, w, h ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# mm_audio_energy — windowed frame-energy extraction (the VAD / silence-trim
# primitive: speech-data curation cuts clips on per-window energy).  Same
# real-decode protocol as mm_wav_decode, but the feature is STRUCTURAL: the
# decoded interleaved stream is re-shaped into fixed 32-FRAME windows
# (nch * 32 consecutive interleaved values — a channel-interleave or
# window-boundary bug shifts energies between windows and breaks the hash),
# each window's energy is an exact int64 sum of squares, and the per-doc
# result carries total/max/argmax (ties -> first window).  The trailing
# partial window is dropped (floor), the standard frame-analysis choice.
# ---------------------------------------------------------------------------

_WIN_F = 32  # frames per analysis window


def _energy_features(did: int) -> tuple:
    m = _wav(did)
    s = m["samples"].astype(np.int64)
    nw = m["n_frames"] // _WIN_F
    w = s[: nw * _WIN_F * m["n_channels"]].reshape(nw, -1)
    en = (w * w).sum(axis=1)
    k = int(en.argmax())  # numpy argmax: first max — ties->first
    return nw, int(en.sum()), int(en[k]), k


def t_audio_energy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc windowed energy from a REAL WAV decode: (doc_id, n_windows,
    total_sq, max_win_sq, argmax_win)."""
    return _per_doc(spark, sf, _energy_features,
                    "n_windows long, total_sq long, max_win_sq long, "
                    "argmax_win long")


SQL_AUDIO_ENERGY = f"""
WITH p AS (
  SELECT doc_id, 1 + doc_id % 2 AS nch,
         64 + doc_id % 64 AS n_frames
  FROM documents
),
s AS (SELECT i FROM generate_series(0, 253) AS t(i)),
x AS (
  SELECT p.doc_id, (p.n_frames // {_WIN_F}) AS nw,
         s.i // (p.nch * {_WIN_F}) AS win,
         (p.doc_id * 31 + s.i * 7) % {_WAV_MOD} - 1000 AS v
  FROM p JOIN s ON s.i < p.nch * (p.n_frames // {_WIN_F}) * {_WIN_F}
),
we AS (
  SELECT doc_id, nw, win, sum(v * v) AS en
  FROM x GROUP BY doc_id, nw, win
),
r AS (
  SELECT doc_id, nw, win, en,
         sum(en) OVER (PARTITION BY doc_id) AS tot,
         row_number() OVER (PARTITION BY doc_id ORDER BY en DESC, win)
           AS rn
  FROM we
)
SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
       CAST(tot AS BIGINT) AS total_sq, CAST(en AS BIGINT) AS max_win_sq,
       CAST(win AS BIGINT) AS argmax_win
FROM r WHERE rn = 1 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# mm_png_decode — REAL compressed-image decode (round-5 upgrade of the
# codec story): synthesize pixels per doc, encode to PNG (stdlib zlib
# deflate), decode with the pure-numpy PNG decoder, emit features from the
# DECODED pixels.  doc_id varies BOTH the channel layout (gray/RGB/RGBA)
# and the scanline filter (0..4), so the corpus exercises every unfilter
# path — incl. the Paeth predictor — against an oracle that re-derives the
# features arithmetically and never sees a byte of the container: the
# entries agree only if deflate -> chunk walk -> inflate -> unfilter is
# lossless for every (layout, filter) combination.
# ---------------------------------------------------------------------------


def _png_params(did: int) -> tuple[int, int, int, int]:
    return (5 + did % 6, 4 + did % 5,      # w, h
            (1, 3, 4)[did % 3],            # channels
            did % 5)                       # scanline filter type


def _png(did: int) -> np.ndarray:
    """The doc's synthesized pixels through a REAL PNG encode -> decode
    (2-D when the layout is gray)."""
    w, h, ch, ft = _png_params(did)
    ys, xs, cs = np.mgrid[0:h, 0:w, 0:ch]
    px = ((did * 11 + ys * 17 + xs * 5 + cs * 29) % 256).astype(np.uint8)
    if ch == 1:
        px = px[:, :, 0]
    return media.decode_png(media.encode_png(px, filter_type=ft))


def _png_features(did: int) -> tuple:
    dec = _png(did)
    nch = 1 if dec.ndim == 2 else dec.shape[2]
    corner = dec[0, 0] if dec.ndim == 2 else dec[0, 0, 0]
    return (dec.shape[1], dec.shape[0], nch, _png_params(did)[3],
            int(dec.astype(np.int64).sum()), int(corner))


def t_png_decode(spark: SparkSession, sf: str) -> DataFrame:
    return _per_doc(spark, sf, _png_features,
                    "width long, height long, n_channels long, "
                    "filter_type long, pix_sum long, corner long")


SQL_PNG_DECODE = """
WITH p AS (
  SELECT doc_id, 5 + doc_id % 6 AS w, 4 + doc_id % 5 AS h,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch,
         doc_id % 5 AS ft
  FROM documents
),
s AS (SELECT i FROM generate_series(0, 439) AS t(i)),
x AS (
  SELECT p.doc_id, p.w, p.h, p.ch, p.ft,
         (p.doc_id * 11
          + (s.i // (p.w * p.ch)) * 17
          + ((s.i % (p.w * p.ch)) // p.ch) * 5
          + (s.i % p.ch) * 29) % 256 AS v
  FROM p JOIN s ON s.i < p.w * p.h * p.ch
)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(ch AS BIGINT) AS n_channels, CAST(ft AS BIGINT) AS filter_type,
       CAST(sum(v) AS BIGINT) AS pix_sum,
       CAST(doc_id * 11 % 256 AS BIGINT) AS corner
FROM x GROUP BY doc_id, w, h, ch, ft ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# mm_thumbnail — REAL resize over REAL decoded pixels: the remaining verb of
# the multimodal quartet (decode / feature-extract / RESIZE / frame-sample).
# PNG-decode the synthesized image, crop to even dims, 2x2 integer box
# filter (exact floor mean — no float resampling, so the oracle re-derives
# every thumbnail pixel arithmetically), emit thumbnail geometry + sums.
# A one-pixel shift, channel mixup, or off-by-one crop changes thumb_sum.
# ---------------------------------------------------------------------------


def _thumbnail_features(did: int) -> tuple:
    dec = _png(did)
    if dec.ndim == 2:
        dec = dec[:, :, None]
    h2, w2 = dec.shape[0] // 2, dec.shape[1] // 2
    crop = dec[: h2 * 2, : w2 * 2].astype(np.int64)
    thumb = crop.reshape(h2, 2, w2, 2, -1).sum(axis=(1, 3)) // 4
    return w2, h2, int(thumb.sum()), int(thumb[0, 0, 0])


def t_thumbnail(spark: SparkSession, sf: str) -> DataFrame:
    return _per_doc(spark, sf, _thumbnail_features,
                    "th_w long, th_h long, thumb_sum long, thumb_corner long")


SQL_THUMBNAIL = """
WITH p AS (
  SELECT doc_id, 5 + doc_id % 6 AS w, 4 + doc_id % 5 AS h,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
  FROM documents
),
s AS (SELECT i FROM generate_series(0, 439) AS t(i)),
x AS (
  SELECT p.doc_id,
         (p.w // 2) AS w2, (p.h // 2) AS h2,
         (s.i // (p.w * p.ch)) AS y,
         ((s.i % (p.w * p.ch)) // p.ch) AS xx,
         (s.i % p.ch) AS c,
         (p.doc_id * 11
          + (s.i // (p.w * p.ch)) * 17
          + ((s.i % (p.w * p.ch)) // p.ch) * 5
          + (s.i % p.ch) * 29) % 256 AS v
  FROM p JOIN s ON s.i < p.w * p.h * p.ch
),
tb AS (  -- exact 2x2 box filter on the cropped-even raster
  SELECT doc_id, w2, h2, y // 2 AS ty, xx // 2 AS tx, c,
         sum(v) // 4 AS tv
  FROM x WHERE y < 2 * h2 AND xx < 2 * w2
  GROUP BY doc_id, w2, h2, y // 2, xx // 2, c
)
SELECT doc_id, CAST(w2 AS BIGINT) AS th_w, CAST(h2 AS BIGINT) AS th_h,
       CAST(sum(tv) AS BIGINT) AS thumb_sum,
       CAST(max(CASE WHEN ty = 0 AND tx = 0 AND c = 0 THEN tv END)
            AS BIGINT) AS thumb_corner
FROM tb GROUP BY doc_id, w2, h2 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# mm_gif_decode — REAL palette-image decode through the GIF89a LZW codec
# (operators/media.py: variable-width LSB-first codes, CLEAR/EOI, KwKwK,
# width growth at every table-ceiling crossing).  doc_id varies the image
# geometry AND the palette size (4/8/16 colors -> LZW min code size
# 2/3/4), so the corpus exercises the width-growth schedule from three
# different starting widths.  The oracle re-derives index sums, palette-
# mapped RGB sums and the corner index arithmetically from doc_id — it
# never sees a byte — so agreement proves LZW encode -> sub-block framing
# -> decode is index-exact and the palette mapping is ordered correctly.
# ---------------------------------------------------------------------------


def _gif_params(did: int) -> tuple[int, int, int]:
    return 4 + did % 5, 3 + did % 4, (4, 8, 16)[did % 3]  # w, h, ncolors


def _gif_features(did: int) -> tuple:
    w, h, ncol = _gif_params(did)
    ys, xs = np.mgrid[0:h, 0:w]
    idx = ((did * 7 + ys * 13 + xs * 3) % ncol).astype(np.uint8)
    ci, cc = np.mgrid[0:ncol, 0:3]
    pal = ((ci * 37 + cc * 11 + did) % 256).astype(np.uint8)
    dec, dpal = media.decode_gif(media.encode_gif(idx, pal))
    rgb = dpal[dec].astype(np.int64)
    return (dec.shape[1], dec.shape[0], len(dpal),
            int(dec.astype(np.int64).sum()), int(rgb.sum()), int(dec[0, 0]))


def t_gif_decode(spark: SparkSession, sf: str) -> DataFrame:
    return _per_doc(spark, sf, _gif_features,
                    "width long, height long, n_colors long, idx_sum long, "
                    "rgb_sum long, corner_idx long")


SQL_GIF_DECODE = """
WITH p AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
         CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END AS ncol
  FROM documents
),
s AS (SELECT i FROM generate_series(0, 47) AS t(i)),
x AS (
  SELECT p.doc_id, p.w, p.h, p.ncol,
         (p.doc_id * 7 + (s.i // p.w) * 13 + (s.i % p.w) * 3) % p.ncol AS idx
  FROM p JOIN s ON s.i < p.w * p.h
)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(ncol AS BIGINT) AS n_colors,
       CAST(sum(idx) AS BIGINT) AS idx_sum,
       CAST(sum((idx * 37 + doc_id) % 256
                + (idx * 37 + 11 + doc_id) % 256
                + (idx * 37 + 22 + doc_id) % 256) AS BIGINT) AS rgb_sum,
       CAST(doc_id * 7 % ncol AS BIGINT) AS corner_idx
FROM x GROUP BY doc_id, w, h, ncol ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# mm_jpeg_decode — REAL lossy-codec decode (baseline JPEG, ITU-T T.81):
# marker walk, stream-declared Huffman tables, byte-unstuffed DC/AC entropy
# decode, zigzag, dequant, float64 IDCT.  The corpus is constant-per-block
# images, so the LOSSY reconstruction is arithmetically predictable: the
# only surviving coefficient is the DC, and the decoded block value is
# clip(floor(S*q/8 + .5 + 1e-9) + 128) with S the round-half-away
# quantized 8*(v-128).  The oracle computes that closed form per block —
# it never sees a byte — so agreement proves the ENTIRE container path
# (incl. Huffman round-trip of every DC diff) bit-exact, while the
# format's lossiness (v != rec for q > 1) is faithfully reproduced, not
# averaged away.  doc_id varies geometry AND the quant value q in 1..31.
# ---------------------------------------------------------------------------


def _jpeg_params(did: int) -> tuple[int, int, int]:
    return (8 * (1 + did % 4), 8 * (1 + did % 3), 1 + did % 31)  # w, h, q


def _jpeg_features(did: int) -> tuple:
    w, h, q = _jpeg_params(did)
    bys, bxs = np.mgrid[0:h // 8, 0:w // 8]
    vals = ((did * 31 + bxs * 7 + bys * 13) % 256)
    img = np.kron(vals, np.ones((8, 8))).astype(np.uint8)
    dec = media.decode_jpeg(media.encode_jpeg(img, q=q))
    return (dec.shape[1], dec.shape[0], q, (h // 8) * (w // 8),
            int(dec.astype(np.int64).sum()), int(dec[0, 0]))


def t_jpeg_decode(spark: SparkSession, sf: str) -> DataFrame:
    return _per_doc(spark, sf, _jpeg_features,
                    "width long, height long, q long, n_blocks long, "
                    "pix_sum long, corner long")


SQL_JPEG_DECODE = """
WITH p AS (
  SELECT doc_id, 1 + doc_id % 4 AS bw, 1 + doc_id % 3 AS bh,
         1 + doc_id % 31 AS q
  FROM documents
),
s AS (SELECT i FROM generate_series(0, 11) t(i)),
b AS (
  SELECT p.doc_id, p.bw, p.bh, p.q,
         (p.doc_id * 31 + (s.i % p.bw) * 7 + (s.i // p.bw) * 13) % 256 AS v
  FROM p JOIN s ON s.i < p.bw * p.bh
),
r AS (
  SELECT doc_id, bw, bh, q, v,
         8 * (v - 128) AS t,
         CASE WHEN 8 * (v - 128) < 0
              THEN -((2 * abs(8 * (v - 128)) + q) // (2 * q))
              ELSE (2 * abs(8 * (v - 128)) + q) // (2 * q) END AS sq
  FROM b
),
d AS (
  -- rec is a pure function of (v, q), so ANY block sharing the corner
  -- block's v (which always exists: i = 0 has v = doc_id*31 %% 256)
  -- yields the corner reconstruction
  SELECT doc_id, bw, bh, q, v,
         least(255, greatest(0,
           CAST(floor(sq * q / 8.0 + 0.5 + 1e-9) AS BIGINT) + 128)) AS rec
  FROM r
)
SELECT doc_id, CAST(bw * 8 AS BIGINT) AS width,
       CAST(bh * 8 AS BIGINT) AS height, CAST(q AS BIGINT) AS q,
       CAST(bw * bh AS BIGINT) AS n_blocks,
       CAST(sum(64 * rec) AS BIGINT) AS pix_sum,
       CAST(max(CASE WHEN v = doc_id * 31 % 256 THEN rec END) AS BIGINT)
         AS corner
FROM d GROUP BY doc_id, bw, bh, q ORDER BY doc_id
"""


QUERIES = {
    "mm_wav_decode": (t_wav_decode, SQL_WAV_DECODE),
    "mm_gif_decode": (t_gif_decode, SQL_GIF_DECODE),
    "mm_jpeg_decode": (t_jpeg_decode, SQL_JPEG_DECODE),
    "mm_bmp_decode": (t_bmp_decode, SQL_BMP_DECODE),
    "mm_audio_energy": (t_audio_energy, SQL_AUDIO_ENERGY),
    "mm_png_decode": (t_png_decode, SQL_PNG_DECODE),
    "mm_thumbnail": (t_thumbnail, SQL_THUMBNAIL),
}
