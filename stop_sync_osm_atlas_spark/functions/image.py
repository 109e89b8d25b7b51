"""Image bytes handling: real PNG + real baseline JPEG + synthetic stream.

Three byte layouts, one decode contract (bytes -> HxWx3 uint8 or error):

* **Real PNG** (``fmt='png'``, up to ``REAL_PNG_MAX_PIXELS`` pixels):
  a genuine dependency-free PNG implementation — 8-bit RGB IHDR,
  deflate-compressed IDAT, CRC-verified chunks, all five scanline
  filter types on decode (type 0 vectorized as the encode default),
  the ground-truth seed carried in an ancillary ``tEXt`` chunk, which
  the codec tests roundtrip against. The row verdict is decode
  success: the format is lossless and CRC-checked, and a real-world
  PNG may carry an unrelated ``seed`` text chunk.
* **Real baseline JFIF** (``fmt='jpeg'``, up to
  ``REAL_JPEG_MAX_PIXELS`` pixels on the deterministic 1-in-
  ``REAL_JPEG_SAMPLE_MOD`` seed stride — r6, ``functions/jpeg.py``): a
  genuine ITU-T T.81 baseline sequential codec (numpy FDCT/IDCT,
  canonical Huffman built from the stream's own DHT, 4:4:4,
  near-lossless quant), ground-truth seed in a COM segment. The lossy
  >= 40 dB PSNR invariant is a REAL format roundtrip on this path
  (measures the codec's actual quantization + color-transform error,
  ~48 dB). See the REAL_JPEG_SAMPLE_MOD note for why the lossy path
  samples where the PNG path does not.
* **Synthetic stream** (either fmt above its pixel budget): the
  container image libraries (PIL/opencv/turbojpeg) are absent, so
  large images use a clearly-marked deterministic stand-in — the
  stream carries (fmt, w, h, seed) and pixels regenerate from the
  seed. This keeps multi-GB bench fixtures (1.6M rows at 128-160 px)
  from ballooning to tens of GB of incompressible noise while the
  *Spark plumbing* stays identical: binary column in, `mapInPandas`
  Arrow batches, per-batch numpy decode, PSNR invariant,
  corrupt-stream handling.

Analog in the reference: coordinate validation before import
(reference import_data_db.py:60-100 — range checks, NaN laundering) —
here: magic/CRC/Huffman/dims/format validation with per-row error
strings.

Swap-in point for production: replace ``decode_image``'s synthetic
branch with a real PIL/turbojpeg call — the operator contract and all
Spark-side code stay unchanged (the PNG and baseline-JPEG branches
already are real).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .jpeg import decode_jpeg_ex, encode_jpeg, jpeg_seed

MAGIC = b"SYNIMG1"
PNG_SIG = b"\x89PNG\r\n\x1a\n"
JPEG_SIG = b"\xff\xd8"
_FMT_CODES = {"png": 0, "jpeg": 1}
_FMT_NAMES = {v: k for k, v in _FMT_CODES.items()}
# synthetic-"jpeg" simulated loss (above-budget rows only): quantize to
# step 4 -> max err 2 -> PSNR ~46 dB (satisfies the >=40 dB lossy
# invariant by construction).
_JPEG_STEP = 4
# real-PNG byte budget: noise pixels are incompressible, so a real
# stream costs ~3 B/pixel in the fixture parquet; 1024 px (32x32) keeps
# the 200k-row bench fixture ~+150 MB while every pipeline run still
# decodes genuine PNGs on the hot path
REAL_PNG_MAX_PIXELS = 1024
# real-JPEG budget (r6): fmt='jpeg' rows up to this size AND whose seed
# falls on the sample stride below carry genuine baseline JFIF streams.
REAL_JPEG_MAX_PIXELS = 1024
# Why a SAMPLE and not every row (unlike PNG): PNG decode is stdlib
# zlib — native C, the same engine a production deployment uses — so
# putting it on every row is the real 100 TB cost. The JFIF codec's
# Huffman loop is pure Python (~2.5 ms per 32x32 image, measured
# A/B: all-real jpeg rows took the flagship pipeline 11.4 -> 17.7 s),
# which is NOT how a 100 TB deployment decodes JPEG (libjpeg-turbo is
# ~100x faster); an interpreter loop dominating the flagship would
# misrepresent the scale design rather than validate it. The fixture
# therefore carries a deterministic 1-in-8 real-JFIF sample: every
# pipeline run still exercises the genuine decoder end-to-end (~6k
# real streams in the 200k-row bench fixture, ~+0.8 s), the full-real
# path stays one constant away, and decode correctness is graded by
# the dedicated roundtrip/corrupt/fuzz suites regardless.
REAL_JPEG_SAMPLE_MOD = 8
# Decode-side allocation cap (DoS guard): one corrupt header claiming
# 65536 x 65536 would otherwise allocate ~12 GB inside a mapInPandas
# worker and kill the task for the whole batch. 2^24 pixels (= 4096 x
# 4096, ~50 MB decoded) is far above any training-corpus image; rows
# beyond it surface as err='too_large' like any other malformed row.
# The PNG path enforces it BEFORE inflating (bounded decompressobj), so
# a deflate bomb in IDAT can never expand past the claimed-dims budget.
MAX_DECODE_PIXELS = 1 << 24

def synth_pixels(seed: int, w: int, h: int) -> np.ndarray:
    """Ground-truth pixels: seeded noise + gradient + ALU mixing rounds.

    Profile matched to a real JPEG decode (Huffman + IDCT): arithmetic-
    dense passes over a cache-resident uint8 buffer, minimal temporary
    allocation. (The first version allocated several int32 temporaries
    per row — at 32 threads that made the decode stage DRAM-bandwidth-
    bound, which no amount of local parallelism can scale.)
    """
    rng = np.random.default_rng(seed & 0xFFFFFFFFFFFFFFFF)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    grad = np.linspace(0, 64, w).astype(np.uint8)[None, :, None]
    px += grad  # uint8 wraparound == (x + g) % 256
    # 8 deterministic in-place mixing rounds (IDCT-weight stand-in)
    for k in range(8):
        px *= np.uint8(2 * k + 31)
        px += np.uint8(17 + k)
    return px


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data))
    )


def _png_filter_row(ftype: int, cur: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Apply scanline filter ``ftype`` to raw row ``cur`` (encode side)."""
    c = cur.astype(np.int16)
    left = np.zeros_like(c)
    left[bpp:] = c[:-bpp]
    up = prev.astype(np.int16)
    ul = np.zeros_like(up)
    ul[bpp:] = up[:-bpp]
    if ftype == 0:
        out = c
    elif ftype == 1:
        out = c - left
    elif ftype == 2:
        out = c - up
    elif ftype == 3:
        out = c - (left + up) // 2
    elif ftype == 4:
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
        out = c - pred
    else:  # pragma: no cover - guarded by caller
        raise ValueError(f"bad filter {ftype}")
    return (out % 256).astype(np.uint8)


def _png_unfilter_row(
    ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Reconstruct one filtered scanline (decode side; filters 1/3/4 are
    sequential along x by definition, so they loop — only the type-0
    encode default rides the vectorized fast path upstream)."""
    n = row.shape[0]
    out = np.zeros(n, dtype=np.uint8)
    if ftype == 0:
        return row.copy()
    if ftype == 2:
        return (row.astype(np.int16) + prev).astype(np.uint8)
    for x in range(n):
        a = int(out[x - bpp]) if x >= bpp else 0  # left
        bb = int(prev[x])  # up
        cc = int(prev[x - bpp]) if x >= bpp else 0  # upper-left
        if ftype == 1:
            pred = a
        elif ftype == 3:
            pred = (a + bb) // 2
        else:  # 4: Paeth
            p = a + bb - cc
            pa, pb, pc = abs(p - a), abs(p - bb), abs(p - cc)
            pred = a if pa <= pb and pa <= pc else (bb if pb <= pc else cc)
        out[x] = (int(row[x]) + pred) & 0xFF
    return out


def encode_png(
    px: np.ndarray,
    seed: int | None = None,
    level: int = 1,
    filter_type: int = 0,
) -> bytes:
    """HxWx3 uint8 -> a real PNG byte stream (8-bit RGB, non-interlaced).

    ``seed``: optional ground-truth seed, stored in an ancillary tEXt
    chunk (keyword 'seed') so decode-side PSNR checks can re-synthesize
    the reference pixels without a side channel. ``filter_type``
    selects the per-scanline filter (0 = None, the vectorized-decode
    default; 1-4 exercise the full unfilter path in tests).
    """
    h, w, _ = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    flat = np.ascontiguousarray(px).reshape(h, w * 3)
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = filter_type
    if filter_type == 0:
        raw[:, 1:] = flat
    else:
        prev = np.zeros(w * 3, dtype=np.uint8)
        for y in range(h):
            raw[y, 1:] = _png_filter_row(filter_type, flat[y], prev, 3)
            prev = flat[y]
    out = PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if seed is not None:
        out += _png_chunk(b"tEXt", b"seed\x00" + str(int(seed)).encode("ascii"))
    out += _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), level))
    return out + _png_chunk(b"IEND", b"")


def _png_chunks(b: bytes):
    """Yield (tag, data) with CRC verification; raises ValueError."""
    pos = len(PNG_SIG)
    n = len(b)
    while pos < n:
        if pos + 8 > n:
            raise ValueError("png_bad_structure")
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        if pos + 12 + length > n:
            raise ValueError("png_bad_structure")
        data = b[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", b[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + data) != crc:
            raise ValueError("png_crc_mismatch")
        yield tag, data
        pos += 12 + length
        if tag == b"IEND":
            return
    raise ValueError("png_bad_structure")  # no IEND


def _decode_png_ex(
    b: bytes,
) -> tuple[np.ndarray | None, int, int, int | None, str | None]:
    """Real-PNG decode: -> (pixels|None, w, h, seed|None, err|None).

    The tEXt ground-truth seed is captured during the SAME chunk walk
    that parses IHDR/IDAT, so ``decode_image_full`` callers never
    re-parse and re-CRC the stream a second time for the seed.
    """
    seed: int | None = None
    try:
        ihdr = None
        # list + join, not bytes +=: appending reallocates the whole
        # accumulated buffer per chunk, so a stream split into minimal
        # IDAT chunks costs O(S^2) byte copies — a CPU bomb that the
        # allocation guards below never see
        idat_parts: list[bytes] = []
        for tag, data in _png_chunks(b):
            if tag == b"IHDR":
                if ihdr is not None or len(data) != 13:
                    return None, 0, 0, None, "png_bad_structure"
                ihdr = struct.unpack(">IIBBBBB", data)
            elif tag == b"IDAT":
                idat_parts.append(data)
            elif tag == b"tEXt" and data.startswith(b"seed\x00"):
                try:
                    seed = int(data[5:])
                except ValueError:
                    seed = None
    except ValueError as exc:
        return None, 0, 0, seed, str(exc)
    if ihdr is None:
        return None, 0, 0, seed, "png_bad_structure"
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
        return None, w, h, seed, "png_unsupported"
    if w <= 0 or h <= 0 or w > 1 << 16 or h > 1 << 16:
        return None, w, h, seed, "bad_dims"
    if w * h > MAX_DECODE_PIXELS:
        return None, w, h, seed, "too_large"
    stride = 1 + w * 3
    expected = h * stride
    # bounded inflate: never materialize more than the claimed-dims
    # budget + 1 byte, whatever the deflate stream claims to hold
    d = zlib.decompressobj()
    try:
        raw = d.decompress(b"".join(idat_parts), expected + 1)
    except zlib.error:
        return None, w, h, seed, "png_inflate_error"
    if len(raw) != expected or not d.eof:
        return None, w, h, seed, "png_bad_length"
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    ftypes = arr[:, 0]
    if (ftypes > 4).any():
        return None, w, h, seed, "png_bad_filter"
    if (ftypes == 0).all():
        # the encode default: no per-row work at all
        return arr[:, 1:].reshape(h, w, 3).copy(), w, h, seed, None
    px = np.zeros((h, w * 3), dtype=np.uint8)
    prev = np.zeros(w * 3, dtype=np.uint8)
    for y in range(h):
        px[y] = _png_unfilter_row(int(ftypes[y]), arr[y, 1:], prev, 3)
        prev = px[y]
    return px.reshape(h, w, 3), w, h, seed, None


def png_seed(b: bytes) -> int | None:
    """Ground-truth seed from the tEXt ancillary chunk, if present."""
    try:
        for tag, data in _png_chunks(b):
            if tag == b"tEXt" and data.startswith(b"seed\x00"):
                return int(data[5:])
    except (ValueError, UnicodeDecodeError):
        return None
    return None


def ground_truth_seed(b: bytes) -> int | None:
    """Seed for re-synthesizing the reference pixels, any layout."""
    if b is None:
        return None
    if b[: len(PNG_SIG)] == PNG_SIG:
        return png_seed(b)
    if b[: len(JPEG_SIG)] == JPEG_SIG:
        return jpeg_seed(b)
    if len(b) >= len(MAGIC) + 17 and b[: len(MAGIC)] == MAGIC:
        return struct.unpack("<Q", b[len(MAGIC) + 9 : len(MAGIC) + 17])[0]
    return None


def encode_image(seed: int, w: int, h: int, fmt: str) -> bytes:
    if fmt not in _FMT_CODES:
        raise ValueError(f"unknown fmt {fmt!r}")
    if fmt == "png" and 0 < w * h <= REAL_PNG_MAX_PIXELS:
        return encode_png(synth_pixels(seed, w, h), seed=seed)
    if (
        fmt == "jpeg"
        and 0 < w * h <= REAL_JPEG_MAX_PIXELS
        and seed % REAL_JPEG_SAMPLE_MOD == 0
    ):
        return encode_jpeg(synth_pixels(seed, w, h), seed=seed)
    return MAGIC + struct.pack("<BIIQ", _FMT_CODES[fmt], w, h, seed & (2**64 - 1))


def decode_image_full(
    b: bytes,
) -> tuple[np.ndarray | None, int, int, str, int | None, str | None]:
    """bytes -> (pixels|None, w, h, fmt, ground_truth_seed|None, err|None).

    The one-walk decode: the seed rides the same parse as the pixels
    (tEXt chunk for real PNG, header field for the synthetic stream), so
    callers needing both never pay a second chunk walk + CRC pass —
    ``ground_truth_seed`` exists for seed-only callers.
    """
    if b is None:
        return None, 0, 0, "", None, "null_bytes"
    if b[: len(PNG_SIG)] == PNG_SIG:
        px, w, h, seed, e = _decode_png_ex(b)
        return px, w, h, "png", seed, e
    if b[: len(JPEG_SIG)] == JPEG_SIG:
        px, w, h, seed, e = decode_jpeg_ex(b, MAX_DECODE_PIXELS)
        return px, w, h, "jpeg", seed, e
    if len(b) < len(MAGIC) + 17 or b[: len(MAGIC)] != MAGIC:
        return None, 0, 0, "", None, "bad_magic_or_truncated"
    fmt_code, w, h, seed = struct.unpack("<BIIQ", b[len(MAGIC) : len(MAGIC) + 17])
    if fmt_code not in _FMT_NAMES:
        return None, w, h, "", None, "unknown_fmt_code"
    if w <= 0 or h <= 0 or w > 1 << 16 or h > 1 << 16:
        return None, w, h, _FMT_NAMES[fmt_code], seed, "bad_dims"
    if w * h > MAX_DECODE_PIXELS:
        return None, w, h, _FMT_NAMES[fmt_code], seed, "too_large"
    px = synth_pixels(seed, w, h)
    if _FMT_NAMES[fmt_code] == "jpeg":
        # uint8-safe quantization: (x // 4) * 4 + 2 <= 254, no overflow
        px = (px // np.uint8(_JPEG_STEP)) * np.uint8(_JPEG_STEP) + np.uint8(
            _JPEG_STEP // 2
        )
    return px, w, h, _FMT_NAMES[fmt_code], seed, None


def decode_image(b: bytes) -> tuple[np.ndarray | None, int, int, str, str | None]:
    """bytes -> (pixels|None, w, h, fmt, err|None)."""
    px, w, h, fmt, _seed, e = decode_image_full(b)
    return px, w, h, fmt, e


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    # float32 keeps the temporaries half-sized; exact for uint8 inputs
    d = a.astype(np.float32) - b.astype(np.float32)
    mse = float(np.mean(d * d, dtype=np.float64))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


# ---------------------------------------------------------------------------
# Fused prepare pass: decode validation + all per-caption text signals
# ---------------------------------------------------------------------------
# Why Python and not Catalyst expressions: the signals need tokenization
# and token-set membership. In Catalyst that is either higher-order
# array functions (CodegenFallback: interpreted, de-codegens the whole
# projection) or alternation regexes (java.util.regex measured ~1 ms/row
# for the full rule set at 800k rows). Here the caption is tokenized
# ONCE per row inside the (already-paid) Arrow decode batch and scored
# with set membership + precompiled regexes — ~20x cheaper, measured.
# Semantics are pinned to the Catalyst implementations (functions/text,
# operators/scrub) and the independent pandas oracle by the unit +
# golden suites; ASCII-whitespace note: Java's \s is ASCII-only but
# Python's is unicode-aware by default (\xa0 etc.), so every regex and
# strip here is pinned to the ASCII set explicitly (re.ASCII /
# _ASCII_WS) to match the Catalyst mirror byte-for-byte.

import re as _re

from ..fixtures.norm_tables import ALL_STOPWORDS as _SW_ALL
from ..fixtures.norm_tables import STOPWORDS as _SW_BY_LANG
# module-level, NOT inside _text_signals: the cached-import statement
# measured ~0.9 µs/call — ~3% of the whole per-row signal pass on the
# flagship hot path. No cycle: operators/scrub imports only
# fixtures.norm_tables and functions.text, never functions.image.
from ..operators.scrub import scrub_python as _scrub_python
from .text import ASCII_WS as _ASCII_WS

_WS_RE = _re.compile(r"\s+", _re.ASCII)
_SYMBOL_RE = _re.compile(r"[^A-Za-z0-9\s]", _re.ASCII)
_PLACEHOLDER_RE = _re.compile(r"<EMAIL>|<URL>|<PHONE>|<ID>|<TOX>")
_SW_ALL_SET = frozenset(_SW_ALL)
_SW_LANG_SETS = {lang: frozenset(ws) for lang, ws in _SW_BY_LANG.items()}
_LANGS_SORTED = sorted(_SW_BY_LANG)


def _text_signals(cap) -> tuple:
    """(n_words, rep_ratio, symbol_ratio, stop_density, lang, lang_conf,
    scrubbed, pii_only) — exact mirror of the Catalyst rule semantics."""
    scrub_python = _scrub_python
    if not isinstance(cap, str) or not cap.strip(_ASCII_WS):
        scrubbed = scrub_python(cap) if isinstance(cap, str) else None
        return 0, 0.0, 0.0, 0.0, "und", 0.0, scrubbed, False
    w = _WS_RE.split(cap.strip(_ASCII_WS).lower())
    nw = len(w)
    rep = 1.0 - len(set(w)) / nw if nw else 0.0
    nospace = _WS_RE.sub("", cap)
    sym = len(_SYMBOL_RE.findall(nospace)) / len(nospace) if nospace else 0.0
    swd = sum(1 for x in w if x in _SW_ALL_SET) / nw if nw else 0.0
    best_hits, best_lang = max(
        (sum(1 for x in w if x in _SW_LANG_SETS[lang]), lang)
        for lang in _LANGS_SORTED
    )
    lang, conf = ("und", 0.0) if best_hits == 0 else (best_lang, best_hits / nw)
    scrubbed = scrub_python(cap)
    residue = _PLACEHOLDER_RE.sub("", scrubbed).strip(_ASCII_WS)
    pii_only = not residue
    return nw, rep, sym, swd, lang, conf, scrubbed, pii_only


# the _text_signals tuple as columns, in tuple order
TEXT_SIGNALS_SCHEMA = (
    "n_words_py int, rep_ratio double, symbol_ratio_py double, "
    "stop_density_py double, lang_py string, lang_conf_py double, "
    "caption_scrubbed_pre string, pii_only_py boolean"
)
_TEXT_SIGNAL_COLS = [f.split()[0] for f in TEXT_SIGNALS_SCHEMA.split(", ")]

PREPARED_SCHEMA = (
    "image_id string, w int, h int, fmt string, caption string, phash long, "
    "dec_ok boolean, " + TEXT_SIGNALS_SCHEMA
)


def _with_text_signals(pdf: pd.DataFrame) -> pd.DataFrame:
    """Add the TEXT_SIGNALS_SCHEMA columns to one Arrow batch, in place."""
    sig = [_text_signals(cap) for cap in pdf["caption"]]
    cols = map(list, zip(*sig)) if sig else ([],) * len(_TEXT_SIGNAL_COLS)
    for name, col in zip(_TEXT_SIGNAL_COLS, cols):
        pdf[name] = col
    return pdf


def text_signals(df: DataFrame) -> DataFrame:
    """``df`` plus the TEXT_SIGNALS_SCHEMA columns of its ``caption``, in
    one stateless Arrow pass — for frames with no bytes to decode (the
    streaming arms); ``decode_validate_inline`` runs the same per-batch
    helper inside its decode pass."""
    schema = T.StructType(
        df.schema.fields + T.StructType.fromDDL(TEXT_SIGNALS_SCHEMA).fields
    )
    return df.mapInPandas(lambda it: map(_with_text_signals, it), schema=schema)


def decode_validate_inline(pairs: DataFrame) -> DataFrame:
    """Single-pass prepare: decode validation + text signals.

    Carries the full row through the Arrow stage and drops ``bytes`` on
    output — at 100 TB the bytes column dominates I/O, so it is read
    exactly once and no join is needed.
    """

    def _op(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            ok = np.zeros(n, dtype=bool)
            for i, (b, w_meta, h_meta) in enumerate(
                zip(pdf["bytes"], pdf["w"], pdf["h"])
            ):
                px, w, h, fmt, seed, e = decode_image_full(b)
                if e is not None or w != w_meta or h != h_meta:
                    continue
                if fmt == "png" or seed is None:
                    # real-PNG decode already verified CRC + structure +
                    # inflate (lossless: no PSNR re-synthesis on the hot
                    # path); a seedless lossy stream has no ground truth
                    # — decode success is the verdict either way (the
                    # pandas oracle's _decode_ok mirrors this verdict)
                    ok[i] = True
                    continue
                ok[i] = psnr(px, synth_pixels(seed, w, h)) >= 40.0
            out = pdf.drop(columns=["bytes"])
            out["dec_ok"] = ok
            yield _with_text_signals(out)

    return pairs.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    ).mapInPandas(_op, schema=PREPARED_SCHEMA)
