"""Dependency-free baseline JFIF (JPEG) codec — numpy DCT + Huffman.

The r5 PNG codec made the lossless half of the decode contract a real
format roundtrip; this module closes the lossy half: a genuine
ITU-T T.81 baseline sequential encoder/decoder (SOI/APP0/COM/DQT/SOF0/
DHT/SOS/EOI, canonical Huffman from the stream's own DHT segments,
8x8 FDCT/IDCT, JFIF YCbCr color transform, 0xFF byte stuffing) small
enough to audit, used by ``functions/image.py`` for ``fmt='jpeg'`` rows
up to its pixel budget. No image libraries exist in the sandbox; every
constant here is from the public JPEG specification (ITU-T T.81 /
Annex K tables).

Scope (kept to what the pipeline needs — anything else surfaces as a
per-row ``jpeg_unsupported`` error, never a crash):

* encode: 8-bit RGB, 4:4:4 (no chroma subsampling — the fixture's
  noise images make subsampled chroma unrecoverable and would break
  the >= 40 dB lossy invariant), one quant table (DC step 1, AC step
  2: near-lossless by construction, and the quantized coefficient
  ranges provably fit baseline's DC<=11 / AC<=10 bit categories for
  EVERY input), Annex-K luminance Huffman tables referenced by all
  components, optional ground-truth seed in a COM segment.
* decode: baseline SOF0 only (progressive -> jpeg_unsupported), 1-3
  components, 1x1 sampling, 8-bit quant tables, no restart intervals.
  Tables are read from the stream's DQT/DHT (NOT assumed), so any
  conforming baseline 4:4:4 stream decodes, not just ours. Dimension
  and pixel budgets are enforced BEFORE any allocation (the same
  decode-bomb stance as the PNG path).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Spec constants
# ---------------------------------------------------------------------------

# zigzag scan: generated, not transcribed (diagonal walk of T.81 fig 5)
def _zigzag_order() -> np.ndarray:
    order = np.empty(64, dtype=np.int64)
    r = c = 0
    up = True
    for i in range(64):
        order[i] = r * 8 + c
        if up:
            if c == 7:
                r += 1
                up = False
            elif r == 0:
                c += 1
                up = False
            else:
                r -= 1
                c += 1
        else:
            if r == 7:
                c += 1
                up = True
            elif c == 0:
                r += 1
                up = True
            else:
                r += 1
                c -= 1
    return order


ZIGZAG = _zigzag_order()          # natural index of the k-th zigzag coeff
INV_ZIGZAG = np.argsort(ZIGZAG)   # zigzag position of natural index

# Annex-K luminance Huffman tables (public spec constants). The decoder
# never assumes them — it always builds from the stream's DHT — but the
# encoder emits these so our streams look like everyone else's.
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# near-lossless quant table (zigzag order): DC step 1, AC step 2. With
# level-shifted inputs in [-128, 127] the orthonormal FDCT bounds
# |DC| <= 1024 (category 11, the baseline DC maximum) and |AC| <= 1024,
# so AC/2 <= 512 (category 10, the baseline AC maximum) — every input
# encodes, and the reconstruction error stays ~0.6 LSB RMSE (~51 dB).
QTABLE_ZZ = np.full(64, 2, dtype=np.int32)
QTABLE_ZZ[0] = 1

# orthonormal 8x8 DCT-II basis — exactly T.81's FDCT normalization
_N = np.arange(8)
_DCT = np.cos((2 * _N[None, :] + 1) * _N[:, None] * np.pi / 16) * np.sqrt(0.25)
_DCT[0, :] *= np.sqrt(0.5)


def _build_huffman(bits: list[int], vals: list[int]):
    """Canonical Huffman codes -> {symbol: (code, length)} (encode side;
    the decode side builds a full 16-bit LUT from the stream's DHT —
    see _build_decode_lut16)."""
    enc: dict[int, tuple[int, int]] = {}
    by_len: dict[int, dict[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = vals[k]
            enc[sym] = (code, length)
            by_len.setdefault(length, {})[code] = sym
            code += 1
            k += 1
        code <<= 1
    return enc


_DC_ENC = _build_huffman(DC_BITS, DC_VALS)
_AC_ENC = _build_huffman(AC_BITS, AC_VALS)


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    f = px.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _blocks(plane: np.ndarray) -> np.ndarray:
    """HxW float plane (multiple-of-8 dims) -> (n_blocks, 8, 8) in MCU
    raster order (row-major over 8x8 tiles)."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _unblocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(h // 8, w // 8, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(h, w)
    )


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def encode_jpeg(px: np.ndarray, seed: int | None = None) -> bytes:
    """HxWx3 uint8 -> baseline JFIF bytes (4:4:4, near-lossless quant).

    ``seed``: optional ground-truth seed carried in a COM segment
    (``b'seed\\x00' + ascii``), the tEXt-chunk analog of the PNG codec —
    decode-side PSNR checks re-synthesize the reference without a side
    channel.
    """
    h, w, _ = px.shape
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    ycc = _rgb_to_ycbcr(px)
    if (ph, pw) != (h, w):  # edge-replicate to full MCUs
        ycc = np.pad(ycc, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    ycc -= 128.0

    qt = QTABLE_ZZ[INV_ZIGZAG].reshape(8, 8).astype(np.float64)
    comp_zz: list[np.ndarray] = []
    for ci in range(3):
        blocks = _blocks(ycc[..., ci])
        coeff = np.einsum("ij,njk,lk->nil", _DCT, blocks, _DCT)
        q = np.round(coeff / qt).astype(np.int32)
        comp_zz.append(q.reshape(-1, 64)[:, ZIGZAG])

    # entropy loop: inlined bit packing over plain Python ints (numpy
    # scalar getitem and method calls dominate otherwise — measured ~2x)
    dc_enc, ac_enc = _DC_ENC, _AC_ENC
    zrl_code, zrl_len = ac_enc[0xF0]
    eob_code, eob_len = ac_enc[0x00]
    buf = bytearray()
    append = buf.append
    acc = 0
    nbits = 0
    pred = [0, 0, 0]
    rows = [c.tolist() for c in comp_zz]  # python ints once, not per use
    n_mcu = comp_zz[0].shape[0]
    for m in range(n_mcu):
        for ci in range(3):
            zz = rows[ci][m]
            # DC: category + diff bits
            dc = zz[0]
            diff = dc - pred[ci]
            pred[ci] = dc
            cat = diff.bit_length() if diff >= 0 else (-diff).bit_length()
            code, ln = dc_enc[cat]
            if cat:
                acc = (
                    ((acc << ln) | code) << cat
                ) | (diff if diff >= 0 else diff + (1 << cat) - 1)
                nbits += ln + cat
            else:
                acc = (acc << ln) | code
                nbits += ln
            # AC: (run, size) RLE with ZRL/EOB
            run = 0
            last_nz = False
            for k in range(1, 64):
                v = zz[k]
                if v == 0:
                    run += 1
                    last_nz = False
                    continue
                while run >= 16:
                    acc = (acc << zrl_len) | zrl_code
                    nbits += zrl_len
                    run -= 16
                cat = v.bit_length() if v >= 0 else (-v).bit_length()
                code, ln = ac_enc[(run << 4) | cat]
                acc = (
                    ((acc << ln) | code) << cat
                ) | (v if v >= 0 else v + (1 << cat) - 1)
                nbits += ln + cat
                run = 0
                last_nz = k == 63
            if not last_nz:
                acc = (acc << eob_len) | eob_code
                nbits += eob_len
            while nbits >= 8:
                nbits -= 8
                byte = (acc >> nbits) & 0xFF
                append(byte)
                if byte == 0xFF:
                    append(0x00)
            acc &= (1 << nbits) - 1
    out = _BitWriter()
    out.buf, out.acc, out.nbits = buf, acc, nbits

    parts = [b"\xff\xd8"]  # SOI
    parts.append(
        _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    )
    if seed is not None:
        parts.append(_seg(0xFE, b"seed\x00" + str(int(seed)).encode("ascii")))
    parts.append(_seg(0xDB, b"\x00" + QTABLE_ZZ.astype(np.uint8).tobytes()))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid in (1, 2, 3):
        sof += struct.pack(">BBB", cid, 0x11, 0)
    parts.append(_seg(0xC0, sof))
    parts.append(
        _seg(0xC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    )
    parts.append(
        _seg(0xC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    )
    sos = b"\x03" + b"".join(
        struct.pack(">BB", cid, 0x00) for cid in (1, 2, 3)
    ) + b"\x00\x3f\x00"
    parts.append(_seg(0xDA, sos))
    parts.append(out.flush())
    parts.append(b"\xff\xd9")  # EOI
    return b"".join(parts)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _build_decode_lut16(bits: list[int], vals: list[int]) -> list[int]:
    """Canonical codes -> full 16-bit first-stage LUT: lut[window16] =
    (symbol << 8) | code_length, or -1 for an invalid prefix. One list
    index resolves ANY baseline code (max length 16) — no slow path."""
    lut = [-1] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):  # over-full table: not a prefix code
                raise ValueError("jpeg_bad_dht")
            lo = code << (16 - length)
            lut[lo : lo + (1 << (16 - length))] = [
                (vals[k] << 8) | length
            ] * (1 << (16 - length))
            code += 1
            k += 1
        code <<= 1
    return lut


def _build_ac_fast(lut16: list[int]) -> list[tuple | None]:
    """AC fast path: one 16-bit window probe resolves symbol AND value.

    fast[window] is None for an invalid prefix, else a tuple
    ``(total_bits, run, size)`` where total_bits = code length + value
    bits when the value fits in the same window (size == 0 encodes
    EOB/ZRL via run in {-1, 16}); entries whose code+value exceed 16
    bits carry ``(code_bits, run, -size)`` — the decoder reads the
    value with a separate refill (rare: long code AND big category).
    """
    fast: list[tuple | None] = [None] * 65536
    for window in range(65536):
        hit = lut16[window]
        if hit < 0:
            continue
        ln = hit & 0xFF
        rs = hit >> 8
        size = rs & 0x0F
        run = rs >> 4
        if size == 0:
            if run == 0:
                fast[window] = (ln, -1, 0)  # EOB
            elif run == 15:
                fast[window] = (ln, 16, 0)  # ZRL
            # other (run, 0) symbols are undefined in baseline: None
        elif size > 10:
            pass  # category > 10 is not baseline AC: None -> error
        elif ln + size <= 16:
            fast[window] = (ln + size, run, size)
        else:
            fast[window] = (ln, run, -size)
    return fast


from functools import lru_cache as _lru_cache


@_lru_cache(maxsize=16)
def _decode_huffman_tables(data: bytes) -> dict[tuple[int, int], tuple]:
    """One DHT payload -> {(class, id): (lut16, ac_fast)}. Cached on
    the raw payload bytes: a corpus encoded with one table set (ours
    always is — the Annex-K tables) builds each LUT exactly once per
    worker instead of once per image."""
    out: dict[tuple[int, int], tuple] = {}
    pos = 0
    while pos < len(data):
        tc_th = data[pos]
        tc, th = tc_th >> 4, tc_th & 0x0F
        bits = list(data[pos + 1 : pos + 17])
        n = sum(bits)
        vals = list(data[pos + 17 : pos + 17 + n])
        if len(bits) != 16 or len(vals) != n or tc > 1 or th > 3:
            raise ValueError("jpeg_bad_dht")
        if n > 256 or any(v > 255 for v in vals):
            raise ValueError("jpeg_bad_dht")
        lut16 = _build_decode_lut16(bits, vals)
        out[(tc, th)] = (lut16, _build_ac_fast(lut16) if tc == 1 else None)
        pos += 17 + n
    return out


def decode_jpeg_ex(
    b: bytes, max_pixels: int
) -> tuple[np.ndarray | None, int, int, int | None, str | None]:
    """Baseline JFIF decode -> (pixels|None, w, h, seed|None, err|None).

    Every malformed condition returns a per-row error string (never
    raises); ``max_pixels`` is enforced from the SOF header BEFORE any
    pixel/coefficient allocation.
    """
    seed: int | None = None
    try:
        if len(b) < 4 or b[0:2] != b"\xff\xd8":
            return None, 0, 0, None, "jpeg_bad_magic"
        pos = 2
        qtables: dict[int, np.ndarray] = {}
        htables: dict[tuple[int, int], tuple] = {}
        sof = None
        comps: list[tuple[int, int, int]] = []  # (cid, sampling, tq)
        n = len(b)
        while True:
            if pos + 4 > n:
                return None, 0, 0, seed, "jpeg_truncated"
            if b[pos] != 0xFF:
                return None, 0, 0, seed, "jpeg_bad_marker"
            # T.81 B.1.1.2: a marker may be preceded by any number of
            # 0xFF fill bytes — skip them, or a conforming stream would
            # mis-read the fill as marker 0xFF and its own marker byte
            # pair as a segment length
            while pos + 2 < n and b[pos + 1] == 0xFF:
                pos += 1
            if pos + 4 > n:
                return None, 0, 0, seed, "jpeg_truncated"
            marker = b[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI before SOS
                return None, 0, 0, seed, "jpeg_no_scan"
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                # TEM / RSTn are standalone markers with NO length
                # segment (T.81 B.1.1.3) — reading one as a segment
                # would swallow the following bytes
                continue
            (seglen,) = struct.unpack(">H", b[pos : pos + 2])
            if seglen < 2 or pos + seglen > n:
                return None, 0, 0, seed, "jpeg_truncated"
            data = b[pos + 2 : pos + seglen]
            pos += seglen
            if marker == 0xDB:  # DQT
                dpos = 0
                while dpos < len(data):
                    pq_tq = data[dpos]
                    if pq_tq >> 4 != 0:
                        return None, 0, 0, seed, "jpeg_unsupported"
                    tq = pq_tq & 0x0F
                    tbl = np.frombuffer(
                        data[dpos + 1 : dpos + 65], dtype=np.uint8
                    )
                    if tbl.shape[0] != 64:
                        return None, 0, 0, seed, "jpeg_bad_dqt"
                    qtables[tq] = tbl.astype(np.int32)
                    dpos += 65
            elif marker == 0xC4:  # DHT
                htables.update(_decode_huffman_tables(data))
            elif marker == 0xC0:  # SOF0 baseline
                if len(data) < 6:
                    return None, 0, 0, seed, "jpeg_truncated"
                prec, hh, ww, nc = struct.unpack(">BHHB", data[:6])
                if prec != 8 or nc not in (1, 3):
                    return None, ww, hh, seed, "jpeg_unsupported"
                for ci in range(nc):
                    cid, samp, tq = data[6 + 3 * ci : 9 + 3 * ci]
                    if samp != 0x11:
                        return None, ww, hh, seed, "jpeg_unsupported"
                    comps.append((cid, samp, tq))
                sof = (ww, hh, nc)
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                            0xCA, 0xCB, 0xCD, 0xCE, 0xCF, 0xDD):
                # non-baseline SOF or restart interval
                return None, 0, 0, seed, "jpeg_unsupported"
            elif marker == 0xFE and data.startswith(b"seed\x00"):  # COM
                try:
                    seed = int(data[5:])
                except ValueError:
                    seed = None
            elif marker == 0xDA:  # SOS
                break
            # APPn / other COM: skipped
        if sof is None:
            return None, 0, 0, seed, "jpeg_no_sof"
        w, h, nc = sof
        if len(data) < 1 + 2 * nc + 3 or data[0] != nc:
            return None, w, h, seed, "jpeg_bad_sos"
        scan_tabs = []
        for ci in range(nc):
            cs, tdta = data[1 + 2 * ci : 3 + 2 * ci]
            scan_tabs.append((tdta >> 4, tdta & 0x0F))
        if w <= 0 or h <= 0 or w > 1 << 16 or h > 1 << 16:
            return None, w, h, seed, "bad_dims"
        if w * h > max_pixels:
            return None, w, h, seed, "too_large"

        # entropy segment: up to the next real marker (FF xx, xx != 00);
        # scan by bytes.find so the Python loop touches only FF bytes
        end = pos
        while True:
            i = b.find(b"\xff", end)
            if i == -1 or i + 1 >= n:
                end = n
                break
            if b[i + 1] == 0x00:
                end = i + 2
                continue
            end = i
            break
        stuffed = b[pos:end].replace(b"\xff\x00", b"\xff")

        ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
        n_mcu = (ph // 8) * (pw // 8)
        # CPU-bomb guard (the pure-Python analog of PNG's bounded
        # inflate): a block costs >= 2 bits (shortest DC code + EOB),
        # so claimed dims needing more blocks than the entropy bytes
        # could possibly hold are malformed — without this a tiny
        # stream claiming 4096x4096 would spin the MCU loop for ~1e8
        # zero-padded iterations inside a worker
        if n_mcu * nc > (8 * (end - pos) + 64) // 2:
            return None, w, h, seed, "jpeg_truncated"
        tabs = []
        for ci in range(nc):
            dc_ent = htables.get((0, scan_tabs[ci][0]))
            ac_ent = htables.get((1, scan_tabs[ci][1]))
            if dc_ent is None or ac_ent is None:
                return None, w, h, seed, "jpeg_missing_table"
            tabs.append((dc_ent[0], ac_ent[1]))
        # entropy loop, fully inlined (one Python frame, locals only:
        # the method-call version measured ~2.5x slower) — acc/nbits is
        # the canonical MSB-first bit buffer, zero-padded past the end
        # per spec
        data = stuffed
        dlen = len(data)
        bp = 0
        acc = 0
        nbits = 0
        pred = [0] * nc
        coeff_rows: list[list[list[int]]] = [[] for _ in range(nc)]
        d4 = dlen - 3  # last position where a whole 32-bit refill fits
        for _m in range(n_mcu):
            for ci in range(nc):
                dc_lut, ac_fast = tabs[ci]
                zz = [0] * 64
                # --- DC symbol ---
                while nbits < 16:
                    if bp < d4:
                        acc = (acc << 32) | int.from_bytes(
                            data[bp : bp + 4], "big"
                        )
                        bp += 4
                        nbits += 32
                    else:
                        acc = (acc << 8) | (data[bp] if bp < dlen else 0)
                        bp += 1
                        nbits += 8
                window = (acc >> (nbits - 16)) & 0xFFFF
                hit = dc_lut[window]
                if hit < 0:
                    return None, w, h, seed, "jpeg_bad_huffman"
                cat = hit >> 8
                nbits -= hit & 0xFF
                if cat > 11:
                    return None, w, h, seed, "jpeg_bad_dc"
                if cat:
                    while nbits < cat:
                        acc = (acc << 8) | (data[bp] if bp < dlen else 0)
                        bp += 1
                        nbits += 8
                    nbits -= cat
                    raw = (acc >> nbits) & ((1 << cat) - 1)
                    pred[ci] += (
                        raw if raw >= (1 << (cat - 1)) else raw - (1 << cat) + 1
                    )
                zz[0] = pred[ci]
                # --- AC symbols: ONE window probe resolves code+value
                # (ac_fast), the rare long code+value pair refills ---
                k = 1
                while k < 64:
                    while nbits < 16:
                        if bp < d4:
                            acc = (acc << 32) | int.from_bytes(
                                data[bp : bp + 4], "big"
                            )
                            bp += 4
                            nbits += 32
                        else:
                            acc = (acc << 8) | (data[bp] if bp < dlen else 0)
                            bp += 1
                            nbits += 8
                    window = (acc >> (nbits - 16)) & 0xFFFF
                    ent = ac_fast[window]
                    if ent is None:
                        return None, w, h, seed, "jpeg_bad_huffman"
                    total, run, size = ent
                    if size > 0:  # code + value inside this window
                        nbits -= total
                        k += run
                        if k > 63:
                            return None, w, h, seed, "jpeg_bad_ac"
                        raw = (window >> (16 - total)) & ((1 << size) - 1)
                        zz[k] = (
                            raw
                            if raw >= (1 << (size - 1))
                            else raw - (1 << size) + 1
                        )
                        k += 1
                    elif size == 0:
                        nbits -= total
                        if run == 16:  # ZRL
                            k += 16
                            # a ZRL is always FOLLOWED by a coefficient
                            # (T.81 F.1.2.2.1 uses EOB to end a block),
                            # so a run past the block is corruption —
                            # without this check the loop would exit
                            # silently and the NEXT symbol (the value
                            # that followed the ZRL) would be
                            # reinterpreted as the next block's DC
                            # code: a desynchronized decode that can
                            # finish with garbage pixels and err=None
                            if k > 63:
                                return None, w, h, seed, "jpeg_bad_ac"
                            continue
                        break  # EOB
                    else:  # long code + big category: separate refill
                        size = -size
                        if size > 10:
                            return None, w, h, seed, "jpeg_bad_ac"
                        nbits -= total
                        k += run
                        if k > 63:
                            return None, w, h, seed, "jpeg_bad_ac"
                        while nbits < size:
                            acc = (acc << 8) | (data[bp] if bp < dlen else 0)
                            bp += 1
                            nbits += 8
                        nbits -= size
                        raw = (acc >> nbits) & ((1 << size) - 1)
                        zz[k] = (
                            raw
                            if raw >= (1 << (size - 1))
                            else raw - (1 << size) + 1
                        )
                        k += 1
                acc &= (1 << nbits) - 1
                coeff_rows[ci].append(zz)
        coeffs = [np.array(rows_, dtype=np.int32) for rows_ in coeff_rows]
        planes = []
        for ci in range(nc):
            qt = qtables.get(comps[ci][2])
            if qt is None:
                return None, w, h, seed, "jpeg_missing_table"
            dq = (coeffs[ci] * qt[None, :]).astype(np.float64)
            nat = np.zeros_like(dq)
            nat[:, ZIGZAG] = dq
            blocks = nat.reshape(-1, 8, 8)
            spat = np.einsum("ji,njk,kl->nil", _DCT, blocks, _DCT)
            planes.append(_unblocks(spat, ph, pw) + 128.0)
        if nc == 3:
            ycc = np.stack(planes, axis=-1)
            px = _ycbcr_to_rgb(ycc)
        else:  # grayscale: replicate
            g = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
            px = np.stack([g, g, g], axis=-1)
        return px[:h, :w], w, h, seed, None
    except ValueError as exc:
        return None, 0, 0, seed, str(exc)
    except (struct.error, IndexError):
        return None, 0, 0, seed, "jpeg_truncated"


def jpeg_seed(b: bytes) -> int | None:
    """Ground-truth seed from the COM segment, if present (marker walk
    only — no entropy decode)."""
    try:
        if len(b) < 4 or b[0:2] != b"\xff\xd8":
            return None
        pos = 2
        n = len(b)
        while pos + 4 <= n:
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker in (0xD9, 0xDA):
                return None
            (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            if seglen < 2 or pos + 2 + seglen > n:
                return None
            if marker == 0xFE and b[pos + 4 : pos + 9] == b"seed\x00":
                return int(b[pos + 9 : pos + 2 + seglen])
            pos += 2 + seglen
    except (ValueError, struct.error):
        return None
    return None
