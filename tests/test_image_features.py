"""Image codecs (real PNG, real baseline JFIF, synthetic stream): roundtrip,
corrupt-stream and fuzz behaviour, and the decode verdict the Spark
prepare pass derives from them."""

from __future__ import annotations

import numpy as np
import pandas as pd

from stop_sync_osm_atlas_spark.functions.image import (
    decode_image_full,
    decode_validate_inline,
    encode_image,
    psnr,
    synth_pixels,
)
from stop_sync_osm_atlas_spark.schemas import PAIRS_SCHEMA


def _dec_ok(spark, rows) -> dict[str, bool]:
    """image_id -> dec_ok of the Spark prepare pass over (id, bytes, w,
    h, fmt) rows."""
    pdf = pd.DataFrame(
        [
            dict(image_id=i, bytes=b, w=w, h=h, fmt=f, caption="x", phash=0)
            for i, b, w, h, f in rows
        ]
    )
    pairs = spark.createDataFrame(pdf, PAIRS_SCHEMA)
    return dict(decode_validate_inline(pairs).select("image_id", "dec_ok").collect())


def test_real_png_roundtrip_and_formats():
    """fmt='png' at <=1024 px emits a GENUINE PNG stream (signature,
    CRC-checked chunks, deflate IDAT) that roundtrips bit-exactly; all
    five scanline filter types reconstruct; the tEXt seed channel
    carries the ground truth."""
    from stop_sync_osm_atlas_spark.functions.image import (
        PNG_SIG,
        decode_image,
        encode_image,
        encode_png,
        ground_truth_seed,
        synth_pixels,
    )

    b = encode_image(99, 32, 32, "png")
    assert b[:8] == PNG_SIG  # a real PNG, not the synthetic stream
    px, w, h, fmt, err = decode_image(b)
    assert err is None and (w, h, fmt) == (32, 32, "png")
    assert (px == synth_pixels(99, 32, 32)).all()  # lossless roundtrip
    assert ground_truth_seed(b) == 99

    # every filter type reconstructs the same pixels (type 0 is the
    # vectorized encode default; 1-4 exercise the sequential unfilter)
    truth = synth_pixels(7, 17, 11)  # non-square, odd dims
    for ftype in range(5):
        enc = encode_png(truth, filter_type=ftype)
        got, w2, h2, _fmt, e2 = decode_image(enc)
        assert e2 is None and (w2, h2) == (17, 11), ftype
        assert (got == truth).all(), ftype

    # above the pixel budget the compact synthetic stream stands in,
    # same decode contract, same pixels
    big = encode_image(99, 64, 64, "png")
    assert big[:8] != PNG_SIG
    px2, _, _, fmt2, err2 = decode_image(big)
    assert err2 is None and fmt2 == "png"
    assert (px2 == synth_pixels(99, 64, 64)).all()


def test_real_png_corrupt_streams():
    """CRC flips, truncation, inflate garbage and bad filter codes all
    surface as per-row error strings, never exceptions."""
    from stop_sync_osm_atlas_spark.functions.image import (
        decode_image,
        encode_image,
    )

    good = bytearray(encode_image(5, 32, 32, "png"))

    # flip one byte inside the IDAT payload -> chunk CRC mismatch
    idat_at = bytes(good).index(b"IDAT")
    crc_bad = bytearray(good)
    crc_bad[idat_at + 10] ^= 0xFF
    _, _, _, _, err = decode_image(bytes(crc_bad))
    assert err == "png_crc_mismatch"

    # truncate mid-chunk -> structural error
    _, _, _, _, err = decode_image(bytes(good[:20]))
    assert err == "png_bad_structure"

    # valid chunk framing but non-deflate IDAT bytes: rebuild the IDAT
    # chunk with garbage payload and a CORRECT crc -> inflate error
    import struct as st
    import zlib

    from stop_sync_osm_atlas_spark.functions.image import PNG_SIG, _png_chunk

    ihdr = st.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bad_idat = (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", b"\x00nope\xff")
        + _png_chunk(b"IEND", b"")
    )
    _, _, _, _, err = decode_image(bad_idat)
    assert err == "png_inflate_error"

    # correct deflate but an out-of-spec filter code on a scanline
    raw = bytearray(4 * (1 + 12))
    raw[0] = 9  # filter type 9 does not exist
    bad_filter = (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    _, _, _, _, err = decode_image(bad_filter)
    assert err == "png_bad_filter"

    # unsupported color type (grayscale) degrades, not crashes
    gray_ihdr = st.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    unsup = (
        PNG_SIG
        + _png_chunk(b"IHDR", gray_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(4 * 5)))
        + _png_chunk(b"IEND", b"")
    )
    _, _, _, _, err = decode_image(unsup)
    assert err == "png_unsupported"


def test_decode_bomb_guard():
    """Allocation-bomb hardening: a corrupt header claiming huge dims
    (65536 x 65536 passes the per-axis <= 2^16 check but would allocate
    ~12 GB) surfaces as err='too_large' WITHOUT allocating, on both byte
    layouts; a deflate bomb whose IDAT expands past the claimed-dims
    budget dies at the bounded inflate, not in memory."""
    import struct as st
    import zlib

    from stop_sync_osm_atlas_spark.functions.image import (
        MAGIC,
        PNG_SIG,
        _png_chunk,
        decode_image,
    )

    # synthetic stream, 2^32-pixel claim
    bomb = MAGIC + st.pack("<BIIQ", 0, 1 << 16, 1 << 16, 7)
    _, w, h, fmt, err = decode_image(bomb)
    assert err == "too_large" and (w, h) == (1 << 16, 1 << 16)

    # real-PNG header with the same claim: rejected BEFORE inflating
    ihdr = st.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 2, 0, 0, 0)
    png_bomb = (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 64))
        + _png_chunk(b"IEND", b"")
    )
    _, _, _, _, err = decode_image(png_bomb)
    assert err == "too_large"

    # in-cap dims but an IDAT that inflates past the claimed budget:
    # the bounded decompressobj stops at budget+1 -> png_bad_length
    small_ihdr = st.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    overflow = (
        PNG_SIG
        + _png_chunk(b"IHDR", small_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * (1 << 20), 9))
        + _png_chunk(b"IEND", b"")
    )
    _, _, _, _, err = decode_image(overflow)
    assert err == "png_bad_length"

    # truncated deflate stream: incremental inflate ends without eof
    good_raw = bytes(4 * (1 + 12))
    trunc = (
        PNG_SIG
        + _png_chunk(b"IHDR", small_ihdr)
        + _png_chunk(b"IDAT", zlib.compress(good_raw)[:-4])
        + _png_chunk(b"IEND", b"")
    )
    _, _, _, _, err = decode_image(trunc)
    assert err == "png_bad_length"


def test_png_decoder_fuzz_never_raises():
    """Adversarial robustness (the mapInPandas contract: one malformed
    web image must surface as a per-row error string, never an exception
    that fails the whole 100-TB task): random byte mutations,
    truncations/extensions, and arbitrary bytes behind the PNG signature
    all decode cleanly or error cleanly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st_h

    from stop_sync_osm_atlas_spark.functions.image import (
        PNG_SIG,
        decode_image_full,
        encode_image,
    )

    base = encode_image(1234, 17, 11, "png")

    @settings(max_examples=250, deadline=None)
    @given(data=st_h.data())
    def run(data):
        mode = data.draw(st_h.integers(0, 2))
        if mode == 0:  # byte mutations of a valid stream
            b = bytearray(base)
            for _ in range(data.draw(st_h.integers(1, 8))):
                i = data.draw(st_h.integers(0, len(b) - 1))
                b[i] = data.draw(st_h.integers(0, 255))
            buf = bytes(b)
        elif mode == 1:  # truncation and/or junk tail
            cut = data.draw(st_h.integers(0, len(base)))
            buf = base[:cut] + data.draw(st_h.binary(max_size=32))
        else:  # arbitrary bytes behind the signature
            buf = PNG_SIG + data.draw(st_h.binary(max_size=256))
        px, w, h, fmt, seed, err = decode_image_full(buf)
        if err is None:
            assert px is not None and px.shape == (h, w, 3)
            assert px.dtype == np.uint8
        else:
            assert px is None and isinstance(err, str) and err

    run()


def test_real_png_through_spark_operators(spark):
    """The Spark prepare pass decodes REAL PNG bytes end-to-end: the
    real stream and a lossy sibling pass, a CRC-corrupted copy fails.
    At codec level the PNG roundtrip is exact (PSNR inf) and the lossy
    one lands in [40, inf)."""
    ok_png = encode_image(11, 32, 32, "png")
    corrupt = bytearray(ok_png)
    corrupt[bytes(ok_png).index(b"IDAT") + 9] ^= 0x55
    lossy = encode_image(11, 32, 32, "jpeg")
    ok = _dec_ok(
        spark,
        [
            ("real", ok_png, 32, 32, "png"),
            ("crc", bytes(corrupt), 32, 32, "png"),
            ("lossy", lossy, 32, 32, "jpeg"),
        ],
    )
    assert ok == {"real": True, "crc": False, "lossy": True}

    truth = synth_pixels(11, 32, 32)
    px, _, _, _, seed, err = decode_image_full(ok_png)
    assert err is None and seed == 11 and psnr(px, truth) == float("inf")
    assert decode_image_full(bytes(corrupt))[-1] == "png_crc_mismatch"
    px, _, _, _, _, err = decode_image_full(lossy)
    assert err is None and 40 <= psnr(px, truth) < float("inf")


def test_png_multi_idat_chunks_decode():
    """IDAT split across many chunks must decode identically to the
    single-chunk stream (the spec allows any split). The accumulator is
    a list+join, not bytes+= — a stream shredded into minimal chunks
    was an O(S^2) CPU bomb under the old concatenation."""
    import struct
    import zlib

    from stop_sync_osm_atlas_spark.functions.image import (
        PNG_SIG,
        _png_chunk,
        decode_image,
        encode_png,
        synth_pixels,
    )

    truth = synth_pixels(42, 16, 16)
    single = encode_png(truth, seed=42)
    # re-shred: same IHDR/tEXt, IDAT re-emitted in 7-byte slivers
    pos, parts, idat = len(PNG_SIG), [], b""
    while pos < len(single):
        (length,) = struct.unpack(">I", single[pos : pos + 4])
        tag = single[pos + 4 : pos + 8]
        data = single[pos + 8 : pos + 8 + length]
        if tag == b"IDAT":
            idat += data
        elif tag != b"IEND":
            parts.append(_png_chunk(tag, data))
        pos += 12 + length
    shredded = PNG_SIG + b"".join(parts)
    for i in range(0, len(idat), 7):
        shredded += _png_chunk(b"IDAT", idat[i : i + 7])
    shredded += _png_chunk(b"IEND", b"")
    px, w, h, fmt, err = decode_image(shredded)
    assert err is None and (w, h, fmt) == (16, 16, "png")
    assert (px == truth).all()


def test_real_jpeg_roundtrip_and_structure():
    """The r6 baseline-JFIF codec: encode_image emits a genuine T.81
    baseline stream for <=1024-px jpeg rows (SOI/APP0/DQT/SOF0/DHT/SOS/
    EOI markers all present), decode_image_full dispatches on the JPEG
    signature, the roundtrip PSNR is a REAL lossy-format measurement
    (>= 40 dB, finite — unlike PNG's inf), and the COM seed channel
    survives."""
    from stop_sync_osm_atlas_spark.functions.image import (
        REAL_JPEG_MAX_PIXELS,
        decode_image_full,
        encode_image,
        ground_truth_seed,
        psnr,
        synth_pixels,
    )

    for w, h in [(32, 32), (8, 8), (17, 11), (1, 1)]:
        b = encode_image(96, w, h, "jpeg")
        assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
        for marker in (b"JFIF\x00", b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
            assert marker in b, marker
        px, dw, dh, fmt, seed, err = decode_image_full(b)
        assert err is None and fmt == "jpeg" and (dw, dh) == (w, h)
        assert px.shape == (h, w, 3) and px.dtype == np.uint8
        assert seed == 96 and ground_truth_seed(b) == 96
        p = psnr(px, synth_pixels(96, w, h))
        assert p >= 40.0, (w, h, p)
        if w * h > 1:
            assert p != float("inf")  # genuinely lossy

    # above the budget the stream stays the documented synthetic layout
    big = encode_image(96, 64, 64, "jpeg")
    assert big[:7] == b"SYNIMG1"
    assert 64 * 64 > REAL_JPEG_MAX_PIXELS
    # off the 1-in-REAL_JPEG_SAMPLE_MOD seed stride: synthetic even
    # under the pixel budget (pure-Python Huffman is the sandbox
    # stand-in for a native lossy codec — see the image.py note)
    off = encode_image(97, 32, 32, "jpeg")
    assert off[:7] == b"SYNIMG1"


def test_real_jpeg_corrupt_streams_and_bomb_guard():
    """Malformed JFIF surfaces as per-row error strings, never an
    exception; a header claiming giant dims errors BEFORE any pixel
    allocation (too_large), the same decode-bomb stance as PNG."""
    import struct as st

    from stop_sync_osm_atlas_spark.functions.image import (
        decode_image_full,
        encode_image,
    )
    from stop_sync_osm_atlas_spark.functions.jpeg import decode_jpeg_ex

    good = encode_image(8, 32, 32, "jpeg")
    sos = good.index(b"\xff\xda")

    # header-region truncations must error per-row
    for cut in (2, 4, 10, 30, sos + 3):
        px, _, _, _, _, err = decode_image_full(good[:cut])
        assert px is None and isinstance(err, str) and err, cut

    # ENTROPY-region truncation: T.81 pads past the end with zero bits,
    # so a salvage decode (correct shape) OR a clean error are both
    # conforming — never an exception; the garbage tail then fails the
    # prepare pass's >= 40 dB PSNR invariant instead
    for cut in (len(good) // 2, len(good) - 3):
        px, w, h, fmt, seed, err = decode_image_full(good[:cut])
        if err is None:
            assert px is not None and px.shape == (32, 32, 3)
        else:
            assert px is None and isinstance(err, str)

    # garbage entropy data: flip bytes after SOS — decodes or errors,
    # never raises (distribution asserted by the fuzz test below)
    b = bytearray(good)
    for i in range(sos + 14, min(sos + 40, len(b) - 2)):
        b[i] ^= 0xA5
    px, _, _, _, _, err = decode_image_full(bytes(b))
    assert (px is None) == (err is not None)

    # progressive SOF2 -> unsupported
    b = bytearray(good)
    b[good.index(b"\xff\xc0") + 1] = 0xC2
    px, _, _, _, _, err = decode_image_full(bytes(b))
    assert px is None and err == "jpeg_unsupported"

    # dims bomb: SOF claiming 65535 x 65535 must refuse BEFORE allocating
    i = good.index(b"\xff\xc0")
    b = bytearray(good)
    b[i + 5 : i + 9] = st.pack(">HH", 65535, 65535)
    px, w, h, seed, err = decode_jpeg_ex(bytes(b), 1 << 24)
    assert px is None and err == "too_large" and (w, h) == (65535, 65535)


def test_jpeg_fill_bytes_and_standalone_markers_conform():
    """T.81 B.1.1.2-B.1.1.3 conformance on streams this encoder never
    emits: 0xFF fill bytes before a marker and standalone TEM (no
    length segment) must not derail the header walk — a conforming
    external stream decodes identically, not jpeg_truncated."""
    from stop_sync_osm_atlas_spark.functions.image import encode_image
    from stop_sync_osm_atlas_spark.functions.jpeg import decode_jpeg_ex

    good = encode_image(8, 32, 32, "jpeg")
    ref, w, h, seed, err = decode_jpeg_ex(good, 1 << 24)
    assert err is None

    # fill bytes after SOI: FF D8 [FF FF FF] FF E0 ...
    padded = good[:2] + b"\xff\xff\xff" + good[2:]
    px, pw, ph, pseed, perr = decode_jpeg_ex(padded, 1 << 24)
    assert perr is None and (pw, ph) == (w, h) and pseed == seed
    assert np.array_equal(px, ref)

    # standalone TEM marker between header segments: FF D8 FF 01 FF E0
    tem = good[:2] + b"\xff\x01" + good[2:]
    px, pw, ph, pseed, perr = decode_jpeg_ex(tem, 1 << 24)
    assert perr is None and (pw, ph) == (w, h) and pseed == seed
    assert np.array_equal(px, ref)

    # both at once, deeper in the header (before the DQT marker)
    i = good.index(b"\xff\xdb")
    mixed = good[:i] + b"\xff\xd0\xff" + good[i:]
    px, pw, ph, pseed, perr = decode_jpeg_ex(mixed, 1 << 24)
    assert perr is None and (pw, ph) == (w, h) and pseed == seed
    assert np.array_equal(px, ref)


def test_jpeg_decoder_fuzz_never_raises():
    """Same adversarial contract as the PNG fuzz pass, on the JFIF
    decoder: mutations, truncations and arbitrary bytes behind the JPEG
    signature decode cleanly or error cleanly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st_h

    from stop_sync_osm_atlas_spark.functions.image import (
        decode_image_full,
        encode_image,
    )

    base = encode_image(4320, 17, 11, "jpeg")

    @settings(max_examples=250, deadline=None)
    @given(data=st_h.data())
    def run(data):
        mode = data.draw(st_h.integers(0, 2))
        if mode == 0:
            b = bytearray(base)
            for _ in range(data.draw(st_h.integers(1, 8))):
                i = data.draw(st_h.integers(0, len(b) - 1))
                b[i] = data.draw(st_h.integers(0, 255))
            buf = bytes(b)
        elif mode == 1:
            cut = data.draw(st_h.integers(0, len(base)))
            buf = base[:cut] + data.draw(st_h.binary(max_size=32))
        else:
            buf = b"\xff\xd8" + data.draw(st_h.binary(max_size=256))
        px, w, h, fmt, seed, err = decode_image_full(buf)
        if err is None:
            assert px is not None and px.shape == (h, w, 3)
            assert px.dtype == np.uint8
        else:
            assert px is None and isinstance(err, str) and err

    run()


def test_real_jpeg_through_spark_operators(spark):
    """The Spark prepare pass over real JFIF rows: the real stream
    passes, a stream whose SOF dims disagree with the metadata fails.
    At codec level the lossy roundtrip PSNR is finite and >= 40."""
    ok_jpg = encode_image(80, 32, 32, "jpeg")
    ok = _dec_ok(
        spark,
        [
            ("real", ok_jpg, 32, 32, "jpeg"),
            ("dims", ok_jpg, 16, 32, "jpeg"),  # metadata lies about w
        ],
    )
    assert ok == {"real": True, "dims": False}

    px, w, h, fmt, seed, err = decode_image_full(ok_jpg)
    assert err is None and (w, h, fmt, seed) == (32, 32, "jpeg", 80)
    assert 40.0 <= psnr(px, synth_pixels(80, 32, 32)) < float("inf")
