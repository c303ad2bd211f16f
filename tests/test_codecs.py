"""Pure-Python codec path (h2outility_spark.codecs): golden-pixel BMP
decode through extract_image_features, BMP resize round-trip, and PCM WAV
header parse — the default (no injected codec) multimodal path,
un-stubbed."""

from __future__ import annotations

import io
import struct
import wave

import pytest
from pyspark.sql import Row

from h2outility_spark import codecs
from h2outility_spark.operators import multimodal

# A handwritten 2x2 24-bit BMP: top row (red, green), bottom row (blue, white).
GOLDEN_PIXELS = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]


def golden_bmp() -> bytes:
    return codecs.encode_bmp(GOLDEN_PIXELS)


def test_bmp_encode_decode_golden_pixels():
    data = golden_bmp()
    # hand-check the encoded header bytes, not just our own round-trip
    assert data[:2] == b"BM"
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    width, height = struct.unpack_from("<ii", data, 18)
    assert (pixel_off, width, height) == (54, 2, 2)
    # bottom-up scanlines: first stored row is the BOTTOM row (blue, white), BGR order
    assert data[pixel_off : pixel_off + 6] == bytes((255, 0, 0, 255, 255, 255))
    w, h, rows = codecs.decode_bmp(data)
    assert (w, h) == (2, 2)
    assert rows == GOLDEN_PIXELS


def test_bmp_decoder_mean_luma_exact():
    w, h, luma = codecs.bmp_image_decoder(golden_bmp())
    # (0.299 + 0.587 + 0.114 + 1.0) / 4 = 0.5 exactly for R+G+B+white
    assert (w, h) == (2, 2)
    assert luma == 0.5


def test_bmp_rejects_non_bmp():
    with pytest.raises(ValueError, match="BM"):
        codecs.decode_bmp(b"\x89PNG----------------------------------------------------")


def test_extract_image_features_default_codec_decodes_bmp(spark):
    assets = spark.createDataFrame(
        [(1, bytearray(golden_bmp()), "image/bmp", {})],
        "asset_id long, data binary, mime string, meta map<string,string>",
    )
    r = multimodal.extract_image_features(assets).collect()[0]
    assert (r["width"], r["height"], r["mean_luma"]) == (2, 2, 0.5)
    assert r["n_bytes"] == len(golden_bmp())


def test_resize_roundtrip_through_operator(spark):
    # 8x4 gradient image; resize to max_side=4 -> 4x2, still a decodable BMP
    rows = [[(32 * c, 64 * r, 10) for c in range(8)] for r in range(4)]
    big = codecs.encode_bmp(rows)
    assets = spark.createDataFrame(
        [(7, bytearray(big), "image/bmp", {})],
        "asset_id long, data binary, mime string, meta map<string,string>",
    )
    out = multimodal.resize_images(assets, max_side=4).collect()[0]
    assert (out["width"], out["height"]) == (4, 2)
    w2, h2, small = codecs.decode_bmp(bytes(out["data"]))
    assert (w2, h2) == (4, 2)
    # nearest-neighbor: output pixel (r, c) samples source (r*4//2? -> r*2, c*2)
    for r in range(2):
        for c in range(4):
            assert small[r][c] == rows[r * 2][c * 2]
    # never upscales
    again = multimodal.resize_images(assets, max_side=100).collect()[0]
    assert (again["width"], again["height"]) == (8, 4)


def make_wav(n_frames: int = 8000, rate: int = 16000, amplitude: int = 8192) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        # square wave: +amplitude / -amplitude alternating
        frames = b"".join(
            struct.pack("<h", amplitude if i % 2 == 0 else -amplitude) for i in range(n_frames)
        )
        w.writeframes(frames)
    return buf.getvalue()


def test_wav_header_parse_against_stdlib_writer():
    data = make_wav()
    h = codecs.parse_wav_header(data)
    assert h["n_channels"] == 1
    assert h["sample_rate"] == 16000
    assert h["bits_per_sample"] == 16
    assert h["n_frames"] == 8000
    assert h["duration_ms"] == 500


def test_null_and_empty_payloads_yield_null_features_not_job_abort(spark):
    """One missing asset among millions must not kill the extraction job:
    NULL/empty payloads produce null feature columns; undecodable REAL
    bytes still raise (corruption must not silently null out)."""
    import pytest
    from pyspark.sql import Row
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from h2outility_spark.codecs import encode_bmp
    from h2outility_spark.operators.multimodal import (
        extract_image_features,
        resize_images,
    )

    schema = StructType(
        [StructField("asset_id", LongType()), StructField("data", BinaryType(), True)]
    )
    good = encode_bmp([[(10, 20, 30)] * 4 for _ in range(4)])
    assets = spark.createDataFrame(
        [Row(asset_id=1, data=good), Row(asset_id=2, data=None), Row(asset_id=3, data=b"")],
        schema,
    )
    feats = {r["asset_id"]: r for r in extract_image_features(assets).collect()}
    assert feats[1]["width"] == 4 and feats[1]["mean_luma"] is not None
    for aid in (2, 3):
        assert feats[aid]["width"] is None and feats[aid]["n_bytes"] == 0

    res = {r["asset_id"]: r for r in resize_images(assets, max_side=2).collect()}
    assert res[1]["data"] is not None and res[2]["data"] is None

    bad = spark.createDataFrame([Row(asset_id=9, data=b"JFIFnotbmp")], schema)
    with pytest.raises(Exception, match="no built-in decoder"):
        extract_image_features(bad).collect()


# -- PNG ---------------------------------------------------------------------


def _png_chunk(cid: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body)) + cid + body
        + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
    )


def _build_gray_png(true_rows, filters):
    """Hand-build a grayscale PNG applying the FORWARD filter per row —
    the decoder must invert each one exactly (forward formulas here are
    the spec's, written in the encode direction, so this is an
    independent check of the decoder's inversion)."""
    import struct
    import zlib

    h, w = len(true_rows), len(true_rows[0])
    raw = bytearray()
    prev = [0] * w
    for y, row in enumerate(true_rows):
        ftype = filters[y]
        raw.append(ftype)
        for i, x in enumerate(row):
            left = row[i - 1] if i > 0 else 0
            up = prev[i]
            ul = prev[i - 1] if i > 0 else 0
            if ftype == 0:
                raw.append(x & 255)
            elif ftype == 1:
                raw.append((x - left) & 255)
            elif ftype == 2:
                raw.append((x - up) & 255)
            elif ftype == 3:
                raw.append((x - ((left + up) >> 1)) & 255)
            elif ftype == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                raw.append((x - pred) & 255)
        prev = row
    magic = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    return magic + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", zlib.compress(bytes(raw))) + _png_chunk(b"IEND", b"")


def test_png_roundtrip_rgb():
    from h2outility_spark.codecs import decode_png, encode_png

    rows = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (10, 20, 30)]]
    w, h, back = decode_png(encode_png(rows))
    assert (w, h) == (2, 2)
    assert back == rows


def test_png_all_filter_types_invert_exactly():
    from h2outility_spark.codecs import decode_png

    true_rows = [
        [10, 15, 20, 200],
        [12, 18, 25, 199],
        [240, 3, 130, 77],
        [1, 255, 0, 128],
        [9, 9, 9, 9],
    ]
    data = _build_gray_png(true_rows, filters=[0, 1, 2, 3, 4])
    w, h, rows = decode_png(data)
    assert (w, h) == (4, 5)
    assert rows == [[(g, g, g) for g in row] for row in true_rows]


def test_png_decoder_and_resizer_through_operators(spark):
    """PNG payloads flow through the default (sniffing) multimodal path:
    features decode and the resizer halves a 4x2 to 2x1, staying PNG."""
    from pyspark.sql import Row

    from h2outility_spark.codecs import decode_png, encode_png
    from h2outility_spark.operators.multimodal import extract_image_features, resize_images

    rows = [[(0, 0, 0), (255, 255, 255), (0, 0, 0), (255, 255, 255)],
            [(255, 255, 255), (0, 0, 0), (255, 255, 255), (0, 0, 0)]]
    png = encode_png(rows)
    assets = spark.createDataFrame([Row(asset_id=1, data=bytearray(png))])

    feats = extract_image_features(assets).collect()[0]
    assert (feats["width"], feats["height"]) == (4, 2)
    assert abs(feats["mean_luma"] - 0.5) < 1e-6

    resized = resize_images(assets, max_side=2).collect()[0]
    assert (resized["width"], resized["height"]) == (2, 1)
    w2, h2, back = decode_png(bytes(resized["data"]))
    assert (w2, h2) == (2, 1)


def test_png_unsupported_variants_raise():
    import pytest as _pytest

    from h2outility_spark.codecs import decode_png

    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JUNKJUNKJUNK")
    # 16-bit depth header
    import struct
    import zlib

    magic = b"\x89PNG\r\n\x1a\n"
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    data = magic + _png_chunk(b"IHDR", ihdr16) + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 26)) + _png_chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="unsupported PNG variant"):
        decode_png(data)


# -- windowed audio features --------------------------------------------------


def _pcm_wav(samples, rate=8000, nch=1):
    import struct

    body = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, nch, rate, rate * nch * 2, nch * 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )


def test_wav_window_features_square_wave_exact():
    """A +/-16384 square wave with period 4 at 8 kHz, 100 ms windows (800
    samples): RMS is exactly 0.5 and the zero-crossing count is exactly
    one crossing every two samples."""
    from h2outility_spark.codecs import wav_window_features

    period = [16384, 16384, -16384, -16384]
    samples = period * 400  # 1600 samples = 2 windows
    feats = wav_window_features(_pcm_wav(samples), window_ms=100)
    assert [f[0] for f in feats] == [0, 1]
    assert [f[1] for f in feats] == [0, 100]
    for _w, _s, rms, zcr in feats:
        assert rms == 0.5
        assert abs(zcr - (400 - 1 + 0.5) / 799) < 2e-3  # ~1 crossing / 2 samples


def test_wav_window_features_stereo_mixes_to_mono():
    from h2outility_spark.codecs import wav_window_features

    # L = +1000, R = -1000 -> mono mix 0 everywhere -> rms 0, zcr 0
    samples = [1000, -1000] * 800
    feats = wav_window_features(_pcm_wav(samples, nch=2), window_ms=100)
    assert all(f[2] == 0.0 and f[3] == 0.0 for f in feats)


def test_extract_audio_frames_operator(spark):
    from pyspark.sql import Row

    from h2outility_spark.operators.multimodal import extract_audio_frames

    period = [16384, 16384, -16384, -16384]
    wav = _pcm_wav(period * 400)
    assets = spark.createDataFrame(
        [Row(asset_id=1, data=bytearray(wav)), Row(asset_id=2, data=None)]
    )
    rows = extract_audio_frames(assets).collect()
    assert {r["asset_id"] for r in rows} == {1}  # null payload -> no windows
    assert sorted((r["window_idx"], r["start_ms"], r["rms"]) for r in rows) == [
        (0, 0, 0.5),
        (1, 100, 0.5),
    ]


def test_audio_activity_segments(spark):
    """Loud / silent / loud WAV -> exactly two activity segments with the
    right window spans; fully silent asset yields none."""
    from pyspark.sql import Row

    from h2outility_spark.operators.multimodal import audio_activity_segments

    loud = [16384, 16384, -16384, -16384] * 200   # 800 samples = 1 window @8kHz/100ms
    quiet = [0] * 800
    wav = _pcm_wav(loud + loud + quiet + loud)    # active, active, silent, active
    assets = spark.createDataFrame(
        [Row(asset_id=1, data=bytearray(wav)),
         Row(asset_id=2, data=bytearray(_pcm_wav(quiet)))]
    )
    segs = sorted(
        (r["asset_id"], r["start_ms"], r["end_ms"], r["n_windows"], r["mean_rms"])
        for r in audio_activity_segments(assets).collect()
    )
    assert segs == [(1, 0, 200, 2, 0.5), (1, 300, 400, 1, 0.5)]


# -- perceptual image hashing -------------------------------------------------


def _gradient_rows(w, h, tweak=None):
    rows = [[((x * 255) // max(1, w - 1),) * 3 for x in range(w)] for _y in range(h)]
    if tweak:
        x, y, px = tweak
        rows[y][x] = px
    return rows


def test_dhash_format_independent_and_locality():
    from h2outility_spark.codecs import dhash64, encode_bmp, encode_png

    rows = _gradient_rows(18, 16)
    h_bmp = dhash64(encode_bmp(rows))
    h_png = dhash64(encode_png(rows))
    assert h_bmp == h_png  # same pixels, different container

    # one flipped pixel moves few bits; an inverted gradient moves many
    h_tweak = dhash64(encode_png(_gradient_rows(18, 16, tweak=(9, 4, (0, 0, 0)))))
    h_inv = dhash64(encode_png([list(reversed(r)) for r in rows]))
    assert bin(h_bmp ^ h_tweak).count("1") <= 6
    assert bin(h_bmp ^ h_inv).count("1") >= 32


def test_image_neardup_pairs_operator(spark):
    from pyspark.sql import Row

    from h2outility_spark.codecs import encode_bmp, encode_png
    from h2outility_spark.operators.multimodal import image_neardup_pairs

    rows = _gradient_rows(18, 16)
    assets = spark.createDataFrame(
        [
            Row(asset_id=1, data=bytearray(encode_bmp(rows))),
            Row(asset_id=2, data=bytearray(encode_png(rows))),  # same pixels as 1
            Row(
                asset_id=3,
                data=bytearray(encode_png(_gradient_rows(18, 16, tweak=(9, 4, (0, 0, 0))))),
            ),  # near dup of 1/2
            Row(asset_id=4, data=bytearray(encode_png([list(reversed(r)) for r in rows]))),
            Row(asset_id=5, data=None),
        ]
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_neardup_pairs(assets).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and (2, 3) in pairs
    assert all(h <= 3 for h in pairs.values())
    assert not any(4 in k or 5 in k for k in pairs)


# -- GIF ----------------------------------------------------------------------


def _pack_codes(codes_with_widths):
    """LSB-first bit packing of (code, width) pairs — the GIF LZW wire
    format, built independently of the decoder's unpacking loop."""
    acc = nbits = 0
    out = bytearray()
    for code, width in codes_with_widths:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _build_gif_2x2():
    """Hand-assembled 4-color 2x2 GIF: pixels are palette indices
    [0, 1, 2, 3]. LZW min code size 2 -> clear=4, end=5; width starts at
    3 and bumps to 4 after the dictionary reaches code 8 (so the end code
    is written 4 bits wide) — exercising the width-bump path."""
    import struct as _s

    palette = b"\x00\x00\x00" + b"\xff\x00\x00" + b"\x00\xff\x00" + b"\xff\xff\xff"
    lzw = _pack_codes([(4, 3), (0, 3), (1, 3), (2, 3), (3, 4), (5, 4)])
    return (
        b"GIF89a"
        + _s.pack("<HHBBB", 2, 2, 0x81, 0, 0)  # gct present, 4 entries (2<<1)
        + palette
        + b"\x2c" + _s.pack("<HHHHB", 0, 0, 2, 2, 0)
        + bytes([2])  # LZW min code size
        + bytes([len(lzw)]) + lzw + b"\x00"
        + b"\x3b"
    )


def test_gif_decode_hand_assembled():
    from h2outility_spark.codecs import decode_gif, gif_image_decoder, sniff_image_decoder

    w, h, rows = decode_gif(_build_gif_2x2())
    assert (w, h) == (2, 2)
    assert rows == [
        [(0, 0, 0), (255, 0, 0)],
        [(0, 255, 0), (255, 255, 255)],
    ]
    gw, gh, luma = gif_image_decoder(_build_gif_2x2())
    assert (gw, gh) == (2, 2) and 0.4 < luma < 0.6
    assert sniff_image_decoder(_build_gif_2x2())[:2] == (2, 2)


def test_gif_run_length_uses_dictionary_codes():
    """A solid-color 4x1 image emitted as literal+dict-code (the KwKwK
    case: code == next_code) decodes to four identical pixels."""
    import struct as _s

    from h2outility_spark.codecs import decode_gif

    palette = b"\x10\x20\x30" + b"\x00\x00\x00" * 3
    # clear, literal 0, code 6 (KwKwK -> 0,0), literal 0, end
    lzw = _pack_codes([(4, 3), (0, 3), (6, 3), (0, 3), (5, 3)])
    gif = (
        b"GIF87a"
        + _s.pack("<HHBBB", 4, 1, 0x81, 0, 0)
        + palette
        + b"\x2c" + _s.pack("<HHHHB", 0, 0, 4, 1, 0)
        + bytes([2]) + bytes([len(lzw)]) + lzw + b"\x00" + b"\x3b"
    )
    w, h, rows = decode_gif(gif)
    assert (w, h) == (4, 1)
    assert rows == [[(0x10, 0x20, 0x30)] * 4]


def test_gif_resize_reencodes_as_png(spark):
    from pyspark.sql import Row

    from h2outility_spark.codecs import decode_png
    from h2outility_spark.operators.multimodal import resize_images

    assets = spark.createDataFrame([Row(asset_id=1, data=bytearray(_build_gif_2x2()))])
    out = resize_images(assets, max_side=1).collect()[0]
    assert (out["width"], out["height"]) == (1, 1)
    w, h, rows = decode_png(bytes(out["data"]))
    assert (w, h) == (1, 1)


# -- codec hardening properties ----------------------------------------------


def test_codecs_never_crash_on_fuzz_bytes():
    """Arbitrary bytes must raise ValueError (or decode), never hang or
    die with an unrelated exception — a corrupt asset in a 100 TB corpus
    must fail the row, not the executor."""
    import random

    from h2outility_spark.codecs import (
        decode_bmp, decode_gif, decode_png, parse_wav_header, sniff_image_decoder,
    )

    rng = random.Random(42)
    magics = [b"", b"BM", b"\x89PNG\r\n\x1a\n", b"GIF89a", b"RIFF", b"GIF87a\x00\x00"]
    for trial in range(200):
        payload = rng.choice(magics) + bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120)))
        for fn in (decode_bmp, decode_png, decode_gif, parse_wav_header, sniff_image_decoder):
            try:
                fn(payload)
            except ValueError:
                pass  # the ONLY exception the codec contract allows

    # truncated REAL files must also reject with ValueError, not hang
    from h2outility_spark.codecs import encode_png

    good = encode_png(_gradient_rows(8, 8))
    for cut in range(1, len(good), 7):
        try:
            decode_png(good[:cut])
        except ValueError:
            pass


def test_png_roundtrip_property():
    """encode->decode is the identity for arbitrary RGB images (hypothesis)."""
    from hypothesis import given, settings, strategies as st

    from h2outility_spark.codecs import decode_png, encode_png

    px = st.tuples(*[st.integers(0, 255)] * 3)

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 12),
        st.integers(1, 12),
        st.integers(0, 2**32 - 1),
    )
    def check(w, h, seed):
        import random

        rng = random.Random(seed)
        rows = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256)) for _ in range(w)] for _ in range(h)]
        got_w, got_h, back = decode_png(encode_png(rows))
        assert (got_w, got_h) == (w, h) and back == rows

    check()



def test_png_decompression_bomb_is_bounded():
    """Review regression: a hostile IDAT that inflates to ~256 MiB from a
    few KiB must not be materialized — inflate is bounded by the declared
    pixel-buffer size, so the decoder fails fast on the size check (the
    declared 2x2 dims need only 15 bytes) instead of allocating the bomb."""
    import struct as _s
    import zlib

    from h2outility_spark.codecs import decode_png

    def chunk(cid, body):
        return _s.pack(">I", len(body)) + cid + body + _s.pack(">I", zlib.crc32(cid + body))

    bomb = zlib.compress(b"\x00" * (256 * 1024 * 1024), 9)  # ~256 MiB of zeros
    assert len(bomb) < 1024 * 1024
    ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)  # declares a tiny 2x2 RGB
    data = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    )
    # 2x2 RGB needs 2*(2*3+1)=14 bytes; the bomb satisfies that, so decode
    # SUCCEEDS — the point is it must do so without inflating 256 MiB.
    import tracemalloc

    tracemalloc.start()
    w, h, rows = decode_png(data)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert (w, h) == (2, 2)
    assert rows == [[(0, 0, 0), (0, 0, 0)], [(0, 0, 0), (0, 0, 0)]]
    assert peak < 32 * 1024 * 1024, f"inflate not bounded: peak {peak} bytes"


# -- JPEG --------------------------------------------------------------------


def test_jpeg_flat_roundtrip_exact():
    """A flat mid-gray image survives encode->decode EXACTLY: DC-only
    blocks, zero AC energy, no quantization loss at 128."""
    from h2outility_spark.codecs import decode_jpeg, encode_jpeg

    rows = [[(128, 128, 128)] * 16 for _ in range(16)]
    w, h, out = decode_jpeg(encode_jpeg(rows))
    assert (w, h) == (16, 16)
    assert out == rows


def test_jpeg_gradient_roundtrip_tolerance_and_odd_dims():
    """Smooth gradients at q90 come back within a few levels, and odd
    (non-multiple-of-8) dimensions crop correctly after MCU padding."""
    from h2outility_spark.codecs import decode_jpeg, encode_jpeg

    rows = [[(x * 15, y * 15, (x + y) * 7) for x in range(17)] for y in range(13)]
    w, h, out = decode_jpeg(encode_jpeg(rows, quality=90))
    assert (w, h) == (17, 13)
    err = max(
        abs(a - b)
        for r1, r2 in zip(rows, out)
        for p, q in zip(r1, r2)
        for a, b in zip(p, q)
    )
    assert err <= 8, err


def test_jpeg_420_subsampling_and_restart_markers():
    """4:2:0 chroma subsampling decodes through the upsampling path, and a
    restart interval of 1 exercises RST resync + DC-predictor reset on
    every MCU. Luma-only error stays tight (chroma edges legitimately blur
    under 2x2-mean subsampling)."""
    from h2outility_spark.codecs import decode_jpeg, encode_jpeg

    # smooth chroma: subsampling loss stays small and in-gamut (sharp
    # chroma edges legitimately clamp and bleed into luma — that part is
    # covered structurally below)
    rows = [[(x * 6, y * 10, 120) for x in range(40)] for y in range(24)]
    w, h, out = decode_jpeg(encode_jpeg(rows, quality=92, subsampling="420", restart_interval=1))
    assert (w, h) == (40, 24)
    err = max(
        abs(a - b)
        for r1, r2 in zip(rows, out)
        for p, q in zip(r1, r2)
        for a, b in zip(p, q)
    )
    assert err <= 12, err

    # adversarial wrapping chroma still decodes (RST resync across 15 MCUs)
    hard = [
        [((x * 7) % 256, (y * 5) % 256, (x + 2 * y) % 256) for x in range(40)]
        for y in range(24)
    ]
    w2, h2, out2 = decode_jpeg(
        encode_jpeg(hard, quality=92, subsampling="420", restart_interval=1)
    )
    assert (w2, h2, len(out2)) == (40, 24, 24)


def test_jpeg_through_sniff_dhash_and_operator(spark):
    """JPEG joins the sniffed default codec path: extract_image_features
    decodes it with no injected decode_fn, and dhash64 of a JPEG matches
    the dhash of the BMP carrying the same pixels (locality: the hash is
    robust to the codec's small loss)."""
    from pyspark.sql import Row

    from h2outility_spark.codecs import dhash64, encode_bmp, encode_jpeg
    from h2outility_spark.operators.multimodal import extract_image_features

    smooth = [[((x * 28) % 256,) * 3 for x in range(18)]] * 16
    jpg, bmp = encode_jpeg(smooth, quality=95), encode_bmp(smooth)
    assert bin(dhash64(jpg) ^ dhash64(bmp)).count("1") <= 3

    assets = spark.createDataFrame([Row(asset_id=1, data=bytearray(jpg))])
    r = extract_image_features(assets).collect()[0]
    assert (r["width"], r["height"]) == (18, 16)
    assert 0.0 < r["mean_luma"] < 1.0


def test_jpeg_rejects_progressive_and_truncated():
    from h2outility_spark.codecs import decode_jpeg, encode_jpeg

    data = bytearray(encode_jpeg([[(0, 0, 0)] * 8] * 8))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2  # rebrand SOF0 as progressive SOF2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(data))
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xdb\x00\x04\x00\x00")  # truncated garbage


def test_jpeg_resizer_through_sniff_path():
    """sniff_image_resizer routes JPEG payloads through decode -> shared
    nearest-neighbor downscale -> JPEG re-encode; the output is itself a
    decodable baseline JPEG at the bounded dimensions."""
    from h2outility_spark.codecs import decode_jpeg, encode_jpeg, sniff_image_resizer

    rows = [[(x * 6, y * 10, 120) for x in range(40)] for y in range(24)]
    out_bytes, out_w, out_h = sniff_image_resizer(encode_jpeg(rows, quality=92), 16)
    assert (out_w, out_h) == (16, 9)  # bounding-box scale 16/40
    assert out_bytes[:2] == b"\xff\xd8"  # stayed JPEG
    w, h, decoded = decode_jpeg(out_bytes)
    assert (w, h) == (16, 9)


def test_jpeg_header_fill_bytes_and_standalone_markers():
    """T.81 allows 0xFF fill-byte runs before any marker and standalone
    length-less markers (TEM 0x01, stray RSTn) between header segments —
    both appear in real camera files and must not derail the marker walk."""
    from h2outility_spark.codecs import decode_jpeg, encode_jpeg

    rows = [[(90, 140, 200)] * 16] * 16
    clean = encode_jpeg(rows, quality=95)
    w0, h0, base = decode_jpeg(clean)
    i = clean.find(b"\xff\xdb")  # first DQT
    assert i > 0
    # fill-byte run before DQT, then TEM and a stray RST3 before the rest
    padded = clean[:i] + b"\xff\xff\xff" + b"\xff\xdb" + clean[i + 2 : i + 2] + clean[i + 2 :]
    j = padded.find(b"\xff\xc0")
    padded = padded[:j] + b"\xff\x01" + b"\xff\xd3" + padded[j:]
    w, h, out = decode_jpeg(padded)
    assert (w, h) == (w0, h0)
    assert out == base  # identical entropy data => identical pixels


def test_jpeg_rejects_mismatched_chroma_sampling():
    """Cb/Cr with different sampling factors (spec-legal, unsupported by
    the shared-factor upsampler) must raise, not silently mis-color; same
    for chroma factors that don't divide luma's."""
    from h2outility_spark.codecs import decode_jpeg, encode_jpeg

    data = bytearray(encode_jpeg([[(10, 200, 30)] * 8] * 8, subsampling="420"))
    i = data.find(b"\xff\xc0")
    # SOF0 layout: FF C0 len(2) prec(1) h(2) w(2) nc(1) then per-comp
    # [id, hv, tq]; comp2's hv byte sits at i+14, comp3's at i+17.
    assert data[i + 14] == 0x11 and data[i + 17] == 0x11  # 4:2:0 chroma
    patched = bytearray(data)
    patched[i + 17] = 0x21  # Cr sampled 2x1 while Cb stays 1x1
    with pytest.raises(ValueError, match="Cb and Cr"):
        decode_jpeg(bytes(patched))
    patched2 = bytearray(data)
    # chroma factors exceeding luma's (luma 2x2 here): 3x1 doesn't divide
    patched2[i + 14] = 0x31
    patched2[i + 17] = 0x31
    with pytest.raises(ValueError, match="divide"):
        decode_jpeg(bytes(patched2))
