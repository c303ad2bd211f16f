"""Pure-Python (stdlib-only) media codecs for the multimodal operators.

This container has no PIL/ffmpeg, so the heavy formats (WebP/MP4) stay
behind injectable ``decode_fn``/``resize_fn`` hooks — but five formats are
tractable with stdlib ``struct``/``zlib``/``math``, which un-stubs the
default codec path end-to-end (sniffed by magic bytes):

  * **Uncompressed 24-bit BMP** (BITMAPINFOHEADER, BI_RGB): decode to
    (width, height, mean_luma), and nearest-neighbor resize with re-encode.
  * **Non-interlaced 8-bit PNG** (gray, gray+alpha, RGB, RGBA): full
    scanline unfiltering (all five filter types) over zlib-inflated IDAT;
    encode as filter-0 RGB for the resize round-trip.
  * **GIF87a/89a first frame**: variable-width LSB-first LZW decode with
    clear/end codes and the KwKwK case; resize re-encodes as PNG.
  * **Baseline JPEG** (SOF0, 8-bit, 4:4:4/4:2:2/4:2:0, restart markers):
    full entropy decode (canonical Huffman + byte unstuffing), dequantize,
    float IDCT, chroma upsample, JFIF YCbCr->RGB — plus a minimal 4:4:4
    encoder (Annex K tables, IJG quality scaling) for round-trip tests
    and JPEG-out resizing. Progressive/arithmetic variants raise.
  * **PCM WAV**: RIFF header parse to (channels, sample_rate, bits,
    n_frames, duration_ms), mean absolute amplitude, windowed RMS /
    zero-crossing features, and ``dhash64`` perceptual image hashing.

These run inside Arrow-batched ``mapInPandas`` workers (operators/
multimodal.py); per-pixel Python costs what it costs, but the *plumbing* is
identical to a PIL-backed deployment — swapping in a fast codec changes one
callable, not the plan.
"""

from __future__ import annotations

import struct

_BMP_HEADER_FMT = "<2sIHHI"  # magic, file size, reserved, reserved, pixel offset
_BMP_INFO_FMT = "<IiiHHIIiiII"  # BITMAPINFOHEADER


def _bmp_row_stride(width: int) -> int:
    return (width * 3 + 3) & ~3  # 24 bpp rows pad to 4-byte boundaries


def decode_bmp(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode an uncompressed 24-bit BMP to (width, height, rows of (r,g,b)),
    rows in top-to-bottom order regardless of the file's scanline direction."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    _, _, _, _, pixel_off = struct.unpack_from(_BMP_HEADER_FMT, data, 0)
    info_size, width, height, _planes, bpp, compression = struct.unpack_from("<IiiHHI", data, 14)
    if info_size < 40:
        raise ValueError(f"unsupported BMP header size {info_size}")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    stride = _bmp_row_stride(width)
    rows = []
    for r in range(height):
        src_row = r if top_down else height - 1 - r
        base = pixel_off + src_row * stride
        row = []
        for c in range(width):
            b, g, red = data[base + c * 3 : base + c * 3 + 3]
            row.append((red, g, b))
        rows.append(row)
    return width, height, rows


def encode_bmp(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Encode rows of (r, g, b) (top-to-bottom) as an uncompressed 24-bit
    BMP (bottom-up scanlines, the common convention)."""
    height = len(rows)
    width = len(rows[0]) if rows else 0
    stride = _bmp_row_stride(width)
    pixel_bytes = bytearray()
    for row in reversed(rows):  # bottom-up
        line = bytearray()
        for r, g, b in row:
            line += bytes((b, g, r))
        line += b"\x00" * (stride - len(line))
        pixel_bytes += line
    pixel_off = 14 + 40
    header = struct.pack(_BMP_HEADER_FMT, b"BM", pixel_off + len(pixel_bytes), 0, 0, pixel_off)
    info = struct.pack(_BMP_INFO_FMT, 40, width, height, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0)
    return header + info + bytes(pixel_bytes)


def _luma(r: int, g: int, b: int) -> float:
    return (0.299 * r + 0.587 * g + 0.114 * b) / 255.0


def _mean_luma_of(width: int, height: int, rows) -> float:
    """Shared mean-luma reduction for every image decoder."""
    n = width * height
    total = sum(_luma(r, g, b) for row in rows for (r, g, b) in row)
    return round(total / n, 6) if n else 0.0


def _resize_rows(rows, width: int, height: int, max_side: int):
    """Shared nearest-neighbor bounding-box downscale (never upscales,
    like PIL's thumbnail). Integer source-index arithmetic so every
    format resizes identically."""
    scale = min(1.0, max_side / max(width, height, 1))
    out_w, out_h = max(1, int(width * scale)), max(1, int(height * scale))
    out = [
        [
            rows[min(height - 1, r * height // out_h)][min(width - 1, c * width // out_w)]
            for c in range(out_w)
        ]
        for r in range(out_h)
    ]
    return out, out_w, out_h


def _codec_guard(fn):
    """Normalize parser slips on corrupt payloads (KeyError / IndexError /
    struct.error) to the codec contract: corrupt bytes raise ValueError —
    a bad asset fails its row with a structured error, never escapes with
    an implementation-detail exception."""
    import functools

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except ValueError:
            raise
        except (KeyError, IndexError, struct.error) as e:
            raise ValueError(f"corrupt payload in {fn.__name__}: {type(e).__name__}: {e}") from e

    return wrapped


def bmp_image_decoder(data: bytes) -> tuple[int, int, float]:
    """Default ``decode_fn`` for extract_image_features: (width, height,
    mean luma in [0, 1], 6 dp) of an uncompressed 24-bit BMP."""
    width, height, rows = decode_bmp(data)
    return width, height, _mean_luma_of(width, height, rows)


def bmp_resizer(data: bytes, max_side: int) -> tuple[bytes, int, int]:
    """Default ``resize_fn`` for resize_images: nearest-neighbor bounding-box
    downscale of an uncompressed 24-bit BMP, re-encoded as BMP."""
    width, height, rows = decode_bmp(data)
    out_rows, out_w, out_h = _resize_rows(rows, width, height, max_side)
    return encode_bmp(out_rows), out_w, out_h


# -- WAV ---------------------------------------------------------------------


def parse_wav_header(data: bytes) -> dict:
    """Parse a RIFF/WAVE header: channels, sample rate, bits per sample,
    frame count, duration_ms, and the (offset, size) of the PCM data chunk.
    Walks the chunk list, so extra chunks (LIST, fact) are tolerated."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload (missing RIFF/WAVE magic)")
    pos, fmt, data_span = 12, None, None
    while pos + 8 <= len(data):
        cid, size = data[pos : pos + 4], struct.unpack_from("<I", data, pos + 4)[0]
        body = pos + 8
        if cid == b"fmt ":
            audio_fmt, n_ch, rate, _byte_rate, _align, bits = struct.unpack_from("<HHIIHH", data, body)
            fmt = {"audio_format": audio_fmt, "n_channels": n_ch, "sample_rate": rate, "bits_per_sample": bits}
        elif cid == b"data":
            data_span = (body, size)
        pos = body + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_span is None:
        raise ValueError("WAV missing fmt or data chunk")
    frame_size = fmt["n_channels"] * fmt["bits_per_sample"] // 8
    n_frames = data_span[1] // frame_size if frame_size else 0
    duration_ms = int(n_frames * 1000 / fmt["sample_rate"]) if fmt["sample_rate"] else 0
    return fmt | {"n_frames": n_frames, "duration_ms": duration_ms, "data_span": data_span}


# -- PNG ---------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode a non-interlaced 8-bit PNG (gray, gray+alpha, RGB, RGBA) to
    (width, height, rows of (r, g, b)) with stdlib zlib + struct: chunk
    walk, IDAT inflate, and the five scanline filters inverted per the
    spec. Alpha is dropped; grayscale replicates to RGB. Palette, 16-bit,
    and interlaced variants raise (inject a real codec for those)."""
    import zlib

    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload (missing signature)")
    pos, idat, hdr = 8, b"", None
    while pos + 8 <= len(data):
        size = struct.unpack_from(">I", data, pos)[0]
        cid = data[pos + 4 : pos + 8]
        body = pos + 8
        if cid == b"IHDR":
            w, h, bitd, color, _comp, _filt, interlace = struct.unpack_from(
                ">IIBBBBB", data, body
            )
            if bitd != 8 or interlace != 0 or color not in (0, 2, 4, 6):
                raise ValueError(
                    f"unsupported PNG variant (bit depth {bitd}, color {color}, "
                    f"interlace {interlace}); inject a full decoder"
                )
            if w == 0 or h == 0:
                raise ValueError("empty PNG (zero width or height)")
            hdr = (w, h, color)
        elif cid == b"IDAT":
            idat += data[body : body + size]
        elif cid == b"IEND":
            break
        pos = body + size + 4  # skip CRC
    if hdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, color = hdr
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    stride = w * nch
    expected = h * (stride + 1)
    try:
        # Bounded inflate: a hostile IDAT can expand to gigabytes from a
        # few kilobytes (decompression bomb); never inflate past the
        # pixel-buffer size the declared dimensions call for.
        d = zlib.decompressobj()
        raw = d.decompress(idat, expected)
    except zlib.error as e:
        # normalize to the codec contract: corrupt payloads raise ValueError
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    if len(raw) < expected:
        raise ValueError("PNG pixel data truncated")
    rows: list[list[tuple[int, int, int]]] = []
    prev = bytearray(stride)
    p = 0
    for _y in range(h):
        ftype = raw[p]
        line = bytearray(raw[p + 1 : p + 1 + stride])
        p += 1 + stride
        if ftype == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (line[i] + line[i - nch]) & 255
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 255
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 255
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                c = prev[i - nch] if i >= nch else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 255
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        prev = line
        if nch == 1:
            row = [(g, g, g) for g in line]
        elif nch == 2:
            row = [(line[i], line[i], line[i]) for i in range(0, stride, 2)]
        elif nch == 3:
            row = [tuple(line[i : i + 3]) for i in range(0, stride, 3)]
        else:
            row = [tuple(line[i : i + 3]) for i in range(0, stride, 4)]
        rows.append(row)
    return w, h, rows


def encode_png(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Encode (r, g, b) rows as an 8-bit RGB PNG (filter 0, one IDAT)."""
    import zlib

    h = len(rows)
    w = len(rows[0]) if h else 0

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + cid
            + body
            + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + bytes(v for px in row for v in px) for row in rows)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def png_image_decoder(data: bytes) -> tuple[int, int, float]:
    """(width, height, mean luma) of a supported PNG — PNG twin of
    bmp_image_decoder."""
    width, height, rows = decode_png(data)
    return width, height, _mean_luma_of(width, height, rows)


def png_resizer(data: bytes, max_side: int) -> tuple[bytes, int, int]:
    """Nearest-neighbor bounding-box downscale of a PNG, re-encoded as
    8-bit RGB PNG (alpha dropped)."""
    width, height, rows = decode_png(data)
    out_rows, out_w, out_h = _resize_rows(rows, width, height, max_side)
    return encode_png(out_rows), out_w, out_h


def sniff_image_decoder(data: bytes) -> tuple[int, int, float]:
    """Format-sniffing default ``decode_fn``: BMP, PNG, GIF, or baseline
    JPEG by magic."""
    if data[:2] == b"BM":
        return bmp_image_decoder(data)
    if data[:8] == _PNG_MAGIC:
        return png_image_decoder(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return gif_image_decoder(data)
    if data[:2] == b"\xff\xd8":
        return jpeg_image_decoder(data)
    raise ValueError("unsupported image format (built-ins: BMP, PNG, GIF, JPEG) — inject decode_fn")


def sniff_image_resizer(data: bytes, max_side: int) -> tuple[bytes, int, int]:
    """Format-sniffing default ``resize_fn``. BMP/PNG stay in their input
    format; GIF re-encodes as PNG (writing LZW is not worth a stdlib
    encoder when PNG is the archival target anyway)."""
    if data[:2] == b"BM":
        return bmp_resizer(data, max_side)
    if data[:8] == _PNG_MAGIC:
        return png_resizer(data, max_side)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        width, height, rows = decode_gif(data)
        out_rows, out_w, out_h = _resize_rows(rows, width, height, max_side)
        return encode_png(out_rows), out_w, out_h
    if data[:2] == b"\xff\xd8":
        return jpeg_resizer(data, max_side)
    raise ValueError("unsupported image format (built-ins: BMP, PNG, GIF, JPEG) — inject resize_fn")


def wav_window_features(data: bytes, window_ms: int = 100) -> list[tuple[int, int, float, float]]:
    """Windowed features of a 16-bit PCM WAV: per non-overlapping window of
    ``window_ms``, (window_idx, start_ms, rms, zero_crossing_rate), both in
    [0, 1], 6 dp. Multi-channel audio is mixed to mono by sample averaging
    first — the standard front-end before VAD / silence trimming / speech
    quality gates in audio-corpus pipelines."""
    import math

    h = parse_wav_header(data)
    if h["audio_format"] != 1 or h["bits_per_sample"] != 16:
        raise ValueError("only 16-bit PCM WAV supported for window features")
    off, size = h["data_span"]
    flat = struct.unpack_from(f"<{size // 2}h", data, off)
    nch = h["n_channels"]
    mono = (
        list(flat)
        if nch == 1
        else [sum(flat[i : i + nch]) // nch for i in range(0, len(flat) - nch + 1, nch)]
    )
    spw = max(1, h["sample_rate"] * window_ms // 1000)
    out = []
    for w_idx in range(0, (len(mono) + spw - 1) // spw):
        chunk = mono[w_idx * spw : (w_idx + 1) * spw]
        rms = math.sqrt(sum((s / 32768.0) ** 2 for s in chunk) / len(chunk))
        crossings = sum(
            1 for a, b in zip(chunk, chunk[1:]) if (a < 0 <= b) or (b < 0 <= a)
        )
        zcr = crossings / (len(chunk) - 1) if len(chunk) > 1 else 0.0
        out.append((w_idx, w_idx * spw * 1000 // h["sample_rate"], round(rms, 6), round(zcr, 6)))
    return out


def dhash64(data: bytes) -> int:
    """64-bit difference hash (dHash) of a BMP/PNG/GIF/JPEG payload:
    decode, mix to luma, nearest-neighbor resample to a 9x8 grid, emit one
    bit per horizontal neighbor pair (left < right). Near-identical images
    land within a few Hamming bits — the standard perceptual fingerprint
    for image dedup, here format-independent (same pixels => same hash
    whatever the container)."""
    if data[:2] == b"BM":
        w, h, rows = decode_bmp(data)
    elif data[:8] == _PNG_MAGIC:
        w, h, rows = decode_png(data)
    elif data[:6] in (b"GIF87a", b"GIF89a"):
        w, h, rows = decode_gif(data)
    elif data[:2] == b"\xff\xd8":
        w, h, rows = decode_jpeg(data)
    else:
        raise ValueError("unsupported image format for dhash (built-ins: BMP, PNG, GIF, JPEG)")
    gw, gh = 9, 8
    grid = []
    for gy in range(gh):
        sy = min(h - 1, gy * h // gh)
        grid.append(
            [_luma(*rows[sy][min(w - 1, gx * w // gw)]) for gx in range(gw)]
        )
    bits = 0
    for gy in range(gh):
        for gx in range(gw - 1):
            bits = (bits << 1) | (1 if grid[gy][gx] < grid[gy][gx + 1] else 0)
    return bits


# -- GIF ---------------------------------------------------------------------


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> list[int]:
    """GIF-flavor LZW: LSB-first variable-width codes, clear/end specials,
    dictionary resets, width bumps at 2^width (cap 12 bits)."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1

    def fresh():
        return {i: [i] for i in range(clear)}

    table = fresh()
    width = min_code_size + 1
    next_code = end + 1
    out: list[int] = []
    prev: list[int] | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table, width, next_code, prev = fresh(), min_code_size + 1, end + 1, None
                continue
            if code == end:
                return out
            if prev is None:
                entry = table[code]
            elif code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + [prev[0]]  # the KwKwK case
            else:
                raise ValueError(f"corrupt GIF LZW stream (code {code})")
            out.extend(entry)
            if prev is not None:
                table[next_code] = prev + [entry[0]]
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
            if len(out) >= n_pixels:
                return out
    return out


def decode_gif(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode the first frame of a non-interlaced GIF87a/89a to (width,
    height, rows of (r, g, b)) — stdlib-only LZW. Extension blocks are
    skipped; interlaced frames raise (inject a full decoder)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload (missing GIF87a/89a magic)")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = [tuple(data[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        if block == 0x21:  # extension: label + length-prefixed sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _left, _top, w, h, ipacked = struct.unpack_from("<HHHHB", data, pos + 1)
            pos += 10
            palette = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                palette = [tuple(data[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
                pos += 3 * n
            if ipacked & 0x40:
                raise ValueError("interlaced GIF unsupported (inject a full decoder)")
            if palette is None:
                raise ValueError("GIF frame without a color table")
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos] != 0:
                size = data[pos]
                lzw += data[pos + 1 : pos + 1 + size]
                pos += 1 + size
            pos += 1
            idx = _lzw_decode(min_code, bytes(lzw), w * h)
            if len(idx) < w * h:
                raise ValueError("GIF pixel data truncated")
            rows = [
                [palette[idx[y * w + x]] for x in range(w)] for y in range(h)
            ]
            return w, h, rows
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
    raise ValueError("GIF contained no image frame")


def gif_image_decoder(data: bytes) -> tuple[int, int, float]:
    """(width, height, mean luma) of a GIF first frame."""
    width, height, rows = decode_gif(data)
    return width, height, _mean_luma_of(width, height, rows)


# -- JPEG (baseline sequential DCT, ITU T.81) --------------------------------
#
# Pure-stdlib baseline JPEG: marker walk, canonical Huffman decode with
# byte-stuffing and restart markers, dequantize + inverse zigzag, float
# separable IDCT, nearest-neighbor chroma upsampling (4:4:4 / 4:2:2 /
# 4:2:0), JFIF YCbCr->RGB. Progressive (SOF2), arithmetic and 12-bit
# variants raise ValueError (inject a full codec). The matching minimal
# encoder (3-component YCbCr, 4:4:4 or 4:2:0, Annex K tables) exists so
# tests can round-trip without any external library.

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# ITU T.81 Annex K quantization tables (luminance, chrominance), natural order
_K_LUMA_Q = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_K_CHROMA_Q = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K typical Huffman tables: (bits[1..16], values)
_K_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_K_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_K_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_K_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _huff_decode_table(bits: list[int], values: list[int]) -> dict:
    """Canonical Huffman (code_length, code) -> value map."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


import math as _math

_IDCT_COS = [
    [_math.cos((2 * x + 1) * u * _math.pi / 16) for u in range(8)] for x in range(8)
]
_C = [0.7071067811865476] + [1.0] * 7  # 1/sqrt(2) for u == 0


def _idct_8x8(coef: list[float]) -> list[list[float]]:
    """Separable 2D inverse DCT of one 8x8 block (natural-order coefs)."""
    # rows: for each row y of coefficients (over u), partial IDCT over x
    tmp = [[0.0] * 8 for _ in range(8)]
    for v in range(8):
        row = coef[v * 8 : v * 8 + 8]
        for x in range(8):
            tmp[v][x] = sum(_C[u] * row[u] * _IDCT_COS[x][u] for u in range(8)) / 2.0
    out = [[0.0] * 8 for _ in range(8)]
    for x in range(8):
        for y in range(8):
            out[y][x] = sum(_C[v] * tmp[v][x] * _IDCT_COS[y][v] for v in range(8)) / 2.0
    return out


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    unstuffing; stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0
        self.marker = None  # set when a non-stuffed marker is hit

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.marker is not None or self.pos >= len(self.data):
                self.bits = (self.bits << 8) & 0xFFFFFFFF
                self.nbits += 8  # pad with zeros past the end (spec allows)
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: caller resyncs via expect_rst
                    self.marker = nxt
                    continue
                else:
                    self.marker = nxt
                    continue
            else:
                self.pos += 1
            self.bits = ((self.bits << 8) | b) & 0xFFFFFFFF
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid JPEG Huffman code")

    def restart(self) -> None:
        """Byte-align, locate the pending RST marker and consume it. Any
        buffered bits are the previous interval's byte padding; the marker
        may already have been hit by ``_fill`` or may still lie ahead
        (behind an unconsumed pad byte)."""
        self.bits = 0
        self.nbits = 0
        while self.marker is None and self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00:
                self.marker = self.data[self.pos + 1]
                break
            self.pos += 1
        if self.marker is None or not (0xD0 <= self.marker <= 0xD7):
            raise ValueError("JPEG restart marker expected and not found")
        self.pos += 2  # skip FF Dn (self.pos sits on the FF)
        self.marker = None


def _extend(v: int, n: int) -> int:
    """T.81 EXTEND: map the n-bit magnitude to its signed value."""
    return v if n == 0 or v >= (1 << (n - 1)) else v - (1 << n) + 1


def decode_jpeg(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode a baseline sequential JPEG (SOF0, 8-bit, 1 or 3 components,
    any of 4:4:4 / 4:2:2 / 4:2:0) to (width, height, RGB rows)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    scan = None
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        # T.81 B.1.1.2: markers may be preceded by any number of 0xFF fill
        # bytes — common in real camera files; skip the run.
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / stray RSTn: standalone markers with NO length field.
            pos += 2
            continue
        if pos + 4 > len(data):
            break
        seg_len = struct.unpack_from(">H", data, pos + 2)[0]
        body = pos + 4
        if marker == 0xDB:  # DQT
            p = body
            while p < body + seg_len - 2:
                prec, tid = data[p] >> 4, data[p] & 0x0F
                p += 1
                if prec == 0:
                    zz = list(data[p : p + 64]); p += 64
                else:
                    zz = list(struct.unpack_from(">64H", data, p)); p += 128
                tbl = [0] * 64
                for i, z in enumerate(_ZIGZAG):
                    tbl[z] = zz[i]
                qt[tid] = tbl
        elif marker == 0xC4:  # DHT
            p = body
            while p < body + seg_len - 2:
                cls, tid = data[p] >> 4, data[p] & 0x0F
                bits = list(data[p + 1 : p + 17])
                n = sum(bits)
                values = list(data[p + 17 : p + 17 + n])
                (huff_ac if cls else huff_dc)[tid] = _huff_decode_table(bits, values)
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/SOF1 baseline
            precision, h, w, nc = data[body], struct.unpack_from(">H", data, body + 1)[0], struct.unpack_from(">H", data, body + 3)[0], data[body + 5]
            if precision != 8 or nc not in (1, 3):
                raise ValueError("unsupported JPEG (12-bit or exotic component count)")
            comps = []
            for i in range(nc):
                cid, hv, tq = data[body + 6 + 3 * i], data[body + 7 + 3 * i], data[body + 8 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            if nc == 3:
                # The upsampler below indexes both chroma planes with
                # comps[1]'s factors — reject (rather than silently
                # mis-color) the spec-legal but unsupported cases: Cb/Cr
                # sampled differently, or chroma factors that don't divide
                # luma's (non-integer upsampling ratio).
                if (comps[1]["h"], comps[1]["v"]) != (comps[2]["h"], comps[2]["v"]):
                    raise ValueError("unsupported JPEG: Cb and Cr sampling factors differ")
                if (
                    comps[1]["h"] == 0
                    or comps[1]["v"] == 0
                    or comps[0]["h"] % comps[1]["h"]
                    or comps[0]["v"] % comps[1]["v"]
                ):
                    raise ValueError("unsupported JPEG: chroma sampling does not divide luma's")
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG variant (progressive/arithmetic) — inject a full decoder")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", data, body)[0]
        elif marker == 0xDA:  # SOS
            ns = data[body]
            sel = {}
            for i in range(ns):
                cs, td_ta = data[body + 1 + 2 * i], data[body + 2 + 2 * i]
                sel[cs] = (td_ta >> 4, td_ta & 0x0F)
            scan = {"sel": sel, "entropy_at": body + 1 + 2 * ns + 3}
            break  # entropy-coded data follows
        pos = body + seg_len - 2
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF or SOS")

    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    w, h = frame["w"], frame["h"]
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comps:
        c["bw"] = mcus_x * c["h"]  # blocks across
        c["bh"] = mcus_y * c["v"]
        planes.append([[0] * (c["bw"] * 8) for _ in range(c["bh"] * 8)])

    reader = _BitReader(data, scan["entropy_at"])
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.restart()
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                td, ta = scan["sel"][c["id"]]
                dc_tbl, ac_tbl = huff_dc[td], huff_ac[ta]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        # DC
                        t = reader.huff(dc_tbl)
                        diff = _extend(reader.receive(t), t)
                        pred[ci] += diff
                        zz = [0] * 64
                        zz[0] = pred[ci]
                        # AC
                        k = 1
                        while k < 64:
                            rs = reader.huff(ac_tbl)
                            r, ssss = rs >> 4, rs & 0x0F
                            if ssss == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC run past block end")
                            zz[k] = _extend(reader.receive(ssss), ssss)
                            k += 1
                        coef = [0.0] * 64
                        for i, z in enumerate(_ZIGZAG):
                            coef[z] = zz[i] * q[z]
                        px = _idct_8x8(coef)
                        plane = planes[ci]
                        oy = (my * c["v"] + by) * 8
                        ox = (mx * c["h"] + bx) * 8
                        for y in range(8):
                            prow = plane[oy + y]
                            for x in range(8):
                                s = int(px[y][x] + 128.5)
                                prow[ox + x] = 0 if s < 0 else (255 if s > 255 else s)
            mcu_count += 1

    rows: list[list[tuple[int, int, int]]] = []
    if len(comps) == 1:
        plane = planes[0]
        for y in range(h):
            rows.append([(g, g, g) for g in plane[y][:w]])
        return w, h, rows
    cy, cb, cr = planes
    ch, cv = comps[1]["h"], comps[1]["v"]  # chroma sampling vs hmax/vmax
    for y in range(h):
        row = []
        yb_cb = cb[y * cv // vmax]
        yb_cr = cr[y * cv // vmax]
        yrow = cy[y]
        for x in range(w):
            Y = yrow[x]
            Cb = yb_cb[x * ch // hmax] - 128
            Cr = yb_cr[x * ch // hmax] - 128
            r = int(Y + 1.402 * Cr + 0.5)
            g = int(Y - 0.344136 * Cb - 0.714136 * Cr + 0.5)
            b = int(Y + 1.772 * Cb + 0.5)
            row.append(
                (
                    0 if r < 0 else (255 if r > 255 else r),
                    0 if g < 0 else (255 if g > 255 else g),
                    0 if b < 0 else (255 if b > 255 else b),
                )
            )
        rows.append(row)
    return w, h, rows


def _fdct_8x8(px: list[list[float]]) -> list[float]:
    """Forward 2D DCT (natural order) of one level-shifted 8x8 block."""
    out = [0.0] * 64
    for v in range(8):
        for u in range(8):
            s = 0.0
            for y in range(8):
                cyv = _IDCT_COS[y][v]
                prow = px[y]
                for x in range(8):
                    s += prow[x] * _IDCT_COS[x][u] * cyv
            out[v * 8 + u] = s * _C[u] * _C[v] / 4.0
    return out


def _huff_encode_table(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """value -> (code, length) canonical Huffman encode map."""
    enc, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return enc


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _scale_q(base: list[int], quality: int) -> list[int]:
    """IJG quality scaling of a base table (natural order in, natural out)."""
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    return [max(1, min(255, (q * scale + 50) // 100)) for q in base]


def encode_jpeg(
    rows: list[list[tuple[int, int, int]]],
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode RGB rows as a baseline YCbCr JPEG (Annex K tables scaled by
    IJG quality). ``subsampling`` is ``"444"`` or ``"420"`` (2x2-mean
    chroma downsample); ``restart_interval`` > 0 emits a DRI segment and
    RSTn markers every N MCUs. Minimal but standard-conforming —
    decodable by any baseline decoder, including ``decode_jpeg`` above."""
    h = len(rows)
    w = len(rows[0]) if rows else 0
    if w == 0 or h == 0:
        raise ValueError("empty image")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    hs = vs = 2 if subsampling == "420" else 1  # luma sampling factors
    # _K_*_Q are natural-order; quantize in natural order here, emit the
    # DQT segment zigzagged (the decoder un-zigzags on parse)
    ql = _scale_q(list(_K_LUMA_Q), quality)
    qc = _scale_q(list(_K_CHROMA_Q), quality)
    luma_tabs = (_huff_encode_table(*_K_DC_LUMA), _huff_encode_table(*_K_AC_LUMA), ql)
    chroma_tabs = (_huff_encode_table(*_K_DC_CHROMA), _huff_encode_table(*_K_AC_CHROMA), qc)
    enc_tabs = [luma_tabs, chroma_tabs, chroma_tabs]

    # color convert + pad to the MCU grid (edge replicate)
    mcu_w, mcu_h = 8 * hs, 8 * vs
    bw, bh = (w + mcu_w - 1) // mcu_w * mcu_w, (h + mcu_h - 1) // mcu_h * mcu_h
    yp = [[0.0] * bw for _ in range(bh)]
    cbf = [[0.0] * bw for _ in range(bh)]
    crf = [[0.0] * bw for _ in range(bh)]
    for y in range(bh):
        src = rows[min(y, h - 1)]
        for x in range(bw):
            r, g, b = src[min(x, w - 1)]
            yp[y][x] = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
            cbf[y][x] = -0.168736 * r - 0.331264 * g + 0.5 * b
            crf[y][x] = 0.5 * r - 0.418688 * g - 0.081312 * b
    if hs == 2:  # 2x2-mean chroma downsample
        cw, chh = bw // 2, bh // 2
        cbs = [
            [(cbf[2 * y][2 * x] + cbf[2 * y][2 * x + 1] + cbf[2 * y + 1][2 * x] + cbf[2 * y + 1][2 * x + 1]) / 4.0 for x in range(cw)]
            for y in range(chh)
        ]
        crs = [
            [(crf[2 * y][2 * x] + crf[2 * y][2 * x + 1] + crf[2 * y + 1][2 * x] + crf[2 * y + 1][2 * x + 1]) / 4.0 for x in range(cw)]
            for y in range(chh)
        ]
    else:
        cbs, crs = cbf, crf

    def emit_block(writer, plane, oy, ox, ci, pred):
        dc_enc, ac_enc, q = enc_tabs[ci]
        block = [plane[oy + y][ox : ox + 8] for y in range(8)]
        coef = _fdct_8x8(block)
        zz = [0] * 64
        for i, z in enumerate(_ZIGZAG):
            c = coef[z] / q[z]
            zz[i] = int(c + 0.5) if c >= 0 else -int(-c + 0.5)
        diff = zz[0] - pred[ci]
        pred[ci] = zz[0]
        mag = diff if diff >= 0 else -diff
        n = mag.bit_length()
        code, length = dc_enc[n]
        writer.write(code, length)
        if n:
            writer.write(diff if diff >= 0 else diff + (1 << n) - 1, n)
        run = 0
        last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
        for k in range(1, last_nz + 1):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_enc[0xF0]
                writer.write(code, length)
                run -= 16
            v = zz[k]
            mag = v if v >= 0 else -v
            n = mag.bit_length()
            code, length = ac_enc[(run << 4) | n]
            writer.write(code, length)
            writer.write(v if v >= 0 else v + (1 << n) - 1, n)
            run = 0
        if last_nz < 63:
            code, length = ac_enc[0x00]
            writer.write(code, length)

    writer = _BitWriter()
    pred = [0, 0, 0]
    mcu_count = 0
    rst = 0
    for my in range(bh // mcu_h):
        for mx in range(bw // mcu_w):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.flush()
                writer.out += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                pred = [0, 0, 0]
            for by in range(vs):
                for bx in range(hs):
                    emit_block(writer, yp, (my * vs + by) * 8, (mx * hs + bx) * 8, 0, pred)
            emit_block(writer, cbs, my * 8, mx * 8, 1, pred)
            emit_block(writer, crs, my * 8, mx * 8, 2, pred)
            mcu_count += 1
    writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    def dqt(tid: int, tbl: list[int]) -> bytes:
        return seg(0xDB, bytes([tid]) + bytes(tbl[z] for z in _ZIGZAG))

    def dht(cls: int, tid: int, spec: tuple) -> bytes:
        bits, values = spec
        return seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(values))

    sof = seg(
        0xC0,
        bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
        + bytes([1, (hs << 4) | vs, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1]),
    )
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return (
        b"\xff\xd8"
        + dqt(0, ql) + dqt(1, qc)
        + dht(0, 0, _K_DC_LUMA) + dht(1, 0, _K_AC_LUMA)
        + dht(0, 1, _K_DC_CHROMA) + dht(1, 1, _K_AC_CHROMA)
        + sof + dri + sos + bytes(writer.out) + b"\xff\xd9"
    )


def jpeg_image_decoder(data: bytes) -> tuple[int, int, float]:
    """(width, height, mean luma) of a baseline JPEG."""
    width, height, rows = decode_jpeg(data)
    return width, height, _mean_luma_of(width, height, rows)


def jpeg_resizer(data: bytes, max_side: int) -> tuple[bytes, int, int]:
    """Nearest-neighbor downscale of a baseline JPEG, re-encoded as JPEG."""
    width, height, rows = decode_jpeg(data)
    out_rows, out_w, out_h = _resize_rows(rows, width, height, max_side)
    return encode_jpeg(out_rows), out_w, out_h


# Apply the corrupt-payload contract to every public parser entry point:
# any KeyError/IndexError/struct.error a malformed payload provokes
# surfaces as ValueError (see _codec_guard).
decode_bmp = _codec_guard(decode_bmp)
decode_jpeg = _codec_guard(decode_jpeg)
jpeg_image_decoder = _codec_guard(jpeg_image_decoder)
jpeg_resizer = _codec_guard(jpeg_resizer)
decode_png = _codec_guard(decode_png)
decode_gif = _codec_guard(decode_gif)
parse_wav_header = _codec_guard(parse_wav_header)
wav_window_features = _codec_guard(wav_window_features)
bmp_image_decoder = _codec_guard(bmp_image_decoder)
png_image_decoder = _codec_guard(png_image_decoder)
gif_image_decoder = _codec_guard(gif_image_decoder)
bmp_resizer = _codec_guard(bmp_resizer)
png_resizer = _codec_guard(png_resizer)
sniff_image_decoder = _codec_guard(sniff_image_decoder)
sniff_image_resizer = _codec_guard(sniff_image_resizer)
dhash64 = _codec_guard(dhash64)
