"""Minimal stdlib-only PNG codec for the multimodal decode path.

No PIL/opencv in this container, but PNG needs nothing beyond zlib:
decode = chunk walk → inflate → per-scanline unfilter (None/Sub/Up/
Average/Paeth, RFC 2083 §6); encode = filter → deflate → chunk with
CRC. Supported: 8-bit depth, color types 0 (grey), 2 (RGB), 3
(palette), 4 (grey+alpha), 6 (RGBA), non-interlaced. Anything else
raises ValueError — at 100 TB you want a loud skip-and-log row, not a
silent wrong decode.

The decoder feeds `multimodal.decode_image` / `extract_features`; the
encoder renders report figures and synthesizes verifiable fixtures."""

from __future__ import annotations

import struct
import zlib

SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def is_png(payload: bytes | None) -> bool:
    return payload is not None and payload[:8] == SIGNATURE


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(payload: bytes) -> tuple[int, int, int, bytearray]:
    """→ (width, height, channels, row-major interleaved 8-bit pixels).
    Palette images are expanded to RGB."""
    if not is_png(payload):
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    color_type = bit_depth = interlace = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        if pos + 12 + length > len(payload):
            # truncated chunk: without this check the short CRC slice
            # would surface as struct.error, not the loud-ValueError
            # contract the decode path promises
            raise ValueError("truncated chunk")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        crc = payload[pos + 8 + length : pos + 12 + length]
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != struct.unpack(">I", crc)[0]:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    if bit_depth != 8:
        raise ValueError(f"unsupported bit depth {bit_depth}")
    if color_type not in _CHANNELS:
        raise ValueError(f"unsupported color type {color_type}")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    ch = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    if len(raw) != (stride + 1) * height:
        raise ValueError("IDAT size mismatch")
    out = bytearray(stride * height)
    prev = bytearray(stride)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    if color_type == 3:
        if plte is None:
            raise ValueError("palette image without PLTE")
        # validate indices up front: a past-the-end palette index would
        # otherwise produce a short slice whose bytearray slice-assign
        # silently RESIZES the output buffer — corrupt pixels, no error
        if max(out, default=0) * 3 + 3 > len(plte):
            raise ValueError("palette index out of range")
        rgb = bytearray(width * height * 3)
        for i, idx in enumerate(out):
            rgb[3 * i : 3 * i + 3] = plte[3 * idx : 3 * idx + 3]
        return width, height, 3, rgb
    return width, height, ch, out


_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(
    pixels: bytes, width: int, height: int, channels: int, filter_type: int = 0
) -> bytes:
    """8-bit non-interlaced encode with a single filter type applied to
    every scanline (0..4 — varied in tests to exercise the decoder's
    unfilter paths)."""
    if channels not in _COLOR_TYPE:
        raise ValueError(f"unsupported channel count {channels}")
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError("pixel buffer size mismatch")
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, _COLOR_TYPE[channels], 0, 0, 0
    )
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        line = bytearray(pixels[y * stride : (y + 1) * stride])
        f = bytearray(stride)
        if filter_type == 0:
            f = line
        elif filter_type == 1:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                f[i] = (line[i] - a) & 0xFF
        elif filter_type == 2:
            for i in range(stride):
                f[i] = (line[i] - prev[i]) & 0xFF
        elif filter_type == 3:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                f[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif filter_type == 4:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                c = prev[i - channels] if i >= channels else 0
                f[i] = (line[i] - _paeth(a, prev[i], c)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {filter_type}")
        raw.append(filter_type)
        raw += f
        prev = line
    return (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def resize_nearest(
    pixels: bytes,
    width: int,
    height: int,
    channels: int,
    out_w: int,
    out_h: int,
) -> bytes:
    """Deterministic nearest-neighbor resample: src index floor(i*src/dst)
    — pure integer arithmetic, reproducible everywhere."""
    out = bytearray(out_w * out_h * channels)
    for oy in range(out_h):
        sy = oy * height // out_h
        src_row = sy * width * channels
        dst_row = oy * out_w * channels
        for ox in range(out_w):
            sx = ox * width // out_w
            s = src_row + sx * channels
            d = dst_row + ox * channels
            out[d : d + channels] = pixels[s : s + channels]
    return bytes(out)


def dhash_bands(
    pixels: bytes,
    width: int,
    height: int,
    channels: int,
    cols: int = 9,
    rows: int = 8,
) -> list[int]:
    """Row-banded difference hash (dHash) over the FIRST channel:
    nearest-resample to cols x rows, then bit x of band y is 1 iff
    cell[y][x] > cell[y][x+1] — (cols-1) bits per band, `rows` bands.

    The row bands double as LSH bucket keys (the d4 minhash posture
    applied to perceptual hashes): a near-duplicate image differing in
    a few comparisons leaves most bands untouched, so candidate pairs
    surface from an equi-join on (band index, band value) — never an
    all-pairs scan — and the exact Hamming distance over all bands
    verifies them. Pure integer arithmetic end to end (the nearest
    resample is floor(i*src/dst)), bit-reproducible in any engine."""
    small = resize_nearest(pixels, width, height, channels, cols, rows)
    out = []
    stride = cols * channels
    for y in range(rows):
        row = small[y * stride : (y + 1) * stride]
        band = 0
        for x in range(cols - 1):
            if row[x * channels] > row[(x + 1) * channels]:
                band |= 1 << x
        out.append(band)
    return out
