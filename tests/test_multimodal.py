"""Multimodal plumbing: schemas, batch shapes, geometry algebra, and
the four REAL codecs — PNG (stdlib zlib), baseline JPEG (numpy
Huffman+IDCT; grayscale + YCbCr color + restart intervals), PCM WAV
(stdlib RIFF) and MJPEG AVI (RIFF demux + per-frame JPEG). Formats
beyond those remain NotImplementedError by design — the container
has no image/audio libraries."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from trace_data_pipeline_spark.datapipe.multimodal import (
    FEATURE_DIM,
    decode_image,
    extract_features,
)


def _media(spark, rows):
    return spark.createDataFrame(
        rows, "media_id long, payload binary, meta struct<mime:string, width:int, height:int, duration_ms:int>"
    )


def test_decode_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_extract_features_shape_and_determinism(spark):
    m = _media(
        spark,
        [
            (1, b"payload-a", ("image/png", 4, 4, None)),
            (2, b"payload-b", ("image/png", 4, 4, None)),
            (3, None, ("image/png", None, None, None)),
        ],
    )
    out = extract_features(m).orderBy("media_id").collect()
    assert [r.media_id for r in out] == [1, 2, 3]
    assert all(len(r.features) == FEATURE_DIM for r in out)
    # deterministic: same payload -> same vector, md5-derived
    want0 = hashlib.md5(b"payload-a").digest()[0] / 256.0
    assert abs(out[0].features[0] - want0) < 1e-9
    assert out[2].n_bytes == 0


# ---- real PNG codec ----------------------------------------------------


def test_png_decode_handmade_filters():
    """Golden: a 3x3 grayscale PNG whose IDAT is hand-assembled with a
    different filter on each scanline (Sub, Up, Paeth) — checks the
    unfilter arithmetic against hand-computed pixel values, independent
    of our encoder."""
    import struct
    import zlib

    from trace_data_pipeline_spark.datapipe.png import SIGNATURE, decode_png

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    # target pixels (rows): (10,20,30) / (15,25,35) / (40,50,60)
    # row0 Sub(1):   raw = 10, 20-10, 30-20        = 10,10,10
    # row1 Up(2):    raw = 15-10, 25-20, 35-30     = 5,5,5
    # row2 Paeth(4): a=left, b=up, c=up-left
    #   x0: a=0,b=15,c=0 -> p=15 -> pred 15; raw = 40-15 = 25
    #   x1: a=40,b=25,c=15 -> p=50: pa=10,pb=25,pc=35 -> pred a=40; raw=50-40=10
    #   x2: a=50,b=35,c=25 -> p=60: pa=10,pb=25,pc=35 -> pred a=50; raw=60-50=10
    raw = bytes([1, 10, 10, 10]) + bytes([2, 5, 5, 5]) + bytes([4, 25, 10, 10])
    ihdr = struct.pack(">IIBBBBB", 3, 3, 8, 0, 0, 0, 0)
    png = (
        SIGNATURE + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    w, h, ch, px = decode_png(png)
    assert (w, h, ch) == (3, 3, 1)
    assert list(px) == [10, 20, 30, 15, 25, 35, 40, 50, 60]


def test_png_roundtrip_all_types_and_filters():
    """encode→decode is identity for every supported color type and
    every filter type."""
    from trace_data_pipeline_spark.datapipe.png import decode_png, encode_png

    w, h = 7, 5
    for channels in (1, 2, 3, 4):
        px = bytes(
            (x * 7 + y * 13 + c * 29) % 256
            for y in range(h) for x in range(w) for c in range(channels)
        )
        for ftype in range(5):
            blob = encode_png(px, w, h, channels, filter_type=ftype)
            gw, gh, gch, gpx = decode_png(blob)
            assert (gw, gh, gch) == (w, h, channels), (channels, ftype)
            assert bytes(gpx) == px, (channels, ftype)


def test_png_palette_expansion():
    import struct
    import zlib

    from trace_data_pipeline_spark.datapipe.png import SIGNATURE, decode_png

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    raw = bytes([0, 0, 1, 2, 0, 2, 1, 0])  # 2 rows of indices, filter 0
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)
    png = (
        SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    w, h, ch, px = decode_png(png)
    assert (w, h, ch) == (3, 2, 3)
    assert bytes(px[:9]) == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])


def test_png_malformed_raises_value_error_not_struct_error():
    """ADVICE round 3: the loud-ValueError contract must hold for (a) a
    chunk truncated before its CRC and (b) a palette index past the end
    of PLTE (which would silently corrupt pixels via bytearray slice
    resize)."""
    import struct
    import zlib

    import pytest as _pytest

    from trace_data_pipeline_spark.datapipe.png import (
        SIGNATURE,
        decode_png,
        encode_png,
    )

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    # (a) truncated mid-chunk: dropping IEND (12 bytes) plus one byte
    # of the preceding IDAT CRC leaves an intact chunk header whose
    # declared span runs past the payload end
    blob = encode_png(bytes([1, 2, 3, 4]), 2, 2, 1)
    with _pytest.raises(ValueError, match="truncated"):
        decode_png(blob[:-13])

    # (b) palette index 2 with a 2-entry PLTE
    plte = bytes([255, 0, 0, 0, 255, 0])
    raw = bytes([0, 0, 1, 2])  # one row, index 2 out of range
    ihdr = struct.pack(">IIBBBBB", 3, 1, 8, 3, 0, 0, 0)
    png = (
        SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="palette index"):
        decode_png(png)


def test_decode_image_routes_png_jpeg_and_rejects_others():
    import pytest as _pytest

    from trace_data_pipeline_spark.datapipe.jpeg import encode_jpeg_gray
    from trace_data_pipeline_spark.datapipe.multimodal import decode_image
    from trace_data_pipeline_spark.datapipe.png import encode_png

    blob = encode_png(bytes([1, 2, 3, 4]), 2, 2, 1)
    assert decode_image(blob)[:3] == (2, 2, 1)
    jblob = encode_jpeg_gray(8, 8, bytes([10] * 64))
    assert decode_image(jblob)[:3] == (8, 8, 1)
    # JPEG-prefixed garbage is IN scope and malformed -> ValueError
    with _pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 not a real jpeg")
    # a format with no codec keeps the NotImplementedError boundary
    with _pytest.raises(NotImplementedError):
        decode_image(b"GIF89a notdecodable")


def test_extract_features_real_png_kernel(spark):
    """PNG rows produce measured pixel stats; non-PNG rows keep the
    fake kernel."""
    from trace_data_pipeline_spark.datapipe.multimodal import extract_features
    from trace_data_pipeline_spark.datapipe.png import encode_png

    px = bytes([0, 100, 200, 50])  # 2x2 grayscale
    rows = [
        (1, encode_png(px, 2, 2, 1), ("image/png", 2, 2, None)),
        (2, b"not-an-image", ("application/octet-stream", None, None, None)),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, payload binary,"
        " meta struct<mime:string,width:int,height:int,duration_ms:int>",
    )
    got = {r["media_id"]: r for r in extract_features(media).collect()}
    f1 = got[1]["features"]
    assert f1[:4] == [2.0, 2.0, 1.0, 4.0]
    assert f1[4] == (0 + 100 + 200 + 50) / 4.0  # mean
    assert (f1[5], f1[6]) == (0.0, 200.0)  # min, max
    assert f1[7:] == [0.0] * 9  # absent channels
    # fake path: md5-derived, first value is digest[0]/256
    import hashlib

    d = hashlib.md5(b"not-an-image").digest()
    assert got[2]["features"][0] == pytest.approx(d[0] / 256.0)


# ------------------------------------------------------------- JPEG (r5)


def test_jpeg_constant_block_roundtrip_exact():
    """The d12c exactness contract: constant 8x8 blocks with the
    all-ones quant table survive encode->decode BIT-EXACTLY, including
    non-multiple-of-8 geometry (pad + crop)."""
    import random

    from trace_data_pipeline_spark.datapipe.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
        is_jpeg,
    )

    rng = random.Random(11)
    for w, h in [(8, 8), (20, 13), (9, 24), (17, 9)]:
        bw, bh = (w + 7) // 8, (h + 7) // 8
        blocks = [[rng.randrange(256) for _ in range(bw)] for _ in range(bh)]
        px = bytes(blocks[y // 8][x // 8] for y in range(h) for x in range(w))
        enc = encode_jpeg_gray(w, h, px)
        assert is_jpeg(enc)
        gw, gh, ch, dec = decode_jpeg(enc)
        assert (gw, gh, ch) == (w, h, 1)
        assert bytes(dec) == px


def test_jpeg_general_content_near_exact_at_q1():
    """Non-constant blocks exercise the AC run-length path (runs, ZRL,
    EOB, negative coefficients via EXTEND): with quant=1 the only loss
    is coefficient rounding, so every decoded pixel is within 2 of the
    source — a wrong zigzag, sign, or run would be off by hundreds."""
    from trace_data_pipeline_spark.datapipe.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    w, h = 24, 16
    px = bytes((x * 7 + y * 13 + (x * y) % 5 * 50) % 256
               for y in range(h) for x in range(w))
    _, _, _, dec = decode_jpeg(encode_jpeg_gray(w, h, px))
    assert max(abs(a - b) for a, b in zip(px, dec)) <= 2


def test_jpeg_quant_table_applied():
    """A coarse quant table must actually quantize (lossy but bounded)
    — proves DQT parse + dequant multiply are wired, not ignored."""
    from trace_data_pipeline_spark.datapipe.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    w, h = 16, 16
    px = bytes((x * 11 + y * 3) % 256 for y in range(h) for x in range(w))
    _, _, _, dec = decode_jpeg(encode_jpeg_gray(w, h, px, quant=[16] * 64))
    errs = [abs(a - b) for a, b in zip(px, dec)]
    assert 0 < max(errs) <= 64  # lossy, but sane


def test_jpeg_malformed_and_out_of_scope(spark):
    """Malformed streams raise ValueError (truncation, bad Huffman,
    missing tables — never struct.error/IndexError); in-format-but-
    out-of-scope features raise NotImplementedError (the documented
    boundary); and extract_features' router degrades out-of-scope
    JPEGs to the fake kernel instead of failing the batch."""
    import struct

    import pytest as _pytest

    from trace_data_pipeline_spark.datapipe.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )
    from trace_data_pipeline_spark.datapipe.multimodal import (
        _fake_features,
        extract_features,
    )

    good = encode_jpeg_gray(8, 8, bytes(range(64)))
    with _pytest.raises(ValueError):
        decode_jpeg(good[:40])  # truncated mid-headers
    with _pytest.raises(ValueError):
        decode_jpeg(good[:-10])  # missing EOI
    # truncation INSIDE the SOF0 segment must still be ValueError, not
    # a struct.error leaking through the documented contract
    sof_off = good.find(b"\xff\xc0")
    with _pytest.raises(ValueError):
        decode_jpeg(good[: sof_off + 8])
    # declared dimensions over the sample cap are refused BEFORE
    # allocation (memory-bomb guard) — but as ImageTooLarge, a
    # NotImplementedError subclass (ADVICE r5): a 3000x2000 color
    # photo is a LEGITIMATE baseline JPEG this sandbox decoder simply
    # lacks capacity for, so the router must degrade it, not die
    from trace_data_pipeline_spark.datapipe.jpeg import ImageTooLarge

    bomb = bytearray(good)
    struct.pack_into(">HH", bomb, sof_off + 5, 65535, 65535)
    with _pytest.raises(ImageTooLarge, match="sample cap"):
        decode_jpeg(bytes(bomb))
    assert issubclass(ImageTooLarge, NotImplementedError)
    m_big = _media(spark, [(9, bytes(bomb), ("image/jpeg", 65535, 65535, None))])
    row_big = extract_features(m_big).collect()[0]
    assert list(row_big.features) == [
        pytest.approx(v) for v in _fake_features(bytes(bomb))
    ]
    # flip SOF0 -> SOF2 (progressive): out of scope
    prog = bytearray(good)
    prog[sof_off + 1] = 0xC2
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(prog))
    # 4-component SOF0 (CMYK): out of scope (3-component color is IN
    # scope since the r5 color extension)
    sof = (b"\xff\xd8"
           + b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
           + b"\xff\xc0" + struct.pack(">H", 20)
           + struct.pack(">BHHB", 8, 8, 8, 4)
           + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00\x04\x11\x00")
    with _pytest.raises(NotImplementedError):
        decode_jpeg(sof + b"\xff\xd9")
    # the ROUTER (not the codec) degrades out-of-scope JPEG to the
    # fake kernel — asserted through extract_features itself
    m = _media(spark, [(1, bytes(prog), ("image/jpeg", 8, 8, None))])
    row = extract_features(m).collect()[0]
    assert list(row.features) == [
        pytest.approx(v) for v in _fake_features(bytes(prog))
    ]


def test_jpeg_zigzag_matches_spec():
    """The Annex-K zigzag sequence, hard-pinned (round-5 review: the
    table was generated TRANSPOSED — self-consistent round-trips hid
    it; this pins the true spec order so externally produced JPEGs
    decode correctly)."""
    from trace_data_pipeline_spark.datapipe.jpeg import _ZIGZAG

    spec_first16 = [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
        (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    ]
    assert _ZIGZAG[:16] == spec_first16
    assert len(_ZIGZAG) == 64 and len(set(_ZIGZAG)) == 64
    assert _ZIGZAG[63] == (7, 7)


def test_jpeg_fill_bytes_and_decode_speed():
    """(a) Spec-legal 0xFF fill bytes between header segments must not
    desync the marker parser; (b) the bit accumulators truncate
    consumed bits — a 256x256 decode finishes in well under a second
    (the unbounded-bigint version measured ~10 s)."""
    import time

    from trace_data_pipeline_spark.datapipe.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray(8, 8, bytes(range(64)))
    # inject fill bytes before the DQT marker
    off = good.find(b"\xff\xdb")
    padded = good[:off] + b"\xff\xff\xff" + good[off + 1:]
    assert decode_jpeg(padded)[:3] == (8, 8, 1)

    w = h = 256
    px = bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))
    blob = encode_jpeg_gray(w, h, px)
    t0 = time.perf_counter()
    gw, gh, _, dec = decode_jpeg(blob)
    dt = time.perf_counter() - t0
    assert (gw, gh) == (w, h)
    assert max(abs(a - b) for a, b in zip(px, dec)) <= 2
    assert dt < 5.0, f"256x256 decode took {dt:.1f}s — accumulator blowup?"


# ------------------------------------------------------------- WAV (r5)


def test_wav_roundtrip_and_depths():
    """PCM16 encode->decode is identity for mono and stereo (interleave
    order pinned), and an 8-bit payload decodes recentred to signed."""
    import struct

    from trace_data_pipeline_spark.datapipe.wav import decode_wav, encode_wav

    mono = [[(i * 7) % 3001 - 1500 for i in range(100)]]
    r, ch, got = decode_wav(encode_wav(16000, 1, mono))
    assert (r, ch) == (16000, 1) and got == mono

    stereo = [[i for i in range(50)], [-i for i in range(50)]]
    r, ch, got = decode_wav(encode_wav(8000, 2, stereo))
    assert (r, ch) == (8000, 2) and got == stereo

    # hand-built 8-bit mono: samples 0,128,255 -> -128, 0, 127
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", 3) + bytes([0, 128, 255]))
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    r, ch, got = decode_wav(payload)
    assert got == [[-128, 0, 127]]


def test_wav_malformed_and_out_of_scope(spark):
    """Truncated/inconsistent RIFF raises ValueError; compressed format
    tags raise NotImplementedError; and the audio router yields the
    null stats row for formats without a codec instead of failing."""
    import struct

    import pytest as _pytest

    from trace_data_pipeline_spark.datapipe.multimodal import (
        extract_audio_features,
    )
    from trace_data_pipeline_spark.datapipe.wav import decode_wav, encode_wav

    good = encode_wav(8000, 1, [[1, 2, 3, 4]])
    with _pytest.raises(ValueError):
        decode_wav(good[:-3])  # data chunk runs past payload end
    with _pytest.raises(ValueError):
        decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data
    mp3ish = bytearray(good)
    struct.pack_into("<H", mp3ish, good.find(b"fmt ") + 8, 85)  # MP3 tag
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(mp3ish))
    # ADVICE r5: a data chunk cut mid-frame (length not a multiple of
    # block_align) is corruption and must raise loudly, not silently
    # drop the trailing partial frame
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", 6) + bytes(6))  # 1.5 frames
    midframe = b"RIFF" + struct.pack("<I", len(body)) + body
    with _pytest.raises(ValueError, match="truncated mid-frame"):
        decode_wav(midframe)

    m = _media(spark, [
        (1, good, ("audio/wav", None, None, None)),
        (2, b"ID3 not-a-wav-at-all", ("audio/mpeg", None, None, None)),
        (3, bytes(mp3ish), ("audio/wav", None, None, None)),
    ])
    rows = {r.media_id: r for r in extract_audio_features(m).collect()}
    assert rows[1].n_samples == 4 and rows[1].ch0_max == 4.0
    assert rows[2].sample_rate is None  # no codec -> null stats row
    assert rows[3].sample_rate is None  # out-of-scope PCM variant


# ------------------------------------------------------------- AVI (r5)


def test_avi_mux_demux_roundtrip_and_boundaries(spark):
    """(a) mux->demux returns the frame payloads byte-identical in
    stream order with the avih frame interval; (b) malformed RIFF
    raises ValueError; non-MJPEG fourccs raise NotImplementedError;
    (c) the video router emits per-sampled-frame rows for AVI, the
    stride skips frames, and a codec-less payload yields one null row."""
    import pytest as _pytest

    from trace_data_pipeline_spark.datapipe.avi import (
        decode_avi_frames,
        encode_avi_mjpeg,
        is_avi,
    )
    from trace_data_pipeline_spark.datapipe.jpeg import encode_jpeg_gray
    from trace_data_pipeline_spark.datapipe.multimodal import (
        extract_video_features,
    )

    frames = [
        encode_jpeg_gray(16, 9, bytes([(10 + 40 * f)] * 144))
        for f in range(4)
    ]
    avi = encode_avi_mjpeg(frames, 16, 9, usec_per_frame=50000)
    assert is_avi(avi)
    usec, got = decode_avi_frames(avi)
    assert usec == 50000 and got == frames

    with _pytest.raises(ValueError):
        decode_avi_frames(avi[:-5])  # RIFF size past payload end
    h264 = bytearray(avi)
    i = avi.find(b"vids") + 4
    h264[i : i + 4] = b"H264"
    with _pytest.raises(NotImplementedError):
        decode_avi_frames(bytes(h264))

    # ADVICE r5: a structurally valid MJPG container with an EMPTY movi
    # list is missing content, not corruption — NotImplementedError so
    # the router degrades it to the null row instead of killing a task
    import struct as _struct

    movi_lst = avi.find(b"movi") - 8  # the movi LIST header start
    empty_body = avi[8:movi_lst] + b"LIST" + _struct.pack("<I", 4) + b"movi"
    zero_frames = b"RIFF" + _struct.pack("<I", len(empty_body)) + empty_body
    assert is_avi(zero_frames)
    with _pytest.raises(NotImplementedError, match="zero movi frames"):
        decode_avi_frames(zero_frames)

    m = _media(spark, [
        (1, avi, ("video/avi", 16, 9, 200)),
        (2, b"\x00\x00\x01\xba mpeg-ps", ("video/mpeg", None, None, None)),
        (3, bytes(h264), ("video/avi", 16, 9, 200)),
        (4, zero_frames, ("video/avi", 16, 9, 0)),
    ])
    rows = extract_video_features(m, every_n=2).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    a = sorted(by_id[1], key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in a] == [0, 2]  # stride 2 over 4 frames
    assert [r.frame_ms for r in a] == [0.0, 100.0]
    # constant frames: mean == min == max == the frame constant
    assert (a[0].px_mean, a[0].px_min, a[0].px_max) == (10.0, 10.0, 10.0)
    assert (a[1].px_mean, a[1].px_min, a[1].px_max) == (90.0, 90.0, 90.0)
    assert len(by_id[2]) == 1 and by_id[2][0].frame_idx is None
    assert len(by_id[3]) == 1 and by_id[3][0].frame_idx is None
    assert len(by_id[4]) == 1 and by_id[4][0].frame_idx is None


def test_avi_wav_hardening_from_review(spark):
    """Round-5 second review pins: (1) a color-frame MJPG AVI degrades
    to the null row instead of crashing the task; (2) WAV sample_rate=0
    is ValueError, not ZeroDivisionError; (3) a LIST-in-LIST tower is
    handled iteratively (no RecursionError); (4) an AVI with no vids
    strh is out-of-scope; (5) frames are scoped to the FIRST vids
    stream — a second stream's chunks don't interleave; (6) WAV honors
    the declared RIFF extent (lying size raises; trailing garbage is
    not parsed as chunks)."""
    import struct
    import sys

    import pytest as _pytest

    from trace_data_pipeline_spark.datapipe.avi import (
        decode_avi_frames,
        encode_avi_mjpeg,
    )
    from trace_data_pipeline_spark.datapipe.jpeg import encode_jpeg_gray
    from trace_data_pipeline_spark.datapipe.multimodal import (
        extract_video_features,
    )
    from trace_data_pipeline_spark.datapipe.wav import decode_wav, encode_wav

    # (1) an out-of-scope frame codec inside an MJPG container must
    # degrade to the null row, not crash the task. Color baseline is
    # IN scope since the r5 color extension, so the probe frame is a
    # PROGRESSIVE (SOF2) JPEG — still missing-capability.
    prog_frame = bytearray(encode_jpeg_gray(8, 8, bytes([7] * 64)))
    prog_frame[prog_frame.find(b"\xff\xc0") + 1] = 0xC2
    avi_prog = encode_avi_mjpeg([bytes(prog_frame)], 8, 8)
    m = _media(spark, [(1, avi_prog, ("video/avi", 8, 8, None))])
    rows = extract_video_features(m).collect()
    assert len(rows) == 1 and rows[0].frame_idx is None

    # (2) zero sample rate
    wav = bytearray(encode_wav(8000, 1, [[1, 2]]))
    struct.pack_into("<I", wav, wav.find(b"fmt ") + 12, 0)
    with _pytest.raises(ValueError, match="sample rate"):
        decode_wav(bytes(wav))

    # (3) deep LIST tower: ValueError/NotImplementedError are fine,
    # RecursionError is not
    depth = sys.getrecursionlimit() + 200
    inner = b""
    for _ in range(depth):
        inner = b"LIST" + struct.pack("<I", len(inner) + 4) + b"xxxx" + inner
    tower = b"RIFF" + struct.pack("<I", len(inner) + 4) + b"AVI " + inner
    with _pytest.raises((ValueError, NotImplementedError)):
        decode_avi_frames(tower)

    # (4) frames but no strh: cannot prove the codec
    frame = encode_jpeg_gray(8, 8, bytes([5] * 64))
    good = encode_avi_mjpeg([frame], 8, 8)
    strl_off = good.find(b"strl")
    # blank the strh id so no stream header is recognized
    no_strh = good.replace(b"strh", b"strx")
    with _pytest.raises(NotImplementedError, match="no vids stream"):
        decode_avi_frames(no_strh)
    assert strl_off > 0

    # (5) a second stream's 01dc chunk is ignored, not interleaved
    other = encode_jpeg_gray(8, 8, bytes([200] * 64))
    movi_off = good.find(b"00dc")
    extra = b"01dc" + struct.pack("<I", len(other)) + other + (
        b"\x00" if len(other) & 1 else b"")
    # splice the foreign chunk inside the movi list and fix sizes
    patched = bytearray(good[:movi_off] + extra + good[movi_off:])
    movi_list = patched.find(b"movi") - 8
    (old,) = struct.unpack("<I", patched[movi_list + 4 : movi_list + 8])
    struct.pack_into("<I", patched, movi_list + 4, old + len(extra))
    (oldr,) = struct.unpack("<I", patched[4:8])
    struct.pack_into("<I", patched, 4, oldr + len(extra))
    usec, frames = decode_avi_frames(bytes(patched))
    assert frames == [frame]  # only the vids stream's frame

    # (6) RIFF extent honored
    wav_good = encode_wav(8000, 1, [[1, 2, 3]])
    lying = bytearray(wav_good)
    struct.pack_into("<I", lying, 4, len(wav_good) + 100)
    with _pytest.raises(ValueError, match="RIFF size"):
        decode_wav(bytes(lying))
    # trailing stray 'data' beyond the declared extent is ignored
    stray = wav_good + b"data" + struct.pack("<I", 2) + b"\x7f\x7f"
    rate, ch, samples = decode_wav(stray)
    assert samples == [[1, 2, 3]]


def test_jpeg_color_roundtrip_and_sampling():
    """r5 color extension: (a) 4:4:4 at quant=1 round-trips within
    the YCbCr<->RGB conversion rounding (|err| <= 2); (b) 4:2:0 and
    4:2:2 decode with bounded chroma-downsample error; (c) an
    achromatic image (R=G=B constant blocks) is BIT-EXACT even at
    4:2:0 (Cb=Cr=128 exactly survives the mean-downsample); (d) the
    decoded geometry/channel contract is (w, h, 3)."""
    from trace_data_pipeline_spark.datapipe.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
    )

    w, h = 20, 13
    rgb = bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in ((x * 11) % 256, (y * 17) % 256, (x * 3 + y * 5) % 256)
    )
    gw, gh, ch, px = decode_jpeg(encode_jpeg_color(w, h, rgb, (1, 1)))
    assert (gw, gh, ch) == (w, h, 3)
    assert max(abs(a - b) for a, b in zip(rgb, px)) <= 2

    for sub, tol in [((2, 2), 48), ((2, 1), 48)]:
        _, _, ch2, px2 = decode_jpeg(encode_jpeg_color(w, h, rgb, sub))
        assert ch2 == 3
        assert max(abs(a - b) for a, b in zip(rgb, px2)) <= tol

    gray = bytes(v for y in range(16) for x in range(16) for v in (99, 99, 99))
    _, _, _, px3 = decode_jpeg(encode_jpeg_color(16, 16, gray, (2, 2)))
    assert bytes(px3) == gray


def test_jpeg_color_features_via_router(spark):
    """A color baseline JPEG now runs the REAL kernel in
    extract_features: 3 channels, per-channel stats measured from
    decoded pixels (constant achromatic content -> exact means)."""
    from trace_data_pipeline_spark.datapipe.jpeg import encode_jpeg_color
    from trace_data_pipeline_spark.datapipe.multimodal import extract_features

    gray = bytes(v for y in range(8) for x in range(8) for v in (50, 50, 50))
    blob = encode_jpeg_color(8, 8, gray, (1, 1))
    m = _media(spark, [(1, blob, ("image/jpeg", 8, 8, None))])
    row = extract_features(m).collect()[0]
    f = list(row.features)
    assert f[:4] == [8.0, 8.0, 3.0, 64.0]
    # all three channels constant 50
    for c in range(3):
        assert f[4 + 3 * c : 7 + 3 * c] == [50.0, 50.0, 50.0]


def test_jpeg_restart_intervals():
    """DRI/RSTn support (the layout camera firmwares emit): encode with
    several restart strides and decode back — predictors reset and the
    stream re-aligns at every interval; a stream whose promised RST
    marker is absent raises ValueError."""
    import pytest as _pytest

    from trace_data_pipeline_spark.datapipe.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    w, h = 40, 24  # 15 MCUs
    px = bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))
    for ri in (1, 2, 4, 7):
        gw, gh, ch, dec = decode_jpeg(
            encode_jpeg_gray(w, h, px, restart_interval=ri)
        )
        assert (gw, gh, ch) == (w, h, 1)
        assert max(abs(a - b) for a, b in zip(px, dec)) <= 2, ri

    # constant blocks + restart: still bit-exact (DC resets agree)
    cb = bytes(((x // 8) * 31 + (y // 8) * 17) % 256
               for y in range(h) for x in range(w))
    assert bytes(decode_jpeg(encode_jpeg_gray(w, h, cb, restart_interval=3))[3]) == cb

    # promise a restart interval but strip the markers -> ValueError
    good = encode_jpeg_gray(w, h, cb, restart_interval=4)
    stripped = bytearray()
    i = 0
    sos = good.find(b"\xff\xda")
    stripped += good[: sos]
    i = sos
    while i < len(good) - 1:
        if good[i] == 0xFF and 0xD0 <= good[i + 1] <= 0xD7:
            i += 2
            continue
        stripped.append(good[i])
        i += 1
    stripped.append(good[-1])
    with _pytest.raises(ValueError, match="RST"):
        decode_jpeg(bytes(stripped))


def test_jpeg_third_review_gates():
    """Third review pass pins: (a) SOS component ids that don't match
    the SOF frame are CORRUPTION (ValueError, never a silent fake-
    kernel degrade); (b) Adobe APP14 transform-0 (RGB) 3-component
    frames are out of scope rather than silently converted as YCbCr;
    (c) the sample cap scales with component count."""
    import struct

    import pytest as _pytest

    from trace_data_pipeline_spark.datapipe.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray(8, 8, bytes(range(64)))
    # (a) corrupt the SOS component id (1 -> 5)
    sos = good.find(b"\xff\xda")
    bad = bytearray(good)
    assert bad[sos + 5] == 1
    bad[sos + 5] = 5
    with _pytest.raises(ValueError, match="component ids"):
        decode_jpeg(bytes(bad))

    # (b) splice an Adobe APP14 transform-0 marker into a color file
    color = encode_jpeg_color(8, 8, bytes([9] * 192), (1, 1))
    app14 = (b"\xff\xee" + struct.pack(">H", 14)
             + b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 0]))
    spliced = color[:2] + app14 + color[2:]
    with _pytest.raises(NotImplementedError, match="Adobe RGB"):
        decode_jpeg(spliced)
    # transform 1 (YCbCr) decodes fine
    app14_y = (b"\xff\xee" + struct.pack(">H", 14)
               + b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 1]))
    assert decode_jpeg(color[:2] + app14_y + color[2:])[:3] == (8, 8, 3)

    # (c) a color geometry just over MAX_PIXELS/3 is refused while the
    # same pixel count passes for grayscale
    sof_off = color.find(b"\xff\xc0")
    big = bytearray(color)
    struct.pack_into(">HH", big, sof_off + 5, 2400, 2400)  # 5.76M*3 > cap
    from trace_data_pipeline_spark.datapipe.jpeg import ImageTooLarge

    with _pytest.raises(ImageTooLarge, match="sample cap"):
        decode_jpeg(bytes(big))


def test_codec_fuzz_only_contract_exceptions():
    """Mutation fuzz over all three decoders (seeded): random byte
    flips and every truncation point of valid payloads may only ever
    raise the contract exceptions (ValueError / NotImplementedError)
    or succeed — no struct.error, IndexError, ZeroDivisionError or
    RecursionError can escape into a Spark task. (12k-mutation
    pre-flight ran clean at introduction; this keeps a seeded 600-case
    regression in-suite.)"""
    import random

    from trace_data_pipeline_spark.datapipe.avi import (
        decode_avi_frames,
        encode_avi_mjpeg,
    )
    from trace_data_pipeline_spark.datapipe.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        encode_jpeg_gray,
    )
    from trace_data_pipeline_spark.datapipe.wav import decode_wav, encode_wav

    rng = random.Random(42)
    gray = encode_jpeg_gray(
        17, 11, bytes((x * 7 + y * 13) % 256 for y in range(11) for x in range(17))
    )
    color = encode_jpeg_color(
        10, 9, bytes(rng.randrange(256) for _ in range(270)), (2, 2)
    )
    wav = encode_wav(8000, 2, [[rng.randrange(-100, 100) for _ in range(50)]] * 2)
    avi = encode_avi_mjpeg([gray, gray], 17, 11)

    def fuzz(decode, base, n):
        for _ in range(n):
            b = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                decode(bytes(b))
            except (ValueError, NotImplementedError):
                pass

    fuzz(decode_jpeg, gray, 200)
    fuzz(decode_jpeg, color, 200)
    fuzz(decode_wav, wav, 100)
    fuzz(decode_avi_frames, avi, 100)
    for base, decode in ((gray, decode_jpeg), (wav, decode_wav),
                         (avi, decode_avi_frames)):
        for cut in range(1, len(base), 7):
            try:
                decode(base[:cut])
            except (ValueError, NotImplementedError):
                pass


def test_decode_fn_injection(spark):
    """r5 verdict item 4: the decode function is INJECTABLE — a
    production codec (libjpeg-turbo / pyav / ffmpeg wrapper) must slot
    into the same mapInPandas contract by argument, no module surgery.
    The injected callables here return sentinel decodes; the assertion
    that the sentinel values come back through the Arrow kernel proves
    the closure (not the module global) reaches the Python workers."""
    from trace_data_pipeline_spark.datapipe.avi import encode_avi_mjpeg
    from trace_data_pipeline_spark.datapipe.jpeg import encode_jpeg_gray
    from trace_data_pipeline_spark.datapipe.multimodal import (
        extract_audio_features,
        extract_features,
        extract_video_features,
    )
    from trace_data_pipeline_spark.datapipe.wav import encode_wav

    jpg = encode_jpeg_gray(4, 4, bytes([7] * 16))

    def fake_image_decode(payload):
        return 2, 1, 1, bytearray([10, 30])  # w=2 h=1 gray

    row = extract_features(
        _media(spark, [(1, jpg, ("image/jpeg", 4, 4, None))]),
        decode_fn=fake_image_decode,
    ).collect()[0]
    assert list(row.features)[:4] == [2.0, 1.0, 1.0, 2.0]
    assert row.features[4] == pytest.approx(20.0)  # injected mean

    wav = encode_wav(8000, 1, [[5, 5]])

    def fake_audio_decode(payload):
        return 1000, 1, [[100, 200, 300]]

    arow = extract_audio_features(
        _media(spark, [(1, wav, ("audio/wav", None, None, None))]),
        decode_fn=fake_audio_decode,
    ).collect()[0]
    assert (arow.sample_rate, arow.n_samples) == (1000, 3)
    assert arow.ch0_mean == pytest.approx(200.0)

    avi = encode_avi_mjpeg([jpg], 4, 4, usec_per_frame=1000)

    def fake_demux(payload):
        return 2000, [b"frame0", b"frame1"]

    vrows = extract_video_features(
        _media(spark, [(1, avi, ("video/avi", 4, 4, 2))]),
        demux_fn=fake_demux,
        frame_decode_fn=fake_image_decode,
    ).collect()
    assert sorted(r.frame_idx for r in vrows) == [0, 1]
    assert {r.frame_ms for r in vrows} == {0.0, 2.0}
    assert all(r.px_mean == pytest.approx(20.0) for r in vrows)


def test_dhash_bands_locality_and_identity():
    """d35's hash kernel: identical pixels → identical bands; a
    ONE-pixel perturbation can alter at most the two adjacent
    comparison bits of the single resampled row that samples it (≤ 1
    band touched, Hamming ≤ 2) — the locality that makes the band
    join recall near-duplicates; and a full-image inversion-style
    change moves many bands."""
    import random

    from trace_data_pipeline_spark.datapipe.png import dhash_bands

    rng = random.Random(20260816)
    w, h = 15, 12
    base = [rng.randrange(256) for _ in range(w * h)]
    b0 = dhash_bands(bytes(base), w, h, 1)
    assert len(b0) == 8 and all(0 <= b < 256 for b in b0)
    assert dhash_bands(bytes(base), w, h, 1) == b0  # deterministic

    for _ in range(50):
        px = list(base)
        i = rng.randrange(w * h)
        px[i] = (px[i] + 200) % 256
        b1 = dhash_bands(bytes(px), w, h, 1)
        diff = [j for j in range(8) if b0[j] != b1[j]]
        assert len(diff) <= 1, (i, diff)
        if diff:
            ham = bin(b0[diff[0]] ^ b1[diff[0]]).count("1")
            assert ham <= 2, (i, ham)

    flipped = bytes((255 - v) for v in base)
    b2 = dhash_bands(flipped, w, h, 1)
    assert sum(1 for j in range(8) if b0[j] != b2[j]) >= 4
