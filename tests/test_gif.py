"""GIF codec: LZW edges, interlace, animation composition, hostile
inputs, and the video-operator seam (animated GIF = the web's most common
lightweight video container)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ocr_spark.kernels.gif import (
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    encode_gif,
    iter_gif_frames,
)


def _rng(seed=0):
    return np.random.default_rng(seed)


@pytest.mark.parametrize(
    "shape", [(1, 1, 1), (1, 8, 13), (3, 16, 16), (2, 8, 384), (1, 57, 43)]
)
def test_roundtrip_gray(shape):
    frames = _rng(3).integers(0, 256, shape, np.uint8)
    back = decode_gif(encode_gif(frames))
    assert len(back) == shape[0]
    for f, rgb in zip(frames, back):
        for c in range(3):  # identity gray palette: all channels equal
            np.testing.assert_array_equal(rgb[:, :, c], f)


def test_roundtrip_custom_palette_and_interlace():
    pal = _rng(1).integers(0, 256, (256, 3), np.uint8)
    idx = _rng(2).integers(0, 256, (1, 29, 17), np.uint8)
    for interlace in (False, True):
        rgb, = decode_gif(encode_gif(idx, palette=pal, interlace=interlace))
        np.testing.assert_array_equal(rgb, pal[idx[0]])


def test_lzw_dictionary_reset_path():
    """>4096 dictionary entries forces the encoder's clear-code reset and
    the decoder's table rebuild — random data at 100x100 overflows."""
    f = _rng(7).integers(0, 256, (1, 100, 100), np.uint8)
    np.testing.assert_array_equal(decode_gif(encode_gif(f))[0][:, :, 0], f[0])


def test_lzw_kwkwk_case():
    """The code==len(table) self-reference case (cScSc strings)."""
    # 'aaaa...' produces exactly that pattern at small code sizes
    seq = np.zeros(64, dtype=np.uint8)
    enc = _lzw_encode(seq, 2)
    np.testing.assert_array_equal(_lzw_decode(enc, 2, 64), seq)


def _lzw_decode_reference(data: bytes, min_code: int, expected: int):
    """The per-code dictionary loop the vectorized decoder replaced, kept
    here as the differential oracle: same pixels, or ValueError on both."""
    if not 2 <= min_code <= 8:
        raise ValueError(f"bad LZW min code size {min_code}")
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    acc = nbits = pos = 0
    prev = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table, width, prev = list(base), min_code + 1, None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out.extend(entry)
        if len(out) > expected:
            raise ValueError("LZW output exceeds frame size")
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) != expected:
        raise ValueError(f"LZW yielded {len(out)} of {expected} pixels")
    return np.frombuffer(bytes(out), dtype=np.uint8)


def _pack_codes(codes, min_code=8) -> bytes:
    """LSB-first code packer with the decoder's width schedule (the
    width after ``j`` codes since a clear is fixed by ``j`` alone), so
    tests can place any code at any table size."""
    clear = 1 << min_code
    out = bytearray()
    acc = nbits = j = 0
    for c in codes:
        width = min(12, max(min_code + 1, (clear + 1 + j).bit_length()))
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        j = 0 if c == clear else j + 1
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _both(data, min_code, expected):
    """(outcome, pixels) of the decoder and of the reference loop."""
    res = []
    for fn in (_lzw_decode, _lzw_decode_reference):
        try:
            res.append(("ok", fn(data, min_code, expected).tobytes()))
        except ValueError:
            res.append(("error", None))
    return res


@pytest.mark.parametrize("switch", [512, 2048])
def test_lzw_kwkwk_at_width_switch(switch):
    """KwKwK codes exactly where the width grows (9→10 at a 512-entry
    table, 11→12 at 2048): the last code read at the old width and the
    first read at the new one each reference the entry being defined."""
    clear, eoi = 256, 257
    j_last = switch - 1 - (clear + 1)  # code j is read at table size 257+j
    lits = _rng(11).integers(0, 256, j_last).tolist()
    codes = [clear] + lits + [switch - 1, switch, eoi]
    data = _pack_codes(codes)
    # the two self-referencing entries: last literal doubled, then that
    # span plus its own first pixel
    expected = lits + [lits[-1]] * 5
    ref = _lzw_decode_reference(data, 8, len(expected))
    assert ref.tolist() == expected
    np.testing.assert_array_equal(_lzw_decode(data, 8, len(expected)), ref)


def test_lzw_full_table_keeps_width_12():
    """A table that fills to 4096 with no clear code: every later code is
    still read at 12 bits and may reference any defined entry."""
    clear, eoi = 256, 257
    n = 4200  # past the 4096-entry fill point (j = 3839)
    codes = [clear] + _rng(12).integers(0, 256, n).tolist()
    codes += [4095, 300, 4000, eoi]  # entries of two literals each
    data = _pack_codes(codes)
    ref = _lzw_decode_reference(data, 8, n + 6)
    np.testing.assert_array_equal(_lzw_decode(data, 8, n + 6), ref)


@pytest.mark.parametrize("j", [1, 2, 255, 1000, 3000])
def test_lzw_code_past_table_raises(j):
    """Code j after a clear may be at most the entry it defines
    (clear + 1 + j, the KwKwK case); one more is out of range (at widths
    where it is representable)."""
    clear, eoi = 256, 257
    codes = [clear] + [7] * j + [clear + 2 + j, eoi]
    with pytest.raises(ValueError, match="out of range"):
        _lzw_decode(_pack_codes(codes), 8, 10**6)


def test_lzw_back_to_back_clears_stay_linear():
    """~200k consecutive clear codes (each 9 bits, resetting nothing)
    decode in linear time: a decoder that re-scans the rest of the
    stream at every clear would take minutes here."""
    import time

    clear, eoi = 256, 257
    eight = _pack_codes([clear] * 8)  # 72 bits: byte-aligned repeat unit
    data = eight * 25_000 + _pack_codes([clear, 5, eoi])
    t0 = time.perf_counter()
    out = _lzw_decode(data, 8, 1)
    assert time.perf_counter() - t0 < 10.0
    assert out.tolist() == [5]


def test_lzw_matches_reference_loop_on_random_streams():
    """Differential fuzz against the per-code loop: valid encodings of
    low- and high-entropy rasters, bit flips, truncations and raw random
    bytes at every min code size give the same pixels or both raise."""
    rng = _rng(21)
    decoded = 0
    for it in range(1500):
        min_code = int(rng.integers(2, 9))
        if it % 3 == 0:
            data = rng.integers(0, 256, int(rng.integers(0, 60)), np.uint8)
            data, expected = data.tobytes(), int(rng.integers(0, 80))
        else:
            hi = (1 << min_code) if it % 3 == 1 else int(rng.integers(1, 4))
            arr = rng.integers(0, hi, int(rng.integers(1, 600)), np.uint8)
            data, expected = _lzw_encode(arr, min_code), len(arr)
            if rng.random() < 0.5:
                b = bytearray(data)
                b[int(rng.integers(0, len(b)))] ^= 1 << int(rng.integers(0, 8))
                data = bytes(b)
            if rng.random() < 0.2:
                data = data[: int(rng.integers(0, len(data) + 1))]
        new, ref = _both(data, min_code, expected)
        assert new == ref, (it, min_code, expected, data.hex())
        decoded += new[0] == "ok"
    assert decoded > 400  # the comparison covered real decodes


def test_animation_composition_transparency_and_disposal():
    """Hand-built animation: frame 2 is a sub-rectangle with a
    transparent index over frame 1's canvas — the composite shows frame
    1 pixels through the holes (the shape real animated GIFs have)."""
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    base = np.full((8, 8), 10, np.uint8)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 8, 8, 0xF7, 0, 0)
    out += pal.tobytes()

    def image_block(raster, x, y, w, h):
        b = bytearray(struct.pack("<BHHHHB", 0x2C, x, y, w, h, 0))
        b.append(8)
        lzw = _lzw_encode(raster.ravel(), 8)
        for at in range(0, len(lzw), 255):
            chunk = lzw[at : at + 255]
            b.append(len(chunk))
            b += chunk
        b.append(0)
        return b

    out += image_block(base, 0, 0, 8, 8)
    # GCE: transparent index 99, disposal 1 (leave)
    out += struct.pack("<BBBBHBB", 0x21, 0xF9, 4, (1 << 2) | 1, 5, 99, 0)
    patch = np.full((4, 4), 200, np.uint8)
    patch[1:3, 1:3] = 99  # transparent hole
    out += image_block(patch, 2, 2, 4, 4)
    out.append(0x3B)

    frames = decode_gif(bytes(out))
    assert len(frames) == 2
    assert frames[0][0, 0, 0] == 10
    f2 = frames[1][:, :, 0]
    assert f2[2, 2] == 200  # patch corner
    assert f2[3, 3] == 10  # transparent hole shows the base
    assert f2[0, 0] == 10  # outside the patch rectangle


def test_stride_and_max_frames():
    frames = _rng(5).integers(0, 256, (9, 8, 8), np.uint8)
    b = encode_gif(frames)
    assert [n for n, _ in iter_gif_frames(b, every_n=3)] == [0, 3, 6]
    assert [n for n, _ in iter_gif_frames(b, max_frames=2)] == [0, 1]
    with pytest.raises(ValueError, match="every_n"):
        next(iter_gif_frames(b, every_n=0))


def test_hostile_headers_fail_closed():
    # giant logical screen
    bad = bytearray(encode_gif(np.zeros((1, 4, 4), np.uint8)))
    struct.pack_into("<HH", bad, 6, 65535, 65535)
    with pytest.raises(ValueError, match="hostile|refusing"):
        decode_gif(bytes(bad))
    # frame rectangle outside the screen (descriptor sits at the fixed
    # offset 6 header + 7 LSD + 768 GCT for a single-frame file; byte
    # 0x2C also occurs INSIDE the gray palette, so no index() search)
    bad = bytearray(encode_gif(np.zeros((1, 4, 4), np.uint8)))
    pos = 6 + 7 + 768
    assert bad[pos] == 0x2C
    struct.pack_into("<HH", bad, pos + 1, 3, 3)  # x,y offset pushes out
    with pytest.raises(ValueError, match="rectangle"):
        decode_gif(bytes(bad))


def test_fuzz_single_byte_corruption_never_crashes():
    """Corrupted containers either decode (cosmetic) or raise ValueError —
    never any other exception (the callers' catch set)."""
    rng = _rng(9)
    base = encode_gif(rng.integers(0, 256, (2, 9, 9), np.uint8))
    for _ in range(300):
        b = bytearray(base)
        b[rng.integers(6, len(b))] ^= 1 << rng.integers(0, 8)
        try:
            decode_gif(bytes(b))
        except ValueError:
            pass


def test_truncation_fail_closed():
    base = encode_gif(_rng(4).integers(0, 256, (1, 8, 8), np.uint8))
    for cut in (7, 12, 20, len(base) // 2, len(base) - 2):
        try:
            decode_gif(base[:cut])
        except ValueError:
            pass


def test_video_operators_accept_animated_gif(spark):
    """Animated GIF flows through BOTH video operators: frame sampling
    (real frame count from the container) and subtitle OCR (glyph strips
    per frame recognized exactly)."""
    from ocr_spark.kernels.font import render_line_font
    from ocr_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        recognize_video_frames,
        sample_frames,
    )

    texts = [f"g{i}" for i in range(6)]
    rasters = [
        (render_line_font(t)[0] * 255).astype(np.uint8) for t in texts
    ]
    wmax = max(r.shape[1] for r in rasters)
    frames = np.stack(
        [np.pad(r, ((0, 0), (0, wmax - r.shape[1]))) for r in rasters]
    )
    payload = encode_gif(frames)
    media = spark.createDataFrame(
        [(3, "u", "video", bytearray(payload), (wmax, 8, 6, None, "image/gif"))],
        MEDIA_SCHEMA,
    )
    rows = sample_frames(media, every_n=2).collect()
    assert sorted(r.frame_no for r in rows) == [0, 2, 4]
    texts_out = {
        r.frame_no: r.text for r in recognize_video_frames(media).collect()
    }
    assert texts_out == {i: texts[i] for i in range(6)}


def test_feature_extractor_gif_all_frame_checksum(spark):
    """extract_media_features: fmt sniffs 'gif', dims come from the
    container, and the checksum spans ALL composited frames."""
    from ocr_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )

    frames = _rng(8).integers(0, 256, (3, 8, 12), np.uint8)
    payload = encode_gif(frames)
    media = spark.createDataFrame(
        [(1, "u", "image", bytearray(payload), (1, 1, 1, None, "image/gif"))],
        MEDIA_SCHEMA,
    )
    row = extract_media_features(media).collect()[0]
    assert row.fmt == "gif"
    assert (row.decoded_w, row.decoded_h) == (12, 8)
    assert row.pixel_sum == int(frames.astype(np.int64).sum())
