"""JPEG codec: spec known-answers, roundtrips, foreign-encoder shapes
(4:2:0 subsampling, restart intervals, 16-bit DQT), hostile inputs, fuzz.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ocr_spark.kernels import jpeg as J
from ocr_spark.kernels.jpeg import (
    decode_jpeg,
    encode_jpeg,
    jpeg_dims,
    jpeg_to_gray_float,
)


def _smooth(shape, seed=0):
    rng = np.random.default_rng(seed)
    x = rng.integers(0, 256, shape).astype(np.float64)
    for _ in range(2):
        p = np.pad(x, 1, mode="edge")
        x = sum(
            p[i : i + shape[0], j : j + shape[1]]
            for i in range(3)
            for j in range(3)
        ) / 9
    return x.astype(np.uint8)




def _smooth_rgb(h, w, seed=0):
    return np.stack(
        [_smooth((h, w), seed=seed + c) for c in range(3)], axis=-1
    )


# ---------------------------------------------------------------------------
# Spec known-answers (external checks on tables + bit packing, not
# encoder/decoder symmetry)
# ---------------------------------------------------------------------------


def test_uniform_midgray_entropy_bits_match_spec():
    """8x8 uniform v=128 at quality 50: level-shifted block is all zero, so
    the entropy segment is DC category 0 (luma DC code '00') + EOB (luma AC
    code '1010'), padded with 1-bits -> the single byte 0x2B. Hand-derived
    from the T.81 Annex K tables; a transcription error in either table or
    in the bit packer breaks this."""
    b = encode_jpeg(np.full((8, 8), 128, dtype=np.uint8), quality=50)
    sos = b.index(b"\xff\xda")
    (ln,) = struct.unpack_from(">H", b, sos + 2)
    entropy = b[sos + 2 + ln : -2]
    assert entropy == b"\x2b"


def test_zigzag_order_spec_values():
    """Spot-check the generated zigzag against the published sequence."""
    zz = J._ZZ
    assert list(zz[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert list(zz[-8:]) == [53, 60, 61, 54, 47, 55, 62, 63]
    assert sorted(zz) == list(range(64))


def test_quality50_quant_table_is_annex_k():
    assert (J._scale_quant(J._QUANT_LUMA, 50) == J._QUANT_LUMA).all()
    assert (J._scale_quant(J._QUANT_LUMA, 100) == 1).all()


# ---------------------------------------------------------------------------
# Roundtrips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("shape", [(8, 8), (16, 24), (13, 37), (1, 1), (9, 130)])
def test_gray_roundtrip_psnr(shape):
    x = _smooth(shape)
    y = decode_jpeg(encode_jpeg(x, quality=90))
    assert y.shape == x.shape and y.dtype == np.uint8
    err = np.abs(y.astype(float) - x.astype(float))
    assert err.max() <= 12  # q90 on smooth content


def test_rgb_roundtrip():
    rgb = np.zeros((16, 16, 3), np.uint8)
    rgb[:, :8] = [200, 30, 40]
    rgb[:, 8:] = [20, 180, 220]
    y = decode_jpeg(encode_jpeg(rgb, quality=95))
    assert y.shape == rgb.shape
    assert np.abs(y.astype(int) - rgb.astype(int)).max() <= 3


def test_block_uniform_exact_roundtrip():
    """Per-8x8-block uniform images survive q90 EXACTLY (DC-only blocks,
    DC quantizer 3 at q90 -> reconstruction error < 0.5): the closed-form
    pixel-sum the media_features oracle exploits."""
    W, H = 40, 16
    img = np.zeros((H, W), np.uint8)
    total = 0
    b = 0
    for by in range(H // 8):
        for bx in range(W // 8):
            v = (123 * 7 + b * 13) % 251
            img[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = v
            total += 64 * v
            b += 1
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert (dec == img).all()
    assert int(dec.sum()) == total


def test_gray_float_contract():
    g = jpeg_to_gray_float(encode_jpeg(np.full((8, 16), 64, np.uint8)))
    assert g.dtype == np.float32 and g.shape == (8, 16)
    assert 0.0 <= g.min() and g.max() <= 1.0
    rgbf = jpeg_to_gray_float(
        encode_jpeg(np.full((8, 8, 3), 200, np.uint8), quality=95)
    )
    assert rgbf.shape == (8, 8)


def test_jpeg_dims_header_only():
    assert jpeg_dims(encode_jpeg(np.zeros((24, 56), np.uint8))) == (56, 24, 1)
    assert jpeg_dims(
        encode_jpeg(np.zeros((10, 11, 3), np.uint8))
    ) == (11, 10, 3)
    with pytest.raises(ValueError, match="SOF"):  # SOF shorter than 6 bytes
        jpeg_dims(b"\xff\xd8\xff\xc0\x00\x02")


# ---------------------------------------------------------------------------
# Foreign-encoder shapes the in-repo encoder never emits
# ---------------------------------------------------------------------------


def _headers_gray(h, w, dri=0, dqt16=False):
    ql = J._scale_quant(J._QUANT_LUMA, 90)
    out = bytearray(b"\xff\xd8")
    if dqt16:
        body = struct.pack(">B", 0x10) + b"".join(
            struct.pack(">H", int(v)) for v in ql[J._ZZ]
        )
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(body)) + body
    else:
        out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(
            int(v) for v in ql[J._ZZ]
        )
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + bytes(
        [1, 0x11, 0]
    )

    def dht(cls, tid, bits, vals):
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    out += dht(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    return out, ql


def test_restart_markers_decode():
    """Grayscale 8x48 (6 MCUs) with DRI=2: entropy data split by RST0..2,
    DC predictors reset at each boundary — a shape real encoders emit for
    error resilience and our encoder never does."""
    x = _smooth((8, 48), seed=3)
    out, ql = _headers_gray(8, 48, dri=2)
    dc = J._build_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    ac = J._build_codes(J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    zz = J._plane_to_zz(x.astype(np.float64) - 128.0, ql)
    for group in range(3):
        writer = J._BitWriter()
        J._encode_blocks(writer, zz[group * 2 : group * 2 + 2], dc, ac, 0)
        out += writer.flush()
        if group < 2:
            out += bytes([0xFF, 0xD0 + group])
    out += b"\xff\xd9"
    y = decode_jpeg(bytes(out))
    assert y.shape == (8, 48)
    assert np.abs(y.astype(float) - x.astype(float)).max() <= 12


def test_16bit_dqt_decodes():
    x = _smooth((8, 16), seed=5)
    out, ql = _headers_gray(8, 16, dqt16=True)
    dc = J._build_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    ac = J._build_codes(J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    writer = J._BitWriter()
    J._encode_blocks(
        writer, J._plane_to_zz(x.astype(np.float64) - 128.0, ql), dc, ac, 0
    )
    out += writer.flush() + b"\xff\xd9"
    y = decode_jpeg(bytes(out))
    assert np.abs(y.astype(float) - x.astype(float)).max() <= 12


def test_420_subsampled_decodes():
    """Hand-built 4:2:0 YCbCr 16x16: Y at full resolution (4 blocks/MCU),
    Cb/Cr at quarter resolution (1 block each) — the dominant shape in
    real web JPEGs. Constant chroma makes replication upsampling exact."""
    y_val, cb_val, cr_val = 140, 90, 170
    ql = J._scale_quant(J._QUANT_LUMA, 90)
    qc = J._scale_quant(J._QUANT_CHROMA, 90)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(int(v) for v in ql[J._ZZ])
    out += b"\xff\xdb" + struct.pack(">HB", 67, 1) + bytes(int(v) for v in qc[J._ZZ])
    sof = struct.pack(">BHHB", 8, 16, 16, 3)
    sof += bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(cls, tid, bits, vals):
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    out += dht(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    out += dht(0, 1, J._DC_CHROMA_BITS, J._DC_CHROMA_VALS)
    out += dht(1, 1, J._AC_CHROMA_BITS, J._AC_CHROMA_VALS)
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_l = J._build_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    ac_l = J._build_codes(J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    dc_c = J._build_codes(J._DC_CHROMA_BITS, J._DC_CHROMA_VALS)
    ac_c = J._build_codes(J._AC_CHROMA_BITS, J._AC_CHROMA_VALS)
    writer = J._BitWriter()
    yzz = J._plane_to_zz(np.full((16, 16), y_val, np.float64) - 128.0, ql)
    pred = 0
    for blk in yzz:  # one MCU: 4 luma blocks in raster order
        pred = J._encode_blocks(writer, blk[None, :], dc_l, ac_l, pred)
    for v in (cb_val, cr_val):
        czz = J._plane_to_zz(np.full((8, 8), v, np.float64) - 128.0, qc)
        J._encode_blocks(writer, czz, dc_c, ac_c, 0)
    out += writer.flush() + b"\xff\xd9"

    img = decode_jpeg(bytes(out))
    assert img.shape == (16, 16, 3)
    # expected RGB from the JFIF YCbCr transform (chroma constant -> the
    # replication upsample introduces no error; quant error ±2)
    r = y_val + 1.402 * (cr_val - 128)
    g = y_val - 0.344136 * (cb_val - 128) - 0.714136 * (cr_val - 128)
    b = y_val + 1.772 * (cb_val - 128)
    want = np.round([r, g, b])
    assert np.abs(img.astype(float) - want).max() <= 3


# ---------------------------------------------------------------------------
# Hostile / malformed inputs
# ---------------------------------------------------------------------------


def test_hostile_dims_rejected_before_allocation():
    b = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
    sof = bytes(b).index(b"\xff\xc0")
    struct.pack_into(">HH", b, sof + 5, 65535, 65535)  # 4.3 GP declared
    with pytest.raises(ValueError, match="refusing|hostile"):
        decode_jpeg(bytes(b))


def test_baseline_scan_relabelled_progressive_rejected():
    """A baseline stream whose SOF0 is flipped to SOF2 carries a single
    Ss=0..Se=63 scan — an illegal progressive scan script (DC scans must
    have Se=0, T.81 G.1) — and must be rejected, not misparsed."""
    b = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
    sof = bytes(b).index(b"\xff\xc0")
    b[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive|unsupported"):
        decode_jpeg(bytes(b))


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b[:2],
        lambda b: b"\x00\x00" + b[2:],
        lambda b: b[: len(b) // 2],
        lambda b: b.replace(b"\xff\xda", b"\xff\xd9", 1),
        lambda b: b[:-10],
        # SOF shorter than 6 + 3*Nf bytes: an empty body, and a body that
        # declares 3 components but carries 1
        lambda b: b[:2] + b"\xff\xc0\x00\x02",
        lambda b: b[:2] + b"\xff\xc0\x00\x0b"
        + struct.pack(">BHHB", 8, 8, 8, 3) + bytes([1, 0x11, 0]),
    ],
)
def test_malformed_raises(mutate):
    src = encode_jpeg(_smooth((16, 16)))
    with pytest.raises(ValueError):
        decode_jpeg(mutate(src))


def test_fuzz_random_bytes():
    rng = np.random.default_rng(11)
    for i in range(200):
        blob = bytes(rng.integers(0, 256, rng.integers(0, 300)).astype(np.uint8))
        if rng.integers(0, 2):
            blob = b"\xff\xd8" + blob
        try:
            decode_jpeg(blob)
        except ValueError:
            pass  # the only allowed failure mode


def test_fuzz_single_byte_corruption():
    src = encode_jpeg(_smooth((16, 16), seed=9), quality=85)
    rng = np.random.default_rng(13)
    for _ in range(120):
        pos = int(rng.integers(0, len(src)))
        b = bytearray(src)
        b[pos] = int(rng.integers(0, 256))
        try:
            out = decode_jpeg(bytes(b))
            assert isinstance(out, np.ndarray)  # decoded despite damage: ok
        except ValueError:
            pass


def test_truncation_sweep():
    src = encode_jpeg(_smooth((8, 24), seed=2))
    for cut in range(2, len(src), 7):
        try:
            decode_jpeg(src[:cut])
        except ValueError:
            pass


# ---------------------------------------------------------------------------
# Progressive (SOF2) — encoder scan script + decoder scan accumulation
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("quality", [50, 75, 90, 95])
@pytest.mark.parametrize("shape", [(8, 8), (17, 23), (40, 33), (17, 23, 3)])
def test_progressive_pixels_identical_to_baseline(shape, quality):
    """Same quantized coefficients, two containers: the progressive script
    (DC first Al=1, spectrally-split AC first Al=1, DC+AC refinement to
    Al=0) must reconstruct byte-identical pixels to the baseline encoding
    of the same image at the same quality."""
    if len(shape) == 3:
        img = _smooth_rgb(shape[0], shape[1], seed=sum(shape) + quality)
    else:
        img = _smooth(shape, seed=sum(shape) + quality)
    prog = decode_jpeg(encode_jpeg(img, quality=quality, progressive=True))
    base = decode_jpeg(encode_jpeg(img, quality=quality, progressive=False))
    assert np.array_equal(prog, base)


def test_progressive_noise_stress_eobrun_correction_interleave():
    """Pure-noise blocks maximize the interaction between EOB runs and
    buffered correction bits in the AC refinement scans (regression: a
    single shared bit buffer flushed current-block correction bits before
    the symbol they must follow, desyncing every noisy decode)."""
    rng = np.random.default_rng(7)
    for trial in range(12):
        h, w = int(rng.integers(8, 48)), int(rng.integers(8, 48))
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        q = [50, 75, 90][trial % 3]
        prog = decode_jpeg(encode_jpeg(img, quality=q, progressive=True))
        base = decode_jpeg(encode_jpeg(img, quality=q, progressive=False))
        assert np.array_equal(prog, base)


def test_progressive_scan_script_shape():
    """Gray: 6 SOS (DC first, 2 spectral AC first, DC refine, 2 AC
    refine). RGB 4:4:4: 10 SOS (chroma gets a full-band AC scan each)."""
    g = encode_jpeg(_smooth((16, 16)), progressive=True)
    assert g.count(b"\xff\xc2") >= 1 and b"\xff\xc0" not in g[:200]
    assert g.count(b"\xff\xda") == 6
    c = encode_jpeg(_smooth_rgb(16, 16), progressive=True)
    assert c.count(b"\xff\xda") == 10


def test_progressive_jpeg_dims_header_only():
    b = encode_jpeg(_smooth_rgb(19, 31), progressive=True)
    assert jpeg_dims(b) == (31, 19, 3)


def test_progressive_gray_float_seam():
    img = _smooth((24, 24), seed=4)
    b = encode_jpeg(img, quality=90, progressive=True)
    f = jpeg_to_gray_float(b)
    assert f.shape == (24, 24) and f.dtype == np.float32
    assert np.abs(f * 255.0 - img.astype(np.float64)).max() <= 24


def test_progressive_truncation_sweep():
    src = encode_jpeg(_smooth((8, 24), seed=2), progressive=True)
    for cut in range(2, len(src), 11):
        try:
            decode_jpeg(src[:cut])
        except ValueError:
            pass


def test_progressive_fuzz_single_byte_corruption():
    src = encode_jpeg(_smooth((16, 16), seed=9), quality=85, progressive=True)
    rng = np.random.default_rng(17)
    for _ in range(120):
        pos = int(rng.integers(0, len(src)))
        b = bytearray(src)
        b[pos] = int(rng.integers(0, 256))
        try:
            out = decode_jpeg(bytes(b))
            assert isinstance(out, np.ndarray)
        except ValueError:
            pass


def test_progressive_restart_markers_decode():
    """Hand-built progressive gray 8x48 with DRI=2: every scan's entropy
    data is split by RST markers each 2 units (MCUs for the DC scan,
    blocks for AC scans), with DC predictors and EOB runs reset at each
    boundary — a foreign shape (e.g. mozjpeg with restarts) the in-repo
    encoder never emits."""
    x = _smooth((8, 48), seed=21)
    ql = J._scale_quant(J._QUANT_LUMA, 90)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(
        int(v) for v in ql[J._ZZ]
    )
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 48, 1) + bytes(
        [1, 0x11, 0]
    )

    def dht(cls, tid, bits, vals):
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    out += dht(1, 0, J._PROG_AC_BITS, J._PROG_AC_VALS)
    out += b"\xff\xdd" + struct.pack(">HH", 4, 2)
    dc = [J._build_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)]
    ac = J._build_codes(J._PROG_AC_BITS, J._PROG_AC_VALS)
    zz = J._plane_to_zz(x.astype(np.float64) - 128.0, ql)

    def sos(ss, se, ah, al):
        return b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes(
            [1, 0x00, ss, se, (ah << 4) | al]
        )

    def scan(enc):
        nonlocal out
        n_rst = 0
        for g in range(3):  # 6 blocks, restart every 2
            writer = J._BitWriter()
            enc(writer, zz[g * 2 : g * 2 + 2])
            out += writer.flush()
            if g < 2:
                out += bytes([0xFF, 0xD0 + (n_rst & 7)])
                n_rst += 1

    out += sos(0, 0, 0, 1)
    scan(lambda w, z: J._enc_dc_first(w, [z], dc, 1))
    out += sos(1, 63, 0, 1)
    scan(lambda w, z: J._enc_ac_first(w, z, 1, 63, 1, ac))
    out += sos(0, 0, 1, 0)
    scan(lambda w, z: J._enc_dc_refine(w, [z], 0))
    out += sos(1, 63, 1, 0)
    scan(lambda w, z: J._enc_ac_refine(w, z, 1, 63, 0, ac))
    out += b"\xff\xd9"

    y = decode_jpeg(bytes(out))
    base = decode_jpeg(encode_jpeg(x, quality=90, progressive=False))
    assert np.array_equal(y, base)


def test_420_progressive_decodes_like_420_baseline():
    """Hand-built 4:2:0 progressive 32x16 (2 MCUs): interleaved DC scans
    carry FOUR luma blocks per MCU plus one Cb/Cr each, AC scans walk
    each component's own raster block grid — subsampled + SOF2, the
    single most common shape in real web crawls. Must decode pixel-
    identical to a baseline 4:2:0 stream built from the same quantized
    coefficients."""
    H, W = 16, 32
    yp = _smooth((H, W), seed=31).astype(np.float64)
    cbp = np.full((H // 2, W // 2), 90.0)
    crp = np.full((H // 2, W // 2), 170.0)
    ql = J._scale_quant(J._QUANT_LUMA, 90)
    qc = J._scale_quant(J._QUANT_CHROMA, 90)
    yzz = J._plane_to_zz(yp - 128.0, ql)          # 2x4 blocks raster
    cbzz = J._plane_to_zz(cbp - 128.0, qc)        # 1x2 blocks
    crzz = J._plane_to_zz(crp - 128.0, qc)

    def headers(sof_marker):
        out = bytearray(b"\xff\xd8")
        out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(
            int(v) for v in ql[J._ZZ]
        )
        out += b"\xff\xdb" + struct.pack(">HB", 67, 1) + bytes(
            int(v) for v in qc[J._ZZ]
        )
        sof = struct.pack(">BHHB", 8, H, W, 3)
        sof += bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
        out += sof_marker + struct.pack(">H", 2 + len(sof)) + sof
        return out

    def dht(cls, tid, bits, vals):
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    # --- baseline reference stream ---
    base = headers(b"\xff\xc0")
    base += dht(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    base += dht(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    base += dht(0, 1, J._DC_CHROMA_BITS, J._DC_CHROMA_VALS)
    base += dht(1, 1, J._AC_CHROMA_BITS, J._AC_CHROMA_VALS)
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    base += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    dc_l = J._build_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    ac_l = J._build_codes(J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    dc_c = J._build_codes(J._DC_CHROMA_BITS, J._DC_CHROMA_VALS)
    ac_c = J._build_codes(J._AC_CHROMA_BITS, J._AC_CHROMA_VALS)
    bw = W // 8  # luma blocks per row
    writer = J._BitWriter()
    preds = [0, 0, 0]
    for mx in range(2):
        for by in range(2):
            for bx in range(2):
                preds[0] = J._encode_blocks(
                    writer, yzz[by * bw + mx * 2 + bx][None, :],
                    dc_l, ac_l, preds[0],
                )
        preds[1] = J._encode_blocks(writer, cbzz[mx][None, :], dc_c, ac_c, preds[1])
        preds[2] = J._encode_blocks(writer, crzz[mx][None, :], dc_c, ac_c, preds[2])
    base += writer.flush() + b"\xff\xd9"

    # --- progressive stream, same coefficients ---
    prog = headers(b"\xff\xc2")
    prog += dht(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    prog += dht(0, 1, J._DC_CHROMA_BITS, J._DC_CHROMA_VALS)
    prog += dht(1, 0, J._PROG_AC_BITS, J._PROG_AC_VALS)
    ac_p = J._build_codes(J._PROG_AC_BITS, J._PROG_AC_VALS)

    def sos_seg(comps, ss, se, ah, al):
        body = bytes([len(comps)])
        for cid, td, ta in comps:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    def cat(v):
        n = abs(v).bit_length()
        return n, (v if v >= 0 else v + (1 << n) - 1) & ((1 << n) - 1)

    # DC first (interleaved, Al=1): MCU order, luma 4 blocks then Cb, Cr
    prog += sos_seg([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 0, 1)
    writer = J._BitWriter()
    preds = [0, 0, 0]
    for mx in range(2):
        order = [(0, by * bw + mx * 2 + bx) for by in range(2) for bx in range(2)]
        order += [(1, mx), (2, mx)]
        for ci, idx in order:
            zz = (yzz, cbzz, crzz)[ci]
            v = int(zz[idx][0]) >> 1
            n, extra = cat(v - preds[ci])
            preds[ci] = v
            code, ln = (dc_l, dc_c, dc_c)[ci][n]
            writer.write(code, ln)
            if n:
                writer.write(extra, n)
    prog += writer.flush()
    # AC first (Al=1) then both refinements down to Al=0
    for cid, zz in [(1, yzz), (2, cbzz), (3, crzz)]:
        prog += sos_seg([(cid, 0, 0)], 1, 63, 0, 1)
        writer = J._BitWriter()
        J._enc_ac_first(writer, zz, 1, 63, 1, ac_p)
        prog += writer.flush()
    prog += sos_seg([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 1, 0)
    writer = J._BitWriter()
    for mx in range(2):
        order = [(0, by * bw + mx * 2 + bx) for by in range(2) for bx in range(2)]
        order += [(1, mx), (2, mx)]
        for ci, idx in order:
            zz = (yzz, cbzz, crzz)[ci]
            writer.write(int(zz[idx][0]) & 1, 1)
    prog += writer.flush()
    for cid, zz in [(1, yzz), (2, cbzz), (3, crzz)]:
        prog += sos_seg([(cid, 0, 0)], 1, 63, 1, 0)
        writer = J._BitWriter()
        J._enc_ac_refine(writer, zz, 1, 63, 0, ac_p)
        prog += writer.flush()
    prog += b"\xff\xd9"

    a = decode_jpeg(bytes(base))
    b = decode_jpeg(bytes(prog))
    assert a.shape == (H, W, 3)
    assert np.array_equal(a, b)


def test_422_subsampled_decodes():
    """Hand-built 4:2:2 YCbCr 16x16 (hs=2, vs=1: two luma blocks side by
    side per MCU, chroma halved horizontally only) — the other common
    camera/web subsampling. Constant chroma makes the horizontal
    replication upsample exact."""
    y_val, cb_val, cr_val = 120, 100, 150
    ql = J._scale_quant(J._QUANT_LUMA, 90)
    qc = J._scale_quant(J._QUANT_CHROMA, 90)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(
        int(v) for v in ql[J._ZZ]
    )
    out += b"\xff\xdb" + struct.pack(">HB", 67, 1) + bytes(
        int(v) for v in qc[J._ZZ]
    )
    sof = struct.pack(">BHHB", 8, 16, 16, 3)
    sof += bytes([1, 0x21, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(cls, tid, bits, vals):
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    out += dht(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    out += dht(0, 1, J._DC_CHROMA_BITS, J._DC_CHROMA_VALS)
    out += dht(1, 1, J._AC_CHROMA_BITS, J._AC_CHROMA_VALS)
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_l = J._build_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    ac_l = J._build_codes(J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    dc_c = J._build_codes(J._DC_CHROMA_BITS, J._DC_CHROMA_VALS)
    ac_c = J._build_codes(J._AC_CHROMA_BITS, J._AC_CHROMA_VALS)
    yzz = J._plane_to_zz(np.full((16, 16), y_val, np.float64) - 128.0, ql)
    cbzz = J._plane_to_zz(np.full((16, 8), cb_val, np.float64) - 128.0, qc)
    crzz = J._plane_to_zz(np.full((16, 8), cr_val, np.float64) - 128.0, qc)
    writer = J._BitWriter()
    preds = [0, 0, 0]
    for my in range(2):  # MCU rows: luma blocks (my, 0..1), chroma (my)
        for bx in range(2):
            preds[0] = J._encode_blocks(
                writer, yzz[my * 2 + bx][None, :], dc_l, ac_l, preds[0]
            )
        preds[1] = J._encode_blocks(writer, cbzz[my][None, :], dc_c, ac_c, preds[1])
        preds[2] = J._encode_blocks(writer, crzz[my][None, :], dc_c, ac_c, preds[2])
    out += writer.flush() + b"\xff\xd9"

    img = decode_jpeg(bytes(out))
    assert img.shape == (16, 16, 3)
    r = y_val + 1.402 * (cr_val - 128)
    g = y_val - 0.344136 * (cb_val - 128) - 0.714136 * (cr_val - 128)
    b = y_val + 1.772 * (cb_val - 128)
    want = np.round([r, g, b])
    assert np.abs(img.astype(float) - want).max() <= 3


# ---------------------------------------------------------------------------
# Adobe APP14 color transforms: direct RGB, CMYK, YCCK
# ---------------------------------------------------------------------------


def _multi_comp_stream(planes, cids, app14_transform=None, quality=90):
    """Hand-build a 1x1-sampled multi-component SOF0 stream (luma DQT/DHT
    for every component) from uint8 planes, optionally with an Adobe
    APP14 declaring a color transform."""
    q = J._scale_quant(J._QUANT_LUMA, quality)
    out = bytearray(b"\xff\xd8")
    if app14_transform is not None:
        body = b"Adobe" + struct.pack(">HHHB", 100, 0, 0, app14_transform)
        out += b"\xff\xee" + struct.pack(">H", 2 + len(body)) + body
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes(
        int(v) for v in q[J._ZZ]
    )
    h, w = planes[0].shape
    sof = struct.pack(">BHHB", 8, h, w, len(planes))
    for cid in cids:
        sof += bytes([cid, 0x11, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(cls, tid, bits, vals):
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    out += dht(1, 0, J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    sos = bytes([len(planes)]) + b"".join(
        bytes([cid, 0x00]) for cid in cids
    ) + bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    dc = J._build_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    ac = J._build_codes(J._AC_LUMA_BITS, J._AC_LUMA_VALS)
    zzs = [J._plane_to_zz(p.astype(np.float64) - 128.0, q) for p in planes]
    writer = J._BitWriter()
    preds = [0] * len(planes)
    for i in range(len(zzs[0])):
        for ci, zz in enumerate(zzs):
            preds[ci] = J._encode_blocks(writer, zz[i][None, :], dc, ac, preds[ci])
    out += writer.flush() + b"\xff\xd9"
    return bytes(out)


def _block_uniform(vals, h=8, w=24):
    """Per-8x8-block-uniform plane (DC-only -> exact at q90)."""
    vals = np.asarray(vals, dtype=np.uint8).reshape(h // 8, w // 8)
    return vals.repeat(8, axis=0).repeat(8, axis=1)


def test_app14_direct_rgb_not_ycc_converted():
    """Photoshop RGB exports carry APP14 transform=0: samples are RGB
    already and must NOT run through the YCbCr matrix."""
    r = _block_uniform([200, 40, 120])
    g = _block_uniform([30, 160, 90])
    b = _block_uniform([70, 220, 10])
    stream = _multi_comp_stream([r, g, b], [1, 2, 3], app14_transform=0)
    img = decode_jpeg(stream)
    assert np.array_equal(img, np.stack([r, g, b], axis=2))


def test_rgb_component_ids_heuristic():
    """No APP14, but component IDs spell 'R','G','B' — libjpeg's
    heuristic for direct-RGB streams."""
    r = _block_uniform([10, 250, 128])
    g = _block_uniform([99, 1, 200])
    b = _block_uniform([55, 66, 77])
    stream = _multi_comp_stream([r, g, b], [0x52, 0x47, 0x42])
    img = decode_jpeg(stream)
    assert np.array_equal(img, np.stack([r, g, b], axis=2))


def test_adobe_cmyk_inverted_convention():
    """4-component Adobe CMYK (transform 0): samples stored INVERTED, so
    RGB = stored_c*stored_k/255 per channel."""
    c = _block_uniform([250, 100, 0])
    m = _block_uniform([200, 50, 255])
    ye = _block_uniform([150, 0, 30])
    k = _block_uniform([255, 200, 100])
    stream = _multi_comp_stream([c, m, ye, k], [1, 2, 3, 4], app14_transform=0)
    img = decode_jpeg(stream)
    want = np.stack(
        [
            np.round(c.astype(float) * k / 255.0),
            np.round(m.astype(float) * k / 255.0),
            np.round(ye.astype(float) * k / 255.0),
        ],
        axis=2,
    ).astype(np.uint8)
    assert img.shape == (8, 24, 3)
    assert np.array_equal(img, want)


def test_bare_cmyk_not_inverted():
    """4 components with NO APP14: plain CMYK — invert before the
    multiply (C=0,K=0 must be white, C=255 full cyan)."""
    c = _block_uniform([0, 255, 128])
    m = _block_uniform([0, 0, 0])
    ye = _block_uniform([0, 0, 0])
    k = _block_uniform([0, 0, 0])
    img = decode_jpeg(_multi_comp_stream([c, m, ye, k], [1, 2, 3, 4]))
    assert tuple(img[0, 0]) == (255, 255, 255)       # no ink -> white
    assert tuple(img[0, 8]) == (0, 255, 255)         # full cyan
    assert tuple(img[0, 16]) == (127, 255, 255)      # half cyan
    assert img.shape == (8, 24, 3)


def test_ycck_transform():
    """YCCK (transform 2): first three channels are YCbCr over the
    inverted CMY; constant planes -> exact matrix check within quant
    error."""
    cy, cb, cr = 180, 100, 140
    kv = 220
    y_p = _block_uniform([cy] * 3)
    cb_p = _block_uniform([cb] * 3)
    cr_p = _block_uniform([cr] * 3)
    k_p = _block_uniform([kv] * 3)
    stream = _multi_comp_stream(
        [y_p, cb_p, cr_p, k_p], [1, 2, 3, 4], app14_transform=2
    )
    img = decode_jpeg(stream)
    c = min(max(round(cy + 1.402 * (cr - 128)), 0), 255)
    m = min(max(round(cy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)), 0), 255)
    ye = min(max(round(cy + 1.772 * (cb - 128)), 0), 255)
    want = (round(c * kv / 255), round(m * kv / 255), round(ye * kv / 255))
    assert np.abs(img[0, 0].astype(int) - np.array(want)).max() <= 3


def test_cmyk_jpeg_dims():
    c = _block_uniform([1, 2, 3])
    stream = _multi_comp_stream([c, c, c, c], [1, 2, 3, 4], app14_transform=0)
    assert jpeg_dims(stream) == (24, 8, 4)
    g = jpeg_to_gray_float(stream)
    assert g.shape == (8, 24) and g.dtype == np.float32


def test_sof_c8_jpg_extension_rejected_cleanly():
    """SOF 0xC8 (the JPG extension marker) is not a supported mode and
    must fail with the 'unsupported JPEG mode' diagnosis, not a
    downstream misparse (round-4 ADVICE)."""
    b = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
    sof = bytes(b).index(b"\xff\xc0")
    b[sof + 1] = 0xC8
    with pytest.raises(ValueError, match="unsupported JPEG mode"):
        decode_jpeg(bytes(b))


def test_fill_bytes_before_markers_decode():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a marker;
    encoders in the wild emit them. Splice fill bytes ahead of the DQT,
    SOF, SOS, and EOI markers of a valid stream — decode must be
    unchanged (round-4 ADVICE: previously misparsed as a bogus segment)."""
    img = _smooth((16, 16))
    src = encode_jpeg(img)
    ref = decode_jpeg(src)
    b = bytearray(src)
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xda", b"\xff\xd9"):
        i = bytes(b).index(marker)
        b[i:i] = b"\xff\xff\xff"  # fill bytes + the marker's own 0xFF
    out = decode_jpeg(bytes(b))
    assert np.array_equal(out, ref)
