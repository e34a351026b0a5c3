"""Pure-stdlib baseline JPEG (JFIF) codec: the reference's flagship input
format, completing the PNG / WAV / AVI pure-stdlib codec family.

The reference reads JPEGs as its primary input (``cv2.imread`` of
``img.jpg`` at ``/root/reference/test_img.py:38-43``; the TF ingest path
calls ``decode_jpeg`` variants at
``/root/reference/DataPreprocess/DataGenerator.py:599-602``); web crawls
are overwhelmingly JPEG. This container has no image libraries, so the
engine carries its own ITU T.81 baseline implementation:

- ``encode_jpeg``: baseline sequential JFIF — 8-bit grayscale (one
  component) or RGB (YCbCr 4:4:4, no subsampling), Annex-K quantization
  tables scaled by the libjpeg quality formula, Annex-K Huffman tables,
  2-D DCT via the orthonormal matrix form (exactly the T.81 normalization:
  a uniform block's DC coefficient is ``8 * (v - 128)``).
- ``decode_jpeg``: baseline sequential (SOF0), extended sequential
  (SOF1) AND progressive (SOF2) streams from ANY conforming encoder —
  8/16-bit DQT, multiple DHT segments, restart intervals (DRI/RSTn),
  component sampling factors 1–2 with replication upsampling (so
  4:2:0 / 4:2:2 files from real encoders decode), progressive scan
  accumulation (DC/AC first + refinement scans, spectral bands,
  successive approximation, EOB runs, the T.81 G.1.2.3 correction-bit
  protocol), grayscale, YCbCr, Adobe APP14 direct-RGB (transform 0),
  and 4-component CMYK/YCCK (Adobe inverted convention; bare
  no-APP14 CMYK taken non-inverted). Arithmetic coding, 12-bit
  precision, lossless and hierarchical modes raise ``ValueError`` —
  the callers' malformed-payload discipline turns that into a row
  skip, never a task crash (same contract as ``kernels.png``).
- ``jpeg_dims``: header-only SOFn scan — dimensions come from the
  container bytes, never from advisory metadata.

Hostile-input discipline mirrors ``kernels.png``: the declared raster is
bounded BEFORE any allocation (``MAX_DECODE_PIXELS``), marker lengths are
validated against the buffer, Huffman tables are structurally checked
(≤256 symbols, no over-long code chains), and truncation anywhere raises
``ValueError``.

Everything batch-shaped is vectorized NumPy (DCT/IDCT/quantization run
over all blocks at once: einsum in the encoder, two stacked matmuls in
the decoder); only the inherently sequential entropy coding runs in
Python, one Huffman-table probe per coefficient (see ``_EntropyReader``).
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

JPEG_MAGIC = b"\xff\xd8"

# shared with kernels.png: bound the DECLARED raster before allocating
MAX_DECODE_PIXELS = 64_000_000

# ---------------------------------------------------------------------------
# Constant tables (ITU T.81 Annex K — public spec values)
# ---------------------------------------------------------------------------

_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# standard Huffman tables: (bits[1..16] counts, symbol values)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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

_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _zigzag_order() -> np.ndarray:
    """The T.81 zigzag scan as natural flat indices (generated, not
    transcribed — the diagonal-walk definition is less typo-prone than a
    64-entry literal)."""
    out = []
    for s in range(15):
        rng = range(s + 1)
        for r in (rng if s % 2 else reversed(rng)):
            c = s - r
            if r < 8 and c < 8:
                out.append(r * 8 + c)
    return np.array(out, dtype=np.int64)


_ZZ = _zigzag_order()

# orthonormal 8-point DCT-II matrix: C @ f @ C.T is exactly the T.81
# forward DCT normalization (uniform block v → DC = 8·(v-128))
_DCT = np.zeros((8, 8))
for _u in range(8):
    _s = np.sqrt(1.0 / 8.0) if _u == 0 else np.sqrt(2.0 / 8.0)
    _DCT[_u] = _s * np.cos((2 * np.arange(8) + 1) * _u * np.pi / 16.0)


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 50 = Annex K verbatim, 100 = all-ones."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) canonical Huffman assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


@lru_cache(maxsize=8)
def _build_decode_lut(bits: tuple[int, ...], vals: tuple[int, ...]) -> list[int]:
    """16-bit-peek Huffman LUT with stb_image-style fast-AC fields folded
    into the same entries: index = the next 16 bits of the stream, entry =
    ``(value << 13) | (advance << 8) | symbol`` (0 for bit patterns that
    are no valid code). The symbol is read as (run << 4) | size, which
    also covers DC tables (run 0, size = category):

    - size > 0 and code length + size ≤ 16: the magnitude bits sit inside
      the peek, so ``value`` is the sign-extended coefficient (never 0)
      and ``advance`` = code length + size — one probe decodes the whole
      coefficient;
    - otherwise ``value`` is 0 and ``advance`` is the code length alone
      (EOB/ZRL/EOBn, DC category 0, or a long code whose magnitude bits
      the caller still reads from the bit window).

    Cached — the Annex-K tables shared by every standard JPEG build their
    64Ki table once per process, not once per image. Every entry stays
    below 2**30 in magnitude (|value| < 2**15), so each is one 28-byte
    int: ~2.4 MB per table, and maxsize=8 keeps the four Annex-K tables
    (+ a working set) resident while bounding the per-executor footprint
    to ~19 MB. Real corpora of optimizer-encoded JPEGs carry unique
    per-image tables, so a larger cache would pin ~2.4 MB per slot at
    near-zero hit rate."""
    if sum(bits) != len(vals) or sum(bits) > 256:
        raise ValueError("malformed Huffman table")
    lut = np.zeros(65536, dtype=np.int64)
    peek = np.arange(65536, dtype=np.int64)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = lo + (1 << (16 - length))
            rs = vals[k]
            s = rs & 15
            if s and length + s <= 16:
                extra = (peek[lo:hi] >> (16 - length - s)) & ((1 << s) - 1)
                value = np.where(
                    extra >= (1 << (s - 1)), extra, extra - (1 << s) + 1
                )
                lut[lo:hi] = (value << 13) | ((length + s) << 8) | rs
            else:
                lut[lo:hi] = (length << 8) | rs
            code += 1
            k += 1
        if code > (1 << length):
            raise ValueError("over-subscribed Huffman table")
        code <<= 1
    return lut.tolist()


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


class _BitWriter:
    """MSB-first bit packer with 0xFF byte stuffing (T.81 §B.1.1.5)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


def _category(v: int) -> tuple[int, int]:
    """(size category, extra bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    extra = v if v > 0 else v + (1 << cat) - 1
    return cat, extra


def _encode_blocks(
    writer: _BitWriter,
    zz: np.ndarray,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    pred: int,
) -> int:
    """Entropy-encode quantized zigzag blocks [n, 64]; returns DC pred."""
    for blk in zz:
        diff = int(blk[0]) - pred
        pred = int(blk[0])
        cat, extra = _category(diff)
        code, ln = dc_codes[cat]
        writer.write(code, ln)
        if cat:
            writer.write(extra, cat)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last = int(nz[-1]) + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                writer.write(code, ln)
                run -= 16
            cat, extra = _category(v)
            code, ln = ac_codes[(run << 4) | cat]
            writer.write(code, ln)
            writer.write(extra, cat)
            run = 0
        if last < 63:
            code, ln = ac_codes[0x00]  # EOB
            writer.write(code, ln)
    return pred


# Progressive scans need EOBn symbols (r<<4 with r>0) that the Annex-K
# sequential AC tables do not define; real encoders ship custom optimized
# tables. This one is deliberately simple: every (run, size) symbol with
# size ≤ 10 plus ZRL and all EOBn, each as a length-8 canonical code
# (176 codes ≤ 255 slots — valid, never the all-ones code).
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0]
_PROG_AC_VALS = [(r << 4) | s for r in range(16) for s in range(11)]


def _enc_dc_first(writer, zzs_list, dc_codes_list, al):
    """Progressive DC first scan (Ah=0): interleaved MCU order, one block
    per component per MCU (gray or 4:4:4), diffs in the >>Al domain."""
    preds = [0] * len(zzs_list)
    for i in range(len(zzs_list[0])):
        for ci, zz in enumerate(zzs_list):
            v = int(zz[i][0]) >> al  # arithmetic shift, matches coef<<Al
            diff = v - preds[ci]
            preds[ci] = v
            cat, extra = _category(diff)
            code, ln = dc_codes_list[ci][cat]
            writer.write(code, ln)
            if cat:
                writer.write(extra, cat)


def _enc_dc_refine(writer, zzs_list, al):
    """Progressive DC refinement (Ah=Al+1 → Al): one raw bit per block."""
    for i in range(len(zzs_list[0])):
        for zz in zzs_list:
            writer.write((int(zz[i][0]) >> al) & 1, 1)


def _enc_ac_first(writer, zz, ss, se, al, ac_codes):
    """Progressive AC first scan over one component's blocks: run/size
    coding within the band with EOB-run accumulation (T.81 G.1.2.2)."""
    eobrun = 0

    def emit_eobrun():
        nonlocal eobrun
        while eobrun:
            r = min(eobrun.bit_length() - 1, 14)
            run = min(eobrun, (1 << (r + 1)) - 1)
            code, ln = ac_codes[r << 4]
            writer.write(code, ln)
            if r:
                writer.write(run - (1 << r), r)
            eobrun -= run

    for blk in zz:
        coded = {}
        for k in range(ss, se + 1):
            v = int(blk[k])
            t = abs(v) >> al  # magnitude shift (toward zero), not >>
            if t:
                coded[k] = t if v > 0 else -t
        if not coded:
            eobrun += 1
            if eobrun == 0x7FFF:
                emit_eobrun()
            continue
        emit_eobrun()
        run = 0
        last = max(coded)
        for k in range(ss, last + 1):
            if k not in coded:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]
                writer.write(code, ln)
                run -= 16
            cat, extra = _category(coded[k])
            code, ln = ac_codes[(run << 4) | cat]
            writer.write(code, ln)
            writer.write(extra, cat)
            run = 0
        if last < se:
            eobrun += 1
            if eobrun == 0x7FFF:
                emit_eobrun()
    emit_eobrun()


def _enc_ac_refine(writer, zz, ss, se, al, ac_codes):
    """Progressive AC refinement (Ah=Al+1 → Al) over one component's
    blocks — the correction-bit protocol of T.81 G.1.2.3 (the exact
    buffering discipline of libjpeg's encode_mcu_AC_refine). Correction
    bits for already-significant coefficients live in TWO buffers with
    different flush points: ``be`` (bits owed to blocks counted in the
    pending EOB run — flushed right after the EOBn symbol, read by the
    decoder's EOB-region sweep over those blocks) and ``br`` (bits for
    coefficients of the CURRENT block since its last symbol — flushed
    after the next ZRL/significant symbol, read by the decoder's run
    advance). Conflating them puts current-block bits before the symbol
    they must follow and desyncs the decoder."""
    eobrun = 0
    be: list[int] = []  # correction bits owed to the pending EOB run
    br: list[int] = []  # current block's bits since its last symbol

    def flush_br():
        nonlocal br
        for b in br:
            writer.write(b, 1)
        br = []

    def emit_eobrun():
        nonlocal eobrun, be
        while eobrun:
            r = min(eobrun.bit_length() - 1, 14)
            run = min(eobrun, (1 << (r + 1)) - 1)
            code, ln = ac_codes[r << 4]
            writer.write(code, ln)
            if r:
                writer.write(run - (1 << r), r)
            eobrun -= run
            for b in be:
                writer.write(b, 1)
            be = []

    for blk in zz:
        t = [abs(int(blk[k])) >> al for k in range(64)]
        eob_pos = 0  # last newly-significant position in the band
        for k in range(ss, se + 1):
            if t[k] == 1:
                eob_pos = k
        r = 0
        for k in range(ss, se + 1):
            tv = t[k]
            if tv == 0:
                r += 1
                continue
            while r > 15 and k <= eob_pos:
                emit_eobrun()
                code, ln = ac_codes[0xF0]
                writer.write(code, ln)
                r -= 16
                flush_br()
            if tv > 1:
                br.append(tv & 1)
                continue
            emit_eobrun()
            code, ln = ac_codes[(r << 4) | 1]
            writer.write(code, ln)
            writer.write(1 if int(blk[k]) > 0 else 0, 1)
            flush_br()
            r = 0
        if r > 0 or br:
            eobrun += 1
            be.extend(br)  # this block's tail bits ride with the EOB run
            br = []
            if eobrun == 0x7FFF:
                emit_eobrun()
    emit_eobrun()


def _plane_to_zz(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """8-padded float plane → quantized zigzag blocks [n_blocks, 64] in
    row-major block order. Vectorized DCT + quantization."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )
    coeffs = np.einsum("ux,nxy,vy->nuv", _DCT, blocks, _DCT)
    q = np.round(coeffs.reshape(-1, 64) / qtab).astype(np.int64)
    return q[:, _ZZ]


def _pad8(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, (-h) % 8), (0, (-w) % 8)), mode="edge")


def encode_jpeg(
    img: np.ndarray, quality: int = 90, progressive: bool = False
) -> bytes:
    """uint8 (H, W) grayscale or (H, W, 3) RGB → baseline JFIF bytes
    (``progressive=True`` → SOF2 progressive JFIF).

    Grayscale emits one component; RGB converts to YCbCr and encodes
    4:4:4 (every component full resolution — no subsampling, maximum
    fidelity for the OCR-strip use where chroma edges carry glyphs).

    The progressive script exercises every scan kind a real web encoder
    emits: DC first at Al=1, AC first scans (spectrally split for the
    luma/gray component) at Al=1, then DC and AC refinement passes down
    to Al=0 — the quantized coefficients are identical to the baseline
    encoding at the same quality, so both containers decode to
    byte-identical pixels.
    """
    img = np.asarray(img)
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError(f"encode_jpeg wants uint8 (H,W)[,3], got "
                         f"{img.dtype} {img.shape}")
    if img.ndim == 3 and img.shape[2] != 3:
        raise ValueError(f"encode_jpeg wants 3 channels, got {img.shape[2]}")
    h, w = img.shape[:2]
    if h < 1 or w < 1:
        raise ValueError("encode_jpeg wants a non-empty image")
    if h > 65535 or w > 65535:
        raise ValueError("JPEG dimensions cap at 65535")

    gray = img.ndim == 2
    ql = _scale_quant(_QUANT_LUMA, quality)
    qc = _scale_quant(_QUANT_CHROMA, quality)
    if gray:
        planes = [img.astype(np.float64) - 128.0]
        qtabs = [ql]
        tab_ids = [0]
    else:
        r = img[:, :, 0].astype(np.float64)
        g = img[:, :, 1].astype(np.float64)
        b = img[:, :, 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y - 128.0, cb - 128.0, cr - 128.0]
        qtabs = [ql, qc, qc]
        tab_ids = [0, 1, 1]

    out = bytearray(JPEG_MAGIC)
    # APP0 / JFIF 1.01, no thumbnail
    out += b"\xff\xe0" + struct.pack(
        ">H5sBBBHHBB", 16, b"JFIF\x00", 1, 1, 0, 1, 1, 0, 0
    )
    # DQT segments (8-bit precision)
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + bytes(
        int(v) for v in ql[_ZZ]
    )
    if not gray:
        out += b"\xff\xdb" + struct.pack(">HB", 67, 0x01) + bytes(
            int(v) for v in qc[_ZZ]
        )
    # SOF0 (baseline) / SOF2 (progressive)
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += struct.pack("BBB", ci + 1, 0x11, tab_ids[ci])
    out += (b"\xff\xc2" if progressive else b"\xff\xc0")
    out += struct.pack(">H", 2 + len(sof)) + sof

    # DHT segments
    def dht(cls: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
        body = bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    def sos(comp_tabs: list[tuple[int, int, int]],
            ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_tabs)])
        for cid, td, ta in comp_tabs:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    zzs = [_plane_to_zz(_pad8(p), q) for p, q in zip(planes, qtabs)]

    if progressive:
        out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
        out += dht(1, 0, _PROG_AC_BITS, _PROG_AC_VALS)
        if not gray:
            out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        dc_codes = [_build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)]
        if not gray:
            dc_c = _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
            dc_codes += [dc_c, dc_c]
        prog_ac = _build_codes(_PROG_AC_BITS, _PROG_AC_VALS)
        dc_comps = [(ci + 1, tab_ids[ci], 0) for ci in range(ncomp)]
        # spectral split for component 0; full band for chroma
        bands = [[(1, 5), (6, 63)]] + [[(1, 63)]] * (ncomp - 1)
        # DC first at Al=1, then the AC first scans at Al=1
        out += sos(dc_comps, 0, 0, 0, 1)
        writer = _BitWriter()
        _enc_dc_first(writer, zzs, dc_codes, 1)
        out += writer.flush()
        for ci in range(ncomp):
            for b0, b1 in bands[ci]:
                out += sos([(ci + 1, 0, 0)], b0, b1, 0, 1)
                writer = _BitWriter()
                _enc_ac_first(writer, zzs[ci], b0, b1, 1, prog_ac)
                out += writer.flush()
        # refinement passes down to Al=0
        out += sos(dc_comps, 0, 0, 1, 0)
        writer = _BitWriter()
        _enc_dc_refine(writer, zzs, 0)
        out += writer.flush()
        for ci in range(ncomp):
            for b0, b1 in bands[ci]:
                out += sos([(ci + 1, 0, 0)], b0, b1, 1, 0)
                writer = _BitWriter()
                _enc_ac_refine(writer, zzs[ci], b0, b1, 0, prog_ac)
                out += writer.flush()
        out += b"\xff\xd9"
        return bytes(out)

    out += dht(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += dht(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not gray:
        out += dht(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += dht(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)

    out += sos([(ci + 1, tab_ids[ci], tab_ids[ci]) for ci in range(ncomp)],
               0, 63, 0, 0)

    # entropy-coded data: 4:4:4 interleave = one block per component/MCU
    dc_l = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_l = _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_c = _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
    writer = _BitWriter()
    if gray:
        _encode_blocks(writer, zzs[0], dc_l, ac_l, 0)
    else:
        preds = [0, 0, 0]
        tables = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
        for i in range(len(zzs[0])):
            for ci in range(3):
                dc_t, ac_t = tables[ci]
                preds[ci] = _encode_blocks(
                    writer, zzs[ci][i : i + 1], dc_t, ac_t, preds[ci]
                )
    out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _split_entropy(
    data: bytes, pos: int
) -> tuple[list[tuple[bytes, int | None]], int]:
    """Entropy-coded data starting at ``pos`` → ``(segments, end)``:
    ``(destuffed_bytes, rst_n)`` segments split at RSTn markers, plus the
    offset of the terminating real marker's 0xFF (``len(data)`` if the
    buffer ends first — progressive decode resumes marker parsing at
    ``end``). ``rst_n`` is the 0–7 sequence number of the marker that
    TERMINATED the segment (``None`` for the final segment). Byte
    stuffing (FF 00 → FF) is removed here ONCE, C-speed via
    ``bytes.find`` over the rare 0xFF positions, so the bit reader below
    never has to scan for markers."""
    segs: list[tuple[bytes, int | None]] = []
    parts: list[bytes] = []
    i = pos
    n = len(data)
    end = n
    while True:
        j = data.find(b"\xff", i)
        if j < 0:
            parts.append(data[i:])
            break
        if j + 1 >= n:
            raise ValueError("truncated after 0xFF")
        nxt = data[j + 1]
        if nxt == 0x00:
            parts.append(data[i : j + 1])  # keep the FF, drop the stuffed 00
            i = j + 2
        elif 0xD0 <= nxt <= 0xD7:
            parts.append(data[i:j])
            segs.append((b"".join(parts), nxt & 7))
            parts = []
            i = j + 2
        else:
            parts.append(data[i:j])  # real marker ends the entropy stream
            end = j
            break
    segs.append((b"".join(parts), None))
    return segs, end


class _EntropyReader:
    """LUT-driven MSB-first bit reader over ONE destuffed entropy segment.

    ``peek[p]`` is the 16 bits of the stream starting at bit ``p``, for
    every bit position (a uint16 array read through a ``memoryview``), so
    a Huffman decode is ONE double index, ``lut[peek[p]]``, into the 64Ki
    table built by ``_build_decode_lut``, and a coefficient's magnitude
    bits are ``peek[p + code_length] >> (16 - size)``. The table entries
    carry the fast-AC fields: whenever code length + magnitude bits ≤ 16
    the same probe yields the bit advance, the zero run and the
    sign-extended coefficient, so the common coefficient costs one probe
    and no further bit reads.

    The block decoders (``decode_block`` here, ``_ac_first_block`` /
    ``_ac_refine_block`` for progressive scans) keep the bit position in a
    local and index ``peek`` inline; coefficients land in the caller's
    int64 coefficient store through a ``memoryview``, a C-level buffer
    write with no per-coefficient NumPy call. ``peek`` runs 256 zero bytes
    past the segment, more than one block can consume (≤ 63 symbols of
    ≤ 31 bits plus the DC), so a block decoder checks for truncation once
    at block entry instead of per symbol; a block that reads into the
    padding leaves ``pos > nbits``, which the scan end and every restart
    boundary reject. Entropy decode is the only inherently sequential part
    of JPEG — everything downstream (dequant/IDCT/upsample) is vectorized
    NumPy."""

    __slots__ = ("peek", "pos", "nbits")

    def __init__(self, seg: bytes) -> None:
        b = np.frombuffer(seg + b"\x00" * 260, np.uint8).astype(np.uint32)
        w24 = (b[:-2] << 16) | (b[1:-1] << 8) | b[2:]
        shifts = np.arange(8, 0, -1, dtype=np.uint32)
        # the uint16 cast keeps the low 16 bits of each shifted window
        self.peek = memoryview(
            (w24[:, None] >> shifts).astype(np.uint16).ravel()
        )
        self.pos = 0
        self.nbits = 8 * len(seg)

    def receive(self, n: int) -> int:
        """Read ``n`` (≤ 16) raw MSB-first bits."""
        if n == 0:
            return 0
        p = self.pos
        if p >= self.nbits:
            raise ValueError("truncated entropy-coded data")
        self.pos = p + n
        return self.peek[p] >> (16 - n)

    def dc_diff(self, lut: list[int]) -> int:
        """Decode one DC difference (Huffman category + magnitude bits)."""
        p = self.pos
        if p >= self.nbits:
            raise ValueError("truncated entropy-coded data")
        v = lut[self.peek[p]]
        if v == 0:
            raise ValueError("invalid Huffman code")
        t = v & 0xFF
        if t > 11:
            raise ValueError("invalid DC category")
        d = v >> 13
        if d or not t:  # fast entry, or category 0
            self.pos = p + ((v >> 8) & 31)
            return d
        ln = (v >> 8) & 31
        self.pos = p + ln + t
        return _extend(self.peek[p + ln] >> (16 - t), t)

    def decode_block(
        self,
        dc_lut: list[int],
        ac_lut: list[int],
        pred: int,
        coef: memoryview,
        base: int,
    ) -> int:
        """Decode ONE 8×8 block of a sequential scan into
        ``coef[base : base + 64]`` (zigzag order). Returns the updated DC
        predictor."""
        pred += self.dc_diff(dc_lut)
        coef[base] = pred
        peek = self.peek
        p = self.pos
        end = base + 64
        kb = base + 1
        while kb < end:
            v = ac_lut[peek[p]]
            val = v >> 13
            if val:  # fast AC: run, advance and value from one probe
                kb += (v >> 4) & 15
                if kb >= end:
                    raise ValueError("AC run past block end")
                coef[kb] = val
                kb += 1
                p += (v >> 8) & 31
                continue
            if v == 0:
                raise ValueError("invalid Huffman code")
            ln = (v >> 8) & 31
            s = v & 15
            if s == 0:
                p += ln
                if v & 0xF0 == 0xF0:  # ZRL: 16 zeros
                    kb += 16
                    continue
                break  # EOB
            kb += (v >> 4) & 15
            if kb >= end:
                raise ValueError("AC run past block end")
            coef[kb] = _extend(peek[p + ln] >> (16 - s), s)
            kb += 1
            p += ln + s
        self.pos = p
        return pred


def _next_reader(segs, seg_idx: int, reader: _EntropyReader) -> _EntropyReader:
    """Cross the RSTn marker that ended ``segs[seg_idx]``: check the
    marker is present and in sequence and that the finished segment was
    not over-read, then start a reader on the next segment."""
    rst_n = segs[seg_idx][1]
    if rst_n is None:
        raise ValueError("missing restart marker")
    if rst_n != (seg_idx & 7):
        raise ValueError("restart marker out of sequence")
    if reader.pos > reader.nbits:
        raise ValueError("truncated entropy-coded data")
    return _EntropyReader(segs[seg_idx + 1][0])  # _split_entropy: it exists


def jpeg_dims(data: bytes) -> tuple[int, int, int]:
    """Header-only scan → (width, height, n_components) from the SOFn
    segment. Raises ``ValueError`` on anything that is not a JPEG."""
    if len(data) < 4 or data[:2] != JPEG_MAGIC:
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (length,) = struct.unpack_from(">H", data, pos + 2)
        if length < 2 or pos + 2 + length > len(data):
            raise ValueError("truncated marker segment")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if length < 8:
                raise ValueError("truncated SOF segment")
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", data, pos + 4)
            return w, h, ncomp
        pos += 2 + length
    raise ValueError("no SOF marker found")


def _std_dht_segment() -> bytes:
    """One DHT segment carrying all four Annex-K tables (DC/AC × ids 0/1)
    — the tables a tableless MJPEG-in-AVI frame implies by convention."""
    body = b""
    for cls, tid, bits, vals in (
        (0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS),
        (0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
        (1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ):
        body += bytes([cls << 4 | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def ensure_huffman_tables(data: bytes) -> bytes:
    """Splice the standard Annex-K Huffman tables before the first SOS of
    a JPEG that carries none. MJPEG-in-AVI frames conventionally omit DHT
    (the OpenDML spec says decoders must assume the T.81 Annex-K tables);
    plain JPEGs with their own tables pass through untouched, as does
    anything this header walk cannot parse (the full decoder will then
    report the real error)."""
    if len(data) < 4 or data[:2] != JPEG_MAGIC:
        return data
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return data
        marker = data[pos + 1]
        if marker == 0xC4:  # has its own tables
            return data
        if marker == 0xDA:  # reached SOS with no DHT seen
            return data[:pos] + _std_dht_segment() + data[pos:]
        if marker in (0xD8, 0xD9, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (length,) = struct.unpack_from(">H", data, pos + 2)
        if length < 2:
            return data
        pos += 2 + length
    return data


def _extend(v: int, cat: int) -> int:
    """T.81 EXTEND: map ``cat`` received magnitude bits to a signed
    coefficient value."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _alloc_blocks(frame):
    """Per-component zigzag coefficient store on the MCU-padded grid."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    comp_blocks: list[np.ndarray] = []
    comp_bw: list[int] = []
    for _cid, hs, vs, _tq in comps:
        bw, bh = mcus_x * hs, mcus_y * vs
        comp_blocks.append(np.zeros((bh * bw, 64), dtype=np.int64))
        comp_bw.append(bw)
    return comp_blocks, comp_bw, mcus_x, mcus_y


def _decode_baseline_scan(
    data, seg_end, body, comps, huff, restart_interval,
    comp_blocks, comp_bw, mcus_x, mcus_y,
):
    """The single interleaved scan of a baseline/extended-sequential
    image: every component's full spectrum, MCU order."""
    ns = body[0]
    if ns != len(comps):
        raise ValueError("non-interleaved multi-scan sequential JPEG "
                         "unsupported")
    scan_tables = {}
    for si in range(ns):
        cid = body[1 + 2 * si]
        tt = body[2 + 2 * si]
        scan_tables[cid] = (tt >> 4, tt & 15)

    # resolve each component's Huffman LUTs once (they cannot change
    # mid-scan); undefined-table errors surface before any MCU decodes
    comp_tabs: list[tuple[list[int], list[int]]] = []
    for cid, _hs, _vs, _tq in comps:
        td, ta = scan_tables.get(cid, (0, 0))
        dc_tab = huff.get((0, td))
        ac_tab = huff.get((1, ta))
        if dc_tab is None or ac_tab is None:
            raise ValueError("scan references undefined DHT")
        comp_tabs.append((dc_tab, ac_tab))

    coefs = [memoryview(b.reshape(-1)) for b in comp_blocks]
    segs, _end = _split_entropy(data, seg_end)
    seg_idx = 0
    reader = _EntropyReader(segs[0][0])
    preds = [0] * len(comps)
    rst_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and rst_count == restart_interval:
                reader = _next_reader(segs, seg_idx, reader)
                seg_idx += 1
                preds = [0] * len(comps)
                rst_count = 0
            rst_count += 1
            for ci, (_cid, hs, vs, _tq) in enumerate(comps):
                dc_tab, ac_tab = comp_tabs[ci]
                coef = coefs[ci]
                bw = comp_bw[ci]
                for by in range(vs):
                    base = ((my * vs + by) * bw + mx * hs) * 64
                    for bx in range(hs):
                        preds[ci] = reader.decode_block(
                            dc_tab, ac_tab, preds[ci], coef, base + 64 * bx
                        )
    if reader.pos > reader.nbits:
        raise ValueError("truncated entropy-coded data")


def _decode_progressive_scan(
    data, seg_end, body, frame, huff, restart_interval,
    comp_blocks, comp_bw, mcus_x, mcus_y,
):
    """ONE progressive (SOF2) scan: DC first / DC refinement (optionally
    interleaved) or AC first / AC refinement (single-component, spectral
    band Ss..Se, successive-approximation shift Al). Coefficients
    accumulate across scans into ``comp_blocks`` at FULL precision; the
    shared dequant/IDCT finalizer runs once at EOI. EOB-run coding
    (T.81 G.1.2.2) and the correction-bit protocol (G.1.2.3) follow the
    spec exactly. Returns the buffer offset of the scan-terminating
    marker so the caller resumes marker parsing there."""
    h, w, comps = frame
    if len(body) < 1:
        raise ValueError("truncated SOS header")
    ns = body[0]
    if len(body) < 1 + 2 * ns + 3:
        raise ValueError("truncated SOS header")
    cid_to_ci = {c[0]: i for i, c in enumerate(comps)}
    scan_comps: list[tuple[int, int, int]] = []  # (ci, dc_tid, ac_tid)
    for si in range(ns):
        cid = body[1 + 2 * si]
        tt = body[2 + 2 * si]
        if cid not in cid_to_ci:
            raise ValueError("scan references unknown component")
        scan_comps.append((cid_to_ci[cid], tt >> 4, tt & 15))
    ss = body[1 + 2 * ns]
    se = body[2 + 2 * ns]
    a = body[3 + 2 * ns]
    ah, al = a >> 4, a & 15
    if not 0 <= ss <= se <= 63 or al > 13 or ah > 13:
        raise ValueError("invalid progressive scan parameters")
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    if ns not in (1, len(comps)):
        raise ValueError("unsupported progressive scan interleaving")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    dc_scan = ss == 0
    refine = ah != 0
    p1 = 1 << al

    # resolve the needed Huffman LUT per scan component up front
    luts: list[list[int] | None] = []
    for ci, td, ta in scan_comps:
        if dc_scan and refine:
            luts.append(None)  # DC refinement reads raw bits only
            continue
        lut = huff.get((0, td) if dc_scan else (1, ta))
        if lut is None:
            raise ValueError("scan references undefined DHT")
        luts.append(lut)

    def units():
        """Restart units as lists of (scan component, component,
        coefficient offset): one MCU (interleaved) or one block
        (non-interleaved, the component's own ceil(dim/8) grid — NOT the
        MCU-padded grid, T.81 A.2.2)."""
        if ns > 1:
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    out = []
                    for si, (ci, _td, _ta) in enumerate(scan_comps):
                        _cid, hs, vs, _tq = comps[ci]
                        bw = comp_bw[ci]
                        for by in range(vs):
                            row = (my * vs + by) * bw + mx * hs
                            for bx in range(hs):
                                out.append((si, ci, (row + bx) * 64))
                    yield out
        else:
            si, (ci, _td, _ta) = 0, scan_comps[0]
            _cid, hs, vs, _tq = comps[ci]
            cw = -(-(w * hs) // hmax)  # component px dims, T.81 A.1.1
            ch = -(-(h * vs) // vmax)
            bw_eff = -(-cw // 8)
            bh_eff = -(-ch // 8)
            bw = comp_bw[ci]
            for by in range(bh_eff):
                for bx in range(bw_eff):
                    yield [(si, ci, (by * bw + bx) * 64)]

    coefs = [memoryview(b.reshape(-1)) for b in comp_blocks]
    segs, end = _split_entropy(data, seg_end)
    seg_idx = 0
    reader = _EntropyReader(segs[0][0])
    preds = [0] * len(comps)
    eobrun = 0
    rst_count = 0
    for unit in units():
        if restart_interval and rst_count == restart_interval:
            reader = _next_reader(segs, seg_idx, reader)
            seg_idx += 1
            preds = [0] * len(comps)
            eobrun = 0
            rst_count = 0
        rst_count += 1
        for si, ci, base in unit:
            coef = coefs[ci]
            if dc_scan:
                if refine:
                    if reader.receive(1):
                        coef[base] |= p1
                else:
                    preds[ci] += reader.dc_diff(luts[si])
                    coef[base] = preds[ci] << al
            elif refine:
                eobrun = _ac_refine_block(
                    reader, coef, base, ss, se, p1, luts[si], eobrun
                )
            else:
                eobrun = _ac_first_block(
                    reader, coef, base, ss, se, al, luts[si], eobrun
                )
    if reader.pos > reader.nbits:
        raise ValueError("truncated entropy-coded data")
    return end


def _ac_first_block(reader, coef, base, ss, se, al, ac_lut, eobrun):
    """AC first scan (Ah=0) for one block; returns the updated EOB run.
    Bit reads are inlined on the reader's peek array, as in
    ``decode_block``."""
    if eobrun:
        return eobrun - 1
    peek = reader.peek
    p = reader.pos
    if p >= reader.nbits:
        raise ValueError("truncated entropy-coded data")
    kb = base + ss
    last = base + se
    while kb <= last:
        v = ac_lut[peek[p]]
        val = v >> 13
        if val:  # fast AC
            kb += (v >> 4) & 15
            if kb > last:
                raise ValueError("AC run past spectral band")
            coef[kb] = val << al
            kb += 1
            p += (v >> 8) & 31
            continue
        if v == 0:
            raise ValueError("invalid Huffman code")
        ln = (v >> 8) & 31
        r = (v >> 4) & 15
        s = v & 15
        if s == 0:
            p += ln
            if r == 15:  # ZRL
                kb += 16
                continue
            # EOBn: run of (1<<r)+receive(r) blocks ending here, this
            # block included
            reader.pos = p
            return (1 << r) - 1 + reader.receive(r)
        kb += r
        if kb > last:
            raise ValueError("AC run past spectral band")
        coef[kb] = _extend(peek[p + ln] >> (16 - s), s) << al
        kb += 1
        p += ln + s
    reader.pos = p
    return 0


def _ac_refine_block(reader, coef, base, ss, se, p1, ac_lut, eobrun):
    """AC refinement scan (Ah>0) for one block — T.81 G.1.2.3: newly
    significant coefficients arrive as run/1 symbols + sign; coefficients
    already nonzero receive one correction bit each as the run advances
    (and through the EOB region). Returns the updated EOB run. Bit reads
    are inlined on the reader's peek array, as in ``decode_block``."""
    m1 = -p1
    peek = reader.peek
    p = reader.pos
    nb = reader.nbits
    kb = base + ss
    last = base + se
    if eobrun == 0:
        if p >= nb:
            raise ValueError("truncated entropy-coded data")
        while kb <= last:
            v = ac_lut[peek[p]]
            if v == 0:
                raise ValueError("invalid Huffman code")
            r = (v >> 4) & 15
            s = v & 15
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("invalid AC refinement magnitude")
                if v >> 13:  # fast entry: sign inside the peek
                    newval = p1 if v > 0 else m1
                    p += (v >> 8) & 31
                else:  # 16-bit code: sign bit just past the peek
                    ln = (v >> 8) & 31
                    newval = p1 if peek[p + ln] >> 15 else m1
                    p += ln + 1
            else:
                p += (v >> 8) & 31
                if r != 15:
                    reader.pos = p
                    eobrun = (1 << r) + reader.receive(r)
                    p = reader.pos
                    break
            # advance past r zero-history coefficients (16 for ZRL),
            # emitting a correction bit at every nonzero-history one
            while kb <= last:
                c = coef[kb]
                if c:
                    if peek[p] >> 15 and (c & p1) == 0:
                        coef[kb] = c + (p1 if c >= 0 else m1)
                    p += 1
                elif r:
                    r -= 1
                else:
                    break
                kb += 1
            if newval and kb <= last:
                coef[kb] = newval
            kb += 1
    if eobrun:
        # EOB region covers the rest of this block: correction bits only
        while kb <= last:
            c = coef[kb]
            if c:
                if p >= nb:  # blocks of an EOB run have no entry check
                    raise ValueError("truncated entropy-coded data")
                if peek[p] >> 15 and (c & p1) == 0:
                    coef[kb] = c + (p1 if c >= 0 else m1)
                p += 1
            kb += 1
        eobrun -= 1
    reader.pos = p
    return eobrun


# hostile-input bound: real progressive encoders emit ~10 scans; cap far
# above that so a crafted file cannot force O(scans × blocks) work
MAX_PROGRESSIVE_SCANS = 64


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline (SOF0), extended-sequential (SOF1), or progressive (SOF2)
    JFIF bytes → uint8 (H, W) grayscale or (H, W, 3) RGB array."""
    if len(data) < 4 or data[:2] != JPEG_MAGIC:
        raise ValueError("not a JPEG (missing SOI)")
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], list[int]] = {}
    restart_interval = 0
    frame = None  # (h, w, comps) with comps = [(id, hs, vs, tq)]
    progressive = False
    comp_blocks = None
    comp_bw: list[int] = []
    mcus_x = mcus_y = 0
    scans_done = 0
    adobe_transform = None  # APP14 color-transform byte (Adobe exports)
    pos = 2
    while True:
        if pos + 2 > len(data):
            raise ValueError("truncated before SOS")
        if data[pos] != 0xFF:
            raise ValueError("marker sync lost")
        # T.81 §B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes — skip them so FF FF D9 parses as EOI, not as a
        # bogus 0xFF "marker" with a garbage length field.
        while pos + 2 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            if progressive and scans_done:
                break  # EOI: all progressive scans accumulated
            raise ValueError("EOI before SOS (no image data)")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(data):
            raise ValueError("truncated marker length")
        (length,) = struct.unpack_from(">H", data, pos)
        if length < 2 or pos + length > len(data):
            raise ValueError("truncated marker segment")
        body = data[pos + 2 : pos + length]
        seg_end = pos + length
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 15
                p += 1
                n = 64 * (2 if pq else 1)
                if p + n > len(body):
                    raise ValueError("truncated DQT")
                raw = (
                    np.frombuffer(body, ">u2", 64, p)
                    if pq
                    else np.frombuffer(body, np.uint8, 64, p)
                ).astype(np.int64)
                tab = np.zeros(64, dtype=np.int64)
                tab[_ZZ] = raw  # stored in zigzag order
                if (tab <= 0).any():
                    raise ValueError("zero quantizer step")
                qtabs[tq] = tab
                p += n
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(body):
                cls, tid = body[p] >> 4, body[p] & 15
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                if p + 17 + n > len(body):
                    raise ValueError("truncated DHT")
                vals = tuple(body[p + 17 : p + 17 + n])
                huff[(cls, tid)] = _build_decode_lut(tuple(bits), vals)
                p += 17 + n
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("short DRI")
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xEE:  # APP14: Adobe color-transform declaration
            if len(body) >= 12 and body[:5] == b"Adobe":
                adobe_transform = body[11]
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0 / SOF1 / SOF2
            if frame is not None:
                raise ValueError("multiple SOF markers")
            if len(body) < 6 or len(body) < 6 + 3 * body[5]:
                raise ValueError("truncated SOF segment")
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"unsupported sample precision {prec}")
            if ncomp not in (1, 3, 4):
                raise ValueError(f"unsupported component count {ncomp}")
            if h < 1 or w < 1 or h * w > MAX_DECODE_PIXELS:
                raise ValueError(f"refusing {w}x{h} raster (hostile header?)")
            comps = []
            for ci in range(ncomp):
                cid = body[6 + 3 * ci]
                hv = body[7 + 3 * ci]
                tq = body[8 + 3 * ci]
                hs, vs = hv >> 4, hv & 15
                if hs not in (1, 2) or vs not in (1, 2):
                    raise ValueError(f"unsupported sampling {hs}x{vs}")
                comps.append((cid, hs, vs, tq))
            frame = (h, w, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG mode (SOF{marker - 0xC0}: lossless/"
                "arithmetic/hierarchical/JPG-extension)"
            )
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            if not body or len(body) < 1 + 2 * body[0] + 3:
                raise ValueError("truncated SOS header")
            if comp_blocks is None:
                comp_blocks, comp_bw, mcus_x, mcus_y = _alloc_blocks(frame)
            if progressive:
                scans_done += 1
                if scans_done > MAX_PROGRESSIVE_SCANS:
                    raise ValueError("too many progressive scans")
                pos = _decode_progressive_scan(
                    data, seg_end, body, frame, huff, restart_interval,
                    comp_blocks, comp_bw, mcus_x, mcus_y,
                )
                continue
            h, w, comps = frame
            _decode_baseline_scan(
                data, seg_end, body, comps, huff, restart_interval,
                comp_blocks, comp_bw, mcus_x, mcus_y,
            )
            break  # sequential: one scan is the whole image
        # APPn / COM / anything else: skip
        pos = seg_end

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    # vectorized dequantize + IDCT + plane assembly per component
    planes = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        if tq not in qtabs:
            raise ValueError("component references undefined DQT")
        zz = comp_blocks[ci]
        nat = np.zeros_like(zz)
        nat[:, _ZZ] = zz
        coeffs = (nat * qtabs[tq]).reshape(-1, 8, 8).astype(np.float64)
        pix = _DCT.T @ coeffs @ _DCT
        bw = comp_bw[ci]
        bh = len(zz) // bw
        plane = (
            pix.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        plane = np.clip(np.round(plane + 128.0), 0, 255).astype(np.uint8)
        # replication upsample to full MCU-grid resolution, then crop
        if hs < hmax:
            plane = np.repeat(plane, hmax // hs, axis=1)
        if vs < vmax:
            plane = np.repeat(plane, vmax // vs, axis=0)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return planes[0]

    def ycc_to_rgb(p0, p1, p2):
        y = p0.astype(np.float64)
        cb = p1.astype(np.float64) - 128.0
        cr = p2.astype(np.float64) - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255)

    if len(planes) == 3:
        # APP14 transform 0 declares the samples are stored RGB directly
        # (Photoshop "save as JPEG" of RGB data); component IDs R/G/B are
        # the no-APP14 spelling of the same (libjpeg's heuristic). All
        # other 3-component streams are YCbCr.
        cids = [c[0] for c in comps]
        if adobe_transform == 0 or (
            adobe_transform is None and cids == [0x52, 0x47, 0x42]
        ):
            return np.stack(planes, axis=2)
        return ycc_to_rgb(*planes).astype(np.uint8)

    # 4 components: Adobe CMYK (transform 0/absent-with-APP14) or YCCK
    # (transform 2). Adobe stores CMYK INVERTED (the famous convention);
    # a bare 4-component stream with no APP14 is taken as plain CMYK.
    if adobe_transform == 2:
        cmy = ycc_to_rgb(planes[0], planes[1], planes[2])  # inverted CMY
        c, m, ye = cmy[:, :, 0], cmy[:, :, 1], cmy[:, :, 2]
        k = planes[3].astype(np.float64)
    else:
        c, m, ye, k = (p.astype(np.float64) for p in planes)
        if adobe_transform is None:
            c, m, ye, k = 255.0 - c, 255.0 - m, 255.0 - ye, 255.0 - k
    # inverted-domain multiply: R = (1-C)(1-K)·255 with c' = 255-C etc.
    rgb = np.stack([c * k, m * k, ye * k], axis=2) / 255.0
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def jpeg_to_gray_float(data: bytes) -> np.ndarray:
    """JPEG bytes → float32 (H, W) luma in [0, 1] — the ``decode_image``
    contract shape (channel mean for RGB, same rule as PNG)."""
    img = decode_jpeg(data)
    if img.ndim == 3:
        img = img.astype(np.float32).mean(axis=2)
    return img.astype(np.float32) / 255.0
