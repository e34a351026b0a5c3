"""Pure-stdlib GIF (87a/89a) codec: palette images and animations.

BEYOND the reference's envelope (its image scan is ``cv2.imread``,
``/root/reference/test_img.py:38-43``, which does not read GIF) but
squarely inside a real crawl's: GIF is among the most common image
payloads on the web, and ANIMATED GIF is the web's most common lightweight
video container — so this codec feeds BOTH the image feature path and the
frame-sampling/video-OCR path of ``operators.multimodal``.

- ``decode_gif`` / ``iter_gif_frames``: full LZW decode (variable code
  width to 12 bits, clear/EOI, the KwKwK case), global and local color
  tables, the 4-pass GIF interlace, frame composition on the logical
  screen with disposal methods 0/1 (leave), 2 (restore background) and
  3 (restore previous), transparency via the GCE transparent index.
  The LZW decode builds no dictionary: between clear codes each code's
  width depends only on its index, so codes unpack with NumPy bit
  arithmetic (only the first 16 of each run are read one by one, which
  keeps runs of clears and short runs cheap), and every non-literal
  code copies an earlier span of the output, so one cumsum of lengths
  and O(log n) rounds of pointer doubling over source positions resolve
  the pixels.
  Frames yield as (H, W, 3) uint8 RGB composites, one at a time — peak
  memory is the canvas plus one frame (and ~8 bytes per frame pixel
  while its LZW resolves) regardless of animation length (frame N
  depends on the composite of N-1, so skipped frames still decode; they
  just don't yield).
- ``encode_gif``: GIF89a writer — global color table, optional per-frame
  delays, real LZW compression with dictionary reset at 4096 codes.
  The fixture generator for the decoder's tests and the media contract.

Bounds mirror ``kernels.png``: hostile headers (giant logical screens,
out-of-range frame rectangles), truncated sub-blocks, and corrupt LZW
streams all raise ``ValueError`` — the callers' skip-never-crash
discipline turns that into a row skip.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

GIF_MAGICS = (b"GIF87a", b"GIF89a")
MAX_DECODE_PIXELS = 64_000_000
MAX_TOTAL_FRAME_PIXELS = 512_000_000  # across an animation


def _gray_palette() -> np.ndarray:
    return np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)


# --------------------------------------------------------------------------
# LZW
# --------------------------------------------------------------------------


def _lzw_encode(indices: np.ndarray, min_code: int) -> bytes:
    """Index stream → GIF LZW code bytes (LSB-first bit packing)."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    seq = b""
    for v in indices.tobytes():
        cand = seq + bytes([v])
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        seq = bytes([v])
    if seq:
        emit(table[seq])
        # the flush emit has no matching table add, so the DECODER's
        # table catches up to next_code here; if that crosses a power of
        # two the decoder reads the EOI at the wider code size
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


@lru_cache(maxsize=None)
def _code_widths(min_code: int) -> np.ndarray:
    """Bit width of the ``j``-th code after a clear, for j < 4096. The
    table holds ``clear + 1 + j`` entries when code ``j`` is read (code 0
    adds none, every later code adds one), and the width grows as soon as
    the table reaches the next power of two, capped at 12 bits; from
    j = 4096 - clear - 1 on it stays 12. Seven 32 KB tables per process."""
    size = (1 << min_code) + 1 + np.arange(4096)
    bits = np.frexp(size)[1].astype(np.int64)  # == size.bit_length()
    return np.minimum(12, np.maximum(min_code + 1, bits))


def _run_codes(
    buf: np.ndarray, nbits: int, pos: int, min_code: int, j0: int,
    budget: int, chunk: int,
) -> tuple[np.ndarray, int, int]:
    """Codes ``j0, j0 + 1, ...`` of one run between clears, the first at
    bit ``pos`` → ``(codes, terminator, next_pos)``. The width schedule is
    known in advance, so codes unpack in vectorized chunks, the first of
    ``chunk`` codes and each later one twice the size, until a clear or
    EOI shows up; no chunk reaches past the data, so the work stays
    linear in the codes read. ``budget`` bounds the codes returned: every
    non-terminator code emits at least one pixel."""
    clear = 1 << min_code
    schedule = _code_widths(min_code)
    parts: list[np.ndarray] = []
    got = 0
    while True:
        n = min(chunk, (nbits - pos) // (min_code + 1) + 1, budget - got + 1)
        widths = schedule[j0 : j0 + n]
        if len(widths) < n:  # past a full table: 12 bits from here on
            widths = np.concatenate(
                [widths, np.full(n - len(widths), 12, np.int64)]
            )
        ends = pos + np.cumsum(widths)
        starts = ends - widths
        n = int(np.searchsorted(starts, nbits))  # codes that start in data
        if n == 0:
            raise ValueError("truncated LZW stream")
        widths, starts, ends = widths[:n], starts[:n], ends[:n]
        byte = starts >> 3
        word = buf[byte] | (buf[byte + 1] << 8) | (buf[byte + 2] << 16)
        codes = (word >> (starts & 7)) & ((1 << widths) - 1)
        stop = np.flatnonzero((codes >> 1) == (clear >> 1))  # clear or EOI
        if len(stop) and ends[stop[0]] <= nbits:
            t = int(stop[0])
            parts.append(codes[:t])
            return np.concatenate(parts), int(codes[t]), int(ends[t])
        if int(ends[-1]) > nbits:
            raise ValueError("truncated LZW stream")
        got += n
        if got > budget:
            raise ValueError("LZW output exceeds frame size")
        parts.append(codes)
        pos = int(ends[-1])
        j0 += n
        chunk *= 2


def _expand(codes: np.ndarray, run_start: np.ndarray, clear: int,
            budget: int) -> np.ndarray:
    """Pixels of all runs of a frame at once, without a per-code loop.

    ``run_start[t]`` is the global index of the first code of code
    ``t``'s run, so code ``t`` is code ``j = t - run_start[t]`` of its
    run. Code j ≥ 1 of a run defines table entry ``clear + 1 + j`` as
    (output of code j-1) + (first pixel of the output of code j), so a
    non-literal code ``c`` made by code ``m = c - clear - 1`` of its run
    emits the output of code ``m-1`` followed by the first pixel of code
    ``m`` (``m == j`` is the KwKwK case) — and since the outputs of codes
    m-1 and m are adjacent, that is the span
    ``out[off[m-1] : off[m-1] + len[t]]``. Lengths resolve by pointer
    doubling over codes, offsets by one cumsum, and every pixel that is
    not a literal copies a strictly earlier position, fewer than
    2·max(len) copies away from a literal, so pointer doubling over
    positions resolves the frame in O(log len) rounds."""
    t = np.arange(len(codes))
    lit = codes < clear
    if not lit[t == run_start].all():
        raise ValueError("bad first LZW code")
    if (codes > clear + 1 + t - run_start).any():
        raise ValueError("LZW code out of range")
    prev = run_start + np.where(lit, 0, codes - clear - 2)  # code m-1
    # len = 1 for a literal, else len[m-1] + 1: count hops to a literal
    ptr = np.where(lit, t, prev)
    hops = (~lit).astype(np.int64)
    while True:
        nxt = ptr[ptr]
        if np.array_equal(nxt, ptr):
            break
        hops += hops[ptr]
        ptr = nxt
    lengths = hops + 1
    total = int(lengths.sum())
    if total > budget:
        raise ValueError("LZW output exceeds frame size")
    off = np.cumsum(lengths) - lengths
    # pixel → source pixel; literals point at themselves. int32 positions
    # (a frame is < 2**31 pixels) keep the peak near 8 bytes per pixel.
    shift = np.where(lit, 0, off[prev] - off).astype(np.int32)
    src = np.repeat(shift, lengths)
    src += np.arange(total, dtype=np.int32)
    for _ in range(int(2 * lengths.max()).bit_length()):
        src = src[src]
    # every source is a literal's pixel, whose code is its value (< 256)
    return np.repeat(codes.astype(np.uint8), lengths)[src]


# codes read one at a time at the head of every run before the run
# switches to vectorized unpacking: runs of clears and short runs then
# cost O(1) per code instead of a vectorized chunk per run
_HEAD_CODES = 16


def _lzw_decode(data: bytes, min_code: int, expected: int) -> np.ndarray:
    """GIF LZW code bytes → uint8 index array of ``expected`` pixels.

    The runs between clear codes are cut out one at a time: the first
    ``_HEAD_CODES`` codes of a run by scalar reads, the rest, if the run
    is longer, by ``_run_codes`` in vectorized chunks (sized from the
    previous run; 4096 codes, one full table, for the first). Every pixel
    of the frame then resolves in one vectorized pass (``_expand``)."""
    if not 2 <= min_code <= 8:
        raise ValueError(f"bad LZW min code size {min_code}")
    clear = 1 << min_code
    eoi = clear + 1
    head_widths = _code_widths(min_code)[:_HEAD_CODES].tolist()
    nbits = 8 * len(data)
    buf = np.frombuffer(data + b"\x00\x00\x00", np.uint8).astype(np.int64)
    pieces: list[np.ndarray] = []  # all codes of the frame, in order
    scalar: list[int] = []  # scalar-read codes not yet in ``pieces``
    run_lens: list[int] = []
    n_codes = 0
    pos = 0
    chunk = 4096
    term = clear
    while term != eoi:
        run_len = 0
        term = None
        for width in head_widths:
            if pos + width > nbits:
                raise ValueError("truncated LZW stream")
            word = int.from_bytes(data[pos >> 3 : (pos >> 3) + 3], "little")
            code = (word >> (pos & 7)) & ((1 << width) - 1)
            pos += width
            if code == clear or code == eoi:
                term = code
                break
            scalar.append(code)
            run_len += 1
        n_codes += run_len
        if n_codes > expected:
            raise ValueError("LZW output exceeds frame size")
        if term is None:
            tail, term, pos = _run_codes(
                buf, nbits, pos, min_code, run_len, expected - n_codes, chunk
            )
            pieces += [np.asarray(scalar, dtype=np.int64), tail]
            scalar = []
            run_len += len(tail)
            n_codes += len(tail)
            chunk = max(64, 2 * len(tail))
        if run_len:
            run_lens.append(run_len)
    if not run_lens:
        out = np.zeros(0, dtype=np.uint8)
    else:
        pieces.append(np.asarray(scalar, dtype=np.int64))
        starts = np.cumsum(run_lens) - run_lens
        out = _expand(
            np.concatenate(pieces), np.repeat(starts, run_lens), clear,
            expected,
        )
    if len(out) != expected:
        raise ValueError(f"LZW yielded {len(out)} of {expected} pixels")
    return out


# --------------------------------------------------------------------------
# Container
# --------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        n = len(range(start, h, step))
        out[start::step] = rows[src : src + n]
        src += n
    return out


def encode_gif(
    frames: np.ndarray,
    palette: np.ndarray | None = None,
    fps: int = 10,
    interlace: bool = False,
) -> bytes:
    """uint8 frames [N, H, W] of palette indices → GIF89a bytes.

    Default palette is the 256-entry identity gray (index i → (i,i,i)),
    so gray rasters encode directly and decode to pixel-identical RGB.
    """
    frames = np.asarray(frames)
    if frames.ndim == 2:
        frames = frames[None]
    if frames.dtype != np.uint8 or frames.ndim != 3:
        raise ValueError(
            f"encode_gif wants uint8 [N,H,W], got {frames.dtype} {frames.shape}"
        )
    palette = _gray_palette() if palette is None else np.asarray(
        palette, dtype=np.uint8
    )
    if palette.shape != (256, 3):
        raise ValueError("encode_gif wants a 256x3 palette")
    n, h, w = frames.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 entries
    out += palette.tobytes()
    delay = max(1, round(100 / fps))
    for f in range(n):
        if n > 1:
            out += struct.pack("<BBBBHBB", 0x21, 0xF9, 4, 0, delay, 0, 0)
        flags = 0x40 if interlace else 0
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, flags)
        raster = frames[f]
        if interlace:
            order = np.concatenate(
                [np.arange(s, h, t) for s, t in _INTERLACE_PASSES]
            )
            raster = raster[order]
        out.append(8)  # LZW min code size
        lzw = _lzw_encode(raster.ravel(), 8)
        for at in range(0, len(lzw), 255):
            chunk = lzw[at : at + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def _read_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    parts = []
    while True:
        if pos >= len(data):
            raise ValueError("truncated sub-blocks")
        size = data[pos]
        pos += 1
        if size == 0:
            return b"".join(parts), pos
        if pos + size > len(data):
            raise ValueError("truncated sub-block body")
        parts.append(data[pos : pos + size])
        pos += size


def iter_gif_frames(
    data: bytes, every_n: int = 1, max_frames: int | None = None
):
    """Lazy composite iterator: yields (frame_no, (H, W, 3) uint8 RGB).

    Every frame is DECODED (composition is sequential) but only every
    ``every_n``-th yields; peak memory is the canvas + one frame."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    if data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF (bad signature)")
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    w, h, flags, bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    if w * h > MAX_DECODE_PIXELS:
        raise ValueError(f"refusing {w}x{h} logical screen (hostile header?)")
    pos = 13
    gct = None
    if flags & 0x80:
        n_colors = 2 << (flags & 7)
        if pos + 3 * n_colors > len(data):
            raise ValueError("truncated global color table")
        gct = np.frombuffer(data, np.uint8, 3 * n_colors, pos).reshape(-1, 3)
        pos += 3 * n_colors
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None and bg < len(gct):
        canvas[:] = gct[bg]
    background = canvas.copy()
    transparent: int | None = None
    disposal = 0
    frame_no = 0
    kept = 0
    total_px = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension
            if pos >= len(data):
                raise ValueError("truncated extension")
            label = data[pos]
            pos += 1
            body, pos = _read_subblocks(data, pos)
            if label == 0xF9 and len(body) >= 4:
                disposal = (body[0] >> 2) & 7
                transparent = body[3] if body[0] & 1 else None
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if pos + 9 > len(data):
            raise ValueError("truncated image descriptor")
        fx, fy, fw, fh, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        if fw == 0 or fh == 0 or fx + fw > w or fy + fh > h:
            raise ValueError("frame rectangle outside logical screen")
        total_px += fw * fh
        if total_px > MAX_TOTAL_FRAME_PIXELS:
            raise ValueError("refusing animation (hostile frame count?)")
        lct = gct
        if iflags & 0x80:
            n_colors = 2 << (iflags & 7)
            if pos + 3 * n_colors > len(data):
                raise ValueError("truncated local color table")
            lct = np.frombuffer(data, np.uint8, 3 * n_colors, pos).reshape(
                -1, 3
            )
            pos += 3 * n_colors
        if lct is None:
            raise ValueError("frame with no color table")
        if pos >= len(data):
            raise ValueError("truncated LZW header")
        min_code = data[pos]
        pos += 1
        lzw, pos = _read_subblocks(data, pos)
        idx = _lzw_decode(lzw, min_code, fw * fh).reshape(fh, fw)
        if iflags & 0x40:
            idx = _deinterlace(idx)
        if int(idx.max(initial=0)) >= len(lct):
            raise ValueError("palette index out of range")
        region = canvas[fy : fy + fh, fx : fx + fw]
        prev_region = region.copy() if disposal == 3 else None
        rgb = lct[idx]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = rgb[mask]
        else:
            region[:] = rgb
        if frame_no % every_n == 0:
            if max_frames is not None and kept >= max_frames:
                return
            kept += 1
            yield frame_no, canvas.copy()
        # disposal AFTER the frame is shown
        if disposal == 2:
            canvas[fy : fy + fh, fx : fx + fw] = background[
                fy : fy + fh, fx : fx + fw
            ]
        elif disposal == 3 and prev_region is not None:
            canvas[fy : fy + fh, fx : fx + fw] = prev_region
        disposal = 0
        transparent = None
        frame_no += 1


def decode_gif(data: bytes) -> list[np.ndarray]:
    """GIF bytes → list of (H, W, 3) uint8 RGB composited frames."""
    return [frame for _, frame in iter_gif_frames(data)]
