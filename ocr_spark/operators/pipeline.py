"""Fused full pipeline: HTML branch + embedded-image OCR branch → merged
per-document text.

This is the engine's analog of the reference's complete flow
(``/root/reference/test_img.py``): detect text regions (HTML blocks AND
image-embedded lines), recognize the image lines in batches, and assemble
everything in reading order. Dataflow (ONE corpus scan, ONE shuffle):

    pages → mapInPandas(decode once → html-extract + line-detect,
                        tagged rows)                      [scan, map-side]
          → mapInPandas(conv+CTC on line rows,
                        html rows pass through)           [same pipeline]
          → groupBy(url).agg(array_sort + array_join)     [the one shuffle]

Scale shape: both detections run on the SAME decoded document in the same
pass (charset-sniffed once via ``kernels.charset.decode_html``), so the
corpus is scanned and parsed exactly once — the two-branch spelling costs
a second full scan + decode, which at 10^12 documents is the difference
that matters. Recognition batches across ALL pages' lines in Arrow
batches (the RECOG_BATCH discipline,
``/root/reference/test_img.py:97-116``, but batched across documents
instead of within one). The only exchange is the groupBy(url) assembly,
carrying slim (url, kind, line_id, text) rows — strips and the html blob
never cross it. Assembly is JVM-side: ``array_sort`` of (kind, line_id,
text) structs puts the html block before the lines ('html' < 'line') and
lines in image order, then ``array_join`` — not Python.
"""

from __future__ import annotations

import base64
import re
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.config import BLOCK_SEPARATOR, LINE_HEIGHT, MAX_LINE_WIDTH
from ocr_spark.kernels.gif import GIF_MAGICS, iter_gif_frames
from ocr_spark.kernels.jpeg import JPEG_MAGIC, jpeg_to_gray_float
from ocr_spark.kernels.png import PNG_MAGIC, png_to_gray_float

# embedded-line detector: the stand-in for the reference's detection head
# over image content (score map → boxes); here lines announce themselves
# via the data-strip attribute written by the fixture generator. Optional
# data-height marks a strip rendered at a height other than 8 — the detect
# stage resamples it through ``normalize_strip`` (the RoIRotate analog:
# arbitrary-height crop → fixed 8×⌈8w/h⌉ pad-384 geometry,
# ``/root/reference/Module/RRotateLayer.py:94-107``).
_IMG_RE = re.compile(
    r'<img[^>]*?data-width="(\d+)"[^>]*?'
    r'(?:data-height="(\d+)"[^>]*?)?data-strip="([A-Za-z0-9+/=]*)"'
)

_LINES_SCHEMA = (
    "url string, line_id int, strip array<float>, width long"
)


def _lines_of_doc(html_text: str):
    """Yield (line_id, strip, width) for every embedded line of ONE decoded
    document (malformed payloads are skipped, never crash a task)."""
    from ocr_spark.kernels.ocr import normalize_strip

    for i, m in enumerate(_IMG_RE.finditer(html_text)):
        width = int(m.group(1))
        height = int(m.group(2)) if m.group(2) else LINE_HEIGHT
        try:
            payload = base64.b64decode(m.group(3))
        except Exception:
            continue  # bad padding/length: skip the image, never the task
        img = None
        if payload.startswith(PNG_MAGIC):
            try:
                img = png_to_gray_float(payload)
            except (ValueError, zlib.error):
                continue  # corrupt PNG: skip the image, never the task
        elif payload.startswith(JPEG_MAGIC):
            try:
                img = jpeg_to_gray_float(payload)
            except ValueError:
                continue  # corrupt JPEG: skip the image, never the task
        elif payload[:6] in GIF_MAGICS:
            try:
                for _no, rgb in iter_gif_frames(payload, max_frames=1):
                    img = rgb.astype(np.float32).mean(axis=2) / 255.0
                    break
            except ValueError:
                continue  # corrupt GIF: skip the image, never the task
        if img is not None:
            # real container (PNG or baseline JPEG): dimensions come from
            # the IHDR/SOF0, not the attributes (bytes cannot lie;
            # attributes can). Shared normalization with the media seam
            # (png/jpeg_to_gray_float) so the decode paths cannot drift.
            ph, pw = img.shape
            if ph == LINE_HEIGHT:
                # already strip-height: use the REAL decoded width — an
                # 8-tall PNG narrower than the pad width is a valid line
                # and must not be dropped for not being exactly 8×384
                pw = min(pw, MAX_LINE_WIDTH)
                strip = np.zeros((LINE_HEIGHT, MAX_LINE_WIDTH), np.float32)
                strip[:, :pw] = img[:, :pw]
                yield i, strip, pw
            else:
                # crop to the declared content width before resampling
                # (RoIRotate crops the box before the affine resample),
                # bounded by the real raster; a zero crop (degenerate
                # raster, or declared width 0) is the uniform zero-width
                # line slot — same rule as the raw-payload branch
                cw = min(width, pw)
                if ph == 0 or cw == 0:
                    if width == 0:
                        yield i, np.zeros(
                            (LINE_HEIGHT, MAX_LINE_WIDTH), np.float32
                        ), 0
                    continue  # pixels but no declared width: malformed
                strip, out_w = normalize_strip(
                    img[:, :cw], mode="bilinear"
                )
                yield i, strip, out_w
            continue
        raw = (
            np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
            / 255.0
        )
        if raw.size == 0:
            # uniform empty-payload rule for BOTH geometry branches (and
            # both containers): no pixel data with a declared nonzero
            # width is malformed → skip; a zero-width line is a
            # legitimately detected-but-empty region and keeps its slot
            # in reading order (an empty recognized line still separates
            # its neighbors — the extract_full oracle semantics)
            if width != 0:
                continue
            yield i, np.zeros((LINE_HEIGHT, MAX_LINE_WIDTH), np.float32), 0
            continue
        if height == LINE_HEIGHT:
            if raw.size != LINE_HEIGHT * MAX_LINE_WIDTH:
                continue  # malformed payload: skip, never crash
            strip = raw.reshape(LINE_HEIGHT, MAX_LINE_WIDTH)
        else:
            if raw.size % height != 0:
                continue
            tall = raw.reshape(height, raw.size // height)
            # crop to true content width before resampling, as
            # RoIRotate crops the box before the affine resample
            tall = tall[:, :width]
            # bilinear (transformer.py semantics): identical to nearest on
            # the integer-scaled fixtures (tests/test_bilinear.py), correct
            # on non-integer scales where nearest aliases
            strip, width = normalize_strip(tall, mode="bilinear")
        yield i, strip, width


def _detect_lines(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ocr_spark.kernels.charset import decode_html

    for pdf in batches:
        urls, ids, strips, widths = [], [], [], []
        for url, html in zip(pdf["url"], pdf["html"]):
            text = decode_html(bytes(html))
            for i, strip, width in _lines_of_doc(text):
                urls.append(url)
                ids.append(i)
                strips.append(strip.ravel().tolist())
                widths.append(width)
        if urls:  # an all-object empty frame cannot convert to list<float>
            yield pd.DataFrame(
                {"url": urls, "line_id": ids, "strip": strips, "width": widths}
            )


def detect_image_lines(pages: DataFrame) -> DataFrame:
    """pages → (url, line_id, strip, width) for every embedded line
    (standalone detector; ``extract_full`` uses the fused single-scan
    stage below instead)."""
    return pages.select("url", "html").mapInPandas(
        _detect_lines, schema=_LINES_SCHEMA
    )


# fused-stage row schema: one 'html' row per document (text carries the
# extracted blocks) + one 'line' row per embedded image line (strip/width
# carry the tensor; text is filled by the recognition stage). A strip
# crosses between the two stages as its raw float32 bytes (C order,
# LINE_HEIGHT × MAX_LINE_WIDTH): one copy on each side and no Python
# object per pixel.
_FUSED_SCHEMA = (
    "url string, kind string, line_id int, text string, "
    "strip binary, width long"
)


def _extract_and_detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Single-scan fused detection: decode each document ONCE (charset
    sniffing), then run the HTML block extraction AND the embedded-line
    detection on the same decoded string."""
    from ocr_spark.kernels.charset import decode_html
    from ocr_spark.kernels.html import extract_main_text

    for pdf in batches:
        urls, kinds, ids, texts, strips, widths = [], [], [], [], [], []
        for url, html in zip(pdf["url"], pdf["html"]):
            decoded = decode_html(bytes(html))
            block_text, _, _ = extract_main_text(decoded)
            urls.append(url)
            kinds.append("html")
            ids.append(-1)
            texts.append(block_text)
            strips.append(None)
            widths.append(0)
            for i, strip, width in _lines_of_doc(decoded):
                urls.append(url)
                kinds.append("line")
                ids.append(i)
                texts.append("")
                strips.append(strip.astype(np.float32, copy=False).tobytes())
                widths.append(width)
        yield pd.DataFrame(
            {
                "url": urls,
                "kind": kinds,
                "line_id": ids,
                "text": texts,
                "strip": strips,
                "width": widths,
            }
        )


def _recognize_mixed(recognizer: str = "conv"):
    """Recognition stage of the fused pipeline: decode 'line' rows
    (batched across all documents in the Arrow batch — the RECOG_BATCH
    discipline), 'html' rows pass through untouched. Strips are dropped
    here, before the shuffle. ``recognizer``: "conv" = the code-glyph
    matched filter (``kernels.ocr``), "font" = the bitmap-atlas NCC
    recognizer (``kernels.font``) for anti-aliased / noisy imagery,
    "font_beam" = the same NCC scores decoded by CTC prefix beam search
    (alignment-summing), "font_beam_lm" = beam + the fixed glyph-bigram
    context prior (the BiLSTM-analog; recovers O/0 and l/1 confusions at
    noise levels where per-window evidence fails), "font_beam_bi" =
    bidirectional context (left prior in-beam + right-context N-best
    rescoring — the full BiLSTM analog; fixes LEADING ambiguous glyphs
    the forward prior cannot). The context decoders are default-off:
    measured exact-equal to greedy at contract noise, strictly better
    only on degraded inputs (tests/test_font_ocr.py)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if recognizer in ("font", "font_beam", "font_beam_lm", "font_beam_bi"):
            from ocr_spark.kernels.font import recognize_lines_font

            decoder = {
                "font": "greedy",
                "font_beam": "beam",
                "font_beam_lm": "beam_lm",
                "font_beam_bi": "beam_bi",
            }[recognizer]

            def rec(strips, widths):
                return recognize_lines_font(strips, widths, decoder=decoder)
        else:
            from ocr_spark.kernels.ocr import recognize_lines as rec

        for pdf in batches:
            if not len(pdf):
                continue
            texts = pdf["text"].to_numpy(dtype=object, copy=True)
            mask = (pdf["kind"] == "line").to_numpy()
            if mask.any():
                strips = np.frombuffer(
                    b"".join(pdf["strip"][mask]), dtype=np.float32
                ).reshape(-1, LINE_HEIGHT, MAX_LINE_WIDTH)
                texts[mask] = rec(
                    strips, pdf["width"][mask].to_numpy(np.int64)
                )
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "kind": pdf["kind"],
                    "line_id": pdf["line_id"],
                    "text": texts,
                }
            )

    return fn


def extract_full(pages: DataFrame, recognizer: str = "conv") -> DataFrame:
    """Complete extraction: HTML text + recognized embedded lines, merged.

    Output (url, extracted_text): html blocks first (document order), then
    recognized lines in image order, all joined with BLOCK_SEPARATOR —
    the reading-order contract of the reference's result sink
    (``/root/reference/test_img.py:121-132``). Physical plan: one scan of
    pages, two pipelined map stages, one groupBy(url) exchange of slim
    text rows (asserted in tests/test_pipeline.py).
    """
    fused = pages.select("url", "html").mapInPandas(
        _extract_and_detect, schema=_FUSED_SCHEMA
    )
    rec = fused.mapInPandas(
        _recognize_mixed(recognizer),
        schema="url string, kind string, line_id int, text string",
    )
    # JVM-side reading-order assembly: 'html' sorts before 'line', lines
    # sort by line_id. ONLY an empty html block drops out (matching the
    # two-branch spelling's concat_ws-over-NULL semantics); an empty
    # RECOGNIZED line keeps its slot — a detected region that decodes to
    # nothing still separates its neighbors, and the extract_full oracles
    # encode exactly that.
    assembled = rec.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("kind", "line_id", "text"))
                    ),
                    lambda s: ~(
                        (s["kind"] == F.lit("html")) & (s["text"] == F.lit(""))
                    ),
                ),
                lambda s: s["text"],
            ),
            BLOCK_SEPARATOR,
        ).alias("extracted_text")
    )
    return assembled.select("url", "extracted_text")
