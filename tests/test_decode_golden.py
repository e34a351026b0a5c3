"""Pixel golden for the container decoders on the noisy-OCR population.

Every embedded strip of 64 seeded ``wrap_html_with_font_images`` pages
(``container="mixed"``: PNG, baseline JPEG, GIF and progressive JPEG in
rotation) is decoded to its float32 gray raster, and one sha256 over all
of them is pinned. Any decoder rewrite must leave every pixel of every
format identical; the per-format counts prove all four were exercised.
"""

from __future__ import annotations

import base64
import hashlib

import numpy as np

from ocr_spark.kernels.gif import iter_gif_frames
from ocr_spark.kernels.jpeg import jpeg_to_gray_float
from ocr_spark.kernels.png import png_to_gray_float
from ocr_spark.kernels.synth import wrap_html_with_font_images
from ocr_spark.operators.pipeline import _IMG_RE

_WORDS = "alpha Bravo charlie 0xDEAD l1O0 quartz 42 zephyr".split()

GOLDEN_SHA256 = (
    "ecd6384cf33e8a4ee22542b97b31d2bd9c3d1b053c6512a65bd053725566711d"
)


def _decode(payload: bytes) -> tuple[str, np.ndarray]:
    if payload[:1] == b"\x89":
        return "png", png_to_gray_float(payload)
    if payload[:2] == b"\xff\xd8":
        progressive = b"\xff\xc2" in payload  # SOF2 marker
        kind = "jpeg_progressive" if progressive else "jpeg_baseline"
        return kind, jpeg_to_gray_float(payload)
    _no, rgb = next(iter_gif_frames(payload, max_frames=1))
    return "gif", rgb.astype(np.float32).mean(axis=2) / 255.0


def test_mixed_container_pixels_pinned():
    digest = hashlib.sha256()
    counts: dict[str, int] = {}
    for doc in range(64):
        words = [_WORDS[(doc + k) % len(_WORDS)] for k in range(1 + doc % 3)]
        lines = ["".join(words)[:20], f"line{doc}"]
        html = wrap_html_with_font_images(
            " ".join(words), f"u:{doc}", lines, seed_base=doc
        ).decode("utf-8")
        for m in _IMG_RE.finditer(html):
            kind, img = _decode(base64.b64decode(m.group(3)))
            assert img.dtype == np.float32
            counts[kind] = counts.get(kind, 0) + 1
            digest.update(np.asarray(img.shape, np.int64).tobytes())
            digest.update(img.tobytes())
    assert counts == {
        "png": 32, "jpeg_baseline": 32, "gif": 32, "jpeg_progressive": 32
    }
    assert digest.hexdigest() == GOLDEN_SHA256
