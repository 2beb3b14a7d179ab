"""Remake the fixed imagestack page files of the ``recode_pdf`` workload.

The page files are kept in ``perfbench/pages/`` so that every commit
under test reads the same bytes: the JPEG and JPEG 2000 encoders belong
to the program, and a change to them must not change the benchmark's
input.  Run this only to regenerate the pool on purpose::

    python3 perfbench/make_pages.py

It renders each page with the benchmark's own drawing code (paper tone,
a photo gradient, lines of glyph-stroke words), encodes it with the
program's encoders, and writes ``pages/layout.json`` with every word box
(the hOCR generator places its words there) and the SHA-256 of every
file (the benchmark refuses a pool that does not match).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
PAGES = os.path.join(HERE, "pages")

# name, format, width, height, mode.  Sizes run from a thumbnail up to
# 1.1 Mpx; every format appears gray and RGB.
POOL = [
    ("p00", "jpeg", 1200, 920, "L"),
    ("p01", "jpeg", 720, 540, "RGB"),
    ("p02", "jpeg", 320, 240, "L"),
    ("p03", "jp2", 1000, 1000, "L"),
    ("p04", "jp2", 640, 480, "RGB"),
    ("p05", "jp2", 256, 192, "L"),
    ("p06", "tiff", 1100, 960, "L"),
    ("p07", "tiff", 560, 420, "RGB"),
    ("p08", "png", 960, 720, "L"),
    ("p09", "png", 480, 360, "RGB"),
    ("p10", "png", 200, 160, "L"),
    ("p11", "tiff", 400, 300, "L"),
]


def render_page(w: int, h: int, mode: str, seed: int):
    """-> (uint8 raster, lines) where lines = [[word bbox, ...], ...]."""
    rng = np.random.default_rng(seed)
    page = np.full((h, w), 236.0)
    pw, ph = w // 3, h // 4
    px, py = int(rng.integers(w // 2, w - pw)), int(rng.integers(h // 2,
                                                                 h - ph))
    yy, xx = np.mgrid[0:ph, 0:pw]
    page[py:py + ph, px:px + pw] = 90 + 70.0 * xx / pw + 40.0 * yy / ph
    line_h = max(10, h // 30)
    lines = []
    y = line_h
    while y + line_h < h - line_h and len(lines) < 24:
        x = line_h
        words = []
        for _ in range(int(rng.integers(3, 9))):
            ww = int(rng.integers(2, 8)) * line_h // 2
            if x + ww >= w - line_h:
                break
            if not (py - line_h < y < py + ph and x + ww > px):
                glyph = np.zeros((line_h, ww))
                glyph[:, ::3] = 1.0
                glyph[line_h // 3:line_h // 3 + 2, :] = 1.0
                page[y:y + line_h, x:x + ww] -= glyph * 200.0
                words.append([x, y, x + ww, y + line_h])
            x += ww + line_h // 2
        if words:
            lines.append(words)
        y += 2 * line_h
    page = np.clip(np.round(page), 0, 255).astype(np.uint8)
    if mode == "RGB":
        tint = np.array([6, -4, -10])
        page = np.clip(page[:, :, None].astype(np.int16) + tint, 0,
                       255).astype(np.uint8)
    return page, lines


def encode(fmt: str, img: np.ndarray) -> bytes:
    from archive_pdf_tools_spark.kernels import jp2codec, jpegcodec
    from archive_pdf_tools_spark.kernels import pngcodec, tiffcodec
    if fmt == "jpeg":
        return jpegcodec.encode_baseline(img, quality=85)
    if fmt == "jp2":
        return jp2codec.encode_jp2(img, irreversible=True, step=0.5)
    if fmt == "tiff":
        return tiffcodec.encode_tiff(img, compression="lzw")
    if fmt == "png":
        return pngcodec.encode_png(img)
    raise ValueError(fmt)


def main() -> int:
    os.makedirs(PAGES, exist_ok=True)
    layout = []
    for i, (name, fmt, w, h, mode) in enumerate(POOL):
        img, lines = render_page(w, h, mode, seed=1000 + i)
        data = encode(fmt, img)
        fname = f"{name}.{fmt}"
        with open(os.path.join(PAGES, fname), "wb") as fh:
            fh.write(data)
        layout.append({"file": fname, "format": fmt, "w": w, "h": h,
                       "mode": mode, "lines": lines,
                       "sha256": hashlib.sha256(data).hexdigest()})
        print(f"{fname}: {len(data)} bytes", file=sys.stderr)
    with open(os.path.join(PAGES, "layout.json"), "w") as fh:
        json.dump(layout, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    sys.exit(main())
