"""Seeded inputs of the three workloads, written as Parquet with pyarrow.

Everything here is the benchmark's own code: text payloads, hOCR markup
and the imagestack table are laid out from ``--seed`` alone (plus the
fixed page files in ``pages/``), so the bytes under test do not change
with the commit under test.  The one program function the inputs lean on
is the media contract of ``corpus.rasters``: a media span carries only a
``media_ref`` string and the extraction regenerates its raster from it.

The *layout* of each table -- how many pages each document has, which
pages are media pages and which media ref each gets, how many words each
hOCR page holds, which recode documents carry hOCR -- is drawn once from
``LAYOUT_SEED`` and is the same for every ``--seed``.  The engine places
pages on partitions and shards by hashing document ids and offsets, so a
layout that moved with the seed would move the slowest partition and,
with it, the timings.  The seed draws the *content*:

* ``extract_mixed``: every word, box, font size, direction and page
  geometry of the text pages (media pages are regenerated from their
  refs by the program and carry the same rasters for every seed);
* ``hocr_ingest``: every word, line break, box and RTL paragraph;
* ``recode_pdf``: the page order of each document and the hOCR words.
"""

from __future__ import annotations

import hashlib
import json
import os
from xml.sax.saxutils import escape

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
PAGES_DIR = os.path.join(HERE, "pages")

# Latin, accented, CJK, Greek, astral (math fraktur, emoji), Hebrew and
# Arabic words: the text layer's UTF-16 surrogate path and RTL runs.
WORDS = [
    "archive", "page", "scan", "text", "layer", "volume", "chapter",
    "index", "folio", "plate", "figure", "press", "Grüße", "naïve",
    "文書", "Ω", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "🚀", "שלום", "مرحبا", "the", "of", "and",
]
RTL_WORDS = ["שלום", "مرحبا", "ספר", "كتاب"]

# extract_mixed: Zipf-skewed page counts, a few documents far larger than
# the rest (the salted repartition spreads them).  2680 pages, 210 docs.
MIXED_DOC_PAGES = [300] * 2 + [80] * 8 + [16] * 40 + [5] * 160
MIXED_MEDIA_PAGES = 804                  # 30% of 2680

# hocr_ingest: 80 documents, 504 pages; words per page from a few dozen
# to several hundred.
HOCR_DOC_PAGES = [24] * 4 + [12] * 12 + [6] * 24 + [3] * 40
HOCR_WORDS_PER_PAGE = [24, 48, 96, 160, 240, 420]

# recode_pdf: 16 documents of 6 pages.  Documents alternate between two
# fixed halves of the page pool, each with all four formats and about
# the same recode cost (pool files p00..p11).
RECODE_DOCS = 16
RECODE_HALVES = ([0, 5, 7, 9, 10, 11], [1, 2, 3, 4, 6, 8])

LAYOUT_SEED = 20261018


def table_digest(path: str) -> str:
    """SHA-256 over the Parquet files of a table directory, in name
    order (the run record's input-table digest)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            with open(os.path.join(path, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _write(rows: dict, schema, path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(rows, schema=schema)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


def expected_lines(paragraphs) -> list[str]:
    """Line texts the extraction must emit for a page's word data: words
    joined by single spaces, invalid codepoints (surrogates) dropped,
    whitespace-only lines skipped, in reading order."""
    out = []
    for para in paragraphs:
        for line in para["lines"]:
            text = " ".join(
                "".join(c for c in w["text"]
                        if not 0xD800 <= ord(c) <= 0xDFFF)
                for w in line["words"])
            if text.strip():
                out.append(text)
    return out


# ------------------------------------------------------ extract_mixed

def _text_page(rng) -> dict:
    w = int(rng.integers(1200, 2600))
    h = int(rng.integers(1600, 3600))
    dpi = None if rng.random() < 0.25 else int(rng.choice([150, 300, 600]))
    scan_res = None if rng.random() < 0.5 else int(rng.choice([300, 600]))
    paragraphs = []
    y = int(rng.integers(20, 200))
    for _ in range(int(rng.integers(1, 4))):
        lines = []
        for _ in range(int(rng.integers(1, 5))):
            line_h = int(rng.integers(14, 40))
            x = int(rng.integers(10, w // 4))
            blank = rng.random() < 0.05      # whitespace-only line
            direction = 2 if rng.random() < 0.1 else 0
            words = []
            for _ in range(int(rng.integers(1, 9))):
                pool = RTL_WORDS if direction == 2 else WORDS
                text = "   " if blank else pool[int(rng.integers(len(pool)))]
                ww = max(5, len(text) * line_h // 2)
                fontsize = (0.0 if rng.random() < 0.05
                            else float(np.round(rng.uniform(6, 18), 2)))
                words.append({"text": text,
                              "bbox": [x, y, x + ww, y + line_h],
                              "confidence": float(np.round(
                                  rng.uniform(30, 99), 1)),
                              "fontsize": fontsize,
                              "writing_direction": direction})
                x += ww + 6
            lines.append({"bbox": [words[0]["bbox"][0], y,
                                   words[-1]["bbox"][2], y + line_h],
                          "baseline": [float(np.round(
                              rng.uniform(-0.03, 0.03), 4)), -3.0],
                          "words": words})
            y += line_h + int(rng.integers(4, 20))
        paragraphs.append({"lines": lines})
    return {"page": {"w": w, "h": h, "dpi": dpi, "scan_res": scan_res},
            "paragraphs": paragraphs}


def mixed_docs(seed: int) -> list[dict]:
    """extract_mixed documents: [{doc_id, spans}] in the engine's
    interleaved input contract."""
    lay = np.random.default_rng([LAYOUT_SEED, 1])
    counts = lay.permutation(MIXED_DOC_PAGES)
    n_pages = int(counts.sum())
    is_media = np.zeros(n_pages, dtype=bool)
    is_media[lay.choice(n_pages, MIXED_MEDIA_PAGES, replace=False)] = True
    pool = lay.permutation(MIXED_MEDIA_PAGES)
    rng = np.random.default_rng([seed, 1])
    docs, g, m = [], 0, 0
    for d, n in enumerate(counts):
        spans = []
        for off in range(int(n)):
            if is_media[g]:
                spans.append({"kind": "media", "text": "",
                              "media_ref": f"img://pool/{pool[m]}/0",
                              "offset": off})
                m += 1
            else:
                spans.append({"kind": "text", "media_ref": "",
                              "text": json.dumps(_text_page(rng),
                                                 ensure_ascii=False,
                                                 sort_keys=True),
                              "offset": off})
            g += 1
        docs.append({"doc_id": f"doc_{d:05d}", "spans": spans})
    return docs


def write_mixed(seed: int, path: str, n_files: int = 4) -> list[dict]:
    import pyarrow as pa

    docs = mixed_docs(seed)
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()),
                        ("spans", pa.list_(span))])
    _write({"doc_id": [d["doc_id"] for d in docs],
            "spans": [d["spans"] for d in docs]}, schema, path, n_files)
    return docs


# -------------------------------------------------------- hocr_ingest

def _hocr_page(rng, n_words: int, page_no: int):
    """-> (markup of one ocr_page div, expected line texts)."""
    W, H = 2480, 3508
    parts = [f'<div class="ocr_page" id="page_{page_no}" '
             f'title="image &quot;p{page_no}.jp2&quot;; bbox 0 0 {W} {H}; '
             f'ppageno {page_no}; scan_res 300 300">']
    lines_out = []
    y, left = 160, 200
    words_left = n_words
    par = 0
    while words_left > 0:
        rtl = rng.random() < 0.12
        d = ' dir="rtl"' if rtl else ""
        parts.append(f'<div class="ocr_carea" id="ca_{page_no}_{par}">'
                     f'<p class="ocr_par" id="par_{page_no}_{par}"'
                     f' lang="{"he" if rtl else "en"}"{d}>')
        for _ in range(int(rng.integers(2, 7))):
            if words_left <= 0:
                break
            n = min(words_left, int(rng.integers(4, 13)))
            words_left -= n
            line_h = int(rng.integers(28, 44))
            x = left
            texts, spans = [], []
            for k in range(n):
                pool = RTL_WORDS if rtl else WORDS
                t = pool[int(rng.integers(len(pool)))]
                ww = len(t) * line_h // 2 + 8
                conf = int(rng.integers(40, 99))
                spans.append(
                    f'<span class="ocrx_word" id="w_{page_no}_{y}_{k}" '
                    f'title="bbox {x} {y} {x + ww} {y + line_h}; '
                    f'x_wconf {conf}">{escape(t)}</span>')
                texts.append(t)
                x += ww + 12
            parts.append(
                f'<span class="ocr_line" title="bbox {left} {y} {x} '
                f'{y + line_h}; baseline 0.002 -6; x_size {line_h}; '
                f'x_descenders 6; x_ascenders 8">' + " ".join(spans)
                + "</span>")
            lines_out.append(" ".join(texts))
            y += line_h + 14
            if y > H - 200:
                y = 160
                left += 40
        parts.append("</p></div>")
        par += 1
    parts.append("</div>")
    return "".join(parts), lines_out


def hocr_docs(seed: int) -> list[dict]:
    """hocr_ingest documents: [{doc_id, hocr, lines: [[str] per page]}]."""
    lay = np.random.default_rng([LAYOUT_SEED, 2])
    counts = lay.permutation(HOCR_DOC_PAGES)
    n_pages = int(counts.sum())
    reps = -(-n_pages // len(HOCR_WORDS_PER_PAGE))
    words = lay.permutation(np.tile(HOCR_WORDS_PER_PAGE, reps)[:n_pages])
    rng = np.random.default_rng([seed, 2])
    docs, g = [], 0
    for d, n in enumerate(counts):
        body, lines = [], []
        for p in range(int(n)):
            markup, page_lines = _hocr_page(rng, int(words[g]), p + 1)
            body.append(markup)
            lines.append(page_lines)
            g += 1
        hocr = ('<?xml version="1.0" encoding="UTF-8"?>\n'
                '<html xmlns="http://www.w3.org/1999/xhtml" '
                'xml:lang="en"><head><title></title>'
                '<meta name="ocr-system" content="perfbench"/></head>'
                '<body>' + "".join(body) + "</body></html>")
        docs.append({"doc_id": f"doc_{d:05d}", "hocr": hocr,
                     "lines": lines})
    return docs


def write_hocr(seed: int, path: str, n_files: int = 4) -> list[dict]:
    import pyarrow as pa

    docs = hocr_docs(seed)
    schema = pa.schema([("doc_id", pa.string()), ("hocr", pa.string())])
    _write({"doc_id": [d["doc_id"] for d in docs],
            "hocr": [d["hocr"] for d in docs]}, schema, path, n_files)
    return docs


# --------------------------------------------------------- recode_pdf

def page_pool() -> list[dict]:
    """The fixed page files with their layout; refuses a pool whose
    bytes do not match ``pages/layout.json``."""
    with open(os.path.join(PAGES_DIR, "layout.json")) as fh:
        layout = json.load(fh)
    for p in layout:
        with open(os.path.join(PAGES_DIR, p["file"]), "rb") as fh:
            p["data"] = fh.read()
        if hashlib.sha256(p["data"]).hexdigest() != p["sha256"]:
            raise RuntimeError(f"page file {p['file']} does not match "
                               "pages/layout.json; remake the pool with "
                               "make_pages.py")
    return layout


def _recode_hocr(rng, pages: list[dict]):
    """-> (markup, words per page) for one document's pages, words
    placed on the page files' own word boxes."""
    body, words = [], []
    for no, p in enumerate(pages):
        body.append(f'<div class="ocr_page" id="page_{no + 1}" '
                    f'title="bbox 0 0 {p["w"]} {p["h"]}">'
                    '<p class="ocr_par">')
        page_words = []
        for line in p["lines"]:
            x0, y0 = line[0][0], line[0][1]
            x1, y1 = line[-1][2], line[-1][3]
            spans = []
            for box in line:
                t = WORDS[int(rng.integers(12))]      # Latin words only
                page_words.append(t)
                spans.append('<span class="ocrx_word" title="bbox '
                              + " ".join(map(str, box))
                              + f'; x_wconf 90">{escape(t)}</span>')
            body.append(f'<span class="ocr_line" title="bbox {x0} {y0} '
                        f'{x1} {y1}; baseline 0 0; x_size {y1 - y0}">'
                        + " ".join(spans) + "</span>")
        body.append("</p></div>")
        words.append(page_words)
    markup = ('<?xml version="1.0" encoding="UTF-8"?>\n<html xmlns='
              '"http://www.w3.org/1999/xhtml"><head><title></title></head>'
              "<body>" + "".join(body) + "</body></html>")
    return markup, words


def recode_docs(seed: int, pool: list[dict]) -> list[dict]:
    """recode_pdf documents: [{doc_id, pages: [pool entries in page
    order], hocr, words}]."""
    lay = np.random.default_rng([LAYOUT_SEED, 3])
    with_hocr = set(lay.choice(RECODE_DOCS, RECODE_DOCS // 2,
                               replace=False).tolist())
    rng = np.random.default_rng([seed, 3])
    docs = []
    for d in range(RECODE_DOCS):
        half = RECODE_HALVES[d % 2]
        pages = [pool[half[i]] for i in rng.permutation(len(half))]
        hocr, words = (_recode_hocr(rng, pages) if d in with_hocr
                       else (None, None))
        docs.append({"doc_id": f"doc_{d:05d}", "pages": pages,
                     "hocr": hocr, "words": words})
    return docs


def write_recode(seed: int, path: str, pool: list[dict],
                 n_files: int = 4) -> list[dict]:
    import pyarrow as pa

    docs = recode_docs(seed, pool)
    rows = {"doc_id": [], "page_idx": [], "image": [], "hocr": []}
    for doc in docs:
        for k, p in enumerate(doc["pages"]):
            rows["doc_id"].append(doc["doc_id"])
            rows["page_idx"].append(k)
            rows["image"].append(p["data"])
            rows["hocr"].append(doc["hocr"] if k == 0 else None)
    schema = pa.schema([("doc_id", pa.string()), ("page_idx", pa.int32()),
                        ("image", pa.binary()), ("hocr", pa.string())])
    _write(rows, schema, path, n_files)
    return docs
