"""The three workloads: inputs, one repetition of the batch job, and the
checks of its outputs.

A repetition always processes the whole input table into a fresh output
location.  ``run_once`` takes a ``span`` callable (a no-op in the timed
runs) that the traced run uses to record layer spans around the calls
into the program.
"""

from __future__ import annotations

import collections
import json
import os
import re
import zlib
from contextlib import nullcontext

import numpy as np

import inputs

SHARDS = 2              # checkpoint shards of hocr_ingest and recode_pdf


def no_span(_name):
    return nullcontext()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _read_parquet_dir(path: str):
    import pyarrow.parquet as pq
    return pq.read_table(path, partitioning=None).to_pylist()


def _check_spans(doc_rows, errors: list, label: str) -> dict:
    """Every document once, offsets 0..n-1 -> {doc_id: spans}."""
    seen = collections.Counter(r["doc_id"] for r in doc_rows)
    dup = [d for d, n in seen.items() if n != 1]
    if dup:
        errors.append(f"{label}: documents not exactly once: {dup[:3]}")
    out = {}
    for r in doc_rows:
        spans = r["spans"] or []
        if [s["offset"] for s in spans] != list(range(len(spans))):
            errors.append(f"{label}: {r['doc_id']} offsets not 0..n-1")
        out[r["doc_id"]] = spans
    return out


def _marker_errors(warning_lists, errors: list, label: str) -> None:
    bad = sorted({w for ws in warning_lists for w in (ws or [])
                  if w.startswith("extract-error")})
    if bad:
        errors.append(f"{label}: page markers carry {bad}")


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.input_dir = os.path.join(work, "input")

    def make_inputs(self) -> None:
        """Write the seeded input table to ``input_dir``."""
        raise NotImplementedError

    def n_pages(self) -> int:
        """Input pages as the generator laid them out."""
        raise NotImplementedError

    def register(self, spark, path: str):
        """-> (DataFrame, input pages counted from the table)."""
        raise NotImplementedError

    def run_once(self, spark, df, out_dir: str, span=no_span) -> None:
        raise NotImplementedError

    def verify(self, df, out_dir: str) -> list[str]:
        """Check the outputs of the last timed repetition."""
        raise NotImplementedError

    def out_bytes(self, out_dir: str) -> int:
        return dir_bytes(out_dir)


class ExtractMixed(Workload):
    """Interleaved text + media documents -> ``plans.run_extraction`` ->
    noop sink."""
    name = "extract_mixed"

    def make_inputs(self) -> None:
        self.docs = inputs.write_mixed(self.seed, self.input_dir)

    def n_pages(self):
        return sum(len(d["spans"]) for d in self.docs)

    def register(self, spark, path):
        from pyspark.sql import functions as F
        df = spark.read.parquet(path)
        return df, int(df.select(F.sum(F.size("spans"))).head()[0])

    def run_once(self, spark, df, out_dir, span=no_span):
        from archive_pdf_tools_spark.plans import run_extraction
        with span("plans.run_extraction"):
            out, _ = run_extraction(df, with_metrics=False)
        with span("sink.noop"):
            out.write.mode("overwrite").format("noop").save()

    def verify(self, df, out_dir):
        oracle = self._start_oracle()
        try:
            errors, outputs = self._check_outputs(df)
            return errors + self._oracle_errors(oracle, outputs)
        finally:
            if oracle[1].poll() is None:
                oracle[1].kill()
            oracle[1].wait()

    def _check_outputs(self, df):
        """A separate, untimed pass that collects the extraction's page
        markers and reassembled output.  -> (errors, {input media ref:
        output media ref})."""
        from archive_pdf_tools_spark.corpus.rasters import page_spec
        from archive_pdf_tools_spark.operators.extract import (
            PAGE_MARKER, extract_spans, reassemble)
        from pyspark.sql import functions as F

        errors: list[str] = []
        extracted = extract_spans(df).persist()
        try:
            markers = (extracted.where(F.col("kind") == PAGE_MARKER)
                       .select("doc_id", "in_offset", "warnings")
                       .collect())
            rows = [r.asDict(recursive=True)
                    for r in reassemble(extracted).collect()]
        finally:
            extracted.unpersist()
        n_pages = self.n_pages()
        if len(markers) != n_pages or len(
                {(m.doc_id, m.in_offset) for m in markers}) != n_pages:
            errors.append(f"page markers {len(markers)} != input pages "
                          f"{n_pages}")
        _marker_errors([m.warnings for m in markers], errors, self.name)
        got = _check_spans(rows, errors, self.name)
        if set(got) != {d["doc_id"] for d in self.docs}:
            errors.append("output documents differ from input documents")
            return errors, {}
        media = {}
        out_text = 0
        for doc in self.docs:
            spans = got[doc["doc_id"]]
            out_text += sum(len((s["text"] or "").encode())
                            + len((s["media_ref"] or "").encode())
                            for s in spans)
            i = 0
            for page in doc["spans"]:
                if page["kind"] == "text":
                    want = inputs.expected_lines(
                        json.loads(page["text"])["paragraphs"])
                    have = [s["text"] for s in spans[i:i + len(want)]
                            if s["kind"] == "text"]
                    if have != want:
                        errors.append(f"{doc['doc_id']}/{page['offset']}:"
                                      " text lines differ")
                    i += len(want)
                    continue
                lines = []
                while i < len(spans) and spans[i]["kind"] == "text":
                    lines.append(spans[i]["text"])
                    i += 1
                ref = spans[i]["media_ref"] if i < len(spans) else ""
                i += 1
                spec = page_spec(page["media_ref"])
                truth = iter([" ".join(w["text"] for w in ln["words"])
                              for ln in spec["lines"]])
                if not all(any(t == x for t in truth) for x in lines):
                    errors.append(f"{doc['doc_id']}/{page['offset']}: "
                                  "media lines not a subsequence of the "
                                  "page's ground truth")
                tag = "#bitonal=" if spec["bitonal"] else "#mrc="
                if not ref.startswith(page["media_ref"] + tag):
                    errors.append(f"{doc['doc_id']}/{page['offset']}: "
                                  f"media span {ref!r}")
                media[page["media_ref"]] = ref
            if i != len(spans):
                errors.append(f"{doc['doc_id']}: {len(spans) - i} extra "
                              "output spans")
        self.output_bytes = out_text
        return errors, media

    def _start_oracle(self):
        """Recompute a seeded sample of small media pages (two MRC, one
        bitonal) with the Python kernel tier and the slow per-pixel
        oracles, in a subprocess that runs beside the verification pass.
        -> (refs, process)."""
        import subprocess
        import sys
        from archive_pdf_tools_spark.corpus.rasters import page_spec

        refs = sorted({p["media_ref"] for d in self.docs
                       for p in d["spans"] if p["kind"] == "media"})
        specs = [page_spec(r) for r in refs]
        small = [s for s in specs if s["w"] * s["h"] <= 128 * 96]
        mrc = [s["media_ref"] for s in small if not s["bitonal"]]
        bitonal = [s["media_ref"] for s in small if s["bitonal"]]
        rng = np.random.default_rng([self.seed, 9])
        sample = list(rng.choice(mrc, 2, replace=False)) + bitonal[:1]
        proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__),
                                          "oracle.py"), *map(str, sample)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            env=dict(os.environ, SPARK_GRAFT_CKERN="0"))
        return sample, proc

    def _oracle_errors(self, oracle, outputs: dict) -> list[str]:
        sample, proc = oracle
        out, err = proc.communicate(timeout=120)
        if proc.returncode:
            return [f"oracle pass failed: {err[-300:]}"]
        return [f"{ref}: output {outputs.get(ref)!r} != oracle {w!r}"
                for ref, w in zip(sample, json.loads(out))
                if outputs.get(ref) != w]

    def out_bytes(self, out_dir):
        return self.output_bytes


class HocrIngest(Workload):
    """hOCR markup documents -> ``sources.hocr.hocr_documents`` ->
    ``operators.checkpoint.run_with_checkpoint``."""
    name = "hocr_ingest"

    def make_inputs(self):
        self.docs = inputs.write_hocr(self.seed, self.input_dir)

    def n_pages(self):
        return sum(len(d["lines"]) for d in self.docs)

    def register(self, spark, path):
        df = spark.read.parquet(path)
        pages = sum(len(re.findall(r'class="ocr_page"', r.hocr))
                    for r in df.select("hocr").collect())
        return df, pages

    def run_once(self, spark, df, out_dir, span=no_span):
        from archive_pdf_tools_spark.operators.checkpoint import (
            run_with_checkpoint)
        from archive_pdf_tools_spark.sources.hocr import hocr_documents
        with span("sources.hocr.hocr_documents"):
            docs = hocr_documents(df)
        with span("operators.checkpoint.run_with_checkpoint"):
            run_with_checkpoint(spark, docs, out_dir, shards=SHARDS)

    def verify(self, df, out_dir):
        errors: list[str] = []
        with open(os.path.join(out_dir, "_manifest.json")) as fh:
            manifest = json.load(fh)
        if manifest != {"committed_shards": list(range(SHARDS)),
                        "shards": SHARDS}:
            errors.append(f"manifest {manifest}")
        rows = _read_parquet_dir(os.path.join(out_dir, "spans"))
        metrics = _read_parquet_dir(os.path.join(out_dir, "metrics"))
        if sum(m["page_count"] for m in metrics) != self.n_pages():
            errors.append("metrics page_count != input pages")
        _marker_errors([m["warning_kinds"] for m in metrics], errors,
                       self.name)
        got = _check_spans(rows, errors, self.name)
        if set(got) != {d["doc_id"] for d in self.docs}:
            errors.append("committed documents differ from input documents")
        for doc in self.docs:
            want = [ln for page in doc["lines"] for ln in page]
            have = [s["text"] for s in got.get(doc["doc_id"], [])
                    if s["kind"] == "text"]
            if have != want or len(have) != len(got.get(doc["doc_id"], [])):
                errors.append(f"{doc['doc_id']}: committed lines differ "
                              "from the laid-out hOCR lines")
                break
        return errors


class RecodePdf(Workload):
    """Imagestack table -> ``operators.recode.run_recode_checkpoint``
    (default MRC options) -> committed PDFs."""
    name = "recode_pdf"

    def make_inputs(self):
        self.pool = inputs.page_pool()
        self.docs = inputs.write_recode(self.seed, self.input_dir,
                                        self.pool)

    def n_pages(self):
        return sum(len(d["pages"]) for d in self.docs)

    def register(self, spark, path):
        df = spark.read.parquet(path)
        return df, df.count()

    def run_once(self, spark, df, out_dir, span=no_span):
        from archive_pdf_tools_spark.operators.recode import (
            run_recode_checkpoint)
        with span("operators.recode.run_recode_checkpoint"):
            run_recode_checkpoint(spark, df, out_dir, shards=SHARDS)

    def verify(self, df, out_dir):
        errors: list[str] = []
        with open(os.path.join(out_dir, "_manifest.json")) as fh:
            manifest = json.load(fh)
        if manifest != {"committed_shards": list(range(SHARDS)),
                        "shards": SHARDS}:
            errors.append(f"manifest {manifest}")
        rows = _read_parquet_dir(os.path.join(out_dir, "pdfs"))
        by_doc = collections.Counter(r["doc_id"] for r in rows)
        if by_doc != collections.Counter(d["doc_id"] for d in self.docs):
            errors.append("not one PDF per document")
            return errors
        rows = {r["doc_id"]: r for r in rows}
        rng = np.random.default_rng([self.seed, 7])
        psnr_docs = set(rng.choice(len(self.docs), 2, replace=False))
        for k, doc in enumerate(self.docs):
            r = rows[doc["doc_id"]]
            if r["error"] is not None or r["pdf"] is None:
                errors.append(f"{doc['doc_id']}: error {r['error']}")
                continue
            pages = pdf_pages(r["pdf"])
            n = len(doc["pages"])
            if r["n_pages"] != n or len(pages) != n:
                errors.append(f"{doc['doc_id']}: {len(pages)} pages, "
                              f"want {n}")
                continue
            for p, page in enumerate(pages):
                want = doc["words"][p] if doc["words"] else []
                if page["words"] != want:
                    errors.append(f"{doc['doc_id']}/p{p}: text layer "
                                  "words differ from the hOCR words")
                    break
            if k in psnr_docs:
                p = int(rng.integers(n))
                db = page_psnr(pages[p], doc["pages"][p])
                if not db >= PSNR_FLOOR_DB:
                    errors.append(f"{doc['doc_id']}/p{p}: MRC "
                                  f"composition PSNR {db:.1f} dB")
        return errors


# The pool pages compose back at 18.5-22.2 dB (fg and bg are 3x
# downsampled and JPEG 2000 coded); an inverted or misplaced mask falls far
# below the floor.
PSNR_FLOOR_DB = 16.0

_OBJ = re.compile(rb"(\d+) 0 obj\s*(.*?)\s*endobj", re.S)


def _stream(body: bytes) -> bytes:
    head, _, rest = body.partition(b"stream\n")
    data = rest[:rest.rindex(b"\nendstream")]
    return zlib.decompress(data) if b"/FlateDecode" in head else data


def pdf_pages(pdf: bytes) -> list[dict]:
    """Minimal reader for the sink's own PDF layout: pages in /Kids
    order, each with its image XObjects and the words of its text layer
    (UTF-16BE TJ strings, less the synthetic trailing space)."""
    objs = {int(m.group(1)): m.group(2) for m in _OBJ.finditer(bytes(pdf))}
    tree = next(b for b in objs.values() if b.startswith(b"<< /Type /Pages"))
    kids = [int(x) for x in re.findall(rb"(\d+) 0 R",
                                       tree[tree.index(b"/Kids"):])]
    pages = []
    for oid in kids:
        page = objs[oid]
        images = {name.decode(): objs[int(ref)] for name, ref in
                  re.findall(rb"/(Im\d+) (\d+) 0 R", page)}
        content = _stream(objs[int(re.search(rb"/Contents (\d+) 0 R",
                                              page).group(1))])
        words = []
        for hexed in re.findall(rb"\[ <([0-9A-F]*)> \] TJ", content):
            text = bytes.fromhex(hexed.decode()).decode("utf-16-be")
            words.append(text[:-1])
        pages.append({"images": images, "objs": objs, "words": words})
    return pages


def _image(body: bytes, objs: dict):
    from archive_pdf_tools_spark.kernels.registry import get_decoder
    data = _stream(body)
    if b"/JPXDecode" in body:
        return get_decoder("JPEG2000")(data)
    if b"/DCTDecode" in body:
        return get_decoder("JPEG")(data)
    raise ValueError("unexpected image filter")


def page_psnr(page: dict, source: dict) -> float:
    """PSNR of the bg/fg/mask composition of one MRC page against the
    source raster as the benchmark drew it (before any lossy encode)."""
    import make_pages
    from archive_pdf_tools_spark.kernels.registry import get_decoder

    objs = page["objs"]
    bg = _image(page["images"]["Im0"], objs)
    fg_body = page["images"]["Im1"]
    fg = _image(fg_body, objs)
    smask = objs[int(re.search(rb"/SMask (\d+) 0 R", fg_body).group(1))]
    bits = get_decoder("JBIG2")(_stream(smask), b"")
    text = np.asarray(bits) == 0         # ink is JBIG2 bit 0 (SMask)
    idx = [i for i, p in enumerate(make_pages.POOL)
           if p[0] + "." + p[1] == source["file"]][0]
    _n, _f, w, h, mode = make_pages.POOL[idx]
    truth, _lines = make_pages.render_page(w, h, mode, 1000 + idx)

    def up(a):                          # nearest, area-proportional
        ys = np.arange(h) * a.shape[0] // h
        xs = np.arange(w) * a.shape[1] // w
        return a[ys][:, xs]
    fg_u, bg_u = up(fg), up(bg)
    if truth.ndim == 3:
        text = text[:, :, None]
    comp = np.where(text, fg_u, bg_u).astype(np.float64)
    mse = float(np.mean((comp - truth.astype(np.float64)) ** 2))
    return float("inf") if mse == 0 else 10 * np.log10(255.0 ** 2 / mse)


WORKLOADS = {w.name: w for w in (ExtractMixed, HocrIngest, RecodePdf)}
