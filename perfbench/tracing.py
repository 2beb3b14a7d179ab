"""The traced run: layer spans, Spark stage metrics and the lane pass.

* **Layer spans** are recorded from the benchmark's own code around each
  call into the program (``Tracer``).  Every Spark job a span launches
  carries the span id as the local property ``perfbench.span``.
* **Stage metrics** come from Spark's uncompressed event log of the same
  session: per stage executor run time, CPU time, shuffle bytes, spill,
  GC and task times, attributed to layers by the plan operators in the
  stage (``classify``).
* **Lane pass**: a single-process pass over a seeded sample of the
  workload's own pages, calling the kernel functions in the order the
  operators call them.

The report (spans with self time, stage rows, lane timings and the
per-layer metrics) is written to ``.bench_work/trace_<workload>.json``.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import statistics
import threading
import time

import numpy as np

SPAN_PROP = "perfbench.span"

# name -> unit; every traced run reports all of them (0 where the
# workload does not exercise the layer).
PER_LAYER = {
    "scan.stage_s": "s", "extract.stage_s": "s", "extract.kernel_s": "s",
    "extract.boundary_ms_per_page": "ms", "extract.task_skew": "ratio",
    "extract.shuffle_bytes": "B", "reassemble.shuffle_bytes": "B",
    "reassemble.stage_s": "s", "checkpoint.shard_s": "s",
    "checkpoint.write_stage_s": "s", "checkpoint.bytes": "B",
    "recode.stage_s": "s", "spark.spill_bytes": "B", "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB", "rasters.render_ms_per_page": "ms",
    "mrc.mask_ms_per_page": "ms", "optimise.denoise_ms_per_page": "ms",
    "optimise.fgbg_ms_per_page": "ms", "extract.hash_ms_per_page": "ms",
    "textlayer.ms_per_page": "ms", "hocr.parse_ms_per_page": "ms",
    "jpeg.decode_mpx_per_s": "Mpx/s", "jp2.decode_mpx_per_s": "Mpx/s",
    "tiff.decode_mpx_per_s": "Mpx/s", "png.decode_mpx_per_s": "Mpx/s",
    "jp2.encode_mpx_per_s": "Mpx/s", "jbig2.encode_mpx_per_s": "Mpx/s",
    "pdfsink.ms_per_page": "ms", "native.compiled": "count",
    "trace.overhead_pct": "%",
}


class Tracer:
    """Spans kept in memory: (id, name, parent, start, end)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = {"id": len(self.spans), "name": name,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "start": time.perf_counter(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(SPAN_PROP, str(s["id"]))
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, str(self._stack[-1]["id"]) if self._stack
                else None)

    @contextlib.contextmanager
    def rep(self, k: int):
        with self.span(f"rep{k}"):
            yield self.span

    def report(self) -> list[dict]:
        """Spans with duration and self time (duration less the part
        its children cover; children run one after another)."""
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == s["id"])
            out.append({"id": s["id"], "name": s["name"],
                        "parent": s["parent"],
                        "start_s": s["start"] - self.spans[0]["start"],
                        "dur_s": dur, "self_s": dur - kids})
        return out


class ManifestWatch:
    """Shard commit times of a checkpoint, seen from outside: polls the
    manifest the checkpoint rewrites after each committed shard."""

    def __init__(self, out_dir: str):
        self.path = os.path.join(out_dir, "_manifest.json")
        self.commits: list[float] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        seen = 0
        while not self._stop.wait(0.005):
            try:
                with open(self.path) as fh:
                    n = len(json.load(fh)["committed_shards"])
            except (OSError, ValueError):
                continue
            if n > seen:
                self.commits.extend([time.perf_counter()] * (n - seen))
                seen = n

    def __enter__(self):
        self.start = time.perf_counter()
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()

    def shard_s(self) -> list[float]:
        edges = [self.start] + self.commits
        return [b - a for a, b in zip(edges, edges[1:])]


# ------------------------------------------------------------ event log

def read_event_log(event_dir: str) -> tuple[dict, dict]:
    """-> (stages {id: row}, job span {stage id: span id})."""
    stages: dict[int, dict] = {}
    span_of: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(SPAN_PROP)
                    if sid is not None:
                        for st in ev["Stage IDs"]:
                            span_of[st] = sid
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    row = stages.setdefault(info["Stage ID"], _stage_row())
                    row["ops"] = sorted({
                        json.loads(r["Scope"])["name"]
                        for r in info.get("RDD Info", []) if r.get("Scope")})
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    row = stages.setdefault(ev["Stage ID"], _stage_row())
                    ti = ev["Task Info"]
                    row["tasks"].append(ti["Finish Time"] - ti["Launch Time"])
                    row["run_ms"] += m.get("Executor Run Time", 0)
                    row["cpu_ns"] += m.get("Executor CPU Time", 0)
                    row["gc_ms"] += m.get("JVM GC Time", 0)
                    row["spill"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    row["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
    return stages, span_of


def _stage_row() -> dict:
    return {"ops": [], "tasks": [], "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "spill": 0, "shuffle_w": 0}


def classify(ops: list[str]) -> str:
    """Layer of a stage, from the plan operators (RDD scopes) in it.  A
    stage that reads a persisted result (``InMemoryTableScan``) lists the
    operators of the cached lineage too, but does not run them."""
    has = lambda word: any(o.startswith(word) for o in ops)  # noqa: E731
    cached = has("InMemoryTableScan")
    if has("FlatMapGroupsInPandas") and not cached:
        return "recode"
    if has("Scan parquet"):
        return "scan"
    if has("MapInPandas") and not cached:
        return "extract"
    if has("MapInPandas") or has("ObjectHashAggregate"):
        return "reassemble"
    return "sink"


# ------------------------------------------------------------ lane pass

def _ms(fn, *a, **k):
    t = time.perf_counter()
    r = fn(*a, **k)
    return r, (time.perf_counter() - t) * 1000.0


def lanes_extract(wl, rng) -> dict:
    from archive_pdf_tools_spark.corpus.rasters import (
        page_spec, render_raster, spec_word_data)
    from archive_pdf_tools_spark.kernels.dpi import page_geometry
    from archive_pdf_tools_spark.kernels.mrc import mrc_mask_phase
    from archive_pdf_tools_spark.kernels.optimise import (
        fast_mask_denoise_batch, optimise_gray2_batch, optimise_rgb2_batch)
    from archive_pdf_tools_spark.kernels.textlayer import render_text_layer

    pages = [p for d in wl.docs for p in d["spans"]]
    media = [p for p in pages if p["kind"] == "media"]
    text = [p for p in pages if p["kind"] == "text"]
    acc = dict.fromkeys(("render", "mask", "denoise", "fgbg", "hash",
                         "text"), 0.0)
    sample = [media[i] for i in rng.choice(len(media), 60, replace=False)]
    for p in sample:
        spec, a = _ms(page_spec, p["media_ref"])
        raster, b = _ms(render_raster, spec)
        acc["render"] += a + b
        if spec["bitonal"]:
            acc["hash"] += _ms(_sha12, raster)[1]
            continue
        (mask, _d, _w), t = _ms(mrc_mask_phase, raster, spec_word_data(spec),
                                dpi=spec["dpi"], apply_denoise=False)
        acc["mask"] += t
        masks, t = _ms(fast_mask_denoise_batch, mask[None], 4, 2)
        acc["denoise"] += t
        opt = optimise_rgb2_batch if raster.ndim == 3 else optimise_gray2_batch
        fg, t1 = _ms(opt, masks, raster[None], 3)
        bg, t2 = _ms(opt, ~masks, raster[None], 10)
        acc["fgbg"] += t1 + t2
        acc["hash"] += sum(_ms(_sha12, a)[1] for a in (masks[0], fg, bg))
    tsample = [text[i] for i in rng.choice(len(text), 60, replace=False)]
    for p in tsample:
        payload = json.loads(p["text"])
        pg = payload["page"]
        w, h, ppi, _ = page_geometry(pg["w"], pg["h"], doc_dpi=pg.get("dpi"))
        acc["text"] += _ms(render_text_layer, payload["paragraphs"], w, h,
                           ppi, hocr_ppi=pg.get("scan_res"))[1]
    n = len(sample)
    return {"rasters.render_ms_per_page": acc["render"] / n,
            "mrc.mask_ms_per_page": acc["mask"] / n,
            "optimise.denoise_ms_per_page": acc["denoise"] / n,
            "optimise.fgbg_ms_per_page": acc["fgbg"] / n,
            "extract.hash_ms_per_page": acc["hash"] / n,
            "textlayer.ms_per_page": acc["text"] / len(tsample)}


def lanes_hocr(wl, rng) -> dict:
    from archive_pdf_tools_spark.kernels.dpi import page_geometry
    from archive_pdf_tools_spark.kernels.textlayer import render_text_layer
    from archive_pdf_tools_spark.sources.hocr import iter_pages, page_payload

    parse = text = 0.0
    n = 0
    for i in rng.choice(len(wl.docs), 8, replace=False):
        t = time.perf_counter()
        payloads = [page_payload(pg) for pg in iter_pages(wl.docs[i]["hocr"])]
        parse += (time.perf_counter() - t) * 1000.0
        for raw in payloads:
            payload = json.loads(raw)
            pg = payload["page"]
            w, h, ppi, _ = page_geometry(pg["w"], pg["h"])
            text += _ms(render_text_layer, payload["paragraphs"], w, h, ppi,
                        hocr_ppi=pg.get("scan_res"))[1]
        n += len(payloads)
    return {"hocr.parse_ms_per_page": parse / n,
            "textlayer.ms_per_page": text / n}


def lanes_recode(wl, rng) -> dict:
    from archive_pdf_tools_spark.kernels.mrc import mrc_mask_phase
    from archive_pdf_tools_spark.kernels.optimise import (
        optimise_gray2, optimise_rgb2)
    from archive_pdf_tools_spark.kernels.pages import downsample_box
    from archive_pdf_tools_spark.kernels.pdfsink import build_mrc_pdf
    from archive_pdf_tools_spark.kernels.registry import get_encoder
    from archive_pdf_tools_spark.kernels.textlayer import render_text_layer
    from archive_pdf_tools_spark.operators.imagestack import (
        decode_page_image)

    dec: dict[str, list] = {}
    out = dict.fromkeys(("mask", "fgbg", "sink"), 0.0)
    enc = {"jp2": [0.0, 0.0], "jbig2": [0.0, 0.0]}
    for p in wl.pool:
        img, t = _ms(decode_page_image, p["data"])
        mpx = img.shape[0] * img.shape[1] / 1e6
        d = dec.setdefault(p["format"], [0.0, 0.0])
        d[0] += mpx
        d[1] += t
        (mask, _d, _w), t = _ms(mrc_mask_phase, img, [])
        out["mask"] += t
        opt = optimise_rgb2 if img.ndim == 3 else optimise_gray2
        fg, t1 = _ms(opt, mask, img, 3)
        bg, t2 = _ms(opt, ~mask, img, 10)
        out["fgbg"] += t1 + t2
        fg, _ = downsample_box(fg, 3)
        bg, _ = downsample_box(bg, 3)
        jp2 = []
        for a in (fg, bg):
            data, t = _ms(get_encoder("JPEG2000"), a, irreversible=True)
            jp2.append(data)
            enc["jp2"][0] += a.shape[0] * a.shape[1] / 1e6
            enc["jp2"][1] += t
        ink = (mask == 0).astype(np.uint8)
        mask_jb2, t = _ms(get_encoder("JBIG2"), ink)
        enc["jbig2"][0] += mpx
        enc["jbig2"][1] += t
        out["sink"] += _ms(build_mrc_pdf, [{
            "mask": mask, "fg": fg, "bg": bg, "fg_jp2": jp2[0],
            "bg_jp2": jp2[1], "mask_jbig2": mask_jb2}])[1]
    n = len(wl.pool)
    res = {f"{k}.decode_mpx_per_s": 1000.0 * v[0] / v[1]
           for k, v in (("jpeg", dec["jpeg"]), ("jp2", dec["jp2"]),
                        ("tiff", dec["tiff"]), ("png", dec["png"]))}
    res.update({"jp2.encode_mpx_per_s": 1000.0 * enc["jp2"][0] / enc["jp2"][1],
                "jbig2.encode_mpx_per_s":
                    1000.0 * enc["jbig2"][0] / enc["jbig2"][1],
                "mrc.mask_ms_per_page": out["mask"] / n,
                "optimise.fgbg_ms_per_page": out["fgbg"] / n,
                "pdfsink.ms_per_page": out["sink"] / n})
    hocr = next(d for d in wl.docs if d["hocr"])
    words, t = _ms(_parse_all, hocr["hocr"])
    res["hocr.parse_ms_per_page"] = t / len(words)
    text = 0.0
    for wd, p in zip(words, hocr["pages"]):
        # the recode operator's call: page size in points at 72 ppi
        text += _ms(render_text_layer, wd, p["w"], p["h"], 72.0)[1]
    res["textlayer.ms_per_page"] = text / len(words)
    return res


def _parse_all(markup):
    from archive_pdf_tools_spark.sources.hocr import iter_pages, page_word_data
    return [page_word_data(p) for p in iter_pages(markup)]


def _sha12(a) -> str:
    return hashlib.sha1(np.ascontiguousarray(a).tobytes()).hexdigest()[:12]


LANES = {"extract_mixed": lanes_extract, "hocr_ingest": lanes_hocr,
         "recode_pdf": lanes_recode}


# ------------------------------------------------------------- the run

def traced(spark, wl, df, pages: int, seconds: float, work: str, cpus: int,
           untraced: dict, tiers: dict) -> dict:
    """Traced timed phase + event log + lane pass -> per-layer metrics
    {name: (value, unit)}; writes the trace report."""
    from run import log, timed_phase
    from workloads import dir_bytes

    tracer = Tracer(spark)
    watches: list[ManifestWatch] = []

    class Reps:
        @contextlib.contextmanager
        def rep(self, k):
            with tracer.rep(k) as span:
                out = os.path.join(work, "out-traced", f"rep{k}")
                with ManifestWatch(out) as w:
                    watches.append(w)
                    yield span

    res = timed_phase(spark, wl, df, pages, seconds,
                      os.path.join(work, "out-traced"), Reps(), cpus)
    reps = res["reps"]
    kernel_s = _kernel_s(spark, wl, df, res["out"])
    ckpt_bytes = dir_bytes(res["out"]) if wl.name != "extract_mixed" else 0

    stages, span_of = read_event_log(os.path.join(work, "events"))
    traced_spans = {str(s["id"]) for s in tracer.spans}
    layer = {}
    for st, row in stages.items():
        if span_of.get(st) not in traced_spans:
            continue
        row["layer"] = classify(row["ops"])
        row["span"] = tracer.spans[int(span_of[st])]["name"]
        layer.setdefault(row["layer"], []).append(row)

    def run_s(name):
        return sum(r["run_ms"] for r in layer.get(name, [])) / 1000.0 / reps

    def shuffle(name):
        return sum(r["shuffle_w"] for r in layer.get(name, [])) / reps

    extract_s = run_s("extract")
    skews = [max(r["tasks"]) / max(statistics.median(r["tasks"]), 1)
             for r in layer.get("extract", []) if r["tasks"]]
    writes = [r for rows in layer.values() for r in rows
              if any("WriteFiles" in o or "InsertInto" in o
                     for o in r["ops"])]
    shard_s = [s for w in watches for s in w.shard_s()]
    all_rows = [r for rows in layer.values() for r in rows]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "scan.stage_s": run_s("scan"),
        "extract.stage_s": extract_s,
        "extract.kernel_s": kernel_s,
        "extract.boundary_ms_per_page":
            1000.0 * (extract_s - kernel_s) / pages if extract_s else 0.0,
        "extract.task_skew": statistics.mean(skews) if skews else 0.0,
        "extract.shuffle_bytes": shuffle("scan") if extract_s else 0.0,
        "reassemble.shuffle_bytes": shuffle("extract"),
        "reassemble.stage_s": run_s("reassemble"),
        "checkpoint.shard_s": statistics.median(shard_s) if shard_s else 0.0,
        "checkpoint.write_stage_s":
            sum(r["run_ms"] for r in writes) / 1000.0 / reps,
        "checkpoint.bytes": float(ckpt_bytes),
        "recode.stage_s": run_s("recode"),
        "spark.spill_bytes": sum(r["spill"] for r in all_rows) / reps,
        "jvm.gc_s": sum(r["gc_ms"] for r in all_rows) / 1000.0 / reps,
        "jvm.peak_rss_mb": untraced["rss_jvm_mb"],
        "native.compiled": float(all(s == "compiled kernels active"
                                     for s in tiers.values())),
        "trace.overhead_pct": 100.0 * (
            untraced["pages_per_s"] / res["pages_per_s"] - 1.0),
    })
    if wl.name == "extract_mixed":
        m["checkpoint.write_stage_s"] = 0.0
    lanes = LANES[wl.name](wl, np.random.default_rng([wl.seed, 11]))
    m.update(lanes)

    spans = tracer.report()
    per_name: dict[str, dict] = {}
    for sp in spans:
        name = "rep" if sp["parent"] is None else sp["name"]
        agg = per_name.setdefault(name, {"count": 0, "dur_s": 0.0,
                                         "self_s": 0.0})
        agg["count"] += 1
        agg["dur_s"] += sp["dur_s"]
        agg["self_s"] += sp["self_s"]
    report = {"workload": wl.name, "seed": wl.seed, "reps": reps,
              "pages_per_rep": pages, "spans": spans,
              "span_totals": per_name,
              "stages": [dict(r, stage=st, tasks=len(r["tasks"]))
                         for st, r in sorted(stages.items())
                         if "layer" in r],
              "lanes": lanes, "metrics": m}
    path = os.path.join(os.path.dirname(work), f"trace_{wl.name}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    log(f"trace report: {path}")
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}


def _kernel_s(spark, wl, df, out_dir) -> float:
    """Sum of page-marker ``elapsed_ms`` per repetition, in seconds, read
    through ``partition_metrics`` (a separate job for extract_mixed, the
    committed metrics table for hocr_ingest)."""
    if wl.name == "extract_mixed":
        from archive_pdf_tools_spark.operators.extract import (
            extract_spans, partition_metrics)
        rows = partition_metrics(extract_spans(df)).collect()
        return sum(r.kernel_ms for r in rows) / 1000.0
    if wl.name == "hocr_ingest":
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(out_dir, "metrics"),
                          partitioning=None)
        return sum(t.column("kernel_ms").to_pylist()) / 1000.0
    return 0.0
