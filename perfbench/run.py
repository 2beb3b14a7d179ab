"""Benchmark of the page-extraction engine: one batch workload per run.

    python3 perfbench/run.py --workload extract_mixed --seed 1 \
        --seconds 8 --trace 0

Run from the root of a checkout (the package ``archive_pdf_tools_spark``
is imported from there).  A run:

1. writes the workload's seeded input table under ``.bench_work/``;
2. sets up (``setup_s``): builds the compiled kernels into this run's
   fresh private cache while the JVM launches, starts a Spark session on
   ``local[nproc]``, registers the input (the page count is taken from
   the input table) and runs one warm-up repetition of the whole job;
3. repeats the whole batch job, each time into a fresh output location,
   until ``--seconds`` have passed (the timed phase); the time and CPU
   figures are those of the median repetition;
4. checks the outputs and prints the result as the last line of stdout.

With ``--trace 1`` the run also repeats the timed phase with layer spans
and Spark's event log, runs the single-process lane pass, and prints the
per-layer metrics instead (see ``tracing.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def _fail(msg: str) -> int:
    log(msg)
    return 2


def make_session(workload: str, cpus: int, work: str, event_dir=None):
    """The session settings of ``job.py``/``bench.py`` (AQE on, 64-row
    Arrow batches), with every scratch location inside ``work``."""
    from pyspark.sql import SparkSession

    b = (SparkSession.builder
         .master(f"local[{cpus}]")
         .appName(f"perfbench-{workload}")
         .config("spark.sql.shuffle.partitions", str(2 * cpus))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
         .config("spark.driver.memory", "2g")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
         .config("spark.local.dir", f"{work}/spark-local")
         .config("spark.sql.warehouse.dir", f"{work}/warehouse")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false"))
    else:
        b = b.config("spark.eventLog.enabled", "false")
    return b.getOrCreate()


def worker_tiers(spark, cpus: int) -> dict:
    """``kernels.native.status()`` as each Python worker reports it."""
    def probe(it):
        import pandas as pd
        from archive_pdf_tools_spark.kernels import native
        for _ in it:
            pass
        yield pd.DataFrame({"pid": [os.getpid()],
                            "status": [native.status()]})
    rows = (spark.range(0, 4 * cpus, 1, 4 * cpus)
            .mapInPandas(probe, "pid long, status string").collect())
    return {str(r.pid): r.status for r in rows}


def run_record(wl, cpus: int, tiers: dict) -> dict:
    """What a result needs to be compared: inputs, host and program."""
    import hashlib

    import numpy
    import pyspark

    import inputs
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"],
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    src = hashlib.sha256()              # the checkout may not be a git repo
    for base, _dirs, files in sorted(os.walk("archive_pdf_tools_spark")):
        for f in sorted(files):
            if f.endswith((".py", ".c")):
                with open(os.path.join(base, f), "rb") as fh:
                    src.update(fh.read())
    return {"workload": wl.name, "seed": wl.seed, "cpus": cpus,
            "input_digest": inputs.table_digest(wl.input_dir),
            "native_tier": tiers, "git_sha": sha,
            "source_digest": src.hexdigest()[:16],
            "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "openblas_core": openblas_core()}


def openblas_core() -> str:
    import ctypes
    import numpy  # noqa: F401  (loads the BLAS library)
    with open("/proc/self/maps") as fh:
        libs = {ln.split()[-1] for ln in fh if "openblas" in ln.lower()}
    for lib in libs:
        try:
            dll = ctypes.CDLL(lib)
        except OSError:
            continue
        for sym in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(dll, sym, None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                return fn().decode()
    return "unknown"


def timed_phase(spark, wl, df, pages: int, seconds: float, out_root: str,
                span_factory=None, cpus: int = 4):
    """Whole repetitions of the batch job until ``seconds`` have passed.
    -> dict with per-repetition wall and CPU seconds, the last output
    location and peak RSS."""
    import procs
    walls, cpu_s = [], []
    last = None
    steal0, total0 = procs.host_cpu_ticks()
    with procs.PeakRss() as rss:
        while sum(walls) < seconds:
            out = os.path.join(out_root, f"rep{len(walls)}")
            if last is not None:
                shutil.rmtree(last, ignore_errors=True)
            spark.catalog.clearCache()
            c0 = procs.tree_cpu_s()
            t0 = time.perf_counter()
            if span_factory is None:
                wl.run_once(spark, df, out)
            else:
                with span_factory.rep(len(walls)) as span:
                    wl.run_once(spark, df, out, span)
            walls.append(time.perf_counter() - t0)
            cpu_s.append(procs.tree_cpu_s() - c0)
            log(f"repetition {len(walls) - 1}: {walls[-1]:.2f}s")
            last = out
    steal1, total1 = procs.host_cpu_ticks()
    return {"walls": walls, "cpu_s": cpu_s, "reps": len(walls), "out": last,
            "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
            "pages": pages * len(walls),
            "pages_per_s": pages / statistics.median(walls),
            "rss_workers_mb": rss.workers_mb(cpus),
            "rss_jvm_mb": rss.jvm_kb / 1024.0}


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "archive_pdf_tools_spark")):
        return _fail("run from the root of a checkout: package "
                     "archive_pdf_tools_spark not found")
    sys.path.insert(0, root)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "native", "out", "events"):
        os.makedirs(os.path.join(work, d))
    # No JVM writes its perf-data file under /tmp (launcher and driver).
    os.environ.update(TMPDIR=os.path.join(work, "tmp"),
                      SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
                      SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                      SPARK_GRAFT_NATIVE_CACHE=os.path.join(work, "native"),
                      PYSPARK_PYTHON=sys.executable)
    os.environ.pop("SPARK_GRAFT_CKERN", None)
    try:
        return _run(args, WORKLOADS[args.workload](args.seed, work), cpus,
                    work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()          # the JVM exits when stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _run(args, wl, cpus: int, work: str) -> int:
    t_start = time.perf_counter()
    wl.make_inputs()
    log(f"inputs written in {time.perf_counter() - t_start:.2f}s")

    # Set-up: the compiled-kernel build into this run's fresh private
    # cache (a subprocess, overlapped with the JVM launch), the Spark
    # session, input registration and one warm-up repetition of the whole
    # job: the first repetition in a fresh session is slower (JIT, Python
    # worker start, kernel caches) and stays out of the timed phase.
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = None
    t0 = time.perf_counter()
    build = subprocess.Popen(
        [sys.executable, "-c",
         "from archive_pdf_tools_spark.kernels import native; "
         "raise SystemExit(native.status() != 'compiled kernels active')"])
    try:
        spark = make_session(wl.name, cpus, work, event_dir)
        if build.wait(timeout=600):
            return _fail("compiled kernels did not build")
        df, pages = wl.register(spark, wl.input_dir)
        warm = os.path.join(work, "out", "warm")
        wl.run_once(spark, df, warm)
        shutil.rmtree(warm, ignore_errors=True)
        setup_s = time.perf_counter() - t0
        log(f"set up in {setup_s:.2f}s")

        res = timed_phase(spark, wl, df, pages, args.seconds,
                          os.path.join(work, "out"), cpus=cpus)
        errors = wl.verify(df, res["out"])
        if pages != wl.n_pages():
            errors.insert(0, f"input table holds {pages} pages, "
                          f"{wl.n_pages()} were written")
        tiers = worker_tiers(spark, cpus)
        metrics = {
            "pages_per_s": (res["pages_per_s"], "1/s"),
            "core_ms_per_page": (
                1000.0 * statistics.median(res["cpu_s"]) / pages, "ms"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (res["rss_workers_mb"], "MB"),
            "out_bytes_per_page": (wl.out_bytes(res["out"]) / pages, "B"),
        }
        record = run_record(wl, cpus, tiers)
        record.update(attempted=res["pages"], failed=0, reps=res["reps"],
                      pages_per_rep=pages,
                      rep_walls_s=[round(w, 3) for w in res["walls"]],
                      host_steal_pct=round(res["steal_pct"], 1),
                      jvm_peak_rss_mb=round(res["rss_jvm_mb"], 1),
                      metrics={k: v for k, (v, _u) in metrics.items()})
        if args.trace:
            import tracing
            metrics = tracing.traced(spark, wl, df, pages, args.seconds,
                                     work, cpus, res, tiers)
    finally:
        if build.poll() is None:
            build.kill()
        build.wait()
        if spark is not None:
            stop_spark(spark)

    for e in errors[:20]:
        log(f"check failed: {e}")
    log("run record " + json.dumps(record))
    print(json.dumps({
        "correct": not errors, "attempted": res["pages"], "failed": 0,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
