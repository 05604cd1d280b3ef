"""Benchmark of the spatial enrichment path: one workload, one seed, one run.

    python3 perfbench/run.py --workload enrich_flagship --seed 1 --seconds 20 --trace 0

The run generates the workload's inputs and oracle from ``--seed`` (cached
per seed under ``.perfbench_cache/``), starts a ``local[nproc]`` session
through ``session.get_spark``, and runs the job as a closed loop: one cold
repetition, then warm repetitions until ``--seconds`` have passed. Every
repetition's output is checked against the oracle outside the timed
window; one that raises or disagrees counts as failed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: with the Spark event log on, it runs the job
once to warm up, times each forced prefix of the pipeline under its own
job description, and times the job; then it restarts the session without
the event log and times the job again (the difference is the tracing
overhead), and folds the event log by job description.

Human-readable lines come first; the last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pathlib
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"
WORK_ROOT = ROOT / ".perfbench_work"

MIN_WARM = 1  # warm repetitions run even when --seconds is already spent
TRACE_REPS = 1  # repetitions per traced prefix
CALIB_ROWS = 1_000_000

# The contract's end-to-end metrics: the ones steady enough from run to run
# on a shared four-core host to carry a bound. The cold first job is what
# one spark-submit of the job pays, in time and in CPU seconds of the
# process tree. The others are printed and reported, not bounded. A run
# affords one or two warm repetitions, still on the JVM's warm-up slope, so
# their time and CPU seconds swing by a fifth between runs; the ratios to the
# calibration kernel swing more (the short kernel tracks the host's speed
# worse than the job does); and out_bytes_per_row only exists where a job
# writes.
END_TO_END = {"setup_s": "s", "first_job_s": "s", "first_job_cpu_s": "s", "peak_rss_mb": "MB"}
RAW = {"job_s": "s", "cpu_s": "s", "job_per_calib": "ratio", "cpu_per_calib": "ratio",
       "pages_per_s": "1/s", "calib_s": "s", "out_bytes_per_row": "B"}
# layer → (name of its self-time metric, the Spark stage metrics kept for
# it: those that are non-zero on at least one of the three workloads)
_BASE = ("stages", "tasks", "executor_cpu_s", "gc_s", "task_skew")
_SHUFFLE = ("shuffle_write_mb", "shuffle_read_mb")
LAYERS = {
    "sources.scan": ("sources.scan_s", _BASE),
    "geoparse": ("geoparse.s", ("executor_cpu_s", "gc_s", "task_skew")),
    "cells": ("cells.s", ("executor_cpu_s", "gc_s", "task_skew")),
    "spatial_join.prep": ("spatial_join.prep_s", _BASE + ("python_rows",)),
    "spatial_join": ("spatial_join.s", ("executor_cpu_s", "gc_s", "task_skew")),
    "pipeline.assign": ("pipeline.assign_s", _BASE),
    "pipeline.rollup": ("pipeline.rollup_s", _BASE + _SHUFFLE),
    "census.pivot": ("census.pivot_s", _BASE + _SHUFFLE),
    "knn": ("knn.s", _BASE + _SHUFFLE + ("python_rows",)),
    "lineage.stage": ("lineage.stage_s", _BASE + _SHUFFLE + ("python_rows",)),
    "lineage.verify": ("lineage.verify_s", _BASE + _SHUFFLE),
}
COUNTERS = {
    "geoparse.located_ratio": "ratio", "spatial_join.cover_rows": "count",
    "spatial_join.candidates": "count", "spatial_join.hits": "count",
    "spatial_join.hit_ratio": "ratio", "spatial_join.edges_per_candidate": "count",
    "pipeline.per_url_rows": "count", "knn.ring_rows": "count",
    "knn.candidates_per_point": "count", "knn.fallback_ratio": "ratio",
    "lineage.buckets": "count", "lineage.bytes_written": "B", "lineage.files_written": "count",
    "lineage.out_bytes_per_row": "B",
    "session.start_s": "s", "trace.job_s": "s", "trace.untraced_job_s": "s",
    "trace.overhead_pct": "%",
}
STAGE_UNITS = {
    "stages": "count", "tasks": "count", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "task_skew": "ratio",
    "python_rows": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {m: "s" for m, _ in LAYERS.values()}
    units.update(COUNTERS)
    for layer, (_, fields) in LAYERS.items():
        units.update({f"{layer}.{f}": STAGE_UNITS[f] for f in fields})
    return units


# ---------------------------------------------------------------------------
# host and process tree
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time
    (10 ms resolution): what a job pays before its first line runs too."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_pids() -> list[int]:
    """This process and all its descendants (the JVM and Python workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of each live process in the tree."""
    out = {}
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            out[f"{p}:{status['Name'].strip()}"] = int(status["VmHWM"].split()[0]) / 1024.0
    return out


def descendants() -> list[int]:
    return [p for p in _tree_pids() if p != os.getpid()]


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def session_conf(work: pathlib.Path, trace: bool) -> dict[str, str]:
    """Everything a run writes stays under ``work``. The split size is
    above any generated file's size, so a scan has one task per file."""
    for d in ("local", "tmp", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.driver.memory": "1536m",
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            # Spark 4 writes zstd by default, which nothing here can read
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
        })
    return conf


def start(work: pathlib.Path, trace: bool):
    from socialmapper_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]",
                      extra_conf=session_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)


def host_snapshot(spark, calib: list[float]) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    keep = {k: v for k, v in conf.items()
            if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory",
                             "spark.default.parallelism", "spark.eventLog.enabled"))}
    return {
        "nproc": nproc(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "platform": platform.platform(),
        "conf": keep,
        "calib_s": calib,
    }


# ---------------------------------------------------------------------------
# repetitions
# ---------------------------------------------------------------------------

def settle(spark) -> None:
    """Collect garbage in the driver and the JVM before a timed call, so
    no call pays for the previous one's garbage."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class Loop:
    """Closed loop of checked repetitions of one workload's job."""

    def __init__(self, wl, ctx, expected):
        self.wl, self.ctx, self.expected = wl, ctx, expected
        self.attempted = self.failed = 0
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.out: list[tuple[int, int]] = []  # (output rows, bytes written)
        self.errors: list[str] = []

    def rep(self) -> float | None:
        """One repetition: caches dropped and outputs removed before it,
        output checked after it; returns its time, or None if it raised."""
        spark = self.ctx.spark
        spark.catalog.clearCache()
        self.wl.cleanup(self.ctx)
        settle(spark)
        self.attempted += 1
        try:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            result = self.wl.job(self.ctx)
            dt, dc = time.perf_counter() - t0, tree_cpu_s() - c0
            ok, rows, written = self.wl.check(self.ctx, result, self.expected)
        except Exception as e:  # a repetition that raises counts as failed
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:300])
            return None
        finally:
            self.wl.cleanup(self.ctx)
            spark.catalog.clearCache()
        if not ok:
            self.failed += 1
            self.errors.append("output disagrees with the oracle")
        self.times.append(dt)
        self.cpu.append(dc)
        self.out.append((rows, written))
        return dt


def steady_start(times: list[float]) -> int:
    """Index of the first warm repetition counted: leading repetitions are
    discarded while each is >10% slower than the median of those after it."""
    k = 0
    while k < len(times) - MIN_WARM and times[k] > 1.10 * statistics.median(times[k + 1:]):
        k += 1
    return k


def calibrate(spark, kernel_df) -> float:
    """A JVM-only kernel (md5 + xxhash64 fold over spark.range) that runs
    no package code; a time divided by it cancels host-speed drift."""
    from pyspark.sql import functions as F

    settle(spark)
    t0 = time.perf_counter()
    kernel_df.select(F.avg(F.xxhash64(F.md5(F.col("id").cast("string"))))).collect()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# the two kinds of run
# ---------------------------------------------------------------------------

def end_to_end(wl, data, meta, work, seconds: float, gen_s: float) -> tuple[dict, dict, Loop]:
    from workloads import register

    # one cold set-up, counted from process start: interpreter, imports,
    # JVM launch, session and input registration; input generation is the
    # benchmark's own work and is left out
    spark = start(work, trace=False)
    ctx = register(spark, data, work, meta)
    setup_s = process_age_s() - gen_s
    expected = wl.expected(ctx)
    kernel_df = spark.range(0, CALIB_ROWS, 1, numPartitions=4 * nproc())

    loop = Loop(wl, ctx, expected)
    first = loop.rep()
    warm: list[float] = []
    warm_cpu: list[float] = []
    warm_out: list[tuple[int, int]] = []
    # the kernel runs after every repetition; its first run, right after
    # the cold one, JIT-compiles it and is not a sample
    calibrate(spark, kernel_df)
    calib: list[float] = []
    t_start = time.perf_counter()  # --seconds is the span of warm repetitions
    while time.perf_counter() - t_start < seconds or len(warm) < MIN_WARM:
        n_before = len(loop.times)
        dt = loop.rep()
        calib.append(calibrate(spark, kernel_df))
        if dt is not None:
            warm.append(dt)
            warm_cpu.append(loop.cpu[n_before])
            warm_out.append(loop.out[n_before])
        if loop.attempted > 2 * MIN_WARM and not warm:
            break  # every repetition fails; stop early
    host = host_snapshot(spark, calib)
    peak = tree_peak_rss_mb()
    shutdown(spark)
    if not warm:
        raise RuntimeError("no warm repetition completed: " + "; ".join(loop.errors[:3]))

    k = steady_start(warm)
    kept = warm[k:]
    job_s = statistics.median(kept)
    rows, written = warm_out[-1]
    # a cold repetition that raised has no time; its failure is counted
    first_s, first_cpu = (first, loop.cpu[0]) if first is not None else (max(warm), max(warm_cpu))
    cpu_s = statistics.median(warm_cpu[k:])
    calib_s = statistics.median(calib)
    metrics = {
        "setup_s": setup_s,
        "job_per_calib": job_s / calib_s,
        "cpu_per_calib": cpu_s / calib_s,
        "peak_rss_mb": sum(peak.values()),
        "first_job_s": first_s,
        "first_job_cpu_s": first_cpu,
        "job_s": job_s,
        "pages_per_s": meta["pages"] / job_s,
        "cpu_s": cpu_s,
        "calib_s": calib_s,
    }
    if written:
        metrics["out_bytes_per_row"] = written / max(rows, 1)
    n = len(kept)
    samples = {"setup_s": 1, "first_job_s": 1, "first_job_cpu_s": 1, "job_per_calib": n,
               "cpu_per_calib": n, "peak_rss_mb": 1, "out_bytes_per_row": 1,
               "job_s": n, "pages_per_s": n, "cpu_s": n, "calib_s": len(calib)}
    report = {
        "host": host, "warm_s": warm, "warmup_discarded": k,
        "samples": samples, "peak_rss_by_process_mb": peak,
        "job_s_min": min(kept), "job_s_max": max(kept), "output_rows": rows,
        "errors": loop.errors[:5],
    }
    return metrics, report, loop


def traced(wl, data, meta, work, seconds: float, gen_s: float) -> tuple[dict, dict, Loop]:
    from eventlog import read_event_log
    from workloads import register

    # traced session: a cold job to warm up, the prefixes, a traced job
    t0 = time.perf_counter()
    spark = start(work, trace=True)
    start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    ctx = register(spark, data, work, meta)
    loop = Loop(wl, ctx, wl.expected(ctx))
    sc.setJobDescription("warmup")
    loop.rep()
    prefix: dict[str, float] = {}
    counters: dict[str, float] = {}
    layers = wl.layers(ctx)
    for layer in layers:
        ts = []
        for _ in range(TRACE_REPS):
            spark.catalog.clearCache()
            if layer.before:
                layer.before()
            settle(spark)
            sc.setJobDescription(layer.name)
            t0 = time.perf_counter()
            layer.run()
            ts.append(time.perf_counter() - t0)
            sc.setJobDescription("untimed")
            if layer.after:
                counters.update(layer.after() or {})
        prefix[layer.name] = statistics.median(ts)
    sc.setJobDescription("counters")
    counters["geoparse.located_ratio"] = geoparse_located(ctx) / meta["pages"]
    counters.update(wl.counters(ctx))
    sc.setJobDescription("job")
    loop.rep()
    spark.stop()
    stats = read_event_log(work / "eventlog")
    counters.update(wl.log_counters(ctx, {**stats, "reps": TRACE_REPS}))

    # untraced reference for the overhead figure, in the same (JIT-warm)
    # JVM, which spark.stop() keeps: one job to start the new session's
    # Python workers, then the reference job
    spark = start(work, trace=False)
    ctx = register(spark, data, work, meta)
    plain = Loop(wl, ctx, loop.expected)
    plain.rep()
    plain.rep()
    shutdown(spark)
    for a in ("attempted", "failed"):
        setattr(loop, a, getattr(loop, a) + getattr(plain, a))
    loop.errors += plain.errors

    job_s = loop.times[-1] if len(loop.times) > 1 else float("nan")
    untraced = plain.times[-1] if len(plain.times) > 1 else float("nan")
    metrics = {name: 0.0 for name in per_layer_units()}
    metrics.update(counters)
    metrics.update({
        "session.start_s": start_s,
        "trace.job_s": job_s,
        "trace.untraced_job_s": untraced,
        "trace.overhead_pct": 100.0 * (job_s / untraced - 1.0),
    })
    table = []
    for layer in layers:
        own = prefix[layer.name] - sum(prefix[b] for b in layer.bases)
        metrics[LAYERS[layer.name][0]] = own
        s = stats.get(layer.name)
        base_stats = [stats.get(b) for b in layer.bases]
        row = {"layer": layer.name, "self_s": own, "share": own / job_s}
        if s is not None:
            mine = s.per_rep(TRACE_REPS)
            for b in base_stats:
                if b is not None:
                    for f, v in b.per_rep(TRACE_REPS).items():
                        mine[f] -= v
            mine["task_skew"] = s.task_skew()
            for f in LAYERS[layer.name][1]:
                metrics[f"{layer.name}.{f}"] = mine[f]
            row.update(mine)
        table.append(row)
    report = {"layers": table, "prefix_s": prefix, "job_s": loop.times,
              "untraced_job_s": plain.times, "errors": loop.errors[:5]}
    return metrics, report, loop


def geoparse_located(ctx) -> int:
    from pyspark.sql import functions as F
    from socialmapper_spark.pipeline import geoparse_pages

    return geoparse_pages(ctx.frames["pages"]).filter(F.col("lat").isNotNull()).count()


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def measure(workload: str, seed: int, seconds: float, trace: bool,
            cache: pathlib.Path = CACHE) -> tuple[dict, dict]:
    """Run one workload; returns (result, report). The result is the
    contract's JSON object, the report everything else worth keeping."""
    # the launcher JVM that spark-submit runs first would leave its
    # performance-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers are forked by the JVM with the driver's environment:
    # put the package on their path whatever the working directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)
    import gen
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]
    t0 = time.perf_counter()
    data, meta = gen.ensure(workload, seed, cache)
    gen_s = time.perf_counter() - t0

    work = WORK_ROOT / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    saved = os.environ.get("TMPDIR"), tempfile.tempdir
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    try:
        run = traced if trace else end_to_end
        metrics, report, loop = run(wl, data, meta, work, seconds, gen_s)
    finally:
        if saved[0] is None:
            os.environ.pop("TMPDIR", None)
        else:
            os.environ["TMPDIR"] = saved[0]
        tempfile.tempdir = saved[1]
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass
    units = per_layer_units() if trace else END_TO_END
    report["raw"] = {k: {"value": metrics[k], "unit": u} for k, u in RAW.items() if k in metrics}
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    report.update({"workload": workload, "seed": seed, "trace": int(trace), "gen_s": gen_s,
                   "inputs": meta, "error_rate": loop.failed / loop.attempted})
    return result, report


def print_result(result: dict, report: dict) -> None:
    samples = report.get("samples", {})
    for name, m in {**result["metrics"], **report.get("raw", {})}.items():
        n = samples.get(name)
        print(f"{name:40s} {m['value']:14.6g} {m['unit']:6s}" + (f" n={n}" if n else ""))
    print(f"{'error_rate':40s} {report['error_rate']:14.6g} ratio  "
          f"n={result['attempted']}")
    for row in report.get("layers", []):
        extra = " ".join(f"{k}={v:.3g}" for k, v in row.items() if k not in ("layer", "self_s", "share"))
        print(f"layer {row['layer']:18s} self {row['self_s']:8.3f} s  share {100 * row['share']:6.1f}%  {extra}")
    print("report: " + json.dumps(report, sort_keys=True, default=str))
    print(json.dumps(result))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["enrich_flagship", "assign_lineage", "nearest_poi"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    result, report = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    print_result(result, report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
