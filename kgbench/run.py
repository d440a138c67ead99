#!/usr/bin/env python3
"""Benchmark of the rex_spark KG job on local[4], one workload per call.

    python3 kgbench/run.py --workload kg_warc --seed 1 --seconds 15 --trace 0

Workloads (see kgbench/workloads.py and kgbench/NOTES.md):

  kg_warc          run_pipeline from a gzip WARC dump with one large file
                   and text/lang null, with a fresh parquet StageStore
                   (kg_job --pages-warc --stage-root)
  canon_openvocab  the graph plane alone over an open surface vocabulary

One run: start a Spark session, generate the inputs from the seed,
compute the reference outputs in process, run the job once to warm up,
then run it again until ``--seconds`` have passed (three times at
least; once untraced and once traced with ``--trace 1``).
Every job run is checked against the reference; a run that raises or
differs is failed, and so is a traced run whose named layers leave more
than ``1 - SELF_TIME_COVERAGE`` of its wall unattributed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` writes a
local Spark event log, alternates untraced runs with traced ones (spans
around each layer call, Spark jobs grouped by span) and prints the
per-layer metrics.  Human-readable lines come first; the last line of
standard output is one JSON object.

Everything the run writes goes under ``.kgbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"
# named layers must cover at least this share of the traced job's wall
SELF_TIME_COVERAGE = 0.90
# untraced runs after the warm-up, at least: the JIT keeps speeding the
# job up over its first warm runs, so a fixed count spreads less than a
# count set by the clock alone
MIN_TIMED_RUNS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def driver_memory() -> str:
    """A quarter of physical RAM, in whole GiB (at least 1).

    Local mode runs driver and executor in one JVM; rex_spark's session
    default of 24g assumes a much larger host than a 15 GiB one."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                kib = int(line.split()[1])
                return f"{max(1, kib // (4 * 1024 * 1024))}g"
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def prepare_env(work: str) -> None:
    """Point every process the run starts at the checkout and at
    ``work`` for scratch files; must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT_DIR + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: the JVM would write it under /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT_DIR)


def start_session(work: str, event_log: str | None):
    from rex_spark.session import get_session

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        os.makedirs(event_log)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_session(master=MASTER, app_name="kgbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process the
    session started has exited."""
    from pyspark import SparkContext

    from kgbench.procstat import descendants

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


@dataclass
class Run:
    ok: bool
    traced: bool
    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_rss_mb: float = 0.0
    steal_s: float = 0.0
    detail: dict = field(default_factory=dict)
    tracer: object = None


def run_job(spark, wl, out_dir: str, tracer=None, rss=None) -> Run:
    """One job run, timed from the call to its outputs being final,
    then checked (outside the timed region)."""
    from kgbench.procstat import host_steal_s, tree_cpu_s

    spark.catalog.clearCache()
    pid = os.getpid()
    try:
        cpu0, steal0 = tree_cpu_s(pid), host_steal_s()
        if rss is not None:
            rss.reset()
        t0 = time.perf_counter()
        outputs = wl.job(spark, out_dir, tracer)
        wall = time.perf_counter() - t0
        cpu, steal = tree_cpu_s(pid) - cpu0, host_steal_s() - steal0
        peak = rss.peak_mb() if rss is not None else 0.0
        check = wl.check(outputs)
    except Exception:  # a failed run is counted, and the benchmark goes on
        traceback.print_exc()
        return Run(ok=False, traced=tracer is not None, tracer=tracer)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    if not check.ok:
        print(f"CHECK FAILED: {check.detail}", file=sys.stderr)
    return Run(check.ok, tracer is not None, wall, cpu, peak, steal, check.detail, tracer)


def end_to_end(wl, setup_s: float, runs: list[Run]) -> dict:
    timed = [r for r in runs if r.ok and not r.traced]
    wall = statistics.median(r.wall_s for r in timed)
    return {
        "setup_s": (setup_s, "s"),
        "job_wall_s": (wall, "s"),
        "triples_per_s": (wl.n_triples / wall, "1/s"),
        "surfaces_per_s": (wl.n_surfaces / wall, "1/s"),
        "cpu_s": (statistics.median(r.cpu_s for r in timed), "s"),
        "peak_rss_mb": (statistics.median(r.peak_rss_mb for r in timed), "MB"),
    }


def bench(args, work: str) -> dict:
    from kgbench.layers import coverage_failures, per_layer
    from kgbench.procstat import RssSampler
    from kgbench.tracing import Tracer, parse_event_log
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    out_dir = os.path.join(work, "out")

    t0 = time.perf_counter()
    spark = start_session(work, event_log)
    stopped = False
    try:
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](work, args.seed)
        wl.setup(spark)
        t0 = time.perf_counter()
        runs = [run_job(spark, wl, out_dir)]
        warmup_s = time.perf_counter() - t0
        timings = {"session_s": session_s, **wl.timings, "warmup_s": warmup_s}
        setup_s = sum(timings.values())

        with RssSampler(os.getpid()) as rss:
            start = time.perf_counter()
            while True:
                k = len(runs)
                traced = bool(args.trace) and k % 2 == 0
                tracer = Tracer(spark.sparkContext, f"kgb{k}") if traced else None
                runs.append(run_job(spark, wl, out_dir, tracer, rss))
                # traced: one untraced and one traced run at least
                kinds = [r.traced for r in runs[1:]]
                enough = (
                    len(set(kinds)) == 2 if args.trace else len(kinds) >= MIN_TIMED_RUNS
                )
                if enough and time.perf_counter() - start >= args.seconds:
                    break
        stats = None
        if args.trace:
            stop_session(spark)
            stopped = True
            (log,) = os.listdir(event_log)
            with open(os.path.join(event_log, log), encoding="utf-8") as fh:
                stats = parse_event_log(fh)
    finally:
        if not stopped:
            stop_session(spark)

    # a traced run whose layers leave too much of its wall unattributed
    # fails, on top of the runs that raised or gave wrong output
    failed = sum(not r.ok for r in runs) + coverage_failures(runs[1:], SELF_TIME_COVERAGE)
    print(f"workload {args.workload}  seed {args.seed}  master {MASTER}  "
          f"driver memory {os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    print("setup: " + "  ".join(f"{k} {v:.3f}" for k, v in timings.items()))
    for i, r in enumerate(runs):
        kind = "warmup" if i == 0 else ("traced" if r.traced else "timed")
        print(f"run {i} {kind:6s} ok={r.ok} wall_s={r.wall_s:.3f} cpu_s={r.cpu_s:.2f} "
              f"peak_rss_mb={r.peak_rss_mb:.0f} host_steal_s={r.steal_s:.2f} "
              f"{json.dumps(r.detail)}")
    print(f"failed_frac {failed / len(runs):.4f} ({failed} of {len(runs)} job runs)")
    if not any(r.ok and not r.traced for r in runs[1:]):
        raise SystemExit("no successful timed run")

    if args.trace:
        metrics, spans = per_layer(runs[1:], stats)
        for report in spans:
            print("spans " + json.dumps(report))
    else:
        metrics = end_to_end(wl, setup_s, runs[1:])
    for name, (value, unit) in metrics.items():
        print(f"metric {name} {value:.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> None:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    work = os.path.join(ROOT_DIR, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        prepare_env(work)
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(result))


if __name__ == "__main__":
    main()
