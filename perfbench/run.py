#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: the daily fraud ETL and corpus
admission, end to end, with a traced per-layer run.

Run from the repository root:

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

import layers
import probe
from admit import CorpusAdmit
from etl import DailyEtl
from spans import Tracer

ROOT = os.getcwd()
PACKAGE = "etl_fraud_detection_spark"
DRIVER_MEM = "4g"
WORKLOADS = {"daily_etl": DailyEtl, "corpus_admit": CorpusAdmit}


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str, trace: bool) -> dict:
    """Run hygiene: every scratch path of this process lives under
    ``work`` (fresh per process, removed at exit), so fixture caches,
    stream checkpoints, spill and derby.log cannot leak between runs."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    # The heap is fixed at its maximum, as Spark sizes executor heaps:
    # a heap that grows and shrinks with GC timing made peak RSS vary by
    # a fifth between runs and spent more CPU in GC.
    java_opts = [f"-Xms{DRIVER_MEM}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
                 f"-Dderby.system.home={work}",
                 f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"]
    conf = {"spark.driver.extraJavaOptions": " ".join(java_opts),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + events})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v!r}" if " " in v else f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return {"cpus": int(cpus), "events": events}


def _environment(spark, seed: int, cpus: int) -> dict:
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):  # benchmark checkouts may not be git trees
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "seed": seed, "cores": cpus, "driver_memory": DRIVER_MEM,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(), "git_commit": commit,
    }


def timed_pass(wl, seconds: float, jvm: int, units: int | None = None, tracer=None) -> dict:
    """Run whole units, at least one, until ``seconds`` of timed work have
    accumulated (or exactly ``units``).
    Each unit's inputs are prepared, and its outputs checked, outside the
    timed region; CPU, peak RSS and bytes written are taken around the
    unit only. With a tracer, spans are recorded inside the units only."""
    wh = wl.start_pass()
    times, results, errors, attempted, failed = [], [], [], 0, 0
    cpu = rows = src_bytes = written = files = peak = steal = 0.0
    kinds: dict[str, float] = {}
    while (len(times) < units) if units else (not times or sum(times) < seconds):
        n_rows, n_bytes = wl.prepare()
        before = probe.files_under(wh)
        wl.spark.sparkContext._jvm.System.gc()  # no heap debt carried into the unit
        probe.reset_peak_rss(jvm)
        c0, s0, k0 = probe.tree_cpu_s(jvm), probe.steal_s(), probe.jvm_thread_cpu_s(jvm)
        if tracer:
            tracer.enabled = True
        attempted += 1
        t0 = time.perf_counter()
        try:
            result = wl.run()
        except Exception as e:  # a unit that raises counts as failed; stop the pass
            failed += 1
            errors.append(f"unit {attempted} raised {type(e).__name__}: {e}"[:2000])
            break
        finally:
            times.append(time.perf_counter() - t0)
            if tracer:
                tracer.enabled = False
        cpu += probe.tree_cpu_s(jvm) - c0
        steal += probe.steal_s() - s0
        for k, v in probe.jvm_thread_cpu_s(jvm).items():
            kinds[k] = kinds.get(k, 0.0) + v - k0[k]
        peak = max(peak, probe.peak_rss_mb(jvm))
        new = {f: n for f, n in probe.files_under(wh).items() if f not in before}
        written += sum(new.values())
        files += len(new)
        rows += n_rows
        src_bytes += n_bytes
        results.append(result)
        errs = wl.check(result)
        if errs:
            failed += 1
            errors.extend(f"unit {attempted}: {e}" for e in errs)
    return {
        "units": times, "results": results, "attempted": attempted, "failed": failed,
        "errors": errors,
        "cpu_s": cpu, "peak_rss_mb": peak, "rows": rows, "source_bytes": src_bytes,
        "bytes_written": written, "files_written": files, "host_steal_s": steal,
        "jvm_cpu_s": kinds,
        "space_bytes": sum(probe.files_under(wh).values()),
        "source_bytes_total": wl.source_bytes_total,
    }


def _metric(v, unit):
    return {"value": v, "unit": unit}


def end_to_end(setup_s: float, p: dict) -> dict:
    wall = sum(p["units"])
    return {
        "setup_s": _metric(setup_s, "s"),
        "wall_s": _metric(wall, "s"),
        "unit_p50_s": _metric(statistics.median(p["units"]), "s"),
        "rows_per_s": _metric(layers.ratio(p["rows"], wall), "rows/s"),
        "write_amp": _metric(layers.ratio(p["bytes_written"], p["source_bytes"]), "ratio"),
        "space_amp": _metric(layers.ratio(p["space_bytes"], p["source_bytes_total"]), "ratio"),
        "cpu_s": _metric(p["cpu_s"], "s"),
        "peak_rss_mb": _metric(p["peak_rss_mb"], "MB"),
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit, also when the
    gateway is already broken (a terminated run)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin pipe closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        env = _prepare_env(work, bool(args.trace))
        tracer = None
        if args.trace:
            tracer = Tracer()
            tracer.install(args.workload)
        t0 = time.perf_counter()
        from etl_fraud_detection_spark import session

        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        if tracer:
            tracer.sc = spark.sparkContext
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t0
        jvm = probe.jvm_pid(spark)
        report = {"workload": args.workload, "unit": wl.unit,
                  "environment": _environment(spark, args.seed, env["cpus"]),
                  "session_s": session_s, "canary_s": probe.canary_s(spark)}
        if tracer:
            # The traced pass times the same unit as an untraced run (the
            # first after set-up), then an untraced pass repeats it from the
            # same set-up state. That pass runs on a warmer JVM, so the
            # overhead (traced minus untraced) is an upper bound.
            tracer.enabled = False
            tracer.phase = "timed"
            p = timed_pass(wl, args.seconds, jvm, tracer=tracer)
            plain = timed_pass(wl, args.seconds, jvm, units=len(p["units"]))
            _stop(spark)
            spark = None
            metrics, spans = layers.per_layer(args.workload, tracer, env["events"], plain, p,
                                              env["cpus"])
            report["spans"] = spans
            passes = (p, plain)
            p = {**p, "attempted": sum(x["attempted"] for x in passes),
                 "failed": sum(x["failed"] for x in passes),
                 "errors": [e for x in passes for e in x["errors"]]}
            os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
            with open(os.path.join(out_dir, "traces",
                                   f"{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"spans": tracer.spans, "report": report}, fh)
        else:
            p = timed_pass(wl, args.seconds, jvm)
            metrics = end_to_end(setup_s, p)
        report.update(units=p["units"], host_steal_s=p["host_steal_s"],
                      jvm_cpu_s=p["jvm_cpu_s"], errors=p["errors"])
        print(json.dumps(report), file=sys.stderr)
        print(json.dumps({"correct": p["failed"] == 0, "attempted": p["attempted"],
                          "failed": p["failed"], "metrics": metrics}))
        return 0
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
