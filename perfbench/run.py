"""Benchmark of the spark-graft engine: the medallion load and reload, and a
corpus/graph query mix (see README.md in this directory).

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 1 --trace 0

Run from the repository root. One process, one Spark session on
``local[SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use), one
closed-loop client: after set-up, which ends with the workload's untimed
warm-up passes, timed passes run back to back until ``--seconds`` have
elapsed and the workload's number of timed passes is reached; ``pass_s``
is their median. Every pass's outputs are checked, the warm-up's too.

Human-readable lines go to stdout first; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` the run makes one
traced pass and the metrics are the per-layer ones; every span is written
to ``.bench_build/perfbench/spans-<workload>-<seed>.json``.
The exit code is 1 if any check failed, 2 if the engine is missing.

Everything the benchmark writes stays under ``.bench_build/perfbench``.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("medallion", "corpus-graph")
# Driver heap for the benchmark's session. The engine's default is 8g,
# pre-touched at start; 2g holds both workloads (1g does too) and keeps
# set-up short and the footprint small on a shared 4-core host.
# SPARK_GRAFT_DRIVER_MEM overrides it.
DRIVER_MEM = "2g"
# The workload's own set-up (``prepare``) runs this many times after the
# session start and setup_s adds their median. A JVM start cannot be
# repeated within the run budget (about 7 s each on a 4-core host).
SETUP_REPEATS = 3


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "etl_pipeline_api_spark"))


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


def _session(work: str):
    from etl_pipeline_api_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the status store keeps every job and stage of a run for the trace
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # first job: scheduler and executor start
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _make_workload(name: str, spark, work: str, seed: int):
    import workloads as W

    if name == "medallion":
        return W.Medallion(spark, os.path.join(work, "medallion"), seed)
    return W.CorpusGraph(spark, BUILD, seed)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _engine_present():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(BUILD, f"work-{os.getpid()}")  # private: runs may overlap
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path.insert(0, ROOT)

    import layers
    from spans import Tracer

    t_setup = time.perf_counter()
    spark = _session(work)
    session_s = time.perf_counter() - t_setup
    try:
        wl = _make_workload(args.workload, spark, work, args.seed)
        prep = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        # Warm-up passes are set-up too; their outputs are checked like any pass's.
        t0 = time.perf_counter()
        warm = [wl.run_pass() for _ in range(wl.warm_up_passes)]
        setup_s = session_s + statistics.median(prep) + time.perf_counter() - t0

        if args.trace:
            # One traced pass; its tracing overhead is the time spent in
            # the tracing code itself (spans, job groups, counting files).
            tracer = Tracer(spark.sparkContext, run=f"{args.workload}-{args.seed}")
            with layers.instrumented(tracer):
                traced = wl.run_pass(tracer)
            traced.facts["cached_bytes_after"] = layers.cached_bytes(spark)
            results = [traced]
        else:
            results, deadline = [], time.perf_counter() + args.seconds
            while len(results) < wl.timed_passes or time.perf_counter() < deadline:
                results.append(wl.run_pass())

        attempted = sum(r.attempted for r in warm + results)
        failed = sum(r.failed for r in warm + results)
        for r in warm + results:
            for p in r.problems:
                print(f"CHECK FAILED [{args.workload}] {p}")

        if args.trace:
            tracer.collect()
            raw_bytes = wl.expected.raw_bytes if args.workload == "medallion" else 1
            metrics = layers.per_layer(tracer, traced.facts, raw_bytes)
            metrics["session.start_s"] = (session_s, "s")
            metrics["error_rate"] = (failed / attempted, "fraction")
            metrics["trace.pass_s"] = (traced.seconds, "s")
            metrics["trace.overhead_s"] = (tracer.cost, "s")
            tracer.dump(os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.json"))
            shown = metrics
        else:
            metrics = {"setup_s": (setup_s, "s"),
                       "pass_s": (statistics.median(r.seconds for r in results), "s")}
            shown = dict(metrics)
            for name, unit in (("load_rows_per_s", "records/s"), ("reload_s", "s"),
                               ("storage_bytes_per_raw_byte", "ratio")):
                values = [r.facts[name] for r in results if name in r.facts]
                if values:
                    shown[name] = (statistics.median(values), unit)
            shown["error_rate"] = (failed / attempted, "fraction")
            shown["passes"] = (len(results), "count")
        for name, (v, unit) in shown.items():
            print(f"{args.workload:>13}  {name:<40} {v:>16.6g} {unit}")
        out = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
