#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload graph_kernels --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run starts a local Spark session on
every core, sets up the workload's inputs from --seed, runs timed passes
until --seconds have passed (at least one; a pass always completes),
checks every pass's output, and prints:

- ``{"resolved_conf": ...}``: the session conf and environment the program
  ran under;
- ``{"summary": ...}``: every figure the run measured, for people;
- last, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
  metrics with --trace 0, the per-layer metrics with --trace 1.

--trace 1 turns on Spark's event log and tags each layer call's jobs (see
eventlog.py). Scratch files live under .perfbench_work/ in the checkout;
span files of traced runs are kept under .perfbench_work/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

SHUFFLE_PARTITIONS = 8

END_TO_END = {"setup_s": "s", "job_s": "s"}

LAYERS = ("parse", "edges", "pagerank", "extract", "export",
          "components", "labelprop", "triangles")
FIELD_UNITS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "task_cpu_s": "s", "cpu_util": "ratio", "driver_gap_s": "s", "gc_s": "s",
    "deser_s": "s", "shuffle_write_mb": "MB", "output_mb": "MB",
    "task_failures": "count",
}
EXTRA_LAYER_UNITS = {
    "session.start_s": "s",
    "transcripts.gen_s": "s",
    "edges.multi_edges": "count",
    "edges.distinct_ratio": "ratio",
    "pagerank.supersteps": "count",
    "pagerank.jobs_per_superstep": "count",
    "components.rounds": "count",
    "labelprop.rounds": "count",
    "pagerank.roofline_ratio": "ratio",
    "components.roofline_ratio": "ratio",
    "labelprop.roofline_ratio": "ratio",
    "triangles.roofline_ratio": "ratio",
    "superstep.ckpt_mb": "MB",
    "superstep.ckpt_files": "count",
    "export.files": "count",
    "trace.job_s": "s",
    "jvm.peak_rss_mb": "MB",
}
# environment variables the program reads to change what it runs
PROGRAM_ENV_PREFIX = "DEEPRANK_"


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in FIELD_UNITS.items()}
    units.update(EXTRA_LAYER_UNITS)
    return units


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(run_dir: Path) -> list[str]:
    """Clear every variable that changes the program's plan, and keep all
    scratch space (Spark's, Python's, the JVM's) inside the run directory.
    Returns the names cleared."""
    cleared = sorted(k for k in os.environ if k.startswith(PROGRAM_ENV_PREFIX))
    for k in cleared:
        del os.environ[k]
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # the in-memory kernels make their lineage-reset dirs under /dev/shm;
    # keep those inside the run directory too
    mkdtemp = tempfile.mkdtemp

    def mkdtemp_in_run(suffix=None, prefix=None, dir=None):
        return mkdtemp(suffix, prefix, str(tmp))

    tempfile.mkdtemp = mkdtemp_in_run
    return cleared


def start_session(run_dir: Path, trace: bool):
    from deeprank_spark.session import get_spark

    conf = {
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf["spark.eventLog.dir"] = str(run_dir / "eventlog")
        # one plain JSON-lines file: Spark 4 defaults to zstd-compressed,
        # rolled event-log directories
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def resolved_conf(spark, cleared: list[str]) -> dict:
    keys = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled", "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.execution.arrow.pyspark.enabled", "spark.eventLog.enabled",
            "spark.eventLog.compress")
    conf = {k: spark.conf.get(k, None) for k in keys}
    conf["cleared_env"] = cleared
    conf["program_env"] = {k: v for k, v in os.environ.items() if k.startswith(PROGRAM_ENV_PREFIX)}
    return conf


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def layer_report(ctx, tracer, run_dir: Path, job_s: list[float]) -> dict:
    import eventlog

    stats = eventlog.aggregate(
        eventlog.read_events(eventlog.find_event_log(str(run_dir / "eventlog")))
    )
    out = {}
    for layer in LAYERS:
        out.update(eventlog.layer_metrics(layer, stats.get(layer), tracer.windows(layer), cores()))
    out.update(ctx.layer)
    steps = out.get("pagerank.supersteps", 0)
    out["pagerank.jobs_per_superstep"] = out["pagerank.jobs"] / steps if steps else 0.0
    out["trace.job_s"] = job_s[0]
    units = per_layer_units()
    return {k: out.get(k, 0) for k in units}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "deeprank_spark" / "__init__.py").is_file():
        print(f"no deeprank_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.dont_write_bytecode = True  # leave the benchmark's directory as checked out
    import eventlog
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_dir = WORK / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cleared = pin_environment(run_dir)

    spark = None
    try:
        t0 = time.time()
        spark = start_session(run_dir, trace)
        session_s = time.time() - t0
        conf = resolved_conf(spark, cleared)
        tracer = eventlog.Tracer(args.workload, spark.sparkContext) if trace else None
        ctx = workloads.Context(spark, args.seed, str(run_dir), tracer)
        ctx.layer["session.start_s"] = session_s
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.time() - t0

        results, job_s = [], []
        m0 = time.time()
        while not results or time.time() - m0 < args.seconds:
            p0 = time.time()
            with ctx.span("pass"):
                results.append(wl.run_pass(len(results)))
            job_s.append(time.time() - p0)
        peak_rss_mb = jvm_peak_rss_mb(spark)

        c0 = time.time()
        attempted, failures = 0, []
        for res in results:
            for unit, msgs in wl.check(res).items():
                attempted += 1
                if msgs:
                    failures.append({unit: msgs})
        check_s = time.time() - c0
        extra = wl.summary()
        if trace:
            wl.trace_extras(results[0])
    finally:
        if spark is not None:
            stop_session(spark)
    if trace:
        ctx.layer["jvm.peak_rss_mb"] = peak_rss_mb
        layers = layer_report(ctx, tracer, run_dir, job_s)
        traces = WORK / "traces"
        traces.mkdir(exist_ok=True)
        tracer.dump(str(traces / f"{args.workload}-seed{args.seed}.spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": len(job_s),
        "job_s_samples": job_s,
        "setup_s": setup_s,
        "session_start_s": session_s,
        "peak_rss_mb": peak_rss_mb,
        "check_s": check_s,
        "failed_frac": len(failures) / attempted,
        "failures": failures,
        **extra,
    }
    print(json.dumps({"resolved_conf": conf}))
    print(json.dumps({"summary": summary}))
    if trace:
        metrics = {k: {"value": v, "unit": u} for k, v in layers.items()
                   for u in [per_layer_units()[k]]}
    else:
        values = {"setup_s": setup_s, "job_s": statistics.median(job_s)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
