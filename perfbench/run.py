"""Multi-batch maintenance benchmark for ivm_extension_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload agg_trickle --seed 1 --seconds 20 --trace 0

It builds a Spark session sized to this host, generates the workload's
tables from the seed, drives the engine for ``--seconds`` of measured
time, checks every maintained view against a recompute, prints a table
of every metric with its unit and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md
in this directory).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

E2E_UNITS = {
    "setup_s": "s",
    "batch_p50_s": "s",
    "batch_p90_s": "s",
    "delta_rows_per_s": "rows/s",
    "read_p50_s": "s",
    "refresh_p50_s": "s",
    "fresh_p50_s": "s",
    "fresh_p90_s": "s",
    "mem_peak_mb": "MB",
}

LAYER_UNITS = {
    "rewrite.upsert.s": "s",
    "rewrite.upsert.rt": "count",
    "rewrite.upsert.jobs": "count",
    "merge.s": "s",
    "merge.rt": "count",
    "merge.jobs": "count",
    "merge.patch_frac": "ratio",
    "merge.state_rows": "count",
    "merge.aux_rows": "count",
    "engine.create.s": "s",
    "engine.maintain.s": "s",
    "engine.apply_delta.s": "s",
    "engine.apply_delta.jobs": "count",
    "engine.read.s": "s",
    "engine.read.jobs": "count",
    "engine.refresh.s": "s",
    "engine.refresh.jobs": "count",
    "engine.save.s": "s",
    "plans.parse.s": "s",
    "pin.workers_spawned": "count",
    "store.commit.s": "s",
    "store.commit.bytes": "bytes",
    "store.files": "count",
    "stream.trigger.s": "s",
    "stream.batches": "count",
    "stream.backlog_files": "count",
    "stream.gen_late_s": "s",
    "py4j.rt": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "driver.jobless_frac": "ratio",
    "trace.overhead_s": "s",
}


def calib_s() -> float:
    """A fixed single-core Python loop: how fast this host ran just now.
    Printed beside the results, so a reader can tell a slow host period
    from a slow program (it moved ±10% between runs on the baseline host)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    return time.perf_counter() - t0


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def build_spark(nproc: int, workdir: str):
    """local[nproc] with nproc shuffle partitions; a fixed driver heap of
    an eighth of the host's RAM, at most 2 GB (the workloads hold tens of
    MB; a heap that starts at its final size keeps peak RSS from following
    the collector's growth decisions); every scratch path lies under
    ``workdir``."""
    from pyspark.sql import SparkSession

    heap_mb = min(2048, host_mem_mb() // 8)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.driver.memory", f"{heap_mb}m")
        # no hsperfdata file in the system temp dir
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap_mb}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store keeps every job and stage of a run, so a
        # traced run can join its batches to the job timeline
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        # per-call call-site capture costs a stack walk and extra round
        # trips on every DataFrame call; the engine's own bench turns it off
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def end_to_end(rec, spark) -> dict[str, float]:
    from workloads import pct

    h = rec.horizon_s
    return {
        "setup_s": rec.setup_s,
        "batch_p50_s": pct(rec.batch_s, 0.5, h),
        "batch_p90_s": pct(rec.batch_s, 0.9, h),
        "delta_rows_per_s": rec.delta_rows / rec.maint_s if rec.maint_s > 0 else 0.0,
        "read_p50_s": pct(rec.read_s, 0.5, h),
        "refresh_p50_s": pct(rec.refresh_s, 0.5, h),
        "fresh_p50_s": pct(rec.fresh_s, 0.5, h),
        "fresh_p90_s": pct(rec.fresh_s, 0.9, h),
        "mem_peak_mb": peak_rss_mb(spark),
    }


def per_layer(rec, tracer) -> dict[str, float]:
    from ivm_extension_spark.operators import pin

    from tracing import summarize

    out = {k: 0.0 for k in LAYER_UNITS}
    out.update(summarize(tracer))
    merges = [s for s in tracer.spans if s.name == "merge" and s.end is not None]
    if merges:
        out["merge.patch_frac"] = sum(
            1 for s in merges if s.attrs.get("strategy") == "patch"
        ) / len(merges)
        last: dict[str, dict] = {}
        for s in merges:
            last[s.view] = s.attrs
        out["merge.state_rows"] = float(sum(a.get("state_rows") or 0 for a in last.values()))
        out["merge.aux_rows"] = float(sum(a.get("aux_rows") or 0 for a in last.values()))
    commits = [s for s in tracer.spans if s.name == "store.commit" and s.end is not None]
    if commits:
        out["store.commit.bytes"] = statistics.median(s.attrs["bytes"] for s in commits)
        out["store.files"] = statistics.median(s.attrs["files"] for s in commits)
    out["pin.workers_spawned"] = float(pin._POOL._spawned)
    traced = [x for x, t in zip(rec.batch_s, rec.batch_traced) if t]
    plain = [x for x, t in zip(rec.batch_s, rec.batch_traced) if not t]
    if traced and plain:
        out["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    out.update(rec.layer)
    return {k: float(v) for k, v in out.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ivm_extension_spark")):
        print(
            "perfbench: ivm_extension_spark/ not found beside perfbench/; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # the short-lived launcher JVM that spark-submit starts, likewise
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    nproc = host_cpus()
    calib = calib_s()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_spark(nproc, workdir)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            import ivm_extension_spark.engine as engine_mod

            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.wrap(engine_mod, "parse_view_sql", "plans.parse", view_arg=True)
        ctx = Ctx(spark, args.seed, args.seconds, nproc, workdir, tracer)
        WORKLOADS[args.workload](ctx)
        rec = ctx.rec
        rec.setup_s += session_s
        rec.phases = {"session": session_s, **rec.phases}
        if tracer is not None:
            metrics = per_layer(rec, tracer)
            units = LAYER_UNITS
            out_dir = os.path.join(ROOT, ".perfbench_out")
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl"))
            tracer.close()
        else:
            metrics = end_to_end(rec, spark)
            units = E2E_UNITS
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            jvm = getattr(spark.sparkContext._gateway, "proc", None)
            spark.stop()
            if jvm is not None:  # the JVM exits once its stdin pipe closes
                jvm.stdin.close()
                try:
                    jvm.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
        shutil.rmtree(workdir, ignore_errors=True)
    rec.phases["stop"] = time.perf_counter() - t_stop

    correct = all(rec.gate.values()) and len(rec.gate) > 0
    failed_frac = rec.failed / rec.attempted if rec.attempted else 1.0
    print(f"# workload {args.workload}  seed {args.seed}  seconds {args.seconds}  "
          f"trace {args.trace}  host {nproc} cpus, {host_mem_mb()} MB, calib {calib:.3f}s")
    print(f"# samples: batch {len(rec.batch_s)}  read {len(rec.read_s)}  "
          f"refresh {len(rec.refresh_s)}  fresh {len(rec.fresh_s)}")
    print("# phases: " + "  ".join(f"{k} {v:.2f}s" for k, v in rec.phases.items()))
    print("# batch samples (s): " + " ".join(f"{x:.3f}" for x in rec.batch_s))
    for k, v in metrics.items():
        print(f"{k:28s} {v:14.6f} {units[k]}")
    print(f"{'failed_frac':28s} {failed_frac:14.6f} ratio")
    for name, ok in rec.gate.items():
        print(f"# gate {name}: {'ok' if ok else 'MISMATCH'}")
    for f in rec.failures:
        print(f"# failed: {f}")
    print(json.dumps({
        "correct": correct,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
