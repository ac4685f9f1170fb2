#!/usr/bin/env python3
"""Benchmark harness for hangarbay_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source tree. The harness generates the
workload's inputs from ``--seed`` under ``perfbench/.work/``, starts
one SparkSession at ``local[<cores>]``, times the workload's write
phase, runs each read op once untimed, then times read ops of one
closed-loop client until ``--seconds`` have elapsed. Every op's result
is checked. It prints a per-workload table and, as the last line, one
JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a traced run.
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
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from spans import Tracer, event_log_summary, jvm_gc_seconds, jvm_peak_rss_mb  # noqa: E402
from workloads import WORKLOADS, CorpusWorkload, Result  # noqa: E402

# Pinned run environment (recorded in the output):
# - PYTHONPATH at the source root, or every Arrow/UDF query fails in the
#   Python workers with ModuleNotFoundError when run from elsewhere;
# - driver heap below physical memory (get_spark defaults to 24g);
# - one task thread per core;
# - spill, shuffle, temp and index directories owned by this run.
DRIVER_MEM = "3g"


def pin_env(work: Path) -> dict[str, str]:
    for d in ("spark-local", "tmp", "indexes"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "HANGARBAY_INDEX_DIR": str(work / "indexes"),
        "HANGARBAY_DATA_DIR": str(work / "data"),
        "TMPDIR": str(work / "tmp"),
    }
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(env)
    return env


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} "
                                         f"-Dderby.system.home={work / 'tmp'}",
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(r, setup_s: float) -> dict[str, tuple[float, str]]:
    reads = r.times(write=False)
    return {
        "setup_s": (setup_s, "s"),
        "write_s": (sum(r.times(write=True)), "s"),
        "read_p50_s": (statistics.median(reads), "s"),
        # one closed-loop client: throughput is 1 / mean latency (summed
        # latencies, so the op that crosses the deadline does not count
        # its overshoot); printed, not gated: the mean follows single
        # slow ops, and its run-to-run spread came within 0.01 of the bound
        "reads_per_s": (len(reads) / sum(reads), "1/s"),
    }


def per_layer(tracer, setup_s, wall_s, spark_stats, gc_s, rss_mb) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    selfs = tracer.self_times()

    def med(name: str, key: str | None = None) -> float:
        v = [(sp.counts.get(key, 0) if key else s) for sp, s in zip(spans, selfs) if sp.name == name]
        return statistics.median(v) if v else 0.0

    api = [sp for sp in spans if sp.name.startswith("api.")]
    api_ops = max(1, len(api))
    out = {
        "session.start_s": (setup_s, "s"),
        "session.peak_rss_mb": (rss_mb, "MB"),
        "jvm.gc_s": (gc_s, "s"),
        "fetch.s": (med("fetch"), "s"),
        "fetch.bytes_in": (med("fetch", "bytes_in"), "bytes"),
        "normalize.s": (med("normalize"), "s"),
        "normalize.rows_out": (med("normalize", "rows_out"), "count"),
        "normalize.bytes_written": (med("normalize", "bytes_written"), "bytes"),
        "normalize.jobs": (med("normalize", "jobs"), "count"),
        "normalize.tasks": (med("normalize", "tasks"), "count"),
        "publish.s": (med("publish"), "s"),
        "publish.bytes_written": (med("publish", "bytes_written"), "bytes"),
        "publish.fts_postings": (med("publish", "fts_postings"), "count"),
        "publish.jobs": (med("publish", "jobs"), "count"),
        "diff.s": (med("diff"), "s"),
        "diff.rows_compared": (med("diff", "rows_compared"), "count"),
        "diff.changed_keys": (med("diff", "changed_keys"), "count"),
    }
    for kind in ("search", "fleet", "fts_search", "query"):
        out[f"api.{kind}.s"] = (med(f"api.{kind}"), "s")
    out["api.rows_returned"] = (sum(sp.counts.get("rows", 0) for sp in api) / api_ops, "count")
    out["api.jobs_per_op"] = (sum(sp.counts.get("jobs", 0) for sp in api) / api_ops, "count")
    out["api.tasks_per_op"] = (sum(sp.counts.get("tasks", 0) for sp in api) / api_ops, "count")
    out["indexes.build_s"] = (med("indexes.build"), "s")
    out["indexes.bytes_written"] = (med("indexes.build", "bytes_written"), "bytes")
    for q in list(CorpusWorkload.CURATION) + CorpusWorkload.ANALYTICS:
        out[f"query.{q}.s"] = (med(f"query.{q}"), "s")
        out[f"query.{q}.tasks"] = (med(f"query.{q}", "tasks"), "count")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    for k in ("task_run_s", "scheduler_delay_s", "task_gc_s"):
        out[f"spark.{k}"] = (spark_stats[k], "s")
    out["spark.shuffle_write_bytes"] = (spark_stats["shuffle_write_bytes"], "bytes")
    out["spark.spill_bytes"] = (spark_stats["spill_bytes"], "bytes")
    out["spark.core_busy_ratio"] = (spark_stats["task_run_s"] / (wall_s * cores), "ratio")
    out["trace.overhead_s"] = (tracer.overhead_s, "s")
    out["trace.span_self_s"] = (sum(selfs) - tracer.overhead_in_spans_s, "s")
    out["trace.measured_wall_s"] = (wall_s, "s")
    return out


def print_table(title: str, metrics: dict[str, tuple[float, str]]) -> None:
    print(f"== {title}")
    for k, (v, unit) in metrics.items():
        print(f"  {k:<44} {v:>16.6g} {unit}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not (ROOT / "hangarbay_spark" / "__init__.py").is_file():
        print(f"no hangarbay_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work)
    sys.path.insert(0, str(ROOT))
    try:
        return run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path, env: dict[str, str]) -> int:
    from hangarbay_spark.session import get_spark

    tracer = Tracer(False)
    wl = WORKLOADS[args.workload](work, args.seed, tracer)
    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t

    # set-up: session start to the end of its first job
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work, bool(args.trace)))
    spark.range(1).count()
    setup_s = time.perf_counter() - t
    r, warm = Result(), Result()
    windows: list[tuple[float, float]] = []  # traced phases, epoch ms
    gc_s = 0.0

    def phase(fn) -> float:
        """Run a timed phase (traced when --trace 1); returns its wall."""
        nonlocal gc_s
        tracer.enabled = bool(args.trace)
        gc0, w0, t0 = jvm_gc_seconds(spark), time.time() * 1000.0, time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        windows.append((w0, time.time() * 1000.0))
        tracer.enabled = False
        gc_s += jvm_gc_seconds(spark) - gc0
        return wall

    try:
        tracer.spark = spark
        wl.start(spark)
        write_wall = phase(lambda: wl.write(r))
        t = time.perf_counter()
        wl.warm_up(warm)
        warm_s = time.perf_counter() - t
        read_wall = phase(lambda: wl.read(r, time.perf_counter() + args.seconds))
        rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    ops = warm.ops + r.ops
    failed = sum(not o.ok for o in ops)
    print(f"workload {args.workload}  seed {args.seed}  closed loop, 1 client, "
          f"local[{env['SPARK_GRAFT_CPUS']}], driver heap {env['SPARK_DRIVER_MEM']}")
    print("env " + " ".join(f"{k}={v}" for k, v in sorted(env.items())))
    print(f"input generation {gen_s:.2f} s (untimed); write phase {write_wall:.2f} s; "
          f"read warm-up {warm_s:.2f} s (untimed); read phase {read_wall:.2f} s; "
          f"{len(r.ops)} timed ops")
    print("data is generated per run and read from the OS page cache: "
          "latencies are not storage-device latencies")
    for e in (warm.errors + r.errors)[:20]:
        print(f"FAILED {e}")
    print("== timed ops: kind  n  median_s  max_s  warm-up_s")
    for kind in dict.fromkeys(o.kind for o in r.ops):
        t, w = r.times(kind=kind), warm.times(kind=kind)
        print(f"  {kind:<44} {len(t):>4} {statistics.median(t):>10.4f} {max(t):>10.4f} "
              f"{(statistics.median(w) if w else float('nan')):>10.4f}")
    e2e = end_to_end(r, setup_s)
    named = wl.report(r)
    named["error_rate"] = (failed / len(ops), "ratio")
    print_table("end-to-end", e2e)
    print_table(f"{args.workload} figures", named)

    if args.trace:
        wall_s = write_wall + read_wall
        stats = event_log_summary(work / "eventlog", windows)
        metrics = per_layer(tracer, setup_s, wall_s, stats, gc_s, rss_mb)
        print_table("per-layer (traced run)", metrics)
        print("== spans: name  n  total_s  self_s  median_s")
        for name, row in tracer.layer_table().items():
            print(f"  {name:<44} {row['n']:>4} {row['total_s']:>10.3f} "
                  f"{row['self_s']:>10.3f} {row['median_s']:>10.4f}")
        layers = metrics["trace.span_self_s"][0]
        gap = wall_s - layers - tracer.overhead_s
        print(f"blocking path: layer self times {layers:.3f} s + tracing overhead "
              f"{tracer.overhead_s:.3f} s + loop gaps {gap:.3f} s = {wall_s:.3f} s measured wall")
    else:
        metrics = {k: e2e[k] for k in ("setup_s", "write_s", "read_p50_s")}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
