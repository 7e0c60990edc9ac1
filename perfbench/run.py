"""Benchmark runner: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload spatial_queries --seed 3 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 3 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Everything the run writes goes under ``perfbench/_work``
and ``perfbench/_out`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

T_PROCESS = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "rows_per_ref_s": "rows/ref_s",
}

PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "synth.gen_s": "s", "synth.rows": "count",
    "codec.busy_s": "s", "codec.tiles": "count", "codec.tiles_per_core_s": "1/s",
    "ingest.audit_s": "s", "ingest.violations": "count",
    "pip_join.s": "s", "pip_join.candidates": "count", "pip_join.matched": "count",
    "pip_join.verify_ratio": "ratio",
    "knn.s": "s", "knn.jobs": "count", "knn.candidates": "count", "knn.useful_ratio": "ratio",
    "zonal.s": "s", "zonal.shuffle_bytes": "bytes",
    "selector.compile_ms": "ms", "chain.plan_ms": "ms", "chain.exec_ms": "ms",
    "incremental.classify_s": "s", "incremental.merge_s": "s",
    "incremental.new": "count", "incremental.modified": "count", "incremental.deleted": "count",
    "checkpoint.commit_s": "s", "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count", "checkpoint.write_amp": "ratio",
    "checkpoint.resume_ms": "ms",
    "ivm.update_s": "s", "ivm.state_rows": "count",
    "subscriptions.drive_s": "s", "subscriptions.jobs": "count", "subscriptions.pushes": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.idle_share": "ratio", "spark.task_wait_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_ms": "ms", "spark.task_skew": "ratio",
    "spark.failed_tasks": "count",
    "trace.coverage": "ratio", "trace.overhead_ms": "ms",
    "process.peak_rss_mb": "MB",
}

WORKLOAD_NAMES = ["spatial_queries", "incremental_sync"]

# A run stops at the first operation boundary after --seconds; this caps
# how far past it a slow operation may carry the run.
OVERRUN_S = 60
REFERENCE_ROWS = 2_000_000


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package."""
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    sys.path[:0] = [str(ROOT), str(HERE)]


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_one(args) -> int:
    if not (ROOT / "tree_sitter_analyzer_spark" / "__init__.py").is_file():
        print(f"no tree_sitter_analyzer_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: Path) -> int:
    import inputs
    from harness import Outcomes, PeakRss
    from tracing import Tracer
    from workloads import SIZES, WORKLOADS, Ctx

    from tree_sitter_analyzer_spark.session import get_spark

    outcomes = Outcomes()
    # seeded-input self-check: same seed, same inputs; other seed, other inputs
    mine = inputs.digest(args.seed, SIZES)
    outcomes.record(mine == inputs.digest(args.seed, SIZES)
                    and mine != inputs.digest(args.seed + 1, SIZES),
                    "seeded inputs are not reproducible or not seed-dependent")

    n_cores = cores()
    with PeakRss() as rss:
        ctx = Ctx(spark=None, work=work, seed=args.seed)
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        # inputs and DuckDB oracles need no Spark: build them while the
        # session starts
        with ThreadPoolExecutor(max_workers=1) as pool:
            prepared = pool.submit(wl.prepare)
            ctx.spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=n_cores)
            ctx.spark.sparkContext.setLogLevel("ERROR")
            t_session = time.perf_counter()
            prepared.result()
        try:
            wl.setup(outcomes)
            for _ in range(3):
                reference_job(ctx.spark)
            t_ready = time.perf_counter()
            tracer = Tracer(ctx.spark.sparkContext) if args.trace else None
            loop = closed_loop(wl, ctx, tracer, t_ready + args.seconds, outcomes)
            wl.finish(outcomes)
            layer = {}
            if tracer:
                layer = traced_layers(args, wl, ctx.spark, tracer, loop, n_cores)
                layer["session.start_s"] = t_session - t0
                layer["session.warm_s"] = t_ready - t_session
        finally:
            stop_spark(ctx.spark)
    layer["process.peak_rss_mb"] = rss.peak_bytes / 2**20
    return report(args, wl, outcomes, loop, layer, setup_s=t_ready - T_PROCESS,
                  window_s=loop["t_end"] - t_ready, n_cores=n_cores)


def closed_loop(wl, ctx, tracer, deadline: float, outcomes) -> dict:
    """One client: run, time and check operations until ``deadline``,
    stopping only at cycle boundaries. A traced run alternates traced and
    untraced cycles, so the tracing overhead is measured under the same
    conditions, and runs at least one cycle of each."""
    from tracing import NullTracer

    samples: dict[bool, list[float]] = {False: [], True: []}
    refs: dict[bool, list[float]] = {False: [], True: []}
    rows, traced, i = 0, set(), 0
    min_ops = 2 * wl.cycle if tracer else 1
    while True:
        now = time.perf_counter()
        if now >= deadline + OVERRUN_S or (
                now >= deadline and i % wl.cycle == 0 and i >= min_ops):
            break
        on = tracer is not None and (i // wl.cycle) % 2 == 0
        ctx.tracer = tracer if on else NullTracer()
        if on:
            traced.add(i)
        ok, why = False, ""
        ref = reference_job(ctx.spark)
        t = time.perf_counter()
        try:
            with ctx.tracer.request(i):
                res = wl.op(i)
            dt = time.perf_counter() - t
            ok, why = wl.check(res)
        except Exception as exc:  # a failed operation is counted, not fatal
            why = f"op {i}: {type(exc).__name__}: {exc}"
        outcomes.record(ok, why)
        if ok:
            samples[on].append(dt)
            refs[on].append(ref)
            rows += res.rows
        i += 1
    ctx.tracer = NullTracer()
    return {"samples": samples, "refs": refs, "rows": rows, "traced": traced,
            "t_end": time.perf_counter()}


def reference_job(spark) -> float:
    """Wall time of two fixed Spark jobs that run none of the package's
    code (only its session settings): one compute-bound scan, one small
    shuffle. Timed before every operation, it tracks how fast this host,
    JVM and scheduler are at that moment, so throughput can be stated
    per reference second as well as per wall second."""
    t = time.perf_counter()
    spark.range(0, REFERENCE_ROWS, 1, cores()).selectExpr("sum(hash(id) % 1000)").collect()
    spark.range(0, 1000, 1, cores()).selectExpr("id % 10 AS k").groupBy("k").count().collect()
    return time.perf_counter() - t


def traced_layers(args, wl, spark, tracer, loop, n_cores: int) -> dict:
    from harness import median, self_times
    from tracing import collect_jobs, spark_totals

    samples = loop["samples"]
    jobs = collect_jobs(spark.sparkContext, tracer.spans)
    layer = wl.layer_metrics(tracer.spans, jobs, loop["traced"])
    traced_wall = sum(samples[True])
    layer.update(spark_totals(jobs, traced_wall, n_cores))
    st = self_times(tracer.spans)
    layer["trace.coverage"] = (sum(st.values()) / traced_wall) if traced_wall else 0.0
    layer["trace.overhead_ms"] = (
        1e3 * (median(samples[True]) - median(samples[False]))
        if samples[True] and samples[False] else 0.0)
    write_trace(args, tracer.spans, jobs)
    return layer


def report(args, wl, outcomes, loop, layer: dict, setup_s: float, window_s: float,
           n_cores: int) -> int:
    """Print the run by metric name and unit; the last line is the JSON
    result."""
    from harness import median, tail

    samples = loop["samples"]
    # a traced run's latencies come from its untraced operations only
    lat = samples[False] if args.trace else samples[False] + samples[True]
    for e in outcomes.errors:
        print(f"FAILED: {e}", file=sys.stderr)
    info = wl.describe()
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"cores={n_cores} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in info.items()))
    if not lat:
        print("no operation completed", file=sys.stderr)
        return 1
    op_p50 = 1e3 * median(lat)
    all_lat = samples[False] + samples[True]
    all_ref = loop["refs"][False] + loop["refs"][True]
    rows_per_s = loop["rows"] / sum(all_lat)
    # each operation's time in units of the reference job timed just before it
    rows_per_ref_s = loop["rows"] / sum(a / r for a, r in zip(all_lat, all_ref))
    t = tail(lat)
    tail_txt = f"{1e3 * t[1]:.1f} ms at p{t[0]:.0f}" if t else "n/a (10 samples or fewer)"
    # the names the workload's end-to-end metrics go by
    if args.workload == "spatial_queries":
        named = [
            ("query_p50_ms", f"{op_p50:.1f} ms over n={len(lat)}"),
            ("query_tail_ms", f"{tail_txt}, n={len(lat)}"),
            ("rows_per_s", f"{rows_per_s:.1f} rows/s, {info['tiles']} tiles scanned per query"),
        ]
    else:
        named = [
            ("commit_p50_ms", f"{op_p50:.1f} ms over n={len(lat)}"),
            ("sync_rows_per_s", f"{rows_per_s:.1f} rows/s at {info['tiles']} tiles"),
            ("write_amp", f"{info['write_amp']:.3f} ratio"),
        ]
    named += [
        ("rows_per_ref_s", f"{rows_per_ref_s:.3f} rows/ref_s "
                           f"(reference job p50 {1e3 * median(all_ref):.1f} ms)"),
        ("setup_s", f"{setup_s:.3f} s"),
        ("peak_rss_mb", f"{layer['process.peak_rss_mb']:.1f} MB"),
        ("failed_ratio", f"{outcomes.failed_ratio:.4f} ratio "
                         f"({outcomes.failed}/{outcomes.attempted})"),
        ("op_samples", f"{len(lat)} over {window_s:.1f} s"),
    ]
    for k, v in named:
        print(f"  {k} = {v}")
    if args.trace:
        for k, unit in PER_LAYER.items():
            print(f"  {k} = {layer.get(k, 0)} {unit}")
        metrics = {k: metric(float(layer.get(k, 0)), u) for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "rows_per_ref_s": rows_per_ref_s}
        metrics = {k: metric(values[k], u) for k, u in END_TO_END.items()}
    print(json.dumps({"correct": outcomes.failed == 0, "attempted": outcomes.attempted,
                      "failed": outcomes.failed, "metrics": metrics}))
    return 0


def write_trace(args, spans, jobs) -> None:
    """Spans and the Spark jobs attributed to them, written once at the
    end of the run."""
    out = HERE / "_out"
    out.mkdir(exist_ok=True)
    path = out / f"trace-{args.workload}-{args.seed}.json"
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "spans": [vars(s) for s in spans],
            "jobs": {str(k): v for k, v in jobs.items()},
        }, f)
    print(f"trace written to {path.relative_to(ROOT)}")


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    status = 0
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            print(f"{w}: exit code {proc.returncode}", file=sys.stderr)
            status = 1
            continue
        res = json.loads(lines[-1])
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            summary["metrics"][f"{w}.{k}"] = v
    if status == 0:
        print(json.dumps(summary))
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
