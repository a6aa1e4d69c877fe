"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ta_panel --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark generates its inputs from
the seed under ``.perfbench/`` (removed at exit), starts Spark on
``local[<cores>]``, sets the workload up, runs ops back to back for
``--seconds`` and checks their outputs against the library's DuckDB
oracles. With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` the per-layer ones. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# what the benchmark drives: without these it cannot run, and must not
# fall back to an installed copy of the library
PROGRAM = ("pandas_ta_spark/__init__.py", "bench.py", "tools/check.py",
           "tools/stream_gate.py")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s"}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "sources.load_s": "s",
    "strategy.build_s": "s", "strategy.build_jobs": "count",
    "strategy.chunked_ops": "count",
    "plan.optimize_s": "s", "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "codegen.fallbacks": "count",
    "exec.sink_s": "s", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.core_util": "ratio", "exec.task_skew": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "kernels.python_run_s": "s", "kernels.python_start_s": "s",
    "kernels.mb_to_python": "MB", "kernels.rows_from_python": "rows",
    "stream.add_batch_s": "s", "stream.planning_s": "s",
    "stream.commit_s": "s", "stream.state_rows": "rows",
    "stream.state_mb": "MB", "stream.first_batch_s": "s",
    "minhash.s": "s", "minhash.build_jobs": "count",
    "minhash.candidates": "rows", "minhash.pairs": "rows",
    "minhash.yield": "ratio",
    "verify.oracle_s": "s", "verify.compare_s": "s",
    "trace.overhead_frac": "ratio",
}


def start_spark(run_dir: str, cores: int):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Python workers import the library from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # same string hashing in every Python worker of every run
    os.environ["PYTHONHASHSEED"] = "0"
    # every JVM spark-submit starts (its launcher too) keeps its temporary
    # files in the run directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    java_opts = " ".join([
        f"-Dlog4j2.configurationFile=file:{HERE}/log4j2.properties",
        f"-Dperfbench.codegen.log={run_dir}/codegen.log",
    ])
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait for the JVM to exit."""
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
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def layer_metrics(ctx, ops: list[dict], tracer, cores: int) -> dict:
    """Per-layer metrics: medians over traced ops (for ta_stream, over
    traced micro-batches and queries), plus one-off set-up and
    verification numbers. Layers a workload does not touch read 0."""

    def med(rows, fn):
        vals = [fn(c) for c in rows]
        return statistics.median(vals) if vals else 0.0

    def total(suffix):
        return lambda c: sum(v for k, v in c.items() if k.endswith(suffix))

    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: v for k, v in ctx.layer.items() if k in PER_LAYER})
    if ctx.layer.get("stream.first_batch_s"):
        m["stream.first_batch_s"] = statistics.median(ctx.layer["stream.first_batch_s"])
    jobs = [c for c in ctx.per_op if "exec.stages" in c]
    if jobs:
        m["exec.sink_s"] = med(jobs, total(".sink_s"))
        for k in ("exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s",
                  "exec.gc_s", "exec.task_skew", "exec.shuffle_write_mb",
                  "exec.shuffle_read_mb", "exec.spill_mb", "codegen.compiles",
                  "codegen.compile_s", "codegen.fallbacks"):
            m[k] = med(jobs, lambda c, k=k: c[k])
        # busy cores over the op's wall: its jobs run in the sink and,
        # for eager builds (minhash), inside the build call
        m["exec.core_util"] = med(jobs, lambda c: c["exec.task_s"] / (
            (total(".build_s")(c) + total(".sink_s")(c)) * cores))
        for k in ("python_run_s", "python_start_s", "mb_to_python",
                  "rows_from_python"):
            m[f"kernels.{k}"] = med(jobs, total(f".kernels.{k}"))
        m["plan.exchanges"] = med(jobs, total(".exchanges"))
        m["plan.python_nodes"] = med(jobs, total(".python_nodes"))
    planned = [c for c in jobs if "plan.optimize_s" in c]
    if planned:
        m["plan.optimize_s"] = med(planned, lambda c: c["plan.optimize_s"])
        m["strategy.chunked_ops"] = sum(1 for c in planned if c.get("chunked"))
    strat = [c for c in jobs if "strategy.build_s" in c]
    if strat:
        m["strategy.build_s"] = med(strat, lambda c: c["strategy.build_s"])
        m["strategy.build_jobs"] = med(strat, lambda c: c["strategy.build_jobs"])
    mh = [c for c in jobs if "minhash.build_s" in c]
    if mh:
        m["minhash.s"] = med(mh, lambda c: c["minhash.build_s"] + c["minhash.sink_s"])
        m["minhash.build_jobs"] = med(mh, lambda c: c["minhash.build_jobs"])
        cands = med(mh, lambda c: c["minhash.max_join_rows"])
        m["minhash.candidates"] = cands
        m["minhash.yield"] = ctx.layer.get("minhash.pairs", 0) / cands if cands else 0.0
    batches = [c for c in ctx.per_op if "stream.add_batch_s" in c]
    for k in ("stream.add_batch_s", "stream.planning_s", "stream.commit_s",
              "stream.state_rows", "stream.state_mb"):
        m[k] = med(batches, lambda c, k=k: c[k])
    self_s = tracer.self_times()
    m["verify.oracle_s"] = self_s.get("verify.oracle", 0.0)
    m["verify.compare_s"] = self_s.get("verify.compare", 0.0)
    timed = [o["latency_s"] for o in ops if o["traced"]]
    plain = [o["latency_s"] for o in ops if not o["traced"]]
    if timed and plain:
        m["trace.overhead_frac"] = statistics.median(timed) / statistics.median(plain) - 1.0
    return m


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    import gen
    import probe
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        inputs = gen.generate(wl.gen_kind, data_dir, args.seed)
        gen_s = time.perf_counter() - t0

        tracer = probe.Tracer(bool(args.trace))
        with tracer.span("setup.session"):
            spark = start_spark(run_dir, cores)
        sprobe = probe.SparkProbe(spark) if args.trace else None
        cglog = probe.CodegenLog(os.path.join(run_dir, "codegen.log"))
        ctx = workloads.Ctx(spark, tracer, sprobe, cglog, data_dir, inputs)
        with tracer.span("setup"):
            wl.setup(ctx)
        t_setup = time.perf_counter()
        ops = wl.run(ctx, args.seconds, bool(args.trace))
        t_first = getattr(wl, "first_op_at", t_setup)
        setup_s = t_first - T_START - gen_s
        peak_rss = probe.tree_peak_rss_mb()
        with tracer.span("verify"):
            problems = wl.verify(ctx)
        wl.apply_verdict(ops, problems)
        t_checked = time.perf_counter()
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    lat = [o["latency_s"] for o in ops if o["ok"] and not o["traced"]]
    busy = sum(o["latency_s"] for o in ops if o["ok"] and not o["traced"])
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "rows_per_s": (sum(o["rows"] for o in ops if o["ok"] and not o["traced"])
                       / busy if busy else 0.0),
    }
    tail = probe.quantile_tail(lat)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "cores": cores,
              "inputs": {k: v for k, v in inputs.items() if k != "stream_dir"},
              "gen_s": gen_s, "end_to_end": e2e, "peak_rss_mb": peak_rss,
              "failed_frac": failed / attempted,
              "op_tail": (None if tail is None else
                          {"pct": tail[0], "op_tail_s": tail[1], "n": tail[2]}),
              "ops": ops, "problems": problems,
              "phases_s": {"to_setup_end": t_setup - T_START,
                           "to_checked": t_checked - T_START,
                           "to_stopped": time.perf_counter() - T_START}}
    if args.trace:
        units = PER_LAYER
        metrics = layer_metrics(ctx, ops, tracer, cores)
        metrics["peak_rss_mb"] = peak_rss
        record["per_layer"] = metrics
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                    {k: record[k] for k in ("workload", "seed", "inputs")})
    else:
        metrics, units = e2e, END_TO_END
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"workload {args.workload} seed {args.seed} inputs "
          f"{json.dumps(record['inputs'], default=str)}")
    for k, v in metrics.items():
        print(f"{k:26s} {v:14.6g} {units[k]}")
    if args.trace:
        for name, sec in sorted(tracer.self_times().items()):
            print(f"self time {name:26s} {sec:10.4f} s")
    else:
        print(f"{'failed_frac':26s} {failed / attempted:14.6g} ratio")
        print("op_tail_s                  " + (
            f"{tail[1]:14.6g} s (p{tail[0]}, n={tail[2]})" if tail
            else f"{'n/a':>14} (n={len(lat)} ops < 20)"))
    for p in problems:
        print(f"check failed: {p}")
    print(f"check: {'ok' if not problems else 'FAILED'} "
          f"({attempted - failed}/{attempted} ops passed)")
    print(json.dumps({"correct": not problems and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
