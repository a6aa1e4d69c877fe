"""The benchmark's workloads.

Each workload prepares its inputs in ``setup`` (untimed, but counted in
``setup_s``), runs ops back to back in ``run`` until the deadline, and
checks the outputs of those ops in ``verify`` (untimed).

An op is what a caller waits for: in a batch workload, the library call
plus a forced ``noop`` sink; in ``ta_stream``, one micro-batch.
"""

from __future__ import annotations

import os
import statistics
import time

import gen
import probe


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """What a workload needs from run.py: the session, the tracer,
    the probes (traced runs only) and the generated input."""

    def __init__(self, spark, tracer, sprobe, cglog, data_dir, inputs):
        self.spark = spark
        self.tracer = tracer
        self.sprobe = sprobe
        self.cglog = cglog
        self.data_dir = data_dir
        self.inputs = inputs
        self.layer: dict[str, float] = {}   # one-off per-layer numbers
        self.per_op: list[dict] = []        # per traced op counters

    def group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)


class BatchWorkload:
    """Ops are library calls plus a noop sink, run back to back. In a
    traced run, even ops run untraced and odd ops traced, so the
    per-layer counters and the tracing overhead come from one run."""

    name = ""
    gen_kind = ""
    warmup_ops = 0

    def calls(self, ctx) -> list[tuple[str, object]]:
        """(layer, build) pairs making up one op."""
        raise NotImplementedError

    def rows(self, ctx) -> int:
        raise NotImplementedError

    def op(self, ctx, op_id: str, traced: bool) -> tuple[list, float]:
        """Run one op; return what it built and its latency (taken before
        any scraping)."""
        tr = ctx.tracer
        calls = self.calls(ctx)
        t_op = time.perf_counter()
        built, counters = [], {}
        if traced:
            cg0 = ctx.sprobe.codegen()
            ctx.cglog.read()
        with tr.span("op", op_id):
            for layer, build in calls:
                ctx.group(f"{op_id}/{layer}/build")
                t0 = time.perf_counter()
                with tr.span(f"{layer}.build", op_id):
                    df = build()
                counters[f"{layer}.build_s"] = time.perf_counter() - t0
                if traced:
                    with tr.span("plan.optimize", op_id):
                        shape = probe.plan_shape(df)
                    for k, v in shape.items():
                        counters[k] = counters.get(k, 0) + v
                ctx.group(f"{op_id}/{layer}/sink")
                t0 = time.perf_counter()
                with tr.span("exec.sink", op_id):
                    force(df)
                counters[f"{layer}.sink_s"] = time.perf_counter() - t0
                built.append((layer, df))
        latency = time.perf_counter() - t_op
        ctx.spark.sparkContext.setJobGroup(None, None)
        if traced:
            with tr.span("trace.scrape", op_id):
                counters.update(self._scrape(ctx, op_id, [c[0] for c in calls], cg0))
            for k, v in counters.items():
                tr.count(op_id, k, v)
            ctx.per_op.append(counters)
        return built, latency

    def _scrape(self, ctx, op_id: str, layers: list[str], cg0: dict) -> dict:
        out = {}
        for layer in layers:
            build_jobs = ctx.sprobe.jobs({f"{op_id}/{layer}/build"})
            out[f"{layer}.build_jobs"] = len(build_jobs)
            sink_jobs = ctx.sprobe.jobs({f"{op_id}/{layer}/sink"})
            jobs = build_jobs + sink_jobs
            execs = ctx.sprobe.executions({j["jobId"] for j in jobs})
            for k, v in probe.sql_metrics(execs).items():
                out[f"{layer}.{k}"] = v
        groups = {f"{op_id}/{layer}/{p}" for layer in layers
                  for p in ("build", "sink")}
        out.update(probe.exec_metrics(ctx.sprobe, ctx.sprobe.jobs(groups)))
        out["codegen.compiles"] = ctx.sprobe.codegen()["compiles"] - cg0["compiles"]
        out.update(ctx.cglog.read())
        return out

    def run(self, ctx, seconds: float, traced: bool) -> list[dict]:
        ops, deadline = [], time.perf_counter() + seconds
        i = 0
        # at least two ops, so that a slow first op is not the whole run
        while len(ops) < 2 or time.perf_counter() < deadline:
            op_traced = traced and i % 2 == 1
            t0 = time.perf_counter()
            try:
                self.last, latency = self.op(ctx, f"op{i}", op_traced)
                ok = True
            except Exception as exc:  # an op that raises is a failed op
                print(f"op{i} failed: {type(exc).__name__}: {exc}"[:400],
                      flush=True)
                ok, latency = False, time.perf_counter() - t0
            ops.append({"latency_s": latency,
                        "rows": self.rows(ctx), "ok": ok, "traced": op_traced})
            i += 1
        return ops

    def warm(self, ctx) -> None:
        for i in range(self.warmup_ops):
            self.op(ctx, f"warm{i}", False)

    def apply_verdict(self, ops: list[dict], problems: list[str]) -> None:
        """Every op ran the same plan on the same input, so a failed
        check of the last op's output fails them all."""
        if problems:
            for o in ops:
                o["ok"] = False


# ------------------------------------------------------------ ta_panel

class TaPanel(BatchWorkload):
    """bench.py's 24-indicator strategy through apply_strategy over a
    cached, symbol-partitioned hourly panel."""

    name = "ta_panel"
    gen_kind = "events"
    # the first op of a process pays the JIT and Python worker start
    # (several times a later op's latency); the second can still run up
    # to ~20% slower than the ones after it
    warmup_ops = 2

    def setup(self, ctx) -> None:
        from pandas_ta_spark.sources.bars import bars_from_events

        from bench import strategy_indicators

        spark = ctx.spark
        parts = spark.sparkContext.defaultParallelism
        ctx.group("setup/sources")
        t0 = time.perf_counter()
        with ctx.tracer.span("sources.load"):
            panel = (bars_from_events(spark, ctx.data_dir)
                     .repartition(parts, "symbol").cache())
            n = panel.count()
        ctx.layer["sources.load_s"] = time.perf_counter() - t0
        if n != ctx.inputs["rows"]:
            raise RuntimeError(f"panel has {n} rows, generated {ctx.inputs['rows']}")
        self.panel, self.n = panel, n
        self.inds = strategy_indicators()
        self.warm(ctx)

    def calls(self, ctx):
        from pandas_ta_spark.plans.strategy import apply_strategy

        return [("strategy", lambda: apply_strategy(self.panel, self.inds))]

    def rows(self, ctx) -> int:
        return self.n

    def verify(self, ctx) -> list[str]:
        """The last op's output for the check symbols' first CHECK_BARS
        bars against each indicator's DuckDB oracle over the same events
        prefix. Every indicator here is per-symbol and causal, so the
        prefix output is exactly the full output restricted to the
        prefix; the symbol filter is applied to the op's DataFrame
        (Catalyst may push it below the windows), the time cut in pandas."""
        import duckdb
        import pandas as pd
        from pyspark.sql import functions as F

        from pandas_ta_spark.operators.base import qcol, round_col

        from tools.check import compare

        inp = ctx.inputs
        syms, n_bars = inp["check_symbols"], inp["check_bars"]
        if not hasattr(self, "last"):
            return ["ta_panel: no op succeeded"]
        (_, df), = self.last
        outs = [c for ind in self.inds for c in ind.outputs]
        ctx.spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        try:
            with ctx.tracer.span("verify.collect"):
                pdf = (df.filter(F.col("symbol").isin(syms))
                       .select("symbol", "ts", *[round_col(qcol(c)).alias(c)
                                                 for c in outs]).toPandas())
        finally:
            ctx.spark.conf.unset("spark.sql.execution.arrow.pyspark.enabled")
        cutoff = pd.Timestamp(gen.EPOCH) + pd.Timedelta(hours=n_bars)
        pdf = pdf[pdf["ts"] < cutoff]
        problems = []
        if len(pdf) != len(syms) * n_bars:
            problems.append(f"ta_panel: {len(pdf)} checked rows, want "
                            f"{len(syms) * n_bars}")
        con = duckdb.connect()
        try:
            in_list = ", ".join(f"'{s}'" for s in syms)
            con.execute(
                "CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{ctx.data_dir}/events.parquet') WHERE event_type IN "
                f"({in_list}) AND ts < TIMESTAMP '{cutoff}'")
            for ind in self.inds:
                sql = ind.oracle()
                if sql is None:
                    problems.append(f"{ind.key}: no oracle")
                    continue
                with ctx.tracer.span("verify.oracle"):
                    odf = con.execute(sql).df()
                sdf = pdf[["symbol", "ts", *ind.outputs]].reset_index(drop=True)
                with ctx.tracer.span("verify.compare"):
                    msg = compare(sdf, odf) if len(odf) else "empty oracle result"
                if msg:
                    problems.append(f"{ind.key}: {msg}")
        finally:
            con.close()
        return problems


# -------------------------------------------------------- corpus_dedup

class CorpusDedup(BatchWorkload):
    """One MinHash-LSH document dedup pass per op, through
    ``ext.SUITE["dedup_minhash_lsh"].query``. The similarity layer
    (vector cache, IVF, neardup_cosine_lsh) is not run: see README.md."""

    name = "corpus_dedup"
    gen_kind = "corpus"
    # as in ta_panel, the op after the first still runs slow
    warmup_ops = 2
    KEYS = (("minhash", "dedup_minhash_lsh"),)

    def setup(self, ctx) -> None:
        ctx.layer["sources.load_s"] = 0.0
        self.warm(ctx)

    def calls(self, ctx):
        from pandas_ta_spark.ext import SUITE

        return [(layer, (lambda k=key: SUITE[k].query(ctx.spark, ctx.data_dir)))
                for layer, key in self.KEYS]

    def rows(self, ctx) -> int:
        return ctx.inputs["documents"]

    def verify(self, ctx) -> list[str]:
        from pandas_ta_spark.ext import SUITE

        if not hasattr(self, "last"):
            return ["corpus_dedup: no op succeeded"]
        problems = []
        for (layer, df), (_, key) in zip(self.last, self.KEYS):
            problems.extend(_check_ext(ctx, layer, key, SUITE[key], df))
        return problems


def _check_ext(ctx, layer: str, key: str, ext, df) -> list[str]:
    """One ext op's output against its DuckDB oracle over the generated
    tables; an empty result fails."""
    import duckdb

    from pandas_ta_spark.sources.bars import TABLES

    from tools.check import compare

    with ctx.tracer.span("verify.collect"):
        sdf = df.toPandas()
    ctx.layer[f"{layer}.pairs"] = len(sdf)
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(ctx.data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        with ctx.tracer.span("verify.oracle"):
            odf = con.execute(ext.oracle).df()
    finally:
        con.close()
    if len(sdf) == 0:
        return [f"{key}: empty result"]
    with ctx.tracer.span("verify.compare"):
        msg = compare(sdf, odf)
    return [f"{key}: {msg}"] if msg else []


# ----------------------------------------------------------- ta_stream

class TaStream:
    """Incremental twins of the batch indicators over bar files replayed
    one file per micro-batch (maxFilesPerTrigger=1, availableNow). One
    query drains the whole backlog; queries of the three twins run one
    after another, every twin at least once per run, then on until the
    deadline. An op is one micro-batch."""

    name = "ta_stream"
    gen_kind = "stream"
    TWINS = ("ema_10", "macd_12_26_9", "supertrend_7")

    def setup(self, ctx) -> None:
        from tools.stream_gate import BARS_DDL, _specs

        self.ddl = BARS_DDL
        self.specs = {s[0]: s for s in _specs() if s[0] in self.TWINS}
        self.src = ctx.inputs["stream_dir"]
        # one state-store partition per core: each micro-batch is one
        # wave of tasks
        ctx.spark.conf.set("spark.sql.shuffle.partitions",
                           str(ctx.spark.sparkContext.defaultParallelism))
        self.queries: list[dict] = []
        ctx.layer["sources.load_s"] = 0.0

    def _query(self, ctx, twin: str, tag: str) -> dict:
        spark = ctx.spark
        build = self.specs[twin][1]
        sink = f"pb_{twin}_{tag}"
        stream = (spark.readStream.schema(self.ddl)
                  .option("maxFilesPerTrigger", 1).parquet(self.src))
        q = (build(stream).writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        # the query's jobs run under its run id as job group
        return {"twin": twin, "sink": sink, "progress": progress,
                "group": str(q.runId)}

    def run(self, ctx, seconds: float, traced: bool) -> list[dict]:
        """Queries one after another: one per twin, then more until the
        deadline; a query that would end more than half its length past
        the deadline is not started."""
        ops, deadline = [], time.perf_counter() + seconds
        k, last = 0, 0.0
        while (k < len(self.TWINS)
               or time.perf_counter() + last / 2 < deadline):
            twin = self.TWINS[k % len(self.TWINS)]
            # progress is read after the query ends, so tracing costs a
            # micro-batch nothing: every query of a traced run is traced
            if traced:
                cg0 = ctx.sprobe.codegen()["compiles"]
                ctx.cglog.read()
            t0 = time.perf_counter()
            with ctx.tracer.span("stream.query", f"q{k}"):
                try:
                    rec = self._query(ctx, twin, f"q{k}")
                    ok = True
                except Exception as exc:  # a failed query fails its ops
                    print(f"q{k} failed: {type(exc).__name__}: {exc}"[:400],
                          flush=True)
                    rec, ok = {"twin": twin, "progress": []}, False
            last = time.perf_counter() - t0
            rec["traced"], rec["ok"], rec["id"] = traced, ok, k
            self.queries.append(rec)
            prog = rec["progress"]
            if prog:
                # a query's first micro-batch starts its state and plan:
                # set-up, not an op (the first query's counts in setup_s)
                first = prog[0]["durationMs"].get("triggerExecution", 0) / 1e3
                ctx.layer.setdefault("stream.first_batch_s", []).append(first)
                if k == 0:
                    self.first_op_at = _perf_at(prog[0]["timestamp"]) + first
            for p in prog[1:] or [{"durationMs": {}, "numInputRows": 0}]:
                ops.append({"latency_s": p["durationMs"].get("triggerExecution", 0) / 1e3,
                            "rows": p["numInputRows"], "ok": ok,
                            "traced": traced, "query": k, "twin": twin})
            if traced and ok:
                with ctx.tracer.span("trace.scrape", f"q{k}"):
                    self._record(ctx, rec, cg0)
            k += 1
        return ops

    def _record(self, ctx, rec: dict, cg0: int) -> None:
        """Per-batch state-store and timing breakdown from the query's
        progress reports; executor, SQL and codegen numbers for all of
        its jobs, divided per batch."""
        prog = rec["progress"]
        if not prog:
            return
        jobs = ctx.sprobe.jobs({rec["group"]})
        nb = len(prog)
        per_batch = probe.exec_metrics(ctx.sprobe, jobs)
        sql = probe.sql_metrics(ctx.sprobe.executions({j["jobId"] for j in jobs}))
        per_batch.update({f"stream.{k}": v for k, v in sql.items()})
        per_batch = {k: (v if k == "exec.task_skew" else v / nb)
                     for k, v in per_batch.items()}
        per_batch["stream.sink_s"] = statistics.mean(
            p["durationMs"].get("triggerExecution", 0) / 1e3 for p in prog)
        per_batch.update({k: v / nb for k, v in ctx.cglog.read().items()})
        per_batch["codegen.compiles"] = (ctx.sprobe.codegen()["compiles"] - cg0) / nb
        ctx.per_op.append(per_batch)
        for p in prog[1:]:
            d = p["durationMs"]
            state = p.get("stateOperators") or [{}]
            c = {"stream.add_batch_s": d.get("addBatch", 0) / 1e3,
                 "stream.planning_s": d.get("queryPlanning", 0) / 1e3,
                 "stream.commit_s": d.get("commitOffsets", 0) / 1e3,
                 "stream.state_rows": sum(s.get("numRowsTotal", 0) for s in state),
                 "stream.state_mb": sum(s.get("memoryUsedBytes", 0)
                                        for s in state) / 1e6}
            ctx.per_op.append(c)
            for key, v in c.items():
                ctx.tracer.count(f"q{rec['id']}/b{p['batchId']}", key, v)

    def apply_verdict(self, ops: list[dict], problems: list[str]) -> None:
        bad = {r["id"] for r in self.queries if not r["ok"]}
        for o in ops:
            if o["query"] in bad:
                o["ok"] = False

    def verify(self, ctx) -> list[str]:
        """Each query's full output against its batch twin on the same
        files (tools/stream_gate.py's comparison). The batch twins run
        as one union job, collected once."""
        from functools import reduce

        from pyspark.sql import functions as F

        from tools.stream_gate import _compare

        spark = ctx.spark
        bars = spark.read.parquet(self.src)
        twins = sorted({r["twin"] for r in self.queries if r["ok"]})
        if not twins:
            return ["ta_stream: no query succeeded"]
        batch = {t: self.specs[t][2](bars) for t in twins}
        with ctx.tracer.span("verify.collect"):
            union = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                           [df.withColumn("twin", F.lit(t)) for t, df in batch.items()])
            every = union.toPandas()
        expected = {t: every[every["twin"] == t][df.columns].reset_index(drop=True)
                    for t, df in batch.items()}
        problems = []
        for rec in self.queries:
            if not rec["ok"]:
                continue
            name, _, _, key_cols, tol, _ = self.specs[rec["twin"]]
            with ctx.tracer.span("verify.collect"):
                got = spark.sql(f"SELECT * FROM {rec['sink']}").toPandas()
            spark.catalog.dropTempView(rec["sink"])
            with ctx.tracer.span("verify.compare"):
                ok, detail = _compare(name, got, expected[name], key_cols, tol)
            if not ok:
                rec["ok"] = False
                problems.append(f"{name} q{rec['id']}: {detail}")
        return problems


def _perf_at(iso: str) -> float:
    """A progress-report timestamp (UTC, ISO 8601) on the perf_counter
    clock."""
    import datetime as dt

    wall = dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()
    return time.perf_counter() - (time.time() - wall)


WORKLOADS = {w.name: w for w in (TaPanel, CorpusDedup, TaStream)}
