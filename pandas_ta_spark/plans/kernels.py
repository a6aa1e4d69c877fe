"""Batched per-symbol kernel runner (ROLL + WROLL + lag + CUM + EWM +
KERNEL kinds).

The reference runs ~35 indicators as exponential recursions or per-row
Python state machines (SURVEY.md §2 legend EWM/KERNEL — ema, rsi, macd,
supertrend, psar, kama, ...). These are not expressible as SQL window
functions, so they run as ONE ``groupBy("symbol").applyInPandas`` pass:
Arrow ships each symbol's bars to Python once, every requested kernel
column is computed vectorized in pandas (the reference's own substrate, so
parity is exact), and Arrow ships the result back. The same pass absorbs
the window kinds whose JVM cost dominated a strategy: rolling means, sums
and dispersions (ROLL), the weighted dot products (WROLL: wma, hma, alma,
coppock, ...), lag ops (mom, roc) and the running sums vwap and obv (CUM).
Each reproduces the float-op order of the window expression it replaced,
so a strategy of only these kinds plans as one scan plus one Python pass:
no Window stage and no (symbol, ts) sort, only the pass's own sort on the
grouping key.

Scale notes (100 TB):
- one shuffle on symbol, independent of how many kernels are requested —
  a strategy with 30 EWM indicators costs the same exchange as one;
- the pass always runs whole symbol groups, so a group must fit in one
  executor's memory (SURVEY.md §4.3.4; the runner raises past
  MAX_GROUP_ROWS). A hot symbol is split by the strategy router, the one
  place that decides to chunk: ``apply_strategy`` sends finite-carry
  kernels through ``row_chunks`` below (row chunks plus carried seed
  rows, bit-identical to whole groups), and unbounded-state kernels stay
  whole — see streaming/ for the stateful variant;
- pandas ewm/cum kernels are O(n) sequential per group but vectorized in C,
  measured at 1e8 rows/s (BASELINE.md) — the per-group sort dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from pandas_ta_spark.operators.base import KernelSpec

# per-(symbol) group memory bound (SURVEY §4.3.4): a whole group must fit
# one executor. 20M rows x ~8 cols x 8B ~= 1.3 GB — beyond that the
# runner raises instead of OOMing the executor.
MAX_GROUP_ROWS = 20_000_000


# Bucket width for the two-level rank (global_rn0): per-symbol ranks are
# computed bucket-parallel; a bucket only bounds the per-task sort, never
# correctness. One day of microseconds suits bar/tick data (1e3-1e5 rows
# per symbol-day); pass ``bucket_us`` for exotic densities.
RANK_BUCKET_US = 86_400_000_000


def global_rn0(df: DataFrame, out: str = "_pts_rn0",
               bucket_us: int | None = None) -> DataFrame:
    """Append each row's 0-based position in its symbol's ts order —
    ``row_number() OVER (PARTITION BY symbol ORDER BY ts) - 1`` — WITHOUT
    buffering a whole symbol in one task (guide §2.5: the single-window
    form serialized a hot symbol's entire history into one sort task,
    measured as the whole critical-path gap between the row-chunked and
    time-chunked skew paths: a ~7s straggler on a 1.6M-row hot symbol).

    Two-level rank: rows rank within (symbol, time-bucket) groups in
    parallel, and a per-symbol running sum over the tiny
    (symbol, bucket, count) relation supplies each bucket's starting
    offset (bucket = floor(unix_micros(ts) / bucket_us), monotone in ts
    per symbol, so offset + within-bucket rank IS the global rank).
    Exactness needs (symbol, ts) to uniquely order rows — the same
    assumption the single-window form and every per-symbol window in
    this engine make. Worst case (a symbol entirely inside one bucket)
    degrades to the old bucket-serial sort, never to a wrong rank, and
    the offset window always runs on the narrow 3-column count relation.

    NULL keys keep their rows, as the single window does: a NULL
    symbol's series ranks in one bucket (offset 0 — the offsets join
    is a left join because NULL never equals NULL), and a NULL ts takes
    the lowest bucket, so it ranks first like ``ORDER BY ts``. The join
    keys stay the raw (symbol, bucket) columns, so an input already
    clustered by symbol needs no exchange for the rank.
    Output column order: df's columns, then ``out``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    b_us = RANK_BUCKET_US if bucket_us is None else bucket_us
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bkt = F.coalesce(F.floor(us / F.lit(b_us)).cast("long"),
                     F.lit(-(2 ** 63)))
    b = df.withColumn("_pts_bkt", F.when(F.col("symbol").isNull(), F.lit(0))
                      .otherwise(bkt))
    wb = Window.partitionBy("symbol", "_pts_bkt").orderBy("ts")
    counts = b.groupBy("symbol", "_pts_bkt").count()
    woff = (Window.partitionBy("symbol").orderBy("_pts_bkt")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = counts.withColumn(
        "_pts_off",
        F.coalesce(F.sum("count").over(woff), F.lit(0)).cast("long"),
    ).select("symbol", "_pts_bkt", "_pts_off")
    ranked = (
        b.withColumn("_pts_brn", F.row_number().over(wb))
        .join(offs, ["symbol", "_pts_bkt"], "left")
        .withColumn(out, F.coalesce(F.col("_pts_off"), F.lit(0))
                    + F.col("_pts_brn") - F.lit(1))
    )
    # restore df's column order (the join fronts its keys); backticks:
    # pass-through names may be dotted (BBL_5_2.0)
    return ranked.select(*[F.col(f"`{c}`") for c in df.columns],
                         F.col(out))


def row_chunks(df: DataFrame, chunk_rows: int, carry: int,
               lead: int) -> DataFrame:
    """Split every symbol into row chunks with their carries — the one
    chunk construction behind the row-chunked strategy route.

    Chunk k of a symbol is rows [k*chunk_rows, (k+1)*chunk_rows) of its
    ts order (``global_rn0``, kept as ``_pts_rn0`` so position-dependent
    kernels see global x). Each row EXPLODES into its own entry
    (``_carry`` 0) plus a copy for chunk k+1 when it sits in chunk k's
    last ``carry`` positions, plus a copy for chunk k-1 when it sits in
    chunk k's first ``lead`` positions (non-causal kernels such as
    ichimoku's chikou read ``lead`` rows ahead); copies have ``_carry``
    1 and their outputs are dropped after the pass. With
    ``chunk_rows >= max(carry, lead)`` every kept row sees exactly the
    history and future the unchunked series gives it. No union, so the
    rank subtree is evaluated once per action (the union shape re-ran
    the per-symbol sort 3x: 9.3s -> 6.5s on the 1.6M-row skew bench).
    Forward copies from a symbol's last chunk land in a chunk of their
    own that holds only copies — computed over <= carry rows and fully
    dropped, cheaper than a successor map that suppresses them."""
    from pyspark.sql import functions as F

    rn = F.col("_pts_rn0")
    chk = F.floor(rn / F.lit(chunk_rows)).cast("long")
    pos = rn % F.lit(chunk_rows)

    def entry(c, is_copy):
        return F.struct(c.alias("_chk"), F.lit(is_copy).alias("_carry"))

    entries = [entry(chk, 0),
               F.when(pos >= F.lit(chunk_rows - carry), entry(chk + 1, 1))]
    if lead > 0:
        entries.append(F.when((pos < F.lit(lead)) & (chk > 0),
                              entry(chk - 1, 1)))
    return (
        global_rn0(df)
        .select("*", F.explode(F.filter(F.array(*entries),
                                        lambda x: x.isNotNull())).alias("_pc"))
        .withColumn("_chk", F.col("_pc._chk"))
        .withColumn("_carry", F.col("_pc._carry"))
        .drop("_pc")
    )


def _out_schema(df: DataFrame, specs: list[KernelSpec]) -> StructType:
    existing = set(df.columns)
    new_fields = []
    seen: set[str] = set()
    for s in specs:
        for o in s.outputs:
            if o in existing or o in seen:
                raise ValueError(f"kernel output column collision: {o}")
            seen.add(o)
            new_fields.append(StructField(o, DoubleType(), True))
    return StructType(list(df.schema.fields) + new_fields)


def run_kernels(df: DataFrame, specs: list[KernelSpec]) -> DataFrame:
    """Append every spec's output columns in a single applyInPandas pass
    over whole symbol groups. Chunking a hot symbol is the strategy
    router's decision (``plans/strategy.apply_strategy``), made once for
    kernels and window expressions alike."""
    if not specs:
        return df
    # applyInPandas resolves pass-through columns by unquoted name; dotted
    # names (BBL_5_2.0) break it — rename around the pass
    dotted = {c: c.replace(".", "․") for c in df.columns if "." in c}
    if dotted:
        df = df.withColumnsRenamed(dotted)
        out = run_kernels(df, specs)
        return out.withColumnsRenamed({v: k for k, v in dotted.items()})
    out_schema = _out_schema(df, specs)
    runner = _make_runner(specs)
    return df.groupBy("symbol").applyInPandas(runner, out_schema)


def _make_runner(specs: list[KernelSpec]):
    """Build the per-group pandas function for a kernel pass.

    Kernels execute on a NARROW working frame (ts + the union of declared
    bar inputs), not on the full pass-through frame: inside a strategy the
    incoming group carries 200+ window-stage columns, and 60 kernels each
    inserting 1-4 columns into a frame that wide re-consolidates the pandas
    block manager per insert (O(width) memcpy x kernels — measured 15s of
    a 32s all-indicator pass at sf0.1). Outputs are spliced back with ONE
    concat. numpy warnings are silenced: warmup NaN/div-by-zero is defined
    behavior (reference emits NaN there too), and each emitted warning is
    worker-stderr IPC."""
    import warnings

    import numpy as np
    import pandas as pd

    fns = [s.fn for s in specs]
    # _pts_rn0 (global 0-based row position, present only under the
    # row-chunked route) rides along so shift-sensitive kernels (the
    # OLS family) can regress against the same global x as whole groups.
    need = ["ts", "_pts_rn0"]
    for s in specs:
        for c in s.inputs:
            if c not in need:
                need.append(c)
    out_cols = [o for s in specs for o in s.outputs]

    def runner(pdf):
        if len(pdf) > MAX_GROUP_ROWS:
            raise ValueError(
                f"kernel group of {len(pdf)} rows exceeds the per-executor "
                f"bound ({MAX_GROUP_ROWS}); run finite-carry kernels through "
                f"apply_strategy, which row-chunks hot symbols, and "
                f"unbounded-state kernels through streaming/"
            )
        # Sort the NARROW frame only and splice outputs back through the
        # inverse permutation: gathering the wide pass-through frame
        # (Arrow gives one block per column) costs ~0.8s/group at 127
        # cols. Rows arrive ts-sorted when a window stage ran first (a
        # strategy with expression indicators), which skips the sort.
        # Row order of the returned group is irrelevant to Spark.
        ts = pdf["ts"].to_numpy()
        perm = None if _is_sorted(ts) else np.argsort(ts, kind="stable")
        work = pdf[[c for c in need if c in pdf.columns]]
        if perm is not None:
            work = work.take(perm)
        work = work.reset_index(drop=True)
        with np.errstate(all="ignore"), warnings.catch_warnings():
            warnings.simplefilter("ignore")
            for fn in fns:
                work = fn(work)
        if perm is not None:
            inv = np.empty_like(perm)
            inv[perm] = np.arange(len(perm))
            # per-column numpy gather: DataFrame.take would consolidate
            # the ~100-block work frame first
            outs = pd.DataFrame(
                {o: work[o].to_numpy()[inv] for o in out_cols}, index=pdf.index
            )
        else:
            outs = work[out_cols]
            outs.index = pdf.index
        # copy=False keeps per-column blocks — Arrow serializes column-
        # by-column, so consolidating the 250-col result is pure waste
        return pd.concat([pdf, outs], axis=1, copy=False)

    return runner


def _is_sorted(a) -> bool:
    import numpy as np

    return len(a) < 2 or bool(np.all(a[:-1] <= a[1:]))

