"""r15: the bucket-parallel per-symbol rank (plans/kernels.global_rn0)
must equal the single-window row_number it replaced, for any bucket
width — it feeds the row-chunk construction (plans/kernels.row_chunks)
and the OLS x positions of both chunked strategy routes, where a wrong
rank silently shifts chunk boundaries and fits. NULL keys must keep
their rows on every route, or raise."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import make_pdf, min_row_chunks, route_rows


def _frame(spark, n=3000, symbols=("A", "B", "C")):
    rng = np.random.default_rng(11)
    frames = []
    for i, s in enumerate(symbols):
        # multi-day span with uneven per-day density + a same-ts-cluster
        # day boundary straddle: offsets grow irregularly so day buckets
        # hold wildly different row counts
        step_s = rng.integers(30, 4000, n).cumsum()
        ts = pd.Timestamp("2023-03-01") + pd.to_timedelta(step_s + i, "s")
        close = 100 + np.cumsum(rng.normal(0, 0.5, n))
        frames.append(pd.DataFrame({
            "symbol": s, "ts": ts,
            "open": close, "high": close + 0.3, "low": close - 0.3,
            "close": close, "volume": rng.integers(1, 500, n).astype("f8"),
        }))
    return spark.createDataFrame(pd.concat(frames)).repartition(5)


@pytest.mark.parametrize("bucket_us", [
    3_600_000_000,          # 1 hour: many buckets per symbol
    86_400_000_000,         # 1 day: the default
    10**18,                 # one bucket: the degenerate serial case
])
def test_global_rn0_matches_single_window(spark, bucket_us):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pandas_ta_spark.plans.kernels import global_rn0

    df = _frame(spark)
    got = (global_rn0(df, out="_rn", bucket_us=bucket_us)
           .select("symbol", "ts", "_rn")
           .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    w = Window.partitionBy("symbol").orderBy("ts")
    want = (df.withColumn("_rn", F.row_number().over(w) - F.lit(1))
            .select("symbol", "ts", "_rn")
            .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert got["_rn"].tolist() == want["_rn"].tolist()
    # column-order contract: df's columns first, then the rank
    full = global_rn0(df, out="_rn", bucket_us=bucket_us)
    assert full.columns == df.columns + ["_rn"]


def test_row_chunked_strategy_exact_on_multiday_frame(spark):
    """End-to-end: the row-chunked strategy path (which now keys its
    chunks on the bucket-parallel rank) stays bit-identical to the
    plain path on a frame whose day buckets are uneven."""
    from pandas_ta_spark.plans.strategy import (
        apply_strategy, apply_strategy_chunked_rows)
    from pandas_ta_spark.registry import make

    inds = [make("sma", length=20), make("linreg", length=14),
            make("cfo", length=9)]
    df = _frame(spark, n=1500)
    plain = (apply_strategy(df, inds, auto_chunk_rows=None)
             .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    chunked = (apply_strategy_chunked_rows(df, inds, lookback=19,
                                           chunk_rows=257)
               .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert min_row_chunks(plain, 257) >= 2
    assert list(plain.columns) == list(chunked.columns)
    for c in ("SMA_20", "LR_14", "CFO_9"):
        a = plain[c].to_numpy()
        b = chunked[c].to_numpy()
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        assert same.all(), (c, int((~same).sum()))


def test_renamed_ols_kernel_keeps_pos_dependent(spark):
    """A prefix-renamed OLS-family kernel must still be flagged
    pos_dependent (the _renamed wrapper rebuilds the KernelSpec), so the
    chunked strategy paths attach the global row position and renamed
    chunked output stays bit-identical to the plain path."""
    from pandas_ta_spark.plans.strategy import (
        apply_strategy, apply_strategy_chunked_rows)
    from pandas_ta_spark.registry import make
    from pandas_ta_spark.strategy_spec import _renamed

    ind = _renamed(make("linreg", length=14), "PRE", None)
    assert ind.kernel is not None and ind.kernel.pos_dependent

    inds = [ind, make("sma", length=20)]
    df = _frame(spark, n=1200)
    plain = (apply_strategy(df, inds, auto_chunk_rows=None)
             .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    chunked = (apply_strategy_chunked_rows(df, inds, lookback=19,
                                           chunk_rows=311)
               .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert min_row_chunks(plain, 311) >= 2
    assert "PRE_LR_14" in plain.columns
    for c in ("PRE_LR_14", "SMA_20"):
        a = plain[c].to_numpy()
        b = chunked[c].to_numpy()
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        assert same.all(), (c, int((~same).sum()))


def test_row_chunks_layout(spark):
    """Each row lands in its own chunk, plus a forward copy when it is
    in its chunk's last ``carry`` positions and a backward copy when it
    is in the first ``lead`` positions of a chunk after the first — for
    a NULL symbol too, and without a Union (one rank evaluation)."""
    from pandas_ta_spark.plans.kernels import row_chunks

    df = spark.createDataFrame(pd.concat(
        [make_pdf(47, 3, "A"), make_pdf(23, 5, None)], ignore_index=True))
    u = row_chunks(df, chunk_rows=10, carry=3, lead=2)
    assert "Union" not in u._jdf.queryExecution().optimizedPlan().toString()
    got = sorted(
        (r["symbol"] or "", r["_pts_rn0"], r["_chk"], r["_carry"])
        for r in u.select("symbol", "_pts_rn0", "_chk", "_carry").collect())
    want = []
    for sym, n in (("A", 47), ("", 23)):
        for rn in range(n):
            k, pos = divmod(rn, 10)
            want.append((sym, rn, k, 0))
            if pos >= 10 - 3:
                want.append((sym, rn, k + 1, 1))
            if pos < 2 and k > 0:
                want.append((sym, rn, k - 1, 1))
    assert got == sorted(want)


def _null_symbol_frame(spark):
    return spark.createDataFrame(pd.concat(
        [make_pdf(300, 3, "A"), make_pdf(250, 5, None),
         make_pdf(200, 9, "B")], ignore_index=True)).repartition(3)


def _assert_same(want: pd.DataFrame, got: pd.DataFrame, cols) -> None:
    want = want.sort_values(["symbol", "ts"]).reset_index(drop=True)
    got = got.sort_values(["symbol", "ts"]).reset_index(drop=True)
    assert len(want) == len(got)
    for c in ["symbol", "ts", *cols]:
        a, b = want[c], got[c]
        same = (a == b) | (a.isna() & b.isna())
        assert same.all(), (c, int((~same).sum()))


def test_null_symbol_parity_across_routes(spark, monkeypatch):
    """A NULL-symbol series is one more series on every route: the
    plain path, the row route (with a lead-row kernel), the time route,
    the auto-router with its plain-path join-back, and Indicator.apply
    (plain and routed) give the plain path's rows and values bit for
    bit. The rank's inner join used to drop the NULL-symbol rows."""
    from pandas_ta_spark.operators import momentum, overlap, statistics, trend
    from pandas_ta_spark.plans import strategy as S

    df = _null_symbol_frame(spark)
    inds = [overlap.sma(20), statistics.stdev(30), momentum.slope(5),
            trend.dpo(centered=True), overlap.ema(10)]
    cols = [c for i in inds for c in i.outputs]
    plain = S.apply_strategy(df, inds, auto_chunk_rows=None).toPandas()
    assert plain["symbol"].isna().sum() == 250
    assert min_row_chunks(plain, 64) >= 2
    for ind in inds:
        _assert_same(plain, ind.apply(df).toPandas(), ind.outputs)

    lb, safe, unsafe = S.split_chunkable(inds)
    rows = S.apply_strategy_chunked_rows(df, safe, lb, 64).toPandas()
    _assert_same(plain, rows, [c for i in safe for c in i.outputs])
    assert [i.key for i in unsafe] == ["ema"]

    no_lead = [i for i in safe if not i.kernel or not i.kernel.lead_rows]
    timed = S.apply_strategy_chunked(df, no_lead, lb, chunk="3 days")
    _assert_same(plain, timed.toPandas(),
                 [c for i in no_lead for c in i.outputs])

    routed = route_rows(monkeypatch, 64)
    auto = S.apply_strategy(df, inds, auto_chunk_rows=100).toPandas()
    assert routed == [64]
    assert list(auto.columns) == list(plain.columns)
    _assert_same(plain, auto, cols)

    # Indicator.apply through the router: every symbol counts as hot
    monkeypatch.setattr(S, "_max_rows_per_symbol", lambda df_: 2_000_000)
    for ind in inds:
        _assert_same(plain, ind.apply(df).toPandas(), ind.outputs)
    assert routed == [64] * (1 + len(safe))


def test_null_ts_raises_on_chunked_routes(spark, monkeypatch):
    """The window order and the kernel runner's argsort place a NULL ts
    differently, so no chunk assignment matches the plain path: every
    chunked route raises on it instead of dropping or misplacing it."""
    from pandas_ta_spark.operators import overlap, statistics
    from pandas_ta_spark.plans import strategy as S

    pdf = pd.concat([make_pdf(400, 3, "A"), make_pdf(400, 5, "B")],
                    ignore_index=True)
    pdf.loc[100, "ts"] = pd.NaT
    df = spark.createDataFrame(pdf)
    assert df.filter("ts IS NULL").count() == 1
    inds = [overlap.sma(20), statistics.stdev(30)]
    with pytest.raises(Exception, match="NULL ts"):
        S.apply_strategy_chunked_rows(df, inds, 29, 64).collect()
    with pytest.raises(Exception, match="NULL ts"):
        S.apply_strategy_chunked(df, inds, 29, chunk="3 days").collect()
    route_rows(monkeypatch, 64)
    with pytest.raises(Exception, match="NULL ts"):
        S.apply_strategy(df, inds, auto_chunk_rows=100).collect()
