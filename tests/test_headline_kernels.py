"""The WROLL, lag and running-sum indicators run as Arrow kernels.

wma/pwma/fwma/swma/sinwma/alma/hma/coppock, mom/roc and vwap/obv used to be
Spark window expressions. Their kernels must keep Spark's non-ANSI
semantics on edge inputs. The reference here is Spark itself, executing
each indicator's SQL twin (the expression the kernel replaced, written as
ANSI SQL) in the same session: the zero-denominator NULLs, the
floor-to-LONG saturation and ``date_trunc`` in the session time zone all
come from the engine, not from a re-derivation.

NULL and NaN both read back as NaN in ``toPandas``, so a kernel's NaN
(which crosses Arrow as NULL) and the expression's NaN compare equal —
the same equivalence every oracle compare in this repo uses.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

N_BARS = 120
T0_US = 1_709_942_400_000_000  # 2024-03-09 00:00 UTC
HOUR_US = 3_600_000_000
# NY local day 2024-03-11 (EDT, after the spring-forward on 03-10):
# [04:00 UTC on 03-11, 04:00 UTC on 03-12) -> bar indexes 52..75
ZERO_VOL = range(52, 76)
ZERO_CLOSE = (30, 31, 90, 91, 92)  # 31 is -0.0
NAN_CLOSE = 40
HUGE_HIGH = (5, 22)  # (h + l + c) / 3 * v * 1e8 > 2^63
HUGE_LOW = (12,)  # ... < -2^63


def _edge_frame(spark):
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    i = np.arange(N_BARS)
    close = 50 + np.cumsum(rng.normal(0, 1, N_BARS))
    for k in ZERO_CLOSE:
        close[k] = 0.0
    close[31] = -0.0
    vol = rng.integers(1, 900, N_BARS).astype("float64")
    vol[list(ZERO_VOL)] = 0.0
    high, low = close + 1.0, close - 1.0
    for k in HUGE_HIGH:
        high[k], vol[k] = 3e15, 1e6
    for k in HUGE_LOW:
        low[k], vol[k] = -5e15, 1e6
    pdf = pd.DataFrame({"i": i, "us": T0_US + i * HOUR_US, "open": close,
                        "high": high, "low": low, "close": close,
                        "volume": vol})
    df = spark.createDataFrame(pdf)
    return df.select(
        F.lit("Z").alias("symbol"),
        F.timestamp_micros("us").alias("ts"),
        "open", "high", "low",
        F.when(F.col("i") == NAN_CLOSE, F.lit(float("nan")))
        .otherwise(F.col("close")).alias("close"),
        "volume",
    ).repartition(2)


def _converted():
    from pandas_ta_spark.operators import momentum, overlap, volume

    return [overlap.wma(10), overlap.pwma(10), overlap.fwma(10),
            overlap.swma(10), overlap.sinwma(14), overlap.alma(10),
            overlap.hma(10), momentum.coppock(), momentum.mom(10),
            momentum.roc(10), overlap.vwap(), volume.obv()]


def _spark_twin(spark, ind, view: str):
    """Run the indicator's SQL twin on Spark over ``view``."""
    rel = view
    for stage in ind.sql_stages or []:
        cols = ", ".join(f"({e}) AS {a}" for a, e in stage.items())
        rel = f"(SELECT *, {cols} FROM {rel})"
    outs = ", ".join(f"({e}) AS `{a}`" for a, e in ind.sql_final.items())
    return spark.sql(f"SELECT symbol, ts, {outs} FROM {rel}")


def _sorted(df) -> pd.DataFrame:
    from pyspark.sql import functions as F

    return (df.withColumn("ts", F.unix_micros("ts")).toPandas()
            .sort_values("ts").reset_index(drop=True))


@pytest.fixture()
def session_conf(spark):
    """Non-ANSI (the library's documented mode) in a non-UTC zone whose
    day boundaries fall mid-UTC-day and which crosses a DST change."""
    keys = ("spark.sql.ansi.enabled", "spark.sql.session.timeZone")
    old = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_converted_kernels_match_spark_on_edge_inputs(session_conf):
    from pandas_ta_spark.plans.strategy import apply_strategy

    spark = session_conf
    df = _edge_frame(spark)
    df.createOrReplaceTempView("edge_bars")
    inds = _converted()
    got = _sorted(apply_strategy(df, inds, auto_chunk_rows=None))
    for ind in inds:
        assert ind.kernel is not None and not ind.stages and not ind.final
        want = _sorted(_spark_twin(spark, ind, "edge_bars"))
        assert (got["ts"] == want["ts"]).all()
        for c in ind.outputs:
            a, b = got[c].to_numpy(), want[c].to_numpy()
            same = (a == b) | (np.isnan(a) & np.isnan(b))
            assert same.all(), (c, np.flatnonzero(~same)[:5],
                                a[~same][:5], b[~same][:5])

    # the edge cases are really exercised, with Spark's semantics
    roc, copc = got["ROC_10"].to_numpy(), got["COPC_11_14_10"].to_numpy()
    assert not np.isinf(roc).any() and not np.isinf(copc).any()
    for k in ZERO_CLOSE:  # x / 0 -> NULL, and coppock's frame with it
        assert np.isnan(roc[k + 10])
        assert np.isnan(copc[k + 11:k + 11 + 10]).all()
    assert np.isnan(got["MOM_10"][NAN_CLOSE])
    assert np.isnan(got["OBV"][NAN_CLOSE:]).all()  # NaN poisons the sum
    assert got["OBV"][:NAN_CLOSE].notna().all()
    vw = got["VWAP_D"].to_numpy()
    assert np.isnan(vw[list(ZERO_VOL)]).all()  # 0 / 0 on the dark day
    assert not np.isnan(vw[ZERO_VOL.stop])  # the next NY day restarts
    # terms beyond the LONG range saturate instead of wrapping or
    # turning NaN; the day's VWAP stays finite
    pdf = _sorted(df)
    grid = ((pdf["high"] + pdf["low"] + pdf["close"]) / 3
            * pdf["volume"] * 1e8).to_numpy()
    assert (grid[list(HUGE_HIGH)] >= 2.0 ** 63).all()
    assert (grid[list(HUGE_LOW)] <= -2.0 ** 63).all()
    assert np.isfinite(vw[list(HUGE_HIGH)]).all()


def test_vwap_day_follows_session_time_zone(session_conf):
    """date_trunc('day', ts) is in the session zone: the same bars give
    different VWAPs under New York and UTC days, each equal to Spark's
    own date_trunc partitioning in that zone."""
    from pyspark.sql import functions as F

    from pandas_ta_spark.operators import overlap
    from pandas_ta_spark.plans.strategy import apply_strategy

    spark = session_conf
    df = _edge_frame(spark)
    df.createOrReplaceTempView("edge_bars")
    ind = overlap.vwap()
    runs = {}
    for tz in ("America/New_York", "UTC"):
        spark.conf.set("spark.sql.session.timeZone", tz)
        got = _sorted(apply_strategy(df, [ind], auto_chunk_rows=None))
        want = _sorted(_spark_twin(spark, ind, "edge_bars"))
        a, b = got["VWAP_D"].to_numpy(), want["VWAP_D"].to_numpy()
        assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), tz
        days = _sorted(df.select("ts", F.date_trunc("day", "ts").alias("d")))
        runs[tz] = (a, days["d"].to_numpy())
    ny, utc = runs["America/New_York"][0], runs["UTC"][0]
    assert not ((ny == utc) | (np.isnan(ny) & np.isnan(utc))).all()
    # the day boundaries themselves differ between the two zones
    assert (runs["America/New_York"][1] != runs["UTC"][1]).any()


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return plan


def test_headline_strategy_is_one_arrow_pass(spark, bars):
    """bench.py's 24-indicator strategy executes with no Window operator
    and exactly one FlatMapGroupsInPandas: adding an expression indicator
    to the headline set must fail here."""
    from bench import strategy_indicators
    from pandas_ta_spark.plans.strategy import apply_strategy

    out = apply_strategy(bars, strategy_indicators())
    rows = out.collect()
    assert len(rows) == bars.count()
    plan = _final_plan(out)
    assert len(re.findall(r"\bWindow\b", plan)) == 0, plan
    assert len(re.findall(r"\bFlatMapGroupsInPandas\b", plan)) == 1, plan
