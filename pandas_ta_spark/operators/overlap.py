"""overlap/ package ops (SURVEY.md §2.2) — moving averages & price overlays.

Every factory returns an ``Indicator`` carrying its execution plan and its
DuckDB oracle twin. PROJ ops and the min/max ROLL ops are Catalyst
expressions; the rolling means, the WROLL family, the anchored cumulative
vwap and the EWM ops run as pandas kernels in the single batched
applyInPandas pass (plans/kernels.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandas_ta_spark.functions import mathutils as mu
from pandas_ta_spark.functions.naming import name
from pandas_ta_spark.functions.pdkernels import ema_pd, ewm_seeded, rma_pd
from pandas_ta_spark.functions.windows import (
    SQL_W_ORDER,
    masked,
    roll,
    sql_masked,
    sql_roll,
    sql_shift,
    sql_wroll,
    w_order,
)
from pandas_ta_spark.operators.base import Indicator, KernelSpec

CAT = "overlap"


# ---------------------------------------------------------------- PROJ ----

def hl2():
    """(high+low)/2 — pandas_ta/overlap/hl2.py#hl2."""
    out = "HL2"
    e = (F.col("high") + F.col("low")) / 2
    return Indicator("hl2", [out], CAT, final={out: e},
                     sql_final={out: "(high + low) / 2"})


def hlc3():
    """(h+l+c)/3 — pandas_ta/overlap/hlc3.py#hlc3."""
    out = "HLC3"
    e = (F.col("high") + F.col("low") + F.col("close")) / 3
    return Indicator("hlc3", [out], CAT, final={out: e},
                     sql_final={out: "(high + low + close) / 3"})


def ohlc4():
    """(o+h+l+c)/4 — pandas_ta/overlap/ohlc4.py#ohlc4."""
    out = "OHLC4"
    e = (F.col("open") + F.col("high") + F.col("low") + F.col("close")) / 4
    return Indicator("ohlc4", [out], CAT, final={out: e},
                     sql_final={out: "(open + high + low + close) / 4"})


def wcp():
    """weighted close (h+l+2c)/4 — pandas_ta/overlap/wcp.py#wcp."""
    out = "WCP"
    e = (F.col("high") + F.col("low") + 2 * F.col("close")) / 4
    return Indicator("wcp", [out], CAT, final={out: e},
                     sql_final={out: "(high + low + 2 * close) / 4"})


# ---------------------------------------------------------------- ROLL ----

def sma(length: int = 10, src: str = "close", large: bool | None = None):
    """Rolling mean — pandas_ta/overlap/sma.py#sma.

    For large windows (n >= 128, or large=True) the O(w)-per-row sliding
    frame is rewritten as an exact integer cumsum difference
    (SURVEY §4.3.2): sum[t-n+1, t] = S_t - S_{t-n} with S an expanding
    BIGINT sum of 1e-8-quantized terms — O(1)/row, zero cancellation,
    deterministic across engines and partition orders."""
    from pandas_ta_spark.functions.windows import (
        CUM_SCALE,
        LARGE_WINDOW_THRESHOLD,
        SQL_W_ORDER,
        cumsum_int,
        sql_cumsum_int,
    )

    out = name("SMA", length)
    if large is None:
        large = length >= LARGE_WINDOW_THRESHOLD
    if not large:
        def fn(pdf):
            from pandas_ta_spark.functions.pdkernels import roll_mean_seq_pd

            pdf[out] = roll_mean_seq_pd(pdf[src], length)
            return pdf

        return Indicator("sma", [out], CAT,
                         kernel=KernelSpec(fn, [out], [src],
                                           carry_rows=length - 1),
                         sql_final={out: sql_roll("avg", src, length)})
    s_c = f"_sma_{length}_cum"
    prev = F.lag(s_c, length).over(w_order())
    win = (F.col(s_c) - F.coalesce(prev, F.lit(0))) / F.lit(CUM_SCALE) / length
    s_prev = f"lag({s_c}, {length}) OVER ({SQL_W_ORDER})"
    s_win = f"(({s_c}) - coalesce({s_prev}, 0)) / {CUM_SCALE!r} / {length}"
    return Indicator(
        "sma", [out], CAT,
        stages=[{s_c: cumsum_int(src)}],
        final={out: masked(win, src, length)},
        sql_stages=[{s_c: sql_cumsum_int(src)}],
        sql_final={out: sql_masked(s_win, src, length)},
    )


def midpoint(length: int = 2):
    """(max(c,n)+min(c,n))/2 — pandas_ta/overlap/midpoint.py#midpoint."""
    out = name("MIDPOINT", length)
    e = (roll(F.max, "close", length) + roll(F.min, "close", length)) / 2
    s = (f"({sql_roll('max', 'close', length)} + "
         f"{sql_roll('min', 'close', length)}) / 2")
    return Indicator("midpoint", [out], CAT, final={out: e}, sql_final={out: s})


def midprice(length: int = 2):
    """(HH_n+LL_n)/2 — pandas_ta/overlap/midprice.py#midprice."""
    out = name("MIDPRICE", length)
    e = (roll(F.max, "high", length) + roll(F.min, "low", length)) / 2
    s = (f"({sql_roll('max', 'high', length)} + "
         f"{sql_roll('min', 'low', length)}) / 2")
    return Indicator("midprice", [out], CAT, final={out: e}, sql_final={out: s})


def vwma(length: int = 10):
    """SMA(c*v,n)/SMA(v,n) — pandas_ta/overlap/vwma.py#vwma."""
    out = name("VWMA", length)

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import div0_np, roll_sum_seq_pd

        pdf[out] = div0_np(roll_sum_seq_pd(pdf["close"] * pdf["volume"], length),
                           roll_sum_seq_pd(pdf["volume"], length))
        return pdf

    s = (f"({sql_masked(f'sum(close * volume) OVER ({_wr(length)})', 'close * volume', length)})"
         f" / ({sql_roll('sum', 'volume', length)})")
    return Indicator("vwma", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close", "volume"],
                                       carry_rows=length - 1),
                     sql_final={out: s})


def trima(length: int = 10):
    """SMA(SMA(c, half), half), half = round(0.5*(n+1)) —
    pandas_ta/overlap/trima.py#trima (same half-length for BOTH nested
    SMAs, e.g. length=10 -> 6,6)."""
    out = name("TRIMA", length)
    half = round(0.5 * (length + 1))
    tmp = f"_trima_{length}_inner"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_mean_seq_pd

        pdf[out] = roll_mean_seq_pd(roll_mean_seq_pd(pdf["close"], half), half)
        return pdf

    return Indicator(
        "trima", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"],
                          carry_rows=2 * (half - 1)),
        sql_stages=[{tmp: sql_roll("avg", "close", half)}],
        sql_final={out: sql_roll("avg", tmp, half)},
    )


def linreg(length: int = 14, mode: str = "linreg"):
    """Rolling OLS vs bar position — pandas_ta/overlap/linreg.py#linreg.

    The regression runs against the global per-symbol row number, an
    affine shift of the reference's 0-based window x-axis
    (utils/_math.py#linear_regression, x = arange(n)); every mode maps
    back exactly: slope and r are shift-invariant, endpoint = fit at
    x_local=n-1 = icpt_g + slope*rn, intercept = fit at x_local=0 =
    icpt_g + slope*(rn-n+1), tsf = fit at x_local=n = icpt_g +
    slope*(rn+1). modes: linreg (endpoint), slope, intercept, r, tsf.
    """
    kind = {"linreg": "LR", "slope": "LRm", "intercept": "LRb", "tsf": "LRtsf", "r": "LRr"}[mode]
    out = name(kind, length)
    tmp = f"_linreg_{length}_rn"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import (
            global_x0, roll_corr_idx_pd, roll_ols_fit_pd, roll_ols_slope_pd,
        )

        c = pdf["close"]
        x0 = global_x0(pdf)
        if mode == "slope":
            pdf[out] = roll_ols_slope_pd(c, length, x0)
        elif mode == "intercept":
            pdf[out] = roll_ols_fit_pd(c, length, float(1 - length), x0)
        elif mode == "r":
            pdf[out] = roll_corr_idx_pd(c, length, x0)
        elif mode == "tsf":
            pdf[out] = roll_ols_fit_pd(c, length, 1.0, x0)
        else:
            pdf[out] = roll_ols_fit_pd(c, length, 0.0, x0)
        return pdf

    wr = _wr(length)
    s_slope = sql_masked(f"regr_slope(close, {tmp}) OVER ({wr})", "close", length)
    s_icpt = sql_masked(f"regr_intercept(close, {tmp}) OVER ({wr})", "close", length)
    s_r = sql_masked(f"corr(close, {tmp}) OVER ({wr})", "close", length)
    if mode == "slope":
        s_fin = s_slope
    elif mode == "intercept":
        s_fin = f"({s_icpt}) + ({s_slope}) * ({tmp} - {length} + 1)"
    elif mode == "r":
        s_fin = s_r
    elif mode == "tsf":
        s_fin = f"({s_icpt}) + ({s_slope}) * ({tmp} + 1)"
    else:
        s_fin = f"({s_icpt}) + ({s_slope}) * {tmp}"
    return Indicator(
        "linreg", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"], carry_rows=length - 1,
                          pos_dependent=True),
        sql_stages=[{tmp: f"CAST(row_number() OVER ({SQL_W_ORDER}) AS DOUBLE)"}],
        sql_final={out: s_fin},
    )


# --------------------------------------------------------------- WROLL ----

def _wr(n: int) -> str:
    from pandas_ta_spark.functions.windows import sql_w_rows

    return sql_w_rows(n)


def _wroll_kernel(key: str, out: str, weights: list[float], src: str = "close"):
    """One WROLL indicator: the kernel dot product (pdkernels.wroll_pd)
    with its DuckDB twin. Row t reads rows [t - n + 1, t]."""
    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import wroll_pd

        pdf[out] = wroll_pd(pdf[src], weights)
        return pdf

    return Indicator(key, [out], CAT,
                     kernel=KernelSpec(fn, [out], [src],
                                       carry_rows=len(weights) - 1),
                     sql_final={out: sql_wroll(src, weights)})


def wma(length: int = 10, src: str = "close"):
    """Linear-weighted MA — pandas_ta/overlap/wma.py#wma.
    wroll weights are newest-first: weight n for lag 0 ... 1 for lag n-1."""
    return _wroll_kernel("wma", name("WMA", length),
                         list(reversed(mu.linear_weights(length))), src)


def pwma(length: int = 10):
    """Pascal-weighted MA — pandas_ta/overlap/pwma.py#pwma (symmetric)."""
    return _wroll_kernel("pwma", name("PWMA", length),
                         mu.pascals_triangle(length, weighted=True))


def fwma(length: int = 10):
    """Fibonacci-weighted MA — pandas_ta/overlap/fwma.py#fwma (asc: newest
    gets the largest Fibonacci weight -> reversed for lag order)."""
    return _wroll_kernel("fwma", name("FWMA", length),
                         list(reversed(mu.fibonacci(length))))


def swma(length: int = 10):
    """Symmetric-triangle-weighted MA — pandas_ta/overlap/swma.py#swma."""
    return _wroll_kernel("swma", name("SWMA", length), mu.symmetric_triangle(length))


def sinwma(length: int = 14):
    """Sine-weighted MA — pandas_ta/overlap/sinwma.py#sinwma (symmetric)."""
    return _wroll_kernel("sinwma", name("SINWMA", length), mu.sine_weights(length))


def alma(length: int = 10, sigma: float = 6.0, distribution_offset: float = 0.85):
    """Arnaud Legoux MA — pandas_ta/overlap/alma.py#alma. Gaussian weights
    peak toward the newest bar (offset 0.85): weight index i counts from the
    oldest bar, lag order reverses."""
    out = name("ALMA", length, sigma, distribution_offset)
    ws = list(reversed(mu.alma_weights(length, sigma, distribution_offset)))
    return _wroll_kernel("alma", out, ws)


def hma(length: int = 10):
    """Hull MA: WMA(2*WMA(c,n/2) - WMA(c,n), sqrt(n)) —
    pandas_ta/overlap/hma.py#hma."""
    out = name("HMA", length)
    half, root = length // 2, int(length ** 0.5)
    w_half = list(reversed(mu.linear_weights(half)))
    w_full = list(reversed(mu.linear_weights(length)))
    w_root = list(reversed(mu.linear_weights(root)))
    tmp = f"_hma_{length}_raw"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import wroll_pd

        c = pdf["close"]
        pdf[out] = wroll_pd(2 * wroll_pd(c, w_half) - wroll_pd(c, w_full), w_root)
        return pdf

    return Indicator(
        "hma", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"], carry_rows=length + root - 2),
        sql_stages=[{tmp: f"2 * ({sql_wroll('close', w_half)}) - ({sql_wroll('close', w_full)})"}],
        sql_final={out: sql_wroll(tmp, w_root)},
    )


# ----------------------------------------------------------------- CUM ----

# date_trunc units the vwap kernel reproduces: Spark's format names
# (case-insensitive) -> the numpy datetime64 unit of the truncation
_TRUNC_UNITS = {
    "year": "Y", "yyyy": "Y", "yy": "Y", "quarter": "Q",
    "month": "M", "mon": "M", "mm": "M", "week": "W",
    "day": "D", "dd": "D", "hour": "h", "minute": "m", "second": "s",
}


def _trunc_key(ts, unit: str):
    """An int64 key equal for two rows iff ``date_trunc`` maps them to the
    same period. ``ts`` is the kernel's wall-clock time: Arrow hands
    pandas UDFs TIMESTAMP values as naive times in the session time zone,
    the zone Spark's date_trunc truncates in. Weeks start on Monday
    (1970-01-01 was a Thursday)."""
    import numpy as np

    if unit == "Q":
        return ts.astype("datetime64[M]").astype(np.int64) // 3
    if unit == "W":
        return (ts.astype("datetime64[D]").astype(np.int64) + 3) // 7
    return ts.astype(f"datetime64[{unit}]").astype(np.int64)


def vwap(anchor: str = "day"):
    """Anchored VWAP: cumulative sum(hlc3*v)/sum(v) within (symbol, anchor
    period) — pandas_ta/overlap/vwap.py#vwap. The period is
    ``date_trunc(anchor, ts)`` in the session time zone; the running sums
    restart at each period's first bar."""
    try:
        unit = _TRUNC_UNITS[anchor.lower()]
    except KeyError:
        raise ValueError(f"vwap anchor {anchor!r} not in {sorted(_TRUNC_UNITS)}") from None
    out = f"VWAP_{anchor[0].upper()}"

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.functions.pdkernels import (
            div0_np, floor_long_np, running_sum_np,
        )

        key = _trunc_key(pdf["ts"].to_numpy(), unit)
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        tp = (pdf["high"].to_numpy() + pdf["low"].to_numpy()
              + pdf["close"].to_numpy()) / 3
        v = pdf["volume"].to_numpy(dtype="float64")
        # fixed-point numerator: floor(...) is a Spark LONG (NaN -> 0,
        # saturating) and the int64 running sum wraps like Spark's
        # non-ANSI long sum, so in range the numerator is exact and
        # independent of summation order; volume sums are integers
        # already and stay exact
        q = floor_long_np(tp * v * 1e8 + 0.5)
        num = running_sum_np(q, starts).astype("float64") / 1e8
        pdf[out] = div0_np(num, running_sum_np(v, starts))
        return pdf

    sw = (f"PARTITION BY symbol, date_trunc('{anchor}', ts) ORDER BY ts "
          f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    s = (f"(sum(CAST(floor((high + low + close) / 3 * volume * 1e8 + 0.5) AS BIGINT))"
         f" OVER ({sw}) / 1e8) / sum(volume) OVER ({sw})")
    return Indicator("vwap", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["high", "low", "close", "volume"]),
                     sql_final={out: s})


# ----------------------------------------------------------------- EWM ----

def _ewm_kernel(key: str, out: str, fn, inputs=("close",), sql_full=None):
    return Indicator(key, [out], CAT,
                     kernel=KernelSpec(fn, [out], list(inputs)),
                     sql_full=sql_full)


def ema(length: int = 10, presma: bool = True):
    """EMA alpha=2/(n+1) — pandas_ta/overlap/ema.py#ema.

    presma=True (default): SMA(length)-seeded recursion with NULL warmup
    (the reference's ``sma=True`` branch). presma=False: the recursion
    starts at the first value (pandas ``ewm(span=n, adjust=False)`` from
    row 0, the reference's ``sma=False`` branch) — the 1-row seed passes
    the RAW first value through un-rounded on both engines (r12 ADVICE:
    the quantized 1-row "mean" deviated from the reference by up to a
    half grid step propagated through the recursion; a single double
    needs no association-free form, so reference-exactness is free)."""
    out = name("EMA", length)
    seed_n = length if presma else 1

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import ewm_seeded

        pdf[out] = ewm_seeded(pdf["close"], 2.0 / (length + 1), seed_n)
        return pdf

    from pandas_ta_spark.operators.ewm_sql import sql_ewm_simple

    return _ewm_kernel("ema", out, fn,
                       sql_full=sql_ewm_simple(out, "close", 2.0 / (length + 1), seed_n))


def rma(length: int = 10):
    """Wilder MA alpha=1/n — pandas_ta/overlap/rma.py#rma."""
    out = name("RMA", length)

    def fn(pdf):
        pdf[out] = rma_pd(pdf["close"], length)
        return pdf

    from pandas_ta_spark.operators.ewm_sql import sql_ewm_simple

    return _ewm_kernel("rma", out, fn,
                       sql_full=sql_ewm_simple(out, "close", 1.0 / length, length))


def dema(length: int = 10):
    """2*EMA - EMA(EMA) — pandas_ta/overlap/dema.py#dema."""
    from pandas_ta_spark.operators.ewm_sql import EwmStage, ewm_pipeline_sql

    out = name("DEMA", length)
    a = 2.0 / (length + 1)

    def fn(pdf):
        e1 = ema_pd(pdf["close"], length)
        e2 = ema_pd(e1, length)
        pdf[out] = 2 * e1 - e2
        return pdf

    sql = ewm_pipeline_sql(
        [EwmStage("_e1", "close", a, length), EwmStage("_e2", "_e1", a, length)],
        {out: "2 * _e1 - _e2"},
    )
    return _ewm_kernel("dema", out, fn, sql_full=sql)


def tema(length: int = 10):
    """3*(EMA1-EMA2) + EMA3 — pandas_ta/overlap/tema.py#tema."""
    from pandas_ta_spark.operators.ewm_sql import EwmStage, ewm_pipeline_sql

    out = name("TEMA", length)
    a = 2.0 / (length + 1)

    def fn(pdf):
        e1 = ema_pd(pdf["close"], length)
        e2 = ema_pd(e1, length)
        e3 = ema_pd(e2, length)
        pdf[out] = 3 * (e1 - e2) + e3
        return pdf

    sql = ewm_pipeline_sql(
        [EwmStage("_e1", "close", a, length), EwmStage("_e2", "_e1", a, length),
         EwmStage("_e3", "_e2", a, length)],
        {out: "3 * (_e1 - _e2) + _e3"},
    )
    return _ewm_kernel("tema", out, fn, sql_full=sql)


def t3(length: int = 10, a: float = 0.7):
    """Tillson T3: six chained EMAs, vfactor polynomial combine —
    pandas_ta/overlap/t3.py#t3."""
    from pandas_ta_spark.operators.ewm_sql import EwmStage, ewm_pipeline_sql

    out = name("T3", length, a)
    c1 = -(a ** 3)
    c2 = 3 * a * a + 3 * a ** 3
    c3 = -6 * a * a - 3 * a - 3 * a ** 3
    c4 = a ** 3 + 3 * a * a + 3 * a + 1
    al = 2.0 / (length + 1)

    def fn(pdf):
        e = pdf["close"]
        es = []
        for _ in range(6):
            e = ema_pd(e, length)
            es.append(e)
        _, _, e3, e4, e5, e6 = es
        pdf[out] = c1 * e6 + c2 * e5 + c3 * e4 + c4 * e3
        return pdf

    stages = [EwmStage("_e1", "close", al, length)]
    for i in range(2, 7):
        stages.append(EwmStage(f"_e{i}", f"_e{i - 1}", al, length))
    sql = ewm_pipeline_sql(
        stages,
        {out: f"{c1!r} * _e6 + {c2!r} * _e5 + {c3!r} * _e4 + {c4!r} * _e3"},
    )
    return _ewm_kernel("t3", out, fn, sql_full=sql)


def zlma(length: int = 10):
    """Zero-lag EMA: EMA(2c - c.shift(lag)), lag=(n-1)//2 —
    pandas_ta/overlap/zlma.py#zlma."""
    from pandas_ta_spark.operators.ewm_sql import EwmStage, ewm_pipeline_sql

    out = name("ZL_EMA", length)
    lag = (length - 1) // 2

    def fn(pdf):
        src = 2 * pdf["close"] - pdf["close"].shift(lag)
        pdf[out] = ema_pd(src, length)
        return pdf

    sql = ewm_pipeline_sql(
        [EwmStage("_e", "_src", 2.0 / (length + 1), length)],
        {out: "_e"},
        pre={"_src": f"2 * close - ({sql_shift('close', lag)})"},
    )
    return _ewm_kernel("zlma", out, fn, sql_full=sql)


# ------------------------------------------------------- KERNEL / misc ----

def hilo(high_length: int = 13, low_length: int = 21):
    """Gann HiLo Activator — pandas_ta/overlap/hilo.py#hilo. No kernel:
    band events (close crossing yesterday's MA band) emit values, the
    in-between rows hold the last value via last(ignorenulls) (SURVEY.md
    §2.2 hilo trick)."""
    suffix = f"{high_length}_{low_length}"
    o, ol, os_ = f"HILO_{suffix}", f"HILOl_{suffix}", f"HILOs_{suffix}"
    mhi_c, mlo_c, ev_c, st_c = (f"_hilo_mhi_{suffix}", f"_hilo_mlo_{suffix}",
                                f"_hilo_ev_{suffix}", f"_hilo_st_{suffix}")
    from pandas_ta_spark.functions.windows import SQL_W_ALL

    def fn(pdf):
        import numpy as np
        import pandas as pd

        from pandas_ta_spark.functions.pdkernels import roll_mean_seq_pd

        mhi = roll_mean_seq_pd(pdf["high"], high_length)
        mlo = roll_mean_seq_pd(pdf["low"], low_length)
        c = pdf["close"]
        up = (c > mhi.shift(1)).to_numpy()  # NaN compares False = no event
        dn = (c < mlo.shift(1)).to_numpy()
        ev = np.where(up, mlo, np.where(dn, mhi, np.nan))
        st = np.where(up, 1.0, np.where(dn, -1.0, np.nan))
        band = pd.Series(ev, index=c.index).ffill().to_numpy()
        state = pd.Series(st, index=c.index).ffill().to_numpy()
        pdf[o] = band
        pdf[ol] = np.where(state == 1.0, band, np.nan)
        pdf[os_] = np.where(state == -1.0, band, np.nan)
        return pdf

    s_mhi_p, s_mlo_p = sql_shift(mhi_c, 1), sql_shift(mlo_c, 1)
    s_up = f"(close > ({s_mhi_p}))"
    s_dn = f"(close < ({s_mlo_p}))"
    s_ev = f"CASE WHEN {s_up} THEN {mlo_c} WHEN {s_dn} THEN {mhi_c} END"
    s_st = f"CASE WHEN {s_up} THEN 1.0 WHEN {s_dn} THEN -1.0 END"
    s_band = f"last_value({ev_c} IGNORE NULLS) OVER ({SQL_W_ALL})"
    s_state = f"last_value({st_c} IGNORE NULLS) OVER ({SQL_W_ALL})"
    return Indicator(
        "hilo", [o, ol, os_], CAT,
        kernel=KernelSpec(fn, [o, ol, os_], ["high", "low", "close"]),
        sql_stages=[{mhi_c: sql_roll("avg", "high", high_length),
                     mlo_c: sql_roll("avg", "low", low_length)},
                    {ev_c: s_ev, st_c: s_st}],
        sql_final={
            o: s_band,
            ol: f"CASE WHEN ({s_state}) = 1.0 THEN ({s_band}) END",
            os_: f"CASE WHEN ({s_state}) = -1.0 THEN ({s_band}) END",
        },
    )


def ichimoku(tenkan: int = 9, kijun: int = 26, senkou: int = 52):
    """Ichimoku (historical frame): ITS/IKS/ISA/ISB/ICS —
    pandas_ta/overlap/ichimoku.py#ichimoku. The 26-row forward span
    extension is out of frame (documented deviation); the chikou column
    is the reference's non-causal lead.

    Runs in the Arrow kernel pass: six sliding max/min frames cost
    O(n*w) per window function in JVM WindowExec (the single heaviest
    window indicator, ~1.6s of the sf0.1 all-indicator strategy) but are
    deque-O(n) in pandas rolling — and max/min/shift are bit-exact, so
    the ANSI window-SQL oracle twin is unchanged. ``lead_rows`` keeps
    the chikou lead chunk-safe (plans/kernels.py forward carry)."""
    its_o, iks_o = name("ITS", tenkan), name("IKS", kijun)
    isa_o, isb_o = name("ISA", tenkan), name("ISB", kijun)
    ics_o = name("ICS", kijun)
    its_c, iks_c, isb_raw = "_ichi_its", "_ichi_iks", "_ichi_isbr"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_max_pd, roll_min_pd

        hi, lo = pdf["high"], pdf["low"]

        def midprice(n):
            return (roll_max_pd(hi, n) + roll_min_pd(lo, n)) / 2

        its, iks, isb = midprice(tenkan), midprice(kijun), midprice(senkou)
        pdf[isa_o] = ((its + iks) / 2).shift(kijun - 1)
        pdf[isb_o] = isb.shift(kijun - 1)
        pdf[its_o] = its
        pdf[iks_o] = iks
        pdf[ics_o] = pdf["close"].shift(-(kijun - 1))
        return pdf

    def s_midprice(n):
        return (f"(({sql_roll('max', 'high', n)}) +"
                f" ({sql_roll('min', 'low', n)})) / 2")

    return Indicator(
        "ichimoku", [isa_o, isb_o, its_o, iks_o, ics_o], CAT,
        kernel=KernelSpec(
            fn, [isa_o, isb_o, its_o, iks_o, ics_o], ["high", "low", "close"],
            carry_rows=senkou - 1 + kijun - 1, lead_rows=kijun - 1,
        ),
        sql_stages=[{its_c: s_midprice(tenkan), iks_c: s_midprice(kijun),
                     isb_raw: s_midprice(senkou)}],
        sql_final={
            isa_o: sql_shift(f"(({its_c} + {iks_c}) / 2)", kijun - 1),
            isb_o: sql_shift(isb_raw, kijun - 1),
            its_o: its_c,
            iks_o: iks_c,
            ics_o: f"lead(close, {kijun - 1}) OVER ({SQL_W_ORDER})",
        },
    )


def ichimoku_forward(df, tenkan: int = 9, kijun: int = 26, senkou: int = 52,
                     interval: str = "hour"):
    """The reference's SECOND return frame: the kijun-1-row forward cloud
    (span A/B projected ahead of the last bar) —
    pandas_ta/overlap/ichimoku.py#ichimoku. Takes the last kijun-1 rows'
    unshifted span values per symbol and advances ts by kijun-1 bar
    intervals; pass the bar ``interval`` unit explicitly (Spark has no
    index freq to infer)."""
    from pyspark.sql import Window

    its = (roll(F.max, "high", tenkan) + roll(F.min, "low", tenkan)) / 2
    iks = (roll(F.max, "high", kijun) + roll(F.min, "low", kijun)) / 2
    isb = (roll(F.max, "high", senkou) + roll(F.min, "low", senkou)) / 2
    w = Window.partitionBy("symbol")
    out = df.select(
        "symbol", "ts",
        ((its + iks) / 2).alias(name("ISA", tenkan)),
        isb.alias(name("ISB", kijun)),
        F.row_number().over(w_order()).alias("_rn"),
        F.max(F.row_number().over(w_order())).over(w).alias("_mx"),
    )
    shift_expr = F.expr(f"ts + INTERVAL {kijun - 1} {interval}")
    return (
        out.filter(F.col("_rn") > F.col("_mx") - (kijun - 1))
        .select("symbol", shift_expr.alias("ts"),
                name("ISA", tenkan), name("ISB", kijun))
    )


def supertrend(length: int = 7, multiplier: float = 3.0):
    """SuperTrend: ATR bands + direction-flip state machine —
    pandas_ta/overlap/supertrend.py#supertrend (flagship KERNEL op;
    genuinely sequential, Arrow kernel per symbol; value-checked against
    a recursive-CTE DuckDB twin since r9 — see operators/ewm_sql.py)."""
    suffix = f"{length}_{multiplier}"
    outs = [f"SUPERT_{suffix}", f"SUPERTd_{suffix}",
            f"SUPERTl_{suffix}", f"SUPERTs_{suffix}"]

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.operators.momentum import pd_true_range

        h, l, c = (pdf[k].to_numpy() for k in ("high", "low", "close"))
        hl2_ = (h + l) / 2
        atr_ = rma_pd(pd_true_range(pdf, pdf["close"].shift(1)), length).to_numpy()
        n = len(pdf)
        ub = hl2_ + multiplier * atr_
        lb = hl2_ - multiplier * atr_
        trend = np.full(n, np.nan)
        direction = np.full(n, np.nan)
        long_ = np.full(n, np.nan)
        short = np.full(n, np.nan)
        dir_ = 1
        fub, flb = ub.copy(), lb.copy()
        start = length  # first row with valid ATR
        for i in range(start + 1, n):
            # final bands carry forward unless price breaks them
            if not np.isnan(fub[i - 1]):
                if ub[i] < fub[i - 1] or c[i - 1] > fub[i - 1]:
                    fub[i] = ub[i]
                else:
                    fub[i] = fub[i - 1]
                if lb[i] > flb[i - 1] or c[i - 1] < flb[i - 1]:
                    flb[i] = lb[i]
                else:
                    flb[i] = flb[i - 1]
            if c[i] > fub[i - 1]:
                dir_ = 1
            elif c[i] < flb[i - 1]:
                dir_ = -1
            direction[i] = dir_
            if dir_ == 1:
                trend[i] = flb[i]
                long_[i] = flb[i]
            else:
                trend[i] = fub[i]
                short[i] = fub[i]
        pdf[outs[0]], pdf[outs[1]] = trend, direction
        pdf[outs[2]], pdf[outs[3]] = long_, short
        return pdf

    sql = _supertrend_oracle(outs, length, multiplier)
    return Indicator("supertrend", outs, CAT,
                     kernel=KernelSpec(fn, outs, ["high", "low", "close"]),
                     sql_full=sql)


def _supertrend_oracle(outs, length: int, multiplier: float) -> str:
    """Two chained recursions in one WITH RECURSIVE: the ATR (Wilder RMA)
    recursion feeding the band-carry / direction-flip state machine —
    value-level oracle for the flagship KERNEL op."""
    from pandas_ta_spark.operators.base import sql_round
    from pandas_ta_spark.operators.ewm_sql import sql_seed_mean
    from pandas_ta_spark.operators.momentum import _sql_true_range
    from pandas_ta_spark.sources.bars import BARS_FROM_EVENTS_SQL

    a = repr(1.0 / length)
    m = repr(float(multiplier))
    n = length
    # state step: band carry unless broken, then direction flip
    fub = ("CASE WHEN b._ub < r._fub OR b._pc > r._fub"
           " THEN b._ub ELSE r._fub END")
    flb = ("CASE WHEN b._lb > r._flb OR b._pc < r._flb"
           " THEN b._lb ELSE r._flb END")
    dir_ = ("CASE WHEN b.close > r._fub THEN 1"
            " WHEN b.close < r._flb THEN -1 ELSE r._dir END")
    # anchor (first row after warmup): previous 'final' bands are the raw
    # bands of the seed row
    a_fub = "CASE WHEN b._ub < b._ubp OR b._pc > b._ubp THEN b._ub ELSE b._ubp END"
    a_flb = "CASE WHEN b._lb > b._lbp OR b._pc < b._lbp THEN b._lb ELSE b._lbp END"
    a_dir = ("CASE WHEN b.close > b._ubp THEN 1"
             " WHEN b.close < b._lbp THEN -1 ELSE 1 END")
    finals = {
        outs[0]: "CASE WHEN r._dir = 1 THEN r._flb ELSE r._fub END",
        outs[1]: "CAST(r._dir AS DOUBLE)",
        outs[2]: "CASE WHEN r._dir = 1 THEN r._flb END",
        outs[3]: "CASE WHEN r._dir = -1 THEN r._fub END",
    }
    out_sql = ", ".join(f"{sql_round(e)} AS \"{al}\"" for al, e in finals.items())
    wo = "PARTITION BY symbol ORDER BY _rn"
    return f"""WITH RECURSIVE bars AS MATERIALIZED (
{BARS_FROM_EVENTS_SQL}
),
base AS MATERIALIZED (SELECT *, ({_sql_true_range()}) AS _tr,
    row_number() OVER (PARTITION BY symbol ORDER BY ts) AS _rn FROM bars),
satr AS MATERIALIZED (SELECT symbol, _rn, _tr,
    count(_tr) OVER ({wo}) AS _nv,
    {sql_seed_mean('_tr', f'({wo} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)')} AS _sma
    FROM base),
ratr AS (
    -- association-free quantized seed + pandas constant-hold step:
    -- the same mirror as EwmStage (ewm_sql.py) — the kernel's ATR is
    -- rma_pd, whose seed (base.seed_mean) and step carry both
    SELECT symbol, _rn, {sql_round('_sma')} AS _atr
    FROM satr WHERE _nv = {n}
    UNION ALL
    SELECT s.symbol, s._rn,
           CASE WHEN r._atr = s._tr THEN r._atr
           ELSE {a} * s._tr + (1 - {a}) * r._atr END
    FROM satr s JOIN ratr r ON s.symbol = r.symbol AND s._rn = r._rn + 1
),
wb AS MATERIALIZED (
    SELECT b.symbol, b.ts, b._rn, b.close,
           (b.high + b.low) / 2 + {m} * r._atr AS _ub,
           (b.high + b.low) / 2 - {m} * r._atr AS _lb
    FROM base b LEFT JOIN ratr r USING (symbol, _rn)
),
wb2 AS MATERIALIZED (
    SELECT *, lag(_ub) OVER ({wo}) AS _ubp, lag(_lb) OVER ({wo}) AS _lbp,
           lag(close) OVER ({wo}) AS _pc
    FROM wb
),
rst AS (
    SELECT b.symbol, b._rn, ({a_fub}) AS _fub, ({a_flb}) AS _flb,
           ({a_dir}) AS _dir
    FROM wb2 b WHERE b._rn = {n + 2}
    UNION ALL
    SELECT b.symbol, b._rn, ({fub}) AS _fub, ({flb}) AS _flb, ({dir_}) AS _dir
    FROM wb2 b JOIN rst r ON b.symbol = r.symbol AND b._rn = r._rn + 1
)
SELECT b.symbol, b.ts, {out_sql}
FROM wb2 b LEFT JOIN rst r USING (symbol, _rn)"""


def kama(length: int = 10, fast: int = 2, slow: int = 30):
    """Kaufman Adaptive MA: ER-scaled variable-alpha recursion —
    pandas_ta/overlap/kama.py#kama (data-dependent alpha => kernel)."""
    out = name("KAMA", length, fast, slow)
    fr, sr = 2.0 / (fast + 1), 2.0 / (slow + 1)

    def fn(pdf):
        import numpy as np

        c = pdf["close"].to_numpy()
        n = len(pdf)
        res = np.full(n, np.nan)
        if n > length:
            d = np.abs(np.diff(c, prepend=c[0]))
            vol = np.convolve(d, np.ones(length), mode="full")[: n]  # rolling sum
            y = c[: length + 1].mean()  # seed
            res[length] = y
            for i in range(length + 1, n):
                change = abs(c[i] - c[i - length])
                v = vol[i]
                er = change / v if v != 0 else 0.0
                sc = (er * (fr - sr) + sr) ** 2
                y = sc * c[i] + (1 - sc) * y
                res[i] = y
        pdf[out] = res
        return pdf

    from pandas_ta_spark.operators.ewm_sql import recursive_oracle

    s_d = f"abs(coalesce(close - lag(close, 1) OVER ({SQL_W_ORDER}), 0.0))"
    wr = _wr(length)
    er = "CASE WHEN b._vol <> 0 THEN b._chg / b._vol ELSE 0.0 END"
    sc = f"(({er}) * ({fr!r} - {sr!r}) + {sr!r}) ** 2"
    sql = recursive_oracle(
        pre={
            "_ad": s_d,
            "_chg": f"abs(close - lag(close, {length}) OVER ({SQL_W_ORDER}))",
        },
        pre2={
            "_vol": f"sum(_ad) OVER ({wr})",
            # seed: mean of the first n+1 closes, read at the anchor row
            "_seed": (f"avg(close) OVER ({SQL_W_ORDER}"
                      f" ROWS BETWEEN {length} PRECEDING AND CURRENT ROW)"),
        },
        anchor_where=f"b._rn = {length + 1}",
        anchor_state={"_y": "b._seed"},
        step_state={"_y": f"({sc}) * b.close + (1 - ({sc})) * r._y"},
        step_inputs=["close", "_chg", "_vol"],
        final={out: "_y"},
    )
    return Indicator("kama", [out], CAT, kernel=KernelSpec(fn, [out], ["close"]),
                     sql_full=sql)


def mcgd(length: int = 10, c: float = 1.0):
    """McGinley Dynamic: md += (x - md)/(c*n*(x/md)^4) —
    pandas_ta/overlap/mcgd.py#mcgd.

    Domain guard (closes the r6 rows-only entry with an exact value
    oracle): the reference recursion is only meaningful on positive
    price series, where x/md ~ 1 and the denominator c*n*(x/md)^4 ~ c*n.
    On arbitrary real series (the gate's derived bars have negative and
    near-zero closes) the unguarded step overshoots by the 4th power of
    the ratio and the recursion diverges past double range — numpy
    overflows to inf where SQL overflows to NULL, which is why r6 shipped
    this op rows-only. Two guards make the recursion a bounded
    contraction with IDENTICAL cross-engine behavior, while staying inert
    on the reference's valid domain (any c*n >= 1):

    - ratio := 0 when md = 0 (numpy inf vs SQL NULL otherwise; the next
      step then resets md := x, a clean re-anchor);
    - denominator := max(c*n*r^4, 1) — |step| <= |x - md|, so md always
      moves toward x and stays bounded by the data range. Inert when
      c*n*(x/md)^4 >= 1, i.e. everywhere the reference's output is sane.

    r^4 is explicit multiplication ((r*r)*(r*r)) on BOTH engines: IEEE
    multiply is exactly specified, unlike libm pow, so the recursion
    stays bit-identical cross-engine (r*r also makes r^4 >= 0 even for
    negative ratios, removing the sign pathology entirely)."""
    out = name("MCGD", length)
    cl = float(c * length)

    def fn(pdf):
        import numpy as np

        x = pdf["close"].to_numpy()
        n = len(pdf)
        res = np.full(n, np.nan)
        if n:
            md = x[0]
            res[0] = md
            for i in range(1, n):
                r = x[i] / md if md != 0.0 else 0.0
                md = md + (x[i] - md) / max(cl * ((r * r) * (r * r)), 1.0)
                res[i] = md
        pdf[out] = res
        return pdf

    from pandas_ta_spark.operators.ewm_sql import recursive_oracle

    g = "(CASE WHEN r._y <> 0 THEN b.close / r._y ELSE 0.0 END)"
    sql = recursive_oracle(
        pre={},
        anchor_where="b._rn = 1",
        anchor_state={"_y": "b.close"},
        step_state={"_y": (f"r._y + (b.close - r._y)"
                           f" / greatest({cl!r} * (({g} * {g}) * ({g} * {g})), 1.0)")},
        step_inputs=["close"],
        final={out: "_y"},
    )
    return Indicator("mcgd", [out], CAT, kernel=KernelSpec(fn, [out], ["close"]),
                     sql_full=sql)


def vidya(length: int = 14):
    """VIDYA: CMO-scaled variable-alpha recursion —
    pandas_ta/overlap/vidya.py#vidya."""
    out = name("VIDYA", length)
    a = 2.0 / (length + 1)

    def fn(pdf):
        import numpy as np

        c = pdf["close"].to_numpy()
        n = len(pdf)
        res = np.full(n, np.nan)
        # >= not >: the anchor row (index length-1) exists for a group of
        # EXACTLY length rows, and the oracle (anchor_where _rn = length)
        # emits it — n > length suppressed the whole group at the
        # boundary (fuzz gate, tiny profile)
        if n >= length:
            d = np.diff(c, prepend=c[0])
            up = np.where(d > 0, d, 0.0)
            dn = np.where(d < 0, -d, 0.0)
            k = np.ones(length)
            su = np.convolve(up, k, mode="full")[: n]
            sd = np.convolve(dn, k, mode="full")[: n]
            denom = su + sd
            cmo_abs = np.abs(np.divide(su - sd, denom, out=np.zeros_like(denom),
                                       where=denom != 0))
            y = c[length - 1]
            res[length - 1] = y
            for i in range(length, n):
                al = a * cmo_abs[i]
                y = al * c[i] + (1 - al) * y
                res[i] = y
        pdf[out] = res
        return pdf

    from pandas_ta_spark.operators.ewm_sql import recursive_oracle

    s_d = f"coalesce(close - lag(close, 1) OVER ({SQL_W_ORDER}), 0.0)"
    wr = _wr(length)
    cmo = ("CASE WHEN (b._su + b._sd) = 0 THEN 0.0"
           " ELSE abs((b._su - b._sd) / (b._su + b._sd)) END")
    al = f"({a!r} * {cmo})"
    sql = recursive_oracle(
        pre={
            "_up": f"greatest({s_d}, 0.0)",
            "_dn": f"greatest(-({s_d}), 0.0)",
        },
        pre2={
            "_su": f"sum(_up) OVER ({wr})",
            "_sd": f"sum(_dn) OVER ({wr})",
        },
        anchor_where=f"b._rn = {length}",
        anchor_state={"_y": "b.close"},
        step_state={"_y": f"{al} * b.close + (1 - {al}) * r._y"},
        step_inputs=["close", "_su", "_sd"],
        final={out: "_y"},
    )
    return Indicator("vidya", [out], CAT, kernel=KernelSpec(fn, [out], ["close"]),
                     sql_full=sql)


def ssf(length: int = 10, poles: int = 2):
    """Ehlers Super Smoother (2/3-pole IIR) —
    pandas_ta/overlap/ssf.py#ssf."""
    import math

    out = name("SSF", length, poles)

    def fn(pdf):
        import numpy as np

        x = pdf["close"].to_numpy()
        n = len(pdf)
        res = x.astype(float).copy()
        if poles == 3:
            a = math.exp(-math.pi / length)
            b = 2 * a * math.cos(1.738 * math.pi / length)
            c = a * a
            c2 = b + c
            c3 = -(c + b * c)
            c4 = c * c
            c1 = 1 - c2 - c3 - c4
            for i in range(3, n):
                res[i] = (c1 * x[i] + c2 * res[i - 1] + c3 * res[i - 2]
                          + c4 * res[i - 3])
        else:
            a = math.exp(-math.sqrt(2) * math.pi / length)
            b = 2 * a * math.cos(math.sqrt(2) * math.pi / length)
            c2, c3 = b, -a * a
            c1 = 1 - c2 - c3
            for i in range(2, n):
                res[i] = c1 * x[i] + c2 * res[i - 1] + c3 * res[i - 2]
        pdf[out] = res
        return pdf

    sql = None
    if poles == 2:
        from pandas_ta_spark.functions.windows import SQL_W_ORDER
        from pandas_ta_spark.operators.ewm_sql import recursive_oracle

        a = math.exp(-math.sqrt(2) * math.pi / length)
        b_ = 2 * a * math.cos(math.sqrt(2) * math.pi / length)
        c2, c3 = b_, -a * a
        c1 = 1 - c2 - c3
        sql = recursive_oracle(
            pre={"_prevc": f"lag(close, 1) OVER ({SQL_W_ORDER})"},
            anchor_where="b._rn = 2",
            anchor_state={"_y": "b.close", "_yp": "b._prevc"},
            step_state={"_y": f"{c1!r} * b.close + {c2!r} * r._y + {c3!r} * r._yp",
                        "_yp": "r._y"},
            step_inputs=["close"],
            final={out: "coalesce(_y, b.close)"},  # row 1 passes through
        )
    return Indicator("ssf", [out], CAT, kernel=KernelSpec(fn, [out], ["close"]),
                     sql_full=sql)


def hwma(na: float = 0.2, nb: float = 0.1, nc: float = 0.1):
    """Holt-Winter MA: level/trend/season triple recursion —
    pandas_ta/overlap/hwma.py#hwma."""
    out = f"HWMA_{na}_{nb}_{nc}"

    def fn(pdf):
        import numpy as np

        x = pdf["close"].to_numpy()
        n = len(pdf)
        res = np.full(n, np.nan)
        last_a = last_v = 0.0
        last_f = x[0] if n else 0.0
        for i in range(n):
            fl = (1 - na) * (last_f + last_v + 0.5 * last_a) + na * x[i]
            v = (1 - nb) * (last_v + last_a) + nb * (fl - last_f)
            a2 = (1 - nc) * last_a + nc * (v - last_v)
            res[i] = fl + v + 0.5 * a2
            last_f, last_v, last_a = fl, v, a2
        pdf[out] = res
        return pdf

    from pandas_ta_spark.operators.ewm_sql import recursive_oracle

    # anchor mirrors the kernel's first iteration from state
    # (f=x0, v=0, a=0). Step expressions are fully inlined: a bare alias
    # in the recursive SELECT binds to relation columns (r._f) before
    # lateral aliases, silently reading the OLD state.
    a_f0 = f"((1 - {na!r}) * (b.close + 0 + 0.5 * 0) + {na!r} * b.close)"
    a_v0 = f"((1 - {nb!r}) * (0 + 0) + {nb!r} * ({a_f0} - b.close))"
    a_a0 = f"((1 - {nc!r}) * 0 + {nc!r} * ({a_v0} - 0))"
    s_f = f"((1 - {na!r}) * (r._f + r._v + 0.5 * r._a) + {na!r} * b.close)"
    s_v = f"((1 - {nb!r}) * (r._v + r._a) + {nb!r} * ({s_f} - r._f))"
    s_a = f"((1 - {nc!r}) * r._a + {nc!r} * ({s_v} - r._v))"
    sql = recursive_oracle(
        pre={},
        anchor_where="b._rn = 1",
        anchor_state={"_f": a_f0, "_v": a_v0, "_a": a_a0},
        step_state={"_f": s_f, "_v": s_v, "_a": s_a},
        step_inputs=["close"],
        final={out: "_f + _v + 0.5 * _a"},
    )
    return Indicator("hwma", [out], CAT, kernel=KernelSpec(fn, [out], ["close"]),
                     sql_full=sql)


def jma(length: int = 7, phase: float = 0.0):
    """Jurik MA: adaptive multi-stage IIR —
    pandas_ta/overlap/jma.py#jma (public JMA recursion form)."""
    out = name("JMA", length, phase)

    def fn(pdf):
        import numpy as np

        x = pdf["close"].to_numpy()
        n = len(pdf)
        res = np.full(n, np.nan)
        if n:
            beta = 0.45 * (length - 1) / (0.45 * (length - 1) + 2)
            pr = 0.5 if phase < -100 else (2.5 if phase > 100 else phase / 100 + 1.5)
            alpha = beta ** 2  # power=2 default
            e0 = e1 = e2 = 0.0
            jm = x[0]
            res[0] = jm
            e0, e1 = x[0], 0.0
            for i in range(1, n):
                e0 = (1 - alpha) * x[i] + alpha * e0
                e1 = (x[i] - e0) * (1 - beta) + beta * e1
                e2 = (e0 + pr * e1 - jm) * (1 - alpha) ** 2 + alpha ** 2 * e2
                jm = jm + e2
                res[i] = jm
        pdf[out] = res
        return pdf

    from pandas_ta_spark.operators.ewm_sql import recursive_oracle

    beta = 0.45 * (length - 1) / (0.45 * (length - 1) + 2)
    pr = 0.5 if phase < -100 else (2.5 if phase > 100 else phase / 100 + 1.5)
    alpha = beta ** 2
    al, be, prr = repr(alpha), repr(beta), repr(pr)
    e0 = f"((1 - {al}) * b.close + {al} * r._e0)"
    e1 = f"((b.close - {e0}) * (1 - {be}) + {be} * r._e1)"
    e2 = (f"(({e0} + {prr} * {e1} - r._jm) * (1 - {al}) ** 2"
          f" + {al} ** 2 * r._e2)")
    sql = recursive_oracle(
        pre={},
        anchor_where="b._rn = 1",
        anchor_state={"_e0": "b.close", "_e1": "0.0", "_e2": "0.0",
                      "_jm": "b.close"},
        step_state={"_e0": e0, "_e1": e1, "_e2": e2,
                    "_jm": f"(r._jm + {e2})"},
        step_inputs=["close"],
        final={out: "_jm"},
    )
    return Indicator("jma", [out], CAT, kernel=KernelSpec(fn, [out], ["close"]),
                     sql_full=sql)


def ma(name_: str = "sma", **params):
    """MA dispatcher — pandas_ta/overlap/ma.py#ma."""
    from pandas_ta_spark import registry

    return registry.make(name_, **params)


FACTORIES = {
    "hl2": hl2, "hlc3": hlc3, "ohlc4": ohlc4, "wcp": wcp, "sma": sma,
    "midpoint": midpoint, "midprice": midprice, "vwma": vwma, "trima": trima,
    "linreg": linreg, "wma": wma, "pwma": pwma, "fwma": fwma, "swma": swma,
    "sinwma": sinwma, "alma": alma, "hma": hma, "vwap": vwap, "ema": ema,
    "rma": rma, "dema": dema, "tema": tema, "t3": t3, "zlma": zlma,
    "hilo": hilo, "ichimoku": ichimoku, "supertrend": supertrend,
    "kama": kama, "mcgd": mcgd, "vidya": vidya, "ssf": ssf, "hwma": hwma,
    "jma": jma,
}

# driver-facing default-parameter instances (queries()/oracle_sql() keys)
SUITE = {
    "hl2": hl2, "hlc3": hlc3, "ohlc4": ohlc4, "wcp": wcp,
    "sma_20": lambda: sma(20), "sma_200_large": lambda: sma(200),
    "midpoint_2": midpoint, "midprice_2": midprice,
    "vwma_10": vwma, "trima_10": trima, "linreg_14": linreg,
    "linreg_slope_14": lambda: linreg(14, "slope"),
    "wma_10": wma, "pwma_10": pwma, "fwma_10": fwma, "swma_10": swma,
    "sinwma_14": sinwma, "alma_10": alma, "hma_10": hma, "vwap": vwap,
    "ema_10": ema, "ema_noseed_10": lambda: ema(10, presma=False),
    "rma_10": rma, "dema_10": dema, "tema_10": tema,
    "t3_10": t3, "zlma_10": zlma, "hilo_13_21": hilo, "ichimoku": ichimoku,
    "supertrend_7": supertrend, "kama_10": kama, "mcgd_10": mcgd,
    "vidya_14": vidya, "ssf_10": ssf, "hwma": hwma, "jma_7": jma,
}
