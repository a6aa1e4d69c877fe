"""momentum/ package ops (SURVEY.md §2.1).

PROJ ops and a few short lag/ROLL ops (slope, bop, ...) compile to Catalyst
expressions over the shared (symbol, ts) spec. The rolling, WROLL and lag
ops (mom, roc, coppock, cci, ...) and the RSI/MACD families (SMA-seeded
exponential recursions, functions/pdkernels.py) run in the batched Arrow
kernel pass; the recursions have exact recursive-CTE DuckDB oracles
(operators/ewm_sql.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandas_ta_spark.functions import mathutils as mu
from pandas_ta_spark.functions.naming import name
from pandas_ta_spark.functions.pdkernels import ema_pd, rma_pd
from pandas_ta_spark.functions.windows import (
    SQL_W_ORDER,
    diff,
    shift,
    sql_diff,
    sql_masked,
    sql_roll,
    sql_shift,
    sql_w_rows,
    sql_wroll,
    w_order,
    sql_const_guard,
)
from pandas_ta_spark.operators.base import Indicator, KernelSpec
from pandas_ta_spark.operators.ewm_sql import EwmStage, ewm_pipeline_sql

CAT = "momentum"

EPS = 2.220446049250313e-16  # float64 machine eps (utils/_core.py#non_zero_range)


def _nzr(a, b):
    """a - b, zeros replaced by machine eps (non_zero_range)."""
    d = a - b
    return d + F.when(d == 0, F.lit(EPS)).otherwise(F.lit(0.0))


def _sql_nzr(a: str, b: str) -> str:
    d = f"(({a}) - ({b}))"
    return f"({d} + CASE WHEN {d} = 0 THEN {EPS!r} ELSE 0.0 END)"


# ------------------------------------------------------------ PROJ/ROLL ----

def _close_and_lag(pdf, k: int):
    """(close, close k rows back) as numpy arrays (NaN before row k)."""
    c = pdf["close"]
    return c.to_numpy(dtype="float64"), c.shift(k).to_numpy(dtype="float64")


def _roc_np(c, prev):
    """100 * (c - prev) / prev; a zero prev gives NULL (non-ANSI x/0)."""
    from pandas_ta_spark.functions.pdkernels import div0_np

    return div0_np(100 * (c - prev), prev)


def mom(length: int = 10):
    """c - c.shift(n) — pandas_ta/momentum/mom.py#mom."""
    out = name("MOM", length)

    def fn(pdf):
        c, prev = _close_and_lag(pdf, length)
        pdf[out] = c - prev
        return pdf

    return Indicator("mom", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close"], carry_rows=length),
                     sql_final={out: sql_diff("close", length)})


def roc(length: int = 10):
    """100*(c - c.shift(n))/c.shift(n) — pandas_ta/momentum/roc.py#roc."""
    out = name("ROC", length)

    def fn(pdf):
        pdf[out] = _roc_np(*_close_and_lag(pdf, length))
        return pdf

    return Indicator("roc", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close"], carry_rows=length),
                     sql_final={out: f"100 * ({sql_diff('close', length)}) / ({sql_shift('close', length)})"})


def slope(length: int = 1, as_angle: bool = False):
    """(c - c.shift(n))/n — pandas_ta/momentum/slope.py#slope."""
    out = name("ANGLEd" if as_angle else "SLOPE", length)
    e = diff("close", length) / length
    s = f"({sql_diff('close', length)}) / {length}"
    if as_angle:
        e = F.degrees(F.atan(e))
        s = f"degrees(atan({s}))"
    return Indicator("slope", [out], CAT, final={out: e}, sql_final={out: s})


def bop(scalar: float = 1.0):
    """(c-o)/(h-l) — pandas_ta/momentum/bop.py#bop."""
    out = "BOP"
    e = F.lit(scalar) * (F.col("close") - F.col("open")) / _nzr(F.col("high"), F.col("low"))
    s = f"{scalar!r} * (close - open) / {_sql_nzr('high', 'low')}"
    return Indicator("bop", [out], CAT, final={out: e}, sql_final={out: s})


def ao(fast: int = 5, slow: int = 34):
    """SMA(hl2,fast) - SMA(hl2,slow) — pandas_ta/momentum/ao.py#ao."""
    out = name("AO", fast, slow)
    med = f"_ao_med"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_mean_seq_pd

        m = (pdf["high"] + pdf["low"]) / 2
        pdf[out] = roll_mean_seq_pd(m, fast) - roll_mean_seq_pd(m, slow)
        return pdf

    return Indicator(
        "ao", [out], CAT,
        kernel=KernelSpec(fn, [out], ["high", "low"],
                          carry_rows=max(fast, slow) - 1),
        sql_stages=[{med: "(high + low) / 2"}],
        sql_final={out: f"({sql_roll('avg', med, fast)}) - ({sql_roll('avg', med, slow)})"},
    )


def apo(fast: int = 12, slow: int = 26, mamode: str = "sma"):
    """MA(c,fast) - MA(c,slow) (default mamode=sma) —
    pandas_ta/momentum/apo.py#apo.

    mamode="ema" switches both legs to SMA-seeded EMAs (the MACD line
    shape) — kernel + recursive-CTE oracle instead of window avgs."""
    out = name("APO", fast, slow)
    if mamode == "ema":
        def fn(pdf):
            pdf[out] = ema_pd(pdf["close"], fast) - ema_pd(pdf["close"], slow)
            return pdf

        sql = ewm_pipeline_sql(
            [
                EwmStage("_ef", "close", 2.0 / (fast + 1), fast),
                EwmStage("_es", "close", 2.0 / (slow + 1), slow),
            ],
            {out: "_ef - _es"},
        )
        return Indicator("apo", [out], CAT,
                         kernel=KernelSpec(fn, [out], ["close"]),
                         sql_full=sql)
    def fn_sma(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_mean_seq_pd

        c = pdf["close"]
        pdf[out] = roll_mean_seq_pd(c, fast) - roll_mean_seq_pd(c, slow)
        return pdf

    s = f"({sql_roll('avg', 'close', fast)}) - ({sql_roll('avg', 'close', slow)})"
    return Indicator("apo", [out], CAT,
                     kernel=KernelSpec(fn_sma, [out], ["close"],
                                       carry_rows=max(fast, slow) - 1),
                     sql_final={out: s})


def bias(length: int = 26):
    """c/SMA(c,n) - 1 — pandas_ta/momentum/bias.py#bias."""
    out = name("BIAS", "SMA", length)

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import div0_np, roll_mean_seq_pd

        sm = roll_mean_seq_pd(pdf["close"], length)
        pdf[out] = div0_np(pdf["close"], sm) - 1
        return pdf

    s = f"close / ({sql_roll('avg', 'close', length)}) - 1"
    return Indicator("bias", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close"],
                                       carry_rows=length - 1),
                     sql_final={out: s})


def brar(length: int = 26):
    """AR = 100*sum(h-o)/sum(o-l); BR uses prev close —
    pandas_ta/momentum/brar.py#brar."""
    ar, br = name("AR", length), name("BR", length)
    sp = sql_shift("close", 1)
    s_hcy = f"CASE WHEN {sp} IS NULL THEN NULL ELSE greatest(0.0, high - {sp}) END"
    s_cyl = f"CASE WHEN {sp} IS NULL THEN NULL ELSE greatest(0.0, {sp} - low) END"
    ts = {"_brar_ho": "(high - open)", "_brar_ol": "(open - low)",
          "_brar_hcy": s_hcy, "_brar_cyl": s_cyl}

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.functions.pdkernels import roll_sum_pd

        h, low, o, c = pdf["high"], pdf["low"], pdf["open"], pdf["close"]
        prevc = c.shift(1)
        hcy = np.maximum(0.0, h - prevc)  # NaN-propagating greatest
        cyl = np.maximum(0.0, prevc - low)

        def ratio(num, den):
            # zero denominator -> NaN, matching the SQL twin's NULL
            # (DuckDB x/0 is NULL; numpy's inf/nan diverged — fuzz gate:
            # a monotone series makes every bar's open == low, so the
            # o-l window sum is EXACTLY 0 for 26 straight bars)
            return (100 * num / den).where(den != 0)

        pdf[ar] = ratio(roll_sum_pd(h - o, length), roll_sum_pd(o - low, length))
        pdf[br] = ratio(roll_sum_pd(hcy, length), roll_sum_pd(cyl, length))
        return pdf

    return Indicator(
        "brar", [ar, br], CAT,
        kernel=KernelSpec(fn, [ar, br], ["open", "high", "low", "close"],
                          carry_rows=length),
        sql_stages=[ts],
        sql_final={
            ar: f"100 * ({sql_roll('sum', '_brar_ho', length)}) / ({sql_roll('sum', '_brar_ol', length)})",
            br: f"100 * ({sql_roll('sum', '_brar_hcy', length)}) / ({sql_roll('sum', '_brar_cyl', length)})",
        },
    )


def cci(length: int = 14, c: float = 0.015):
    """(hlc3 - SMA(hlc3,n)) / (c * MAD(hlc3,n)) —
    pandas_ta/momentum/cci.py#cci. Frame-mean-inside MAD via HOF list."""
    out = name("CCI", length, c)
    tp, m = "_cci_tp", f"_cci_{length}_mean"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_mad_pd, roll_mean_pd

        tpv = (pdf["high"] + pdf["low"] + pdf["close"]) / 3
        mean = roll_mean_pd(tpv, length)
        madv = roll_mad_pd(tpv, length)
        pdf[out] = (tpv - mean) / (c * madv)
        return pdf

    s_mad = (
        f"(list_sum(list_transform(list({tp}) OVER ({sql_w_rows(length)}),"
        f" x -> abs(x - {m}))) / {length})"
    )
    s = sql_masked(f"(({tp}) - {m}) / ({c!r} * {s_mad})", tp, length)
    return Indicator(
        "cci", [out], CAT,
        kernel=KernelSpec(fn, [out], ["high", "low", "close"], carry_rows=length - 1),
        sql_stages=[{tp: "(high + low + close) / 3"},
                    {m: sql_roll("avg", tp, length)}],
        sql_final={out: s},
    )


def cfo(length: int = 9):
    """Chande Forecast Osc: 100*(c - linreg(c,n))/c —
    pandas_ta/momentum/cfo.py#cfo."""
    out = name("CFO", length)
    rn = f"_cfo_rn"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import (
            div0_np, global_x0, roll_ols_fit_pd,
        )

        c = pdf["close"]
        fit = roll_ols_fit_pd(c, length, 0.0, global_x0(pdf))
        pdf[out] = div0_np(100 * (c - fit), c)
        return pdf

    wr = sql_w_rows(length)
    s_sl = sql_masked(f"regr_slope(close, {rn}) OVER ({wr})", "close", length)
    s_ic = sql_masked(f"regr_intercept(close, {rn}) OVER ({wr})", "close", length)
    s_fit = f"(({s_ic}) + ({s_sl}) * {rn})"
    return Indicator(
        "cfo", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"], carry_rows=length - 1,
                          pos_dependent=True),
        sql_stages=[{rn: f"CAST(row_number() OVER ({SQL_W_ORDER}) AS DOUBLE)"}],
        sql_final={out: f"100 * (close - {s_fit}) / close"},
    )


def cg(length: int = 10):
    """Center of Gravity: -sum((i+1)*x_{t-i}) / sum(x) —
    pandas_ta/momentum/cg.py#cg (weights n..1 oldest..newest)."""
    out = name("CG", length)
    weights = [float(i + 1) for i in range(length)]  # lag i gets i+1

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import (
            div0_np, roll_sum_seq_pd, wroll_pd,
        )

        c = pdf["close"]
        num = wroll_pd(c, weights, normalize=False)
        pdf[out] = div0_np(-num, roll_sum_seq_pd(c, length))
        return pdf

    s = f"-({sql_wroll('close', weights, normalize=False)}) / ({sql_roll('sum', 'close', length)})"
    return Indicator("cg", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close"],
                                       carry_rows=length - 1),
                     sql_final={out: s})


def cmo(length: int = 14, drift: int = 1):
    """100*(Su - Sd)/(Su + Sd), pandas (non-talib) path —
    pandas_ta/momentum/cmo.py#cmo."""
    out = name("CMO", length)
    d = f"_cmo_d_{drift}"

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.functions.pdkernels import div0_np, roll_sum_seq_pd

        dd = pdf["close"].diff(drift)
        su = roll_sum_seq_pd(np.maximum(dd, 0.0), length)
        sd = roll_sum_seq_pd(np.maximum(-dd, 0.0), length)
        pdf[out] = div0_np(100 * (su - sd), su + sd)
        return pdf

    s_up = f"CASE WHEN {d} IS NULL THEN NULL ELSE greatest({d}, 0.0) END"
    s_dn = f"CASE WHEN {d} IS NULL THEN NULL ELSE greatest(-{d}, 0.0) END"
    s_su = sql_masked(f"sum({s_up}) OVER ({sql_w_rows(length)})", s_up, length)
    s_sd = sql_masked(f"sum({s_dn}) OVER ({sql_w_rows(length)})", s_dn, length)
    return Indicator(
        "cmo", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"],
                          carry_rows=drift + length - 1),
        sql_stages=[{d: sql_diff("close", drift)}],
        sql_final={out: f"100 * (({s_su}) - ({s_sd})) / (({s_su}) + ({s_sd}))"},
    )


def coppock(length: int = 10, fast: int = 11, slow: int = 14):
    """WMA(ROC(c,fast) + ROC(c,slow), length) —
    pandas_ta/momentum/coppock.py#coppock."""
    out = name("COPC", fast, slow, length)
    t = f"_copc_roc_{fast}_{slow}"
    ws = list(reversed(mu.linear_weights(length)))

    def fn(pdf):
        import pandas as pd

        from pandas_ta_spark.functions.pdkernels import wroll_pd

        t_ = (_roc_np(*_close_and_lag(pdf, fast))
              + _roc_np(*_close_and_lag(pdf, slow)))
        pdf[out] = wroll_pd(pd.Series(t_, index=pdf.index), ws)
        return pdf

    s_rf = f"100 * ({sql_diff('close', fast)}) / ({sql_shift('close', fast)})"
    s_rs = f"100 * ({sql_diff('close', slow)}) / ({sql_shift('close', slow)})"
    return Indicator(
        "coppock", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"],
                          carry_rows=max(fast, slow) + length - 1),
        sql_stages=[{t: f"({s_rf}) + ({s_rs})"}],
        sql_final={out: sql_wroll(t, ws)},
    )


def cti(length: int = 12):
    """Correlation Trend Indicator: rolling corr(c, bar index) —
    pandas_ta/momentum/cti.py#cti."""
    out = name("CTI", length)
    rn = "_cti_rn"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import global_x0, roll_corr_idx_pd

        pdf[out] = roll_corr_idx_pd(pdf["close"], length, global_x0(pdf))
        return pdf

    s = sql_masked(f"corr(close, {rn}) OVER ({sql_w_rows(length)})", "close", length)
    return Indicator(
        "cti", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"], carry_rows=length - 1,
                          pos_dependent=True),
        sql_stages=[{rn: f"CAST(row_number() OVER ({SQL_W_ORDER}) AS DOUBLE)"}],
        sql_final={out: s},
    )


def er(length: int = 10, drift: int = 1):
    """Efficiency Ratio: |c - c.shift(n)| / sum(|diff|, n) —
    pandas_ta/momentum/er.py#er."""
    out = name("ER", length)
    ad = f"_er_absd_{drift}"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import div0_np, roll_sum_seq_pd

        c = pdf["close"]
        den = roll_sum_seq_pd(c.diff(drift).abs(), length)
        pdf[out] = div0_np(c.diff(length).abs(), den)
        return pdf

    s = f"abs({sql_diff('close', length)}) / ({sql_roll('sum', ad, length)})"
    return Indicator(
        "er", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"],
                          carry_rows=max(length, drift + length - 1)),
        sql_stages=[{ad: f"abs({sql_diff('close', drift)})"}],
        sql_final={out: s},
    )


def kst(r1=10, r2=15, r3=20, r4=30, s1=10, s2=10, s3=10, s4=15, signal=9):
    """Know Sure Thing — pandas_ta/momentum/kst.py#kst."""
    out = name("KST", r1, r2, r3, r4, s1, s2, s3, s4)
    outs = name("KSTs", signal)
    rocs, sql_stages = [], {}
    for i, (r, s) in enumerate(zip((r1, r2, r3, r4), (s1, s2, s3, s4))):
        t = f"_kst_roc{i}"
        sql_stages[t] = f"100 * ({sql_diff('close', r)}) / ({sql_shift('close', r)})"
        rocs.append((t, s))
    kst_s = " + ".join(
        f"({i + 1} * ({sql_roll('avg', t, s)}))" for i, (t, s) in enumerate(rocs)
    )
    kcol = "_kst_line"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_mean_pd

        c = pdf["close"]
        line = 0.0
        for i, (r, s) in enumerate(zip((r1, r2, r3, r4), (s1, s2, s3, s4))):
            sh = c.shift(r)
            line = line + (i + 1) * roll_mean_pd(100 * (c - sh) / sh, s)
        pdf[out] = line
        pdf[outs] = roll_mean_pd(line, signal)
        return pdf

    carry = max(r + s - 1 for r, s in zip((r1, r2, r3, r4), (s1, s2, s3, s4)))
    return Indicator(
        "kst", [out, outs], CAT,
        kernel=KernelSpec(fn, [out, outs], ["close"],
                          carry_rows=carry + signal - 1),
        sql_stages=[sql_stages, {kcol: kst_s}],
        sql_final={out: kcol, outs: sql_roll("avg", kcol, signal)},
    )


def psl(length: int = 12, drift: int = 1):
    """Psych Line: 100 * count(diff > 0) / n —
    pandas_ta/momentum/psl.py#psl."""
    out = name("PSL", length)
    d = f"_psl_pos_{drift}"

    def fn(pdf):
        import numpy as np
        import pandas as pd

        from pandas_ta_spark.functions.pdkernels import roll_sum_seq_pd

        dd = pdf["close"].diff(drift)
        # NULL diff counts as 0.0 (the expression twin's otherwise(0.0))
        pos = pd.Series(np.where(dd > 0, 1.0, 0.0), index=dd.index)
        pdf[out] = 100 * roll_sum_seq_pd(pos, length) / length
        return pdf

    s = f"100 * ({sql_roll('sum', d, length)}) / {length}"
    return Indicator(
        "psl", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"],
                          carry_rows=drift + length - 1),
        sql_stages=[{d: f"CASE WHEN ({sql_diff('close', drift)}) > 0 THEN 1.0 ELSE 0.0 END"}],
        sql_final={out: s},
    )


def stoch(k: int = 14, d: int = 3, smooth_k: int = 3):
    """%K/%D stochastic (sma smoothing) —
    pandas_ta/momentum/stoch.py#stoch."""
    outk = name("STOCHk", k, d, smooth_k)
    outd = name("STOCHd", k, d, smooth_k)
    raw = "_stoch_raw"
    kcol = "_stoch_k"

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.functions.pdkernels import (
            roll_max_pd, roll_mean_pd, roll_min_pd,
        )

        ll = roll_min_pd(pdf["low"], k)
        hh = roll_max_pd(pdf["high"], k)
        rng = hh - ll
        rng = rng + np.where(rng == 0, EPS, 0.0)
        raw_v = 100 * (pdf["close"] - ll) / rng
        kv = roll_mean_pd(raw_v, smooth_k)
        pdf[outk] = kv
        pdf[outd] = roll_mean_pd(kv, d)
        return pdf

    s_ll = sql_roll("min", "low", k)
    s_hh = sql_roll("max", "high", k)
    s_raw = f"100 * (close - ({s_ll})) / {_sql_nzr(s_hh, s_ll)}"
    return Indicator(
        "stoch", [outk, outd], CAT,
        kernel=KernelSpec(fn, [outk, outd], ["high", "low", "close"],
                          carry_rows=(k - 1) + (smooth_k - 1) + (d - 1)),
        sql_stages=[{raw: s_raw}, {kcol: sql_roll("avg", raw, smooth_k)}],
        sql_final={outk: kcol, outd: sql_roll("avg", kcol, d)},
    )


def willr(length: int = 14):
    """%R = -100*(HH-c)/(HH-LL) — pandas_ta/momentum/willr.py#willr."""
    out = name("WILLR", length)

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.functions.pdkernels import roll_max_pd, roll_min_pd

        ll = roll_min_pd(pdf["low"], length)
        hh = roll_max_pd(pdf["high"], length)
        rng = hh - ll
        rng = rng + np.where(rng == 0, EPS, 0.0)
        pdf[out] = 100 * ((pdf["close"] - ll) / rng - 1)
        return pdf

    s_ll = sql_roll("min", "low", length)
    s_hh = sql_roll("max", "high", length)
    s = f"100 * ((close - ({s_ll})) / {_sql_nzr(s_hh, s_ll)} - 1)"
    return Indicator("willr", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["high", "low", "close"],
                                       carry_rows=length - 1),
                     sql_final={out: s})


def uo(fast: int = 7, medium: int = 14, slow: int = 28):
    """Ultimate Oscillator — pandas_ta/momentum/uo.py#uo."""
    out = name("UO", fast, medium, slow)
    sp = sql_shift("close", 1)
    s_bp = f"CASE WHEN {sp} IS NULL THEN NULL ELSE close - least(low, {sp}) END"
    s_tr = f"CASE WHEN {sp} IS NULL THEN NULL ELSE greatest(high, {sp}) - least(low, {sp}) END"
    b, t = "_uo_bp", "_uo_tr"
    s_avgs = [
        f"(({sql_roll('sum', b, n)}) / ({sql_roll('sum', t, n)}))"
        for n in (fast, medium, slow)
    ]
    s = f"100 * (4 * {s_avgs[0]} + 2 * {s_avgs[1]} + {s_avgs[2]}) / 7"

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.functions.pdkernels import roll_sum_pd

        h, low, c = pdf["high"], pdf["low"], pdf["close"]
        prevc = c.shift(1)
        lo_m = np.minimum(low, prevc)
        bp = c - lo_m
        tr = np.maximum(h, prevc) - lo_m
        a = [roll_sum_pd(bp, n) / roll_sum_pd(tr, n) for n in (fast, medium, slow)]
        pdf[out] = 100 * (4 * a[0] + 2 * a[1] + a[2]) / 7
        return pdf

    return Indicator(
        "uo", [out], CAT,
        kernel=KernelSpec(fn, [out], ["high", "low", "close"],
                          carry_rows=slow),
        sql_stages=[{b: s_bp, t: s_tr}],
        sql_final={out: s},
    )


def td_seq():
    """Tom DeMark Sequential: consecutive count of c vs c.shift(4), reset
    on flip — pandas_ta/momentum/td_seq.py#td_seq. Sessionization trick:
    streak = rn - last rn where the condition failed (no kernel)."""
    from pandas_ta_spark.functions.windows import SQL_W_ALL, w_all

    up_o, dn_o = "TD_SEQ_UPa", "TD_SEQ_DNa"
    c4 = shift("close", 4)
    s4 = sql_shift("close", 4)
    # stage 1: rn + condition flags (lag windows); stage 2: streak via
    # max-over-all window — two stages because windows cannot nest
    rn_c, up_c, dn_c = "_td_rn", "_td_up", "_td_dn"
    stage1 = {
        rn_c: F.row_number().over(w_order()),
        up_c: ((F.col("close") > c4) & c4.isNotNull()).cast("int"),
        dn_c: ((F.col("close") < c4) & c4.isNotNull()).cast("int"),
    }
    s_stage1 = {
        rn_c: f"row_number() OVER ({SQL_W_ORDER})",
        up_c: f"CAST((close > ({s4}) AND ({s4}) IS NOT NULL) AS INT)",
        dn_c: f"CAST((close < ({s4}) AND ({s4}) IS NOT NULL) AS INT)",
    }
    # streak = rn - (last rn where the condition failed); a failing current
    # row resets to 0 because rn - rn = 0
    up_last = F.max(F.when(F.col(up_c) == 0, F.col(rn_c))).over(w_all())
    dn_last = F.max(F.when(F.col(dn_c) == 0, F.col(rn_c))).over(w_all())
    up_e = (F.col(rn_c) - F.coalesce(up_last, F.lit(0))).cast("double")
    dn_e = (F.col(rn_c) - F.coalesce(dn_last, F.lit(0))).cast("double")
    s_up = (f"CAST({rn_c} - coalesce(max(CASE WHEN {up_c} = 0 THEN {rn_c} END)"
            f" OVER ({SQL_W_ALL}), 0) AS DOUBLE)")
    s_dn = (f"CAST({rn_c} - coalesce(max(CASE WHEN {dn_c} = 0 THEN {rn_c} END)"
            f" OVER ({SQL_W_ALL}), 0) AS DOUBLE)")
    return Indicator(
        "td_seq", [up_o, dn_o], CAT,
        stages=[stage1],
        final={up_o: up_e, dn_o: dn_e},
        sql_stages=[s_stage1],
        sql_final={up_o: s_up, dn_o: s_dn},
    )


# ------------------------------------------------------------ EWM family ----

def rsi(length: int = 14, scalar: float = 100.0, drift: int = 1):
    """RSI = scalar * RMA(gains)/(RMA(gains) + RMA(losses)) —
    pandas_ta/momentum/rsi.py#rsi (Wilder RMA, SMA-seeded — see
    functions/pdkernels.py semantics note)."""
    out = name("RSI", length)
    a = 1.0 / length

    def fn(pdf):
        d = pdf["close"].diff(drift)
        pg = rma_pd(d.clip(lower=0), length)
        pl = rma_pd((-d).clip(lower=0), length)
        pdf[out] = scalar * pg / (pg + pl)
        return pdf

    d = "_d"
    up = f"CASE WHEN {d} IS NULL THEN NULL ELSE greatest({d}, 0.0) END"
    dn = f"CASE WHEN {d} IS NULL THEN NULL ELSE greatest(-{d}, 0.0) END"
    sql = ewm_pipeline_sql(
        [EwmStage("_pg", up, a, length), EwmStage("_pl", dn, a, length)],
        {out: f"{scalar!r} * _pg / (_pg + _pl)"},
        pre={d: sql_diff("close", drift)},
    )
    return Indicator("rsi", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close"]), sql_full=sql)


def macd(fast: int = 12, slow: int = 26, signal: int = 9):
    """MACD/MACDh/MACDs — pandas_ta/momentum/macd.py#macd."""
    suffix = f"{fast}_{slow}_{signal}"
    om, oh, os_ = f"MACD_{suffix}", f"MACDh_{suffix}", f"MACDs_{suffix}"

    def fn(pdf):
        ef = ema_pd(pdf["close"], fast)
        es = ema_pd(pdf["close"], slow)
        line = ef - es
        sig = ema_pd(line, signal)
        pdf[om] = line
        pdf[oh] = line - sig
        pdf[os_] = sig
        return pdf

    sql = ewm_pipeline_sql(
        [
            EwmStage("_ef", "close", 2.0 / (fast + 1), fast),
            EwmStage("_es", "close", 2.0 / (slow + 1), slow),
            {"_line": "_ef - _es"},
            EwmStage("_sig", "_line", 2.0 / (signal + 1), signal),
        ],
        {om: "_line", oh: "_line - _sig", os_: "_sig"},
    )
    return Indicator("macd", [om, oh, os_], CAT,
                     kernel=KernelSpec(fn, [om, oh, os_], ["close"]),
                     sql_full=sql)


def trix(length: int = 30, signal: int = 9, scalar: float = 100.0, drift: int = 1):
    """TRIX = scalar*ROC1(EMA^3(c,n)); signal = SMA —
    pandas_ta/momentum/trix.py#trix."""
    out = name("TRIX", length, signal)
    outs = name("TRIXs", length, signal)

    def fn(pdf):
        e3 = ema_pd(ema_pd(ema_pd(pdf["close"], length), length), length)
        t = scalar * e3.diff(drift) / e3.shift(drift)
        pdf[out] = t
        pdf[outs] = t.rolling(signal).mean()
        return pdf

    n = length
    a = 2.0 / (n + 1)
    sql = ewm_pipeline_sql(
        [
            EwmStage("_e1", "close", a, n),
            EwmStage("_e2", "_e1", a, n),
            EwmStage("_e3", "_e2", a, n),
            {"_trix": f"{scalar!r} * (_e3 - ({sql_shift('_e3', drift)}))"
                      f" / ({sql_shift('_e3', drift)})"},
        ],
        {out: "_trix", outs: sql_roll("avg", "_trix", signal)},
    )
    return Indicator("trix", [out, outs], CAT,
                     kernel=KernelSpec(fn, [out, outs], ["close"]),
                     sql_full=sql)


def tsi(fast: int = 13, slow: int = 25, signal: int = 13, scalar: float = 100.0):
    """TSI = scalar*EMA(EMA(diff,slow),fast)/EMA(EMA(|diff|,slow),fast);
    signal = EMA(tsi, signal) — pandas_ta/momentum/tsi.py#tsi."""
    out = name("TSI", fast, slow, signal)
    outs = name("TSIs", fast, slow, signal)

    def fn(pdf):
        d = pdf["close"].diff(1)
        num = ema_pd(ema_pd(d, slow), fast)
        den = ema_pd(ema_pd(d.abs(), slow), fast)
        t = scalar * num / den
        pdf[out] = t
        pdf[outs] = ema_pd(t, signal)
        return pdf

    af, asl, asig = 2.0 / (fast + 1), 2.0 / (slow + 1), 2.0 / (signal + 1)
    sql = ewm_pipeline_sql(
        [
            EwmStage("_n1", "_d", asl, slow),
            EwmStage("_n2", "_n1", af, fast),
            EwmStage("_a1", "abs(_d)", asl, slow),
            EwmStage("_a2", "_a1", af, fast),
            {"_tsi": f"{scalar!r} * _n2 / _a2"},
            EwmStage("_sg", "_tsi", asig, signal),
        ],
        {out: "_tsi", outs: "_sg"},
        pre={"_d": sql_diff("close", 1)},
    )
    return Indicator("tsi", [out, outs], CAT,
                     kernel=KernelSpec(fn, [out, outs], ["close"]),
                     sql_full=sql)


def dm(length: int = 14):
    """±DM smoothed by RMA — pandas_ta/momentum/dm.py#dm."""
    op, on_ = name("DMP", length), name("DMN", length)
    a = 1.0 / length

    def fn(pdf):
        up = pdf["high"].diff(1)
        dn = -pdf["low"].diff(1)
        pos = up.where((up > dn) & (up > 0), 0.0)
        neg = dn.where((dn > up) & (dn > 0), 0.0)
        pos[up.isna()] = float("nan")
        neg[dn.isna()] = float("nan")
        pdf[op] = rma_pd(pos, length)
        pdf[on_] = rma_pd(neg, length)
        return pdf

    s_up = sql_diff("high", 1)
    s_dn = f"(-({sql_diff('low', 1)}))"
    pos = (f"CASE WHEN ({s_up}) IS NULL THEN NULL"
           f" WHEN ({s_up}) > ({s_dn}) AND ({s_up}) > 0 THEN ({s_up}) ELSE 0.0 END")
    neg = (f"CASE WHEN ({s_dn}) IS NULL THEN NULL"
           f" WHEN ({s_dn}) > ({s_up}) AND ({s_dn}) > 0 THEN ({s_dn}) ELSE 0.0 END")
    sql = ewm_pipeline_sql(
        [EwmStage("_dmp", "_pos", a, length), EwmStage("_dmn", "_neg", a, length)],
        {op: "_dmp", on_: "_dmn"},
        pre={"_pos": pos, "_neg": neg},
    )
    return Indicator("dm", [op, on_], CAT,
                     kernel=KernelSpec(fn, [op, on_], ["high", "low"]),
                     sql_full=sql)


def eri(length: int = 13):
    """Elder Ray: bull = h - EMA(c,n), bear = l - EMA(c,n) —
    pandas_ta/momentum/eri.py#eri."""
    ob, os_ = name("BULLP", length), name("BEARP", length)

    def fn(pdf):
        e = ema_pd(pdf["close"], length)
        pdf[ob] = pdf["high"] - e
        pdf[os_] = pdf["low"] - e
        return pdf

    sql = ewm_pipeline_sql(
        [EwmStage("_e", "close", 2.0 / (length + 1), length)],
        {ob: "high - _e", os_: "low - _e"},
    )
    return Indicator("eri", [ob, os_], CAT,
                     kernel=KernelSpec(fn, [ob, os_], ["high", "low", "close"]),
                     sql_full=sql)


def kdj(length: int = 9, signal: int = 3):
    """KDJ: RMA-smoothed stochastic — pandas_ta/momentum/kdj.py#kdj."""
    ok, od, oj = name("K", length, signal), name("D", length, signal), name("J", length, signal)
    a = 1.0 / signal

    def fn(pdf):
        ll = pdf["low"].rolling(length).min()
        hh = pdf["high"].rolling(length).max()
        rng = hh - ll
        rng = rng.mask(rng == 0, EPS)
        raw = 100 * (pdf["close"] - ll) / rng
        k = rma_pd(raw, signal)
        d = rma_pd(k, signal)
        pdf[ok] = k
        pdf[od] = d
        pdf[oj] = 3 * k - 2 * d
        return pdf

    s_ll = sql_roll("min", "low", length)
    s_hh = sql_roll("max", "high", length)
    raw = f"100 * (close - ({s_ll})) / {_sql_nzr(s_hh, s_ll)}"
    sql = ewm_pipeline_sql(
        [EwmStage("_k", "_raw", a, signal), EwmStage("_dd", "_k", a, signal)],
        {ok: "_k", od: "_dd", oj: "3 * _k - 2 * _dd"},
        pre={"_raw": raw},
    )
    return Indicator("kdj", [ok, od, oj], CAT,
                     kernel=KernelSpec(fn, [ok, od, oj], ["high", "low", "close"]),
                     sql_full=sql)


def pgo(length: int = 14):
    """Pretty Good Osc: (c - SMA(c,n)) / EMA(TR,n) —
    pandas_ta/momentum/pgo.py#pgo."""
    out = name("PGO", length)

    def fn(pdf):
        prevc = pdf["close"].shift(1)
        tr = pd_true_range(pdf, prevc)
        pdf[out] = (pdf["close"] - pdf["close"].rolling(length).mean()) / ema_pd(tr, length)
        return pdf

    s_tr = _sql_true_range()
    sql = ewm_pipeline_sql(
        [EwmStage("_etr", "_tr", 2.0 / (length + 1), length)],
        {out: f"(close - ({sql_roll('avg', 'close', length)})) / _etr"},
        pre={"_tr": s_tr},
    )
    return Indicator("pgo", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["high", "low", "close"]),
                     sql_full=sql)


def pd_true_range(pdf, prevc):
    """pandas true range with NaN first row (volatility twin)."""
    import pandas as pd

    tr = pd.concat(
        [pdf["high"] - pdf["low"], (pdf["high"] - prevc).abs(), (pdf["low"] - prevc).abs()],
        axis=1,
    ).max(axis=1)
    return tr.where(prevc.notna())


def _sql_true_range(drift: int = 1) -> str:
    sp = sql_shift("close", drift)
    return (f"CASE WHEN ({sp}) IS NULL THEN NULL ELSE"
            f" greatest(high - low, abs(high - ({sp})), abs(low - ({sp}))) END")


def ppo(fast: int = 12, slow: int = 26, signal: int = 9, scalar: float = 100.0):
    """PPO (sma mamode) + EMA signal — pandas_ta/momentum/ppo.py#ppo."""
    suffix = f"{fast}_{slow}_{signal}"
    op, oh, os_ = f"PPO_{suffix}", f"PPOh_{suffix}", f"PPOs_{suffix}"

    def fn(pdf):
        mf = pdf["close"].rolling(fast).mean()
        ms = pdf["close"].rolling(slow).mean()
        line = scalar * (mf - ms) / ms
        sig = ema_pd(line, signal)
        pdf[op] = line
        pdf[oh] = line - sig
        pdf[os_] = sig
        return pdf

    s_f = sql_roll("avg", "close", fast)
    s_s = sql_roll("avg", "close", slow)
    sql = ewm_pipeline_sql(
        [
            {"_line": f"{scalar!r} * (({s_f}) - ({s_s})) / ({s_s})"},
            EwmStage("_sig", "_line", 2.0 / (signal + 1), signal),
        ],
        {op: "_line", oh: "_line - _sig", os_: "_sig"},
    )
    return Indicator("ppo", [op, oh, os_], CAT,
                     kernel=KernelSpec(fn, [op, oh, os_], ["close"]),
                     sql_full=sql)


def pvo(fast: int = 12, slow: int = 26, signal: int = 9, scalar: float = 100.0):
    """PVO: MACD-style on volume — pandas_ta/momentum/pvo.py#pvo."""
    suffix = f"{fast}_{slow}_{signal}"
    op, oh, os_ = f"PVO_{suffix}", f"PVOh_{suffix}", f"PVOs_{suffix}"

    def fn(pdf):
        ef = ema_pd(pdf["volume"], fast)
        es = ema_pd(pdf["volume"], slow)
        line = scalar * (ef - es) / es
        sig = ema_pd(line, signal)
        pdf[op] = line
        pdf[oh] = line - sig
        pdf[os_] = sig
        return pdf

    sql = ewm_pipeline_sql(
        [
            EwmStage("_ef", "volume", 2.0 / (fast + 1), fast),
            EwmStage("_es", "volume", 2.0 / (slow + 1), slow),
            {"_line": f"{scalar!r} * (_ef - _es) / _es"},
            EwmStage("_sig", "_line", 2.0 / (signal + 1), signal),
        ],
        {op: "_line", oh: "_line - _sig", os_: "_sig"},
    )
    return Indicator("pvo", [op, oh, os_], CAT,
                     kernel=KernelSpec(fn, [op, oh, os_], ["volume"]),
                     sql_full=sql)


def stochrsi(length: int = 14, rsi_length: int = 14, k: int = 3, d: int = 3):
    """Stochastic of RSI — pandas_ta/momentum/stochrsi.py#stochrsi."""
    suffix = f"{length}_{rsi_length}_{k}_{d}"
    ok, od = f"STOCHRSIk_{suffix}", f"STOCHRSId_{suffix}"

    def fn(pdf):
        dd = pdf["close"].diff(1)
        pg = rma_pd(dd.clip(lower=0), rsi_length)
        pl = rma_pd((-dd).clip(lower=0), rsi_length)
        r = 100 * pg / (pg + pl)
        ll = r.rolling(length).min()
        hh = r.rolling(length).max()
        raw = 100 * (r - ll) / (hh - ll).mask((hh - ll) == 0, EPS)
        kline = raw.rolling(k).mean()
        pdf[ok] = kline
        pdf[od] = kline.rolling(d).mean()
        return pdf

    a = 1.0 / rsi_length
    up = "CASE WHEN _d IS NULL THEN NULL ELSE greatest(_d, 0.0) END"
    dn = "CASE WHEN _d IS NULL THEN NULL ELSE greatest(-_d, 0.0) END"
    s_ll = sql_roll("min", "_rsi", length)
    s_hh = sql_roll("max", "_rsi", length)
    sql = ewm_pipeline_sql(
        [
            EwmStage("_pg", up, a, rsi_length),
            EwmStage("_pl", dn, a, rsi_length),
            {"_rsi": "100 * _pg / (_pg + _pl)"},
            {"_raw": f"100 * (_rsi - ({s_ll})) / {_sql_nzr(s_hh, s_ll)}"},
            {"_k": sql_roll("avg", "_raw", k)},
        ],
        {ok: "_k", od: sql_roll("avg", "_k", d)},
        pre={"_d": sql_diff("close", 1)},
    )
    return Indicator("stochrsi", [ok, od], CAT,
                     kernel=KernelSpec(fn, [ok, od], ["close"]),
                     sql_full=sql)


def rvgi(length: int = 14, swma_length: int = 4):
    """Relative Vigor: SWMA4(c-o) summed / SWMA4(h-l) summed + SWMA signal
    — pandas_ta/momentum/rvgi.py#rvgi."""
    o_r = name("RVGI", length, swma_length)
    o_s = name("RVGIs", length, swma_length)
    ws = mu.symmetric_triangle(swma_length)
    co_c, hl_c, line_c = "_rvgi_co", "_rvgi_hl", "_rvgi_line"
    s_num = sql_roll("sum", co_c, length)
    s_den = sql_roll("sum", hl_c, length)

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_sum_pd, wroll_pd

        co = wroll_pd(pdf["close"] - pdf["open"], ws)
        hl = wroll_pd(pdf["high"] - pdf["low"], ws)
        line = roll_sum_pd(co, length) / roll_sum_pd(hl, length)
        pdf[o_r] = line
        pdf[o_s] = wroll_pd(line, ws)
        return pdf

    return Indicator(
        "rvgi", [o_r, o_s], CAT,
        kernel=KernelSpec(fn, [o_r, o_s], ["open", "high", "low", "close"],
                          carry_rows=length - 1 + 2 * (swma_length - 1)),
        sql_stages=[{co_c: sql_wroll("(close - open)", ws),
                     hl_c: sql_wroll("(high - low)", ws)},
                    {line_c: f"({s_num}) / ({s_den})"}],
        sql_final={o_r: line_c, o_s: sql_wroll(line_c, ws)},
    )


def inertia(length: int = 20, rvi_length: int = 14):
    """Inertia: linreg(RVI, n) endpoint — pandas_ta/momentum/inertia.py."""
    out = name("INERTIA", length, rvi_length)

    def fn(pdf):
        import numpy as np

        sd = pdf["close"].rolling(rvi_length).std()
        d = pdf["close"].diff(1)
        pos = sd.where(d > 0, 0.0)
        neg = sd.where(d <= 0, 0.0)
        nan = sd.isna() | d.isna()
        pos[nan] = np.nan
        neg[nan] = np.nan
        p = ema_pd(pos, rvi_length)
        nn = ema_pd(neg, rvi_length)
        r = 100 * p / (p + nn)
        from pandas_ta_spark.functions.pdkernels import linreg_end_pd

        pdf[out] = linreg_end_pd(r, length)
        return pdf

    from pandas_ta_spark.functions.windows import sql_w_rows as _swr

    s_sd = sql_roll("stddev_samp", "close", rvi_length)
    s_d = sql_diff("close", 1)
    pos = (f"CASE WHEN ({s_sd}) IS NULL OR ({s_d}) IS NULL THEN NULL"
           f" WHEN ({s_d}) > 0 THEN ({s_sd}) ELSE 0.0 END")
    neg = (f"CASE WHEN ({s_sd}) IS NULL OR ({s_d}) IS NULL THEN NULL"
           f" WHEN ({s_d}) <= 0 THEN ({s_sd}) ELSE 0.0 END")
    a = 2.0 / (rvi_length + 1)
    wr = _swr(length)
    ww = f"PARTITION BY symbol ORDER BY _rn ROWS BETWEEN {length - 1} PRECEDING AND CURRENT ROW"
    s_slope = f"regr_slope(_rvi, _rn) OVER ({ww})"
    s_icpt = f"regr_intercept(_rvi, _rn) OVER ({ww})"
    fit = (f"CASE WHEN count(_rvi) OVER ({ww}) >= {length}"
           f" THEN ({s_icpt}) + ({s_slope}) * _rn END")
    sql = ewm_pipeline_sql(
        [
            EwmStage("_p", "_pos", a, rvi_length),
            EwmStage("_n", "_neg", a, rvi_length),
            {"_rvi": "100 * _p / (_p + _n)"},
        ],
        {out: fit},
        pre={"_pos": pos, "_neg": neg},
    )
    return Indicator("inertia", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close"]),
                     sql_full=sql)


def smi(fast: int = 5, slow: int = 20, signal: int = 5, scalar: float = 1.0):
    """SMI Ergodic = TSI(fast, slow) + EMA signal + oscillator —
    pandas_ta/momentum/smi.py#smi."""
    o = name("SMI", fast, slow, signal)
    o_s = name("SMIs", fast, slow, signal)
    o_o = name("SMIo", fast, slow, signal)

    def fn(pdf):
        d = pdf["close"].diff(1)
        num = ema_pd(ema_pd(d, slow), fast)
        den = ema_pd(ema_pd(d.abs(), slow), fast)
        line = scalar * 100 * num / den
        sig = ema_pd(line, signal)
        pdf[o] = line
        pdf[o_s] = sig
        pdf[o_o] = line - sig
        return pdf

    af, asl, asig = 2.0 / (fast + 1), 2.0 / (slow + 1), 2.0 / (signal + 1)
    sql = ewm_pipeline_sql(
        [
            EwmStage("_n1", "_d", asl, slow),
            EwmStage("_n2", "_n1", af, fast),
            EwmStage("_a1", "abs(_d)", asl, slow),
            EwmStage("_a2", "_a1", af, fast),
            {"_smi": f"{scalar!r} * 100 * _n2 / _a2"},
            EwmStage("_sg", "_smi", asig, signal),
        ],
        {o: "_smi", o_s: "_sg", o_o: "_smi - _sg"},
        pre={"_d": sql_diff("close", 1)},
    )
    return Indicator("smi", [o, o_s, o_o], CAT,
                     kernel=KernelSpec(fn, [o, o_s, o_o], ["close"]),
                     sql_full=sql)


def squeeze(bb_length: int = 20, bb_std: float = 2.0, kc_length: int = 20,
            kc_scalar: float = 1.5, mom_length: int = 12, mom_smooth: int = 6):
    """TTM Squeeze (mamode=sma variant): BB-inside-KC flags + linreg
    momentum — pandas_ta/momentum/squeeze.py#squeeze. Arrow kernel (its
    ~30 masked window expressions were the single most expensive Window
    chain in the all-indicator strategy); SQL twin unchanged."""
    suffix = f"{bb_length}_{bb_std}_{kc_length}_{kc_scalar}"
    o_sqz = f"SQZ_{suffix}"
    o_on, o_off, o_no = "SQZ_ON", "SQZ_OFF", "SQZ_NO"
    tr_c, rn_c, m_c = "_sqz_tr", "_sqz_rn", "_sqz_mom"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import (
            linreg_end_pd, roll_mean_pd, roll_std_pd)

        c = pdf["close"]
        tr = pd_true_range(pdf, c.shift(1))
        mid = roll_mean_pd(c, bb_length)
        sd = roll_std_pd(c, bb_length, ddof=0)
        bbl, bbu = mid - bb_std * sd, mid + bb_std * sd
        kmid = roll_mean_pd(c, kc_length)
        kband = roll_mean_pd(tr, kc_length)
        kcl, kcu = kmid - kc_scalar * kband, kmid + kc_scalar * kband
        ok = bbl.notna() & kcl.notna()  # both NULL-comparisons null together
        on = ((bbl > kcl) & (bbu < kcu)).astype(float).where(ok)
        off = ((bbl < kcl) & (bbu > kcu)).astype(float).where(ok)
        pdf[o_sqz] = linreg_end_pd(c.diff(mom_length), mom_smooth)
        pdf[o_on] = on
        pdf[o_off] = off
        pdf[o_no] = ((on == 0) & (off == 0)).astype(float).where(ok)
        return pdf

    s_mid = sql_roll("avg", "close", bb_length)
    s_sd = sql_const_guard("close", bb_length, "0.0",
                           sql_roll("stddev_pop", "close", bb_length))
    s_bbl, s_bbu = f"(({s_mid}) - {bb_std!r} * ({s_sd}))", f"(({s_mid}) + {bb_std!r} * ({s_sd}))"
    s_kmid = sql_roll("avg", "close", kc_length)
    s_kband = sql_roll("avg", tr_c, kc_length)
    s_kcl = f"(({s_kmid}) - {kc_scalar!r} * ({s_kband}))"
    s_kcu = f"(({s_kmid}) + {kc_scalar!r} * ({s_kband}))"
    wr = sql_w_rows(mom_smooth)
    s_sl = sql_masked(f"regr_slope({m_c}, {rn_c}) OVER ({wr})", m_c, mom_smooth)
    s_ic = sql_masked(f"regr_intercept({m_c}, {rn_c}) OVER ({wr})", m_c, mom_smooth)
    s_on = f"CAST((({s_bbl}) > ({s_kcl})) AND (({s_bbu}) < ({s_kcu})) AS DOUBLE)"
    s_off = f"CAST((({s_bbl}) < ({s_kcl})) AND (({s_bbu}) > ({s_kcu})) AS DOUBLE)"
    return Indicator(
        "squeeze", [o_sqz, o_on, o_off, o_no], CAT,
        kernel=KernelSpec(
            fn, [o_sqz, o_on, o_off, o_no], ["high", "low", "close"],
            carry_rows=max(bb_length, kc_length + 1, mom_length + mom_smooth)),
        sql_stages=[{tr_c: _sql_true_range(), m_c: sql_diff("close", mom_length),
                     rn_c: f"CAST(row_number() OVER ({SQL_W_ORDER}) AS DOUBLE)"}],
        sql_final={
            o_sqz: f"(({s_ic}) + ({s_sl}) * {rn_c})",
            o_on: s_on, o_off: s_off,
            o_no: f"CAST(({s_on}) = 0 AND ({s_off}) = 0 AS DOUBLE)",
        },
    )


def squeeze_pro(bb_length: int = 20, bb_std: float = 2.0, kc_length: int = 20,
                kc_scalar_wide: float = 2.0, kc_scalar_normal: float = 1.5,
                kc_scalar_narrow: float = 1.0, mom_length: int = 12,
                mom_smooth: int = 6):
    """TTM Squeeze Pro: three KC multiplier tiers (wide/normal/narrow) —
    pandas_ta/momentum/squeeze_pro.py#squeeze_pro (sma variant). Arrow
    kernel like squeeze; SQL twin unchanged."""
    suffix = f"{bb_length}_{bb_std}_{kc_length}_{kc_scalar_wide}_{kc_scalar_normal}_{kc_scalar_narrow}"
    o_sqz = f"SQZPRO_{suffix}"
    o_wide, o_norm, o_narrow = "SQZPRO_ON_WIDE", "SQZPRO_ON_NORMAL", "SQZPRO_ON_NARROW"
    o_off, o_no = "SQZPRO_OFF", "SQZPRO_NO"
    tr_c, rn_c, m_c = "_sqzp_tr", "_sqzp_rn", "_sqzp_mom"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import (
            linreg_end_pd, roll_mean_pd, roll_std_pd)

        c = pdf["close"]
        tr = pd_true_range(pdf, c.shift(1))
        mid = roll_mean_pd(c, bb_length)
        sd = roll_std_pd(c, bb_length, ddof=0)
        bbl, bbu = mid - bb_std * sd, mid + bb_std * sd
        kmid = roll_mean_pd(c, kc_length)
        kband = roll_mean_pd(tr, kc_length)
        ok = bbl.notna() & kmid.notna() & kband.notna()

        def on_flag(scalar):
            return ((bbl > kmid - scalar * kband)
                    & (bbu < kmid + scalar * kband)).astype(float).where(ok)

        on_w = on_flag(kc_scalar_wide)
        off = ((bbl < kmid - kc_scalar_wide * kband)
               & (bbu > kmid + kc_scalar_wide * kband)).astype(float).where(ok)
        pdf[o_sqz] = linreg_end_pd(c.diff(mom_length), mom_smooth)
        pdf[o_wide] = on_w
        pdf[o_norm] = on_flag(kc_scalar_normal)
        pdf[o_narrow] = on_flag(kc_scalar_narrow)
        pdf[o_off] = off
        pdf[o_no] = ((on_w == 0) & (off == 0)).astype(float).where(ok)
        return pdf

    s_mid = sql_roll("avg", "close", bb_length)
    s_sd = sql_const_guard("close", bb_length, "0.0",
                           sql_roll("stddev_pop", "close", bb_length))
    s_bbl, s_bbu = f"(({s_mid}) - {bb_std!r} * ({s_sd}))", f"(({s_mid}) + {bb_std!r} * ({s_sd}))"
    s_kmid = sql_roll("avg", "close", kc_length)
    s_kband = sql_roll("avg", tr_c, kc_length)

    def s_on(scalar):
        return (f"CAST((({s_bbl}) > (({s_kmid}) - {scalar!r} * ({s_kband})))"
                f" AND (({s_bbu}) < (({s_kmid}) + {scalar!r} * ({s_kband}))) AS DOUBLE)")

    s_off = (f"CAST((({s_bbl}) < (({s_kmid}) - {kc_scalar_wide!r} * ({s_kband})))"
             f" AND (({s_bbu}) > (({s_kmid}) + {kc_scalar_wide!r} * ({s_kband}))) AS DOUBLE)")
    wr = sql_w_rows(mom_smooth)
    s_sl = sql_masked(f"regr_slope({m_c}, {rn_c}) OVER ({wr})", m_c, mom_smooth)
    s_ic = sql_masked(f"regr_intercept({m_c}, {rn_c}) OVER ({wr})", m_c, mom_smooth)
    outs = [o_sqz, o_wide, o_norm, o_narrow, o_off, o_no]
    s_on_w, s_on_n, s_on_nr = s_on(kc_scalar_wide), s_on(kc_scalar_normal), s_on(kc_scalar_narrow)
    return Indicator(
        "squeeze_pro", outs, CAT,
        kernel=KernelSpec(
            fn, outs, ["high", "low", "close"],
            carry_rows=max(bb_length, kc_length + 1, mom_length + mom_smooth)),
        sql_stages=[{tr_c: _sql_true_range(), m_c: sql_diff("close", mom_length),
                     rn_c: f"CAST(row_number() OVER ({SQL_W_ORDER}) AS DOUBLE)"}],
        sql_final={
            o_sqz: f"(({s_ic}) + ({s_sl}) * {rn_c})",
            o_wide: s_on_w, o_norm: s_on_n, o_narrow: s_on_nr, o_off: s_off,
            o_no: f"CAST(({s_on_w}) = 0 AND ({s_off}) = 0 AS DOUBLE)",
        },
    )


def fisher(length: int = 9, signal: int = 1):
    """Fisher Transform: per-row value recursion —
    pandas_ta/momentum/fisher.py#fisher (Arrow kernel)."""
    o_f, o_s = name("FISHERT", length, signal), name("FISHERTs", length, signal)

    def fn(pdf):
        import numpy as np

        import math

        hl2_ = ((pdf["high"] + pdf["low"]) / 2)
        hh = hl2_.rolling(length).max().tolist()
        ll = hl2_.rolling(length).min().tolist()
        x = hl2_.tolist()
        n = len(pdf)
        fish = [math.nan] * n
        v = 0.0
        prev_f = 0.0
        for i in range(n):
            if math.isnan(hh[i]):
                continue
            rng = hh[i] - ll[i]
            if rng == 0:
                rng = 0.001
            v = 0.66 * ((x[i] - ll[i]) / rng - 0.5) + 0.67 * v
            v = max(min(v, 0.999), -0.999)
            # np.log (not math.log): numpy's float64 ufunc is the ulp
            # contract the recursive-CTE oracle was validated against
            f = 0.5 * (float(np.log((1 + v) / (1 - v))) + prev_f)
            fish[i] = f
            prev_f = f
        fish = np.asarray(fish, dtype="float64")
        pdf[o_f] = fish
        pdf[o_s] = pd_shift(fish, signal)
        return pdf

    from pandas_ta_spark.operators.ewm_sql import recursive_oracle

    rng = "(CASE WHEN (b._hh - b._ll) = 0 THEN 0.001 ELSE b._hh - b._ll END)"

    def v_expr(prev_v: str) -> str:
        raw = f"(0.66 * ((b._hl2 - b._ll) / {rng} - 0.5) + 0.67 * {prev_v})"
        return f"greatest(least({raw}, 0.999), -0.999)"

    def f_expr(v: str, prev_f: str) -> str:
        return f"(0.5 * (ln((1 + {v}) / (1 - {v})) + {prev_f}))"

    wr = sql_w_rows(length).replace("ORDER BY ts", "ORDER BY ts")
    sql = recursive_oracle(
        pre={"_hl2": "(high + low) / 2"},
        pre2={
            "_hh": f"max(_hl2) OVER ({sql_w_rows(length)})",
            "_ll": f"min(_hl2) OVER ({sql_w_rows(length)})",
        },
        anchor_where=f"b._rn = {length}",
        anchor_state={"_v": v_expr("0.0"), "_f": f_expr(v_expr("0.0"), "0.0")},
        step_state={"_v": v_expr("r._v"), "_f": f_expr(v_expr("r._v"), "r._f")},
        step_inputs=["_hl2", "_hh", "_ll"],
        final={
            o_f: "_f",
            o_s: f"lag(_f, {signal}) OVER (PARTITION BY b.symbol ORDER BY b._rn)",
        },
    )
    return Indicator("fisher", [o_f, o_s], CAT,
                     kernel=KernelSpec(fn, [o_f, o_s], ["high", "low"]),
                     sql_full=sql)


def pd_shift(arr, k: int):
    import numpy as np

    out = np.full(len(arr), np.nan)
    if k < len(arr):
        out[k:] = arr[: len(arr) - k]
    return out


def rsx(length: int = 14):
    """Jurik RSX: noise-free RSI (multi-stage IIR loop) —
    pandas_ta/momentum/rsx.py#rsx."""
    out = name("RSX", length)

    def fn(pdf):
        import numpy as np

        c = pdf["close"].to_numpy().tolist()
        n = len(pdf)
        res = np.full(n, np.nan)
        f8 = f10 = v8 = 0.0
        f28 = f30 = f38 = f40 = f48 = f50 = f58 = f60 = f68 = f70 = f78 = f80 = 0.0
        f90 = f88 = 0.0
        for i in range(n):
            if f90 == 0.0:
                f90, f0 = 1.0, 0.0
                f88 = length - 1.0 if length - 1.0 >= 5 else 5.0
                f8 = 100.0 * c[i]
                f18 = 3.0 / (length + 2.0)
                f20 = 1.0 - f18
            else:
                f90 = f88 + 1 if f88 <= f90 else f90 + 1
                f10 = f8
                f8 = 100.0 * c[i]
                v8 = f8 - f10
                f28 = f20 * f28 + f18 * v8
                f30 = f18 * f28 + f20 * f30
                vc = 1.5 * f28 - 0.5 * f30
                f38 = f20 * f38 + f18 * vc
                f40 = f18 * f38 + f20 * f40
                v10 = 1.5 * f38 - 0.5 * f40
                f48 = f20 * f48 + f18 * v10
                f50 = f18 * f48 + f20 * f50
                v14 = 1.5 * f48 - 0.5 * f50
                f58 = f20 * f58 + f18 * abs(v8)
                f60 = f18 * f58 + f20 * f60
                v18 = 1.5 * f58 - 0.5 * f60
                f68 = f20 * f68 + f18 * v18
                f70 = f18 * f68 + f20 * f70
                v1x = 1.5 * f68 - 0.5 * f70
                f78 = f20 * f78 + f18 * v1x
                f80 = f18 * f78 + f20 * f80
                v3x = 1.5 * f78 - 0.5 * f80
                if f88 >= f90 and f8 != f10:
                    f0 = 1.0
                if f88 == f90 and f0 == 0.0:
                    f90 = 0.0
                if f88 < f90 and v3x > 1e-10:
                    v4 = (v14 / v3x + 1.0) * 50.0
                    v4 = min(max(v4, 0.0), 100.0)
                    res[i] = v4
        pdf[out] = res
        return pdf

    sql = _rsx_oracle(out, length)
    return Indicator("rsx", [out], CAT, kernel=KernelSpec(fn, [out], ["close"]),
                     sql_full=sql)


def _rsx_oracle(out: str, length: int) -> str:
    """RSX 15-float-state cascade as one recursion; smoother updates are
    inlined in the kernel's exact order (each stage reads the NEW value
    of the one before it). The f90 re-init branch (constant-price warmup)
    is not modeled — it cannot trigger once any price changes."""
    from pandas_ta_spark.operators.ewm_sql import recursive_oracle

    f88 = int(length - 1 if length - 1 >= 5 else 5)
    f18 = repr(3.0 / (length + 2.0))
    f20 = repr(1.0 - 3.0 / (length + 2.0))
    v8 = "(100.0 * b.close - r._f8)"
    f28 = f"({f20} * r._f28 + {f18} * {v8})"
    f30 = f"({f18} * {f28} + {f20} * r._f30)"
    vc = f"(1.5 * {f28} - 0.5 * {f30})"
    f38 = f"({f20} * r._f38 + {f18} * {vc})"
    f40 = f"({f18} * {f38} + {f20} * r._f40)"
    f48v = f"({f20} * r._f48 + {f18} * (1.5 * {f38} - 0.5 * {f40}))"
    f50 = f"({f18} * {f48v} + {f20} * r._f50)"
    f58 = f"({f20} * r._f58 + {f18} * abs({v8}))"
    f60 = f"({f18} * {f58} + {f20} * r._f60)"
    f68 = f"({f20} * r._f68 + {f18} * (1.5 * {f58} - 0.5 * {f60}))"
    f70 = f"({f18} * {f68} + {f20} * r._f70)"
    f78 = f"({f20} * r._f78 + {f18} * (1.5 * {f68} - 0.5 * {f70}))"
    f80 = f"({f18} * {f78} + {f20} * r._f80)"
    f90a = f"(CASE WHEN {f88} <= r._f90 THEN {f88 + 1} ELSE r._f90 + 1 END)"
    f0n = (f"(CASE WHEN {f88} >= {f90a} AND 100.0 * b.close <> r._f8"
           f" THEN 1.0 ELSE r._f0 END)")
    v14 = "(1.5 * _f48 - 0.5 * _f50)"
    v3x = "(1.5 * _f78 - 0.5 * _f80)"
    zero = {c: "0.0" for c in
            ("_f28", "_f30", "_f38", "_f40", "_f48", "_f50", "_f58",
             "_f60", "_f68", "_f70", "_f78", "_f80")}
    return recursive_oracle(
        pre={},
        anchor_where="b._rn = 1",
        anchor_state={"_f8": "100.0 * b.close", "_f90": "1.0", "_f0": "0.0",
                      **zero},
        step_state={
            "_f8": "100.0 * b.close",
            "_f90": f90a,
            "_f0": f0n,
            "_f28": f28, "_f30": f30, "_f38": f38, "_f40": f40,
            "_f48": f48v, "_f50": f50, "_f58": f58, "_f60": f60,
            "_f68": f68, "_f70": f70, "_f78": f78, "_f80": f80,
        },
        step_inputs=["close"],
        final={out: (f"CASE WHEN {f88} < _f90 AND {v3x} > 1e-10 THEN"
                     f" least(greatest(({v14} / {v3x} + 1.0) * 50.0, 0.0),"
                     f" 100.0) END")},
    )


def stc(tclength: int = 10, fast: int = 12, slow: int = 26, factor: float = 0.5):
    """Schaff Trend Cycle: double recursive stochastic of MACD —
    pandas_ta/momentum/stc.py#stc."""
    suffix = f"{tclength}_{fast}_{slow}_{factor}"
    o, o_m, o_s = f"STC_{suffix}", f"STCmacd_{suffix}", f"STCstoch_{suffix}"

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.operators.base import np_round

        # the stoch stages consume the ROUNDED MACD line — the value
        # STCmacd actually reports. The engines' EMA seeds differ in the
        # last ulp (numpy pairwise mean vs the window avg), and the
        # stochastic ratios amplify that into 1e-6-grid flips (fuzz
        # gate); downstream of the shared grid, every remaining op is
        # mirrored 1:1 in the oracle, so the recursions stay
        # bit-identical.
        line = np_round(
            (ema_pd(pdf["close"], fast) - ema_pd(pdf["close"], slow)).to_numpy())
        n = len(pdf)
        import pandas as pd

        import math

        s = pd.Series(line)
        # python-list loop state: ndarray scalar indexing boxes a
        # np.float64 per access (~3x interpreter cost); python floats
        # are the same IEEE doubles, bit-identical arithmetic
        ll = s.rolling(tclength).min().tolist()
        hh = s.rolling(tclength).max().tolist()
        linel = line.tolist()
        stoch1 = [math.nan] * n
        pf = [math.nan] * n
        prev_pf = math.nan
        for i in range(n):
            if math.isnan(hh[i]):
                continue
            rng = hh[i] - ll[i]
            stoch1[i] = 100 * (linel[i] - ll[i]) / rng if rng > 0 else (
                prev_pf if not math.isnan(prev_pf) else 0.0)
            prev_pf = (stoch1[i] if math.isnan(prev_pf)
                       else prev_pf + factor * (stoch1[i] - prev_pf))
            pf[i] = prev_pf
        s2 = pd.Series(pf)
        ll2 = s2.rolling(tclength).min().tolist()
        hh2 = s2.rolling(tclength).max().tolist()
        stc_arr = [math.nan] * n
        prev = math.nan
        for i in range(n):
            if math.isnan(hh2[i]):
                continue
            rng = hh2[i] - ll2[i]
            raw = 100 * (pf[i] - ll2[i]) / rng if rng > 0 else (
                prev if not math.isnan(prev) else 0.0)
            prev = raw if math.isnan(prev) else prev + factor * (raw - prev)
            stc_arr[i] = prev
        pdf[o] = np.asarray(stc_arr, dtype="float64")
        pdf[o_m] = line
        pdf[o_s] = np.asarray(pf, dtype="float64")
        return pdf

    sql = _stc_oracle(o, o_m, o_s, tclength, fast, slow, factor)
    return Indicator("stc", [o, o_m, o_s], CAT,
                     kernel=KernelSpec(fn, [o, o_m, o_s], ["close"]),
                     sql_full=sql)


def _stc_oracle(o, o_m, o_s, tclength, fast, slow, factor) -> str:
    """STC: MACD-line EWM chain -> first %K recursion (factor-smoothed,
    range-zero fallback to previous) -> second stochastic of the smoothed
    series -> second recursion. Three recursions total, chained CTEs."""
    from pandas_ta_spark.operators.base import sql_round
    from pandas_ta_spark.operators.ewm_sql import EwmStage, _emit_ewm_ctes
    from pandas_ta_spark.sources.bars import BARS_FROM_EVENTS_SQL

    f = repr(float(factor))
    n = tclength
    wo = "PARTITION BY symbol ORDER BY _rn"
    wr = f"{wo} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW"
    ctes: list[str] = [f"bars AS MATERIALIZED (\n{BARS_FROM_EVENTS_SQL}\n)"]
    ctes.append(
        "base AS MATERIALIZED (SELECT *, row_number() OVER"
        " (PARTITION BY symbol ORDER BY ts) AS _rn FROM bars)"
    )
    prev = _emit_ewm_ctes(
        [
            EwmStage("_ef", "close", 2.0 / (fast + 1), fast),
            EwmStage("_es", "close", 2.0 / (slow + 1), slow),
            # rounded line — the kernel's np_round twin (see fn above)
            {"_line": sql_round("_ef - _es")},
        ],
        "base", ctes, tag="m",
    )
    ctes.append(
        f"w1 AS MATERIALIZED (SELECT symbol, ts, _rn, _line,"
        f" CASE WHEN count(_line) OVER ({wr}) >= {n}"
        f" THEN min(_line) OVER ({wr}) END AS _ll,"
        f" CASE WHEN count(_line) OVER ({wr}) >= {n}"
        f" THEN max(_line) OVER ({wr}) END AS _hh FROM {prev})"
    )
    ctes.append(
        f"w1b AS MATERIALIZED (SELECT *, lag(_hh) OVER ({wo}) AS _hhp FROM w1)"
    )
    raw1_anchor = ("CASE WHEN (b._hh - b._ll) > 0"
                   " THEN 100 * (b._line - b._ll) / (b._hh - b._ll)"
                   " ELSE 0.0 END")
    raw1_step = ("CASE WHEN (b._hh - b._ll) > 0"
                 " THEN 100 * (b._line - b._ll) / (b._hh - b._ll)"
                 " ELSE r._pf END")
    ctes.append(
        f"r1 AS (SELECT b.symbol, b._rn, CAST(({raw1_anchor}) AS DOUBLE) AS _pf"
        f" FROM w1b b WHERE b._hh IS NOT NULL AND b._hhp IS NULL"
        f" UNION ALL"
        f" SELECT b.symbol, b._rn, r._pf + {f} * (({raw1_step}) - r._pf)"
        f" FROM w1b b JOIN r1 r ON b.symbol = r.symbol AND b._rn = r._rn + 1)"
    )
    ctes.append(
        "pfr AS MATERIALIZED (SELECT w.symbol, w.ts, w._rn, w._line, r._pf"
        " FROM w1b w LEFT JOIN r1 r USING (symbol, _rn))"
    )
    ctes.append(
        f"w2 AS MATERIALIZED (SELECT *,"
        f" CASE WHEN count(_pf) OVER ({wr}) >= {n}"
        f" THEN min(_pf) OVER ({wr}) END AS _ll2,"
        f" CASE WHEN count(_pf) OVER ({wr}) >= {n}"
        f" THEN max(_pf) OVER ({wr}) END AS _hh2 FROM pfr)"
    )
    ctes.append(
        f"w2b AS MATERIALIZED (SELECT *, lag(_hh2) OVER ({wo}) AS _hh2p FROM w2)"
    )
    raw2_anchor = ("CASE WHEN (b._hh2 - b._ll2) > 0"
                   " THEN 100 * (b._pf - b._ll2) / (b._hh2 - b._ll2)"
                   " ELSE 0.0 END")
    raw2_step = ("CASE WHEN (b._hh2 - b._ll2) > 0"
                 " THEN 100 * (b._pf - b._ll2) / (b._hh2 - b._ll2)"
                 " ELSE r._stc END")
    ctes.append(
        f"r2 AS (SELECT b.symbol, b._rn, CAST(({raw2_anchor}) AS DOUBLE) AS _stc"
        f" FROM w2b b WHERE b._hh2 IS NOT NULL AND b._hh2p IS NULL"
        f" UNION ALL"
        f" SELECT b.symbol, b._rn, r._stc + {f} * (({raw2_step}) - r._stc)"
        f" FROM w2b b JOIN r2 r ON b.symbol = r.symbol AND b._rn = r._rn + 1)"
    )
    finals = {o: "r2._stc", o_m: "b._line", o_s: "b._pf"}
    outs = ", ".join(f"{sql_round(e)} AS \"{a}\"" for a, e in finals.items())
    return (
        "WITH RECURSIVE " + ",\n".join(ctes)
        + f"\nSELECT b.symbol, b.ts, {outs}"
        f"\nFROM w2b b LEFT JOIN r2 USING (symbol, _rn)"
    )


def qqe(length: int = 14, smooth: int = 5, factor: float = 4.236):
    """QQE: RSI -> EMA -> ATR-of-RSI trailing stop state machine —
    pandas_ta/momentum/qqe.py#qqe."""
    suffix = f"{length}_{smooth}_{factor}"
    o, o_r, o_l, o_s = (f"QQE_{suffix}", f"QQE_{suffix}_RSIMA",
                        f"QQEl_{suffix}", f"QQEs_{suffix}")

    def fn(pdf):
        import numpy as np

        d = pdf["close"].diff(1)
        pg = rma_pd(d.clip(lower=0), length)
        pl = rma_pd((-d).clip(lower=0), length)
        rsi_ = (100 * pg / (pg + pl))
        rsi_ma = ema_pd(rsi_, smooth)
        atr_rsi = (rsi_ma.diff(1)).abs()
        wilders = 2 * length - 1
        ma_atr = ema_pd(atr_rsi, wilders)
        import math

        dar = (ema_pd(ma_atr, wilders) * factor).tolist()
        m = rsi_ma.tolist()
        n = len(pdf)
        long_band = np.full(n, np.nan)
        short_band = np.full(n, np.nan)
        trend = np.full(n, np.nan)
        qqe_line = np.full(n, np.nan)
        lb = sb = 0.0
        tr_ = 1
        started = False
        for i in range(n):
            if math.isnan(m[i]) or math.isnan(dar[i]):
                continue
            nl = m[i] - dar[i]
            ns = m[i] + dar[i]
            if started:
                prev_m = m[i - 1]
                lb = max(lb, nl) if prev_m > lb else nl
                sb = min(sb, ns) if prev_m < sb else ns
                if m[i] > sb_prev:
                    tr_ = 1
                elif m[i] < lb_prev:
                    tr_ = -1
            else:
                lb, sb = nl, ns
                started = True
            lb_prev, sb_prev = lb, sb
            trend[i] = tr_
            qqe_line[i] = lb if tr_ == 1 else sb
            long_band[i] = lb
            short_band[i] = sb
        pdf[o] = qqe_line
        pdf[o_r] = rsi_ma
        pdf[o_l] = long_band
        pdf[o_s] = short_band
        return pdf

    from pandas_ta_spark.operators.ewm_sql import recursive_oracle

    wilders = 2 * length - 1
    a_rma = 1.0 / length
    up = "CASE WHEN _d IS NULL THEN NULL ELSE greatest(_d, 0.0) END"
    dn = "CASE WHEN _d IS NULL THEN NULL ELSE greatest(-_d, 0.0) END"
    wo = "PARTITION BY symbol ORDER BY _rn"
    nl = "(b._m - b._dar)"
    ns = "(b._m + b._dar)"
    new_lb = (f"CASE WHEN b._mp > r._lb THEN greatest(r._lb, {nl})"
              f" ELSE {nl} END")
    new_sb = (f"CASE WHEN b._mp < r._sb THEN least(r._sb, {ns})"
              f" ELSE {ns} END")
    new_tr = ("CASE WHEN b._m > r._sb THEN 1.0"
              " WHEN b._m < r._lb THEN -1.0 ELSE r._tr END")
    sql = recursive_oracle(
        pre={"_d": sql_diff("close", 1)},
        ewm_steps=[
            EwmStage("_pg", up, a_rma, length),
            EwmStage("_pl", dn, a_rma, length),
            {"_rsi": "100 * _pg / (_pg + _pl)"},
            EwmStage("_m", "_rsi", 2.0 / (smooth + 1), smooth),
            {"_ar": f"abs(_m - lag(_m) OVER ({wo}))"},
            EwmStage("_ma", "_ar", 2.0 / (wilders + 1), wilders),
            EwmStage("_dar0", "_ma", 2.0 / (wilders + 1), wilders),
            {"_dar": f"_dar0 * {factor!r}"},
        ],
        pre2={"_darp": f"lag(_dar) OVER ({wo})",
              "_mp": f"lag(_m) OVER ({wo})"},
        anchor_where="b._dar IS NOT NULL AND b._darp IS NULL",
        anchor_state={"_lb": nl, "_sb": ns, "_tr": "1.0"},
        step_state={"_lb": new_lb, "_sb": new_sb, "_tr": new_tr},
        step_inputs=["_m", "_mp", "_dar"],
        final={
            o: "CASE WHEN _tr = 1.0 THEN _lb ELSE _sb END",
            o_r: "b._m",
            o_l: "_lb",
            o_s: "_sb",
        },
    )
    return Indicator("qqe", [o, o_r, o_l, o_s], CAT,
                     kernel=KernelSpec(fn, [o, o_r, o_l, o_s], ["close"]),
                     sql_full=sql)


FACTORIES = {
    "mom": mom, "roc": roc, "slope": slope, "bop": bop, "ao": ao, "apo": apo,
    "bias": bias, "brar": brar, "cci": cci, "cfo": cfo, "cg": cg, "cmo": cmo,
    "coppock": coppock, "cti": cti, "er": er, "kst": kst, "psl": psl,
    "stoch": stoch, "willr": willr, "uo": uo, "td_seq": td_seq, "rsi": rsi,
    "macd": macd, "trix": trix, "tsi": tsi, "dm": dm, "eri": eri, "kdj": kdj,
    "pgo": pgo, "ppo": ppo, "pvo": pvo, "stochrsi": stochrsi, "rvgi": rvgi,
    "inertia": inertia, "smi": smi, "squeeze": squeeze, "fisher": fisher,
    "rsx": rsx, "stc": stc, "qqe": qqe, "squeeze_pro": squeeze_pro,
}

SUITE = {
    "mom_10": mom, "roc_10": roc, "slope_1": slope,
    "slope_angle_1": lambda: slope(1, as_angle=True), "bop": bop, "ao_5_34": ao,
    "apo_12_26": apo, "apo_ema_12_26": lambda: apo(mamode="ema"),
    "bias_26": bias, "brar_26": brar, "cci_14": cci,
    "cfo_9": cfo, "cg_10": cg, "cmo_14": cmo, "coppock": coppock,
    "cti_12": cti, "er_10": er, "kst": kst, "psl_12": psl, "stoch_14_3_3": stoch,
    "willr_14": willr, "uo_7_14_28": uo, "td_seq": td_seq, "rsi_14": rsi,
    "macd_12_26_9": macd, "trix_30_9": trix, "tsi_13_25_13": tsi, "dm_14": dm,
    "eri_13": eri, "kdj_9_3": kdj, "pgo_14": pgo, "ppo_12_26_9": ppo,
    "pvo_12_26_9": pvo, "stochrsi_14": stochrsi, "rvgi_14_4": rvgi,
    "inertia_20_14": inertia, "smi_5_20_5": smi, "squeeze_20": squeeze,
    "fisher_9_1": fisher, "rsx_14": rsx, "stc_10_12_26": stc, "qqe_14_5": qqe,
    "squeeze_pro_20": squeeze_pro,
}
