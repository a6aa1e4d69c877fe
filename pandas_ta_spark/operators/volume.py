"""volume/ package ops (SURVEY.md §2.7).

The fixed-point CUM ops (ad, pvt, nvi, pvi) are expanding-sum Catalyst
expressions over the shared ordering; obv and the ROLL ratios run in the
Arrow kernel pass, as do the ADOSC/EFI/KVO EWM kernels (recursive-CTE
oracles). ``vp`` (volume profile) is the one true AGG op — a small
bucketed table, exposed via its own query shape.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandas_ta_spark.functions.naming import name
from pandas_ta_spark.functions.pdkernels import ema_pd
from pandas_ta_spark.functions.windows import (
    SQL_W_ALL,
    cumsum_fixed,
    diff,
    shift,
    sql_cumsum_fixed,
    sql_diff,
    sql_roll,
    sql_shift,
)
from pandas_ta_spark.operators.base import Indicator, KernelSpec
from pandas_ta_spark.operators.ewm_sql import EwmStage, ewm_pipeline_sql
from pandas_ta_spark.operators.momentum import _nzr, _sql_nzr

CAT = "volume"

# money-flow volume: ((c-l)-(h-c))/(h-l) * v (pandas_ta/volume/ad.py#ad)
_MFV_S = f"((2 * close - high - low) / {_sql_nzr('high', 'low')} * volume)"


def _mfv():
    return (
        (2 * F.col("close") - F.col("high") - F.col("low"))
        / _nzr(F.col("high"), F.col("low"))
        * F.col("volume")
    )


def obv():
    """cumsum(sign(diff(c)) * v), first sign = +1 —
    pandas_ta/volume/obv.py#obv."""
    out = "OBV"
    t = "_obv_sv"

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.functions.pdkernels import running_sum_np

        d = pdf["close"].diff().to_numpy(dtype="float64")
        # signum keeps a zero's sign and passes NaN through (Math.signum)
        sgn = np.where(d == 0, d, np.sign(d))
        if len(sgn):
            sgn[0] = 1.0
        pdf[out] = running_sum_np(sgn * pdf["volume"].to_numpy(dtype="float64"))
        return pdf

    s_rn = "row_number() OVER (PARTITION BY symbol ORDER BY ts)"
    s_sgn = f"CASE WHEN {s_rn} = 1 THEN 1.0 ELSE sign({sql_diff('close', 1)}) END"
    return Indicator(
        "obv", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close", "volume"]),
        sql_stages=[{t: f"({s_sgn}) * volume"}],
        sql_final={out: f"sum({t}) OVER ({SQL_W_ALL})"},
    )


def ad():
    """Chaikin A/D line: cumsum(mfv) — pandas_ta/volume/ad.py#ad."""
    out = "AD"
    t = "_ad_mfv"
    return Indicator(
        "ad", [out], CAT,
        stages=[{t: _mfv()}],
        final={out: cumsum_fixed(F.col(t))},
        sql_stages=[{t: _MFV_S}],
        sql_final={out: sql_cumsum_fixed(t)},
    )


def adosc(fast: int = 3, slow: int = 10):
    """Chaikin Osc: EMA_f(AD) - EMA_s(AD) — pandas_ta/volume/adosc.py#adosc."""
    out = name("ADOSC", fast, slow)

    def fn(pdf):
        mfv = (
            (2 * pdf["close"] - pdf["high"] - pdf["low"])
            / (pdf["high"] - pdf["low"]).mask(pdf["high"] == pdf["low"], 2.220446049250313e-16)
            * pdf["volume"]
        )
        import numpy as np

        adline = np.floor(mfv * 1e8 + 0.5).cumsum() / 1e8
        pdf[out] = ema_pd(adline, fast) - ema_pd(adline, slow)
        return pdf

    sql = ewm_pipeline_sql(
        [
            {"_ad": sql_cumsum_fixed(_MFV_S)},
            EwmStage("_ef", "_ad", 2.0 / (fast + 1), fast),
            EwmStage("_es", "_ad", 2.0 / (slow + 1), slow),
        ],
        {out: "_ef - _es"},
    )
    return Indicator("adosc", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["high", "low", "close", "volume"]),
                     sql_full=sql)


def cmf(length: int = 20):
    """Chaikin Money Flow: sum(mfv,n)/sum(v,n) —
    pandas_ta/volume/cmf.py#cmf."""
    out = name("CMF", length)
    t = "_cmf_mfv"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import (
            div0_np, nzr_np, roll_sum_seq_pd,
        )

        h, low, c, v = pdf["high"], pdf["low"], pdf["close"], pdf["volume"]
        mfv = (2 * c - h - low) / nzr_np(h, low) * v
        pdf[out] = div0_np(roll_sum_seq_pd(mfv, length),
                           roll_sum_seq_pd(v, length))
        return pdf

    return Indicator(
        "cmf", [out], CAT,
        kernel=KernelSpec(fn, [out], ["high", "low", "close", "volume"],
                          carry_rows=length - 1),
        sql_stages=[{t: _MFV_S}],
        sql_final={out: f"({sql_roll('sum', t, length)}) / ({sql_roll('sum', 'volume', length)})"},
    )


def efi(length: int = 13, drift: int = 1):
    """Elder Force: EMA(diff(c)*v, n) — pandas_ta/volume/efi.py#efi."""
    out = name("EFI", length)

    def fn(pdf):
        pdf[out] = ema_pd(pdf["close"].diff(drift) * pdf["volume"], length)
        return pdf

    sql = ewm_pipeline_sql(
        [EwmStage("_e", "_pv", 2.0 / (length + 1), length)],
        {out: "_e"},
        pre={"_pv": f"({sql_diff('close', drift)}) * volume"},
    )
    return Indicator("efi", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close", "volume"]),
                     sql_full=sql)


def eom(length: int = 14, divisor: int = 100000000, drift: int = 1):
    """Ease of Movement — pandas_ta/volume/eom.py#eom."""
    out = name("EOM", length, divisor)
    t = "_eom_raw"
    s_hl2 = "((high + low) / 2)"
    s_dist = f"({s_hl2} - ({sql_shift(s_hl2, drift)}))"
    s_br = f"((volume / {divisor}) / {_sql_nzr('high', 'low')})"
    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import (
            div0_np, nzr_np, roll_mean_seq_pd,
        )

        import pandas as pd

        h, low, v = pdf["high"], pdf["low"], pdf["volume"]
        hl2_v = (h + low) / 2
        dist_v = hl2_v - hl2_v.shift(drift)
        br_v = (v / divisor) / nzr_np(h, low)
        raw = pd.Series(div0_np(dist_v, br_v), index=h.index)
        pdf[out] = roll_mean_seq_pd(raw, length)
        return pdf

    return Indicator(
        "eom", [out], CAT,
        kernel=KernelSpec(fn, [out], ["high", "low", "volume"],
                          carry_rows=drift + length - 1),
        sql_stages=[{t: f"{s_dist} / {s_br}"}],
        sql_final={out: sql_roll("avg", t, length)},
    )


def kvo(fast: int = 34, slow: int = 55, signal: int = 13, drift: int = 1):
    """Klinger Volume Osc — pandas_ta/volume/kvo.py#kvo."""
    ok = name("KVO", fast, slow, signal)
    os_ = name("KVOs", fast, slow, signal)

    def fn(pdf):
        import numpy as np

        tp = (pdf["high"] + pdf["low"] + pdf["close"]) / 3
        d = tp.diff(drift)
        sv = np.sign(d) * pdf["volume"]
        sv[d.isna()] = np.nan
        ef = ema_pd(sv, fast)
        es = ema_pd(sv, slow)
        line = ef - es
        pdf[ok] = line
        pdf[os_] = ema_pd(line, signal)
        return pdf

    s_tp = "((high + low + close) / 3)"
    s_d = f"({s_tp} - ({sql_shift(s_tp, drift)}))"
    sv = f"CASE WHEN ({s_d}) IS NULL THEN NULL ELSE sign({s_d}) * volume END"
    sql = ewm_pipeline_sql(
        [
            EwmStage("_ef", "_sv", 2.0 / (fast + 1), fast),
            EwmStage("_es", "_sv", 2.0 / (slow + 1), slow),
            {"_line": "_ef - _es"},
            EwmStage("_sg", "_line", 2.0 / (signal + 1), signal),
        ],
        {ok: "_line", os_: "_sg"},
        pre={"_sv": sv},
    )
    return Indicator("kvo", [ok, os_], CAT,
                     kernel=KernelSpec(fn, [ok, os_], ["high", "low", "close", "volume"]),
                     sql_full=sql)


def mfi(length: int = 14, drift: int = 1):
    """Money Flow Index — pandas_ta/volume/mfi.py#mfi."""
    out = name("MFI", length)
    tp_c, pos_c, neg_c = "_mfi_tp", "_mfi_pos", "_mfi_neg"

    def fn(pdf):
        import numpy as np
        import pandas as pd

        from pandas_ta_spark.functions.pdkernels import roll_sum_pd

        tp = (pdf["high"] + pdf["low"] + pdf["close"]) / 3
        d = tp.diff(drift)
        raw = tp * pdf["volume"]
        pos = np.where(d > 0, raw, 0.0) + np.where(d.isna(), np.nan, 0.0)
        neg = np.where(d < 0, raw, 0.0) + np.where(d.isna(), np.nan, 0.0)
        sp = roll_sum_pd(pd.Series(pos, index=tp.index), length)
        sn = roll_sum_pd(pd.Series(neg, index=tp.index), length)
        pdf[out] = 100 * sp / (sp + sn)
        return pdf

    s_d = f"({tp_c} - ({sql_shift(tp_c, drift)}))"
    s_raw = f"({tp_c} * volume)"
    s_pos = f"CASE WHEN {s_d} IS NULL THEN NULL WHEN {s_d} > 0 THEN {s_raw} ELSE 0.0 END"
    s_neg = f"CASE WHEN {s_d} IS NULL THEN NULL WHEN {s_d} < 0 THEN {s_raw} ELSE 0.0 END"
    s_sp = sql_roll("sum", pos_c, length)
    s_sn = sql_roll("sum", neg_c, length)
    return Indicator(
        "mfi", [out], CAT,
        kernel=KernelSpec(fn, [out], ["high", "low", "close", "volume"],
                          carry_rows=drift + length - 1),
        sql_stages=[{tp_c: "((high + low + close) / 3)"},
                    {pos_c: s_pos, neg_c: s_neg}],
        sql_final={out: f"100 * ({s_sp}) / (({s_sp}) + ({s_sn}))"},
    )


def _vol_index(positive: bool, length: int = 1, initial: int = 1000):
    """Shared NVI/PVI: cumsum of ROC(c,n) where volume moved down/up —
    pandas_ta/volume/nvi.py#nvi, #pvi."""
    kind = "PVI" if positive else "NVI"
    out = name(kind, length)
    t = f"_{kind.lower()}_roc"
    vd = diff("volume", 1)
    rc = 100 * diff("close", length) / shift("close", length)
    cond = (vd > 0) if positive else (vd < 0)
    term = F.when(cond, rc).otherwise(0.0)
    s_vd = sql_diff("volume", 1)
    s_rc = f"(100 * ({sql_diff('close', length)}) / ({sql_shift('close', length)}))"
    op = ">" if positive else "<"
    s_term = f"CASE WHEN ({s_vd}) {op} 0 THEN {s_rc} ELSE 0.0 END"
    return Indicator(
        kind.lower(), [out], CAT,
        stages=[{t: term}],
        final={out: F.lit(float(initial)) + cumsum_fixed(F.col(t))},
        sql_stages=[{t: s_term}],
        sql_final={out: f"{float(initial)!r} + {sql_cumsum_fixed(t)}"},
    )


def nvi(length: int = 1, initial: int = 1000):
    return _vol_index(False, length, initial)


def pvi(length: int = 1, initial: int = 1000):
    return _vol_index(True, length, initial)


def pvol():
    """price * volume — pandas_ta/volume/pvol.py#pvol."""
    out = "PVOL"
    return Indicator("pvol", [out], CAT,
                     final={out: F.col("close") * F.col("volume")},
                     sql_final={out: "close * volume"})


def pvr():
    """Price-Volume Rank 1..4 from signs of diffs —
    pandas_ta/volume/pvr.py#pvr."""
    out = "PVR"
    cd = diff("close", 1)
    vd = diff("volume", 1)
    e = (
        F.when(cd.isNull() | vd.isNull(), None)
        .when((cd >= 0) & (vd >= 0), 1.0)
        .when((cd >= 0) & (vd < 0), 2.0)
        .when((cd < 0) & (vd >= 0), 3.0)
        .otherwise(4.0)
    )
    s_cd, s_vd = sql_diff("close", 1), sql_diff("volume", 1)
    s = (f"CASE WHEN ({s_cd}) IS NULL OR ({s_vd}) IS NULL THEN NULL"
         f" WHEN ({s_cd}) >= 0 AND ({s_vd}) >= 0 THEN 1.0"
         f" WHEN ({s_cd}) >= 0 AND ({s_vd}) < 0 THEN 2.0"
         f" WHEN ({s_cd}) < 0 AND ({s_vd}) >= 0 THEN 3.0"
         f" ELSE 4.0 END")
    return Indicator("pvr", [out], CAT, final={out: e}, sql_final={out: s})


def pvt(drift: int = 1):
    """cumsum(ROC(c,drift) * v) — pandas_ta/volume/pvt.py#pvt."""
    out = "PVT"
    t = "_pvt_pv"
    rc = 100 * diff("close", drift) / shift("close", drift)
    s_rc = f"(100 * ({sql_diff('close', drift)}) / ({sql_shift('close', drift)}))"
    return Indicator(
        "pvt", [out], CAT,
        stages=[{t: rc * F.col("volume")}],
        final={out: cumsum_fixed(F.col(t))},
        sql_stages=[{t: f"{s_rc} * volume"}],
        sql_final={out: sql_cumsum_fixed(t)},
    )


def aobv(fast: int = 4, slow: int = 12, max_lookback: int = 2,
         min_lookback: int = 2):
    """Archer OBV: OBV + rolling min/max + fast/slow EMAs + long/short_run
    — pandas_ta/volume/aobv.py#aobv."""
    outs = ["OBV", f"OBV_min_{min_lookback}", f"OBV_max_{max_lookback}",
            f"OBVe_{fast}", f"OBVe_{slow}",
            f"AOBV_LR_{max_lookback}", f"AOBV_SR_{max_lookback}"]

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.operators.base import np_flag_quantize

        d = pdf["close"].diff(1)
        sgn = np.sign(d)
        sgn.iloc[0] = 1.0
        obv_line = (sgn * pdf["volume"]).cumsum()
        ef = ema_pd(obv_line, fast)
        es = ema_pd(obv_line, slow)
        # run flags threshold the 1e-6-QUANTIZED diff (base.py
        # flag_quantize): a flat OBV stretch drives the true diff to
        # exactly 0, where the engines' ulp noise disagrees on sign
        fq = np_flag_quantize(ef.diff(max_lookback))
        sq = np_flag_quantize(es.diff(max_lookback))
        fi, fd = fq > 0, fq < 0
        si, sd = sq > 0, sq < 0
        pdf[outs[0]] = obv_line
        pdf[outs[1]] = obv_line.rolling(min_lookback).min()
        pdf[outs[2]] = obv_line.rolling(max_lookback).max()
        pdf[outs[3]] = ef
        pdf[outs[4]] = es
        pdf[outs[5]] = ((fi & sd) | (fi & si)).astype(float)
        pdf[outs[6]] = ((fd & si) | (fd & sd)).astype(float)
        return pdf

    s_rn = "row_number() OVER (PARTITION BY symbol ORDER BY _rn)"
    s_sgn = f"CASE WHEN _rn = 1 THEN 1.0 ELSE sign({sql_diff('close', 1)}) END"

    def s_d(col):
        from pandas_ta_spark.operators.base import sql_flag_quantize

        return sql_flag_quantize(
            f"{col} - lag({col}, {max_lookback})"
            f" OVER (PARTITION BY symbol ORDER BY _rn)")

    fi, fd = f"({s_d('_ef')} > 0)", f"({s_d('_ef')} < 0)"
    si, sd_ = f"({s_d('_es')} > 0)", f"({s_d('_es')} < 0)"
    sql = ewm_pipeline_sql(
        [
            {"_sv": f"({s_sgn}) * volume"},
            {"_obv": f"sum(_sv) OVER (PARTITION BY symbol ORDER BY _rn"
                     f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"},
            EwmStage("_ef", "_obv", 2.0 / (fast + 1), fast),
            EwmStage("_es", "_obv", 2.0 / (slow + 1), slow),
        ],
        {
            outs[0]: "_obv",
            outs[1]: (f"CASE WHEN _rn >= {min_lookback} THEN"
                      f" min(_obv) OVER (PARTITION BY symbol ORDER BY _rn"
                      f" ROWS BETWEEN {min_lookback - 1} PRECEDING AND CURRENT ROW) END"),
            outs[2]: (f"CASE WHEN _rn >= {max_lookback} THEN"
                      f" max(_obv) OVER (PARTITION BY symbol ORDER BY _rn"
                      f" ROWS BETWEEN {max_lookback - 1} PRECEDING AND CURRENT ROW) END"),
            outs[3]: "_ef",
            outs[4]: "_es",
            outs[5]: f"CAST(coalesce(({fi} AND {sd_}) OR ({fi} AND {si}), false) AS DOUBLE)",
            outs[6]: f"CAST(coalesce(({fd} AND {si}) OR ({fd} AND {sd_}), false) AS DOUBLE)",
        },
    )
    return Indicator("aobv", outs, CAT,
                     kernel=KernelSpec(fn, outs, ["close", "volume"]),
                     sql_full=sql)


# vp (volume profile), the one AGG-shaped op, lives in ext/agg.py: it
# returns a small bucketed table rather than a per-row series, so it uses
# the ext query shape instead of the Indicator (symbol, ts, cols) contract.

FACTORIES = {
    "obv": obv, "ad": ad, "adosc": adosc, "cmf": cmf, "efi": efi, "eom": eom,
    "kvo": kvo, "mfi": mfi, "nvi": nvi, "pvi": pvi, "pvol": pvol, "pvr": pvr,
    "pvt": pvt, "aobv": aobv,
}

SUITE = {
    "obv": obv, "ad": ad, "adosc_3_10": adosc, "cmf_20": cmf, "efi_13": efi,
    "eom_14": eom, "kvo_34_55_13": kvo, "mfi_14": mfi, "nvi_1": nvi,
    "pvi_1": pvi, "pvol": pvol, "pvr": pvr, "pvt": pvt, "aobv": aobv,
}
