"""statistics/ package ops (SURVEY.md §2.4) — rolling statistical moments.

All pure window SQL (ROLL kind). The parity traps (SURVEY.md §4.3.5):
pandas uses *unbiased* skew (adjusted Fisher-Pearson G1) and kurtosis
(G2) estimators while Spark/DuckDB natives are population estimators, and
stdev/variance take a ddof parameter. skew/kurt/mad therefore compute from
explicit frame lists via higher-order functions — the same evaluation
order in both engines — instead of engine-native aggregates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandas_ta_spark.functions.naming import name
from pandas_ta_spark.functions.windows import (
    SQL_W_ORDER,
    masked,
    roll,
    sql_const_guard,
    sql_masked,
    sql_roll,
    sql_w_rows,
    w_order,
    w_rows,
)
from pandas_ta_spark.operators.base import Indicator, KernelSpec

CAT = "statistics"


def stdev(length: int = 30, ddof: int = 1, src: str = "close"):
    """Rolling std with ddof — pandas_ta/statistics/stdev.py#stdev
    (Arrow rolling kernel; O(w)/row frame recompute leaves WindowExec)."""
    out = name("STDEV", length)
    agg = "stddev_samp" if ddof == 1 else "stddev_pop"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_std_pd

        pdf[out] = roll_std_pd(pdf[src], length, ddof)
        return pdf

    return Indicator(
        "stdev", [out], CAT,
        kernel=KernelSpec(fn, [out], [src], carry_rows=length - 1),
        # constant-frame guard: exact 0 on both engines
        # (pdkernels.roll_const_mask rationale)
        sql_final={out: sql_const_guard(src, length, "0.0",
                                        sql_roll(agg, src, length))})


def variance(length: int = 30, ddof: int = 1, src: str = "close"):
    """Rolling variance — pandas_ta/statistics/variance.py#variance."""
    out = name("VAR", length)
    agg = "var_samp" if ddof == 1 else "var_pop"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_var_pd

        pdf[out] = roll_var_pd(pdf[src], length, ddof)
        return pdf

    return Indicator(
        "variance", [out], CAT,
        kernel=KernelSpec(fn, [out], [src], carry_rows=length - 1),
        sql_final={out: sql_const_guard(src, length, "0.0",
                                        sql_roll(agg, src, length))})


def zscore(length: int = 30, std: float = 1.0):
    """(c - SMA)/(std*STDEV) — pandas_ta/statistics/zscore.py#zscore."""
    out = name("ZS", length)

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.functions.pdkernels import (
            roll_const_mask, roll_mean_pd, roll_std_pd)

        z = (pdf["close"] - roll_mean_pd(pdf["close"], length)) / (
            std * roll_std_pd(pdf["close"], length, 1)
        )
        # constant frame: 0/0 — the computed path's noise/noise garbage
        # differs per engine; NaN on both (roll_const_mask rationale)
        z[roll_const_mask(pdf["close"], length)] = np.nan
        pdf[out] = z
        return pdf

    s = sql_const_guard(
        "close", length, "CAST(NULL AS DOUBLE)",
        f"(close - ({sql_roll('avg', 'close', length)}))"
        f" / ({std!r} * ({sql_roll('stddev_samp', 'close', length)}))")
    return Indicator("zscore", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close"], carry_rows=length - 1),
                     sql_final={out: s})


def median(length: int = 30):
    """Rolling median (linear interpolation both engines) —
    pandas_ta/statistics/median.py#median. Order statistics cost
    O(w log w)/row in WindowExec -> Arrow rolling kernel (pdkernels)."""
    out = name("MEDIAN", length)

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_quantile_pd

        pdf[out] = roll_quantile_pd(pdf["close"], length, 0.5)
        return pdf

    s = sql_masked(f"quantile_cont(close, 0.5) OVER ({sql_w_rows(length)})",
                   "close", length)
    return Indicator("median", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close"], carry_rows=length - 1),
                     sql_final={out: s})


def quantile(length: int = 30, q: float = 0.5):
    """Rolling quantile — pandas_ta/statistics/quantile.py#quantile
    (Arrow rolling kernel, same h=(n-1)q interpolation as quantile_cont)."""
    out = name("QTL", length, q)

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_quantile_pd

        pdf[out] = roll_quantile_pd(pdf["close"], length, q)
        return pdf

    s = sql_masked(f"quantile_cont(close, {q!r}) OVER ({sql_w_rows(length)})",
                   "close", length)
    return Indicator("quantile", [out], CAT,
                     kernel=KernelSpec(fn, [out], ["close"], carry_rows=length - 1),
                     sql_final={out: s})


def mad(length: int = 30):
    """Rolling mean absolute deviation around the frame mean —
    pandas_ta/statistics/mad.py#mad. The frame-mean-inside-the-sum makes
    this an O(w)/row list aggregate in WindowExec -> Arrow rolling kernel;
    the DuckDB oracle keeps the explicit HOF-list form."""
    out = name("MAD", length)
    m = f"_mad_{length}_mean"

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_mad_pd

        pdf[out] = roll_mad_pd(pdf["close"], length)
        return pdf

    s = sql_masked(
        f"list_sum(list_transform(list(close) OVER ({sql_w_rows(length)}),"
        f" x -> abs(x - {m}))) / {length}",
        "close", length,
    )
    return Indicator(
        "mad", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"], carry_rows=length - 1),
        sql_stages=[{m: sql_roll("avg", "close", length)}],
        sql_final={out: s},
    )


def _central_moment_hof(k: int, length: int, mcol: str):
    """sum((x-m)^k)/n over the frame list (Spark side)."""
    return (
        F.aggregate(
            F.collect_list("close").over(w_rows(length)),
            F.lit(0.0),
            lambda acc, x: acc + F.pow(x - F.col(mcol), float(k)),
        )
        / length
    )


def _sql_central_moment(k: int, length: int, mcol: str) -> str:
    return (
        f"list_sum(list_transform(list(close) OVER ({sql_w_rows(length)}),"
        f" x -> (x - {mcol}) ** {k})) / {length}"
    )


def skew(length: int = 30):
    """Rolling skew, pandas unbiased G1 = sqrt(n(n-1))/(n-2) * m3/m2^1.5 —
    pandas_ta/statistics/skew.py#skew."""
    out = name("SKEW", length)
    n = length
    m = f"_skew_{n}_mean"
    adj = (n * (n - 1)) ** 0.5 / (n - 2)

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_cmom_pd

        m2 = roll_cmom_pd(pdf["close"], n, 2)
        m3 = roll_cmom_pd(pdf["close"], n, 3)
        pdf[out] = adj * m3 / m2 ** 1.5
        return pdf

    s2 = _sql_central_moment(2, n, m)
    s3 = _sql_central_moment(3, n, m)
    # constant frame -> 0/0 -> NULL on both engines (roll_const_mask)
    s = sql_const_guard(
        "close", n, "CAST(NULL AS DOUBLE)",
        sql_masked(f"{adj!r} * ({s3}) / (({s2}) ** 1.5)", "close", n))
    return Indicator(
        "skew", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"], carry_rows=n - 1),
        sql_stages=[{m: sql_roll("avg", "close", n)}],
        sql_final={out: s},
    )


def kurtosis(length: int = 30):
    """Rolling excess kurtosis, pandas unbiased G2 —
    pandas_ta/statistics/kurtosis.py#kurtosis.
    G2 = [n(n+1)/((n-1)(n-2)(n-3))] * sum((x-m)^4)/s^4
         - 3(n-1)^2/((n-2)(n-3)),  s^2 = sum((x-m)^2)/(n-1)
    """
    out = name("KURT", length)
    n = length
    m = f"_kurt_{n}_mean"
    c1 = n * (n + 1) / ((n - 1) * (n - 2) * (n - 3))
    c2 = 3 * (n - 1) ** 2 / ((n - 2) * (n - 3))

    def fn(pdf):
        from pandas_ta_spark.functions.pdkernels import roll_cmom_pd

        sum4 = roll_cmom_pd(pdf["close"], n, 4) * n
        s2 = roll_cmom_pd(pdf["close"], n, 2) * n / (n - 1)
        pdf[out] = c1 * sum4 / s2 ** 2 - c2
        return pdf

    q4 = f"(({_sql_central_moment(4, n, m)}) * {n})"
    qv = f"(({_sql_central_moment(2, n, m)}) * {n} / {n - 1})"
    s = sql_const_guard(
        "close", n, "CAST(NULL AS DOUBLE)",
        sql_masked(f"{c1!r} * {q4} / ({qv} ** 2) - {c2!r}", "close", n))
    return Indicator(
        "kurtosis", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"], carry_rows=n - 1),
        sql_stages=[{m: sql_roll("avg", "close", n)}],
        sql_final={out: s},
    )


def entropy(length: int = 10, base: float = 2.0):
    """Rolling Shannon entropy of p = c/sum(c, n) —
    pandas_ta/statistics/entropy.py#entropy: two chained window sums."""
    import math

    out = name("ENTP", length)
    scol = f"_entp_{length}_sum"
    tcol = f"_entp_{length}_term"

    def fn(pdf):
        import numpy as np

        from pandas_ta_spark.functions.pdkernels import roll_sum_pd

        p = pdf["close"] / roll_sum_pd(pdf["close"], length)
        term = -p * np.log(p) / math.log(base)
        pdf[out] = roll_sum_pd(term, length)
        return pdf

    sp = f"(close / {scol})"
    sterm = f"(-{sp} * ln({sp}) / {math.log(base)!r})"
    return Indicator(
        "entropy", [out], CAT,
        kernel=KernelSpec(fn, [out], ["close"], carry_rows=2 * (length - 1)),
        sql_stages=[{scol: sql_roll("sum", "close", length)}, {tcol: sterm}],
        sql_final={out: sql_roll("sum", tcol, length)},
    )


# in-domain bound for the exact-integer tos_stdevall branch: just above
# the documented |price| <= 1e6 value domain, so q = close*1e6 <= 1.1e12
# and the HUGEINT moment sums (q^2 <= 1.21e24, rn*q <= n*1.1e12) stay far
# inside 128 bits for any realistic series length
TOS_GUARD = 1.1e6


def tos_stdevall(stds: tuple = (1, 2, 3)):
    """TD Ameritrade 'stdev all': whole-series per-symbol linreg line ±
    k*sigma bands — pandas_ta/statistics/tos_stdevall.py#tos_stdevall.

    Runs in the Arrow kernel pass (the seven whole-partition regr_*/
    stddev window aggregates were the second-heaviest window indicator);
    whole-series dependency means unbounded carry (no row chunking —
    inherent to the op's semantics, it regresses over the ENTIRE series).

    Cross-engine exactness (r12, fuzz seed-sweep find): the float
    closed-form (numpy pairwise sums) and DuckDB's regr_slope/
    regr_intercept/stddev_samp accumulate in different orders, and on
    adversarial data a last-ulp difference flips a half-grid row. Both
    engines now derive slope/intercept/stdev from the SAME exact
    integer moments of the 1e-6-quantized series (the ar1/rolling_beta
    fixed-point pattern): q = floor(close*1e6+0.5) as exact ints,
    Sy/Sxy/Syy as exact integer sums, x-moments in closed form, then ONE
    fixed float-op order on both sides. The bands therefore measure the
    dispersion of the grid-quantized series (difference from raw-series
    stdev is <= one grid quantum — far inside the reference's
    correlation tolerance). Out-of-domain series (any |close| >=
    TOS_GUARD, or non-finite) take the legacy float branch on both
    engines, where outputs are beyond grid-exactness anyway."""
    base = "TOS_STDEVALL"
    outs = [f"{base}_LR"] + [f"{base}_{s}_{d}" for d in stds for s in ("L", "U")]
    rncol = f"_tos_rn"

    def fn(pdf):
        import math

        import numpy as np

        y = pdf["close"].to_numpy(dtype="float64")
        n = len(y)
        x = np.arange(1.0, n + 1)
        if n < 2:
            lr = np.full(n, np.nan)
            sd = np.nan
        elif bool(np.isfinite(y).all()) and float(np.abs(y).max()) < TOS_GUARD:
            # exact-integer branch: Python-int sums are overflow-free and
            # association-free (tolist -> exact ints; q <= 1.1e12)
            ql = np.floor(y * 1e6 + 0.5).astype(np.int64).tolist()
            sy = sum(ql)
            syy = sum(v * v for v in ql)
            sxy = sum(i * v for i, v in enumerate(ql, 1))
            sx = n * (n + 1) // 2
            sxx = n * (n + 1) * (2 * n + 1) // 6
            slope_q = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
            icpt_q = (float(sy) - slope_q * float(sx)) / float(n)
            lr = (icpt_q + slope_q * x) / 1e6
            var_num = n * syy - sy * sy
            sd = (math.sqrt(float(var_num) / float(n * (n - 1))) / 1e6
                  if var_num > 0 else 0.0)
        else:
            mx, my = x.mean(), y.mean()
            dx = x - mx
            slope = (dx * (y - my)).sum() / (dx * dx).sum()
            icpt = my - slope * mx
            lr = icpt + slope * x
            sd = y.std(ddof=1)
        pdf[outs[0]] = lr
        i = 1
        for d in stds:
            pdf[outs[i]] = lr - d * sd
            pdf[outs[i + 1]] = lr + d * sd
            i += 2
        return pdf

    sql_w = "PARTITION BY symbol"
    # exact-integer branch (the kernel's twin): identical ints, identical
    # float-op order. The per-element CASE clamp keeps the HUGEINT cast
    # from ever seeing NaN/inf/huge (window exprs evaluate in BOTH CASE
    # branches — same trap as ewm_sql.sql_seed_mean).
    qe = (f"CAST(floor((CASE WHEN abs(close) < {TOS_GUARD!r} THEN close"
          f" ELSE 0.0 END) * 1000000.0 + 0.5) AS HUGEINT)")
    nn = f"CAST(count(*) OVER ({sql_w}) AS HUGEINT)"
    sy = f"sum({qe}) OVER ({sql_w})"
    sxy = f"sum(CAST({rncol} AS HUGEINT) * {qe}) OVER ({sql_w})"
    syy = f"sum({qe} * {qe}) OVER ({sql_w})"
    # '//' (integer division — both divisions are exact) keeps sx/sxx
    # HUGEINT: DuckDB '/' is FLOAT division, which made nn*sxy - sx*sy
    # round each ~1e20 cross product at 2^53 BEFORE the subtraction,
    # while the kernel subtracts exact ints and converts once (r12
    # ADVICE: slope diverged in the 8th digit on a 20k-row near-flat
    # series). Now both engines share one exact-int → single-CAST order.
    sx = f"({nn} * ({nn} + 1) // 2)"
    sxx = f"({nn} * ({nn} + 1) * (2 * {nn} + 1) // 6)"
    slope_q = (f"(CAST({nn} * ({sxy}) - {sx} * ({sy}) AS DOUBLE)"
               f" / CAST({nn} * {sxx} - {sx} * {sx} AS DOUBLE))")
    icpt_q = (f"((CAST({sy} AS DOUBLE) - {slope_q} * CAST({sx} AS DOUBLE))"
              f" / CAST({nn} AS DOUBLE))")
    e_lr = f"(({icpt_q} + {slope_q} * {rncol}) / 1000000.0)"
    var_num = f"({nn} * ({syy}) - ({sy}) * ({sy}))"
    e_sd = (f"(CASE WHEN {var_num} > 0 THEN"
            f" sqrt(CAST({var_num} AS DOUBLE)"
            f" / CAST({nn} * ({nn} - 1) AS DOUBLE)) / 1000000.0"
            f" ELSE 0.0 END)")
    # legacy float branch (out-of-domain): the engine-native aggregates
    s_slope = f"regr_slope(close, {rncol}) OVER ({sql_w})"
    s_icpt = f"regr_intercept(close, {rncol}) OVER ({sql_w})"
    s_sd = f"stddev_samp(close) OVER ({sql_w})"
    s_lr = f"(({s_icpt}) + ({s_slope}) * {rncol})"
    guard = f"(max(abs(close)) OVER ({sql_w}) < {TOS_GUARD!r})"

    def pick(exact, legacy):
        return f"(CASE WHEN {guard} THEN {exact} ELSE {legacy} END)"

    sql_final = {outs[0]: pick(e_lr, s_lr)}
    i = 1
    for d in stds:
        sql_final[outs[i]] = pick(f"({e_lr} - {d} * {e_sd})",
                                  f"({s_lr} - {d} * ({s_sd}))")
        sql_final[outs[i + 1]] = pick(f"({e_lr} + {d} * {e_sd})",
                                      f"({s_lr} + {d} * ({s_sd}))")
        i += 2
    return Indicator(
        "tos_stdevall", outs, CAT,
        kernel=KernelSpec(fn, outs, ["close"], carry_rows=None),
        sql_stages=[{rncol: f"CAST(row_number() OVER ({SQL_W_ORDER}) AS DOUBLE)"}],
        sql_final=sql_final,
    )


FACTORIES = {
    "stdev": stdev, "variance": variance, "zscore": zscore, "median": median,
    "quantile": quantile, "mad": mad, "skew": skew, "kurtosis": kurtosis,
    "entropy": entropy, "tos_stdevall": tos_stdevall,
}

SUITE = {
    "stdev_30": stdev, "stdev_30_ddof0": lambda: stdev(30, ddof=0),
    "variance_30": variance, "variance_30_ddof0": lambda: variance(30, ddof=0), "zscore_30": zscore,
    "median_30": median, "quantile_30_0.5": quantile, "mad_30": mad,
    "skew_30": skew, "kurtosis_30": kurtosis, "entropy_10": entropy,
    "tos_stdevall": tos_stdevall,
}
