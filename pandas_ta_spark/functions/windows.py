"""Window-spec builders, warmup masks, and SQL twins.

The ROLL/CUM/lag ops that still run as Catalyst expressions (min/max
frames, the fixed-point cumulative sums, short diffs, the signal ops)
build on the helpers here: every expression is over
``Window.partitionBy("symbol").orderBy("ts")``, so any number of
indicators sharing that spec collapse into a handful of WindowExec
operators after ONE exchange + ONE sort (SURVEY.md §4.2). The rolling
means/sums/dispersions, the WROLL family (wma, hma, alma, coppock, ...)
and the headline lag and running-sum ops (mom, roc, vwap, obv) run in the
Arrow kernel pass instead (functions/pdkernels.py, plans/kernels.py); of
those, only their ``sql_*`` twins live here, as DuckDB oracles.

Warmup parity (SURVEY.md §4.3.1): pandas ``rolling(n)`` emits NaN for the
first n-1 rows; Spark would emit partial aggregates over the short leading
frame. Every ROLL expression is therefore masked with
``count(x) OVER frame >= n`` — the exact analogue of pandas
``min_periods=n`` (counts non-null values in the frame).

Each Python builder has a SQL twin (``sql_*``) used to generate the DuckDB
oracle strings for the driver's correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

SYMBOL = "symbol"
TS = "ts"
CUM_SCALE = 1e8


def w_order() -> WindowSpec:
    """The canonical per-instrument ordering: one spec shared by every op."""
    return Window.partitionBy(SYMBOL).orderBy(TS)


def w_rows(n: int) -> WindowSpec:
    """Trailing fixed window of n rows (pandas rolling(n) analogue)."""
    return w_order().rowsBetween(-(n - 1), 0)


def w_all() -> WindowSpec:
    """Expanding window from partition start (pandas expanding/cumsum)."""
    return w_order().rowsBetween(Window.unboundedPreceding, 0)


BAR_COLS = frozenset({"open", "high", "low", "close", "volume"})


def masked(expr: Column, src: Column | str, n: int, min_periods: int | None = None) -> Column:
    """NULL-mask warmup rows: emit expr only once >= min_periods non-null
    source values are inside the trailing n-row frame (pandas min_periods).

    For base bar columns (never NULL by schema) the count-in-frame test
    reduces to ``row_number() >= n`` — one shared ranking function across
    every op in a strategy instead of one count-window per op. Staged
    columns (which may carry warmup NULLs) keep the exact count test.
    """
    mp = n if min_periods is None else min_periods
    if isinstance(src, str) and src in BAR_COLS and mp == n:
        return F.when(rn() >= n, expr)
    src_col = F.col(src) if isinstance(src, str) else src
    return F.when(F.count(src_col).over(w_rows(n)) >= mp, expr)


def roll(agg_fn, src: Column | str, n: int, min_periods: int | None = None) -> Column:
    """Masked rolling aggregate: roll(F.avg, 'close', 20) == pandas
    close.rolling(20).mean() including warmup NaN->NULL parity."""
    src_col = F.col(src) if isinstance(src, str) else src
    return masked(agg_fn(src_col).over(w_rows(n)), src_col, n, min_periods)


# Sliding-frame aggregates recompute O(w) work per row in WindowExec; for
# large windows the cumsum-difference rewrite (SURVEY §4.3.2) computes the
# same sum in O(1)/row from running totals. Combined with fixed-point
# quantization the difference is EXACT (integer arithmetic — no
# cancellation), so the rewrite is numerically safe at any window size.
LARGE_WINDOW_THRESHOLD = 128


# Quantized-term saturation bound for the 128-bit cumsums: one term may
# contribute at most ±2^62 grid units (±4.6e10 in value units at
# CUM_SCALE — beyond any real data). Saturating DETERMINISTICALLY on
# both engines is the only bit-exact option out there: Spark's
# floor(DOUBLE) silently clips at 2^63 (fuzz gate: PVT terms at 1e28
# summed as 9.2e18 on Spark while DuckDB stayed exact), and Spark's
# double->decimal cast routes through the SHORTEST STRING repr
# (BigDecimal.valueOf), which disagrees with DuckDB's exact binary
# conversion by ~32 ulps at 1e28. Both engines clamp at the same double
# threshold to the same constant, so sums stay exact and identical at
# ANY input magnitude; NaN terms are NULL (skipped) on both.
#
# Residual cross-engine bound: the SUM integers are bit-identical, but
# the consumer's final int->double conversion is correctly rounded on
# Spark (BigDecimal) and NOT on DuckDB v1.0 (hugeint->double recombines
# upper*2^64 + lower with two roundings) — measured 1-2 ulp apart for
# sums past 2^53 grid units. At the output domain bound (|cum| <= 9e9,
# where the 1e-6 grid is representable) that is <= ~2e-8 absolute —
# below the grid — so in-domain results still compare exact; beyond it
# the fuzz gate's ulp classifier applies.
Q_SAT = 2 ** 62


def _q128(x: Column) -> Column:
    """floor(x) as decimal(38,0), clamped to ±Q_SAT (see above)."""
    sat = F.lit(float(Q_SAT))
    return (
        F.when(F.isnan(x), F.lit(None).cast("decimal(38,0)"))
        .when(x >= sat, F.lit(Q_SAT).cast("decimal(38,0)"))
        .when(x <= -sat, F.lit(-Q_SAT).cast("decimal(38,0)"))
        .otherwise(F.floor(x).cast("decimal(38,0)"))
    )


def _sql_q128(e: str) -> str:
    """The DuckDB twin of _q128 — same branches, same constants."""
    return (f"(CASE WHEN isnan({e}) THEN NULL"
            f" WHEN ({e}) >= {float(Q_SAT)!r} THEN CAST({Q_SAT} AS HUGEINT)"
            f" WHEN ({e}) <= {-float(Q_SAT)!r} THEN CAST({-Q_SAT} AS HUGEINT)"
            f" ELSE CAST(floor({e}) AS HUGEINT) END)")


def cumsum_int(src: Column | str, scale: float = CUM_SCALE) -> Column:
    """Stage 1 of the rewrite: expanding BIGINT sum of quantized terms
    (exact, associative). Window functions cannot nest, so the difference
    step lives in a later stage — see overlap.sma(large=True)."""
    src_col = F.col(src) if isinstance(src, str) else src
    return F.sum(_q128(src_col * scale + F.lit(0.5))).over(w_all())


def sql_cumsum_int(src_sql: str, scale: float = CUM_SCALE) -> str:
    return (f"sum({_sql_q128(f'({src_sql}) * {scale!r} + 0.5')})"
            f" OVER ({SQL_W_ALL})")


def shift(src: Column | str, k: int = 1) -> Column:
    """pandas Series.shift(k) — F.lag over the canonical ordering."""
    src_col = F.col(src) if isinstance(src, str) else src
    if k == 0:
        return src_col
    return F.lag(src_col, k).over(w_order()) if k > 0 else F.lead(src_col, -k).over(w_order())


def diff(src: Column | str, k: int = 1) -> Column:
    """pandas Series.diff(k)."""
    src_col = F.col(src) if isinstance(src, str) else src
    return src_col - shift(src_col, k)


def cumsum_fixed(term: Column, scale: float = CUM_SCALE) -> Column:
    """Deterministic expanding sum: quantize terms to 1/scale integers
    (shared floor formula), sum exactly as BIGINT, divide back.

    Float summation is association-order-dependent — Spark and DuckDB (and
    two runs of a distributed engine with different partition merge orders)
    disagree in the last ulp, which breaks exact value-hash comparison and
    run-to-run reproducibility at 100 TB. Integer summation is exact and
    associative, so every engine/ordering produces bit-identical results.
    Costs 1e-8 absolute quantization per term (documented tolerance for
    golden-parity tests of CUM ops).

    128-bit accumulators (decimal(38,0) / HUGEINT), not BIGINT: an
    unbounded cumulative sum of quantized terms can pass 9.2e18 on real
    data (PVT's ROC%% x volume terms did at the fuzz gate's magnitudes),
    and at that boundary Spark's non-ANSI cast SATURATES silently while
    DuckDB errors — silent wrong answers on one engine, a crash on the
    other. decimal(38,0) keeps the sum exact-associative with 1e38
    headroom; per-term exactness is still bounded by the double mantissa
    (terms > 9e15/scale quantize identically on both engines either
    way)."""
    return F.sum(_q128(term * scale + F.lit(0.5))).over(w_all()) / F.lit(scale)


def sql_cumsum_fixed(term_sql: str, scale: float = CUM_SCALE) -> str:
    """DuckDB twin of cumsum_fixed — same quantization, exact 128-bit sum."""
    return (f"(sum({_sql_q128(f'({term_sql}) * {scale!r} + 0.5')})"
            f" OVER ({SQL_W_ALL}) / {scale!r})")


def rn() -> Column:
    """1-based row position within the instrument (warmup masks, argmax tricks)."""
    return F.row_number().over(w_order())


def bars_since_extreme(val: Column | str, n: int, is_max: bool) -> Column:
    """Distance (in rows) to the most recent max/min in the trailing n-row
    frame, latest-tie-wins — the reference's reversed argmax
    (``pandas_ta/utils/_core.py#recent_maximum_index``, used by aroon).

    max_by(rn, struct(value, rn)) picks the row with the largest (value, rn)
    pair, so ties resolve to the most recent row, matching the reference's
    reversed-array argmax.
    """
    val_col = F.col(val) if isinstance(val, str) else val
    row = rn()
    key = F.struct(val_col if is_max else -val_col, row)
    best_rn = F.max_by(row, key).over(w_rows(n))
    return masked(row - best_rn, val_col, n)


# --------------------------------------------------------------------------
# SQL twins (DuckDB oracle generation). Frame syntax is ANSI and identical
# in Spark SQL and DuckDB.
# --------------------------------------------------------------------------

SQL_W_ORDER = "PARTITION BY symbol ORDER BY ts"


def sql_w_rows(n: int) -> str:
    return f"{SQL_W_ORDER} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW"


SQL_W_ALL = f"{SQL_W_ORDER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def sql_masked(expr_sql: str, src_sql: str, n: int, min_periods: int | None = None) -> str:
    mp = n if min_periods is None else min_periods
    return (
        f"CASE WHEN count({src_sql}) OVER ({sql_w_rows(n)}) >= {mp} "
        f"THEN {expr_sql} END"
    )


def sql_roll(agg: str, src_sql: str, n: int, min_periods: int | None = None) -> str:
    return sql_masked(f"{agg}({src_sql}) OVER ({sql_w_rows(n)})", src_sql, n, min_periods)


def sql_const_guard(src_sql: str, n: int, then_sql: str, else_sql: str) -> str:
    """Constant-frame guard for dispersion SQL (pdkernels.roll_const_mask
    twin): a FULL n-frame whose max equals its min takes ``then_sql``
    (the exact value — 0 for central moments, NULL for ratios of them);
    anything else, including partial warmup frames, keeps ``else_sql``
    and its own masking."""
    w = sql_w_rows(n)
    return (f"CASE WHEN count({src_sql}) OVER ({w}) >= {n}"
            f" AND max({src_sql}) OVER ({w}) = min({src_sql}) OVER ({w})"
            f" THEN {then_sql} ELSE {else_sql} END")


def sql_wroll(src_sql: str, weights: list[float], normalize: bool = True) -> str:
    """Weighted rolling dot product as a sum of lag() terms — the oracle
    of pdkernels.wroll_pd (weights[i] multiplies lag i)."""
    n = len(weights)
    total = sum(weights) if normalize else 1.0
    terms = []
    for i, w in enumerate(weights):
        term = src_sql if i == 0 else f"lag({src_sql}, {i}) OVER ({SQL_W_ORDER})"
        terms.append(f"({w / total!r}) * ({term})")
    return sql_masked(" + ".join(terms), src_sql, n)


def sql_shift(src_sql: str, k: int = 1) -> str:
    if k == 0:
        return src_sql
    fn = "lag" if k > 0 else "lead"
    return f"{fn}({src_sql}, {abs(k)}) OVER ({SQL_W_ORDER})"


def sql_diff(src_sql: str, k: int = 1) -> str:
    return f"(({src_sql}) - {sql_shift(src_sql, k)})"
