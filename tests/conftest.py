"""Shared fixtures: one local SparkSession + deterministic synthetic bars.

Mirrors the reference's test shape (SURVEY.md §5): one golden OHLCV
fixture, per-indicator parity vs plain pandas formulas with
|spark - pandas| < 1e-9 for FIR ops and corr >= 0.99 for IIR ops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .appName("pandas-ta-spark-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def make_pdf(n: int = 300, seed: int = 7, symbol: str = "A") -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    close = 100 + np.cumsum(rng.normal(0, 1, n))
    spread = np.abs(rng.normal(0.5, 0.2, n))
    high = close + spread
    low = close - spread
    open_ = close + rng.normal(0, 0.3, n)
    vol = rng.integers(100, 1000, n).astype(float)
    ts = pd.date_range("2024-01-01", periods=n, freq="h")
    return pd.DataFrame(
        {"symbol": symbol, "ts": ts, "open": open_, "high": high,
         "low": low, "close": close, "volume": vol}
    )


@pytest.fixture(scope="session")
def pdf_bars() -> pd.DataFrame:
    return pd.concat([make_pdf(300, 7, "A"), make_pdf(250, 11, "B")],
                     ignore_index=True)


@pytest.fixture(scope="session")
def bars(spark, pdf_bars):
    return spark.createDataFrame(pdf_bars).repartition(4)


def min_row_chunks(pdf: pd.DataFrame, chunk_rows: int,
                   symbol: str | None = None) -> int:
    """Fewest ``chunk_rows``-row chunks any symbol of ``pdf`` (or the
    named one) spans, counted from the data: a chunk-parity test asserts
    it to prove it crossed chunk boundaries."""
    sizes = pdf.groupby("symbol", dropna=False).size()
    if symbol is not None:
        sizes = sizes[[symbol]]
    return int(-(-sizes.min() // chunk_rows))


def route_rows(monkeypatch, chunk_rows: int) -> list[int]:
    """Make the strategy router's row route testable on small frames:
    plan statistics never skip the count, every routed call uses
    ``chunk_rows``-row chunks (the real size floors at 4,096 rows), and
    the returned list records the chunk size of each routed call."""
    from pandas_ta_spark.plans import strategy as S

    routed: list[int] = []
    real = S.apply_strategy_chunked_rows

    def spy(df, inds, lookback, chunk):
        routed.append(chunk)
        return real(df, inds, lookback, chunk)

    monkeypatch.setattr(S, "apply_strategy_chunked_rows", spy)
    monkeypatch.setattr(S, "_AUTO_CHUNK_MIN_BYTES", 0)
    monkeypatch.setattr(S, "_auto_chunk_size",
                        lambda df, hot, lb: chunk_rows)
    return routed


def one_symbol(out: pd.DataFrame, symbol: str = "A") -> pd.DataFrame:
    return (out[out["symbol"] == symbol]
            .sort_values("ts").reset_index(drop=True))


def assert_close(spark_s: pd.Series, pandas_s: pd.Series, tol: float = 1e-9,
                 name: str = ""):
    a = spark_s.to_numpy(dtype=float)
    b = pandas_s.to_numpy(dtype=float)
    both_nan = np.isnan(a) & np.isnan(b)
    assert (np.isnan(a) == np.isnan(b)).all(), (
        f"{name}: NULL pattern mismatch "
        f"(spark {np.isnan(a).sum()} vs pandas {np.isnan(b).sum()})"
    )
    ok = both_nan | (np.abs(a - b) <= tol)
    assert ok.all(), f"{name}: max abs diff {np.nanmax(np.abs(a - b))}"
