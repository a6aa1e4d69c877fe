"""r14 ROLL absorption: the converted Arrow kernels must be EXACT under
row-chunked execution (plans/kernels.row_chunks behind
apply_strategy_chunked_rows) — the declared carry_rows/lead_rows are the
contract that lets one hot symbol split into parallel chunks at 100 TB
without changing a single output bit.

Each converted indicator runs whole-group vs chunked-with-tiny-chunks on
a 2-symbol frame and must match bit-for-bit (NaN == NaN)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def _frame(spark, n=1200, symbols=("A", "B")):
    rng = np.random.default_rng(7)
    frames = []
    for s in symbols:
        close = 100 + np.cumsum(rng.normal(0, 0.6, n))
        # inject flat stretches (constant-frame guards) and v=0 rows
        close[200:210] = close[200]
        vol = rng.integers(1, 900, n).astype("float64")
        vol[300:303] = 0.0
        frames.append(pd.DataFrame({
            "symbol": s,
            "ts": pd.date_range("2022-01-01", periods=n, freq="min"),
            "open": close + rng.normal(0, 0.1, n),
            "high": close + np.abs(rng.normal(0.2, 0.1, n)),
            "low": close - np.abs(rng.normal(0.2, 0.1, n)),
            "close": close,
            "volume": vol,
        }))
    return spark.createDataFrame(pd.concat(frames)).repartition(3)


# (factory path, kwargs) for every kernel converted from a window
# expression with a finite carry (the ROLL ops, then the WROLL family and
# the lag ops from wma onward) — xsignals/hilo/vwap/obv are
# unbounded-state (carry None) and never chunk
CONVERTED = [
    ("momentum.ao", {}), ("momentum.apo", {}), ("momentum.bias", {}),
    ("momentum.cmo", {}), ("momentum.cg", {}), ("momentum.cfo", {}),
    ("momentum.cti", {}), ("momentum.er", {}), ("momentum.psl", {}),
    ("trend.chop", {}), ("trend.dpo", {"centered": True}),
    ("trend.dpo", {"centered": False}), ("trend.qstick", {}),
    ("trend.ttm_trend", {}), ("trend.vhf", {}),
    ("trend.tsignals", {}), ("trend.long_run", {}), ("trend.short_run", {}),
    ("volatility.ui", {}), ("volatility.accbands", {}),
    ("volume.cmf", {}), ("volume.eom", {}),
    ("overlap.trima", {}), ("overlap.vwma", {}),
    ("overlap.linreg", {}), ("overlap.linreg", {"mode": "slope"}),
    ("overlap.linreg", {"mode": "intercept"}),
    ("overlap.linreg", {"mode": "r"}), ("overlap.linreg", {"mode": "tsf"}),
    ("overlap.sma", {"length": 20}),
    ("overlap.wma", {}), ("overlap.pwma", {}), ("overlap.fwma", {}),
    ("overlap.swma", {}), ("overlap.sinwma", {}), ("overlap.alma", {}),
    ("overlap.hma", {}), ("momentum.coppock", {}), ("momentum.mom", {}),
    ("momentum.roc", {}),
]


@pytest.mark.parametrize("path,kw", CONVERTED,
                         ids=[f"{p.split('.')[1]}{i}" for i, (p, kw)
                              in enumerate(CONVERTED)])
def test_chunked_equals_whole_group(spark, path, kw):
    import importlib

    from pandas_ta_spark.plans.strategy import (
        apply_strategy, apply_strategy_chunked_rows)
    from tests.conftest import min_row_chunks

    mod_name, fn_name = path.split(".")
    mod = importlib.import_module(f"pandas_ta_spark.operators.{mod_name}")
    ind = getattr(mod, fn_name)(**kw)
    assert ind.kernel is not None, path
    assert ind.kernel.carry_rows is not None, path
    df = _frame(spark)
    # chunk barely above the declared carry/lead: the hardest split
    chunk = max(ind.kernel.carry_rows, ind.kernel.lead_rows) + 3
    whole = (apply_strategy(df, [ind], auto_chunk_rows=None)
             .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    chunked = (apply_strategy_chunked_rows(
        df, [ind], lookback=ind.kernel.carry_rows, chunk_rows=chunk)
        .toPandas().sort_values(["symbol", "ts"]).reset_index(drop=True))
    assert min_row_chunks(whole, chunk) >= 2
    assert list(whole.columns) == list(chunked.columns)
    assert len(whole) == len(chunked)
    for c in ind.kernel.outputs:
        a = whole[c].to_numpy()
        b = chunked[c].to_numpy()
        same = (a == b) | (np.isnan(a) & np.isnan(b))
        assert same.all(), (path, c, int((~same).sum()),
                            a[~same][:5], b[~same][:5])
