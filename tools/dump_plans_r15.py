"""Dump .explain("formatted") for the r15 optimization targets.

    python tools/dump_plans_r15.py before|after [name ...]

Writes plans/r15/<name>_<suffix>.txt for each target (default: all).
Bench-context targets (the tick strategies) are built exactly like
bench.py builds them — symbol-partitioned cached ticks, 11 shuffle
partitions — so the dumped plan is the plan the bench times. The
row-chunked targets pin the route the skew router takes (the linreg one
is the plan the OLS parity fix executes). Ext targets use the same sf
dir as the bench's LLM pack.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r15")
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "11")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .appName("dump-plans-r15")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from bench import all_indicators, strategy_indicators, tick_bars
    from pandas_ta_spark.ext import SUITE as EXT
    from pandas_ta_spark.plans.strategy import apply_strategy

    ticks = tick_bars(spark, sf_dir).repartition(11, "symbol")
    ticks.cache().count()
    strat24 = strategy_indicators()
    all_inds = all_indicators()

    from pandas_ta_spark.plans.strategy import (
        apply_strategy_chunked_rows, split_chunkable)
    from pandas_ta_spark.registry import make

    lb24, safe24, _ = split_chunkable(strat24)
    linreg = make("linreg", length=14)

    targets = {
        "tick_strategy_24ind": lambda: apply_strategy(
            ticks, strat24, auto_chunk_rows=None),
        "tick_strategy_all145ind": lambda: apply_strategy(
            ticks, all_inds, auto_chunk_rows=None),
        "strategy_bounded_rowchunked": lambda: apply_strategy_chunked_rows(
            ticks, safe24, lb24, 65_536),
        # the row-chunked kernel pass the OLS parity fix executes
        "strategy_linreg_rowchunked": lambda: apply_strategy_chunked_rows(
            ticks, [linreg], linreg.kernel.carry_rows, 4096),
        "dedup_minhash_lsh": lambda: EXT["dedup_minhash_lsh"].query(
            spark, sf_dir),
        "topk_cosine_ivf": lambda: EXT["topk_cosine_ivf"].query(
            spark, sf_dir),
        "topk_cosine_ivfpq": lambda: EXT["topk_cosine_ivfpq"].query(
            spark, sf_dir),
        "topk_cosine_pq_rerank": lambda: EXT["topk_cosine_pq_rerank"].query(
            spark, sf_dir),
        "text_stats": lambda: EXT["text_stats"].query(spark, sf_dir),
        "shard_pack_tokens": lambda: EXT["shard_pack_tokens"].query(
            spark, sf_dir),
    }
    for name, build in targets.items():
        if only and name not in only:
            continue
        try:
            df = build()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building {name}: {exc}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
