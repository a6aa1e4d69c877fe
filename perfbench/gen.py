"""Seeded input generator for the benchmark workloads.

Every table is written as parquet in the same schema the library's
loaders read (``sources.bars.load_table``), so the library sees only
these tables and the DuckDB oracles it ships run over them unchanged.

The seed drives the price paths, the check-symbol choice, the planted
near-duplicate choice, document text and all jitter. Sizes are module constants and do
not depend on the seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ta_panel: SERIES x BARS_PER_SERIES hourly bars, each bar derived by the
# library's bars_from_events from EVENTS_PER_BAR ticks inside the hour.
SERIES = 40
BARS_PER_SERIES = 1250
EVENTS_PER_BAR = 4
CHECK_SERIES = 1       # series whose outputs the oracle re-derives
CHECK_BARS = 100       # oracle prefix per checked series (rows)

# ta_stream: a smaller bar panel replayed as time-ordered files.
STREAM_SERIES = 20
STREAM_BARS = 360
STREAM_FILES = 2

# corpus_dedup
PLANTED_FRAC = 0.10    # planted near-duplicate documents
DOCS = 1500
DOC_REPLICAS = 2       # token-salted replicas, as in bench.py's x10 corpus
VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector index shard token").split()

EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
HOUR_US = 3_600_000_000


def _symbols(n: int) -> list[str]:
    return [f"SYM{i:03d}" for i in range(n)]


def _price_paths(rng, n_series: int, n_bars: int) -> np.ndarray:
    start = rng.uniform(20.0, 400.0, size=(n_series, 1))
    steps = rng.normal(0.0, 0.01, size=(n_series, n_bars))
    return start * np.exp(np.cumsum(steps, axis=1))


def write_events(out_dir: str, rng) -> dict:
    """The ta_panel input as an ``events`` table: EVENTS_PER_BAR ticks
    per (series, hour) at distinct minutes, so ``bars_from_events``
    yields exactly SERIES x BARS_PER_SERIES bars with real OHLC spread."""
    syms = _symbols(SERIES)
    paths = _price_paths(rng, SERIES, BARS_PER_SERIES)
    n_bars = SERIES * BARS_PER_SERIES
    k = EVENTS_PER_BAR
    # tick values: the bar's path level times small intra-hour noise,
    # quantized to cents like real quotes
    noise = rng.normal(0.0, 0.002, size=(n_bars, k))
    value = np.round(paths.reshape(-1, 1) * (1.0 + noise), 2)
    minute = rng.integers(0, 60, size=(n_bars, k))
    second = rng.integers(0, 60, size=(n_bars, k))
    bar_hour = np.tile(np.arange(BARS_PER_SERIES), SERIES).reshape(-1, 1)
    ts_us = (bar_hour * HOUR_US + minute * 60_000_000 + second * 1_000_000
             + np.arange(k) * 1000)  # +k ms keeps ticks of one bar distinct
    sym = np.repeat(np.array(syms, dtype=object), BARS_PER_SERIES * k)
    n = n_bars * k
    table = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EPOCH + ts_us.reshape(-1).astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, 2000, size=n).astype(np.int64),
        "event_type": pa.array(sym, type=pa.string()),
        "value": value.reshape(-1),
        "props": pa.array(["{}"] * n, type=pa.string()),
    })
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    check = sorted(rng.choice(syms, size=CHECK_SERIES, replace=False).tolist())
    return {"events": n, "rows": n_bars, "series": SERIES,
            "check_symbols": check, "check_bars": CHECK_BARS}


def write_stream_bars(out_dir: str, rng) -> dict:
    """The ta_stream input: bars split into STREAM_FILES time-ordered
    parquet files (the replay source), same columns as BARS_DDL."""
    syms = _symbols(STREAM_SERIES)
    close = np.round(_price_paths(rng, STREAM_SERIES, STREAM_BARS), 4)
    spread = np.abs(rng.normal(0.0, 0.004, size=close.shape)) * close
    openp = np.round(close * (1.0 + rng.normal(0.0, 0.002, size=close.shape)), 4)
    high = np.round(np.maximum(openp, close) + spread, 4)
    low = np.round(np.minimum(openp, close) - spread, 4)
    vol = rng.integers(1, 500, size=close.shape).astype(np.float64)
    ts = EPOCH + (np.arange(STREAM_BARS) * HOUR_US).astype("timedelta64[us]")
    per_file = STREAM_BARS // STREAM_FILES
    src = os.path.join(out_dir, "stream_src")
    os.makedirs(src)
    for f in range(STREAM_FILES):
        lo = f * per_file
        hi = STREAM_BARS if f == STREAM_FILES - 1 else lo + per_file
        cols = {"symbol": [], "ts": [], "open": [], "high": [], "low": [],
                "close": [], "volume": []}
        for t in range(lo, hi):
            cols["symbol"].extend(syms)
            cols["ts"].extend([ts[t]] * STREAM_SERIES)
            for name, arr in (("open", openp), ("high", high), ("low", low),
                              ("close", close), ("volume", vol)):
                cols[name].extend(arr[:, t].tolist())
        cols["ts"] = pa.array(np.array(cols["ts"], dtype="datetime64[us]"),
                              type=pa.timestamp("us"))
        path = os.path.join(src, f"part-{f:03d}.parquet")
        pq.write_table(pa.table(cols), path)
        # the file source replays files in modification-time order: make
        # that order the time order, one second apart
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    return {"rows": STREAM_SERIES * STREAM_BARS, "series": STREAM_SERIES,
            "files": STREAM_FILES, "stream_dir": src}


def write_corpus(out_dir: str, rng) -> dict:
    """corpus_dedup input: ``documents``, DOCS random-vocabulary texts
    plus PLANTED_FRAC one-word-edited copies, as DOC_REPLICAS
    token-salted replicas."""
    words = np.array(VOCAB, dtype=object)
    docs = [words[rng.integers(0, len(words), size=rng.integers(12, 60))].tolist()
            for _ in range(DOCS)]
    n_dup = int(DOCS * PLANTED_FRAC)
    for i in rng.choice(DOCS, size=n_dup, replace=False):
        copy = list(docs[i])
        copy[rng.integers(0, len(copy))] = str(rng.choice(words))
        docs.append(copy)
    ids, texts, langs, sources = [], [], [], []
    lang_pool = np.array(["en", "de", "fr", "zh"], dtype=object)
    for i, toks in enumerate(docs):
        lang = str(rng.choice(lang_pool))
        for r in range(DOC_REPLICAS):
            ids.append(i * DOC_REPLICAS + r)
            texts.append(" ".join(f"{w}{r}" for w in toks))
            langs.append(lang)
            sources.append(f"src{i % 20}")
    pq.write_table(pa.table({
        "doc_id": np.array(ids, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))
    return {"documents": len(ids), "planted_documents": n_dup * DOC_REPLICAS}


WRITERS = {"events": write_events, "stream": write_stream_bars,
           "corpus": write_corpus}


def generate(kind: str, out_dir: str, seed: int) -> dict:
    """Write one workload's input tables under ``out_dir``; return the
    input fingerprint (sizes, seeded choices, content digest)."""
    rng = np.random.default_rng([seed, list(WRITERS).index(kind)])
    info = WRITERS[kind](out_dir, rng)
    digest = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for name in sorted(files):
            with open(os.path.join(root, name), "rb") as fh:
                digest.update(fh.read())
    info["sha256"] = digest.hexdigest()[:16]
    info["seed"] = seed
    return info
