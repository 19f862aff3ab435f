"""Seeded inputs of the ETL and search workloads.

Everything derives from the seed through numpy's PCG64 generator, so the
same seed writes the same files. Each writer finishes with a `_DONE` marker.

ETL (`write_etl`): prices are whole cents, which keeps every derived
`Close_Change` exact and lets DuckDB recompute it bit for bit.
  bars.parquet      Date, Symbol, Open, High, Low, Close, Adj Close, Volume;
                    bars of the valid symbols on every trading day, plus bars
                    of 6-character and unlisted symbols the run must drop
  constituents.csv  Symbol: the valid symbols, padded copies of some, and
                    invalid entries (6 characters, padded 6 characters, empty)
  days.txt          the trading days (weekdays), one per line
  meta.json         the valid symbols (ground truth for the checks)

Search (`write_search`): the shapes of the engine's `ScaleFixture`
generators, drawn with numpy (the fixture's per-element hash lambdas take
tens of seconds at this size, more than a run can spend on its inputs).
  embeddings.parquet  vec_id, embedding (64 float32): 10 label clusters,
                      a label centre in [-0.2, 0.2) plus noise in
                      [-0.25, 0.25), halved
  docs.parquet        doc_id, text: 8-90 tokens `<word>_<theme>` from a
                      30-word vocabulary, about 25 docs per theme
  queries.tsv         per query: a corpus vector plus noise (comma-separated
                      floats), a tab, then two corpus terms
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = datetime.date(2021, 1, 4)
LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def trading_days(n):
    days, d = [], FIRST_DAY
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += datetime.timedelta(days=1)
    return days


def symbol_names(rng, n, length):
    names = set()
    while len(names) < n:
        names.add("".join(rng.choice(LETTERS, size=length)))
    return sorted(names)


def write_etl(data_dir, seed, symbols, days):
    rng = np.random.default_rng(seed)
    valid = symbol_names(rng, symbols, 4)
    # a few share-class listings (BRK.B style) are valid too
    valid[: max(1, symbols // 50)] = [s[:3] + "." + s[3] for s in valid[: max(1, symbols // 50)]]
    invalid = symbol_names(rng, max(2, symbols // 50), 6)
    # listed nowhere in the constituents: bars the run must not load
    unlisted = [s + "Z" for s in symbol_names(rng, max(2, symbols // 50), 3)
                if s + "Z" not in set(valid)]
    dates = trading_days(days)

    tickers = valid + invalid + unlisted
    n_sym, n_day = len(tickers), len(dates)
    start = rng.integers(1_000, 50_000, size=n_sym)
    steps = rng.integers(-300, 301, size=(n_day, n_sym))
    close = np.maximum(start + np.cumsum(steps, axis=0), 100)
    opened = np.maximum(close - rng.integers(-150, 151, size=(n_day, n_sym)), 100)
    high = np.maximum(opened, close) + rng.integers(0, 200, size=(n_day, n_sym))
    low = np.maximum(np.minimum(opened, close) - rng.integers(0, 200, size=(n_day, n_sym)), 50)
    volume = rng.integers(10_000, 5_000_000, size=(n_day, n_sym))

    def price(cents):
        return cents.reshape(-1) / 100.0

    table = pa.table({
        "Date": pa.array(np.repeat(np.array(dates, dtype="datetime64[D]"), n_sym)),
        "Symbol": pa.array(np.tile(np.array(tickers), n_day)),
        "Open": price(opened), "High": price(high), "Low": price(low), "Close": price(close),
        "Adj Close": price(close),
        "Volume": volume.reshape(-1).astype(np.int64),
    })
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(table, os.path.join(data_dir, "bars.parquet"), row_group_size=64_000)

    padded = [f"  {s} " for s in valid[:: max(1, symbols // 10)]]
    entries = valid + padded + invalid + [f" {invalid[0]}  ", "", "   "]
    order = rng.permutation(len(entries))
    with open(os.path.join(data_dir, "constituents.csv"), "w") as fh:
        fh.write("Symbol,Security\n")
        for i in order:
            fh.write(f"\"{entries[i]}\",Company {i}\n")
    with open(os.path.join(data_dir, "days.txt"), "w") as fh:
        fh.write("\n".join(d.isoformat() for d in dates) + "\n")
    with open(os.path.join(data_dir, "meta.json"), "w") as fh:
        json.dump({"valid": valid}, fh)
    open(os.path.join(data_dir, "_DONE"), "w").close()


VOCAB = ["spark", "batch", "stream", "table", "column", "row", "value", "key", "join", "group",
         "agg", "filter", "sort", "scan", "query", "window", "hash", "merge", "data", "part",
         "order", "line", "customer", "vector", "fast", "slow", "big", "small", "the", "a"]


def write_search(data_dir, seed, docs, vectors, queries):
    rng = np.random.default_rng(seed)
    labels = rng.integers(0, 10, size=vectors)
    centres = (rng.integers(0, 400, size=(10, 64)) - 200) / 1000.0
    noise = (rng.integers(0, 500, size=(vectors, 64)) - 250) / 1000.0
    emb = ((centres[labels] + noise) / 2.0).astype(np.float32)
    offsets = pa.array(np.arange(0, vectors * 64 + 1, 64, dtype=np.int32))
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(emb.reshape(-1))),
    }), os.path.join(data_dir, "embeddings.parquet"), row_group_size=25_000)

    themes = max(1, docs // 25)
    lengths = rng.integers(8, 91, size=docs)
    doc_theme = rng.integers(0, themes, size=docs)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, at = [], 0
    for n, theme in zip(lengths, doc_theme):
        texts.append(" ".join(f"{VOCAB[w]}_{theme}" for w in words[at:at + n]))
        at += n
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(docs, dtype=np.int64)),
                             "text": pa.array(texts)}),
                   os.path.join(data_dir, "docs.parquet"), row_group_size=2_500)

    terms = sorted({t for text in texts[:100] for t in text.split(" ")})
    with open(os.path.join(data_dir, "queries.tsv"), "w") as fh:
        for _ in range(queries):
            v = emb[rng.integers(0, vectors)] + (rng.random(64, dtype=np.float32) - 0.5) * 0.1
            picked = [terms[i] for i in rng.integers(0, len(terms), size=2)]
            fh.write(",".join(repr(float(x)) for x in v.astype(np.float32)) + "\t" +
                     " ".join(picked) + "\n")
    open(os.path.join(data_dir, "_DONE"), "w").close()
