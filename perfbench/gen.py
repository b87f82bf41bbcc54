"""Seeded input generator for the perfbench workloads.

Everything the benchmark feeds the program is made here, from the seed,
before any timing starts:

* ``bars``     -- RawBar days (GBM price path, consistent OHLC) for a
                  ticker universe, with the FIXTURES.md variants: 120/180 s
                  gaps, >180 s island splits, short islands, pre-/post-market
                  rows, missing (NaN) cells, and null-ticker rows.
* ``chunks``   -- those days as the wide ``{ticker}:{Field}`` frames that
                  ``Downloader.run``'s ``fetch`` receives, one parquet file per
                  chunk of ``CHUNK`` tickers.
* ``curation`` -- ``documents``, ``embeddings`` and ``events`` tables in the
                  schema of the sf* test tables (FIXTURES.md section 2).

Missing cells are written as parquet nulls, which is how pandas stores a
NaN cell (``DataFrame.to_parquet``) and how the reference downloader's
output reaches the indicator task.
"""
import datetime as dt
import os
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EASTERN = ZoneInfo("America/New_York")
CHUNK = 10                      # reference chunk size (data_download_yahoo.py)
FIELDS = ["Volume", "Open", "Close", "High", "Low", "Adj Close"]
START_DAY = dt.date(2024, 3, 4)  # the range crosses the 2024-03-10 DST switch
PRE_MARKET = 30                  # minutes before 09:30 that carry rows
POST_MARKET = 25                 # minutes from 16:30 on that carry rows
SESSION_MIN = 420                # 09:30 <= t < 16:30 (utils.py:26-36)


def trading_days(n):
    out, d = [], START_DAY
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def tickers(n_csv):
    """Ticker universe in ``BarsIO.tickerList`` order: CSV symbols, then the
    two ETF literals it appends."""
    syms = [f"T{i:03d}" for i in range(n_csv)]
    return syms, syms + ["SPY", "VOO"]


def open_ns(day):
    t = dt.datetime.combine(day, dt.time(9, 30), EASTERN)
    return int(t.timestamp()) * 1_000_000_000


def _day_bars(rng, names, day, p0):
    """One trading day for every ticker: a list of per-ticker dicts with
    minute offsets (from 09:30 ET) and OHLCV arrays; returns the close of
    each ticker too, so the next day continues the path."""
    n = len(names)
    minutes = np.arange(-PRE_MARKET, SESSION_MIN + POST_MARKET)
    m = len(minutes)
    sigma = rng.uniform(0.0005, 0.002, size=(n, 1))
    z = rng.standard_normal((n, m))
    logp = np.log(p0)[:, None] + np.cumsum(sigma * z - 0.5 * sigma ** 2, axis=1)
    close = np.exp(logp)
    opn = np.concatenate([p0[:, None], close[:, :-1]], axis=1)
    hi = np.maximum(opn, close) * (1 + np.abs(rng.standard_normal((n, m))) * 3e-4)
    lo = np.minimum(opn, close) * (1 - np.abs(rng.standard_normal((n, m))) * 3e-4)
    vol = np.floor(rng.lognormal(7.0, 1.0, size=(n, m))) + 1.0
    adj = rng.uniform(0.97, 1.0, size=(n, 1))
    out = []
    for i in range(n):
        keep = np.ones(m, dtype=bool)
        session = np.nonzero((minutes >= 0) & (minutes < SESSION_MIN))[0]
        # holes in the ticker's own series: isolated 1- and 2-minute ones
        holes = rng.choice(session[1:-3], size=rng.integers(0, 12), replace=False)
        keep[holes] = False
        keep[holes[: len(holes) // 3] + 1] = False
        r = rng.random()
        if r < 0.30:            # a longer one mid-session
            at = rng.integers(60, SESSION_MIN - 60)
            keep[session[at: at + rng.integers(4, 30)]] = False
        elif r < 0.40:          # one that leaves a short leading stretch
            at = rng.integers(2, 25)
            keep[session[at: at + rng.integers(4, 10)]] = False
        elif r < 0.45:          # a ticker that trades only briefly
            keep[session[rng.integers(20, 40):]] = False
        cells = [vol[i], opn[i], close[i], hi[i], lo[i], close[i] * adj[i, 0]]
        masks = []
        for _ in cells:         # sparse missing cells inside the session
            mk = np.zeros(m, dtype=bool)
            mk[rng.choice(session[5:-5], size=rng.integers(0, 3), replace=False)] = True
            masks.append(mk)
        sel = np.nonzero(keep)[0]
        out.append({
            "ticker": names[i], "min": minutes[sel],
            "cells": [c[sel] for c in cells], "masks": [mk[sel] for mk in masks]})
    return out, close[:, -1]


def _arr(values, mask):
    return pa.array(values, type=pa.float64(), mask=mask)


def write_null_tickers(path, day, n, rng):
    """``n`` RawBar rows (Schemas.rawBars) with a null ticker inside the
    session of ``day``: rows the pipeline must skip."""
    mins = rng.integers(0, SESSION_MIN, size=n).astype(np.int64)
    pq.write_table(pa.table({
        "ticker": pa.array([None] * n, type=pa.string()),
        **{k: pa.array(rng.uniform(10, 500, size=n))
           for k in ["volume", "open", "close", "high", "low", "adj_close"]},
        "window_start": pa.array(open_ns(day) + mins * 60_000_000_000, type=pa.int64()),
    }), path)


def write_chunks(dirpath, day, rows, rng):
    """The wide yf.download(group_by="ticker") frames for one day: one file
    per chunk, rows on the union of the chunk's timestamps, a null cell where
    a ticker has no bar at that minute. A ticker's own hole therefore arrives
    as null cells; gaps in the rows come from feed outages that hit the whole
    chunk: 1- and 2-minute outages (120 s / 180 s gaps) and, in 30 % of the
    chunks, a 4-30 minute one (an island split). Returns the long-row count
    ``Downloader.flattenWide`` will produce."""
    os.makedirs(dirpath, exist_ok=True)
    base = open_ns(day)
    produced = 0
    for k in range(0, len(rows), CHUNK):
        chunk = rows[k: k + CHUNK]
        grid = np.unique(np.concatenate([r["min"] for r in chunk]))
        out = set(rng.integers(5, SESSION_MIN - 5, size=rng.integers(0, 4)).tolist())
        out |= {m + 1 for m in list(out)[:1]}
        if rng.random() < 0.3:
            at = int(rng.integers(60, SESSION_MIN - 60))
            out |= set(range(at, at + int(rng.integers(4, 30))))
        grid = grid[~np.isin(grid, list(out))]
        cols = {"window_start": pa.array(base + grid.astype(np.int64) * 60_000_000_000,
                                         type=pa.int64())}
        for r in chunk:
            have = np.isin(r["min"], grid)
            pos = np.searchsorted(grid, r["min"][have])
            for f, c, mk in zip(FIELDS, r["cells"], r["masks"]):
                v = np.zeros(len(grid))
                miss = np.ones(len(grid), dtype=bool)
                v[pos] = c[have]
                miss[pos] = mk[have]
                cols[f"{r['ticker']}:{f}"] = _arr(v, miss)
        produced += len(grid) * len(chunk)
        pq.write_table(pa.table(cols), os.path.join(dirpath, f"chunk-{chunk[0]['ticker']}.parquet"))
    return produced


def gen_days(rng, names, days):
    p = rng.uniform(20, 400, size=len(names))
    out = []
    for d in days:
        rows, p = _day_bars(rng, names, d, p)
        out.append((d, rows))
    return out


def write_ticker_csv(path, syms):
    with open(path, "w") as f:
        f.write("Symbol,Security\n")
        for s in syms:
            f.write(f"{s},{s} Inc\n")


# ---------------------------------------------------------------- curation

WORDS = ("spark scan sort hash join group filter window stream batch vector "
         "table column row key value query data merge part line order agg big "
         "small fast slow customer the a").split()
LANGS = ["en"] * 16 + ["de", "fr", "zh", "es"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def write_curation(dirpath, rng, n_docs=5000, n_vecs=2000, n_events=100000,
                   dim=64, n_users=1500):
    """documents / embeddings / events with the shapes and value laws of the
    sf0.1 test tables: bag-of-words texts over a small vocabulary (a few
    near-duplicate copies give the dedup queries matches to find), iid
    N(0, 0.125^2) float embeddings with a 10-way label, and 30 days of events
    over 1500 users with exponential values."""
    os.makedirs(dirpath, exist_ok=True)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.03:
            w = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(0, 3)):
                w[rng.integers(0, len(w))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(w))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=n)))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), size=n_docs)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, size=n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), os.path.join(dirpath, "documents.parquet"))

    vecs = (0.125 * rng.standard_normal((n_vecs, dim))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vecs).astype(np.int32), type=pa.int32()),
    }), os.path.join(dirpath, "embeddings.parquet"))

    t0 = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    span = 30 * 86400 * 10 ** 9
    ts = np.sort(t0 + rng.integers(0, span, size=n_events)) // 1000 * 1000
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_events), type=pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, size=n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_events), 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, size=n_events)]),
    }), os.path.join(dirpath, "events.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs, "events": n_events}
