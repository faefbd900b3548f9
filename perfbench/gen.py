"""Seeded inputs and numpy oracles for the perfbench workloads.

Everything the system under test receives is generated here from the run
seed; every answer it returns is checked against an oracle computed here
from the same arrays.  Nothing in this module imports Spark.
"""

from __future__ import annotations

import string

import numpy as np

DAY_NS = 86_400 * 10**9
HOUR_NS = 3_600 * 10**9
# 2024-01-01T00:00:00Z: history starts on a day boundary
BASE_NS = 1_704_067_200 * 10**9
N_SYMBOLS = 500
SYMBOLS = np.array([f"S{i:03d}" for i in range(N_SYMBOLS)])
TICK_COLS = ("ts", "sym", "open", "high", "low", "close", "volume")


class Ticks:
    """Column arrays of a tick set, sorted by strictly increasing ``ts``."""

    def __init__(self, ts, sym, open_, high, low, close, volume):
        self.ts = ts
        self.sym = sym
        self.open = open_
        self.high = high
        self.low = low
        self.close = close
        self.volume = volume

    def __len__(self) -> int:
        return len(self.ts)

    @classmethod
    def concat(cls, parts: list["Ticks"]) -> "Ticks":
        return cls(*[np.concatenate([getattr(p, c) for p in parts])
                     for c in TICK_COLS])

    def head(self, n: int) -> "Ticks":
        return Ticks(*[getattr(self, c)[:n] for c in TICK_COLS])

    def to_arrow(self):
        import pyarrow as pa

        return pa.table({"ts": self.ts, "sym": self.sym, "open": self.open,
                         "high": self.high, "low": self.low,
                         "close": self.close, "volume": self.volume})


def _ticks(rng: np.random.Generator, start_ns: int, span_ns: int,
           n: int) -> Ticks:
    """``n`` ticks with strictly increasing ts inside
    [start_ns, start_ns + span_ns), float32 prices, uint32 volumes."""
    offs = np.unique(rng.integers(0, span_ns, n))
    while len(offs) < n:
        offs = np.unique(np.r_[offs, rng.integers(0, span_ns, n - len(offs))])
    ts = start_ns + offs.astype(np.int64)
    sym = SYMBOLS[rng.integers(0, N_SYMBOLS, n)]
    mid = rng.uniform(10.0, 500.0, n)
    spread = rng.uniform(0.0, 2.0, n)
    open_ = (mid + rng.uniform(-1.0, 1.0, n) * spread).astype(np.float32)
    close = (mid + rng.uniform(-1.0, 1.0, n) * spread).astype(np.float32)
    high = np.maximum(np.maximum(open_, close),
                      (mid + spread).astype(np.float32))
    low = np.minimum(np.minimum(open_, close),
                     (mid - spread).astype(np.float32))
    volume = rng.integers(1, 1_000_000, n).astype(np.uint32)
    return Ticks(ts, sym, open_, high, low, close, volume)


def history(seed: int, days: int, rows: int) -> Ticks:
    """The static tick table: ``rows`` ticks over ``days`` day partitions
    starting at BASE_NS, every day non-empty."""
    rng = np.random.default_rng([seed, 1])
    per_day = np.full(days, rows // days)
    per_day[: rows % days] += 1
    return Ticks.concat([_ticks(rng, BASE_NS + d * DAY_NS, DAY_NS, int(k))
                         for d, k in enumerate(per_day)])


def lander_files(seed: int, start_ns: int, n_files: int, rows_per_file: int,
                 span_ns: int = HOUR_NS) -> list[Ticks]:
    """Tick files for the ingest lander: file i covers
    [start_ns + i*span_ns, start_ns + (i+1)*span_ns), so ts stays strictly
    increasing across files in landing order."""
    rng = np.random.default_rng([seed, 2])
    return [_ticks(rng, start_ns + i * span_ns, span_ns, rows_per_file)
            for i in range(n_files)]


# --------------------------------------------------------------------- #
# /ohlcv, /symbols, /q oracles                                           #
# --------------------------------------------------------------------- #
def select(t: Ticks, lo: int, hi: int, symbols=None) -> np.ndarray:
    """Indices of ticks with lo <= ts <= hi (and sym in ``symbols``)."""
    a = np.searchsorted(t.ts, lo, side="left")
    b = np.searchsorted(t.ts, hi, side="right")
    idx = np.arange(a, b)
    if symbols:
        idx = idx[np.isin(t.sym[idx], np.asarray(symbols))]
    return idx


def ohlcv_expected(t: Ticks, lo: int, hi: int, symbols,
                   every_ns: int | None = None) -> dict:
    """The /ohlcv response body for ``t``: stored bars per symbol, or
    ``every_ns`` tumbling buckets (open at the first ts, close at the
    last, max high, min low, summed volume, t = bucket start)."""
    if lo > hi:
        lo, hi = hi, lo
    idx = select(t, lo, hi, symbols)
    results = {}
    for s in np.unique(t.sym[idx]):
        i = idx[t.sym[idx] == s]  # ts-sorted already
        if every_ns is None:
            bars = {"t": t.ts[i].tolist(), "o": t.open[i].tolist(),
                    "h": t.high[i].tolist(), "l": t.low[i].tolist(),
                    "c": t.close[i].tolist(),
                    "v": t.volume[i].astype(np.int64).tolist()}
        else:
            b = (t.ts[i] // every_ns) * every_ns
            starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
            ends = np.r_[starts[1:], len(i)] - 1
            bars = {"t": b[starts].tolist(),
                    "o": t.open[i][starts].tolist(),
                    "h": np.maximum.reduceat(t.high[i], starts).tolist(),
                    "l": np.minimum.reduceat(t.low[i], starts).tolist(),
                    "c": t.close[i][ends].tolist(),
                    "v": np.add.reduceat(t.volume[i].astype(np.int64),
                                         starts).tolist()}
        results[str(s)] = bars
    ts_all = [v for bars in results.values() for v in bars["t"]]
    return {"results": results,
            "min_date": min(ts_all) if ts_all else None,
            "max_date": max(ts_all) if ts_all else None}


def symbols_expected(t: Ticks) -> list[str]:
    return sorted(str(s) for s in np.unique(t.sym))


# /q bodies: (name, python source, ordered?).  The parallel folds return a
# partial that the server combines with ``+``; ``max_high`` returns a
# one-element list so the partials concatenate and the client takes the
# max.  The ordered fold keeps state in a module-level dict and its last
# call's value is the answer, so it is only right when partitions are
# visited in time order.
Q_BODIES = {
    "notional": ("def scan(close, volume):\n"
                 "    return float((close.astype('float64') * volume).sum())\n",
                 False),
    "max_high": ("def scan(high):\n"
                 "    return [float(high.max())] if len(high) else []\n",
                 False),
    "count": ("def scan(ts):\n"
              "    return int(len(ts))\n", False),
    "volume": ("def scan(volume):\n"
               "    return int(volume.sum())\n", False),
    "running": ("acc = {'n': 0, 's': 0.0}\n"
                "def scan(close, volume):\n"
                "    acc['n'] += len(close)\n"
                "    acc['s'] += float((close.astype('float64') * volume).sum())\n"
                "    return [acc['n'], acc['s'], float(close.iloc[-1])]\n",
                True),
}


def q_expected(t: Ticks, name: str, lo: int, hi: int):
    idx = select(t, lo, hi)
    if name == "notional":
        return float((t.close[idx].astype(np.float64) * t.volume[idx]).sum())
    if name == "max_high":
        return float(t.high[idx].max())
    if name == "count":
        return int(len(idx))
    if name == "volume":
        return int(t.volume[idx].astype(np.int64).sum())
    if name == "running":
        return [int(len(idx)),
                float((t.close[idx].astype(np.float64)
                       * t.volume[idx]).sum()),
                float(t.close[idx[-1]])]
    raise KeyError(name)


def q_result(name: str, raw):
    """Client-side finish of a /q response: the max of the partial
    maxima for ``max_high``; the raw result otherwise."""
    if name == "max_high":
        return max(raw) if raw else None
    return raw


def close_enough(got, want, rel: float = 1e-9) -> bool:
    """Exact for ints and nested lists of ints, ``rel`` for floats."""
    if isinstance(want, list):
        return (isinstance(got, list) and len(got) == len(want)
                and all(close_enough(g, w, rel) for g, w in zip(got, want)))
    if isinstance(want, float):
        return (isinstance(got, (int, float))
                and abs(got - want) <= rel * max(abs(want), 1e-300))
    return type(got) is type(want) and got == want


# --------------------------------------------------------------------- #
# dedup corpus                                                           #
# --------------------------------------------------------------------- #
def corpus(seed: int, n_docs: int, n_clusters: int):
    """(doc_ids, texts, planted) — ``n_docs`` random-word documents, of
    which the first ``n_clusters`` each get 1-4 near copies (two words
    swapped) appended.  ``planted`` maps every clustered doc id to its
    cluster's minimum id, the label ``near_dup_clusters`` must return."""
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list(string.ascii_lowercase))
    vocab = ["".join(rng.choice(letters, int(rng.integers(3, 9))))
             for _ in range(20_000)]
    texts = [" ".join(rng.choice(vocab, int(rng.integers(40, 80))))
             for _ in range(n_docs)]
    ids = list(range(n_docs))
    planted: dict[int, int] = {}
    nxt = n_docs
    for c in range(n_clusters):
        words = texts[c].split()
        planted[c] = c
        for _ in range(int(rng.integers(1, 5))):
            w = list(words)
            for _ in range(2):
                w[int(rng.integers(len(w)))] = vocab[int(rng.integers(
                    len(vocab)))]
            ids.append(nxt)
            texts.append(" ".join(w))
            planted[nxt] = c
            nxt += 1
    return np.array(ids, dtype=np.int64), texts, planted


def labels_match(labels, planted: dict[int, int]) -> bool:
    """``near_dup_clusters`` rows [[doc_id, cluster_id], ...] must be
    exactly the planted clusters: every clustered doc, labelled with its
    cluster's minimum id, and no other doc."""
    got = {int(d): int(c) for d, c in labels}
    return len(got) == len(labels) and got == planted
