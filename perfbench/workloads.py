"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the
run's ``--seed`` and returns plain pandas/pyarrow data; the program
under test only ever sees these generated inputs (as files written
during set-up, or through the ``fetch_fn`` hook of
``sources.yahoo.download_bars``).
"""

from __future__ import annotations

import os
from datetime import date, datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

NS = 1_000_000_000
BAR_COLUMNS = ["ticker", "volume", "open", "close", "high", "low", "adj_close", "window_start"]
PRICE_COLUMNS = ["open", "close", "high", "low", "adj_close"]

#: The nightly job's logical day. January, so US/Eastern is UTC-5 and
#: the 09:30-16:30 ET session is 14:30-21:30 UTC.
EXEC_DATE = "2024-01-30"
#: First bar of a session day (09:00 ET): 30 pre-market bars, 420
#: in-session bars, 30 post-market bars.
DAY_FIRST_BAR_UTC = timedelta(hours=14)
BARS_PER_DAY = 480


def ticker_names(n: int) -> list[str]:
    """Deterministic, distinct, sortable ticker symbols."""
    return [f"T{i:04d}" for i in range(n)]


def day_start_ns(day: str) -> int:
    d = datetime.fromisoformat(day).replace(tzinfo=timezone.utc) + DAY_FIRST_BAR_UTC
    return int(d.timestamp()) * NS


def earlier_weekdays(day: str, n: int) -> list[str]:
    """The ``n`` weekdays before ``day``, oldest first."""
    out: list[str] = []
    d = date.fromisoformat(day)
    while len(out) < n:
        d -= timedelta(days=1)
        if d.weekday() < 5:
            out.append(d.isoformat())
    return out[::-1]


def _walk(rng: np.random.Generator, n_series: int, n_bars: int) -> np.ndarray:
    """(n_series, n_bars) geometric random walk of close prices."""
    start = rng.uniform(20.0, 500.0, size=(n_series, 1))
    steps = rng.normal(0.0, 0.001, size=(n_series, n_bars))
    return start * np.exp(np.cumsum(steps, axis=1))


def _ohlcv(rng: np.random.Generator, close: np.ndarray) -> dict[str, np.ndarray]:
    spread = np.abs(rng.normal(0.0, 0.0005, size=close.shape))
    return {
        "volume": rng.integers(100, 100_000, size=close.shape).astype(np.float64),
        "open": close * (1.0 + rng.normal(0.0, 0.0003, size=close.shape)),
        "close": close,
        "high": close * (1.0 + spread),
        "low": close * (1.0 - np.abs(rng.normal(0.0, 0.0005, size=close.shape))),
        "adj_close": close * rng.uniform(0.95, 1.0, size=(close.shape[0], 1)),
    }


def session_bars(rng: np.random.Generator, tickers: list[str], day: str) -> pd.DataFrame:
    """One day of 1-minute bars for ``tickers``, as a data vendor
    delivers them: pre- and post-market rows, about 1 % of bars
    missing or off-grid, and about 0.5 % of rows with null prices.

    Missing bars come as single drops (120/180 s gaps, which the
    pipeline gap-fills) and as 4-12 bar outages (segment breaks); a
    few bars are stamped 30 s off the minute grid, which isolates them
    into one-row segments that the pipeline drops.
    """
    n_t, n_b = len(tickers), BARS_PER_DAY
    ws = day_start_ns(day) + np.arange(n_b, dtype=np.int64) * 60 * NS
    ws = np.broadcast_to(ws, (n_t, n_b)).copy()
    keep = rng.random((n_t, n_b)) >= 0.005
    outage_starts = np.argwhere(rng.random((n_t, n_b)) < 0.0008)
    for t, b in outage_starts:
        keep[t, b : b + int(rng.integers(4, 13))] = False
    off_grid = rng.random((n_t, n_b)) < 0.0005
    ws[off_grid] += 30 * NS
    cols = _ohlcv(rng, _walk(rng, n_t, n_b))
    null_rows = rng.random((n_t, n_b)) < 0.005
    for c in PRICE_COLUMNS:
        cols[c] = np.where(null_rows, np.nan, cols[c])
    frame = pd.DataFrame(
        {
            "ticker": np.repeat(np.array(tickers, dtype=object), n_b),
            **{c: cols[c].ravel() for c in BAR_COLUMNS[1:-1]},
            "window_start": ws.ravel(),
        }
    )
    return frame[keep.ravel()].reset_index(drop=True)[BAR_COLUMNS]


class LiveFeed:
    """Endless per-ticker 1-minute bar stream, cut into micro-batches
    of ``bars_per_batch`` bars for every ticker. Keeps every close it
    has emitted so the streamed RSI can be checked against the batch
    kernel on the concatenated series."""

    def __init__(self, rng: np.random.Generator, n_tickers: int, bars_per_batch: int):
        self.rng = rng
        self.tickers = ticker_names(n_tickers)
        self.bars_per_batch = bars_per_batch
        self.last = rng.uniform(20.0, 500.0, size=(n_tickers, 1))
        self.next_ws = day_start_ns(EXEC_DATE)
        self.closes: list[np.ndarray] = []  # one (n_tickers, k) block per batch
        self.batch_ws = np.empty(0, dtype=np.int64)

    def next_batch(self) -> pd.DataFrame:
        n_t, k = len(self.tickers), self.bars_per_batch
        close = self.last * np.exp(np.cumsum(self.rng.normal(0.0, 0.001, size=(n_t, k)), axis=1))
        self.last = close[:, -1:]
        cols = _ohlcv(self.rng, close)
        ws = self.next_ws + np.arange(k, dtype=np.int64) * 60 * NS
        self.batch_ws = ws
        self.next_ws += k * 60 * NS
        self.closes.append(cols["adj_close"])
        return pd.DataFrame(
            {
                "ticker": np.repeat(np.array(self.tickers, dtype=object), k),
                **{c: cols[c].ravel() for c in BAR_COLUMNS[1:-1]},
                "window_start": np.tile(ws, n_t),
            }
        )[BAR_COLUMNS]


#: Words of the generated corpus: distinct lowercase letter strings.
VOCABULARY = np.array(
    ["".join(chr(97 + (i // 26**j) % 26) for j in range(4)) for i in range(20_000)]
)


#: Share of the corpus that is planted near-copies, and the share of
#: an original's words a near-copy replaces.
DUP_SHARE = 0.3
REPLACE_SHARE = 0.05


def corpus(rng: np.random.Generator, n_docs: int) -> tuple[pd.DataFrame, np.ndarray]:
    """``n_docs`` documents (doc_id, text) of 60-140 words drawn from
    a skewed vocabulary; :data:`DUP_SHARE` of them are planted
    near-copies of a random original with :data:`REPLACE_SHARE` of
    their words replaced. Doc ids are shuffled, so an original is not
    always the smallest id of its family. Returns the documents and,
    per row, the doc id of the family's original (itself for
    originals)."""
    n_dups = int(n_docs * DUP_SHARE)
    n_orig = n_docs - n_dups
    cdf = np.cumsum(1.0 / (np.arange(len(VOCABULARY)) + 50.0))

    def draw(n: int) -> np.ndarray:
        return np.searchsorted(cdf, rng.random(n) * cdf[-1])

    texts = [draw(int(rng.integers(60, 141))) for _ in range(n_orig)]
    source = rng.integers(0, n_orig, size=n_dups)
    for s in source:
        copy = texts[s].copy()
        hit = rng.random(len(copy)) < REPLACE_SHARE
        copy[hit] = draw(int(hit.sum()))
        texts.append(copy)
    ids = rng.permutation(n_docs).astype(np.int64)
    family = ids[np.concatenate([np.arange(n_orig), source])]
    docs = pd.DataFrame({"doc_id": ids, "text": [" ".join(VOCABULARY[t]) for t in texts]})
    return docs, family


def write_parquet(frame: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)


def write_archive_day(frame: pd.DataFrame, base: str, interval: str, day: str) -> None:
    """One earlier day in the partitioned layout ``sources.io.write_bars_day``
    produces (``interval=/year=/month=/day=``). Snappy, not the sink's
    gzip: these days are only there to be pruned, and gzip makes
    writing them about four times slower."""
    yyyy, mm, _ = day.split("-")
    part = os.path.join(
        base, f"interval={interval}", f"year={int(yyyy)}", f"month={int(mm)}", f"day={day}"
    )
    write_parquet(frame, os.path.join(part, "part-00000-archive.parquet"))


class LocalFetch:
    """``fetch_fn`` for ``download_bars`` that serves each ticker's
    bars from a parquet file written during set-up, so generation
    stays out of the timed region and no task pickles the whole day.

    ``calls`` (optional Spark accumulator) counts fetch invocations.
    """

    def __init__(self, feed_dir: str, calls=None):
        self.feed_dir = feed_dir
        self.calls = calls

    def __call__(self, tickers: list[str], start: str, end: str, interval: str) -> pd.DataFrame:
        if self.calls is not None:
            self.calls.add(1)
        frames = [
            pd.read_parquet(os.path.join(self.feed_dir, f"{t}.parquet")) for t in tickers
        ]
        return pd.concat(frames, ignore_index=True)[BAR_COLUMNS]


def write_feed(frame: pd.DataFrame, feed_dir: str) -> None:
    """One parquet file per ticker, read back by :class:`LocalFetch`."""
    for t, g in frame.groupby("ticker", sort=False):
        write_parquet(g, os.path.join(feed_dir, f"{t}.parquet"))
