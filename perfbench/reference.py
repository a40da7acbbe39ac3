"""Independent pandas/numpy re-derivations the benchmark checks the
program's outputs against.

The frame-expressible indicators are re-derived with pandas rolling
ops (a different formulation from the Spark window expressions); the
recursive family uses the shared ``operators.kernels`` functions,
which the test suite validates against the published TA-Lib formulas.
Segmentation, gap-fill and interpolation follow the reference ETL's
per-ticker pandas loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view

from stock_indicators_etl_spark.operators.kernels import (
    adx_kernel,
    cmo_kernel,
    macdfix_kernel,
    rsi_kernel,
)

NS = 1_000_000_000
VALUE_COLS = ["adj_close", "close", "high", "low", "volume", "open"]
FEATURE_COLS = [
    "window_start", "close_price", "rocp_1", "rocp_2", "rocp_3", "rocp_4", "rocp_5",
    "rsi", "mfi", "ultosc", "cmo", "aroonosc", "macd_hist", "ppo", "sok", "sok_hist",
    "adx", "adx_hist", "ticker",
]


def session_bounds_ns(day: str) -> tuple[int, int]:
    """The reference's 09:30-16:30 US/Eastern session as UTC epoch-ns."""
    lo = pd.Timestamp(f"{day} 09:30:00", tz="US/Eastern").value
    hi = pd.Timestamp(f"{day} 16:30:00", tz="US/Eastern").value
    return lo, hi


def segments(g: pd.DataFrame) -> list[pd.DataFrame]:
    """Split one ticker's bars at gaps not in {60, 120, 180} s; drop
    one-row segments."""
    g = g.sort_values("window_start").reset_index(drop=True)
    gap_s = g["window_start"].diff() / NS
    breaks = gap_s.notna() & ~gap_s.isin([60.0, 120.0, 180.0])
    return [seg for _, seg in g.groupby(breaks.cumsum()) if len(seg) >= 2]


def regular_grid(seg: pd.DataFrame) -> pd.DataFrame:
    """Reindex a segment onto its 60 s grid, interpolating every value
    column linearly with both edges clamped."""
    first, last = seg["window_start"].iloc[0], seg["window_start"].iloc[-1]
    full = np.arange(first, last + 1, 60 * NS, dtype=np.int64)
    out = seg.set_index("window_start").reindex(full)
    out.index.name = "window_start"
    out = out.reset_index()
    for c in VALUE_COLS:
        if out[c].isna().any():
            out[c] = out[c].interpolate(method="linear", limit_direction="both")
    return out


def _ratio(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    return np.where(den == 0, 0.0, num / np.where(den == 0, 1.0, den))


def indicators(grid: pd.DataFrame, label: str) -> pd.DataFrame:
    """The nine momentum families on one regular series, scaled and
    named as the pipeline outputs them (before ``dropna``)."""
    ac = grid["adj_close"].to_numpy(dtype=np.float64)
    h = grid["high"].to_numpy(dtype=np.float64)
    lo = grid["low"].to_numpy(dtype=np.float64)
    c = grid["close"].to_numpy(dtype=np.float64)
    v = grid["volume"].to_numpy(dtype=np.float64)
    m = len(grid)
    rn = np.arange(1, m + 1)
    out: dict[str, object] = {
        "window_start": grid["window_start"].to_numpy(), "close_price": ac,
    }
    for k in range(1, 6):
        prev = np.full(m, np.nan)
        prev[k:] = ac[:-k] if k < m else prev[k:]
        with np.errstate(invalid="ignore", divide="ignore"):
            out[f"rocp_{k}"] = np.where(prev == 0, 0.0, (ac - prev) / prev)

    out["rsi"] = rsi_kernel(ac, 14) / 100.0

    tp = (h + lo + c) / 3.0
    flow = tp * v
    prev_tp = np.concatenate([[np.nan], tp[:-1]])
    pos = pd.Series(np.where(tp > prev_tp, flow, 0.0)).rolling(14, min_periods=1).sum()
    neg = pd.Series(np.where(tp < prev_tp, flow, 0.0)).rolling(14, min_periods=1).sum()
    mfi = 100.0 * _ratio(pos.to_numpy(), (pos + neg).to_numpy())
    out["mfi"] = np.where(rn > 14, mfi, np.nan) / 100.0

    prev_c = np.concatenate([[np.nan], c[:-1]])
    true_low, true_high = np.fmin(lo, prev_c), np.fmax(h, prev_c)
    bp, tr = pd.Series(c - true_low), pd.Series(true_high - true_low)
    avg = [
        _ratio(bp.rolling(n, min_periods=1).sum().to_numpy(), tr.rolling(n, min_periods=1).sum().to_numpy())
        for n in (7, 14, 28)
    ]
    ult = 100.0 * (4.0 * avg[0] + 2.0 * avg[1] + avg[2]) / 7.0
    out["ultosc"] = np.where(rn > 28, ult, np.nan) / 100.0

    out["cmo"] = cmo_kernel(ac, 14) / 100.0

    aro = np.full(m, np.nan)
    if m > 25:
        # bars since the window's extreme, latest tie wins
        hi_age = np.argmax(sliding_window_view(h, 26)[:, ::-1], axis=1)
        lo_age = np.argmin(sliding_window_view(lo, 26)[:, ::-1], axis=1)
        aro[25:] = 100.0 * (lo_age - hi_age) / 25.0
    out["aroonosc"] = aro / 100.0

    out["macd_hist"] = macdfix_kernel(ac, 9)[2] / 10.0

    sma12 = pd.Series(ac).rolling(12, min_periods=1).mean().to_numpy()
    sma26 = pd.Series(ac).rolling(26, min_periods=1).mean().to_numpy()
    ppo = 100.0 * _ratio(sma12 - sma26, sma26)
    out["ppo"] = np.where(rn >= 26, ppo, np.nan) / 100.0

    ll = pd.Series(lo).rolling(5, min_periods=1).min().to_numpy()
    hh = pd.Series(h).rolling(5, min_periods=1).max().to_numpy()
    raw_k = np.where(rn >= 5, 100.0 * _ratio(c - ll, hh - ll), np.nan)
    sod = pd.Series(raw_k).rolling(3, min_periods=1).mean().to_numpy()
    out["sok"] = np.where(rn >= 7, raw_k, np.nan) / 100.0
    out["sok_hist"] = np.where(rn >= 7, raw_k - sod, np.nan) / 100.0

    pdi, mdi, adx = adx_kernel(h, lo, c, 14)
    out["adx"] = adx / 100.0
    out["adx_hist"] = (pdi - mdi) / 100.0
    out["ticker"] = label
    return pd.DataFrame(out)


def daily_features(bars: pd.DataFrame, day: str) -> pd.DataFrame:
    """What the nightly job must write for ``day``: session filter →
    segments → regular grid → indicators → dropna, sorted by
    (ticker, window_start)."""
    lo, hi = session_bounds_ns(day)
    ws = bars["window_start"]
    bars = bars[(ws >= lo) & (ws < hi) & bars["ticker"].notna()]
    frames = []
    for ticker, g in bars.groupby("ticker", sort=True):
        for i, seg in enumerate(segments(g)):
            frames.append(indicators(regular_grid(seg), f"{ticker}-{i}"))
    return sort_features(pd.concat(frames, ignore_index=True).dropna())


def sort_features(frame: pd.DataFrame) -> pd.DataFrame:
    return frame.sort_values(["ticker", "window_start"], ignore_index=True)[FEATURE_COLS]


#: Absolute and relative tolerance of the bar-for-bar feature check.
TOL = 1e-9


def compare_features(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want`` bar for bar, else why not."""
    if list(got.columns) != FEATURE_COLS:
        return f"columns {list(got.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    got = sort_features(got)
    if not (got["ticker"].to_numpy() == want["ticker"].to_numpy()).all():
        return "ticker labels differ"
    if not (got["window_start"].to_numpy() == want["window_start"].to_numpy()).all():
        return "window_start differs"
    for col in FEATURE_COLS[1:-1]:
        a, b = got[col].to_numpy(dtype=np.float64), want[col].to_numpy(dtype=np.float64)
        if not np.allclose(a, b, rtol=TOL, atol=TOL, equal_nan=False):
            worst = int(np.nanargmax(np.abs(a - b)))
            return f"{col} differs at row {worst}: {a[worst]!r} vs {b[worst]!r}"
    return None


def streamed_rsi_error(
    out: pd.DataFrame, tickers: list[str], closes: np.ndarray, batch_ws: np.ndarray
) -> str | None:
    """The streamed RSI of one micro-batch must be one row per input
    bar and bit-identical to ``rsi_kernel`` on each ticker's
    concatenated closes (``closes``: tickers × every bar so far)."""
    n_t, k = len(tickers), len(batch_ws)
    if len(out) != n_t * k:
        return f"{len(out)} output rows for {n_t * k} input bars"
    out = out.sort_values(["ticker", "window_start"])
    if not (
        (out["ticker"].to_numpy() == np.repeat(np.array(tickers, dtype=object), k)).all()
        and (out["window_start"].to_numpy() == np.tile(batch_ws, n_t)).all()
    ):
        return "output rows do not match the batch's bars one to one"
    got = out["rsi"].to_numpy(dtype=np.float64, na_value=np.nan).reshape(n_t, k)
    for i, ticker in enumerate(tickers):
        want = rsi_kernel(closes[i], 14)[-k:]
        if not np.array_equal(got[i], want, equal_nan=True):
            return f"{ticker}: streamed rsi {got[i]!r} != kernel {want!r}"
    return None


#: Share of planted near-copies that must land in their original's
#: component. A copy with 5 % of its words replaced keeps a 3-shingle
#: Jaccard of about 0.75 with its original, which 4 bands of 3
#: MinHashes turn into a candidate with probability about 0.87 per
#: pair; copies of the same original also link through each other.
#: On 500 documents the recall is 0.81-0.91 over seeds 1-30.
MIN_RECALL = 0.75


def components_error(got: pd.DataFrame, doc_ids: np.ndarray, family: np.ndarray) -> str | None:
    """None when ``got`` (doc_id, component) is a valid near-dup
    grouping of the planted corpus, else why not: every doc exactly
    once, each component labelled with its smallest doc id, no
    component joining two planted families, and at least
    :data:`MIN_RECALL` of the planted copies grouped with their
    original."""
    if len(got) != len(doc_ids) or got["doc_id"].nunique() != len(doc_ids):
        return f"{len(got)} rows for {len(doc_ids)} docs ({got['doc_id'].nunique()} distinct)"
    if set(got["doc_id"]) != set(doc_ids.tolist()):
        return "doc ids differ from the corpus"
    smallest = got.groupby("component")["doc_id"].min()
    if not (smallest.index == smallest.to_numpy()).all():
        return "a component is not labelled with its smallest doc id"
    comp = got.set_index("doc_id")["component"]
    fam = pd.Series(family, index=doc_ids)
    mixed = fam.groupby(comp.reindex(doc_ids).to_numpy()).nunique()
    if (mixed > 1).any():
        return f"{int((mixed > 1).sum())} components join different planted families"
    copies = doc_ids != family
    found = comp.reindex(doc_ids[copies]).to_numpy() == comp.reindex(family[copies]).to_numpy()
    recall = found.mean()
    if recall < MIN_RECALL:
        return f"planted near-copy recall {recall:.3f} < {MIN_RECALL}"
    return None
