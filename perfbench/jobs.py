"""The benchmark workloads: inputs, one timed unit of work, the output
check, and the traced unit that attributes time to layers.

A traced unit forces each layer boundary in pipeline order by writing
that prefix of the lazy plan to Spark's ``noop`` sink; a layer's self
time is its prefix time minus the previous prefix time, so the self
times of one chain add up to the chain's final prefix, which is the
untraced unit itself.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import reference as ref
from perfbench import workloads as gen
from stock_indicators_etl_spark.config import IndicatorConfig
from stock_indicators_etl_spark.functions.timefns import market_bounds_ns
from stock_indicators_etl_spark.llmdata.dedup import (
    SCALE_MAX_BUCKET_SIZE,
    minhash_lsh_candidates,
    minhash_signatures,
    neardup_components,
    ngram_jaccard_pairs,
)
from stock_indicators_etl_spark.operators import kernels
from stock_indicators_etl_spark.operators.pipeline import generate_indicators, prepare_grid
from stock_indicators_etl_spark.operators.recursive import with_recursive_indicators
from stock_indicators_etl_spark.operators.rolling import (
    with_aroonosc,
    with_mfi,
    with_ppo,
    with_rocp,
    with_stochf,
    with_ultosc,
)
from stock_indicators_etl_spark.operators.timegrid import (
    fill_gaps,
    market_hours_filter,
    segment_series,
)
from stock_indicators_etl_spark.sources.io import read_bars_day, write_bars_day
from stock_indicators_etl_spark.sources.yahoo import BARS_SCHEMA, download_bars
from stock_indicators_etl_spark.streaming.daily import run_indicators
from stock_indicators_etl_spark.streaming.indicators import streaming_rsi

INTERVAL = "1m"


def force(df: DataFrame) -> None:
    """Execute the whole plan of ``df`` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def data_files(root: str) -> list[str]:
    return [
        p for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if not os.path.basename(p).startswith((".", "_"))
    ]


def with_rolling_family(grid: DataFrame, cfg: IndicatorConfig) -> DataFrame:
    """The frame-expressible indicator stack, as ``generate_indicators``
    composes it for the default config."""
    key, ws = ("sub_ticker",), cfg.time_column
    out = with_rocp(grid, cfg.close_column, range(1, cfg.num_prev_rocp), key, ws)
    out = with_mfi(out, cfg.high_col, cfg.low_col, cfg.close_un_adj_col, cfg.vol_col,
                   n=cfg.mfi_timeperiod, key_cols=key, ws_col=ws, out_col="_mfi_raw")
    out = with_ultosc(out, cfg.high_col, cfg.low_col, cfg.close_un_adj_col,
                      n1=cfg.ultosc_timeperiod1, n2=cfg.ultosc_timeperiod2,
                      n3=cfg.ultosc_timeperiod3, key_cols=key, ws_col=ws, out_col="_ultosc_raw")
    out = with_aroonosc(out, cfg.high_col, cfg.low_col, n=cfg.aroonosc_timeperiod,
                        key_cols=key, ws_col=ws, out_col="_aroonosc_raw")
    out = with_ppo(out, cfg.close_column, fast=cfg.ppo_fast, slow=cfg.ppo_slow,
                   key_cols=key, ws_col=ws, out_col="_ppo_raw")
    return with_stochf(out, cfg.high_col, cfg.low_col, cfg.close_un_adj_col,
                       fastk=cfg.stochf_fastk, fastd=cfg.stochf_fastd,
                       key_cols=key, ws_col=ws, k_col="_sok_raw", d_col="_sod_raw")


def with_recursive_family(rolled: DataFrame, cfg: IndicatorConfig) -> DataFrame:
    return with_recursive_indicators(
        rolled, cfg.close_column, cfg.high_col, cfg.low_col, cfg.close_un_adj_col,
        key_cols=("sub_ticker",), ws_col=cfg.time_column,
        rsi_n=cfg.rsi_timeperiod, cmo_n=cfg.cmo_timeperiod,
        macd_signal=cfg.macd_signal_period, adx_n=cfg.adx_timeperiod,
        features=("rsi", "cmo", "macd", "adx"), pre_partitioned=True,
    )


def kernel_cpu_s_per_mbar(series: list[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]]) -> float:
    """CPU seconds per million bars of the rsi/cmo/macdfix/adx kernels
    run in-process on (adj_close, high, low, close) series."""
    bars = sum(len(s[0]) for s in series)
    t0 = time.process_time()
    for ac, h, lo, c in series:
        kernels.rsi_kernel(ac, 14)
        kernels.cmo_kernel(ac, 14)
        kernels.macdfix_kernel(ac, 9)
        kernels.adx_kernel(h, lo, c, 14)
    return (time.process_time() - t0) / (bars / 1e6)


def _series_arrays(frame: pd.DataFrame):
    return tuple(frame[c].to_numpy(dtype=np.float64) for c in ("adj_close", "high", "low", "close"))


class Workload:
    """One workload bound to a session, a scratch directory and a seed."""

    #: units run before timing starts; the first pays JIT, codegen
    #: and Python-worker start
    warm_units = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.rng = np.random.default_rng(seed)

    def setup(self) -> None:
        """Generate the inputs and the expected outputs."""

    def unit(self) -> float:
        """Run one unit of work; return its wall time in seconds."""
        raise NotImplementedError

    def check(self) -> str | None:
        """None if the last unit's output is correct, else why not."""
        raise NotImplementedError

    def trace(self, tracer, status) -> dict[str, float]:
        """Run one traced unit; return per-layer metrics by name."""
        raise NotImplementedError

    def close(self) -> None:
        pass


class DailySession(Workload):
    """The nightly job: download → archive → indicators → features."""

    n_tickers = 25
    archive_days = 20

    def setup(self) -> None:
        self.tickers = gen.ticker_names(self.n_tickers)
        self.bars_base = os.path.join(self.work, "bars")
        self.feat_base = os.path.join(self.work, "features")
        self.feed_dir = os.path.join(self.work, "feed")
        day = gen.session_bars(self.rng, self.tickers, gen.EXEC_DATE)
        gen.write_feed(day, self.feed_dir)
        earlier = gen.earlier_weekdays(gen.EXEC_DATE, self.archive_days)
        old = gen.session_bars(self.rng, self.tickers, earlier[-1])
        for d in earlier:
            shift = gen.day_start_ns(d) - gen.day_start_ns(earlier[-1])
            gen.write_archive_day(old.assign(window_start=old["window_start"] + shift),
                                  self.bars_base, INTERVAL, d)
        self.day_bars = day
        self.expected = ref.daily_features(day, gen.EXEC_DATE)
        self.fetch = gen.LocalFetch(self.feed_dir)
        self.args = argparse.Namespace(
            src=self.bars_base, dst=self.feat_base, interval=INTERVAL,
            execution_date=gen.EXEC_DATE,
        )

    def _day_dir(self, base: str) -> str:
        yyyy, mm, _ = gen.EXEC_DATE.split("-")
        return os.path.join(base, f"interval={INTERVAL}", f"year={int(yyyy)}",
                            f"month={int(mm)}", f"day={gen.EXEC_DATE}")

    def _ingest(self, fetch=None) -> None:
        bars = download_bars(self.spark, self.tickers, gen.EXEC_DATE, INTERVAL,
                             fetch_fn=fetch or self.fetch)
        write_bars_day(bars, self.bars_base, INTERVAL, gen.EXEC_DATE)

    def unit(self) -> float:
        # a stale output would hide a skipped day, so start without one
        shutil.rmtree(self._day_dir(self.feat_base), ignore_errors=True)
        t0 = time.perf_counter()
        self._ingest()
        run_indicators(self.args)
        return time.perf_counter() - t0

    def check(self) -> str | None:
        out_dir = self._day_dir(self.feat_base)
        if not data_files(out_dir):
            return f"no features written for {gen.EXEC_DATE} (the job skipped the day)"
        got = pd.read_parquet(out_dir)
        return ref.compare_features(got, self.expected)

    def trace(self, tracer, status) -> dict[str, float]:
        cfg = IndicatorConfig()
        calls = self.spark.sparkContext.accumulator(0)
        fetch = gen.LocalFetch(self.feed_dir, calls)
        read = lambda: read_bars_day(self.spark, self.bars_base, INTERVAL, gen.EXEC_DATE)  # noqa: E731
        p: dict[str, float] = {}
        with tracer.span("daily_session"):
            with tracer.span("ingest"):
                with tracer.span("sources.yahoo"):
                    p["download"] = timed(lambda: force(download_bars(
                        self.spark, self.tickers, gen.EXEC_DATE, INTERVAL, fetch_fn=fetch)))
                fetch_calls = calls.value
                with tracer.span("sources.io.write_bars"):
                    p["write_bars"] = timed(lambda: self._ingest(fetch))
            with tracer.span("indicators"):
                status.mark()
                with tracer.span("sources.io.read"):
                    p["read"] = timed(lambda: force(read()))
                files_scanned = status.scan_metric("number of files read")
                with tracer.span("operators.timegrid"):
                    p["grid"] = timed(lambda: force(prepare_grid(read(), cfg, gen.EXEC_DATE)))
                with tracer.span("operators.rolling"):
                    p["rolling"] = timed(lambda: force(
                        with_rolling_family(prepare_grid(read(), cfg, gen.EXEC_DATE), cfg)))
                with tracer.span("operators.recursive"):
                    p["recursive"] = timed(lambda: force(with_recursive_family(
                        with_rolling_family(prepare_grid(read(), cfg, gen.EXEC_DATE), cfg), cfg)))
                with tracer.span("operators.pipeline"):
                    p["assemble"] = timed(lambda: force(
                        generate_indicators(read(), cfg, date=gen.EXEC_DATE)))
                shutil.rmtree(self._day_dir(self.feat_base), ignore_errors=True)
                with tracer.span("sources.io.write_features"):
                    p["write_features"] = timed(lambda: run_indicators(self.args))
        m: dict[str, float] = {
            "sources.yahoo.download_s": p["download"],
            "sources.yahoo.fetch_calls": fetch_calls,
            "sources.io.write_bars_s": p["write_bars"] - p["download"],
            "sources.io.read_s": p["read"],
            "operators.timegrid.self_s": p["grid"] - p["read"],
            "operators.rolling.self_s": p["rolling"] - p["grid"],
            "operators.recursive.self_s": p["recursive"] - p["rolling"],
            "operators.pipeline.assemble_self_s": p["assemble"] - p["recursive"],
            "sources.io.write_features_s": p["write_features"] - p["assemble"],
            "trace.job_total_s": p["write_bars"] + p["write_features"],
        }
        written = data_files(self._day_dir(self.bars_base)) + data_files(self._day_dir(self.feat_base))
        archive = data_files(self.bars_base)
        m.update({
            "sources.io.bytes_written": sum(os.path.getsize(f) for f in written),
            "sources.io.files_written": len(written),
            "sources.io.files_scanned": files_scanned,
            "sources.io.prune_ratio": files_scanned / len(archive),
        })
        m.update(self._grid_counters(read(), cfg))
        m["sources.yahoo.rows"] = m["operators.timegrid.rows_in"]
        grid_rows = m["operators.timegrid.rows_out"]
        m["operators.pipeline.rows_out"] = len(self.expected)
        m["operators.pipeline.yield"] = len(self.expected) / grid_rows
        m["operators.recursive.series"] = m["operators.timegrid.segments"]
        m["operators.recursive.mean_series_len"] = grid_rows / m["operators.timegrid.segments"]
        grids = [
            _series_arrays(ref.regular_grid(seg))
            for _, g in self.day_bars.groupby("ticker") for seg in ref.segments(g)
        ]
        m["operators.kernels.cpu_s_per_mbar"] = kernel_cpu_s_per_mbar(grids)
        return m

    def _grid_counters(self, bars: DataFrame, cfg: IndicatorConfig) -> dict[str, float]:
        """Work counts at the time-grid boundaries, from the public
        timegrid operators (untimed count jobs)."""
        lo, hi = market_bounds_ns(gen.EXEC_DATE, cfg.tz, cfg.market_open, cfg.market_close)
        ws = F.col(cfg.time_column)
        rows_in, rows_in_session = bars.agg(
            F.count(F.lit(1)), F.sum(((ws >= lo) & (ws < hi)).cast("long"))
        ).first()
        session = market_hours_filter(bars.filter(F.col("ticker").isNotNull()), lo, hi)
        all_segments = segment_series(session, min_rows=1).agg(
            F.countDistinct("sub_ticker")).first()[0]
        kept = segment_series(session, min_rows=cfg.min_segment_rows)
        filled = fill_gaps(kept, key_cols=("sub_ticker",), step_ns=cfg.step_ns,
                           carry_cols=("ticker", "segment_id"), synthetic_col="_gap")
        row = filled.agg(
            F.count(F.lit(1)), F.countDistinct("sub_ticker"),
            F.sum(F.col("_gap").cast("long")),
            sum(F.sum(F.col(c).isNull().cast("long")) for c in ref.VALUE_COLS),
        ).first()
        return {
            "operators.timegrid.rows_in": rows_in,
            "operators.timegrid.rows_in_session": rows_in_session,
            "operators.timegrid.segments": row[1],
            "operators.timegrid.segments_dropped": all_segments - row[1],
            "operators.timegrid.rows_gap_filled": row[2],
            "operators.timegrid.values_interpolated": row[3],
            "operators.timegrid.rows_out": row[0],
        }


class LiveFeed(Workload):
    """Closed-loop streaming RSI: one feeder lands the next micro-batch
    file only after the query has committed the previous one."""

    n_tickers = 100
    bars_per_batch = 5
    warm_units = 3

    def setup(self) -> None:
        live = os.path.join(self.work, "live")
        self.in_dir = os.path.join(live, "in")
        self.staging = os.path.join(live, "staging")
        self.out_dir = os.path.join(live, "out")
        os.makedirs(self.in_dir)
        self.feed = gen.LiveFeed(self.rng, self.n_tickers, self.bars_per_batch)
        self.batches = 0
        self.seen: set[str] = set()
        stream = (
            self.spark.readStream.schema(BARS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
        )
        self.query = (
            streaming_rsi(stream).writeStream.format("parquet")
            .option("path", self.out_dir)
            .option("checkpointLocation", os.path.join(live, "checkpoint"))
            .outputMode("append")
            .start()
        )

    def unit(self) -> float:
        name = f"batch-{self.batches:06d}.parquet"
        staged = os.path.join(self.staging, name)
        gen.write_parquet(self.feed.next_batch(), staged)
        self.batches += 1
        t0 = time.perf_counter()
        os.rename(staged, os.path.join(self.in_dir, name))  # the file lands
        self.query.processAllAvailable()
        return time.perf_counter() - t0

    def check(self) -> str | None:
        new = sorted(set(data_files(self.out_dir)) - self.seen)
        self.seen.update(new)
        out = pd.concat([pd.read_parquet(f) for f in new], ignore_index=True) if new else (
            pd.DataFrame(columns=["ticker", "window_start", "rsi"]))
        closes = np.concatenate(self.feed.closes, axis=1)
        return ref.streamed_rsi_error(out, self.feed.tickers, closes, self.feed.batch_ws)

    def trace(self, tracer, status) -> dict[str, float]:
        with tracer.span("live_feed"):
            with tracer.span("streaming.indicators"):
                total = self.unit()
        # the timed batches: warm-up batches carry the cold start
        batches = [
            p for p in self.query.recentProgress
            if p["numInputRows"] > 0 and p["batchId"] >= self.warm_units
        ]

        def mean(get) -> float:
            return float(np.mean([get(p) for p in batches]))

        def duration(key: str):
            return lambda p: p["durationMs"].get(key, 0)

        def state(key: str):
            return lambda p: p["stateOperators"][0][key]

        return {
            "streaming.indicators.add_batch_ms": mean(duration("addBatch")),
            "streaming.indicators.query_planning_ms": mean(duration("queryPlanning")),
            "streaming.indicators.wal_commit_ms": mean(duration("walCommit")),
            "streaming.indicators.get_batch_ms": mean(duration("getBatch")),
            "streaming.indicators.state_rows": batches[-1]["stateOperators"][0]["numRowsTotal"],
            "streaming.indicators.state_memory_bytes": mean(state("memoryUsedBytes")),
            "streaming.indicators.state_commit_ms": mean(state("commitTimeMs")),
            "trace.job_total_s": total,
        }

    def close(self) -> None:
        if getattr(self, "query", None) is not None:
            self.query.stop()


class CorpusDedup(Workload):
    """Near-duplicate grouping of a generated corpus with planted
    near-copy families: MinHash-LSH → exact-Jaccard verify →
    connected components, collected to the driver."""

    n_docs = 500
    #: ``neardup_components``' defaults, spelled out for the traced prefixes
    threshold = 0.5

    def setup(self) -> None:
        docs, self.family = gen.corpus(self.rng, self.n_docs)
        self.doc_ids = docs["doc_id"].to_numpy()
        self.path = os.path.join(self.work, "corpus.parquet")
        gen.write_parquet(docs, self.path)
        self.digest: int | None = None

    def _docs(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def _components(self) -> pd.DataFrame:
        return neardup_components(self._docs(), threshold=self.threshold).toPandas()

    def unit(self) -> float:
        # the pipeline pins its candidates and labels; drop the last unit's
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        self.out = self._components()
        return time.perf_counter() - t0

    def check(self) -> str | None:
        err = ref.components_error(self.out, self.doc_ids, self.family)
        if err:
            return err
        digest = int(pd.util.hash_pandas_object(
            self.out.sort_values("doc_id", ignore_index=True), index=False).sum())
        if self.digest is None:
            self.digest = digest
        return None if digest == self.digest else "output differs from the first unit's"

    def trace(self, tracer, status) -> dict[str, float]:
        def candidates() -> DataFrame:
            return minhash_lsh_candidates(self._docs(), max_bucket_size=SCALE_MAX_BUCKET_SIZE)

        def verified() -> DataFrame:
            return ngram_jaccard_pairs(
                self._docs(), threshold=self.threshold, candidates=candidates())

        p: dict[str, float] = {}
        clear = self.spark.catalog.clearCache
        with tracer.span("corpus_dedup"):
            with tracer.span("llmdata.dedup.signatures"):
                p["signatures"] = timed(lambda: force(minhash_signatures(self._docs())))
            with tracer.span("llmdata.dedup.candidates"):
                p["candidates"] = timed(lambda: force(candidates()))
            with tracer.span("llmdata.dedup.verify"):
                p["verify"] = timed(lambda: force(verified()))
            clear()  # the verify step pins its candidates
            with tracer.span("llmdata.dedup.components"):
                p["components"] = self.unit()
        n_candidates = candidates().count()
        clear()
        n_verified = verified().count()
        clear()
        return {
            "llmdata.dedup.signatures_self_s": p["signatures"],
            "llmdata.dedup.candidates_self_s": p["candidates"] - p["signatures"],
            "llmdata.dedup.verify_self_s": p["verify"] - p["candidates"],
            "llmdata.dedup.components_self_s": p["components"] - p["verify"],
            "llmdata.dedup.candidate_pairs": n_candidates,
            "llmdata.dedup.verified_pairs": n_verified,
            "llmdata.dedup.verify_yield": n_verified / n_candidates,
            "llmdata.dedup.components": self.out["component"].nunique(),
            "trace.job_total_s": p["components"],
        }


WORKLOADS = {"daily_session": DailySession, "live_feed": LiveFeed, "corpus_dedup": CorpusDedup}
