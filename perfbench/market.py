"""Seeded market inputs shared by ``ingest_ticks`` and ``quotes_queries``:
the reference's indices dimension (``schemas.INDICES_SEED``, a mirror of
its ``indices.json``: 10 tickers over 6 currencies), an FX table with no
rates on weekends, and a history table of hourly quotes written with
``operators.storage.write_bucketed_table``.

Sizes and their basis (reference file:line as cited in SURVEY.md §6):
10 tickers per run (``indices.json:1-82``); 2 days of 60-minute bars per
fetch (``settings.py:53-54``), which the ``market_bars`` source emits round
the clock, so 48 bars per ticker; one run every 6 hours
(``market_data_dag.py:15-17``), so the window advances 6 bars; rates
from frankfurter, which publishes none for weekends (``README.md:381``).
The 90 days of history (360 such runs) is the benchmark's own choice.

Every value the engine is expected to produce can be recomputed here in
plain numpy (``MarketData.to_quotes``), which is what the output checks use.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from global_market_index_etl_spark.schemas import INDICES_SEED, STANDARD_COLUMNS, USD_COLUMNS

KEYS = ["ticker", "timestamp_utc"]
PRICE_COLUMNS = ["open", "high", "low", "close", "adjusted_close"]
QUOTE_COLUMNS = STANDARD_COLUMNS + [f"{c}_usd" for c in USD_COLUMNS] + ["batch_ts"]
# USD value of one unit, the start of each currency's random walk
CURRENCIES = {"USD": 1.0, "EUR": 1.08, "GBP": 1.27, "JPY": 0.0067,
              "CNY": 0.14, "INR": 0.012}
BARS_PER_TICK = 48   # 2 days of hourly bars, as the reference fetches
STEP_BARS = 6        # the reference runs every 6 hours
WINDOW0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)  # tick 0's window start
N_BUCKETS = 16


MAX_TICKS = 2000  # FX rates cover this many ticks past WINDOW0


@dataclass(frozen=True)
class MarketSize:
    indices: tuple  # rows of ``INDICES_SEED``
    history_days: int


FULL = MarketSize(indices=tuple(INDICES_SEED), history_days=90)
# one USD, one EUR and one CNY index
SMOKE = MarketSize(indices=(INDICES_SEED[0], INDICES_SEED[3], INDICES_SEED[6]), history_days=4)


def tick_start(i: int) -> dt.datetime:
    return WINDOW0 + dt.timedelta(hours=STEP_BARS * i)


def tick_batch_ts(i: int) -> str:
    """The batch timestamp of tick ``i``: when its window was fetched."""
    end = tick_start(i) + dt.timedelta(hours=BARS_PER_TICK)
    return end.strftime("%Y-%m-%d %H:%M:%S")


class MarketData:
    """Indices, FX rates and history rows for one seed."""

    def __init__(self, seed: int, size: MarketSize):
        rng = np.random.default_rng(seed)
        self.seed = seed
        self.size = size
        self.indices_rows = list(size.indices)
        self.tickers = [row[0] for row in self.indices_rows]
        self.currency = {row[0]: row[4] for row in self.indices_rows}
        hours = size.history_days * 24
        # history ends where tick 0's window starts re-delivering it
        self.history_start = tick_start(0) + dt.timedelta(hours=BARS_PER_TICK - STEP_BARS - hours)
        last = tick_start(MAX_TICKS) + dt.timedelta(hours=BARS_PER_TICK)
        days = (last.date() - self.history_start.date()).days + 1
        self.fx_rows = []
        for cur, base in CURRENCIES.items():
            if cur == "USD":
                continue
            walk = base * np.exp(np.cumsum(rng.normal(0, 0.004, days)))
            for d in range(days):
                day = self.history_start.date() + dt.timedelta(days=d)
                if day.weekday() < 5:
                    self.fx_rows.append((cur, "USD", day, float(walk[d])))
        self.rate = {(b, d): r for b, _, d, r in self.fx_rows}
        self.history = self._history(rng, hours)

    def _history(self, rng, hours: int) -> pa.Table:
        n = len(self.tickers) * hours
        ticker = np.repeat(self.tickers, hours)
        ts = np.tile(np.arange(hours, dtype="int64"), len(self.tickers))
        start_us = int(self.history_start.timestamp() * 1_000_000)
        ts_us = start_us + ts * 3_600_000_000
        base = np.repeat(rng.uniform(100, 5000, len(self.tickers)), hours)
        close = base * np.exp(np.cumsum(rng.normal(0, 0.002, n)))
        open_ = close * (1 + rng.normal(0, 0.001, n))
        high = np.maximum(open_, close) * (1 + rng.uniform(0, 0.003, n))
        low = np.minimum(open_, close) * (1 - rng.uniform(0, 0.003, n))
        prices = {"open": open_, "high": high, "low": low, "close": close,
                  "adjusted_close": close.copy()}
        volume = rng.integers(0, 1_000_000, n)
        cols = {
            "timestamp_utc": ts_us,
            "ticker": ticker,
            **prices,
            "volume": volume,
        }
        batch_ts = int((WINDOW0 - dt.timedelta(days=1)).timestamp() * 1_000_000)
        return self.to_quotes(cols, np.full(n, batch_ts, dtype="int64"))

    def to_quotes(self, cols: dict, batch_ts_us: np.ndarray) -> pa.Table:
        """Raw bar columns → the quotes table ``pipeline.run_batch`` should
        produce, plus ``batch_ts``: dimension attributes joined by ticker,
        ``<price>_usd = price × rate(currency, day)``, NULL when the sparse
        FX table has no rate for that day."""
        ticker = np.asarray(cols["ticker"], dtype=object)
        ts_us = np.asarray(cols["timestamp_utc"], dtype="int64")
        dims = {row[0]: row for row in self.indices_rows}
        epoch = dt.date(1970, 1, 1)
        days = ts_us // 86_400_000_000
        rate = np.empty(len(ticker))
        for i, (t, d) in enumerate(zip(ticker, days)):
            cur = self.currency[t]
            if cur == "USD":
                rate[i] = 1.0
            else:
                rate[i] = self.rate.get((cur, epoch + dt.timedelta(days=int(d))), np.nan)
        missing = np.isnan(rate)
        arrays = {
            "timestamp_utc": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "ticker": pa.array(ticker, pa.string()),
            "name": pa.array([dims[t][1] for t in ticker], pa.string()),
            "country": pa.array([dims[t][2] for t in ticker], pa.string()),
            "original_currency": pa.array([dims[t][4] for t in ticker], pa.string()),
            "exchange": pa.array([dims[t][3] for t in ticker], pa.string()),
        }
        for c in PRICE_COLUMNS:
            arrays[c] = pa.array(np.asarray(cols[c], dtype="float64"))
        arrays["volume"] = pa.array(np.asarray(cols["volume"], dtype="int64"))
        for c in PRICE_COLUMNS:
            usd = np.asarray(cols[c], dtype="float64") * np.where(missing, 1.0, rate)
            arrays[f"{c}_usd"] = pa.array(usd, mask=missing)
        arrays["batch_ts"] = pa.array(batch_ts_us, pa.timestamp("us", tz="UTC"))
        return pa.table([arrays[c] for c in QUOTE_COLUMNS], names=QUOTE_COLUMNS)

    def indices_df(self, spark):
        from global_market_index_etl_spark.schemas import INDICES

        return spark.createDataFrame(self.indices_rows, INDICES)

    def fx_df(self, spark):
        from global_market_index_etl_spark.schemas import FX_RATES

        return spark.createDataFrame(self.fx_rows, FX_RATES)

    def write_history(self, spark, work: Path, name: str) -> str:
        """Stage the history rows as parquet, then build the bucketed table
        from them with ``write_bucketed_table``; returns the table path."""
        from global_market_index_etl_spark.operators.storage import write_bucketed_table

        staged = work / f"{name}-history.parquet"
        pq.write_table(self.history, staged)
        path = str(work / name)
        write_bucketed_table(spark.read.parquet(str(staged)), path, KEYS,
                             n_buckets=N_BUCKETS)
        return path


def read_source(spark, tickers: list[str], i: int, seed: int):
    """Tick ``i``'s delivery from the ``market_bars`` source, renamed to the
    raw long layout ``pipeline.run_batch`` takes."""
    import pyspark.sql.functions as F

    from global_market_index_etl_spark.sources.market_source import read_market_bars

    bars = read_market_bars(spark, tickers=",".join(tickers), bars=BARS_PER_TICK,
                            start=tick_start(i).strftime("%Y-%m-%dT%H:%M:%S"),
                            seed=seed)
    return bars.select(
        F.col("timestamp_utc").alias("timestamp"),
        "ticker",
        F.col("open").alias("Open"),
        F.col("high").alias("High"),
        F.col("low").alias("Low"),
        F.col("close").alias("Close"),
        F.col("adjusted_close").alias("Adj Close"),
        F.col("volume").cast("double").alias("Volume"),
    )


# -- the committed table, read without Spark --------------------------------


def manifest(path: str) -> dict:
    """The newest committed manifest of the table at ``path``."""
    names = sorted(p.name for p in Path(path).glob("_gmie_manifest-v*.json"))
    if not names:
        raise FileNotFoundError(f"no committed manifest under {path}")
    return json.loads((Path(path) / names[-1]).read_text())


def live_files(path: str) -> list[str]:
    return [str(Path(path) / f) for files in manifest(path)["buckets"].values()
            for f in files]


def duck_view(con, path: str, view: str = "quotes") -> None:
    """Register the manifest's live files as a DuckDB view."""
    files = ", ".join(f"'{f}'" for f in live_files(path))
    con.execute(f"CREATE OR REPLACE VIEW {view} AS "
                f"SELECT * FROM read_parquet([{files}], hive_partitioning = false)")


def table_digest(con, path: str) -> str:
    """sha256 over the committed table's rows in key order."""
    duck_view(con, path, "digest_src")
    cols = ", ".join(QUOTE_COLUMNS)
    h = hashlib.sha256()
    for row in con.execute(f"SELECT {cols} FROM digest_src ORDER BY ticker, "
                           "timestamp_utc").fetchall():
        h.update(repr(row).encode())
    return h.hexdigest()
