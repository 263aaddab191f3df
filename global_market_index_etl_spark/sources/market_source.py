"""S1 — the reference's batch market-data scan as a Spark 4 Python
DataSource (SURVEY.md §2.1: yf_collector.py:11-99 → "Python Data Source
partitioned by ticker").

The reference fetches all tickers in one driver-side ``yf.download`` call
(yf_collector.py:50-59). The Spark-native design inverts that: one input
partition PER TICKER, so a 1000-executor cluster fetches 1000 tickers
concurrently and a slow/failed ticker retries as one task instead of
poisoning the whole batch. Schema, column names, and types match the
standardized long layout (SURVEY.md §1.3 RAW/QUOTES).

The HTTP call itself is stubbed with a deterministic synthetic OHLCV walk
(seeded LCG per ticker) because this container has no network — the
partition planning, option handling, schema contract, and per-partition
iterator protocol are the real, tested surface. Swap ``_synthetic_bars``
for a ``yfinance``/HTTP fetch to go live; the task boundary is already
per-ticker.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..schemas import INDICES_SEED

BAR_SCHEMA = (
    "ticker string, timestamp_utc timestamp, open double, high double, "
    "low double, close double, adjusted_close double, volume bigint"
)

# the indices dimension's tickers, so a default batch passes the FK check
DEFAULT_TICKERS = ",".join(t for t, *_ in INDICES_SEED)


class TickerPartition(InputPartition):
    """One fetch unit = one ticker (the reference's per-ticker thread pool,
    promoted to a Spark task)."""

    def __init__(self, ticker: str):
        self.ticker = ticker


class MarketBarsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.tickers = [
            t.strip()
            for t in options.get("tickers", DEFAULT_TICKERS).split(",")
            if t.strip()
        ]
        self.bars = int(options.get("bars", "48"))  # 2d of 60m (settings.py:53-54)
        self.interval_minutes = int(options.get("interval_minutes", "60"))
        self.seed = int(options.get("seed", "42"))
        self.start = options.get("start", "2024-01-01T00:00:00")
        # failure isolation knobs (see read()); fail_* inject deterministic
        # errors so the retry/quarantine paths are testable without network
        self.max_attempts = int(options.get("max_attempts", "3"))
        if self.max_attempts < 1:
            # zero attempts would fetch nothing: quarantine_report would
            # call a failing ticker healthy while the bars read raises
            raise ValueError(
                f"max_attempts must be >= 1, got {self.max_attempts}"
            )
        self.on_error = options.get("on_error", "raise")
        self.fail_tickers = {
            x.strip()
            for x in options.get("fail_tickers", "").split(",")
            if x.strip()
        }
        self.fail_attempts = int(options.get("fail_attempts", "0"))
        self.fail_kind = options.get("fail_kind", "timeout")
        # < 0 ⇒ fail before the first bar; n ≥ 0 ⇒ fail after yielding n
        # bars (the partial-stream HTTP failure case)
        self.fail_after_bars = int(options.get("fail_after_bars", "-1"))

    def partitions(self):
        return [TickerPartition(t) for t in self.tickers]

    def read(self, partition: TickerPartition):
        """Per-ticker fetch with the reference's failure isolation, made
        task-local (yf_collector.py:61-99, currency_converter.py:71-105):

        - up to ``max_attempts`` in-task retries around the fetch — a
          transient error (timeout, 5xx) costs retries inside ONE task,
          never a job restart, and never touches other tickers' tasks;
        - a ticker still failing after the retries is handled per
          ``on_error``: ``raise`` (default — the task fails and Spark's
          own task-retry/blacklist machinery takes over) or ``skip``
          (the poison ticker yields zero rows; ``quarantine_report``
          exposes which tickers were skipped and why, the analogue of the
          reference's warn-and-continue per-ticker error log).

        Failures are injected deterministically via ``fail_tickers`` /
        ``fail_attempts`` / ``fail_kind`` options — the sandbox has no
        network, so the retry/quarantine machinery is the real tested
        surface while the fetch itself stays the synthetic walk.
        """
        t = partition.ticker
        attempts = 0
        while True:
            attempts += 1
            try:
                # Buffer the whole attempt before yielding ANY row: a fetch
                # that fails mid-stream (partial HTTP body) must not leave
                # already-yielded rows in the task output, or the retry
                # would duplicate those bars (round-5 advice). The buffer
                # is one ticker × one window of bars — task-bounded.
                rows = list(self._fetch(t, attempts))
                yield from rows
                return
            except MarketFetchError as err:
                if attempts >= self.max_attempts:
                    if self.on_error == "skip":
                        return  # poison ticker quarantined: no rows
                    raise RuntimeError(
                        f"ticker {t} failed after {attempts} attempts: "
                        f"{err}"
                    ) from err

    def _fetch(self, t: str, attempt: int):
        # Deterministic synthetic walk — stands in for the per-ticker HTTP
        # fetch. LCG seeded by (seed, ticker) so every run/cluster agrees.
        failing = t in self.fail_tickers and attempt <= self.fail_attempts
        if failing and self.fail_after_bars < 0:
            raise MarketFetchError(
                f"synthetic {self.fail_kind} failure for {t} "
                f"(attempt {attempt})"
            )
        state = self.seed
        for ch in t:
            state = (state * 31 + ord(ch)) & 0x7FFFFFFF

        def nxt() -> float:
            nonlocal state
            state = (1103515245 * state + 12345) % (1 << 31)
            return state / float(1 << 31)

        base = 100.0 * (1.0 + nxt() * 50.0)
        ts = datetime.fromisoformat(self.start).replace(tzinfo=timezone.utc)
        step = timedelta(minutes=self.interval_minutes)
        price = base
        for i in range(self.bars):
            if failing and i == self.fail_after_bars:
                raise MarketFetchError(
                    f"synthetic mid-stream {self.fail_kind} failure for {t} "
                    f"after {i} bars (attempt {attempt})"
                )
            drift = (nxt() - 0.5) * 0.02 * price
            o = price
            c = price + drift
            hi = max(o, c) * (1.0 + nxt() * 0.005)
            lo = min(o, c) * (1.0 - nxt() * 0.005)
            vol = int(nxt() * 1_000_000)
            yield (t, ts, o, hi, lo, c, c, vol)
            price = c
            ts = ts + step


class MarketFetchError(Exception):
    """Typed fetch failure — the stand-in for the reference's error
    taxonomy (timeout / HTTP / parse, currency_converter.py:71-105)."""


class MarketBarsSource(DataSource):
    """``spark.read.format("market_bars")`` after
    ``spark.dataSource.register(MarketBarsSource)``."""

    @classmethod
    def name(cls) -> str:
        return "market_bars"

    def schema(self) -> str:
        return BAR_SCHEMA

    def reader(self, schema) -> MarketBarsReader:
        return MarketBarsReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the source with a session."""
    spark.dataSource.register(MarketBarsSource)


def read_market_bars(spark, **options):
    """Convenience loader: returns the bars DataFrame, one partition/ticker."""
    register(spark)
    reader = spark.read.format("market_bars")
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def quarantine_report(spark, **options):
    """Tickers the source would quarantine under ``on_error=skip``, with
    attempt counts and the final error — the reference's per-ticker
    warn-and-continue log (yf_collector.py:61-73), surfaced as a
    DataFrame instead of log lines.

    Built by replaying each ticker's retry loop against the same options;
    with the deterministic fetch this reproduces exactly what the bars
    read did. In a live deployment the source would append these rows to
    a quarantine table from the task itself; the report stays
    driver-built here because the row count is |tickers|-bounded.
    """
    reader = MarketBarsReader({k: str(v) for k, v in options.items()})
    rows = []
    for t in reader.tickers:
        attempts = 0
        err = None
        while attempts < reader.max_attempts:
            attempts += 1
            try:
                # exhaust the generator: a mid-stream failure (fail_after_bars)
                # raises only after the first bars have been yielded, so a
                # first-bar probe would report the ticker healthy while the
                # actual read keeps failing. A zero-bar fetch completing is a
                # SUCCESSFUL empty window, not an error.
                for _ in reader._fetch(t, attempts):
                    pass
                err = None
                break
            except MarketFetchError as e:
                err = str(e)
        if err is not None:
            rows.append((t, attempts, err))
    return spark.createDataFrame(
        rows, "ticker string, attempts int, error string"
    )


# ---------------------------------------------------------------------------
# S6 — ticker metadata probe (notebooks/01_data_exploration.ipynb cell
# de2e3d6f: yf.Ticker(t).info cross-checked against the indices config).
# Previously the one deliberately-scoped-out reference component; the
# engine form keeps the notebook's exact semantics — fetch .info per
# configured ticker, report the yfinance-side name/currency/exchange/
# timezone/market-state next to the CONFIG's currency/exchange with
# match flags, warn-and-continue per ticker — behind the same stubbed
# deterministic transport as the bars source (no sandbox egress).

_MARKET_STATES = ["PRE", "REGULAR", "POST", "CLOSED"]


def _fetch_info(
    ticker: str,
    config: dict[str, tuple[str, str]],
    seed: int,
    attempt: int,
    fail_tickers: set[str],
    fail_attempts: int,
    fail_kind: str,
    divergent: set[str],
) -> dict:
    """The stand-in for ``yf.Ticker(t).info``: a deterministic metadata
    record seeded by (seed, ticker). For tickers in ``divergent`` the
    'live' currency/exchange disagree with the config — the drift case
    the notebook's cross-check exists to surface (a reconfigured listing
    or a config typo) — so both audit outcomes are exercised without
    network. Fail injection mirrors the bars fetch."""
    if ticker in fail_tickers and attempt <= fail_attempts:
        raise MarketFetchError(
            f"synthetic {fail_kind} failure for {ticker}.info "
            f"(attempt {attempt})"
        )
    name, currency, exchange = config.get(
        ticker, (ticker, "USD", "UNKNOWN")
    )
    state = seed
    for ch in ticker:
        state = (state * 31 + ord(ch)) & 0x7FFFFFFF
    if ticker in divergent:
        currency = "USD" if currency != "USD" else "EUR"
        exchange = exchange + "-NEW"
    return {
        "shortName": name,
        "longName": f"{name} Index",
        "currency": currency,
        "exchange": exchange,
        "exchangeTimezoneName": f"Etc/GMT{'+' if state % 2 else '-'}{state % 12}",
        "marketState": _MARKET_STATES[state % len(_MARKET_STATES)],
    }


def ticker_metadata_probe(spark, **options):
    """S6 — per-ticker ``.info`` metadata audit against the indices
    config (notebook cell de2e3d6f re-expressed as a relation).

    One row per configured ticker: the fetched name/currency/exchange/
    timezone/market-state, the CONFIG's currency/exchange, and
    ``currency_match``/``exchange_match`` flags — the notebook's printed
    cross-check as queryable columns. Per-ticker failures retry up to
    ``max_attempts`` and then degrade to a row with ``error`` set and
    fetched fields NULL (the notebook's warn-and-continue), never
    aborting the probe.

    Driver-built like ``quarantine_report``: the row count is
    |tickers|-bounded (a dimension, not data), so there is nothing to
    distribute — at any corpus scale this stays a constant-size audit.
    Options: ``tickers`` (default: the indices-dimension seed),
    ``seed``, ``max_attempts``, ``fail_tickers``/``fail_attempts``/
    ``fail_kind`` (deterministic failure injection), ``divergent``
    (tickers whose live metadata drifts from config — test dial).
    """
    # (ticker, name, country, exchange, currency) → name/currency/exchange
    config = {t: (n, c, x) for t, n, _, x, c in INDICES_SEED}
    tickers = [
        t.strip()
        for t in options.get("tickers", DEFAULT_TICKERS).split(",")
        if t.strip()
    ]
    seed = int(options.get("seed", "42"))
    max_attempts = int(options.get("max_attempts", "3"))
    if max_attempts < 1:
        # zero/negative would skip the fetch loop entirely and emit
        # all-NULL rows with error=NULL — indistinguishable from a
        # healthy probe, violating the warn-and-continue contract that
        # degraded rows carry an error (code-review fix)
        raise ValueError(f"max_attempts must be >= 1, got {max_attempts}")
    fail_tickers = {
        x.strip() for x in options.get("fail_tickers", "").split(",") if x.strip()
    }
    fail_attempts = int(options.get("fail_attempts", "0"))
    fail_kind = options.get("fail_kind", "timeout")
    divergent = {
        x.strip() for x in options.get("divergent", "").split(",") if x.strip()
    }
    rows = []
    for t in tickers:
        cfg_name, cfg_currency, cfg_exchange = config.get(
            t, (None, None, None)
        )
        info, err, attempts = None, None, 0
        while attempts < max_attempts:
            attempts += 1
            try:
                info = _fetch_info(
                    t, config, seed, attempts,
                    fail_tickers, fail_attempts, fail_kind, divergent,
                )
                err = None
                break
            except MarketFetchError as e:
                err = str(e)
        g = (info or {}).get
        rows.append((
            t,
            g("shortName"),
            g("longName"),
            cfg_currency,
            g("currency"),
            None if info is None or cfg_currency is None
            else g("currency") == cfg_currency,
            cfg_exchange,
            g("exchange"),
            None if info is None or cfg_exchange is None
            else g("exchange") == cfg_exchange,
            g("exchangeTimezoneName"),
            g("marketState"),
            attempts,
            err,
        ))
    return spark.createDataFrame(
        rows,
        "ticker string, short_name string, long_name string, "
        "currency_cfg string, currency_yf string, currency_match boolean, "
        "exchange_cfg string, exchange_yf string, exchange_match boolean, "
        "timezone string, market_state string, attempts int, error string",
    )
