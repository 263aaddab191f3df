"""``quotes_queries``: analysts reading the committed quotes table.

One op = one round of the reference's four query shapes on the quotes
table (SURVEY.md §2.8 Q1, Q2, Q4 and §2.9's QC aggregates), each query
resolving the table through ``operators.storage.read_table`` as a live
reader would. The reference documents each shape once and says nothing of
how often analysts run them, so a round runs each once; the seed picks the
parameters. Every result is kept and checked afterwards against DuckDB
over the manifest's live files.
"""

from __future__ import annotations

import datetime as dt
import random
import statistics
import sys
from pathlib import Path

import duckdb
import pyspark.sql.functions as F

from global_market_index_etl_spark.operators.storage import read_table

from .market import MarketData, duck_view

KINDS = ("q1_recent5", "q2_ticker_day", "q4_latest_n", "qc_ticker_stats")
Q4_TICKERS = 3
# One round compiles each query's code paths, but rounds kept getting
# faster for about 15 s more (2.0 s to 1.2 s on 4 cores) as the JIT went
# on compiling the planner. A loop starting there had its median set by
# that trend plus any burst of host contention, so warm-up runs about
# 10 s of rounds to take most of the trend out of the loop.
WARM_UP_ROUNDS = 6
Q4_LIMIT = 10


def spark_query(t, kind: str, p: dict):
    """The query ``kind`` with parameters ``p`` over the quotes frame ``t``."""
    if kind == "q1_recent5":
        return (t.filter(F.col("ticker") == p["ticker"])
                .orderBy(F.desc("timestamp_utc")).limit(5)
                .select("timestamp_utc", "close_usd"))
    if kind == "q2_ticker_day":
        lo = F.lit(p["day"]).cast("timestamp")
        hi = F.lit(p["next_day"]).cast("timestamp")
        return (t.filter((F.col("ticker") == p["ticker"])
                         & (F.col("timestamp_utc") >= lo) & (F.col("timestamp_utc") < hi))
                .orderBy("timestamp_utc")
                .select("timestamp_utc", "close", "close_usd"))
    if kind == "q4_latest_n":
        return (t.filter(F.col("ticker").isin(p["tickers"]))
                .orderBy("ticker", F.desc("timestamp_utc")).limit(Q4_LIMIT)
                .select("ticker", "timestamp_utc", "close_usd"))
    return (t.groupBy("ticker").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("close").isNull().cast("long")).alias("null_close"),
                F.sum(F.col("close_usd").isNull().cast("long")).alias("null_close_usd"),
                F.min("close").alias("min_close"), F.max("close").alias("max_close"),
                F.min("timestamp_utc").alias("first_ts"),
                F.max("timestamp_utc").alias("last_ts"))
            .orderBy("ticker"))


def duck_query(kind: str, p: dict) -> str:
    """The same query in DuckDB SQL over the ``quotes`` view."""
    if kind == "q1_recent5":
        return (f"SELECT timestamp_utc, close_usd FROM quotes WHERE ticker = '{p['ticker']}' "
                "ORDER BY timestamp_utc DESC LIMIT 5")
    if kind == "q2_ticker_day":
        return (f"SELECT timestamp_utc, close, close_usd FROM quotes "
                f"WHERE ticker = '{p['ticker']}' AND timestamp_utc >= TIMESTAMP '{p['day']}' "
                f"AND timestamp_utc < TIMESTAMP '{p['next_day']}' ORDER BY timestamp_utc")
    if kind == "q4_latest_n":
        names = ", ".join(f"'{x}'" for x in p["tickers"])
        return (f"SELECT ticker, timestamp_utc, close_usd FROM quotes WHERE ticker IN ({names}) "
                f"ORDER BY ticker, timestamp_utc DESC LIMIT {Q4_LIMIT}")
    return ("SELECT ticker, count(*) AS n_rows, "
            "count(*) FILTER (WHERE close IS NULL) AS null_close, "
            "count(*) FILTER (WHERE close_usd IS NULL) AS null_close_usd, "
            "min(close), max(close), min(timestamp_utc), max(timestamp_utc) "
            "FROM quotes GROUP BY ticker ORDER BY ticker")


def _plain(value):
    """A result cell in a form both engines agree on: timestamps as naive UTC."""
    if isinstance(value, dt.datetime) and value.tzinfo is not None:
        return value.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return value


def _rows(rows) -> list[tuple]:
    return [tuple(_plain(v) for v in r) for r in rows]


class QuotesQueries:
    name = "quotes_queries"

    def __init__(self, spark, work: Path, seed: int, size):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.results: list[tuple[int, str, dict, list[tuple]]] = []
        self.rounds = 0
        self.layer: dict[str, list[float]] = {}

    def setup(self) -> None:
        self.market = MarketData(self.seed, self.size)
        self.path = self.market.write_history(self.spark, self.work, "quotes")
        self.rng = random.Random(self.seed)
        self.results = []
        self.rounds = 0

    def _params(self) -> dict:
        rng, m = self.rng, self.market
        day = m.history_start.date() + dt.timedelta(days=1 + rng.randrange(m.size.history_days - 1))
        return {"ticker": rng.choice(m.tickers),
                "day": f"{day} 00:00:00",
                "next_day": f"{day + dt.timedelta(days=1)} 00:00:00",
                "tickers": rng.sample(m.tickers, min(Q4_TICKERS, len(m.tickers)))}

    def before_op(self) -> None:
        pass

    def warm_up(self) -> None:
        for _ in range(WARM_UP_ROUNDS):
            self.op()

    def op(self) -> int:
        for kind in KINDS:
            p = self._params()
            rows = spark_query(read_table(self.spark, self.path), kind, p).collect()
            self.results.append((self.rounds, kind, p, _rows(rows)))
        self.rounds += 1
        return len(KINDS)

    def traced_op(self, tracer) -> int:
        """One round; each query's ``read_table``, planning and execution
        as separate spans."""
        i = self.rounds
        for kind in KINDS:
            p = self._params()
            with tracer.span(f"query.{kind}", i):
                with tracer.span("operators.storage.read_table", i):
                    t = read_table(self.spark, self.path)
                q = spark_query(t, kind, p)
                with tracer.span("query.plan", i):
                    q._jdf.queryExecution().executedPlan()
                with tracer.span("query.exec", i) as rec:
                    rows = q.collect()
            self.layer.setdefault("files_planned", []).append(len(t.inputFiles()))
            self.layer.setdefault("rows_returned", []).append(len(rows))
            self.layer.setdefault("rows_scanned", []).append(rec["input_records"])
            self.results.append((i, kind, p, _rows(rows)))
        self.rounds += 1
        return len(KINDS)

    def probe(self, tracer) -> None:
        """One traced round (used when another workload is traced)."""
        self.traced_op(tracer)

    def layer_metrics(self, tracer, window, untraced_ops: int) -> dict:
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        execs = [s for s in tracer.spans if s["name"] == "query.exec"]
        out = {f"query.{k}.p50_s": (med(tracer.durations(f"query.{k}")), "s") for k in KINDS}
        out.update({
            "operators.storage.read_table_s": (med(tracer.durations("operators.storage.read_table")), "s"),
            "operators.storage.files_planned": (med(self.layer["files_planned"]), "count"),
            "query.plan_s": (med(tracer.durations("query.plan")), "s"),
            "query.tasks_per_query": (statistics.mean(s["tasks"] for s in execs), "count"),
            "query.rows_scanned_per_row_returned":
                (sum(self.layer["rows_scanned"]) / max(1, sum(self.layer["rows_returned"])), "ratio"),
        })
        return out

    def check(self) -> int:
        """Compare every kept result with DuckDB over the live files;
        returns the number of rounds with a query that differs."""
        con = duckdb.connect()
        bad_rounds = set()
        try:
            duck_view(con, self.path)
            want: dict[str, list[tuple]] = {}
            for i, kind, p, rows in self.results:
                sql = duck_query(kind, p)
                if sql not in want:
                    want[sql] = _rows(con.execute(sql).fetchall())
                if rows != want[sql]:
                    bad_rounds.add(i)
                    print(f"{self.name} check failed: round {i} {kind} {p}: "
                          "result differs from DuckDB", file=sys.stderr)
        finally:
            con.close()
        return len(bad_rounds)
