"""``ingest_ticks``: the reference's 6-hourly durable ingest tick.

One op = one tick: ``market_bars`` source → ``pipeline.run_batch`` →
``operators.upsert.fk_violations`` → ``operators.storage.merge_into_parquet``
ordered by ``batch_ts``, timed from the source read to the manifest commit.
Each tick re-fetches 48 hourly bars per ticker with the window advanced by
6 bars, so 42 of 48 rows per ticker revise keys the table already holds.
"""

from __future__ import annotations

import os
import statistics
import sys
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from global_market_index_etl_spark.operators.storage import merge_into_parquet
from global_market_index_etl_spark.operators.upsert import fk_violations
from global_market_index_etl_spark.pipeline import run_batch

from .market import (BARS_PER_TICK, KEYS, N_BUCKETS, PRICE_COLUMNS, QUOTE_COLUMNS,
                     MarketData, duck_view, manifest, read_source, table_digest,
                     tick_batch_ts, tick_start)


def _rows_and_bytes(path: str, rels: list[str]) -> tuple[int, int]:
    """(rows, bytes) of the files ``rels`` under the table root."""
    rows = nbytes = 0
    for rel in rels:
        f = os.path.join(path, rel)
        rows += pq.ParquetFile(f).metadata.num_rows
        nbytes += os.path.getsize(f)
    return rows, nbytes


class IngestTicks:
    name = "ingest_ticks"

    def __init__(self, spark, work: Path, seed: int, size):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.committed: list[int] = []  # tick indices, in commit order
        self.layer: dict[str, list[float]] = {}

    # -- inputs ---------------------------------------------------------------

    def setup(self) -> None:
        """Generate the inputs and build the history table."""
        self.market = MarketData(self.seed, self.size)
        self.indices = self.market.indices_df(self.spark)
        self.fx = self.market.fx_df(self.spark)
        self.path = self.market.write_history(self.spark, self.work, "ingest")
        self.committed = []

    @property
    def bars_per_tick(self) -> int:
        return len(self.market.tickers) * BARS_PER_TICK

    def _batch(self, raw, i: int):
        return run_batch(raw, self.indices, self.fx).withColumn(
            "batch_ts", F.lit(tick_batch_ts(i)).cast("timestamp"))

    # -- ops ------------------------------------------------------------------

    def before_op(self) -> None:
        pass

    def warm_up(self) -> None:
        self.op()

    def op(self) -> int:
        i = len(self.committed)
        return self._tick(i)

    def _tick(self, i: int) -> int:
        batch = self._batch(read_source(self.spark, self.market.tickers, i, self.seed), i)
        if not fk_violations(batch, self.indices, "ticker").isEmpty():
            raise ValueError(f"tick {i}: batch has tickers absent from indices")
        merge_into_parquet(self.spark, self.path, batch, KEYS, order_column="batch_ts")
        self.committed.append(i)
        return self.bars_per_tick

    def traced_op(self, tracer) -> int:
        """One tick with each layer's call timed on a materialized copy of
        its input, plus the storage counters read from the manifests."""
        i = len(self.committed)
        add = lambda k, v: self.layer.setdefault(k, []).append(v)  # noqa: E731
        with tracer.span("ingest.tick", i):
            with tracer.span("sources.market_source.drain", i):
                raw = read_source(self.spark, self.market.tickers, i, self.seed).persist()
                add("sources.market_source.rows", raw.count())
            with tracer.span("pipeline.run_batch.plan", i):
                batch = self._batch(raw, i)
                batch._jdf.queryExecution().executedPlan()
            with tracer.span("pipeline.run_batch.exec", i):
                batch = batch.persist()
                batch_rows = batch.count()
            with tracer.span("operators.upsert.fk_check", i):
                orphans = fk_violations(batch, self.indices, "ticker").count()
            add("operators.upsert.fk_orphans", orphans)
            if orphans:
                raise ValueError(f"tick {i}: {orphans} rows with unknown tickers")
            before = manifest(self.path)["buckets"]
            with tracer.span("operators.storage.merge", i):
                merge_into_parquet(self.spark, self.path, batch, KEYS,
                                   order_column="batch_ts")
        self.committed.append(i)
        after = manifest(self.path)["buckets"]
        add("pipeline.run_batch.null_usd_rows",
            batch.filter(F.col("close_usd").isNull()).count())
        probe = str(self.work / "batch-bytes")
        batch.drop("batch_ts").coalesce(1).write.mode("overwrite").parquet(probe)
        batch_bytes = sum(f.stat().st_size for f in Path(probe).glob("*.parquet"))
        new = [f for b, files in after.items() if files != before.get(b) for f in files]
        rewritten = sum(1 for b, files in after.items() if files != before.get(b))
        new_rows, new_bytes = _rows_and_bytes(self.path, new)
        live_rows, live_bytes = _rows_and_bytes(self.path, [f for fs in after.values() for f in fs])
        add("operators.storage.buckets_rewritten_ratio", rewritten / N_BUCKETS)
        add("operators.storage.rows_rewritten_per_batch_row", new_rows / batch_rows)
        add("operators.storage.bytes_written_per_batch_byte", new_bytes / batch_bytes)
        add("operators.storage.live_bytes_per_row", live_bytes / live_rows)
        add("operators.storage.live_files", sum(len(fs) for fs in after.values()))
        raw.unpersist()
        batch.unpersist()
        return self.bars_per_tick

    def probe(self, tracer) -> None:
        self.traced_op(tracer)

    # -- per-layer metrics ------------------------------------------------------

    def layer_metrics(self, tracer, window, untraced_ops: int) -> dict:
        """Per-layer metrics: span medians from the traced ticks, and the
        source scans per tick from the untraced ticks run in ``window``."""
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        span = lambda name: med(tracer.durations(name))  # noqa: E731
        layer = lambda name: med(self.layer.get(name, []))  # noqa: E731
        merges = [s for s in tracer.spans if s["name"] == "operators.storage.merge"]
        scanned = window.scan_output_rows("BatchScan market_bars")
        st = "operators.storage."
        return {
            "sources.market_source.drain_s": (span("sources.market_source.drain"), "s"),
            "sources.market_source.rows": (layer("sources.market_source.rows"), "count"),
            "sources.market_source.scans_per_tick":
                (scanned / self.bars_per_tick / max(1, untraced_ops), "count"),
            "pipeline.run_batch.plan_s": (span("pipeline.run_batch.plan"), "s"),
            "pipeline.run_batch.exec_s": (span("pipeline.run_batch.exec"), "s"),
            "pipeline.run_batch.null_usd_rows": (layer("pipeline.run_batch.null_usd_rows"), "count"),
            "operators.upsert.fk_check_s": (span("operators.upsert.fk_check"), "s"),
            "operators.upsert.fk_orphans": (sum(self.layer.get("operators.upsert.fk_orphans", [])), "count"),
            st + "merge_s": (span("operators.storage.merge"), "s"),
            st + "merge_tasks": (med([s["tasks"] for s in merges]), "count"),
            st + "merge_shuffle_bytes": (med([s["shuffle_write_bytes"] for s in merges]), "B"),
            st + "buckets_rewritten_ratio": (layer(st + "buckets_rewritten_ratio"), "ratio"),
            st + "rows_rewritten_per_batch_row": (layer(st + "rows_rewritten_per_batch_row"), "ratio"),
            st + "bytes_written_per_batch_byte": (layer(st + "bytes_written_per_batch_byte"), "ratio"),
            st + "live_bytes_per_row": (self.layer[st + "live_bytes_per_row"][-1], "B"),
            st + "live_files": (self.layer[st + "live_files"][-1], "count"),
        }

    # -- output check -------------------------------------------------------------

    def delivered(self, i: int) -> dict:
        """Tick ``i``'s bars as the source's reader yields them, read in this
        process through the ``DataSourceReader`` interface (no Spark job)."""
        from global_market_index_etl_spark.sources.market_source import MarketBarsReader

        reader = MarketBarsReader({"tickers": ",".join(self.market.tickers),
                                   "bars": str(BARS_PER_TICK), "seed": str(self.seed),
                                   "start": tick_start(i).strftime("%Y-%m-%dT%H:%M:%S")})
        rows = [r for part in reader.partitions() for r in reader.read(part)]
        names = ["ticker", "timestamp_utc", *PRICE_COLUMNS, "volume"]
        cols = {n: [r[k] for r in rows] for k, n in enumerate(names)}
        cols["timestamp_utc"] = [int(t.timestamp()) * 1_000_000 for t in cols["timestamp_utc"]]
        return cols

    def expected(self):
        """The table every committed tick should leave: history, then each
        tick's delivery in commit order, last write wins per key."""
        import pandas as pd

        frames = [self.market.history.to_pandas()]
        for i in self.committed:
            cols = self.delivered(i)
            ts = pd.Timestamp(tick_batch_ts(i), tz="UTC").value // 1000
            n = len(cols["ticker"])
            frames.append(self.market.to_quotes(cols, np.full(n, ts, "int64")).to_pandas())
        allrows = pd.concat(frames, ignore_index=True)
        return (allrows.drop_duplicates(KEYS, keep="last")
                .sort_values(KEYS, ignore_index=True))

    def check(self) -> int:
        """Output checks on the committed table; returns the failed ticks.
        A wrong table cannot be pinned on one tick, so then all count."""
        con = duckdb.connect()
        try:
            failures = self._check(con)
        finally:
            con.close()
        for msg in failures:
            print(f"{self.name} check failed: {msg}", file=sys.stderr)
        return len(self.committed) if failures else 0

    def _check(self, con) -> list[str]:
        failures = []
        duck_view(con, self.path)
        cols = ", ".join(QUOTE_COLUMNS)
        actual = con.execute(f"SELECT {cols} FROM quotes ORDER BY ticker, timestamp_utc").df()
        n_keys = con.execute("SELECT count(DISTINCT (ticker, timestamp_utc)) FROM quotes").fetchone()[0]
        if n_keys != len(actual):
            failures.append(f"{len(actual) - n_keys} duplicate keys")
        want = self.expected()
        if len(actual) != len(want):
            failures.append(f"row count {len(actual)} != expected distinct keys {len(want)}")
        else:
            for c in QUOTE_COLUMNS:
                a, w = _comparable(actual[c]), _comparable(want[c])
                bad = int((~_equal(a, w)).sum())
                if bad:
                    failures.append(f"{bad} rows differ in {c}")
        if self.committed:
            before = table_digest(con, self.path)
            try:
                self._tick(self.committed[-1])
            except Exception as exc:  # reported as a failed check, not a crash
                failures.append(f"replaying the last tick raised {exc!r}")
            else:
                self.committed.pop()  # a replay is not a new tick
                if table_digest(con, self.path) != before:
                    failures.append("replaying the last tick changed the table")
        return failures


def _comparable(s):
    """Timestamps as epoch microseconds; everything else as numpy."""
    import pandas as pd

    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.astype("datetime64[us]").astype("int64").to_numpy()
    return s.to_numpy()


def _equal(a, b):
    import pandas as pd

    na, nb = pd.isna(a), pd.isna(b)
    same = np.zeros(len(a), dtype=bool)
    both = ~na & ~nb
    same[both] = a[both] == b[both]
    return same | (na & nb)

