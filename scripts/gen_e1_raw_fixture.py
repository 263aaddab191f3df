"""Materialize the E1 pipeline's raw bars as a parquet fixture.

Round-12 verdict item 4: e1_pipeline_market_bars is digest-pinned because
its INPUT comes through the Python DataSource, which DuckDB cannot reach.
The source stage is seeded and deterministic, so its output is a fixed
480-row table — materialized once here, the standardize→enrich→FX→LWW
TRANSFORM becomes a fully-oracled registry row (e1_fixture_transform)
over this fixture while the digest row keeps covering the source stage.

Uses the reader class directly (no Spark session): the same per-ticker
LCG walk the DataSource runs in executors, written via pyarrow as ONE
file in the RAW yfinance shape e1 feeds to run_batch (timestamp, ticker,
Open/High/Low/Close/'Adj Close'/Volume-as-double — exercises the P1
rename exactly like the DataSource path). Timestamps are stored naive-µs
(UTC wall time): the Spark session runs pinned to UTC and DuckDB reads
the same instants, keeping epoch_us() comparisons exact.

Usage: python scripts/gen_e1_raw_fixture.py
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from global_market_index_etl_spark.plans.parity import E1_TICKERS  # noqa: E402
from global_market_index_etl_spark.sources.market_source import (  # noqa: E402
    MarketBarsReader,
)

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
    "e1_raw_bars.parquet",
)


def main() -> None:
    reader = MarketBarsReader({"tickers": E1_TICKERS, "bars": "48", "seed": "42"})
    rows = []
    for part in reader.partitions():
        rows.extend(reader.read(part))
    # reader yields (ticker, ts, open, high, low, close, adj_close, volume)
    schema = pa.schema(
        [
            ("timestamp", pa.timestamp("us")),
            ("ticker", pa.string()),
            ("Open", pa.float64()),
            ("High", pa.float64()),
            ("Low", pa.float64()),
            ("Close", pa.float64()),
            ("Adj Close", pa.float64()),
            ("Volume", pa.float64()),
        ]
    )
    table = pa.table(
        {
            "timestamp": [r[1].replace(tzinfo=None) for r in rows],
            "ticker": [r[0] for r in rows],
            "Open": [r[2] for r in rows],
            "High": [r[3] for r in rows],
            "Low": [r[4] for r in rows],
            "Close": [r[5] for r in rows],
            "Adj Close": [r[6] for r in rows],
            "Volume": [float(r[7]) for r in rows],
        },
        schema=schema,
    )
    pq.write_table(table, OUT)
    print(f"{OUT}: {table.num_rows} rows")


if __name__ == "__main__":
    main()
