"""The reference's end-to-end ETL (main.py:9-141, trace SURVEY.md §3 E1) as a
single lazy Spark plan.

Reference stage boundaries were full pandas materializations + network hops;
here the whole of extract→standardize→convert→load is one DataFrame DAG that
Catalyst optimizes end to end:

    raw(long) → rename → UTC → ⟕indices(broadcast) → cast → project
             → ⟕fx_rates(broadcast) → when/otherwise → ×rate → select
             → upsert(window dedup, single shuffle on the key)

The only wide exchange in the whole pipeline is the upsert key shuffle; with
a key-bucketed target table even that collapses to the new batch's rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .operators.fx import convert_to_target_currency
from .operators.standardize import standardize
from .operators.upsert import fk_violations, upsert


def run_batch(
    raw_long: DataFrame,
    indices: DataFrame,
    fx_rates: DataFrame,
    target_currency: str = "USD",
    assume_tz: str = "UTC",
) -> DataFrame:
    """Extract→standardize→convert for one batch (main.py stages 1-3).

    Returns the final quotes frame (R2 + ``_usd`` columns) ready for the
    sink; callers persist via :func:`load_batch`.
    """
    std = standardize(raw_long, indices, assume_tz=assume_tz)
    return convert_to_target_currency(std, fx_rates, target=target_currency)


def load_batch(
    target: DataFrame | None,
    batch: DataFrame,
    key_columns: list[str] | None = None,
    batch_ts_column: str | None = "batch_ts",
    indices: DataFrame | None = None,
) -> DataFrame:
    """LOAD stage (main.py:97-138): FK-check then idempotent upsert.

    - ``indices`` given ⇒ enforce the quotes→indices FK as a pre-write anti
      join (postgres_writer.py:87-91,265-270): raise on orphans, mirroring
      the reference's abort-on-FK-violation.
    - ``target`` None ⇒ first load, the batch (key-deduped) becomes the
      table. Otherwise last-write-wins upsert on the key.
    """
    keys = key_columns or ["ticker", "timestamp_utc"]
    if indices is not None:
        orphans = fk_violations(batch, indices, "ticker")
        n = orphans.limit(1).count()
        if n:
            raise ValueError(
                "FK violation: batch contains tickers absent from indices"
            )
    if batch_ts_column is not None and batch_ts_column not in batch.columns:
        batch = batch.withColumn(batch_ts_column, F.current_timestamp())
    return upsert(target, batch, keys, order_column=batch_ts_column)
