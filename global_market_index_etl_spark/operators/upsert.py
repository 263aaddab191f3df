"""Idempotent keyed upsert + sink-side integrity checks (SURVEY.md §2.2/§2.7).

The reference's sink is PostgreSQL ``INSERT ... ON CONFLICT DO UPDATE``
(postgres_writer.py:234-259) — last-write-wins on the key across overlapping
batches. Plain parquet has no MERGE, so the engine expresses the same
semantics as a pure-DataFrame relational rewrite: union the target with the
new batch, then keep exactly one survivor per key via ``row_number`` ordered
by a batch/version column (deterministic tie-break, SURVEY.md §7 risk 1).

Scale notes:
- The window dedup shuffles once on the upsert key — the same hash exchange a
  MERGE's join would need. If the target is bucketed by the key, the target
  side's shuffle disappears and only the (small) batch moves.
- ``row_number`` (not ``rank``) guarantees a single survivor even on exact
  order-key ties; the ``__src`` tag makes "updates beat target on ties"
  deterministic under retries.
- For file-level MERGE (Delta/Iceberg), the same interface applies when those
  catalogs are on the classpath; the relational rewrite is the
  dependency-free, oracle-checkable core.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _tagged_union(target: DataFrame, updates: DataFrame) -> DataFrame:
    cols = target.columns
    return target.withColumn("__src", F.lit(0)).unionByName(
        updates.select(*cols).withColumn("__src", F.lit(1))
    )


def upsert(
    target: DataFrame | None,
    updates: DataFrame,
    key_columns: list[str],
    order_column: str | None = None,
) -> DataFrame:
    """K2/K3/D3 — last-write-wins upsert; one shuffle on ``key_columns``.

    Survivor per key = highest ``order_column`` (if given); the updates side
    wins ties — exactly PostgreSQL ``ON CONFLICT (key) DO UPDATE`` applied
    batch-after-target (postgres_writer.py:234-259). Re-running the same
    batch is a no-op (idempotent incremental load, README.md:166).

    ``target`` None is the first load: the key-deduped batch becomes the
    table (without ``order_column`` an arbitrary duplicate survives).
    """
    if target is None:
        order = [F.col(order_column).desc()] if order_column else None
        return dedup_keyed(updates, key_columns, order)
    unioned = _tagged_union(target, updates)
    order = [F.col("__src").desc()]
    if order_column is not None:
        order = [F.col(order_column).desc(), F.col("__src").desc()]
    w = Window.partitionBy(*key_columns).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def dedup_keyed(
    df: DataFrame, key_columns: list[str], order_columns: list | None = None
) -> DataFrame:
    """D2 — one survivor per key. With ``order_columns`` the survivor is
    deterministic (the reference's ``drop_duplicates(subset=...)`` at
    main.py:117 keeps an arbitrary one; deterministic is strictly better)."""
    if not order_columns:
        return df.dropDuplicates(key_columns)
    w = Window.partitionBy(*key_columns).orderBy(*order_columns)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fk_violations(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """J3 — referential-integrity check as a left anti join (the reference's
    FK ``quotes.ticker → indices.ticker``, postgres_writer.py:87-91, enforced
    pre-write instead of at the DB). Returns orphan fact rows; empty ⇒ safe
    to load. With a broadcastable dim this is a shuffle-free broadcast anti
    join."""
    return fact.join(dim.select(key), on=key, how="left_anti")


def changed_rows(
    current: DataFrame, incoming: DataFrame, key_columns: list[str]
) -> DataFrame:
    """K4 — rows in ``incoming`` whose key exists in ``current`` but whose
    non-key payload differs (the reference's ``IS DISTINCT FROM`` update
    trigger, postgres_writer.py:52-73). Null-safe comparison via
    ``eqNullSafe``; drives ``updated_at`` maintenance in a MERGE
    formulation."""
    payload = [c for c in incoming.columns if c not in key_columns]
    cur = current.select(
        *key_columns, *[F.col(c).alias(f"__cur_{c}") for c in payload]
    )
    joined = incoming.join(cur, on=key_columns, how="inner")
    differs = None
    for c in payload:
        neq = ~F.col(c).eqNullSafe(F.col(f"__cur_{c}"))
        differs = neq if differs is None else (differs | neq)
    if differs is None:  # key-only relation: nothing can differ
        return joined.limit(0).select(*key_columns)
    return joined.filter(differs).select(*key_columns, *payload)
