"""Parity queries — every operator of the reference's surface (SURVEY.md §2)
mapped onto the driver's star schema, each with its DuckDB oracle.

Scale notes apply throughout: dimension joins are explicit broadcasts (no
fact shuffle), aggregations rely on partial (map-side) combine, filters and
projections sit directly above the parquet scan so Catalyst pushes them into
the reader, and float sums use the exact integer-scaled form
(functions/exact.py) so results are partitioning-independent.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..functions.exact import exact_money_sum, sql_exact_money_sum
from ..operators.quality import null_counts
from ..operators.reshape import unpivot
from ..operators.upsert import changed_rows, dedup_keyed, fk_violations, upsert
from ..sources import load_table
from .registry import query

# --------------------------------------------------------------------------
# Q1-Q4 — the reference's documented SQL query surface (README.md:316-357,
# postgres_writer.py:371-377)


@query(
    "f_filter_suite",
    """
    SELECT 'day' AS leg, event_id AS k1, CAST(NULL AS BIGINT) AS k2,
           event_type AS s1, ts, value AS v
    FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-02'
    UNION ALL
    SELECT 'inlist', l_orderkey, CAST(l_linenumber AS BIGINT),
           l_returnflag, l_shipdate, NULL
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R') AND l_shipdate >= TIMESTAMP '2021-06-01'
    """,
    doc="Filter suite — Q2 one-day slice (README.md:336-345) + F3-F5 "
    "equality/IN/range predicates (README.md:329-344, "
    "postgres_writer.py:373), fused round-3-style into one driver row "
    "(round-7 verdict item 2: registry headroom) with BOTH legs at full "
    "row granularity, so per-row value coverage is unchanged. The Q2 leg's "
    "date-function predicate is rewritten to a half-open timestamp range "
    "applied in the raw nanos domain (sources.load_events_ts_range) so it "
    "reaches the parquet reader — row-group min/max pruning here, "
    "partition pruning on a date-partitioned table; the IN-list leg "
    "pushes In/GreaterThanOrEqual into the lineitem scan. At 100 TB "
    "scan-level pushdown is the difference between reading row groups "
    "and reading the lake (pushdown asserted for both legs in "
    "tests/test_plan_hygiene.py).",
)
def f_filter_suite(spark, sf):
    from ..sources import load_events_ts_range

    day = load_events_ts_range(
        spark, sf, "2024-01-02T00:00:00", "2024-01-03T00:00:00"
    ).select(
        F.lit("day").alias("leg"),
        F.col("event_id").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("event_type").alias("s1"),
        F.col("ts"),
        F.col("value").alias("v"),
    )
    inlist = (
        load_table(spark, sf, "lineitem")
        .filter(
            F.col("l_returnflag").isin("A", "R")
            & (F.col("l_shipdate") >= F.lit("2021-06-01").cast("timestamp_ntz"))
        )
        .select(
            F.lit("inlist").alias("leg"),
            F.col("l_orderkey").alias("k1"),
            F.col("l_linenumber").cast("long").alias("k2"),
            F.col("l_returnflag").alias("s1"),
            F.col("l_shipdate").alias("ts"),
            F.lit(None).cast("double").alias("v"),
        )
    )
    return day.unionByName(inlist)


@query(
    "q_sort_limit_suite",
    """
    SELECT 'catalog' AS leg, CAST(n_nationkey AS BIGINT) AS k1,
           CAST(NULL AS BIGINT) AS k2, n_name AS s1, r_name AS s2,
           CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS INTEGER) AS rn,
           CAST(NULL AS DOUBLE) AS v
    FROM nation JOIN region ON n_regionkey = r_regionkey
    UNION ALL
    SELECT 'topn' AS leg, o_custkey AS k1, o_orderkey AS k2,
           CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS VARCHAR) AS s2,
           o_orderdate AS ts, rn, CAST(NULL AS DOUBLE) AS v
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS INTEGER) AS rn
      FROM orders)
    WHERE rn <= 3
    UNION ALL
    SELECT 'recent5' AS leg, o_orderkey AS k1, CAST(NULL AS BIGINT) AS k2,
           CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS VARCHAR) AS s2,
           o_orderdate AS ts, CAST(NULL AS INTEGER) AS rn, o_totalprice AS v
    FROM (
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders WHERE o_custkey = 42
      ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 5)
    """,
    doc="Q1 + Q3 + Q4 fused into one sort/rank suite (Q3/Q4 in round 8 — "
    "verdict item 5, registry headroom; Q1 in round 13 for the same "
    "reason): the 'recent5' leg is Q1's 5-most-recent-rows-for-one-key "
    "(README.md:322-331) — Catalyst plans TakeOrderedAndProject: "
    "per-partition top-5 then a 5-row driver merge, no global sort at "
    "any scale, with the o_custkey equality pushed to the scan "
    "(plan-asserted); the 'catalog' leg is the dimension catalog scan "
    "with the region lookup as a broadcast join (README.md:350-357); the "
    "'topn' leg is latest-N per key via a ranking window "
    "(postgres_writer.py:371-377) — one hash shuffle on the key, which at "
    "scale beats a global sort+limit by never materializing a total "
    "order. Legs are tagged and column-aligned like f_filter_suite; all "
    "three plans execute unchanged inside the union.",
)
def q_sort_limit_suite(spark, sf):
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    orders = load_table(spark, sf, "orders")
    ts_type = orders.schema["o_orderdate"].dataType
    catalog = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.lit("catalog").alias("leg"),
            F.col("n_nationkey").cast("long").alias("k1"),
            F.lit(None).cast("long").alias("k2"),
            F.col("n_name").alias("s1"),
            F.col("r_name").alias("s2"),
            F.lit(None).cast(ts_type).alias("ts"),
            F.lit(None).cast("int").alias("rn"),
            F.lit(None).cast("double").alias("v"),
        )
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    topn = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.lit("topn").alias("leg"),
            F.col("o_custkey").alias("k1"),
            F.col("o_orderkey").alias("k2"),
            F.lit(None).cast("string").alias("s1"),
            F.lit(None).cast("string").alias("s2"),
            F.col("o_orderdate").alias("ts"),
            "rn",
            F.lit(None).cast("double").alias("v"),
        )
    )
    recent5 = (
        orders.filter(F.col("o_custkey") == 42)
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(5)
        .select(
            F.lit("recent5").alias("leg"),
            F.col("o_orderkey").alias("k1"),
            F.lit(None).cast("long").alias("k2"),
            F.lit(None).cast("string").alias("s1"),
            F.lit(None).cast("string").alias("s2"),
            F.col("o_orderdate").alias("ts"),
            F.lit(None).cast("int").alias("rn"),
            F.col("o_totalprice").alias("v"),
        )
    )
    return catalog.unionByName(topn).unionByName(recent5)


# --------------------------------------------------------------------------
# Joins (SURVEY.md §2.6)


@query(
    "j1_enrich_broadcast",
    """
    SELECT c_custkey, c_name, c_mktsegment, n_name, r_name
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    """,
    doc="J1 — fact⟕dim metadata enrichment (standardizer.py:150-186) as "
    "chained broadcast hash joins; the fact side never shuffles.",
)
def j1_enrich_broadcast(spark, sf):
    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
            "left",
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select("c_custkey", "c_name", "c_mktsegment", "n_name", "r_name")
    )


@query(
    "j2_rate_lookup_join",
    """
    WITH rates AS (
      SELECT event_type,
             {rate_sum} / CAST(count(*) AS BIGINT) AS rate
      FROM events WHERE event_type <> 'click' GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN e.event_type = 'click' THEN 1.0 ELSE r.rate END AS rate,
           e.value * (CASE WHEN e.event_type = 'click' THEN 1.0 ELSE r.rate END)
             AS value_conv
    FROM events e LEFT JOIN rates r ON e.event_type = r.event_type
    """.format(rate_sum=sql_exact_money_sum("value")),
    doc="J2+F1 — the reference's per-row dict rate lookup "
    "(currency_converter.py:156-168) as a broadcast left join against a "
    "derived rates dimension, with the same-currency identity shortcut as "
    "when/otherwise. Replaces O(rows) Python with one hash join.",
)
def j2_rate_lookup_join(spark, sf):
    events = load_table(spark, sf, "events")
    rates = (
        events.filter(F.col("event_type") != "click")
        .groupBy("event_type")
        .agg((exact_money_sum("value") / F.count(F.lit(1))).alias("rate"))
    )
    rate = F.when(F.col("event_type") == "click", F.lit(1.0)).otherwise(
        F.col("rate")
    )
    return (
        events.join(F.broadcast(rates), on="event_type", how="left")
        .withColumn("rate", rate)
        .withColumn("value_conv", F.col("value") * F.col("rate"))
        .select("event_id", "event_type", "value", "rate", "value_conv")
    )


@query(
    "j3_anti_fk_check",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM events e
      WHERE e.event_type = 'purchase' AND e.user_id = c.c_custkey)
    """,
    doc="J3 — referential/coverage check as a left anti join "
    "(postgres_writer.py:87-91 FK, enforced relationally): keys on the left "
    "with no match on the right. Broadcast anti join ⇒ no fact shuffle.",
)
def j3_anti_fk_check(spark, sf):
    customer = load_table(spark, sf, "customer")
    purchasers = (
        load_table(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("c_custkey"))
        .distinct()
    )
    return fk_violations(
        customer, purchasers, "c_custkey"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Dedup / upsert (SURVEY.md §2.2, §2.7)


@query(
    "d_dedup_suite",
    """
    WITH d1 AS (
      SELECT DISTINCT event_type,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS rate_date
      FROM events
    ), d2 AS (
      SELECT user_id, event_id, ts, event_type FROM (
        SELECT user_id, event_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      WHERE rn = 1
    )
    SELECT 'pairs' AS leg, event_type, rate_date,
           CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS BIGINT) AS event_id,
           CAST(NULL AS TIMESTAMP) AS ts
    FROM d1
    UNION ALL
    SELECT 'latest' AS leg, event_type, CAST(NULL AS VARCHAR) AS rate_date,
           user_id, event_id, ts
    FROM d2
    """,
    doc="D1 + D2 fused as tagged legs (round-12 registry headroom, the "
    "round-11 fusion discipline). 'pairs': distinct (key, date) pairs "
    "below an expensive operator (currency_converter.py:149-154) — "
    "partial-aggregate distinct, map-side combine shrinks the shuffle to "
    "the pair cardinality. 'latest': deterministic keyed dedup "
    "(main.py:117) via row_number with a total-order tie-break, replacing "
    "pandas' arbitrary-survivor drop_duplicates. Null fillers are typed "
    "string/long/timestamp columns (never nullable booleans — the r9 "
    "hash-divergence lesson).",
)
def d_dedup_suite(spark, sf):
    events = load_table(spark, sf, "events")
    pairs = (
        events
        # date rendered as ISO string: engine-neutral key representation
        .select("event_type", F.to_date("ts").cast("string").alias("rate_date"))
        .distinct()
        .select(
            F.lit("pairs").alias("leg"),
            "event_type",
            "rate_date",
            F.lit(None).cast("long").alias("user_id"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("timestamp_ntz").alias("ts"),
        )
    )
    latest = (
        dedup_keyed(
            events, ["user_id"], [F.desc("ts"), F.desc("event_id")]
        )
        .select(
            F.lit("latest").alias("leg"),
            "event_type",
            F.lit(None).cast("string").alias("rate_date"),
            "user_id",
            "event_id",
            "ts",
        )
    )
    return pairs.unionByName(latest)


@query(
    "d3_upsert_lww",
    """
    WITH unioned AS (
      SELECT *, 0 AS src FROM events WHERE event_id < 7000
      UNION ALL
      SELECT *, 1 AS src FROM events WHERE event_id >= 5000
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, src DESC) AS rn
      FROM unioned)
    SELECT event_id, ts, user_id, event_type, value, props
    FROM ranked WHERE rn = 1
    """,
    doc="D3/K3 — idempotent last-write-wins upsert of an overlapping batch "
    "(postgres_writer.py:234-259 ON CONFLICT DO UPDATE) as the window-dedup "
    "rewrite: one shuffle on the upsert key; overlapping rows resolve "
    "identically on re-run.",
)
def d3_upsert_lww(spark, sf):
    events = load_table(spark, sf, "events")
    target = events.filter(F.col("event_id") < 7000)
    updates = events.filter(F.col("event_id") >= 5000)
    return upsert(
        target, updates, ["user_id", "event_type"], order_column="ts"
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "k4_changed_rows",
    """
    WITH cur AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    ), incoming AS (
      SELECT o_orderkey, round(o_totalprice) AS o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT i.o_orderkey, i.o_totalprice, i.o_orderstatus
    FROM incoming i JOIN cur c ON i.o_orderkey = c.o_orderkey
    WHERE i.o_totalprice IS DISTINCT FROM c.o_totalprice
       OR i.o_orderstatus IS DISTINCT FROM c.o_orderstatus
    """,
    doc="K4 — changed-row detection (the IS DISTINCT FROM update trigger, "
    "postgres_writer.py:52-73) as a null-safe join predicate; drives "
    "updated_at maintenance in a MERGE.",
)
def k4_changed_rows(spark, sf):
    orders = load_table(spark, sf, "orders")
    cur = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    incoming = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.round("o_totalprice").alias("o_totalprice"),
        "o_orderstatus",
    )
    return changed_rows(cur, incoming, ["o_orderkey"])


@query(
    "k2_upsert_roundtrip",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN round(o_totalprice)
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders
    """,
    doc="K1-K3 durable — MERGE into STORAGE, round-tripped (the reference's "
    "at-rest ON CONFLICT DO UPDATE semantic, postgres_writer.py:234-278, "
    "DDL 32-113): the orders projection is materialized as a key-hash-"
    "bucketed parquet table, a changed batch (every 5th key re-priced) is "
    "MERGEd via partition-pruned read-modify-overwrite (operators/"
    "storage.py — only buckets containing updated keys are read or "
    "rewritten, so MERGE cost scales with the batch, not the table), the "
    "SAME batch is merged a second time (idempotency: replay must be a "
    "no-op), and the result is what the files on disk now say — not the "
    "in-memory plan. Oracle = the expected post-merge table. NOTE: unlike "
    "every other registry entry, the write/merge steps execute EAGERLY at "
    "plan-construction time (durability is the thing under test — there is "
    "no lazy form of 'the files on disk changed'); only the final read-back "
    "is the returned lazy plan.",
)
def k2_upsert_roundtrip(spark, sf):
    from ..operators.storage import (
        merge_into_parquet,
        read_table,
        write_bucketed_table,
    )

    target = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = target.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.round("o_totalprice")
    )
    path = _k2_scratch_dir()
    write_bucketed_table(target, path, ["o_orderkey"], n_buckets=16)
    merge_into_parquet(spark, path, updates, ["o_orderkey"], n_buckets=16)
    # replay the identical batch — the table must not change
    merge_into_parquet(spark, path, updates, ["o_orderkey"], n_buckets=16)
    return read_table(spark, path).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )


_K2_SCRATCH: list[str] = []


def _k2_scratch_dir() -> str:
    """One scratch table root per process, removed at interpreter exit.

    Bench warm-up + timed reps + the correctness run previously minted a
    fresh ``mkdtemp`` each invocation and never removed it — repeated runs
    accumulated orphaned orders tables in /tmp. Reusing a single registered
    path keeps repeated invocations self-overwriting and leaves nothing
    behind.
    """
    if not _K2_SCRATCH:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="gmie_k2_roundtrip_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _K2_SCRATCH.append(path)
    return _K2_SCRATCH[0]


_K7_EXPORTS: dict[str, str] = {}


def _k7_export_for(spark, sf: str) -> str:
    """Export the documents table ONCE per (process, sf) as 8 md5-hashed
    training shards; repeat invocations read the exported files back —
    same caching rationale as k6 (the write is deterministic per sf, the
    row exists to prove READ-BACK placement + content)."""
    if sf not in _K7_EXPORTS:
        import atexit
        import shutil
        import tempfile

        from ..operators.storage import export_training_shards
        from ..sources import load_table

        path = tempfile.mkdtemp(prefix="gmie_k7_export_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        export_training_shards(
            load_table(spark, sf, "documents").select("doc_id", "lang"),
            path,
            id_col="doc_id",
            n_shards=8,
            hash_fn="md5",
        )
        _K7_EXPORTS[sf] = path
    return _K7_EXPORTS[sf]


@query(
    "k7_export_roundtrip",
    """
    SELECT doc_id, lang,
           CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 8 AS INTEGER) AS shard
    FROM documents
    """,
    doc="K7 — deterministic sharded training export, round-tripped "
    "(operators/storage.export_training_shards, round 12): the documents "
    "table is physically written as 8 shards with md5-derived placement "
    "(shard = first 8 md5 hex chars of the id, mod n — the portable "
    "hash_fn dial, so ANY engine or non-Spark consumer can verify "
    "placement without a Spark runtime) and sortWithinPartitions pinning "
    "file-identical rebuilds; the returned plan READS THE FILES BACK and "
    "the oracle recomputes every row's shard straight from the source "
    "table — a row landing in the wrong shard, dropped, or duplicated by "
    "the export hash-mismatches. One shuffle on the shard key at any "
    "scale, no global sort; export runs once per (process, sf), repeat "
    "invocations measure the read-back like k6.",
)
def k7_export_roundtrip(spark, sf):
    from ..operators.storage import read_training_shards

    path = _k7_export_for(spark, sf)
    return read_training_shards(spark, path).select(
        "doc_id", "lang", "shard"
    )


@query(
    "k6_skipping_read",
    """
    SELECT 'linear' AS leg, l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           {revenue} AS revenue
    FROM lineitem
    WHERE l_orderkey % 4 = 0
      AND l_extendedprice >= 30000.0 AND l_extendedprice <= 40000.0
    GROUP BY l_returnflag
    UNION ALL
    SELECT 'zorder' AS leg, l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           {revenue} AS revenue
    FROM lineitem
    WHERE l_orderkey % 4 = 0
      AND l_extendedprice >= 30000.0 AND l_extendedprice <= 40000.0
      AND l_quantity >= 10.0 AND l_quantity <= 20.0
    GROUP BY l_returnflag
    """.format(
        revenue=sql_exact_money_sum("l_extendedprice * (1 - l_discount)")
    ),
    doc="K6 — manifest-level DATA SKIPPING (operators/storage.py), two "
    "tagged legs. 'linear': lineitem materialized as a stats-tracked "
    "bucketed table (cluster_by l_extendedprice + maxRecordsPerFile "
    "splits each bucket into files with near-disjoint price ranges; "
    "per-file min/max footer stats land in the manifest), read back with "
    "prune={l_extendedprice: [30000, 40000]} so files whose range misses "
    "the band are never even PLANNED — O(matching files) scan planning "
    "instead of O(all files), on top of the engine's row-group pruning, "
    "the Delta/Iceberg skipping story under this module's own manifest "
    "protocol. 'zorder' (round 13 — OPTIMIZE ZORDER driver-visible, r12 "
    "verdict item 7's alternate candidate): the same quarter written "
    "UNSORTED (the decayed post-MERGE layout), re-laid-out through "
    "optimize_table(zorder_by=[l_extendedprice, l_quantity]) — each "
    "bucket Morton-sorted by the codegen interleave expression, files "
    "re-split, 2-column stats committed crash-atomically as ONE new "
    "manifest version — then read with a TWO-dimensional prune (price "
    "band AND quantity band), the pruning shape a linear sort cannot "
    "serve on its second column. Real predicates are still applied "
    "(pruning is correctness-neutral by construction; missing stats keep "
    "the file) and both legs must match the oracle computed over the "
    "UNPRUNED table — a wrongly-skipped file would change the counts and "
    "hash-mismatch. Tables are written ONCE per (process, sf) and reused "
    "on repeat invocations (round-8 verdict item 6): the writes are "
    "deterministic per sf, k2 owns the eager-write durability story, and "
    "caching lets the bench number isolate the pruned READS this row "
    "exists to prove.",
)
def k6_skipping_read(spark, sf):
    from ..operators.storage import read_table

    lo, hi = 30000.0, 40000.0
    qlo, qhi = 10.0, 20.0
    linear = (
        read_table(
            spark, _k6_table_for(spark, sf),
            prune={"l_extendedprice": (lo, hi)},
        )
        .filter(
            (F.col("l_extendedprice") >= lo) & (F.col("l_extendedprice") <= hi)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
        .select(F.lit("linear").alias("leg"), "l_returnflag", "n_rows", "revenue")
    )
    zordered = (
        read_table(
            spark, _k6_zorder_table_for(spark, sf),
            prune={"l_extendedprice": (lo, hi), "l_quantity": (qlo, qhi)},
        )
        .filter(
            (F.col("l_extendedprice") >= lo)
            & (F.col("l_extendedprice") <= hi)
            & (F.col("l_quantity") >= qlo)
            & (F.col("l_quantity") <= qhi)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
        .select(F.lit("zorder").alias("leg"), "l_returnflag", "n_rows", "revenue")
    )
    return linear.unionByName(zordered)


_K6_SCRATCH: list[str] = []
_K6_WRITTEN: dict[str, str] = {}


def _k6_scratch_root() -> str:
    """One scratch root per process, removed at interpreter exit (k2
    discipline) — shared by the linear and zordered k6 tables so neither
    builder has to create the other's table just to get a directory
    (code-review fix)."""
    if not _K6_SCRATCH:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="gmie_k6_skipping_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _K6_SCRATCH.append(root)
    return _K6_SCRATCH[0]


def _k6_table_for(spark, sf: str) -> str:
    """The stats-tracked k6 table for ``sf`` — written on first use in
    this process, reused afterwards (the write is deterministic per sf:
    a fixed quarter of lineitem, fixed layout). One scratch root per
    process, removed at interpreter exit (k2 discipline)."""
    if sf in _K6_WRITTEN:
        return _K6_WRITTEN[sf]
    from ..operators.storage import write_bucketed_table

    # a deterministic quarter of lineitem: the skipping semantics are
    # identical, and the one-time write stays proportionate at sf1
    # (full-table write cost is k2's job)
    li = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            "l_extendedprice", "l_discount",
        )
    )
    # deterministic, collision-free per-sf subdir: sf is a filesystem
    # path, so sanitize rather than hash (hash() is PYTHONHASHSEED-salted
    # — nondeterministic across processes and collision-prone across sf
    # values, which could silently serve one sf's table for another's
    # pruned-read bench — round-9 review fix)
    path = f"{_k6_scratch_root()}/{sf.strip('/').replace('/', '__')}"
    write_bucketed_table(
        li,
        path,
        ["l_orderkey", "l_linenumber"],
        n_buckets=8,
        stats_columns=["l_extendedprice"],
        cluster_by=["l_extendedprice"],
        max_records_per_file=2000,
    )
    _K6_WRITTEN[sf] = path  # only after a successful commit
    return path


_K6Z_WRITTEN: dict[str, str] = {}


def _k6_zorder_table_for(spark, sf: str) -> str:
    """The OPTIMIZE-ZORDERed k6 table for ``sf`` — written UNSORTED (wide
    overlapping per-file ranges, the decayed post-MERGE layout), then
    re-laid-out via ``optimize_table(zorder_by=[l_extendedprice,
    l_quantity])`` so the driver row reads through the OPTIMIZE commit
    protocol, not just a fortunate initial write. Built once per
    (process, sf), k6/k2 discipline."""
    if sf in _K6Z_WRITTEN:
        return _K6Z_WRITTEN[sf]
    from ..operators.storage import optimize_table, write_bucketed_table

    li = (
        load_table(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            "l_extendedprice", "l_discount", "l_quantity",
        )
    )
    path = f"{_k6_scratch_root()}/z__{sf.strip('/').replace('/', '__')}"
    write_bucketed_table(
        li,
        path,
        ["l_orderkey", "l_linenumber"],
        n_buckets=8,
        max_records_per_file=2000,
    )
    optimize_table(
        spark,
        path,
        zorder_by=["l_extendedprice", "l_quantity"],
        stats_columns=["l_extendedprice", "l_quantity"],
        max_records_per_file=2000,
    )
    _K6Z_WRITTEN[sf] = path
    return path


# --------------------------------------------------------------------------
# Reshape / projection / cast (SURVEY.md §2.3, §2.4)


@query(
    "r1_unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS field, l_quantity AS value
      FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
    doc="R1 — wide→long unpivot (the pandas stack at standardizer.py:50-75) "
    "via DataFrame.unpivot: a narrow generator projection, one scan, no "
    "shuffle (the UNION ALL oracle form would scan 4×).",
)
def r1_unpivot_measures(spark, sf):
    return unpivot(
        load_table(spark, sf, "lineitem"),
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "field",
        "value",
    )


@query(
    "p_scalar_suite",
    """
    SELECT 'cast' AS leg, event_id AS k,
           CAST(value AS VARCHAR) AS s1,
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR)
             AS s2,
           CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS v1,
           TRY_CAST(event_type AS DOUBLE) AS v2
    FROM events
    UNION ALL
    SELECT 'str', c_custkey,
           upper(c_name),
           substr(c_name, 1, 5) || '|' || c_mktsegment || ':' || c_name,
           CAST(length(c_name) AS BIGINT),
           NULL
    FROM customer
    UNION ALL
    SELECT 'date', k, NULL, NULL, v1, v2 FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 100
                  + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS v1,
             {total} AS v2
      FROM orders GROUP BY 1)
    """.format(total=sql_exact_money_sum("o_totalprice")),
    doc="Scalar-function suite — P3 coercing casts + typed from_json "
    "(pd.to_numeric(errors='coerce'), standardizer.py:188-221), string "
    "scalar functions (upper/length/substr/concat, SURVEY.md §2.11) and "
    "date-part functions over a grouped aggregate (strftime at "
    "currency_converter.py:41 → year/month). Fused round-3-style into one "
    "driver row (round-7 verdict item 2: registry headroom) with every "
    "leg at FULL row granularity over a shared (leg, k, s1, s2, v1, v2) "
    "schema, so per-row value coverage of each scalar function is "
    "unchanged. All per-row expressions are whole-stage-codegen "
    "projections directly over their scans; the props payload is parsed "
    "ONCE with a typed from_json schema (at scale prefer that over "
    "repeated get_json_object calls); the date leg's partial aggregation "
    "keeps its shuffle at group cardinality.",
)
def p_scalar_suite(spark, sf):
    from pyspark.sql.types import LongType, StructField, StructType

    props_schema = StructType([StructField("k", LongType(), True)])
    cast_leg = (
        load_table(spark, sf, "events")
        .withColumn("__p", F.from_json("props", props_schema))
        .select(
            F.lit("cast").alias("leg"),
            F.col("event_id").alias("k"),
            F.col("value").cast("string").alias("s1"),
            F.col("__p.k").cast("string").alias("s2"),
            F.regexp_extract("props", "[0-9]+", 0).cast("long").alias("v1"),
            F.col("event_type").cast("double").alias("v2"),
        )
    )
    str_leg = load_table(spark, sf, "customer").select(
        F.lit("str").alias("leg"),
        F.col("c_custkey").alias("k"),
        F.upper("c_name").alias("s1"),
        F.concat_ws(
            "|",
            F.substring("c_name", 1, 5),
            F.concat_ws(":", "c_mktsegment", "c_name"),
        ).alias("s2"),
        F.length("c_name").cast("long").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    date_leg = (
        load_table(spark, sf, "orders")
        .groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("k")
        )
        .agg(
            F.count(F.lit(1)).alias("v1"),
            exact_money_sum("o_totalprice").alias("v2"),
        )
        .select(
            F.lit("date").alias("leg"),
            "k",
            F.lit(None).cast("string").alias("s1"),
            F.lit(None).cast("string").alias("s2"),
            "v1",
            "v2",
        )
    )
    return cast_leg.unionByName(str_leg).unionByName(date_leg)


# --------------------------------------------------------------------------
# QC aggregates (SURVEY.md §2.9)


@query(
    "a_expectations_flagged",
    """
    SELECT event_id,
           props IS NOT NULL AS props_not_null,
           coalesce(value >= 0.0 AND value <= 250.0, FALSE)
             AS value_in_range,
           coalesce(event_type IN ('click', 'view', 'error', 'purchase'),
                    FALSE) AS event_type_in_set,
           coalesce(regexp_matches(event_type, '^[a-z_]+$'), FALSE)
             AS event_type_matches,
           (count(*) OVER (PARTITION BY user_id)) = 1 AS user_id_unique,
           CAST(CAST(NOT (props IS NOT NULL) AS INTEGER)
              + CAST(NOT coalesce(value >= 0.0 AND value <= 250.0, FALSE)
                     AS INTEGER)
              + CAST(NOT coalesce(event_type IN ('click', 'view', 'error',
                                                 'purchase'), FALSE)
                     AS INTEGER)
              + CAST(NOT coalesce(regexp_matches(event_type, '^[a-z_]+$'),
                                  FALSE) AS INTEGER)
              + CAST(NOT ((count(*) OVER (PARTITION BY user_id)) = 1)
                     AS INTEGER) AS INTEGER) AS n_violations
    FROM events
    """,
    doc="Declarative expectations engine, driver-visible (round 12 — the "
    "one quality component without a registry row): quality.validate "
    "evaluates five rule kinds over events in ONE codegen pass — "
    "not-null, range (null-fails), set membership, anchored regex, and "
    "uniqueness (the only rule needing group context: one keyed window "
    "on the checked column, the shuffle a 100 TB run would pay only on "
    "key columns) — returning the input flagged with per-rule booleans "
    "and a violation total for clean/dirty routing. Every boolean is "
    "NON-NULL by construction (coalesce-to-FALSE inside the rules — the "
    "r9 nullable-boolean hash lesson); the oracle re-evaluates the "
    "identical predicates in SQL. The in-range band [0, 250] and the "
    "set omitting 'signup' are chosen so every rule has real violations "
    "on the fixture (value tops out at 490; signup rows exist).",
)
def a_expectations_flagged(spark, sf):
    from ..operators.quality import (
        expect_in_range,
        expect_in_set,
        expect_matches,
        expect_not_null,
        expect_unique,
        validate,
    )

    flagged, _report = validate(
        load_table(spark, sf, "events"),
        [
            expect_not_null("props"),
            expect_in_range("value", 0.0, 250.0),
            expect_in_set(
                "event_type", ["click", "view", "error", "purchase"]
            ),
            expect_matches("event_type", "^[a-z_]+$"),
            expect_unique("user_id"),
        ],
    )
    return flagged.select(
        "event_id",
        "props_not_null",
        "value_in_range",
        "event_type_in_set",
        "event_type_matches",
        "user_id_unique",
        F.col("n_violations").cast("int").alias("n_violations"),
    )


@query(
    "a_profile",
    """
    SELECT 'lineitem' AS table_name, 'n_rows' AS stat,
           CAST(count(*) AS BIGINT) AS value FROM lineitem
    UNION ALL
    SELECT 'orders', 'n_rows', CAST(count(*) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'customer', 'n_rows', CAST(count(*) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'supplier', 'n_rows', CAST(count(*) AS BIGINT) FROM supplier
    UNION ALL
    SELECT 'part', 'n_rows', CAST(count(*) AS BIGINT) FROM part
    UNION ALL
    SELECT 'customer', 'distinct_mktsegment',
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'documents', 'text_nulls',
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'documents', 'lang_nulls',
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'documents', 'source_nulls',
           CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'documents', 'n_chars_nulls',
           CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM documents
    """,
    doc="A1+A2+A4 — the reference's QC probe surface as ONE long-format "
    "profile: per-column null counts in a single documents pass "
    "(standardizer.py:253-258; computed as one agg row then unpivoted — "
    "one scan, not one per stat), stage-boundary row counts "
    "(main.py:76,83,93), and the unique-value scan as a distinct count "
    "(standardizer.py:304-312; the raw distinct-values scan itself is "
    "d1_distinct_pairs). Each leg is a metadata-cheap partial aggregate "
    "shuffling scalars only.",
)
def a_profile(spark, sf):
    legs = []
    for name in ["lineitem", "orders", "customer", "supplier", "part"]:
        legs.append(
            load_table(spark, sf, name)
            .agg(F.count(F.lit(1)).alias("value"))
            .select(
                F.lit(name).alias("table_name"),
                F.lit("n_rows").alias("stat"),
                "value",
            )
        )
    legs.append(
        load_table(spark, sf, "customer")
        .agg(F.count_distinct("c_mktsegment").alias("value"))
        .select(
            F.lit("customer").alias("table_name"),
            F.lit("distinct_mktsegment").alias("stat"),
            "value",
        )
    )
    nulls_wide = null_counts(
        load_table(spark, sf, "documents"),
        ["text", "lang", "source", "n_chars"],
    )
    legs.append(
        nulls_wide.unpivot(
            [],
            [f"{c}_nulls" for c in ["text", "lang", "source", "n_chars"]],
            "stat",
            "value",
        ).select(F.lit("documents").alias("table_name"), "stat", "value")
    )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


@query(
    "a_keystats_suite",
    """
    SELECT event_type, min(ts) AS min_ts, max(ts) AS max_ts,
           CAST(count(*) AS BIGINT) AS n_rows,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
    doc="A3 + A5 fused into ONE per-key aggregate (round-12 registry "
    "headroom): the time-range probe (min/max exact under any execution "
    "order — the notebook data-range check) and EXACT grouped percentiles "
    "(linear interpolation; Spark's percentile() and DuckDB's "
    "quantile_cont() share the v_lo + frac·(v_hi − v_lo) definition, so "
    "the interpolated doubles match bit-for-bit including the 0.99 tail) "
    "over the same event_type grouping — one shuffle where two rows paid "
    "two. Scale note: exact percentile is a per-group sort, right for "
    "bounded group sizes like this 5-group profile; unbounded groups "
    "switch to the approx_percentile sketch path (sketch_event_profile), "
    "which is why both tiers exist.",
)
def a_keystats_suite(spark, sf):
    return (
        load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("percentile(value, 0.5D)").alias("p50"),
            F.expr("percentile(value, 0.9D)").alias("p90"),
            F.expr("percentile(value, 0.99D)").alias("p99"),
        )
    )


# --------------------------------------------------------------------------
# Sources (SURVEY.md §2.1) and the as-of FX generalization (§2.6)


@query(
    "fx_asof_rate_fill",
    """
    WITH observed AS (
      SELECT event_type, CAST(ts AS DATE) AS rate_date,
             {rate_sum} / CAST(count(*) AS BIGINT) AS rate
      FROM events GROUP BY 1, 2 HAVING count(*) % 2 = 0
    ), cal AS (
      SELECT DISTINCT CAST(ts AS DATE) AS rate_date FROM events
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), dense AS (
      SELECT t.event_type, c.rate_date, o.rate
      FROM types t CROSS JOIN cal c
      LEFT JOIN observed o
        ON o.event_type = t.event_type AND o.rate_date = c.rate_date
    ), filled AS (
      SELECT event_type, rate_date,
             last_value(rate IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY rate_date
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rate
      FROM dense)
    SELECT event_type, rate_date, rate FROM filled WHERE rate IS NOT NULL
    """.format(rate_sum=sql_exact_money_sum("value")),
    doc="J2 as-of generalization (README.md:381 'last available rate'): "
    "sparse per-(key, date) rates densified by carrying the last prior rate "
    "forward — last(ignoreNulls) over an unbounded-preceding window per "
    "key. Only the dimension-sized rates/calendar relations ever shuffle; "
    "the fact side would join the densified dim broadcast.",
)
def fx_asof_rate_fill(spark, sf):
    from ..operators.fx import as_of_fill

    events = load_table(spark, sf, "events")
    observed = (
        events.groupBy(
            F.col("event_type"), F.to_date("ts").alias("rate_date")
        )
        .agg(
            (exact_money_sum("value") / F.count(F.lit(1))).alias("rate"),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter(F.col("__n") % 2 == 0)
        .select(
            F.col("event_type").alias("base_currency"),
            F.lit("USD").alias("target_currency"),
            "rate_date",
            "rate",
        )
    )
    calendar = events.select(F.to_date("ts").alias("rate_date")).distinct()
    # keys with zero observed rates are absent from the grid here and
    # all-NULL→filtered in the oracle — same result either way
    filled = as_of_fill(observed, calendar)
    return filled.select(
        F.col("base_currency").alias("event_type"), "rate_date", "rate"
    )


# E1's source tickers: three of them (^HSI, ^AXJO, ^BSESN) lie outside the
# indices dimension, so the plan exercises NULL enrichment and NULL-rate
# propagation; its digest and e1_raw_bars.parquet are pinned to this list.
E1_TICKERS = "^GSPC,^IXIC,^DJI,^FTSE,^GDAXI,^FCHI,^N225,^HSI,^AXJO,^BSESN"


@query(
    "e1_pipeline_market_bars",
    None,  # consumes the Python DataSource — not reachable from DuckDB
    doc="E1 — the reference's whole ETL (main.py:9-141) as ONE lazy Spark "
    "plan over the market_bars DataSource: per-ticker-partitioned scan → "
    "rename → UTC → broadcast indices join → coerce casts → broadcast FX "
    "join with identity-rate/null-propagation → 5× _usd projections → "
    "last-write-wins key dedup. The only wide exchange is the upsert key "
    "shuffle; pipeline invariants (idempotency, FK, identity conversion, "
    "null propagation) are asserted in tests/test_domain_pipeline.py. "
    "S1 (the reference's yfinance batch scan, yf_collector.py:11-99) is "
    "this plan's source stage: a Spark 4 Python DataSource with one input "
    "partition per ticker — 1000 tickers fetch as 1000 parallel tasks with "
    "per-ticker retry isolation; HTTP stubbed with a seeded deterministic "
    "OHLCV walk (no network in this sandbox), while partition planning / "
    "options / schema / iterator protocol are real and asserted standalone "
    "in tests/test_market_source.py. Value-pinned: the full sf0.01 table must reproduce a sha256 fixture bit-for-bit (test_rows_only_queries_match_pinned_digest; reproducibility across disjoint parallelism verified before pinning).",
)
def e1_pipeline_market_bars(spark, sf):
    import datetime as dt

    from ..pipeline import load_batch, run_batch
    from ..sources.fixtures import fx_rates_df, indices_df
    from ..sources.market_source import read_market_bars

    bars = read_market_bars(spark, tickers=E1_TICKERS, bars=48, seed=42)
    raw_long = bars.select(
        F.col("timestamp_utc").alias("timestamp"),
        "ticker",
        F.col("open").alias("Open"),
        F.col("high").alias("High"),
        F.col("low").alias("Low"),
        F.col("close").alias("Close"),
        F.col("adjusted_close").alias("Adj Close"),
        F.col("volume").cast("double").alias("Volume"),
    )
    rates = fx_rates_df(
        spark, dates=[dt.date(2024, 1, 1), dt.date(2024, 1, 2)]
    )
    batch = run_batch(raw_long, indices_df(spark), fx_rates=rates).withColumn(
        "batch_ts", F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    return load_batch(None, batch, ["ticker", "timestamp_utc"], "batch_ts")


def _e1_fixture_path() -> str:
    import os

    return os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "tests",
        "fixtures",
        "e1_raw_bars.parquet",
    )


def _e1_transform_oracle() -> str:
    """DuckDB twin of the E1 transform over the materialized raw-bars
    fixture. The indices dimension and the sparse FX rates are inlined as
    VALUES from the same pure-python generators the Spark side uses
    (schemas.INDICES_SEED / fixtures.fx_rate_rows) — repr round-trip
    keeps every double bit-exact, so products match bit-for-bit."""
    import datetime as dt

    from ..schemas import INDICES_SEED
    from ..sources.fixtures import fx_rate_rows

    idx_values = ",\n      ".join(
        f"('{t}', '{n}', '{c}', '{e}', '{cur}')"
        for t, n, c, e, cur in INDICES_SEED
    )
    fx_values = ",\n      ".join(
        f"('{b}', DATE '{d.isoformat()}', {r!r})"
        for b, _tgt, d, r in fx_rate_rows(
            dates=[dt.date(2024, 1, 1), dt.date(2024, 1, 2)]
        )
    )
    return f"""
    WITH raw AS (
      SELECT * FROM read_parquet('{_e1_fixture_path()}')
    ), idx(ticker, name, country, exchange, original_currency) AS (
      VALUES {idx_values}
    ), fx(base_currency, rate_date, rate) AS (
      VALUES {fx_values}
    ), std AS (
      SELECT CAST(r."timestamp" AS TIMESTAMP) AS timestamp_utc, r.ticker,
             i.name, i.country, i.original_currency, i.exchange,
             CAST(r."Open" AS DOUBLE) AS "open",
             CAST(r."High" AS DOUBLE) AS "high",
             CAST(r."Low" AS DOUBLE) AS "low",
             CAST(r."Close" AS DOUBLE) AS "close",
             CAST(r."Adj Close" AS DOUBLE) AS adjusted_close,
             CAST(r."Volume" AS BIGINT) AS volume
      FROM raw r LEFT JOIN idx i ON r.ticker = i.ticker
    ), conv AS (
      SELECT s.*,
             CASE WHEN s.original_currency = 'USD' THEN 1.0
                  ELSE f.rate END AS exchange_rate
      FROM std s LEFT JOIN fx f
        ON s.original_currency = f.base_currency
       AND CAST(s.timestamp_utc AS DATE) = f.rate_date
    )
    SELECT epoch_us(timestamp_utc) AS ts_us, ticker, name, country,
           original_currency, exchange, "open", "high", "low", "close",
           adjusted_close, volume,
           "open" * exchange_rate AS open_usd,
           "high" * exchange_rate AS high_usd,
           "low" * exchange_rate AS low_usd,
           "close" * exchange_rate AS close_usd,
           adjusted_close * exchange_rate AS adjusted_close_usd
    FROM conv
    """


@query(
    "e1_fixture_transform",
    _e1_transform_oracle(),
    doc="E1's TRANSFORM graduated from digest to a full oracle (round-12 "
    "verdict item 4): the seeded DataSource's 480-row output is "
    "materialized once as tests/fixtures/e1_raw_bars.parquet "
    "(scripts/gen_e1_raw_fixture.py), and the standardize→enrich→FX→LWW "
    "chain (pipeline.run_batch + load_batch, standardizer.py:9-260 + "
    "currency_converter.py:32-181 + main.py:97-138) runs over that "
    "fixture as plain relational algebra the DuckDB oracle rebuilds "
    "value-for-value — rename P1, UTC P2, broadcast indices enrich J1 "
    "(3 of the 10 source tickers are absent from the dimension: NULL "
    "enrich + NULL-rate propagation both exercised), coercing casts P3, "
    "sparse FX join J2 with identity USD shortcut F1 and missing-rate → "
    "NULL _usd, and the LWW key dedup (structurally executed; its "
    "tie-breaking semantics are oracled separately by d3_upsert_lww — "
    "this fixture's keys are unique by construction). The digest row "
    "(e1_pipeline_market_bars) keeps covering the DataSource stage "
    "itself. Timestamps compare µs-exact (unix_micros ≡ epoch_us).",
)
def e1_fixture_transform(spark, sf):
    import datetime as dt

    from ..pipeline import load_batch, run_batch
    from ..sources.fixtures import fx_rates_df, indices_df

    raw_long = spark.read.parquet(_e1_fixture_path())
    rates = fx_rates_df(
        spark, dates=[dt.date(2024, 1, 1), dt.date(2024, 1, 2)]
    )
    batch = run_batch(raw_long, indices_df(spark), fx_rates=rates).withColumn(
        "batch_ts", F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    out = load_batch(None, batch, ["ticker", "timestamp_utc"], "batch_ts")
    return out.select(
        F.unix_micros("timestamp_utc").alias("ts_us"),
        "ticker",
        "name",
        "country",
        "original_currency",
        "exchange",
        "open",
        "high",
        "low",
        "close",
        "adjusted_close",
        "volume",
        "open_usd",
        "high_usd",
        "low_usd",
        "close_usd",
        "adjusted_close_usd",
    )




@query(
    "jdbc_store_verify",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="S7 made LIVE — the reference's write-then-verify cycle "
    "(postgres_writer.py:368-377) against a REAL JDBC database: the "
    "nation dimension is written through the JDBC sink adapter into an "
    "embedded Apache Derby database (Spark bundles Derby for the Hive "
    "metastore — same driver model as PostgreSQL, different URL) and "
    "read back through the JDBC source adapter; the oracle is the "
    "original table, so the driver hash-verifies that the store-and-"
    "retrieve cycle is lossless. Each invocation writes to a fresh "
    "temp database (Derby keeps booted databases open in-JVM, so "
    "re-using a path would append). The partitioned parallel read and "
    "append semantics are covered in tests/test_jdbc.py.",
)
def jdbc_store_verify(spark, sf):
    import tempfile

    from ..sources.jdbc import read_jdbc, write_jdbc

    nation = load_table(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    url = f"jdbc:derby:{tempfile.mkdtemp(prefix='gmie_jdbc_')}/db;create=true"
    write_jdbc(nation, url, "nation")
    return read_jdbc(spark, url, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "k5_scd2_history",
    """
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER w AS prev_p,
             lag(o_orderdate) OVER w AS prev_d
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), versions AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM ordered
      WHERE prev_d IS NULL OR o_orderpriority IS DISTINCT FROM prev_p
    )
    SELECT o_custkey, o_orderpriority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w2 AS valid_to,
           lead(o_orderdate) OVER w2 IS NULL AS is_current
    FROM versions
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Type-2 SCD history build (operators/scd2.py) — the type-2 "
    "counterpart of the reference's type-1 dimension upsert "
    "(postgres_writer.py:214-266): each customer's order-priority "
    "changelog collapses to versioned rows with [valid_from, valid_to) "
    "intervals and an is_current flag. Change compression (null-safe lag "
    "inequality) + lead intervals run as two window passes over ONE hash "
    "shuffle on the business key; replaying the feed is idempotent. "
    "(o_orderdate, o_orderkey) is the deterministic total order.",
)
def k5_scd2_history(spark, sf):
    from ..operators.scd2 import scd2_from_changelog

    orders = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    return scd2_from_changelog(
        orders,
        key_cols=["o_custkey"],
        order_cols=["o_orderdate", "o_orderkey"],
        attr_cols=["o_orderpriority"],
    ).select(
        "o_custkey",
        "o_orderpriority",
        "valid_from",
        "valid_to",
        "is_current",
    )
