"""Incremental/scheduled ingest as Structured Streaming (SURVEY.md §7 step 5).

The reference's production mode is an Airflow cron every 6 h re-fetching an
overlapping 2-day window and upserting (market_data_dag.py:15, README.md:166)
— a micro-batch incremental ingest. The Spark-native re-expression:

    readStream(source dir) → transforms → writeStream(
        trigger=availableNow, foreachBatch=upsert)

``Trigger.AvailableNow`` drains everything new since the last checkpoint and
exits — exactly one cron tick, but with exactly-once bookkeeping from the
checkpoint instead of the reference's "re-fetch a window and hope the upsert
dedups" (which the upsert still guarantees as defense in depth).

Watermarked windowed aggregation is included for late-data handling the
reference never had: with ``withWatermark``, state for windows older than
the watermark is dropped, bounding memory at any scale.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.upsert import upsert


def _prior_batch_dirs(
    spark: SparkSession, path: str, current_batch_id: int
) -> list[str]:
    """Committed ``batch=<id>`` subdirectories under ``path``, EXCLUDING the
    current batch — the stored-index read set for an incremental tick.

    Two deliberate properties (round-5 advice):

    - existence is decided by an explicit Hadoop FS listing, not by
      catching the read's exception: a transient FS error RAISES and fails
      the batch (foreachBatch retries it) instead of being silently
      treated as "first batch ever", which would bootstrap a fresh index
      and drop all cross-corpus pairs for the tick;
    - a foreachBatch retry that already wrote its own ``batch=<id>`` delta
      must not read that delta back as prior state — otherwise the batch's
      docs appear on both sides of the dedup join and pair rows duplicate.
      Excluding the current id makes the replay byte-identical.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    exclude = f"batch={current_batch_id}"
    dirs = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch=") and name != exclude:
            dirs.append(st.getPath().toString())
    return sorted(dirs)


def _read_prior_index(
    spark: SparkSession, path: str, current_batch_id: int, columns: list[str]
) -> DataFrame | None:
    """Stored index at ``path`` minus the current batch's own delta, or
    ``None`` when no PRIOR batch has committed (true first tick)."""
    dirs = _prior_batch_dirs(spark, path, current_batch_id)
    if not dirs:
        return None
    return (
        spark.read.option("basePath", path).parquet(*dirs).select(*columns)
    )


def available_now_upsert(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    target_read: Callable[[], DataFrame | None],
    target_write: Callable[[DataFrame], None],
    key_columns: list[str],
    order_column: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """One incremental tick: drain new files, transform, upsert into target.

    ``target_read``/``target_write`` abstract the table storage (parquet
    dir, Delta table, in-memory for tests). The foreachBatch body is the
    same window-dedup upsert as the batch path — one code path for both
    modes, the property the reference approximates with its cron+PK-upsert.
    """

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch = transform(batch)
        target_write(upsert(target_read(), batch, key_columns, order_column))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1000)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle_batch)
        .start()
    )


def stream_dedup_within_watermark(
    events: DataFrame,
    key_columns: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dedup with BOUNDED state: keep the first arrival per key,
    dropping re-deliveries that arrive within the watermark horizon.

    ``dropDuplicates`` on a stream keeps every key's state forever — an
    unbounded-memory trap at any real event rate.
    ``dropDuplicatesWithinWatermark`` evicts a key's state once the
    watermark passes it, so state is bounded by (event rate × watermark)
    regardless of how long the stream runs — the only viable shape for
    exactly-once ingestion dedup at 100 TB/day. Semantics: duplicates
    separated by more than the watermark may BOTH survive; that is the
    documented contract (at-least-once transport retries arrive within
    seconds, not hours), and the downstream keyed upsert
    (available_now_upsert) remains the idempotent backstop.

    Returns a plan valid under both batch and streaming execution; the
    streaming-specific eviction is exercised in tests via availableNow
    micro-batches over a file source.
    """
    ts = F.col(ts_col).cast("timestamp")
    df = events.withColumn("__ts", ts).withWatermark("__ts", watermark)
    if df.isStreaming:
        return df.dropDuplicatesWithinWatermark(key_columns)
    # batch twin: watermark state semantics don't apply — plain keyed dedup
    return df.dropDuplicates(key_columns)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    key_col: str | None = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the watermark
    are dropped and window state is garbage-collected (bounded memory).

    Works on both batch and streaming DataFrames (same plan), which is how
    tests validate the streaming semantics deterministically.
    """
    ts = F.col(ts_col).cast("timestamp")
    df = events.withColumn("__ts", ts).withWatermark("__ts", watermark)
    keys = [F.window("__ts", window_duration).alias("win")]
    if key_col:
        keys.append(F.col(key_col))
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *([F.col(key_col)] if key_col else []),
            "n_events",
        )
    )


def enrich_stream_with_dim(
    events: DataFrame,
    dim: DataFrame,
    join_key: str,
    dim_columns: list[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing dimension
    attributes to a stream (the streaming form of J1, the reference's
    metadata-enrichment join — SURVEY.md §2.6).

    Stream-static joins are stateless on the stream side: each micro-batch
    joins against the CURRENT dim snapshot (re-read per batch when the dim
    is a table source), so there is no watermark requirement and no state
    store growth. The dim side is broadcast — at 100 TB/day of events the
    dimension (tickers, currencies, index metadata) is still dim-sized.
    Same plan executes in batch mode, which is how the equivalence test
    validates it.
    """
    cols = (
        dim.select(join_key, *dim_columns) if dim_columns is not None else dim
    )
    return events.join(F.broadcast(cols), join_key, how)


def streaming_minhash_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    seed: int = 42,
    max_files_per_trigger: int = 1000,
) -> StreamingQuery:
    """Content-level streaming dedup: each micro-batch of documents is
    near-dup-checked against the PERSISTED MinHash index, then folded into
    it — the ingestion-time curation loop, run as a stream.

    Per batch (foreachBatch):

    - first batch ever (no index on disk): internal pairs via the batch
      LSH kernel, index = the batch's signatures;
    - later batches: ``incremental_minhash_pairs`` against the stored
      index — batch-sized signing + bucket join, the corpus text is never
      re-read (same cost shape as the batch incremental path, asserted
      equivalent in tests).

    Batch cost is independent of corpus size; the index grows by |batch|
    band rows per tick. Writes are idempotent under foreachBatch retries:
    pairs and index deltas land in ``batch=<id>`` subdirectories with
    mode=overwrite, so a replayed batch id rewrites its own delta instead
    of duplicating it. Readers just read the parent directory (partition
    discovery surfaces ``batch`` as a column; the dedup join ignores it).

    With ``Trigger.AvailableNow`` + the checkpoint, one call = one cron
    tick over whatever arrived since the last tick — the streaming twin of
    the reference's 6-hourly overlap-and-upsert ingest
    (market_data_dag.py:15, README.md:166).
    """
    from ..operators.dedup import (
        incremental_minhash_pairs,
        minhash_index,
        minhash_lsh_pairs,
    )

    kwargs = dict(
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
    )
    bands_dir = index_dir + "/bands"
    arrays_dir = index_dir + "/arrays"

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        stored_bands = _read_prior_index(
            spark, bands_dir, batch_id, [id_col, "band", "bucket"]
        )
        stored_arrays = _read_prior_index(
            spark, arrays_dir, batch_id, [id_col, "__sh"]
        )
        if stored_bands is not None and stored_arrays is not None:
            pairs, new_bands, new_arrays = incremental_minhash_pairs(
                batch, stored_bands, stored_arrays, threshold=threshold,
                **kwargs,
            )
        else:
            pairs = minhash_lsh_pairs(batch, threshold=threshold, **kwargs)
            new_bands, new_arrays = minhash_index(batch, **kwargs)
        pairs.write.mode("overwrite").parquet(
            f"{pairs_dir}/batch={batch_id}"
        )
        new_bands.write.mode("overwrite").parquet(
            f"{bands_dir}/batch={batch_id}"
        )
        new_arrays.write.mode("overwrite").parquet(
            f"{arrays_dir}/batch={batch_id}"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle_batch)
        .start()
    )


def streaming_decontaminate(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    eval_df: DataFrame,
    clean_dir: str,
    quarantine_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 1,
) -> StreamingQuery:
    """Decontamination at ingestion time: every availableNow micro-batch
    is split against the (static) eval-set gram probe — clean rows land
    in ``clean_dir``, contaminated rows with their hit counts in
    ``quarantine_dir`` for audit, both under idempotent ``batch=<id>``
    overwrite subdirectories (same retry discipline as
    :func:`streaming_minhash_dedup`).

    The eval set is static and benchmark-sized, so each batch's check is
    the batch-path broadcast probe (``operators.decontaminate``) applied
    to |batch| rows — no growing state, no corpus rescans, and stream
    output ≡ running the batch operator over the same rows (asserted in
    tests). This is the shape that keeps a 100 TB/day ingest clean
    WITHOUT ever re-decontaminating the at-rest corpus.
    """
    from ..operators.decontaminate import contamination_hits

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        hits = contamination_hits(
            batch, eval_df, id_col, text_col, n, min_hits
        )
        contaminated = batch.join(hits, id_col)
        clean = batch.join(hits.select(id_col), id_col, "left_anti")
        clean.write.mode("overwrite").parquet(f"{clean_dir}/batch={batch_id}")
        contaminated.write.mode("overwrite").parquet(
            f"{quarantine_dir}/batch={batch_id}"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1000)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle_batch)
        .start()
    )


def streaming_embedding_neardup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    index_dir: str,
    pairs_dir: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    tables: int = 32,
    seed: int = 42,
    max_files_per_trigger: int = 1000,
) -> StreamingQuery:
    """Embedding near-dup detection as an ingestion stream — the third leg
    of the streaming curation trio (MinHash text dedup, decontamination,
    embedding dedup), same availableNow/foreachBatch protocol.

    Per batch: new vectors are signed once (Arrow-batched matmul),
    bucket-joined against the PERSISTED signature index (new×indexed and
    new×new candidates in one join), exact-cosine verified against only
    the colliding vectors, and the signature + vector deltas are folded
    into the index under idempotent ``batch=<id>`` overwrite
    subdirectories. The LSH layout (bits/tables/seed) is pinned for the
    index's lifetime — an index's signatures must outlive the corpus size
    that sized them, so the auto-sizing path is deliberately NOT used
    here.
    """
    from ..operators.similarity import (
        embedding_lsh_index,
        embedding_neardup_pairs_lsh,
        incremental_embedding_neardup_pairs,
    )

    sigs_dir = index_dir + "/sigs"
    vecs_dir = index_dir + "/vecs"

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        stored_sigs = _read_prior_index(
            spark, sigs_dir, batch_id, [id_col, "__tbl", "__sig"]
        )
        stored_vecs = _read_prior_index(
            spark, vecs_dir, batch_id, [id_col, vec_col]
        )
        if stored_sigs is not None and stored_vecs is not None:
            pairs, new_sigs = incremental_embedding_neardup_pairs(
                batch,
                stored_sigs,
                stored_vecs,
                threshold=threshold,
                id_col=id_col,
                vec_col=vec_col,
                dim=dim,
                bits=bits,
                tables=tables,
                seed=seed,
            )
        else:
            pairs = embedding_neardup_pairs_lsh(
                batch,
                threshold=threshold,
                id_col=id_col,
                vec_col=vec_col,
                dim=dim,
                bits=bits,
                tables=tables,
                seed=seed,
            )
            new_sigs = embedding_lsh_index(
                batch, id_col, vec_col, dim, bits, tables, seed
            )
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch={batch_id}")
        new_sigs.write.mode("overwrite").parquet(f"{sigs_dir}/batch={batch_id}")
        batch.select(id_col, vec_col).write.mode("overwrite").parquet(
            f"{vecs_dir}/batch={batch_id}"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle_batch)
        .start()
    )


def streaming_phash_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    index_dir: str,
    pairs_dir: str,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 7,
    blocks: int = 8,
) -> StreamingQuery:
    """IMAGE near-dup streaming dedup — the pHash twin of
    :func:`streaming_minhash_dedup`, completing the incremental-index
    streaming family across modalities.

    Per ``foreachBatch`` tick: decode + DCT-hash only the BATCH's
    payloads, pair them against the persisted ``(id, phash)`` signature
    index via the two-sided pigeonhole kernel
    (``operators/phash.incremental_phash_pairs``), and append the
    batch's signatures as this tick's ``batch=<id>`` delta. Stored
    payload bytes are never re-read — the index holds 8-byte hashes, so
    at 100 TB of images the per-tick state read is megabytes.

    Same idempotence discipline as the MinHash maintainer: the current
    batch's own delta is excluded from the prior-index read (replay
    byte-identical), deltas land under ``batch=<id>`` with
    mode=overwrite, and a transient listing failure RAISES instead of
    bootstrapping a fresh index.
    """
    from ..operators.dedup import hamming_block_pairs
    from ..operators.phash import image_phash, incremental_phash_pairs
    from ..operators.util import materialize

    sigs_dir = index_dir + "/sigs"

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        stored = _read_prior_index(
            spark, sigs_dir, batch_id, [id_col, "phash"]
        )
        if stored is not None:
            pairs, new_sigs = incremental_phash_pairs(
                batch,
                stored,
                payload_col=payload_col,
                id_col=id_col,
                max_hamming=max_hamming,
                blocks=blocks,
            )
        else:
            # bootstrap tick: hash ONCE and share the materialized
            # signatures between the self-join and the index delta —
            # calling phash_near_pairs + image_phash separately would run
            # the decode+DCT pass twice over the same payloads, doubling
            # the most expensive stage of the first tick (round-9 review
            # fix; the incremental branch already shares via
            # incremental_phash_pairs' returned new_sigs)
            new_sigs = materialize(
                image_phash(batch, payload_col=payload_col, id_col=id_col)
            )
            pairs = hamming_block_pairs(
                new_sigs,
                id_col=id_col,
                sig_col="phash",
                max_hamming=max_hamming,
                blocks=blocks,
            )
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch={batch_id}")
        new_sigs.write.mode("overwrite").parquet(
            f"{sigs_dir}/batch={batch_id}"
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1000)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle_batch)
        .start()
    )
