"""``curation_batch``: the registry's ``curation_pipeline`` on a seeded corpus.

One op = one cold pass (quality → exact dedup → MinHash-LSH → connected
components → train/val/test split) that starts from empty engine caches.
The corpus has the shape of the engine's ``documents`` fixture (30-word
vocabulary, 10–100 words per document, five languages, 20 sources) with
planted duplicates: ``EXACT_DUP_SHARE`` of the documents repeat an earlier
one up to case and whitespace, and ``NEAR_DUP_SHARE`` repeat an earlier
long one with one word replaced (3-shingle Jaccard ≥ 0.9).
"""

from __future__ import annotations

import hashlib
import statistics
import sys
from dataclasses import dataclass
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from global_market_index_etl_spark.operators.dedup import (
    banded_candidate_pairs, connected_components_auto, minhash_index,
    minhash_lsh_pairs)
from global_market_index_etl_spark.operators.sampling import train_val_test_split
from global_market_index_etl_spark.operators.text import fingerprint_md5, quality_score
from global_market_index_etl_spark.operators.util import (
    clear_shared_cache, materialize_shared, parallelize_small)
from global_market_index_etl_spark.plans import REGISTRY
from global_market_index_etl_spark.sources import load_table

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10


@dataclass(frozen=True)
class CorpusSize:
    docs: int


FULL = CorpusSize(docs=500)
SMOKE = CorpusSize(docs=200)


def make_corpus(seed: int, n_docs: int) -> pa.Table:
    """Documents shaped like the engine's fixture; duplicates copy an
    original document, never another copy, so duplicate clusters are stars."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    originals: list[int] = []
    long_originals: list[int] = []  # ≥ 60 words: one changed word keeps Jaccard ≥ 0.9
    kinds = rng.choice(3, size=n_docs, p=[1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE,
                                           EXACT_DUP_SHARE, NEAR_DUP_SHARE])
    for i in range(n_docs):
        if kinds[i] == 1 and originals:
            src = texts[originals[int(rng.integers(len(originals)))]].split()
            texts.append("  ".join(w.upper() if k == 0 else w for k, w in enumerate(src)))
        elif kinds[i] == 2 and long_originals:
            src = texts[long_originals[int(rng.integers(len(long_originals)))]].split()
            pos = int(rng.integers(len(src) // 2, len(src)))
            src[pos] = VOCAB[(VOCAB.index(src[pos]) + 1) % len(VOCAB)]
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(len(VOCAB), size=n)))
            originals.append(i)
            if n >= 60:
                long_originals.append(i)
    langs = rng.choice([lang for lang, _ in LANGS], size=n_docs, p=[p for _, p in LANGS])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def mat(df):
    """``df`` persisted and computed, so the next layer reads it from memory."""
    df = df.persist()
    df.count()
    return df


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


class CurationBatch:
    name = "curation_batch"

    def __init__(self, spark, work: Path, seed: int, size):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.digests: list[str] = []  # one per pass, warm-up included
        self.layer: dict[str, list[float]] = {}

    def setup(self) -> None:
        self.dir = self.work / "corpus"
        self.dir.mkdir(parents=True, exist_ok=True)
        pq.write_table(make_corpus(self.seed, self.size.docs), self.dir / "documents.parquet")
        self.digests = []

    def before_op(self) -> None:
        """Empty the engine's caches so the pass starts cold; counts what
        the previous pass left cached."""
        released = clear_shared_cache()
        if self.digests:
            self.layer.setdefault("released", []).append(released)
        self.spark.catalog.clearCache()

    def warm_up(self) -> None:
        self.before_op()
        self.op()

    def op(self) -> int:
        out = REGISTRY["curation_pipeline"].spark(self.spark, str(self.dir))
        self.digests.append(digest(out.collect()))
        return self.size.docs

    def traced_op(self, tracer) -> int:
        """The registry pipeline's steps, each layer call timed on a
        materialized copy of its input (the quality survivors through the
        pipeline's own ``materialize_shared``); same output as ``op``."""
        i = len(self.digests)
        with tracer.span("curation.pass", i):
            docs = parallelize_small(load_table(self.spark, str(self.dir), "documents"))
            docs = mat(docs)
            with tracer.span("operators.text.quality_score", i):
                kept = materialize_shared(quality_score(docs)
                                          .filter(F.col("quality_score") >= 0.5)
                                          .select("doc_id", "text", "quality_score"))
            survivors = (kept.withColumn("fingerprint", fingerprint_md5("text"))
                         .groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
                         .select("doc_id"))
            base = mat(kept.join(survivors, "doc_id"))
            with tracer.span("operators.dedup.minhash_lsh_pairs", i):
                pairs = mat(minhash_lsh_pairs(base, n=3, threshold=0.8))
            with tracer.span("operators.dedup.connected_components", i):
                comp = mat(connected_components_auto(pairs.select("id_1", "id_2"), base, "doc_id"))
            near = comp.filter(F.col("doc_id") == F.col("canonical_id")).select("doc_id")
            out = mat(base.join(near, "doc_id"))
            with tracer.span("operators.sampling.train_val_test_split", i):
                rows = train_val_test_split(out, "doc_id").select(
                    "doc_id", F.round("quality_score", 6).alias("quality_score"), "split"
                ).collect()
        band_rows, _ = minhash_index(base, "doc_id", "text", 3, 32, 8, 42)
        candidates = banded_candidate_pairs(band_rows).count()
        self.layer.setdefault("verified_per_candidate", []).append(
            pairs.count() / max(1, candidates))
        self.digests.append(digest(rows))
        return self.size.docs

    def probe(self, tracer) -> None:
        self.before_op()
        self.traced_op(tracer)

    def layer_metrics(self, tracer, window, untraced_ops: int) -> dict:
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        span = lambda name: med(tracer.durations(name))  # noqa: E731
        per_pass: dict[int, list[dict]] = {}
        for s in tracer.spans:
            if s["workload"] == self.name:
                per_pass.setdefault(s["op_id"], []).append(s)
        total = lambda key: med([sum(s[key] for s in spans)  # noqa: E731
                                 for spans in per_pass.values()])
        return {
            "operators.text.quality_score_s": (span("operators.text.quality_score"), "s"),
            "operators.dedup.minhash_lsh_pairs_s": (span("operators.dedup.minhash_lsh_pairs"), "s"),
            "operators.dedup.connected_components_s": (span("operators.dedup.connected_components"), "s"),
            "operators.sampling.train_val_test_split_s": (span("operators.sampling.train_val_test_split"), "s"),
            "operators.dedup.lsh_verified_per_candidate": (med(self.layer["verified_per_candidate"]), "ratio"),
            "operators.util.shared_entries_released": (med(self.layer["released"]), "count"),
            "curation.tasks": (total("tasks"), "count"),
            "curation.executor_s": (total("executor_s"), "s"),
            "curation.shuffle_write_bytes": (total("shuffle_write_bytes"), "B"),
        }

    def check(self) -> int:
        """Every pass's output must have the digest of the registry's DuckDB
        oracle, run once; returns the number of passes that differ."""
        if not self.digests:
            return 0
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{self.dir / 'documents.parquet'}')")
            oracle = digest(con.execute(REGISTRY["curation_pipeline"].oracle).fetchall())
        finally:
            con.close()
        bad = [i for i, d in enumerate(self.digests) if d != oracle]
        for i in bad:
            print(f"{self.name} check failed: pass {i} differs from the DuckDB oracle",
                  file=sys.stderr)
        return len(bad)
