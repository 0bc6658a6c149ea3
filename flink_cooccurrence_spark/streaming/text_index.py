"""Streaming BM25 index maintenance — the online form of the persisted
inverted index (``plans/text_index.py``).

A continuously-ingesting corpus wants its retrieval index maintained AS
documents arrive, not rebuilt by a nightly scan. The posting rows of a
document are immutable once written (the LSH-posting argument of
``StateStore.append_parts`` verbatim), so the engine is an LSM over the
shared state machinery:

- per batch: tokenize ONLY the batch's documents, append their posting
  rows ``(doc_id, dl, token, tf)`` as one term-bucket-partitioned
  segment (write I/O is O(batch), never O(|index|)); fold the batch's
  document count and token total into two state scalars. One Spark
  write + one 1-row stats action per batch.
- queries prune to their terms' buckets across live segments (the same
  directory-pruned read as the batch artifact), compute per-term df
  over the PRUNED postings only (df is not stored: a term's df changes
  every time a new document contains it — denormalizing it would make
  posting rows mutable and force the quadratic MERGE-rewrite), and
  score with the shared literal-stats expression — bit-identical to
  ``bm25_topk`` over the accumulated corpus.
- segment counts are bounded by synchronous LSM compaction past
  ``compact_threshold`` (postings are immutable: compaction is a pure
  rewrite, no reducer).

Transactionality: the engines' shared contract — per-batch
commit/rollback on the ``StateStore``, batch-id high-water mark
(re-delivered batches skip), index + stats survive kill-restart.
Ingest contract: a document arrives in exactly ONE batch (append-only
corpus — the same contract as the streaming dedup engine's doc_id
uniqueness).

Gates (``tests/test_streaming_text_index.py``): query == the batch
``bm25_topk`` over the accumulated corpus after every batch, slicing
invariance, kill-restart resume, re-delivery idempotency, and
compaction churn leaving results bit-identical.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cooccurrence_spark.functions.hashing import hash32
from flink_cooccurrence_spark.operators.retrieval import BM25_B, BM25_K1
from flink_cooccurrence_spark.plans.text_index import (
    NUM_TERM_BUCKETS,
    _bucket_py,
    score_postings,
)
from flink_cooccurrence_spark.schemas import local_frame
from flink_cooccurrence_spark.streaming.state import StateStore

POSTING_SCHEMA = "doc_id long, dl long, token string, tf long"


class TextIndexStream:
    """Online inverted-index maintenance over a document micro-batch
    stream."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str | None = None,
        num_term_buckets: int = NUM_TERM_BUCKETS,
        compact_threshold: int = 8,
    ) -> None:
        self.spark = spark
        self.num_term_buckets = num_term_buckets
        self.compact_threshold = compact_threshold
        self.workdir = workdir or tempfile.mkdtemp(prefix="text_index_stream_")
        self.state = StateStore(spark, os.path.join(self.workdir, "state"))

    def process_batch(self, docs: DataFrame, batch_id: int) -> None:
        """Index one micro-batch of documents; one transaction."""
        if batch_id <= self.state.get_scalar("last_batch_id", -1):
            return
        toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
        tf = (
            docs.select(
                "doc_id",
                F.size(toks).alias("dl"),
                F.explode(toks).alias("token"),
            )
            .groupBy("doc_id", "dl", "token")
            .agg(F.count("*").alias("tf"))
            .withColumn(
                "_bucket",
                (hash32(F.col("token")) % F.lit(self.num_term_buckets)).cast(
                    "int"
                ),
            )
        )
        stats = docs.agg(
            F.count("*").alias("n"), F.sum(F.size(toks)).alias("t")
        ).collect()[0]
        try:
            self.state.append_parts(
                "postings", tf, list(range(self.num_term_buckets))
            )
            if (
                self.state.append_segment_count("postings")
                > self.compact_threshold
            ):
                self.state.compact_append("postings", POSTING_SCHEMA)
            self.state.add_scalar("n_docs", int(stats["n"]))
            self.state.add_scalar("total_dl", int(stats["t"] or 0))
            self.state.set_scalar("last_batch_id", int(batch_id))
            self.state.commit()
        except BaseException:
            self.state.rollback()
            raise

    def replay(self, docs: DataFrame, docs_per_batch: int = 100) -> None:
        """Deterministic replay in doc_id order (the dedup engine's
        replay convention); batch numbering continues from the
        high-water mark."""
        base = int(self.state.get_scalar("last_batch_id", -1)) + 1
        ids = [r[0] for r in docs.select("doc_id").orderBy("doc_id").collect()]
        for b, lo in enumerate(range(0, len(ids), docs_per_batch)):
            chunk = ids[lo : lo + docs_per_batch]
            batch = docs.filter(
                (F.col("doc_id") >= chunk[0]) & (F.col("doc_id") <= chunk[-1])
            )
            self.process_batch(batch, base + b)

    # ------------------------------------------------------------- queries

    def n_docs(self) -> int:
        return int(self.state.get_scalar("n_docs", 0))

    def query(
        self,
        terms: tuple[str, ...],
        k: int = 10,
        k1: float = BM25_K1,
        b: float = BM25_B,
    ) -> DataFrame:
        """(rank, doc_id, n_matched, bm25): BM25 top-k over everything
        indexed so far — bit-identical to ``bm25_topk`` on the
        accumulated corpus."""
        if not terms:
            return local_frame(
                self.spark, [], "rank long, doc_id long, n_matched int, bm25 double"
            )
        buckets = sorted(
            {_bucket_py(t, self.num_term_buckets) for t in terms}
        )
        hits = self.state.get_append(
            "postings", POSTING_SCHEMA, buckets=buckets
        ).filter(F.col("token").isin(list(terms)))
        # df over the pruned postings only: a term's full posting list
        # lives inside its bucket, so this equals the global df
        dfreq = hits.groupBy("token").agg(F.count("*").alias("df"))
        postings = hits.join(F.broadcast(dfreq), on="token")
        return score_postings(
            postings,
            self.n_docs(),
            int(self.state.get_scalar("total_dl", 0)),
            k=k,
            k1=k1,
            b=b,
        )
