"""Streaming heavy-hitter tracker — the online form of the batch
Misra–Gries skew detector (``operators/frequency.py``).

A 100 TB ingest pipeline wants the hot keys CONTINUOUSLY (to feed the
salting/AQE-skew levers and per-domain caps as data arrives), not from a
scan after the fact. MG summaries are MERGEABLE (Agarwal et al., PODS
2012): merging two capacity-``m`` summaries and re-trimming keeps the
error bound ≤ N/(m+1) over the COMBINED stream — so the engine folds
each micro-batch's map-only candidate sweep into one persistent summary:

- per batch: ONE collect of the batch's per-partition MG summaries
  (≤ (capacity+1)·partitions rows — bounded, never data-sized), a
  driver-side merge + trim (capacity entries — KB of driver state, the
  same bounded-driver-state class as the k-means centroids), and a
  copy-on-write state write (O(capacity), trivially small);
- the summary is a guaranteed candidate SUPERSET of every key with
  lifetime share > 1/(capacity+1) under ANY batch slicing, with
  per-key undercount ≤ total_rows/(capacity+1) (both pinned by tests);
- ``verified_heavy_hitters(df)`` runs the batch operator's exact verify
  pass (count candidates only, integer threshold) — the output equals
  the plain GROUP BY + HAVING oracle exactly, so the streaming sketch is
  a physical strategy, not a semantics change (the ``decontaminate_bloom``
  losslessness-by-parity pattern).

Transactionality: same contract as the other engines — per-batch
commit/rollback on the shared ``StateStore``, batch-id high-water mark
(re-delivered batches skip), summary + row total survive kill-restart.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cooccurrence_spark.operators.frequency import (
    DEFAULT_MIN_SHARE_PERMILLE,
    ROUND_DIGITS,
    _mg_candidates,
    _mg_trim,
)
from flink_cooccurrence_spark.schemas import local_frame
from flink_cooccurrence_spark.streaming.state import StateStore

SUMMARY_SCHEMA = "key long, mg_count long"


class FrequencyStreamEngine:
    """Online Misra–Gries over a keyed micro-batch stream."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str | None = None,
        min_share_permille: int = DEFAULT_MIN_SHARE_PERMILLE,
    ) -> None:
        import math

        if min_share_permille <= 0:
            raise ValueError("min_share_permille must be positive")
        self.spark = spark
        self.min_share_permille = min_share_permille
        self.capacity = 2 * math.ceil(1000 / min_share_permille)
        self.workdir = workdir or tempfile.mkdtemp(prefix="freq_stream_")
        self.state = StateStore(spark, os.path.join(self.workdir, "state"))
        # the live summary (≤ capacity entries) — reloaded from the
        # committed state on construction, so kill-restart resumes
        self._summary = pd.Series(dtype="int64")
        if self.state.get_scalar("total_rows", -1) >= 0:
            rows = self.state.get("mg_summary", SUMMARY_SCHEMA).collect()
            self._summary = pd.Series(
                {r["key"]: r["mg_count"] for r in rows}, dtype="int64"
            )

    def process_batch(self, batch: DataFrame, batch_id: int, key: str = "item") -> None:
        """Fold one micro-batch; one transaction (commit / rollback +
        re-delivery skip via the batch-id high-water mark)."""
        if batch_id <= self.state.get_scalar("last_batch_id", -1):
            return
        # the ONE action: the map-only per-partition sweep's bounded output
        sweep = batch.select(F.col(key).alias("key")).mapInPandas(
            _mg_candidates("key", self.capacity),
            schema="key long, is_total boolean, n long",
        ).collect()
        n_rows = sum(r["n"] for r in sweep if r["is_total"])
        cand = pd.Series(
            {r["key"]: r["n"] for r in sweep if not r["is_total"]},
            dtype="int64",
        )
        merged = (
            cand
            if self._summary.empty
            else self._summary.add(cand, fill_value=0).astype("int64")
        )
        merged = _mg_trim(merged, self.capacity)
        try:
            self.state.put(
                "mg_summary",
                local_frame(
                    self.spark,
                    [
                        (None if pd.isna(k) else int(k), int(v))
                        for k, v in merged.items()
                    ],
                    SUMMARY_SCHEMA,
                ),
            )
            self.state.set_scalar(
                "total_rows",
                int(self.state.get_scalar("total_rows", 0)) + int(n_rows),
            )
            self.state.set_scalar("last_batch_id", int(batch_id))
            self.state.commit()
        except BaseException:
            self.state.rollback()
            raise
        self._summary = merged

    def replay(self, df: DataFrame, key: str = "item", rows_per_batch: int = 20000) -> None:
        """Deterministic replay in ``seq`` order (the engines' replay
        convention); batch numbering continues from the high-water mark."""
        base = int(self.state.get_scalar("last_batch_id", -1)) + 1
        seqs = [r[0] for r in df.select("seq").orderBy("seq").collect()]
        for b, lo in enumerate(range(0, len(seqs), rows_per_batch)):
            chunk = seqs[lo : lo + rows_per_batch]
            batch = df.filter(
                (F.col("seq") >= chunk[0]) & (F.col("seq") <= chunk[-1])
            )
            self.process_batch(batch, base + b, key=key)

    # ------------------------------------------------------------- accessors

    def total_rows(self) -> int:
        return int(self.state.get_scalar("total_rows", 0))

    def candidates(self) -> DataFrame:
        """(key, mg_count): the live summary — mg_count is a LOWER bound
        on the true count; every key with lifetime share >
        1/(capacity+1) is present."""
        return self.state.get("mg_summary", SUMMARY_SCHEMA)

    def verified_heavy_hitters(self, df: DataFrame, key: str = "item") -> DataFrame:
        """(key, count, share): EXACT heavy hitters of ``df`` — the batch
        operator's verify pass over the tracked candidate set only (one
        filtered scan + candidate-key shuffle). Because the summary is a
        guaranteed superset, the result equals the plain GROUP BY +
        HAVING oracle exactly."""
        cands = self.candidates().select(F.col("key").alias("_ck"))
        left = df.select(F.col(key).alias("key"))
        counted = (
            # null-safe semi join — NULL is a legal (countable) key value,
            # the batch operator's contract
            left.join(
                F.broadcast(cands),
                on=left["key"].eqNullSafe(cands["_ck"]),
                how="leftsemi",
            )
            .groupBy("key")
            .agg(F.count("*").alias("count"))
        )
        total = F.lit(self.total_rows())
        return (
            counted.filter(
                F.col("count") * F.lit(1000)
                >= F.lit(self.min_share_permille) * total
            )
            .select(
                F.col("key").alias(key),
                "count",
                F.round(F.col("count").cast("double") / total, ROUND_DIGITS).alias(
                    "share"
                ),
            )
        )
