"""Streaming covariance tracking — the online form of
``operators/pca.py:embedding_covariance`` (and thereby of the PCA fit:
the covariance IS the sufficient statistic a PCA refresh consumes).

Covariance micro-state is ADDITIVE: the outer-product cells, the
per-dimension mean sums, and the row count of a union are the cell-wise
sums of the parts' (each cell is a per-row rounded long — the rounding
happens BEFORE any cross-batch boundary). So the tracker keeps d² + d
longs + one count as its whole state (the Misra-Gries bounded-driver
class; d=64 → 4160 cells) and each micro-batch costs TWO bounded
collects (the batch's own cell tables).

``covariance()`` rebuilds state frames and runs the batch operator's
SHARED combine tail (``combine_covariance`` — the same code object), so
the accumulated result equals the batch ``embedding_covariance`` on the
accumulated stream under the UNCHANGED DuckDB oracle
(losslessness-by-parity, the tracker family's gate).

Transactionality: the engines' shared contract — per-batch
commit/rollback on the ``StateStore``, batch-id high-water mark
(re-delivered batches skip), state survives kill-restart.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from flink_cooccurrence_spark.operators.pca import (
    _emb_frame,
    _meansum_frame,
    _probe_dim,
    _sxy_frame,
    combine_covariance,
)
from flink_cooccurrence_spark.schemas import local_frame
from flink_cooccurrence_spark.streaming.state import StateStore

CELLS_SCHEMA = "i int, j int, s long"
SUMS_SCHEMA = "i int, s long"


class CovarianceStream:
    """Online embedding-covariance tracker (micro-batches of
    (vec_id, embedding) rows; a vec_id arrives in exactly ONE batch)."""

    def __init__(self, spark: SparkSession, workdir: str | None = None) -> None:
        self.spark = spark
        self.workdir = workdir or tempfile.mkdtemp(prefix="cov_stream_")
        self.state = StateStore(spark, os.path.join(self.workdir, "state"))
        self._cells = pd.DataFrame(columns=["i", "j", "s"])
        self._sums = pd.DataFrame(columns=["i", "s"])
        if self.state.get_scalar("initialized", 0):
            self._cells = self.state.get("cells", CELLS_SCHEMA).toPandas()
            self._sums = self.state.get("sums", SUMS_SCHEMA).toPandas()

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch's cell tables into the accumulated ones;
        one transaction, TWO bounded collects (≤ d² + d rows)."""
        if batch_id <= self.state.get_scalar("last_batch_id", -1):
            return
        emb = _emb_frame(batch)
        n = emb.count()
        if n:
            d = _probe_dim(batch)
            b_cells = _sxy_frame(emb, d).toPandas()
            b_sums = _meansum_frame(emb).toPandas()
        else:
            b_cells, b_sums = self._cells.iloc[:0], self._sums.iloc[:0]
        cells = (
            pd.concat([self._cells, b_cells])
            .groupby(["i", "j"], as_index=False)["s"]
            .sum()
            .astype({"i": "int64", "j": "int64", "s": "int64"})
        )
        sums = (
            pd.concat([self._sums, b_sums])
            .groupby("i", as_index=False)["s"]
            .sum()
            .astype({"i": "int64", "s": "int64"})
        )
        try:
            self.state.put(
                "cells", self.spark.createDataFrame(cells, CELLS_SCHEMA)
            )
            self.state.put(
                "sums", self.spark.createDataFrame(sums, SUMS_SCHEMA)
            )
            self.state.add_scalar("n_rows", int(n))
            self.state.set_scalar("initialized", 1)
            self.state.set_scalar("last_batch_id", int(batch_id))
            self.state.commit()
        except BaseException:
            self.state.rollback()
            raise
        self._cells, self._sums = cells, sums

    def replay(self, embeddings: DataFrame, rows_per_batch: int = 100) -> None:
        """Deterministic replay in vec_id order; batch numbering
        continues from the high-water mark."""
        from pyspark.sql import functions as F

        base = int(self.state.get_scalar("last_batch_id", -1)) + 1
        ids = [
            r[0]
            for r in embeddings.select("vec_id").orderBy("vec_id").collect()
        ]
        for b, lo in enumerate(range(0, len(ids), rows_per_batch)):
            chunk = ids[lo : lo + rows_per_batch]
            batch = embeddings.filter(
                (F.col("vec_id") >= chunk[0]) & (F.col("vec_id") <= chunk[-1])
            )
            self.process_batch(batch, base + b)

    # ------------------------------------------------------------- queries

    def covariance(self) -> DataFrame:
        """(i, j, cov): the batch operator's SHARED combine tail over the
        accumulated micro-state — equals ``embedding_covariance`` on the
        accumulated stream (the tracker's parity gate)."""
        n = int(self.state.get_scalar("n_rows", 0))
        n_frame = local_frame(self.spark, [(n,)], "n long")
        return combine_covariance(
            self.state.get("cells", CELLS_SCHEMA),
            self.state.get("sums", SUMS_SCHEMA),
            n_frame,
        )

    def fit(self, k=None, n_iter=None) -> dict:
        """The PCA refresh the tracker exists for: fit means +
        components + eigenvalues from the ACCUMULATED sufficient
        statistic — bit-identical to ``pca_fit`` over the accumulated
        stream (pytest-pinned), at zero additional corpus passes. The
        means reuse the engines' division/round through the hand-model
        (``_r6(s/(n·1e6))`` — the same IEEE ops)."""
        from flink_cooccurrence_spark.operators.pca import (
            _MICRO,
            PCA_ITERS,
            PCA_K,
            _cov_micro,
            _r6,
            power_iteration,
        )

        n = int(self.state.get_scalar("n_rows", 0))
        if not n:
            raise ValueError("cannot fit PCA on an empty stream")
        cov_rows = self.covariance().collect()
        d = max(int(r["i"]) for r in cov_rows) + 1
        sums = {
            int(r["i"]): int(r["s"])
            for r in self.state.get("sums", SUMS_SCHEMA).collect()
        }
        means = [_r6(sums[i] / (n * float(_MICRO))) for i in range(d)]
        comps, eigvals = power_iteration(
            _cov_micro(cov_rows),
            d,
            k if k is not None else PCA_K,
            n_iter if n_iter is not None else PCA_ITERS,
        )
        return {
            "dim": d,
            "means": means,
            "comps": comps,
            "eigvals": eigvals,
        }
