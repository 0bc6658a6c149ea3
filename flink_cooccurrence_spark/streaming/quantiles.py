"""Streaming EXACT quantile tracking — the online form of the bucketed
exact-quantile escape (``operators/quantiles.py``).

`percentile_approx`-style sketches answer streaming quantiles with rank
error; this engine answers them EXACTLY by keeping the data, but
arranged so a quantile query never re-sorts the accumulated stream: an
LSM of (key, value) rows partitioned by a MONOTONE value-range bucket,
plus an additively-maintained (key, bucket) count table (bounded:
groups × num_buckets rows — the driver-state class of the MG tracker).
A query walks the count table's cumulative sums driver-side to find
which bucket holds each target rank, reads ONLY those buckets via
partition pruning (directory pruning on the LSM segments), sorts within
the touched (key, bucket) slivers, and interpolates the same type-7
expression as the batch operator. Work per query is O(touched buckets'
rows + counts table), not O(stream).

Value buckets come from the FIRST batch's observed [min, max]
(persisted); later values outside clamp to the edge buckets — the
bucket map stays monotone, so results remain EXACT under drift; only
the pruning efficiency of the edge buckets degrades. COMPACTION-TIME
RE-BUCKETING (round 10) repairs that: every batch folds the stream's
TRUE [min, max] into the persisted bounds row, and when the LSM
compaction fires with the true range wider than the bucketing range,
the compaction reducer recomputes ``_bucket`` under the true bounds and
the counts table is rebuilt from the rewritten rows — one extra
O(state) aggregation inside a pass that is already O(state), after
which edge-bucket pruning is as sharp as a fresh build (drift-gated in
``tests/test_streaming_quantiles.py``).

Driver-state guard: the counts table is ``groups × num_buckets`` rows —
bounded only in the low-cardinality-keys regime this engine exists for
(``event_type``-class keys). The first batch probes its group
cardinality and shrinks ``num_buckets`` to keep the table under
``max_counts_rows`` (the ``group_quantiles`` probe, floor 32), and
every batch fails LOUDLY if accumulated groups push the table past the
cap — a high-cardinality misuse raises at the call site instead of
OOMing the driver hours later.

Exactness gate: after replaying the events table, ``quantiles()``
equals the batch ``value_quantiles`` — same DuckDB oracle text
(losslessness-by-parity). Transactionality: the engines' shared
contract (per-batch commit/rollback, batch-id high-water mark,
kill-restart resume).
"""

from __future__ import annotations

import math
import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cooccurrence_spark.operators.quantiles import (
    DEFAULT_QS,
    ROUND_DIGITS,
    _qname,
)
from flink_cooccurrence_spark.schemas import local_frame
from flink_cooccurrence_spark.streaming.state import StateStore

ROWS_SCHEMA = "key string, value double"
COUNTS_SCHEMA = "key string, bucket long, cnt long"
#: (lo, hi) is the BUCKETING range; (true_lo, true_hi) the accumulated
#: observed range — compaction re-buckets when the latter outgrows the
#: former (module docstring)
BOUNDS_SCHEMA = "lo double, hi double, true_lo double, true_hi double"


class QuantileStream:
    """Online exact quantiles per key over a value micro-batch stream."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str | None = None,
        num_buckets: int = 256,
        max_counts_rows: int = 2_000_000,
    ) -> None:
        self.spark = spark
        self.num_buckets = num_buckets
        self.max_counts_rows = max_counts_rows
        self.workdir = workdir or tempfile.mkdtemp(prefix="quant_stream_")
        self.state = StateStore(spark, os.path.join(self.workdir, "state"))
        self._counts = pd.DataFrame(columns=["key", "bucket", "cnt"])
        self._bounds: tuple[float, float] | None = None
        self._true_bounds: tuple[float, float] | None = None
        if self.state.get_scalar("initialized", 0):
            # the persisted (possibly probe-shrunk) fan-out wins over the
            # constructor's — a restart must reuse the committed map
            self.num_buckets = int(
                self.state.get_scalar("num_buckets", num_buckets)
            )
            self._counts = self.state.get("counts", COUNTS_SCHEMA).toPandas()
            b = self.state.get("bounds", BOUNDS_SCHEMA).collect()[0]
            self._bounds = (b["lo"], b["hi"])
            self._true_bounds = (b["true_lo"], b["true_hi"])

    def _bucket_col(self, lo: float, hi: float):
        v = F.col("value")
        if hi <= lo:
            return F.lit(0)
        raw = F.floor(
            (v - F.lit(lo)) / F.lit(hi - lo) * F.lit(self.num_buckets)
        ).cast("int")
        return F.greatest(
            F.lit(0), F.least(F.lit(self.num_buckets - 1), raw)
        )

    def process_batch(
        self, batch: DataFrame, batch_id: int, key: str, col: str
    ) -> None:
        """Ingest one micro-batch of (key, value) rows; one transaction.
        NULL values are excluded (the batch operator's contract)."""
        if batch_id <= self.state.get_scalar("last_batch_id", -1):
            return
        rows = batch.select(
            F.col(key).cast("string").alias("key"),
            F.col(col).cast("double").alias("value"),
        ).filter(F.col("value").isNotNull())
        new_bounds: tuple[float, float] | None = None
        if self._bounds is None:
            b = rows.agg(
                F.min("value").alias("lo"),
                F.max("value").alias("hi"),
                F.approx_count_distinct("key").alias("ng"),
            ).collect()[0]
            # an all-NULL first batch keeps bounds unset (try again next)
            if b["lo"] is None:
                self.state.set_scalar("last_batch_id", int(batch_id))
                self.state.commit()
                return
            # the group_quantiles cardinality probe: shrink the bucket
            # fan-out so the driver counts table stays under the cap
            n_groups = max(int(b["ng"]), 1)
            if n_groups * self.num_buckets > self.max_counts_rows:
                self.num_buckets = max(
                    32, self.max_counts_rows // n_groups
                )
            new_bounds = (float(b["lo"]), float(b["hi"]))
        # self._bounds is assigned only AFTER commit succeeds (below):
        # mutating it here would survive a rollback, so a same-process
        # retry would skip the bounds branch and commit counts with NO
        # bounds table in state — a later restart then crashes in
        # __init__ (the DsirStream ordering: in-memory state follows the
        # durable commit, never precedes it).
        lo, hi = self._bounds if self._bounds is not None else new_bounds
        bucketed = rows.withColumn("_bucket", self._bucket_col(lo, hi))
        # ONE action: per-(key, bucket) counts + the batch's value
        # extremes (for the true-bounds fold) ride the same aggregation
        batch_counts = (
            bucketed.groupBy("key", F.col("_bucket").alias("bucket"))
            .agg(
                F.count("*").alias("cnt"),
                F.min("value").alias("_mn"),
                F.max("value").alias("_mx"),
            )
            .toPandas()
        )
        merged = (
            pd.concat([self._counts, batch_counts[["key", "bucket", "cnt"]]])
            .groupby(["key", "bucket"], as_index=False)["cnt"]
            .sum()
            .astype({"bucket": "int64", "cnt": "int64"})
        )
        if len(merged) > self.max_counts_rows:
            # fail LOUDLY before any state write: accumulated groups have
            # pushed the driver table past the cap — this engine is for
            # event_type-class keys; high-cardinality keys belong on the
            # batch group_quantiles
            raise ValueError(
                f"counts table would reach {len(merged)} rows "
                f"(> max_counts_rows={self.max_counts_rows}) — the group "
                "key's cardinality is outside this engine's bounded-"
                "driver-state regime"
            )
        base_tb = (
            self._true_bounds if self._true_bounds is not None else (lo, hi)
        )
        if len(batch_counts):
            new_true = (
                min(base_tb[0], float(batch_counts["_mn"].min())),
                max(base_tb[1], float(batch_counts["_mx"].max())),
            )
        else:
            new_true = base_tb
        bounds_dirty = (
            new_bounds is not None or new_true != self._true_bounds
        )
        try:
            self.state.append_parts(
                "qrows", bucketed, list(range(self.num_buckets))
            )
            if self.state.append_segment_count("qrows") > 8:
                if new_true[0] < lo or new_true[1] > hi:
                    # drift outran the bucketing range: re-bucket at
                    # compaction time — the reducer recomputes _bucket
                    # under the TRUE bounds (compaction is already the
                    # O(state) pass; the map rewrite rides it), then the
                    # counts table is rebuilt under the new map
                    nlo, nhi = new_true
                    self.state.compact_append(
                        "qrows",
                        ROWS_SCHEMA,
                        reducer=lambda df: df.select("key", "value").withColumn(
                            "_bucket", self._bucket_col(nlo, nhi)
                        ),
                    )
                    lo, hi = nlo, nhi
                    bounds_dirty = True
                    merged = (
                        self.state.get_append("qrows", ROWS_SCHEMA)
                        .withColumn("bucket", self._bucket_col(lo, hi))
                        .groupBy("key", "bucket")
                        .agg(F.count("*").alias("cnt"))
                        .toPandas()
                        .astype({"bucket": "int64", "cnt": "int64"})
                    )
                else:
                    self.state.compact_append("qrows", ROWS_SCHEMA)
            if bounds_dirty:
                self.state.put(
                    "bounds",
                    local_frame(self.spark, [(lo, hi, *new_true)], BOUNDS_SCHEMA),
                )
            self.state.put(
                "counts",
                self.spark.createDataFrame(merged, COUNTS_SCHEMA),
            )
            self.state.set_scalar("num_buckets", int(self.num_buckets))
            self.state.set_scalar("initialized", 1)
            self.state.set_scalar("last_batch_id", int(batch_id))
            self.state.commit()
        except BaseException:
            self.state.rollback()
            raise
        self._counts = merged
        self._bounds = (lo, hi)
        self._true_bounds = new_true

    def replay(
        self,
        df: DataFrame,
        key: str,
        col: str,
        rows_per_batch: int = 20000,
        order_col: str = "event_id",
    ) -> None:
        """Deterministic replay in ``order_col`` order; batch numbering
        continues from the high-water mark."""
        base = int(self.state.get_scalar("last_batch_id", -1)) + 1
        ids = [r[0] for r in df.select(order_col).orderBy(order_col).collect()]
        for b, lo in enumerate(range(0, len(ids), rows_per_batch)):
            chunk = ids[lo : lo + rows_per_batch]
            batch = df.filter(
                (F.col(order_col) >= chunk[0]) & (F.col(order_col) <= chunk[-1])
            )
            self.process_batch(batch, base + b, key=key, col=col)

    # ------------------------------------------------------------- queries

    def quantiles(
        self, qs: tuple[float, ...] = DEFAULT_QS, key_name: str = "event_type"
    ) -> DataFrame:
        """(key_name, p50, p90, ...): exact type-7 quantiles over
        everything ingested — equals the batch ``group_quantiles`` on
        the accumulated rows. Reads ONLY the buckets holding the target
        ranks (partition pruning over the LSM segments)."""
        counts = self._counts.sort_values(["key", "bucket"])
        # driver-side rank walk over the bounded counts table: for each
        # group and quantile, which bucket holds ranks ⌊h⌋+1 / ⌊h⌋+2,
        # and at which within-bucket offset
        targets = []  # (key, bucket, rn_in_bucket, qname, role, frac)
        for k, g in counts.groupby("key"):
            n = int(g["cnt"].sum())
            if n == 0:
                continue
            cum = g["cnt"].cumsum()
            starts = cum - g["cnt"]  # rows before each bucket
            for q in qs:
                h = (n - 1) * float(q)
                flo = math.floor(h)
                frac = h - flo
                for role, rank in (
                    ("lo", flo + 1),
                    ("hi", min(flo + 2, n)),
                ):
                    i = int((cum >= rank).idxmax())
                    targets.append(
                        (
                            k,
                            int(g.loc[i, "bucket"]),
                            int(rank - starts.loc[i]),
                            _qname(q),
                            role,
                            float(frac),
                        )
                    )
        if not targets:
            return local_frame(
                self.spark,
                [],
                f"{key_name} string, "
                + ", ".join(f"{_qname(q)} double" for q in qs),
            )
        tf = local_frame(
            self.spark,
            targets,
            "key string, bucket int, rn int, qname string, role string, frac double",
        )
        buckets = sorted({t[1] for t in targets})
        rows = self.state.get_append("qrows", ROWS_SCHEMA, buckets=buckets)
        # re-derive the bucket within the pruned scan (the partition
        # column was dropped by get_append; the map is deterministic)
        lo, hi = self._bounds
        rows = rows.withColumn("bucket", self._bucket_col(lo, hi))
        from pyspark.sql import Window

        w = Window.partitionBy("key", "bucket").orderBy("value")
        ranked = rows.withColumn("rn", F.row_number().over(w))
        hit = ranked.join(
            F.broadcast(tf), on=["key", "bucket", "rn"]
        )
        per_q = hit.groupBy("key", "qname").agg(
            F.max(F.when(F.col("role") == "lo", F.col("value"))).alias("v_lo"),
            F.max(F.when(F.col("role") == "hi", F.col("value"))).alias("v_hi"),
            F.max("frac").alias("frac"),
        )
        aggs = [
            F.round(
                F.max(
                    F.when(
                        F.col("qname") == _qname(q),
                        F.col("v_lo")
                        + F.col("frac") * (F.col("v_hi") - F.col("v_lo")),
                    )
                ),
                ROUND_DIGITS,
            ).alias(_qname(q))
            for q in qs
        ]
        return per_q.groupBy(F.col("key").alias(key_name)).agg(*aggs)
