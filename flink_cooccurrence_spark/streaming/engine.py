"""Micro-batch cooccurrence engine — the Structured Streaming realization.

The reference job is a *cyclic* Flink DAG with operator-local state
(SURVEY §3.2). Structured Streaming DAGs are acyclic, so the engine follows
the SURVEY §2 op 13/14 mapping: a ``foreachBatch`` loop over state tables.
Per micro-batch, in order:

1. **Late drop** (§1.4): rows with ``ts_ms`` below the running watermark
   (max event time of *prior* batches) are dropped and counted — micro-batch
   granularity of ``AscendingTimestampExtractor`` + the operators' late
   checks (``ItemInteractionCounterTwoInputStreamOperator.java:75-77``).
2. **Feedback** (op 14): rejection decrements produced by batch N−1 are
   applied to the item-count state before batch N's admission — the acyclic
   restructuring of ``FeedbackSource``'s in-JVM queue, matching its
   asynchronous delivery semantics.
3. **Item cut** (op 6): admission below fMax against lifetime counts
   (state + within-batch ``row_number``), count incremented only for
   admitted rows.
4. **User reservoir** (op 7): ``applyInPandas`` over users; history state
   rides in as tagged state rows unioned with the batch (one state row per
   user — no per-row duplication of the ≤ kMax array). Draws are
   counter-based (``operators/sampling.py:reservoir_draw``), so batch replay
   and streaming produce identical samples.
   The non-sampled path (``--skip-cuts``, op 8) instead uses the
   count-product form: per-user item counts as state, within-batch pairs +
   batch×state cross pairs — no Python loop, no positional join.
5. **Delta merge** (ops 10/11/13): ±deltas are summed into the materialized
   ``item_rows`` / ``row_sums`` tables — hash-bucketed copy-on-write
   partitions where a batch rewrites only the buckets its changed items
   hash into (``StateStore.put_parts``; the parquet realization of a
   partition-pruned Delta/Iceberg MERGE) — and the scalar total.

ALL six state tables are hash-bucketed this way (user-keyed:
``user_counts``, ``user_histories``; item-keyed: ``item_counts``,
``feedback``, ``item_rows``, ``row_sums``): an early 1-row action over the
cached batch collects its user/item bucket footprint (``_early_stats``), so
every state read is parquet-pruned to the batch's buckets, the reservoir
processor sees only co-bucketed users, and every write rewrites only
changed buckets — per-batch state I/O tracks the batch footprint, not the
lifetime state size.
6. **Rescore changed rows only** (op 13): the changed-item set joins its
   full cumulative rows against broadcast row sums + the scalar total, LLR
   (pure column expression), top-K per item (window rank), appended to the
   ``topk_updates`` output log.

Window-fire granularity: the reference rescores per *window*; the engine
rescores per *micro-batch*. Feeding one window per batch (``replay(...,
windows_per_batch=1)`` or a file source emitting one window per file)
recovers exactly the reference's emission cadence; the cumulative state is
identical either way.

Replay PIPELINING (round 7): in ``replay()`` mode, batches overlap across
iterations — each leaves its writes in flight and its commit owed, and
the successor settles them in two phases placed exactly before its first
read of each table group, with the post-stats plan construction running
as an async score tail (see ``_settle_phase1``/``_phase2_barrier``/
``_run_batch`` and SCALING.md). Per-batch transaction boundaries are
unchanged: delta-stage writes are held back and scalars staged past the
barrier, so every commit contains precisely its own batch. The
``attach()``/``process_batch`` path stays strictly synchronous — a
streaming checkpoint must never acknowledge a batch whose state commit
is still owed.
"""

from __future__ import annotations

import os
import tempfile
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cooccurrence_spark.config import CooccurrenceConfig
from flink_cooccurrence_spark.operators.cooccurrence import scored_rows, with_window
from flink_cooccurrence_spark.operators.sampling import reservoir_user_deltas
from flink_cooccurrence_spark.operators.topk import top_k_per_group
from flink_cooccurrence_spark.schemas import local_frame
from flink_cooccurrence_spark.streaming.state import StateStore

USER_COUNTS_SCHEMA = "user int, item int, n long"
USER_HIST_SCHEMA = "user int, history array<int>, total long"
ITEM_COUNTS_SCHEMA = "item int, cnt long"
FEEDBACK_SCHEMA = "item int, dec long"
ITEM_ROWS_SCHEMA = "item int, other_item int, cnt long"
ROW_SUMS_SCHEMA = "item int, row_sum long"
#: tagged union flowing out of the reservoir processor: delta rows
#: (kind ∈ cooc/row_sum/feedback) and per-user state rows (kind = state)
TAGGED_SCHEMA = (
    "kind string, user int, item int, other_item int, increment long, "
    "window_start long, history array<int>, total long"
)

#: default hash-bucket count for ALL partitioned state tables
#: (``StateStore.put_parts``): a batch merges and rewrites only the buckets
#: its changed keys hash into, so per-batch state I/O is O(changed keys'
#: buckets), not O(|state|). Sized like a Delta/Iceberg partition count:
#: high enough that a typical batch's key footprint misses most buckets,
#: low enough that each bucket is a healthy parquet file. Per-engine via
#: ``CooccurrenceConfig.state_buckets``; a restart keeps the value the
#: state was written with.
STATE_BUCKETS = 16


class CooccurrenceStreamEngine:
    """Stateful micro-batch engine; one instance per logical streaming job.

    ``workdir`` holds the state-table versions and the ``topk_updates``
    output log; it defaults to a fresh temp dir (a real deployment points it
    at durable storage next to the checkpoint location).
    """

    def __init__(
        self,
        spark: SparkSession,
        config: CooccurrenceConfig | None = None,
        workdir: str | None = None,
    ) -> None:
        self.spark = spark
        self.config = config or CooccurrenceConfig()
        self.workdir = workdir or tempfile.mkdtemp(prefix="cooc_stream_")
        self.state = StateStore(spark, os.path.join(self.workdir, "state"))
        self._topk_dir = os.path.join(self.workdir, "topk_updates")
        # bucketing is a property of the written state, not the session: a
        # restarted engine must hash keys the way the existing bucket dirs
        # were laid out — the persisted value wins over the config field
        self.state_buckets = getattr(self.config, "state_buckets", STATE_BUCKETS)
        persisted = self.state.get_scalar("state_buckets", 0)
        if persisted:
            self.state_buckets = persisted
        else:
            self.state.set_scalar("state_buckets", int(self.state_buckets))
            self.state.commit()
        # independent state/output writes of one batch overlap as concurrent
        # Spark jobs (the reference's operators all run concurrently in one
        # dataflow; foreachBatch would otherwise serialize them) — each put
        # touches only its own table's version pointer, and process_batch
        # joins every pending write before rescoring reads state back,
        # before commit, and before any rollback
        import concurrent.futures

        self._write_pool = concurrent.futures.ThreadPoolExecutor(max_workers=4)
        self._pending: list = []
        #: guards _pending: the score tail SUBMITS from a pool thread while
        #: a tagged drain on the driver thread rebuilds the list — without
        #: the lock an append landing between the drain's keep-scan and its
        #: reassignment would silently drop a live write future from
        #: tracking (a commit could then land before that write finished)
        import threading

        self._pending_lock = threading.Lock()
        self._cached: list = []
        #: pipelined-replay continuation: (batch_id, cached DataFrames,
        #: phase1_done) of a batch whose writes are still in flight and
        #: whose commit is owed. Phase 1 (right after the next batch's
        #: early action) awaits only the DELTA-STAGE tables — the ones the
        #: next batch's delta stage reads (user_counts, user_histories,
        #: item_counts, feedback); phase 2 (right after the next batch's
        #: combined stats action, or ``flush()``/``close()``) awaits the
        #: rest (item_rows, row_sums, top-K log) and commits. Each wait
        #: point thus lands where the awaited jobs have already had the
        #: successor's early/stats windows to run in.
        self._deferred: tuple[int, list, bool] | None = None
        #: delta-stage write closures of the CURRENT batch, held back until
        #: the phase-2 barrier so their completions (which advance version
        #: pointers) can never land inside the predecessor's commit
        self._queued: list = []
        #: scalar updates of the current batch staged until the phase-2
        #: barrier for the same reason (transaction hygiene: a batch's
        #: scalars belong in its OWN commit, not the predecessor's)
        self._staged_scalars: list = []
        #: flips False at the phase-2 barrier: later delta-stage submissions
        #: (e.g. the feedback swap rider) go straight to the pool
        self._pre_barrier: bool = True
        #: True while the current batch runs in pipelined (deferred) mode —
        #: routes the score tail onto the pool instead of inline
        self._defer_active: bool = False
        #: per-batch wall clock, appended by replay() (harness observability;
        #: bench reports max/mean so single-batch latency spikes are visible)
        self.replay_batch_seconds: list[float] = []
        #: stats riders: (1-row aggregate plan, callback) pairs cross-joined
        #: into the batch's final combined stats action — lets a stage whose
        #: changed-bucket set is only known post-shuffle (the feedback swap)
        #: piggyback on the one delta-stats round trip instead of issuing
        #: its own action
        self._stat_riders: list = []

    def _bucket(self, col: str):
        """State hash bucket of a key column (user or item)."""
        return F.pmod(F.hash(F.col(col)), F.lit(self.state_buckets)).cast("int")

    def _submit_direct(self, fn, tag: str = "out") -> None:
        """Hand a task straight to the pool under ``tag`` — used by code
        that already runs past the phase-2 barrier (the score tail, the
        feedback rider), where the hold-back below must not re-queue into
        the NEXT batch's state."""
        with self._pending_lock:
            self._pending.append((tag, self._write_pool.submit(fn)))

    def _submit_write(self, fn, delta_stage: bool = False) -> None:
        """Submit an async state/output write. ``delta_stage=True`` marks
        writes of tables the NEXT batch's delta stage reads — before the
        phase-2 barrier they are held back (queued) so their completions
        cannot advance pointers into the predecessor's pending commit."""
        if delta_stage and self._pre_barrier:
            self._queued.append(fn)
            return
        self._submit_direct(fn, "delta" if delta_stage else "out")

    def _drain_writes(self, tag: str | None = None) -> None:
        """Join in-flight writes (all, or just one tag's); re-raise the
        first failure (after all have settled, so a later rollback can't
        race a still-running put). Loops until the filtered set is empty:
        a drained task (the async score tail) may itself have submitted
        further writes while we waited."""
        first_err: BaseException | None = None
        while True:
            with self._pending_lock:
                if tag is None:
                    pending, self._pending = self._pending, []
                else:
                    pending = [p for p in self._pending if p[0] == tag]
                    self._pending = [p for p in self._pending if p[0] != tag]
            if not pending:
                break
            for _tag, f in pending:
                err = f.exception()
                if err is not None and first_err is None:
                    first_err = err
        if first_err is not None:
            raise first_err

    # ------------------------------------------------------------------ api

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch body: fold one micro-batch into the state tables.

        The whole batch is one state transaction: puts/scalars publish at
        ``commit()``; on any failure the in-memory pointers roll back to
        the last committed batch so a foreachBatch retry is idempotent.
        A batch id at or below the committed high-water mark is skipped
        outright — covers the crash window between the state commit and the
        streaming checkpoint commit, where Spark re-delivers the batch."""
        self._run_batch(batch, batch_id, defer=False)

    def flush(self) -> None:
        """Settle any deferred (pipelined-replay) batch: drain its in-flight
        writes, commit it, release its caches. No-op when nothing is owed."""
        self._settle()

    def _settle_phase1(self) -> None:
        """Await only the deferred predecessor's DELTA-STAGE writes — the
        tables this batch's delta stage is about to read. Its output-side
        writes (item_rows/row_sums/top-K) keep running; they are awaited at
        the phase-2 barrier after this batch's combined stats action, which
        is the next point anything reads them."""
        if self._deferred is None or self._deferred[2]:
            return
        batch_id, cached, _ = self._deferred
        try:
            self._drain_writes("delta")
        except BaseException:
            self._abort_deferred()
            raise
        self._deferred = (batch_id, cached, True)

    def _settle(self) -> None:
        """Complete the deferred predecessor batch of the pipelined replay.

        Its write jobs were left in flight so they could overlap the next
        batch's cache fill, early action, and combined stats action; the
        commit was owed with them. A drain/commit failure here rolls back
        to the last committed batch and removes the dead batch's top-K
        emissions — the same transaction contract as the synchronous path,
        one batch later."""
        if self._deferred is None:
            return
        batch_id, cached, _ = self._deferred
        self._deferred = None
        try:
            self._drain_writes()
            self.state.set_scalar("last_batch_id", int(batch_id))
            self.state.commit()
        except BaseException:
            self.state.rollback()
            import shutil

            shutil.rmtree(
                os.path.join(self._topk_dir, f"batch-{batch_id}"),
                ignore_errors=True,
            )
            raise
        finally:
            for df in cached:
                df.unpersist(blocking=False)

    def _abort_deferred(self) -> None:
        """Failure path for a deferred batch whose writes went bad: settle
        everything in flight, roll back to the last commit, drop its top-K
        emissions, release its caches."""
        if self._deferred is None:
            return
        batch_id, cached, _ = self._deferred
        self._deferred = None
        try:
            self._drain_writes()
        except BaseException:
            pass
        self.state.rollback()
        import shutil

        shutil.rmtree(
            os.path.join(self._topk_dir, f"batch-{batch_id}"), ignore_errors=True
        )
        for df in cached:
            df.unpersist(blocking=False)

    def _phase2_barrier(self) -> None:
        """The pipelined replay's commit point, placed right after the
        current batch's combined stats action (its one heavy driver-side
        action): fully settle + COMMIT the deferred predecessor, then flush
        this batch's staged scalars and held-back delta-stage writes. The
        ordering guarantees the predecessor's manifest contains exactly its
        own pointer advances and scalars — nothing of this batch has been
        submitted or applied before its commit."""
        self._settle()
        staged, self._staged_scalars = self._staged_scalars, []
        for op in staged:
            op()
        self._pre_barrier = False
        queued, self._queued = self._queued, []
        for fn in queued:
            self._submit_direct(fn, "delta")

    def _run_batch(self, batch: DataFrame, batch_id: int, defer: bool) -> None:
        if batch_id <= self.state.get_scalar("last_batch_id", -1) or (
            self._deferred is not None and batch_id <= self._deferred[0]
        ):
            return
        self._cached = []
        self._stat_riders = []
        self._queued = []
        self._staged_scalars = []
        # the hold-back only exists to protect a deferred predecessor's
        # pending commit; with nothing deferred (the synchronous path),
        # delta-stage writes submit immediately and keep their old overlap
        # with the delta stage itself
        self._pre_barrier = defer or self._deferred is not None
        self._defer_active = defer
        try:
            batch = self._ensure_seq(batch)
            # a true Structured Streaming micro-batch arrives materialized;
            # replay-mode batches are lazy source slices that every consumer
            # (late stats, delta joins, state merge) would re-scan and
            # re-parse — cache for the batch's lifetime to match streaming
            # semantics (first action fills it; unpersisted in finally)
            batch = batch.persist()
            self._cached.append(batch)
            batch, u_buckets, i_buckets, max_user_rows, early = self._early_stats(
                batch
            )
            # pipelined replay, phase 1: await only the predecessor's
            # DELTA-STAGE writes — the tables this batch's delta stage
            # reads next. Its output-side writes and its commit ride until
            # the phase-2 barrier after this batch's stats action
            # (``_phase2_barrier``), so every wait point lands where the
            # awaited jobs have already had a long window to run in. No
            # read ever sees missing data: each state read below happens
            # strictly after the phase that awaits its table's writes.
            self._settle_phase1()
            self._stage_early_stats(early)
            if self.config.skip_cuts:
                delta, rs_delta = self._nonsampled_deltas(batch, u_buckets)
            else:
                delta, rs_delta = self._sampled_deltas(
                    batch, u_buckets, i_buckets, max_user_rows
                )
            self._merge_and_score(delta, rs_delta, batch_id)
            if defer:
                # leave the writes in flight and the commit owed: the next
                # batch settles them in two phases (or replay's trailing
                # flush does). The caches stay alive until then — the
                # in-flight jobs read them.
                self._deferred = (batch_id, self._cached, False)
                self._cached = []
                return
            self._drain_writes()
            # commit INSIDE the transaction scope: a commit failure (e.g.
            # ENOSPC on the manifest) must roll the in-memory pointers and
            # the high-water mark back, or the retried batch would be
            # skipped as done with nothing durable on disk
            self.state.set_scalar("last_batch_id", int(batch_id))
            self.state.commit()
        except BaseException:
            # a deferred predecessor may still be owed its commit and its
            # writes may be perfectly fine — settle it first so THIS batch's
            # failure can't discard a good batch (best-effort: its own
            # failure path already cleaned up after itself)
            try:
                self._settle()
            except BaseException:
                pass
            # settle every in-flight write before rolling back — a put that
            # completed after rollback would resurrect a dead pointer
            try:
                self._drain_writes()
            except BaseException:
                pass
            self.state.rollback()
            # the top-K output dir for this batch may have landed before a
            # sibling write failed — remove it so an abandoned
            # (never-retried) batch can't leave emissions that disagree
            # with the rolled-back state
            import shutil

            shutil.rmtree(
                os.path.join(self._topk_dir, f"batch-{batch_id}"),
                ignore_errors=True,
            )
            raise
        finally:
            for df in self._cached:
                df.unpersist(blocking=False)
            self._cached = []
            # never-submitted writes and never-applied scalars of a failed
            # batch just drop (rollback semantics want exactly that)
            self._queued = []
            self._staged_scalars = []

    def close(self) -> None:
        """Settle any deferred batch, then release the write pool (idle
        engines otherwise pin their worker threads for process lifetime).
        Call once processing is done; the engine must not be reused
        afterwards."""
        try:
            self._settle()
        finally:
            self._write_pool.shutdown(wait=True)

    def attach(
        self,
        stream_df: DataFrame,
        available_now: bool = True,
        trigger_interval_ms: int | None = None,
    ):
        """Wire the engine into a streaming DataFrame via foreachBatch.

        ``available_now=True`` drains available input and stops (the
        PROCESS_ONCE analog); ``available_now=False`` runs continuously,
        with ``trigger_interval_ms`` as the micro-batch cadence (the
        reference's buffer-timeout latency knob) when given."""
        self._guard_batch_domain(expect_checkpoint=True)
        writer = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", os.path.join(self.workdir, "checkpoint"))
            .queryName("cooccurrence_engine")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval_ms is not None:
            writer = writer.trigger(
                processingTime=f"{trigger_interval_ms} milliseconds"
            )
        return writer.start()

    def _guard_batch_domain(self, expect_checkpoint: bool) -> None:
        """The re-delivery skip guard compares batch ids, which only means
        anything within ONE numbering domain: Spark's checkpointed epoch
        counter (``attach``) or the replay loop's own counter (``replay``).
        Mixing them on one workdir silently drops data — a fresh stream
        numbers from 0, so its first batches would sit at or below a
        replay's high-water mark and be skipped. Fail loudly instead."""
        has_ckpt = os.path.isdir(os.path.join(self.workdir, "checkpoint"))
        has_state = self.state.get_scalar("last_batch_id", -1) >= 0
        if expect_checkpoint and has_state and not has_ckpt:
            raise ValueError(
                "this workdir's state was written by replay(); attaching a "
                "stream would re-number batches from 0 below the replay "
                "high-water mark and silently skip them — use a fresh "
                "workdir for the stream"
            )
        if not expect_checkpoint and has_ckpt:
            raise ValueError(
                "this workdir belongs to a checkpointed streaming query; "
                "replay() would re-use its batch-id domain — use a fresh "
                "workdir for the replay"
            )

    def replay(self, interactions: DataFrame, windows_per_batch: int = 1) -> None:
        """Deterministic batch-mode replay: feed tumbling windows in event-time
        order, ``windows_per_batch`` at a time — the batch equivalent of the
        watermark-driven window fire (one window per batch ≡ the reference's
        cadence; SURVEY §3.3).

        Batch numbering continues from the workdir's high-water mark, so a
        second ``replay()`` on the same workdir processes its input as NEW
        data (state accumulates) instead of silently no-oping at or below
        the first replay's ``last_batch_id``. Corollary: replay is
        append-only — a crash-retry belongs on a fresh workdir (``attach``
        with its checkpoint owns exactly-once resume)."""
        import time

        self._guard_batch_domain(expect_checkpoint=False)
        base = int(self.state.get_scalar("last_batch_id", -1)) + 1
        # the replay source is scanned once and cached (the windows-listing
        # action fills it): window_start is computed from ts_ms, so the
        # per-batch filters can't push down to the scan — without the cache
        # every batch re-reads and re-parses the full source, O(batches ×
        # source) I/O that a real streaming source (materialized
        # micro-batches) never pays
        wdf = with_window(interactions, self.config.window_millis).persist()
        try:
            windows = [r[0] for r in wdf.select("window_start").distinct().orderBy("window_start").collect()]
            for i in range(0, len(windows), windows_per_batch):
                chunk = windows[i : i + windows_per_batch]
                batch = wdf.filter(
                    (F.col("window_start") >= chunk[0]) & (F.col("window_start") <= chunk[-1])
                ).drop("window_start")
                t0 = time.perf_counter()
                # PIPELINED: each batch leaves its writes in flight and its
                # commit owed; the next batch settles them right after its
                # own early action (which reads no state table), so the
                # drain barrier overlaps the successor's cache fill instead
                # of idling the driver thread at the end of every batch
                self._run_batch(batch, base + i // windows_per_batch, defer=True)
                # per-batch wall clock, harness-side observability only (no
                # engine behavior reads it): bench reports max/mean so a
                # latency SPIKE on one micro-batch — the failure mode totals
                # hide, e.g. a batch serializing behind an O(|state|)
                # rewrite — is visible round-over-round
                self.replay_batch_seconds.append(time.perf_counter() - t0)
            # the final batch's drain+commit lands here — charge it to the
            # last batch's wall clock so the per-batch stats stay honest
            t0 = time.perf_counter()
            self._settle()
            if self.replay_batch_seconds:
                self.replay_batch_seconds[-1] += time.perf_counter() - t0
        finally:
            wdf.unpersist(blocking=False)

    # state accessors -------------------------------------------------------

    def item_rows(self) -> DataFrame:
        """Materialized cooccurrence matrix C (long form) — the engine's view
        of the rescorer's ``itemRows`` (``ItemRowRescorerTwoInputStreamOperator.java:35``)."""
        return self.state.get_parts("item_rows", ITEM_ROWS_SCHEMA)

    def row_sums(self) -> DataFrame:
        return self.state.get_parts("row_sums", ROW_SUMS_SCHEMA)

    def user_histories(self) -> DataFrame:
        """Per-user reservoir state (user, history array, lifetime total)."""
        return self.state.get_parts("user_histories", USER_HIST_SCHEMA)

    def item_counts(self) -> DataFrame:
        """Lifetime admitted-interaction counts per item (op 6 state)."""
        return self.state.get_parts("item_counts", ITEM_COUNTS_SCHEMA)

    def total_observed(self) -> int:
        return self.state.get_scalar("observed_cooccurrences")

    def metrics(self) -> dict[str, int]:
        """The reference's accumulator surface (SURVEY §2 op 18)."""
        return {
            "late_elements": self.state.get_scalar("late_elements"),
            "observed_cooccurrences": self.state.get_scalar("observed_cooccurrences"),
            "rescored_items": self.state.get_scalar("rescored_items"),
            "batches": self.state.get_scalar("batches"),
            # engine-local observability (not a reference accumulator):
            # batches that took the below-capacity reservoir fast path
            "fast_path_batches": self.state.get_scalar("fast_path_batches"),
        }

    def topk_updates(self) -> DataFrame:
        """Per-batch top-K emission log (batch_id, item, rank, other_item, cnt, score)."""
        import glob

        # empty only when NO batch has emitted yet — a real read failure
        # (corrupt file, permissions) must surface, not read as 'no output'
        if not glob.glob(os.path.join(self._topk_dir, "batch-*")):
            return local_frame(
                self.spark,
                [],
                "batch_id long, item int, rank int, other_item int, cnt long, score double",
            )
        return self.spark.read.parquet(os.path.join(self._topk_dir, "batch-*"))

    def final_topk(self, round_digits: int | None = 3) -> DataFrame:
        """Top-K per item over the *final* state — converges to the batch
        pipeline's ``topk_similar_items`` output."""
        scored = scored_rows(
            self.item_rows(),
            self.row_sums(),
            int(self.total_observed()),
            round_digits,
        )
        return top_k_per_group(
            scored, ["item"], "score", self.config.top_k, tie_breakers=["other_item"]
        ).select("item", "rank", "other_item", "cnt", "score")

    # --------------------------------------------------------------- stages

    def _ensure_seq(self, batch: DataFrame) -> DataFrame:
        """Determinism spec (SURVEY §7): order-sensitive stages sort by
        (ts_ms, seq). Sources without a seq column (e.g. the CSV stream) get
        a distributed global rank — range-bucketed per-partition counts +
        prefix offsets (``operators/ordering.py``), never a single-task
        global sort, so seq assignment scales with the batch."""
        if "seq" in batch.columns:
            return batch
        from flink_cooccurrence_spark.operators.ordering import global_seq

        return global_seq(batch, ["ts_ms", "user", "item"])

    def _early_stats(self, batch: DataFrame):
        """Ascending watermark at micro-batch granularity (late iff ts_ms <
        max event time of prior batches; within a batch the watermark is
        frozen — the reference advances it per element, so the engine drops
        *no more* than the reference would) PLUS the batch's state-bucket
        footprint: the distinct hash buckets its on-time users and items
        fall in.

        This is the first of the batch's TWO auxiliary 1-row driver actions
        (the second is the delta stats in ``_merge_and_score``; round 1 had
        three). It runs on the cached batch — filling the cache the first
        consumer needs anyway — and what it buys is the whole point of the
        partitioned state layout: with the bucket footprint known up front,
        EVERY state read below (``user_counts``, ``item_counts``,
        ``user_histories``) is parquet-pruned to the batch's buckets, the
        reservoir processor sees only the users co-bucketed with the batch
        instead of the entire accumulated user population, and the state
        writes rewrite only those buckets. Per-batch state I/O and Python
        work then track the batch footprint, not the lifetime state size —
        without this action each of those four tables is an O(|state|)
        scan-and-rewrite per batch, which is exactly the flaw class that
        capped round-2 throughput.

        (``Dataset.observe`` would let these stats ride the main pass for
        free, but observations are fulfilled by a query-execution listener
        that never fires for the nested actions inside a ``foreachBatch``
        callback on this Spark line — ``Observation.get`` deadlocks the
        stream thread — so the engine keeps them as explicit tiny actions.)

        The sampled path additionally needs the batch's max per-user row
        count (the reservoir fast-path eligibility test, ``_sampled_deltas``),
        so its stats run as groupBy(user) → 1-row rollup — same single
        action, one extra small shuffle the reservoir pass repartitions on
        anyway. Everything riding the rollup is constant-width per row
        (counts, maxes, an item-bucket BIT MASK bit_or-folded; the user
        buckets a collect_set whose partials are bounded by the
        bucket-value domain) — never per-user arrays, which would buffer
        O(batch users) in the final 1-row task. The non-sampled path keeps
        the flat two-stage agg."""
        wm = self.state.get_scalar("watermark_ms", -(1 << 62))
        ontime = F.col("ts_ms") >= wm
        if self.config.skip_cuts:
            row = batch.agg(
                F.count(F.when(~ontime, 1)).alias("late"),
                F.max("ts_ms").alias("max_ts"),
                F.collect_set(F.when(ontime, self._bucket("user"))).alias("u_buckets"),
                F.collect_set(F.when(ontime, self._bucket("item"))).alias("i_buckets"),
            ).first()
            max_user_rows = None
            i_buckets = sorted(row["i_buckets"])
        else:
            # item buckets ride the rollup as a BIT MASK (bucket b → bit b,
            # bit_or-folded): constant-width per row at every aggregation
            # level — collecting per-user bucket ARRAYS here would buffer
            # O(batch users × arrays) in the final 1-row agg task. The
            # mask needs state_buckets ≤ 64; a wider deployment falls back
            # to a flat collect_set crossJoined into the same plan (its
            # partials are bounded by the bucket-value domain).
            use_mask = self.state_buckets <= 64
            i_mask = F.when(
                ontime,
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), "
                    f"pmod(hash(item), {int(self.state_buckets)}))"
                ),
            ).otherwise(F.lit(0).cast("long"))
            per_user = batch.groupBy("user").agg(
                F.count(F.when(~ontime, 1)).alias("late"),
                F.max("ts_ms").alias("max_ts"),
                F.count(F.when(ontime, 1)).alias("n_on"),
                F.bit_or(i_mask if use_mask else F.lit(0)).alias("ib_mask"),
            )
            rollup = per_user.agg(
                F.sum("late").alias("late"),
                F.max("max_ts").alias("max_ts"),
                F.collect_set(
                    F.when(F.col("n_on") > 0, self._bucket("user"))
                ).alias("u_buckets"),
                F.max("n_on").alias("max_user_rows"),
                F.bit_or("ib_mask").alias("i_mask"),
            )
            if not use_mask:
                rollup = rollup.crossJoin(
                    batch.agg(
                        F.collect_set(
                            F.when(ontime, self._bucket("item"))
                        ).alias("i_buckets")
                    )
                )
            row = rollup.first()
            max_user_rows = int(row["max_user_rows"] or 0)
            if use_mask:
                mask = int(row["i_mask"] or 0)
                i_buckets = [
                    b for b in range(self.state_buckets) if (mask >> b) & 1
                ]
            else:
                i_buckets = sorted(row["i_buckets"])
        return (
            batch.filter(ontime),
            sorted(row["u_buckets"]),
            i_buckets,
            max_user_rows,
            (int(row["late"] or 0), row["max_ts"]),
        )

    def _stage_early_stats(self, early: tuple[int, int | None]) -> None:
        """Scalar updates from the early action — STAGED until the phase-2
        barrier (which runs after the deferred predecessor's commit), so a
        pipelined batch's scalars never bleed into the predecessor's
        transaction. Nothing reads these scalars between here and the
        barrier: the watermark is next read by the NEXT batch's early
        stage, and the metric counters only by post-batch accessors."""

        def op() -> None:
            late, max_ts = early
            self.state.add_scalar("late_elements", late)
            self.state.add_scalar("batches", 1)
            if max_ts is not None:
                wm = self.state.get_scalar("watermark_ms", -(1 << 62))
                self.state.set_scalar("watermark_ms", max(wm, int(max_ts)))

        self._staged_scalars.append(op)

    def _count_product_delta(self, bc: DataFrame, prior: DataFrame) -> DataFrame:
        """Aggregated cooccurrence delta in count-product closed form, shared
        by the non-sampled path and the reservoir's below-capacity fast path.

        With per-user prior counts ``prior(user, item, n)`` and batch counts
        ``bc(user, item, m)``:

            ΔC = within-batch pairs (count product over bc, diagonal
                 m·(m−1) — every ordered pair of batch rows, both directions)
               + cross pairs bc×prior (every new interaction pairs against
                 all prior history, both directions)

        Both joins hash-partition on ``user`` — one shuffle each side, no
        positional explosion, no Python."""
        a, b = bc.alias("a"), bc.alias("b")
        within = (
            a.hint("shuffle_hash")
            .join(b, on="user")
            .select(
                F.col("a.item").alias("item"),
                F.col("b.item").alias("other_item"),
                # null-safe, matching the batch closed form's diagonal
                F.when(
                    F.col("a.item").eqNullSafe(F.col("b.item")),
                    F.col("a.m") * (F.col("a.m") - 1),
                )
                .otherwise(F.col("a.m") * F.col("b.m"))
                .alias("d"),
            )
        )
        n, s = bc.alias("n"), prior.alias("s")
        cross = (
            n.hint("shuffle_hash")
            .join(s, on="user")
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("n.item").alias("item"),
                            F.col("s.item").alias("other_item"),
                        ),
                        F.struct(
                            F.col("s.item").alias("item"),
                            F.col("n.item").alias("other_item"),
                        ),
                    )
                ).alias("p"),
                (F.col("n.m") * F.col("s.n")).alias("d"),
            )
            .select(F.col("p.item").alias("item"), F.col("p.other_item").alias("other_item"), "d")
        )
        return (
            within.unionByName(cross)
            .filter(F.col("d") != 0)
            .groupBy("item", "other_item")
            .agg(F.sum("d").alias("delta"))
        )

    def _nonsampled_deltas(
        self, batch: DataFrame, u_buckets: list[int]
    ) -> tuple[DataFrame, DataFrame | None]:
        """Op 8 incremental count-product form. With per-user lifetime item
        counts S(u,i,n) as state and batch counts B(u,i,m):

            ΔC = within-batch pairs (count product over B)
               + cross pairs B×S (every new interaction pairs against all
                 prior history, both directions)

        Both joins hash-partition on ``user`` — one shuffle each side, no
        positional explosion, no Python. Row sums fall out of ΔC.

        The ``user_counts`` state is partitioned on user: the cross join
        only needs the batch users' prior counts, so the read is pruned to
        the batch's user buckets, and the merge rewrites exactly those
        buckets (``put_parts``) — per-batch state I/O is O(batch users'
        buckets) on both sides."""
        bc = (
            batch.groupBy("user", "item")
            .agg(F.count("*").cast("long").alias("m"))
        )
        # two consumers (the cross join inside the delta, the user_counts
        # merge below) — persist so the bucket-pruned state parquet scans
        # once per batch, not once per consumer
        prior = self.state.get_parts(
            "user_counts", USER_COUNTS_SCHEMA, u_buckets
        ).persist()
        self._cached.append(prior)

        delta = (
            self._count_product_delta(bc, prior)
            # materialize once: the delta feeds the stats action, both state
            # merges, and the changed-set rescore — without this each
            # consumer re-runs the within+cross joins against the batch and
            # the full user-counts state. Lazy persist, not an eager
            # localCheckpoint: the combined stats action (the batch's one
            # auxiliary action, which runs before any concurrent consumer)
            # fills the cache as a side effect, so materialization costs no
            # extra job. (The sampled path keeps its eager localCheckpoint:
            # its first consumers are concurrent, and a lazy cache there
            # would duplicate the applyInPandas pass.)
            .persist()
        )
        self._cached.append(delta)

        new_counts = (
            prior.unionByName(bc.withColumnRenamed("m", "n"))
            .groupBy("user", "item")
            .agg(F.sum("n").alias("n"))
            .withColumn("_bucket", self._bucket("user"))
        )
        # nothing downstream of this batch reads user_counts (next batch
        # does, after the drain barrier; the plan above is bound to the
        # pre-put version dirs) — overlap the write with the stats action
        # and the item_rows/row_sums merges
        if u_buckets:
            self._submit_write(
                lambda: self.state.put_parts("user_counts", new_counts, u_buckets),
                delta_stage=True,
            )
        return delta, None

    def _max_hist_len(self) -> int:
        """Running max reservoir length over ALL users — histories never
        shrink (admit appends, replace keeps length, reject is a no-op), so
        ``max(prev, max over rewritten buckets)`` maintained as a stats rider
        is exact with no extra driver action. A workdir whose state predates
        the scalar (or a fresh one) initializes it with a one-time scan."""
        mh = self.state.get_scalar("max_hist_len", -1)
        if mh < 0:
            if self.state.nonempty_buckets("user_histories"):
                row = (
                    self.state.get_parts("user_histories", USER_HIST_SCHEMA)
                    .agg(F.max(F.size("history")).alias("mh"))
                    .first()
                )
                mh = int(row["mh"] or 0)
            else:
                mh = 0
            self.state.set_scalar("max_hist_len", mh)
        return mh

    def _track_max_hist(self, hist_df: DataFrame, prev: int) -> None:
        """Ride the new histories' max length on the batch's combined stats
        action (``_merge_and_score``) and fold it into the scalar."""
        plan = hist_df.agg(F.max(F.size("history")).alias("_mh"))

        def cb(stats_row) -> None:
            self.state.set_scalar(
                "max_hist_len", max(prev, int(stats_row["_mh"] or 0))
            )

        self._stat_riders.append((plan, cb))

    def _sampled_fast_deltas(
        self,
        flagged: DataFrame,
        hist_active: DataFrame,
        hist_passive: DataFrame,
        u_buckets: list[int],
        fb_prior_buckets: list[int],
        prev_max_hist: int,
    ) -> tuple[DataFrame, DataFrame | None]:
        """Below-capacity reservoir fast path — no Python, no applyInPandas.

        Eligibility (checked by the caller): ``max_hist_len`` + the batch's
        max per-user row count ≤ kMax, i.e. NO user can reach capacity
        within this batch. Then every sampled row is admitted
        unconditionally (``reservoir_step``'s admit branch only), and the
        batch's *aggregated* delta — the only thing the engine consumes
        (``_merge_and_score`` groups deltas by (item, other_item); row sums
        are the row-wise fold of the cell deltas by the conservation
        identity) — collapses to the same count-product closed form as the
        non-sampled path, with admitted batch counts × prior-HISTORY counts:

        - within: admitted rows pair against earlier admitted batch rows,
          both directions → count product with diagonal m·(m−1);
        - cross: admitted rows pair against the user's full prior history
          (a multiset → per-(user, item) counts via one ``explode``).

        State updates stay exact: new history = old ++ admitted items in
        (window_start, seq) order (a JVM ``array_sort``/``transform``, no
        Python); ``total`` advances by ALL on-time rows (un-sampled rows
        bump the draw denominator,
        ``UserInteractionCounterOneInputStreamOperator.java:158``); no
        evictions ⇒ this batch's feedback table is empty.

        At corpus scale this is the steady-state batch shape (a user's
        lifetime rarely crosses kMax mid-batch), so the per-batch cost is
        the non-sampled path's two hash joins instead of an Arrow
        round-trip through the per-user processor."""
        # staged past the phase-2 barrier (transaction hygiene): nothing
        # reads this counter within the batch
        self._staged_scalars.append(
            lambda: self.state.add_scalar("fast_path_batches", 1)
        )
        adm = flagged.filter("sampled")
        bc = adm.groupBy("user", "item").agg(F.count("*").cast("long").alias("m"))
        prior = (
            hist_active.select("user", F.explode("history").alias("item"))
            .groupBy("user", "item")
            .agg(F.count("*").cast("long").alias("n"))
        )
        # lazy persist, same rationale as _nonsampled_deltas: the combined
        # stats action fills it before the concurrent consumers read it
        delta = self._count_product_delta(bc, prior).persist()
        self._cached.append(delta)

        new_hist = (
            flagged.groupBy("user")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("sampled"),
                                F.struct("window_start", "seq", "item"),
                            )
                        )
                    ),
                    lambda s: s["item"],
                ).alias("new_items"),
            )
            .join(hist_active, on="user", how="left")
            .select(
                "user",
                F.concat(
                    F.coalesce(F.col("history"), F.expr("CAST(array() AS ARRAY<INT>)")),
                    F.col("new_items"),
                ).alias("history"),
                (F.coalesce(F.col("total"), F.lit(0)) + F.col("n_rows"))
                .cast("long")
                .alias("total"),
            )
        )
        hist_df = (
            new_hist.unionByName(hist_passive)
            .withColumn("_bucket", self._bucket("user"))
            .persist()
        )
        self._cached.append(hist_df)
        if u_buckets:
            self._submit_write(
                lambda: self.state.put_parts("user_histories", hist_df, u_buckets),
                delta_stage=True,
            )
        self._track_max_hist(hist_df, prev_max_hist)
        # no evictions below capacity ⇒ no feedback from this batch; the
        # previous batch's (already consumed into item_counts) swaps out.
        # Pointer-only clear — the former empty put_parts launched a full
        # repartition+write Spark job per fast-path batch to write nothing
        # (guide §2.4: the cheapest job is the one that never runs). Staged
        # like a delta-stage write: the pointer zeroing must land in THIS
        # batch's transaction, never inside the deferred predecessor's
        # pending commit, and the next batch's feedback read happens only
        # after its phase-1 settle of this batch.
        if fb_prior_buckets:
            self._staged_scalars.append(
                lambda: self.state.clear_parts("feedback", fb_prior_buckets)
            )
        return delta, None

    def _sampled_deltas(
        self,
        batch: DataFrame,
        u_buckets: list[int],
        i_buckets: list[int],
        max_user_rows: int | None,
    ) -> tuple[DataFrame, DataFrame | None]:
        """Ops 6+7+14: feedback-corrected item cut, then the stateful user
        reservoir over a tagged union of batch rows + per-user state rows.
        Batches provably unable to reach any user's capacity take
        ``_sampled_fast_deltas`` instead (bit-identical aggregate output).

        All three state tables here are partitioned (``put_parts``):

        - ``item_counts`` — the cut only needs the batch items' counts, so
          its read is pruned to the batch's item buckets; the merge lists
          those buckets plus the feedback table's current nonempty buckets
          (feedback decrements items evicted from reservoirs — items that
          need not appear in this batch).
        - ``user_histories`` — read pruned to the batch's user buckets,
          then split: histories of users PRESENT in the batch (semi-join)
          ride into the reservoir processor as state rows; histories of
          users merely co-bucketed with them (anti-join) bypass Python
          entirely and re-enter at the bucket rewrite, which needs the full
          post-merge bucket content. Reservoir Python work is therefore
          O(batch users) even when every bucket is touched — without the
          split, saturated buckets (the steady state at scale) would push
          the whole accumulated user population through per-group pandas
          overhead every batch.
        - ``feedback`` — swapped wholesale each batch (it is per-batch
          transient, not cumulative); its new buckets are only known after
          the reservoir shuffle, so they ride the final combined stats
          action as a stats rider, and its stale buckets come free from the
          state-store version pointers (``nonempty_buckets``).
        """
        cfg = self.config
        # 1. apply batch N−1 feedback to item counts (op 14). ONE pruned
        # state scan + ONE aggregation serves BOTH consumers (the cut's
        # prior-count join and the state merge below) — they previously
        # each re-read and re-aggregated the state parquet. The shared
        # frame reads the UNION of the bucket lists; the extra rows
        # (feedback-only buckets' items, absent from this batch) are
        # dropped by the cut's left join exactly as before, so admission
        # is unchanged. Lazy persist: the combined stats action fills it.
        fb = self.state.get_parts("feedback", FEEDBACK_SCHEMA)
        fb_prior_buckets = self.state.nonempty_buckets("feedback")
        ic_listed = sorted(set(i_buckets) | set(fb_prior_buckets))
        ic_all = (
            self.state.get_parts("item_counts", ITEM_COUNTS_SCHEMA, ic_listed)
            .unionByName(fb.selectExpr("item", "dec as cnt"))
            .groupBy("item")
            .agg(F.sum("cnt").alias("cnt"))
            .persist()
        )
        self._cached.append(ic_all)

        # 2. item cut: lifetime-count admission (op 6)
        w = with_window(batch, cfg.window_millis)
        rn = F.row_number().over(Window.partitionBy("item").orderBy("window_start", "seq"))
        # no forced broadcast: the item-count state is per-item and can be
        # arbitrarily wide at scale — AQE picks broadcast when it is small
        flagged = (
            w.join(ic_all.withColumnRenamed("cnt", "prior"), on="item", how="left")
            .fillna(0, subset=["prior"])
            .withColumn("sampled", (F.col("prior") + rn) <= cfg.item_cut)
            # ≥4 consumers below (admitted counts, batch users, reservoir
            # input, history maintenance) — persist so the row_number
            # shuffle + state join runs once per batch, not per consumer
            .persist()
        )
        self._cached.append(flagged)
        admitted = (
            flagged.filter("sampled")
            .groupBy("item")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        new_ic = (
            ic_all.unionByName(admitted)
            .groupBy("item")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .withColumn("_bucket", self._bucket("item"))
        )
        # only the next batch reads item_counts; as a delta-stage write it
        # is held to the phase-2 barrier in pipelined mode (submitted
        # immediately in sync mode, where it overlaps the reservoir pass)
        if ic_listed:
            self._submit_write(
                lambda: self.state.put_parts("item_counts", new_ic, ic_listed),
                delta_stage=True,
            )

        # 3. reservoir with history state (op 7): tagged union — one state
        # row per user, so the ≤ kMax array shuffles once, not per row.
        # Only BATCH users' histories enter the processor; co-bucketed
        # bystanders bypass Python and rejoin at the bucket rewrite below.
        # ONE pruned state scan + ONE join serves both halves of the split
        # (the semi/anti pair re-scanned the state parquet per side, and
        # the fast path's consumers re-scanned again): a left join against
        # the flagged batch-user set tags each state row in/out of the
        # batch, and the two halves are filters over the shared persisted
        # frame. Lazy persist — the combined stats action fills it.
        hist = self.state.get_parts("user_histories", USER_HIST_SCHEMA, u_buckets)
        batch_users = flagged.select("user").distinct()
        hist_tagged = hist.join(
            batch_users.withColumn("_in_batch", F.lit(True)),
            on="user",
            how="left",
        ).persist()
        self._cached.append(hist_tagged)
        hist_active = hist_tagged.filter(
            F.col("_in_batch").isNotNull()
        ).drop("_in_batch")
        hist_passive = hist_tagged.filter(
            F.col("_in_batch").isNull()
        ).drop("_in_batch")

        # below-capacity fast path: if no user can reach kMax within this
        # batch, the reservoir degenerates to unconditional admission and
        # the whole Arrow round-trip is skipped (see _sampled_fast_deltas)
        max_hist = self._max_hist_len()
        if max_user_rows is not None and max_hist + max_user_rows <= cfg.user_cut:
            return self._sampled_fast_deltas(
                flagged, hist_active, hist_passive,
                u_buckets, fb_prior_buckets, max_hist,
            )

        data_rows = flagged.select(
            F.lit("data").alias("kind"),
            "user",
            "item",
            "window_start",
            F.col("seq").cast("long").alias("seq"),
            "sampled",
            F.lit(None).cast("array<int>").alias("history"),
            F.lit(None).cast("long").alias("total"),
        )
        state_rows = hist_active.select(
            F.lit("state").alias("kind"),
            "user",
            F.lit(None).cast("int").alias("item"),
            F.lit(None).cast("long").alias("window_start"),
            F.lit(None).cast("long").alias("seq"),
            F.lit(None).cast("boolean").alias("sampled"),
            "history",
            "total",
        )
        tagged_in = data_rows.unionByName(state_rows)
        user_cut, seed = cfg.user_cut, cfg.seed

        def process_user(key: tuple, pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import numpy as np

            (user,) = key
            pdf = pd.concat(list(pdf_iter), ignore_index=True)
            is_state = pdf["kind"] == "state"
            history: list[int] = []
            total = 0
            if is_state.any():
                srow = pdf[is_state].iloc[0]
                history = [int(x) for x in srow["history"]]
                total = int(srow["total"])
            data = pdf[~is_state].sort_values(["window_start", "seq"], kind="mergesort")
            # vectorized reservoir core: the below-capacity admit prefix
            # (including un-sampled denominator bumps,
            # UserInteractionCounterOneInputStreamOperator.java:158) is one
            # numpy construction; only at-capacity draw rows loop in Python
            deltas, total = reservoir_user_deltas(
                data["item"].to_numpy(np.int64),
                data["window_start"].to_numpy(np.int64),
                data["sampled"].to_numpy(bool),
                history, total, user_cut, seed, int(user),
            )
            n = len(deltas)
            out_df = pd.DataFrame(
                {
                    "kind": deltas["kind"].to_numpy(object),
                    "user": pd.array(np.full(n, int(user)), dtype="Int64"),
                    "item": pd.array(deltas["item"], dtype="Int64"),
                    "other_item": deltas["other_item"].astype("Int64"),
                    "increment": pd.array(deltas["increment"], dtype="Int64"),
                    "window_start": pd.array(deltas["window_start"], dtype="Int64"),
                    "history": pd.Series([None] * n, dtype=object),
                    "total": pd.array([None] * n, dtype="Int64"),
                }
            )
            state_row = pd.DataFrame(
                {
                    "kind": pd.Series(["state"], dtype=object),
                    "user": pd.array([int(user)], dtype="Int64"),
                    "item": pd.array([None], dtype="Int64"),
                    "other_item": pd.array([None], dtype="Int64"),
                    "increment": pd.array([None], dtype="Int64"),
                    "window_start": pd.array([None], dtype="Int64"),
                    "history": pd.Series([history], dtype=object),
                    "total": pd.array([total], dtype="Int64"),
                }
            )
            yield pd.concat([out_df, state_row], ignore_index=True)

        tagged_out = tagged_in.groupBy("user").applyInPandas(process_user, TAGGED_SCHEMA)
        # materialize once: four consumers below must not re-run the processor
        # (eager localCheckpoint keeps it executor-local — the durable copies
        # are the state tables written from it, not this transient batch)
        tagged = tagged_out.localCheckpoint(eager=True)

        # both tables are read only by the next batch; the plans read the
        # localCheckpointed ``tagged`` batch, so the writes are cheap narrow
        # jobs that overlap with the delta merges downstream
        # post-merge content of the touched buckets = the processor's new
        # state rows ∪ the bystanders that never left the JVM
        hist_df = (
            tagged.filter(F.col("kind") == "state")
            .select("user", "history", "total")
            .unionByName(hist_passive)
            .withColumn("_bucket", self._bucket("user"))
        )
        if u_buckets:
            self._submit_write(
                lambda: self.state.put_parts("user_histories", hist_df, u_buckets),
                delta_stage=True,
            )
        self._track_max_hist(hist_df, max_hist)
        fb_df = (
            tagged.filter(F.col("kind") == "feedback")
            .groupBy("item")
            .agg(F.sum("increment").alias("dec"))
        )
        # the feedback swap's bucket list = stale buckets (from the version
        # pointers, no action) ∪ new buckets — the latter only exist after
        # the reservoir shuffle, so they ride the final stats action
        fb_stats = fb_df.agg(
            F.collect_set(self._bucket("item")).alias("fb_buckets")
        )

        def _write_feedback(stats_row) -> None:
            listed = sorted(set(fb_prior_buckets) | set(stats_row["fb_buckets"]))
            if listed:
                # rider callbacks run past the phase-2 barrier (inside the
                # score tail in pipelined mode), so this delta-stage write
                # goes STRAIGHT to the pool — _submit_write's hold-back
                # would re-queue it into the NEXT batch's state. Tagged
                # "delta": awaited by the next batch's phase 1, which
                # precedes its feedback read.
                self._submit_direct(
                    lambda: self.state.put_parts(
                        "feedback",
                        fb_df.withColumn("_bucket", self._bucket("item")),
                        listed,
                    ),
                    "delta",
                )

        self._stat_riders.append((fb_stats, _write_feedback))
        delta = (
            tagged.filter(F.col("kind") == "cooc")
            .groupBy("item", "other_item")
            .agg(F.sum("increment").alias("delta"))
            .filter(F.col("delta") != 0)
        )
        rs_delta = (
            tagged.filter(F.col("kind") == "row_sum")
            .groupBy("item")
            .agg(F.sum("increment").alias("d"))
            .filter(F.col("d") != 0)
        )
        return delta, rs_delta

    def _merge_and_score(
        self,
        delta: DataFrame,
        rs_delta: DataFrame | None,
        batch_id: int,
    ) -> None:
        """Ops 10/11/13: merge ±deltas into cumulative state, then rescore
        only the rows that changed in this batch.

        All post-shuffle per-batch statistics — total delta, changed-item
        count, the changed-bucket sets for the item-side MERGE, plus any
        stage-registered stats riders (the feedback swap's bucket set) —
        are one combined 1-row action; with ``_early_stats`` that makes two
        tiny driver round-trips per batch total (round 1 had three, paying
        an O(|state|) rewrite of four tables besides). In the sampled path
        the aggregates here read the localCheckpointed ``tagged`` batch, so
        the combined action is a narrow re-aggregation, not a pipeline
        re-run."""
        # rs_delta is None on the count-product paths (non-sampled + the
        # reservoir fast path): deltas are non-negative there, so the
        # conservation identity rowSum(i) = Σ_j C[i][j] lets the row-sum
        # MERGE derive from the cached post-merge matrix below — no
        # separate row_sums state read, no second bucket set, and the
        # stats action collapses to one aggregate over the delta cache
        derived_rs = rs_delta is None
        if derived_rs:
            stats_plan = delta.agg(
                F.sum("delta").alias("total_delta"),
                F.count_distinct("item").alias("n_changed"),
                F.collect_set(self._bucket("item")).alias("delta_buckets"),
            )
        else:
            stats_plan = rs_delta.agg(
                F.sum("d").alias("total_delta"),
                F.collect_set(self._bucket("item")).alias("rs_buckets"),
            ).crossJoin(
                delta.agg(
                    F.count_distinct("item").alias("n_changed"),
                    F.collect_set(self._bucket("item")).alias("delta_buckets"),
                )
            )
        for rider_plan, _cb in self._stat_riders:
            stats_plan = stats_plan.crossJoin(rider_plan)
        stats = stats_plan.first()  # <- the batch's second (and last)
        #    auxiliary action: delta stats + changed-bucket sets + riders
        # pipelined replay: the stats action above was the long window the
        # predecessor's output-side writes ran in — commit it now, then
        # release this batch's staged scalars and held-back delta writes
        self._phase2_barrier()

        # everything below is pure plan construction + async submissions —
        # no Spark action. In pipelined mode it runs as the SCORE TAIL on
        # the write pool (plan building is mostly py4j round trips that
        # release the GIL, so it interleaves with the next batch's early
        # stage on the driver thread); the synchronous path runs it inline.
        # Snapshots: the tail outlives this batch's engine fields — the
        # next batch resets ``_stat_riders``/``_cached``, so it captures
        # the list OBJECTS (``cached`` is the same object the deferred
        # record holds, so tail-persisted frames are released at settle).
        riders = self._stat_riders
        cached = self._cached

        def score_tail() -> None:
            for _plan, cb in riders:
                cb(stats)
            total = self.state.add_scalar(
                "observed_cooccurrences", int(stats["total_delta"] or 0)
            )
            n_changed = int(stats["n_changed"] or 0)
            self.state.add_scalar("rescored_items", n_changed)
            delta_buckets = sorted(stats["delta_buckets"])
            # count-product deltas touch exactly the same items on both tables
            rs_buckets = (
                delta_buckets if derived_rs else sorted(stats["rs_buckets"])
            )

            # partitioned MERGE (op 10/11 state): read + rewrite ONLY the
            # hash buckets containing changed items — untouched buckets keep
            # their existing version dirs, so per-batch state I/O tracks the
            # batch's changed-item footprint instead of the lifetime state
            # size.
            #
            # The post-merge PLANS (new_rows/new_sums) are persisted and
            # shared between the state writes and the rescore below: round 5
            # joined both merge futures here and re-read the freshly written
            # parquet for the rescore, which serialized the batch's critical
            # path as stats → merges → rescore — ~1.2s of pure wait per
            # batch at the bench SF. With plan reuse the rescore runs
            # CONCURRENTLY with the state writes (all join at the drain
            # barrier before commit) and reads the identical rows the writes
            # materialize. The pre-merge row_sums bucket pointers are
            # snapshotted before any write is submitted (nonempty_buckets
            # reads the in-memory pointer, which a racing put_parts would
            # advance).
            rs_prior_nonempty = self.state.nonempty_buckets("row_sums")

            new_rows = new_sums = None
            if delta_buckets:
                new_rows = (
                    self.state.get_parts(
                        "item_rows", ITEM_ROWS_SCHEMA, delta_buckets
                    )
                    .unionByName(
                        delta.selectExpr("item", "other_item", "delta as cnt")
                    )
                    # ONE exchange on item serves three consumers: the merge
                    # aggregation (hash-partitioning on a subset of the group
                    # keys satisfies its clustering), the derived row-sum
                    # fold, and the rescore's per-item rank window — which
                    # would otherwise re-shuffle the cached matrix on the
                    # batch's critical tail
                    .repartition("item")
                    .groupBy("item", "other_item")
                    .agg(F.sum("cnt").alias("cnt"))
                    .filter(F.col("cnt") != 0)
                    .withColumn("_bucket", self._bucket("item"))
                    .persist()
                )
                cached.append(new_rows)
                self._submit_direct(
                    lambda: self.state.put_parts(
                        "item_rows", new_rows, delta_buckets
                    )
                )

            if rs_buckets:
                if derived_rs:
                    # conservation identity over the CACHED post-merge
                    # matrix: the changed buckets' full post-merge row sums
                    # without touching the row_sums state parquet (deltas
                    # are non-negative on these paths, so a row with cells
                    # always has a positive sum and no zero-sum rows can be
                    # dropped)
                    new_sums = (
                        new_rows.groupBy("item")
                        .agg(F.sum("cnt").alias("row_sum"))
                        .withColumn("_bucket", self._bucket("item"))
                        .persist()
                    )
                else:
                    new_sums = (
                        self.state.get_parts(
                            "row_sums", ROW_SUMS_SCHEMA, rs_buckets
                        )
                        .unionByName(rs_delta.selectExpr("item", "d as row_sum"))
                        .groupBy("item")
                        .agg(F.sum("row_sum").alias("row_sum"))
                        .withColumn("_bucket", self._bucket("item"))
                        .persist()
                    )
                cached.append(new_sums)
                self._submit_direct(
                    lambda: self.state.put_parts("row_sums", new_sums, rs_buckets)
                )

            if n_changed == 0:
                return
            # post-merge rows of the changed buckets == the merge plan
            # itself (n_changed > 0 implies delta_buckets is nonempty, so
            # new_rows exists). Changed-item membership is a LEFT SEMI join
            # against the cached delta — semi joins dedup inherently, so no
            # distinct aggregation (two extra stages on the batch's critical
            # tail; the per-batch fixed cost is stage-scheduling-bound at
            # small batches). Changed-set size is batch-dependent — AQE
            # decides broadcast vs hash.
            rows = new_rows.drop("_bucket").join(
                delta.select("item"), on="item", how="leftsemi"
            )
            # full post-merge row sums = untouched buckets (their pointers
            # are unchanged by the racing write) ∪ the merged changed buckets
            if rs_buckets:
                untouched = sorted(set(rs_prior_nonempty) - set(rs_buckets))
                sums_full = self.state.get_parts(
                    "row_sums", ROW_SUMS_SCHEMA, untouched
                ).unionByName(new_sums.drop("_bucket"))
            else:
                sums_full = self.state.get_parts("row_sums", ROW_SUMS_SCHEMA)
            scored = scored_rows(rows, sums_full, int(total), round_digits=3)
            topk = top_k_per_group(
                scored,
                ["item"],
                "score",
                self.config.top_k,
                tie_breakers=["other_item"],
            ).select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "item",
                "rank",
                "other_item",
                "cnt",
                "score",
            )
            # per-batch subdir with overwrite: a retried batch rewrites its
            # own emissions instead of appending duplicates (idempotent
            # output log); async — overlaps any still-pending state writes,
            # joined at the drain barrier before commit
            self._submit_direct(
                lambda: topk.write.mode("overwrite").parquet(
                    os.path.join(self._topk_dir, f"batch-{batch_id}")
                )
            )

        if self._defer_active:
            # tagged "delta": the tail may submit delta-stage writes (the
            # feedback swap rider), so the next batch's phase-1 drain must
            # wait for the tail itself before trusting the delta tag empty —
            # the drain loop then picks up anything it submitted meanwhile
            self._submit_direct(score_tail, "delta")
        else:
            score_tail()
