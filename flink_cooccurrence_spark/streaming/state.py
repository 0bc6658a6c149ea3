"""Versioned parquet-backed state tables for the micro-batch engine.

The reference keeps its cross-window state in operator-local JVM maps
(``ItemRowRescorerTwoInputStreamOperator.java:33-37`` — not even
checkpointed). The Spark engine externalizes the same state as columnar
tables so it survives driver restarts, is joinable/broadcastable, and
scales past a single node's heap: at cluster scale these would be Delta/
Iceberg tables updated with partition-pruned MERGE; plain versioned parquet
directories give the same read/replace semantics with no extra dependency.

Write protocol: each ``put`` writes ``{root}/{name}/v{n+1}`` then flips the
in-memory pointer — readers of version *n* are never disturbed (parquet
dirs are immutable once written), which is exactly the copy-on-write table
format trick. Old versions beyond a small retention are removed.

Partitioned tables (``put_parts``/``get_parts``) extend the protocol to the
poor-man's MERGE the module gestures at above: rows are hash-bucketed on
the state key into ``_bucket`` subdirs, the version pointer is *per bucket*
(``{name}/v{n}/_bucket={k}``), and a batch writes one partitionBy job
containing only the buckets whose keys changed — every other bucket keeps
pointing at its older version dir. Per-batch state I/O is then O(changed
buckets), not O(|state|): the copy-on-write safety story is unchanged
(version dirs stay immutable; pointers flip atomically at ``commit``), and
at cluster scale the same layout maps 1:1 onto a Delta/Iceberg MERGE with
partition pruning.

Driver-local frames (the empty reads of a table not yet written, and every
other frame built from rows the driver holds) go through
``schemas.local_frame``, never ``createDataFrame(list)``: the Arrow-built
frame is a ``LocalRelation`` the optimizer folds away when empty, while a
list-built one is a Python-RDD scan that forks Python workers each time a
batch plan runs it.

Thread safety: the engines' write pools write distinct tables
concurrently, so every read-modify-write of the pointer map
``_versions`` (and of the compaction reservations) holds ``_lock``. The
long Spark write of a version runs outside the lock — the pointer is read
before it and updated against the then-current map after it. Writes to the
SAME table stay the caller's to serialize.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession

from flink_cooccurrence_spark.schemas import local_frame

#: retention policy (all three layouts): a version dir stays on disk while
#: either the in-memory pointer or the last-committed pointer references it
#: — current + rollback target, nothing else (a real deployment would
#: vacuum on checkpoint commit)


class StateStore:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        #: ONE manifest holds both the table pointers and the scalars —
        #: commit() must be a single atomic rename. The earlier two-file
        #: layout (versions.json + scalars.json, two os.replace calls) had
        #: a crash window between the renames that persisted batch N's
        #: table pointers with batch N−1's last_batch_id: the re-delivered
        #: batch then passed the skip guard and double-merged its deltas.
        self._meta_path = os.path.join(root, "meta.json")
        self.scalars: dict[str, int] = {}
        self._versions: dict[str, int] = {}
        #: segment ids reserved by an in-flight two-phase compaction
        #: (``begin_compact_append`` adds, ``finish`` discards). GC must
        #: treat them as live: once a LATER batch appends and commits, the
        #: reserved id is referenced by neither the in-memory nor the
        #: committed pointer — without this set, that batch's GC deletes
        #: the compaction's output dir out from under the background
        #: ``run()``, and ``finish`` then swaps the WHOLE pre-snapshot
        #: state for a missing dir. In-memory only is correct: a crash
        #: kills the run with it, the orphan dir is unreferenced garbage,
        #: and the restart's GC may remove it.
        self._reserved: dict[str, set[int]] = {}
        #: guards _versions and _reserved (see the module docstring)
        self._lock = threading.Lock()
        # restart support: a new engine on an existing workdir (checkpoint
        # recovery) must resume from the persisted pointers, not version 0
        meta = self._committed_meta()
        self.scalars = dict(meta["scalars"])
        self._versions = dict(meta["versions"])

    def _committed_meta(self) -> dict:
        """Last durably committed {versions, scalars} (legacy two-file
        layout read for workdirs written by older builds)."""
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                return json.load(f)
        legacy = {"versions": {}, "scalars": {}}
        for key, fname in (("versions", "versions.json"), ("scalars", "scalars.json")):
            path = os.path.join(self.root, fname)
            if os.path.exists(path):
                with open(path) as f:
                    legacy[key] = json.load(f)
        return legacy

    # -- table state ---------------------------------------------------------

    def _path(self, name: str, version: int) -> str:
        return os.path.join(self.root, name, f"v{version}")

    def _expect_layout(self, name: str, kind: str) -> None:
        """Fail LOUDLY when a table's persisted pointer was written by a
        different layout (whole-table int vs partitioned 'buckets' dict vs
        append-log 'segments' dict). Reading a mismatched layout would
        silently return an empty DataFrame — an engine restarted on a
        workdir from an older build would then re-admit duplicates and
        restart counts from zero with no error anywhere."""
        ptr = self._versions.get(name)
        if ptr is None:
            return
        actual = (
            "whole"
            if not isinstance(ptr, dict)
            else ("parts" if "buckets" in ptr else "append")
        )
        if actual != kind:
            raise ValueError(
                f"state table {name!r} was persisted with the {actual!r} "
                f"layout but is being read as {kind!r} — this workdir was "
                "written by an incompatible engine version; migrate the "
                "state or start from a fresh workdir"
            )

    def get(self, name: str, schema: str) -> DataFrame:
        """Current version of a state table (empty DataFrame before first put)."""
        self._expect_layout(name, "whole")
        v = self._versions.get(name, 0)
        if v == 0:
            return local_frame(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(self._path(name, v))

    def put(self, name: str, df: DataFrame) -> None:
        """Materialize ``df`` as the next version of ``name`` (copy-on-write).

        The new version becomes durable only at ``commit()`` — a batch that
        fails between puts leaves the persisted pointers at the pre-batch
        state, and the orphan version dirs are simply overwritten when the
        batch is retried (same next-version numbers)."""
        with self._lock:
            v = self._versions.get(name, 0) + 1
        df.write.mode("overwrite").parquet(self._path(name, v))
        with self._lock:
            self._versions[name] = v
        # GC keeps the in-memory pointer AND the committed (rollback-target)
        # pointer live — a blind v−RETAIN delete would destroy the rollback
        # target when a batch puts the same table more than once
        live = {v}
        committed = self._committed_versions().get(name)
        if isinstance(committed, int):
            live.add(committed)
        table_dir = os.path.join(self.root, name)
        for d in os.listdir(table_dir):
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) not in live:
                shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)

    # -- partitioned table state (hash-bucketed MERGE) ------------------------

    def get_parts(
        self, name: str, schema: str, buckets: list[int] | None = None
    ) -> DataFrame:
        """Union read of a partitioned table's buckets at their current
        versions — ``buckets=None`` reads all, an explicit list prunes the
        scan to just those bucket dirs (the read half of the MERGE: a batch
        reads only the buckets its delta touches)."""
        self._expect_layout(name, "parts")
        ptr = self._versions.get(name)
        if not isinstance(ptr, dict):
            return local_frame(self.spark, [], schema)
        bmap: dict[str, int] = ptr["buckets"]
        want = bmap if buckets is None else [str(b) for b in buckets]
        paths = [
            os.path.join(self._path(name, bmap[b]), f"_bucket={b}")
            for b in want
            if bmap.get(b, 0) > 0
        ]
        if not paths:
            return local_frame(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def nonempty_buckets(self, name: str) -> list[int]:
        """Buckets of a partitioned table currently holding rows — read off
        the version pointer map, no Spark action. Lets a caller that fully
        replaces a table (e.g. the per-batch ``feedback`` swap) list the
        buckets to clear without scanning them."""
        self._expect_layout(name, "parts")
        ptr = self._versions.get(name)
        if not isinstance(ptr, dict):
            return []
        return sorted(int(b) for b, v in ptr["buckets"].items() if v > 0)

    def put_parts(self, name: str, df: DataFrame, buckets: list[int]) -> None:
        """MERGE-write: materialize ``df`` (which must carry an int
        ``_bucket`` column and contain exactly the post-merge rows of the
        ``buckets`` listed) as the next version of those buckets only.

        One ``partitionBy`` job writes all changed buckets; untouched
        buckets keep their existing version pointers, so per-batch I/O is
        proportional to the changed-key footprint. A changed bucket that
        ends up with zero rows gets pointer 0 (reads as empty) — its old
        dir is no longer referenced and is garbage-collected."""
        self._expect_layout(name, "parts")
        with self._lock:
            v = self._parts_ptr(name)["latest"] + 1
        # co-locate each bucket into one task so a version holds one file
        # per bucket (without this, every upstream shuffle partition writes
        # a sliver into every bucket dir — P× the files per batch); the
        # partition count is the file-size knob at larger state
        df.repartition(max(len(buckets), 1), "_bucket").write.mode(
            "overwrite"
        ).partitionBy("_bucket").parquet(self._path(name, v))
        written = {
            d.split("=", 1)[1]
            for d in os.listdir(self._path(name, v))
            if d.startswith("_bucket=")
        }
        with self._lock:
            ptr = self._parts_ptr(name)
            bmap = dict(ptr["buckets"])
            for b in buckets:
                bmap[str(b)] = v if str(b) in written else 0
            self._versions[name] = {
                "latest": max(ptr["latest"], v),
                "buckets": bmap,
            }
        self._gc_parts(name)

    def clear_parts(self, name: str, buckets: list[int]) -> None:
        """Zero the listed buckets WITHOUT a Spark job — pointer-only form
        of ``put_parts(name, <empty frame>, buckets)`` (which still paid a
        full repartition+write job per call just to produce a dir with no
        bucket subdirs). Pointer 0 reads as empty (``get_parts`` skips it);
        the old dirs are garbage-collected exactly as the empty put did.
        Semantics are identical to the empty put: a table whose per-batch
        content is transient (the feedback swap) clears its stale buckets
        with no cluster work at all."""
        self._expect_layout(name, "parts")
        with self._lock:
            ptr = self._parts_ptr(name)
            bmap = dict(ptr["buckets"])
            for b in buckets:
                bmap[str(b)] = 0
            self._versions[name] = {"latest": ptr["latest"], "buckets": bmap}
        self._gc_parts(name)

    def _parts_ptr(self, name: str) -> dict:
        """A partitioned table's in-memory pointer (empty before its first
        write); call with ``_lock`` held."""
        ptr = self._versions.get(name)
        if not isinstance(ptr, dict):
            ptr = {"latest": 0, "buckets": {}}
        return ptr

    def _gc_parts(self, name: str) -> None:
        """Remove version dirs referenced by neither the in-memory pointers
        nor the last-committed (on-disk) pointers — i.e. exactly the
        retain-current-plus-rollback-target policy of the whole-table path."""
        live: set[int] = set()
        committed = self._committed_versions()
        with self._lock:
            ptrs = (self._versions.get(name), committed.get(name))
        for ptr in ptrs:
            if isinstance(ptr, dict):
                live.add(ptr["latest"])
                live.update(v for v in ptr["buckets"].values() if v > 0)
        table_dir = os.path.join(self.root, name)
        if not os.path.isdir(table_dir):
            return
        for d in os.listdir(table_dir):
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) not in live:
                shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)

    def _committed_versions(self) -> dict:
        return self._committed_meta()["versions"]

    # -- append-log table state (LSM-style segments) ---------------------------

    def append_parts(self, name: str, df: DataFrame, buckets: list[int]) -> None:
        """Append-only alternative to ``put_parts`` for tables whose rows
        never change once written (e.g. an LSH posting index: a document's
        band postings are immutable). Each batch writes ONE new bucket-
        partitioned segment dir containing only its own rows — per-batch
        write I/O is O(batch), never O(|state|). A MERGE-rewrite of such a
        table is the quadratic-over-time flaw class: with uniformly-hashed
        keys every batch touches every bucket, so copy-on-write rewrites
        the whole accumulated table per batch.

        ``df`` must carry an int ``_bucket`` column; ``buckets`` lists the
        buckets it may contain (a superset is fine). Readers union the
        requested buckets across all live segments (``get_append``) — the
        same partition-pruned equi-join shape as ``get_parts``. Segment
        counts are bounded by ``compact_append``."""
        self._expect_layout(name, "append")
        with self._lock:
            seg = self._append_ptr(name)["latest"] + 1
        path = self._path(name, seg)
        df.repartition(max(len(buckets), 1), "_bucket").write.mode(
            "overwrite"
        ).partitionBy("_bucket").parquet(path)
        written = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(path)
            if d.startswith("_bucket=")
        )
        with self._lock:
            ptr = self._append_ptr(name)
            segments = dict(ptr["segments"])
            segments[str(seg)] = written
            self._versions[name] = {
                "latest": max(ptr["latest"], seg),
                "segments": segments,
            }
        self._gc_append(name)

    def _append_ptr(self, name: str) -> dict:
        """An append table's in-memory pointer (empty before its first
        write); call with ``_lock`` held."""
        ptr = self._versions.get(name)
        if not isinstance(ptr, dict) or "segments" not in ptr:
            ptr = {"latest": 0, "segments": {}}
        return ptr

    def _scan_roots(self, roots: list[str], schema: str) -> DataFrame | None:
        """One schema'd scan per segment root, unioned — THE segment read
        convention, shared by live reads (``_read_segments``) and
        compaction's snapshot read so a change to it cannot silently apply
        to one and not the other. Returns None when there are no roots."""
        if not roots:
            return None
        from functools import reduce

        scans = [
            self.spark.read.schema(schema + ", _bucket int").parquet(r)
            for r in roots
        ]
        return reduce(lambda a, b: a.unionByName(b), scans)

    def _read_segments(
        self, name: str, schema: str, buckets: list[int] | None
    ) -> DataFrame | None:
        """Read live segments with ``_bucket`` as a partition column — one
        scan per SEGMENT (partition discovery is per-root; multiple roots
        in one read raise CONFLICTING_DIRECTORY_STRUCTURES), unioned.
        Plan width is O(segments) — bounded by the caller's compaction
        threshold — never O(segments × buckets), which at the bucket
        counts recommended at scale would make plan construction itself
        the bottleneck. Bucket pruning is a partition filter, which Spark
        turns into directory pruning inside each scan. Returns None when
        nothing is live."""
        ptr = self._versions.get(name)
        if not isinstance(ptr, dict) or "segments" not in ptr:
            return None
        roots = [
            self._path(name, int(seg))
            for seg, bs in ptr["segments"].items()
            if bs  # segments with no bucket dirs have no files to read
        ]
        df = self._scan_roots(roots, schema)
        if df is None:
            return None
        if buckets is not None:
            from pyspark.sql import functions as F

            df = df.filter(F.col("_bucket").isin(list(buckets)))
        return df

    def get_append(
        self, name: str, schema: str, buckets: list[int] | None = None
    ) -> DataFrame:
        """Union read of an append table's live segments, pruned to
        ``buckets`` when given (None reads all)."""
        self._expect_layout(name, "append")
        df = self._read_segments(name, schema, buckets)
        if df is None:
            return local_frame(self.spark, [], schema)
        return df.drop("_bucket")

    def append_segment_count(self, name: str) -> int:
        ptr = self._versions.get(name)
        if not isinstance(ptr, dict) or "segments" not in ptr:
            return 0
        return len(ptr["segments"])

    def compact_append(self, name: str, schema: str, reducer=None) -> None:
        """Fold all live segments into one (the LSM compaction),
        synchronously: one scan of the segment roots with ``_bucket`` as a
        partition column, optionally reduced by ``reducer`` (a
        DataFrame→DataFrame merge that RECEIVES and MUST PRESERVE the
        ``_bucket`` column — e.g. ``groupBy("_bucket", key).agg(min(...))``
        where later postings subsume earlier ones), written back as a
        single bucket-partitioned segment. O(|state|) in data but constant
        in plan size. The two-phase form below lets callers overlap the
        heavy middle with other work; this wrapper runs all three phases
        inline."""
        started = self.begin_compact_append(name, schema, reducer)
        if started is None:
            return
        run, finish = started
        try:
            written = run()
        except BaseException:
            finish(None)  # abort: unpin the reserved id, GC the partial dir
            raise
        finish(written)

    def begin_compact_append(self, name: str, schema: str, reducer=None):
        """Two-phase (non-blocking) LSM compaction. Returns ``None`` when
        there is nothing to compact, else ``(run, finish)``:

        - *Phase 1 — here, caller thread*: snapshot the live segment set
          and RESERVE the output segment id by bumping ``latest``. The
          reservation makes the in-progress output dir invisible to
          readers (``_read_segments`` iterates the segments map, which
          does not gain the new id until ``finish``) yet safe from
          ``_gc_append`` (``latest`` is always live), and concurrent
          ``append_parts`` calls pick ids ABOVE it. Snapshot segments stay
          in the pointer, so reads during the compaction still see every
          row — the copy-on-write layout is what permits the overlap.
        - ``run()`` — any thread: the O(|state|) scan+reduce+write of the
          SNAPSHOT segments into the reserved dir. Touches no shared
          mutable state (plans are built from the snapshot paths, not the
          live pointer); returns the written bucket list.
        - ``finish(run())`` — caller thread, after ``run`` settles: swap
          the pointer — snapshot segments out, compacted segment in,
          segments appended since the snapshot retained — and GC. Durable
          at the caller's next ``commit()``. ``finish(None)`` is the ABORT
          path for a failed/abandoned ``run``: the pointer keeps the
          snapshot segments, the reservation pin comes off, and GC removes
          the partial output dir — without it the reserved id stays pinned
          for process lifetime and the burned dir survives every
          in-process GC.

        Crash safety: until the post-``finish`` commit, the committed
        manifest still references the snapshot segments (whose dirs GC
        retains), so a restart reads the pre-compaction state; the
        orphaned output dir is removed by a later GC. Callers must commit
        the reservation (phase 1) before a batch that could roll back runs
        concurrently — rollback to a pre-reservation manifest would hand
        the reserved id back to ``append_parts`` while ``run`` writes it."""
        self._expect_layout(name, "append")
        with self._lock:
            ptr = self._append_ptr(name)
            snap = dict(ptr["segments"])
            if not snap:
                return None
            seg = ptr["latest"] + 1
            self._versions[name] = {"latest": seg, "segments": snap}
            # pin the reserved id against GC for the compaction's lifetime
            # — `latest` alone stops protecting it as soon as a later batch
            # appends (its id supersedes `latest` in both live sets)
            self._reserved.setdefault(name, set()).add(seg)
        roots = [self._path(name, int(s)) for s, bs in snap.items() if bs]
        all_buckets = sorted({b for bs in snap.values() for b in bs})
        path = self._path(name, seg)

        def run() -> list[int]:
            df = self._scan_roots(roots, schema)
            if df is None:
                # every snapshot segment is empty — nothing to write; the
                # pointer still collapses in finish (an all-empty input
                # previously crashed here and wedged the stream on retry)
                return []
            if reducer is not None:
                df = reducer(df)
            df.repartition(max(len(all_buckets), 1), "_bucket").write.mode(
                "overwrite"
            ).partitionBy("_bucket").parquet(path)
            return sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(path)
                if d.startswith("_bucket=")
            )

        def finish(written: list[int] | None) -> None:
            if written is None:
                # aborted compaction: keep the snapshot pointer as-is; the
                # only cleanup owed is the reservation pin (else the id —
                # and any partially-written output dir — is retained for
                # process lifetime) and a GC of that now-unreferenced dir
                with self._lock:
                    self._reserved.get(name, set()).discard(seg)
                self._gc_append(name)
                return
            with self._lock:
                cur = self._versions.get(name)
                segments = {
                    s: bs for s, bs in cur["segments"].items() if s not in snap
                }
                if written:
                    segments[str(seg)] = written
                self._versions[name] = {
                    "latest": cur["latest"],
                    "segments": segments,
                }
                # the swap above makes seg live through `segments` (or, when
                # nothing was written, legitimately dead) — the pin comes
                # off before GC so an empty compaction's dir is collected
                # normally
                self._reserved.get(name, set()).discard(seg)
            self._gc_append(name)

        return run, finish

    def _gc_append(self, name: str) -> None:
        """Remove segment dirs referenced by neither the in-memory nor the
        committed pointers (same retain policy as ``_gc_parts``), nor
        reserved by an in-flight compaction (whose output dir appears in no
        pointer until its ``finish``)."""
        committed = self._committed_versions()
        with self._lock:
            live: set[int] = set(self._reserved.get(name, ()))
            ptrs = (self._versions.get(name), committed.get(name))
        for ptr in ptrs:
            if isinstance(ptr, dict) and "segments" in ptr:
                live.add(ptr["latest"])
                live.update(int(s) for s in ptr["segments"])
        table_dir = os.path.join(self.root, name)
        if not os.path.isdir(table_dir):
            return
        for d in os.listdir(table_dir):
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) not in live:
                shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)

    # -- batch transaction boundary ------------------------------------------

    def commit(self) -> None:
        """Durably publish all puts + scalar updates of the current batch in
        ONE write-then-rename of the single manifest: the multi-table batch
        update (pointers AND the batch-id/watermark scalars guarding it) is
        all-or-nothing from a restart's point of view."""
        tmp = self._meta_path + ".tmp"
        with self._lock:
            manifest = json.dumps(
                {"versions": self._versions, "scalars": self.scalars}
            )
        with open(tmp, "w") as f:
            f.write(manifest)
        os.replace(tmp, self._meta_path)
        # the manifest supersedes the legacy two-file layout — drop stale
        # copies so a crash can never resurrect older pointers through the
        # legacy read path. Best-effort ONLY: the os.replace above already
        # durably published the commit, so a cleanup failure here must not
        # report the commit as failed (the engines' exception paths would
        # then delete output dirs of a batch whose state commit succeeded —
        # permanently losing its emissions, since the retry is skipped by
        # the high-water mark). The read path prefers meta.json regardless.
        for fname in ("versions.json", "scalars.json"):
            try:
                os.remove(os.path.join(self.root, fname))
            except OSError:
                pass

    def rollback(self) -> None:
        """Discard in-memory state back to the last commit (for retrying a
        failed batch in the same process)."""
        meta = self._committed_meta()
        with self._lock:
            self.scalars = dict(meta["scalars"])
            self._versions = dict(meta["versions"])

    # -- scalar state (watermark, running total, metric counters) ------------

    def get_scalar(self, key: str, default: int = 0) -> int:
        return self.scalars.get(key, default)

    def add_scalar(self, key: str, delta: int) -> int:
        self.scalars[key] = self.scalars.get(key, 0) + delta
        return self.scalars[key]

    def set_scalar(self, key: str, value: int) -> None:
        self.scalars[key] = value
