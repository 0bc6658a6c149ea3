"""Unit tests for the versioned parquet StateStore — in particular the
hash-bucketed partitioned tables (`put_parts`/`get_parts`), the engine's
state backbone since the partitioned-MERGE rewrite. The engine-level tests
(`test_streaming.py`) cover restart/rollback end-to-end; these pin the
store's own contract so a regression is localized, not a 5-minute engine
bisect.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_cooccurrence_spark.streaming.state import StateStore

SCHEMA = "item int, cnt long"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _bucketed(df, n=4):
    return df.withColumn("_bucket", F.pmod(F.col("item"), F.lit(n)).cast("int"))


def _rows(df):
    return sorted((r["item"], r["cnt"]) for r in df.collect())


def test_put_parts_then_get_parts_roundtrip(spark, tmp_path):
    st = StateStore(spark, str(tmp_path))
    st.put_parts("t", _bucketed(_df(spark, [(0, 10), (1, 11), (2, 12)])), [0, 1, 2])
    assert _rows(st.get_parts("t", SCHEMA)) == [(0, 10), (1, 11), (2, 12)]
    # pruned read returns only the requested buckets' rows
    assert _rows(st.get_parts("t", SCHEMA, [1])) == [(1, 11)]
    # a bucket never written reads empty, not an error
    assert _rows(st.get_parts("t", SCHEMA, [3])) == []


def test_partial_rewrite_leaves_other_buckets_at_old_version(spark, tmp_path):
    st = StateStore(spark, str(tmp_path))
    st.put_parts("t", _bucketed(_df(spark, [(0, 10), (1, 11)])), [0, 1])
    # rewrite ONLY bucket 0; bucket 1 must keep serving its old version
    st.put_parts("t", _bucketed(_df(spark, [(0, 99), (4, 40)])), [0])
    assert _rows(st.get_parts("t", SCHEMA)) == [(0, 99), (1, 11), (4, 40)]
    ptr = st._versions["t"]
    assert ptr["buckets"]["0"] == 2 and ptr["buckets"]["1"] == 1


def test_changed_bucket_emptied_reads_empty(spark, tmp_path):
    """A merge that deletes a bucket's last row (cnt → 0 filter) lists the
    bucket as changed but writes no rows for it — the pointer must become a
    tombstone, not keep serving the stale version."""
    st = StateStore(spark, str(tmp_path))
    st.put_parts("t", _bucketed(_df(spark, [(0, 10), (1, 11)])), [0, 1])
    st.put_parts("t", _bucketed(_df(spark, [(1, 12)])), [0, 1])
    assert _rows(st.get_parts("t", SCHEMA)) == [(1, 12)]
    assert st._versions["t"]["buckets"]["0"] == 0


def test_rollback_restores_committed_bucket_pointers(spark, tmp_path):
    st = StateStore(spark, str(tmp_path))
    st.put_parts("t", _bucketed(_df(spark, [(0, 10), (1, 11)])), [0, 1])
    st.commit()
    # a failed batch: rewrite bucket 0, then roll back pre-commit
    st.put_parts("t", _bucketed(_df(spark, [(0, 99)])), [0])
    assert _rows(st.get_parts("t", SCHEMA, [0])) == [(0, 99)]
    st.rollback()
    assert _rows(st.get_parts("t", SCHEMA)) == [(0, 10), (1, 11)]
    # the committed version dir survived the failed batch's GC
    assert _rows(st.get_parts("t", SCHEMA, [0])) == [(0, 10)]


def test_restart_resumes_partitioned_pointers(spark, tmp_path):
    st = StateStore(spark, str(tmp_path))
    st.put_parts("t", _bucketed(_df(spark, [(0, 10), (1, 11)])), [0, 1])
    st.put_parts("t", _bucketed(_df(spark, [(0, 20)])), [0])
    st.commit()
    # fresh store on the same root (process restart): per-bucket pointers
    # come back from versions.json, including the mixed-version layout
    st2 = StateStore(spark, str(tmp_path))
    assert _rows(st2.get_parts("t", SCHEMA)) == [(0, 20), (1, 11)]


def test_gc_removes_unreferenced_versions_only(spark, tmp_path):
    st = StateStore(spark, str(tmp_path))
    for v in range(4):
        st.put_parts("t", _bucketed(_df(spark, [(0, v)])), [0])
        st.commit()
    table_dir = os.path.join(str(tmp_path), "t")
    live = {d for d in os.listdir(table_dir) if d.startswith("v")}
    # GC runs at put time, where the previous committed version must be
    # retained as the rollback target — so the steady state is current +
    # prior — the same policy as the whole-table path, never unbounded growth
    assert live == {"v3", "v4"}
    assert _rows(st.get_parts("t", SCHEMA)) == [(0, 3)]


def test_retry_after_rollback_overwrites_orphan_dir(spark, tmp_path):
    """A failed batch leaves an orphan v{n+1} dir; the retried batch reuses
    the same version number and must overwrite it cleanly."""
    st = StateStore(spark, str(tmp_path))
    st.put_parts("t", _bucketed(_df(spark, [(0, 1)])), [0])
    st.commit()
    st.put_parts("t", _bucketed(_df(spark, [(0, 99), (1, 99)])), [0, 1])
    st.rollback()
    st.put_parts("t", _bucketed(_df(spark, [(0, 2)])), [0])
    st.commit()
    assert _rows(st.get_parts("t", SCHEMA)) == [(0, 2)]


def test_whole_table_and_partitioned_tables_coexist(spark, tmp_path):
    st = StateStore(spark, str(tmp_path))
    st.put("flat", _df(spark, [(7, 70)]))
    st.put_parts("parts", _bucketed(_df(spark, [(0, 10)])), [0])
    assert _rows(st.get("flat", SCHEMA)) == [(7, 70)]
    assert _rows(st.get_parts("parts", SCHEMA)) == [(0, 10)]


def test_append_parts_segments_prune_compact_rollback(spark, tmp_path):
    """The append-log path (LSM segments) for append-only tables: each
    append is one new segment (O(batch) write), reads union live segments
    with bucket pruning, compaction folds them into one without changing
    the data, and rollback discards an uncommitted segment."""
    st = StateStore(spark, str(tmp_path))
    for i in range(3):
        st.append_parts("log", _bucketed(_df(spark, [(i, i * 10), (i, 1)])), [i % 4])
        st.commit()
    assert st.append_segment_count("log") == 3
    assert _rows(st.get_append("log", SCHEMA)) == [
        (0, 0), (0, 1), (1, 1), (1, 10), (2, 1), (2, 20),
    ]
    # bucket pruning: only bucket 1's segment rows
    assert _rows(st.get_append("log", SCHEMA, [1])) == [(1, 1), (1, 10)]

    # compaction with a per-key reducer preserves semantics, folds segments
    # (reducer contract: receives and must preserve the _bucket column)
    st.compact_append(
        "log", SCHEMA,
        reducer=lambda df: df.groupBy("_bucket", "item").agg(
            F.max("cnt").alias("cnt")
        ),
    )
    st.commit()
    assert st.append_segment_count("log") == 1
    assert _rows(st.get_append("log", SCHEMA)) == [(0, 1), (1, 10), (2, 20)]
    # bucket layout survives compaction (pruned reads still work)
    assert _rows(st.get_append("log", SCHEMA, [1])) == [(1, 10)]

    # an uncommitted append rolls back; the retried one lands cleanly
    st.append_parts("log", _bucketed(_df(spark, [(3, 30)])), [3])
    st.rollback()
    assert _rows(st.get_append("log", SCHEMA)) == [(0, 1), (1, 10), (2, 20)]
    st.append_parts("log", _bucketed(_df(spark, [(3, 31)])), [3])
    st.commit()
    assert _rows(st.get_append("log", SCHEMA, [3])) == [(3, 31)]


def test_all_empty_segment_compaction_resets_without_crash(spark, tmp_path):
    """Compacting an append table whose live segments are all empty must
    reset the segment count cleanly — it previously raised IndexError,
    which would wedge a streaming batch on every retry."""
    st = StateStore(spark, str(tmp_path))
    empty = _bucketed(_df(spark, []))
    for _ in range(3):
        st.append_parts("log", empty, [0])
        st.commit()
    assert st.append_segment_count("log") == 3
    st.compact_append("log", SCHEMA)
    st.commit()
    assert st.append_segment_count("log") == 0
    assert _rows(st.get_append("log", SCHEMA)) == []
    # the table keeps working afterwards
    st.append_parts("log", _bucketed(_df(spark, [(1, 10)])), [1])
    st.commit()
    assert _rows(st.get_append("log", SCHEMA)) == [(1, 10)]


def test_layout_mismatch_fails_loudly(spark, tmp_path):
    """A workdir written by a different state layout must raise, not read
    as silently empty — silent emptiness on restart re-admits duplicates
    and resets counts with no error anywhere."""
    import pytest as _pytest

    st = StateStore(spark, str(tmp_path))
    st.put("w", _df(spark, [(1, 1)]))
    st.put_parts("p", _bucketed(_df(spark, [(0, 1)])), [0])
    st.append_parts("a", _bucketed(_df(spark, [(0, 1)])), [0])
    st.commit()
    for name, wrong_readers in (
        ("w", (st.get_parts, st.get_append)),
        ("p", (st.get, st.get_append)),
        ("a", (st.get, st.get_parts)),
    ):
        for reader in wrong_readers:
            with _pytest.raises(ValueError, match="layout"):
                reader(name, SCHEMA)


def test_commit_is_one_atomic_manifest(spark, tmp_path):
    """Pointers and scalars (incl. the batch high-water mark) publish via
    ONE rename — the old two-file commit had a crash window that persisted
    new pointers with the old last_batch_id, double-applying the batch."""
    st = StateStore(spark, str(tmp_path))
    st.put("t", _df(spark, [(0, 10)]))
    st.set_scalar("last_batch_id", 0)
    st.commit()
    files = {f for f in os.listdir(str(tmp_path)) if f.endswith(".json")}
    assert files == {"meta.json"}


def test_legacy_two_file_layout_still_loads(spark, tmp_path):
    """A workdir committed by the older two-file build must resume; the
    next commit migrates it to the single manifest."""
    import json

    st = StateStore(spark, str(tmp_path))
    st.put("t", _df(spark, [(0, 10)]))
    versions, scalars = dict(st._versions), {"last_batch_id": 4}
    os.remove(os.path.join(str(tmp_path), "meta.json")) if os.path.exists(
        os.path.join(str(tmp_path), "meta.json")
    ) else None
    with open(os.path.join(str(tmp_path), "versions.json"), "w") as f:
        json.dump(versions, f)
    with open(os.path.join(str(tmp_path), "scalars.json"), "w") as f:
        json.dump(scalars, f)

    st2 = StateStore(spark, str(tmp_path))
    assert st2.get_scalar("last_batch_id") == 4
    assert _rows(st2.get("t", SCHEMA)) == [(0, 10)]
    st2.commit()
    files = {f for f in os.listdir(str(tmp_path)) if f.endswith(".json")}
    assert files == {"meta.json"}


def test_double_put_in_one_batch_keeps_rollback_target(spark, tmp_path):
    """put() GC must retain the COMMITTED version, not blindly delete
    v−retain: two puts to one table in a single failed batch previously
    destroyed the rollback target dir."""
    st = StateStore(spark, str(tmp_path))
    st.put("t", _df(spark, [(0, 1)]))
    st.commit()
    st.put("t", _df(spark, [(0, 2)]))
    st.put("t", _df(spark, [(0, 3)]))  # second put, same uncommitted batch
    st.rollback()
    assert _rows(st.get("t", SCHEMA)) == [(0, 1)]  # dir must still exist


def test_two_phase_compaction_pointer_algebra_model(spark, tmp_path):
    """Model-based randomized check of the append-log pointer algebra under
    interleaved append / begin-compact / finish / commit / rollback — the
    exact sequences the background-compaction engine generates. The model
    is two multisets (live, committed); after EVERY op the store's full
    read must equal the live model, and a cold restart must equal the
    committed model. Per the ``begin_compact_append`` contract, a begin is
    immediately committed (the reservation), mirroring the engine; the
    heavy ``run`` executes at finish time, which is equivalent to running
    overlapped (segment dirs are immutable once written) and lets the
    schedule interleave appends between snapshot and swap."""
    import random

    rng = random.Random(20260814)
    root = str(tmp_path / "st")
    st = StateStore(spark, root)
    A_SCHEMA = "k long, v long"

    def bucketed(rows):
        df = spark.createDataFrame(rows, A_SCHEMA)
        return df.withColumn("_bucket", F.pmod(F.col("k"), F.lit(4)).cast("int"))

    def read_all(store):
        return sorted((r["k"], r["v"]) for r in store.get_append("t", A_SCHEMA).collect())

    live: list = []
    committed: list = []
    in_flight = None  # (run, finish)
    next_v = 0

    for step in range(16):
        op = rng.choice(["append", "append", "begin", "finish", "commit", "rollback"])
        if op == "append":
            rows = [(rng.randrange(8), next_v + i) for i in range(rng.randrange(1, 4))]
            next_v += len(rows)
            st.append_parts("t", bucketed(rows), sorted({k % 4 for k, _ in rows}))
            live.extend(rows)
        elif op == "begin" and in_flight is None:
            started = st.begin_compact_append("t", A_SCHEMA)
            if started is not None:
                in_flight = started
                st.commit()  # the engine's durable reservation
                committed = list(live)
        elif op == "finish" and in_flight is not None:
            run, finish = in_flight
            finish(run())
            in_flight = None
        elif op == "commit":
            st.commit()
            committed = list(live)
        elif op == "rollback":
            st.rollback()
            live = list(committed)
            # a rolled-back swap leaves the snapshot segments live; the
            # in-flight pair stays valid (engine: entry removed only on
            # harvest) — drop it here to keep the schedule simple, since
            # finishing against rolled-back pointers is exercised by the
            # separate ordered case below
            in_flight = None
        assert sorted(live) == read_all(st), f"step {step} ({op}) diverged"

    if in_flight is not None:
        run, finish = in_flight
        finish(run())
    assert sorted(live) == read_all(st)
    st.commit()
    assert sorted(live) == read_all(StateStore(spark, root))

    # ordered case: begin -> append -> ROLLBACK (to the reservation) ->
    # finish. The swap must keep the post-rollback content: snapshot
    # segments out, compacted segment in, no resurrected appends.
    st2 = StateStore(spark, str(tmp_path / "st2"))
    st2.append_parts("t", bucketed([(0, 100), (1, 101)]), [0, 1])
    st2.commit()
    started = st2.begin_compact_append("t", A_SCHEMA)
    st2.commit()
    st2.append_parts("t", bucketed([(2, 102)]), [2])  # uncommitted
    st2.rollback()
    run, finish = started
    finish(run())
    got = sorted((r["k"], r["v"]) for r in st2.get_append("t", A_SCHEMA).collect())
    assert got == [(0, 100), (1, 101)]


def test_gc_never_deletes_reserved_compaction_output(spark, tmp_path):
    """Regression (round-5 async-compaction bug): once a LATER batch
    appends and commits, the reserved compaction segment id is referenced
    by neither the in-memory nor the committed pointer — GC's two-source
    live set alone then deletes the background run's output dir mid-
    flight, and ``finish`` swaps the whole pre-snapshot state for a
    missing dir (observed as PATH_NOT_FOUND on the next read, i.e. total
    loss of the compacted state). The reserved-id pin must keep the dir
    alive across any number of interleaved append+commit cycles."""
    st = StateStore(spark, str(tmp_path))
    for i in range(3):
        st.append_parts("log", _bucketed(_df(spark, [(i, i)])), [i % 4])
        st.commit()
    run, finish = st.begin_compact_append("log", SCHEMA)
    st.commit()  # durable reservation (engine protocol)
    written = run()  # background write completes; dir on disk, in no pointer
    reserved_dir = os.path.join(str(tmp_path), "log", "v4")
    assert os.path.isdir(reserved_dir)
    # two interleaved batches move BOTH live sets past the reserved id
    for i in range(3, 5):
        st.append_parts("log", _bucketed(_df(spark, [(i, i)])), [i % 4])
        st.commit()
    assert os.path.isdir(reserved_dir), "GC deleted the in-flight compaction output"
    finish(written)
    st.commit()
    assert _rows(st.get_append("log", SCHEMA)) == [(i, i) for i in range(5)]
    # and the pin comes off at finish: the swap makes the dir live through
    # the segments map instead (compacted + the two later appends)
    assert st.append_segment_count("log") == 3


def test_aborted_compaction_unpins_reservation_and_gcs_partial_dir(spark, tmp_path):
    """Regression (round-5 ADVICE): a failed compaction run left its
    reserved segment id in ``_reserved`` forever — the orphan output dir
    then survived every in-process GC, contradicting the documented
    'unreferenced and GC'd' contract. ``finish(None)`` is the abort path:
    pointer keeps the snapshot, the pin comes off, the partial dir goes."""
    st = StateStore(spark, str(tmp_path))
    for i in range(3):
        st.append_parts("log", _bucketed(_df(spark, [(i, i)])), [i % 4])
        st.commit()
    run, finish = st.begin_compact_append("log", SCHEMA)
    st.commit()
    reserved_dir = os.path.join(str(tmp_path), "log", "v4")
    # simulate a failed run that got far enough to create the output dir
    os.makedirs(reserved_dir, exist_ok=True)
    finish(None)  # abort
    assert st._reserved.get("log", set()) == set(), "reservation pin leaked"
    # state is untouched — snapshot segments still serve every row
    assert _rows(st.get_append("log", SCHEMA)) == [(i, i) for i in range(3)]
    # the dir stays only while `latest` still references the id; two
    # append+commit cycles supersede it in both live sets (GC runs at
    # append time, against the previous commit) and normal GC collects it
    # — the pre-fix behavior retained it for PROCESS LIFETIME via the pin
    for i in (3, 4):
        st.append_parts("log", _bucketed(_df(spark, [(i, i)])), [i % 4])
        st.commit()
    assert not os.path.isdir(reserved_dir), "partial output dir survived GC"
    # and a fresh compaction can retry under a NEW reservation
    run2, finish2 = st.begin_compact_append("log", SCHEMA)
    st.commit()
    finish2(run2())
    st.commit()
    assert _rows(st.get_append("log", SCHEMA)) == [(i, i) for i in range(5)]
    assert st.append_segment_count("log") == 1


def test_sync_compact_append_aborts_reservation_on_failed_run(spark, tmp_path):
    """The synchronous wrapper takes the same abort path when its run
    raises (e.g. a reducer bug): reservation unpinned, state intact."""
    import pytest

    st = StateStore(spark, str(tmp_path))
    for i in range(2):
        st.append_parts("log", _bucketed(_df(spark, [(i, i)])), [i % 4])
        st.commit()

    def bad_reducer(df):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        st.compact_append("log", SCHEMA, bad_reducer)
    assert st._reserved.get("log", set()) == set()
    assert _rows(st.get_append("log", SCHEMA)) == [(0, 0), (1, 1)]


# -- driver-local frames: Arrow LocalRelations, never Python-RDD scans --------


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def _assert_folds_away(spark, empty, schema):
    """``empty`` carries exactly ``schema``, is no Python-RDD scan, and drops
    out of a union at plan time (no Spark task, no Python worker)."""
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    assert empty.schema == struct
    assert "LogicalRDD" not in _optimized(empty).toString()
    x = spark.range(3).select(
        *[F.col("id").cast(f.dataType).alias(f.name) for f in struct.fields]
    )
    assert _optimized(empty.unionByName(x)).sameResult(_optimized(x))


def test_empty_state_reads_are_local_relations(spark, tmp_path):
    st = StateStore(spark, str(tmp_path))
    # never written: whole, partitioned and append layouts
    _assert_folds_away(spark, st.get("w", SCHEMA), SCHEMA)
    _assert_folds_away(spark, st.get_parts("p", SCHEMA), SCHEMA)
    _assert_folds_away(spark, st.get_append("a", SCHEMA), SCHEMA)
    # written, but every requested bucket is at pointer 0 or never written
    st.put_parts("p", _bucketed(_df(spark, [(0, 10), (1, 11)])), [0, 1])
    st.clear_parts("p", [0, 1])
    _assert_folds_away(spark, st.get_parts("p", SCHEMA), SCHEMA)
    _assert_folds_away(spark, st.get_parts("p", SCHEMA, [0, 3]), SCHEMA)
    _assert_folds_away(spark, st.get_parts("p", SCHEMA, []), SCHEMA)


def test_engine_empty_output_logs_are_local_relations(spark, tmp_path):
    from flink_cooccurrence_spark.streaming.dedup import DedupStreamEngine
    from flink_cooccurrence_spark.streaming.engine import (
        CooccurrenceStreamEngine,
    )

    eng = CooccurrenceStreamEngine(spark, workdir=str(tmp_path / "cooc"))
    try:
        _assert_folds_away(
            spark,
            eng.topk_updates(),
            "batch_id long, item int, rank int, other_item int, cnt long, "
            "score double",
        )
    finally:
        eng.close()
    dd = DedupStreamEngine(spark, workdir=str(tmp_path / "dedup"))
    try:
        _assert_folds_away(
            spark,
            dd.exact_log(),
            "doc_id long, text_hash string, canonical_id long, "
            "is_duplicate boolean",
        )
        _assert_folds_away(
            spark, dd.dup_pairs(), "doc_a long, doc_b long, est_jaccard double"
        )
        _assert_folds_away(
            spark, dd.overlap_pairs(), "doc_a long, doc_b long, n_shared long"
        )
    finally:
        dd.close()


def _list_built_create_dataframe_calls(source: str) -> list[int]:
    """Line numbers of ``createDataFrame`` calls whose data argument is a
    list literal / comprehension or a name bound to one."""
    import ast

    tree = ast.parse(source)
    list_nodes = (ast.List, ast.ListComp)
    list_names = {
        t.id
        for node in ast.walk(tree)
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        and isinstance(node.value, list_nodes)
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        if isinstance(t, ast.Name)
    }
    hits = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            continue
        data = node.args[0] if node.args else next(
            (k.value for k in node.keywords if k.arg == "data"), None
        )
        if isinstance(data, list_nodes) or (
            isinstance(data, ast.Name) and data.id in list_names
        ):
            hits.append(node.lineno)
    return hits


def test_no_list_built_create_dataframe_in_streaming():
    """Driver-local frames in ``streaming/`` go through
    ``schemas.local_frame``: a list handed to ``createDataFrame`` becomes a
    Python-RDD scan that forks Python workers whenever a plan runs it."""
    import glob

    import flink_cooccurrence_spark.streaming as pkg

    assert _list_built_create_dataframe_calls(
        "spark.createDataFrame([], s)\nrows = []\nspark.createDataFrame(rows, s)"
    ) == [1, 3]
    offenders = []
    for path in sorted(glob.glob(os.path.join(os.path.dirname(pkg.__file__), "*.py"))):
        with open(path) as f:
            offenders += [
                f"{os.path.basename(path)}:{line}"
                for line in _list_built_create_dataframe_calls(f.read())
            ]
    assert offenders == []


def test_concurrent_put_parts_to_distinct_tables_keep_every_pointer(
    spark, tmp_path
):
    """Write-pool threads move the shared pointer map; a lost update here
    silently drops a table's just-written version at commit."""
    import concurrent.futures
    import sys

    st = StateStore(spark, str(tmp_path))
    names = [f"t{i}" for i in range(12)]

    def put(i):
        rows = [(i, 100 + i), (i + 1, 200 + i)]
        st.put_parts(names[i], _bucketed(_df(spark, rows)), [i % 4, (i + 1) % 4])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with concurrent.futures.ThreadPoolExecutor(max_workers=len(names)) as pool:
            list(pool.map(put, range(len(names)), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    st.commit()
    for store in (st, StateStore(spark, str(tmp_path))):
        for i, name in enumerate(names):
            assert _rows(store.get_parts(name, SCHEMA)) == sorted(
                [(i, 100 + i), (i + 1, 200 + i)]
            )
