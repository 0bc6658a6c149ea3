"""Generated-code reuse across micro-batches.

A steady micro-batch re-runs the plans of the batch before it, so its
generated classes should come out of Spark's codegen cache instead of being
compiled again. The cache is JVM-wide and LRU; at Spark's default of 100
entries one engine batch's working set already overflows it and every batch
recompiles most of its classes (measured with the default size: 74-81 per
batch for the cooccurrence engine below, 105-121 for the dedup engine).
``session.get_spark`` sizes the cache above the working set, so what a
repeated batch still compiles is only the code that inlines its per-batch
literals (measured: 15 and 24-37).

The compile count is Spark's own: one ``CodegenMetrics`` compilation-time
sample per class compiled on a cache miss.
"""

from __future__ import annotations

from flink_cooccurrence_spark.config import CooccurrenceConfig
from flink_cooccurrence_spark.schemas import local_frame
from flink_cooccurrence_spark.sources import load_table
from flink_cooccurrence_spark.streaming.dedup import DedupStreamEngine
from flink_cooccurrence_spark.streaming.engine import CooccurrenceStreamEngine

DAY_MS = 86_400_000
#: batches run before the measured one: the first compiles the plans of an
#: engine with empty state, the second those of an engine with state
WARM_BATCHES = 2
#: compile bounds for the measured batch, about twice the count measured
#: with the session's cache and under half the default cache's
COOC_MAX_COMPILES = 30
DEDUP_MAX_COMPILES = 50


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _compiles_in_last_batch(spark, eng, batches) -> int:
    for batch_id, batch in enumerate(batches[:-1]):
        eng.process_batch(batch, batch_id)
    before = _compiles(spark)
    eng.process_batch(batches[-1], len(batches) - 1)
    return _compiles(spark) - before


def test_cooccurrence_batch_reuses_generated_classes(spark, tmp_path):
    cfg = CooccurrenceConfig(
        skip_cuts=True, top_k=10, window_size=1, window_unit="DAYS"
    )
    eng = CooccurrenceStreamEngine(spark, cfg, workdir=str(tmp_path))
    # one day per batch, 12 users x 4 events over 23 items
    batches = [
        local_frame(
            spark,
            [
                (u, (u * 7 + j * 3 + i) % 23, i * DAY_MS + 1000 * j + u,
                 i * 1000 + u * 10 + j)
                for u in range(12)
                for j in range(4)
            ],
            "user int, item int, ts_ms long, seq long",
        )
        for i in range(WARM_BATCHES + 1)
    ]
    try:
        n = _compiles_in_last_batch(spark, eng, batches)
    finally:
        eng.close()
    assert n <= COOC_MAX_COMPILES, f"a repeated batch compiled {n} classes"


def test_dedup_batch_reuses_generated_classes(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = sorted(tuple(r) for r in docs.collect())
    size = len(rows) // 5
    batches = [
        local_frame(spark, rows[i * size:(i + 1) * size], "doc_id bigint, text string")
        for i in range(WARM_BATCHES + 1)
    ]
    eng = DedupStreamEngine(spark, workdir=str(tmp_path), threshold=0.5)
    try:
        n = _compiles_in_last_batch(spark, eng, batches)
    finally:
        eng.close()
    assert n <= DEDUP_MAX_COMPILES, f"a repeated batch compiled {n} classes"
