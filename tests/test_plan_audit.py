"""Fleet-wide physical-plan audit: every registered query's plan is scanned
for scale red flags.

The per-operator plan assertions (`test_similarity_scale.py`,
`test_ordering.py`, `test_bucketed.py`) pin specific rewrites; this gate
sweeps the WHOLE query surface so a regression anywhere — a join that
degrades to a cartesian product, a new broadcast of an unbounded side, a
1-task global sort — fails even in queries with no dedicated plan test.

Red flags and why:

- ``CartesianProduct`` — an unconditional |A|×|B| join; never acceptable
  (the windowed row-sum grid exists precisely to avoid the range-join form
  that plans as one of these).
- ``BroadcastNestedLoopJoin`` — per-row scan of a broadcast side. Fine iff
  the broadcast side is provably bounded (a 1-row aggregate, a fixed-K
  constant set, an explicitly capped query slice); each such use must be
  allowlisted here with its bound.
- ``Exchange SinglePartition`` — all data through one task. Fine only for
  1-row global aggregates.

Adding a query to an allowlist is a reviewed action: the entry documents
the bound that keeps the pattern safe at 100 TB.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

# engine/stream-backed queries are excluded from the sweep — the set (and
# the construction discipline) lives in conftest.ENGINE_BACKED_QUERIES,
# shared with the session-scoped plan-string fixture

#: BroadcastNestedLoopJoin allowlist → the bound that keeps it safe.
#: Every entry is a crossJoin/non-equi join whose BROADCAST side cannot
#: grow with the corpus.
ALLOWED_BNLJ = {
    # 1-row totals table crossJoined into scoring (row_sums grand total)
    "llr_scores": "1-row global-total aggregate",
    "topk_similar": "1-row global-total aggregate",
    "late_data_audit": "1-row watermark aggregate",
    # interactive KNN path: the query side is capped at
    # KNN_BROADCAST_LIMIT by the auto-probe; past the cap the plan
    # switches to the blocked grid (no broadcast — plan-asserted in
    # test_similarity_scale.py)
    "embedding_knn": "query side capped by KNN_BROADCAST_LIMIT auto-probe",
    # IVF assignment: corpus × K centroids with K fixed
    # (IVF_NUM_CENTROIDS), corpus-independent since round 2
    "ivf_topk": "fixed-K centroid set (corpus-independent)",
    "ivf_topk_nprobe2": "fixed-K centroid set (corpus-independent)",
    "ivf_topk_kmeans": "fixed-K fitted centroid literals (corpus-independent)",
    # IVF-PQ: the IVF centroid broadcast + per-subspace literal codebooks
    "ivf_pq_topk": "fixed-K centroid set + fixed m*ksub codebook literals",
    # residual IVF-PQ over fitted cells: the same bounds (fixed-K fitted
    # centroid literals enter both the assignment and the qc join)
    "ivf_pq_residual_topk": (
        "fixed-K fitted centroid literals + fixed m*ksub codebook literals"
    ),
    # refined: the residual ADC stage's bounded broadcasts, inherited —
    # the refine joins themselves are shuffled hash joins on vec ids
    "ivf_pq_refined_topk": (
        "fixed-K fitted centroid literals + fixed m*ksub codebook literals"
    ),
    # persisted-index query path: the probe assignment crossJoins the
    # FROZEN sidecar centroid table (fixed-K, corpus-independent — KB of
    # JSON state, never refit)
    "pq_index_query": "fixed-K frozen sidecar centroid table",
    # refined query path: the same frozen sidecar broadcast; the refine
    # joins themselves are shuffled hash joins on vec ids (bounded
    # O(queries·R·k) rows — never a broadcast side)
    "pq_index_query_refined": "fixed-K frozen sidecar centroid table",
    # IVF-SQ8: the IVF centroid broadcast; the SQ ranges are driver
    # literals (2*dim doubles), not a join side
    "ivf_sq8_topk": "fixed-K centroid set (corpus-independent)",
    "ivf_sq8_kmeans_topk": (
        "fixed-K fitted centroid literals (corpus-independent)"
    ),
    # large-k assignment backend: corpus × k-row broadcast centroid table
    # with k fixed (corpus-independent by the module's fixed-k contract)
    "kmeans_assign_broadcast": "fixed-k broadcast centroid table (corpus-independent)",
    # PCA covariance: the 1-row corpus-count broadcasts into the d²-row
    # cell frame (the mean/exy denominators); d fixed by the data, never
    # a corpus-scale side
    "embedding_covariance": "1-row corpus-count aggregate",
    # the tracker's combine tail broadcasts its accumulated 1-row count
    "streaming_covariance": "1-row accumulated-count literal",
    # reduced-space candidate scoring broadcasts the 1/QUERY_MOD query
    # slice against one narrow reduced-vector pass (the embedding_knn
    # broadcast pattern; its blocked grid is the corpus-scale swap-in,
    # per the operator docstring)
    "pca_refine_topk": "bounded query-slice broadcast (embedding_knn pattern)",
    # adaptive plane count rides as a 1-row scalar-subquery crossJoin
    "embedding_near_dup_pairs": "1-row corpus-count scalar subquery",
    "ann_lsh_topk": "1-row corpus-count scalar subquery (adaptive planes)",
    "ann_lsh_multiprobe": "1-row corpus-count scalar subquery (adaptive planes)",
    # recall meter: evaluation-only joins of 4 tiny per-variant top-k
    # slices against the exact-KNN baseline slice
    "ann_recall": "evaluation-only; per-variant top-k slices (≤ |Q|·k rows)",
    # distributed prefix-sum/rank (operators/ordering.py): the range-bucket
    # min/max bounds ride as a broadcast 1-row aggregate crossJoin
    "pack_chunks": "1-row min/max range-bucket bounds aggregate",
    "pack_chunks_pretokenized": "1-row min/max range-bucket bounds aggregate",
    "train_shuffle_order": "1-row min/max range-bucket bounds aggregate",
    "token_frequency": "1-row min/max range-bucket bounds aggregate (vocab rank)",
    "token_budget_sample": "1-row min/max range-bucket bounds aggregate (grouped prefix sum)",
    "pack_token_stream": "1-row min/max range-bucket bounds aggregate",
    "training_manifest": "1-row min/max range-bucket bounds aggregate (shuffle rank)",
    # the scrubbed composition inherits the manifest's bounded broadcasts
    "training_manifest_scrubbed": "1-row min/max range-bucket bounds aggregate (shuffle rank)",
    "pack_manifest": "1-row min/max range-bucket bounds aggregates (rank + prefix sum)",
    "shard_manifest": "1-row min/max range-bucket bounds aggregates (rank + prefix sum)",
    # corpus size N folds in as a broadcast 1-row count (the idf numerator)
    "tfidf_topk_terms": "1-row corpus-count aggregate (idf)",
    # BM25: (N, total_dl) corpus stats ride as a broadcast 1-row aggregate
    "bm25_topk": "1-row corpus-stats aggregate (N, total_dl)",
    # DSIR: λ-table totals ride as a broadcast 1-row aggregate
    "dsir_weights": "1-row λ-totals aggregate (O(B) bucket table)",
    "dsir_sample": "1-row λ-totals aggregate (O(B) bucket table)",
    # the capstone composes training_manifest + dsir_sample + the shard
    # prefix sum — the union of their bounded broadcasts, nothing new
    "prepare_corpus_manifest": (
        "1-row bounds/λ-totals aggregates (manifest + DSIR + prefix sum)"
    ),
    "streaming_dsir_weights": "1-row λ-totals aggregate (O(B) state table)",
    # length bucketing: the two-pass rank's 1-row bounds aggregate
    "length_bucketed_batches": "1-row min/max range-bucket bounds aggregate",
    "padding_waste": "1-row min/max range-bucket bounds aggregate",
    # streaming BM25 index query: the bucketed rank's 1-row bounds
    # aggregate (stats are scalars, not plans — no other broadcast)
    "streaming_bm25_topk": "1-row min/max range-bucket bounds aggregate",
    # bucketed giant-group quantiles: value-range bounds ride as a
    # broadcast 1-row aggregate crossJoin (same primitive as the ranks)
    "value_quantiles": "1-row min/max range-bucket bounds aggregate",
    "quality_gate_by_lang": "1-row min/max range-bucket bounds aggregate (per-lang thresholds)",
    # corpus token total rides as a broadcast 1-row aggregate
    "unigram_nll": "1-row corpus-token-total aggregate",
    "bigram_nll": "1-row vocabulary-size aggregate",
    # heavy hitters: the global total (from the MG sweep's partition
    # markers) rides as a broadcast 1-row aggregate crossJoin
    "heavy_hitter_items": "1-row total aggregate (from sweep markers)",
    # Stupid Backoff: the model slice's 1-row token total crossJoins
    # into per-trigram scoring (the llr_scores class)
    "stupid_backoff_nll": "1-row model-token-total aggregate",
    # hybrid RRF: the 1-row dense query vector + the component systems'
    # own 1-row stats aggregates (bm25's corpus stats); every broadcast
    # side is corpus-independent, and the three rank stages' inputs are
    # cache-marked so execution materializes each pipeline once
    "hybrid_rrf_topk": (
        "1-row query-vector row + 1-row corpus-stats aggregates"
    ),
    # KMV pairwise estimator: the source-pair generator is a non-equi
    # self-join of the DISTINCT SOURCE list (|sources| rows — the mixing
    # family's low-cardinality contract; output |sources|² pairs, the
    # source_overlap_matrix bound). Round 11: the bound is ENFORCED —
    # source_jaccard_of probes |sources| and raises past
    # KMV_MAX_SOURCES=64 (≤2,016 pairs), so the nested loop can never
    # see a data-scale key (tests/test_kmv.py misuse gate).
    "kmv_source_jaccard": (
        "|sources|-row distinct-source self-join, enforced ≤ "
        "KMV_MAX_SOURCES=64"
    ),
}

#: Exchange SinglePartition allowlist → only 1-row global aggregates may
#: collapse to one partition.
ALLOWED_SINGLE_PARTITION = {
    "total_observed": "1-row global sum",
    "late_data_audit": "1-row late-count aggregate",
    "llr_scores": "1-row global-total aggregate feeding the crossJoin",
    "topk_similar": "1-row global-total aggregate feeding the crossJoin",
    # per-window grand totals: ≤ |windows| rows through the running-sum
    # window (bounded by window count, not corpus size — the same bound
    # class as the ≤4096-row bucket-offset tables below)
    "windowed_topk": "≤|windows|-row per-window running-total window",
    "embedding_near_dup_pairs": "1-row corpus-count scalar subquery",
    "ann_lsh_topk": "1-row corpus-count aggregate (adaptive planes)",
    "ann_lsh_multiprobe": "1-row corpus-count aggregate (adaptive planes)",
    "ann_recall": "13-row recall summary aggregate",
    "embedding_covariance": "1-row corpus-count aggregate",
    "pack_chunks": "1-row bounds aggregate + ≤4096-row bucket-offsets window",
    "pack_chunks_pretokenized": "1-row bounds aggregate + ≤4096-row bucket-offsets window",
    "train_shuffle_order": "1-row bounds aggregate + ≤4096-row bucket-offsets window",
    "token_frequency": "1-row bounds aggregate + ≤4096-row bucket-offsets window",
    "token_budget_sample": "1-row bounds aggregate (offsets window is keyed)",
    "pack_token_stream": "1-row bounds aggregate + ≤4096-row bucket-offsets window",
    "training_manifest": "1-row bounds aggregate + ≤4096-row bucket-offsets window",
    "training_manifest_scrubbed": "1-row bounds aggregate + ≤4096-row bucket-offsets window",
    "pack_manifest": "1-row bounds aggregates + ≤4096-row bucket-offsets windows",
    "shard_manifest": "1-row bounds aggregates + ≤4096-row bucket-offsets windows",
    # r13: the materialized residual frame's accurate size stats let the
    # optimizer inject a runtime Bloom filter (SPARK-32268) into the
    # refine join — the single-partition exchange is bloom_filter_agg's
    # 1-row scalar-subquery aggregate over the QUERY slice (bounded by
    # |queries|·R·k candidates, never the corpus), and the injection
    # itself is size-thresholded (creationSideThreshold) so it stays off
    # for data-scale creation sides
    "ivf_pq_refined_topk": (
        "1-row bloom_filter_agg scalar subquery over the bounded query "
        "slice (runtime bloom-filter join injection)"
    ),
    "tfidf_topk_terms": "1-row corpus-count aggregate (idf)",
    "bm25_topk": "1-row corpus-stats aggregate + ≤4096-row bucket-offsets window",
    "dsir_weights": "1-row λ-totals aggregate",
    "dsir_sample": "1-row λ-totals aggregate + ≤4096-row bucket-offsets window",
    "prepare_corpus_manifest": (
        "1-row bounds/λ-totals aggregates + ≤4096-row bucket-offsets "
        "windows (manifest + DSIR + prefix sum)"
    ),
    "streaming_dsir_weights": "1-row λ-totals aggregate",
    "streaming_bm25_topk": "1-row bounds aggregate + ≤4096-row bucket-offsets window",
    "length_bucketed_batches": "1-row bounds aggregate + ≤4096-row bucket-offsets window",
    "padding_waste": "1-row bounds + 1-row waste-summary aggregates",
    "value_quantiles": "1-row bounds aggregate (offsets window is keyed)",
    "quality_gate_by_lang": "1-row bounds aggregate (offsets window is keyed)",
    "unigram_nll": "1-row corpus-token-total aggregate",
    "bigram_nll": "1-row vocabulary-size aggregate",
    "heavy_hitter_items": "1-row total aggregate (from sweep markers)",
    # α-weights: the normalization window runs over the POST-AGGREGATION
    # group table (|groups| rows — languages/sources, the mixing family's
    # low-cardinality contract), never over corpus rows
    "mixture_weights_alpha": "≤|groups|-row normalization window over the group table",
    # Stupid Backoff: the 1-row model token total's aggregate exchange
    "stupid_backoff_nll": "1-row model-token-total aggregate",
    # hybrid RRF: the component systems' 1-row stats aggregates + the
    # ≤4096-row bucket-offset windows of the three bounded rank stages
    "hybrid_rrf_topk": (
        "1-row stats aggregates + ≤4096-row bucket-offsets windows"
    ),
}


@pytest.fixture(scope="module")
def plans(constructed_plan_strings):
    """Every auditable query's physical-plan string — read from the
    session-scoped shared construction pass (conftest), which compiles
    each plan ONCE for this module and the fingerprint pins together
    (cache cleared before every construction, so the audited text never
    depends on test order). The edge plans are fingerprint-only; this
    audit sweeps the query surface proper."""
    return {
        n: p
        for n, p in constructed_plan_strings.items()
        if "@edges" not in n
    }


def test_no_cartesian_product_anywhere(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == [], f"cartesian product in: {offenders}"


def test_broadcast_nested_loop_only_with_bounded_sides(plans):
    offenders = [
        n for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in ALLOWED_BNLJ
    ]
    assert offenders == [], (
        f"unreviewed BroadcastNestedLoopJoin in: {offenders} — either fix "
        "the plan (equi-key shuffled join) or allowlist with the bound "
        "that keeps the broadcast side corpus-independent"
    )


def test_single_partition_exchange_only_for_scalar_aggregates(plans):
    offenders = [
        n for n, p in plans.items()
        if "Exchange SinglePartition" in p and n not in ALLOWED_SINGLE_PARTITION
    ]
    assert offenders == [], (
        f"unreviewed single-partition exchange in: {offenders} — all-data-"
        "through-one-task plans are only acceptable for 1-row aggregates"
    )


def test_allowlists_not_stale(plans):
    """An allowlist entry whose query no longer exhibits the pattern is
    stale — prune it so the lists stay an accurate plan inventory."""
    stale = [
        n for n in ALLOWED_BNLJ
        if n in plans and "BroadcastNestedLoopJoin" not in plans[n]
    ] + [
        n for n in ALLOWED_SINGLE_PARTITION
        if n in plans and "Exchange SinglePartition" not in plans[n]
    ]
    assert stale == [], f"stale allowlist entries: {stale}"


# --------------------------------------------------------- driver-action budget

def _jobs_for(spark, group: str, fn) -> int:
    """Count Spark jobs launched while running ``fn`` (job-group scoped),
    with the AQE confs the budgets below were measured under PINNED for
    the measurement (stage-job counts move with adaptive execution
    settings — a session or upstream default change would otherwise fail
    these caps spuriously; a Spark-version bump that re-shapes AQE stage
    scheduling is a legitimate re-measure-and-re-pin event)."""
    pinned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }
    old = {k: spark.conf.get(k) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        for k, v in old.items():
            spark.conf.set(k, v)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_components_fixpoint_probes_stay_on_budget(spark):
    """Iterative-CC driver-action budget (round-5 VERDICT ask #7): each
    fixpoint probe must be a cheap scan of the round's already-materialized
    checkpoint, never a second full join/exceptAll job per round.

    Note on units: under AQE every shuffle stage materializes as its own
    Spark *job*, so these counts are stage-jobs, not driver actions — but
    they are deterministic for a fixed input/config, which makes them a
    usable regression budget. Measured on a diameter-3 chain: new gated
    shape 47–49 stage-jobs; the previous shape (per-round isEmpty + count
    recomputation + ungated exceptAll pair) 56. Cap sits between the two.
    """
    from flink_cooccurrence_spark.operators.dedup import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "u long, v long"
    )

    n_star = _jobs_for(
        spark, "cc_star_probe",
        lambda: connected_components_star(edges).collect(),
    )
    assert n_star <= 53, f"star CC ran {n_star} stage-jobs on a 3-edge chain"


def test_propagation_fixpoint_probe_is_not_a_join(spark):
    """The propagation loop's convergence flag rides the checkpointed
    frame (`_changed` column) — job budget on the real operator at test
    SF: rounds are bounded by max component diameter (tiny here), and each
    round may launch at most checkpoint + isEmpty probes. A regression to
    the per-round labels×labels join-count shape roughly doubles the job
    count and breaks the cap.

    The cache is CLEARED first so the count is a session-order-
    independent fact: the former ≤16 cap was unknowingly calibrated
    against a suite ordering in which earlier modules left the shingle/
    edge subtrees cache-marked — run alone (or after the r13 shared
    construction sweep, which clears between constructions) the SAME
    code at the SAME r12 HEAD measures 30 jobs, because every internal
    .cache() fills from scratch inside the probe. Cap pinned at the
    cold-cache count (30, measured 4 of 4 times on a 4-core host) plus 3
    jobs of headroom, so a regression of a few jobs fails it too; a
    join-count regression roughly doubles it."""
    from flink_cooccurrence_spark.operators.dedup import dup_clusters
    from flink_cooccurrence_spark.sources import load_table

    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    n = _jobs_for(
        spark, "cc_prop_probe", lambda: dup_clusters(docs).collect()
    )
    # cold-cache budget: ≤3 label rounds (+1 confirmation) × (checkpoint
    # + probe) + the LSH edge build's cache fills + the final collect
    assert n <= 33, f"dup_clusters ran {n} jobs at sf0.001 (cold cache)"
