"""Product quantization (operators/pq.py).

The registry twin (`ivf_pq_topk` in test_oracle_parity.py) runs the full
DuckDB parity — per-subspace unrolled-kmeans codebooks, codes, ADC
scoring — at the test SF; these pin the structural contracts: code
bounds, map-only code assignment, partition invariance, and that the ADC
approximation actually ranks near-neighbors (recall > 0 on the meter is
asserted in test_similarity_scale.py)."""

from __future__ import annotations

import pytest

from flink_cooccurrence_spark.operators.pq import (
    PQ_KSUB,
    PQ_M,
    ivf_pq_topk,
    pq_codebooks,
    pq_codes,
    residual_pq_fit,
)


@pytest.fixture(scope="module")
def books(emb):
    # ONE codebook fit for the module — pq_codebooks runs m k-means
    # constructions, the file's dominant cost
    return pq_codebooks(emb)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).cache()
    e.count()
    yield e
    e.unpersist()


def test_codebooks_shape(spark, emb, books):
    assert len(books) == PQ_M
    dim = len(emb.select("embedding").first()["embedding"])
    for cents in books:
        assert len(cents) == PQ_KSUB
        assert all(len(c[1]) == dim // PQ_M for c in cents)


def test_codes_bounds_and_map_only_plan(spark, emb, books):
    codes = pq_codes(emb, books)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    # r12 optimization: a narrow scan may carry ONE round-robin spread
    # (similarity._spread — guide §2.5/§6: a single small input file
    # plans as one partition, serializing the m per-subspace score
    # folds on one core). Code assignment itself stays join-free with
    # no KEY shuffle: round-robin moves rows without comparing them.
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows:
        for s in range(PQ_M):
            assert 0 <= r[f"code_{s}"] < PQ_KSUB


def test_codes_invariant_under_repartition(spark, emb, books):
    a = sorted(tuple(r) for r in pq_codes(emb, books).collect())
    b = sorted(tuple(r) for r in pq_codes(emb.repartition(7), books).collect())
    assert a == b


def test_topk_contract(spark, emb):
    out = ivf_pq_topk(emb, k=3).collect()
    assert out, "no PQ results — the cell join or codes are broken"
    per_q: dict = {}
    for r in out:
        per_q.setdefault(r["q_id"], []).append(r)
        assert r["n_id"] != r["q_id"]
    for q, rows in per_q.items():
        ranks = sorted(x["rank"] for x in rows)
        assert ranks == list(range(1, len(rows) + 1))
        rows.sort(key=lambda x: x["rank"])
        cosines = [x["cosine"] for x in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_empty_corpus(spark):
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert ivf_pq_topk(empty).count() == 0
    assert ivf_pq_topk(empty, encode="residual").count() == 0
    assert pq_codebooks(empty) == []
    from flink_cooccurrence_spark.operators.pq import ivf_pq_refined_topk

    out = ivf_pq_refined_topk(empty)
    assert out.count() == 0
    assert out.columns == ["q_id", "rank", "n_id", "cosine", "cell"]


def test_residual_contract_and_recall_at_least_raw(spark, emb):
    """ONE residual construction serves both gates (the suite-wall
    consolidation rule): encode='residual' over kmeans cells obeys the
    raw path's output contract, and — the published claim, measured —
    must not lose recall vs raw PQ (ties at the tiny fixture SF; +78%
    measured at sf0.01, see the module docstring)."""
    from flink_cooccurrence_spark.operators.similarity import (
        ANN_K,
        embedding_knn,
    )

    out = ivf_pq_topk(
        emb, ANN_K, encode="residual", centroids="kmeans"
    ).collect()
    assert out, "no residual-PQ results"
    per_q: dict = {}
    for r in out:
        per_q.setdefault(r["q_id"], []).append(r)
        assert r["n_id"] != r["q_id"]
    for q, rows in per_q.items():
        ranks = sorted(x["rank"] for x in rows)
        assert ranks == list(range(1, len(rows) + 1))
    exact = (
        embedding_knn(emb, k=ANN_K, strategy="broadcast")
        .select("q_id", "n_id")
        .cache()
    )
    try:
        exact_pairs = {(r["q_id"], r["n_id"]) for r in exact.collect()}
        raw_hit = (
            ivf_pq_topk(emb, ANN_K)
            .select("q_id", "n_id")
            .join(exact, on=["q_id", "n_id"])
            .count()
        )
    finally:
        exact.unpersist()
    res_hit = sum(
        1 for r in out if (r["q_id"], r["n_id"]) in exact_pairs
    )
    assert res_hit >= raw_hit


def test_refined_scores_exact_and_recall_at_least_adc(spark, emb):
    """ONE refined construction serves three gates (the suite-wall
    consolidation rule): (a) the output contract (dense ranks, no
    self-pairs); (b) every refined cosine IS the exact cosine — refine's
    whole point is that only the candidate set stays approximate; (c)
    recall on the meter's definition is ≥ the residual ADC stage's —
    re-ranking a candidate superset with the true metric can only
    promote true neighbors into the top k."""
    import math

    from flink_cooccurrence_spark.operators.pq import ivf_pq_refined_topk
    from flink_cooccurrence_spark.operators.similarity import (
        ANN_K,
        embedding_knn,
    )

    out = ivf_pq_refined_topk(emb, ANN_K).collect()
    assert out, "no refined results"
    per_q: dict = {}
    for r in out:
        per_q.setdefault(r["q_id"], []).append(r)
        assert r["n_id"] != r["q_id"]
    for _q, rows in per_q.items():
        assert sorted(x["rank"] for x in rows) == list(
            range(1, len(rows) + 1)
        )
    # (b) exactness of the refined scores, checked by an INDEPENDENT
    # arithmetic path (numpy driver-side) — 2e-6 absorbs the rounding
    # half-step, far below the ADC approximation's error scale
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    for r in out:
        q, n = vecs[r["q_id"]], vecs[r["n_id"]]
        cos = sum(a * b for a, b in zip(q, n)) / (
            math.sqrt(sum(a * a for a in q)) * math.sqrt(sum(b * b for b in n))
        )
        assert abs(cos - r["cosine"]) < 2e-6, (r, cos)
    # (c) recall ≥ the ADC stage it re-ranks
    exact = (
        embedding_knn(emb, k=ANN_K, strategy="broadcast")
        .select("q_id", "n_id")
        .cache()
    )
    try:
        exact_pairs = {(r["q_id"], r["n_id"]) for r in exact.collect()}
        adc_hit = (
            ivf_pq_topk(emb, ANN_K, encode="residual", centroids="kmeans")
            .select("q_id", "n_id")
            .join(exact, on=["q_id", "n_id"])
            .count()
        )
    finally:
        exact.unpersist()
    ref_hit = sum(1 for r in out if (r["q_id"], r["n_id"]) in exact_pairs)
    assert ref_hit >= adc_hit


def test_residual_zero_residual_codes_are_deterministic(spark, emb):
    """Vectors that ARE a cell centroid have an exactly-zero residual —
    the L2 assignment must still code them deterministically (the
    smallest-norm codebook entry, ties to the lower code), never NULL."""
    from pyspark.sql import functions as F

    from flink_cooccurrence_spark.operators.pq import (
        PQ_RES_SEED_SALT,
        residual_frame,
    )
    from flink_cooccurrence_spark.operators.similarity import ivf_assignments

    assign = ivf_assignments(emb, 1)
    res = residual_frame(emb, assign)
    books = pq_codebooks(
        res, metric="l2", seed_salt=PQ_RES_SEED_SALT
    )
    zero_rows = res.filter(
        F.aggregate(
            F.col("embedding"), F.lit(0.0), lambda a, x: a + F.abs(x)
        )
        == 0.0
    )
    assert zero_rows.count() > 0, "expected the centroid sample's own rows"
    coded = pq_codes(zero_rows, books, metric="l2").collect()
    for r in coded:
        for s in range(PQ_M):
            assert r[f"code_{s}"] is not None
            assert 0 <= r[f"code_{s}"] < PQ_KSUB


def test_fused_fit_equals_per_subspace_kmeans(spark, emb, books):
    """The one-job-per-iteration fused multi-subspace Lloyd's must be
    bit-identical to m independent kmeans_centroids fits on the sliced
    frames — seeds, argmax, integer micro-sums, empty-cluster carry."""
    from pyspark.sql import functions as F

    from flink_cooccurrence_spark.operators.clustering import kmeans_centroids
    from flink_cooccurrence_spark.operators.pq import PQ_ITERS, _slices
    from flink_cooccurrence_spark.operators.similarity import _as_double

    dim = len(emb.select("embedding").first()["embedding"])
    for s, (lo, w) in enumerate(_slices(dim, PQ_M)):
        sub = emb.select(
            "vec_id",
            F.slice(_as_double(F.col("embedding")), lo, w).alias("embedding"),
        )
        ref = kmeans_centroids(sub, k=PQ_KSUB, n_iter=PQ_ITERS)
        assert books[s] == ref, f"subspace {s} diverged from kmeans_centroids"


#: settings of the small shared residual fit below (cheap: 2 subspaces,
#: 2 centroids each, one Lloyd iteration over hash cells)
FIT_SETTINGS = {"m": 2, "ksub": 2, "n_iter": 1, "centroids": "hash"}


@pytest.fixture(scope="module")
def small_fit(emb):
    return residual_pq_fit(emb, **FIT_SETTINGS)


def test_residual_fit_records_its_settings(spark, emb, small_fit):
    assert {k: small_fit[k] for k in FIT_SETTINGS} == FIT_SETTINGS
    # a fit consumed with the settings it was built with is accepted
    ivf_pq_topk(emb, encode="residual", fit=small_fit, **FIT_SETTINGS)


@pytest.mark.parametrize(
    "field, other",
    [("m", 4), ("ksub", 4), ("n_iter", 2), ("centroids", "kmeans")],
)
def test_mismatched_fit_is_rejected(spark, emb, small_fit, field, other):
    """A caller-supplied ``fit=`` built with different settings would
    encode against mismatched codebooks; it must fail loudly instead."""
    call = dict(FIT_SETTINGS, **{field: other})
    with pytest.raises(ValueError, match=field):
        ivf_pq_topk(emb, encode="residual", fit=small_fit, **call)
