"""Product quantization (PQ) over embedding columns — IVF-PQ, the ANN
composition actually deployed at 100 TB scale (Jégou, Douze & Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
faiss `IVFxx,PQyy` index family): IVF cells bound WHICH vectors a query
scores, PQ codes bound HOW MUCH it costs to score each one.

Each vector splits into ``m`` subvectors; every subspace gets its own
``ksub``-centroid codebook (spherical k-means — the package's
oracle-exact Lloyd machinery, ``operators/clustering.py``, run on the
sliced vectors); a vector's code is its ``m`` per-subspace nearest
centroids — ``m·log2(ksub)`` bits instead of ``dim`` floats (64-dim
float32 → 256 bytes becomes 4 codes → 2 bytes at m=4, ksub=4). Scoring
is ASYMMETRIC (ADC): the query stays exact; per subspace it precomputes
a ``ksub``-entry lookup table of dot products against the codebook once,
and each candidate costs ``m`` array lookups + adds instead of a
``dim``-element fold.

Determinism / oracle spec (shared verbatim with :func:`ivf_pq_sql`):

- Codebooks: per-subspace ``kmeans_centroids`` — seeded hash-order init,
  argmax of ``round(cos, 6)`` with ties to the lower id, integer
  micro-sum updates, empty-cluster carry. Identical arithmetic in the
  unrolled DuckDB CTE chain, so the two engines derive bit-identical
  codebooks (the proven ``kmeans_assign`` contract, per subspace).
- Codes: the same literal-centroid argmax, applied to the sliced vector.
- ADC score: ``adc = Σ_s dot(q_s, c_{s,code_s})`` (left-to-right adds),
  approximate norm ``= sqrt(Σ_s |c_{s,code_s}|²)`` with the squared
  norms accumulated by the same sequential fold as ``dot``; the reported
  column is ``round(adc / (q_norm · approx_norm), 6)`` — an APPROXIMATE
  cosine (that is PQ's contract; the ``ann_recall`` meter measures what
  the approximation costs).
- Zero-norm SUBVECTORS are undefined (the clustering module's zero-norm
  contract, inherited per slice).

Residual encoding (``encode='residual'``, Jégou et al. §IV-B — the
faiss ``IVFPQ`` default): instead of coding raw subvectors, each vector
is coded as its RESIDUAL ``r = v − c_cell(v)`` relative to its home IVF
centroid — code entropy is spent on within-cell variation instead of
re-encoding the cell mean, which is where most of PQ's accuracy lives.
Differences from the raw path, all mirrored verbatim in the oracle:

- Codebooks fit on residual subvectors with the L2 assignment the paper
  uses — argmax of ``round(dot(r_s, c_j) − 0.5·‖c_j‖², 6)`` (ties to
  the lower code; equivalent to min-L2 at fixed ‖r_s‖) — because
  residuals of the sampled-centroid vectors are exactly zero and the
  spherical form is undefined there; L2 handles zero vectors
  deterministically.
- Seeds order by a SALTED hash (``PQ_RES_SEED_SALT``): the unsalted
  hash order's first ``ksub`` rows are the IVF centroid sample itself,
  whose residuals are all-zero — every codebook would degenerate.
- Reconstruction is ``v̂ = c + r̂``; its exact squared norm is computed
  ONCE per corpus vector at code-assignment time (a dim-fold, index-time
  cost) and carried as a column, so query-time ADC stays ``m`` lookups:
  ``cosine = round((dot(q, c) + Σ_s lut_s[code_s]) / (q_norm·‖v̂‖), 6)``
  with ``dot(q, c)`` computed once per (query, probed cell). Zero-norm
  reconstructions are undefined (inherited zero-norm contract).

Scale shape: codebook fitting is ``m`` k-means constructions (driver
state m·ksub·(dim/m) doubles — KB, the faiss codebook contract); code
assignment is map-only literal when-chains; the candidate join is the
IVF cell join (never all-pairs), and the per-candidate cost inside it is
the whole point — at a billion vectors per cell-scan, ``m`` lookups vs a
``dim``-fold is the difference between memory-bandwidth-bound and
compute-bound scoring, and the code table is ~100× smaller than the
vectors it stands for (often the difference between spilling and not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_cooccurrence_spark.functions.arrays import (
    lit_double_matrix,
    lit_doubles,
)
from flink_cooccurrence_spark.functions.hashing import hash32, hash32_sql
from flink_cooccurrence_spark.operators.clustering import _py_norm
from flink_cooccurrence_spark.operators.similarity import (
    ANN_K,
    IVF_NUM_CENTROIDS,
    QUERY_MOD,
    _as_double,
    _with_norm,
    dot,
    ivf_assignments,
)
from flink_cooccurrence_spark.operators.topk import top_k_per_group

#: PQ configuration shared with the oracle SQL (fixed ⇒ static oracle;
#: a deployment scales ksub to 256 = 8-bit codes and m to dim/4..dim/8).
#: Chosen on the ann_recall meter over the synthetic corpus: random
#: embeddings are PQ's ADVERSARIAL case (near-equidistant points make
#: quantized dots noisy — recall 0.06 at m=4/ksub=4, 0.12 here; real
#: embedding manifolds quantize far better), and the meter records
#: exactly what the compression costs.
PQ_M = 8
PQ_KSUB = 16
PQ_ITERS = 1

#: seed-order salt for RESIDUAL codebooks — the unsalted hash order's
#: first ksub rows are exactly the IVF centroid sample, whose residuals
#: are all-zero (see the module docstring).
PQ_RES_SEED_SALT = "pqres:"

#: package-standard pre-compare rounding
ROUND_DIGITS = 6


def _fold_sq(emb: list[float]) -> float:
    """Sequential-fold sum of squares — the same left fold as ``dot`` /
    DuckDB's ``list_dot_product(v, v)`` so the literal squared norms are
    bit-identical to what the oracle computes."""
    acc = 0.0
    for x in emb:
        acc += x * x
    return acc


def _slices(dim: int, m: int) -> list[tuple[int, int]]:
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    return [(s * w + 1, w) for s in range(m)]  # (1-based start, length)


def pq_fit_frame(embeddings: DataFrame) -> DataFrame:
    """Eagerly materialize a codebook-fit input frame ONCE so a caller
    can share it between :func:`pq_codebooks` (``prepared=True``) and
    the coding pass (:func:`pq_codes`) — without this the fit
    checkpoints its own copy and the lazy coding plan RE-EXECUTES the
    whole upstream chain (for the residual paths that chain is the
    home-cell assignment + two joins over the corpus — a full redundant
    pass per pipeline construction, guide §1.2). Extra columns (cell,
    centroid) ride along for the coding pass; the fit only reads
    (vec_id, embedding).

    Checkpoint FIRST, probe after: ``_spread``'s partition probe on a
    shuffle-bearing plan would eagerly execute the upstream query stages
    just to read a count (and AQE would coalesce the tiny local frame to
    one partition anyway). Probing the materialized RDD is free; the
    narrow case re-spreads the already-local blocks (a round-robin pass
    over what was just measured too small to matter) so the m·ksub
    interpreted score folds never serialize on one core. At data scale
    the checkpoint carries ≥ cores partitions and this is a no-op."""
    chk = embeddings.localCheckpoint(eager=True)
    sc = embeddings.sparkSession.sparkContext
    target = sc.defaultParallelism
    if chk.rdd.getNumPartitions() < target:
        chk = chk.repartition(target).localCheckpoint(eager=True)
    return chk


def pq_codebooks(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iter: int = PQ_ITERS,
    metric: str = "cos",
    seed_salt: str = "",
    prepared: bool = False,
) -> list[list[tuple[int, list[float], float]]]:
    """Fit the ``m`` per-subspace codebooks: list (per subspace) of
    [(code, components, norm)]. Driver state m·ksub·(dim/m) doubles;
    construction is eager (the clustering module's documented contract)
    but FUSED: one seed collect + one micro-sum job per iteration
    advance all m subspaces together (see the inline comment).

    ``embeddings`` is any (vec_id, embedding) frame — the raw corpus or
    the residual frame. ``metric`` picks the assignment rule ('cos' for
    the raw path, 'l2' for residuals); ``seed_salt`` prefixes the seed
    hash order (residual mode; see the module docstring). ``prepared``
    marks an input already materialized via :func:`pq_fit_frame` — the
    fit then skips its own spread+checkpoint (plan-construction hygiene:
    the shared frame serves the fit's jobs AND the caller's coding pass,
    one upstream execution instead of two)."""
    first = embeddings.select("embedding").first()
    if first is None:
        return []
    dim = len(first["embedding"])
    w = dim // m
    _slices(dim, m)  # divisibility check
    # FUSED multi-subspace Lloyd's: all m fits advance in lockstep with
    # ONE Spark job per step — one seed collect (the seed ROWS are
    # subspace-independent: the same hash-order sample, sliced
    # driver-side) and one micro-sum aggregation per iteration (each
    # vector's m codes computed in the same map pass, exploded to
    # (subspace, cluster, dim) integer micro-sums). Bit-identity to m
    # independent ``kmeans_centroids`` fits on the sliced frames is
    # pinned by tests (identical seeds, argmax, exact-integer update,
    # carry); at corpus scale this is m× fewer scans per iteration.
    # _spread: a narrow (single small file) scan would run every per-
    # iteration scoring pass — m·ksub interpreted dot folds per row — on
    # one core; no-op when the input already carries ≥ cores partitions
    from flink_cooccurrence_spark.operators.similarity import _spread

    src = (
        embeddings
        if prepared
        else _spread(embeddings.select("vec_id", "embedding")).localCheckpoint(
            eager=True
        )
    )
    seed_key = hash32(
        F.concat(F.lit(seed_salt), F.col("vec_id").cast("string"))
    ) if seed_salt else hash32(F.col("vec_id").cast("string"))
    seeds = (
        src.orderBy(seed_key, F.col("vec_id"))
        .limit(ksub)
        .select("embedding")
        .collect()
    )
    books: list[list[tuple[int, list[float], float]]] = []
    for s in range(m):
        cents = []
        for i, r in enumerate(seeds):
            emb = [float(x) for x in r["embedding"][s * w : (s + 1) * w]]
            cents.append((i, emb, _py_norm(emb)))
        books.append(cents)
    if not books[0]:
        return []
    v = _as_double(F.col("embedding"))
    micro = F.round(F.col("x") * F.lit(1000000.0), 0).cast("long")
    for _ in range(n_iter):
        staged = src.select(
            "embedding",
            *[
                _scores_arr(
                    F.slice(v, s * w + 1, w), books[s], metric=metric
                ).alias(f"_sc_{s}")
                for s in range(m)
            ],
        )
        long = staged.select(
            F.array(
                *[_argmax_code(F.col(f"_sc_{s}")) for s in range(m)]
            ).alias("_codes"),
            F.posexplode(v).alias("d0", "x"),
        )
        rows = (
            long.select(
                (F.col("d0") / F.lit(w)).cast("int").alias("s"),
                F.element_at(
                    F.col("_codes"), (F.col("d0") / F.lit(w)).cast("int") + 1
                ).alias("cluster"),
                (F.col("d0") % F.lit(w)).alias("dim"),
                F.col("x"),
            )
            .groupBy("s", "cluster", "dim")
            .agg(F.sum(micro).alias("sm"), F.count("*").alias("n"))
            .collect()
        )
        sums: dict[tuple[int, int], list[int]] = {}
        counts: dict[tuple[int, int], int] = {}
        for r in rows:
            sums.setdefault((r["s"], r["cluster"]), [0] * w)[r["dim"]] = r["sm"]
            counts[(r["s"], r["cluster"])] = r["n"]
        new_books = []
        for s in range(m):
            new_cents = []
            for i, old_emb, old_norm in books[s]:
                if (s, i) in counts:
                    n = counts[(s, i)]
                    emb = [x / (1000000.0 * n) for x in sums[(s, i)]]
                    new_cents.append((i, emb, _py_norm(emb)))
                else:  # empty cluster keeps its previous centroid
                    new_cents.append((i, old_emb, old_norm))
            new_books.append(new_cents)
        books = new_books
    return books


def _cents_lit(cents) -> Column:
    """The codebook as ONE literal array-of-arrays column — built with a
    single ``F.lit(nested_list)`` call (the resulting expression tree is
    the identical array(array(...)) literal; building it element-wise
    cost one py4j round trip PER DOUBLE, thousands per codebook, and
    plan construction — not execution — dominated the ANN family's
    wall, guide §1.1 measure-first)."""
    return lit_double_matrix([emb for _, emb, _n in cents])


def _scores_arr(sub_v: Column, cents, metric: str = "cos") -> Column:
    """The subspace's rounded assignment-score array against its
    codebook (one entry per code, code order): rounded cosine for
    ``metric='cos'`` (the raw path) or the rounded L2 surrogate
    ``dot − 0.5·‖c‖²`` for ``metric='l2'`` (residuals — defined on
    zero vectors).

    Built as ONE ``transform`` over the literal codebook array rather
    than ``ksub`` unrolled dot folds: the arithmetic is identical (the
    same left fold runs per element at runtime), but the expression
    tree shrinks ~ksub× — the m·ksub unrolled form was ANALYSIS/CODEGEN
    bound, a constant ~8s per construction at any corpus size (round-10
    measurement: fit 8.3s→3.2s, flat from sf0.01 to sf0.1 either way,
    bit-identity pinned)."""
    ks = F.sequence(F.lit(1), F.lit(len(cents)))
    cents_arr = _cents_lit(cents)
    if metric == "l2":
        n2_arr = lit_doubles([_fold_sq(emb) for _, emb, _n in cents])
        return F.transform(
            ks,
            lambda j: F.round(
                dot(sub_v, F.element_at(cents_arr, j))
                - F.lit(0.5) * F.element_at(n2_arr, j),
                ROUND_DIGITS,
            ),
        )
    if metric != "cos":
        raise ValueError(f"unknown metric {metric!r}")
    norm = F.sqrt(dot(sub_v, sub_v))
    norms_arr = lit_doubles([cnorm for _, _emb, cnorm in cents])
    return F.transform(
        ks,
        lambda j: F.round(
            dot(sub_v, F.element_at(cents_arr, j))
            / (norm * F.element_at(norms_arr, j)),
            ROUND_DIGITS,
        ),
    )


def _lut_arr(sub_v: Column, cents) -> Column:
    """Query-side ADC lookup table for one subspace: dot(q_s, c_j) per
    code — the same transform-over-literal-codebook shape as
    :func:`_scores_arr` (identical arithmetic, ~ksub× smaller tree)."""
    cents_arr = _cents_lit(cents)
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(cents))),
        lambda j: dot(sub_v, F.element_at(cents_arr, j)),
    )


def _argmax_code(arr: Column) -> Column:
    """Argmax over a scores-array COLUMN: ``array_position`` returns the
    FIRST index of the max, so ties land on the lower code — the
    clustering module's exact tie rule. Taking a column reference (not
    the array expression) matters: a when-chain over inline expressions
    re-inlines every dot fold ~k× and the codegen compile time dwarfs
    the data (the k-means literal path's cost at large k); behind a
    projection boundary each fold compiles once."""
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


def pq_codes(
    embeddings: DataFrame,
    books,
    m: int = PQ_M,
    metric: str = "cos",
) -> DataFrame:
    """(vec_id, code_0..code_{m-1}): the compressed corpus — join-free,
    no KEY shuffle; at most one row-preserving round-robin spread when
    the input is a narrow scan (``_spread``; the re-pinned plan test
    allows exactly that exchange). Extra input columns pass through
    unchanged (the residual path carries its cell and centroid
    alongside)."""
    from flink_cooccurrence_spark.operators.similarity import _spread

    first = embeddings.select("embedding").first()
    dim = len(first["embedding"]) if first is not None else m
    passthrough = [c for c in embeddings.columns if c != "embedding"]
    v = _as_double(F.col("embedding"))
    # _spread: the m per-subspace score arrays are interpreted
    # higher-order-function folds — on a narrow scan this map pass
    # serializes on one core (no-op on already-wide inputs)
    staged = _spread(embeddings).select(
        *passthrough,
        *[
            _scores_arr(F.slice(v, lo, w), books[s], metric=metric).alias(
                f"_sc_{s}"
            )
            for s, (lo, w) in enumerate(_slices(dim, m))
        ],
    )
    return staged.select(
        *passthrough,
        *[
            _argmax_code(F.col(f"_sc_{s}")).alias(f"code_{s}")
            for s in range(m)
        ],
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    k: int = ANN_K,
    nprobe: int = 1,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iter: int = PQ_ITERS,
    encode: str = "raw",
    centroids: str = "hash",
    fit: dict | None = None,
) -> DataFrame:
    """(q_id, rank, n_id, cosine, cell): IVF-PQ approximate top-k.

    The IVF half is :func:`similarity.ivf_assignments` unchanged (hash
    cells — the static-oracle default); the PQ half replaces the cell's
    exact per-candidate fold with ADC: queries carry one ``ksub``-entry
    LUT array per subspace (computed once per query), candidates carry
    ``m`` int codes, and the pair score is ``m`` ``element_at`` lookups.
    ``cosine`` is the PQ-approximate cosine (module docstring).
    ``encode='residual'`` codes residuals against the home-cell centroid
    (the published default — module docstring) instead of raw vectors."""
    if encode == "residual":
        return _ivf_pq_residual_topk(
            embeddings, k, nprobe, m, ksub, n_iter,
            centroids=centroids, fit=fit,
        )
    if encode != "raw":
        raise ValueError(f"unknown encode {encode!r}")
    if centroids != "hash":
        raise ValueError("raw encode supports only the 'hash' cell set")
    books = pq_codebooks(embeddings, m, ksub, n_iter)
    if not books:
        return embeddings.sparkSession.createDataFrame(
            [], "q_id long, rank int, n_id long, cosine double, cell long"
        )
    dim = sum(1 for _ in books[0][0][1]) * m
    base = _with_norm(embeddings.select("vec_id", "embedding"))
    # two consumers (home cells + query probes) — cache so the centroid
    # assignment pass runs once
    assign = ivf_assignments(embeddings, nprobe).cache()
    home = assign.filter(F.col("probe_rank") == 1).select("vec_id", "cell")
    corpus = pq_codes(
        embeddings.select("vec_id", "embedding"), books, m
    ).join(home.hint("shuffle_hash"), on="vec_id")
    v = _as_double(F.col("embedding"))
    lut_cols = [
        _lut_arr(F.slice(v, lo, w), books[s]).alias(f"lut_{s}")
        for s, (lo, w) in enumerate(_slices(dim, m))
    ]
    q_cells = assign.filter(
        ((F.col("vec_id") % QUERY_MOD) == 0) & (F.col("probe_rank") <= nprobe)
    ).select(F.col("vec_id").alias("q_id"), "cell")
    queries = (
        base.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("norm").alias("q_norm"),
            *lut_cols,
        )
        .join(q_cells.hint("shuffle_hash"), on="q_id")
    )
    pairs = corpus.join(queries.hint("shuffle_hash"), on="cell").filter(
        F.col("vec_id") != F.col("q_id")
    )
    # fixed-order left-to-right adds (not an aggregation) — both engines
    # evaluate the identical expression tree
    adc = F.element_at(F.col("lut_0"), F.col("code_0") + 1)
    for s in range(1, m):
        adc = adc + F.element_at(F.col(f"lut_{s}"), F.col(f"code_{s}") + 1)
    norm2_luts = [
        lit_doubles([_fold_sq(emb) for _, emb, _n in books[s]])
        for s in range(m)
    ]
    n2 = F.element_at(norm2_luts[0], F.col("code_0") + 1)
    for s in range(1, m):
        n2 = n2 + F.element_at(norm2_luts[s], F.col(f"code_{s}") + 1)
    scored = pairs.select(
        "q_id",
        "cell",
        F.col("vec_id").alias("n_id"),
        F.round(adc / (F.col("q_norm") * F.sqrt(n2)), ROUND_DIGITS).alias(
            "cosine"
        ),
    )
    return top_k_per_group(
        scored, ["q_id"], "cosine", k, tie_breakers=["n_id"]
    ).select("q_id", "rank", "n_id", "cosine", "cell")


def _cells_table(embeddings: DataFrame, centroids: str) -> DataFrame:
    """(c_id, c_emb, c_norm): the IVF cell set — the 'hash' seeded
    sample or the 'kmeans' fitted set (``similarity.ivf_assignments``'s
    cell sets). The kmeans form is an EAGER construction (Lloyd jobs
    run now), so callers with several centroid consumers build this
    ONCE and thread it through."""
    from flink_cooccurrence_spark.operators.similarity import (
        ivf_centroids,
        ivf_centroids_kmeans,
    )

    if centroids == "kmeans":
        return ivf_centroids_kmeans(embeddings)
    if centroids == "hash":
        return ivf_centroids(embeddings)
    raise ValueError(f"unknown centroids {centroids!r}")


def _cell_centroids(
    embeddings: DataFrame, centroids: str, cents: DataFrame | None = None
) -> DataFrame:
    """(cell, c_v): the IVF cell centroid table as doubles — projected
    from ``cents`` when the caller already built the table (one k-means
    fit shared across all centroid consumers), else fit/sampled here."""
    if cents is None:
        cents = _cells_table(embeddings, centroids)
    return cents.select(
        F.col("c_id").alias("cell"), _as_double(F.col("c_emb")).alias("c_v")
    )


def residual_frame(
    embeddings: DataFrame,
    assign: DataFrame,
    centroids: str = "hash",
    cent_frame: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, cell, c_v, embedding): each vector's home cell, its
    centroid (double), and the residual ``v − c`` under the codebook
    machinery's expected column name. One corpus pass: home-cell attach
    (shuffled hash join) + a broadcast of the fixed-K centroid table.
    ``cent_frame`` is the shared PROJECTED (cell, c_v) frame when the
    caller already holds one (see :func:`_cell_centroids`) — named
    differently from ``ivf_assignments``' raw (c_id, c_emb, c_norm)
    ``cents`` param precisely because the two schemas are not
    interchangeable (r12 advice)."""
    cents = cent_frame
    if cents is None:
        cents = _cell_centroids(embeddings, centroids)
    home = assign.filter(F.col("probe_rank") == 1).select("vec_id", "cell")
    return (
        embeddings.select(
            "vec_id", _as_double(F.col("embedding")).alias("_v")
        )
        .join(home.hint("shuffle_hash"), on="vec_id")
        .join(F.broadcast(cents), on="cell")
        .select(
            "vec_id",
            "cell",
            "c_v",
            F.zip_with(F.col("_v"), F.col("c_v"), lambda x, y: x - y).alias(
                "embedding"
            ),
        )
    )


def residual_pq_fit(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iter: int = PQ_ITERS,
    centroids: str = "kmeans",
    cents_tbl: DataFrame | None = None,
) -> dict:
    """ONE eager construction of every nprobe-independent piece of the
    residual IVF-PQ pipeline — the cell set, its (cell, c_v) projection,
    the home-cell assignment, the materialized residual frame, and the
    fitted codebooks — so a caller evaluating SEVERAL members of the
    family (the ``ann_recall`` meter runs the residual ADC, the refined
    form, and the refined nprobe=4 form in one query) fits once instead
    of once per member (guide §1.2; the r12 within-pipeline sharing,
    extended across pipelines). All pieces are deterministic, so sharing
    is plan-construction hygiene — the values are bit-identical to
    per-member fits."""
    if cents_tbl is None:
        cents_tbl = _cells_table(embeddings, centroids)
    cent_frame = _cell_centroids(embeddings, centroids, cents=cents_tbl)
    assign1 = ivf_assignments(embeddings, 1, cents=cents_tbl).cache()
    res = pq_fit_frame(
        residual_frame(embeddings, assign1, cent_frame=cent_frame)
    )
    books = pq_codebooks(
        res, m, ksub, n_iter,
        metric="l2", seed_salt=PQ_RES_SEED_SALT, prepared=True,
    )
    return {
        "cents_tbl": cents_tbl,
        "cent_frame": cent_frame,
        "assign1": assign1,
        "res": res,
        "books": books,
        "m": m,
        "ksub": ksub,
        "n_iter": n_iter,
        "centroids": centroids,
    }


def _check_fit(fit: dict, **settings) -> None:
    """Reject a caller-supplied :func:`residual_pq_fit` built with other
    settings than the call consuming it — its codebooks would silently
    encode against the wrong subspaces, codebook size or cell set."""
    for key, want in settings.items():
        if fit.get(key) != want:
            raise ValueError(
                f"fit= was built with {key}={fit.get(key)!r} but this call "
                f"uses {key}={want!r}"
            )


def _ivf_pq_residual_topk(
    embeddings: DataFrame,
    k: int,
    nprobe: int,
    m: int,
    ksub: int,
    n_iter: int,
    centroids: str = "hash",
    fit: dict | None = None,
) -> DataFrame:
    """The ``encode='residual'`` body of :func:`ivf_pq_topk` (module
    docstring for the published-form rationale and determinism spec).

    ``centroids`` matters here far more than for plain IVF: residuals
    only shrink when the cell mean is actually NEAR its members. On the
    adversarial random corpus the seeded-sample ('hash') cells leave
    residuals as large as the vectors (measured recall 0.10 vs raw PQ's
    0.12 on the ann_recall meter), while fitted ('kmeans') cells realize
    the published gain (measured 0.213 — +78% over raw PQ). The
    registered flagship uses 'kmeans'."""
    # ONE centroid construction for the whole pipeline: the fitted cell
    # set has THREE consumers here (the assignment pass, the residual
    # frame's centroid attach, the query side's dot(q, c)) and the
    # 'kmeans' fit is an EAGER construction — fitting it per consumer
    # tripled construction-time Spark jobs (measured ~2s per redundant
    # fit at sf0.1) for bit-identical centroid literals.
    if fit is None:
        fit = residual_pq_fit(
            embeddings, m, ksub, n_iter, centroids=centroids
        )
    else:
        _check_fit(fit, m=m, ksub=ksub, n_iter=n_iter, centroids=centroids)
    cent_frame, res, books = fit["cent_frame"], fit["res"], fit["books"]
    # the fit's home-cell assignment is reused when this member probes a
    # single cell; a multi-probe member ranks top-nprobe against the SAME
    # shared cell set (cached — two consumers: query probes here, and the
    # corpus side reads its home cells through the materialized res)
    assign = (
        fit["assign1"]
        if nprobe == 1
        else ivf_assignments(embeddings, nprobe, cents=fit["cents_tbl"]).cache()
    )
    if not books:
        return embeddings.sparkSession.createDataFrame(
            [], "q_id long, rank int, n_id long, cosine double, cell long"
        )
    dim = len(books[0][0][1]) * m
    # codes + the exact reconstruction squared norm ‖c + r̂‖² in ONE pass
    # — the dim-length fold runs at INDEX time, once per corpus vector,
    # never per candidate pair (faiss's precomputed-norms trick)
    coded = pq_codes(res, books, m, metric="l2")
    book_arrays = [
        lit_double_matrix([emb for _, emb, _n in books[s]])
        for s in range(m)
    ]
    rhat = F.concat(
        *[
            F.element_at(book_arrays[s], F.col(f"code_{s}") + 1)
            for s in range(m)
        ]
    )
    vhat = F.zip_with(F.col("c_v"), rhat, lambda a, b: a + b)
    corpus = coded.select(
        "vec_id",
        "cell",
        *[f"code_{s}" for s in range(m)],
        dot(vhat, vhat).alias("recon_n2"),
    )
    base = _with_norm(embeddings.select("vec_id", "embedding"))
    v = _as_double(F.col("embedding"))
    lut_cols = [
        _lut_arr(F.slice(v, lo, w), books[s]).alias(f"lut_{s}")
        for s, (lo, w) in enumerate(_slices(dim, m))
    ]
    q_cells = assign.filter(
        ((F.col("vec_id") % QUERY_MOD) == 0) & (F.col("probe_rank") <= nprobe)
    ).select(F.col("vec_id").alias("q_id"), "cell")
    queries = (
        base.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("norm").alias("q_norm"),
            v.alias("_qv"),
            *lut_cols,
        )
        .join(q_cells.hint("shuffle_hash"), on="q_id")
        .join(F.broadcast(cent_frame), on="cell")
        .select(
            "q_id",
            "cell",
            "q_norm",
            # dot(q, c) once per (query, probed cell) — the cell-mean
            # part of the ADC score
            dot(F.col("_qv"), F.col("c_v")).alias("qc"),
            *[f"lut_{s}" for s in range(m)],
        )
    )
    pairs = corpus.join(queries.hint("shuffle_hash"), on="cell").filter(
        F.col("vec_id") != F.col("q_id")
    )
    # fixed-order left-to-right adds starting at dot(q, c) — both engines
    # evaluate the identical expression tree
    adc = F.col("qc")
    for s in range(m):
        adc = adc + F.element_at(F.col(f"lut_{s}"), F.col(f"code_{s}") + 1)
    scored = pairs.select(
        "q_id",
        "cell",
        F.col("vec_id").alias("n_id"),
        F.round(
            adc / (F.col("q_norm") * F.sqrt(F.col("recon_n2"))), ROUND_DIGITS
        ).alias("cosine"),
    )
    return top_k_per_group(
        scored, ["q_id"], "cosine", k, tie_breakers=["n_id"]
    ).select("q_id", "rank", "n_id", "cosine", "cell")


#: refine (re-rank) candidate expansion — retrieve ``R·k`` by ADC, then
#: re-score only those with exact cosine (the faiss ``IndexRefineFlat``
#: ``k_factor``). 4 is the library's conventional default: the ADC
#: ranking rarely buries a true top-k neighbor deeper than a few k.
PQ_REFINE_FACTOR = 4


def refine_exact(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = ANN_K,
    queries: DataFrame | None = None,
) -> DataFrame:
    """(q_id, rank, n_id, cosine, cell): exact-cosine re-rank of a
    BOUNDED candidate frame — the faiss ``IndexRefineFlat`` stage.

    ``candidates`` is any (q_id, n_id, cell, ...) frame (the ADC top
    ``R·k``); ``corpus`` is the original flat vectors (vec_id,
    embedding); ``queries`` optionally supplies the query vectors as
    (q_id, embedding) — defaults to the corpus itself (the self-join
    benches). The re-score is the oracle-proven exact cosine
    (``similarity._knn_cosine``: ``round(dot/(qn·nn), 6)``), so refined
    scores are EXACT — only the candidate set is approximate.

    Scale shape: the joins back to the flat vectors are
    O(queries · R · k) rows — bounded by the candidate list, never the
    corpus pair space — and both are shuffled hash joins (query count
    grows with the corpus; nothing broadcasts)."""
    from flink_cooccurrence_spark.operators.similarity import _knn_cosine

    if "cell" not in candidates.columns:
        # candidate generators without an IVF stage (e.g. the PCA
        # reduced-space retrieval) carry no cell; −1 marks "no cell"
        candidates = candidates.withColumn(
            "cell", F.lit(-1).cast("bigint")
        )
    nv = _with_norm(corpus.select("vec_id", "embedding")).select(
        F.col("vec_id").alias("n_id"), "embedding", "norm"
    )
    if queries is None:
        queries = corpus.select(F.col("vec_id").alias("q_id"), "embedding")
    qv = _with_norm(queries.select("q_id", "embedding")).select(
        "q_id",
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    rescored = (
        candidates.select("q_id", "n_id", "cell")
        .join(nv.hint("shuffle_hash"), on="n_id")
        .join(qv.hint("shuffle_hash"), on="q_id")
        .select("q_id", "cell", "n_id", _knn_cosine().alias("cosine"))
    )
    return top_k_per_group(
        rescored, ["q_id"], "cosine", k, tie_breakers=["n_id"]
    ).select("q_id", "rank", "n_id", "cosine", "cell")


def ivf_pq_refined_topk(
    embeddings: DataFrame,
    k: int = ANN_K,
    refine_factor: int = PQ_REFINE_FACTOR,
    nprobe: int = 1,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iter: int = PQ_ITERS,
    encode: str = "residual",
    centroids: str = "kmeans",
    fit: dict | None = None,
) -> DataFrame:
    """(q_id, rank, n_id, cosine, cell): IVF-PQ with an exact re-rank —
    the faiss ``IndexRefineFlat(IndexIVFPQ)`` composition, the standard
    production repair for the ADC approximation's recall ceiling.

    Stage 1 retrieves the top ``refine_factor·k`` candidates per query
    by ADC (defaults: residual encoding over fitted cells — the
    strongest ADC variant on the ``ann_recall`` meter); stage 2
    re-scores ONLY those candidates with exact cosine against the
    original vectors and returns the exact-scored top ``k``
    (:func:`refine_exact`). The result's ``cosine`` is EXACT — refine
    trades a bounded O(queries·R·k) join for near-exact recall, and the
    remaining misses are exactly the true neighbors the ADC stage never
    surfaced (measured on the ``ann_recall`` meter as
    ``ivf_pq_refined``)."""
    cand = ivf_pq_topk(
        embeddings,
        k=refine_factor * k,
        nprobe=nprobe,
        m=m,
        ksub=ksub,
        n_iter=n_iter,
        encode=encode,
        centroids=centroids,
        fit=fit,
    )
    return refine_exact(cand, embeddings.select("vec_id", "embedding"), k)


# ---------------------------------------------------------------- oracle SQL


def _sub_kmeans_sql(
    s: int,
    lo: int,
    hi: int,
    ksub: int,
    n_iter: int,
    src: str = "base",
    metric: str = "cos",
    seed_salt: str = "",
) -> str:
    """CTE chain fitting subspace ``s``'s codebook — the clustering
    module's unrolled Lloyd arithmetic (integer micro-sums, empty-cluster
    carry, round-then-tie argmax) on the sliced vectors of CTE ``src``,
    CTE names suffixed per subspace. ``metric``/``seed_salt`` mirror
    :func:`pq_codebooks` (the residual mode's L2 surrogate + salted
    seed order)."""
    if metric == "l2":
        score = (
            f"round(list_dot_product(n.v, c.c_v)"
            f" - 0.5 * list_dot_product(c.c_v, c.c_v), {ROUND_DIGITS})"
        )
    else:
        score = (
            f"round(list_dot_product(n.v, c.c_v) / (n.norm * c.c_norm),"
            f" {ROUND_DIGITS})"
        )
    seed_expr = (
        hash32_sql(f"('{seed_salt}' || CAST(vec_id AS VARCHAR))")
        if seed_salt
        else hash32_sql("CAST(vec_id AS VARCHAR)")
    )
    blocks = [
        f"""
sub{s} AS (
  SELECT vec_id, v[{lo}:{hi}] AS v,
         sqrt(list_dot_product(v[{lo}:{hi}], v[{lo}:{hi}])) AS norm
  FROM {src}
),
cb{s}_0 AS (
  SELECT CAST(row_number() OVER (
           ORDER BY {seed_expr}, vec_id
         ) AS INT) - 1 AS cluster,
         v AS c_v, norm AS c_norm
  FROM sub{s}
  ORDER BY {seed_expr}, vec_id
  LIMIT {ksub}
)"""
    ]
    for t in range(1, n_iter + 1):
        blocks.append(
            f"""
asg{s}_{t} AS (
  SELECT vec_id, cluster, v FROM (
    SELECT n.vec_id, c.cluster, n.v,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {score} DESC, c.cluster
           ) AS rn
    FROM sub{s} n CROSS JOIN cb{s}_{t - 1} c
  ) WHERE rn = 1
),
sm{s}_{t} AS (
  SELECT cluster, dim,
         CAST(SUM(CAST(round(x * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sm,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT cluster, generate_subscripts(v, 1) AS dim, unnest(v) AS x
    FROM asg{s}_{t}
  )
  GROUP BY cluster, dim
),
nc{s}_{t} AS (
  SELECT cluster,
         list(CAST(sm AS DOUBLE) / (1000000.0 * n) ORDER BY dim) AS c_v
  FROM sm{s}_{t} GROUP BY cluster
),
cb{s}_{t} AS (
  SELECT p.cluster, COALESCE(nc.c_v, p.c_v) AS c_v,
         sqrt(list_dot_product(COALESCE(nc.c_v, p.c_v),
                               COALESCE(nc.c_v, p.c_v))) AS c_norm
  FROM cb{s}_{t - 1} p LEFT JOIN nc{s}_{t} nc USING (cluster)
)"""
        )
    blocks.append(
        f"""
code{s} AS (
  SELECT vec_id, cluster AS code FROM (
    SELECT n.vec_id, c.cluster,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY {score} DESC, c.cluster
           ) AS rn
    FROM sub{s} n CROSS JOIN cb{s}_{n_iter} c
  ) WHERE rn = 1
)"""
    )
    return ",".join(blocks)


def ivf_pq_sql(
    k: int = ANN_K,
    nprobe: int = 1,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iter: int = PQ_ITERS,
    dim: int = 64,
    encode: str = "raw",
    centroids: str = "hash",
) -> str:
    if encode == "residual":
        return _ivf_pq_residual_sql(
            k, nprobe, m, ksub, n_iter, dim, centroids=centroids
        )
    if encode != "raw":
        raise ValueError(f"unknown encode {encode!r}")
    if centroids != "hash":
        raise ValueError("raw encode supports only the 'hash' cell set")
    w = dim // m
    subs = ",".join(
        _sub_kmeans_sql(s, s * w + 1, (s + 1) * w, ksub, n_iter)
        for s in range(m)
    )
    code_joins = " ".join(
        f"JOIN code{s} c{s} ON c{s}.vec_id = n.vec_id" for s in range(m)
    )
    code_cols = ", ".join(f"c{s}.code AS code_{s}" for s in range(m))
    adc = " + ".join(
        f"list_dot_product(q.v[{s * w + 1}:{(s + 1) * w}], b{s}.c_v)"
        for s in range(m)
    )
    n2 = " + ".join(
        f"list_dot_product(b{s}.c_v, b{s}.c_v)" for s in range(m)
    )
    book_joins = " ".join(
        f"JOIN cb{s}_{n_iter} b{s} ON b{s}.cluster = n.code_{s}"
        for s in range(m)
    )
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
normed AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM base),
{subs},
cents AS (
  SELECT vec_id AS c_id, v AS c_v, norm AS c_norm
  FROM normed
  ORDER BY {hash32_sql("CAST(vec_id AS VARCHAR)")}, vec_id
  LIMIT {IVF_NUM_CENTROIDS}
),
assign_scored AS (
  SELECT n.vec_id, c.c_id,
         round(list_dot_product(n.v, c.c_v) / (n.norm * c.c_norm), 6) AS cos_c
  FROM normed n CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, c_id AS cell, rn AS probe_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, c_id) AS rn
    FROM assign_scored
  ) WHERE rn <= {nprobe}
),
pqcodes AS (
  SELECT n.vec_id, {code_cols} FROM normed n {code_joins}
),
corpus AS (
  SELECT p.*, a.cell FROM pqcodes p
  JOIN assigned a ON a.vec_id = p.vec_id AND a.probe_rank = 1
),
qprobe AS (
  SELECT a.vec_id AS q_id, a.cell, q.v, q.norm
  FROM assigned a JOIN normed q ON q.vec_id = a.vec_id
  WHERE a.vec_id % {QUERY_MOD} = 0
),
pairs AS (
  SELECT q.q_id, q.cell AS cell, n.vec_id AS n_id,
         round(({adc}) / (q.norm * sqrt({n2})), {ROUND_DIGITS}) AS cosine
  FROM qprobe q
  JOIN corpus n ON n.cell = q.cell AND n.vec_id != q.q_id
  {book_joins}
),
ranked AS (
  SELECT q_id, cell, n_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS INT)
           AS rank
  FROM pairs
)
SELECT q_id, rank, n_id, cosine, cell FROM ranked WHERE rank <= {k}
"""


def residual_chain_ctes(
    nprobe_max: int = 1,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iter: int = PQ_ITERS,
    dim: int = 64,
    centroids: str = "hash",
) -> str:
    """The nprobe-INDEPENDENT half of the residual-ADC oracle as CTE
    text (``head … corpus``): cell fit, assignment (kept to
    ``probe_rank ≤ nprobe_max`` — the home cell is rank 1 regardless),
    residual frame, the m codebook chains, codes, reconstruction norms.
    Exposed so SEVERAL query tails (:func:`residual_tail_sql` — the
    recall meter's nprobe variants) share ONE fit: the codebook chains
    are the oracle's single most expensive construction, and they do
    not depend on how many cells a QUERY probes. Heavy shared CTEs are
    MATERIALIZED (DuckDB inlines per reference otherwise)."""
    if centroids == "kmeans":
        from flink_cooccurrence_spark.operators import clustering as _cl

        head = f"""{_cl._kmeans_prefix(_cl.KMEANS_K, _cl.KMEANS_ITERS).strip()},
cents AS (
  SELECT CAST(cluster AS INT) AS c_id, c_v, c_norm FROM cents{_cl.KMEANS_ITERS}
)"""
    elif centroids == "hash":
        head = f"""base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
normed AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM base),
cents AS (
  SELECT vec_id AS c_id, v AS c_v, norm AS c_norm
  FROM normed
  ORDER BY {hash32_sql("CAST(vec_id AS VARCHAR)")}, vec_id
  LIMIT {IVF_NUM_CENTROIDS}
)"""
    else:
        raise ValueError(f"unknown centroids {centroids!r}")
    w = dim // m
    subs = ",".join(
        _sub_kmeans_sql(
            s,
            s * w + 1,
            (s + 1) * w,
            ksub,
            n_iter,
            src="rc_resv",
            metric="l2",
            seed_salt=PQ_RES_SEED_SALT,
        )
        for s in range(m)
    )
    code_joins = " ".join(
        f"JOIN code{s} c{s} ON c{s}.vec_id = r.vec_id" for s in range(m)
    )
    code_cols = ", ".join(f"c{s}.code AS code_{s}" for s in range(m))
    pcode_cols = ", ".join(f"p.code_{s}" for s in range(m))
    rhat = " || ".join(f"b{s}.c_v" for s in range(m))
    recon_book_joins = " ".join(
        f"JOIN cb{s}_{n_iter} b{s} ON b{s}.cluster = p.code_{s}"
        for s in range(m)
    )
    ncode_cols = ", ".join(f"code_{s}" for s in range(m))
    # rc_*-named MATERIALIZED frames: DuckDB's materialized CTEs break
    # inner same-name shadowing ("Referenced table not found" when a
    # nested member redefines the name — minimal-repro'd), so every
    # frame a query TAIL or multiple chain consumers touch gets a
    # collision-proof name and a materialization; plain chain CTEs keep
    # the Spark-mirroring names (plain outer CTEs shadow fine)
    cb_pass = ",\n".join(
        f"rc_cb{s} AS MATERIALIZED (SELECT * FROM cb{s}_{n_iter})"
        for s in range(m)
    )
    return f"""{head},
rc_normed AS MATERIALIZED (SELECT * FROM normed),
rc_cents AS MATERIALIZED (SELECT * FROM cents),
assign_scored AS (
  SELECT n.vec_id, c.c_id,
         round(list_dot_product(n.v, c.c_v) / (n.norm * c.c_norm), 6) AS cos_c
  FROM rc_normed n CROSS JOIN rc_cents c
),
rc_assigned AS MATERIALIZED (
  SELECT vec_id, c_id AS cell, rn AS probe_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, c_id) AS rn
    FROM assign_scored
  ) WHERE rn <= {nprobe_max}
),
rjoin AS (
  SELECT n.vec_id, a.cell, c.c_v AS cv, n.v AS raw_v
  FROM rc_normed n
  JOIN rc_assigned a ON a.vec_id = n.vec_id AND a.probe_rank = 1
  JOIN rc_cents c ON c.c_id = a.cell
),
rc_resv AS MATERIALIZED (
  SELECT vec_id, cell, cv,
         list_transform(list_zip(raw_v, cv), p -> p[1] - p[2]) AS v
  FROM rjoin
),
{subs},
pqcodes AS (
  SELECT r.vec_id, r.cell, r.cv, {code_cols} FROM rc_resv r {code_joins}
),
recon AS (
  SELECT p.vec_id, p.cell, {pcode_cols},
         list_transform(list_zip(p.cv, ({rhat})), z -> z[1] + z[2]) AS vhat
  FROM pqcodes p {recon_book_joins}
),
rc_corpus AS MATERIALIZED (
  SELECT vec_id, cell, {ncode_cols},
         list_dot_product(vhat, vhat) AS recon_n2
  FROM recon
),
{cb_pass}"""


def residual_tail_sql(
    k: int,
    nprobe: int = 1,
    m: int = PQ_M,
    n_iter: int = PQ_ITERS,
    dim: int = 64,
) -> str:
    """One nprobe variant's query tail over the shared chain CTEs
    (:func:`residual_chain_ctes` with ``nprobe_max ≥ nprobe``): probe
    selection, ADC scoring, rank cut — pure nested subqueries (no CTE
    definitions), so any number of tails coexist under one WITH."""
    w = dim // m
    pair_book_joins = " ".join(
        f"JOIN rc_cb{s} b{s} ON b{s}.cluster = n.code_{s}"
        for s in range(m)
    )
    adc = " + ".join(
        f"list_dot_product(q.v[{s * w + 1}:{(s + 1) * w}], b{s}.c_v)"
        for s in range(m)
    )
    return f"""SELECT q_id, rank, n_id, cosine, cell FROM (
  SELECT q_id, cell, n_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS INT)
           AS rank
  FROM (
    SELECT q.q_id, q.cell AS cell, n.vec_id AS n_id,
           round((list_dot_product(q.v, c.c_v) + {adc})
                 / (q.norm * sqrt(n.recon_n2)), {ROUND_DIGITS}) AS cosine
    FROM (
      SELECT a.vec_id AS q_id, a.cell, q.v, q.norm
      FROM rc_assigned a JOIN rc_normed q ON q.vec_id = a.vec_id
      WHERE a.vec_id % {QUERY_MOD} = 0 AND a.probe_rank <= {nprobe}
    ) q
    JOIN rc_corpus n ON n.cell = q.cell AND n.vec_id != q.q_id
    JOIN rc_cents c ON c.c_id = q.cell
    {pair_book_joins}
  )
) WHERE rank <= {k}"""


def _ivf_pq_residual_sql(
    k: int,
    nprobe: int,
    m: int,
    ksub: int,
    n_iter: int,
    dim: int,
    centroids: str = "hash",
) -> str:
    """DuckDB twin of the ``encode='residual'`` path: the shared chain
    (:func:`residual_chain_ctes`) + this variant's tail — every
    expression structurally identical to the Spark plan."""
    chain = residual_chain_ctes(
        nprobe_max=nprobe,
        m=m,
        ksub=ksub,
        n_iter=n_iter,
        dim=dim,
        centroids=centroids,
    )
    return f"""
WITH {chain}
{residual_tail_sql(k, nprobe, m=m, n_iter=n_iter, dim=dim)}
"""


def ivf_pq_refined_sql(
    k: int = ANN_K,
    refine_factor: int = PQ_REFINE_FACTOR,
    nprobe: int = 1,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    n_iter: int = PQ_ITERS,
    dim: int = 64,
    encode: str = "residual",
    centroids: str = "kmeans",
) -> str:
    """DuckDB twin of :func:`ivf_pq_refined_topk`: the full ADC query at
    ``refine_factor·k`` embeds as a derived table (the ``ann_recall``
    nested-WITH precedent), then the exact-cosine re-rank mirrors
    ``refine_exact`` expression for expression."""
    inner = ivf_pq_sql(
        refine_factor * k, nprobe, m, ksub, n_iter, dim,
        encode=encode, centroids=centroids,
    )
    return f"""
WITH cand AS (SELECT q_id, n_id, cell FROM ({inner}) t),
flat AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
fnormed AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM flat
),
rescored AS (
  SELECT c.q_id, c.cell, c.n_id,
         round(list_dot_product(q.v, n.v) / (q.norm * n.norm),
               {ROUND_DIGITS}) AS cosine
  FROM cand c
  JOIN fnormed q ON q.vec_id = c.q_id
  JOIN fnormed n ON n.vec_id = c.n_id
),
rranked AS (
  SELECT q_id, cell, n_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS INT)
           AS rank
  FROM rescored
)
SELECT q_id, rank, n_id, cosine, cell FROM rranked WHERE rank <= {k}
"""
