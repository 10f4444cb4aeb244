"""Similarity search over embedding columns (``array<float>``).

* ``topk_cosine_bruteforce`` — the exact baseline: probes × corpus dot
  products. The probe side is broadcast, so the corpus scan never
  shuffles; per-probe top-k is a ``row_number`` window over (probe, sim).
  Exact-oracle-checkable (deterministic FP fold order, functions.vectors).
* ``neardup_embedding_pairs`` — semantic near-dup pairs with label
  blocking: cosine over within-block pairs only (the standard blocked
  join that replaces the O(N²) cross product).
* ``lsh_topk_cosine`` — the 100 TB path: random-hyperplane LSH. Bucket =
  sign bits of projections onto ``planes`` pseudo-random ±1 hyperplanes
  (md5-derived, fully deterministic); candidates = bucket collisions;
  exact cosine rerank inside the bucket. Approximate w.r.t. brute force
  (recall property-tested) yet value-checked exactly: the seeded planes
  make it deterministic, and the oracle replays them as literal arrays.
* ``ivf_topk_cosine`` — IVF-flat with deterministic seed centroids; same
  story: approximate by cell restriction, exact against its oracle.

Cache ownership: the iterative shapes (``kmeans_assign``,
``semdedup_pairs``) ``persist()`` relations read more than once; as the
returned DataFrames are lazy, CALLERS own cleanup —
``spark.catalog.clearCache()`` after consuming a query (bench.py and the
oracle harness do, per query), same contract as operators/tpch.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.partitioning import spread
from ..functions.vectors import dot, norm, to_double


def _sim_prenorm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with norms precomputed once per vector (cuts the per-pair
    work from 3 array folds to 1; values identical — same FP ops).
    Zero-norm vectors score NULL (vectors.cosine's contract)."""
    return F.round(
        dot(a, b) / F.nullif(na * nb, F.lit(0.0)), 4
    ).cast("double")


def _with_norm(embeddings: DataFrame, id_alias: str, e_alias: str) -> DataFrame:
    return embeddings.select(
        F.col("vec_id").alias(id_alias),
        to_double("embedding").alias(e_alias),
        norm(to_double("embedding")).alias(f"{e_alias}_n"),
    )


def topk_cosine_bruteforce(
    embeddings: DataFrame, probe_ids: list[int], k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe (self excluded)."""
    probes = _with_norm(
        embeddings.filter(F.col("vec_id").isin(probe_ids)), "probe_id", "pe"
    )
    corpus = _with_norm(spread(embeddings), "neighbor_id", "ce")
    scored = (
        F.broadcast(probes)
        .join(corpus, F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            _sim_prenorm(
                F.col("pe"), F.col("ce"), F.col("pe_n"), F.col("ce_n")
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def neardup_embedding_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    planes: int = 4,
) -> DataFrame:
    """Semantic near-duplicate pairs (cosine ≥ threshold) with
    **LSH-bucket blocking** — the candidate generator is the same
    deterministic random-hyperplane bucketing as ``lsh_topk_cosine``, so
    the pair space is bounded by Σ_b |bucket ∩ label|², never N² and
    never Σ|label|² (a dominant label no longer blows up the join: the
    2^planes sign-bit buckets subdivide it; at 100 TB you raise
    ``planes`` to keep buckets executor-sized).

    Candidate coverage: one side explodes to its bucket plus all
    ``planes`` Hamming-1 flips, the other keeps its exact bucket — every
    pair whose signatures differ in ≤1 bit matches exactly once (the XOR
    values are distinct), so no post-join dedup. Label equality rides
    along as a secondary equi-key; the blocking *bound* comes from the
    bucket. Approximate w.r.t. the exhaustive within-label join (a pair
    flipping ≥2 sign bits is missed) yet exactly oracle-checkable: the
    md5-seeded planes are deterministic and the oracle replays them as
    literal arrays. Norms are computed once per vector and the bucketed
    relation is persisted so the self-join does not recompute the
    cast/norm/bucket subtree on both sides.
    """
    e = (
        spread(embeddings)
        .select(
            "vec_id",
            "label",
            to_double("embedding").alias("e"),
            norm(to_double("embedding")).alias("n"),
        )
        .withColumn("bucket", lsh_bucket(F.col("e"), dim, planes))
        .persist()
    )
    probe_side = e.withColumn(
        "xbucket",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(planes)
                ],
            )
        ),
    )
    a, b = probe_side.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.xbucket") == F.col("b.bucket"))
            & (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            _sim_prenorm(
                F.col("a.e"), F.col("b.e"), F.col("a.n"), F.col("b.n")
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def ivf_topk_cosine(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe_cells: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k: partition the corpus into ``n_cells``
    inverted lists by nearest centroid; each probe searches only its
    ``n_probe_cells`` closest cells with an exact cosine rerank.

    Centroids here are *deterministic seed vectors* (the ``n_cells`` lowest
    ``vec_id`` rows) instead of trained k-means means, which makes the whole
    query value-checkable against the SQL oracle — the plan shape (broadcast
    centroid table → argmax assignment → cell-restricted candidate join) is
    byte-for-byte the production IVF one; swapping in trained centroids
    changes only the seed relation. Scale: assignment is one N×K broadcast
    join (no shuffle of the corpus); the candidate join touches
    N·n_probe_cells/n_cells rows per probe, never O(N²).
    """
    e = spread(embeddings).select(
        "vec_id",
        to_double("embedding").alias("e"),
        norm(to_double("embedding")).alias("n"),
    ).persist()
    seeds = e.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("seed_id"),
        F.col("e").alias("se"),
        F.col("n").alias("sn"),
    )
    scored = e.join(F.broadcast(seeds)).select(
        "vec_id",
        "e",
        "n",
        "seed_id",
        _sim_prenorm(F.col("e"), F.col("se"), F.col("n"), F.col("sn")).alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("seed_id").asc()
    )
    ranked = scored.withColumn("crn", F.row_number().over(w))
    assign = ranked.filter(F.col("crn") == 1).select(
        "vec_id", F.col("seed_id").alias("cell"), "e", "n"
    )
    pcells = (
        ranked.filter(F.col("vec_id").isin(probe_ids))
        .filter(F.col("crn") <= n_probe_cells)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("seed_id").alias("cell"),
            F.col("e").alias("pe"),
            F.col("n").alias("pn"),
        )
    )
    cand = F.broadcast(pcells).join(
        assign, on="cell"
    ).filter(F.col("vec_id") != F.col("probe_id"))
    rer = cand.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        _sim_prenorm(F.col("pe"), F.col("e"), F.col("pn"), F.col("n")).alias("sim"),
    )
    wk = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return rer.withColumn("rank", F.row_number().over(wk)).filter(F.col("rank") <= k)


def _plane_component(p: int, d: int) -> int:
    """Deterministic ±1 hyperplane components via the portable h32."""
    import hashlib

    h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


def lsh_bucket(col: Column, dim: int, planes: int) -> Column:
    """Sign-bit bucket id of a double-array embedding column."""
    bucket = F.lit(0)
    for p in range(planes):
        comps = [_plane_component(p, d) for d in range(dim)]
        proj = F.aggregate(
            F.zip_with(
                col,
                F.array(*[F.lit(float(c)) for c in comps]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_topk_cosine(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    dim: int = 64,
    planes: int = 4,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: probe joins only its LSH bucket(s), exact rerank
    inside. 2^planes buckets ⇒ expected candidate set N/2^planes per probe;
    multi-probe additionally visits every Hamming-1 bucket (the sign bits a
    near neighbor most plausibly flips), trading (planes+1)× candidates for
    much higher recall — still a bounded bucket join, never O(N²)."""
    e = (
        spread(embeddings).select(
            F.col("vec_id"),
            to_double("embedding").alias("e"),
            norm(to_double("embedding")).alias("n"),
        )
        .withColumn("bucket", lsh_bucket(F.col("e"), dim, planes))
        .persist()
    )
    probes = e.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("n").alias("pn"),
        F.col("bucket").alias("pbucket"),
    )
    if multiprobe:
        flips = F.array(
            F.col("pbucket"),
            *[
                F.col("pbucket").bitwiseXOR(F.lit(1 << p))
                for p in range(planes)
            ],
        )
        probes = probes.withColumn("pbucket", F.explode(flips))
    cands = (
        F.broadcast(probes)
        .join(
            e,
            (F.col("bucket") == F.col("pbucket"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .dropDuplicates(["probe_id", "vec_id"])
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            _sim_prenorm(F.col("pe"), F.col("e"), F.col("pn"), F.col("n")).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return cands.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid of the embedding column, one row per (label,
    dimension) — cluster statistics for embedding-space corpus analysis
    (and the building block ``ivf_topk_cosine``'s trained-centroid
    variant would use).

    Shape at scale: ``posexplode`` multiplies rows by the dimension count
    but the groupBy(label, dim) aggregation is map-side partial — only
    (labels × dims) partial sums cross the shuffle, independent of corpus
    size. No driver-side collect, no UDF.
    """
    return (
        embeddings.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            # + 0.0 normalizes IEEE -0.0 to +0.0 (Spark's round drops the
            # sign of negative zero, DuckDB's keeps it)
            (F.round(F.avg(F.col("x").cast("double")), 4) + F.lit(0.0)).alias(
                "centroid"
            ),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


def quantize_embeddings(embeddings: DataFrame, scale: int = 127) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    q_d = clamp(floor(x_d·scale + 0.5), -scale, scale) — plus per-vector
    reconstruction stats: the exact integer squared norm of the quantized
    vector and the (sequential-fold, hence cross-engine bit-identical)
    squared reconstruction error.

    This is the storage/bandwidth path for ANN at 100 TB: 4-byte floats
    become 1-byte codes before the index build, and the int dot products
    the IVF/LSH rerank would use are exact — no FP drift between engines
    or executors. floor(x+0.5) instead of round() because Spark and DuckDB
    disagree on round-half for doubles; floor is floor everywhere. Pure
    projection, zero shuffles."""
    q = F.transform(
        to_double("embedding"),
        lambda x: F.greatest(
            F.lit(-scale),
            F.least(F.lit(scale), F.floor(x * scale + F.lit(0.5))),
        ),
    )
    # spread: the per-row array folds below are interpreted — a one-file
    # scan must not pin them to a single core (no-op at real scale)
    e = spread(embeddings).select(
        "vec_id", to_double("embedding").alias("x"), q.alias("q")
    )
    qnorm2 = F.aggregate(
        F.col("q"), F.lit(0).cast("bigint"), lambda acc, v: acc + v * v
    )
    err = F.aggregate(
        F.zip_with(
            F.col("x"),
            F.col("q"),
            lambda x, v: (x - v / F.lit(float(scale))) * (x - v / F.lit(float(scale))),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    return e.select(
        "vec_id",
        qnorm2.alias("qnorm2"),
        F.round(err, 6).alias("sq_err"),
        F.round(F.sqrt(err / F.size("q")), 6).alias("rms_err"),
    )


def ann_recall(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe_cells: int = 2,
) -> DataFrame:
    """Recall@k audit of the IVF index against exact brute force: per probe,
    how many of the true top-k neighbors the cell-restricted search found —
    the measurement that justifies (or rejects) an ANN index's cell count
    before deploying it over the full corpus.

    Composes the two existing operators and joins their neighbor sets; the
    join keys are (probe, neighbor) pairs — k·|probes| rows a side, so the
    audit costs two index runs plus a trivial join regardless of corpus
    size.
    """
    # k·|probes| rows whose lineage is the full brute-force pass —
    # materialize once so the hit semi-join and the per-probe base count
    # don't each re-score the corpus (round 12, guide §8; the bench's
    # release sweep reclaims the blocks)
    exact = topk_cosine_bruteforce(embeddings, probe_ids, k).select(
        "probe_id", "neighbor_id"
    ).localCheckpoint(eager=True)
    approx = ivf_topk_cosine(
        embeddings, probe_ids, k, n_cells, n_probe_cells
    ).select("probe_id", "neighbor_id")
    hits = exact.join(approx, ["probe_id", "neighbor_id"], "left_semi")
    found = hits.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_found"))
    base = exact.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_true"))
    return base.join(found, "probe_id", "left").select(
        "probe_id",
        "n_true",
        F.coalesce("n_found", F.lit(0)).cast("bigint").alias("n_found"),
        F.round(F.coalesce("n_found", F.lit(0)) / F.col("n_true"), 4).alias(
            "recall"
        ),
    )


def _quantize_int8(col: Column, scale: int = 127) -> Column:
    """clamp(floor(x·scale + 0.5)) as bigint — the same symmetric int8
    quantization as ``quantize_embeddings`` (floor(x+0.5), not round():
    engines disagree on round-half for doubles; floor is floor everywhere).
    Integer codes make every downstream distance exact cross-engine."""
    return F.transform(
        to_double(col),
        lambda x: F.greatest(
            F.lit(-scale),
            F.least(F.lit(scale), F.floor(x * scale + F.lit(0.5))),
        ).cast("bigint"),
    )


def knn_classify(
    embeddings: DataFrame, probe_ids: list[int], k: int = 5
) -> DataFrame:
    """k-nearest-neighbor majority-vote classification of the probe
    vectors by exact cosine top-k (self excluded): predicted label = the
    most common label among the k neighbors, ties to the smaller label.

    Scale shape: inherits ``topk_cosine_bruteforce``'s broadcast-probe /
    never-shuffle-corpus plan; the vote is a groupBy over k·|probes| rows
    (tiny), and the label lookups broadcast the k·|probes| neighbor ids
    into the corpus scan — the corpus is read, never shuffled.
    """
    nbrs = topk_cosine_bruteforce(embeddings, probe_ids, k).select(
        "probe_id", "neighbor_id"
    )
    labels = embeddings.select("vec_id", "label")
    votes = (
        labels.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(nbrs), "neighbor_id")
        .groupBy("probe_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_id", F.col("label").alias("pred_label"), "n_votes")
    )
    truth = labels.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("probe_id"), F.col("label").alias("true_label")
    )
    return pred.join(F.broadcast(truth), "probe_id").select(
        "probe_id",
        "true_label",
        "pred_label",
        "n_votes",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


def _int_sq_dist(q: Column, centroid: list[int]) -> Column:
    """Exact integer squared L2 distance between a bigint code array and a
    literal centroid."""
    lit = F.array(*[F.lit(int(v)).cast("bigint") for v in centroid])
    return F.aggregate(
        F.zip_with(q, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, d: acc + d,
    )


def _quantized(embeddings: DataFrame) -> DataFrame:
    # spread() first: quantization and the downstream argmin are
    # interpreted array higher-order functions — per-row compute-heavy —
    # and a small-file scan must not pin them to one core.
    return spread(embeddings).select(
        "vec_id", _quantize_int8(F.col("embedding")).alias("q")
    )


def _assign_pass(e: DataFrame, cur: list[tuple[int, list[int]]]) -> DataFrame:
    """One map-only argmin assignment of quantized rows to centroids:
    min distance, ties to the smaller cluster id. Two physically
    different, bit-identical plans (equality pinned by
    ``test_assign_pass_arrow_matches_expression``):

    * k ≤ 16 — JVM expression argmin (below): zero Python-worker cost,
      right for the k=8 clustering family.
    * k > 16 — Arrow-batched numpy argmin (``_assign_pass_arrow``):
      the interpreted higher-order-function eval is O(k·dim) PER ROW and
      dominates once k tracks √N (cells_for); one float64 matmul per
      Arrow batch does the same integer math exactly (all intermediates
      are integers < 2²³ ≪ 2⁵³) at BLAS speed. Measured: the
      `kmeans_assign_kcells` leg drops 13.3 → 3.2 s at the 10× probe
      (k=141) and 30.2 → 4.3 s at 30× (k=244) — wall is now scan +
      Arrow transfer, near-flat in k (SCALE.md note B).

    argmin via array_min over (dist, cid) structs — lexicographic struct
    ordering = min distance, ties to the smaller cluster id. The
    centroids enter as ONE typed nested Literal (F.lit on the nested
    python list), not k·dim individual Literal expression nodes wrapped
    in array() constructors: the expression tree is a single constant, so
    analysis + Janino compile cost is O(1) in k·dim — measured ~3× faster
    end-to-end than the per-element form at k=8, dim=64 (compile cost is
    per-plan, data-independent and was the dominant term).
    """
    if len(cur) > 16:
        return _assign_pass_arrow(e, cur)
    return _assign_pass_expr(e, cur)


def _assign_pass_expr(
    e: DataFrame, cur: list[tuple[int, list[int]]]
) -> DataFrame:
    """The JVM expression argmin (see ``_assign_pass`` for the dispatch
    doctrine and literal-shape rationale)."""
    cents = F.lit([[int(v) for v in c] for _, c in cur]).cast(
        "array<array<bigint>>"
    )
    ids = F.lit([int(cid) for cid, _ in cur]).cast("array<int>")
    best = F.array_min(
        F.zip_with(
            cents,
            ids,
            lambda c, cid: F.struct(
                F.aggregate(
                    F.zip_with(F.col("q"), c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("bigint"),
                    lambda acc, d: acc + d,
                ).alias("dist"),
                cid.alias("cid"),
            ),
        )
    )
    return e.select("vec_id", "q", best.alias("best")).select(
        "vec_id",
        "q",
        F.col("best.cid").alias("cluster_id"),
        F.col("best.dist").alias("dist"),
    )


def _assign_pass_arrow(
    e: DataFrame, cur: list[tuple[int, list[int]]]
) -> DataFrame:
    """Arrow-batched twin of the expression argmin in ``_assign_pass``
    for large k (see its docstring for the dispatch rule): one
    ``mapInPandas`` pass computes the full batch × centroid squared-L2
    matrix as ||x||² + ||c||² − 2·X·Cᵀ in float64 — EXACT, because every
    operand and every partial sum is an integer (int8-quantized codes:
    |dist| ≤ dim·254² ≈ 4.1M ≪ 2⁵³), so the BLAS matmul returns the same
    integers the JVM fold would. Ties go to the smaller cluster id:
    centroid columns are sorted by cid and ``argmin`` takes the first
    minimum. Map-only like the expression path — the corpus is scanned,
    never shuffled; centroids travel as k·dim ints in the serialized
    closure (driver state, same altitude as the literal).
    """
    import numpy as np
    import pandas as pd

    order = sorted(range(len(cur)), key=lambda i: int(cur[i][0]))
    cids = np.array([int(cur[i][0]) for i in order], dtype=np.int64)
    cmat = np.array(
        [[int(v) for v in cur[i][1]] for i in order], dtype=np.float64
    )
    cnorm = (cmat * cmat).sum(axis=1)

    def assign(batches):
        from ..functions.blas import ensure_blas_pinned

        ensure_blas_pinned()  # worker-side cap; env pin may not have reached a foreign-session worker (ADVICE r12)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["q"].to_numpy()).astype(np.float64)
            d = (x * x).sum(axis=1)[:, None] + cnorm[None, :] - 2.0 * (
                x @ cmat.T
            )
            j = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "q": pdf["q"],
                    "cluster_id": cids[j].astype("int32"),
                    "dist": d[np.arange(len(j)), j].astype(np.int64),
                }
            )

    return e.select("vec_id", "q").mapInPandas(
        assign, "vec_id bigint, q array<bigint>, cluster_id int, dist bigint"
    )


#: sample-trained k-means budget constants — the SINGLE source both the
#: engine default (:func:`train_budget_for`) and the oracle expression
#: (:func:`duck_train_budget_expr`) derive from (ADVICE r11: the oracle
#: previously hardcoded greatest(256, 16*k), so changing one default
#: would silently diverge the two)
TRAIN_PER_CELL = 16
TRAIN_FLOOR = 256


def train_budget_for(
    k: int, per_cell: int = TRAIN_PER_CELL, floor: int = TRAIN_FLOOR
) -> int:
    """Training-sample size for SAMPLE-TRAINED k-means cells:
    ``max(floor, per_cell·k)`` rows — enough points per centroid to place
    the cells, decoupled from the corpus size.  With the √N cell count of
    :func:`cells_for` this turns Lloyd training from N·√N FLOPs per pass
    into per_cell·N (linear): at the SCALE.md §13 1000× probe the cold
    ``q_semdedup`` run was ~90 % training at 2 M vectors × k=1414 — the
    one honest superlinearity in the family, and the reason blocking
    cells (like PQ codebooks, like every production IVF index) are
    trained on a sample while ASSIGNMENT stays full-corpus."""
    return max(int(floor), int(per_cell) * int(k))


def duck_train_budget_expr(k_expr: "int | str") -> str:
    """Oracle twin of :func:`train_budget_for` for a literal or SQL k —
    built from the same ``TRAIN_FLOOR``/``TRAIN_PER_CELL`` constants so
    engine and oracle budgets cannot diverge."""
    return f"greatest({TRAIN_FLOOR}, {TRAIN_PER_CELL} * ({k_expr}))"


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    train_budget: int | None = None,
) -> list[tuple[int, list[int]]]:
    """TRAIN Lloyd's k-means over int8-quantized embeddings and return the
    final centroids — k×dim integers of pure driver state, the natural
    unit to memoize across sibling cluster-blocked queries (dedup +
    hard-negative mining + cluster labeling): unlike a persisted
    assignment DataFrame, driver-held centroids survive
    ``spark.catalog.clearCache()`` and even a session restart, and they
    are a deterministic function of (dataset, k, iters) — seeds are the k
    lowest vec_ids, updates are exact floor-avg integers.

    Spark-native iteration shape: centroids broadcast into each
    assignment pass as one literal array (the canonical Spark ML loop;
    the corpus is scanned once per round and NEVER shuffled: assignment
    is a map-only argmin, the update is one partial-agg groupBy of
    (cluster, dim) cells). Per round the driver holds k·dim ints —
    independent of corpus size.

    ``train_budget`` switches to SAMPLE-TRAINED cells (round 11, the
    SCALE.md §13 action item): Lloyd runs over the ``train_budget``
    hash-smallest vec_ids — hash = md5 of the decimal id string (exact
    and byte-identical in Spark and DuckDB; NOT the
    :func:`knn_probe_ids` modular hash, which is order-PRESERVING below
    id ≈ 10⁹ and would degrade to a prefix sample), ties by id, selected
    with a distributed TakeOrdered (O(budget) per-partition queue
    state) — and seeds become the k DISTINCT codes in the sample with
    the lowest owning vec_ids (duplicate seeds would collapse into
    permanently-empty clusters; see :func:`_lloyd`).
    Training cost drops from iters·N·k·dim to iters·budget·k·dim while
    the consumer's final assignment pass stays full-corpus and exact;
    with budget = per_cell·k and k = √N that is LINEAR in N instead of
    N^1.5 (at the SCALE.md 1000× probe the cold q_semdedup run was
    ~90 % training).  Still a deterministic function of (dataset, k,
    iters, budget), so the sampled path gets an exact oracle too
    (:func:`duck_kmeans_cte` with ``sample_budget``).
    """
    e = _quantized(embeddings)
    if train_budget is not None:
        h = F.md5(F.col("vec_id").cast("string").cast("binary"))
        sample = e.orderBy(h.asc(), F.col("vec_id").asc()).limit(
            int(train_budget)
        )
        return _lloyd(sample, k, iters, rank_seeds=True)
    return _lloyd(e, k, iters)


def _lloyd(
    codes: DataFrame, k: int, iters: int, rank_seeds: bool = False
) -> list[tuple[int, list[int]]]:
    """Lloyd's iteration over an integer-code table (vec_id, q) — the
    kernel behind :func:`kmeans_centroids` (full-vector clustering) and
    :func:`pq_codebooks` (per-subspace clustering): seeds are the k
    lowest vec_ids' codes, updates are exact floor-avg integers, driver
    state is k·|q| ints per round.

    ``rank_seeds`` seeds from the k DISTINCT codes present, each keyed
    by its lowest vec_id, in vec_id order (a budget-sized groupBy + a
    distributed TakeOrdered) instead of ``vec_id < k`` — required by the
    sampled training path whose input no longer holds ids 0..k−1.
    Distinctness matters on real corpora: near-dup-heavy data (the very
    thing these cells block for) makes duplicate codes COMMON in any
    sample, and duplicate seeds collapse into permanently-empty clusters
    that skew the survivors — measured at the 1000× probe: plain
    lowest-id seeding drew 209 duplicate seeds, occupied cells fell
    1414 → 1205, and the within-cell pair space grew 1.5× (4.3e9 vs
    2.8e9 candidates). Kept opt-in so every full-corpus oracle stays
    bit-for-bit untouched."""
    e = codes.persist()
    try:
        if rank_seeds:
            seeds = (
                e.groupBy("q")
                .agg(F.min("vec_id").alias("vec_id"))
                .orderBy("vec_id")
                .limit(int(k))
                .collect()
            )
        else:
            seeds = e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
        centroids: list[tuple[int, list[int]]] = [
            (int(r.vec_id), list(r.q)) for r in seeds
        ]
        for _ in range(iters - 1):
            assigned = _assign_pass(e, centroids)
            cells = (
                assigned.select("cluster_id", F.posexplode("q").alias("dim", "v"))
                .groupBy("cluster_id", "dim")
                .agg(F.floor(F.avg("v")).alias("c"))
                .groupBy("cluster_id")
                .agg(
                    F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("cs")
                )
                .collect()
            )
            # standard Lloyd empty-cluster rule: a centroid that captured
            # no rows this round keeps its previous position (duplicate
            # seeds or degenerate corpora make this reachable; dropping
            # it would leave a gap in the code ids — round-9 zero/dup
            # fixture finding), mirrored in the oracle CTEs
            updated = {
                int(r.cluster_id): [int(s.c) for s in r.cs] for r in cells
            }
            centroids = sorted(
                (cid, updated.get(cid, cs)) for cid, cs in centroids
            )
        return centroids
    finally:
        e.unpersist()


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    centroids: list[tuple[int, list[int]]] | None = None,
    train_budget: int | None = None,
) -> DataFrame:
    """Final k-means assignment (vec_id, q, cluster_id, dist) — see
    :func:`kmeans_centroids` for the training loop and exactness story.

    ``centroids`` accepts a pretrained centroid list, reducing this to
    ONE map-only argmin pass over the corpus (no iterative rounds, no
    persist) — how sibling queries sharing a clustering avoid retraining
    per query.
    """
    cur = (
        centroids
        if centroids is not None
        else kmeans_centroids(embeddings, k, iters, train_budget=train_budget)
    )
    return _assign_pass(_quantized(embeddings), cur)


def kmeans_embeddings(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    assignment: DataFrame | None = None,
) -> DataFrame:
    """Per-cluster stats of the final k-means assignment (see
    ``kmeans_assign``): (cluster_id, n_vectors, inertia).

    ``assignment`` accepts a precomputed (persisted) ``kmeans_assign``
    output so callers running several cluster-blocked queries over the
    same corpus pay the iterative assignment ONCE, not once per query.
    """
    final = assignment if assignment is not None else kmeans_assign(
        embeddings, k, iters
    )
    return final.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("dist").alias("inertia"),
    )


def cluster_balance(assignment: DataFrame) -> DataFrame:
    """Embedding-space diversity card from a k-means assignment: one row
    with the corpus size, occupied cluster count, Gini impurity of the
    cluster distribution (1 − Σcᵢ²/N²) and the effective cluster count
    (N²/Σcᵢ² — the inverse Simpson index) — the balance check a curation
    pipeline runs to see whether its corpus collapses into a few dense
    modes or spreads across the embedding space. All ratios are integer
    rationals with one division at the end (cross-engine exact after
    1e-6 quantization); the input is any (…, cluster_id) assignment,
    typically the memoized shared one.

    Scale shape: one partial-agg groupBy to (cluster, count) — k rows —
    then a k-row rollup; nothing else touches the corpus.
    """
    counts = assignment.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    # doubles for the N² product: int64 would overflow past N ≈ 3·10⁹
    # (a real corpus size); below 2^53 the doubles are exact anyway, so
    # the oracle check loses nothing at test scale
    n2 = F.sum("c").cast("double") * F.sum("c").cast("double")
    s2 = F.sum(F.col("c") * F.col("c")).cast("double")
    return counts.agg(
        F.sum("c").cast("bigint").alias("n_vectors"),
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.round(F.lit(1.0) - s2 / n2, 6).alias("gini"),
        F.round(n2 / s2, 6).alias("eff_clusters"),
    )


def duck_cluster_balance_sql(k: int | str = 8) -> str:
    """Oracle twin of :func:`cluster_balance` over the shared k-means CTE."""
    return (
        duck_kmeans_cte(k)
        + """
        , cc AS (SELECT cid, count(*) AS c FROM a2 GROUP BY cid)
        SELECT sum(c)::BIGINT AS n_vectors,
               count(*)::BIGINT AS n_clusters,
               round(1.0 - sum(c * c) / (sum(c) * sum(c)), 6) AS gini,
               round((sum(c) * sum(c)) / sum(c * c), 6) AS eff_clusters
        FROM cc
    """
    )


def cells_for(n_vectors: int, cap: int | None = None) -> int:
    """k ∝ √N cell-count heuristic for the cluster-blocked pair queries
    (SemDeDup / hard-negative mining): with k = ⌊√N⌋ the average cell
    holds ~√N vectors, so the within-cell pair space Σ|cluster|² stays
    ~N^1.5 — self-bounding as the corpus grows, instead of N²/k with a
    frozen k. Floored at 1.

    ``cap=None`` (the default) lets k track √N at every size — the old
    frozen default of 64 bound at 20 k vectors and re-opened the
    quadratic phase (measured: q_semdedup 4.5× wall at the 10× probe,
    SCALE.md note B / VERDICT round 8). Assignment cost no longer caps
    k either: past k = 16 ``_assign_pass`` dispatches to the
    Arrow-batched matmul argmin (bit-identical, near-flat wall in k —
    measured in SCALE.md note B), so ``cap`` remains only for callers
    that must bound driver/closure state (k·dim ints) explicitly.

    ``math.isqrt`` is exact; the DuckDB twin (:func:`duck_cells_expr`)
    uses ``floor(sqrt(N))`` on a correctly-rounded double — identical for
    every realistic N (the double error is ≪ the gap to the next integer
    until N approaches 2^52).
    """
    import math

    k = math.isqrt(max(0, int(n_vectors)))
    if cap is not None:
        k = min(int(cap), k)
    return max(1, k)


def duck_cells_expr(cap: int | None = None) -> str:
    """Oracle twin of :func:`cells_for` over the ``embeddings`` view, as a
    scalar subquery usable wherever the CTEs take a literal k."""
    inner = "CAST(floor(sqrt(count(*))) AS BIGINT)"
    if cap is not None:
        inner = f"least({cap}, {inner})"
    return f"(SELECT greatest(1, {inner}) FROM embeddings)"


def semdedup_pairs(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.3,
    dim: int | None = None,
    assignment: DataFrame | None = None,
    train_budget: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. '23): semantic near-duplicate pairs found
    WITHIN k-means clusters — the clustering bounds the pair space to
    Σ|cluster|² (the whole point of the method: at web scale the all-pairs
    cosine is impossible; within-cluster pairs are tractable because
    near-dups land in the same cell).

    Similarity is cosine over the int8 codes: integer dot product and
    integer squared norms (exact in both engines), one sqrt + one divide
    at the end — deterministic, so the approximate METHOD gets an exact
    oracle. Returns (cluster_id, vec_a, vec_b, qsim).

    ``assignment`` accepts a precomputed ``kmeans_assign`` output
    (vec_id, q, cluster_id, …) so sibling queries sharing the same
    clustering (dedup + hard-negative mining + cluster labeling) run the
    iterative assignment once.
    """
    if dim is None:
        # one-row probe, not an assumption: hardcoding the width would turn
        # any other embedding dimension into silently-wrong dot products
        first = embeddings.select(F.size("embedding").alias("d")).head()
        if first is None:
            raise ValueError("semdedup_pairs: empty embeddings input")
        dim = int(first["d"])
    base = assignment if assignment is not None else kmeans_assign(
        embeddings, k, iters, train_budget=train_budget
    )
    # Within-cell pairs via a per-cell Arrow/BLAS kernel (round 11).
    # History: the first form folded zip_with per candidate pair
    # (interpreted, ~4 s of the sf0.1 query); the second flattened the
    # codes into dim columns so the dot product codegen'd — but every
    # candidate pair then materializes ~2·(dim+3) longs of join row,
    # and the 1000× probe measured the pair JOIN, not training, as the
    # dominant wall (890 s for 3.4e9 candidates ≈ 3.5 TB of row
    # traffic). Per cell, the same arithmetic is ONE blocked float64
    # matmul: |q| ≤ 127 and dim = 64 keep every product and partial sum
    # an exact integer < 2^53, so BLAS float64 results are bit-equal to
    # the codegen'd bigint dots, and the IEEE sqrt/divide that follow
    # are the identical correctly-rounded ops. The kernel pre-filters
    # with 5e-5+1e-12 slack under the threshold (the most HALF_UP
    # rounding can lift a value), then the EXACT filter runs in Spark
    # on F.round — the same rounding code path the join form used, so
    # oracle values are unchanged. Scale shape: one shuffle of the
    # narrow (vec_id, cluster_id, q) corpus to cells, O(block·|cell|)
    # kernel memory, output only the surviving pairs — candidate pairs
    # never exist as rows at all.
    sub = base.select("vec_id", "cluster_id", "q")
    kernel = _cell_pair_kernel(float(threshold), int(dim))
    pairs = sub.groupBy("cluster_id").applyInPandas(
        kernel, "cluster_id int, vec_a bigint, vec_b bigint, sim double"
    )
    return pairs.select(
        "cluster_id",
        "vec_a",
        "vec_b",
        F.round(F.col("sim"), 4).alias("qsim"),
    ).filter(F.col("qsim") >= threshold)


def _cell_pair_kernel(threshold: float, dim: int, block: int = 2048):
    """applyInPandas kernel for :func:`semdedup_pairs`: one cell's rows
    in, its ≥-threshold cosine pairs out.  Blocked gram matmul (2048
    rows per block) bounds kernel memory; rows sort by vec_id so the
    upper triangle IS the ``vec_a < vec_b`` contract; zero-norm vectors
    pair with nothing (the join form's NULL qsim).  A row whose code
    width disagrees with ``dim`` raises — the width guard the flattened
    form kept inside its qn2 expression."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "cluster_id": pd.Series(dtype="int32"),
            "vec_a": pd.Series(dtype="int64"),
            "vec_b": pd.Series(dtype="int64"),
            "sim": pd.Series(dtype="float64"),
        }
    )
    pre = threshold - 5e-5 - 1e-12

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from ..functions.blas import ensure_blas_pinned

        ensure_blas_pinned()  # worker-side cap (ADVICE r12); no-op after the first call
        # width guard FIRST (ADVICE r11): the old qn2 expression raised
        # on every mismatched row, so a wrong-width row in a singleton
        # cell must still raise, not slip past the n < 2 early return
        if any(len(v) != dim for v in pdf["q"]):
            raise ValueError(f"semdedup_pairs: embedding width != {dim}")
        n = len(pdf)
        if n < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        cid = int(pdf["cluster_id"].iloc[0])
        q = np.stack(pdf["q"].to_numpy()).astype(np.float64)
        n2 = np.einsum("ij,ij->i", q, q)  # exact ints < 2^53
        out_a: list = []
        out_b: list = []
        out_s: list = []
        col = np.arange(n)[None, :]
        for s in range(0, n, block):
            g = q[s : s + block] @ q.T
            denom = np.sqrt(np.outer(n2[s : s + block], n2))
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = g / denom
            row = (s + np.arange(g.shape[0]))[:, None]
            mask = (col > row) & (denom > 0.0) & (sim >= pre)
            r, c = np.nonzero(mask)
            if len(r):
                out_a.append(ids[s + r])
                out_b.append(ids[c])
                out_s.append(sim[r, c])
        if not out_a:
            return empty
        va = np.concatenate(out_a)
        return pd.DataFrame(
            {
                "cluster_id": np.full(len(va), cid, dtype=np.int32),
                "vec_a": va,
                "vec_b": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    return kernel


def duck_kmeans_cte(k: int | str = 8, sample_budget: int | str | None = None) -> str:
    """Shared oracle CTE chain for the 2-round integer k-means: ends at
    ``a2`` = (vec_id, q, cid, dist), the final assignment. ``k`` may be a
    literal int or a SQL scalar expression (e.g. :func:`duck_cells_expr`
    for the k ∝ √N heuristic).

    ``sample_budget`` mirrors the sample-trained path of
    :func:`kmeans_centroids`: the training CTEs (seeds, round-1 assign,
    centroid update) run over the ``sample_budget`` md5-smallest
    vec_ids (md5 of the decimal id string, ties by id — byte-identical
    across engines) and the seeds are the k DISTINCT codes with the
    lowest owning vec_ids within the sample; the FINAL assignment
    ``a2`` stays full-corpus, exactly like the engine."""
    km_q = (
        "list_transform(embedding::DOUBLE[], x -> CAST(greatest(-127,"
        " least(127, floor(x * 127 + 0.5))) AS BIGINT))"
    )
    km_dist = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> (q.q[i] - c.c[i]) * (q.q[i] - c.c[i])))"
    )
    if sample_budget is not None:
        train_src = f"""s AS (
            SELECT vec_id, q FROM q
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT ({sample_budget})
        ), c0 AS (
            -- k DISTINCT codes, each keyed by its lowest vec_id: dup
            -- seeds would collapse into permanently-empty clusters
            SELECT min(vec_id) AS cid, q AS c FROM s
            GROUP BY q ORDER BY cid LIMIT ({k})
        ),
        d1 AS (
            SELECT q.vec_id, q.q, c.cid, {km_dist} AS dist
            FROM s q CROSS JOIN c0 c
        )"""
    else:
        train_src = f"""c0 AS (
            SELECT vec_id AS cid, q AS c FROM q WHERE vec_id < {k}
        ),
        d1 AS (
            SELECT q.vec_id, q.q, c.cid, {km_dist} AS dist
            FROM q CROSS JOIN c0 c
        )"""
    return f"""
        WITH q AS (
            SELECT vec_id, {km_q} AS q FROM embeddings
        ), {train_src}, a1 AS (
            SELECT vec_id, q, cid, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rn
                FROM d1
            ) WHERE rn = 1
        ), c1cell AS (
            SELECT cid, i AS dim, CAST(floor(avg(q[i])) AS BIGINT) AS cv
            FROM a1, generate_series(1, 64) AS g(i)
            GROUP BY cid, i
        ), c1 AS (
            -- empty clusters keep their previous (seed) centroid, the
            -- standard Lloyd rule mirrored from _lloyd
            SELECT c0.cid, coalesce(u.c, c0.c) AS c FROM c0
            LEFT JOIN (SELECT cid, list(cv ORDER BY dim) AS c
                       FROM c1cell GROUP BY cid) u USING (cid)
        ), d2 AS (
            SELECT q.vec_id, q.q, c.cid, {km_dist} AS dist
            FROM q CROSS JOIN c1 c
        ), a2 AS (
            SELECT vec_id, q, cid, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rn
                FROM d2
            ) WHERE rn = 1
        )"""


def duck_kmeans_sql(k: int | str = 8) -> str:
    return (
        duck_kmeans_cte(k)
        + """
        SELECT CAST(cid AS INT) AS cluster_id, count(*) AS n_vectors,
               sum(dist)::BIGINT AS inertia
        FROM a2 GROUP BY cid
    """
    )


def duck_semdedup_sql(
    k: int | str = 8,
    threshold: float = 0.3,
    sample_budget: int | str | None = None,
) -> str:
    qdot = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> x.q[i] * y.q[i]))"
    )
    qn2 = "list_sum(list_transform({s}.q, v -> v * v))"
    return (
        duck_kmeans_cte(k, sample_budget)
        + f"""
        SELECT CAST(x.cid AS INT) AS cluster_id,
               x.vec_id AS vec_a, y.vec_id AS vec_b,
               round({qdot} / nullif(sqrt(({qn2.format(s='x')}
                   * {qn2.format(s='y')})::DOUBLE), 0), 4) AS qsim
        FROM a2 x JOIN a2 y
          ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE round({qdot} / nullif(sqrt(({qn2.format(s='x')}
                  * {qn2.format(s='y')})::DOUBLE), 0), 4) >= {threshold}
    """
    )


def power_iteration_component(
    embeddings: DataFrame, iters: int = 2, scale: int = 127
) -> DataFrame:
    """Top principal direction of the (uncentered) quantized embedding
    cloud by POWER ITERATION — the classic distributed eigenvector loop
    (v ← normalize(Aᵀ(Av))) that PCA-whitening and spectral-embedding
    stages run before ANN indexing at corpus scale.

    Spark-native iteration shape, same as ``kmeans_assign``: the vector
    ``v`` is driver state (dim integers) broadcast as a literal array;
    each round is ONE distributed pass — d = q·v per row (codegen'd
    fold), then Σ d·q_j per dimension via posexplode + partial-agg
    groupBy (dim rows cross the shuffle, never the corpus).  The driver
    holds dim scalars per round, independent of corpus size.

    Exactness: codes are int8, v is integer at every step (renormalized
    to ``±scale`` via floor(s·scale/m + 0.5) with m = max|s| — every
    double op identical in both engines since all operands stay < 2^53),
    so the ``iters``-round loop is value-checked against an unrolled
    oracle CTE, like the k-means loop.  Uncentered: the fixture's
    quantized mean is ~0 and centering would cost an extra broadcast
    join; the docline notes it so nobody mistakes this for full PCA.

    Returns (dim, s, v): the final un-normalized accumulator and the
    ±scale-normalized eigenvector estimate, dim 0-based.
    """
    q = spread(embeddings).select(
        "vec_id", _quantize_int8(F.col("embedding"), scale).alias("q")
    ).persist()
    first = embeddings.select(F.size("embedding").alias("d")).head()
    if first is None:
        raise ValueError("power_iteration_component: empty embeddings input")
    dim = int(first["d"])
    import math

    # Per-round pass: d = q·v as an array fold, then Σ d·q_j per
    # dimension via posexplode + partial-agg groupBy — only dim×cores
    # partial rows cross the shuffle.  (A "flattened" variant with dim
    # aggregate columns in one agg was measured 1.4× SLOWER: the
    # dim×(dim+1)-term generated aggregate blows past codegen limits.)
    v = [1] * dim
    s: list[int] = []
    for _ in range(iters):
        vlit = F.array(*[F.lit(int(x)).cast("bigint") for x in v])
        d = F.aggregate(
            F.zip_with(F.col("q"), vlit, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        rows = (
            q.select(d.alias("d"), F.posexplode("q").alias("dim", "qj"))
            .groupBy("dim")
            .agg(F.sum(F.col("d") * F.col("qj")).alias("s"))
            .collect()
        )
        s = [0] * dim
        for r in rows:
            s[r.dim] = int(r.s)
        m = max(abs(x) for x in s) or 1
        v = [int(math.floor(x * float(scale) / m + 0.5)) for x in s]
    q.unpersist()
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(i, s[i], v[i]) for i in range(dim)], "dim int, s bigint, v bigint"
    )


def _duck_power_ctes(
    iters: int = 2, scale: int = 127, dim: int = 64
) -> list[str]:
    """The unrolled power-iteration CTE chain (shared by the eigenvector
    oracle and the variance-explained oracle); the final normalized
    vector list lives in ``vl{iters}`` and per-dim values in ``v{iters}``."""
    km_q = (
        "list_transform(embedding::DOUBLE[], x -> CAST(greatest(-127,"
        f" least(127, floor(x * {scale} + 0.5))) AS BIGINT))"
    )
    ctes = [f"q AS (SELECT {km_q} AS q FROM embeddings)"]
    prev_v = None
    for it in range(1, iters + 1):
        if prev_v is None:
            dot = f"list_sum(list_transform(generate_series(1, {dim}), j -> q.q[j]))"
        else:
            dot = (
                f"list_sum(list_transform(generate_series(1, {dim}),"
                f" j -> q.q[j] * {prev_v}.vl[j]))"
            )
        src = "q" if prev_v is None else f"q CROSS JOIN {prev_v}"
        ctes.append(
            f"s{it} AS (SELECT i - 1 AS dim, CAST(sum(d * qq[i]) AS BIGINT) AS s"
            f" FROM (SELECT q.q AS qq, {dot} AS d FROM {src}),"
            f" generate_series(1, {dim}) AS g(i) GROUP BY i)"
        )
        # greatest(…, 1) mirrors the Python loop's `or 1` zero guard: an
        # all-zero accumulator must normalize to v=0, not divide by zero
        ctes.append(
            f"m{it} AS (SELECT greatest(max(abs(s)), 1) AS m FROM s{it})"
        )
        ctes.append(
            f"v{it} AS (SELECT dim, CAST(floor(s * {scale}.0 / m + 0.5)"
            f" AS BIGINT) AS v FROM s{it} CROSS JOIN m{it})"
        )
        ctes.append(
            f"vl{it} AS (SELECT list(v ORDER BY dim) AS vl FROM v{it})"
        )
        prev_v = f"vl{it}"
    return ctes


def duck_power_iteration_sql(iters: int = 2, scale: int = 127, dim: int = 64) -> str:
    """Unrolled oracle CTE of :func:`power_iteration_component`."""
    ctes = _duck_power_ctes(iters, scale, dim)
    return (
        "WITH " + ",\n        ".join(ctes)
        + f"\n        SELECT s{iters}.dim AS dim, s{iters}.s AS s, v{iters}.v AS v"
        + f" FROM s{iters} JOIN v{iters} USING (dim)"
    )


def hard_negative_pairs(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    lo: float = 0.1,
    hi: float = 0.6,
    assignment: DataFrame | None = None,
    train_budget: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: within-cluster pairs
    whose cosine lands in ``[lo, hi)`` — similar enough to be confusable
    (same k-means cell = same neighborhood), dissimilar enough to be true
    negatives.  The standard pair source for embedding-model fine-tuning;
    random negatives are too easy, near-dups (≥ ``hi``) are false
    negatives — the band is the training signal.

    Candidate generation matters here: LSH sign-bit buckets would MISS
    most of the band (mid-similarity pairs differ in ≥2 sign bits), so
    the generator is the k-means cell, same bounded pair space as
    ``semdedup_pairs`` (Σ|cluster|², never N²) — in fact it IS
    ``semdedup_pairs`` with the dedup threshold as the band floor and a
    ceiling filter on top, so every exactness property carries over.
    """
    return semdedup_pairs(
        embeddings,
        k,
        iters,
        threshold=lo,
        assignment=assignment,
        train_budget=train_budget,
    ).filter(F.col("qsim") < hi)


def duck_hard_negative_sql(
    k: int | str = 8,
    lo: float = 0.1,
    hi: float = 0.6,
    sample_budget: int | str | None = None,
) -> str:
    """Oracle twin of :func:`hard_negative_pairs`: the semdedup oracle
    with the band ceiling applied outside."""
    return (
        f"SELECT * FROM ({duck_semdedup_sql(k, lo, sample_budget)})"
        f" WHERE qsim < {hi}"
    )


def knn_probe_ids(
    embeddings: DataFrame, probe_mod: int = 5, budget: int = 2000
) -> list[int]:
    """The fixed-budget eval probe set: the ``budget`` hash-smallest ids
    of the ``vec_id % probe_mod == 0`` slice, hash =
    ((id mod 999999937) · 1000003) mod 999999937 (both factors < 2³⁰, so
    the product never overflows int64 for ANY id — deterministic and
    identical in Spark and DuckDB), ties broken by id. Selected with a
    TakeOrdered, so driver state is ≤ budget ids regardless of corpus
    size — never a corpus-proportional collect (VERDICT round 8).
    ``budget`` is also the TakeOrdered allocation bound (an O(budget)
    priority queue per partition) — keep it labelled-benchmark-sized
    (10³–10⁵), never a sentinel like 2⁶³."""
    h = (F.col("vec_id") % F.lit(999999937)) * F.lit(1000003) % F.lit(
        999999937
    )
    return [
        int(r.vec_id)
        for r in embeddings.filter(F.col("vec_id") % probe_mod == 0)
        .select("vec_id", h.alias("h"))
        .orderBy("h", "vec_id")
        .limit(int(budget))
        .collect()
    ]


def knn_eval(
    embeddings: DataFrame,
    probe_mod: int = 5,
    k: int = 5,
    budget: int = 2000,
) -> DataFrame:
    """Per-class evaluation battery of the kNN classifier over a
    FIXED-BUDGET eval slice: support, predicted count, confusion
    diagonal, precision, recall, and F1 — the model-eval report card a
    labeling / distillation pipeline runs per release.

    Exactness: every input to a ratio is an exact integer count; F1 uses
    the rational identity F1 = 2·tp / (n_true + n_pred) (no p·r/(p+r)
    float chain), so each metric is one correctly-rounded division.

    Scale shape: the probe set is the ``budget`` hash-smallest ids of the
    ``vec_id % probe_mod == 0`` slice (hash = (id mod p)·a mod p with
    p = 999999937, a = 1000003 — overflow-safe in any engine's int64 and
    mirrored verbatim in the oracle SQL), selected by a TakeOrdered — so
    driver state, the broadcast probe list, and the brute-force scoring
    cost are all capped at ``budget`` REGARDLESS of corpus size. The
    pre-fix ``% probe_mod`` slice alone was corpus/probe_mod-sized:
    an O(N²/probe_mod) exact-scoring plan at 100 TB (VERDICT round 8).
    Scoring inherits ``knn_classify``'s broadcast-probe /
    never-shuffle-corpus plan; the metric rollup runs on ≤ budget rows
    then |classes| rows.
    """
    probe_ids = knn_probe_ids(embeddings, probe_mod, budget)
    # ≤ budget rows, but its lineage is the full brute-force scoring
    # pass — materialize once so the true-label and pred-label rollups
    # don't each re-score the corpus (round 12: the plan showed the
    # whole knn_classify subtree TWICE, 8 parquet scans total; guide
    # §8: decide with small rows). The bench's release sweep reclaims
    # the blocks.
    pred = knn_classify(embeddings, probe_ids, k).select(
        "true_label", "pred_label"
    ).localCheckpoint(eager=True)
    tr = pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(
            (F.col("pred_label") == F.col("true_label")).cast("bigint")
        ).alias("tp"),
    )
    pr = pred.groupBy(F.col("pred_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    j = tr.join(pr, "label", "full_outer").select(
        "label",
        F.coalesce("n_true", F.lit(0)).alias("n_true"),
        F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
        F.coalesce("tp", F.lit(0)).alias("tp"),
    )
    return j.select(
        "label",
        "n_true",
        "n_pred",
        "tp",
        F.round(F.col("tp") / F.nullif(F.col("n_pred"), F.lit(0)), 6).alias(
            "prec"
        ),
        F.round(F.col("tp") / F.nullif(F.col("n_true"), F.lit(0)), 6).alias(
            "rec"
        ),
        F.round(
            2 * F.col("tp")
            / F.nullif(F.col("n_true") + F.col("n_pred"), F.lit(0)),
            6,
        ).alias("f1"),
    )


def rank_fusion(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k_rrf: int = 60,
    topn: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of two
    ranked id lists: score(id) = Σ_lists 1/(k_rrf + rank), full-outer on
    id so appearing in either list suffices — the standard way a
    retrieval pipeline combines a sparse (BM25) and a dense (embedding)
    ranking without score calibration.

    Inputs are (id, rank) DataFrames. Determinism: each contribution is
    one exact integer division 1/(k+r) and the sum has a fixed two-term
    order, so the double compares identically cross-engine; ties break
    on id. The fused rank is a window over the ALREADY-fused id set —
    list-sized, not corpus-sized (the idiom: window after limit).
    """
    a = ranked_a.select(F.col("id"), F.col("rank").alias("rank_a"))
    b = ranked_b.select(F.col("id"), F.col("rank").alias("rank_b"))
    score = F.coalesce(
        F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_a")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_b")), F.lit(0.0))
    fused = (
        a.join(b, "id", "full_outer")
        .select("id", "rank_a", "rank_b", score.alias("s"))
        .orderBy(F.col("s").desc(), F.col("id").asc())
        .limit(topn)
    )
    w = Window.orderBy(F.col("s").desc(), F.col("id").asc())
    return fused.select(
        "id",
        "rank_a",
        "rank_b",
        F.round("s", 6).alias("rrf_score"),
        F.row_number().over(w).cast("int").alias("fused_rank"),
    )


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    train_budget: int | None = None,
) -> list[list[tuple[int, list[int]]]]:
    """TRAIN product-quantization codebooks: split the int8-quantized
    vector into ``m`` contiguous subspaces and run the shared Lloyd's
    kernel in each — the IVF-PQ companion (Jégou et al. 2011) that makes
    billion-vector ANN storable: m log2(k)-bit codes per vector instead
    of dim floats.

    Returns ``m`` centroid lists of driver state (m·k·(dim/m) ints —
    independent of corpus size, memoizable across queries/sessions like
    the full-vector centroids). Seeds per subspace are the k lowest
    vec_ids' slices, so training is a deterministic function of
    (dataset, m, k, iters).

    ``train_budget`` switches to SAMPLE-TRAINED codebooks — the round-11
    semdedup-cells pattern (:func:`kmeans_centroids`) applied to PQ,
    which production PQ indexes do universally: Lloyd runs over the
    ``train_budget`` md5-smallest vec_ids (one distributed TakeOrdered
    over the corpus, checkpointed so the m subspace trainings and their
    per-iter actions reread budget-sized blocks instead of re-deriving
    the sample from a full scan each time) with distinct-code seeding
    per subspace (duplicate sliced codes are COMMON in low-dim
    subspaces; duplicate seeds collapse into permanently-empty
    clusters — see :func:`_lloyd`).  Training cost drops from
    iters·m·N·k·(dim/m) to iters·m·budget·k·(dim/m) — at the SCALE.md
    §16 10 000× probe full-corpus training was ~80 % of q_pq_encode's
    738 s wall — while every consumer's ENCODE pass stays full-corpus
    and exact.  Still a deterministic function of (dataset, m, k,
    iters, budget): the sampled oracle is ``_duck_pq_chain`` with the
    same ``sample_budget``.
    """
    e = _quantized(embeddings)
    dim = 64
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    sub = dim // m
    rank_seeds = False
    if train_budget is not None:
        h = F.md5(F.col("vec_id").cast("string").cast("binary"))
        e = (
            e.orderBy(h.asc(), F.col("vec_id").asc())
            .limit(int(train_budget))
            .localCheckpoint(eager=True)
        )
        rank_seeds = True
    return [
        _lloyd(
            e.select("vec_id", F.slice("q", j * sub + 1, sub).alias("q")),
            k,
            iters,
            rank_seeds=rank_seeds,
        )
        for j in range(m)
    ]


def pq_encode(
    embeddings: DataFrame,
    books: list[list[tuple[int, list[int]]]],
) -> DataFrame:
    """PQ-encode every vector against trained codebooks: per subspace
    the argmin-distance code (ties to the smaller code id, same struct
    ordering as ``_assign_pass``) plus the total quantization error —
    the lossy-compression audit (err distribution decides whether m/k
    are adequate before the index ships).

    Scale shape: ONE map-only pass — all m argmins evaluate inside the
    same projection with the codebooks entering as m nested Literals;
    the corpus is scanned once and never shuffled. Distances are exact
    bigint integers end to end.
    """
    e = _quantized(embeddings)
    m = len(books)
    sub = 64 // m
    if m * max((len(b) for b in books), default=0) > 16:
        # Arrow-matmul twin for the hot encode: the interpreted
        # higher-order argmin is O(m·k·sub) PER ROW — the same doctrine
        # as _assign_pass's k>16 dispatch, with m·k the total centroid
        # count evaluated per row. Bit-equality pinned by
        # test_pq_encode_arrow_matches_expression.
        return _pq_encode_arrow(e, books, sub)
    return _pq_encode_expr(e, books, sub)


def _pq_encode_expr(
    e: DataFrame, books: list[list[tuple[int, list[int]]]], sub: int
) -> DataFrame:
    """The JVM expression argmin encode (see :func:`pq_encode` for the
    dispatch doctrine)."""
    cols = [F.col("vec_id")]
    errs = []
    for j, book in enumerate(books):
        cents = F.lit([[int(v) for v in c] for _, c in book]).cast(
            "array<array<bigint>>"
        )
        ids = F.lit([int(cid) for cid, _ in book]).cast("array<int>")
        qj = F.slice("q", j * sub + 1, sub)
        best = F.array_min(
            F.zip_with(
                cents,
                ids,
                lambda c, cid: F.struct(
                    F.aggregate(
                        F.zip_with(qj, c, lambda x, y: (x - y) * (x - y)),
                        F.lit(0).cast("bigint"),
                        lambda acc, d: acc + d,
                    ).alias("dist"),
                    cid.alias("cid"),
                ),
            )
        )
        cols.append(F.col(f"_b{j}.cid").alias(f"code_{j}"))
        errs.append(F.col(f"_b{j}.dist"))
        e = e.select("*", best.alias(f"_b{j}"))
    total = errs[0]
    for x in errs[1:]:
        total = total + x
    return e.select(*cols, total.alias("err"))


def _pq_encode_arrow(
    e: DataFrame, books: list[list[tuple[int, list[int]]]], sub: int
) -> DataFrame:
    """Arrow-batched twin of :func:`pq_encode`'s expression argmin — one
    ``mapInPandas`` pass computes every subspace's batch × centroid
    squared-L2 matrix as ||x||² + ||c||² − 2·X·Cᵀ in float64. EXACT for
    int8 codes: every operand and partial sum is an integer (per
    subspace |dist| ≤ sub·254² ≪ 2⁵³), so BLAS returns the same integers
    the JVM fold would. Ties go to the smaller code id (columns sorted
    by cid, ``argmin`` takes the first minimum — the struct-ordering
    rule of the expression path). Map-only like the expression path:
    codebooks travel as m·k·sub ints in the serialized closure."""
    import numpy as np
    import pandas as pd

    prepped = []
    for book in books:
        order = sorted(range(len(book)), key=lambda i: int(book[i][0]))
        cids = np.array([int(book[i][0]) for i in order], dtype=np.int64)
        cmat = np.array(
            [[int(v) for v in book[i][1]] for i in order], dtype=np.float64
        )
        prepped.append((cids, cmat, (cmat * cmat).sum(axis=1)))

    def encode(batches):
        from ..functions.blas import ensure_blas_pinned

        ensure_blas_pinned()  # worker-side cap; see _assign_pass_arrow
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["q"].to_numpy()).astype(np.float64)
            out = {"vec_id": pdf["vec_id"]}
            err = np.zeros(len(pdf), dtype=np.int64)
            for j, (cids, cmat, cnorm) in enumerate(prepped):
                xj = x[:, j * sub : (j + 1) * sub]
                d = (xj * xj).sum(axis=1)[:, None] + cnorm[None, :] - 2.0 * (
                    xj @ cmat.T
                )
                a = d.argmin(axis=1)
                out[f"code_{j}"] = cids[a].astype("int32")
                err += d[np.arange(len(a)), a].astype(np.int64)
            out["err"] = err
            yield pd.DataFrame(out)

    schema = "vec_id bigint, " + ", ".join(
        f"code_{j} int" for j in range(len(books))
    ) + ", err bigint"
    return e.select("vec_id", "q").mapInPandas(encode, schema)


def _duck_pq_chain(
    m: int = 4, k: int = 16, sample_budget: int | str | None = None
) -> str:
    """Shared PQ oracle CTE chain: per subspace ``j`` the same 2-round
    integer Lloyd's progression as :func:`duck_kmeans_cte` on the sliced
    codes, ending at ``a2_j`` (vec_id, cid, dist) and the trained
    centroid list ``c1_j``.  ``sample_budget`` mirrors the
    sample-trained path of :func:`pq_codebooks`: ONE md5-smallest
    sample of the full codes feeds every subspace's training CTEs
    (seeds = the k DISTINCT sliced codes with the lowest owning
    vec_ids, round-1 assignment and the centroid update over the
    sample) while each final assignment ``a2_j`` stays full-corpus."""
    sub = 64 // m
    km_q = (
        "list_transform(embedding::DOUBLE[], x -> CAST(greatest(-127,"
        " least(127, floor(x * 127 + 0.5))) AS BIGINT))"
    )
    dist = (
        f"list_sum(list_transform(generate_series(1, {sub}),"
        " i -> (q.q[i] - c.c[i]) * (q.q[i] - c.c[i])))"
    )
    parts = [f"WITH full_q AS (SELECT vec_id, {km_q} AS fq FROM embeddings)"]
    if sample_budget is not None:
        parts.append(
            f""", s_full AS (
            SELECT vec_id, fq FROM full_q
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT ({sample_budget})
        )"""
        )
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        if sample_budget is not None:
            train = f""", s{j} AS (
            SELECT vec_id, fq[{lo}:{hi}] AS q FROM s_full
        ), c0_{j} AS (
            SELECT min(vec_id) AS cid, q AS c FROM s{j}
            GROUP BY q ORDER BY cid LIMIT ({k})
        ),
        d1_{j} AS (
            SELECT q.vec_id, q.q, c.cid, {dist} AS dist
            FROM s{j} q CROSS JOIN c0_{j} c
        )"""
        else:
            train = f""", c0_{j} AS (
            SELECT vec_id AS cid, q AS c FROM q{j} WHERE vec_id < {k}
        ),
        d1_{j} AS (
            SELECT q.vec_id, q.q, c.cid, {dist} AS dist
            FROM q{j} q CROSS JOIN c0_{j} c
        )"""
        parts.append(
            f""", q{j} AS (
            SELECT vec_id, fq[{lo}:{hi}] AS q FROM full_q
        ){train}, a1_{j} AS (
            SELECT vec_id, q, cid, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rn FROM d1_{j}
            ) WHERE rn = 1
        ), c1cell_{j} AS (
            SELECT cid, i AS dim, CAST(floor(avg(q[i])) AS BIGINT) AS cv
            FROM a1_{j}, generate_series(1, {sub}) AS g(i)
            GROUP BY cid, i
        ), c1_{j} AS (
            SELECT c0_{j}.cid, coalesce(u.c, c0_{j}.c) AS c FROM c0_{j}
            LEFT JOIN (SELECT cid, list(cv ORDER BY dim) AS c
                       FROM c1cell_{j} GROUP BY cid) u USING (cid)
        ), d2_{j} AS (
            SELECT q.vec_id, q.q, c.cid, {dist} AS dist
            FROM q{j} q CROSS JOIN c1_{j} c
        ), a2_{j} AS (
            SELECT vec_id, cid, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, cid) AS rn FROM d2_{j}
            ) WHERE rn = 1
        )"""
        )
    return "".join(parts)


def duck_pq_sql(
    m: int = 4, k: int = 16, sample_budget: int | str | None = None
) -> str:
    """Oracle twin of pq_codebooks + pq_encode: one row per vector with
    its m codes and total quantization error."""
    codes = ", ".join(f"CAST(a2_{j}.cid AS INT) AS code_{j}" for j in range(m))
    err = " + ".join(f"a2_{j}.dist" for j in range(m))
    joins = " ".join(f"JOIN a2_{j} USING (vec_id)" for j in range(1, m))
    return _duck_pq_chain(m, k, sample_budget) + f"""
        SELECT vec_id, {codes}, ({err})::BIGINT AS err
        FROM a2_0 {joins}
    """


def duck_pq_adc_sql(
    m: int = 4,
    k: int = 16,
    probe_id: int = 0,
    topk: int = 10,
    sample_budget: int | str | None = None,
) -> str:
    """Oracle twin of :func:`pq_adc_topk`: per subspace, the probe's
    sliced code meets the trained centroid list ``c1_j`` to form the
    distance table; each vector's ADC is the sum of its codes' table
    entries; top-k by (adc, vec_id)."""
    sub = 64 // m
    chain = [_duck_pq_chain(m, k, sample_budget)]
    chain.append(
        f", probe AS (SELECT fq FROM full_q WHERE vec_id = {probe_id})"
    )
    for j in range(m):
        lo = j * sub
        pdist = (
            f"list_sum(list_transform(generate_series(1, {sub}),"
            f" i -> (p.fq[{lo} + i] - c.c[i]) * (p.fq[{lo} + i] - c.c[i])))"
        )
        chain.append(
            f""", pd_{j} AS (
            SELECT c.cid, {pdist} AS d FROM c1_{j} c CROSS JOIN probe p
        )"""
        )
    adc = " + ".join(f"pd_{j}.d" for j in range(m))
    joins = " ".join(
        f"JOIN pd_{j} ON pd_{j}.cid = a2_{j}.cid" for j in range(m)
    )
    a2_joins = " ".join(f"JOIN a2_{j} USING (vec_id)" for j in range(1, m))
    return "".join(chain) + f"""
        , adc AS (
            SELECT vec_id, ({adc})::BIGINT AS adc_dist
            FROM a2_0 {a2_joins} {joins}
            WHERE vec_id <> {probe_id}
        )
        SELECT vec_id, adc_dist, rank FROM (
            SELECT *, CAST(row_number() OVER (
                ORDER BY adc_dist, vec_id) AS INT) AS rank
            FROM adc
        ) WHERE rank <= {topk}
    """


def pq_adc_topk(
    embeddings: DataFrame,
    books: list[list[tuple[int, list[int]]]],
    probe_id: int = 0,
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (the ADC search of Jégou
    2011): the probe stays exact, each subspace contributes a k-entry
    distance table (probe slice vs trained centroids — m·k driver
    integers), and a vector's distance is the sum of its codes' table
    entries.

    This is WHY PQ exists at 100 TB: after encoding, the scan touches m
    small ints per vector and the per-vector work is m array lookups —
    no float vector is read at query time. Exactness: tables and sums
    are bigint end to end; ties break on vec_id; top-k is
    ``orderBy().limit(k)`` (TakeOrderedAndProject), ranked after the
    limit.
    """
    probe = (
        _quantized(embeddings).filter(F.col("vec_id") == probe_id).collect()
    )
    if not probe:
        raise ValueError(f"probe vec_id {probe_id} not found")
    enc = pq_encode(embeddings, books)
    adc = _adc_tables(books, [int(v) for v in probe[0].q])
    scored = enc.filter(F.col("vec_id") != probe_id).select(
        "vec_id", adc.alias("adc_dist")
    )
    top = scored.orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc()).limit(k)
    w = Window.orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    return top.select(
        "vec_id",
        "adc_dist",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def pq_recall(
    embeddings: DataFrame,
    books: list[list[tuple[int, list[int]]]],
    probe_id: int = 0,
    k: int = 10,
) -> DataFrame:
    """Recall audit of ADC search against the EXACT int8-L2 top-k for
    the same probe — the deployment gate for a chosen (m, k) codebook
    size, sibling of ``lsh_recall`` / the IVF recall audit: how much of
    the true neighborhood does the compressed index keep?

    One row: (probe_id, k, n_hits, recall). Both legs are exact bigint
    distance rankings with vec_id ties, so the overlap count is
    deterministic; recall is the single rational n_hits/k.
    """
    adc = pq_adc_topk(embeddings, books, probe_id, k).select("vec_id")
    probe = (
        _quantized(embeddings).filter(F.col("vec_id") == probe_id).collect()
    )
    pq = [int(v) for v in probe[0].q]
    plit = F.lit(pq).cast("array<bigint>")
    exact = (
        _quantized(embeddings)
        .filter(F.col("vec_id") != probe_id)
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(F.col("q"), plit, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda acc, d: acc + d,
            ).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id")
    )
    return adc.join(exact, "vec_id").agg(
        F.lit(probe_id).alias("probe_id"),
        F.lit(k).alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        F.round(F.count(F.lit(1)) / F.lit(k), 6).alias("recall"),
    )


def duck_pq_recall_sql(
    m: int = 4,
    k: int = 16,
    probe_id: int = 0,
    topk: int = 10,
    sample_budget: int | str | None = None,
) -> str:
    """Oracle twin of :func:`pq_recall`: the ADC list (shared chain) vs
    the exact int8-L2 bottom-k, overlap counted."""
    km_q = (
        "list_transform(embedding::DOUBLE[], x -> CAST(greatest(-127,"
        " least(127, floor(x * 127 + 0.5))) AS BIGINT))"
    )
    return f"""
        WITH adc AS ({duck_pq_adc_sql(m, k, probe_id, topk, sample_budget)}),
        eq AS (SELECT vec_id, {km_q} AS q FROM embeddings),
        ep AS (SELECT q FROM eq WHERE vec_id = {probe_id}),
        ex AS (
            SELECT vec_id FROM (
                SELECT eq.vec_id,
                       row_number() OVER (ORDER BY
                           list_sum(list_transform(generate_series(1, 64),
                               i -> (eq.q[i] - ep.q[i])
                                    * (eq.q[i] - ep.q[i]))),
                           eq.vec_id) AS rn
                FROM eq CROSS JOIN ep
                WHERE eq.vec_id <> {probe_id}
            ) WHERE rn <= {topk}
        )
        SELECT {probe_id} AS probe_id, {topk} AS k,
               count(*)::BIGINT AS n_hits,
               round(count(*) / {topk}, 6) AS recall
        FROM adc JOIN ex USING (vec_id)
    """


def _adc_tables(
    books: list[list[tuple[int, list[int]]]], probe_q: list[int]
) -> "Column":
    """The ADC scoring expression over a PQ-encoded relation: per
    subspace the probe's k-entry distance table as an array literal,
    indexed by that row's ``code_j`` column; the sum is the asymmetric
    distance (exact bigints throughout)."""
    m = len(books)
    sub = 64 // m
    adc = None
    for j, book in enumerate(books):
        pj = probe_q[j * sub : (j + 1) * sub]
        # keyed by code id, not position: sample-trained codebooks
        # (rank_seeds) carry arbitrary owning-vec_id code ids, so the
        # k-entry table is a map literal instead of a positional array
        pairs = []
        for cid, c in sorted(book):
            d = sum((a - b) * (a - b) for a, b in zip(pj, c))
            pairs += [F.lit(int(cid)), F.lit(int(d)).cast("bigint")]
        t = F.element_at(F.create_map(*pairs), F.col(f"code_{j}"))
        adc = t if adc is None else adc + t
    return adc


def ivfpq_topk(
    embeddings: DataFrame,
    books: list[list[tuple[int, list[int]]]],
    probe_id: int = 0,
    k: int = 10,
    n_cells: int = 16,
    n_probe_cells: int = 2,
) -> DataFrame:
    """The production ANN stack end to end — IVF cell restriction +
    PQ/ADC scoring (Jégou 2011's IVFADC): the probe visits only its
    ``n_probe_cells`` closest inverted lists, and candidates inside
    them are ranked by the m-lookup asymmetric distance, never by
    reading float vectors.

    Composition of the audited pieces: cell assignment is
    ``ivf_topk_cosine``'s deterministic seed-centroid argmax (broadcast
    seeds, corpus never shuffled), scoring is ``pq_adc_topk``'s table
    lookups over the one-pass PQ encoding. At 100 TB the scan cost per
    query is |corpus|·n_probe_cells/n_cells rows × m small ints.
    Output: (vec_id, cell, adc_dist, rank) — exact integers, ties on
    vec_id.
    """
    e = spread(embeddings).select(
        "vec_id",
        to_double("embedding").alias("e"),
        norm(to_double("embedding")).alias("n"),
    ).persist()
    seeds = e.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("seed_id"),
        F.col("e").alias("se"),
        F.col("n").alias("sn"),
    )
    scored = e.join(F.broadcast(seeds)).select(
        "vec_id",
        "seed_id",
        _sim_prenorm(F.col("e"), F.col("se"), F.col("n"), F.col("sn")).alias(
            "csim"
        ),
    )
    # Per-vec argmax as a PARTIAL-AGGREGABLE min-struct instead of a
    # row_number window (round 12): the window SORTED all
    # |corpus|×n_cells scored rows inside per-vec partitions; the agg
    # combines map-side to one struct per vec, removing the sort from
    # the exchange (measured at the SCALE.md §16 20 M-vector probe:
    # q_ivfpq_topk wall 518 → 265 s with the Arrow encode, exchange
    # bytes unchanged — the sort, not the bytes, was the cost).
    # Ordering is identical: min over (−csim, seed_id) = max csim, ties
    # to the smaller seed; a NULL csim (zero-norm degenerate) coalesces
    # to −∞ — picked only when every seed ties there, smallest seed wins,
    # exactly the window's desc-nulls-last rank 1.
    key = F.struct(
        (-F.coalesce(F.col("csim"), F.lit(float("-inf")))).alias("nc"),
        F.col("seed_id").alias("sid"),
    )
    assign = (
        scored.groupBy("vec_id")
        .agg(F.min(key).alias("best"))
        .select("vec_id", F.col("best.sid").alias("cell"))
    )
    probe_cells = (
        scored.filter(F.col("vec_id") == probe_id)
        .orderBy(F.col("csim").desc_nulls_last(), F.col("seed_id").asc())
        .limit(n_probe_cells)
        .select(F.col("seed_id").alias("cell"))
    )
    probe = (
        _quantized(embeddings).filter(F.col("vec_id") == probe_id).collect()
    )
    if not probe:
        raise ValueError(f"probe vec_id {probe_id} not found")
    adc = _adc_tables(books, [int(v) for v in probe[0].q])
    cands = (
        pq_encode(embeddings, books)
        .join(assign, "vec_id")
        .join(F.broadcast(probe_cells), "cell", "left_semi")
        .filter(F.col("vec_id") != probe_id)
        .select("vec_id", "cell", adc.alias("adc_dist"))
    )
    top = cands.orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc()).limit(k)
    wr = Window.orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    return top.select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        "adc_dist",
        F.row_number().over(wr).cast("int").alias("rank"),
    )


def duck_ivfpq_sql(
    m: int = 4,
    k: int = 16,
    probe_id: int = 0,
    topk: int = 10,
    n_cells: int = 16,
    n_probe_cells: int = 2,
    sample_budget: int | str | None = None,
) -> str:
    """Oracle twin of :func:`ivfpq_topk`: IVF seed-cosine assignment CTE
    (same shape as the q_similarity_ivf oracle) + the shared PQ chain +
    probe distance tables, joined and bottom-k ranked."""
    sub = 64 // m
    chain = [_duck_pq_chain(m, k, sample_budget)]
    chain.append(
        f""", ec AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), seeds AS (
            SELECT vec_id AS seed_id, emb AS se FROM ec
            WHERE vec_id < {n_cells}
        ), cscore AS (
            SELECT ec.vec_id, seed_id,
                   round({_ivf_cos()}, 4) AS csim
            FROM ec CROSS JOIN seeds
        ), cranked AS (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY csim DESC, seed_id) AS crn
            FROM cscore
        ), assign AS (
            SELECT vec_id, seed_id AS cell FROM cranked WHERE crn = 1
        ), pcells AS (
            SELECT seed_id AS cell FROM cranked
            WHERE vec_id = {probe_id} AND crn <= {n_probe_cells}
        ), probe AS (SELECT fq FROM full_q WHERE vec_id = {probe_id})"""
    )
    for j in range(m):
        lo = j * sub
        pdist = (
            f"list_sum(list_transform(generate_series(1, {sub}),"
            f" i -> (p.fq[{lo} + i] - c.c[i]) * (p.fq[{lo} + i] - c.c[i])))"
        )
        chain.append(
            f""", pd_{j} AS (
            SELECT c.cid, {pdist} AS d FROM c1_{j} c CROSS JOIN probe p
        )"""
        )
    adc = " + ".join(f"pd_{j}.d" for j in range(m))
    pd_joins = " ".join(
        f"JOIN pd_{j} ON pd_{j}.cid = a2_{j}.cid" for j in range(m)
    )
    a2_joins = " ".join(f"JOIN a2_{j} USING (vec_id)" for j in range(1, m))
    return "".join(chain) + f"""
        , cand AS (
            SELECT a2_0.vec_id, assign.cell, ({adc})::BIGINT AS adc_dist
            FROM a2_0 {a2_joins} {pd_joins}
            JOIN assign ON assign.vec_id = a2_0.vec_id
            WHERE assign.cell IN (SELECT cell FROM pcells)
              AND a2_0.vec_id <> {probe_id}
        )
        SELECT vec_id, CAST(cell AS BIGINT) AS cell, adc_dist, rank FROM (
            SELECT *, CAST(row_number() OVER (
                ORDER BY adc_dist, vec_id) AS INT) AS rank
            FROM cand
        ) WHERE rank <= {topk}
    """


def _ivf_cos() -> str:
    """Cosine between ``ec.emb`` and ``seeds.se`` in the IVF oracle CTEs
    — same fold shape as functions.vectors.duck_cosine at dim 64."""
    from ..functions.vectors import duck_cosine

    return duck_cosine("ec.emb", "se", 64)


def matryoshka_recall(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    prefix_dim: int = 16,
) -> DataFrame:
    """Recall@k of PREFIX-dimension search against the full-dimension
    exact ranking — the Matryoshka-representation audit: if the first
    ``prefix_dim`` coordinates carry enough signal, a retrieval funnel
    can scan the corpus at prefix width (4× less I/O and FLOPs at 16/64)
    and rerank only survivors at full width. Per probe: the true top-k
    (full cosine), the prefix top-k (cosine over ``slice(emb, 1, p)``),
    and |intersection|/k.

    One corpus scan computes BOTH similarities per (probe, candidate)
    pair — the probe side is broadcast, so nothing shuffles until the
    per-probe window ranks — and the intersection is ONE conditional
    aggregation over the doubly-ranked pairs (count rf≤k vs rf≤k∧rp≤k):
    no self-join, no second scan. Scale: identical shape to
    ``topk_cosine_bruteforce`` plus one extra fold per pair.
    """
    probes = _with_norm(
        embeddings.filter(F.col("vec_id").isin(probe_ids)), "probe_id", "pe"
    ).select(
        "probe_id",
        "pe",
        "pe_n",
        norm(F.slice(F.col("pe"), 1, prefix_dim)).alias("pp_n"),
    )
    corpus = _with_norm(spread(embeddings), "neighbor_id", "ce").select(
        "neighbor_id",
        "ce",
        "ce_n",
        norm(F.slice(F.col("ce"), 1, prefix_dim)).alias("cp_n"),
    )
    scored = (
        F.broadcast(probes)
        .join(corpus, F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            _sim_prenorm(
                F.col("pe"), F.col("ce"), F.col("pe_n"), F.col("ce_n")
            ).alias("sim_full"),
            _sim_prenorm(
                F.slice(F.col("pe"), 1, prefix_dim),
                F.slice(F.col("ce"), 1, prefix_dim),
                F.col("pp_n"),
                F.col("cp_n"),
            ).alias("sim_prefix"),
        )
    )
    wf = Window.partitionBy("probe_id").orderBy(
        F.col("sim_full").desc(), F.col("neighbor_id").asc()
    )
    wp = Window.partitionBy("probe_id").orderBy(
        F.col("sim_prefix").desc(), F.col("neighbor_id").asc()
    )
    ranked = scored.select(
        "probe_id",
        "neighbor_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    in_full = F.col("rf") <= k
    in_pref = F.col("rp") <= k
    return (
        ranked.groupBy("probe_id")
        .agg(
            F.sum(in_full.cast("int")).cast("bigint").alias("n_true"),
            F.sum((in_full & in_pref).cast("int"))
            .cast("bigint")
            .alias("n_found"),
        )
        .select(
            "probe_id",
            F.lit(prefix_dim).cast("int").alias("prefix_dim"),
            "n_true",
            "n_found",
            F.round(F.col("n_found") / F.col("n_true"), 4).alias("recall"),
        )
    )


def centroid_drift(assignment: DataFrame) -> DataFrame:
    """Index-staleness audit between two corpus epochs: split the
    assigned vectors by ``vec_id`` parity (epoch A/B — the stand-in for
    "index build" vs "data since"), and per shared cluster report the
    population shift and the squared L2 distance between the two epochs'
    integer mean centroids. A cluster whose centroid walks or whose
    population flips is where an IVF/PQ index has gone stale and
    recall silently decays — the signal that schedules a re-train.

    Exactness: counts are bigints; per-epoch mean centroids use the same
    floor(avg) integer quantization as the k-means update itself, so the
    shift is an exact integer sum of squared deltas; only the population
    drift ratio divides, once, at the end.

    Scale shape: consumes a precomputed ``kmeans_assign`` output (the
    shared assignment the sibling cluster queries persist); the dimension
    explode shuffles (cluster × epoch × dim) rows — k·2·64, metadata-
    sized — after a map-side partial average over the corpus.
    """
    epoch = assignment.select(
        "cluster_id",
        (F.col("vec_id") % 2).alias("epoch"),
        F.posexplode("q").alias("dim", "qv"),
    )
    cells = epoch.groupBy("cluster_id", "epoch", "dim").agg(
        F.floor(F.avg("qv")).cast("bigint").alias("cv"),
        F.count(F.lit(1)).alias("n"),
    )
    per_epoch = cells.groupBy("cluster_id", "epoch").agg(
        F.sum(F.col("cv") * F.col("cv")).alias("ss"),
        F.collect_list(F.struct("dim", "cv")).alias("cvs"),
        F.max("n").alias("n_vecs"),
    )
    a = per_epoch.filter(F.col("epoch") == 0).select(
        "cluster_id",
        F.col("cvs").alias("cvs_a"),
        F.col("n_vecs").alias("n_a"),
    )
    b = per_epoch.filter(F.col("epoch") == 1).select(
        F.col("cluster_id").alias("cid_b"),
        F.col("cvs").alias("cvs_b"),
        F.col("n_vecs").alias("n_b"),
    )
    joined = a.join(b, F.col("cluster_id") == F.col("cid_b"), "inner")
    sorted_a = F.expr(
        "transform(array_sort(cvs_a, (l, r) -> l.dim - r.dim), s -> s.cv)"
    )
    sorted_b = F.expr(
        "transform(array_sort(cvs_b, (l, r) -> l.dim - r.dim), s -> s.cv)"
    )
    shift = F.aggregate(
        F.zip_with(sorted_a, sorted_b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x.cast("bigint"),
    )
    return joined.select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(
            F.abs(F.col("n_a") - F.col("n_b"))
            / (F.col("n_a") + F.col("n_b")),
            4,
        ).alias("count_drift"),
        shift.cast("bigint").alias("centroid_shift_l2sq"),
    )


def duck_centroid_drift_sql(k: int | str = 8) -> str:
    """DuckDB twin of ``centroid_drift`` over the shared k-means CTE."""
    return (
        duck_kmeans_cte(k)
        + """
        , ep AS (
            SELECT cid, vec_id % 2 AS epoch, i AS dim, q[i] AS qv
            FROM a2, generate_series(1, 64) AS g(i)
        ), cells AS (
            SELECT cid, epoch, dim,
                   CAST(floor(avg(qv)) AS BIGINT) AS cv, count(*) AS n
            FROM ep GROUP BY cid, epoch, dim
        ), per_epoch AS (
            SELECT cid, epoch, list(cv ORDER BY dim) AS cvs,
                   max(n) AS n_vecs
            FROM cells GROUP BY cid, epoch
        )
        SELECT CAST(a.cid AS INT) AS cluster_id,
               a.n_vecs::BIGINT AS n_a, b.n_vecs::BIGINT AS n_b,
               round(abs(a.n_vecs - b.n_vecs)
                     / (a.n_vecs + b.n_vecs), 4) AS count_drift,
               list_sum(list_transform(generate_series(1, 64),
                   i -> (a.cvs[i] - b.cvs[i]) * (a.cvs[i] - b.cvs[i])
               ))::BIGINT AS centroid_shift_l2sq
        FROM (SELECT * FROM per_epoch WHERE epoch = 0) a
        JOIN (SELECT * FROM per_epoch WHERE epoch = 1) b USING (cid)
    """
    )


def norm_profile(embeddings: DataFrame) -> DataFrame:
    """Per-label profile of embedding magnitude over the int8-quantized
    codes: count, min/max/mean squared norm — the norm-collapse
    diagnostic (a label whose vectors shrink toward the origin stops
    separating under cosine; a runaway norm flags unnormalized inputs).

    Squared norms of integer codes are exact bigints, so every statistic
    is exact integer aggregation with ONE final division for the mean —
    zero FP accumulation. One map-side fold per vector, one
    label-dimension groupBy; nothing else.
    """
    q = embeddings.select(
        "label",
        F.aggregate(
            _quantize_int8(F.col("embedding")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x * x,
        ).alias("sq"),
    )
    return q.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.min("sq").alias("min_sq_norm"),
        F.max("sq").alias("max_sq_norm"),
        F.round(F.sum("sq") / F.count(F.lit(1)), 4).alias("mean_sq_norm"),
    )


def silhouette(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """Centroid-based (simplified) silhouette per cluster — the clustering
    QUALITY metric next to ``kmeans_embeddings``' inertia: for each
    vector, a = squared distance to its own centroid, b = squared
    distance to the nearest OTHER centroid, s = (b - a) / max(a, b); we
    report per-cluster counts and mean s. The full Rousseeuw silhouette
    needs all-pairs distances (impossible at corpus scale); the
    centroid-based variant is the standard O(N·k) approximation and is
    exact here: a and b are exact integer squared L2 over the int8
    codes, s is scaled by 1e6 under INTEGER floor division, and only the
    per-cluster mean performs a float divide.

    Plan shape at 100 TB: the k centroids ride into the scan as ONE
    nested literal (same single-constant trick as ``_assign_pass``), the
    two smallest distances come from an in-row array_sort over k structs
    — map-only — and the only shuffle is the k-row partial agg. The
    corpus is scanned once and never shuffled.
    """
    cur = (
        centroids
        if centroids is not None
        else kmeans_centroids(embeddings, k, iters)
    )
    if len(cur) < 2:
        raise ValueError("silhouette: needs k >= 2 clusters")
    cents = F.lit([[int(v) for v in c] for _, c in cur]).cast(
        "array<array<bigint>>"
    )
    ids = F.lit([int(cid) for cid, _ in cur]).cast("array<int>")
    pairs = F.zip_with(
        cents,
        ids,
        lambda c, cid: F.struct(
            F.aggregate(
                F.zip_with(F.col("q"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda acc, d: acc + d,
            ).alias("dist"),
            cid.alias("cid"),
        ),
    )
    top2 = F.slice(F.array_sort(pairs), 1, 2)
    ab = _quantized(embeddings).select(
        top2[0]["cid"].alias("cluster_id"),
        top2[0]["dist"].alias("a_dist"),
        top2[1]["dist"].alias("b_dist"),
    )
    # b >= a by construction, so s_scaled is a non-negative bigint and
    # `div` (truncating) equals floor — matching DuckDB's `//`.
    s = ab.withColumn(
        "s_scaled",
        F.expr(
            "CASE WHEN greatest(a_dist, b_dist) = 0 THEN 0L "
            "ELSE ((b_dist - a_dist) * 1000000L) div greatest(a_dist, b_dist) END"
        ),
    )
    return s.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("s_scaled").alias("sum_sil"),
        F.round(
            F.sum("s_scaled") / (F.count(F.lit(1)) * F.lit(1000000.0)), 4
        ).alias("mean_sil"),
    )


def duck_silhouette_sql(k: int | str = 8) -> str:
    """Oracle twin of :func:`silhouette` on the shared k-means CTE chain:
    rank ALL of d2's per-centroid distances per vector, a = rank 1,
    b = rank 2, identical 1e6-scaled integer floor division."""
    return (
        duck_kmeans_cte(k)
        + """
        , r2 AS (
            SELECT vec_id, cid, dist, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rn
            FROM d2
        ), ab AS (
            SELECT a.vec_id, a.cid, a.dist AS a_dist, b.dist AS b_dist
            FROM (SELECT * FROM r2 WHERE rn = 1) a
            JOIN (SELECT * FROM r2 WHERE rn = 2) b USING (vec_id)
        ), s AS (
            SELECT cid, CASE WHEN greatest(a_dist, b_dist) = 0 THEN 0
                ELSE ((b_dist - a_dist) * 1000000) // greatest(a_dist, b_dist)
                END AS s_scaled
            FROM ab
        )
        SELECT CAST(cid AS INT) AS cluster_id,
               count(*)::BIGINT AS n_vectors,
               sum(s_scaled)::BIGINT AS sum_sil,
               round(sum(s_scaled) / (count(*) * 1000000.0), 4) AS mean_sil
        FROM s GROUP BY cid
    """
    )


def kcenter_select(embeddings: DataFrame, m: int = 4) -> list:
    """The greedy selection leg of :func:`kcenter_coreset` alone: returns
    the chosen ``[(vec_id, q-vector), …]`` driver state (m×dim ints,
    deterministic in (corpus, m)) so sibling invocations can memoize it —
    the same contract as ``kmeans_centroids``."""
    if m < 1:
        raise ValueError("kcenter_coreset: m must be >= 1")
    e = _quantized(embeddings).persist()
    try:
        first = e.orderBy("vec_id").head()
        if first is None:
            raise ValueError("kcenter_coreset: empty embeddings input")
        chosen: list[tuple[int, list[int]]] = [
            (int(first.vec_id), [int(v) for v in first.q])
        ]
        for _ in range(m - 1):
            dists = [_int_sq_dist(F.col("q"), c) for _, c in chosen]
            mind = dists[0] if len(dists) == 1 else F.least(*dists)
            cand = (
                e.select("vec_id", "q", mind.alias("mind"))
                .orderBy(F.col("mind").desc(), F.col("vec_id").asc())
                .limit(1)
                .head()
            )
            chosen.append((int(cand.vec_id), [int(v) for v in cand.q]))
        return chosen
    finally:
        e.unpersist()


def kcenter_coreset(
    embeddings: DataFrame, m: int = 4, centers: list | None = None
) -> DataFrame:
    """Greedy k-center CORESET selection (Gonzalez '85, the standard
    diverse-exemplar / data-selection primitive): seed with the lowest
    vec_id, then ``m-1`` times pick the vector FARTHEST from the chosen
    set (max over the corpus of min squared distance to any chosen
    center, ties to the smaller vec_id) — the 2-approximation to the
    k-center optimum that coreset-based training-data selection builds
    on. Returns per-center coverage: assigned count, the covering radius
    (max assigned distance — the k-center objective), and the inertia
    contribution.

    Scale shape: each greedy round is ONE map-only pass (the chosen set
    rides in as literal constants, exactly like ``_assign_pass``) ending
    in a TakeOrderedAndProject of a single row — driver state after m
    rounds is m×dim ints. The final coverage pass is the same map-only
    argmin + a k-row partial agg. No corpus shuffle anywhere; exact
    integer distances throughout.

    ``centers`` injects a pre-selected (memoized) :func:`kcenter_select`
    result, skipping the greedy rounds — bit-identical output because
    the selection is deterministic.
    """
    chosen = centers if centers is not None else kcenter_select(embeddings, m)
    assigned = _assign_pass(_quantized(embeddings), sorted(chosen))
    return assigned.groupBy(
        F.col("cluster_id").alias("center_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
        F.max("dist").alias("radius"),
        F.sum("dist").alias("sum_dist"),
    )


def duck_kcenter_sql(m: int = 4) -> str:
    """Oracle twin of :func:`kcenter_coreset`: the m greedy rounds
    unrolled as CTEs (pick = ORDER BY min-dist DESC, vec_id LIMIT 1),
    then the same nearest-center assignment and k-row rollup."""
    km_q = (
        "list_transform(embedding::DOUBLE[], x -> CAST(greatest(-127,"
        " least(127, floor(x * 127 + 0.5))) AS BIGINT))"
    )
    dist = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> (x.q[i] - c.q[i]) * (x.q[i] - c.q[i])))"
    )
    parts = [
        f"""
        WITH q AS (
            SELECT vec_id, {km_q} AS q FROM embeddings
        ), ch0 AS (
            SELECT vec_id, q FROM q
            WHERE vec_id = (SELECT min(vec_id) FROM q)
        )"""
    ]
    prev = "ch0"
    for r in range(1, m):
        parts.append(
            f""", d{r} AS (
            SELECT x.vec_id, x.q, min({dist}) AS mind
            FROM q x CROSS JOIN {prev} c GROUP BY x.vec_id, x.q
        ), p{r} AS (
            SELECT vec_id, q FROM d{r}
            ORDER BY mind DESC, vec_id ASC LIMIT 1
        ), ch{r} AS (
            SELECT * FROM {prev} UNION ALL SELECT * FROM p{r}
        )"""
        )
        prev = f"ch{r}"
    parts.append(
        f""", da AS (
            SELECT x.vec_id AS v, c.vec_id AS center_id, {dist} AS dist,
                   row_number() OVER (
                       PARTITION BY x.vec_id
                       ORDER BY {dist}, c.vec_id) AS rn
            FROM q x CROSS JOIN {prev} c
        )
        SELECT CAST(center_id AS INT) AS center_id,
               count(*)::BIGINT AS n_assigned,
               max(dist)::BIGINT AS radius,
               sum(dist)::BIGINT AS sum_dist
        FROM da WHERE rn = 1 GROUP BY center_id"""
    )
    return "".join(parts)


def ndcg_idcg(k: int) -> float:
    """Ideal DCG@k for graded relevance rel_j = k+1-j (the constant both
    engines embed as the SAME literal, so no cross-engine drift)."""
    from math import log2

    return sum((k + 1 - j) / log2(j + 1) for j in range(1, k + 1))


def ndcg_audit(
    embeddings: DataFrame, probe_ids: list[int], k: int = 5
) -> DataFrame:
    """NDCG@k of the LSH retrieval against the exact cosine ranking — the
    GRADED companion of the recall audits (``ann_recall`` counts hits;
    NDCG also scores whether the best neighbors surfaced at the top,
    the metric retrieval/RAG evaluations actually report). Relevance of
    a retrieved neighbor = k+1−(its exact rank), 0 if outside the exact
    top-k; DCG discounts by the retrieval position; IDCG is the closed
    form, embedded as one shared literal.

    Scale shape: composes the two existing retrieval operators and joins
    their k·|probes|-row neighbor lists — the audit costs two index runs
    plus a trivial join at any corpus size, like ``ann_recall``.
    """
    exact = topk_cosine_bruteforce(embeddings, probe_ids, k).select(
        "probe_id", "neighbor_id", F.col("rank").alias("exact_rank")
    )
    approx = lsh_topk_cosine(embeddings, probe_ids, k).select(
        "probe_id", "neighbor_id", F.col("rank").alias("pos")
    )
    # both sides are k·|probes| rows, but their lineage is windowed corpus
    # scans whose size ESTIMATES are way past the auto-broadcast threshold
    # — without the hint the planner sort-merge-joins two ~25-row
    # relations through two Exchanges (round 13 plan audit; guide §3.1)
    graded = approx.join(
        F.broadcast(exact), ["probe_id", "neighbor_id"], "left"
    ).select(
        "probe_id",
        "pos",
        F.coalesce(
            F.lit(k + 1) - F.col("exact_rank"), F.lit(0)
        ).alias("rel"),
    )
    idcg = ndcg_idcg(k)
    return graded.groupBy("probe_id").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
        F.round(
            F.sum(
                F.col("rel").cast("double")
                / F.log2(F.col("pos").cast("double") + 1.0)
            )
            / F.lit(idcg),
            4,
        ).alias("ndcg"),
    )


def duck_ndcg_sql(exact_sql: str, approx_sql: str, k: int = 5) -> str:
    """Oracle twin of :func:`ndcg_audit`, composed over the two retrieval
    oracle queries (both emit probe_id, neighbor_id, rank)."""
    idcg = ndcg_idcg(k)
    return f"""
        WITH exact AS ({exact_sql}),
        approx AS ({approx_sql}),
        graded AS (
            SELECT a.probe_id, a.rank AS pos,
                   coalesce({k + 1} - e.rank, 0) AS rel
            FROM approx a LEFT JOIN exact e
              ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
        )
        SELECT probe_id,
               sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS n_hits,
               round(sum(rel::DOUBLE / log2(pos::DOUBLE + 1.0))
                     / {idcg!r}, 4) AS ndcg
        FROM graded GROUP BY probe_id
    """


def pca_variance_explained(
    embeddings: DataFrame, iters: int = 2, scale: int = 127
) -> DataFrame:
    """Variance explained by the top principal direction — the audit that
    says whether ``power_iteration_component``'s v₁ is worth projecting
    onto (a flat spectrum means PCA pruning would destroy signal): the
    Rayleigh quotient Σ(q·v)² / (|v|²·Σ|q|²) over the uncentered int8
    cloud, one row with the exact integer numerator pieces and the single
    rounded ratio.

    Scale shape: one iterative training run (driver holds dim ints), then
    ONE map-only corpus pass folding (q·v)² and |q|² into two exact
    bigint sums; |v|² is a driver-side constant. Nothing corpus-sized
    moves.
    """
    # rerun the same driver loop to obtain v (dim ints) — identical code
    # path as power_iteration_component, which unit/oracle tests pin
    vt = power_iteration_component(embeddings, iters, scale).select(
        "dim", "v"
    ).collect()
    v = [0] * len(vt)
    for r in vt:
        v[r.dim] = int(r.v)
    vnorm2 = sum(x * x for x in v)
    vlit = F.array(*[F.lit(int(x)).cast("bigint") for x in v])
    q = spread(embeddings).select(
        _quantize_int8(F.col("embedding"), scale).alias("q")
    )
    d = F.aggregate(
        F.zip_with(F.col("q"), vlit, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qq = F.aggregate(
        F.col("q"), F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
    )
    agg = q.select(d.alias("d"), qq.alias("qq")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("rayleigh_num"),
        F.sum("qq").cast("bigint").alias("total_ss"),
    )
    return agg.select(
        "n_vectors",
        "rayleigh_num",
        F.lit(vnorm2).cast("bigint").alias("vnorm2"),
        "total_ss",
        F.round(
            F.col("rayleigh_num")
            / (F.lit(float(vnorm2)) * F.col("total_ss").cast("double")),
            6,
        ).alias("var_explained"),
    )


def duck_pca_variance_sql(
    iters: int = 2, scale: int = 127, dim: int = 64
) -> str:
    """Oracle twin of :func:`pca_variance_explained`, composed over the
    shared unrolled power-iteration CTEs."""
    ctes = _duck_power_ctes(iters, scale, dim)
    ctes.append(
        f"vn AS (SELECT CAST(list_sum(list_transform(vl,"
        f" x -> x * x)) AS BIGINT) AS vnorm2 FROM vl{iters})"
    )
    ctes.append(
        f"""proj AS (
            SELECT list_sum(list_transform(generate_series(1, {dim}),
                       j -> q.q[j] * vl{iters}.vl[j])) AS d,
                   list_sum(list_transform(q.q, x -> x * x)) AS qq
            FROM q CROSS JOIN vl{iters}
        )"""
    )
    return (
        "WITH " + ",\n        ".join(ctes)
        + f"""
        SELECT count(*)::BIGINT AS n_vectors,
               CAST(sum(d * d) AS BIGINT) AS rayleigh_num,
               vn.vnorm2 AS vnorm2,
               CAST(sum(qq) AS BIGINT) AS total_ss,
               round(sum(d * d) / (vn.vnorm2::DOUBLE * sum(qq)), 6)
                   AS var_explained
        FROM proj CROSS JOIN vn GROUP BY vn.vnorm2"""
    )
