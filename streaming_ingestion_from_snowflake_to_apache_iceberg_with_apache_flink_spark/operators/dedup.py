"""Deduplication suite for training-data pipelines.

Five escalating strategies over ``documents(doc_id, text, ...)``:

1. ``exact_dedup`` — group-by-content hash; keeps the smallest doc_id.
2. ``ngram_jaccard_pairs`` — *exact* near-dup pairs via an inverted shingle
   index (the verification baseline for the approximate methods).
3. ``minhash_lsh_pairs`` — MinHash signatures + LSH banding; the 100 TB
   path: candidate generation is a band-bucket self-join, never O(N²).
4. ``simhash`` — 32-bit per-doc SimHash signature (Hamming-proximity dedup).
5. embedding near-dup — semantic near-dup via cosine, in
   ``operators.similarity`` (shares the vector kernels).

Scale notes (the part that matters at 100 TB):
* the inverted-index join explodes docs → shingles and self-joins on the
  shingle; ubiquitous shingles (df > ``max_shingle_df``) are dropped first —
  the classic stop-shingle cut that keeps the join from quadratic blowup on
  boilerplate, and it is part of the declared semantics so the oracle
  mirrors it;
* MinHash banding shuffles each doc exactly ``LSH_BANDS`` times on narrow
  (band, key) rows; bucket sizes are data-bounded the same way via
  ``max_bucket``;
* every hash is the portable md5-based h32 (functions.hashing), so both
  approximate methods are *exactly* reproduced by the DuckDB oracle —
  signatures, bands, candidate pairs, and estimates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions.partitioning import spread

_TOKENS = H.spark_tokens("text")



from .ranks import scoped_shuffle_partitions


def graph_shuffle_scope(df: DataFrame, n_edges: int):
    """Scope ``spark.sql.shuffle.partitions`` to the GRAPH for an
    iterative loop's jobs (the connected_components sizing, shared by
    every fixed-round graph operator here): near-dup graphs are a sliver
    of the corpus, and a handful of loop shuffles at session parallelism
    is pure scheduling overhead. At real scale ``edges/200k`` exceeds
    the session setting and this is a no-op; restores the session value
    on exit either way. The set→loop→restore sequence is serialized by
    ``ranks._SHUFFLE_SCOPE_LOCK`` (see that lock for the shared-conf
    hazard it covers and the one it does not)."""
    return scoped_shuffle_partitions(df.sparkSession, n_edges // 200_000 + 2)

def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate removal on text content, keeping min doc_id.

    Implemented as a min-aggregation on the content (hash group-by shape):
    one partial-agg shuffle on the 32-char md5, no window sort needed.
    """
    return (
        documents.withColumn("__h", F.md5(F.col("text")))
        .groupBy("__h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


def _posting_pairs(
    inv: DataFrame,
    key: str,
    max_df: int,
    carry: list[str],
    ordered: bool = False,
) -> DataFrame:
    """Candidate pairs from an inverted index in ONE shuffle.

    Groups ``inv`` (doc_id, <key>, *carry) into per-key posting lists,
    drops oversized keys (> ``max_df`` — the stop-shingle / bucket cut),
    and expands each list into its doc pairs with an array kernel. This
    replaces the classic df-count + filter-join + self-join formulation:
    that plan shuffles the full index three times (count agg, stop-list
    join, both self-join sides); this one shuffles it once, and the pair
    blowup stays bounded by ``max_df²`` per key by construction.

    ``ordered=False`` emits each pair once with ``doc_a < doc_b``;
    ``ordered=True`` emits both directions (for asymmetric measures).
    Carried columns come out as ``<name>_a`` / ``<name>_b``.

    BUDGET CONTRACT (tested): total pair volume is
    ≤ |{keys with 2 ≤ df ≤ max_df}| · C(max_df, 2) — keys past the cap
    emit NOTHING. The 30× probe (SCALE.md note A) measured the shape
    this buys: candidate volume rises ~quadratically while typical dfs
    sit below the cap, peaks as the df distribution crosses it, then
    FALLS once common keys are dropped outright — the cap is a hard
    ceiling on the quadratic phase, not an asymptotic bound. Trade-off:
    a fixed ABSOLUTE cap treats ever-more keys as boilerplate as the
    corpus grows (recall decays gracefully, cost stays bounded);
    scaling it as a df FRACTION keeps recall but deliberately re-opens
    the quadratic phase — choose per pipeline, both are one parameter.
    """
    entry = F.struct(F.col("doc_id"), *[F.col(c) for c in carry])
    postings = (
        inv.groupBy(key)
        .agg(F.array_sort(F.collect_list(entry)).alias("ps"))
        .filter((F.size("ps") >= 2) & (F.size("ps") <= max_df))
    )
    # all i<j pairs of the doc_id-sorted posting list
    pair = (
        "named_struct('doc_a', x.doc_id, 'doc_b', y.doc_id"
        + "".join(f", '{c}_a', x.{c}, '{c}_b', y.{c}" for c in carry)
        + ")"
    )
    expand = (
        "explode(flatten(transform(ps, (x, i) -> "
        f"transform(slice(ps, i + 2, size(ps)), y -> {pair})))) as p"
    )
    pairs = postings.selectExpr(expand).select("p.*")
    if not ordered:
        return pairs
    # asymmetric measure: emit both directions of every unordered pair
    both = (
        "explode(array(named_struct('doc_src', doc_a, 'doc_dst', doc_b"
        + "".join(f", '{c}_src', {c}_a, '{c}_dst', {c}_b" for c in carry)
        + "), named_struct('doc_src', doc_b, 'doc_dst', doc_a"
        + "".join(f", '{c}_src', {c}_b, '{c}_dst', {c}_a" for c in carry)
        + "))) as p"
    )
    return pairs.selectExpr(both).select("p.*")


def _hashed_shingles(
    documents: DataFrame, n: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *carry, shingles: array<bigint>) — the shared
    shingle-hash scan.

    The token split is hoisted into its own projection so the n-gram slice
    lambda reads a materialized token array; inlined, Catalyst re-evaluates
    the regex split once per shingle position (multi-use aliases do not
    collapse, so the hoist survives optimization).

    ``carry`` threads extra metadata columns through the scan so callers
    never re-join them onto the shingle relation by doc_id — that join
    shuffles the corpus-sized shingle arrays a second time for a
    few-bytes tag (round 12, guide §2.3)."""
    sh = H.spark_shingles("toks", n)
    cols = ["doc_id", *carry]
    return (
        spread(documents)
        .selectExpr(*cols, f"{_TOKENS} as toks")
        .selectExpr(
            *cols, f"transform({sh}, s -> {H.spark_h32('s')}) as shingles"
        )
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via inverted-index self-join.

    J(a,b) = |A∩B| / (|A|+|B|-|A∩B|) over distinct word n-gram shingle
    sets; only pairs sharing ≥1 (non-ubiquitous) shingle are candidates.

    The posting lists carry the 8-byte h32 of each shingle, not the ~n-word
    string — the self-join shuffles a fixed-width bigint key (declared
    semantics: Jaccard over hashed shingles; the oracle computes the same
    h32, so any collision affects both engines identically).

    ``max_shingle_df`` is the candidate-volume budget: pairs are bounded
    by (#shingles with df ≤ cap) · C(cap, 2), and shingles past the cap
    contribute nothing (see ``_posting_pairs`` for the measured
    transition-regime behavior and the absolute-cap vs df-fraction
    trade-off).
    """
    inv = _hashed_shingles(documents, n).selectExpr(
        "doc_id", "size(shingles) as n_sh", "explode(shingles) as shingle"
    )
    inter = _posting_pairs(inv, "shingle", max_shingle_df, carry=["n_sh"]).groupBy(
        "doc_a", "doc_b", "n_sh_a", "n_sh_b"
    ).agg(F.count(F.lit(1)).alias("n_common"))
    return inter.selectExpr(
        "doc_a",
        "doc_b",
        "cast(round(n_common / (n_sh_a + n_sh_b - n_common), 4) as double) as jaccard",
    ).filter(F.col("jaccard") >= threshold)


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Dedup an incoming batch AGAINST an already-curated corpus — the
    daily-crawl increment case, where re-clustering the whole corpus per
    batch would be O(corpus) instead of O(batch).

    Per new doc, one audit row with the first matching verdict:

    * ``exact_dup_corpus`` — content hash already in the corpus;
    * ``exact_dup_batch``  — another (smaller-id) batch doc has the hash;
    * ``near_dup_corpus``  — shares a shingle posting with a corpus doc at
      Jaccard ≥ threshold (batch-internal near-dups are left to the full
      ``dedup_corpus`` pass by design — the increment's contract is "don't
      re-add what the corpus already has");
    * ``kept`` otherwise.

    Scale shape: the exact legs are key-only joins on the 32-char md5 (the
    corpus side is a semi-join — only hashes shuffle, never text). The
    near leg builds ONE inverted index over corpus ∪ batch with a side
    tag and reuses the single-shuffle posting-list kernel; the stop-
    shingle cut applies to the union's document frequency (declared
    semantics, mirrored by the oracle) and only cross-side pairs are
    scored. Requires globally unique doc_ids across both inputs.
    """
    # (doc_id, md5) is consumed by three legs (corpus semi-join, batch
    # min, batch-dup join); checkpoint the narrow hash relation so the
    # batch text is scanned and hashed ONCE (round 12, guide §8: decide
    # with small rows) instead of once per leg.
    nh = new_docs.select(
        "doc_id", F.md5(F.col("text")).alias("__h")
    ).localCheckpoint(eager=True)
    ch = corpus.select(F.md5(F.col("text")).alias("__h")).distinct()
    in_corpus = nh.join(ch, "__h", "left_semi").select("doc_id")
    batch_min = nh.groupBy("__h").agg(F.min("doc_id").alias("__min"))
    batch_dup = (
        nh.join(batch_min, "__h")
        .filter(F.col("doc_id") != F.col("__min"))
        .select("doc_id")
    )

    tagged = corpus.select("doc_id", "text").withColumn(
        "side", F.lit(0)
    ).unionByName(new_docs.select("doc_id", "text").withColumn("side", F.lit(1)))
    # side rides through the shingle scan (carry=) instead of being
    # re-joined by doc_id — the old join shuffled the corpus-sized
    # shingle arrays once more to attach a one-byte tag (round 12)
    inv = _hashed_shingles(tagged, n, carry=("side",)).selectExpr(
        "doc_id", "side", "size(shingles) as n_sh", "explode(shingles) as shingle"
    )
    pairs = _posting_pairs(
        inv, "shingle", max_shingle_df, carry=["side", "n_sh"]
    )
    cross = (
        pairs.filter(F.col("side_a") != F.col("side_b"))
        .groupBy("doc_a", "doc_b", "side_a", "n_sh_a", "n_sh_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .selectExpr(
            "if(side_a = 1, doc_a, doc_b) as doc_id",
            "cast(round(n_common / (n_sh_a + n_sh_b - n_common), 4) as double)"
            " as jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id")
        .distinct()
    )

    return (
        new_docs.select("doc_id")
        .join(in_corpus.withColumn("__ec", F.lit(1)), "doc_id", "left")
        .join(batch_dup.withColumn("__eb", F.lit(1)), "doc_id", "left")
        .join(cross.withColumn("__nc", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__ec") == 1, F.lit("exact_dup_corpus"))
            .when(F.col("__eb") == 1, F.lit("exact_dup_batch"))
            .when(F.col("__nc") == 1, F.lit("near_dup_corpus"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


def minhash_signatures(documents: DataFrame, n: int = 3) -> DataFrame:
    """MinHash signature array (MINHASH_K values) per document.

    Each shingle is md5-hashed once; the k permutations are cheap affine
    maps over that hash array."""
    return _hashed_shingles(documents, n).selectExpr(
        "doc_id", f"{H.spark_minhash('shingles')} as mh"
    )


def _banded_candidates(
    bands: DataFrame, max_bucket: int, carry: list[str]
) -> DataFrame:
    """Shared LSH-banding candidate generation: drop oversized buckets
    (> ``max_bucket``), expand each bucket's posting list into pairs with
    ``doc_a < doc_b`` (one shuffle — see ``_posting_pairs``), and dedup
    pairs that co-occur in several bands. ``bands`` must have
    (doc_id, band_key, *carry); carried columns come out as ``<name>_a``
    / ``<name>_b``. Used by both MinHash and SimHash pair generation —
    one implementation of the bucket-cut and pair-dedup semantics."""
    return _posting_pairs(bands, "band_key", max_bucket, carry).dropDuplicates(
        ["doc_a", "doc_b"]
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.25,
    max_bucket: int = 50,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via LSH banding over MinHash signatures.

    Bands of LSH_ROWS rows are concatenated into bucket keys; docs sharing
    any band bucket are candidates; the estimated Jaccard is the fraction
    of agreeing signature positions. Oversized buckets (> ``max_bucket``,
    i.e. degenerate boilerplate clusters) are dropped — declared semantics,
    mirrored in the oracle.

    ``sigs`` lets callers reuse an already-materialized
    ``minhash_signatures(documents, n)`` table (doc_id, mh) — the
    signature pass is the corpus-sized leg shared by the LSH family.
    """
    if sigs is None:
        sigs = minhash_signatures(documents, n)
    bands = sigs.selectExpr(
        "doc_id",
        "mh",
        f"explode(transform(sequence(0, {H.LSH_BANDS - 1}), "
        f"b -> concat(b, ':', array_join(slice(mh, b * {H.LSH_ROWS} + 1, {H.LSH_ROWS}), '-'))"
        ")) as band_key",
    )
    cand = _banded_candidates(bands, max_bucket, carry=["mh"])
    est = (
        f"cast(round(size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v))"
        f" / {H.MINHASH_K}, 4) as double)"
    )
    return cand.selectExpr("doc_a", "doc_b", f"{est} as est_jaccard").filter(
        F.col("est_jaccard") >= threshold
    )


def dedup_corpus(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int = 100,
) -> DataFrame:
    """The end-to-end corpus-dedup policy: drop exact duplicates (keep min
    doc_id per content hash), then drop the HIGHER doc_id of every near-dup
    pair (greedy earliest-wins — the standard C4/Gopher-style cut). Emits
    the surviving doc_ids.

    At scale this is: one content-hash agg + the inverted-index near-dup
    join + one anti-join — all key-partitioned shuffles, no O(N²) stage.

    The near-dup index is built over the exact-deduped corpus, not the raw
    one: exact-copy multiplicity would otherwise inflate shingle document
    frequencies toward the ``max_shingle_df`` stop-cut (suppressing true
    near-dup pairs) and waste the self-join on jaccard=1.0 copy pairs.
    """
    # persisted: referenced by both the semi-join (index build input) and
    # the final anti-join — without the cache the content-hash aggregation
    # scans the corpus twice
    survivors_exact = exact_dedup(documents).select("doc_id").persist()
    deduped = documents.join(survivors_exact, "doc_id", "left_semi")
    pairs = ngram_jaccard_pairs(deduped, n, threshold, max_shingle_df)
    # a doc dies if it is the higher id of any near-dup pair
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return survivors_exact.join(losers, "doc_id", "left_anti")


def simhash(documents: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash per document over distinct tokens.

    bit_i(doc) = 1 iff Σ_tokens (±1 by bit i of h32(token)) > 0. Built as
    ``bits`` conditional sums over the exploded token relation — one
    partial-agg shuffle, fully codegen'd, and portable to the oracle.
    """
    tok = spread(documents).selectExpr(
        "doc_id", f"explode(array_distinct({_TOKENS})) as token"
    ).selectExpr("doc_id", f"{H.spark_h32('token')} as h")
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    sig = " + ".join(
        f"(case when b{i} > 0 then cast({1 << i} as bigint) else 0L end)"
        for i in range(bits)
    )
    return sums.selectExpr("doc_id", f"cast({sig} as bigint) as simhash")


def simhash_wide(documents: DataFrame) -> DataFrame:
    """60-bit SimHash per document (two salted 30-bit halves, so the
    signature fits a signed 64-bit integer in both engines).

    Wider than :func:`simhash` so Hamming proximity is a usable near-dup
    signal (32 bits saturates on corpora with heavy token overlap); the
    width/banding layout is the Manku et al. WWW'07 design scaled to 60.
    Both halves come from ONE md5 per token (hex chars 1-8 / 9-16) — the
    digest is the per-token cost, so this is half the hashing work of two
    salted calls.
    """
    tok = spread(documents).selectExpr(
        "doc_id", f"explode(array_distinct({_TOKENS})) as token"
    ).selectExpr(
        "doc_id",
        f"{H.spark_h32('token')} as hl",
        f"{H.spark_h32b('token')} as hh",
    )
    sums = tok.groupBy("doc_id").agg(
        *[F.expr(frag) for frag in H.spark_simhash_sums()]
    )
    return sums.selectExpr(
        "doc_id", f"cast({H.spark_simhash_sig()} as bigint) as simhash"
    )


def simhash_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Hamming-proximity near-dup pairs over the 60-bit SimHash.

    Candidate generation is the banding self-join: 4 bands × 15 bits, so any
    pair within Hamming ≤ 3 agrees on ≥ 1 band (pigeonhole) — candidate
    recall is exact, never O(N²). Oversized band buckets (> ``max_bucket``,
    degenerate boilerplate clusters) are dropped — declared semantics,
    mirrored in the oracle. Exact Hamming distance reranks candidates.
    """
    sigs = simhash_wide(documents)
    bands = sigs.selectExpr(
        "doc_id", "simhash", f"explode({H.spark_simhash_bands()}) as band_key"
    )
    cand = _banded_candidates(bands, max_bucket, carry=["simhash"])
    return cand.selectExpr(
        "doc_a",
        "doc_b",
        "cast(bit_count(simhash_a ^ simhash_b) as int) as hamming",
    ).filter(F.col("hamming") <= max_hamming)


def connected_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 25
) -> DataFrame:
    """Connected components of the near-dup pair graph by hash-min label
    propagation (the Pregel-style algorithm GraphX/GraphFrames use): every
    node starts labeled with its own id; each round every node takes the
    min label among itself and its neighbors; fixed point = components,
    with the min node id as the cluster representative.

    Near-dup dedup needs this because pair-pruning alone over-keeps: if
    A~B and B~C but A≁C, keep-min-per-pair would keep A and C even though
    they share a cluster via B — clustering first, then keeping one doc
    per cluster, is the policy real pipelines (e.g. the C4/Gopher dedup
    stages) apply.

    The driver loop is bounded by the graph diameter (≤ log rounds for
    the skewed components real corpora have), and each iteration is a
    fully distributed join + partial-agg min; only the single `changed`
    counter ever reaches the driver. Returns (doc_id, cluster_id,
    cluster_size).
    """
    # no distinct(): the min-aggregation is idempotent under duplicate
    # edges, so deduplicating them would buy nothing for a whole shuffle.
    # Both directions come from ONE explode over a single scan — a
    # union(select, select.swap) would evaluate the (expensive) upstream
    # pair-generation subtree once per branch when this cache materializes.
    bidir = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .persist()
    )
    # Size the loop's shuffles to the GRAPH, not the corpus: near-dup nodes
    # are a sliver of the input (the count also materializes the edge
    # cache, which every round reuses). At real scale edges/200k exceeds
    # the session parallelism and this is a no-op; on a sparse pair graph
    # it collapses each round's many tiny 32-task stages into a few.
    n_edges = bidir.count()
    with graph_shuffle_scope(bidir, n_edges):
        labels = _cc_loop(bidir, max_iter)
    bidir.unpersist()
    from pyspark.sql import Window

    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("cluster_size"),
    )


def _cc_loop(bidir: DataFrame, max_iter: int) -> DataFrame:
    """The materialize-per-round label-propagation loop of
    :func:`connected_components`; runs under the caller's (graph-sized)
    shuffle-partition setting."""
    # fused initialization: label₀ = min(self, neighbors) — the identity
    # init plus the first propagation round in ONE aggregation (same
    # shuffle the plain distinct would cost). On clique-shaped duplicate
    # clusters (the common case) this is already the fixed point, so the
    # loop exits after a single verification round.
    labels = (
        bidir.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("mb"))
        .select("node", F.least("node", "mb").alias("label"))
        .persist()
    )
    # hash-min labels are monotonically non-increasing, so sum(label) is a
    # strictly decreasing convergence witness — one scalar agg per round
    # instead of a join against the previous labels
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        # aggregate the messages alone (small: one row per edge endpoint)
        # and fold them into the standing labels with a left join + least —
        # the label table itself never re-shuffles through the union the
        # naive formulation pays every round
        msgs = (
            bidir.join(labels, bidir["a"] == labels["node"])
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("label").alias("msg"))
        )
        prop = labels.join(msgs, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("msg", "label")).alias("label"),
        )
        # pointer jump: label ← label(label). Every label value is itself a
        # node id (labels start as own-ids and only ever take neighbor label
        # values), so the inner self-join is total. Jumping doubles the
        # propagation distance per materialized round — convergence in
        # O(log diameter) jobs instead of O(diameter), which is the whole
        # wall-clock story for an iterative driver loop.
        hop = prop.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        new = (
            prop.join(hop, prop["label"] == hop["jnode"])
            .select("node", F.col("jlabel").alias("label"))
            .persist()
        )
        cur_sum = new.agg(F.sum("label")).collect()[0][0]
        labels.unpersist()
        labels = new
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Asymmetric near-dup: shingle containment C(A→B) = |A∩B| / |A| —
    catches sub-document duplication (quote farms, wrapped copies) that
    symmetric Jaccard misses, because a small doc fully contained in a big
    one has high containment but low Jaccard. Same inverted-index
    candidate generation as ``ngram_jaccard_pairs``; emits BOTH directions
    of each candidate pair since containment is directional."""
    inv = _hashed_shingles(documents, n).selectExpr(
        "doc_id", "size(shingles) as n_sh", "explode(shingles) as shingle"
    )
    inter = _posting_pairs(
        inv, "shingle", max_shingle_df, carry=["n_sh"], ordered=True
    ).groupBy("doc_src", "doc_dst", "n_sh_src").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return inter.selectExpr(
        "doc_src",
        "doc_dst",
        "cast(round(n_common / n_sh_src, 4) as double) as containment",
    ).filter(F.col("containment") >= threshold)


def minhash_estimate_audit(
    documents: DataFrame, n: int = 3, max_bucket: int = 50
) -> DataFrame:
    """LSH estimator-quality audit: for every banding candidate pair, the
    MinHash estimated Jaccard NEXT TO the exact hashed-shingle Jaccard and
    the absolute estimation error — the measurement that validates the
    bands x rows layout before trusting it at scale.

    Unlike ``ngram_jaccard_pairs`` (inverted-index over the whole corpus),
    the exact Jaccard here is computed only for the candidate pairs the
    bands produce: the per-doc hashed shingle SET rides along through the
    band join and the intersection is an array kernel per pair — exact
    verification at candidate-list cost, not corpus-join cost.
    """
    sigs = (
        _hashed_shingles(documents, n)
        .selectExpr("doc_id", "array_distinct(shingles) as hs")
        .selectExpr("doc_id", "hs", f"{H.spark_minhash('hs')} as mh")
    )
    bands = sigs.selectExpr(
        "doc_id",
        "mh",
        "hs",
        f"explode(transform(sequence(0, {H.LSH_BANDS - 1}), "
        f"b -> concat(b, ':', array_join(slice(mh, b * {H.LSH_ROWS} + 1, {H.LSH_ROWS}), '-'))"
        ")) as band_key",
    )
    cand = _banded_candidates(bands, max_bucket, carry=["mh", "hs"])
    est = (
        f"cast(round(size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v))"
        f" / {H.MINHASH_K}, 4) as double)"
    )
    inter = "size(filter(hs_a, h -> array_contains(hs_b, h)))"
    exact = (
        f"cast(round({inter} / (size(hs_a) + size(hs_b) - {inter}), 4) as double)"
    )
    return cand.selectExpr(
        "doc_a",
        "doc_b",
        f"{est} as est_jaccard",
        f"{exact} as exact_jaccard",
        f"cast(round(abs({est} - {exact}), 4) as double) as abs_err",
    )


def lsh_recall_audit(
    documents: DataFrame,
    thresholds: tuple = (0.2, 0.3, 0.4, 0.5),
    exact_pairs: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end recall of the banded-MinHash near-dup METHOD against the
    exact inverted-index ground truth, per exact-Jaccard threshold — the
    trust measurement that decides whether the bands×rows layout can
    replace the exact join at corpus scale (where the exact join itself
    becomes the audit you run on a sample).

    For every exact pair (``ngram_jaccard_pairs``), checks whether the
    full LSH pipeline (``minhash_lsh_pairs``: banding + bucket cap + est
    threshold) would have emitted it, then rolls up recall per exact
    threshold. Complements ``minhash_estimate_audit`` (per-candidate
    estimate ERROR): that measures how accurate the estimates are on the
    pairs banding finds; this measures how much truth banding MISSES. Both legs are the REAL operators — the audit measures the
    method as deployed, banding losses and bucket-cap drops included.

    Scale shape: the join is pair-list-sized on both sides (never the
    corpus); the threshold explode multiplies the pair list by a handful
    of literals before a partial-agg rollup to |thresholds| rows.

    The exact leg's cut-off follows ``min(thresholds)`` — an audit
    threshold below the truth set's own floor would silently undercount
    the denominator. ``exact_pairs`` lets a caller that already
    materialized the exact pair list AT THAT SAME CUT-OFF (the shared
    graph-battery checkpoint) skip recomputing the inverted-index join;
    supplying pairs computed at a different threshold corrupts the
    denominator, so the default recomputes.
    """
    if not thresholds:
        raise ValueError("lsh_recall_audit: need at least one threshold")
    exact = (
        exact_pairs
        if exact_pairs is not None
        else ngram_jaccard_pairs(
            documents, threshold=min(float(t) for t in thresholds)
        )
    )
    found = (
        minhash_lsh_pairs(documents, sigs=sigs)
        .select("doc_a", "doc_b")
        .withColumn("hit", F.lit(1))
    )
    j = exact.join(found, ["doc_a", "doc_b"], "left").select(
        "jaccard", F.coalesce("hit", F.lit(0)).alias("hit")
    )
    t = F.explode(
        F.array(*[F.lit(float(x)) for x in thresholds])
    ).alias("threshold")
    return (
        j.select("jaccard", "hit", t)
        .filter(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.sum("hit").cast("bigint").alias("n_found"),
        )
        .select(
            "threshold",
            "n_true",
            "n_found",
            F.round(F.col("n_found") / F.col("n_true"), 6).alias("recall"),
        )
    )


def duck_lsh_recall_sql(
    exact_sql: str, lsh_sql: str, thresholds: tuple = (0.2, 0.3, 0.4, 0.5)
) -> str:
    """Oracle twin of :func:`lsh_recall_audit` composed from the two legs'
    own oracle SQL. ``exact_sql``'s Jaccard cut-off must equal
    ``min(thresholds)`` (the operator pins its exact leg the same way)."""
    tlist = ", ".join(str(float(x)) for x in thresholds)
    return f"""
        WITH exact AS ({exact_sql}), lsh AS ({lsh_sql}),
        j AS (
            SELECT e.jaccard,
                   CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM exact e LEFT JOIN lsh l
              ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
        ), t AS (SELECT unnest([{tlist}]) AS threshold)
        SELECT t.threshold,
               count(*)::BIGINT AS n_true,
               sum(hit)::BIGINT AS n_found,
               round(sum(hit) / count(*), 6) AS recall
        FROM j JOIN t ON j.jaccard >= t.threshold
        GROUP BY t.threshold
    """


def ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-document content novelty: the fraction of a doc's DISTINCT
    word n-grams whose FIRST corpus occurrence (min doc_id) is this doc —
    the crawl-increment measurement ("how much genuinely new text does
    each addition contribute?") that complements pairwise dedup: a doc
    can be pairwise-unique yet assembled entirely from n-grams the corpus
    already holds. Complements ``substring_dup_fraction`` (how much of a
    doc is REPEATED elsewhere): novelty asks the forward question — how
    much of the corpus's distinct content this doc introduced.

    Scale shape: one inverted-index shuffle on the hashed gram computes
    each gram's first owner (partial-agg min); the ownership join back
    rides the same gram partitioning; the per-doc rollup is the only
    other exchange. Doc-less grams never exist and gram-less docs stay in
    the output via the corpus left join (novelty NULL, counts 0).
    """
    grams = _hashed_shingles(documents, n).selectExpr(
        "doc_id", "explode(array_distinct(shingles)) as g"
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per = (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("n_novel") / F.col("n_grams"), 6),
            ).alias("novelty"),
        )
    )


def pair_degree_histogram(pairs: DataFrame) -> DataFrame:
    """Degree distribution of the near-dup pair graph: how many docs have
    exactly d near-duplicates — the shape diagnostic that separates
    benign scattered duplication (degree 1-2) from boilerplate blowup
    (heavy-tail degrees) before committing to a dedup policy.

    Two partial-agg shuffles over narrow keys (node, then degree); input
    is the (already bounded) candidate pair list, never the corpus.
    """
    nodes = pairs.select(F.col("doc_a").alias("doc_id")).union(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = nodes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


def kcore_peel(
    pairs: DataFrame,
    k: int = 2,
    rounds: int = 3,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """``rounds`` fixed peel rounds of k-core decomposition over the
    near-dup pair graph: each round drops every node whose degree in the
    CURRENT edge set is below ``k`` and restricts the edges to surviving
    endpoints. The k-core (fixpoint) is the limit of this peel; a fixed
    round count keeps the iterative algorithm an exactly-checkable static
    DAG (unrolled oracle CTEs, same contract as the k-means / PageRank /
    CC loops). Dedup pipelines read the core as the "dense plagiarism
    mesh": nodes that survive peeling sit in tightly interlinked
    duplicate clusters, not just pairwise matches.

    Returns (doc_id, degree): surviving endpoints with their degree in
    the final restricted edge set.

    Scale shape: per round one partial-agg degree count plus two
    semi-joins keyed on the edge endpoints — all shuffles are
    edge-set-sized and the edge set shrinks monotonically; each round is
    pinned (persist + count) so round r+1 scans a materialized edge set
    instead of re-deriving the whole peel chain.
    """
    bidir = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
    )
    edges = bidir.persist()
    n_edges = edges.count()  # materialize the pair computation once
    with graph_shuffle_scope(edges, n_edges):
        for _ in range(rounds):
            keep = (
                edges.groupBy("a")
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") >= k)
                .select("a")
            )
            nxt = (
                edges.join(keep, "a", "left_semi")
                .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
                .persist()
            )
            n_next = nxt.count()
            if n_next == n_edges:
                # fixpoint: no node fell below k, so every remaining
                # round is the identity — identical to running them (the
                # oracle still unrolls the full count), at zero cost
                nxt.unpersist()
                break
            edges.unpersist()
            edges, n_edges = nxt, n_next
        out = (
            edges.groupBy("a")
            .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
            .select(F.col("a").alias("doc_id"), "degree")
        )
        # the loop's partition sizing must also govern the jobs that later
        # CONSUME the result: pin the (k-core-sized) output so downstream
        # actions replay nothing at session parallelism
        out = out.localCheckpoint(eager=True)
    return out


def duck_kcore_sql(pair_sql: str, k: int = 2, rounds: int = 3) -> str:
    """Unrolled oracle twin of :func:`kcore_peel` over the same pair SQL."""
    parts = [
        f"WITH pairs AS ({pair_sql}),",
        "e0 AS (SELECT doc_a AS a, doc_b AS b FROM pairs"
        " UNION ALL SELECT doc_b, doc_a FROM pairs)",
    ]
    for r in range(rounds):
        parts.append(
            f", n{r + 1} AS (SELECT a FROM (SELECT a, count(*) AS c"
            f" FROM e{r} GROUP BY a) WHERE c >= {k})"
            f", e{r + 1} AS (SELECT e.a, e.b FROM e{r} e"
            f" JOIN n{r + 1} x ON e.a = x.a"
            f" JOIN n{r + 1} y ON e.b = y.a)"
        )
    parts.append(
        f" SELECT a AS doc_id, count(*)::BIGINT AS degree"
        f" FROM e{rounds} GROUP BY a"
    )
    return "\n".join(parts)


def pagerank_pairs(
    pairs: DataFrame, iters: int = 3, damping: float = 0.85
) -> DataFrame:
    """Fixed-iteration PageRank over the (undirected) near-dup pair graph —
    the centrality score that ranks *hub* documents inside duplicate
    clusters (the canonical copy to keep is the highest-rank node, not an
    arbitrary min-id).

    Spark shape: edges stored both directions and persisted once; each
    superstep is one join + one partial-aggregated groupBy on the node id —
    the same O(E) shuffle a Pregel superstep costs — materialized per round
    (localCheckpoint) under a shuffle-partition count sized to the GRAPH,
    the `connected_components` recipe: at real scale edges/200k exceeds the
    session parallelism and the override is a no-op, on a sparse pair graph
    it collapses each superstep's many tiny fixed-cost stages. A *fixed*
    ``iters`` (vs convergence testing) keeps the computation bit-
    reproducible, so even this iterative algorithm sits inside the exact
    value gate (the oracle unrolls the same ``iters`` steps as CTEs).
    Nodes outside the pair graph are excluded by construction; an
    undirected graph has no dangling nodes, so no dangling-mass term.
    Output is rank normalized by node count (``norm_rank`` ≈ 1.0 for an
    average node), rounded to absorb sub-ULP summation-order drift. The
    node count reaches the driver as one scalar (the scalar-witness
    pattern); no row data ever does.
    """
    # both directions from ONE explode over a single scan — the union of
    # two selects would evaluate the expensive pair-generation subtree
    # once per branch when the cache materializes (connected_components'
    # documented lesson, applied here too)
    e = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("edge")
        )
        .select("edge.src", "edge.dst")
        .persist()
    )
    spark = pairs.sparkSession
    n_edges = e.count()  # materializes the edge cache every superstep reuses
    session_parts = spark.conf.get("spark.sql.shuffle.partitions")
    loop_parts = max(2, min(int(session_parts), n_edges // 200_000 + 2))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("degree")).persist()
        n = deg.count()
        if n == 0:  # empty pair graph (e.g. every shingle above the df
            # cap): no nodes to rank — return the empty relation instead
            # of dividing the uniform prior by zero
            e.unpersist()
            deg.unpersist()
            return spark.createDataFrame(
                [], "doc_id bigint, norm_rank double"
            )
        ranks = deg.select(
            F.col("src").alias("doc_id"), F.lit(1.0 / n).alias("rank")
        ).localCheckpoint(eager=True)
        for _ in range(iters):
            contrib = (
                e.join(deg, "src")
                .join(ranks, e["src"] == ranks["doc_id"])
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("degree")).alias("c"))
            )
            ranks = (
                deg.join(contrib, deg["src"] == contrib["dst"], "left")
                .select(
                    F.col("src").alias("doc_id"),
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", session_parts)
    e.unpersist()
    deg.unpersist()
    return ranks.select(
        "doc_id", F.round(F.col("rank") * F.lit(float(n)), 6).alias("norm_rank")
    )


def triangle_count(pairs: DataFrame) -> DataFrame:
    """Global triangle count of the near-dup pair graph — the clustering-
    coefficient numerator that distinguishes tight duplicate cliques from
    chainy false-positive paths (chains cluster-merge under transitive
    closure without being mutual near-dups; triangles confirm mutuality).

    Standard oriented-wedge plan: with every edge stored once as
    (a < b), wedges (a,b,c) with a<b<c are edge(a,b) ⋈ edge(b,c), and each
    closing edge (a,c) confirms one triangle — orientation counts each
    triangle exactly once and bounds the wedge join by the out-degree of
    the middle vertex, the trick that keeps this tractable on skewed
    graphs. Two equi-joins on narrow bigint pairs.
    """
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    closing = e.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    tri = wedge.join(
        closing, (F.col("a") == F.col("ca")) & (F.col("c") == F.col("cb"))
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def substring_dup_fraction(documents: DataFrame, w: int = 8) -> DataFrame:
    """Per-document duplicated-substring profile (the exact-substring
    dedup metric of Lee et al. '22, "Deduplicating Training Data Makes
    Language Models Better", window-hash form): the fraction of a doc's
    distinct ``w``-token windows that also occur in at least one other
    document. High ``dup_frac`` docs are boilerplate/mirror copies even
    when no single pair crosses a Jaccard threshold.

    Scale shape: windows are hashed to bigints at the scan (the same
    ``_hashed_shingles`` kernel as Jaccard); global window df is ONE
    partial-agg shuffle on the hash; the df ≥ 2 verdict joins back on the
    same key (no broadcast — both sides are corpus-sized, and the join is
    the canonical co-partitioned hash join). Never materializes pairs, so
    a window shared by 10⁶ docs costs 10⁶ rows, not 10¹² pairs — this is
    the metric you CAN afford when the pair graph would blow up.
    """
    sh = _hashed_shingles(documents, w).persist()
    exploded = sh.selectExpr("doc_id", "explode(shingles) as h")
    df = exploded.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    dup = (
        exploded.join(df.filter(F.col("nd") >= 2), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    base = sh.select("doc_id", F.size("shingles").alias("n_windows"))
    return base.join(dup, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
        F.round(F.coalesce("n_dup", F.lit(0)) / F.col("n_windows"), 4).alias(
            "dup_frac"
        ),
    )


def source_overlap_matrix(
    documents: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs (n-gram Jaccard)
    cross-tabbed by the (source, source) combination — the audit that
    tells you dataset B is a scrape of dataset A before you mix them.

    Composes ``ngram_jaccard_pairs`` (its bounded posting-list kernel does
    the heavy lifting); the pair→source lookup broadcasts the SMALL pair
    set into the corpus-sized label relation twice, so documents never
    shuffle. Mean Jaccard is aggregated in exact 1e-4 integer space.
    ``pairs`` lets callers reuse an already-materialized default-threshold
    pair list (the shared graph-battery checkpoint).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(documents)
    labels = documents.select("doc_id", "source")
    la = labels.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
        "source", "src_a"
    )
    lb = labels.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
        "source", "src_b"
    )
    # the pair set (and its join results) is the small side both times —
    # broadcast it so the corpus-sized label relation never shuffles
    tagged = F.broadcast(F.broadcast(pairs).join(la, "doc_a")).join(lb, "doc_b")
    jx = F.round(F.col("jaccard") * 10000).cast("bigint")
    return (
        tagged.select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            jx.alias("jx"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("jx").alias("sum_jaccard_x10k"),
        )
    )


def fuzzy_name_pairs(
    customer: DataFrame, max_edit: int = 2, segment: str | None = None
) -> DataFrame:
    """Entity-resolution fuzzy join: customer pairs whose names are within
    ``max_edit`` Levenshtein edits — the record-linkage primitive for
    catalogs where the same entity appears with typos/variants.

    Scale shape (round 10, second pass): candidates come from a
    DELETION-NEIGHBORHOOD equi-join (FastSS / SymSpell): each name emits
    its ≤ ``max_edit``-deletion variants, and two names are candidates
    iff they share a (nation, variant) key. Completeness is a theorem,
    not a heuristic: take an optimal ≤ ``max_edit``-op alignment — each
    substitution deletes its position from BOTH sides, each indel
    deletes from ONE side — so ≤ ``max_edit`` deletions per side leave
    two EQUAL strings, i.e. a shared variant key. Extra candidates are
    killed by the exact Levenshtein, so the output pair set (and the
    oracle, which states the plain nation-block semantics) is identical
    to the round-1 blocked join.

    Why not the nation-block join it replaces: with 25 nations the
    candidate space was Σ|block|² — QUADRATIC in customers. Measured at
    100× sf0.1 (300 k segment rows ⇒ ~12 k per nation ⇒ 1.8 B
    candidate Levenshteins): the scale probe timed out past 35 minutes,
    vs 1.2 s at sf0.1. The deletion join's key is
    high-cardinality (each name emits 1 + L + C(L,2) ≈ 172 variants at
    L = 18), so candidate volume tracks the TRUE-pair density instead
    of the block size — a (nation, length-band) blocked join remains
    only for names longer than 64 chars (deletion neighborhoods grow
    O(L²) per row; pairs with a > 64-char side must have both sides
    ≥ 63 chars, so the two generators partition the pair space by
    ``greatest(len_a, len_b) > 64`` with no loss and no double count).
    ``max_edit`` > 2 falls back to the blocked join (variant depth is
    hardcoded at 2). The declared scope here is one market segment —
    blocking on nation IS the fuzzy join's semantics and the oracle
    mirrors it.
    """
    if segment is not None:
        customer = customer.filter(F.col("c_mktsegment") == segment)
    c = customer.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.length("c_name").alias("ln"),
    )

    def _exact(cand):
        names = c.select("c_custkey", "c_name", "ln")
        return (
            cand.join(
                names.select(
                    F.col("c_custkey").alias("cust_a"),
                    F.col("c_name").alias("na"),
                    F.col("ln").alias("la"),
                ),
                "cust_a",
            )
            .join(
                names.select(
                    F.col("c_custkey").alias("cust_b"),
                    F.col("c_name").alias("nb"),
                    F.col("ln").alias("lb"),
                ),
                "cust_b",
            )
            .filter(F.abs(F.col("la") - F.col("lb")) <= max_edit)
            .select(
                "nationkey",
                "cust_a",
                "cust_b",
                F.levenshtein("na", "nb").alias("edit_dist"),
            )
            .filter(F.col("edit_dist") <= max_edit)
        )

    def _blocked(left, right, extra):
        a, b = left.alias("a"), right.alias("b")
        return (
            a.join(
                b,
                (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
                & (F.col("a.c_custkey") < F.col("b.c_custkey"))
                & (F.abs(F.col("a.ln") - F.col("b.ln")) <= max_edit)
                & extra,
            )
            .select(
                F.col("a.c_nationkey").alias("nationkey"),
                F.col("a.c_custkey").alias("cust_a"),
                F.col("b.c_custkey").alias("cust_b"),
                F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias(
                    "edit_dist"
                ),
            )
            .filter(F.col("edit_dist") <= max_edit)
        )

    if max_edit > 2:  # variant depth is hardcoded at 2: legacy block join
        return _blocked(c, c, F.lit(True))

    # ≤ max_edit-deletion variants; sequence() is DESCENDING when
    # stop < start, so every range is guarded for short names
    one_del = (
        "CASE WHEN length(c_name) >= 1 THEN "
        "transform(sequence(1, length(c_name)), i -> "
        "concat(substr(c_name, 1, i-1), substr(c_name, i+1))) "
        "ELSE array() END"
    )
    two_del = (
        "CASE WHEN length(c_name) >= 2 THEN "
        "flatten(transform(sequence(1, length(c_name) - 1), i -> "
        "transform(sequence(i + 1, length(c_name)), j -> "
        "concat(substr(c_name, 1, i-1), substr(c_name, i+1, j-i-1), "
        "substr(c_name, j+1))))) ELSE array() END"
    )
    variants = f"array_distinct(concat(array(c_name), {one_del}"
    variants += f", {two_del}))" if max_edit >= 2 else "))"
    short = c.filter(F.col("ln") <= 64)
    ex = short.select(
        "c_custkey",
        "c_nationkey",
        F.explode(F.expr(variants)).alias("v"),
    )
    cand = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_nationkey").alias("nationkey"),
            F.col("a.c_custkey").alias("cust_a"),
            F.col("b.c_custkey").alias("cust_b"),
        )
        .distinct()
    )
    out = _exact(cand)
    # band partners of > 64 rows all have ln ≥ 63 when max_edit ≤ 2
    long_side = c.filter(F.col("ln") >= 65 - max_edit)
    return out.unionByName(
        _blocked(
            long_side,
            long_side,
            F.greatest(F.col("a.ln"), F.col("b.ln")) > 64,
        )
    )


def weighted_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.15,
    max_token_df: int = 100,
) -> DataFrame:
    """Weighted (multiset) Jaccard near-dup pairs over TOKEN counts:
    J_w(a,b) = Σ_t min(cnt_a(t), cnt_b(t)) / Σ_t max(cnt_a(t), cnt_b(t)).
    Set-Jaccard over shingles misses doping (copies padded with repeated
    filler shift the SET little but the MULTISET a lot); the weighted form
    sees repetition.

    Σmax needs no per-token max pass: Σmax = |a| + |b| − Σmin (multiset
    identity), so the pair aggregation only sums min(cnt) over SHARED
    tokens from the posting-list kernel (counts carried, one shuffle, the
    same ``max_df`` stop-token cut — declared semantics as always).
    """
    from pyspark.sql import Window

    tf = (
        spread(documents)
        .selectExpr("doc_id", f"explode({_TOKENS}) as token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sized = tf.withColumn(
        "n_tok", F.sum("cnt").over(Window.partitionBy("doc_id"))
    )
    inv = sized.selectExpr(
        "doc_id", "n_tok", "cnt", H.spark_h32("token") + " as tk"
    )
    shared = _posting_pairs(
        inv, "tk", max_token_df, carry=["n_tok", "cnt"]
    ).groupBy("doc_a", "doc_b", "n_tok_a", "n_tok_b").agg(
        F.sum(F.least("cnt_a", "cnt_b")).alias("sum_min")
    )
    return shared.selectExpr(
        "doc_a",
        "doc_b",
        "cast(round(sum_min / (n_tok_a + n_tok_b - sum_min), 4) as double)"
        " as wjaccard",
    ).filter(F.col("wjaccard") >= threshold)


def clustering_coefficient(pairs: DataFrame) -> DataFrame:
    """Global clustering coefficient of the near-dup graph:
    C = 3·triangles / wedges (wedges = Σ_v deg(v)·(deg(v)−1)/2, exact
    integers from the degree table) — the one-number answer to "are my
    duplicate clusters cliques or chains?". Composes the oriented-wedge
    triangle count with a degree aggregation; both inputs are the pair
    graph, never the corpus.
    """
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    deg = (
        e.selectExpr("a as v")
        .unionAll(e.selectExpr("b as v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("bigint").alias("n_wedges")
    )
    tri = triangle_count(pairs)
    return tri.crossJoin(wedges).select(
        "n_triangles",
        "n_wedges",
        F.round(
            3 * F.col("n_triangles") / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0)),
            6,
        ).alias("clustering_coef"),
    )


def bfs_depth(
    pairs: DataFrame,
    rounds: int = 3,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Breadth-first distance from the SMALLEST node id over the
    undirected near-dup pair graph, unrolled ``rounds`` supersteps —
    "how far does this duplication cluster reach from its anchor", the
    hop-distance companion to the CC / PageRank / k-core family (same
    exactly-checkable static-DAG contract: fixed rounds, unrolled oracle
    CTEs; the seed is data-derived, so no driver scalar leaks in).

    Returns (doc_id, depth ≤ rounds) for every node reached. Each
    superstep is one frontier ⋈ edges equi-join + an anti-join against
    the visited set — frontier-sized work, never node² — and the seed
    min() reduces edge endpoints without collecting them.

    Scale note: ``rounds`` supersteps bound the depth, exactly like the
    fixed-iteration PageRank; at 100 TB you raise rounds or switch to
    the hash-min CC propagation when full closure is needed.
    """
    # both directions from ONE explode over a single scan — a
    # union(select, select.swap) would evaluate the expensive upstream
    # pair-generation subtree once per branch (the connected_components
    # lesson); distinct() because the frontier join must not double-count
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .persist()
    )
    n_edges = edges.count()  # materialize once; also sizes the loop
    with graph_shuffle_scope(edges, n_edges):
        seed = (
            edges.agg(F.min("a").alias("doc_id"))
            .filter(F.col("doc_id").isNotNull())  # empty graph ⇒ no seed
            .select("doc_id", F.lit(0).alias("depth"))
        )
        visited = seed
        frontier = seed
        for d in range(1, rounds + 1):
            nxt = (
                frontier.join(edges, F.col("doc_id") == F.col("a"))
                .select(F.col("b").alias("doc_id"))
                .distinct()
                .join(visited.select("doc_id"), "doc_id", "left_anti")
                .select("doc_id", F.lit(d).alias("depth"))
                # cache each frontier: superstep d+1's plan and the final
                # union both reference it — uncached, frontier d would be
                # recomputed once per later superstep (triangular replay)
                .persist()
            )
            visited = visited.unionByName(nxt)
            frontier = nxt
        # pin the (frontier-union-sized) result so consuming jobs replay
        # the supersteps under the loop's graph-sized shuffle plan
        out = visited.localCheckpoint(eager=True)
    return out


def duck_bfs_sql(pairs_sql: str, rounds: int = 3) -> str:
    """DuckDB twin of ``bfs_depth`` — unrolled frontier CTEs over the
    composed pair SQL."""
    ctes = [
        f"p AS ({pairs_sql})",
        """e AS (
            SELECT doc_a AS a, doc_b AS b FROM p
            UNION SELECT doc_b, doc_a FROM p
        )""",
        # the min() aggregate always emits one row; filter the NULL it
        # yields on an empty edge set so the oracle matches bfs_depth's
        # zero-row Spark result on empty pair graphs
        "v0 AS (SELECT min(a) AS doc_id, 0 AS depth FROM e"
        " HAVING min(a) IS NOT NULL)",
    ]
    prev_v, prev_f = "v0", "v0"
    for d in range(1, rounds + 1):
        ctes.append(f"""f{d} AS (
            SELECT DISTINCT e.b AS doc_id, {d} AS depth
            FROM {prev_f} JOIN e ON {prev_f}.doc_id = e.a
            WHERE e.b NOT IN (SELECT doc_id FROM {prev_v})
        )""")
        ctes.append(
            f"v{d} AS (SELECT * FROM {prev_v} UNION ALL"
            f" SELECT * FROM f{d})"
        )
        prev_v, prev_f = f"v{d}", f"f{d}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, CAST(depth AS INT) AS depth FROM {prev_v}"
    )


def label_propagation(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", rounds: int = 2
) -> DataFrame:
    """Community detection on the near-dup pair graph by SYNCHRONOUS
    label propagation (Raghavan et al. 2007) — the finer-grained sibling
    of :func:`connected_components`: where CC merges everything
    reachable, LPA keeps densely-linked duplicate families apart even
    when a single spurious pair bridges them (the template-boilerplate
    bridge problem in web-crawl dedup). Every node starts labeled with
    its own id; each round every node adopts the MODE of its neighbors'
    labels (most frequent; ties to the smallest label — fully
    deterministic, no async sweep order). A fixed ``rounds`` unroll keeps
    the computation a static DAG the oracle replays exactly.

    Scale shape: per round one equi-join of the edge list with the
    label table on the node key plus two partial aggs — everything
    graph-sized, nothing corpus-sized; the mode argmax is an aggregation,
    never a window over the corpus. Returns (doc_id, community_id,
    community_size).
    """
    bidir = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .persist()
    )
    from pyspark.sql import Window

    n_edges = bidir.count()  # materialize once; also sizes the loop
    with graph_shuffle_scope(bidir, n_edges):
        labels = bidir.select(F.col("a").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        for _ in range(rounds):
            votes = (
                bidir.join(
                    labels.select(F.col("node").alias("b"), "label"), "b"
                )
                .groupBy("a", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            # mode with deterministic ties: max count, then min label —
            # as an aggregation (min over (-c, label) lexicographic
            # pairs), never a per-node window
            labels = (
                votes.groupBy("a")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("c")).alias("nc"),
                            F.col("label").alias("l"),
                        )
                    ).alias("m")
                )
                .select(F.col("a").alias("node"), F.col("m.l").alias("label"))
            )
        # pin the (node-sized) result so consuming jobs replay the rounds
        # under the loop's graph-sized shuffle plan
        out = labels.select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("community_id"),
            F.count(F.lit(1))
            .over(Window.partitionBy("label"))
            .cast("bigint")
            .alias("community_size"),
        ).localCheckpoint(eager=True)
    bidir.unpersist()
    return out


def duck_label_prop_sql(pairs_sql: str, rounds: int = 2) -> str:
    """Oracle twin of :func:`label_propagation`: the synchronous rounds
    unrolled as CTEs, mode-with-min-tiebreak as a row_number pick."""
    ctes = [
        f"""
        WITH pairs AS (
            {pairs_sql}
        ), bidir AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ), l0 AS (
            SELECT DISTINCT a AS node, a AS label FROM bidir
        )"""
    ]
    prev = "l0"
    for r in range(1, rounds + 1):
        ctes.append(
            f""", v{r} AS (
            SELECT e.a, l.label, count(*) AS c
            FROM bidir e JOIN {prev} l ON e.b = l.node
            GROUP BY e.a, l.label
        ), l{r} AS (
            SELECT a AS node, label FROM (
                SELECT a, label, row_number() OVER (
                    PARTITION BY a ORDER BY c DESC, label ASC) AS rn
                FROM v{r}
            ) WHERE rn = 1
        )"""
        )
        prev = f"l{r}"
    ctes.append(
        f"""
        SELECT node AS doc_id, label AS community_id,
               count(*) OVER (PARTITION BY label)::BIGINT AS community_size
        FROM {prev}"""
    )
    return "".join(ctes)


def modularity(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", rounds: int = 2
) -> DataFrame:
    """Newman MODULARITY of the label-propagation partition — the number
    that says whether the detected duplicate communities are real
    structure or noise (Q ≈ 0: no better than random; Q ≳ 0.3:
    significant community structure). Q = Σ_c [e_c/m − (d_c/2m)²] over
    communities c with e_c intra-community edges, d_c total degree, m
    edges. Emitted per community (its exact e_c, d_c, size and its exact
    contribution numerator) plus one ``__total__`` row with Q.

    Exactness: everything is integer edge/degree arithmetic over the
    common denominator 4m² — contribution numerator = 4·m·e_c − d_c²,
    one double division at the end, rounded(6).

    Scale shape: one :func:`label_propagation` run (graph-sized, scoped
    shuffles) + two graph-sized joins to tag each edge's endpoint
    communities; the rollup is community-sized.
    """
    # the pair subtree feeds THREE consumers (the LPA run, the edge
    # tagging, and the degree count) — materialize it once
    pairs = pairs.persist()
    pairs.count()
    labels = label_propagation(pairs, src, dst, rounds).select(
        "doc_id", "community_id"
    )
    und = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    tagged = (
        und.join(
            labels.select(
                F.col("doc_id").alias("a"), F.col("community_id").alias("ca")
            ),
            "a",
        )
        .join(
            labels.select(
                F.col("doc_id").alias("b"), F.col("community_id").alias("cb")
            ),
            "b",
        )
    )
    m_edges = und.count()
    # degree sums per community: every undirected edge contributes 1 to
    # each endpoint's degree
    deg = (
        und.select(F.col("a").alias("doc_id"))
        .unionAll(und.select(F.col("b").alias("doc_id")))
        .join(labels, "doc_id")
        .groupBy("community_id")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    intra = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community_id"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    sizes = labels.groupBy("community_id").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    per = (
        sizes.join(deg, "community_id", "left")
        .join(intra, "community_id", "left")
        .select(
            F.col("community_id").cast("bigint").alias("community_id"),
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.coalesce("e_c", F.lit(0)).cast("bigint").alias("e_c"),
            F.coalesce("d_c", F.lit(0)).cast("bigint").alias("d_c"),
        )
        .withColumn(
            "q_contrib_num",
            (
                4 * F.lit(m_edges).cast("bigint") * F.col("e_c")
                - F.col("d_c") * F.col("d_c")
            ).cast("bigint"),
        )
    )
    denom = float(4 * m_edges * m_edges) if m_edges else 1.0
    total = per.agg(
        F.lit(-1).cast("bigint").alias("community_id"),
        F.sum("n_nodes").cast("bigint").alias("n_nodes"),
        F.sum("e_c").cast("bigint").alias("e_c"),
        F.sum("d_c").cast("bigint").alias("d_c"),
        F.sum("q_contrib_num").cast("bigint").alias("q_contrib_num"),
    )
    out = per.unionByName(total).withColumn(
        "q", F.round(F.col("q_contrib_num") / F.lit(denom), 6)
    ).localCheckpoint(eager=True)
    pairs.unpersist()
    return out


def duck_modularity_sql(pairs_sql: str, rounds: int = 2) -> str:
    """Oracle twin of :func:`modularity`, composed over the unrolled
    label-propagation oracle."""
    lp = duck_label_prop_sql(pairs_sql, rounds)
    return f"""
        WITH lp AS ({lp}),
        labels AS (SELECT doc_id, community_id FROM lp),
        und AS (SELECT doc_a AS a, doc_b AS b FROM ({pairs_sql})),
        m AS (SELECT count(*) AS m_edges FROM und),
        deg AS (
            SELECT community_id, count(*) AS d_c
            FROM (SELECT a AS doc_id FROM und
                  UNION ALL SELECT b FROM und) x
            JOIN labels USING (doc_id)
            GROUP BY community_id
        ), intra AS (
            SELECT la.community_id, count(*) AS e_c
            FROM und
            JOIN labels la ON la.doc_id = und.a
            JOIN labels lb ON lb.doc_id = und.b
            WHERE la.community_id = lb.community_id
            GROUP BY la.community_id
        ), sizes AS (
            SELECT community_id, count(*) AS n_nodes
            FROM labels GROUP BY community_id
        ), per AS (
            SELECT s.community_id::BIGINT AS community_id,
                   s.n_nodes::BIGINT AS n_nodes,
                   coalesce(i.e_c, 0)::BIGINT AS e_c,
                   coalesce(d.d_c, 0)::BIGINT AS d_c,
                   (4 * m.m_edges * coalesce(i.e_c, 0)
                    - coalesce(d.d_c, 0) * coalesce(d.d_c, 0))::BIGINT
                       AS q_contrib_num
            FROM sizes s
            LEFT JOIN deg d USING (community_id)
            LEFT JOIN intra i USING (community_id)
            CROSS JOIN m
        ), tot AS (
            SELECT CAST(-1 AS BIGINT) AS community_id,
                   sum(n_nodes)::BIGINT AS n_nodes,
                   sum(e_c)::BIGINT AS e_c, sum(d_c)::BIGINT AS d_c,
                   sum(q_contrib_num)::BIGINT AS q_contrib_num
            FROM per
        ), unioned AS (
            SELECT * FROM per UNION ALL SELECT * FROM tot
        )
        SELECT u.*, round(u.q_contrib_num /
                   greatest(4.0 * m.m_edges * m.m_edges, 1.0), 6) AS q
        FROM unioned u CROSS JOIN m
    """


def lsh_banding_table(k: int = 16) -> "list[tuple[int, int]]":
    """The (bands, rows) factorizations of a k-value MinHash signature."""
    return [(b, k // b) for b in (1, 2, 4, 8, 16) if b * (k // b) == k]


def lsh_s_curve(spark, k: int = 16) -> DataFrame:
    """The LSH S-CURVE design table: for every (bands b, rows r)
    factorization of the signature and a grid of true Jaccard values t,
    the candidate probability ``1 − (1 − t^r)^b`` and each config's
    threshold ``(1/b)^(1/r)`` — the table you read BEFORE deploying a
    banding (it is how ``minhash_lsh_pairs``' 4×4 default was chosen, and
    the analytical counterpart of the measured ``lsh_recall_audit``).

    Pure closed-form arithmetic on a parameter grid (no corpus input):
    the frame is built from literals, every value one pow/round chain
    with identical shape cross-engine.
    """
    rows = []
    for b, r in lsh_banding_table(k):
        for ti in range(1, 10):
            rows.append((b, r, ti / 10.0))
    df = spark.createDataFrame(rows, "bands: int, rows_per_band: int, jaccard: double")
    return df.select(
        "bands",
        "rows_per_band",
        "jaccard",
        F.round(
            1.0
            - F.pow(
                1.0 - F.pow(F.col("jaccard"), F.col("rows_per_band")),
                F.col("bands"),
            ),
            6,
        ).alias("p_candidate"),
        F.round(
            F.pow(
                1.0 / F.col("bands"),
                1.0 / F.col("rows_per_band"),
            ),
            6,
        ).alias("config_threshold"),
    )


def duck_lsh_s_curve_sql(k: int = 16) -> str:
    """Oracle twin of :func:`lsh_s_curve` — same literal grid, same pow
    chains."""
    vals = ", ".join(
        f"({b}, {r}, {ti / 10.0!r})"
        for b, r in lsh_banding_table(k)
        for ti in range(1, 10)
    )
    return f"""
        SELECT bands, rows_per_band, jaccard,
               round(1.0 - pow(1.0 - pow(jaccard, rows_per_band), bands), 6)
                   AS p_candidate,
               round(pow(1.0 / bands, 1.0 / rows_per_band), 6)
                   AS config_threshold
        FROM (VALUES {vals}) AS t(bands, rows_per_band, jaccard)
    """


def assortativity(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Degree ASSORTATIVITY of the near-dup graph (Newman 2002): the
    Pearson correlation of endpoint degrees across edges — positive
    means heavy duplicators link to each other (template farms),
    negative means hubs link to leaves (boilerplate radiating into
    unique docs); the one-number structure diagnostic next to
    clustering coefficient and modularity.

    Exactness: over the directed edge list every sum (Σx, Σy, Σxy, Σx²,
    Σy², M) is an exact bigint; r is one closed-form double expression
    of identical shape cross-engine, rounded(6). Scale shape: a degree
    partial agg + two graph-sized joins tagging each edge's endpoint
    degrees + a one-row aggregate.
    """
    bidir = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        # Materialized ONCE (round 12): persist()+pre-action unpersist()
        # cached nothing, so the degree agg and both edge-tagging joins
        # re-exploded the pair graph. The bench's release sweep reclaims
        # the blocks.
        .localCheckpoint(eager=True)
    )
    deg = bidir.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    tagged = (
        bidir.join(
            deg.select(F.col("node").alias("a"), F.col("d").alias("dx")), "a"
        ).join(
            deg.select(F.col("node").alias("b"), F.col("d").alias("dy")), "b"
        )
    )
    agg = tagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
    )
    out = agg.selectExpr(
        "m",
        "sx",
        "sxy",
        """round(
            (cast(m as double) * sxy - cast(sx as double) * sy)
            / sqrt((cast(m as double) * sxx - cast(sx as double) * sx)
                   * (cast(m as double) * syy - cast(sy as double) * sy)),
            6) as assortativity""",
    )
    return out


def duck_assortativity_sql(pairs_sql: str) -> str:
    """Oracle twin of :func:`assortativity`."""
    return f"""
        WITH pairs AS ({pairs_sql}),
        bidir AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ), deg AS (
            SELECT a AS node, count(*) AS d FROM bidir GROUP BY a
        ), tagged AS (
            SELECT dx.d AS dx, dy.d AS dy
            FROM bidir
            JOIN deg dx ON dx.node = bidir.a
            JOIN deg dy ON dy.node = bidir.b
        ), agg AS (
            SELECT count(*)::BIGINT AS m,
                   sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
                   sum(dx * dy)::BIGINT AS sxy,
                   sum(dx * dx)::BIGINT AS sxx,
                   sum(dy * dy)::BIGINT AS syy
            FROM tagged
        )
        SELECT m, sx, sxy,
               round((m::DOUBLE * sxy - sx::DOUBLE * sy)
                     / sqrt((m::DOUBLE * sxx - sx::DOUBLE * sx)
                            * (m::DOUBLE * syy - sy::DOUBLE * sy)),
                     6) AS assortativity
        FROM agg
    """
