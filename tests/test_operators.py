"""Property tests from SURVEY.md §5.3 plus checks for the approximate
operators that have no SQL oracle (LSH similarity, SimHash proximity) and
the multimodal plumbing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark import (
    operators as ops,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.config import (
    IcebergSinkConfig,
    UnsupportedOperationError,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    dedup as dd,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    multimodal as mm,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    relational as rel,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    similarity as sim,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.schema import (
    cast_projection,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
    load_table,
)

SF = "/root/testdata/sf0.001"


# -- pagination properties (§2.2 hazards) -----------------------------------


def test_pages_cover_shard_exactly_once(spark):
    orders = load_table(spark, SF, "orders")
    shard = ops.shard_filter(orders, "o_orderpriority", "1-URGENT")
    total = shard.count()
    size = 50
    n_pages = -(-total // size)
    un = ops.pages_union(
        orders, "o_orderpriority", "1-URGENT", "o_orderdate", "o_orderkey", size, n_pages
    ).drop("rn")
    assert un.count() == total
    assert un.select("o_orderkey").distinct().count() == total


def test_page_deterministic(spark):
    orders = load_table(spark, SF, "orders")
    p1 = ops.page(orders, "o_orderpriority", "1-URGENT", "o_orderdate", "o_orderkey", 10, 20)
    p2 = ops.page(orders, "o_orderpriority", "1-URGENT", "o_orderdate", "o_orderkey", 10, 20)
    k1 = [r.o_orderkey for r in p1.orderBy("rn").collect()]
    k2 = [r.o_orderkey for r in p2.orderBy("rn").collect()]
    assert k1 == k2 and len(k1) == 20


def test_highwater_baseline_plus_increment_is_total(spark):
    events = load_table(spark, SF, "events")
    baseline = events.filter(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
    inc = ops.highwater_increment(events, baseline, "event_type", "ts")
    assert baseline.count() + inc.count() == events.count()
    # disjoint
    assert baseline.select("event_id").intersect(inc.select("event_id")).count() == 0


# -- merge/upsert properties ------------------------------------------------


def test_merge_upsert_idempotent(spark):
    events = load_table(spark, SF, "events")
    once = ops.merge_upsert(events, ["event_id"], "ts", ["user_id", "value"])
    twice = ops.merge_upsert(once, ["event_id"], "ts", ["user_id", "value"])
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_merge_upsert_replay_safe(spark):
    """Re-ingesting an old page after upsert yields the same table."""
    events = load_table(spark, SF, "events")
    merged = ops.merge_upsert(events, ["event_id"], "ts", ["user_id", "value"])
    old_page = events.limit(50)
    replayed = ops.merge_upsert(
        merged.unionByName(old_page), ["event_id"], "ts", ["user_id", "value"]
    )
    assert replayed.exceptAll(merged).count() == 0
    assert merged.exceptAll(replayed).count() == 0


def test_new_shard_discovery(spark):
    current = spark.createDataFrame(
        [("a",), ("b",), ("c",)], ["shard_value"]
    )
    known = spark.createDataFrame([("a",), ("b",)], ["shard_value"])
    new = ops.new_shards(current, known)
    assert [r.shard_value for r in new.collect()] == ["c"]


# -- config / schema guards -------------------------------------------------


def test_sink_mode_validation():
    with pytest.raises(UnsupportedOperationError):
        IcebergSinkConfig(operation="replace")
    with pytest.raises(ValueError):
        IcebergSinkConfig(
            operation="upsert", partition_fields=("p",), upsert_fields=("k",)
        )


def test_cast_projection_rejects_non_whitelisted(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame([(1, [1, 2])], ["a", "b"])
    bad = T.StructType([T.StructField("b", T.ArrayType(T.IntegerType()))])
    with pytest.raises(UnsupportedOperationError):
        cast_projection(df, bad)


# -- dedup on planted duplicates --------------------------------------------


@pytest.fixture(scope="module")
def planted(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest tonight while stars shine bright above"
    )
    near = base.replace("dark forest", "cold forest")  # 1-word edit
    other = "completely different content about spark shuffles and joins here now"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base, "en", "s", len(base)),          # exact dup of 1
        (3, near, "en", "s", len(near)),          # near dup of 1
        (4, other, "en", "s", len(other)),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])


def test_exact_dedup_planted(spark, planted):
    out = {r.doc_id: r.n_copies for r in dd.exact_dedup(planted).collect()}
    assert out[1] == 2 and 2 not in out and out[3] == 1 and out[4] == 1


def test_dedup_corpus_policy(spark, planted):
    """doc 2 dies to exact dedup, doc 3 dies as the higher near-dup of the
    surviving doc 1, doc 4 survives untouched."""
    survivors = {r.doc_id for r in dd.dedup_corpus(planted).collect()}
    assert survivors == {1, 4}


def test_ngram_jaccard_finds_near_dup(spark, planted):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dd.ngram_jaccard_pairs(planted).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_finds_near_dup(spark, planted):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in dd.minhash_lsh_pairs(planted).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.25
    assert not any(4 in p for p in pairs)


def test_simhash_proximity(spark, planted):
    sh = {r.doc_id: r.simhash for r in dd.simhash(planted).collect()}
    assert sh[1] == sh[2]  # identical text → identical signature

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])


# -- similarity: LSH recall vs exact baseline -------------------------------


def test_lsh_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    probes = list(range(10))
    exact = sim.topk_cosine_bruteforce(emb, probes, k=5).collect()
    approx = sim.lsh_topk_cosine(emb, probes, k=5).collect()
    exact_set = {(r.probe_id, r.neighbor_id) for r in exact}
    approx_set = {(r.probe_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4 hyperplanes ⇒ each probe scans ~1/16 of the corpus; same-bucket
    # neighbors are cosine-correlated so recall must beat random (~6%).
    assert recall >= 0.3, f"LSH recall {recall} too low"


def test_ivf_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    probes = list(range(10))
    exact = sim.topk_cosine_bruteforce(emb, probes, k=5).collect()
    approx = sim.ivf_topk_cosine(emb, probes, k=5).collect()
    exact_set = {(r.probe_id, r.neighbor_id) for r in exact}
    approx_set = {(r.probe_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 2 of 16 cells probed ⇒ ~1/8 of the corpus scanned; nearest-cell
    # membership is cosine-correlated so recall must beat random (~12%).
    assert recall >= 0.3, f"IVF recall {recall} too low"
    # every probe still returns a full top-k
    assert len(approx) == len(probes) * 5


def test_incremental_dedup_all_statuses(spark):
    """Planted batch exercising every verdict: exact copy of a corpus doc,
    exact copy within the batch, near-dup of a corpus doc (one token
    changed), and a fresh doc."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(0, base), (5, "completely unrelated corpus text about spark engines")],
        "doc_id long, text string",
    )
    near = base.replace("today", "tomorrow")
    new = spark.createDataFrame(
        [
            (11, base),                       # exact_dup_corpus
            (12, "brand new novel content with nothing shared at all"),
            (13, "brand new novel content with nothing shared at all"),
            (14, near),                       # near_dup_corpus
            (15, "fresh and unique text mentioning absolutely nothing common"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in dd.incremental_dedup(new, corpus).collect()}
    assert got[11] == "exact_dup_corpus"
    assert got[12] == "kept"            # min-id copy within the batch
    assert got[13] == "exact_dup_batch"
    assert got[14] == "near_dup_corpus"
    assert got[15] == "kept"


def test_pagerank_pairs_empty_graph(spark):
    """An empty pair graph (every shingle above the df cap — the measured
    regime at the 100× fixture) must yield the empty relation, not a
    ZeroDivisionError from the uniform prior 1/n (round-9 probe find).
    The whole graph battery shares this contract; pagerank was the one
    metric that divided by the node count driver-side."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.dedup import (
        pagerank_pairs,
    )

    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    out = pagerank_pairs(empty)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["doc_id", "norm_rank"]


def test_pagerank_pairs_star_vs_chain(spark):
    """On a star graph the hub must outrank every leaf; rank mass is
    conserved (sum of ranks = 1, i.e. sum of norm_rank = N) since an
    undirected pair graph has no dangling nodes."""
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11)],
        "doc_a long, doc_b long",
    )
    rows = {r.doc_id: r.norm_rank for r in dd.pagerank_pairs(pairs).collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 10, 11}
    hub, leaf = rows[0], rows[1]
    assert hub > leaf, f"hub {hub} must outrank leaf {leaf}"
    assert rows[1] == rows[2] == rows[3] == rows[4]  # symmetric leaves
    assert rows[10] == rows[11]  # isolated pair is symmetric
    assert abs(sum(rows.values()) - len(rows)) < 1e-4  # mass conserved


def test_neardup_embedding_recall_vs_exhaustive(spark):
    """LSH-bucket blocking is approximate: verify it against the exhaustive
    within-label pair scan. Every emitted pair must exist in the exhaustive
    set with an identical sim value (no false positives, no drift), and the
    Hamming≤1 candidate coverage must recover a non-trivial fraction."""
    emb = load_table(spark, SF, "embeddings")
    approx = sim.neardup_embedding_pairs(emb, threshold=0.30).collect()
    rows = emb.select("vec_id", "label", "embedding").collect()
    import math

    vecs = {r.vec_id: ([float(x) for x in r.embedding], r.label) for r in rows}

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        nu = math.sqrt(sum(a * a for a in u))
        nv = math.sqrt(sum(b * b for b in v))
        return round(d / (nu * nv), 4)

    exhaustive = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if vecs[a][1] == vecs[b][1]:
                s = cos(vecs[a][0], vecs[b][0])
                if s >= 0.30:
                    exhaustive[(a, b)] = s
    approx_set = {(r.vec_a, r.vec_b) for r in approx}
    assert approx_set <= set(exhaustive), "bucketed pairs must be a subset"
    for r in approx:
        assert abs(r.sim - exhaustive[(r.vec_a, r.vec_b)]) < 1e-3
    # cos≈0.3 pairs collide within Hamming≤1 of 4 sign bits w.p. ~0.18;
    # the fixture's pairs are label-correlated so demand well above zero.
    recall = len(approx_set) / max(1, len(exhaustive))
    assert recall >= 0.1, f"near-dup recall {recall} too low"


def test_simhash_pairs_exact_recall(spark):
    """The 4×15-bit banding must surface EVERY pair within Hamming ≤ 3
    (pigeonhole guarantee) when no bucket overflows — cross-checked against
    a brute-force pair scan of the signatures."""
    docs = load_table(spark, SF, "documents")
    sigs = {r.doc_id: r.simhash for r in dd.simhash_wide(docs).collect()}
    brute = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    banded = {
        (r.doc_a, r.doc_b)
        for r in dd.simhash_pairs(docs, max_bucket=10**9).collect()
    }
    assert banded == brute


def test_salted_join_matches_plain_join(spark):
    """Salting must be invisible in the result set: same rows as the plain
    join for inner AND left (including unmatched left rows)."""
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    # poke a hole so the left join has unmatched rows
    cust_holed = cust.filter(F.col("o_custkey") % 7 != 0)
    for how in ("inner", "left"):
        plain = orders.join(cust_holed, "o_custkey", how)
        salted = rel.salted_join(
            orders, cust_holed, "o_custkey", salt=4, how=how
        ).select(*plain.columns)
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0
    with pytest.raises(ValueError):
        rel.salted_join(orders, cust, "o_custkey", how="full")


# -- multimodal plumbing ----------------------------------------------------


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", bytearray(b"\x89PNG" + b"a" * 100), ("image/png", 10, 10, None)),
        (2, "video", bytearray(b"\x00\x00ftyp" + b"b" * 500), ("video/mp4", 64, 48, 3500)),
        (3, "audio", bytearray(b"RIFF" + b"c" * 50), ("audio/wav", None, None, 2000)),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_decode_media_fake(spark, media):
    out = mm.decode_media(media, fake=True).collect()
    assert {r.media_id for r in out} == {1, 2, 3}
    by_id = {r.media_id: r for r in out}
    assert by_id[1].n_bytes == 104
    assert len(by_id[2].feature) == 8
    import hashlib

    digest = hashlib.md5(b"RIFF" + b"c" * 50).hexdigest()
    assert by_id[3].checksum == int(digest[:8], 16)
    assert by_id[3].feature[0] == float(int(digest[8:10], 16))


def test_decode_media_real_path_is_stubbed(spark, media):
    with pytest.raises(Exception, match="NotImplementedError|not present"):
        mm.decode_media(media, fake=False).collect()


def test_resize_images_fake(spark, media):
    out = {r.media_id: r for r in mm.resize_images(media, 5, 5, fake=True).collect()}
    assert len(out) == 3
    # image meta rewritten to target dims, payload shrunk by pixel ratio
    assert (out[1].meta.width, out[1].meta.height) == (5, 5)
    assert len(out[1].content) == 26  # 104 bytes × (25/100 px ratio)
    # non-image rows untouched
    assert out[3].meta.duration_ms == 2000 and len(out[3].content) == 54
    with pytest.raises(Exception, match="NotImplementedError|not present"):
        mm.resize_images(media, 5, 5, fake=False).collect()


def test_frame_sample(spark, media):
    frames = mm.frame_sample(media, every_ms=1000).collect()
    assert {r.frame_ts_ms for r in frames} == {0, 1000, 2000, 3000}
    assert all(r.media_id == 2 for r in frames)


def test_repartition_for_media(spark, media):
    df = mm.repartition_for_media(media, 4)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 3


# -- temporal joins ---------------------------------------------------------


def _ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def temporal_frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "l1"),
            (1, _ts("2024-01-01 12:00:00"), "l2"),
            (1, _ts("2024-01-01 09:00:00"), "l0"),  # before any right row
            (2, _ts("2024-01-01 10:30:00"), "l3"),
            (3, _ts("2024-01-01 10:00:00"), "l4"),  # key absent on right
        ],
        "k int, ts timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:30:00"), 100, 1.0),
            (1, _ts("2024-01-01 10:00:00"), 101, None),  # tie ts + NULL payload
            (1, _ts("2024-01-01 11:00:00"), 102, 3.0),
            (2, _ts("2024-01-01 10:30:00"), 200, 4.0),
        ],
        "k int, rts timestamp, rid int, rv double",
    )
    return left, right


def test_asof_backward(spark, temporal_frames):
    """Most recent right at-or-before, ties inclusive, NULL payload carried
    as NULL (not the older non-null row), unmatched rows NULL on left join."""
    left, right = temporal_frames
    out = {
        r["lbl"]: (r["rid"], r["rv"])
        for r in ops.temporal.asof_join(
            left, right, "k", "ts", "rts", ["rid", "rv"], how="left"
        ).collect()
    }
    assert out == {
        "l0": (None, None),
        "l1": (101, None),  # tie at 10:00 matches; its NULL rv stays NULL
        "l2": (102, 3.0),
        "l3": (200, 4.0),
        "l4": (None, None),
    }


def test_asof_inner_drops_unmatched(spark, temporal_frames):
    left, right = temporal_frames
    got = {
        r["lbl"]
        for r in ops.temporal.asof_join(
            left, right, "k", "ts", "rts", ["rid"], how="inner"
        ).collect()
    }
    assert got == {"l1", "l2", "l3"}


def test_asof_forward(spark, temporal_frames):
    left, right = temporal_frames
    out = {
        r["lbl"]: r["rid"]
        for r in ops.temporal.asof_join(
            left, right, "k", "ts", "rts", ["rid"], direction="forward"
        ).collect()
    }
    assert out == {"l0": 100, "l1": 101, "l2": None, "l3": 200, "l4": None}


def test_asof_rejects_collisions_and_bad_args(spark, temporal_frames):
    left, right = temporal_frames
    with pytest.raises(ValueError):
        ops.temporal.asof_join(left, left, "k", "ts", "ts", ["lbl"])
    with pytest.raises(ValueError):
        ops.temporal.asof_join(left, right, "k", "ts", "rts", ["rid"], how="full")
    with pytest.raises(ValueError):
        ops.temporal.asof_join(
            left, right, "k", "ts", "rts", ["rid"], direction="nearest"
        )


def test_interval_join_matches_naive(spark):
    """Bucketed interval join == naive inequality join, including boundary
    rows exactly on lower/upper (bounds are inclusive)."""
    ev = load_table(spark, SF, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("ets"), F.col("event_id").alias("eid")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    got = ops.temporal.interval_join(
        errors, clicks, "user_id", "ets", "cts", -3_600_000, 3_600_000
    )
    naive = errors.join(clicks, "user_id").filter(
        F.unix_micros("cts").between(
            F.unix_micros("ets") - 3_600_000_000,
            F.unix_micros("ets") + 3_600_000_000,
        )
    )
    a = {(r["eid"], r["cid"]) for r in got.collect()}
    b = {(r["eid"], r["cid"]) for r in naive.collect()}
    assert a == b and a


def test_interval_join_boundary_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), "L")], "k int, lts timestamp, l string"
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:00:00"), "lo_edge"),
            (1, _ts("2024-01-01 11:00:00"), "hi_edge"),
            (1, _ts("2024-01-01 08:59:59.999999"), "below"),
            (1, _ts("2024-01-01 11:00:00.000001"), "above"),
        ],
        "k int, rts timestamp, r string",
    )
    got = {
        r["r"]
        for r in ops.temporal.interval_join(
            left, right, "k", "lts", "rts", -3_600_000, 3_600_000
        ).collect()
    }
    assert got == {"lo_edge", "hi_edge"}


# -- curation capstone ------------------------------------------------------


def test_curate_corpus_policy(spark, planted):
    """Composes the planted-dedup policy with lang/quality gates: docs 2
    (exact dup) and 3 (near dup) die to dedup; survivors are filtered by
    predicted language and quality floor."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.curation import (
        curate_corpus,
    )

    out = {
        r.doc_id: r
        for r in curate_corpus(planted, quality_min=0.0, langs=("en",)).collect()
    }
    assert set(out) == {1, 4}
    assert all(r.predicted_lang == "en" for r in out.values())
    # a prohibitive quality floor empties the corpus but keeps the schema
    strict = curate_corpus(planted, quality_min=2.0)
    assert strict.count() == 0
    assert strict.columns == [
        "doc_id", "predicted_lang", "n_tokens", "uniq_ratio", "quality",
    ]


# -- deterministic sampling -------------------------------------------------


def test_hash_split_disjoint_exhaustive_stable(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )

    docs = load_table(spark, SF, "documents").select("doc_id")
    out = smp.hash_split(docs, "doc_id")
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r.split in ("train", "val", "test") for r in rows)
    # membership is partitioning-independent
    re = {
        (r.doc_id, r.split)
        for r in smp.hash_split(docs.repartition(7), "doc_id").collect()
    }
    assert re == {(r.doc_id, r.split) for r in rows}
    # a different salt reassigns some rows
    other = {
        (r.doc_id, r.split)
        for r in smp.hash_split(docs, "doc_id", salt="v2").collect()
    }
    assert other != re


def test_hash_sample_subset_deterministic(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )

    docs = load_table(spark, SF, "documents").select("doc_id")
    s1 = {r.doc_id for r in smp.hash_sample(docs, "doc_id", 0.2).collect()}
    s2 = {r.doc_id for r in smp.hash_sample(docs, "doc_id", 0.2).collect()}
    assert s1 == s2
    n = docs.count()
    assert 0.1 * n < len(s1) < 0.3 * n  # ~20% of 500
    # larger fraction strictly extends the smaller one (nested samples)
    s3 = {r.doc_id for r in smp.hash_sample(docs, "doc_id", 0.5).collect()}
    assert s1 <= s3
    with pytest.raises(ValueError):
        smp.hash_sample(docs, "doc_id", 1.5)
    with pytest.raises(ValueError):
        smp.hash_split(docs, "doc_id", {"a": 0.5, "b": 0.2})


def test_hash_split_property_fractions(spark):
    """Hypothesis: for arbitrary valid fraction tables, the split is
    exhaustive (every row labeled) and disjoint (labels from the table)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )

    docs = load_table(spark, SF, "documents").select("doc_id").limit(100)
    docs = docs.persist()
    docs.count()

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        weights=st.lists(
            st.integers(min_value=1, max_value=10), min_size=1, max_size=4
        )
    )
    def check(weights):
        total = sum(weights)
        splits = {f"s{i}": w / total for i, w in enumerate(weights)}
        rows = smp.hash_split(docs, "doc_id", splits).collect()
        assert len(rows) == 100
        assert all(r.split in splits for r in rows)

    try:
        check()
    finally:
        docs.unpersist()


# -- sentiment + time-series similarity -------------------------------------


def test_sentiment_labels(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    docs = spark.createDataFrame(
        [
            (1, "fast fast big slow", "en", "s", 18),   # 3 pos 1 neg
            (2, "slow small dup", "en", "s", 14),       # 0 pos 3 neg
            (3, "fast slow", "en", "s", 9),             # tie
            (4, "join filter merge", "en", "s", 17),    # no lexicon hits
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.doc_id: r for r in tx.sentiment(docs).collect()}
    assert out[1].label == "pos" and out[1].polarity == 0.5
    assert out[2].label == "neg" and out[2].polarity == -1.0
    assert out[3].label == "neutral" and out[3].polarity == 0.0
    assert out[4].label == "neutral" and out[4].polarity == 0.0


def test_ts_similarity_excludes_probe_and_ranks(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        topk_similar_users,
    )

    events = load_table(spark, SF, "events")
    out = topk_similar_users(events, probe_user=0, k=5).collect()
    assert len(out) == 5
    assert all(r.user_id != 0 for r in out)
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]
    sims = [r.cos_sim for r in sorted(out, key=lambda r: r.rank)]
    assert sims == sorted(sims, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in sims)


def test_normalize_text_cleans(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    docs = spark.createDataFrame(
        [
            (1, "  Hello\t WORLD \n", "en", "s", 16),
            (2, "already clean", "en", "s", 13),
            (3, "tabs\tand\nnewlines\x0bhere", "en", "s", 22),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.doc_id: r for r in tx.normalize_text(docs).collect()}
    assert out[1].norm_text == "hello world" and out[1].changed
    assert out[2].norm_text == "already clean" and not out[2].changed
    assert out[3].norm_text == "tabs and newlines here" and out[3].changed


def test_pack_bins_balanced(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    tc = tx.token_count(load_table(spark, SF, "documents")).select(
        "doc_id", "n_tokens"
    )
    out = smp.pack_bins(tc, n_bins=8)
    assert out.count() == tc.count()  # every doc assigned exactly once
    totals = {
        r.bin: r.total
        for r in out.groupBy("bin").agg(F.sum("n_tokens").alias("total")).collect()
    }
    assert set(totals) == set(range(8))
    # serpentine packing keeps bins within a few max-doc-lengths of each other
    spread_ratio = (max(totals.values()) - min(totals.values())) / max(
        totals.values()
    )
    assert spread_ratio < 0.05, totals
    with pytest.raises(ValueError):
        smp.pack_bins(tc, n_bins=0)


def test_stratified_take_per_group(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    out = smp.stratified_take(docs, "lang", "doc_id", 10)
    counts = {r.lang: r.c for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()}
    full = {r.lang: r.c for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()}
    for lang, n in full.items():
        assert counts.get(lang, 0) == min(10, n)
    # deterministic across partitionings
    again = {
        (r.doc_id, r.lang)
        for r in smp.stratified_take(docs.repartition(5), "lang", "doc_id", 10).collect()
    }
    assert again == {(r.doc_id, r.lang) for r in out.collect()}


def test_tfidf_rare_term_outranks_common(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    docs = spark.createDataFrame(
        [
            (1, "common common rare", "en", "s", 18),
            (2, "common filler words", "en", "s", 19),
            (3, "common other stuff", "en", "s", 18),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = tx.tfidf_topk(docs, k=1).collect()
    top = {r.doc_id: r.token for r in out}
    # "rare" (df=1) beats "common" (df=3) in doc 1 despite tf 1 vs 2:
    # 1*3/1 = 3.0 > 2*3/3 = 2.0
    assert top[1] == "rare"
    assert all(r.rank == 1 for r in out)


def test_repetition_flags_repeats(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam spam spam", "en", "s", 0),
            (2, "ten totally distinct words appear in this tiny doc here", "en", "s", 0),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.doc_id: r for r in tx.repetition_stats(docs).collect()}
    assert out[1].repetitive and out[1].dup_token_ratio == 0.9
    assert not out[2].repetitive and out[2].dup_token_ratio == 0.0
    assert out[1].dup_ngram_ratio == 0.875  # 8 grams, 1 distinct


def test_chunks_cover_every_token_once_at_stride_eq_chunk(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    docs = load_table(spark, SF, "documents")
    chunks = tx.chunk_documents(docs, chunk_tokens=32, stride=32)
    # non-overlapping chunks partition the token range exactly
    agg = chunks.groupBy("doc_id").agg(
        F.sum("chunk_len").alias("covered"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.max(F.col("start_tok") + F.col("chunk_len")).alias("end"),
    )
    joined = agg.join(
        docs.selectExpr("doc_id", "size(split(trim(text), '\\\\s+')) as n_tokens"),
        "doc_id",
    )
    bad = joined.filter(
        (F.col("covered") != F.col("n_tokens")) | (F.col("end") != F.col("n_tokens"))
    )
    assert bad.count() == 0
    with pytest.raises(ValueError):
        tx.chunk_documents(docs, chunk_tokens=0)


def test_temperature_upweights_low_resource(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )

    out = smp.temperature_weights(load_table(spark, SF, "documents")).collect()
    assert abs(sum(r.p_sample for r in out) - 1.0) < 1e-4
    by_n = sorted(out, key=lambda r: r.n_docs)
    # flattening: smallest stratum gains share, largest loses share
    assert by_n[0].p_sample > by_n[0].p_natural
    assert by_n[-1].p_sample < by_n[-1].p_natural


def test_order_coverage_partitions_customers(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        relational as rel,
    )

    customer = load_table(spark, SF, "customer")
    orders = load_table(spark, SF, "orders")
    out = rel.order_coverage(customer, orders).collect()
    assert sum(r.n_with_orders + r.n_without_orders for r in out) == customer.count()
    assert sum(r.n_with_orders for r in out) == (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi").count()
    )


def test_quantize_bounds_and_error(spark):
    out = sim.quantize_embeddings(load_table(spark, SF, "embeddings"))
    rows = out.collect()
    # q in [-127,127]^64 ⇒ qnorm2 ≤ 64*127²; scalar quantization error per
    # dim ≤ (1/254)² ⇒ sq_err ≤ 64/254² ≈ 0.000992
    assert all(0 <= r.qnorm2 <= 64 * 127 * 127 for r in rows)
    assert all(0.0 <= r.sq_err <= 0.001 for r in rows)
    assert all(r.rms_err <= 0.004 for r in rows)


def test_kmv_sketch_accuracy(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        kmv_distinct_tokens,
    )

    row = kmv_distinct_tokens(load_table(spark, SF, "documents"), k=64).collect()[0]
    assert row.k_used == min(64, row.n_exact)
    # KMV standard error ~ 1/sqrt(k-2) ≈ 13% at k=64; allow 4 sigma
    assert abs(row.rel_err) < 0.52
    assert row.n_est > 0


def test_connected_components_chains_transitively(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (20, 10)], ["doc_a", "doc_b"]
    )
    out = {r.doc_id: r for r in dd.connected_components(pairs).collect()}
    assert {out[i].cluster_id for i in (1, 2, 3)} == {1}
    assert out[1].cluster_size == 3
    assert out[7].cluster_id == 7 and out[9].cluster_size == 2
    assert out[20].cluster_id == 10 and out[10].cluster_id == 10
    assert set(out) == {1, 2, 3, 7, 9, 10, 20}


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, ts, uid, et, 1.0, "{}") for i, (ts, uid, et) in enumerate(rows)],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_funnel_requires_stage_order(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        funnel,
    )

    ev = _ev(
        spark,
        [
            # user 1: full ordered funnel
            ("2024-01-01 10:00:00", 1, "view"),
            ("2024-01-01 10:05:00", 1, "click"),
            ("2024-01-01 10:10:00", 1, "purchase"),
            # user 2: clicked BEFORE first view -> stuck at stage 1
            ("2024-01-01 09:00:00", 2, "click"),
            ("2024-01-01 10:00:00", 2, "view"),
            # user 3: view+purchase but never clicked -> stage 1
            ("2024-01-01 10:00:00", 3, "view"),
            ("2024-01-01 11:00:00", 3, "purchase"),
            # user 4: never viewed -> not in funnel at all
            ("2024-01-01 10:00:00", 4, "click"),
        ],
    )
    out = {r.user_id: r for r in funnel(ev).collect()}
    assert out[1].stages_completed == 3
    assert out[2].stages_completed == 1 and out[2].t_click_ms is None
    assert out[3].stages_completed == 1
    assert 4 not in out
    assert out[1].t_view_ms < out[1].t_click_ms < out[1].t_purchase_ms


def test_retention_offsets(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        retention_cohorts,
    )

    ev = _ev(
        spark,
        [
            ("2024-01-01 10:00:00", 1, "view"),
            ("2024-01-01 23:00:00", 1, "click"),  # same day, same offset 0
            ("2024-01-03 10:00:00", 1, "view"),   # day 2
            ("2024-01-02 10:00:00", 2, "view"),   # cohort Jan 2
            ("2024-01-03 01:00:00", 2, "view"),   # day 1
        ],
    )
    out = {(r.cohort_day_ms, r.day_offset): r.n_users for r in retention_cohorts(ev).collect()}
    jan1 = 1704067200000
    day = 86400000
    assert out[(jan1, 0)] == 1 and out[(jan1, 2)] == 1
    assert out[(jan1 + day, 0)] == 1 and out[(jan1 + day, 1)] == 1
    assert (jan1, 1) not in out


def test_unigram_lm_rare_tokens_score_low(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    docs = spark.createDataFrame(
        [
            (1, "common common common common", "en", "s", 0),
            (2, "common common rareword xyzzy", "en", "s", 0),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.doc_id: r.lm_score for r in tx.unigram_lm_score(docs).collect()}
    assert out[1] > out[2]


def test_containment_catches_subdocument(spark):
    sub = "alpha beta gamma delta epsilon zeta"
    big = sub + " eta theta iota kappa lam mu nu xi omicron pi rho sigma tau"
    docs = spark.createDataFrame(
        [(1, sub, "en", "s", 0), (2, big, "en", "s", 0)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {(r.doc_src, r.doc_dst): r.containment for r in dd.containment_pairs(docs).collect()}
    assert out[(1, 2)] == 1.0        # small doc fully inside big one
    assert (2, 1) not in out or out[(2, 1)] < 0.3  # reverse is weak


def test_pivot_counts_match_long_counts(spark):
    ev = load_table(spark, SF, "events")
    piv = rel.user_event_pivot(ev)
    total_piv = piv.selectExpr(
        "n_click + n_error + n_purchase + n_signup + n_view as t"
    ).agg(F.sum("t")).collect()[0][0]
    assert total_piv == ev.count()
    assert piv.count() == ev.select("user_id").distinct().count()


def test_histogram_covers_all_orders(spark):
    orders = load_table(spark, SF, "orders")
    h = rel.price_histogram(orders)
    rows = h.collect()
    assert sum(r.n_orders for r in rows) == orders.count()
    assert all(0 <= r.bin <= 23 for r in rows)
    assert all(abs(r.bin_lo - r.bin * 25000.0) < 1e-9 for r in rows)


def test_distinct_aggs_bounded_by_plain_counts(spark):
    out = rel.distinct_aggs(load_table(spark, SF, "orders")).collect()
    for r in out:
        assert r.n_customers <= r.n_orders
        assert 1 <= r.n_statuses <= 3


def test_scd2_collapses_repeats_and_chains_validity(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.temporal import (
        scd2_history,
    )

    ev = _ev(
        spark,
        [
            ("2024-01-01 10:00:00", 1, "view"),
            ("2024-01-01 11:00:00", 1, "view"),   # repeat -> collapsed
            ("2024-01-01 12:00:00", 1, "click"),
            ("2024-01-01 13:00:00", 1, "view"),   # back to view -> new version
            ("2024-01-01 10:00:00", 2, "signup"),
        ],
    )
    rows = sorted(
        scd2_history(ev).collect(), key=lambda r: (r.user_id, r.version)
    )
    u1 = [r for r in rows if r.user_id == 1]
    assert [r.state for r in u1] == ["view", "click", "view"]
    assert [r.version for r in u1] == [1, 2, 3]
    # validity intervals chain exactly: each valid_to == next valid_from
    assert u1[0].valid_to_ms == u1[1].valid_from_ms
    assert u1[1].valid_to_ms == u1[2].valid_from_ms
    assert u1[2].valid_to_ms is None and u1[2].is_current
    assert not u1[0].is_current and not u1[1].is_current
    (u2,) = [r for r in rows if r.user_id == 2]
    assert u2.version == 1 and u2.is_current


def test_cdc_diff_classifies_insert_update_unchanged(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.temporal import (
        snapshot_diff,
    )

    ev = spark.createDataFrame(
        [
            # key (1, view): before cutoff only -> unchanged
            (1, "2024-01-10 00:00:00", 1, "view", 5.0, "{}"),
            # key (2, click): after cutoff only -> insert
            (2, "2024-01-20 00:00:00", 2, "click", 1.0, "{}"),
            # key (3, view): value changed across cutoff -> update
            (3, "2024-01-10 00:00:00", 3, "view", 1.0, "{}"),
            (4, "2024-01-20 00:00:00", 3, "view", 2.0, "{}"),
            # key (5, view): same value re-written after cutoff -> unchanged
            (5, "2024-01-10 00:00:00", 5, "view", 7.0, "{}"),
            (6, "2024-01-20 00:00:00", 5, "view", 7.0, "{}"),
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r.user_id, r.event_type): r for r in snapshot_diff(ev).collect()}
    assert out[(1, "view")].change == "unchanged"
    assert out[(2, "click")].change == "insert"
    assert out[(2, "click")].old_value is None
    assert out[(3, "view")].change == "update"
    assert out[(3, "view")].old_value == 1.0 and out[(3, "view")].new_value == 2.0
    assert out[(5, "view")].change == "unchanged"


def test_corr_stats_perfect_linear_relation(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
        corr_stats,
    )

    li = spark.createDataFrame(
        [("A", float(q), 2.0 * q) for q in range(1, 11)]
        + [("R", float(q), float(11 - q)) for q in range(1, 11)],
        ["l_returnflag", "l_quantity", "l_extendedprice"],
    )
    out = {r.l_returnflag: r for r in corr_stats(li).collect()}
    assert out["A"].corr_qty_price == 1.0   # exactly linear
    assert out["R"].corr_qty_price == -1.0  # exactly anti-linear
    assert out["A"].n == 10
    assert out["A"].avg_qty == 5.5


def test_daily_anomaly_flags_spike_day(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        daily_anomaly,
    )

    rows = []
    for d in range(1, 10):  # 9 quiet days: 1 event each
        rows.append((f"2024-01-0{d}" if d < 10 else f"2024-01-{d}", 1, "view"))
    rows += [("2024-01-10 01:00:00", u, "view") for u in range(10)]  # spike
    ev = _ev(spark, [(ts, uid, et) for ts, uid, et in rows])
    out = daily_anomaly(ev).collect()
    flagged = [r for r in out if r.is_anomaly]
    assert len(out) == 10
    assert len(flagged) == 1 and flagged[0].n_events == 10
    assert flagged[0].zscore > 2.0
    # quiet days sit below the mean but within the threshold
    assert all(abs(r.zscore) < 2.0 for r in out if not r.is_anomaly)


def test_decontaminate_flags_shared_8gram(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.curation import (
        decontaminate,
    )

    leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [
            (0, f"benchmark prompt {leak} answer key"),        # eval doc
            (1, f"crawled page containing {leak} verbatim"),   # contaminated
            (2, "totally unrelated training text about spark"),
            (20, "another eval doc with different content"),   # eval doc
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in decontaminate(docs).collect()}
    assert set(out) == {1, 2}  # eval docs excluded from output
    assert out[1].contaminated and out[1].n_hits >= 1
    assert not out[2].contaminated and out[2].n_hits == 0


def test_minhash_estimate_exact_for_identical_docs(spark):
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, text_a),
            (2, text_a),  # identical twin -> est == exact == 1.0
            (3, "completely different content words here nothing shared"),
        ],
        ["doc_id", "text"],
    )
    out = dd.minhash_estimate_audit(docs).collect()
    pair = {(r.doc_a, r.doc_b): r for r in out}
    assert (1, 2) in pair
    r = pair[(1, 2)]
    assert r.est_jaccard == 1.0 and r.exact_jaccard == 1.0 and r.abs_err == 0.0
    for r in out:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert abs(r.abs_err - round(abs(r.est_jaccard - r.exact_jaccard), 4)) < 1e-9


def test_activity_streaks_counts_islands(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        activity_streaks,
    )

    ev = _ev(
        spark,
        [
            # user 1: days 1,2,3 | 5,6 | 9  -> 6 active, 3 streaks, max 3
            ("2024-01-01 10:00:00", 1, "view"),
            ("2024-01-01 19:00:00", 1, "click"),  # same day, no double count
            ("2024-01-02 10:00:00", 1, "view"),
            ("2024-01-03 10:00:00", 1, "view"),
            ("2024-01-05 10:00:00", 1, "view"),
            ("2024-01-06 10:00:00", 1, "view"),
            ("2024-01-09 10:00:00", 1, "view"),
            # user 2: one day only
            ("2024-01-04 10:00:00", 2, "view"),
        ],
    )
    out = {r.user_id: r for r in activity_streaks(ev).collect()}
    assert out[1].n_active_days == 6
    assert out[1].n_streaks == 3
    assert out[1].max_streak_days == 3
    assert out[2].n_active_days == 1 and out[2].n_streaks == 1
    assert out[2].max_streak_days == 1


def test_cast_deadletter_routes_only_failed_fields(spark):
    from pyspark.sql import types as T

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.schema import (
        cast_deadletter,
    )

    target = T.StructType(
        [
            T.StructField("PRICE", T.DoubleType()),
            T.StructField("CATEGORY", T.StringType()),
            T.StructField("NAME", T.LongType()),
            T.StructField("UPDATED_AT", T.TimestampType()),
        ]
    )
    df = spark.createDataFrame(
        [
            ("12.5", "a", "1", "2024-01-01 00:00:00"),   # clean
            ("12x", "a", "2", "2024-01-01 00:00:00"),    # bad PRICE
            ("1.0", "a", "3", "nope"),                   # bad UPDATED_AT
            (None, "a", "4", None),                      # nulls pass through
            ("x", "a", "5", "y"),                        # both bad -> 2 rows
        ],
        ["PRICE", "CATEGORY", "NAME", "UPDATED_AT"],
    )
    out = cast_deadletter(df, target, key="NAME").collect()
    got = {(r.row_key, r.field): r.raw for r in out}
    assert got == {
        ("2", "PRICE"): "12x",
        ("3", "UPDATED_AT"): "nope",
        ("5", "PRICE"): "x",
        ("5", "UPDATED_AT"): "y",
    }


def test_trailing_revenue_range_frame_ages_out_gaps(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        trailing_revenue,
    )

    orders = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 100.0),
            (2, "2024-01-02 00:00:00", 200.0),
            # gap: days 3-9 empty; day 10 is > 7 days after both
            (3, "2024-01-10 00:00:00", 50.0),
        ],
        ["o_orderkey", "o_orderdate", "o_totalprice"],
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    out = {r.day_ms: r for r in trailing_revenue(orders).collect()}
    d1, d2, d10 = sorted(out)
    assert out[d2].trail_total == 300.0 and out[d2].trail_days == 2
    # calendar RANGE frame: day 10 must NOT see days 1-2 (a ROWS frame would)
    assert out[d10].trail_total == 50.0 and out[d10].trail_days == 1
    assert out[d1].trail_avg == 100.0


def test_event_paths_orders_and_ranks(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        event_paths,
    )

    ev = _ev(
        spark,
        [
            ("2024-01-01 10:00:00", 1, "view"),
            ("2024-01-01 10:01:00", 1, "click"),
            ("2024-01-01 10:02:00", 1, "purchase"),
            ("2024-01-02 10:00:00", 2, "view"),
            ("2024-01-02 10:01:00", 2, "click"),
            ("2024-01-02 10:02:00", 2, "purchase"),
            ("2024-01-03 10:00:00", 3, "view"),
            ("2024-01-03 10:01:00", 3, "view"),
            ("2024-01-03 10:02:00", 3, "click"),
        ],
    )
    out = event_paths(ev).collect()
    assert out[0].path == "view>click>purchase" and out[0].n == 2
    assert out[0].rank == 1
    assert {r.path for r in out} == {"view>click>purchase", "view>view>click"}
    # paths never cross users: 3 users x 3 events -> one trigram each
    assert sum(r.n for r in out) == 3


def test_countmin_estimate_dominates_exact(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        countmin_audit,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta " + ("gamma " * (i + 1))) for i in range(5)],
        ["doc_id", "text"],
    )
    out = {r.token: r for r in countmin_audit(docs, k=3).collect()}
    assert set(out) == {"alpha", "beta", "gamma"}
    assert out["gamma"].exact_n == 15  # 1+2+3+4+5
    for r in out.values():
        # the CMS one-sided guarantee: estimates never undercount
        assert r.est_n >= r.exact_n


def test_shard_assign_partitions_completely(spark, sf_dir):
    """Every doc lands in exactly one shard; manifest counts reconstruct
    the corpus size and shard ids stay in range."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sampling import (
        shard_assign,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    manifest = shard_assign(docs, n_shards=16).collect()
    assert sum(r.n_docs for r in manifest) == docs.count()
    assert all(0 <= r.shard < 16 for r in manifest)


def test_interleave_rates_track_weights(spark, sf_dir):
    """Observed keep fractions must sit near the configured per-source
    rates (hash-uniformity sanity, wide tolerance for small fixtures)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sampling import (
        INTERLEAVE_DEFAULT,
        INTERLEAVE_WEIGHTS,
        interleave_sources,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    audit = interleave_sources(load_table(spark, sf_dir, "documents")).collect()
    for r in audit:
        expect = INTERLEAVE_WEIGHTS.get(r.source, INTERLEAVE_DEFAULT) / 100
        assert abs(r.kept_frac - expect) < 0.35, (r.source, r.kept_frac, expect)


def test_triangle_count_matches_bruteforce(spark):
    """Oriented-wedge triangle count equals the O(n^3) reference on a
    small planted graph (two triangles sharing an edge + a pendant)."""
    from itertools import combinations

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.dedup import (
        triangle_count,
    )

    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    eset = {frozenset(e) for e in edges}
    expected = sum(
        1
        for tri in combinations({n for e in edges for n in e}, 3)
        if all(frozenset(p) in eset for p in combinations(tri, 2))
    )
    assert triangle_count(pairs).collect()[0].n_triangles == expected == 2


def test_key_skew_invariants(spark, sf_dir):
    """Skew stats must be internally consistent: rows = keys x mean, skew
    factor >= 10000 (max >= mean), max within the reported bound."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
        key_skew_stats,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    r = key_skew_stats(load_table(spark, sf_dir, "orders")).collect()[0]
    assert r.skew_factor_x10k >= 10_000
    assert r.max_per_key * 10_000 >= r.mean_per_key_x10k
    assert abs(r.mean_per_key_x10k * r.n_keys - r.n_rows * 10_000) < r.n_keys


def test_fuzzy_blocking_loses_no_true_pair(spark):
    """The length band |len(a)-len(b)| <= max_edit is a NECESSARY
    condition for levenshtein <= max_edit (each edit changes length by at
    most 1), so blocked candidates ⊇ true pairs. Verified against an
    unblocked all-pairs run on a planted frame with typo variants."""
    rows = [
        (1, "alpha industries", 0),
        (2, "alpha industrees", 0),    # 1 substitution from #1
        (3, "alpha industriez", 0),    # 1 sub from #1, 2 from #2
        (4, "gamma logistics", 0),
        (5, "gamma logistics co", 0),  # 3 edits from #4 — out
        (6, "alpha industries", 1),    # other block: never paired with #1
    ]
    df = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int"
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.dedup import (
        fuzzy_name_pairs,
    )

    got = {
        (r.cust_a, r.cust_b): r.edit_dist
        for r in fuzzy_name_pairs(df, max_edit=2).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 2}
    # cross-block identical names are NOT paired (blocking is semantics)
    assert (1, 6) not in got


def test_fuzzy_deletion_neighborhood_complete(spark):
    """FastSS candidate completeness (round 10): the deletion-variant
    equi-join must find EVERY within-nation pair at edit distance ≤ 2 —
    substitutions, insertions, deletions, mixed — including pairs
    straddling the 64-char routing boundary between the deletion join
    and the long-name blocked join. Verified against a brute-force
    all-pairs Levenshtein reference on a randomized typo corpus."""
    import random

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.dedup import (
        fuzzy_name_pairs,
    )

    rng = random.Random(19)
    alphabet = "abcdefgh"
    rows, key = [], 0

    def mutate(s: str, ops: int) -> str:
        for _ in range(ops):
            p = rng.randrange(max(len(s), 1))
            kind = rng.choice("sid")
            if kind == "s" and s:
                s = s[:p] + rng.choice(alphabet) + s[p + 1 :]
            elif kind == "i":
                s = s[:p] + rng.choice(alphabet) + s[p:]
            elif s:
                s = s[:p] + s[p + 1 :]
        return s

    for base_len in (1, 2, 5, 18, 63, 64, 65, 70):
        base = "".join(rng.choice(alphabet) for _ in range(base_len))
        for ops in (0, 1, 2, 3):
            rows.append((key, mutate(base, ops), base_len % 3))
            key += 1
    df = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int"
    )
    got = {
        (r.cust_a, r.cust_b): r.edit_dist
        for r in fuzzy_name_pairs(df, max_edit=2).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = {}
    for i, (ka, na, ga) in enumerate(rows):
        for kb, nb, gb in rows[i + 1 :]:
            if ga == gb:
                d = lev(na, nb)
                if d <= 2:
                    want[(min(ka, kb), max(ka, kb))] = d
    assert got == want, (set(want) - set(got), set(got) - set(want))


def test_fuzzy_length_band_is_sound():
    """Property: levenshtein(a,b) >= |len(a)-len(b)| for random strings —
    the inequality the blocking relies on."""
    from hypothesis import given
    from hypothesis import strategies as st

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    @given(
        st.text(alphabet="abc", max_size=8), st.text(alphabet="abc", max_size=8)
    )
    def check(a, b):
        assert lev(a, b) >= abs(len(a) - len(b))

    check()


def test_kmv_merge_equals_rebuild(spark):
    """Mergeability: the global KMV estimate from unioned per-language
    sketches must equal the estimate a direct global sketch would give
    whenever every language sketch is unsaturated OR the merged k smallest
    hashes coincide — on the fixture both paths see the same k minima, so
    the estimates are identical."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        kmv_distinct_tokens,
        kmv_mergeable,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merged = {
        r.scope: (r.n_est, r.n_exact) for r in kmv_mergeable(docs, k=256).collect()
    }
    direct = kmv_distinct_tokens(docs, k=256).collect()[0]
    est, exact = merged["__merged__"]
    assert exact == direct.n_exact
    assert est == direct.n_est


def test_semdedup_pairs_subset_of_cluster_pairs(spark):
    """Every SemDeDup pair lies in one k-means cluster and its similarity
    clears the threshold — and the pair count is bounded by Σ|c|²."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        kmeans_embeddings,
        semdedup_pairs,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pairs = semdedup_pairs(emb, threshold=0.3).collect()
    sizes = {
        r.cluster_id: r.n_vectors for r in kmeans_embeddings(emb).collect()
    }
    bound = sum(n * (n - 1) // 2 for n in sizes.values())
    assert len(pairs) <= bound
    assert all(r.qsim >= 0.3 for r in pairs)


def test_zorder_prunes_more_files_than_linear(spark):
    """The point of Z-ordering: on a two-column box predicate, the
    Z-order layout's per-file min/max stats must prune at least as many
    files as the linear layout's (which can only prune on its leading
    column), and the row universe is identical in both carves."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        zorder_layout,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    rows = zorder_layout(
        load_table(spark, "/root/testdata/sf0.001", "orders")
    ).collect()
    pruned = {"linear": 0, "zorder": 0}
    n_rows = {"linear": 0, "zorder": 0}
    for r in rows:
        n_rows[r.layout] += r.n_rows
        if r.can_prune:
            pruned[r.layout] += 1
    assert n_rows["linear"] == n_rows["zorder"]
    assert pruned["zorder"] >= pruned["linear"]
    assert pruned["zorder"] > 0  # the audit must demonstrate actual skipping


def test_change_feed_tombstone_and_resurrection(spark):
    """apply_change_feed: a delete removes the key; an upsert with a LATER
    version than the delete resurrects it; base state survives untouched
    keys; a delete older than the base state loses."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.merge import (
        apply_change_feed,
    )

    target = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 10, "c"), (4, 10, "d")],
        "k int, v int, payload string",
    )
    changes = spark.createDataFrame(
        [
            (1, 20, "x", "delete"),     # tombstone wins -> key 1 gone
            (2, 20, "y", "delete"),     # deleted ...
            (2, 30, "z", "upsert"),     # ... then resurrected later
            (4, 5, "w", "delete"),      # older than base -> base survives
        ],
        "k int, v int, payload string, op string",
    )
    out = {
        r.k: (r.v, r.payload, r.op)
        for r in apply_change_feed(target, changes, ["k"], "v").collect()
    }
    assert 1 not in out
    assert out[2] == (30, "z", "upsert")
    assert out[3] == (10, "c", "base")
    assert out[4] == (10, "d", "base")


def test_change_feed_matches_reference_model(spark):
    """Hypothesis: apply_change_feed over arbitrary feeds equals a pure
    Python last-writer-wins-with-tombstones reference model."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.merge import (
        apply_change_feed,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        base=st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 20)),
            max_size=6,
            unique_by=lambda t: t[0],
        ),
        feed=st.lists(
            st.tuples(
                st.integers(0, 5),
                st.integers(0, 20),
                st.sampled_from(["upsert", "delete"]),
            ),
            max_size=10,
        ),
    )
    def check(base, feed):
        # reference model: rank all rows per key by (version, op-rank,
        # seq); winner survives unless it is a delete. Tiebreaker column
        # makes the order total so Spark and the model agree exactly.
        ranked: dict[int, tuple] = {}
        for seq, (k, v) in enumerate(base):
            ranked.setdefault(k, [])
            ranked[k].append((v, 0, seq, "base"))
        for seq, (k, v, op) in enumerate(feed, start=100):
            ranked.setdefault(k, [])
            ranked[k].append((v, 2 if op == "delete" else 1, seq, op))
        expect = {}
        for k, rows in ranked.items():
            v, _, seq, op = max(rows)
            if op != "delete":
                expect[k] = (v, seq)
        target = spark.createDataFrame(
            [(k, v, s) for s, (k, v) in enumerate(base)] or [(99, 0, 0)],
            "k int, v int, seq int",
        )
        if not base:
            target = target.filter("k < 0")
        changes = spark.createDataFrame(
            [(k, v, s, op) for s, (k, v, op) in enumerate(feed, start=100)]
            or [(99, 0, 0, "upsert")],
            "k int, v int, seq int, op string",
        )
        if not feed:
            changes = changes.filter("k < 0")
        out = apply_change_feed(
            target, changes, ["k"], "v", tiebreakers=["seq"]
        )
        got = {r.k: (r.v, r.seq) for r in out.collect()}
        assert got == expect

    check()


def test_hist_quantile_bound_property(spark):
    """Every percentile estimate must bracket its exact value within one
    bucket width — on the real fixture at both test scales."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        histogram_quantiles,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = histogram_quantiles(load_table(spark, sf, "orders")).collect()
        assert {r.pct for r in rows} == {50, 90, 95, 99}
        assert all(r.within_bound for r in rows)


def test_degenerate_docs_edge_battery(spark):
    """Null / empty / whitespace-only / unicode / shorter-than-shingle
    docs must flow through the text+dedup surface without errors, with
    pinned semantics: degenerate docs tokenize to the empty shingle set
    {''} and therefore pair as identical content (jaccard 1.0) — the
    stop-shingle df cut bounds that clique at scale — while exact dedup
    keeps them distinct (different raw text) and per-doc ops emit a row
    for every input."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        dedup as dd,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    docs = spark.createDataFrame(
        [
            (1, None, "en", "a"),
            (2, "", "en", "a"),
            (3, "   ", "en", "a"),
            (4, "héllo wörld héllo", "de", "b"),
            (5, "one two", "en", "b"),
            (6, "x", "en", "b"),
        ],
        "doc_id long, text string, lang string, source string",
    ).withColumn("n_chars", F.length("text").cast("long"))

    assert tx.normalize_text(docs).count() == 6
    assert tx.lang_id(docs).count() == 6
    assert tx.quality_score(docs).count() == 6
    # exact dedup: all six texts differ (null/''/'   ' are distinct raw
    # content), so nothing collapses
    assert dd.exact_dedup(docs).count() == 6
    # near-dup: exactly the degenerate trio pairs up, at jaccard 1.0
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dd.ngram_jaccard_pairs(docs).collect()}
    assert set(pairs) == {(1, 2), (1, 3), (2, 3)}
    assert all(j == 1.0 for j in pairs.values())
    # real short docs below the shingle width do NOT pair with empties
    assert all(6 not in p and 5 not in p and 4 not in p for p in pairs)
    # the stop-shingle cut drops the degenerate clique once it exceeds
    # max_shingle_df — the 100 TB safety valve for empty-doc floods
    assert dd.ngram_jaccard_pairs(docs, max_shingle_df=2).count() == 0


def test_posting_pairs_volume_bounded_by_df_cap(spark):
    """_posting_pairs budget contract (VERDICT r8): on a key-df spectrum
    engineered to straddle the cap, pair volume is EXACTLY
    Σ C(df,2) over keys with 2 ≤ df ≤ max_df — so ≤ (#keys ≤ cap)·C(cap,2)
    — and keys past the cap emit nothing. Three seeded draws fuzz the df
    mix; the Python reference is recomputed per draw."""
    import random
    from math import comb

    cap = 6
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        rows, nxt = [], 0
        dfs = {}
        for key in range(30):
            df_k = rng.randint(1, 2 * cap)  # straddles the cap
            dfs[key] = df_k
            for _ in range(df_k):
                rows.append((nxt, key))
                nxt += 1
        inv = spark.createDataFrame(rows, "doc_id long, key long")
        got = dd._posting_pairs(inv, "key", cap, carry=[]).count()
        want = sum(comb(d, 2) for d in dfs.values() if 2 <= d <= cap)
        assert got == want, (seed, got, want)
        n_live = sum(1 for d in dfs.values() if 2 <= d <= cap)
        assert got <= n_live * comb(cap, 2)
        # both-directions mode doubles exactly
        both = dd._posting_pairs(inv, "key", cap, carry=[], ordered=True)
        assert both.count() == 2 * want


def test_item_cooccurrence_basket_cap_bound(spark):
    """item_cooccurrence budget contract (VERDICT r9 item #4), mirroring
    the _posting_pairs bound test: on baskets engineered to straddle
    ``max_basket``, total pair volume (Σ n_common with min_common=1) is
    EXACTLY Σ C(b, 2) over kept customers with b ≤ max_basket — the
    suite's largest 100× shuffle is bounded by (#kept)·C(cap, 2) — and
    over-cap baskets are dropped WHOLE: they contribute neither pairs
    nor cosine margins. Three seeded draws fuzz the basket mix; the
    Python reference (pairs AND margins) is recomputed per draw."""
    import random
    from collections import defaultdict
    from math import comb, sqrt

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
        item_cooccurrence,
    )

    cap = 5
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        orders_rows, li_rows = [], []
        kept_baskets = {}
        okey = 0
        for cust in range(20):
            b = rng.randint(1, 2 * cap)  # straddles the cap
            parts = rng.sample(range(30), b)
            # split the basket across 1-2 orders + duplicate some lines
            # to exercise the DISTINCT (customer-part matrix is binary)
            for chunk in (parts[: b // 2], parts[b // 2 :]):
                if not chunk:
                    continue
                orders_rows.append((okey, cust))
                for p in chunk:
                    li_rows.append((okey, p))
                    if rng.random() < 0.3:
                        li_rows.append((okey, p))  # dup line, same part
                okey += 1
            if b <= cap:
                kept_baskets[cust] = sorted(parts)
        orders = spark.createDataFrame(
            orders_rows, "o_orderkey long, o_custkey long"
        )
        lineitem = spark.createDataFrame(
            li_rows, "l_orderkey long, l_partkey long"
        )
        got = {
            (r.part_a, r.part_b): (r.n_common, r.cosine)
            for r in item_cooccurrence(
                orders, lineitem, k=10_000, min_common=1, max_basket=cap
            ).collect()
        }
        # Python reference over KEPT baskets only
        n_ab: dict = defaultdict(int)
        n_i: dict = defaultdict(int)
        for parts in kept_baskets.values():
            for p in parts:
                n_i[p] += 1
            for i, a in enumerate(parts):
                for b2 in parts[i + 1 :]:
                    n_ab[(min(a, b2), max(a, b2))] += 1
        want = {
            p: (n, round(n / sqrt(n_i[p[0]] * n_i[p[1]]), 4))
            for p, n in n_ab.items()
        }
        assert got == want, (seed, len(got), len(want))
        # the volume bound itself: Σ n_common == Σ C(b,2) over kept,
        # hence ≤ #kept · C(cap, 2)
        vol = sum(n for n, _ in got.values())
        assert vol == sum(comb(len(p), 2) for p in kept_baskets.values())
        assert vol <= len(kept_baskets) * comb(cap, 2)


def test_nearest_join_keeps_duplicate_left_rows(spark):
    """Two left rows identical on EVERY column must each keep their own
    nearest match (ADVICE r3: a window partitioned on left.columns
    collapsed the duplicates into one group and dropped a row)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        temporal as tp,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10"), (1, "2024-01-01 00:00:10")],
        "k long, lts string",
    ).select("k", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:12"), (1, "2024-01-01 00:01:40")],
        "k long, rts string",
    ).select("k", F.col("rts").cast("timestamp").alias("rts"))
    out = tp.nearest_join(left, right, "k", "lts", "rts", 60_000).collect()
    assert len(out) == 2  # one match PER left row, duplicates included
    assert all(r.abs_diff_ms == 2_000 for r in out)


def test_dq_checks_null_keys_and_empty_input(spark):
    """DQ battery degenerate semantics (ADVICE r3): NULL foreign keys are
    the not_null check's finding, never RI violations; an empty input
    yields 0-violation passes, not NULLs."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        dq_checks,
    )

    customer = spark.createDataFrame([(1,), (2,)], "c_custkey long")
    dirty = spark.createDataFrame(
        [
            (10, 1, "O", 5.0),
            (11, None, "O", 5.0),  # NULL key: not_null violation only
            (12, 99, "F", 5.0),  # dangling key: the one RI violation
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double",
    )
    res = {r.check_name: r for r in dq_checks(dirty, customer).collect()}
    ref = res["orders.o_custkey references customer.c_custkey"]
    assert ref.n_violations == 1 and not ref.passed
    nn = res["orders.o_custkey not_null"]
    assert nn.n_violations == 1 and not nn.passed

    empty = dirty.limit(0)
    for r in dq_checks(empty, customer).collect():
        assert r.n_violations == 0, r.check_name
        assert r.passed is True, r.check_name


def test_semdedup_pairs_dimension_agnostic(spark):
    """semdedup derives the embedding width from the data (ADVICE r3:
    a hardcoded dim=64 NULLed every other width)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        semdedup_pairs,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [-1.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = semdedup_pairs(emb, k=1, iters=1, threshold=0.5).collect()
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(0, 1)}
    assert all(r.qsim is not None for r in pairs)


def test_compaction_plan_overshoot_bound(spark):
    """Next-fit guarantee: a planned group exceeds the target by at most
    its largest member (the same bound Iceberg's binPack planner gives),
    and no file is lost or double-planned."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        compaction_plan,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    target = 4096  # small target so the fixture yields many groups
    plan = compaction_plan(events, target_bytes=target).collect()
    assert plan
    for r in plan:
        assert r.total_bytes <= target + r.largest_file
    # conservation: groups partition the file inventory exactly
    n_files = (
        events.selectExpr("event_type", "cast(ts as date) as day")
        .distinct()
        .count()
    )
    assert sum(r.n_files for r in plan) == n_files


def test_bm25_score_properties(spark):
    """BM25 sanity on a hand-built corpus: a doc containing a query term
    outranks one without it; repeating the term raises the score but
    saturates (k1 bound: doubling tf less than doubles the score)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.text import (
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark spark runs fast"),
            (2, "spark runs fast today ok fine"),
            (3, "ducks swim on the lake today ok"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.bm25_e6 for r in bm25_topk(docs, ("spark",), k=10).collect()}
    assert set(got) == {1, 2}  # doc 3 never scores
    assert got[1] > got[2] > 0
    assert got[1] < 4 * got[2]  # saturation: 4x tf is far from 4x score


def test_power_iteration_finds_dominant_direction(spark):
    """On a cloud stretched along dims (0, 1), power iteration must
    converge to that plane: the top-component weight concentrates on the
    first two dims and the estimate is +-scale-normalized."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        power_iteration_component,
    )

    rows = []
    for i in range(40):
        sign = 1.0 if i % 2 == 0 else -1.0
        vec = [sign, sign * 0.9] + [0.01 * ((i + d) % 3 - 1) for d in range(6)]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.dim: (r.s, r.v) for r in power_iteration_component(emb, iters=3).collect()}
    assert len(out) == 8
    assert max(abs(v) for _, v in out.values()) == 127  # normalized
    lead = min(abs(out[0][1]), abs(out[1][1]))
    rest = max(abs(out[d][1]) for d in range(2, 8))
    assert lead > 10 * rest  # weight concentrates on the planted plane


def test_bm25_degenerate_inputs(spark):
    """BM25 never errors on the inputs a corpus probe will hit: terms
    absent from the corpus (df=0 path), and an empty corpus."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.text import (
        bm25_topk,
    )

    docs = spark.createDataFrame(
        [(1, "only these words here")], "doc_id long, text string"
    )
    assert bm25_topk(docs, ("absent", "missing"), k=5).count() == 0
    assert bm25_topk(docs.limit(0), ("spark",), k=5).count() == 0


def test_compaction_plan_empty_input(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        compaction_plan,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(0)
    assert compaction_plan(events).count() == 0


def test_hard_negatives_band_is_exclusive(spark):
    """Every mined pair sits strictly inside the band; pairs at or above
    the ceiling (near-dups = false negatives) are excluded."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        hard_negative_pairs,
        semdedup_pairs,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    band = hard_negative_pairs(emb, lo=0.1, hi=0.6).collect()
    assert band
    assert all(0.1 <= r.qsim < 0.6 for r in band)
    dups = {
        (r.vec_a, r.vec_b) for r in semdedup_pairs(emb, threshold=0.6).collect()
    }
    assert not ({(r.vec_a, r.vec_b) for r in band} & dups)


def test_global_ntile_matches_sql_ntile(spark):
    """_global_ntile (the parallel carve) must be bit-identical to the SQL
    ntile window over the same unique total order — including the uneven
    N % k remainder (big buckets first) and the N < k edge."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        _global_ntile,
    )

    # 1003 rows in scrambled order: remainder 1003 % 7 = 2 exercises the
    # big-buckets-first rule; the value column is the unique sort key
    rows = [(int(v),) for v in range(1003)]
    df = spark.createDataFrame(rows, "v bigint").repartition(13)
    for k in (7, 64, 2000):  # 2000 > N: ntile degenerates to rank
        got = {
            r.v: r.file_id
            for r in _global_ntile(df, [F.col("v").asc()], k).collect()
        }
        want = {
            r.v: r.nt
            for r in df.withColumn(
                "nt", F.ntile(k).over(W.orderBy(F.col("v").asc()))
            ).collect()
        }
        assert got == want, f"k={k}: mismatch"


def test_global_row_number_matches_single_window(spark):
    """ranks.global_row_number is bit-identical to the single-partition
    Window row_number over the same total order, at any partitioning."""
    from pyspark.sql import Window

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.ranks import (
        global_row_number,
    )

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    cols = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    ranked, n = global_row_number(orders.repartition(13), cols)
    assert n == orders.count()
    want = {
        r.o_orderkey: r.rn
        for r in orders.select(
            "o_orderkey", F.row_number().over(Window.orderBy(*cols)).alias("rn")
        ).collect()
    }
    got = {r.o_orderkey: r["__rank"] for r in ranked.collect()}
    assert got == want


def test_global_row_number_empty_input(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.ranks import (
        global_row_number,
    )

    empty = load_table(spark, SF, "orders").filter(F.lit(False)).select("o_orderkey")
    ranked, n = global_row_number(empty, [F.col("o_orderkey").asc()])
    assert n == 0
    assert ranked.count() == 0
    assert "__rank" in ranked.columns


def test_cells_for_heuristic(spark):
    """k ∝ √N with floor 1 and cap 64; the DuckDB twin expression computes
    the identical k over an embeddings view of the same size."""
    import duckdb

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        cells_for,
        duck_cells_expr,
    )

    assert cells_for(0) == 1
    assert cells_for(1) == 1
    assert cells_for(500) == 22
    assert cells_for(2000) == 44
    assert cells_for(20000) == 141  # √N keeps tracking: no frozen cap
    assert cells_for(10**6) == 1000
    assert cells_for(10**6, cap=64) == 64  # explicit cap still binds
    assert cells_for(10**6, cap=2048) == 1000
    for n in (0, 1, 7, 500, 2000, 4095, 4096, 20000):
        for cap in (None, 64):
            got = duckdb.sql(
                "WITH embeddings AS (SELECT * FROM range(" + str(n) + ")) "
                "SELECT " + duck_cells_expr(cap)
            ).fetchone()[0]
            assert int(got) == cells_for(n, cap), (n, cap)


def test_assign_pass_arrow_matches_expression(spark):
    """The Arrow/numpy argmin (k > 16 dispatch) must be BIT-IDENTICAL to
    the JVM expression argmin on the same centroids — same distances
    (float64 matmul over int8 codes is exact: all intermediates are
    integers ≪ 2^53) and same smaller-cid tie-breaks. Run both paths
    explicitly at a k above and below the dispatch threshold, plus a
    tie fixture."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        _assign_pass_arrow,
        _assign_pass_expr,
        _quantized,
        kmeans_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    q = _quantized(emb)
    for k in (8, 20):
        cur = kmeans_centroids(emb, k=k, iters=2)
        exp = {
            r.vec_id: (r.cluster_id, r.dist)
            for r in _assign_pass_expr(q, cur).collect()
        }
        arw = {
            r.vec_id: (r.cluster_id, r.dist)
            for r in _assign_pass_arrow(q, cur).collect()
        }
        assert exp == arw, k
    # tie fixture: two identical centroids under different cids — every
    # row must pick the smaller cid on both paths
    dup = [(7, cur[0][1]), (3, cur[0][1])]
    for df in (_assign_pass_expr(q, dup), _assign_pass_arrow(q, dup)):
        assert {r.cluster_id for r in df.collect()} == {3}


def test_assign_pass_arrow_fuzz_random_centroids(spark):
    """Seeded fuzz of the arrow/expression bit-identity on ADVERSARIAL
    centroids: random int8-range codes (negative values included),
    unsorted non-contiguous cids, and deliberately duplicated centroids
    to force distance ties — the cases trained centroids never hit."""
    import random

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        _assign_pass_arrow,
        _assign_pass_expr,
        _quantized,
    )

    q = _quantized(load_table(spark, SF, "embeddings"))
    dim = 64
    for seed in (5, 6):
        rng = random.Random(seed)
        cur = [
            (rng.randrange(0, 10**6), [rng.randint(-127, 127) for _ in range(dim)])
            for _ in range(rng.randint(17, 40))
        ]
        cur.append((cur[0][0] + 1, cur[0][1]))  # exact-tie duplicate
        exp = {
            r.vec_id: (r.cluster_id, r.dist)
            for r in _assign_pass_expr(q, cur).collect()
        }
        arw = {
            r.vec_id: (r.cluster_id, r.dist)
            for r in _assign_pass_arrow(q, cur).collect()
        }
        assert exp == arw, seed


def test_kmeans_pretrained_centroids_match(spark):
    """kmeans_assign(centroids=trained) is bit-identical to the
    train-inside path — the memoized-share contract."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        kmeans_assign,
        kmeans_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    cents = kmeans_centroids(emb, k=4, iters=2)
    assert len(cents) == 4 and all(len(c) == 64 for _, c in cents)
    a = sorted(map(tuple, kmeans_assign(emb, k=4, iters=2).drop("q").collect()))
    b = sorted(
        map(tuple, kmeans_assign(emb, centroids=cents).drop("q").collect())
    )
    assert a == b


def test_token_budget_shards_contiguous_and_exhaustive(spark):
    """Shards are contiguous doc-id ranges, cover every doc exactly once,
    and every shard STARTS within its capacity block (a doc may straddle
    the boundary; the next doc opens the next shard)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    cap = 2000
    tc = tx.token_count(load_table(spark, SF, "documents")).select(
        "doc_id", "n_tokens"
    )
    out = sorted(
        smp.token_budget_shards(tc, capacity=cap).collect(),
        key=lambda r: r.shard,
    )
    assert [r.shard for r in out] == list(range(len(out)))
    assert sum(r.n_docs for r in out) == tc.count()
    total = tc.agg(F.sum("n_tokens")).head()[0]
    assert sum(r.total_tokens for r in out) == total
    # contiguity: ranges do not interleave
    for a, b in zip(out, out[1:]):
        assert a.max_doc < b.min_doc
    # each shard's start offset lies in its capacity block
    start = 0
    for r in out:
        assert start // cap == r.shard
        start += r.total_tokens
    with pytest.raises(ValueError):
        smp.token_budget_shards(tc, capacity=0)


def test_with_offsets_broadcast_path_matches_literal(spark):
    """with_offsets' two attachment strategies (literal map vs broadcast
    join) are value-identical; global_row_number stays exact when forced
    through the broadcast path."""
    from pyspark.sql import Window

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        ranks,
    )

    orders = load_table(spark, SF, "orders").select("o_orderkey")
    cols = [F.col("o_orderkey").asc()]
    want = {
        r.o_orderkey: r.rn
        for r in orders.select(
            "o_orderkey", F.row_number().over(Window.orderBy(*cols)).alias("rn")
        ).collect()
    }
    prev = ranks.LITERAL_OFFSETS_MAX
    try:
        ranks.LITERAL_OFFSETS_MAX = 0  # force the broadcast-join path
        ranked, n = ranks.global_row_number(orders, cols)
        got = {r.o_orderkey: r["__rank"] for r in ranked.collect()}
    finally:
        ranks.LITERAL_OFFSETS_MAX = prev
    assert n == len(want) and got == want


def test_persistent_staging_replay_is_identical(spark):
    """The sink-backed entry queries reuse persistent staging tables via
    the epoch ledger: a second invocation must skip the commits
    (replay-idempotence) and return bit-identical results."""
    import importlib.util

    import os

    from .conftest import ROOT

    spec = importlib.util.spec_from_file_location(
        "entry_replay_test", os.path.join(ROOT, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    for name in ("q_time_travel", "q_snapshot_diff", "q_wap_publish"):
        a = sorted(map(tuple, m.queries()[name](spark, SF).collect()))
        b = sorted(map(tuple, m.queries()[name](spark, SF).collect()))
        assert a == b and a, name


def test_kcenter_injected_centers_match_greedy(spark):
    """kcenter_coreset(centers=kcenter_select(...)) is bit-identical to
    the train-inside path — the memoized-share contract, like k-means."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        kcenter_coreset,
        kcenter_select,
    )

    emb = load_table(spark, SF, "embeddings")
    chosen = kcenter_select(emb, m=4)
    assert len(chosen) == 4 and all(len(q) == 64 for _, q in chosen)
    a = sorted(map(tuple, kcenter_coreset(emb, m=4).collect()))
    b = sorted(map(tuple, kcenter_coreset(emb, m=4, centers=chosen).collect()))
    assert a == b


def test_minhash_lsh_injected_sigs_match(spark):
    """minhash_lsh_pairs(sigs=precomputed) is bit-identical to the
    compute-inside path — the shared-signature contract."""
    import streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.dedup as dd

    docs = load_table(spark, SF, "documents")
    sigs = dd.minhash_signatures(docs).localCheckpoint(eager=True)
    a = sorted(map(tuple, dd.minhash_lsh_pairs(docs).collect()))
    b = sorted(map(tuple, dd.minhash_lsh_pairs(docs, sigs=sigs).collect()))
    assert a == b


def test_global_row_number_explicit_num_parts_identical(spark):
    """Ranks are invariant to the range-partition count — the adaptive
    input-splits default, an explicit tiny count, and an explicit large
    count all produce the identical exact rank."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.ranks import (
        global_row_number,
    )

    orders = load_table(spark, SF, "orders").select("o_orderkey")
    cols = [F.col("o_orderkey").asc()]
    base, n0 = global_row_number(orders, cols)
    want = {r.o_orderkey: r["__rank"] for r in base.collect()}
    for parts in (2, 7, 32):
        ranked, n = global_row_number(orders, cols, num_parts=parts)
        got = {r.o_orderkey: r["__rank"] for r in ranked.collect()}
        assert n == n0 and got == want, f"num_parts={parts}"


def test_scoped_shuffle_partitions_restores_and_clamps(spark):
    """The scope sets a clamped value inside the block and restores the
    session value afterwards — including on exceptions."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.ranks import (
        scoped_shuffle_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with scoped_shuffle_partitions(spark, 2):
        assert spark.conf.get(key) == "2"
    assert spark.conf.get(key) == before
    # clamped to the session value when the target exceeds it
    with scoped_shuffle_partitions(spark, 10**6):
        assert spark.conf.get(key) == before
    # floor of 2
    with scoped_shuffle_partitions(spark, 0):
        assert spark.conf.get(key) == "2"
    assert spark.conf.get(key) == before
    with pytest.raises(RuntimeError):
        with scoped_shuffle_partitions(spark, 2):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_scoped_shuffle_partitions_serializes_threads(spark):
    """Two concurrent scopes on one session must never observe each
    other's (or a torn) conf value inside their block, and the session
    value must survive the storm — the _SHUFFLE_SCOPE_LOCK contract."""
    import threading
    import time as _t

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.ranks import (
        scoped_shuffle_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    errs: list = []

    def work(n: int) -> None:
        try:
            for _ in range(3):
                with scoped_shuffle_partitions(spark, n):
                    want = str(max(2, min(int(before), n)))
                    got = spark.conf.get(key)
                    assert got == want, (got, want)
                    _t.sleep(0.01)
        except Exception as ex:  # pragma: no cover - failure detail
            errs.append(ex)

    threads = [
        threading.Thread(target=work, args=(n,)) for n in (2, 3, 4, 5)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert spark.conf.get(key) == before


def test_k_anonymity_accounting(spark):
    """Per-type counters are self-consistent: rows_at_risk counts exactly
    the rows of sub-k groups, k=1 risks nothing, and a huge k risks
    everything."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        k_anonymity_audit,
    )

    events = load_table(spark, SF, "events")
    out = {r.event_type: r for r in k_anonymity_audit(events, k=5).collect()}
    assert sum(r.n_rows for r in out.values()) == events.count()
    for r in out.values():
        assert 0 <= r.rows_at_risk <= r.n_rows
        assert r.n_small_groups <= r.n_groups
        assert abs(r.suppression_rate - round(r.rows_at_risk / r.n_rows, 6)) < 1e-9
    none = k_anonymity_audit(events, k=1).collect()
    assert all(r.rows_at_risk == 0 for r in none)
    allr = k_anonymity_audit(events, k=10**9).collect()
    assert all(r.rows_at_risk == r.n_rows for r in allr)


def test_kcore_peel_properties(spark):
    """Surviving nodes' degrees never exceed their original degree, every
    survivor had pre-peel degree >= k, a huge k empties the graph, and
    k=1 with enough rounds keeps exactly the nodes of non-trivial
    components' edges."""
    docs = load_table(spark, SF, "documents")
    pairs = dd.ngram_jaccard_pairs(docs).persist()
    orig_deg = {}
    for r in pairs.collect():
        orig_deg[r.doc_a] = orig_deg.get(r.doc_a, 0) + 1
        orig_deg[r.doc_b] = orig_deg.get(r.doc_b, 0) + 1
    out = {r.doc_id: r.degree for r in dd.kcore_peel(pairs, k=2, rounds=3).collect()}
    for node, deg in out.items():
        assert deg <= orig_deg[node]
        assert orig_deg[node] >= 2  # a degree-1 node can never survive k=2
    assert dd.kcore_peel(pairs, k=10**6, rounds=1).count() == 0
    k1 = {r.doc_id for r in dd.kcore_peel(pairs, k=1, rounds=2).collect()}
    assert k1 == set(orig_deg)  # k=1 peels nothing
    pairs.unpersist()


def test_bpe_fertility_consistency(spark):
    """Per-lang rollup reconciles with the per-doc encode; fertility >= 1
    only when merges shrink nothing (symbols per word start at word
    length), and every corpus language appears."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    docs = load_table(spark, SF, "documents")
    per_doc = tx.bpe_encode_counts(docs, rounds=3)
    rolled = {r.lang: r for r in tx.bpe_fertility(docs, rounds=3).collect()}
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    assert set(rolled) == langs
    tot = per_doc.agg(
        F.sum("n_words").alias("w"), F.sum("n_bpe_symbols").alias("s")
    ).head()
    assert sum(r.n_words for r in rolled.values()) == tot.w
    assert sum(r.n_bpe_symbols for r in rolled.values()) == tot.s
    for r in rolled.values():
        assert r.fertility >= 1.0  # a word is always >= 1 symbol


def test_lsh_recall_audit_bounds(spark):
    """Recall is within [0,1], monotone threshold rows are consistent
    (n_true non-increasing in threshold), and n_found <= n_true."""
    docs = load_table(spark, SF, "documents")
    rows = sorted(dd.lsh_recall_audit(docs).collect(), key=lambda r: r.threshold)
    assert rows, "expected at least one threshold row"
    prev_true = None
    for r in rows:
        assert 0 <= r.n_found <= r.n_true
        assert 0.0 <= r.recall <= 1.0
        if prev_true is not None:
            assert r.n_true <= prev_true
        prev_true = r.n_true


def test_split_leakage_consistency(spark):
    """Denominators equal the hash_split populations (short docs
    included); leaked counts bounded; rates reconcile."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.curation import (
        split_leakage,
    )

    docs = load_table(spark, SF, "documents")
    out = {r.split: r for r in split_leakage(docs).collect()}
    assert set(out) <= {"val", "test"}
    pops = {
        r.split: r.c
        for r in smp.hash_split(docs.select("doc_id"), "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    for split, r in out.items():
        assert r.n_docs == pops[split]
        assert 0 <= r.n_leaked <= r.n_docs
        assert abs(r.leak_rate - round(r.n_leaked / r.n_docs, 6)) < 1e-9


def test_cluster_balance_bounds(spark):
    """0 <= gini < 1, 1 <= eff_clusters <= n_clusters, and a degenerate
    single-cluster assignment scores zero diversity."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        cluster_balance,
        kmeans_assign,
    )

    emb = load_table(spark, SF, "embeddings")
    r = cluster_balance(kmeans_assign(emb, k=8, iters=2)).head()
    assert 0.0 <= r.gini < 1.0
    assert 1.0 <= r.eff_clusters <= r.n_clusters
    assert r.n_vectors == emb.count()
    one = spark.createDataFrame([(i, 0) for i in range(7)], "vec_id int, cluster_id int")
    d = cluster_balance(one).head()
    assert d.gini == 0.0 and d.eff_clusters == 1.0 and d.n_clusters == 1


def test_ngram_novelty_accounting(spark):
    """Every corpus doc appears; the lowest doc_id owning any gram has
    novelty 1.0; per-gram novelty sums reconcile with the distinct gram
    count (each gram is novel for exactly one doc)."""
    docs = load_table(spark, SF, "documents")
    out = {r.doc_id: r for r in dd.ngram_novelty(docs).collect()}
    assert set(out) == {r.doc_id for r in docs.select("doc_id").collect()}
    with_grams = {d: r for d, r in out.items() if r.n_grams > 0}
    first_doc = min(with_grams)
    assert with_grams[first_doc].novelty == 1.0
    n_distinct_grams = (
        dd._hashed_shingles(docs, 3)
        .selectExpr("explode(array_distinct(shingles)) as g")
        .select("g")
        .distinct()
        .count()
    )
    assert sum(r.n_novel for r in out.values()) == n_distinct_grams
    for r in out.values():
        assert 0 <= r.n_novel <= r.n_grams


def test_retention_cohorts_self_checks(spark):
    """Offset-0 rows equal cohort sizes (retention 1.0); rates bounded;
    cohort sizes sum to the distinct user count."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        retention_cohorts,
    )

    events = load_table(spark, SF, "events")
    rows = retention_cohorts(events).collect()
    assert rows
    zero = [r for r in rows if r.day_offset == 0]
    for r in zero:
        assert r.n_active == r.n_users and r.retention == 1.0
    for r in rows:
        assert 0 < r.n_active <= r.n_users
        assert 0.0 < r.retention <= 1.0
        assert 0 <= r.day_offset <= 7
    n_users = events.select("user_id").distinct().count()
    assert sum(r.n_users for r in zero) == n_users


def test_join_cardinality_matches_actual_join(spark):
    """The precomputed size equals the actually-executed inner join's row
    count, and the skew witness bounds every key's contribution."""
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    r = rel.join_cardinality(orders, customer, "o_custkey", "c_custkey").head()
    actual = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).count()
    assert r.join_rows == actual
    assert r.n_matching_keys <= min(r.n_left_keys, r.n_right_keys)
    assert r.max_key_rows <= r.join_rows
    # disjoint keys -> zero everywhere
    z = rel.join_cardinality(
        orders.withColumn("o_custkey", F.col("o_custkey") + 10**9),
        customer,
        "o_custkey",
        "c_custkey",
    ).head()
    assert z.join_rows == 0 and z.n_matching_keys == 0 and z.max_key_rows == 0


def test_xcorr_lag_zero_lag_symmetry(spark):
    """At lag 0 Pearson r is symmetric in the pair, m is the common-day
    count, and every r lies in [-1, 1] after rounding."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    ev = load_table(spark, SF, "events")
    r = tse.xcorr_lag(ev, max_lag=2).collect()
    by_key = {(x.type_a, x.type_b, x.lag_days): x for x in r}
    zero = [k for k in by_key if k[2] == 0]
    assert zero, "no lag-0 rows"
    for ta, tb, _ in zero:
        a, b = by_key[(ta, tb, 0)], by_key[(tb, ta, 0)]
        assert a.m == b.m
        assert a.xcorr == b.xcorr  # Pearson is pair-symmetric at lag 0
    for x in r:
        if x.xcorr is not None:
            assert -1.0 <= x.xcorr <= 1.0


def test_xcorr_lag_matches_pandas(spark):
    """One pair/lag cross-checked against an independent pandas Pearson."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    ev = load_table(spark, SF, "events")
    day = (
        ev.groupBy(
            "event_type",
            F.expr("cast(floor(unix_micros(ts) / 86400000000) as bigint)").alias(
                "day"
            ),
        )
        .count()
        .toPandas()
    )
    types = sorted(day.event_type.unique())[:2]
    a = day[day.event_type == types[0]].set_index("day")["count"]
    b = day[day.event_type == types[1]].set_index("day")["count"]
    lag = 1
    import pandas as pd

    j = pd.concat([a, b.set_axis(b.index - lag)], axis=1, join="inner")
    expected = j.corr().iloc[0, 1]
    got = (
        tse.xcorr_lag(ev, max_lag=2)
        .filter(
            (F.col("type_a") == types[0])
            & (F.col("type_b") == types[1])
            & (F.col("lag_days") == lag)
        )
        .head()
    )
    assert got.m == len(j)
    assert abs(got.xcorr - round(float(expected), 6)) <= 1e-6


def test_ab_ztest_moment_conservation(spark):
    """Each type's (n, mean) and its complement's reconstruct the global
    mean exactly; z has the sign of (mean_value − mean_rest)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    ev = load_table(spark, SF, "events")
    rows = tse.ab_ztest(ev).collect()
    n_tot = sum(r.n for r in rows)
    for r in rows:
        blended = (
            r.mean_value * r.n + r.mean_rest * (n_tot - r.n)
        ) / n_tot
        global_mean = sum(x.mean_value * x.n for x in rows) / n_tot
        assert abs(blended - global_mean) < 1e-3
        if r.z_score not in (None, 0.0):
            assert (r.z_score > 0) == (r.mean_value > r.mean_rest)


def test_mixture_waterfill_closed_form(spark):
    """Skewed synthetic corpus: poor sources saturate, the rich one gets
    the whole remaining budget, and allocations sum to the budget."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )

    docs = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 10), ("c", 3, 1000)],
        "source string, doc_id int, n_chars int",
    )
    out = {r.source: r for r in smp.mixture_waterfill(docs).collect()}
    # budget = 1020 // 2 = 510; fair share 170 > 10 -> a, b saturate;
    # c gets 510 - 20 = 490
    assert out["a"].saturated and out["b"].saturated
    assert not out["c"].saturated
    assert out["a"].alloc_chars == 10.0 and out["b"].alloc_chars == 10.0
    assert out["c"].alloc_chars == 490.0
    assert abs(out["c"].sample_rate - 0.49) < 1e-9
    total = sum(r.alloc_chars for r in out.values())
    assert abs(total - 510.0) < 1e-6


def test_mixture_waterfill_budget_exhausts_corpus(spark):
    """Budget >= total chars: every source saturates, rate 1.0, and the
    n_sources == k_sat division guard yields no nulls/infs."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )

    docs = spark.createDataFrame(
        [("a", 1, 7), ("b", 2, 9)], "source string, doc_id int, n_chars int"
    )
    rows = smp.mixture_waterfill(docs, budget_num=1, budget_den=1).collect()
    assert all(r.saturated for r in rows)
    assert all(r.sample_rate == 1.0 for r in rows)


def test_quality_calibration_order_statistic(spark):
    """n_kept is exactly the count of docs at-or-above the threshold, it
    meets the per-language keep target, and rates agree."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    docs = load_table(spark, SF, "documents")
    cal = {r.lang: r for r in tx.quality_calibration(docs).collect()}
    scored = tx.quality_score(docs).select("lang", "quality").collect()
    from collections import defaultdict

    per_lang = defaultdict(list)
    for r in scored:
        per_lang[r.lang].append(r.quality)
    for lang, r in cal.items():
        vals = per_lang[lang]
        assert r.n_docs == len(vals)
        assert r.keep_target == -(-3 * len(vals) // 4)  # ceil(3n/4)
        n_at_or_above = sum(1 for v in vals if v >= r.threshold)
        assert r.n_kept == n_at_or_above
        assert r.n_kept >= r.keep_target
        assert abs(r.keep_rate - round(r.n_kept / r.n_docs, 6)) <= 1e-9


def test_knn_eval_count_identities(spark):
    """Σn_true = Σn_pred = |eval slice|; Σtp = overall correct; F1 sits
    between min and max of precision/recall (harmonic-mean property).
    The default budget (2000) doesn't bind on the fixture slice, so the
    eval set is the full % 5 slice here."""
    emb = load_table(spark, SF, "embeddings")
    rows = sim.knn_eval(emb, probe_mod=5, k=5).collect()
    n_probes = emb.filter(F.col("vec_id") % 5 == 0).count()
    assert sum(r.n_true for r in rows) == n_probes
    assert sum(r.n_pred for r in rows) == n_probes
    for r in rows:
        assert r.tp <= min(r.n_true, r.n_pred)
        if r.prec is not None and r.rec is not None and r.tp > 0:
            assert min(r.prec, r.rec) - 1e-6 <= r.f1 <= max(r.prec, r.rec) + 1e-6


def test_knn_probe_ids_fixed_budget_hash_rule(spark):
    """The probe set is the budget hash-smallest ids of the % probe_mod
    slice — matching a Python reference of the same overflow-safe hash —
    and is capped at budget even when the slice is far larger (the
    corpus-proportional collect VERDICT r8 flagged is gone). A binding
    budget must also keep knn_eval's Σn_true identity at exactly budget."""
    emb = load_table(spark, SF, "embeddings")
    slice_ids = [
        r.vec_id for r in emb.filter(F.col("vec_id") % 5 == 0).collect()
    ]
    assert len(slice_ids) > 16
    want = sorted(slice_ids, key=lambda i: ((i % 999999937) * 1000003 % 999999937, i))[:16]
    got = sim.knn_probe_ids(emb, probe_mod=5, budget=16)
    assert got == want
    rows = sim.knn_eval(emb, probe_mod=5, k=5, budget=16).collect()
    assert sum(r.n_true for r in rows) == 16


def test_rank_fusion_properties(spark):
    """An id ranked #1 in both lists tops the fusion; ids in only one
    list still appear; fused ranks are 1..topn without gaps."""
    a = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "id bigint, rank int"
    )
    b = spark.createDataFrame(
        [(10, 1), (13, 2), (11, 3)], "id bigint, rank int"
    )
    out = sim.rank_fusion(a, b, k_rrf=60, topn=10).collect()
    by_rank = sorted(out, key=lambda r: r.fused_rank)
    assert [r.fused_rank for r in by_rank] == list(range(1, len(out) + 1))
    assert by_rank[0].id == 10  # double #1 wins
    ids = {r.id for r in out}
    assert {10, 11, 12, 13} == ids
    solo = next(r for r in out if r.id == 13)
    assert solo.rank_a is None and solo.rank_b == 2


@pytest.mark.parametrize(
    "opname",
    [
        "xcorr_lag",
        "ab_ztest",
        "mixture_waterfill",
        "quality_calibration",
        "knn_eval",
        "pack_bins_docs",
        "trend_robust",
        "changepoint",
        "filter_funnel",
        "matryoshka_recall",
        "zipf_fit",
        "lang_entropy",
        "attribution",
        "hll_distinct",
        "seasonal_decompose",
        "ks_test",
        "heaps_fit",
        "quantile_normalize",
        "kaplan_meier",
        "norm_profile",
        "mahalanobis",
        "cohort_ltv",
        "stl_anomaly",
        "target_encoding",
        "revenue_gini",
        "conversion_lag",
        "scd2_lookup",
        "salted_distinct",
    ],
)
def test_partitioning_invariance(spark, opname):
    """The 1000-executor property: every operator's result multiset is
    identical when the input arrives re-partitioned and re-ordered (an
    11-way round-robin reshuffle) — no hidden dependence on row order,
    partition count, or which partition a row lands in."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        filter_funnel as _ff_builder,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        attribution as _attr_builder,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        conversion_lag as _clag_builder,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.temporal import (
        scd2_lookup as _scd2l_builder,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        ks_test as _ks_builder,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        hll_distinct_tokens as _hll_builder,
    )

    builders = {
        "xcorr_lag": lambda df: tse.xcorr_lag(df, max_lag=2),
        "ab_ztest": tse.ab_ztest,
        "mixture_waterfill": smp.mixture_waterfill,
        "quality_calibration": tx.quality_calibration,
        "knn_eval": lambda df: sim.knn_eval(df, probe_mod=5, k=5),
        "trend_robust": tse.trend_robust,
        "changepoint": tse.changepoint_daily,
        "zipf_fit": lambda df: tx.zipf_fit(df, k=50),
        "lang_entropy": tx.lang_entropy,
        "attribution": _attr_builder,
        "hll_distinct": _hll_builder,
        "seasonal_decompose": tse.seasonal_decompose,
        "ks_test": _ks_builder,
        "heaps_fit": tx.heaps_fit,
        "quantile_normalize": smp.quantile_normalize,
        "kaplan_meier": tse.kaplan_meier,
        "norm_profile": sim.norm_profile,
        "mahalanobis": rel.mahalanobis_outliers,
        "cohort_ltv": tse.cohort_ltv,
        "stl_anomaly": tse.stl_anomaly,
        "target_encoding": rel.target_encoding,
        "revenue_gini": rel.revenue_gini,
        "conversion_lag": _clag_builder,
        "scd2_lookup": _scd2l_builder,
        "salted_distinct": rel.salted_distinct,
        "filter_funnel": _ff_builder,
        "matryoshka_recall": lambda df: sim.matryoshka_recall(
            df, list(range(5)), k=10, prefix_dim=16
        ),
        "pack_bins_docs": lambda df: smp.pack_bins(
            df.select("doc_id", F.col("n_chars").alias("n_tokens"))
        ),
    }
    table = {
        "xcorr_lag": "events",
        "ab_ztest": "events",
        "mixture_waterfill": "documents",
        "quality_calibration": "documents",
        "knn_eval": "embeddings",
        "trend_robust": "events",
        "changepoint": "events",
        "zipf_fit": "documents",
        "lang_entropy": "documents",
        "attribution": "events",
        "hll_distinct": "documents",
        "seasonal_decompose": "events",
        "ks_test": "documents",
        "heaps_fit": "documents",
        "quantile_normalize": "documents",
        "kaplan_meier": "events",
        "norm_profile": "embeddings",
        "mahalanobis": "lineitem",
        "cohort_ltv": "events",
        "stl_anomaly": "events",
        "target_encoding": "events",
        "revenue_gini": "orders",
        "conversion_lag": "events",
        "scd2_lookup": "events",
        "salted_distinct": "events",
        "filter_funnel": "documents",
        "matryoshka_recall": "embeddings",
        "pack_bins_docs": "documents",
    }[opname]
    base = load_table(spark, SF, table)
    fn = builders[opname]
    a = sorted(map(tuple, fn(base).collect()))
    b = sorted(map(tuple, fn(base.repartition(11)).collect()))
    assert a == b


def _waterfill_reference(avails, budget):
    """Iterative textbook water-fill: equal shares, saturate, repeat."""
    unsat = dict(avails)
    alloc = {}
    remaining = budget
    while unsat:
        share = remaining / len(unsat)
        newly = {s: a for s, a in unsat.items() if a <= share}
        if not newly:
            for s in unsat:
                alloc[s] = share
            return alloc
        for s, a in newly.items():
            alloc[s] = float(a)
            remaining -= a
            del unsat[s]
    return alloc


def test_mixture_waterfill_matches_iterative_reference(spark):
    """The closed-form saturation predicate reproduces the iterative
    water-fill on adversarial availability profiles (ties, extremes,
    single-source, all-equal)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=7),
        st.sampled_from([(1, 4), (1, 2), (3, 4), (1, 1)]),
    )
    def check(avails, frac):
        rows = [
            (f"s{i}", j, a)
            for i, a in enumerate(avails)
            for j in [i]
        ]
        docs = spark.createDataFrame(
            rows, "source string, doc_id int, n_chars int"
        )
        num, den = frac
        got = {
            r.source: r
            for r in smp.mixture_waterfill(docs, num, den).collect()
        }
        budget = sum(avails) * num // den
        ref = _waterfill_reference(
            {f"s{i}": a for i, a in enumerate(avails)}, budget
        )
        assert set(got) == set(ref)
        for s, want in ref.items():
            assert abs(got[s].alloc_chars - want) <= 0.01, (s, got[s], want)

    check()


def test_trend_robust_matches_python_reference(spark):
    """Mann–Kendall S and the lower-median Theil–Sen slope agree with a
    direct Python computation on the collected daily series."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    ev = load_table(spark, SF, "events")
    got = {r.event_type: r for r in tse.trend_robust(ev).collect()}
    day = (
        ev.groupBy(
            "event_type",
            F.expr("cast(floor(unix_micros(ts) / 86400000000) as bigint)").alias("day"),
        )
        .count()
        .collect()
    )
    from collections import defaultdict

    series = defaultdict(dict)
    for r in day:
        series[r.event_type][r.day] = r["count"]
    for t, s in series.items():
        days = sorted(s)
        if len(days) < 2:
            assert t not in got
            continue
        slopes, S = [], 0
        for i, da in enumerate(days):
            for db in days[i + 1 :]:
                diff = s[db] - s[da]
                S += (diff > 0) - (diff < 0)
                slopes.append((s[db] - s[da]) / (db - da))
        slopes = sorted(slopes)
        want = slopes[(len(slopes) + 1) // 2 - 1]
        r = got[t]
        assert r.n_days == len(days)
        assert r.n_pairs == len(slopes)
        assert r.s_stat == S
        assert abs(r.sen_slope - round(want, 6)) <= 1e-6


def test_pq_encode_matches_bruteforce(spark):
    """Every vector's per-subspace code is the true argmin over its
    codebook (ties to the smaller code id) and err is the sum of the
    four subspace distances — checked in pure Python on a sample."""
    emb = load_table(spark, SF, "embeddings")
    books = sim.pq_codebooks(emb, m=4, k=16)
    out = {r.vec_id: r for r in sim.pq_encode(emb, books).collect()}
    rows = emb.orderBy("vec_id").limit(20).collect()

    def quant(v):
        import math
        return [max(-127, min(127, math.floor(x * 127 + 0.5))) for x in v]

    for r in rows:
        q = quant(r.embedding)
        total = 0
        for j, book in enumerate(books):
            qj = q[j * 16 : (j + 1) * 16]
            dists = [
                (sum((a - b) * (a - b) for a, b in zip(qj, c)), cid)
                for cid, c in book
            ]
            d, cid = min(dists)
            got = out[r.vec_id]
            assert got[f"code_{j}"] == cid, (r.vec_id, j)
            total += d
        assert out[r.vec_id].err == total


def test_pq_codebooks_are_deterministic_driver_state(spark):
    """Training twice yields identical codebooks (pure function of the
    dataset), and each book is k×(dim/m) bounded driver state."""
    emb = load_table(spark, SF, "embeddings")
    b1 = sim.pq_codebooks(emb, m=4, k=16)
    b2 = sim.pq_codebooks(emb, m=4, k=16)
    assert b1 == b2
    assert len(b1) == 4
    for book in b1:
        assert len(book) == 16
        assert all(len(c) == 16 for _, c in book)


def test_sample_trained_pq_codebooks_match_manual_sample(spark):
    """Round 12 (the r11 semdedup-cells pattern applied to PQ): with
    ``train_budget`` set, pq_codebooks must train each subspace's Lloyd
    on exactly the budget md5-smallest vec_ids with distinct-code
    seeding — pinned by recomputing the sample by hand and running the
    full-corpus trainer on a DataFrame restricted to it.  Also asserts
    the budget ENGAGES (sampled books differ from full-corpus books on
    this fixture) and that ADC scoring accepts the non-contiguous code
    ids the sampled seeds produce."""
    import hashlib

    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")
    budget = 24
    sampled = sim.pq_codebooks(emb, m=4, k=4, train_budget=budget)

    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    want_ids = sorted(
        ids, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:budget]
    manual = sim.pq_codebooks(
        emb.filter(F.col("vec_id").isin(want_ids)),
        m=4,
        k=4,
        train_budget=budget,  # same rank-seeded path over the same rows
    )
    assert sampled == manual

    full = sim.pq_codebooks(emb, m=4, k=4)
    assert sampled != full  # the budget actually engaged

    # non-contiguous code ids flow through ADC scoring (map-keyed tables)
    cids = [cid for cid, _ in sampled[0]]
    assert cids != list(range(len(cids)))
    top = sim.pq_adc_topk(emb, sampled, probe_id=0, k=5).collect()
    assert len(top) == 5


def test_pq_encode_arrow_matches_expression(spark):
    """Round 12: the Arrow-matmul encode twin must be BIT-EQUAL to the
    JVM expression argmin on identical codebooks — same codes (ties to
    the smaller cid) and same exact integer err — including
    sample-trained books with non-contiguous code ids."""
    emb = load_table(spark, SF, "embeddings")
    e = sim._quantized(emb)
    for books in (
        sim.pq_codebooks(emb, m=4, k=16),
        sim.pq_codebooks(emb, m=4, k=16, train_budget=32),
    ):
        sub = 64 // len(books)
        a = {
            r.vec_id: tuple(r)
            for r in sim._pq_encode_arrow(e, books, sub).collect()
        }
        x = {
            r.vec_id: tuple(r)
            for r in sim._pq_encode_expr(e, books, sub).collect()
        }
        assert a == x


def test_pq_adc_matches_bruteforce_table_sum(spark):
    """Each returned ADC distance equals the Python-side sum of the
    probe's subspace distance tables over that vector's codes, and the
    list is the true bottom-k under (adc, vec_id)."""
    import math

    emb = load_table(spark, SF, "embeddings")
    books = sim.pq_codebooks(emb, m=4, k=16)
    got = sim.pq_adc_topk(emb, books, probe_id=0, k=10).collect()
    rows = emb.collect()

    def quant(v):
        return [max(-127, min(127, math.floor(x * 127 + 0.5))) for x in v]

    pq = quant(next(r.embedding for r in rows if r.vec_id == 0))
    tables = []
    for j, book in enumerate(books):
        pj = pq[j * 16 : (j + 1) * 16]
        tables.append(
            {cid: sum((a - b) * (a - b) for a, b in zip(pj, c))
             for cid, c in book}
        )
    adcs = {}
    for r in rows:
        if r.vec_id == 0:
            continue
        q = quant(r.embedding)
        total = 0
        for j, book in enumerate(books):
            qj = q[j * 16 : (j + 1) * 16]
            _, cid = min(
                (sum((a - b) * (a - b) for a, b in zip(qj, c)), cid)
                for cid, c in book
            )
            total += tables[j][cid]
        adcs[r.vec_id] = total
    want = sorted(adcs.items(), key=lambda kv: (kv[1], kv[0]))[:10]
    assert [(r.vec_id, r.adc_dist) for r in sorted(got, key=lambda r: r.rank)] == want


def test_pq_recall_bounds_and_consistency(spark):
    """Recall is n_hits/k with 0 <= n_hits <= k, and n_hits equals the
    actual overlap of the two independently-computed lists."""
    emb = load_table(spark, SF, "embeddings")
    books = sim.pq_codebooks(emb, m=4, k=16)
    r = sim.pq_recall(emb, books, probe_id=0, k=10).head()
    assert 0 <= r.n_hits <= 10
    assert abs(r.recall - round(r.n_hits / 10, 6)) <= 1e-9
    adc_ids = {x.vec_id for x in sim.pq_adc_topk(emb, books, 0, 10).collect()}
    assert len(adc_ids) == 10
    assert r.n_hits <= len(adc_ids)


def test_ivfpq_is_cell_restricted_adc(spark):
    """Every returned candidate lives in one of the probe's 2 closest
    cells, distances equal the full-corpus ADC for those vectors, and
    the list is the bottom-k of the restricted candidate set."""
    emb = load_table(spark, SF, "embeddings")
    books = sim.pq_codebooks(emb, m=4, k=16)
    got = sorted(
        sim.ivfpq_topk(emb, books, probe_id=0, k=10).collect(),
        key=lambda r: r.rank,
    )
    assert len({r.cell for r in got}) <= 2
    # the unrestricted ADC scan assigns the same distances
    full = {
        r.vec_id: r.adc_dist
        for r in sim.pq_adc_topk(emb, books, probe_id=0, k=10**6).collect()
    }
    for r in got:
        assert full[r.vec_id] == r.adc_dist
    # bottom-k property within the returned set
    dists = [r.adc_dist for r in got]
    assert dists == sorted(dists)


def test_markov_transitions_row_stochastic(spark):
    """Per-source probabilities sum to 1 (row-stochastic matrix) and the
    pair counts tally with a direct per-user walk."""
    from collections import Counter, defaultdict

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        markov_transitions,
    )

    ev = load_table(spark, SF, "events")
    rows = markov_transitions(ev).collect()
    by_src = defaultdict(float)
    for r in rows:
        by_src[r.src] += r.p
    for src, total in by_src.items():
        assert abs(total - 1.0) < 1e-4, (src, total)
    timeline = ev.select("user_id", "ts", "event_id", "event_type").collect()
    per_user = defaultdict(list)
    for r in timeline:
        per_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    want = Counter()
    for seq in per_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            want[(a, b)] += 1
    got = {(r.src, r.dst): r.n for r in rows}
    assert got == dict(want)


def test_changepoint_matches_python_reference(spark):
    """The located split and gain agree with a direct Python scan over
    the collected per-type daily series (exact prefix-sum arithmetic on
    both sides)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    ev = load_table(spark, SF, "events")
    got = {r.event_type: r for r in tse.changepoint_daily(ev).collect()}
    daily = (
        ev.groupBy(
            "event_type",
            F.expr(
                "cast(floor(unix_micros(ts) / 86400000000) as bigint)"
            ).alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    series: dict[str, list[tuple[int, int]]] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.c))
    for etype, pts in series.items():
        pts.sort()
        n = len(pts)
        s = float(sum(c for _, c in pts))
        best = None
        s1 = 0.0
        for i, (day, c) in enumerate(pts[:-1], start=1):
            s1 += c
            gain = s1 * s1 / i + (s - s1) * (s - s1) / (n - i) - s * s / n
            if best is None or gain > best[0]:
                best = (gain, day, i, s1)
        r = got[etype]
        assert r.split_day == best[1], (etype, r, best)
        assert abs(r.gain - round(best[0], 4)) < 1e-9
        assert abs(r.mean_before - round(best[3] / best[2], 4)) < 1e-9


def test_filter_funnel_is_a_funnel(spark):
    """Stage chaining: stage 1 enters the whole corpus, stage i's
    entrants are stage i−1's survivors, passes never exceed entrants,
    and the declared stage order is preserved."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        FUNNEL_STAGES,
        filter_funnel,
    )

    docs = load_table(spark, SF, "documents")
    rows = sorted(filter_funnel(docs).collect(), key=lambda r: r.stage)
    assert [r.rule for r in rows] == [n for n, _, _ in FUNNEL_STAGES]
    assert rows[0].n_enter == docs.count()
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_enter == prev.n_pass
    for r in rows:
        assert 0 <= r.n_pass <= r.n_enter
        assert r.n_fail == r.n_enter - r.n_pass


def test_referential_audit_counts_injected_orphans(spark):
    """The fixture star schema is orphan-free; removing half the
    customers makes exactly the orders pointing at them orphans, and
    coverage/parent counters track the shrunken dimension."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        FK_EDGES,
        referential_audit,
    )

    names = {t for c, _, p, _ in FK_EDGES for t in (c, p)}
    tables = {t: load_table(spark, SF, t) for t in names}
    clean = referential_audit(tables).collect()
    assert all(r.n_orphan_rows == 0 and r.n_null_rows == 0 for r in clean)
    assert all(0 < r.coverage <= 1.0 for r in clean)

    half = tables["customer"].filter(F.col("c_custkey") % 2 == 0)
    rows = {
        r.fk: r
        for r in referential_audit({**tables, "customer": half}).collect()
    }
    edge = rows["orders.o_custkey->customer.c_custkey"]
    orders = tables["orders"]
    want_orphans = orders.filter(F.col("o_custkey") % 2 == 1).count()
    assert edge.n_orphan_rows == want_orphans
    assert edge.n_parent_keys == half.count()
    assert edge.n_child_rows == orders.count()


def test_matryoshka_recall_full_prefix_is_exact(spark):
    """prefix_dim == the full width makes both rankings identical, so
    recall is exactly 1.0 for every probe; at 16 dims recall stays in
    [0, 1] and n_true == k."""
    emb = load_table(spark, SF, "embeddings")
    full = sim.matryoshka_recall(emb, list(range(5)), k=10, prefix_dim=64)
    assert all(r.recall == 1.0 for r in full.collect())
    part = sim.matryoshka_recall(emb, list(range(5)), k=10, prefix_dim=16)
    for r in part.collect():
        assert r.n_true == 10
        assert 0.0 <= r.recall <= 1.0
        assert r.prefix_dim == 16


def test_zipf_fit_is_zipfian_on_fixture(spark):
    """The fixture vocabulary is frequency-skewed: fitted slope is
    negative, R² lies in [0, 1], and n_terms == k when the vocabulary is
    large enough."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    docs = load_table(spark, SF, "documents")
    n_vocab = tx.vocab(docs, k=50).count()
    r = tx.zipf_fit(docs, k=50).collect()[0]
    assert r.n_terms == n_vocab  # fixture vocab is smaller than k
    assert r.slope < 0
    assert 0.0 <= r.r2 <= 1.0


def test_lang_entropy_bounds(spark):
    """0 ≤ H ≤ ln(n_types) (uniform-distribution bound) and
    1 ≤ perplexity ≤ n_types for every language."""
    import math

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    for r in tx.lang_entropy(load_table(spark, SF, "documents")).collect():
        assert 0.0 <= r.entropy_nats <= math.log(r.n_types) + 1e-9, r
        assert 1.0 <= r.perplexity <= r.n_types + 1e-6, r
        assert r.n_types <= r.n_tokens


def test_attribution_identities(spark):
    """Last-touch totals across touch types equal the number of
    converted conversions; linear credit sums to that same total (up to
    micro-credit truncation); credited touches bound last-touch wins."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        attribution,
    )

    ev = load_table(spark, SF, "events")
    rows = attribution(ev).collect()
    n_conv_with_touch = sum(r.last_touch_conversions for r in rows)
    assert n_conv_with_touch > 0
    linear_total = sum(r.linear_credit for r in rows)
    # Σ linear credit = one unit per converted conversion, minus ≤1e-6·n
    # floor truncation per touch
    assert n_conv_with_touch - 0.01 <= linear_total <= n_conv_with_touch
    for r in rows:
        assert r.last_touch_conversions <= r.n_conversions
        assert r.n_conversions <= r.n_touches_credited


def test_hll_tracks_exact_count(spark):
    """The HLL estimate lands within the ~1.04/√m ± tolerance band of the
    exact distinct count on the fixture corpus (m=256 → σ≈6.5%), and the
    register count never exceeds m."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        HLL_M,
        hll_distinct_tokens,
    )

    r = hll_distinct_tokens(load_table(spark, SF, "documents")).collect()[0]
    assert r.m == HLL_M
    assert 0 < r.n_occupied <= HLL_M
    assert abs(r.rel_err) < 0.25  # 4σ at m=256
    assert r.n_est > 0


def test_seasonal_decompose_reconstructs(spark):
    """trend + seasonal + residual reconstructs the observed daily count
    to rounding precision, and per-(type, dow) residual means are ~0 by
    construction."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    rows = tse.seasonal_decompose(load_table(spark, SF, "events")).collect()
    assert rows
    groups: dict[tuple, list] = {}
    for r in rows:
        assert abs((r.trend + r.seasonal + r.residual) - r.n_events) < 3e-4, r
        groups.setdefault((r.event_type, r.day % 7), []).append(r.residual)
    for key, res in groups.items():
        assert abs(sum(res) / len(res)) < 1e-3, (key, res)


def test_centroid_drift_identities(spark):
    """n_a + n_b equals each cluster's full population; a self-drift
    (epoch split replaced by a copy) would be zero — approximated here by
    checking drift bounds and that shift is symmetric-positive."""
    emb = load_table(spark, SF, "embeddings")
    assign = sim.kmeans_assign(emb, k=8, iters=2)
    sizes = {
        r.cluster_id: r.n_vectors
        for r in sim.kmeans_embeddings(emb, assignment=assign).collect()
    }
    for r in sim.centroid_drift(assign).collect():
        assert r.n_a + r.n_b == sizes[r.cluster_id]
        assert 0.0 <= r.count_drift <= 1.0
        assert r.centroid_shift_l2sq >= 0


def test_ks_test_matches_scipy_style_reference(spark):
    """D equals the max CDF gap computed directly in Python over the two
    collected samples; identical samples give D = 0."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        ks_test,
    )

    docs = load_table(spark, SF, "documents")
    r = ks_test(docs, "src0", "src1").collect()[0]
    a = sorted(
        x.n_chars for x in docs.filter(F.col("source") == "src0").collect()
    )
    b = sorted(
        x.n_chars for x in docs.filter(F.col("source") == "src1").collect()
    )
    vals = sorted(set(a) | set(b))
    import bisect

    d = max(
        abs(bisect.bisect_right(a, v) / len(a) - bisect.bisect_right(b, v) / len(b))
        for v in vals
    )
    assert abs(r.ks_stat - round(d, 6)) < 1e-9
    assert 0.0 <= r.p_approx <= 1.0
    same = ks_test(docs, "src0", "src0").collect()[0]
    assert same.ks_stat == 0.0


def test_heaps_fit_sublinear(spark):
    """Vocabulary growth across sources is sublinear on natural-ish text:
    0 < β < 1.2, k positive, R² in [0, 1]."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        text as tx,
    )

    r = tx.heaps_fit(load_table(spark, SF, "documents")).collect()[0]
    assert r.n_sources == 20
    assert 0 < r.beta < 1.2
    assert r.k_coef > 0
    assert 0.0 <= r.r2 <= 1.0


def test_quantile_normalize_properties(spark):
    """Every document keeps its row; rank order within a source follows
    length order; after normalization, two sources' value multisets at
    shared ranks are identical (the point of the operator)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        sampling as smp,
    )

    docs = load_table(spark, SF, "documents")
    out = smp.quantile_normalize(docs)
    assert out.count() == docs.count()
    rows = out.collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    norm_at_rank: dict[int, set] = {}
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.src_rank)
        lengths = [r.n_chars for r in rs]
        assert lengths == sorted(lengths), src
        for r in rs:
            norm_at_rank.setdefault(r.src_rank, set()).add(r.norm_chars)
    assert all(len(v) == 1 for v in norm_at_rank.values())


def test_kaplan_meier_properties(spark):
    """Survival is monotone non-increasing in the offset, starts ≤ 1,
    risk sets telescope (n_t = n_{t+1} + exits at t), and total exits
    equal the user count."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    ev = load_table(spark, SF, "events")
    rows = sorted(
        tse.kaplan_meier(ev).collect(), key=lambda r: r.offset_days
    )
    assert rows
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_churned + r.n_censored for r in rows) == n_users
    assert rows[0].n_at_risk == n_users
    prev_s = 1.0
    for i, r in enumerate(rows):
        assert r.survival <= prev_s + 1e-9
        prev_s = r.survival
        if i + 1 < len(rows):
            assert (
                r.n_at_risk - r.n_churned - r.n_censored
                == rows[i + 1].n_at_risk
            )


def test_norm_profile_exactness(spark):
    """min ≤ mean ≤ max per label, and the label populations sum to the
    corpus size."""
    emb = load_table(spark, SF, "embeddings")
    rows = sim.norm_profile(emb).collect()
    assert sum(r.n_vecs for r in rows) == emb.count()
    for r in rows:
        assert r.min_sq_norm <= r.mean_sq_norm <= r.max_sq_norm


def test_mahalanobis_matches_python_reference(spark):
    """The top-1 outlier per flag agrees with a direct NumPy Mahalanobis
    computation on the collected (quantity, round(price)) pairs."""
    import numpy as np

    li = load_table(spark, SF, "lineitem")
    got = {
        r.l_returnflag: r
        for r in rel.mahalanobis_outliers(li, k=1).collect()
    }
    data = li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    ).collect()
    groups: dict[str, list] = {}
    for r in data:
        groups.setdefault(r.l_returnflag, []).append(r)
    for flag, rs in groups.items():
        xy = np.array([[r.x, r.y] for r in rs], dtype=float)
        mu = xy.mean(axis=0)
        cov = np.cov(xy.T, ddof=1)
        inv = np.linalg.inv(cov)
        d = np.einsum("ij,jk,ik->i", xy - mu, inv, xy - mu)
        scored = sorted(
            zip(np.round(d, 4), [(-r.l_orderkey, -r.l_linenumber) for r in rs],
                rs),
            key=lambda t: (-t[0], -t[1][0], -t[1][1]),
        )
        best = scored[0]
        assert got[flag].l_orderkey == best[2].l_orderkey, flag
        assert abs(got[flag].md2 - best[0]) < 1e-3, flag


def test_cohort_ltv_cumulative_consistency(spark):
    """cum_revenue telescopes the per-offset revenues within each cohort,
    ltv_per_user · cohort_n == cum_revenue, and offsets are within the
    cap."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    rows = tse.cohort_ltv(load_table(spark, SF, "events")).collect()
    assert rows
    by_cohort: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.day_offset <= 7
        by_cohort.setdefault(r.cohort_day, []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r.day_offset)
        run = 0.0
        for r in rs:
            run += r.revenue
            assert abs(r.cum_revenue - round(run, 4)) < 2e-4, (cohort, r)
            assert (
                abs(r.ltv_per_user - round(r.cum_revenue / r.cohort_n, 4))
                < 2e-4
            )


def test_stl_anomaly_flags_are_extreme_residuals(spark):
    """Every flagged day's |z| > 2, and flagged days are a subset of the
    decomposition's days; unflagged residuals are smaller in magnitude
    than the largest flagged one per type (sanity of the ordering)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    ev = load_table(spark, SF, "events")
    flags = tse.stl_anomaly(ev).collect()
    comp_days = {
        (r.event_type, r.day)
        for r in tse.seasonal_decompose(ev).collect()
    }
    for r in flags:
        assert abs(r.res_z) > 2.0
        assert (r.event_type, r.day) in comp_days


def test_target_encoding_loo_exactness(spark):
    """The encoding equals the category mean computed WITHOUT the row —
    verified directly against per-category sums; singleton categories
    emit NULL."""
    ev = load_table(spark, SF, "events")
    out = rel.target_encoding(ev)
    assert out.count() == ev.count()
    sums: dict[str, tuple] = {}
    for r in ev.select("event_type", "value").collect():
        v4 = int((r.value * 10000) + 0.5)
        n, s = sums.get(r.event_type, (0, 0))
        sums[r.event_type] = (n + 1, s + v4)
    import random

    sample = out.orderBy("event_id").limit(200).collect()
    for r in sample:
        n, s = sums[r.event_type]
        if n == 1:
            assert r.loo_mean is None
        else:
            import math

            v4 = int((r.value * 10000) + 0.5)
            want = math.floor((s - v4) / (n - 1) + 0.5) / 10000.0
            assert abs(r.loo_mean - want) < 1e-9


def test_revenue_gini_matches_python_reference(spark):
    """Gini and the top shares agree with a direct sorted-list
    computation over the collected per-customer revenues."""
    orders = load_table(spark, SF, "orders")
    r = rel.revenue_gini(orders).collect()[0]
    per = {}
    for row in orders.select("o_custkey", "o_totalprice").collect():
        per[row.o_custkey] = per.get(row.o_custkey, 0) + int(
            row.o_totalprice * 100 + 0.5
        )
    xs = sorted(per.values())
    n, s = len(xs), sum(xs)
    t = sum((i + 1) * x for i, x in enumerate(xs))
    gini = 2 * t / (n * s) - (n + 1) / n
    assert r.n_customers == n
    assert abs(r.gini - round(gini, 6)) < 1e-9
    top10 = sum(xs[n - max(n // 10, 1):])
    assert abs(r.top10_share - round(top10 / s, 6)) < 1e-9
    assert 0 <= r.gini <= 1
    assert r.top1_share <= r.top10_share <= 1.0


def test_conversion_lag_order_statistics(spark):
    """P50/P90 are exact order statistics of the pair-lag multiset
    computed directly in Python; p50 ≤ p90 ≤ max."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        conversion_lag,
    )

    ev = load_table(spark, SF, "events")
    got = {r.touch_type: r for r in conversion_lag(ev).collect()}
    convs = [
        (r.user_id, r.ts)
        for r in ev.filter(F.col("event_type") == "purchase").collect()
    ]
    touches = [
        (r.user_id, r.event_type, r.ts)
        for r in ev.filter(F.col("event_type").isin("click", "view")).collect()
    ]
    import math
    from collections import defaultdict

    lags = defaultdict(list)
    for cu, cts in convs:
        for tu, tt, tts in touches:
            if tu == cu and tts < cts and (cts - tts).total_seconds() <= 86400:
                lags[tt].append(
                    int((cts - tts).total_seconds() * 1_000_000 // 60_000_000)
                )
    for tt, ls in lags.items():
        ls.sort()
        r = got[tt]
        assert r.n_pairs == len(ls)
        assert r.p50_lag_min == ls[math.ceil(0.5 * len(ls)) - 1]
        assert r.p90_lag_min == ls[math.ceil(0.9 * len(ls)) - 1]
        assert r.p50_lag_min <= r.p90_lag_min <= r.max_lag_min


def test_wap_withholds_bad_batch(spark):
    """A batch with a NULL key and a non-positive price fails its audit:
    nothing is published, the final table stays absent, and the report
    says so."""
    import uuid

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sinks.catalog import (
        CatalogSink,
        write_audit_publish,
    )

    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    bad = orders.limit(5).unionByName(
        orders.limit(1).select(
            F.lit(None).cast("bigint").alias("o_orderkey"),
            "o_custkey", "o_orderstatus",
            F.lit(-1.0).alias("o_totalprice"),
            "o_orderdate", "o_orderpriority",
        )
    )
    tag = uuid.uuid4().hex[:8]
    mk = lambda name: CatalogSink(  # noqa: E731
        spark,
        IcebergSinkConfig(
            db="default", table_name=name, partition_fields=(),
            upsert_fields=("o_orderkey",), operation="append",
        ),
    )
    stg, fin = mk(f"wap_t_{tag}_stg"), mk(f"wap_t_{tag}_fin")
    try:
        rows = write_audit_publish(
            spark, stg, fin, bad, "o_orderkey"
        ).collect()
        assert all(not r.published for r in rows)
        assert all(r.n_published == 0 for r in rows)
        failed = {r.check_name for r in rows if not r.passed}
        assert "staged.key not_null" in failed
        assert "staged.price positive" in failed
        assert not spark.catalog.tableExists(fin.table)
    finally:
        for t in (stg.table, stg.commits, fin.table, fin.commits):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_wap_n_published_counts_the_batch_not_the_table(spark):
    """n_published is the rows THIS publish appends — a final table
    pre-populated by an earlier epoch must not inflate the report."""
    import uuid

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sinks.catalog import (
        CatalogSink,
        write_audit_publish,
    )

    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    tag = uuid.uuid4().hex[:8]
    mk = lambda name: CatalogSink(  # noqa: E731
        spark,
        IcebergSinkConfig(
            db="default", table_name=name, partition_fields=(),
            upsert_fields=("o_orderkey",), operation="append",
        ),
    )
    stg1, fin = mk(f"wap_n_{tag}_stg1"), mk(f"wap_n_{tag}_fin")
    stg2 = mk(f"wap_n_{tag}_stg2")
    first = orders.orderBy("o_orderkey").limit(7)
    second = orders.orderBy(F.col("o_orderkey").desc()).limit(3)
    try:
        r1 = write_audit_publish(
            spark, stg1, fin, first, "o_orderkey", epoch=1
        ).collect()
        assert all(r.n_published == 7 for r in r1)
        r2 = write_audit_publish(
            spark, stg2, fin, second, "o_orderkey", epoch=2
        ).collect()
        assert all(r.published for r in r2)
        assert all(r.n_published == 3 for r in r2), (
            "n_published must count the batch, not the final table"
        )
        assert fin.read().count() == 10
    finally:
        for s in (stg1, stg2, fin):
            for t in (s.table, s.commits):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_scd2_lookup_matches_history_scan(spark):
    """Each purchase's resolved state equals a direct Python scan of the
    SCD2 intervals, and every purchase resolves (inner join loses no
    row)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.temporal import (
        scd2_history,
        scd2_lookup,
    )

    ev = load_table(spark, SF, "events")
    looked = scd2_lookup(ev).collect()
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert len(looked) == n_purch
    hist: dict[int, list] = {}
    for h in scd2_history(ev).collect():
        hist.setdefault(h.user_id, []).append(h)
    for r in looked:
        spans = [
            h
            for h in hist[r.user_id]
            if h.valid_from_ms <= r.ts_ms
            and (h.valid_to_ms is None or r.ts_ms < h.valid_to_ms)
        ]
        assert len(spans) == 1, (r, spans)
        assert r.state_at == spans[0].state
        assert r.version == spans[0].version


def test_salted_distinct_equals_plain(spark):
    """The salted two-phase distinct equals plain countDistinct exactly,
    for several salt widths."""
    ev = load_table(spark, SF, "events")
    want = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for salts in (1, 4, 32):
        got = {
            r.event_type: r.n_users
            for r in rel.salted_distinct(ev, salts=salts).collect()
        }
        assert got == want, salts


def test_bfs_depth_matches_python_bfs(spark):
    """Depths agree with a textbook BFS over the collected edge set, and
    the frontier property holds (every depth-d node neighbors a depth
    d−1 node)."""
    docs = load_table(spark, SF, "documents")
    pairs = dd.ngram_jaccard_pairs(docs)
    got = {r.doc_id: r.depth for r in dd.bfs_depth(pairs).collect()}
    adj: dict[int, set] = {}
    for r in pairs.collect():
        adj.setdefault(r.doc_a, set()).add(r.doc_b)
        adj.setdefault(r.doc_b, set()).add(r.doc_a)
    if not adj:
        assert got == {}
        return
    seed = min(adj)
    from collections import deque

    want = {seed: 0}
    q = deque([seed])
    while q:
        u = q.popleft()
        if want[u] >= 3:
            continue
        for v in adj[u]:
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    assert got == want


def test_dp_counts_mechanism_properties(spark):
    """Released counts are non-negative integers within |noise|+1 of the
    truth; a tighter epsilon draws proportionally larger noise for the
    same seed (the Laplace scale law, exact under the deterministic
    uniform)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        dp_mechanism_audit,
    )

    ev = load_table(spark, SF, "events")
    r1 = {
        r.event_type: r for r in dp_mechanism_audit(ev, epsilon=1.0).collect()
    }
    r01 = {
        r.event_type: r for r in dp_mechanism_audit(ev, epsilon=0.1).collect()
    }
    for t, r in r1.items():
        assert r.n_released >= 0
        assert abs(r.n_released - r.n_true) <= abs(r.noise) + 1
        assert abs(r01[t].noise - 10 * r.noise) < 2e-3, t


def test_graph_family_handles_empty_pair_input(spark):
    """Every near-dup graph operator must degrade cleanly on an empty
    edge list (a clean corpus is a legal input): empty output, no NULL
    phantom rows, no exception."""
    import streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.dedup as dd

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dd.label_propagation(empty).count() == 0
    assert dd.kcore_peel(empty).count() == 0
    assert dd.bfs_depth(empty).count() == 0
    # the two graph-level statistics keep their one-row summary shape,
    # with NULL (undefined) statistics rather than a crash
    assert dd.assortativity(empty).count() == 1
    assert dd.modularity(empty).count() == 1


def test_markov_stationary_drops_source_only_state(spark):
    """A state with NO incoming transition (here 'boot', only ever a
    session's first event) loses all mass after one power step; the
    DuckDB oracle's final INNER JOIN drops it from the output, so the
    Spark side must too — no phantom stationary_share=0.0 row. Pins the
    inner-join semantics chosen for markov_stationary."""
    import duckdb

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        duck_markov_stationary_sql,
        markov_stationary,
    )

    rows = []
    eid = 0
    # 4 users: boot -> (a|b) -> a/b chains; 'boot' never follows anything
    for uid, seq in enumerate(
        [
            ["boot", "a", "b", "a"],
            ["boot", "b", "a", "a"],
            ["boot", "a", "a", "b"],
            ["boot", "b", "b", "a"],
        ]
    ):
        for i, et in enumerate(seq):
            rows.append((eid, f"2024-01-01 00:{i:02d}:00", uid, et))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    got = {
        r.state: (r.stationary_share, r.empirical_share)
        for r in markov_stationary(ev).collect()
    }
    assert "boot" not in got  # source-only state dropped, not emitted 0.0
    assert set(got) == {"a", "b"}

    con = duckdb.connect()
    con.register(
        "events",
        __import__("pandas").DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type"]
        ).assign(ts=lambda d: __import__("pandas").to_datetime(d.ts)),
    )
    want = {
        r[0]: (float(r[1]), float(r[2]))
        for r in con.execute(duck_markov_stationary_sql()).fetchall()
    }
    assert got == want


def test_grouped_row_number_matches_plain_window(spark):
    """Per-group ranks and group counts from the two-phase grouped rank
    are bit-identical to a plain Window.partitionBy(group) row_number —
    the single-window oracle that stays correct at any range-boundary
    sampling because the order is total."""
    from pyspark.sql import Window

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.ranks import (
        grouped_row_number,
    )

    orders = load_table(spark, SF, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    got = {
        (r.o_orderkey): (r.rn, r.n)
        for r in grouped_row_number(
            orders,
            ["o_orderpriority"],
            [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
            rank_col="rn",
            count_col="n",
        ).collect()
    }
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    want = {
        r.o_orderkey: (r.rn, r.n)
        for r in orders.select(
            "o_orderkey",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("o_orderpriority"))
            .cast("bigint")
            .alias("n"),
        ).collect()
    }
    assert got == want


def test_grouped_row_number_empty_input(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.ranks import (
        grouped_row_number,
    )

    empty = load_table(spark, SF, "orders").filter(F.lit(False)).select(
        "o_orderpriority", "o_orderkey"
    )
    out = grouped_row_number(
        empty, ["o_orderpriority"], [F.col("o_orderkey").asc()], count_col="n"
    )
    assert out.count() == 0
    assert {"__rank", "n"} <= set(out.columns)


def test_radix_kth_by_group_exact_selection(spark):
    """radix_kth_by_group returns the exact k-th smallest per group for
    median / min / max ranks on adversarial 30-bit values (multi-level
    walk, fallback path), matching a Python sorted() reference."""
    import random
    from collections import defaultdict

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
        radix_kth_by_group,
    )

    rng = random.Random(7)
    data = [(f"g{i % 3}", rng.randrange(0, 1 << 30)) for i in range(5000)]
    # duplicates + a constant-value group exercise tie handling
    data += [("gdup", 42)] * 100
    df = spark.createDataFrame(data, "g string, v long")
    byg = defaultdict(list)
    for g, v in data:
        byg[g].append(v)
    for kf in (
        lambda vs: (len(vs) + 1) // 2,  # lower median rank
        lambda vs: 1,  # min
        lambda vs: len(vs),  # max
    ):
        k = {g: kf(vs) for g, vs in byg.items()}
        got = radix_kth_by_group(df, "g", F.col("v"), k, 30)
        want = {g: sorted(vs)[k[g] - 1] for g, vs in byg.items()}
        assert got == want
    # groups with k < 1 are dropped, not crashed
    assert radix_kth_by_group(df, "g", F.col("v"), {"g0": 0}, 30) == {}


def test_median_mad_matches_python_reference(spark):
    """Lower-median and MAD semantics on a constructed frame with even
    and odd group sizes, exact to the cents grid."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
        median_mad,
    )

    rows = [
        # odd group: median 20.00, deviations [10, 0, 10] -> MAD 10.00
        ("A", 10.00), ("A", 20.00), ("A", 30.00),
        # even group: lower median 2.50, devs [1.5, 0, 0.5, 97.5] -> 0.5
        ("B", 1.00), ("B", 2.50), ("B", 3.00), ("B", 100.00),
    ]
    df = spark.createDataFrame(rows, "o_orderpriority string, o_totalprice double")
    got = {
        r.o_orderpriority: (r.median_price, r.mad, r.n_orders)
        for r in median_mad(df).collect()
    }
    assert got == {"A": (20.0, 10.0, 3), "B": (2.5, 0.5, 4)}


def test_median_mad_negative_values_rebased(spark):
    """Negative totals must take the min-offset rebase (radix walk is
    non-negative-only, ADVICE round 8) and still return the exact lower
    median / MAD; verified against a Python sorted() reference."""
    import random

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
        median_mad,
    )

    rng = random.Random(11)
    rows = [
        (f"P{i % 3}", round(rng.uniform(-5000, 5000), 2)) for i in range(900)
    ]
    rows += [("Pneg", -123.45), ("Pneg", -67.89), ("Pneg", -1.00)]
    df = spark.createDataFrame(rows, "o_orderpriority string, o_totalprice double")
    got = {
        r.o_orderpriority: (r.median_price, r.mad, r.n_orders)
        for r in median_mad(df).collect()
    }
    from collections import defaultdict

    byg = defaultdict(list)
    for g, v in rows:
        byg[g].append(round(v * 100))
    want = {}
    for g, vs in byg.items():
        vs.sort()
        med = vs[(len(vs) + 1) // 2 - 1]
        devs = sorted(abs(v - med) for v in vs)
        mad = devs[(len(devs) + 1) // 2 - 1]
        want[g] = (med / 100.0, mad / 100.0, len(vs))
    assert got == want


def test_fused_kth_by_group_matches_sorted_reference(spark):
    """fused_kth_by_group (round 10): exact per-group k-th on the 2-job
    fast path — negative domains, ties, singleton groups, and two k
    shapes (lower median, p99) — plus the wide-domain walk fallback,
    all against a Python sorted() reference."""
    import random

    from pyspark.sql import functions as F

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
        fused_kth_by_group,
    )

    rng = random.Random(31)
    rows = [(f"g{i % 4}", rng.randint(-90_000, 90_000)) for i in range(1200)]
    rows += [("tied", 500)] * 60 + [("one", -42)]
    df = spark.createDataFrame(rows, "g string, v long")
    from collections import defaultdict

    byg = defaultdict(list)
    for g, v in rows:
        byg[g].append(v)
    for name, k_expr, k_py in (
        ("median", lambda n: F.floor((n + 1) / 2), lambda n: (n + 1) // 2),
        (
            "p99",
            lambda n: F.greatest(
                F.lit(1).cast("bigint"), F.floor(n * 99 / 100)
            ),
            lambda n: max(1, n * 99 // 100),
        ),
    ):
        kth, n_by_g = fused_kth_by_group(df, "g", F.col("v"), k_expr)
        assert n_by_g == {g: len(vs) for g, vs in byg.items()}, name
        want = {g: sorted(vs)[k_py(len(vs)) - 1] for g, vs in byg.items()}
        assert kth == want, name
    # wide-domain fallback: values past 2^26 force the full radix walk
    wide = spark.createDataFrame(
        [("w", v) for v in (-(1 << 30), 0, 7, 1 << 35, (1 << 35) + 3)],
        "g string, v long",
    )
    kth, n = fused_kth_by_group(wide, "g", F.col("v"), lambda c: F.floor((c + 1) / 2))
    assert kth == {"w": 7} and n == {"w": 5}
    # empty input: loud empty result, not a crash
    assert fused_kth_by_group(
        spark.createDataFrame([], "g string, v long"),
        "g",
        F.col("v"),
        lambda c: F.floor((c + 1) / 2),
    ) == ({}, {})


def test_median_mad_delta_containment_property(spark):
    """The 3-job common path picks the MAD's coarse bucket from a
    histogram of |v − c| (c = median-bucket CENTER, not the median), then
    widens the range by the exactly-known δ = |med − c|. The containment
    is a theorem — count(dev ≤ t) is sandwiched by count(dev_c ≤ t ∓ δ) —
    and this pins it on adversarial shapes: values straddling bucket
    boundaries, a median at the bucket edge (maximal δ), ties, negative
    domains, and 1–2-row groups. Any containment miss raises the
    operator's loud ValueError instead of returning a wrong MAD."""
    import random

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
        median_mad,
    )

    rng = random.Random(77)
    rows = []
    # bucket-edge cluster: values packed around multiples of 2^13 cents
    # (81.92) so med lands at a bucket edge and δ ≈ 2^12
    for i in range(201):
        rows.append(("edge", round((81.92 * (i % 7)) + (i % 3) * 0.01, 2)))
    # heavy ties: one value dominating, MAD = 0
    rows += [("ties", 42.00)] * 150 + [("ties", 99.99)] * 10
    # negative-through-zero domain (common path handles sign natively)
    rows += [("neg", round(rng.uniform(-400, 400), 2)) for _ in range(301)]
    # degenerate tiny groups
    rows += [("one", -7.77), ("two", 1.25), ("two", 1.26)]
    df = spark.createDataFrame(rows, "o_orderpriority string, o_totalprice double")
    got = {
        r.o_orderpriority: (r.median_price, r.mad, r.n_orders)
        for r in median_mad(df).collect()
    }
    from collections import defaultdict

    byg = defaultdict(list)
    for g, v in rows:
        byg[g].append(round(v * 100))
    want = {}
    for g, vs in byg.items():
        vs.sort()
        med = vs[(len(vs) + 1) // 2 - 1]
        devs = sorted(abs(v - med) for v in vs)
        mad = devs[(len(devs) + 1) // 2 - 1]
        want[g] = (med / 100.0, mad / 100.0, len(vs))
    assert got == want


def test_degenerate_inputs_null_not_ansi_error(spark):
    """Round-9 micro-fixture findings: four operators divided by a count
    or variance that is legally zero on degenerate input (singleton
    stratum, single-day series, constant series, empty 2×2 cell) and
    threw under ANSI mode while their oracles produced NaN/inf. Both
    sides now agree on NULL; each case here runs the Spark operator AND
    its DuckDB oracle on the same degenerate rows."""
    import duckdb
    import pandas as pd

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sampling import (
        duck_neyman_sql,
        neyman_allocation,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        burstiness,
        daily_anomaly,
        did_estimator,
        duck_burstiness_sql,
        duck_did_sql,
    )

    def duck(events_rows=None, docs_rows=None):
        con = duckdb.connect()
        if events_rows is not None:
            pdf = pd.DataFrame(
                events_rows,
                columns=["event_id", "ts", "user_id", "event_type", "value"],
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"])
            con.register("events", pdf)
        if docs_rows is not None:
            con.register(
                "documents",
                pd.DataFrame(docs_rows, columns=["doc_id", "source", "n_chars"]),
            )
        return con

    # singleton stratum: sigma/neyman_n/weight_share NULL, not 0/0
    docs = [(1, "solo", 100), (2, "pair", 10), (3, "pair", 30)]
    ddf = spark.createDataFrame(docs, "doc_id long, source string, n_chars long")
    got = {r.stratum: (r.sigma, r.neyman_n, r.weight_share)
           for r in neyman_allocation(ddf).collect()}
    want = {r[0]: (r[3], r[4], r[6])
            for r in duck(docs_rows=docs).execute(duck_neyman_sql()).fetchall()}
    assert got == want and got["solo"] == (None, None, None)

    # one-day type (no sample variance) next to a regular two-day type
    ev = [(1, "2024-01-01 00:00:00", 1, "solo", 1.0),
          (2, "2024-01-01 00:00:00", 1, "multi", 1.0),
          (3, "2024-01-02 00:00:00", 1, "multi", 1.0)]
    edf = spark.createDataFrame(
        ev, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.event_type: (r.dispersion, r.burstiness)
           for r in burstiness(edf).collect()}
    want = {r[0]: (r[3], r[4])
            for r in duck(events_rows=ev).execute(duck_burstiness_sql()).fetchall()}
    assert got == want and got["solo"] == (None, None)

    # constant multi-day series: stddev 0 ⇒ zscore NULL (not an error)
    rows = daily_anomaly(edf).filter(F.col("event_type") == "multi").collect()
    assert {r.zscore for r in rows} == {None}

    # all four events land pre-split in one arm ⇒ empty 2×2 cells ⇒ NULL
    # means and NULL did on both engines
    got = did_estimator(edf).collect()[0]
    want = duck(events_rows=ev).execute(duck_did_sql()).fetchall()[0]
    assert (got.ctrl_pre, got.ctrl_post, got.treat_pre, got.treat_post,
            got.did) == tuple(want[4:9])
    assert got.did is None

    # a single event type owns the whole stream ⇒ its complement is
    # empty (n2 = 0) ⇒ mean_rest and z are NULL, never an ANSI error
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        ab_ztest,
    )

    mono = edf.withColumn("event_type", F.lit("only"))
    rows = ab_ztest(mono).collect()
    assert len(rows) == 1
    assert rows[0].mean_rest is None and rows[0].z_score is None


def test_zero_and_duplicate_vectors_match_oracle(spark):
    """Round-9 adversarial-fixture findings, pinned at the operator
    level: a zero-norm embedding (an empty document) must score NULL
    cosine instead of an ANSI divide-by-zero, and duplicate seed
    vectors must leave k-means with an EMPTY cluster that keeps its
    previous centroid (the standard Lloyd rule) on BOTH engines — the
    old behavior dropped the cluster and broke the PQ books' contiguous
    code ids. The kmeans/semdedup comparisons run Spark and the
    unrolled DuckDB CTEs over the same rows, so the keep-previous path
    itself is value-gated."""
    import duckdb
    import pandas as pd

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        duck_kmeans_sql,
        duck_semdedup_sql,
        kmeans_embeddings,
        semdedup_pairs,
        topk_cosine_bruteforce,
    )

    dim = 64

    def vec(seed):
        return [((seed * 31 + i * 7) % 13 - 6) / 7.0 for i in range(dim)]

    rows = [(0, [0.0] * dim, 0), (1, vec(1), 1), (2, vec(1), 1)] + [
        (i, vec(i), i % 3) for i in range(3, 20)
    ]
    edf = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int",
    )
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]),
    )

    # zero-norm probe neighbor: NULL sim, ranked below every real score
    top = topk_cosine_bruteforce(edf, [1], k=len(rows) - 1).collect()
    sims = {r.neighbor_id: r.sim for r in top}
    assert sims[0] is None
    assert sims[2] == 1.0  # the exact duplicate
    assert max(r.rank for r in top if r.neighbor_id == 0) == len(rows) - 1

    # duplicate seeds 1/2 leave cluster 2 empty: spark == oracle exactly
    got = sorted(
        tuple(r) for r in kmeans_embeddings(edf, k=8, iters=2).collect()
    )
    want = sorted(tuple(r) for r in con.execute(duck_kmeans_sql(8)).fetchall())
    assert got == want
    got_p = sorted(
        (r.vec_a, r.vec_b, r.qsim)
        for r in semdedup_pairs(edf, k=8, iters=2, threshold=0.3).collect()
    )
    want_p = sorted(
        (r[1], r[2], r[3])
        for r in con.execute(duck_semdedup_sql(8, 0.3)).fetchall()
    )
    assert got_p == want_p


def test_sample_trained_kmeans_matches_oracle_and_engages(spark):
    """Round-11 sample-trained cells (VERDICT r10 item #2): with
    ``train_budget`` set, Lloyd trains on the md5-smallest vec_ids and
    seeds from the k DISTINCT codes with the lowest owning ids WITHIN
    the sample — value-checked against the sampled oracle CTEs, and
    pinned to actually DIFFER from full-corpus training on this fixture
    (so the sampled path can never silently degrade into the full scan
    it replaces). Duplicate vectors are planted so the distinct-seed
    rule is exercised: duplicate seeds would collapse into permanently-
    empty clusters (the 1000×-probe skew finding)."""
    import duckdb
    import pandas as pd

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        duck_semdedup_sql,
        kmeans_centroids,
        semdedup_pairs,
        train_budget_for,
    )

    dim = 64

    def vec(seed):
        return [((seed * 37 + i * 11) % 17 - 8) / 9.0 for i in range(dim)]

    # every vector duplicated once (i, i+40 share a code): any sample
    # of 12 very likely holds duplicate codes, exercising distinct-seed
    rows = [(i, vec(i % 40)) for i in range(80)]
    edf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    con = duckdb.connect()
    con.register(
        "embeddings", pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )

    full = kmeans_centroids(edf, k=4, iters=2)
    sampled = kmeans_centroids(edf, k=4, iters=2, train_budget=12)
    assert full != sampled, "budget < N must change the trained cells"
    scents = [tuple(c) for _, c in sampled]
    assert len(set(scents)) == len(scents), "sampled seeds must be distinct"

    got = sorted(
        (r.vec_a, r.vec_b, r.qsim)
        for r in semdedup_pairs(
            edf, k=4, iters=2, threshold=0.1, train_budget=12
        ).collect()
    )
    want = sorted(
        (r[1], r[2], r[3])
        for r in con.execute(
            duck_semdedup_sql(4, 0.1, sample_budget=12)
        ).fetchall()
    )
    assert got == want

    # the budget policy itself: floor and per-cell scaling
    assert train_budget_for(4) == 256
    assert train_budget_for(100) == 1600


def test_cell_pair_kernel_matches_naive_reference():
    """Property test for the round-11 per-cell BLAS kernel
    (similarity._cell_pair_kernel): on adversarial cells — zero vectors,
    exact duplicates, negative codes, sizes straddling the block
    boundary — the blocked-matmul output must equal a naive O(n²)
    float64 double loop using the identical IEEE op order (int dot as
    exact float64 sum, sqrt of the exact norm product, one divide).
    block=3 forces multi-block paths that the default 2048 never hits
    at test scale."""
    import numpy as np
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        _cell_pair_kernel,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        data=st.lists(
            st.lists(
                st.integers(min_value=-127, max_value=127),
                min_size=4,
                max_size=4,
            ),
            min_size=0,
            max_size=11,
        ),
        dup=st.booleans(),
        zero=st.booleans(),
        thr=st.sampled_from([-1.0, 0.0, 0.3, 0.99, 1.0]),
    )
    def check(data, dup, zero, thr):
        vecs = list(data)
        if dup and vecs:
            vecs.append(list(vecs[0]))  # exact duplicate pair
        if zero:
            vecs.append([0, 0, 0, 0])  # zero-norm vector
        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(len(vecs), dtype=np.int64),
                "cluster_id": np.zeros(len(vecs), dtype=np.int32),
                "q": [np.array(v, dtype=np.int64) for v in vecs],
            }
        )
        got = _cell_pair_kernel(thr, 4, block=3)(pdf)
        pre = thr - 5e-5 - 1e-12
        want = []
        for i in range(len(vecs)):
            for j in range(i + 1, len(vecs)):
                qi = np.array(vecs[i], dtype=np.float64)
                qj = np.array(vecs[j], dtype=np.float64)
                den = np.sqrt(float(qi @ qi) * float(qj @ qj))
                if den > 0.0:
                    s = float(qi @ qj) / den
                    if s >= pre:
                        want.append((i, j, s))
        assert sorted(zip(got["vec_a"], got["vec_b"], got["sim"])) == sorted(
            want
        )

    check()


def test_cell_pair_kernel_width_guard_on_singleton_cell():
    """ADVICE r11: the width contract must be enforced on EVERY row —
    a wrong-width vector in a singleton cell (n < 2) used to slip past
    the early return that the pair math never touches."""
    import numpy as np
    import pandas as pd
    import pytest

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        _cell_pair_kernel,
    )

    bad = pd.DataFrame(
        {
            "vec_id": np.array([7], dtype=np.int64),
            "cluster_id": np.array([0], dtype=np.int32),
            "q": [np.array([1, 2, 3], dtype=np.int64)],  # dim says 4
        }
    )
    with pytest.raises(ValueError, match="width"):
        _cell_pair_kernel(0.5, 4)(bad)
    # and a well-formed singleton still returns the empty frame
    ok = bad.assign(q=[np.array([1, 2, 3, 4], dtype=np.int64)])
    assert len(_cell_pair_kernel(0.5, 4)(ok)) == 0


def test_duck_train_budget_expr_matches_engine_budget():
    """ADVICE r11: the oracle budget expression and the engine default
    must be the same function of k — both now derive from
    TRAIN_PER_CELL/TRAIN_FLOOR, pinned here across a k sweep via DuckDB
    evaluation of the generated SQL."""
    import duckdb

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.similarity import (
        duck_train_budget_expr,
        train_budget_for,
    )

    con = duckdb.connect()
    for k in (1, 4, 15, 16, 17, 100, 1414, 5000):
        (got,) = con.execute(
            f"SELECT {duck_train_budget_expr(k)}"
        ).fetchone()
        assert got == train_budget_for(k), k


def test_degenerate_text_matches_oracle(spark):
    """Round-9 degenerate-text findings, pinned operator-vs-oracle on
    empty / whitespace-only / single-token documents: (a) DuckDB shingle
    grams must CLAMP like Spark's slice+concat_ws instead of indexing
    out of bounds (hashing.duck_shingles — divergent for ANY doc shorter
    than the gram width); (b) pmi's adjacent pairs guard the descending
    sequence(1, 0) Spark emits for single-token docs; (c) the funnel's
    ratio rules and the weighted sampler tolerate zero words/chars."""
    import duckdb
    import pandas as pd

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.functions import (
        hashing as H,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        duck_filter_funnel_sql,
        filter_funnel,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sampling import (
        weighted_priority_sample,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.text import (
        pmi_collocations,
    )

    docs = [
        (0, "", "en", "src0", 0),
        (1, "    ", "en", "src0", 4),
        (2, "word", "en", "src0", 4),
        (3, "alpha beta gamma delta epsilon", "en", "src1", 30),
        (4, "alpha beta gamma delta epsilon", "en", "src1", 30),
    ]
    ddf = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
        ),
    )

    # (a) shingle parity: clamped whole-doc shingle for short docs,
    # the '' shingle for empty docs — identical sets per doc
    got = {
        r.doc_id: sorted(r.s)
        for r in ddf.selectExpr(
            "doc_id",
            f"{H.spark_shingles(H.spark_tokens('text'), 3)} as s",
        ).collect()
    }
    want = {
        r[0]: sorted(r[1])
        for r in con.execute(
            f"SELECT doc_id, {H.duck_shingles(H.duck_tokens('text'), 3)}"
            " FROM documents"
        ).fetchall()
    }
    assert got == want
    assert got[0] == [""] and got[2] == ["word"]

    # (b) single-token and empty docs contribute no adjacent pairs —
    # no INVALID_ARRAY_INDEX from the descending sequence
    assert pmi_collocations(ddf, k=10, min_count=1).count() >= 0

    # (c) funnel counts match the oracle with zero-word/char docs in
    # the corpus; the weighted draw excludes zero-weight docs
    got_f = sorted(tuple(r) for r in filter_funnel(ddf).collect())
    want_f = sorted(
        tuple(r) for r in con.execute(duck_filter_funnel_sql()).fetchall()
    )
    assert got_f == want_f
    drawn = weighted_priority_sample(ddf, k=10).collect()
    assert {r.doc_id for r in drawn} == {1, 2, 3, 4}  # only weight-0 doc 0 out
