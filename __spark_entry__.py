"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is one operator from SURVEY.md §2.6, expressed as a
pure DataFrame function over the fixture tables; ``oracle_sql()`` holds the
DuckDB twin. Conventions for oracle parity (FIXTURES.md §3):

* every computed column is aliased identically on both sides;
* timestamp outputs are epoch-milliseconds bigints (``*_ms``) — parquet ns
  truncates to µs in both engines, ms-epoch makes hashes deterministic;
* float aggregates are rounded to 4 decimals on both sides.
"""

from __future__ import annotations

import inspect
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark import (
    operators as ops,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.functions import (
    hashing as H,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.functions.vectors import (
    duck_cosine,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    dedup as dd,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    relational as rel,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    sampling as smp,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    similarity as sim,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    temporal as tp,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    text as tx,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
    tpch,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.schema import (
    ts_ms,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
    load_table,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.staging import (
    snowflake_like_typed,
)

SF_SMOKE = "/root/testdata/sf0.001"

_smp_duck_bucket = smp.duck_bucket_expr

# Shared TRAINED DRIVER STATE across sibling queries: k-means centroids
# (k×dim ints) for the cluster-blocked family, BPE merge rules (a handful
# of strings) for the tokenizer family, and the cells_for(N) cell count.
# All are deterministic functions of (sf_dir, params) — seeds/updates are
# exact — so memoizing them is safe across queries, sessions, and bench's
# per-query spark.catalog.clearCache() (which would evict any
# persisted-DataFrame share). Each query then pays one application pass
# instead of retraining per query; corpus-sized intermediates are NEVER
# memoized this way.
_TRAINED_STATE_MEMO: dict[tuple, object] = {}

#: (session tag, query tag) pairs whose legacy-droppings sweep already ran
#: — the sink-backed queries now stage into PERSISTENT deterministic
#: tables (see q_time_travel), so only the once-per-session sweep of
#: uuid-named leftovers from pre-round-7 processes remains
_SWEPT: set[tuple] = set()


def _session_tag(spark: SparkSession) -> str:
    """Stable identity for per-session caches: the Spark applicationId —
    unlike ``id(spark)``, never reused after a session object is
    garbage-collected and a new one allocated at the same address (which
    would hand a new session checkpoints from a dead context)."""
    try:
        return spark.sparkContext.applicationId
    except Exception:  # pragma: no cover — a mock session in unit tests
        return f"py-{id(spark)}"


#: When bench.py (or any harness) sets this to a list, every shared-state
#: lookup appends ``(leg_name, "hit"|"compute")`` — the honesty hook that
#: lets the bench label which per-query times consumed a warm shared leg
#: instead of paying for it (ADVICE round 7, high).
_SHARED_TRACE: list | None = None

#: applicationId of the session whose per-session caches are live; when a
#: NEW session shows up, every entry tagged with a different (dead)
#: session is evicted so long-lived processes that cycle SparkSessions
#: don't pin dead checkpoint DataFrames forever (ADVICE round 7, low).
_LIVE_TAG: str | None = None


def _shared_bypass() -> bool:
    """SPARK_GRAFT_NO_SHARED=1 disables every cross-query share: each
    lookup recomputes and nothing is memoized. bench.py documents this as
    the one-flag way to measure fully-cold per-query times."""
    import os as _os

    return _os.environ.get("SPARK_GRAFT_NO_SHARED", "") == "1"


def _session_scope(spark: SparkSession) -> str:
    """Return the session tag AND, on a session change, evict per-session
    cache entries left by the previous (stopped) session: tag-keyed
    ``_PAIRS_SHARED`` checkpoints, the ``_SWEPT`` ledger, and the shipped
    markers in ``sources/parquet``. One live session at a time is the
    actual usage pattern, so anything tagged otherwise is dead weight."""
    global _LIVE_TAG
    tag = _session_tag(spark)
    if tag != _LIVE_TAG:
        old = _LIVE_TAG
        _LIVE_TAG = tag
        for k in [k for k in _PAIRS_SHARED if k[0] != tag]:
            del _PAIRS_SHARED[k]
        for k in [k for k in _SWEPT if k[0] != tag]:
            _SWEPT.discard(k)
        if old is not None:  # session-tagged trained-state entries (staging)
            for k in [k for k in _TRAINED_STATE_MEMO if k[0] == old]:
                del _TRAINED_STATE_MEMO[k]
    return tag


def _shared(memo: dict, key: tuple, leg: str, compute: Callable[[], object]):
    """Central gate for every cross-query shared artifact (trained driver
    state in ``_TRAINED_STATE_MEMO``, checkpointed DataFrames in
    ``_PAIRS_SHARED``): honors the ``SPARK_GRAFT_NO_SHARED`` bypass and
    reports hit/compute events to ``_SHARED_TRACE``."""
    if _shared_bypass():
        if _SHARED_TRACE is not None:
            _SHARED_TRACE.append((leg, "compute"))
        return compute()
    if key in memo:
        if _SHARED_TRACE is not None:
            _SHARED_TRACE.append((leg, "hit"))
        return memo[key]
    val = compute()
    if _SHARED_TRACE is not None:
        _SHARED_TRACE.append((leg, "compute"))
    memo[key] = val
    return val


#: one CHECKPOINTED near-dup pair graph per (session, corpus), shared by
#: the graph-metric battery; distinct from _TRAINED_STATE_MEMO — pairs
#: grow with the corpus, so they are held as distributed checkpoint
#: blocks (executor memory), never collected driver rows
_PAIRS_SHARED: dict[tuple, "DataFrame"] = {}


def release_transient_checkpoints(spark: SparkSession) -> int:
    """Deterministically drop every persistent RDD that is NOT a live
    memoized shared leg, returning how many were released.

    localCheckpoint blocks otherwise release only when the JVM Dataset
    is garbage-collected AND the ContextCleaner notices — in a cold
    (``SPARK_GRAFT_NO_SHARED=1``) sweep every heavy query re-checkpoints
    its own pair graphs 2–3×, and the accumulated blocks degraded the
    TAIL of a 298-query run ~4× until a per-query ``System.gc()`` nudge
    was added (round 9). This is the deterministic replacement (VERDICT
    r9 item #5): the shared-state layer knows exactly which checkpoints
    it owns (``_PAIRS_SHARED`` values — the only memo holding
    DataFrames), so everything else in ``getPersistentRDDs`` is a dead
    per-query transient and can be unpersisted NOW instead of at GC
    time. Call ONLY at a quiescent point (no job in flight): reading an
    unpersisted localCheckpoint fails rather than recomputes, which is
    also why live legs are id-protected, not pattern-matched.

    OWNERSHIP CAVEAT: only ``_PAIRS_SHARED`` legs are protected — a
    caller that persisted ITS OWN DataFrames in the same session and
    then calls this will lose those blocks (and a localCheckpoint among
    them would fail hard on next read, not recompute).  This is a
    bench/engine-owned-session tool by contract; nothing outside the
    bench harness calls it, and nothing else should.

    FAIL CLOSED (ADVICE r10): if any live shared leg's RDD id cannot be
    extracted (py4j hiccup mid-bench), the sweep is SKIPPED entirely
    rather than run with an incomplete protected set — unpersisting a
    live leg's localCheckpoint would surface later as an obscure
    block-not-found crash on the next warm-leg query, which is strictly
    worse than one round of leaked transients.  A skipped sweep returns
    the sentinel ``-1`` and emits a stderr warning (ADVICE r11: 0 was
    indistinguishable from 'nothing to release', so a round that
    silently skipped every sweep would reaccumulate the leak with no
    signal; bench.py counts the sentinels into BENCH_FULL).
    """
    protected = set()
    for df in _PAIRS_SHARED.values():
        try:
            # a checkpointed Dataset's analyzed plan IS the LogicalRDD
            # holding the persistent RDD
            protected.add(df._jdf.queryExecution().analyzed().rdd().id())
        except Exception:
            # cannot prove this leg safe -> cannot prove the sweep safe
            print(
                "release_transient_checkpoints: SKIPPED (live leg id "
                "unprovable) — transients leak this round",
                file=sys.stderr,
            )
            return -1
    released = 0
    try:
        it = (
            spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
        )
        stale = []
        while it.hasNext():
            e = it.next()
            if e.getKey() not in protected:
                stale.append(e.getValue())
        for jrdd in stale:
            jrdd.unpersist(False)
            released += 1
    except Exception:  # py4j hiccup must never fail the caller
        pass
    return released


def _neardup_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-Jaccard near-dup pair graph, computed ONCE per (session,
    corpus) and localCheckpoint-pinned for the whole graph battery (CC,
    LPA, modularity, PageRank, k-core, BFS, triangles, clustering coef,
    assortativity, degree histogram, keep-best): the 'materialize the
    candidate graph once, run the metrics over it' shape a production
    pipeline uses — the shingle-index self-join is the corpus-sized leg,
    and recomputing it per metric is pure waste. The checkpoint is
    distributed blocks (scale-legal), not driver state; holding the
    DataFrame reference here keeps the blocks alive across the harness's
    per-query cache clears."""
    return _shared(
        _PAIRS_SHARED,
        (_session_scope(spark), sf_dir, "neardup_pairs"),
        "neardup_pairs",
        lambda: dd.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True),
    )


def _minhash_sigs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash signature table (doc_id, mh), computed once per
    (session, corpus) and checkpoint-pinned for the LSH family
    (q_dedup_minhash_lsh, q_lsh_recall's found leg, q_stream_lsh_dedup's
    batch verdict side) — same distributed-share contract as
    ``_neardup_pairs_shared``: the shingle+hash pass is the corpus-sized
    leg; the signatures are k small ints per doc."""
    return _shared(
        _PAIRS_SHARED,
        (_session_scope(spark), sf_dir, "minhash_sigs"),
        "minhash_sigs",
        lambda: dd.minhash_signatures(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True),
    )


def _sf_tag(sf_dir: str) -> str:
    """Catalog-safe tag for a test-data directory ('/…/sf0.1' →
    'sf0_1_<fp>'), used to name the PERSISTENT deterministic staging
    tables the replay-idempotent sink queries reuse across invocations.

    The tag folds in an INPUT FINGERPRINT — md5 over the full directory
    path plus every top-level entry's (name, size, mtime_ns) — so a
    regenerated fixture, or two different directories sharing a basename
    (/a/sf0.1 vs /b/sf0.1), gets its own staging tables instead of
    silently replay-skipping onto tables staged from other data
    (ADVICE round 7, medium)."""
    import hashlib
    import os as _os

    # Lowercase: Spark lowercases table names in the catalog, so a
    # mixed-case tag would never match during the stale-staging sweep and
    # each new session would drop the live fixture's own staging tables
    # (ADVICE round 8, low).
    base = sf_dir.rstrip("/").rsplit("/", 1)[-1].lower()
    safe = "".join(c if c.isalnum() else "_" for c in base)
    h = hashlib.md5(_os.path.abspath(sf_dir).encode())
    try:
        for e in sorted(_os.scandir(sf_dir), key=lambda e: e.name):
            st = e.stat()
            h.update(f"|{e.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    except OSError:  # pragma: no cover — nonexistent dir in unit tests
        pass
    return f"{safe}_{h.hexdigest()[:8]}"


def _drop_staged(
    spark: SparkSession,
    tag: str,
    prefix: str,
    live_prefix: str | None = None,
    live_tag: str | None = None,
) -> None:
    """Once per session: sweep (a) any leftover ``prefix``-named staging
    tables an older (pre-persistent-staging) process left in the
    warehouse, and (b) when ``live_prefix``/``live_tag`` are given,
    ``live_prefix`` tables staged under a STALE input fingerprint — a
    regenerated fixture yields a new ``_sf_tag`` suffix, and without this
    sweep each regeneration would orphan the previous table set forever
    (the unbounded-growth class the session eviction also fixes)."""
    key = (_session_tag(spark), tag)
    if key in _SWEPT:
        return
    _SWEPT.add(key)
    for t in spark.catalog.listTables("default"):
        if t.name.startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS default.{t.name}")
        elif (
            live_prefix is not None
            and t.name.startswith(live_prefix)
            # catalog names are lowercase — match case-insensitively so a
            # live tag is never mistaken for stale (ADVICE round 8, low)
            and (live_tag or "").lower() not in t.name.lower()
        ):
            spark.sql(f"DROP TABLE IF EXISTS default.{t.name}")


def _emb_cells_k(spark: SparkSession, sf_dir: str) -> int:
    """Memoized k ∝ √N cell count (similarity.cells_for) for the pair
    queries; the oracle twin is similarity.duck_cells_expr()."""
    return _shared(  # type: ignore[return-value]
        _TRAINED_STATE_MEMO,
        (sf_dir, "cells_k"),
        "cells_k",
        lambda: sim.cells_for(load_table(spark, sf_dir, "embeddings").count()),
    )


def _kmeans_centroids_cached(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    iters: int = 2,
    train_budget: int | None = None,
) -> list:
    return _shared(  # type: ignore[return-value]
        _TRAINED_STATE_MEMO,
        (sf_dir, k, iters, train_budget),
        f"kmeans_centroids_k{k}",
        lambda: sim.kmeans_centroids(
            load_table(spark, sf_dir, "embeddings"),
            k=k,
            iters=iters,
            train_budget=train_budget,
        ),
    )


def _bpe_rules_cached(spark: SparkSession, sf_dir: str, rounds: int = 3) -> list:
    """Memoized BPE merge rules (driver strings, deterministic per
    corpus+rounds) shared by the train/apply/fertility queries — same
    rationale as the k-means centroid memo."""
    return _shared(  # type: ignore[return-value]
        _TRAINED_STATE_MEMO,
        (sf_dir, "bpe_rules", rounds),
        "bpe_rules",
        lambda: [
            (r.left_sym, r.right_sym)
            for r in tx.bpe_train_merges(
                load_table(spark, sf_dir, "documents"), rounds
            ).collect()
        ],
    )


def _pq_books_cached(
    spark: SparkSession, sf_dir: str, m: int = 4, k: int = 16
) -> list:
    """Memoized PQ codebooks (m·k·(dim/m) driver ints, deterministic per
    corpus+m+k) — same rationale as the k-means centroid memo.  Round 12:
    SAMPLE-TRAINED on the max(256, 16·k) md5-smallest ids (the r11
    semdedup-cells pattern applied to PQ — SCALE.md §16 measured
    full-corpus Lloyd as ~80 % of the 10 000× q_pq_encode wall); every
    consumer's encode/ADC pass stays full-corpus, and the oracles carry
    the same budget through ``sample_budget``."""
    b = sim.train_budget_for(k)
    return _shared(  # type: ignore[return-value]
        _TRAINED_STATE_MEMO,
        (sf_dir, "pq_books", m, k, b),
        "pq_codebooks",
        lambda: sim.pq_codebooks(
            load_table(spark, sf_dir, "embeddings"), m=m, k=k, train_budget=b
        ),
    )


def _kmeans_assignment(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    iters: int = 2,
    train_budget: int | None = None,
) -> DataFrame:
    """The shared final assignment: one argmin pass over memoized
    centroids, CHECKPOINTED once per session — rebuilding the plan per
    query costs ~2 s of pure Catalyst work (the k×dim nested literal
    inside higher-order functions is expensive to re-analyze) and each
    consumer re-executed the interpreted argmin pass besides; the
    checkpoint (distributed blocks, |corpus| narrow rows — the same
    share contract as _PAIRS_SHARED) pays both once."""
    return _shared(
        _PAIRS_SHARED,
        (_session_scope(spark), sf_dir, k, iters, train_budget, "assign_df"),
        f"kmeans_assign_k{k}",
        lambda: sim.kmeans_assign(
            load_table(spark, sf_dir, "embeddings"),
            k=k,
            iters=iters,
            centroids=_kmeans_centroids_cached(
                spark, sf_dir, k, iters, train_budget
            ),
        ).localCheckpoint(eager=True),
    )

# Pipeline roles on the fixtures (FIXTURES.md §1): shard column, sort
# column, upsert equality field per table.
ORDERS_SHARD, ORDERS_SORT, ORDERS_KEY = "o_orderpriority", "o_orderdate", "o_orderkey"
EVENTS_SHARD, EVENTS_SORT, EVENTS_KEY = "event_type", "ts", "event_id"

_ORDERS_OUT = """o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority"""


def _orders_out(df: DataFrame) -> DataFrame:
    """Canonical comparable projection of an orders-shaped DataFrame."""
    return df.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        ts_ms("o_orderdate").alias("o_orderdate_ms"),
        "o_orderpriority",
    )


def _events_out(df: DataFrame) -> DataFrame:
    return df.select(
        "event_id",
        ts_ms("ts").alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference pipeline as one deterministic batch query
    (SURVEY.md §2.6) — snowflake-like staging of sf0.001 ``orders`` → cast
    projection (O9) → per-shard top-N pages (O3+O6) → last-writer-wins
    upsert dedup (O12) → ingested DataFrame."""
    orders = load_table(spark, SF_SMOKE, "orders")
    typed = snowflake_like_typed(orders)  # PRICE,CATEGORY,NAME,UPDATED_AT
    topn = ops.shard_fanout_topn(
        typed, "CATEGORY", "UPDATED_AT", "NAME", n=50, descending=True
    )
    merged = ops.merge_upsert(
        topn.drop("rn"), ["NAME"], "UPDATED_AT", tiebreakers=["PRICE"]
    )
    return merged.select(
        F.col("NAME").alias("order_key"),
        F.col("CATEGORY").alias("category"),
        F.col("PRICE").alias("price"),
        ts_ms("UPDATED_AT").alias("updated_at_ms"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_distinct_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2 (ColumnSource.java:42,47): distinct shard values + column name."""
    return ops.distinct_shards(load_table(spark, sf_dir, "customer"), "c_mktsegment")


def q_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched-rank shard rebalance round (shards.rebalance_plan): one
    partial agg to the shard dimension, x-k-scaled integer surpluses (the
    mean never floats), i-th surplus paired with i-th deficit — the
    skew-repair plan for the reference's per-shard keyed pipeline."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.shards import (
        rebalance_plan,
    )

    # lang is the skewed shard dimension of the fixture (en dominates);
    # source is near-uniform and would plan zero moves
    return rebalance_plan(load_table(spark, sf_dir, "documents"), "lang")


def q_shard_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 WHERE (SnowflakeProcessFunction.java:93-97): one equality predicate."""
    orders = load_table(spark, sf_dir, "orders")
    return _orders_out(ops.shard_filter(orders, ORDERS_SHARD, "1-URGENT"))


def q_page_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 LIMIT/OFFSET (SnowflakeProcessFunction.java:93-94), deterministic
    via row_number over (sort, key)."""
    orders = load_table(spark, sf_dir, "orders")
    pg = ops.page(
        orders, ORDERS_SHARD, "1-URGENT", ORDERS_SORT, ORDERS_KEY, offset=100, size=100
    )
    return pg.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        ts_ms("o_orderdate").alias("o_orderdate_ms"),
        "o_orderpriority",
        "rn",
    )


def q_incremental_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6+O7 completeness: union of successive pages == the full shard."""
    orders = load_table(spark, sf_dir, "orders")
    total = ops.shard_filter(orders, ORDERS_SHARD, "1-URGENT").count()
    # ~6 pages at any scale factor: page size scales with the shard so the
    # plan stays a bounded union (completeness is independent of page size).
    size = max(500, -(-total // 6))
    n_pages = max(1, -(-total // size))
    un = ops.pages_union(
        orders, ORDERS_SHARD, "1-URGENT", ORDERS_SORT, ORDERS_KEY, size, n_pages
    )
    return _orders_out(un.drop("rn"))


def q_cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 (SnowflakeToRowDataMapFunction.java:61-85): all-string staging view
    cast to the typed target schema through the whitelist."""
    typed = snowflake_like_typed(load_table(spark, sf_dir, "orders"))
    return typed.select(
        F.col("PRICE").alias("price"),
        F.col("CATEGORY").alias("category"),
        F.col("NAME").alias("order_key"),
        ts_ms("UPDATED_AT").alias("updated_at_ms"),
    )


def q_highwater_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 as a mutation-safe watermark: events beyond each shard's max(ts)
    from a first slice (ts < 2024-01-20)."""
    events = load_table(spark, sf_dir, "events")
    baseline = events.filter(F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
    inc = ops.highwater_increment(events, baseline, EVENTS_SHARD, EVENTS_SORT)
    return _events_out(inc)


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 upsert (IcebergSinkBuilder.java:36-38) batch form: last-writer-
    wins per equality key by version desc."""
    events = load_table(spark, sf_dir, "events")
    merged = ops.merge_upsert(
        events, [EVENTS_KEY], EVENTS_SORT, tiebreakers=["user_id", "value"]
    )
    return _events_out(merged)


def q_overwrite_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 overwrite (IcebergSinkBuilder.java:39-40) batch form: replace one
    identity partition's rows with a recomputed slice."""
    orders = load_table(spark, sf_dir, "orders")
    replacement = orders.withColumn("o_orderstatus", F.lit("REPLACED"))
    out = ops.overwrite_partition(orders, replacement, ORDERS_SHARD, "3-MEDIUM")
    return _orders_out(out)


def q_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 (IcebergTableManager.java:75-81): identity-partition row counts."""
    return ops.partitioned_layout(load_table(spark, sf_dir, "orders"), ORDERS_SHARD)


def q_shard_fanout_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3+O6 composed (StreamingJob.java:95-103): per-shard top-10 by sort
    column — the whole fan-out pipeline as one query."""
    orders = load_table(spark, sf_dir, "orders")
    top = ops.shard_fanout_topn(
        orders, ORDERS_SHARD, ORDERS_SORT, ORDERS_KEY, n=10, descending=True
    )
    return top.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        ts_ms("o_orderdate").alias("o_orderdate_ms"),
        "o_orderpriority",
        "rn",
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min) of events per user — batch twin of
    the streaming session_window operator."""
    events = load_table(spark, sf_dir, "events")
    return ops.session_stats(events, "user_id", EVENTS_SORT, EVENTS_KEY, 1800)


# ---------------------------------------------------------------------------
# north-star extension queries (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

#: queries with no SQL-expressible oracle; empty — even the approximate
#: operators (LSH / IVF) are deterministic given their seeded constants,
#: so their oracles replay the same plane/centroid math in SQL.
NO_ORACLE: tuple[str, ...] = ()

PROBE_IDS = list(range(10))


def q_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema enrichment: orders ⋈ broadcast(customer⋈nation⋈region),
    revenue per (region, segment) — the join/agg category the reference
    lacks (SURVEY.md §2.3)."""
    return rel.enrich_orders(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted equi-join (hot keys spread over 8 reducers);
    result must be identical to the plain join the oracle runs."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return (
        rel.salted_join(orders, cust, "o_custkey", salt=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.priority_rollup(load_table(spark, sf_dir, "orders"))


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for mean order value per segment
    (rel.poisson_bootstrap): 16 hash-deterministic Poisson(1) replicate
    weights folded into ONE conditional partial-agg pass, replicate
    means rank-picked into a 90% interval — the distributed bootstrap,
    fully replayable by the oracle."""
    return rel.poisson_bootstrap(load_table(spark, sf_dir, "orders"))


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (rel.rfm_segments): recency/frequency/
    monetary quintiles via the shared two-phase parallel ntile over the
    customer dimension, 125-cell rollup with behavioral labels — the
    classic marketing-analytics kernel, plain-window oracle."""
    return rel.rfm_segments(load_table(spark, sf_dir, "orders"))


def q_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue bridge (rel.mix_shift): per-segment
    volume / rate / interaction decomposition that reconciles exactly to
    the revenue delta — one conditional partial agg over orders, IEEE
    bit-identical effect arithmetic in both engines."""
    return rel.mix_shift(load_table(spark, sf_dir, "orders"))


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.cube_summary(load_table(spark, sf_dir, "orders"))


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (layout.compaction_plan): next-fit
    bin-pack of a deterministic file inventory into target-sized rewrite
    groups — the OPTIMIZE/rewrite_data_files maintenance step, run over
    metadata only."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        compaction_plan,
    )

    return compaction_plan(load_table(spark, sf_dir, "events"))


def q_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/lag/lead/ntile in one windowed pass."""
    return rel.window_battery(load_table(spark, sf_dir, "orders"))


def q_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string/date/math/JSON scalar functions, one codegen'd projection."""
    return rel.scalar_battery(load_table(spark, sf_dir, "events"))


def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape over the volume fixture (bench headline)."""
    return rel.lineitem_pricing(load_table(spark, sf_dir, "lineitem"))


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filtered 3-way join → agg → top-k."""
    out = rel.shipping_priority(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "lineitem"),
    )
    return out.select(
        "l_orderkey", ts_ms("o_orderdate").alias("o_orderdate_ms"), "revenue"
    )


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window frame (rows unbounded preceding), computed as a
    two-phase parallel prefix sum over exact cents
    (ranks.grouped_running_sum) — no per-group single-reducer frame."""
    return rel.running_revenue(load_table(spark, sf_dir, "orders"))


def q_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.global_topk(load_table(spark, sf_dir, "orders"), k=25)


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card (text.dataset_card): corpus size, token
    volume, language spread, exact-dup rate, emptiness — the release
    stats every training-data pipeline records; single scan + one
    distinct-content shuffle, integers/rationals throughout."""
    return tx.dataset_card(load_table(spark, sf_dir, "documents"))


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rel.segment_counts_setops(load_table(spark, sf_dir, "customer"))


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window (1h) counts+sums per event_type — batch
    twin of the streaming windowed aggregation (streaming/windows.py)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.windows import (
        tumbling_counts,
    )

    return tumbling_counts(load_table(spark, sf_dir, "events"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via hash group-by, keeping min doc_id."""
    return dd.exact_dedup(load_table(spark, sf_dir, "documents"))


def _dedup_survivors_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``dedup_corpus`` survivor id set, checkpointed once per
    (session, corpus) and shared by the standalone dedup query and the
    composed curation pipeline — same distributed-share contract as
    ``_neardup_pairs_shared``."""
    return _shared(
        _PAIRS_SHARED,
        (_session_scope(spark), sf_dir, "dedup_survivors"),
        "dedup_survivors",
        lambda: dd.dedup_corpus(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True),
    )


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup: exact + near-dup greedy earliest-wins."""
    return _dedup_survivors_shared(spark, sf_dir)


def q_part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimension broadcast join (TPC-H Q9 family shape)."""
    return rel.part_type_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_count(load_table(spark, sf_dir, "documents"))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.text_stats(load_table(spark, sf_dir, "documents"))


def q_token_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counts (letter/digit/punct token classes)."""
    return tx.token_classes(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.lang_id(load_table(spark, sf_dir, "documents"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_score(load_table(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprint(load_table(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_pairs_shared(spark, sf_dir)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        sigs=_minhash_sigs_shared(spark, sf_dir),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash(load_table(spark, sf_dir, "documents"))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming ≤ 3 near-dup pairs over the 60-bit SimHash, candidates via
    the 4×15-bit banding self-join (Manku et al. WWW'07 layout)."""
    return dd.simhash_pairs(load_table(spark, sf_dir, "documents"))


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.topk_cosine_bruteforce(
        load_table(spark, sf_dir, "embeddings"), PROBE_IDS, k=5
    )


def q_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold calibrated to the fixture (max within-label cosine ≈ 0.51,
    # no planted semantic dups): 0.30 yields a ~50-row value-checked
    # result; production near-dup would use the 0.9 default. Candidates
    # come from LSH sign-bit buckets (Hamming ≤ 1), label is a secondary
    # equi-key — the oracle replays the same seeded planes.
    return sim.neardup_embedding_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.30
    )


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.lsh_topk_cosine(
        load_table(spark, sf_dir, "embeddings"), PROBE_IDS, k=5
    )


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with deterministic seed centroids — approximate by cell
    restriction yet exactly oracle-checkable (deterministic assignment)."""
    return sim.ivf_topk_cosine(
        load_table(spark, sf_dir, "embeddings"), PROBE_IDS, k=5
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.temporal.asof_join): each click attaches the
    most recent purchase at-or-before it by the same user. Union +
    running-last — one shuffle on user_id, no inequality join. DuckDB twin
    is a literal ASOF LEFT JOIN. Purchases are pre-deduped at identical
    (user_id, ts) so tie resolution is deterministic on both sides."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "ts").orderBy(
                    F.col("event_id").desc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = tp.asof_join(
        clicks,
        purch,
        "user_id",
        "ts",
        "purchase_ts",
        ["purchase_id", "purchase_value", "purchase_ts"],
        how="left",
    )
    return joined.select(
        "event_id",
        "user_id",
        ts_ms("ts").alias("ts_ms"),
        "value",
        "purchase_id",
        "purchase_value",
        ts_ms("purchase_ts").alias("purchase_ts_ms"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (operators.temporal.interval_join): error↔click pairs
    by the same user within ±1 hour — Flink intervalJoin semantics as a
    bucketed equi-join (no nested-loop product)."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("error_ts"),
        F.col("event_id").alias("error_id"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    joined = tp.interval_join(
        errors, clicks, "user_id", "error_ts", "click_ts", -3_600_000, 3_600_000
    )
    return joined.select(
        "user_id",
        "error_id",
        "click_id",
        ts_ms("error_ts").alias("error_ts_ms"),
        ts_ms("click_ts").alias("click_ts_ms"),
    )


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text cleanup (text.normalize_text): lower + trim +
    whitespace collapse, with a changed flag."""
    return tx.normalize_text(load_table(spark, sf_dir, "documents"))


def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 word bigrams by document frequency (text.bigram_topk)."""
    return tx.bigram_topk(load_table(spark, sf_dir, "documents"), k=100)


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (text.pmi_collocations): association-ranked
    adjacent word pairs — exact integer counts, single ln of exact
    operands, rounded-then-ranked TakeOrdered top-k."""
    return tx.pmi_collocations(load_table(spark, sf_dir, "documents"))


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal sample allocation across sources
    (sampling.neyman_allocation): exact per-stratum moment aggregates in
    one corpus pass, sigma-weighted vs proportional budgets over the
    strata-sized table — the sampling-design step before
    q_stratified_sample draws."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sampling import (
        neyman_allocation,
    )

    return neyman_allocation(load_table(spark, sf_dir, "documents"))


def q_lix_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIX readability grade per doc (text.lix_readability): exact word/
    sentence/long-word counts in one scan-fused projection, one rounded
    grade + difficulty band — the language-agnostic readability gate."""
    return tx.lix_readability(load_table(spark, sf_dir, "documents"))


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix vs the labeled lang column
    (text.langid_confusion): the classifier eval a curation gate needs
    before predictions drive filtering — exact cell counts, windowed
    margins on the langs^2 table, per-language recall on the diagonal."""
    return tx.langid_confusion(load_table(spark, sf_dir, "documents"))


def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL(source||corpus) over hashed unigram buckets
    (text.source_kl): one token pass, margins as windows over the
    bucket table, ln of exact integers — the source-level drift monitor
    next to q_keyness's term-level contrast."""
    return tx.source_kl(load_table(spark, sf_dir, "documents"))


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (text.rake_keyphrases): stopword-bounded
    candidate phrases, integer-scaled degree/frequency word scores (exact
    integer phrase sums — no float order anywhere), rounded-then-ranked
    top-25 — the multi-word complement of q_pmi_collocations."""
    return tx.rake_keyphrases(load_table(spark, sf_dir, "documents"))


def _token_counts_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, n_tokens) projection, checkpointed once per (session,
    corpus) for the packing/sharding family — same distributed-share
    contract as ``_neardup_pairs_shared``: the tokenize scan is the
    corpus-sized leg both consumers repeat."""
    return _shared(
        _PAIRS_SHARED,
        (_session_scope(spark), sf_dir, "token_counts"),
        "token_counts",
        lambda: tx.token_count(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "n_tokens")
        .localCheckpoint(eager=True),
    )


def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serpentine sequence packing (sampling.pack_bins): length-ranked
    docs dealt into 8 balanced training bins; token counts from the
    shared checkpoint."""
    return smp.pack_bins(_token_counts_shared(spark, sf_dir), n_bins=8)


def q_token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget contiguous sharding (sampling.token_budget_shards):
    shard boundary every 10k tokens of doc-id-ordered cumulative count —
    the parallel-prefix-sum sibling of q_pack_bins' global rank; per-shard
    manifest output; token counts from the shared checkpoint."""
    return smp.token_budget_shards(
        _token_counts_shared(spark, sf_dir), capacity=10_000
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language carve-out (sampling.stratified_take):
    the 20 smallest-hash docs per lang."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return smp.stratified_take(docs, "lang", "doc_id", 20)


def q_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment (text.sentiment): per-doc pos/neg counts, exact
    unrounded polarity, sign label — one codegen'd projection."""
    return tx.sentiment(load_table(spark, sf_dir, "documents"))


def q_ts_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series top-k similar users (timeseries.topk_similar_users):
    cosine over integer daily-activity vectors — exact cross-engine."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        topk_similar_users,
    )

    return topk_similar_users(load_table(spark, sf_dir, "events"), 0, 10)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (sampling.hash_split):
    membership is a pure function of the doc key — stable across runs,
    partitionings, and engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return smp.hash_split(docs, "doc_id")


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% downsample by key hash (sampling.hash_sample)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return smp.hash_sample(docs, "doc_id", 0.1)


def q_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch training-order reshuffle (sampling.epoch_order): each
    epoch ranks the corpus by h32(salt:epoch:key) — reproducible,
    engine-agnostic, decorrelated across epochs; the head slice is the
    checkpoint-verification record. Key-only explode + map-side
    WindowGroupLimit."""
    return smp.epoch_order(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((priority),(status)) in one Expand + partial-agg
    pass (relational.priority_status_slices)."""
    return rel.priority_status_slices(load_table(spark, sf_dir, "orders"))


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline (operators.curation): lang-ID +
    quality gate + exact/near-dup removal → surviving docs with stats.
    Oracle = the SAME stages' oracle SQL composed, by construction. The
    dedup leg reuses the shared survivor checkpoint."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.curation import (
        curate_corpus,
    )

    return curate_corpus(
        load_table(spark, sf_dir, "documents"),
        survivors=_dedup_survivors_shared(spark, sf_dir),
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (text.vocab): top-100 tokens by frequency —
    explode + one partial-agg shuffle + TakeOrderedAndProject."""
    return tx.vocab(load_table(spark, sf_dir, "documents"), k=100)


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit (text.zipf_fit): OLS of ln(freq) on ln(rank) over
    the top-100 vocabulary — slope/intercept/R² from algebraic moments of
    the k-row relation; the only corpus-sized work is vocab's one
    explode+groupBy shuffle."""
    return tx.zipf_fit(load_table(spark, sf_dir, "documents"), k=100)


def q_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language unigram entropy + perplexity (text.lang_entropy):
    H = ln(T) − (Σ c·ln c)/T over the (lang, token) counts — one explode
    partial-agg shuffle, type-sized reductions."""
    return tx.lang_entropy(load_table(spark, sf_dir, "documents"))


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact group percentiles (relational.group_percentiles): interpolated
    p50/p95/p99, same (n-1)*q formula as DuckDB quantile_cont."""
    return rel.group_percentiles(load_table(spark, sf_dir, "lineitem"))


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (similarity.label_centroids):
    posexplode + map-side partial avg per (label, dim)."""
    return sim.label_centroids(load_table(spark, sf_dir, "embeddings"))


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per doc (text.tfidf_topk): log-free N/df idf so
    the score is an exact rational; vocab side broadcast onto tf."""
    return tx.tfidf_topk(load_table(spark, sf_dir, "documents"), k=5)


def q_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keyness (text.keyness_chi2): top-5 over-represented
    terms per source by exact chi² on the doc-frequency 2×2 table —
    DECIMAL(38,0)/HUGEINT integer products, one final double division,
    rounded-then-ranked so both engines agree. Corpus-contrastive slice
    profiling TF-IDF can't express."""
    return tx.keyness_chi2(load_table(spark, sf_dir, "documents"), k=5)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 docs for a 3-term query (text.bm25_topk): log-free
    Robertson idf + k1/b saturation folded into pure integer rationals,
    per-term 1e-6 quantization, bigint sum — exact in both engines."""
    return tx.bm25_topk(load_table(spark, sf_dir, "documents"))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (text.repetition_stats): duplicate
    token / 3-gram fractions per doc, repetitive flag."""
    return tx.repetition_stats(load_table(spark, sf_dir, "documents"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (text.chunk_documents): 32-token windows every
    24 tokens, content-checked via the chunk h32."""
    return tx.chunk_documents(load_table(spark, sf_dir, "documents"))


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature rebalancing weights (sampling.temperature_weights):
    p_l ∝ n_l^0.25 per language — sqrt∘sqrt for cross-engine exactness."""
    return smp.temperature_weights(load_table(spark, sf_dir, "documents"))


def q_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI / LEFT ANTI existence joins (relational.order_coverage):
    per-segment customers with vs without orders."""
    return rel.order_coverage(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (similarity.quantize_embeddings): exact
    integer quantized norms + sequential-fold reconstruction error."""
    return sim.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time sliding window (streaming.windows.sliding_avg): 1 h
    windows every 30 min per event_type — batch twin of the streaming
    hopping aggregation."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.windows import (
        sliding_avg,
    )

    return sliding_avg(load_table(spark, sf_dir, "events"))


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token sketch (sketch.hll_distinct_tokens):
    256 registers, harmonic-mean estimator + linear-counting small-range
    correction, audited against the exact distinct count — the mergeable
    fixed-memory cardinality sketch of the 100 TB path."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        hll_distinct_tokens,
    )

    return hll_distinct_tokens(load_table(spark, sf_dir, "documents"))


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-token sketch (operators.sketch): deterministic
    approximate count-distinct with an exact oracle — estimate and exact
    count side by side."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        kmv_distinct_tokens,
    )

    return kmv_distinct_tokens(load_table(spark, sf_dir, "documents"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-Jaccard near-dup pairs
    (dedup.connected_components): iterative hash-min label propagation;
    oracle = recursive-CTE transitive closure over the same pair SQL."""
    return dd.connected_components(_neardup_pairs_shared(spark, sf_dir))


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the exact-Jaccard
    near-dup pairs (dedup.label_propagation): mode-of-neighbors with
    deterministic min-label ties, 2 unrolled rounds replayed exactly by
    the oracle CTEs — the finer-grained sibling of q_dedup_clusters."""
    return dd.label_propagation(_neardup_pairs_shared(spark, sf_dir))


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities
    (dedup.modularity): per-community intra-edge/degree integer stats
    over the common 4m^2 denominator plus the __total__ Q row — the
    is-the-structure-real check on q_label_prop's partition."""
    return dd.modularity(_neardup_pairs_shared(spark, sf_dir))


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern funnel view→click→purchase per user
    (sessions.funnel) — batch twin of Flink CEP followedBy chains."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        funnel,
    )

    return funnel(load_table(spark, sf_dir, "events"))


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle (sessions.retention_cohorts)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        retention_cohorts,
    )

    return retention_cohorts(load_table(spark, sf_dir, "events"))


def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM plausibility score per doc (text.unigram_lm_score):
    integer-sum corpus frequencies, one division at the end."""
    return tx.unigram_lm_score(load_table(spark, sf_dir, "documents"))


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment pairs (dedup.containment_pairs):
    sub-document duplication both directions."""
    return dd.containment_pairs(load_table(spark, sf_dir, "documents"))


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with a declared value domain (relational.user_event_pivot):
    per-user event-type count matrix in one shuffle."""
    return rel.user_event_pivot(load_table(spark, sf_dir, "events"))


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of order totals (relational.price_histogram)."""
    return rel.price_histogram(load_table(spark, sf_dir, "orders"))


def q_distinct_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregates per priority (relational.distinct_aggs)."""
    return rel.distinct_aggs(load_table(spark, sf_dir, "orders"))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal decode stage inside the correctness gate: fixture
    text re-encoded as an opaque binary payload, pushed through the REAL
    Arrow-batched mapInPandas decoder (operators.multimodal.decode_media,
    fake codec) — its md5-derived checksum/features are reproduced exactly
    by the SQL oracle, so the Python stage's batching, schema, and
    serialization are value-checked, not just smoke-tested."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.multimodal import (
        decode_media,
    )

    media = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit(None)
        .cast("struct<mime:string,width:int,height:int,duration_ms:bigint>")
        .alias("meta"),
    )
    dec = decode_media(media, fake=True)
    return dec.select(
        "media_id",
        "kind",
        "n_bytes",
        "checksum",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(4)],
    )


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history of each user's event_type state
    (temporal.scd2_history): change-compressed versions with
    [valid_from, valid_to) intervals, one shuffle."""
    return tp.scd2_history(load_table(spark, sf_dir, "events"))


def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-set between the keyed-state snapshot at a cutoff and the
    final snapshot (temporal.snapshot_diff): insert/update/unchanged per
    (user_id, event_type) — the MERGE a sink would apply (O12)."""
    return tp.snapshot_diff(load_table(spark, sf_dir, "events"))


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics battery (relational.corr_stats): corr, covar,
    stddev per return flag in one partial-aggregable pass."""
    return rel.corr_stats(load_table(spark, sf_dir, "lineitem"))


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume anomaly z-scores per event type
    (timeseries.daily_anomaly)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        daily_anomaly,
    )

    return daily_anomaly(load_table(spark, sf_dir, "events"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (curation.decontaminate): training docs
    sharing any hashed 8-gram with the held-out eval split are flagged."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.curation import (
        decontaminate,
    )

    return decontaminate(load_table(spark, sf_dir, "documents"))


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (curation.dsir_weights, arXiv:2302.03169):
    hashed-unigram importance weights of every raw doc against the
    target-language slice — exact integer-ratio Laplace smoothing,
    rounded-then-ranked top-k via TakeOrderedAndProject; the published
    importance-resampling recipe as one Catalyst plan."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.curation import (
        dsir_weights,
    )

    return dsir_weights(load_table(spark, sf_dir, "documents"))


def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit (dedup.minhash_estimate_audit): estimated vs
    exact Jaccard + absolute error for every LSH candidate pair."""
    return dd.minhash_estimate_audit(load_table(spark, sf_dir, "documents"))


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (relational.region_revenue): six-table join graph
    with local-supplier co-location; dims broadcast, facts AQE-planned."""
    return rel.region_revenue(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands consecutive-day streaks per user
    (sessions.activity_streaks): one shuffle, linear fold per user."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        activity_streaks,
    )

    return activity_streaks(load_table(spark, sf_dir, "events"))


def q_cast_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The type-whitelist throw branch (O9,
    SnowflakeToRowDataMapFunction.java:82-83) as routed data
    (schema.cast_deadletter): staging strings with planted corruption;
    rows failing try_cast surface as (key, field, raw) instead of killing
    the job."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.schema import (
        cast_deadletter,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.staging import (
        SNOWFLAKE_LIKE_TYPED,
        snowflake_like,
    )

    staged = snowflake_like(load_table(spark, sf_dir, "orders"))
    corrupted = staged.selectExpr(
        "CASE WHEN cast(NAME as bigint) % 97 = 0 THEN PRICE || 'x' "
        "ELSE PRICE END as PRICE",
        "CATEGORY",
        "NAME",
        "CASE WHEN cast(NAME as bigint) % 89 = 0 THEN 'not-a-date' "
        "ELSE UPDATED_AT END as UPDATED_AT",
    )
    return cast_deadletter(corrupted, SNOWFLAKE_LIKE_TYPED, key="NAME").selectExpr(
        "cast(row_key as bigint) as order_key", "field", "raw"
    )


def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing revenue via a RANGE-framed window over daily totals
    (timeseries.trailing_revenue): calendar-aware, gaps age revenue out."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        trailing_revenue,
    )

    return trailing_revenue(load_table(spark, sf_dir, "orders"))


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 3-step event-type paths across user timelines
    (sessions.event_paths): two shared-sort leads + TakeOrdered top-k."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        event_paths,
    )

    return event_paths(load_table(spark, sf_dir, "events"))


def q_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-estimate audit (sketch.countmin_audit):
    exact vs CMS estimate for the top-20 corpus tokens; deterministic
    salted-h32 buckets make the sketch exactly oracle-checkable."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        countmin_audit,
    )

    return countmin_audit(load_table(spark, sf_dir, "documents"))


def q_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface (battery.string_battery): case/slice/pad/
    search/replace/edit-distance, one codegen'd projection."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        battery,
    )

    return battery.string_battery(load_table(spark, sf_dir, "customer"))


def q_date_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface (battery.date_battery): parts, ISO weekday/week,
    trunc, arithmetic, boundaries — portable definitions only."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        battery,
    )

    return battery.date_battery(load_table(spark, sf_dir, "orders"))


def q_array_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface (battery.array_battery): size/dedup/sort/slice/search
    + set algebra between document halves, order-insensitive outputs."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        battery,
    )

    return battery.array_battery(load_table(spark, sf_dir, "documents"))


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + per-type rollup (battery.json_battery):
    JVM-side get_json_object fused into the scan, partial-agg above."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        battery,
    )

    return battery.json_battery(load_table(spark, sf_dir, "events"))


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window dedup (temporal.window_dedup): earliest event per
    (user, type, 1h window) — batch twin of
    dropDuplicatesWithinWatermark."""
    return tp.window_dedup(load_table(spark, sf_dir, "events"))


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output sharding manifest (sampling.shard_assign):
    content-hash shard id + per-shard count/checksum/key-range."""
    return smp.shard_assign(load_table(spark, sf_dir, "documents"))


def q_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted deterministic corpus mixing audit
    (sampling.interleave_sources): per-source keep rates by salted hash."""
    return smp.interleave_sources(load_table(spark, sf_dir, "documents"))


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index vs exact brute force (similarity.
    ann_recall) — the audit that qualifies an ANN config."""
    return sim.ann_recall(load_table(spark, sf_dir, "embeddings"), PROBE_IDS, k=5)


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of LSH retrieval vs the exact cosine ranking
    (sim.ndcg_audit): graded relevance k+1-exact_rank, position-
    discounted, shared-literal IDCG — the ranking-quality companion of
    q_ann_recall's hit counting."""
    return sim.ndcg_audit(load_table(spark, sf_dir, "embeddings"), PROBE_IDS, k=5)


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-dimension recall audit
    (similarity.matryoshka_recall): recall@10 of 16-dim-prefix cosine
    search against the full 64-dim exact ranking — one corpus scan
    computes both similarities, the intersection is one conditional
    aggregation over the doubly-ranked pairs."""
    return sim.matryoshka_recall(
        load_table(spark, sf_dir, "embeddings"), PROBE_IDS, k=10, prefix_dim=16
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with per-kind match counts (text.redact_pii) over
    deterministically seeded contact strings."""
    return tx.redact_pii(load_table(spark, sf_dir, "documents"))


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-probability table (text.bigram_lm): exact
    integer-ratio P(w2|w1) for bigrams with count >= 5."""
    return tx.bigram_lm(load_table(spark, sf_dir, "documents"))


def q_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency price bucketing (relational.quantile_buckets):
    deterministic ntile + per-bucket stats."""
    return rel.quantile_buckets(load_table(spark, sf_dir, "orders"))


def q_calendar_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification (relational.calendar_fill): per-type daily
    series over a fixed 30-day calendar, gaps as zero rows."""
    return rel.calendar_fill(load_table(spark, sf_dir, "events"))


def q_pair_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph degree distribution (dedup.pair_degree_histogram)
    over the exact Jaccard pair list."""
    return dd.pair_degree_histogram(
        _neardup_pairs_shared(spark, sf_dir)
    )


def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Structured Streaming ingestion runtime end-to-end, as a query:
    stage `orders` as a file-stream source, run the AvailableNow
    foreachBatch upsert pipeline (streaming/ingest.stream_ingest →
    sinks/catalog.CatalogSink), and return the ingested table — which must
    hash-match the source table exactly (upsert of unique keys is the
    identity), so even the streaming path is oracle-checked, not just
    smoke-tested. The stream consumes the source parquet directly
    (pathGlobFilter over sf_dir — no staging copy of `orders`, which was
    the dominant fixed cost); the sink table is localCheckpointed and
    dropped so repeated runs leave no warehouse litter."""
    import os
    import shutil
    import uuid

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.config import (
        IcebergSinkConfig,
        PipelineConfig,
        SnowflakeSourceConfig,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sinks.catalog import (
        CatalogSink,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.ingest import (
        stream_ingest,
    )

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        scratch_dir,
    )

    orders = load_table(spark, sf_dir, "orders")
    # base holds only the stream checkpoint — transient scratch, so it
    # lives on the fast tier (streaming.scratch_root rationale)
    base = scratch_dir("sgq_stream_")
    table = f"q_stream_{uuid.uuid4().hex[:8]}"
    try:
        cfg = PipelineConfig(
            source=SnowflakeSourceConfig(
                table="orders",
                shard_column=ORDERS_SHARD,
                sort_column=ORDERS_SORT,
                query_size=5000,
            ),
            sink=IcebergSinkConfig(
                db="default",
                table_name=table,
                partition_fields=(ORDERS_SHARD,),
                upsert_fields=(ORDERS_KEY, ORDERS_SHARD),
                operation="upsert",
            ),
        )
        q = stream_ingest(
            spark,
            cfg,
            sf_dir,
            os.path.join(base, "ckpt"),
            orders.schema,
            path_glob_filter="orders.parquet",
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("q_stream_ingest did not drain within 300s")
        sink = CatalogSink(spark, cfg.sink)
        ingested = _orders_out(sink.read()).localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS default.{table}")
        shutil.rmtree(base, ignore_errors=True)
    return ingested


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (multimodal.frame_sample) over the
    deterministic fake media table: one row per sampled timestamp, the
    explode fully Catalyst-side; bytes stay opaque (dropped here so the
    oracle compares the sampling plan, not blob encoding)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.multimodal import (
        fake_media_table,
        frame_sample,
    )

    media = fake_media_table(load_table(spark, sf_dir, "documents"))
    return frame_sample(media, every_ms=250).select("media_id", "frame_ts_ms")


def q_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media dedup (multimodal.phash_dedup): the real
    Arrow-batched decode stage feeding an aHash-style bit-pack and a
    hash-key-only duplicate groupBy — image-dedup's standard recipe with
    the whole chain (Python stage included) oracle-value-checked."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.multimodal import (
        fake_media_table,
        phash_dedup,
    )

    return phash_dedup(fake_media_table(load_table(spark, sf_dir, "documents")))


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stage (multimodal.resize_images, Arrow-batched
    mapInPandas with the stubbed codec): images get the target dimensions
    and a pixel-ratio-scaled payload, other kinds pass through — the
    byte-length arithmetic of the fake path is reproduced exactly in SQL,
    so the Python stage sits inside the value-correctness gate."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.multimodal import (
        fake_media_table,
        resize_images,
    )

    media = fake_media_table(load_table(spark, sf_dir, "documents"))
    out = resize_images(media, width=64, height=64)
    return out.select(
        "media_id",
        "kind",
        F.length("content").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def q_pandas_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar vectorized pandas_udf (pandas_ops.quantized_norm_sq): exact
    integer sum-of-squares of the int8-quantized embedding."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.pandas_ops import (
        quantized_norm_sq,
    )

    return quantized_norm_sq(load_table(spark, sf_dir, "embeddings"))


def q_pandas_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (pandas_ops.grouped_minmax_scale):
    per-language integer min-max scaling of doc length."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.pandas_ops import (
        grouped_minmax_scale,
    )

    return grouped_minmax_scale(load_table(spark, sf_dir, "documents"))


def q_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas_udf (pandas_ops.grouped_agg_charsum):
    Python UDAF integer sum next to a JVM count."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.pandas_ops import (
        grouped_agg_charsum,
    )

    return grouped_agg_charsum(load_table(spark, sf_dir, "documents"))


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-once-shuffle-never layout as a query (sinks/bucketed):
    orders and customer are bucketed on the join key at the same bucket
    count, then joined exchange-free (SortMergeJoin, zero shuffles —
    plan-asserted in tests/test_plans.py) and aggregated per segment.
    Result hash-matches the plain join oracle; the temp tables are dropped
    after a localCheckpoint so repeated runs leave no warehouse litter."""
    import uuid

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sinks.bucketed import (
        colocated_join,
        write_bucketed,
    )

    tag = uuid.uuid4().hex[:8]
    t_orders, t_cust = f"qb_orders_{tag}", f"qb_customer_{tag}"
    try:
        write_bucketed(
            load_table(spark, sf_dir, "orders").selectExpr(
                "o_custkey as c_custkey", "o_totalprice"
            ),
            t_orders,
            "c_custkey",
            8,
        )
        write_bucketed(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            t_cust,
            "c_custkey",
            8,
        )
        joined = colocated_join(spark, t_orders, t_cust, "c_custkey")
        out = (
            joined.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_cust}")
    return out


def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join audit per segment (relational.outer_join_coverage)."""
    return rel.outer_join_coverage(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / first·last·nth_value surface
    (relational.window_analytics) over a unique total order."""
    return rel.window_analytics(load_table(spark, sf_dir, "orders"))


def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-min/arg-max aggregates (relational.minmax_by) with a
    tie-impossible exact bigint comparison key."""
    return rel.minmax_by(load_table(spark, sf_dir, "orders"))


def q_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV file source with declared schema + PERMISSIVE quarantine
    (sources/files.read_csv): orders staged as CSV text with every
    97th-key row deterministically malformed; the audit (totals,
    quarantined count, parsed-key checksum) hash-matches an oracle that
    never sees the CSV — the quarantine routing itself is value-checked."""
    import shutil
    import tempfile

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.files import (
        read_csv,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="sgq_csv_")
    try:
        # the malformed token is the KEY field itself: the audit below only
        # references (o_orderkey, _bad), and CSV column pruning parses only
        # referenced columns — corruption in an unreferenced column would
        # never be touched, so it would never be flagged
        orders.selectExpr(
            "CASE WHEN o_orderkey % 97 = 0 THEN concat('#', o_orderkey, '#') "
            "ELSE concat_ws(',', o_orderkey, o_custkey, o_orderstatus, "
            "o_totalprice, date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss'), "
            "o_orderpriority) END as value"
        ).write.mode("overwrite").text(base)
        parsed = read_csv(
            spark,
            base,
            orders.schema,
            header=False,
            mode="PERMISSIVE",
            corrupt_col="_bad",
        )
        out = parsed.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_quarantined"),
            F.sum(
                F.when(F.col("_bad").isNull(), F.col("o_orderkey")).otherwise(0)
            )
            .cast("bigint")
            .alias("sum_keys_parsed"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def q_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with declared schema + PERMISSIVE quarantine
    (sources/files.read_jsonl): events staged as JSONL with every
    89th-key row broken; parse audit hash-checked like q_csv_source."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.files import (
        read_jsonl,
    )

    events = load_table(spark, sf_dir, "events")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    base = tempfile.mkdtemp(prefix="sgq_jsonl_")
    try:
        events.selectExpr(
            "CASE WHEN event_id % 89 = 0 THEN '{broken' ELSE "
            "to_json(named_struct('event_id', event_id, 'user_id', user_id, "
            "'event_type', event_type, 'value', value)) END as value"
        ).write.mode("overwrite").text(base)
        parsed = read_jsonl(
            spark, base, schema, mode="PERMISSIVE", corrupt_col="_bad"
        )
        out = parsed.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_quarantined"),
            F.sum(F.when(F.col("_bad").isNull(), F.col("event_id")).otherwise(0))
            .cast("bigint")
            .alias("sum_keys_parsed"),
            F.round(
                F.sum(
                    F.when(F.col("_bad").isNull(), F.col("value")).otherwise(0.0)
                ),
                2,
            ).alias("sum_value_parsed"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def q_map_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType function surface (battery.map_battery): construction,
    lookup, introspection, concat, transform_values."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        battery,
    )

    return battery.map_battery(load_table(spark, sf_dir, "events"))


def q_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambda surface (battery.higher_order_battery):
    filter/exists/forall/aggregate/zip_with with exact outputs."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        battery,
    )

    return battery.higher_order_battery(load_table(spark, sf_dir, "documents"))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the near-dup graph (dedup.triangle_count):
    oriented-wedge join, each triangle counted once."""
    return dd.triangle_count(
        _neardup_pairs_shared(spark, sf_dir)
    )


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (relational.key_skew_stats): cardinality,
    max/mean per key, skew factor as exact integer ratios."""
    return rel.key_skew_stats(load_table(spark, sf_dir, "orders"))


def q_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training iteration's merge statistic
    (text.bpe_pair_counts): corpus-weighted adjacent character-pair
    counts over the word-frequency table — vocabulary-sized after the
    first aggregation, not corpus-sized."""
    return tx.bpe_pair_counts(load_table(spark, sf_dir, "documents"))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (dedup.incremental_dedup): audit a new batch
    (doc_id % 5 ≠ 0) against an already-curated corpus (doc_id % 5 = 0) —
    exact hashes semi-join, near-dups via ONE side-tagged inverted index,
    O(batch) not O(corpus) re-clustering."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 == 0)
    new = docs.filter(F.col("doc_id") % 5 != 0)
    return dd.incremental_dedup(new, corpus)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-doc selection per near-dup cluster
    (curation.keep_best_per_cluster): CC clustering + quality argmax —
    keep the best copy, not an arbitrary one; reuses the battery's shared
    checkpointed pair graph."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.curation import (
        keep_best_per_cluster,
    )

    return keep_best_per_cluster(
        load_table(spark, sf_dir, "documents"),
        pairs=_neardup_pairs_shared(spark, sf_dir),
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k-core peel of the n-gram-Jaccard near-dup graph
    (dedup.kcore_peel, k=2): drops weakly-linked nodes round by round,
    leaving the dense duplicate mesh with per-node final degrees —
    iterative graph algebra as a static DAG, unrolled-CTE oracle."""
    return dd.kcore_peel(
        _neardup_pairs_shared(spark, sf_dir),
        k=2,
        rounds=3,
    )


def q_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design table (dedup.lsh_s_curve): candidate
    probability 1-(1-t^r)^b and config threshold for every (b, r)
    factorization of the 16-value signature — the analytical design
    counterpart of q_lsh_recall's measurement."""
    return dd.lsh_s_curve(spark)


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LSH-method recall vs the exact near-dup ground truth
    per Jaccard threshold (dedup.lsh_recall_audit) — the measurement that
    justifies banding before deploying it at corpus scale. The exact leg
    reuses the battery's shared pair checkpoint (same 0.2 cut-off)."""
    return dd.lsh_recall_audit(
        load_table(spark, sf_dir, "documents"),
        exact_pairs=_neardup_pairs_shared(spark, sf_dir),
        sigs=_minhash_sigs_shared(spark, sf_dir),
    )


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage audit across the content-hash train/val/test split
    (curation.split_leakage): per held-out split, the fraction of docs
    sharing an 8-gram with any training doc - the governance number that
    decides whether a decontamination pass must run."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.curation import (
        split_leakage,
    )

    return split_leakage(load_table(spark, sf_dir, "documents"))


def q_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space diversity card (similarity.cluster_balance over the
    memoized shared k=8 assignment): Gini impurity + effective cluster
    count of the corpus's k-means distribution - the mode-collapse check
    before trusting a curation mix."""
    return sim.cluster_balance(_kmeans_assignment(spark, sf_dir, 8))


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc content novelty (dedup.ngram_novelty): fraction of a doc's
    distinct 3-grams first seen in this doc - the crawl-increment metric
    pairwise dedup misses (a unique doc assembled from known n-grams)."""
    return dd.ngram_novelty(load_table(spark, sf_dir, "documents"))


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-RATE view (timeseries.retention_cohorts): q_retention's
    counting triangle (sessions.retention_cohorts — the shared kernel)
    capped at day-offset<=7 with cohort sizes joined back from its own
    offset-0 rows and the retention fraction emitted; offset-0 rows
    self-check at 1.0."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        retention_cohorts,
    )

    return retention_cohorts(load_table(spark, sf_dir, "events"))


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-size precomputation (relational.join_cardinality):
    orders x customer output size, matching-key count, and the max
    single-key contribution - computed from (key, count) tables at
    distinct-key cardinality, never by running the join."""
    return rel.join_cardinality(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        "o_custkey",
        "c_custkey",
    )


def q_xcorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation lag scan (timeseries.xcorr_lag): Pearson r of
    each ordered event-type pair's daily counts at lags 0..7 — the
    lead/lag detector, from the same exact-integer six-sum kernel as
    q_autocorr."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        xcorr_lag,
    )

    return xcorr_lag(load_table(spark, sf_dir, "events"))


def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test of each event type's mean value vs the
    rest of the stream (timeseries.ab_ztest): one exact-cents pass, the
    complement's moments by global-minus-group subtraction — no second
    scan."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        ab_ztest,
    )

    return ab_ztest(load_table(spark, sf_dir, "events"))


def q_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix solver (sampling.mixture_waterfill): water-fill half
    the corpus' characters across sources in closed form — saturation is
    an exact integer predicate, the water line is one scalar pair."""
    return smp.mixture_waterfill(load_table(spark, sf_dir, "documents"))


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-filter thresholds at a 3/4 keep rate
    (text.quality_calibration): order-statistic on the exact score
    histogram, so no percentile-interpolation exposure and no skew of
    the language mix."""
    return tx.quality_calibration(load_table(spark, sf_dir, "documents"))


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (similarity.pq_codebooks + pq_encode): four
    16-dim subspace codebooks (k=16, shared Lloyd's kernel, memoized
    driver state; round 12: SAMPLE-TRAINED on the 256 md5-smallest ids —
    SCALE.md §16) encode every vector to 4 codes + exact integer
    quantization error — the IVF-PQ compression stage of billion-vector
    ANN."""
    return sim.pq_encode(
        load_table(spark, sf_dir, "embeddings"),
        _pq_books_cached(spark, sf_dir, m=4, k=16),
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over PQ codes (similarity.pq_adc_topk): probe 0's
    per-subspace distance tables (m·k driver ints) + m array lookups per
    vector — the query-time payoff of PQ compression; exact bigint
    distances, TakeOrderedAndProject top-10."""
    return sim.pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"),
        _pq_books_cached(spark, sf_dir, m=4, k=16),
        probe_id=0,
        k=10,
    )


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ deployment gate (similarity.pq_recall): ADC top-10 vs the
    exact int8-L2 top-10 for probe 0 — overlap count + recall, the
    sibling of q_lsh_recall/q_ann_recall for the compressed index."""
    return sim.pq_recall(
        load_table(spark, sf_dir, "embeddings"),
        _pq_books_cached(spark, sf_dir, m=4, k=16),
        probe_id=0,
        k=10,
    )


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC end to end (similarity.ivfpq_topk): probe 0 visits its 2
    closest seed cells and ranks candidates by the m-lookup asymmetric
    distance — the composed production ANN stack (cell restriction ×
    PQ compression), exact integers throughout."""
    return sim.ivfpq_topk(
        load_table(spark, sf_dir, "embeddings"),
        _pq_books_cached(spark, sf_dir, m=4, k=16),
        probe_id=0,
        k=10,
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution (sessions.attribution):
    last-touch and linear credit of purchase conversions to the user's
    in-lookback click/view touches — one user-keyed equi-join, per-
    conversion partitioned windows, integer micro-credit sums."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        attribution,
    )

    return attribution(load_table(spark, sf_dir, "events"))


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite additive decomposition (timeseries.seasonal_decompose):
    7-day-MA trend, day-of-week seasonal, residual — exact integer
    numerators over 7·cnt until the final division, every window
    partitioned by type or (type, dow)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        seasonal_decompose,
    )

    return seasonal_decompose(load_table(spark, sf_dir, "events"))


def q_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm profile (similarity.norm_profile): exact
    bigint squared norms of the int8 codes — min/max/mean per label, the
    norm-collapse diagnostic."""
    return sim.norm_profile(load_table(spark, sf_dir, "embeddings"))


def q_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Mahalanobis outliers (relational.mahalanobis_outliers):
    top-5 per return flag by the exact-integer-moment quadratic form,
    WindowGroupLimit rank — the correlation-aware anomaly score."""
    return rel.mahalanobis_outliers(load_table(spark, sf_dir, "lineitem"))


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative cohort lifetime value (timeseries.cohort_ltv):
    purchase revenue quantized to exact bigints before any sum,
    cohort-partitioned cumulative window over the calendar² triangle."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        cohort_ltv,
    )

    return cohort_ltv(load_table(spark, sf_dir, "events"))


def q_stl_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly flags (timeseries.stl_anomaly):
    |residual z| > 2 over the STL-lite decomposition, moments on
    re-quantized integer residuals so the flag SET is deterministic."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        stl_anomaly,
    )

    return stl_anomaly(load_table(spark, sf_dir, "events"))


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out mean target encoding (relational.target_encoding):
    exact-integer LOO numerators, category moments broadcast onto the
    scan, map-side projection — the leak-free categorical feature."""
    return rel.target_encoding(load_table(spark, sf_dir, "events"))


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit (relational.revenue_gini): exact Gini
    via the order-statistic identity over the two-phase parallel rank,
    plus top-1%/top-10% shares — exact cents bigints throughout."""
    return rel.revenue_gini(load_table(spark, sf_dir, "orders"))


def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentiles (sessions.conversion_lag): exact
    order-statistic P50/P90 of the minute-quantized conversion-touch lag
    per touch type — cumulative window on the lookback-bounded
    histogram."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        conversion_lag,
    )

    return conversion_lag(load_table(spark, sf_dir, "events"))


def q_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish through the ACTUAL sink runtime
    (sinks/catalog.write_audit_publish): the URGENT slice commits to a
    STAGING table, the staged state is audited (dup/null keys, price
    bound), and only a fully-green audit publishes to the FINAL table —
    the Iceberg WAP commit discipline consumers never see a bad batch
    through. Emits the audit report + published count."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.config import (
        IcebergSinkConfig,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sinks.catalog import (
        CatalogSink,
        write_audit_publish,
    )

    batch = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    # persistent deterministic staging, replay-reused via the epoch
    # ledger (see q_time_travel; v2 versions the content). The sinks run
    # in UPSERT mode — identical output to append here (o_orderkey is
    # unique in the slice) but a crashed-then-replayed epoch self-heals
    # instead of doubling rows, which is what makes persistence safe.
    mk = lambda name: CatalogSink(  # noqa: E731
        spark,
        IcebergSinkConfig(
            db="default", table_name=name, partition_fields=(),
            upsert_fields=(ORDERS_KEY,), operation="upsert",
        ),
        version_column=ORDERS_KEY,
    )
    # one-time sweep: legacy uuid-named droppings + stale-fingerprint sets
    tag = _sf_tag(sf_dir)
    _drop_staged(spark, "wap", "q_wap_", live_prefix="q_wapp_v2_", live_tag=tag)
    stg, fin = mk(f"q_wapp_v2_{tag}_stg"), mk(f"q_wapp_v2_{tag}_fin")
    return write_audit_publish(spark, stg, fin, batch, ORDERS_KEY)


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 dimension lookup (temporal.scd2_lookup): each
    purchase resolves the user's tracked state AS OF its timestamp —
    the non-overlapping validity tiling turns the interval lookup into
    one backward as-of join (single user-keyed shuffle)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.temporal import (
        scd2_lookup,
    )

    return scd2_lookup(load_table(spark, sf_dir, "events"))


def q_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-armored exact distinct (relational.salted_distinct): per-type
    distinct users via hash-salt slices that partition each key's
    distinct set disjointly — parallel where plain countDistinct
    funnels a hot key through one reducer; exactly equal to the
    unsalted oracle."""
    return rel.salted_distinct(load_table(spark, sf_dir, "events"))


def _schema_evo_staged(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic per-(session, sf) two-epoch staging for
    q_merge_schema: rewrite only when absent so the bench's second run
    and the oracle read the same files (the writes are idempotent
    overwrites, so the NO_SHARED bypass merely rewrites the same
    bytes). The staging path folds in the sf tag, matching the memo key —
    otherwise two fixtures staged through one session would share a path
    and a memo hit could return files staged from the other corpus."""
    base = (
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        + f"/q_schema_evo_{_sf_tag(sf_dir)}"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    e1 = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    e2 = orders.filter(F.col("o_orderpriority") == "2-HIGH").withColumn(
        "o_discount_cents",
        F.floor(F.col("o_totalprice") * 5 + F.lit(0.5)).cast("bigint"),
    )

    def _stage():
        e1.write.mode("overwrite").parquet(f"{base}/epoch=1")
        e2.write.mode("overwrite").parquet(f"{base}/epoch=2")
        return base

    return _shared(  # type: ignore[return-value]
        _TRAINED_STATE_MEMO,
        (_session_scope(spark), sf_dir, "schema_evo"),
        "schema_evo_stage",
        _stage,
    )


def q_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the SOURCE (mergeSchema read): epoch 1 writes
    the original orders shape, epoch 2 adds a derived discount column;
    one partition-discovered read merges both footers and backfills the
    missing column with NULLs — per epoch: rows, rows carrying the
    evolved column, its exact-cents sum."""
    base = _schema_evo_staged(spark, sf_dir)
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", base)
        .parquet(f"{base}/epoch=1", f"{base}/epoch=2")
    )
    return merged.groupBy("epoch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("o_discount_cents").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_evolved"),
        F.coalesce(F.sum("o_discount_cents"), F.lit(0))
        .cast("bigint")
        .alias("discount_cents"),
    )


def q_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the cluster anchor (dedup.bfs_depth): 3 unrolled
    BFS supersteps over the n-gram-Jaccard near-dup graph — frontier ⋈
    edges equi-joins + anti-joins against the visited set, the static-DAG
    contract of the CC/PageRank/k-core family."""
    return dd.bfs_depth(
        _neardup_pairs_shared(spark, sf_dir)
    )


def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism SHAPE audit (quality.dp_mechanism_audit):
    inverse-CDF noise from a deterministic md5-seeded uniform — NOT an
    actual DP release (the noise is a public function of the key); pins
    the mechanism/clamp/rounding reproducibly and oracle-checked, the
    governance release-path half of the k-anonymity audit."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        dp_mechanism_audit,
    )

    return dp_mechanism_audit(load_table(spark, sf_dir, "events"))


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier user-lifetime survival curve (timeseries.
    kaplan_meier): right-censored at the corpus horizon, product-limit
    estimate via a fixed-order ln-sum over calendar-bounded offsets."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        kaplan_meier,
    )

    return kaplan_meier(load_table(spark, sf_dir, "events"))


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix
    (sessions.markov_transitions): exact pair counts from one
    user-partitioned lead + P(next|current) over the |types|² matrix —
    the clickstream flow-diagram kernel."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        markov_transitions,
    )

    return markov_transitions(load_table(spark, sf_dir, "events"))


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type chain
    (sessions.markov_stationary): 8 unrolled power-iteration steps over
    the |types|^2 matrix from the uniform start, next to the empirical
    share — the steady-state behavior mix, unrolled-CTE oracle."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        markov_stationary,
    )

    return markov_stationary(load_table(spark, sf_dir, "events"))


def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plug-in entropy rate of the event-type chain
    (sessions.entropy_rate): per-state conditional entropy + the
    transition-weighted overall rate, all ln terms over exact integer
    counts on the |types|² matrix — the behavioral-predictability number
    next to q_markov_transitions' flow matrix."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        entropy_rate,
    )

    return entropy_rate(load_table(spark, sf_dir, "events"))


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily-revenue curve (tse.max_drawdown):
    exact-cents cumulative + running peak over the bounded day table,
    per-day drawdown fraction with the worst day flagged."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.max_drawdown(load_table(spark, sf_dir, "orders"))


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic burstiness per type (tse.burstiness): index of dispersion
    + Goh-Barabasi B from exact daily-count moments — steady-vs-bursty
    provisioning verdict."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.burstiness(load_table(spark, sf_dir, "events"))


def q_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-30-day MAU stickiness per day (tse.dau_mau): the
    corpus collapses to the distinct (user, day) relation once; the
    trailing window is a bounded range join on that relation — exact
    distinct counts, one rounded ratio."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.dau_mau(load_table(spark, sf_dir, "events"))


def q_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch guard (tse.ab_srm): per-arm USER counts
    under the q_did hash assignment, one-degree chi^2 vs the even split,
    alarm at 3.84 — the validity check before any experiment metric."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.ab_srm(load_table(spark, sf_dir, "events"))


def q_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per type (tse.snaive_backtest):
    predict day d with day d-7, exact integer errors on the (type, day)
    table, MAE + weighted MAPE per type — the baseline every forecast
    deployment must beat."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.snaive_backtest(load_table(spark, sf_dir, "events"))


def q_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-purchase similarity (rel.item_cooccurrence): the CF
    "also bought" kernel — basket-capped customer self-join, cosine over
    the binary customer-part matrix, rounded-then-ranked top-50."""
    return rel.item_cooccurrence(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator (tse.did_estimator):
    hash-assigned 50/50 user groups x pre/post split, four exact-cents
    cell aggregates in one conditional pass, the 2x2 DiD in one row —
    the natural-experiment kernel beside q_ab_ztest."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.did_estimator(load_table(spark, sf_dir, "events"))


def q_trend_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend battery (timeseries.trend_robust): Mann–Kendall S
    (integer sign-sum over day pairs) + Theil–Sen slope (order-statistic
    lower median of pairwise slopes) per event type — the
    outlier-resistant trend a burst day cannot hijack."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        trend_robust,
    )

    return trend_robust(load_table(spark, sf_dir, "events"))


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection (timeseries.changepoint_daily):
    binary segmentation's first split per event type — the day boundary
    maximizing S1²/n1 + S2²/n2 − S²/n over exact integer prefix sums,
    with segment means either side of the located regime change."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        changepoint_daily,
    )

    return changepoint_daily(load_table(spark, sf_dir, "events"))


def q_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class kNN eval battery (similarity.knn_eval): support /
    predicted / confusion-diagonal counts + precision/recall/F1 over a
    FIXED-BUDGET probe set — the 64 hash-smallest ids of the vec_id % 5
    slice, so the budget BINDS even at sf0.01 (slice = 100 ids) and the
    hash-order rule is exercised against the oracle. F1 by the rational
    2·tp/(n_true+n_pred). Library default budget is 2000 (labeled-
    benchmark-sized); 64 here keeps the test-scale cap active."""
    return sim.knn_eval(
        load_table(spark, sf_dir, "embeddings"), probe_mod=5, k=5, budget=64
    )


def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (similarity.rank_fusion) of the BM25 top-20
    (sparse) and probe-0's exact-cosine top-20 (dense) — hybrid retrieval
    without score calibration."""
    from pyspark.sql import Window

    bm = tx.bm25_topk(load_table(spark, sf_dir, "documents"), k=20)
    wa = Window.orderBy(F.col("bm25_e6").desc(), F.col("doc_id").asc())
    bm_ranked = bm.select(
        F.col("doc_id").alias("id"),
        F.row_number().over(wa).cast("int").alias("rank"),
    )
    cos = sim.topk_cosine_bruteforce(
        load_table(spark, sf_dir, "embeddings"), [0], k=20
    ).select(F.col("neighbor_id").alias("id"), "rank")
    return sim.rank_fusion(bm_ranked, cos)


def q_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank on the n-gram-Jaccard near-dup graph
    (dedup.pagerank_pairs): ranks the hub document of each duplicate
    cluster. Iterative algebra as a static DAG — the 3 unrolled supersteps
    are replayed as oracle CTEs, so the result is value-checked exactly."""
    return dd.pagerank_pairs(
        _neardup_pairs_shared(spark, sf_dir)
    )


def q_avro_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro IDL contract → whitelisted StructType → cast projection
    (schema.avdl_record_to_struct + cast_projection): the reference's
    schema chain (SnowFlakeTable.avdl → Avro → Iceberg → RowType,
    SURVEY.md §1.2) as one conversion feeding the same O9 projection."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.schema import (
        avdl_record_to_struct,
        cast_projection,
    )

    avdl = """
    protocol DocProtocol {
        record DocContract {
            long doc_id;
            string lang;
            union { null, int } n_chars;
        }
    }
    """
    contract = avdl_record_to_struct(avdl, "DocContract")
    return cast_projection(load_table(spark, sf_dir, "documents"), contract)


def q_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lang x source association lift (relational.cooccurrence_lift):
    log-free PMI core with exact integer operands."""
    return rel.cooccurrence_lift(load_table(spark, sf_dir, "documents"))


def q_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark policy audit (temporal.late_data_audit): replay in
    arrival order, flag rows a 10-min watermark would drop."""
    return tp.late_data_audit(load_table(spark, sf_dir, "events"))


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language coverage of the global top-100 vocabulary
    (text.vocab_coverage): broadcast vocab semi-pattern."""
    return tx.vocab_coverage(load_table(spark, sf_dir, "documents"))


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT/melt of the lineitem measures
    (relational.unpivot_metrics): zero-shuffle Expand + one partial agg."""
    return rel.unpivot_metrics(load_table(spark, sf_dir, "lineitem"))


def q_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median + MAD by double rank selection
    (relational.median_mad) — robust stats with no interpolation FP."""
    return rel.median_mad(load_table(spark, sf_dir, "orders"))


def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LISTAGG (relational.sorted_group_concat): k smallest
    doc ids per language, sorted inside the aggregate."""
    return rel.sorted_group_concat(load_table(spark, sf_dir, "documents"))


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column null/distinct profile
    (relational.column_profile): one scan, Expand-planned multi-distinct."""
    return rel.column_profile(load_table(spark, sf_dir, "events"))


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier maximizing (price, date)
    (relational.skyline_orders): distributed local-skyline pass per salt
    bucket, then a tiny global pass — never the oracle's O(N²)."""
    return rel.skyline_orders(load_table(spark, sf_dir, "orders"))


def q_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap fill (timeseries.locf_fill):
    IGNORE NULLS running window per user."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.locf_fill(load_table(spark, sf_dir, "events"))


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-round BPE tokenizer training (text.bpe_train_merges): the
    learned merge-rule table, each round's greedy corpus-wide merge
    value-checked against scalar-subquery oracle CTEs."""
    return tx.bpe_train_merges(load_table(spark, sf_dir, "documents"), rounds=3)


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode (text.bpe_encode_counts): train 3 merges, encode every
    doc at the vocabulary level — per-doc word vs BPE symbol counts."""
    return tx.bpe_encode_counts(
        load_table(spark, sf_dir, "documents"),
        rounds=3,
        rules=_bpe_rules_cached(spark, sf_dir, 3),
    )


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (text.bpe_fertility): BPE symbols
    per whitespace word after 3 trained merges — the multilingual
    token-budget metric; vocabulary-level encode, |langs|-row rollup."""
    return tx.bpe_fertility(
        load_table(spark, sf_dir, "documents"),
        rounds=3,
        rules=_bpe_rules_cached(spark, sf_dir, 3),
    )


def _state_parts(
    spark: SparkSession,
    sf_dir: str,
    factor: int = 1,
    source: str = "events.parquet",
    python_stateful: bool = False,
) -> int:
    """Streaming state partitions sized to the source volume
    (session.stream_state_partitions): the events fixture is MBs here, so
    a handful of state-store instances beats the batch-sized default by
    3-4x in fixed per-instance overhead; at 100 TB/day the same formula
    lands in the thousands. ``factor`` scales for sources staged larger
    than the base file (e.g. the doubled dedup input); ``source`` names
    the staged file the stream actually reads (round 12: the
    document-fed streams size off documents.parquet, not events).

    ``python_stateful`` floors the count at a quarter of the cores: for
    ``applyInPandasWithState`` stages the state-partition count is ALSO
    the Python compute parallelism (every input row crosses the Arrow
    boundary in those partitions), so the state-sized minimum of 2
    serializes the whole feed through two workers. Measured locally
    (q_stream_cdc, 100k rows, 32 cores): 2 parts = 4.4-9.4 s, 8 parts =
    2.8-3.1 s, 32 parts = 3.2-3.5 s (per-instance commit rent back) —
    cores/4 is the sweet spot; at scale the state-sized term dominates
    anyway. Built-in JVM-state aggs keep the pure state sizing (map-side
    partial aggregation runs at source parallelism; only the tiny merge
    lands on the state partitions), and so do the two pandas folds whose
    key has ~5 values (kmv, moments): their Python parallelism is
    key-capped at min(parts, 5) either way and the per-key fold is one
    vectorized reduction, so an idle-box sweep showed them
    partition-insensitive — the floor would only add commit rent."""
    import os

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.session import (
        stream_state_partitions,
    )

    size = os.path.getsize(os.path.join(sf_dir, source)) * factor
    cores = spark.sparkContext.defaultParallelism
    n = stream_state_partitions(size, cores)
    if python_stateful:
        n = max(n, max(2, cores // 4))
    return n


def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows through the ACTUAL streaming runtime
    (streaming/windows.stream_tumbling_counts): file-stream source →
    watermark → windowed agg → complete-mode memory sink, drained with
    AvailableNow — the second end-to-end streaming query, hash-checked
    against the same oracle as its batch twin (q_tumbling_window)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.windows import (
        stream_tumbling_counts,
    )

    # load_table pins the session confs (nanosAsLong, UTC) the stream needs
    load_table(spark, sf_dir, "events")
    return stream_tumbling_counts(
        spark, sf_dir, "events.parquet",
        state_partitions=_state_parts(spark, sf_dir),
    )


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k per tumbling window through the ACTUAL streaming
    runtime (streaming/windows.stream_windowed_topk): watermark-bounded
    streaming counts drained AvailableNow, then the batch rank head over
    the metadata-sized sink table — the split streams force (ranks
    retract; an update-mode agg cannot emit them)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.windows import (
        stream_windowed_topk,
    )

    load_table(spark, sf_dir, "events")
    return stream_windowed_topk(
        spark, sf_dir, "events.parquet",
        state_partitions=_state_parts(spark, sf_dir),
    )


def q_dup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-substring fraction (dedup.substring_dup_fraction):
    share of 8-token windows occurring in ≥2 docs — the Lee et al. '22
    exact-substring metric, pair-free so it survives boilerplate blowup."""
    return dd.substring_dup_fraction(load_table(spark, sf_dir, "documents"))


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (dedup.source_overlap_matrix):
    near-dup pairs cross-tabbed by source pair, exact-integer mean
    Jaccard operands; reuses the battery's shared pair checkpoint."""
    return dd.source_overlap_matrix(
        load_table(spark, sf_dir, "documents"),
        pairs=_neardup_pairs_shared(spark, sf_dir),
    )


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification (similarity.knn_classify): exact
    cosine top-5 neighbors per probe, vote ties to the smaller label."""
    return sim.knn_classify(load_table(spark, sf_dir, "embeddings"), PROBE_IDS, k=5)


def q_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law corpus profile: doc-length histogram in log2 buckets via
    exact BIT LENGTH (length of the binary representation — no libm log2,
    whose value at exact powers of two is a cross-engine coin flip).
    One partial agg; bucket bounds are pure integer functions."""
    docs = load_table(spark, sf_dir, "documents")
    bits = F.length(F.expr("bin(n_chars)")).alias("bits")
    return (
        docs.filter(F.col("n_chars") > 0)
        .select(bits)
        .groupBy("bits")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .selectExpr(
            "bits",
            "cast(shiftleft(1L, bits - 1) as bigint) as lo",
            "cast(shiftleft(1L, bits) - 1 as bigint) as hi",
            "n_docs",
        )
    )


def q_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sensitivity curve: near-dup PAIR counts at a grid
    of Jaccard thresholds from ONE pair computation (conditional agg over
    the threshold grid — never one pass per threshold). The tuning audit
    you run before committing a dedup threshold corpus-wide."""
    pairs = dd.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.0
    )
    aggs = [
        F.sum((F.col("jaccard") >= t).cast("bigint")).alias(
            f"n_ge_{str(t).replace('.', '')}"
        )
        for t in (0.2, 0.4, 0.6, 0.8)
    ]
    return pairs.agg(F.count(F.lit(1)).alias("n_candidates"), *aggs)


def q_hapax_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax profile per document (tx-style): count and fraction of a
    doc's tokens whose CORPUS frequency is 1 — the noise/OCR-garbage
    signal quality filters read. Global tf is one partial-agg shuffle;
    the hapax verdict joins back on the token key."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.selectExpr("doc_id", f"explode({H.spark_tokens('text')}) as token")
    tf = t.groupBy("token").agg(F.count(F.lit(1)).alias("cf"))
    per_doc = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    hap = (
        t.join(tf.filter(F.col("cf") == 1), "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hapax"))
    )
    return per_doc.join(hap, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_hapax", F.lit(0)).cast("bigint").alias("n_hapax"),
        F.round(F.coalesce("n_hapax", F.lit(0)) / F.col("n_tokens"), 4).alias(
            "hapax_frac"
        ),
    )


def q_dist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus distribution drift (tx.distribution_drift): exact-integer
    total-variation distance between two snapshot token distributions +
    top drifting tokens — the pre-mix check for a new crawl."""
    return tx.distribution_drift(load_table(spark, sf_dir, "documents"))


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals — the
    classic synthetic-data / fraud screen. Digit extracted from the exact
    cents STRING (no libm log10); expected Benford share is stated by the
    oracle as the same closed-form doubles. One partial agg."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    digits = orders.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    ).filter(F.col("digit") > 0)
    tot = digits.count()
    return (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.lit(float(tot)), 6).alias("share"),
        )
    )


def q_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type (ISO weekday,
    Monday=1 — the one numbering both engines can state exactly):
    counts + exact per-mille share of the type's events."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.expr("weekday(ts)") + 1).alias("iso_dow"),
    )
    counts = ev.groupBy("event_type", "iso_dow").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    tot = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "iso_dow",
        "n",
        F.expr("n * 1000 div sum(n) over (partition by event_type)")
        .cast("bigint")
        .alias("per_mille"),
    )


def q_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multiset-Jaccard near-dup pairs (dd.weighted_jaccard_pairs):
    Σmin/Σmax over token counts via the Σmax = |a|+|b|−Σmin identity —
    sees repetition doping that set-Jaccard misses."""
    return dd.weighted_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def q_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the near-dup graph
    (dd.clustering_coefficient): 3·triangles / wedges, exact integers."""
    return dd.clustering_coefficient(
        _neardup_pairs_shared(spark, sf_dir)
    )


def q_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA (α=1/2) over daily counts (tse.ema_daily): the recursive
    definition closed-formed into one exact-integer cumsum window."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.ema_daily(load_table(spark, sf_dir, "events"))


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change detection (tse.cusum_daily): exact mean-cleared
    cumulative deviations, tie-proof argmax day."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.cusum_daily(load_table(spark, sf_dir, "events"))


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per type (tse.autocorr_daily): Pearson r
    from exact integer sums, one lead window."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.autocorr_daily(load_table(spark, sf_dir, "events"))


def q_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX motif mining (tse.sax_motifs): equal-frequency symbolic
    discretization of per-user daily activity, 3-day words, motif
    occurrence/user counts — every window per-user, alphabet^word-row
    output."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        timeseries as tse,
    )

    return tse.sax_motifs(load_table(spark, sf_dir, "events"))


def q_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio time-chunking plan (multimodal.audio_chunks): sequence
    explode + proportional byte ranges + hex-h32 content check — the
    modality triple's audio leg, Catalyst-side only."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.multimodal import (
        audio_chunks,
        fake_media_table,
    )

    return audio_chunks(fake_media_table(load_table(spark, sf_dir, "documents")))


def q_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregate state merge (rel.mergeable_agg_states): two
    epochs' per-group states folded into the monolithic answer — the
    re-aggregation algebra, hash-proved."""
    return rel.mergeable_agg_states(load_table(spark, sf_dir, "orders"))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sampling (smp.weighted_priority_
    sample): h32/weight priorities, top-k smallest — replayable draw."""
    return smp.weighted_priority_sample(load_table(spark, sf_dir, "documents"))


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization at exact p99 (smp.winsorize_prices):
    rank-selected cap broadcast back, exact-cents audit."""
    return smp.winsorize_prices(load_table(spark, sf_dir, "lineitem"))


def q_cluster_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal cluster labeling: k-means clusters from the embedding
    table (similarity.kmeans_assign) joined 1:1 onto documents, then the
    top-5 characteristic tokens (len ≥ 4) per cluster — the corpus-
    exploration query semantic dedup pipelines run to NAME their
    clusters. Token counting shuffles once on (cluster, token); the
    per-cluster top-k is a WindowGroupLimit."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    assign = _kmeans_assignment(spark, sf_dir, 8).select(
        F.col("vec_id").alias("doc_id"), "cluster_id"
    )
    toks = docs.selectExpr(
        "doc_id", f"explode({H.spark_tokens('text')}) as token"
    ).filter(F.length("token") >= 4)
    counts = (
        toks.join(assign, "doc_id")
        .groupBy("cluster_id", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("cluster_id", "token", "n", "rank")
    )


_SQL_FRONTEND = """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE floor(o.o_totalprice * 100 + 0.5)
          > (SELECT 2 * avg(floor(o2.o_totalprice * 100 + 0.5))
             FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      AND EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey
                    AND c.c_mktsegment = 'BUILDING')
"""


def q_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point: ANSI SQL with a correlated scalar subquery and
    a correlated EXISTS over registered views — Catalyst de-correlates
    both into aggregate + joins (no per-row re-execution; .explain shows
    the rewritten join plan). The oracle runs the IDENTICAL SQL text, so
    the frontend itself is what is being checked. Exact-cents arithmetic
    keeps the correlated average engine-portable."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table as _lt,
    )

    for t in ("orders", "customer"):
        _lt(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_FRONTEND)


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity-resolution join (dedup.fuzzy_name_pairs):
    within-nation + length-band candidates, Levenshtein <= 2 survivors."""
    return dd.fuzzy_name_pairs(
        load_table(spark, sf_dir, "customer"), segment="BUILDING"
    )


def q_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch mergeability (sketch.kmv_mergeable): global distinct
    estimate from the union of per-language sketches alone — the
    mergeable-summary property 1000-executor sketching rests on."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        kmv_mergeable,
    )

    return kmv_mergeable(load_table(spark, sf_dir, "documents"))


def q_sketch_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set intersection (sketch.kmv_intersection): distinct
    token overlap of every language pair estimated from the k-min-values
    sketches alone (θ = min kth, sample below θ, integer floor-division
    estimate) next to the exact overlap — the DataSketches set-expression
    rule, bit-exact in both engines."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        kmv_intersection,
    )

    return kmv_intersection(load_table(spark, sf_dir, "documents"))


def q_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip (sources.files.write_read_orc): orders →
    ORC → declared-schema read → per-priority summary; the oracle never
    sees the ORC file, so the format conversion itself is value-checked."""
    import shutil
    import tempfile

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.files import (
        write_read_orc,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="sgq_orc_")
    try:
        back = write_read_orc(orders, base, orders.schema)
        out = (
            back.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                ).alias("cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def q_null_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics battery (battery.null_battery): equal_null, nullif,
    nvl2, coalesce, posexplode_outer row preservation — zero shuffles."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.battery import (
        null_battery,
    )

    return null_battery(load_table(spark, sf_dir, "events"))


def q_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map applyInPandas (pandas_ops.cogrouped_reconcile): per
    entity key, orders and events reconciled in one Python task — the
    fourth Pandas API shape, oracle = full-outer join of partial aggs."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.pandas_ops import (
        cogrouped_reconcile,
    )

    return cogrouped_reconcile(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "events")
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (similarity.semdedup_pairs): semantic near-dup pairs
    within k-means clusters — cluster blocking bounds the pair space,
    int8 cosine keeps the check exact. k = cells_for(N) ∝ √N so
    Σ|cluster|² stays self-bounding as the corpus grows; the clustering
    itself is the memoized shared assignment (one training run serves
    the whole q_kmeans/q_semdedup/q_hard_negatives/q_cluster_terms
    family).  Round 11 (SCALE.md §13 action item): the √N cells are
    SAMPLE-TRAINED on the max(256, 16·k) hash-smallest vec_ids — Lloyd
    training drops from N^1.5 to linear FLOPs while the assignment pass
    and the within-cell pair audit stay full-corpus and exact."""
    k = _emb_cells_k(spark, sf_dir)
    b = sim.train_budget_for(k)
    return sim.semdedup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        k=k,
        assignment=_kmeans_assignment(spark, sf_dir, k, train_budget=b),
    )


def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-staleness audit (similarity.centroid_drift): per-cluster
    population shift + squared centroid walk between the two vec_id-
    parity epochs, over the SAME shared assignment the cluster family
    persists — exact integer centroids, one metadata-sized explode."""
    return sim.centroid_drift(_kmeans_assignment(spark, sf_dir, 8))


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer k-means (similarity.kmeans_embeddings): 2 Lloyd rounds over
    int8 codes, deterministic seeds — iterative driver loop whose every
    round is value-checked via unrolled oracle CTEs. Centroids come from
    the shared memo (driver state), so the family trains once."""
    return sim.kmeans_embeddings(
        load_table(spark, sf_dir, "embeddings"),
        k=8,
        iters=2,
        assignment=_kmeans_assignment(spark, sf_dir, 8),
    )


def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality silhouette (similarity.silhouette): per-cluster
    mean of the centroid-based silhouette s = (b-a)/max(a,b) over exact
    integer squared distances — the O(N·k) quality metric next to
    q_kmeans' inertia. Centroids come from the shared k=8 memo; the
    corpus is scanned once, map-only, with a k-row partial agg as the
    only shuffle."""
    return sim.silhouette(
        load_table(spark, sf_dir, "embeddings"),
        k=8,
        centroids=_kmeans_centroids_cached(spark, sf_dir, 8),
    )


def q_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (similarity.kcenter_coreset): 4 rounds of
    farthest-point selection — each round one map-only pass over literal
    chosen centers ending in a single-row TakeOrdered — then nearest-
    center coverage (count, covering radius, inertia). Exact integer
    distances; oracle is the greedy unrolled as CTEs. The selected
    centers are memoized driver state (m×dim ints, deterministic) like
    the k-means centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    centers = _shared(
        _TRAINED_STATE_MEMO,
        (sf_dir, "kcenter", 4),
        "kcenter_centers",
        lambda: sim.kcenter_select(emb, m=4),
    )
    return sim.kcenter_coreset(emb, m=4, centers=centers)


def q_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION distinct set operators
    (relational.set_ops_summary): per-type user sets reduced to
    membership-checksummed counter rows — semi/anti-join plans, no row
    multiplication.  Named distinctly from ``q_set_ops`` (the customer
    EXCEPT-ALL bag-semantics query) — the two exercise set vs bag
    operator families and must both stay registered."""
    return rel.set_ops_summary(load_table(spark, sf_dir, "events"))


def q_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance explained by the top principal direction
    (sim.pca_variance_explained): Rayleigh quotient over the uncentered
    int8 cloud — exact bigint numerators from ONE map-only pass after the
    driver-state power iteration, single rounded ratio; the is-PCA-
    worth-it audit next to q_pca_power's eigenvector."""
    return sim.pca_variance_explained(load_table(spark, sf_dir, "embeddings"))


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (similarity.hard_negative_pairs):
    within-cluster pairs with cosine in [0.1, 0.6) — the k-means cell as
    candidate generator (LSH buckets would miss the mid-similarity band),
    bounded pair space, exact integer similarity. k = cells_for(N) and
    the memoized shared SAMPLE-TRAINED clustering, same as q_semdedup
    (round 11: max(256, 16·k) hash-smallest training rows — linear
    training FLOPs, full-corpus assignment)."""
    k = _emb_cells_k(spark, sf_dir)
    b = sim.train_budget_for(k)
    return sim.hard_negative_pairs(
        load_table(spark, sf_dir, "embeddings"),
        k=k,
        assignment=_kmeans_assignment(spark, sf_dir, k, train_budget=b),
    )


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction by integer power iteration
    (similarity.power_iteration_component): v is driver state broadcast
    per round, one distributed pass per iteration (dim rows cross the
    shuffle), every round value-checked via the unrolled oracle CTE."""
    return sim.power_iteration_component(
        load_table(spark, sf_dir, "embeddings"), iters=2
    )


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join audit (sketch.bloom_join_audit): portable
    salted-h32 filter, per-segment positives vs exact membership — the
    runtime-filter sketch, exactly oracle-checked."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        bloom_join_audit,
    )

    return bloom_join_audit(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment through the ACTUAL runtime
    (streaming/joins.stream_static_join_run): event stream ⋈ broadcast
    static customer dim, per-(segment, type) rollup — the
    slowly-changing-dimension join shape with zero stream state; oracle
    is the plain batch join.  The complete-mode agg state is
    |segments|×|types| rows, so the state-store count is sized to the
    source like every sibling runner (round-10 verdict item #1: this was
    the lone runner without the knob and the lone >2× bench entry)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.joins import (
        stream_static_join_run,
    )

    customer = load_table(spark, sf_dir, "customer")  # pins confs too
    return stream_static_join_run(
        spark, sf_dir, customer, state_partitions=_state_parts(spark, sf_dir)
    )


def q_stateful_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's keyed offset state machine (O4 bootstrap + O7
    monotone advance, SnowflakeProcessFunction.java:21-23,46-85) through
    the ACTUAL runtime: file stream → applyInPandasWithState
    (streaming/state.track_offsets) → update-mode memory sink,
    AvailableNow. On a single-batch drain each shard emits exactly one
    progress row with offset = its row count — oracle is the per-shard
    count."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        drain_to_memory,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.joins import (
        _file_stream,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
        track_offsets,
    )

    load_table(spark, sf_dir, "orders")  # pins session confs
    stream = _file_stream(spark, sf_dir, "orders.parquet")
    prog = track_offsets(stream, ORDERS_SHARD)
    # round 12: the hand-rolled writeStream here predated drain_to_memory
    # and inherited the batch-sized state-store count (32 instances for
    # |shards| state keys); the shared drain tail sizes the stores to the
    # staged source and records telemetry like every sibling runner
    return drain_to_memory(
        spark,
        prog,
        "q_stateful_offsets_mem",
        "update",
        state_partitions=_state_parts(
            spark, sf_dir, source="orders.parquet", python_stateful=True
        ),
    )


def q_stream_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate detection: documents stream through the
    same MinHash-LSH band projection as q_dedup_minhash_lsh into a
    BUILT-IN streaming min aggregation (JVM state, one long per band —
    never |docs|; the applyInPandasWithState twin lives in
    streaming/state.lsh_band_min_stream, split-invariance-tested), and a
    doc is flagged iff some band's minimum is a smaller doc_id — a
    verdict independent of arrival and micro-batch order (min is
    commutative), so the drained result hash-matches the batch oracle
    exactly. The in-stream twin of the LSH candidate generator; the
    bucket-size cut is deliberately absent (a stream cannot know final
    bucket sizes), matched by the oracle."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.functions import (
        hashing as HH,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        drain_to_memory,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.joins import (
        _file_stream,
    )
    docs = load_table(spark, sf_dir, "documents")  # pins session confs
    band_expr = (
        f"explode(transform(sequence(0, {HH.LSH_BANDS - 1}), "
        f"b -> concat(b, ':', array_join("
        f"slice(mh, b * {HH.LSH_ROWS} + 1, {HH.LSH_ROWS}), '-')))) as band_key"
    )
    feed = dd.minhash_signatures(
        _file_stream(spark, sf_dir, "documents.parquet")
    ).selectExpr("doc_id", band_expr)
    # the running min is a BUILT-IN streaming aggregation — JVM state, no
    # per-key Python round trip (the custom applyInPandasWithState twin,
    # streaming/state.lsh_band_min_stream, carries the same semantics and
    # is split-invariance-tested; at |bands| state keys the built-in agg
    # was measured ~4x faster, so the entry runs the Catalyst form)
    mins = feed.groupBy("band_key").agg(F.min("doc_id").alias("min_doc"))
    # state = |bands|·one long, so size the state stores to the staged
    # source like every sibling runner (round 12: this drain inherited
    # the batch-sized 32-instance default — telemetry showed ~8 s of
    # summed per-instance commit rent for ~19k state rows; the sized
    # count cuts it to the 2-instance sibling shape, guide §2)
    sink = drain_to_memory(
        spark,
        mins,
        "q_stream_lsh_mem",
        "update",
        state_partitions=_state_parts(spark, sf_dir, source="documents.parquet"),
    )
    band_min = sink.groupBy("band_key").agg(
        F.min("min_doc").alias("band_min")
    )
    bands = _minhash_sigs_shared(spark, sf_dir).selectExpr(
        "doc_id", band_expr
    )
    return (
        bands.join(band_min, "band_key")
        .groupBy("doc_id")
        .agg(F.min("band_min").cast("bigint").alias("earliest_partner"))
        .filter(F.col("earliest_partner") < F.col("doc_id"))
    )


def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct-token sketch per language
    (streaming/state.stream_kmv): k smallest distinct hashes as
    fixed-size keyed state — set-min merge commutes, so the drained
    sketch is bit-identical to the batch sketch and the integer
    floor-division estimate sits inside the exact oracle gate; emits
    (lang, k_used, kth, n_est, n_exact) with the exact side joined
    batch-side."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.functions import (
        hashing as HH,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        HASH_DOMAIN,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        drain_to_memory,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.joins import (
        _file_stream,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
        stream_kmv,
    )

    docs = load_table(spark, sf_dir, "documents")  # pins session confs
    tok = HH.spark_tokens("text")
    feed = _file_stream(spark, sf_dir, "documents.parquet").selectExpr(
        "lang", f"explode(array_distinct({tok})) as token"
    ).selectExpr("lang", HH.spark_h32("token") + " as h")
    sink = drain_to_memory(
        spark,
        stream_kmv(feed),
        "q_stream_kmv_mem",
        "update",
        state_partitions=_state_parts(spark, sf_dir, source="documents.parquet"),
    )
    final = sink.groupBy("lang").agg(
        F.max("ku").cast("int").alias("k_used"),
        F.max_by("kth", "ku").alias("kth"),
    )
    exact = (
        docs.selectExpr("lang", f"explode(array_distinct({tok})) as token")
        .selectExpr("lang", HH.spark_h32("token") + " as h")
        .groupBy("lang")
        .agg(F.countDistinct("h").cast("bigint").alias("n_exact"))
    )
    return final.join(exact, "lang").selectExpr(
        "lang",
        "k_used",
        "kth",
        f"cast((k_used - 1) * {HASH_DOMAIN}L div kth as bigint) as n_est",
        "n_exact",
    )


def q_stream_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-type value monitor (streaming/state.stream_moments):
    exact integer (n, Σcents, Σcents²) folded in keyed state — sums
    commute, so the final emission per key hash-matches the batch
    aggregate regardless of micro-batch split; mean/stddev derived once
    at the end."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        drain_to_memory,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.joins import (
        _file_stream,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
        stream_moments,
    )

    load_table(spark, sf_dir, "events")  # pins session confs
    feed = _file_stream(spark, sf_dir, "events.parquet").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cv"),
    )
    sink = drain_to_memory(
        spark,
        stream_moments(feed),
        "q_stream_moments_mem",
        "update",
        state_partitions=_state_parts(spark, sf_dir),
    )
    final = sink.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max_by("sx", "n").alias("sx"),
        F.max_by("sxx", "n").alias("sxx"),
    )
    return final.selectExpr(
        "event_type",
        "n",
        "round(cast(sx as double) / n / 100.0, 4) as mean_value",
        """round(sqrt((cast(sxx as double) - cast(sx as double) * sx / n)
                 / (n - 1)) / 100.0, 4) as stddev_value""",
    )


def q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC latest-state materialization (streaming/state.
    apply_cdc_stream): the in-stream twin of q_merge_delete — a change
    feed (events; 'error' rows are tombstones) applied through keyed
    applyInPandasWithState holding ONE fixed-width record per key, late
    replays idempotent, tombstoned keys absent from the materialized
    view. Drained AvailableNow; the final emission per key (max
    cumulative n_changes) is the state table."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        drain_to_memory,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.joins import (
        _file_stream,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
        apply_cdc_stream,
    )

    load_table(spark, sf_dir, "events")  # pins session confs
    feed = _file_stream(spark, sf_dir, "events.parquet").select(
        "user_id",
        ts_ms("ts").alias("ts_ms"),
        "event_id",
        "value",
        (F.col("event_type") == "error").alias("del"),
    )
    sink = drain_to_memory(
        spark,
        apply_cdc_stream(feed),
        "q_stream_cdc_mem",
        "update",
        state_partitions=_state_parts(spark, sf_dir, python_stateful=True),
    )
    final = sink.groupBy("user_id").agg(
        F.max_by(
            F.struct("n_changes", "last_ts_ms", "value", "deleted"),
            "n_changes",
        ).alias("s")
    )
    return (
        final.filter(~F.col("s.deleted"))
        .select(
            "user_id",
            F.col("s.last_ts_ms").alias("last_ts_ms"),
            F.col("s.value").alias("value"),
            F.col("s.n_changes").alias("n_changes"),
        )
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup through the ACTUAL runtime
    (windows.stream_dedup_run): the events doubled row-for-row into a
    staging dir, then file stream → watermark →
    dropDuplicatesWithinWatermark → append memory sink; the output must
    hash-match the ORIGINAL relation — the state-store dedup provably
    dropped the planted duplicates."""
    import shutil
    import tempfile

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.windows import (
        stream_dedup_run,
    )

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="sgq_dedup_")
    try:
        events.unionAll(events).write.mode("overwrite").parquet(base)
        out = _events_out(
            stream_dedup_run(
                spark,
                base,
                state_partitions=_state_parts(spark, sf_dir, factor=2),
            )
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct actives per sliding window (windows.sliding_distinct):
    the uniques-per-trailing-hour aggregate — window explode feeding a
    partial-DISTINCT two-level hash, shuffling deduped triples only."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.windows import (
        sliding_distinct,
    )

    return sliding_distinct(load_table(spark, sf_dir, "events"))


def q_mode_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key mode (relational.mode_per_key): most
    frequent event type per user, ties to the smallest value — MODE()
    with pinned tie order via count + WindowGroupLimit."""
    return rel.mode_per_key(load_table(spark, sf_dir, "events"))


def q_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event temporal join (temporal.nearest_join): each click
    matched to its CLOSEST purchase in either direction within ±2 h —
    the bidirectional as-of; bucketed equi-join candidates + one
    WindowGroupLimit pass, ties to the earlier purchase."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("purchase_id")
    )
    out = tp.nearest_join(
        clicks, purchases, "user_id", "cts", "pts", tolerance_ms=7_200_000
    )
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        ts_ms("cts").alias("click_ts_ms"),
        ts_ms("pts").alias("purchase_ts_ms"),
        "abs_diff_ms",
    )


def q_cep_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP / MATCH_RECOGNIZE-style sequence patterns (sessions.cep_patterns):
    regex over each user's time-ordered event-initial sequence — funnel
    matches, error-after-purchase adjacency, longest click run; one key
    shuffle, per-row regex. Oracle builds the identical sequence with
    ordered string_agg."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        cep_patterns,
    )

    return cep_patterns(load_table(spark, sf_dir, "events"))


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-sketch percentiles with a proven bucket-width
    error bound (sketch.histogram_quantiles): p50/p90/p95/p99 from a
    1024-bucket exact-integer sketch, audited against rank-selected exact
    values — the t-digest/KLL role with a deterministic, oracle-exact
    sketch."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        histogram_quantiles,
    )

    return histogram_quantiles(load_table(spark, sf_dir, "orders"))


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit (quality.k_anonymity_audit): QI groups =
    (event_type, day, value/5 bucket); per-type group counters and the
    suppression rate at k=5 — the governance gate before publishing
    event-level data."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        k_anonymity_audit,
    )

    return k_anonymity_audit(load_table(spark, sf_dir, "events"), k=5)


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations battery (quality.dq_checks): uniqueness,
    not-null, referential integrity, accepted values, range — one
    (check, violations, passed) row per constraint, everything reduced to
    counters before leaving its stage."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        dq_checks,
    )

    return dq_checks(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test (quality.ks_test):
    exact-rational CDF gap between two sources' length distributions,
    value-domain-bounded cumulative window, TakeOrdered peak."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        ks_test,
    )

    return ks_test(load_table(spark, sf_dir, "documents"))


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (quality.l_diversity_audit): per-QI-group
    distinct sensitive values over the same generalized identifiers as
    q_k_anonymity — the homogeneity-attack gate; one corpus partial agg,
    metadata-sized rollups."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        l_diversity_audit,
    )

    return l_diversity_audit(load_table(spark, sf_dir, "events"))


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between pre/post order-value
    distributions (quality.psi_drift): one conditional fact pass to
    fixed bins, Laplace-smoothed shares, per-bin contributions + the
    __total__ verdict band — THE model-monitoring drift number."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        psi_drift,
    )

    return psi_drift(load_table(spark, sf_dir, "orders"))


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup graph (dedup.assortativity):
    Pearson r of endpoint degrees across edges — exact integer sums, one
    closed-form double, the template-farm-vs-hub structure diagnostic
    beside q_clustering_coef and q_modularity."""
    return dd.assortativity(_neardup_pairs_shared(spark, sf_dir))


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test (quality.mann_whitney): tie-corrected
    doubled-integer rank arithmetic over value-level counts, one-shot
    normal approximation + rank-biserial effect size — the stochastic-
    dominance twin of q_ks_test's shape test."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        mann_whitney,
    )

    return mann_whitney(load_table(spark, sf_dir, "documents"))


def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (text.heaps_fit): OLS of ln V on
    ln N across per-source (tokens, types) points — the growth-law twin
    of q_zipf_fit."""
    return tx.heaps_fit(load_table(spark, sf_dir, "documents"))


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization (sampling.quantile_normalize):
    per-source ranks via ONE two-phase global rank over the source-major
    total order, rank-keyed reference profile, equi-join map-back."""
    return smp.quantile_normalize(load_table(spark, sf_dir, "documents"))


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel (quality.filter_funnel): the Gopher-style
    rule cascade with per-stage survival accounting — one scan computes
    every cumulative-conjunction counter, the stage unpivot runs on the
    resulting scalar row."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        filter_funnel,
    )

    return filter_funnel(load_table(spark, sf_dir, "documents"))


def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-graph referential-integrity profile
    (quality.referential_audit): per FK edge of the star schema, orphan
    and coverage counters computed on key-dimension-sized relations —
    one key-only partial-agg shuffle per edge, nothing row-sized crosses
    a stage boundary."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        FK_EDGES,
        referential_audit,
    )

    names = {t for child, _, parent, _ in FK_EDGES for t in (child, parent)}
    return referential_audit(
        {t: load_table(spark, sf_dir, t) for t in sorted(names)}
    )


def q_udtf_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via SQL LATERAL (operators/udtfs.TokenRunLength):
    per-doc token run-length encoding — variable-fanout imperative
    expansion in the Python worker, aggregated JVM-side to the longest
    run per document; the oracle rebuilds runs via gaps-and-islands."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.udtfs import (
        register_all,
    )

    docs = load_table(spark, sf_dir, "documents")
    register_all(spark)
    docs.createOrReplaceTempView("q_udtf_docs")
    runs = spark.sql(
        "SELECT r.doc_id, r.token, r.run_start, r.run_len "
        "FROM q_udtf_docs, LATERAL token_run_length(doc_id, text) r"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(
        F.col("run_len").desc(), F.col("run_start").asc()
    )
    return (
        runs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "token", "run_start", "run_len")
    )


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows through the ACTUAL streaming runtime
    (streaming/windows.stream_session_windows): watermarked file stream →
    session_window aggregation with state-merge → complete-mode memory
    sink, AvailableNow drain — the fourth runtime path under the gate;
    the oracle derives the same sessions via gaps-and-islands."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.windows import (
        stream_session_windows,
    )

    load_table(spark, sf_dir, "events")  # pins session confs for the stream
    return stream_session_windows(
        spark, sf_dir, state_partitions=_state_parts(spark, sf_dir)
    )


def q_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's sharded polling source as a Spark 4 Python
    DataSource connector (sources/pysource.py): O1 shard poll on the
    driver → one input partition per shard (O3 keyBy) → per-shard sorted
    LIMIT/OFFSET page drain (O6) with the shard predicate pushed into the
    parquet scan. The connector's output must hash-match the plain table
    read — the connector is the pipeline, the oracle is the relation."""
    import os

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
        pysource,
    )

    load_table(spark, sf_dir, "orders")  # pins session confs (UTC, ns)
    pysource.register(spark)
    df = (
        spark.read.format("sharded_parquet")
        .option("path", os.path.join(sf_dir, "orders.parquet"))
        .option("shard_column", ORDERS_SHARD)
        .option("sort_column", ORDERS_SORT)
        .option("page_size", "500")
        .load()
    )
    return _orders_out(df)


def q_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connector's STREAMING face (sources/pysource.py
    ShardedParquetStreamReader): per-shard high-watermark offsets (O7)
    through the Structured Streaming offset log, one partition per
    advanced shard per micro-batch (O3), sorted slice drain (O6),
    AvailableNow → memory sink. The drained output must hash-match the
    plain relation — the offset ledger provably covered every row exactly
    once."""
    import os
    import shutil
    import uuid

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
        pysource,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        scratch_dir,
    )

    load_table(spark, sf_dir, "orders")  # pins session confs (UTC, ns)
    pysource.register(spark)
    name = f"pyss_{uuid.uuid4().hex[:8]}"
    s = (
        spark.readStream.format("sharded_parquet")
        .option("path", os.path.join(sf_dir, "orders.parquet"))
        .option("shard_column", ORDERS_SHARD)
        .option("sort_column", ORDERS_SORT)
        .load()
    )
    ckpt = scratch_dir(f"drain_{name}_")
    try:
        q = (
            _orders_out(s)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # False = timeout: a partial drain must fail loudly, not
        # hash-compare
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(f"stream {name} did not drain within 300s")
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): parse_json(props) into a
    VARIANT, typed variant_get extraction, try_variant_get on an absent
    path (null, not error), aggregated per event type — the open-schema
    ingestion surface; the oracle takes the classic JSON-path route to
    the same values."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    missing = F.try_variant_get(v, "$.does_not_exist", "int")
    return (
        ev.select("event_type", k.alias("k"), missing.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_k"),
            F.count("m").alias("n_missing"),
            F.sum("k").alias("sum_k"),
            F.count_distinct(F.col("k")).alias("distinct_k"),
        )
    )


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel through the ACTUAL sink runtime
    (sinks/catalog.CatalogSink, config snapshots=True): two upsert commits split
    by order date, then ``read_as_of(1)`` — reconstructing the NON-latest
    state after epoch 2 has overwritten its partitions; must hash-match
    the first batch (unique keys ⇒ upsert is identity). Three-epoch
    reconstruction + expiry invariants live in the unit tests
    (tests/test_ingest.py); this query keeps the oracle-gated proof to
    the two commits that exercise every path."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.config import (
        IcebergSinkConfig,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sinks.catalog import (
        CatalogSink,
    )

    # Carry only the columns the proof needs (the oracle's projection +
    # the shard/sort/key pipeline fields) and only TWO of the five
    # priority partitions (same slice discipline as q_snapshot_diff):
    # commit cost is write volume × fixed per-commit table writes, and
    # neither the wide o_comment column nor the other three partitions
    # strengthen the proof — every path (create, bootstrap upsert, merge
    # upsert, per-partition snapshot, non-latest as-of reconstruction)
    # runs identically on the slice.
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col(ORDERS_SHARD).isin("1-URGENT", "3-MEDIUM"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
    )
    # PERSISTENT deterministic staging (the v2 suffix versions the staged
    # CONTENT — bump it if the slice/schema above ever changes): the
    # sink's epoch ledger makes write_batch replay-idempotent, so a
    # repeat invocation against the same table set skips both commits as
    # "skipped-replay" (exactly what a restarted production job does) and
    # pays only the as-of read. First invocation per warehouse pays the
    # two real commits; the table set is one per sf tag, bounded.
    table = f"q_ttp_v2_{_sf_tag(sf_dir)}"
    cfg = IcebergSinkConfig(
        db="default",
        table_name=table,
        partition_fields=(ORDERS_SHARD,),
        upsert_fields=(ORDERS_KEY, ORDERS_SHARD),
        operation="upsert",
        snapshots=True,
    )
    sink = CatalogSink(spark, cfg, version_column=ORDERS_SORT)
    cut = F.lit("2000-01-01").cast("timestamp")
    d = F.col(ORDERS_SORT)
    batches = [orders.filter(d < cut), orders.filter(d >= cut)]
    # one-time sweep: legacy uuid-named droppings ("q_ttp_" does not match
    # the "q_tt_" prefix) + stale-fingerprint table sets
    _drop_staged(
        spark, "tt", "q_tt_", live_prefix="q_ttp_v2_", live_tag=_sf_tag(sf_dir)
    )
    for e, b in enumerate(batches, start=1):
        # a crash mid-epoch leaves the ledger without the epoch; the next
        # invocation replays it idempotently (dynamic-overwrite commits),
        # so no drop-on-error cleanup is needed — the state self-heals
        sink.write_batch(b, e)
    return _orders_out(sink.read_as_of(1))


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog view between two sink versions (CatalogSink.diff_versions
    - Iceberg changelog-scan parity): over the URGENT+MEDIUM slice of
    orders (two priorities exercise both partitions without paying full
    table write volume twice), epoch 1 commits pre-2000 rows, epoch 2
    upserts the slice with urgent prices bumped; the diff classifies
    every key as inserted / updated / unchanged (deleted absent by
    construction - the reverse diff and tombstone paths are unit-tested)
    and the query reports conservation counters + key checksums per
    class. Same persistent replay-reused staging pattern as
    q_time_travel."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.config import (
        IcebergSinkConfig,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sinks.catalog import (
        CatalogSink,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col(ORDERS_SHARD).isin("1-URGENT", "3-MEDIUM"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
    )
    # persistent deterministic staging, replay-reused across invocations
    # via the epoch ledger (see q_time_travel); v2 versions the content
    table = f"q_sdp_v2_{_sf_tag(sf_dir)}"
    cfg = IcebergSinkConfig(
        db="default",
        table_name=table,
        partition_fields=(ORDERS_SHARD,),
        upsert_fields=(ORDERS_KEY, ORDERS_SHARD),
        operation="upsert",
        snapshots=True,
    )
    sink = CatalogSink(spark, cfg, version_column=ORDERS_SORT)
    cut = F.lit("2000-01-01").cast("timestamp")
    bump = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col(ORDERS_SHARD) == "1-URGENT", F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    # one-time sweep: legacy uuid-named droppings + stale-fingerprint sets
    _drop_staged(
        spark, "sdiff", "q_sdiff_", live_prefix="q_sdp_v2_", live_tag=_sf_tag(sf_dir)
    )
    sink.write_batch(orders.filter(F.col(ORDERS_SORT) < cut), 1)
    sink.write_batch(bump, 2)
    return (
        sink.diff_versions(1, 2)
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(ORDERS_KEY).cast("bigint").alias("key_sum"),
        )
    )


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through the ACTUAL streaming runtime
    (streaming/joins.stream_interval_join_run): two watermarked file
    streams, event-time-bounded inner join, append-mode memory sink,
    AvailableNow drain — hash-checked against the same oracle as its
    batch twin (q_interval_join)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.joins import (
        stream_interval_join_run,
    )

    load_table(spark, sf_dir, "events")  # pins session confs for the stream
    return stream_interval_join_run(
        spark, sf_dir, state_partitions=_state_parts(spark, sf_dir)
    )


def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join through the runtime
    (streaming/joins.stream_interval_outer_join_run): unmatched errors
    emit NULL click columns only once the watermark certifies no match
    can arrive; the oracle reproduces the emission horizon
    (error_ts + 1 h < min-side watermark, strict)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.joins import (
        stream_interval_outer_join_run,
    )

    load_table(spark, sf_dir, "events")  # pins session confs for the stream
    return stream_interval_outer_join_run(
        spark, sf_dir, state_partitions=_state_parts(spark, sf_dir)
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear file layout with a min/max pruning audit
    (operators/layout.py): Morton-code clustering, equal-frequency file
    carve, per-file stats, and the box-predicate prune verdict — the
    OPTIMIZE ZORDER table-maintenance shape, bit-exact in both engines.
    The n_files·2-row stats are memoized driver state (same contract as
    _hilbert_stats_cached — deterministic in (corpus, n_files))."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        zorder_layout,
    )

    def _compute():
        stats = zorder_layout(load_table(spark, sf_dir, "orders"))
        return (stats.schema, stats.collect())

    schema, rows = _shared(  # type: ignore[misc]
        _TRAINED_STATE_MEMO, (sf_dir, "zorder_stats", 64), "zorder_stats", _compute
    )
    return spark.createDataFrame(rows, schema)


def _hilbert_stats_cached(
    spark: SparkSession, sf_dir: str, n_files: int = 64
) -> DataFrame:
    """Memoized hilbert-vs-zorder carve STATS (n_files·2 rows — file
    boxes + prune verdicts, a deterministic function of (corpus,
    n_files)) shared by q_hilbert_layout and q_clustering_depth — same
    driver-state contract as the k-means centroid memo: metadata-sized
    rows only, never a corpus-sized intermediate."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        hilbert_layout,
    )

    def _compute():
        stats = hilbert_layout(load_table(spark, sf_dir, "orders"), n_files)
        return (stats.schema, stats.collect())

    schema, rows = _shared(  # type: ignore[misc]
        _TRAINED_STATE_MEMO,
        (sf_dir, "hilbert_stats", n_files),
        "hilbert_stats",
        _compute,
    )
    return spark.createDataFrame(rows, schema)


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve vs Z-order file layout with the same min/max
    pruning audit as q_zorder_layout (operators/layout.py
    hilbert_layout): the standard xy2d transform unrolled into 16
    portable integer-CASE projections (bit-identical in both engines,
    known-answer-tested against the textbook implementation), the shared
    two-phase parallel ntile carve, and the box prune verdict — the
    OPTIMIZE strategy choice (Iceberg rewrite_data_files supports both
    curves) made measurable. The carve stats are memoized driver state
    shared with q_clustering_depth (_hilbert_stats_cached)."""
    return _hilbert_stats_cached(spark, sf_dir)


def q_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected stabbing count per layout (layout.clustering_depth): the
    one-number clustering-quality metric — expected files containing a
    uniform random key point, Σ(range)/domain over the hilbert-vs-zorder
    carve stats; metadata-sized rollup on the carve output, which is
    memoized driver state shared with q_hilbert_layout
    (_hilbert_stats_cached)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        clustering_depth_from_stats,
    )

    return clustering_depth_from_stats(_hilbert_stats_cached(spark, sf_dir))


def q_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution pruning audit (layout.partition_evolution):
    day->month spec cutover, per-era file inventory from one conditional
    partial agg, each file pruned under the spec it was written with —
    the Iceberg evolution read-out (rows a month spec over-scans vs day).
    Semantics parallel to IcebergTableManager.java:86's identity
    PARTITION BY, grown to transform specs."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        partition_evolution,
    )

    return partition_evolution(load_table(spark, sf_dir, "orders"))


def q_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding choice audit (layout.encoding_audit): per
    column exact distinct/byte models (dict values + packed index bits vs
    plain), one Expand-planned multi-distinct pass, encode verdict — the
    writer decision beside the zonemap/zorder file story."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        encoding_audit,
    )

    return encoding_audit(load_table(spark, sf_dir, "orders"))


def q_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file-skipping audit (layout.zonemap_prune_audit): for
    insertion-order files (contiguous o_orderkey ranges), how many can a
    date-range predicate skip on min/max stats, and what fraction of
    scanned rows are stats-true but predicate-false — the "do we need to
    re-cluster" input that q_zorder_layout answers. File-keyed partial
    agg + one-row rollup; all counts exact."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        zonemap_prune_audit,
    )

    return zonemap_prune_audit(load_table(spark, sf_dir, "orders"))


def q_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE with deletes (operators/merge.py apply_change_feed): a
    change feed of upserts + tombstones applied to the keyed per-user
    state — the WHEN MATCHED ... DELETE branch completing O12's
    equality-delete semantics. Target = latest pre-cutoff event per user;
    changes = post-cutoff events, 'error' rows as deletes."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    target = ops.merge_upsert(
        events.filter(F.col("ts") < cutoff),
        ["user_id"],
        "ts",
        tiebreakers=["event_id"],
    )
    changes = events.filter(F.col("ts") >= cutoff).withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(
            F.lit("upsert")
        ),
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.merge import (
        apply_change_feed,
    )

    out = apply_change_feed(
        target, changes, ["user_id"], "ts", tiebreakers=["event_id"]
    )
    return out.select(
        "user_id",
        "event_id",
        ts_ms("ts").alias("ts_ms"),
        "event_type",
        "op",
    )


# --- the remaining classic TPC-H shapes (operators/tpch.py) ----------------


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: min-cost supplier per large part within one region —
    correlated per-part MIN threshold as a shared-key agg + join-back."""
    return tpch.min_cost_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS decorrelated to LEFT SEMI with an inequality rider."""
    return tpch.priority_waiting(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: fully-pushed-down single-scan filtered aggregate."""
    return tpch.forecast_revenue(load_table(spark, sf_dir, "lineitem"))


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: two-region trade volume per year, both directions."""
    return tpch.volume_shipping(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: market share per year as an exact integer num/den pair."""
    return tpch.market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "part"),
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: per-(nation, year) profit with per-row-quantized terms."""
    return tpch.nation_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "part"),
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by returned-revenue in a quarter."""
    return tpch.returned_item_report(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: value concentrations above 1/1000 of the global total."""
    return tpch.important_stock(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: CASE-sum priority classes per return flag."""
    return tpch.shipment_priority_classes(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: customer count distribution including the zero bucket."""
    return tpch.customer_distribution(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo share of one month's revenue, exact num/den."""
    return tpch.promo_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: max-revenue supplier(s) via 1-row broadcast max."""
    return tpch.top_supplier(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts with a NOT-IN anti join."""
    return tpch.parts_supplier_counts(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: below-a-fifth-of-average lines via integer cross-mult."""
    return tpch.small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: large-volume orders (HAVING on a key agg) top-100."""
    out = tpch.large_volume_customers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )
    return out.select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        ts_ms("o_orderdate").alias("o_orderdate_ms"),
        "o_totalprice_c",
        "total_qty",
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunctive (brand, size, qty) windows post-join."""
    return tpch.discounted_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers shipping over half a part's annual volume."""
    return tpch.excess_shippers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: sole-last-shipper blame counts (EXISTS / NOT EXISTS as
    one window pass)."""
    return tpch.sole_last_shipper(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: above-average-balance customers with no urgent orders."""
    return tpch.idle_rich_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
    )


#: Queries whose implementation changed since the driver last checked
#: them. They lead DRIVER_WINDOW so the driver re-verifies a change the
#: round it lands (VERDICT r8 item #2). The current set is all
#: value-identical by construction (oracle SQL untouched): q_ndcg
#: broadcasts the k·|probes|-row exact side of its final join
#: (2 SortMergeJoins → 0); q_media_resize's mapInPandas kernel is
#: columnar instead of a Series-per-row pdf.apply (75× less Python per
#: batch, bytes identical); q_stream_join / q_stream_dedup skip the
#: trailing NO-DATA micro-batch (evict-only for an inner join /
#: dropDuplicatesWithinWatermark — zero output rows, one full batch
#: cycle; telemetry: 2 → 1 micro-batches, same input/state rows);
#: q_tpch_q20 computes the per-part total as a window over the pair agg
#: instead of a second groupBy + self-join (SMJ 2 → 0, persist gone);
#: q_item_cooccurrence derives the basket-size cut as a count window on
#: the same pass (the sizes branch re-ran the scan→join→distinct
#: pipeline before the checkpoint); the PQ/semdedup six re-verify
#: because their Arrow kernels' bytecode changed (worker-side BLAS cap,
#: ADVICE r12 — a no-op wherever the env pin already reached the
#: worker).
DRIVER_WINDOW_CHANGED = [
    "q_ndcg", "q_media_resize", "q_stream_join", "q_stream_dedup",
    "q_tpch_q20", "q_item_cooccurrence",
    "q_semdedup", "q_hard_negatives", "q_pq_encode", "q_pq_adc_topk",
    "q_pq_recall", "q_ivfpq_topk",
]

#: Names bench.py must keep in its stdout line even when trimming to the
#: driver's 2000-char capture window — the changed queries plus the
#: watch list (VERDICT r12 item #2: q_stream_moments /
#: q_stream_lsh_dedup must show their post-sizing band on a driver row),
#: so every watched query gets a driver row even if it falls under the
#: slowest-N cutoff.
BENCH_ALWAYS_REPORT = tuple(DRIVER_WINDOW_CHANGED) + (
    "q_stream_moments", "q_stream_lsh_dedup", "q_winsorize",
    "q_stream_session", "q_python_source", "q_python_stream_source",
)

# The driver-correctness window. The external correctness runner emits
# rows for only the FIRST 50 entries of queries(), so this list leads
# it: the changed queries, then the STALEST by (latest driver
# CORRECTNESS round, name), filling to 50. Every query is oracle-checked
# locally regardless (tests/test_oracle_parity.py). Machine-derived from
# the CORRECTNESS_r*.json artifacts and re-derived by
# tests/test_shared_state.py::test_driver_window_stalest_machine_checked.
DRIVER_WINDOW = DRIVER_WINDOW_CHANGED + [
    "q_tpch_q9", "q_udtf_runs", "q_variant", "q_zorder_layout",
    "q_autocorr", "q_benford", "q_bloom_join", "q_bm25_topk",
    "q_bpe_apply", "q_bpe_train", "q_calendar_fill", "q_clustering_coef",
    "q_column_profile", "q_compaction_plan", "q_cooccurrence_lift", "q_cusum",
    "q_dataset_card", "q_dist_drift", "q_dow_profile", "q_group_concat",
    "q_hapax_docs", "q_higher_order", "q_key_skew", "q_log2_histogram",
    "q_map_battery", "q_minmax_by", "q_null_battery", "q_outer_join",
    "q_partial_merge", "q_pca_power", "q_python_stream_source", "q_sketch_merge",
    "q_skyline", "q_source_overlap", "q_stream_outer_join", "q_threshold_curve",
    "q_triangle_count", "q_unpivot",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every top-level ``q_*`` function defined in this module, keyed by
    name, with DRIVER_WINDOW first and the rest in definition order.
    Adding a query means defining it (and its oracle); there is no list
    to keep."""
    q = {
        name: fn
        for name, fn in globals().items()
        if name.startswith("q_")
        and inspect.isfunction(fn)
        and fn.__module__ == __name__
    }
    missing = [n for n in DRIVER_WINDOW if n not in q]
    if missing:  # a renamed/dropped query must fail loudly, not shrink the window
        raise KeyError(f"DRIVER_WINDOW names not in queries(): {missing}")
    return {**{k: q[k] for k in DRIVER_WINDOW}, **q}


def shared_legs() -> dict[str, Callable[[SparkSession, str], None]]:
    """Every cross-query SHARED artifact as an explicitly forceable leg,
    in dependency order (primitives before their consumers, so each leg's
    timing covers only its own work). bench.py runs these once per sweep
    and reports their cost SEPARATELY from the per-query times — the
    per-query numbers then measure engine work given warm shared state,
    labeled as such, instead of silently excluding the corpus-sized legs
    (ADVICE round 7, high). With SPARK_GRAFT_NO_SHARED=1 every query
    recomputes its own legs and this pre-pass is skipped."""

    def _force(df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    return {
        "cells_k": lambda s, d: (_emb_cells_k(s, d), None)[1],
        "neardup_pairs": lambda s, d: _force(_neardup_pairs_shared(s, d)),
        "minhash_sigs": lambda s, d: _force(_minhash_sigs_shared(s, d)),
        "dedup_survivors": lambda s, d: _force(_dedup_survivors_shared(s, d)),
        "token_counts": lambda s, d: _force(_token_counts_shared(s, d)),
        "kmeans_centroids_k8": lambda s, d: (
            _kmeans_centroids_cached(s, d, 8),
            None,
        )[1],
        "kmeans_assign_k8": lambda s, d: _force(_kmeans_assignment(s, d, 8)),
        "kmeans_assign_kcells": lambda s, d: _force(
            _kmeans_assignment(
                s,
                d,
                _emb_cells_k(s, d),
                train_budget=sim.train_budget_for(_emb_cells_k(s, d)),
            )
        ),
        "pq_codebooks": lambda s, d: (_pq_books_cached(s, d), None)[1],
        "bpe_rules": lambda s, d: (_bpe_rules_cached(s, d), None)[1],
        "kcenter_centers": lambda s, d: (
            _shared(
                _TRAINED_STATE_MEMO,
                (d, "kcenter", 4),
                "kcenter_centers",
                lambda: sim.kcenter_select(
                    load_table(s, d, "embeddings"), m=4
                ),
            ),
            None,
        )[1],
        "zorder_stats": lambda s, d: _force(q_zorder_layout(s, d)),
        "hilbert_stats": lambda s, d: _force(
            _hilbert_stats_cached(s, d, 64)
        ),
        "schema_evo_stage": lambda s, d: (_schema_evo_staged(s, d), None)[1],
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB)
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    out = {
        "q_distinct_shards": """
            SELECT DISTINCT 'c_mktsegment' AS shard_col,
                   CAST(c_mktsegment AS VARCHAR) AS shard_value
            FROM customer
        """,
        "q_shard_filter": f"""
            SELECT {_ORDERS_OUT}
            FROM orders WHERE o_orderpriority = '1-URGENT'
        """,
        "q_page_offset": f"""
            SELECT {_ORDERS_OUT}, rn FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY o_orderpriority
                    ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
                FROM orders
            ) WHERE o_orderpriority = '1-URGENT' AND rn BETWEEN 101 AND 200
        """,
        "q_incremental_union": f"""
            SELECT {_ORDERS_OUT}
            FROM orders WHERE o_orderpriority = '1-URGENT'
        """,
        "q_cast_projection": """
            SELECT CAST(PRICE AS DOUBLE) AS price,
                   CATEGORY AS category,
                   CAST(NAME AS BIGINT) AS order_key,
                   epoch_ms(CAST(UPDATED_AT AS TIMESTAMP)) AS updated_at_ms
            FROM (
                SELECT CAST(o_totalprice AS VARCHAR) AS PRICE,
                       o_orderpriority AS CATEGORY,
                       CAST(o_orderkey AS VARCHAR) AS NAME,
                       CAST(o_orderdate AS VARCHAR) AS UPDATED_AT
                FROM orders
            )
        """,
        "q_highwater_increment": """
            WITH wm AS (
                SELECT event_type, max(ts) AS w
                FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
                GROUP BY event_type
            )
            SELECT e.event_id, epoch_ms(e.ts) AS ts_ms, e.user_id,
                   e.event_type, e.value, e.props
            FROM events e LEFT JOIN wm ON e.event_type = wm.event_type
            WHERE wm.w IS NULL OR e.ts > wm.w
        """,
        "q_upsert_merge": """
            SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type,
                   value, props
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY event_id
                    ORDER BY ts DESC, user_id DESC, value DESC) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "q_overwrite_partition": f"""
            SELECT {_ORDERS_OUT}
            FROM orders WHERE o_orderpriority <> '3-MEDIUM'
            UNION ALL
            SELECT o_orderkey, o_custkey, 'REPLACED', o_totalprice,
                   epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority
            FROM orders WHERE o_orderpriority = '3-MEDIUM'
        """,
        "q_partitioned_layout": """
            SELECT o_orderpriority AS partition_value,
                   count(*) AS row_count
            FROM orders GROUP BY 1
        """,
        "q_shard_fanout_topn": f"""
            SELECT {_ORDERS_OUT}, rn FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY o_orderpriority
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS INT) AS rn
                FROM orders
            ) WHERE rn <= 10
        """,
        "q_session_window": """
            WITH flagged AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN prev IS NULL
                                 OR epoch_us(ts) - epoch_us(prev) > 1800000000
                            THEN 1 ELSE 0 END AS is_new
                FROM (
                    SELECT user_id, event_id, ts,
                           lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
                    FROM events
                )
            ), sess AS (
                SELECT user_id, ts,
                       sum(is_new) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
                FROM flagged
            )
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   count(*) AS n_events,
                   min(epoch_us(ts)) // 1000 AS start_ms,
                   max(epoch_us(ts)) // 1000 AS end_ms
            FROM sess GROUP BY user_id, session_id
        """,
        "q_asof_join": """
            WITH purch AS (
                SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
                       value AS purchase_value
                FROM events WHERE event_type = 'purchase'
                QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                           ORDER BY event_id DESC) = 1
            ), clicks AS (
                SELECT user_id, ts, event_id, value FROM events
                WHERE event_type = 'click'
            )
            SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS ts_ms, c.value,
                   p.purchase_id, p.purchase_value,
                   epoch_ms(p.purchase_ts) AS purchase_ts_ms
            FROM clicks c ASOF LEFT JOIN purch p
              ON c.user_id = p.user_id AND c.ts >= p.purchase_ts
        """,
        "q_interval_join": """
            SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id,
                   epoch_ms(e.ts) AS error_ts_ms, epoch_ms(c.ts) AS click_ts_ms
            FROM events e JOIN events c
              ON e.user_id = c.user_id
             AND e.event_type = 'error' AND c.event_type = 'click'
             AND epoch_us(c.ts) BETWEEN epoch_us(e.ts) - 3600000000
                                    AND epoch_us(e.ts) + 3600000000
        """,
        "q_vocab_topk": f"""
            WITH tok AS (
                SELECT unnest({H.duck_tokens('lower(text)')}) AS token
                FROM documents
            )
            SELECT token, count(*) AS freq FROM tok
            WHERE token <> ''
            GROUP BY token
            ORDER BY freq DESC, token ASC
            LIMIT 100
        """,
        "q_percentiles": """
            WITH r AS (
                SELECT l_returnflag, l_extendedprice,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY l_extendedprice) AS rn,
                       count(*) OVER (PARTITION BY l_returnflag) AS n
                FROM lineitem
            )
            SELECT l_returnflag,
                   max(CASE WHEN rn = CAST(floor((n-1)*0.5) AS BIGINT) + 1
                            THEN l_extendedprice END) AS p50,
                   max(CASE WHEN rn = CAST(floor((n-1)*0.95) AS BIGINT) + 1
                            THEN l_extendedprice END) AS p95,
                   max(CASE WHEN rn = CAST(floor((n-1)*0.99) AS BIGINT) + 1
                            THEN l_extendedprice END) AS p99,
                   max(n) AS n_lines
            FROM r GROUP BY l_returnflag
        """,
        "q_label_centroids": """
            WITH ex AS (
                SELECT label,
                       unnest(list_transform(
                           generate_series(1, len(embedding)),
                           i -> {'dim': i - 1, 'x': embedding[i]::DOUBLE}
                       )) AS u
                FROM embeddings
            )
            SELECT label, CAST(u.dim AS INT) AS dim,
                   round(avg(u.x), 4) + 0.0 AS centroid,
                   count(*) AS n_vectors
            FROM ex GROUP BY label, u.dim
        """,
        "q_ts_similarity": """
            WITH daily AS (
                SELECT user_id,
                       CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                           AS day,
                       count(*) AS c
                FROM events GROUP BY 1, 2
            ), norms AS (
                SELECT user_id, sum(c * c) AS nsq FROM daily GROUP BY user_id
            ), probe AS (
                SELECT day, c AS pc FROM daily WHERE user_id = 0
            ), pnorm AS (
                SELECT nsq AS pnsq FROM norms WHERE user_id = 0
            ), dots AS (
                SELECT d.user_id, sum(d.c * p.pc) AS dot
                FROM daily d JOIN probe p USING (day)
                WHERE d.user_id <> 0 GROUP BY d.user_id
            ), sims AS (
                SELECT user_id,
                       CAST(dot AS DOUBLE)
                           / (sqrt(CAST(nsq AS DOUBLE))
                              * sqrt(CAST(pnsq AS DOUBLE))) AS cos_sim
                FROM dots JOIN norms USING (user_id) CROSS JOIN pnorm
            )
            SELECT user_id, cos_sim,
                   CAST(row_number() OVER (ORDER BY cos_sim DESC, user_id)
                        AS INT) AS rank
            FROM sims QUALIFY rank <= 10
        """,
        "q_hash_split": f"""
            SELECT doc_id,
                   CASE WHEN {smp.duck_bucket_expr('doc_id')} < 9000
                            THEN 'train'
                        WHEN {smp.duck_bucket_expr('doc_id')} < 9500
                            THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "q_hash_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE {smp.duck_bucket_expr('doc_id')} < 1000
        """,
        "q_epoch_order": smp.duck_epoch_order_sql(),
        "q_grouping_sets": """
            SELECT coalesce(o_orderpriority, 'ALL') AS priority,
                   coalesce(o_orderstatus, 'ALL') AS status,
                   CAST(grouping(o_orderpriority, o_orderstatus) AS INT)
                       AS slice_id,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        """,
        "q_scd2": """
            WITH ch AS (
                SELECT user_id, ts, event_id, event_type,
                       lag(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id) AS prev
                FROM events
            ), keep AS (
                SELECT * FROM ch WHERE prev IS NULL OR prev <> event_type
            )
            SELECT user_id, event_type AS state,
                   epoch_ms(ts) AS valid_from_ms,
                   lead(epoch_ms(ts)) OVER w AS valid_to_ms,
                   CAST(row_number() OVER w AS INT) AS version,
                   (lead(ts) OVER w IS NULL) AS is_current
            FROM keep
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        """,
        "q_cdc_diff": """
            WITH new_s AS (
                SELECT user_id, event_type, value AS new_value
                FROM (SELECT user_id, event_type, value, row_number() OVER (
                          PARTITION BY user_id, event_type
                          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
                      FROM events)
                WHERE rn = 1
            ), old_s AS (
                SELECT user_id, event_type, value AS old_value
                FROM (SELECT user_id, event_type, value, row_number() OVER (
                          PARTITION BY user_id, event_type
                          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
                      FROM events
                      WHERE ts < TIMESTAMP '2024-01-15')
                WHERE rn = 1
            )
            SELECT n.user_id, n.event_type, o.old_value, n.new_value,
                   CASE WHEN o.old_value IS NULL THEN 'insert'
                        WHEN o.old_value <> n.new_value THEN 'update'
                        ELSE 'unchanged' END AS change
            FROM new_s n LEFT JOIN old_s o USING (user_id, event_type)
        """,
        "q_corr_stats": """
            SELECT l_returnflag,
                   count(*) AS n,
                   round(corr(l_quantity, l_extendedprice), 6)
                       AS corr_qty_price,
                   round(covar_samp(l_quantity, l_extendedprice), 2)
                       AS covar_qty_price,
                   round(stddev_samp(l_quantity), 6) AS sd_qty,
                   round(stddev_samp(l_extendedprice), 4) AS sd_price,
                   round(avg(l_quantity), 6) AS avg_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "q_anomaly_zscore": """
            WITH daily AS (
                SELECT event_type,
                       epoch_ms(date_trunc('day', ts)) AS day_ms,
                       count(*) AS n_events
                FROM events GROUP BY 1, 2
            )
            SELECT event_type, day_ms, n_events,
                   round((n_events - avg(n_events) OVER w)
                         / nullif(stddev_samp(n_events) OVER w, 0), 6) AS zscore,
                   (abs(round((n_events - avg(n_events) OVER w)
                         / nullif(stddev_samp(n_events) OVER w, 0), 6)) >= 2.0)
                       AS is_anomaly
            FROM daily
            WINDOW w AS (PARTITION BY event_type)
        """,
        "q_region_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem, orders, customer, supplier, nation, region
            WHERE l_orderkey = o_orderkey
              AND o_custkey = c_custkey
              AND l_suppkey = s_suppkey
              AND s_nationkey = c_nationkey
              AND c_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "q_activity_streaks": """
            WITH days AS (
                SELECT DISTINCT user_id,
                       epoch_us(ts) // 86400000000 AS day
                FROM events
            ), isl AS (
                SELECT user_id, day,
                       day - row_number() OVER (
                           PARTITION BY user_id ORDER BY day) AS grp
                FROM days
            ), runs AS (
                SELECT user_id, grp, count(*) AS len
                FROM isl GROUP BY 1, 2
            )
            SELECT user_id,
                   CAST(sum(len) AS INT) AS n_active_days,
                   CAST(count(*) AS INT) AS n_streaks,
                   CAST(max(len) AS INT) AS max_streak_days
            FROM runs GROUP BY user_id
        """,
        "q_cast_deadletter": """
            WITH staged AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 97 = 0
                            THEN o_totalprice::VARCHAR || 'x'
                            ELSE o_totalprice::VARCHAR END AS price_s,
                       CASE WHEN o_orderkey % 89 = 0
                            THEN 'not-a-date'
                            ELSE o_orderdate::VARCHAR END AS updated_s
                FROM orders
            )
            SELECT o_orderkey AS order_key, 'PRICE' AS field, price_s AS raw
            FROM staged
            WHERE price_s IS NOT NULL
              AND TRY_CAST(price_s AS DOUBLE) IS NULL
            UNION ALL
            SELECT o_orderkey, 'UPDATED_AT', updated_s
            FROM staged
            WHERE updated_s IS NOT NULL
              AND TRY_CAST(updated_s AS TIMESTAMP) IS NULL
        """,
        "q_trailing_window": """
            WITH daily AS (
                SELECT epoch_ms(date_trunc('day', o_orderdate)) AS day_ms,
                       round(sum(o_totalprice), 2) AS revenue
                FROM orders GROUP BY 1
            )
            SELECT day_ms, revenue,
                   round(sum(revenue) OVER w, 2) AS trail_total,
                   round(avg(revenue) OVER w, 4) AS trail_avg,
                   count(*) OVER w AS trail_days
            FROM daily
            WINDOW w AS (ORDER BY day_ms // 86400000
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        "q_event_paths": """
            WITH tri AS (
                SELECT event_type || '>' ||
                       lead(event_type, 1) OVER w || '>' ||
                       lead(event_type, 2) OVER w AS path,
                       lead(event_type, 2) OVER w AS e3
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id)
            ), counted AS (
                SELECT path, count(*) AS n FROM tri
                WHERE e3 IS NOT NULL GROUP BY path
                ORDER BY n DESC, path LIMIT 25
            )
            SELECT path, n,
                   CAST(row_number() OVER (ORDER BY n DESC, path) AS INT)
                       AS rank
            FROM counted
        """,
    }
    out.update(_extension_oracles())
    return out


def _lsh_oracle(dim: int = 64, planes: int = 4, k: int = 5) -> str:
    """Exact oracle for the random-hyperplane LSH top-k: the ±1 plane
    components are md5-derived constants (similarity._plane_component), so
    the oracle embeds the same literal arrays and replays bucketing,
    multi-probe flips, candidate dedup, and the rerank — bit-identical
    folds, value-checkable despite being 'approximate'."""
    projs = []
    for p in range(planes):
        comps = ", ".join(
            str(float(sim._plane_component(p, d))) for d in range(dim)
        )
        projs.append(
            f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> emb[i] * ([{comps}])[i]), (acc, x) -> acc + x)"
        )
    bucket = " + ".join(
        f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)"
        for p, proj in enumerate(projs)
    )
    flips = ", ".join(f"xor(pb, {1 << p})" for p in range(planes))
    cos = duck_cosine("pe", "emb", dim)
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), b AS (
            SELECT vec_id, emb, {bucket} AS bucket FROM e
        ), pflip AS (
            SELECT probe_id, pe,
                   unnest([pb, {flips}]) AS pbucket
            FROM (SELECT vec_id AS probe_id, emb AS pe, bucket AS pb
                  FROM b WHERE vec_id < 10)
        ), cand AS (
            SELECT DISTINCT probe_id, b.vec_id AS neighbor_id, pe, emb
            FROM pflip JOIN b
              ON b.bucket = pflip.pbucket AND b.vec_id <> pflip.probe_id
        ), rer AS (
            SELECT probe_id, neighbor_id, round({cos}, 4) AS sim FROM cand
        )
        SELECT probe_id, neighbor_id, sim, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY probe_id
                ORDER BY sim DESC, neighbor_id) AS INT) AS rank
            FROM rer
        ) WHERE rank <= {k}
    """


def _neardup_oracle(
    dim: int = 64, planes: int = 4, threshold: float = 0.30
) -> str:
    """Oracle for the LSH-bucket-blocked embedding near-dup pairs: replays
    the md5-seeded ±1 planes as literal arrays, the Hamming-1 bucket
    expansion on one side, and the (bucket, label) equi-join — identical
    candidate set and fold order to similarity.neardup_embedding_pairs."""
    projs = []
    for p in range(planes):
        comps = ", ".join(
            str(float(sim._plane_component(p, d))) for d in range(dim)
        )
        projs.append(
            f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> emb[i] * ([{comps}])[i]), (acc, x) -> acc + x)"
        )
    bucket = " + ".join(
        f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)"
        for p, proj in enumerate(projs)
    )
    flips = ", ".join(f"xor(bucket, {1 << p})" for p in range(planes))
    cos = duck_cosine("ea", "eb", dim)
    return f"""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        ), b AS (
            SELECT vec_id, label, emb, {bucket} AS bucket FROM e
        ), x AS (
            SELECT vec_id, label, emb,
                   unnest([bucket, {flips}]) AS xbucket
            FROM b
        )
        SELECT vec_a, vec_b, label, round({cos}, 4) AS sim FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   a.label AS label, a.emb AS ea, b.emb AS eb
            FROM x a JOIN b
              ON a.xbucket = b.bucket
             AND a.label = b.label
             AND a.vec_id < b.vec_id
        ) WHERE round({cos}, 4) >= {threshold}
    """


from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
    duck_mix_shift_sql as _duck_mix_shift_sql,
    duck_poisson_bootstrap_sql as _duck_poisson_bootstrap_sql,
)

_REL_MIX_SHIFT_SQL = _duck_mix_shift_sql()
_REL_BOOTSTRAP_SQL = _duck_poisson_bootstrap_sql()
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.relational import (
    duck_rfm_sql as _duck_rfm_sql,
)

_REL_RFM_SQL = _duck_rfm_sql()

def _extension_oracles() -> dict[str, str]:
    """Oracles for the dedup/similarity/text queries, generated from the
    same constants (stopword lists, minhash coefficients, md5-h32) as the
    Spark operators — one source of truth, bit-identical values."""
    toks = H.duck_tokens("text")
    sh3 = H.duck_shingles(toks, 3)
    langs = sorted(tx.STOPWORDS)

    def lit(words):
        return "[" + ", ".join(f"'{w}'" for w in words) + "]"

    score_cols = ", ".join(
        f"len(list_intersect(list_distinct({toks}), {lit(tx.STOPWORDS[lang])}))"
        f"::INT AS score_{lang}"
        for lang in langs
    )
    pred = "CASE"
    for lang in langs:
        cond = " AND ".join(
            f"score_{lang} >= score_{o}" for o in langs if o != lang
        )
        pred += f" WHEN {cond} THEN '{lang}'"
    pred += " ELSE 'und' END"

    en = lit(tx.STOPWORDS["en"])
    simhash_bits = 32
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(simhash_bits)
    )
    sig = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(simhash_bits)
    )
    cos = duck_cosine("pe", "ce", 64)

    out = {
        "q_join_enrich": """
            SELECT r.r_name AS region, c.c_mktsegment,
                   count(*) AS n_orders,
                   round(sum(o.o_totalprice), 2) AS revenue
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2
        """,
        "q_salted_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "q_mix_shift": _REL_MIX_SHIFT_SQL,
        "q_bootstrap_ci": _REL_BOOTSTRAP_SQL,
        "q_rfm_segments": _REL_RFM_SQL,
        "q_rollup": """
            SELECT coalesce(o_orderpriority, 'ALL') AS priority,
                   coalesce(o_orderstatus, 'ALL') AS status,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        "q_cube": """
            SELECT coalesce(o_orderpriority, 'ALL') AS priority,
                   coalesce(o_orderstatus, 'ALL') AS status,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            GROUP BY CUBE (o_orderpriority, o_orderstatus)
        """,
        "q_window_battery": """
            SELECT o_orderkey, o_orderpriority,
                   CAST(rank() OVER tied AS INT) AS rnk,
                   CAST(dense_rank() OVER tied AS INT) AS drnk,
                   round(lag(o_totalprice) OVER total, 2) AS prev_price,
                   round(lead(o_totalprice) OVER total, 2) AS next_price,
                   CAST(ntile(4) OVER total AS INT) AS quartile
            FROM orders
            WINDOW tied AS (PARTITION BY o_orderpriority ORDER BY o_orderdate),
                   total AS (PARTITION BY o_orderpriority
                             ORDER BY o_orderdate, o_orderkey)
        """,
        "q_scalar_battery": """
            SELECT event_id,
                   upper(event_type) AS ev_upper,
                   substring(event_type, 1, 3) AS ev_pre,
                   length(props)::INT AS props_len,
                   json_extract_string(props, '$.k')::INT AS k,
                   year(ts)::INT AS y, month(ts)::INT AS m,
                   day(ts)::INT AS d, hour(ts)::INT AS h,
                   round(sqrt(abs(value)), 4) AS sqrt_abs_value,
                   floor(value)::BIGINT AS floor_value,
                   (event_id % 7) AS id_mod7
            FROM events
        """,
        "q_lineitem_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY 1, 2
        """,
        "q_shipping_priority": """
            SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN (
                SELECT o_orderkey, o_orderdate FROM orders
                JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING'
                  AND o_orderdate < TIMESTAMP '1998-06-01'
            ) o ON l_orderkey = o_orderkey
            WHERE l_shipdate > TIMESTAMP '1998-06-01'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q_running_total": """
            -- cents-exact prefix sums (round 9): the Spark side folds
            -- integer cents two-phase, so the oracle accumulates the
            -- SAME integers; /100.0 + round(2) are identical IEEE ops
            SELECT o_orderkey, o_orderpriority,
                   round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                             OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING) / 100.0, 2)
                       AS running_revenue
            FROM orders
        """,
        "q_global_topk": """
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 25
        """,
        "q_set_ops": """
            WITH both_seg AS (
                SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
                WHERE c_mktsegment = 'AUTOMOBILE'
                UNION ALL
                SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
                WHERE c_mktsegment = 'BUILDING'
            )
            SELECT * FROM both_seg
            EXCEPT ALL
            SELECT * FROM both_seg WHERE c_acctbal < 0
        """,
        "q_tumbling_window": """
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
                   count(*) AS n_events,
                   round(sum(floor(value * 10000 + 0.5)::BIGINT) / 10000.0, 4)
                       AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "q_dedup_exact": """
            SELECT min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "q_dedup_corpus": f"""
            WITH survivors AS (
                SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
            ), sized AS (
                SELECT d.doc_id, sh, len(sh) AS n_sh
                FROM (SELECT doc_id,
                             list_transform({sh3}, s -> {H.duck_h32('s')}) AS sh
                      FROM documents) d
                JOIN survivors USING (doc_id)
            ), inv AS (
                SELECT doc_id, n_sh, unnest(sh) AS shingle FROM sized
            ), kept AS (
                SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= 100
            ), inv2 AS (
                SELECT inv.* FROM inv JOIN kept USING (shingle)
            ), pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS n_common
                FROM inv2 a JOIN inv2 b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2, 3, 4
            ), losers AS (
                SELECT DISTINCT doc_b AS doc_id FROM pairs
                WHERE round(n_common / (n_a + n_b - n_common), 4) >= 0.2
            )
            SELECT doc_id FROM survivors
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        """,
        "q_part_type_revenue": """
            SELECT p_type AS part_type, n_name AS supp_nation,
                   count(*) AS n_lines,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY 1, 2
        """,
        "q_token_count": f"""
            SELECT doc_id,
                   len({toks})::INT AS n_tokens,
                   len(list_distinct({toks}))::INT AS n_uniq_tokens,
                   round(len(list_distinct({toks})) / len({toks}), 4)
                       AS uniq_ratio
            FROM documents
        """,
        "q_text_stats": f"""
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars,
                   round(avg(len({toks})), 4) AS avg_tokens,
                   sum(len({toks}))::BIGINT AS total_tokens
            FROM documents GROUP BY lang
        """,
        "q_token_classes": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '{tx.BPE_ISH}'))::INT
                       AS n_bpe_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+'))::INT AS n_words,
                   len(regexp_extract_all(text, '[0-9]+'))::INT AS n_numbers,
                   len(regexp_extract_all(text, '{tx.NONWORD}'))::INT
                       AS n_punct
            FROM documents
        """,
        "q_lang_id": f"""
            SELECT doc_id, lang, {', '.join('score_' + l for l in langs)},
                   {pred} AS predicted_lang
            FROM (SELECT doc_id, lang, {score_cols} FROM documents)
        """,
        "q_quality_score": f"""
            SELECT doc_id, lang, n_tokens, uniq_ratio, stopword_ratio,
                   round(0.4 * least(n_tokens / 100.0, 1.0)
                         + 0.3 * uniq_ratio + 0.3 * stopword_ratio, 6)
                       AS quality
            FROM (
                SELECT doc_id, lang,
                       len({toks})::INT AS n_tokens,
                       round(len(list_distinct({toks})) / len({toks}), 4)
                           AS uniq_ratio,
                       round(len(list_filter({toks},
                                 t -> list_contains({en}, t)))
                             / len({toks}), 4) AS stopword_ratio
                FROM documents
            )
        """,
        "q_doc_fingerprint": f"""
            SELECT doc_id,
                   array_to_string(
                       list_sort(list_transform({sh3},
                           s -> {H.duck_h32('s')}))[1:4], '-') AS fingerprint
            FROM documents
        """,
        "q_dedup_ngram_jaccard": f"""
            WITH sized AS (
                SELECT doc_id, sh, len(sh) AS n_sh
                FROM (SELECT doc_id,
                             list_transform({sh3}, s -> {H.duck_h32('s')}) AS sh
                      FROM documents)
            ), inv AS (
                SELECT doc_id, n_sh, unnest(sh) AS shingle FROM sized
            ), kept AS (
                SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= 100
            ), inv2 AS (
                SELECT inv.* FROM inv JOIN kept USING (shingle)
            ), pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS n_common
                FROM inv2 a JOIN inv2 b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2, 3, 4
            )
            SELECT doc_a, doc_b,
                   round(n_common / (n_a + n_b - n_common), 4) AS jaccard
            FROM pairs
            WHERE round(n_common / (n_a + n_b - n_common), 4) >= 0.2
        """,
        "q_dedup_minhash_lsh": f"""
            WITH sigs AS (
                SELECT doc_id, {H.duck_minhash('hs')} AS mh
                FROM (SELECT doc_id,
                             list_transform({sh3}, s -> {H.duck_h32('s')}) AS hs
                      FROM documents)
            ), bands AS (
                SELECT doc_id, mh,
                       unnest(list_transform(generate_series(0, {H.LSH_BANDS - 1}),
                           b -> b::VARCHAR || ':' ||
                                array_to_string(mh[b * {H.LSH_ROWS} + 1 :
                                                   b * {H.LSH_ROWS} + {H.LSH_ROWS}], '-')
                       )) AS band_key
                FROM sigs
            ), kept AS (
                SELECT band_key FROM bands GROUP BY band_key HAVING count(*) <= 50
            ), b2 AS (
                SELECT bands.* FROM bands JOIN kept USING (band_key)
            ), cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                                a.mh AS mh_a, b.mh AS mh_b
                FROM b2 a JOIN b2 b
                  ON a.band_key = b.band_key AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   round(len(list_filter(generate_series(1, {H.MINHASH_K}),
                             i -> mh_a[i] = mh_b[i])) / {H.MINHASH_K}, 4)
                       AS est_jaccard
            FROM cand
            WHERE round(len(list_filter(generate_series(1, {H.MINHASH_K}),
                            i -> mh_a[i] = mh_b[i])) / {H.MINHASH_K}, 4) >= 0.25
        """,
        "q_dedup_simhash": f"""
            SELECT doc_id, ({sig})::BIGINT AS simhash
            FROM (
                SELECT doc_id, {sums}
                FROM (SELECT doc_id, {H.duck_h32('token')} AS h
                      FROM (SELECT doc_id,
                                   unnest(list_distinct({toks})) AS token
                            FROM documents))
                GROUP BY doc_id
            )
        """,
        "q_similarity_lsh": _lsh_oracle(),
        "q_dedup_simhash_pairs": f"""
            WITH sigs AS (
                SELECT doc_id, ({H.duck_simhash_sig()})::BIGINT AS simhash
                FROM (
                    SELECT doc_id, {H.duck_simhash_sums()}
                    FROM (SELECT doc_id,
                                 {H.duck_h32('token')} AS hl,
                                 {H.duck_h32b('token')} AS hh
                          FROM (SELECT doc_id,
                                       unnest(list_distinct({toks})) AS token
                                FROM documents))
                    GROUP BY doc_id
                )
            ), bands AS (
                SELECT doc_id, simhash,
                       unnest({H.duck_simhash_bands()}) AS band_key
                FROM sigs
            ), kept AS (
                SELECT band_key FROM bands GROUP BY band_key
                HAVING count(*) <= 200
            ), b2 AS (
                SELECT bands.* FROM bands JOIN kept USING (band_key)
            ), cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                                a.simhash AS sh_a, b.simhash AS sh_b
                FROM b2 a JOIN b2 b
                  ON a.band_key = b.band_key AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   bit_count(xor(sh_a, sh_b))::INT AS hamming
            FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
        """,
        "q_topk_cosine": f"""
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            ), scored AS (
                SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                       round({cos}, 4) AS sim
                FROM (SELECT vec_id, emb AS pe FROM e WHERE vec_id < 10) p
                JOIN (SELECT vec_id, emb AS ce FROM e) c
                  ON c.vec_id <> p.vec_id
            )
            SELECT probe_id, neighbor_id, sim, rank FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY probe_id
                    ORDER BY sim DESC, neighbor_id) AS INT) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "q_similarity_ivf": f"""
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            ), seeds AS (
                SELECT vec_id AS seed_id, emb AS se FROM e WHERE vec_id < 16
            ), scored AS (
                SELECT e.vec_id, e.emb, seed_id,
                       round({duck_cosine('emb', 'se', 64)}, 4) AS csim
                FROM e CROSS JOIN seeds
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY csim DESC, seed_id) AS crn
                FROM scored
            ), assign AS (
                SELECT vec_id, seed_id AS cell, emb FROM ranked WHERE crn = 1
            ), pcells AS (
                SELECT vec_id AS probe_id, seed_id AS cell, emb AS pemb
                FROM ranked WHERE vec_id < 10 AND crn <= 2
            ), rer AS (
                SELECT p.probe_id, a.vec_id AS neighbor_id,
                       round({duck_cosine('p.pemb', 'a.emb', 64)}, 4) AS sim
                FROM pcells p JOIN assign a USING (cell)
                WHERE a.vec_id <> p.probe_id
            )
            SELECT probe_id, neighbor_id, sim, rank FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY probe_id
                    ORDER BY sim DESC, neighbor_id) AS INT) AS rank
                FROM rer
            ) WHERE rank <= 5
        """,
        "q_neardup_embedding": _neardup_oracle(),
    }
    out["q_normalize_text"] = f"""
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[{tx.WS}]+', ' ', 'g'))
                   AS norm_text,
               trim(regexp_replace(lower(text), '[{tx.WS}]+', ' ', 'g'))
                   <> text AS changed
        FROM documents
    """
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sampling import (
        duck_neyman_sql,
    )

    out["q_neyman_allocation"] = duck_neyman_sql()
    out["q_pmi_collocations"] = tx.duck_pmi_sql()
    out["q_rake_keyphrases"] = tx.duck_rake_sql()
    out["q_source_kl"] = tx.duck_source_kl_sql()
    out["q_langid_confusion"] = tx.duck_langid_confusion_sql()
    out["q_lix_readability"] = tx.duck_lix_sql()
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.shards import (
        duck_rebalance_sql,
    )

    out["q_rebalance_plan"] = duck_rebalance_sql("lang")
    out["q_bigram_topk"] = f"""
        WITH g AS (
            SELECT unnest({H.duck_shingles(toks, 2)}) AS ngram FROM documents
        )
        SELECT ngram, count(*) AS doc_freq FROM g
        GROUP BY ngram ORDER BY doc_freq DESC, ngram ASC LIMIT 100
    """
    out["q_pack_bins"] = f"""
        WITH tc AS (
            SELECT doc_id, len({toks})::INT AS n_tokens FROM documents
        ), r AS (
            SELECT doc_id, n_tokens,
                   row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1
                       AS r
            FROM tc
        )
        SELECT doc_id, n_tokens,
               CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8
                         ELSE 7 - (r % 8) END AS INT) AS bin
        FROM r
    """
    out["q_token_budget_shards"] = f"""
        WITH tc AS (
            SELECT doc_id, len({toks})::INT AS n_tokens FROM documents
        ), s AS (
            SELECT doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS start
            FROM tc
        )
        SELECT CAST(floor(start / 10000) AS INT) AS shard,
               count(*)::BIGINT AS n_docs,
               sum(n_tokens)::BIGINT AS total_tokens,
               min(doc_id) AS min_doc,
               max(doc_id) AS max_doc
        FROM s GROUP BY 1
    """
    out["q_stratified_sample"] = f"""
        WITH ranked AS (
            SELECT doc_id, lang, row_number() OVER (
                PARTITION BY lang
                ORDER BY {_smp_duck_bucket('doc_id')}, doc_id) AS rn
            FROM documents
        )
        SELECT doc_id, lang FROM ranked WHERE rn <= 20
    """
    pos_lit = lit(tx.POS_WORDS)
    neg_lit = lit(tx.NEG_WORDS)
    out["q_sentiment"] = f"""
        SELECT doc_id, n_pos, n_neg,
               CAST((n_pos - n_neg) / greatest(n_pos + n_neg, 1) AS DOUBLE)
                   AS polarity,
               CASE WHEN n_pos > n_neg THEN 'pos'
                    WHEN n_neg > n_pos THEN 'neg'
                    ELSE 'neutral' END AS label
        FROM (
            SELECT doc_id,
                   len(list_filter({toks},
                       t -> list_contains({pos_lit}, t)))::INT AS n_pos,
                   len(list_filter({toks},
                       t -> list_contains({neg_lit}, t)))::INT AS n_neg
            FROM documents
        )
    """
    # the curation capstone composes the SAME oracle SQL of its stages —
    # consistency by construction (a doc survives iff it survives
    # dedup_corpus, clears the quality gate, and is predicted 'en')
    out["q_corpus_curation"] = f"""
        SELECT s.doc_id, l.predicted_lang, q.n_tokens, q.uniq_ratio,
               q.quality
        FROM ({out['q_dedup_corpus']}) s
        JOIN ({out['q_quality_score']}) q USING (doc_id)
        JOIN ({out['q_lang_id']}) l USING (doc_id)
        WHERE q.quality >= 0.38 AND l.predicted_lang IN ('en')
    """
    out["q_keyness"] = tx.duck_keyness_sql(k=5)
    out["q_tfidf_topk"] = f"""
        WITH tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM (SELECT doc_id, unnest({toks}) AS token FROM documents)
            GROUP BY doc_id, token
        ), df AS (
            SELECT token, count(*) AS df FROM tf GROUP BY token
        ), n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, token, tf, df, score, rank FROM (
            SELECT tf.doc_id, tf.token, tf.tf, df.df,
                   round(tf.tf * n.n_docs / df.df, 6) AS score,
                   CAST(row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY round(tf.tf * n.n_docs / df.df, 6) DESC,
                                tf.token ASC) AS INT) AS rank
            FROM tf JOIN df USING (token) CROSS JOIN n
        ) WHERE rank <= 5
    """
    out["q_bm25_topk"] = f"""
        WITH t AS (SELECT doc_id, {toks} AS t FROM documents),
        nl AS (SELECT count(*) AS n, CAST(sum(len(t)) AS BIGINT) AS l FROM t),
        hits AS (
            SELECT doc_id, token, count(*) AS tf, max(dl) AS dl FROM (
                SELECT doc_id, len(t) AS dl, unnest(t) AS token FROM t)
            WHERE token IN ('spark', 'join', 'stream')
            GROUP BY doc_id, token
        ),
        df AS (SELECT token, count(*) AS df FROM hits GROUP BY token)
        SELECT doc_id, bm25_e6, n_hits FROM (
            SELECT h.doc_id,
                   CAST(sum(CAST(floor(
                       (CAST((2*nl.n - 2*df.df + 1) * (44*h.tf*nl.l) AS DOUBLE)
                        / CAST((2*df.df + 1)
                               * (20*h.tf*nl.l + 6*nl.l + 18*h.dl*nl.n)
                               AS DOUBLE)) * 1000000.0 + 0.5
                   ) AS BIGINT)) AS BIGINT) AS bm25_e6,
                   CAST(count(*) AS BIGINT) AS n_hits
            FROM hits h JOIN df USING (token) CROSS JOIN nl
            GROUP BY h.doc_id
        ) ORDER BY bm25_e6 DESC, doc_id ASC LIMIT 20
    """
    out["q_dataset_card"] = f"""
        WITH per AS (
            SELECT len({toks}) AS n_tok, lang,
                   md5(coalesce(text, '')) AS h,
                   length(trim(coalesce(text, ''))) = 0 AS empty
            FROM documents
        ), lt AS (
            SELECT lang AS top_lang, count(*) AS top_lang_docs FROM per
            GROUP BY lang ORDER BY count(*) DESC, lang ASC LIMIT 1
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
                   CAST(count(*) FILTER (empty) AS BIGINT) AS n_empty_docs
            FROM per
        )
        SELECT n_docs, total_tokens,
               CAST(floor(total_tokens / n_docs) AS BIGINT) AS mean_tokens,
               n_langs, top_lang,
               CAST(floor(top_lang_docs * 1000000 / n_docs) AS BIGINT)
                   AS top_lang_share_e6,
               n_docs - n_unique AS n_dup_docs,
               n_empty_docs
        FROM tot CROSS JOIN lt
    """
    # clamped list slice, not per-element indexing: Spark's slice +
    # concat_ws clamps at the array end for docs shorter than the gram
    # width, while t[i+2] out of bounds is NULL and poisons the gram
    # (same fix as hashing.duck_shingles, round-9 degenerate-text find)
    rep_grams = (
        "list_transform(generate_series(1, greatest(len(t) - 2, 1)), "
        "i -> array_to_string(t[i : i + 2], ' '))"
    )
    out["q_repetition"] = f"""
        SELECT doc_id,
               len(t)::INT AS n_tokens,
               CAST(round((len(t) - len(list_distinct(t))) / len(t), 6)
                    AS DOUBLE) AS dup_token_ratio,
               CAST(round((len(g) - len(list_distinct(g))) / len(g), 6)
                    AS DOUBLE) AS dup_ngram_ratio,
               (len(t) - len(list_distinct(t))) / len(t) > 0.7 AS repetitive
        FROM (SELECT doc_id, {toks} AS t, {rep_grams} AS g FROM documents)
    """
    out["q_chunk_documents"] = f"""
        WITH t AS (
            SELECT doc_id, {toks} AS tk FROM documents
        ), c AS (
            SELECT doc_id, len(tk) AS n_tokens, tk,
                   unnest(generate_series(0,
                       CAST(ceil(len(tk) / 24.0) AS INT) - 1)) AS chunk_id
            FROM t
        )
        SELECT doc_id, chunk_id::INT AS chunk_id,
               (chunk_id * 24)::INT AS start_tok,
               least(32, n_tokens - chunk_id * 24)::INT AS chunk_len,
               {H.duck_h32("array_to_string(list_slice(tk, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')")}
                   AS chunk_h32
        FROM c
    """
    out["q_temperature_sample"] = """
        WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
        SELECT lang, n_docs,
               round(sqrt(sqrt(n_docs::DOUBLE)), 6) AS weight,
               round(sqrt(sqrt(n_docs::DOUBLE))
                     / sum(sqrt(sqrt(n_docs::DOUBLE))) OVER (), 6) AS p_sample,
               round(n_docs / sum(n_docs) OVER (), 6) AS p_natural
        FROM c
    """
    out["q_order_coverage"] = """
        WITH k AS (SELECT DISTINCT o_custkey FROM orders)
        SELECT c_mktsegment,
               count(k.o_custkey) AS n_with_orders,
               count(*) - count(k.o_custkey) AS n_without_orders
        FROM customer c LEFT JOIN k ON c.c_custkey = k.o_custkey
        GROUP BY c_mktsegment
    """
    out["q_quantize_embeddings"] = """
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
        ), qq AS (
            SELECT vec_id, x,
                   list_transform(x, v ->
                       greatest(-127, least(127, floor(v * 127 + 0.5)))) AS q
            FROM e
        ), agg AS (
            SELECT vec_id,
                   list_reduce(list_transform(q,
                       v -> CAST(v AS BIGINT) * CAST(v AS BIGINT)),
                       (a, b) -> a + b) AS qnorm2,
                   list_reduce(list_transform(generate_series(1, 64),
                       i -> (x[i] - q[i] / 127.0) * (x[i] - q[i] / 127.0)),
                       (a, b) -> a + b) AS err,
                   len(q) AS d
            FROM qq
        )
        SELECT vec_id, qnorm2,
               round(err, 6) AS sq_err,
               round(sqrt(err / d), 6) AS rms_err
        FROM agg
    """
    out["q_sliding_window"] = """
        WITH hop AS (
            SELECT event_type, value,
                   ((epoch_ms(ts) // 1800000) - g.i) * 1800000
                       AS window_start_ms
            FROM events, generate_series(0, 1) g(i)
        )
        SELECT event_type, window_start_ms,
               floor(sum(floor(value * 10000 + 0.5)::BIGINT) / count(*) + 0.5)
                   / 10000.0 AS avg_value,
               count(*) AS n_events
        FROM hop GROUP BY 1, 2
    """
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        duck_hll_sql,
        duck_kmv_sql,
    )

    out["q_distinct_sketch"] = duck_kmv_sql()
    out["q_hll_distinct"] = duck_hll_sql()
    # transitive closure over the SAME pair SQL the Spark query clusters —
    # components are small, so the closure stays tiny
    out["q_label_prop"] = dd.duck_label_prop_sql(out["q_dedup_ngram_jaccard"])
    out["q_modularity"] = dd.duck_modularity_sql(out["q_dedup_ngram_jaccard"])
    out["q_dedup_clusters"] = f"""
        WITH RECURSIVE pairs AS (
            {out["q_dedup_ngram_jaccard"]}
        ), bidir AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ), reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM bidir)
            UNION
            SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
        ), comp AS (
            SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
        )
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM comp
    """
    # funnel compares in µs space — the same precision Spark sees after
    # the ns→µs parquet truncation (load_table), so strict > agrees
    out["q_event_funnel"] = """
        WITH ev AS (
            SELECT user_id, event_type, epoch_us(ts) AS u FROM events
        ), s0 AS (
            SELECT user_id, min(u) AS t0 FROM ev
            WHERE event_type = 'view' GROUP BY user_id
        ), s1 AS (
            SELECT ev.user_id, min(u) AS t1 FROM ev JOIN s0 USING (user_id)
            WHERE event_type = 'click' AND u > t0 GROUP BY ev.user_id
        ), s2 AS (
            SELECT ev.user_id, min(u) AS t2 FROM ev JOIN s1 USING (user_id)
            WHERE event_type = 'purchase' AND u > t1 GROUP BY ev.user_id
        )
        SELECT s0.user_id,
               t0 // 1000 AS t_view_ms,
               t1 // 1000 AS t_click_ms,
               t2 // 1000 AS t_purchase_ms,
               (1 + CASE WHEN t1 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END)::INT
                   AS stages_completed
        FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
    """
    out["q_retention"] = """
        WITH f AS (
            SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
            FROM events GROUP BY user_id
        ), a AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day
            FROM events
        )
        SELECT epoch_ms(cohort_day) AS cohort_day_ms,
               ((epoch_ms(active_day) - epoch_ms(cohort_day)) // 86400000)::INT
                   AS day_offset,
               count(*) AS n_users
        FROM a JOIN f USING (user_id)
        GROUP BY 1, 2
    """
    out["q_unigram_lm"] = f"""
        WITH occ AS (
            SELECT doc_id, unnest({toks}) AS token FROM documents
        ), counts AS (
            SELECT token, count(*) AS cnt FROM occ GROUP BY token
        ), total AS (SELECT sum(cnt) AS total_tokens FROM counts)
        SELECT doc_id, count(*)::INT AS n_tokens,
               round(sum(cnt) / (count(*) * total_tokens), 6) AS lm_score
        FROM occ JOIN counts USING (token) CROSS JOIN total
        GROUP BY doc_id, total_tokens
    """
    sh3c = H.duck_shingles(toks, 3)
    out["q_dedup_containment"] = f"""
        WITH sized AS (
            SELECT doc_id, sh, len(sh) AS n_sh
            FROM (SELECT doc_id,
                         list_transform({sh3c}, s -> {H.duck_h32("s")}) AS sh
                  FROM documents)
        ), inv AS (
            SELECT doc_id, n_sh, unnest(sh) AS shingle FROM sized
        ), kept AS (
            SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= 100
        ), inv2 AS (
            SELECT inv.* FROM inv JOIN kept USING (shingle)
        ), pairs AS (
            SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst,
                   a.n_sh AS n_src, count(*) AS n_common
            FROM inv2 a JOIN inv2 b
              ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
            GROUP BY 1, 2, 3
        )
        SELECT doc_src, doc_dst,
               round(n_common / n_src, 4) AS containment
        FROM pairs
        WHERE round(n_common / n_src, 4) >= 0.3
    """
    out["q_pivot"] = """
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click') AS n_click,
               count(*) FILTER (WHERE event_type = 'error') AS n_error,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
               count(*) FILTER (WHERE event_type = 'view') AS n_view
        FROM events GROUP BY user_id
    """
    out["q_histogram"] = """
        SELECT bin,
               round(0.0 + bin * 25000.0, 2) AS bin_lo,
               count(*) AS n_orders
        FROM (
            SELECT least(23, greatest(0,
                       floor((o_totalprice - 0.0) / 25000.0)))::INT AS bin
            FROM orders
        ) GROUP BY bin
    """
    out["q_distinct_aggs"] = """
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS n_customers,
               count(DISTINCT o_orderstatus) AS n_statuses,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY o_orderpriority
    """
    # DuckDB md5(VARCHAR) hashes the utf-8 bytes — exactly the payload
    # Spark's encode(text,'UTF-8') hands the Python decoder
    fhex = lambda i: f"(('0x' || substr(md5(text), {9 + 2 * i}, 2))::INT)::DOUBLE"  # noqa: E731
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.multimodal import (
        duck_phash_dedup_sql,
    )

    out["q_media_phash_dedup"] = duck_phash_dedup_sql()
    out["q_media_features"] = f"""
        SELECT doc_id AS media_id,
               'text' AS kind,
               octet_length(encode(text)) AS n_bytes,
               ('0x' || substr(md5(text), 1, 8))::BIGINT AS checksum,
               {fhex(0)} AS f0, {fhex(1)} AS f1,
               {fhex(2)} AS f2, {fhex(3)} AS f3
        FROM documents
    """
    sh8 = H.duck_shingles(toks, 8)
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.curation import (
        duck_dsir_sql,
    )

    out["q_dsir_weights"] = duck_dsir_sql()
    out["q_decontaminate"] = f"""
        WITH grams AS (
            SELECT doc_id, unnest(list_transform({sh8},
                       s -> {H.duck_h32('s')})) AS g
            FROM documents
        ), ev AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0
        ), hits AS (
            SELECT doc_id, count(*) AS n_hits
            FROM grams JOIN ev USING (g)
            WHERE doc_id % 20 <> 0
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(h.n_hits, 0) AS n_hits,
               (coalesce(h.n_hits, 0) > 0) AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % 20 <> 0
    """
    inter = "len(list_filter(hs_a, h -> list_contains(hs_b, h)))"
    out["q_minhash_estimate"] = f"""
        WITH sigs AS (
            SELECT doc_id, hs, {H.duck_minhash('hs')} AS mh
            FROM (SELECT doc_id,
                         list_distinct(list_transform({sh3},
                             s -> {H.duck_h32('s')})) AS hs
                  FROM documents)
        ), bands AS (
            SELECT doc_id, mh, hs,
                   unnest(list_transform(generate_series(0, {H.LSH_BANDS - 1}),
                       b -> b::VARCHAR || ':' ||
                            array_to_string(mh[b * {H.LSH_ROWS} + 1 :
                                               b * {H.LSH_ROWS} + {H.LSH_ROWS}], '-')
                   )) AS band_key
            FROM sigs
        ), kept AS (
            SELECT band_key FROM bands GROUP BY band_key HAVING count(*) <= 50
        ), b2 AS (
            SELECT bands.* FROM bands JOIN kept USING (band_key)
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.mh AS mh_a, b.mh AS mh_b,
                            a.hs AS hs_a, b.hs AS hs_b
            FROM b2 a JOIN b2 b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        ), scored AS (
            SELECT doc_a, doc_b,
                   round(len(list_filter(generate_series(1, {H.MINHASH_K}),
                             i -> mh_a[i] = mh_b[i])) / {H.MINHASH_K}, 4)
                       AS est_jaccard,
                   round({inter} / (len(hs_a) + len(hs_b) - {inter}), 4)
                       AS exact_jaccard
            FROM cand
        )
        SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
               round(abs(est_jaccard - exact_jaccard), 4) AS abs_err
        FROM scored
    """
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        CMS_DEPTH,
        CMS_WIDTH,
    )

    def cms_bucket(d: int) -> str:
        return f"{H.duck_h32(f_cms(d))} % {CMS_WIDTH}"

    def f_cms(d: int) -> str:
        return f"('cms{d}:' || token)"

    pairs = " UNION ALL ".join(
        f"SELECT {d} AS d, {cms_bucket(d)} AS bucket, token FROM occ"
        for d in range(CMS_DEPTH)
    )
    probes = " UNION ALL ".join(
        f"SELECT token, exact_n, {d} AS d, {cms_bucket(d)} AS bucket FROM top"
        for d in range(CMS_DEPTH)
    )
    out["q_countmin_topk"] = f"""
        WITH occ AS (
            SELECT unnest({toks}) AS token FROM documents
        ), pairs AS ({pairs}),
        cells AS (
            SELECT d, bucket, count(*) AS cell_n FROM pairs GROUP BY 1, 2
        ), top AS (
            SELECT token, count(*) AS exact_n FROM occ GROUP BY token
            ORDER BY exact_n DESC, token LIMIT 20
        ), probe AS ({probes})
        SELECT p.token, p.exact_n, min(c.cell_n) AS est_n
        FROM probe p JOIN cells c USING (d, bucket)
        GROUP BY p.token, p.exact_n
    """
    out["q_string_battery"] = """
        SELECT c_custkey,
               upper(c_name) AS name_upper,
               lower(c_mktsegment) AS seg_lower,
               length(c_name)::INT AS name_len,
               substring(c_name, 10, 5) AS name_mid,
               lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS key_padded,
               reverse(c_mktsegment) AS seg_rev,
               regexp_replace(c_name, '0', 'o', 'g') AS name_o,
               strpos(c_name, '#')::INT AS hash_pos,
               split_part(c_name, '#', 2) AS name_num,
               translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_folded,
               concat_ws('|', c_mktsegment, c_name) AS seg_name,
               levenshtein(c_mktsegment, 'MACHINERY')::INT AS seg_dist,
               repeat('*', length(c_mktsegment)) AS seg_mask
        FROM customer
    """
    out["q_date_battery"] = """
        SELECT o_orderkey,
               year(o_orderdate)::INT AS y,
               quarter(o_orderdate)::INT AS q,
               month(o_orderdate)::INT AS m,
               day(o_orderdate)::INT AS dom,
               dayofyear(o_orderdate)::INT AS doy,
               isodow(o_orderdate)::INT AS isodow,
               weekofyear(o_orderdate)::INT AS isoweek,
               epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
               CAST(last_day(o_orderdate) AS VARCHAR) AS month_end,
               CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
               date_diff('day', CAST(o_orderdate AS DATE),
                         DATE '1998-12-31')::INT AS days_to_eoy98
        FROM orders
    """
    out["q_array_battery"] = f"""
        WITH t AS (
            SELECT doc_id, {toks} AS tk FROM documents
        ), h AS (
            SELECT doc_id, tk,
                   tk[1 : CAST(floor(len(tk) / 2) AS INT)] AS lo,
                   tk[CAST(floor(len(tk) / 2) AS INT) + 1 :] AS hi
            FROM t
        )
        SELECT doc_id,
               len(tk)::INT AS n_toks,
               len(list_distinct(tk))::INT AS n_uniq,
               list_contains(tk, 'the') AS has_the,
               coalesce(list_position(tk, 'value'), 0)::INT AS first_value_pos,
               array_to_string(list_sort(tk)[1:5], ' ') AS first5_sorted,
               coalesce(array_to_string(list_sort(list_distinct(
                   list_intersect(lo, hi))), ' '), '') AS half_overlap,
               coalesce(array_to_string(list_sort(list_distinct(list_filter(lo,
                   x -> NOT list_contains(hi, x)))), ' '), '') AS lo_only,
               len(list_distinct(list_concat(lo, hi)))::INT AS n_union
        FROM h
    """
    out["q_json_extract"] = """
        SELECT event_type,
               count(*) AS n,
               count(k) AS n_k,
               min(k)::INT AS min_k,
               max(k)::INT AS max_k,
               sum(k)::BIGINT AS sum_k,
               round(avg(k), 4) AS avg_k
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INT) AS k
              FROM events)
        GROUP BY event_type
    """
    out["q_window_dedup"] = """
        SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value,
               epoch_ms(date_trunc('hour', ts)) AS window_start_ms
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, event_type, date_trunc('hour', ts)
                ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    """
    doc_h = H.duck_h32("cast(doc_id as varchar)")
    out["q_shard_assign"] = f"""
        SELECT shard, count(*) AS n_docs,
               sum(h)::BIGINT AS checksum,
               min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM (SELECT doc_id, {doc_h} AS h,
                     ({doc_h} % 16)::INT AS shard
              FROM documents)
        GROUP BY shard
    """
    mix_bucket = _smp_duck_bucket("concat(source, '/', doc_id)", "mix1")
    mix_rate = (
        "CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 75 "
        "WHEN 'src2' THEN 50 WHEN 'src3' THEN 25 ELSE 10 END"
    )
    out["q_interleave_sources"] = f"""
        SELECT source, count(*) AS n_docs,
               sum(kept)::BIGINT AS n_kept,
               round(sum(kept) / count(*), 4) AS kept_frac
        FROM (SELECT source,
                     ({mix_bucket} < ({mix_rate}) * 100)::INT AS kept
              FROM documents)
        GROUP BY source
    """
    out["q_ann_recall"] = f"""
        WITH exact AS ({out['q_topk_cosine']}),
        approx AS ({out['q_similarity_ivf']}),
        found AS (
            SELECT e.probe_id, count(*) AS n_found
            FROM exact e JOIN approx a
              ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
            GROUP BY e.probe_id
        ), base AS (
            SELECT probe_id, count(*) AS n_true FROM exact GROUP BY probe_id
        )
        SELECT b.probe_id, b.n_true,
               coalesce(f.n_found, 0)::BIGINT AS n_found,
               round(coalesce(f.n_found, 0) / b.n_true, 4) AS recall
        FROM base b LEFT JOIN found f USING (probe_id)
    """
    out["q_ndcg"] = sim.duck_ndcg_sql(
        out["q_topk_cosine"], out["q_similarity_lsh"], k=5
    )
    out["q_matryoshka_recall"] = f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), scored AS (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   round({duck_cosine('p.pe', 'c.ce', 64)}, 4) AS sim_full,
                   round({duck_cosine('p.pe', 'c.ce', 16)}, 4) AS sim_prefix
            FROM (SELECT vec_id, emb AS pe FROM e WHERE vec_id < 10) p
            JOIN (SELECT vec_id, emb AS ce FROM e) c
              ON c.vec_id <> p.vec_id
        ), ranked AS (
            SELECT probe_id,
                   row_number() OVER (PARTITION BY probe_id
                       ORDER BY sim_full DESC, neighbor_id) AS rf,
                   row_number() OVER (PARTITION BY probe_id
                       ORDER BY sim_prefix DESC, neighbor_id) AS rp
            FROM scored
        )
        SELECT probe_id, CAST(16 AS INT) AS prefix_dim,
               sum(CASE WHEN rf <= 10 THEN 1 ELSE 0 END)::BIGINT AS n_true,
               sum(CASE WHEN rf <= 10 AND rp <= 10
                        THEN 1 ELSE 0 END)::BIGINT AS n_found,
               round(sum(CASE WHEN rf <= 10 AND rp <= 10 THEN 1 ELSE 0 END)
                     / sum(CASE WHEN rf <= 10 THEN 1 ELSE 0 END), 4)
                   AS recall
        FROM ranked GROUP BY probe_id
    """
    seeded = (
        "concat(text, ' contact user', CAST(doc_id AS VARCHAR),"
        " '@mail.example or +1-555-',"
        " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"
    )
    out["q_pii_redact"] = f"""
        SELECT doc_id,
               len(regexp_extract_all(seeded, '{tx.EMAIL_RE}'))::INT
                   AS n_emails,
               len(regexp_extract_all(seeded, '{tx.PHONE_RE}'))::INT
                   AS n_phones,
               regexp_replace(regexp_replace(seeded,
                   '{tx.EMAIL_RE}', '<EMAIL>', 'g'),
                   '{tx.PHONE_RE}', '<PHONE>', 'g') AS redacted
        FROM (SELECT doc_id, {seeded} AS seeded FROM documents)
    """
    out["q_bigram_lm"] = f"""
        WITH flat AS (
            SELECT p.w1 AS w1, p.w2 AS w2 FROM (
                SELECT unnest(list_transform(
                    generate_series(1, len(tk) - 1),
                    i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS p
                FROM (SELECT {toks} AS tk FROM documents)
            )
        ), big AS (
            SELECT w1, w2, count(*) AS c12 FROM flat GROUP BY 1, 2
        ), pre AS (
            SELECT w1, count(*) AS c1 FROM flat GROUP BY 1
        )
        SELECT b.w1, b.w2, b.c12, p.c1,
               round(b.c12 / p.c1, 4) AS cond_p
        FROM big b JOIN pre p USING (w1)
        WHERE b.c12 >= 5
    """
    out["q_quantile_buckets"] = """
        -- avg from exact bigint cents divided once: identical integers
        -- on both engines, instead of order-dependent double summation
        SELECT bucket, count(*) AS n,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi,
               round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     / (100.0 * count(*)), 4) AS avg_price
        FROM (
            SELECT o_totalprice, ntile(10) OVER (
                ORDER BY o_totalprice, o_orderkey) AS bucket
            FROM orders
        ) GROUP BY bucket
    """
    out["q_calendar_fill"] = """
        WITH cal AS (
            SELECT unnest(generate_series(DATE '2024-01-01',
                DATE '2024-01-30', INTERVAL 1 DAY))::DATE AS day
        ), types AS (
            SELECT DISTINCT event_type FROM events
        ), daily AS (
            SELECT CAST(ts AS DATE) AS day, event_type,
                   count(*) AS n, round(sum(value), 2) AS total
            FROM events GROUP BY 1, 2
        )
        SELECT CAST(c.day AS VARCHAR) AS day, t.event_type,
               coalesce(d.n, 0)::BIGINT AS n,
               round(coalesce(d.total, 0), 2) AS total
        FROM cal c CROSS JOIN types t
        LEFT JOIN daily d ON d.day = c.day AND d.event_type = t.event_type
    """
    out["q_pair_degree"] = f"""
        WITH pairs AS ({out['q_dedup_ngram_jaccard']}),
        nodes AS (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL
            SELECT doc_b AS doc_id FROM pairs
        ), deg AS (
            SELECT doc_id, count(*) AS degree FROM nodes GROUP BY doc_id
        )
        SELECT degree, count(*) AS n_docs FROM deg GROUP BY degree
    """
    out["q_cooccurrence_lift"] = """
        WITH joint AS (
            SELECT lang, source, count(*) AS n_xy
            FROM documents GROUP BY lang, source
        ), mx AS (
            SELECT lang, count(*) AS n_x FROM documents GROUP BY lang
        ), my AS (
            SELECT source, count(*) AS n_y FROM documents GROUP BY source
        ), tot AS (SELECT count(*) AS n_tot FROM documents)
        SELECT j.lang, j.source, j.n_xy, m.n_x, s.n_y,
               round((j.n_xy * t.n_tot) / (m.n_x * s.n_y), 4) AS lift
        FROM joint j
        JOIN mx m USING (lang)
        JOIN my s USING (source)
        CROSS JOIN tot t
    """
    out["q_late_data_audit"] = """
        WITH arr AS (
            SELECT event_type, epoch_ms(ts) AS t,
                   max(epoch_ms(ts)) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS seen
            FROM events
        )
        SELECT event_type, count(*) AS n_events,
               sum(CASE WHEN t < seen - 600000 THEN 1 ELSE 0 END)::BIGINT
                   AS n_late,
               max(CASE WHEN t < seen - 600000 THEN seen - 600000 - t
                        ELSE 0 END)::BIGINT AS max_late_ms
        FROM arr GROUP BY event_type
    """
    out["q_vocab_coverage"] = f"""
        WITH occ AS (
            SELECT lang, token
            FROM (SELECT lang,
                         unnest({H.duck_tokens('lower(text)')}) AS token
                  FROM documents)
            WHERE token <> ''
        ), top AS (
            SELECT token, 1 AS hit FROM (
                SELECT token, count(*) AS freq FROM occ GROUP BY token
                ORDER BY freq DESC, token ASC LIMIT 100
            )
        )
        SELECT lang, count(*) AS total_tokens,
               sum(coalesce(hit, 0))::BIGINT AS covered_tokens,
               round(sum(coalesce(hit, 0)) / count(*), 4) AS coverage
        FROM occ LEFT JOIN top USING (token)
        GROUP BY lang
    """
    # the streaming upsert of a unique-keyed table is the identity: the
    # ingested table must hash-match the source relation itself
    out["q_stream_ingest"] = f"""
        SELECT {_ORDERS_OUT}
        FROM orders
    """
    out["q_frame_sample"] = """
        SELECT doc_id AS media_id,
               unnest(generate_series(0, greatest(n_chars * 7 - 1, 0), 250))
                   AS frame_ts_ms
        FROM documents WHERE doc_id % 3 = 0
    """
    out["q_media_resize"] = """
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'video' WHEN 1 THEN 'image'
                    ELSE 'audio' END AS kind,
               (CASE WHEN doc_id % 3 = 1 THEN
                    greatest(1, trunc(octet_length(encode(text)) *
                        least(4096.0 / ((32 + doc_id % 64)
                                        * (32 + (doc_id * 7) % 64)), 1.0)))
                ELSE octet_length(encode(text)) END)::INT AS n_bytes,
               (CASE WHEN doc_id % 3 = 1 THEN 64
                     ELSE 32 + doc_id % 64 END)::INT AS width,
               (CASE WHEN doc_id % 3 = 1 THEN 64
                     ELSE 32 + (doc_id * 7) % 64 END)::INT AS height
        FROM documents
    """
    out["q_pandas_norm"] = """
        SELECT vec_id,
               list_sum(list_transform(embedding::DOUBLE[],
                   x -> trunc(x * 127)::BIGINT * trunc(x * 127)::BIGINT)
               )::BIGINT AS norm_sq
        FROM embeddings
    """
    out["q_pandas_scale"] = """
        SELECT doc_id, lang, n_chars,
               ((n_chars - lo) * 10000) // greatest(hi - lo, 1) AS scaled
        FROM (
            SELECT doc_id, lang, n_chars,
                   min(n_chars) OVER (PARTITION BY lang) AS lo,
                   max(n_chars) OVER (PARTITION BY lang) AS hi
            FROM documents
        )
    """
    out["q_pandas_agg"] = """
        SELECT lang, source, count(*) AS n_docs,
               sum(n_chars)::BIGINT AS total_chars
        FROM documents GROUP BY lang, source
    """
    out["q_bucketed_join"] = """
        SELECT c_mktsegment, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """
    out["q_outer_join"] = """
        SELECT coalesce(c_mktsegment, '<none>') AS segment,
               count(*) AS n_rows,
               sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_customers_without_orders,
               round(sum(coalesce(o_totalprice, 0)), 2) AS revenue
        FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY 1
    """
    out["q_window_analytics"] = """
        SELECT o_orderkey, o_orderpriority,
               round(percent_rank() OVER w, 4) AS pct_rank,
               round(cume_dist() OVER w, 4) AS cume,
               first_value(o_orderkey) OVER wf AS cheapest_key,
               last_value(o_orderkey) OVER wf AS priciest_key,
               nth_value(o_orderkey, 3) OVER wf AS third_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey),
               wf AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
    """
    out["q_minmax_by"] = """
        SELECT o_orderpriority,
               arg_min(o_orderkey, combo) AS cheapest_key,
               arg_max(o_orderkey, combo) AS priciest_key,
               count(*) AS n_orders
        FROM (SELECT o_orderpriority, o_orderkey,
                     round(o_totalprice * 100)::BIGINT * 100000000
                         + o_orderkey AS combo
              FROM orders)
        GROUP BY o_orderpriority
    """
    out["q_csv_source"] = """
        SELECT count(*) AS n_rows,
               sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)::BIGINT
                   AS n_quarantined,
               sum(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey
                        ELSE 0 END)::BIGINT AS sum_keys_parsed
        FROM orders
    """
    out["q_jsonl_source"] = """
        SELECT count(*) AS n_rows,
               sum(CASE WHEN event_id % 89 = 0 THEN 1 ELSE 0 END)::BIGINT
                   AS n_quarantined,
               sum(CASE WHEN event_id % 89 <> 0 THEN event_id
                        ELSE 0 END)::BIGINT AS sum_keys_parsed,
               round(sum(CASE WHEN event_id % 89 <> 0 THEN value
                              ELSE 0 END), 2) AS sum_value_parsed
        FROM events
    """
    out["q_bpe_pair_merge"] = f"""
        WITH words AS (
            SELECT w, count(*) AS freq
            FROM (SELECT unnest({toks}) AS w FROM documents)
            GROUP BY w
            HAVING length(w) >= 2
        ), pairs AS (
            SELECT freq,
                   unnest(list_transform(generate_series(1, length(w) - 1),
                          i -> substr(w, i, 2))) AS pair
            FROM words
        )
        SELECT pair, sum(freq)::BIGINT AS n_occurrences
        FROM pairs GROUP BY pair
        ORDER BY n_occurrences DESC, pair ASC LIMIT 100
    """
    # incremental dedup: exact legs on md5, near leg replays the same
    # side-tagged union inverted index with the df cut over the union
    out["q_dedup_incremental"] = f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        ), newd AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
        ), nh AS (
            SELECT doc_id, md5(text) AS h FROM newd
        ), ch AS (
            SELECT DISTINCT md5(text) AS h FROM corpus
        ), bm AS (
            SELECT h, min(doc_id) AS mn FROM nh GROUP BY h
        ), tagged AS (
            SELECT doc_id, text, 0 AS side FROM corpus
            UNION ALL
            SELECT doc_id, text, 1 AS side FROM newd
        ), sized AS (
            SELECT doc_id, side,
                   list_transform({sh3}, s -> {H.duck_h32("s")}) AS sh
            FROM tagged
        ), inv AS (
            SELECT doc_id, side, len(sh) AS n_sh, unnest(sh) AS shingle
            FROM sized
        ), kept_sh AS (
            SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= 100
        ), inv2 AS (
            SELECT inv.* FROM inv JOIN kept_sh USING (shingle)
        ), nearset AS (
            SELECT DISTINCT
                   CASE WHEN side_a = 1 THEN doc_a ELSE doc_b END AS doc_id
            FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.side AS side_a, a.n_sh AS n_a, b.n_sh AS n_b,
                       count(*) AS n_common
                FROM inv2 a JOIN inv2 b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 AND a.side <> b.side
                GROUP BY 1, 2, 3, 4, 5
            )
            WHERE round(n_common / (n_a + n_b - n_common), 4) >= 0.2
        )
        SELECT n.doc_id,
               CASE WHEN ch.h IS NOT NULL THEN 'exact_dup_corpus'
                    WHEN n.doc_id <> bm.mn THEN 'exact_dup_batch'
                    WHEN ns.doc_id IS NOT NULL THEN 'near_dup_corpus'
                    ELSE 'kept' END AS status
        FROM nh n
        JOIN bm ON n.h = bm.h
        LEFT JOIN ch ON n.h = ch.h
        LEFT JOIN nearset ns ON n.doc_id = ns.doc_id
    """
    # keep-best: CC transitive closure (recursive CTE) + quality argmax —
    # the composed curation decision, both legs reusing their own oracles
    out["q_dedup_keep_best"] = f"""
        SELECT cluster_id, doc_id AS kept_doc_id,
               quality AS kept_quality, cluster_size,
               cluster_size - 1 AS n_dropped
        FROM (
            SELECT c.doc_id, c.cluster_id, c.cluster_size, q.quality,
                   row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY q.quality DESC, c.doc_id ASC
                   ) AS rn
            FROM ({out["q_dedup_clusters"]}) c
            JOIN ({out["q_quality_score"]}) q USING (doc_id)
        ) WHERE rn = 1
    """
    # PageRank: unroll the same 3 supersteps pagerank_pairs runs, over the
    # same near-dup edge set — iterative algebra inside the exact gate
    damping = 0.85
    pr = [
        f"WITH pairs AS ({out['q_dedup_ngram_jaccard']}),",
        "e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),",
        "deg AS (SELECT src, count(*) AS degree FROM e GROUP BY src),",
        "nn AS (SELECT count(*) AS n FROM deg),",
        "r0 AS (SELECT src AS doc_id, 1.0 / nn.n AS rank"
        " FROM deg CROSS JOIN nn),",
    ]
    for i in range(3):
        pr.append(
            f"c{i + 1} AS (SELECT e.dst, sum(r.rank / d.degree) AS c"
            f" FROM e JOIN deg d ON e.src = d.src"
            f" JOIN r{i} r ON e.src = r.doc_id GROUP BY e.dst),"
        )
        pr.append(
            f"r{i + 1} AS (SELECT d.src AS doc_id,"
            f" (1.0 - {damping}) / nn.n"
            f" + {damping} * coalesce(c{i + 1}.c, 0.0) AS rank"
            f" FROM deg d CROSS JOIN nn"
            f" LEFT JOIN c{i + 1} ON d.src = c{i + 1}.dst)"
            + ("," if i < 2 else "")
        )
    pr.append(
        "SELECT doc_id, round(rank * nn.n, 6) AS norm_rank"
        " FROM r3 CROSS JOIN nn"
    )
    out["q_pagerank_neardup"] = "\n".join(pr)
    out["q_lsh_s_curve"] = dd.duck_lsh_s_curve_sql()
    out["q_lsh_recall"] = dd.duck_lsh_recall_sql(
        out["q_dedup_ngram_jaccard"], out["q_dedup_minhash_lsh"]
    )
    _b = _smp_duck_bucket("doc_id")
    _g8 = f"list_transform({H.duck_shingles(H.duck_tokens('text'), 8)}, s -> {H.duck_h32('s')})"
    out["q_split_leakage"] = f"""
        WITH lab AS (
            SELECT doc_id,
                   CASE WHEN {_b} < 9000 THEN 'train'
                        WHEN {_b} < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        ), g AS (
            SELECT doc_id, unnest({_g8}) AS g FROM documents
        ), lg AS (
            SELECT g.doc_id, g.g, lab.split FROM g JOIN lab USING (doc_id)
        ), tg AS (
            SELECT DISTINCT g FROM lg WHERE split = 'train'
        ), leaked AS (
            SELECT DISTINCT l.doc_id, l.split
            FROM lg l JOIN tg USING (g) WHERE l.split <> 'train'
        ), base AS (
            SELECT split, count(*)::BIGINT AS n_docs
            FROM lab WHERE split <> 'train' GROUP BY split
        ), lk AS (
            SELECT split, count(*)::BIGINT AS n_leaked FROM leaked GROUP BY split
        )
        SELECT b.split, b.n_docs,
               coalesce(lk.n_leaked, 0)::BIGINT AS n_leaked,
               round(coalesce(lk.n_leaked, 0) / b.n_docs, 6) AS leak_rate
        FROM base b LEFT JOIN lk USING (split)
    """
    out["q_snapshot_diff"] = """
        WITH scoped AS (
            SELECT * FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        ), pre AS (
            SELECT * FROM scoped WHERE o_orderdate < TIMESTAMP '2000-01-01'
        )
        SELECT 'inserted' AS change_type, count(*)::BIGINT AS n_rows,
               coalesce(sum(o_orderkey), 0)::BIGINT AS key_sum
        FROM scoped WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        UNION ALL
        SELECT 'updated', count(*)::BIGINT,
               coalesce(sum(o_orderkey), 0)::BIGINT
        FROM pre WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT 'unchanged', count(*)::BIGINT,
               coalesce(sum(o_orderkey), 0)::BIGINT
        FROM pre WHERE o_orderpriority <> '1-URGENT'
    """
    out["q_join_cardinality"] = """
        WITH lc AS (
            SELECT o_custkey AS k, count(*) AS cl FROM orders GROUP BY 1
        ), rc AS (
            SELECT c_custkey AS k, count(*) AS cr FROM customer GROUP BY 1
        ), matched AS (SELECT lc.cl, rc.cr FROM lc JOIN rc USING (k))
        SELECT (SELECT count(*) FROM orders)::BIGINT AS n_left,
               (SELECT count(DISTINCT o_custkey) FROM orders)::BIGINT
                   AS n_left_keys,
               (SELECT count(*) FROM customer)::BIGINT AS n_right,
               (SELECT count(DISTINCT c_custkey) FROM customer)::BIGINT
                   AS n_right_keys,
               count(*)::BIGINT AS n_matching_keys,
               coalesce(sum(cl * cr), 0)::BIGINT AS join_rows,
               coalesce(max(cl * cr), 0)::BIGINT AS max_key_rows
        FROM matched
    """
    out["q_retention_cohorts"] = """
        WITH ua AS (
            SELECT DISTINCT user_id,
                   epoch_ms(date_trunc('day', ts)) AS day_ms
            FROM events
        ), cohort AS (
            SELECT user_id, min(day_ms) AS cohort_ms FROM ua GROUP BY user_id
        ), act AS (
            SELECT ua.user_id, c.cohort_ms,
                   CAST((ua.day_ms - c.cohort_ms) / 86400000 AS INT)
                       AS day_offset
            FROM ua JOIN cohort c USING (user_id)
            WHERE (ua.day_ms - c.cohort_ms) / 86400000 <= 7
        ), sizes AS (
            SELECT cohort_ms, count(*)::BIGINT AS n_users
            FROM cohort GROUP BY cohort_ms
        ), ret AS (
            SELECT cohort_ms, day_offset,
                   count(DISTINCT user_id)::BIGINT AS n_active
            FROM act GROUP BY cohort_ms, day_offset
        )
        SELECT r.cohort_ms, r.day_offset, r.n_active, s.n_users,
               round(r.n_active / s.n_users, 6) AS retention
        FROM ret r JOIN sizes s USING (cohort_ms)
    """
    out["q_ngram_novelty"] = f"""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform({sh3},
                       s -> {H.duck_h32('s')})) AS hs
            FROM documents
        ), e AS (
            SELECT doc_id, unnest(hs) AS g FROM sh
        ), f AS (
            SELECT g, min(doc_id) AS first_doc FROM e GROUP BY g
        ), per AS (
            SELECT e.doc_id,
                   count(*) AS n_grams,
                   sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                       AS n_novel
            FROM e JOIN f USING (g) GROUP BY e.doc_id
        )
        SELECT d.doc_id,
               coalesce(per.n_grams, 0)::BIGINT AS n_grams,
               coalesce(per.n_novel, 0)::BIGINT AS n_novel,
               CASE WHEN per.n_grams > 0
                    THEN round(per.n_novel / per.n_grams, 6) END AS novelty
        FROM documents d LEFT JOIN per USING (doc_id)
    """
    out["q_xcorr_lag"] = """
        WITH ev AS (
            SELECT event_type,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ), lags AS (
            SELECT unnest(range(0, 8)) AS lag_days
        ), p AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   l.lag_days, a.n AS x, b.n AS y
            FROM ev a CROSS JOIN lags l
            JOIN ev b ON b.event_type <> a.event_type
                     AND b.day = a.day + l.lag_days
        ), s AS (
            SELECT type_a, type_b, lag_days, count(*) AS m,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sxx, sum(y * y) AS syy
            FROM p GROUP BY 1, 2, 3
        )
        SELECT type_a, type_b, lag_days, m,
               round((m * sxy - sx * sy)
                     / nullif(sqrt((m * sxx - sx * sx)::DOUBLE)
                              * sqrt((m * syy - sy * sy)::DOUBLE), 0.0), 6)
                   AS xcorr
        FROM s
    """
    out["q_ab_ztest"] = """
        WITH c AS (
            SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cv
            FROM events
        ), g AS (
            SELECT event_type, count(*)::BIGINT AS n1,
                   sum(cv)::BIGINT AS sx1, sum(cv * cv)::BIGINT AS sxx1
            FROM c GROUP BY 1
        ), t AS (
            SELECT count(*)::BIGINT AS nt, sum(cv)::BIGINT AS sxt,
                   sum(cv * cv)::BIGINT AS sxxt
            FROM c
        ), j AS (
            SELECT g.*, t.nt - g.n1 AS n2, t.sxt - g.sx1 AS sx2,
                   t.sxxt - g.sxx1 AS sxx2
            FROM g CROSS JOIN t
        )
        SELECT event_type, n1 AS n,
               round(sx1 / n1 / 100.0, 4) AS mean_value,
               round(sx2 / nullif(n2::DOUBLE, 0) / 100.0, 4) AS mean_rest,
               round((sx1 / n1 / 100.0
                      - sx2 / nullif(n2::DOUBLE, 0) / 100.0)
                     / sqrt((sxx1 - sx1::DOUBLE * sx1 / n1::DOUBLE)
                                / nullif((n1 - 1)::DOUBLE, 0.0) / 10000.0 / n1
                            + (sxx2 - sx2::DOUBLE * sx2 / n2::DOUBLE)
                                / nullif((n2 - 1)::DOUBLE, 0.0) / 10000.0
                                / nullif(n2::DOUBLE, 0)),
                     4) + 0.0 AS z_score
        FROM j
    """
    out["q_mixture_waterfill"] = """
        WITH avail AS (
            SELECT source, sum(n_chars)::BIGINT AS avail_chars
            FROM documents GROUP BY 1
        ), tot AS (
            SELECT sum(avail_chars)::BIGINT AS total_chars,
                   count(*)::BIGINT AS n_sources,
                   ((sum(avail_chars)::BIGINT * 1) // 2)::BIGINT AS budget
            FROM avail
        ), ranked AS (
            SELECT a.*, t.n_sources, t.budget,
                   row_number() OVER (ORDER BY avail_chars ASC, source ASC)
                       AS i,
                   sum(avail_chars)
                       OVER (ORDER BY avail_chars ASC, source ASC)::BIGINT
                       AS cum
            FROM avail a CROSS JOIN tot t
        ), sat AS (
            SELECT *, (avail_chars * (n_sources - i + 1)
                       <= budget - (cum - avail_chars)) AS saturated
            FROM ranked
        ), line AS (
            SELECT sum(CASE WHEN saturated THEN 1 ELSE 0 END)::BIGINT
                       AS k_sat,
                   coalesce(sum(CASE WHEN saturated THEN avail_chars END),
                            0)::BIGINT AS sat_chars
            FROM sat
        )
        SELECT source, avail_chars, saturated,
               round(CASE WHEN saturated THEN avail_chars::DOUBLE
                          ELSE (budget - sat_chars)
                               / nullif((n_sources - k_sat)::DOUBLE, 0.0)
                     END, 2) AS alloc_chars,
               round(CASE WHEN saturated THEN avail_chars::DOUBLE
                          ELSE (budget - sat_chars)
                               / nullif((n_sources - k_sat)::DOUBLE, 0.0)
                     END / avail_chars, 6) AS sample_rate
        FROM sat CROSS JOIN line
    """
    out["q_quality_calibration"] = f"""
        WITH q AS (
            SELECT lang, quality FROM ({out['q_quality_score']})
            WHERE quality IS NOT NULL
        ), h AS (
            SELECT lang, quality, count(*)::BIGINT AS c
            FROM q GROUP BY 1, 2
        ), t AS (
            SELECT lang, count(*)::BIGINT AS n_docs,
                   ((3 * count(*)::BIGINT + 3) // 4)::BIGINT AS keep_target
            FROM q GROUP BY 1
        ), cm AS (
            SELECT h.lang, h.quality,
                   sum(c) OVER (PARTITION BY h.lang
                                ORDER BY h.quality DESC)::BIGINT AS cum,
                   t.n_docs, t.keep_target
            FROM h JOIN t USING (lang)
        )
        SELECT lang, n_docs, keep_target,
               max(quality) AS threshold,
               min(cum)::BIGINT AS n_kept,
               round(min(cum) / n_docs, 6) AS keep_rate
        FROM cm WHERE cum >= keep_target
        GROUP BY lang, n_docs, keep_target
    """
    # sample_budget mirrors _pq_books_cached's train_budget — both sides
    # derive from train_budget_for(16) so engine and oracle cannot diverge
    _pq_b = sim.train_budget_for(16)
    out["q_pq_encode"] = sim.duck_pq_sql(m=4, k=16, sample_budget=_pq_b)
    out["q_pq_adc_topk"] = sim.duck_pq_adc_sql(
        m=4, k=16, probe_id=0, topk=10, sample_budget=_pq_b
    )
    out["q_pq_recall"] = sim.duck_pq_recall_sql(
        m=4, k=16, probe_id=0, topk=10, sample_budget=_pq_b
    )
    out["q_ivfpq_topk"] = sim.duck_ivfpq_sql(
        m=4, k=16, probe_id=0, topk=10, sample_budget=_pq_b
    )
    out["q_attribution"] = """
        WITH conv AS (
            SELECT user_id AS cu, event_id AS conv_id, ts AS cts
            FROM events WHERE event_type = 'purchase'
        ), touch AS (
            SELECT user_id AS tu, event_id AS touch_id,
                   event_type AS touch_type, ts AS tts
            FROM events WHERE event_type IN ('click', 'view')
        ), pairs AS (
            SELECT conv_id, touch_type, touch_id, tts
            FROM conv JOIN touch
              ON cu = tu AND tts < cts
             AND tts >= cts - INTERVAL 86400000 MILLISECONDS
        ), ranked AS (
            SELECT conv_id, touch_type,
                   row_number() OVER (PARTITION BY conv_id
                       ORDER BY tts DESC, touch_id) AS recency_rank,
                   count(*) OVER (PARTITION BY conv_id) AS n_touches
            FROM pairs
        )
        SELECT touch_type,
               count(DISTINCT conv_id)::BIGINT AS n_conversions,
               count(*)::BIGINT AS n_touches_credited,
               sum(CASE WHEN recency_rank = 1 THEN 1 ELSE 0 END)::BIGINT
                   AS last_touch_conversions,
               round(sum(floor(1000000.0 / n_touches)) / 1000000.0, 4)
                   AS linear_credit
        FROM ranked GROUP BY touch_type ORDER BY touch_type
    """
    out["q_seasonal_decompose"] = """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        ), framed AS (
            SELECT event_type, day, c,
                   sum(c) OVER w AS s7, count(*) OVER w AS n7,
                   day % 7 AS dow
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ), detr AS (
            SELECT event_type, day, c, s7, dow, 7 * c - s7 AS detr7
            FROM framed WHERE n7 = 7
        ), comp AS (
            SELECT event_type, day, c, s7, detr7,
                   sum(detr7) OVER (PARTITION BY event_type, dow) AS sd7,
                   count(*) OVER (PARTITION BY event_type, dow) AS cnt
            FROM detr
        )
        SELECT event_type, day, c::BIGINT AS n_events,
               round(s7 / 7.0, 4) AS trend,
               round(sd7 / (7.0 * cnt), 4) AS seasonal,
               round((detr7 * cnt - sd7) / (7.0 * cnt), 4) AS residual
        FROM comp
    """
    km_q = (
        "list_transform(embedding::DOUBLE[], x -> CAST(greatest(-127,"
        " least(127, floor(x * 127 + 0.5))) AS BIGINT))"
    )
    out["q_norm_profile"] = f"""
        WITH q AS (
            SELECT label,
                   list_sum(list_transform({km_q}, v -> v * v)) AS sq
            FROM embeddings
        )
        SELECT label, count(*)::BIGINT AS n_vecs,
               min(sq)::BIGINT AS min_sq_norm,
               max(sq)::BIGINT AS max_sq_norm,
               round(sum(sq) / count(*), 4) AS mean_sq_norm
        FROM q GROUP BY label
    """
    out["q_mahalanobis"] = """
        WITH rows_ AS (
            SELECT l_returnflag, l_orderkey, l_linenumber,
                   l_quantity::BIGINT AS x,
                   CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y
            FROM lineitem
        ), m AS (
            SELECT l_returnflag, count(*) AS n,
                   sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                   sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy,
                   sum(y * y)::BIGINT AS syy
            FROM rows_ GROUP BY l_returnflag
        ), scored AS (
            SELECT r.l_returnflag, r.l_orderkey, r.l_linenumber,
                   r.x AS quantity, r.y AS price_int,
                   round((n::DOUBLE - 1)
                       * ((n::DOUBLE * syy - sy::DOUBLE * sy)
                              * (n::DOUBLE * r.x - sx)
                              * (n::DOUBLE * r.x - sx)
                          - 2 * (n::DOUBLE * sxy - sx::DOUBLE * sy)
                              * (n::DOUBLE * r.x - sx)
                              * (n::DOUBLE * r.y - sy)
                          + (n::DOUBLE * sxx - sx::DOUBLE * sx)
                              * (n::DOUBLE * r.y - sy)
                              * (n::DOUBLE * r.y - sy))
                       / (n::DOUBLE
                          * ((n::DOUBLE * sxx - sx::DOUBLE * sx)
                                 * (n::DOUBLE * syy - sy::DOUBLE * sy)
                             - (n::DOUBLE * sxy - sx::DOUBLE * sy)
                                 * (n::DOUBLE * sxy - sx::DOUBLE * sy))),
                       4) AS md2
            FROM rows_ r JOIN m USING (l_returnflag)
        )
        SELECT l_returnflag, l_orderkey, l_linenumber, quantity,
               price_int, md2, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY l_returnflag
                ORDER BY md2 DESC, l_orderkey, l_linenumber) AS INT)
                AS rank
            FROM scored
        ) WHERE rank <= 5
    """
    out["q_cohort_ltv"] = """
        WITH days AS (
            SELECT user_id, event_type, value,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
            FROM events
        ), cohorts AS (
            SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
        ), sizes AS (
            SELECT cohort_day, count(*) AS cohort_n FROM cohorts GROUP BY 1
        ), cell AS (
            SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
                   sum(CAST(floor(d.value * 10000 + 0.5) AS BIGINT)) AS rev4,
                   count(*) AS n_purchases
            FROM days d JOIN cohorts c USING (user_id)
            WHERE d.event_type = 'purchase'
              AND d.day - c.cohort_day <= 7
            GROUP BY 1, 2
        )
        SELECT cohort_day, day_offset,
               n_purchases::BIGINT AS n_purchases,
               round(rev4 / 10000.0, 4) AS revenue,
               round(sum(rev4) OVER (PARTITION BY cohort_day
                   ORDER BY day_offset) / 10000.0, 4) AS cum_revenue,
               cohort_n::BIGINT AS cohort_n,
               round(sum(rev4) OVER (PARTITION BY cohort_day
                   ORDER BY day_offset) / (10000.0 * cohort_n), 4)
                   AS ltv_per_user
        FROM cell JOIN sizes USING (cohort_day)
    """
    out["q_stl_anomaly"] = """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        ), framed AS (
            SELECT event_type, day, c,
                   sum(c) OVER w AS s7, count(*) OVER w AS n7,
                   day % 7 AS dow
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ), detr AS (
            SELECT event_type, day, c, s7, dow, 7 * c - s7 AS detr7
            FROM framed WHERE n7 = 7
        ), comp AS (
            SELECT event_type, day, c::BIGINT AS n_events,
                   round((detr7 * (count(*) OVER wd)
                          - sum(detr7) OVER wd)
                         / (7.0 * (count(*) OVER wd)), 4) AS residual
            FROM detr
            WINDOW wd AS (PARTITION BY event_type, dow)
        ), r4 AS (
            SELECT *, CAST(floor(residual * 10000 + 0.5) AS BIGINT) AS rq
            FROM comp
        ), stats AS (
            SELECT event_type, count(*) AS n, sum(rq) AS sr,
                   sum(rq * rq) AS srr
            FROM r4 GROUP BY event_type
        )
        SELECT event_type, day, n_events, residual,
               round(rq / sqrt((srr::DOUBLE - sr::DOUBLE * sr / n) / n), 4)
                   AS res_z
        FROM r4 JOIN stats USING (event_type)
        WHERE abs(rq / sqrt((srr::DOUBLE - sr::DOUBLE * sr / n) / n)) > 2.0
    """
    out["q_target_encoding"] = """
        WITH q AS (
            SELECT event_id, event_type, value,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v4
            FROM events
        ), m AS (
            SELECT event_type, count(*) AS n, sum(v4) AS s4
            FROM q GROUP BY event_type
        )
        SELECT event_id, q.event_type, value,
               CASE WHEN n > 1
                    THEN floor((s4 - v4) / (n - 1) + 0.5) / 10000.0
                    END AS loo_mean
        FROM q JOIN m USING (event_type)
    """
    out["q_revenue_gini"] = """
        WITH rev AS (
            SELECT o_custkey,
                   sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                       AS rev_c
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT rev_c,
                   row_number() OVER (ORDER BY rev_c, o_custkey)::BIGINT
                       AS i,
                   count(*) OVER ()::BIGINT AS n
            FROM rev
        )
        SELECT max(n) AS n_customers,
               round(sum(rev_c) / 100.0, 2) AS total_revenue,
               round(2.0 * sum(i * rev_c) / (max(n)::DOUBLE * sum(rev_c))
                     - (max(n)::DOUBLE + 1) / max(n), 6) AS gini,
               round(sum(CASE WHEN i > max_i1 THEN rev_c ELSE 0 END)
                     / sum(rev_c), 6) AS top1_share,
               round(sum(CASE WHEN i > max_i10 THEN rev_c ELSE 0 END)
                     / sum(rev_c), 6) AS top10_share
        FROM (
            SELECT *,
                   n - greatest(n // 100, 1) AS max_i1,
                   n - greatest(n // 10, 1) AS max_i10
            FROM ranked
        )
    """
    out["q_conversion_lag"] = """
        WITH conv AS (
            SELECT user_id AS cu, ts AS cts
            FROM events WHERE event_type = 'purchase'
        ), touch AS (
            SELECT user_id AS tu, event_type AS touch_type, ts AS tts
            FROM events WHERE event_type IN ('click', 'view')
        ), pairs AS (
            SELECT touch_type,
                   CAST(floor((epoch_us(cts) - epoch_us(tts)) / 60000000)
                        AS BIGINT) AS lag_min
            FROM conv JOIN touch
              ON cu = tu AND tts < cts
             AND tts >= cts - INTERVAL 86400000 MILLISECONDS
        ), hist AS (
            SELECT touch_type, lag_min, count(*) AS c
            FROM pairs GROUP BY 1, 2
        ), cum AS (
            SELECT touch_type, lag_min,
                   sum(c) OVER (PARTITION BY touch_type ORDER BY lag_min)
                       AS cum,
                   sum(c) OVER (PARTITION BY touch_type) AS n,
                   max(lag_min) OVER (PARTITION BY touch_type) AS max_lag
            FROM hist
        )
        SELECT touch_type, max(n)::BIGINT AS n_pairs,
               min(CASE WHEN cum >= ceil(n * 0.5) THEN lag_min END)
                   AS p50_lag_min,
               min(CASE WHEN cum >= ceil(n * 0.9) THEN lag_min END)
                   AS p90_lag_min,
               max(max_lag) AS max_lag_min
        FROM cum GROUP BY touch_type ORDER BY touch_type
    """
    out["q_wap_publish"] = """
        WITH slice AS (
            SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
        ), agg AS (
            SELECT count(*) - count(DISTINCT o_orderkey) AS dup,
                   count(*) FILTER (o_orderkey IS NULL) AS nul,
                   count(*) FILTER (o_totalprice <= 0) AS bad,
                   count(*) AS n
            FROM slice
        ), verdict AS (
            SELECT *, (dup = 0 AND nul = 0 AND bad = 0) AS pub,
                   CASE WHEN dup = 0 AND nul = 0 AND bad = 0
                        THEN n ELSE 0 END AS npub
            FROM agg
        )
        SELECT 'staged.key unique' AS check_name, dup::BIGINT
                   AS n_violations, dup = 0 AS passed, pub AS published,
               npub::BIGINT AS n_published FROM verdict
        UNION ALL
        SELECT 'staged.key not_null', nul::BIGINT, nul = 0, pub,
               npub::BIGINT FROM verdict
        UNION ALL
        SELECT 'staged.price positive', bad::BIGINT, bad = 0, pub,
               npub::BIGINT FROM verdict
    """
    out["q_scd2_lookup"] = """
        WITH w AS (
            SELECT user_id, ts, event_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev
            FROM events
        ), changed AS (
            SELECT user_id, ts, event_id, event_type FROM w
            WHERE prev IS NULL OR prev <> event_type
        ), hist AS (
            SELECT user_id, event_type AS state_at,
                   epoch_ms(ts) AS vf_ms,
                   epoch_ms(lead(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id)) AS vt_ms,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS version
            FROM changed
        ), purch AS (
            SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.event_id, p.user_id, p.ts_ms, h.state_at,
               CAST(h.version AS INT) AS version
        FROM purch p JOIN hist h
          ON p.user_id = h.user_id
         AND h.vf_ms <= p.ts_ms
         AND (h.vt_ms IS NULL OR p.ts_ms < h.vt_ms)
    """
    out["q_salted_distinct"] = """
        SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        FROM events GROUP BY event_type
    """
    out["q_merge_schema"] = """
        WITH merged AS (
            SELECT o_orderkey, o_totalprice,
                   NULL::BIGINT AS o_discount_cents, 1 AS epoch
            FROM orders WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT o_orderkey, o_totalprice,
                   CAST(floor(o_totalprice * 5 + 0.5) AS BIGINT), 2
            FROM orders WHERE o_orderpriority = '2-HIGH'
        )
        SELECT epoch, count(*)::BIGINT AS n_rows,
               count(o_discount_cents)::BIGINT AS n_evolved,
               coalesce(sum(o_discount_cents), 0)::BIGINT
                   AS discount_cents
        FROM merged GROUP BY epoch
    """
    out["q_kaplan_meier"] = """
        WITH days AS (
            SELECT user_id,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
            FROM events
        ), per_user AS (
            SELECT user_id, min(day) AS f, max(day) AS l
            FROM days GROUP BY user_id
        ), lt AS (
            SELECT l - f AS offset_days,
                   CASE WHEN l < max(l) OVER () THEN 1 ELSE 0 END AS churned
            FROM per_user
        ), counts AS (
            SELECT offset_days, sum(churned) AS d,
                   sum(1 - churned) AS c
            FROM lt GROUP BY offset_days
        ), risk AS (
            SELECT offset_days, d, c,
                   sum(d + c) OVER (ORDER BY offset_days
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS n
            FROM counts
        ), curve AS (
            SELECT offset_days, n, d, c,
                   sum(CASE WHEN n > d THEN ln((n - d) / n)
                            ELSE 0.0 END) OVER (ORDER BY offset_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS lncum,
                   max(CASE WHEN n = d THEN 1 ELSE 0 END)
                       OVER (ORDER BY offset_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS ext
            FROM risk
        )
        SELECT offset_days, n::BIGINT AS n_at_risk,
               d::BIGINT AS n_churned, c::BIGINT AS n_censored,
               CASE WHEN ext = 1 THEN 0.0
                    ELSE round(exp(lncum), 4) END AS survival
        FROM curve
    """
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        duck_entropy_rate_sql,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        duck_did_sql,
    )

    out["q_entropy_rate"] = duck_entropy_rate_sql()
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
        duck_markov_stationary_sql,
    )

    out["q_markov_stationary"] = duck_markov_stationary_sql()
    out["q_did"] = duck_did_sql()
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        duck_snaive_sql,
    )

    out["q_snaive_backtest"] = duck_snaive_sql()
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        duck_ab_srm_sql,
    )

    out["q_ab_srm"] = duck_ab_srm_sql()
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        duck_dau_mau_sql,
    )

    out["q_dau_mau"] = duck_dau_mau_sql()
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.timeseries import (
        duck_burstiness_sql,
        duck_max_drawdown_sql,
    )

    out["q_max_drawdown"] = duck_max_drawdown_sql()
    out["q_burstiness"] = duck_burstiness_sql()
    out["q_item_cooccurrence"] = rel.duck_item_cooccurrence_sql()
    out["q_markov_transitions"] = """
        WITH s AS (
            SELECT event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS dst
            FROM events
        ), c AS (
            SELECT src, dst, count(*) AS n
            FROM s WHERE dst IS NOT NULL GROUP BY 1, 2
        )
        SELECT src, dst, n,
               sum(n) OVER (PARTITION BY src)::BIGINT AS src_total,
               round(n / sum(n) OVER (PARTITION BY src), 6) AS p
        FROM c
    """
    out["q_trend_robust"] = """
        WITH ev AS (
            SELECT event_type,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ), evd AS (
            SELECT *, count(*) OVER (PARTITION BY event_type) AS n_days
            FROM ev
        ), pairs AS (
            SELECT a.event_type, a.n_days, a.day AS day_a, b.day AS day_b,
                   CASE WHEN b.n > a.n THEN 1
                        WHEN b.n < a.n THEN -1 ELSE 0 END::BIGINT AS sgn,
                   (b.n - a.n) / (b.day - a.day) AS slope
            FROM evd a JOIN evd b
              ON b.event_type = a.event_type AND b.day > a.day
        ), ranked AS (
            SELECT event_type, n_days, slope,
                   row_number() OVER (PARTITION BY event_type
                       ORDER BY slope, day_a, day_b) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n_pairs,
                   sum(sgn) OVER (PARTITION BY event_type)::BIGINT AS s_stat
            FROM pairs
        )
        SELECT event_type, n_days, n_pairs, s_stat,
               round(slope, 6) AS sen_slope
        FROM ranked WHERE rn = (n_pairs + 1) // 2
    """
    out["q_changepoint"] = """
        WITH daily AS (
            SELECT event_type,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        ), pref AS (
            SELECT event_type, day,
                   row_number() OVER (PARTITION BY event_type
                       ORDER BY day) AS n1,
                   sum(c) OVER (PARTITION BY event_type ORDER BY day
                       )::DOUBLE AS s1,
                   count(*) OVER (PARTITION BY event_type) AS n_days,
                   sum(c) OVER (PARTITION BY event_type)::DOUBLE AS s
            FROM daily
        ), cand AS (
            SELECT event_type, day, n_days, n1, s1,
                   n_days - n1 AS n2, s - s1 AS s2,
                   s1 * s1 / n1 + (s - s1) * (s - s1) / (n_days - n1)
                       - s * s / n_days AS gain
            FROM pref WHERE n1 < n_days
        ), best AS (
            SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY gain DESC, day) AS rn
            FROM cand
        )
        SELECT event_type, n_days::BIGINT AS n_days, day AS split_day,
               round(s1 / n1, 4) AS mean_before,
               round(s2 / n2, 4) AS mean_after,
               round(gain, 4) AS gain
        FROM best WHERE rn = 1
    """
    out["q_knn_eval"] = f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings
        ), knn AS (
            SELECT probe_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                    ORDER BY sim DESC, neighbor_id) AS rank
                FROM (
                    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                           round({duck_cosine('p.pe', 'c.ce', 64)}, 4) AS sim
                    FROM (SELECT vec_id, emb AS pe FROM e
                          WHERE vec_id IN (
                              -- fixed-budget probe set: the 64
                              -- hash-smallest of the % 5 slice, same
                              -- overflow-safe hash as knn_eval
                              SELECT vec_id FROM e WHERE vec_id % 5 = 0
                              ORDER BY (vec_id % 999999937) * 1000003
                                       % 999999937, vec_id
                              LIMIT 64
                          )) p
                    JOIN (SELECT vec_id, emb AS ce FROM e) c
                      ON c.vec_id <> p.vec_id
                )
            ) WHERE rank <= 5
        ), v AS (
            SELECT n.probe_id, e2.label, count(*) AS n_votes
            FROM knn n JOIN embeddings e2 ON n.neighbor_id = e2.vec_id
            GROUP BY 1, 2
        ), w AS (
            SELECT probe_id, label AS pred_label,
                   row_number() OVER (PARTITION BY probe_id
                       ORDER BY n_votes DESC, label) AS rn
            FROM v
        ), pred AS (
            SELECT t.label AS true_label, w.pred_label
            FROM w JOIN embeddings t ON w.probe_id = t.vec_id WHERE w.rn = 1
        ), tr AS (
            SELECT true_label AS label, count(*)::BIGINT AS n_true,
                   sum(CASE WHEN pred_label = true_label
                            THEN 1 ELSE 0 END)::BIGINT AS tp
            FROM pred GROUP BY 1
        ), pr AS (
            SELECT pred_label AS label, count(*)::BIGINT AS n_pred
            FROM pred GROUP BY 1
        ), j AS (
            SELECT coalesce(tr.label, pr.label) AS label,
                   coalesce(n_true, 0)::BIGINT AS n_true,
                   coalesce(n_pred, 0)::BIGINT AS n_pred,
                   coalesce(tp, 0)::BIGINT AS tp
            FROM tr FULL OUTER JOIN pr ON tr.label = pr.label
        )
        SELECT label, n_true, n_pred, tp,
               round(tp / nullif(n_pred, 0), 6) AS prec,
               round(tp / nullif(n_true, 0), 6) AS rec,
               round(2 * tp / nullif(n_true + n_pred, 0), 6) AS f1
        FROM j
    """
    out["q_rank_fusion"] = f"""
        WITH bm AS ({out['q_bm25_topk']}),
        a AS (
            SELECT doc_id AS id,
                   CAST(row_number() OVER (ORDER BY bm25_e6 DESC, doc_id)
                        AS INT) AS rank_a
            FROM bm
        ), e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), cosl AS (
            SELECT neighbor_id AS id, CAST(rank AS INT) AS rank_b FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                    ORDER BY sim DESC, neighbor_id) AS rank
                FROM (
                    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                           round({duck_cosine('p.pe', 'c.ce', 64)}, 4) AS sim
                    FROM (SELECT vec_id, emb AS pe FROM e WHERE vec_id = 0) p
                    JOIN (SELECT vec_id, emb AS ce FROM e) c
                      ON c.vec_id <> p.vec_id
                )
            ) WHERE rank <= 20
        ), f AS (
            SELECT coalesce(a.id, cosl.id) AS id, a.rank_a, cosl.rank_b,
                   coalesce(1.0 / (60 + a.rank_a), 0.0)
                   + coalesce(1.0 / (60 + cosl.rank_b), 0.0) AS s
            FROM a FULL OUTER JOIN cosl ON a.id = cosl.id
        )
        SELECT id, rank_a, rank_b, round(s, 6) AS rrf_score,
               CAST(row_number() OVER (ORDER BY s DESC, id) AS INT)
                   AS fused_rank
        FROM (SELECT * FROM f ORDER BY s DESC, id LIMIT 20)
    """
    out["q_cluster_balance"] = sim.duck_cluster_balance_sql(k=8)
    out["q_kcore"] = dd.duck_kcore_sql(
        out["q_dedup_ngram_jaccard"], k=2, rounds=3
    )
    out["q_bfs_depth"] = dd.duck_bfs_sql(
        out["q_dedup_ngram_jaccard"], rounds=3
    )
    out["q_avro_contract"] = """
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(lang AS VARCHAR) AS lang,
               CAST(n_chars AS INT) AS n_chars
        FROM documents
    """
    out["q_triangle_count"] = f"""
        WITH e AS ({out['q_dedup_ngram_jaccard']})
        SELECT count(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e1.doc_b = e2.doc_a
        JOIN e e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b
    """
    out["q_key_skew"] = """
        SELECT count(*) AS n_keys,
               sum(n)::BIGINT AS n_rows,
               max(n) AS max_per_key,
               (sum(n) * 10000 // count(*))::BIGINT AS mean_per_key_x10k,
               (max(n) * 10000 * count(*) // sum(n))::BIGINT
                   AS skew_factor_x10k
        FROM (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey)
    """
    # the oracle states the SEMANTICS of the map operations directly (the
    # map contents are known columns), not a cross-engine map encoding
    out["q_map_battery"] = """
        SELECT event_id,
               3::INT AS n_entries,
               event_type AS type_val,
               NULL AS missing_val,
               'id,type,user' AS keys_sorted,
               array_to_string(list_sort([event_type,
                   CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR)]),
                   ',') AS vals_sorted,
               upper(event_type) AS type_upper
        FROM events
    """
    out["q_unpivot"] = """
        WITH long AS (
            SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS v
            FROM lineitem
            UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice
            FROM lineitem
            UNION ALL SELECT l_returnflag, 'l_discount', l_discount
            FROM lineitem
            UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
        ), c AS (
            SELECT l_returnflag, metric, CAST(round(v * 100) AS BIGINT) AS c
            FROM long
        )
        SELECT l_returnflag, metric, count(*) AS n,
               sum(c) / 100.0 AS sum_v,
               min(c) / 100.0 AS min_v,
               max(c) / 100.0 AS max_v
        FROM c GROUP BY l_returnflag, metric
    """
    out["q_median_mad"] = """
        WITH r AS (
            SELECT o_orderpriority AS p, o_totalprice AS x, o_orderkey AS k,
                   row_number() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS rn,
                   count(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM orders
        ), m AS (
            SELECT p, x AS med FROM r WHERE rn = floor((n + 1) / 2)
        ), d AS (
            SELECT o.o_orderpriority AS p, abs(o.o_totalprice - m.med) AS dd,
                   o.o_orderkey AS k, m.med
            FROM orders o JOIN m ON o.o_orderpriority = m.p
        ), r2 AS (
            SELECT p, med, dd,
                   row_number() OVER (PARTITION BY p ORDER BY dd, k) AS rn,
                   count(*) OVER (PARTITION BY p) AS n
            FROM d
        )
        SELECT p AS o_orderpriority, round(med, 2) AS median_price,
               round(dd, 2) AS mad, n::BIGINT AS n_orders
        FROM r2 WHERE rn = floor((n + 1) / 2)
    """
    out["q_group_concat"] = """
        WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        t AS (
            SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
                ORDER BY doc_id) AS rn
            FROM documents
        ), a AS (
            SELECT lang, string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
                AS first_ids
            FROM t WHERE rn <= 10 GROUP BY lang
        )
        SELECT c.lang, c.n_docs, a.first_ids FROM c JOIN a USING (lang)
    """
    _prof = [
        ("event_id", "event_id"),
        ("ts_ms", "epoch_ms(ts)"),
        ("user_id", "user_id"),
        ("event_type", "event_type"),
        ("value", "value"),
        ("props", "props"),
    ]
    out["q_column_profile"] = "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS "column", count(*) AS n_rows,
               count(*) - count({expr}) AS n_null,
               count(DISTINCT {expr}) AS n_distinct FROM events"""
        for name, expr in _prof
    )
    out["q_skyline"] = """
        WITH s AS (
            SELECT o_orderkey, o_totalprice, o_orderdate
            FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        SELECT o_orderkey, o_totalprice, epoch_ms(o_orderdate) AS d_ms
        FROM s a
        WHERE NOT EXISTS (
            SELECT 1 FROM s b
            WHERE b.o_totalprice >= a.o_totalprice
              AND b.o_orderdate >= a.o_orderdate
              AND (b.o_totalprice > a.o_totalprice
                   OR b.o_orderdate > a.o_orderdate)
        )
    """
    out["q_locf"] = """
        SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type,
               CASE WHEN event_type = 'click' THEN value END AS reading,
               last_value(CASE WHEN event_type = 'click' THEN value END
                   IGNORE NULLS) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        FROM events
    """
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        BLOOM_D,
        BLOOM_M,
    )

    _bpos = ", ".join(
        H.duck_h32(f"('bf{d}:' || CAST(k AS VARCHAR))") + f" % {BLOOM_M}"
        for d in range(BLOOM_D)
    )
    out["q_bloom_join"] = f"""
        WITH build AS (
            SELECT DISTINCT o_custkey AS k FROM orders
            WHERE o_orderpriority = '1-URGENT'
        ), bits AS (
            SELECT DISTINCT unnest([{_bpos}]) AS bit FROM build
        ), probe AS (
            SELECT k, c_mktsegment, unnest([{_bpos}]) AS bit
            FROM (SELECT c_custkey AS k, c_mktsegment FROM customer)
        ), hits AS (
            SELECT k, c_mktsegment FROM probe
            WHERE bit IN (SELECT bit FROM bits)
            GROUP BY k, c_mktsegment
            HAVING count(*) = {BLOOM_D}
        ), truth AS (
            SELECT c_custkey AS k, c_mktsegment FROM customer
            WHERE c_custkey IN (SELECT k FROM build)
        )
        SELECT p.c_mktsegment, p.n_probed,
               coalesce(np.n, 0)::BIGINT AS n_bloom_pos,
               coalesce(nt.n, 0)::BIGINT AS n_true,
               (coalesce(np.n, 0) - coalesce(nt.n, 0))::BIGINT AS n_false_pos
        FROM (SELECT c_mktsegment, count(*) AS n_probed FROM customer
              GROUP BY c_mktsegment) p
        LEFT JOIN (SELECT c_mktsegment, count(*) AS n FROM hits
                   GROUP BY c_mktsegment) np USING (c_mktsegment)
        LEFT JOIN (SELECT c_mktsegment, count(*) AS n FROM truth
                   GROUP BY c_mktsegment) nt USING (c_mktsegment)
    """
    out["q_stream_window"] = out["q_tumbling_window"]
    out["q_stream_topk"] = """
        WITH counts AS (
            SELECT event_type,
                   epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, window_start_ms, n_events, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY window_start_ms
                ORDER BY n_events DESC, event_type) AS INT) AS rank
            FROM counts
        ) WHERE rank <= 3
    """

    out["q_bpe_train"] = tx.duck_bpe_train_sql(rounds=3)
    out["q_bpe_apply"] = tx.duck_bpe_apply_sql(rounds=3)
    out["q_bpe_fertility"] = tx.duck_bpe_fertility_sql(rounds=3)
    _sh8 = H.duck_shingles(H.duck_tokens("text"), 8)
    out["q_dup_substring"] = f"""
        WITH sh AS (
            SELECT doc_id,
                   list_transform({_sh8}, s -> {H.duck_h32('s')}) AS hs
            FROM documents
        ), e AS (
            SELECT doc_id, unnest(hs) AS h FROM sh
        ), df AS (
            SELECT h, count(*) AS nd FROM e GROUP BY h
        ), dup AS (
            SELECT e.doc_id, count(*) AS n_dup
            FROM e JOIN df ON e.h = df.h
            WHERE df.nd >= 2 GROUP BY e.doc_id
        )
        SELECT s.doc_id, len(s.hs)::INT AS n_windows,
               coalesce(d.n_dup, 0)::BIGINT AS n_dup,
               round(coalesce(d.n_dup, 0) / len(s.hs), 4) AS dup_frac
        FROM sh s LEFT JOIN dup d USING (doc_id)
    """
    out["q_source_overlap"] = f"""
        WITH pairs AS (
            {out["q_dedup_ngram_jaccard"]}
        ), tagged AS (
            SELECT least(la.source, lb.source) AS source_lo,
                   greatest(la.source, lb.source) AS source_hi,
                   CAST(round(p.jaccard * 10000) AS BIGINT) AS jx
            FROM pairs p
            JOIN documents la ON p.doc_a = la.doc_id
            JOIN documents lb ON p.doc_b = lb.doc_id
        )
        SELECT source_lo, source_hi, count(*) AS n_pairs,
               sum(jx)::BIGINT AS sum_jaccard_x10k
        FROM tagged GROUP BY source_lo, source_hi
    """
    out["q_knn_classify"] = f"""
        WITH knn AS ({out['q_topk_cosine']}),
        v AS (
            SELECT n.probe_id, e.label, count(*) AS n_votes
            FROM knn n JOIN embeddings e ON n.neighbor_id = e.vec_id
            GROUP BY n.probe_id, e.label
        ), w AS (
            SELECT probe_id, label AS pred_label, n_votes,
                   row_number() OVER (PARTITION BY probe_id
                       ORDER BY n_votes DESC, label) AS rn
            FROM v
        )
        SELECT w.probe_id, t.label AS true_label, w.pred_label, w.n_votes,
               (w.pred_label = t.label) AS correct
        FROM w JOIN embeddings t ON w.probe_id = t.vec_id
        WHERE w.rn = 1
    """
    out["q_log2_histogram"] = """
        SELECT length(bin(n_chars))::INT AS bits,
               (1::BIGINT << (length(bin(n_chars)) - 1))::BIGINT AS lo,
               ((1::BIGINT << length(bin(n_chars))) - 1)::BIGINT AS hi,
               count(*) AS n_docs
        FROM documents WHERE n_chars > 0
        GROUP BY 1, 2, 3
    """
    out["q_threshold_curve"] = f"""
        WITH sized AS (
            SELECT doc_id, sh, len(sh) AS n_sh
            FROM (SELECT doc_id,
                         list_transform({sh3}, s -> {H.duck_h32('s')})
                             AS sh
                  FROM documents)
        ), inv AS (
            SELECT doc_id, n_sh, unnest(sh) AS shingle FROM sized
        ), kept AS (
            SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= 100
        ), inv2 AS (
            SELECT inv.* FROM inv JOIN kept USING (shingle)
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS n_common
            FROM inv2 a JOIN inv2 b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        ), j AS (
            SELECT round(n_common / (n_a + n_b - n_common), 4) AS jac
            FROM pairs
        )
        SELECT count(*) AS n_candidates,
               sum(CASE WHEN jac >= 0.2 THEN 1 ELSE 0 END)::BIGINT AS n_ge_02,
               sum(CASE WHEN jac >= 0.4 THEN 1 ELSE 0 END)::BIGINT AS n_ge_04,
               sum(CASE WHEN jac >= 0.6 THEN 1 ELSE 0 END)::BIGINT AS n_ge_06,
               sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END)::BIGINT AS n_ge_08
        FROM j
    """
    out["q_hapax_docs"] = f"""
        WITH t AS (
            SELECT doc_id, unnest({H.duck_tokens("text")}) AS token
            FROM documents
        ), tf AS (
            SELECT token, count(*) AS cf FROM t GROUP BY token
        ), pd AS (
            SELECT doc_id, count(*) AS n_tokens FROM t GROUP BY doc_id
        ), hap AS (
            SELECT t.doc_id, count(*) AS n_hapax
            FROM t JOIN tf USING (token)
            WHERE tf.cf = 1 GROUP BY t.doc_id
        )
        SELECT pd.doc_id, pd.n_tokens,
               coalesce(hap.n_hapax, 0)::BIGINT AS n_hapax,
               round(coalesce(hap.n_hapax, 0) / pd.n_tokens, 4) AS hapax_frac
        FROM pd LEFT JOIN hap USING (doc_id)
    """
    out["q_dist_drift"] = f"""
        WITH t AS (
            SELECT doc_id % 2 AS side, unnest({H.duck_tokens("text")}) AS token
            FROM documents
        ), tf AS (
            SELECT token,
                   sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
                   sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS c1
            FROM t GROUP BY token
        ), tot AS (
            SELECT sum(c0)::BIGINT AS n0, sum(c1)::BIGINT AS n1,
                   count(*)::BIGINT AS vocab
            FROM tf
        ), sc AS (
            SELECT token, c0, c1,
                   abs(c0 * n1 - c1 * n0)::BIGINT AS drift_num
            FROM tf CROSS JOIN tot
        ), tvd AS (
            SELECT round(sum(drift_num)
                         / (2.0 * (SELECT n0 FROM tot)
                            * (SELECT n1 FROM tot)), 6) AS tvd,
                   (SELECT vocab FROM tot) AS vocab
            FROM sc
        ), top AS (
            SELECT token, c0, c1, drift_num FROM sc
            ORDER BY drift_num DESC, token LIMIT 10
        )
        SELECT token, c0, c1, drift_num, tvd, vocab
        FROM top CROSS JOIN tvd
    """
    out["q_benford"] = """
        WITH d AS (
            SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                       AS VARCHAR), 1, 1) AS INT) AS digit
            FROM orders
        ), dd AS (SELECT digit FROM d WHERE digit > 0)
        SELECT digit, count(*) AS n,
               round(count(*) / (SELECT count(*)::DOUBLE FROM dd), 6) AS share
        FROM dd GROUP BY digit
    """
    out["q_dow_profile"] = """
        WITH ev AS (
            SELECT event_type, isodow(ts)::INT AS iso_dow FROM events
        ), c AS (
            SELECT event_type, iso_dow, count(*) AS n FROM ev GROUP BY 1, 2
        )
        SELECT event_type, iso_dow, n,
               (n * 1000 // sum(n) OVER (PARTITION BY event_type))::BIGINT
                   AS per_mille
        FROM c
    """
    out["q_weighted_jaccard"] = f"""
        WITH tf AS (
            SELECT doc_id, token, count(*) AS cnt
            FROM (SELECT doc_id, unnest({H.duck_tokens("text")}) AS token FROM documents)
            GROUP BY doc_id, token
        ), sized AS (
            SELECT doc_id, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS n_tok,
                   {H.duck_h32('token')} AS tk
            FROM tf
        ), kept AS (
            SELECT tk FROM sized GROUP BY tk HAVING count(*) <= 100
        ), inv AS (
            SELECT s.* FROM sized s JOIN kept USING (tk)
        ), shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_tok AS n_a, b.n_tok AS n_b,
                   sum(least(a.cnt, b.cnt)) AS sum_min
            FROM inv a JOIN inv b
              ON a.tk = b.tk AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b,
               round(sum_min / (n_a + n_b - sum_min), 4) AS wjaccard
        FROM shared
        WHERE round(sum_min / (n_a + n_b - sum_min), 4) >= 0.15
    """
    out["q_clustering_coef"] = f"""
        WITH e AS (
            SELECT doc_a AS a, doc_b AS b FROM ({out['q_dedup_ngram_jaccard']})
        ), deg AS (
            SELECT v, count(*) AS d FROM (
                SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
            ) GROUP BY v
        ), w AS (
            SELECT (sum(d * (d - 1)) / 2)::BIGINT AS n_wedges FROM deg
        ), tri AS (
            SELECT count(*) AS n_triangles
            FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
        )
        SELECT n_triangles, n_wedges,
               round(3 * n_triangles / nullif(n_wedges::DOUBLE, 0.0), 6)
                   AS clustering_coef
        FROM tri CROSS JOIN w
    """
    out["q_ema"] = """
        WITH ev AS (
            SELECT event_type,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ), t AS (
            SELECT event_type, day, n,
                   row_number() OVER (PARTITION BY event_type ORDER BY day)
                       AS t
            FROM ev
        )
        SELECT event_type, day * 86400000 AS day_ms, n,
               round(sum(n * CAST(pow(2.0, t) AS BIGINT))
                         OVER (PARTITION BY event_type ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)
                     / pow(2.0, t + 1), 6) AS ema
        FROM t
    """
    out["q_cusum"] = """
        WITH ev AS (
            SELECT event_type,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ), tot AS (
            SELECT event_type, sum(n) AS N, count(*) AS T FROM ev
            GROUP BY event_type
        ), dev AS (
            SELECT ev.event_type, ev.day,
                   sum(ev.n * tot.T - tot.N)
                       OVER (PARTITION BY ev.event_type ORDER BY ev.day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cusum,
                   tot.T AS T
            FROM ev JOIN tot USING (event_type)
        )
        SELECT event_type, max(cusum)::BIGINT AS max_up,
               min(cusum)::BIGINT AS max_down,
               arg_min(day, (-cusum) * 1048576 + day) AS argmax_day,
               any_value(T)::BIGINT AS n_days
        FROM dev GROUP BY event_type
    """
    out["q_sax_motifs"] = """
        WITH daily AS (
            SELECT user_id,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        ), sym AS (
            SELECT user_id, day,
                   chr(CAST(ntile(3) OVER (
                       PARTITION BY user_id ORDER BY c, day) + 96 AS INT))
                       AS sym
            FROM daily
        ), words AS (
            SELECT user_id,
                   sym || lead(sym, 1) OVER w || lead(sym, 2) OVER w
                       AS sax_word
            FROM sym WINDOW w AS (PARTITION BY user_id ORDER BY day)
        )
        SELECT sax_word, count(*)::BIGINT AS n_occurrences,
               count(DISTINCT user_id)::BIGINT AS n_users
        FROM words WHERE sax_word IS NOT NULL GROUP BY sax_word
    """
    out["q_autocorr"] = """
        WITH ev AS (
            SELECT event_type,
                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ), p AS (
            SELECT event_type, n,
                   lead(n) OVER (PARTITION BY event_type ORDER BY day)
                       AS n_next
            FROM ev
        ), s AS (
            SELECT event_type, count(*) AS m, sum(n) AS sx,
                   sum(n_next) AS sy, sum(n * n_next) AS sxy,
                   sum(n * n) AS sxx, sum(n_next * n_next) AS syy
            FROM p WHERE n_next IS NOT NULL GROUP BY event_type
        )
        SELECT event_type, m,
               round((m * sxy - sx * sy)
                     / nullif(sqrt((m * sxx - sx * sx)::DOUBLE)
                              * sqrt((m * syy - sy * sy)::DOUBLE), 0.0), 6)
                   AS lag1_autocorr
        FROM s
    """
    out["q_audio_chunks"] = """
        WITH a AS (
            SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                   octet_length(encode(text))::BIGINT AS nb,
                   (n_chars * 7)::BIGINT AS dur
            FROM documents WHERE doc_id % 3 = 2
        ), c AS (
            SELECT media_id, hx, nb, dur,
                   unnest(generate_series(0, greatest(dur - 1, 0), 2000))
                       AS chunk_start_ms
            FROM a
        ), e AS (
            SELECT media_id, hx, nb, dur, chunk_start_ms,
                   least(chunk_start_ms + 2000, dur) AS chunk_end_ms
            FROM c
        )
        SELECT media_id, chunk_start_ms, chunk_end_ms,
               floor(nb * chunk_start_ms / dur)::BIGINT AS start_byte,
               (floor(nb * chunk_end_ms / dur)
                - floor(nb * chunk_start_ms / dur))::BIGINT AS n_chunk_bytes,
               ('0x' || substr(md5(substr(hx,
                    floor(nb * chunk_start_ms / dur)::BIGINT * 2 + 1,
                    (floor(nb * chunk_end_ms / dur)
                     - floor(nb * chunk_start_ms / dur))::BIGINT * 2)),
                    1, 8))::BIGINT AS chunk_h32
        FROM e
    """
    out["q_partial_merge"] = """
        SELECT o_orderpriority, count(*) AS n_rows,
               sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
                   AS sum_cents,
               min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents,
               max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
        FROM orders GROUP BY o_orderpriority
    """
    out["q_weighted_sample"] = """
        SELECT doc_id, lang, n_chars,
               round((('0x' || substr(md5('w1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) / n_chars, 6) AS priority
        FROM documents
        WHERE n_chars > 0
        ORDER BY priority ASC, doc_id ASC LIMIT 100
    """
    out["q_winsorize"] = """
        WITH base AS (
            SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
            FROM lineitem
        ), ranked AS (
            SELECT l_returnflag, c,
                   row_number() OVER (PARTITION BY l_returnflag ORDER BY c) AS rn,
                   count(*) OVER (PARTITION BY l_returnflag) AS n
            FROM base
        ), caps AS (
            SELECT l_returnflag, c AS cap FROM ranked
            WHERE rn = greatest(1, floor(n * 99 / 100))
        )
        SELECT b.l_returnflag, count(*) AS n_rows,
               sum(CASE WHEN b.c > caps.cap THEN 1 ELSE 0 END)::BIGINT AS n_capped,
               max(caps.cap) AS cap_cents,
               sum(b.c)::BIGINT AS sum_cents,
               sum(least(b.c, caps.cap))::BIGINT AS sum_capped_cents
        FROM base b JOIN caps USING (l_returnflag)
        GROUP BY b.l_returnflag
    """
    out["q_cluster_terms"] = sim.duck_kmeans_cte(8) + f"""
        , assign AS (SELECT vec_id AS doc_id, CAST(cid AS INT) AS cluster_id
                     FROM a2),
        toks AS (
            SELECT doc_id, unnest({H.duck_tokens('text')}) AS token
            FROM documents
        ), counts AS (
            SELECT a.cluster_id, t.token, count(*) AS n
            FROM toks t JOIN assign a USING (doc_id)
            WHERE length(t.token) >= 4
            GROUP BY a.cluster_id, t.token
        )
        SELECT cluster_id, token, n, rank FROM (
            SELECT *, CAST(row_number() OVER (PARTITION BY cluster_id
                ORDER BY n DESC, token) AS INT) AS rank
            FROM counts
        ) WHERE rank <= 5
    """
    out["q_sql_frontend"] = _SQL_FRONTEND
    out["q_fuzzy_join"] = """
        SELECT a.c_nationkey AS nationkey,
               a.c_custkey AS cust_a, b.c_custkey AS cust_b,
               levenshtein(a.c_name, b.c_name)::INT AS edit_dist
        FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') a
        JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
         AND abs(length(a.c_name) - length(b.c_name)) <= 2
        WHERE levenshtein(a.c_name, b.c_name) <= 2
    """
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        duck_kmv_intersection_sql,
        duck_kmv_mergeable_sql,
    )

    out["q_sketch_merge"] = duck_kmv_mergeable_sql()
    out["q_sketch_intersect"] = duck_kmv_intersection_sql()
    out["q_orc_source"] = """
        SELECT o_orderpriority, count(*) AS n,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
                   AS cents
        FROM orders GROUP BY o_orderpriority
    """
    out["q_null_battery"] = """
        SELECT event_id,
               CASE WHEN event_type = 'click' THEN value END AS reading,
               (CASE WHEN event_type = 'click' THEN value END
                   IS NOT DISTINCT FROM value) AS safe_eq,
               nullif(value, 0.0) AS nz_value,
               CASE WHEN event_type = 'click' THEN 'present'
                    ELSE 'absent' END AS tagged,
               coalesce(CASE WHEN event_type = 'click' THEN value END, -1.0)
                   AS filled,
               CASE WHEN event_type = 'click' THEN 0 END AS arr_pos,
               CASE WHEN event_type = 'click' THEN value END AS arr_val
        FROM events
    """
    out["q_cogroup"] = """
        WITH o AS (
            SELECT o_custkey AS key, count(*) AS n_orders,
                   sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
                       AS order_cents
            FROM orders WHERE o_custkey % 20 = 0 GROUP BY o_custkey
        ), e AS (
            SELECT user_id AS key, count(*) AS n_events
            FROM events WHERE user_id % 20 = 0 GROUP BY user_id
        )
        SELECT coalesce(o.key, e.key) AS key,
               coalesce(o.n_orders, 0)::BIGINT AS n_orders,
               coalesce(o.order_cents, 0)::BIGINT AS order_cents,
               coalesce(e.n_events, 0)::BIGINT AS n_events
        FROM o FULL OUTER JOIN e ON o.key = e.key
    """
    out["q_kmeans"] = sim.duck_kmeans_sql(k=8)
    out["q_silhouette"] = sim.duck_silhouette_sql(k=8)
    out["q_coreset"] = sim.duck_kcenter_sql(m=4)
    out["q_centroid_drift"] = sim.duck_centroid_drift_sql(k=8)
    out["q_pca_power"] = sim.duck_power_iteration_sql(iters=2)
    out["q_pca_variance"] = sim.duck_pca_variance_sql(iters=2)
    out["q_hard_negatives"] = sim.duck_hard_negative_sql(
        k=sim.duck_cells_expr(),
        sample_budget=sim.duck_train_budget_expr(sim.duck_cells_expr()),
    )
    out["q_user_set_ops"] = """
        WITH c AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'click'),
             p AS (SELECT DISTINCT user_id FROM events
                   WHERE event_type = 'purchase')
        SELECT 'click_and_purchase' AS set_op,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(coalesce(sum(user_id), 0) AS BIGINT) AS sum_user_id
        FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
        UNION ALL
        SELECT 'click_minus_purchase', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(user_id), 0) AS BIGINT)
        FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
        UNION ALL
        SELECT 'click_or_purchase', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(user_id), 0) AS BIGINT)
        FROM (SELECT user_id FROM c UNION SELECT user_id FROM p)
    """
    out["q_semdedup"] = sim.duck_semdedup_sql(
        k=sim.duck_cells_expr(),
        threshold=0.3,
        sample_budget=sim.duck_train_budget_expr(sim.duck_cells_expr()),
    )
    out["q_higher_order"] = f"""
        SELECT doc_id,
               len(list_filter(tk, t -> strlen(t) >= 5))::INT AS n_long,
               len(list_filter(tk, t -> regexp_full_match(t, '[0-9]+'))) > 0
                   AS any_numeric,
               len(list_filter(tk, t -> strlen(t) = 0)) = 0 AS all_nonempty,
               list_sum(list_transform(tk, t -> strlen(t)))::INT
                   AS total_chars,
               len(list_filter(list_zip(tk, list_reverse(tk)),
                   p -> p[1] = p[2]))::INT AS palindrome_hits
        FROM (SELECT doc_id, {toks} AS tk FROM documents)
    """
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        duck_compaction_sql,
        duck_hilbert_sql,
        duck_partition_evolution_sql,
        duck_zonemap_sql,
        duck_zorder_sql,
    )

    out["q_compaction_plan"] = duck_compaction_sql()

    out["q_zorder_layout"] = duck_zorder_sql()
    out["q_hilbert_layout"] = duck_hilbert_sql()
    out["q_partition_evolution"] = duck_partition_evolution_sql()
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        duck_encoding_audit_sql,
    )

    out["q_encoding_audit"] = duck_encoding_audit_sql()
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.layout import (
        duck_clustering_depth_sql,
    )

    out["q_clustering_depth"] = duck_clustering_depth_sql()
    out["q_zonemap_prune"] = duck_zonemap_sql()
    out["q_time_travel"] = f"""
        SELECT {_ORDERS_OUT}
        FROM orders
        WHERE o_orderdate < TIMESTAMP '2000-01-01'
          AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
    """
    out["q_python_source"] = f"""
        SELECT {_ORDERS_OUT} FROM orders
    """
    out["q_python_stream_source"] = f"""
        SELECT {_ORDERS_OUT} FROM orders
    """
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        DUCK_DQ_SQL,
        duck_filter_funnel_sql,
        duck_referential_audit_sql,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sketch import (
        duck_histogram_quantiles_sql,
    )

    out["q_hist_quantiles"] = duck_histogram_quantiles_sql()
    out["q_stateful_offsets"] = """
        SELECT o_orderpriority AS shard_value,
               count(*) AS batch_rows,
               count(*) AS offset
        FROM orders GROUP BY 1
    """
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
        KMV_STREAM_K,
    )

    _toks = H.duck_tokens("text")
    out["q_stream_kmv"] = f"""
        WITH hashes AS (
            SELECT DISTINCT lang, {H.duck_h32('token')} AS h
            FROM (SELECT lang, unnest(list_distinct({_toks})) AS token
                  FROM documents)
        ), sk AS (
            SELECT lang, h FROM (
                SELECT lang, h, row_number() OVER (
                    PARTITION BY lang ORDER BY h) AS rk
                FROM hashes
            ) WHERE rk <= {KMV_STREAM_K}
        ), summ AS (
            SELECT lang, CAST(count(*) AS INT) AS k_used,
                   max(h) AS kth
            FROM sk GROUP BY lang
        ), exact AS (
            SELECT lang, count(*)::BIGINT AS n_exact
            FROM hashes GROUP BY lang
        )
        SELECT lang, k_used, kth,
               ((k_used - 1) * 4294967296 // kth)::BIGINT AS n_est,
               n_exact
        FROM summ JOIN exact USING (lang)
    """
    out["q_stream_moments"] = """
        WITH agg AS (
            SELECT event_type, count(*)::BIGINT AS n,
                   sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sx,
                   sum(CAST(round(value * 100) AS BIGINT)
                       * CAST(round(value * 100) AS BIGINT))::BIGINT AS sxx
            FROM events GROUP BY event_type
        )
        SELECT event_type, n,
               round(sx::DOUBLE / n / 100.0, 4) AS mean_value,
               round(sqrt((sxx::DOUBLE - sx::DOUBLE * sx / n) / (n - 1))
                     / 100.0, 4) AS stddev_value
        FROM agg
    """
    _sh3 = H.duck_shingles(H.duck_tokens("text"), 3)
    out["q_stream_lsh_dedup"] = f"""
        WITH sigs AS (
            SELECT doc_id, {H.duck_minhash('hs')} AS mh
            FROM (SELECT doc_id,
                         list_transform({_sh3}, s -> {H.duck_h32('s')}) AS hs
                  FROM documents)
        ), bands AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(0, {H.LSH_BANDS - 1}),
                       b -> b::VARCHAR || ':' ||
                            array_to_string(mh[b * {H.LSH_ROWS} + 1 :
                                               b * {H.LSH_ROWS} + {H.LSH_ROWS}],
                                            '-')
                   )) AS band_key
            FROM sigs
        ), bm AS (
            SELECT band_key, min(doc_id) AS band_min
            FROM bands GROUP BY band_key
        )
        SELECT doc_id, min(band_min)::BIGINT AS earliest_partner
        FROM bands JOIN bm USING (band_key)
        GROUP BY doc_id HAVING min(band_min) < doc_id
    """
    out["q_stream_cdc"] = """
        WITH feed AS (
            SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value,
                   (event_type = 'error') AS del
            FROM events
        ), ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts_ms DESC, event_id DESC) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n_changes
            FROM feed
        )
        SELECT user_id, ts_ms AS last_ts_ms, value,
               n_changes::BIGINT AS n_changes
        FROM ranked WHERE rn = 1 AND NOT del
    """
    out["q_stream_dedup"] = """
        SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type,
               value, props
        FROM events
    """
    out["q_sliding_distinct"] = """
        WITH hop AS (
            SELECT event_type, user_id,
                   ((epoch_ms(ts) // 1800000) - g.i) * 1800000
                       AS window_start_ms
            FROM events, generate_series(0, 1) g(i)
        )
        SELECT event_type, window_start_ms,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM hop GROUP BY 1, 2
    """
    out["q_mode_per_key"] = """
        WITH c AS (
            SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT user_id, event_type AS mode_value, n FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY n DESC, event_type ASC) AS rn
            FROM c
        ) WHERE rn = 1
    """
    out["q_nearest_join"] = """
        WITH c AS (
            SELECT user_id, ts AS cts, event_id AS click_id
            FROM events WHERE event_type = 'click'
        ), p AS (
            SELECT user_id AS pu, ts AS pts, event_id AS purchase_id
            FROM events WHERE event_type = 'purchase'
        ), cand AS (
            SELECT c.user_id, c.cts, c.click_id, p.pts, p.purchase_id,
                   abs(epoch_us(p.pts) - epoch_us(c.cts)) AS du
            FROM c JOIN p ON c.user_id = p.pu
               AND epoch_us(p.pts) BETWEEN epoch_us(c.cts) - 7200000000
                                       AND epoch_us(c.cts) + 7200000000
        ), best AS (
            SELECT *, row_number() OVER (
                PARTITION BY click_id
                ORDER BY du, epoch_us(pts)) AS rn
            FROM cand
        )
        SELECT user_id, click_id, purchase_id,
               epoch_ms(cts) AS click_ts_ms,
               epoch_ms(pts) AS purchase_ts_ms,
               CAST(du // 1000 AS BIGINT) AS abs_diff_ms
        FROM best WHERE rn = 1
    """
    out["q_cep_patterns"] = """
        WITH seqs AS (
            SELECT user_id,
                   string_agg(substring(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               length(seq)::INT AS seq_len,
               len(regexp_extract_all(seq, 'vc*p'))::INT AS n_funnels,
               len(regexp_extract_all(seq, 'pe'))::INT AS n_err_after_buy,
               coalesce(list_max(list_transform(
                   list_filter(string_split_regex(seq, '[^c]+'),
                               x -> x <> ''),
                   x -> strlen(x))), 0)::INT AS longest_click_run
        FROM seqs
    """
    out["q_stream_static"] = """
        SELECT c_mktsegment, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS value_e4
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """
    out["q_dq_checks"] = DUCK_DQ_SQL
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        duck_dp_counts_sql,
        duck_ks_test_sql,
        duck_mann_whitney_sql,
    )

    out["q_ks_test"] = duck_ks_test_sql()
    out["q_mann_whitney"] = duck_mann_whitney_sql()
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        duck_psi_sql,
    )

    out["q_psi_drift"] = duck_psi_sql()
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.quality import (
        duck_l_diversity_sql,
    )

    out["q_l_diversity"] = duck_l_diversity_sql()
    out["q_assortativity"] = dd.duck_assortativity_sql(
        out["q_dedup_ngram_jaccard"]
    )
    out["q_dp_counts"] = duck_dp_counts_sql()
    out["q_heaps_fit"] = tx.duck_heaps_fit_sql()
    out["q_quantile_normalize"] = """
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                       ORDER BY n_chars, doc_id)::BIGINT AS src_rank
            FROM documents
        ), ref AS (
            SELECT src_rank, sum(n_chars) AS s, count(*) AS c
            FROM ranked GROUP BY src_rank
        )
        SELECT doc_id, source, n_chars, src_rank,
               round(s / c, 4) AS norm_chars
        FROM ranked JOIN ref USING (src_rank)
    """
    out["q_filter_funnel"] = duck_filter_funnel_sql()
    out["q_zipf_fit"] = tx.duck_zipf_fit_sql(k=100)
    out["q_lang_entropy"] = tx.duck_lang_entropy_sql()
    out["q_referential_audit"] = duck_referential_audit_sql()
    out["q_k_anonymity"] = """
        WITH g AS (
            SELECT event_type,
                   epoch_ms(date_trunc('day', ts)) AS day_ms,
                   CAST(floor(value / 5.0) AS BIGINT) AS vb,
                   count(*) AS c
            FROM events GROUP BY 1, 2, 3
        )
        SELECT event_type,
               sum(c)::BIGINT AS n_rows,
               count(*)::BIGINT AS n_groups,
               sum(CASE WHEN c < 5 THEN 1 ELSE 0 END)::BIGINT
                   AS n_small_groups,
               sum(CASE WHEN c < 5 THEN c ELSE 0 END)::BIGINT
                   AS rows_at_risk,
               round(sum(CASE WHEN c < 5 THEN c ELSE 0 END)
                     / sum(c), 6) AS suppression_rate
        FROM g GROUP BY event_type
    """
    out["q_udtf_runs"] = """
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(parts)),
                          i -> struct_pack(pos := CAST(i AS INT),
                                           token := parts[i])),
                          recursive := true)
            FROM (SELECT doc_id, string_split(text, ' ') AS parts
                  FROM documents)
        ), marked AS (
            SELECT *, CASE WHEN lag(token) OVER w IS DISTINCT FROM token
                           THEN 1 ELSE 0 END AS brk
            FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ), runs AS (
            SELECT doc_id, token, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS rid
            FROM marked
        ), agg AS (
            SELECT doc_id, token, min(pos) AS run_start,
                   count(*)::INT AS run_len
            FROM runs GROUP BY doc_id, token, rid
        )
        SELECT doc_id, token, run_start, run_len FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY run_len DESC, run_start ASC) AS rn
            FROM agg
        ) WHERE rn = 1
    """
    out["q_stream_session"] = """
        WITH e AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             >= 1800000000
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), g AS (
            SELECT user_id, ts,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM e
        )
        SELECT user_id,
               epoch_ms(min(ts)) AS start_ms,
               epoch_ms(max(ts)) + 1800000 AS end_ms,
               count(*) AS n_events
        FROM g GROUP BY user_id, sid
    """
    out["q_variant"] = """
        SELECT event_type,
               count(*) AS n,
               count(k) AS n_k,
               0::BIGINT AS n_missing,
               sum(k)::BIGINT AS sum_k,
               count(DISTINCT k) AS distinct_k
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS INT) AS k
              FROM events)
        GROUP BY event_type
    """
    # same oracle as the batch twin q_interval_join
    out["q_stream_join"] = """
        SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id,
               epoch_ms(e.ts) AS error_ts_ms, epoch_ms(c.ts) AS click_ts_ms
        FROM events e JOIN events c
          ON e.user_id = c.user_id
         AND e.event_type = 'error' AND c.event_type = 'click'
         AND epoch_us(c.ts) BETWEEN epoch_us(e.ts) - 3600000000
                                AND epoch_us(e.ts) + 3600000000
    """
    out["q_stream_outer_join"] = """
        WITH wm AS (
            SELECT least(
                (SELECT epoch_us(max(ts)) // 1000 FROM events
                 WHERE event_type = 'error'),
                (SELECT epoch_us(max(ts)) // 1000 FROM events
                 WHERE event_type = 'click')
            ) - 3600000 AS wm_ms
        )
        SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id,
               epoch_ms(e.ts) AS error_ts_ms, epoch_ms(c.ts) AS click_ts_ms
        FROM events e JOIN events c
          ON e.user_id = c.user_id
         AND e.event_type = 'error' AND c.event_type = 'click'
         AND epoch_us(c.ts) BETWEEN epoch_us(e.ts) - 3600000000
                                AND epoch_us(e.ts) + 3600000000
        UNION ALL
        SELECT e.user_id, e.event_id AS error_id,
               CAST(NULL AS BIGINT) AS click_id,
               epoch_ms(e.ts) AS error_ts_ms,
               CAST(NULL AS BIGINT) AS click_ts_ms
        FROM events e CROSS JOIN wm
        WHERE e.event_type = 'error'
          AND NOT EXISTS (
              SELECT 1 FROM events c
              WHERE c.event_type = 'click' AND c.user_id = e.user_id
                AND epoch_us(c.ts) BETWEEN epoch_us(e.ts) - 3600000000
                                       AND epoch_us(e.ts) + 3600000000)
          AND epoch_us(e.ts) < (wm.wm_ms - 3600000) * 1000
    """
    out["q_merge_delete"] = """
        WITH pre AS (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        ), base AS (
            SELECT user_id, event_id, ts, event_type, 'base' AS op
            FROM pre WHERE rn = 1
        ), ch AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN event_type = 'error' THEN 'delete'
                        ELSE 'upsert' END AS op
            FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        ), merged AS (
            SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY ts DESC,
                         CASE op WHEN 'delete' THEN 2
                                 WHEN 'upsert' THEN 1 ELSE 0 END DESC,
                         event_id DESC) AS rn
            FROM (SELECT * FROM base UNION ALL SELECT * FROM ch)
        )
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type, op
        FROM merged WHERE rn = 1 AND op <> 'delete'
    """
    out.update(_tpch_oracles())
    return out


_REV_E4 = (
    "CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)"
)


def _tpch_oracles() -> dict[str, str]:
    """DuckDB twins of the classic TPC-H shapes (operators/tpch.py).

    Money operands quantize per row to 1e-4 / cents integers exactly as the
    Spark side does, so the sums are bit-identical; fraction thresholds use
    the same integer cross-multiplications."""
    rev = _REV_E4
    return {
        "q_tpch_q2": f"""
            WITH prices AS (
                SELECT l_partkey, l_suppkey,
                       CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                           AS price_c
                FROM lineitem
            ), mp AS (
                SELECT l_partkey AS pk, min(price_c) AS min_c
                FROM prices GROUP BY 1
            ), best AS (
                SELECT DISTINCT p.l_partkey, p.l_suppkey, m.min_c
                FROM prices p JOIN mp m
                  ON p.l_partkey = m.pk AND p.price_c = m.min_c
            )
            SELECT CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)
                       AS s_acctbal_c,
                   s_name, n_name, b.l_partkey AS p_partkey, p_name,
                   b.min_c AS min_price_c
            FROM best b
            JOIN part ON part.p_partkey = b.l_partkey AND p_size >= 25
            JOIN supplier ON s_suppkey = b.l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
        """,
        "q_tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY 1
        """,
        "q_tpch_q6": """
            SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 10000.0
                                  + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
                   count(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.02 AND l_discount <= 0.06
              AND l_quantity < 24.0
        """,
        "q_tpch_q7": f"""
            WITH sr AS (
                SELECT s_suppkey, r_name AS supp_region
                FROM supplier, nation, region
                WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
            ), cr AS (
                SELECT c_custkey, r_name AS cust_region
                FROM customer, nation, region
                WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
            )
            SELECT supp_region, cust_region,
                   year(l_shipdate) AS l_year,
                   CAST(sum({rev}) AS BIGINT) AS revenue_e4, count(*) AS n_lines
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN sr ON l_suppkey = sr.s_suppkey
            JOIN cr ON o_custkey = cr.c_custkey
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND ((supp_region = 'EUROPE' AND cust_region = 'ASIA')
                OR (supp_region = 'ASIA' AND cust_region = 'EUROPE'))
            GROUP BY 1, 2, 3
        """,
        "q_tpch_q8": f"""
            WITH sr AS (
                SELECT s_suppkey, r_name AS supp_region
                FROM supplier, nation, region
                WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
            ), cr AS (
                SELECT c_custkey FROM customer, nation, region
                WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
                  AND r_name = 'ASIA'
            )
            SELECT year(o_orderdate) AS o_year,
                   CAST(sum(CASE WHEN supp_region = 'EUROPE' THEN {rev}
                            ELSE 0 END) AS BIGINT) AS share_num_e4,
                   CAST(sum({rev}) AS BIGINT) AS share_den_e4
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN cr ON o_custkey = cr.c_custkey
            JOIN sr ON l_suppkey = sr.s_suppkey
            GROUP BY 1
        """,
        "q_tpch_q9": f"""
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   CAST(sum({rev}
                       - CAST(floor(p_retailprice * l_quantity * 10000.0
                                    + 0.5) AS BIGINT)) AS BIGINT) AS profit_e4,
                   count(*) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%rod%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        """,
        "q_tpch_q10": f"""
            SELECT c_custkey, c_name, n_name,
                   CAST(sum({rev}) AS BIGINT) AS revenue_e4,
                   max(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
                       AS c_acctbal_c
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue_e4 DESC, c_custkey ASC
            LIMIT 20
        """,
        "q_tpch_q11": f"""
            WITH g AS (
                SELECT n_name AS nation, l_partkey,
                       CAST(sum({rev}) AS BIGINT) AS value_e4
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                GROUP BY 1, 2
            ), t AS (SELECT sum(value_e4) AS total_e4 FROM g)
            SELECT nation, l_partkey, value_e4
            FROM g, t WHERE value_e4 * 1000 > total_e4
        """,
        "q_tpch_q12": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority
                                     IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority
                                     IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY 1
        """,
        "q_tpch_q13": """
            WITH pc AS (
                SELECT o_custkey, count(*) AS c_count
                FROM orders WHERE o_orderpriority <> '1-URGENT'
                GROUP BY 1
            )
            SELECT coalesce(c_count, 0) AS c_count, count(*) AS custdist
            FROM customer LEFT JOIN pc ON c_custkey = o_custkey
            GROUP BY 1
        """,
        "q_tpch_q14": f"""
            SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN {rev}
                            ELSE 0 END) AS BIGINT) AS promo_revenue_e4,
                   CAST(sum({rev}) AS BIGINT) AS total_revenue_e4
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        """,
        "q_tpch_q15": f"""
            WITH rev AS (
                SELECT l_suppkey, CAST(sum({rev}) AS BIGINT)
                           AS total_revenue_e4
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY 1
            )
            SELECT s_suppkey, s_name, total_revenue_e4
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue_e4 = (SELECT max(total_revenue_e4) FROM rev)
        """,
        "q_tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
        """,
        "q_tpch_q17": f"""
            WITH li AS (
                SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                       l_extendedprice, l_discount
                FROM lineitem
                JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
            ), pp AS (
                SELECT l_partkey AS pk, sum(qty) AS sum_qty,
                       count(*) AS cnt
                FROM li GROUP BY 1
            )
            SELECT CAST(sum({rev}) AS BIGINT) AS revenue_e4, count(*) AS n_lines
            FROM li JOIN pp ON l_partkey = pk
            WHERE 5 * qty * cnt < sum_qty
        """,
        "q_tpch_q18": """
            WITH big AS (
                SELECT l_orderkey,
                       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                           AS total_qty
                FROM lineitem GROUP BY 1
                HAVING sum(CAST(l_quantity AS BIGINT)) > 180
            )
            SELECT c_custkey, c_name, o_orderkey,
                   epoch_ms(o_orderdate) AS o_orderdate_ms,
                   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                       AS o_totalprice_c,
                   total_qty
            FROM big
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            ORDER BY o_totalprice_c DESC, o_orderkey ASC
            LIMIT 100
        """,
        "q_tpch_q19": f"""
            SELECT CAST(sum({rev}) AS BIGINT) AS revenue_e4, count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1.0 AND 20.0)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                   AND l_quantity BETWEEN 10.0 AND 30.0)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                   AND l_quantity BETWEEN 20.0 AND 40.0)
        """,
        "q_tpch_q20": """
            WITH li AS (
                SELECT l_partkey, l_suppkey,
                       CAST(l_quantity AS BIGINT) AS qty
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                  AND p_name LIKE '%rod%'
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
            ), pair AS (
                SELECT l_partkey, l_suppkey, sum(qty) AS sq
                FROM li GROUP BY 1, 2
            ), tot AS (
                SELECT l_partkey AS pk, sum(sq) AS total_qty
                FROM pair GROUP BY 1
            )
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_suppkey IN (
                SELECT l_suppkey FROM pair JOIN tot ON l_partkey = pk
                WHERE 2 * sq > total_qty)
        """,
        "q_tpch_q21": """
            WITH sm AS (
                SELECT l_orderkey, l_suppkey, max(l_shipdate) AS ms
                FROM lineitem
                WHERE l_orderkey IN
                    (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
                GROUP BY 1, 2
            ), ann AS (
                SELECT *, count(*) OVER w AS n_supp, max(ms) OVER w AS mx
                FROM sm WINDOW w AS (PARTITION BY l_orderkey)
            ), ann2 AS (
                SELECT *, sum(CASE WHEN ms = mx THEN 1 ELSE 0 END)
                    OVER (PARTITION BY l_orderkey) AS n_at_max
                FROM ann
            )
            SELECT s_name, count(*) AS numwait
            FROM ann2 JOIN supplier ON l_suppkey = s_suppkey
            WHERE n_supp > 1 AND ms = mx AND n_at_max = 1
            GROUP BY 1
        """,
        "q_tpch_q22": """
            WITH pos AS (
                SELECT sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
                           AS pos_sum,
                       count(*) AS pos_n
                FROM customer WHERE c_acctbal > 0
            )
            SELECT n_name AS nation, count(*) AS numcust,
                   CAST(sum(bal_c) AS BIGINT) AS totacctbal_c
            FROM (SELECT c_custkey, c_nationkey,
                         CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)
                             AS bal_c
                  FROM customer) c
            CROSS JOIN pos
            JOIN nation ON n_nationkey = c_nationkey
            WHERE bal_c * pos_n > pos_sum
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c.c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY 1
        """,
    }
