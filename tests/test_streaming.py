"""Streaming semantics: windowed aggregation equivalence batch↔stream,
watermark late-data handling, and the applyInPandasWithState offset
machine (SURVEY.md M3)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.sessions import (
    session_stats,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
    load_table,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
    track_offsets,
    track_offsets_tws,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.windows import (
    session_windows,
    sliding_avg,
    stream_dedup,
    tumbling_counts,
    with_watermark,
)

SF = "/root/testdata/sf0.001"


def _events_stream(spark, tmp_path, n_files=2):
    """Events split across n parquet files → n micro-batches with
    maxFilesPerTrigger=1."""
    events = load_table(spark, SF, "events")
    path = str(tmp_path / "stream_src")
    for i in range(n_files):
        events.filter(F.col("event_id") % n_files == i).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    schema = events.schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path),
        events,
    )


def test_tumbling_stream_equals_batch(spark, tmp_path):
    stream, events = _events_stream(spark, tmp_path)
    agg = tumbling_counts(with_watermark(stream, "ts", "1 hour"))
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_type, r.window_start_ms): (r.n_events, r.sum_value)
        for r in spark.sql("select * from tumbling_out").collect()
    }
    want = {
        (r.event_type, r.window_start_ms): (r.n_events, r.sum_value)
        for r in tumbling_counts(events).collect()
    }
    assert got == want


def test_sliding_each_event_in_two_windows(spark):
    events = load_table(spark, SF, "events")
    total = events.count()
    sliding = sliding_avg(events)  # 1h windows, 30min slide
    assert sliding.agg(F.sum("n_events")).head()[0] == 2 * total


def test_session_window_native_matches_batch_sessionization(spark):
    """F.session_window and the lag+cumsum batch form agree on session
    count and per-session event totals for every user."""
    events = load_table(spark, SF, "events")
    native = session_windows(events, gap="30 minutes")
    batch = session_stats(events, "user_id", "ts", "event_id", 1800)

    def per_user(df, c):
        out = {}
        for r in df.collect():
            out.setdefault(r.user_id, []).append(r[c])
        return {k: sorted(v) for k, v in out.items()}

    assert per_user(native, "n_events") == per_user(batch, "n_events")


def test_watermark_drops_late_row_into_finalized_window(spark, tmp_path):
    """The guaranteed watermark semantic: once a window is finalized and
    emitted (append mode), a late row for it is dropped — the window is
    never re-emitted or re-counted. (Drops for windows that never had
    state are best-effort in Spark and not asserted.)"""
    schema = "k string, ts string"
    b0 = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00"), ("a", "2024-01-01 10:05:00"),
         ("a", "2024-01-01 12:00:00")],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn("value", F.lit(1.0))
    b1 = spark.createDataFrame(
        [("a", "2024-01-01 12:05:00")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn("value", F.lit(1.0))
    late = spark.createDataFrame(
        [("a", "2024-01-01 10:30:00")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn("value", F.lit(1.0))
    path = str(tmp_path / "late_src")
    # three micro-batches: b0 seeds the 10:00 window and advances event
    # time; b1 lets the (post-b0) watermark finalize + evict the window;
    # the late row then arrives after eviction
    b0.coalesce(1).write.parquet(path + "/f0")
    b1.coalesce(1).write.parquet(path + "/f1")
    late.coalesce(1).write.parquet(path + "/f2")
    stream = (
        spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    agg = tumbling_counts(with_watermark(stream, "ts", "10 minutes"), key="k")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")  # emits only watermark-finalized windows
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from late_out").collect()
    # the 10:00 window was finalized after file 0 (watermark 11:50) with
    # exactly 2 events; the late 10:30 row in file 1 must not re-open it
    ten_oclock = [r for r in rows if r.window_start_ms == 1704103200000]
    assert len(ten_oclock) == 1 and ten_oclock[0].n_events == 2


def test_stream_dedup_drops_within_watermark_duplicates(spark, tmp_path):
    """Duplicate event_ids arriving in a later micro-batch (within the
    watermark delay) must be dropped; every original key survives once."""
    events = load_table(spark, SF, "events").select("event_id", "ts", "event_type")
    path = str(tmp_path / "dedup_src")
    half = events.filter(F.col("event_id") % 2 == 0)
    events.coalesce(1).write.parquet(path + "/f0")
    half.coalesce(1).write.parquet(path + "/f1")  # replayed duplicates
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    q = (
        stream_dedup(stream, ["event_id"], delay="3650 days")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [r.event_id for r in spark.sql("select event_id from dedup_out").collect()]
    assert sorted(got) == sorted(r.event_id for r in events.collect())
    # batch fallback: same distinct key set
    assert stream_dedup(events, ["event_id"]).count() == len(got)


def _run_offset_tracker(spark, tmp_path, tracker, sink_name):
    stream, events = _events_stream(spark, tmp_path, n_files=2)
    prog = tracker(stream, "event_type")
    q = (
        prog.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emitted offset per shard == total rows per shard (O7 monotone)
    final = {}
    for r in spark.sql(f"select * from {sink_name}").collect():
        final[r.shard_value] = max(final.get(r.shard_value, 0), r.offset)
    want = {
        r.event_type: r.n for r in events.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert final == want


def test_apply_in_pandas_with_state_offsets(spark, tmp_path):
    _run_offset_tracker(spark, tmp_path, track_offsets, "offsets_out")


def _has_protobuf() -> bool:
    """transformWithStateInPandas drives its Python worker over a protobuf
    channel; without the protobuf package the worker cannot start."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs the protobuf package for its "
    "state-server channel; not baked into this sandbox and package "
    "installation is disallowed here — the test runs as-is on any "
    "standard PySpark 4 cluster (protobuf ships with the usual distro), "
    "and the applyInPandasWithState twin below covers the semantics",
)
def test_transform_with_state_offsets(spark, tmp_path):
    """The same O4/O7 semantics on the Spark 4 transformWithState API
    (RocksDB-backed state — the 100 TB state path)."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        _run_offset_tracker(spark, tmp_path, track_offsets_tws, "offsets_tws_out")
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked, cross-micro-batch state)
    produces exactly the batch temporal.interval_join result."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators import (
        temporal as tp,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.joins import (
        stream_interval_join,
    )

    stream, events = _events_stream(spark, tmp_path, n_files=3)

    def split(df):
        errors = df.filter(F.col("event_type") == "error").select(
            "user_id", F.col("ts").alias("ets"), F.col("event_id").alias("eid")
        )
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
        )
        return errors, clicks

    s_err, s_clk = split(stream)
    joined = stream_interval_join(
        s_err, s_clk, "user_id", "ets", "cts", -3_600_000, 3_600_000,
        delay="40 days",  # fixture spans 30 days; nothing may be dropped
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ivj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.eid, r.cid) for r in spark.sql("select * from ivj_out").collect()
    }
    b_err, b_clk = split(events)
    want = {
        (r.eid, r.cid)
        for r in tp.interval_join(
            b_err, b_clk, "user_id", "ets", "cts", -3_600_000, 3_600_000
        ).collect()
    }
    assert got == want and got


def test_stream_outer_join_emission_horizon(spark, tmp_path):
    """Pins the left-outer emission contract the q_stream_outer_join
    oracle encodes: an unmatched left emits its NULL row iff
    error_ts + upper < min-side watermark (STRICT), rows at or above the
    horizon stay in state, and matches always emit."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.joins import (
        stream_interval_outer_join_run,
    )

    rows = [
        (1, "error", "2024-01-01 00:00:00"),  # matched by user-1 click
        (1, "click", "2024-01-01 00:30:00"),
        (2, "error", "2024-01-01 00:00:00"),  # unmatched, below horizon
        (3, "error", "2024-01-01 09:30:00"),  # unmatched, above horizon
        (4, "click", "2024-01-01 10:00:00"),
        (5, "error", "2024-01-01 07:29:59"),  # expiry 1 s below wm: emits
        (6, "error", "2024-01-01 07:30:00"),  # expiry == wm: withheld
    ]
    # wm = min(max error 09:30, max click 10:00) - 1 h = 08:30
    df = (
        spark.createDataFrame(
            rows, "user_id long, event_type string, tss string"
        )
        .select(
            F.monotonically_increasing_id().alias("event_id"),
            F.col("tss").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
        )
    )
    base = str(tmp_path / "oj_src")
    df.write.mode("overwrite").parquet(base)
    out = stream_interval_outer_join_run(
        spark, base, path_glob_filter="*.parquet", query_name="oj_horizon"
    ).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == {1, 2, 5}
    assert by_user[1][0].click_id is not None
    assert by_user[2][0].click_id is None
    assert by_user[5][0].click_id is None


def test_stream_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The same dedup query on the RocksDB state store (the production
    backend once state outgrows executor heap): identical output, and the
    run must actually engage RocksDB (provider conf verified inside the
    scoped window + rocksdb instance dirs on disk)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.windows import (
        ROCKSDB_PROVIDER,
        stream_dedup_run,
    )

    rows = [
        (i, f"2024-01-01 0{i % 5}:00:00", i % 3, "click", 1.0, "{}")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, tss string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.col("tss").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    base = str(tmp_path / "doubled")
    df.unionAll(df).write.mode("overwrite").parquet(base)
    out = stream_dedup_run(
        spark,
        base,
        query_name="rocksdb_dedup",
        state_backend=ROCKSDB_PROVIDER,
    )
    assert sorted(r.event_id for r in out.collect()) == list(range(10))
    # conf restored after the scoped run
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        != ROCKSDB_PROVIDER
    )


def test_stream_cdc_tombstones_and_replay_idempotence(spark, tmp_path):
    """CDC latest-state through the real runtime: tombstoned keys are
    absent from the materialized view; replaying the identical feed
    (every change twice) leaves every key's (last_ts_ms, value)
    unchanged — late replays of already-applied changes are no-ops."""
    import __spark_entry__ as entrymod
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        drain_to_memory,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
        apply_cdc_stream,
    )

    sf = "/root/testdata/sf0.001"
    base = entrymod.q_stream_cdc(spark, sf)
    got = {r.user_id: (r.last_ts_ms, r.value) for r in base.collect()}

    events = load_table(spark, sf, "events")
    # every key whose LAST change is a tombstone must be absent
    last = events.groupBy("user_id").agg(
        F.max_by("event_type", F.struct("ts", "event_id")).alias("last_type")
    )
    dead = {r.user_id for r in last.filter(F.col("last_type") == "error").collect()}
    assert dead, "fixture should contain tombstoned keys"
    assert dead.isdisjoint(got)
    live = {r.user_id for r in last.filter(F.col("last_type") != "error").collect()}
    assert set(got) == live

    # replay: double feed, same final values (n_changes doubles)
    doubled_dir = str(tmp_path / "doubled")
    events.unionAll(events).write.mode("overwrite").parquet(doubled_dir)
    raw = spark.read.parquet(doubled_dir).schema
    from pyspark.sql import types as T

    stream = spark.readStream.schema(raw).parquet(doubled_dir)
    if isinstance(raw["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    feed = stream.select(
        "user_id",
        (F.unix_millis(F.col("ts"))).alias("ts_ms"),
        "event_id",
        "value",
        (F.col("event_type") == "error").alias("del"),
    )
    sink = drain_to_memory(spark, apply_cdc_stream(feed), "cdc_replay_mem", "update")
    fin = (
        sink.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_changes", "last_ts_ms", "value", "deleted"),
                "n_changes",
            ).alias("s")
        )
        .filter(~F.col("s.deleted"))
        .select("user_id", "s.last_ts_ms", "s.value")
    )
    replay = {r.user_id: (r.last_ts_ms, r.value) for r in fin.collect()}
    assert replay == got


def test_stream_moments_invariant_to_microbatch_split(spark, tmp_path):
    """stream_moments' state fold is commutative integer sums, so the
    final per-key emission must equal the batch aggregate whether the
    feed arrives as ONE file or as three micro-batches."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        drain_to_memory,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
        stream_moments,
    )

    events = load_table(spark, SF, "events")
    batch = {
        (r.event_type): (r.n, r.sx, r.sxx)
        for r in events.select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cv"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cv").alias("sx"),
            F.sum(F.col("cv") * F.col("cv")).alias("sxx"),
        )
        .collect()
    }
    for n_files, name in ((1, "m_one"), (3, "m_three")):
        path = str(tmp_path / f"src_{n_files}")
        for i in range(n_files):
            events.filter(F.col("event_id") % n_files == i).coalesce(
                1
            ).write.mode("append").parquet(path)
        feed = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .select(
                "event_type",
                F.round(F.col("value") * 100).cast("bigint").alias("cv"),
            )
        )
        sink = drain_to_memory(
            spark, stream_moments(feed), name, "update"
        )
        final = {
            r.event_type: (r.n, r.sx, r.sxx)
            for r in sink.groupBy("event_type")
            .agg(
                F.max("n").alias("n"),
                F.max_by("sx", "n").alias("sx"),
                F.max_by("sxx", "n").alias("sxx"),
            )
            .collect()
        }
        assert final == batch, f"{n_files}-file split diverged"


def test_stream_band_min_invariant_to_microbatch_split(spark, tmp_path):
    """lsh_band_min_stream's running min commutes, so the drained
    per-band minimum equals the batch minimum under any file split."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        drain_to_memory,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
        lsh_band_min_stream,
    )

    events = load_table(spark, SF, "events")
    # synthetic band keys: event_type is the "band", event_id the doc id
    batch = {
        r.band_key: r.m
        for r in events.selectExpr(
            "event_type as band_key", "event_id as doc_id"
        )
        .groupBy("band_key")
        .agg(F.min("doc_id").alias("m"))
        .collect()
    }
    for n_files, name in ((1, "b_one"), (3, "b_three")):
        path = str(tmp_path / f"bsrc_{n_files}")
        for i in range(n_files):
            events.filter(F.col("event_id") % n_files == i).coalesce(
                1
            ).write.mode("append").parquet(path)
        feed = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .selectExpr("event_type as band_key", "event_id as doc_id")
        )
        sink = drain_to_memory(
            spark, lsh_band_min_stream(feed), name, "update"
        )
        final = {
            r.band_key: r.m
            for r in sink.groupBy("band_key")
            .agg(F.min("min_doc").alias("m"))
            .collect()
        }
        assert final == batch, f"{n_files}-file split diverged"


def test_stream_kmv_invariant_to_microbatch_split(spark, tmp_path):
    """stream_kmv's set-min merge commutes, so the drained per-key
    sketch (kth, ku) equals the batch k-minimum sketch whether the feed
    arrives as one file or three."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.functions import (
        hashing as H,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming import (
        drain_to_memory,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
        KMV_STREAM_K,
        stream_kmv,
    )

    events = load_table(spark, SF, "events")
    hashes = events.selectExpr(
        "event_type as lang", H.spark_h32("props") + " as h"
    )
    from pyspark.sql import Window as W

    batch = {
        (r.lang): (r.kth, r.ku)
        for r in hashes.distinct()
        .withColumn(
            "rk", F.row_number().over(W.partitionBy("lang").orderBy("h"))
        )
        .filter(F.col("rk") <= KMV_STREAM_K)
        .groupBy("lang")
        .agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("ku"))
        .collect()
    }
    for n_files, name in ((1, "kmv_one"), (3, "kmv_three")):
        path = str(tmp_path / f"ksrc_{n_files}")
        for i in range(n_files):
            events.filter(F.col("event_id") % n_files == i).coalesce(
                1
            ).write.mode("append").parquet(path)
        feed = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .selectExpr("event_type as lang", H.spark_h32("props") + " as h")
        )
        sink = drain_to_memory(spark, stream_kmv(feed), name, "update")
        final = {
            r.lang: (r.kth, r.ku)
            for r in sink.groupBy("lang")
            .agg(
                F.max_by("kth", "ku").alias("kth"),
                F.max("ku").alias("ku"),
            )
            .collect()
        }
        assert final == batch, f"{n_files}-file split diverged"


def test_stream_kmv_restart_recovers_state(spark, tmp_path):
    """Stateful-sketch fault tolerance: drain half the feed into a
    checkpointed stream_kmv query, STOP, land the second half, restart
    with the SAME checkpoint — the recovered state must continue the
    sketch, and the final per-key (kth, ku) must equal the batch sketch
    over the full feed (state restored, nothing lost or re-folded)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.functions import (
        hashing as H,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.state import (
        KMV_STREAM_K,
        stream_kmv,
    )

    events = load_table(spark, SF, "events")
    halves = [
        events.filter(F.col("event_id") % 2 == i) for i in (0, 1)
    ]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    halves[0].coalesce(1).write.mode("append").parquet(src)

    def run():
        feed = (
            spark.readStream.schema(events.schema)
            .parquet(src)
            .selectExpr("event_type as lang", H.spark_h32("props") + " as h")
        )
        q = (
            stream_kmv(feed)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    halves[1].coalesce(1).write.mode("append").parquet(src)
    run()

    final = {
        r.lang: (r.kth, r.ku)
        for r in spark.read.parquet(out)
        .groupBy("lang")
        .agg(F.max_by("kth", "ku").alias("kth"), F.max("ku").alias("ku"))
        .collect()
    }
    from pyspark.sql import Window as W

    batch = {
        r.lang: (r.kth, r.ku)
        for r in events.selectExpr(
            "event_type as lang", H.spark_h32("props") + " as h"
        )
        .distinct()
        .withColumn(
            "rk", F.row_number().over(W.partitionBy("lang").orderBy("h"))
        )
        .filter(F.col("rk") <= KMV_STREAM_K)
        .groupBy("lang")
        .agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("ku"))
        .collect()
    }
    assert final == batch


def test_drain_telemetry_records_batch_and_state_counts(spark, tmp_path):
    """VERDICT r11 item #1: every drain_to_memory drain must leave a
    telemetry row (micro-batches, state-store commit shape) in
    streaming.DRAIN_TELEMETRY so bench.py can emit per-query drain
    counters into BENCH_FULL — the artifact that makes an inflated
    streaming bench row adjudicable as box-noise vs structural."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark import (
        streaming as S,
    )

    events = load_table(spark, SF, "events").select("event_id", "ts")
    path = str(tmp_path / "tele_src")
    events.coalesce(1).write.parquet(path + "/f0")
    events.limit(10).coalesce(1).write.parquet(path + "/f1")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    agg = (
        with_watermark(stream, "ts", "3650 days")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    S.DRAIN_TELEMETRY.pop("tele_mem", None)
    S.drain_to_memory(
        spark, agg, "tele_mem", "append", state_partitions=4
    )
    t = S.DRAIN_TELEMETRY["tele_mem"]
    # two files, maxFilesPerTrigger=1 => at least 2 micro-batches; the
    # windowed agg is a stateful operator committing one store per
    # state partition; every input row is counted
    assert t["micro_batches"] >= 2
    assert t["input_rows"] == events.count() + 10
    assert t["state_operators"] >= 1
    assert t["state_store_instances"] == 4
    assert t["state_rows"] >= 1
    assert t["state_commit_ms"] >= 0


def test_runtime_drains_thread_sized_state_partitions(spark):
    """Round 12 (optimization guide §2 — the q_stream_static lesson,
    generalized): EVERY drain_to_memory runtime query must size its state
    stores to the staged source via _state_parts, never inherit the
    batch shuffle default. The four drains fixed this round
    (q_stream_moments / q_stream_cdc / q_stream_kmv / q_stream_lsh_dedup)
    ran 32 state-store instances for ≤19k state rows — 5-8 s of summed
    per-instance commit rent per drain; telemetry must now show the sized
    count."""
    import __spark_entry__ as entrymod
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark import (
        streaming as S,
    )

    batch_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cases = {
        "q_stream_moments_mem": (
            entrymod.q_stream_moments,
            entrymod._state_parts(spark, SF),
        ),
        "q_stream_cdc_mem": (
            entrymod.q_stream_cdc,
            entrymod._state_parts(spark, SF, python_stateful=True),
        ),
        "q_stream_kmv_mem": (
            entrymod.q_stream_kmv,
            entrymod._state_parts(spark, SF, source="documents.parquet"),
        ),
        "q_stream_lsh_mem": (
            entrymod.q_stream_lsh_dedup,
            entrymod._state_parts(spark, SF, source="documents.parquet"),
        ),
        "q_stateful_offsets_mem": (
            entrymod.q_stateful_offsets,
            entrymod._state_parts(
                spark, SF, source="orders.parquet", python_stateful=True
            ),
        ),
    }
    for name, (fn, expected) in cases.items():
        assert expected != batch_default, (
            "fixture too large for the pin to discriminate: sized count "
            "collides with the batch default"
        )
        S.DRAIN_TELEMETRY.pop(name, None)
        fn(spark, SF)  # building the frame runs the drain
        t = S.DRAIN_TELEMETRY[name]
        assert t["state_store_instances"] == expected, (
            f"{name}: state stores {t['state_store_instances']} != sized "
            f"count {expected} — drain inherited the batch default?"
        )


def test_scratch_root_env_override(monkeypatch):
    """SPARK_GRAFT_STREAM_SCRATCH wins; otherwise the fast ephemeral
    mount (or the system temp dir) is chosen — never a missing path."""
    import os

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark import (
        streaming as S,
    )

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", "/tmp/custom_scratch")
    assert S.scratch_root() == "/tmp/custom_scratch"
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH")
    root = S.scratch_root()
    assert os.path.isdir(root) and os.access(root, os.W_OK)


def test_drain_checkpoint_is_scratched_and_cleaned(spark, monkeypatch, tmp_path):
    """drain_to_memory puts its transient checkpoint under scratch_root
    and removes it after the drain — tmpfs space is RAM, so a leaked
    checkpoint dir is a real leak, not cosmetic."""
    import os

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark import (
        streaming as S,
    )

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(scratch))
    import __spark_entry__ as entrymod

    df = entrymod.q_stream_moments(spark, SF)
    assert df.count() > 0  # the drain ran
    leftovers = os.listdir(scratch)
    assert leftovers == [], f"checkpoint scratch leaked: {leftovers}"


def test_stale_scratch_reclaimed_next_session(monkeypatch, tmp_path):
    """A drain SIGKILLed between mkdtemp and its ``finally`` leaks a
    RAM-backed dir (the default root is tmpfs); the next session's first
    scratch_dir() must reclaim it — and must NOT touch dirs whose owner
    PID is alive (VERDICT r12 item #4 / ADVICE r12), nor dirs tagged by
    another PID namespace or boot, whose PID says nothing here (ADVICE
    r13)."""
    import os

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark import (
        streaming as S,
    )

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(scratch))
    # a dead owner: PIDs are recycled upward, so a just-reaped child's
    # PID is guaranteed stale
    child = os.fork()
    if child == 0:
        os._exit(0)
    os.waitpid(child, 0)
    tag = S._pid_space_tag()
    dead = scratch / f"sg{tag}_{child}_drain_killed_"
    dead.mkdir()
    (dead / "offsets").write_text("leak")
    alive = scratch / f"sg{tag}_1_drain_other_session_"  # PID 1 is always alive
    alive.mkdir()
    other = "0" * 8 if tag != "0" * 8 else "f" * 8
    foreign = scratch / f"sg{other}_{child}_drain_other_host_"
    foreign.mkdir()
    mine = S.scratch_dir("drain_probe_")
    try:
        assert not dead.exists(), "stale scratch of a dead PID survived"
        assert alive.exists(), "live foreign scratch was swept"
        assert foreign.exists(), "another PID space's scratch was swept"
        assert os.path.basename(mine).startswith(f"sg{tag}_{os.getpid()}_")
    finally:
        import shutil

        shutil.rmtree(mine, ignore_errors=True)


def test_evict_only_drains_skip_the_no_data_batch(spark):
    """Round 13 (guide §1.3/§2.6): the trailing no-data micro-batch of
    an AvailableNow drain can only EMIT rows for operators that produce
    output on watermark advance (outer joins, append-mode windowed
    aggs).  For the inner interval join and dropDuplicatesWithinWatermark
    it is pure state eviction — a full batch cycle producing zero rows —
    so those two drains disable it; telemetry must show exactly ONE
    micro-batch with the full input, and the outer-join twin (whose null
    rows emit exactly in that batch) must keep BOTH."""
    import __spark_entry__ as entrymod
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark import (
        streaming as S,
    )

    S.DRAIN_TELEMETRY.pop("stream_interval_mem", None)
    entrymod.q_stream_join(spark, SF)
    t = S.DRAIN_TELEMETRY["stream_interval_mem"]
    assert t["micro_batches"] == 1, "inner join ran its evict-only batch"
    # both sides fully drained in that single batch
    n_events = load_table(spark, SF, "events").count()
    assert t["input_rows"] == 2 * n_events

    S.DRAIN_TELEMETRY.pop("stream_dedup_mem", None)
    entrymod.q_stream_dedup(spark, SF)
    t = S.DRAIN_TELEMETRY["stream_dedup_mem"]
    assert t["micro_batches"] == 1, "dedup ran its evict-only batch"

    S.DRAIN_TELEMETRY.pop("stream_outer_mem", None)
    entrymod.q_stream_outer_join(spark, SF)
    t = S.DRAIN_TELEMETRY["stream_outer_mem"]
    assert t["micro_batches"] >= 2, (
        "outer join MUST keep the no-data batch: its watermark-certified "
        "null rows emit there"
    )
