"""End-to-end tests of the ingestion runtime (SURVEY.md §5.2/5.3): golden
pipeline on sf0.001, pagination-completeness across cycles, upsert replay
safety, new-shard discovery between cycles, and the Structured Streaming
wrapper."""

from __future__ import annotations

import os
import uuid
from dataclasses import replace

import pytest

from pyspark.sql import functions as F

from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.config import (
    IcebergSinkConfig,
    PipelineConfig,
    SnowflakeSourceConfig,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sinks.catalog import (
    CatalogSink,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
    load_table,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.ingest import (
    SnowflakeLikeIngestor,
    stream_ingest,
)

SF = "/root/testdata/sf0.001"


def _uniq(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def _cfg(
    table: str, operation: str = "upsert", query_size: int = 200
) -> PipelineConfig:
    return PipelineConfig(
        source=SnowflakeSourceConfig(
            table="orders",
            shard_column="o_orderpriority",
            sort_column="o_orderdate",
            query_size=query_size,
        ),
        sink=IcebergSinkConfig(
            db="default",
            table_name=table,
            partition_fields=("o_orderpriority",),
            upsert_fields=("o_orderkey", "o_orderpriority"),
            operation=operation,
        ),
    )


@pytest.fixture()
def staging(spark, tmp_path):
    """Half of orders as the initial staging snapshot; the rest arrives
    later (growing-source simulation)."""
    orders = load_table(spark, SF, "orders")
    first = orders.filter(F.col("o_orderkey") % 2 == 0)
    rest = orders.filter(F.col("o_orderkey") % 2 == 1)
    path = str(tmp_path / "staging")
    first.write.mode("overwrite").parquet(path)
    return path, first, rest, orders


@pytest.mark.parametrize("mode", ["unseen", "offset"])
def test_ingest_drains_source_exactly_once(spark, staging, tmp_path, mode):
    path, first, rest, orders = staging
    ing = SnowflakeLikeIngestor(
        spark, _cfg(_uniq("t_drain")), path, str(tmp_path / "state"), "o_orderkey",
        mode=mode,
    )
    stats = ing.run_until_drained()
    assert stats[-1].rows_ingested == 0
    got = ing.sink.read()
    assert got.count() == first.count()
    assert got.select("o_orderkey").distinct().count() == first.count()
    # golden: table contents equal the source slice exactly
    assert got.select(*first.columns).exceptAll(first).count() == 0


@pytest.mark.parametrize("step", ["before_commit", "after_commit"])
def test_offsets_commit_survives_crash(spark, staging, tmp_path, step):
    """Offset mode carries each epoch's offsets in the sink's ledger
    record, which publishes them with the data. A crash just before that
    commit or just after its record is written must leave non-empty
    offsets that match the committed rows, and an ingestor rebuilt from
    disk must drain to the target of an uninterrupted drain. The sink
    appends, so a re-fetched page would show up as duplicate rows."""
    path, first, _, _ = staging

    def ingestor(table: str, state: str) -> SnowflakeLikeIngestor:
        cfg = _cfg(table, operation="append", query_size=60)
        return SnowflakeLikeIngestor(
            spark, cfg, path, str(tmp_path / state), "o_orderkey", mode="offset"
        )

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    want = ingestor(_uniq("t_ref"), "ref")
    want.run_until_drained()

    table = _uniq("t_crash")
    ing = ingestor(table, "crash")
    assert ing.run_cycle().rows_ingested > 0
    if step == "before_commit":
        ing.sink.write_batch = boom
    else:
        record = ing.sink._record

        def after_commit(*a, **k):
            record(*a, **k)
            boom()

        ing.sink._record = after_commit
    with pytest.raises(RuntimeError, match="injected crash"):
        ing.run_cycle()

    resumed = ingestor(table, "crash")
    while True:
        offsets = resumed.load_offsets()
        assert offsets
        assert sum(offsets.values()) == resumed.sink.read().count()
        if resumed.run_cycle().rows_ingested == 0:
            break
    got, ref = resumed.sink.read(), want.sink.read()
    assert got.count() == ref.count() == first.count()
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_unrecorded_commit_replays_idempotently(spark, staging, tmp_path):
    """A crash inside the commit, after the data write and before the
    ledger record, leaves the epoch's rows in the table and its offsets
    unpublished. The ingestor rebuilt from disk fetches that page again
    under the same epoch, and the upsert sink merges it into the rows
    already there, so the drain equals an uninterrupted one."""
    path, first, _, _ = staging

    def ingestor(table: str) -> SnowflakeLikeIngestor:
        cfg = _cfg(table, query_size=60)
        return SnowflakeLikeIngestor(
            spark, cfg, path, str(tmp_path / table), "o_orderkey", mode="offset"
        )

    def mid_commit(*a, **k):
        raise RuntimeError("injected crash")

    want = ingestor(_uniq("t_ref"))
    want.run_until_drained()

    table = _uniq("t_mid")
    ing = ingestor(table)
    assert ing.run_cycle().rows_ingested > 0
    committed = ing.load_offsets()
    ing.sink._record = mid_commit
    with pytest.raises(RuntimeError, match="injected crash"):
        ing.run_cycle()

    resumed = ingestor(table)
    assert resumed.load_offsets() == committed
    assert resumed.sink.read().count() > sum(committed.values())
    resumed.run_until_drained()
    got, ref = resumed.sink.read(), want.sink.read()
    assert got.count() == ref.count() == first.count()
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_expire_commits_keeps_the_live_offsets(spark, staging, tmp_path):
    """After an offset-mode drain, ``expire_commits(keep_last=1)`` keeps
    the newest record, which carries the live offsets: an ingestor
    rebuilt from disk resumes past every committed row, so a second drain
    into the append sink adds none. ``keep_last=0`` would empty the
    ledger and restart the offsets at 0, so it is refused. The offsets
    live only in the ledger: ``state_dir`` gets no ``offsets.*``."""
    path, first, _, _ = staging
    cfg = _cfg(_uniq("t_expire_live"), operation="append", query_size=60)

    def ingestor() -> SnowflakeLikeIngestor:
        return SnowflakeLikeIngestor(
            spark, cfg, path, str(tmp_path / "state"), "o_orderkey", mode="offset"
        )

    ing = ingestor()
    ing.run_until_drained()
    hi = ing.sink.last_epoch()
    assert hi > 1
    assert not list(tmp_path.glob("state/offsets*"))
    with pytest.raises(ValueError, match="keep_last"):
        ing.sink.expire_commits(keep_last=0)
    assert spark.table(ing.sink.commits).count() == hi
    ing.sink.expire_commits(keep_last=1)
    ledger = spark.table(ing.sink.commits)
    assert ledger.columns == ["epoch"]
    assert [r.epoch for r in ledger.collect()] == [hi]

    resumed = ingestor()
    assert resumed.sink.last_epoch() == hi
    assert sum(resumed.load_offsets().values()) == first.count()
    assert sum(s.rows_ingested for s in resumed.run_until_drained()) == 0
    got = resumed.sink.read()
    assert got.count() == got.select("o_orderkey").distinct().count() == first.count()


def test_dead_letter_replay_writes_each_row_once(spark, tmp_path):
    """A crash between an epoch's dead-letter write and its sink commit
    makes the ingestor rebuilt from disk run that epoch again. Each
    epoch's dead letters overwrite their own directory, so after the
    drain every failed value is recorded exactly once."""
    import collections

    import pyspark.sql.types as T

    rows = [
        (f"{i:04d}", f"S{i % 3}", f"bad{i}" if i % 7 == 0 else f"{i}.5")
        for i in range(90)
    ]
    injected = collections.Counter(
        (k, "price", raw) for k, _, raw in rows if raw.startswith("bad")
    )
    path = str(tmp_path / "src")
    spark.createDataFrame(rows, "k string, shard string, price string").write.parquet(path)
    target = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("shard", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    cfg = PipelineConfig(
        source=SnowflakeSourceConfig(
            table="dl", shard_column="shard", sort_column="k", query_size=10
        ),
        sink=IcebergSinkConfig(
            db="default",
            table_name=_uniq("t_dl_replay"),
            partition_fields=("shard",),
            upsert_fields=("k", "shard"),
            operation="upsert",
        ),
    )
    dl = str(tmp_path / "dead_letter")

    def ingestor() -> SnowflakeLikeIngestor:
        return SnowflakeLikeIngestor(
            spark, cfg, path, str(tmp_path / "state"), "k", mode="offset",
            target_schema=target, dead_letter_path=dl,
        )

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    ing = ingestor()
    assert ing.run_cycle().rows_ingested > 0
    ing.sink.write_batch = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        ing.run_cycle()

    resumed = ingestor()
    resumed.run_until_drained()
    assert resumed.sink.read().count() == len(rows)
    dead = collections.Counter(
        (r.row_key, r.field, r.raw) for r in spark.read.parquet(dl).collect()
    )
    assert dead == injected


def test_staging_change_mid_cycle_commits_what_advanced(spark, staging, tmp_path):
    """The SURVEY §2.2 hazard between two reads of one cycle: rows that
    sort last in a shard land in the staging after the cycle fetched its
    page and before the sink write. The write must commit exactly the
    rows the offsets advanced by. With an append sink, a write that
    re-read the source would commit the late rows now and fetch them
    again next cycle. The source is the sharded_parquet connector, which
    reads the staging at every evaluation, as a database would (a plain
    parquet read keeps the file listing it planned with)."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
        pysource,
    )

    path, first, _, _ = staging
    pysource.register(spark)

    def read_via_connector():
        return (
            spark.read.format("sharded_parquet")
            .option("path", path)
            .option("shard_column", "o_orderpriority")
            .option("sort_column", "o_orderdate")
            .load()
        )

    ing = SnowflakeLikeIngestor(
        spark, _cfg(_uniq("t_mutate"), operation="append"), path,
        str(tmp_path / "state"), "o_orderkey", mode="offset",
        source_reader=read_via_connector,
    )
    top = first.agg(F.max("o_orderkey")).head()[0]
    late = (
        first.filter(F.col("o_orderpriority") == "1-URGENT")
        .limit(5)
        .withColumn("o_orderkey", F.col("o_orderkey") + top)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 36500 DAYS"))
    )
    inner, fired = ing.sink.write_batch, []

    def write_batch(batch, epoch):
        if not fired:
            fired.append(epoch)
            late.write.mode("append").parquet(path)
        return inner(batch, epoch)

    ing.sink.write_batch = write_batch
    while True:
        st = ing.run_cycle()
        assert sum(ing.load_offsets().values()) == ing.sink.read().count()
        if st.rows_ingested == 0:
            break
    assert fired
    got = ing.sink.read()
    n_source = spark.read.parquet(path).count()
    assert n_source == first.count() + 5
    assert got.count() == got.select("o_orderkey").distinct().count() == n_source


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs it ran)``."""
    sc = spark.sparkContext
    group = _uniq("jobs")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cycle_job_count_pin(spark, staging, tmp_path):
    """One data cycle in offset + upsert mode runs at most 7 Spark jobs (26
    when every consumer of the page re-ran its plan, 11 with a discovery
    job and a count job of its own). The caught-up poll after it runs no
    Spark job and makes no py4j call at all."""
    path, first, _, _ = staging
    ing = SnowflakeLikeIngestor(
        spark, _cfg(_uniq("t_jobs")), path, str(tmp_path / "state"),
        "o_orderkey", mode="offset",
    )
    data, data_jobs = _jobs(spark, ing.run_cycle)

    client = spark.sparkContext._gateway._gateway_client
    real, calls = client.send_command, []

    def poll():
        client.send_command = lambda cmd, *a, **k: (calls.append(cmd), real(cmd, *a, **k))[1]
        try:
            return ing.run_cycle()
        finally:
            del client.send_command

    empty, empty_jobs = _jobs(spark, poll)
    assert data.rows_ingested == first.count() and empty.rows_ingested == 0
    assert empty.action == "caught-up"
    assert data_jobs <= 7, data_jobs
    assert empty_jobs == 0, empty_jobs
    assert calls == [], f"{len(calls)} py4j calls"


def test_caught_up_poll_skips_only_an_unchanged_staging(spark, staging, tmp_path):
    """Once a drain has committed every row, a poll over the same staging
    files runs nothing. A newly landed file, and a file rewritten in place
    (a new length, or only a new modification time), are read by the next
    cycle, so the skip never hides a row."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path, first, rest, orders = staging
    ing = SnowflakeLikeIngestor(
        spark, _cfg(_uniq("t_skip")), path, str(tmp_path / "state"),
        "o_orderkey", mode="offset",
    )
    ing.run_until_drained()
    assert ing.run_cycle().action == "caught-up"

    # a newly landed file (sorting after the drained rows, offset mode's
    # precondition)
    rest.withColumn(
        "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 100 YEARS")
    ).write.mode("append").parquet(path)
    assert ing.run_cycle().rows_ingested > 0
    ing.run_until_drained()
    assert ing.sink.read().count() == orders.count()
    assert ing.run_cycle().action == "caught-up"

    # a file rewritten in place with three more rows
    victim = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    old = pq.read_table(victim)
    top = orders.agg(F.max("o_orderkey")).head()[0]
    extra = (
        first.limit(3)
        .withColumn("o_orderkey", F.col("o_orderkey") + top)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 200 YEARS"))
        .select(*old.column_names)
        .toArrow()
        .cast(old.schema)
    )
    # a writer other than Hadoop's leaves no checksum sidecar
    os.remove(os.path.join(path, f".{os.path.basename(victim)}.crc"))
    # INT96 timestamps, as Spark wrote the file
    pq.write_table(
        pa.concat_tables([old, extra]), victim, use_deprecated_int96_timestamps=True
    )
    st = ing.run_cycle()
    assert (st.action, st.rows_ingested) == ("upsert", 3)
    assert ing.run_cycle().action == "caught-up"

    # the same bytes under a new modification time are read again
    mtime = os.stat(victim).st_mtime_ns + 10**9
    os.utime(victim, ns=(mtime, mtime))
    assert ing.run_cycle().action == "empty"
    assert ing.run_cycle().action == "caught-up"
    assert ing.sink.read().count() == orders.count() + 3


def test_source_reader_poll_never_skips(spark, staging, tmp_path):
    """A ``source_reader`` has no file listing to compare, so every poll
    after the drain still reads the source."""
    path, first, _, _ = staging
    ing = SnowflakeLikeIngestor(
        spark, _cfg(_uniq("t_reader")), path, str(tmp_path / "state"),
        "o_orderkey", mode="offset", source_reader=lambda: spark.read.parquet(path),
    )
    ing.run_until_drained()
    for _ in range(2):
        st, jobs = _jobs(spark, ing.run_cycle)
        assert (st.action, st.rows_ingested) == ("empty", 0)
        assert jobs > 0
    assert ing.sink.read().count() == first.count()


def test_cycle_releases_its_checkpoints(spark, staging, tmp_path):
    """A cycle frees the blocks it checkpointed (the fetched page and the
    upsert's merge) before it returns, instead of leaving them to the JVM
    garbage collector and the ContextCleaner."""
    path, _, _, _ = staging
    ing = SnowflakeLikeIngestor(
        spark, _cfg(_uniq("t_release"), query_size=30), path,
        str(tmp_path / "state"), "o_orderkey", mode="offset",
    )
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return set(jsc.getPersistentRDDs().keys())

    for _ in range(6):
        before = persisted()
        assert ing.run_cycle().rows_ingested > 0
        leftover = persisted() - before
        assert not leftover, f"cycle {ing._cycle} left {sorted(leftover)} persisted"


@pytest.mark.parametrize("mode", ["unseen", "offset"])
def test_ingest_growing_source_and_new_shards(spark, staging, tmp_path, mode):
    """A shard value first seen mid-stream is discovered and drained from
    its first row; in ``offset`` mode it starts at offset 0 (O4)."""
    path, first, rest, orders = staging
    cfg = _cfg(_uniq("t_grow"))
    ing = SnowflakeLikeIngestor(
        spark, cfg, path, str(tmp_path / "state"), "o_orderkey", mode=mode
    )
    ing.run_until_drained()

    # second wave arrives, including a brand-new shard value
    extra = rest.withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("6-NEW-SHARD")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    if mode == "offset":
        # offset mode's precondition: a shard grows only past its last
        # sorted row (SURVEY §2.2), so the second wave sorts after the first
        extra = extra.withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 100 YEARS")
        )
    extra.write.mode("append").parquet(path)
    stats = ing.run_until_drained()
    assert any(s.new_shards > 0 for s in stats)

    got = ing.sink.read()
    assert got.count() == orders.count()
    assert got.filter(F.col("o_orderpriority") == "6-NEW-SHARD").count() > 0


def test_schema_drift_added_column_tolerated(spark, staging, tmp_path):
    """The reference tears down and rebuilds on any source schema change
    (README.md:66-67). With a declared target schema the ingestor absorbs
    an *added* source column mid-stream: the new column is dropped by the
    cast projection, every row still lands, and the target schema never
    moves."""
    path, first, rest, orders = staging
    target = orders.schema
    ing = SnowflakeLikeIngestor(
        spark,
        _cfg(_uniq("t_drift")),
        path,
        str(tmp_path / "state"),
        "o_orderkey",
        target_schema=target,
    )
    ing.run_until_drained()
    schema_before = ing.sink.read().schema

    # second wave drifts: a brand-new column appears in the source
    rest.withColumn("o_surprise", F.lit("drifted")).write.mode(
        "append"
    ).parquet(path)
    stats = ing.run_until_drained()
    assert sum(s.rows_ingested for s in stats) == rest.count()
    got = ing.sink.read()
    assert got.schema == schema_before
    assert "o_surprise" not in got.columns
    assert got.count() == orders.count()


def test_schema_drift_bad_value_dead_letters(spark, tmp_path):
    """A value that fails its declared cast must not kill the job
    (SnowflakeToRowDataMapFunction.java:82-83 throws; at scale one bad row
    cannot): with a dead-letter path the row lands with the field nulled
    and the failure is ledgered as (row_key, field, raw)."""
    import pyspark.sql.types as T

    src = spark.createDataFrame(
        [("1", "PRI", "10.5"), ("2", "PRI", "oops"), ("3", "SEC", "7.25")],
        "k string, shard string, price string",
    )
    path = str(tmp_path / "drift_src")
    src.write.mode("overwrite").parquet(path)
    target = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("shard", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    cfg = PipelineConfig(
        source=SnowflakeSourceConfig(
            table="drift", shard_column="shard", sort_column="k", query_size=100
        ),
        sink=IcebergSinkConfig(
            db="default",
            table_name=_uniq("t_dead"),
            partition_fields=("shard",),
            upsert_fields=("k", "shard"),
            operation="upsert",
        ),
    )
    dl = str(tmp_path / "dead_letter")
    ing = SnowflakeLikeIngestor(
        spark,
        cfg,
        path,
        str(tmp_path / "state"),
        "k",
        target_schema=target,
        dead_letter_path=dl,
    )
    ing.run_until_drained()
    got = ing.sink.read()
    assert got.count() == 3  # the bad row still landed
    assert got.filter(F.col("k") == "2").head().price is None
    dead = spark.read.parquet(dl)
    rows = [(r.row_key, r.field, r.raw) for r in dead.collect()]
    assert ("2", "price", "oops") in rows
    assert len([r for r in rows if r[0] == "2"]) == 1


def _price_ingestor(spark, tmp_path, rows, table: str) -> SnowflakeLikeIngestor:
    """An offset-mode ingestor over ``rows`` of (k, shard, price string),
    cast to a double price with a dead-letter path."""
    import pyspark.sql.types as T

    path = str(tmp_path / "src")
    spark.createDataFrame(rows, "k string, shard string, price string").write.parquet(path)
    target = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("shard", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    cfg = PipelineConfig(
        source=SnowflakeSourceConfig(
            table="dl", shard_column="shard", sort_column="k", query_size=10
        ),
        sink=IcebergSinkConfig(
            db="default",
            table_name=_uniq(table),
            partition_fields=("shard",),
            upsert_fields=("k", "shard"),
            operation="upsert",
        ),
    )
    return SnowflakeLikeIngestor(
        spark, cfg, path, str(tmp_path / "state"), "k", mode="offset",
        target_schema=target, dead_letter_path=str(tmp_path / "dead_letter"),
    )


def test_clean_page_writes_no_dead_letters(spark, tmp_path, monkeypatch):
    """The cycle's checkpoint counts the page's failed casts. A page
    without one runs no dead-letter write and leaves no epoch directory,
    and the directory a crashed attempt at that epoch left is removed."""
    import os

    ing = _price_ingestor(
        spark, tmp_path, [(f"{i:02d}", f"S{i % 2}", f"{i}.5") for i in range(12)],
        "t_dl_clean",
    )
    stale = os.path.join(ing.dead_letter_path, "epoch=1")
    spark.createDataFrame([("00", "price", "junk")], "row_key string, field string, raw string").write.parquet(stale)
    writer = type(spark.range(1).write)
    real, writes = writer.parquet, []
    monkeypatch.setattr(
        writer, "parquet", lambda self, *a, **k: (writes.append(a), real(self, *a, **k))[1]
    )
    st = ing.run_cycle()
    assert (st.cycle, st.rows_ingested) == (1, 12)
    assert writes == []
    assert not os.path.exists(stale)
    assert os.listdir(ing.dead_letter_path) == []


def test_dead_letter_without_key_fields_rejected_at_construction(spark, tmp_path):
    """Dead letters are keyed by the first upsert field. An append or
    overwrite sink may leave ``upsert_fields`` empty, so the ingestor must
    refuse a dead-letter path there when it is built, not fail in its
    first data cycle after the page is checkpointed."""
    import pyspark.sql.types as T

    target = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("shard", T.StringType())]
    )
    cfg = PipelineConfig(
        source=SnowflakeSourceConfig(
            table="dl", shard_column="shard", sort_column="k", query_size=10
        ),
        sink=IcebergSinkConfig(
            db="default",
            table_name=_uniq("t_dl_nokey"),
            partition_fields=("shard",),
            operation="append",
        ),
    )
    with pytest.raises(ValueError, match="upsert_fields"):
        SnowflakeLikeIngestor(
            spark, cfg, str(tmp_path / "src"), str(tmp_path / "state"), "k",
            mode="offset", target_schema=target,
            dead_letter_path=str(tmp_path / "dead_letter"),
        )


def test_upsert_writes_one_file_per_partition(spark, staging, tmp_path):
    """The partition-aligned repartition before the COW overwrite must
    bound the commit to one file per touched partition — without it every
    shuffle task writes a sliver of every partition and the unseen-mode
    anti-join re-reads the fragments each cycle."""
    import glob

    path, first, rest, orders = staging
    cfg = _cfg(_uniq("t_onefile"))
    ing = SnowflakeLikeIngestor(
        spark, cfg, path, str(tmp_path / "state"), "o_orderkey", mode="unseen"
    )
    ing.run_until_drained()
    n_parts = first.select("o_orderpriority").distinct().count()
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    files = glob.glob(f"{wh}/{cfg.sink.table_name}/*/*.parquet")
    assert 0 < len(files) <= n_parts, (
        f"{len(files)} files for {n_parts} partitions"
    )


@pytest.mark.parametrize("location", ["managed", "own"])
def test_upsert_into_rows_without_ledger_merges(spark, tmp_path, location):
    """A target that holds rows but no ledger epochs (made elsewhere, or
    its ledger lost) is not empty: every upsert, the first and the later
    ones, merges the batch into the partition it touches instead of
    replacing that partition. That holds too for a table made with its
    own LOCATION, whose files lie outside the managed location."""
    t = _uniq("t_noledger")
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"
    )
    writer = orders.write.partitionBy("o_orderpriority")
    if location == "own":
        writer = writer.option("path", str(tmp_path / "elsewhere"))
    writer.saveAsTable(f"default.{t}")
    spark.sql(
        f"ALTER TABLE default.{t} SET SERDEPROPERTIES "
        "('partitionOverwriteMode'='dynamic')"
    )
    sink = CatalogSink(spark, _cfg(t).sink, version_column="o_orderdate")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").orderBy("o_orderkey")
    try:
        for epoch, batch in enumerate((urgent.limit(5), urgent.offset(5).limit(5)), 1):
            batch = batch.withColumn("o_totalprice", F.lit(-1.0))
            assert sink.write_batch(batch, epoch) == "upsert"
            got = sink.read()
            assert got.count() == orders.count()
            assert got.filter(F.col("o_totalprice") == -1.0).count() == 5 * epoch
    finally:
        for name in (f"default.{t}", sink.commits):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_unpartitioned_upsert_merges_twice(spark):
    """An unpartitioned target cannot be overwritten by a plan that reads
    it, so its merge is materialized first: a second upsert updates and
    adds rows and keeps the rest."""
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    sink = CatalogSink(
        spark,
        IcebergSinkConfig(
            db="default", table_name=_uniq("t_flat_upsert"),
            upsert_fields=("o_orderkey",), operation="upsert",
        ),
        version_column="o_orderdate",
    )
    jsc = spark.sparkContext._jsc
    first = orders.filter(F.col("o_orderkey") <= 200)
    second = orders.filter(F.col("o_orderkey").between(101, 300)).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    try:
        sink.write_batch(first, 1)
        before = set(jsc.getPersistentRDDs().keys())
        assert sink.write_batch(second, 2) == "upsert"
        assert set(jsc.getPersistentRDDs().keys()) == before
        got = sink.read()
        want = orders.filter(F.col("o_orderkey") <= 300)
        assert got.count() == want.count()
        assert got.filter(F.col("o_totalprice") == -1.0).count() == second.count()
    finally:
        for name in (sink.table, sink.commits):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_pagerank_restores_shuffle_conf(spark):
    """The graph-sized shuffle-partition override must be scoped to the
    superstep loop — leaking it would shrink every later query's shuffles."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.operators.dedup import (
        pagerank_pairs,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    pagerank_pairs(pairs).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_iceberg_branch_sql_generation(spark):
    """The Iceberg-conditional sink branch: generated DDL must match the
    reference's table spec (IcebergTableManager.java:75-90 — identity
    partitioning, format-version 2, merge-on-read upsert) and the MERGE
    must key on the equality fields (IcebergSinkBuilder.java:31-43)."""
    sink = CatalogSink(spark, _cfg(_uniq("t_ice")).sink, version_column="o_orderdate")
    like = load_table(spark, SF, "orders")
    ddl = sink.iceberg_create_sql(like)
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (o_orderpriority)" in ddl
    assert "'format-version'='2'" in ddl
    assert "'write.upsert.enabled'='true'" in ddl
    assert "merge-on-read" in ddl
    merge = sink.iceberg_merge_sql("batch_v")
    assert merge.startswith(f"MERGE INTO {sink.table} t USING batch_v s ON ")
    assert "t.`o_orderkey` = s.`o_orderkey`" in merge
    assert "t.`o_orderpriority` = s.`o_orderpriority`" in merge
    assert "WHEN MATCHED THEN UPDATE SET *" in merge
    assert "WHEN NOT MATCHED THEN INSERT *" in merge


def test_glue_catalog_conf_mapping():
    """The Glue+S3FileIO conf set must mirror the reference's catalog
    properties (IcebergTableManager.java:66-73) in Spark-conf form."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sinks.catalog import (
        glue_catalog_confs,
    )

    confs = glue_catalog_confs("glue", "s3://bkt/wh", region="eu-west-1")
    assert confs["spark.sql.catalog.glue"] == "org.apache.iceberg.spark.SparkCatalog"
    assert (
        confs["spark.sql.catalog.glue.catalog-impl"]
        == "org.apache.iceberg.aws.glue.GlueCatalog"
    )
    assert confs["spark.sql.catalog.glue.io-impl"] == "org.apache.iceberg.aws.s3.S3FileIO"
    assert confs["spark.sql.catalog.glue.warehouse"] == "s3://bkt/wh"
    assert confs["spark.sql.catalog.glue.client.region"] == "eu-west-1"
    assert "IcebergSparkSessionExtensions" in confs["spark.sql.extensions"]


def test_iceberg_detection(spark):
    """Capability probe: off in this sandbox; on when the session carries
    the Iceberg extensions or an Iceberg catalog implementation."""

    class _Conf:
        def __init__(self, d):
            self._d = d

        def get(self, k, default=None):
            return self._d.get(k, default)

        def getAllWithPrefix(self, prefix):
            # the JVM SparkConf answers Tuple2s; the probe reads only _2()
            return [
                type("T2", (), {"_2": lambda s, v=v: v})()
                for k, v in self._d.items() if k.startswith(prefix)
            ]

    class _Sess:
        def __init__(self, d):
            self.conf = _Conf(d)
            jsc = type("JSC", (), {"getConf": lambda s: _Conf(d)})()
            self.sparkContext = type("SC", (), {"_jsc": jsc})()

    assert CatalogSink._iceberg_available(spark) is False
    ext = {"spark.sql.extensions":
           "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"}
    assert CatalogSink._iceberg_available(_Sess(ext)) is True
    cat = {"spark.sql.catalog.glue": "org.apache.iceberg.spark.SparkCatalog"}
    assert CatalogSink._iceberg_available(_Sess(cat)) is True


class _RecordingIcebergSession:
    """SparkSession proxy that makes `_iceberg_available` answer True and
    RECORDS every Iceberg-only SQL statement (CREATE … USING iceberg,
    MERGE INTO, CREATE TAG, VERSION AS OF) instead of executing it — no
    Iceberg jars needed — while delegating everything else (parquet DDL
    for the commits ledger, temp views, conf) to the real session. The
    jar-free twin of `test_iceberg_write_batch_executes` below: it proves
    the SEQUENCE the real cluster would execute."""

    def __init__(self, real):
        self._real = real
        self.recorded: list[str] = []
        self._iceberg_tables: set[str] = set()
        proxy = self

        class _Conf:
            def get(self, k, default=None):
                if k == "spark.sql.extensions":
                    return (
                        "org.apache.iceberg.spark.extensions."
                        "IcebergSparkSessionExtensions"
                    )
                return real.conf.get(k, default)

            def set(self, k, v):
                real.conf.set(k, v)

        class _Catalog:
            def tableExists(self, name):
                if name in proxy._iceberg_tables:
                    return True
                return real.catalog.tableExists(name)

            def __getattr__(self, item):
                return getattr(real.catalog, item)

        self.conf = _Conf()
        self.catalog = _Catalog()

    @staticmethod
    def _iceberg_only(q: str) -> bool:
        return (
            "USING iceberg" in q
            or q.startswith("MERGE INTO")
            or "CREATE OR REPLACE TAG" in q
            or "VERSION AS OF" in q
        )

    def sql(self, q: str):
        if self._iceberg_only(q):
            self.recorded.append(q)
            if "USING iceberg" in q:
                name = q.split("CREATE TABLE IF NOT EXISTS ")[1].split(" ")[0]
                self._iceberg_tables.add(name)
            return self._real.createDataFrame([], "ok int")
        return self._real.sql(q)

    def table(self, name: str):
        if name in self._iceberg_tables:
            # stand-in for the (never actually created) Iceberg table:
            # only its column ORDER is consumed (the _aligned projection)
            return self._real.createDataFrame([], self._like_schema)
        return self._real.table(name)

    def __getattr__(self, item):
        return getattr(self._real, item)


def test_iceberg_commit_sequence_recorded(spark):
    """The jar-free exactly-once contract of the Iceberg branch
    (`_iceberg_write` + `write_batch`, sinks/catalog.py): epoch 1 must
    execute CREATE TABLE … USING iceberg → MERGE INTO (on the equality
    fields) → CREATE TAG epoch_1 in that order; replaying epoch 1 must
    execute NOTHING (ledger skip); epoch 2 must merge+tag WITHOUT a
    second create; and read_as_of must address the epoch tag via
    VERSION AS OF — the commit discipline the reference gets from
    FlinkSink+IcebergTableManager (IcebergSinkBuilder.java:31-43,
    IcebergTableManager.java:75-90)."""
    rec = _RecordingIcebergSession(spark)
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    )
    rec._like_schema = orders.schema
    cfg = replace(_cfg(_uniq("t_icerec")).sink, snapshots=True)
    sink = CatalogSink(rec, cfg, version_column="o_orderdate")
    assert sink.iceberg, "proxy must register as an Iceberg session"
    try:
        b1 = orders.limit(50)
        assert sink.write_batch(b1, epoch=1) == "iceberg-upsert"
        seq1 = list(rec.recorded)
        kinds1 = [
            "create" if "USING iceberg" in q
            else "merge" if q.startswith("MERGE INTO")
            else "tag"
            for q in seq1
        ]
        assert kinds1 == ["create", "merge", "tag"], kinds1
        assert "'format-version'='2'" in seq1[0]
        assert "PARTITIONED BY (o_orderpriority)" in seq1[0]
        assert "t.`o_orderkey` = s.`o_orderkey`" in seq1[1]
        assert "t.`o_orderpriority` = s.`o_orderpriority`" in seq1[1]
        assert "WHEN MATCHED THEN UPDATE SET *" in seq1[1]
        assert seq1[2].endswith("CREATE OR REPLACE TAG `epoch_1`")

        # replay: the ledger already holds epoch 1 — nothing may execute
        assert sink.write_batch(b1, epoch=1) == "skipped-replay"
        assert rec.recorded == seq1, "replayed epoch re-executed SQL"

        # epoch 2: merge + tag, no second create-if-not-exists DDL
        assert sink.write_batch(orders.limit(80), epoch=2) == "iceberg-upsert"
        seq2 = rec.recorded[len(seq1):]
        assert [q.startswith("MERGE INTO") for q in seq2] == [True, False]
        assert seq2[1].endswith("CREATE OR REPLACE TAG `epoch_2`")

        # restart parity: a NEW sink over the same ledger skips both
        sink2 = CatalogSink(rec, cfg, version_column="o_orderdate")
        n = len(rec.recorded)
        assert sink2.write_batch(b1, epoch=1) == "skipped-replay"
        assert sink2.write_batch(b1, epoch=2) == "skipped-replay"
        assert len(rec.recorded) == n

        # native time travel addresses the epoch tag
        sink.read_as_of(1)
        assert rec.recorded[-1].endswith("VERSION AS OF 'epoch_1'")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sink.commits}")


@pytest.mark.skipif(
    True,
    reason="no Iceberg jars in this sandbox (package installation is "
    "disallowed). To run on a real cluster: start the session with "
    "--packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:1.5.2 "
    "(or the matching Spark/Scala build), plus "
    "spark.sql.extensions=org.apache.iceberg.spark.extensions."
    "IcebergSparkSessionExtensions and a catalog, e.g. "
    "spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog with "
    "type=hadoop and warehouse=<path>; then drop this skipif. The "
    "jar-free recording stub above pins the same create→MERGE→tag "
    "sequence this test executes for real",
)
def test_iceberg_write_batch_executes(spark, staging, tmp_path):
    """On an Iceberg-enabled session the same write_batch path must commit
    through MERGE INTO and report the iceberg action."""
    path, first, rest, orders = staging
    ing = SnowflakeLikeIngestor(
        spark, _cfg(_uniq("t_icew")), path, str(tmp_path / "state"), "o_orderkey"
    )
    stats = ing.run_until_drained()
    assert any(s.action == "iceberg-upsert" for s in stats)


def test_upsert_replay_is_idempotent(spark, staging, tmp_path):
    """Re-running a committed epoch (ledger) and re-ingesting old rows
    (MERGE keys) both leave the table unchanged."""
    path, first, _, _ = staging
    cfg = _cfg(_uniq("t_replay"))
    ing = SnowflakeLikeIngestor(spark, cfg, path, str(tmp_path / "state"), "o_orderkey")
    ing.run_until_drained()
    before = sorted(r.o_orderkey for r in ing.sink.read().collect())

    # ledger replay: same epoch id again
    some = spark.read.parquet(path).limit(50)
    assert ing.sink.write_batch(some, epoch=1) == "skipped-replay"
    # MERGE replay: old rows at a fresh epoch
    assert ing.sink.write_batch(some, epoch=9999) == "upsert"
    after = sorted(r.o_orderkey for r in ing.sink.read().collect())
    assert before == after


def test_append_and_overwrite_modes(spark, tmp_path):
    orders = load_table(spark, SF, "orders")
    t = _uniq("t_modes")
    app = CatalogSink(
        spark,
        IcebergSinkConfig(
            db="default", table_name=t, partition_fields=("o_orderpriority",),
            operation="append",
        ),
    )
    batch = orders.limit(100)
    app.write_batch(batch, 1)
    app.write_batch(batch, 2)
    assert app.read().count() == 200  # append duplicates

    ow = CatalogSink(
        spark,
        IcebergSinkConfig(
            db="default", table_name=_uniq("t_ow"),
            partition_fields=("o_orderpriority",), operation="overwrite",
        ),
    )
    ow.write_batch(orders, 1)
    # dynamic overwrite: replacing one partition leaves the others intact
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.lit(0.0)
    )
    ow.write_batch(urgent, 2)
    got = ow.read()
    assert got.count() == orders.count()
    assert got.filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") != 0)).count() == 0
    assert got.filter(F.col("o_orderpriority") != "1-URGENT").filter(F.col("o_totalprice") == 0).count() == 0


def test_stream_ingest_available_now(spark, staging, tmp_path):
    path, first, _, _ = staging
    cfg = _cfg(_uniq("t_stream"))
    schema = load_table(spark, SF, "orders").schema
    q = stream_ingest(
        spark, cfg, path, str(tmp_path / "ckpt"), schema, available_now=True
    )
    q.awaitTermination(120)
    sink = CatalogSink(spark, cfg.sink)
    assert sink.read().count() == first.count()


def test_compaction_reduces_files_preserves_data(spark, staging, tmp_path):
    """Table maintenance (Iceberg rewrite_data_files parity): after many
    append commits accrete small files, compact() rewrites each partition
    to one file and the table contents are unchanged."""
    path, first, rest, orders = staging
    cfg = _cfg(_uniq("t_compact"), operation="append")
    sink = CatalogSink(spark, cfg.sink, version_column="o_orderdate")
    batches = first.randomSplit([1.0] * 5, seed=7)
    for i, b in enumerate(batches):
        sink.write_batch(b, epoch=i + 1)
    before = len(sink._data_files())
    total_before = sink.read().count()
    n_parts = sink.read().select("o_orderpriority").distinct().count()
    assert before > n_parts, "test setup should accrete small files"
    after = sink.compact()
    assert after <= n_parts
    assert sink.read().count() == total_before
    spark.sql(f"DROP TABLE IF EXISTS {sink.table}")
    spark.sql(f"DROP TABLE IF EXISTS {sink.commits}")


def test_compaction_of_an_unpartitioned_table(spark, staging):
    """An unpartitioned table is compacted through a materialized copy (its
    overwrite may not read it) into one file, with the same rows, and the
    copy is released."""
    path, first, _, _ = staging
    sink = CatalogSink(
        spark,
        IcebergSinkConfig(
            db="default", table_name=_uniq("t_flat_compact"), operation="append"
        ),
    )
    for i, b in enumerate(first.randomSplit([1.0] * 3, seed=7)):
        sink.write_batch(b, epoch=i + 1)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    try:
        assert len(sink._data_files()) > 1
        assert sink.compact() == 1
        assert set(jsc.getPersistentRDDs().keys()) == before
        assert sink.read().exceptAll(first).count() == 0
        assert first.exceptAll(sink.read()).count() == 0
    finally:
        for name in (sink.table, sink.commits):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_expire_commits_keeps_trailing_window(spark, staging, tmp_path):
    path, first, rest, orders = staging
    cfg = _cfg(_uniq("t_expire"), operation="append")
    sink = CatalogSink(spark, cfg.sink, version_column="o_orderdate")
    small = first.limit(10)
    for e in range(1, 8):
        sink.write_batch(small, epoch=e)
    assert spark.table(sink.commits).count() == 7
    sink.expire_commits(keep_last=3)
    kept = [r.epoch for r in spark.table(sink.commits).collect()]
    assert sorted(kept) == [5, 6, 7]
    # replay detection still works inside the window
    assert sink.write_batch(small, epoch=7) == "skipped-replay"
    spark.sql(f"DROP TABLE IF EXISTS {sink.table}")
    spark.sql(f"DROP TABLE IF EXISTS {sink.commits}")


def test_expire_commits_deletes_only_wholly_expired_files(spark, staging):
    """A ledger file that Spark rewrote holds several epochs and no
    offsets. Expiry deletes it only once every epoch in it is past the
    window, and the ledger table reads it beside the newer records. The
    newest record that carries offsets is kept outside the window too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path, first, rest, orders = staging
    cfg = _cfg(_uniq("t_expire_old"), operation="append").sink
    sink = CatalogSink(spark, cfg)
    loc = sink._ledger_location()
    os.makedirs(loc)
    old = pa.table({"epoch": pa.array([1, 2, 3], pa.int64())})
    pq.write_table(old, os.path.join(loc, "part-00000-rewritten.parquet"))
    small = first.limit(10)
    sink.progress = {"1-URGENT": 10}
    for e in range(4, 9):
        sink.write_batch(small, epoch=e)

    def kept() -> list[int]:
        return sorted(r.epoch for r in spark.table(sink.commits).collect())

    try:
        assert kept() == list(range(1, 9))
        sink.expire_commits(keep_last=6)  # epochs 1 and 2 share a file with 3
        assert kept() == list(range(1, 9))
        sink.expire_commits(keep_last=5)
        assert kept() == [4, 5, 6, 7, 8]
        assert not sink._committed(3) and sink.last_epoch() == 8
        sink.expire_commits(keep_last=1)
        assert kept() == [4, 8]
        assert CatalogSink(spark, cfg).committed_offsets() == {"1-URGENT": 10}
    finally:
        for name in (sink.table, sink.commits):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_iceberg_compact_sql_generation(spark):
    cfg = _cfg(_uniq("t_icecompact"))
    sink = CatalogSink(spark, cfg.sink)
    sql = sink.iceberg_compact_sql()
    assert "rewrite_data_files" in sql and sink.table in sql


def test_stream_ingest_restart_recovers_checkpoint(spark, staging, tmp_path):
    """Fault-tolerance contract (SURVEY §3.4: Spark's commit log plays
    Flink's checkpoint barrier): drain the first half, STOP, land more
    files, restart with the SAME checkpoint — the restarted stream must
    ingest only the new files, never re-deliver old ones, and the final
    table equals the full source exactly once."""
    path, first, rest, orders = staging
    cfg = _cfg(_uniq("t_restart"))
    schema = load_table(spark, SF, "orders").schema
    ckpt = str(tmp_path / "ckpt")

    q1 = stream_ingest(spark, cfg, path, ckpt, schema, available_now=True)
    q1.awaitTermination(120)
    sink = CatalogSink(spark, cfg.sink)
    assert sink.read().count() == first.count()

    # the source grows between runs (the reference's continuous-poll case)
    rest.write.mode("append").parquet(path)
    q2 = stream_ingest(spark, cfg, path, ckpt, schema, available_now=True)
    q2.awaitTermination(120)

    got = sink.read()
    assert got.count() == orders.count()
    assert got.select("o_orderkey").distinct().count() == orders.count()
    assert got.select(*orders.columns).exceptAll(orders).count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {sink.table}")
    spark.sql(f"DROP TABLE IF EXISTS {sink.commits}")


def test_snapshot_time_travel_reconstructs_each_epoch(spark):
    """snapshots=True: read_as_of(e) must equal the table state right
    after commit e, for every e — including partitions untouched by later
    commits (reconstructed from their last snapshot) and partitions that
    didn't exist yet (absent). expire_snapshots keeps the current state
    reconstructible."""
    sink = CatalogSink(
        spark,
        replace(_cfg(_uniq("t_tt")).sink, snapshots=True),
        version_column="o_orderdate",
    )
    orders = load_table(spark, SF, "orders")
    batches = [
        orders.filter(F.col("o_orderpriority") == "1-URGENT").limit(50),
        orders.filter(F.col("o_orderpriority") == "5-LOW").limit(40),
        # epoch 3 updates URGENT again (same keys re-upserted)
        orders.filter(F.col("o_orderpriority") == "1-URGENT").limit(20),
    ]
    states = {}
    for e, b in enumerate(batches, start=1):
        sink.write_batch(b, e)
        states[e] = {
            tuple(r) for r in sink.read().select("o_orderkey", "o_orderpriority").collect()
        }
    for e in (1, 2, 3):
        got = {
            tuple(r)
            for r in sink.read_as_of(e).select("o_orderkey", "o_orderpriority").collect()
        }
        assert got == states[e], f"epoch {e} reconstruction mismatch"
    # epoch 1 must NOT contain the 5-LOW partition yet
    assert all(p == "1-URGENT" for _, p in states[1])
    # expiry: drop everything but the trailing 1 commit; current state
    # stays reconstructible (each partition keeps its newest snapshot)
    files_before = set(_history_files(sink))
    sink.expire_snapshots(keep_last=1)
    pairs = {
        tuple(r)
        for r in spark.table(sink.history)
        .select("__epoch", "o_orderpriority").distinct().collect()
    }
    assert pairs == {(3, "1-URGENT"), (2, "5-LOW")}
    # the kept snapshots were not rewritten
    assert set(_history_files(sink)) <= files_before
    got = {
        tuple(r)
        for r in sink.read_as_of(3).select("o_orderkey", "o_orderpriority").collect()
    }
    assert got == states[3]
    # as of epoch 2 only 5-LOW survives: 1-URGENT's epoch-1 snapshot expired
    got = {
        tuple(r)
        for r in sink.read_as_of(2).select("o_orderkey", "o_orderpriority").collect()
    }
    assert got == {r for r in states[2] if r[1] == "5-LOW"}


def _history_files(sink) -> list[str]:
    import glob
    import os

    loc = sink._managed_location(sink.history.split(".")[-1])
    return [
        p
        for p in glob.glob(os.path.join(loc, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))
    ]


def test_snapshot_replay_is_idempotent(spark):
    """A crash between the snapshot write and the ledger record makes the
    replayed epoch re-run _snapshot; the dynamic-overwrite write must
    leave the history identical, never doubled."""
    sink = CatalogSink(
        spark,
        replace(_cfg(_uniq("t_ttr")).sink, snapshots=True),
        version_column="o_orderdate",
    )
    orders = load_table(spark, SF, "orders")
    batch = orders.filter(F.col("o_orderpriority") == "1-URGENT").limit(30)
    sink.write_batch(batch, 1)
    before = sink.spark.table(sink.history).count()
    sink._snapshot(batch, 1)  # simulated replay of the unrecorded write
    after = sink.spark.table(sink.history).count()
    assert after == before
    got = {tuple(r) for r in sink.read_as_of(1).select("o_orderkey").collect()}
    cur = {tuple(r) for r in sink.read().select("o_orderkey").collect()}
    assert got == cur


def test_iceberg_time_travel_sql_generation(spark):
    """Under an Iceberg catalog, time travel is native: each commit tags
    its snapshot with the epoch and read_as_of addresses the tag — the
    generated SQL must carry both halves."""
    sink = CatalogSink(
        spark, replace(_cfg(_uniq("t_ice_tt")).sink, snapshots=True),
        version_column="o_orderdate",
    )
    tag = sink.iceberg_tag_sql(7)
    assert tag.startswith(f"ALTER TABLE {sink.table} ")
    assert "CREATE OR REPLACE TAG `epoch_7`" in tag
    as_of = sink.iceberg_as_of_sql(7)
    assert as_of == f"SELECT * FROM {sink.table} VERSION AS OF 'epoch_7'"


def test_ingest_with_snapshots_records_history(spark, staging, tmp_path):
    """snapshots=True through the config surface: a drained ingest leaves
    a reconstructible history whose final as-of state equals the table."""
    path, first, rest, orders = staging
    cfg = _cfg(_uniq("t_snap_ing"))
    cfg = PipelineConfig(
        source=cfg.source,
        sink=IcebergSinkConfig(
            db=cfg.sink.db,
            table_name=cfg.sink.table_name,
            partition_fields=cfg.sink.partition_fields,
            upsert_fields=cfg.sink.upsert_fields,
            operation=cfg.sink.operation,
            snapshots=True,
        ),
    )
    ing = SnowflakeLikeIngestor(
        spark, cfg, path, str(tmp_path / "state"), "o_orderkey"
    )
    ing.run_until_drained()
    hi = ing.sink.last_epoch()
    assert hi >= 1
    cur = {r.o_orderkey for r in ing.sink.read().select("o_orderkey").collect()}
    asof = {
        r.o_orderkey
        for r in ing.sink.read_as_of(hi).select("o_orderkey").collect()
    }
    assert asof == cur


def test_ingest_through_python_datasource_connector(spark, staging, tmp_path):
    """The COMPLETE reference pipeline composed from our own parts: the
    sharded_parquet Python DataSource connector as the ingest engine's
    source_reader (O1 poll + O3 fan-out + O6 paging inside the
    connector), drained by the cycle engine into the catalog sink —
    custom source → runtime → sink, end to end."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
        pysource,
    )

    path, first, rest, orders = staging
    pysource.register(spark)

    def read_via_connector():
        return (
            spark.read.format("sharded_parquet")
            .option("path", path)
            .option("shard_column", "o_orderpriority")
            .option("sort_column", "o_orderdate")
            .load()
        )

    cfg = _cfg(_uniq("t_conn"))
    ing = SnowflakeLikeIngestor(
        spark,
        cfg,
        path,
        str(tmp_path / "state"),
        "o_orderkey",
        mode="unseen",
        source_reader=read_via_connector,
    )
    try:
        ing.run_cycle()
        got = ing.sink.read()
        assert got.count() == first.count()
        # growing source: second cycle picks up exactly the delta
        orders.write.mode("overwrite").parquet(path)
        ing.run_cycle()
        assert ing.sink.read().count() == orders.count()
    finally:
        for t in (ing.sink.table, ing.sink.commits, ing.sink.history):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_purge_keys_erases_live_and_history(spark, tmp_path):
    """Right-to-be-forgotten: after purge_keys the key is gone from the
    live table AND from every time-travel reconstruction; untouched rows
    and epochs survive; an entirely-purged partition disappears."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sinks.catalog import (
        CatalogSink,
    )

    cfg = replace(_cfg(_uniq("t_purge")).sink, snapshots=True)
    sink = CatalogSink(spark, cfg, version_column="o_orderdate")
    orders = load_table(spark, SF, "orders")
    half = orders.filter(F.col("o_orderkey") % 2 == 0)
    try:
        sink.write_batch(half, 1)
        sink.write_batch(orders, 2)
        victim = orders.orderBy("o_orderkey").limit(1).select(
            "o_orderkey", "o_orderpriority"
        )
        vkey = victim.collect()[0].o_orderkey
        sink.purge_keys(victim)
        assert sink.read().filter(F.col("o_orderkey") == vkey).count() == 0
        for e in (1, 2):
            assert (
                sink.read_as_of(e).filter(F.col("o_orderkey") == vkey).count()
                == 0
            ), f"epoch {e} still exposes the purged key"
        # collateral check: everything else intact
        assert sink.read().count() == orders.count() - 1
        assert sink.read_as_of(2).count() == orders.count() - 1

        # empty-partition case: purge an entire priority class
        wipe = orders.filter(
            F.col("o_orderpriority") == "5-LOW"
        ).select("o_orderkey", "o_orderpriority")
        n_wipe = wipe.count()
        sink.purge_keys(wipe)
        assert sink.read().filter(F.col("o_orderpriority") == "5-LOW").count() == 0
        assert (
            sink.read_as_of(2).filter(F.col("o_orderpriority") == "5-LOW").count()
            == 0
        )
        assert sink.read().count() == orders.count() - 1 - n_wipe
    finally:
        for t in (sink.table, sink.commits, sink.history):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_purge_keys_survives_static_session_mode(spark):
    """The GDPR-path data-loss hazard (round-4 advice): every overwrite
    site must scope partitionOverwriteMode itself.  With the session conf
    forced to 'static' (simulating a crash between snapshot expiry's
    set/restore, or any external caller), purge_keys must still remove
    ONLY the purged key — not every partition that contained no key."""
    cfg = replace(_cfg(_uniq("t_purge_static")).sink, snapshots=True)
    sink = CatalogSink(spark, cfg, version_column="o_orderdate")
    orders = load_table(spark, SF, "orders")
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    try:
        sink.write_batch(orders, 1)
        victim = orders.orderBy("o_orderkey").limit(1).select(
            "o_orderkey", "o_orderpriority"
        )
        vkey = victim.collect()[0].o_orderkey
        spark.conf.set(key, "static")  # hostile session state
        sink.purge_keys(victim)
        assert spark.conf.get(key) == "static", "conf not restored"
        assert sink.read().filter(F.col("o_orderkey") == vkey).count() == 0
        # the static-mode hazard: a full-table overwrite would have left
        # only the victim's partition — every other partition must survive
        assert sink.read().count() == orders.count() - 1
        assert sink.read_as_of(1).count() == orders.count() - 1
    finally:
        spark.conf.set(key, prev)
        for t in (sink.table, sink.commits, sink.history):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_purge_keys_null_key_rejected_before_mutation(spark):
    """NULL key values can never match the purge anti-join (the rows would
    silently survive), so purge_keys must validate up front and leave BOTH
    tables untouched — no half-applied purge."""
    cfg = replace(_cfg(_uniq("t_purge_null")).sink, snapshots=True)
    sink = CatalogSink(spark, cfg, version_column="o_orderdate")
    orders = load_table(spark, SF, "orders")
    try:
        sink.write_batch(orders, 1)
        n_live = sink.read().count()
        bad = spark.createDataFrame(
            [(1, None), (None, "1-URGENT")],
            "o_orderkey bigint, o_orderpriority string",
        )
        with pytest.raises(ValueError, match="NULL"):
            sink.purge_keys(bad)
        assert sink.read().count() == n_live, "live table mutated"
        assert sink.read_as_of(1).count() == n_live, "history mutated"
    finally:
        for t in (sink.table, sink.commits, sink.history):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


class _IcebergStubSession:
    """Recording stand-in for a Spark session wired to a real Iceberg
    catalog: Iceberg-only statements (CREATE … USING iceberg, MERGE INTO,
    CREATE TAG, VERSION AS OF) are intercepted and logged instead of
    executed — the jar-free proof of the reference's commit discipline
    (IcebergSinkBuilder.java:31-43, IcebergTableManager.java:75-90) —
    while everything else (parquet ledger DDL, temp views, catalog calls)
    delegates to the real session."""

    _INTERCEPT = ("USING iceberg", "MERGE INTO", "CREATE OR REPLACE TAG",
                  "VERSION AS OF")

    def __init__(self, spark, fake_table: str, fake_df):
        self._spark = spark
        self._fake_table = fake_table
        self._fake_df = fake_df
        self.log: list[str] = []
        self.catalog = self._Catalog(spark, fake_table)

    class _Catalog:
        def __init__(self, spark, fake_table):
            self._c = spark.catalog
            self._fake = fake_table

        def tableExists(self, name):
            if name == self._fake:
                return False  # the intercepted CREATE never materializes
            return self._c.tableExists(name)

        def __getattr__(self, item):
            return getattr(self._c, item)

    class _Conf:
        def __init__(self, conf):
            self._c = conf

        def get(self, key, default=None):
            if key == "spark.sql.extensions":
                return "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
            return self._c.get(key, default)

        def __getattr__(self, item):
            return getattr(self._c, item)

    @property
    def conf(self):
        return self._Conf(self._spark.conf)

    def sql(self, statement, *a, **k):
        if any(tok in statement for tok in self._INTERCEPT):
            self.log.append(statement)
            return self._fake_df.limit(0)
        return self._spark.sql(statement, *a, **k)

    def table(self, name):
        if name == self._fake_table:
            return self._fake_df
        return self._spark.table(name)

    def __getattr__(self, item):
        return getattr(self._spark, item)


def test_iceberg_commit_discipline_stub_catalog(spark):
    """Jar-free contract test of the Iceberg branch: per commit the sink
    issues create-if-absent → MERGE INTO (on the equality fields, UPDATE
    SET * / INSERT *) → epoch tag, in that order; a replayed epoch issues
    neither merge nor tag; a second epoch merges and tags again."""
    table = _uniq("ice_stub")
    batch = load_table(spark, SF, "orders").limit(50)
    cfg = replace(_cfg(table).sink, snapshots=True)
    stub = _IcebergStubSession(spark, f"default.{table}", batch)
    sink = CatalogSink(stub, cfg, version_column="o_orderdate")
    try:
        assert sink.iceberg, "stub session must probe as Iceberg-capable"

        assert sink.write_batch(batch, 1) == "iceberg-upsert"
        creates = [i for i, s in enumerate(stub.log) if "USING iceberg" in s]
        merges = [i for i, s in enumerate(stub.log) if "MERGE INTO" in s]
        tags = [i for i, s in enumerate(stub.log) if "CREATE OR REPLACE TAG" in s]
        assert len(creates) == 1 and len(merges) == 1 and len(tags) == 1
        assert creates[0] < merges[0] < tags[0], stub.log
        ddl = stub.log[creates[0]]
        assert "'format-version'='2'" in ddl
        assert "'write.upsert.enabled'='true'" in ddl
        assert "PARTITIONED BY (o_orderpriority)" in ddl
        merge = stub.log[merges[0]]
        assert f"MERGE INTO default.{table} t" in merge
        assert "t.`o_orderkey` = s.`o_orderkey`" in merge
        assert "t.`o_orderpriority` = s.`o_orderpriority`" in merge
        assert "WHEN MATCHED THEN UPDATE SET *" in merge
        assert "WHEN NOT MATCHED THEN INSERT *" in merge
        assert "`epoch_1`" in stub.log[tags[0]]

        # replayed epoch: ledger-skipped, no new merge/tag
        n = len(stub.log)
        assert sink.write_batch(batch, 1) == "skipped-replay"
        replay_tail = stub.log[n:]
        assert not [s for s in replay_tail if "MERGE INTO" in s]
        assert not [s for s in replay_tail if "TAG" in s]

        # next epoch: merge + tag again, ordered
        assert sink.write_batch(batch, 2) == "iceberg-upsert"
        merges2 = [i for i, s in enumerate(stub.log) if "MERGE INTO" in s]
        tags2 = [i for i, s in enumerate(stub.log) if "CREATE OR REPLACE TAG" in s]
        assert len(merges2) == 2 and len(tags2) == 2
        assert merges2[1] < tags2[1]
        assert "`epoch_2`" in stub.log[tags2[1]]

        # native as-of addresses the epoch tag
        stub.log.clear()
        sink.read_as_of(2)
        assert any("VERSION AS OF 'epoch_2'" in s for s in stub.log)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS default.{table}__commits")


def test_sink_overwrites_ignore_a_static_session_mode(spark, monkeypatch):
    """The overwrite mode is a table option, not session state. With the
    session's partitionOverwriteMode forced to 'static' (any foreign
    thread or session sharing it can leave it so), each overwriting sink
    operation keeps every partition it did not target, and the sink never
    sets a session conf."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    pcol = F.col("o_orderpriority")
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice"
    )
    urgent = orders.filter(pcol == "1-URGENT")
    up = CatalogSink(
        spark,
        replace(_cfg(_uniq("t_hostile")).sink, snapshots=True),
        version_column="o_orderdate",
    )
    ow = CatalogSink(
        spark,
        IcebergSinkConfig(
            db="default", table_name=_uniq("t_hostile_ow"),
            partition_fields=("o_orderpriority",), operation="overwrite",
        ),
    )

    def rows(df, where=~(pcol == "1-URGENT")):
        cols = [c for c in ("__epoch", "o_orderkey", "o_orderpriority",
                            "o_totalprice") if c in df.columns]
        return sorted(tuple(r) for r in df.filter(where).select(*cols).collect())

    calls = []
    real_set = spark.conf.set
    spark.conf.set(key, "static")
    monkeypatch.setattr(
        spark.conf, "set", lambda *a: (calls.append(a), real_set(*a))[1]
    )
    try:
        up.write_batch(orders, 1)
        ow.write_batch(orders, 1)
        live, hist = rows(up.read()), rows(spark.table(up.history))
        ow_live = rows(ow.read())
        assert len(live) == orders.filter(pcol != "1-URGENT").count() > 0

        # upsert + snapshot commit touching only 1-URGENT
        bump = urgent.limit(20).withColumn("o_totalprice", F.lit(1.0))
        assert up.write_batch(bump, 2) == "upsert"
        assert rows(up.read()) == live
        assert rows(spark.table(up.history)) == hist
        # overwrite commit touching only 1-URGENT
        assert ow.write_batch(bump, 2) == "overwrite"
        assert rows(ow.read()) == ow_live
        assert ow.read().filter(pcol == "1-URGENT").count() == 20
        # compaction rewrites every partition: nothing may be lost
        whole = rows(up.read(), F.lit(True))
        up.compact()
        assert rows(up.read(), F.lit(True)) == whole
        # purge of one 1-URGENT key, live table and history
        victim = bump.limit(1).select("o_orderkey", "o_orderpriority")
        up.purge_keys(victim)
        assert rows(up.read()) == live
        assert rows(spark.table(up.history)) == hist
        assert up.read().count() == len(whole) - 1
        # expiry drops only 1-URGENT's epoch-1 snapshot
        up.expire_snapshots(keep_last=1)
        assert rows(spark.table(up.history)) == hist
        kept = rows(spark.table(up.history), pcol == "1-URGENT")
        assert {r[0] for r in kept} == {2}
        assert [r[1:] for r in kept] == rows(up.read(), pcol == "1-URGENT")

        assert calls == [], f"the sink set session confs: {calls}"
        assert spark.conf.get(key) == "static"
    finally:
        real_set(key, prev)
        for t in (up.table, up.commits, up.history, ow.table, ow.commits):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_partitioned_table_without_dynamic_option_fails_closed(spark):
    """A partitioned target created outside the sink without the dynamic
    overwrite option (older code, a user's own DDL) would take static
    overwrites: the first write_batch raises before touching it. Once the
    option is set, a new sink overwrites only the batch's partitions."""
    t = _uniq("t_foreign")
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"
    )
    orders.write.partitionBy("o_orderpriority").saveAsTable(f"default.{t}")
    cfg = IcebergSinkConfig(
        db="default", table_name=t, partition_fields=("o_orderpriority",),
        operation="overwrite",
    )
    urgent = F.col("o_orderpriority") == "1-URGENT"

    def snapshot(where=F.lit(True)):
        rows = spark.table(f"default.{t}").filter(where).collect()
        return sorted(tuple(r) for r in rows)

    before = snapshot()
    batch = orders.filter(urgent).limit(5)
    sink = CatalogSink(spark, cfg)
    try:
        with pytest.raises(ValueError, match="dynamic partition overwrite"):
            sink.write_batch(batch, 1)
        assert snapshot() == before
        assert not sink._committed(1)

        spark.sql(
            f"ALTER TABLE default.{t} SET SERDEPROPERTIES "
            "('partitionOverwriteMode'='dynamic')"
        )
        assert CatalogSink(spark, cfg).write_batch(batch, 1) == "overwrite"
        assert snapshot(~urgent) == [r for r in before if r[-1] != "1-URGENT"]
        assert len(snapshot(urgent)) == 5
    finally:
        for name in (f"default.{t}", sink.commits):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_dropped_partitions_stay_gone_after_reattach(spark):
    """The fallback tables are external, so Spark's DROP PARTITION keeps
    their files, and a restarted driver's reattach recovers every
    partition directory it finds. A partition emptied by purge_keys and a
    snapshot removed by expire_snapshots must not come back that way."""
    cfg = replace(_cfg(_uniq("t_reattach")).sink, snapshots=True)
    sink = CatalogSink(spark, cfg, version_column="o_orderdate")
    orders = load_table(spark, SF, "orders")
    pcol = F.col("o_orderpriority")

    def state(s):
        live = {
            tuple(r) for r in s.read().select("o_orderkey", "o_orderpriority").collect()
        }
        hist = {
            tuple(r)
            for r in spark.table(s.history)
            .select("__epoch", "o_orderpriority").distinct().collect()
        }
        return live, hist

    try:
        sink.write_batch(orders, 1)
        sink.write_batch(orders.filter(pcol == "1-URGENT").limit(10), 2)
        sink.expire_snapshots(keep_last=1)  # expires 1-URGENT's epoch 1
        sink.purge_keys(
            orders.filter(pcol == "5-LOW").select("o_orderkey", "o_orderpriority")
        )
        live, hist = state(sink)
        assert (1, "1-URGENT") not in hist and (1, "5-LOW") not in hist
        assert all(p != "5-LOW" for _, p in live)

        for t in (sink.table, sink.commits, sink.history):
            spark.sql(f"DROP TABLE {t}")  # external: the files stay
        again = CatalogSink(spark, cfg, version_column="o_orderdate")
        again.ensure_table(orders)
        assert state(again) == (live, hist)
    finally:
        for t in (sink.table, sink.commits, sink.history):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_diff_versions_classifies_changes(spark, tmp_path):
    """Changelog between two committed versions: inserted / deleted /
    updated / unchanged classification with NULL-safe value comparison,
    and counts conserve the union of both states."""
    table = _uniq("diff")
    cfg = replace(_cfg(table).sink, snapshots=True)
    sink = CatalogSink(spark, cfg, version_column="O_ORDERDATE")
    schema = (
        "o_orderkey long, o_orderpriority string, o_orderdate string, v string"
    )
    e1 = spark.createDataFrame(
        [(1, "A", "2024-01-01", "x"), (2, "A", "2024-01-01", "y"),
         (3, "B", "2024-01-01", None)],
        schema,
    ).withColumnRenamed("o_orderdate", "O_ORDERDATE")
    # epoch2: key 1 updated, key 2 unchanged, key 3 null->value update,
    # key 4 inserted; deletions need tombstones so none here
    e2 = spark.createDataFrame(
        [(1, "A", "2024-01-01", "x2"), (2, "A", "2024-01-01", "y"),
         (3, "B", "2024-01-01", "z"), (4, "B", "2024-01-01", "w")],
        schema,
    ).withColumnRenamed("o_orderdate", "O_ORDERDATE")
    try:
        sink.write_batch(e1, 1)
        sink.write_batch(e2, 2)
        got = {
            (r.o_orderkey, r.o_orderpriority): r.change_type
            for r in sink.diff_versions(1, 2).collect()
        }
        assert got == {
            (1, "A"): "updated",
            (2, "A"): "unchanged",
            (3, "B"): "updated",
            (4, "B"): "inserted",
        }
        # the reverse diff sees the same history from the other side:
        # the epoch-2 insert becomes a deletion
        rev = {
            (r.o_orderkey, r.o_orderpriority): r.change_type
            for r in sink.diff_versions(2, 1).collect()
        }
        assert rev[(4, "B")] == "deleted"
        assert rev[(2, "A")] == "unchanged"
    finally:
        for t in (sink.table, sink.commits, sink.history):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
