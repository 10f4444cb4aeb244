"""CSV / JSON-lines source wrappers: declared-schema reads, FAILFAST
default, PERMISSIVE quarantine routing, whitelist validation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
    files,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
    load_table,
)

SF = "/root/testdata/sf0.001"

SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def orders3(spark):
    return load_table(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )


def test_csv_roundtrip(spark, orders3, tmp_path):
    path = str(tmp_path / "csv")
    orders3.write.option("header", "true").csv(path)
    back = files.read_csv(spark, path, SCHEMA)
    assert back.schema == SCHEMA
    assert back.exceptAll(orders3).count() == 0
    assert orders3.exceptAll(back).count() == 0


def test_jsonl_roundtrip(spark, orders3, tmp_path):
    path = str(tmp_path / "jsonl")
    orders3.write.json(path)
    back = files.read_jsonl(spark, path, SCHEMA)
    assert back.select(*SCHEMA.fieldNames()).exceptAll(orders3).count() == 0


def test_jsonl_array_column_roundtrip(spark, tmp_path):
    """Extension types: array<float> (embedding-shaped) survives."""
    emb = load_table(spark, SF, "embeddings").limit(50)
    path = str(tmp_path / "emb")
    emb.write.json(path)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    back = files.read_jsonl(spark, path, schema)
    assert back.count() == 50
    assert back.filter(F.size("embedding") <= 0).count() == 0


def test_csv_failfast_aborts_on_malformed(spark, tmp_path):
    p = tmp_path / "bad"
    p.mkdir()
    (p / "part.csv").write_text(
        "o_orderkey,o_totalprice,o_orderpriority\n"
        "1,10.5,1-URGENT\n"
        "not_a_number,xx,broken\n"
    )
    df = files.read_csv(spark, str(p), SCHEMA)
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        df.collect()


def test_csv_permissive_quarantines(spark, tmp_path):
    p = tmp_path / "bad2"
    p.mkdir()
    (p / "part.csv").write_text(
        "o_orderkey,o_totalprice,o_orderpriority\n"
        "1,10.5,1-URGENT\n"
        "oops,xx,broken\n"
    )
    df = files.read_csv(
        spark, str(p), SCHEMA, mode="PERMISSIVE", corrupt_col="_bad"
    )
    rows = df.collect()
    assert len(rows) == 2
    bad = [r for r in rows if r["_bad"] is not None]
    assert len(bad) == 1 and "oops" in bad[0]["_bad"]


DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


def _derby_cfg(tmp_path, table="ORDERS_JDBC"):
    """Source config pointed at Spark's bundled embedded Derby — the same
    reader path the Snowflake URL takes (ColumnSource.java:38-54), driver
    and endpoint swapped in via the config overrides."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.config import (
        SnowflakeSourceConfig,
    )

    return SnowflakeSourceConfig(
        table=table,
        shard_column="O_ORDERPRIORITY",
        sort_column="O_ORDERDATE",
        query_size=500,
        jdbc_url_override=f"jdbc:derby:{tmp_path}/derby_db;create=true",
        jdbc_driver=DERBY_DRIVER,
    )


@pytest.fixture()
def derby_orders(spark, tmp_path):
    """A slice of `orders` staged into an embedded Derby table. Identifiers
    are uppercased: Derby resolves unquoted SQL identifiers to upper case,
    exactly like Snowflake does for the reference's unquoted queries."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    cfg = _derby_cfg(tmp_path)
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").limit(800)
    up = orders.select(
        *[F.col(c).alias(c.upper()) for c in orders.columns]
    ).withColumn("O_ORDERDATE", F.col("O_ORDERDATE").cast("string"))
    varchars = ", ".join(
        f"{f.name} VARCHAR(128)" for f in up.schema.fields
        if f.dataType.simpleString() == "string"
    )
    (
        up.write.format("jdbc")
        .option("url", cfg.jdbc_url())
        .option("dbtable", cfg.table)
        .option("driver", cfg.jdbc_driver)
        .option("createTableColumnTypes", varchars)
        .mode("overwrite")
        .save()
    )
    return cfg, up


def test_jdbc_distinct_shards_executes(spark, derby_orders):
    """O1 end-to-end over a real JDBC connection: the polling DISTINCT
    query (ColumnSource.java:42) returns the exact shard set."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
        jdbc,
    )

    cfg, up = derby_orders
    got = sorted(r[0] for r in jdbc.read_distinct_shards(spark, cfg).collect())
    want = sorted(
        r[0] for r in up.select("O_ORDERPRIORITY").distinct().collect()
    )
    assert got == want


def test_jdbc_shard_parallel_read_executes(spark, derby_orders):
    """O3+O6 end-to-end: predicate-per-shard read fans out one input
    partition per shard value (SnowflakeProcessFunction.java:92-99's
    per-shard queries, concurrent) and loses no rows."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
        jdbc,
    )

    cfg, up = derby_orders
    shards = sorted(
        r[0] for r in up.select("O_ORDERPRIORITY").distinct().collect()
    )
    df = jdbc.read_shards_parallel(spark, cfg, shards)
    assert df.rdd.getNumPartitions() == len(shards)
    assert df.count() == up.count()
    composed = jdbc.read_sharded_source(spark, cfg)
    assert composed.count() == up.count()


def test_jdbc_ingest_end_to_end(spark, derby_orders, tmp_path):
    """The full ingestion loop with source="jdbc": poll distinct shards,
    fan out per shard, page, upsert — drains the Derby table exactly once
    into the catalog sink."""
    import uuid

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.config import (
        IcebergSinkConfig,
        PipelineConfig,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
        jdbc,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.ingest import (
        SnowflakeLikeIngestor,
    )

    src_cfg, up = derby_orders
    cfg = PipelineConfig(
        source=src_cfg,
        sink=IcebergSinkConfig(
            db="default",
            table_name=f"t_jdbc_{uuid.uuid4().hex[:8]}",
            partition_fields=("O_ORDERPRIORITY",),
            upsert_fields=("O_ORDERKEY", "O_ORDERPRIORITY"),
            operation="upsert",
        ),
    )
    ing = SnowflakeLikeIngestor(
        spark,
        cfg,
        source_path="",
        state_dir=str(tmp_path / "state"),
        tiebreaker="O_ORDERKEY",
        mode="unseen",
        source_reader=lambda: jdbc.read_sharded_source(spark, src_cfg),
    )
    stats = ing.run_until_drained()
    assert stats[-1].rows_ingested == 0
    got = ing.sink.read()
    assert got.count() == up.count()
    assert got.select("O_ORDERKEY").distinct().count() == up.count()
    assert got.select(*up.columns).exceptAll(up).count() == 0


def test_avdl_record_to_struct_reference_parity(spark):
    """The reference's Avro IDL record (SnowFlakeTable.avdl:3-8) converts to
    the same 4-string StructType its Avro→Iceberg→RowType chain produces,
    and the result feeds cast_projection unchanged."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.schema import (
        avdl_record_to_struct,
        cast_projection,
    )

    avdl = """
    @namespace("example.avro")
    protocol SnowTableProtocol {
        record SnowFlakeTable {
            string PRICE;
            string CATEGORY;
            string NAME;
            string UPDATED_AT;
        }
    }
    """
    st = avdl_record_to_struct(avdl, "SnowFlakeTable")
    assert [f.name for f in st.fields] == ["PRICE", "CATEGORY", "NAME", "UPDATED_AT"]
    assert all(f.dataType == T.StringType() for f in st.fields)
    df = spark.createDataFrame(
        [(1.5, "a", "x", "2024-01-01")],
        "PRICE double, CATEGORY string, NAME string, UPDATED_AT string",
    )
    out = cast_projection(df, st)
    # cast() outputs are nullable; names and types must match the contract
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in st.fields
    ]
    assert out.head().PRICE == "1.5"


def test_avro_schema_to_struct_types(spark):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.config import (
        UnsupportedOperationError,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.schema import (
        avro_schema_to_struct,
    )

    st = avro_schema_to_struct(
        {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "s", "type": "string"},
                {"name": "i", "type": ["null", "int"]},
                {"name": "n", "type": "long"},
                {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
                {"name": "lts", "type": {"type": "long", "logicalType": "local-timestamp-millis"}},
            ],
        }
    )
    assert st["s"].dataType == T.StringType() and not st["s"].nullable
    assert st["i"].dataType == T.IntegerType() and st["i"].nullable
    assert st["ts"].dataType == T.TimestampType()
    assert st["lts"].dataType == T.TimestampNTZType()
    with pytest.raises(UnsupportedOperationError, match="whitelist"):
        avro_schema_to_struct(
            {"type": "record", "name": "B", "fields": [{"name": "b", "type": "bytes"}]}
        )
    with pytest.raises(UnsupportedOperationError, match="union"):
        avro_schema_to_struct(
            {"type": "record", "name": "U",
             "fields": [{"name": "u", "type": ["int", "string"]}]}
        )


def test_schema_validation(spark):
    with pytest.raises(TypeError):
        files.read_csv(spark, "/tmp/x", None)
    nested = T.StructType(
        [T.StructField("m", T.MapType(T.StringType(), T.StringType()))]
    )
    with pytest.raises(ValueError, match="whitelist"):
        files.read_csv(spark, "/tmp/x", nested)
    with pytest.raises(ValueError, match="mode"):
        files.read_csv(spark, "/tmp/x", SCHEMA, mode="YOLO")
    with pytest.raises(ValueError, match="PERMISSIVE"):
        files.read_csv(spark, "/tmp/x", SCHEMA, corrupt_col="_bad")


def test_python_datasource_one_partition_per_shard(spark):
    """The connector's plan must mirror the reference's keyBy: exactly one
    input partition per distinct shard value, each containing only its
    shard's rows."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
        pysource,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    n_shards = orders.select("o_orderpriority").distinct().count()
    pysource.register(spark)
    df = (
        spark.read.format("sharded_parquet")
        .option("path", "/root/testdata/sf0.001/orders.parquet")
        .option("shard_column", "o_orderpriority")
        .option("sort_column", "o_orderdate")
        .load()
    )
    assert df.rdd.getNumPartitions() == n_shards
    per_part = df.rdd.mapPartitions(
        lambda rows: [len({r["o_orderpriority"] for r in rows})]
    ).collect()
    assert all(n == 1 for n in per_part)
    assert df.count() == orders.count()


def test_spill_safe_confs_scaling():
    """The knobs must track data size: 100 TB yields ~800k pre-AQE
    partitions, small inputs floor at 2x cores, and the scan split never
    exceeds the per-task working set."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.session import (
        spill_safe_confs,
    )

    big = spill_safe_confs(100 << 40, total_cores=4000)
    assert int(big["spark.sql.shuffle.partitions"]) == (100 << 40) // (128 << 20)
    small = spill_safe_confs(1 << 30, total_cores=32)
    assert int(small["spark.sql.shuffle.partitions"]) == 64  # 2x cores floor
    tight = spill_safe_confs(
        1 << 40, total_cores=64, executor_mem_bytes=1 << 30, mem_fraction=0.25
    )
    # working set 256 MB > target 128 MB -> split stays at target
    assert int(tight["spark.sql.files.maxPartitionBytes"]) == 128 << 20
    tighter = spill_safe_confs(
        1 << 40, total_cores=64, executor_mem_bytes=256 << 20, mem_fraction=0.25
    )
    # working set 64 MB < target -> split shrinks to avoid first-shuffle spill
    assert int(tighter["spark.sql.files.maxPartitionBytes"]) == 64 << 20
    import pytest as _pytest

    with _pytest.raises(ValueError):
        spill_safe_confs(0, 4)


def test_python_stream_source_offset_protocol(spark):
    """Pins the streaming connector's per-shard high-watermark contract
    (sources/pysource.ShardedParquetStreamReader): two consecutive poll
    cycles partition the shard's sorted rows into disjoint, exhaustive
    [start, end) slices — the exactly-once ledger the reference keeps in
    Flink state (O7), here driven through the reader API directly."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.pysource import (
        ShardedParquetStreamReader,
        _spark_ddl_of_parquet,
    )
    from pyspark.sql.types import _parse_datatype_string

    path = "/root/testdata/sf0.001/orders.parquet"
    schema = _parse_datatype_string(_spark_ddl_of_parquet(path))
    r = ShardedParquetStreamReader(
        schema,
        {
            "path": path,
            "shard_column": "o_orderpriority",
            "sort_column": "o_orderdate",
        },
    )
    assert r.initialOffset() == {}
    latest = r.latestOffset()
    assert sum(latest.values()) == 1500 and len(latest) == 5

    # cycle 1 advances every shard halfway; cycle 2 drains the rest
    mid = {k: v // 2 for k, v in latest.items()}
    p1 = r.partitions(r.initialOffset(), mid)
    p2 = r.partitions(mid, latest)
    assert {p.value for p in p1} == set(latest) == {p.value for p in p2}

    def keys_of(parts):
        return {
            k
            for p in parts
            for b in r.read(p)
            for k in b.column("o_orderkey").to_pylist()
        }

    got1, got2 = keys_of(p1), keys_of(p2)
    assert len(got1) == sum(mid.values())
    assert not (got1 & got2)  # disjoint slices
    assert len(got1 | got2) == 1500  # exhaustive

    # a caught-up shard plans no partition (the empty-cycle no-op)
    assert [p.value for p in r.partitions(latest, latest)] == [None]


def test_python_stream_source_resumes_from_checkpoint(spark, tmp_path):
    """The reference's incremental poll end-to-end: drain v1 of the
    source, stop, append rows (v2), restart with the SAME checkpoint —
    the resumed query must emit exactly the new rows, never re-emitting
    v1 (offsets recovered from the engine's offset log, O7)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
        pysource,
    )

    pysource.register(spark)
    path = str(tmp_path / "src.parquet")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "out")

    def write(n):
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(
                    {
                        "k": list(range(n)),
                        "shard": ["a" if i % 2 == 0 else "b" for i in range(n)],
                    }
                )
            ),
            path,
        )

    def drain():
        s = (
            spark.readStream.format("sharded_parquet")
            .option("path", path)
            .option("shard_column", "shard")
            .option("sort_column", "k")
            .load()
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write(10)
    drain()
    assert sorted(r.k for r in spark.read.parquet(sink).collect()) == list(range(10))
    write(24)  # append rows 10..23 (same sorted prefix per shard)
    drain()
    got = sorted(r.k for r in spark.read.parquet(sink).collect())
    assert got == list(range(24))  # new rows exactly once, no v1 re-emit


def test_stream_state_partitions_sizing():
    """State-partition sizing: clamped to [2, 4*cores], grows with state
    volume at 64 MiB per instance."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.session import (
        stream_state_partitions,
    )

    assert stream_state_partitions(2 << 20, 32) == 2  # MBs -> the floor
    assert stream_state_partitions(0, 8) == 2
    # 10 GiB of state -> 160 instances at 64 MiB each
    assert stream_state_partitions(10 << 30, 1000) == 160
    # 100 TB/day regime: capped by cluster cycle capacity
    assert stream_state_partitions(100 << 40, 4000) == 16000
    import pytest

    with pytest.raises(ValueError):
        stream_state_partitions(1, 0)


def test_shard_poll_never_materializes_full_column(monkeypatch):
    """The O1 poll must stay O(dimension) in DRIVER memory (round-4
    verdict): both the batch reader's partitions() and the stream
    reader's latestOffset() stream the shard column through dataset
    batches — a monolithic pq.read_table of the column would OOM the
    driver at 100 TB staging scale.  Monkeypatching read_table to blow
    up proves the poll path never takes it."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import _parse_datatype_string

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.pysource import (
        ShardedParquetReader,
        ShardedParquetStreamReader,
        _spark_ddl_of_parquet,
    )

    path = "/root/testdata/sf0.001/orders.parquet"
    schema = _parse_datatype_string(_spark_ddl_of_parquet(path))
    opts = {
        "path": path,
        "shard_column": "o_orderpriority",
        "sort_column": "o_orderdate",
    }

    def boom(*a, **k):
        raise AssertionError("poll path materialized the column via pq.read_table")

    monkeypatch.setattr(pq, "read_table", boom)

    batch_parts = ShardedParquetReader(schema, opts).partitions()
    assert len(batch_parts) == 5
    assert sorted(p.value for p in batch_parts) == [
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    ]

    latest = ShardedParquetStreamReader(schema, opts).latestOffset()
    assert sum(latest.values()) == 1500 and len(latest) == 5


def test_jdbc_shard_value_with_quote_is_bound_safely(spark, tmp_path):
    """A shard value containing a single quote must neither break the
    per-shard predicate nor silently rewrite it — the parameter-binding
    guarantee the reference gets from setString
    (SnowflakeProcessFunction.java:97), here via ANSI quote-doubling."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources import (
        jdbc,
    )

    cfg = _derby_cfg(tmp_path, table="QUOTED_SHARDS")
    rows = [
        ("o'brien", 1),
        ("o'brien", 2),
        ("plain", 3),
        ("it''s", 4),  # literal two-quote value: must not collapse
    ]
    up = spark.createDataFrame(rows, "O_ORDERPRIORITY string, O_ORDERKEY int")
    (
        up.write.format("jdbc")
        .option("url", cfg.jdbc_url())
        .option("dbtable", cfg.table)
        .option("driver", cfg.jdbc_driver)
        .option("createTableColumnTypes", "O_ORDERPRIORITY VARCHAR(128)")
        .mode("overwrite")
        .save()
    )
    df = jdbc.read_shards_parallel(spark, cfg, ["o'brien", "it''s"])
    got = sorted((r["O_ORDERPRIORITY"], r["O_ORDERKEY"]) for r in df.collect())
    assert got == [("it''s", 4), ("o'brien", 1), ("o'brien", 2)]
    # the composed poll+fanout path sees every shard, quoted or not
    assert jdbc.read_sharded_source(spark, cfg).count() == 4


def test_null_shard_value_fails_loudly(spark, tmp_path):
    """A NULL in the shard column is a keyBy-contract violation: the poll
    raises a clear error instead of TypeError-ing in sorted() or emitting
    an ambiguous 'None' offset key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.pysource import (
        _shard_value_counts,
    )

    path = str(tmp_path / "null_shard.parquet")
    pq.write_table(
        pa.table({"shard": ["a", None, "b"], "v": [1, 2, 3]}), path
    )
    with pytest.raises(ValueError, match="NULL value in shard column"):
        _shard_value_counts(path, "shard")


def test_load_table_memoizes_per_session(spark):
    """Same (session, sf_dir, table) returns the same DataFrame object;
    different sf_dirs stay distinct; conf pinning still runs on hits."""
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.parquet import (
        load_table,
    )

    a = load_table(spark, "/root/testdata/sf0.001", "orders")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    b = load_table(spark, "/root/testdata/sf0.001", "orders")
    assert a is b
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"  # re-pinned
    c = load_table(spark, "/root/testdata/sf0.01", "orders")
    assert c is not a and c.count() != -1
