"""The reference job, Spark-native: incremental shard-parallel ingestion.

Reference dataflow (``StreamingJob.java:95-126``): poll distinct shard
values over JDBC → keyBy(shard) → per-key state {offset, timer} → paginated
``SELECT ... LIMIT size OFFSET offset`` per shard → cast → Iceberg sink.

Spark-native re-expression (SURVEY.md §3.4): a micro-batch cycle engine.
Each ``run_cycle``:

1. **discover** — distinct shard values of the source (O1), collected
   once to the driver; newcomers are bootstrapped at offset 0 (O4; the
   reference re-emits everything and no-ops repeats, we diff the
   collected set against the known offsets);
2. **fetch** — ONE plan computes every shard's next page: rank rows per
   shard with ``row_number`` over (sort, tiebreak) (deterministic fix of
   the reference's bare LIMIT/OFFSET, SURVEY.md §2.2), broadcast-join the
   per-shard offsets (a driver-built local relation), keep
   ``offset < rn ≤ offset+size``. All shards fetch in parallel — the
   reference's keyBy fan-out became a partition-parallel window, no
   per-key loops, no driver iteration over shards. The page is
   materialized ONCE (``localCheckpoint``): one ``groupBy(shard).count``
   over it gives the row total and each shard's advance, so the rows
   committed and the offsets advanced come from the same read of the
   source (the reference's ``offset += rows_returned``);
3. **cast** — the O9 whitelist projection and the dead-letter write, both
   over the materialized page;
4. **commit** — stage the advanced offsets under the cycle's epoch, then
   the mode-dispatched sink write (O12) with an epoch ledger. The ledger
   record publishes data and offsets together: state only moves forward
   once data is durable, and data never commits without its offsets.
   The cycle then releases its page checkpoint.

Offsets are driver metadata, one row per shard — the checkpointable
analogue of the reference's ``ValueState<Integer>``
(``SnowflakeProcessFunction.java:21-23``): a parquet file written and
read with pyarrow on the driver (no Spark job), one directory per epoch,
``offsets.<epoch>``; the live table is the newest one whose epoch the
sink's ledger has committed (the offset-log → execute → commit-log
discipline of Structured Streaming). The per-key processing-time
timers (O5) collapse into the cycle cadence: every cycle touches every
shard, which is what the reference converges to when all timers share one
interval.

The Structured Streaming wrapper (``stream_ingest``) runs the same commit
path from ``foreachBatch`` over a file stream, with the checkpoint dir
playing Flink's checkpoint role.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..sinks.catalog import CatalogSink, release_checkpoint


@dataclass
class CycleStats:
    cycle: int
    shards_seen: int
    new_shards: int
    rows_ingested: int
    action: str


def _offsets_table(offsets: dict[str, int]) -> pa.Table:
    return pa.table(
        {
            "shard_value": pa.array(list(offsets), pa.string()),
            "offset": pa.array(list(offsets.values()), pa.int64()),
        }
    )


class SnowflakeLikeIngestor:
    """Micro-batch incremental ingestion over a parquet staging source
    standing in for Snowflake (the JDBC path plugs in via
    ``sources.jdbc.read_shards_parallel`` with identical semantics)."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        source_path: str,
        state_dir: str,
        tiebreaker: str,
        mode: str = "unseen",
        source_reader=None,
        target_schema=None,
        dead_letter_path: str | None = None,
    ):
        """``mode`` picks the incremental-fetch strategy:

        * ``"unseen"`` (default) — mutation-safe: each cycle anti-joins the
          source against the target's equality keys and pages the remaining
          rows per shard. Correct even when late rows interleave in sort
          order (the §2.2 hazard the reference's offsets cannot survive);
          state recovery is free because the target table *is* the state.
          At 100 TB the anti-join is a key-only shuffle join — with a real
          Iceberg target you'd push a bloom filter of target keys instead.
        * ``"offset"`` — reference-faithful per-shard row offsets
          (SnowflakeProcessFunction.java:87-119) made deterministic with a
          tiebreaker; requires sort-stable append-only sources, skips
          nothing under that assumption and never touches target keys.

        ``source_reader`` (optional ``() -> DataFrame``) replaces the
        parquet staging read — e.g. ``lambda: jdbc.read_sharded_source(
        spark, cfg.source)`` for the real JDBC path; everything downstream
        is source-agnostic.

        ``target_schema`` (optional StructType) pins the sink contract and
        turns on schema-drift tolerance: the staging read merges file
        schemas, columns the source *adds* are dropped by the O9 cast
        projection, and the target table's schema never moves. The
        reference requires a teardown/rebuild on any schema change
        (README.md:66-67); here drift is absorbed declaratively. With
        ``dead_letter_path`` set, source values that fail their declared
        cast are additionally recorded as (row_key, field, raw) parquet
        rows (schema.cast_deadletter) instead of silently nulling — the
        job survives, nothing is lost. The row key is the first of
        ``sink.upsert_fields``, so that pair needs the key set.
        """
        if mode not in ("unseen", "offset"):
            raise ValueError(f"unknown ingest mode {mode!r}")
        if mode == "unseen" and not cfg.sink.upsert_fields:
            raise ValueError("'unseen' mode needs sink.upsert_fields as the key set")
        if (
            dead_letter_path is not None
            and target_schema is not None
            and not cfg.sink.upsert_fields
        ):
            raise ValueError(
                "dead letters are keyed by the first of sink.upsert_fields;"
                " set upsert_fields or drop dead_letter_path"
            )
        self.spark = spark
        self.cfg = cfg
        self.mode = mode
        self.source_path = source_path
        self.source_reader = source_reader
        self.target_schema = target_schema
        self.dead_letter_path = dead_letter_path
        self.offsets_path = os.path.join(state_dir, "offsets")
        self.tiebreaker = tiebreaker
        self.sink = CatalogSink(
            spark,
            cfg.sink,
            version_column=cfg.source.sort_column,
            snapshots=cfg.sink.snapshots,
        )
        # resume the epoch counter past durable commits so a restarted
        # driver never reuses a ledgered epoch id
        self._cycle = self.sink.last_epoch()

    # -- state (the ValueState analogue) ------------------------------------

    def _offsets_dir(self, epoch: int) -> str:
        return f"{self.offsets_path}.{epoch}"

    def _offset_epochs(self) -> list[int]:
        parent, prefix = os.path.split(self.offsets_path + ".")
        if not os.path.isdir(parent):
            return []
        return sorted(
            int(n[len(prefix):])
            for n in os.listdir(parent)
            if n.startswith(prefix) and n[len(prefix):].isdigit()
        )

    def load_offsets(self) -> dict[str, int]:
        """``{shard_value: offset}`` from the offsets table of the newest
        epoch the sink has committed. A crash before that epoch's ledger
        record leaves the previous table live; a staged table whose epoch
        never committed is ignored until the cycle that next reaches its
        epoch overwrites it. One row per shard: driver metadata, read
        without a Spark job, like the sink's epoch ledger."""
        live = [e for e in self._offset_epochs() if self.sink._committed(e)]
        if not live:
            return {}
        t = pq.read_table(self._offsets_dir(live[-1]), columns=["shard_value", "offset"])
        return dict(zip(t.column("shard_value").to_pylist(), t.column("offset").to_pylist()))

    def _stage_offsets(self, epoch: int, offsets: dict[str, int]) -> None:
        """Write ``offsets.<epoch>`` from the driver: temp file + rename, so
        the table is either whole or absent. Whatever a crashed cycle left
        at this uncommitted epoch is replaced."""
        d = self._offsets_dir(epoch)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        tmp = os.path.join(d, ".offsets.parquet.tmp")  # dot-prefixed: never read
        pq.write_table(_offsets_table(offsets), tmp)
        os.rename(tmp, os.path.join(d, "offsets.parquet"))

    def _prune_offsets(self, live: int) -> None:
        for e in self._offset_epochs():
            if e < live:
                shutil.rmtree(self._offsets_dir(e), ignore_errors=True)

    # -- one micro-batch cycle ---------------------------------------------

    def _source(self) -> DataFrame:
        if self.source_reader is not None:
            return self.source_reader()
        if self.target_schema is not None:
            # drift tolerance needs the union of file schemas, not the
            # footer of whichever file the reader samples first
            return self.spark.read.option("mergeSchema", "true").parquet(
                self.source_path
            )
        return self.spark.read.parquet(self.source_path)

    def pending_unseen(self, src: DataFrame, shard_vals: list[str]) -> DataFrame:
        """Source rows whose equality keys are not yet in the target.

        The anti-join's target side is pruned to the partitions this batch
        can touch: ``shard_vals`` (the batch's distinct shard set) is tiny
        and already driver-materialized — the reference polls distinct
        shards the same way (``StreamingJob.java:95-101``) — so the literal
        ``isin`` lands in the target scan's ``PartitionFilters``. At 100 TB
        the target read is bounded by the batch's shards, never the table.
        Assumes a key's shard value is stable across cycles (the
        reference's routing assumption: shard IS the key-by column).
        """
        if not self.spark.catalog.tableExists(self.sink.table):
            return src
        keys = list(self.cfg.sink.upsert_fields)
        shard_c = self.cfg.source.shard_column
        tgt = self.sink.read().filter(
            F.col(shard_c).cast("string").isin(shard_vals)
        )
        return src.join(tgt.select(*keys), keys, "left_anti")

    def _cast(self, page: DataFrame, rows: int) -> DataFrame:
        """O9: cast projection against the declared contract — added source
        columns are dropped, declared columns are cast, failed casts are
        ledgered to the dead-letter path; without a declared schema the
        staging is already typed and the cast is the identity."""
        if self.target_schema is None:
            return page
        from ..schema import cast_deadletter, cast_projection

        if self.dead_letter_path is not None and rows:
            # one directory per epoch, overwritten: a replay of an epoch
            # that crashed before its commit rewrites the same dead letters
            # instead of appending them again
            key = list(self.cfg.sink.upsert_fields)[0]
            cast_deadletter(page, self.target_schema, key).write.mode(
                "overwrite"
            ).parquet(os.path.join(self.dead_letter_path, f"epoch={self._cycle}"))
        # with a dead-letter ledger the main path survives bad values
        # (try_cast ⇒ null, the failure already recorded); without one,
        # keep the reference's fail-fast ANSI cast
        return cast_projection(
            page, self.target_schema, lenient=self.dead_letter_path is not None
        )

    def run_cycle(self) -> CycleStats:
        cfg = self.cfg.source
        src = self._source()
        shard_c = cfg.shard_column
        shard = F.col(shard_c).cast("string")

        # O1+O4: discover shards, bootstrap newcomers at offset 0
        shard_vals = [r[0] for r in src.select(shard).distinct().collect()]
        if self.mode == "offset":
            known = self.load_offsets()
        elif self.spark.catalog.tableExists(self.sink.table):
            # unseen mode: the target table is the state — known shards are
            # the partition values already ingested
            known = {r[0]: 0 for r in self.sink.read().select(shard).distinct().collect()}
        else:
            known = {}
        n_new = len(set(shard_vals) - known.keys())

        # O6/O7: every shard's next page in one ranked plan
        w = Window.partitionBy(shard_c).orderBy(
            F.col(cfg.sort_column).asc(), F.col(self.tiebreaker).asc()
        )
        if self.mode == "offset":
            # a local relation: the broadcast side ships driver data and
            # scans nothing
            offsets = self.spark.createDataFrame(
                _offsets_table({s: known.get(s, 0) for s in shard_vals})
            )
            ranked = src.withColumn("__rn", F.row_number().over(w))
            page = (
                ranked.join(
                    F.broadcast(offsets),
                    ranked[shard_c].cast("string") == offsets["shard_value"],
                )
                .filter(
                    (F.col("__rn") > F.col("offset"))
                    & (F.col("__rn") <= F.col("offset") + cfg.query_size)
                )
                .drop("shard_value", "offset", "__rn")
            )
        else:  # "unseen": page over rows whose equality keys aren't ingested
            page = (
                self.pending_unseen(src, shard_vals)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= cfg.query_size)
                .drop("__rn")
            )
        # the cycle's one read of the source: the count, the offset
        # advance, the dead letters and the sink write all read these
        # blocks, so what commits is exactly what advanced the offsets.
        # Not cache(): the cache is keyed by plan, and a later cycle's
        # identical plan over a changed staging would hit this page.
        page = page.localCheckpoint(eager=True)
        try:
            ingested = {r[0]: r[1] for r in page.groupBy(shard).count().collect()}
            rows = sum(ingested.values())
            self._cycle += 1
            batch = self._cast(page, rows)
            advance = rows > 0 and self.mode == "offset"
            # O7: stage the advanced offsets under this epoch; the commit
            # below makes them live (load_offsets)
            if advance:
                self._stage_offsets(
                    self._cycle,
                    {s: known.get(s, 0) + ingested.get(s, 0) for s in shard_vals},
                )

            # O12: commit batch
            action = self.sink.write_batch(batch, epoch=self._cycle) if rows else "empty"
        finally:
            release_checkpoint(page)
        if advance:
            self._prune_offsets(live=self._cycle)
        return CycleStats(self._cycle, len(shard_vals), n_new, rows, action)

    def run_until_drained(self, max_cycles: int = 100) -> list[CycleStats]:
        """Drain the source: cycles until a pass ingests nothing (the batch
        analogue of ``Trigger.AvailableNow``)."""
        out = []
        for _ in range(max_cycles):
            st = self.run_cycle()
            out.append(st)
            if st.rows_ingested == 0:
                break
        return out


def stream_ingest(
    spark: SparkSession,
    cfg: PipelineConfig,
    source_path: str,
    checkpoint_dir: str,
    schema,
    available_now: bool = True,
    path_glob_filter: str | None = None,
):
    """Structured Streaming wrapper: file-stream source → ``foreachBatch``
    commit through the same CatalogSink (SURVEY.md §3.4). The checkpoint
    dir carries source progress; the sink's epoch ledger absorbs batch
    replays after failure — together: effectively-once.

    ``path_glob_filter`` lets the stream consume one table's files inside
    a shared directory (the file-stream source requires a directory base
    path) — streaming straight off a landing zone without a staging copy.
    """
    sink = CatalogSink(
        spark,
        cfg.sink,
        version_column=cfg.source.sort_column,
        snapshots=cfg.sink.snapshots,
    )

    reader = spark.readStream.schema(schema)
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    stream = reader.parquet(source_path)

    def commit(batch: DataFrame, epoch: int) -> None:
        if not batch.isEmpty():
            sink.write_batch(batch, epoch)

    writer = (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.source.query_interval_ms} milliseconds")
    return writer.start()
