"""The reference job, Spark-native: incremental shard-parallel ingestion.

Reference dataflow (``StreamingJob.java:95-126``): poll distinct shard
values over JDBC → keyBy(shard) → per-key state {offset, timer} → paginated
``SELECT ... LIMIT size OFFSET offset`` per shard → cast → Iceberg sink.

Spark-native re-expression (SURVEY.md §3.4): a micro-batch cycle engine.
Each ``run_cycle``:

1. **fetch** — ONE plan computes every shard's next page: rank rows per
   shard with ``row_number`` over (sort, tiebreak) (deterministic fix of
   the reference's bare LIMIT/OFFSET, SURVEY.md §2.2) and keep
   ``offset < rn ≤ offset+size``. The known offsets ride in the plan as a
   literal map, ``coalesce(map(...)[shard], 0)``: a shard the map lacks
   is new and starts at offset 0 (O1+O4), so discovery is no pass of its
   own. In offset mode the same window's ``lead`` marks whether a row
   follows each row in its shard — the *peek* at the next page, without
   fetching it; unseen mode keeps a ``row_number``-only window under a
   literal bound, which Catalyst truncates per shard before the shuffle.
   All shards fetch in parallel — the reference's keyBy fan-out became a
   partition-parallel window, no per-key loops, no driver iteration over
   shards;
2. **materialize and count** — the page is materialized ONCE
   (``localCheckpoint``), and that job also observes the page's row
   count and shards — in offset mode, from each shard's last page row,
   the shard's advance and whether it holds more — plus the page's
   failed-cast count (``Dataset.observe``: no count job). The rows
   committed and the offsets advanced come from the same evaluation (the
   reference's ``offset += rows_returned``);
3. **cast** — the O9 whitelist projection over the materialized page; the
   dead letters are written only when the count saw a failed cast;
4. **commit** — the mode-dispatched sink write (O12), then the epoch's
   ledger record, which carries the advanced offsets. One atomic rename
   publishes data and offsets together: state only moves forward once
   data is durable, and data never commits without its offsets. The
   cycle then releases its page checkpoint.

A poll that finds nothing runs nothing. The staging's file signature
(path, length and modification time of every file, one driver-side
listing) keys both the source schema, inferred once and reused while the
signature holds, and, in offset mode, the *caught-up* state: after a cycle
in which no shard had a row past its page, every row of that listing is
committed, so the next cycle over the same signature returns at once
without a Spark job or a py4j call — the Structured Streaming rule that a
trigger with no new input plans nothing. A newly landed or rewritten file
changes the signature and the next cycle reads again. A ``source_reader``
has no listing and never skips.

Offsets are driver metadata, one map entry per shard — the checkpointable
analogue of the reference's ``ValueState<Integer>``
(``SnowflakeProcessFunction.java:21-23``): they ride in the sink's
epoch-ledger record (``CatalogSink.progress`` → ``committed_offsets``), a
file written and read with pyarrow on the driver (no Spark job). The live
offsets are those of the newest committed record, as a Structured
Streaming sink records the batch id with the data it commits. The per-key
processing-time timers (O5) collapse into the cycle cadence: every cycle
touches every shard, which is what the reference converges to when all
timers share one interval.

The Structured Streaming wrapper (``stream_ingest``) runs the same commit
path from ``foreachBatch`` over a file stream, with the checkpoint dir
playing Flink's checkpoint role.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..sinks.catalog import CatalogSink, file_signature, release_checkpoint


@dataclass
class CycleStats:
    cycle: int
    shards_seen: int
    new_shards: int
    rows_ingested: int
    action: str


def _offset_of(shard: Column, offsets: dict[str, int]) -> Column:
    """A shard's known offset as a literal-map lookup, 0 for a shard the
    map lacks (a new one). A null shard gets no offset, so its rows never
    pass the page filter, as they never matched the offsets before."""
    known = [x for s, o in offsets.items() if s is not None for x in (F.lit(s), F.lit(o))]
    off = F.coalesce(F.create_map(*known)[shard], F.lit(0)) if known else F.lit(0)
    return F.when(shard.isNotNull(), off.cast("long"))


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

        ``state_dir`` is unused: the offsets live in the sink's ledger.
        It stays because the benchmark's workloads pass it positionally,
        and can go when they stop.
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
        self.tiebreaker = tiebreaker
        self.sink = CatalogSink(spark, cfg.sink, version_column=cfg.source.sort_column)
        # resume the epoch counter past durable commits so a restarted
        # driver never reuses a ledgered epoch id
        self._cycle = self.sink.last_epoch()
        # (staging file signature, schema inferred from those files)
        self._schema: tuple | None = None
        # (staging file signature, shards seen) once an offset-mode cycle
        # committed every row of those files
        self._idle: tuple | None = None

    # -- state (the ValueState analogue) ------------------------------------

    def load_offsets(self) -> dict[str, int]:
        """``{shard_value: offset}`` as of the newest epoch the sink has
        committed, from that epoch's ledger record. A crash before the
        record leaves the previous epoch's offsets live."""
        return self.sink.committed_offsets()

    # -- one micro-batch cycle ---------------------------------------------

    def _listing(self) -> tuple | None:
        if self.source_reader is not None:
            return None
        return file_signature(self.source_path)

    def _source(self, listing: tuple | None = None) -> DataFrame:
        """The staging read. ``listing`` is the staging's file signature:
        the schema inferred from those files is reused while it holds."""
        if self.source_reader is not None:
            return self.source_reader()
        reader = self.spark.read
        if self._schema is not None and self._schema[0] == listing:
            # the same files the schema came from: no inference job
            return reader.schema(self._schema[1]).parquet(self.source_path)
        if self.target_schema is not None:
            # drift tolerance needs the union of file schemas, not the
            # footer of whichever file the reader samples first
            reader = reader.option("mergeSchema", "true")
        src = reader.parquet(self.source_path)
        if listing is not None:
            self._schema = (listing, src.schema)
        return src

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

    def _cast(self, batch: DataFrame, failed: int) -> DataFrame:
        """O9: cast projection against the declared contract — added source
        columns are dropped, declared columns are cast, failed casts are
        ledgered to the dead-letter path; without a declared schema the
        staging is already typed and the cast is the identity. ``failed``
        is the batch's failed-cast count, observed by its checkpoint."""
        if self.target_schema is None:
            return batch
        from ..schema import cast_deadletter, cast_projection

        if self.dead_letter_path is not None:
            # one directory per epoch, overwritten: a replay of an epoch
            # that crashed before its commit rewrites the same dead letters
            # instead of appending them again
            out = os.path.join(self.dead_letter_path, f"epoch={self._cycle}")
            if failed:
                key = list(self.cfg.sink.upsert_fields)[0]
                cast_deadletter(batch, self.target_schema, key).write.mode(
                    "overwrite"
                ).parquet(out)
            else:
                # nothing to record; drop what a crashed attempt left
                shutil.rmtree(out.removeprefix("file:"), ignore_errors=True)
        # with a dead-letter ledger the main path survives bad values
        # (try_cast ⇒ null, the failure already recorded); without one,
        # keep the reference's fail-fast ANSI cast
        return cast_projection(
            batch, self.target_schema, lenient=self.dead_letter_path is not None
        )

    def _page(self, src: DataFrame, offset: Column | None) -> tuple[DataFrame, Column]:
        """Every shard's next page of ``src`` in one ranked plan (O6/O7), and
        the aggregate of per-shard rows its checkpoint observes: ``shard``,
        and in offset mode the shard's advance ``n`` and whether a row
        follows the page, ``more``. ``offset`` is each shard's known
        offset, or None in unseen mode, where every pending row is
        unfetched and the page is each shard's first ``size`` rows."""
        cfg = self.cfg.source
        shard = F.col(cfg.shard_column).cast("string")
        size = cfg.query_size
        w = Window.partitionBy(cfg.shard_column).orderBy(
            F.col(cfg.sort_column).asc(), F.col(self.tiebreaker).asc()
        )
        ranked = src.withColumn("__rn", F.row_number().over(w))
        rn = F.col("__rn")
        if offset is None:
            # a literal rank bound over a row_number-only window: Catalyst
            # truncates each shard to `size` rows before the shuffle
            # (WindowGroupLimit), so no lead() here
            page = ranked.filter(rn <= size)
            return page, F.collect_set(F.struct(shard.alias("shard")))
        # the same window's lead() peeks whether a row follows each row
        ranked = ranked.withColumn(
            "__more", F.lead(F.lit(1)).over(w).isNotNull()
        ).withColumn("__off", offset)
        off, more = F.col("__off"), F.col("__more")
        page = ranked.filter((rn > off) & (rn <= off + size))
        # each shard's last page row carries the shard's advance and more
        last = (rn == off + size) | ~more
        shards = F.struct(shard.alias("shard"), (rn - off).alias("n"), more.alias("more"))
        return page, F.collect_list(F.when(last, shards))

    def run_cycle(self) -> CycleStats:
        listing = self._listing()
        if self._idle is not None and self._idle[0] == listing:
            # caught up, and nothing landed since: plan and run nothing
            self._cycle += 1
            return CycleStats(self._cycle, self._idle[1], 0, 0, "caught-up")
        self._idle = None
        src = self._source(listing)
        shard = F.col(self.cfg.source.shard_column).cast("string")

        if self.mode == "offset":
            # O1+O4 inside the page: a shard missing from the map is new
            # and starts at 0, so no discovery pass reads the source
            known = self.load_offsets()
            page, shards = self._page(src, _offset_of(shard, known))
        else:  # "unseen": page over rows whose equality keys aren't ingested
            # the distinct shard set prunes the target side of the anti-join
            shard_vals = [r[0] for r in src.select(shard).distinct().collect()]
            if self.spark.catalog.tableExists(self.sink.table):
                # the target table is the state — known shards are the
                # partition values already ingested
                known = {
                    r[0]: 0 for r in self.sink.read().select(shard).distinct().collect()
                }
            else:
                known = {}
            page, shards = self._page(self.pending_unseen(src, shard_vals), None)
        # The checkpoint's own job observes the page's shards and row count
        # (no count job), so the rows committed and the offsets advanced
        # come from one evaluation.
        observed = [shards.alias("shards"), F.count(F.lit(1)).alias("rows")]
        dead_letters = self.target_schema is not None and self.dead_letter_path is not None
        if dead_letters:
            from ..schema import cast_failures

            key = list(self.cfg.sink.upsert_fields)[0]
            observed.append(F.sum(cast_failures(self.target_schema, key)).alias("failed"))
        obs = Observation()
        # the cycle's one read of the source: the offset advance, the dead
        # letters and the sink write all read these blocks, so what commits
        # is exactly what advanced the offsets. Not cache(): the cache is
        # keyed by plan, and a later cycle's identical plan over a changed
        # staging would hit this page.
        page = (
            page.observe(obs, *observed)
            .drop("__rn", "__off", "__more")
            .localCheckpoint(eager=True)
        )
        try:
            metrics = obs.get
            rows = metrics["rows"]
            page_shards = {r.shard for r in metrics["shards"]}
            self._cycle += 1
            batch = self._cast(page, metrics.get("failed") or 0)
            if rows and self.mode == "offset":
                # O7: the advanced offsets ride in this epoch's ledger
                # record, which the commit below publishes (load_offsets)
                moved = {r.shard: known.get(r.shard, 0) + r.n for r in metrics["shards"]}
                self.sink.progress = {**known, **moved}

            # O12: commit batch
            action = self.sink.write_batch(batch, epoch=self._cycle) if rows else "empty"
        finally:
            release_checkpoint(page)
        seen = len(known.keys() | page_shards)
        if (
            self.mode == "offset"
            and listing is not None
            and not any(r.more for r in metrics["shards"])
        ):
            # every row this listing holds is committed. Not in unseen
            # mode: its state is the target table, which other writes
            # (a purge) can change while the staging holds still.
            self._idle = (listing, seen)
        return CycleStats(self._cycle, seen, len(page_shards - known.keys()), rows, action)

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
    sink = CatalogSink(spark, cfg.sink, version_column=cfg.source.sort_column)

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
