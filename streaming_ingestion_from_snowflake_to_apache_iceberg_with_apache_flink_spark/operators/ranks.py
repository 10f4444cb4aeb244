"""Parallel global ordering primitives: exact corpus-wide ``row_number``
and prefix aggregates without a single-partition window.

An unpartitioned ``Window.orderBy(...)`` funnels EVERY row through one
task — the canonical Spark scale-killer: correct on 60k rows, dead at
100 TB. But several operators genuinely need a total order (ntile file
carving, serpentine bin packing, arrival-order prefix maxima). The fix is
the classic two-phase distributed rank, the same shape a parallel
``orderBy`` already uses (range partitioning + local sort):

1. **range-partition** by the sort key, so partition *p* holds a
   contiguous slice of the total order, and PIN the assignment
   (``localCheckpoint`` — the offset job and the downstream job must
   observe identical partitions; the materialization is the parallel sort
   a layout writer performs anyway);
2. **rank locally**: ``row_number`` windowed by the PHYSICAL partition id
   — every range partition ranks its own slice in parallel;
3. **offset globally**: per-partition aggregates are metadata-sized (one
   value per partition); their running fold attaches back as the offset
   — as a constant-folded literal map while the partition count is small
   (no extra job), switching to a **broadcast hash join** on the
   partition id beyond ``LITERAL_OFFSETS_MAX`` (an unbounded
   ``create_map`` literal is O(P) per row and blows past codegen limits
   at thousands of partitions).

The resulting rank is bit-deterministic and independent of the sampled
range boundaries *provided the order is total* (callers pass a unique
tiebreak column), which is what lets a plain single-window oracle remain
the ground truth.
"""

from __future__ import annotations

from contextlib import contextmanager
from threading import RLock

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: partition-id / offset bookkeeping columns; dropped before returning
PID, OFF = "__pid", "__off"

#: serializes set→work→restore of the session-global shuffle-partition
#: conf: without it a concurrent query of this module on the same
#: SparkSession could plan its shuffles at the scoped (tiny) partition
#: count. It orders only the scopes taken here; a foreign thread that
#: shares the session still sees the scoped value mid-block. The sink
#: avoids the hazard outright by keeping its partition overwrite mode in
#: each table's OPTIONS (sinks/catalog.py); a shuffle-partition count has
#: no table to live on, so this scope keeps its lock
_SHUFFLE_SCOPE_LOCK = RLock()


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, target_parts: int):
    """Scope ``spark.sql.shuffle.partitions`` to ``target_parts`` for a
    block of jobs whose data is much smaller than the corpus (iterative
    graph loops, metadata-sized carves): at small data, session-level
    parallelism is pure task-scheduling overhead. Callers size
    ``target_parts`` from their OWN data (rows/edges), clamped to the
    session value — so at real scale the computed target exceeds the
    session setting and this is a no-op. Set→work→restore is serialized
    by a process-wide lock; see the lock comment."""
    with _SHUFFLE_SCOPE_LOCK:
        session_parts = spark.conf.get("spark.sql.shuffle.partitions")
        parts = max(2, min(int(session_parts), int(target_parts)))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", session_parts)


def pin_range_partitions(
    df: DataFrame, order_cols: list, num_parts: int | None = None
) -> DataFrame:
    """Range-partition by the sort key, stamp the physical partition id,
    and pin the assignment so every downstream job sees the same slices.

    ``num_parts`` overrides the session shuffle-partition count for the
    range exchange — callers whose input is a known sliver of the corpus
    (a layout carve over a checkpointed key table) size it from their own
    row count so tiny inputs don't pay session-level task scheduling.

    When ``num_parts`` is None the count defaults to the INPUT's physical
    partition count clamped to [2, session shuffle partitions]: a sort
    never usefully has more range slices than ~128 MB input splits, so a
    fixture-sized scan (1 split) pins at 2 slices instead of paying
    session-level scheduling for metadata-sized work, while at real scale
    the split count exceeds the session setting and the clamp reproduces
    the default exchange exactly. Plans rooted at a shuffle report the
    session setting as their partition count, so they too are unchanged.
    Correctness never depends on the count — the global rank is exact for
    ANY contiguous-range assignment (offsets are folded per partition)."""
    if num_parts is None:
        session = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        num_parts = max(2, min(session, df.rdd.getNumPartitions()))
    return (
        df.repartitionByRange(num_parts, *order_cols)
        .withColumn(PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


#: below this partition count the offsets attach as one constant-folded
#: literal map (O(P) per row, but P is bounded and the expression is a
#: single constant — no broadcast-exchange job); above it, a broadcast
#: hash join keeps per-row cost O(1) at thousands of range partitions
LITERAL_OFFSETS_MAX = 128


def exclusive_prefix(part: DataFrame, agg, fold, init) -> tuple[list, object]:
    """EXCLUSIVE running fold of a per-partition aggregate, in slice order.

    Collects ``agg`` per partition (metadata-sized: one row per range
    partition), folds ``fold(acc, value)`` over partitions sorted by id,
    and returns ``([(pid, offset), …], final accumulator)``. Partition
    *p*'s offset is the fold of all partitions *before* it; the final
    accumulator covers every partition. A ``None`` offset means "no prior
    value" (first partition under a max/min fold).
    """
    per_part = {
        int(r[PID]): r["v"] for r in part.groupBy(PID).agg(agg.alias("v")).collect()
    }
    rows, acc = [], init
    for p in sorted(per_part):
        rows.append((p, acc))
        acc = fold(acc, per_part[p])
    return rows, acc


def with_offsets(part: DataFrame, rows: list) -> DataFrame:
    """Attach each row's partition offset as the ``OFF`` column (NULL where
    the offset is None / the partition is unknown). Small partition counts
    inline the offsets as a literal map; large counts broadcast-join — see
    ``LITERAL_OFFSETS_MAX``. Either way the lookup is metadata-sized and
    never reshuffles ``part``."""
    nonnull = [(p, int(v)) for p, v in rows if v is not None]
    if len(rows) <= LITERAL_OFFSETS_MAX:
        if not nonnull:
            return part.withColumn(OFF, F.lit(None).cast("bigint"))
        m = F.create_map(*[F.lit(x) for p, v in nonnull for x in (p, v)])
        return part.withColumn(
            OFF, F.element_at(m, F.col(PID)).cast("bigint")
        )
    off_df = part.sparkSession.createDataFrame(
        rows, schema=f"{PID} int, {OFF} bigint"
    )
    return part.join(F.broadcast(off_df), PID, "left")


def global_row_number(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "__rank",
    num_parts: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact 1-based global ``row_number`` over a total order, computed
    parallel (see module docstring). ``order_cols`` must define a TOTAL
    order (include a unique tiebreak) for the rank to be deterministic.
    ``num_parts`` sizes the range exchange (see pin_range_partitions).

    Returns ``(df + rank_col, total_row_count)`` — the count is free (the
    final accumulator of the offset fold).
    """
    from pyspark.sql import Window as W

    part = pin_range_partitions(df, order_cols, num_parts)
    rows, n = exclusive_prefix(
        part,
        F.count(F.lit(1)),
        lambda acc, v: acc + int(v),
        0,
    )
    rn = (
        F.row_number().over(W.partitionBy(PID).orderBy(*order_cols))
        + F.coalesce(F.col(OFF), F.lit(0))
    ).cast("bigint")
    out = (
        with_offsets(part, rows)
        .withColumn(rank_col, rn)
        .drop(PID, OFF)
    )
    return out, int(n)


def grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    rank_col: str = "__rank",
    count_col: str | None = None,
    num_parts: int | None = None,
) -> DataFrame:
    """Exact 1-based ``row_number`` WITHIN each group over a total order,
    computed parallel even when the group key has O(1) cardinality.

    A ``Window.partitionBy(group)`` with 5 distinct groups runs every
    task-parallel sort at parallelism ≤ 5 regardless of cluster size —
    correct on 60k rows, a 5-task funnel at 100 TB. This is the grouped
    twin of :func:`global_row_number`: range-partition by
    ``(group, order)`` so each physical partition holds a contiguous
    slice of the group-ordered sequence, rank locally per
    ``(partition id, group)``, and attach per-(partition, group)
    exclusive offsets folded on the driver. The offset table is
    metadata-sized: groups are contiguous across range slices, so it has
    at most ``P + G`` rows (each of the P partitions opens at most one
    group mid-slice).

    ``order_cols`` must define a total order within each group (unique
    tiebreak) for determinism. ``count_col``, when given, attaches each
    group's total row count — callers selecting the k-th order statistic
    (median & friends) need it and it is free (same fold).
    """
    from pyspark.sql import Window as W

    part = pin_range_partitions(
        df, [F.col(g) for g in group_cols] + list(order_cols), num_parts
    )
    pairs = (
        part.groupBy(PID, *group_cols)
        .agg(F.count(F.lit(1)).alias("v"))
        .collect()
    )
    totals: dict[tuple, int] = {}
    rows = []  # (pid, *group key, exclusive offset)
    for r in sorted(
        pairs,
        key=lambda r: (tuple(str(r[g]) for g in group_cols), int(r[PID])),
    ):
        gk = tuple(r[g] for g in group_cols)
        rows.append((int(r[PID]),) + gk + (totals.get(gk, 0),))
        totals[gk] = totals.get(gk, 0) + int(r["v"])
    key_schema = part.select(*group_cols).schema
    off_schema = (
        f"{PID} int, "
        + ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in key_schema)
        + f", {OFF} bigint"
    )
    if count_col is not None:
        off_schema += f", {count_col} bigint"
        rows = [r + (totals[tuple(r[1:-1])],) for r in rows]
    off_df = df.sparkSession.createDataFrame(rows, schema=off_schema)
    rn = (
        F.row_number().over(
            W.partitionBy(PID, *group_cols).orderBy(*order_cols)
        )
        + F.coalesce(F.col(OFF), F.lit(0))
    ).cast("bigint")
    # NULL-SAFE join on the group key: a plain equi-join never matches a
    # NULL group (NULL != NULL), which would zero the offsets of a NULL
    # group spanning multiple range partitions and restart its rank per
    # partition — Window.partitionBy semantics group NULLs together.
    off_ren = off_df.select(
        F.col(PID).alias("__opid"),
        *[F.col(g).alias(f"__og_{g}") for g in group_cols],
        OFF,
        *([count_col] if count_col is not None else []),
    )
    cond = F.col(PID) == F.col("__opid")
    for g in group_cols:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og_{g}"))
    return (
        part.join(F.broadcast(off_ren), cond, "left")
        .drop("__opid", *[f"__og_{g}" for g in group_cols])
        .withColumn(rank_col, rn)
        .drop(PID, OFF)
    )


def grouped_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    val_col: str,
    sum_col: str = "__rsum",
    num_parts: int | None = None,
) -> DataFrame:
    """Exact cumulative SUM of a bigint column WITHIN each group over a
    total order — the prefix-aggregate twin of :func:`grouped_row_number`
    (same two-phase shape: range-partition by (group, order), window the
    running sum locally per (partition id, group), attach the folded
    per-(partition, group) exclusive SUM offsets). A
    ``Window.partitionBy(group)`` running total with O(1) group
    cardinality scans each group on ONE reducer at any cluster size; here
    every range slice folds its own stretch in parallel and the offset
    table stays ≤ P + G rows.

    ``val_col`` must be integral (bigint): the driver fold and the window
    partials add in different orders, which is only value-identical under
    exact integer addition — the reason callers pass cents, not dollars.
    ``order_cols`` must define a total order within each group (unique
    tiebreak) for the running values to be deterministic.
    """
    from pyspark.sql import Window as W

    part = pin_range_partitions(
        df, [F.col(g) for g in group_cols] + list(order_cols), num_parts
    )
    pairs = (
        part.groupBy(PID, *group_cols)
        .agg(F.sum(val_col).cast("bigint").alias("v"))
        .collect()
    )
    totals: dict[tuple, int] = {}
    rows = []  # (pid, *group key, exclusive sum offset)
    for r in sorted(
        pairs,
        key=lambda r: (tuple(str(r[g]) for g in group_cols), int(r[PID])),
    ):
        gk = tuple(r[g] for g in group_cols)
        rows.append((int(r[PID]),) + gk + (totals.get(gk, 0),))
        totals[gk] = totals.get(gk, 0) + int(r["v"])
    key_schema = part.select(*group_cols).schema
    off_schema = (
        f"{PID} int, "
        + ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in key_schema)
        + f", {OFF} bigint"
    )
    off_df = df.sparkSession.createDataFrame(rows, schema=off_schema)
    rsum = (
        F.sum(val_col).over(
            W.partitionBy(PID, *group_cols)
            .orderBy(*order_cols)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        + F.coalesce(F.col(OFF), F.lit(0))
    ).cast("bigint")
    # NULL-SAFE group-key join — same rationale as grouped_row_number
    off_ren = off_df.select(
        F.col(PID).alias("__opid"),
        *[F.col(g).alias(f"__og_{g}") for g in group_cols],
        OFF,
    )
    cond = F.col(PID) == F.col("__opid")
    for g in group_cols:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og_{g}"))
    return (
        part.join(F.broadcast(off_ren), cond, "left")
        .drop("__opid", *[f"__og_{g}" for g in group_cols])
        .withColumn(sum_col, rsum)
        .drop(PID, OFF)
    )


def global_ntile(
    df: DataFrame,
    order_cols: list,
    k: int,
    bucket_col: str = "bucket",
    num_parts: int | None = None,
) -> DataFrame:
    """Exact SQL-``ntile(k)`` bucket ids over a UNIQUE total order,
    computed without a single-partition window: the two-phase global
    rank above, then the exact ntile formula — with N rows the first
    ``N mod k`` buckets get ``ceil(N/k)`` rows, the rest ``floor(N/k)``
    — bit-identical to a plain-window ``ntile`` because the order is
    total (callers pass a unique tiebreak), so ranks are independent of
    the sampled range boundaries."""
    ranked, n = global_row_number(
        df, order_cols, rank_col="__rank", num_parts=num_parts
    )
    if n == 0:
        return ranked.withColumn(
            bucket_col, F.lit(None).cast("int")
        ).drop("__rank")
    rn = F.col("__rank")
    size, rem = n // k, n % k
    big = size + 1

    def _idiv(num, d: int):
        # exact integer division as columns: subtract the remainder first
        # so the double division is of an exact multiple
        return ((num - F.pmod(num, F.lit(d))) / F.lit(d)).cast("bigint")

    bucket = F.when(rn <= rem * big, _idiv(rn - 1, big) + 1).otherwise(
        F.lit(rem) + _idiv(rn - rem * big - 1, max(size, 1)) + 1
    )
    return ranked.withColumn(bucket_col, bucket.cast("int")).drop("__rank")
