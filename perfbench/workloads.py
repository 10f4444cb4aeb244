"""The two workloads. Each one sets up (warm-up included), measures
units of work for the requested window, checks every result outside the
timed region, and returns an ``Outcome``.

Units of work, and why each workload exists:

* ``backfill`` — one drain of a bulk initial load through the reference's
  table shape (all-string staging, ``mode="offset"``, typed target with a
  dead-letter ledger, upsert sink). Per-row work: full-source rank, cast
  and dead-letter pass, COW merges into growing partitions. The only
  workload where ``schema`` runs.
* ``query_mix`` — one warm pass over read-only queries from
  ``__spark_entry__.queries()``. Operators, the Arrow/Python-worker path
  and the stateful streaming drains, with no ingestion cycle.

Between units the benchmark times a fixed reference (``spans.Reference``),
so each unit's wall can be read against the box's speed at that moment.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from dataclasses import dataclass, field

import gen
from spans import Reference, Span, Tracer, engine_metrics, tree_cpu_s

#: backfill: 10k rows over 5 exactly balanced shards, 1000-row pages, so a
#: drain is 2 data cycles (bootstrap, then a merge) plus 1 empty cycle. An
#: untimed drain of the same staging warms the JVM first: a cold drain
#: costs about twice a warm one, and after a drain of a fifth-size staging
#: the first timed drain still ran a tenth slower than the next. A run
#: measures at least BACKFILL_UNITS drains.
BACKFILL_ROWS, BACKFILL_PAGE = 10_000, 1_000
BACKFILL_UNITS = 3

#: query_mix: 17 of the 43 queries the full mix would hold (all 19
#: q_tpch_*, the 10 ingest twins, 14 extensions that use no shared leg).
#: Set-up runs one cold pass, about 1 s per query, and the full 43 would
#: not fit the benchmark's run budget. Kept: every ingest twin; TPC-H
#: shapes with multi-way joins, a subquery and an anti-join; the
#: Arrow/Python-worker path (pandas agg); and two stateful stream drains,
#: the ingestion stream among them.
TPCH = ("q_tpch_q2", "q_tpch_q9", "q_tpch_q18", "q_tpch_q21")
INGEST_TWINS = (
    "q_distinct_shards", "q_shard_filter", "q_page_offset", "q_incremental_union",
    "q_cast_projection", "q_highwater_increment", "q_upsert_merge",
    "q_overwrite_partition", "q_partitioned_layout", "q_shard_fanout_topn",
)
EXTENSIONS = ("q_pandas_agg",)
STREAM_QUERIES = ("q_stream_window", "q_stream_ingest")
QUERY_MIX = TPCH + INGEST_TWINS + EXTENSIONS + STREAM_QUERIES
#: a run measures at least this many warm passes
QUERY_MIX_UNITS = 4


@dataclass
class Ctx:
    spark: object
    #: scratch root of this workload's staging, state and dead-letter dirs
    tmp: str
    #: the session's spark.sql.warehouse.dir
    warehouse: str
    data_dir: str
    seed: int
    seconds: float
    tracer: Tracer
    reference: Reference
    #: database of the sink tables
    db: str = "default"
    #: benchmark-only time (oracle runs, comparisons) spent during set-up,
    #: taken out of ``setup_s``
    bench_s: float = 0.0


@dataclass
class Outcome:
    window_start: float = 0.0
    #: wall, CPU and wall ÷ reference of each untraced unit
    walls: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)
    rels: list[float] = field(default_factory=list)
    #: reference samples: one before the first unit, one after each unit
    refs: list[float] = field(default_factory=list)
    #: walls of the traced units, in trace runs
    traced_walls: list[float] = field(default_factory=list)
    attempted: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.problems.append(msg)


def _timed(fn):
    c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, tree_cpu_s(os.getpid()) - c0


def _measure(ctx: Ctx, out: Outcome, unit, minimum: int = 1) -> None:
    """Run ``unit(k, traced)`` for k = 1, 2, ... until units and reference
    samples have taken ``ctx.seconds`` (at least ``minimum`` units). A
    unit does and times one unit of work and returns ``(wall, cpu,
    check)``; ``check()`` verifies its results after the reference sample
    that follows it, outside the measured time. Trace runs alternate
    untraced and traced units, starting untraced."""
    tr = ctx.tracer
    enabled = tr.enabled
    out.window_start = time.perf_counter()
    before = ctx.reference.sample()
    out.refs.append(before)
    measured = time.perf_counter() - out.window_start
    k = 0
    while k < minimum or measured < ctx.seconds:
        k += 1
        traced = enabled and k % 2 == 0
        t = time.perf_counter()
        tr.enabled = traced
        try:
            wall, cpu, check = unit(k, traced)
        except Exception as exc:  # a failed unit is a failed operation
            out.fail(f"unit {k}: {exc!r}"[:300])
            measured += time.perf_counter() - t
            continue
        finally:
            tr.enabled = enabled
        after = ctx.reference.sample()
        measured += time.perf_counter() - t
        out.refs.append(after)
        if traced:
            out.traced_walls.append(wall)
        else:
            out.walls.append(wall)
            out.cpus.append(cpu)
            out.rels.append(wall / ((before + after) / 2))
        before = after
        check()


def _fingerprint(pdf) -> tuple:
    """Row count, null count and an order-independent hash of a frame
    whose columns are normalized to int64 / float64 / str."""
    import pandas as pd

    cols = sorted(pdf.columns)
    norm = pd.DataFrame(index=range(len(pdf)))
    for c in cols:
        s = pdf[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s) or pd.api.types.is_integer_dtype(s):
            s = s.astype("float64") if pd.api.types.is_float_dtype(s) else s.astype("int64")
        else:
            s = s.astype(object).where(s.notna(), None).map(lambda v: None if v is None else str(v))
        norm[c] = s
    h = int(pd.util.hash_pandas_object(norm, index=False).sum()) if len(norm) else 0
    return len(norm), int(norm.isna().sum().sum()), h


def _dropping(write_batch, column: str, key):
    """A ``write_batch`` that loses the row whose ``column`` is ``key`` —
    the self-test's broken sink."""
    from pyspark.sql import functions as F

    return lambda batch, epoch: write_batch(batch.filter(F.col(column) != key), epoch)


def _table_files(ctx: Ctx, table: str) -> tuple[int, int]:
    """(data files, partition directories) of a managed table."""
    db = "" if ctx.db == "default" else f"{ctx.db}.db"
    loc = os.path.join(ctx.warehouse, db, table)
    files = [
        p
        for p in glob.glob(os.path.join(loc, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))
    ]
    parts = {os.path.dirname(p) for p in files}
    return len(files), max(len(parts), 1)


def _cycle_layers(
    tracer: Tracer, cycles: list[Span], rows: int, committed_bytes: float
) -> dict[str, float]:
    """streaming/sources/sinks metrics over traced ``run_cycle`` spans
    (``span.rows`` = rows the cycle committed)."""
    data = [c for c in cycles if c.rows] or cycles
    empty = [c for c in cycles if not c.rows]
    commits = [tracer.spans[k] for c in cycles for k in c.children]
    inc = {c.id: tracer.inclusive(c.id) for c in cycles}
    wb = [tracer.inclusive(s.id) for s in commits]
    mean = statistics.fmean
    return {
        "streaming.jobs_per_cycle": mean(inc[c.id].jobs for c in data),
        "streaming.jobs_per_empty_cycle": mean(inc[c.id].jobs for c in empty) if empty else 0.0,
        "streaming.stages_per_cycle": mean(inc[c.id].stages for c in data),
        "streaming.cycle_self_s": mean(
            c.wall - sum(tracer.spans[k].wall for k in c.children) for c in data
        ),
        "sources.rows_scanned_per_row_committed": sum(
            v.input_records for v in inc.values()
        ) / max(rows, 1),
        "sources.input_bytes_per_cycle": mean(inc[c.id].input_bytes for c in data),
        "sinks.write_batch_s": mean(s.wall for s in commits) if commits else 0.0,
        "sinks.jobs_per_commit": mean(w.jobs for w in wb) if wb else 0.0,
        "sinks.bytes_written_per_byte_committed": sum(w.output_bytes for w in wb)
        / max(committed_bytes, 1.0),
    }


def _ingestor(ctx: Ctx, name: str, source: str, page: int, **kw):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.config import (
        IcebergSinkConfig,
        PipelineConfig,
        SnowflakeSourceConfig,
    )
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.streaming.ingest import (
        SnowflakeLikeIngestor,
    )

    shard, sort, key = "CATEGORY", "UPDATED_AT", "NAME"
    cfg = PipelineConfig(
        source=SnowflakeSourceConfig(
            table=source, shard_column=shard, sort_column=sort, query_size=page
        ),
        sink=IcebergSinkConfig(
            db=ctx.db,
            table_name=name,
            partition_fields=(shard,),
            upsert_fields=(key, shard),
            operation="upsert",
        ),
    )
    state = os.path.join(ctx.tmp, "state", name)
    return SnowflakeLikeIngestor(ctx.spark, cfg, source, state, key, mode="offset", **kw)


# -- backfill -----------------------------------------------------------------


def _backfill_expected(staging: str):
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT TRY_CAST(PRICE AS DOUBLE) AS PRICE, CATEGORY, "
            "CAST(NAME AS BIGINT) AS NAME, CAST(UPDATED_AT AS TIMESTAMP) AS UPDATED_AT "
            f"FROM read_parquet('{staging}/*.parquet')"
        ).df()
    finally:
        con.close()


def _backfill_drain(ctx: Ctx, name: str, staging: str, page: int, drop_key=None):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.sources.staging import (
        SNOWFLAKE_LIKE_TYPED,
    )

    tr = ctx.tracer
    dl = os.path.join(ctx.tmp, "deadletter", name)
    ing = _ingestor(
        ctx, name, staging, page, target_schema=SNOWFLAKE_LIKE_TYPED, dead_letter_path=dl
    )
    if drop_key is not None:
        ing.sink.write_batch = _dropping(ing.sink.write_batch, "NAME", drop_key)
    if tr.enabled:
        ing.sink.write_batch = tr.traced("write_batch", ing.sink.write_batch)

    def drain():
        stats, walls = [], []
        while len(stats) < 20:
            t = time.perf_counter()
            with tr.span("run_cycle") as s:
                st = ing.run_cycle()
            walls.append(time.perf_counter() - t)
            if s is not None:
                s.rows = st.rows_ingested
            stats.append(st)
            if st.rows_ingested == 0:
                break
        return stats, walls

    return ing, dl, drain


def _check_backfill(out, ing, dl, stats, expected_fp, injected, n):
    import pyarrow.dataset as ds

    rows = sum(s.rows_ingested for s in stats)
    if rows != n or stats[-1].rows_ingested != 0:
        out.fail(f"drain committed {rows} rows of {n} in {len(stats)} cycles")
    got = _fingerprint(ing.sink.read().toPandas())
    if got != expected_fp:
        out.fail(f"target {got[:2]} differs from the DuckDB staging cast {expected_fp[:2]}")
    dead = ds.dataset(dl, format="parquet").to_table().to_pylist()
    found = {(r["row_key"], r["field"], r["raw"]) for r in dead}
    want = {(k, "PRICE", raw) for k, raw in injected.items()}
    if found != want or len(dead) != len(want):
        out.fail(f"dead-letter rows {len(dead)} differ from the {len(want)} injected")
    return len(dead)


def backfill(ctx: Ctx, drop_key=None, rows: int = BACKFILL_ROWS, page: int = BACKFILL_PAGE) -> Outcome:
    out = Outcome()
    tr = ctx.tracer
    staging = os.path.join(ctx.tmp, "staging", "main")
    size, injected = gen.backfill_staging(ctx.seed, rows, staging)
    t = time.perf_counter()
    expected_fp = _fingerprint(_backfill_expected(staging))
    ctx.bench_s += time.perf_counter() - t

    enabled = tr.enabled
    tr.enabled = False
    _, _, warm = _backfill_drain(ctx, "backfill_warm", staging, page)
    t = time.perf_counter()
    warm()
    out.extra["warm_up_s"] = time.perf_counter() - t
    tr.enabled = enabled

    traced_spans: list[Span] = []
    layout: list[tuple[int, int]] = []
    dead_rows = 0

    def drain(k: int, traced: bool):
        name = f"backfill_{k}"
        ing, dl, run = _backfill_drain(ctx, name, staging, page, drop_key)
        out.attempted += 1
        with tr.span("drain") as top:
            (stats, cycle_walls), wall, cpu = _timed(run)
        out.extra.setdefault("cycle_latency_s", []).append([round(w, 4) for w in cycle_walls])
        if traced:
            traced_spans.append(top)

        def check():
            nonlocal dead_rows
            dead_rows = _check_backfill(out, ing, dl, stats, expected_fp, injected, rows)
            if traced:
                layout.append(_table_files(ctx, name))
            # every drain starts from the same catalog: one target table
            for t in (ing.sink.table, ing.sink.commits, ing.sink.history):
                ctx.spark.sql(f"DROP TABLE IF EXISTS {t}")

        return wall, cpu, check

    _measure(ctx, out, drain, minimum=4 if enabled else BACKFILL_UNITS)
    out.extra["rows_committed_per_drain"] = rows
    out.extra["ingest_rows_per_s"] = rows / statistics.median(out.walls) if out.walls else None
    if traced_spans:
        tr.harvest()
        cycles = [tr.spans[c] for top in traced_spans for c in top.children]
        out.layers.update(
            _cycle_layers(tr, cycles, rows * len(traced_spans), size * len(traced_spans))
        )
        out.layers["sinks.files_per_partition"] = statistics.fmean(f / p for f, p in layout)
        out.layers["schema.dead_letter_rows"] = float(dead_rows)
        out.layers.update(engine_metrics(tr, traced_spans, len(traced_spans)))
    return out


# -- query_mix ----------------------------------------------------------------


def _after_query(ctx: Ctx, entry) -> None:
    ctx.spark.catalog.clearCache()
    entry.release_transient_checkpoints(ctx.spark)


class _Oracles:
    """Each query's DuckDB oracle result, canonicalized once per run: the
    fixture tables never change, so every pass compares with the same."""

    def __init__(self, ctx: Ctx, oracles: dict[str, str]):
        from tests.oracle_harness import duck_connection

        self.con = duck_connection(ctx.data_dir)
        self.sql = oracles
        self.expected: dict[str, tuple] = {}

    def check(self, name: str, actual) -> str | None:
        from tests.oracle_harness import _canon

        if name not in self.expected:
            df = self.con.execute(self.sql[name]).df()
            self.expected[name] = (sorted(df.columns), _canon(df))
        columns, rows = self.expected[name]
        if sorted(actual.columns) != columns:
            return "columns differ from the oracle"
        if len(actual) != len(rows) or _canon(actual) != rows:
            return "result differs from the oracle"
        return None


def query_mix(ctx: Ctx, perturb: str | None = None, names: tuple = QUERY_MIX) -> Outcome:
    """Set-up runs one untimed cold pass in a fresh session (each query's
    plan compilation, code generation and JIT, as every new driver
    process pays them). The unit is one warm pass, in a seeded order per
    pass; its wall is the sum of the queries' ``toPandas()`` walls."""
    import __spark_entry__ as entry
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark import (
        streaming,
    )

    out = Outcome()
    rng = gen.rng_for(ctx.seed, "query-order")
    fns = entry.queries()
    if perturb is not None:
        base = fns[perturb]
        fns = {**fns, perturb: lambda s, d: (lambda df: df.exceptAll(df.limit(1)))(base(s, d))}
    tr = ctx.tracer
    oracles = _Oracles(ctx, entry.oracle_sql())
    passes: list[dict[str, float]] = []
    traced_passes: list[Span] = []
    drains: dict[str, dict] = {}

    def one_pass(traced: bool):
        per: dict[str, float] = {}
        results = []
        cpu = 0.0
        with tr.span("pass") as top:
            for name in [names[i] for i in rng.permutation(len(names))]:
                out.attempted += 1
                streaming.DRAIN_TELEMETRY.clear()
                try:
                    c0, t = tree_cpu_s(os.getpid()), time.perf_counter()
                    with tr.span(name):
                        actual = fns[name](ctx.spark, ctx.data_dir).toPandas()
                    per[name] = time.perf_counter() - t
                    cpu += tree_cpu_s(os.getpid()) - c0
                    results.append((name, actual))
                except Exception as exc:
                    out.fail(f"{name}: {exc!r}"[:300])
                if traced:
                    drains.update(
                        {
                            f"{len(traced_passes)}/{name}/{q}": dict(v)
                            for q, v in streaming.DRAIN_TELEMETRY.items()
                        }
                    )
                _after_query(ctx, entry)
        if traced:
            traced_passes.append(top)
        passes.append(per)

        def check():
            for name, actual in results:
                problem = oracles.check(name, actual)
                if problem:
                    out.fail(f"{name}: {problem}")

        return sum(per.values()), cpu, check

    try:
        enabled = tr.enabled
        tr.enabled = False
        t = time.perf_counter()
        _, _, check = one_pass(False)
        out.extra["cold_pass_s"] = time.perf_counter() - t
        tr.enabled = enabled
        t = time.perf_counter()
        check()  # the oracle runs are the benchmark's, not set-up
        ctx.bench_s += time.perf_counter() - t
        _measure(ctx, out, lambda k, traced: one_pass(traced), minimum=QUERY_MIX_UNITS)
    finally:
        oracles.con.close()
    out.extra["query_wall_s"] = statistics.median(out.walls) if out.walls else None
    out.extra["per_query_s"] = [{n: round(v, 4) for n, v in p.items()} for p in passes]
    out.extra["stream_drains"] = drains
    if traced_passes:
        tr.harvest()
        n = len(traced_passes)
        queries = [tr.spans[c] for top in traced_passes for c in top.children]
        total = lambda group: sum(s.wall for s in queries if s.name in group) / n  # noqa: E731
        out.layers.update(
            {
                "operators.tpch_s": total(TPCH),
                "operators.ingest_twins_s": total(INGEST_TWINS),
                "operators.extensions_s": total(EXTENSIONS),
                "streaming.stream_queries_s": total(STREAM_QUERIES),
                "streaming.micro_batches": sum(d.get("micro_batches", 0) for d in drains.values())
                / n,
                "streaming.state_commits": sum(
                    d.get("micro_batches", 0) * d.get("state_store_instances", 0)
                    for d in drains.values()
                )
                / n,
            }
        )
        # over the query spans: the pass span also covers the cleanup calls
        out.layers.update(engine_metrics(tr, queries, n))
    return out


WORKLOADS = {"backfill": backfill, "query_mix": query_mix}
