"""Benchmark harness: run every declared query at $SPARK_GRAFT_SF_DIR
(default sf0.1) and print ONE JSON line with per-query wall times.

Each query is forced end-to-end with the noop sink (computes every output
column, no driver collect, no disk write) — the closest local analogue of a
full cluster materialization. The first query's time includes JVM/codegen
warmup; a throwaway warmup action runs first so per-query numbers are
comparable across rounds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark import (
    streaming as _streaming,
)
from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.session import (
    codegen_compilations,
    get_spark,
)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_ticks() -> tuple[int, int] | None:
    """(total, steal) jiffies from /proc/stat, or None off-Linux.
    Loadavg misses hypervisor CPU capping entirely (the guest reads
    idle-with-runnable while the host withholds cycles), and capped
    windows are the documented 2-4x sweep-inflation mode — so every
    recorded sweep carries its own steal fraction (round 12)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        vals = [int(v) for v in fields[1:]]
        # denominator = user..steal only: the kernel already folds guest/
        # guest_nice into user/nice, so including them double-counts guest
        # time and deflates the steal fraction (ADVICE r12)
        return sum(vals[:8]), vals[7] if len(vals) > 7 else 0
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + parquet footer caches, plus one window + one partial
    # aggregation so the codegen/exchange machinery the first measured
    # query hits is already hot — without this, whichever query happens to
    # run first absorbs ~0.3 s of residual JIT and reads as a regression
    # whenever the dict order changes.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    warm = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).limit(5000)
    force(warm)
    force(
        warm.select(
            "o_orderkey",
            _F.row_number()
            .over(_W.partitionBy("o_orderpriority").orderBy("o_orderkey"))
            .alias("rn"),
        )
    )
    force(warm.groupBy("o_orderpriority").agg(_F.sum("o_totalprice")))

    # Shared-leg pre-pass (honesty contract, ADVICE r7-high): several
    # query families share checkpointed corpus-sized subtrees (near-dup
    # pair graph, MinHash signatures, k-means assignment, …) — the
    # production shape where a pipeline materializes the candidate graph
    # once and runs every metric over it. Benching queries against warm
    # shares while min()-ing over repeat attempts would otherwise record
    # cache reads as engine times and silently exclude the shared cost.
    # So: each shared leg is forced and timed EXPLICITLY here, its cost
    # is reported separately AND included once in the headline total, and
    # every query whose attempts consumed a warm leg is labeled in
    # BENCH_FULL. SPARK_GRAFT_NO_SHARED=1 disables all sharing instead:
    # every query then pays its own legs and this pre-pass is skipped.
    # SPARK_GRAFT_ONLY="q_a,q_b" restricts the sweep to named queries —
    # the adjudication path for single-family re-measurement (VERDICT
    # r11 item #1: idle-box re-runs of the streaming/connector family)
    # without paying the other ~290 queries' wall time.
    only = {
        s for s in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if s
    }
    no_shared = os.environ.get("SPARK_GRAFT_NO_SHARED", "") == "1"
    shared_times: dict[str, float] = {}
    if not no_shared:
        for leg, thunk in entrymod.shared_legs().items():
            t0 = time.perf_counter()
            thunk(spark, sf_dir)
            shared_times[leg] = round(time.perf_counter() - t0, 4)
            spark.catalog.clearCache()

    # best-of-2 per query: the second run reuses JVM JIT + codegen caches,
    # so the min is the steady-state number (single runs vary ±20% locally).
    # clearCache between runs: operators persist intermediates, and leaked
    # cache entries from earlier queries would distort later measurements.
    times: dict[str, float] = {}
    shared_warm: dict[str, list[str]] = {}
    # VERDICT r11 item #1: per-drain runtime counters (micro-batches,
    # state-store commits) recorded per query so an inflated streaming
    # row is adjudicable from artifacts — same counts + bigger wall =
    # box noise; different counts = structural.
    stream_drains: dict[str, dict] = {}
    # Janino compilations in each query's attempts after the first: its
    # plans are then cached, so a non-zero count names a query whose
    # generated code changes from run to run
    warm_compiles: dict[str, int] = {}
    sweep_skips = 0
    import gc

    load_start = os.getloadavg()[0]
    steal_start = _cpu_ticks()
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        trace: list = []
        entrymod._SHARED_TRACE = trace
        _streaming.DRAIN_TELEMETRY.clear()
        best = float("inf")
        warm_compiles[name] = 0
        for attempt in range(3):
            # two runs for everyone; a third only when the best is still
            # sub-second — there, per-run scheduling noise (±0.3 s on a
            # busy box) dominates the measurement and best-of-2 regularly
            # reads a 0.2 s query as 0.6 s
            if attempt == 2 and best >= 1.0:
                break
            compiles = codegen_compilations(spark)
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
            if attempt:
                warm_compiles[name] += codegen_compilations(spark) - compiles
        entrymod._SHARED_TRACE = None
        # label only WARM consumption ("hit"): in NO_SHARED mode every
        # lookup is a "compute" the query itself paid for, and labeling
        # those as warm would be the exact mislabeling this pass prevents
        legs = sorted({leg for leg, ev in trace if ev == "hit"})
        if legs:
            shared_warm[name] = legs
        # clearCache drops catalog-cached datasets but NOT localCheckpoint
        # RDD blocks. Round 9 diagnosed the leak (accumulated blocks
        # degraded a cold sweep's TAIL ~4×: q_tpch_q8 3.57 s in-sweep vs
        # 0.86 s fresh) and nudged System.gc() per query; round 10
        # replaced the nudge with DETERMINISTIC release: the shared-state
        # layer unpersists every persistent RDD it does not own as a live
        # memoized leg (VERDICT r9 item #5).
        if _streaming.DRAIN_TELEMETRY:
            # the LAST attempt's drains (the dict is overwritten per
            # drain, and the best-of-N attempts run identical plans)
            stream_drains[name] = {
                k: dict(v) for k, v in _streaming.DRAIN_TELEMETRY.items()
            }
        gc.collect()
        if entrymod.release_transient_checkpoints(spark) == -1:
            sweep_skips += 1  # ADVICE r11: a skipped sweep must be visible
        times[name] = round(best, 4)

    per_query_total = round(sum(times.values()), 4)
    shared_total = round(sum(shared_times.values()), 4)
    # the headline total pays every shared leg exactly ONCE (the amortized
    # production suite shape) plus every query's steady-state time
    total = round(per_query_total + shared_total, 4)

    # The driver captures only the last 2000 chars of stdout and parses the
    # JSON line from that window (BENCH_r01.json recorded parsed=null when the
    # full per-query dict overflowed it). Emit a line guaranteed to fit: keep
    # the slowest queries in the printed dict, drop the fastest ones first,
    # and record the complete breakdown in BENCH_FULL.json alongside.
    # harness_rev pairs like-for-like sweeps across rounds (ADVICE r9):
    # 1 = best-of-N, shared legs uncosted (r6-7); 2 = shared legs costed
    # once (r8); 2.1 = + per-query System.gc() nudge (r9); 3 = +
    # deterministic transient-checkpoint release instead of the nudge (r10).
    harness_rev = 3
    payload = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "per_query_sec": per_query_total,
        "shared_leg_sec": shared_total,
        "harness_rev": harness_rev,
        "queries": {k: round(v, 2) for k, v in times.items()},
        "sf": sf,
    }
    if sweep_skips:
        # observable in the driver-captured line, omitted when zero so
        # the happy path pays no budget for it
        payload["checkpoint_sweep_skips"] = sweep_skips
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
        "w",
    ) as fh:
        json.dump(
            {
                **payload,
                "queries": times,
                "n_queries": len(times),
                "shared_legs": shared_times,
                "queries_shared_warm": shared_warm,
                "stream_drains": stream_drains,
                "codegen_warm_compiles": warm_compiles,
                "codegen_warm_compiles_total": sum(warm_compiles.values()),
                "no_shared_mode": no_shared,
                "harness": {
                    "rev": harness_rev,
                    "deterministic_checkpoint_release": True,
                    "checkpoint_sweep_skips": sweep_skips,
                    # box state at sweep start/end: the documented
                    # 2-3x leg-inflation mode is loadavg >~ 0.5 from a
                    # still-draining prior job, so every recorded run
                    # carries the evidence to adjudicate itself
                    "loadavg_start": round(load_start, 2),
                    "loadavg_end": round(os.getloadavg()[0], 2),
                    # % of the sweep's CPU time stolen by the hypervisor
                    # (loadavg cannot see capping; >~2% sustained is the
                    # degraded-box mode — see OPTIMIZATION_r12.md)
                    "cpu_steal_pct": (
                        round(
                            100.0
                            * (steal_end[1] - steal_start[1])
                            / max(1, steal_end[0] - steal_start[0]),
                            2,
                        )
                        if steal_start and (steal_end := _cpu_ticks())
                        else None
                    ),
                    "only": sorted(only) if only else None,
                },
                "methodology": (
                    "value = sum(per-query best-of-N) + each shared leg "
                    "paid once; per-query times for names in "
                    "queries_shared_warm measure engine work GIVEN warm "
                    "shared state (the legs they consume are costed in "
                    "shared_legs, not in their own entry). Set "
                    "SPARK_GRAFT_NO_SHARED=1 for fully-cold per-query "
                    "times with no cross-query sharing."
                ),
            },
            fh,
            indent=1,
        )

    budget = 1800
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > budget:
        # Never drop the round's changed queries: the driver's stdout
        # line is what BENCH_r{N} records, and a re-baselined query
        # that got FAST enough to fall under the slowest-N cutoff would
        # otherwise land without the driver row its budget is judged on
        # (round 11: q_semdedup 1.26 -> 0.69 s dropped below the line).
        protected = set(getattr(entrymod, "BENCH_ALWAYS_REPORT", ()))
        by_time = sorted(
            (k for k in times if k not in protected),
            key=times.get,
            reverse=True,
        )
        while len(line) > budget and by_time:
            dropped = by_time.pop()
            del payload["queries"][dropped]
            payload["queries_omitted"] = len(times) - len(payload["queries"])
            line = json.dumps(payload, separators=(",", ":"))
        # ADVICE r11: if the protected entries alone blow the budget, an
        # over-long line would be truncated by the driver's 2000-char
        # capture window into INVALID JSON — strictly worse than dropping
        # a protected row. Fall back to dropping protected entries too,
        # fastest first (BENCH_FULL.json always keeps the complete dict).
        if len(line) > budget:
            by_time = sorted(payload["queries"], key=times.get, reverse=True)
            while len(line) > budget and by_time:
                dropped = by_time.pop()
                del payload["queries"][dropped]
                payload["queries_omitted"] = len(times) - len(
                    payload["queries"]
                )
                line = json.dumps(payload, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
