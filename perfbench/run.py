"""Ingestion-first benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run starts one Spark session
(``session.get_spark`` on ``local[<nproc>]``), sets the workload up (its
warm-up included), measures units of work for ``--seconds`` (at least
three whole units) with a reference sample after each, checks every result
outside the timed region, stops Spark and prints one JSON line as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see README.md). Every run also writes its full record, box state
included, to ``.perfbench_out/`` in the checkout. All scratch (warehouse,
state, staging, Spark local and JVM temp dirs) lives under
``.perfbench_tmp/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark"
WORKLOADS = ("backfill", "query_mix")

#: JVM temp files under the run's scratch dir, and no hsperfdata in /tmp.
#: C1 only and the parallel collector: a run reaches steady speed within
#: its warm-up, and no compiler or concurrent-GC threads compete with the
#: measured work for the box's few cores afterwards.
_JVM_OPTS = (
    "-Djava.io.tmpdir={tmp}/jvm -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseParallelGC"
)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(tmp: str) -> None:
    """Point every scratch location of Python, Spark, the JVM and the
    engine at ``tmp``; must run before pyspark starts a JVM."""
    for d in ("py", "local", "jvm", "stream", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(tmp, "stream")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # the JVM that assembles the spark-submit command line
    os.environ["SPARK_LAUNCHER_OPTS"] = _JVM_OPTS.format(tmp=tmp)
    # a small heap keeps the JVM's footprint bounded on a shared machine
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def _start_spark(tmp: str):
    from streaming_ingestion_from_snowflake_to_apache_iceberg_with_apache_flink_spark.session import (
        get_spark,
    )

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.driver.extraJavaOptions": _JVM_OPTS.format(tmp=tmp),
            # the trace harvest reads jobs and stages after the window
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then end and wait for every process
    this one started (the JVM and the Python workers it forked, which
    outlive it as orphans otherwise)."""
    from spans import descendants

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in started if _alive(p)]
        if not left:
            break
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline and any(_alive(p) for p in left):
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def declared() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def report(out, trace: bool, setup_s: float, rss_mb: float, box: dict):
    """(metrics, attempted, failed) of a finished workload: the
    end-to-end metrics untraced, the per-layer ones traced. A layer the
    workload does not run reports 0."""
    e2e, per_layer = declared()
    failed = len(out.problems)
    attempted = max(out.attempted, failed, 1)
    if trace:
        values = {name: 0.0 for name in per_layer}
        values.update(out.layers)
        if out.traced_walls and out.walls:
            values["bench.trace_overhead_s"] = statistics.median(
                out.traced_walls
            ) - statistics.median(out.walls)
        values["bench.failed_op_share"] = failed / attempted
        values.update({k: v for k, v in box.items() if k.startswith("box.")})
        values["engine.peak_rss_mb"] = rss_mb
        values["bench.work_wall_s"] = statistics.median(out.walls)
        values["bench.work_cpu_s"] = statistics.median(out.cpus)
        values["bench.reference_s"] = statistics.median(out.refs)
        units = per_layer
    else:
        values = {"setup_s": setup_s, "work_wall_rel": statistics.median(out.rels)}
        units = e2e
    if set(values) != set(units):
        raise ValueError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    return metrics, attempted, failed


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        _environment(tmp)
        from spans import BoxState, Reference, Tracer, peak_rss_mb
        from workloads import Ctx
        from workloads import WORKLOADS as RUNNERS

        box = BoxState()
        spark = _start_spark(tmp)
        spark_start_s = time.perf_counter() - t0
        try:
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            t = time.perf_counter()
            reference = Reference(spark)
            bench_s = time.perf_counter() - t
            ctx = Ctx(
                spark=spark,
                tmp=tmp,
                warehouse=os.path.join(tmp, "warehouse"),
                data_dir=os.path.join(HERE, "data", "sf0.001"),
                seed=args.seed,
                seconds=args.seconds,
                tracer=Tracer(spark, bool(args.trace)),
                reference=reference,
                bench_s=bench_s,
            )
            out = RUNNERS[args.workload](ctx)
            rss = peak_rss_mb([os.getpid(), jvm_pid])
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run's scratch is still there

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "units": len(out.walls) + len(out.traced_walls),
        "unit_walls_s": out.walls,
        "traced_unit_walls_s": out.traced_walls,
        "unit_cpus_s": out.cpus,
        "unit_walls_rel": out.rels,
        "reference_s": out.refs,
        "problems": out.problems,
        "spark_start_s": spark_start_s,
        "peak_rss_mb": rss,
        **out.extra,
        **box.finish(),
    }
    if not out.walls:
        print(json.dumps(record, default=str), file=sys.stderr)
        print("perfbench: no unit of work completed", file=sys.stderr)
        return 1
    setup_s = out.window_start - t0 - ctx.bench_s
    metrics, attempted, failed = report(out, bool(args.trace), setup_s, rss, record)
    record["metrics"] = metrics
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(
        os.path.join(
            ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        ),
        "w",
    ) as fh:
        json.dump(record, fh, indent=1, default=str)
    for p in out.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
