"""Self-test of the benchmark at sf0.001 size, in one Spark session:

* every workload emits every end-to-end metric (untraced) and every
  per-layer metric (traced), each with its unit, and finds no problem;
* a sink that drops one row makes ``backfill`` fail;
* a query whose result loses one row makes ``query_mix`` fail.

    python3 perfbench/selftest.py     # from the root of a checkout

Prints one line per case and exits non-zero if any case goes wrong.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import run
from spans import BoxState, Reference, Tracer


def main() -> int:
    sys.path[:0] = [run.ROOT]
    tmp = os.path.join(run.ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}")
    os.makedirs(tmp)
    bad = 0
    try:
        run._environment(tmp)
        import workloads as w

        spark = run._start_spark(tmp)
        reference = Reference(spark)
        small = {"rows": 1_500, "page": 150}
        subset = ("q_tpch_q6", "q_shard_filter", "q_pandas_agg", "q_stream_window", "q_stream_join")
        cases = [
            ("backfill", 0, small, False),
            ("backfill", 1, small, False),
            ("query_mix", 0, {}, False),
            ("query_mix", 1, {"names": subset}, False),
            ("backfill", 0, {**small, "drop_key": 0}, True),
            ("query_mix", 0, {"names": subset, "perturb": "q_shard_filter"}, True),
        ]
        try:
            for n, (name, trace, kw, broken) in enumerate(cases):
                case_tmp = os.path.join(tmp, f"case{n}")
                ctx = w.Ctx(
                    spark=spark,
                    tmp=case_tmp,
                    warehouse=os.path.join(tmp, "warehouse"),
                    data_dir=os.path.join(run.HERE, "data", "sf0.001"),
                    seed=n + 1,
                    seconds=0.0,
                    tracer=Tracer(spark, bool(trace)),
                    reference=reference,
                    db=f"selftest{n}",
                )
                t = time.perf_counter()
                out = w.WORKLOADS[name](ctx, **kw)
                metrics, attempted, failed = run.report(
                    out, bool(trace), 1.0, 1.0, BoxState().finish()
                )
                want = run.declared()[trace]
                got = {k: m["unit"] for k, m in metrics.items()}
                ok = got == want and (failed > 0) == broken
                bad += not ok
                print(
                    f"{'ok ' if ok else 'BAD'} {name} trace={trace} "
                    f"{'broken' if broken else 'sound'}: {failed}/{attempted} failed, "
                    f"{len(got)} metrics, {time.perf_counter() - t:.1f} s"
                    + ("" if got == want else f"; metric names/units differ: {sorted(set(got.items()) ^ set(want.items()))}")
                    + ("" if ok or broken else f"; problems: {out.problems[:3]}"),
                    flush=True,
                )
        finally:
            run._stop_spark(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # a run's scratch is still there
    print("selftest:", "FAILED" if bad else "passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
