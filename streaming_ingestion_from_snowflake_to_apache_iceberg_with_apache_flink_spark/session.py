"""SparkSession builder tuned for the engine.

Defaults target the sandbox (local[N], single JVM) but every knob is chosen
for how it behaves on a 1000-executor cluster at 100 TB:

* **AQE on** — runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic broadcast conversion replace hand-tuned partition counts.
* **UTC session timezone** — pins timestamp semantics so results are
  identical across engines (the DuckDB oracle reads naive parquet instants).
* **Arrow on** — any unavoidable Pandas UDF moves data in columnar batches,
  never row-at-a-time pickling.
* ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; at scale
  set it ≈ 2-3× total cores and let AQE coalesce down.
* **Generated-code cache of 1024 entries** (Spark's default is 100) — the
  engine re-runs the same plans on every poll, and whole-stage codegen
  only stays warm if one cycle's classes fit. One warm pass of the
  benchmark's ``query_mix`` uses ~190 generated classes; the LRU cache of
  100 evicted most of them before their reuse, so every warm pass
  recompiled 120-190 of them in Janino, and with 1024 it compiles 0
  (its ``work_wall_rel`` fell ~23%). One pass over all 298 registered
  queries compiles ~3500 distinct classes, so the cache stays bounded
  well below the full registry: after that pass Metaspace held 184 MiB
  with 100 entries, 190 MiB with 1024 and 205 MiB with 4096. The conf is
  static (fixed when the JVM first generates code), so a session this
  function did not build keeps its own value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .functions.blas import THREAD_VARS


def get_spark(
    app_name: str = "snowflake-to-iceberg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate clones a generator's child expression into
        # an inferred `size(e) > 0` filter; predicate pushdown then drags that
        # clone below repartitions, re-evaluating expensive array pipelines
        # (shingle + md5) once more per row — and on the pre-spread partition
        # layout (observed 8× on the dedup family: the filter ran the whole
        # hashing pipeline single-core). Every array this engine explodes is
        # non-empty by construction, so the rule only costs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    # BLAS thread caps for EXECUTOR processes on a real cluster (separate
    # JVMs that do not inherit this process's env). Local mode inherits
    # the same values via the package-import-time env pin in __init__.py
    # — see the rationale there. Values come from that pin, so the two
    # paths can never disagree; SPARK_GRAFT_BLAS_THREADS overrides both.
    for var in THREAD_VARS:
        if os.environ.get(var):
            b = b.config(f"spark.executorEnv.{var}", os.environ[var])
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def codegen_compilations(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM since it started: the count
    of ``CodegenMetrics.METRIC_COMPILATION_TIME``, which Spark updates on
    every generated-code cache miss. Take the difference around a run; a
    warm re-run of a plan whose classes are cached adds 0."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(codegen.METRIC_COMPILATION_TIME().getCount())


def spill_safe_confs(
    input_bytes: int,
    total_cores: int,
    executor_mem_bytes: int = 8 << 30,
    mem_fraction: float = 0.3,
    target_partition_bytes: int = 128 << 20,
) -> dict[str, str]:
    """Size the shuffle/scan knobs to the DATA, not folklore — the
    spill-aware pre-AQE bounds for a run over ``input_bytes``:

    * ``spark.sql.files.maxPartitionBytes`` — the scan split size; capped
      so a task's input fits comfortably in its working set,
      ``executor_mem_bytes × mem_fraction`` (pass PER-CORE memory as
      ``executor_mem_bytes`` on multi-core executors); a split larger
      than that spills on the first wide transform.
    * ``spark.sql.shuffle.partitions`` — the pre-AQE upper bound: enough
      partitions that ``input_bytes / partitions ≤ target_partition_bytes``
      (so no reducer exceeds its working set even BEFORE AQE coalesces),
      floored at 2× total cores (full parallelism + stragglers), and never
      below 1.  AQE coalesces down from here; it cannot split a too-coarse
      non-skewed partition up, which is why the upper bound must come from
      data size.

    Pure arithmetic — callable on the driver before building the session
    (`get_spark(extra_conf=spill_safe_confs(...))`) or per-stage via
    ``spark.conf.set``.  At 100 TB / 1000 executors × 4 cores this yields
    ~800k shuffle partitions upper bound — exactly the regime where AQE
    coalescing (not a hand-picked constant) is the only sane policy.
    """
    if input_bytes <= 0 or total_cores <= 0:
        raise ValueError("input_bytes and total_cores must be positive")
    per_task = int(executor_mem_bytes * mem_fraction)
    max_split = max(8 << 20, min(target_partition_bytes, per_task))
    by_data = -(-input_bytes // target_partition_bytes)  # ceil
    shuffle = max(2 * total_cores, by_data)
    return {
        "spark.sql.files.maxPartitionBytes": str(max_split),
        "spark.sql.shuffle.partitions": str(shuffle),
    }


def stream_state_partitions(
    state_bytes: int,
    total_cores: int,
    target_state_bytes: int = 64 << 20,
) -> int:
    """Size streaming STATE partitions to the state, not to the batch-CPU
    default.  Every state-store instance pays fixed per-micro-batch
    overhead (open, commit, snapshot/maintenance) regardless of how many
    rows it holds, and the count is frozen into the checkpoint at first
    start — so `spark.sql.shuffle.partitions` taken from the batch side
    (sized for scan CPU) is the wrong number for stateful streams in both
    directions: measured locally, a ±1 h stream-stream join over tens of
    MB ran 3.4× slower on 32 state partitions than on 8, pure instance
    overhead; at 100 TB/day the same batch-sized constant leaves
    multi-GB state per instance and compaction stalls.

    ``ceil(state_bytes / target_state_bytes)`` clamped to
    ``[2, 4 × total_cores]`` — enough instances that each stays under the
    target working set, never more than the cluster can cycle per batch.
    Set it scoped around ``writeStream.start()`` (the engine reads the
    conf at query start); once a checkpoint exists the count is pinned
    there and this knob is a no-op by design.
    """
    if state_bytes < 0 or total_cores <= 0:
        raise ValueError("state_bytes must be >= 0, total_cores positive")
    by_state = -(-state_bytes // target_state_bytes) if state_bytes else 1
    return max(2, min(4 * total_cores, by_state))
