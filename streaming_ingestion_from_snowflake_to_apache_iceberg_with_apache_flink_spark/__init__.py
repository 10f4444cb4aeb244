"""PySpark-native analytics engine with the capabilities of
aws-samples/streaming-ingestion-from-snowflake-to-apache-iceberg-with-apache-flink.

The reference is a Flink 1.18 job that incrementally ingests one Snowflake
table into an Iceberg table (see SURVEY.md). This package re-expresses every
operator of that pipeline — plus the large-scale training-data-pipeline
extensions (dedup, similarity search, text analysis, multimodal plumbing) —
as idiomatic PySpark DataFrame programs: declarative plans that Catalyst
optimizes, shuffles only on real keys, broadcasts for small dimensions, and
Pandas UDFs only where built-ins genuinely cannot express the semantics.

Layout:
- ``config``     — the reference's 19-parameter surface + validations
- ``schema``     — the reference's type whitelist as StructType utilities
- ``session``    — SparkSession builder tuned for scale (AQE, shuffle sizing)
- ``sources``    — parquet/JDBC readers, snowflake-like staging views
- ``operators``  — the operator inventory from SURVEY.md §2 (pure DataFrame fns)
- ``functions``  — reusable column expressions (vector math, hashing, text)
- ``sinks``      — partitioned catalog tables: append / upsert-merge / overwrite
- ``streaming``  — the incremental micro-batch ingestion runtime (the job)
- ``plans``      — plan-inspection helpers (pushdown/codegen assertions)
"""

__version__ = "0.1.0"

import os as _os

# --- BLAS thread pinning (optimization round 12, guide §4.5/§2.6) ---
# numpy's bundled OpenBLAS defaults to one thread PER CPU per process.
# Every Arrow/pandas kernel in this package (semdedup pair audit, k-means
# assignment matmul, PQ encode/ADC) therefore spawned ncpu BLAS threads
# per Python worker — measured 33 threads per worker, so local[32] ran
# ~1024 runnable threads and the matmul family degraded up to 5x under
# the scheduler thrash (A/B in OPTIMIZATION_r12.md: q_ivfpq_topk
# 4.3-13.3 s unpinned vs 2.5-2.7 s pinned). Spark's task parallelism
# already saturates the cores, so each worker's BLAS must be
# single-threaded — the standard production setting for numpy-inside-
# executor workloads; at any scale, parallelism belongs to the engine,
# not to a nested thread pool that the scheduler cannot see.
#
# Set here (not in session.get_spark) so the pin propagates through env
# inheritance even under a FOREIGN SparkSession (the driver contract):
# importing __spark_entry__ imports this package before any session
# exists, so driver process -> JVM -> Python worker daemon -> workers
# all inherit the caps in local mode. For real clusters (separate
# executor JVMs) session.get_spark additionally sets
# spark.executorEnv.* from the same values. setdefault: an explicit
# user/cluster setting always wins.
from .functions.blas import pin_env as _pin_env  # noqa: E402

_pin_env(_os.environ.get("SPARK_GRAFT_BLAS_THREADS", "1"))
