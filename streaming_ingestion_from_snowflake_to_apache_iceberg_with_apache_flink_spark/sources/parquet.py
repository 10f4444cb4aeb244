"""Parquet fixture readers.

The sandbox stand-in for the Snowflake JDBC source (TESTDATA.md): one parquet
file per table under ``/root/testdata/sf*/``. ``spark.read.parquet`` gives a
vectorized columnar scan with predicate pushdown and column pruning — the
scan every downstream operator in this engine is designed to keep intact
(check with ``plans.explain_str``: ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: (sf_dir, name) → (session, DataFrame). DataFrames are immutable and the
#: fixture files never change, so reusing the scan relation is safe; it
#: skips a parquet footer read + relation build per call (hundreds of
#: calls per bench/oracle sweep). Keyed per session — a new session
#: invalidates the entry. Conf pinning below still runs on EVERY call:
#: callers use load_table to (re)pin session semantics.
_TABLE_MEMO: dict[tuple, tuple] = {}

#: Spark applicationIds whose Python workers were already shipped the
#: package (the applicationId — not id(spark) — survives Python object
#: identity reuse after garbage collection)
# Insertion-ordered (dict) so bounding evicts the OLDEST marker, never
# the sid just added — set.pop() is arbitrary and could evict the newest,
# re-shipping the package on every subsequent load_table (ADVICE round 8).
_SHIPPED: dict[str, None] = {}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python WORKERS regardless of the
    driver's cwd/PYTHONPATH: the Arrow-batched stateful callbacks
    (``applyInPandasWithState`` folds, pandas UDFs) are module-level
    functions, so cloudpickle serializes them BY REFERENCE and the worker
    must import the module. A driver process launched outside the repo
    root (sys.path patched only in the driver) otherwise dies with
    ModuleNotFoundError in the worker. Zipping the package once per
    session and ``addPyFile``-ing it ships it to every worker in any
    deploy mode — the standalone equivalent of `--py-files`."""
    try:
        sid = spark.sparkContext.applicationId
    except Exception:  # pragma: no cover — a mock session in unit tests
        sid = f"py-{id(spark)}"
    if sid in _SHIPPED:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # a fresh per-PROCESS zip (pid in the name): a path reused across
    # processes could ship STALE code from an earlier run of an older
    # package version; the archive is ~1 MB, rebuilt once per process
    base = os.path.join(
        tempfile.gettempdir(),
        f"sparkgraft_pkg_{os.path.basename(pkg_dir)}_{os.getpid()}",
    )
    zip_path = base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(
            base, "zip", os.path.dirname(pkg_dir), os.path.basename(pkg_dir)
        )
    entry = os.path.join(os.path.dirname(pkg_dir), "__spark_entry__.py")
    shipped_ok = True
    for p in (zip_path, entry if os.path.exists(entry) else None):
        if p is None:
            continue
        try:
            spark.sparkContext.addPyFile(p)
        except Exception as exc:
            # a second addPyFile of the SAME path in one context throws a
            # benign already-added error on some deployments — that still
            # counts as shipped. But "already registered with a DIFFERENT
            # path/contents" means the context holds someone else's module
            # under our name — a real failure to ship the current code.
            # Any other failure (transient FS/RPC) must also leave sid
            # un-marked so the next call retries instead of silently
            # reintroducing the worker ModuleNotFoundError this function
            # exists to prevent.
            msg = str(exc).lower()
            benign = (
                "already" in msg or "same" in msg
            ) and "different" not in msg
            if benign:
                continue
            shipped_ok = False
            import warnings

            warnings.warn(
                f"addPyFile({os.path.basename(p)}) failed; will retry on "
                f"next load_table call: {exc}",
                stacklevel=2,
            )
    if shipped_ok:
        # mark only AFTER a successful ship — never pre-commit the marker.
        # Bound growth without evicting other LIVE sessions' markers (two
        # alternating sessions would otherwise re-ship per call): keep the
        # most recent handful — far more than concurrent live sessions.
        _SHIPPED[sid] = None
        while len(_SHIPPED) > 16:
            del _SHIPPED[next(iter(_SHIPPED))]  # FIFO: oldest first


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    # Pin timestamp semantics per FIXTURES.md §2 so results are identical to
    # the DuckDB oracle regardless of how the caller built the session:
    # - events.ts is parquet TIMESTAMP(NANOS), which Spark 4 refuses by
    #   default (PARQUET_TYPE_ILLEGAL): read nanos as long, truncate to µs
    #   below — exactly what DuckDB's reader does;
    # - naive parquet timestamps read as TimestampType under a UTC session
    #   (not NTZ), one convention for instants everywhere (schema.py).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ship_package(spark)
    key = (sf_dir, name)
    hit = _TABLE_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    _TABLE_MEMO[key] = (spark, df)
    return df

