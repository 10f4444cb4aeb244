"""Partitioned catalog sink — the engine's Iceberg-shaped table layer.

Mirrors the reference's sink semantics (``IcebergSinkBuilder.java:23-46`` +
``IcebergTableManager.java:27-90``). When the session advertises an Iceberg
catalog (``_iceberg_available``), DDL/DML go through the real thing:
``USING iceberg`` format-v2 merge-on-read tables, ``MERGE INTO`` upsert,
``overwritePartitions`` — the reference's equality-delete write profile.
Otherwise (this sandbox) the same operations fall back to parquet tables in
the session catalog with partition-scoped copy-on-write, and nothing above
this module changes:

* ``ensure_table`` — create-if-not-exists, identity-partitioned (O11);
* ``append``     — plain insert (documented by the reference's README,
  rejected by its code; we support it and keep the mode validation);
* ``overwrite``  — *dynamic* partition overwrite: only partitions present
  in the batch are replaced (O12-overwrite);
* ``upsert``     — last-writer-wins MERGE equivalent (O12-upsert): union
  the batch with the current rows of only the *affected partitions*, rank
  per equality key, dynamic-overwrite those partitions back. This is
  copy-on-write merge scoped to touched partitions — at 100 TB the rewrite
  cost is bounded by the partitions a batch touches, never the table.

The overwrite mode is a table property, as in Iceberg: every fallback table
is created with the dynamic partition-overwrite OPTION, which Spark reads on
each ``insertInto(overwrite)`` (a writer ``.option`` does not reach it). An
overwrite replaces only the partitions its rows land in, whatever the
session conf says, and the sink sets no session conf. Partitions that must
go (emptied by a purge, expired snapshots) are dropped by DDL.

Exactly-once: every committed batch records its epoch in a ``__commits``
ledger table; ``write_batch`` skips epochs already present, which makes the
``foreachBatch`` replay after a crash idempotent (the Spark commit-log role
of Flink's checkpoint barrier — SURVEY.md §3.4). The same record carries
the ingestor's source offsets, so data and progress publish together.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..config import IcebergSinkConfig, UnsupportedOperationError
from ..operators.merge import merge_upsert


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the blocks of a DataFrame returned by ``localCheckpoint``
    now, instead of when the JVM Dataset is garbage-collected and the
    ContextCleaner notices. Its analyzed plan is the LogicalRDD holding the
    blocks. Call it only once nothing will read ``df`` again: a
    checkpointed plan cannot recompute its blocks."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _hidden(name: str) -> bool:
    """Spark's rule for the names its file index never reads (``_SUCCESS``,
    ``.crc`` files, ``_temporary``); partition directories and parquet
    summary files are read."""
    if name.startswith("."):
        return True
    return (
        name.startswith("_")
        and "=" not in name
        and not name.startswith(("_metadata", "_common_metadata"))
    )


def _files_under(root: str):
    """Every file Spark would read under the local file or directory
    ``root``, walked on the driver in no particular order."""
    if os.path.isfile(root):
        yield root
        return
    for d, dirs, files in os.walk(root):
        dirs[:] = [n for n in dirs if not _hidden(n)]
        yield from (os.path.join(d, n) for n in files if not _hidden(n))


def file_signature(path: str) -> tuple | None:
    """``(path, length, mtime_ns)`` of every file Spark would read under
    ``path``, sorted: one driver-side walk, no Spark job. None when
    ``path`` names no local file or directory (a remote URI, a glob)."""
    root = path.removeprefix("file:")
    if "://" in root or any(c in root for c in "*?[{") or not os.path.exists(root):
        return None
    out = []
    for p in _files_under(root):
        try:
            st = os.stat(p)
        except FileNotFoundError:  # removed mid-walk: nothing to read
            continue
        out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _part_lit(val) -> str:
    """A partition-spec value as a SQL literal: ``NULL``, or a quoted string
    with backslashes and quotes escaped. The spec parser casts it to the
    partition column's type, so dates and ints round-trip; naked
    interpolation broke on dates, quotes and NULLs."""
    if val is None:
        return "NULL"
    return "'" + str(val).replace("\\", "\\\\").replace("'", "''") + "'"


def glue_catalog_confs(
    catalog_name: str, warehouse: str, *, region: str | None = None
) -> dict[str, str]:
    """Spark-session conf set that wires an Iceberg Glue catalog with
    S3FileIO — the Spark-submit equivalent of the reference's
    CatalogLoader.custom("glue", {type=iceberg, io-impl=S3FileIO,
    warehouse=…, impl=GlueCatalog}) (IcebergTableManager.java:66-73).

    Apply at session build (``for k, v in confs.items():
    builder.config(k, v)``); ``_iceberg_available`` then detects the
    catalog and CatalogSink routes DDL/DML through the Iceberg branch.
    """
    base = f"spark.sql.catalog.{catalog_name}"
    confs = {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        base: "org.apache.iceberg.spark.SparkCatalog",
        f"{base}.catalog-impl": "org.apache.iceberg.aws.glue.GlueCatalog",
        f"{base}.io-impl": "org.apache.iceberg.aws.s3.S3FileIO",
        f"{base}.warehouse": warehouse,
    }
    if region:
        confs[f"{base}.client.region"] = region
    return confs


class CatalogSink:
    def __init__(
        self,
        spark: SparkSession,
        cfg: IcebergSinkConfig,
        version_column: str | None = None,
    ):
        """``version_column`` orders last-writer-wins for upsert mode (the
        reference relies on Iceberg sequence numbers for this; a batch MERGE
        needs the ordering to be explicit).

        ``cfg.snapshots`` keeps a per-commit history table enabling
        ``read_as_of(epoch)`` time travel on the parquet fallback (under a
        real Iceberg catalog, ``VERSION AS OF`` is native and the history
        table is unnecessary — see ``read_as_of``)."""
        self.spark = spark
        self.cfg = cfg
        self.version_column = version_column
        # source offsets the next write_batch publishes in its ledger record
        self.progress: dict[str, int] | None = None
        self.table = f"{cfg.db}.{cfg.table_name}"
        self.commits = f"{cfg.db}.{cfg.table_name}__commits"
        self.history = f"{cfg.db}.{cfg.table_name}__history"
        self.iceberg = self._iceberg_available(spark)
        self._overwrite_checked = False
        self._location: str | None = None  # the data table's, once read
        self._epochs: set[int] | None = None  # the ledger's, once read
        self._offsets: tuple[int, dict[str, int]] | None = None  # newest carried
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {cfg.db}")

    # -- Iceberg branch (format-v2 merge-on-read parity) ---------------------

    @staticmethod
    def _iceberg_available(spark: SparkSession) -> bool:
        """True when the session is wired for Iceberg: the Iceberg SQL
        extensions are loaded or any configured catalog implementation
        mentions Iceberg (the reference assumes this unconditionally via
        its Glue catalog-loader, IcebergTableManager.java:66-73; here it is
        a capability probe so the same sink runs in both worlds)."""
        try:
            ext = spark.conf.get("spark.sql.extensions", "") or ""
        except Exception:
            ext = ""
        if "IcebergSparkSessionExtensions" in ext:
            return True
        # filtered in the JVM, so py4j calls grow with the catalog keys,
        # not with the whole conf: with 33 conf pairs and no catalog this
        # is 4 calls, where pyspark's getConf().getAll() made ~300
        try:
            catalogs = spark.sparkContext._jsc.getConf().getAllWithPrefix(
                "spark.sql.catalog."
            )
        except Exception:
            return False
        return any("iceberg" in str(kv._2()).lower() for kv in catalogs)

    def iceberg_create_sql(self, like: DataFrame) -> str:
        """CREATE TABLE … USING iceberg with identity partitioning and the
        format-v2 + merge-on-read upsert properties the reference sets
        (IcebergTableManager.java:75-90: create-if-absent, then upgrade to
        format-version 2 with upsert enabled; IcebergSinkBuilder.java:36-38
        turns on equality-delete upsert)."""
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in like.schema.fields
        )
        parts = list(self.cfg.partition_fields)
        part_clause = (
            f" PARTITIONED BY ({', '.join(parts)})" if parts else ""
        )
        props = (
            "'format-version'='2', 'write.upsert.enabled'='true', "
            "'write.delete.mode'='merge-on-read', "
            "'write.update.mode'='merge-on-read', "
            "'write.merge.mode'='merge-on-read'"
        )
        return (
            f"CREATE TABLE IF NOT EXISTS {self.table} ({cols}) USING iceberg"
            f"{part_clause} TBLPROPERTIES ({props})"
        )

    def iceberg_merge_sql(self, batch_view: str) -> str:
        """MERGE INTO on the equality fields — the declarative form of the
        reference's equality-delete upsert (IcebergSinkBuilder.java:31-43:
        upsert(true) + equalityFieldColumns). Last-writer-wins comes from
        Iceberg sequence numbers, so no explicit version ordering here."""
        keys = list(self.cfg.upsert_fields)
        on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
        return (
            f"MERGE INTO {self.table} t USING {batch_view} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )

    def _iceberg_write(self, batch: DataFrame) -> None:
        """Mode dispatch on a real Iceberg catalog: MERGE INTO for upsert,
        overwritePartitions for overwrite, appendTo for append — the
        metadata-commit forms whose write amplification is per-delete-file,
        not per-partition-rewrite (the COW fallback's profile)."""
        op = self.cfg.operation
        if op == "append":
            batch.writeTo(self.table).append()
        elif op == "overwrite":
            batch.writeTo(self.table).overwritePartitions()
        else:  # upsert
            view = f"__batch_{self.cfg.table_name}"
            batch.createOrReplaceTempView(view)
            try:
                self.spark.sql(self.iceberg_merge_sql(view))
            finally:
                self.spark.catalog.dropTempView(view)

    def iceberg_tag_sql(self, epoch: int) -> str:
        """Name the commit's snapshot after its epoch — Iceberg's native
        durable version handle (``ALTER TABLE … CREATE TAG``), letting
        ``read_as_of`` address commits by epoch instead of snapshot id."""
        return (
            f"ALTER TABLE {self.table} "
            f"CREATE OR REPLACE TAG `epoch_{int(epoch)}`"
        )

    def iceberg_as_of_sql(self, epoch: int) -> str:
        """Native time travel by epoch tag (``VERSION AS OF``) — under an
        Iceberg catalog the snapshot-history table is unnecessary."""
        return (
            f"SELECT * FROM {self.table} VERSION AS OF 'epoch_{int(epoch)}'"
        )

    # -- DDL (O11) ----------------------------------------------------------

    def _managed_location(self, table_name: str) -> str:
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        db_part = "" if self.cfg.db == "default" else f"{self.cfg.db}.db/"
        return f"{wh}/{db_part}{table_name}"

    def _create_or_reattach(
        self,
        name: str,
        like: DataFrame,
        partitioned: bool,
        part_override: list[str] | None = None,
    ) -> None:
        """Create the table at its managed location via explicit-schema DDL.
        If data files survive from a previous session while the (in-memory)
        catalog registration did not, the same DDL re-attaches them and
        partition recovery restores state — a driver restart resumes
        instead of crashing (the reference gets this from Glue being a
        persistent catalog, IcebergTableManager.java:66-73)."""
        loc = self._managed_location(name.split(".")[-1])
        if part_override is not None:
            parts = list(part_override)
        else:
            parts = list(self.cfg.partition_fields) if partitioned else []
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in like.schema.fields
        )
        part_clause = f"PARTITIONED BY ({', '.join(parts)})" if parts else ""
        existed = os.path.exists(loc)
        self.spark.sql(
            f"CREATE TABLE {name} ({cols}) USING parquet "
            f"OPTIONS ('partitionOverwriteMode'='dynamic') {part_clause} "
            f"LOCATION '{loc}'"
        )
        if parts and existed:
            self.spark.catalog.recoverPartitions(name)

    def _require_dynamic_overwrite(self) -> None:
        """Fail closed, once per instance and before its first write, on a
        partitioned data or history table that exists without the dynamic
        overwrite option (made by older code or a user's own DDL): under a
        static session conf its overwrites would erase the partitions a
        batch does not touch. ``DESCRIBE`` runs no Spark job."""
        if self._overwrite_checked or self.iceberg:
            return
        names = [self.table] if self.cfg.partition_fields else []
        if self.cfg.snapshots:
            names.append(self.history)
        for name in names:
            if not self.spark.catalog.tableExists(name):
                continue
            desc = self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            props = next(
                (r.data_type for r in desc if r.col_name == "Storage Properties"), ""
            )
            pairs = props.strip("[]").lower().split(", ")
            opts = dict(kv.partition("=")[::2] for kv in pairs)
            if opts.get("partitionoverwritemode") != "dynamic":
                raise ValueError(
                    f"{name} lacks the dynamic partition overwrite option, so"
                    " an overwrite could erase partitions its batch does not"
                    f" touch; run ALTER TABLE {name} SET SERDEPROPERTIES"
                    " ('partitionOverwriteMode'='dynamic') or recreate it"
                )
        self._overwrite_checked = True

    def _drop_partitions(self, name: str, specs: list[Row]) -> None:
        """Delete each partition of ``name`` (a Row of its values): directory
        first, since these external tables keep their files on DROP
        PARTITION and a reattach would recover them; then the DDL. A crash
        between the two leaves no rows to recover."""
        import shutil

        for spec in specs:
            clause = ", ".join(
                f"`{c}` = {_part_lit(v)}" for c, v in spec.asDict().items()
            )
            desc = self.spark.sql(
                f"DESCRIBE TABLE EXTENDED {name} PARTITION ({clause})"
            ).collect()
            # the partition's own Location row comes before the table's
            loc = next(r.data_type for r in desc if r.col_name == "Location")
            shutil.rmtree(loc.removeprefix("file:"), ignore_errors=True)
            self.spark.sql(f"ALTER TABLE {name} DROP IF EXISTS PARTITION ({clause})")

    def ensure_table(self, like: DataFrame) -> None:
        """Create-if-not-exists with identity partitioning
        (IcebergTableManager.java:75-90; under an Iceberg catalog the DDL
        carries the format-v2 + merge-on-read TBLPROPERTIES directly)."""
        self._require_dynamic_overwrite()
        if not self.spark.catalog.tableExists(self.table):
            self._location = None
            if self.iceberg:
                self.spark.sql(self.iceberg_create_sql(like))
            else:
                self._create_or_reattach(self.table, like, partitioned=True)
        if not self.spark.catalog.tableExists(self.commits):
            self._create_or_reattach(
                self.commits,
                self.spark.createDataFrame([], "epoch long"),
                partitioned=False,
            )
        if (
            self.cfg.snapshots
            and not self.iceberg  # native tags replace the history table
            and not self.spark.catalog.tableExists(self.history)
        ):
            self._create_or_reattach(
                self.history,
                like.withColumn("__epoch", F.lit(0).cast("long")),
                partitioned=True,
                part_override=["__epoch"] + list(self.cfg.partition_fields),
            )

    def read(self) -> DataFrame:
        return self.spark.table(self.table)

    def _table_location(self) -> str:
        """The data table's catalog Location. A table made elsewhere (user
        DDL, ``saveAsTable`` with a path) may live outside the managed
        location. ``DESCRIBE`` runs no Spark job, and the answer is kept
        until ``ensure_table`` next creates the table."""
        if self._location is None:
            desc = self.spark.sql(f"DESCRIBE TABLE EXTENDED {self.table}").collect()
            self._location = next(r.data_type for r in desc if r.col_name == "Location")
        return self._location

    def _data_files(self, first: bool = False) -> list[str]:
        """The data table's files, walked on the driver at its location
        (no Spark job); with ``first``, the walk stops at the first file.
        A remote location is listed by the table's file index."""
        root = self._table_location().removeprefix("file:")
        if "://" in root:
            return list(self.read().inputFiles())
        files = _files_under(root)
        return list(itertools.islice(files, 1)) if first else list(files)

    # -- snapshots / time travel (Iceberg VERSION AS OF parity) --------------

    def _snapshot(
        self, batch: DataFrame, epoch: int, post_state: DataFrame | None = None
    ) -> None:
        """Record the post-commit state of every partition the commit
        touched, tagged with the commit epoch — the parquet fallback's
        manifest: (epoch, partition) → rows.  Write amplification is the
        touched partitions once more per commit, the same bound as the
        upsert COW itself; untouched partitions are never re-recorded
        (their reconstruction reuses their last snapshot).

        ``post_state`` short-circuits the target read-back when the write
        path holds the touched partitions' new rows in a form that does not
        read the table (a bootstrap upsert's merge, an unpartitioned
        upsert's checkpoint, the overwrite's batch) — the snapshot then
        costs one write, zero extra table scans."""
        parts = list(self.cfg.partition_fields)
        if post_state is not None:
            state = post_state
        else:
            state = self.read()
            if parts:
                touched = batch.select(*parts).distinct()
                state = state.join(
                    F.broadcast(touched), on=parts, how="left_semi"
                )
        snap = state.withColumn("__epoch", F.lit(int(epoch)).cast("long"))
        cols = self.spark.table(self.history).columns
        # dynamic-overwrite the (epoch, partition) directories instead of
        # appending: a crash between this write and the ledger record makes
        # the foreachBatch replay re-run the epoch, and an append would
        # then double every row of the epoch's snapshots. Overwriting the
        # same partitions is idempotent under replay.
        snap.select(*cols).write.format("parquet").mode("overwrite").insertInto(
            self.history, overwrite=True
        )

    def read_as_of(self, epoch: int) -> DataFrame:
        """The table's state as of commit ``epoch`` (inclusive) — Iceberg's
        ``SELECT … VERSION AS OF`` on the parquet fallback.  Per partition
        value, the rows of its newest snapshot ≤ epoch; partitions first
        written later don't exist yet.  The ``__epoch <= epoch`` predicate
        prunes history partitions at scan time (history is partitioned by
        ``__epoch``), and the newest-snapshot selection is one window over
        the partition columns — metadata-shaped, not table-shaped, because
        only touched-partition snapshots exist.

        Under a real Iceberg catalog use
        ``spark.sql(f"SELECT * FROM {table} VERSION AS OF …")`` instead —
        the history table is a fallback-only artifact."""
        if not self.cfg.snapshots:
            raise ValueError("sink config has snapshots=False")
        if self.iceberg:
            return self.spark.sql(self.iceberg_as_of_sql(epoch))
        from pyspark.sql import Window as W

        h = self.spark.table(self.history).filter(F.col("__epoch") <= int(epoch))
        parts = list(self.cfg.partition_fields)
        w = W.partitionBy(*parts) if parts else W.partitionBy(F.lit(1))
        return (
            h.withColumn("__max_e", F.max("__epoch").over(w))
            .filter(F.col("__epoch") == F.col("__max_e"))
            .drop("__epoch", "__max_e")
        )

    def diff_versions(self, from_epoch: int, to_epoch: int) -> DataFrame:
        """Changelog view between two committed versions — Iceberg's
        changelog scan (``table_changes`` / CDC read) on the snapshot
        fallback: every row keyed by the sink's equality fields is
        classified ``inserted`` (absent at ``from_epoch``), ``deleted``
        (absent at ``to_epoch``), ``updated`` (present in both, any
        non-key column differs — NULL-safe comparison), or ``unchanged``.

        Scale shape: one full-outer equi-join of the two as-of states on
        the equality keys (both sides are snapshot reconstructions that
        scan only touched-partition history); classification is a
        map-side projection. Downstream CDC consumers filter out
        ``unchanged`` — kept here so audits can assert conservation
        (counts sum to the union of both states).
        """
        keys = list(self.cfg.upsert_fields)
        a = self.read_as_of(from_epoch)
        b = self.read_as_of(to_epoch)
        vals = [c for c in a.columns if c not in keys]
        al = a.select(
            *[F.col(k).alias(k) for k in keys],
            *[F.col(c).alias(f"__a_{c}") for c in vals],
            F.lit(1).alias("__in_a"),
        )
        bl = b.select(
            *[F.col(k).alias(k) for k in keys],
            *[F.col(c).alias(f"__b_{c}") for c in vals],
            F.lit(1).alias("__in_b"),
        )
        j = al.join(bl, on=keys, how="full_outer")
        changed = None
        for c in vals:
            d = ~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
            changed = d if changed is None else (changed | d)
        change = (
            F.when(F.col("__in_a").isNull(), F.lit("inserted"))
            .when(F.col("__in_b").isNull(), F.lit("deleted"))
            .when(
                changed if changed is not None else F.lit(False),
                F.lit("updated"),
            )
            .otherwise(F.lit("unchanged"))
        )
        return j.select(*keys, change.alias("change_type"))

    def expire_snapshots(self, keep_last: int = 100) -> None:
        """Iceberg ``expire_snapshots`` parity for the fallback history:
        drop snapshots older than the trailing window EXCEPT each
        partition's newest one (dropping that would lose the partition
        from every reconstruction, current included — the reason Iceberg
        expiry never removes files referenced by the current snapshot).
        Each snapshot is one ``(__epoch, partition…)`` history partition, so
        an expired one is dropped by DDL and no kept snapshot is rewritten."""
        from pyspark.sql import Window as W

        hi = self.last_epoch()
        parts = list(self.cfg.partition_fields)
        w = W.partitionBy(*parts) if parts else W.partitionBy(F.lit(1))
        snaps = self.spark.table(self.history).select("__epoch", *parts).distinct()
        expired = (
            snaps.withColumn("__max_e", F.max("__epoch").over(w))
            .filter(
                (F.col("__epoch") <= hi - keep_last)
                & (F.col("__epoch") != F.col("__max_e"))
            )
            .drop("__max_e")
        )
        self._drop_partitions(self.history, expired.collect())

    def purge_keys(self, keys: DataFrame) -> None:
        """GDPR-style hard delete: remove every row matching ``keys`` (on
        the sink's equality/upsert fields) from the LIVE table AND from
        every retained snapshot — the right-to-be-forgotten operation
        snapshot stores make hard, because an ordinary delete commit
        leaves the data readable through time travel.

        Scale shape: both rewrites are pruned to the partitions the keys
        live in (the equality fields contain the partition fields, the
        upsert-config invariant), so the cost is touched-partitions
        rewritten once — the equality-delete-compaction bound, not a full
        table rewrite.  Partitions left EMPTY by the purge are dropped via
        DDL (a dynamic overwrite cannot express "this partition now has
        zero rows").  Under an Iceberg catalog issue ``DELETE FROM`` and
        run snapshot expiry instead — tagged snapshots retain purged rows
        until expired, which is exactly why this fallback rewrites its
        history table in place.

        Out-of-band maintenance: no epoch is consumed; ``read_as_of``
        reconstructions afterwards are purge-consistent by construction.
        """
        kcols = list(self.cfg.upsert_fields)
        if not kcols:
            raise ValueError("purge_keys needs upsert_fields as the key set")
        # Validate BEFORE mutating anything: a NULL in any key field can
        # never match the anti-join (such rows would silently survive the
        # purge), and a NULL partition value cannot be expressed in a DROP
        # PARTITION spec — failing mid-loop would leave a half-applied
        # purge (live table rewritten, history not).
        null_pred = None
        for k in kcols:
            c = F.col(k).isNull()
            null_pred = c if null_pred is None else (null_pred | c)
        if keys.filter(null_pred).limit(1).count() > 0:
            raise ValueError(
                "purge_keys: NULL values in key fields "
                f"{kcols} — NULL keys never match rows and cannot be purged"
            )
        if self.iceberg:
            keys.createOrReplaceTempView("__purge_keys")
            on = " AND ".join(f"t.{k} = p.{k}" for k in kcols)
            self.spark.sql(
                f"DELETE FROM {self.table} t WHERE EXISTS ("
                f"SELECT 1 FROM __purge_keys p WHERE {on})"
            )
            return
        self._require_dynamic_overwrite()
        parts = list(self.cfg.partition_fields)
        kset = keys.select(*kcols).distinct().localCheckpoint(eager=True)
        targets = [(self.table, parts)]
        if self.cfg.snapshots and self.spark.catalog.tableExists(self.history):
            targets.append((self.history, ["__epoch"] + parts))
        for name, pcols in targets:
            tbl = self.spark.table(name)
            scoped = (
                tbl.join(F.broadcast(kset.select(*parts).distinct()), on=parts,
                         how="left_semi")
                if parts
                else tbl
            )
            kept = scoped.join(F.broadcast(kset), on=kcols, how="left_anti")
            cols = tbl.columns
            materialized = kept.select(*cols).localCheckpoint(eager=True)
            if pcols:
                # partitions the purge emptied entirely: no kept row lands
                # there, so the dynamic overwrite skips them — drop by DDL
                before = scoped.select(*pcols).distinct()
                after = materialized.select(*pcols).distinct()
                self._drop_partitions(name, before.exceptAll(after).collect())
            materialized.write.format("parquet").mode("overwrite").insertInto(
                name, overwrite=True
            )

    # -- exactly-once ledger ------------------------------------------------

    # The epoch ledger is METADATA — one row per commit — so its reads and
    # appends are driver-side file operations, not distributed jobs: a
    # one-row Spark write costs a full job-launch round trip (~0.5 s of
    # scheduler latency at ANY data scale, three times per commit), which
    # is why Iceberg's own commit protocol does its metadata writes on the
    # driver. The ledger stays a registered parquet TABLE of ``epoch`` that
    # external readers query with spark.table — the driver appends one
    # file per commit atomically (write temp + rename) into its location
    # and refreshes the catalog's cached file listing. A record may also
    # carry the source's ``offsets`` (map<string,bigint>, read by the
    # driver only), so the rename that publishes an epoch publishes the
    # ingestor's progress with it: one durable step, as the reference's
    # checkpoint barrier covers its offset state and its Iceberg commit.
    # The in-memory epoch set and newest offsets are a cache only; a fresh
    # sink instance rebuilds them from the files (restart-safe under the
    # documented single-writer-per-table contract).

    def _ledger_location(self) -> str:
        return self._managed_location(f"{self.cfg.table_name}__commits")

    def _ledger_files(self):
        """``(path, records)`` of every ledger file, read with pyarrow on
        the driver. A record written before records carried offsets has
        none, and a file rewritten by Spark may hold several records."""
        import pyarrow.parquet as pq

        for p in _files_under(self._ledger_location()):
            yield p, pq.read_table(p).to_pylist()

    def _note(self, epoch: int, offsets) -> None:
        self._epochs.add(epoch)
        if offsets is not None and (self._offsets is None or epoch >= self._offsets[0]):
            self._offsets = (epoch, dict(offsets))

    def _ledger_epochs(self) -> set[int]:
        if self._epochs is None:
            self._epochs = set()
            for _, records in self._ledger_files():
                for r in records:
                    self._note(r["epoch"], r.get("offsets"))
        return self._epochs

    def last_epoch(self) -> int:
        """Highest committed epoch (0 if none) — lets a restarted driver
        resume its epoch counter past what is already durable."""
        epochs = self._ledger_epochs()
        return max(epochs) if epochs else 0

    def committed_offsets(self) -> dict[str, int]:
        """The source offsets of the newest ledger record that carries
        them (``{}`` if none): what the ingestor had fetched when that
        epoch's data committed. Read with the epoch set, so no Spark job
        and, after a commit, no file read."""
        self._ledger_epochs()
        return dict(self._offsets[1]) if self._offsets else {}

    def _committed(self, epoch: int) -> bool:
        return int(epoch) in self._ledger_epochs()

    def _record(self, epoch: int, offsets: dict[str, int] | None) -> None:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        loc = self._ledger_location()
        os.makedirs(loc, exist_ok=True)
        name = f"epoch-{int(epoch)}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(loc, f".{name}.tmp")  # dot-prefixed: invisible to scans
        record = {
            "epoch": pa.array([int(epoch)], pa.int64()),
            "offsets": pa.array([offsets], pa.map_(pa.string(), pa.int64())),
        }
        pq.write_table(pa.table(record), tmp)
        os.rename(tmp, os.path.join(loc, name))  # atomic publish
        self._ledger_epochs()  # loaded before _note adds to it
        self._note(int(epoch), offsets)
        # drop the catalog's cached file listing so spark.table(commits)
        # sees the new marker (driver-only, no job)
        self.spark.catalog.refreshTable(self.commits)

    # -- modes (O12) --------------------------------------------------------

    def write_batch(self, batch: DataFrame, epoch: int) -> str:
        """Mode-dispatched commit; replayed epochs are no-ops. Returns the
        action taken (for tests/observability). The ledger record carries
        ``progress``, which the call consumes whether or not it commits."""
        progress, self.progress = self.progress, None
        self.ensure_table(batch)
        if self._committed(epoch):
            return "skipped-replay"
        op = self.cfg.operation
        if self.iceberg:
            if op not in ("append", "overwrite", "upsert"):
                raise UnsupportedOperationError(op)
            self._iceberg_write(self._aligned(batch))
            if self.cfg.snapshots:
                # tag the fresh snapshot with the epoch: the durable
                # version handle native VERSION AS OF addresses
                self.spark.sql(self.iceberg_tag_sql(epoch))
            self._record(epoch, progress)
            return f"iceberg-{op}"
        post: DataFrame | None = None
        held: list[DataFrame] = []  # checkpoints this commit made
        try:
            if op == "append":
                self._append(batch)  # post-state needs the read-back
            elif op == "overwrite":
                post = self._overwrite(batch)
            elif op == "upsert":
                post = self._upsert(batch, held)
            else:  # unreachable: config validates, but keep the reference's throw
                raise UnsupportedOperationError(op)
            if self.cfg.snapshots:
                self._snapshot(batch, epoch, post_state=post)
        finally:
            for df in held:
                release_checkpoint(df)
        self._record(epoch, progress)
        return op

    def _aligned(self, df: DataFrame) -> DataFrame:
        """insertInto is positional and partitioned tables store partition
        columns last — reorder to the table's physical column order."""
        return df.select(*self.read().columns)

    def _append(self, batch: DataFrame) -> None:
        self._aligned(batch).write.format("parquet").mode("append").insertInto(self.table)

    def _overwrite(self, batch: DataFrame) -> DataFrame:
        # dynamic (a table option): only partitions present in `batch` are
        # replaced — the batch IS the touched partitions' post-state
        self._aligned(batch).write.format("parquet").mode("overwrite").insertInto(
            self.table
        )
        return batch

    def _upsert_merge(self, batch: DataFrame, target_empty: bool) -> DataFrame:
        """The post-state of every partition the batch touches, in the
        table's column order: the batch unioned with those partitions'
        current rows, last writer wins per equality key. Against an empty
        target (first commit, initial load) it is the batch's own dedup."""
        keys = list(self.cfg.upsert_fields)
        version = self.version_column or keys[-1]
        parts = list(self.cfg.partition_fields)
        src = batch.withColumn("__src", F.lit(1))
        if not target_empty:
            current = self.read()
            if parts:
                # restrict the rewrite to partitions the batch touches: the
                # MERGE ON <equality fields> target-side partition pruning
                touched = batch.select(*parts).distinct()
                current = current.join(F.broadcast(touched), on=parts, how="left_semi")
            src = current.withColumn("__src", F.lit(0)).unionByName(src)
        if parts:
            # One exchange, on the partition fields. They are a subset of
            # the equality keys (the config enforces it), so the per-key
            # window below needs no second shuffle, and each touched
            # partition lands in one writer task: one file per partition
            # per commit, not a sliver from every shuffle task (for a
            # partition too big for one task, add a bucketing term).
            # Partition fields first in the window key, so its sort is also
            # the writer's.
            src = src.repartition(*parts)
            keys = parts + [k for k in keys if k not in parts]
        merged = merge_upsert(src, keys, version, tiebreakers=["__src"])
        return self._aligned(merged.drop("__src"))

    def _self_overwrite(
        self, df: DataFrame, held: list[DataFrame]
    ) -> DataFrame | None:
        """Overwrite the table with ``df``, a plan that reads the table
        itself. A dynamic partition overwrite stages its output, so a
        partitioned table may be read by its own insert. An unpartitioned
        one may not (``UNSUPPORTED_OVERWRITE.TABLE``): ``df`` is
        materialized first, and the copy, appended to ``held`` for the
        caller to release, is returned. None when nothing was
        materialized."""
        copy = None
        if not self.cfg.partition_fields:
            df = copy = df.localCheckpoint(eager=True)
            held.append(copy)
        df.write.format("parquet").mode("overwrite").insertInto(self.table)
        return copy

    def _upsert(self, batch: DataFrame, held: list[DataFrame]) -> DataFrame | None:
        """Copy-on-write MERGE of ``batch`` into the touched partitions in one
        write job. Returns the touched partitions' post-state when it is
        at hand without reading the table again, else None (the snapshot
        then reads them back)."""
        # The ledger, or else the table's own files (a driver-side walk of
        # its location): a table that holds rows without ledger epochs
        # (made elsewhere, or its ledger lost) still merges, and a replay
        # after a crashed bootstrap merges with that attempt's own rows,
        # idempotent either way.
        target_empty = not (self._ledger_epochs() or self._data_files(first=True))
        merged = self._upsert_merge(batch, target_empty)
        if target_empty:  # the merge reads no table
            merged.write.format("parquet").mode("overwrite").insertInto(self.table)
            return merged
        # a partitioned merge read the table it replaced: the snapshot
        # reads the post-state back rather than evaluate the merge again
        return self._self_overwrite(merged, held)

    # -- maintenance (Iceberg rewrite_data_files / expire_snapshots parity) --

    def iceberg_compact_sql(self) -> str:
        """The Iceberg-catalog form: bin-packing data-file rewrite via the
        stored procedure (Spark action of `rewrite_data_files`) — what this
        sink would run instead of the COW fallback below."""
        cat = "spark_catalog"
        return (
            f"CALL {cat}.system.rewrite_data_files(table => '{self.table}', "
            "options => map('min-input-files','2'))"
        )

    def compact(self) -> int:
        """Small-file compaction for the parquet fallback: every streaming
        commit writes ≥1 file per touched partition, so a long-running
        ingest accretes files until scans drown in open/seek overhead —
        the reason Iceberg ships rewrite_data_files. Rewrites each
        partition to ONE file (writer tasks aligned with partitions via
        repartition; for partitions larger than a task add a bucketing
        term). Returns the number of data files after compaction.

        At 100 TB you'd run this per-partition with a size predicate
        (only partitions whose file count exceeds a threshold), off the
        ingest path; the rewrite cost is bounded by the partitions
        compacted, exactly like the upsert COW.
        """
        if self.iceberg:
            self.spark.sql(self.iceberg_compact_sql())
            return -1
        self._require_dynamic_overwrite()
        parts = list(self.cfg.partition_fields)
        current = self.read()
        current = current.repartition(*parts) if parts else current.coalesce(1)
        held: list[DataFrame] = []
        try:
            self._self_overwrite(self._aligned(current), held)
        finally:
            for df in held:
                release_checkpoint(df)
        return len(self._data_files())

    def expire_commits(self, keep_last: int = 100) -> None:
        """Ledger hygiene (Iceberg expire_snapshots parity): the epoch
        ledger grows one record per commit forever; keep the trailing
        ``keep_last`` epochs that replay detection actually needs (a
        restarted stream can only replay epochs since its checkpoint).
        Driver-side deletes: a file goes only when every epoch in it has
        expired, and never the one whose offsets are live, so no kept
        record is rewritten and no offsets are lost. ``keep_last`` must be
        at least 1: an empty ledger would restart the epoch counter and
        the offsets at 0."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be at least 1, got {keep_last}")
        hi = self.last_epoch()
        live = self._offsets[0] if self._offsets else None
        for p, records in self._ledger_files():
            epochs = [r["epoch"] for r in records]
            if live not in epochs and all(e <= hi - keep_last for e in epochs):
                os.remove(p)
                self._epochs.difference_update(epochs)
        self.spark.catalog.refreshTable(self.commits)


def write_audit_publish(
    spark: SparkSession,
    staging: "CatalogSink",
    final: "CatalogSink",
    batch: DataFrame,
    key_field: str,
    epoch: int = 1,
) -> DataFrame:
    """The Iceberg Write-Audit-Publish pattern over two sinks: commit the
    batch to a STAGING table first, audit the staged state (duplicate
    keys, NULL keys, non-positive price — the contract the reference's
    MERGE assumes, `IcebergSinkBuilder.java:31-43` commit discipline),
    and only if every audit passes, publish by committing the staged
    read-back to the FINAL table. Consumers read only the final table,
    so a bad batch never becomes visible — the difference between "we
    can roll back" and "nobody ever saw it".

    Emits the audit report plus the published row count (0 when any
    audit fails and publication is withheld). The publish decision is
    one driver-side boolean off three counter aggregates — the same
    orchestration altitude as the reference's job driver; nothing
    row-sized is collected.
    """
    staging.write_batch(batch, epoch)
    staged = staging.read()
    price = F.col("o_totalprice")
    audits = staged.agg(
        (F.count(F.lit(1)) - F.countDistinct(key_field)).alias("dup_keys"),
        F.sum(F.col(key_field).isNull().cast("int")).alias("null_keys"),
        F.sum((price <= 0).cast("int")).alias("bad_price"),
    ).collect()[0]
    checks = [
        ("staged.key unique", int(audits.dup_keys or 0)),
        ("staged.key not_null", int(audits.null_keys or 0)),
        ("staged.price positive", int(audits.bad_price or 0)),
    ]
    publish = all(v == 0 for _, v in checks)
    n_published = 0
    if publish:
        # count the rows THIS publish appends (the staged batch), not the
        # final table's total — the final table may already hold rows from
        # earlier epochs/runs, and reporting its full count as
        # "n_published" would overstate this batch's contribution
        n_published = staged.count()
        final.write_batch(staged, epoch)
    rows = [
        (name, v, v == 0, publish, n_published) for name, v in checks
    ]
    return spark.createDataFrame(
        rows,
        "check_name string, n_violations bigint, passed boolean,"
        " published boolean, n_published bigint",
    )
