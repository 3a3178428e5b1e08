"""Storage maintenance: small-file compaction for append-heavy stores.

Every per-epoch append (the ingestion gate's accepted store, the
parquet outbox, partitioned file sinks) adds a file per micro-batch —
at a 30 s poll interval that is ~2,880 files/day/object, and within
weeks scans are dominated by file-open overhead and driver-side
listing, the classic Spark small-files failure mode. The reference has
the same hygiene loop in miniature (directory-size eviction,
``FileExportService.cs``); at Spark scale the fix is rewriting many
small files into few right-sized ones.

``compact_parquet_dir`` rewrites a directory into
``ceil(bytes / target_file_bytes)`` files via an atomic
generation swap (``sinks/generations.py``): readers resolving the
``_CURRENT`` pointer never see a half-compacted state, and a crashed
compaction leaves the previous generation intact. Contract: one
maintenance writer at a time per store (run it from the housekeeping
loop, like DLQ purge); concurrent *appends* during compaction are not
lost — they land in the source directory, which stays the append
target, and the next compaction folds them in.

Reading through ``compacted_or_raw`` prefers the compacted generation
plus any files appended after it (by file modification order the
appends are newer than the compaction watermark recorded in the
pointer sidecar) — so compaction is transparent to readers and never
blocks the write path.
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trignis_spark.sinks.base import ExportContext
from trignis_spark.sinks.generations import GenerationStore

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024  # HDFS-block-ish


def _managed_table_dir(spark: SparkSession, table: str) -> str:
    """Filesystem directory where the warehouse keeps (or kept)
    ``table``'s data. Resolved via the owning *database's*
    ``locationUri`` rather than ``os.path.join(warehouse_dir, name)``
    (ADVICE r7): a db-qualified name (``db.tbl``) lives under
    ``<warehouse>/db.db/tbl``, and a session whose current database is
    not ``default`` stores unqualified names there too — the plain
    warehouse join only holds for unqualified names in ``default``."""
    from urllib.parse import urlparse

    if "." in table:
        db, tbl = table.rsplit(".", 1)
    else:
        db, tbl = spark.catalog.currentDatabase(), table
    loc = urlparse(spark.catalog.getDatabase(db).locationUri).path
    return os.path.join(loc, tbl.lower())


def drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS plus removal of any *orphaned warehouse
    location*: a fresh session starts with an empty in-memory catalog,
    but a previous session's ``saveAsTable`` files may still sit in the
    warehouse dir and would fail the next create with
    LOCATION_ALREADY_EXISTS. Local/derby-catalog concern only — with a
    shared metastore the catalog owns the locations."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    path = _managed_table_dir(spark, table)
    if os.path.isdir(path):
        shutil.rmtree(path)


def attach_table(spark: SparkSession, table: str,
                 bucket_cols: list[str] | None = None,
                 n_buckets: int | None = None,
                 sort_cols: list[str] | None = None) -> bool:
    """Register an existing warehouse table directory as an *external*
    parquet table in this session's catalog — the inverse of the
    orphaned-location problem ``drop_table_and_location`` handles: the
    local in-memory catalog forgets every ``saveAsTable`` registration
    when its session ends, so a serving process that restarts (or any
    fresh session probing an index a previous session built) finds the
    data on disk but no table. With a shared metastore (Hive/Glue) the
    catalog persists and this is a no-op.

    Schema *and partition columns* are inferred from the files; a
    partitioned layout then gets its partitions recovered (``MSCK
    REPAIR``) so dynamic partition pruning works exactly as on the
    original registration. ``bucketBy`` metadata cannot be inferred
    from files — pass ``bucket_cols``/``n_buckets`` (and ``sort_cols``
    if the original write sorted) matching the original spec, or
    bucketed *appends* to the re-attached table will be rejected for
    spec mismatch (reads would stay correct either way; the index
    attach_* wrappers read the spec from their meta tables). The
    original bucket hash and file naming are Spark's own, so the
    re-declared spec reads the existing files verbatim.

    Returns False when the table is already registered (idempotent)."""
    if spark.catalog.tableExists(table):
        return False
    path = _managed_table_dir(spark, table)
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"attach_table: no warehouse directory at {path} for "
            f"table {table}"
        )
    if bucket_cols:
        if not n_buckets:
            raise ValueError("attach_table: bucket_cols needs n_buckets")
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in spark.read.parquet(path).schema.fields
        )
        sort = (f" SORTED BY ({', '.join(sort_cols)})" if sort_cols
                else "")
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING parquet "
            f"CLUSTERED BY ({', '.join(bucket_cols)}){sort} "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    else:
        spark.sql(f"CREATE TABLE {table} USING parquet LOCATION '{path}'")
    if any(c.isPartition for c in spark.catalog.listColumns(table)):
        spark.sql(f"MSCK REPAIR TABLE {table}")
    return True


def table_location(spark: SparkSession, table: str) -> str:
    """Filesystem location of a catalog table (no Delta DESCRIBE DETAIL
    in plain parquet land; the catalog row carries it)."""
    from urllib.parse import urlparse

    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (row["col_name"] or "").strip() == "Location":
            return urlparse(row["data_type"].strip()).path
    raise ValueError(f"no location found for table {table}")


def table_data_files(spark: SparkSession, table: str) -> list[str]:
    return _data_files(table_location(spark, table))


def _is_external(spark: SparkSession, table: str) -> bool:
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (row["col_name"] or "").strip() == "Type":
            return row["data_type"].strip().upper() == "EXTERNAL"
    return False


def _swap_compacted(spark: SparkSession, table: str, tmp: str) -> None:
    """Swap the freshly-written managed sidecar ``tmp`` into ``table``'s
    name. Managed originals swap via two catalog renames (the rename
    moves the warehouse dir). An original registered through
    ``attach_table`` is EXTERNAL — its rename would leave the directory
    behind and the managed ``tmp`` rename then fails with
    LOCATION_ALREADY_EXISTS (measured: compaction after a serving
    restart, round 11) — so the external path drops the entry, moves
    the old directory aside, renames ``tmp`` into the canonical
    location, and deletes the old data. Same contract either way:
    appends quiesced, one maintenance writer."""
    old = f"{table}__old"
    if _is_external(spark, table):
        import shutil

        path = table_location(spark, table)
        aside = path + "__old"
        shutil.rmtree(aside, ignore_errors=True)
        spark.sql(f"DROP TABLE {table}")
        os.rename(path, aside)
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        shutil.rmtree(aside, ignore_errors=True)
    else:
        spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        spark.sql(f"DROP TABLE {old}")
    spark.catalog.refreshTable(table)


def compact_bucketed_table(
    spark: SparkSession,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    block_bytes: int | None = None,
) -> int:
    """Rewrite a bucketed managed table into ~one file per bucket.

    The persistent dedup/ANN index tables append one file set per poll
    cycle (``dedup_index.extend`` / ``extend_ann_index`` /
    ``extend_ivfpq_index``); under sustained polling that is the same small-files
    cliff ``ParquetCompactor`` handles for flat directories, but a
    bucketed table cannot be generation-swapped file-wise — the bucket
    spec lives in the catalog. Instead: rewrite into a same-spec
    sidecar table (repartitioned by the bucket column so each bucket
    lands in one task → one file), then swap via two catalog renames
    and drop the old data.

    Contract (same as ``ParquetCompactor``): one maintenance writer at
    a time, and *appends must be quiesced during the swap* — run it
    from the housekeeping loop between poll cycles, where the
    orchestrator already serializes cycle work. Readers in the same
    session see the swap atomically at the catalog level; cached plans
    are invalidated via ``refreshTable``.

    Returns the number of data files after compaction."""
    tmp, old = f"{table}__compacting", f"{table}__old"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    # Read the raw files, NOT spark.table(table): the bucketed scan
    # advertises HashPartitioning(bucket_col, n) so Catalyst eliminates
    # the repartition below — while auto-disabling the bucketed scan
    # itself (no operator benefits from it), leaving tasks holding
    # arbitrary file groups that span every bucket. One file per
    # (task, bucket) then yields ~tasks×buckets tiny files instead of
    # one per bucket. A plain parquet read has no partitioning claim,
    # so the repartition really executes and aligns task ↔ bucket.
    raw = spark.read.parquet(*table_data_files(spark, table))
    writer = (
        raw.repartition(n_buckets, F.col(bucket_col))
        .write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
    )
    if block_bytes is not None:
        writer = writer.option("parquet.block.size", str(block_bytes))
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(tmp)
    _swap_compacted(spark, table, tmp)
    return len(table_data_files(spark, table))


def compact_plain_table(
    spark: SparkSession, table: str, n_files: int | None = None
) -> int:
    """``compact_bucketed_table`` for an UNbucketed managed table (the
    membership-ids sidecars, which append one plain file per poll
    cycle by design): rewrite into ``n_files`` (default: the session's
    core count) via the same same-spec-sidecar + two-catalog-renames
    swap. Same contract: one maintenance writer, appends quiesced
    during the swap. Returns the post-compaction file count."""
    tmp, old = f"{table}__compacting", f"{table}__old"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    if n_files is None:
        n_files = spark.sparkContext.defaultParallelism
    raw = spark.read.parquet(*table_data_files(spark, table))
    (
        raw.repartition(n_files)
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(tmp)
    )
    _swap_compacted(spark, table, tmp)
    return len(table_data_files(spark, table))


def compact_sorted_table(
    spark: SparkSession,
    table: str,
    sort_col: str,
    n_files: int | None = None,
    block_bytes: int | None = None,
) -> int:
    """``compact_plain_table`` for a GLOBALLY-SORTED managed table (the
    near-dup index's doc-sorted verify table): every extend appends its own sorted
    run, which keeps row-group min-max pruning correct but accretes
    overlapping runs whose footers every probe must consult. Rewrite
    restores one global sorted run (``repartitionByRange`` +
    ``sortWithinPartitions``) with the table's small-row-group layout
    preserved via ``block_bytes``. Same swap + contract as the plain
    variant. Returns the post-compaction file count."""
    tmp, old = f"{table}__compacting", f"{table}__old"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    if n_files is None:
        n_files = spark.sparkContext.defaultParallelism
    raw = spark.read.parquet(*table_data_files(spark, table))
    writer = (
        raw.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
    )
    if block_bytes is not None:
        writer = writer.option("parquet.block.size", str(block_bytes))
    writer.format("parquet").saveAsTable(tmp)
    _swap_compacted(spark, table, tmp)
    return len(table_data_files(spark, table))


def _data_files(path: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(path):
        # never fold compaction output back in as input (Spark reads
        # also skip it: _-prefixed paths are metadata by convention)
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(out)


class ParquetCompactor(GenerationStore):
    """Compact one append-only parquet directory into right-sized files.

    Layout: appends land in ``path/`` (flat files); compacted
    generations live in ``path/_compacted/<object>/gen-<n>`` managed by
    :class:`GenerationStore`. The generation version is the count of
    source files folded in, so re-running compaction with no new
    appends is a no-op (same version ⇒ replay fast path).
    """

    def __init__(self, path: str,
                 target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES):
        self.path = os.path.join(path, "_compacted")
        self.source = path
        self.target_file_bytes = target_file_bytes
        self.keep_generations = 1
        self._ctx = ExportContext(object_name="store")

    # -- state -------------------------------------------------------------

    def _watermark_file(self) -> str:
        return os.path.join(self._root(self._ctx), "_SOURCES")

    def _compacted_sources(self) -> list[str]:
        try:
            with open(self._watermark_file(), encoding="utf-8") as f:
                return [ln.strip() for ln in f if ln.strip()]
        except OSError:
            return []

    # -- maintenance entry point -------------------------------------------

    def compact(self, spark: SparkSession) -> int:
        """Rewrite all current source files into few right-sized files.
        Returns the number of output files (0 = nothing to compact)."""
        files = _data_files(self.source)
        if not files:
            return 0
        version = len(files)
        if self.replay_of_applied(self._ctx, version):
            return 0  # same inputs already compacted
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total / self.target_file_bytes))
        df = spark.read.parquet(*files)
        self.commit_generation(df.repartition(n_out), self._ctx, version)
        with open(self._watermark_file(), "w", encoding="utf-8") as f:
            f.write("\n".join(files))
        return n_out

    # -- read path ----------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        """Compacted generation plus any appends newer than it; falls
        back to the raw directory when nothing was compacted yet."""
        cur = self.current_generation(self._ctx)
        if cur is None:
            return spark.read.parquet(self.source)
        folded = set(self._compacted_sources())
        fresh = [f for f in _data_files(self.source) if f not in folded]
        paths = [cur, *fresh]
        return spark.read.parquet(*paths)


def compact_partitioned_table(
    spark: SparkSession, table: str, part_col: str,
    sort_cols: list[str] | None = None,
    write_options: dict[str, str] | None = None,
) -> int:
    """`compact_bucketed_table`'s twin for *partitioned* managed tables
    (the IVF-PQ index's cell-partitioned float and codes tables, where
    every fold appends a file set into each touched cell partition).
    Same contract: one maintenance writer, appends quiesced during the
    rewrite. ``sort_cols`` keeps a within-partition sort and
    ``write_options`` (e.g. ``parquet.block.size``) apply to both data
    writes — the final ``insertInto`` ignores writer options, so they
    are set on the session's Hadoop configuration for its duration.

    Unlike the bucketed variant this does NOT use the rename swap: a
    partitioned managed table's catalog keeps *per-partition* locations
    that a table RENAME does not rewrite, so after the two renames the
    old table's stale partition entries point at the new table's
    directories and ``DROP TABLE old`` deletes the freshly compacted
    data (observed: table left holding only ``_SUCCESS``). Instead the
    compacted rows go to a plain sidecar table, then ``INSERT
    OVERWRITE`` rewrites the target in place (static overwrite mode
    replaces every partition) — two data writes, zero catalog surgery.

    **Crash exposure & recovery** (ADVICE r5): the INSERT OVERWRITE's
    failure window spans the whole second data write — a crash
    mid-insert leaves the live table partial while the sidecar still
    holds every row. Two guards make that window recoverable instead of
    data-losing: (1) a sidecar left behind by a crashed prior run is
    detected on entry and the target is rebuilt as
    **snapshot ∪ (target ⊖ snapshot)** — the multiset ``exceptAll``
    difference is exactly the rows appended since the snapshot, so
    recovery restores every row a partial overwrite dropped *and*
    preserves every append that landed after the crash, with no keys
    and no guessing (a sidecar orphaned weeks ago therefore folds in
    harmlessly instead of rolling the table back); (2) the sidecar is
    dropped only after the rewritten target row count is verified
    against snapshot + preserved appends, so a silently short insert
    can never destroy the last full copy; (3) the preserved appends
    are themselves persisted to a ``<table>__appends`` sidecar BEFORE
    the overwrite (ADVICE r6) — if the verification fails, a re-run
    folds them back in instead of recomputing extra from the
    now-short target and losing whatever the short insert dropped.

    A partitioned scan makes no hash-partitioning claim, so the
    ``repartition`` on the partition column is not optimized away (the
    bucketed variant needs a raw-file read for that; see above) — each
    partition value lands in exactly one task → one file per partition
    directory. Returns the post-compaction data-file count."""
    from pyspark.sql import functions as F

    tmp = f"{table}__compacting"
    apx = f"{table}__appends"
    apx_stage = f"{apx}__staging"
    extra = None
    if spark.catalog.tableExists(tmp):
        # A sidecar left behind means a prior run crashed after
        # committing its snapshot, and the target's state is unknown:
        # a crash mid-INSERT-OVERWRITE left it missing snapshot rows,
        # and if appends resumed since (quiesce violation) it also
        # holds rows the snapshot has never seen — possibly both at
        # once, which no row-count heuristic can tell apart. The
        # multiset difference can: target ⊖ snapshot (``exceptAll``) is
        # exactly the appended rows, whatever the overwrite dropped, so
        # snapshot ∪ (target ⊖ snapshot) restores every snapshot row
        # AND preserves every append — keyless and exact. (Residual:
        # an appended row byte-identical to a snapshot row is absorbed
        # into its multiplicity; the extends that feed these tables are
        # replay-idempotent, so such a duplicate carries no
        # information. A crash mid-sidecar-write never commits the tmp
        # table to the catalog, so tableExists ⇒ the snapshot is
        # whole.) ``extra`` is persisted to a SECOND sidecar table
        # before the overwrite (ADVICE r6): a localCheckpoint alone
        # dies with the session, so if the rewrite below lands
        # silently short, a re-run would recompute extra from the
        # now-short target and the dropped appends would be gone for
        # good. With the ``__appends`` sidecar they survive: a re-run
        # folds it back in — extra = prev ∪ ((target ⊖ snapshot) ⊖
        # prev), which re-adds exactly the preserved appends the short
        # insert dropped and counts the survivors once.
        spark.catalog.refreshTable(tmp)
        spark.catalog.refreshTable(table)
        cols = spark.table(tmp).columns
        extra = (
            spark.table(table)
            .select(*cols)
            .exceptAll(spark.table(tmp).select(*cols))
        )
        prev = None
        # prefer the staging sidecar: it exists only if a prior run
        # crashed between writing it and committing the rename, and it
        # is then the newer superset of __appends
        for t in (apx_stage, apx):
            if spark.catalog.tableExists(t):
                spark.catalog.refreshTable(t)
                prev = spark.table(t).select(*cols)
                break
        if prev is not None:
            extra = prev.unionByName(extra.exceptAll(prev))
        extra = extra.localCheckpoint(eager=True)
        # durably persist BEFORE the overwrite, via stage + rename so
        # the previous sidecar survives a crash mid-write
        spark.sql(f"DROP TABLE IF EXISTS {apx_stage}")
        extra.write.mode("overwrite").format("parquet").saveAsTable(
            apx_stage
        )
        spark.sql(f"DROP TABLE IF EXISTS {apx}")
        spark.sql(f"ALTER TABLE {apx_stage} RENAME TO {apx}")
    else:
        cols = spark.table(table).columns  # partition col listed last
        # a sidecar orphaned by a crash after a prior run's DROP of its
        # snapshot holds rows the table already contains; it must go
        # BEFORE the fresh snapshot write (ADVICE r7) — dropped after,
        # a crash in between would pair the fresh tmp with the stale
        # appends and the next recovery would fold those rows in twice.
        # Dropping first is safe: the orphan's rows are in the table
        # (its run verified+dropped tmp before crashing), so the
        # snapshot below carries them whether or not we crash next.
        for t in (apx_stage, apx):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        snap = spark.table(table).repartition(F.col(part_col))
        if sort_cols:
            # preserve a within-partition sort the layout depends on
            # (the ivfpq float base's v_sorted row-group pruning) —
            # an unsorted rewrite would silently strand the property
            # the meta row still declares
            snap = snap.sortWithinPartitions(part_col, *sort_cols)
        w = snap.write.mode("overwrite")
        for opt, val in (write_options or {}).items():
            w = w.option(opt, val)
        (
            w.partitionBy(part_col)
            .format("parquet")
            .saveAsTable(tmp)
        )
    src = spark.table(tmp).select(*cols)
    if extra is not None:
        src = src.unionByName(extra)
    src = src.repartition(F.col(part_col))
    if sort_cols:
        src = src.sortWithinPartitions(part_col, *sort_cols)
    with _static_partition_overwrite(spark), \
            _hadoop_conf(spark, write_options or {}):
        src.write.mode("overwrite").insertInto(table)
    spark.catalog.refreshTable(table)
    got = spark.table(table).count()
    want = spark.table(tmp).count() + (
        extra.count() if extra is not None else 0
    )
    if got != want:
        raise RuntimeError(
            f"compaction of {table} wrote {got} rows where the sidecar "
            f"{tmp} (+ preserved appends) holds {want}; sidecars "
            f"retained ({tmp}"
            + (f" and {apx}" if extra is not None else "")
            + ") — re-run compact_partitioned_table to restore"
        )
    spark.sql(f"DROP TABLE {tmp}")
    for t in (apx, apx_stage):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return len(table_data_files(spark, table))


@contextmanager
def _hadoop_conf(spark: SparkSession, opts: dict[str, str]):
    """Set ``opts`` on the SparkContext's Hadoop configuration for the
    duration, restoring the previous values after. ``insertInto`` drops
    ``DataFrameWriter.option``s (measured: a ``parquet.block.size``
    option left the rewritten files at the default row-group size),
    while every write copies this configuration when it starts. The
    configuration is shared by the context's sessions, so a concurrent
    write elsewhere sees the values too — maintenance runs with appends
    quiesced."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = {k: conf.get(k) for k in opts}
    for k, v in opts.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


@contextmanager
def _static_partition_overwrite(spark: SparkSession):
    """Force static partition-overwrite (replace ALL partitions) for
    the duration, restoring the caller's setting after."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "static")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
