"""Small-file compaction: row preservation, file-count reduction,
no-new-appends no-op, and the read path folding post-compaction
appends back in."""

import os

import pytest
from pyspark.sql import functions as F

from trignis_spark.maintenance import ParquetCompactor, _data_files


def _append(spark, path, start, n):
    spark.range(start, start + n).withColumn(
        "payload", F.concat(F.lit("row-"), F.col("id"))
    ).coalesce(1).write.mode("append").parquet(path)


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    path = str(tmp_path / "store")
    for i in range(6):  # six per-epoch appends = six small files
        _append(spark, path, 100 * i, 50)
    assert len(_data_files(path)) == 6

    comp = ParquetCompactor(path, target_file_bytes=10**9)
    assert comp.compact(spark) == 1  # everything fits one target file

    got = comp.read(spark)
    assert got.count() == 300
    assert got.select(F.sum("id")).first()[0] == sum(
        sum(range(100 * i, 100 * i + 50)) for i in range(6)
    )
    # raw files still present (append target), compacted gen exists
    assert len(_data_files(path)) == 6
    assert comp.current_generation(comp._ctx) is not None


def test_recompaction_without_new_appends_is_noop(spark, tmp_path):
    path = str(tmp_path / "store")
    _append(spark, path, 0, 50)
    comp = ParquetCompactor(path)
    assert comp.compact(spark) == 1
    assert comp.compact(spark) == 0  # same inputs: replay fast path


def test_read_folds_in_appends_after_compaction(spark, tmp_path):
    path = str(tmp_path / "store")
    _append(spark, path, 0, 50)
    comp = ParquetCompactor(path)
    comp.compact(spark)

    _append(spark, path, 1000, 25)  # lands after the compaction watermark
    got = comp.read(spark)
    assert got.count() == 75
    assert got.filter("id >= 1000").count() == 25

    # the next compaction folds the newcomers in
    assert comp.compact(spark) == 1
    assert comp.read(spark).count() == 75


def test_read_before_any_compaction_serves_raw(spark, tmp_path):
    path = str(tmp_path / "store")
    _append(spark, path, 0, 10)
    assert ParquetCompactor(path).read(spark).count() == 10


def test_partitioned_compaction_recovers_from_crashed_prior_run(spark):
    """ADVICE r5: a crash mid-INSERT-OVERWRITE leaves the live
    partitioned table partial while the ``__compacting`` sidecar holds
    every row. Re-running the compaction must restore from the sidecar
    (never re-snapshot the partial target), and the sidecar must
    survive until the rewritten target's row count is verified."""
    from trignis_spark.maintenance import compact_partitioned_table

    table, tmp = "maint_part_t", "maint_part_t__compacting"
    try:
        df = spark.range(0, 200).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("pb"),
        )
        (
            df.repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(table)
        )
        # simulate the crash: sidecar committed, target rewrite partial
        (
            spark.table(table).repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(tmp)
        )
        (
            spark.table(tmp).filter("doc_id < 50").repartition("pb")
            .write.mode("overwrite").insertInto(table, overwrite=True)
        )
        spark.catalog.refreshTable(table)
        assert spark.table(table).count() == 50  # target is partial
        compact_partitioned_table(spark, table, "pb")
        got = {r.doc_id for r in spark.table(table).collect()}
        assert got == set(range(200))
        assert not spark.catalog.tableExists(tmp)  # verified, then dropped
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def test_partitioned_compaction_normal_path_roundtrip(spark):
    from trignis_spark.maintenance import (
        compact_partitioned_table,
        table_data_files,
    )

    table = "maint_part_n"
    try:
        df = spark.range(0, 120).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 3).cast("int").alias("pb"),
        )
        (
            df.repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(table)
        )
        for lo in (120, 240):  # appends accrete files per partition
            extra = spark.range(lo, lo + 120).select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 3).cast("int").alias("pb"),
            )
            extra.write.mode("append").partitionBy("pb") \
                .format("parquet").saveAsTable(table)
        before_files = len(table_data_files(spark, table))
        n = compact_partitioned_table(spark, table, "pb")
        assert n < before_files
        assert spark.table(table).count() == 360
        assert not spark.catalog.tableExists(table + "__compacting")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compacting")


def test_partitioned_compaction_applies_write_options(spark):
    """``write_options`` reach the final ``insertInto``, which drops
    ``DataFrameWriter.option``s: a table written without a row-group
    bound in its catalog options is rewritten with the requested
    ``parquet.block.size`` (several row groups per partition file), and
    the Hadoop configuration is restored afterwards."""
    import pyarrow.parquet as papq

    from trignis_spark.maintenance import (
        compact_partitioned_table,
        table_data_files,
    )

    table = "maint_part_opts"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    try:
        spark.range(0, 600).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 2).cast("int").alias("pb"),
        ).repartition("pb").write.mode("overwrite").partitionBy("pb") \
            .format("parquet").saveAsTable(table)
        assert {papq.ParquetFile(f).num_row_groups
                for f in table_data_files(spark, table)} == {1}
        compact_partitioned_table(
            spark, table, "pb", sort_cols=["doc_id"],
            write_options={"parquet.block.size": "1024"},
        )
        groups = [papq.ParquetFile(f).num_row_groups
                  for f in table_data_files(spark, table)]
        assert len(groups) == 2 and min(groups) > 1, groups
        assert spark.table(table).count() == 600
        assert hconf.get("parquet.block.size") is None
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compacting")


def test_partitioned_compaction_ignores_stale_sidecar_after_appends(spark):
    """A sidecar orphaned by a long-past crash must NOT roll back rows
    appended since: when the target holds at least the snapshot's rows
    the target is authoritative — the stale sidecar is dropped and the
    compaction re-snapshots the live table."""
    from trignis_spark.maintenance import compact_partitioned_table

    table, tmp = "maint_part_stale", "maint_part_stale__compacting"
    try:
        df = spark.range(0, 100).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("pb"),
        )
        (
            df.repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(table)
        )
        # crash left a complete sidecar behind (overwrite finished but
        # the verified drop never ran)...
        (
            spark.table(table).repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(tmp)
        )
        # ...and polling resumed, appending new rows to the target
        extra = spark.range(100, 140).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("pb"),
        )
        extra.write.mode("append").partitionBy("pb") \
            .format("parquet").saveAsTable(table)
        compact_partitioned_table(spark, table, "pb")
        got = {r.doc_id for r in spark.table(table).collect()}
        assert got == set(range(140))  # appends survived
        assert not spark.catalog.tableExists(tmp)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def test_partitioned_compaction_recovers_partial_target_with_appends(spark):
    """The worst crash shape: the overwrite died mid-write (target is
    missing snapshot rows) AND appends resumed on the partial table.
    Recovery must restore every snapshot row and keep every append —
    the multiset exceptAll union does both."""
    from trignis_spark.maintenance import compact_partitioned_table

    table, tmp = "maint_part_worst", "maint_part_worst__compacting"
    try:
        df = spark.range(0, 200).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("pb"),
        )
        (
            df.repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(table)
        )
        # complete snapshot committed...
        (
            spark.table(table).repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(tmp)
        )
        # ...overwrite crashed mid-write (target keeps 50 of 200)...
        (
            spark.table(tmp).filter("doc_id < 50").repartition("pb")
            .write.mode("overwrite").insertInto(table, overwrite=True)
        )
        spark.catalog.refreshTable(table)
        # ...and polling resumed, appending 30 new rows
        extra = spark.range(500, 530).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("pb"),
        )
        extra.write.mode("append").partitionBy("pb") \
            .format("parquet").saveAsTable(table)
        compact_partitioned_table(spark, table, "pb")
        got = {r.doc_id for r in spark.table(table).collect()}
        assert got == set(range(200)) | set(range(500, 530))
        assert not spark.catalog.tableExists(tmp)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def test_partitioned_compaction_appends_sidecar_survives_short_insert(spark):
    """ADVICE r6: if a RECOVERY run's own INSERT OVERWRITE lands
    silently short, the preserved appends existed only in a
    localCheckpoint that dies with the session — a re-run recomputed
    extra from the now-short target and the appends were gone for
    good. Now the recovery run persists them to ``<table>__appends``
    BEFORE the overwrite; simulate the post-crash state (snapshot
    sidecar + appends sidecar committed, target short of BOTH) and
    assert the re-run restores every snapshot row AND every append,
    then cleans both sidecars up."""
    from trignis_spark.maintenance import compact_partitioned_table

    table = "maint_part_apx"
    tmp, apx = f"{table}__compacting", f"{table}__appends"
    try:
        df = spark.range(0, 200).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("pb"),
        )
        (
            df.repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(table)
        )
        (
            spark.table(table).repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(tmp)
        )
        # the failed recovery run had preserved 30 appends durably...
        spark.range(500, 530).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("pb"),
        ).write.mode("overwrite").format("parquet").saveAsTable(apx)
        # ...but its overwrite landed short: 50 snapshot rows, NO appends
        (
            spark.table(tmp).filter("doc_id < 50").repartition("pb")
            .write.mode("overwrite").insertInto(table, overwrite=True)
        )
        spark.catalog.refreshTable(table)
        compact_partitioned_table(spark, table, "pb")
        got = {r.doc_id for r in spark.table(table).collect()}
        # the 30 appends are nowhere in the target — only the sidecar
        # can restore them
        assert got == set(range(200)) | set(range(500, 530))
        assert not spark.catalog.tableExists(tmp)
        assert not spark.catalog.tableExists(apx)
        assert not spark.catalog.tableExists(f"{apx}__staging")
    finally:
        for t in (table, tmp, apx, f"{apx}__staging"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_partitioned_compaction_normal_path_clears_orphan_appends(spark):
    """An ``__appends`` sidecar orphaned by a crash after a prior run
    dropped its snapshot is already fully folded into the table; the
    next NORMAL compaction takes a fresh snapshot (which contains those
    rows) and must drop the orphan — leaving it would double-fold the
    rows on a later recovery."""
    from trignis_spark.maintenance import compact_partitioned_table

    table = "maint_part_orphan"
    apx = f"{table}__appends"
    try:
        df = spark.range(0, 100).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("pb"),
        )
        (
            df.repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(table)
        )
        # orphan: rows 0..9 are already IN the table
        spark.table(table).filter("doc_id < 10").write.mode(
            "overwrite"
        ).format("parquet").saveAsTable(apx)
        compact_partitioned_table(spark, table, "pb")
        assert not spark.catalog.tableExists(apx)
        assert spark.table(table).count() == 100
        # and a subsequent recovery can no longer double-fold them:
        # simulate a crash right after (snapshot exists, target intact)
        (
            spark.table(table).repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet")
            .saveAsTable(f"{table}__compacting")
        )
        compact_partitioned_table(spark, table, "pb")
        assert spark.table(table).count() == 100
    finally:
        for t in (table, f"{table}__compacting", apx,
                  f"{apx}__staging"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("kept,appended", [(0, 17), (199, 23), (120, 0)])
def test_partitioned_compaction_recovery_matrix(spark, kept, appended):
    """Recovery invariant across the crash/append matrix: whatever
    fraction of the snapshot survived the crashed overwrite (``kept``)
    and however many rows were appended since (``appended``), the
    recovered table is exactly snapshot ∪ appends."""
    from trignis_spark.maintenance import compact_partitioned_table

    table = f"maint_part_mx_{kept}_{appended}"
    tmp = f"{table}__compacting"
    try:
        df = spark.range(0, 200).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("pb"),
        )
        (
            df.repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(table)
        )
        (
            spark.table(table).repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(tmp)
        )
        (
            spark.table(tmp).filter(f"doc_id < {kept}").repartition("pb")
            .write.mode("overwrite").insertInto(table, overwrite=True)
        )
        spark.catalog.refreshTable(table)
        if appended:
            extra = spark.range(1000, 1000 + appended).select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 4).cast("int").alias("pb"),
            )
            extra.write.mode("append").partitionBy("pb") \
                .format("parquet").saveAsTable(table)
        compact_partitioned_table(spark, table, "pb")
        got = {r.doc_id for r in spark.table(table).collect()}
        assert got == set(range(200)) | set(range(1000, 1000 + appended))
        assert not spark.catalog.tableExists(tmp)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")


def test_partitioned_compaction_drops_orphan_appends_before_snapshot(spark):
    """ADVICE r7: the orphan-``__appends`` drop must happen BEFORE the
    fresh snapshot write. Dropped after, a crash between
    ``saveAsTable(tmp)`` and the drop loop pairs a fresh snapshot with
    a stale sidecar whose rows the snapshot already contains — the next
    recovery run would then fold them in twice. Injected crash: the
    snapshot write itself raises after completing; the stale sidecar
    must already be gone, and the recovery run must leave no
    duplicates."""
    from pyspark.sql.readwriter import DataFrameWriter

    from trignis_spark.maintenance import compact_partitioned_table

    table = "maint_part_orphan_order"
    tmp = f"{table}__compacting"
    apx = f"{table}__appends"
    try:
        df = spark.range(0, 80).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("pb"),
        )
        (
            df.repartition("pb").write.mode("overwrite")
            .partitionBy("pb").format("parquet").saveAsTable(table)
        )
        # stale orphan: rows 0..9 are already IN the table
        spark.table(table).filter("doc_id < 10").write.mode(
            "overwrite"
        ).format("parquet").saveAsTable(apx)

        real = DataFrameWriter.saveAsTable

        def crash_after_write(self, name, *a, **kw):
            real(self, name, *a, **kw)
            if name == tmp:
                raise RuntimeError("injected crash after snapshot write")

        DataFrameWriter.saveAsTable = crash_after_write
        try:
            with pytest.raises(RuntimeError, match="injected"):
                compact_partitioned_table(spark, table, "pb")
        finally:
            DataFrameWriter.saveAsTable = real
        # the fix: stale sidecar gone BEFORE the snapshot existed
        assert not spark.catalog.tableExists(apx)
        # recovery folds extra = target ⊖ snapshot = ∅ — no duplicates
        compact_partitioned_table(spark, table, "pb")
        assert spark.table(table).count() == 80
        assert spark.table(table).select("doc_id").distinct().count() == 80
    finally:
        for t in (table, tmp, apx, f"{apx}__staging"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_attach_table_db_qualified_name(spark):
    """ADVICE r7: ``attach_table`` must resolve a ``db.tbl`` name via
    the owning database's ``locationUri`` — the plain
    ``warehouse/<name>`` join only holds for unqualified names in the
    default database."""
    from trignis_spark.maintenance import attach_table

    import shutil
    from urllib.parse import urlparse

    db, tbl = "maintdb", "attach_qualified"
    qual = f"{db}.{tbl}"
    src = "attach_qualified_src"
    try:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        spark.range(0, 25).withColumn("v", F.col("id") * 2).write.mode(
            "overwrite"
        ).format("parquet").saveAsTable(src)
        # simulate a prior session's write into the db: files exist
        # under <warehouse>/maintdb.db/<tbl> but this session's catalog
        # has never heard of the table
        dbdir = urlparse(
            spark.catalog.getDatabase(db).locationUri
        ).path
        shutil.copytree(
            os.path.join(
                urlparse(spark.conf.get("spark.sql.warehouse.dir")).path,
                src,
            ),
            os.path.join(dbdir, tbl),
        )
        assert attach_table(spark, qual) is True
        assert spark.table(qual).count() == 25
        assert attach_table(spark, qual) is False  # idempotent
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {src}")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
