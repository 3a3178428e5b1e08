"""Bucketed-table helpers: shuffle-free co-located joins.

The snapshot-diff change feed joins two snapshots of the same table on
its PK every cycle (SURVEY §7.2 step 3); at 100 TB that repeated
sort-merge shuffle dominates the cycle. Bucketing both snapshots on the
key (same bucket count) makes the join co-located: Spark reads matching
buckets pairwise and the Exchange disappears from the plan —
``tests/test_bucketing.py`` asserts exactly that.

Buckets also pre-shape downstream groupBys on the same key. Rule of
thumb: bucket count ≈ cluster cores × small multiple, fixed per table
family so all writers agree.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 16,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str,
    on: Sequence[str], how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key; with matching
    bucket specs Spark plans a zero-shuffle sort-merge join."""
    return spark.table(left_table).join(spark.table(right_table), list(on), how)


#: batch rows past which ``batch_anti_join`` falls back to the plain
#: sort-merge anti-join: the semi-then-anti plan broadcasts the batch
#: key set AND the semi-join survivors, so a backfill/full-resync-sized
#: batch would otherwise build an arbitrarily large driver broadcast
#: (ADVICE r7 — Spark hard-fails broadcasts at 8 GB and OOMs earlier).
#: 1 M id-sized rows ≈ tens of MB, the same order as the similarity
#: module's VERIFY_BROADCAST_MAX.
BATCH_BROADCAST_MAX = 1_000_000


def batch_anti_join(batch: DataFrame, corpus: DataFrame,
                    on: str,
                    broadcast_max: int = BATCH_BROADCAST_MAX,
                    rows: int | None = None) -> DataFrame:
    """``batch LEFT ANTI corpus``, planned for a poll-sized left side
    against a corpus-sized keyed right side. The naive
    ``batch.join(corpus, on, "left_anti")`` cannot broadcast — only the
    RIGHT side of a LeftAnti builds the hash relation, and the corpus
    is the right side — so Spark sort-merges it: at 20 M index rows
    that re-sorted (bucketed layout) or re-shuffled (plain layout) the
    FULL corpus id table on every poll cycle, and at 100 TB the per-
    cycle corpus shuffle is the whole bill. Here the corpus is first
    *semi*-joined against the broadcast batch keys (one map-side corpus
    scan, zero corpus shuffle, output ≤ batch-distinct rows), and the
    anti-join then runs against that small set, broadcast.

    Identical multiset semantics to the direct anti-join: a batch row
    is dropped iff its key exists in the corpus; duplicate batch rows
    survive or drop together in both forms, and corpus-side duplicate
    keys never multiply an anti/semi output.

    Poll-sized is a *contract*, gated not assumed (ADVICE r7): a batch
    above ``broadcast_max`` rows falls back to the plain anti-join — one
    corpus sort-merge, the price of a backfill, instead of an unbounded
    driver broadcast. A caller that knows the batch's row count passes
    it as ``rows``; otherwise a LocalLimit probe (not a full count)
    checks it.

    The broadcast key side is not de-duplicated: duplicate build keys
    change neither a semi- nor an anti-join's output, and a
    ``distinct`` would cost a shuffle of the batch keys."""
    from pyspark.sql import functions as F

    from trignis_spark.operators.similarity import exceeds

    if (exceeds(batch, broadcast_max) if rows is None
            else rows > broadcast_max):
        return batch.join(corpus.select(on), on, "left_anti")
    present = corpus.select(on).join(
        F.broadcast(batch.select(on)), on, "left_semi"
    )
    return batch.join(F.broadcast(present), on, "left_anti")
