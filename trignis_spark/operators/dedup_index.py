"""Persistent near-duplicate corpus index: build once, probe per batch.

``operators.dedup.incremental_pairs`` recomputes corpus shingles and
sizes on every call — right for a one-shot query, wrong for the
production loop where the same 100 TB corpus is probed by every poll
cycle. This module materializes a prefix-pruned index once and makes
each cycle a cheap probe. Five tables per index ``<name>``: a bucketed
*base* of three tables, a plain per-epoch *delta*, and the meta row.

- ``<name>`` (probe table): only each corpus doc's
  floor((1-t)·|d|)+1 *rarest* shingles (rarest-first under the
  build-time df order), (shingle, doc_id, sz) bucketed+sorted by
  shingle. A stop-shingle ("the quick brown" in 10% of the corpus) is
  absent by construction, so a probe never pays its posting list.
  Corpus-side-only prefix pruning is lossless for J ≥ t by a per-document
  pigeonhole: a qualifying pair shares ≥ ceil(t·|C|) shingles, and the
  stored prefix's complement holds only ceil(t·|C|)-1 of C's shingles,
  so at least one shared shingle is always stored. The argument never
  compares orders across documents — any per-doc choice of that many
  shingles works — so folds may rank against their *own* df
  snapshot; df ordering is a performance heuristic (short posting
  lists), not a correctness requirement, and staleness cannot lose
  pairs.
- ``<name>_full`` (verify table): one (doc_id, shs ARRAY<BIGINT>, sz)
  row per corpus doc, GLOBALLY SORTED by doc_id in small parquet row
  groups. A probe collects its bounded candidate ids and pushes them
  into the scan as an ``In`` filter, so row-group min-max pruning bounds
  verify I/O by the CANDIDATES at any corpus size.
- ``<name>_docs`` — (doc_id, sz) membership sidecar bucketed by doc_id:
  O(lookup) idempotence for folds (a re-fold anti-joins to nothing)
  without scanning the index.
- ``<name>_delta`` — the log: one plain, unbucketed (doc_id, shs, sz)
  row per document appended since the last fold, one file per append.
  Membership is ``_docs`` ∪ the delta's ids (``members``); the probe
  joins the batch to the delta's *fully exploded* arrays beside the
  probe table (every delta shingle is stored, so the pigeonhole holds
  trivially) and verifies against ``_full`` ∪ the delta.
- ``<name>_meta`` — (threshold, n): probes below the build threshold are
  rejected (the stored prefix would be too short), and the shingle
  width is read from here by every probe, extend and caller.

Roles: ``build_prefix_index`` writes the base and an empty delta. Every
append — ``extend`` and the text gate's accept alike — is one
``coalesce(1)`` delta write (``_append_delta``): no ranking, no
bucketed write, one table refreshed. Once the delta holds
``FOLD_DELTA_ROWS`` rows, the append that crossed the bound folds it
into the base inline (``_fold_delta``): list the delta's files,
anti-join their rows against ``_docs``, one ranked, bucketed base
append (``_append_prefix_docs``), delete exactly the listed files. In
one process, a per-index lock runs appends and folds one at a time; an
append from another process during a fold lands in a file the fold did
not list and stays in the delta. A probe that reads the delta while
another thread or process folds it can fail on a deleted file; the
relay then retries or dead-letters that epoch like any failed write.
``compact_prefix_index`` folds first, then rewrites the base to ~one
file per bucket. A document that a crashed fold left in both the base
and the delta is one pair per (batch, corpus) doc: the probe's
``dropDuplicates`` absorbs it.

Probe shape at scale: the batch side is one poll cycle (small), so it
broadcasts and the bucketed probe table is scanned in place — no shuffle
of the corpus. A batch whose shingle rows outgrow broadcast
(``MAX_BROADCAST_SHINGLES``, e.g. a Full initial resync) takes the
co-located sort-merge path: only the batch repartitions to the bucket
count; the corpus is still never shuffled.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from trignis_spark.plans.bucketing import batch_anti_join

DEFAULT_BUCKETS = 16


def _docs_table(table: str) -> str:
    return f"{table}_docs"


def _full_table(table: str) -> str:
    return f"{table}_full"


def _meta_table(table: str) -> str:
    return f"{table}_meta"


def _delta_table(table: str) -> str:
    return f"{table}_delta"


def _tables(table: str) -> tuple[str, str, str, str, str]:
    return (table, _full_table(table), _docs_table(table),
            _delta_table(table), _meta_table(table))


def _refresh(spark: SparkSession, table: str) -> None:
    """Invalidate the caller session's cached file listing for the
    index tables. Needed because writes may run on a *different* session
    than later reads — a cloned session or a second relay over the same
    warehouse — and without this the probing session keeps serving the
    pre-append file list."""
    for t in _tables(table):
        spark.catalog.refreshTable(t)


#: per-(warehouse, table) cache of the meta row (threshold, n) —
#: immutable after build (extends never rewrite it), yet every probe
#: re-collected it: one driver action per poll cycle on the text gate's
#: hot path (the same fixed overhead VERDICT r8 #1 flagged on the IVF-PQ
#: probes; see ``ivfpq_index._STATE_CACHE``). Build and attach — the
#: only meta writers/registrars — drop entries.
_META_CACHE: dict = {}

#: per-(warehouse, table) tally of the rows appended to the delta since
#: its last fold, so deciding to fold costs no Spark job per epoch. A
#: process counts the delta once, on its first append; build and fold
#: set the tally, attach drops it. Appends from another process make it
#: an undercount, which only delays a fold.
_DELTA_ROWS: dict = {}

#: per-(warehouse, table) lock around an append's write and tally
#: update and around a whole fold: the environments' gate threads and
#: the dead-letter replay thread may append to one index at once, and
#: one fold at a time keeps a document from being folded twice.
_LOCKS: dict = {}
_LOCKS_GUARD = threading.Lock()


def _cache_key(spark: SparkSession, table: str) -> tuple[str, str]:
    return (spark.conf.get("spark.sql.warehouse.dir", ""), table)


def _meta_row(spark: SparkSession, table: str):
    key = _cache_key(spark, table)
    row = _META_CACHE.get(key)
    if row is None:
        _META_CACHE[key] = row = spark.table(_meta_table(table)).collect()[0]
    return row


def _delta_rows(spark: SparkSession, table: str) -> int:
    key = _cache_key(spark, table)
    if key not in _DELTA_ROWS:
        _DELTA_ROWS[key] = spark.table(_delta_table(table)).count()
    return _DELTA_ROWS[key]


def _index_lock(spark: SparkSession, table: str) -> threading.Lock:
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(_cache_key(spark, table), threading.Lock())


def _drop_caches(spark: SparkSession, table: str) -> None:
    _META_CACHE.pop(_cache_key(spark, table), None)
    _DELTA_ROWS.pop(_cache_key(spark, table), None)


#: parquet row-group size for the doc_id-SORTED doc-array verify table.
#: Small groups are the pruning granularity — a probe pushes its
#: collected candidate ids as an ``In`` filter and the reader keeps only
#: row groups whose doc_id min-max admits a candidate, so verify I/O is
#: O(candidates × rows-per-group) INDEPENDENT of corpus size (a
#: hash-partitioned verify table pruned by DPP stopped pruning once
#: candidates out-spread its 64 fixed partitions — VERDICT r10 #1: the
#: 5 M-doc leg's probe re-read the whole narrow corpus every batch).
#: Measured at 5 M rows: isin(3 500) warm 0.11 s vs 2.53 s full scan.
VERIFY_BLOCK_BYTES = 512 * 1024

#: row-group size for the shingle-sorted PROBE table, written by builds,
#: appends and compactions alike. It does not drive pruning: the
#: candidate scan is a plain broadcast join (measured faster than
#: In-pushed shingle legs at 5 M and 20 M docs, round 12).
PROBE_BLOCK_BYTES = 256 * 1024

#: candidate-pair ceiling for the probe's bounded candidate collect —
#: past this the collected ``In`` filter's plan/footer-check cost
#: outgrows its pruning (and a candidate set this size means a
#: corpus-shaped probe anyway); the probe then keeps a distributed,
#: checkpointed candidate plan and joins it to the full verify scan.
#: NOTE: never route this through a raised
#: ``spark.sql.parquet.pushdown.inFilterThreshold`` — past ~1 k values
#: the or-of-eq expansion StackOverflows the executor (measured); the
#: native In pushdown (Spark 4 default) handles large sets.
VERIFY_COLLECT_MAX = 65_536

#: sorted-run file count for builds/compactions of the verify table —
#: one range partition per file, each internally sorted by doc_id
VERIFY_SORT_FILES = 64

#: probes whose batch SHINGLE set exceeds this row count take the
#: co-located sort-merge path instead of broadcasting the batch. The
#: broadcast payload is the batch's shingle rows — which scale with
#: total batch text length, not document count (ADVICE r6: a batch of
#: few but very long documents blows a per-document gate) — so the
#: gate counts what it actually ships: ~10 M (doc_id, shingle-hash)
#: rows ≈ a few hundred MB hashed relation. A poll-cycle batch is a
#: few hundred docs × a few hundred shingles; only a Full initial
#: resync routed through ``probe`` approaches this.
MAX_BROADCAST_SHINGLES = 10_000_000

#: values per ``In`` pushdown leg (round 11). Two Spark limits shape
#: this: past ``spark.sql.parquet.pushdown.inFilterThreshold`` the
#: pushed filter COLLAPSES to the list's [min, max] range — which over
#: xxhash64 values spans everything, so row-group pruning silently
#: prunes NOTHING (the 50 M-doc decade leg measured the "In-pruned"
#: probe at 43.8 s warm = a full 550 M-row posting scan, ~10× the 5 M
#: number); and parquet evaluates an under-threshold In as a RECURSIVE
#: OR tree, which stack-overflows executor task threads somewhere past
#: ~2 000 values (measured: StackOverflowError inside the scan at
#: 2.5 k). So: raise the threshold past the leg size (sticky session
#: conf, set on first probe) and split big value lists into ≤LEG-value
#: scans unioned together — each leg's OR tree is shallow, each row
#: matches exactly one leg (value chunks are disjoint), so the union
#: IS the single-In scan with working row-group pruning.
IN_PUSHDOWN_LEG = 512

#: id-count ceiling for pushing collected candidate ids into the
#: verify scan as In legs — past this the per-leg row-group STAT
#: evaluation (a 512-deep OR visited per group per leg) outgrows the
#: pruning and the full narrow scan joined to the broadcast candidates
#: wins: measured at the 50 M decade fixture, 42 legs (21 424 ids)
#: cost 15.6 s against the full scan's ~11 s, while a few thousand
#: ids prune to seconds. The length filter keeps real poll batches
#: far under this.
VERIFY_IN_MAX = 16_384


def _doc_shingles(docs: DataFrame, n: int, *keep: str) -> DataFrame:
    """(doc_id, *keep, shs ARRAY<BIGINT> sorted, sz) — one row per doc:
    the verify table's layout, and the array frame every index writer
    and the probe read.

    One array row per doc is ~52× fewer rows than one row per (doc,
    shingle) (at the 5 M-doc decade leg the row-level verify was a
    260 M-row scan through two joins and a countDistinct aggregation per
    probe), and intersections compute INSIDE a projection
    (``array_intersect`` against the broadcast batch arrays — no explode,
    no aggregation shuffle).

    Built entirely MAP-SIDE: the per-doc shingle hashes are already an
    array before ``shingle_table`` explodes them, so sorting the
    distinct array in place produces the row with zero shuffles — an
    explode→groupBy form would re-gather the shingle rows through a full
    exchange just to undo the explode. Docs with fewer than ``n`` tokens
    appear with ``shs = []``, so the docs sidecar records them and
    extends stop re-adding them every cycle; they carry no shingles, so
    probe results are untouched."""
    from trignis_spark.functions import portable as pf

    toks = docs.select(
        "doc_id", *keep, F.expr(pf.tokens(pf.SPARK, "text")).alias("tokens")
    )
    th = toks.select(
        "doc_id", *keep,
        F.expr(pf.token_hashes(pf.SPARK, "tokens")).alias("th"),
    )
    return (
        th.select(
            "doc_id", *keep,
            F.array_sort(
                F.array_distinct(
                    F.expr(pf.shingle_hashes(pf.SPARK, "th", n))
                )
            ).alias("shs"),
        )
        .withColumn("sz", F.size("shs").cast("long"))
    )


def _prefix_rows(arrs: DataFrame, threshold: float) -> DataFrame:
    """(shingle, doc_id, sz) for each doc's rarest floor((1-t)sz)+1
    shingles under this batch's df order, from a ``_doc_shingles``
    array frame. ``sz`` counts the shingle rows of the doc_id, so a
    doc_id given twice is ranked as one doc over both texts' rows."""
    from pyspark.sql import Window

    sh = arrs.select("doc_id", F.explode("shs").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn(
            "_rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("_df", "shingle")
            ),
        )
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    return ranked.filter(
        # +1e-6 before floor: float (1-t)·sz can land one ulp under an
        # exact integer and silently shorten the prefix by one (loses
        # boundary pairs — see dedup.jaccard_pairs); longer is safe
        F.col("_rnk")
        <= F.floor(F.lit(1.0 - threshold) * F.col("sz") + F.lit(1e-6)) + 1
    ).select("shingle", "doc_id", "sz")


def build_prefix_index(
    spark: SparkSession,
    docs: DataFrame,
    table: str,
    threshold: float,
    n: int = 3,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Materialize the prefix-pruned probe table, the doc_id-SORTED
    doc-array verify table (see ``VERIFY_BLOCK_BYTES``), the membership
    sidecar, an empty delta and the meta row (overwrites all five,
    including orphaned locations left by other sessions). The corpus is
    tokenized once: the verify table is written first and the other two
    base tables read it."""
    from trignis_spark.maintenance import drop_table_and_location

    for t in _tables(table):
        drop_table_and_location(spark, t)
    (
        _doc_shingles(docs, n)
        .repartitionByRange(VERIFY_SORT_FILES, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("parquet.block.size", str(VERIFY_BLOCK_BYTES))
        .format("parquet")
        .saveAsTable(_full_table(table))
    )
    full = spark.table(_full_table(table))
    (
        _prefix_rows(full, threshold)
        .write.mode("overwrite")
        .option("parquet.block.size", str(PROBE_BLOCK_BYTES))
        .bucketBy(n_buckets, "shingle")
        .sortBy("shingle")
        .format("parquet")
        .saveAsTable(table)
    )
    (
        full.select("doc_id", "sz")
        .write.mode("overwrite")
        .bucketBy(n_buckets, "doc_id")
        .format("parquet")
        .saveAsTable(_docs_table(table))
    )
    # an empty write still leaves one schema-bearing file, which is
    # what lets ``attach_prefix_index`` infer the delta's schema
    full.limit(0).write.mode("overwrite").format("parquet").saveAsTable(
        _delta_table(table)
    )
    spark.createDataFrame(
        [(float(threshold), n)], "threshold double, n int"
    ).write.mode("overwrite").format("parquet").saveAsTable(
        _meta_table(table)
    )
    _drop_caches(spark, table)
    _DELTA_ROWS[_cache_key(spark, table)] = 0
    _refresh(spark, table)


def _bucket_count(spark: SparkSession, table: str) -> int:
    """Bucket count from the catalog (the meta row does not carry it)."""
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (row["col_name"] or "").strip() == "Num Buckets":
            return int(row["data_type"].strip())
    return DEFAULT_BUCKETS


def attach_prefix_index(spark: SparkSession, table: str,
                        n_buckets: int = DEFAULT_BUCKETS) -> None:
    """Re-register a persisted prefix index's five tables in a fresh
    session's catalog (see ``ivfpq_index.attach_ivfpq_index`` — same
    in-memory-catalog restart story). The shingle and docs tables
    re-declare their bucket specs so bucketed extends still append;
    the meta row does not carry the bucket count (see
    ``_bucket_count``), so an index built with a non-default count must
    pass it."""
    from trignis_spark.maintenance import attach_table

    attach_table(spark, table, bucket_cols=["shingle"],
                 n_buckets=n_buckets, sort_cols=["shingle"])
    attach_table(spark, _full_table(table))
    attach_table(spark, _docs_table(table), bucket_cols=["doc_id"],
                 n_buckets=n_buckets)
    attach_table(spark, _delta_table(table))
    attach_table(spark, _meta_table(table))
    _drop_caches(spark, table)


def _in_pred(col: str, values) -> str:
    """One parsed ``col IN (...) AND col BETWEEN min AND max`` SQL
    expression over BIGINT values — ``Column.isin`` pays a py4j round
    trip per literal (~2 s of pure plan construction at 3.5 k ids,
    measured at the 5 M fixture).

    The range bound is IMPLIED by the In set (identical row sets) but
    does real work at the parquet stats layer (round 12): a leg's
    pushed In is evaluated as an OR tree against EVERY row group's
    stats — ~512 comparisons × groups × legs, the probe's remaining
    corpus-LINEAR term (measured: the 5 M-doc candidate scan spent
    ~5.4 s warm, ~80 % of the probe; 50 M would pay 10×). parquet's
    StatisticsFilter visits an AND's children with a short-circuiting
    ``||``, and sorted chunking makes each leg's values a contiguous
    slice of the value space — so a group outside the leg's [min, max]
    now drops after 2 comparisons instead of 512, and only the ~1/legs
    in-range slice pays the OR tree."""
    vals = [int(v) for v in values]
    lo, hi = min(vals), max(vals)
    return "%s IN (%s) AND %s BETWEEN %d AND %d" % (
        col, ",".join(str(v) for v in vals), col, lo, hi,
    )


def _in_pushdown_conf(spark: SparkSession) -> None:
    """Raise the parquet In-pushdown threshold past IN_PUSHDOWN_LEG
    (sticky — a restore-after-plan would un-push the filter at the
    caller's later execution). Never lowers a user-raised value."""
    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    try:
        cur = int(spark.conf.get(key))
    except Exception:
        cur = 0
    if cur < IN_PUSHDOWN_LEG:
        spark.conf.set(key, str(IN_PUSHDOWN_LEG))


def _in_scan(spark: SparkSession, df: DataFrame, col: str,
             values) -> DataFrame:
    """``df`` filtered to ``col IN values`` as a union of
    ≤IN_PUSHDOWN_LEG-value scans — see ``IN_PUSHDOWN_LEG``. Row sets
    are identical to a single In filter (disjoint value chunks;
    every matching row matches exactly one chunk)."""
    from functools import reduce

    _in_pushdown_conf(spark)
    vals = sorted(values)
    legs = [
        df.filter(_in_pred(col, vals[i:i + IN_PUSHDOWN_LEG]))
        for i in range(0, len(vals), IN_PUSHDOWN_LEG)
    ]
    if not legs:  # empty value set: no row can match (ADVICE r11)
        return df.filter(F.lit(False))
    return reduce(DataFrame.unionByName, legs)


def probe(
    spark: SparkSession,
    table: str,
    batch_docs: DataFrame,
    threshold: float,
    broadcast_batch: bool | None = None,
) -> DataFrame:
    """Near-dup matches of a batch against the index:
    (batch_doc, corpus_doc, jaccard ≥ threshold) — identical to
    ``dedup.incremental_pairs`` over the raw documents at any threshold
    ≥ the build threshold (asserted in tests).

    ``batch_docs`` is either (doc_id, text) or an array frame that
    already carries the ``_doc_shingles`` columns ``shs``/``sz`` at the
    index's shingle width. The probe tokenizes the former once and
    reads the latter as given — the text gate shingles each epoch once
    and hands the same materialized frame to the probe, its in-batch
    pass and the index append.

    Phase 1 (candidates): the batch's shingle rows ⋈ the pruned probe
    table — hot shingles are absent from the index by construction, so
    candidate volume tracks rare-shingle collisions only — plus the
    batch's shingle rows ⋈ the delta's exploded arrays. Phase 2
    (verify): the doc-array verify table ∪ the delta — one narrow row
    per corpus doc, the exact intersection computed by
    ``array_intersect`` inside the projection — joined to the
    candidates and, separately, to the
    batch arrays (one per batch doc, never duplicated per pair — ADVICE
    r10). On the broadcast path one bounded limit-collect of the
    candidate pairs answers the size gate from the row count, replaces
    the distributed candidate plan with a literal frame, and supplies
    the candidate ids pushed into the verify scan as a parquet ``In``
    filter, so row-group pruning bounds verify I/O by the candidates at
    any corpus size. Both phases are map-side on the corpus.

    **Broadcast-overflow fallback** (VERDICT r5 #3): a batch that
    outgrows broadcast (a Full initial resync routed through ``probe``
    would hit the executor broadcast ceiling) takes the co-located
    sort-merge path instead — the batch shingles repartition to the
    probe table's bucket count so the bucketed corpus side is *still*
    never shuffled, and the verify joins run as plain shuffle joins
    (corpus-sized work is inherent when the batch is corpus-sized).
    ``broadcast_batch=None`` decides from the batch's SHINGLE-row count
    (> ``MAX_BROADCAST_SHINGLES`` ⇒ sort-merge) — the payload actually
    broadcast, so a batch of few but very long documents is gated
    correctly (ADVICE r6); results are identical on either path
    (asserted in tests)."""
    meta = _meta_row(spark, table)
    if threshold < meta.threshold - 1e-12:
        raise ValueError(
            f"index {table!r} was built for threshold >= {meta.threshold}; "
            f"probing at {threshold} would lose pairs (rebuild the index)"
        )
    # ONE per-batch-doc frame feeds every consumer: its exploded rows
    # drive the candidate join, its ``szb`` the length filter, its
    # arrays the verify — built map-side, no aggregation of shingle rows
    given = "shs" in batch_docs.columns
    if not given:
        batch_docs = _doc_shingles(batch_docs, meta.n)
    barr = batch_docs.select(
        F.col("doc_id").alias("batch_doc"),
        F.col("shs").alias("bshs"),
        F.col("sz").alias("szb"),
    )

    def _bsh(arrs: DataFrame) -> DataFrame:
        # explode_outer, not explode: for explode the optimizer infers a
        # size(bshs) > 0 filter and pushes it below the projection,
        # inlining the whole tokenize/hash pipeline into it again
        # (measured on a 170-doc batch: 1.1 s vs 0.3 s per pass). An
        # empty array yields one null shingle, which no join matches.
        return arrs.select(
            "batch_doc", F.explode_outer("bshs").alias("shingle"), "szb"
        )

    if broadcast_batch is None:
        from trignis_spark.operators.similarity import exceeds

        # limit-bounded probe, not a full count: this gate runs on
        # every poll-cycle probe and the batch plan can be expensive
        broadcast_batch = not exceeds(_bsh(barr), MAX_BROADCAST_SHINGLES)
    if broadcast_batch:
        # batch-sized by the gate — materialize the arrays ONCE so the
        # batch's tokenize/hash/shingle pipeline runs once per probe,
        # not once per consumer (given arrays are the caller's to
        # materialize). Corpus-shaped batches (a Full resync routed
        # through probe) keep the unmaterialized plan — the sort-merge
        # path's scratch-disk profile is deliberate.
        if not given:
            barr = barr.localCheckpoint(eager=True)
        bsh = F.broadcast(_bsh(barr))
    else:
        # align the batch with the bucketed probe table's layout so the
        # candidate join sort-merges without shuffling the corpus side
        bsh = _bsh(barr).repartition(_bucket_count(spark, table), "shingle")

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_batch else df

    delta = spark.table(_delta_table(table))
    cand = (
        spark.table(table)
        .join(bsh, "shingle")
        .unionByName(
            delta.select(F.explode("shs").alias("shingle"), "doc_id", "sz")
            .join(bsh, "shingle")
        )
        # lossless SSJoin length filter (Arasu/Chaudhuri prefix-filter
        # family, public algorithm): jaccard ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t
        # — the probe table rows carry the corpus doc's shingle-set
        # size, so size-incompatible rare-shingle collisions drop
        # before the distinct shuffle and the verify scan. Outward
        # 1e-6 slack on both bounds: a float ulp must widen, never
        # shorten, a lossless bound (round-5 rule).
        .filter(
            (F.col("sz").cast("double")
             >= F.lit(threshold) * F.col("szb") - F.lit(1e-6))
            & (F.col("sz").cast("double")
               <= F.col("szb") / F.lit(threshold) + F.lit(1e-6))
        )
        .select("batch_doc", F.col("doc_id").alias("corpus_doc"))
        .distinct()
    )
    scan = spark.table(_full_table(table))
    if broadcast_batch:
        # ONE bounded limit-collect materializes the candidate pairs
        # driver-side: the size gate, the pushed id filter, and the
        # literal candidate frame (the LocalLimit caps driver memory
        # and stops a corpus-shaped candidate scan early)
        rows = cand.limit(VERIFY_COLLECT_MAX + 1).collect()
        if len(rows) <= VERIFY_COLLECT_MAX:
            cand = spark.createDataFrame(rows, cand.schema)
            ids = {r["corpus_doc"] for r in rows}
            if len(ids) <= VERIFY_IN_MAX:
                # chunked In legs so parquet row-group pruning actually
                # bites (see IN_PUSHDOWN_LEG); a bigger id set is
                # corpus-shaped and the full narrow scan is the right
                # cost model
                scan = _in_scan(spark, scan, "doc_id", ids)
        else:
            # corpus-shaped candidate set — keep a distributed plan,
            # materialized once so the verify join does not re-run the
            # candidate scan
            cand = cand.localCheckpoint(eager=True)
    pairs = (
        scan.unionByName(delta)
        .withColumnRenamed("doc_id", "corpus_doc")
        .join(_b(cand), "corpus_doc")
        .join(_b(barr), "batch_doc")
        .select(
            "batch_doc",
            "corpus_doc",
            F.size(F.array_intersect("shs", "bshs")).alias("isz"),
            F.col("sz").alias("szc"),
            "szb",
        )
        # a crashed fold leaves a doc in the base and the delta, and
        # replayed crash-window appends duplicate whole doc rows;
        # dedup AFTER the projection so the guard shuffle carries
        # scalars, not shingle arrays (duplicate rows hold identical
        # arrays ⇒ identical isz — which survives is immaterial; same
        # pattern as ivfpq_probe's guard)
        .dropDuplicates(["batch_doc", "corpus_doc"])
    )
    return pairs.select(
        "batch_doc",
        "corpus_doc",
        (
            F.col("isz").cast("double")
            / (F.col("szb") + F.col("szc") - F.col("isz"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def members(spark: SparkSession, table: str) -> DataFrame:
    """(doc_id) of every indexed document: the docs sidecar ∪ the
    delta. A document that a crashed fold left in both appears twice,
    which changes no anti- or semi-join against it."""
    return spark.table(_docs_table(table)).select("doc_id").unionByName(
        spark.table(_delta_table(table)).select("doc_id")
    )


def extend(
    spark: SparkSession,
    docs: DataFrame,
    table: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> int:
    """Append new documents (idempotent under replay): the membership
    anti-join drops docs the index already holds, then
    ``_append_delta`` writes the rest. Returns the number of documents
    added."""
    fresh = _doc_shingles(
        batch_anti_join(docs, members(spark, table), "doc_id"),
        _meta_row(spark, table).n,
    ).localCheckpoint(eager=True)
    return _append_delta(spark, fresh, table, fresh.count(), n_buckets)


#: delta rows at which an append folds the delta into the base: the
#: crossover of the delta's read cost against the fold's cost, measured
#: on a 4-core box at the curate shape (``tools/soak_text_gate.py``'s
#: 200-doc base and 60 accepted 60-word docs per epoch). Every 1 000
#: delta rows add s ≈ 0.033 s to an epoch (membership scan, candidate
#: join and verify; a fit over 150 fold-free epochs, 60 to 9 000
#: rows). A fold takes F ≈ 3.4-4.5 s at 600 to 9 000 rows, flat in the
#: delta size, and its ~33 base files add c ≈ 0.4 ms each to every
#: later epoch (the file growth of the per-epoch bucketed append this
#: replaced: 2.5 → 3.7 s over ~2 900 files). At r = 60 rows an epoch,
#: a bound B costs s·B/2 of delta reads plus (F + 33·c·H/2)·r/B of
#: folds per epoch over a horizon of H epochs, least at
#: B* = sqrt(2·r·(F + 33·c·H/2) / s). H = 300 is the soak's length and
#: nothing else — no workload fixes a horizon — and the file term
#: assumes no compaction runs in that time (nothing in the service
#: calls ``compact_prefix_index``). Over F's range: at H = 300,
#: B* ≈ 4 400-4 900 rows, ~0.15 s an epoch, and 4 000 costs ≤ 0.003 s
#: an epoch more; without the file term (compaction after every fold)
#: B* ≈ 3 500-4 000; at H = 3 000, B* ≈ 9 200-9 400, where 4 000 costs
#: ~0.12 s an epoch more.
FOLD_DELTA_ROWS = 4_000


def _append_delta(
    spark: SparkSession,
    arrs: DataFrame,
    table: str,
    added: int,
    n_buckets: int = DEFAULT_BUCKETS,
) -> int:
    """The one append path of the index (``extend`` and the text gate):
    write ``added`` documents, given as a materialized array frame
    (doc_id, shs, sz) at the index's shingle width (``_doc_shingles``;
    other columns are ignored) that the caller has already anti-joined
    against ``members``, to the delta as one file, and refresh only the
    delta. The append that takes the delta to ``FOLD_DELTA_ROWS`` folds
    it into the base before returning. Returns ``added``."""
    if added == 0:
        return 0
    with _index_lock(spark, table):
        pending = _delta_rows(spark, table) + added
        _write_delta(arrs, table)
        spark.catalog.refreshTable(_delta_table(table))
        _DELTA_ROWS[_cache_key(spark, table)] = pending
        if pending >= FOLD_DELTA_ROWS:
            _fold_delta(spark, table, n_buckets)
    return added


def _write_delta(arrs: DataFrame, table: str) -> None:
    (
        arrs.select("doc_id", "shs", "sz")
        .coalesce(1)
        .write.mode("append")
        .format("parquet")
        .saveAsTable(_delta_table(table))
    )


def _fold_delta(
    spark: SparkSession, table: str, n_buckets: int = DEFAULT_BUCKETS
) -> int:
    """Move the delta into the bucketed base: list the delta's files,
    anti-join their rows against the docs sidecar, append the rest
    through ``_append_prefix_docs`` and delete exactly the listed files.
    A file appended after the listing (by another process) stays in the
    delta for the next fold. The anti-join makes a re-fold idempotent:
    after a crash between the base append and the deletes, every listed
    document is already in ``_docs`` and the re-fold appends nothing.
    The caller holds ``_index_lock``. Returns the number of documents
    moved."""
    from trignis_spark.maintenance import table_data_files

    delta = _delta_table(table)
    files = table_data_files(spark, delta)
    moved = Observation()
    fresh = (
        batch_anti_join(
            spark.read.schema(spark.table(delta).schema).parquet(*files),
            spark.table(_docs_table(table)).select("doc_id"),
            "doc_id", rows=_delta_rows(spark, table),
        )
        .observe(moved, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    added = _append_prefix_docs(spark, fresh, table, moved.get["n"],
                                n_buckets)
    _delete_delta_files(spark, table, files)
    return added


def _delete_delta_files(
    spark: SparkSession, table: str, files: list[str]
) -> None:
    """Delete the delta files a fold has moved into the base, with
    their checksum files, and reset the tally. Deleting files rather
    than overwriting the table keeps every file the fold did not read,
    and works on the EXTERNAL tables that ``attach_prefix_index``
    registers. When no file is left, an empty append writes the one
    schema-bearing file that ``attach_prefix_index`` infers the delta's
    schema from."""
    from trignis_spark.maintenance import table_data_files

    delta = _delta_table(table)
    for f in files:
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        for path in (f, crc):
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
    if not table_data_files(spark, delta):
        spark.createDataFrame([], spark.table(delta).schema).write.mode(
            "append").format("parquet").saveAsTable(delta)
    spark.catalog.refreshTable(delta)
    _DELTA_ROWS[_cache_key(spark, table)] = 0


def _append_prefix_docs(
    spark: SparkSession,
    arrs: DataFrame,
    table: str,
    added: int,
    n_buckets: int = DEFAULT_BUCKETS,
) -> int:
    """The fold's base append: write ``added`` documents, given as a
    materialized array frame (doc_id, shs, sz) already anti-joined
    against the docs sidecar, to all three base tables. Nothing is
    tokenized here. Prefix rows for the new docs rank against the
    *folded delta's own* df snapshot — safe because corpus-side prefix
    pruning is lossless under any per-doc shingle choice of the
    required length (see module notes); the df order only tunes
    posting-list length.

    Each fold writes its own doc_id-sorted run to the verify table —
    row-group min-max stats are per-file, so probe pruning keeps working
    across overlapping runs; ``compact_prefix_index`` restores one
    global run."""
    if added == 0:
        return 0
    meta = _meta_row(spark, table)
    (
        # one task per bucket, as compaction does: a fold adds at most
        # one file per bucket to each bucketed table, not one per
        # (task, bucket)
        _prefix_rows(arrs, meta.threshold)
        .repartition(n_buckets, "shingle")
        .write.mode("append")
        .option("parquet.block.size", str(PROBE_BLOCK_BYTES))
        .bucketBy(n_buckets, "shingle")
        .sortBy("shingle")
        .format("parquet")
        .saveAsTable(table)
    )
    full = arrs.select("doc_id", "shs", "sz")
    n_files = max(1, min(VERIFY_SORT_FILES, added // 1_000_000 + 1))
    # one file needs no range bounds: a coalesce skips the sampling job
    (
        (full.coalesce(1) if n_files == 1
         else full.repartitionByRange(n_files, "doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("append")
        .option("parquet.block.size", str(VERIFY_BLOCK_BYTES))
        .format("parquet")
        .saveAsTable(_full_table(table))
    )
    (
        full.select("doc_id", "sz")
        .repartition(n_buckets, "doc_id")
        .write.mode("append")
        .bucketBy(n_buckets, "doc_id")
        .format("parquet")
        .saveAsTable(_docs_table(table))
    )
    _refresh(spark, table)
    return added


def compact_prefix_index(
    spark: SparkSession, table: str, n_buckets: int = DEFAULT_BUCKETS
) -> int:
    """Housekeeping under sustained polling: every append adds a file
    to the delta, and every fold a file set to the bucketed probe
    table, a sorted run to the verify table, and a file set to the docs
    sidecar. Folds the delta first, then rewrites the bucketed tables to
    ~one file per bucket and merges the verify table's runs back into
    one global doc_id-sorted run, via the maintenance catalog-swap
    helpers; probe results are unchanged by construction (same rows,
    same specs — asserted in tests). Appends must be quiesced during
    the swap. Returns the post-compaction file count, the delta's
    included."""
    from trignis_spark.maintenance import (
        compact_bucketed_table,
        compact_sorted_table,
        table_data_files,
    )

    with _index_lock(spark, table):
        if _delta_rows(spark, table):
            _fold_delta(spark, table, n_buckets)
    n = compact_bucketed_table(
        spark, table, "shingle", n_buckets, sort_col="shingle",
        block_bytes=PROBE_BLOCK_BYTES,
    )
    n += compact_sorted_table(
        spark, _full_table(table), "doc_id",
        n_files=VERIFY_SORT_FILES, block_bytes=VERIFY_BLOCK_BYTES,
    )
    n += compact_bucketed_table(spark, _docs_table(table), "doc_id", n_buckets)
    _refresh(spark, table)
    return n + len(table_data_files(spark, _delta_table(table)))
