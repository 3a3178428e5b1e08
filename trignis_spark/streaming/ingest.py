"""Corpus ingestion gate: change batches → quality gate →
near-dup probe against the persistent corpus index → accept + extend.

This is the production composition of the training-data pipeline on the
reference's poll loop (``ChangeTrackingBackgroundService.cs:360-420``
delivers batches; here each delivered batch is curated instead of
exported): documents arrive as change batches (``CurateSink`` on a
``PollPipeline``'s distributed path, or any frame with an id and a
text column) and each epoch passes through

1. **membership anti-join** — documents already admitted to the corpus
   index (``dedup_index.members``: the docs sidecar ∪ the delta) are
   dropped first, so a replayed epoch (at-least-once upstream)
   re-admits nothing;
2. **exact in-batch dedup** — lowest ``doc_id`` per content hash wins;
3. **quality gate** — ``operators.text.quality_score`` at or above
   ``min_quality``;
4. **corpus near-dup probe** — ``dedup_index.probe`` against the
   prefix index at or above ``threshold`` rejects (exact corpus
   duplicates are the Jaccard-1.0 special case, so the probe subsumes
   an exact check);
5. **in-batch near-dup** — among survivors, a document is rejected when
   a *lower-id* survivor in the same batch is its near-duplicate
   (conservative greedy: deterministic, never admits a near-dup pair;
   may over-reject on chains a~b~c, which fuzzy clustering
   (``dedup.cluster_near_duplicates``) resolves offline if needed) —
   a self-join of the survivors' shingle arrays;
6. **accept** — append ``(doc_id, text, epoch_id)`` to the accepted
   store and the same rows' shingle arrays to the index delta as one
   file (``dedup_index._append_delta``; they passed step 1's anti-join
   this epoch). The append that takes the delta to
   ``dedup_index.FOLD_DELTA_ROWS`` folds it into the bucketed base
   inline, so that epoch also carries the fold.

Both near-dup passes use the shingle width the index was built with
(its meta row), so corpus and in-batch decisions agree. The batch is
shingled once per epoch: steps 1-3 leave one (doc_id, text, shs, sz)
array row per good document, and the probe, the in-batch pass and the
index append all read those arrays.

Delivery semantics match the rest of the engine (at-least-once,
idempotent where it matters): the index extend is exactly-once by
anti-join; the accepted-store append is at-least-once — a crash between
the append and the extend can leave one epoch's rows appended twice,
which ``accepted_corpus`` compacts on read by ``doc_id``. In the common
replay case (epoch completed, watermark commit lost) step 1 empties
the batch and nothing is re-written.

Scale shape: every gate is an executor-side join against either a
broadcast batch or the bucketed index — the corpus is never shuffled
per epoch. The index write is one small unbucketed delta file per
epoch; the ranked, bucketed base writes run once per fold, and the
delta the probe reads stays under the fold bound, so neither the
epoch's write cost nor the index's file count grows with every epoch.
Each stage runs once per epoch. The gate makes four
batch-sized ``localCheckpoint``s: the arrived batch; the good rows of
steps 1-3 with their shingle arrays; the survivors of step 4, so the
probe's verify runs once; and the accepted set. Every stage count comes
from a ``DataFrame.observe`` on one of those checkpoints, so the counts
(and ``IngestStats``) cost no Spark action of their own. The summed
shingle count of the good rows makes the probe's broadcast decision
without a row-count probe. An epoch with no good rows skips the probe,
and one with no survivors skips the in-batch pass. Batch rows never
reach the driver; the probe collects only its bounded candidate pairs.
"""

from __future__ import annotations

import logging
import threading
from contextlib import closing
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from trignis_spark.operators import dedup_index as di
from trignis_spark.operators.text import quality_score
from trignis_spark.plans.bucketing import batch_anti_join
from trignis_spark.state import SqliteDb

log = logging.getLogger("trignis_spark.ingest")


@dataclass(frozen=True)
class IngestStats:
    """Per-epoch gate telemetry: how many documents each stage removed."""

    epoch_id: int
    arrived: int
    already_known: int
    exact_dup: int
    low_quality: int
    corpus_near_dup: int
    batch_near_dup: int
    accepted: int


def _self_probe_rejects(arrs: DataFrame, threshold: float,
                        broadcast: bool) -> DataFrame:
    """doc_ids rejected by the greedy lower-id-wins in-batch rule over an
    array frame (doc_id, shs, sz): one self-join of the exploded arrays
    on the shingle and one ``groupBy`` count for the intersection. The
    decisions are those of ``dedup.incremental_pairs`` over
    ``dedup.shingle_table`` of the texts — a doc_id given twice counts
    as one document over both rows' shingles, as it does there.
    ``broadcast`` is the probe's ``MAX_BROADCAST_SHINGLES`` decision
    for the same frame; otherwise the self-join sort-merges."""
    ex = arrs.withColumn(
        "dsz", F.sum("sz").over(Window.partitionBy("doc_id"))
    ).select("doc_id", F.explode("shs").alias("shingle"), "dsz")
    lo = ex.select(F.col("doc_id").alias("lo"), "shingle",
                   F.col("dsz").alias("szlo"))
    hi = ex.select(F.col("doc_id").alias("hi"), "shingle",
                   F.col("dsz").alias("szhi"))
    pairs = (
        hi.join(F.broadcast(lo) if broadcast else lo.hint("merge"),
                "shingle")
        .filter(F.col("lo") < F.col("hi"))
        .groupBy("lo", "hi", "szlo", "szhi")
        .agg(F.count(F.lit(1)).alias("isz"))
    )
    return pairs.filter(
        F.col("isz").cast("double")
        / (F.col("szhi") + F.col("szlo") - F.col("isz"))
        >= threshold
    ).select(F.col("hi").alias("doc_id"))


def make_ingest_batch_fn(
    spark: SparkSession,
    index_table: str,
    accepted_path: str,
    *,
    min_quality: float = 0.0,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: list[IngestStats] | None = None,
):
    """Build the per-epoch body of the curated-ingestion gate.

    ``index_table`` is a ``dedup_index.build_prefix_index`` index; its
    meta row sets the shingle width of both near-dup passes. The
    returned callable takes ``(batch_df, epoch_id)``; ``batch_df``
    needs an ``id_col`` (long, unique per document) and a ``text_col``.
    Pass a list as ``stats`` to collect per-epoch :class:`IngestStats`;
    they are observed on the checkpoints the gate makes anyway, so they
    cost no extra Spark action (see the module notes).
    """

    def ingest_batch(batch_df: DataFrame, epoch_id: int) -> None:
        arrived = Observation()
        docs = batch_df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        ).observe(arrived, F.count(F.lit(1)).alias("n"))
        docs = docs.localCheckpoint(eager=True)  # cut the source lineage
        n_docs = arrived.get["n"]
        n = di._meta_row(spark, index_table).n
        known = di.members(spark, index_table)
        by_text = Window.partitionBy(F.sha2(F.col("text"), 256)) \
            .orderBy("doc_id")
        ranked = batch_anti_join(docs, known, "doc_id", rows=n_docs) \
            .withColumn("_rn", F.row_number().over(by_text))
        # quality verdict per doc_id over its rank-1 rows: a row is good
        # when ANY rank-1 row of its doc_id passes (semi-join semantics —
        # an insert and an update of one doc_id in a batch are two rows)
        passes = F.max(
            F.when(F.col("_rn") == 1, quality_score() >= min_quality)
        ).over(Window.partitionBy("doc_id"))
        tagged = ranked.withColumn(
            "_good", (F.col("_rn") == 1) & F.coalesce(passes, F.lit(False))
        )
        # stages 1-3 materialized once, shingled once: every later stage
        # reads these (doc_id, text, shs, sz) rows
        staged = Observation()
        good = (
            di._doc_shingles(tagged, n, "text", "_rn", "_good")
            .observe(
                staged,
                F.count(F.lit(1)).alias("fresh"),
                F.count_if(F.col("_rn") == 1).alias("uniq"),
                F.count_if("_good").alias("good"),
                F.sum(F.when(F.col("_good"), F.col("sz"))).alias("shingles"),
            )
            .filter("_good")
            .drop("_rn", "_good")
            .localCheckpoint(eager=True)
        )
        c = staged.get
        # the probe's own broadcast-vs-sort-merge gate, on the shingle
        # rows it would broadcast; the in-batch pass follows it
        bcast = (c["shingles"] or 0) <= di.MAX_BROADCAST_SHINGLES

        def _b(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if bcast else df

        n_nocorp = n_acc = 0
        if c["good"]:
            hits = di.probe(
                spark, index_table, good, threshold, broadcast_batch=bcast
            ).select(F.col("batch_doc").alias("doc_id"))
            # checkpointed: the in-batch pass reads the survivors twice —
            # the probe's verify runs only here
            probed = Observation()
            survivors = (
                good.join(_b(hits), "doc_id", "left_anti")
                .observe(probed, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            n_nocorp = probed.get["n"]
        if n_nocorp:
            kept = Observation()
            accepted = (
                survivors.join(
                    _b(_self_probe_rejects(survivors, threshold, bcast)),
                    "doc_id",
                    "left_anti",
                )
                .observe(kept, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            n_acc = kept.get["n"]

        if stats is not None:
            stats.append(
                IngestStats(
                    epoch_id=epoch_id,
                    arrived=n_docs,
                    already_known=n_docs - c["fresh"],
                    exact_dup=c["fresh"] - c["uniq"],
                    low_quality=c["uniq"] - c["good"],
                    corpus_near_dup=c["good"] - n_nocorp,
                    batch_near_dup=n_nocorp - n_acc,
                    accepted=n_acc,
                )
            )

        if n_acc == 0:
            return
        (
            accepted.select("doc_id", "text")
            .withColumn("epoch_id", F.lit(epoch_id).cast("long"))
            .write.mode("append")
            .parquet(accepted_path)
        )
        # accepted ⊆ fresh, which already passed the membership
        # anti-join this epoch: append its arrays without repeating it
        di._append_delta(spark, accepted, index_table, n_acc)

    return ingest_batch


def accepted_corpus(spark: SparkSession, accepted_path: str) -> DataFrame:
    """Read the accepted store compacted to one row per ``doc_id``
    (earliest epoch wins) — absorbs the at-least-once append window."""
    w = Window.partitionBy("doc_id").orderBy("epoch_id")
    return (
        spark.read.parquet(accepted_path)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def documents_from_outbox(outbox_df: DataFrame) -> DataFrame:
    """Adapter: a document change feed riding the outbox envelope.

    Inserted/updated documents arrive as outbox rows whose ``props``
    JSON carries ``{"doc_id": ..., "text": ...}`` (the reference's
    "everything else is yours" payload contract,
    ``stored-procedure.md:70``); deletes carry no text and are not
    ingestion candidates. Composes upstream of the gate, as
    ``CurateSink`` does: ``gate(documents_from_outbox(batch), epoch)``."""
    return (
        outbox_df.filter(F.col("operation") != "D")
        .select(
            F.get_json_object("props", "$.doc_id").cast("long").alias("doc_id"),
            F.get_json_object("props", "$.text").alias("text"),
        )
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )


# --------------------------------------------------------------------------
# Embedding modality: the ANN-index twin of the text gate
# --------------------------------------------------------------------------


#: per-gate cycle health, keyed by index table name — the embedding
#: gate's analog of the reference's per-object cycle health surface
#: (``Source/Program.cs:906-949`` serves last-run/health per tracking
#: object to the dashboard). Every ``make_embedding_ingest_fn`` batch
#: records its stage timings, accept/near-dup counts, the margin it
#: gated with, and any fold here; ``api.py`` serves it at
#: ``GET /health/ingest`` so a long-running operator sees probe/
#: extend/fold drift without reading logs (VERDICT r9 #6).
INGEST_HEALTH: dict[str, dict] = {}

#: cycles retained per gate in ``INGEST_HEALTH`` — enough to see a
#: trend (a widening probe stage, a fold spike) at dashboard cost
INGEST_HISTORY = 20

#: guards the in-memory INGEST_HEALTH registry: gate threads (pollers,
#: the replay sweeper) write entries while the API thread snapshots them (ADVICE
#: r10 — an unguarded dict iteration can raise mid-request and see a
#: half-updated entry)
_HEALTH_LOCK = threading.Lock()


def _health_db(root: str):
    """The persisted-health table in the ``state.db`` under the gate's
    ``health_root`` — the analog of the reference's restart-surviving
    health surface (``Program.cs:906-949`` serves last-run health from
    SQLite ``state.db``, not process memory; VERDICT r10 #3)."""
    return SqliteDb(
        root, "state.db",
        "CREATE TABLE IF NOT EXISTS ingest_health"
        " (table_name TEXT PRIMARY KEY, payload TEXT NOT NULL)",
    )


def _persist_ingest_health(root: str, table: str, entry: dict) -> None:
    """Upsert one gate's health entry."""
    import json

    with closing(_health_db(root)) as db:
        db.execute(
            "INSERT INTO ingest_health VALUES (?, ?) ON CONFLICT (table_name)"
            " DO UPDATE SET payload = excluded.payload",
            (table, json.dumps(entry)),
        )


def load_ingest_health(root: str) -> dict[str, dict]:
    """Persisted gate-health entries (empty when none were written)."""
    import json

    with closing(_health_db(root)) as db:
        rows = db.query("SELECT * FROM ingest_health")
    return {r["table_name"]: json.loads(r["payload"]) for r in rows}


def restore_ingest_health(root: str) -> int:
    """Merge persisted entries into the live registry after a driver
    restart — live gates win (they are strictly newer). Returns the
    number of gates restored."""
    restored = 0
    with _HEALTH_LOCK:
        for table, entry in load_ingest_health(root).items():
            if table not in INGEST_HEALTH:
                INGEST_HEALTH[table] = entry
                restored += 1
    return restored


def snapshot_ingest_health() -> dict[str, dict]:
    """Deep-enough copy of the registry for a concurrent reader (the
    API thread): entry dicts are copied so a gate finishing a cycle
    mid-request cannot mutate the payload being serialized."""
    with _HEALTH_LOCK:
        return {
            name: {"last": entry.get("last"),
                   "cycles": list(entry.get("cycles", []))}
            for name, entry in INGEST_HEALTH.items()
        }


@dataclass(frozen=True)
class EmbeddingIngestStats:
    """Per-epoch telemetry for the embedding gate. ``timings`` maps
    stage name → seconds (``dedup`` = ids anti-join, ``probe`` = index
    probe + threshold, ``write`` = accepted append, ``extend`` = index
    extend) so a too-slow poll cycle names its dominant term instead of
    being one opaque number (the reference warns when a cycle overruns
    its poll interval — ``Models/Environment.cs:53-54`` — and the
    operator's first question is always *which stage*)."""

    epoch_id: int
    arrived: int
    already_known: int
    near_dup: int
    accepted: int
    timings: dict | None = None
    #: the certified ADC margin the cycle gated with (``precision=
    #: 'adc'`` only; None in exact mode). A drifted extend WIDENS the
    #: stored margin (``extend_ivfpq_index``), and the gate re-reads it
    #: every cycle — so a growth step here is the gate-visible record
    #: of the drift event, not just a log warning.
    adc_margin: float | None = None
    #: tail rows folded into the base this cycle (0 when the fold
    #: policy didn't trigger; see ``fold_tail_rows``)
    folded: int = 0


def make_embedding_ingest_fn(
    spark: SparkSession,
    ann_table: str,
    accepted_path: str,
    *,
    cos_threshold: float = 0.95,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    stats: list[EmbeddingIngestStats] | None = None,
    precision: str = "exact",
    cache_index: bool = False,
    cache_storage_level: str = "MEMORY_AND_DISK",
    fold_tail_rows: int | None = None,
    health_root: str | None = None,
):
    """Per-epoch body curating an embedding batch against the
    persistent IVF index (``operators/ann_index.py``): vectors already
    indexed are dropped (replay-safe), vectors whose nearest indexed
    neighbor reaches ``cos_threshold`` are rejected as near-duplicates,
    the rest are appended and indexed exactly-once.

    Same delivery contract and scale shape as the text gate: broadcast
    batch, bucket-pruned index probe, corpus never shuffled per epoch.
    The cosine gate is approximate exactly like IVF search is — a
    near-dup hiding in an unprobed cell survives; raise ``nprobe`` to
    trade cost for strictness.

    ``ann_table`` may name either index family — a flat/two-level ANN
    index (``operators/ann_index.py``) or an IVF-PQ index
    (``operators/ivfpq_index.py``, detected by its ``_codes`` sidecar
    being registered). The decision semantics are identical (both
    probes threshold an EXACT cosine — IVF-PQ's re-rank stage computes
    it from the float table), but the candidate scan differs by a
    factor of dims/m: at 2 M × 768 the float probe measured 86 s/cycle
    where ADC candidates cost m=8 code reads each — the width regime
    belongs to IVF-PQ (BASELINE.md round 8).

    RECOMMENDATION (round 11, measured): in the width regime
    (dims ≳ 256) run ``precision="adc"`` — the exact gate's residual
    cost is the corpus-sized float-table READ, which no re-rank
    engine can remove (the Arrow exact-dot twin is bit-identical and
    free, but both engines are scan-dominated at shortlist sizes:
    BASELINE.md round 11), while the adc gate's warm floor held the
    30 s poll envelope (18.2 s min) even on a round-11 box whose
    storage intermittently ran 3× slow, with 6/6 decision parity
    against the exact gate on the certified product manifold.
    ``precision="exact"`` remains the right default at narrow widths
    and wherever the index cannot certify a usable ADC margin."""
    from trignis_spark.operators import ann_index as ai
    from trignis_spark.operators import ivfpq_index as ipq

    is_pq = spark.catalog.tableExists(f"{ann_table}_codes")
    if precision not in ("exact", "adc"):
        raise ValueError(
            f"precision must be 'exact' or 'adc', got {precision!r}"
        )
    # precision="adc": gate on the QUANTIZED cosine at (θ − certified
    # margin) and never touch the float table. The exact re-rank's
    # partition pruning is worthless at poll-batch query counts — a
    # 1 200-query probe's shortlist cells ARE the table, so every
    # cycle re-scanned the corpus-sized floats (~50–95 s of the 2 M ×
    # 768 cycle, BASELINE.md round 8) while the codes scan is ~50 MB.
    # One-sided by construction: |cos − adc_cos| ≤ margin means no
    # θ-near-dup that ADC scored can slip through; vectors with true
    # cos in [θ − 2·margin, θ) may be over-rejected — the same
    # direction of approximation the gate already accepts from IVF
    # cell probing (an unprobed cell's dup survives; here nothing new
    # survives, some borderline uniques don't).
    if precision == "adc":
        if not is_pq:
            raise ValueError(
                "precision='adc' requires an IVF-PQ index "
                f"({ann_table} has no _codes sidecar)"
            )
        margin = ipq.stored_adc_margin(spark, ann_table)
        eff_threshold = cos_threshold - margin
        if eff_threshold <= 0:
            # a margin this wide means the quantized cosine carries no
            # usable signal at θ — every vector would gate as a near-
            # dup. Measured: a 2 M × 768 *random gaussian* corpus
            # certifies margin ≈ 1.32 at m=8/k=16 (random data is the
            # PQ worst case; real embedding manifolds quantize far
            # better). Fail at construction, not one vector at a time.
            raise ValueError(
                f"precision='adc': certified margin {margin:.3f} "
                f"swallows cos_threshold {cos_threshold} — the "
                "codebook cannot represent this corpus tightly enough "
                "to gate on quantized cosines; use precision='exact' "
                "or rebuild with finer PQ (higher m/k)"
            )
    if cache_index and not is_pq:
        # the float-ANN family's extends append into the base tables
        # themselves, so every cycle would evict and rebuild the
        # cache — strictly worse than no cache. Only the IVF-PQ
        # family's tail design keeps the base immutable between
        # compactions.
        raise ValueError(
            "cache_index=True requires an IVF-PQ index (tail-design "
            f"extends); {ann_table} is a float-ANN index whose "
            "extends mutate the cached base every cycle"
        )
    base_cached = [False]

    def cache_base_unless_banded() -> None:
        # round 12: an index with a usable certified margin
        # serves the exact re-rank through the banded In-leg gather
        # (``ipq._band_floats``) — a few pushed-In rows per query, never
        # a base scan. Caching the float base would both waste the
        # storage memory AND replace the parquet scan the pushed legs
        # prune with an InMemoryRelation whose 10 k-row cached batches
        # prune nothing. The band can disarm later (a sampled
        # remeasure, a drift-widened margin), so the exact gate asks
        # again every epoch and pins the base the first time it is off.
        if base_cached[0] or ipq.band_armed(ipq._probe_state(spark,
                                                             ann_table)):
            return
        spark.catalog.cacheTable(ann_table, storageLevel=level)
        base_cached[0] = True
        log.info("ingest gate %s: banded gather not armed, float base "
                 "pinned in the storage cache", ann_table)

    if cache_index:
        # pin the serving-side corpus tables in Spark's storage cache:
        # a long-lived poller's probe re-reads them EVERY cycle, and
        # on a box whose page cache is under pressure that read is the
        # whole cycle (measured 28 s → 138 s probe swings at 2 M × 768
        # as the 5.9 GB float table fell out of cache). The tail
        # design makes this sound: extends refresh only the tail
        # sidecars, so the cached base stays valid until a compaction
        # folds the tail in (which re-caches lazily). CLUSTER
        # SEMANTICS: the cache is LRU per executor — a corpus larger
        # than aggregate storage memory degrades to PARTIAL caching,
        # never to error (evicted partitions fall back to the parquet
        # scan, so only the latency benefit shrinks), and the default
        # MEMORY_AND_DISK level spills evicted blocks to local SSD
        # instead of dropping them. ``cache_storage_level`` is the
        # operator dial: "MEMORY_ONLY" to refuse the disk copy (pure
        # LRU-partial), "DISK_ONLY" to keep executor memory for
        # shuffle-heavy co-tenants while still beating remote/parquet
        # re-reads (tests/test_ingest.py pins the level end-to-end).
        from pyspark import StorageLevel

        try:
            level = getattr(StorageLevel, cache_storage_level)
        except AttributeError:
            raise ValueError(
                f"cache_storage_level {cache_storage_level!r} is not a "
                "pyspark.StorageLevel name (e.g. MEMORY_AND_DISK, "
                "MEMORY_ONLY, DISK_ONLY)"
            ) from None
        if precision != "adc":
            # the rerank-free adc probe never reads the float base —
            # pinning it (5.9 GB at 2 M × 768) wastes storage memory
            # and can evict the ~50 MB codes table the probe DOES read
            cache_base_unless_banded()
        spark.catalog.cacheTable(f"{ann_table}_codes", storageLevel=level)
    if fold_tail_rows is not None and not is_pq:
        raise ValueError(
            "fold_tail_rows requires an IVF-PQ index (only its "
            f"extends write an LSM tail); {ann_table} is a float-ANN "
            "index"
        )

    import time

    # in-process tail-size tracker for the fold policy: extends are the
    # ONLY tail writers in a single-poller gate (never-two-pollers is
    # the lifecycle invariant, reference `JobExecutor.cs`), so summing
    # accepted counts tracks the tail without a per-cycle count() action
    tail_rows = [0]

    def ingest_batch(batch_df: DataFrame, epoch_id: int) -> None:
        t = {}
        cycle_margin = None
        if precision == "adc":
            # re-read per cycle (a dict lookup — ivfpq's serving-state
            # cache): a drifted extend WIDENS the stored margin, and
            # gating with the stale narrower bound would break the
            # one-sided guarantee the mode exists for (ADVICE r8)
            cycle_margin = ipq.stored_adc_margin(spark, ann_table)
            eff = cos_threshold - cycle_margin
            if eff <= 0:
                raise ValueError(
                    f"precision='adc': margin widened to "
                    f"{cycle_margin:.3f} (drifted extends) and now "
                    f"swallows cos_threshold {cos_threshold} — rebuild "
                    "with finer PQ or switch to precision='exact'"
                )
        else:
            eff = cos_threshold
            if cache_index:
                cache_base_unless_banded()
        t0 = time.time()
        vecs = batch_df.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(emb_col).alias("embedding"),
        ).localCheckpoint(eager=True)
        known = spark.table(ai._ids_table(ann_table))
        # checkpoint the survivors (batch-sized): the anti-join runs
        # once instead of under both the probe and the stats counts,
        # and an all-replay epoch skips the probe entirely
        fresh = batch_anti_join(vecs, known, "vec_id") \
            .localCheckpoint(eager=True)
        t["dedup"] = time.time() - t0

        n_fresh = fresh.count()
        if n_fresh == 0:
            accepted, n_acc = None, 0
        else:
            t0 = time.time()
            probed = (
                ipq.ivfpq_probe(
                    spark, ann_table, fresh, k=1, nprobe=nprobe,
                    include_score=True,
                    rerank=(precision == "exact"),
                )
                if is_pq
                else ai.probe_ann_index(
                    spark, ann_table, fresh, k=1, nprobe=nprobe,
                    include_score=True,
                )
            )
            hits = (
                probed
                .filter(F.col("cos") >= eff)
                .select(F.col("query_id").alias("vec_id"))
                .distinct()
            )
            accepted = fresh.join(hits, "vec_id", "left_anti") \
                .localCheckpoint(eager=True)
            n_acc = accepted.count()
            t["probe"] = time.time() - t0

        if n_acc > 0:
            t0 = time.time()
            (
                accepted.withColumn(
                    "epoch_id", F.lit(epoch_id).cast("long")
                )
                .write.mode("append")
                .parquet(accepted_path)
            )
            t["write"] = time.time() - t0
            t0 = time.time()
            # assume_fresh: `accepted` is this epoch's survivor set of
            # the SAME ids anti-join extend would re-run — skipping it
            # saves a second full membership scan per poll cycle
            if is_pq:
                ipq.extend_ivfpq_index(spark, accepted, ann_table,
                                       assume_fresh=True)
            else:
                ai.extend_ann_index(spark, accepted, ann_table,
                                    assume_fresh=True)
            t["extend"] = time.time() - t0
            tail_rows[0] += n_acc

        folded = 0
        if fold_tail_rows is not None and tail_rows[0] >= fold_tail_rows:
            # fold policy (reference analog: retention purge runs on
            # its own cadence inside the poll loop,
            # DeadLetterService.cs:146-161): when accumulated tail rows
            # cross the knob, fold them into the cell-partitioned base
            # so probe-side tail unions and per-cell file counts stay
            # flat over an unbounded run. Fold cost is tail-sized
            # (anti-join prunes to tail cells), so amortized per
            # accepted row it's a constant; crash-safety is fold's own
            # contract (duplicates in the crash window stay guarded).
            t0 = time.time()
            folded = ipq.fold_ivfpq_tail(spark, ann_table)
            tail_rows[0] = 0
            t["fold"] = time.time() - t0
            if cache_index:
                # the fold rewrote base partitions — re-pin them (the
                # cached plan still names the tables; refresh + lazy
                # re-cache happens on next probe)
                spark.catalog.cacheTable(f"{ann_table}_codes",
                                         storageLevel=level)
                if base_cached[0]:
                    spark.catalog.cacheTable(ann_table,
                                             storageLevel=level)

        timings = {k: round(v, 3) for k, v in t.items()}
        rec = {
            "epoch_id": epoch_id,
            "at": time.time(),
            "accepted": n_acc,
            "near_dup": n_fresh - n_acc,
            "timings": timings,
            "precision": precision,
            "adc_margin": cycle_margin,
            "folded": folded,
        }
        if stats is not None:
            n_all = vecs.count()
            rec["arrived"] = n_all
            rec["already_known"] = n_all - n_fresh
            stats.append(
                EmbeddingIngestStats(
                    epoch_id=epoch_id,
                    arrived=n_all,
                    already_known=n_all - n_fresh,
                    near_dup=n_fresh - n_acc,
                    accepted=n_acc,
                    timings=timings,
                    adc_margin=cycle_margin,
                    folded=folded,
                )
            )
        # cycle health registry — served by GET /health/ingest
        # (VERDICT r9 #6): always updated, so an operator sees
        # probe/extend/fold drift without opting into the stats list
        # or reading logs. The arrived/already_known split needs an
        # extra count() job, so it appears only when stats opt in.
        # Updated under the lock (the API thread snapshots
        # concurrently) and, with ``health_root``, upserted into the
        # health store so the surface survives a driver restart the
        # way the reference's does (VERDICT r10 #3).
        with _HEALTH_LOCK:
            entry = INGEST_HEALTH.setdefault(ann_table, {"cycles": []})
            entry["cycles"] = (entry["cycles"] + [rec])[-INGEST_HISTORY:]
            entry["last"] = rec
            if health_root is not None:
                _persist_ingest_health(
                    health_root, ann_table,
                    {"last": rec, "cycles": list(entry["cycles"])},
                )

    return ingest_batch
