"""Persistent IVF index for embedding similarity search.

``similarity.ivf_topk`` re-buckets the whole corpus on every call —
right for a one-shot query, wrong for the production loop where the
same corpus serves every search. This module materializes the inverted
file once and makes each search a bucket probe, mirroring
``dedup_index`` for the embedding axis:

- **index table** ``<name>`` — (bucket INT, vec_id BIGINT,
  v ARRAY<DOUBLE>, n2 DOUBLE), *bucketed by the IVF cell id*, so
  probing a cell is a bucket-pruned scan, never a full-corpus pass.
  Norms are precomputed: scoring a candidate is one dot product.
- **membership sidecar** ``<name>_ids`` — (vec_id BIGINT), plain
  parquet: every dedup against it is a broadcast anti-join
  (``batch_anti_join``), so a bucket spec buys nothing while forcing
  one file per present bucket on every poll-cycle append.

The coarse quantizer is the same deterministic strided sign-pattern
as ``ivf_topk`` (``similarity.bucket_expr`` — a k-means-free stand-in
the sandbox can verify bit-for-bit), or trained centroids stored in a
``<name>_centroids`` sidecar (``build_ann_index(centroids=)``,
``build_ann_index_2level``) — the index layout and probe shape are
unchanged.

Every index has a ``<name>_meta`` row (its cell count, and
``bucket_v = 2`` for the sign quantizer). Opening an index of an
earlier layout — no meta table, or sign-quantized cells without
``bucket_v = 2`` — raises a ``RuntimeError`` that names the table;
such an index is rebuilt, not converted.

``nprobe`` probes the query's cell plus its nearest neighbor cells
(sign patterns at Hamming distance 1, the natural neighbor set of a
sign quantizer) — the standard IVF recall/cost dial: candidates grow
linearly with probed cells, never with corpus size.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trignis_spark.operators.similarity import DOT, _prep, bucket_expr
from trignis_spark.plans.bucketing import batch_anti_join


def _ids_table(table: str) -> str:
    return f"{table}_ids"


def _centroids_table(table: str) -> str:
    return f"{table}_centroids"


def _meta_table(table: str) -> str:
    return f"{table}_meta"


def _open_index(spark: SparkSession, table: str):
    """(meta row, trained centroids or None) of a persisted index. The
    meta row is authoritative for the cell count — a probe or extend
    that guessed a different count would compute wrong cells and
    silently miss neighbors. An index of an earlier layout is refused:
    one without a meta table, or a sign-quantized one whose meta lacks
    ``bucket_v = 2`` (its cells are the leading-bits form, which the
    strided ``bucket_expr`` would not reproduce)."""
    name = _meta_table(table)
    if not spark.catalog.tableExists(name):
        raise RuntimeError(
            f"{name}: missing — ANN index {table} predates the meta "
            "sidecar, a layout that is no longer read; rebuild it with "
            "build_ann_index"
        )
    meta = spark.table(name).first()
    cents = _trained_centroids(spark, table)
    if cents is None and meta.asDict().get("bucket_v") != 2:
        raise RuntimeError(
            f"{name}: no bucket_v = 2 — ANN index {table} holds "
            "leading-bits sign cells, a layout that is no longer read; "
            "rebuild it with build_ann_index"
        )
    return meta, cents


def _refresh(spark: SparkSession, table: str) -> None:
    # writes may come from a cloned (foreachBatch) session — invalidate
    # the probing session's cached file listing (see dedup_index)
    spark.catalog.refreshTable(table)
    spark.catalog.refreshTable(_ids_table(table))


def _trained_centroids(spark: SparkSession, table: str) -> DataFrame | None:
    name = _centroids_table(table)
    if spark.catalog.tableExists(name):
        return spark.table(name)
    return None


def _rows(embeddings: DataFrame, n_buckets: int,
          centroids: DataFrame | None = None,
          spread: bool = True) -> DataFrame:
    if centroids is not None:
        from trignis_spark.operators.kmeans import assign_clusters

        assigned = assign_clusters(embeddings, centroids, spread=spread)
        return (
            _prep(embeddings)
            .join(assigned, "vec_id")
            .select(F.col("cid").alias("bucket"), "vec_id", "v", "n2")
        )
    prepped = _prep(embeddings)
    # corpus-sized evaluation — bind the width as a literal so the
    # strided positions fold at plan time (one limit-1 meta read, vs
    # size(v) once per bit per corpus row)
    from trignis_spark.operators.similarity import _vec_dims

    return prepped.select(
        F.expr(bucket_expr("v", n_buckets,
                           dims=_vec_dims(prepped))).alias("bucket"),
        "vec_id",
        "v",
        "n2",
    )


def _write_rows(
    rows: DataFrame, table: str, n_buckets: int, mode: str,
    small: bool = False
) -> None:
    """The index-table + ids-sidecar write pair every build/extend path
    shares. Co-partitioning on the bucket column first keeps the file
    count at the bucket count, not buckets × writer tasks (the
    small-files blow-up — see ivfpq_index).

    ``small=True`` (poll-cycle extends): hash-partitioning — not task
    count — is what pins one file per present bucket, so a batch-sized
    append repartitions to a few-×-cores count instead of
    ``n_buckets``. At the 2 M soak the extend's 1 444 near-empty write
    tasks (plus their commit protocol) were the cycle's single largest
    term: 22.8 s of a 48.7 s cycle, measured via
    ``EmbeddingIngestStats.timings``.

    The ids sidecar is deliberately NOT bucketed (round 8): every
    consumer is a broadcast-shaped anti-join (``batch_anti_join``),
    which never uses a bucket spec — while bucketBy forced every
    append to cut one file per present bucket (~740/cycle at the 2 M
    soak), so per-cycle membership scans degraded linearly with poll
    count. A plain append is ONE file per cycle and the scan cost
    stays flat; a 100 TB deployment compacts on the same cadence it
    already compacts the index table."""
    sc = rows.sparkSession.sparkContext
    n_part = min(n_buckets, 4 * sc.defaultParallelism) if small \
        else n_buckets
    (
        rows.repartition(n_part, "bucket")
        .write.mode(mode)
        .bucketBy(n_buckets, "bucket")
        .format("parquet")
        .saveAsTable(table)
    )
    (
        rows.select("vec_id")
        .repartition(1 if small else sc.defaultParallelism)
        .write.mode(mode)
        .format("parquet")
        .saveAsTable(_ids_table(table))
    )


def build_ann_index(
    spark: SparkSession,
    embeddings: DataFrame,
    table: str,
    n_buckets: int | None = None,
    centroids: DataFrame | None = None,
) -> None:
    """Materialize the IVF index (overwrites both tables).

    With ``centroids`` (a trained quantizer from
    ``kmeans.train_kmeans``: (cid, cvec) rows) the inverted file is
    partitioned by nearest-centroid cell and the centroids are stored
    in a ``<table>_centroids`` sidecar, so probes and extends assign
    consistently; without it the deterministic sign-pattern quantizer
    applies. The default ``n_buckets=None`` sizes the cell count from
    the corpus (√N rule — see ``ivfpq_index.auto_n_buckets``); a fixed
    cell count makes probe cost linear in corpus size (measured
    16.6 s → 4.7 s at sf10, BASELINE.md), so pass one only to pin the
    layout for an external replayer."""
    from trignis_spark.maintenance import drop_table_and_location

    if n_buckets is None:
        from trignis_spark.operators.ivfpq_index import auto_n_buckets

        n_buckets = auto_n_buckets(embeddings.count())
    drop_table_and_location(spark, table)
    drop_table_and_location(spark, _ids_table(table))
    drop_table_and_location(spark, _meta_table(table))
    # always cleared: a rebuild without a quantizer must not leave a
    # stale one behind, and an orphaned location must not fail a rebuild
    drop_table_and_location(spark, _centroids_table(table))
    # same for the 2-level hierarchy marker: a flat rebuild over a name
    # that previously held a 2-level index must not leave the coarse
    # sidecar behind — extends would take the hierarchical path against
    # a meta row that has no k_fine and fail on every batch
    drop_table_and_location(spark, _coarse_table(table))
    if centroids is not None:
        centroids = centroids.localCheckpoint(eager=True)
        n_buckets = max(1, centroids.count())
        (
            centroids.write.mode("overwrite")
            .format("parquet")
            .saveAsTable(_centroids_table(table))
        )
        spark.catalog.refreshTable(_centroids_table(table))
    rows = _rows(embeddings, n_buckets, centroids)
    _write_rows(rows, table, n_buckets, "overwrite")
    # persist the cell count: probes/extends must use the build-time
    # layout, not guess their own (auto-sizing made the old implicit
    # "everyone defaults to 16" contract a correctness trap)
    spark.createDataFrame(
        [(int(n_buckets), 2)], "n_buckets int, bucket_v int"
    ).write.mode("overwrite").format("parquet").saveAsTable(
        _meta_table(table)
    )
    spark.catalog.refreshTable(_meta_table(table))
    _refresh(spark, table)


def _coarse_table(table: str) -> str:
    return f"{table}_centroids_coarse"


def _hier_quantizer(spark: SparkSession, table: str, meta, cents):
    """(coarse, fine, k_fine) for an index built by
    ``build_ann_index_2level``, else None; ``meta`` and ``cents`` come
    from ``_open_index``. The fine level is reconstructed from the flat
    sidecar (ccid = cid ÷ k_fine, fid = cid mod k_fine) so the flat
    table stays the single source the probe path reads."""
    name = _coarse_table(table)
    if not spark.catalog.tableExists(name):
        return None
    k_fine = meta["k_fine"]
    fine = cents.select(
        (F.col("cid") / k_fine).cast("int").alias("ccid"),
        F.pmod(F.col("cid"), F.lit(k_fine)).cast("int").alias("fid"),
        "cvec",
    )
    return spark.table(name), fine, int(k_fine)


def build_ann_index_2level(
    spark: SparkSession,
    embeddings: DataFrame,
    table: str,
    k_coarse: int,
    k_fine: int,
    iters: int = 2,
) -> None:
    """Trained-quantizer IVF index whose build/extend assignment is
    **hierarchical**: ``kmeans.train_kmeans_2level`` trains k_coarse
    coarse cells with k_fine sub-cells each, and every vector is
    assigned through the hierarchy at k_coarse + k_fine distance
    evaluations instead of the flat path's k_coarse·k_fine — the same
    wall-breaker the two-level near-dup blocking uses, applied to the
    index's write path (a flat trained quantizer at the √N cell rule
    costs N·√N per build/extend batch; this costs N·2·N^(1/4)).

    The *stored* layout is exactly ``build_ann_index``'s trained form —
    a flat ``(cid, cvec)`` sidecar (fine cells flattened to
    cid = ccid·k_fine + fid) plus the bucketed inverted file — so
    ``probe_ann_index`` works unchanged: queries rank the flat cells by
    distance and probe the nearest ``nprobe``. Corpus vectors may sit
    in a different cell than a flat global argmin would choose
    (standard hierarchical-quantizer behavior); nprobe compensates and
    probing every cell remains exhaustive. A ``_centroids_coarse``
    sidecar (+ ``k_fine`` in the meta row) routes extends through the
    same hierarchical assignment."""
    from trignis_spark.maintenance import drop_table_and_location
    from trignis_spark.operators import kmeans as km

    coarse, fine = km.train_kmeans_2level(
        embeddings, k_coarse, k_fine, iters=iters
    )
    coarse = coarse.localCheckpoint(eager=True)
    flat = km.flatten_2level(fine, k_fine).localCheckpoint(eager=True)
    n_buckets = k_coarse * k_fine
    for t in (table, _ids_table(table), _meta_table(table),
              _centroids_table(table), _coarse_table(table)):
        drop_table_and_location(spark, t)
    flat.write.mode("overwrite").format("parquet").saveAsTable(
        _centroids_table(table)
    )
    coarse.write.mode("overwrite").format("parquet").saveAsTable(
        _coarse_table(table)
    )
    assigned = km.assign_clusters_2level(embeddings, coarse, fine, k_fine)
    rows = (
        _prep(embeddings)
        .join(assigned, "vec_id")
        .select(F.col("cid").alias("bucket"), "vec_id", "v", "n2")
    )
    _write_rows(rows, table, n_buckets, "overwrite")
    spark.createDataFrame(
        [(int(n_buckets), int(k_fine))], "n_buckets int, k_fine int"
    ).write.mode("overwrite").format("parquet").saveAsTable(
        _meta_table(table)
    )
    for t in (_meta_table(table), _coarse_table(table)):
        spark.catalog.refreshTable(t)
    _refresh(spark, table)


def attach_ann_index(spark: SparkSession, table: str) -> None:
    """Re-register a persisted ANN index's tables in a fresh session's
    catalog (see ``ivfpq_index.attach_ivfpq_index`` — same in-memory-
    catalog restart story). The float table re-declares its bucket
    spec from the meta row so bucketed extends still append; the ids
    sidecar attaches plain (it is unbucketed by design — see
    ``_write_rows`` — and an index built before that change reads
    identically, its bucketed files being ordinary parquet).
    Covers both the flat and two-level layouts; the quantizer tables
    only exist for trained/two-level indexes, so those attach
    best-effort."""
    from trignis_spark.maintenance import attach_table

    attach_table(spark, _meta_table(table))
    nb = int(spark.table(_meta_table(table)).first()["n_buckets"])
    attach_table(spark, table, bucket_cols=["bucket"], n_buckets=nb)
    attach_table(spark, _ids_table(table))
    for name in (_centroids_table(table), _coarse_table(table)):
        try:
            attach_table(spark, name)
        except FileNotFoundError:
            pass  # hash-bucketed / flat index: no trained quantizer


def extend_ann_index(
    spark: SparkSession,
    embeddings: DataFrame,
    table: str,
    assume_fresh: bool = False,
) -> int:
    """Append vectors not already present (idempotent under replay);
    returns the number actually added. The bucket count comes from the
    index's own meta sidecar. Indexes built by ``build_ann_index_2level``
    assign their extends through the stored hierarchy (k_coarse + k_fine
    evaluations per vector, not cells).

    ``assume_fresh=True`` skips the internal ids anti-join — for a
    caller that JUST ran the same anti-join against the same ids table
    in the same epoch (the embedding ingest gate), re-running it here
    is a second full membership scan per poll cycle that protects
    nothing: both scans read the same table, so any crash window one
    catches the other does too (the probe's replay-duplicate dedup
    covers the index-rows-appended/ids-not window either way)."""
    meta, cents = _open_index(spark, table)
    n_buckets = meta["n_buckets"]
    known = spark.table(_ids_table(table))

    def _dedup(df: DataFrame) -> DataFrame:
        return df if assume_fresh else batch_anti_join(df, known, "vec_id")

    hier = _hier_quantizer(spark, table, meta, cents)
    if hier is not None:
        from trignis_spark.operators import kmeans as km

        coarse, fine, k_fine = hier
        fresh_src = _dedup(embeddings)
        # spread=False: an extend batch is poll-cycle-sized — the
        # corpus-parallelism repartition would be pure overhead here
        assigned = km.assign_clusters_2level(
            fresh_src, coarse, fine, k_fine, spread=False
        )
        fresh = (
            _prep(fresh_src)
            .join(assigned, "vec_id")
            .select(F.col("cid").alias("bucket"), "vec_id", "v", "n2")
            .localCheckpoint(eager=True)
        )
        added = fresh.count()
        if added == 0:
            return 0
        _write_rows(fresh, table, n_buckets, "append", small=True)
        _refresh(spark, table)
        return added
    fresh = _rows(
        _dedup(embeddings),
        n_buckets,
        cents,
        spread=False,  # batch-sized input — skip the corpus repartition
    ).localCheckpoint(eager=True)
    added = fresh.count()
    if added == 0:
        return 0
    _write_rows(fresh, table, n_buckets, "append", small=True)
    _refresh(spark, table)
    return added


def probe_ann_index(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    include_score: bool = False,
) -> DataFrame:
    """Approximate top-k neighbors of each query vector:
    (query_id, neighbor_id, rank), ties broken on neighbor_id;
    with ``include_score`` a ``cos`` column rides along (used by the
    embedding ingestion gate's near-dup threshold).

    ``queries`` needs (vec_id, embedding). The query set is small by
    construction, so its cell fan-out (1 + (nprobe-1) Hamming-1
    neighbors) broadcasts and the bucketed index is scanned in place —
    per-search cost is O(probed cells), independent of corpus size.
    The cell count comes from the index's meta sidecar."""
    meta, cents = _open_index(spark, table)
    base = _prep(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    if cents is not None:
        # trained quantizer: probe the nprobe nearest centroid cells —
        # packed-projection scoring (see kmeans._nearest_expr), so the
        # cell fan-out is map-side with no window and no shuffle
        from trignis_spark.operators.kmeans import _nearest_expr, _pack

        nprobe = max(1, nprobe)
        e = F.expr(_nearest_expr("cid", nprobe, vec_col="qv"))
        q = (
            base.crossJoin(F.broadcast(_pack(cents, [], "cid")))
            .select(
                "query_id",
                "qv",
                "qn2",
                F.explode(e if nprobe > 1 else F.array(e)).alias("qbucket"),
            )
            .filter(F.col("qbucket").isNotNull())
        )
    else:
        n_buckets = meta["n_buckets"]
        bits = int(math.log2(n_buckets))
        nprobe = max(1, min(nprobe, bits + 1))
        q = base.withColumn("home", F.expr(bucket_expr("qv", n_buckets)))
        # probe cells: home plus the first (nprobe-1) bit-flip neighbors
        flips = [F.col("home")] + [
            F.col("home").bitwiseXOR(F.lit(1 << i))
            for i in range(nprobe - 1)
        ]
        q = q.withColumn("qbucket", F.explode(F.array(*flips))).drop("home")
    idx = spark.table(table)
    scored = (
        idx.join(F.broadcast(q), idx["bucket"] == q["qbucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.expr(DOT.format(a="qv", b="v"))
                / F.sqrt(F.col("qn2") * F.col("n2"))
            ).alias("cos"),
        )
    )
    # a crash between an extend's index append and its _ids append makes
    # the at-least-once replay re-append the same rows; a vector lives
    # in exactly one cell, so any duplicate (query_id, neighbor_id) here
    # is such a replay artifact with an identical cos — dedup the
    # (bucket-pruned, candidate-sized) set so it cannot surface at two
    # ranks and displace a true neighbor (same guard as dedup_index's
    # probes; the extend keeps its data-first/_ids-last crash ordering)
    scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    cols = ["query_id", "neighbor_id", "rank"]
    if include_score:
        cols.append("cos")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )
