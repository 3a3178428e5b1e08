"""Persistent IVF-PQ index: probe parity with the one-shot cascade,
frozen-codebook extends, idempotency, and probe plan shape."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from trignis_spark.operators import ivfpq_index as ipq
from trignis_spark.operators import pq
from trignis_spark.tables import load

SF = "/root/testdata/sf0.001"
QUERY_PRED = "vec_id % 100 = 0"
M, K = 2, 4  # match the oracle-scale cascade params (queries_ext)


@pytest.fixture
def index(spark):
    yield "ivfpq_idx_t"
    for t in ipq._all_tables("ivfpq_idx_t") + [
        ipq._tail_table("ivfpq_idx_t"),
        ipq._tail_codes_table("ivfpq_idx_t"),
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()}


def test_probe_matches_one_shot_cascade(spark, index):
    """The persisted index must answer exactly what the train-per-call
    cascade answers: same codebook training, same cells, same ADC sums,
    same re-rank — persistence changes cost, never results."""
    emb = load(spark, SF, "embeddings")
    # pin 16 cells: the one-shot cascade's bucket expr is fixed at 16
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K, n_buckets=16)
    queries = emb.filter(F.expr(QUERY_PRED))
    got = _pairs(
        ipq.ivfpq_probe(spark, index, queries, k=10, nprobe=1, shortlist=30)
    )
    cb = pq.train_pq(emb, m=M, k=K, iters=2)
    want = _pairs(pq.ivfpq_topk(emb, cb, m=M, nprobe=1, shortlist=30, k=10))
    assert got == want and got


def test_default_cell_count_scales_with_corpus(spark, index):
    """The build default is auto (√N) cell sizing — a fixed default
    measured 3.5× slower probes at sf10 (VERDICT r5 #4). The registry
    query still pins 16 for its oracle; production callers get √N."""
    emb = load(spark, SF, "embeddings")  # 500 vectors
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K)
    assert spark.table(ipq._meta_table(index)).first()["n_buckets"] == 32
    ipq.build_ivfpq_index(spark, emb.filter("vec_id < 100"), index, m=M, k=K)
    assert spark.table(ipq._meta_table(index)).first()["n_buckets"] == 16
    # dims clamp (ADVICE r5): a sign quantizer can't address more than
    # 2^dims cells
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert ipq.auto_n_buckets(10**6, dims=8) == 256
        assert ipq.auto_n_buckets(10**9) == 4096
        # a binding cap is never silent (decade-4 leg: √20M wants 4472)
        assert ipq.auto_n_buckets(20_000_000) == 4096
    assert sum("pass n_buckets explicitly" in str(x.message)
               for x in w) == 3
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert ipq.auto_n_buckets(10**6) == 1024  # √N rule, uncapped
    assert not w


def test_extend_is_idempotent_and_uses_frozen_codebook(spark, index):
    emb = load(spark, SF, "embeddings")
    head = emb.filter("vec_id < 400")
    tail = emb.filter("vec_id >= 400")
    ipq.build_ivfpq_index(spark, head, index, m=M, k=K)
    cb_before = {
        (r["sub"], r["cid"], tuple(r["cvec"]))
        for r in spark.table(ipq._codebook_table(index)).collect()
    }
    assert ipq.extend_ivfpq_index(spark, tail, index) == tail.count()
    # replay adds nothing
    assert ipq.extend_ivfpq_index(spark, tail, index) == 0
    assert ipq.extend_ivfpq_index(spark, emb, index) == 0
    # the codebook is frozen: extends encode through it, never retrain
    cb_after = {
        (r["sub"], r["cid"], tuple(r["cvec"]))
        for r in spark.table(ipq._codebook_table(index)).collect()
    }
    assert cb_after == cb_before
    # codes for extended vectors = encode through the same codebook
    # (stored layout is wide: one (vec_id, codes) row per vector)
    codebook = spark.table(ipq._codebook_table(index))
    per_vec: dict = {}
    for r in pq.encode_pq(tail, codebook, M).collect():
        per_vec.setdefault(r["vec_id"], {})[r["sub"]] = r["code"]
    want_codes = {
        (vid, tuple(d[s] for s in sorted(d))) for vid, d in per_vec.items()
    }
    # extended codes land in the write-optimized tail sidecar (r8);
    # the probe-visible code set is base ∪ tail
    stored = spark.table(ipq._codes_table(index)).unionByName(
        spark.table(ipq._tail_codes_table(index))
    )
    got_codes = {
        (r["vec_id"], tuple(r["codes"]))
        for r in stored.filter("vec_id >= 400").collect()
    }
    assert got_codes == want_codes
    # after compaction the tail folds into the base and the same set
    # answers from the cell-partitioned table alone
    ipq.compact_ivfpq_index(spark, index)
    got_codes = {
        (r["vec_id"], tuple(r["codes"]))
        for r in spark.table(ipq._codes_table(index))
        .filter("vec_id >= 400")
        .collect()
    }
    assert got_codes == want_codes


def test_probe_after_extend_sees_new_vectors(spark, index):
    # sf0.001 has vec_ids 0..499 — split at 350 so the extension is real
    emb = load(spark, SF, "embeddings")
    tail = emb.filter("vec_id >= 350")
    assert tail.count() > 0
    ipq.build_ivfpq_index(spark, emb.filter("vec_id < 350"), index, m=M, k=K)
    ipq.extend_ivfpq_index(spark, tail, index)
    queries = emb.filter(F.expr(QUERY_PRED))
    got = ipq.ivfpq_probe(spark, index, queries, k=10)
    assert got.filter("neighbor_id >= 350").count() > 0


def test_probe_plan_no_cartesian_no_training(spark, index):
    """Plan shape: the probe must not retrain (no iterative stages) and
    must keep every small side broadcast — no cartesian product, no
    sort-merge join against the corpus tables."""
    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K)
    queries = emb.filter(F.expr(QUERY_PRED))
    plan = (
        ipq.ivfpq_probe(spark, index, queries, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_index_exists_and_meta(spark, index):
    emb = load(spark, SF, "embeddings")
    assert not ipq.index_exists(spark, index)
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K, n_buckets=16)
    assert ipq.index_exists(spark, index)
    meta = spark.table(ipq._meta_table(index)).first()
    assert (meta["m"], meta["k"], meta["n_buckets"]) == (M, K, 16)


def test_compaction_shrinks_files_probe_unchanged(spark, index):
    from trignis_spark.maintenance import table_data_files

    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb.filter("vec_id < 100"), index, m=M, k=K)
    for lo in range(100, 500, 100):
        ipq.extend_ivfpq_index(
            spark, emb.filter(f"vec_id >= {lo} AND vec_id < {lo + 100}"), index
        )
    queries = emb.filter(F.expr(QUERY_PRED))
    before = _pairs(ipq.ivfpq_probe(spark, index, queries, k=10))
    files_before = sum(
        len(table_data_files(spark, t))
        for t in (index, ipq._codes_table(index), ipq._ids_table(index))
    )
    files_after = ipq.compact_ivfpq_index(spark, index)
    assert files_after < files_before
    assert _pairs(ipq.ivfpq_probe(spark, index, queries, k=10)) == before


def test_probe_immune_to_replayed_extend_duplicates(spark, index):
    """A crash between an extend's codes/float appends and its _ids
    append makes the at-least-once replay re-append the same rows.
    Duplicate code rows must not double-count ADC sums (corrupting the
    shortlist) and duplicate float rows must not surface a neighbor at
    two ranks."""
    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb.filter("vec_id < 400"), index,
                          m=M, k=K, n_buckets=16)
    ipq.extend_ivfpq_index(spark, emb.filter("vec_id >= 400"), index)
    queries = emb.filter(F.expr(QUERY_PRED))
    before = _pairs(ipq.ivfpq_probe(spark, index, queries, k=10, nprobe=2))
    assert before
    # simulate the replay: the extend's data rows land a second time
    for name in (index, ipq._codes_table(index)):
        dup = (
            spark.table(name).filter("vec_id >= 400")
            .localCheckpoint(eager=True)
        )
        (
            dup.repartition("bucket").write.mode("append")
            .partitionBy("bucket").format("parquet").saveAsTable(name)
        )
        spark.catalog.refreshTable(name)
    after = _pairs(ipq.ivfpq_probe(spark, index, queries, k=10, nprobe=2))
    assert after == before


def test_attach_restores_catalog_registration(spark, index):
    """A fresh session's in-memory catalog has no entry for an index a
    prior session persisted; ``attach_ivfpq_index`` must re-register
    all five tables from their warehouse directories — partition
    recovery included — such that probes answer identically. Simulated
    in-session by copying the warehouse dirs under a new name (the
    catalog has never heard of the copy, exactly like a restart)."""
    import os
    import shutil
    from urllib.parse import urlparse

    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K)  # auto cells
    queries = emb.filter(F.expr(QUERY_PRED))
    want = _pairs(
        ipq.ivfpq_probe(spark, index, queries, k=10, nprobe=2, shortlist=30)
    )

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    twin = index + "_reattached"
    for src in ipq._all_tables(index):
        dst = src.replace(index, twin)
        spark.sql(f"DROP TABLE IF EXISTS {dst}")
        if os.path.isdir(os.path.join(wh, dst)):
            shutil.rmtree(os.path.join(wh, dst))
        shutil.copytree(os.path.join(wh, src), os.path.join(wh, dst))
    try:
        ipq.attach_ivfpq_index(spark, twin)
        ipq.attach_ivfpq_index(spark, twin)  # idempotent
        # the codes table re-registered as *partitioned* (pruning intact)
        assert ipq._cell_partitioned(spark, ipq._codes_table(twin))
        got = _pairs(
            ipq.ivfpq_probe(spark, twin, queries, k=10, nprobe=2,
                            shortlist=30)
        )
        assert got == want and got
        # the re-attached index extends: the tail sidecars and the
        # plain ids sidecar take plain appends, replay stays a no-op
        fresh = emb.limit(5).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
        assert ipq.extend_ivfpq_index(spark, fresh, twin) == 5
        assert ipq.extend_ivfpq_index(spark, fresh, twin) == 0  # replay
    finally:
        for t in ipq._all_tables(twin) + [ipq._tail_table(twin),
                                          ipq._tail_codes_table(twin)]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            if os.path.isdir(os.path.join(wh, t)):
                shutil.rmtree(os.path.join(wh, t))


#: legacy persisted shapes, each made from one current IVF-PQ build:
#: (index family opened, suffix of the one table rewritten, the
#: rewrite — None drops it). An IVF-PQ index's float base, ids and
#: meta tables also form a valid sign-quantized ANN index.
_LEGACY = {
    "ivfpq_v1_meta": (
        "ivfpq", "_meta",
        lambda df: df.withColumn("bucket_v", F.lit(1)).write,
    ),
    "ivfpq_6col_meta": (
        "ivfpq", "_meta",
        lambda df: df.select("m", "k", "n_buckets", "adc_margin",
                             "base_distinct", "bucket_v").write,
    ),
    "ivfpq_narrow_codes": (
        "ivfpq", "_codes",
        lambda df: df.select(
            "vec_id", F.posexplode("codes").alias("sub", "code"), "bucket"
        ).write.partitionBy("bucket"),
    ),
    "ivfpq_bucketed_cells": (
        "ivfpq", "", lambda df: df.write.bucketBy(4, "bucket"),
    ),
    "ivfpq_bucketed_ids": (
        "ivfpq", "_ids", lambda df: df.write.bucketBy(4, "vec_id"),
    ),
    "ann_no_meta": ("ann", "_meta", None),
    "ann_no_bucket_v": (
        "ann", "_meta", lambda df: df.select("n_buckets").write,
    ),
}

_LEGACY_SRC = "legacy_src"


@pytest.mark.parametrize("shape", sorted(_LEGACY))
def test_opening_a_legacy_layout_is_refused(spark, shape):
    """One persisted layout per index family: an index whose tables
    carry an earlier layout is refused when it is opened, with an error
    naming the offending table, instead of being probed through a
    compatibility branch. Every case shares one current index (built on
    first use): it moves one table aside, writes its legacy shape in
    place, and moves the current table back afterwards."""
    from trignis_spark.maintenance import drop_table_and_location
    from trignis_spark.operators import ann_index as ai

    src = _LEGACY_SRC
    if not ipq.index_exists(spark, src):
        ipq.build_ivfpq_index(spark, _clustered_vframe(spark), src,
                              m=2, k=2, n_buckets=4, split_factor=None)
    family, sfx, rewrite = _LEGACY[shape]
    name = src + sfx
    spark.sql(f"ALTER TABLE {name} RENAME TO {name}__cur")
    try:
        if rewrite is not None:
            rewrite(spark.table(f"{name}__cur")).format("parquet") \
                .saveAsTable(name)
        queries = _clustered_vframe(spark)
        with pytest.raises(RuntimeError, match=rf"^{name}: "):
            if family == "ivfpq":
                ipq.ivfpq_probe(spark, src, queries, k=2).collect()
            else:
                ai.probe_ann_index(spark, src, queries, k=2).collect()
    finally:
        drop_table_and_location(spark, name)
        spark.sql(f"ALTER TABLE {name}__cur RENAME TO {name}")
        ipq._drop_state(spark, src)


def test_wide_codes_match_assign_codes(spark):
    """The wide one-row-per-vector encode (`_wide_codes`, a single
    map-side projection) must produce bit-identical codes to the
    narrow `pq.assign_codes` path — same subvector slice, same
    left-fold squared-L2, same (d2, cid) struct-min tie-break."""
    emb = load(spark, SF, "embeddings")
    codebook = pq.train_pq(emb, m=M, k=K, iters=2)
    rows = ipq._bucketed(emb, 16)
    got = {
        (r["vec_id"], tuple(r["codes"]), r["bucket"])
        for r in ipq._wide_codes(rows, codebook, M).collect()
    }
    per_vec: dict = {}
    for r in pq.assign_codes(pq.split_v(rows, M), codebook).collect():
        per_vec.setdefault(r["vec_id"], {})[r["sub"]] = r["cid"]
    buckets = {r["vec_id"]: r["bucket"] for r in rows.collect()}
    want = {
        (vid, tuple(d[s] for s in sorted(d)), buckets[vid])
        for vid, d in per_vec.items()
    }
    assert got == want and got


def test_probe_correct_with_short_codebook(spark):
    """ADVICE r7: a corpus smaller than ``k`` trains a short codebook
    (``init_codebook`` seeds min(N, k) centroids); the wide layout's
    flattened-LUT stride must come from the codebook the index actually
    has, not meta's requested k — with the requested-k stride the ADC
    silently misreads other subspaces' partials."""
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)])
            for i in range(10)]  # N=10 < k=16 → 10-code codebook
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    table = "ivfpq_shortcb"
    try:
        # 2 cells so nprobe=2 (home + its one flip) covers the corpus
        ipq.build_ivfpq_index(spark, emb, table, m=4, k=16, n_buckets=2)
        got = ipq.ivfpq_probe(
            spark, table, emb.filter("vec_id = 0"), k=3, nprobe=2,
            shortlist=10,
        ).collect()
        assert len(got) == 3
        # with nprobe covering all cells and shortlist ≥ N the probe's
        # exact re-rank must agree with brute force
        from trignis_spark.operators.similarity import cosine_topk

        want = {(r.neighbor_id, r.rank) for r in cosine_topk(
            emb, "vec_id = 0", k=3).collect()}
        assert {(r.neighbor_id, r.rank) for r in got} == want
    finally:
        from trignis_spark.operators.ivfpq_index import _all_tables

        for t in _all_tables(table):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sampled_training_builds_dense_codebook(spark, index):
    """``train_rows`` bounds the PQ training set (the full m×N spread
    is corpus-sized scratch — what walls the build a decade past 20 M)
    while encoding still covers every row: the codebook stays m×k
    dense, every vector gets codes, and the probe still re-ranks to
    exact cosines on the full corpus."""
    emb = load(spark, SF, "embeddings")  # 500 vectors
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K, train_rows=100)
    cb = spark.table(ipq._codebook_table(index))
    # dense m×k codebook even though training saw ~1/5 of the corpus
    assert cb.count() == M * K
    assert cb.select("sub", "cid").distinct().count() == M * K
    # every corpus row is encoded and probeable
    assert spark.table(ipq._codes_table(index)).count() == emb.count()
    # copies of corpus vectors under fresh ids (the probe excludes
    # true self-matches): each must find its original at cos == 1 —
    # the exact re-rank is training-sample-independent
    queries = emb.filter(F.expr(QUERY_PRED)).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    got = ipq.ivfpq_probe(spark, index, queries, k=1, nprobe=1,
                          include_score=True)
    hits = got.filter(
        "neighbor_id = query_id - 10000 AND abs(cos - 1.0) < 1e-9"
    )
    assert hits.count() == queries.count()


def test_sampled_training_is_deterministic_and_bounded(spark, index):
    """The sample is a pmod(hash) filter — partitioning-independent:
    two builds over differently-partitioned inputs train identical
    codebooks."""
    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K, train_rows=100)
    cb1 = {(r["sub"], r["cid"], tuple(r["cvec"]))
           for r in spark.table(ipq._codebook_table(index)).collect()}
    ipq.build_ivfpq_index(spark, emb.repartition(13), index, m=M, k=K,
                          train_rows=100)
    cb2 = {(r["sub"], r["cid"], tuple(r["cvec"]))
           for r in spark.table(ipq._codebook_table(index)).collect()}
    assert cb1 == cb2
    # train_rows >= corpus is the identity (no filter applied)
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K, train_rows=10**6)
    cb3 = {(r["sub"], r["cid"], tuple(r["cvec"]))
           for r in spark.table(ipq._codebook_table(index)).collect()}
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K)
    cb4 = {(r["sub"], r["cid"], tuple(r["cvec"]))
           for r in spark.table(ipq._codebook_table(index)).collect()}
    assert cb3 == cb4


def _clustered_vframe(spark, n_per=6):
    """Two orthogonal prototypes with tiny deterministic perturbations:
    a corpus a k=2/m=2 codebook reconstructs well, so the certified
    ADC margin is small and the rerank-free mode is actually usable."""
    P, Q = [1.0, 1.0, 1.0, 1.0], [1.0, -1.0, -1.0, 1.0]
    rows = []
    for i in range(n_per):
        e = 1.0 + 0.01 * i
        rows.append((i, [x * e for x in P]))
        rows.append((100 + i, [x * e for x in Q]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_rerank_free_probe_never_reads_floats_and_bounds_error(
    spark, index
):
    """``rerank=False``: the plan must not scan the float table, the
    returned score is the quantized cosine, and |quantized − exact| ≤
    the certified ``meta.adc_margin`` on every overlapping pair."""
    emb = _clustered_vframe(spark)
    ipq.build_ivfpq_index(spark, emb, index, m=2, k=2, n_buckets=4)
    margin = ipq.stored_adc_margin(spark, index)
    assert margin is not None and 0.0 <= margin < 0.5
    queries = emb
    adc = ipq.ivfpq_probe(spark, index, queries, k=10, nprobe=4,
                          include_score=True, rerank=False)
    plan = adc._jdf.queryExecution().executedPlan().toString()
    assert f"default.{index}[" not in plan  # float table never scanned
    assert f"default.{index}_codes" in plan
    exact = ipq.ivfpq_probe(spark, index, queries, k=10, nprobe=4,
                            include_score=True, rerank=True)
    a = {(r["query_id"], r["neighbor_id"]): r["cos"]
         for r in adc.collect()}
    e = {(r["query_id"], r["neighbor_id"]): r["cos"]
         for r in exact.collect()}
    both = set(a) & set(e)
    assert both
    for pair in both:
        assert abs(a[pair] - e[pair]) <= margin + 1e-9


def test_extend_warns_on_adc_margin_drift_and_remeasure_raises(
    spark, index
):
    """A drifted extend batch quantizes worse than the certified
    bound: extend warns AND widens the stored margin to cover the
    batch (round 9 — a warning alone left adc-gated callers holding
    the stale narrower bound), and ``remeasure_adc_margin``
    re-certifies over the grown corpus."""
    import warnings

    emb = _clustered_vframe(spark)
    ipq.build_ivfpq_index(spark, emb, index, m=2, k=2, n_buckets=4)
    before = ipq.stored_adc_margin(spark, index)
    # a direction between the two prototypes' codewords — poorly
    # representable by either, so its residual exceeds the bound
    drift = spark.createDataFrame(
        [(500, [1.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ipq.extend_ivfpq_index(spark, drift, index)
    assert any("adc_margin" in str(x.message) for x in w)
    # the stored bound now COVERS the drifted batch — adc-gated
    # callers re-reading it per cycle stay one-sided-sound
    widened = ipq.stored_adc_margin(spark, index)
    assert widened > before
    # a fresh session (empty state cache) reads the same widened row
    ipq._drop_state(spark, index)
    assert ipq.stored_adc_margin(spark, index) == pytest.approx(widened)
    # maintenance re-certifies over the grown corpus: full-corpus max,
    # so it equals the widened bound here (the drift vector IS the max)
    after = ipq.remeasure_adc_margin(spark, index)
    assert after > before
    assert ipq.stored_adc_margin(spark, index) == pytest.approx(after)


def test_extend_appends_one_tail_file_per_cycle(spark, index):
    """The LSM tail contract: a poll-cycle extend costs ONE plain file
    (one commit) per sidecar — never ~cells partition-dir commits —
    and probes see tail vectors immediately; compaction folds the
    tail away and drops the sidecars."""
    import os
    from urllib.parse import urlparse

    from trignis_spark.maintenance import table_data_files

    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb.filter("vec_id < 300"), index,
                          m=M, k=K)
    for cycle in range(3):
        batch = emb.filter(
            f"vec_id >= {300 + cycle * 50} AND vec_id < {350 + cycle * 50}"
        )
        assert ipq.extend_ivfpq_index(spark, batch, index) == batch.count()
    for t in (ipq._tail_table(index), ipq._tail_codes_table(index)):
        assert len(table_data_files(spark, t)) == 3  # one per cycle
    # ids sidecar: plain, one file per cycle on top of the build's
    build_ids = spark.sparkContext.defaultParallelism
    assert len(
        table_data_files(spark, ipq._ids_table(index))
    ) <= build_ids + 3
    # probe sees tail vectors (fresh-id copies must find originals)
    queries = emb.filter("vec_id >= 400 AND vec_id < 450").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    got = ipq.ivfpq_probe(spark, index, queries, k=1, nprobe=1,
                          include_score=True)
    hits = got.filter("neighbor_id = query_id - 10000 "
                      "AND abs(cos - 1.0) < 1e-9")
    assert hits.count() == queries.count()
    want = _pairs(ipq.ivfpq_probe(spark, index, queries, k=5, nprobe=2))
    ipq.compact_ivfpq_index(spark, index)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (ipq._tail_table(index), ipq._tail_codes_table(index)):
        assert not spark.catalog.tableExists(t)
        assert not os.path.isdir(os.path.join(wh, t))
    assert _pairs(
        ipq.ivfpq_probe(spark, index, queries, k=5, nprobe=2)
    ) == want


def test_wide_encode_dispatches_on_total_work(spark):
    """The Arrow-encode dispatch considers TOTAL work (rows × k ×
    sub_dims), not only per-row score: the decade-5 build's 50 M-row
    encode at the narrow 64-dim layout (128 elements/row) sat on the
    interpreted path for 10+ minutes. Small fixtures (the pinned
    oracle scale) stay on the expression path."""
    emb = load(spark, SF, "embeddings")
    from trignis_spark.operators.ivfpq_index import _bucketed, _wide_codes
    from trignis_spark.operators.pq import train_pq

    rows = _bucketed(emb, 16)
    cb = train_pq(emb, m=M, k=K, iters=1)
    # fixture scale, no hint: expression path (no Python stage)
    plan_small = _wide_codes(rows, cb, M)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInPandas" not in plan_small
    # same layout, corpus-scale hint: Arrow path
    plan_big = _wide_codes(rows, cb, M, n_rows=50_000_000) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan_big


def test_fold_tail_alone_preserves_probe_and_drops_sidecars(spark, index):
    """``fold_ivfpq_tail``: the cheap maintenance half — folds the
    cycle tails into the base (results unchanged) without the full
    rewrite's 2×-table-size disk requirement; idempotent no-op when
    no tail exists."""
    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb.filter("vec_id < 300"), index,
                          m=M, k=K)
    ipq.extend_ivfpq_index(spark, emb.filter("vec_id >= 300"), index)
    queries = emb.filter(F.expr(QUERY_PRED))
    want = _pairs(ipq.ivfpq_probe(spark, index, queries, k=5, nprobe=2))
    folded = ipq.fold_ivfpq_tail(spark, index)
    assert folded == 2 * emb.filter("vec_id >= 300").count()  # rows+codes
    assert not spark.catalog.tableExists(ipq._tail_table(index))
    assert _pairs(
        ipq.ivfpq_probe(spark, index, queries, k=5, nprobe=2)
    ) == want
    assert ipq.fold_ivfpq_tail(spark, index) == 0  # no-op re-run


def test_fold_keeps_base_duplicate_free_and_probe_skips_guard(
    spark, index
):
    """Round 9: the fold dedups/anti-joins before appending, so the
    cell-partitioned base stays one-row-per-vec_id for the index's
    lifetime (``meta.base_distinct``) — the invariant that lets probes
    drop their two replay-guard shuffles once no tail exists. Replayed
    extends (whole duplicate tail rows) and fold re-runs must both
    leave the base clean."""
    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb.filter("vec_id < 300"), index,
                          m=M, k=K, n_buckets=16)
    assert spark.table(ipq._meta_table(index)).first()["base_distinct"]
    batch = emb.filter("vec_id >= 300 AND vec_id < 400")
    ipq.extend_ivfpq_index(spark, batch, index)
    # replay crash window: the SAME rows land in the tail a second time
    for name in (ipq._tail_table(index), ipq._tail_codes_table(index)):
        dup = spark.table(name).localCheckpoint(eager=True)
        dup.coalesce(1).write.mode("append").format("parquet") \
            .saveAsTable(name)
        spark.catalog.refreshTable(name)
    queries = emb.filter(F.expr(QUERY_PRED))
    want = _pairs(ipq.ivfpq_probe(spark, index, queries, k=5, nprobe=2))
    assert ipq.fold_ivfpq_tail(spark, index) == 2 * batch.count()
    for name in (index, ipq._codes_table(index)):
        n = spark.table(name).count()
        nd = spark.table(name).select("vec_id").distinct().count()
        assert n == nd  # base is duplicate-free after the dup'd fold
    # guard-free probe (no tail, base_distinct): identical results
    st = ipq._probe_state(spark, index)
    assert st["base_distinct"] and not st["has_tail"]
    assert _pairs(
        ipq.ivfpq_probe(spark, index, queries, k=5, nprobe=2)
    ) == want
    # interrupted fold: rows already appended to base, tail not yet
    # dropped — the next fold's anti-join must append NOTHING
    batch2 = emb.filter("vec_id >= 400 AND vec_id < 450")
    ipq.extend_ivfpq_index(spark, batch2, index)
    ipq.fold_ivfpq_tail(spark, index)
    # re-create the tail as if the drop never happened
    spark.table(index).filter("vec_id >= 400 AND vec_id < 450") \
        .localCheckpoint(eager=True).coalesce(1).write \
        .format("parquet").saveAsTable(ipq._tail_table(index))
    ipq._refresh(spark, index)
    assert ipq.fold_ivfpq_tail(spark, index) == 0  # anti-join pruned all
    n = spark.table(index).count()
    assert n == spark.table(index).select("vec_id").distinct().count()


def test_probe_plan_drops_guard_shuffles_when_base_distinct(
    spark, index
):
    """The guard skip is a PLAN property, not just a result property:
    a fresh never-extended round-9 index probes without the two
    candidate/float dropDuplicates exchanges; the moment a tail exists
    the guards come back."""
    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb.filter("vec_id < 300"), index,
                          m=M, k=K, n_buckets=16)
    queries = emb.filter(F.expr(QUERY_PRED))

    def n_dedup_exchanges(df):
        # the ANALYZED plan: the optimizer rewrites Deduplicate into an
        # Aggregate (ReplaceDeduplicateWithAggregate), so counting it
        # post-optimization would read 0 on both sides
        plan = df._jdf.queryExecution().analyzed().toString()
        return plan.count("Deduplicate")

    guard_free = n_dedup_exchanges(
        ipq.ivfpq_probe(spark, index, queries, k=5, nprobe=2)
    )
    assert guard_free == 0
    ipq.extend_ivfpq_index(
        spark, emb.filter("vec_id >= 300 AND vec_id < 350"), index
    )
    guarded = n_dedup_exchanges(
        ipq.ivfpq_probe(spark, index, queries, k=5, nprobe=2)
    )
    assert guarded >= 2  # candidate + float guards are back
    ipq.fold_ivfpq_tail(spark, index)
    assert n_dedup_exchanges(
        ipq.ivfpq_probe(spark, index, queries, k=5, nprobe=2)
    ) == 0  # fold restores the guard-free serving path


def test_meta_rewrite_crash_recovery(spark, index):
    """ADVICE r8: ``remeasure_adc_margin`` dropped the meta table
    before writing the replacement — a crash in between left the index
    headless. Round 9 stages the new row in a ``__staged`` sidecar
    first; every crash point is recoverable and recovery completes the
    INTERRUPTED rewrite (the sidecar holds the new row)."""
    from trignis_spark.maintenance import drop_table_and_location

    emb = _clustered_vframe(spark)
    ipq.build_ivfpq_index(spark, emb, index, m=2, k=2, n_buckets=4)
    mt = ipq._meta_table(index)
    live = spark.table(mt).first()

    # crash AFTER staging, BEFORE the drop: sidecar is stale (live row
    # present) — recovery is a no-op that clears the sidecar
    spark.table(mt).write.format("parquet").saveAsTable(f"{mt}__staged")
    assert ipq._recover_meta(spark, index) is False
    assert not spark.catalog.tableExists(f"{mt}__staged")
    assert spark.table(mt).first() == live

    # crash AFTER the drop, BEFORE the rewrite: only the sidecar
    # (holding a NEW margin) survives — recovery installs it
    new_margin = float(live["adc_margin"]) + 0.25
    spark.createDataFrame(
        [(live["m"], live["k"], live["n_buckets"], new_margin, True,
          2, True, True)],
        ipq._META_SCHEMA,
    ).write.format("parquet").saveAsTable(f"{mt}__staged")
    drop_table_and_location(spark, mt)
    ipq._drop_state(spark, index)
    assert ipq._recover_meta(spark, index) is True
    assert ipq.stored_adc_margin(spark, index) == pytest.approx(
        new_margin
    )
    # attach from a headless-catalog state heals through the same path
    spark.createDataFrame(
        [(live["m"], live["k"], live["n_buckets"], new_margin, True,
          2, True, True)],
        ipq._META_SCHEMA,
    ).write.format("parquet").saveAsTable(f"{mt}__staged")
    drop_table_and_location(spark, mt)
    ipq.attach_ivfpq_index(spark, index)
    assert ipq.stored_adc_margin(spark, index) == pytest.approx(
        new_margin
    )
    # probes still answer after both recoveries
    assert ipq.ivfpq_probe(spark, index, emb, k=1, nprobe=1).count() > 0


def test_remeasure_full_corpus_is_true_bound(spark, index):
    """ADVICE r8: the build's sampled margin is statistical — a vector
    outside the hash sample can exceed it. ``remeasure_adc_margin``'s
    default (``sample_rows=None``) measures EVERY indexed vector, so
    the rewritten bound is a true max; an explicit cap stays a
    ceil-division sample (≤ the cap, never ~2× it)."""
    emb = _clustered_vframe(spark)
    ipq.build_ivfpq_index(spark, emb, index, m=2, k=2, n_buckets=4)
    full = ipq.remeasure_adc_margin(spark, index)
    # full-corpus bound: no indexed vector's residual exceeds it
    from trignis_spark.operators.ivfpq_index import _unit_residual_max

    true_max = _unit_residual_max(
        spark.table(index),
        spark.table(ipq._codebook_table(index)), 2,
    )
    assert full == pytest.approx(true_max)
    # sampled mode still works and can only see a subset (≤ full)
    sampled = ipq.remeasure_adc_margin(spark, index, sample_rows=4)
    assert sampled <= full + 1e-9


def test_build_margin_is_full_corpus_and_arrow_twin_matches(
    spark, index, monkeypatch
):
    """ADVICE r8 closure: the build default certifies the margin over
    EVERY indexed vector (no unsampled vector can exceed it), reusing
    the persisted codes table; the Arrow reconstruction twin (used when
    total work crosses the encode dispatch threshold) measures the same
    bound as the HOF form. An explicit ``margin_rows`` opts into the
    documented statistical sample and stays ≤ the full bound."""
    from trignis_spark.operators.ivfpq_index import _unit_residual_max

    emb = _clustered_vframe(spark)
    ipq.build_ivfpq_index(spark, emb, index, m=2, k=2, n_buckets=4)
    stored = ipq.stored_adc_margin(spark, index)
    cb = spark.table(ipq._codebook_table(index))
    hof = _unit_residual_max(spark.table(index), cb, 2)
    assert stored == pytest.approx(hof)  # full corpus, not a sample
    monkeypatch.setattr(ipq, "VECTORIZED_ENCODE_MIN_WORK", 1)
    arrow = _unit_residual_max(
        spark.table(index), cb, 2,
        codes=spark.table(ipq._codes_table(index)),
        n_rows=spark.table(index).count(),
    )
    assert arrow == pytest.approx(hof, rel=1e-9)
    # sampled opt-in: a subset's max can only be ≤ the certified max
    ipq.build_ivfpq_index(spark, emb, index, m=2, k=2, n_buckets=4,
                          margin_rows=4)
    assert ipq.stored_adc_margin(spark, index) <= stored + 1e-12


def test_dec12_quantize_matches_spark_cast(spark):
    """The Arrow ADC twin's int64 quantizer must reproduce Spark's
    ``CAST(double AS DECIMAL(30,12))`` exactly — HALF_UP at scale 12
    of the double's shortest-repr decimal value — and
    ``_int12_to_double`` must reproduce ``CAST(DECIMAL AS DOUBLE)``.
    Random magnitudes across 20 orders plus crafted near-midpoint and
    exact-midpoint values (where a naive float round diverges)."""
    import numpy as np
    from decimal import Decimal

    rng = np.random.default_rng(7)
    vals = []
    for scale in (1e-14, 1e-9, 1e-3, 1.0, 1e3, 1e6):
        vals += [float(v) for v in rng.normal(0.0, scale, 200)]
    vals += [
        0.0, -0.0, 5e-13, -5e-13, 1.5e-12, 2.5e-12, -2.5e-12,
        4.9999999999995e-1, 123.0000000000005, -123.0000000000005,
        1.0000005e6, 7.5e-12, -7.5e-12, 1e-15, -1e-15,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = df.select(
        F.col("x").cast("decimal(30,12)").alias("d"),
        F.col("x").cast("decimal(30,12)").cast("double").alias("dd"),
    ).collect()
    ours = ipq._dec12_quantize(np.array(vals, dtype=np.float64))
    backs = ipq._int12_to_double(ours)
    for v, r, o, b in zip(vals, rows, ours, backs):
        assert int(Decimal(str(r["d"])).scaleb(12)) == int(o), (v, r["d"], o)
        assert r["dd"] == b, (v, r["dd"], b)


def test_adc_arrow_probe_bit_identical(spark, index):
    """VERDICT r9 #1: the Arrow int64 fixed-point scoring twin must be
    BIT-identical to the decimal expression fold — every probe mode
    (re-ranked, rerank-free with quantized-cos scores, nprobe fan-out),
    through a replayed-duplicate tail (guard path + tail legs), and
    with the query side split into hash-chunk union legs."""
    emb = load(spark, SF, "embeddings")
    head = emb.filter("vec_id < 400")
    ipq.build_ivfpq_index(spark, head, index, m=M, k=K, n_buckets=16)
    queries = emb.filter(F.expr(QUERY_PRED))

    def both(**kw):
        e = ipq.ivfpq_probe(spark, index, queries,
                            adc_impl="expr", **kw).collect()
        a = ipq.ivfpq_probe(spark, index, queries,
                            adc_impl="arrow", **kw).collect()
        es = sorted(tuple(r) for r in e)
        bs = sorted(tuple(r) for r in a)
        assert es == bs and es
        return es

    for rerank in (True, False):
        both(k=10, nprobe=2, shortlist=30, include_score=True,
             rerank=rerank)
    # replayed extend: duplicate tail rows force the guard + tail legs
    batch = emb.filter("vec_id >= 400")
    ipq.extend_ivfpq_index(spark, batch, index, assume_fresh=True)
    ipq.extend_ivfpq_index(spark, batch, index, assume_fresh=True)
    res = both(k=10, nprobe=2, shortlist=30, include_score=True,
               rerank=False)
    ids = [(r[0], r[1]) for r in res]
    assert len(ids) == len(set(ids))  # guard held on the Arrow path
    # chunked union legs (mega-cell spreading) stay bit-identical
    old_cw, old_mc = ipq.ADC_CHUNK_WORK, ipq.ADC_MAX_CHUNKS
    ipq.ADC_CHUNK_WORK, ipq.ADC_MAX_CHUNKS = 1, 4
    try:
        chunked = ipq.ivfpq_probe(
            spark, index, queries, k=10, nprobe=2, shortlist=30,
            include_score=True, rerank=False, adc_impl="arrow",
        ).collect()
        assert sorted(tuple(r) for r in chunked) == res
    finally:
        ipq.ADC_CHUNK_WORK, ipq.ADC_MAX_CHUNKS = old_cw, old_mc


def test_adc_arrow_probe_plan_keeps_dpp_and_broadcast(spark, index):
    """The Arrow scoring path must keep the probe's scale shape: the
    cell join stays broadcast (no cartesian/sort-merge against the
    codes table) and the partition-column join still plans dynamic
    partition pruning at the base scan — the twin changes the fold
    engine, never the candidate I/O."""
    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K)
    queries = emb.filter(F.expr(QUERY_PRED))
    plan = (
        ipq.ivfpq_probe(spark, index, queries, k=10, nprobe=2,
                        adc_impl="arrow")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "dynamicpruning" in plan.lower()
    assert "mapInPandas".lower() in plan.lower()


def test_adc_arrow_falls_back_when_lut_collect_exceeds_budget(
    spark, index
):
    """The Arrow path driver-collects the per-query LUTs; past
    ``ADC_LUT_BROADCAST_BYTES`` (a Full-resync-sized query frame) it
    must fall back to the expression fold — which ships LUTs as a
    Spark broadcast with its own loud limit — instead of OOMing the
    driver. Results are identical either way."""
    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb, index, m=M, k=K, n_buckets=16)
    queries = emb.filter(F.expr(QUERY_PRED))
    want = sorted(
        tuple(r) for r in ipq.ivfpq_probe(
            spark, index, queries, k=5, adc_impl="expr").collect()
    )
    old = ipq.ADC_LUT_BROADCAST_BYTES
    ipq.ADC_LUT_BROADCAST_BYTES = 1  # any batch exceeds it
    try:
        got = sorted(
            tuple(r) for r in ipq.ivfpq_probe(
                spark, index, queries, k=5, adc_impl="arrow").collect()
        )
    finally:
        ipq.ADC_LUT_BROADCAST_BYTES = old
    assert got == want and got


def test_mega_cell_sub_split_probe_results_identical(spark, index):
    """VERDICT r10 #2: a build sub-splits over-occupied cells into hash
    sub-cell PARTITIONS (scan parallelism stops tracking max
    occupancy), and probes expand each probed cell to its stored
    sub-values — the candidate union is the unsplit cell's set by
    construction, so results are identical in every mode, and
    extend + fold preserve both the results and the duplicate-free
    base."""
    emb = load(spark, SF, "embeddings")
    twin = index + "_twin"
    try:
        # skew: a clustered corpus whose sign pattern collapses most
        # vectors into few cells — exactly the mega-cell shape
        skewed = emb.select(
            "vec_id",
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN i < 4 "
                "THEN abs(x) ELSE x END)"
            ).alias("embedding"),
        ).localCheckpoint(eager=True)
        queries = skewed.filter(F.expr(QUERY_PRED)).localCheckpoint(
            eager=True
        )
        ipq.build_ivfpq_index(spark, skewed, index, m=M, k=K,
                              n_buckets=16, split_factor=1)
        ipq.build_ivfpq_index(spark, skewed, twin, m=M, k=K,
                              n_buckets=16, split_factor=None)
        splits = ipq._stored_splits(spark, ipq._codes_table(index))
        assert splits, "skewed fixture failed to trigger a sub-split"
        assert not ipq._stored_splits(spark, ipq._codes_table(twin))
        # both cell-partitioned tables carry the same sub-values
        assert ipq._stored_splits(spark, index) == splits

        for kw in (
            {"rerank": True},
            {"rerank": False, "include_score": True},
            {"rerank": True, "adc_impl": "arrow"},
        ):
            got = ipq.ivfpq_probe(spark, index, queries, k=5,
                                  nprobe=2, shortlist=20, **kw)
            want = ipq.ivfpq_probe(spark, twin, queries, k=5,
                                   nprobe=2, shortlist=20, **kw)
            assert {tuple(r) for r in got.collect()} == \
                   {tuple(r) for r in want.collect()}

        # extend lands in the (unsplit) tail; fold's pruned anti-join
        # must see sub-cell rows — a replayed extend of built vectors
        # plus fresh ones folds exactly once
        fresh = skewed.filter("vec_id % 10 = 3").select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
        for t in (index, twin):
            ipq.extend_ivfpq_index(spark, fresh, t)
            ipq.extend_ivfpq_index(spark, fresh, t)  # replay
            ipq.fold_ivfpq_tail(spark, t)
        base = spark.table(ipq._codes_table(index))
        assert base.groupBy("vec_id").count().filter("count > 1").count() == 0
        got = ipq.ivfpq_probe(spark, index, queries, k=5, nprobe=2,
                              shortlist=20)
        want = ipq.ivfpq_probe(spark, twin, queries, k=5, nprobe=2,
                               shortlist=20)
        assert {tuple(r) for r in got.collect()} == \
               {tuple(r) for r in want.collect()}
    finally:
        for t in ipq._all_tables(twin) + [
            ipq._tail_table(twin), ipq._tail_codes_table(twin),
        ]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_rerank_arrow_bit_identical_and_bounded(spark, index):
    """VERDICT r10 #6: the Arrow exact-dot re-rank twin must be
    BIT-identical to the ``aggregate`` expression fold — cumsum's
    prefix outputs force the same sequential IEEE addition order, so
    the cos doubles (not just the ranking) must match exactly, with
    scores, through a replayed-duplicate tail, and under auto dispatch
    at fixture scale (which must stay on the expression path)."""
    emb = load(spark, SF, "embeddings")
    head = emb.filter("vec_id < 400")
    ipq.build_ivfpq_index(spark, head, index, m=M, k=K, n_buckets=16)
    queries = emb.filter(F.expr(QUERY_PRED))

    def both(**kw):
        e = ipq.ivfpq_probe(spark, index, queries,
                            rerank_impl="expr", **kw).collect()
        a = ipq.ivfpq_probe(spark, index, queries,
                            rerank_impl="arrow", **kw).collect()
        es = sorted(tuple(r) for r in e)
        bs = sorted(tuple(r) for r in a)
        assert es == bs and es
        return es

    both(k=10, nprobe=2, shortlist=30, include_score=True)
    # duplicate tail rows: the arrow path's output feeds the same
    # replay guard, so no (query, neighbor) may surface twice
    batch = emb.filter("vec_id >= 400")
    ipq.extend_ivfpq_index(spark, batch, index, assume_fresh=True)
    ipq.extend_ivfpq_index(spark, batch, index, assume_fresh=True)
    res = both(k=10, nprobe=2, shortlist=30, include_score=True)
    ids = [(r[0], r[1]) for r in res]
    assert len(ids) == len(set(ids))
    # fixture-scale auto dispatch stays on the expression fold: the
    # probe plan must contain no Python/Arrow eval stage
    plan = ipq.ivfpq_probe(
        spark, index, queries, k=5, include_score=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_rerank_arrow_falls_back_when_batch_exceeds_bound(spark, index):
    """A query frame past RERANK_COLLECT_ROWS must fall back to the
    expression fold (never a truncated broadcast)."""
    emb = load(spark, SF, "embeddings")
    ipq.build_ivfpq_index(spark, emb.filter("vec_id < 400"), index,
                          m=M, k=K, n_buckets=16)
    queries = emb.filter(F.expr(QUERY_PRED))
    want = ipq.ivfpq_probe(spark, index, queries, k=5,
                           include_score=True,
                           rerank_impl="expr").collect()
    old = ipq.RERANK_COLLECT_ROWS
    ipq.RERANK_COLLECT_ROWS = 1
    try:
        got = ipq.ivfpq_probe(spark, index, queries, k=5,
                              include_score=True,
                              rerank_impl="arrow")
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan  # fell back, not truncated
        assert sorted(tuple(r) for r in got.collect()) == \
               sorted(tuple(r) for r in want)
    finally:
        ipq.RERANK_COLLECT_ROWS = old


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_banded_rerank_bit_identical_and_reads_pruned_floats(
    spark, index
):
    """Round 12 (VERDICT r11 #4): on a v_sorted index whose certified
    margin is usable, the exact re-rank gathers floats through pushed
    In legs over the banded shortlist instead of scanning the float
    base — and the results (ranks AND exact-cosine doubles) are
    bit-identical to the classic broadcast-join gather."""
    emb = _clustered_vframe(spark)
    ipq.build_ivfpq_index(spark, emb, index, m=2, k=2, n_buckets=4)
    st = ipq._probe_state(spark, index)
    assert st["v_sorted"] is True
    assert st["adc_margin"] < ipq.BAND_MARGIN_MAX  # band path armed
    banded = ipq.ivfpq_probe(spark, index, emb, k=3, nprobe=2,
                             include_score=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        banded.explain("formatted")
    # the gather is the pushed-In union, not a full float-base join: the
    # banded ids must reach the float scan as a pushed parquet In filter
    # (the leg's range bound may precede it in the pushed list)
    assert re.search(r"pushedfilters: \[[^\]]*in\(vec_id",
                     buf.getvalue().lower())
    old = ipq.BAND_MARGIN_MAX
    ipq.BAND_MARGIN_MAX = -1.0  # disarm: classic gather
    try:
        classic = ipq.ivfpq_probe(spark, index, emb, k=3, nprobe=2,
                                  include_score=True)
    finally:
        ipq.BAND_MARGIN_MAX = old
    assert _rowset(banded) == _rowset(classic)
    assert banded.count() > 0


def test_banded_rerank_sees_tail_and_survives_fold(spark, index):
    """The banded gather must union the tail sidecar (a vector
    admitted last cycle still gates) and keep identical results after
    the fold rewrites it into the base."""
    emb = _clustered_vframe(spark)
    ipq.build_ivfpq_index(spark, emb, index, m=2, k=2, n_buckets=4)
    # a direction the base corpus does not contain (its P vectors are
    # exact scalar multiples of each other, so a near-copy of P would
    # tie at cos 1.0 and lose the id tie-break to ids 0..5)
    nd = spark.createDataFrame(
        [(500, [2.0, 2.0, 2.0, -2.002])],
        "vec_id long, embedding array<float>",
    )
    assert ipq.extend_ivfpq_index(spark, nd, index) == 1
    q = spark.createDataFrame(
        [(9000, [1.0, 1.0, 1.0, -1.0])],
        "vec_id long, embedding array<float>",
    )

    def top(df):
        return _rowset(df)

    with_tail = top(ipq.ivfpq_probe(spark, index, q, k=2, nprobe=2,
                                    include_score=True))
    assert any(r[1] == 500 for r in with_tail)  # tail vector surfaced
    old = ipq.BAND_MARGIN_MAX
    ipq.BAND_MARGIN_MAX = -1.0
    try:
        classic = top(ipq.ivfpq_probe(spark, index, q, k=2, nprobe=2,
                                      include_score=True))
    finally:
        ipq.BAND_MARGIN_MAX = old
    assert with_tail == classic
    ipq.fold_ivfpq_tail(spark, index)
    after_fold = top(ipq.ivfpq_probe(spark, index, q, k=2, nprobe=2,
                                     include_score=True))
    assert after_fold == with_tail


def _row_groups(spark, table):
    """Parquet row-group count of every data file of ``table``."""
    import pyarrow.parquet as papq

    from trignis_spark.maintenance import table_data_files

    return [papq.ParquetFile(f).num_row_groups
            for f in table_data_files(spark, table)]


def test_compaction_preserves_v_sorted_gather(spark, index, monkeypatch):
    """``compact_ivfpq_index`` re-sorts the float base within cells and
    keeps its bounded row groups, so the banded gather stays armed and
    identical after the rewrite. The row-group bound is shrunk so the
    small fixture spans several groups per cell file."""
    monkeypatch.setattr(ipq, "FLOAT_BLOCK_BYTES", 1024)
    emb = _clustered_vframe(spark, n_per=150)
    ipq.build_ivfpq_index(spark, emb, index, m=2, k=2, n_buckets=4)
    assert max(_row_groups(spark, index)) > 1
    nd = spark.createDataFrame(
        [(501, [-1.002, 1.002, 1.002, -1.002])],
        "vec_id long, embedding array<float>",
    )
    assert ipq.extend_ivfpq_index(spark, nd, index) == 1
    before = _rowset(ipq.ivfpq_probe(spark, index, emb, k=3, nprobe=2,
                                     include_score=True))
    ipq.compact_ivfpq_index(spark, index)
    assert ipq._probe_state(spark, index)["v_sorted"] is True
    # the rewrite kept the bound: a cell file of ~150 rows still holds
    # several row groups (the default bound would write one)
    assert max(_row_groups(spark, index)) > 1
    after = _rowset(ipq.ivfpq_probe(spark, index, emb, k=3, nprobe=2,
                                    include_score=True))
    assert after == before


def _pushes_vec_ids(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return re.search(r"pushedfilters: \[[^\]]*in\(vec_id",
                     buf.getvalue().lower()) is not None


def test_sampled_margin_disarms_banded_gather(spark, index):
    """A ``margin_rows`` build stores a sampled, uncertified margin: the
    exact re-rank must keep the classic gather (no pushed vec_id filter)
    and return its top-k. A full remeasure certifies the margin and arms
    the band again."""
    emb = _clustered_vframe(spark)
    ipq.build_ivfpq_index(spark, emb, index, m=2, k=2, n_buckets=4,
                          margin_rows=4)
    st = ipq._probe_state(spark, index)
    assert st["v_sorted"] and not st["margin_certified"]
    assert st["adc_margin"] < ipq.BAND_MARGIN_MAX  # only the flag disarms
    assert not ipq.band_armed(st)
    got = ipq.ivfpq_probe(spark, index, emb, k=3, nprobe=2,
                          include_score=True)
    assert not _pushes_vec_ids(got)
    old = ipq.BAND_MARGIN_MAX
    ipq.BAND_MARGIN_MAX = -1.0  # force the classic gather
    try:
        classic = _rowset(ipq.ivfpq_probe(spark, index, emb, k=3,
                                          nprobe=2, include_score=True))
    finally:
        ipq.BAND_MARGIN_MAX = old
    assert _rowset(got) == classic and classic
    # a full remeasure certifies the bound and arms the band
    ipq.remeasure_adc_margin(spark, index)
    assert ipq._probe_state(spark, index)["margin_certified"] is True
    assert _pushes_vec_ids(ipq.ivfpq_probe(spark, index, emb, k=3,
                                           nprobe=2, include_score=True))
    # a sampled remeasure disarms it again
    ipq.remeasure_adc_margin(spark, index, sample_rows=4)
    assert not ipq.band_armed(ipq._probe_state(spark, index))
