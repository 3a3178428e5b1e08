"""Persistent IVF index: probe parity with the one-shot operator,
nprobe recall dial, idempotent extends, and probe plan shape."""

import pytest
from pyspark.sql import functions as F

from trignis_spark.operators import ann_index as ai
from trignis_spark.operators import similarity as sim
from trignis_spark.tables import load

SF = "/root/testdata/sf0.001"
QUERY_PRED = "vec_id % 100 = 0"


@pytest.fixture
def index(spark):
    yield "ann_idx_t"
    for t in ("ann_idx_t", "ann_idx_t_ids", "ann_idx_t_meta",
              "ann_idx_t_centroids", "ann_idx_t_centroids_coarse"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()}


def test_probe_matches_one_shot_ivf(spark, index):
    emb = load(spark, SF, "embeddings")
    # pin 16 cells: the one-shot ivf_topk bucket expr is fixed at 16
    ai.build_ann_index(spark, emb, index, n_buckets=16)
    queries = emb.filter(F.expr(QUERY_PRED))
    got = _pairs(ai.probe_ann_index(spark, index, queries, k=10, nprobe=1))
    want = _pairs(sim.ivf_topk(emb, QUERY_PRED, k=10))
    assert got == want and got


def test_nprobe_improves_recall_vs_brute_force(spark, index):
    emb = load(spark, SF, "embeddings")
    ai.build_ann_index(spark, emb, index, n_buckets=16)
    queries = emb.filter(F.expr(QUERY_PRED))
    truth = _pairs(sim.cosine_topk(emb, QUERY_PRED, k=10))
    truth_pairs = {(q, n) for q, n, _ in truth}

    def recall(nprobe):
        got = _pairs(ai.probe_ann_index(spark, index, queries, 10, nprobe))
        return len({(q, n) for q, n, _ in got} & truth_pairs) / len(truth_pairs)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r4 > 0.2  # probing 4 of 16 cells recovers a meaningful share


def test_trained_quantizer_recall_dial(spark, index):
    """The production recall/cost dial: with a trained k-means coarse
    quantizer, recall@10 is monotone in nprobe, crosses 0.8 by
    nprobe=8/16 cells (measured 0.88 on the sf0.01 corpus — random unit
    vectors, the hard case), and probing every cell IS brute force
    (recall exactly 1.0). BASELINE.md carries the measured sweep."""
    from trignis_spark.operators import kmeans as km

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    cents = km.train_kmeans(emb, k=16, iters=3)
    ai.build_ann_index(spark, emb, index, centroids=cents)
    queries = emb.filter(F.expr(QUERY_PRED))
    truth = _pairs(sim.cosine_topk(emb, QUERY_PRED, k=10))
    truth_pairs = {(q, n) for q, n, _ in truth}

    def recall(nprobe):
        got = _pairs(ai.probe_ann_index(spark, index, queries, 10, nprobe))
        return len({(q, n) for q, n, _ in got} & truth_pairs) / len(truth_pairs)

    r = {np_: recall(np_) for np_ in (1, 4, 8, 16)}
    assert r[1] <= r[4] <= r[8] <= r[16]
    assert r[8] >= 0.8
    assert r[16] == 1.0  # nprobe = n_cells degenerates to exact search
    spark.sql(f"DROP TABLE IF EXISTS {index}_centroids")


def test_extend_is_idempotent_and_new_vectors_searchable(spark, index):
    emb = load(spark, SF, "embeddings")
    first, rest = emb.filter("vec_id < 400"), emb.filter("vec_id >= 400")
    ai.build_ann_index(spark, first, index, n_buckets=16)
    n_rest = rest.count()

    assert ai.extend_ann_index(spark, rest, index) == n_rest
    assert ai.extend_ann_index(spark, rest, index) == 0  # replay no-op
    assert spark.table("ann_idx_t_ids").count() == emb.count()

    # with the full corpus indexed, probing matches the one-shot op
    queries = emb.filter(F.expr(QUERY_PRED))
    got = _pairs(ai.probe_ann_index(spark, index, queries, k=10, nprobe=1))
    want = _pairs(sim.ivf_topk(emb, QUERY_PRED, k=10))
    assert got == want


def test_probe_plan_broadcasts_queries(spark, index):
    from trignis_spark.plans import assert_broadcast_join, assert_no_cartesian_product

    emb = load(spark, SF, "embeddings")
    ai.build_ann_index(spark, emb, index)
    probe = ai.probe_ann_index(
        spark, index, emb.filter(F.expr(QUERY_PRED)), k=5, nprobe=2
    )
    assert_broadcast_join(probe)
    assert_no_cartesian_product(probe)


def test_2level_build_probe_exhaustive_and_extend(spark, index):
    """Hierarchically-assigned trained index: probing every cell is
    still brute-force-exact (all vectors live in some cell), nprobe
    stays a monotone dial, and extends assign through the stored
    hierarchy (identical cells to the build-time assignment)."""
    from trignis_spark.operators import kmeans as km

    emb = load(spark, SF, "embeddings")
    first, rest = emb.filter("vec_id < 400"), emb.filter("vec_id >= 400")
    ai.build_ann_index_2level(spark, first, index, k_coarse=2, k_fine=4)
    assert ai.extend_ann_index(spark, rest, index) == rest.count()
    assert ai.extend_ann_index(spark, rest, index) == 0  # replay no-op

    # every stored cell assignment equals the hierarchy's own answer
    coarse, fine, k_fine = ai._hier_quantizer(
        spark, index, *ai._open_index(spark, index)
    )
    want = {
        (r["vec_id"], r["cid"])
        for r in km.assign_clusters_2level(
            emb, coarse, fine, k_fine
        ).collect()
    }
    got = {
        (r["vec_id"], r["bucket"]) for r in spark.table(index).collect()
    }
    assert got == want

    queries = emb.filter(F.expr(QUERY_PRED))
    truth = _pairs(sim.cosine_topk(emb, QUERY_PRED, k=10))
    n_cells = spark.table(index + "_centroids").count()

    def recall(nprobe):
        got = _pairs(ai.probe_ann_index(spark, index, queries, 10, nprobe))
        return len(got & truth) / len(truth)

    r1, r4, rall = recall(1), recall(4), recall(n_cells)
    assert r1 <= r4 <= rall
    assert rall == 1.0  # probing every cell degenerates to exact search
    spark.sql(f"DROP TABLE IF EXISTS {index}_centroids_coarse")


def test_flat_rebuild_clears_stale_2level_sidecar(spark, index):
    """Rebuilding a flat index over a name that previously held a
    2-level index must clear the ``_centroids_coarse`` hierarchy
    marker — otherwise every extend takes the hierarchical path
    against a meta row with no ``k_fine`` and fails."""
    emb = load(spark, SF, "embeddings")
    ai.build_ann_index_2level(spark, emb.filter("vec_id < 300"), index,
                              k_coarse=3, k_fine=3)
    assert spark.catalog.tableExists(f"{index}_centroids_coarse")
    ai.build_ann_index(spark, emb.filter("vec_id < 300"), index,
                       n_buckets=16)
    assert not spark.catalog.tableExists(f"{index}_centroids_coarse")
    added = ai.extend_ann_index(
        spark, emb.filter("vec_id >= 300 and vec_id < 350"), index
    )
    assert added == emb.filter("vec_id >= 300 and vec_id < 350").count()


def test_probe_immune_to_replayed_extend_duplicates(spark, index):
    """A crash between an extend's index append and its _ids append
    makes the at-least-once replay re-append the same rows. Duplicate
    index rows must not surface a neighbor at two ranks (displacing a
    true top-k entry)."""
    emb = load(spark, SF, "embeddings")
    ai.build_ann_index(spark, emb.filter("vec_id < 400"), index,
                       n_buckets=16)
    ai.extend_ann_index(spark, emb.filter("vec_id >= 400"), index)
    queries = emb.filter(F.expr(QUERY_PRED))
    before = _pairs(ai.probe_ann_index(spark, index, queries, k=10,
                                       nprobe=4))
    # simulate the replay: the extended rows land in the index table a
    # second time while the _ids sidecar (written last) already has them
    dup = (
        spark.table(index).filter("vec_id >= 400")
        .localCheckpoint(eager=True)
    )
    (
        dup.write.mode("append").bucketBy(16, "bucket")
        .format("parquet").saveAsTable(index)
    )
    spark.catalog.refreshTable(index)
    after = _pairs(ai.probe_ann_index(spark, index, queries, k=10,
                                      nprobe=4))
    assert after == before


def test_attach_restores_catalog_and_extends(spark, index):
    """``attach_ann_index`` re-registers a persisted index from its
    warehouse directories in a catalog that has never seen it
    (fresh-session restart, simulated by copying the dirs under a new
    name): probes answer identically and bucketed extends still append
    (the re-declared bucket spec, not just the rows)."""
    import os
    import shutil
    from urllib.parse import urlparse

    emb = load(spark, SF, "embeddings")
    ai.build_ann_index(spark, emb, index, n_buckets=16)
    queries = emb.filter(F.expr(QUERY_PRED))
    want = _pairs(ai.probe_ann_index(spark, index, queries, k=10, nprobe=2))

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    twin = index + "_reattached"
    suffixes = ("", "_ids", "_meta")  # hash-bucketed: no quantizer tables
    for sfx in suffixes:
        spark.sql(f"DROP TABLE IF EXISTS {twin}{sfx}")
        dst = os.path.join(wh, twin + sfx)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        shutil.copytree(os.path.join(wh, index + sfx), dst)
    try:
        ai.attach_ann_index(spark, twin)
        got = _pairs(ai.probe_ann_index(spark, twin, queries, k=10,
                                        nprobe=2))
        assert got == want and got
        fresh = emb.limit(5).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
        assert ai.extend_ann_index(spark, fresh, twin) == 5
        assert ai.extend_ann_index(spark, fresh, twin) == 0  # replay
    finally:
        for sfx in ("", "_ids", "_meta", "_centroids",
                    "_centroids_coarse"):
            spark.sql(f"DROP TABLE IF EXISTS {twin}{sfx}")
            dst = os.path.join(wh, twin + sfx)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
