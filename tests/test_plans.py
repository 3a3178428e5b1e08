"""Plan-shape regression tests: pushdown, pruning, broadcast, no-cartesian.

These encode the 100 TB design requirements as assertions on the
physical plan at sf0.001 — plan shape is scale-invariant, so a local
explain() guards the cluster behavior.
"""

import pytest

from trignis_spark import queries as q
from trignis_spark.operators import dedup as dd
from trignis_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian_product,
    assert_pushed_filter,
    assert_read_schema_pruned,
)
from trignis_spark.tables import load

SF = "/root/testdata/sf0.001"


def test_outbox_scan_pushes_version_predicate(spark):
    df = q.QUERIES["cf_outbox_scan"](spark, SF)
    # version > WM is a filter on event_id, pushed into the parquet scan
    assert_pushed_filter(df, "GreaterThan(event_id,500)")


def test_q1_pushes_shipdate_and_prunes_columns(spark):
    df = q.QUERIES["tpch_q1_pricing_summary"](spark, SF)
    assert_pushed_filter(df, "LessThanOrEqual(l_shipdate")
    assert_read_schema_pruned(
        df,
        required=("l_returnflag", "l_quantity"),
        absent=("l_partkey", "l_suppkey", "l_orderkey"),
    )


def test_change_base_join_broadcasts_dim(spark):
    df = q.QUERIES["j1_change_base_join"](spark, SF)
    assert_broadcast_join(df)
    assert_no_cartesian_product(df)


def test_dedup_joins_never_cartesian(spark):
    docs = load(spark, SF, "documents")
    assert_no_cartesian_product(dd.minhash_lsh_pairs(docs))
    assert_no_cartesian_product(dd.simhash_pairs(docs))
    assert_no_cartesian_product(
        dd.jaccard_pairs(dd.shingle_table(docs), threshold=0.8)
    )


def test_interval_selfjoin_is_equijoin_on_user(spark):
    # the theta condition must ride on the user_id equijoin, not a
    # cartesian pair enumeration
    df = q.QUERIES["j4_interval_overlap"](spark, SF)
    assert_no_cartesian_product(df)


def test_topk_aggregation_partial_before_shuffle(spark):
    df = q.QUERIES["a5_top_failing_objects"](spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    # map-side partial aggregation present (two HashAggregate phases)
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan  # limit+sort fused, no global sort


@pytest.mark.parametrize(
    "name", ["text_quality_score", "text_lang_id", "text_token_stats"]
)
def test_text_ops_are_shuffle_free(spark, name):
    df = q.QUERIES[name](spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan  # pure map-only pipeline


def test_decontaminate_broadcasts_benchmark_and_no_cartesian(spark):
    from trignis_spark import queries_ext as qe

    df = qe.corpus_decontaminate(spark, SF)
    assert_broadcast_join(df)
    assert_no_cartesian_product(df)


def test_incremental_dedup_broadcasts_batch_and_no_cartesian(spark):
    from trignis_spark.queries import QUERIES

    df = QUERIES["dedup_incremental"](spark, SF)
    assert_broadcast_join(df)
    assert_no_cartesian_product(df)


def test_pii_scrub_is_shuffle_free(spark):
    from trignis_spark.operators.text import scrub_pii
    from trignis_spark.tables import load as _load

    ev = _load(spark, SF, "events").select("event_id", "props")
    df = scrub_pii(ev, text_col="props")
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_chunk_windows_is_map_only_before_sort(spark):
    from trignis_spark.plans import assert_max_exchanges, assert_read_schema_pruned

    df = q.QUERIES["text_chunk_windows"](spark, SF)
    # chunk fan-out is a per-row explode: the presentation sort is the
    # only shuffle, and the scan reads just (doc_id, text)
    assert_max_exchanges(df, 1)
    assert_read_schema_pruned(
        df, required=("doc_id", "text"), absent=("lang", "source")
    )


def test_shard_assign_single_shard_shuffle(spark):
    from trignis_spark.plans import assert_max_exchanges

    df = q.QUERIES["corpus_shard_assign"](spark, SF)
    # one hash shuffle for the per-shard window + the presentation
    # range sort; no other data movement
    assert_max_exchanges(df, 2)


def test_kmeans_seed_has_no_global_window(spark):
    # VERDICT r02 #1: the seed must be a distributed TakeOrdered, never
    # a partition-less window funnelling the corpus through one task.
    from trignis_spark.operators import kmeans as km

    emb = load(spark, SF, "embeddings")
    seed = km.init_centroids(emb, k=8)
    plan = seed._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "TakeOrdered" in plan, plan


def test_scaled_near_dup_variants_never_cartesian(spark):
    docs = load(spark, SF, "documents")
    assert_no_cartesian_product(dd.simhash_wide_pairs(docs))
    assert_no_cartesian_product(
        q.QUERIES["dedup_embedding_cosine_scaled"](spark, SF)
    )
    assert_no_cartesian_product(q.QUERIES["ann_ivf_nprobe_sweep"](spark, SF))


def test_chunked_sessionize_has_no_user_only_window(spark):
    """The scale property as a plan assertion: every window in the
    chunked sessionize partitions by (user, chunk) or runs over the
    per-chunk summary — no ordered window keyed on user_id alone over
    the raw events (the bot-user funnel)."""
    from trignis_spark.operators.sessions import sessionize_chunked

    ev = load(spark, SF, "events")
    plan = sessionize_chunked(ev)._jdf.queryExecution().optimizedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the chunked sessionize plan"
    for spec in specs:
        # every window keyed on the user must also carry the chunk key
        # (as partition key for the raw-event windows, as the ordering
        # key for the per-chunk summary stitch)
        if "user_id" in spec:
            assert "_chunk" in spec, f"user-only window over events: {spec}"


def test_chunked_running_sum_windows_include_chunk(spark):
    df = q.QUERIES["corpus_pack_sequences_scaled"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]+)\)", plan)
    assert specs, "expected window specs in the packing plan"
    # raw-row windows must carry the sub-chunk key; the only window
    # without it is the O(chunks) summary stitch
    raw = [s for s in specs if "_hchunk" in s]
    assert raw, f"no sub-chunked window found: {specs}"


def test_retrieval_and_tokenizer_queries_plan_shapes(spark):
    """Round-4 retrieval/tokenizer additions: no cartesian anywhere; the
    only non-hash join allowed is the broadcast of a 1-row stats frame
    (BM25's avgdl/n_docs); no single-partition global window (top-k is
    a distributed TakeOrdered)."""
    for name in ("text_bm25_topk", "ann_ivfpq_topk", "ann_pq_topk",
                 "text_bpe_merges", "agg_exact_percentiles"):
        df = q.QUERIES[name](spark, SF)
        assert_no_cartesian_product(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "WindowExec: No Partition Defined" not in plan
    bm25 = q.QUERIES["text_bm25_topk"](spark, SF)
    plan = bm25._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan  # global top-20 without a global window


def test_round5_near_dup_forms_never_cartesian(spark):
    from trignis_spark.operators import similarity as sim

    emb = load(spark, SF, "embeddings")
    assert_no_cartesian_product(
        sim.cosine_near_dup_pairs_banded(emb, threshold=0.9)
    )
    docs = load(spark, SF, "documents")
    assert_no_cartesian_product(
        dd.jaccard_pairs(dd.shingle_table(docs), threshold=0.8)
    )


def test_prefix_index_probe_pushes_candidate_ids_into_verify_scan(spark):
    # the v4 verify table is doc_id-SORTED exactly so the collected
    # candidate ids prune its scan at row-group granularity; lock that
    # the In filter actually reaches the parquet scan (losing it
    # silently turns every probe into a full corpus verify scan — the
    # v3 saturation VERDICT r10 #1 named)
    import contextlib
    import io

    from trignis_spark.operators import dedup_index as di

    docs = load(spark, SF, "documents")
    try:
        di.build_prefix_index(
            spark, docs.filter("doc_id % 7 <> 3"), "plans_pidx",
            threshold=0.8,
        )
        probe = di.probe(
            spark, "plans_pidx", docs.filter("doc_id % 7 = 3"), 0.8
        )
        assert_no_cartesian_product(probe)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        plan = buf.getvalue().lower()
        # the collected candidate ids must reach the verify scan as a
        # pushed parquet filter — row-group min-max pruning on the
        # sorted table is what keeps verify I/O O(candidates). (Round
        # 12's leg range bound adds IsNotNull/range conjuncts ahead of
        # the In in the pushed list, so match the In anywhere in it.)
        import re as _re

        assert _re.search(r"pushedfilters: \[[^\]]*in\(doc_id", plan)
        # round-10 verify shape: the doc-array layout computes the
        # exact intersection inside a projection off broadcast
        # joins — a sort-merge join against the corpus table or a
        # countDistinct aggregation here would mean the probe
        # regressed to corpus-shaped verify work (the 5 M-doc decade
        # leg's 29 s saturation)
        assert "array_intersect" in plan
        assert "sortmergejoin" not in plan
        assert "count(distinct" not in plan
    finally:
        for t in di._tables("plans_pidx"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_2level_clustered_near_dup_never_cartesian(spark):
    """The hierarchical blocking pipeline must stay equijoin-shaped at
    every stage: coarse/fine training, two-level assignment, candidate
    blocking and verification — a cartesian anywhere would void the
    N·2√k scaling story."""
    from trignis_spark.operators import similarity as sim

    emb = load(spark, SF, "embeddings")
    assert_no_cartesian_product(
        sim.cosine_near_dup_pairs_clustered_2level(
            emb, threshold=0.4, k_coarse=4, k_fine=4
        )
    )


def test_ivfpq_probe_uses_dynamic_partition_pruning(spark):
    """VERDICT r5 #7: the IVF-PQ probe's 9× win depends on reading only
    the probed cells. The codes and float tables are *partitioned* on
    the cell id precisely so the broadcast cell join injects a dynamic
    pruning subquery into both scans — losing it silently turns every
    probe into a full-corpus scan. Two pruning sites: the ADC scan of
    <name>_codes (query cells) and the exact re-rank scan of <name>
    (shortlist cells)."""
    import contextlib
    import io

    from trignis_spark.operators import ivfpq_index as ipq

    emb = load(spark, SF, "embeddings")
    try:
        ipq.build_ivfpq_index(
            spark, emb, "plans_ivfpq", m=2, k=4, n_buckets=16
        )
        probe = ipq.ivfpq_probe(
            spark, "plans_ivfpq", emb.filter("vec_id % 100 = 0"), k=10
        )
        assert_no_cartesian_product(probe)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        plan = buf.getvalue().lower()
        assert plan.count("dynamicpruning") >= 2, (
            "expected dynamic pruning on BOTH the codes scan and the "
            "float re-rank scan"
        )
    finally:
        for t in ipq._all_tables("plans_ivfpq"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_centroid_assignment_is_projection_shaped(spark):
    """The packed-array assignment must stay a pure projection: no
    window, no sort aggregate, no per-row shuffle — the plan shape
    that moved flat sf10 training from 2679 s to 285 s. The only
    exchanges allowed are the one round-robin spread of the vector
    side and the packed side's single-row aggregation."""
    from pyspark.sql import functions as F

    from trignis_spark.operators import kmeans as km

    emb = load(spark, SF, "embeddings")
    cents = km.init_centroids(emb, 8).localCheckpoint(eager=True)
    for n in (1, 2):
        plan = (
            km.assign_clusters_topn(emb, cents, n)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortAggregate" not in plan
        assert "Window" not in plan
        assert "Sort " not in plan  # no per-partition sort of scored rows
        # the corpus side shows exactly one exchange: the roundrobin
        # spread (packed side's single-row collect_list is on the
        # broadcast side and does not touch the corpus)
        assert plan.count("REPARTITION_BY_NUM") == 1


def test_batch_anti_join_never_shuffles_the_corpus(spark):
    """Extends/ingest gates drop already-indexed ids by anti-joining the
    poll batch against the corpus ids table. A LeftAnti can only
    broadcast its RIGHT side, so the direct form sort-merges — re-
    sorting/shuffling the full corpus id table every poll cycle (at
    100 TB the per-cycle corpus shuffle is the whole bill).
    ``plans.bucketing.batch_anti_join`` must keep the corpus scan
    map-side: broadcast semi (corpus ∩ batch keys) then broadcast anti
    — no SortMergeJoin, no exchange of the corpus side."""
    from pyspark.sql import functions as F

    from trignis_spark.plans.bucketing import batch_anti_join

    corpus = load(spark, SF, "embeddings").select("vec_id")
    batch = spark.range(0, 50).select(F.col("id").alias("vec_id"))
    joined = batch_anti_join(batch, corpus, "vec_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    # semantics: equal to the direct anti-join, duplicates preserved
    dup_batch = batch.union(batch.filter("vec_id < 5"))
    got = sorted(r["vec_id"] for r in
                 batch_anti_join(dup_batch, corpus, "vec_id").collect())
    want = sorted(r["vec_id"] for r in
                  dup_batch.join(corpus, "vec_id", "left_anti").collect())
    assert got == want


def test_batch_anti_join_oversized_batch_falls_back(spark):
    """ADVICE r7: the semi-then-anti plan broadcasts the batch key set,
    so a backfill-sized batch must fall back to the plain anti-join
    instead of building an unbounded driver broadcast. Semantics are
    identical on both routes."""
    from pyspark.sql import functions as F

    from trignis_spark.plans.bucketing import batch_anti_join

    corpus = load(spark, SF, "embeddings").select("vec_id")
    big = spark.range(0, 40).select(F.col("id").alias("vec_id"))
    got = sorted(r["vec_id"] for r in
                 batch_anti_join(big, corpus, "vec_id",
                                 broadcast_max=10).collect())
    want = sorted(r["vec_id"] for r in
                  big.join(corpus, "vec_id", "left_anti").collect())
    assert got == want
    # the fallback is the direct anti-join — no broadcast of the batch
    # key set (disable auto-broadcast so the assert sees the real shape)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            batch_anti_join(big, corpus, "vec_id", broadcast_max=10)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
