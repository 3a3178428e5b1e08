"""Persistent dedup index: build → probe parity with the one-shot
operator, idempotent extends, and growth changing probe results."""

import pytest
from pyspark.sql import functions as F

from trignis_spark.operators import dedup as dd
from trignis_spark.operators import dedup_index as di

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = BASE.replace("today", "tonight")
OTHER = "completely different content about spark planning and shuffles here"


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def pindex(spark):
    yield "dedup_pidx_t"
    for t in di._tables("dedup_pidx_t"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _pairs(df):
    return {(r["batch_doc"], r["corpus_doc"], round(r["jaccard"], 9))
            for r in df.collect()}


def _one_shot(corpus, batch, threshold):
    """Reference oracle: the one-shot operator over the raw documents
    (no index, no prefix pruning)."""
    return _pairs(dd.incremental_pairs(
        dd.shingle_table(corpus), dd.shingle_table(batch), threshold
    ))


def test_probe_matches_one_shot_operator(spark, pindex):
    corpus = _frame(spark, [(1, BASE), (2, BASE), (3, OTHER)])
    batch = _frame(spark, [(10, NEAR), (11, "nothing shared with anyone")])
    di.build_prefix_index(spark, corpus, pindex, threshold=0.5)

    via_index = _pairs(di.probe(spark, pindex, batch, threshold=0.5))
    assert via_index == _one_shot(corpus, batch, 0.5)
    assert {(b, c) for b, c, _ in via_index} == {(10, 1), (10, 2)}


def test_extend_is_idempotent_and_grows_probe_results(spark, pindex):
    di.build_prefix_index(spark, _frame(spark, [(1, OTHER)]), pindex,
                          threshold=0.5)
    batch = _frame(spark, [(10, NEAR)])
    assert di.probe(spark, pindex, batch, threshold=0.5).count() == 0

    # a replayed extend adds the new doc exactly once
    newcomer = _frame(spark, [(2, BASE)])
    assert di.extend(spark, newcomer, pindex) == 1
    assert di.extend(spark, newcomer, pindex) == 0  # replay: no-op
    docs = di.members(spark, pindex)
    assert docs.filter(F.col("doc_id") == 2).count() == 1

    # and the probe now sees the near-dup through the extended index
    got = di.probe(spark, pindex, batch, threshold=0.5).collect()
    assert [(r["batch_doc"], r["corpus_doc"]) for r in got] == [(10, 2)]


def test_index_layout_is_bucketed_on_shingle(spark, pindex):
    # the sort-merge fallback relies on the probe table's bucket spec to
    # co-locate the batch without shuffling the corpus side
    di.build_prefix_index(spark, _frame(spark, [(1, BASE), (3, OTHER)]),
                          pindex, threshold=0.5)
    ddl = spark.sql(f"DESCRIBE TABLE EXTENDED {pindex}").collect()
    info = {r["col_name"]: r["data_type"] for r in ddl}
    assert "shingle" in info.get("Bucket Columns", "")
    assert "shingle" in info.get("Sort Columns", "")


def _rand_docs(seed, n_docs, start=0):
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(n_docs):
        k = rng.randint(6, 14)
        rows.append((start + i, " ".join(rng.choice(vocab)
                                         for _ in range(k))))
    # plant hot shingles: a boilerplate prefix shared by many docs
    rows += [(start + n_docs + j,
              "standard header line here " + rows[j % n_docs][1])
             for j in range(n_docs // 2)]
    return rows


def test_prefix_probe_matches_full_probe(spark, pindex):
    """Prefix pruning is lossless: the probe returns exactly the pairs
    of the full (unpruned) one-shot computation at three thresholds, on
    the broadcast path and on the sort-merge fallback."""
    rows = _rand_docs(3, 16)
    corpus = _frame(spark, rows)
    # unrelated docs, one-word edits of corpus docs (jaccard spread over
    # the three thresholds by doc length) and one verbatim copy
    batch = _frame(spark, _rand_docs(4, 6, start=1000) + [
        (1100 + i, rows[i][1].rsplit(" ", 1)[0] + " zz") for i in range(8)
    ] + [(1200, rows[20][1])])
    di.build_prefix_index(spark, corpus, pindex, threshold=0.5)
    for t in (0.5, 0.7, 0.9):
        want = _one_shot(corpus, batch, t)
        assert want
        for broadcast_batch in (None, False):
            got = _pairs(di.probe(spark, pindex, batch, threshold=t,
                                  broadcast_batch=broadcast_batch))
            assert got == want, (t, broadcast_batch)


def test_prefix_probe_rejects_looser_threshold(spark, pindex):
    di.build_prefix_index(
        spark, _frame(spark, [(1, BASE)]), pindex, threshold=0.8
    )
    with pytest.raises(ValueError, match="threshold"):
        di.probe(
            spark, pindex, _frame(spark, [(10, NEAR)]), threshold=0.5
        )


def test_prefix_extend_idempotent_and_lossless(spark, pindex):
    start = _frame(spark, _rand_docs(5, 10))
    di.build_prefix_index(spark, start, pindex, threshold=0.5)
    new_rows = _rand_docs(6, 8, start=500)
    newcomers = _frame(spark, new_rows)
    assert di.extend(spark, newcomers, pindex) == 12
    assert di.extend(spark, newcomers, pindex) == 0  # replay
    # extends rank their prefixes against their own df snapshot; the
    # grown index must still return every pair of the one-shot operator,
    # including near-copies of the extended docs
    batch = _frame(spark, _rand_docs(7, 5, start=2000) + [
        (2100 + i, text.rsplit(" ", 1)[0] + " zz")
        for i, (_, text) in enumerate(new_rows)
    ])
    got = _pairs(di.probe(spark, pindex, batch, threshold=0.5))
    assert got == _one_shot(start.unionByName(newcomers), batch, 0.5)
    assert got


def test_prefix_index_excludes_hot_shingles(spark, pindex):
    # every doc shares the same boilerplate opening; with a tight
    # threshold the stored prefix is small and the boilerplate shingles
    # (df = corpus size, ranked last) must not be indexed for the
    # longer docs
    boiler = "standard header line for every single document in the set"
    rows = [(i, boiler + f" unique tail {i} alpha beta gamma delta",)
            for i in range(20)]
    di.build_prefix_index(
        spark, _frame(spark, rows), pindex, threshold=0.8
    )
    probe_tbl = spark.table(pindex)
    full_tbl = spark.table(pindex + "_full")
    # pruned probe table holds far fewer shingle postings than the
    # corpus's total shingle volume (the verify table stores one
    # doc-array row per doc since round 10 — compare volumes, not rows)
    total_shingles = full_tbl.agg(F.sum("sz")).first()[0]
    assert probe_tbl.count() * 2 < total_shingles
    # the hottest shingle (df == n_docs) is absent from the probe table
    hot = (full_tbl.select(F.explode("shs").alias("shingle"))
           .groupBy("shingle").count()
           .orderBy(F.desc("count")).first())
    assert hot["count"] == 20
    assert probe_tbl.filter(F.col("shingle") == hot["shingle"]).count() == 0


def test_prefix_index_compaction_preserves_probe_results(spark, pindex):
    from trignis_spark.maintenance import table_data_files

    di.build_prefix_index(
        spark, _frame(spark, _rand_docs(8, 10)), pindex, threshold=0.5
    )
    for seed, start in ((9, 500), (10, 600), (11, 700)):
        di.extend(
            spark, _frame(spark, _rand_docs(seed, 4, start=start)), pindex
        )
        if start < 700:
            # base runs for the compaction to merge; the last extend
            # stays in the delta for the compaction to fold
            di._fold_delta(spark, pindex)
    # same generator seed as the corpus build => identical texts under
    # fresh doc ids, so the probe is guaranteed non-empty
    batch = _frame(spark, _rand_docs(8, 5, start=3000))
    before = {(r.batch_doc, r.corpus_doc, round(r.jaccard, 9))
              for r in di.probe(spark, pindex, batch,
                                             0.5).collect()}
    files_before = sum(
        len(table_data_files(spark, t))
        for t in (pindex, pindex + "_full", pindex + "_docs",
                  pindex + "_delta")
    )
    n_after = di.compact_prefix_index(spark, pindex)
    assert n_after < files_before
    assert spark.table(di._delta_table(pindex)).count() == 0
    after = {(r.batch_doc, r.corpus_doc, round(r.jaccard, 9))
             for r in di.probe(spark, pindex, batch,
                                            0.5).collect()}
    assert after == before and len(before) > 0
    # compaction is idempotent: a re-run with no new appends converges
    assert di.compact_prefix_index(spark, pindex) == n_after


def _replay_duplicate_rows(spark, table, bucket_col=None):
    """Re-append a table's current rows to itself — the state a crashed
    extend leaves behind when the next at-least-once replay re-appends
    a batch whose _docs-sidecar write never landed (ADVICE r5)."""
    w = spark.table(table).write.mode("append").format("parquet")
    if bucket_col is not None:
        w = w.bucketBy(di.DEFAULT_BUCKETS, bucket_col).sortBy(bucket_col)
    # else: the doc-sorted verify table — a plain append IS the crash
    # shape (a replayed extend appends an identical sorted run)
    w.saveAsTable(table)
    spark.catalog.refreshTable(table)


def test_prefix_probe_unaffected_by_replayed_duplicate_rows(spark):
    name = "dedup_pidx_dup_t"
    corpus = _frame(spark, [(1, BASE), (2, BASE), (3, OTHER)])
    batch = _frame(spark, [(10, NEAR)])
    try:
        di.build_prefix_index(spark, corpus, name, threshold=0.5)
        before = {(r.batch_doc, r.corpus_doc, round(r.jaccard, 9))
                  for r in di.probe(
                      spark, name, batch, 0.5).collect()}
        # the crash window duplicates the probe AND verify tables but
        # not the _docs sidecar; jaccard (isz from the verify table)
        # must not double-count
        _replay_duplicate_rows(spark, name, "shingle")
        _replay_duplicate_rows(spark, di._full_table(name))
        after = {(r.batch_doc, r.corpus_doc, round(r.jaccard, 9))
                 for r in di.probe(
                     spark, name, batch, 0.5).collect()}
        assert after == before and before
        assert all(j <= 1.0 for _, _, j in after)
    finally:
        for t in di._tables(name):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_prefix_probe_sort_merge_fallback_identical_pairs(spark):
    """VERDICT r5 #3: a batch too big to broadcast takes the co-located
    sort-merge path — same pairs, no cartesian, and no auto-broadcast
    sneaking back in (autoBroadcastJoinThreshold disabled for the
    run). The corpus-side scan must stay the bucketed table."""
    from trignis_spark.plans import assert_no_cartesian_product

    name = "dedup_pidx_smj_t"
    corpus = _frame(
        spark,
        [(1, BASE), (2, BASE), (3, OTHER)]
        + [(20 + i, f"filler document number {i} about topic {i % 5} "
                    f"with trailing words {i}") for i in range(40)],
    )
    batch = _frame(
        spark,
        [(10, NEAR), (11, "nothing shared with anyone")]
        + [(100 + i, f"filler document number {i} about topic {i % 5} "
                     f"with trailing words {i}") for i in range(10)],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        di.build_prefix_index(spark, corpus, name, threshold=0.5)
        want = {(r.batch_doc, r.corpus_doc, round(r.jaccard, 9))
                for r in di.probe(
                    spark, name, batch, 0.5).collect()}
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        smj = di.probe(
            spark, name, batch, 0.5, broadcast_batch=False
        )
        assert_no_cartesian_product(smj)
        plan = smj._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan  # really the fallback
        got = {(r.batch_doc, r.corpus_doc, round(r.jaccard, 9))
               for r in smj.collect()}
        assert got == want and want
        # the auto dial picks broadcast for small batches and the
        # fallback above MAX_BROADCAST_SHINGLES — and it gates on the
        # shingle rows actually broadcast, so a batch of FEW but very
        # long documents still takes the fallback (ADVICE r6)
        assert di.MAX_BROADCAST_SHINGLES >= 1_000_000
        orig = di.MAX_BROADCAST_SHINGLES
        di.MAX_BROADCAST_SHINGLES = 10  # 2 long docs >> 10 shingles
        try:
            auto = di.probe(spark, name, batch, 0.5)
            plan = auto._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan
            got2 = {(r.batch_doc, r.corpus_doc, round(r.jaccard, 9))
                    for r in auto.collect()}
            assert got2 == want
        finally:
            di.MAX_BROADCAST_SHINGLES = orig
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in di._tables(name):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_attach_prefix_index_restores_probes(spark, pindex):
    """Re-registering a persisted prefix index's tables from their
    warehouse directories (fresh-session/in-memory-catalog restart —
    simulated by copying the dirs under a name the catalog has never
    seen) must leave probe results identical."""
    import os
    import shutil
    from urllib.parse import urlparse

    rows = _rand_docs(3, 16)
    corpus = _frame(spark, rows)
    # batch: verbatim copies of three corpus docs → guaranteed pairs
    batch = _frame(spark, [(1000 + i, rows[i][1]) for i in range(3)])
    di.build_prefix_index(spark, corpus, pindex, threshold=0.5)
    want = {(r["batch_doc"], r["corpus_doc"], round(r["jaccard"], 9))
            for r in di.probe(spark, pindex, batch,
                                           threshold=0.5).collect()}
    assert want

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    twin = pindex + "_reattached"
    for suffix in ("", "_full", "_docs", "_delta", "_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {twin}{suffix}")
        dst = os.path.join(wh, twin + suffix)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        shutil.copytree(os.path.join(wh, pindex + suffix), dst)
    try:
        di.attach_prefix_index(spark, twin)
        got = {(r["batch_doc"], r["corpus_doc"], round(r["jaccard"], 9))
               for r in di.probe(spark, twin, batch,
                                              threshold=0.5).collect()}
        assert got == want
    finally:
        for suffix in ("", "_full", "_docs", "_delta", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {twin}{suffix}")
            dst = os.path.join(wh, twin + suffix)
            if os.path.isdir(dst):
                shutil.rmtree(dst)


def test_compaction_after_attach_swaps_external_tables(spark, pindex):
    """Round 11: a serving process that restarts re-registers its
    index via ``attach_prefix_index`` (EXTERNAL tables), and the next
    housekeeping compaction must still swap — the managed-only rename
    dance failed with LOCATION_ALREADY_EXISTS because an external
    rename leaves the warehouse directory behind (hit live on the
    50 M-doc decade leg). Simulated like the ivfpq attach test: copy
    the warehouse dirs under a name the catalog has never seen."""
    import os
    import shutil
    from urllib.parse import urlparse

    di.build_prefix_index(
        spark, _frame(spark, _rand_docs(8, 10)), pindex, threshold=0.5
    )
    di.extend(
        spark, _frame(spark, _rand_docs(9, 4, start=500)), pindex
    )
    batch = _frame(spark, _rand_docs(8, 5, start=3000))
    want = {(r.batch_doc, r.corpus_doc, round(r.jaccard, 9))
            for r in di.probe(spark, pindex, batch,
                                           0.5).collect()}
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    twin = pindex + "_reatt"
    for suffix in ("", "_full", "_docs", "_delta", "_meta"):
        src, dst = pindex + suffix, twin + suffix
        spark.sql(f"DROP TABLE IF EXISTS {dst}")
        if os.path.isdir(os.path.join(wh, dst)):
            shutil.rmtree(os.path.join(wh, dst))
        shutil.copytree(os.path.join(wh, src), os.path.join(wh, dst))
    try:
        di.attach_prefix_index(spark, twin)
        n = di.compact_prefix_index(spark, twin)
        assert n > 0
        got = {(r.batch_doc, r.corpus_doc, round(r.jaccard, 9))
               for r in di.probe(spark, twin, batch,
                                              0.5).collect()}
        assert got == want and got
        # the swapped-in tables accept further extends (spec intact)
        more = _rand_docs(10, 3, start=900)
        assert di.extend(
            spark, _frame(spark, more), twin
        ) == len(more)
    finally:
        for suffix in ("", "_full", "_docs", "_delta", "_meta"):
            t = twin + suffix
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            if os.path.isdir(os.path.join(wh, t)):
                shutil.rmtree(os.path.join(wh, t))


def _split_index(spark, name):
    """An index whose corpus sits partly in the bucketed base and
    partly in the delta, with a batch of one-word edits of both parts
    (jaccard spread over the thresholds by doc length), a verbatim copy
    from each, and unrelated docs. Returns (corpus, batch)."""
    base_rows, delta_rows = _rand_docs(3, 16), _rand_docs(13, 10, start=500)
    di.build_prefix_index(spark, _frame(spark, base_rows), name,
                          threshold=0.5)
    assert di.extend(spark, _frame(spark, delta_rows), name) == 15
    assert spark.table(di._delta_table(name)).count() == 15
    batch = _frame(spark, _rand_docs(4, 6, start=1000) + [
        (1100 + i, text.rsplit(" ", 1)[0] + " zz")
        for i, (_, text) in enumerate(base_rows[:6] + delta_rows[:6])
    ] + [(1200, base_rows[20][1]), (1201, delta_rows[3][1])])
    return _frame(spark, base_rows + delta_rows), batch


def _assert_probe_matches(spark, name, corpus, batch):
    for t in (0.5, 0.7, 0.9):
        want = _one_shot(corpus, batch, t)
        assert want
        for broadcast_batch in (None, False):
            got = _pairs(di.probe(spark, name, batch, threshold=t,
                                  broadcast_batch=broadcast_batch))
            assert got == want, (t, broadcast_batch)


def test_probe_matches_one_shot_across_base_and_delta(spark, pindex):
    """With the corpus split across the base and the delta, the probe
    returns the one-shot operator's pairs on the broadcast and the
    sort-merge paths — and again after the delta is folded."""
    corpus, batch = _split_index(spark, pindex)
    _assert_probe_matches(spark, pindex, corpus, batch)

    assert di._fold_delta(spark, pindex) == 15
    assert spark.table(di._delta_table(pindex)).count() == 0
    assert spark.table(di._docs_table(pindex)).count() == 39
    _assert_probe_matches(spark, pindex, corpus, batch)


def test_append_folds_once_the_delta_reaches_the_bound(spark, pindex,
                                                       monkeypatch):
    di.build_prefix_index(spark, _frame(spark, _rand_docs(5, 10)), pindex,
                          threshold=0.5)
    monkeypatch.setattr(di, "FOLD_DELTA_ROWS", 20)
    assert di.extend(spark, _frame(spark, _rand_docs(6, 8, start=500)),
                     pindex) == 12
    assert spark.table(di._delta_table(pindex)).count() == 12

    from trignis_spark.maintenance import table_data_files

    def base_files():
        return sum(len(table_data_files(spark, t)) for t in (
            pindex, di._full_table(pindex), di._docs_table(pindex)))

    files_before = base_files()
    assert di.extend(spark, _frame(spark, _rand_docs(7, 6, start=600)),
                     pindex) == 9
    # 21 delta rows crossed the bound: the second append folded them
    assert spark.table(di._delta_table(pindex)).count() == 0
    assert spark.table(di._docs_table(pindex)).count() == 15 + 21
    assert di.members(spark, pindex).count() == 36
    # one file per bucket to each bucketed table and one verify run,
    # not one file per (shuffle task, bucket)
    assert base_files() - files_before <= 2 * di.DEFAULT_BUCKETS + 1
    # the emptied delta keeps one schema-bearing file for re-attach
    assert len(table_data_files(spark, di._delta_table(pindex))) == 1


def test_append_during_a_fold_stays_in_the_delta(spark, pindex,
                                                 monkeypatch):
    """A delta file written while a fold runs (by another process, which
    does not share this one's lock) is not among the files the fold
    read, so the fold leaves it in the delta: its documents stay
    members and the next fold moves them."""
    di.build_prefix_index(spark, _frame(spark, _rand_docs(5, 10)), pindex,
                          threshold=0.5)
    assert di.extend(spark, _frame(spark, _rand_docs(6, 8, start=500)),
                     pindex) == 12
    late = _rand_docs(7, 6, start=600)
    real_append = di._append_prefix_docs

    def append_then_race(*a, **kw):
        added = real_append(*a, **kw)
        di._write_delta(di._doc_shingles(_frame(spark, late), 3), pindex)
        return added

    monkeypatch.setattr(di, "_append_prefix_docs", append_then_race)
    assert di._fold_delta(spark, pindex) == 12
    monkeypatch.setattr(di, "_append_prefix_docs", real_append)
    ids = {r["doc_id"] for r in di.members(spark, pindex).collect()}
    assert {d for d, _ in late} <= ids and len(ids) == 15 + 12 + 9
    assert spark.table(di._delta_table(pindex)).count() == 9
    assert di._fold_delta(spark, pindex) == 9
    assert spark.table(di._docs_table(pindex)).count() == 15 + 12 + 9


def test_crash_between_fold_append_and_delete_loses_nothing(
        spark, pindex, monkeypatch):
    """A fold that dies after its base append but before it deletes the
    delta files leaves every delta document in both the base and the
    delta: no document is lost, the probe pairs are unchanged, and the
    re-fold appends nothing."""
    corpus, batch = _split_index(spark, pindex)
    want = _pairs(di.probe(spark, pindex, batch, threshold=0.5))
    members = {r["doc_id"] for r in corpus.collect()}

    def crash(spark, table, files):
        raise RuntimeError("crash before the delete")

    real_delete = di._delete_delta_files
    monkeypatch.setattr(di, "_delete_delta_files", crash)
    with pytest.raises(RuntimeError, match="crash before"):
        di._fold_delta(spark, pindex)
    assert spark.table(di._delta_table(pindex)).count() == 15
    assert spark.table(di._docs_table(pindex)).count() == 39
    assert {r["doc_id"] for r in
            di.members(spark, pindex).collect()} == members
    for broadcast_batch in (None, False):
        assert _pairs(di.probe(spark, pindex, batch, threshold=0.5,
                               broadcast_batch=broadcast_batch)) == want

    monkeypatch.setattr(di, "_delete_delta_files", real_delete)
    assert di._fold_delta(spark, pindex) == 0
    assert spark.table(di._delta_table(pindex)).count() == 0
    assert spark.table(di._docs_table(pindex)).count() == 39
    assert _pairs(di.probe(spark, pindex, batch, threshold=0.5)) == want
    # a replayed extend of the folded documents still adds nothing
    assert di.extend(spark, corpus, pindex) == 0
