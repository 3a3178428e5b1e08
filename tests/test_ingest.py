"""Ingestion gate: per-stage filtering, replay idempotence, compaction
view, and end-to-end poll cycles over a parquet outbox where the index
persists across a relay restart."""

import logging
import os

import pytest
from pyspark.sql import functions as F

from trignis_spark.operators import dedup_index as di
from trignis_spark.streaming import ingest

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR_BASE = BASE.replace("today", "tonight")
OTHER = "completely different content about spark planning and shuffles here"
CLEAN_A = "fresh unique sentence describing partition layout choices for large tables"
NEAR_A = CLEAN_A.replace("large", "huge")
CLEAN_B = "another standalone paragraph covering watermark semantics in streaming jobs"
JUNK = "!!!! ???? !!!! ???? !!!! ???? !!!! ????"
JUNK2 = ";;;; :::: ;;;; :::: ;;;; :::: ;;;; ::::"
CLEAN_C = "a third clean paragraph about bucketed joins and sorted row groups"
CLEAN_D = "one more clean note on observed metrics over checkpointed frames"


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def index(spark):
    yield "ingest_idx_t"
    for t in di._tables("ingest_idx_t"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_gate_stages_filter_and_extend(spark, index, tmp_path):
    di.build_prefix_index(
        spark, _frame(spark, [(1, BASE), (2, OTHER)]), index, threshold=0.5
    )
    accepted_path = str(tmp_path / "accepted")
    stats: list[ingest.IngestStats] = []
    fn = ingest.make_ingest_batch_fn(
        spark, index, accepted_path,
        min_quality=0.05, threshold=0.5, stats=stats,
    )
    batch = _frame(spark, [
        (10, NEAR_BASE),   # near-dup of corpus doc 1
        (11, CLEAN_A),     # accepted
        (12, CLEAN_A),     # exact dup of 11 (higher id loses)
        (13, JUNK),        # low quality
        (14, NEAR_A),      # in-batch near-dup of survivor 11
        (15, CLEAN_B),     # accepted
    ])
    fn(batch, epoch_id=0)

    assert [s.__dict__ for s in stats] == [{
        "epoch_id": 0, "arrived": 6, "already_known": 0, "exact_dup": 1,
        "low_quality": 1, "corpus_near_dup": 1, "batch_near_dup": 1,
        "accepted": 2,
    }]
    got = spark.read.parquet(accepted_path)
    assert {r["doc_id"] for r in got.collect()} == {11, 15}
    # the index sidecar now carries the admitted docs alongside the seeds
    members = {r["doc_id"] for r in di.members(spark, index).collect()}
    assert members == {1, 2, 11, 15}

    # replay of the same epoch: membership anti-join drops everything
    fn(batch, epoch_id=0)
    assert stats[-1].already_known == 2  # 11 and 15 now known
    assert stats[-1].accepted == 0
    assert spark.read.parquet(accepted_path).count() == 2  # no re-append


def test_accepted_corpus_compacts_duplicate_appends(spark, tmp_path):
    path = str(tmp_path / "acc")
    rows = _frame(spark, [(1, BASE), (2, OTHER)])
    for epoch in (0, 1):  # simulate the crash-window double append
        rows.withColumn("epoch_id", F.lit(epoch).cast("long")) \
            .write.mode("append").parquet(path)
    compacted = ingest.accepted_corpus(spark, path)
    assert compacted.count() == 2
    assert {r["epoch_id"] for r in compacted.collect()} == {0}  # earliest wins


def _outbox_curation(spark, index, tmp_path):
    """Seed the index with BASE and return ``(wave, cycle)``: ``wave``
    appends outbox-envelope rows whose props JSON carries (doc_id, text);
    ``cycle`` runs one ``PollPipeline`` cycle over ``read_outbox`` into a
    fresh ``CurateSink``, with the watermark and DLQ stores under
    ``tmp_path`` so consecutive cycles act as a restarted relay."""
    import datetime as dt
    import json

    from trignis_spark.config import EnvironmentConfig, TrackingObject
    from trignis_spark.deadletter import DeadLetterStore
    from trignis_spark.sinks.base import RetryPolicy
    from trignis_spark.sinks.curate import CurateSink
    from trignis_spark.sources.parquet_outbox import outbox_schema, read_outbox
    from trignis_spark.state import StateStore
    from trignis_spark.streaming.poller import PollPipeline

    di.build_prefix_index(
        spark, _frame(spark, [(1, BASE)]), index, threshold=0.5
    )
    path = str(tmp_path / "outbox")
    accepted_path = str(tmp_path / "accepted")
    env = EnvironmentConfig(
        name="e",
        tracking_objects=(TrackingObject(name="docs", table_name="t",
                                         initial_sync_mode="Full"),),
    )

    def wave(start, payloads):
        rows = [
            (start + i, start + i, "I", 7, ["text"], dt.datetime(2024, 1, 1),
             0.0, json.dumps(p) if p is not None else None)
            for i, p in enumerate(payloads)
        ]
        spark.createDataFrame(rows, outbox_schema()).coalesce(1) \
            .write.mode("append").parquet(path)

    def cycle():
        sink = CurateSink("cur", index, accepted_path,
                          min_quality=0.05, threshold=0.5)
        [r] = PollPipeline(
            spark, env,
            source_fn=lambda s, o: read_outbox(s, path),
            sinks=[], df_sinks=[sink],
            state=StateStore(str(tmp_path / "state")),
            dlq=DeadLetterStore(str(tmp_path / "dlq")),
            retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
        ).run_cycle()
        [st] = sink.stats
        accepted = {r["doc_id"]
                    for r in spark.read.parquet(accepted_path).collect()}
        return (r.mode, r.exported_rows, r.new_watermark, r.failures), st, accepted

    return wave, cycle


def test_curate_cycle_lifts_documents_from_outbox_props(
    spark, index, tmp_path
):
    """Documents ride the outbox envelope through a ``PollPipeline``
    cycle over ``read_outbox`` into ``CurateSink``: the adapter lifts
    (doc_id, text) from the props JSON, skips a None payload, and the
    gate rejects the near-dup of a seed doc."""
    wave, cycle = _outbox_curation(spark, index, tmp_path)
    wave(1, [
        {"doc_id": 11, "text": CLEAN_A},
        {"doc_id": 12, "text": NEAR_BASE},  # near-dup of seed doc 1
        None,                               # malformed payload: skipped
    ])
    result, st, accepted = cycle()
    assert result == ("full", 3, 3, [])
    assert (st.arrived, st.corpus_near_dup, st.accepted) == (2, 1, 1)
    assert accepted == {11}


def test_curate_cycles_over_outbox_resume_from_the_watermark(
    spark, index, tmp_path
):
    """A second pipeline over the same watermark store (a restart) reads
    only the new rows, and the probe sees wave 1's admitted doc through
    the index."""
    wave, cycle = _outbox_curation(spark, index, tmp_path)
    wave(1, [{"doc_id": 11, "text": CLEAN_A},
             {"doc_id": 12, "text": NEAR_BASE}])  # near-dup of seed doc 1
    result, st, accepted = cycle()
    assert result == ("full", 2, 2, [])
    assert accepted == {11}

    wave(3, [{"doc_id": 21, "text": NEAR_A},   # near-dup of admitted doc 11
             {"doc_id": 22, "text": CLEAN_B}])
    result, st, accepted = cycle()
    assert result == ("sync", 2, 4, [])  # only the new rows
    assert (st.arrived, st.already_known, st.corpus_near_dup, st.accepted) \
        == (2, 0, 1, 1)
    assert accepted == {11, 22}


def test_embedding_gate_rejects_near_dups_and_extends(spark, tmp_path):
    from trignis_spark.operators import ann_index as ai

    def vframe(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    spark.sql("DROP TABLE IF EXISTS emb_gate_idx")
    spark.sql("DROP TABLE IF EXISTS emb_gate_idx_ids")
    try:
        corpus = vframe([
            (1, [1.0, 0.5, -0.25, 2.0]),
            (2, [-1.0, 1.5, 0.75, -0.5]),
        ])
        ai.build_ann_index(spark, corpus, "emb_gate_idx", n_buckets=4)
        accepted_path = str(tmp_path / "acc")
        stats: list[ingest.EmbeddingIngestStats] = []
        health_root = str(tmp_path / "health")
        fn = ingest.make_embedding_ingest_fn(
            spark, "emb_gate_idx", accepted_path,
            cos_threshold=0.99, nprobe=1, stats=stats,
            health_root=health_root,
        )
        batch = vframe([
            (10, [2.0, 1.0, -0.5, 4.0]),    # scaled copy of vec 1: cos=1
            (11, [0.1, -2.0, 1.0, 0.3]),    # genuinely new direction
        ])
        fn(batch, epoch_id=0)
        assert {k: v for k, v in stats[-1].__dict__.items()
                if k != "timings"} == {
            "epoch_id": 0, "arrived": 2, "already_known": 0,
            "near_dup": 1, "accepted": 1,
            "adc_margin": None, "folded": 0,  # exact mode, no policy
        }
        # stage telemetry: every stage ran on an accepting epoch
        assert set(stats[-1].timings) == {"dedup", "probe", "write",
                                          "extend"}
        got = {r["vec_id"] for r in spark.read.parquet(accepted_path).collect()}
        assert got == {11}
        ids = {r["vec_id"] for r in spark.table("emb_gate_idx_ids").collect()}
        assert ids == {1, 2, 11}

        # replay: everything known, nothing re-appended
        fn(batch, epoch_id=0)
        assert stats[-1].accepted == 0 and stats[-1].already_known == 1
        # no accept → no write/extend stage ever launched
        assert set(stats[-1].timings) == {"dedup", "probe"}

        # all-replay epoch (every id already indexed): the probe —
        # the cycle's dominant term at corpus scale — never launches
        fn(vframe([(11, [0.1, -2.0, 1.0, 0.3])]), epoch_id=1)
        assert stats[-1].already_known == 1 and stats[-1].near_dup == 0
        assert set(stats[-1].timings) == {"dedup"}
        assert spark.read.parquet(accepted_path).count() == 1

        # cycle-health registry (VERDICT r9 #6): every cycle lands in
        # INGEST_HEALTH for api.py's GET /health/ingest — last record
        # mirrors the stats entry, history is bounded
        entry = ingest.INGEST_HEALTH["emb_gate_idx"]
        assert len(entry["cycles"]) == 3 <= ingest.INGEST_HISTORY
        last = entry["last"]
        assert last["epoch_id"] == 1 and last["accepted"] == 0
        assert last["timings"] == stats[-1].timings
        assert last["precision"] == "exact" and last["folded"] == 0
        assert last["arrived"] == 1  # stats opt-in adds the split
        # restart survival (VERDICT r10 #3): the same cycles came back
        # from the atomic health store after the registry "dies"
        persisted = ingest.load_ingest_health(health_root)["emb_gate_idx"]
        assert persisted["last"]["epoch_id"] == 1
        assert len(persisted["cycles"]) == 3
        ingest.INGEST_HEALTH.pop("emb_gate_idx", None)
        assert ingest.restore_ingest_health(health_root) == 1
        assert ingest.INGEST_HEALTH["emb_gate_idx"]["last"]["epoch_id"] == 1
    finally:
        ingest.INGEST_HEALTH.pop("emb_gate_idx", None)
        spark.sql("DROP TABLE IF EXISTS emb_gate_idx")
        spark.sql("DROP TABLE IF EXISTS emb_gate_idx_ids")


def test_curate_sink_through_poll_pipeline(spark, index, tmp_path):
    """Config kind 'curate' as a PollPipeline df_sink: the tracked
    table's change batches grow a curated corpus in lockstep with the
    watermark, replay-safe."""
    import datetime as dt
    import json

    from trignis_spark.config import (
        EnvironmentConfig,
        SinkConfig,
        TrackingObject,
        validate_environment,
    )
    from trignis_spark.deadletter import DeadLetterStore
    from trignis_spark.sinks import build_sink
    from trignis_spark.sinks.base import RetryPolicy
    from trignis_spark.sources.parquet_outbox import outbox_schema
    from trignis_spark.state import StateStore
    from trignis_spark.streaming.poller import PollPipeline

    di.build_prefix_index(
        spark, _frame(spark, [(1, BASE)]), index, threshold=0.5
    )
    accepted = str(tmp_path / "accepted")
    sink = build_sink(
        "curate", "cur",
        {"index_table": index, "accepted_path": accepted,
         "min_quality": 0.05, "threshold": 0.5},
    )

    rows = [
        (v, v, "I", 7, ["text"], dt.datetime(2024, 1, 1), 0.0,
         json.dumps(p))
        for v, p in (
            (1, {"doc_id": 11, "text": CLEAN_A}),
            (2, {"doc_id": 12, "text": NEAR_BASE}),  # near-dup of seed
        )
    ]
    env = EnvironmentConfig(
        name="e",
        tracking_objects=(
            TrackingObject(name="docs", table_name="t",
                           initial_sync_mode="Full"),
        ),
    )
    p = PollPipeline(
        spark, env,
        source_fn=lambda s, o: s.createDataFrame(rows, outbox_schema()),
        sinks=[], df_sinks=[sink],
        state=StateStore(str(tmp_path / "state")),
        dlq=DeadLetterStore(str(tmp_path / "dlq")),
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    p.run_cycle()
    got = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert got == {11}
    members = {r["doc_id"] for r in di.members(spark, index).collect()}
    assert members == {1, 11}

    # replayed cycle (same rows, watermark unmoved → same batch): no-op
    p2 = PollPipeline(
        spark, env,
        source_fn=lambda s, o: s.createDataFrame(rows, outbox_schema()),
        sinks=[], df_sinks=[sink],
        state=StateStore(str(tmp_path / "state2")),
        dlq=DeadLetterStore(str(tmp_path / "dlq2")),
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    p2.run_cycle()
    assert spark.read.parquet(accepted).count() == 1

    # config validation: required options enforced
    env_bad = EnvironmentConfig(
        name="e2",
        tracking_objects=(TrackingObject(name="o", table_name="t"),),
        destinations=(SinkConfig(name="c", kind="curate",
                                 options={"index_table": "x"}),),
    )
    errs, _ = validate_environment(env_bad)
    assert any("curate sink requires accepted_path" in e for e in errs)


@pytest.fixture
def pindex(spark):
    yield "ingest_pidx_t"
    for t in di._tables("ingest_pidx_t"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _stats(s: ingest.IngestStats) -> dict:
    return {k: v for k, v in s.__dict__.items() if k != "epoch_id"}


def test_gate_works_over_prefix_index(spark, pindex, tmp_path):
    # the stage counts of three epochs: a fresh batch, its replay, and
    # an insert plus an update of one doc_id in one poll window
    di.build_prefix_index(
        spark, _frame(spark, [(1, BASE), (2, OTHER)]), pindex,
        threshold=0.5,
    )
    accepted_path = str(tmp_path / "accepted_p")
    stats: list[ingest.IngestStats] = []
    fn = ingest.make_ingest_batch_fn(
        spark, pindex, accepted_path,
        min_quality=0.05, threshold=0.5, stats=stats,
    )
    batch = _frame(spark, [
        (10, NEAR_BASE), (11, CLEAN_A), (12, CLEAN_A),
        (13, JUNK), (14, NEAR_A), (15, CLEAN_B),
    ])
    fn(batch, epoch_id=0)
    assert _stats(stats[-1]) == {
        "arrived": 6, "already_known": 0, "exact_dup": 1,
        "low_quality": 1, "corpus_near_dup": 1, "batch_near_dup": 1,
        "accepted": 2,
    }
    assert {r["doc_id"] for r in
            spark.read.parquet(accepted_path).collect()} == {11, 15}
    # the accepted docs went into the index (idempotent on replay):
    # the replayed epoch accepts nothing — 12 is now rank 1 of its
    # text but near-dups (here: equals) the admitted 11
    fn(batch, epoch_id=0)
    assert _stats(stats[-1]) == {
        "arrived": 6, "already_known": 2, "exact_dup": 0,
        "low_quality": 1, "corpus_near_dup": 3, "batch_near_dup": 0,
        "accepted": 0,
    }
    members = {r["doc_id"] for r in di.members(spark, pindex).collect()}
    assert members == {1, 2, 11, 15}

    # an insert and an update of one doc_id in one poll window: two
    # rows, both rank 1 of their texts. Quality is a doc_id-level
    # semi-join, so the junk row rides on its clean twin — counted once
    # per ROW at every stage, never per (row, quality row) pair
    fn(_frame(spark, [
        (20, CLEAN_C), (20, JUNK2), (21, JUNK), (22, CLEAN_C),
    ]), epoch_id=1)
    assert _stats(stats[-1]) == {
        "arrived": 4, "already_known": 0, "exact_dup": 1,
        "low_quality": 1, "corpus_near_dup": 0, "batch_near_dup": 0,
        "accepted": 2,
    }
    got = sorted((r["doc_id"], r["text"]) for r in
                 spark.read.parquet(accepted_path).collect())
    assert got == sorted([(11, CLEAN_A), (15, CLEAN_B),
                          (20, CLEAN_C), (20, JUNK2)])


def test_gate_without_stats_and_empty_epoch(spark, pindex, tmp_path):
    di.build_prefix_index(
        spark, _frame(spark, [(1, BASE), (2, OTHER)]), pindex,
        threshold=0.5,
    )
    accepted_path = str(tmp_path / "accepted_n")
    fn = ingest.make_ingest_batch_fn(
        spark, pindex, accepted_path, min_quality=0.05, threshold=0.5,
    )
    # an empty batch (its observed counts still arrive), then one where
    # nothing passes: a corpus near-dup, junk, and a corpus member
    fn(_frame(spark, []), epoch_id=0)
    fn(_frame(spark, [(10, NEAR_BASE), (13, JUNK), (2, OTHER)]),
       epoch_id=0)
    assert not os.path.exists(accepted_path)
    fn(_frame(spark, [(11, CLEAN_A), (14, NEAR_A), (15, CLEAN_B)]),
       epoch_id=1)
    assert {r["doc_id"] for r in
            spark.read.parquet(accepted_path).collect()} == {11, 15}
    assert {r["doc_id"] for r in
            di.members(spark, pindex).collect()} == {1, 2, 11, 15}


def _rows(spark, table, path=None):
    df = spark.table(table) if path is None else spark.read.parquet(path)
    return sorted(tuple(r) for r in df.collect())


def test_gate_append_matches_extend_prefix_index(spark, pindex, tmp_path):
    """The gate hands its accepted frame straight to the prefix append,
    skipping ``dedup_index.extend``'s membership anti-join: the index
    must end up holding exactly the rows ``extend`` writes for the same
    documents, and the next epoch must see them."""
    ref = "ingest_pidx_ref"
    corpus = _frame(spark, [(1, BASE), (2, OTHER)])
    di.build_prefix_index(spark, corpus, pindex, threshold=0.5)
    di.build_prefix_index(spark, corpus, ref, threshold=0.5)
    try:
        accepted_path = str(tmp_path / "accepted_h")
        stats: list[ingest.IngestStats] = []
        fn = ingest.make_ingest_batch_fn(
            spark, pindex, accepted_path,
            min_quality=0.05, threshold=0.5, stats=stats,
        )
        fn(_frame(spark, [(10, NEAR_BASE), (11, CLEAN_A), (15, CLEAN_B)]),
           epoch_id=0)
        acc = spark.read.parquet(accepted_path).select("doc_id", "text")
        assert {r["doc_id"] for r in acc.collect()} == {11, 15}
        assert di.extend(spark, acc, ref) == 2
        for sfx in ("", "_full", "_docs", "_delta"):
            assert _rows(spark, pindex + sfx) == _rows(spark, ref + sfx)

        # the next epoch's near-dup of an admitted doc is a corpus hit
        fn(_frame(spark, [(30, NEAR_A), (31, CLEAN_C)]), epoch_id=1)
        assert stats[-1].corpus_near_dup == 1
        assert stats[-1].accepted == 1
        # an insert and an update of one doc_id: both rows are admitted
        fn(_frame(spark, [(40, CLEAN_D), (40, JUNK2)]), epoch_id=2)
        assert stats[-1].accepted == 2
        later = spark.read.parquet(accepted_path).filter("epoch_id > 0")
        assert di.extend(spark, later.select("doc_id", "text"), ref) == 3
        for sfx in ("", "_full", "_docs", "_delta"):
            assert _rows(spark, pindex + sfx) == _rows(spark, ref + sfx)
    finally:
        for t in di._tables(ref):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_gate_stats_identical_across_a_folding_epoch(spark, pindex,
                                                     tmp_path, monkeypatch):
    """The same epochs over two copies of one index give identical
    ``IngestStats``, accepted rows and members whether the appends stay
    in the delta or an epoch's append folds it into the base — and the
    epochs after the fold see the folded documents as corpus."""
    ref = "ingest_pidx_nofold"
    corpus = _frame(spark, [(1, BASE), (2, OTHER)])
    first = [(10, NEAR_BASE), (11, CLEAN_A), (12, CLEAN_A),
             (13, JUNK), (14, NEAR_A), (15, CLEAN_B)]
    epochs = [
        first,                                  # accepts 11, 15
        [(20, CLEAN_C), (21, NEAR_A), (22, CLEAN_D)],  # 21 ~ 11
        first,                                  # replay of epoch 0
        [(30, CLEAN_C), (31, CLEAN_D), (32, BASE)],    # all corpus hits
    ]

    def run(name):
        di.build_prefix_index(spark, corpus, name, threshold=0.5)
        stats: list[ingest.IngestStats] = []
        acc = str(tmp_path / f"accepted_{name}")
        fn = ingest.make_ingest_batch_fn(
            spark, name, acc, min_quality=0.05, threshold=0.5, stats=stats,
        )
        for epoch, rows in enumerate(epochs):
            fn(_frame(spark, rows), epoch_id=epoch)
        return (stats, _rows(spark, None, acc),
                sorted(r["doc_id"] for r in di.members(spark, name).collect()))

    folds = []
    real_fold = di._fold_delta

    def counting_fold(*a, **kw):
        folds.append(real_fold(*a, **kw))
        return folds[-1]

    monkeypatch.setattr(di, "_fold_delta", counting_fold)
    try:
        plain = run(ref)
        assert folds == []
        # the second epoch's append takes the delta from 2 to 4 rows
        monkeypatch.setattr(di, "FOLD_DELTA_ROWS", 3)
        folded = run(pindex)
        assert folds == [4]
        assert spark.table(di._delta_table(pindex)).count() == 0
        assert spark.table(di._docs_table(pindex)).count() == 6
    finally:
        for t in di._tables(ref):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert folded == plain
    stats = plain[0]
    assert [s.accepted for s in stats] == [2, 2, 0, 0]
    assert _stats(stats[1]) == {
        "arrived": 3, "already_known": 0, "exact_dup": 0,
        "low_quality": 0, "corpus_near_dup": 1, "batch_near_dup": 0,
        "accepted": 2,
    }
    assert _stats(stats[3]) == {
        "arrived": 3, "already_known": 0, "exact_dup": 0,
        "low_quality": 0, "corpus_near_dup": 3, "batch_near_dup": 0,
        "accepted": 0,
    }
    assert plain[2] == [1, 2, 11, 15, 20, 22]


def test_self_probe_rejects_what_incremental_pairs_rejects(spark):
    """The gate's in-batch pass over the shingle arrays rejects exactly
    the docs that the rule over ``dd.incremental_pairs`` of
    ``dd.shingle_table`` does (a doc with a lower-id near-dup in the
    batch loses), at three thresholds, broadcast and sort-merge."""
    from trignis_spark.operators import dedup as dd

    words = [f"w{i}" for i in range(30)]
    a = " ".join(words)
    b = " ".join(words[:-1] + ["x"])               # a~b: J 0.93
    c = " ".join(words[:14] + ["y"] + words[15:-1] + ["x"])  # b~c 0.81
    v = " ".join(f"v{i}" for i in range(12))
    u = " ".join(f"u{i}" for i in range(30))
    frame = _frame(spark, [
        (1, a), (2, b), (3, c),            # chain: a~b~c, a~c only at 0.5
        (10, v), (11, v),                  # verbatim pair
        (20, "too short"), (21, "too short"),  # fewer than 3 tokens
        (30, u), (31, u.replace("u29", "z")), (31, v),  # doc_id 31 twice
        (40, a.replace("w0 ", "")),       # near a, in the chain's reach
    ])
    arrs = di._doc_shingles(frame, 3).localCheckpoint(eager=True)
    sh = dd.shingle_table(frame)
    seen = set()
    for t in (0.5, 0.8, 0.9):
        want = {
            r["batch_doc"] for r in
            dd.incremental_pairs(sh, sh, t, broadcast_batch=False)
            .filter("corpus_doc < batch_doc").collect()
        }
        seen.add(frozenset(want))
        for broadcast in (True, False):
            rej = ingest._self_probe_rejects(arrs, t, broadcast)
            plan = rej._jdf.queryExecution().executedPlan().toString()
            assert ("BroadcastHashJoin" in plan) == broadcast, plan
            got = {r["doc_id"] for r in rej.collect()}
            assert got == want, (t, broadcast)
    # the thresholds decide differently, so the comparison has teeth
    assert len(seen) == 3, seen


#: Spark jobs (adaptive-execution map stages included) that one gate
#: epoch over a prefix index runs on the six-document batch below, with
#: every stage executed once. A stage that re-executes its lineage — a
#: stats count() that re-runs the probe, an extend that repeats the
#: membership anti-join — pushes an epoch over this. Measured: 21 jobs
#: in each of three fresh sessions on a 4-core box (the index append is
#: one delta write); the margin of 3 is the run-to-run spread of
#: adaptive map stages seen before (56-59).
GATE_EPOCH_MAX_JOBS = 24


def test_gate_epoch_spark_job_budget(spark, pindex, tmp_path):
    di.build_prefix_index(
        spark, _frame(spark, [(1, BASE), (2, OTHER)]), pindex,
        threshold=0.5,
    )
    stats: list[ingest.IngestStats] = []
    fn = ingest.make_ingest_batch_fn(
        spark, pindex, str(tmp_path / "accepted_j"),
        min_quality=0.05, threshold=0.5, stats=stats,
    )
    batch = _frame(spark, [
        (10, NEAR_BASE), (11, CLEAN_A), (12, CLEAN_A),
        (13, JUNK), (14, NEAR_A), (15, CLEAN_B),
    ])
    sc = spark.sparkContext
    group = f"gate-epoch-{id(fn)}"
    sc.setJobGroup(group, "one gate epoch")
    try:
        fn(batch, epoch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert stats[-1].accepted == 2
    assert 0 < jobs <= GATE_EPOCH_MAX_JOBS, jobs


def test_embedding_gate_over_ivfpq_index(spark, tmp_path):
    """The gate auto-detects an IVF-PQ index (the width-regime family:
    ADC candidates cost m code reads instead of dims floats) and keeps
    the same decision semantics — the PQ probe's re-rank cosine is
    exact, so threshold/replay behavior matches the float-index gate."""
    from trignis_spark.operators import ivfpq_index as ipq

    def vframe(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
              "__tail_codes"):
        spark.sql(f"DROP TABLE IF EXISTS emb_gate_pq{t}")
    try:
        corpus = vframe([
            (1, [1.0, 0.5, -0.25, 2.0]),
            (2, [-1.0, 1.5, 0.75, -0.5]),
            (3, [0.3, -0.8, 1.1, 0.2]),
        ])
        ipq.build_ivfpq_index(spark, corpus, "emb_gate_pq", m=2, k=2,
                              n_buckets=4)
        accepted_path = str(tmp_path / "acc_pq")
        stats: list[ingest.EmbeddingIngestStats] = []
        fn = ingest.make_embedding_ingest_fn(
            spark, "emb_gate_pq", accepted_path,
            cos_threshold=0.99, nprobe=4, stats=stats,
        )
        batch = vframe([
            (10, [2.0, 1.0, -0.5, 4.0]),    # scaled copy of vec 1: cos=1
            (11, [0.1, -2.0, 1.0, 0.3]),    # genuinely new direction
            (1, [1.0, 0.5, -0.25, 2.0]),    # replay of an indexed id
        ])
        fn(batch, epoch_id=0)
        s = stats[-1]
        assert (s.arrived, s.already_known, s.near_dup, s.accepted) == \
            (3, 1, 1, 1)
        got = {r["vec_id"]
               for r in spark.read.parquet(accepted_path).collect()}
        assert got == {11}
        ids = {r["vec_id"] for r in spark.table("emb_gate_pq_ids").collect()}
        assert ids == {1, 2, 3, 11}
        # replay: exactly-once growth through the PQ extend path
        fn(batch, epoch_id=0)
        assert stats[-1].accepted == 0
        assert spark.table("emb_gate_pq_ids").count() == 4
    finally:
        for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
                  "__tail_codes"):
            spark.sql(f"DROP TABLE IF EXISTS emb_gate_pq{t}")


def test_embedding_gate_adc_precision(spark, tmp_path):
    """``precision="adc"``: the gate thresholds the quantized cosine at
    (θ − certified margin) and never scans the float table — the fix
    for the width-regime poll cycle, where the exact re-rank's
    "pruned" scan at poll-batch query counts IS the whole corpus
    (BASELINE.md round 8). Decisions here must match the exact gate on
    a corpus the codebook represents well."""
    from trignis_spark.operators import ivfpq_index as ipq

    P, Q = [1.0, 1.0, 1.0, 1.0], [1.0, -1.0, -1.0, 1.0]

    def vframe(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
              "__tail_codes"):
        spark.sql(f"DROP TABLE IF EXISTS emb_gate_adc{t}")
    try:
        corpus = vframe(
            [(i, [x * (1.0 + 0.01 * i) for x in P]) for i in range(6)]
            + [(100 + i, [x * (1.0 + 0.01 * i) for x in Q])
               for i in range(6)]
        )
        ipq.build_ivfpq_index(spark, corpus, "emb_gate_adc", m=2, k=2,
                              n_buckets=4)
        margin = ipq.stored_adc_margin(spark, "emb_gate_adc")
        assert margin is not None and margin < 0.1  # clustered fixture
        accepted_path = str(tmp_path / "acc_adc")
        stats: list[ingest.EmbeddingIngestStats] = []
        fn = ingest.make_embedding_ingest_fn(
            spark, "emb_gate_adc", accepted_path,
            cos_threshold=0.9, nprobe=4, stats=stats, precision="adc",
        )
        batch = vframe([
            (10, [2.0 * x for x in P]),       # scaled copy: true cos 1
            # genuinely new direction, ON the manifold (P's first half
            # + Q's second half — a cross-combo the codebook still
            # represents: cos 0.5 to both prototypes, residual ≈ the
            # certified margin). An off-manifold accept (the old
            # orthogonal fixture) would — correctly, per the round-9
            # drift rule — widen the stored margin past θ on extend
            # and fail the replay cycle loudly; that path has its own
            # test below.
            (11, [1.0, 1.0, -1.0, 1.0]),
            (0, [x * 1.0 for x in P]),        # replay of indexed id
        ])
        fn(batch, epoch_id=0)
        s = stats[-1]
        assert (s.arrived, s.already_known, s.near_dup, s.accepted) == \
            (3, 1, 1, 1)
        assert {r["vec_id"] for r in
                spark.read.parquet(accepted_path).collect()} == {11}
        # replay: exactly-once through the same adc path
        fn(batch, epoch_id=0)
        assert stats[-1].accepted == 0
        assert spark.table("emb_gate_adc_ids").count() == 13
    finally:
        for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
                  "__tail_codes"):
            spark.sql(f"DROP TABLE IF EXISTS emb_gate_adc{t}")


def test_embedding_gate_adc_requires_certified_pq_index(spark, tmp_path):
    from trignis_spark.operators import ann_index as ai

    def vframe(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    for t in ("", "_ids", "_meta", "_coarse"):
        spark.sql(f"DROP TABLE IF EXISTS emb_gate_adc_f{t}")
    try:
        ai.build_ann_index(
            spark, vframe([(1, [1.0, 0.5, -0.25, 2.0])]),
            "emb_gate_adc_f", n_buckets=2,
        )
        with pytest.raises(ValueError, match="requires an IVF-PQ"):
            ingest.make_embedding_ingest_fn(
                spark, "emb_gate_adc_f", str(tmp_path / "x"),
                precision="adc",
            )
        with pytest.raises(ValueError, match="precision"):
            ingest.make_embedding_ingest_fn(
                spark, "emb_gate_adc_f", str(tmp_path / "x"),
                precision="bogus",
            )
    finally:
        for t in ("", "_ids", "_meta", "_coarse"):
            spark.sql(f"DROP TABLE IF EXISTS emb_gate_adc_f{t}")


def test_embedding_gate_cache_index_stays_correct_across_extends(
    spark, tmp_path
):
    """``cache_index=True`` pins the base serving tables in storage
    cache; the r8 tail design makes that sound (extends refresh only
    the tail sidecars, never the immutable base). Decisions must be
    identical across cycles — in particular a vector accepted in cycle
    N must near-dup-reject its copy in cycle N+1 even though the base
    cache was never invalidated (the probe reads base ∪ tail)."""
    from trignis_spark.operators import ivfpq_index as ipq

    P, Q = [1.0, 1.0, 1.0, 1.0], [1.0, -1.0, -1.0, 1.0]

    def vframe(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
              "__tail_codes"):
        spark.sql(f"DROP TABLE IF EXISTS emb_gate_ci{t}")
    try:
        corpus = vframe(
            [(i, [x * (1.0 + 0.01 * i) for x in P]) for i in range(6)]
        )
        ipq.build_ivfpq_index(spark, corpus, "emb_gate_ci", m=2, k=2,
                              n_buckets=4)
        stats: list[ingest.EmbeddingIngestStats] = []
        fn = ingest.make_embedding_ingest_fn(
            spark, "emb_gate_ci", str(tmp_path / "acc_ci"),
            cos_threshold=0.99, nprobe=4, stats=stats,
            cache_index=True,
        )
        # round 12: this v_sorted index with a usable margin serves the
        # exact re-rank through the banded In-leg gather, so the gate
        # deliberately does NOT pin the float base (caching would both
        # waste storage memory and defeat the pushed-In row-group
        # pruning); the codes table — what probes actually scan — is
        # still pinned
        assert not spark.catalog.isCached("emb_gate_ci")
        assert spark.catalog.isCached("emb_gate_ci_codes")
        fn(vframe([(50, Q)]), epoch_id=0)           # new direction
        assert stats[-1].accepted == 1
        fn(vframe([(51, [2.0 * x for x in Q])]), epoch_id=1)
        # the scaled copy of the JUST-extended vector must reject via
        # the tail, which no cached base table holds
        assert stats[-1].near_dup == 1 and stats[-1].accepted == 0
        # accepting Q widened the margin past BAND_MARGIN_MAX (drift),
        # which disarms the band: the gate re-decides every epoch, so
        # epoch 1 pinned the float base its re-rank now scans
        assert not ipq.band_armed(ipq._probe_state(spark, "emb_gate_ci"))
        assert spark.catalog.isCached("emb_gate_ci")
    finally:
        for t in ("", "_codes"):
            try:
                spark.catalog.uncacheTable(f"emb_gate_ci{t}")
            except Exception:
                pass
        for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
                  "__tail_codes"):
            spark.sql(f"DROP TABLE IF EXISTS emb_gate_ci{t}")


def test_embedding_gate_pins_float_base_when_band_disarms(
    spark, tmp_path, caplog
):
    """The exact gate with ``cache_index`` re-decides the banded gather
    every epoch: once a sampled ``remeasure_adc_margin`` disarms it, the
    next epoch pins the float base the re-rank now scans, logged once."""
    from trignis_spark.operators import ivfpq_index as ipq

    P = [1.0, 1.0, 1.0, 1.0]
    idx = "emb_gate_band"

    def vframe(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
              "__tail_codes"):
        spark.sql(f"DROP TABLE IF EXISTS {idx}{t}")
    try:
        ipq.build_ivfpq_index(
            spark,
            vframe([(i, [x * (1.0 + 0.01 * i) for x in P])
                    for i in range(6)]),
            idx, m=2, k=2, n_buckets=4,
        )
        stats: list[ingest.EmbeddingIngestStats] = []
        fn = ingest.make_embedding_ingest_fn(
            spark, idx, str(tmp_path / "acc_band"), cos_threshold=0.99,
            nprobe=4, stats=stats, cache_index=True,
        )
        # near-dups only: nothing is extended, so the band stays armed
        fn(vframe([(50, [2.0 * x for x in P])]), epoch_id=0)
        assert stats[-1].near_dup == 1
        assert not spark.catalog.isCached(idx)
        ipq.remeasure_adc_margin(spark, idx, sample_rows=4)
        assert not ipq.band_armed(ipq._probe_state(spark, idx))
        with caplog.at_level(logging.INFO, logger="trignis_spark.ingest"):
            for ep in (1, 2):
                fn(vframe([(50 + ep, [3.0 * x for x in P])]), epoch_id=ep)
                assert stats[-1].near_dup == 1
        assert spark.catalog.isCached(idx)
        assert [r.getMessage() for r in caplog.records] == [
            f"ingest gate {idx}: banded gather not armed, float base "
            "pinned in the storage cache"
        ]
    finally:
        for t in ("", "_codes"):
            try:
                spark.catalog.uncacheTable(f"{idx}{t}")
            except Exception:
                pass
        for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
                  "__tail_codes"):
            spark.sql(f"DROP TABLE IF EXISTS {idx}{t}")


def test_cache_index_rejects_float_ann_family(spark, tmp_path):
    """cache_index with the float-ANN family would evict and rebuild
    the cache every cycle (its extends mutate the base tables) — fail
    at construction."""
    from trignis_spark.operators import ann_index as ai

    for t in ("", "_ids", "_meta", "_coarse"):
        spark.sql(f"DROP TABLE IF EXISTS emb_gate_cif{t}")
    try:
        ai.build_ann_index(
            spark,
            spark.createDataFrame([(1, [1.0, 0.5, -0.25, 2.0])],
                                  "vec_id long, embedding array<float>"),
            "emb_gate_cif", n_buckets=2,
        )
        with pytest.raises(ValueError, match="cache_index"):
            ingest.make_embedding_ingest_fn(
                spark, "emb_gate_cif", str(tmp_path / "x"),
                cache_index=True,
            )
    finally:
        for t in ("", "_ids", "_meta", "_coarse"):
            spark.sql(f"DROP TABLE IF EXISTS emb_gate_cif{t}")


def test_embedding_gate_fold_policy_keeps_tail_and_files_bounded(
    spark, tmp_path
):
    """``fold_tail_rows``: a long-running gate folds its LSM tail into
    the cell-partitioned base from within the poll loop once accepted
    rows cross the knob (reference analog: retention purge runs on its
    own cadence inside the service loop, ``DeadLetterService.cs:146``).
    Across ≥3 folds: every fold drops the tail sidecars (probes go back
    to guard-free base-only scans), per-fold base file growth is
    bounded by the cells the folded rows touched (never corpus-sized),
    and decisions stay exactly-once correct — a copy of a vector
    accepted N cycles ago still rejects whether it sits in tail or
    base."""
    from trignis_spark.maintenance import table_data_files
    from trignis_spark.operators import ivfpq_index as ipq

    def vframe(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    idx = "emb_gate_fold"
    tails = (ipq._tail_table(idx), ipq._tail_codes_table(idx))
    for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
              "__tail_codes"):
        spark.sql(f"DROP TABLE IF EXISTS {idx}{t}")
    try:
        corpus = vframe(
            [(i, [1.0 + 0.01 * i, 1.0, 1.0, 1.0]) for i in range(6)]
        )
        ipq.build_ivfpq_index(spark, corpus, idx, m=2, k=2, n_buckets=4)
        stats: list[ingest.EmbeddingIngestStats] = []
        fn = ingest.make_embedding_ingest_fn(
            spark, idx, str(tmp_path / "acc_fold"),
            cos_threshold=0.99, nprobe=4, stats=stats,
            fold_tail_rows=1,  # fold after every accepting cycle
        )
        fresh = [
            (50, [1.0, -1.0, -1.0, 1.0]),
            (51, [1.0, 0.0, 0.0, -1.0]),
            (52, [0.0, 1.0, -1.0, 0.0]),
            (53, [1.0, -1.0, 1.0, -1.0]),
        ]
        base_tables = (idx, ipq._codes_table(idx))
        files_after_fold: list[int] = []
        folds = 0
        import warnings

        for ep, (vid, v) in enumerate(fresh):
            # the fresh directions drift from the seed cluster, so the
            # extends legitimately widen the certified margin — capture
            # and check those warnings instead of spraying them
            with warnings.catch_warnings(record=True) as wlog:
                warnings.simplefilter("always")
                fn(vframe([(vid, v)]), epoch_id=ep)
            # "always" also surfaces py4j socket ResourceWarnings —
            # only UserWarnings are ours to police
            assert all(
                "adc_margin" in str(w.message) for w in wlog
                if issubclass(w.category, UserWarning)
            )
            assert stats[-1].accepted == 1
            if stats[-1].folded:
                folds += 1
                # the cycle's accepted row, counted in BOTH sidecars
                # (fold_ivfpq_tail sums floats + codes rows folded)
                assert stats[-1].folded == 2
                # fold dropped the sidecars: next probe is base-only
                assert not any(
                    spark.catalog.tableExists(t) for t in tails
                )
                files_after_fold.append(sum(
                    len(table_data_files(spark, t)) for t in base_tables
                ))
            # a scaled copy of the PREVIOUS cycle's accept must reject,
            # wherever that vector now lives (tail or folded base)
            fn(vframe([(90 + ep, [2.0 * x for x in v])]), epoch_id=100 + ep)
            assert stats[-1].near_dup == 1 and stats[-1].accepted == 0
        assert folds >= 3, f"fold policy fired only {folds} times"
        # bounded growth: each fold lands ≤1 file per touched cell per
        # table (one single-row accept → ≤2 files across the two base
        # tables), never a corpus-shaped rewrite
        for prev, cur in zip(files_after_fold, files_after_fold[1:]):
            assert cur - prev <= 2, (
                f"fold file growth not bounded: {files_after_fold}"
            )
    finally:
        for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
                  "__tail_codes"):
            spark.sql(f"DROP TABLE IF EXISTS {idx}{t}")


def test_cache_index_storage_level_dial(spark, tmp_path):
    """Cluster-semantics dial (VERDICT r8 #8): ``cache_storage_level``
    picks the StorageLevel the serving cache pins at — DISK_ONLY keeps
    executor memory for co-tenants while still beating remote parquet
    re-reads; a non-StorageLevel name fails at construction, not at
    first probe. In adc mode only the codes sidecar is pinned (the
    rerank-free probe never reads the float base)."""
    from pyspark import StorageLevel

    from trignis_spark.operators import ivfpq_index as ipq

    idx = "emb_gate_sl"
    P = [1.0, 1.0, 1.0, 1.0]
    for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
              "__tail_codes"):
        spark.sql(f"DROP TABLE IF EXISTS {idx}{t}")
    try:
        corpus = spark.createDataFrame(
            [(i, [x * (1.0 + 0.01 * i) for x in P]) for i in range(6)],
            "vec_id long, embedding array<float>",
        )
        ipq.build_ivfpq_index(spark, corpus, idx, m=2, k=2, n_buckets=4)
        with pytest.raises(ValueError, match="StorageLevel"):
            ingest.make_embedding_ingest_fn(
                spark, idx, str(tmp_path / "x"), cache_index=True,
                cache_storage_level="MEMORY_AND_SSD",
            )
        ingest.make_embedding_ingest_fn(
            spark, idx, str(tmp_path / "acc_sl"), cos_threshold=0.9,
            nprobe=4, precision="adc", cache_index=True,
            cache_storage_level="DISK_ONLY",
        )
        assert spark.catalog.isCached(f"{idx}_codes")
        assert not spark.catalog.isCached(idx)  # adc: floats unpinned
        assert spark.table(f"{idx}_codes").storageLevel == \
            StorageLevel.DISK_ONLY
    finally:
        try:
            spark.catalog.uncacheTable(f"{idx}_codes")
        except Exception:
            pass
        for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
                  "__tail_codes"):
            spark.sql(f"DROP TABLE IF EXISTS {idx}{t}")


def test_embedding_gate_adc_margin_drift_fails_loudly(spark, tmp_path):
    """The round-9 drift rule end-to-end: accepting an OFF-manifold
    vector widens the stored margin on extend (the batch quantizes at
    residual ~sqrt(2) through a codebook that never saw its direction),
    and the NEXT adc cycle — re-reading the margin — refuses loudly
    instead of silently gating with a bound the corpus no longer
    satisfies."""
    import warnings

    from trignis_spark.operators import ivfpq_index as ipq

    P, Q = [1.0, 1.0, 1.0, 1.0], [1.0, -1.0, -1.0, 1.0]

    def vframe(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    idx = "emb_gate_drift"
    for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
              "__tail_codes"):
        spark.sql(f"DROP TABLE IF EXISTS {idx}{t}")
    try:
        corpus = vframe(
            [(i, [x * (1.0 + 0.01 * i) for x in P]) for i in range(6)]
            + [(100 + i, [x * (1.0 + 0.01 * i) for x in Q])
               for i in range(6)]
        )
        ipq.build_ivfpq_index(spark, corpus, idx, m=2, k=2, n_buckets=4)
        stats: list[ingest.EmbeddingIngestStats] = []
        fn = ingest.make_embedding_ingest_fn(
            spark, idx, str(tmp_path / "acc_drift"),
            cos_threshold=0.9, nprobe=4, stats=stats, precision="adc",
        )
        with warnings.catch_warnings(record=True) as wlog:
            warnings.simplefilter("always")
            fn(vframe([(50, [1.0, 0.0, 0.0, -1.0])]), epoch_id=0)
        assert stats[-1].accepted == 1
        assert any("widened" in str(w.message) for w in wlog
                   if issubclass(w.category, UserWarning))
        assert ipq.stored_adc_margin(spark, idx) > 0.9
        with pytest.raises(ValueError, match="swallows cos_threshold"):
            fn(vframe([(51, [0.0, 1.0, 0.0, -1.0])]), epoch_id=1)
    finally:
        for t in ("", "_ids", "_codes", "_codebook", "_meta", "__tail",
                  "__tail_codes"):
            spark.sql(f"DROP TABLE IF EXISTS {idx}{t}")
