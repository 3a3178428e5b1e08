"""Sustained service-loop soak: an advancing change feed polled for many
cycles through the full composition (orchestrator + config watcher + DLQ
replay loop), with transient sink failures, a hard outage window, and a
config-reload storm injected mid-run.

The delivery invariants the reference's stress suite guards
(``Tests/Stress/DuplicatePollerStressTests.cs``,
``LifecycleStressTests.cs``), asserted end-to-end on the envelope
stream itself:

* **zero lost versions** — every version the source ever committed is
  delivered exactly once across direct exports and DLQ replays;
* **zero duplicate deliveries** — no version appears in two envelopes;
* **never two pollers** — the probe log shows no overlapping cycles for
  an environment, across every hot reload;
* sustained throughput is printed (recorded in BASELINE.md);
* **index maintenance under load** (VERDICT r4 #8) — the persistent
  near-dup index is extended with a fresh document slice every cycle
  step while traffic flows, then compacted: the file count must drop
  and probe results must be byte-identical across the swap.
"""

import json
import time
import warnings

from pyspark.sql import functions as F

from trignis_spark.operators import changefeed as cf
from trignis_spark.service import TrignisSparkService
from trignis_spark.sinks.base import RetryPolicy
from trignis_spark.sinks.memory import MemorySink
from trignis_spark.tables import load

SF = "/root/testdata/sf0.001"
N_VERSIONS = 1000  # event_id 0..999 at sf0.001
STEP = 100


def _env_json(retry_delay: float = 0.0) -> str:
    return json.dumps(
        {
            "name": "alpha",
            "max_records_per_batch": 120,
            "retry_count": 2,
            "retry_delay_seconds": retry_delay,
            "tracking_objects": [
                {"name": "events", "table_name": "events",
                 "initial_sync_mode": "Incremental"}
            ],
            "destinations": [
                {"name": "mem", "kind": "memory", "options": {}}
            ],
        }
    )


def test_soak_advancing_feed_failures_and_reloads(spark, tmp_path, monkeypatch):
    cfg = tmp_path / "environments"
    cfg.mkdir()
    (cfg / "alpha.json").write_text(_env_json())

    # capture EVERY MemorySink the service ever builds (reloads rebuild
    # pipelines, each with a fresh sink instance)
    all_sinks: list[MemorySink] = []
    import trignis_spark.service as svc_mod

    real_build = svc_mod.build_sink

    def tracking_build(kind, name, options, env=None):
        sink = real_build(kind, name, options, env=env)
        if isinstance(sink, MemorySink):
            all_sinks.append(sink)
        return sink

    monkeypatch.setattr(svc_mod, "build_sink", tracking_build)

    # the advancing feed: only versions <= limit are "committed" yet
    limit = {"v": 0}
    base = cf.events_as_outbox(load(spark, SF, "events")).localCheckpoint(
        eager=True
    )

    def source_factory(obj):
        return lambda s, o: base.filter(F.col(cf.VERSION) <= limit["v"])

    service = TrignisSparkService(
        spark,
        str(cfg),
        str(tmp_path / "work"),
        source_factory,
        replay_interval_seconds=0.2,
        poll_interval_override=0.1,
        retry=RetryPolicy(attempts=2, delay_seconds=0, sleep=lambda _: None),
    )
    # persistent near-dup index, extended every cycle step under load
    from trignis_spark.operators import dedup_index as di

    docs = load(spark, SF, "documents").localCheckpoint(eager=True)
    n_docs = docs.count()
    idx = "soak_dedup_idx"
    for t in di._tables(idx):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    di.build_prefix_index(spark, docs.filter("doc_id % 10 = 0"), idx,
                          threshold=0.4)
    # persistent ANN (IVF-PQ) index, extended under the same load
    # (VERDICT r5 #6): the codebook trains once on the seed slice and
    # stays frozen through every extend
    from trignis_spark.operators import ivfpq_index as ipq

    emb = load(spark, SF, "embeddings").localCheckpoint(eager=True)
    n_vecs = emb.count()
    aidx = "soak_ivfpq_idx"
    for t in ipq._all_tables(aidx):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    ipq.build_ivfpq_index(
        spark, emb.filter("vec_id % 10 = 0"), aidx, m=2, k=4, n_buckets=16
    )
    margin_at_build = ipq.stored_adc_margin(spark, aidx)
    drift_msgs: list[str] = []  # adc-margin drift warnings, asserted below

    assert service.start() == []
    t_start = time.time()
    try:
        deadline = time.time() + 240

        def wm():
            return service.state.get_last_version("alpha", "events")

        # wait for the seed handshake (watermark 0, nothing exported)
        while wm() is None and time.time() < deadline:
            time.sleep(0.03)
        assert wm() == 0

        reloads_done = 0
        for step in range(N_VERSIONS // STEP):
            limit["v"] = min(N_VERSIONS - 1, limit["v"] + STEP)
            if step % 3 == 1 and all_sinks:
                all_sinks[-1].fail_times = 1  # transient: retry absorbs it
            if step == 4 and all_sinks:
                all_sinks[-1].always_fail = True  # hard outage window
            if step == 6:
                for s in all_sinks:
                    s.always_fail = False
                    s.fail_times = 0
            if step in (3, 7):  # config-reload storm mid-traffic
                reloads_done += 1
                (cfg / "alpha.json").write_text(
                    _env_json(retry_delay=0.001 * reloads_done)
                )
            # per-cycle corpus ingest: extend the index with this step's
            # document slice while the poller is mid-traffic
            di.extend(
                spark, docs.filter(f"doc_id % 10 = {step % 10}"), idx
            )
            # the margin was certified on the seed slice; later slices
            # quantize worse, so extends legitimately WIDEN the stored
            # bound — capture those warnings and assert them (VERDICT
            # r8 #6: 16 UserWarnings sprayed per soak run) instead of
            # letting them spray past a silenced-warning regression
            with warnings.catch_warnings(record=True) as wlog:
                warnings.simplefilter("always")
                ipq.extend_ivfpq_index(
                    spark, emb.filter(f"vec_id % 10 = {step % 10}"), aidx
                )
            # "always" also surfaces py4j socket ResourceWarnings —
            # only UserWarnings are ours to police
            drift_msgs.extend(
                str(w.message) for w in wlog
                if issubclass(w.category, UserWarning)
            )
            target = limit["v"]
            while wm() != target and time.time() < deadline:
                time.sleep(0.05)
            assert wm() == target, f"stalled at {wm()} before {target}"

        # heal everything and drain the DLQ (reset backoff so swept rows
        # rejoin the rotation inside the test window)
        for s in all_sinks:
            s.always_fail = False
            s.fail_times = 0
        while service.dlq.rows() and time.time() < deadline:
            for r in service.dlq.rows():
                if r["attempts"] > 0:
                    service.dlq.reset_attempts(r["id"])
            time.sleep(0.05)
        assert service.dlq.rows() == [], "DLQ did not drain after healing"
    finally:
        service.stop()
    elapsed = time.time() - t_start

    # --- invariants over the full delivery stream -------------------------
    delivered: list[int] = []
    for sink in all_sinks:
        for payload, _ctx in sink.payloads:
            env = json.loads(payload)
            delivered.extend(r["version"] for r in env["Data"])
    want = set(range(1, N_VERSIONS))  # version 0 was consumed by the seed
    assert len(delivered) == len(set(delivered)), "duplicate delivery"
    assert set(delivered) == want, (
        f"lost versions: {sorted(want - set(delivered))[:10]}..."
    )

    # never-two-pollers held through the reload storm
    assert service.probe.overlaps() == []
    assert service.orchestrator.running() == set()
    assert len(all_sinks) >= 3, "reload storm never rebuilt the pipeline"

    # --- index maintenance: compact after the extend churn ----------------
    from trignis_spark.maintenance import table_data_files

    # every document slice was folded in; replays added nothing
    assert di.members(spark, idx).count() == n_docs
    assert di.extend(spark, docs, idx) == 0
    probe_batch = docs.filter("doc_id % 7 = 3")
    before = {
        (r["batch_doc"], r["corpus_doc"], r["jaccard"])
        for r in di.probe(spark, idx, probe_batch, 0.4).collect()
    }
    files_before = sum(
        len(table_data_files(spark, t))
        for t in (idx, idx + "_full", idx + "_docs", idx + "_delta")
    )
    files_after = di.compact_prefix_index(spark, idx)
    assert files_after < files_before, (
        f"compaction did not shrink the file count "
        f"({files_before} -> {files_after})"
    )
    after = {
        (r["batch_doc"], r["corpus_doc"], r["jaccard"])
        for r in di.probe(spark, idx, probe_batch, 0.4).collect()
    }
    assert after == before and before, "probe results changed across compaction"
    print(
        f"index maintenance: {files_before} -> {files_after} files, "
        f"{len(before)} probe pairs stable"
    )

    # --- ANN index maintenance: same contract for the IVF-PQ tables -------
    assert spark.table(ipq._ids_table(aidx)).count() == n_vecs
    assert ipq.extend_ivfpq_index(spark, emb, aidx) == 0
    ann_queries = emb.filter("vec_id % 100 = 0")
    ann_before = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ipq.ivfpq_probe(spark, aidx, ann_queries, k=10).collect()
    }
    ann_files_before = sum(
        len(table_data_files(spark, t))
        for t in (aidx, ipq._codes_table(aidx), ipq._ids_table(aidx))
    )
    ann_files_after = ipq.compact_ivfpq_index(spark, aidx)
    assert ann_files_after < ann_files_before, (
        f"ANN compaction did not shrink the file count "
        f"({ann_files_before} -> {ann_files_after})"
    )
    ann_after = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ipq.ivfpq_probe(spark, aidx, ann_queries, k=10).collect()
    }
    assert ann_after == ann_before and ann_before, (
        "ANN probe results changed across extend/compact churn"
    )
    print(
        f"ANN index maintenance: {ann_files_before} -> {ann_files_after} "
        f"files, {len(ann_before)} probe rows stable"
    )

    # --- adc-margin drift under extend churn (VERDICT r8 #6) --------------
    # every warning the extends emitted must be the drift-widening one
    # (nothing else may warn — the run is otherwise warning-clean), the
    # drift must actually have fired on this seed-slice margin, and the
    # stored bound must have widened to keep adc-gated callers sound
    assert drift_msgs, "no adc-margin drift fired — fixture lost its drift"
    assert all("adc_margin" in m and "widened" in m for m in drift_msgs), (
        f"unexpected warning among extends: {drift_msgs}"
    )
    margin_after = ipq.stored_adc_margin(spark, aidx)
    assert margin_after >= margin_at_build, (
        f"stored margin narrowed under drift: "
        f"{margin_at_build} -> {margin_after}"
    )

    print(
        f"\nsoak: {len(delivered)} rows in {elapsed:.1f}s "
        f"({len(delivered) / elapsed:.0f} rows/s sustained), "
        f"{len(all_sinks)} sink generations, DLQ drained"
    )
