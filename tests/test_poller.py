"""End-to-end poll-cycle semantics: seed/full modes, watermark advance,
per-destination failure independence, DLQ capture, replay routing."""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.sinks.base import ExportContext, RetryPolicy
from trignis_spark.sinks.memory import MemorySink
from trignis_spark.state import PauseStore, StateStore, obj_scope
from trignis_spark.streaming.poller import PollPipeline
from trignis_spark.streaming.replay import DeadLetterReplayer

OUTBOX_SCHEMA = (
    "version long, xact_id long, operation string, user_key long, value double"
)


def make_outbox(spark, rows):
    return spark.createDataFrame(rows, OUTBOX_SCHEMA)


def outbox_rows(n, start=1):
    return [
        (start + i, start + i, "I" if i % 3 == 0 else "U", i % 5, float(i))
        for i in range(n)
    ]


@pytest.fixture
def rig(spark, tmp_path):
    class Rig:
        def __init__(self):
            self.state = StateStore(str(tmp_path / "state"))
            self.dlq = DeadLetterStore(str(tmp_path / "dlq"))
            self.pauses = PauseStore(str(tmp_path / "pauses"))
            self.sink = MemorySink("primary")
            self.rows = outbox_rows(10)
            self.env = EnvironmentConfig(
                name="e1",
                tracking_objects=(
                    TrackingObject(name="obj", table_name="t", initial_sync_mode="Full"),
                ),
            )

        def pipeline(self, sinks=None, env=None, **kw):
            return PollPipeline(
                spark,
                env or self.env,
                source_fn=lambda s, o: make_outbox(s, self.rows),
                sinks=sinks or [self.sink],
                state=self.state,
                dlq=self.dlq,
                pauses=self.pauses,
                retry=RetryPolicy(attempts=2, delay_seconds=0, sleep=lambda _: None),
                **kw,
            )

    return Rig()


def test_full_sync_then_incremental(rig):
    p = rig.pipeline()
    [r1] = p.run_cycle()
    assert r1.mode == "full" and r1.exported_rows == 10
    assert rig.state.get_last_version("e1", "obj") == 10
    payload = json.loads(rig.sink.payloads[0][0])
    assert payload["Metadata"]["Sync"]["Type"] == "Full"
    assert [d["version"] for d in payload["Data"]] == list(range(1, 11))  # ordered

    # no new rows → empty diff, watermark unchanged
    [r2] = p.run_cycle()
    assert r2.mode == "empty" and rig.state.get_last_version("e1", "obj") == 10

    # new rows → incremental diff from the watermark
    rig.rows += outbox_rows(5, start=11)
    [r3] = p.run_cycle()
    assert r3.mode == "sync" and r3.exported_rows == 5
    assert rig.state.get_last_version("e1", "obj") == 15
    diff = json.loads(rig.sink.payloads[1][0])
    assert diff["Metadata"]["Sync"]["Type"] == "Diff"
    assert [d["version"] for d in diff["Data"]] == [11, 12, 13, 14, 15]


def test_seed_mode_discards_rows(rig):
    env = EnvironmentConfig(
        name="e1",
        tracking_objects=(
            TrackingObject(name="obj", table_name="t", initial_sync_mode="Incremental"),
        ),
    )
    p = rig.pipeline(env=env)
    [r] = p.run_cycle()
    assert r.mode == "seed" and r.exported_rows == 0
    assert rig.sink.payloads == []  # nothing exported during seed
    assert rig.state.get_last_version("e1", "obj") == 10  # version stored
    rig.rows += outbox_rows(3, start=11)
    [r2] = p.run_cycle()
    assert r2.mode == "sync" and r2.exported_rows == 3  # history skipped


def test_failed_sink_deadletters_but_watermark_advances(rig):
    bad = MemorySink("bad", always_fail=True)
    p = rig.pipeline(sinks=[rig.sink, bad])
    [r] = p.run_cycle()
    assert [f.sink_name for f in r.failures] == ["bad"]
    assert len(rig.sink.payloads) == 1  # good sink delivered
    assert rig.state.get_last_version("e1", "obj") == 10  # advanced anyway
    rows = rig.dlq.rows()
    assert len(rows) == 1 and rows[0]["source_key"] == "e1/obj/bad"
    # same payload re-failing is deduplicated by (source_key, hash)
    rig.state.reset("e1", "obj")
    p.run_cycle()
    assert len(rig.dlq.rows()) == 1


def test_transient_sink_recovers_via_retry(rig):
    flaky = MemorySink("flaky", fail_times=1)
    p = rig.pipeline(sinks=[flaky])
    [r] = p.run_cycle()
    assert r.failures == [] and len(flaky.payloads) == 1
    assert flaky.attempts == 2


def test_pause_skips_cycle(rig):
    rig.pauses.pause(obj_scope("e1", "obj"))
    p = rig.pipeline()
    [r] = p.run_cycle()
    assert r.mode == "paused" and rig.sink.payloads == []
    assert rig.state.get_last_version("e1", "obj") is None
    rig.pauses.resume(obj_scope("e1", "obj"))
    [r2] = p.run_cycle()
    assert r2.mode == "full"


def test_min_valid_version_forces_resync(rig):
    p = rig.pipeline(min_valid_version_fn=lambda o: 100)
    rig.state.set_last_version("e1", "obj", 50)  # below min valid → aged out
    [r] = p.run_cycle()
    assert r.mode == "full"
    payload = json.loads(rig.sink.payloads[0][0])
    assert payload["Metadata"]["Sync"]["ReasonCode"] == 1


def test_horizon_defers_inflight_rows(rig):
    rig.state.set_last_version("e1", "obj", 0)
    p = rig.pipeline(horizon_fn=lambda s, o: 8)  # xact_id < 8 visible
    [r] = p.run_cycle()
    assert r.exported_rows == 7 and rig.state.get_last_version("e1", "obj") == 7
    # horizon moves on → deferred rows arrive next cycle, in order
    p2 = rig.pipeline(horizon_fn=lambda s, o: 100)
    [r2] = p2.run_cycle()
    assert r2.exported_rows == 3
    assert rig.state.get_last_version("e1", "obj") == 10


def test_replay_delivers_and_deletes(rig):
    bad = MemorySink("bad", fail_times=999)  # fails during capture
    p = rig.pipeline(sinks=[bad])
    p.run_cycle()
    assert len(rig.dlq.rows()) == 1
    bad.fail_times = 0  # endpoint recovered
    replayer = DeadLetterReplayer(
        rig.dlq, {"e1": rig.env}, sinks_for_env=lambda n: [bad],
        pipeline_for_env=lambda n: p,
    )
    outcomes = replayer.sweep()
    assert [o.status for o in outcomes] == ["delivered"]
    assert rig.dlq.rows() == []
    assert len(bad.payloads) == 1


def test_replay_failure_backs_off_then_unroutable_parks(rig):
    bad = MemorySink("bad", always_fail=True)
    p = rig.pipeline(sinks=[bad])
    p.run_cycle()
    replayer = DeadLetterReplayer(
        rig.dlq, {"e1": rig.env}, sinks_for_env=lambda n: [bad],
        pipeline_for_env=lambda n: p,
    )
    [o] = replayer.sweep()
    assert o.status == "failed"
    assert rig.dlq.rows()[0]["attempts"] == 1

    # environment vanished from config → unroutable, parked
    replayer2 = DeadLetterReplayer(rig.dlq, {}, sinks_for_env=lambda n: [],
                                   pipeline_for_env=lambda n: None)
    [o2] = replayer2.sweep(now=rig.dlq.rows()[0]["next_attempt"])
    assert o2.status == "unroutable"
    next_at = rig.dlq.rows()[0]["next_attempt"]
    assert (next_at - rig.dlq.rows()[0]["timestamp"]).days >= 300  # parked ~1y


def test_envelope_masks_survive_roundtrip(rig, spark):
    """I/U/D + $changed fidelity through export: null-with-mask vs
    null-without-mask must be distinguishable in the payload."""
    df = spark.createDataFrame(
        [
            (1, "U", ["value"], None, "kept-null-cleared"),
            (2, "U", ["value"], 5.0, None),
        ],
        "version long, operation string, changed array<string>, value double, props string",
    )
    p = PollPipeline(
        spark,
        rig.env,
        source_fn=lambda s, o: df,
        sinks=[rig.sink],
        state=rig.state,
        dlq=rig.dlq,
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    p.run_cycle()
    data = json.loads(rig.sink.payloads[0][0])["Data"]
    by_v = {d["version"]: d for d in data}
    # row 1: value is None AND 'value' in changed → cleared to NULL
    assert by_v[1]["value"] is None and "value" in by_v[1]["changed"]
    # row 2: props None but NOT in changed → "unchanged" marker preserved
    assert by_v[2]["props"] is None and "props" not in by_v[2]["changed"]


def test_distributed_export_skips_driver_collect(rig, spark, tmp_path):
    """Only DataFrame sinks configured: the batch is written
    executor-parallel with an envelope sidecar; no row ever reaches a
    driver-side payload."""
    import json as _json
    import os

    from trignis_spark.sinks.spark_file import PartitionedFileSink

    dfs = PartitionedFileSink(
        "dist", path_template=str(tmp_path / "out" / "{object}"),
        fmt="parquet", partition_by=("operation",),
    )
    p = PollPipeline(
        spark, rig.env,
        source_fn=lambda s, o: make_outbox(s, rig.rows),
        sinks=[], df_sinks=[dfs],
        state=rig.state, dlq=rig.dlq,
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    [r] = p.run_cycle()
    assert r.mode == "full" and r.exported_rows == 10
    assert rig.state.get_last_version("e1", "obj") == 10
    out_dir = str(tmp_path / "out" / "obj")
    back = spark.read.parquet(out_dir)
    assert back.count() == 10
    assert {d for d in os.listdir(out_dir) if d.startswith("operation=")}
    sidecar = _json.load(open(out_dir + "/_envelope.json"))
    assert sidecar["Metadata"]["Sync"] == {
        "Version": 10, "Type": "Full", "ReasonCode": 0,
    }


def test_distributed_export_failure_deadletters_manifest(rig, spark, tmp_path):
    import json as _json

    from trignis_spark.sinks.spark_file import DataFrameSink

    class Failing(DataFrameSink):
        name = "broken"

        def write_df(self, batch, ctx, metadata):
            raise IOError("object store down")

    p = PollPipeline(
        spark, rig.env,
        source_fn=lambda s, o: make_outbox(s, rig.rows),
        sinks=[], df_sinks=[Failing()],
        state=rig.state, dlq=rig.dlq,
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    [r] = p.run_cycle()
    assert [f.sink_name for f in r.failures] == ["broken"]
    assert rig.state.get_last_version("e1", "obj") == 10  # still advances
    [row] = rig.dlq.rows()
    manifest = _json.loads(row["data"])
    # the DLQ holds a replayable version-range manifest, not the rows
    assert manifest["distributed"] is True
    assert (manifest["from_version"], manifest["to_version"]) == (0, 10)
    assert manifest["rows"] == 10


class FlakyDataFrameSink:
    """A ``DataFrameSink`` that fails while ``down`` and otherwise
    records each batch's versions and envelope metadata."""

    def __init__(self, name):
        self.name, self.down, self.batches = name, True, []

    def write_df(self, batch, ctx, metadata):
        if self.down:
            raise IOError("object store down")
        self.batches.append(
            ([r["version"] for r in batch.select("version").collect()],
             metadata["Sync"])
        )


def test_dead_lettered_manifest_replays_into_its_df_sink_only(rig, spark):
    """A manifest dead letter is replayed by re-scanning its version range
    into the DataFrame sink that failed it — never posted to the envelope
    sinks as if it were a payload — and the replay leaves the watermark
    alone. While it waits, later batches stretch it instead of reaching
    that sink, so the sink takes its ranges in version order."""
    mirror = FlakyDataFrameSink("mirror")
    p = rig.pipeline(df_sinks=[mirror])
    replayer = DeadLetterReplayer(rig.dlq, {"e1": rig.env},
                                  sinks_for_env=lambda _: [rig.sink],
                                  pipeline_for_env=lambda _: p)
    p.run_cycle()  # Full sync: routed to the df sink only, which fails
    rig.rows += outbox_rows(5, start=11)
    mirror.down = False  # back up, but (0, 10] is still outstanding
    [r] = p.run_cycle()  # Diff (10, 15]: the envelope sink takes it
    assert [f.sink_name for f in r.failures] == ["mirror"]
    assert mirror.batches == []
    assert rig.state.get_last_version("e1", "obj") == 15
    [manifest] = [json.loads(r["data"]) for r in rig.dlq.rows()]
    assert (manifest["type"], manifest["from_version"], manifest["to_version"],
            manifest["rows"]) == ("Full", 0, 15, 15)
    sent = list(rig.sink.payloads)

    rig.rows += outbox_rows(2, start=16)  # past the manifest's range
    assert [o.status for o in replayer.sweep()] == ["delivered"]
    assert rig.sink.payloads == sent  # no manifest reached the envelope sink
    assert mirror.batches == [
        (list(range(1, 16)), {"Version": 15, "Type": "Full", "ReasonCode": 0}),
    ]
    assert rig.dlq.rows() == []
    assert rig.state.get_last_version("e1", "obj") == 15
    [r] = p.run_cycle()  # nothing outstanding: the mirror takes (15, 17]
    assert r.failures == []
    assert mirror.batches[-1] == (
        [16, 17], {"Version": 17, "Type": "Diff", "ReasonCode": 0}
    )


def test_stretched_manifest_keeps_a_full_batch_and_adds_no_refetched_rows():
    from trignis_spark.sinks.spark_file import batch_manifest, stretch_manifest

    ctx = ExportContext("e", "db", "o", "e/o")
    diff = batch_manifest(ctx, 10, 15, 5, "Diff", 0)
    grown = json.loads(stretch_manifest(diff, batch_manifest(ctx, 15, 20, 5,
                                                             "Diff", 0)))
    assert (grown["type"], grown["from_version"], grown["to_version"],
            grown["rows"]) == ("Diff", 10, 20, 10)
    # a crash re-fetches a batch the manifest already covers
    assert stretch_manifest(diff, diff) == diff
    # a Full resync (min valid version reset) defines the whole state
    full = json.loads(stretch_manifest(diff, batch_manifest(ctx, 0, 30, 30,
                                                            "Full", 1)))
    assert (full["type"], full["reason_code"], full["to_version"]) \
        == ("Full", 1, 30)


def test_manifest_replay_that_cannot_run_fails_its_row_only(rig, spark):
    """A manifest whose DataFrame sink was renamed away, whose source
    raises, or whose source is staged (it only holds its next diff) is
    not delivered: the row backs off and the rest of the sweep runs."""
    mirror = FlakyDataFrameSink("mirror")
    bad = MemorySink("bad", fail_times=2)  # fails its capture's two tries
    p = rig.pipeline(sinks=[bad], df_sinks=[mirror])
    rig.state.set_last_version("e1", "obj", 0)  # past the initial sync
    p.run_cycle()  # Diff (0, 10]: the mirror's manifest, then bad's envelope
    mirror.down = False
    later = rig.dlq.rows()[0]["timestamp"]

    def sweep(pipeline, days):
        replayer = DeadLetterReplayer(
            rig.dlq, {"e1": rig.env}, sinks_for_env=lambda _: [bad],
            pipeline_for_env=lambda _: pipeline,
        )
        return [o.status for o in replayer.sweep(
            now=later + dt.timedelta(days=days))]

    renamed = FlakyDataFrameSink("mirror2")
    renamed.down = False
    assert sweep(rig.pipeline(sinks=[bad], df_sinks=[renamed]), 1) \
        == ["failed", "delivered"]
    assert len(bad.payloads) == 1 and renamed.batches == []

    def outage(s, o):
        raise IOError("source down")

    raising = PollPipeline(spark, rig.env, outage, [bad], rig.state, rig.dlq,
                           df_sinks=[mirror])
    assert sweep(raising, 2) == ["failed"]

    class Staged:
        calls = 0

        def __call__(self, s, o):
            Staged.calls += 1
            return make_outbox(s, rig.rows)

        def commit(self, obj):
            pass

    staged = PollPipeline(spark, rig.env, Staged(), [bad], rig.state, rig.dlq,
                          df_sinks=[mirror])
    assert sweep(staged, 3) == ["failed"]
    assert Staged.calls == 0  # the staged source was never re-read
    [row] = rig.dlq.rows()
    assert row["attempts"] == 3 and mirror.batches == []
    assert sweep(p, 4) == ["delivered"]
    assert mirror.batches == [(list(range(1, 11)),
                               {"Version": 10, "Type": "Diff", "ReasonCode": 0})]


def test_envelope_path_driver_residency_is_bounded(rig, spark):
    """A batch far larger than max_records_per_batch streams through the
    envelope path in bounded chunks: every payload holds at most
    max_records rows, versions stay globally ordered across chunks, the
    union is complete, and the watermark is the global max."""
    rig.rows = outbox_rows(537)
    env = EnvironmentConfig(
        name="e1",
        max_records_per_batch=100,
        tracking_objects=(
            TrackingObject(name="obj", table_name="t", initial_sync_mode="Full"),
        ),
    )
    p = rig.pipeline(env=env)
    [r] = p.run_cycle()
    assert r.mode == "full" and r.exported_rows == 537
    sizes = [len(json.loads(pl)["Data"]) for pl, _ in rig.sink.payloads]
    assert max(sizes) <= 100 and sizes == [100] * 5 + [37]
    versions = [
        d["version"] for pl, _ in rig.sink.payloads
        for d in json.loads(pl)["Data"]
    ]
    assert versions == list(range(1, 538))  # globally ordered, complete
    # each chunk's envelope version is its own (monotone) max; the stored
    # watermark is the global max
    chunk_wms = [
        json.loads(pl)["Metadata"]["Sync"]["Version"]
        for pl, _ in rig.sink.payloads
    ]
    assert chunk_wms == sorted(chunk_wms) and chunk_wms[-1] == 537
    assert rig.state.get_last_version("e1", "obj") == 537


def test_envelope_chunk_failures_deadletter_per_chunk(rig):
    """A sink that fails only on the second chunk dead-letters just that
    chunk's payload; the watermark still advances to the global max."""
    class FailSecond(MemorySink):
        def __init__(self):
            super().__init__("flaky")

        def write(self, payload, ctx):
            if json.loads(payload)["Data"][0]["version"] == 101:
                raise IOError("chunk 2 down")
            super().write(payload, ctx)

    rig.rows = outbox_rows(250)
    env = EnvironmentConfig(
        name="e1",
        max_records_per_batch=100,
        retry_count=1,
        tracking_objects=(
            TrackingObject(name="obj", table_name="t", initial_sync_mode="Full"),
        ),
    )
    sink = FailSecond()
    p = rig.pipeline(sinks=[sink], env=env)
    [r] = p.run_cycle()
    assert len(r.failures) == 1
    assert rig.state.get_last_version("e1", "obj") == 250
    [row] = rig.dlq.rows()
    lost = json.loads(row["data"])
    assert [d["version"] for d in lost["Data"]] == list(range(101, 201))


def test_full_sync_routes_to_distributed_when_available(rig, spark, tmp_path):
    """Full syncs skip collect-based envelope sinks automatically when a
    distributed sink is configured; incremental diffs still use both."""
    from trignis_spark.sinks.spark_file import PartitionedFileSink

    dfs = PartitionedFileSink(
        "dist", path_template=str(tmp_path / "out" / "{object}"), fmt="parquet",
    )
    p = rig.pipeline(df_sinks=[dfs])
    [r] = p.run_cycle()
    assert r.mode == "full" and r.exported_rows == 10
    assert rig.sink.payloads == []  # envelope sink skipped on Full
    assert spark.read.parquet(str(tmp_path / "out" / "obj")).count() == 10
    # incremental diff goes through both paths
    rig.rows += outbox_rows(4, start=11)
    [r2] = p.run_cycle()
    assert r2.mode == "sync" and r2.exported_rows == 4
    assert len(rig.sink.payloads) == 1
