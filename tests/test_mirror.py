"""Mirror-table sink: within-batch compaction semantics, null-vs-mask
merge through generations, atomic pointer swap, replay idempotence —
the consumer-side MERGE a reference downstream system performs with the
exported batches."""

import pytest

from trignis_spark.sinks.base import ExportContext
from trignis_spark.sinks.mirror import MirrorTableSink, compact_changes

CH_SCHEMA = (
    "version long, operation string, changed array<string>, "
    "id long, a string, b string"
)
KEYS = ("id",)
TRACKED = ("a", "b")
CTX = ExportContext("e", "db", "obj", "e/obj")


def _changes(spark, rows):
    return spark.createDataFrame(rows, CH_SCHEMA)


def _net(spark, rows):
    out = compact_changes(_changes(spark, rows), KEYS, TRACKED)
    return {r["id"]: r.asDict() for r in out.collect()}


def test_compact_insert_then_update_nets_to_insert(spark):
    net = _net(spark, [
        (1, "I", None, 7, "a0", "b0"),
        (2, "U", ["a"], 7, "a1", None),
    ])
    r = net[7]
    assert r["operation"] == "I" and r["version"] == 2
    assert (r["a"], r["b"]) == ("a1", "b0")  # latest definer per column


def test_compact_update_masks_union(spark):
    net = _net(spark, [
        (1, "U", ["a"], 7, "a1", None),
        (2, "U", ["b"], 7, None, "b2"),
    ])
    r = net[7]
    assert r["operation"] == "U"
    assert sorted(r["changed"]) == ["a", "b"]  # union of masks
    assert (r["a"], r["b"]) == ("a1", "b2")


def test_compact_update_then_delete_nets_to_delete(spark):
    net = _net(spark, [
        (1, "U", ["a"], 7, "a1", None),
        (2, "D", None, 7, None, None),
    ])
    assert net[7]["operation"] == "D" and net[7]["version"] == 2


def test_compact_delete_then_insert_nets_to_insert(spark):
    net = _net(spark, [
        (1, "D", None, 7, None, None),
        (2, "I", None, 7, "new", "row"),
        (3, "U", ["b"], 7, None, "b3"),
    ])
    r = net[7]
    assert r["operation"] == "I"
    assert (r["a"], r["b"]) == ("new", "b3")


def test_compact_masked_null_clear_survives(spark):
    # U with a IN mask and NULL payload = clear to NULL — must not be
    # confused with "untouched"
    net = _net(spark, [
        (1, "U", ["a"], 7, None, None),
    ])
    r = net[7]
    assert r["operation"] == "U" and r["changed"] == ["a"]
    assert r["a"] is None


@pytest.fixture
def sink(tmp_path):
    return MirrorTableSink(
        "mirror", str(tmp_path / "mirror"), KEYS, TRACKED, keep_generations=2
    )


def _full(spark, rows):
    return _changes(spark, [(v, "I", None, *r) for v, r in rows])


def _state(spark, sink):
    df = sink.read_current(spark, CTX)
    return {
        r["id"]: (r["a"], r["b"])
        for r in df.select("id", "a", "b").collect()
    }


def test_mirror_full_then_incremental_generations(spark, sink):
    meta_full = {"Sync": {"Version": 3, "Type": "Full", "ReasonCode": 0}}
    sink.write_df(
        _full(spark, [(1, (1, "x", "p")), (2, (2, "y", "q")), (3, (3, "z", "r"))]),
        CTX, meta_full,
    )
    assert _state(spark, sink) == {1: ("x", "p"), 2: ("y", "q"), 3: ("z", "r")}

    batch = _changes(spark, [
        (4, "U", ["a"], 1, "x2", None),      # masked update, b untouched
        (5, "D", None, 2, None, None),       # delete
        (6, "I", None, 9, "new", "n"),       # insert
        (7, "U", ["b"], 9, None, "n2"),      # update the fresh insert
    ])
    sink.write_df(batch, CTX, {"Sync": {"Version": 7, "Type": "Diff",
                                        "ReasonCode": 0}})
    assert _state(spark, sink) == {
        1: ("x2", "p"),   # a updated, b kept (mask semantics)
        3: ("z", "r"),    # untouched
        9: ("new", "n2"), # net insert with later update folded in
    }
    assert sink.current_generation(CTX).endswith("gen-7")


def test_mirror_replay_is_idempotent(spark, sink):
    sink.write_df(_full(spark, [(1, (1, "x", "p"))]), CTX,
                  {"Sync": {"Version": 1, "Type": "Full", "ReasonCode": 0}})
    batch = _changes(spark, [(2, "U", ["a"], 1, "x2", None)])
    meta = {"Sync": {"Version": 2, "Type": "Diff", "ReasonCode": 0}}
    sink.write_df(batch, CTX, meta)
    before = _state(spark, sink)
    sink.write_df(batch, CTX, meta)  # at-least-once replay of same batch
    assert _state(spark, sink) == before == {1: ("x2", "p")}


def test_mirror_prunes_old_generations_keeps_current(spark, sink, tmp_path):
    import os

    sink.write_df(_full(spark, [(1, (1, "x", "p"))]), CTX,
                  {"Sync": {"Version": 1, "Type": "Full", "ReasonCode": 0}})
    for v in (2, 3, 4):
        sink.write_df(
            _changes(spark, [(v, "U", ["a"], 1, f"x{v}", None)]),
            CTX, {"Sync": {"Version": v, "Type": "Diff", "ReasonCode": 0}},
        )
    root = str(tmp_path / "mirror" / "obj")
    gens = sorted(d for d in os.listdir(root) if d.startswith("gen-"))
    assert gens == ["gen-3", "gen-4"]  # keep_generations=2
    assert _state(spark, sink) == {1: ("x4", "p")}


def test_mirror_as_poll_df_sink(spark, sink, tmp_path):
    """Wired as a PollPipeline df_sink: full sync then a diff cycle keep
    the mirror in lockstep with the source."""
    from trignis_spark.config import EnvironmentConfig, TrackingObject
    from trignis_spark.deadletter import DeadLetterStore
    from trignis_spark.sinks.base import RetryPolicy
    from trignis_spark.state import StateStore
    from trignis_spark.streaming.poller import PollPipeline

    rows = [
        (1, 1, "I", 1, "x", "p"),
        (2, 2, "I", 2, "y", "q"),
    ]
    schema = (
        "version long, xact_id long, operation string, "
        "id long, a string, b string"
    )
    env = EnvironmentConfig(
        name="e",
        tracking_objects=(
            TrackingObject(name="obj", table_name="t", initial_sync_mode="Full"),
        ),
    )
    p = PollPipeline(
        spark, env,
        source_fn=lambda s, o: s.createDataFrame(rows, schema),
        sinks=[], df_sinks=[sink],
        state=StateStore(str(tmp_path / "state")),
        dlq=DeadLetterStore(str(tmp_path / "dlq")),
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    [r1] = p.run_cycle()
    assert r1.mode == "full"
    # the poller's full_snapshot batch materializes the mirror...
    assert _state(spark, sink) == {1: ("x", "p"), 2: ("y", "q")}
    # ...and the next incremental diff updates it
    rows.append((3, 3, "U", 1, "x2", None))
    [r2] = p.run_cycle()
    assert r2.mode == "sync"
    cur = _state(spark, sink)
    assert cur[1][0] == "x2" and cur[2] == ("y", "q")


class _FlakyMirror(MirrorTableSink):
    down = False

    def write_df(self, batch, ctx, metadata):
        if self.down:
            raise IOError("mirror down")
        super().write_df(batch, ctx, metadata)


def test_mirror_that_recovers_before_the_sweep_keeps_every_change(spark, tmp_path):
    """The mirror is down for one cycle and back by the next, long before
    the replay sweep runs. The next cycle must not apply its range over
    the stale generation: it stretches the dead-lettered manifest, and
    one replay applies the whole outstanding range in order."""
    from trignis_spark.config import EnvironmentConfig, TrackingObject
    from trignis_spark.deadletter import DeadLetterStore
    from trignis_spark.sinks.base import RetryPolicy
    from trignis_spark.state import StateStore
    from trignis_spark.streaming.poller import PollPipeline
    from trignis_spark.streaming.replay import DeadLetterReplayer

    rows = [(1, 1, "I", 1, "x", "p"), (2, 2, "I", 2, "y", "q")]
    schema = (
        "version long, xact_id long, operation string, "
        "id long, a string, b string"
    )
    env = EnvironmentConfig(
        name="e",
        tracking_objects=(
            TrackingObject(name="obj", table_name="t", initial_sync_mode="Full"),
        ),
    )
    mirror = _FlakyMirror("mirror", str(tmp_path / "mirror"), KEYS, TRACKED)
    dlq = DeadLetterStore(str(tmp_path / "dlq"))
    p = PollPipeline(
        spark, env,
        source_fn=lambda s, o: s.createDataFrame(rows, schema),
        sinks=[], df_sinks=[mirror],
        state=StateStore(str(tmp_path / "state")), dlq=dlq,
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    replayer = DeadLetterReplayer(dlq, {"e": env}, sinks_for_env=lambda _: [],
                                  pipeline_for_env=lambda _: p)
    p.run_cycle()  # Full
    rows += [(3, 3, "U", 1, "x3", "p3"), (4, 4, "I", 3, "z", "r")]
    mirror.down = True
    p.run_cycle()  # Diff (2, 4] fails: its manifest is dead-lettered
    mirror.down = False
    rows += [(5, 5, "U", 1, "x5", "p5"), (6, 6, "D", 2, None, None)]
    [r] = p.run_cycle()  # Diff (4, 6] waits behind (2, 4]
    assert [f.sink_name for f in r.failures] == ["mirror"]
    assert _state(spark, mirror) == {1: ("x", "p"), 2: ("y", "q")}

    assert [o.status for o in replayer.sweep()] == ["delivered"]
    assert _state(spark, mirror) == {1: ("x5", "p5"), 3: ("z", "r")}
    assert mirror.current_generation(CTX).endswith("gen-6")
    assert dlq.rows() == []

    rows.append((7, 7, "U", 3, "z7", "r7"))
    [r] = p.run_cycle()
    assert r.failures == []
    assert _state(spark, mirror) == {1: ("x5", "p5"), 3: ("z7", "r7")}


def test_mirror_folds_a_diff_cycle_of_insert_insert_update(spark, tmp_path):
    """PollPipeline → df_sink → mirror: one Diff cycle whose batch holds
    I, I, U maintains a queryable table, the U folded onto its I."""
    import datetime as dt

    from trignis_spark.config import EnvironmentConfig, TrackingObject
    from trignis_spark.deadletter import DeadLetterStore
    from trignis_spark.sinks.base import RetryPolicy
    from trignis_spark.sources.parquet_outbox import outbox_schema
    from trignis_spark.state import StateStore
    from trignis_spark.streaming.poller import PollPipeline

    env = EnvironmentConfig(
        name="mv",
        tracking_objects=(TrackingObject(name="obj", table_name="t"),),
    )
    mirror = MirrorTableSink(
        "mirror", str(tmp_path / "mirror"),
        ("user_key",), ("value", "props"),
    )
    rows = [
        (1, 1, "I", 1, None, dt.datetime(2024, 1, 1), 10.0, "{}"),
        (2, 2, "I", 2, None, dt.datetime(2024, 1, 1), 20.0, "{}"),
        (3, 3, "U", 1, ["value"], dt.datetime(2024, 1, 1), 11.0, "{}"),
    ]
    state = StateStore(str(tmp_path / "state"))
    state.set_last_version("mv", "obj", 0)  # past the initial sync
    p = PollPipeline(
        spark, env,
        source_fn=lambda s, o: s.createDataFrame(rows, outbox_schema()),
        sinks=[], df_sinks=[mirror], state=state,
        dlq=DeadLetterStore(str(tmp_path / "dlq")),
        retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
    )
    [r] = p.run_cycle()
    assert (r.mode, r.exported_rows, r.new_watermark, r.failures) \
        == ("sync", 3, 3, [])
    ctx2 = ExportContext("mv", "", "obj", "mv/obj")
    current = {
        r["user_key"]: r["value"]
        for r in mirror.read_current(spark, ctx2).collect()
    }
    assert current == {1: 11.0, 2: 20.0}  # U folded onto the I within the batch
