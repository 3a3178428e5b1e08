"""Control-plane store contract under concurrency and crashes.

The watermark, pause and dead-letter stores are shared by every
environment runner, the replay sweeper and the API, so they must keep
every row under concurrent writers, never reuse a dead-letter id, refuse
a store root of the earlier parquet layout, and keep the at-least-once
contract when the process dies at any side-effect boundary of a poll
cycle or a replay.
"""

import datetime as dt
import json
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.sinks.base import RetryPolicy
from trignis_spark.sinks.memory import MemorySink
from trignis_spark.sinks.spark_file import DataFrameSink
from trignis_spark.state import PauseStore, StateStore
from trignis_spark.streaming import ingest
from trignis_spark.streaming.poller import PollPipeline
from trignis_spark.streaming.replay import DeadLetterReplayer


def _save(dlq, key, data):
    return dlq.save(source_key=key, tracking_object_name="o",
                    environment_name="e", database_name="db", data=data,
                    error_message="down")


def test_concurrent_saves_sweeps_and_watermarks_lose_nothing(tmp_path):
    dlq = DeadLetterStore(str(tmp_path / "dlq"))
    state = StateStore(str(tmp_path / "state"))
    errors: list[BaseException] = []
    deleted = [0]
    savers_done = threading.Event()

    def guarded(fn):
        def run():
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 — collected, asserted empty
                errors.append(e)
        return run

    def saver(t):
        for i in range(100):
            assert _save(dlq, f"e/o/s{t}", f'{{"t":{t},"i":{i}}}')

    def sweeper():
        # the replay thread: fail one due row, deliver (delete) the next
        while not savers_done.is_set():
            for n, row in enumerate(dlq.due_for_replay(limit=4)):
                if n % 2:
                    dlq.record_failure(row["id"])
                elif dlq.delete(row["id"]):
                    deleted[0] += 1

    def watermarks(t):
        for v in range(1, 51):
            state.set_last_version("e", f"obj{t}", v)

    savers = [threading.Thread(target=guarded(lambda t=t: saver(t)))
              for t in range(4)]
    others = [threading.Thread(target=guarded(sweeper))] + [
        threading.Thread(target=guarded(lambda t=t: watermarks(t)))
        for t in range(4)
    ]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads as finely as possible
    try:
        for th in savers + others:
            th.start()
        for th in savers:
            th.join(timeout=120)
        savers_done.set()
        for th in others:
            th.join(timeout=120)
    finally:
        savers_done.set()
        sys.setswitchinterval(switch)

    assert not any(th.is_alive() for th in savers + others)
    assert errors == []
    assert deleted[0] > 0
    assert len(dlq.rows()) == 400 - deleted[0]
    assert [(r["object_name"], r["last_version"]) for r in state.rows()] == [
        (f"obj{t}", 50) for t in range(4)
    ]


def test_deleted_dead_letter_id_is_never_reused(tmp_path):
    dlq = DeadLetterStore(str(tmp_path))
    for i in range(3):
        _save(dlq, "e/o/s", f'{{"i":{i}}}')
    old_id = max(r["id"] for r in dlq.rows())
    assert dlq.delete(old_id)
    _save(dlq, "e/o/s", '{"i":3}')
    new = dlq.rows()[-1]
    assert new["id"] == 4 and new["data"] == '{"i":3}'
    # a sweep still holding the old id cannot delete the new payload
    assert dlq.delete(old_id) is False
    assert dlq.get(4) == new


def test_dead_letter_filter_folds_non_ascii_case(tmp_path):
    # SQLite's lower() and LIKE fold ASCII only; the UI filter must not
    dlq = DeadLetterStore(str(tmp_path))
    dlq.save(source_key="e/Überweisung/s", tracking_object_name="Überweisung",
             environment_name="e", database_name="db", data="{}",
             error_message="down")
    _save(dlq, "e/o/s", "{}")
    assert dlq.page(search="überw")[0] == 1
    assert dlq.purge_matching(search="ÜBERW") == 1
    assert [r["tracking_object_name"] for r in dlq.rows()] == ["o"]


@pytest.mark.parametrize("legacy, open_store", [
    ("last_versions.parquet", StateStore),
    ("pauses.parquet", PauseStore),
    ("dead_letters.parquet", DeadLetterStore),
    ("ingest_health.parquet", ingest.load_ingest_health),
])
def test_store_root_of_the_parquet_layout_is_refused(tmp_path, legacy, open_store):
    (tmp_path / legacy).write_bytes(b"PAR1")
    with pytest.raises(RuntimeError, match=legacy):
        open_store(str(tmp_path))


def test_dead_letter_manifest_without_sync_type_is_refused(tmp_path):
    """A batch manifest of the layout before it carried its sync type
    cannot be replayed as the right kind of batch: the store refuses it
    and names the dead letter."""
    dlq = DeadLetterStore(str(tmp_path))
    _save(dlq, "e/o/s", '{"i":1}')
    _save(dlq, "e/o/mirror", '{"environment":"e","object":"o","from_version":0,'
          '"to_version":10,"rows":10,"distributed":true}')
    with pytest.raises(RuntimeError, match=r"dead letters \[2\]"):
        DeadLetterStore(str(tmp_path))


class Crash(BaseException):
    """A process crash: no ``except Exception`` handler catches it."""


class Boundaries:
    """Counts side effects; raises ``Crash`` before the ``crash_at``-th."""

    def __init__(self, crash_at=None):
        self.crash_at = crash_at
        self.events: list[str] = []
        self.watermarks: dict[str, list[int]] = {}

    def wrap(self, obj, method, name):
        fn = getattr(obj, method)

        def wrapped(*args, **kwargs):
            if len(self.events) == self.crash_at:
                raise Crash(name)
            self.events.append(name)
            if method == "set_last_version":
                self.watermarks.setdefault(args[0], []).append(args[2])
            return fn(*args, **kwargs)

        setattr(obj, method, wrapped)


ENV = EnvironmentConfig(
    name="e", max_records_per_batch=2,
    tracking_objects=(TrackingObject(name="o", table_name="t",
                                     initial_sync_mode="Full"),),
)
#: a second environment whose only destination is a DataFrame sink, so
#: its dead letter is a version-range manifest, replayed by re-scanning;
#: its first cycle sees the first two versions, its second cycle the rest
MIRROR_ENV = EnvironmentConfig(name="m", tracking_objects=ENV.tracking_objects)
VERSIONS = [1, 2, 3, 4]


class MirrorSink(DataFrameSink):
    """A DataFrame sink that fails while ``always_fail``, else keeps the
    versions it was given."""

    def __init__(self):
        self.name, self.always_fail, self.versions = "mirror", True, set()

    def write_df(self, batch, ctx, metadata):
        if self.always_fail:
            raise IOError("mirror down")
        self.versions |= {r["version"] for r in batch.select("version").collect()}


def _relay(spark, root, sinks, mirror, mirror_rows, bounds):
    """Two pipelines (envelope sinks; one DataFrame sink that sees the
    first ``mirror_rows[0]`` versions) and a replayer over the stores
    under ``root``, with every side effect counted by ``bounds``."""
    state = StateStore(str(root / "state"))
    dlq = DeadLetterStore(str(root / "dlq"))
    bounds.wrap(state, "set_last_version", "state.set_last_version")
    for method in ("save", "replace_data", "delete", "record_failure"):
        bounds.wrap(dlq, method, f"dlq.{method}")
    rows = [(v, v, "U", v) for v in VERSIONS]

    def source(visible):
        return lambda s, o: s.createDataFrame(
            rows[:visible()],
            "version long, xact_id long, operation string, user_key long",
        ).coalesce(1)

    pipes = {
        env.name: PollPipeline(
            spark, env, source(visible), env_sinks, state, dlq,
            df_sinks=df_sinks,
            retry=RetryPolicy(attempts=1, delay_seconds=0, sleep=lambda _: None),
        )
        for env, env_sinks, df_sinks, visible in (
            (ENV, sinks, [], lambda: len(rows)),
            (MIRROR_ENV, [], [mirror], lambda: mirror_rows[0]),
        )
    }
    replayer = DeadLetterReplayer(
        dlq, {"e": ENV, "m": MIRROR_ENV}, lambda n: pipes[n].sinks,
        pipes.get, retry=pipes["e"].retry,
    )
    return pipes, replayer, state, dlq


def _crash_run(spark, root, crash_at):
    """Partner and mirror sinks down: the poll cycles dead-letter the
    partner's chunks and the mirror's manifest, a second mirror cycle
    stretches that manifest over its later versions, a sweep fails them
    again, the sinks return and a sweep delivers. The process dies before the
    ``crash_at``-th side effect; a fresh relay over the same stores then
    runs the cycles and sweeps until nothing is due, with healthy sinks.
    It is quiet then: the watermarks are at the source's last version
    and the dead-letter store is empty."""
    primary, partner = MemorySink("primary"), MemorySink("partner",
                                                         always_fail=True)
    mirror = MirrorSink()
    bounds = Boundaries(crash_at)
    for sink in (primary, partner):
        bounds.wrap(sink, "write", f"{sink.name}.write")
    bounds.wrap(mirror, "write_df", "mirror.write_df")
    mirror_rows = [2]
    pipes, replayer, _, _ = _relay(spark, root, [primary, partner], mirror,
                                   mirror_rows, bounds)
    later = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    try:
        for pipe in pipes.values():
            pipe.run_cycle()
        mirror_rows[0] = len(VERSIONS)
        pipes["m"].run_cycle()
        replayer.sweep(now=later + dt.timedelta(hours=1))
        partner.always_fail = mirror.always_fail = False
        replayer.sweep(now=later + dt.timedelta(days=1))
        crashed = None
    except Crash as e:
        crashed = str(e)
    outage_events = list(bounds.events)

    bounds.crash_at = None
    partner.always_fail = mirror.always_fail = False
    pipes, replayer, state, dlq = _relay(spark, root, [primary, partner],
                                         mirror, [len(VERSIONS)], bounds)
    for pipe in pipes.values():
        pipe.run_cycle()
    for _ in range(3):
        if not replayer.sweep(now=later + dt.timedelta(days=30)):
            break

    where = f"crash before {crashed or 'nothing'} (event {crash_at})"
    for sink in (primary, partner):
        got = {d["version"] for payload, _ in sink.payloads
               for d in json.loads(payload)["Data"]}
        assert got == set(VERSIONS), f"{where}: {sink.name} got {sorted(got)}"
    assert mirror.versions == set(VERSIONS), where
    for watermarks in bounds.watermarks.values():
        assert watermarks == sorted(watermarks), where
    assert state.get_last_version("e", "o") == VERSIONS[-1], where
    assert state.get_last_version("m", "o") == VERSIONS[-1], where
    assert dlq.rows() == [], where
    return outage_events, crashed


def test_crash_at_every_side_effect_boundary_loses_no_payload(spark, tmp_path):
    events, crashed = _crash_run(spark, tmp_path / "clean", None)
    assert crashed is None
    # two chunks, each a primary write, a failed partner write and a dead
    # letter, then the watermark; then the mirror's failed write, its
    # manifest dead letter and its watermark, and the mirror's second
    # cycle: the manifest stretched over it and the watermark. Each dead
    # letter is then replayed twice: the writes and a recorded failure,
    # then the writes and a delete (the manifest's write is a re-scan
    # into the mirror)
    chunk = ["primary.write", "partner.write"]
    assert events == (
        (chunk + ["dlq.save"]) * 2 + ["state.set_last_version"]
        + ["mirror.write_df", "dlq.save", "state.set_last_version"]
        + ["dlq.replace_data", "state.set_last_version"]
        + (chunk + ["dlq.record_failure"]) * 2
        + ["mirror.write_df", "dlq.record_failure"]
        + (chunk + ["dlq.delete"]) * 2 + ["mirror.write_df", "dlq.delete"]
    )
    # the scenarios share nothing but the Spark session; run them side by
    # side, since each one's wall is mostly Spark job scheduling
    with ThreadPoolExecutor(4) as pool:
        crashed = pool.map(
            lambda i: _crash_run(spark, tmp_path / f"crash{i}", i)[1],
            range(len(events)),
        )
        assert list(crashed) == events
