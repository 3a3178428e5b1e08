"""outage: an open-loop stream of small commits into a parquet outbox,
relayed by ``TrignisSparkService`` (back-to-back poll cycles, replay
sweeper on a short interval) to two envelope sinks — the primary
``FileSink`` and a partner ``MemorySink``.

The partner raises ``TransientSinkError`` for the middle third of the
measured window, so every chunk of that third is dead-lettered while the
sweeper keeps retrying fresh rows. At recovery the harness drains the
dead-letter queue through the manual replay path, so ``drain_s`` times
replay work rather than the 60 s·2ⁿ backoff. The sweeper and the poller
share one dead-letter store; rows lost between them count as failed
changes.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

from common import (
    ChangeGen,
    Delivery,
    Outcome,
    latency_metrics,
    metric,
    peak_rss_mb,
    quantile,
    wait_until,
)
from spans import relay_layers

from trignis_spark.config import (
    DEFAULT_MAX_RECORDS_PER_BATCH,
    EnvironmentConfig,
    TrackingObject,
)
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.service import TrignisSparkService
from trignis_spark.sinks.file import FileSink
from trignis_spark.sinks.memory import MemorySink
from trignis_spark.sources.parquet_outbox import append_outbox_files, read_outbox
from trignis_spark.state import StateStore
from trignis_spark.streaming.poller import PollPipeline

ENV, OBJ = "relay", "events"

#: Offered load: 300 changes/s in commits every 0.25 s. A settled
#: 1 000-row incremental cycle takes 0.5-0.7 s on a 4-core ``local[4]``
#: box, so the relay's capacity is ~1 500 changes/s and this rate keeps
#: it near a fifth of that: unsaturated even at half speed. Envelopes use
#: the deployed cap (``max_records_per_batch`` 1 000), so each cycle
#: ships one envelope of all it found (~200-350 changes, ~60-100 KB); the
#: outage third dead-letters ``rate x window / 3`` changes, one row per
#: cycle. Every commit adds a file that each later cycle scans, so the
#: commit period sets how fast cycle time creeps up over a run.
#: The warm-up lasts at least ``warmup_min_cycles`` cycles and until the
#: median of the last eight cycles is within ``SETTLED`` of the eight
#: before. On that box the 8-cycle median of this traffic falls from
#: ~1.1 s to ~0.9 s by cycle 16 and settles near 0.7-0.9 s between
#: cycles 17 and 32. ``warmup_max_s`` caps it so that a run stays under
#: a minute: the benchmark's 48 runs must fit in 57 minutes.
FULL = {
    "rate_per_s": 300, "commit_period_s": 0.25, "replay_interval_s": 0.5,
    "prehistory_commits": 4, "warmup_min_cycles": 16, "warmup_max_s": 18.0,
    "calibration_pairs": 6,
}
TINY = dict(FULL, warmup_max_s=5.0, calibration_pairs=2)
SETTLED = 0.10
#: after the window, how long the relay may take to catch up and drain
SETTLE_S = 60.0


class OpenLoop(threading.Thread):
    """Commits ``rows`` changes every ``period`` seconds on a fixed
    schedule, whatever the relay does. Each commit keeps the time it was
    due and the time its file landed."""

    def __init__(self, gen: ChangeGen, outbox: str, rows: int, period: float):
        super().__init__(name="load-generator", daemon=True)
        self.gen, self.outbox, self.rows, self.period = gen, outbox, rows, period
        self.commits: list[tuple[float, float, int, int]] = []
        self.committed = gen.last_version
        self.stop_at = float("inf")
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def run(self) -> None:
        t0 = time.time()
        k = 0
        try:
            while not self._halt.is_set():
                due = t0 + k * self.period
                if due >= self.stop_at:
                    return
                lo = self.gen.next_version
                table = self.gen.table(self.rows)
                self._halt.wait(max(0.0, due - time.time()))
                append_outbox_files(table, self.outbox)
                self.commits.append((due, time.time(), lo, self.gen.last_version))
                self.committed = self.gen.last_version
                k += 1
        except BaseException as e:  # noqa: BLE001 — surfaced by the harness
            self.error = e

    def stop(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join(10)


def _env_json(export: str) -> str:
    return json.dumps({
        "name": ENV,
        "tracking_objects": [{"name": OBJ, "table_name": OBJ,
                              "initial_sync_mode": "Incremental"}],
        "destinations": [
            {"name": "primary", "kind": "file",
             "options": {"path_template": export + "/{object}-{guid}.json"}},
            {"name": "partner", "kind": "memory", "options": {}},
        ],
        "retry_count": 1,
        "retry_delay_seconds": 0,
    })


def _calibrate(bench, cfg: dict, commit_rows: int) -> float:
    """trace.overhead: traced ÷ plain wall of alternating incremental
    cycles on a standalone pipeline with the same sinks."""
    rd, tracer = bench.run, bench.tracer
    gen = ChangeGen(bench.seed + 1)
    outbox = rd.sub("cal", "outbox")
    append_outbox_files(gen.table(commit_rows), outbox)
    env = EnvironmentConfig(
        name="cal",
        tracking_objects=(TrackingObject(name=OBJ, table_name=OBJ,
                                         initial_sync_mode="Incremental"),),
        retry_count=1, retry_delay_seconds=0,
    )
    pipe = PollPipeline(
        bench.spark, env, lambda s, _o: read_outbox(s, outbox),
        [FileSink("primary", rd.sub("cal", "export") + "/{object}-{guid}.json"),
         MemorySink("partner")],
        StateStore(rd.sub("cal", "state")), DeadLetterStore(rd.sub("cal", "dlq")),
    )
    pipe.run_cycle()  # seed
    walls: dict[bool, list[float]] = {True: [], False: []}
    for i in range(2 * cfg["calibration_pairs"]):
        append_outbox_files(gen.table(3 * commit_rows), outbox)
        tracer.active = i % 2 == 0
        t = time.perf_counter()
        pipe.run_cycle()
        walls[tracer.active].append(time.perf_counter() - t)
        tracer.active = False
    tracer.reset()
    return statistics.median(walls[True]) / statistics.median(walls[False])


def run(bench) -> Outcome:
    cfg = TINY if bench.tiny else FULL
    spark, rd, tracer = bench.spark, bench.run, bench.tracer
    commit_rows = round(cfg["rate_per_s"] * cfg["commit_period_s"])
    overhead = _calibrate(bench, cfg, commit_rows) if bench.trace else None

    gen = ChangeGen(bench.seed)
    outbox, export = rd.sub("outbox"), rd.sub("export")
    for _ in range(cfg["prehistory_commits"]):
        append_outbox_files(gen.table(commit_rows), outbox)
    seed_version = gen.last_version
    os.makedirs(rd.sub("environments"))
    with open(rd.sub("environments", f"{ENV}.json"), "w") as f:
        f.write(_env_json(export))

    def source_factory(_obj):
        def source_fn(s, _o):
            if tracer.active:
                tracer.count("source.lag_versions",
                             load.committed - (tracer.last_watermark or 0))
                tracer.count("source.files", len(os.listdir(outbox)))
            with tracer.span("source.read"):
                return read_outbox(s, outbox)
        return source_fn

    service = TrignisSparkService(
        spark, rd.sub("environments"), rd.sub("service"), source_factory,
        replay_interval_seconds=cfg["replay_interval_s"],
        poll_interval_override=0.0,
    )
    load = OpenLoop(gen, outbox, commit_rows, cfg["commit_period_s"])
    watermarks: list[int] = []
    torn_reads = [0]

    def retry_torn(fn, *args):
        """The stores rewrite whole parquet files with no lock, so a read
        racing a write can fail; count it and read again."""
        while True:
            try:
                return fn(*args)
            except OSError:
                torn_reads[0] += 1
                time.sleep(0.005)

    def watermark() -> int:
        wm = retry_torn(service.state.get_last_version, ENV, OBJ)
        if wm is not None:
            watermarks.append(wm)
        return wm or 0

    def sample_until(t: float) -> None:
        while time.time() < t:
            watermark()
            time.sleep(min(0.1, max(0.0, t - time.time())))

    def wait_cycle_end() -> None:
        while not (running := [r for r in list(service.probe.rows)
                               if r["ended_at"] is None]):
            time.sleep(0.002)  # between cycles: wait for the next one
        while running[-1]["ended_at"] is None:
            time.sleep(0.002)

    def drain_once() -> int:
        rows = retry_torn(service.dlq.rows)
        for row in rows:
            retry_torn(service.replayer.replay_row, row, True)
        return len(rows)

    problems = service.start()
    try:
        if problems or not wait_until(lambda: watermark() == seed_version, 120):
            raise RuntimeError(f"relay did not seed: {problems}")
        partner = next(s for s in service.replayer.sinks_for_env(ENV)
                       if s.name == "partner")
        load.start()

        # warm-up at the offered rate, partner healthy, until settled
        warm_t0 = time.time()
        while True:
            sample_until(time.time() + 0.5)
            warm_cycles = [
                (r["ended_at"] - r["started_at"]).total_seconds()
                for r in list(service.probe.rows)
                if r["ended_at"] is not None
                and r["started_at"].timestamp() >= warm_t0
            ]
            settled = len(warm_cycles) >= cfg["warmup_min_cycles"] and abs(
                statistics.median(warm_cycles[-8:])
                / statistics.median(warm_cycles[-16:-8]) - 1) <= SETTLED
            if settled or time.time() - warm_t0 >= cfg["warmup_max_s"]:
                break

        # measured window: healthy, partner down, recovered + drain
        t_m0 = time.time()
        setup_s = bench.setup_done()
        window = bench.seconds
        load.stop_at = t_m0 + window
        tracer.active = bench.trace
        cpu0 = time.process_time()
        # the partner fails from the first poll-cycle boundary after a third
        # of the window until a boundary where the poller has exported a
        # third of the window's changes, so the dead-letter volume is fixed
        # by the offered load, not by how many cycles fit in the outage
        sample_until(t_m0 + window / 3)
        wait_cycle_end()
        partner.always_fail = True
        v_recover = watermark() + round(cfg["rate_per_s"] * window / 3)
        while watermark() < v_recover:
            wait_cycle_end()
        partner.always_fail = False
        t_rec = time.time()
        replayed = 0
        while n := drain_once():
            replayed += n
        t_drained = time.time()
        sample_until(t_m0 + window)
        load.join(window + 5)
        if load.error is not None:
            raise load.error
        t_m1 = time.time()
        caught = wait_until(
            lambda: watermark() >= load.committed and drain_once() == 0, SETTLE_S
        )
        cpu_s = time.process_time() - cpu0
        tracer.active = False
    finally:
        load.stop()
        service.stop()
    leftover = drain_once()  # rows a racing sweep wrote back after the drain

    # -- checks and metrics, outside the timed phases ----------------------
    all_versions = range(seed_version + 1, load.committed + 1)
    primary, recorded = Delivery(gen.expected), Delivery(gen.expected)
    primary.add_export_dir(export, "Diff")
    for payload, _ctx in partner.payloads:
        recorded.add(payload, 0.0, "Diff")
    missing_primary = primary.missing(all_versions)
    missing_partner = recorded.missing(all_versions)
    failed = len(missing_primary | missing_partner)

    in_window = [c for c in load.commits if t_m0 <= c[0] < t_m0 + window]
    lat_due, last_delivery = [], t_m0
    for due, _landed, lo, hi in in_window:
        for v in range(lo, hi + 1):
            if v in primary.first:
                lat_due.append((due, primary.first[v] - due))
                last_delivery = max(last_delivery, primary.first[v])
    lat = [v for _due, v in lat_due]
    n_window = sum(hi - lo + 1 for _d, _l, lo, hi in in_window)
    e2e = {
        "setup_s": metric(setup_s, "s", 1),
        "throughput_per_s": metric(n_window / (last_delivery - t_m0), "1/s", n_window),
        "drain_s": metric(t_drained - t_rec, "s", 1),
        "driver_peak_rss_mb": metric(peak_rss_mb(), "MB", 1),
    }
    latency_metrics(lat, e2e)
    lateness = [landed - due for due, landed, _lo, _hi in in_window]
    window_cycles = [
        (r["ended_at"] - r["started_at"]).total_seconds()
        for r in list(service.probe.rows)
        if r["ended_at"] is not None and t_m0 <= r["started_at"].timestamp() < t_m1
    ]
    # latency p50 of each third of the window: healthy, partner down, recovered
    thirds = [[lat_v for due, lat_v in lat_due if int(3 * (due - t_m0) / window) == i]
              for i in range(3)]

    checks = {
        "caught_up_within_settle": caught,
        "envelopes_match_source": not (primary.problems or recorded.problems),
        "watermark_never_regresses": all(
            a <= b for a, b in zip(watermarks, watermarks[1:])),
        "dlq_empty_at_end": retry_torn(service.dlq.rows) == [],
    }
    out = Outcome(
        e2e=e2e, attempted=len(all_versions), failed=failed, checks=checks,
        settings={**cfg, "commit_rows": commit_rows,
                  "max_records_per_batch": DEFAULT_MAX_RECORDS_PER_BATCH,
                  "retry_count": 1, "settled_within": SETTLED,
                  "poll_interval_s": 0, "threads": "generator, poller, sweeper, "
                  "drain (main), config watcher"},
        extra={
            "warmup_cycles": len(warm_cycles),
            "warmup_settled": settled,
            "warmup_s": t_m0 - warm_t0,
            "window_cycle_p50_s": statistics.median(window_cycles),
            "window_cycles": len(window_cycles),
            "latency_p50_s_by_third": [quantile(t, 0.5) if t else None
                                       for t in thirds],
            "warmup_cycle_s": warm_cycles,
            "generator.late_s": quantile(lateness, 0.95) if lateness else 0.0,
            "missing_primary": len(missing_primary),
            "missing_partner": len(missing_partner),
            "duplicates_primary": primary.duplicates,
            "duplicates_partner": recorded.duplicates,
            "drain_replayed": replayed,
            "dlq_leftover_after_stop": leftover,
            "harness_torn_reads": torn_reads[0],
            "window_s": [t_m0, t_m1],
            "problems": (primary.problems + recorded.problems)[:5],
        },
    )
    if bench.trace:
        files = [os.path.join(d, f) for d, _, fs in os.walk(export) for f in fs]
        files = [p for p in files if t_m0 <= os.stat(p).st_mtime <= t_m1]
        tops = tracer.tops("poller.cycle")
        out.layers = relay_layers(
            tracer, tops, cpu_s=cpu_s, rows=n_window,
            file_files=len(files),
            file_bytes=sum(os.path.getsize(p) for p in files),
            lost=len(missing_partner - missing_primary), overhead=overhead,
        )
        saves = [s for s in tracer.spans if s.name == "deadletter.save"]
        save_s = [s.duration for s in saves]
        sweeps = [s.duration for s in tracer.tops("replay.sweep")]
        # is it the dead-letter saves that make the slowest cycles slow?
        slowest = sorted(tops, key=lambda t: t.duration)[int(0.95 * len(tops)):]
        slow_ids = {t.id for t in slowest}
        out.layers.update({
            "deadletter.save_p50_s": quantile(save_s, 0.5) if saves else 0.0,
            "deadletter.save_p95_s": quantile(save_s, 0.95) if saves else 0.0,
            "poller.cycle_p95_s": quantile([t.duration for t in tops], 0.95),
            "deadletter.save_share_of_slowest_cycles": sum(
                s.duration for s in saves if s.trace_id in slow_ids
            ) / max(sum(t.duration for t in slowest), 1e-9),
            "replay.sweep_s": statistics.mean(sweeps) if sweeps else 0.0,
            "generator.late_s": out.extra["generator.late_s"],
        })
        out.cycle_tops = tops
    return out
