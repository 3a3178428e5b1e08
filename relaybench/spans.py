"""Span tracing for the traced benchmark run, recorded from outside the
program: the public functions of each layer are wrapped in place for the
length of the run, and nothing inside ``trignis_spark`` is edited.

A span is ``(id, name, start, end, parent, trace_id)``; the trace id is
the top-level span's id (one poll cycle, replay sweep or manual replay).
Spans stay in memory until the run ends. Every top-level span runs
under ``sc.setJobGroup("span-<id>")`` so the Spark event log attributes
jobs, tasks and bytes to it.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: int

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.active = False
        self.spans: list[Span] = []
        self.counts: collections.Counter = collections.Counter()
        self.peaks: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self.last_watermark = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        trace_id = parent[1] if parent else sid
        if parent is None and self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name)
        stack.append((sid, trace_id))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(
                Span(sid, name, start, end, parent[0] if parent else None, trace_id)
            )
            if parent is None and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()
        self.peaks.clear()

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            self.counts[name] += n

    def peak(self, name: str, value: float) -> None:
        if self.active:
            self.peaks[name] = max(self.peaks.get(name, 0), value)

    # -- wrapping ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``after(result,
        args, kwargs)`` runs outside the span; an exception is counted
        as ``<name>.errors`` and re-raised."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            self.count(name + ".calls")
            try:
                with self.span(name):
                    result = orig(*args, **kwargs)
            except Exception:
                self.count(name + ".errors")
                raise
            if after is not None and self.active:
                after(result, args, kwargs)
            return result

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def wrap_generator(self, owner, attr: str, name: str) -> None:
        """Span each ``next()`` of a generator function separately."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            it = orig(*args, **kwargs)
            while True:
                with self.span(name):
                    try:
                        item = next(it)
                    except StopIteration:
                        return
                yield item

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- analysis ----------------------------------------------------------

    def tops(self, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.parent is None and (name is None or s.name == name)
        ]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = collections.defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            end = s.start
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s.id] = s.duration - covered
        return out

    def coverage_error(self) -> float:
        """Largest gap, over top-level spans, between the span's wall
        time and the summed self times of its trace (0 when the spans
        nest properly and cover it)."""
        selfs = self.self_times()
        by_trace: dict[int, float] = collections.defaultdict(float)
        for s in self.spans:
            by_trace[s.trace_id] += selfs[s.id]
        return max(
            (abs(by_trace[t.id] - t.duration) for t in self.tops()), default=0.0
        )

    def per_trace(self, tops: list[Span]) -> dict[str, float]:
        """Per top-level span means of each span name's summed duration
        (``<name>_s``) and self time (``<name>.self_s``)."""
        ids = {t.id for t in tops}
        selfs = self.self_times()
        total: dict[str, float] = collections.defaultdict(float)
        own: dict[str, float] = collections.defaultdict(float)
        for s in self.spans:
            if s.trace_id in ids:
                total[s.name] += s.duration
                own[s.name] += selfs[s.id]
        n = max(len(ids), 1)
        out = {f"{k}_s": v / n for k, v in total.items()}
        out.update({f"{k}.self_s": v / n for k, v in own.items()})
        return out


def spark_by_group(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Jobs, tasks, input/shuffle bytes, task run and GC seconds per
    Spark job group, read from the run's event log after ``stop()``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = collections.defaultdict(
        lambda: collections.defaultdict(float)
    )
    for fn in os.listdir(eventlog_dir):
        with open(os.path.join(eventlog_dir, fn), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    g["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return out


def instrument_relay(tracer: Tracer, dlq_file: str) -> None:
    """Wrap the relay's layer boundaries: poller, sinks, dead-letter
    store, replayer and state store. ``dlq_file`` is the dead-letter
    parquet file whose row count and size are sampled after each save."""
    import pyarrow.parquet as pq

    from trignis_spark.deadletter import DeadLetterStore
    from trignis_spark.sinks.file import FileSink
    from trignis_spark.sinks.memory import MemorySink
    from trignis_spark.state import StateStore
    from trignis_spark.streaming import poller, replay

    def envelope_bytes(result, _a, _k):
        tracer.count("poller.envelope_bytes", len(result))

    def saved(result, _a, _k):
        if result:
            tracer.count("deadletter.saves")
        try:  # the file is rewritten with no lock; skip a torn sample
            rows = pq.read_metadata(dlq_file).num_rows
            size = os.path.getsize(dlq_file)
        except OSError:
            return
        tracer.peak("deadletter.rows_peak", rows)
        tracer.peak("deadletter.file_bytes_peak", size)

    def swept(result, _a, _k):
        tracer.count("replay.sweeps")
        tracer.count("replay.attempted", len(result))
        tracer.count("replay.delivered", sum(o.status == "delivered" for o in result))

    def got_watermark(result, _a, _k):
        tracer.last_watermark = result

    tracer.wrap(poller.PollPipeline, "poll_object", "poller.cycle")
    tracer.wrap_generator(poller, "iter_envelope_chunks", "poller.chunk_fetch")
    tracer.wrap(poller, "envelope_json", "poller.envelope_json", envelope_bytes)
    tracer.wrap(poller, "export_fanout", "poller.fanout")
    tracer.wrap(replay, "export_fanout", "poller.fanout")
    tracer.wrap(FileSink, "write", "sinks.file.write")
    tracer.wrap(MemorySink, "write", "sinks.partner.write")
    tracer.wrap(DeadLetterStore, "save", "deadletter.save", saved)
    tracer.wrap(DeadLetterStore, "due_for_replay", "deadletter.due")
    tracer.wrap(DeadLetterStore, "delete", "deadletter.delete")
    tracer.wrap(DeadLetterStore, "record_failure", "deadletter.record_failure")
    tracer.wrap(DeadLetterStore, "reset_attempts", "deadletter.reset_attempts")
    tracer.wrap(replay.DeadLetterReplayer, "sweep", "replay.sweep", swept)
    tracer.wrap(replay.DeadLetterReplayer, "replay_row", "replay.row")
    tracer.wrap(StateStore, "get_last_version", "state.get", got_watermark)
    tracer.wrap(StateStore, "set_last_version", "state.set")


def relay_layers(tracer: Tracer, tops: list[Span], *, cpu_s: float, rows: int,
                 file_files: int, file_bytes: int, lost: int,
                 overhead: float) -> dict[str, float]:
    """The relay's per-layer figures over the measured poll cycles
    ``tops``: span times are means per cycle, counts are totals over the
    measured phase. The harness supplies what it measured itself."""
    n = max(len(tops), 1)
    c = tracer.counts
    layers = tracer.per_trace(tops)
    layers.update({
        "poller.cycle_self_s": layers.get("poller.cycle.self_s", 0.0),
        "poller.envelope_bytes": c["poller.envelope_bytes"] / n,
        "sinks.file.files": file_files,
        "sinks.file.bytes": file_bytes,
        "sinks.partner.attempts": c["sinks.partner.write.calls"],
        "sinks.partner.failed": c["sinks.partner.write.errors"],
        "deadletter.saves": c["deadletter.saves"],
        "deadletter.rows_peak": tracer.peaks.get("deadletter.rows_peak", 0),
        "deadletter.file_bytes_peak": tracer.peaks.get(
            "deadletter.file_bytes_peak", 0),
        "deadletter.lost": lost,
        "replay.sweeps": c["replay.sweeps"],
        "replay.attempted": c["replay.attempted"],
        "replay.delivered": c["replay.delivered"],
        "source.lag_versions": c["source.lag_versions"] / n,
        "source.files": c["source.files"] / n,
        "driver.cpu_s": cpu_s,
        "driver.cpu_us_per_row": cpu_s / max(rows, 1) * 1e6,
        "trace.overhead": overhead,
    })
    totals: dict[str, float] = collections.defaultdict(float)
    for s in tracer.spans:
        totals[s.name] += s.duration
    layers["span_totals_s"] = dict(totals)
    return layers
