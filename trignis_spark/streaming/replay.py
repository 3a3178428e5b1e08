"""Dead-letter replay: automatic sweep + manual replay (SURVEY §3.3).

Every ``DeadLetterReplayIntervalSeconds`` (60s) the sweeper takes the
oldest ≤25 due rows, routes each to the *current* environment/object by
name (case-insensitive; miss → parked unroutable ~1 year), re-runs the
same export fan-out, deletes the row only when **every** destination
succeeded, else increments attempts with exponential backoff
(``DeadLetterReplayService.cs:42-141``, ``DeadLetterReplayer.cs:49-72``).
A dead-lettered distributed-batch manifest is not an envelope: it goes
to the owning pipeline's ``replay_manifest``, which re-scans its version
range into the one ``DataFrameSink`` that failed it, never to the
envelope sinks.
Manual replay resets the attempt counter on failure so the row rejoins
the automatic rotation (``Program.cs:458-462``).
"""

from __future__ import annotations

import datetime as dt
import logging
from dataclasses import dataclass

from trignis_spark.config import EnvironmentConfig
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.sinks.base import ExportContext, RetryPolicy, Sink
from trignis_spark.sinks.spark_file import read_manifest
from trignis_spark.streaming.poller import export_fanout

log = logging.getLogger("trignis_spark.replay")


@dataclass
class ReplayOutcome:
    dlq_id: int
    status: str  # "delivered" | "failed" | "unroutable"


class DeadLetterReplayer:
    def __init__(
        self,
        dlq: DeadLetterStore,
        environments,  # dict[str, EnvironmentConfig] | () -> dict (live lookup)
        sinks_for_env,  # (env_name) -> list[Sink]
        pipeline_for_env,  # (env_name) -> PollPipeline | None
        retry: RetryPolicy | None = None,
    ):
        self.dlq = dlq
        self._environments = environments
        self.sinks_for_env = sinks_for_env
        self.retry = retry or RetryPolicy(attempts=1, delay_seconds=0)
        self.pipeline_for_env = pipeline_for_env

    @property
    def environments(self) -> dict[str, EnvironmentConfig]:
        return self._environments() if callable(self._environments) else self._environments

    def _route(self, row: dict) -> tuple[EnvironmentConfig, str] | None:
        """Case-insensitive (environment, object) routing against the
        *current* config (DeadLetterReplayer.cs:49-62)."""
        env = next(
            (
                e
                for name, e in self.environments.items()
                if name.lower() == (row["environment_name"] or "").lower()
            ),
            None,
        )
        if env is None:
            return None
        obj = next(
            (
                o.name
                for o in env.tracking_objects
                if o.name.lower() == (row["tracking_object_name"] or "").lower()
            ),
            None,
        )
        if obj is None:
            return None
        return env, obj

    def _deliver(self, row: dict, env: EnvironmentConfig, obj_name: str) -> bool:
        """True when every destination of the row took it; the row is
        then deleted."""
        if read_manifest(row["data"]) is not None:
            # a distributed batch: the owning pipeline re-runs its scan
            # into the one DataFrame sink named in the source key, and
            # deletes the row under the sink's hold
            pipeline = self.pipeline_for_env(env.name)
            if pipeline is None:
                return False
            try:
                return pipeline.replay_manifest(obj_name, row)
            except Exception:  # noqa: BLE001 — a source outage fails the row only
                log.exception("manifest replay of dead letter %s failed", row["id"])
                return False
        sinks: list[Sink] = self.sinks_for_env(env.name)
        if not sinks:
            # no destinations right now (mid-reload or stripped config):
            # NOT a delivery — back off and retry when config returns
            return False
        ctx = ExportContext(
            environment=env.name,
            database=row["database_name"] or "",
            object_name=obj_name,
            key=row["source_key"],
        )
        if export_fanout(row["data"], sinks, ctx, self.retry):
            return False
        self.dlq.delete(row["id"])
        return True

    def replay_row(self, row: dict, manual: bool = False,
                   now: dt.datetime | None = None) -> ReplayOutcome:
        route = self._route(row)
        if route is None:
            self.dlq.park_unroutable(row["id"], now)
            return ReplayOutcome(row["id"], "unroutable")
        if self._deliver(row, *route):
            return ReplayOutcome(row["id"], "delivered")
        if manual:
            # failed manual replay rejoins the automatic rotation
            self.dlq.reset_attempts(row["id"], now)
        else:
            self.dlq.record_failure(row["id"], now)
        return ReplayOutcome(row["id"], "failed")

    def sweep(self, now: dt.datetime | None = None,
              limit: int | None = None) -> list[ReplayOutcome]:
        """One automatic replay pass over the due batch."""
        kwargs = {} if limit is None else {"limit": limit}
        due = self.dlq.due_for_replay(now, **kwargs)
        return [self.replay_row(row, manual=False, now=now) for row in due]
