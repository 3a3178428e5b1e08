"""Health / state surface: monitor aggregations, alerting, probes.

Mirrors the reference's health stack (SURVEY §2.4 A4–A7, §2.8 T14/T15):
- ``DeadLetterMonitor``: one-pass windowed stats + top-k failing objects
  + most-common error (``DeadLetterMonitor.cs:101-209``), threshold
  alerting with a 1 h cooldown and a 75 % pre-warning
  (``DeadLetterMonitor.cs:120-149``).
- ``ConnectionHealth``: consecutive-failure tracking with recovery
  detection (``ConnectionHealthCheckService.cs:43-161``).
- ``HealthService``: cached JSON-able snapshot over the state + DLQ
  tables (``HealthCheckService.cs:41-91``, cache TTL 120 s).

All computations run driver-side over the metadata stores; the same
aggregations exist as oracle-verified Spark queries
(`a4_deadletter_windows`, `a5_top_failing_objects`,
`a6_most_common_error`) for the data-plane path.
"""

from __future__ import annotations

import datetime as dt
import time
from collections import Counter
from dataclasses import dataclass, field

from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.state import PauseStore, StateStore

DEFAULT_THRESHOLD = 100
ALERT_COOLDOWN_S = 3600
PREWARN_RATIO = 0.75


def _utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


@dataclass
class DeadLetterMonitor:
    dlq: DeadLetterStore
    threshold: int = DEFAULT_THRESHOLD
    _last_alert: dt.datetime | None = field(default=None, init=False)

    def stats(self, now: dt.datetime | None = None) -> dict:
        """A4–A6 in one pass over the store."""
        now = now or _utcnow()
        rows = self.dlq.rows()
        windows = {
            "last_hour": now - dt.timedelta(hours=1),
            "last_day": now - dt.timedelta(days=1),
            "last_week": now - dt.timedelta(days=7),
        }
        day_cut = windows["last_day"]
        by_object = Counter(
            r["tracking_object_name"] for r in rows if r["timestamp"] >= day_cut
        )
        errors = Counter(r["error_message"] for r in rows)
        return {
            "total": len(rows),
            **{
                k: sum(1 for r in rows if r["timestamp"] >= cut)
                for k, cut in windows.items()
            },
            "top_failing_objects": [
                {"object": o, "count": c}
                for o, c in sorted(by_object.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
            ],
            "most_common_error": min(
                errors.items(), key=lambda kv: (-kv[1], kv[0])
            )[0]
            if errors
            else None,
        }

    def check_threshold(self, now: dt.datetime | None = None) -> str | None:
        """A7: returns "alert" / "pre-warning" / None; alerts rate-limited
        by a 1 h cooldown."""
        now = now or _utcnow()
        total = len(self.dlq.rows())
        if total >= self.threshold:
            if (
                self._last_alert is None
                or (now - self._last_alert).total_seconds() >= ALERT_COOLDOWN_S
            ):
                self._last_alert = now
                return "alert"
            return None
        if total >= self.threshold * PREWARN_RATIO:
            return "pre-warning"
        return None


@dataclass
class ConnectionHealth:
    """T14: per-endpoint probe bookkeeping."""

    _consecutive_failures: dict[str, int] = field(default_factory=dict)
    _recovered: list[str] = field(default_factory=list)

    def record_probe(self, endpoint: str, ok: bool) -> None:
        prev = self._consecutive_failures.get(endpoint, 0)
        if ok:
            if prev > 0:
                self._recovered.append(endpoint)
            self._consecutive_failures[endpoint] = 0
        else:
            self._consecutive_failures[endpoint] = prev + 1

    def failures(self, endpoint: str) -> int:
        return self._consecutive_failures.get(endpoint, 0)

    def endpoints(self) -> list[str]:
        return sorted(self._consecutive_failures)

    def unhealthy(self, after: int = 3) -> list[str]:
        return sorted(
            e for e, n in self._consecutive_failures.items() if n >= after
        )

    def drain_recoveries(self) -> list[str]:
        out, self._recovered = self._recovered, []
        return out


class HealthService:
    """T15: cached health snapshot (the /health surface)."""

    def __init__(
        self,
        state: StateStore,
        dlq: DeadLetterStore,
        pauses: PauseStore,
        monitor: DeadLetterMonitor | None = None,
        cache_ttl_seconds: float = 120.0,
        clock=time.monotonic,
    ):
        self.state = state
        self.dlq = dlq
        self.pauses = pauses
        self.monitor = monitor or DeadLetterMonitor(dlq)
        self.cache_ttl = cache_ttl_seconds
        self.clock = clock
        self._cached: dict | None = None
        self._cached_at: float | None = None

    def snapshot(self, force: bool = False) -> dict:
        now = self.clock()
        if (
            not force
            and self._cached is not None
            and now - self._cached_at < self.cache_ttl
        ):
            return self._cached
        dlq_stats = self.monitor.stats()
        versions = self.state.rows()
        self._cached = {
            "status": "degraded" if dlq_stats["total"] > 0 else "healthy",
            "state": [
                {
                    "environment": r["environment_name"],
                    "object": r["object_name"],
                    "last_version": r["last_version"],
                }
                for r in versions
            ],
            "deadletters": dlq_stats,
            "paused_scopes": sorted(self.pauses.paused_scopes()),
        }
        self._cached_at = now
        return self._cached
