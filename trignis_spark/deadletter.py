"""Dead-letter store: hash-deduped failed payloads with exponential
backoff replay scheduling and retention purge.

Mirrors the reference's ``sinkhole.db`` (SURVEY §2.8 T9/T10, FIXTURES
F5): ``DeadLetters(id, source_key, tracking_object_name,
environment_name, database_name, data_hash, data, error_message,
timestamp, attempts, next_attempt)`` with UNIQUE(source_key, data_hash)
(``DeadLetterService.cs:36-72,90-144``). Replay policy:
oldest-first batches of 25, max 5 attempts, backoff 60s·2^attempts
capped at 6h (``DeadLetterReplayService.cs:20-23,137-141``); unroutable
rows parked ~1 year (``:109-115``); manual replay resets the attempt
counter (``Program.cs:458-462``).

Same storage as ``trignis_spark.state``: one SQLite file
(``sinkhole.db``) behind ``SqliteDb``. The UNIQUE constraint does the
dedup, AUTOINCREMENT ids are never reused (a sweep still holding a
deleted row's id cannot delete a newer payload), and each mutation is one
statement. ``as_dataframe`` exposes the DLQ to Spark for the monitor
aggregations (A4–A6) and scale-out replay scans.
"""

from __future__ import annotations

import datetime as dt
import hashlib

from pyspark.sql import DataFrame, SparkSession

from trignis_spark.state import SqliteDb, _utcnow

#: Replay policy defaults (reference values).
REPLAY_BATCH_SIZE = 25
MAX_ATTEMPTS = 5
BACKOFF_BASE_SECONDS = 60
BACKOFF_CAP_SECONDS = 6 * 3600
UNROUTABLE_PARK_DAYS = 365
RETENTION_DAYS = 60

_DDL = """
CREATE TABLE IF NOT EXISTS dead_letters (
    id INTEGER PRIMARY KEY AUTOINCREMENT,
    source_key TEXT NOT NULL,
    tracking_object_name TEXT,
    environment_name TEXT,
    database_name TEXT,
    data_hash TEXT NOT NULL,
    data TEXT NOT NULL,
    error_message TEXT,
    timestamp INTEGER NOT NULL,
    attempts INTEGER NOT NULL,
    next_attempt INTEGER NOT NULL,
    UNIQUE (source_key, data_hash)
);
"""


def backoff_seconds(attempts: int, base: int = BACKOFF_BASE_SECONDS,
                    cap: int = BACKOFF_CAP_SECONDS) -> int:
    """Pure backoff function: base·2^attempts, capped (unit-testable like
    the reference's ``DeadLetterReplayService.Backoff``)."""
    return min(base * (2 ** attempts), cap)


def payload_hash(data: str) -> str:
    return hashlib.sha256(data.encode("utf-8")).hexdigest()


class DeadLetterStore:
    def __init__(self, root: str):
        self._db = SqliteDb(root, "sinkhole.db", _DDL, ("timestamp", "next_attempt"))
        self._db.function("backoff_seconds", 1, backoff_seconds)
        self._db.function("dlq_matches", 5, self._matches)

    # -- capture ----------------------------------------------------------

    def save(
        self,
        source_key: str,
        tracking_object_name: str,
        environment_name: str,
        database_name: str,
        data: str,
        error_message: str,
        now: dt.datetime | None = None,
    ) -> bool:
        """Insert if no row with the same (source_key, data_hash) exists.

        Returns True when stored, False when deduplicated (the UNIQUE
        constraint semantics, ``DeadLetterService.cs:106-136``).
        """
        now = now or _utcnow()
        return self._db.execute(
            "INSERT INTO dead_letters (source_key, tracking_object_name,"
            " environment_name, database_name, data_hash, data, error_message,"
            " timestamp, attempts, next_attempt)"
            " VALUES (?, ?, ?, ?, ?, ?, ?, ?, 0, ?) ON CONFLICT DO NOTHING",
            (source_key, tracking_object_name, environment_name, database_name,
             payload_hash(data), data, error_message, now, now),
        ) > 0

    # -- replay scheduling -------------------------------------------------

    def due_for_replay(
        self,
        now: dt.datetime | None = None,
        max_attempts: int = MAX_ATTEMPTS,
        limit: int = REPLAY_BATCH_SIZE,
    ) -> list[dict]:
        """Oldest-first batch of rows whose backoff has elapsed
        (``DeadLetterService.cs:202-227``: attempts < max, next_attempt
        due, environment routable)."""
        return self._db.query(
            "SELECT * FROM dead_letters WHERE attempts < ? AND next_attempt <= ?"
            " AND environment_name IS NOT NULL ORDER BY timestamp, id LIMIT ?",
            (max_attempts, now or _utcnow(), limit),
        )

    def record_failure(self, dlq_id: int, now: dt.datetime | None = None) -> None:
        """attempts += 1; next_attempt = now + backoff(attempts)."""
        self._db.execute(
            "UPDATE dead_letters SET attempts = attempts + 1,"
            " next_attempt = add_seconds(?, backoff_seconds(attempts + 1))"
            " WHERE id = ?",
            (now or _utcnow(), dlq_id),
        )

    def park_unroutable(self, dlq_id: int, now: dt.datetime | None = None) -> None:
        """No current environment/object route: park ~1 year."""
        now = now or _utcnow()
        self._db.execute(
            "UPDATE dead_letters SET attempts = attempts + 1, next_attempt = ?"
            " WHERE id = ?",
            (now + dt.timedelta(days=UNROUTABLE_PARK_DAYS), dlq_id),
        )

    def reset_attempts(self, dlq_id: int, now: dt.datetime | None = None) -> None:
        """Manual replay rejoin: failed manual replays reset the counter."""
        self._db.execute(
            "UPDATE dead_letters SET attempts = 0, next_attempt = ? WHERE id = ?",
            (now or _utcnow(), dlq_id),
        )

    def delete(self, dlq_id: int) -> bool:
        return self._db.execute(
            "DELETE FROM dead_letters WHERE id = ?", (dlq_id,)
        ) > 0

    def purge_older_than(
        self, retention_days: int = RETENTION_DAYS, now: dt.datetime | None = None
    ) -> int:
        """T10 retention purge; returns number of rows removed."""
        now = now or _utcnow()
        return self._db.execute(
            "DELETE FROM dead_letters WHERE timestamp < ?",
            (now - dt.timedelta(days=retention_days),),
        )

    # -- introspection -----------------------------------------------------

    def rows(self) -> list[dict]:
        return self._db.query("SELECT * FROM dead_letters ORDER BY id")

    def get(self, dlq_id: int) -> dict | None:
        rows = self._db.query("SELECT * FROM dead_letters WHERE id = ?", (dlq_id,))
        return rows[0] if rows else None

    @staticmethod
    def _matches(tracking_object_name: str | None, error_message: str | None,
                 database_name: str | None, search: str | None,
                 object_filter: str | None) -> bool:
        """The dead-letter UI filter (``Program.cs:694-699``): search is a
        substring over object/error/database; object_filter is exact. It
        runs in Python (as the SQL function ``dlq_matches``) because
        SQLite's ``lower()`` and ``LIKE`` fold ASCII only."""
        if object_filter and tracking_object_name != object_filter:
            return False
        if search:
            s = search.lower()
            return any(
                s in (f or "").lower()
                for f in (tracking_object_name, error_message, database_name)
            )
        return True

    _MATCHING = (
        " WHERE dlq_matches(tracking_object_name, error_message,"
        " database_name, ?, ?)"
    )

    def page(
        self,
        page: int = 1,
        page_size: int = 50,
        search: str | None = None,
        object_filter: str | None = None,
    ) -> tuple[int, list[dict]]:
        """Paginated newest-first listing (W3: ``ORDER BY Timestamp DESC
        LIMIT @pageSize OFFSET @offset``, ``Program.cs:708-717``).
        Returns (total matching, this page's rows)."""
        matching = self._db.query(
            "SELECT * FROM dead_letters" + self._MATCHING
            + " ORDER BY timestamp DESC, id DESC",
            (search, object_filter),
        )
        off = (max(page, 1) - 1) * page_size
        return len(matching), matching[off : off + page_size]

    def purge_matching(
        self, search: str | None = None, object_filter: str | None = None
    ) -> int:
        """Purge exactly what the filter selects, so the UI cannot delete
        more than it shows (``Program.cs:489-498``)."""
        return self._db.execute(
            "DELETE FROM dead_letters" + self._MATCHING, (search, object_filter)
        )

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [tuple(r.values()) for r in self.rows()],
            "id long, source_key string, tracking_object_name string,"
            " environment_name string, database_name string, data_hash string,"
            " data string, error_message string, timestamp timestamp_ntz,"
            " attempts int, next_attempt timestamp_ntz",
        )
