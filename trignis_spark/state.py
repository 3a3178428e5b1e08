"""Watermark + pause state in SQLite, with upsert semantics.

Mirrors the reference's SQLite ``state.db`` tables (SURVEY §1.1, FIXTURES
F5): ``LastVersions(environment_name, object_name, last_version,
last_updated)`` unique per (env, object)
(``ChangeTrackingBackgroundService.cs:159-173,608-642``) and
``Pauses(scope, reason, paused_by, paused_at)``
(``PauseService.cs:28-48``).

Every control-plane store (these two, the dead-letter store and the
persisted ingest health) is one stdlib SQLite file behind ``SqliteDb``,
the only code that knows the storage format. One service shares each
store between its environment runners, the replay sweeper and the API,
so every mutation is one SQL statement: an upsert, a conditional
``UPDATE`` or a ``DELETE``. State is tiny (one row per tracked object);
``as_dataframe`` hands it to Spark for data-plane joins, and "delete the
row to reset" keeps the reference's operational semantics
(``Program.cs:401-432``).
"""

from __future__ import annotations

import datetime as dt
import os
import sqlite3
import threading

from pyspark.sql import DataFrame, SparkSession

#: store files of the earlier whole-file parquet layout; a root that still
#: holds one is refused, because starting empty beside it would silently
#: drop its watermarks or dead letters (its rows are not imported)
_LEGACY_FILES = (
    "last_versions.parquet",
    "pauses.parquet",
    "dead_letters.parquet",
    "ingest_health.parquet",
)

_EPOCH = dt.datetime(1970, 1, 1)
_MICROSECOND = dt.timedelta(microseconds=1)


def _utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _sql_value(v):
    """Naive-UTC datetimes are stored as integer microseconds."""
    return (v - _EPOCH) // _MICROSECOND if isinstance(v, dt.datetime) else v


class SqliteDb:
    """One SQLite file with one connection, serialized by a lock.

    WAL keeps readers off half-written pages, and ``synchronous=FULL``
    syncs every commit: the dead-letter store and the watermark live in
    different files, so "dead letter durable before the watermark
    advances" needs each commit on disk before the call returns.
    Datetime parameters are stored as integer microseconds, the columns
    named in ``timestamps`` come back as naive-UTC datetimes, and SQL
    adds seconds to a stored time with ``add_seconds(time, seconds)``.
    """

    def __init__(self, root: str, file: str, ddl: str,
                 timestamps: tuple[str, ...] = ()):
        for name in _LEGACY_FILES:
            legacy = os.path.join(root, name)
            if os.path.exists(legacy):
                raise RuntimeError(
                    f"{legacy}: store file of the earlier parquet layout; "
                    "its rows are not imported — move it out of the store "
                    "root to start empty"
                )
        os.makedirs(root, exist_ok=True)
        self._timestamps = frozenset(timestamps)
        self._lock = threading.Lock()
        self._conn = sqlite3.connect(
            os.path.join(root, file), isolation_level=None,
            check_same_thread=False,
        )
        self._conn.execute("PRAGMA journal_mode=WAL")
        self._conn.execute("PRAGMA synchronous=FULL")
        self._conn.executescript(ddl)
        self.function("add_seconds", 2,
                      lambda t, seconds: t + seconds * 1_000_000)

    def close(self) -> None:
        with self._lock:
            self._conn.close()

    def function(self, name: str, n_args: int, fn) -> None:
        """Make a pure Python function callable from this store's SQL."""
        self._conn.create_function(name, n_args, fn, deterministic=True)

    def execute(self, sql: str, params: tuple = ()) -> int:
        """Run one statement in its own transaction; returns its rowcount."""
        with self._lock:
            return self._conn.execute(sql, tuple(map(_sql_value, params))).rowcount

    def query(self, sql: str, params: tuple = ()) -> list[dict]:
        with self._lock:
            cur = self._conn.execute(sql, tuple(map(_sql_value, params)))
            names = [c[0] for c in cur.description]
            rows = cur.fetchall()
        return [
            {
                n: _EPOCH + v * _MICROSECOND
                if n in self._timestamps and v is not None else v
                for n, v in zip(names, row)
            }
            for row in rows
        ]


_STATE_DDL = """
CREATE TABLE IF NOT EXISTS last_versions (
    environment_name TEXT NOT NULL,
    object_name TEXT NOT NULL,
    last_version INTEGER NOT NULL,
    last_updated INTEGER NOT NULL,
    PRIMARY KEY (environment_name, object_name)
);
CREATE TABLE IF NOT EXISTS pauses (
    scope TEXT PRIMARY KEY,
    reason TEXT,
    paused_by TEXT,
    paused_at INTEGER NOT NULL
);
"""


def _state_db(root: str, timestamps: tuple[str, ...]) -> SqliteDb:
    return SqliteDb(root, "state.db", _STATE_DDL, timestamps)


class StateStore:
    """Per-(environment, object) watermark store with upsert semantics."""

    def __init__(self, root: str):
        self._db = _state_db(root, ("last_updated",))

    def get_last_version(self, env: str, obj: str) -> int | None:
        rows = self._db.query(
            "SELECT last_version FROM last_versions"
            " WHERE environment_name = ? AND object_name = ?",
            (env, obj),
        )
        return rows[0]["last_version"] if rows else None

    def set_last_version(self, env: str, obj: str, version: int) -> None:
        self._db.execute(
            "INSERT INTO last_versions VALUES (?, ?, ?, ?)"
            " ON CONFLICT (environment_name, object_name) DO UPDATE SET"
            " last_version = excluded.last_version,"
            " last_updated = excluded.last_updated",
            (env, obj, int(version), _utcnow()),
        )

    def reset(self, env: str, obj: str) -> bool:
        """T13: delete the watermark row; next cycle re-initializes per
        the object's InitialSyncMode."""
        return self._db.execute(
            "DELETE FROM last_versions"
            " WHERE environment_name = ? AND object_name = ?",
            (env, obj),
        ) > 0

    def rows(self) -> list[dict]:
        """All watermark rows, (environment, object)-sorted — the
        ``/health/state`` read shape (``Program.cs:900-983``)."""
        return self._db.query(
            "SELECT * FROM last_versions ORDER BY environment_name, object_name"
        )

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [tuple(r.values()) for r in self.rows()],
            "environment_name string, object_name string, last_version long,"
            " last_updated timestamp_ntz",
        )


def env_scope(env: str) -> str:
    return f"env:{env}"


def obj_scope(env: str, obj: str) -> str:
    return f"obj:{env}/{obj}"


class PauseStore:
    """Operational pause/resume scopes, surviving restarts (T11).

    Scopes are ``env:<name>`` or ``obj:<env>/<object>`` exactly as the
    reference stores them (``PauseService.cs:28-48``); pausing an
    environment implicitly pauses all its objects.
    """

    def __init__(self, root: str):
        self._db = _state_db(root, ("paused_at",))

    def pause(self, scope: str, reason: str = "", paused_by: str = "") -> None:
        self._db.execute(
            "INSERT INTO pauses VALUES (?, ?, ?, ?)"
            " ON CONFLICT (scope) DO UPDATE SET reason = excluded.reason,"
            " paused_by = excluded.paused_by, paused_at = excluded.paused_at",
            (scope, reason, paused_by, _utcnow()),
        )

    def resume(self, scope: str) -> bool:
        """Returns False when the scope was not paused (resume honesty —
        ``PauseServiceTests``)."""
        return self._db.execute("DELETE FROM pauses WHERE scope = ?", (scope,)) > 0

    def paused_scopes(self) -> set[str]:
        return {r["scope"] for r in self._db.query("SELECT scope FROM pauses")}

    def rows(self) -> list[dict]:
        """All pause rows with reason/by/at (``/ui/api/pauses``)."""
        return self._db.query("SELECT * FROM pauses ORDER BY scope")

    def is_paused(self, env: str, obj: str | None = None) -> bool:
        scopes = self.paused_scopes()
        if env_scope(env) in scopes:
            return True
        return obj is not None and obj_scope(env, obj) in scopes
