"""Environment / tracking-object / sink configuration + validation.

Declarative per-object config replaces the reference's stored-procedure
contract as the extensibility point (SURVEY §2.9): the engine generates
the incremental read from ``TrackingObject`` instead of calling a
user-written procedure. Model shapes follow
``Source/Models/Environment.cs:7-20`` / ``TrackingObject.cs:3-11`` /
``ApiEndpoint.cs:5-15``; validation rules follow
``Helpers/ConfigurationValidator.cs:26-86,270-341`` (errors abort
startup, warnings log).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

#: Reference operational defaults (BASELINE.md).
DEFAULT_POLLING_INTERVAL_S = 30
DEFAULT_RETRY_COUNT = 3
DEFAULT_RETRY_DELAY_S = 5
DEFAULT_MAX_RECORDS_PER_BATCH = 1000
DEFAULT_MAX_PAYLOAD_BYTES = 5 * 1024 * 1024
DEFAULT_DLQ_RETENTION_DAYS = 60

SINK_KINDS = (
    "file", "http", "kafka", "kafka-distributed", "memory", "mirror",
    "rollup", "curate",
    "rabbitmq", "aws-sqs", "azure-servicebus", "azure-eventhubs",
)
SYNC_MODES = ("Full", "Incremental")


@dataclass
class TrackingObject:
    name: str
    database: str = ""
    table_name: str = ""
    initial_sync_mode: str = "Full"
    version_column: str = "version"
    key_columns: tuple[str, ...] = ()
    tracked_columns: tuple[str, ...] = ()
    #: optional user SQL snippet (the stored-procedure escape hatch):
    #: a SELECT producing the outbox shape; None → generated read.
    source_sql: str | None = None


@dataclass
class SinkConfig:
    name: str
    kind: str  # file | http | kafka | memory
    options: dict = field(default_factory=dict)


@dataclass
class EnvironmentConfig:
    name: str
    tracking_objects: tuple[TrackingObject, ...] = ()
    destinations: tuple[SinkConfig, ...] = ()
    polling_interval_seconds: int = DEFAULT_POLLING_INTERVAL_S
    retry_count: int = DEFAULT_RETRY_COUNT
    retry_delay_seconds: int = DEFAULT_RETRY_DELAY_S
    max_records_per_batch: int = DEFAULT_MAX_RECORDS_PER_BATCH
    max_payload_size_bytes: int = DEFAULT_MAX_PAYLOAD_BYTES
    deadletter_retention_days: int = DEFAULT_DLQ_RETENTION_DAYS


def validate_environment(env: EnvironmentConfig) -> tuple[list[str], list[str]]:
    """Returns (errors, warnings). Errors should abort startup."""
    errors: list[str] = []
    warnings: list[str] = []
    if not env.name:
        errors.append("environment name is required")
    if not env.tracking_objects:
        errors.append(f"environment '{env.name}': no tracking objects")
    names = [o.name for o in env.tracking_objects]
    if len(names) != len(set(names)):
        errors.append(f"environment '{env.name}': duplicate tracking object names")
    for obj in env.tracking_objects:
        if not obj.name:
            errors.append(f"environment '{env.name}': tracking object without a name")
        if obj.initial_sync_mode not in SYNC_MODES:
            errors.append(
                f"object '{obj.name}': initial_sync_mode must be one of {SYNC_MODES}"
            )
        if obj.source_sql is None and not obj.table_name:
            errors.append(f"object '{obj.name}': table_name or source_sql required")
    if env.polling_interval_seconds < 5:
        warnings.append(
            f"environment '{env.name}': polling interval "
            f"{env.polling_interval_seconds}s < 5s may overload the source"
        )
    elif env.polling_interval_seconds > 3600:
        warnings.append(
            f"environment '{env.name}': polling interval "
            f"{env.polling_interval_seconds}s > 1h delays change delivery"
        )
    for sink in env.destinations:
        if sink.kind not in SINK_KINDS:
            errors.append(f"sink '{sink.name}': unknown kind '{sink.kind}'")
        if sink.kind == "file" and not sink.options.get("path_template"):
            errors.append(f"sink '{sink.name}': file sink requires path_template")
        if sink.kind == "http":
            if not sink.options.get("url"):
                errors.append(f"sink '{sink.name}': http sink requires url")
            user = sink.options.get("basic_user")
            pw = sink.options.get("basic_password")
            if (user is None) != (pw is None):
                errors.append(
                    f"sink '{sink.name}': basic auth requires both user and password"
                )
            auth_modes = [
                m
                for m in ("bearer_token", "basic_user", "api_key", "oauth2_token_url")
                if sink.options.get(m) is not None
            ]
            if len(auth_modes) > 1:
                errors.append(
                    f"sink '{sink.name}': at most one auth mode, got {auth_modes}"
                )
        if sink.kind in ("kafka", "kafka-distributed") and not sink.options.get(
            "topic"
        ):
            errors.append(f"sink '{sink.name}': kafka sink requires topic")
        if sink.kind == "mirror":
            for req in ("path", "key_cols", "tracked_cols"):
                if not sink.options.get(req):
                    errors.append(
                        f"sink '{sink.name}': mirror sink requires {req}"
                    )
        if sink.kind == "rollup":
            for req in ("path", "ts_col", "value_col"):
                if not sink.options.get(req):
                    errors.append(
                        f"sink '{sink.name}': rollup sink requires {req}"
                    )
        if sink.kind == "curate":
            from trignis_spark.sinks.curate import OPTIONS

            for req in ("index_table", "accepted_path"):
                if not sink.options.get(req):
                    errors.append(
                        f"sink '{sink.name}': curate sink requires {req}"
                    )
            unknown = sorted(set(sink.options) - set(OPTIONS))
            if unknown:
                errors.append(
                    f"sink '{sink.name}': unknown curate option(s) {unknown}"
                )
        # MQ-type requirement matrix (ConfigurationValidator.cs:270-341);
        # 'send' is the injectable-transport escape hatch
        if sink.kind in _MQ_REQUIREMENTS and "send" not in sink.options:
            required_any = _MQ_REQUIREMENTS[sink.kind]
            for group in required_any:
                if not any(sink.options.get(k) for k in group):
                    errors.append(
                        f"sink '{sink.name}': {sink.kind} sink requires "
                        + " or ".join(group)
                    )
        if sink.kind == "rabbitmq":
            u, p = sink.options.get("user"), sink.options.get("password")
            if (u is None) != (p is None):
                errors.append(
                    f"sink '{sink.name}': rabbitmq credentials require both "
                    "user and password"
                )
    return errors, warnings


#: per-MQ-kind required option groups: every inner tuple needs ≥1 present.
_MQ_REQUIREMENTS: dict[str, tuple[tuple[str, ...], ...]] = {
    "rabbitmq": (("host",), ("queue", "exchange")),
    "aws-sqs": (("queue_url",),),
    "azure-servicebus": (("connection_string",), ("queue", "topic")),
    "azure-eventhubs": (("connection_string",),),
}


def diff_environments(
    old: dict[str, EnvironmentConfig], new: dict[str, EnvironmentConfig]
) -> tuple[set[str], set[str], set[str]]:
    """Hot-reload config diff: (added, removed, updated) environment names
    (``EnvironmentConfigService.cs:125-155``)."""
    added = set(new) - set(old)
    removed = set(old) - set(new)
    updated = {name for name in set(old) & set(new) if old[name] != new[name]}
    return added, removed, updated


_SECRET_RE = re.compile(r"\$\{ENV:([A-Za-z_][A-Za-z0-9_]*)\}")


def resolve_secrets(value):
    """Resolve ``${ENV:VAR}`` placeholders from the process environment.

    The stdlib-safe analog of the reference's ``PWENC:`` encrypted
    secrets (``EnvironmentConfigService.LoadFile`` decryption): config
    files never carry credentials in the clear; a missing variable is a
    startup error, not an empty string.
    """
    if isinstance(value, str):
        def sub(m):
            name = m.group(1)
            if name not in os.environ:
                raise KeyError(f"config secret references unset variable {name}")
            return os.environ[name]

        return _SECRET_RE.sub(sub, value)
    if isinstance(value, dict):
        return {k: resolve_secrets(v) for k, v in value.items()}
    if isinstance(value, list):
        return [resolve_secrets(v) for v in value]
    return value


def load_environment_json(text: str, crypto=None) -> EnvironmentConfig:
    """Parse one environment config document (JSON); ``${ENV:VAR}``
    secret placeholders resolve from the process environment, and
    ``PWENC:`` values decrypt through ``crypto`` (an
    ``EncryptionService``) when one is supplied — the reference's
    decrypt-on-load (``EnvironmentConfigService.LoadFile``)."""
    raw = json.loads(text)
    if crypto is not None:
        raw = crypto.decrypt_tree(raw)
    raw = resolve_secrets(raw)
    objs = tuple(
        TrackingObject(
            name=o["name"],
            database=o.get("database", ""),
            table_name=o.get("table_name", ""),
            initial_sync_mode=o.get("initial_sync_mode", "Full"),
            version_column=o.get("version_column", "version"),
            key_columns=tuple(o.get("key_columns", ())),
            tracked_columns=tuple(o.get("tracked_columns", ())),
            source_sql=o.get("source_sql"),
        )
        for o in raw.get("tracking_objects", ())
    )
    sinks = tuple(
        SinkConfig(name=s["name"], kind=s["kind"], options=s.get("options", {}))
        for s in raw.get("destinations", ())
    )
    return EnvironmentConfig(
        name=raw["name"],
        tracking_objects=objs,
        destinations=sinks,
        polling_interval_seconds=raw.get(
            "polling_interval_seconds", DEFAULT_POLLING_INTERVAL_S
        ),
        retry_count=raw.get("retry_count", DEFAULT_RETRY_COUNT),
        retry_delay_seconds=raw.get("retry_delay_seconds", DEFAULT_RETRY_DELAY_S),
        max_records_per_batch=raw.get(
            "max_records_per_batch", DEFAULT_MAX_RECORDS_PER_BATCH
        ),
        max_payload_size_bytes=raw.get(
            "max_payload_size_bytes", DEFAULT_MAX_PAYLOAD_BYTES
        ),
        deadletter_retention_days=raw.get(
            "deadletter_retention_days", DEFAULT_DLQ_RETENTION_DAYS
        ),
    )
