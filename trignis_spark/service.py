"""The service composition root — the reference's ``Program.cs`` on Spark.

Wires the whole relay together (SURVEY §3.1): load + validate the
environment configs, one poller per environment under the lifecycle
gate, the debounced config watcher feeding hot reloads, the dead-letter
replay sweeper on its own interval, and the cached health surface.

    service = TrignisSparkService(spark, config_dir, work_dir, source_factory)
    service.start()
    ...
    service.stop()

``source_factory(obj) -> source_fn`` decides how each tracking object
reads changes (JDBC incremental, parquet outbox, snapshot diff) — the
deployment's one required decision, everything else is config.
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import SparkSession

from trignis_spark.config import EnvironmentConfig
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.health import DeadLetterMonitor, HealthService
from trignis_spark.sinks import build_sink
from trignis_spark.sinks.base import RetryPolicy
from trignis_spark.state import PauseStore, StateStore
from trignis_spark.streaming.lifecycle import Orchestrator, ProbeLog
from trignis_spark.streaming.poller import PollPipeline
from trignis_spark.streaming.replay import DeadLetterReplayer
from trignis_spark.streaming.watcher import ConfigWatcher, load_environment_dir

log = logging.getLogger("trignis_spark.service")

DEFAULT_REPLAY_INTERVAL_S = 60.0


class TrignisSparkService:
    def __init__(
        self,
        spark: SparkSession,
        config_dir: str,
        work_dir: str,
        source_factory,  # (TrackingObject) -> source_fn(spark, obj) -> DataFrame
        replay_interval_seconds: float = DEFAULT_REPLAY_INTERVAL_S,
        poll_interval_override: float | None = None,
        retry: RetryPolicy | None = None,
        crypto=None,  # EncryptionService | None — PWENC secrets at rest
        admin_passphrase_sha256: str | None = None,
        ui_login: bool = False,  # gate /ui behind the cookie-session login
    ):
        self.spark = spark
        self.config_dir = config_dir
        self.source_factory = source_factory
        self.retry = retry
        self.crypto = crypto
        self.admin_passphrase_sha256 = admin_passphrase_sha256
        self.ui_login = ui_login
        self.work_dir = work_dir
        self.state = StateStore(work_dir + "/state")
        self.dlq = DeadLetterStore(work_dir + "/dlq")
        self.pauses = PauseStore(work_dir + "/pauses")
        self.health = HealthService(
            self.state, self.dlq, self.pauses, DeadLetterMonitor(self.dlq)
        )
        self.probe = ProbeLog()
        self._envs: dict[str, EnvironmentConfig] = {}
        self._pipelines: dict[str, PollPipeline] = {}
        self._lock = threading.Lock()
        self.orchestrator = Orchestrator(
            self._run_cycle, self.probe, interval_override=poll_interval_override
        )
        self.watcher = ConfigWatcher(config_dir, self._on_reload, crypto=crypto)
        self.replay_interval = replay_interval_seconds
        self._replay_stop = threading.Event()
        self._replay_thread: threading.Thread | None = None
        self.replayer = DeadLetterReplayer(
            self.dlq,
            self._envs_snapshot,  # resolved per sweep; race-free vs reloads
            sinks_for_env=self._sinks_for_env,
            retry=retry,
            pipeline_for_env=self._pipeline_for_env,
        )

    # -- wiring ------------------------------------------------------------

    def _build_pipeline(self, env: EnvironmentConfig) -> PollPipeline:
        from trignis_spark.sinks.spark_file import DataFrameSink

        built = [
            build_sink(s.kind, s.name, s.options, env=env)
            for s in env.destinations
        ]
        # DataFrame sinks (mirror tables, partitioned exports) take the
        # distributed path; everything else fans out via envelopes
        sinks = [s for s in built if not isinstance(s, DataFrameSink)]
        df_sinks = [s for s in built if isinstance(s, DataFrameSink)]
        return PollPipeline(
            self.spark,
            env,
            source_fn={
                obj.name: self.source_factory(obj) for obj in env.tracking_objects
            },
            sinks=sinks,
            df_sinks=df_sinks,
            state=self.state,
            dlq=self.dlq,
            pauses=self.pauses,
            retry=self.retry,
        )

    def _pipeline_for_env(self, env_name: str) -> PollPipeline | None:
        with self._lock:
            return self._pipelines.get(env_name)

    def _sinks_for_env(self, env_name: str):
        pipeline = self._pipeline_for_env(env_name)
        return pipeline.sinks if pipeline is not None else []

    def _run_cycle(self, env: EnvironmentConfig) -> None:
        pipeline = self._pipeline_for_env(env.name)
        if pipeline is not None:
            pipeline.run_cycle()

    def _register(self, envs: list[EnvironmentConfig]) -> None:
        """Build pipelines OUTSIDE the lock, reusing unchanged ones, then
        swap both maps atomically — a failing build raises before any
        running state is touched, and readers never observe a partial map."""
        with self._lock:
            old_envs = dict(self._envs)
            old_pipes = dict(self._pipelines)
        new_envs: dict[str, EnvironmentConfig] = {}
        new_pipes: dict[str, PollPipeline] = {}
        for env in envs:
            new_envs[env.name] = env
            if old_envs.get(env.name) == env and env.name in old_pipes:
                # unchanged: keep the live pipeline (breaker/sink state intact)
                new_pipes[env.name] = old_pipes[env.name]
            else:
                new_pipes[env.name] = self._build_pipeline(env)
        with self._lock:
            self._envs = new_envs
            self._pipelines = new_pipes

    def _envs_snapshot(self) -> dict[str, EnvironmentConfig]:
        with self._lock:
            return dict(self._envs)

    def _on_reload(self, envs: list[EnvironmentConfig]) -> None:
        try:
            self._register(envs)
            added, removed, updated = self.orchestrator.reload(envs)
            log.info("config reload: +%s -%s ~%s", added, removed, updated)
        except Exception:  # noqa: BLE001 — a bad reload must not kill the watcher
            log.exception(
                "config reload failed; keeping the previous configuration"
            )

    # -- replay loop -------------------------------------------------------

    def _replay_loop(self) -> None:
        while not self._replay_stop.is_set():
            self._replay_stop.wait(self.replay_interval)
            if self._replay_stop.is_set():
                break
            try:
                outcomes = self.replayer.sweep()
                if outcomes:
                    log.info(
                        "replay sweep: %s",
                        {o.status: sum(1 for x in outcomes if x.status == o.status)
                         for o in outcomes},
                    )
            except Exception:  # noqa: BLE001 — the sweeper must survive
                log.exception("replay sweep failed; next interval retries")

    # -- lifecycle ---------------------------------------------------------

    def api_app(self):
        """The HTTP control-plane app (``api.create_app``) bound to this
        service's stores — serve with any WSGI server, or
        ``app.test_client()`` in tests."""
        from trignis_spark.api import create_app
        from trignis_spark.health import ConnectionHealth

        self._connections = getattr(self, "_connections", ConnectionHealth())
        return create_app(
            self.state,
            self.dlq,
            self.pauses,
            replayer=self.replayer,
            health_service=self.health,
            dlq_monitor=self.health.monitor,
            connections=self._connections,
            environments=self._envs_snapshot,
            admin_passphrase_sha256=self.admin_passphrase_sha256,
            ui_login=self.ui_login,
            ingest_health_root=self.work_dir + "/state",
            settings={
                "global": {
                    "config_dir": self.config_dir,
                    "replay_interval_seconds": self.replay_interval,
                    "environments": sorted(self._envs_snapshot()),
                },
            },
        )

    def start(self) -> list[str]:
        """Load configs, start pollers + watcher + replay loop. Returns
        config problems (invalid files are skipped, not fatal)."""
        if self.crypto is not None:
            # encrypt any plaintext secrets before anything reads the
            # configs (Program.cs:78-82)
            self.crypto.encrypt_config_files(self.config_dir)
        envs, problems = load_environment_dir(self.config_dir, crypto=self.crypto)
        for p in problems:
            log.error("config: %s", p)
        self._register(envs)
        self.orchestrator.start(envs)
        self.watcher.start()
        self._replay_thread = threading.Thread(
            target=self._replay_loop, daemon=True, name="dlq-replay"
        )
        self._replay_thread.start()
        return problems

    def stop(self) -> None:
        self._replay_stop.set()
        self.watcher.stop()
        self.orchestrator.shutdown()
        if self._replay_thread is not None:
            self._replay_thread.join(5.0)
