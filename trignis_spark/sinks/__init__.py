"""Export sinks: file / HTTP / Kafka / in-memory, plus retry & breaker policies."""

from trignis_spark.sinks.base import (  # noqa: F401
    CircuitBreaker,
    OversizePayloadError,
    RetryPolicy,
    Sink,
    SinkFailure,
    render_template,
)
from trignis_spark.sinks.file import FileSink  # noqa: F401
from trignis_spark.sinks.http import HttpSink  # noqa: F401
from trignis_spark.sinks.memory import MemorySink  # noqa: F401


def build_sink(kind: str, name: str, options: dict, env=None) -> Sink:
    """Sink factory keyed by config kind (SURVEY §2.10).

    When an ``EnvironmentConfig`` is supplied, its batching/payload caps
    (``max_records_per_batch``, ``max_payload_size_bytes``) become the
    defaults for HTTP sinks — per-sink options still win.
    """
    if kind == "file":
        return FileSink(name, **options)
    if kind == "http":
        if env is not None:
            options = {
                "max_records_per_batch": env.max_records_per_batch,
                "max_payload_size_bytes": env.max_payload_size_bytes,
                **options,
            }
        return HttpSink(name, **options)
    if kind == "memory":
        return MemorySink(name, **options)
    if kind == "kafka":
        from trignis_spark.sinks.kafka import KafkaSink

        return KafkaSink(name, **options)
    if kind == "kafka-distributed":
        from trignis_spark.sinks.kafka import KafkaDataFrameSink

        return KafkaDataFrameSink(name, **options)
    if kind == "mirror":
        from trignis_spark.sinks.mirror import MirrorTableSink

        return MirrorTableSink(
            name=name,
            path=options["path"],
            key_cols=tuple(options.get("key_cols", ())),
            tracked_cols=tuple(options.get("tracked_cols", ())),
            keep_generations=options.get("keep_generations", 2),
        )
    if kind == "curate":
        from trignis_spark.sinks.curate import CurateSink

        return CurateSink(
            name=name,
            index_table=options["index_table"],
            accepted_path=options["accepted_path"],
            min_quality=options.get("min_quality", 0.0),
            threshold=options.get("threshold", 0.8),
            id_col=options.get("id_col", "doc_id"),
            text_col=options.get("text_col", "text"),
            props_json=options.get("props_json", True),
        )
    if kind == "rollup":
        from trignis_spark.sinks.rollup_sink import RollupSink

        return RollupSink(
            name=name,
            path=options["path"],
            ts_col=options["ts_col"],
            value_col=options["value_col"],
            dims=tuple(options.get("dims", ())),
            resolution=options.get("resolution", "hour"),
            keep_generations=options.get("keep_generations", 2),
        )
    if kind in ("rabbitmq", "aws-sqs", "azure-servicebus", "azure-eventhubs"):
        from trignis_spark.sinks.queue import CappedQueueSink

        opts = dict(options)
        send = opts.pop("send", None)  # injectable transport (tests)
        if send is None:
            from trignis_spark.sinks.transports import transport_for

            send = transport_for(kind, **opts)
        return CappedQueueSink(name=name, flavor=kind, send=send)
    raise ValueError(f"unknown sink kind {kind!r}")
