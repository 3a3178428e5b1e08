"""End-to-end demo: a trignis-style CDC environment on Spark.

Configures one environment tracking the `events` outbox, exports change
batches to a templated JSON file sink and an HTTP webhook, shows
failure capture + replay, pause/resume, and the health surface.

    python examples/run_pipeline.py [sf_dir]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from trignis_spark.config import (
    EnvironmentConfig,
    SinkConfig,
    TrackingObject,
    validate_environment,
)
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.health import DeadLetterMonitor, HealthService
from trignis_spark.operators import changefeed as cf
from trignis_spark.session import get_spark
from trignis_spark.sinks import build_sink
from trignis_spark.sinks.base import RetryPolicy
from trignis_spark.state import PauseStore, StateStore, obj_scope
from trignis_spark.streaming.poller import PollPipeline
from trignis_spark.streaming.replay import DeadLetterReplayer
from trignis_spark.tables import load


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = tempfile.mkdtemp(prefix="trignis-demo-")
    spark = get_spark("trignis-demo")
    spark.sparkContext.setLogLevel("ERROR")

    env = EnvironmentConfig(
        name="demo",
        tracking_objects=(
            TrackingObject(
                name="events", database="testdata", table_name="events",
                initial_sync_mode="Full",
            ),
        ),
        destinations=(
            SinkConfig(
                "json-files", "file",
                {"path_template": work + "/exports/{environment}/{object}-{timestamp}.json"},
            ),
            SinkConfig("webhook", "http", {"url": "http://127.0.0.1:1/down"}),
        ),
    )
    errors, warnings = validate_environment(env)
    assert not errors, errors
    print(f"config ok ({len(warnings)} warnings); work dir: {work}")

    state = StateStore(work + "/state")
    dlq = DeadLetterStore(work + "/dlq")
    pauses = PauseStore(work + "/pauses")
    sinks = [build_sink(s.kind, s.name, s.options, env=env) for s in env.destinations]

    def source_fn(s, obj):
        return cf.events_as_outbox(load(s, sf_dir, obj.table_name))

    pipe = PollPipeline(
        spark, env, source_fn, sinks, state, dlq, pauses=pauses,
        retry=RetryPolicy(attempts=2, delay_seconds=0, sleep=lambda _: None),
        horizon_fn=lambda s, o: load(s, sf_dir, "events")
        .agg(F.max("event_id"))
        .first()[0]
        + 1,
    )

    print("\n-- cycle 1: initial full sync --")
    for r in pipe.run_cycle():
        print(f"  {r.object_name}: mode={r.mode} rows={r.exported_rows} "
              f"wm={r.new_watermark} failures={[f.sink_name for f in r.failures]}")
    files = glob.glob(work + "/exports/**/*.json", recursive=True)
    doc = json.load(open(files[0]))
    print(f"  exported file: {files[0]}")
    print(f"  envelope: {doc['Metadata']} ({len(doc['Data'])} events)")

    print("\n-- cycle 2: nothing new --")
    for r in pipe.run_cycle():
        print(f"  {r.object_name}: mode={r.mode}")

    print("\n-- pause / resume --")
    pauses.pause(obj_scope("demo", "events"), reason="maintenance")
    print("  paused:", [r.mode for r in pipe.run_cycle()])
    pauses.resume(obj_scope("demo", "events"))
    print("  resumed:", [r.mode for r in pipe.run_cycle()])

    print("\n-- dead letters + replay --")
    print(f"  captured: {[(r['source_key'], r['attempts']) for r in dlq.rows()]}")
    replayer = DeadLetterReplayer(
        dlq, {"demo": env}, sinks_for_env=lambda n: [sinks[0]],  # webhook healed → file
        pipeline_for_env=lambda n: pipe,
    )
    print(f"  replay: {[o.status for o in replayer.sweep()]}")
    print(f"  dlq after: {len(dlq.rows())} rows")

    print("\n-- health --")
    svc = HealthService(state, dlq, pauses, DeadLetterMonitor(dlq))
    print(" ", json.dumps(svc.snapshot(), indent=2).replace("\n", "\n  "))
    return 0


if __name__ == "__main__":
    sys.exit(main())
