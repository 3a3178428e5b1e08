"""Relay benchmark: times the CDC relay's poll cycle end to end.

    python3 relaybench/run.py --workload outage --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is a separate run that wraps each layer's public
functions in spans and reports the per-layer metrics. The last line of
standard output is one JSON object ``{correct, attempted, failed,
metrics}``; the line before it (``{"detail": ...}``) carries sample
counts, settings, the individual checks and every per-layer figure.
See ``relaybench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

# the process start, not the interpreter's first line, opens setup_s
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402

T0 = time.monotonic() - common.process_age_s()

sys.path.insert(0, common.ROOT)
import trignis_spark  # noqa: E402,F401  (fails fast outside a checkout)

import curate  # noqa: E402
import outage  # noqa: E402
from spans import Tracer, instrument_relay, spark_by_group  # noqa: E402

WORKLOADS = {"outage": outage, "curate": curate}

#: end-to-end metrics on the last line (``--trace 0``), name → unit.
#: ``latency_p50_s``, ``latency_p95_s`` and outage's ``drain_s`` are
#: measured too but printed on the detail line only: drain applies to
#: outage alone, and on a shared 4-core box outage latency's spread over
#: ten runs (0.25-0.27 of the median) reaches the 0.25 cap on a
#: regression bound. Outage latency is ~1.47x the window's cycle time in
#: every run; the cycle time follows the box's speed.
E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}

#: per-layer metrics (``--trace 1``), name → unit. Every workload prints
#: all of them; a layer the workload does not run reads 0.
PER_LAYER = {
    "poller.cycle_s": "s",
    "poller.cycle_self_s": "s",
    "poller.chunk_fetch_s": "s",
    "poller.envelope_json_s": "s",
    "poller.envelope_bytes": "B",
    "poller.fanout_s": "s",
    "sinks.file.write_s": "s",
    "sinks.file.files": "count",
    "sinks.file.bytes": "B",
    "sinks.partner.attempts": "count",
    "sinks.partner.failed": "count",
    "deadletter.saves": "count",
    "deadletter.rows_peak": "count",
    "deadletter.file_bytes_peak": "B",
    "deadletter.lost": "count",
    "replay.sweeps": "count",
    "replay.attempted": "count",
    "replay.delivered": "count",
    "state.get_s": "s",
    "state.set_s": "s",
    "source.lag_versions": "count",
    "source.files": "count",
    "ingest.epoch_s": "s",
    "ingest.arrived": "count",
    "ingest.exact_dup": "count",
    "ingest.corpus_near_dup": "count",
    "ingest.batch_near_dup": "count",
    "ingest.accepted": "count",
    "dedup_index.build_s": "s",
    "dedup_index.extend_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "B",
    "spark.shuffle_bytes": "B",
    "spark.task_run_s": "s",
    "spark.gc_s": "s",
    "driver.cpu_s": "s",
    "driver.cpu_us_per_row": "us",
    "trace.overhead": "ratio",
}


class Bench:
    """What a workload gets: its arguments, run directory, Spark session
    and tracer, plus the process-start clock that ``setup_s`` counts from."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tiny = args.scale == "tiny"
        self.t0 = T0
        self.run = common.RunDir(args.workload, args.seed)
        self.spark = common.start_spark(self.run, event_log=self.trace)
        self.tracer = Tracer(self.spark.sparkContext)
        if self.trace:
            instrument_relay(self.tracer, self.run.sub("service", "dlq",
                                                       "dead_letters.parquet"))

    def setup_done(self) -> float:
        return time.monotonic() - self.t0


def spark_per_cycle(groups: dict, tops) -> dict[str, float]:
    """Spark work per measured top-level span (poll cycle or epoch), averaged."""
    keys = ("jobs", "tasks", "input_bytes", "shuffle_bytes", "task_run_s", "gc_s")
    n = max(len(tops), 1)
    return {
        f"spark.{k}": sum(groups.get(f"span-{t.id}", {}).get(k, 0.0)
                          for t in tops) / n
        for k in keys
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs and short warm-up, for smoke tests")
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    bench = Bench(args)
    module = WORKLOADS[args.workload]
    try:
        result = measure(bench, module, args)
    except Exception:
        traceback.print_exc()
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    finally:
        common.stop_spark(bench.spark)
        bench.run.remove()
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


def measure(bench: Bench, module, args) -> dict:
    """Run the workload, print the detail line and return the result."""
    steal0, total0 = common.cpu_ticks()
    out = module.run(bench)
    steal1, total1 = common.cpu_ticks()
    bench.tracer.active = False
    bench.tracer.unwrap()
    sc = bench.spark.sparkContext
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "cpus": int(sc.defaultParallelism), "master": sc.master,
        "cpu_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "settings": out.settings, "checks": out.checks,
        "attempted": out.attempted, "failed": out.failed,
        "metrics": out.e2e, "extra": out.extra,
    }
    if bench.trace:
        bench.spark.stop()  # closes the event log
        groups = spark_by_group(bench.run.sub("eventlog"))
        detail["layers"] = {**out.layers,
                            **spark_per_cycle(groups, out.cycle_tops)}
        detail["trace_coverage_error_s"] = bench.tracer.coverage_error()
        out.checks["trace_nests"] = detail["trace_coverage_error_s"] < 1e-6
        metrics = {k: {"value": detail["layers"].get(k, 0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": out.e2e[k]["value"], "unit": u}
                   for k, u in E2E.items() if k in out.e2e}
    print(json.dumps({"detail": detail}))
    return {"correct": all(out.checks.values()), "attempted": out.attempted,
            "failed": out.failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
