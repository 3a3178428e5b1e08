"""Shared plumbing for the relay benchmark: run directory, Spark session,
seeded change generator, export parsing and summary statistics.

Everything a run writes lives under ``<checkout>/.relaybench/<run>/``,
which is removed when the run ends.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import resource
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field

import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the outbox change-event schema (``sources/parquet_outbox.OUTBOX_FIELDS``)
OUTBOX_ARROW = pa.schema(
    [
        ("version", pa.int64()),
        ("xact_id", pa.int64()),
        ("operation", pa.string()),
        ("user_key", pa.int64()),
        ("changed", pa.list_(pa.string())),
        ("ts", pa.timestamp("us")),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

_WORDS = (
    "order shipment invoice refund credit ledger account region store "
    "basket coupon voucher stock pallet carrier route depot batch"
).split()
_COLUMNS = ("value", "props", "user_key", "ts")
_TS0 = dt.datetime(2024, 1, 1)


def process_age_s() -> float:
    """Seconds since this process was started (from ``/proc``)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22, ``starttime``
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from
    ``/proc/stat``: steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """A fresh work directory inside the checkout; temp files of this
    process and of the JVM it starts go there too."""

    def __init__(self, workload: str, seed: int):
        base = os.path.join(ROOT, ".relaybench")
        self.path = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        tempfile.tempdir = os.environ["TMPDIR"]

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        base = os.path.dirname(self.path)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)


def start_spark(run: RunDir, event_log: bool):
    """``local[nproc]`` session with this run's own warehouse and scratch
    directories. ``SPARK_GRAFT_CPUS`` pins the engine's parallelism
    defaults to the box before ``get_spark`` reads it."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    from trignis_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        "spark.local.dir": run.sub("spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run.sub('tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(run.sub("eventlog"))
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + run.sub("eventlog")
        extra["spark.eventLog.rolling.enabled"] = "false"
        extra["spark.eventLog.compress"] = "false"
    spark = get_spark("relaybench", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it leaves when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(60)
        SparkContext._gateway = SparkContext._jvm = None


class ChangeGen:
    """Seeded outbox change events with consecutive versions. Keeps the
    expected payload of every version for the output check."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_version = 1
        self.expected: dict[int, tuple] = {}

    def table(self, n: int) -> pa.Table:
        rng = self.rng
        cols = {f.name: [] for f in OUTBOX_ARROW}
        for _ in range(n):
            v = self.next_version
            self.next_version += 1
            user_key = rng.randrange(1_000_000)
            value = round(rng.uniform(0, 10_000), 2)
            props = json.dumps(
                {
                    "sku": f"SKU-{rng.randrange(100_000):05d}",
                    "qty": rng.randrange(1, 50),
                    "note": " ".join(rng.choices(_WORDS, k=rng.randrange(3, 9))),
                },
                separators=(",", ":"),
            )
            self.expected[v] = (user_key, value, props)
            cols["version"].append(v)
            cols["xact_id"].append(v)
            cols["operation"].append(rng.choice("IIUUUD"))
            cols["user_key"].append(user_key)
            cols["changed"].append(rng.sample(_COLUMNS, rng.randrange(1, 4)))
            cols["ts"].append(_TS0 + dt.timedelta(milliseconds=v))
            cols["value"].append(value)
            cols["props"].append(props)
        return pa.Table.from_pydict(cols, schema=OUTBOX_ARROW)

    @property
    def last_version(self) -> int:
        return self.next_version - 1


class Delivery:
    """Versions seen by one sink: first-delivery time per version,
    duplicate count and envelope-shape problems."""

    def __init__(self, expected: dict[int, tuple]):
        self.expected = expected
        self.first: dict[int, float] = {}
        self.duplicates = 0
        self.problems: list[str] = []

    def add(self, payload, at: float, sync_type: str | None = None) -> None:
        env = json.loads(payload) if isinstance(payload, str) else payload
        sync = env["Metadata"]["Sync"]
        versions = [r["version"] for r in env["Data"]]
        if not versions:
            self.problems.append("empty envelope")
            return
        if versions != sorted(versions) or sync["Version"] != versions[-1]:
            self.problems.append(f"envelope {sync} out of version order")
        if sync_type is not None and sync["Type"] != sync_type:
            self.problems.append(f"sync type {sync['Type']} != {sync_type}")
        for r in env["Data"]:
            v = r["version"]
            want = self.expected.get(v)
            if want is None or (r["user_key"], r["value"], r["props"]) != want:
                self.problems.append(f"version {v}: payload differs from source")
                continue
            if v in self.first:
                self.duplicates += 1
                self.first[v] = min(self.first[v], at)
            else:
                self.first[v] = at

    def add_export_dir(self, root: str, sync_type: str | None = None) -> int:
        """Parse every FileSink export under ``root``; the file's mtime is
        when the sink's write of that envelope completed."""
        files = 0
        for dirpath, _dirs, names in os.walk(root):
            for fn in names:
                p = os.path.join(dirpath, fn)
                with open(p, encoding="utf-8") as f:
                    self.add(json.load(f), os.stat(p).st_mtime, sync_type)
                files += 1
        return files

    def missing(self, versions) -> set[int]:
        return {v for v in versions if v not in self.first}


def quantile(values, q: float) -> float:
    """Inclusive-method quantile (``statistics.quantiles``)."""
    vals = sorted(values)
    if len(vals) == 1:
        return float(vals[0])
    cuts = statistics.quantiles(vals, n=100, method="inclusive")
    return float(cuts[int(round(q * 100)) - 1])


def latency_metrics(samples: list[float], out: dict) -> None:
    """p50 always; p95 only when at least ten samples lie beyond it."""
    out["latency_p50_s"] = metric(quantile(samples, 0.50), "s", len(samples))
    if len(samples) * 0.05 >= 10:
        out["latency_p95_s"] = metric(quantile(samples, 0.95), "s", len(samples))


def metric(value, unit: str, samples: int) -> dict:
    return {"value": value, "unit": unit, "samples": samples}


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def wait_until(pred, timeout: float, step: float = 0.02) -> bool:
    deadline = time.monotonic() + timeout
    while not pred():
        if time.monotonic() > deadline:
            return False
        time.sleep(step)
    return True


@dataclass
class Outcome:
    """A workload's results: end-to-end metrics (with sample counts),
    per-layer figures (traced run only), operation counts and checks."""

    e2e: dict
    attempted: int
    failed: int
    checks: dict
    settings: dict
    extra: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    cycle_tops: list = field(default_factory=list)
