"""Distributed export sinks: the batch never passes through the driver.

``PollPipeline``'s default export collects the batch into one JSON
envelope — exactly the reference's unit of delivery, correct for
bounded change batches. At 100 TB-scale objects (initial full syncs,
large backfills) the batch must stay distributed: these sinks take the
*DataFrame*, write it executor-parallel (partitioned parquet or
JSON-lines), and record only envelope metadata + a manifest on the
driver.

Failure/replay contract at this scale: a failed distributed write
dead-letters the batch *manifest* (environment, object, version range,
sync type), not the rows — ``DeadLetterReplayer`` hands it to the
owning ``PollPipeline.replay_manifest``, which re-runs the cycle's scan
for that version range against the source and writes it to the one sink
that failed (the reference's "nothing advances on error → same rows
re-fetched" path, SURVEY §1.4). Payload-inline dead-lettering is only
for driver-sized batches.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trignis_spark.sinks.base import ExportContext, render_template


class DataFrameSink:
    """A destination that accepts a whole change-batch DataFrame."""

    name: str

    def write_df(self, batch: DataFrame, ctx: ExportContext,
                 metadata: dict) -> None:  # pragma: no cover
        raise NotImplementedError


@dataclass
class PartitionedFileSink(DataFrameSink):
    """Executor-parallel file export with an envelope-metadata sidecar.

    ``fmt``: 'parquet' (columnar, for downstream Spark consumers) or
    'json' (JSON-lines, for reference-style consumers). ``partition_by``
    spreads output by a column (e.g. operation or a date derived from
    the version) so downstream reads prune.
    """

    name: str
    path_template: str
    fmt: str = "parquet"
    partition_by: tuple[str, ...] = ()

    def write_df(self, batch: DataFrame, ctx: ExportContext, metadata: dict) -> None:
        path = render_template(self.path_template, ctx)
        writer = batch.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        if self.fmt == "parquet":
            writer.parquet(path)
        elif self.fmt == "json":
            writer.json(path)
        else:
            raise ValueError(f"unsupported format {self.fmt!r}")
        doc = json.dumps({"Metadata": metadata})
        if "://" in path:
            # remote filesystem (s3a/hdfs/...): write through Spark so the
            # sidecar lands next to the data on the same FS
            spark = batch.sparkSession
            (
                spark.createDataFrame([(doc,)], "value string")
                .coalesce(1)
                .write.mode("overwrite")
                .text(os.path.join(path, "_envelope"))
            )
        else:
            sidecar = os.path.join(path, "_envelope.json")
            with open(sidecar, "w", encoding="utf-8") as f:
                f.write(doc)


def batch_manifest(
    ctx: ExportContext, from_version: int, to_version: int, rows: int,
    sync_type: str, reason_code: int,
) -> str:
    """The replayable description of a distributed batch (what gets
    dead-lettered instead of the rows). ``type`` and ``reason_code`` are
    the cycle's sync ``Type`` and ``ReasonCode``, so a replay rebuilds a
    Full batch as a Full snapshot."""
    return json.dumps(
        {
            "environment": ctx.environment,
            "object": ctx.object_name,
            "from_version": from_version,
            "to_version": to_version,
            "rows": rows,
            "distributed": True,
            "type": sync_type,
            "reason_code": reason_code,
        },
        separators=(",", ":"),
    )


def read_manifest(data: str) -> dict | None:
    """The manifest a dead letter's ``data`` holds, or None for an
    envelope payload. Only data that starts like a manifest is parsed,
    so replaying a large envelope costs no JSON decode here."""
    if not data.startswith('{"environment":'):
        return None
    doc = json.loads(data)
    return doc if doc.get("distributed") is True else None


def stretch_manifest(pending: str, later: str) -> str:
    """The pending manifest grown over a later batch's manifest, so one
    replay delivers both ranges in version order. A Full batch makes the
    whole replay Full, since it defines the state; a re-fetched batch
    that ends inside the pending range adds no rows."""
    doc, nxt = read_manifest(pending), read_manifest(later)
    if nxt["to_version"] > doc["to_version"]:
        doc["to_version"] = nxt["to_version"]
        doc["rows"] += nxt["rows"]
    if nxt["type"] == "Full":
        doc["type"], doc["reason_code"] = "Full", nxt["reason_code"]
    return json.dumps(doc, separators=(",", ":"))
