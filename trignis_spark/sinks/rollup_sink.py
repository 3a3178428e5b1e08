"""Continuous-aggregate sink: incrementally maintained time rollups.

The timeseries-database pattern (TimescaleDB continuous aggregates) on
the engine's own delivery loop: instead of re-scanning history, each
delivered change batch is aggregated to the finest resolution
(``rollup_level``) and merged into the stored rollup
(``merge_rollup`` — decomposable partial aggregates re-aggregate
exactly). Registered as a ``DataFrameSink``, it rides the distributed
``df_sinks`` path of ``PollPipeline``, so the rollup advances with the
watermark and inherits the at-least-once/idempotent replay contract via
generation swap.

Contract: the feed is treated as an **append-only fact stream** — every
delivered row is one occurrence (the semantics of an events hypertable,
and of change-event *telemetry* like changes/hour by operation). For
mutable tables, roll up the mirror (``MirrorTableSink``) instead;
incremental maintenance of state-dependent aggregates from new-image
CDC rows alone is not possible without old images, and this sink does
not pretend otherwise.

Scale shape per batch: one map-side partial aggregation over the batch,
then a merge shuffle keyed on (bucket, dims) whose input is rollup-sized
(buckets × dimension values), never raw-stream-sized. Coarser
resolutions are served on read via ``coarsen`` from the stored finest
level — no raw re-scan at any resolution.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from trignis_spark.operators.rollup import (
    merge_rollup,
    normalize_level,
    rollup_level,
)
from trignis_spark.sinks.base import ExportContext
from trignis_spark.sinks.generations import GenerationStore
from trignis_spark.sinks.spark_file import DataFrameSink


@dataclass
class RollupSink(GenerationStore, DataFrameSink):
    """Maintain ``path/<object>/gen-<version>`` parquet rollups at
    ``resolution``, incrementally merged per delivered batch."""

    name: str
    path: str
    ts_col: str
    value_col: str
    dims: tuple[str, ...] = ()
    resolution: str = "hour"
    keep_generations: int = field(default=2)

    def write_df(self, batch: DataFrame, ctx: ExportContext,
                 metadata: dict) -> None:
        spark = batch.sparkSession
        version = metadata.get("Sync", {}).get("Version", 0)
        if self.replay_of_applied(ctx, version):
            return
        delta = rollup_level(
            batch, self.ts_col, self.resolution, self.dims, self.value_col
        )
        current = self.read_current(spark, ctx)
        state = (
            normalize_level(delta)
            if current is None
            else merge_rollup(current, delta, self.dims)
        )
        self.commit_generation(state, ctx, version)
