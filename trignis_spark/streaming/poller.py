"""The poll pipeline: one change-feed cycle per tracking object.

Re-implements the reference's hot path
(``ChangeTrackingBackgroundService.cs:327-606``, SURVEY §3.2) on
DataFrames:

  read watermark → decide mode (seed / full / incremental) → bounded
  incremental scan → envelope → fan-out to every sink (failures
  independent, dead-lettered) → advance watermark.

Consistency contract (SURVEY §1.4 + §7.4):
- the watermark advances after the export *attempt*, even when some
  destinations failed — each failure is persisted to the DLQ first
  (write-ordering: DLQ before state), so replays cannot be lost;
- if the read or envelope step throws, nothing advances and the same
  rows are re-fetched next cycle (at-least-once);
- during seed, rows returned by a misbehaving source are discarded with
  a warning and only the probed version is stored.

Two export paths:
- **envelope path** (``sinks``): the batch streams to the driver in
  version-ordered chunks of at most ``max_records_per_batch`` rows
  (``iter_envelope_chunks``), each chunk one JSON envelope — the
  reference's unit of export, with the batch-split cap applied at the
  poll level so the driver's residency is bounded regardless of batch
  size; Full syncs are routed to the distributed path automatically
  when one is configured;
- **distributed path** (``df_sinks``): the batch never leaves the
  executors — ``DataFrameSink``s write it partition-parallel and only
  the (watermark, count) aggregate reaches the driver; failures
  dead-letter a replayable version-range *manifest* instead of rows
  (``sinks/spark_file.py``); while a sink has one, later batches stretch
  it instead of reaching that sink, so every sink takes its version
  ranges in order. Use this for 100 TB initial syncs and large
  backfills.
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.operators import changefeed as cf
from trignis_spark.sinks.base import ExportContext, RetryPolicy, Sink, SinkFailure
from trignis_spark.sinks.spark_file import (
    DataFrameSink,
    batch_manifest,
    read_manifest,
    stretch_manifest,
)
from trignis_spark.state import PauseStore, StateStore

log = logging.getLogger("trignis_spark.poller")


@dataclass
class CycleResult:
    object_name: str
    mode: str  # "seed" | "full" | "sync" | "paused" | "empty"
    exported_rows: int = 0
    new_watermark: int | None = None
    failures: list[SinkFailure] = field(default_factory=list)


def envelope_json(
    batch_rows: list[dict], sync_version: int, sync_type: str, reason_code: int = 0
) -> str:
    """Serialize the change-batch envelope (FIXTURES F4)."""
    return json.dumps(
        {
            "Metadata": {
                "Sync": {
                    "Version": sync_version,
                    "Type": sync_type,
                    "ReasonCode": reason_code,
                }
            },
            "Data": batch_rows,
        },
        default=str,
        separators=(",", ":"),
    )


def iter_envelope_chunks(ordered: DataFrame, max_records: int):
    """Stream a version-ordered batch to the driver in bounded chunks.

    The reference splits >MaxRecordsPerBatch payloads into sequential
    batches inside the HTTP sink (``ExportService.cs:106-129``); here the
    same cap is enforced *at the poll level* so no collect-based sink —
    and no Full initial sync — can ever materialize the whole batch on
    the driver. ``toLocalIterator(prefetchPartitions=False)`` fetches one
    partition at a time, so driver residency is O(max_records + one
    partition), independent of batch size. Shuffle outputs of the sort
    are reused across the per-partition jobs (same RDD lineage), so the
    upstream scan is not recomputed per chunk.
    """
    chunk: list[dict] = []
    for row in ordered.toLocalIterator(prefetchPartitions=False):
        chunk.append(row.asDict(recursive=True))
        if len(chunk) >= max_records:
            yield chunk
            chunk = []
    if chunk:
        yield chunk


def export_fanout(
    payload: str,
    sinks: list[Sink],
    ctx: ExportContext,
    retry: RetryPolicy,
    breakers: dict[str, object] | None = None,
) -> list[SinkFailure]:
    """T6 + T7 + T8: deliver one payload to every sink; failures are
    independent per destination (``ExportService.cs:51-154``)."""
    failures: list[SinkFailure] = []
    for sink in sinks:
        try:
            breaker = (breakers or {}).get(sink.name)
            if breaker is not None:
                breaker.run(retry.run, sink.write, payload, ctx)
            else:
                retry.run(sink.write, payload, ctx)
        except Exception as e:  # noqa: BLE001 — every sink failure is recorded
            retryable = getattr(e, "retryable", True)
            failures.append(SinkFailure(sink.name, str(e), retryable))
    return failures


class PollPipeline:
    """One environment's poller: objects processed sequentially (like the
    reference); environments run concurrently under the Orchestrator."""

    def __init__(
        self,
        spark: SparkSession,
        env: EnvironmentConfig,
        source_fn,  # (spark, TrackingObject) -> outbox DataFrame, or a dict
        # of them by object name (each object's own pushdown and commit)
        sinks: list[Sink],
        state: StateStore,
        dlq: DeadLetterStore,
        pauses: PauseStore | None = None,
        retry: RetryPolicy | None = None,
        min_valid_version_fn=None,  # (TrackingObject) -> int, S7 probe
        horizon_fn=None,  # (spark, TrackingObject) -> int | None, P3 probe
        df_sinks: list[DataFrameSink] | None = None,
    ):
        self.spark = spark
        self.env = env
        self.source_fn = source_fn
        self.sinks = sinks
        self.df_sinks = df_sinks or []
        self.state = state
        self.dlq = dlq
        self.pauses = pauses
        self.retry = retry or RetryPolicy(
            attempts=env.retry_count, delay_seconds=env.retry_delay_seconds
        )
        self.min_valid_version_fn = min_valid_version_fn
        self.horizon_fn = horizon_fn

    # -- one cycle ---------------------------------------------------------

    def run_cycle(self) -> list[CycleResult]:
        results = []
        for obj in self.env.tracking_objects:
            if self.pauses is not None and self.pauses.is_paused(
                self.env.name, obj.name
            ):
                results.append(CycleResult(obj.name, "paused"))
                continue
            results.append(self.poll_object(obj))
            commit = getattr(self._source_of(obj), "commit", None)
            if commit is not None:
                # sources with staged state (snapshot diff) promote it only
                # after the export attempt — a crash earlier re-emits
                commit(obj)
        return results

    def poll_object(self, obj: TrackingObject) -> CycleResult:
        last = self.state.get_last_version(self.env.name, obj.name)

        # mode decision (ChangeTrackingBackgroundService.cs:447-480)
        if last is None:
            outbox = self._source_of(obj)(self.spark, obj)
            if obj.initial_sync_mode == "Full":
                return self._full_sync(obj, outbox)
            return self._seed(obj, outbox)

        from_version = last
        reason = 0
        if self.min_valid_version_fn is not None:
            from_version, reason = cf.min_valid_version_reset(
                last, self.min_valid_version_fn(obj)
            )
            if reason == 1:
                log.warning(
                    "%s/%s: watermark %d below min valid version — full resync",
                    self.env.name, obj.name, last,
                )
                return self._full_sync(
                    obj, self._source_of(obj)(self.spark, obj), reason_code=1
                )

        # incremental: probe the horizon first so pushdown-capable sources
        # (JdbcOutboxSource) carry `version > wm AND xact_id < horizon`
        # inside the generated source SQL instead of post-read filters
        horizon = (
            self.horizon_fn(self.spark, obj) if self.horizon_fn is not None else None
        )
        outbox = self._read_from(obj, from_version, horizon)
        return self._sync(obj, outbox, from_version, horizon)

    def _source_of(self, obj: TrackingObject):
        if isinstance(self.source_fn, dict):
            return self.source_fn[obj.name]
        return self.source_fn

    def _read_from(
        self, obj: TrackingObject, from_version: int, horizon: int | None
    ) -> DataFrame:
        source = self._source_of(obj)
        if getattr(source, "supports_pushdown", False):
            return source(self.spark, obj, from_version=from_version,
                          horizon=horizon)
        return source(self.spark, obj)

    # -- modes -------------------------------------------------------------

    def _seed(self, obj: TrackingObject, outbox: DataFrame) -> CycleResult:
        """S6: store current max version, export nothing; discard any rows."""
        row = outbox.agg(
            F.coalesce(F.max(cf.VERSION), F.lit(0)).alias("v"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        if row["n"] > 0:
            log.warning(
                "%s/%s: source returned %d rows during seed; discarding",
                self.env.name, obj.name, row["n"],
            )
        self.state.set_last_version(self.env.name, obj.name, row["v"])
        return CycleResult(obj.name, "seed", 0, row["v"])

    def _full_sync(
        self, obj: TrackingObject, outbox: DataFrame, reason_code: int = 0
    ) -> CycleResult:
        batch = cf.full_snapshot(outbox)
        return self._export(obj, batch, sync_type="Full", reason_code=reason_code,
                            default_version=0)

    def _sync(
        self,
        obj: TrackingObject,
        outbox: DataFrame,
        from_version: int,
        horizon: int | None = None,
    ) -> CycleResult:
        # outbox_scan re-applies the version/horizon predicates — a no-op
        # for pushdown sources (Catalyst folds them), load-bearing for
        # plain DataFrame sources
        batch = cf.outbox_scan(outbox, from_version, horizon)
        return self._export(obj, batch, sync_type="Diff", default_version=from_version)

    # -- export + commit ---------------------------------------------------

    def _context(self, obj: TrackingObject) -> ExportContext:
        return ExportContext(
            environment=self.env.name,
            database=obj.database,
            object_name=obj.name,
            key=f"{self.env.name}/{obj.name}",
        )

    def _dead_letter_key(self, obj: TrackingObject, sink_name: str) -> str:
        return f"{self.env.name}/{obj.name}/{sink_name}"

    def _dead_letter(self, obj: TrackingObject, fail: SinkFailure, data: str) -> None:
        self.dlq.save(
            source_key=self._dead_letter_key(obj, fail.sink_name),
            tracking_object_name=obj.name,
            environment_name=self.env.name,
            database_name=obj.database,
            data=data,
            error_message=fail.error,
        )

    def _write_df(self, dfs: DataFrameSink, batch: DataFrame,
                  ctx: ExportContext, metadata: dict) -> SinkFailure | None:
        """One ``DataFrameSink`` writes the batch executor-side."""
        try:
            dfs.write_df(batch, ctx, metadata)
        except Exception as e:  # noqa: BLE001
            return SinkFailure(dfs.name, str(e), True)
        return None

    def _export_df(self, obj: TrackingObject, ordered: DataFrame,
                   ctx: ExportContext, metadata: dict,
                   manifest: str) -> list[SinkFailure]:
        """The distributed path's fan-out; failures are independent per
        sink. A ``DataFrameSink`` takes its version ranges in order: while
        it has a dead-lettered manifest, the batch stretches that manifest
        instead of reaching the sink. A failed write dead-letters the
        manifest, not the rows."""
        failures: list[SinkFailure] = []
        for dfs in self.df_sinks:
            key = self._dead_letter_key(obj, dfs.name)
            with self.dlq.hold(key):  # no replay of this sink meanwhile
                pending = self.dlq.first_for(key)
                if pending is None:
                    fail = self._write_df(dfs, ordered, ctx, metadata)
                    if fail is not None:
                        self._dead_letter(obj, fail, manifest)
                else:
                    self.dlq.replace_data(
                        pending["id"], stretch_manifest(pending["data"], manifest)
                    )
                    fail = SinkFailure(
                        dfs.name, f"behind dead letter {pending['id']}", True
                    )
            if fail is not None:
                failures.append(fail)
        return failures

    def _export(
        self,
        obj: TrackingObject,
        batch: DataFrame,
        sync_type: str,
        default_version: int,
        reason_code: int = 0,
    ) -> CycleResult:
        ctx = self._context(obj)
        ordered = batch.orderBy(cf.VERSION)
        failures: list[SinkFailure] = []
        mode = "full" if sync_type == "Full" else "sync"

        # watermark + size computed executor-side — the driver never sees
        # the rows themselves until the bounded chunk iteration below
        agg = batch.agg(
            F.coalesce(F.max(cf.VERSION), F.lit(default_version)).alias("wm"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        new_wm, n_rows = agg["wm"], agg["n"]
        if n_rows == 0:
            return CycleResult(obj.name, "empty", 0, default_version)

        if self.df_sinks:
            # distributed path: batch stays on executors; only the
            # (watermark, count) aggregate touches the driver
            metadata = {
                "Sync": {"Version": new_wm, "Type": sync_type,
                         "ReasonCode": reason_code}
            }
            manifest = batch_manifest(ctx, default_version, new_wm, n_rows,
                                      sync_type, reason_code)
            failures = self._export_df(obj, ordered, ctx, metadata, manifest)
            if not self.sinks or sync_type == "Full":
                # Full syncs route to the distributed path automatically:
                # a snapshot through a collect-based envelope sink is the
                # one shape that grows with table size, not change rate
                if self.sinks:
                    log.info(
                        "%s/%s: full sync routed to distributed sinks; "
                        "%d envelope sink(s) skipped",
                        self.env.name, obj.name, len(self.sinks),
                    )
                self.state.set_last_version(self.env.name, obj.name, new_wm)
                return CycleResult(obj.name, mode, n_rows, new_wm, failures)

        # envelope path: bounded chunks — at most max_records_per_batch
        # rows on the driver at a time, each chunk its own envelope with
        # its own (monotone) chunk-max version; DLQ rows are per-chunk so
        # replay granularity matches what was actually sent
        exported = 0
        for chunk in iter_envelope_chunks(
            ordered, self.env.max_records_per_batch
        ):
            chunk_wm = chunk[-1][cf.VERSION]
            payload = envelope_json(chunk, chunk_wm, sync_type, reason_code)
            chunk_failures = export_fanout(payload, self.sinks, ctx, self.retry)
            # write-ordering: dead letters BEFORE the watermark advance, so
            # a crash between the two re-fetches rather than losing payload
            for fail in chunk_failures:
                self._dead_letter(obj, fail, payload)
            failures += chunk_failures
            exported += len(chunk)
        self.state.set_last_version(self.env.name, obj.name, new_wm)
        return CycleResult(obj.name, mode, exported, new_wm, failures)

    # -- manifest replay ---------------------------------------------------

    def replay_manifest(self, obj_name: str, row: dict) -> bool:
        """Re-deliver the dead-lettered distributed batch ``row``: re-read
        the object's source, rebuild ``(from_version, to_version]`` the way
        the cycle built it, and write it to the one ``DataFrameSink`` whose
        dead letter it is. The watermark is never touched. A delivered row
        is deleted under the sink's hold, so no cycle stretches it after.
        Raises when the object or sink is gone or the source is staged."""
        obj = next((o for o in self.env.tracking_objects if o.name == obj_name),
                   None)
        key = row["source_key"]
        dfs = next((d for d in self.df_sinks if obj is not None
                    and self._dead_letter_key(obj, d.name) == key), None)
        if dfs is None:
            raise LookupError(f"{key}: no such DataFrame sink")
        source = self._source_of(obj)
        if getattr(source, "commit", None) is not None:
            # a staged source (snapshot diff) holds only its next diff
            raise ValueError(f"{key}: a staged source cannot re-read a past "
                             "version range")
        with self.dlq.hold(key):
            row = self.dlq.get(row["id"])  # a cycle may have stretched it
            if row is None:
                return True  # delivered or purged meanwhile
            m = read_manifest(row["data"])
            if m["type"] == "Full":
                batch = cf.full_snapshot(source(self.spark, obj))
            else:
                lo = m["from_version"]
                batch = cf.outbox_scan(self._read_from(obj, lo, None), lo)
            hi = m["to_version"]
            batch = batch.filter(F.col(cf.VERSION) <= F.lit(hi)).orderBy(cf.VERSION)
            metadata = {"Sync": {"Version": hi, "Type": m["type"],
                                 "ReasonCode": m["reason_code"]}}
            if self._write_df(dfs, batch, self._context(obj), metadata):
                return False
            self.dlq.delete(row["id"])
            return True
