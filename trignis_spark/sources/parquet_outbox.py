"""Parquet outbox source: an atomic file appender and a batch reader.

An append-only directory of parquet files with a monotone version
column is the file-system twin of the PG outbox table — each new file
is a committed batch of change events. ``read_outbox`` is a plain
``source_fn`` body for ``PollPipeline``: the poller's watermark, not a
stream checkpoint, decides which versions a cycle exports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: The engine's change-event schema over the outbox (FIXTURES F2 shape).
OUTBOX_FIELDS = (
    "version long, xact_id long, operation string, user_key long, "
    "changed array<string>, ts timestamp, value double, props string"
)


def outbox_schema() -> StructType:
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(OUTBOX_FIELDS)


def append_outbox_files(table, path: str) -> str:
    """Atomically append one committed parquet file to a feed
    directory. ``table`` is a ``pyarrow.Table`` (or anything
    ``pa.table`` accepts). The file is written to a hidden temp name
    and ``os.replace``d into place, so a concurrent reader — a poll
    cycle's ``read_outbox`` scan, a second process on shared storage —
    can never observe a half-written parquet
    (VERDICT r10: a mid-write read raised ``Invalid column metadata``
    under disk contention). Returns the committed file path.

    Spark-side producers (``df.write.mode("append").parquet``) are
    already rename-committed; this is the same contract for Python
    producers (fixtures, backfills, out-of-band repair scripts)."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not isinstance(table, pa.Table):
        table = pa.table(table)
    os.makedirs(path, exist_ok=True)
    name = f"batch-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    final = os.path.join(path, name)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, final)  # atomic on POSIX
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return final


def read_outbox(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    return spark.read.schema(schema or outbox_schema()).parquet(path)

