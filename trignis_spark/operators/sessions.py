"""Sessionization: gaps-and-islands session assignment over an event stream.

The reference has no session concept (its stream is a CDC change feed),
but a training-data / product-analytics pipeline over the same events
needs it constantly: group a user's events into sessions separated by an
inactivity gap. Batch form here (two window functions — lag to mark
session starts, running sum to number them). It runs over any batch,
including a poll cycle's change batch; there is no streaming form.

Scale notes: one shuffle on the user key; both window passes share the
same (partitionBy user, orderBy ts) sort, so Spark plans a single
exchange + sort. Skewed users (bots) are the known hazard — cap events
per user upstream or salt-split their sessions downstream.

Determinism: ordering ties broken by the event id; the gap test runs on
second-truncated timestamps so engines with different sub-second
boundary-crossing semantics (Spark ``timestampdiff`` truncates, DuckDB
``date_diff`` counts crossings) agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign ``session_no`` (1-based, per user, in time order) to every
    event. A new session starts when the second-truncated gap to the
    previous event exceeds ``gap_seconds``.

    Raises if the input already carries the internal temp columns or the
    ``session_no`` output — re-sessionizing an already-sessionized frame
    would otherwise silently clobber them (withColumn replaces same-named
    columns without warning).
    """
    reserved = {"_prev_sec", "_is_new", "session_no"}
    clash = reserved.intersection(events.columns)
    if clash:
        raise ValueError(
            f"sessionize: input already has column(s) {sorted(clash)}; "
            "rename or drop them before re-sessionizing"
        )
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    sec = F.date_trunc("second", F.col(ts_col))
    prev = F.lag(sec).over(w)
    is_new = F.when(
        F.col("_prev_sec").isNull()
        | (
            F.expr(
                f"timestampdiff(SECOND, _prev_sec, date_trunc('second', {ts_col}))"
            )
            > gap_seconds
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        events.withColumn("_prev_sec", prev)
        .withColumn("_is_new", is_new)
        .withColumn(
            "session_no",
            F.sum("_is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .drop("_prev_sec", "_is_new")
    )


def sessionize_chunked(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_seconds: int = 1800,
    chunk_seconds: int = 86400,
) -> DataFrame:
    """Skew-resistant sessionize — identical output to :func:`sessionize`
    (equivalence-tested), but the big ordered window is partitioned by
    ``(user, time-chunk)`` instead of user alone, so one bot user's
    events spread over ``span / chunk_seconds`` partitions instead of
    funneling through a single task.

    Two-level prefix-sum: sessions are numbered locally within each
    chunk, then a per-``(user, chunk)`` summary (one row per chunk —
    thousands of times smaller than the events) is windowed per user to
    (a) decide whether each chunk's first event continues the previous
    chunk's last session (the cross-boundary lag) and (b) accumulate the
    session-count base each chunk starts from. ``global session_no =
    base + local_no - continues``. The stitch window runs over summary
    rows only, so the per-user work is O(active chunks), never O(events).
    """
    reserved = {
        "_chunk", "_sec", "_prev_sec", "_is_new", "_local_no",
        "_first_sec", "_last_sec", "_n_local", "_prev_last",
        "_continues", "_base", "session_no",
    }
    clash = reserved.intersection(events.columns)
    if clash:
        raise ValueError(
            f"sessionize_chunked: input already has column(s) "
            f"{sorted(clash)}; rename or drop them first"
        )
    # chunk id from a fixed NTZ anchor — timezone-free and deterministic
    sec_epoch = F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
        f"date_trunc('second', {ts_col}))"
    )
    ev = events.withColumn("_sec", F.date_trunc("second", F.col(ts_col)))
    ev = ev.withColumn(
        "_chunk", F.floor(sec_epoch / F.lit(chunk_seconds)).cast("long")
    )
    wl = Window.partitionBy(user_col, "_chunk").orderBy(ts_col, id_col)
    ev = ev.withColumn("_prev_sec", F.lag("_sec").over(wl)).withColumn(
        "_is_new",
        F.when(
            F.col("_prev_sec").isNull()
            | (
                F.expr("timestampdiff(SECOND, _prev_sec, _sec)")
                > gap_seconds
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    ev = ev.withColumn(
        "_local_no",
        F.sum("_is_new").over(
            wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    summary = ev.groupBy(user_col, "_chunk").agg(
        F.min("_sec").alias("_first_sec"),
        F.max("_sec").alias("_last_sec"),
        F.max("_local_no").alias("_n_local"),
    )
    ws = Window.partitionBy(user_col).orderBy("_chunk")
    summary = summary.withColumn(
        "_prev_last", F.lag("_last_sec").over(ws)
    ).withColumn(
        "_continues",
        F.when(
            F.expr("timestampdiff(SECOND, _prev_last, _first_sec)")
            <= gap_seconds,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    summary = summary.withColumn(
        "_base",
        F.sum(F.col("_n_local") - F.col("_continues")).over(
            ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - (F.col("_n_local") - F.col("_continues")),
    ).select(user_col, "_chunk", "_continues", "_base")
    out = ev.join(summary, [user_col, "_chunk"]).withColumn(
        "session_no",
        F.col("_base") + F.col("_local_no") - F.col("_continues"),
    )
    return out.drop(
        "_chunk", "_sec", "_prev_sec", "_is_new", "_local_no",
        "_continues", "_base",
    )


def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_seconds: int = 1800,
    value_col: str = "value",
) -> DataFrame:
    """Per-session rollup: event count, start/end, exact-decimal value
    total (cast to double once, per the engine's determinism rules)."""
    s = sessionize(events, user_col, ts_col, id_col, gap_seconds)
    return s.groupBy(user_col, "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.sum(F.col(value_col).cast("decimal(20,6)"))
        .cast("double")
        .alias("total_value"),
    )
