"""Query registry: every implemented operator exposed as a (Spark, oracle-SQL) pair.

This is the driver-facing inventory (``__spark_entry__`` is a thin shim over
it). Each entry maps one operator family from SURVEY.md §2 onto the
driver's parquet tables; the oracle SQL is the same computation in ANSI
SQL for DuckDB.

Determinism rules (so value-hashes match across engines):
- float aggregates go through exact DECIMAL accumulation, then one cast
  to DOUBLE (order-independent, bit-identical in both engines);
- raw doubles are only passed through or combined with a fixed
  expression-tree shape (IEEE ops are deterministic given identical
  operand order);
- arrays are emitted as comma-joined strings; timestamps as formatted
  strings; every top-k has a total-order tie-break.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trignis_spark.operators import changefeed as cf
from trignis_spark.tables import load

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Shared fixtures: the events table viewed as a versioned outbox.
# Fixed poll parameters used by the incremental-scan queries; the horizon
# is probed from the source (max assigned commit id minus an in-flight
# allowance), mirroring pg_snapshot_xmin (SURVEY §1.4).
# --------------------------------------------------------------------------

WM = 500  # stored watermark for the simulated poll cycle

_OUTBOX_SQL = """
    SELECT event_id AS version,
           event_id + (user_id % 5) AS xact_id,
           CASE event_type WHEN 'signup' THEN 'I'
                           WHEN 'error' THEN 'D'
                           ELSE 'U' END AS operation,
           user_id AS user_key,
           CASE WHEN event_type = 'click' THEN ['value']
                WHEN event_type = 'view' THEN ['value', 'props']
                WHEN event_type = 'purchase' THEN ['value', 'event_type']
           END AS changed,
           ts, event_type, value, props
    FROM events
"""
_HORIZON_SQL = "(SELECT max(event_id) - 2 FROM events)"


def _outbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cf.events_as_outbox(load(spark, sf_dir, "events"))


#: one horizon probe per (session, sf_dir) — the registry's incremental
#: queries all share the same horizon scalar over the same static
#: parquet, and a real pipeline probes it once per poll cycle in the
#: planner (sources/jdbc.py), not once per query; re-scanning events for
#: it in every registered query was pure gate latency (VERDICT r4 #6)
_HORIZON_CACHE: dict[tuple[str, str], int] = {}


def _horizon(spark: SparkSession, sf_dir: str) -> int:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _HORIZON_CACHE:
        _HORIZON_CACHE[key] = (
            load(spark, sf_dir, "events").agg(F.max("event_id") - 2).first()[0]
        )
    return _HORIZON_CACHE[key]


def _changed_csv():
    return F.array_join(F.col(cf.CHANGED), ",").alias("changed_cols")


# --------------------------------------------------------------------------
# Change-feed operators (SURVEY §2.1 S2/S3/S6, §2.2 P2-P5, §2.4 A1/A2)
# --------------------------------------------------------------------------


@register(
    "cf_outbox_scan",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT version, xact_id, operation, user_key,
           array_to_string(changed, ',') AS changed_cols,
           event_type, value, props
    FROM outbox
    WHERE version > {WM} AND xact_id < {_HORIZON_SQL}
    """,
)
def cf_outbox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 + P2 + P3: incremental outbox scan bounded by the commit horizon."""
    scan = cf.outbox_scan(_outbox(spark, sf_dir), WM, _horizon(spark, sf_dir))
    return scan.select(
        "version", "xact_id", "operation", "user_key",
        _changed_csv(), "event_type", "value", "props",
    )


@register(
    "cf_full_snapshot",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT version, 'I' AS operation, user_key, event_type, value, props
    FROM outbox
    """,
)
def cf_full_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: full-sync scan — whole table as insert events."""
    return cf.full_snapshot(_outbox(spark, sf_dir)).select(
        "version", "operation", "user_key", "event_type", "value", "props"
    )


@register(
    "cf_seed_zero_rows",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT version, operation, user_key FROM outbox WHERE false
    """,
)
def cf_seed_zero_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/P7: seed handshake returns a schema-stable empty batch."""
    return cf.seed_frame(_outbox(spark, sf_dir)).select(
        "version", "operation", "user_key"
    )


@register(
    "cf_horizon_watermark",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT coalesce(max(version), {WM}) AS new_watermark
    FROM outbox WHERE version > {WM} AND xact_id < {_HORIZON_SQL}
    """,
)
def cf_horizon_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: next watermark computed through the same horizon as the scan."""
    return cf.horizon_watermark(_outbox(spark, sf_dir), WM, _horizon(spark, sf_dir))


@register(
    "cf_batch_watermark",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT coalesce(max(version), {WM}) AS new_watermark,
           count(*) AS exported_rows
    FROM outbox
    WHERE version > {WM} AND xact_id < {_HORIZON_SQL}
    """,
)
def cf_batch_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: max-version watermark over the exported batch, count alongside."""
    scan = cf.outbox_scan(_outbox(spark, sf_dir), WM, _horizon(spark, sf_dir))
    return cf.batch_watermark(scan, WM)


@register(
    "cf_column_mask",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT version, operation, user_key,
           array_to_string(changed, ',') AS changed_cols,
           CASE WHEN operation = 'I' OR list_contains(coalesce(changed, []), 'event_type')
                THEN event_type END AS event_type,
           CASE WHEN operation = 'I' OR list_contains(coalesce(changed, []), 'value')
                THEN value END AS value,
           CASE WHEN operation = 'I' OR list_contains(coalesce(changed, []), 'props')
                THEN props END AS props
    FROM outbox
    WHERE version > {WM}
      AND (operation <> 'U' OR len(coalesce(changed, [])) > 0)
    """,
)
def cf_column_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 + P5: drop no-op updates, then emit per-column values only when
    inserted or named in the $changed mask (else NULL)."""
    scan = cf.outbox_scan(_outbox(spark, sf_dir), WM)
    masked = cf.mask_columns(
        cf.changed_filter(scan), tracked=("event_type", "value", "props")
    )
    return masked.select(
        "version", "operation", "user_key", _changed_csv(),
        "event_type", "value", "props",
    )


# --------------------------------------------------------------------------
# Snapshot-diff change feed (SURVEY §7.2 step 3; postgres.column.sql trigger)
# --------------------------------------------------------------------------

_DIFF_OLD_SQL = "SELECT * FROM orders WHERE o_orderkey % 83 <> 0"
_DIFF_NEW_SQL = """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
           o_orderpriority
    FROM orders WHERE o_orderkey % 97 <> 0
"""


def _diff_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.expr("o_orderkey % 83 <> 0"))
    new = orders.filter(F.expr("o_orderkey % 97 <> 0")).select(
        "o_orderkey",
        F.expr(
            "CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END"
        ).alias("o_orderstatus"),
        F.expr(
            "CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END"
        ).alias("o_totalprice"),
        "o_orderpriority",
    )
    return old, new


@register(
    "cf_snapshot_diff",
    f"""
    WITH old AS ({_DIFF_OLD_SQL}), new AS ({_DIFF_NEW_SQL}),
    j AS (
      SELECT old.o_orderkey AS ok, new.o_orderkey AS nk,
             old.o_orderstatus AS os, new.o_orderstatus AS ns,
             old.o_totalprice AS op_, new.o_totalprice AS np_,
             old.o_orderpriority AS opr, new.o_orderpriority AS npr
      FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey),
    d AS (
      SELECT *,
        list_filter([
          CASE WHEN os IS DISTINCT FROM ns THEN 'o_orderstatus' END,
          CASE WHEN op_ IS DISTINCT FROM np_ THEN 'o_totalprice' END,
          CASE WHEN opr IS DISTINCT FROM npr THEN 'o_orderpriority' END],
          x -> x IS NOT NULL) AS mask,
        CASE WHEN ok IS NOT NULL AND nk IS NULL THEN 'D'
             WHEN ok IS NULL AND nk IS NOT NULL THEN 'I' END AS io
      FROM j)
    SELECT coalesce(io, 'U') AS operation,
           CASE WHEN coalesce(io, 'U') = 'U' THEN array_to_string(mask, ',') END AS changed_cols,
           coalesce(nk, ok) AS o_orderkey,
           CASE WHEN coalesce(io, 'U') <> 'D' THEN ns END AS o_orderstatus,
           CASE WHEN coalesce(io, 'U') <> 'D' THEN np_ END AS o_totalprice,
           CASE WHEN coalesce(io, 'U') <> 'D' THEN npr END AS o_orderpriority
    FROM d
    WHERE io IS NOT NULL OR len(mask) > 0
    """,
)
def cf_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed from successive snapshots: full-outer join on the PK →
    I/U/D + per-column IS-DISTINCT-FROM mask. Mutations are simulated
    deterministically from `orders` so the oracle can reproduce them."""
    old, new = _diff_frames(spark, sf_dir)
    diff = cf.snapshot_diff(
        old, new,
        key_cols=("o_orderkey",),
        tracked_cols=("o_orderstatus", "o_totalprice", "o_orderpriority"),
    )
    return diff.select(
        "operation",
        F.when(F.col("operation") == "U", F.array_join("changed", ",")).alias(
            "changed_cols"
        ),
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
    )


# --------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# --------------------------------------------------------------------------


@register(
    "j1_change_base_join",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT o.version, o.operation, o.user_key, c.c_name, c.c_mktsegment
    FROM outbox o LEFT OUTER JOIN customer c ON o.user_key = c.c_custkey
    WHERE o.version > {WM}
    """,
)
def j1_change_base_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: change-side outer join to the base table — deletes survive with
    NULL base columns. The base/dim side is broadcast (small at any sf
    relative to the change stream)."""
    changes = cf.outbox_scan(_outbox(spark, sf_dir), WM)
    base = load(spark, sf_dir, "customer")
    return changes.join(
        F.broadcast(base), changes.user_key == base.c_custkey, "left_outer"
    ).select("version", "operation", "user_key", "c_name", "c_mktsegment")


@register(
    "j4_interval_overlap",
    """
    WITH iv AS (
      SELECT event_id, user_id, ts AS started_at,
             ts + to_seconds(CAST(FLOOR(value) AS BIGINT)) AS ended_at
      FROM events)
    SELECT a.user_id AS env, a.event_id AS a_id, b.event_id AS b_id
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND a.started_at < b.ended_at AND b.started_at < a.ended_at
    """,
)
def j4_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: interval-overlap self-join — the reference's duplicate-poller
    stress oracle (DuplicatePollerStressTests.cs:74-82). Equijoin on the
    partition key (user) keeps the theta part local to each group."""
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "event_id",
        "user_id",
        F.col("ts").alias("started_at"),
        F.expr("ts + make_interval(0, 0, 0, 0, 0, 0, CAST(FLOOR(value) AS BIGINT))").alias(
            "ended_at"
        ),
    )
    a, b = iv.alias("a"), iv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.started_at") < F.col("b.ended_at"))
            & (F.col("b.started_at") < F.col("a.ended_at")),
        )
        .select(
            F.col("a.user_id").alias("env"),
            F.col("a.event_id").alias("a_id"),
            F.col("b.event_id").alias("b_id"),
        )
    )


# --------------------------------------------------------------------------
# Dead-letter monitor aggregations (SURVEY §2.4 A4-A6, §2.5 W2/W3, §2.6 D1)
# --------------------------------------------------------------------------

_ANCHOR = "2024-03-01 00:00:00"


@register(
    "a4_deadletter_windows",
    f"""
    SELECT count(*) AS total,
           count(CASE WHEN ts >= TIMESTAMP '{_ANCHOR}' - INTERVAL 1 HOUR THEN 1 END) AS last_hour,
           count(CASE WHEN ts >= TIMESTAMP '{_ANCHOR}' - INTERVAL 24 HOUR THEN 1 END) AS last_day,
           count(CASE WHEN ts >= TIMESTAMP '{_ANCHOR}' - INTERVAL 7 DAY THEN 1 END) AS last_week
    FROM events WHERE event_type = 'error' AND ts < TIMESTAMP '{_ANCHOR}'
    """,
)
def a4_deadletter_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: multi-window conditional counts in one pass (DeadLetterMonitor
    stats), error events standing in for dead letters."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "error") & (F.col("ts") < F.lit(_ANCHOR).cast("timestamp_ntz"))
    )
    anchor = F.lit(_ANCHOR).cast("timestamp_ntz")
    return ev.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("ts") >= anchor - F.expr("INTERVAL 1 HOUR"), 1)).alias("last_hour"),
        F.count(F.when(F.col("ts") >= anchor - F.expr("INTERVAL 24 HOUR"), 1)).alias("last_day"),
        F.count(F.when(F.col("ts") >= anchor - F.expr("INTERVAL 7 DAY"), 1)).alias("last_week"),
    )


@register(
    "a5_top_failing_objects",
    """
    SELECT user_id, count(*) AS failure_count
    FROM events WHERE event_type = 'error'
    GROUP BY user_id
    ORDER BY failure_count DESC, user_id
    LIMIT 5
    """,
)
def a5_top_failing_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: top-k failing objects — groupBy + ordered limit with a total
    tie-break so the k-th row is deterministic."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("failure_count"))
        .orderBy(F.desc("failure_count"), F.asc("user_id"))
        .limit(5)
    )


@register(
    "a6_most_common_error",
    """
    SELECT props AS error_message, count(*) AS occurrences
    FROM events WHERE event_type = 'error'
    GROUP BY props
    ORDER BY occurrences DESC, error_message
    LIMIT 1
    """,
)
def a6_most_common_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: most-common error message (mode with deterministic tie-break)."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .groupBy(F.col("props").alias("error_message"))
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("error_message"))
        .limit(1)
    )


@register(
    "w3_replay_page",
    """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events WHERE event_type = 'error'
    ORDER BY ts DESC, event_id DESC
    LIMIT 25 OFFSET 25
    """,
)
def w3_replay_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3: ordered bounded batch + pagination (replay queue / DLQ UI)."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .select(
            "event_id", "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .offset(25)
        .limit(25)
    )


@register(
    "d1_dedup_content_hash",
    """
    SELECT event_id, user_id, event_type, value
    FROM (
      SELECT event_id, user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, event_type, value
                                ORDER BY event_id) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def d1_dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: content dedup — first event per (user, type, value) content key,
    deterministic keep-lowest-id (the DLQ's UNIQUE(SourceKey, DataHash))."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type", "value").orderBy("event_id")
    return (
        load(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# Relational/analytics headliners over the TPC-H-ish tables (generic
# agg/join coverage; also the bench workload).
# --------------------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS DECIMAL(20,6))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary. Aggregates accumulate in exact
    DECIMAL (order-independent) and convert to DOUBLE once at the end."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate <= TIMESTAMP_NTZ'1998-09-02 00:00:00'")
    )
    dec = lambda c: F.col(c).cast("decimal(20,6)")  # noqa: E731
    disc_price = F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))")
    charge = F.expr(
        "CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS DECIMAL(20,6))"
    )
    cnt = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(dec("l_quantity")).cast("double") / cnt).alias("avg_qty"),
        (F.sum(dec("l_extendedprice")).cast("double") / cnt).alias("avg_price"),
        (F.sum(dec("l_discount")).cast("double") / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


def queries() -> dict[str, SparkQuery]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)


# --------------------------------------------------------------------------
# Ordered export + DLQ replay scheduling (SURVEY §2.4 A3, §2.8 T9)
# --------------------------------------------------------------------------


@register(
    "a3_ordered_export",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT user_key,
           string_agg(version, ',' ORDER BY version) AS version_seq,
           count(*) AS n_events
    FROM outbox WHERE version > {WM}
    GROUP BY user_key
    """,
)
def a3_ordered_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/W1: deterministic per-key ordered event aggregation — the
    json_agg(... ORDER BY id) / FOR JSON PATH export shape, with the
    ordering done via sort_array (no global sort)."""
    scan = cf.outbox_scan(_outbox(spark, sf_dir), WM)
    return scan.groupBy("user_key").agg(
        F.expr(
            "array_join(transform(sort_array(collect_list(version)), "
            "v -> CAST(v AS STRING)), ',')"
        ).alias("version_seq"),
        F.count(F.lit(1)).alias("n_events"),
    )


_DLQ_ANCHOR = "2024-02-01 00:00:00"


@register(
    "dlq_due_for_replay",
    f"""
    WITH dlq AS (
      SELECT event_id AS source_key, user_id,
             CAST(user_id % 6 AS INT) AS attempts, ts
      FROM events WHERE event_type = 'error')
    SELECT source_key, attempts,
           strftime(ts + to_seconds(LEAST(60 * (1 << attempts), 21600)),
                    '%Y-%m-%d %H:%M:%S') AS next_attempt_s
    FROM dlq
    WHERE attempts < 5
      AND ts + to_seconds(LEAST(60 * (1 << attempts), 21600))
          <= TIMESTAMP '{_DLQ_ANCHOR}'
    ORDER BY ts, source_key
    LIMIT 25
    """,
)
def dlq_due_for_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: dead-letter replay sweep — rows whose exponential backoff
    (60s·2^attempts, capped 6h) has elapsed, oldest first, batch of 25,
    max 5 attempts (DeadLetterReplayService.cs:112-141)."""
    dlq = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("source_key"),
            F.expr("CAST(user_id % 6 AS INT)").alias("attempts"),
            "ts",
        )
        .withColumn(
            "next_attempt",
            F.expr(
                "ts + make_interval(0, 0, 0, 0, 0, 0, "
                "LEAST(60 * (1 << attempts), 21600))"
            ),
        )
    )
    return (
        dlq.filter(
            (F.col("attempts") < 5)
            & (F.col("next_attempt") <= F.lit(_DLQ_ANCHOR).cast("timestamp_ntz"))
        )
        .orderBy("ts", "source_key")
        .select(
            "source_key",
            "attempts",
            F.date_format("next_attempt", "yyyy-MM-dd HH:mm:ss").alias(
                "next_attempt_s"
            ),
        )
        .limit(25)
    )


# --------------------------------------------------------------------------
# Text analysis (token stats, quality, lang-id, fingerprints)
# --------------------------------------------------------------------------

from trignis_spark.functions import portable as pf  # noqa: E402
from trignis_spark.operators import dedup as dd  # noqa: E402
from trignis_spark.operators import multimodal as mm  # noqa: E402
from trignis_spark.operators import similarity as sim  # noqa: E402
from trignis_spark.operators import text as tx  # noqa: E402

_DTOK = "string_split_regex(text, '\\s+')"
_DNORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


@register(
    "text_token_stats",
    f"""
    WITH t AS (SELECT doc_id, text, {_DTOK} AS tokens FROM documents)
    SELECT doc_id,
           CAST(len(tokens) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           CAST((length(text) + 3) // 4 AS BIGINT) AS n_subword_est,
           {pf.sum_lengths(pf.DUCK, 'tokens')} AS token_chars
    FROM t
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_stats(load(spark, sf_dir, "documents"))


def _duck_quality_cols() -> str:
    stop = pf.count_in_list(pf.DUCK, "tokens", tx.STOPWORDS)
    toklen = pf.sum_lengths(pf.DUCK, "tokens")
    return f"""
      CAST(len(tokens) AS BIGINT) AS n_tokens,
      CAST({stop} AS DOUBLE) / len(tokens) AS stopword_ratio,
      CAST({toklen} AS DOUBLE) / len(tokens) AS avg_token_len,
      CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        / length(text) AS punct_ratio
    """


@register(
    "text_quality_score",
    f"""
    WITH t AS (SELECT doc_id, text, {_DTOK} AS tokens FROM documents),
    d AS (SELECT doc_id, {_duck_quality_cols()} FROM t)
    SELECT doc_id, n_tokens, stopword_ratio, avg_token_len, punct_ratio,
           LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
             CAST(0.2 AS DOUBLE) + CAST(0.1 AS DOUBLE) * avg_token_len
             - CAST(0.5 AS DOUBLE) * stopword_ratio
             - CAST(2.0 AS DOUBLE) * punct_ratio)) AS quality_score
    FROM d
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_scores(load(spark, sf_dir, "documents"))


def _duck_lang_sql() -> str:
    counts = ", ".join(
        f"{pf.count_in_list(pf.DUCK, 'tokens', words)} AS c_{lg}"
        for lg, words in tx.LANG_MARKERS.items()
    )
    langs = list(tx.LANG_MARKERS)
    branches = []
    for i, lg in enumerate(langs[:-1]):
        geq = " AND ".join(f"c_{lg} >= c_{o}" for o in langs[i + 1 :])
        branches.append(f"WHEN {geq} THEN '{lg}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"
    return f"""
    WITH t AS (SELECT doc_id, lang, {_DTOK} AS tokens FROM documents),
    c AS (SELECT doc_id, lang, {counts} FROM t),
    p AS (SELECT doc_id, lang, {case} AS predicted_lang FROM c)
    SELECT doc_id, predicted_lang, predicted_lang = lang AS label_match FROM p
    """


@register("text_lang_id", _duck_lang_sql())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.lang_id(load(spark, sf_dir, "documents"))


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           {pf.sha256_hex(pf.DUCK, _DNORM)} AS fp_sha256,
           {pf.rolling_hash(pf.DUCK, _DNORM)} AS fp_rolling
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprints(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Dedup: exact / n-gram Jaccard / MinHash-LSH / SimHash
# --------------------------------------------------------------------------

_DTH = pf.token_hashes(pf.DUCK, "tokens")
_DSHINGLES = pf.shingle_hashes(pf.DUCK, "th", 3)
_DSH_TABLE = f"""
    toks AS (SELECT doc_id, {_DTOK} AS tokens FROM documents),
    thx AS (SELECT doc_id, {_DTH} AS th FROM toks),
    shl AS (SELECT doc_id, list_distinct({_DSHINGLES}) AS shingles FROM thx),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id)
"""
_DJACCARD = """
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS isz
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jac AS (
      SELECT d1, d2, CAST(isz AS DOUBLE) / (s1.sz + s2.sz - isz) AS jaccard
      FROM inter
      JOIN sizes s1 ON s1.doc_id = d1
      JOIN sizes s2 ON s2.doc_id = d2)
"""


@register(
    "dedup_exact",
    f"""
    SELECT {pf.sha256_hex(pf.DUCK, _DNORM)} AS content_hash,
           min(doc_id) AS canonical_doc_id,
           count(*) AS copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_duplicates(load(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_DSH_TABLE}, {_DJACCARD}
    SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dd.shingle_table(load(spark, sf_dir, "documents"))
    return dd.jaccard_pairs(sh, threshold=0.8)


#: planted near-dup twins (VERDICT r5 #2): the fixtures carry no
#: cos ≥ 0.9 / J ≥ 0.8 boundary mass at every sf, so the tight-threshold
#: production forms' gate rows could pass vacuously (0 = 0). These
#: queries plant deterministic near-duplicates *inside the query* —
#: every 53rd document gets a copy with two appended tokens, every 97th
#: vector an ε-shifted copy — and return the operator-recovered planted
#: pairs, while the ORACLE computes each planted pair's exact
#: similarity DIRECTLY (no blocking). A blocking recall miss therefore
#: fails the gate as a row-count mismatch, not silently: the gate now
#: asserts planted-pair recall, not just agreement.
PLANT_STRIDE = 10_000_000


@register(
    "dedup_ngram_jaccard_planted",
    f"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {PLANT_STRIDE},
             text || ' zzplantalpha zzplantbeta'
      FROM documents WHERE doc_id % 53 = 0),
    toks AS (SELECT doc_id, {_DTOK} AS tokens FROM aug),
    thx AS (SELECT doc_id, {_DTH} AS th FROM toks),
    shl AS (SELECT doc_id, list_distinct({_DSHINGLES}) AS shingles
            FROM thx),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM shl),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS isz
      FROM ex a JOIN ex b
        ON b.doc_id = a.doc_id + {PLANT_STRIDE}
       AND b.shingle = a.shingle
      WHERE a.doc_id % 53 = 0 AND a.doc_id < {PLANT_STRIDE}
      GROUP BY 1, 2),
    jac AS (
      SELECT d1, d2, CAST(isz AS DOUBLE) / (s1.sz + s2.sz - isz) AS jaccard
      FROM inter
      JOIN sizes s1 ON s1.doc_id = d1
      JOIN sizes s2 ON s2.doc_id = d2)
    SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.8
    """,
)
def dedup_ngram_jaccard_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Non-vacuous recall gate for the prefix-filtered Jaccard dedup:
    the Spark side runs the full production operator (`jaccard_pairs`
    with its SSJoin prefix filter) over the plant-augmented corpus and
    returns the planted pairs it recovered; the oracle computes each
    planted pair's exact Jaccard directly, with no candidate
    generation at all. Equality proves the prefix filter's
    losslessness against a blocking-free truth on every gate run —
    if pruning ever drops a boundary pair, this row mismatches."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plant = docs.filter(F.expr("doc_id % 53 = 0")).select(
        (F.col("doc_id") + F.lit(PLANT_STRIDE)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzplantalpha zzplantbeta")).alias(
            "text"
        ),
    )
    pairs = dd.jaccard_pairs(
        dd.shingle_table(docs.unionByName(plant)), threshold=0.8
    )
    return pairs.filter(
        (F.col("d2") - F.col("d1") == PLANT_STRIDE)
        & (F.col("d1") % 53 == 0)
    )


def _duck_minhash_sql() -> str:
    mins = ", ".join(
        f"min((x * {a} + {b}) % {pf.P31}) AS mh{j}"
        for j, (a, b) in enumerate(pf.MINHASH_PERMS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, mh{2*bi} AS h1, mh{2*bi+1} AS h2 FROM sig"
        for bi in range(4)
    )
    return f"""
    WITH {_DSH_TABLE},
    xh AS (SELECT doc_id, shingle AS x FROM ex),
    sig AS (SELECT doc_id, {mins} FROM xh GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
       AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.d1, c.d2, count(*) AS isz
      FROM cand c
      JOIN ex sa ON sa.doc_id = c.d1
      JOIN ex sb ON sb.doc_id = c.d2 AND sb.shingle = sa.shingle
      GROUP BY 1, 2)
    SELECT i.d1, i.d2,
           CAST(isz AS DOUBLE) / (s1.sz + s2.sz - isz) AS jaccard
    FROM inter i
    JOIN sizes s1 ON s1.doc_id = i.d1
    JOIN sizes s2 ON s2.doc_id = i.d2
    WHERE CAST(isz AS DOUBLE) / (s1.sz + s2.sz - isz) >= 0.5
    """


@register("dedup_minhash_lsh", _duck_minhash_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


def _duck_simhash_sql() -> str:
    return f"""
    WITH toks AS (SELECT doc_id, {_DTOK} AS tokens FROM documents),
    thx AS (SELECT doc_id, {_DTH} AS th FROM toks),
    feats AS (SELECT doc_id, unnest({_DSHINGLES}) AS shingle FROM thx),
    sh AS (SELECT doc_id, {pf.simhash32(pf.DUCK, 'shingle')} AS simhash
           FROM feats GROUP BY doc_id)
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           {pf.hamming32(pf.DUCK, 'a.simhash', 'b.simhash')} AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE {pf.hamming32(pf.DUCK, 'a.simhash', 'b.simhash')} <= 6
    """


@register("dedup_simhash", _duck_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs: Spark side uses lossless 8x4-bit band blocking
    (equijoin); oracle uses the naive cross join — identical output."""
    pairs = dd.simhash_pairs(load(spark, sf_dir, "documents"), max_hamming=6)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


def _duck_simhash_wide_sql(max_hamming: int = 3) -> str:
    return f"""
    WITH toks AS (SELECT doc_id, {_DTOK} AS tokens FROM documents),
    thx AS (SELECT doc_id, {_DTH} AS th FROM toks),
    feats AS (SELECT doc_id, unnest({_DSHINGLES}) AS shingle FROM thx),
    sh AS (SELECT doc_id, {pf.simhash_wide(pf.DUCK, 'shingle')} AS simhash
           FROM feats GROUP BY doc_id)
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           {pf.hamming32(pf.DUCK, 'a.simhash', 'b.simhash')} AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE {pf.hamming32(pf.DUCK, 'a.simhash', 'b.simhash')} <= {max_hamming}
    """


@register("dedup_simhash_scaled", _duck_simhash_wide_sql())
def dedup_simhash_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale SimHash shape (Manku-style): 62-bit fingerprint,
    Hamming ≤ 3, four ~16-bit blocking bands. Same lossless-banding
    guarantee as dedup_simhash, but the band value space is ~32k instead
    of 16, so bucket occupancy — and the candidate equijoin — stays
    near-linear as the corpus grows (the 32-bit variant went quadratic
    at 10× the bench corpus). Oracle replays the naive cross join."""
    pairs = dd.simhash_wide_pairs(
        load(spark, sf_dir, "documents"), max_hamming=3
    )
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

_DDOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), (x, y) -> x + y)"
)
_DNORM2 = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({a}, x -> x * x)), (acc, v) -> acc + v)"
)


@register(
    "ann_cosine_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2 FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM n WHERE vec_id % 100 = 0),
    s AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             {_DDOT.format(a='q.qv', b='n.v')} / sqrt(q.qn2 * n.n2) AS cos
      FROM q, n WHERE n.vec_id <> q.query_id),
    r AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM s)
    SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors (vec_id % 100 = 0);
    rank is tie-broken by neighbor id. (The IVF variant is
    sim.ivf_topk — approximate, so it is exercised in tests, not
    against the exactness oracle.)"""
    topk = sim.cosine_topk(load(spark, sf_dir, "embeddings"))
    return topk.withColumn("rank", F.col("rank").cast("long"))


# --------------------------------------------------------------------------
# Multimodal: binary payload + Arrow-batched decode/feature extraction
# --------------------------------------------------------------------------


@register(
    "mm_feature_extract",
    """
    SELECT doc_id, 'text' AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(substr(text, 1, 16), ''),
                            c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> a + b) AS checksum16,
           CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS head_char
    FROM documents
    """,
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: text → binary payload + metadata struct →
    Arrow-batched mapInPandas decode + deterministic feature extraction.
    The oracle verifies the whole binary→decode→feature path."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_and_extract(mm.attach_payload(docs))


# --------------------------------------------------------------------------
# Remaining join/agg/function coverage (SURVEY §2.3 J2/J5, §2.4 A9,
# §2.7 F1/F2) + TPC-H-style headliners for the bench workload.
# --------------------------------------------------------------------------

_DEC = "DECIMAL(20,6)"


@register(
    "j2_deadletter_antijoin",
    """
    WITH existing AS (
      SELECT user_id, props FROM events
      WHERE event_type = 'error' AND event_id % 7 = 0),
    incoming AS (
      SELECT event_id, user_id, props FROM events WHERE event_type = 'error')
    SELECT i.event_id, i.user_id, i.props
    FROM incoming i
    WHERE NOT EXISTS (
      SELECT 1 FROM existing e
      WHERE e.user_id = i.user_id AND e.props = i.props)
    """,
)
def j2_deadletter_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: dead-letter dedup anti-join — insert only failures whose
    (source, hash) pair is not already stored (DeadLetterService.cs:106-136)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    existing = ev.filter(F.expr("event_id % 7 = 0")).select("user_id", "props")
    incoming = ev.select("event_id", "user_id", "props")
    return incoming.join(existing, ["user_id", "props"], "left_anti").select(
        "event_id", "user_id", "props"
    )


@register(
    "j5_state_config_join",
    """
    WITH state AS (
      SELECT event_type AS object_name, max(event_id) AS last_version
      FROM events GROUP BY event_type),
    config(object_name, procedure_name) AS (VALUES
      ('click', 'p_click'), ('view', 'p_view'), ('purchase', 'p_purchase'),
      ('signup', 'p_signup'), ('retired_object', 'p_retired'))
    SELECT c.object_name, c.procedure_name, s.last_version
    FROM config c LEFT OUTER JOIN state s ON s.object_name = c.object_name
    """,
)
def j5_state_config_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: health/state surface — configured objects left-joined to their
    stored watermarks; unmatched config rows surface as never-synced
    (Program.cs:906-949)."""
    state = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("object_name"))
        .agg(F.max("event_id").alias("last_version"))
    )
    config = spark.createDataFrame(
        [
            ("click", "p_click"),
            ("view", "p_view"),
            ("purchase", "p_purchase"),
            ("signup", "p_signup"),
            ("retired_object", "p_retired"),
        ],
        "object_name string, procedure_name string",
    )
    return config.join(F.broadcast(state), "object_name", "left_outer").select(
        "object_name", "procedure_name", "last_version"
    )


@register(
    "a9_distinct_envs",
    """
    SELECT event_type, count(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY event_type
    """,
)
def a9_distinct_envs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: count-distinct readiness probe (exact here; at 100 TB swap in
    approx_count_distinct — a one-token change)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("distinct_users"))
    )


@register(
    "f1_json_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events WHERE event_type = 'purchase'
    """,
)
def f1_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: JSON path extraction from the payload column."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k_value"),
        )
    )


@register(
    "f2_json_construct",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT version,
           json_object('version', version, 'operation', operation,
                       'user_key', user_key)::VARCHAR AS envelope_json
    FROM outbox WHERE version > {WM}
    """,
)
def f2_json_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: JSON envelope construction (to_json over a struct — the
    FOR JSON PATH / json_build_object equivalent)."""
    scan = cf.outbox_scan(_outbox(spark, sf_dir), WM)
    return scan.select(
        "version",
        F.to_json(F.struct("version", "operation", "user_key")).alias(
            "envelope_json"
        ),
    )


@register(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS {_DEC})) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective dim filter → two joins → top-k by
    revenue. The customer dim filter is broadcast; revenue accumulates
    in exact decimal."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate < TIMESTAMP_NTZ'1998-03-15 00:00:00'")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate > TIMESTAMP_NTZ'1998-03-15 00:00:00'")
    )
    rev = F.expr(f"CAST(l_extendedprice * (1 - l_discount) AS {_DEC})")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier",
    f"""
    SELECT n.n_name,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS {_DEC})) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: star join through two dims with a same-nation
    constraint; dims broadcast, fact joins shuffle on their keys."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00' AND "
            "o_orderdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'"
        )
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.expr(f"CAST(l_extendedprice * (1 - l_discount) AS {_DEC})")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def _duck_embedding_dedup_sql() -> str:
    band_rows = " UNION ALL ".join(
        "SELECT vec_id, {b} AS band, {bits} AS bv FROM n".format(
            b=b,
            bits=" + ".join(
                f"(CASE WHEN v[{b * 4 + i + 1}] >= 0.0 THEN {1 << i} ELSE 0 END)"
                for i in range(4)
            ),
        )
        for b in range(4)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2 FROM e),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id),
    s AS (
      SELECT c.d1, c.d2,
             {_DDOT.format(a='x.v', b='y.v')} / sqrt(x.n2 * y.n2) AS cos
      FROM cand c JOIN n x ON x.vec_id = c.d1 JOIN n y ON y.vec_id = c.d2)
    SELECT d1, d2, cos FROM s WHERE cos >= 0.4
    """


@register("dedup_embedding_cosine", _duck_embedding_dedup_sql())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: sign-LSH banded candidates (equijoin on
    (band, sign-pattern)) verified with exact cosine ≥ 0.4."""
    return sim.cosine_near_dup_pairs(load(spark, sf_dir, "embeddings"))


def _duck_embedding_dedup_scaled_sql(
    threshold: float = 0.9, n_bands: int = 8, band_dims: int = 8
) -> str:
    band_rows = " UNION ALL ".join(
        "SELECT vec_id, {b} AS band, {bits} AS bv FROM n".format(
            b=b,
            bits=" + ".join(
                f"(CASE WHEN v[{b * band_dims + i + 1}] >= 0.0 "
                f"THEN {1 << i} ELSE 0 END)"
                for i in range(band_dims)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2 FROM e),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id),
    s AS (
      SELECT c.d1, c.d2,
             {_DDOT.format(a='x.v', b='y.v')} / sqrt(x.n2 * y.n2) AS cos
      FROM cand c JOIN n x ON x.vec_id = c.d1 JOIN n y ON y.vec_id = c.d2)
    SELECT d1, d2, cos FROM s WHERE cos >= {threshold}
    """


@register(
    "dedup_embedding_cosine_scaled",
    _duck_embedding_dedup_scaled_sql(threshold=0.4, n_bands=8, band_dims=8),
)
def dedup_embedding_cosine_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale embedding near-dup layout: 8-dim sign bands over
    all 64 components — 256 patterns per band instead of 16, so bucket
    occupancy (and the candidate-verify equijoin, the cost that goes
    quadratic as the corpus grows) drops ~16× at any size. Measured at
    the 10×-tiled bench corpus: 120 s → 10.7 s. The price is boundary
    recall: ~46% of the loose 4×4 layout's pairs at cosine ≈ 0.4 (recall
    rises steeply with similarity — ≈0.94 at 0.9). Both variants are
    deterministic and oracle-replayed; pick by corpus size."""
    return sim.cosine_near_dup_pairs(
        load(spark, sf_dir, "embeddings"),
        threshold=0.4,
        n_bands=8,
        band_dims=8,
    )


def _duck_embedding_dedup_prod_sql(
    threshold: float, n_bands: int, band_bits: int, sig_bits: int
) -> str:
    hmax = sim.signature_hamming_max(threshold, sig_bits)
    sig = " + ".join(
        f"(CASE WHEN v[{i + 1}] >= 0.0 THEN {1 << i}::BIGINT "
        "ELSE 0::BIGINT END)"
        for i in range(sig_bits)
    )
    # same start/stride offsets as the Spark side (similarity.band_starts
    # / band_bit_indices — identical to the legacy (4b+5j) mod sig_bits
    # for every pinned narrow layout) so the replay can never drift
    band_rows = " UNION ALL ".join(
        "SELECT vec_id, sig, {b} AS band, {bits} AS bv FROM sg".format(
            b=b,
            bits=" + ".join(
                f"(((sig >> {idx}) & 1) << {j})"
                for j, idx in enumerate(
                    sim.band_bit_indices(start, band_bits, sig_bits)
                )
            ),
        )
        for b, start in enumerate(sim.band_starts(n_bands, sig_bits))
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2 FROM e),
    sg AS (SELECT vec_id, {sig} AS sig FROM n),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
       AND bit_count(xor(a.sig, b.sig)) <= {hmax}),
    s AS (
      SELECT c.d1, c.d2,
             {_DDOT.format(a='x.v', b='y.v')} / sqrt(x.n2 * y.n2) AS cos
      FROM cand c JOIN n x ON x.vec_id = c.d1 JOIN n y ON y.vec_id = c.d2)
    SELECT d1, d2, cos FROM s WHERE cos >= {threshold}
    """


@register(
    "dedup_embedding_cosine_prod",
    _duck_embedding_dedup_prod_sql(
        threshold=0.9, n_bands=16, band_bits=12, sig_bits=62
    ),
)
def dedup_embedding_cosine_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-size-robust embedding near-dup form: one 62-bit sign
    signature per vector, 16 overlapping 12-bit bands (4096 patterns
    each), and a Hamming prefilter (bit_count(sig⊕sig) ≤ mean+3σ)
    *inside* the candidate join, so the distinct and the exact-cosine
    verify only ever see near-qualifying pairs. The 8×8 layout above
    (`dedup_embedding_cosine_scaled`) saturates its 256-pattern buckets
    by ~200 k vectors (>70 GB spill at the tiled sf10 corpus); this
    form runs the same corpus in minutes — see BASELINE.md sf10 table.
    Threshold 0.9 = the usual near-duplicate operating point; blocking
    recall ≈ 93% there, rising steeply above it; every emitted pair is
    exact-verified."""
    return sim.cosine_near_dup_pairs_banded(
        load(spark, sf_dir, "embeddings"),
        threshold=0.9,
        n_bands=16,
        band_bits=12,
        sig_bits=62,
        wide=False,  # pin the narrow layout the oracle replays
    )


#: ε for the planted embedding copies: shifts every component by +1e-3
#: (pure double addition — bit-identical across engines), giving
#: cos ≈ 0.99999 copies well above the 0.9 operating point
PLANT_EPS = "0.001"


@register(
    "dedup_embedding_cosine_prod_planted",
    f"""
    WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id % 97 = 0),
    p AS (SELECT vec_id, list_transform(v, x -> x + {PLANT_EPS}) AS pv
          FROM s),
    pair AS (
      SELECT s.vec_id AS d1, s.vec_id + {PLANT_STRIDE} AS d2,
             {_DDOT.format(a='s.v', b='p.pv')}
             / sqrt({_DNORM2.format(a='s.v')} * {_DNORM2.format(a='p.pv')})
             AS cos
      FROM s JOIN p USING (vec_id))
    SELECT d1, d2, cos FROM pair WHERE cos >= 0.9
    """,
)
def dedup_embedding_cosine_prod_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Non-vacuous recall gate for the banded production near-dup
    (VERDICT r5 #2): the driver fixtures carry no cos ≥ 0.9 pairs, so
    `dedup_embedding_cosine_prod`'s green row only ever proved "no
    false positives". Here every 97th vector gets an ε-shifted copy
    planted *inside the query*; the Spark side runs the full banded
    operator (62-bit signatures, 16×12-bit overlapping bands, Hamming
    prefilter, exact verify) over the augmented corpus and returns the
    planted pairs it recovered, while the oracle computes each planted
    pair's exact cosine DIRECTLY — no bands, no blocking. A blocking
    recall miss on the plant fails the gate as a row-count mismatch.
    (ε-copies differ in ≤ a few sign bits, and every sign bit appears
    in only ~3 of the 16 overlapping bands, so ≥ 10 bands always
    collide — recall on the plant is structurally 1.0.)"""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    plant = base.filter(F.expr("vec_id % 97 = 0")).select(
        (F.col("vec_id") + F.lit(PLANT_STRIDE)).alias("vec_id"),
        F.expr(
            f"transform(embedding, x -> x + {PLANT_EPS}D)"
        ).alias("embedding"),
    )
    pairs = sim.cosine_near_dup_pairs_banded(
        base.unionByName(plant),
        threshold=0.9,
        n_bands=16,
        band_bits=12,
        sig_bits=62,
        wide=False,  # pin the narrow layout the oracle replays
    )
    return pairs.filter(
        (F.col("d2") - F.col("d1") == PLANT_STRIDE)
        & (F.col("d1") % 97 == 0)
    )


@register(
    "dedup_embedding_cosine_prod_wide",
    f"""
    WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id % 97 = 0),
    p AS (SELECT vec_id, list_transform(v, x -> x + {PLANT_EPS}) AS pv
          FROM s),
    pair AS (
      SELECT s.vec_id AS d1, s.vec_id + {PLANT_STRIDE} AS d2,
             {_DDOT.format(a='s.v', b='p.pv')}
             / sqrt({_DNORM2.format(a='s.v')} * {_DNORM2.format(a='p.pv')})
             AS cos
      FROM s JOIN p USING (vec_id))
    SELECT d1, d2, cos FROM pair WHERE cos >= 0.9
    """,
)
def dedup_embedding_cosine_prod_wide(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`dedup_embedding_cosine_prod_planted`'s twin through the **wide
    124-bit signature prefilter** (the >10⁶-vector production dial —
    `similarity.WIDE_SIG_MIN`; forced on here so the driver gate
    exercises it at fixture scale). Same planted corpus, same band
    layout, same exact verify; the second signature word (adjacent-
    component difference signs) joins the Hamming prefilter with the
    cutoff recomputed for 124 bits. The oracle computes each planted
    pair's exact cosine directly, so a recall miss introduced by the
    wider prefilter — the one new way this form could lose pairs —
    fails the gate as a row-count mismatch. (An ε-shifted copy flips
    at most a few of the 124 bits, far under the ~29-bit cutoff, so
    recall on the plant is structurally 1.0; measured 20 618/20 618 on
    the 2 M-vector corpus, BASELINE.md third-decade table.)"""
    emb = load(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    plant = base.filter(F.expr("vec_id % 97 = 0")).select(
        (F.col("vec_id") + F.lit(PLANT_STRIDE)).alias("vec_id"),
        F.expr(
            f"transform(embedding, x -> x + {PLANT_EPS}D)"
        ).alias("embedding"),
    )
    pairs = sim.cosine_near_dup_pairs_banded(
        base.unionByName(plant),
        threshold=0.9,
        n_bands=16,
        band_bits=12,
        sig_bits=62,
        wide=True,
    )
    return pairs.filter(
        (F.col("d2") - F.col("d1") == PLANT_STRIDE)
        & (F.col("d1") % 97 == 0)
    )


#: deterministic in-query widening of the 64-dim fixture vectors to
#: 768 dims: each component fans out to 12 exact binary scalings
#: (sign flips and /2^k are bit-exact in doubles, so Spark and DuckDB
#: compute identical widened vectors). Keeps width-dependent code —
#: signature expressions over non-leading components, the
#: dims-measured broadcast byte gate — under the per-round oracle
#: gate, where the 768-dim proofs previously lived only in hand-run
#: tools (VERDICT r7 #6).
_W768_TIERS = ["x", "-x", "x / 2", "-x / 2", "x / 4", "-x / 4",
               "x / 8", "-x / 8", "x / 16", "-x / 16",
               "x / 32", "-x / 32"]


@register(
    "dedup_embedding_cosine_prod_wide768",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id % 97 = 0),
    w AS (SELECT vec_id,
                 flatten(list_transform(v, x ->
                   [{", ".join(_W768_TIERS)}])) AS wv
          FROM e),
    p AS (SELECT vec_id, list_transform(wv, x -> x + {PLANT_EPS}) AS pv
          FROM w),
    pair AS (
      SELECT w.vec_id AS d1, w.vec_id + {PLANT_STRIDE} AS d2,
             {_DDOT.format(a='w.wv', b='p.pv')}
             / sqrt({_DNORM2.format(a='w.wv')} * {_DNORM2.format(a='p.pv')})
             AS cos
      FROM w JOIN p USING (vec_id))
    SELECT d1, d2, cos FROM pair WHERE cos >= 0.9
    """,
)
def dedup_embedding_cosine_prod_wide768(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The banded near-dup at REAL embedding width, oracle-gated per
    round (VERDICT r7 #6): every other registry row runs on the
    driver's 64-dim fixtures, so the width-dependent code paths — the
    sign/difference signature expressions reading past component 64,
    the 124-bit Hamming prefilter, and the exact-verify broadcast
    gate's dims-measured byte arithmetic (768 dims ⇒ an ~86.7 k-row
    ceiling instead of ~1 M) — were proven only by hand-run tools on
    generated corpora. Here the fixture vectors are widened to 768
    dims *inside the query* by exact binary scalings both engines
    replay bit-identically, an ε-copy is planted for every 97th
    vector, and the full wide-signature banded operator runs over the
    widened corpus; the oracle computes each planted pair's exact
    cosine directly, so a recall miss introduced at width fails the
    gate as a row-count mismatch."""
    emb = load(spark, sf_dir, "embeddings")
    widen = (
        "flatten(transform(embedding, x -> array("
        + ", ".join(_W768_TIERS) + ")))"
    )
    base = emb.select(
        "vec_id",
        F.expr(
            f"transform({widen}, x -> CAST(x AS DOUBLE))"
        ).alias("embedding"),
    ).localCheckpoint(eager=False)
    # pin the widened corpus: the banded operator reads its input ~3×
    # (band build + both exact-verify vector lookups), and re-running
    # the 12-way widen per read was ~40% of this query's wall
    # (adjudicated round 10 per VERDICT r9 #4 — the suspected band
    # expression was not the term). Fixture-gate-only cost: the
    # checkpoint is the 64-dim fixture widened in-query (~12 MB);
    # production corpora arrive already wide and never take this path.
    plant = base.filter(F.expr("vec_id % 97 = 0")).select(
        (F.col("vec_id") + F.lit(PLANT_STRIDE)).alias("vec_id"),
        F.expr(
            f"transform(embedding, x -> x + {PLANT_EPS}D)"
        ).alias("embedding"),
    )
    pairs = sim.cosine_near_dup_pairs_banded(
        base.unionByName(plant),
        threshold=0.9,
        n_bands=16,
        band_bits=12,
        sig_bits=62,
        wide=True,
    )
    return pairs.filter(
        (F.col("d2") - F.col("d1") == PLANT_STRIDE)
        & (F.col("d1") % 97 == 0)
    )


# --------------------------------------------------------------------------
# Composition queries: corpus assembly + log merge (W4, union set-op)
# --------------------------------------------------------------------------


@register(
    "corpus_build",
    f"""
    WITH t AS (SELECT doc_id, text, {_DTOK} AS tokens FROM documents),
    q AS (SELECT doc_id, text,
                 CAST(len(tokens) AS BIGINT) AS n_tokens,
                 CAST({pf.count_in_list(pf.DUCK, 'tokens', tx.STOPWORDS)} AS DOUBLE)
                   / len(tokens) AS stopword_ratio
          FROM t),
    canon AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY {pf.sha256_hex(pf.DUCK, _DNORM)})
    SELECT q.doc_id, q.n_tokens, q.stopword_ratio
    FROM q JOIN canon ON canon.doc_id = q.doc_id
    WHERE q.n_tokens >= 20 AND q.stopword_ratio < 0.5
    """,
)
def corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus assembly: exact-dedup to canonical docs, then
    quality gating (length + stopword ratio) — the composed filter a
    corpus pipeline runs before tokenization. One groupBy shuffle (the
    dedup); the quality gates fuse into the scan."""
    docs = load(spark, sf_dir, "documents")
    canon = dd.exact_duplicates(docs).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    t = docs.withColumn("tokens", F.expr(pf.tokens(pf.SPARK, "text")))
    quality = t.select(
        "doc_id",
        F.expr("CAST(size(tokens) AS BIGINT)").alias("n_tokens"),
        (
            F.expr(pf.count_in_list(pf.SPARK, "tokens", tx.STOPWORDS)).cast("double")
            / F.expr("size(tokens)")
        ).alias("stopword_ratio"),
    )
    return (
        quality.join(canon, "doc_id")
        .filter((F.col("n_tokens") >= 20) & (F.col("stopword_ratio") < 0.5))
        .select("doc_id", "n_tokens", "stopword_ratio")
    )


@register(
    "w4_log_merge",
    """
    WITH merged AS (
      SELECT event_id, 'error' AS level, ts FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT event_id, 'warn' AS level, ts FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT event_id, 'info' AS level, ts FROM events WHERE event_type = 'view')
    SELECT event_id, level, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM merged
    WHERE level IN ('error', 'warn')
    ORDER BY ts DESC, event_id DESC
    LIMIT 50
    """,
)
def w4_log_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: merge N log sources (UNION ALL), filter by level, order by
    timestamp descending, paginate — the log-viewer query shape."""
    ev = load(spark, sf_dir, "events")

    def src(event_type: str, level: str) -> DataFrame:
        return ev.filter(F.col("event_type") == event_type).select(
            "event_id", F.lit(level).alias("level"), "ts"
        )

    merged = src("error", "error").unionAll(src("click", "warn")).unionAll(
        src("view", "info")
    )
    return (
        merged.filter(F.col("level").isin("error", "warn"))
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .select(
            "event_id", "level",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .limit(50)
    )


@register(
    "cf_apply_changes",
    f"""
    {_DIFF_NEW_SQL}
    """,
)
def cf_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-side merge: apply the snapshot-diff change feed back onto
    the old snapshot. The oracle is simply the *new* snapshot — the
    reconstruction must reproduce it exactly (the Hypothesis-tested
    diff→apply inverse property, run here against real data)."""
    old, new = _diff_frames(spark, sf_dir)
    diff = cf.snapshot_diff(
        old, new,
        key_cols=("o_orderkey",),
        tracked_cols=("o_orderstatus", "o_totalprice", "o_orderpriority"),
    )
    rebuilt = cf.apply_changes(
        old, diff,
        key_cols=("o_orderkey",),
        tracked_cols=("o_orderstatus", "o_totalprice", "o_orderpriority"),
    )
    return rebuilt.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


@register(
    "agg_hourly_windows",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
           operation, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
    FROM outbox
    GROUP BY date_trunc('hour', ts), operation
    """,
)
def agg_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (T3): per-hour change
    counts and value totals by operation."""
    outbox = _outbox(spark, sf_dir)
    return (
        outbox.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "operation"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            "operation", "n", "total_value",
        )
    )


# --------------------------------------------------------------------------
# Time-series joins: as-of + bucketed range join (operators Spark lacks
# natively; the oracle uses DuckDB's native ASOF JOIN / theta join)
# --------------------------------------------------------------------------

from trignis_spark.operators import asof as aj  # noqa: E402


@register(
    "j6_asof_join",
    """
    WITH build AS (
      SELECT o_custkey AS k, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY 1, 2),
    probe AS (SELECT event_id, user_id AS k, ts FROM events)
    SELECT p.event_id, p.k AS user_key, b.o_orderkey,
           strftime(b.o_orderdate, '%Y-%m-%d') AS orderdate_s
    FROM probe p ASOF LEFT JOIN build b
      ON p.k = b.k AND p.ts >= b.o_orderdate
    """,
)
def j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the user's most recent order at or
    before the event time. Spark side = union-timeline + running-last
    window (single key shuffle); oracle = DuckDB's native ASOF JOIN."""
    probe = load(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("k"), "ts"
    )
    build = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = aj.asof_join(
        probe, build,
        key="k", probe_time="ts", build_time="o_orderdate",
        build_cols=("o_orderkey", "o_orderdate"),
    )
    return out.select(
        "event_id",
        F.col("k").alias("user_key"),
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_s"),
    )


@register(
    "j6f_asof_forward",
    """
    WITH build AS (
      SELECT o_custkey AS k, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY 1, 2),
    probe AS (SELECT event_id, user_id AS k, ts FROM events)
    SELECT p.event_id, p.k AS user_key, b.o_orderkey,
           strftime(b.o_orderdate, '%Y-%m-%d') AS orderdate_s
    FROM probe p ASOF LEFT JOIN build b
      ON p.k = b.k AND p.ts <= b.o_orderdate
    """,
)
def j6f_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each event picks the user's *next* order at or
    after the event time (the "what happened next" join). Same
    union-timeline shape as backward, with a forward-looking window."""
    probe = load(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("k"), "ts"
    )
    build = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = aj.asof_join(
        probe, build,
        key="k", probe_time="ts", build_time="o_orderdate",
        build_cols=("o_orderkey", "o_orderdate"),
        direction="forward",
    )
    return out.select(
        "event_id",
        F.col("k").alias("user_key"),
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_s"),
    )


@register(
    "j6n_asof_nearest",
    """
    WITH build AS (
      SELECT o_custkey AS k, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY 1, 2),
    probe AS (SELECT event_id, user_id AS k, ts FROM events),
    bwd AS (
      SELECT p.event_id, p.k, p.ts, b.o_orderkey AS bk, b.o_orderdate AS bt
      FROM probe p ASOF LEFT JOIN build b
        ON p.k = b.k AND p.ts >= b.o_orderdate),
    fwd AS (
      SELECT p.event_id, b.o_orderkey AS fk, b.o_orderdate AS ft
      FROM probe p ASOF LEFT JOIN build b
        ON p.k = b.k AND p.ts <= b.o_orderdate)
    SELECT bwd.event_id, bwd.k AS user_key,
           CASE WHEN bt IS NULL THEN fk
                WHEN ft IS NULL THEN bk
                WHEN date_diff('microseconds', bt, ts)
                     <= date_diff('microseconds', ts, ft) THEN bk
                ELSE fk END AS o_orderkey,
           strftime(CASE WHEN bt IS NULL THEN ft
                         WHEN ft IS NULL THEN bt
                         WHEN date_diff('microseconds', bt, ts)
                              <= date_diff('microseconds', ts, ft) THEN bt
                         ELSE ft END, '%Y-%m-%d') AS orderdate_s
    FROM bwd JOIN fwd ON fwd.event_id = bwd.event_id
    """,
)
def j6n_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of (pandas merge_asof direction='nearest'): each event
    picks whichever of the previous/next order is closer in time, ties
    to the previous. One key shuffle; both direction frames share the
    exchange. Oracle composes DuckDB's two ASOF directions with the
    identical microsecond-gap tie rule."""
    probe = load(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("k"), "ts"
    )
    build = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = aj.asof_join(
        probe, build,
        key="k", probe_time="ts", build_time="o_orderdate",
        build_cols=("o_orderkey", "o_orderdate"),
        direction="nearest",
    )
    return out.select(
        "event_id",
        F.col("k").alias("user_key"),
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_s"),
    )


@register(
    "j7_range_join",
    """
    WITH iv AS (
      SELECT event_id AS interval_id, user_id,
             ts AS start_t, ts + to_seconds(CAST(FLOOR(value) AS BIGINT)) AS end_t
      FROM events),
    pt AS (SELECT event_id AS point_id, user_id, ts FROM events)
    SELECT i.interval_id, p.point_id, i.user_id
    FROM iv i JOIN pt p
      ON i.user_id = p.user_id
     AND p.ts >= i.start_t AND p.ts < i.end_t
     AND p.point_id <> i.interval_id
    """,
)
def j7_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events landing inside another event's activity
    interval, per user. Spark side uses time-bucket blocking (equijoin
    on (key, bucket) + exact verify — never a per-key cartesian)."""
    ev = load(spark, sf_dir, "events")
    intervals = ev.select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts").alias("start_t"),
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0, 0, CAST(FLOOR(value) AS BIGINT))"
        ).alias("end_t"),
    )
    points = ev.select(F.col("event_id").alias("point_id"), "user_id", "ts")
    joined = aj.range_join(
        points, intervals,
        key="user_id", point_time="ts",
        start_col="start_t", end_col="end_t",
        bucket_seconds=3600,
    )
    return joined.filter(F.col("point_id") != F.col("interval_id")).select(
        "interval_id", "point_id", "user_id"
    )


# Registered after the as-of/range-join family, not beside
# ann_cosine_topk: the entry contract's correctness sample is the first
# 50 registered names, and this core-bound all-pairs row must not push
# j7_range_join out of it.
@register(
    "ann_cosine_allpairs",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2 FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM n),
    s AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             {_DDOT.format(a='q.qv', b='n.v')} / sqrt(q.qn2 * n.n2) AS cos
      FROM q, n WHERE n.vec_id <> q.query_id),
    r AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM s)
    SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
    """,
)
def ann_cosine_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for EVERY vector — the full ground-truth
    neighbor table (the recall baseline the approximate operators are
    scored against), and the bench's core-scaling probe (round 12):
    N² scoring work over a corpus spread to the session's
    shuffle-partition count makes wall time track the configured core
    count at fixture scale, where every other headline query is
    scheduling/overhead-bound (measured 2.2 s at local[32] vs 4.6 s at
    local[8] at sf0.1 — the one headline row whose low-core/high-core
    ratio reflects parallelism rather than noise)."""
    topk = sim.cosine_topk(
        load(spark, sf_dir, "embeddings"), "true", spread=True
    )
    return topk.withColumn("rank", F.col("rank").cast("long"))


# --------------------------------------------------------------------------
# Hypertable rollups: hierarchical continuous aggregates
# --------------------------------------------------------------------------

from trignis_spark.operators import rollup as ru  # noqa: E402


@register(
    "rollup_daily_cascade",
    f"""
    WITH outbox AS ({_OUTBOX_SQL})
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_s,
           operation, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS val_total
    FROM outbox
    GROUP BY date_trunc('day', ts), operation
    """,
)
def rollup_daily_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup: the DAILY level computed hierarchically
    (raw → hour → day, merging partial aggregates) must equal the
    oracle's direct day-level aggregation — the continuous-aggregate
    exactness property, checked on real data."""
    levels = ru.cascade(
        _outbox(spark, sf_dir),
        ts_col="ts", dims=("operation",), value_col="value",
        resolutions=("hour", "day"),
    )
    day = levels["day"]
    return day.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day_s"),
        "operation",
        "n",
        F.col("val_sum").cast("double").alias("val_total"),
    )


# --------------------------------------------------------------------------
# More relational headliners: conditional-ratio, having-filter, and
# shipmode-style conditional aggregation shapes; stratified sampling.
# --------------------------------------------------------------------------


@register(
    "tpch_q12_priority_shipping",
    """
    SELECT o.o_orderpriority,
           count(CASE WHEN l.l_returnflag = 'R' THEN 1 END) AS returned_count,
           count(CASE WHEN l.l_returnflag <> 'R' THEN 1 END) AS kept_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: join + conditional counts split by a flag column."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        F.expr(
            "l_shipdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00' AND "
            "l_shipdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'"
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("returned_count"),
            F.count(F.when(F.col("l_returnflag") != "R", 1)).alias("kept_count"),
        )
    )


@register(
    "tpch_q14_promo_effect",
    f"""
    SELECT CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS {_DEC})
                 ELSE CAST(0 AS {_DEC}) END) AS DOUBLE)
           / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS {_DEC})) AS DOUBLE)
           AS promo_revenue_ratio
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-08-01 00:00:00'
    """,
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional-revenue ratio; both sums accumulate in
    exact decimal so the final double division is bit-deterministic."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.expr(
            "l_shipdate >= TIMESTAMP_NTZ'1997-06-01 00:00:00' AND "
            "l_shipdate < TIMESTAMP_NTZ'1997-08-01 00:00:00'"
        )
    )
    p = load(spark, sf_dir, "part")
    rev = F.expr(f"CAST(l_extendedprice * (1 - l_discount) AS {_DEC})")
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.expr(f"CAST(0 AS {_DEC})")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_ratio")
        )
    )


@register(
    "tpch_q18_large_orders",
    f"""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(20,6))) > 120)
    SELECT c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate_s,
           CAST(sum(CAST(l.l_quantity AS {_DEC})) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN big ON big.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate
    ORDER BY total_qty DESC, o.o_orderkey
    LIMIT 20
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: HAVING-filtered semi-join of large orders, then the
    detail join + top-k. The `big` aggregate is tiny → broadcast."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(20,6)")).alias("q"))
        .filter(F.col("q") > 120)
        .select("l_orderkey")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        li.join(F.broadcast(big), "l_orderkey")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(20,6)"))
            .cast("double")
            .alias("total_qty")
        )
        .select(
            "c_name", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_s"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "sample_stratified",
    f"""
    WITH h AS (
      SELECT doc_id, lang,
             {pf.rolling_hash(pf.DUCK, "concat('salt42:', CAST(doc_id AS VARCHAR))")} AS hv
      FROM documents)
    SELECT doc_id, lang FROM h
    WHERE hv % 100 < CASE lang WHEN 'en' THEN 20 ELSE 50 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus construction:
    hash-gate each row with a per-stratum rate (downsample the dominant
    language, keep more of the rare ones). Seeded by a salt in the hash
    input — reproducible across runs and engines, no RNG state."""
    docs = load(spark, sf_dir, "documents")
    hv = pf.rolling_hash(pf.SPARK, "concat('salt42:', CAST(doc_id AS STRING))")
    return (
        docs.withColumn("hv", F.expr(hv))
        .filter(
            F.expr("hv % 100 < CASE lang WHEN 'en' THEN 20 ELSE 50 END")
        )
        .select("doc_id", "lang")
    )


# strided sign bits (v2 — see similarity.bucket_expr): bit i reads the
# component at 1 + (i·dims) // bits. The leading-bits v1 form collapsed
# all cells onto a handful on clustered corpora (round 9). The engine
# twins (ivf_topk / ivfpq_topk / fresh index builds) compute the same
# positions via `1 + (i * size(v)) div 4`.
_IVF_BUCKET = (
    "({v}[1 + (0 * len({v})) // 4] >= 0.0)::INT "
    "+ 2 * ({v}[1 + (1 * len({v})) // 4] >= 0.0)::INT "
    "+ 4 * ({v}[1 + (2 * len({v})) // 4] >= 0.0)::INT "
    "+ 8 * ({v}[1 + (3 * len({v})) // 4] >= 0.0)::INT"
)

_IVF_TOPK_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2,
                 {_IVF_BUCKET.format(v='v')} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2, bucket AS qbucket
          FROM n WHERE vec_id % 100 = 0),
    s AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             {_DDOT.format(a='q.qv', b='n.v')} / sqrt(q.qn2 * n.n2) AS cos
      FROM q JOIN n ON n.bucket = q.qbucket AND n.vec_id <> q.query_id),
    r AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM s)
    SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
"""


@register("ann_ivf_topk", _IVF_TOPK_SQL)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k (the ANN scale path): sign-bucketed
    coarse quantization, probe only the query's bucket. Approximate vs
    brute force, but fully *deterministic* — the coarse quantizer is the
    sign pattern of the leading components, so the oracle replays the
    whole bucketed search exactly (VERDICT r1 #6: no more rows-only
    check)."""
    topk = sim.ivf_topk(load(spark, sf_dir, "embeddings"))
    return topk.withColumn("rank", F.col("rank").cast("long"))


@register(
    "ann_ivf_recall",
    f"""
    WITH ivf AS ({_IVF_TOPK_SQL}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2 FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2 FROM n
          WHERE vec_id % 100 = 0),
    s AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             {_DDOT.format(a='q.qv', b='n.v')} / sqrt(q.qn2 * n.n2) AS cos
      FROM q, n WHERE n.vec_id <> q.query_id),
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM s) WHERE rank <= 10),
    hits AS (
      SELECT i.query_id, count(*) AS n
      FROM ivf i JOIN brute b
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      GROUP BY i.query_id)
    SELECT q.query_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n, 0) AS DOUBLE) / 10.0 AS recall_at_10
    FROM (SELECT DISTINCT query_id FROM brute) q
    LEFT JOIN hits h ON h.query_id = q.query_id
    ORDER BY q.query_id
    """,
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of the IVF search against the brute-force
    baseline — the quality metric itself is the query output, so a
    recall regression breaks the CORRECTNESS hash instead of hiding
    behind an approximate result (VERDICT r1 'what's wrong' #3)."""
    emb = load(spark, sf_dir, "embeddings")
    ivf = sim.ivf_topk(emb)
    brute = sim.cosine_topk(emb)
    hits = (
        ivf.join(
            brute.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(hits, "query_id", "left_outer")
        .select(
            "query_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.lit(10.0)).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


_SWEEP_NPROBES = (1, 2, 4, 8)


@register(
    "ann_ivf_nprobe_sweep",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2,
                 {_IVF_BUCKET.format(v='v')} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2, bucket AS home
          FROM n WHERE vec_id % 100 = 0),
    params AS (SELECT unnest([{", ".join(str(p) for p in _SWEEP_NPROBES)}])
                 AS np),
    probe AS (
      SELECT params.np, q.query_id, q.qv, q.qn2,
             CASE WHEN js.j = 0 THEN q.home
                  ELSE xor(q.home, (1 << (js.j - 1))) END AS qbucket
      FROM q, params, (SELECT unnest(range(8)) AS j) js
      WHERE js.j < params.np),
    s AS (
      SELECT p.np, p.query_id, n.vec_id AS neighbor_id,
             {_DDOT.format(a='p.qv', b='n.v')} / sqrt(p.qn2 * n.n2) AS cos
      FROM probe p JOIN n ON n.bucket = p.qbucket
                         AND n.vec_id <> p.query_id),
    ivf AS (
      SELECT np, query_id, neighbor_id FROM (
        SELECT np, query_id, neighbor_id,
               row_number() OVER (PARTITION BY np, query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM s) WHERE rank <= 10),
    sb AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             {_DDOT.format(a='q.qv', b='n.v')} / sqrt(q.qn2 * n.n2) AS cos
      FROM q, n WHERE n.vec_id <> q.query_id),
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM sb) WHERE rank <= 10),
    hits AS (
      SELECT i.np, i.query_id, count(*) AS n
      FROM ivf i JOIN brute b ON b.query_id = i.query_id
                             AND b.neighbor_id = i.neighbor_id
      GROUP BY i.np, i.query_id),
    perq AS (
      SELECT params.np, qq.query_id, coalesce(h.n, 0) AS n
      FROM params CROSS JOIN (SELECT DISTINCT query_id FROM brute) qq
      LEFT JOIN hits h ON h.np = params.np AND h.query_id = qq.query_id)
    SELECT CAST(np AS BIGINT) AS nprobe,
           CAST(sum(n) AS DOUBLE) / (count(*) * 10.0) AS mean_recall_at_10,
           CAST(count(*) AS BIGINT) AS n_queries
    FROM perq GROUP BY np ORDER BY np
    """,
)
def ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost dial, measured: mean recall@10 vs the exact
    brute-force baseline at nprobe ∈ {1, 2, 4, 8}. One row per setting —
    the tuning table a user reads to pick their operating point, and a
    driver-checked oracle so a quantizer regression shows up as a value
    mismatch, not a silent quality drop. Each setting is an independent
    bucket-probe plan unioned together; the brute baseline is computed
    once and reused across settings."""
    emb = load(spark, sf_dir, "embeddings")
    brute = sim.cosine_topk(emb)
    brute_pairs = brute.select("query_id", "neighbor_id").localCheckpoint(
        eager=True
    )
    per_np = []
    for np_ in _SWEEP_NPROBES:
        ivf = sim.ivf_topk(emb, nprobe=np_)
        hits = (
            ivf.join(brute_pairs, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        per_q = (
            brute_pairs.select("query_id")
            .distinct()
            .join(hits, "query_id", "left_outer")
            .select(F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        )
        per_np.append(
            per_q.agg(
                (
                    F.sum("n").cast("double")
                    / (F.count(F.lit(1)) * F.lit(10.0))
                ).alias("mean_recall_at_10"),
                F.count(F.lit(1)).cast("long").alias("n_queries"),
            ).select(
                F.lit(np_).cast("long").alias("nprobe"),
                "mean_recall_at_10",
                "n_queries",
            )
        )
    out = per_np[0]
    for df in per_np[1:]:
        out = out.unionByName(df)
    return out.orderBy("nprobe")


# --------------------------------------------------------------------------
# SQL-surface breadth: correlated subqueries, grouping sets, semi-joins,
# window frames — the relational shapes a reference user's ad-hoc queries
# would hit beyond the operator inventory.
# --------------------------------------------------------------------------


@register(
    "agg_max_per_group_correlated",
    """
    SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal = (
      SELECT max(c2.c_acctbal) FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def agg_max_per_group_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape: rows achieving their group's maximum.
    Spark SQL decorrelates this into a join under Catalyst — expressed
    here verbatim so the optimizer's rewrite is what runs."""
    c = load(spark, sf_dir, "customer")
    c.createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal
        FROM customer_v c
        WHERE c.c_acctbal = (
          SELECT max(c2.c_acctbal) FROM customer_v c2
          WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


@register(
    "agg_grouping_sets",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: detail + subtotal + grand-total in one pass
    (Catalyst expands to a single shuffle with grouping-id)."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
               count(*) AS n
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "j8_semi_antijoin_exists",
    """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    """,
)
def j8_semi_antijoin_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS → left-semi + left-anti joins: customers with
    a big order and no finalized orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    final = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .join(final, c.c_custkey == final.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "w5_running_total",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate_s,
           CAST(sum(CAST(o_totalprice AS DECIMAL(20,6)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def w5_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame: per-customer cumulative spend in order-date order
    (deterministic frame via the orderkey tie-break; decimal-exact
    accumulation)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_s"),
        F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


def _duck_cluster_sql() -> str:
    # connected components via recursive min-label propagation: the
    # recursive CTE closes over all (node, reachable-label) pairs; the
    # component id is the minimum reachable label.
    return f"""
    WITH RECURSIVE {_DSH_TABLE}, {_DJACCARD},
    pairs AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.8),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs
              UNION SELECT d2, d1 FROM pairs),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM reach GROUP BY node
    """


@register("dedup_cluster_components", _duck_cluster_sql())
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup clustering: connected components over the Jaccard≥0.8
    near-dup graph via iterative min-label propagation (Spark) vs a
    recursive CTE (oracle). Every doc gets its component's min doc_id as
    the canonical representative."""
    docs = load(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(dd.shingle_table(docs), threshold=0.8)
    return dd.cluster_near_duplicates(docs, pairs)


@register(
    "text_vocab_stats",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DTOK}) AS token FROM documents)
    SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM toks GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 50
    """,
)
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: term frequency + document frequency
    for the top-50 tokens (the df table is also what stop-shingle
    blocking thresholds are derived from)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(pf.tokens(pf.SPARK, "text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(50)
    )


@register(
    "text_length_percentiles",
    """
    SELECT
      CAST(quantile_disc(n_chars, 0.50) AS BIGINT) AS p50,
      CAST(quantile_disc(n_chars, 0.90) AS BIGINT) AS p90,
      CAST(quantile_disc(n_chars, 0.99) AS BIGINT) AS p99,
      CAST(min(n_chars) AS BIGINT) AS min_len,
      CAST(max(n_chars) AS BIGINT) AS max_len
    FROM documents
    """,
)
def text_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution: discrete percentiles (exact lower-
    interpolation quantiles — deterministic on integer lengths, unlike
    interpolated/approximate percentiles)."""
    docs = load(spark, sf_dir, "documents")
    return docs.agg(
        F.expr("CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").alias("p50"),
        F.expr("CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").alias("p90"),
        F.expr("CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").alias("p99"),
        F.min("n_chars").alias("min_len"),
        F.max("n_chars").alias("max_len"),
    )


@register(
    "tpch_q6_forecast_revenue",
    f"""
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS {_DEC})) AS DOUBLE)
           AS revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: single-table multi-predicate scan + one aggregate —
    the pure filter-pushdown benchmark (every predicate reaches the
    parquet scan)."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.expr(
            "l_shipdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00' AND "
            "l_shipdate < TIMESTAMP_NTZ'1998-01-01 00:00:00' AND "
            "l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
        )
    )
    return li.agg(
        F.sum(F.expr(f"CAST(l_extendedprice * l_discount AS {_DEC})"))
        .cast("double")
        .alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q4_order_priority",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS with a correlated inequality → left-semi join on
    the key with the theta condition in the join predicate."""
    o = load(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00' AND "
            "o_orderdate < TIMESTAMP_NTZ'1997-07-01 00:00:00'"
        )
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# Registered last: completes the TPC-H shape coverage (Q2, Q7-Q11, Q13,
# Q15-Q17, Q19-Q22) and the extended analytics set (sessionization,
# pivot, set ops, repetition signals) on top of the shapes above.
from trignis_spark import queries_ext  # noqa: E402,F401
from trignis_spark import queries_tpch  # noqa: E402,F401
