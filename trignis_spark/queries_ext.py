"""Extended analytics queries: sessionization, pivot, set ops, repetition.

Operators a production events/training-data pipeline needs that neither
the reference inventory (SURVEY.md §2) nor the TPC-H shapes exercise:

- gaps-and-islands sessionization (`operators/sessions.py`) — the batch
  twin of streaming ``session_window``;
- a pivot (crosstab) matrix with an explicit value list so the output
  schema is static at plan time (required at scale: no dry-run pass);
- EXCEPT / INTERSECT distinct set semantics (lapsed vs retained
  customers);
- Gopher-style token-repetition quality signals over ``documents``
  (type-token ratio, top-token fraction) — the standard pre-training
  corpus filters alongside ``text_quality_score``;
- decontamination / keep-canonical dedup / n-gram LM counts / embedding
  centroids; PII scrub and duplicated-span signals;
- the training-sequence prep trio: context-length chunking
  (``text_chunk_windows``) → deterministic shard assignment
  (``corpus_shard_assign``) → token-budget sequence packing
  (``corpus_pack_sequences``);
- window-frame shapes: time-based RANGE moving average and the
  ntile/percent_rank/cume_dist rank family;
- GPT-2-ish pre-tokenizer segmentation counts (``text_regex_tokens``).

Determinism per queries.py rules: decimal accumulation for value sums,
integer counts, one double division at the end with an identical
expression tree in both engines, total-order sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trignis_spark.operators import sessions as sess
from trignis_spark.queries import (
    _DDOT,
    _DEC,
    _DJACCARD,
    _DNORM2,
    _DSH_TABLE,
    _DTOK,
    _IVF_BUCKET,
    register,
)
from trignis_spark.tables import load

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# --------------------------------------------------------------------------
# Sessionization (gaps-and-islands)
# --------------------------------------------------------------------------


_SESSIONIZE_SQL = f"""
    WITH m AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(date_trunc('second', ts)) OVER w IS NULL
                      OR date_diff('second',
                                   lag(date_trunc('second', ts)) OVER w,
                                   date_trunc('second', ts)) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
        FROM m
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
           CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """


@register("sessionize_events", _SESSIONIZE_SQL)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize the events stream with a 30-minute inactivity gap and
    roll up per-session stats. Single shuffle on user_id; both window
    passes and the final groupBy reuse the same partitioning."""
    ev = load(spark, sf_dir, "events")
    out = sess.session_stats(ev, gap_seconds=1800)
    return out.select(
        "user_id",
        F.col("session_no").cast("bigint").alias("session_no"),
        "n_events",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("start_s"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("end_s"),
        "total_value",
    ).orderBy("user_id", "session_no")


@register("sessionize_events_scaled", _SESSIONIZE_SQL)
def sessionize_events_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-user-proof sessionize: identical rollup to
    sessionize_events (same oracle SQL — the outputs are provably
    equal), but through ``sessionize_chunked``, whose big ordered window
    partitions by (user, day) instead of user alone. A bot user's year
    of events spreads over ~365 tasks instead of one; the cross-chunk
    stitch runs on one summary row per (user, day)."""
    ev = load(spark, sf_dir, "events")
    s = sess.sessionize_chunked(ev, gap_seconds=1800)
    out = s.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.col("value").cast("decimal(20,6)"))
        .cast("double")
        .alias("total_value"),
    )
    return out.select(
        "user_id",
        F.col("session_no").cast("bigint").alias("session_no"),
        "n_events",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("start_s"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("end_s"),
        "total_value",
    ).orderBy("user_id", "session_no")


# --------------------------------------------------------------------------
# Pivot / crosstab with a static value list
# --------------------------------------------------------------------------


@register(
    "pivot_event_matrix",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_s,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events
    GROUP BY day_s
    ORDER BY day_s
    """,
)
def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day × event-type count matrix via ``groupBy().pivot(values=...)``.
    The explicit value list keeps the schema static (no extra distinct
    pass — mandatory at 100 TB) and lets the pivot run as one partial-agg
    shuffle. Missing cells coalesce to 0 to match COUNT semantics."""
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_s"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    cols = [F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    return piv.select("day_s", *cols).orderBy("day_s")


# --------------------------------------------------------------------------
# Set operations: EXCEPT / INTERSECT (distinct semantics)
# --------------------------------------------------------------------------

_CUST_97 = """
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
"""
_CUST_98 = """
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
"""


def _cust_year(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    return load(spark, sf_dir, "orders").filter(
        F.expr(
            f"o_orderdate >= TIMESTAMP_NTZ'{year}-01-01 00:00:00' AND "
            f"o_orderdate < TIMESTAMP_NTZ'{year + 1}-01-01 00:00:00'"
        )
    ).select("o_custkey")


@register(
    "set_except_lapsed",
    f"({_CUST_97}) EXCEPT ({_CUST_98}) ORDER BY o_custkey",
)
def set_except_lapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT DISTINCT: customers who ordered in 1997 but not 1998.
    Spark plans ``subtract`` as an aggregate + left-anti join — the
    distinct and the anti share one shuffle on the key."""
    return (
        _cust_year(spark, sf_dir, 1997)
        .subtract(_cust_year(spark, sf_dir, 1998))
        .orderBy("o_custkey")
    )


@register(
    "set_intersect_retained",
    f"({_CUST_97}) INTERSECT ({_CUST_98}) ORDER BY o_custkey",
)
def set_intersect_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT DISTINCT: customers active in both 1997 and 1998."""
    return (
        _cust_year(spark, sf_dir, 1997)
        .intersect(_cust_year(spark, sf_dir, 1998))
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# Token-repetition quality signals (Gopher-style corpus filters)
# --------------------------------------------------------------------------


@register(
    "text_repetition_signals",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DTOK}) AS tok FROM documents
    ), tc AS (
        SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS type_token_ratio,
           CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top_token_frac
    FROM tc GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters for corpus curation: type-token ratio and the
    most-frequent-token share per document. Explode → two-level agg;
    the first groupBy's (doc_id, tok) shuffle partial-aggregates
    map-side, the second reuses the doc_id prefix."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr("split(text, '\\\\s+')")).alias("tok")
    )
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        tc.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            (
                F.count(F.lit(1)).cast("double") / F.sum("c").cast("bigint")
            ).alias("type_token_ratio"),
            (F.max("c").cast("double") / F.sum("c").cast("bigint")).alias(
                "top_token_frac"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Multimodal frame sampling (1→N mapInPandas fan-out)
# --------------------------------------------------------------------------


@register(
    "mm_frame_sample",
    """
    WITH idx AS (
        SELECT doc_id, text,
               unnest(generate_series(0, (length(text) - 1) // 16))
                 AS frame_index
        FROM documents
        WHERE length(text) > 0
    ), f AS (
        SELECT doc_id, frame_index,
               substring(text, CAST(frame_index * 16 + 1 AS INTEGER), 16)
                 AS chunk
        FROM idx WHERE frame_index % 3 = 0
    )
    SELECT doc_id, CAST(frame_index AS BIGINT) AS frame_index,
           CAST(length(chunk) AS BIGINT) AS frame_len,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(chunk, ''),
                            c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> a + b) AS frame_checksum
    FROM f
    ORDER BY doc_id, frame_index
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary payloads: decode (stub) →
    fixed-size frames → keep every 3rd → per-frame features. One input
    row fans out to many output rows inside a single Arrow batch — no
    shuffle at all until the final presentation sort."""
    from trignis_spark.operators import multimodal as mm

    docs = load(spark, sf_dir, "documents")
    frames = mm.frame_sample(mm.attach_payload(docs), frame_chars=16, every=3)
    return frames.orderBy("doc_id", "frame_index")


# --------------------------------------------------------------------------
# Training-data curation: decontamination, keep-canonical dedup, n-grams
# --------------------------------------------------------------------------


@register(
    "corpus_decontaminate",
    f"""
    WITH {_DSH_TABLE},
    hits AS (
      SELECT t.doc_id, t.shingle, b.doc_id AS bdoc
      FROM ex t JOIN ex b ON b.shingle = t.shingle
      WHERE t.doc_id % 97 <> 0 AND b.doc_id % 97 = 0)
    SELECT doc_id,
           count(DISTINCT shingle) AS n_shared_shingles,
           count(DISTINCT bdoc) AS n_benchmark_docs
    FROM hits GROUP BY doc_id ORDER BY doc_id
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check: flag training documents sharing
    any word-3-gram shingle with the benchmark subset (doc_id % 97 = 0
    stands in for the held-out eval set). Inverted-index equijoin on
    8-byte shingle hashes — candidate volume is O(collisions), never
    |train|×|bench|; at 100 TB the benchmark shingle set is small enough
    to broadcast, making this a map-side join."""
    from trignis_spark.operators import dedup as dd

    sh = dd.shingle_table(load(spark, sf_dir, "documents"))
    bench = sh.filter(F.expr("doc_id % 97 = 0")).select(
        F.col("shingle"), F.col("doc_id").alias("bdoc")
    )
    train = sh.filter(F.expr("doc_id % 97 <> 0"))
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("bdoc").alias("n_benchmark_docs"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_keep_canonical",
    f"""
    WITH RECURSIVE {_DSH_TABLE}, {_DJACCARD},
    pairs AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.8),
    edges AS (SELECT d1 AS a, d2 AS b FROM pairs
              UNION SELECT d2, d1 FROM pairs),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
    ),
    comp AS (SELECT node AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY node)
    SELECT cluster_id AS doc_id, count(*) AS cluster_size
    FROM comp GROUP BY cluster_id ORDER BY doc_id
    """,
)
def corpus_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-dedup *output* a corpus build consumes: one surviving
    (canonical = cluster-min) document per near-duplicate cluster with
    the number of documents it absorbed. Composes the connected-
    components operator; the per-cluster rollup is one shuffle on the
    cluster id."""
    from trignis_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(dd.shingle_table(docs), threshold=0.8)
    comp = dd.cluster_near_duplicates(docs, pairs)
    return (
        comp.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .select(F.col("cluster_id").alias("doc_id"), "cluster_size")
        .orderBy("doc_id")
    )


@register(
    "text_bigram_counts",
    f"""
    WITH toks AS (SELECT doc_id, {_DTOK} AS t FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, length(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks WHERE length(t) >= 2)
    SELECT bigram, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM bg GROUP BY bigram
    ORDER BY tf DESC, bigram
    LIMIT 50
    """,
)
def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model counts: top-50 word bigrams with term and
    document frequency. explode → two-level agg with map-side partial
    aggregation; the (bigram) shuffle key is the only exchange."""
    docs = load(spark, sf_dir, "documents")
    from trignis_spark.functions import portable as pf

    toks = docs.select(
        "doc_id", F.expr(pf.tokens(pf.SPARK, "text")).alias("t")
    )
    bg = toks.filter(F.expr("size(t) >= 2")).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("bigram"),
    )
    return (
        bg.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("bigram"))
        .limit(50)
    )


@register(
    "mm_audio_energy",
    """
    WITH idx AS (
      SELECT doc_id, text,
             unnest(generate_series(0, (length(text) - 1) // 32))
               AS window_index
      FROM documents WHERE length(text) > 0),
    w AS (
      SELECT doc_id, window_index,
             substring(text, CAST(window_index * 32 + 1 AS INTEGER), 32)
               AS chunk
      FROM idx)
    SELECT doc_id, CAST(window_index AS BIGINT) AS window_index,
           CAST(length(chunk) AS BIGINT) AS n_samples,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(chunk, ''),
                            c -> CAST((ascii(c) - 96) * (ascii(c) - 96)
                                      AS BIGINT))),
             (a, b) -> a + b) AS energy
    FROM w
    ORDER BY doc_id, window_index
    """,
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-feature plumbing: per-32-sample windowed energy over the
    binary payload (bytes stand in for PCM samples; integer math is
    bit-exact vs the oracle). mapInPandas 1→N fan-out, shuffle-free
    until the presentation sort."""
    from trignis_spark.operators import multimodal as mm

    docs = load(spark, sf_dir, "documents")
    out = mm.audio_window_energy(mm.attach_payload(docs))
    return out.orderBy("doc_id", "window_index")


@register(
    "emb_centroid_by_label",
    """
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    x AS (SELECT label, unnest(generate_series(1, length(v))) AS pos, v
          FROM e),
    d AS (SELECT label, pos, v[pos] AS val FROM x)
    SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(val * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_micro,
           CAST(sum(CAST(floor(val * 1000000.0) AS BIGINT)) AS DOUBLE)
             / count(*) / 1000000.0 AS centroid
    FROM d GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the coarse-quantizer training step
    a real IVF index needs): posexplode → (label, dim) agg. Accumulation
    is fixed-point micro-units (floor(val·1e6) as BIGINT) so the sum is
    order-independent and bit-exact across engines; the centroid is one
    exact-integer division at the end. One shuffle on (label, pos) with
    map-side partial aggregation — at 100 TB this is the canonical
    vector-aggregate shape (no collect, no per-row UDF)."""
    emb = load(spark, sf_dir, "embeddings")
    d = emb.select(
        F.col("label").cast("bigint").alias("label"),
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")),
    ).select(
        "label",
        (F.col("pos") + 1).cast("bigint").alias("pos"),
        F.col("col").alias("val"),
    )
    return (
        d.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.expr("CAST(floor(val * 1000000.0) AS BIGINT)"))
            .cast("bigint")
            .alias("sum_micro"),
        )
        .select(
            "label", "pos", "n", "sum_micro",
            (
                F.col("sum_micro").cast("double") / F.col("n") / F.lit(1000000.0)
            ).alias("centroid"),
        )
        .orderBy("label", "pos")
    )


# --------------------------------------------------------------------------
# Corpus hygiene: PII scrub, duplicated spans, incremental dedup
# --------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

#: Deterministic note fixture: event props + a synthesized contact line so
#: every redaction pattern actually fires on the synthetic corpus.
_DNOTE = (
    "props || ' contact user' || CAST(user_id AS VARCHAR)"
    " || '@mail.example.com from 10.' || CAST(user_id % 256 AS VARCHAR)"
    " || '.0.' || CAST(event_id % 256 AS VARCHAR)"
)


@register(
    "text_pii_scrub",
    f"""
    WITH base AS (SELECT event_id, {_DNOTE} AS note FROM events),
    s1 AS (SELECT event_id,
             CAST(len(regexp_extract_all(note, '{_EMAIL_RE}')) AS BIGINT)
               AS n_email,
             regexp_replace(note, '{_EMAIL_RE}', '<EMAIL>', 'g') AS t1
           FROM base),
    s2 AS (SELECT event_id, n_email,
             CAST(len(regexp_extract_all(t1, '{_IPV4_RE}')) AS BIGINT)
               AS n_ipv4,
             regexp_replace(t1, '{_IPV4_RE}', '<IP>', 'g') AS t2
           FROM s1),
    s3 AS (SELECT event_id, n_email, n_ipv4,
             CAST(len(regexp_extract_all(t2, '[0-9]+')) AS BIGINT)
               AS n_number,
             regexp_replace(t2, '[0-9]+', '<NUM>', 'g') AS scrubbed
           FROM s2)
    SELECT event_id, n_email, n_ipv4, n_number, scrubbed
    FROM s3 ORDER BY event_id
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction over an event note (props + a deterministic
    synthesized contact line, so emails, IPv4s and digit runs all fire):
    sequential typed-placeholder scrub with per-category counts
    (`operators/text.py::scrub_pii`). Map-only regexp chain — no
    shuffle, scan-speed at 100 TB."""
    from trignis_spark.operators import text as tx

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.concat(
            F.col("props"),
            F.lit(" contact user"),
            F.col("user_id").cast("string"),
            F.lit("@mail.example.com from 10."),
            (F.col("user_id") % 256).cast("string"),
            F.lit(".0."),
            (F.col("event_id") % 256).cast("string"),
        ).alias("note"),
    )
    out = tx.scrub_pii(base, text_col="note", out_col="scrubbed")
    return out.select(
        "event_id", "n_email", "n_ipv4", "n_number", "scrubbed"
    ).orderBy("event_id")


@register(
    "text_dup_spans",
    f"""
    WITH t AS (SELECT doc_id, {_DTOK} AS w FROM documents),
    s AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(w) - 7),
                                       i -> array_to_string(w[i:i+7], ' ')))
                   AS span
          FROM t WHERE len(w) >= 8)
    SELECT span, count(*) AS tf, count(DISTINCT doc_id) AS df,
           min(doc_id) AS first_doc
    FROM s GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    ORDER BY tf DESC, span LIMIT 100
    """,
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection (the signal behind exact-substring
    training-data dedup): word 8-grams shared by ≥2 documents, top-100 by
    term frequency. Explode → single groupBy with map-side partial agg
    (`operators/text.py::duplicated_spans`)."""
    from trignis_spark.operators import text as tx

    docs = load(spark, sf_dir, "documents")
    return (
        tx.duplicated_spans(docs, span_words=8, min_docs=2)
        .orderBy(F.desc("tf"), F.asc("span"))
        .limit(100)
    )


@register(
    "dedup_incremental",
    f"""
    WITH {_DSH_TABLE},
    bex AS (SELECT doc_id, shingle FROM ex WHERE doc_id % 7 = 3),
    cex AS (SELECT doc_id, shingle FROM ex WHERE doc_id % 7 <> 3),
    inter AS (SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
                     count(*) AS isz
              FROM bex b JOIN cex c ON c.shingle = b.shingle GROUP BY 1, 2),
    jac AS (SELECT batch_doc, corpus_doc,
                   CAST(isz AS DOUBLE) / (s1.sz + s2.sz - isz) AS jaccard
            FROM inter JOIN sizes s1 ON s1.doc_id = batch_doc
                       JOIN sizes s2 ON s2.doc_id = corpus_doc),
    f AS (SELECT * FROM jac WHERE jaccard >= 0.5),
    r AS (SELECT *, row_number() OVER (PARTITION BY batch_doc
                                       ORDER BY jaccard DESC, corpus_doc)
                      AS rn
          FROM f)
    SELECT batch_doc, corpus_doc, jaccard,
           CASE WHEN jaccard >= 0.8 THEN 'drop' ELSE 'review' END AS decision
    FROM r WHERE rn = 1 ORDER BY batch_doc
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: documents arriving in a change batch
    (doc_id % 7 = 3 stands in for the poll cycle's new/changed docs)
    matched against the existing corpus, best corpus match per batch doc
    with a drop/review decision. The batch side broadcasts, so the
    corpus inverted index is probed map-side — the every-poll-cycle
    shape for a CDC-fed training pipeline
    (`operators/dedup.py::incremental_pairs`)."""
    from pyspark.sql.window import Window

    from trignis_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    sh = dd.shingle_table(docs)
    batch = sh.filter(F.expr("doc_id % 7 = 3"))
    corpus = sh.filter(F.expr("doc_id % 7 <> 3"))
    # direct probe: at threshold 0.5 the prefix filter keeps ~half of
    # every shingle set, so its extra corpus shuffles cost more than
    # the candidate fan-out they avoid (measured 105 s direct vs 313 s
    # prefix at sf10); prefix_filter pays off at tight thresholds only
    pairs = dd.incremental_pairs(corpus, batch, threshold=0.5)
    w = Window.partitionBy("batch_doc").orderBy(
        F.desc("jaccard"), F.asc("corpus_doc")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "batch_doc",
            "corpus_doc",
            "jaccard",
            F.when(F.col("jaccard") >= 0.8, F.lit("drop"))
            .otherwise(F.lit("review"))
            .alias("decision"),
        )
        .orderBy("batch_doc")
    )


@register(
    "dedup_incremental_cycle",
    f"""
    WITH {_DSH_TABLE},
    bex AS (SELECT doc_id, shingle FROM ex
            WHERE doc_id % 7 = 3 AND doc_id < 3500),
    cex AS (SELECT doc_id, shingle FROM ex
            WHERE NOT (doc_id % 7 = 3 AND doc_id < 3500)),
    inter AS (SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
                     count(*) AS isz
              FROM bex b JOIN cex c ON c.shingle = b.shingle GROUP BY 1, 2),
    jac AS (SELECT batch_doc, corpus_doc,
                   CAST(isz AS DOUBLE) / (s1.sz + s2.sz - isz) AS jaccard
            FROM inter JOIN sizes s1 ON s1.doc_id = batch_doc
                       JOIN sizes s2 ON s2.doc_id = corpus_doc),
    f AS (SELECT * FROM jac WHERE jaccard >= 0.5),
    r AS (SELECT *, row_number() OVER (PARTITION BY batch_doc
                                       ORDER BY jaccard DESC, corpus_doc)
                      AS rn
          FROM f)
    SELECT batch_doc, corpus_doc, jaccard,
           CASE WHEN jaccard >= 0.8 THEN 'drop' ELSE 'review' END AS decision
    FROM r WHERE rn = 1 ORDER BY batch_doc
    """,
)
def dedup_incremental_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_incremental` with a **constant-size batch** — the ~500
    docs with doc_id ≡ 3 mod 7 below 3 500, *strided* so the batch
    straddles near-dup families (whose members sit at adjacent ids in
    the fixtures; a contiguous id-range batch swallows whole families
    and reports nothing) — instead of the 1/7-of-corpus stand-in
    (VERDICT r5 #8): the fractional batch makes the scale table read
    superlinear "by construction" (batch grows with N), which is the
    wrong number for a production reader sizing a poll cycle — a real
    change batch is bounded by the poll interval, not the corpus. Same
    operator, same broadcast-probe shape; BASELINE.md carries this row
    as the per-cycle cost at each scale point."""
    from pyspark.sql.window import Window

    from trignis_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    sh = dd.shingle_table(docs)
    batch = sh.filter(F.expr("doc_id % 7 = 3 AND doc_id < 3500"))
    corpus = sh.filter(F.expr("NOT (doc_id % 7 = 3 AND doc_id < 3500)"))
    pairs = dd.incremental_pairs(corpus, batch, threshold=0.5)
    w = Window.partitionBy("batch_doc").orderBy(
        F.desc("jaccard"), F.asc("corpus_doc")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "batch_doc",
            "corpus_doc",
            "jaccard",
            F.when(F.col("jaccard") >= 0.8, F.lit("drop"))
            .otherwise(F.lit("review"))
            .alias("decision"),
        )
        .orderBy("batch_doc")
    )


def _duck_touch(col: str) -> str:
    return (
        f"(live AND (operation = 'I' OR (operation = 'U' AND "
        f"(changed IS NULL OR list_contains(changed, '{col}')))))"
    )


def _duck_compact_sql() -> str:
    from trignis_spark.queries import _OUTBOX_SQL

    cols = ("event_type", "value", "props")
    picks = ",\n         ".join(
        f"arg_max({{'x': {c}}}, CASE WHEN {_duck_touch(c)} THEN version END).x"
        f" AS v_{c},\n         "
        f"max(CASE WHEN {_duck_touch(c)} THEN 1 ELSE 0 END) AS t_{c}"
        for c in cols
    )
    mask_items = ", ".join(
        f"CASE WHEN t_{c} = 1 THEN '{c}' END" for c in cols
    )
    return f"""
    WITH outbox AS ({_OUTBOX_SQL}),
    ld AS (SELECT *, max(CASE WHEN operation = 'D' THEN version END)
                     OVER (PARTITION BY user_key) AS last_d FROM outbox),
    lv AS (SELECT *, version > coalesce(last_d, -1) AS live FROM ld),
    g AS (
      SELECT user_key,
         max(version) AS version,
         max(CASE WHEN live THEN 1 ELSE 0 END) AS any_live,
         max(CASE WHEN live AND operation = 'I' THEN 1 ELSE 0 END) AS any_ins,
         {picks}
      FROM lv GROUP BY user_key)
    SELECT user_key, version,
      CASE WHEN any_live = 0 THEN 'D'
           WHEN any_ins = 1 THEN 'I' ELSE 'U' END AS operation,
      CASE WHEN any_live != 0 AND any_ins != 1 THEN
        list_filter([{mask_items}], x -> x IS NOT NULL) END AS changed,
      v_event_type AS event_type, v_value AS value, v_props AS props
    FROM g ORDER BY user_key
    """


@register("cf_compact_changes", _duck_compact_sql())
def cf_compact_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-batch net-change compaction (the mirror sink's first
    stage): a key's multiple changes collapse to one net row — rows at
    or before the last delete are dead history, column values come from
    the latest change that defined them, net-U masks are the union of
    touched columns. Window + groupBy on the key, one exchange; the
    oracle replays the same set-wise semantics with arg_max (struct-
    wrapped so cleared-to-NULL values survive DuckDB's NULL-skipping
    arg_max)."""
    from trignis_spark.sinks.mirror import compact_changes

    from trignis_spark.queries import _outbox

    out = compact_changes(
        _outbox(spark, sf_dir), ("user_key",), ("event_type", "value", "props")
    )
    return out.select(
        "user_key", "version", "operation", "changed",
        "event_type", "value", "props",
    ).orderBy("user_key")


# --------------------------------------------------------------------------
# Training-sequence preparation: context-length chunking + shard assignment
# --------------------------------------------------------------------------

_CHUNK_W = 32  # window length in tokens (context length stand-in)
_CHUNK_S = 24  # stride in tokens (8-token overlap between windows)


@register(
    "text_chunk_windows",
    f"""
    WITH toks AS (SELECT doc_id, {_DTOK} AS t FROM documents),
    c AS (
      SELECT doc_id, t,
             unnest(generate_series(0, (length(t) - 1) // {_CHUNK_S}))
               AS chunk_index
      FROM toks WHERE length(t) > 0),
    s AS (
      SELECT doc_id, chunk_index,
             list_slice(t, chunk_index * {_CHUNK_S} + 1,
                        chunk_index * {_CHUNK_S} + {_CHUNK_W}) AS chunk
      FROM c)
    SELECT doc_id,
           CAST(chunk_index AS BIGINT) AS chunk_index,
           CAST(chunk_index * {_CHUNK_S} AS BIGINT) AS start_token,
           CAST(length(chunk) AS BIGINT) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM s
    ORDER BY doc_id, chunk_index
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking: each document split into overlapping
    fixed-token windows (W=32, stride 24) — the sequence-preparation
    step before packing examples to a training context length.

    Map-only fan-out (explode of a per-row sequence); no shuffle until
    the presentation sort. At 100 TB the sort is dropped and the chunks
    stream straight into the shard writer (``corpus_shard_assign``)."""
    from trignis_spark.functions import portable as pf

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.expr(pf.tokens(pf.SPARK, "text")).alias("t")
    )
    chunks = toks.filter("size(t) > 0").select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(t) - 1) div {_CHUNK_S}), "
                f"i -> slice(t, i * {_CHUNK_S} + 1, {_CHUNK_W}))"
            )
        ).alias("chunk_index", "chunk"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_index").cast("long").alias("chunk_index"),
        (F.col("chunk_index") * _CHUNK_S).cast("long").alias("start_token"),
        F.expr("CAST(size(chunk) AS BIGINT)").alias("n_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_index")


_N_SHARDS = 8

from trignis_spark.functions import portable as _pf  # noqa: E402

_DUCK_DOC_HASH = _pf.rolling_hash(_pf.DUCK, "text")


@register(
    "corpus_shard_assign",
    f"""
    WITH h AS (
      SELECT doc_id,
             {_DUCK_DOC_HASH} AS h
      FROM documents),
    s AS (
      SELECT doc_id, h, CAST(h % {_N_SHARDS} AS BIGINT) AS shard FROM h)
    SELECT doc_id, shard, h,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                AS BIGINT) AS position
    FROM s
    ORDER BY shard, position
    """,
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    shard (portable content hash mod N) and a reproducible position
    within its shard (ordered by hash, doc_id tie-break) — the
    materialized form of the epoch-0 data order for training.

    One shuffle on the shard key; position assignment is a per-shard
    sort that parallelizes across shards, so at 100 TB each shard sorts
    ~1/N of the corpus and no global single-reducer sort exists."""
    from pyspark.sql import Window

    from trignis_spark.functions import portable as pf

    docs = load(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", F.expr(pf.rolling_hash(pf.SPARK, "text")).alias("h")
    )
    s = h.withColumn("shard", (F.col("h") % _N_SHARDS).cast("long"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        s.withColumn("position", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "h", "position")
        .orderBy("shard", "position")
    )


# --------------------------------------------------------------------------
# Window-frame shapes: RANGE (time-based) moving aggregate + rank family
# --------------------------------------------------------------------------


@register(
    "w6_moving_time_average",
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts,
             date_diff('second', TIMESTAMP '2024-01-01 00:00:00',
                       date_trunc('second', ts)) AS sec,
             value
      FROM events)
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           CAST(count(*) OVER w AS BIGINT) AS n_trailing,
           CAST(CAST(sum(CAST(value AS {_DEC})) OVER w AS DOUBLE)
                / count(*) OVER w AS DOUBLE) AS moving_avg
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
)
def w6_moving_time_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per-user trailing-1-hour moving
    average of event values. The frame is anchored on *event time*
    (epoch seconds from a fixed NTZ anchor — timezone-free in both
    engines), not row counts, so bursts and gaps weight correctly.

    One shuffle on user_id serves the window; the decimal sum is divided
    once at the end (identical expression tree to the oracle). Peers
    (equal timestamps) share a frame by RANGE semantics in both
    engines, so the result is deterministic without a full tiebreak."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ'2024-01-01 00:00:00', "
            "date_trunc('second', ts))"
        ).alias("sec"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return (
        e.select(
            "user_id", "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.count(F.lit(1)).over(w).alias("n_trailing"),
            (
                F.sum(F.col("value").cast(_DEC)).over(w).cast("double")
                / F.count(F.lit(1)).over(w)
            ).alias("moving_avg"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "w7_rank_family",
    f"""
    WITH r AS (
      SELECT event_type, event_id, value,
             ntile(10) OVER w AS decile,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cume
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
    SELECT event_type, CAST(decile AS BIGINT) AS decile,
           count(*) AS n,
           CAST(sum(CAST(value AS {_DEC})) AS DOUBLE) AS decile_value,
           CAST(min(pct_rank) AS DOUBLE) AS min_pct_rank,
           CAST(max(cume) AS DOUBLE) AS max_cume
    FROM r
    GROUP BY event_type, decile
    ORDER BY event_type, decile
    """,
)
def w7_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows (ntile / percent_rank / cume_dist) with a
    total order (value, event_id tiebreak), rolled up to decile
    summaries per event type — the distribution-profile query a
    curation pipeline runs before choosing quality thresholds.

    Both engines compute the identical (rank-1)/(n-1) arithmetic;
    the decile rollup keeps the output bounded regardless of corpus
    size (one shuffle for the window, one for the rollup)."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = load(spark, sf_dir, "events").select(
        "event_type", "event_id", "value",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )
    return (
        r.groupBy("event_type", F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(_DEC)).cast("double")
            .alias("decile_value"),
            F.min("pct_rank").cast("double").alias("min_pct_rank"),
            F.max("cume").cast("double").alias("max_cume"),
        )
        .orderBy("event_type", "decile")
    )


_PACK_BUDGET = 512  # token budget per packed training sequence


_PACK_SQL = f"""
    WITH t AS (
      SELECT doc_id,
             {_DUCK_DOC_HASH} AS h,
             length({_DTOK}) AS n_tokens
      FROM documents),
    s AS (
      SELECT doc_id, n_tokens, CAST(h % {_N_SHARDS} AS BIGINT) AS shard, h
      FROM t),
    c AS (
      SELECT shard, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM s)
    SELECT shard,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM c
    GROUP BY shard, seq_id
    ORDER BY shard, seq_id
    """


@register("corpus_pack_sequences", _PACK_SQL)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents are packed into fixed-token-budget
    training sequences within their shard. Deterministic distributed
    form of greedy packing: documents take the reproducible shard order
    (hash, doc_id), a running token total assigns each document to the
    sequence where it *starts* (``(cum - n) div budget``), and the
    rollup reports per-sequence fill.

    Per-shard window + rollup share one shuffle on the shard key; each
    shard packs independently, so at 100 TB packing parallelizes across
    shards with no global coordination."""
    from pyspark.sql import Window

    from trignis_spark.functions import portable as pf

    t = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(pf.rolling_hash(pf.SPARK, "text")).alias("h"),
        F.expr(f"size({pf.tokens(pf.SPARK, 'text')})").alias("n_tokens"),
    )
    s = t.withColumn("shard", (F.col("h") % _N_SHARDS).cast("long"))
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = s.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        c.groupBy(
            "shard",
            # integer div, not double division: exact at any magnitude
            F.expr(f"(cum - n_tokens) div {_PACK_BUDGET}")
            .cast("long")
            .alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("shard", "seq_id")
    )


@register("corpus_pack_sequences_scaled", _PACK_SQL)
def corpus_pack_sequences_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-shard-proof sequence packing: identical output to
    corpus_pack_sequences (same oracle), but the per-shard running token
    sum goes through ``skew.chunked_running_sum`` — a two-level prefix
    sum sub-chunked by the hash's leading range, so a shard's cumsum
    spreads over 64 tasks instead of one. At 100 TB a shard is
    corpus/#shards rows; the single-window form funnels each shard
    through one task, this form bounds any task at shard/64."""
    from trignis_spark.functions import portable as pf
    from trignis_spark.operators.skew import chunked_running_sum

    t = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(pf.rolling_hash(pf.SPARK, "text")).alias("h"),
        F.expr(f"size({pf.tokens(pf.SPARK, 'text')})").alias("n_tokens"),
    )
    s = t.withColumn("shard", (F.col("h") % _N_SHARDS).cast("long"))
    # chunk = leading hash range: monotone along the (h, doc_id) order
    s = s.withColumn("_hchunk", F.expr(f"h div {pf.P31 // 64 + 1}"))
    c = chunked_running_sum(
        s, ["shard"], ["h", "doc_id"], "n_tokens", "_hchunk"
    )
    return (
        c.groupBy(
            "shard",
            F.expr(f"(cum - n_tokens) div {_PACK_BUDGET}")
            .cast("long")
            .alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("shard", "seq_id")
    )


_PIECE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "text_regex_tokens",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PIECE_RE}')) AS BIGINT)
             AS n_pieces,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
             AS n_words,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
             AS n_numbers,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT)
             AS n_punct
    FROM documents
    ORDER BY doc_id
    """,
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style segmentation counts: the GPT-2-ish pre-tokenizer
    classes (letter runs | digit runs | single punctuation) counted per
    document — the exact-arithmetic complement to ``text_token_stats``'s
    chars/4 sub-word estimate. Map-only ``regexp_extract_all`` over
    built-ins (RE2/Java-common regex subset), shuffle-free until the
    presentation sort."""
    docs = load(spark, sf_dir, "documents")
    def n(pat):
        return F.size(F.regexp_extract_all("text", F.lit(pat), 0)).cast("long")
    return docs.select(
        "doc_id",
        n(_PIECE_RE).alias("n_pieces"),
        n("[A-Za-z]+").alias("n_words"),
        n("[0-9]+").alias("n_numbers"),
        n("[^A-Za-z0-9 ]").alias("n_punct"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# IVF quantizer training (k-means, 2 unrolled Lloyd rounds, k=4)
# --------------------------------------------------------------------------

_KM_K = 4

_DSQ = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), p -> (p[1] - p[2]) * (p[1] - p[2]))), "
    "(x, y) -> x + y)"
)


def _km_assign_sql(vecs: str, cents: str) -> str:
    """One argmin assignment round as SQL (ties to the lowest cid)."""
    return f"""
      SELECT vec_id, cid FROM (
        SELECT {vecs}.vec_id, {cents}.cid,
               row_number() OVER (
                 PARTITION BY {vecs}.vec_id
                 ORDER BY {_DSQ.format(a=f'{vecs}.v', b=f'{cents}.cvec')},
                          {cents}.cid) AS rn
        FROM {vecs}, {cents}) WHERE rn = 1
    """


def _km_update_sql(assign: str, cents: str) -> str:
    """Component means in fixed decimal, one double division; empty
    clusters keep their previous centroid."""
    return f"""
      SELECT {cents}.cid, coalesce(m.cvec, {cents}.cvec) AS cvec
      FROM {cents} LEFT JOIN (
        SELECT cid, list(m ORDER BY pos) AS cvec FROM (
          SELECT cid, pos,
                 CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
          FROM (
            SELECT a.cid,
                   unnest(generate_series(0, len(e.v) - 1)) AS pos,
                   unnest(e.v) AS x
            FROM ({assign}) a JOIN e USING (vec_id))
          GROUP BY cid, pos)
        GROUP BY cid) m ON m.cid = {cents}.cid
    """


@register(
    "emb_kmeans_quantizer",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
      FROM e ORDER BY vec_id LIMIT {_KM_K}),
    c1 AS ({_km_update_sql(_km_assign_sql('e', 'c0'), 'c0')}),
    c2 AS ({_km_update_sql(_km_assign_sql('e', 'c1'), 'c1')}),
    sizes AS (
      SELECT cid, count(*) AS n_members FROM ({_km_assign_sql('e', 'c2')})
      GROUP BY cid)
    SELECT c2.cid,
           CAST(t.pos AS BIGINT) AS pos,
           round(c2.cvec[t.pos + 1], 9) AS m,
           CAST(coalesce(sizes.n_members, 0) AS BIGINT) AS n_members
    FROM c2
    LEFT JOIN sizes ON sizes.cid = c2.cid,
    LATERAL (SELECT unnest(generate_series(0, len(c2.cvec) - 1)) AS pos) t
    ORDER BY c2.cid, pos
    """,
)
def emb_kmeans_quantizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer training as an oracle-checked query: two
    deterministic Lloyd rounds (k=4, first-k init, fixed-point decimal
    means, argmin ties to the lowest cluster) over the embeddings
    table, reported as per-(cluster, component) centroid values plus
    member counts. The oracle unrolls the same two rounds as chained
    CTEs — both engines share the init, fold order, tie-break, and the
    single double division, so centroids match bit-for-bit (rounded to
    9 decimals as ulp insurance).

    Scale shape per round: broadcast k×dim centroids, map-side argmin
    (corpus never shuffled), (cluster, component) partial-agg mean —
    cardinality k·dim, corpus-size-independent."""
    from trignis_spark.operators import kmeans as km

    emb = load(spark, sf_dir, "embeddings")
    cents = km.train_kmeans(emb, _KM_K, iters=2)
    sizes = km.assign_clusters(emb, cents).groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        cents.select("cid", F.posexplode("cvec").alias("pos", "m"))
        .join(sizes, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("pos").cast("long").alias("pos"),
            F.round("m", 9).alias("m"),
            F.coalesce("n_members", F.lit(0)).cast("long")
            .alias("n_members"),
        )
        .orderBy("cid", "pos")
    )


# --------------------------------------------------------------------------
# BPE merge learning (tokenizer training over the corpus)
# --------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_pairs_sql(s: str) -> str:
    return f"""
      SELECT p.l AS l, p.r AS r, sum(p.freq) AS n FROM (
        SELECT s.freq,
               string_split(s.sym, '|')[t.i] AS l,
               string_split(s.sym, '|')[t.i + 1] AS r
        FROM {s} s,
        LATERAL (SELECT unnest(generate_series(
                   1, len(string_split(s.sym, '|')) - 1)) AS i) t) p
      GROUP BY p.l, p.r
    """


def _bpe_apply_sql(s: str, m: str) -> str:
    return f"""
      SELECT substr(list_reduce(
               list_prepend('', string_split(s.sym, '|')),
               (acc, x) -> CASE
                 WHEN x = {m}.r
                  AND right(acc, length({m}.l) + 1) = '|' || {m}.l
                 THEN substr(acc, 1, length(acc) - length({m}.l) - 1)
                      || '|' || {m}.l || {m}.r
                 ELSE acc || '|' || x END), 2) AS sym,
             s.freq
      FROM {s} s, {m}
    """


def _bpe_sql() -> str:
    ctes = [
        """w AS (
      SELECT w, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(lower(text), ' +')) AS w
        FROM documents)
      WHERE w <> '' AND w NOT LIKE '%|%' AND w NOT LIKE '%''%'
        AND w NOT LIKE '%\\%'
      GROUP BY w)""",
        "s0 AS (SELECT array_to_string(string_split(w, ''), '|') AS sym, "
        "freq FROM w)",
    ]
    selects = []
    for i in range(1, _BPE_ROUNDS + 1):
        ctes.append(
            f"m{i} AS (SELECT l, r, n FROM ({_bpe_pairs_sql(f's{i - 1}')}) "
            f"ORDER BY n DESC, l, r LIMIT 1)"
        )
        if i < _BPE_ROUNDS:
            ctes.append(f"s{i} AS ({_bpe_apply_sql(f's{i - 1}', f'm{i}')})")
        selects.append(
            f"SELECT {i} AS merge_no, l AS merge_left, r AS merge_right, "
            f"CAST(n AS BIGINT) AS pair_count FROM m{i}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + " UNION ALL ".join(selects) + " ORDER BY merge_no"
    )


@register("text_bpe_merges", _bpe_sql())
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, first 3 merge rules over the corpus:
    per round, corpus-frequency-weighted adjacent-pair counts over the
    *distinct-word* table (corpus size only enters the initial word
    count — the standard trick), argmax with lexicographic tie-break,
    greedy left-to-right merge application as a map-only string fold.
    The oracle unrolls the same rounds as chained CTEs, including the
    fold (both engines evaluate the identical accumulator expression).

    Scale shape per round: one explode+groupBy shuffle bounded by the
    pair vocabulary, a TakeOrdered(1), and a map-only rewrite; the
    learned rule is the only thing that ever touches the driver."""
    from trignis_spark.operators import bpe

    docs = load(spark, sf_dir, "documents")
    rules = bpe.learn_merges(docs, _BPE_ROUNDS)
    return spark.createDataFrame(
        [
            (i + 1, left, right, int(n))
            for i, (left, right, n) in enumerate(rules)
        ],
        "merge_no int, merge_left string, merge_right string, "
        "pair_count long",
    ).orderBy("merge_no")


def _bpe_encode_sql() -> str:
    # the training CTE chain, extended by one final application (s3) and
    # a corpus-level rollup: token counts before/after the learned
    # merges = the compression the tokenizer buys at this vocab delta
    ctes = [
        """w AS (
      SELECT w, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(lower(text), ' +')) AS w
        FROM documents)
      WHERE w <> '' AND w NOT LIKE '%|%' AND w NOT LIKE '%''%'
        AND w NOT LIKE '%\\%'
      GROUP BY w)""",
        "s0 AS (SELECT array_to_string(string_split(w, ''), '|') AS sym, "
        "freq FROM w)",
    ]
    for i in range(1, _BPE_ROUNDS + 1):
        ctes.append(
            f"m{i} AS (SELECT l, r, n FROM ({_bpe_pairs_sql(f's{i - 1}')}) "
            f"ORDER BY n DESC, l, r LIMIT 1)"
        )
        ctes.append(f"s{i} AS ({_bpe_apply_sql(f's{i - 1}', f'm{i}')})")
    last = f"s{_BPE_ROUNDS}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT
      CAST((SELECT sum(len(string_split(sym, '|')) * freq) FROM s0)
           AS BIGINT) AS chars_total,
      CAST((SELECT sum(len(string_split(sym, '|')) * freq) FROM {last})
           AS BIGINT) AS tokens_total,
      CAST((SELECT count(DISTINCT u.s) FROM (
              SELECT unnest(string_split(sym, '|')) AS s FROM {last}) u)
           AS BIGINT) AS vocab_size
    """
    )


@register("text_bpe_encode_stats", _bpe_encode_sql())
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff of the learned merges, measured: corpus token count
    before (characters) and after applying the learned rules, plus the
    resulting symbol-vocabulary size. Encoding is the same map-only
    fold as training's apply step; the rollup is two tiny aggregates
    over the distinct-word table."""
    from trignis_spark.operators import bpe

    docs = load(spark, sf_dir, "documents")
    words = bpe.word_table(docs)
    s = bpe.to_symbols(words).localCheckpoint(eager=True)
    chars_total = s.agg(
        F.sum(F.expr("size(split(sym, '[|]')) * freq")).cast("long")
    ).first()[0]
    for left, right, _n in bpe.learn_merges(docs, _BPE_ROUNDS):
        s = bpe.apply_merge(s, left, right).localCheckpoint(eager=True)
    out = s.agg(
        F.sum(F.expr("size(split(sym, '[|]')) * freq"))
        .cast("long")
        .alias("tokens_total"),
    ).crossJoin(
        s.select(F.explode(F.expr("split(sym, '[|]')")).alias("t"))
        .agg(F.countDistinct("t").cast("long").alias("vocab_size"))
    )
    return out.select(
        F.lit(chars_total).cast("long").alias("chars_total"),
        "tokens_total",
        "vocab_size",
    )


# --------------------------------------------------------------------------
# BM25-style retrieval scoring (rational-idf variant, transcendental-free)
# --------------------------------------------------------------------------

_BM25_TERMS = ("data", "join", "stream")
_BM25_K1, _BM25_B = 1.2, 0.75

#: rational idf — (N - df + 0.5) / (df + 0.5), the BM25 idf argument
#: *without* the log: monotone in the same direction, and free of the
#: transcendental whose last-ulp differs between engines (ln mismatches
#: measured in 22/500 cases), so scores match bit-for-bit.
_BM25_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents),
    lens AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(CAST(dl AS DECIMAL(20,0))) AS DOUBLE)
               / count(*) AS avgdl
      FROM lens),
    terms AS (SELECT unnest(['{"', '".join(_BM25_TERMS)}']) AS term),
    tf AS (
      SELECT doc_id, tok AS term, count(*) AS tf
      FROM toks WHERE tok IN (SELECT term FROM terms)
      GROUP BY doc_id, tok),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id, tf.term,
             (CAST(tf.tf AS DOUBLE) * ({_BM25_K1} + 1.0))
             / (CAST(tf.tf AS DOUBLE) + {_BM25_K1}
                * (1.0 - {_BM25_B}
                   + {_BM25_B} * (CAST(lens.dl AS DOUBLE) / stats.avgdl)))
             * ((stats.n_docs - CAST(df.df AS DOUBLE) + 0.5)
                / (CAST(df.df AS DOUBLE) + 0.5)) AS c
      FROM tf
      JOIN lens ON lens.doc_id = tf.doc_id
      JOIN df ON df.term = tf.term
      CROSS JOIN stats),
    scored AS (
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list(c ORDER BY term)),
                         (a, b) -> a + b) AS score
      FROM contrib GROUP BY doc_id)
    SELECT doc_id, round(score, 9) AS score
    FROM scored ORDER BY score DESC, doc_id LIMIT 20
"""


@register("text_bm25_topk", _BM25_SQL)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (rational-idf variant) for a fixed query
    over the documents table — the lexical-search half of a retrieval
    stack next to the ANN queries. The idf keeps BM25's
    ``(N - df + ½)/(df + ½)`` argument un-logged: monotone the same
    way, but free of the transcendental whose final ulp differs between
    engines, so every double matches the oracle exactly (round(9) as
    ulp insurance only on the emitted score). Per-term sums accumulate
    over ≤|terms| values through one identical expression tree.

    Scale shape: tf is one (doc, term) partial-agged groupBy over the
    token explode *pre-filtered to the query terms* (the explode never
    materializes the full vocabulary); df and the length stats are
    tiny broadcast frames; scoring is map-side."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr("split(lower(text), ' ')")).alias("tok"),
    )
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(20,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(lens, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                (F.col("tf").cast("double") * F.lit(_BM25_K1 + 1.0))
                / (
                    F.col("tf").cast("double")
                    + F.lit(_BM25_K1)
                    * (
                        F.lit(1.0 - _BM25_B)
                        + F.lit(_BM25_B)
                        * (F.col("dl").cast("double") / F.col("avgdl"))
                    )
                )
                * (
                    (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
                    / (F.col("df").cast("double") + F.lit(0.5))
                )
            ).alias("c"),
        )
    )
    # term-sorted fold, not an unordered SUM: 3 addends are enough for
    # engine-dependent association to break the value hash
    scored = contrib.groupBy("doc_id").agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(term, c))), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.c)"
        ).alias("score")
    )
    return (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(20)
        .select("doc_id", F.round("score", 9).alias("score"))
    )


# --------------------------------------------------------------------------
# Exact order statistics + histograms (distribution profiling)
# --------------------------------------------------------------------------


@register(
    "agg_exact_percentiles",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per event type — the
    latency/size distribution profile an operator reads before setting
    thresholds. Both engines use the same ``p·(n-1)`` lerp, so the
    doubles match bit-for-bit (verified, no rounding needed). Exact
    percentile is a sort-based aggregate — fine per group at any scale
    because groups partition the data; for single-group global
    percentiles at 100 TB switch to approx_percentile and re-rank the
    boundary."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr("percentile(value, 0.5D)").alias("p50"),
            F.expr("percentile(value, 0.9D)").alias("p90"),
            F.expr("percentile(value, 0.99D)").alias("p99"),
        )
        .orderBy("event_type")
    )


_HIST_STEP = 25.0


@register(
    "agg_value_histogram",
    f"""
    SELECT event_type,
           CAST(floor(value / {_HIST_STEP}) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT)
             AS cents_total
    FROM events
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per event type (integer-exact bucket totals
    — floats are bucketed by floor division and summed as cents so both
    engines agree exactly). One partial-agged shuffle; output bounded by
    #types × #buckets regardless of corpus size."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(_HIST_STEP)).cast("long")
            .alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr("CAST(floor(value * 100.0) AS BIGINT)"))
            .cast("long")
            .alias("cents_total"),
        )
        .orderBy("event_type", "bucket")
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): codebook training + ADC search (IVF-PQ's
# compression half), both fully oracle-replayed
# --------------------------------------------------------------------------

_PQ_M = 2  # subspaces (dim 64 → two 32-d halves; small so the oracle unrolls)
_PQ_K = 4

_PQ_SUBS = f"(SELECT unnest(range({_PQ_M})) AS sub)"

# subvector slice of a list column: contiguous equal splits, 1-based ends
_PQ_SLICE = "{v}[{s} * (len({v}) // " + str(_PQ_M) + ") + 1 : " \
    "({s} + 1) * (len({v}) // " + str(_PQ_M) + ")]"


def _pq_assign_sql(sv: str, cents: str) -> str:
    """Grouped argmin per (vec, subspace), ties to the lowest cid."""
    return f"""
      SELECT vec_id, sub, cid FROM (
        SELECT {sv}.vec_id, {sv}.sub, {cents}.cid,
               row_number() OVER (
                 PARTITION BY {sv}.vec_id, {sv}.sub
                 ORDER BY {_DSQ.format(a=f'{sv}.subv', b=f'{cents}.cvec')},
                          {cents}.cid) AS rn
        FROM {sv} JOIN {cents} ON {cents}.sub = {sv}.sub) WHERE rn = 1
    """


def _pq_update_sql(assign: str, cents: str) -> str:
    return f"""
      SELECT {cents}.sub, {cents}.cid, coalesce(mm.cvec, {cents}.cvec) AS cvec
      FROM {cents} LEFT JOIN (
        SELECT sub, cid, list(mv ORDER BY pos) AS cvec FROM (
          SELECT sub, cid, pos,
                 CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS mv
          FROM (
            SELECT a.sub, a.cid,
                   unnest(generate_series(0, len(sv.subv) - 1)) AS pos,
                   unnest(sv.subv) AS x
            FROM ({assign}) a
            JOIN sv ON sv.vec_id = a.vec_id AND sv.sub = a.sub)
          GROUP BY sub, cid, pos)
        GROUP BY sub, cid) mm
      ON mm.sub = {cents}.sub AND mm.cid = {cents}.cid
    """


_PQ_TRAIN_CTES = f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sv AS (
      SELECT e.vec_id, s.sub, {_PQ_SLICE.format(v='e.v', s='s.sub')} AS subv
      FROM e, {_PQ_SUBS} s),
    seed AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
      FROM e ORDER BY vec_id LIMIT {_PQ_K}),
    c0 AS (
      SELECT s.sub, seed.cid,
             {_PQ_SLICE.format(v='seed.v', s='s.sub')} AS cvec
      FROM seed, {_PQ_SUBS} s),
    c1 AS ({_pq_update_sql(_pq_assign_sql('sv', 'c0'), 'c0')}),
    c2 AS ({_pq_update_sql(_pq_assign_sql('sv', 'c1'), 'c1')})
"""


@register(
    "emb_pq_codebook",
    f"""
    WITH {_PQ_TRAIN_CTES},
    sizes AS (
      SELECT sub, cid, count(*) AS n_members
      FROM ({_pq_assign_sql('sv', 'c2')}) GROUP BY sub, cid)
    SELECT CAST(c2.sub AS BIGINT) AS sub, CAST(c2.cid AS BIGINT) AS cid,
           CAST(t.pos AS BIGINT) AS pos,
           round(c2.cvec[t.pos + 1], 9) AS centroid_val,
           CAST(coalesce(sizes.n_members, 0) AS BIGINT) AS n_members
    FROM c2
    LEFT JOIN sizes ON sizes.sub = c2.sub AND sizes.cid = c2.cid,
    LATERAL (SELECT unnest(generate_series(0, len(c2.cvec) - 1)) AS pos) t
    ORDER BY sub, cid, pos
    """,
)
def emb_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training as an oracle-checked
    query: two grouped Lloyd rounds over every subspace at once (the m
    k-means problems share each round's shuffles), k=4 per 32-d half.
    Same determinism contract as emb_kmeans_quantizer — first-k init,
    fixed-point means, lowest-cid ties — so per-(subspace, cluster,
    component) centroids match the chained-CTE oracle bit-for-bit."""
    from trignis_spark.operators import pq

    emb = load(spark, sf_dir, "embeddings")
    cb = pq.train_pq(emb, m=_PQ_M, k=_PQ_K, iters=2)
    sizes = (
        pq.assign_codes(pq.split_subvectors(emb, _PQ_M), cb)
        .groupBy("sub", "cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    return (
        cb.select("sub", "cid", F.posexplode("cvec").alias("pos", "cv"))
        .join(sizes, ["sub", "cid"], "left")
        .select(
            F.col("sub").cast("long").alias("sub"),
            F.col("cid").cast("long").alias("cid"),
            F.col("pos").cast("long").alias("pos"),
            F.round("cv", 9).alias("centroid_val"),
            F.coalesce("n_members", F.lit(0)).cast("long")
            .alias("n_members"),
        )
        .orderBy("sub", "cid", "pos")
    )


@register(
    "ann_pq_topk",
    f"""
    WITH {_PQ_TRAIN_CTES},
    codes AS ({_pq_assign_sql('sv', 'c2')}),
    q AS (SELECT vec_id AS query_id FROM e WHERE vec_id % 100 = 0),
    qsub AS (
      SELECT q.query_id, sv.sub, sv.subv
      FROM sv JOIN q ON sv.vec_id = q.query_id),
    lut AS (
      SELECT qsub.query_id, qsub.sub, c2.cid AS code,
             {{ddot}} AS pdot
      FROM qsub JOIN c2 ON c2.sub = qsub.sub),
    s AS (
      SELECT l.query_id, codes.vec_id AS neighbor_id,
             CAST(sum(CAST(l.pdot AS DECIMAL(30,12))) AS DOUBLE) AS adot
      FROM codes
      JOIN lut l ON l.sub = codes.sub AND l.code = codes.cid
      WHERE codes.vec_id <> l.query_id
      GROUP BY l.query_id, codes.vec_id)
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adot DESC, neighbor_id) AS rank
      FROM s) WHERE rank <= 10
    """.format(
        ddot="list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip(qsub.subv, c2.cvec), p -> p[1] * p[2])), "
        "(x, y) -> x + y)"
    ),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over PQ codes: the query stays exact, database vectors
    are m one-byte codes, and scoring is m LUT lookups summed in
    fixed-point decimal (order-independent, so the oracle's re-derivation
    of codebook + codes + LUT ranks identically). At scale the codes
    table is 32× smaller than the float corpus and the LUT is broadcast
    (m·k rows per query) — the corpus is never shuffled."""
    from trignis_spark.operators import pq

    emb = load(spark, sf_dir, "embeddings")
    cb = pq.train_pq(emb, m=_PQ_M, k=_PQ_K, iters=2)
    topk = pq.pq_topk(emb, cb, m=_PQ_M)
    return topk.withColumn("rank", F.col("rank").cast("long"))


# The full IVF-PQ cascade, re-derived from raw embeddings: PQ training →
# codes → coarse cells → ADC → shortlist → exact re-rank. Shared verbatim
# by ann_ivfpq_topk (train-per-call operator) and ann_ivfpq_probe (probe
# over the *persisted* index) — persistence must never change results.
_IVFPQ_CASCADE_SQL = f"""
    WITH {_PQ_TRAIN_CTES},
    codes AS ({_pq_assign_sql('sv', 'c2')}),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2,
                 {_IVF_BUCKET.format(v='v')} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2, bucket AS qbucket
          FROM n WHERE vec_id % 100 = 0),
    cand AS (
      SELECT q.query_id, n.vec_id
      FROM q JOIN n ON n.bucket = q.qbucket AND n.vec_id <> q.query_id),
    qsub AS (
      SELECT q.query_id, sv.sub, sv.subv
      FROM sv JOIN q ON sv.vec_id = q.query_id),
    lut AS (
      SELECT qsub.query_id, qsub.sub, c2.cid AS code,
             {_DDOT.format(a='qsub.subv', b='c2.cvec')} AS pdot
      FROM qsub JOIN c2 ON c2.sub = qsub.sub),
    adc AS (
      SELECT c.query_id, c.vec_id AS neighbor_id,
             CAST(sum(CAST(l.pdot AS DECIMAL(30,12))) AS DOUBLE) AS adot
      FROM cand c
      JOIN codes ON codes.vec_id = c.vec_id
      JOIN lut l ON l.query_id = c.query_id AND l.sub = codes.sub
                AND l.code = codes.cid
      GROUP BY c.query_id, c.vec_id),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adot DESC, neighbor_id) AS srn
        FROM adc) WHERE srn <= 30),
    ex AS (
      SELECT s.query_id, s.neighbor_id,
             {_DDOT.format(a='q.qv', b='x.v')} / sqrt(q.qn2 * x.n2) AS cos
      FROM short s
      JOIN n x ON x.vec_id = s.neighbor_id
      JOIN q ON q.query_id = s.query_id)
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM ex) WHERE rank <= 10
    """


@register("ann_ivfpq_topk", _IVFPQ_CASCADE_SQL)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN cascade, oracle-checked end to end: IVF coarse
    cell filter → ADC ranking over PQ byte codes → exact re-rank of the
    top-30 shortlist → top-10. Per-query cost is O(cell population) code
    lookups plus 30 exact dot products — the float corpus is only
    touched for the shortlist, and nothing shuffles the corpus. All
    three stages are deterministic, so the DuckDB oracle replays the
    entire cascade (training included) and the value hash pins it."""
    from trignis_spark.operators import pq

    emb = load(spark, sf_dir, "embeddings")
    cb = pq.train_pq(emb, m=_PQ_M, k=_PQ_K, iters=2)
    topk = pq.ivfpq_topk(emb, cb, m=_PQ_M, nprobe=1, shortlist=30)
    return topk.withColumn("rank", F.col("rank").cast("long"))


@register("ann_ivfpq_probe", _IVFPQ_CASCADE_SQL)
def ann_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only IVF-PQ search over the *persisted* index — the
    production serving shape VERDICT r4 #1 asked for: ``ann_ivfpq_topk``
    re-trains the codebook and re-encodes the corpus every call, this
    query trains at most once per (session, sf_dir) via
    ``ivfpq_index.build_ivfpq_index`` and then answers from the five
    persisted tables (bucketed codes scan + broadcast codebook LUT +
    shortlist re-rank). The oracle is the cascade SQL verbatim —
    persistence must change cost, never results (tests/test_ivfpq_index
    proves probe ≡ cascade; BASELINE.md carries the probe-vs-train
    timings)."""
    import hashlib

    from trignis_spark.operators import ivfpq_index as ipq

    emb = load(spark, sf_dir, "embeddings")
    name = "ivfpq_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    if not ipq.index_exists(spark, name):
        # n_buckets pinned to 16: the DuckDB oracle replays the 4-bit
        # sign-pattern bucket expression; production builds take the
        # auto √N default (see build_ivfpq_index)
        ipq.build_ivfpq_index(
            spark, emb, name, m=_PQ_M, k=_PQ_K, n_buckets=16, iters=2
        )
    queries = emb.filter("vec_id % 100 = 0")
    topk = ipq.ivfpq_probe(
        spark, name, queries, k=10, nprobe=1, shortlist=30
    )
    return topk.withColumn("rank", F.col("rank").cast("long"))


_IVFPQ_ADC_SQL = f"""
    WITH {_PQ_TRAIN_CTES},
    codes AS ({_pq_assign_sql('sv', 'c2')}),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2,
                 {_IVF_BUCKET.format(v='v')} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2, bucket AS qbucket
          FROM n WHERE vec_id % 100 = 0),
    cand AS (
      SELECT q.query_id, n.vec_id
      FROM q JOIN n ON n.bucket = q.qbucket AND n.vec_id <> q.query_id),
    qsub AS (
      SELECT q.query_id, sv.sub, sv.subv
      FROM sv JOIN q ON sv.vec_id = q.query_id),
    lut AS (
      SELECT qsub.query_id, qsub.sub, c2.cid AS code,
             {_DDOT.format(a='qsub.subv', b='c2.cvec')} AS pdot
      FROM qsub JOIN c2 ON c2.sub = qsub.sub),
    nrm AS (SELECT sub, cid, {_DNORM2.format(a='cvec')} AS pn FROM c2),
    adc AS (
      SELECT c.query_id, c.vec_id AS neighbor_id,
             CAST(sum(CAST(l.pdot AS DECIMAL(30,12))) AS DOUBLE) AS adot,
             CAST(sum(CAST(nrm.pn AS DECIMAL(30,12))) AS DOUBLE) AS xq2
      FROM cand c
      JOIN codes ON codes.vec_id = c.vec_id
      JOIN lut l ON l.query_id = c.query_id AND l.sub = codes.sub
                AND l.code = codes.cid
      JOIN nrm ON nrm.sub = codes.sub AND nrm.cid = codes.cid
      GROUP BY c.query_id, c.vec_id),
    scored AS (
      SELECT adc.query_id, adc.neighbor_id,
             adc.adot / sqrt(q.qn2 * adc.xq2) AS cos
      FROM adc JOIN q ON q.query_id = adc.query_id)
    SELECT query_id, neighbor_id, rank, round(cos, 9) AS adc_cos FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 10
    """


@register("ann_ivfpq_probe_adc", _IVFPQ_ADC_SQL)
def ann_ivfpq_probe_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rerank-free IVF-PQ probe (round 8): ranks and scores come from
    the QUANTIZED cosine cos(q, x̂) = adot / √(qn2 · |x̂|²), computed
    entirely from the codes scan + broadcast codebook — the float
    table is never read (the plan is asserted float-free in
    tests/test_ivfpq_index.py). This is the serving path whose error
    the build certifies into ``meta.adc_margin`` and the ingest
    gate's ``precision='adc'`` mode thresholds at (θ − margin). Both
    ADC partial-dot and reconstruction-norm sums accumulate in
    fixed-point decimal (order-independent), and the per-(sub, code)
    norms are the same component-ascending double folds in both
    engines — so the oracle re-derives training, codes, norms, and
    the full ranking bit-for-bit."""
    import hashlib

    from trignis_spark.operators import ivfpq_index as ipq

    emb = load(spark, sf_dir, "embeddings")
    # shares the persisted index (and its one-time build) with
    # ann_ivfpq_probe — same name scheme, same pinned 16-cell layout
    name = "ivfpq_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    if not ipq.index_exists(spark, name):
        ipq.build_ivfpq_index(
            spark, emb, name, m=_PQ_M, k=_PQ_K, n_buckets=16, iters=2
        )
    queries = emb.filter("vec_id % 100 = 0")
    topk = ipq.ivfpq_probe(
        spark, name, queries, k=10, nprobe=1, include_score=True,
        rerank=False,
    )
    return topk.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cos", 9).alias("adc_cos"),
    )


@register("ann_ivfpq_probe_adc_arrow", _IVFPQ_ADC_SQL)
def ann_ivfpq_probe_adc_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_ivfpq_probe_adc` with the candidate scoring FORCED onto
    the Arrow int64 fixed-point twin (round 10 — `ivfpq_probe(...,
    adc_impl="arrow")`): same oracle SQL, so the driver's per-round
    gate re-proves the twin's bit-identity claim (quantize-once
    HALF_UP LUTs, int64 gather-and-sum, exact decimal→double
    conversion) against DuckDB's independent decimal arithmetic — the
    auto dispatch keeps fixture-scale probes on the expression fold,
    so without this row the at-scale engine would be pytest-gated
    only."""
    import hashlib

    from trignis_spark.operators import ivfpq_index as ipq

    emb = load(spark, sf_dir, "embeddings")
    name = "ivfpq_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    if not ipq.index_exists(spark, name):
        ipq.build_ivfpq_index(
            spark, emb, name, m=_PQ_M, k=_PQ_K, n_buckets=16, iters=2
        )
    queries = emb.filter("vec_id % 100 = 0")
    topk = ipq.ivfpq_probe(
        spark, name, queries, k=10, nprobe=1, include_score=True,
        rerank=False, adc_impl="arrow",
    )
    return topk.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cos", 9).alias("adc_cos"),
    )


_IVFPQ_RERANK_SQL = _IVFPQ_CASCADE_SQL.replace(
    "SELECT query_id, neighbor_id, rank FROM (",
    "SELECT query_id, neighbor_id, rank, round(cos, 9) AS cos9 FROM (",
).replace(
    """row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM ex) WHERE rank <= 10""",
    """cos, row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM ex) WHERE rank <= 10""",
)


@register("ann_ivfpq_probe_rerank_arrow", _IVFPQ_RERANK_SQL)
def ann_ivfpq_probe_rerank_arrow(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """`ann_ivfpq_probe` with stage 3's exact re-rank FORCED onto the
    Arrow cumsum twin (round 11 — `ivfpq_probe(...,
    rerank_impl="arrow")`) and the exact cosine surfaced: the oracle's
    `ex` CTE computes the same sequential double fold
    (`list_reduce` left fold ≡ SQL `aggregate` ≡ np.cumsum's forced
    prefix order), so the driver's per-round gate re-proves the
    rerank twin's bit-identity claim against DuckDB's independent
    arithmetic — the auto dispatch keeps fixture-scale probes on the
    expression fold, so without this row the at-scale rerank engine
    would be pytest-gated only (same rationale as
    `ann_ivfpq_probe_adc_arrow`)."""
    import hashlib

    from trignis_spark.operators import ivfpq_index as ipq

    emb = load(spark, sf_dir, "embeddings")
    name = "ivfpq_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    if not ipq.index_exists(spark, name):
        ipq.build_ivfpq_index(
            spark, emb, name, m=_PQ_M, k=_PQ_K, n_buckets=16, iters=2
        )
    queries = emb.filter("vec_id % 100 = 0")
    topk = ipq.ivfpq_probe(
        spark, name, queries, k=10, nprobe=1, shortlist=30,
        include_score=True, rerank_impl="arrow",
    )
    return topk.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cos", 9).alias("cos9"),
    )


@register("ann_ivfpq_probe_split", _IVFPQ_CASCADE_SQL)
def ann_ivfpq_probe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_ivfpq_probe` over an index built with the mega-cell
    sub-split FORCED at fixture scale (round 11, VERDICT r10 #2 —
    `split_factor=1` splits every cell past 1× the mean occupancy
    into hash sub-cell partitions): the oracle is the unsplit cascade
    SQL verbatim, so the driver's per-round gate proves the split
    layout's core invariant — the candidate union over a cell's
    sub-partitions IS the unsplit cell's candidate set, so rankings
    are unchanged at any split factor. Production builds take
    `CELL_SPLIT_FACTOR`; a dedicated index name keeps the shared
    pinned-layout index unsplit for its own oracle rows."""
    import hashlib

    from trignis_spark.operators import ivfpq_index as ipq

    emb = load(spark, sf_dir, "embeddings")
    name = "ivfpqsp_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    if not ipq.index_exists(spark, name):
        ipq.build_ivfpq_index(
            spark, emb, name, m=_PQ_M, k=_PQ_K, n_buckets=16, iters=2,
            split_factor=1,
        )
    queries = emb.filter("vec_id % 100 = 0")
    topk = ipq.ivfpq_probe(
        spark, name, queries, k=10, nprobe=1, shortlist=30
    )
    return topk.withColumn("rank", F.col("rank").cast("long"))


@register(
    "corpus_mix_weights",
    """
    WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    t AS (
      SELECT list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang)),
               (a, b) -> a + b) AS total
      FROM c)
    SELECT c.lang, CAST(c.n_docs AS BIGINT) AS n_docs,
           sqrt(CAST(c.n_docs AS DOUBLE)) / t.total AS weight
    FROM c, t
    ORDER BY c.lang
    """,
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (α=0.5): sampling weight per
    language proportional to sqrt(n_docs) — the standard recipe for
    upweighting low-resource slices when assembling a training mix.

    Cross-engine determinism: sqrt is IEEE-correctly-rounded (both
    engines agree bit-for-bit) and the normalizing total is a fold over
    the lang-sorted list, not an unordered SUM — the one place naive
    double summation would break the value hash. The weight table is
    #langs rows; the only corpus-sized work is one count shuffle."""
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.agg(
        F.expr(
            "aggregate(array_sort(collect_list(named_struct("
            "'lang', lang, 's', sqrt(CAST(n_docs AS DOUBLE))))), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.s)"
        ).alias("total")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.expr("sqrt(CAST(n_docs AS DOUBLE))") / F.col("total"))
            .alias("weight"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Loose-threshold embedding near-dup via trained-quantizer blocking
# --------------------------------------------------------------------------

_KMC_K = 16  # blocking cells (scale ~sqrt(N) in production)
_KMC_ASSIGN = 2  # multi-assignment: nearest + second-nearest cell


def _km_assign_topn_sql(vecs: str, cents: str, n: int) -> str:
    """Top-n cell assignment as SQL (dist-then-cid tie-break)."""
    return f"""
      SELECT vec_id, cid FROM (
        SELECT {vecs}.vec_id, {cents}.cid,
               row_number() OVER (
                 PARTITION BY {vecs}.vec_id
                 ORDER BY {_DSQ.format(a=f'{vecs}.v', b=f'{cents}.cvec')},
                          {cents}.cid) AS rn
        FROM {vecs}, {cents}) WHERE rn <= {n}
    """


@register(
    "dedup_embedding_cosine_clustered",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
      FROM e ORDER BY vec_id LIMIT {_KMC_K}),
    c1 AS ({_km_update_sql(_km_assign_sql('e', 'c0'), 'c0')}),
    c2 AS ({_km_update_sql(_km_assign_sql('e', 'c1'), 'c1')}),
    asg AS ({_km_assign_topn_sql('e', 'c2', _KMC_ASSIGN)}),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2 FROM e),
    cand AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM asg a JOIN asg b
        ON a.cid = b.cid AND a.vec_id < b.vec_id),
    s AS (
      SELECT c.d1, c.d2,
             {_DDOT.format(a='x.v', b='y.v')} / sqrt(x.n2 * y.n2) AS cos
      FROM cand c JOIN n x ON x.vec_id = c.d1 JOIN n y ON y.vec_id = c.d2)
    SELECT d1, d2, cos FROM s WHERE cos >= 0.4
    """,
)
def dedup_embedding_cosine_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Loose-threshold (cos ≥ 0.4) embedding near-dup with
    trained-quantizer blocking — the regime where sign-LSH banding
    cannot work (at 0.4 pairs agree on only ~63% of sign bits; any band
    layout either saturates or loses the pairs, see the sf10 findings
    in BASELINE.md). Candidates share one of each vector's 2 nearest
    deterministic k-means cells (same training contract as
    `emb_kmeans_quantizer`: first-k init, decimal means, dist-then-cid
    ties); exact cosine verifies every emitted pair. The oracle replays
    training, top-2 assignment, blocking and verification as chained
    CTEs (`operators/similarity.py::cosine_near_dup_pairs_clustered`)."""
    from trignis_spark.operators import similarity as sim

    return sim.cosine_near_dup_pairs_clustered(
        load(spark, sf_dir, "embeddings"),
        threshold=0.4,
        k=_KMC_K,
        iters=2,
        assign_n=_KMC_ASSIGN,
    )


# --- two-level (hierarchical) quantizer twin: the >10⁶-vector path -------

_KMH_KC = 4  # coarse cells (scale ~N^(1/4) in production)
_KMH_KF = 4  # fine cells per coarse cell (same production rule)


def _kmh_fine_assign_sql(vx: str, fine: str, n: int) -> str:
    """Top-n within-coarse-cell fine assignment as SQL (dist-then-fid
    tie-break, partitioned per (vector, coarse cell) exactly like
    ``kmeans._assign_fine``'s window)."""
    return f"""
      SELECT vec_id, ccid, fid FROM (
        SELECT {vx}.vec_id, {vx}.ccid, f.fid,
               row_number() OVER (
                 PARTITION BY {vx}.vec_id, {vx}.ccid
                 ORDER BY {_DSQ.format(a=f'{vx}.v', b='f.cvec')},
                          f.fid) AS rn
        FROM {vx} JOIN {fine} f ON f.ccid = {vx}.ccid) WHERE rn <= {n}
    """


def _kmh_fine_update_sql(assign: str, fine: str) -> str:
    """Grouped per-(ccid, fid) component means in fixed decimal; fine
    cells that lost every member keep their centroid."""
    return f"""
      SELECT {fine}.ccid, {fine}.fid, coalesce(m.cvec, {fine}.cvec) AS cvec
      FROM {fine} LEFT JOIN (
        SELECT ccid, fid, list(m ORDER BY pos) AS cvec FROM (
          SELECT ccid, fid, pos,
                 CAST(sum(CAST(x AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
          FROM (
            SELECT a.ccid, a.fid,
                   unnest(generate_series(0, len(e.v) - 1)) AS pos,
                   unnest(e.v) AS x
            FROM ({assign}) a JOIN e USING (vec_id))
          GROUP BY ccid, fid, pos)
        GROUP BY ccid, fid) m
      ON m.ccid = {fine}.ccid AND m.fid = {fine}.fid
    """


@register(
    "dedup_embedding_cosine_clustered_scaled",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
      FROM e ORDER BY vec_id LIMIT {_KMH_KC}),
    c1 AS ({_km_update_sql(_km_assign_sql('e', 'c0'), 'c0')}),
    c2 AS ({_km_update_sql(_km_assign_sql('e', 'c1'), 'c1')}),
    ca AS ({_km_assign_sql('e', 'c2')}),
    vx AS (SELECT ca.vec_id, ca.cid AS ccid, e.v
           FROM ca JOIN e USING (vec_id)),
    f0 AS (
      SELECT ccid, CAST(rn - 1 AS INT) AS fid, v AS cvec FROM (
        SELECT ccid, v,
               row_number() OVER (PARTITION BY ccid
                                  ORDER BY vec_id, v) AS rn
        FROM vx) WHERE rn <= {_KMH_KF}),
    f1 AS ({_kmh_fine_update_sql(_kmh_fine_assign_sql('vx', 'f0', 1), 'f0')}),
    f2 AS ({_kmh_fine_update_sql(_kmh_fine_assign_sql('vx', 'f1', 1), 'f1')}),
    c2l AS (SELECT * FROM c2
            WHERE cid IN (SELECT DISTINCT ccid FROM f2)),
    ca2 AS ({_km_assign_topn_sql('e', 'c2l', _KMC_ASSIGN)}),
    vx2 AS (SELECT ca2.vec_id, ca2.cid AS ccid, e.v
            FROM ca2 JOIN e USING (vec_id)),
    fa AS ({_kmh_fine_assign_sql('vx2', 'f2', _KMC_ASSIGN)}),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2 FROM e),
    cand AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM fa a JOIN fa b
        ON a.ccid = b.ccid AND a.fid = b.fid AND a.vec_id < b.vec_id),
    s AS (
      SELECT c.d1, c.d2,
             {_DDOT.format(a='x.v', b='y.v')} / sqrt(x.n2 * y.n2) AS cos
      FROM cand c JOIN n x ON x.vec_id = c.d1 JOIN n y ON y.vec_id = c.d2)
    SELECT d1, d2, cos FROM s WHERE cos >= 0.4
    """,
)
def dedup_embedding_cosine_clustered_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The flat clustered form's scale twin (VERDICT r5 #1): identical
    semantics — loose-threshold (cos ≥ 0.4) near-dup with trained-cell
    blocking and exact verification — but the quantizer is two-level
    (`kmeans.train_kmeans_2level`), so assignment costs
    N·(k_coarse + 2·k_fine) instead of the brute N·k that OOM'd the
    flat registry form at sf10 and walls the √N dial at ~10⁶ vectors.
    The registry pins 4×4 cells (16 total, the flat form's k) so the
    DuckDB oracle can replay coarse training, within-cell fine
    training, two-level top-2 assignment, blocking and verification as
    chained CTEs; production sizing is k_coarse = k_fine = N^(1/4)
    (`operators/similarity.py::cosine_near_dup_pairs_clustered_2level`)."""
    from trignis_spark.operators import similarity as sim

    return sim.cosine_near_dup_pairs_clustered_2level(
        load(spark, sf_dir, "embeddings"),
        threshold=0.4,
        k_coarse=_KMH_KC,
        k_fine=_KMH_KF,
        iters=2,
        assign_n=_KMC_ASSIGN,
    )


_KMC_CAP = 1  # per-vector nearest cell-mates kept. Pinned to 1 because
#               that is the largest cap that TRUNCATES at fixture scale
#               (cap 1 -> 55 pairs vs the full sweep's 57 at sf0.01;
#               cap >= 2 already recovers all 57) — the gate must prove
#               the truncation semantics, not just the full sweep again.
#               Production default is 8 (see the operator docstring).


@register(
    "dedup_embedding_cosine_clustered_capped",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
      FROM e ORDER BY vec_id LIMIT {_KMH_KC}),
    c1 AS ({_km_update_sql(_km_assign_sql('e', 'c0'), 'c0')}),
    c2 AS ({_km_update_sql(_km_assign_sql('e', 'c1'), 'c1')}),
    ca AS ({_km_assign_sql('e', 'c2')}),
    vx AS (SELECT ca.vec_id, ca.cid AS ccid, e.v
           FROM ca JOIN e USING (vec_id)),
    f0 AS (
      SELECT ccid, CAST(rn - 1 AS INT) AS fid, v AS cvec FROM (
        SELECT ccid, v,
               row_number() OVER (PARTITION BY ccid
                                  ORDER BY vec_id, v) AS rn
        FROM vx) WHERE rn <= {_KMH_KF}),
    f1 AS ({_kmh_fine_update_sql(_kmh_fine_assign_sql('vx', 'f0', 1), 'f0')}),
    f2 AS ({_kmh_fine_update_sql(_kmh_fine_assign_sql('vx', 'f1', 1), 'f1')}),
    c2l AS (SELECT * FROM c2
            WHERE cid IN (SELECT DISTINCT ccid FROM f2)),
    ca2 AS ({_km_assign_topn_sql('e', 'c2l', _KMC_ASSIGN)}),
    vx2 AS (SELECT ca2.vec_id, ca2.cid AS ccid, e.v
            FROM ca2 JOIN e USING (vec_id)),
    fa AS ({_kmh_fine_assign_sql('vx2', 'f2', _KMC_ASSIGN)}),
    n AS (SELECT vec_id, v, {_DNORM2.format(a='v')} AS n2 FROM e),
    mates AS (
      SELECT a.vec_id AS vid, b.vec_id AS nbr,
             row_number() OVER (
               PARTITION BY a.vec_id, a.ccid, a.fid
               ORDER BY -({_DDOT.format(a='x.v', b='y.v')}
                          / sqrt(x.n2 * y.n2)),
                        b.vec_id) AS rn
      FROM fa a JOIN fa b ON a.ccid = b.ccid AND a.fid = b.fid
                         AND a.vec_id <> b.vec_id
           JOIN n x ON x.vec_id = a.vec_id
           JOIN n y ON y.vec_id = b.vec_id),
    cand AS (
      SELECT DISTINCT least(vid, nbr) AS d1, greatest(vid, nbr) AS d2
      FROM mates WHERE rn <= {_KMC_CAP}),
    s AS (
      SELECT c.d1, c.d2,
             {_DDOT.format(a='x.v', b='y.v')} / sqrt(x.n2 * y.n2) AS cos
      FROM cand c JOIN n x ON x.vec_id = c.d1 JOIN n y ON y.vec_id = c.d2)
    SELECT d1, d2, cos FROM s WHERE cos >= 0.4
    """,
)
def dedup_embedding_cosine_clustered_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bounded sweep mode for loose-threshold clustered near-dup
    (VERDICT r6 #3): identical two-level blocking to
    `dedup_embedding_cosine_clustered_scaled`, but each vector keeps
    only its {cap} nearest cell-mates per blocking slot (exact cosine,
    ties to the lower vec_id), ranked inside ONE projection over the
    cell's packed member array — candidate volume drops from
    Σ occupancy² (≈16·N^1.5, the ~2·10¹⁰-verify wall at 2 M vectors)
    to ≤ N·slots·cap, linear in N. The truncation is deterministic, so
    the oracle replays it with a windowed row_number over the same
    cell join; the pinned cap of 1 is the largest cap that actually
    truncates at fixture scale (non-vacuous: 55 vs the full sweep's 57
    pairs at sf0.01). Recall-vs-cap is measured
    with planted pairs in BASELINE.md
    (`operators/similarity.py::cosine_near_dup_pairs_clustered_capped`)."""
    from trignis_spark.operators import similarity as sim

    return sim.cosine_near_dup_pairs_clustered_capped(
        load(spark, sf_dir, "embeddings"),
        threshold=0.4,
        k_coarse=_KMH_KC,
        k_fine=_KMH_KF,
        iters=2,
        assign_n=_KMC_ASSIGN,
        cap_m=_KMC_CAP,
    )


@register(
    "dedup_index_probe",
    f"""
    WITH {_DSH_TABLE},
    bex AS (SELECT doc_id, shingle FROM ex WHERE doc_id % 7 = 3),
    cex AS (SELECT doc_id, shingle FROM ex WHERE doc_id % 7 <> 3),
    inter AS (SELECT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
                     count(*) AS isz
              FROM bex b JOIN cex c ON c.shingle = b.shingle GROUP BY 1, 2),
    jac AS (SELECT batch_doc, corpus_doc,
                   CAST(isz AS DOUBLE) / (s1.sz + s2.sz - isz) AS jaccard
            FROM inter JOIN sizes s1 ON s1.doc_id = batch_doc
                       JOIN sizes s2 ON s2.doc_id = corpus_doc)
    SELECT batch_doc, corpus_doc, jaccard
    FROM jac WHERE jaccard >= 0.8
    ORDER BY batch_doc, corpus_doc
    """,
)
def dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only near-dup search over the *persisted prefix-pruned
    index* (`operators/dedup_index.py`) — the serving shape of the
    every-poll-cycle dedup: the corpus (doc_id % 7 <> 3) is indexed at
    most once per (session, sf_dir); each call then runs only the
    two-phase probe (pruned-probe-table candidates → verify scan pruned
    by the pushed candidate ids) for the batch (doc_id % 7 = 3). The
    oracle recomputes the exact same pairs from the raw documents
    table — persistence and prefix pruning must change cost, never
    results (the per-document pigeonhole guarantees losslessness;
    tests/test_dedup_index.py proves probe ≡ the one-shot
    ``dedup.incremental_pairs`` at three thresholds)."""
    import hashlib

    from trignis_spark.operators import dedup_index as di

    docs = load(spark, sf_dir, "documents")
    name = "dedup_pidx_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    if not (
        spark.catalog.tableExists(name)
        and spark.catalog.tableExists(name + "_meta")
    ):
        di.build_prefix_index(
            spark, docs.filter("doc_id % 7 <> 3"), name, threshold=0.8
        )
    return (
        di.probe(
            spark, name, docs.filter("doc_id % 7 = 3"), threshold=0.8
        )
        .orderBy("batch_doc", "corpus_doc")
    )
