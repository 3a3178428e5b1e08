"""Text-analysis operators over document tables (SURVEY north star:
language-ID, quality scoring, token counting, document fingerprinting).

All operators are pure built-in-function DataFrame plans (no Python
UDFs): tokenization, ratio arithmetic and hashing run inside
whole-stage codegen, so they scan-scale linearly — at 100 TB these are
embarrassingly parallel map-only stages with no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trignis_spark.functions import portable as pf

#: Per-language marker stopword lists for the n-gram/stopword heuristic
#: language identifier. Priority order breaks ties deterministically.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "ein", "nicht"),
    "es": ("el", "la", "los", "que", "de", "y"),
    "fr": ("le", "les", "des", "une", "est", "et"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in")
PUNCT_CLASS = "[.,!?;:]"


def with_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("tokens", F.expr(pf.tokens(pf.SPARK, text_col)))


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish sub-word estimate
    (ceil of chars/4 — the classic "~4 chars per token" heuristic done in
    exact integer arithmetic)."""
    t = with_tokens(docs)
    return t.select(
        "doc_id",
        F.expr("CAST(size(tokens) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(length(text) AS BIGINT)").alias("n_chars_measured"),
        F.expr("CAST((length(text) + 3) DIV 4 AS BIGINT)").alias("n_subword_est"),
        F.expr(pf.sum_lengths(pf.SPARK, "tokens")).alias("token_chars"),
    )


def _quality_parts(tokens: str, text: str) -> dict[str, Column]:
    n_tok = F.expr(f"CAST(size({tokens}) AS BIGINT)")
    stop_n = F.expr(pf.count_in_list(pf.SPARK, tokens, STOPWORDS))
    tok_chars = F.expr(pf.sum_lengths(pf.SPARK, tokens))
    punct_n = F.expr(
        f"length({text}) - length(regexp_replace({text}, '{PUNCT_CLASS}', ''))"
    )
    return {
        "n_tokens": n_tok,
        "stopword_ratio": stop_n.cast("double") / n_tok,
        "avg_token_len": tok_chars.cast("double") / n_tok,
        "punct_ratio": punct_n.cast("double") / F.expr(f"length({text})"),
    }


def _score(p: dict[str, Column]) -> Column:
    return F.least(F.lit(1.0), F.greatest(
        F.lit(0.0),
        F.lit(0.2) + F.lit(0.1) * p["avg_token_len"]
        - F.lit(0.5) * p["stopword_ratio"] - F.lit(2.0) * p["punct_ratio"],
    ))


def quality_score(text_col: str = "text") -> Column:
    """``quality_scores``' score as one column expression over the text
    column, for callers that gate on it inside a larger projection."""
    return _score(_quality_parts(pf.tokens(pf.SPARK, text_col), text_col))


def quality_scores(docs: DataFrame) -> DataFrame:
    """Quality scoring: length, punctuation density, stopword ratio and
    average token length, combined into a clamped linear score. All
    divisions are double-over-int with a fixed expression shape, so the
    oracle reproduces results bit-for-bit."""
    p = _quality_parts("tokens", "text")
    return with_tokens(docs).select(
        "doc_id",
        *[c.alias(k) for k, c in p.items()],
        _score(p).alias("quality_score"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Language identification by marker-stopword voting with a fixed
    priority tie-break (en > de > es > fr > zh)."""
    t = with_tokens(docs)
    counts = {
        lang: F.expr(pf.count_in_list(pf.SPARK, "tokens", words))
        for lang, words in LANG_MARKERS.items()
    }
    d = t.select(
        "doc_id", "lang", *[c.alias(f"c_{lg}") for lg, c in counts.items()]
    )
    langs = list(LANG_MARKERS)
    pred = None
    for i, lg in enumerate(langs[:-1]):
        geq = " AND ".join(f"c_{lg} >= c_{other}" for other in langs[i + 1 :])
        branch = F.expr(f"CASE WHEN {geq} THEN '{lg}' END")
        pred = branch if pred is None else F.coalesce(pred, branch)
    pred = F.coalesce(pred, F.lit(langs[-1]))
    return d.select(
        "doc_id",
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("label_match"),
    )


#: Redaction patterns, applied in order (emails before IPs before bare
#: digit runs so a scrubbed email's digits aren't double-counted). The
#: patterns stay inside the RE2 ∩ Java-regex common subset so the DuckDB
#: oracle replays them byte-for-byte.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("number", r"[0-9]+", "<NUM>"),
)


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "scrubbed"
) -> DataFrame:
    """PII-style redaction scrub (C4/CCNet-style corpus hygiene): replace
    emails, IPv4 addresses, then residual digit runs with typed
    placeholder tokens, counting each category as it is removed.

    Pure built-in ``regexp_replace``/``regexp_extract_all`` chain — a
    map-only stage with no shuffle; at 100 TB this runs at scan speed
    inside whole-stage codegen. Counts are taken on the text as it stood
    *before* that pattern's replacement, so categories never
    double-count (an email's digits are gone before the number pass).
    """
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, repl)
    return df.select(*df.columns, *counts, cur.alias(out_col))


def duplicated_spans(
    docs: DataFrame,
    span_words: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-span detection (the corpus-level signal behind
    exact-substring deduplication, Lee et al. 2022): every word
    ``span_words``-gram occurring in at least ``min_docs`` distinct
    documents, with term frequency, document frequency, and the first
    (canonical) document.

    Explode → one groupBy on the span; map-side partial aggregation
    absorbs within-partition repeats before the only exchange. At 100 TB
    the shuffle key should be the span's 8-byte hash with the span text
    carried as a payload (group by (hash, span)) — same plan shape, and
    the equality comparison stays on fixed-width integers.
    """
    toks = docs.select(
        "doc_id", F.expr(pf.tokens(pf.SPARK, text_col)).alias("w")
    )
    spans = toks.filter(F.expr(f"size(w) >= {span_words}")).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {span_words - 1}), "
                f"i -> array_join(slice(w, i, {span_words}), ' '))"
            )
        ).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("df") >= min_docs)
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: SHA-256 of whitespace-normalized text plus
    the portable rolling hash (the engine's cheap locality-free content
    key, reference DataHash semantics DeadLetterService.cs:293-299)."""
    norm = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
    return docs.select(
        "doc_id",
        F.expr(pf.sha256_hex(pf.SPARK, norm)).alias("fp_sha256"),
        F.expr(pf.rolling_hash(pf.SPARK, norm)).alias("fp_rolling"),
    )
