"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: brute-force cosine top-k — the exactness baseline.
  Query vectors are broadcast; each corpus partition scores its rows
  locally (map-side), and only the per-query top-k survive the final
  shuffle. At 100 TB the corpus side stays partition-parallel with no
  replication — the plan is a broadcast-nested-loop over a small query
  set, which is exactly the right physical shape for scoring.
- ``ivf_topk``: the scale path — k-means-free IVF using deterministic
  sign bucketing of components strided across the vector (coarse
  quantizer stand-in; see ``bucket_expr``), probing only matching
  buckets. Trades recall for a large candidate reduction; same output
  schema as the baseline.

Dot products run in doubles with a fixed left-to-right fold
(``aggregate`` over ``zip_with``), matching the oracle's
``list_reduce`` fold bit-for-bit; ranking ties break on vec_id so
top-k is total-ordered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
NORM2 = "aggregate(transform({a}, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"


def _prep(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).withColumn("n2", F.expr(NORM2.format(a="v")))


#: executor-memory budget (bytes) for broadcasting the prepped corpus
#: (vec_id, v, n2) into the exact-verify join. The row ceiling is
#: derived from this PER CALL as budget / (dims·8 + overhead) — a
#: row-count constant would be blind to vector width (at 64-dim 1 M
#: vectors is ~550 MB, at 768-dim it is ~6 GB and at 4096-dim ~33 GB,
#: past Spark's 8 GB broadcast hard limit — the gate must route those
#: to the shuffle fallback, not broadcast them). 512 MiB keeps the
#: 64-dim ceiling at the previously measured ~1 M rows.
VERIFY_BROADCAST_BYTES = 512 * 1024 * 1024

#: per-row bytes on top of the packed vector doubles (vec_id, n2,
#: array header + UnsafeRow padding)
_VEC_ROW_OVERHEAD = 48

#: rows are never broadcast past this count regardless of width — the
#: hash relation's per-row bookkeeping dominates below ~64 B/row
VERIFY_BROADCAST_MAX = 1_000_000


def _vec_dims(base: DataFrame, vec_col: str = "v") -> int:
    """Vector width of a prepped corpus, from one row (the schema's
    array type carries no length). LocalLimit-bounded — a 1-row meta
    read, same class as the repo's DESCRIBE probes."""
    row = base.select(F.size(vec_col).alias("d")).limit(1).collect()
    return int(row[0]["d"]) if row else 0


def _verify_broadcast_rows(dims: int) -> int:
    """Row ceiling for broadcasting a ``dims``-wide prepped corpus into
    the exact-verify join: byte budget / bytes-per-row, capped at
    ``VERIFY_BROADCAST_MAX``."""
    per_row = dims * 8 + _VEC_ROW_OVERHEAD
    return max(1, min(VERIFY_BROADCAST_MAX,
                      VERIFY_BROADCAST_BYTES // per_row))


def bucket_expr(vec_col: str, n_buckets: int,
                dims: int | None = None) -> str:
    """Deterministic sign-pattern coarse-quantizer cell id (SQL text —
    the DuckDB oracles replay the same arithmetic).

    Bit *i* reads the sign of the component at ``1 + (i·dims) div
    bits`` — the bits are SPREAD across the whole vector (round 9).
    The earlier form read the LEADING ``bits`` components, which
    degenerates on clustered corpora: on the 2 M × 768 product-manifold
    fixture the first 96 components are determined by one of 8 planted
    subspace centers, so ALL 2 048 requested cells collapsed onto ~8
    realized ones (measured 300 M candidate rows per 1 200-query probe
    instead of ~2.4 M — a 125× fan-out; real embedding corpora are
    clustered too). Strided bits draw from every region of the vector —
    on an isotropic corpus the two forms are statistically identical,
    on a clustered one the strided form keeps cell entropy. Persisted
    indexes record it in the meta row as ``bucket_v = 2``; an index
    without that marker holds leading-bits cells and is refused when
    opened (``ann_index``, ``ivfpq_index``). For heavily clustered
    corpora the trained two-level quantizer (``build_ann_index_2level``)
    remains the production coarse stage; the sign pattern is the
    zero-training, oracle-replayable default.

    ``dims`` (round 10): the caller-known vector width. The dynamic
    form evaluates ``size(vec)`` once PER BIT per row — 11 size() calls
    per row at 2 048 cells, a measured ~14–23% drag on the corpus-sized
    evaluations (VERDICT r9 #2: `ann_ivfpq_topk`'s best-of-3 drift).
    With ``dims`` the bit positions fold to Python-computed literals —
    identical positions (and so identical cell ids) to the dynamic form
    on any corpus of that width, which is also exactly what the DuckDB
    oracle twins compute from ``len(v)``. Corpus-sided callers (index
    builds/extends, in-query corpus bucketing) pass it; query-sided
    evaluations (a poll batch of probe vectors) may keep the dynamic
    form — per-row cost only matters at corpus cardinality."""
    import math

    bits = int(math.log2(n_buckets))
    if dims is not None and dims > 0:
        body = " + ".join(
            f"(CASE WHEN element_at({vec_col}, "
            f"{1 + (i * dims) // bits}) >= 0.0D "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(bits)
        )
        # width guard (ADVICE r10): the literal positions are only the
        # dynamic form's positions for vectors of exactly ``dims``
        # components — a mixed-width corpus would be silently bucketed
        # by the wrong positions (the dynamic ``size(v)`` form was
        # per-row). One size() per row (vs the 11 the dynamic form
        # paid) buys a loud failure instead of mis-assigned cells.
        return (
            f"(CASE WHEN size({vec_col}) = {dims} THEN {body} "
            f"ELSE CAST(raise_error(CONCAT('bucket_expr: vector width ', "
            f"CAST(size({vec_col}) AS STRING), "
            f"' != bound width {dims}')) AS INT) END)"
        )
    return " + ".join(
        f"(CASE WHEN element_at({vec_col}, CAST("
        f"1 + (({i} * size({vec_col})) div {bits}) AS INT)) >= 0.0D "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )


def exceeds(df: DataFrame, limit: int) -> bool:
    """True iff ``df`` has more than ``limit`` rows, evaluating at most
    ``limit + 1`` rows per partition (LocalLimit) instead of a full
    ``count()`` — the broadcast-vs-shuffle gates sit on per-call hot
    paths where a full count would re-run the entire upstream plan just
    to compare against a constant."""
    return df.limit(limit + 1).count() > limit


def _rows_upper_bound(df: DataFrame, dims: int) -> int | None:
    """Conservative row-count UPPER bound from the optimizer's size
    statistics — driver-side, no Spark job. Assumes ×4 compression of
    the ``dims``-float payload (embedding floats are near-
    incompressible, so the bound typically overshoots 2–8×), which is
    the safe direction for anything that splits work finer as the
    count grows. Returns None when statistics are absent or absurd
    (callers fall back to a real ``count()``). Sizing only — never
    feed this into anything that changes results."""
    try:
        sz = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover — exotic plans
        return None
    if sz <= 0 or sz > 1 << 50:
        return None
    return max(1, (4 * sz) // max(1, dims * 4))


def _verify_pairs(
    cand: DataFrame, base: DataFrame, threshold: float,
    broadcast_corpus: bool | None = None,
    dims: int | None = None,
) -> DataFrame:
    """Exact-cosine verification of a candidate (d1, d2) set against
    ``base`` (= ``_prep`` output). The candidate stream can be orders
    of magnitude larger than the corpus (Σ occupancy² vs N), so the
    plan must never sort it: with ``broadcast_corpus`` (auto: corpus
    bytes ≈ rows × dims·8 fit ``VERIFY_BROADCAST_BYTES`` — the ceiling
    is byte-budgeted from the measured vector width, so a 768-dim
    corpus broadcasts only to ~86 k rows where a 64-dim one broadcasts
    to ~1 M) both vector lookups are broadcast hash joins and
    verification streams map-side — the shape that moved the sf10
    two-level run from a spilling 360 GB sort-merge (8-byte pairs ×
    512-byte vectors, sorted twice) to a pass that completes
    (BASELINE.md r6)."""
    if broadcast_corpus is None:
        # ``dims`` from a caller that already knows the width (e.g.
        # trained centroid rows) saves the 1-row width-probe job
        if dims is None or dims <= 0:
            dims = _vec_dims(base)
        broadcast_corpus = not exceeds(
            base, _verify_broadcast_rows(dims)
        )

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_corpus else df

    x = base.select(
        F.col("vec_id").alias("d1"), F.col("v").alias("xv"),
        F.col("n2").alias("xn2"),
    )
    y = base.select(
        F.col("vec_id").alias("d2"), F.col("v").alias("yv"),
        F.col("n2").alias("yn2"),
    )
    # Round 12 NEGATIVE result, kept as the expression fold on purpose:
    # an Arrow twin of this cosine (bit-identical cumsum fold, verified
    # 0 mismatches over 499 widened pairs) measured ~10× SLOWER at
    # 468 k pairs × 768 dims — 1.6 s expr vs 16.9 s shipping the two
    # vectors per pair across the boundary, and 29.8 s for a
    # payload-free variant shipping only (d1, d2) with the corpus as a
    # Python broadcast. The interpreted fold costs ~3.5 µs/pair wall at
    # local[32] on Spark 4.1 — this stage is join/shuffle-bound, not
    # lambda-bound, so the JVM→Python transfer can only lose.
    return (
        cand.join(_b(x), "d1")
        .join(_b(y), "d2")
        .select(
            "d1",
            "d2",
            (
                F.expr(DOT.format(a="xv", b="yv"))
                / F.sqrt(F.col("xn2") * F.col("yn2"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def cosine_topk(
    embeddings: DataFrame, query_pred: str = "vec_id % 100 = 0", k: int = 10,
    spread: bool = False,
) -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, rank).

    ``spread=True`` round-robins the corpus to the session's
    shuffle-partition count before scoring (one narrow N-row shuffle):
    the scoring crossJoin is a pure projection whose parallelism is
    otherwise whatever the scan provides — a single-file corpus scores
    N·Q distances on one core (see ``kmeans._spread``). Results are
    row-wise and unaffected."""
    from trignis_spark.operators.kmeans import _spread

    base = _prep(_spread(embeddings) if spread else embeddings)
    q = base.filter(F.expr(query_pred)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.expr(DOT.format(a="qv", b="v"))
                / F.sqrt(F.col("qn2") * F.col("n2"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_pred: str = "vec_id % 100 = 0",
    k: int = 10,
    n_buckets: int = 16,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-bucket vectors by the sign
    pattern of their first ``log2(n_buckets)`` components (a deterministic
    stand-in for a trained coarse quantizer), probe the query's bucket
    plus the first ``nprobe - 1`` single-bit-flip neighbor cells (the
    Hamming-1 neighborhood — the natural "next nearest cells" of a sign
    quantizer). Approximate — recall and scoring cost both grow with
    ``nprobe``; candidates stay O(probed cells), never corpus-sized.
    Flips beyond ``log2(n_buckets)`` address empty cells and are no-ops,
    so recall plateaus at ``nprobe = log2(n_buckets) + 1``."""
    import math

    bits = int(math.log2(n_buckets))
    base = _prep(embeddings)
    # corpus-sized bucket evaluation: bind the vector width as a
    # literal so the strided positions fold at plan time instead of
    # re-reading size(v) once per bit per row (VERDICT r9 #2)
    base = base.withColumn(
        "bucket", F.expr(bucket_expr("v", n_buckets,
                                     dims=_vec_dims(base)))
    )
    q = base.filter(F.expr(query_pred)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
        F.col("bucket").alias("home"),
    )
    flips = [F.col("home")] + [
        F.col("home").bitwiseXOR(F.lit(1 << i)) for i in range(max(0, nprobe - 1))
    ]
    q = (
        q.withColumn("qbucket", F.explode(F.array(*flips)))
        .drop("home")
    )
    scored = (
        base.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.expr(DOT.format(a="qv", b="v"))
                / F.sqrt(F.col("qn2") * F.col("n2"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def signature_hamming_max(threshold: float, sig_bits: int = 62) -> int:
    """Hamming cutoff for the sign-signature prefilter at a cosine
    threshold: mean + 3σ of the binomial bit-disagreement count for a
    pair exactly at the threshold (random-hyperplane identity:
    P[bit differs] = acos(cos) / π). Pairs above the threshold have
    strictly smaller expected Hamming, so the cutoff keeps ≳99.7% of
    qualifying pairs while discarding the random-collision mass
    (unrelated pairs center at sig_bits/2)."""
    import math

    p = math.acos(threshold) / math.pi
    return math.ceil(sig_bits * p + 3.0 * math.sqrt(sig_bits * p * (1.0 - p)))


#: per-(band, pattern) occupancy the auto layout targets. Patterns per
#: band ≈ N / this, so bucket population — and the candidate equijoin's
#: per-band output, Σ occupancy² — stays constant as the corpus grows
#: (a fixed pattern count makes candidates grow quadratically: the
#: 12-bit layout generated 7.8·10⁹ band-colliding pairs at 2 M vectors).
TARGET_BAND_OCC = 64

#: blocking-recall floor the auto layout sizes n_bands for (independent-
#: band estimate at the call's threshold — an upper bound, see the
#: operator docstring).
BAND_RECALL_TARGET = 0.90

#: corpora above this vector count default to the wide (2·sig_bits)
#: signature prefilter — see the in-function comment.
WIDE_SIG_MIN = 1_000_000


def band_starts(n_bands: int, total_bits: int) -> list[int]:
    """Distinct start offsets for the overlapping band reads: the
    legacy ``4·b mod total_bits`` sequence, stepping forward past any
    offset already taken. Distinct starts ⇒ distinct band bit-sets
    (each band is a length-``band_bits`` arc in the stride-5 ordering
    of Z_total_bits, and 5 generates the group for both 62 and 124, so
    arcs coincide only at equal starts) — the 62-bit layout's band 31
    used to re-read band 0's exact bits (4·31 ≡ 0 mod 62), delivering
    31 effective bands where the recall sizing assumed 32 and paying
    the duplicate's candidate join for nothing. For ``b ≤ 30`` at 62
    bits (every pinned registry layout) the sequence is untouched.
    Supports up to ``total_bits`` bands."""
    if n_bands > total_bits:
        raise ValueError(
            f"n_bands={n_bands} exceeds the {total_bits}-bit signature's "
            "distinct band starts"
        )
    starts: list[int] = []
    used: set[int] = set()
    for b in range(n_bands):
        s = (4 * b) % total_bits
        while s in used:
            s = (s + 1) % total_bits
        used.add(s)
        starts.append(s)
    return starts


def band_bit_indices(start: int, band_bits: int,
                     total_bits: int) -> list[int]:
    """The signature bit indices band ``start`` reads: stride-5 from
    the start offset, wrapping in the full signature bit-space (both
    words when the wide 124-bit signature is in play — banding from
    the combined space is what lets layouts keep growing past the
    62 distinct narrow starts)."""
    return [(start + 5 * j) % total_bits for j in range(band_bits)]


def auto_band_layout(n_vectors: int, threshold: float = 0.9,
                     sig_bits: int = 62,
                     wide: bool = False) -> tuple[int, int]:
    """(n_bands, band_bits) scaled to the corpus — the banding analog of
    ``ivfpq_index.auto_n_buckets``. ``band_bits`` grows with log₂(N) to
    hold per-bucket occupancy at ``TARGET_BAND_OCC`` (floor 12 = the
    layout every corpus up to ~0.25 M vectors already used); wider
    bands collide less per band, so ``n_bands`` then grows to hold the
    independent-band recall estimate at ``BAND_RECALL_TARGET``
    (floor 16). At 200 k vectors this returns exactly the classic
    (16, 12); at 2 M it returns (23, 15), cutting candidate volume ~4×
    while keeping the recall estimate.

    Both caps derive from the signature the call actually has
    (``total_bits = sig_bits × 2`` when ``wide``) instead of the fixed
    20/32 that re-saturated buckets at ~67 M vectors (VERDICT r6): a
    band cannot be wider than the signature, and there are only
    ``total_bits`` distinct band starts (``band_starts``). Analytically
    the 124-bit wide signature — on by default above ``WIDE_SIG_MIN``
    anyway — holds occupancy ≤ ``TARGET_BAND_OCC`` with the recall
    estimate met through N ≈ 10⁹ (band_bits 24, 95 bands); when a cap
    does bind the layout degrades gradually and says so
    (``warnings.warn``) instead of silently saturating."""
    import math
    import warnings

    total_bits = sig_bits * (2 if wide else 1)
    band_bits = max(12, math.ceil(
        math.log2(max(2.0, n_vectors / TARGET_BAND_OCC))
    ))
    if band_bits > total_bits:
        warnings.warn(
            f"auto_band_layout: corpus of {n_vectors} vectors wants "
            f"{band_bits}-bit bands but the signature has only "
            f"{total_bits} bits — bucket occupancy will exceed "
            f"TARGET_BAND_OCC={TARGET_BAND_OCC} "
            f"(use wide=True for {sig_bits * 2} bits)",
            stacklevel=2,
        )
        band_bits = total_bits
    p = 1.0 - math.acos(min(1.0, threshold)) / math.pi
    miss = 1.0 - p ** band_bits
    if miss <= 0.0:
        n_bands = 16
    else:
        n_bands = max(16, math.ceil(
            math.log(1.0 - BAND_RECALL_TARGET) / math.log(miss)
        ))
    if n_bands > total_bits:
        warnings.warn(
            f"auto_band_layout: recall target {BAND_RECALL_TARGET} at "
            f"threshold {threshold} wants {n_bands} bands but only "
            f"{total_bits} distinct band starts exist — blocking "
            "recall will fall below the target",
            stacklevel=2,
        )
        n_bands = total_bits
    return n_bands, band_bits


def band_values_expr(n_bands: int, band_bits: int, total_bits: int,
                     sig_bits: int = 62, wide: bool = False) -> str:
    """SQL expression computing all band values as one
    ``array<bigint>`` over signature columns ``sig`` (and ``sig2`` when
    ``wide``): element ``b`` is ``Σⱼ bit(idxⱼ) << j`` over band ``b``'s
    stride-5 bit indices (``band_bit_indices``).

    The bit reads run inside ONE higher-order ``transform`` over a
    constant-folded literal ``array<array<int>>`` of per-band indices
    rather than ``n_bands`` inlined shift/mask chains: at decade-4
    layouts (43 bands × 19 bits = 817 terms) the inlined form blew
    janino's 64 KB method limit inside the Generate operator and
    dropped the whole stage to interpreted execution (observed at 20 M
    vectors); the HOF form keeps the expression text O(layout) and
    whole-stage codegen alive while computing the identical ``bv``
    (equivalence locked by tests/test_operators.py::
    test_band_values_expr_matches_reference)."""
    bands_lit = "array(" + ",".join(
        "array(" + ",".join(
            str(i)
            for i in band_bit_indices(start, band_bits, total_bits)
        ) + ")"
        for start in band_starts(n_bands, total_bits)
    ) + ")"
    word_of = (
        f"(CASE WHEN idx < {sig_bits} THEN sig ELSE sig2 END)"
        if wide else "sig"
    )
    # function forms (shiftright/shiftleft), not >>/<< operators: the
    # SQL parser rejects >> inside a lambda body (ambiguity with ->)
    return (
        f"transform({bands_lit}, idxs -> aggregate("
        f"zip_with(idxs, sequence(0, {band_bits - 1}), (idx, j) -> "
        f"shiftleft(shiftright({word_of}, idx % {sig_bits}) "
        f"& CAST(1 AS BIGINT), j)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x))"
    )


def cosine_near_dup_pairs_banded(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_bands: int | None = None,
    band_bits: int | None = None,
    hamming_max: int | None = None,
    sig_bits: int = 62,
    wide: bool | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Production-scale embedding near-dup: overlapping sign-bit bands +
    a signature-Hamming prefilter before any full-vector join.

    The fixed-partition sign layouts (``cosine_near_dup_pairs``) cliff
    when buckets saturate: 8-bit bands hold 256 patterns, so by ~200 k
    vectors every bucket carries ~800 members and the candidate join
    emits ~6·10⁸ pairs straight into a distinct (measured: >70 GB of
    spill at the tiled sf10 corpus — it never finished). Three changes
    make the shape corpus-size-robust:

    1. **One 62-bit sign signature** per vector (bit i = sign of
       component i+1), an 8-byte BIGINT.
    2. **Overlapping bands re-use the 62 sign bits**: band ``b`` reads
       ``band_bits`` bits at indices ``(4b + 5j) mod sig_bits`` — 16
       bands × 12 bits = 4096 patterns each, so occupancy (and the
       equijoin's output) falls ~16× vs an 8-bit layout *without*
       needing more dimensions. Candidate rows carry only
       (vec_id, sig) — 16 bytes, not the 512-byte vector.
    3. **Hamming prefilter inside the join condition**:
       ``bit_count(sig_a ^ sig_b) ≤ hamming_max`` (auto: mean+3σ at the
       threshold, e.g. 18 bits for cos ≥ 0.9). Random collisions center
       at ~31 differing bits, so virtually none survive to the distinct
       or the exact-cosine verify — the expensive stages see only
       near-qualifying pairs.

    Two corpus-scaled dials keep the shape a further decade
    (``n_bands``/``band_bits``/``wide`` default to auto-sizing from
    the corpus count; pass explicit values to pin a layout for an
    external replayer):

    - **Auto band layout** (``auto_band_layout``): a fixed pattern
      count saturates like the fixed-partition layouts, one decade
      later — at 2 M vectors the 12-bit bands held ~490 members each
      and the candidate join emitted 7.8·10⁹ pairs. ``band_bits``
      grows with log₂(N) to hold occupancy at ``TARGET_BAND_OCC``;
      ``n_bands`` grows to hold the recall estimate.
    - **Wide (124-bit) signatures** above ``WIDE_SIG_MIN`` vectors: a
      second BIGINT of adjacent-component difference signs joins the
      prefilter. At 62 bits the random-pair pass rate (~3·10⁻⁴) times
      N²/2 pairs overwhelms the verify by ~10⁶ vectors (measured:
      ~2.6·10⁸ surviving random pairs at 2 M — the fallback verify
      spilled >75 GB); at 124 bits the qualifying/random separation is
      ~5.7σ and the survivors are essentially only true pairs.

    Blocking recall at cos = 0.9: the independent-band estimate
    1 − (1 − p^12)^16 with p = 1 − acos(0.9)/π ≈ 0.856 gives ≈ 93%
    (× ≈ 99.7% for the prefilter), but it is an **upper bound, not a
    floor** — the 16 bands are overlapping reads of the same 62 sign
    bits, so band collisions are positively correlated, and
    axis-aligned sign bits on non-isotropic embeddings deviate from
    the random-hyperplane p. True recall sits below the estimate and
    rises steeply above the threshold (planted-pair tests measure it
    directly; treat the figure as a sizing guide only). Verification
    is exact, so every reported pair is a true pair. Deterministic
    throughout — an external SQL oracle replays it bit-for-bit.

    An explicit ``hamming_max`` pins ``wide=False`` unless ``wide`` is
    also explicit: the parameter has only ever meant a cutoff against
    the 62-bit signature (e.g. 18 at cos 0.9), and silently
    auto-enabling the 124-bit prefilter under it would compare that
    cutoff against a doubled Hamming sum (qualifying pairs average ~36
    differing bits there) — collapsing an existing caller's recall the
    moment their corpus crossed ``WIDE_SIG_MIN`` (ADVICE r6)."""
    if wide is None and hamming_max is not None:
        wide = False
    if n_bands is None or band_bits is None or wide is None:
        # ``n_vectors`` skips the auto-sizing count (VERDICT r7 #7):
        # metadata-cheap over parquet, but a FULL source scan over a
        # JDBC/stream-backed frame — callers that already know their
        # corpus size (the persistent indexes' meta rows, gen tools)
        # pass it through
        n_corpus = embeddings.count() if n_vectors is None else n_vectors
        if wide is None:
            # 62 sign bits separate qualifying (H≈18) from random
            # (H≈31) pairs by ~3.5σ — enough until the corpus's N²/2
            # random-pair mass overwhelms the tail: at 2 M vectors
            # ~2.6·10⁸ random band-colliding pairs passed the 62-bit
            # cutoff and the verify fallback spilled >75 GB. Doubling
            # to 124 bits (below) drops the random pass rate to ~1e-8.
            wide = n_corpus > WIDE_SIG_MIN
        if n_bands is None or band_bits is None:
            auto_nb, auto_bb = auto_band_layout(
                n_corpus, threshold, sig_bits, wide=wide
            )
            n_bands = auto_nb if n_bands is None else n_bands
            band_bits = auto_bb if band_bits is None else band_bits
    total_bits = sig_bits * (2 if wide else 1)
    if hamming_max is None:
        hamming_max = signature_hamming_max(threshold, total_bits)
    sig_expr = " + ".join(
        f"(CASE WHEN element_at(v, {i + 1}) >= 0.0D "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(sig_bits)
    )
    base = _prep(embeddings).withColumn("sig", F.expr(sig_expr))
    sig_cols = ["sig"]
    if wide:
        # second signature word: signs of adjacent-component
        # differences — the fixed hyperplanes (eᵢ − eᵢ₊₁)/√2, as
        # deterministic and SQL-replayable as the axis planes, and
        # equally valid for the acos/π Hamming calibration (any fixed
        # unit normal gives P[bit differs] = θ/π for rotation-
        # invariant pair geometry)
        sig2_expr = " + ".join(
            f"(CASE WHEN element_at(v, {i + 1}) - "
            f"element_at(v, {(i + 1) % sig_bits + 1}) >= 0.0D "
            f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for i in range(sig_bits)
        )
        base = base.withColumn("sig2", F.expr(sig2_expr))
        sig_cols.append("sig2")
    # band values from both signature words via the codegen-safe HOF
    # form (see band_values_expr) — bands draw from the FULL signature
    # bit-space, which is what keeps band starts distinct (and layouts
    # growing) past 62 narrow offsets
    bands = base.select(
        "vec_id",
        *sig_cols,
        F.posexplode(
            F.expr(band_values_expr(n_bands, band_bits, total_bits,
                                    sig_bits, wide))
        ).alias("band", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    if wide:
        hamming = hamming + F.bit_count(
            F.col("a.sig2").bitwiseXOR(F.col("b.sig2"))
        )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (hamming <= F.lit(hamming_max)),
        )
        .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
        .distinct()
    )
    return _verify_pairs(cand, base, threshold)


#: corpora above this vector count dispatch trained-cell blocking to
#: the two-level quantizer regardless of entry point: flat assignment
#: is brute N·k with k ~ √N, so past ~10⁶ vectors the flat dial stops
#: turning (its fixed-k registry form OOM'd at sf10 — BASELINE.md)
FLAT_CLUSTER_MAX = 1_000_000


def cosine_near_dup_pairs_clustered(
    embeddings: DataFrame,
    threshold: float = 0.4,
    k: int | None = 16,
    iters: int = 2,
    assign_n: int = 2,
    n_vectors: int | None = None,
) -> DataFrame:
    """Loose-threshold embedding near-dup via trained-quantizer
    blocking: candidates share one of each vector's ``assign_n``
    nearest k-means cells; exact cosine verifies.

    Random-hyperplane LSH cannot block usefully at loose thresholds
    (cos ≈ 0.4 pairs agree on only ~63% of sign bits, so any band
    layout either saturates its buckets or collapses recall —
    BASELINE.md sf10). Trained cells align with the corpus's actual
    density instead: members of a real cluster land in the same cell at
    any corpus size, and multi-assignment (``assign_n`` > 1) recovers
    boundary pairs. Candidate volume is Σ_cells occupancy² — controlled
    by ``k``, which should scale ~√N (same rule as the IVF index;
    training cost per Lloyd round is broadcast-k×dim map-side argmin,
    corpus never shuffled). The √N dial itself caps out: assignment is
    brute N·k, so past ``FLAT_CLUSTER_MAX`` vectors this entry point
    **dispatches itself** to ``cosine_near_dup_pairs_clustered_2level``
    (VERDICT r6 #4 — callers no longer need to know about the wall):
    the requested ``k`` maps to ⌈√k⌉×⌈√k⌉ hierarchical cells so the
    blocking granularity is preserved at N·2√k assignment cost, and
    ``k=None`` auto-sizes (⌈√N⌉ flat below the bound, N^(1/4) per
    level above it). Same output contract on either path; assignments
    may differ cell-by-cell (standard for hierarchical quantizers) but
    every emitted pair remains exact-verified. Deterministic end to
    end (first-k init, decimal means, dist-then-cid tie-breaks), so a
    SQL oracle replays training, assignment, blocking and verification
    bit-for-bit."""
    import math

    from trignis_spark.operators import kmeans as km

    if n_vectors is not None or k is None:
        # auto-k needs the true count; an explicit k only needs the
        # dispatch bit, answered below by a LocalLimit-bounded probe
        n_corpus = embeddings.count() if n_vectors is None else n_vectors
        big = n_corpus > FLAT_CLUSTER_MAX
    else:
        n_corpus = None
        big = exceeds(embeddings, FLAT_CLUSTER_MAX)
    if big:
        side = (auto_two_level_k(n_corpus) if k is None
                else max(2, math.ceil(math.sqrt(k))))
        return cosine_near_dup_pairs_clustered_2level(
            embeddings, threshold, k_coarse=side, k_fine=side,
            iters=iters, assign_n=assign_n, n_vectors=n_corpus,
        )
    if k is None:
        k = max(4, math.ceil(math.sqrt(n_corpus)))
    # one prep+spread+checkpoint serves training, assignment AND the
    # verify's vector lookups (round 11): the corpus was previously
    # re-scanned and re-spread once per phase. The checkpointed rows
    # are exactly ``_prep``'s (vec_id, v) projection, so results are
    # unchanged; ``n2`` is recomputed on top as before.
    vecs = km._spread(
        km._as_double_vec(embeddings, "embedding")
    ).localCheckpoint(eager=True)
    rows = km._train_vecs_rows(vecs, k, iters)
    cents = km._centroids_df(embeddings.sparkSession, rows,
                             checkpoint=True)
    asg = km._assign_vecs_topn(vecs, cents, assign_n)
    base = vecs.withColumn("n2", F.expr(NORM2.format(a="v")))
    a, b = asg.alias("a"), asg.alias("b")
    # the pre-verify distinct stays (round 11 finding): besides
    # deduping co-blocked pairs it REBALANCES the Σ occupancy² pair
    # stream off the cell-keyed self-join partitions (≤ #cells, skewed
    # by occupancy) before the verify's per-pair cosine fold — removing
    # it ran the verify on the skewed cell partitions and doubled the
    # operator wall at sf0.1 (one exchange buys dedup + balance)
    cand = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
        .distinct()
    )
    return _verify_pairs(
        cand, base, threshold,
        dims=len(rows[0]["cvec"]) if rows else 0,
    )


def auto_two_level_k(n_vectors: int) -> int:
    """Per-level cell count for ``cosine_near_dup_pairs_clustered_2level``:
    ceil(N^(1/4)) — i.e. ~√N total cells, the *same* total-cell rule as
    the flat form's production dial, so the two are directly
    comparable. At that matched cell count the hierarchy wins on both
    axes (measured on the bench corpus at cos 0.4, BASELINE.md):
    recall 0.69 vs 0.46 for flat-√N (the 2×2 multi-assign's four
    blocking slots recover boundary pairs the flat form's two slots
    miss), at N·2√k assignment cost instead of N·k. The extra slots do
    carry ~2× the blocking rows (~4× candidate pairs) — finer sizing
    trades that back for recall roughly linearly (14×14 on the bench
    corpus: 0.52 recall at ~¼ the candidates)."""
    import math

    return max(4, math.ceil(n_vectors ** 0.25))


def cosine_near_dup_pairs_clustered_2level(
    embeddings: DataFrame,
    threshold: float = 0.4,
    k_coarse: int | None = 4,
    k_fine: int | None = 4,
    iters: int = 2,
    assign_n: int = 2,
    n_vectors: int | None = None,
) -> DataFrame:
    """Loose-threshold embedding near-dup with a **two-level trained
    quantizer** — the >10⁶-vector path the flat clustered form lacks.

    ``cosine_near_dup_pairs_clustered`` holds occupancy down by scaling
    k ~ √N, but its assignment is brute N·k, so past ~10⁶ vectors the
    dial stops turning (and its fixed-k registry form OOM'd at the sf10
    corpus — BASELINE.md). Here the quantizer is hierarchical:
    ``k_coarse`` top-level cells, ``k_fine`` sub-cells trained within
    each (``kmeans.train_kmeans_2level``), so assignment costs
    N·(k_coarse + assign_n·k_fine) ≈ N·2√k while the blocking key —
    the (ccid, fid) pair — still addresses k_coarse·k_fine cells and
    keeps candidate volume Σ occupancy². Multi-assignment at both
    levels (``assign_n`` nearest coarse × ``assign_n`` nearest fine,
    up to assign_n² slots/vector) recovers boundary pairs, including
    those split across *coarse* boundaries — the extra recall risk
    hierarchy introduces. Candidates are equijoined on the cell pair
    and every emitted pair is exact-cosine verified. Deterministic end
    to end (both levels inherit the kmeans module's first-k seeds,
    decimal means and dist-then-id tie-breaks), so a SQL oracle
    replays training, two-level assignment, blocking and verification
    bit-for-bit.

    Sizing at scale: ``k_coarse=None``/``k_fine=None`` auto-sizes to
    ``auto_two_level_k`` (~2·N^(1/4) per level, ~4√N cells) — at 10⁸
    vectors that is ~200 × ~200 cells and ~600 distance evals/vector,
    vs 10⁴ for the flat dial."""
    base, asg, dims = _train_slots_2level(
        embeddings, k_coarse, k_fine, iters, assign_n, n_vectors
    )
    a, b = asg.alias("a"), asg.alias("b")
    # pre-verify distinct stays — dedup + pair-stream rebalance in one
    # exchange (see cosine_near_dup_pairs_clustered's note)
    cand = (
        a.join(
            b,
            (F.col("a.ccid") == F.col("b.ccid"))
            & (F.col("a.fid") == F.col("b.fid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
        .distinct()
    )
    return _verify_pairs(cand, base, threshold, dims=dims)


def _train_slots_2level(
    embeddings: DataFrame,
    k_coarse: int | None,
    k_fine: int | None,
    iters: int,
    assign_n: int,
    n_vectors: int | None,
) -> tuple[DataFrame, DataFrame, int]:
    """Shared 2-level train + multi-assign phase for the clustered
    sweeps (round 11): ONE prep+spread+checkpoint of the corpus serves
    coarse training, fine training, the blocking multi-assignment and
    (via the returned ``base``) the verify's vector lookups — the
    corpus was previously re-scanned and re-spread once per phase, and
    every centroid table round-tripped through per-call collects.
    Returns ``(base (vec_id, v, n2), slots (vec_id, ccid, fid),
    dims)``; identical assignments/cosines to the phase-per-call form
    (same projections over the same rows)."""
    from trignis_spark.operators import kmeans as km

    if k_coarse is None or k_fine is None:
        auto = auto_two_level_k(
            embeddings.count() if n_vectors is None else n_vectors
        )
        k_coarse = auto if k_coarse is None else k_coarse
        k_fine = auto if k_fine is None else k_fine
    vecs0 = km._spread(
        km._as_double_vec(embeddings, "embedding")
    ).localCheckpoint(eager=True)
    coarse_rows, fine_rows, _ = km._train_2level_core(
        vecs0, k_coarse, k_fine, iters
    )
    spark = embeddings.sparkSession
    coarse = km._centroids_df(spark, coarse_rows, checkpoint=True)
    fine = km._fine_df(spark, fine_rows, checkpoint=True)
    asg = km._assign_cells_2level_topn_vecs(
        vecs0, coarse, fine, n_coarse=assign_n, n_fine=assign_n
    )
    base = vecs0.withColumn("n2", F.expr(NORM2.format(a="v")))
    dims = len(coarse_rows[0]["cvec"]) if coarse_rows else 0
    return base, asg, dims


def cosine_near_dup_pairs_clustered_capped(
    embeddings: DataFrame,
    threshold: float = 0.4,
    k_coarse: int | None = None,
    k_fine: int | None = None,
    iters: int = 2,
    assign_n: int = 2,
    cap_m: int = 8,
    n_vectors: int | None = None,
) -> DataFrame:
    """Loose-threshold clustered near-dup with a **per-vector candidate
    bound** — the sweep mode that completes where the full sweep's
    candidate volume cannot (VERDICT r6 #3).

    The uncapped forms verify every within-cell pair: Σ occupancy² ≈
    16·N^1.5 at the √N cell rule — ~2·10¹⁰ exact verifies at 2 M
    vectors, hours of compute that were correctly left unrun. Here
    each vector keeps only its ``cap_m`` nearest cell-mates per
    blocking slot (exact cosine, ties to the lower vec_id), so the
    materialized candidate set is ≤ N·slots·cap_m pairs — linear in N
    — and those candidates leave the scoring fn ALREADY exactly
    verified (the fn's cosines are the verify fold, bit-for-bit), so
    no vector is ever joined back onto a pair. The within-cell scoring
    still evaluates occupancy cosines per member, but inside ONE
    projection over the cell's packed member array (the
    ``kmeans._nearest_expr`` shape: no Σ occupancy² rows ever
    materialize, no shuffle, no sort — candidates exist only as the
    top-``cap_m`` ids each projection emits).

    The cap is a *defined semantics*, not a silent truncation: a pair
    is reported iff it is within one member's ``cap_m`` nearest
    cell-mates in a shared cell AND its exact cosine reaches the
    threshold —
    deterministic (cos-then-id ranking over bit-identical doubles), so
    a SQL oracle replays it with a windowed row_number. Recall vs the
    uncapped sweep rises with ``cap_m`` (each near-dup only needs to
    rank within EITHER endpoint's top-``cap_m``); the measured
    recall-vs-cap curve is in BASELINE.md. Every reported pair is a
    true pair at any cap.

    The within-cell ranking is the one place in this module Python
    compute is the RIGHT engine: ranking needs occupancy² cosines per
    cell, and a SQL higher-order-function formulation (transform +
    aggregate(zip_with) over a packed member array) evaluates them in
    Spark's interpreted lambda path — measured ~86 µs/cosine at 768
    dims with enough boxing garbage to OOM an 80 GB heap at
    occupancy ≈ 8 000. The Arrow-batched grouped-map below computes
    the same cosines vectorized (~1000× the throughput) while staying
    **bit-identical** to the SQL/DuckDB fold: the dot product
    accumulates column-by-column in ascending component order — the
    exact expression tree of the oracle's ``list_reduce`` — and
    ranking breaks ties by id via a stable argsort over id-sorted
    columns, so an external SQL oracle still replays the truncation
    row-for-row.

    Skew note: a pathologically popular cell is bounded on BOTH task
    axes (``_chunk_slots``): query chunks of ``CELL_TASK_QUERIES``
    bound per-task compute, candidate chunks of ``CELL_TASK_CANDS``
    bound per-task memory — a task's vector payload never exceeds
    (CELL_TASK_QUERIES + CELL_TASK_CANDS) × dims × 8 bytes (~63 MB at
    768 dims) plus the ~4 MB score accumulator, regardless of skew
    (an unstructured isotropic-gaussian corpus under first-k seeding
    measured ~17× skew — BASELINE.md wide-dim table). Block-local
    top-m results merge associatively to the cell-global top-m, so
    the blocking is invisible in the output. Extra cells
    (``k_coarse``/``k_fine`` up) still trade loose-pair recall for
    candidate volume; the cap keeps the *output* linear either way."""
    _, asg, dims = _train_slots_2level(
        embeddings, k_coarse, k_fine, iters, assign_n, n_vectors
    )
    # the grouped map ships the RAW embedding column (float32 off
    # parquet = half the bytes of the prepped doubles) and casts
    # inside the fn — float→double widening is exact and the n2 fold
    # replays there component-ascending, so results stay bit-identical
    # to scoring the prepped vectors while the Arrow shuffle halves
    # (~50 GB → ~25 GB at 2 M × 768 dims with 4 blocking slots)
    slots = asg.join(embeddings.select("vec_id", "embedding"), "vec_id")
    chunked = _chunk_slots(slots)
    # Size the grouped-map exchange so reduce-side group sorts never
    # spill: the exchange carries ~n·slots rows × dims floats (~30 GB
    # at 2 M × 768), and a reduce partition that outgrows task
    # execution memory sorts by SPILLING ITS WHOLE INPUT — at the
    # 64-partition default that doubled peak scratch and filled a
    # 54 GB disk before any output (round 8, combined-regime leg).
    # An explicit hash repartition on the group keys satisfies
    # applyInPandas' clustered-distribution requirement (no second
    # exchange) and pins ~SCORE_PARTITION_BYTES per partition; AQE
    # leaves explicit repartition counts alone. Row count and width
    # come from the frame already at hand — one row for dims, the
    # n_vectors hint (or a driver-side stats bound) for rows.
    if dims <= 0:  # empty corpus trained no centroids — nothing to size
        dims = _vec_dims(embeddings, "embedding")
    if n_vectors is not None:
        n_vec = n_vectors
    else:
        # the count only SIZES the exchange (results are partition-
        # count independent), so a conservative upper bound from the
        # optimizer's size statistics replaces the per-call count job
        # (round 12 — a full source scan on stream/JDBC-backed frames,
        # a job even on parquet); overestimating splits finer, which
        # is the safe direction for the whole-input group sort
        n_vec = _rows_upper_bound(embeddings, dims)
        if n_vec is None:
            n_vec = embeddings.count()
    ex_bytes = n_vec * (assign_n * assign_n) * (dims * 4 + 64)
    n_part = int(min(32768, max(
        embeddings.sparkSession.sparkContext.defaultParallelism,
        -(-ex_bytes // SCORE_PARTITION_BYTES),
    )))
    scored = chunked.repartition(
        n_part, "ccid", "fid", "_qchunk", "_cchunk"
    ).groupBy(
        "ccid", "fid", "_qchunk", "_cchunk"
    ).applyInPandas(
        _topm_cellmates_fn(cap_m),
        "ccid int, fid int, qid long, nid long, cos double, ncand int",
    )
    # The scoring fn's cosines ARE the exact verify: they accumulate
    # the SQL fold's expression tree over exactly-widened doubles
    # (bit-identical contract above), and cos(a,b) == cos(b,a) to the
    # last bit (per-component multiply commutes; the fold order is
    # fixed). So the threshold applies HERE — routing the candidates
    # back through ``_verify_pairs`` would re-join full vectors onto
    # ≤ N·slots·cap pairs (64 M at 2 M vectors), a sort-merge whose
    # pair×vector intermediate measured its way to a filled 54 GB
    # scratch disk at 2 M × 768 before this was fused (round 8).
    #
    # ONE windowed pass over the fn's output — deliberately not a
    # direct(ncand==1)/merged(ncand>1) split: two consumers of
    # ``scored`` re-execute the Python scoring stage per branch (Spark
    # reuses the exchange below a grouped map, never the grouped map
    # itself — measured as a second full 25-minute stage at 2 M × 768).
    # For single-candidate-block cells (every cell on a typical
    # corpus) the window is a no-op by construction: the fn emitted at
    # most ``cap_m`` rows per (cell, qid), already its global top-m.
    # For candidate-split mega-cells each block emitted its local
    # top-min(cap_m, block) with exact cosines, and the global top-m
    # is a subset of their union (top-k merges associatively), so the
    # rank — ordered exactly like the in-block stable argsort, cos
    # desc then id — reproduces the unsplit semantics bit-for-bit.
    # The threshold then prunes a suffix of each ranking (rows above
    # any passing row pass too), matching the oracle's
    # rank-then-threshold replay.
    wm = Window.partitionBy("ccid", "fid", "qid").orderBy(
        F.desc("cos"), F.asc("nid")
    )
    pairs = (
        scored
        .withColumn("_rn", F.row_number().over(wm))
        .filter((F.col("_rn") <= cap_m) & (F.col("cos") >= threshold))
        .select(
            F.least("qid", "nid").alias("d1"),
            F.greatest("qid", "nid").alias("d2"),
            "cos",
        )
    )
    # a pair seen from both endpoints (or in several shared cells)
    # carries the identical double both times — keep one
    return pairs.dropDuplicates(["d1", "d2"])


#: target bytes per grouped-map reduce partition in the capped sweep
#: (raw float32 vector payload). Sized so a partition's group sort
#: stays within task execution memory on ~1 GB-per-task executors —
#: a partition that outgrows it spills its WHOLE input, doubling the
#: operator's peak scratch footprint (measured: the 2 M × 768 leg
#: filled 54 GB of scratch at 64 partitions and ran disk-flat at 256).
SCORE_PARTITION_BYTES = 128 * 1024 * 1024

#: query rows per within-cell scoring task: a chunk's work is
#: CELL_TASK_QUERIES × candidates × dims element-ops, so this bounds
#: the straggler a skewed cell can produce (~2 min at occ 40 k × 768
#: dims before candidate blocking; ~seconds per task after)
CELL_TASK_QUERIES = 2048

#: candidate rows per within-cell scoring task (round 8 — VERDICT r7
#: #2): before this bound every query chunk carried the FULL cell as
#: candidates, so a skewed cell's Arrow task materialized
#: occupancy × dims doubles (a 40 k-member cell at 4096 dims is
#: ~1.3 GB per task, ×32 concurrent tasks ≈ 42 GB — the chunking
#: bounded *compute*, not *memory*). With both sides blocked, a task's
#: vector payload is at most (CELL_TASK_QUERIES + CELL_TASK_CANDS) ×
#: dims × 8 bytes — ~63 MB at 768 dims, ~335 MB at 4096 — plus the
#: ≤4 MB score accumulator, regardless of cell skew
#: (tests/test_operators.py::test_clustered_capped_group_rows_bounded).
CELL_TASK_CANDS = 8192


def _chunk_slots(slots: DataFrame) -> DataFrame:
    """Blocking-slot rows → (cell, query-chunk, candidate-chunk)
    groups for the capped sweep's within-cell scoring. A cell's scoring
    is occupancy² and would otherwise run inside ONE task (the 768-dim
    gaussian corpus measured a 21 k-member cell — a lone multi-minute
    straggler holding the whole cell in memory). Both sides of the
    score matrix are blocked:

    - the QUERY side into ``⌈occ / CELL_TASK_QUERIES⌉`` chunks (bounds
      per-task compute),
    - the CANDIDATE side into ``⌈occ / CELL_TASK_CANDS⌉`` chunks
      (bounds per-task memory — see ``CELL_TASK_CANDS``).

    Each row lands in its home (query-chunk, candidate-chunk) group
    once playing both roles, in its query chunk's other candidate
    blocks as query only, and in its candidate chunk's other query
    blocks as candidate only — so every (query, candidate) pair is
    scored in exactly ONE group, and each vector's top-m per block
    merges associatively to the cell-global top-m downstream.
    Replication is ``nsplit + ncand − 1`` copies per row, and both
    factors exceed 1 only for cells past the bounds."""
    counts = slots.groupBy("ccid", "fid").agg(
        F.count(F.lit(1)).alias("_occ")
    )
    return (
        slots.join(F.broadcast(counts), ["ccid", "fid"])
        .withColumn(
            "_nsplit",
            F.ceil(F.col("_occ") / F.lit(CELL_TASK_QUERIES)).cast("int"),
        )
        .withColumn(
            "_ncand",
            F.ceil(F.col("_occ") / F.lit(CELL_TASK_CANDS)).cast("int"),
        )
        .withColumn("_oq", F.pmod(F.col("vec_id"), F.col("_nsplit")).cast("int"))
        .withColumn("_oc", F.pmod(F.col("vec_id"), F.col("_ncand")).cast("int"))
        .withColumn(
            "_chunk",
            F.explode(F.expr(
                "concat("
                "transform(sequence(0, _ncand - 1), "
                "c -> named_struct('q', _oq, 'c', c)), "
                "transform(filter(sequence(0, _nsplit - 1), "
                "q -> q != _oq), q -> named_struct('q', q, 'c', _oc)))"
            )),
        )
        .withColumn("_qchunk", F.col("_chunk.q"))
        .withColumn("_cchunk", F.col("_chunk.c"))
        .withColumn("_is_q", F.col("_qchunk") == F.col("_oq"))
        .withColumn("_is_c", F.col("_cchunk") == F.col("_oc"))
    )


def _topm_cellmates_fn(cap_m: int):
    """Grouped-map body for ``cosine_near_dup_pairs_clustered_capped``:
    one (cell, query-chunk, candidate-chunk) group in — the ``_is_c``
    rows as candidates, the ``_is_q`` rows as queries — and each
    query's block-local top-``cap_m`` nearest candidates out, with
    their exact cosines (the downstream merge re-ranks the union when
    a cell was candidate-split; ``ncand`` tells it whether one was).
    Bit-exact contract with the SQL oracle (see the operator
    docstring): the dot accumulates ``acc = acc + x_i·y_i`` in
    ascending component order (each elementwise numpy op is the same
    correctly-rounded IEEE double op as the SQL fold step — and the
    per-pair expression tree is independent of the blocking), and
    ranking is a stable argsort over columns pre-sorted by vec_id —
    exactly ORDER BY -cos, id."""

    def fn(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({
            "ccid": np.array([], np.int32),
            "fid": np.array([], np.int32),
            "qid": np.array([], np.int64),
            "nid": np.array([], np.int64),
            "cos": np.array([], np.float64),
            "ncand": np.array([], np.int32),
        })
        if len(pdf) < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy(np.int64),
                           kind="stable")
        ids = pdf["vec_id"].to_numpy(np.int64)[order]
        # raw embedding → float64: exact widening (the SQL _prep cast),
        # and the n2 fold below is NORM2's expression tree — square
        # each component, then accumulate ascending
        vecs = np.stack(pdf["embedding"].to_numpy()[order]).astype(
            np.float64
        )
        n2 = np.zeros(len(vecs))
        for i in range(vecs.shape[1]):
            n2 += vecs[:, i] * vecs[:, i]
        qidx = np.flatnonzero(pdf["_is_q"].to_numpy(bool)[order])
        cidx = np.flatnonzero(pdf["_is_c"].to_numpy(bool)[order])
        if len(qidx) == 0 or len(cidx) == 0:
            return empty
        dims = vecs.shape[1]
        cids = ids[cidx]
        cn2 = n2[cidx]
        nc = len(cidx)
        m = min(cap_m, nc)
        qs, ns, cs = [], [], []
        # block height keeps the (block × candidates) accumulator
        # ~4 MB so the dims sequential passes over it stay
        # cache-resident — the fold is inherently dims passes
        # (exactness forbids matmul's reassociation), and an L3-sized
        # accumulator is the difference between compute-bound and
        # 20 TB of DRAM traffic on a big cell
        block = max(1, min(512, (1 << 19) // max(1, nc)))
        vt = np.ascontiguousarray(vecs.T)  # column reads stride-1
        ct = np.ascontiguousarray(vecs[cidx].T)
        tmp = np.empty((block, nc))
        for s in range(0, len(qidx), block):
            rows = qidx[s:s + block]
            b = len(rows)
            acc = np.zeros((b, nc))
            t = tmp[:b]
            for i in range(dims):
                # ascending-component fold — the SQL/DuckDB
                # expression tree, elementwise
                np.multiply(vt[i, rows, None], ct[i, None, :], out=t)
                acc += t
            negc = -(acc / np.sqrt(np.multiply.outer(n2[rows], cn2)))
            negc[ids[rows][:, None] == cids[None, :]] = np.inf  # self
            top = np.argsort(negc, axis=1, kind="stable")[:, :m]
            src = np.repeat(ids[rows], m)
            nbr = cids[top.ravel()]
            keep = src != nbr  # self survives only when nc <= cap_m
            qs.append(src[keep])
            ns.append(nbr[keep])
            cs.append(-negc[np.arange(b)[:, None], top].ravel()[keep])
        return pd.DataFrame({
            "ccid": np.full(sum(map(len, qs)),
                            np.int32(pdf["ccid"].iloc[0])),
            "fid": np.full(sum(map(len, qs)),
                           np.int32(pdf["fid"].iloc[0])),
            "qid": np.concatenate(qs),
            "nid": np.concatenate(ns),
            "cos": np.concatenate(cs),
            "ncand": np.full(sum(map(len, qs)),
                             np.int32(pdf["_ncand"].iloc[0])),
        })

    return fn


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_bands: int = 4,
    band_dims: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH blocking.

    Candidate pairs agree on the full sign pattern of at least one band
    of leading components (random-hyperplane LSH with axis-aligned
    planes — deterministic, so an external oracle can replay it), then
    are verified with the exact cosine. Candidate volume is
    O(collisions) per band — an equijoin on (band, pattern), never an
    all-pairs cross join. Fixed band layouts saturate as the corpus
    grows (patterns-per-band is constant, so occupancy — and the
    candidate join's output — rises linearly; the 8×8 layout died at
    200 k vectors, BASELINE.md sf10): for production corpora use
    ``cosine_near_dup_pairs_banded`` (tight thresholds) or
    ``cosine_near_dup_pairs_clustered`` (loose thresholds).
    """
    base = _prep(embeddings)
    bands = base.select(
        "vec_id",
        "v",
        "n2",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            " + ".join(
                                f"(CASE WHEN element_at(v, {b * band_dims + i + 1}) >= 0.0D "
                                f"THEN {1 << i} ELSE 0 END)"
                                for i in range(band_dims)
                            )
                        ).alias("bv"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "v", "n2", "bk.band", "bk.bv")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
        .distinct()
    )
    return _verify_pairs(cand, base, threshold)
