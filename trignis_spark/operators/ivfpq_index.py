"""Persistent IVF-PQ index: train once, probe many.

``pq.ivfpq_topk`` runs the full production ANN cascade — IVF coarse
filter → ADC shortlist → exact re-rank — but *retrains the PQ codebook
and re-encodes the corpus on every call* (training dominated the sf1
cascade cost). This module materializes every training artifact so a
search touches only persisted, bucket-pruned tables, mirroring
``ann_index`` / ``dedup_index`` for the compressed-code axis:

- ``<name>``           — (vec_id BIGINT, v ARRAY<DOUBLE>, n2 DOUBLE,
  bucket INT), *partitioned* by the IVF cell id; only the re-rank
  shortlist ever reads the float vectors, and it reads only the
  shortlist cells' partitions (the shortlist carries each neighbor's
  cell, so the exact-re-rank join prunes partitions dynamically).
- ``<name>_codebook``  — (sub INT, cid INT, cvec ARRAY<DOUBLE>): the m
  per-subspace PQ codebooks (m·k rows — broadcast side of every probe).
- ``<name>_codes``     — (vec_id BIGINT, codes ARRAY<INT> ordered by
  sub, bucket INT), *partitioned* by cell id, one row per vector (the
  *wide* layout): one partition-pruned scan yields both the candidate
  set and its codes (the memory-bandwidth cut — m bytes per vector at
  scale, the float corpus untouched), and the ADC sum computes inside
  the candidate projection — a narrow (vec_id, sub, code) layout
  joined and grouped candidate×m rows per probe (~195 M rows shuffled
  twice at the 20 M-vector decade-4 probe).
  Partitioning (not bucketing) is load-bearing: Spark prunes a
  *bucketed* scan only under literal bucket predicates, while a
  *partitioned* scan gets dynamic partition pruning from the probe's
  broadcast cell join — so probe I/O is O(probed cells) at the scan,
  not just after the join (same DPP pattern as ``dedup_index`` v2's
  verify table, asserted in tests/test_plans.py).
- ``<name>_ids``       — (vec_id BIGINT) membership sidecar, plain
  parquet (consumers are broadcast anti-joins; round 8 unbucketed it —
  see ``ann_index._write_rows``), for idempotent extends.
- ``<name>_meta``      — one row (m, k, n_buckets, adc_margin, plus
  the layout flags of ``_META_SCHEMA``): probe calls need no
  out-of-band parameters; ``adc_margin`` certifies the rerank-free
  quantized-cosine error bound.
- ``<name>__tail`` / ``<name>__tail_codes`` — write-optimized LSM
  tails (round 8): a poll-cycle extend appends ONE plain file here
  instead of scattering ~cells partition-dir commits across the two
  cell-partitioned tables (measured 5.5 s/table of pure metadata per
  600-row append at 2 M × 768 vs 0.3 s plain); probes read
  base ∪ tail, ``compact_ivfpq_index`` folds the tail in on the
  maintenance cadence.

The coarse quantizer is the deterministic sign-pattern of components
strided across the vector (same as ``ann_index``; see
``similarity.bucket_expr`` for why leading bits degenerate on
clustered corpora) and PQ training is ``pq.train_pq``'s deterministic
grouped Lloyd — so a probe's result is bit-for-bit replayable in SQL
(``queries_ext.ann_ivfpq_probe``'s oracle re-derives codebook, codes
and cascade from the raw ``embeddings`` table).

There is one persisted layout: the one described above, with every
meta column present, ``bucket_v = 2``, a vec_id-sorted and duplicate-
free float base (``v_sorted``, ``base_distinct``). Opening an index of
an earlier layout (``_probe_state`` — every probe, extend, fold,
compaction, remeasure and attach goes through it) raises a
``RuntimeError`` that names the table and the legacy property; such an
index is rebuilt with ``build_ivfpq_index``, not converted.

Scale shape: probe cost is O(probed cells) code lookups + ``shortlist``
exact dot products per query — independent of corpus size; extends
append-encode only the new vectors through the *frozen* codebook
(standard IVF-PQ practice: the codebook is trained once on a sample and
reused, drift handled by periodic rebuild).
"""

from __future__ import annotations

from typing import NoReturn

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trignis_spark.operators.kmeans import _ACC
from trignis_spark.operators.pq import _SUBDOT, split_subvectors, train_pq
from trignis_spark.operators.similarity import DOT, _prep, bucket_expr
from trignis_spark.plans.bucketing import batch_anti_join


def _codebook_table(table: str) -> str:
    return f"{table}_codebook"


def _codes_table(table: str) -> str:
    return f"{table}_codes"


def _ids_table(table: str) -> str:
    return f"{table}_ids"


def _tail_table(table: str) -> str:
    return f"{table}__tail"


def _tail_codes_table(table: str) -> str:
    return f"{table}__tail_codes"


def _meta_table(table: str) -> str:
    return f"{table}_meta"


def _all_tables(table: str) -> list[str]:
    return [
        table,
        _codebook_table(table),
        _codes_table(table),
        _ids_table(table),
        _meta_table(table),
    ]


#: per-(warehouse, table) serving-state cache: the meta row, the stored
#: layout flags, the codebook's validated code density, and whether an
#: un-folded tail exists. Round 8 re-derived all of these on EVERY
#: probe — one meta action + one codebook density action + two catalog
#: existence RPCs per call, ~0.25 s of pure fixed overhead at sf0.1 and
#: a per-poll-cycle tax on the ingest gate. All of it is immutable
#: between *mutations of the index*, and every mutator lives in this
#: module, so each one updates or drops the entry (``_drop_state``).
#: Cross-process writers were already invisible to a reader session's
#: cached file listings — such readers must call
#: ``attach_ivfpq_index``/``_refresh`` (which reset this cache) before
#: probing, the same contract as before.
_STATE_CACHE: dict = {}


def _state_key(spark: SparkSession, table: str):
    return (spark.conf.get("spark.sql.warehouse.dir", ""), table)


def _drop_state(spark: SparkSession, table: str) -> None:
    _STATE_CACHE.pop(_state_key(spark, table), None)


def _refuse(name: str, what: str) -> NoReturn:
    raise RuntimeError(
        f"{name}: {what} — an IVF-PQ layout of an earlier build, which "
        "is no longer read; rebuild the index with build_ivfpq_index"
    )


def _probe_state(spark: SparkSession, table: str) -> dict:
    """Cached serving state (see ``_STATE_CACHE``), loaded when the
    index is opened. ``kk`` (validated dense code count) is filled
    lazily by the first probe.

    Only the current persisted layout is served (module docstring): a
    missing or null meta column, ``bucket_v != 2`` (leading-bits
    cells), a float base not recorded ``v_sorted``/``base_distinct``,
    a codes table other than the wide (vec_id, codes, bucket) rows, a
    cell table that buckets rather than partitions its cell, or a
    bucketed ids sidecar each raise (``_refuse``)."""
    key = _state_key(spark, table)
    st = _STATE_CACHE.get(key)
    if st is None:
        mt = _meta_table(table)
        meta = spark.table(mt).first().asDict()
        for c in _META_COLS:
            if meta.get(c) is None:
                _refuse(mt, f"meta column {c} is missing or null")
        if meta["bucket_v"] != 2:
            _refuse(mt, f"bucket_v = {meta['bucket_v']} (leading-bits "
                        "sign cells)")
        for flag in ("v_sorted", "base_distinct"):
            if not meta[flag]:
                _refuse(mt, f"{flag} is false")
        codes = _codes_table(table)
        if set(spark.table(codes).columns) != {"vec_id", "codes", "bucket"}:
            _refuse(codes, "not the wide (vec_id, codes, bucket) layout")
        for name in (table, codes):
            if not _cell_partitioned(spark, name):
                _refuse(name, "cell-bucketed, not cell-partitioned")
        if _is_bucketed(spark, _ids_table(table)):
            _refuse(_ids_table(table), "bucketed ids sidecar")
        st = {
            "m": meta["m"],
            "k": meta["k"],
            "n_buckets": meta["n_buckets"],
            "adc_margin": meta["adc_margin"],
            # true for every index that opens (checked above)
            "base_distinct": meta["base_distinct"],
            "v_sorted": meta["v_sorted"],
            # adc_margin is a max over EVERY indexed vector (not a
            # sample) — see ``band_armed``
            "margin_certified": meta["margin_certified"],
            "has_tail": spark.catalog.tableExists(_tail_codes_table(table))
            or spark.catalog.tableExists(_tail_table(table)),
            "kk": None,
            # mega-cell sub-split map, recovered from the codes table's
            # partition values (one catalog listing, cached with the
            # rest of the serving state; build/fold/attach drop the
            # cache)
            "splits": _stored_splits(spark, codes),
        }
        _STATE_CACHE[key] = st
    return st


def _refresh(spark: SparkSession, table: str) -> None:
    # writes may come from another session — invalidate the probing
    # session's cached file listing (see dedup_index)
    for t in _all_tables(table):
        spark.catalog.refreshTable(t)
    for t in (_tail_table(table), _tail_codes_table(table)):
        if spark.catalog.tableExists(t):
            spark.catalog.refreshTable(t)
    _drop_state(spark, table)


def _is_bucketed(spark: SparkSession, name: str) -> bool:
    """True when the catalog declares a bucket spec for ``name``."""
    return any(c.isBucket for c in spark.catalog.listColumns(name))


def index_exists(spark: SparkSession, table: str) -> bool:
    return all(spark.catalog.tableExists(t) for t in _all_tables(table))


def _cell_partitioned(spark: SparkSession, name: str) -> bool:
    """True when ``name`` stores its IVF cell as a *partition* column,
    which gives the probe's scans dynamic partition pruning."""
    return any(
        c.name == "bucket" and c.isPartition
        for c in spark.catalog.listColumns(name)
    )


def _drop_stale(spark: SparkSession, table: str) -> None:
    """Drop any prior incarnation of the index, including orphaned
    warehouse locations from other sessions (see
    ``maintenance.drop_table_and_location``)."""
    from trignis_spark.maintenance import drop_table_and_location

    for t in _all_tables(table) + [_tail_table(table),
                                   _tail_codes_table(table)]:
        drop_table_and_location(spark, t)
    _drop_state(spark, table)


def _bucketed(embeddings: DataFrame, n_buckets: int) -> DataFrame:
    """(bucket, vec_id, v, n2) under the sign-pattern coarse quantizer.
    The strided bit positions are bound to the corpus's measured width
    (one limit-1 read) so the cell expression folds to literal
    element_at positions instead of re-evaluating ``size(v)`` once per
    bit per corpus row (VERDICT r9 #2) — identical cell ids, and the
    oracle twins compute the same positions from ``len(v)``."""
    from trignis_spark.operators.similarity import _vec_dims

    prepped = _prep(embeddings)
    return prepped.select(
        F.expr(bucket_expr("v", n_buckets,
                           dims=_vec_dims(prepped))).alias("bucket"),
        "vec_id",
        "v",
        "n2",
    )


def auto_n_buckets(n_vectors: int, dims: int = 64) -> int:
    """Corpus-scaled IVF cell count: the next power of two at or above
    √N (the standard IVF sizing rule — cell population and probed-cell
    cost then both grow as √N instead of N), clamped to [16, 2^(dims-1
    sign bits available)] and to 4096 so the bucketed table count stays
    sane. A fixed cell count makes probe cost linear in the corpus: at
    the tiled sf10 corpus (200 k vectors) 16 cells put 12.5 k codes in
    every probed cell, measured 16.6 s for the probe query vs 4.7 s
    with √N-scaled cells (BASELINE.md sf10 table).

    Past the 4096-cell file-count cap (first bound at the 20 M-vector
    decade-4 leg, where √N wants 4472 — BASELINE.md) per-cell
    occupancy grows linearly again, N/4096 codes per probed cell; the
    cap is a local-filesystem file-count dial, not a semantic bound,
    so a binding cap warns (``warnings.warn``) and a cluster caller
    can pass an explicit ``n_buckets`` to keep the √N rule."""
    import math
    import warnings

    n = max(16, 1 << math.ceil(math.log2(max(1.0, math.sqrt(n_vectors)))))
    # the sign-pattern quantizer draws log2(n) bits from the leading
    # components, so n may never exceed 2^dims (for the default 64-dim
    # embeddings the 4096 cap binds long before that bound matters)
    capped = min(n, 4096, 1 << dims)
    if capped < n:
        warnings.warn(
            f"auto_n_buckets: √N rule wants {n} cells for "
            f"{n_vectors} vectors but the cap holds it at {capped} — "
            f"per-cell occupancy (≈{n_vectors // capped} codes) now "
            "grows linearly with the corpus; pass n_buckets explicitly "
            "to restore √N scaling",
            stacklevel=2,
        )
    return capped


#: total interpreted fold elements (rows × k × sub_dims) above which
#: the wide encode dispatches to the Arrow twin even when the
#: per-subspace score sits under ``VECTORIZED_ENCODE_MIN_SCORE``. The
#: per-row floor catches WIDE layouts (768-dim: boxed slices killed two
#: straggler tasks); this catches LARGE corpora at narrow layouts — the
#: 50 M × 64-dim decade-5 build's encode stage (m=8, k=16 ⇒ 128
#: elements/row, expression path) completed 0 of 64 tasks in 10
#: minutes, ~6.4e9 interpreted fold elements. Both paths are locked
#: bit-identical (tests/test_pq.py), so dispatch is pure economics;
#: the pinned oracle fixtures (≤ 10⁴ rows) stay far under this bound.
VECTORIZED_ENCODE_MIN_WORK = 100_000_000

#: estimated total ADC fold elements (candidates × m) above which
#: ``ivfpq_probe`` dispatches the candidate scoring to the Arrow int64
#: fixed-point twin (round 10 — VERDICT r9 #1): the expression form
#: folds the per-candidate sum through interpreted DECIMAL arithmetic
#: (~m BigDecimal allocations per candidate), which is what pushed the
#: k=64 width-regime gate cycle past the 30 s poll envelope at
#: 2 M × 768 (exact 45.7 s / adc 51.5 s mean warm). Both paths are
#: locked bit-identical (tests/test_ivfpq_index.py), so dispatch is
#: pure economics; the pinned oracle fixtures stay far under this.
ADC_ARROW_MIN_WORK = 4_000_000

#: target ADC fold elements per union leg when the Arrow path chunks
#: the broadcast query side (VERDICT r9 #3): the probed-cell scan runs
#: one task per cell FILE, so a skewed mega-cell (measured max
#: occupancy 19 181 vs median 715 on the 2 M × 768 product manifold)
#: serializes occupancy × queries candidates through one task. Query
#: chunks re-scan the probed cells (cell files are ~1 MB — free) but
#: each leg's scan tasks run in parallel, so the mega-cell's work
#: spreads ~chunks× with zero added shuffles and a bit-identical
#: candidate union (dedup/ranking key on query_id, untouched by which
#: leg produced a row).
ADC_CHUNK_WORK = 8_000_000

#: union-leg ceiling for the query chunking — bounds plan width
ADC_MAX_CHUNKS = 32

#: query-batch size assumed when deciding whether a query count is
#: even worth running for the Arrow dispatch: if per-query fold work ×
#: this bound cannot reach ``ADC_ARROW_MIN_WORK``, the probe skips the
#: count and stays on the expression path (tiny fixture corpora)
_ADC_ASSUMED_MAX_BATCH = 100_000

#: query-row ceiling for the Arrow re-rank's driver-collected query
#: vectors (round 11, VERDICT r10 #6): the exact-dot twin ships the
#: batch's (qv, qn2) as a Python broadcast the way the ADC twin ships
#: its LUTs; 64 Ki rows × 768 dims × 8 B ≈ 400 MB — far past any poll
#: batch, and a Full-resync-sized query frame falls back to the
#: expression fold instead of straining the driver. A second,
#: byte-accurate gate (``ADC_LUT_BROADCAST_BYTES`` reused) re-checks
#: the actual payload after collect.
RERANK_COLLECT_ROWS = 65536

#: driver-memory budget for the Arrow path's collected+quantized LUTs
#: (n_queries × m × kk × 8 bytes). The expression path ships LUTs as a
#: Spark broadcast (8 GB hard limit, fails loudly); the Arrow path
#: driver-COLLECTS them, so a Full-resync-sized query frame must fall
#: back to the expression fold instead of silently OOMing the driver.
#: 512 MiB ≈ 1 M queries at the default m=8/k=64 layout — far past any
#: poll batch.
ADC_LUT_BROADCAST_BYTES = 512 * 1024 * 1024

#: float-base parquet row-group size for v_sorted builds (round 12,
#: VERDICT r11 #4 — the margin-band deferred gather). The exact-gate
#: re-rank gathers a FEW rows per query out of the float base; pushed
#: ``vec_id IN`` legs can only skip I/O at row-group granularity, and
#: the default 128 MB groups hold ~20 k rows at 768 dims — every group
#: then contains a gathered id and nothing prunes. 512 KiB groups
#: (~85 rows at 768 dims, ~1 000 at 64) are the same size the text
#: index's verify table measured effective at the 50 M-doc decade leg
#: (``dedup_index.VERIFY_BLOCK_BYTES``); the small-batch probe path
#: scans whole cells either way and its per-group overhead at this
#: size measured in the noise there.
FLOAT_BLOCK_BYTES = 512 * 1024

#: widest certified ADC margin the band gather considers useful: at
#: ±0.5 the cosine interval spans half the range and the per-query
#: band keeps most of the shortlist — the full broadcast-join gather
#: is then the simpler identical-cost plan. Gaussian fixtures certify
#: ~1.3 and keep the classic path (and the pinned oracle plans);
#: real manifolds certify ≪ 0.1 and prune to ~k rows per query.
BAND_MARGIN_MAX = 0.5

#: outward slack added to the certified margin before banding: the
#: margin bounds the MATH-level |cos(q,x) − cos(q,x̂)|, while the
#: banded bounds compare PLAN-computed doubles. Both sides' folds keep
#: absolute cosine error ≤ ~dims·2⁻⁵² (partial sums are Cauchy-Schwarz
#: -bounded by |q||x̂|, which the denominator normalizes away), ~2e-13
#: at 768 dims — 1e-9 dwarfs it while staying far below any margin a
#: gate can use. Non-finite computed bounds keep their rows
#: unconditionally.
BAND_SAFETY = 1e-9

#: cell sub-split (round 11, VERDICT r10 #2): a build splits any cell
#: whose occupancy exceeds this factor × the mean into hash sub-cells,
#: stored as extra partition values ``bucket + s·CELL_SPLIT_OFFSET``.
#: The r10 query-side hash chunks spread a mega-cell's candidates over
#: tasks but every leg still re-scanned the whole cell and the skewed
#: cell's files still bounded scan parallelism; sub-cells are separate
#: partition directories, so the scan itself parallelizes and probe
#: wall stops tracking max occupancy. Probes expand each probed
#: bucket to its stored sub-values (discovered once per session from
#: the partition listing) — the candidate UNION is bit-identical by
#: construction, so ranking, oracles and the ADC twins are untouched.
CELL_SPLIT_FACTOR = 4

#: sub-cell partition-value stride; must clear any realizable cell id
#: (sign-pattern cells < 2^20, trained-quantizer cells < corpus k)
CELL_SPLIT_OFFSET = 1 << 24


def _split_cells(rows: DataFrame, split_factor: int):
    """Remap over-occupied cells onto hash sub-cells:
    ``bucket → bucket + CELL_SPLIT_OFFSET · pmod(xxhash64(vec_id), S)``
    for cells with more than ``split_factor × mean`` rows, where
    S = ceil(occupancy / cap) (sub 0 keeps the original partition
    value). Deterministic in vec_id, so a rebuilt index splits
    identically. Returns (rows, {bucket: S})."""
    occ = rows.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    tot = occ.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("nb")
    ).first()
    if not tot or not tot["nb"]:
        return rows, {}
    cap = max(1, split_factor * int(tot["n"] // tot["nb"]))
    splits = {
        int(r["bucket"]): -(-int(r["c"]) // cap)
        for r in occ.filter(F.col("c") > cap).collect()
    }
    if not splits:
        return rows, {}
    sub_of = F.create_map(
        *[F.lit(x) for b, s in splits.items() for x in (b, s)]
    )[F.col("bucket")]
    return rows.withColumn(
        "bucket",
        F.when(
            sub_of.isNotNull(),
            (
                F.col("bucket")
                + F.lit(CELL_SPLIT_OFFSET)
                * F.pmod(F.xxhash64("vec_id"), sub_of)
            ).cast(rows.schema["bucket"].dataType),
        ).otherwise(F.col("bucket")),
    ), splits


def _stored_splits(spark: SparkSession, name: str) -> dict:
    """{original bucket: sub-cell count} recovered from a
    cell-partitioned table's partition values (the split map is never
    stored separately — the layout IS the record). Empty for an
    unsplit table."""
    splits: dict = {}
    for r in spark.sql(f"SHOW PARTITIONS {name}").collect():
        v = int(str(r[0]).split("=", 1)[1])
        if v >= CELL_SPLIT_OFFSET:
            b, s = v % CELL_SPLIT_OFFSET, v // CELL_SPLIT_OFFSET
            splits[b] = max(splits.get(b, 2), s + 1)
    return splits


def _expand_cells(cells: list, splits: dict) -> list:
    """A probed/folded cell list widened to its stored sub-values."""
    out = list(cells)
    for c in cells:
        for s in range(1, splits.get(c, 1)):
            out.append(c + s * CELL_SPLIT_OFFSET)
    return out


def _dec12_quantize(x) -> "object":
    """int64 fixed-point image (units of 1e-12) of Spark's
    ``CAST(x AS DECIMAL(_, 12))`` for an array of doubles — the exact
    HALF_UP rounding, at scale 12, of each double's SHORTEST-REPR
    decimal value (Spark casts through ``BigDecimal.valueOf`` =
    ``Double.toString``; Python's ``repr`` produces the same shortest
    round-trip decimal). Fast path: ``floor(|x·1e12| + 0.5)`` with the
    sign restored; elements within a few ulp of a .5 midpoint — where
    float arithmetic could round differently from the decimal value —
    and magnitudes where ulp(|x·1e12|) approaches 1 fall back to exact
    ``decimal.Decimal`` arithmetic. Parity with Spark's own cast is
    locked by tests/test_ivfpq_index.py::
    test_dec12_quantize_matches_spark_cast."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    y = x * 1e12
    ay = np.abs(y)
    if not np.isfinite(y).all():
        raise ValueError("_dec12_quantize: non-finite input")
    frac = ay - np.floor(ay)
    # |y - true_decimal·1e12| ≤ ~2 ulp(y) (one rounding in the multiply
    # plus the shortest-repr/binary gap); 8 ulp is a generous band
    amb = (np.abs(frac - 0.5) <= 8.0 * np.spacing(ay)) | (ay >= 2.0**50)
    res = np.floor(np.minimum(ay, 2.0**62) + 0.5).astype(np.int64)
    if amb.any():
        from decimal import ROUND_HALF_UP, Decimal

        grid = Decimal("1E-12")
        for i in np.nonzero(amb)[0]:
            d = Decimal(repr(float(x[i]))).quantize(grid, ROUND_HALF_UP)
            res[i] = abs(int(d.scaleb(12)))
    return np.where(np.signbit(x), -res, res).astype(np.int64)


def _int12_to_double(s) -> "object":
    """Exact ``CAST(DECIMAL(_,12) AS DOUBLE)`` of int64 fixed-point
    sums (units of 1e-12): for |s| < 2⁵³ the float64 image of ``s`` is
    exact and IEEE division by the exactly-representable 1e12 is the
    correctly-rounded quotient — precisely ``BigDecimal.doubleValue``;
    larger sums (none seen in practice — they need |adot| > 9 000) go
    through exact Decimal scaling."""
    import numpy as np

    out = s.astype(np.float64)
    big = np.abs(s) >= (1 << 53)
    out /= 1e12
    if big.any():
        from decimal import Decimal

        for i in np.nonzero(big)[0]:
            out[i] = float(Decimal(int(s[i])).scaleb(-12))
    return out


def _wide_codes(rows: DataFrame, codebook: DataFrame, m: int,
                n_rows: int | None = None) -> DataFrame:
    """(vec_id, codes ARRAY<INT> ordered by sub, bucket) — the PQ codes
    table in its *wide* layout, one row per vector, computed in a single
    map-side projection (full codebook broadcast as one packed array;
    every subspace argmin inlines per row).

    Wide is the serving layout: the ADC scan reads m× fewer rows, the
    per-(query, vector) sum happens inside a projection instead of an
    m-row groupBy, and the replay-duplicate guard dedups candidate rows
    instead of candidate×m rows — at 20 M vectors the narrow layout
    shuffled ~195 M (query, vec, sub) rows twice per probe.

    Bit-identical codes to ``pq.assign_codes``: the subvector slice is
    the same expression text as ``pq.split_v``, the distance the same
    left-fold squared-L2, and the tie-break the same struct-min
    (lowest d2, then lowest cid) — locked by
    tests/test_ivfpq_index.py::test_wide_codes_match_assign_codes."""
    from trignis_spark.operators.pq import (
        VECTORIZED_ENCODE_MIN_SCORE,
        _codebook_matrices,
    )

    cb_rows = codebook.select("sub", "cid", "cvec").collect()
    sub_dims = len(cb_rows[0]["cvec"]) if cb_rows else 0
    k_max = max(
        (sum(1 for r in cb_rows if r["sub"] == s)
         for s in {r["sub"] for r in cb_rows}),
        default=0,
    )
    if k_max * sub_dims >= VECTORIZED_ENCODE_MIN_SCORE or (
        n_rows is not None
        and n_rows * k_max * sub_dims >= VECTORIZED_ENCODE_MIN_WORK
    ):
        # Arrow twin (round 8): the expression form below evaluates
        # ``slice(v, ...)`` once per CANDIDATE — interpreted Slice
        # builds a boxed Scala Vector each time (m·k = 128 per row at
        # the defaults), and at 2 M × 768 two straggler encode tasks
        # were killed after 45 minutes. The numpy fold is the same
        # component-ascending (x−y)² tree over views of the SAME
        # slice boundaries, argmin over cid-ascending columns = the
        # struct-min tie-break — bit-identical codes
        # (tests/test_pq.py::test_arrow_encode_matches_hof_wide).
        import numpy as np

        from trignis_spark.operators.kmeans import _fold_sqdist

        mats = _codebook_matrices(cb_rows)
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            StructField,
            StructType,
        )

        src = rows.select("vec_id", "bucket", "v")
        schema = StructType([
            src.schema["vec_id"],
            StructField("codes", ArrayType(IntegerType()), True),
            src.schema["bucket"],
        ])

        def gen(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf["v"].to_numpy()).astype(
                    np.float64, copy=False
                )
                d = X.shape[1] // m
                codes = np.empty((len(pdf), m), np.int32)
                for s in range(m):
                    cids, C = mats[s]
                    acc = np.empty((len(pdf), len(cids)))
                    _fold_sqdist(X[:, s * d:(s + 1) * d], C, acc)
                    codes[:, s] = cids[np.argmin(acc, axis=1)]
                out = pdf[["vec_id"]].copy()
                out["codes"] = list(codes)
                out["bucket"] = pdf["bucket"].to_numpy()
                yield out

        return src.mapInPandas(gen, schema)
    packed = codebook.agg(
        F.array_sort(
            F.collect_list(F.struct("sub", "cid", "cvec"))
        ).alias("_cb")
    )
    sub_slice = f"slice(v, s * (size(v) div {m}) + 1, size(v) div {m})"
    d2 = (
        f"aggregate(zip_with({sub_slice}, c.cvec, "
        "(x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
    )
    codes_expr = (
        f"transform(sequence(0, {m - 1}), s -> "
        f"array_min(transform(filter(_cb, c -> c.sub = s), "
        f"c -> struct({d2} AS d2, c.cid AS i))).i)"
    )
    return rows.crossJoin(F.broadcast(packed)).select(
        "vec_id", F.expr(codes_expr).alias("codes"), "bucket"
    )


#: suggested ``margin_rows``/``sample_rows`` for callers opting into a
#: STATISTICAL (sampled) margin on a huge one-shot build — large enough
#: that the sample max tracks the corpus tail, small enough that the
#: reconstruction pass is free relative to the build. The default is a
#: full-corpus certified max (see ``build_ivfpq_index``).
_MARGIN_SAMPLE = 65536

#: the meta row's schema (one row per index). ``adc_margin`` is the
#: ADC-cosine error bound. ``base_distinct`` (the cell-partitioned base
#: tables are duplicate-free — see ``build_ivfpq_index``), ``bucket_v``
#: (= 2, the strided sign quantizer) and ``v_sorted`` (the float base
#: is vec_id-sorted within cells) are constant for the one layout this
#: module writes; ``_probe_state`` refuses an index whose row says
#: otherwise. ``margin_certified`` is true only when ``adc_margin`` was
#: measured over every indexed vector (``margin_rows=None`` builds,
#: ``remeasure_adc_margin(sample_rows=None)``) — a sampled max is
#: statistical, and only a certified bound may arm the exact re-rank's
#: banded gather (``band_armed``).
_META_SCHEMA = (
    "m int, k int, n_buckets int, adc_margin double, "
    "base_distinct boolean, bucket_v int, v_sorted boolean, "
    "margin_certified boolean"
)
_META_COLS = [c.split()[0] for c in _META_SCHEMA.split(", ")]


def _meta_frame(spark: SparkSession, m: int, k: int, n_buckets: int,
                adc_margin: float, margin_certified: bool) -> DataFrame:
    """The one-row meta frame of the current layout."""
    return spark.createDataFrame(
        [(m, k, n_buckets, adc_margin, True, 2, True, margin_certified)],
        _META_SCHEMA,
    )


def _unit_residual_max(rows: DataFrame, codebook: DataFrame, m: int,
                       codes: DataFrame | None = None,
                       n_rows: int | None = None) -> float:
    """Max unit-sphere quantization residual ‖x/|x| − x̂/|x̂|‖ over
    ``rows`` (vec_id, v, n2, …): the certified ADC-cosine error bound
    — for any query q, |cos(q, x) − cos(q, x̂)| = |⟨q̂, x/|x| − x̂/|x̂|⟩|
    ≤ this, by Cauchy-Schwarz. Derived via ‖a − b‖² = 2 − 2·cos(a, b)
    for unit a, b. ``codes`` may pass pre-computed wide codes (an
    extend batch's, or the persisted codes table at build); otherwise
    they are encoded here. Returns 0.0 for empty input. The
    reconstruction looks codes up by (sub, cid) filter, not stride, so
    a short (min(N, k)) codebook is handled.

    ``n_rows`` (a hint, like ``_wide_codes``'s) dispatches large
    corpora to an Arrow reconstruction: the HOF form's per-row xhat is
    an element_at(filter(...)) over the m·k packed codebook per
    subspace — interpreted m²·k struct scans per row, the same shape
    that walled the 50 M encode — while the numpy twin is a gather.
    The margin is a measured bound, not an oracle-pinned value, so the
    two paths' last-ulp reduction-order differences are immaterial
    (every pinned fixture stays far under the dispatch threshold and
    keeps the HOF path regardless)."""
    if n_rows is not None:
        cb_rows = codebook.select("sub", "cid", "cvec").collect()
        sub_dims = len(cb_rows[0]["cvec"]) if cb_rows else 0
        k_max = max(
            (sum(1 for r in cb_rows if r["sub"] == s)
             for s in {r["sub"] for r in cb_rows}),
            default=0,
        )
        if n_rows * k_max * sub_dims >= VECTORIZED_ENCODE_MIN_WORK:
            import numpy as np

            from pyspark.sql.types import DoubleType, StructField, StructType

            from trignis_spark.operators.pq import _codebook_matrices

            mats = _codebook_matrices(cb_rows)
            if codes is None:
                codes = _wide_codes(rows, codebook, m, n_rows=n_rows)
            src = (
                rows.select("vec_id", "v", "n2")
                .join(codes.select("vec_id", "codes"), "vec_id")
                .select("v", "n2", "codes")
            )
            schema = StructType([StructField("mx", DoubleType(), True)])

            def gen(batches):
                import pandas as pd

                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    X = np.stack(pdf["v"].to_numpy()).astype(
                        np.float64, copy=False
                    )
                    C = np.stack(pdf["codes"].to_numpy()).astype(
                        np.int64, copy=False
                    )
                    n2 = pdf["n2"].to_numpy(np.float64)
                    d = X.shape[1] // m
                    xh = np.empty_like(X)
                    for s in range(m):
                        cids, Cm = mats[s]
                        xh[:, s * d:(s + 1) * d] = Cm[
                            np.searchsorted(cids, C[:, s])
                        ]
                    cosr = (X * xh).sum(axis=1) / np.sqrt(
                        n2 * (xh * xh).sum(axis=1)
                    )
                    res = np.sqrt(np.maximum(0.0, 2.0 - 2.0 * cosr))
                    yield pd.DataFrame({"mx": [float(res.max())]})

            r = src.mapInPandas(gen, schema).agg(
                F.max("mx").alias("mx")
            ).first()
            return float(r["mx"]) if r["mx"] is not None else 0.0
    if codes is None:
        codes = _wide_codes(rows, codebook, m)
    packed = codebook.agg(
        F.array_sort(F.collect_list(F.struct("sub", "cid", "cvec")))
        .alias("_cb")
    )
    xhat = (
        f"flatten(transform(sequence(0, {m - 1}), s -> "
        "element_at(filter(_cb, c -> c.sub = s AND "
        "c.cid = element_at(codes, s + 1)), 1).cvec))"
    )
    r = (
        rows.select("vec_id", "v", "n2")
        .join(codes.select("vec_id", "codes"), "vec_id")
        .crossJoin(F.broadcast(packed))
        .select(
            "v", "n2", F.expr(xhat).alias("xh")
        )
        .select(
            (
                F.expr(DOT.format(a="v", b="xh"))
                / F.sqrt(
                    F.col("n2")
                    * F.expr(
                        "aggregate(xh, CAST(0.0 AS DOUBLE), "
                        "(acc, x) -> acc + x * x)"
                    )
                )
            ).alias("cosr")
        )
        .agg(
            F.max(
                F.sqrt(
                    F.greatest(
                        F.lit(0.0), F.lit(2.0) - F.lit(2.0) * F.col("cosr")
                    )
                )
            ).alias("mx")
        )
        .first()
    )
    return float(r["mx"]) if r["mx"] is not None else 0.0


def band_armed(st: dict) -> bool:
    """Whether the exact re-rank of an index with serving state ``st``
    (``_probe_state``) takes the margin-band deferred float gather over
    its vec_id-sorted float base: the ADC margin is certified over
    every indexed vector and narrow enough to be useful. A sampled
    margin never arms it — an unsampled vector can exceed a sampled
    max, and the banded gather would then drop a true top-k member (see
    ``ivfpq_probe``)."""
    return st["margin_certified"] and st["adc_margin"] < BAND_MARGIN_MAX


def stored_adc_margin(spark: SparkSession, table: str) -> float:
    """The index's ADC error bound. Served from the per-table state
    cache — in-process mutators (extend's drift widening,
    ``remeasure_adc_margin``) update it, so a long-lived gate
    re-reading per cycle pays no per-cycle action."""
    return _probe_state(spark, table)["adc_margin"]


def _rewrite_meta(spark: SparkSession, table: str, m: int, k: int,
                  n_buckets: int, adc_margin: float,
                  margin_certified: bool) -> None:
    """Replace the one-row meta table, crash-safe (ADVICE r8): the new
    row is durably written to a ``__staged`` sidecar BEFORE the live
    table is dropped, so no crash point loses the metadata — a crash
    between the drop and the rewrite leaves the index meta-less until
    ``_recover_meta`` (run by remeasure/attach) restores it from the
    sidecar. A catalog-rename swap would be narrower still, but a
    re-attached meta table is EXTERNAL at the standard warehouse path,
    where renaming the managed replacement onto it collides."""
    from trignis_spark.maintenance import drop_table_and_location

    mt = _meta_table(table)
    staged = f"{mt}__staged"
    drop_table_and_location(spark, staged)
    _meta_frame(spark, m, k, n_buckets, adc_margin, margin_certified) \
        .write.format("parquet").saveAsTable(staged)
    drop_table_and_location(spark, mt)
    spark.table(staged).write.format("parquet").saveAsTable(mt)
    drop_table_and_location(spark, staged)
    _drop_state(spark, table)


def _recover_meta(spark: SparkSession, table: str) -> bool:
    """Restore the meta row from a ``__staged`` sidecar a crashed
    ``_rewrite_meta`` left behind (the sidecar holds the NEW row, so
    recovery completes the interrupted rewrite). Returns True when a
    recovery happened."""
    from trignis_spark.maintenance import (
        _managed_table_dir,
        attach_table,
        drop_table_and_location,
    )

    mt = _meta_table(table)
    staged = f"{mt}__staged"
    import os

    if not spark.catalog.tableExists(staged):
        if not os.path.isdir(_managed_table_dir(spark, staged)):
            return False
        attach_table(spark, staged)  # fresh session: files, no catalog
    if spark.catalog.tableExists(mt) or os.path.isdir(
        _managed_table_dir(spark, mt)
    ):
        # rewrite completed (or was never started) — sidecar is stale
        drop_table_and_location(spark, staged)
        return False
    spark.table(staged).write.format("parquet").saveAsTable(mt)
    drop_table_and_location(spark, staged)
    _drop_state(spark, table)
    return True


def remeasure_adc_margin(
    spark: SparkSession, table: str, sample_rows: int | None = None
) -> float:
    """Recompute the certified ADC bound over the CURRENT corpus
    (build + every extend since) and rewrite the meta row — the
    maintenance-cadence counterpart to ``extend_ivfpq_index``'s
    drift handling. Returns the new margin.

    ``sample_rows=None`` (default) measures the full corpus — the max
    is then a true bound for every indexed vector. An integer measures
    a deterministic ~``sample_rows`` hash-sample: cheaper, but the
    bound becomes statistical (unsampled vectors can exceed it) and is
    stored uncertified, which disarms the banded gather
    (``band_armed``); extend's per-batch check and drift widening keep
    such a margin honest over time. The rewrite is crash-safe via a
    staged sidecar (``_rewrite_meta``); a crash mid-rewrite is healed
    here or at attach time (``_recover_meta``)."""
    _recover_meta(spark, table)
    st = _probe_state(spark, table)
    rows = spark.table(table)
    if spark.catalog.tableExists(_tail_table(table)):
        # vectors extended since the last compaction live in the tail
        rows = rows.unionByName(spark.table(_tail_table(table)))
    n = rows.count()
    if sample_rows is not None:
        ratio = max(1, -(n // -sample_rows))  # ceil: ≤ cap
        rows = rows.filter(F.pmod(F.hash("vec_id"), F.lit(ratio)) == 0)
        n = min(n, sample_rows)
    margin = _unit_residual_max(
        rows, spark.table(_codebook_table(table)), st["m"], n_rows=n,
    )
    _rewrite_meta(spark, table, st["m"], st["k"], st["n_buckets"],
                  margin, margin_certified=sample_rows is None)
    _refresh(spark, table)
    return margin


def build_ivfpq_index(
    spark: SparkSession,
    embeddings: DataFrame,
    table: str,
    m: int = 8,
    k: int = 16,
    n_buckets: int | None = None,
    iters: int = 2,
    train_rows: int | None = None,
    margin_rows: int | None = None,
    split_factor: int | None = CELL_SPLIT_FACTOR,
) -> None:
    """Train the PQ codebook and materialize all five tables
    (overwrites any prior index of the same name). The default
    ``n_buckets=None`` sizes the IVF cell count from the corpus
    (``auto_n_buckets`` — √N, measured 3.5× faster probes than a fixed
    16 cells at the sf10 corpus, BASELINE.md); pass an explicit count
    only when the caller must pin the layout (the registry query pins
    16 so its DuckDB oracle can replay the bucket expression).

    ``train_rows`` bounds the PQ *training* set: ``train_pq`` local-
    checkpoints the full m×N subvector spread, which is corpus-sized
    scratch (~72 GB at 100 M × 64-dim — it is what walls the build a
    decade past 20 M), while codebook quality saturates at a fixed
    sample long before that (the standard practice: FAISS trains PQ on
    ~10⁴–10⁶ vectors regardless of corpus size). When set and the
    corpus is larger, training reads only rows with
    ``pmod(hash(vec_id), n div train_rows) = 0`` — a deterministic,
    partitioning-independent sample of ≈``train_rows`` — and encoding/
    bucketing still cover every row. Default ``None`` trains on the
    full corpus (every pinned oracle fixture's path, unchanged).

    ``margin_rows`` controls the ADC-margin certification set. The
    default ``None`` measures EVERY indexed vector (ADVICE r8: a
    sampled max is statistical — an unsampled vector can exceed it,
    and a ``precision='adc'`` gate thresholding with it could then
    silently accept a true θ-neighbor); the codes table is already
    materialized at this point, so the full measurement is one
    reconstruction pass with no re-encode, Arrow-dispatched at scale.
    An explicit integer opts into a deterministic hash-sample of about
    that size — cheaper for a huge one-shot build, but the stored
    bound is then only statistical until a full
    ``remeasure_adc_margin`` certifies it, adc-gated callers should
    treat decisions near the threshold accordingly, and the exact
    re-rank keeps the classic gather (``band_armed``)."""
    n = embeddings.count()
    if n_buckets is None:
        n_buckets = auto_n_buckets(n)
    train_src = embeddings
    if train_rows is not None and n > train_rows:
        # ceil division (ADVICE r8): floor let the realized sample run
        # to ~2× the requested bound (n = 1.9×train_rows gave ratio 1 —
        # the full corpus), defeating the scratch-disk cap the
        # parameter exists to enforce; ceil keeps it ≤ train_rows
        ratio = -(n // -train_rows)
        train_src = embeddings.filter(
            F.pmod(F.hash("vec_id"), F.lit(ratio)) == 0
        )
    _drop_stale(spark, table)
    # train_pq returns a driver-local relation (round 11) — no
    # checkpoint needed to flatten training lineage, and keeping the
    # frame as-is preserves its carried rows so the encode below skips
    # its codebook re-collect
    codebook = train_pq(train_src, m=m, k=k, iters=iters)
    (
        codebook.write.mode("overwrite")
        .format("parquet")
        .saveAsTable(_codebook_table(table))
    )
    rows = _bucketed(embeddings, n_buckets)
    if split_factor is not None:
        # mega-cell sub-split (see CELL_SPLIT_FACTOR): both
        # cell-partitioned tables get the SAME remap (rows carries it
        # into the encode), so the re-rank's (vec_id, bucket) join
        # stays exact
        rows, _ = _split_cells(rows, split_factor)
    # repartition on the cell column before the partitioned write:
    # otherwise every writer task emits one file per cell it happens to
    # hold (measured 5 137 files for the 512-cell codes table — the
    # classic small-files blow-up); after repartition each cell lands
    # in exactly one task, so file count == cell count. The float base
    # additionally sorts by vec_id WITHIN each cell and bounds its row
    # groups (round 12, VERDICT r11 #4): the exact re-rank's banded
    # gather pushes collected shortlist ids into this scan as In legs,
    # and min-max row-group pruning only bites when ids are locally
    # contiguous — ``meta.v_sorted`` records the property.
    (
        rows.repartition("bucket")
        .sortWithinPartitions("bucket", "vec_id")
        .write.mode("overwrite")
        .option("parquet.block.size", str(FLOAT_BLOCK_BYTES))
        .partitionBy("bucket")
        .format("parquet")
        .saveAsTable(table)
    )
    # encode straight off the bucketed rows in the wide one-row-per-
    # vector layout, all map-side (no encode→bucket join — the former
    # join shuffled the m×N-row code table on vec_id; 160 M rows at
    # 20 M vectors, and with train_pq's old join-back it filled the
    # 67 GB scratch disk before the build completed); n_rows lets the
    # encode dispatch on TOTAL work, not just per-row score
    codes = _wide_codes(rows, codebook, m, n_rows=n)
    (
        codes.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .format("parquet")
        .saveAsTable(_codes_table(table))
    )
    (
        # plain, unbucketed (round 8, same reasoning as ann_index's
        # ids sidecar): every consumer is a broadcast-shaped anti-join
        # that never reads a bucket spec, while bucketBy forced every
        # poll-cycle append to cut one file per present bucket —
        # membership-scan cost then grew linearly with poll count
        rows.select("vec_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(_ids_table(table))
    )
    # certify the ADC error bound for rerank-free probes: the max
    # unit-sphere quantization residual, by default over EVERY indexed
    # vector — |cos(q,x) − cos(q,x̂)| ≤ this for ANY query q
    # (Cauchy-Schwarz), so a caller thresholding the quantized cosine
    # at (θ − adc_margin) cannot miss a θ-neighbor that ADC scored
    # (the ingest gate's ``precision="adc"`` mode). The full pass
    # reuses the just-persisted codes (no re-encode); an explicit
    # ``margin_rows`` downgrades to a deterministic hash-sample whose
    # bound is statistical (see docstring).
    if margin_rows is None:
        margin = _unit_residual_max(
            spark.table(table), codebook, m,
            codes=spark.table(_codes_table(table)), n_rows=n,
        )
    else:
        ratio = max(1, -(n // -margin_rows))
        sample = rows.filter(F.pmod(F.hash("vec_id"), F.lit(ratio)) == 0)
        margin = _unit_residual_max(sample, codebook, m,
                                    n_rows=min(n, margin_rows))
    # base_distinct: a fresh build writes exactly one row per vec_id to
    # the cell-partitioned base, extends go to the tail sidecars, and
    # the round-9 fold anti-joins before appending — so the base STAYS
    # duplicate-free for the index's lifetime and probes can skip their
    # replay-duplicate guards whenever no tail exists.
    _meta_frame(spark, m, k, n_buckets, margin, margin_rows is None) \
        .write.mode("overwrite").format("parquet") \
        .saveAsTable(_meta_table(table))
    _refresh(spark, table)


def attach_ivfpq_index(spark: SparkSession, table: str) -> None:
    """Re-register a persisted index's five tables in a fresh session's
    catalog (``maintenance.attach_table``): the local in-memory catalog
    forgets ``saveAsTable`` registrations across sessions, so a probe/
    extend server that restarts — or the decade-4 measurement probing
    an index a previous session built — needs this before
    ``ivfpq_probe`` / ``extend_ivfpq_index``. Every table attaches
    plain; the cell-partitioned codes/float tables recover their
    partitions (pruning intact). The attached index is then opened
    (``_probe_state``), so one of an earlier layout is refused here.
    Idempotent; no-op per table already in the catalog."""
    from trignis_spark.maintenance import attach_table

    _drop_state(spark, table)
    try:
        attach_table(spark, _meta_table(table))
    except FileNotFoundError:
        # a crashed meta rewrite may have left only the staged sidecar
        if not _recover_meta(spark, table):
            raise
    for name in (_codebook_table(table), _ids_table(table), table,
                 _codes_table(table)):
        attach_table(spark, name)
    for name in (_tail_table(table), _tail_codes_table(table)):
        try:
            attach_table(spark, name)
        except FileNotFoundError:
            pass  # no un-folded tail — nothing extended since compact
    _probe_state(spark, table)


def extend_ivfpq_index(
    spark: SparkSession, embeddings: DataFrame, table: str,
    assume_fresh: bool = False,
) -> int:
    """Append vectors not already present, encoded through the *frozen*
    persisted codebook (idempotent under replay); returns the number
    actually added. ``assume_fresh=True`` skips the internal ids
    anti-join for callers that just ran the identical one (the
    embedding ingest gate — see ``extend_ann_index``)."""
    st = _probe_state(spark, table)
    known = spark.table(_ids_table(table))
    fresh_src = embeddings if assume_fresh \
        else batch_anti_join(embeddings, known, "vec_id")
    rows = _bucketed(fresh_src, st["n_buckets"]).localCheckpoint(
        eager=True
    )
    added = rows.count()
    if added == 0:
        return 0
    codebook = spark.table(_codebook_table(table))
    # encode off the checkpointed bucketed rows (no corpus-parallelism
    # repartition — an extend batch is poll-cycle-sized), and
    # checkpoint the encoded batch: the consumers below (margin check,
    # tail append) would otherwise EACH re-run the Arrow encode — and
    # the tail's coalesce(1) would re-run it on a single task (measured
    # 8 s of the extend at 2 M × 768 for a 600-row batch vs 0.5 s
    # writing materialized rows)
    codes = _wide_codes(rows, codebook, st["m"]).localCheckpoint(
        eager=True
    )
    # the build certified adc_margin on ITS corpus; a batch from a
    # drifted distribution can quantize worse, silently widening the
    # true ADC error past the stored bound — check the batch
    # (batch-sized reconstruction, free next to the appends) and WIDEN
    # the stored margin to cover it (ADVICE r8: a warning alone left
    # adc-gated callers using the stale narrower bound — silent
    # correctness degradation in the exact mode the margin protects).
    # The gate re-reads the margin per cycle via ``stored_adc_margin``
    # and tightens its threshold to match.
    cert = st["adc_margin"]
    got = _unit_residual_max(rows, codebook, st["m"], codes=codes,
                             n_rows=added)
    if got > cert:
        import warnings

        # a full measurement of the batch over a certified corpus
        # bound keeps the widened bound certified
        _rewrite_meta(spark, table, st["m"], st["k"], st["n_buckets"],
                      got, st["margin_certified"])
        st = _probe_state(spark, table)
        warnings.warn(
            f"extend_ivfpq_index({table}): batch residual "
            f"{got:.4f} exceeds the certified adc_margin "
            f"{cert:.4f} — stored margin widened to {got:.4f} "
            "so ADC-gated callers (precision='adc') stay "
            "sound; their effective thresholds tighten "
            "accordingly (rebuild with finer PQ to restore "
            "the old bound)"
        )
    # append to the write-optimized TAIL sidecars — ONE plain file and
    # ONE commit per table per poll cycle. A direct append to the
    # cell-partitioned tables is metadata-bound, not data-bound: a
    # 600-row batch scatters over ~515 cells and each partitionBy
    # append costs ~5.5 s of per-partition-dir commit work against
    # 0.3 s for a plain file (measured at the 2 M × 768 index, round 8)
    # — ~11 s/cycle of pure commit tax a 30 s poll loop pays forever.
    # Probes read base ∪ tail (the tail is cycle-sized);
    # compact_ivfpq_index folds the tail into the partitioned layout
    # on the maintenance cadence, amortizing the metadata cost over
    # many cycles — the LSM shape: write-optimized tail, read-optimized
    # base. The ids sidecar is plain too: one file per cycle.
    for df, name in ((rows, _tail_table(table)),
                     (codes, _tail_codes_table(table)),
                     (rows.select("vec_id"), _ids_table(table))):
        df.coalesce(1).write.mode("append").format("parquet") \
            .saveAsTable(name)
    st["has_tail"] = True  # probes must union the tail from now on
    # refresh ONLY what this extend touched: the cell-partitioned base
    # tables did not change, and invalidating them would evict a
    # `cache_index`-pinned serving cache (the ingest gate) and void the
    # probing session's file listings for nothing — the point of the
    # tail is that the base stays immutable between compactions
    for t in (_tail_table(table), _tail_codes_table(table),
              _ids_table(table)):
        spark.catalog.refreshTable(t)
    return added


#: id-count ceiling for the banded gather's pushed In legs — the same
#: economics as ``dedup_index.VERIFY_IN_MAX``: past it the per-leg
#: row-group stat evaluation and the union-plan construction outgrow
#: the pruning, and the broadcast-join over the full scan is the right
#: cost model. A poll-batch shortlist bands to ~k ids per query and
#: stays far under this.
BAND_IN_MAX = 16_384


def _band_floats(spark: SparkSession, table: str, short: DataFrame,
                 k: int, margin: float, has_tail: bool):
    """Margin-banded float gather for the exact re-rank (round 12,
    VERDICT r11 #4; guide §6 predicate pushdown + §2.3 scan fewer
    bytes). ``short`` is the ADC shortlist carrying (query_id,
    neighbor_id, nbucket, adot, qn2, xq2). One bounded limit-collect
    materializes it; per query, rows whose certified upper bound
    ``adc_cos + margin`` falls below the k-th largest lower bound
    cannot reach the exact top-k (see the dispatch comment in
    ``ivfpq_probe`` for the proof) and are dropped BEFORE any float
    I/O; the survivors' ids are pushed into the vec_id-sorted float
    base as chunked In legs (``dedup_index._in_scan`` — the measured
    leg discipline) under a literal cell filter, so the gather reads
    O(gathered rows), not the corpus. Returns the (query_id,
    neighbor_id, xv, xn2) frame the exact scorers consume, or ``None``
    when the shortlist outgrows the collect bound or the id list
    outgrows ``BAND_IN_MAX`` — the broadcast-join path is the right
    cost model there."""
    import math

    from pyspark.sql.types import IntegralType, StructType

    src = spark.table(table)
    if not isinstance(src.schema["vec_id"].dataType, IntegralType):
        return None  # _in_scan's legs are integer-literal predicates
    rows = short.limit(RERANK_COLLECT_ROWS + 1).collect()
    if len(rows) > RERANK_COLLECT_ROWS:
        return None
    if not rows:
        qt = short.schema["query_id"].dataType.simpleString()
        nt = short.schema["neighbor_id"].dataType.simpleString()
        vt = src.schema["v"].dataType.simpleString()
        return spark.createDataFrame(
            [], f"query_id {qt}, neighbor_id {nt}, xv {vt}, xn2 double"
        )
    # outward-safe margin: BAND_SAFETY covers plan-computed-double vs
    # math-level cosine drift on BOTH sides of the comparison
    m_safe = margin + BAND_SAFETY + abs(margin) * 1e-12
    byq: dict = {}
    for r in rows:
        byq.setdefault(r["query_id"], []).append(r)
    kept = []
    for rs in byq.values():
        bounds = []
        for r in rs:
            try:
                qcos = r["adot"] / math.sqrt(r["qn2"] * r["xq2"])
            except (TypeError, ValueError, ZeroDivisionError):
                qcos = float("nan")
            if math.isfinite(qcos):
                bounds.append((qcos - m_safe, qcos + m_safe, r))
            else:
                # a row the bound cannot place is kept unconditionally
                # and never raises the cut
                bounds.append((float("-inf"), float("inf"), r))
        if len(bounds) > k:
            los = sorted((b[0] for b in bounds), reverse=True)
            cut = los[k - 1]
            kept.extend(r for lo, hi, r in bounds if hi >= cut)
        else:  # ≤ k candidates — every one can be in the top-k
            kept.extend(r for _, _, r in bounds)
    ids = sorted({int(r["neighbor_id"]) for r in kept})
    if len(ids) > BAND_IN_MAX:
        return None
    id2b: dict = {}
    for r in kept:
        id2b.setdefault(int(r["neighbor_id"]), set()).add(r["nbucket"])
    short_lit = F.broadcast(
        spark.createDataFrame(
            [(r["query_id"], r["neighbor_id"], r["nbucket"])
             for r in kept],
            StructType([short.schema[n]
                        for n in ("query_id", "neighbor_id",
                                  "nbucket")]),
        )
    )
    from functools import reduce

    from trignis_spark.operators.dedup_index import (
        IN_PUSHDOWN_LEG,
        _in_pred,
        _in_pushdown_conf,
    )

    _in_pushdown_conf(spark)

    def g(flosrc: DataFrame) -> DataFrame:
        # ≤512-value In legs (dedup_index's measured leg discipline —
        # past the parquet In threshold the pushed filter collapses to
        # a useless [min,max] range, under it the OR tree overflows
        # past ~2 k values), each under ITS OWN ids' literal cell
        # filter: a leg only lists/stats the ≤512 cell files its ids
        # live in, not every kept row's — the leg × file footer/task
        # product is the gather's fixed overhead once row groups prune
        legs = []
        for i in range(0, len(ids), IN_PUSHDOWN_LEG):
            chunk = ids[i:i + IN_PUSHDOWN_LEG]
            bks = sorted({b for v in chunk for b in id2b[v]})
            legs.append(
                flosrc.filter(F.col("bucket").isin(bks))
                .filter(_in_pred("vec_id", chunk))
            )
        scan = reduce(DataFrame.unionByName, legs)
        return (
            scan.join(
                short_lit,
                (scan["vec_id"] == short_lit["neighbor_id"])
                & (scan["bucket"] == short_lit["nbucket"]),
            )
            .select(
                "query_id",
                "neighbor_id",
                F.col("v").alias("xv"),
                F.col("n2").alias("xn2"),
            )
        )

    flo = g(src)
    if has_tail:
        # the tail sidecar is cycle-sized and unsorted — the same legs
        # are correct there and the scan is small either way
        flo = flo.unionByName(g(spark.table(_tail_table(table))))
    return flo


def ivfpq_probe(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    shortlist: int = 30,
    include_score: bool = False,
    rerank: bool = True,
    adc_impl: str = "auto",
    rerank_impl: str = "auto",
) -> DataFrame:
    """Probe-only IVF-PQ search: (query_id, neighbor_id, rank) — no
    training, no corpus encode; every corpus-side input is a persisted
    cell-partitioned table whose scan is dynamically pruned to the
    probed cells.

    1. Coarse: each query probes its sign-pattern cell plus
       ``nprobe - 1`` Hamming-1 neighbor cells (broadcast fan-out).
    2. ADC: one partition-pruned scan of ``<name>_codes`` yields
       candidates *and* their codes; the per-query LUT (m·k partial
       dots against the persisted codebook) is broadcast, and the m
       partials sum in fixed-point decimal — order-independent,
       oracle-replayable.
    3. Re-rank: the ``shortlist`` survivors (each carrying its cell)
       join the float index for exact cosine and the final top ``k`` —
       again partition-pruned to the shortlist cells.

    ``rerank=False`` skips stage 3 entirely — the probe never touches
    the float table, and its ``cos`` is the *quantized* cosine
    ``cos(q, x̂)`` (the ADC dot normalized by the reconstruction's norm,
    which comes from the same broadcast codebook — still zero
    corpus-float reads). Rationale: stage 3's scan prunes to the
    shortlist's cells, and once a query batch is more than a few
    hundred rows those cells ARE the table — the 2 M × 768 ingest-gate
    cycle measured the re-rank at ~50–95 s of corpus-float scan per
    poll while the codes scan is ~50 MB (BASELINE.md round 8). The
    error is bounded: |cos(q,x) − cos(q,x̂)| ≤ ‖x/|x| − x̂/|x̂|‖ by
    Cauchy-Schwarz, and the build measures that unit-sphere residual's
    max over a training-distribution sample into ``meta.adc_margin``
    (extends re-check their batches and warn if the stored bound is
    exceeded — see ``extend_ivfpq_index``). Callers thresholding on
    ``cos`` subtract the margin (the embedding ingest gate's
    ``precision="adc"`` mode): every true neighbor with
    cos ≥ θ in a probed cell then still surfaces.

    ``queries`` needs (vec_id, embedding); query vectors need not be in
    the index (self-matches are excluded when they are). Serving state
    (meta row, layout, code density, tail existence) comes from the
    per-table cache (``_probe_state``) — round 8 re-derived it with
    ~0.25 s of driver actions on every probe. The replay-duplicate
    guards (``dropDuplicates`` below) run only when duplicates are
    actually possible — when an un-folded tail exists (replayed extends
    append whole duplicate rows there); the base is duplicate-free by
    construction (``build_ivfpq_index``/``fold_ivfpq_tail``), so a
    fresh or freshly folded index probes guard-free, two shuffles
    lighter.

    ``adc_impl`` selects the candidate-scoring engine on the wide
    layout: ``"expr"`` is the decimal expression fold (every pinned
    oracle's path at fixture scale), ``"arrow"`` the int64 fixed-point
    twin (round 10, VERDICT r9 #1) — the per-query LUT is quantized
    ONCE to 1e-12 units with Spark's exact double→DECIMAL HALF_UP
    semantics (``_dec12_quantize``), candidates carry only (query_id,
    vec_id, codes) into an Arrow ``mapInPandas`` gather-and-sum (int64
    addition is the same exact fixed-point arithmetic as DECIMAL
    addition), and the sum converts to DOUBLE with the decimal cast's
    exact semantics (``_int12_to_double``) — the two engines are
    BIT-IDENTICAL (locked by tests/test_ivfpq_index.py), so ``"auto"``
    dispatches on estimated fold work alone (``ADC_ARROW_MIN_WORK``),
    the same economics-only dispatch as the encode twin. The Arrow
    path also splits the broadcast query side into hash chunks past
    ``ADC_CHUNK_WORK`` so a skewed mega-cell's candidates spread over
    parallel scan tasks instead of serializing through one
    (VERDICT r9 #3).

    ``rerank_impl`` selects stage 3's exact-dot engine the same way
    (round 11, VERDICT r10 #6): ``"expr"`` is the interpreted
    ``aggregate`` left-fold (every pinned oracle's path), ``"arrow"``
    a vectorized twin — the batch's (qv, qn2) travel as a Python
    broadcast (``RERANK_COLLECT_ROWS``-capped) and each shortlist
    row's dot computes as an elementwise product followed by
    ``np.cumsum``, whose prefix outputs force the SAME sequential
    left-to-right IEEE addition order as the SQL fold, so the doubles
    are BIT-IDENTICAL (locked by tests/test_ivfpq_index.py; IEEE
    multiply/sqrt/divide are deterministic on both sides). ``"auto"``
    rides the ADC dispatch decision — the two stages' work scale with
    the same nq × width product, and fixture corpora stay under
    ``ADC_ARROW_MIN_WORK`` so the oracles replay the expression fold.
    At 768 dims the interpreted fold is ~dims ops per shortlist row;
    the float-table SCAN (dims doubles per probed-cell row) is
    untouched by this dispatch and remains the exact gate's floor —
    see BASELINE.md's width-regime recommendation."""
    st = _probe_state(spark, table)
    m, n_buckets = st["m"], st["n_buckets"]
    has_tail = st["has_tail"]
    # margin-band deferred float gather (round 12, VERDICT r11 #4):
    # when the index certifies a *useful* ADC error bound and its float
    # base is vec_id-sorted within cells, the re-rank collects the
    # (bounded) shortlist, prunes it to the rows whose certified cosine
    # interval [adc_cos ± margin] can still reach the per-query exact
    # top-k, and gathers ONLY those rows' floats via pushed In legs —
    # the float base stops being scanned per probe (it was the exact
    # gate's floor: ~12 GB/poll at 2 M × 768, vs ~k rows per query
    # actually needed). Results are identical by construction: ≥ k
    # shortlist rows carry a lower bound ≥ L (the k-th largest lower
    # bound), every excluded row's exact cosine is ≤ its upper bound
    # < L, so the exact top-k — ties broken on neighbor_id among rows
    # whose cosines are computed, which includes every possible member
    # — cannot contain an excluded row. Margins are widened outward by
    # BAND_SAFETY (see the constant) so plan-computed doubles cannot
    # leak across the bound; non-finite bounds keep their rows.
    band = rerank and band_armed(st)
    # the banded shortlist needs per-candidate reconstruction norms
    # (and qn2) to place the interval; rerank-free probes need the same
    # columns for their quantized cosine — one flag drives both
    carry = (not rerank) or band
    base = _prep(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
        F.expr(bucket_expr("v", n_buckets)).alias("home"),
    )
    flips = [F.col("home")] + [
        F.col("home").bitwiseXOR(F.lit(1 << i))
        for i in range(max(0, nprobe - 1))
    ]
    qb = base.withColumn("qbucket", F.explode(F.array(*flips))).select(
        "query_id", "qbucket", *(["qn2"] if carry else [])
    )
    if st["splits"]:
        # probed cells widen to their stored sub-cells (see
        # CELL_SPLIT_FACTOR): the candidate union over a cell's subs
        # IS the unsplit cell's candidate set, so everything
        # downstream — ADC scores, ranking, oracles — is unchanged;
        # only scan parallelism improves
        exp = spark.createDataFrame(
            [
                (b, b + s * CELL_SPLIT_OFFSET)
                for b, ns in st["splits"].items()
                for s in range(ns)
            ],
            f"qbucket {qb.schema['qbucket'].dataType.simpleString()}, "
            f"_sb {qb.schema['qbucket'].dataType.simpleString()}",
        )
        qb = (
            qb.join(F.broadcast(exp), "qbucket", "left")
            .withColumn("qbucket", F.coalesce("_sb", F.col("qbucket")))
            .drop("_sb")
        )
    codebook = spark.table(_codebook_table(table))
    lut = (
        split_subvectors(queries, m)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(codebook), "sub")
        .select(
            "query_id",
            "sub",
            F.col("cid").alias("code"),
            F.expr(_SUBDOT.format(a="subv", b="cvec")).alias("pdot"),
        )
    )
    codes = spark.table(_codes_table(table))
    # wide layout: one (vec_id, codes ARRAY<INT>, bucket) row per
    # vector. The per-query LUT flattens to one (sub, code)-ordered
    # array riding the broadcast cell fan-out, and the ADC sum
    # computes INSIDE the candidate projection — no per-(query, vec,
    # sub) join fan, no m-row groupBy: a narrow layout shuffled ~195 M
    # rows twice at the 20 M-vector decade-4 probe. The decimal
    # left-fold equals a SUM(DECIMAL) over the (sub, code) partials
    # exactly (decimal addition is exact), so the oracle replays it
    # bit-for-bit.
    #
    # The flattened-LUT stride is the number of codes PER SUBSPACE
    # in the codebook the index actually has — not meta's requested
    # ``k`` (ADVICE r7): a corpus smaller than k trains a short
    # codebook (``init_codebook`` seeds min(N, k) centroids), and
    # indexing ``lut[s*k + cd]`` with the requested k against a
    # short LUT silently misreads other subspaces' partials. Derive
    # it from the codebook (a one-row agg over an m·k-row table)
    # and assert the density the stride arithmetic assumes: every
    # sub carries the same count of dense codes 0..kk-1. Cached
    # per table — the codebook is frozen after build, so the
    # validated density never changes.
    kk = st["kk"]
    if kk is None:
        d = (
            codebook.groupBy("sub")
            .agg(
                F.countDistinct("cid").alias("n"),
                (F.max("cid") + F.lit(1)).alias("span"),
            )
            .agg(
                F.min("n").alias("lo"),
                F.max("n").alias("hi"),
                F.max("span").alias("span"),
            )
            .first()
        )
        if d["lo"] != d["hi"] or d["hi"] != d["span"]:
            raise ValueError(
                f"ivfpq_probe: codebook of {table} is not dense — "
                f"per-sub code counts span [{d['lo']}, {d['hi']}] "
                f"with max code {d['span'] - 1}; the wide-layout "
                "ADC stride requires a uniform dense codebook"
            )
        st["kk"] = kk = int(d["hi"])
    lut_flat = lut.groupBy("query_id").agg(
        F.expr(
            "transform(array_sort(collect_list("
            "struct(sub, code, pdot))), t -> t.pdot)"
        ).alias("lut")
    )
    # query-independent reconstruction-norm LUT (same flat
    # (sub, code) order as ``lut``): |x̂|² = Σ_s |cvec_{s,c_s}|²
    # — the denominator of the quantized cosine comes from the
    # broadcast codebook, never the float table
    nlut_flat = None
    if carry:
        nlut_flat = (
            codebook.select(
                "sub", "cid",
                F.expr(
                    "aggregate(cvec, CAST(0.0 AS DOUBLE), "
                    "(acc, x) -> acc + x * x)"
                ).alias("nrm"),
            )
            .agg(
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(sub, cid, nrm))), t -> t.nrm)"
                ).alias("nlut")
            )
        )
    # --- scoring-engine dispatch (see docstring): bit-identical
    # paths, chosen on estimated fold elements = candidates × m
    use_arrow = adc_impl == "arrow"
    per_q = nq_cap = None
    # LUT driver-collect budget, in query rows (see
    # ADC_LUT_BROADCAST_BYTES): past this the Arrow path would
    # OOM the driver — fall back to the expression fold's Spark
    # broadcast, which fails loudly at its own limit
    budget_rows = ADC_LUT_BROADCAST_BYTES // (m * kk * 8)
    if adc_impl != "expr":
        n_codes = st.get("n_codes")
        if n_codes is None:
            st["n_codes"] = n_codes = spark.table(
                _codes_table(table)
            ).count()
        per_q = max(
            1, n_codes * max(1, nprobe) // max(1, n_buckets)
        ) * m
        if adc_impl == "auto":
            if per_q >= ADC_ARROW_MIN_WORK:
                use_arrow = True
            elif per_q * _ADC_ASSUMED_MAX_BATCH >= ADC_ARROW_MIN_WORK:
                # LocalLimit-bounded row probe, never a full
                # count: this sits on the poll hot path and a
                # count() re-executes the caller's whole query
                # plan once per probe (ADVICE r10 — the same
                # fixed per-cycle overhead class VERDICT r8 #1
                # removed). Capping at max(arrow_rows,
                # budget_rows)+1 answers BOTH thresholds exactly:
                # nq ≥ arrow_rows and nq > budget_rows are each
                # decidable from the capped value.
                arrow_rows = -(-ADC_ARROW_MIN_WORK // per_q)
                nq_cap = queries.limit(
                    max(arrow_rows, budget_rows) + 1
                ).count()
                use_arrow = nq_cap >= arrow_rows
    if use_arrow:
        if nq_cap is None:
            nq_cap = queries.limit(budget_rows + 1).count()
        if nq_cap > budget_rows:
            use_arrow = False
    qmap = nl_arr = lut_rows = None
    if use_arrow:
        import numpy as np

        lut_rows = lut_flat.collect()
        try:
            qmap, maxabs = {}, 0
            for r in lut_rows:
                arr = _dec12_quantize(r["lut"])
                qmap[r["query_id"]] = arr
                if arr.size:
                    maxabs = max(maxabs, int(np.abs(arr).max()))
            if carry:
                nl_arr = _dec12_quantize(nlut_flat.first()["nlut"])
                if nl_arr.size:
                    maxabs = max(maxabs, int(np.abs(nl_arr).max()))
            # int64 headroom: the decimal expressions hold sums to
            # 1e20, int64 to 9.2e18 fixed-point units — unreachable
            # for cosine-scale partials, but fall back loudly-
            # correctly rather than overflow silently
            if maxabs * max(1, m) >= (1 << 62):
                use_arrow = False
        except ValueError:  # non-finite LUT — decimal nulls apply
            use_arrow = False
    if use_arrow:
        from functools import reduce

        from pyspark.sql.types import (
            DoubleType,
            StructField,
            StructType,
        )

        # query-side hash chunks spread a skewed mega-cell's
        # candidates over parallel scan legs (VERDICT r9 #3); the
        # probed cell files re-scan per leg (~1 MB each — free)
        # and the candidate UNION is identical, so downstream
        # dedup/ranking (keyed on query_id) is unaffected
        est = per_q * max(1, len(lut_rows))
        chunks = min(ADC_MAX_CHUNKS, max(1, -(-est // ADC_CHUNK_WORK)))

        def _cand_q(src: DataFrame, qleg: DataFrame) -> DataFrame:
            # broadcast cell join on the *partition* column →
            # dynamic partition pruning at the base scan
            return (
                src.join(F.broadcast(qleg),
                         src["bucket"] == qleg["qbucket"])
                .filter(F.col("vec_id") != F.col("query_id"))
            )

        tail_src = (
            spark.table(_tail_codes_table(table)) if has_tail
            else None
        )
        legs = []
        for c in range(chunks):
            qleg = qb if chunks == 1 else qb.filter(
                F.pmod(F.hash("query_id"), F.lit(chunks)) == c
            )
            legs.append(_cand_q(codes, qleg))
            if tail_src is not None:
                legs.append(_cand_q(tail_src, qleg))
        cand = reduce(DataFrame.unionByName, legs)
        # candidates stay scalar-width — no LUT rides the rows;
        # the quantized LUTs travel once per executor as a Python
        # broadcast instead of once per candidate row
        cand = cand.select(
            "query_id", "vec_id", "codes", "bucket",
            *(["qn2"] if carry else []),
        )
        bq = spark.sparkContext.broadcast(qmap)
        bn = (
            spark.sparkContext.broadcast(nl_arr)
            if nl_arr is not None else None
        )
        out_fields = [
            StructField("query_id",
                        cand.schema["query_id"].dataType),
            StructField("neighbor_id",
                        cand.schema["vec_id"].dataType),
            StructField("adot", DoubleType()),
            StructField("nbucket", cand.schema["bucket"].dataType),
        ]
        if carry:
            out_fields += [
                StructField("qn2", DoubleType()),
                StructField("xq2", DoubleType()),
            ]
        mm, kk_ = m, kk

        def gen(batches):
            import numpy as np
            import pandas as pd

            lm = bq.value
            nl = bn.value if bn is not None else None
            step = np.arange(mm, dtype=np.int64) * kk_
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                cm = np.stack(pdf["codes"].to_numpy()).astype(
                    np.int64, copy=False
                )
                offs = cm + step
                qidx, uniq = pd.factorize(pdf["query_id"])
                L = np.stack([lm[q] for q in uniq])
                # (n, m) gather + exact int64 fixed-point sum = the
                # DECIMAL fold's arithmetic, vectorized
                sums = L[qidx[:, None], offs].sum(axis=1)
                out = pd.DataFrame({
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["vec_id"].to_numpy(),
                    "adot": _int12_to_double(sums),
                    "nbucket": pdf["bucket"].to_numpy(),
                })
                if nl is not None:
                    out["qn2"] = pdf["qn2"].to_numpy()
                    out["xq2"] = _int12_to_double(
                        nl[offs].sum(axis=1)
                    )
                yield out

        # reclaim the Python broadcasts deterministically (ADVICE
        # r10): on a 30 s poll cadence a per-probe qmap broadcast
        # otherwise lingers on the driver and executors until
        # Python GC + ContextCleaner happen to run. ``gen`` is the
        # only holder the result plan keeps alive, so finalizing on
        # ITS collection unpersists exactly when no live DataFrame
        # can re-execute the probe — never sooner (a caller
        # re-running the returned frame still owns gen via the UDF).
        import weakref

        def _reclaim(*bs):
            for b in bs:
                try:
                    b.unpersist()
                except Exception:  # session already stopped
                    pass

        weakref.finalize(
            gen, _reclaim, *([bq] if bn is None else [bq, bn])
        )
        adc = cand.mapInPandas(gen, StructType(out_fields))
    else:
        qbl = qb.join(lut_flat, "query_id")
        if carry:
            qbl = qbl.crossJoin(F.broadcast(nlut_flat))
        # the merge must return the accumulator's exact type, and
        # the sum type must never hit the precision-38 cap (Spark
        # then REDUCES SCALE, rounding the 12th decimal away). A
        # (32,12) accumulator + (30,12) addend adds exactly at
        # (33,12); the cast back to (32,12) is lossless at these
        # magnitudes — fixed-point addition is exact, so this
        # equals the oracle's SUM(DECIMAL) bit-for-bit.
        adot = (
            f"CAST(aggregate(zip_with(codes, sequence(0, {m - 1}), "
            f"(cd, s) -> element_at(lut, s * {kk} + cd + 1)), "
            f"CAST(0 AS DECIMAL(32,12)), "
            f"(acc, p) -> CAST(acc + CAST(p AS {_ACC}) "
            "AS DECIMAL(32,12))) AS DOUBLE)"
        )
        # decimal accumulation like ``adot``: order-independent, so
        # the DuckDB oracle's SUM(DECIMAL) over the same per-(sub,
        # code) norms replays the reconstruction norm bit-for-bit
        # (``ann_ivfpq_probe_adc``)
        xq2 = (
            f"CAST(aggregate(zip_with(codes, sequence(0, {m - 1}), "
            f"(cd, s) -> element_at(nlut, s * {kk} + cd + 1)), "
            f"CAST(0 AS DECIMAL(32,12)), "
            f"(acc, p) -> CAST(acc + CAST(p AS {_ACC}) "
            "AS DECIMAL(32,12))) AS DOUBLE)"
        )

        def _cand(src: DataFrame) -> DataFrame:
            # broadcast cell join on the *partition* column →
            # dynamic partition pruning at the base scan (asserted
            # in tests/test_plans.py); the tail source is
            # cycle-sized and scans whole
            return (
                src.join(F.broadcast(qbl),
                         src["bucket"] == qbl["qbucket"])
                .filter(F.col("vec_id") != F.col("query_id"))
            )

        cand = _cand(codes)
        if has_tail:
            # per-source join then union (not union-then-join):
            # DPP is planned per scan, and a union under the join
            # could lose the base side's pruning
            cand = cand.unionByName(
                _cand(spark.table(_tail_codes_table(table)))
            )
        adc = (
            cand
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.expr(adot).alias("adot"),
                # a vector lives in exactly one cell; carrying it
                # lets the exact re-rank prune the float table's
                # partitions
                F.col("bucket").alias("nbucket"),
                *(
                    ["qn2", F.expr(xq2).alias("xq2")]
                    if carry
                    else []
                ),
            )
        )
    if has_tail:
        # replayed extend appends duplicate whole rows — within
        # the tail or across a compaction-crash fold window; a
        # vector must not surface at two shortlist ranks (same
        # guard as dedup_index — which row survives is immaterial:
        # duplicate rows carry identical codes, so they project to
        # identical ADC sums). Deduping AFTER the projection keeps
        # the guard shuffle at scalar width — before it every
        # candidate row still carried the broadcast per-query LUT
        # array (~m·kk doubles; +the norm LUT in rerank-free mode),
        # ~8 KB/row through the exchange, measured 15.5 s → the
        # projected form at the 100 k × 768 parity smoke. Skipped
        # entirely when no tail exists: the base is duplicate-free by
        # construction (see docstring).
        adc = adc.dropDuplicates(["query_id", "neighbor_id"])
    if not rerank:
        adc = adc.withColumn(
            "cos", F.col("adot") / F.sqrt(F.col("qn2") * F.col("xq2"))
        )
    if not rerank:
        wq = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )
        cols = ["query_id", "neighbor_id", "rank"]
        if include_score:
            # the score is the QUANTIZED cosine cos(q, x̂):
            # |cos − cos(q, x)| ≤ meta.adc_margin for vectors from the
            # certified distribution — threshold at (θ − margin)
            cols.append("cos")
        return (
            adc.withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= k)
            .select(*cols)
        )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("adot"), F.asc("neighbor_id")
    )
    ranked = adc.withColumn("_srn", F.row_number().over(ws)).filter(
        F.col("_srn") <= shortlist
    )
    flo = None
    if band:
        flo = _band_floats(
            spark, table,
            ranked.select("query_id", "neighbor_id", "nbucket",
                          "adot", "qn2", "xq2"),
            k, st["adc_margin"], has_tail,
        )
    if flo is None:
        # classic gather: broadcast the shortlist against the (cell-
        # pruned) float scan — the path of an index whose margin does
        # not arm the band, and of every banded fallback
        short = ranked.select("query_id", "neighbor_id", "nbucket")

        def _floats(src: DataFrame) -> DataFrame:
            return (
                src.join(
                    F.broadcast(short),
                    (src["vec_id"] == short["neighbor_id"])
                    & (src["bucket"] == short["nbucket"]),
                )
                .select(
                    "query_id",
                    "neighbor_id",
                    F.col("v").alias("xv"),
                    F.col("n2").alias("xn2"),
                )
            )

        flo = _floats(spark.table(table))
        if has_tail:
            # vectors accepted since the last compaction live in the
            # tail sidecar — the re-rank must see them (a near-dup of a
            # vector admitted one cycle ago must still gate as one)
            flo = flo.unionByName(
                _floats(spark.table(_tail_table(table)))
            )
    exact = None
    if rerank_impl == "arrow" or (rerank_impl == "auto" and use_arrow):
        # Arrow exact-dot twin (see docstring): bit-identical doubles
        # via cumsum's forced sequential addition order. Bounded
        # collect of the query batch; oversize falls through to the
        # expression fold, which fails loudly at broadcast limits.
        qrows = base.select("query_id", "qv", "qn2").limit(
            RERANK_COLLECT_ROWS + 1
        ).collect()
        payload = sum(len(r["qv"]) for r in qrows) * 8
        if (
            len(qrows) <= RERANK_COLLECT_ROWS
            and payload <= ADC_LUT_BROADCAST_BYTES
        ):
            import numpy as np
            from pyspark.sql.types import (
                DoubleType,
                StructField,
                StructType,
            )

            qv_map = {
                r["query_id"]: (
                    np.asarray(r["qv"], dtype=np.float64),
                    float(r["qn2"]),
                )
                for r in qrows
            }
            bqv = spark.sparkContext.broadcast(qv_map)
            rr_fields = StructType([
                StructField("query_id",
                            flo.schema["query_id"].dataType),
                StructField("neighbor_id",
                            flo.schema["neighbor_id"].dataType),
                StructField("cos", DoubleType()),
            ])

            def rgen(batches):
                import numpy as np
                import pandas as pd

                qm = bqv.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    qvs = np.stack(
                        [qm[q][0] for q in pdf["query_id"]]
                    )
                    qn2 = np.fromiter(
                        (qm[q][1] for q in pdf["query_id"]),
                        dtype=np.float64,
                        count=len(pdf),
                    )
                    xvs = np.stack(pdf["xv"].to_numpy()).astype(
                        np.float64, copy=False
                    )
                    xn2 = pdf["xn2"].to_numpy(dtype=np.float64)
                    # elementwise IEEE products, then the fold: every
                    # cumsum prefix is an output, so the accumulation
                    # is sequential by construction — the SQL
                    # aggregate's exact addition order
                    dots = np.cumsum(qvs * xvs, axis=1)[:, -1]
                    yield pd.DataFrame({
                        "query_id": pdf["query_id"].to_numpy(),
                        "neighbor_id": pdf["neighbor_id"].to_numpy(),
                        "cos": dots / np.sqrt(qn2 * xn2),
                    })

            # deterministic broadcast reclaim — same lifecycle as the
            # ADC twin's LUT broadcast above (ADVICE r10)
            import weakref as _weakref

            def _rr_reclaim(b):
                try:
                    b.unpersist()
                except Exception:  # session already stopped
                    pass

            _weakref.finalize(rgen, _rr_reclaim, bqv)
            exact = flo.mapInPandas(rgen, rr_fields)
    if exact is None:
        exact = (
            flo
            .join(
                F.broadcast(base.select("query_id", "qv", "qn2")),
                "query_id",
            )
            .select(
                "query_id",
                "neighbor_id",
                (
                    F.expr(DOT.format(a="qv", b="xv"))
                    / F.sqrt(F.col("qn2") * F.col("xn2"))
                ).alias("cos"),
            )
        )
    if has_tail:
        # same replay-duplicate guard for the float table: a duplicated
        # vector row would put the same neighbor at two consecutive
        # ranks (skipped with the candidate guard — same conditions)
        exact = exact.dropDuplicates(["query_id", "neighbor_id"])
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    cols = ["query_id", "neighbor_id", "rank"]
    if include_score:
        # the re-rank stage's cosine is EXACT (float-table dot), so a
        # caller thresholding on it — the embedding ingest gate — gets
        # the same decision semantics as the float-index probe, at ADC
        # candidate cost (reads m codes per candidate, not dims floats)
        cols.append("cos")
    return (
        exact.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def fold_ivfpq_tail(spark: SparkSession, table: str) -> int:
    """Fold the write-optimized tail sidecars into the cell-partitioned
    base and drop them — the cheap half of maintenance, separated from
    ``compact_ivfpq_index``'s full rewrite because their costs differ
    by orders of magnitude: the fold is one partitioned append of
    cycle-sized data (paying the per-partition-dir commit metadata
    once per maintenance run instead of every poll), while the rewrite
    copies the WHOLE table and needs ~2× its size in free disk (the
    50 M-vector leg's 19 GB rewrite died on a 35 GB-free box while its
    fold had already completed safely — BASELINE.md round 8). Fold on
    every maintenance cycle; rewrite on the rarer cadence file-count
    growth actually demands (each fold adds at most one file per
    touched cell). Returns rows folded (after dedup/anti-join).

    The fold keeps the base DUPLICATE-FREE (round 9 — the invariant
    that lets probes skip their replay guards when no tail exists,
    ``meta.base_distinct``): tail rows are deduped by ``vec_id``
    (replayed extends append whole identical rows) and anti-joined
    against the base's *tail-cell partitions only* (static partition
    pruning via the literal cell list — tail-cells-sized I/O, never a
    corpus scan) before appending. A crash between append and drop
    leaves rows in both base and tail — probes stay correct (the tail's
    presence keeps the replay guard on,
    ``test_probe_immune_to_replayed_extend_duplicates``), and the next
    fold's anti-join appends nothing twice and just drops the tail."""
    from trignis_spark.maintenance import drop_table_and_location

    _probe_state(spark, table)  # refuses an index of an earlier layout
    folded = 0
    touched = False
    for tail, target in ((_tail_table(table), table),
                         (_tail_codes_table(table), _codes_table(table))):
        if not spark.catalog.tableExists(tail):
            continue
        touched = True
        raw = spark.table(tail)
        cells = [r[0] for r in raw.select("bucket").distinct().collect()]
        # a split base cell stores the build's rows under sub-values;
        # the anti-join's pruned cell list must include them or a
        # crash-window duplicate hiding in a sub-cell would re-fold
        # and break the base's duplicate-free invariant
        cells = _expand_cells(cells, _stored_splits(spark, target))
        base_ids = (
            spark.table(target)
            .filter(F.col("bucket").isin(cells))
            .select("vec_id")
        )
        src = batch_anti_join(
            raw.dropDuplicates(["vec_id"]), base_ids, "vec_id"
        ).localCheckpoint(eager=True)  # consumed by count AND append
        n = src.count()
        folded += n
        if n:
            (
                src.repartition("bucket")
                .write.mode("append")
                .partitionBy("bucket")
                .format("parquet")
                .saveAsTable(target)
            )
        drop_table_and_location(spark, tail)
    if touched:
        _refresh(spark, table)  # also drops the cached serving state
    return folded


def compact_ivfpq_index(spark: SparkSession, table: str) -> int:
    """Same housekeeping as ``dedup_index.compact_prefix_index`` for
    the IVF-PQ tables: FOLD the write-optimized tail sidecars into the
    cell-partitioned base (paying the per-partition-dir append
    metadata cost ONCE per maintenance cycle instead of every poll —
    the LSM fold), then rewrite the two cell-partitioned tables (float
    index, codes) and the ids sidecar to ~one file per cell /
    right-sized files. The codebook and meta tables are one small file
    each and never grow — left untouched. Returns the post-compaction
    file count across the rewritten tables.

    The rewrite copies the whole table (needs ~2× its size free on
    disk); call ``fold_ivfpq_tail`` alone on the frequent maintenance
    cadence and reserve this for when per-cell file counts have
    actually grown (crash-window semantics documented there)."""
    from trignis_spark.maintenance import (
        compact_partitioned_table,
        compact_plain_table,
    )

    fold_ivfpq_tail(spark, table)
    # the float base re-sorts and keeps its bounded row groups through
    # the rewrite (folded tail files were the unsorted part —
    # compaction restores full prunability)
    n = compact_partitioned_table(
        spark, table, "bucket", sort_cols=["vec_id"],
        write_options={"parquet.block.size": str(FLOAT_BLOCK_BYTES)},
    )
    n += compact_partitioned_table(spark, _codes_table(table), "bucket")
    n += compact_plain_table(spark, _ids_table(table))
    _refresh(spark, table)
    return n
