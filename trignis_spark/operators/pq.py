"""Product quantization (PQ) for embedding columns — the compression
half of IVF-PQ, the standard memory/scale technique for billion-vector
ANN (Jégou et al., "Product Quantization for Nearest Neighbor Search").

The embedding space is split into ``m`` contiguous subspaces; each
subspace gets its own small k-means codebook, and a vector is stored as
``m`` one-byte codes instead of ``dim`` floats (here 64 floats → m
codes: a 32× compression at m=8/k≤256). Search uses asymmetric distance
computation (ADC): the query stays exact, a per-query lookup table of
``m × k`` partial dot products is built once, and scoring a database
vector is ``m`` table lookups — no float vector ever touched.

Scale shape: training is per-(subspace, cluster, component) partial
aggregation (cardinality m·k·dim/m = k·dim, corpus-independent);
encoding is a broadcast-codebook map-side argmin; ADC scoring joins the
(m·k)-row LUT — broadcast — against the codes table and partial-aggs
the per-(query, vector) sum. The corpus is never shuffled by any stage.

Determinism (oracle rules): first-k-by-vec_id init, fixed-point decimal
mean accumulation, argmin ties to the lowest cid, ADC sums accumulate
in decimal — every stage replays exactly in DuckDB SQL
(``queries_ext.emb_pq_codebook`` / ``ann_pq_topk``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark.sql import Row

from trignis_spark.operators.kmeans import (
    _ACC,
    _as_double_vec,
    _spread,
)

#: partial dot product of two equal-length double arrays
_SUBDOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)

#: per-subspace fold elements (k × sub_dims) above which PQ encoding
#: dispatches to the Arrow twin (round 8). Spark evaluates HOF lambdas
#: interpreted (never codegen'd) at ~0.1 µs/element, and the wide
#: encode's per-CANDIDATE ``slice(v, ...)`` is worse still — each
#: interpreted Slice builds a boxed Scala Vector, and at 2 M × 768
#: (m=8, k=16: 128 slices/row) two straggler encode tasks were killed
#: after 45 minutes where the numpy fold does the identical arithmetic
#: in seconds. The floor keeps every pinned oracle fixture (64-dim,
#: m=8, k=16 ⇒ 128 elements/subspace) on the expression path the
#: DuckDB replays were written against; both paths are locked
#: bit-identical by tests/test_pq.py::test_arrow_encode_matches_hof*.
VECTORIZED_ENCODE_MIN_SCORE = 1024


def _codebook_matrices(rows):
    """Collected (sub, cid, cvec) rows → {sub: (cids int32 ascending,
    C float64 k×sub_dims)}; ascending cid order makes ``argmin``'s
    first-minimum the lowest-cid tie-break — exactly
    ``_nearest_expr``'s array_min over (d2, cid) structs."""
    import numpy as np

    by_sub: dict = {}
    for r in rows:
        by_sub.setdefault(r["sub"], []).append((r["cid"], list(r["cvec"])))
    out = {}
    for s, pairs in by_sub.items():
        pairs.sort()
        out[s] = (
            np.asarray([c for c, _ in pairs], np.int32),
            np.asarray([v for _, v in pairs], np.float64),
        )
    return out


def _assign_codes_arrow(subvecs: DataFrame, cb_rows: list,
                        carry: tuple) -> DataFrame:
    """Arrow-vectorized twin of ``assign_codes``' projection: each
    batch's rows group by ``sub`` and score that subspace's codebook
    with ``kmeans._fold_sqdist`` — the exact ``_SQDIST`` expression
    tree (component-ascending (x−y)² accumulation, every step one
    correctly-rounded IEEE double op), so codes match the HOF path
    bit-for-bit. Same map-side, zero-shuffle projection shape."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    from trignis_spark.operators.kmeans import _fold_sqdist

    mats = _codebook_matrices(cb_rows)
    src = subvecs.select(
        "vec_id", "sub", *carry, *([] if "subv" in carry else ["subv"])
    )
    keep = ["vec_id", "sub", *carry]
    schema = StructType(
        [src.schema["vec_id"], src.schema["sub"],
         *(src.schema[c] for c in carry),
         StructField("cid", IntegerType(), True)]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            parts = []
            for s, g in pdf.groupby("sub", sort=False):
                cids, C = mats[int(s)]
                X = np.stack(g["subv"].to_numpy()).astype(
                    np.float64, copy=False
                )
                acc = np.empty((len(g), len(cids)))
                _fold_sqdist(X, C, acc)
                out = g[keep].copy()
                out["cid"] = cids[np.argmin(acc, axis=1)]
                parts.append(out)
            yield pd.concat(parts)

    return src.mapInPandas(gen, schema)


def split_v(vecs: DataFrame, m: int, carry: tuple = ()) -> DataFrame:
    """(vec_id, *carry, sub, subv) from already-prepped (vec_id, v)
    rows: contiguous equal slices of ``v``. ``carry`` keeps extra
    columns (e.g. a precomputed IVF ``bucket``) next to each subvector
    so downstream consumers never join back per-vector state onto the
    m×-larger subvector table."""
    subs = F.explode(
        F.expr(
            f"transform(sequence(0, {m - 1}), "
            f"s -> named_struct('sub', s, "
            f"'subv', slice(v, s * (size(v) div {m}) + 1, size(v) div {m})))"
        )
    ).alias("s")
    return vecs.select("vec_id", *carry, subs).select(
        "vec_id", *carry,
        F.col("s.sub").alias("sub"), F.col("s.subv").alias("subv"),
    )


def split_subvectors(embeddings: DataFrame, m: int,
                     emb_col: str = "embedding") -> DataFrame:
    """(vec_id, sub, subv): contiguous equal slices of the embedding.
    Requires dim % m == 0 (checked lazily by slice bounds)."""
    return split_v(_as_double_vec(embeddings, emb_col), m)


def init_codebook(embeddings: DataFrame, m: int, k: int,
                  emb_col: str = "embedding") -> DataFrame:
    """Seed: the k lowest-vec_id vectors' slices become centroids 0..k-1
    in every subspace (distributed TakeOrdered, no global window).
    Ordered on the full (vec_id, v) pair so duplicate ids cannot make
    the limit-boundary selection partitioning-dependent (see
    ``kmeans.init_centroids``)."""
    vecs = _as_double_vec(embeddings, emb_col)
    top = vecs.orderBy("vec_id", "v").limit(k)
    packed = top.agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("s")
    )
    seeds = packed.select(F.posexplode("s").alias("cid", "sv")).select(
        F.col("cid").cast("int").alias("cid"), F.col("sv.v").alias("v")
    )
    subs = F.explode(
        F.expr(
            f"transform(sequence(0, {m - 1}), "
            f"s -> named_struct('sub', s, "
            f"'cvec', slice(v, s * (size(v) div {m}) + 1, size(v) div {m})))"
        )
    ).alias("s")
    return seeds.select("cid", subs).select(
        F.col("s.sub").alias("sub"), "cid", F.col("s.cvec").alias("cvec")
    )


def assign_codes(subvecs: DataFrame, codebook: DataFrame | None,
                 carry: tuple = (),
                 rows: list | None = None) -> DataFrame:
    """(vec_id, sub, *carry, cid): nearest centroid per subspace
    (squared L2, ties to the lowest cid). The per-subspace codebook
    packs into a broadcast array and each (vector, sub) row scores it
    inside one projection expression — map-side, shuffle-free, no
    N·m·k row explosion (see ``kmeans._nearest_expr`` for why this
    beats both the window and the struct-keyed ``min_by`` forms;
    identical tie-break semantics, so codes and every oracle replay
    are bit-identical). ``carry`` keeps extra input columns (e.g.
    ``subv`` for the Lloyd update, ``bucket`` for the index build) on
    the row-preserving projection output so consumers never join back
    to the subvector table — at 20 M vectors (160 M subvector rows)
    that join-back shuffled both 160 M-row sides every Lloyd round and
    filled 67 GB of scratch disk before it died.

    Past ``VECTORIZED_ENCODE_MIN_SCORE`` fold elements per subspace the
    projection dispatches to the bit-identical Arrow twin. The size
    probe needs the codebook rows; callers that already hold them
    (driver-carried training, ``_codebook_df`` frames) pass/carry
    ``rows`` and skip the per-call collect job."""
    from trignis_spark.operators.kmeans import (
        LITERAL_CENTS_MAX, _cents_sql_by, _nearest_expr, _pack,
        carried_rows,
    )

    cb_rows = rows
    if cb_rows is None:
        cb_rows = carried_rows(codebook)
    if cb_rows is None:
        cb_rows = codebook.select("sub", "cid", "cvec").collect()
    if cb_rows:
        k_max = max(
            sum(1 for r in cb_rows if r["sub"] == s)
            for s in {r["sub"] for r in cb_rows}
        )
        if k_max * len(cb_rows[0]["cvec"]) >= VECTORIZED_ENCODE_MIN_SCORE:
            return _assign_codes_arrow(subvecs, cb_rows, carry)
    lit = (
        _cents_sql_by(cb_rows, "sub", "cid")
        if cb_rows
        and len(cb_rows) * len(cb_rows[0]["cvec"]) <= LITERAL_CENTS_MAX
        else None
    )
    if lit is not None:
        # carried rows under the cap ride in the expression itself —
        # no LocalRelation, no broadcast exchange (see
        # kmeans.LITERAL_CENTS_MAX); NULL _cents = a sub with no
        # centroids, dropped to match the join's inner semantics
        scored = subvecs.withColumn("_cents", F.expr(lit)).filter(
            F.col("_cents").isNotNull()
        )
    else:
        if codebook is None:
            codebook = _codebook_df(subvecs.sparkSession, cb_rows)
        packed = _pack(codebook, ["sub"], "cid")
        scored = subvecs.join(F.broadcast(packed), "sub")
    return scored.select(
        "vec_id",
        "sub",
        *carry,
        F.expr(_nearest_expr("cid", 1, vec_col="subv")).alias("cid"),
    )


def _codebook_df(spark, rows, checkpoint: bool = False) -> DataFrame:
    """Collected/driver-built (sub, cid, cvec) rows → a
    ``kmeans.CarriedFrame`` with the codebook schema (see
    ``kmeans._centroids_df`` — including the checkpoint-when-returned
    rationale)."""
    from trignis_spark.operators.kmeans import CarriedFrame

    df = spark.createDataFrame(
        [(int(r["sub"]), int(r["cid"]), list(r["cvec"])) for r in rows],
        "sub int, cid int, cvec array<double>",
    )
    if checkpoint:
        df = df.localCheckpoint(eager=True)
    return CarriedFrame(df, rows)


def _init_rows(embeddings: DataFrame, m: int, k: int,
               emb_col: str) -> list:
    """``init_codebook`` driver-carried: the k lowest-(vec_id, v)
    vectors' m contiguous slices become centroids 0..k-1 per subspace.
    One distributed TakeOrdered job; the slicing is positional (no
    arithmetic), identical to the SQL ``slice`` form."""
    vecs = _as_double_vec(embeddings, emb_col)
    top = vecs.orderBy("vec_id", "v").limit(k).collect()
    rows = []
    for s in range(m):
        for cid, r in enumerate(top):
            v = list(r["v"])
            w = len(v) // m
            rows.append(Row(sub=s, cid=cid, cvec=v[s * w:(s + 1) * w]))
    return rows


def _update_rows(subvecs: DataFrame, rows: list) -> list:
    """One grouped Lloyd round across all subspaces at once,
    driver-carried (round 11 — see ``kmeans._update_rows``: the
    round's only action is the means collect; the eager checkpoint +
    next-round codebook re-collect pair it replaces cost two extra
    jobs per round). The assignment carries ``subv`` through its
    projection instead of joining back to ``subvecs``, the means are
    the module's proven exploded decimal aggregation (cardinality
    m·k·(dim/m), corpus-independent), and the m·k-row result merges
    with the previous codebook on the driver — codebooks are
    bit-identical to the checkpointed form."""
    if not rows:
        return rows
    assigned = assign_codes(subvecs, None, carry=("subv",), rows=rows)
    comp = assigned.select("sub", "cid",
                           F.posexplode("subv").alias("pos", "x"))
    means = (
        comp.groupBy("sub", "cid", "pos")
        .agg(
            (
                F.sum(F.col("x").cast(_ACC)).cast("double")
                / F.count(F.lit(1))
            ).alias("mval")
        )
        .groupBy("sub", "cid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, mval))), "
                "s -> s.mval)"
            ).alias("cvec")
        )
    )
    got = {
        (int(r["sub"]), int(r["cid"])): list(r["cvec"])
        for r in means.collect()
    }
    return [
        Row(sub=int(r["sub"]), cid=int(r["cid"]),
            cvec=got.get((int(r["sub"]), int(r["cid"])),
                         list(r["cvec"])))
        for r in rows
    ]


def train_pq(embeddings: DataFrame, m: int = 8, k: int = 16,
             iters: int = 2, emb_col: str = "embedding") -> DataFrame:
    """Train the m per-subspace codebooks jointly (one grouped plan per
    Lloyd round — the m k-means problems share every shuffle). Returns
    (sub INT, cid INT, cvec ARRAY<DOUBLE>) as a local-relation frame
    (the codebook is m·k×(dim/m) — driver-carried through training,
    see ``_update_rows``)."""
    # spread before the one-time checkpoint: scoring is a projection,
    # so every Lloyd round's parallelism is whatever this partitioning
    # provides (see kmeans._spread)
    subvecs = _spread(split_subvectors(embeddings, m, emb_col)).localCheckpoint(
        eager=True
    )
    rows = _init_rows(embeddings, m, k, emb_col)
    for _ in range(iters):
        rows = _update_rows(subvecs, rows)
    return _codebook_df(embeddings.sparkSession, rows, checkpoint=True)


def encode_pq(embeddings: DataFrame, codebook: DataFrame, m: int,
              emb_col: str = "embedding", spread: bool = True) -> DataFrame:
    """(vec_id, sub, code): the PQ code per subspace — the compressed
    representation stored at scale (m bytes/vector). ``spread=False``
    for batch-sized inputs (poll-cycle extends) — see
    ``kmeans._spread``."""
    subvecs = split_subvectors(embeddings, m, emb_col)
    if spread:
        subvecs = _spread(subvecs)
    return assign_codes(subvecs, codebook).withColumnRenamed("cid", "code")


def ivfpq_topk(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    n_buckets: int = 16,
    nprobe: int = 1,
    shortlist: int = 30,
    k: int = 10,
    query_pred: str = "vec_id % 100 = 0",
) -> DataFrame:
    """The full production ANN stack in one plan: IVF coarse filter →
    ADC shortlist over PQ codes → exact re-rank of the shortlist.

    1. Candidates = vectors sharing the query's coarse cell (plus
       ``nprobe - 1`` Hamming-1 neighbor cells) — the corpus-size cut.
    2. Candidates are ranked by asymmetric distance over their m byte
       codes (broadcast LUT, fixed-point sums) and the top ``shortlist``
       survive — the memory-bandwidth cut: only codes are touched.
    3. The shortlist joins back to the float vectors for exact cosine
       and the final top ``k`` — the precision-restoring re-rank, sized
       ``shortlist ≪ cell population``.

    Every stage is deterministic (sign-pattern cells, decimal ADC sums,
    lowest-id ties), so the whole cascade replays in SQL
    (``ann_ivfpq_topk``'s oracle)."""
    import math

    bits = int(math.log2(n_buckets))
    from trignis_spark.operators.similarity import _vec_dims, bucket_expr

    vecs = _as_double_vec(embeddings, "embedding").withColumn(
        "n2",
        F.expr(
            "aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        ),
    )
    # bind the width as a literal: the strided cell expression then
    # folds its bit positions at plan time instead of evaluating
    # size(v) once per bit per corpus row — VERDICT r9 #2 attributed
    # ann_ivfpq_topk's +23% best-of-3 drift to exactly this. A
    # freshly-trained codebook already knows the width (m × sub_dims)
    # — skip the 1-row probe job then.
    from trignis_spark.operators.kmeans import carried_rows

    cb_rows = carried_rows(codebook)
    if cb_rows:
        # the m·sub_dims shortcut is only the corpus width when the
        # codebook was trained with THIS m over evenly-split vectors;
        # a codebook carrying a different sub count (or ragged
        # sub-widths) falls back to the 1-row probe instead of binding
        # a wrong literal the per-row width guard would then raise on
        # every row (ADVICE r11)
        subs = {int(r["sub"]) for r in cb_rows}
        widths = {len(r["cvec"]) for r in cb_rows}
        if subs != set(range(m)) or len(widths) != 1:
            cb_rows = None
    dims = (m * len(cb_rows[0]["cvec"]) if cb_rows
            else _vec_dims(vecs))
    bucket = bucket_expr("{v}", n_buckets, dims=dims)
    vecs = vecs.withColumn("bucket", F.expr(bucket.format(v="v")))
    q = vecs.filter(F.expr(query_pred)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
        F.col("bucket").alias("home"),
    )
    flips = [F.col("home")] + [
        F.col("home").bitwiseXOR(F.lit(1 << i))
        for i in range(max(0, nprobe - 1))
    ]
    qb = q.withColumn("qbucket", F.explode(F.array(*flips))).drop("home")
    cand = (
        vecs.select("vec_id", "bucket")
        .join(
            F.broadcast(qb.select("query_id", "qbucket")),
            F.col("bucket") == F.col("qbucket"),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    codes = encode_pq(embeddings, codebook, m)
    lut = (
        q.select("query_id", "qv")
        .join(
            F.broadcast(
                split_subvectors(embeddings, m).select(
                    F.col("vec_id").alias("query_id"), "sub", "subv"
                )
            ),
            "query_id",
        )
        .join(F.broadcast(codebook), "sub")
        .select(
            "query_id",
            "sub",
            F.col("cid").alias("code"),
            F.expr(_SUBDOT.format(a="subv", b="cvec")).alias("pdot"),
        )
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(F.col("pdot").cast(_ACC)).cast("double").alias("adot"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("adot"), F.asc("neighbor_id")
    )
    short = (
        adc.withColumn("_srn", F.row_number().over(ws))
        .filter(F.col("_srn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    x = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("xv"),
        F.col("n2").alias("xn2"),
    )
    exact = (
        short.join(x, "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv", "qn2")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.expr(_SUBDOT.format(a="qv", b="xv"))
                / F.sqrt(F.col("qn2") * F.col("xn2"))
            ).alias("cos"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def pq_topk(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    query_pred: str = "vec_id % 100 = 0",
    k: int = 10,
) -> DataFrame:
    """ADC top-k: exact query subvectors against PQ codes.

    LUT = (query, sub, cid) partial dots (m·k rows per query —
    broadcast); scoring joins codes to the LUT and sums the m partials
    per (query, vector) in fixed-point decimal (order-independent, so
    the SQL oracle matches bit-for-bit). Returns (query_id, neighbor_id,
    rank) ranked by approximate dot, ties to the lowest neighbor."""
    codes = encode_pq(embeddings, codebook, m)
    qsubs = (
        split_subvectors(embeddings, m)
        .join(
            embeddings.filter(F.expr(query_pred)).select("vec_id"),
            "vec_id",
        )
        .select(F.col("vec_id").alias("query_id"), "sub", "subv")
    )
    lut = qsubs.join(F.broadcast(codebook), "sub").select(
        "query_id",
        "sub",
        F.col("cid").alias("code"),
        F.expr(_SUBDOT.format(a="subv", b="cvec")).alias("pdot"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.sum(F.col("pdot").cast(_ACC)).cast("double").alias("adot")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adot"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
