"""Decade leg for the TEXT near-dup prefix index — VERDICT r9 #5.

The embedding side has five measured decades; the prefix index
(``operators/dedup_index.py`` v2) was last measured at the sf10 tiling
(~495 k docs). This leg takes it one decade further — **5 M docs** —
with the same discipline every embedding decade followed: build cost
amortized, constant-size batch probe flat vs the previous decade,
extend idempotent and O(batch); otherwise find the saturation point
and name it.

1. Tile the sf0.1 ``documents`` table ×``--copies`` (default 1000 →
   5 M docs) with gen_sf.py's per-copy decorrelation (doc_id shift +
   bijective token remap — verbatim tiling would multiply every
   near-dup cluster by K and inflate candidate volume K², which no
   real corpus does), distributed via ``mapInPandas`` instead of the
   driver-side pandas tiler (5 M documents through a Python loop on
   one core is ~20 min; spread over local[32] it is ~1 min).
2. ``build_prefix_index`` (timed) — the one-time cost.
3. Probe a CONSTANT 50-doc batch (25 planted near-dups = one appended
   token on indexed docs, 25 fresh = char-reversed text) 3× warm
   (timed) — the poll-cycle serving cost. The sf10 anchor is 2.8 s
   (BASELINE.md v2 table); "flat" means the probe-table pigeonhole
   and the verify table's partition pruning still bound the work by
   the batch, not the corpus.
4. Extend a 200-doc batch (timed), then replay it and assert 0 added.

Usage: python tools/measure_text_decade.py [--copies 1000]
        [--src /root/testdata/sf0.1] [--out .localdata/text5m]
        [--name textdec] [--threshold 0.8] [--batch 50]
        [--skip-gen] [--skip-build] [--driver-mem 56g]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=1000)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=".localdata/text5m")
    ap.add_argument("--name", default="textdec")
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--batch", type=int, default=50)
    ap.add_argument("--extend-batch", type=int, default=200)
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--skip-build", action="store_true")
    # chunked build: seed build_prefix_index with the first slice, then
    # dedup_index.extend the rest slice by slice. Same lossless prefix
    # semantics (per-slice df ranking is sanctioned by the per-doc
    # pigeonhole — see dedup_index module notes); bounds the build's
    # transient shuffle by the SLICE, not the corpus — the 50 M-doc
    # single-shot build's df-ranking shuffle outgrew the box's free
    # disk, while 10 × 5 M chunks peak at a tenth of it.
    ap.add_argument("--build-chunks", type=int, default=1)
    ap.add_argument("--driver-mem", default="56g")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from tools.gen_sf import _rot_word
    from trignis_spark.operators import dedup_index as di

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count()}]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", args.driver_mem)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(f"{args.src}/documents.parquet")
    n_base = base.count()
    stride = 1
    while stride <= n_base * 10:  # gen_sf stride rule: clear of base ids
        stride *= 10
    path = f"{args.out}/documents.parquet"

    schema = base.schema

    def retile(pdfs, copy_col="copy"):
        # per-copy bijective token remap (same _rot_word as gen_sf.py:
        # rotation + Caesar shift, word-length-preserving) — copy 0
        # stays verbatim so the original near-dup structure survives
        # exactly once
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            c_ser = pdf.pop(copy_col)
            out = pdf
            texts, ids = [], []
            for t, d, c in zip(out["text"], out["doc_id"], c_ser):
                c = int(c)
                ids.append(int(d) + c * stride)
                texts.append(
                    t if c == 0 else
                    " ".join(_rot_word(w, c) for w in t.split(" "))
                )
            out["doc_id"] = ids
            out["text"] = texts
            if "n_chars" in out.columns:
                out["n_chars"] = [len(t) for t in texts]
            yield out

    if not args.skip_gen:
        t0 = time.time()
        tiled_src = (
            spark.range(args.copies)
            .select(F.col("id").alias("copy"))
            .repartition(4 * (os.cpu_count() or 8))
            .crossJoin(F.broadcast(base))
        )
        cols = [f.name for f in schema.fields]
        (
            tiled_src.select("copy", *cols)
            .mapInPandas(retile, schema)
            .write.mode("overwrite")
            .parquet(path)
        )
        n_total = spark.read.parquet(path).count()
        print(json.dumps({
            "leg": "tile", "docs": n_total, "copies": args.copies,
            "sec": round(time.time() - t0, 1),
        }), flush=True)

    docs = spark.read.parquet(path).select("doc_id", "text")
    if not args.skip_build:
        t0 = time.time()
        nc = max(1, args.build_chunks)
        if nc == 1:
            di.build_prefix_index(spark, docs, args.name, args.threshold)
        else:
            pred = F.pmod(F.xxhash64("doc_id"), F.lit(nc))
            di.build_prefix_index(
                spark, docs.filter(pred == 0), args.name, args.threshold
            )
            for c in range(1, nc):
                tc = time.time()
                added = di.extend(
                    spark, docs.filter(pred == c), args.name
                )
                print(json.dumps({
                    "leg": "build_chunk", "chunk": c, "added": added,
                    "sec": round(time.time() - tc, 1),
                }), flush=True)
        if nc > 1:
            # chunked extends append per-slice file sets whose row
            # groups each span the full key range (measured: 10 256
            # probe-table files at 50 M docs, zero row-group pruning,
            # 43.8 s warm probes); compaction restores the sorted
            # serving layout — one sorted run per bucket / one global
            # doc_id run — which is what the probe's pushed-In
            # pruning premises. Same LSM discipline as
            # fold/compact_ivfpq_index: extends stay cheap, probes
            # stay correct between compactions, compaction restores
            # speed.
            tc = time.time()
            nf = di.compact_prefix_index(spark, args.name)
            print(json.dumps({
                "leg": "compact", "files": nf,
                "sec": round(time.time() - tc, 1),
            }), flush=True)
        n_docs = di.members(spark, args.name).count()
        print(json.dumps({
            "leg": "build_prefix_index", "docs": n_docs,
            "threshold": args.threshold, "chunks": nc,
            "sec": round(time.time() - t0, 1),
        }), flush=True)

    # constant-size probe batch: planted near-dups (one appended token
    # on an indexed doc keeps jaccard ≈ S/(S+1) ≫ threshold) + fresh
    # docs whose char-reversed text shares no shingles with the corpus
    half = args.batch // 2
    plant_src = docs.filter("doc_id % 97 = 3").limit(half)
    planted = plant_src.select(
        (F.col("doc_id") + F.lit((args.copies + 1) * stride)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqprobe")).alias("text"),
    )
    fresh = plant_src.select(
        (F.col("doc_id") + F.lit((args.copies + 2) * stride)).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),
    ).limit(args.batch - half)
    batch = planted.unionByName(fresh).localCheckpoint(eager=True)
    nb = batch.count()
    probe_secs, n_pairs = [], None
    for _ in range(3):
        t0 = time.time()
        n_pairs = di.probe(
            spark, args.name, batch, args.threshold
        ).count()
        probe_secs.append(round(time.time() - t0, 2))
    print(json.dumps({
        "leg": "probe", "batch": nb, "pairs": n_pairs,
        "planted": half, "sec_runs": probe_secs,
        "sec_warm_min": min(probe_secs[1:]),
    }), flush=True)
    assert n_pairs >= half, (
        f"planted-recall miss: {n_pairs} pairs < {half} planted — the "
        "probe-table pigeonhole lost pairs a decade past calibration"
    )

    ext = (
        base.select("doc_id", "text")
        .limit(args.extend_batch)
        .select(
            (F.col("doc_id") + F.lit((args.copies + 3) * stride)).alias("doc_id"),
            F.reverse(F.col("text")).alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    t0 = time.time()
    added = di.extend(spark, ext, args.name)
    dt = round(time.time() - t0, 2)
    t0 = time.time()
    replay = di.extend(spark, ext, args.name)
    dt2 = round(time.time() - t0, 2)
    print(json.dumps({
        "leg": "extend", "batch": args.extend_batch, "added": added,
        "sec": dt, "replay_added": replay, "replay_sec": dt2,
    }), flush=True)
    assert added == args.extend_batch and replay == 0
    print(json.dumps({"leg": "done"}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
