"""Long-horizon soak of the text curation gate at the curate shape.

Builds the relay benchmark's curate prefix index and runs ``--epochs``
gate epochs (``streaming.ingest.make_ingest_batch_fn``) against it.
Documents, index and batches come from ``relaybench/curate.py``
(``Docs`` and ``FULL``), so the soak follows the benchmark's shape: a
200-document index and 200-document batches of 60 novel documents,
40 exact and 40 one-word-edited copies of indexed documents, 30
one-word edits and 30 exact copies of the batch's own novel documents.
The copies are drawn from every document indexed so far, so they hit
the bucketed base and the per-epoch delta alike. Random 60-word texts
over a 5 000-word vocabulary share no shingles, so every epoch's
``IngestStats`` are known in advance.

Per epoch it prints one JSON line:

- ``wall_s``: the epoch's wall time;
- ``probe_s``: time inside ``dedup_index.probe`` (the candidate phase;
  the verify runs later inside the gate);
- ``files``: data files over every index table;
- ``fold`` / ``fold_s``: whether the epoch folded the index delta into
  the base, and how long the fold took.

The last line summarizes the mean epoch and probe walls per decile of
the run, the fold epochs with their walls, and the final file count.

Exit status is 1 when an epoch's ``IngestStats`` differ from the plan,
or when the index outgrows its file bound: one delta file per epoch
since the last fold, plus at most ``2 * DEFAULT_BUCKETS + 1`` base
files per fold, on top of the files the build wrote.

Usage: python tools/soak_text_gate.py [--epochs 300] [--seed 1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "relaybench"))

import curate  # noqa: E402  (relaybench's workload: Docs, FULL)

from trignis_spark.maintenance import (  # noqa: E402
    drop_table_and_location,
    table_data_files,
)
from trignis_spark.operators import dedup_index as di  # noqa: E402
from trignis_spark.session import get_spark  # noqa: E402
from trignis_spark.streaming import ingest  # noqa: E402

INDEX = "soak_text_gate_idx"
THRESHOLD = curate.THRESHOLD


def _plan(epoch_id: int) -> ingest.IngestStats:
    c = curate.FULL
    return ingest.IngestStats(
        epoch_id=epoch_id,
        arrived=(c["novel"] + c["corpus_exact"] + c["corpus_near"]
                 + c["batch_near"] + c["batch_exact"]),
        already_known=0,
        exact_dup=c["batch_exact"],
        low_quality=0,
        corpus_near_dup=c["corpus_exact"] + c["corpus_near"],
        batch_near_dup=c["batch_near"],
        accepted=c["novel"],
    )


def _wrap(fn, log: list):
    def timed(*a, **kw):
        t = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            log.append(time.perf_counter() - t)
    return timed


def _files(spark) -> int:
    return sum(len(table_data_files(spark, t)) for t in di._tables(INDEX))


def _mean(xs: list[float]) -> float:
    return round(sum(xs) / len(xs), 3) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--epochs", type=int, default=300)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    spark = get_spark("soak-text-gate")
    spark.sparkContext.setLogLevel("ERROR")
    schema = "doc_id long, text string"
    docs = curate.Docs(args.seed, curate.FULL)
    indexed = [docs.text() for _ in range(curate.FULL["corpus_docs"])]
    for t in di._tables(INDEX):
        drop_table_and_location(spark, t)
    di.build_prefix_index(
        spark, spark.createDataFrame(list(zip(docs.ids(len(indexed)), indexed)),
                                     schema),
        INDEX, threshold=THRESHOLD)
    build_files = _files(spark)

    probe_log: list[float] = []
    fold_log: list[float] = []
    di.probe = _wrap(di.probe, probe_log)
    di._fold_delta = _wrap(di._fold_delta, fold_log)
    stats: list[ingest.IngestStats] = []
    work = tempfile.mkdtemp(prefix="soak-gate-")
    fn = ingest.make_ingest_batch_fn(
        spark, INDEX, os.path.join(work, "accepted"),
        threshold=THRESHOLD, stats=stats,
    )
    per_fold = 2 * di.DEFAULT_BUCKETS + 1
    walls, probes, folds = [], [], []
    since_fold, files, bad = 0, build_files, None
    try:
        for epoch in range(args.epochs):
            rows, novel_ids = docs.batch(indexed)
            frame = spark.createDataFrame(rows, schema)
            n_probe, n_fold = len(probe_log), len(fold_log)
            t = time.perf_counter()
            fn(frame, epoch)
            wall = time.perf_counter() - t
            indexed += [t for d, t in rows if d in novel_ids]
            folded = len(fold_log) > n_fold
            since_fold = 0 if folded else since_fold + 1
            files = _files(spark)
            rec = {"epoch": epoch, "wall_s": round(wall, 3),
                   "probe_s": round(sum(probe_log[n_probe:]), 3),
                   "files": files, "fold": folded,
                   "fold_s": round(fold_log[-1], 3) if folded else 0.0}
            print(json.dumps(rec), flush=True)
            walls.append(wall)
            probes.append(rec["probe_s"])
            if folded:
                folds.append({"epoch": epoch, "wall_s": rec["wall_s"],
                              "fold_s": rec["fold_s"]})
            if stats[-1] != _plan(epoch):
                bad = f"epoch {epoch}: {stats[-1]} != {_plan(epoch)}"
            elif files > build_files + since_fold + len(folds) * per_fold:
                bad = (f"epoch {epoch}: {files} index files over the bound "
                       f"({build_files} built, {len(folds)} folds, "
                       f"{since_fold} epochs since the last fold)")
            if bad:
                break
    finally:
        for t in di._tables(INDEX):
            drop_table_and_location(spark, t)
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    dec = max(1, len(walls) // 10)
    print(json.dumps({
        "epochs": len(walls),
        "decile_wall_s": [_mean(walls[i:i + dec])
                          for i in range(0, len(walls), dec)],
        "decile_probe_s": [_mean(probes[i:i + dec])
                           for i in range(0, len(probes), dec)],
        "folds": folds,
        "build_files": build_files,
        "final_files": files,
        "failure": bad,
    }), flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
