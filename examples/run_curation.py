"""End-to-end training-corpus curation on the poll engine.

The production composition this repo exists for, in one runnable demo:

1. seed a persistent near-dup corpus index from existing documents
   (``operators/dedup_index.py`` — the v2 prefix-pruned layout: hot
   boilerplate shingles stay out of the probe table, and the verify
   scan is dynamic-partition-pruned);
2. deliver new documents as change events through a parquet outbox:
   each ``PollPipeline`` cycle hands its batch to a ``CurateSink``,
   which runs the ingestion gate (quality → exact dedup → corpus-probe
   → in-batch near-dup) and grows the index exactly-once
   (``streaming/ingest.py``);
3. compact the accepted store's per-epoch small files
   (``maintenance.py``);
4. prepare training sequences from the curated corpus: context-length
   chunking → deterministic sharding → token-budget packing
   (``queries_ext``'s chunk/shard/pack trio, run as plain DataFrame
   ops here).

    python examples/run_curation.py [sf_dir]
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.maintenance import ParquetCompactor, drop_table_and_location
from trignis_spark.operators import dedup_index as di
from trignis_spark.session import get_spark
from trignis_spark.sinks.curate import CurateSink
from trignis_spark.sources.parquet_outbox import outbox_schema, read_outbox
from trignis_spark.state import StateStore
from trignis_spark.streaming.poller import PollPipeline
from trignis_spark.tables import load


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = tempfile.mkdtemp(prefix="trignis-curation-")
    index, outbox = "curation_demo_idx", os.path.join(work, "outbox")
    accepted = os.path.join(work, "accepted")

    spark = get_spark("curation-demo", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = load(spark, sf_dir, "documents")

    # 1. seed the persistent index with the first half of the corpus
    seed = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    di.build_prefix_index(spark, seed, index, threshold=0.5)
    print(f"index seeded: {di.members(spark, index).count()} docs")

    # 2. the other half arrives as outbox change events, in two waves;
    # one poll cycle curates each (a Full sync, then a Diff from the
    # watermark), the gate's epoch id being the batch's sync version
    sink = CurateSink("curate", index, accepted, min_quality=0.05,
                      threshold=0.5)
    env = EnvironmentConfig(
        name="demo",
        tracking_objects=(TrackingObject(name="docs", table_name="docs",
                                         initial_sync_mode="Full"),),
    )
    pipe = PollPipeline(
        spark, env, lambda s, _obj: read_outbox(s, outbox), [],
        StateStore(os.path.join(work, "state")),
        DeadLetterStore(os.path.join(work, "dlq")), df_sinks=[sink],
    )
    arriving = [r.asDict() for r in
                docs.filter("doc_id % 2 = 1").limit(60).collect()]
    for wave, lo in ((arriving[:30], 1), (arriving[30:], 31)):
        rows = [
            (lo + i, lo + i, "I", 7, ["text"], dt.datetime(2024, 1, 1), 0.0,
             json.dumps({"doc_id": d["doc_id"], "text": d["text"]}))
            for i, d in enumerate(wave)
        ]
        spark.createDataFrame(rows, outbox_schema()).coalesce(1) \
            .write.mode("append").parquet(outbox)
        [res] = pipe.run_cycle()
        if res.failures:
            raise RuntimeError(f"curate sink failed: {res.failures}")

    for s in sink.stats:
        print(f"epoch {s.epoch_id}: arrived={s.arrived} "
              f"dup={s.exact_dup + s.corpus_near_dup + s.batch_near_dup} "
              f"low_quality={s.low_quality} accepted={s.accepted}")

    # 3. compact the per-epoch accepted files
    comp = ParquetCompactor(accepted, target_file_bytes=128 * 1024 * 1024)
    n_out = comp.compact(spark)
    curated = comp.read(spark)
    print(f"compacted accepted store to {n_out} file(s); "
          f"curated rows: {curated.count()}")

    # 4. chunk → shard → pack for training
    from trignis_spark.functions import portable as pf
    from trignis_spark.queries_ext import _N_SHARDS, _PACK_BUDGET

    t = curated.select(
        "doc_id",
        F.expr(pf.rolling_hash(pf.SPARK, "text")).alias("h"),
        F.expr(f"size({pf.tokens(pf.SPARK, 'text')})").alias("n_tokens"),
    ).withColumn("shard", (F.col("h") % _N_SHARDS).cast("long"))
    from pyspark.sql import Window

    w = (Window.partitionBy("shard").orderBy("h", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = (
        t.withColumn("cum", F.sum("n_tokens").over(w))
        .groupBy("shard",
                 F.expr(f"(cum - n_tokens) div {_PACK_BUDGET}").alias("seq"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("n_tokens"))
    )
    print("packed sequences per shard:")
    for r in packed.groupBy("shard").count().orderBy("shard").collect():
        print(f"  shard {r['shard']}: {r['count']} sequences")

    for t in di._tables(index):
        drop_table_and_location(spark, t)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
