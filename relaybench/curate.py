"""curate: a document change feed polled into ``CurateSink`` — the text
near-duplicate gate — against a prefix index built at setup. Closed loop:
one batch is committed, one poll cycle decides it, then the next.

Every batch plants, in this order of ``doc_id``: novel documents, exact
copies of corpus documents, one-word edits of corpus documents (word
3-shingle Jaccard ≈ 0.9 against a 0.8 threshold), one-word edits of this
batch's novel documents and exact copies of them. Only the novel
documents may be accepted; random 60-word texts over a 5 000-word
vocabulary share no shingles, so no decision is close to the threshold.

A cycle's cost is mostly its ~75 small Spark jobs, not its documents, so
a batch of 200 documents takes about as long as one of 40 and gives
enough per-document latency samples for a p95 from a single cycle.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import statistics
import time

import pyarrow as pa

from common import OUTBOX_ARROW, Outcome, latency_metrics, metric, peak_rss_mb
from spans import relay_layers

from trignis_spark.config import EnvironmentConfig, TrackingObject
from trignis_spark.deadletter import DeadLetterStore
from trignis_spark.operators import dedup_index as di
from trignis_spark.sinks.curate import CurateSink
from trignis_spark.sources.parquet_outbox import append_outbox_files, read_outbox
from trignis_spark.state import StateStore
from trignis_spark.streaming.poller import PollPipeline

ENV, OBJ, INDEX = "curate", "docs", "relaybench_curate"
THRESHOLD = 0.8

#: one warm-up cycle: on a 4-core box the first cycle takes ~2x a settled
#: one (~12 s), the second is settled
FULL = {"corpus_docs": 200, "novel": 60, "corpus_exact": 40, "corpus_near": 40,
        "batch_near": 30, "batch_exact": 30, "words": 60, "vocab": 5000,
        "warmup_cycles": 1}
TINY = dict(FULL, corpus_docs=100)


class Docs:
    def __init__(self, seed: int, cfg: dict):
        self.rng = random.Random(seed)
        self.cfg = cfg
        self.vocab = [f"w{i}" for i in range(cfg["vocab"])]
        self.next_id = 1
        self.version = 1

    def text(self) -> str:
        return " ".join(self.rng.choices(self.vocab, k=self.cfg["words"]))

    def edit(self, text: str) -> str:
        words = text.split()
        words[len(words) // 2] = f"edit{self.rng.randrange(10**9)}"
        return " ".join(words)

    def ids(self, n: int) -> list[int]:
        out = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        return out

    def batch(self, corpus: list[str]) -> tuple[list[tuple[int, str]], set[int]]:
        c = self.cfg
        novel = [self.text() for _ in range(c["novel"])]
        picks = self.rng.sample(corpus, c["corpus_exact"] + c["corpus_near"])
        texts = (
            novel
            + picks[:c["corpus_exact"]]
            + [self.edit(t) for t in picks[c["corpus_exact"]:]]
            + [self.edit(t) for t in novel[:c["batch_near"]]]
            + novel[c["batch_near"]:c["batch_near"] + c["batch_exact"]]
        )
        ids = self.ids(len(texts))
        return list(zip(ids, texts)), set(ids[:c["novel"]])

    def commit(self, outbox: str, docs: list[tuple[int, str]]) -> None:
        n = len(docs)
        v = list(range(self.version, self.version + n))
        self.version += n
        append_outbox_files(pa.Table.from_pydict({
            "version": v, "xact_id": v, "operation": ["I"] * n,
            "user_key": [d for d, _ in docs], "changed": [["text"]] * n,
            "ts": [dt.datetime(2024, 1, 1)] * n, "value": [0.0] * n,
            "props": [json.dumps({"doc_id": d, "text": t}) for d, t in docs],
        }, schema=OUTBOX_ARROW), outbox)


def run(bench) -> Outcome:
    cfg = TINY if bench.tiny else FULL
    spark, rd, tracer = bench.spark, bench.run, bench.tracer
    docs = Docs(bench.seed, cfg)
    corpus = [docs.text() for _ in range(cfg["corpus_docs"])]
    corpus_ids = docs.ids(len(corpus))
    t = time.perf_counter()
    di.build_prefix_index(
        spark, spark.createDataFrame(list(zip(corpus_ids, corpus)),
                                     "doc_id long, text string"),
        INDEX, threshold=THRESHOLD)
    build_s = time.perf_counter() - t

    if bench.trace:
        tracer.wrap(CurateSink, "write_df", "ingest.epoch")
        tracer.wrap(di, "probe", "dedup_index.probe")
        tracer.wrap(di, "extend", "dedup_index.extend")

    outbox, accepted = rd.sub("outbox"), rd.sub("accepted")
    sink = CurateSink("curate", INDEX, accepted, threshold=THRESHOLD)
    env = EnvironmentConfig(
        name=ENV,
        tracking_objects=(TrackingObject(name=OBJ, table_name=OBJ,
                                         initial_sync_mode="Full"),),
        retry_count=1, retry_delay_seconds=0,
    )

    def source_fn(s, _obj):
        if tracer.active:
            tracer.count("source.lag_versions",
                         docs.version - 1 - (tracer.last_watermark or 0))
            tracer.count("source.files", len(os.listdir(outbox)))
        with tracer.span("source.read"):
            return read_outbox(s, outbox)

    pipe = PollPipeline(spark, env, source_fn, [], StateStore(rd.sub("state")),
                        DeadLetterStore(rd.sub("dlq")), df_sinks=[sink])
    truth: set[int] = set()

    def cycle() -> tuple[float, int]:
        batch, novel = docs.batch(corpus)
        truth.update(novel)
        start = time.perf_counter()
        docs.commit(outbox, batch)
        [res] = pipe.run_cycle()
        wall = time.perf_counter() - start
        if res.failures:
            raise RuntimeError(f"curate sink failed: {res.failures}")
        return wall, len(batch)

    warm = [cycle()[0] for _ in range(cfg["warmup_cycles"])]
    setup_s = bench.setup_done()
    # traced runs alternate traced and plain cycles for trace.overhead
    min_cycles = 2 if bench.trace else 1
    walls, lat, traced, plain = [], [], [], []
    decided = 0
    cpu0, t_end = time.process_time(), time.monotonic() + bench.seconds
    while time.monotonic() < t_end or len(walls) < min_cycles:
        tracer.active = bench.trace and len(walls) % 2 == 0
        wall, n = cycle()
        (traced if tracer.active else plain).append(wall)
        tracer.active = False
        walls.append(wall)
        lat += [wall] * n  # a batch's documents are decided together
        decided += n
    cpu_s = time.process_time() - cpu0

    got = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    e2e = {
        "setup_s": metric(setup_s, "s", 1),
        "throughput_per_s": metric(decided / sum(walls), "1/s", len(walls)),
        "driver_peak_rss_mb": metric(peak_rss_mb(), "MB", 1),
    }
    latency_metrics(lat, e2e)
    c = cfg
    expected_stats = (c["batch_exact"], c["corpus_exact"] + c["corpus_near"],
                      c["batch_near"], c["novel"])
    out = Outcome(
        e2e=e2e, attempted=decided,
        failed=len(got ^ truth),
        checks={
            "accepted_equals_planted_novel": got == truth,
            "stage_counts_match_plan": all(
                (s.exact_dup, s.corpus_near_dup, s.batch_near_dup, s.accepted)
                == expected_stats for s in sink.stats),
        },
        settings={**cfg, "threshold": THRESHOLD, "shingle_n": 3,
                  "batch_docs": sum(expected_stats), "retry_count": 1,
                  "poll_interval_s": 0},
        extra={"warmup_walls_s": warm, "cycle_walls_s": walls,
               "dedup_index.build_s": build_s},
    )
    if bench.trace:
        tops = tracer.tops("poller.cycle")
        out.layers = relay_layers(
            tracer, tops, cpu_s=cpu_s, rows=decided, file_files=0,
            file_bytes=0, lost=0,
            overhead=statistics.median(traced) / statistics.median(plain),
        )
        out.layers["dedup_index.build_s"] = build_s
        for f in ("arrived", "exact_dup", "corpus_near_dup", "batch_near_dup",
                  "accepted"):
            out.layers[f"ingest.{f}"] = sum(
                getattr(s, f) for s in sink.stats[len(warm)::2])
        out.cycle_tops = tops
    return out
