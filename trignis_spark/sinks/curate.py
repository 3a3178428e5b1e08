"""Curation sink: route a document change feed into the corpus gate.

Config kind ``curate`` — the consumer-side composition that turns any
tracked table whose payload carries documents into a continuously
curated training corpus. Each delivered batch runs the ingestion gate
(``streaming/ingest.py``: membership anti-join → exact dedup → quality
→ corpus-index probe → in-batch near-dup) and the survivors extend the
persistent near-dup index exactly-once; the accepted store accumulates
the curated corpus.

Rides the distributed ``df_sinks`` path of ``PollPipeline``, exactly
like the mirror and rollup sinks — so curation advances with the
watermark and inherits the at-least-once replay contract (a replayed
batch, or a dead-lettered manifest re-run by ``DeadLetterReplayer``,
re-admits nothing).

Options: ``index_table`` (a ``dedup_index.build_prefix_index`` index,
whose meta row fixes the shingle width), ``accepted_path``; optional
``min_quality`` (default 0.0), ``threshold`` (0.8), ``id_col``/
``text_col`` (payload column names after extraction), and
``props_json`` (default true: lift (doc_id, text) from the ``props``
JSON payload via ``documents_from_outbox``; set false when the batch
already carries the columns).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from trignis_spark.sinks.base import ExportContext
from trignis_spark.sinks.spark_file import DataFrameSink

#: every option a ``curate`` sink config may set (the list above);
#: ``config.validate_environment`` rejects any other key
OPTIONS = ("index_table", "accepted_path", "min_quality", "threshold",
           "id_col", "text_col", "props_json")


@dataclass
class CurateSink(DataFrameSink):
    name: str
    index_table: str
    accepted_path: str
    min_quality: float = 0.0
    threshold: float = 0.8
    id_col: str = "doc_id"
    text_col: str = "text"
    props_json: bool = True
    stats: list = field(default_factory=list)

    def write_df(self, batch: DataFrame, ctx: ExportContext,
                 metadata: dict) -> None:
        from trignis_spark.streaming import ingest

        spark = batch.sparkSession
        if self.props_json:
            batch = ingest.documents_from_outbox(batch)
        fn = ingest.make_ingest_batch_fn(
            spark,
            self.index_table,
            self.accepted_path,
            min_quality=self.min_quality,
            threshold=self.threshold,
            id_col=self.id_col,
            text_col=self.text_col,
            stats=self.stats,
        )
        fn(batch, epoch_id=metadata.get("Sync", {}).get("Version", 0))
