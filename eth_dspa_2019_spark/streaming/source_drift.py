"""Streaming source-drift canary — the incremental twin of the batch
query `source_token_kl_drift` (`plans/pipeline.py`), in the shape its
docstring names: an ingest canary that watches each crawl/source slice's
code-length drift against the corpus unigram LM as documents ARRIVE,
instead of rescanning the corpus per report.

Why it streams exactly: the monitor's only state is the per-(source,
token) count table — every other input (corpus vocabulary counts,
per-source totals, the corpus total) re-derives from it by SUMMATION,
and counts are additive. So each micro-batch folds its token counts
into the standing table with one grouped sum (O(batch + vocab) work —
Zipf bounds the vocabulary, the corpus is never rescanned), and
`close_epoch()` calls the shared reduction
(`drift_from_source_vocab`) on the standing table: bit-identical to the
batch query over any batch split (golden-tested, crash-restart
included).

State: the count table as O(batch) append-only INCREMENT deltas through
`streaming/durable.py` — replayed deltas roll back exactly like the
resolver's; the table's live view re-sums increments per key
(additivity again), so a base compaction + delta tail always reconstructs
the exact counts, and compaction keeps the re-summed table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..plans.pipeline import drift_from_source_vocab
from .durable import DurableComponent, DurableTables, flat_checkpoint

_SV_SCHEMA = "source string, tok string, scnt long"


def _batch_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """One micro-batch's (source, tok, scnt) increments."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select("source", F.explode(tokens(text_col)).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("scnt"))
    )


def _merge(sv: DataFrame) -> DataFrame:
    """Re-sum increments per (source, tok) — additive, so any
    concatenation of increment rows reduces to the exact counts."""
    return sv.groupBy("source", "tok").agg(
        F.sum("scnt").cast("long").alias("scnt")
    )


class StreamingSourceDrift(DurableComponent):
    """Folds micro-batches of documents into the standing count table;
    optionally durable under ``state_dir``."""

    # increments re-summed per (source, tok): the exact standing counts
    sv = property(lambda self: self.state.live("sv"))

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str | None = None,
        *,
        text_col: str = "text",
    ):
        self.spark = spark
        self.text_col = text_col
        self.state = DurableTables(
            spark, state_dir, fulls={}, deltas={"sv": _SV_SCHEMA},
            live={"sv": _merge},
        )

    # -- the fold ---------------------------------------------------------
    def process_batch(self, new_docs: DataFrame) -> None:
        """Fold one micro-batch's token counts: one grouped sum into the
        standing table; the delta logged is the batch INCREMENT."""
        inc = _batch_counts(new_docs, self.text_col).transform(
            flat_checkpoint
        )
        self.state.fold({"sv": inc})

    # -- the canary read --------------------------------------------------
    def close_epoch(self) -> DataFrame:
        """The drift report over everything ingested so far — identical
        to the batch query's output on the same corpus. Cheap enough to
        run per batch as an alarm: O(vocab), no corpus rescan."""
        return drift_from_source_vocab(self.sv)


def source_drift_stream(
    spark: SparkSession,
    new_docs_dir: str,
    schema,
    checkpoint_dir: str,
    state_dir: str | None = None,
    _fail_at_batch: int | None = None,
) -> "StreamingSourceDrift":
    """Wire the fold to a parquet micro-batch stream (one file per
    trigger). With ``state_dir`` set the fold is exactly-once across
    process restarts; ``_fail_at_batch`` injects a crash AFTER that
    batch's state commit. Call ``close_epoch()`` for the drift report."""
    det = StreamingSourceDrift(spark, state_dir)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        det.begin_batch(batch_id)
        det.process_batch(batch_df)
        det.commit(batch_id)
        if _fail_at_batch is not None and batch_id == _fail_at_batch:
            raise RuntimeError(
                f"injected crash after committing batch {batch_id}"
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(new_docs_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return det
