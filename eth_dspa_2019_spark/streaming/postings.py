"""Incrementally-maintained inverted index: the streaming side of
`plans/llm.py::bm25_search_topk`. Documents arrive in micro-batches; each
batch's postings (doc_id, tok, tf) and document lengths (doc_id, dl) are
APPENDED to the standing index as durable deltas — documents are
immutable, so index maintenance is pure append, the cheapest possible
state discipline (O(batch) writes, compaction every COMPACT_EVERY
batches, rollback-on-replay — `streaming/durable.py`).

Search runs batch-side over the standing relations through the SAME
scorer the registered query uses (`bm25_from_postings`), so "index built
incrementally" vs "index derived from the corpus in one pass" is golden-
testable: stream K doc-splits, search, compare to the oracle-checked
batch query. Collection/document frequencies derive from the postings at
search time — no margin tables to keep consistent.

At 100 TB the postings deltas bucket by token (`io/bucketed.py`) so
search-time margin aggregation and the query join are exchange-free;
the append-only layout is exactly a log-structured index segment list,
with compaction as the segment merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.forget import delete_id_col
from .durable import DurableComponent, DurableTables, flat_checkpoint, table

_TF_SCHEMA = "doc_id long, tok string, tf long"
_DL_SCHEMA = "doc_id long, dl long"
_DEL_SCHEMA = "doc_id long"


class StreamingPostingsIndex(DurableComponent):
    """Folds micro-batches of (doc_id, text) into a durable inverted
    index; ``search()`` scores the standing index with BM25."""

    tf = table("tf")
    dl = table("dl")
    deleted = table("del")

    def __init__(self, spark: SparkSession, state_dir: str | None = None):
        self.spark = spark
        self.state = DurableTables(
            spark,
            state_dir,
            fulls={},
            # "del" is the right-to-be-forgotten tombstone log:
            # append-only doc-id deletes; search reads the postings
            # through an anti-join on it and compaction purges physically
            deltas={"tf": _TF_SCHEMA, "dl": _DL_SCHEMA, "del": _DEL_SCHEMA},
            # compaction keeps the PURGED postings — physical deletion is
            # a log-structured index segment merge dropping deleted docs
            live={"tf": self._live, "dl": self._live},
        )

    def process_batch(self, docs: DataFrame) -> None:
        """Append one micro-batch of (doc_id, text) documents."""
        tok = (
            docs.filter(F.col("text").isNotNull())
            .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        )
        d_tf = (
            tok.groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).alias("tf"))
            .transform(flat_checkpoint)
        )
        d_dl = (
            tok.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("dl"))
            .transform(flat_checkpoint)
        )
        self.state.fold({"tf": d_tf, "dl": d_dl})

    def _live(self, df: DataFrame) -> DataFrame:
        """A postings relation with tombstones applied — deletion is
        visible to search immediately; the anti-join side broadcasts
        (doc-id-sized) and is a no-op probe while the log is empty."""
        return df.join(F.broadcast(self.deleted), "doc_id", "left_anti")

    def delete_docs(self, ids: DataFrame) -> None:
        """Right-to-be-forgotten fold: retract the given doc ids from the
        standing index. O(delete-set) commit (only the tombstone delta
        persists); document frequencies, lengths, and the average-length
        margin all shift because `search()` re-derives them from the
        live postings. Call between ``begin_batch`` and ``commit``."""
        d = (
            ids.select(delete_id_col(ids).cast("long").alias("doc_id"))
            .distinct()
            .transform(flat_checkpoint)
        )
        self.state.fold({"del": d})

    def search(self) -> DataFrame:
        """BM25 top-k over the standing index — the registered query's
        scorer verbatim (`plans/llm.py::bm25_from_postings`), applied to
        the LIVE postings (tombstones filtered), so deleted documents
        neither appear in results nor contribute df/avgdl mass."""
        from ..plans.llm import bm25_from_postings

        return bm25_from_postings(self._live(self.tf), self._live(self.dl))


def postings_index_stream(
    spark: SparkSession,
    docs_dir: str,
    schema,
    checkpoint_dir: str,
    state_dir: str | None = None,
    _fail_at_batch: int | None = None,
) -> "StreamingPostingsIndex":
    """Wire the index to a parquet micro-batch document stream (one file
    per trigger); with ``state_dir`` set, exactly-once across restarts."""
    idx = StreamingPostingsIndex(spark, state_dir)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        idx.begin_batch(batch_id)
        idx.process_batch(batch_df)
        idx.commit(batch_id)
        if _fail_at_batch is not None and batch_id == _fail_at_batch:
            raise RuntimeError(
                f"injected crash after committing batch {batch_id}"
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return idx
