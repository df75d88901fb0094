"""Incrementally-maintained IVF-SQ8 vector index: the streaming side of
`operators/similarity.py::ivf_sq8_topk` (the FAISS ``IVFx,SQ8``
architecture), the ANN sibling of `streaming/postings.py`.

Embedding batches arrive in micro-batches; each batch is assigned to its
nearest coarse centroid and scalar-quantized ONCE, and the resulting
inverted-list rows plus the full-precision vectors are APPENDED to the
standing index as durable deltas (`streaming/durable.py`: O(batch)
writes, compaction every COMPACT_EVERY batches, rollback-on-replay).
Deletes are tombstones (`del` delta), applied to every search via a
broadcast anti-join and purged physically at compaction — the
right-to-be-forgotten discipline of `streaming/postings.py::delete_docs`
extended to the vector store.

The coarse quantizer is FROZEN from the first ingested batch
(`stride_centroids` seed, persisted as its own durable table): streaming
ANN services never re-train the codebook per batch — assignment must be
stable or every prior list row would need re-encoding. Production
re-trains offline and swaps the index; the seed keeps the golden test
exact. Searches run through the SAME `ivf_sq8_search` path the batch
operator uses, so "index maintained incrementally" vs "index built in
one pass over the ingested-minus-deleted corpus with the same centroids"
is golden-testable (tests/test_streaming_vector_index.py: streamed ==
batch, crash-restart, delete == rebuild-from-purged).

At 100 TB: per-batch work is one assignment shuffle of the BATCH (the
standing lists are never re-shuffled), one map-only quantization, and a
bounded centroid broadcast; the append-only layout is a log-structured
segment list with compaction as the segment merge, exactly how
disk-based ANN services (FAISS on-disk, DiskANN-style) stage ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.forget import delete_id_col
from ..operators.similarity import (
    ivf_sq8_index,
    ivf_sq8_search,
    stride_centroids,
)
from .durable import DurableComponent, DurableTables, flat_checkpoint, table

_LISTS_SCHEMA = (
    "centroid_id long, vec_id long, c_qvec array<tinyint>, c_qn2 long"
)
_VECS_SCHEMA = "vec_id long, emb array<float>"
_CENT_SCHEMA = "centroid_id long, c_emb array<float>"
_DEL_SCHEMA = "vec_id long"

#: coarse-quantizer seed stride over the FIRST batch (K ≈ batch/stride)
SEED_STRIDE = 7


class StreamingVectorIndex(DurableComponent):
    """Folds micro-batches of (vec_id, embedding) into a durable IVF-SQ8
    index; ``search(queries)`` serves ANN top-k from the standing lists."""

    lists = table("lists")
    vecs = table("vecs")
    centroids = table("cent")
    deleted = table("del")

    def __init__(self, spark: SparkSession, state_dir: str | None = None):
        self.spark = spark
        self.state = DurableTables(
            spark,
            state_dir,
            fulls={},
            # "cent" is append-only but written exactly once (the frozen
            # codebook); "del" is the tombstone log
            deltas={
                "lists": _LISTS_SCHEMA,
                "vecs": _VECS_SCHEMA,
                "cent": _CENT_SCHEMA,
                "del": _DEL_SCHEMA,
            },
            # compaction keeps the PURGED index — physical deletion is a
            # log-structured segment merge dropping deleted vectors
            live={"lists": self._live, "vecs": self._live},
        )

    def process_batch(self, batch: DataFrame) -> None:
        """Ingest one micro-batch of (vec_id, embedding) rows: freeze the
        codebook on first contact, then assign + quantize the BATCH and
        append its inverted-list rows and full-precision vectors."""
        batch = batch.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("embedding").alias("embedding"),
        )
        frames = {}
        cent = self.centroids
        if not cent.head(1):
            cent = (
                stride_centroids(batch, SEED_STRIDE)
                .select(
                    F.col("centroid_id").cast("long").alias("centroid_id"),
                    F.col("c_emb"),
                )
                .transform(flat_checkpoint)
            )
            frames["cent"] = cent
        frames["lists"] = ivf_sq8_index(batch, cent).transform(flat_checkpoint)
        frames["vecs"] = batch.select(
            "vec_id", F.col("embedding").alias("emb")
        ).transform(flat_checkpoint)
        self.state.fold(frames)

    def delete_vecs(self, ids: DataFrame) -> None:
        """Right-to-be-forgotten fold: retract the given vector ids.
        O(delete-set) commit (only the tombstone delta persists); deleted
        vectors neither match searches nor survive the next compaction.
        Call between ``begin_batch`` and ``commit``."""
        d = (
            ids.select(delete_id_col(ids).cast("long").alias("vec_id"))
            .distinct()
            .transform(flat_checkpoint)
        )
        self.state.fold({"del": d})

    def _live(self, df: DataFrame) -> DataFrame:
        """An index relation with tombstones applied — deletion is
        visible to search immediately; the anti-join side broadcasts
        (id-sized) and is a no-op probe while the log is empty."""
        return df.join(F.broadcast(self.deleted), "vec_id", "left_anti")

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 3,
        cand_k: int = 15,
    ) -> DataFrame:
        """ANN top-k over the standing index — the batch operator's
        search path verbatim (`ivf_sq8_search`) over the LIVE lists."""
        return ivf_sq8_search(
            self._live(self.lists),
            self._live(self.vecs),
            queries,
            self.centroids.select(
                F.col("centroid_id").cast("long").alias("centroid_id"),
                "c_emb",
            ),
            k=k,
            nprobe=nprobe,
            cand_k=cand_k,
        )


def vector_index_stream(
    spark: SparkSession,
    vecs_dir: str,
    schema,
    checkpoint_dir: str,
    state_dir: str | None = None,
    _fail_at_batch: int | None = None,
) -> "StreamingVectorIndex":
    """Wire the index to a parquet micro-batch embedding stream (one file
    per trigger); with ``state_dir`` set, exactly-once across restarts."""
    idx = StreamingVectorIndex(spark, state_dir)

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
        .parquet(vecs_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return idx
