"""Streaming negative sampling — the incremental twin of the batch query
`negative_sampling_pairs` (`plans/pipeline.py`), in the shape that
query's docstring names: the bucket-representative table is a STANDING
B-row dimension a micro-batch job refreshes as documents arrive, and the
probe pass stays map-only against a broadcast of it.

Fold semantics: each arriving micro-batch contributes its documents'
(doc_id, dkey, hv, bucket) silver rows; the per-bucket champion is the
min by (hv, doc_id) — an associative/commutative argmin, so folding it
batch-by-batch lands on exactly the batch query's election regardless of
arrival order or batch boundaries. Champions are O(B) state updated with
O(batch + B) work per fold — the corpus is never rescanned.

Epoch contract (the production semantics): probes drawn DURING an epoch
would see a moving dimension, so the serving pass is `close_epoch()` —
one map-only broadcast join of the accumulated silver table against the
frozen champion dimension. Over any batch split of the corpus,
``close_epoch()`` equals the oracle-checked batch query exactly
(golden-tested, crash-restart included).

State: ``champions`` as a B-row FULL table per version; the silver table
as O(batch) append-only deltas — both through `streaming/durable.py`
with the same rollback-on-replay discipline as the resolver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h64
from ..plans.pipeline import NEG_BUCKETS, NEG_PROBES
from .durable import DurableComponent, DurableTables, flat_checkpoint, table

_SILVER_SCHEMA = "doc_id long, dkey string, hv long, bucket long"
_CHAMP_SCHEMA = "bucket long, rep_doc_id long, rep_hv long, rep_dkey string"


def _batch_silver(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The batch query's silver projection: (doc_id, dup-key, doc-id
    hash, bucket) for one micro-batch — no text column leaves here."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.md5(F.substring(text_col, 1, 64)).alias("dkey"),
            h64(F.col(id_col).cast("string")).alias("hv"),
        )
        .withColumn("bucket", F.pmod("hv", F.lit(NEG_BUCKETS)))
    )


class StreamingNegativeSampling(DurableComponent):
    """Folds micro-batches of documents into the standing champion
    dimension + silver table; optionally durable under ``state_dir``."""

    champions = table("champions")
    silver = table("silver")

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.state = DurableTables(
            spark,
            state_dir,
            fulls={"champions": _CHAMP_SCHEMA},
            deltas={"silver": _SILVER_SCHEMA},
        )

    # -- the fold ---------------------------------------------------------
    def process_batch(self, new_docs: DataFrame) -> None:
        """Fold one micro-batch: append its silver rows, min-merge the
        champion dimension. O(batch + B) — the standing silver table is
        not touched."""
        s = _batch_silver(new_docs, self.id_col, self.text_col).transform(
            flat_checkpoint
        )
        merged = (
            self.champions.select(
                "bucket",
                F.col("rep_hv").alias("hv"),
                F.col("rep_doc_id").alias("doc_id"),
                F.col("rep_dkey").alias("dkey"),
            )
            .unionByName(s.select("bucket", "hv", "doc_id", "dkey"))
            .groupBy("bucket")
            # lexicographic struct min == argmin by (hv, doc_id), the
            # batch query's two-grouped-MIN election; dkey rides along
            .agg(F.min(F.struct("hv", "doc_id", "dkey")).alias("m"))
            .select(
                "bucket",
                F.col("m.doc_id").alias("rep_doc_id"),
                F.col("m.hv").alias("rep_hv"),
                F.col("m.dkey").alias("rep_dkey"),
            )
            .transform(flat_checkpoint)
        )
        self.state.fold({"champions": merged, "silver": s})

    # -- the epoch probe pass ---------------------------------------------
    def close_epoch(self) -> DataFrame:
        """Map-only serving pass: every accumulated document draws its
        {NEG_PROBES} probes against a BROADCAST of the frozen champion
        dimension — identical output to the batch query over the same
        corpus. At 100 TB this is one scan of the silver table with a
        B-row broadcast join; no shuffle of the corpus."""
        pr = self.silver.select(
            "doc_id",
            "dkey",
            F.explode(
                F.array([F.lit(j) for j in range(NEG_PROBES)])
            ).alias("probe"),
        )
        cand = pr.withColumn(
            "tb",
            F.pmod(
                h64(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("probe").cast("string"),
                    )
                ),
                F.lit(NEG_BUCKETS),
            ),
        )
        rep = self.champions
        return (
            cand.join(F.broadcast(rep), cand["tb"] == rep["bucket"])
            .filter(
                (F.col("rep_doc_id") != F.col("doc_id"))
                & (F.col("rep_dkey") != F.col("dkey"))
            )
            .select(
                "doc_id",
                F.col("probe").cast("bigint").alias("probe"),
                F.col("rep_doc_id").alias("neg_doc_id"),
            )
        )


def negative_sampling_stream(
    spark: SparkSession,
    new_docs_dir: str,
    schema,
    checkpoint_dir: str,
    state_dir: str | None = None,
    _fail_at_batch: int | None = None,
) -> "StreamingNegativeSampling":
    """Wire the fold to a parquet micro-batch stream (one file per
    trigger). With ``state_dir`` set the fold is exactly-once across
    process restarts; ``_fail_at_batch`` injects a crash AFTER that
    batch's state commit (the replay-detection crash model). Call
    ``close_epoch()`` on the returned component for the serving pass."""
    det = StreamingNegativeSampling(spark, state_dir)

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
