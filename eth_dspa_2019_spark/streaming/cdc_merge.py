"""Streaming CDC merge — a durable UPSERT-materialized snapshot: the
incremental twin of the batch `customer_cdc_merge` (`plans/relational.py`),
generalized to an arbitrary keyed change stream. Each micro-batch carries
(op, key, cents) change rows — op 'U' upserts (add delta to the row,
creating it at delta if absent), op 'D' deletes, op 'I' inserts-or-replaces
— and the component folds them into the standing snapshot with ONE
snapshot-LEFT-JOIN-batch pass, exactly the join a lakehouse ``MERGE INTO``
compiles to.

State is the snapshot itself, declared as a DurableTables FULL table: its
size tracks the KEY SPACE, never stream history, and each batch rewrites
it versioned (commit marker + rollback-on-replay), so a crash between the
state commit and the engine's offset commit replays idempotently — the
same exactly-once discipline as the resolver. At 100 TB the snapshot and
the change stream bucket on the merge key (`io/bucketed.py`), making the
per-batch join exchange-free; the versioned full rewrite becomes the table
format's copy-on-write snapshot commit.

Batch-order semantics: within one batch, multiple changes to the same key
are pre-folded deterministically (deltas sum; a 'D' or 'I' with the
highest sequence wins — the caller supplies ``seq`` for intra-batch
ordering), so the fold is invariant to how the engine splits the stream
into micro-batches (golden-tested against the single-batch fold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .durable import DurableComponent, DurableTables, table

_SNAP_SCHEMA = "key long, cents long"
_CHANGE_SCHEMA = "op string, key long, cents long, seq long"


def _fold_changes(changes: DataFrame) -> DataFrame:
    """Collapse a batch's change rows to ONE row per key: the last (by
    seq) 'D'/'I' anchors the outcome; 'U' deltas strictly AFTER that
    anchor sum on top. Anchor ties at max(seq) are broken
    deterministically by (op, cents) — a max over the full struct — so
    two 'D'/'I' rows tying on seq for one key still yield exactly ONE
    anchor row instead of duplicating the key through the joins
    (ADVICE r6). Deterministic for any micro-batch split of the same
    seq order."""
    # window-free formulation: compute the anchor per key via aggregation,
    # then join back — map-side combined, no per-key ordering shuffle
    anchor_rows = (
        changes.filter(F.col("op").isin("D", "I"))
        .groupBy("key")
        .agg(F.max(F.struct("seq", "op", "cents")).alias("a"))
        .select(
            "key",
            F.col("a.seq").alias("aseq"),
            F.col("a.op").alias("aop"),
            F.col("a.cents").alias("acents"),
        )
    )
    deltas = (
        changes.filter(F.col("op") == "U")
        .join(anchor_rows.select("key", "aseq"), "key", "left")
        .filter(F.col("aseq").isNull() | (F.col("seq") > F.col("aseq")))
        .groupBy("key")
        .agg(
            F.sum("cents").alias("dcents"),
            F.count(F.lit(1)).alias("nupd"),
        )
    )
    return (
        changes.select("key")
        .distinct()
        .join(anchor_rows.drop("aseq"), "key", "left")
        .join(deltas, "key", "left")
        .select(
            "key",
            F.coalesce("aop", F.lit("U")).alias("aop"),
            F.coalesce("acents", F.lit(0)).alias("acents"),
            F.coalesce("dcents", F.lit(0)).alias("dcents"),
            F.coalesce("nupd", F.lit(0)).alias("nupd"),
        )
    )


class StreamingSnapshotMerge(DurableComponent):
    """Folds keyed change micro-batches into a durable snapshot."""

    snap = table("snap")

    def __init__(
        self,
        spark: SparkSession,
        snapshot: DataFrame | None = None,
        state_dir: str | None = None,
    ):
        self.spark = spark
        self.state = DurableTables(
            spark,
            state_dir,
            fulls={"snap": _SNAP_SCHEMA},
            deltas={},
            seed=None
            if snapshot is None
            else lambda: {
                "snap": snapshot.select("key", "cents").localCheckpoint(
                    eager=True
                )
            },
        )

    def process_batch(self, changes: DataFrame) -> DataFrame:
        """Apply one micro-batch of (op, key, cents, seq) changes; returns
        the new snapshot (also retained as the standing state)."""
        folded = _fold_changes(changes)
        # rows untouched by this batch pass through the anti-join unread;
        # touched keys (including brand-new ones, via the right join) get
        # the anchor/delta rule applied
        untouched = self.snap.join(folded, "key", "left_anti")
        touched = (
            self.snap.join(folded, "key", "right")
            # a 'D' anchor with NO later updates deletes the key; later
            # 'U' rows after a 'D' re-create it from zero (upsert)
            .filter(~((F.col("aop") == "D") & (F.col("nupd") == 0)))
            .select(
                "key",
                F.when(
                    F.col("aop") == "I", F.col("acents") + F.col("dcents")
                )
                .when(F.col("aop") == "D", F.col("dcents"))
                .otherwise(
                    F.coalesce("cents", F.lit(0)) + F.col("dcents")
                )
                .alias("cents"),
            )
        )
        self.state.fold(
            {"snap": untouched.unionByName(touched).localCheckpoint(eager=True)}
        )
        return self.snap


def snapshot_merge_stream(
    spark: SparkSession,
    changes_dir: str,
    schema,
    snapshot: DataFrame | None,
    out_dir: str,
    checkpoint_dir: str,
    state_dir: str | None = None,
    _fail_at_batch: int | None = None,
) -> "StreamingSnapshotMerge":
    """Wire the fold to a parquet micro-batch change stream (one file per
    trigger); each batch's resulting snapshot lands in
    ``{out_dir}/batch-{id}`` with overwrite semantics — with ``state_dir``
    set, exactly-once across restarts."""
    det = StreamingSnapshotMerge(spark, snapshot, state_dir)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        det.begin_batch(batch_id)
        snap = det.process_batch(batch_df)
        snap.write.mode("overwrite").parquet(f"{out_dir}/batch-{batch_id:05d}")
        det.commit(batch_id)
        if _fail_at_batch is not None and batch_id == _fail_at_batch:
            raise RuntimeError(
                f"injected crash after committing batch {batch_id}"
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return det
