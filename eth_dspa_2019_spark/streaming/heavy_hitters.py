"""Streaming heavy hitters — batched SpaceSaving (Metwally et al.
ICDT'05; parallel merge per Cafaro et al.'s merge-able summaries): the
bounded-state top-k frequency primitive that completes the sketch family
(HLL cardinality, CMS point-frequency, Bloom membership, histogram
quantiles, and now top-k). State is AT MOST ``k`` (key, cnt, err) rows
FOREVER — independent of stream length and key cardinality — where an
exact top-k would shuffle-and-hold the full key domain. At 100 TB this
is the only way to keep "top URLs / top tokens / hottest keys" online:
the per-batch work is one batch-bounded exact groupBy plus joins against
a k-row broadcast table.

Per micro-batch fold (deterministic given the split):
1. exact batch counts ``c`` (map-side-combined groupBy — the only
   stream-sized operation);
2. merge into the standing counters: existing keys add exactly
   (err unchanged — the batch side is exact); NEW keys enter at
   ``c + m`` with ``err = m``, where ``m`` is the standing summary's
   minimum counter if it is full (the SpaceSaving replacement rule,
   batched: an evicted key's true count can never exceed the floor it
   was evicted under, so re-entry at the current floor keeps the
   overestimate invariant), else 0;
3. truncate to the ``k`` largest by (cnt desc, key asc).

Invariants (asserted in ``tests/test_streaming_heavy_hitters.py``):
- overestimate: ``true ≤ cnt`` and ``cnt − err ≤ true`` for every kept key;
- coverage: every key with true frequency > N/k is in the summary;
- exactness: if the key domain fits (distinct ≤ k), the summary IS the
  exact count table for ANY micro-batch split (golden == batch);
- state ≤ k rows after every batch.

Durability: the counter table is a DurableTables FULL table (k rows —
key-space-of-the-summary, not history), with the shared versioned
commit/rollback discipline, so a crash between state commit and the
engine's offset commit replays idempotently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .durable import DurableComponent, DurableTables, flat_checkpoint, table

_COUNTERS_SCHEMA = "key long, cnt long, err long"


class StreamingHeavyHitters(DurableComponent):
    """Folds keyed micro-batches into a k-row SpaceSaving summary."""

    counters = table("counters")

    def __init__(
        self,
        spark: SparkSession,
        k: int = 64,
        state_dir: str | None = None,
        key_col: str = "key",
    ):
        self.spark = spark
        self.k = k
        self.key_col = key_col
        self.state = DurableTables(
            spark, state_dir, fulls={"counters": _COUNTERS_SCHEMA}, deltas={}
        )

    # -- the fold ---------------------------------------------------------
    def process_batch(self, batch: DataFrame) -> DataFrame:
        """Fold one micro-batch; returns the updated k-row summary."""
        bc = (
            batch.select(F.col(self.key_col).cast("long").alias("key"))
            # ADVICE r7: a NULL key (null input or failed cast) survives
            # the groupBy but never matches across the full outer join —
            # each such batch would inject a fresh null-key counter at
            # c+m, burning a summary slot and weakening the N/k coverage
            # bound. SpaceSaving is defined over a key domain; drop nulls.
            .filter(F.col("key").isNotNull())
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # the floor m: the summary's min counter IF it is full (k rows) —
        # a two-scalar aggregate over a k-row table (metadata cost)
        st = self.counters.agg(
            F.count(F.lit(1)).alias("n"), F.min("cnt").alias("mn")
        ).collect()[0]
        m = int(st["mn"]) if (st["n"] or 0) >= self.k else 0
        merged = (
            self.counters.join(bc, "key", "full")
            .select(
                "key",
                (
                    F.coalesce(F.col("cnt"), F.lit(m))
                    + F.coalesce(F.col("c"), F.lit(0))
                ).alias("cnt"),
                F.when(F.col("cnt").isNull(), F.lit(m))
                .otherwise(F.col("err"))
                .alias("err"),
            )
        )
        self.state.fold({
            "counters": merged.orderBy(F.col("cnt").desc(), "key")
            .limit(self.k)
            .transform(flat_checkpoint)
        })
        return self.counters

    def topk(self, n: int | None = None) -> DataFrame:
        """The current summary, heaviest first."""
        out = self.counters.orderBy(F.col("cnt").desc(), "key")
        return out.limit(n) if n is not None else out


def heavy_hitters_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    checkpoint_dir: str,
    k: int = 64,
    key_col: str = "key",
    state_dir: str | None = None,
    _fail_at_batch: int | None = None,
) -> "StreamingHeavyHitters":
    """Wire the summary to a parquet micro-batch stream (one file per
    trigger, Trigger.AvailableNow — the bounded replay harness), with the
    shared exactly-once restart discipline."""
    hh = StreamingHeavyHitters(spark, k, state_dir, key_col)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        hh.begin_batch(batch_id)
        hh.process_batch(batch_df)
        hh.commit(batch_id)
        if _fail_at_batch is not None and batch_id == _fail_at_batch:
            raise RuntimeError(
                f"injected crash after committing batch {batch_id}"
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return hh
