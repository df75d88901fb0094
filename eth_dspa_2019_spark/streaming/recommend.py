"""Streaming Task 2 friend recommendation
(`SN/task/recommendation/FriendRecommender.java` topology, Spark-first):

batch-precomputed static similarities (the reference computes them once at
job start from the person_* CSVs, `:158-210`) + a STREAMING dynamic path —
watermarked 4h/1h per-(window, post, person) activity counts in append mode
(each window emitted exactly once when the watermark closes it), folded per
micro-batch into co-occurrence similarities, blended and top-5-ranked per
closed window.

The foreachBatch fold receives only CLOSED windows (append-mode windowed
aggregation), so each (window, eigen) is scored exactly once — no
re-firing bookkeeping needed; Flink's allowedLateness refinements map to
the watermark slack upstream (SURVEY §7.3).

Durability (O6, VERDICT r5 #1): with ``state_dir`` set, the accumulated
recommendations persist through the shared versioned-snapshot harness
(`streaming/durable.py`): each batch commits only its own newly-scored
windows as an O(batch) delta (periodic compaction bounds the recovery
chain), with rollback-on-replay — a restarted process resumes from the
last committed batch instead of losing the whole run, and each batch's
rows land in an overwrite-semantics ``batch-{id}`` directory so replays
never duplicate output. The reference's equivalent state survives only
via Flink's RocksDB checkpoints (`session-9/.../FlinkKafkaConsumer.java:
66-73`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.recommend import (
    dynamic_similarity,
    recommendations,
)
from .durable import DurableComponent, DurableTables, flat_checkpoint, table

_RECS_SCHEMA = (
    "window_end long, eigen_id long, rank int, rec_user_id long, "
    "score double"
)


class StreamingRecommender(DurableComponent):
    """Accumulates per-closed-window top-5 recommendations; optionally
    durable under ``state_dir`` (see module docstring)."""

    recs = table("recs")

    def __init__(
        self,
        spark: SparkSession,
        static: DataFrame,
        friends: DataFrame,
        state_dir: str | None = None,
    ):
        self.spark = spark
        self.static = static.transform(flat_checkpoint)
        self.friends = friends.transform(flat_checkpoint)
        self.state = DurableTables(
            spark, state_dir, fulls={}, deltas={"recs": _RECS_SCHEMA}
        )

    # -- the fold ---------------------------------------------------------
    def process_batch(self, counts: DataFrame) -> DataFrame:
        """counts: (window_end, post_id, person_id, c) rows of windows the
        watermark just closed. Returns this batch's recommendations."""
        counts = counts.transform(flat_checkpoint)
        if not counts.head(1):
            return self.recs.limit(0)
        dyn = dynamic_similarity(counts, self.friends)
        windows = counts.select("window_end").distinct()
        newly = recommendations(self.static, dyn, windows).localCheckpoint(
            eager=True
        )
        self.state.fold({"recs": newly})
        return newly


def windowed_counts_stream(resolved_stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming W4/A6: per-(4h/1h window, post, person) activity counts in
    append mode over the resolved activity stream."""
    acts = resolved_stream.withColumn("ets", F.timestamp_millis(F.col("ts_ms")))
    return (
        acts.withWatermark("ets", watermark)
        .groupBy(
            F.window("ets", "4 hours", "1 hour").alias("w"),
            "post_id",
            "person_id",
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.col("w.end").cast("long").alias("window_end"),
            "post_id",
            "person_id",
            "c",
        )
    )


def recommend_stream(
    spark: SparkSession,
    resolved_dir: str,
    schema,
    static: DataFrame,
    friends: DataFrame,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    state_dir: str | None = None,
    out_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    _fail_at_batch: int | None = None,
    timings: list | None = None,
) -> "StreamingRecommender":
    """Wire the full streaming Task 2: resolved-activity parquet stream →
    watermarked windowed counts (append) → foreachBatch similarity fold.
    Bounded run via Trigger.AvailableNow; returns the recommender with the
    accumulated per-window top-5.

    Set ``max_files_per_trigger`` to advance window closure (and hence
    scoring) progressively with the watermark — ONLY when the input files
    are event-time-ordered (per-trigger chunks of unordered files let the
    watermark run ahead of unseen data and close windows short). With
    ``state_dir``/``out_dir`` set, each batch's recommendations commit as
    a state delta and land in ``{out_dir}/batch-{id}`` with overwrite
    semantics — exactly-once across process restarts (same discipline as
    `streaming/resolution.py::resolve_activities_stream`).
    ``_fail_at_batch`` injects a crash AFTER that batch's state commit —
    the worst-case replay window for the restart test."""
    rec = StreamingRecommender(spark, static, friends, state_dir)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(resolved_dir)
    counts = windowed_counts_stream(stream, watermark)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        _t0 = _time.monotonic()
        rec.begin_batch(batch_id)
        newly = rec.process_batch(batch_df)
        if out_dir is not None:
            newly.write.mode("overwrite").parquet(
                f"{out_dir}/batch-{batch_id:05d}"
            )
        rec.commit(batch_id)
        if timings is not None:  # soak/latency instrumentation
            timings.append((batch_id, _time.monotonic() - _t0))
        if _fail_at_batch is not None and batch_id == _fail_at_batch:
            raise RuntimeError(
                f"injected crash after committing batch {batch_id}"
            )

    q = (
        counts.writeStream.foreachBatch(_fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rec
