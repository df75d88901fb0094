"""Streaming reply→post resolution (J1/O2/O3): the reference resolves
reply chains with memcached edges + per-key event-time timers that re-chase
when the watermark passes (`SN/task/postidresolution/PostIdResolver.java:
63-225`). The Spark-native design replaces BOTH the external K/V store and
the timers with two engine-managed state tables advanced per micro-batch:

- ``resolved``: child_id → root_post_id (grows monotonically),
- ``pending``:  child_id → current chase pointer (replies whose chain
  hasn't reached a resolved node yet — exactly the records the reference
  parks in keyed state and retries from ``onTimer``; here the retry is
  simply the next batch's chase, resumed from the COMPRESSED pointer).

Each batch runs the engine's one pointer-doubling chase
(`operators/resolve.py::chase`) with (new replies ∪ pending) as the work
and (``resolved`` ∪ the batch's comments) as the absorbing rows: a hop
either completes a row or jumps it two chain positions, and the chase
exits on the done count observed on the hop's own checkpoint — no probe
job. Arrival order never matters: a reply that arrives before its parent
waits in ``pending`` with whatever progress its pointer made, until some
later batch delivers the parent (or its transitively-resolved ancestor).

Durability (O6): with ``state_dir`` set, ``pending`` (plus the emit
stage's ``parked`` reply rows) persists as full tables and ``resolved`` as
per-batch deltas through the shared durable-state layer
(`streaming/durable.py`: versioned snapshots, periodic compaction,
rollback-on-replay), so the exactly-once story holds across process
restarts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.resolve import chase
from ..schemas import KIND_COMMENT, KIND_REPLY
from .durable import DurableComponent, DurableTables, flat_checkpoint, table

_RESOLVED_SCHEMA = "id long, root_post_id long"
_PENDING_SCHEMA = "id long, parent_id long"
_PARKED_SCHEMA = "kind string, id long, person_id long, ts_ms long, parent_id long"


class IncrementalResolver(DurableComponent):
    """Accumulates child→root mappings across micro-batches; optionally
    durable under ``state_dir`` (see module docstring). ``extra_fulls``
    declares caller-owned full tables committed in the same snapshot."""

    resolved = table("resolved")
    pending = table("pending")

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str | None = None,
        *,
        extra_fulls: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.state = DurableTables(
            spark,
            state_dir,
            fulls={"pending": _PENDING_SCHEMA, **(extra_fulls or {})},
            deltas={"resolved": _RESOLVED_SCHEMA},
        )

    def process_batch(self, acts: DataFrame) -> DataFrame:
        """Fold one micro-batch of parsed activities into the state; returns
        the mappings newly resolved by this batch."""
        new_resolved = acts.filter(f"kind = '{KIND_COMMENT}'").selectExpr(
            "id", "post_id AS root_post_id"
        )
        work = (
            acts.filter(f"kind = '{KIND_REPLY}'")
            .select("id", "parent_id")
            .unionByName(self.pending)
            .selectExpr("id", "parent_id AS ptr", "CAST(NULL AS BIGINT) AS acc")
        )
        done, pending, _ = chase(
            work,
            self.resolved.unionByName(new_resolved).selectExpr(
                "id", "root_post_id AS root", "CAST(NULL AS BIGINT) AS depth"
            ),
        )
        # Checkpoint ONLY the batch's delta (O(batch) blocks); the layer
        # extends `resolved` as a lazy union over checkpointed parts. The
        # eager checkpoint also cuts every reference to the micro-batch
        # frame, which is not valid after the batch ends.
        delta = flat_checkpoint(
            new_resolved.unionByName(done.selectExpr("id", "root AS root_post_id"))
        )
        # pending carries the ADVANCED pointer — cross-batch path
        # compression: a chain of depth d resolves in O(log d) total hops
        # no matter how it splits across batches. It is a narrow filter of
        # the chase's last checkpoint, so it needs no checkpoint of its own.
        self.state.fold(
            {"resolved": delta, "pending": pending.selectExpr("id", "ptr AS parent_id")}
        )
        return delta

    def mappings(self) -> DataFrame:
        """(child_id, root_post_id) resolved so far."""
        return self.resolved.select(
            F.col("id").alias("child_id"), "root_post_id"
        )


def resolve_activities_stream(
    spark: SparkSession,
    lines_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    state_dir: str | None = None,
    acts_out_dir: str | None = None,
    sink_parts: int | None = None,
    _fail_at_batch: int | None = None,
    timings: list | None = None,
) -> "IncrementalResolver":
    """The reference's full resolver topology in streaming form
    (`PostIdResolver.buildPipeline`, `SN/SocialNetwork.java:37`): parse the
    line stream, resolve incrementally, and EMIT each activity to the
    resolved-stream sink as soon as its root post is known — posts/likes/
    comments immediately, replies when their chain resolves (possibly in a
    later batch, exactly like the reference's timer re-emission). The sink
    is a parquet directory (read it back with ``{out_dir}/batch-*``) — the
    bronze→silver file hop that downstream windowed tasks consume as their
    own stream.

    Each batch writes its own ``batch-{id}`` subdirectory with overwrite
    semantics, so a replayed batch rewrites the same files instead of
    appending duplicates — with ``state_dir`` set this makes the whole
    pipeline exactly-once across restarts (kill the process mid-stream,
    rerun with the same dirs: the output equals the uninterrupted run's).
    ``_fail_at_batch`` is the test seam that injects the crash AFTER the
    state commit of that batch — the worst-case replay window.

    With ``acts_out_dir`` set, each batch's PARSED activities also land in
    ``{acts_out_dir}/batch-{id}`` with the same overwrite/exactly-once
    semantics — the bronze hop that tasks consuming the raw activity
    stream (task 3's per-user features) read as their own stream, so the
    whole SocialNetwork topology parses each line exactly once
    (`SN/SocialNetwork.java:25-52` fans the one parsed stream out to all
    three tasks).

    ``sink_parts`` coalesces each batch's output files (use 1 when a
    downstream stage consumes the hop with ``maxFilesPerTrigger`` and
    needs file granularity == batch granularity — multi-part batch dirs
    interleave a batch's time range across triggers and trip the
    downstream watermark). A micro-batch is small by construction, so
    this bounds nothing at scale; leave None for parallel writes.
    """
    from ..schemas import KIND_LIKE, KIND_POST
    from ..sources.activity import parse_activities

    resolver = IncrementalResolver(
        spark, state_dir, extra_fulls={"parked": _PARKED_SCHEMA}
    )
    out_cols = ["kind", "id", "person_id", "ts_ms", "post_id"]

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        _t0 = _time.monotonic()
        resolver.begin_batch(batch_id)
        # reply rows seen but not yet resolvable, carried across batches
        parked = resolver.state.tables["parked"]
        batch_df = batch_df.transform(flat_checkpoint)
        if acts_out_dir is not None:
            acts_out = batch_df
            if sink_parts is not None:
                acts_out = acts_out.coalesce(sink_parts)
            acts_out.write.mode("overwrite").parquet(
                f"{acts_out_dir}/batch-{batch_id:05d}"
            )
        newly = resolver.process_batch(batch_df)
        direct = batch_df.filter(
            F.col("kind").isin(KIND_POST, KIND_LIKE, KIND_COMMENT)
        ).select(*out_cols)
        reply_rows = batch_df.filter(F.col("kind") == KIND_REPLY).select(
            "kind", "id", "person_id", "ts_ms", "parent_id"
        ).unionByName(parked)
        # ONE pass over reply rows ⋈ newly (broadcast: the batch's own
        # mappings): the rows that found a root are emitted, the rest park
        joined = flat_checkpoint(
            reply_rows.join(
                F.broadcast(newly.withColumn("found", F.lit(True))), "id", "left"
            )
        )
        hit = joined.filter(F.col("found").isNotNull()).select(
            "kind", "id", "person_id", "ts_ms",
            F.col("root_post_id").alias("post_id"),
        )
        parked = joined.filter(F.col("found").isNull()).select(
            *reply_rows.columns
        )
        resolved_out = direct.unionByName(hit)
        if sink_parts is not None:
            resolved_out = resolved_out.coalesce(sink_parts)
        resolved_out.write.mode("overwrite").parquet(
            f"{out_dir}/batch-{batch_id:05d}"
        )
        resolver.state.fold({"parked": parked})
        resolver.commit(batch_id)
        if timings is not None:  # soak/latency instrumentation
            timings.append((batch_id, _time.monotonic() - _t0))
        if _fail_at_batch is not None and batch_id == _fail_at_batch:
            raise RuntimeError(f"injected crash after committing batch {batch_id}")

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(lines_dir)
    )
    q = (
        parse_activities(lines)
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return resolver


def resolve_lines_stream(
    spark: SparkSession,
    lines_dir: str,
    checkpoint_dir: str,
    state_dir: str | None = None,
) -> "IncrementalResolver":
    """Wire the incremental resolver to a text-file micro-batch stream
    (one file per trigger — the bounded replay harness): readStream →
    parse → foreachBatch(resolver). Returns the resolver with its final
    state after the bounded run."""
    from ..sources.activity import parse_activities

    resolver = IncrementalResolver(spark, state_dir)
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(lines_dir)
    )
    acts = parse_activities(lines)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        resolver.begin_batch(batch_id)
        resolver.process_batch(batch_df)
        resolver.commit(batch_id)

    q = (
        acts.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return resolver
