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

Each batch runs pointer-DOUBLING hops over (new rows ∪ pending): a hop
either completes a row or jumps it two chain positions, so the loop exits
after ``~log2(resolvable depth)+1`` hops. The exit test reads the hop's
done / not-done counts, observed on the hop's own checkpoint
(`io/materialize.py::materialize`) — no probe job — instead of the r3 convergence
loop's one SINGLE-hop join + two blocking probes per chain level (up to
128 driver-blocking jobs per batch, VERDICT r3 #5). Arrival order never
matters: a reply that arrives before its parent waits in ``pending`` with
whatever progress its pointer made, until some later batch delivers the
parent (or its transitively-resolved ancestor).

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

from ..io.materialize import materialize
from ..schemas import KIND_COMMENT, KIND_REPLY
from .durable import DurableComponent, DurableTables, flat_checkpoint, table

_RESOLVED_SCHEMA = "id long, root_post_id long"
_PENDING_SCHEMA = "id long, parent_id long"
_PARKED_SCHEMA = "kind string, id long, person_id long, ts_ms long, parent_id long"
# safety cap on doubling hops: 2^16 = 65 536-deep chains per single batch
_MAX_HOPS = 16


def _pruned_state_side(resolved_all: DataFrame, work: DataFrame) -> DataFrame:
    """Restrict the historical state to the rows the chase join can match:
    semi-join on the working set's pointers (broadcast — the working set
    is micro-batch-bounded, the state is not; duplicate pointers are
    harmless on the build side of a semi-join). Factored out so the plan
    shape is unit-assertable."""
    ptrs = work.select(F.col("ptr").alias("id"))
    return resolved_all.join(F.broadcast(ptrs), "id", "semi")


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

    # -- the chase --------------------------------------------------------
    def process_batch(self, acts: DataFrame) -> DataFrame:
        """Fold one micro-batch of parsed activities into the state; returns
        the mappings newly resolved by this batch."""
        new_resolved = acts.filter(F.col("kind") == KIND_COMMENT).select(
            "id", F.col("post_id").alias("root_post_id")
        )
        resolved_all = self.resolved.unionByName(new_resolved)
        work = (
            acts.filter(F.col("kind") == KIND_REPLY)
            .select("id", "parent_id")
            .unionByName(self.pending)
            .select("id", F.col("parent_id").alias("ptr"))
        )
        # Pointer-DOUBLING chase with a shrinking working set: the lookup
        # side carries every finished mapping (absorbing: id → root) PLUS
        # the working rows' own pointers, so each hop either completes a
        # row (its pointer reached a resolved node) or jumps it two chain
        # positions. Any resolvable chain completes its bottom row every
        # hop, so "a hop completed nothing" IS the fixpoint — the hop
        # count is ~log2(resolvable depth)+1 (vs the r3 convergence loop:
        # one SINGLE-hop join + 2 blocking probes per chain LEVEL, up to
        # 128 driver jobs per batch). Each hop materializes ONE frame, the
        # chased working set (keeping the chase lazy instead doubles the
        # plan tree per hop and re-executes the join cascade per probe,
        # measured exponential); the fixpoint check reads the done/not-done
        # counts observed on that same checkpoint, so it launches no job.
        # Chains deeper than 2^_MAX_HOPS carry their compressed pointers to
        # the next batch.
        done_parts: list[DataFrame] = []
        for _ in range(_MAX_HOPS):
            # A hop only ever matches state rows whose id equals some
            # working pointer, so the state side is semi-joined down to
            # O(|work|) rows BEFORE the chase join — the full historical
            # `resolved` table is scanned (with the ptr-set pushed to the
            # scan), never shuffled. The working set is bounded by the
            # micro-batch plus still-pending replies, so broadcasting its
            # pointers — and the O(|work|)-row lookup built from them — is
            # cheap even when the state is huge.
            lookup = _pruned_state_side(resolved_all, work).select(
                F.col("id").alias("x"),
                F.col("root_post_id").alias("nxt"),
                F.lit(True).alias("mdone"),
            )
            for part in done_parts:
                lookup = lookup.unionByName(
                    part.select(
                        F.col("id").alias("x"),
                        F.col("ptr").alias("nxt"),
                        F.lit(True).alias("mdone"),
                    )
                )
            lookup = lookup.unionByName(
                work.select(
                    F.col("id").alias("x"),
                    F.col("ptr").alias("nxt"),
                    F.lit(False).alias("mdone"),
                )
            )
            # parent resolved → absorb its root; parent in the working set
            # → jump to ITS pointer (path doubling); parent unseen → hold
            chased, seen = materialize(
                work.alias("c")
                .join(
                    F.broadcast(lookup).alias("m"),
                    F.col("c.ptr") == F.col("m.x"),
                    "left",
                )
                .select(
                    F.col("c.id").alias("id"),
                    F.when(F.col("m.x").isNull(), F.col("c.ptr"))
                    .otherwise(F.col("m.nxt"))
                    .alias("ptr"),
                    F.coalesce(F.col("m.mdone"), F.lit(False)).alias("done"),
                ),
                done=F.count_if("done"),
            )
            # hit/work are lazy filters over the CHECKPOINTED chased frame
            hit = chased.filter(F.col("done")).select("id", "ptr")
            work = chased.filter(~F.col("done")).select("id", "ptr")
            if seen.done == 0:
                break  # nothing else resolvable this batch → stays pending
            done_parts.append(hit)
            if seen.done == seen.rows:
                break  # everything resolved — skip the would-be-empty hop
        delta = new_resolved
        for part in done_parts:
            delta = delta.unionByName(
                part.select("id", F.col("ptr").alias("root_post_id"))
            )
        # Checkpoint ONLY the batch's delta (O(batch) blocks); the layer
        # extends `resolved` as a lazy union over checkpointed parts. The
        # eager checkpoint also cuts every reference to the micro-batch
        # frame, which is not valid after the batch ends.
        delta = flat_checkpoint(delta)
        # pending carries the ADVANCED pointer — cross-batch path
        # compression: a chain of depth d resolves in O(log d) total hops
        # no matter how it splits across batches
        pending = work.select(
            "id", F.col("ptr").alias("parent_id")
        ).transform(flat_checkpoint)
        self.state.fold({"resolved": delta, "pending": pending})
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
