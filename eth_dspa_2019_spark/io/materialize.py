"""The engine's materialization primitive and its driver-held frames, used
by batch operators and streaming components alike.

:func:`materialize` is an eager checkpoint that also OBSERVES the rows it
writes (the row count plus any aggregates the caller asks for, at no
extra job — the reply→root chase, the forest walk, the graph loops and
the dedup components exit their loops and the Task 3 fold advances its
running sums on these counts), strips
the origin plan's statistics, and RIGHT-SIZES the frame to the partition
count Spark's file-split rule gives for its observed size. The few rows
a caller builds on the driver (empty tables, sum registers, an empty
ring buffer) are JVM relations (:func:`local_frame`), never Python-list
frames that start a Python worker on every scan. A frame built from
checkpoints carries no size statistics, so a loop that joins one states
its row bound and :func:`broadcast_if_fits` makes the broadcast choice
Catalyst cannot.
"""

from __future__ import annotations

import math
import uuid
from typing import Iterable

from py4j.protocol import Py4JError
from pyspark.serializers import CPickleSerializer
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..session import broadcast_threshold

__all__ = ["broadcast_if_fits", "local_frame", "materialize"]


def local_frame(
    spark: SparkSession, schema: str, rows: Iterable[tuple] = ()
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` built on the JVM side. A
    frame made from a Python list is a PythonRDD: every scan of it — in a
    union, a join or a write — runs one Python-worker task per partition
    (170–280 ms each on 4 cores). This one is a LocalRelation (an inline
    ``VALUES`` table with the rows bound as parameters), and an empty one
    is a relation the optimizer prunes from unions and joins. Meant for
    the handful of driver-held rows a fold carries (empty tables, the
    anomaly detector's five running-sum registers)."""
    rows = list(rows)
    jvm = spark._jvm
    empty = DataFrame(
        spark._jsparkSession.createDataFrame(
            jvm.java.util.ArrayList(),
            jvm.org.apache.spark.sql.types.StructType.fromDDL(schema),
        ),
        spark,
    )
    if not rows:
        return empty
    fields = empty.schema.fields
    args: dict[str, object] = {}
    tuples = []
    for i, row in enumerate(rows):
        marks = []
        for j, (field, value) in enumerate(zip(fields, row, strict=True)):
            args[f"v{i}_{j}"] = value
            marks.append(f"CAST(:v{i}_{j} AS {field.dataType.simpleString()})")
        tuples.append(f"({', '.join(marks)})")
    cols = ", ".join(f"`{f.name}`" for f in fields)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(tuples)} AS t({cols})", args=args
    )


def broadcast_if_fits(df: DataFrame, rows: int) -> DataFrame:
    """``F.broadcast(df)`` when ``rows × schema.defaultSize`` bytes fit the
    session's ``spark.sql.autoBroadcastJoinThreshold``, else ``df``: the
    auto-broadcast rule applied to a row bound the caller observed
    (checkpointed relations carry no statistics, so Catalyst cannot make
    the choice itself). A threshold of -1 never broadcasts."""
    size = rows * df._jdf.schema().defaultSize()
    return F.broadcast(df) if size < broadcast_threshold(df.sparkSession) else df


def _partitions_for(spark: SparkSession, rows: int, row_bytes: int) -> int:
    """Spark's own file-split rule (``FilePartition.maxSplitBytes``)
    applied to ``rows × row_bytes`` bytes: a split is
    ``min(maxPartitionBytes, max(openCostInBytes, bytes / cores))``, so a
    KB-sized frame is one partition and a large one is cut into
    ``maxPartitionBytes`` pieces — the partitioning a parquet read of the
    same data would get."""
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    size = rows * row_bytes
    per_core = (size + open_cost) / spark.sparkContext.defaultParallelism
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, per_core))
    return max(1, math.ceil(size / split))


def materialize(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Row]:
    """Eagerly materialize ``df`` and observe it in the same job: returns
    ``(frame, seen)`` where ``seen.rows`` is the row count and
    ``seen.<name>`` each aggregate of ``metrics`` (``name=F.sum(...)``)
    over the rows. The metrics ride ``DataFrame.observe`` on the eager
    ``localCheckpoint``, so they cost no job of their own — they replace
    the ``limit(1).count()`` probes and ``agg(...).collect()`` totals
    that re-scan a frame just materialized. A frame the optimizer prunes
    to an empty relation reports ``rows == 0`` (never a wait on a metric
    that no task sends).

    The frame is right-sized and flat:

    - right-sized: coalesced (no shuffle) to the partition count Spark's
      file-split rule gives for ``rows × schema.defaultSize`` bytes
      (:func:`_partitions_for`). A checkpoint otherwise keeps its plan's
      partition count — 32 after a shuffle, the SUM of its inputs' after
      a union — so state built fold by fold (a lazy union of
      checkpointed parts) grew by a few partitions per fold, and every
      scan of it paid one task per partition.
    - flat: the origin plan's estimated statistics are DROPPED. Spark's
      ``localCheckpoint`` cuts lineage but PRESERVES the checkpointed
      plan's stats, and join estimation multiplies child sizeInBytes —
      so a streaming component whose per-batch delta plan joins the
      standing state k times compounds the standing stats ×k every
      batch. The sizeInBytes BigInteger's bit-length then grows
      geometrically, and after ~a dozen batches Catalyst's
      SizeInBytesOnlyStatsPlanVisitor spends MINUTES multiplying
      million-bit integers on the driver (reproduced in the round-8
      56-batch corpus-dedup soak: 8 s/batch through batch 10, 155 s at
      batch 13, wedged at 14). Rebuilding the frame from the SAME
      materialized internal RDD (zero recompute, no Python round-trip)
      resets the leaf to the bounded default estimate, so per-batch
      stats stay a few thousand bits forever. The reset also disables
      auto-broadcast for these frames — standing state isn't
      broadcastable at scale anyway, and callers hint ``F.broadcast``
      where they mean it (loops through :func:`broadcast_if_fits`).

    CLASSIC-MODE ONLY: the metric read, the right-sizing and the stats
    strip reach into py4j internals (``_jdf``, ``observedMetrics``,
    ``internalCreateDataFrame`` — private[sql] API). Under Spark Connect
    (no ``_jdf``) or if the private API moves, we fall back to the plain
    eager localCheckpoint plus one aggregate job over it — correct,
    lineage still cut, only the savings are lost."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    aggs += [c.alias(name) for name, c in metrics.items()]
    label = f"materialize_{uuid.uuid4().hex}"
    observed = df.observe(label, *aggs)
    ck = observed.localCheckpoint(eager=True)
    spark = df.sparkSession
    if not hasattr(ck, "_jdf") or not hasattr(spark, "_jsparkSession"):
        return ck, ck.agg(*aggs).first()  # Spark Connect
    try:
        found = observed._jdf.queryExecution().observedMetrics().get(label)
        utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
        seen = CPickleSerializer().loads(utils.toPyRow(found.get()))
        jdf = ck._jdf
        rdd = jdf.queryExecution().toRdd()
        n = _partitions_for(spark, seen.rows, jdf.schema().defaultSize())
        if n < rdd.getNumPartitions():
            rdd = ck.coalesce(n)._jdf.queryExecution().toRdd()
        flat = spark._jsparkSession.internalCreateDataFrame(
            rdd, jdf.schema(), False
        )
        return DataFrame(flat, spark), seen
    except Py4JError:  # private API drifted across Spark versions
        return ck, ck.agg(*aggs).first()
