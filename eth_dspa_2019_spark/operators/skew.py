"""Skew-handling aggregation: two-stage salted groupBy.

AQE's skew-join splitting handles skewed JOINS automatically
(session.py enables it); skewed AGGREGATIONS on a hot key are handled by
salting — shard each key across ``n_salt`` sub-keys for the first (heavy)
aggregation, then merge the shards. Spark's map-side partial aggregation
already absorbs most hot-key pressure for algebraic aggregates; explicit
salting is the escape hatch for when partials don't compose cheaply
(e.g. huge collect_set states) or when one reducer still drowns.

The reference hand-rolls the same idea with broadcast + mod-sharded
instances (`SN/task/anomalydetection/AnomalousUserDetector.java:66,270`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame, keys: Sequence[str], n_salt: int = 16
) -> DataFrame:
    """count(*) per key via salt-sharded two-stage aggregation: stage 1
    groups on (keys..., salt) — hot keys spread over n_salt reducers —
    stage 2 sums the shard partials per key."""
    salted = df.withColumn(
        "_salt", (F.rand(seed=0) * n_salt).cast("int")
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        F.count(F.lit(1)).alias("_pn")
    )
    return partial.groupBy(*keys).agg(F.sum("_pn").alias("n"))

