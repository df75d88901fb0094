"""Catalog-statistics cache for the read-only driver testdata.

Every scalar a plan builder needs at plan-construction time (row counts,
id ranges, distinct-key cardinalities, value extrema) is an immutable
property of the testdata parquet — the analog of catalog/table statistics
a real deployment reads from the metastore (ANALYZE TABLE output), not a
query result, so it is computed once, not once per plan build (guide
§1.2: remove passes that recompute known quantities).

One aggregation job per TABLE computes every stat the engine uses, on the
first request; the Row is then table metadata in the session cache
(``io/cache.py``), kept by ``plans.clear_plan_caches``.

At 100 TB the same numbers come from table metadata / ANALYZE statistics;
the one-pass-per-table fallback here is itself scale-safe (single scan,
partial aggregation, scalar output).
"""

from __future__ import annotations

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F

from .cache import table_meta
from .readers import load_table


def _events_exprs():
    # Column construction needs an active SparkContext, so these live
    # inside the (lazily called) expression builder, not at module import.
    # value-cents: the exact fixed-point form every money-typed plan uses
    vc = (F.col("value").cast("decimal(38,6)") * 100).cast("bigint")
    # hour bucket of the event timestamp (shared by the series queries)
    hour = F.floor(F.col("ts").cast("long") / 3600).cast("bigint")
    return vc, hour


def _events_stat_list():
    vc, hour = _events_exprs()
    return [
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.min("user_id").alias("min_user_id"),
        F.max("user_id").alias("max_user_id"),
        F.countDistinct("user_id").alias("n_users"),
        F.min(hour).alias("min_hour"),
        F.max(hour).alias("max_hour"),
        F.countDistinct(hour).alias("n_hours"),
        F.countDistinct("user_id", F.to_date("ts")).alias("n_user_days"),
        F.min(vc).alias("min_value_cents"),
        F.max(vc).alias("max_value_cents"),
    ]


_STAT_EXPRS = {
    "events": _events_stat_list,
    "documents": lambda: [F.count(F.lit(1)).alias("n")],
    "embeddings": lambda: [F.count(F.lit(1)).alias("n")],
    "supplier": lambda: [F.count(F.lit(1)).alias("n")],
    "customer": lambda: [
        F.count(F.lit(1)).alias("n"),
        F.max("c_custkey").alias("max_custkey"),
    ],
}


@table_meta
def table_stats(spark: SparkSession, sf_dir: str, table: str) -> Row:
    """All cached scalar statistics of one testdata table (one agg job on
    first use per session + table version)."""
    return load_table(spark, sf_dir, table).agg(*_STAT_EXPRS[table]()).collect()[0]


def n_rows(spark: SparkSession, sf_dir: str, table: str) -> int:
    return table_stats(spark, sf_dir, table)["n"]
