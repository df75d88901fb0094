"""Batch readers.

Driver testdata (TESTDATA.md): TPC-H-ish parquet star schema + an ``events``
stream table + ``documents``/``embeddings`` for the LLM-pipeline operators.

Social-network pipe-CSV readers (the reference's native input format,
`SN/cleaning/StreamsCleaner.java:48,65,177`) live in
:mod:`eth_dspa_2019_spark.sources.activity`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from .cache import table_meta, table_path

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-testdata parquet table.

    Plain ``spark.read.parquet`` so Catalyst sees a pushdown-capable scan
    (filters/column pruning reach the parquet reader — check
    ``PushedFilters``/``ReadSchema`` in ``.explain``).
    """
    # Defensive: the caller may hand us a session built without our factory
    # (the driver harness does). Both confs are runtime-settable and required
    # for cross-engine parity: UTC pins NTZ→epoch math, nanosAsLong makes a
    # nanos-precision events table readable at all.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _scan(spark, sf_dir, name)


@table_meta
def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The scan DEFINITION (resolved schema + file listing, no data): each
    ``spark.read.parquet`` runs a ~100 ms single-task schema/footer job,
    and a bench run builds the same 10 scans hundreds of times."""
    df = spark.read.parquet(table_path(sf_dir, name))
    # The driver has shipped two physical layouts across rounds: TIMESTAMP
    # (NANOS) columns (surfaced as int64 nanos via nanosAsLong) and plain
    # micros TIMESTAMP_NTZ. Normalize both to session-UTC TIMESTAMP so every
    # downstream plan sees one schema; DuckDB reads the same files as micros
    # TIMESTAMP, so wall-clock values agree in either layout. The cast does
    # wrap the column in an expression, which keeps ts predicates out of
    # PushedFilters in the NTZ layout — accepted: every windowed plan scans
    # the full time range anyway, and the explicit TimestampType() target is
    # conf-independent (spark.sql.timestampType may be NTZ in the harness).
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(
                field.name, F.col(field.name).cast(TimestampType())
            )
        elif (
            name == "events"
            and field.name == "ts"
            and isinstance(field.dataType, LongType)
        ):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def spread_scan(df: DataFrame) -> DataFrame:
    """Fan a single-task scan out to the session's parallelism before a
    compute-heavy pipeline (guide §2.5 input skew / §6 small files).

    The driver testdata ships ONE parquet row group per table, and a row
    group is Spark's atomic split unit — so every scan is a single task
    and everything that pipelines on top of it (string synthesis,
    shingling, per-payload kernels, partial aggregation) runs on one core
    until the first exchange. Repartitioning the small scan output is a
    trivial shuffle that unlocks all cores. Scale-adaptive: any input
    that already scans with >= defaultParallelism partitions (multi-file
    / multi-row-group production tables) passes through untouched, so
    the call is a no-op exactly when the fan-out would be a pessimation.
    The narrow-or-wide probe (``.rdd`` partition count) costs a plan
    analysis, so a caller that spreads one table repeatedly caches the
    result as table metadata (``io/cache.py``).

    NOTE (r11, measured): spreading at LOAD for every consumer was tried
    and reverted — it helps one-pass per-row-heavy kernels but wrecks
    iterative algorithms over small frames (BPE merge rounds 2.5s->7.3s,
    kmeans pipeline 2.3s->8.6s: every iteration inherits session-width
    partitioning and pays empty-task scheduling). Apply spread_scan at the
    consumer, only in front of one-pass compute-heavy pipelines.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def read_pipe_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    keep_columns: list[str] | None = None,
) -> DataFrame:
    """S5: pipe-delimited CSV with a single header line — the reference's
    static-table format (`person_knows_person.csv` etc.,
    `SN/util/Config.java:73-82`). ``keep_columns`` mirrors the reference's
    habit of ignoring trailing columns (classYear/workFrom,
    `SN/task/recommendation/FriendRecommender.java:158-194`)."""
    reader = spark.read.option("header", True).option("sep", "|")
    df = (
        reader.schema(schema).csv(path)
        if schema is not None
        else reader.option("inferSchema", True).csv(path)
    )
    return df.select(*keep_columns) if keep_columns else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so plain ANSI SQL
    (``spark.sql``) works next to the DataFrame API — the engine's SQL
    front door. Views are lazy scan definitions (no materialization);
    Catalyst sees the same pushdown-capable parquet relations the
    DataFrame queries use, so `spark.sql` and the registered plans compile
    to identical physical plans."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
