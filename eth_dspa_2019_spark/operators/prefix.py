"""Exact global prefix aggregation without a single-partition window.

``Window.orderBy(...)`` with no partition key forces every row through one
reducer — correct, but the one plan shape that cannot survive a 100 TB
input. The classic scalable replacement (the same trick RDD
``zipWithIndex`` uses internally) is a two-stage plan:

1. range-partition the rows by the global order key (so partition *i*
   holds a contiguous key range, and all of partition *i*'s keys precede
   partition *i+1*'s);
2. one tiny metadata job: per-partition totals (#partitions rows — KB of
   driver data even at 100 TB), prefix-summed on the driver into
   per-partition *exclusive offsets*;
3. the main pass: an ordinary ``Window.partitionBy(partition_id)``
   running aggregate — fully parallel — plus the broadcast offset.

The result is bit-identical to the single-partition window (integer /
fixed-point sums are associative), but the widest window any reducer
sees is one range partition. The driver-side ``.collect()`` in step 2 is
partition-count-sized metadata, not data — the pattern stays distributed.

A caller that materializes the result anyway (a stream micro-batch) can
swap steps 2 and 3 (:func:`range_running_sums`): run the per-range
window first, OBSERVE the per-range totals on the same job, and add the
offsets as a projection on the materialized frame.

Used by the Task 3 global running means (`operators/anomaly.py`, the
reference's broadcast-signatures state, `SN/task/anomalydetection/
AnomalousUserDetector.java:160-200`) and the global-rank queries
(`plans/misc.py`).

Requires non-null order columns (all call sites order by non-null keys).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PID = "__pfx_pid"


def _ranges(
    df: DataFrame, order_cols: list[str], num_partitions: int | None
) -> DataFrame:
    """Range-partition by the order key and stamp the partition id."""
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    part = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    return part.withColumn(_PID, F.spark_partition_id())


def _range_partitioned(
    df: DataFrame, order_cols: list[str], num_partitions: int | None
) -> DataFrame:
    """:func:`_ranges`, persisted: the offsets job and the main pass must
    see the same physical partitioning (range boundaries come from
    sampling). The persisted frame lives until ``clear_plan_caches``."""
    return _ranges(df, order_cols, num_partitions).persist()


def _pid_map(pairs: dict[int, int | float]) -> Column:
    """Literal pid→value map (partition-count entries, pure projection —
    no join stage)."""
    if not pairs:
        return F.create_map()
    flat: list[Column] = []
    for k, v in pairs.items():
        flat.append(F.lit(k))
        flat.append(F.lit(v))
    return F.create_map(*flat)


def global_index(
    df: DataFrame,
    order_cols: list[str],
    *,
    index_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """``row_number() OVER (ORDER BY order_cols)`` — 1-based dense global
    rank over a total order — as the two-stage range plan.

    ``order_cols`` must be a total order (no ties) for the rank to be
    deterministic, exactly as with the window form.
    """
    part = _range_partitioned(df, order_cols, num_partitions)
    counts = {
        r[_PID]: r["n"]
        for r in part.groupBy(_PID).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    return part.withColumn(
        index_col,
        F.row_number().over(w) + F.coalesce(_pid_map(offsets)[F.col(_PID)], F.lit(0)),
    ).drop(_PID)


def global_running_max(
    df: DataFrame,
    order_cols: list[str],
    exprs: dict[str, Column],
    *,
    exclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """For each ``name -> expr``, add column ``name`` holding
    ``max(expr) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING
    [AND 1 PRECEDING if exclusive])`` via the two-stage range plan —
    max is associative, so a per-partition running max plus the max of
    all earlier partitions' totals is exact."""
    tmp = {name: f"__pfx_{name}" for name in exprs}
    base = df.select("*", *[c.alias(tmp[n]) for n, c in exprs.items()])
    part = _range_partitioned(base, order_cols, num_partitions)

    partials = {
        r[_PID]: r.asDict()
        for r in part.groupBy(_PID)
        .agg(*[F.max(tmp[n]).alias(f"m_{n}") for n in exprs])
        .collect()
    }
    end = -1 if exclusive else Window.currentRow
    w = Window.partitionBy(_PID).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, end
    )
    types = dict(part.dtypes)
    out = part
    for name in exprs:
        prior: dict[int, object] = {}
        acc = None
        for pid in sorted(partials):
            if acc is not None:
                prior[pid] = acc
            m = partials[pid][f"m_{name}"]
            if m is not None:
                acc = m if acc is None else max(acc, m)
        win = F.max(tmp[name]).over(w)
        off = _pid_map(prior)[F.col(_PID)].cast(types[tmp[name]]) if prior else F.lit(
            None
        ).cast(types[tmp[name]])
        out = out.withColumn(name, F.greatest(win, off))
    return out.drop(_PID, *tmp.values())


# The range-prefix SQL, shared by the collect path (global_running_sums)
# and the one-pass path (range_running_sums). It is SQL text: the Column
# form paid ~130 py4j round-trips per name (two 2·|partitions|-literal
# create_maps, window spec, when chain), multiplied by withColumn's plan
# copy. Same expressions, same physical plan, bit-identical offsets.


def _over(order_cols: list[str]) -> str:
    """The running frame within one range."""
    order = ", ".join(f"`{c}`" for c in order_cols)
    return (
        f"OVER (PARTITION BY `{_PID}` ORDER BY {order} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )


def _offset(prior: dict[int, int]) -> str:
    """A row's offset: a literal range-id → value map (range-count
    entries, a projection — no join stage)."""
    entries = ", ".join(f"{k}, CAST({v} AS BIGINT)" for k, v in prior.items())
    return f"coalesce(map({entries})[`{_PID}`], 0)"


def _exclusive(
    partials: dict[int, tuple[int | None, int]], base: tuple[int, int] = (0, 0)
) -> tuple[dict[int, int], dict[int, int], tuple[int, int]]:
    """Per-range (sum, count) totals → each range's exclusive prefix (the
    totals of every earlier range) starting from ``base``, and the grand
    total after the last range."""
    prior_s: dict[int, int] = {}
    prior_c: dict[int, int] = {}
    acc_s, acc_c = base
    for pid in sorted(partials):
        prior_s[pid], prior_c[pid] = acc_s, acc_c
        s, c = partials[pid]
        acc_s += s or 0
        acc_c += c
    return prior_s, prior_c, (acc_s, acc_c)


def global_running_sums(
    df: DataFrame,
    order_cols: list[str],
    exprs: dict[str, Column],
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """For each ``name -> expr``, add column ``name`` holding
    ``sum(expr) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING)`` —
    inclusive of the current row — via the two-stage range plan.

    Null expr values are skipped (SQL sum semantics), and a running sum
    with no contributions yet is null, exactly matching the window form:
    the metadata job collects per-partition (sum, non-null count) so the
    offset can distinguish "no prior contributions" from "prior sum 0".

    Sums should be integer / fixed-point for cross-engine bit-equality
    (floating-point addition is not associative; see
    `functions/hashing.py` module notes).
    """
    tmp = {name: f"__pfx_{name}" for name in exprs}
    base = df.select("*", *[c.alias(tmp[n]) for n, c in exprs.items()])
    part = _range_partitioned(base, order_cols, num_partitions)

    aggs = []
    for name in exprs:
        aggs.append(F.sum(tmp[name]).alias(f"s_{name}"))
        aggs.append(F.count(tmp[name]).alias(f"c_{name}"))
    partials = {r[_PID]: r.asDict() for r in part.groupBy(_PID).agg(*aggs).collect()}

    over = _over(order_cols)
    name_exprs = []
    for name in exprs:
        prior_s, prior_c, _ = _exclusive(
            {pid: (p[f"s_{name}"], p[f"c_{name}"]) for pid, p in partials.items()}
        )
        win = f"sum(`{tmp[name]}`) {over}"
        name_exprs.append(
            f"CASE WHEN ({win}) IS NOT NULL OR {_offset(prior_c)} > 0 "
            f"THEN coalesce({win}, 0) + {_offset(prior_s)} END AS `{name}`"
        )
    out = part.selectExpr("*", *name_exprs)
    return out.drop(_PID, *tmp.values())


def range_running_sums(
    df: DataFrame,
    order_cols: list[str],
    values: dict[str, str],
    *,
    num_partitions: int,
) -> DataFrame:
    """The two-stage range plan as ONE lazy pass, for a caller that
    materializes it: ``df`` cut into ``num_partitions`` ranges of
    ``order_cols``, and for each ``name -> SQL value`` the running sum
    and count of the value WITHIN its range, as ``{name}__s`` and
    ``{name}__c``. Observe :func:`range_partials` on the pass's
    materialization to get the per-range totals in the same job, then
    :func:`range_totals` turns them into offsets — a projection on the
    materialized frame, no second job."""
    over = _over(order_cols)
    wins = []
    for name, v in values.items():
        wins.append(f"sum({v}) {over} AS `{name}__s`")
        wins.append(f"count({v}) {over} AS `{name}__c`")
    return _ranges(df, order_cols, num_partitions).selectExpr("*", *wins)


def range_partials(values: dict[str, str], num_partitions: int) -> Column:
    """Every range's (sum, count) of every value, as one array aggregate
    over a :func:`range_running_sums` frame (``DataFrame.observe``-able;
    range-major, then name, then sum before count)."""
    cells = []
    for k in range(num_partitions):
        for v in values.values():
            hit = f"CASE WHEN `{_PID}` = {k} THEN {v} END"
            cells += [f"sum({hit})", f"count({hit})"]
    return F.expr(f"array({', '.join(cells)})")


def range_totals(
    partials: list[int | None],
    values: dict[str, str],
    base: dict[str, tuple[int, int]],
) -> tuple[dict[str, tuple[str, str]], dict[str, tuple[int, int]]]:
    """For a materialized :func:`range_running_sums` frame whose
    ``partials`` were observed through :func:`range_partials` (same
    ``values``): SQL for each name's global running (sum, count) — its
    in-range running values plus the totals of every earlier range plus
    ``base``, the totals of everything before this frame — and each
    name's totals after the frame (the ``base`` of the next one)."""
    width = 2 * len(values)
    sql, after = {}, {}
    for i, name in enumerate(values):
        per_range = {
            k: (partials[at + 2 * i], partials[at + 2 * i + 1])
            for k, at in enumerate(range(0, len(partials), width))
        }
        prior_s, prior_c, after[name] = _exclusive(per_range, base[name])
        sql[name] = (
            f"coalesce(`{name}__s`, 0) + {_offset(prior_s)}",
            f"`{name}__c` + {_offset(prior_c)}",
        )
    return sql, after
