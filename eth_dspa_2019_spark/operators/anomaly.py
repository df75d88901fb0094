"""Task 3 — unusual-activity (anomaly) detection
(`SN/task/anomalydetection/AnomalousUserDetector.java`, deterministic batch
spec `SN/validation/Task3Evaluator.java:45-98`).

Per-activity features keyed by user (the reference's ValueState, O1, batch
form = window functions over the per-user ordered stream):

- activity frequency: 3·HOUR / max(1, t_now − t_2back) ms (F6)
- last comment/post content length (F4)
- last comment/post unique-words ratio (F5)

with ``-1`` as the not-applicable sentinel, then GLOBAL running means per
feature that skip the sentinels (A12/O4), and the threshold predicate
feature < 0.5·avg or > 2·avg (frequency: only > 2·avg) (F7).

This module is the one Spark definition of Task 3: the feature
expressions, the sentinel rule, the threshold rule and the running means,
as SQL text, and :func:`fold`, one observed pass over an event-time-ordered
input plus the state carried from before it (each user's ring buffer of
their last two timestamps, and the per-feature running sums). The batch
query (:func:`anomalies`) is the fold over the whole input from an empty
state; the stream detector (`streaming/anomaly.py`) folds each
micro-batch over its durable state. The DuckDB oracle (`plans/task3.py`)
is the independent second form.

Deterministic-spec deviations from the reference, both deliberate:

- the reference's streaming output is order/parallelism-dependent (each
  detector instance holds its own Signatures copy, `:248-274`); the defined
  semantics here is the batch evaluator's single ordered scan, with the
  total order (ts_ms, id, person_id, kind);
- fractional features (frequency, ratios) are quantized to 1e-6 fixed-point
  BIGINTs before the running sums (floor of an identical IEEE double is
  identical in every engine, integer running sums are exactly associative),
  and the reference's iterated-Integer-truncation running mean for lengths
  is replaced by the exact running mean — cross-engine-reproducible
  semantics instead of a Java-integer-division artifact.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from ..io.materialize import local_frame, materialize
from ..schemas import KIND_COMMENT, KIND_POST, KIND_REPLY
from .prefix import range_partials, range_running_sums, range_totals

HOUR_MS = 3_600_000
Q = 1_000_000  # fixed-point scale for fractional features

# feature columns — lengths stay raw ints, the rest are 1e-6 fixed point
FEATURES = ("freq", "clen", "plen", "cratio", "pratio")
# a user's ring buffer: the timestamps of their newest activity (s0) and
# of the one before it (s1)
RING_SCHEMA = "person_id long, s0 long, s1 long"

# All of Task 3 is SQL text: each Column call is a py4j round-trip, and the
# Column form of the fold made thousands of them per micro-batch.
_ORDER = ["ts_ms", "id", "person_id", "kind"]  # the evaluator's total order
_BY_USER = "OVER (PARTITION BY person_id ORDER BY ts_ms, id, kind)"
_RATIO = r"size(array_distinct(split(content, '\\s+'))) / size(split(content, '\\s+'))"
_COMMENT = f"kind IN ('{KIND_COMMENT}', '{KIND_REPLY}')"
_POST = f"kind = '{KIND_POST}'"
# `Features.update` (`AnomalousUserDetector.java:110-143`) given ``t2``,
# the user's timestamp two activities back; -1 = not applicable
_FEATURE_SQL = {
    "freq": "CASE WHEN t2 IS NOT NULL THEN "
    f"floor({float(3 * HOUR_MS * Q)}D / greatest(ts_ms - t2, 1)) ELSE -1 END",
    "clen": f"CASE WHEN {_COMMENT} THEN CAST(length(content) AS BIGINT) ELSE -1 END",
    "plen": f"CASE WHEN {_POST} THEN CAST(length(content) AS BIGINT) ELSE -1 END",
    "cratio": f"CASE WHEN {_COMMENT} THEN floor(({_RATIO}) * {Q}) ELSE -1 END",
    "pratio": f"CASE WHEN {_POST} THEN floor(({_RATIO}) * {Q}) ELSE -1 END",
}
# the running sums skip the sentinels
_VALUES = {f: f"CASE WHEN {f} != -1 THEN {f} END" for f in FEATURES}


def _outside(f: str, lo: bool = True) -> str:
    x = f"CAST({f} AS DOUBLE)"
    far = f"{x} > 2.0D * {f}_avg"
    if lo:
        far = f"{x} < 0.5D * {f}_avg OR {far}"
    return f"({f} != -1 AND ({far}))"


# the threshold rule (frequency: only too high)
_ABNORMAL = " OR ".join(
    [_outside("freq", lo=False)] + [_outside(f) for f in FEATURES[1:]]
)


def _features(rows: DataFrame, *keep: str) -> DataFrame:
    """``rows`` (with ``content`` and ``t2``) → the feature vector."""
    return rows.selectExpr(
        "ts_ms", "id", "kind", "person_id", *keep,
        *[f"{e} AS {f}" for f, e in _FEATURE_SQL.items()],
    )


def user_features(acts: DataFrame) -> DataFrame:
    """Per-activity feature vector (ts_ms, id, kind, person_id, freq,
    clen, plen, cratio, pratio) — `Features.update`
    (`AnomalousUserDetector.java:110-143`): frequency from the last three
    activity timestamps of the user, content features from the CURRENT
    activity's kind (comment/reply vs post vs other), -1 sentinels
    elsewhere. Fractionals are 1e-6 fixed-point BIGINTs."""
    return _features(acts.selectExpr("*", f"lag(ts_ms, 2) {_BY_USER} AS t2"))


def _ranges(spark) -> int:
    # one range per core (capped by the shuffle width): a micro-batch is
    # small, and a range per shuffle partition ran three 32-task stages
    # over a few hundred rows
    return min(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


def scored(acts: DataFrame, ring: DataFrame) -> DataFrame:
    """The fold's one lazy pass: per-activity features, each user's next
    ring-buffer row (``__last`` marks the user's newest activity,
    ``__prev`` the one before it), and the per-range running sums of the
    range-prefix plan (`operators/prefix.py::range_running_sums` — no
    single-partition window, the widest window any reducer sees is one
    range)."""
    # a merge join: the per-user window reuses its person_id
    # partitioning, and AQE would otherwise turn it into a broadcast at
    # run time — one more job for no saved exchange. An empty ring is
    # pruned by the optimizer.
    joined = acts.selectExpr(
        "ts_ms", "id", "kind", "person_id", "content"
    ).join(ring.hint("merge"), "person_id", "left")
    # two-back timestamp: in-input lag, else the carried ring buffer
    windowed = joined.selectExpr(
        "ts_ms", "id", "kind", "person_id", "content",
        f"coalesce(lag(ts_ms, 2) {_BY_USER}, "
        f"CASE row_number() {_BY_USER} WHEN 1 THEN s1 WHEN 2 THEN s0 END)"
        " AS t2",
        f"lead(ts_ms) {_BY_USER} IS NULL AS __last",
        f"coalesce(lag(ts_ms) {_BY_USER}, s0) AS __prev",
    )
    return range_running_sums(
        _features(windowed, "__last", "__prev"), _ORDER, _VALUES,
        num_partitions=_ranges(acts.sparkSession),
    )


class Fold(NamedTuple):
    flagged: DataFrame  # (ts_ms, user_id) of each abnormal activity
    ring: DataFrame  # RING_SCHEMA: one row per user active in the input
    sums: dict[str, tuple[int, int]]  # per-feature (sum, count) after it
    seen: Row  # observed on the pass: rows, parts, lo / hi ts_ms


def fold(
    acts: DataFrame, ring: DataFrame, sums: dict[str, tuple[int, int]]
) -> Fold:
    """Fold the activities ``acts`` — all later in event time than what
    ``ring`` (the users' ring buffers, RING_SCHEMA) and ``sums`` (each
    feature's running (sum, count)) summarize — in ONE job: :func:`scored`
    is materialized, and the same job observes the per-range (sum, count)
    partials and the ``ts_ms`` span. The prefix offsets are then a
    projection on the materialized frame, and the flagged rows and the
    ring rows are lazy filters of it. The means include the current
    activity (`Task3Evaluator.java:81-89`: the signature update precedes
    the isNormal check); integer fixed-point sums are associative, so the
    fold is bit-identical to one global ordered scan, wherever the input
    is cut."""
    n = _ranges(acts.sparkSession)
    frame, seen = materialize(
        scored(acts, ring),
        parts=range_partials(_VALUES, n),
        lo=F.min("ts_ms"),
        hi=F.max("ts_ms"),
    )
    totals, after = range_totals(seen.parts, _VALUES, sums)
    # try_divide: the count is 0 until a feature's first non-sentinel
    # value, and null is the intended "no mean yet" (comparisons false)
    avgs = [
        f"try_divide(CAST({s} AS DOUBLE), {c}) AS {f}_avg"
        for f, (s, c) in totals.items()
    ]
    flagged = (
        frame.selectExpr("ts_ms", "person_id", *FEATURES, *avgs)
        .filter(_ABNORMAL)
        .selectExpr("ts_ms", "person_id AS user_id")
    )
    ring_rows = frame.filter("__last").selectExpr(
        "person_id", "ts_ms AS s0", "__prev AS s1"
    )
    return Fold(flagged, ring_rows, after, seen)


def anomalies(acts: DataFrame) -> DataFrame:
    """(ts_ms, user_id) rows whose feature vector is abnormal vs the global
    running means — :func:`fold` over the whole input from the empty
    state."""
    empty = local_frame(acts.sparkSession, RING_SCHEMA)
    return fold(acts, empty, {f: (0, 0) for f in FEATURES}).flagged
