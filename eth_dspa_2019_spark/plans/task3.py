"""Registered Task 3 (anomaly detection) queries: the per-user feature
stream and the flagged anomalous users
(`SN/task/anomalydetection/AnomalousUserDetector.java`, batch spec
`SN/validation/Task3Evaluator.java:45-98`).

The features do not depend on reply resolution (only kind/content/
timestamps/person), so the pipeline runs on the parsed stream directly —
the reference resolves first only because its tasks share one input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.anomaly import FEATURES, HOUR_MS, Q, anomalies, user_features
from ..sources.activity import load_activities
from .registry import register
from .social import _O_ACTS, _O_BASE

# Java's `\s` class, as the engine's `split(content, '\\s+')` uses it —
# RE2's `\s` leaves out the vertical tab
_WS = "'[ \\t\\n\\x0b\\f\\r]+'"
_RATIO = (
    f"len(list_distinct(regexp_split_to_array(content, {_WS})))"
    f" / len(regexp_split_to_array(content, {_WS}))"
)

_O_FEATS = f"""
    feats AS (
      SELECT ts_ms, id, kind, person_id,
             CASE WHEN lag(ts_ms, 2) OVER wu IS NOT NULL
                  THEN cast(floor({float(3 * HOUR_MS * Q)}
                       / greatest(ts_ms - lag(ts_ms, 2) OVER wu, 1)) AS bigint)
                  ELSE -1 END AS freq,
             CASE WHEN kind IN ('comment', 'reply')
                  THEN cast(length(content) AS bigint) ELSE -1 END AS clen,
             CASE WHEN kind = 'post'
                  THEN cast(length(content) AS bigint) ELSE -1 END AS plen,
             CASE WHEN kind IN ('comment', 'reply')
                  THEN cast(floor({_RATIO} * {Q}) AS bigint)
                  ELSE -1 END AS cratio,
             CASE WHEN kind = 'post'
                  THEN cast(floor({_RATIO} * {Q}) AS bigint)
                  ELSE -1 END AS pratio
      FROM acts
      WINDOW wu AS (PARTITION BY person_id ORDER BY ts_ms, id, kind)
    )
"""


@register(
    "task3_user_features",
    oracle=f"""
    WITH {_O_BASE}, {_O_ACTS}, {_O_FEATS}
    SELECT ts_ms, id, kind, person_id AS user_id,
           freq, clen, plen, cratio, pratio
    FROM feats
    """,
)
def task3_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/F4-F6 batch form: the per-activity feature vector from per-user
    lag state (frequency over the last three timestamps, content features
    of the current activity, -1 sentinels)."""
    feats = user_features(load_activities(spark, sf_dir))
    return feats.withColumnRenamed("person_id", "user_id")


_RUNNING = ", ".join(
    f"""cast(sum(CASE WHEN {f} != -1 THEN {f} END) OVER wr AS double)
        / sum(CASE WHEN {f} != -1 THEN 1 END) OVER wr AS {f}_avg"""
    for f in FEATURES
)

_ABNORMAL = """
    (freq != -1 AND freq > 2.0 * freq_avg)
    OR (clen != -1 AND (clen < 0.5 * clen_avg OR clen > 2.0 * clen_avg))
    OR (plen != -1 AND (plen < 0.5 * plen_avg OR plen > 2.0 * plen_avg))
    OR (cratio != -1 AND (cratio < 0.5 * cratio_avg OR cratio > 2.0 * cratio_avg))
    OR (pratio != -1 AND (pratio < 0.5 * pratio_avg OR pratio > 2.0 * pratio_avg))
"""


@register(
    "task3_anomalies",
    oracle=f"""
    WITH {_O_BASE}, {_O_ACTS}, {_O_FEATS},
    sigs AS (
      SELECT ts_ms, person_id, freq, clen, plen, cratio, pratio, {_RUNNING}
      FROM feats
      WINDOW wr AS (ORDER BY ts_ms, id, person_id, kind
                    ROWS UNBOUNDED PRECEDING)
    )
    SELECT ts_ms, person_id AS user_id
    FROM sigs WHERE {_ABNORMAL}
    """,
)
def task3_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/F7/O4 deterministic spec: global running per-feature means
    (sentinel-aware, updated through the current activity) + the
    0.5×/2× threshold predicate; output (ts_ms, user_id) per abnormal
    activity."""
    return anomalies(load_activities(spark, sf_dir))
