"""Registered social-network queries: activity parse round-trip, reply→post
resolution, and Task 1 (active-post statistics).

Oracle strategy (dual implementation, the reference's own methodology,
`SN/validation/SlidingWindowEvaluator.java:35-59`): the Spark side goes
events → pipe-format strings → tag-dispatch parser → joins/windows; the
DuckDB oracle re-derives the expected values DIRECTLY from the events table
(same synthesis spec, no string round-trip) and resolves the comment forest
with a recursive CTE. Any parser, resolution, or windowing bug shows up as a
hash mismatch.

The synthesis spec constants live in sources/activity.py — the `_O_BASE`
CTE below must stay in lockstep with `synth_activity_lines`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.cache import query_data
from ..io.materialize import materialize
from ..operators.resolve import resolved_activities
from ..schemas import KIND_COMMENT, KIND_REPLY
from ..sources.activity import LANGS, load_activities
from .registry import register

# DuckDB mirror of sources.activity.synth_base: kind selector, truncated
# epoch-millis per creationDate format variant, latest-post / latest-comment
# window refs, doc-content join.
_O_BASE = """
    base AS (
      SELECT e.event_id AS id,
             e.user_id AS person_id,
             CASE WHEN e.event_id % 10 <= 2 THEN 'post'
                  WHEN e.event_id % 10 <= 6 THEN 'comment'
                  WHEN e.event_id % 10 <= 8 THEN 'reply'
                  ELSE 'like' END AS kind,
             CASE e.event_id % 5
               WHEN 0 THEN epoch_us(e.ts) // 1000000 * 1000
               WHEN 1 THEN epoch_us(e.ts) // 100000 * 100
               WHEN 3 THEN epoch_us(e.ts) // 1000
               ELSE epoch_us(e.ts) // 10000 * 10
             END AS ts_ms,
             max(CASE WHEN e.event_id % 10 <= 2 THEN e.event_id END)
               OVER (ORDER BY e.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_post,
             max(CASE WHEN e.event_id % 10 BETWEEN 3 AND 8 THEN e.event_id END)
               OVER (ORDER BY e.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_comment,
             cast(regexp_extract(e.props, '(\\d+)', 1) AS bigint) AS k,
             length(d.text) AS content_len,
             d.text AS content
      FROM events e
      LEFT JOIN documents d
        ON d.doc_id = e.event_id % (SELECT count(*) FROM documents)
    )
"""

# base with the wire-visible id (likes carry no own id: Like.getId == postId)
_O_ACTS = """
    acts AS (
      SELECT * REPLACE (CASE WHEN kind = 'like' THEN last_post ELSE id END AS id)
      FROM base
    )
"""

# Recursive resolution of the comment forest (batch spec of
# `SN/validation/GenerateExpectedMappings.java:25-57`).
_O_RESOLVE = """
    resolve AS (
      SELECT id, last_post AS root FROM base WHERE kind = 'comment'
      UNION ALL
      SELECT b.id, r.root
      FROM base b JOIN resolve r ON b.last_comment = r.id
      WHERE b.kind = 'reply'
    )
"""

_O_RESOLVED = """
    resolved AS (
      SELECT b.kind, b.id, b.person_id, b.ts_ms, b.content_len, b.content,
             CASE WHEN b.kind = 'post' THEN b.id
                  WHEN b.kind IN ('comment', 'like') THEN b.last_post
                  ELSE r.root END AS post_id
      FROM base b
      LEFT JOIN resolve r ON b.kind = 'reply' AND b.id = r.id
    )
"""

_LANG_CASE = "CASE id % 4 " + " ".join(
    f"WHEN {i} THEN '{lang}'" for i, lang in enumerate(LANGS)
) + " END"


@register(
    "activity_parse",
    oracle=f"""
    WITH {_O_BASE}
    SELECT kind,
           -- likes carry no id on the wire; Like.getId() == postId
           CASE WHEN kind = 'like' THEN last_post ELSE id END AS id,
           person_id, ts_ms,
           CASE WHEN kind = 'post' THEN id
                WHEN kind IN ('comment', 'like') THEN last_post
                ELSE -1 END AS post_ref,
           CASE WHEN kind = 'reply' THEN last_comment END AS parent_ref,
           CASE WHEN kind != 'like' THEN content_len END AS content_len,
           CASE WHEN kind = 'post' THEN 2 * k + 100 END AS tag_sum,
           CASE WHEN kind = 'post' THEN {_LANG_CASE} END AS language,
           CASE WHEN kind = 'post' THEN id % 100 END AS forum_id,
           CASE WHEN kind != 'like' THEN id % 50 END AS place_id
    FROM base
    """,
)
def activity_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end wire-format round-trip: synthesize pipe lines, run the
    tag-dispatch parser + timestamp-zoo parse + tags-array parse, project
    the typed fields. The oracle derives the same fields without strings —
    this is the parser's correctness gate (P4/F1/F3/F13, S4/S5)."""
    acts = load_activities(spark, sf_dir)
    return acts.select(
        "kind",
        "id",
        "person_id",
        "ts_ms",
        F.col("post_id").alias("post_ref"),
        F.col("parent_id").alias("parent_ref"),
        F.length("content").alias("content_len"),
        F.aggregate(
            "tags", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("tag_sum"),
        "language",
        "forum_id",
        F.col("place_id").alias("place_id"),
    )


@register(
    "reply_post_resolution",
    oracle=f"""
    WITH RECURSIVE {_O_BASE}, {_O_RESOLVE}
    SELECT id AS child_id, root AS root_post_id FROM resolve
    """,
)
def reply_post_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch reply→root-post resolution via the pointer-doubling chase
    (J1/J5/O2 batch spec) vs the oracle's recursive CTE: the comment and
    reply rows of the session's resolved stream, so one social pass
    chases the forest once."""
    return (
        _resolved(spark, sf_dir)
        .filter(f"kind IN ('{KIND_COMMENT}', '{KIND_REPLY}')")
        .selectExpr("id AS child_id", "post_id AS root_post_id")
    )


#: The only columns any _resolved consumer reads (task1 windows, task2
#: activity counts, post_thread_children). Checkpointing just these makes
#: the second materialization ~5 narrow columns instead of the full
#: 16-column parse frame with content strings (guide §2.3 "project before
#: the exchange" applied to the cache boundary).
_RESOLVED_COLS = ("kind", "id", "person_id", "ts_ms", "post_id")


@query_data
def _resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resolved activity stream: the resolution fixpoint is iterative,
    so it runs once per session + scale."""
    df = resolved_activities(load_activities(spark, sf_dir))
    return materialize(df.select(*_RESOLVED_COLS))[0]


def _task1_counts(spark: SparkSession, sf_dir: str, kind: str, out: str) -> DataFrame:
    """Two-stage sliding count: 30-min tumbling conditional partials per
    post, re-aggregated into 12h/30m sliding windows — the reference's
    window-slicing optimization (`ActivePostStatistician.java:56-78`,
    SURVEY §4.1), which shrinks the sliding shuffle 24×."""
    acts = _resolved(spark, sf_dir).withColumn(
        "ets", F.timestamp_millis(F.col("ts_ms"))
    )
    partial = acts.groupBy(
        F.window("ets", "30 minutes").alias("w30"), "post_id"
    ).agg(F.sum(F.when(F.col("kind") == kind, 1).otherwise(0)).alias("pn"))
    return (
        partial.groupBy(
            F.window(F.col("w30.start"), "12 hours", "30 minutes").alias("w"),
            "post_id",
        )
        .agg(F.sum("pn").alias(out))
        .select(
            F.col("w.end").cast("long").alias("window_end"),
            "post_id",
            out,
        )
    )


def _o_task1_counts(kind: str, out: str) -> str:
    return f"""
    WITH RECURSIVE {_O_BASE}, {_O_RESOLVE}, {_O_RESOLVED}
    SELECT cast((ts_ms // 1800000) * 1800 - i * 1800 + 43200 AS bigint)
             AS window_end,
           post_id,
           count(*) FILTER (kind = '{kind}') AS {out}
    FROM resolved, range(0, 24) t(i)
    GROUP BY 1, 2
    """


@register("task1_comment_counts", oracle=_o_task1_counts("comment", "n_comments"))
def task1_comment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Task 1: comments per post per 12h/30m sliding window over the
    RESOLVED stream — every post with any activity in the window appears,
    zero counts included (`Task1Evaluator.java:56-95`, A1/A2/W2)."""
    return _task1_counts(spark, sf_dir, "comment", "n_comments")


@register("task1_reply_counts", oracle=_o_task1_counts("reply", "n_replies"))
def task1_reply_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Task 1: replies per post per 12h/30m sliding window
    (`Task1Evaluator.java:56-95`)."""
    return _task1_counts(spark, sf_dir, "reply", "n_replies")


@register(
    "task1_unique_users",
    oracle=f"""
    WITH RECURSIVE {_O_BASE}, {_O_RESOLVE}, {_O_RESOLVED}
    SELECT cast((ts_ms // 3600000) * 3600 - i * 3600 + 43200 AS bigint)
             AS window_end,
           post_id,
           count(DISTINCT person_id) AS n_users
    FROM resolved, range(0, 12) t(i)
    GROUP BY 1, 2
    """,
)
def task1_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Task 1: unique users per post per 12h/1h sliding window, ALL activity
    kinds counted (`Task1Evaluator.java:75-84` — the hour-aligned
    output_users windows are exactly the 12h/1h slide grid, A3/A4/W3).

    Scale-safe two-stage shape (same as `unique_users_two_stage`): dedupe
    (hour-bucket, post, person) FIRST — a map-side-combinable distinct that
    bounds the stream at |posts|·|users|/hour — THEN replicate 12× through
    the sliding-window `Expand` and countDistinct. The naive form replicated
    every raw event 12× before deduping (SCALE.md's "known scale-killer");
    the hop (1h) equals the bucket width, so the results are identical.
    `tests/test_plans.py::test_task1_unique_users_dedups_before_expand`
    asserts the aggregate-below-Expand plan shape."""
    dedup = (
        _resolved(spark, sf_dir)
        .select(
            (F.floor(F.col("ts_ms") / 3600000) * 3600)
            .cast("long")
            .alias("h"),
            "post_id",
            "person_id",
        )
        .distinct()
    )
    return (
        dedup.groupBy(
            F.window(F.timestamp_seconds("h"), "12 hours", "1 hour").alias(
                "w"
            ),
            "post_id",
        )
        .agg(F.countDistinct("person_id").alias("n_users"))
        .select(
            F.col("w.end").cast("long").alias("window_end"),
            "post_id",
            "n_users",
        )
    )


@register(
    "thread_depth_histogram",
    oracle=f"""
    WITH RECURSIVE {_O_BASE},
    depth AS (
      SELECT id, 1 AS d FROM base WHERE kind = 'comment'
      UNION ALL
      SELECT b.id, dp.d + 1
      FROM base b JOIN depth dp ON b.last_comment = dp.id
      WHERE b.kind = 'reply'
    )
    SELECT cast(d AS bigint) AS depth, count(*) AS n
    FROM depth GROUP BY 1
    """,
)
def thread_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment-tree depth profile: how many comments/replies sit at each
    distance from their root post — the structural histogram of the
    resolution forest (deep chains are what make J1/J5 resolution hard;
    this measures them). Spark side: the hop-accumulating
    pointer-doubling fixpoint (`operators/resolve.py::comment_depths`,
    O(log depth) joins); oracle: the same depths via a recursive CTE."""
    from ..operators.resolve import comment_depths

    depths = comment_depths(load_activities(spark, sf_dir))
    return (
        depths.filter(F.col("depth").isNotNull())
        .groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n"))
    )
