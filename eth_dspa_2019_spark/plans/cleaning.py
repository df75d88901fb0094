"""Registered cleaning-job queries (C1–C3): like-validity filter, comment
forest validity filter, cascading timestamp repair, and the post-repair
invariant checker — over a deterministically perturbed "raw" stream
(`SN/cleaning/StreamsCleaner.java`, `OrderedFileGenerator.java`,
`OrderedFileChecker.java`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io.cache import query_data
from ..operators.cleaning import (
    BACKDATE_MOD,
    BACKDATE_MS,
    MIN_BUMP_MS,
    invariant_counts,
    repair_comment_tree,
    valid_comment_tree,
    valid_likes,
    with_raw_ts,
)
from ..sources.activity import load_activities
from .registry import register
from .social import _O_ACTS, _O_BASE

_O_RAW = f"""
    raw AS (
      SELECT *, ts_ms - (CASE WHEN kind <> 'post'
               AND (CASE WHEN kind = 'like' THEN person_id + id ELSE id END)
                   % {BACKDATE_MOD} = 0
               THEN {BACKDATE_MS} ELSE 0 END) AS raw_ts
      FROM acts
    )
"""


def _o_fix(child: str, parent: str) -> str:
    return (
        f"CASE WHEN {parent} >= {child} THEN {child} + 2 * "
        f"(CASE WHEN {parent} = {child} THEN {MIN_BUMP_MS} "
        f"ELSE {parent} - {child} END) ELSE {child} END"
    )


_O_WALK = f"""
    walk(id, kind, raw_ts, ts_fixed, valid) AS (
      SELECT c.id, c.kind, c.raw_ts,
             {_o_fix('c.raw_ts', 'p.raw_ts')},
             c.raw_ts > p.raw_ts
      FROM raw c JOIN raw p ON c.last_post = p.id AND p.kind = 'post'
      WHERE c.kind = 'comment'
      UNION ALL
      SELECT r.id, r.kind, r.raw_ts,
             {_o_fix('r.raw_ts', 'w.ts_fixed')},
             w.valid AND r.raw_ts > w.raw_ts
      FROM raw r JOIN walk w ON r.last_comment = w.id
      WHERE r.kind = 'reply'
    )
"""

_O_LIKES_FIXED = f"""
    likes_fixed AS (
      SELECT l.person_id, l.last_post AS post_id,
             {_o_fix('l.raw_ts', 'p.raw_ts')} AS ts_fixed,
             p.raw_ts AS post_ts
      FROM raw l JOIN raw p ON l.last_post = p.id AND p.kind = 'post'
      WHERE l.kind = 'like'
    )
"""


#: The only columns the C1/C2/C3 cleaners read — the checkpoint carries
#: these 7 narrow fields instead of the full 16-column parse frame with
#: content strings (guide §2.3 projection, applied at the cache boundary).
_RAW_COLS = ("kind", "id", "person_id", "post_id", "parent_id", "ts_ms", "raw_ts")


# The three cleaning queries share the raw stream and (two of them) the
# forest walk — materialize each once per session+scale.
@query_data
def _raw_acts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        with_raw_ts(load_activities(spark, sf_dir))
        .select(*_RAW_COLS)
        .localCheckpoint(eager=True)
    )


@query_data
def _walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forest walk computes both C1 validity and C2 repairs in one
    pass — shared by three queries, materialized once."""
    from ..operators.cleaning import _forest_walk

    # no outer checkpoint: the walk's per-level frames are already
    # localCheckpointed, so the cached plan is a cheap union of
    # materialized RDDs (and Spark 4's constraint rewrite rejects a
    # checkpoint directly on that union).
    return _forest_walk(_raw_acts(spark, sf_dir))


@register(
    "clean_likes_valid",
    oracle=f"""
    WITH {_O_BASE}, {_O_ACTS}, {_O_RAW}
    SELECT l.person_id, l.last_post AS post_id, l.raw_ts AS ts_ms
    FROM raw l JOIN raw p ON l.last_post = p.id AND p.kind = 'post'
    WHERE l.kind = 'like' AND l.raw_ts > p.raw_ts
    """,
)
def clean_likes_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/J6: drop likes dated at-or-before their post
    (`StreamsCleaner.java:63-83`) — join-filter on the post timestamp."""
    return valid_likes(_raw_acts(spark, sf_dir))


@register(
    "clean_comment_tree",
    oracle=f"""
    WITH RECURSIVE {_O_BASE}, {_O_ACTS}, {_O_RAW}, {_O_WALK}
    SELECT id, kind, raw_ts AS ts_ms FROM walk WHERE valid
    """,
)
def clean_comment_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: keep only comments/replies whose post→node timestamp path is
    strictly increasing (subtree delete, `StreamsCleaner.java:115-203`) —
    level-by-level join walk of the comment forest."""
    from pyspark.sql import functions as F

    return (
        _walk(spark, sf_dir)
        .filter(F.col("valid"))
        .select("id", "kind", F.col("raw_ts").alias("ts_ms"))
    )


@register(
    "repair_timestamps",
    oracle=f"""
    WITH RECURSIVE {_O_BASE}, {_O_ACTS}, {_O_RAW}, {_O_WALK}
    SELECT id, kind, ts_fixed FROM walk
    """,
)
def repair_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/F12: cascading child-past-parent timestamp repair
    (`OrderedFileGenerator.java:38-56`) down the comment forest."""
    return _walk(spark, sf_dir).select("id", "kind", "ts_fixed")


@register(
    "cleaned_invariants",
    oracle=f"""
    WITH RECURSIVE {_O_BASE}, {_O_ACTS}, {_O_RAW}, {_O_WALK}, {_O_LIKES_FIXED}
    SELECT
      (SELECT count(*) FROM likes_fixed) AS n_likes,
      (SELECT count(*) FROM walk WHERE kind = 'comment') AS n_comments,
      (SELECT count(*) FROM walk WHERE kind = 'reply') AS n_replies,
      (SELECT count(*) FROM likes_fixed WHERE ts_fixed <= post_ts)
        AS like_violations,
      (SELECT count(*) FROM walk w
        JOIN raw c ON w.id = c.id AND c.kind = 'comment'
        JOIN raw p ON c.last_post = p.id AND p.kind = 'post'
        WHERE w.kind = 'comment' AND w.ts_fixed <= p.raw_ts)
        AS comment_violations,
      (SELECT count(*) FROM walk w
        JOIN raw r ON w.id = r.id AND r.kind = 'reply'
        JOIN walk wp ON r.last_comment = wp.id
        WHERE w.kind = 'reply' AND w.ts_fixed <= wp.ts_fixed)
        AS reply_violations
    """,
)
def cleaned_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: OrderedFileChecker invariants on the repaired stream — every
    like/comment strictly after its post, every reply strictly after its
    parent (`OrderedFileChecker.java:31-76`); violation counts must be 0."""
    return invariant_counts(
        _raw_acts(spark, sf_dir),
        tree=_walk(spark, sf_dir).select("id", "kind", "ts_fixed"),
    )
