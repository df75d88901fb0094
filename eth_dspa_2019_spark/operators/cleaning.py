"""Batch cleaning jobs C1–C3 (`SN/cleaning/StreamsCleaner.java:23-204`,
`SN/cleaning/OrderedFileGenerator.java:17-210`,
`SN/cleaning/OrderedFileChecker.java:13-82`).

- C1 StreamsCleaner: posts pass through; likes dated at-or-before their post
  are DROPPED (join-filter, J6); comments/replies whose root-path timestamps
  are not strictly increasing are dropped with their whole subtree.
- C2 OrderedFileGenerator: REPAIR instead of delete — a child dated
  at-or-before its (already-repaired) parent is bumped to
  ``child + 2·(parent − child)`` (diff 0 → 10 s), cascading down the tree
  (F12). Repairs keep millisecond precision (the reference re-formats
  repaired dates at second precision — a serialization artifact, not a
  semantic we preserve).
- C3 OrderedFileChecker: invariant queries — every like/comment strictly
  after its post, every reply strictly after its parent; violation counts
  must be zero on repaired data.

Both tree walks are level-by-level join iterations (bounded by comment-tree
depth, which is small in any real forum). The fixture "raw" stream is the
parsed synthetic stream with a deterministic backdating perturbation so the
cleaners have real violations to fix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io.materialize import broadcast_if_fits, materialize
from ..schemas import KIND_COMMENT, KIND_LIKE, KIND_POST, KIND_REPLY

BACKDATE_MS = 7_200_000  # 2 h deterministic perturbation
BACKDATE_MOD = 17
MIN_BUMP_MS = 10_000  # Time.seconds(10), `OrderedFileGenerator.java:44`
MAX_DEPTH = 64


def with_raw_ts(acts: DataFrame) -> DataFrame:
    """Fixture perturbation: backdate every BACKDATE_MOD-th comment/reply
    (by id) and like (by person+post id — likes carry no own id) by 2 h,
    producing parent-after-child violations for the cleaners to handle.
    Posts keep their timestamps (the reference cleaners never touch posts).
    """
    key = F.when(F.col("kind") == KIND_LIKE, F.col("person_id") + F.col("id")).otherwise(
        F.col("id")
    )
    backdate = F.when(
        (F.col("kind") != KIND_POST) & (key % BACKDATE_MOD == 0),
        F.lit(BACKDATE_MS),
    ).otherwise(F.lit(0))
    return acts.withColumn("raw_ts", F.col("ts_ms") - backdate)


def _posts_ts(acts: DataFrame) -> DataFrame:
    return acts.filter(F.col("kind") == KIND_POST).select(
        F.col("id").alias("pid"), F.col("raw_ts").alias("parent_ts")
    )


def valid_likes(acts: DataFrame) -> DataFrame:
    """C1 like filter (J6): keep likes strictly after their post."""
    posts = _posts_ts(acts)
    return (
        acts.filter(F.col("kind") == KIND_LIKE)
        .join(posts, F.col("post_id") == F.col("pid"))
        .filter(F.col("raw_ts") > F.col("parent_ts"))
        .select("person_id", "post_id", F.col("raw_ts").alias("ts_ms"))
    )


def _fix(child: Column, parent: Column) -> Column:
    """F12: bump child past its repaired parent (diff 0 → 10 s)."""
    diff = parent - child
    bump = 2 * F.when(diff == 0, F.lit(MIN_BUMP_MS)).otherwise(diff)
    return F.when(parent >= child, child + bump).otherwise(child)


def _forest_walk(acts: DataFrame, keep_semantics: bool | None = None) -> DataFrame:
    """Level-by-level walk of the comment forest computing BOTH cleaning
    outcomes per node: ``valid`` (C1 — raw post→node path strictly
    increasing) and ``ts_fixed`` (C2 — cascaded repair). Returns
    (id, kind, raw_ts, ts_fixed, valid); the C1/C2 wrappers project.

    keep_semantics retains the legacy projection behavior: True → C1
    filter+project, False → C2 project, None → full frame.
    """
    # the posts side's observed rows size its join (big forests keep the
    # shuffle join, `io/materialize.py::broadcast_if_fits`)
    posts, seen = materialize(_posts_ts(acts))
    comments = (
        acts.filter(F.col("kind") == KIND_COMMENT)
        .join(
            broadcast_if_fits(posts, seen.rows), F.col("post_id") == F.col("pid")
        )
        .select(
            "id",
            "kind",
            "raw_ts",
            _fix(F.col("raw_ts"), F.col("parent_ts")).alias("ts_fixed"),
            (F.col("raw_ts") > F.col("parent_ts")).alias("valid"),
        )
    )
    done, seen = materialize(comments)
    frontier, n_frontier = done, seen.rows
    # (no seed checkpoint: callers pass the materialized raw-stream cache,
    # so level 0 reads this filter straight off that checkpoint; later
    # levels re-derive pending from their own materialized step)
    pending = acts.filter(F.col("kind") == KIND_REPLY).select(
        "id", "kind", "raw_ts", "parent_id"
    )
    # One LEFT join materialization per level: the matched rows ARE the
    # level's hits and the unmatched rows ARE the next pending set, so
    # both splits read the same checkpointed frame, and the hit count
    # observed on it sizes the next level's frontier join and ends the
    # walk — a forest with orphaned parents exits after the first
    # no-progress level instead of spinning MAX_DEPTH empty rounds.
    for _ in range(MAX_DEPTH):
        step, seen = materialize(
            pending.alias("c")
            .join(
                broadcast_if_fits(frontier.alias("p"), n_frontier),
                F.col("c.parent_id") == F.col("p.id"),
                "left",
            )
            .select(
                F.col("c.id").alias("id"),
                F.col("c.kind").alias("kind"),
                F.col("c.raw_ts").alias("raw_ts"),
                F.col("c.parent_id").alias("parent_id"),
                F.col("p.id").isNotNull().alias("hitp"),
                _fix(F.col("c.raw_ts"), F.col("p.ts_fixed")).alias(
                    "ts_fixed"
                ),
                (
                    F.col("p.valid")
                    & (F.col("c.raw_ts") > F.col("p.raw_ts"))
                ).alias("valid"),
            ),
            hit=F.count_if("hitp"),
        )
        if not seen.hit:
            break  # no reply left, or orphaned parents only
        hit = step.filter("hitp").select(
            "id", "kind", "raw_ts", "ts_fixed", "valid"
        )
        pending = step.filter(~F.col("hitp")).select(
            "id", "kind", "raw_ts", "parent_id"
        )
        done = done.unionByName(hit)
        frontier, n_frontier = hit, seen.hit
        if seen.hit == seen.rows:
            break  # nothing left pending
    if keep_semantics is True:
        return done.filter(F.col("valid")).select(
            "id", "kind", F.col("raw_ts").alias("ts_ms")
        )
    if keep_semantics is False:
        return done.select("id", "kind", "ts_fixed")
    return done


def valid_comment_tree(acts: DataFrame) -> DataFrame:
    """C1 comment-forest filter: nodes on strictly-increasing root paths."""
    return _forest_walk(acts, keep_semantics=True)


def repair_comment_tree(acts: DataFrame) -> DataFrame:
    """C2 cascading timestamp repair over the comment forest."""
    return _forest_walk(acts, keep_semantics=False)


def invariant_counts(acts: DataFrame, tree: DataFrame | None = None) -> DataFrame:
    """C3 checker over the repaired stream: counts + violation counts
    (child at-or-before parent) per rule — all violation counts must be 0.
    Pass a precomputed ``tree`` (repair_comment_tree output) to reuse it.

    Single-job form: each rule's rows carry a tag + violation flag, the
    three rule streams union, and one conditional aggregation produces all
    six counters — one Spark job instead of seven driver-blocking
    ``.count()``s (each of which re-derived its join pipeline). Parent
    lookups are LEFT joins with a null-guarded violation flag, so a child
    whose parent is missing still counts toward the rule's total (exactly
    the inner-join-for-violations semantics of the per-count form).
    """
    posts = _posts_ts(acts)
    if tree is None:
        tree = repair_comment_tree(acts)
    likes_c = (
        acts.filter(F.col("kind") == KIND_LIKE)
        .join(posts, F.col("post_id") == F.col("pid"))
        .select(
            F.lit("like").alias("rule"),
            (
                _fix(F.col("raw_ts"), F.col("parent_ts"))
                <= F.col("parent_ts")
            ).alias("viol"),
        )
    )
    cacts = acts.filter(F.col("kind") == KIND_COMMENT).select("id", "post_id")
    comments_c = (
        tree.filter(F.col("kind") == KIND_COMMENT)
        .select("id", "ts_fixed")
        .join(cacts, "id", "left")
        .join(posts, F.col("post_id") == F.col("pid"), "left")
        .select(
            F.lit("comment").alias("rule"),
            (
                F.col("parent_ts").isNotNull()
                & (F.col("ts_fixed") <= F.col("parent_ts"))
            ).alias("viol"),
        )
    )
    racts = acts.filter(F.col("kind") == KIND_REPLY).select("id", "parent_id")
    parents = tree.select(
        F.col("id").alias("parent_id"), F.col("ts_fixed").alias("parent_fixed")
    )
    replies_c = (
        tree.filter(F.col("kind") == KIND_REPLY)
        .select("id", "ts_fixed")
        .join(racts, "id", "left")
        .join(parents, "parent_id", "left")
        .select(
            F.lit("reply").alias("rule"),
            (
                F.col("parent_fixed").isNotNull()
                & (F.col("ts_fixed") <= F.col("parent_fixed"))
            ).alias("viol"),
        )
    )
    checks = likes_c.unionByName(comments_c).unionByName(replies_c)

    def _n(rule: str) -> F.Column:
        return F.coalesce(
            F.sum(F.when(F.col("rule") == rule, 1).otherwise(0)), F.lit(0)
        ).cast("bigint")

    def _v(rule: str) -> F.Column:
        return F.coalesce(
            F.sum(
                F.when((F.col("rule") == rule) & F.col("viol"), 1).otherwise(0)
            ),
            F.lit(0),
        ).cast("bigint")

    return checks.agg(
        _n("like").alias("n_likes"),
        _n("comment").alias("n_comments"),
        _n("reply").alias("n_replies"),
        _v("like").alias("like_violations"),
        _v("comment").alias("comment_violations"),
        _v("reply").alias("reply_violations"),
    )
