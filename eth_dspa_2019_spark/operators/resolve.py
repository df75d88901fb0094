"""Reply→root-post resolution: the reference's central shared preprocessing
stage (`SN/task/postidresolution/PostIdResolver.java:99-225` streaming with
memcached+timers; batch spec `SN/validation/BatchPostIdResolver.java:54-91`,
`SN/validation/GenerateExpectedMappings.java:25-57`).

Spark-first design: the child→parent comment forest is resolved by ONE
**pointer-doubling chase** (:func:`chase`) over a working set of
``(id, ptr, acc)`` rows and an absorbing set of ``(id, root, depth)`` rows.
Each hop left-joins the working rows to a lookup that holds every finished
row plus the working rows themselves, so a row either completes (its
pointer reached a finished node) or jumps to its parent's pointer — two
chain positions — and the number of hops is O(log max_depth). No external
K/V store, no per-record RPC: the state is an ordinary DataFrame, and each
hop is one join materialized by ``io/materialize.py::materialize``, whose
observed done count is the loop's exit test (no probe job).

The batch queries (:func:`resolve_post_ids`, :func:`comment_depths`) run
the chase from an empty state; the stream resolver
(`streaming/resolution.py`) runs it once per micro-batch over its durable
``resolved``/``pending`` state.

The reference disambiguates overlapping post/comment id spaces with string
key prefixes ``p_``/``r_`` in memcached (F13,
`SN/task/postidresolution/PostIdResolver.java:87-91`); typed columns make
that encoding unnecessary here — comment ids and post ids live in separate
columns (``id`` vs ``root``/``post_id``) and never meet in one key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io.materialize import broadcast_if_fits, materialize
from ..schemas import KIND_COMMENT, KIND_LIKE, KIND_POST, KIND_REPLY

#: doubling hops per chase: chains up to 2^64 deep complete in one call
HOP_CAP = 64

# the one row shape of the chase: a working row carries (ptr, acc), a
# finished one (root, depth); ``done`` tells them apart
_NOT_DONE = (
    "id", "ptr", "acc", "CAST(NULL AS BIGINT) AS root",
    "CAST(NULL AS BIGINT) AS depth", "false AS done",
)
_FINISHED = (
    "id", "CAST(NULL AS BIGINT) AS ptr", "CAST(NULL AS BIGINT) AS acc",
    "root", "depth", "true AS done",
)
# one hop: parent finished → take its root, depth = acc + parent depth;
# parent still working → jump to ITS pointer, summing the collapsed edges;
# parent unseen → hold
_HOP = (
    "c.id",
    "if(m.id IS NULL, c.ptr, m.ptr) AS ptr",
    "if(m.id IS NULL, c.acc, c.acc + m.acc) AS acc",
    "m.root",
    "c.acc + m.depth AS depth",
    "coalesce(m.done, false) AS done",
)


def _pruned_state_side(
    absorbing: DataFrame, work: DataFrame, rows: int = 0
) -> DataFrame:
    """Restrict the absorbing set to the rows the chase join can match:
    semi-join on the working set's pointers, so a standing state table is
    scanned (with the pointer set pushed to the scan), never shuffled
    whole. ``rows`` bounds the working set (the chase's seed count; the
    default treats it as small): its pointers are broadcast when they fit
    the session threshold. Duplicate pointers are harmless on the build
    side of a semi-join."""
    ptrs = work.selectExpr("ptr AS id")
    return absorbing.join(broadcast_if_fits(ptrs, rows), "id", "semi")


def chase(
    work: DataFrame, absorbing: DataFrame
) -> tuple[DataFrame, DataFrame, int]:
    """Chase every ``work`` row ``(id, ptr, acc)`` up its pointers until
    it meets an ``absorbing`` row ``(id, root, depth)``; returns the lazy
    finished rows ``(id, root, depth)`` — ``depth`` is the summed ``acc``
    along the path plus the absorbing row's depth — the lazy rows still
    pending ``(id, ptr, acc)``, their pointers advanced, and the seed's
    row count, which bounds both frames (a caller sizes its joins of them
    with it).

    The seed working set is materialized once; its observed row count n
    bounds every hop's lookup (the pruned absorbing side holds at most one
    row per working pointer, the finished and working rows partition the
    seed), so the broadcast choice is made once against 2n rows. Each hop
    materializes its left join with the done count observed on it. Any
    resolvable chain finishes its lowest pending row every hop, so a hop
    that finishes nothing is the fixpoint; a hop that finishes every row
    ends the chase too."""
    work, seed = materialize(work.selectExpr(*_NOT_DONE))
    n = seed.rows
    pending, left = work, n
    done = work.filter("false")
    for _ in range(HOP_CAP):
        if left == 0:
            break
        lookup = (
            _pruned_state_side(absorbing, pending, n)
            .selectExpr(*_FINISHED)
            .unionByName(done)
            .unionByName(pending)
        )
        step, seen = materialize(
            pending.alias("c")
            .join(
                broadcast_if_fits(lookup, 2 * n).alias("m"),
                F.expr("c.ptr = m.id"),
                "left",
            )
            .selectExpr(*_HOP),
            done=F.expr("count_if(done)"),
        )
        pending = step.filter("NOT done")
        if seen.done == 0:
            break
        done = done.unionByName(step.filter("done"))
        left = seen.rows - seen.done
    return (
        done.select("id", "root", "depth"),
        pending.select("id", "ptr", "acc"),
        n,
    )


def _chase_replies(
    acts: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """The chase from an empty state: replies are the work and comments
    the absorbing rows (depth 1). Returns the comment rows and the
    chase's finished rows, pending rows and seed count."""
    comments = acts.filter(f"kind = '{KIND_COMMENT}'").selectExpr(
        "id", "post_id AS root", "1L AS depth"
    )
    return comments, *chase(
        acts.filter(f"kind = '{KIND_REPLY}'").selectExpr(
            "id", "parent_id AS ptr", "1L AS acc"
        ),
        comments,
    )


def _forest(acts: DataFrame) -> DataFrame:
    """``(id, root, depth)`` for every comment and reply. Rows still
    pending (a parent never present) keep NULL ``root`` and ``depth``."""
    comments, done, pending, _ = _chase_replies(acts)
    return comments.unionByName(done).unionByName(
        pending.selectExpr(
            "id", "CAST(NULL AS BIGINT) AS root", "CAST(NULL AS BIGINT) AS depth"
        )
    )


def resolve_post_ids(acts: DataFrame) -> DataFrame:
    """(id, root_post_id) for every comment and reply.

    Comments carry their root directly (reply_to_postId); replies start as
    pointers to their parent comment/reply and are chased to the root by
    pointer doubling (:func:`chase`). A reply whose chain never reaches a
    comment keeps a NULL root.
    """
    return _forest(acts).selectExpr("id", "root AS root_post_id")


def resolved_activities(acts: DataFrame) -> DataFrame:
    """The activity stream with every row's ``post_id`` resolved to its root
    post — the input to Tasks 1/2/3. Posts key by their own id, comments and
    likes by their direct target, replies by the chased root
    (`SN/util/Activity.java:75-77`)."""
    # only finished replies carry a root; the seed count sizes the join
    _, done, _, rows = _chase_replies(acts)
    roots = done.selectExpr("id AS rid", "root AS root_post_id")
    replies = (
        acts.filter(F.col("kind") == KIND_REPLY)
        .drop("post_id")
        .join(broadcast_if_fits(roots, rows), F.col("id") == F.col("rid"), "left")
        .withColumn("post_id", F.col("root_post_id"))
        .drop("rid", "root_post_id")
    )
    rest = acts.filter(F.col("kind").isin(KIND_POST, KIND_COMMENT, KIND_LIKE))
    return rest.unionByName(replies.select(*rest.columns))


def comment_depths(acts: DataFrame) -> DataFrame:
    """(id, depth) for every comment and reply: hops to the root post
    (comments = 1, a reply to a comment = 2, ...) — the tree-structure
    profile of the resolution forest (`SN/task/postidresolution/
    PostIdResolver.java` resolves identity; this measures the chains it
    chases).

    The same chase as :func:`resolve_post_ids`, read through its hop
    ACCUMULATOR: a working row carries (ptr, acc) = "acc original edges
    collapsed into this pointer"; jumping onto another working row adds
    its acc (path doubling sums the two collapsed segments exactly), and
    finishing on a row of known depth yields acc + that depth.
    Dangling chains (parent never present) keep depth NULL.
    """
    return _forest(acts).select("id", "depth")
