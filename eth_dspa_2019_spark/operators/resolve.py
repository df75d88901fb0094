"""Reply→root-post resolution: the reference's central shared preprocessing
stage (`SN/task/postidresolution/PostIdResolver.java:99-225` streaming with
memcached+timers; batch spec `SN/validation/BatchPostIdResolver.java:54-91`,
`SN/validation/GenerateExpectedMappings.java:25-57`).

Spark-first design: the child→parent comment forest is resolved with a
**pointer-doubling join fixpoint** — each iteration either resolves an entry
(its parent is already resolved) or re-points it two hops up, so the number
of iterations is O(log max_depth), each one an equi-join on the child id.
No external K/V store, no per-record RPC: the mapping is an ordinary
DataFrame, and at cluster scale each iteration is one hash-partitioned join
of the (still-unresolved) mapping against itself. ``localCheckpoint``
truncates the growing lineage between iterations.

The reference disambiguates overlapping post/comment id spaces with string
key prefixes ``p_``/``r_`` in memcached (F13,
`SN/task/postidresolution/PostIdResolver.java:87-91`); typed columns make
that encoding unnecessary here — comment ids and post ids live in separate
columns (``id`` vs ``root``/``post_id``) and never meet in one key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import KIND_COMMENT, KIND_LIKE, KIND_POST, KIND_REPLY
from ..session import broadcast_threshold

MAX_ITERS = 64  # supports comment-tree depth up to 2^64 — effectively unbounded


def _pointer_chase_fixpoint(mapping: DataFrame, resolved_col: str, chase_cols) -> DataFrame:
    """Shared pointer-doubling scaffold for :func:`resolve_post_ids` and
    :func:`comment_depths`: split the seeded ``mapping`` into resolved /
    dangling / working parts, iterate the chase join against the union of
    every node's LATEST entry (what makes the chase pointer-DOUBLING),
    re-split, and union all parts at the fixpoint. ``mapping`` must carry
    ``id``, ``resolved_col`` (non-null ⇔ resolved), ``ptr`` (non-null ⇔
    still chasing), plus any accumulator columns; ``chase_cols()`` takes
    no arguments and returns the select list for one chase hop,
    referencing columns via the fixed working (``u``) and lookup (``p``)
    aliases — it must preserve the same column set.

    Invariants the scaffold encodes (keep in ONE place): the lookup side
    is parts ∪ working so chains halve per round; only the shrinking
    working set is re-materialized per round (O(working) checkpoint
    volume); danglers (ptr exhausted, still unresolved) split out so the
    fixpoint terminates on dirty inputs with ``resolved_col`` NULL."""
    # Seed through ONE keyed exchange before materializing: AQE sizes the
    # partition count to the mapping's bytes (1-2 locally, N at scale),
    # so every iteration frame checkpointed below inherits a
    # data-proportional width instead of the input's task count — without
    # this, each of the ~6-8 unioned lookup parts kept the full session
    # parallelism and the per-iteration join paid hundreds of empty map
    # tasks (guide §2.2: fewer, larger partitions).
    mapping = mapping.repartition(F.col("id")).localCheckpoint(eager=True)
    rcol = F.col(resolved_col)
    parts = [mapping.filter(rcol.isNotNull())]
    working = mapping.filter(rcol.isNull() & F.col("ptr").isNotNull())
    parts.append(mapping.filter(rcol.isNull() & F.col("ptr").isNull()))

    # r12: without a hint every chase hop plans as a two-sided shuffle
    # join (~12 AQE stage jobs per round). Broadcast the lookup side when
    # the MEASURED mapping bytes (the lookup side is always ⊆ the seed
    # mapping) fit the session threshold; huge forests keep the shuffle.
    row_bytes = 8 * (len(mapping.columns) + 1)
    # one scan of the fresh checkpoint yields both the broadcast knob
    # (total rows) and the loop-exit probe (working rows)
    n_mapping, n_working = mapping.agg(
        F.count(F.lit(1)),
        F.count(F.when(rcol.isNull() & F.col("ptr").isNotNull(), 1)),
    ).first()
    bcast_lookup = 0 <= n_mapping * row_bytes < broadcast_threshold(
        mapping.sparkSession
    )

    def _hop(w: DataFrame, lookup: DataFrame) -> DataFrame:
        if bcast_lookup:
            lookup = F.broadcast(lookup)
        return (
            w.alias("u")
            .join(lookup.alias("p"), F.col("u.ptr") == F.col("p.id"), "left")
            .select(*chase_cols())
        )

    def _union(frames) -> DataFrame:
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    # TWO doubling hops per materialized round (r11): hop2 probes hop1's
    # still-working rows against parts ∪ hop1 — hop1 is each node's
    # latest state, so this is the same doubling applied twice; the round
    # advances pointers 4× instead of 2× and the fixpoint needs half the
    # rounds (⌈log₄ d⌉ materializations + empty-checks instead of
    # ⌈log₂ d⌉). Per-round the hop1 subtree is referenced by four
    # consumers inside ONE job — its exchanges are reused and only the
    # working-set-sized join CPU repeats, which is what we trade for a
    # driver-coordinated barrier + checkpoint write per round. Output is
    # identical: a materialization boundary between two hops was never
    # semantically relevant.
    for _ in range(-(-MAX_ITERS // 2)):
        if n_working == 0:
            break
        hop1 = _hop(working, _union([*parts, working]))
        h1_work = hop1.filter(rcol.isNull() & F.col("ptr").isNotNull())
        chased = _union(
            [
                hop1.filter(rcol.isNotNull()),
                hop1.filter(rcol.isNull() & F.col("ptr").isNull()),
                _hop(h1_work, _union([*parts, hop1])),
            ]
        ).localCheckpoint(eager=True)
        parts.append(chased.filter(rcol.isNotNull()))
        parts.append(chased.filter(rcol.isNull() & F.col("ptr").isNull()))
        working = chased.filter(rcol.isNull() & F.col("ptr").isNotNull())
        n_working = working.count()
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.unionByName(working)


def resolve_post_ids(acts: DataFrame) -> DataFrame:
    """(child_id, root_post_id) for every comment and reply.

    Comments carry their root directly (reply_to_postId); replies start as
    pointers to their parent comment/reply and are chased to the root by
    pointer doubling.
    """
    mapping = acts.filter(F.col("kind").isin(KIND_COMMENT, KIND_REPLY)).select(
        "id",
        F.when(F.col("kind") == KIND_COMMENT, F.col("post_id")).alias("root"),
        F.when(F.col("kind") == KIND_REPLY, F.col("parent_id")).alias("ptr"),
    )

    # chase one hop: parent resolved → take its root; else point to the
    # parent's parent (path doubling halves remaining chain depth)
    def chase():
        return [
            F.col("u.id").alias("id"),
            F.col("p.root").alias("root"),
            F.col("p.ptr").alias("ptr"),
        ]

    out = _pointer_chase_fixpoint(mapping, "root", chase)
    return out.select("id", F.col("root").alias("root_post_id"))


def resolved_activities(acts: DataFrame) -> DataFrame:
    """The activity stream with every row's ``post_id`` resolved to its root
    post — the input to Tasks 1/2/3. Posts key by their own id, comments and
    likes by their direct target, replies by the chased root
    (`SN/util/Activity.java:75-77`)."""
    mapping = resolve_post_ids(acts)
    replies = (
        acts.filter(F.col("kind") == KIND_REPLY)
        .drop("post_id")
        .join(mapping.withColumnRenamed("id", "rid"), F.col("id") == F.col("rid"), "left")
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

    Same pointer-doubling fixpoint as :func:`resolve_post_ids`, with a
    hop ACCUMULATOR: an unresolved entry carries (ptr, acc) = "acc
    original edges collapsed into this pointer"; chasing onto another
    unresolved entry adds its acc (path doubling sums the two collapsed
    segments exactly), chasing onto a resolved entry yields
    acc + parent_depth. O(log max_depth) joins, same as resolution.
    Dangling chains (parent never present) keep depth NULL.
    """
    mapping = acts.filter(F.col("kind").isin(KIND_COMMENT, KIND_REPLY)).select(
        "id",
        F.when(F.col("kind") == KIND_COMMENT, F.lit(1).cast("long")).alias(
            "depth"
        ),
        F.when(F.col("kind") == KIND_REPLY, F.col("parent_id")).alias("ptr"),
        F.when(F.col("kind") == KIND_REPLY, F.lit(1).cast("long")).alias(
            "acc"
        ),
    )

    # parent resolved → depth = acc + parent depth; else keep accumulating
    # through the parent's own pointer (doubling sums collapsed segments)
    def chase():
        return [
            F.col("u.id").alias("id"),
            (F.col("u.acc") + F.col("p.depth")).alias("depth"),
            F.col("p.ptr").alias("ptr"),
            (F.col("u.acc") + F.coalesce(F.col("p.acc"), F.lit(0))).alias(
                "acc"
            ),
        ]

    out = _pointer_chase_fixpoint(mapping, "depth", chase)
    return out.select("id", "depth")
