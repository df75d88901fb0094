"""Property-based invariants (hypothesis) over randomized comment forests.

The reference validates its pipelines against hand-built fixtures
(`SN/validation/*`); these tests generalize that to randomized structure:
whatever forest shape and arrival order hypothesis draws, the incremental
resolver must equal the batch fixpoint, and the C2 repair must be
idempotent and violation-free. Small forests + few examples keep the
Spark round-trip cost bounded.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from eth_dspa_2019_spark.operators.cleaning import (
    invariant_counts,
    repair_comment_tree,
)
from eth_dspa_2019_spark.operators.resolve import resolve_post_ids
from eth_dspa_2019_spark.streaming.resolution import IncrementalResolver

_ACT_SCHEMA = "id long, kind string, post_id long, parent_id long"


@st.composite
def forests(draw):
    """A random well-formed activity forest: every comment's post exists,
    every reply's parent is an EARLIER comment/reply (no danglers), chain
    depth unbounded by construction."""
    n_posts = draw(st.integers(1, 3))
    n_nodes = draw(st.integers(1, 24))
    rows = [(pid, "post", pid, None) for pid in range(n_posts)]
    resolvable = []  # ids of comments/replies so far
    for i in range(n_nodes):
        nid = n_posts + i
        if resolvable and draw(st.booleans()):
            parent = draw(st.sampled_from(resolvable))
            rows.append((nid, "reply", None, parent))
        else:
            post = draw(st.integers(0, n_posts - 1))
            rows.append((nid, "comment", post, None))
        resolvable.append(nid)
    return rows


@st.composite
def forests_with_ts(draw):
    """Forest rows plus adversarial raw timestamps: drawn from a tiny value
    set so parent==child and parent>child inversions are common — the
    exact cases the C2 repair bump (diff 0 → 10 s) must cascade through."""
    rows = draw(forests())
    stamped = []
    for (nid, kind, post_id, parent_id) in rows:
        ts = draw(st.integers(0, 5)) * 1000
        stamped.append((nid, kind, post_id, parent_id, ts))
    return stamped


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=forests(), data=st.data())
def test_incremental_resolution_is_arrival_order_invariant(spark, rows, data):
    """Any batch split of any forest — including children arriving batches
    before their parents — yields exactly the batch fixpoint mappings."""
    acts = spark.createDataFrame(rows, _ACT_SCHEMA)
    expected = sorted(
        tuple(r)
        for r in resolve_post_ids(acts)
        .select(F.col("id").alias("child_id"), "root_post_id")
        .collect()
    )
    ids = [r[0] for r in rows]
    n_batches = data.draw(st.integers(1, 3), label="n_batches")
    assignment = data.draw(
        st.lists(
            st.integers(0, n_batches - 1), min_size=len(ids), max_size=len(ids)
        ),
        label="batch_of",
    )
    r = IncrementalResolver(spark)
    for b in range(n_batches):
        batch_ids = [i for i, a in zip(ids, assignment) if a == b]
        r.process_batch(acts.filter(F.col("id").isin(batch_ids or [-1])))
    assert r.pending.count() == 0
    got = sorted(tuple(x) for x in r.mappings().collect())
    assert got == expected


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=forests_with_ts())
def test_repair_is_idempotent_and_violation_free(spark, rows):
    """C2 repair on any forest/timestamp combination (a) leaves zero
    child-at-or-before-parent violations (the C3 invariant) and (b) is a
    fixpoint: repairing already-repaired timestamps changes nothing."""
    acts = spark.createDataFrame(
        [(i, k, p_, pa, 0, ts) for (i, k, p_, pa, ts) in rows],
        "id long, kind string, post_id long, parent_id long, "
        "person_id long, raw_ts long",
    )
    first = repair_comment_tree(acts)
    # every input comment/reply survives the walk (no silent drops)
    n_nodes = sum(1 for r in rows if r[1] != "post")
    fixed = {r["id"]: r["ts_fixed"] for r in first.collect()}
    assert len(fixed) == n_nodes
    inv = invariant_counts(acts, tree=first).collect()[0]
    assert inv["comment_violations"] == 0 and inv["reply_violations"] == 0
    # idempotency: rerun the repair with raw_ts := ts_fixed (posts keep
    # their original timestamps — the repair never touches posts)
    repaired_acts = (
        acts.join(first.select("id", "ts_fixed"), "id", "left")
        .withColumn("raw_ts", F.coalesce("ts_fixed", "raw_ts"))
        .drop("ts_fixed")
    )
    again = {
        r["id"]: r["ts_fixed"] for r in repair_comment_tree(repaired_acts).collect()
    }
    assert again == fixed


@st.composite
def event_logs(draw):
    """Random per-user event logs over the funnel step alphabet with
    repeated types and tie-free integer timestamps."""
    n_users = draw(st.integers(1, 4))
    rows = []
    ts = 0
    for u in range(n_users):
        for _ in range(draw(st.integers(0, 12))):
            ts += 1  # strictly increasing -> no cross-engine tie semantics
            rows.append(
                (u, draw(st.sampled_from(("signup", "view", "click", "purchase"))), ts)
            )
    return rows


def _funnel_reference(rows, steps=("signup", "view", "click", "purchase")):
    """Straightforward per-user scan: first occurrence of each step
    strictly after the previous step's first completion."""
    users = {}
    for u, t, ts in rows:
        users.setdefault(u, []).append((ts, t))
    counts = []
    survivors = {u: None for u in users}  # user -> last step completion ts
    for step in steps:
        nxt = {}
        for u, prev_ts in survivors.items():
            hit = min(
                (ts for ts, t in users[u]
                 if t == step and (prev_ts is None or ts > prev_ts)),
                default=None,
            )
            if hit is not None:
                nxt[u] = hit
        counts.append(len(nxt))
        survivors = nxt
    return counts


@given(event_logs())
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_funnel_matches_reference_scan(spark, rows):
    from eth_dspa_2019_spark.plans.behavior import funnel_counts

    df = spark.createDataFrame(
        [(u, t, ts) for u, t, ts in rows] or [(0, "none", 0)],
        "user_id long, event_type string, ts long",
    )
    got = {
        r["step_name"]: r["users"] for r in funnel_counts(df).collect()
    }
    expected = _funnel_reference(rows)
    steps = ("signup", "view", "click", "purchase")
    assert [got[s] for s in steps] == expected


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=forests(), data=st.data())
def test_comment_depths_match_reference_walk(spark, rows, data):
    """The hop-accumulating doubling fixpoint must give the exact hop
    count a plain parent-walk gives, for any drawn forest shape —
    including DANGLING chains (replies whose parent id never exists),
    which must come back with depth NULL, not a wrong number."""
    from eth_dspa_2019_spark.operators.resolve import comment_depths

    # inject replies pointing at ids outside the forest (and chains
    # hanging off them) so the dangling path is actually exercised
    next_id = max(r[0] for r in rows) + 1
    for _ in range(data.draw(st.integers(0, 3), label="n_danglers")):
        rows = rows + [(next_id, "reply", None, next_id + 1000)]
        if data.draw(st.booleans(), label="chain_off_dangler"):
            rows = rows + [(next_id + 1, "reply", None, next_id)]
            next_id += 1
        next_id += 1

    parent = {nid: p for nid, kind, _, p in rows if kind == "reply"}
    comments = {nid for nid, kind, _, _ in rows if kind == "comment"}

    def walk(nid):
        d = 0
        while nid in parent:
            d += 1
            nid = parent[nid]
        return d + 1 if nid in comments else None  # dangling → None

    expected = {
        nid: walk(nid)
        for nid, kind, _, _ in rows
        if kind in ("comment", "reply")
    }
    acts = spark.createDataFrame(rows, _ACT_SCHEMA)
    got = {r["id"]: r["depth"] for r in comment_depths(acts).collect()}
    assert got == expected


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_durable_tables_model_based(spark, tmp_path_factory, data):
    """Model-based check of the shared durability harness
    (`streaming/durable.py`): against ANY random interleaving of commits,
    process crashes (fresh instance on the same dir), and crash-replays
    (the engine re-running the last committed batch id with different
    content), the recovered delta-table content must equal a trivial
    in-memory model that applies the same events — and the retained
    version count must stay bounded (pruning)."""
    import glob

    from eth_dspa_2019_spark.streaming.durable import (
        COMPACT_EVERY,
        DurableTables,
    )

    sdir = str(tmp_path_factory.mktemp("durable_prop"))
    fulls = {"cur": "v long"}
    deltas = {"log": "batch long, x long"}

    def mk():
        return DurableTables(spark, sdir, fulls, deltas)

    dt = mk()
    model: dict[int, int] = {}  # batch -> x (the committed delta content)
    next_batch = 0
    n_steps = data.draw(st.integers(4, 10))
    for step in range(n_steps):
        action = data.draw(
            st.sampled_from(["commit", "crash", "replay"]), label=f"a{step}"
        )
        if action == "crash":
            dt = mk()
            continue
        if action == "replay" and model:
            bid = max(model)  # the engine replays the LAST committed batch
            assert dt.begin_batch(bid)
            x = data.draw(st.integers(0, 1000), label=f"rx{step}")
        else:
            bid = next_batch
            assert not dt.begin_batch(bid)
            x = data.draw(st.integers(0, 1000), label=f"x{step}")
        d = spark.createDataFrame([(bid, x)], deltas["log"])
        dt.fold({"cur": spark.createDataFrame([(bid,)], fulls["cur"]), "log": d})
        dt.commit(bid)
        model[bid] = x
        next_batch = bid + 1

    final = {r["batch"]: r["x"] for r in mk().tables["log"].collect()}
    assert final == model
    assert len(glob.glob(f"{sdir}/v*")) <= COMPACT_EVERY + 2


# ---------------------------------------------------------------------------
# Deletion propagation laws (operators/forget.py)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(st.integers(0, 30), min_size=0, max_size=40),
    d1=st.sets(st.integers(0, 30), max_size=10),
    d2=st.sets(st.integers(0, 30), max_size=10),
)
def test_purge_is_idempotent_and_composes_as_set_union(spark, ids, d1, d2):
    """purge(purge(R, D), D) == purge(R, D), and sequential purges with
    D1 then D2 equal one purge with D1 ∪ D2 — retraction is a set
    subtraction, whatever the batching."""
    from eth_dspa_2019_spark.operators.forget import purge_relation

    rel = spark.createDataFrame([(i,) for i in ids], "k long")

    def frame(s):
        return spark.createDataFrame([(i,) for i in sorted(s)], "doc_id long")

    def rows(df):
        return sorted(r["k"] for r in df.collect())

    once = purge_relation(rel, frame(d1), "k")
    assert rows(purge_relation(once, frame(d1), "k")) == rows(once)
    seq = purge_relation(once, frame(d2), "k")
    both = purge_relation(rel, frame(d1 | d2), "k")
    assert rows(seq) == rows(both)
    assert rows(once) == sorted(i for i in ids if i not in d1)
