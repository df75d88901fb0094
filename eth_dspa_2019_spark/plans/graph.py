"""Graph analytics over the synthesized user graph: triangle counting
with degree-ordered orientation — the second classic distributed graph
primitive next to the connected-components clustering the dedup family
already ships (`operators/dedup.py::dedup_clusters`).

The edge set is synthesized deterministically from the event users with
the same modular-arithmetic discipline as the task-2 friend edges
(`operators/recommend.py::synth_friend_edges`): D pseudo-random
neighbors per user, canonicalized undirected. Both engines build the
identical edge list, so the triangle count is a fixed data property.

Scale shape (the textbook result this query exists to encode): counting
wedges naively joins adjacency on BOTH endpoints — Σ deg² explodes on
hubs. Orienting every edge from its lower to its higher endpoint in the
(degree, id) total order caps the OUT-degree at O(√E) (a node of
out-degree d has d higher-degree neighbors, each of degree ≥ d, so
d² ≤ 2E), making the wedge join Σ outdeg² = O(E^1.5) worst-case — the
MapReduce triangle-counting bound (Suri & Vassilvitskii, WWW'11). Every
join is an equi-join on node keys; the closing edge lookup needs no OR
condition because the orientation totally orders each wedge's endpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.materialize import broadcast_if_fits, local_frame, materialize
from ..io.readers import load_table
from ..io.stats import table_stats
from .registry import register

TRI_FAN = 3  # synthesized neighbors per user


def _users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select("user_id").distinct()


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized user graph, (a, b) with a < b, lazy: the Spark form
    of :func:`_o_edges`. Each query materializes the form it loops on."""
    n = table_stats(spark, sf_dir, "events")["max_user_id"] + 1
    probes = ", ".join(
        f"(user_id * 7 + {11 * j}) % {n}" for j in range(1, TRI_FAN + 1)
    )
    return (
        _users(spark, sf_dir)
        .selectExpr("user_id AS u", f"explode(array({probes})) AS v")
        .filter("u <> v")
        .selectExpr("least(u, v) AS a", "greatest(u, v) AS b")
        .distinct()
    )


def _arcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v): every edge in both directions, lazy."""
    edges = _edges(spark, sf_dir)
    return edges.selectExpr("a AS u", "b AS v").unionByName(
        edges.selectExpr("b AS u", "a AS v")
    )


def _o_edges() -> str:
    probes = " UNION ALL ".join(
        f"SELECT user_id AS u, (user_id * 7 + {11 * j}) % n AS v "
        "FROM users CROSS JOIN nn"
        for j in range(1, TRI_FAN + 1)
    )
    return f"""
    users AS (SELECT DISTINCT user_id FROM events),
    nn AS (SELECT max(user_id) + 1 AS n FROM users),
    raw AS ({probes}),
    edges AS (
      SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      FROM raw WHERE u <> v
    )
"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_o_edges()},
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
      ) GROUP BY 1
    ),
    okey AS (
      SELECT d.node, d.d * (SELECT n FROM nn) + d.node AS k FROM deg d
    ),
    oriented AS (
      SELECT CASE WHEN ka.k < kb.k THEN e.a ELSE e.b END AS src,
             CASE WHEN ka.k < kb.k THEN e.b ELSE e.a END AS dst,
             CASE WHEN ka.k < kb.k THEN kb.k ELSE ka.k END AS dst_k
      FROM edges e
      JOIN okey ka ON ka.node = e.a
      JOIN okey kb ON kb.node = e.b
    ),
    wedges AS (
      SELECT e1.dst AS b, e2.dst AS c
      FROM oriented e1 JOIN oriented e2
        ON e1.src = e2.src AND e1.dst_k < e2.dst_k
    )
    SELECT (SELECT count(*) FROM users) AS n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           count(*) AS n_triangles
    FROM wedges w
    JOIN oriented e3 ON e3.src = w.b AND e3.dst = w.c
    """,
    doc="oriented triangle count over the synthesized user graph",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count (+ node/edge counts) — module docstring for
    the orientation argument. The single output row makes the O(E^1.5)
    wedge-join bound the only thing the query can spend time on."""
    st = table_stats(spark, sf_dir, "events")
    n = st["max_user_id"] + 1
    # feeds the degrees and both join sides; its observed rows are |E|
    edges, seen = materialize(_edges(spark, sf_dir))
    n_edges = seen.rows
    # node ids lie in [0, n): the degree relation's row bound
    deg = broadcast_if_fits(
        edges.selectExpr("explode(array(a, b)) AS node")
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .selectExpr("node", f"d * {n} + node AS k"),
        n,
    )
    oriented, _ = materialize(  # three consumers below
        edges.join(deg.selectExpr("node AS a", "k AS ka"), "a")
        .join(deg.selectExpr("node AS b", "k AS kb"), "b")
        .selectExpr(
            "IF(ka < kb, a, b) AS src",
            "IF(ka < kb, b, a) AS dst",
            "greatest(ka, kb) AS dst_k",
        )
    )
    # r12: the wedge self-join and the closing-edge lookup both join the
    # O(E^1.5) wedge stream against an |E|-sized relation — with the
    # edge count observed BEFORE the join is planned, broadcast that
    # side when it fits (guide §3.1): the wedge blowup then streams with
    # no exchange at all. Big graphs keep the shuffle joins.
    e2 = oriented.selectExpr("src AS s", "dst AS wc", "dst_k AS kc_")
    wedges = (
        oriented.selectExpr("src AS s", "dst AS wb", "dst_k AS kb_")
        .join(broadcast_if_fits(e2, n_edges), "s")
        .filter("kb_ < kc_")
    )
    closing = oriented.selectExpr("src AS wb", "dst AS wc")
    return (
        wedges.join(broadcast_if_fits(closing, n_edges), ["wb", "wc"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .selectExpr(
            f"CAST({st['n_users']} AS BIGINT) AS n_nodes",
            f"CAST({n_edges} AS BIGINT) AS n_edges",
            "n_triangles",
        )
    )


# ---------------------------------------------------------------------------
# PageRank, integer fixed-point, K unrolled iterations

PR_Q = 10**12  # fixed-point scale
PR_ITERS = 5
PR_TOPK = 10


def _o_pagerank() -> str:
    base = f"(15 * {PR_Q}) // (100 * (SELECT count(*) FROM users))"
    its = []
    for k in range(1, PR_ITERS + 1):
        its.append(f"""
    r{k} AS (
      SELECT od.node,
             {base} + (85 * coalesce(s.m, 0)) // 100 AS r
      FROM outdeg od LEFT JOIN (
        SELECT e.v AS node, sum(r.r // d2.deg) AS m
        FROM bi e
        JOIN r{k - 1} r ON r.node = e.u
        JOIN outdeg d2 ON d2.node = e.u
        GROUP BY 1
      ) s ON s.node = od.node
    )""")
    return f"""
    WITH {_o_edges()},
    bi AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b AS u, a AS v FROM edges
    ),
    outdeg AS (SELECT u AS node, count(*) AS deg FROM bi GROUP BY 1),
    r0 AS (
      SELECT node, {PR_Q} // (SELECT count(*) FROM users) AS r FROM outdeg
    ),{",".join(its)}
    SELECT node AS user_id, cast(r AS bigint) AS rank_fx
    FROM r{PR_ITERS}
    ORDER BY rank_fx DESC, user_id
    LIMIT {PR_TOPK}
    """


@register(
    "graph_pagerank_top10",
    oracle=_o_pagerank(),
    doc="integer fixed-point PageRank (5 iterations) over the user graph",
)
def graph_pagerank_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the synthesized (bidirectional) user graph — the
    iterative-algorithm surface, in EXACT integer fixed-point so
    {PR_ITERS} unrolled iterations are bit-identical in both engines:
    contributions are ``rank_fx div outdeg`` (integer division), the
    damping update ``base + (85·Σ) div 100`` — no float summation whose
    order could diverge. The graph has no dangling nodes by construction
    (every user's probes yield ≥1 non-self edge), so no dangling-mass
    term is needed.

    Scale shape: each iteration is ONE keyed join (ranks ⋈ edges on the
    source) + one grouped sum on the destination — the standard
    Pregel-as-joins form; ranks materialize per iteration (`materialize`
    — the same lineage-cut every iterative op here uses), so the plan
    stays K independent joins, never a 2^K tree. At 100 TB the edge list
    would be bucketed by source so the per-iteration join is
    exchange-free on one side (`io/bucketed.py`)."""
    n_nodes = table_stats(spark, sf_dir, "events")["n_users"]
    bi, _ = materialize(_arcs(spark, sf_dir))
    outdeg, seen = materialize(
        bi.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
    )
    base = (15 * PR_Q) // (100 * n_nodes)
    ranks = outdeg.selectExpr(
        "node", f"CAST({PR_Q // n_nodes} AS BIGINT) AS r"
    )
    # r12: the rank/degree relations are |nodes| rows (observed on the
    # degree checkpoint); when they fit the broadcast threshold, hint them
    # so each iteration streams the edge list through BroadcastHashJoins
    # (one exchange per iteration — the contrib aggregation — instead of
    # 3-4). The per-iteration lineage cut STAYS in both modes: eliding it
    # was tried and measured slower (the K nested broadcast builds
    # serialize on the driver and the fused plan pays one big codegen).
    nodes = seen.rows
    srcdeg = broadcast_if_fits(outdeg.selectExpr("node AS u", "deg"), nodes)
    for _ in range(PR_ITERS):
        src = broadcast_if_fits(ranks.selectExpr("node AS u", "r"), nodes)
        contrib = (
            bi.join(src, "u")
            .join(srcdeg, "u")
            .selectExpr("v AS node", "r div deg AS c")
            .groupBy("node")
            .agg(F.sum("c").alias("m"))
        )
        ranks, _ = materialize(
            outdeg.select("node")
            .join(broadcast_if_fits(contrib, nodes), "node", "left")
            .selectExpr(
                "node",
                f"CAST({base} + 85 * coalesce(m, 0) div 100 AS BIGINT) AS r",
            )
        )
    return (
        ranks.selectExpr("node AS user_id", "r AS rank_fx")
        .orderBy(F.col("rank_fx").desc(), "user_id")
        .limit(PR_TOPK)
    )


# ---------------------------------------------------------------------------
# k-core peeling, fixed unrolled rounds

KCORE_K = 6
KCORE_ROUNDS = 8


def _o_kcore() -> str:
    # AS MATERIALIZED: DuckDB inlines plain CTEs, and each round references
    # the previous one ~5x — unmaterialized, round 8 would expand to 5^8
    # copies of the events scan (observed as an fd-exhaustion blowup).
    cte = ["e0 AS MATERIALIZED (SELECT a, b FROM edges)"]
    rows = [
        "SELECT 0 AS round, (SELECT count(DISTINCT node) FROM "
        "(SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)) "
        "AS nodes_remaining, (SELECT count(*) FROM e0) AS edges_remaining"
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        p = r - 1
        cte.append(f"""
    k{r} AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, count(*) AS deg FROM (
          SELECT a AS node FROM e{p} UNION ALL SELECT b AS node FROM e{p}
        ) GROUP BY 1
      ) WHERE deg >= {KCORE_K}
    )""")
        cte.append(f"""
    e{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{p} e
      JOIN k{r} x ON x.node = e.a
      JOIN k{r} y ON y.node = e.b
    )""")
        rows.append(
            f"SELECT {r} AS round, (SELECT count(*) FROM k{r}) AS "
            f"nodes_remaining, (SELECT count(*) FROM e{r}) AS edges_remaining"
        )
    body = " UNION ALL ".join(rows)
    return f"""
    WITH {_o_edges()},
    {",".join(cte)}
    SELECT cast(round AS bigint) AS round,
           cast(nodes_remaining AS bigint) AS nodes_remaining,
           cast(edges_remaining AS bigint) AS edges_remaining
    FROM ({body}) ORDER BY round
    """


@register(
    "graph_kcore_peel",
    oracle=_o_kcore(),
    doc=f"{KCORE_K}-core peeling trace ({KCORE_ROUNDS} unrolled rounds)",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core decomposition by iterative peeling over the
    synthesized user graph (module docstring): each round recomputes
    degrees and drops every node below {KCORE_K}, for {KCORE_ROUNDS}
    fixed unrolled rounds — the round-by-round (nodes, edges) trace is
    the output, so both engines agree bit-for-bit even on a graph where
    peeling hasn't converged by round {KCORE_ROUNDS}. The probe graph has
    degrees 5-6 only, so K=6 exercises the interesting regime: a genuine
    cascade (removing a degree-5 node drags neighbors below 6) that
    empties the graph within ~5 rounds — the trailing fixed-point rows
    prove convergence.

    Scale shape: one round = one map-side-combined degree groupBy +
    two semi-join edge filters — O(E) per round, K independent stages
    (a materialized lineage cut per round, like PageRank above). The
    trace's counts are observed on those materializations (the degree
    frame's rows are the nodes left, its ``kept`` the nodes of degree
    >= {KCORE_K}; the surviving edges' rows are the edges left), so no
    round runs a count job; the result frame is the
    {KCORE_ROUNDS + 1} trace rows held on the driver."""
    cur, seen = materialize(_edges(spark, sf_dir))
    n_edges = seen.rows
    trace = [(0, 0, n_edges)]  # round 0's nodes: round 1's degree rows
    for r in range(1, KCORE_ROUNDS + 1):
        # r11: an empty graph is a fixed point — every remaining round is
        # (r, 0, 0) by definition, so fill the trace without running
        # degree/semi-join jobs over empty frames (the fixture empties by
        # ~round 5 of the fixed unrolled schedule).
        if n_edges == 0:
            trace.append((r, 0, 0))
            continue
        deg, d = materialize(
            cur.selectExpr("explode(array(a, b)) AS node")
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg")),
            kept=F.count_if(F.col("deg") >= KCORE_K),
        )
        if r == 1:
            trace[0] = (0, d.rows, n_edges)
        # r12: broadcast the kept nodes (observed) to both semi-join
        # filters when they fit, so the surviving-edge pass streams the
        # edge checkpoint with no exchange
        keep = broadcast_if_fits(
            deg.filter(F.col("deg") >= KCORE_K).select("node"), d.kept
        )
        cur, e = materialize(
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )
        n_edges = e.rows
        trace.append((r, d.kept, n_edges))
    return local_frame(
        spark,
        "round bigint, nodes_remaining bigint, edges_remaining bigint",
        trace,
    )


# ---------------------------------------------------------------------------
# Multi-source BFS, fixed unrolled depth

BFS_SEED_MOD = 50  # seeds: user_id % 50 == 0
BFS_DEPTH = 4


def _o_bfs() -> str:
    cte = [
        "bi AS MATERIALIZED (SELECT a AS u, b AS v FROM edges "
        "UNION ALL SELECT b, a FROM edges)",
        f"d0 AS MATERIALIZED (SELECT user_id AS node, 0 AS dist "
        f"FROM users WHERE user_id % {BFS_SEED_MOD} = 0)",
    ]
    for k in range(1, BFS_DEPTH + 1):
        cte.append(f"""
    d{k} AS MATERIALIZED (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{k - 1}
        UNION ALL
        SELECT e.v AS node, d.dist + 1 AS dist
        FROM bi e JOIN d{k - 1} d ON d.node = e.u
      ) GROUP BY node
    )""")
    return f"""
    WITH {_o_edges()},
    {",".join(cte)},
    hist AS (
      SELECT dist, count(*) AS n_nodes FROM d{BFS_DEPTH} GROUP BY 1
      UNION ALL
      SELECT -1, count(*) FROM users u
      WHERE NOT EXISTS (SELECT 1 FROM d{BFS_DEPTH} d
                        WHERE d.node = u.user_id)
    )
    SELECT cast(dist AS bigint) AS dist,
           cast(n_nodes AS bigint) AS n_nodes
    FROM hist WHERE n_nodes > 0 ORDER BY dist
    """


@register(
    "graph_bfs_depths",
    oracle=_o_bfs(),
    doc=f"multi-source BFS distance histogram (depth <= {BFS_DEPTH})",
)
def graph_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search over the synthesized user graph
    (module docstring): distances from the deterministic seed set
    (user_id % {BFS_SEED_MOD} == 0) relaxed for {BFS_DEPTH} unrolled
    rounds — the traversal primitive next to the connectivity
    (components), counting (triangles), centrality (PageRank), and
    density-peeling (k-core) members of the graph family. Output is the
    distance histogram with a dist=-1 row for nodes unreached within the
    horizon, so convergence state is explicit, bit-identical in both
    engines whether or not BFS has frontier-collapsed.

    Scale shape: one round = one keyed join (distances ⋈ edges on the
    source) + one min-groupBy — the Pregel relaxation step, O(E)/round,
    lineage cut per round. The same MATERIALIZED-CTE oracle discipline
    as k-core (plain chained CTEs inline multiplicatively)."""
    users = _users(spark, sf_dir)
    bi, _ = materialize(_arcs(spark, sf_dir))
    dist = users.filter(f"user_id % {BFS_SEED_MOD} = 0").selectExpr(
        "user_id AS node", "0 AS dist"
    )
    # r12: dist is bounded by the node ids [0, n) (table stats), then by
    # each round's observed rows — when it fits the broadcast threshold,
    # hint it so the relaxation join streams the edge list instead of
    # shuffling it every round (one exchange per round — the min-groupBy
    # — instead of three). The per-round checkpoint stays: dist has TWO
    # consumers per round (the join and the union), so eliding the cut
    # would re-execute the chain 2^K times.
    rows = table_stats(spark, sf_dir, "events")["max_user_id"] + 1
    for _ in range(BFS_DEPTH):
        expanded = bi.join(
            broadcast_if_fits(dist.withColumnRenamed("node", "u"), rows), "u"
        ).selectExpr("v AS node", "dist + 1 AS dist")
        dist, seen = materialize(
            dist.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        rows = seen.rows
    unreached = users.join(
        dist.withColumnRenamed("node", "user_id"), "user_id", "left_anti"
    ).selectExpr("CAST(-1 AS BIGINT) AS dist", "count(1) AS n_nodes")
    hist = dist.groupBy(
        F.col("dist").cast("bigint").alias("dist")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return hist.unionByName(unreached).filter(F.col("n_nodes") > 0)
