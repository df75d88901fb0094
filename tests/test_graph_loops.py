"""Job budgets of the iterative graph family: each loop reads its counts
from the materializations it writes, so no round runs a probe job."""

from __future__ import annotations

from eth_dspa_2019_spark.operators import dedup
from eth_dspa_2019_spark.plans import graph
from eth_dspa_2019_spark.plans.registry import all_queries


def _rows(table):
    return sorted(map(str, table.to_pylist()))


def test_graph_loop_job_budget(spark, sf_dir, job_ids):
    """Built and collected under a job group, after one untimed run that
    fills the session's caches (table statistics, the LSH pair relation):
    ``graph_kcore_peel`` is the edge checkpoint plus two observed passes
    per round (at most 12 jobs), ``graph_triangle_count`` the edge and
    orientation checkpoints plus the wedge count (at most 11),
    ``dedup_clusters_q`` the edge and label checkpoints plus one observed
    pass per round (at most 11)."""
    for name, budget in (
        ("graph_kcore_peel", 12),
        ("graph_triangle_count", 11),
        ("dedup_clusters_q", 11),
    ):
        query = all_queries()[name].spark
        query(spark, sf_dir).toArrow()
        jobs = job_ids(
            f"test-graph-loop-{name}", lambda: query(spark, sf_dir).toArrow()
        )
        assert 0 < len(jobs) <= budget, (name, jobs)


def test_graph_loops_honour_a_disabled_broadcast_threshold(
    spark, sf_dir, monkeypatch, job_ids
):
    """With ``spark.sql.autoBroadcastJoinThreshold=-1`` every loop join
    of k-core, PageRank and the dedup components is a shuffle join: no
    materialized frame plans a broadcast, each query returns the default
    run's rows, and the jobs stay within budget (k-core at most 14,
    PageRank 36, dedup 11) — the observed counts replace the probes with
    broadcasting off too."""
    plans = []
    real = graph.materialize

    def recording(df, **metrics):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, **metrics)

    monkeypatch.setattr(graph, "materialize", recording)
    monkeypatch.setattr(dedup, "materialize", recording)
    queries = (
        ("graph_kcore_peel", 14),
        ("graph_pagerank_top10", 36),
        ("dedup_clusters_q", 11),
    )
    want = {
        name: _rows(all_queries()[name].spark(spark, sf_dir).toArrow())
        for name, _ in queries
    }
    assert any("BroadcastExchange" in p for p in plans)  # the default run does
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for name, budget in queries:
            plans.clear()
            query = all_queries()[name].spark
            got = []
            jobs = job_ids(
                f"test-graph-forced-{name}",
                lambda: got.append(_rows(query(spark, sf_dir).toArrow())),
            )
            assert len(plans) > 2, name  # the loop's checkpoints were planned
            assert not any("BroadcastExchange" in p for p in plans), name
            assert got == [want[name]], name
            assert 0 < len(jobs) <= budget, (name, jobs)
    finally:
        spark.conf.set(key, old)
