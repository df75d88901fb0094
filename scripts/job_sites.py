"""Print each query's Spark jobs per engine call site.

Usage: python scripts/job_sites.py [--sf DIR] <query> [<query> ...]

Every query is built and collected (``toArrow()``) twice in one session:
cold, then warm (reusing the session's caches and table statistics).
Each DataFrame action the engine calls — ``count``, ``first``,
``collect``, ``head``, ``localCheckpoint``, ``toArrow`` — runs in a span
of its own (``perfbench/spans.py``: one job group per span), named after
the nearest engine frame that called it (a call through
``io/materialize.py`` is listed under the caller of ``materialize``).
``statusTracker()`` then lists each span's jobs and the tasks they ran;
a site's calls are how often it ran (a loop body runs once per round).
Jobs outside any action (a schema inference, a broadcast started while
planning) are listed as ``(other)``.

Patches ``pyspark.sql.classic.dataframe.DataFrame``: under PySpark 4
``pyspark.sql.DataFrame`` is the abstract parent class, so patching it
catches no call. The session is the engine's (``SPARK_GRAFT_CPUS`` cores,
default 32); set the variable to the core count the numbers are for.
"""

from __future__ import annotations

import argparse
import functools
import os
import sys
from collections import OrderedDict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "eth_dspa_2019_spark") + os.sep
MATERIALIZE = os.path.join(PKG, "io", "materialize.py")
ACTIONS = ("count", "first", "collect", "head", "localCheckpoint", "toArrow")


def _site(action: str) -> str:
    """``file:line action`` of the nearest engine frame outside
    ``io/materialize.py``, or of this script for the final collect."""
    frame = sys._getframe(2)
    via = ""
    while frame is not None:
        path = frame.f_code.co_filename
        if path == MATERIALIZE:
            via = "materialize "
        elif path.startswith(PKG) or path == os.path.abspath(__file__):
            rel = os.path.relpath(path, ROOT)
            return f"{rel}:{frame.f_lineno} {via or action}".strip()
        frame = frame.f_back
    return action


class JobSites:
    """Runs each outermost action in a span of its own, under the query's
    span (``perfbench/spans.py``: a span is a job group)."""

    def __init__(self, spark):
        from spans import Tracer

        self.sc = spark.sparkContext
        self.tracer = Tracer(spark, enabled=True)
        self.busy = False  # inside an action: nested calls join its span

    def patch(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        for name in ACTIONS:
            setattr(DataFrame, name, self._wrap(getattr(DataFrame, name), name))

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def action(*args, **kwargs):
            if self.busy:
                return fn(*args, **kwargs)  # nested: first → head → take
            site = _site(name)
            self.busy = True
            try:
                with self.tracer.span(site):
                    return fn(*args, **kwargs)
            finally:
                self.busy = False

        return action

    def _tasks(self, jobs: list[int]) -> int:
        """Tasks the jobs ran."""
        tracker = self.sc.statusTracker()
        tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sinfo = tracker.getStageInfo(stage)
                tasks += sinfo.numCompletedTasks if sinfo else 0
        return tasks

    def run(self, label: str, thunk) -> list[tuple[str, int, int, int]]:
        """Run ``thunk`` and return ``[(site, calls, jobs, tasks), ...]``
        in call order, ``(other)`` last."""
        with self.tracer.span(label) as top:
            thunk()
        sites: OrderedDict[str, list[int]] = OrderedDict()
        for span in self.tracer.children(top):
            row = sites.setdefault(span.name, [0, 0, 0])
            row[0] += 1
            row[1] += len(span.jobs)
            row[2] += self._tasks(span.jobs)
        rows = [(site, *row) for site, row in sites.items()]
        if top.jobs:
            rows.append(("(other)", 0, len(top.jobs), self._tasks(top.jobs)))
        return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from eth_dspa_2019_spark.plans import all_queries
    from eth_dspa_2019_spark.session import get_spark

    spark = get_spark(
        app_name="job_sites", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    qs = all_queries()
    tracer = JobSites(spark)
    tracer.patch()
    try:
        for name in args.queries:
            for kind in ("cold", "warm"):
                sites = tracer.run(
                    f"{name}/{kind}",
                    lambda: qs[name].spark(spark, args.sf).toArrow(),
                )
                total = sum(row[2] for row in sites)
                print(f"{name}  {kind}: {total} jobs")
                print("  jobs  calls  tasks  site")
                for site, calls, jobs, tasks in sites:
                    print(f"  {jobs:4d}  {calls:5d}  {tasks:5d}  {site}")
            sys.stdout.flush()
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
