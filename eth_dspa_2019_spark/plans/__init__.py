"""Query registry: every operator from SURVEY.md §2 is exposed as a named
query over the driver testdata, with a DuckDB oracle SQL string where the
semantics are ANSI-SQL-expressible.

Importing this package registers all queries.
"""

from ..io.cache import drop_query_data
from .registry import QuerySpec, all_queries, oracle_map, register

# Importing the plan modules populates the registry.
from . import relational  # noqa: E402,F401
from . import windowed  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import vectors  # noqa: E402,F401
from . import social  # noqa: E402,F401
from . import task2  # noqa: E402,F401
from . import task3  # noqa: E402,F401
from . import cleaning  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import audio  # noqa: E402,F401
from . import misc  # noqa: E402,F401
from . import intervals  # noqa: E402,F401
from . import pipeline  # noqa: E402,F401
from . import corpus  # noqa: E402,F401
from . import sketch  # noqa: E402,F401
from . import behavior  # noqa: E402,F401
from . import tpch_extra  # noqa: E402,F401
from . import graph  # noqa: E402,F401
from . import retrieval  # noqa: E402,F401


def clear_plan_caches(spark) -> None:
    """Release every materialization this session holds: the query-data
    entries of the session cache (``io/cache.py``: parse/resolve/LSH-pair
    reuse across queries; table metadata stays), the SQL
    cache (``DataFrame.persist`` blocks), and all persistent RDDs — which
    covers eager ``localCheckpoint`` blocks the SQL cache doesn't track.

    The bench harness calls this between queries so each number measures
    the query's own plan from cold caches (block-manager pressure from 68
    accumulated queries was inflating unrelated timings 3-7× in r3).

    .. warning:: Destructive to live handles — this unpersists ALL
       persistent RDDs, including eager ``localCheckpoint`` blocks, so any
       DataFrame you still hold that references a truncated-lineage
       checkpoint becomes unrecomputable and will throw on its next action.
       Intended for harnesses that rebuild every frame from scratch after
       each call (like bench.py's per-query loop); do not call it while
       user-held frames are outstanding."""
    drop_query_data()
    spark.catalog.clearCache()
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd in list(jmap.values()):
            rdd.unpersist(False)
    except Exception:
        pass  # py4j surface moved — stale blocks degrade perf, not results


__all__ = [
    "QuerySpec",
    "register",
    "all_queries",
    "clear_plan_caches",
    "oracle_map",
]
