"""Registry of (spark query, duckdb oracle) pairs.

Contract (driver `__spark_entry__.py`):
- each spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
- the oracle is ANSI SQL over pre-registered DuckDB views named after the
  testdata tables;
- column names (and value bit-patterns) must match between the two — the
  driver sorts columns by name and hashes values.

Cross-engine determinism rules used throughout the plan modules:
- never return raw timestamps — return epoch seconds as BIGINT;
- sums/avgs of doubles go through ``decimal(38,6)`` so the result is
  order-independent and bit-identical in both engines (helpers in
  :mod:`eth_dspa_2019_spark.functions.numeric`);
- `%` (truncated modulo) matches DuckDB; ``pmod`` does not — use `%`.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a spark query (and optional duckdb oracle)."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


# The external correctness gate checks at most 50 queries per round, taken
# from the FRONT of this mapping. Rather than a static priority list (which
# would permanently demote whatever lands past position 50), the order is
# computed from the committed gate history (`CORRECTNESS_r*.json` at the repo
# root) AND the code's change history (VERDICT r5 #5):
#
# 1. never-green / red queries lead,
# 2. then green queries whose implementing module (the defining plan module
#    plus the in-package modules it imports) changed since the round that
#    produced their green row — a green resting on edited code is evidence
#    about the OLD code, so it jumps the staleness queue,
# 3. then untouched greens, stalest round first.
#
# Change detection uses git commit timestamps (per module file vs the gate
# file of the query's last green round), with uncommitted working-tree
# edits counting as "changed now". Every query is still re-gated roughly
# every other round; edits pull their queries forward immediately.


def _last_green_rounds() -> dict[str, int]:
    """query name -> most recent round with a green driver gate row."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    last: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for q, row in data.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or (
                row.get("hash_match") is None
                and row.get("err") is None
                and row.get("rows_match") is True
            )
            if green:
                last[q] = max(last.get(q, 0), rnd)
    return last


def _repo_root():
    from pathlib import Path

    return Path(__file__).resolve().parents[2]


def _git_commit_ts(path: str) -> float | None:
    """Unix time of the last commit touching ``path`` (None if unknown —
    untracked file or git unavailable); +inf when the working tree has
    uncommitted edits to it (changed NOW)."""
    import subprocess

    root = _repo_root()
    try:
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--", path],
            cwd=root, capture_output=True, text=True, timeout=10,
        )
        if dirty.returncode == 0 and dirty.stdout.strip():
            return float("inf")
        out = subprocess.run(
            ["git", "log", "-1", "--format=%ct", "--", path],
            cwd=root, capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0 and out.stdout.strip():
            return float(out.stdout.strip())
    except (OSError, subprocess.SubprocessError, ValueError):
        pass
    return None


def _module_files(mod_name: str) -> set[str]:
    """Repo-relative file of ``mod_name`` plus the in-package modules its
    source imports (one transitive level — covers the plan-module →
    operator-module indirection, e.g. plans/task3.py → operators/anomaly).
    """
    import importlib
    import re
    import sys
    from pathlib import Path

    root = _repo_root()
    files: set[str] = set()
    # gate infrastructure, not query implementation: a registry/__init__
    # edit must not mark every query's green row stale
    infra = {
        "eth_dspa_2019_spark/plans/registry.py",
        "eth_dspa_2019_spark/plans/__init__.py",
        "eth_dspa_2019_spark/__init__.py",
    }

    def _add(name: str) -> str | None:
        try:
            mod = sys.modules.get(name) or importlib.import_module(name)
            f = getattr(mod, "__file__", None)
            if f and Path(f).is_relative_to(root):
                rel = str(Path(f).relative_to(root))
                if rel not in infra:
                    files.add(rel)
                return f
        except Exception:
            pass
        return None

    src_file = _add(mod_name)
    if not src_file:
        return files
    try:
        src = Path(src_file).read_text()
    except OSError:
        return files
    pkg_parts = mod_name.split(".")[:-1]  # defining module's package
    for m in re.finditer(
        r"^\s*from\s+(\.+|eth_dspa_2019_spark\.?)([\w.]*)\s+import\s+(.+)$",
        src,
        re.MULTILINE,
    ):
        head, tail, names = m.group(1), m.group(2), m.group(3)
        if head.startswith("."):
            base = pkg_parts[: len(pkg_parts) - (len(head) - 1)]
            target = ".".join(base + ([tail] if tail else []))
        else:
            target = "eth_dspa_2019_spark" + ("." + tail if tail else "")
        # `from pkg import name` where name is itself a module
        if _add(target) is None:
            continue
        for name in re.split(r"[,\s()]+", names):
            if name and name.isidentifier():
                _add(f"{target}.{name}")
    return files


def _defining_file(mod_name: str) -> str | None:
    """Repo-relative source file of ``mod_name`` itself (no imports)."""
    import importlib
    import sys
    from pathlib import Path

    root = _repo_root()
    try:
        mod = sys.modules.get(mod_name) or importlib.import_module(mod_name)
        f = getattr(mod, "__file__", None)
        if f and Path(f).is_relative_to(root):
            return str(Path(f).relative_to(root))
    except Exception:
        pass
    return None


def _stale_greens(
    last_green: dict[str, int],
    specs: dict[str, "QuerySpec"],
    module_files=_module_files,
    commit_ts=_git_commit_ts,
    defining_file=_defining_file,
) -> dict[str, int]:
    """Green queries whose implementing files changed after the gate file
    of their last green round was committed: name → staleness TIER —
    1 when the query's DEFINING plan module changed (the edit is most
    likely to its own code), 2 when only a transitively-imported module
    changed (a shared helper touched ~everything — real, but a weaker
    signal; without the split, one edit to functions/hashing.py marks
    a hundred greens stale and the directly-edited queries drown in the
    tie, starving out of the 50-slot gate). Injection points
    (``module_files``/``commit_ts``/``defining_file``) exist for the
    unit test."""
    gate_ts: dict[int, float] = {}
    for name, rnd in last_green.items():
        if rnd not in gate_ts:
            ts = commit_ts(f"CORRECTNESS_r{rnd:02d}.json")
            gate_ts[rnd] = ts if ts is not None else float("-inf")
    file_ts: dict[str, float] = {}
    stale: dict[str, int] = {}
    for name, rnd in last_green.items():
        spec = specs.get(name)
        if spec is None:
            continue
        dfile = defining_file(spec.spark.__module__)
        for f in module_files(spec.spark.__module__):
            if f not in file_ts:
                ts = commit_ts(f)
                file_ts[f] = ts if ts is not None else float("inf")
            if file_ts[f] > gate_ts[rnd]:
                tier = 1 if f == dfile else 2
                stale[name] = min(stale.get(name, 2), tier)
                if tier == 1:
                    break
    return stale


# the driver's correctness gate samples the FIRST `GATE_SLOTS` registry
# entries; `STALEST_QUOTA` of those slots are reserved for the stalest
# untouched greens so growth + staleness churn can never starve
# re-certification (VERDICT r8 #1: the task2 family had no gate row
# since r4 because groups 0-2 alone kept filling all 50 slots)
GATE_SLOTS = 50
# 12 → 16 (VERDICT r9 #5): the never-green group is empty and new
# registrations run ~5/round, so 16 reserved slots drain the r6 cohort
# in 2 rounds instead of 3 without starving new-query certification.
STALEST_QUOTA = 16


def _ordered_names(
    registry_names: list[str],
    last_green: dict[str, int],
    stale: dict[str, int] | set[str],
    gate_slots: int = GATE_SLOTS,
    quota: int = STALEST_QUOTA,
) -> list[str]:
    """Gate order: never-green first, then greens whose DEFINING module
    changed (tier 1, stalest round first), then greens stale only via a
    changed transitive import (tier 2), then untouched greens — each
    sub-group stalest round first, ties on registration position. On top
    of that, the ``quota`` greens with the OLDEST last-green round are
    GUARANTEED a slot in the first ``gate_slots`` positions (any tier —
    age since last certification is the starvation metric, and tier-1
    churn alone can overfill the window); within the window the base
    ordering is preserved. Pure — unit-tested directly. Accepts a plain
    set for tier-less staleness (everything tier 1)."""
    reg_pos = {n: i for i, n in enumerate(registry_names)}
    tiers = (
        stale if isinstance(stale, dict) else {n: 1 for n in stale}
    )

    def key(n: str):
        green = last_green.get(n, 0)
        group = 0 if green == 0 else tiers.get(n, 3)
        return (group, green, reg_pos[n])

    base = sorted(registry_names, key=key)
    greens_by_age = sorted(
        (n for n in base if last_green.get(n, 0) > 0),
        key=lambda n: (last_green[n], reg_pos[n]),
    )
    reserved = set(greens_by_age[:quota])
    nonres = [n for n in base if n not in reserved]
    window = set(
        nonres[: max(0, gate_slots - len(reserved))]
    ) | reserved
    return [n for n in base if n in window] + [
        n for n in base if n not in window
    ]


_ORDER: list[str] | None = None


def all_queries() -> dict[str, QuerySpec]:
    global _ORDER
    if _ORDER is None:
        last_green = _last_green_rounds()
        try:
            stale = _stale_greens(last_green, _REGISTRY)
        except Exception:
            stale = set()
        _ORDER = _ordered_names(list(_REGISTRY), last_green, stale)
    return {n: _REGISTRY[n] for n in _ORDER}


def oracle_map() -> dict[str, str]:
    return {n: s.oracle for n, s in _REGISTRY.items() if s.oracle is not None}
