"""Session-scoped cache: the one place that decides how a cached value is
keyed, how long it lives and when it is dropped.

- :func:`query_data` caches materialized intermediates several queries
  share (parse, resolve, raw stream, forest walk, LSH pairs), keyed by the
  function and its arguments; ``plans.clear_plan_caches`` drops them.
- :func:`table_meta` caches scan definitions, the spread decision and
  table statistics, keyed by the table's data files (:func:`fingerprint`),
  so a part file rewritten in place misses; ``clear_plan_caches`` keeps
  them.

The store holds one application's values: a lookup under a different
``applicationId`` first drops every entry.
"""

from __future__ import annotations

import functools
import os

_DATA, _META = "data", "meta"
_store: dict[tuple, object] = {}
_app: str | None = None


def _lookup(spark, key: tuple, build):
    global _app
    app = spark.sparkContext.applicationId
    if app != _app:
        _store.clear()
        _app = app
    if key not in _store:
        _store[key] = build()
    return _store[key]


def query_data(fn):
    """Cache ``fn(spark, *args)`` as query data."""

    @functools.wraps(fn)
    def cached(spark, *args):
        return _lookup(spark, (_DATA, fn, *args), lambda: fn(spark, *args))

    return cached


def table_meta(fn):
    """Cache ``fn(spark, sf_dir, name)`` as metadata of the table's current
    version."""

    @functools.wraps(fn)
    def cached(spark, sf_dir: str, name: str):
        fp = fingerprint(table_path(sf_dir, name))
        key = (_META, fn, sf_dir, name, fp)
        return _lookup(spark, key, lambda: fn(spark, sf_dir, name))

    return cached


def drop_query_data() -> None:
    for key in [k for k in _store if k[0] == _DATA]:
        del _store[key]


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def fingerprint(path: str) -> tuple:
    """``(name, mtime_ns, size)`` of each data file of a table: the file
    itself, or every file under the directory that Spark reads (names
    starting with ``_`` or ``.`` are hidden from Spark, so skipped)."""
    if os.path.isdir(path):
        base = path
        files = [os.path.join(r, n) for r, _, names in os.walk(path) for n in names]
    else:
        base = os.path.dirname(path)
        files = [path] if os.path.exists(path) else []
    out = []
    for f in sorted(files):
        rel = os.path.relpath(f, base)
        if not any(part[0] in "_." for part in rel.split(os.sep)):
            st = os.stat(f)
            out.append((rel, st.st_mtime_ns, st.st_size))
    return tuple(out)
