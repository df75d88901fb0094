"""The session-cache contract (``io/cache.py``): table metadata follows a
table's data files, the store holds one application's values, and
``clear_plan_caches`` drops query data but keeps table metadata."""

from __future__ import annotations

import inspect
import os
import re
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

import eth_dspa_2019_spark
from eth_dspa_2019_spark.io import cache
from eth_dspa_2019_spark.io.readers import load_table, spread_scan
from eth_dspa_2019_spark.plans import clear_plan_caches

PKG = os.path.dirname(os.path.abspath(eth_dspa_2019_spark.__file__))


def _fake_session(app: str):
    """Just enough of a SparkSession for the cache and clear_plan_caches."""
    return SimpleNamespace(
        sparkContext=SimpleNamespace(
            applicationId=app,
            _jsc=SimpleNamespace(getPersistentRDDs=lambda: {}),
        ),
        catalog=SimpleNamespace(clearCache=lambda: None),
    )


def test_load_table_sees_in_place_rewrite_of_a_part_file(spark, tmp_path):
    """Rewriting a part file under the same name leaves the directory's own
    stat unchanged; the table must still be re-read, new layout included
    (a cached scan keeps its resolved schema)."""
    part = tmp_path / "t.parquet" / "part-00000.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), part)
    first = load_table(spark, str(tmp_path), "t")
    assert [tuple(r) for r in first.orderBy("x").collect()] == [(1,), (2,)]
    assert load_table(spark, str(tmp_path), "t") is first  # cached
    pq.write_table(pa.table({"x": [7, 8], "y": ["a", "b"]}), part)
    again = load_table(spark, str(tmp_path), "t")
    assert [tuple(r) for r in again.orderBy("x").collect()] == [
        (7, "a"),
        (8, "b"),
    ]


def test_fingerprint_covers_data_files_only(tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    (table / "part-0.parquet").write_bytes(b"abc")
    (table / "_SUCCESS").write_bytes(b"")
    (table / ".part-0.parquet.crc").write_bytes(b"x")
    (fp,) = cache.fingerprint(str(table))
    assert fp[0] == "part-0.parquet" and fp[2] == 3
    single = tmp_path / "s.parquet"
    single.write_bytes(b"abcd")
    assert cache.fingerprint(str(single))[0][::2] == ("s.parquet", 4)
    assert cache.fingerprint(str(tmp_path / "missing.parquet")) == ()


def _probes():
    """A query-data and a table-metadata function that count their builds."""
    builds = []

    @cache.query_data
    def data(spark, key):
        builds.append(("data", spark.sparkContext.applicationId, key))
        return builds[-1]

    @cache.table_meta
    def meta(spark, sf_dir, name):
        builds.append(("meta", spark.sparkContext.applicationId, name))
        return builds[-1]

    return data, meta, builds


def test_lookup_under_new_application_drops_previous_entries(tmp_path):
    data, meta, builds = _probes()
    a, b = _fake_session("app-a"), _fake_session("app-b")
    first = (data(a, "k"), meta(a, str(tmp_path), "t"))
    assert (data(a, "k"), meta(a, str(tmp_path), "t")) == first
    assert len(builds) == 2
    data(b, "other")
    assert data(b, "k") == ("data", "app-b", "k")
    assert meta(b, str(tmp_path), "t") == ("meta", "app-b", "t")
    assert not set(first) & set(cache._store.values())


def test_clear_plan_caches_drops_query_data_keeps_table_metadata(tmp_path):
    data, meta, builds = _probes()
    s = _fake_session("app-clear")
    data(s, "k"), meta(s, str(tmp_path), "t")
    clear_plan_caches(s)
    data(s, "k"), meta(s, str(tmp_path), "t")
    assert [kind for kind, _, _ in builds] == ["data", "meta", "data"]


def test_table_meta_follows_the_data_files(tmp_path):
    _, meta, builds = _probes()
    s = _fake_session("app-files")
    (tmp_path / "t.parquet").write_bytes(b"v1")
    meta(s, str(tmp_path), "t")
    meta(s, str(tmp_path), "t")
    (tmp_path / "t.parquet").write_bytes(b"v2 longer")
    meta(s, str(tmp_path), "t")
    assert len(builds) == 2


def test_cache_policy_lives_in_one_module():
    """Source guard: only io/cache.py reads applicationId, no module-level
    *_CACHE dict remains, and spread_scan takes no cache key."""
    cache_dict = re.compile(r"^_?[A-Z_]*_CACHE\s*[:=]", re.M)
    readers, dicts = [], []
    for root, _, names in os.walk(PKG):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                src = fh.read()
            rel = os.path.relpath(path, PKG)
            if "applicationId" in src:
                readers.append(rel)
            if cache_dict.search(src):
                dicts.append(rel)
    assert readers == [os.path.join("io", "cache.py")]
    assert dicts == []
    assert list(inspect.signature(spread_scan).parameters) == ["df"]
