"""Every registered query with an oracle must hash-match DuckDB — the local
mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from eth_dspa_2019_spark.plans import all_queries

from .oracle import compare

_SPECS = sorted(all_queries().items())


@pytest.mark.parametrize("name", [n for n, s in _SPECS if s.oracle])
def test_query_matches_oracle(name, spark, sf_dir):
    spec = all_queries()[name]
    compare(spec.spark(spark, sf_dir), spec.oracle, sf_dir)


@pytest.mark.parametrize("name", [n for n, s in _SPECS if not s.oracle])
def test_query_runs(name, spark, sf_dir):
    spec = all_queries()[name]
    rows = spec.spark(spark, sf_dir).collect()
    assert rows is not None


def test_oracle_mirror_is_type_faithful(spark, sf_dir):
    """Regression for round 4's only red hash: a DuckDB window ``sum(BIGINT)``
    silently widens to HUGEINT; with equal values the old ``==`` mirror stayed
    green while the driver's typed hash failed. The uncast oracle form must
    now FAIL locally with a dtype mismatch."""
    from eth_dspa_2019_spark.plans.corpus import PACK_BUDGET, doc_pack_chunks

    uncast = f"""
    WITH t AS (
      SELECT doc_id,
             cast(len(string_split(text, ' ')) AS bigint) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS cum_before
      FROM t
    )
    SELECT doc_id, n_tokens, cum_before,
           cum_before // {PACK_BUDGET} AS chunk_id,
           cum_before % {PACK_BUDGET} AS chunk_off
    FROM c
    """
    with pytest.raises(AssertionError, match="dtype mismatch"):
        compare(doc_pack_chunks(spark, sf_dir), uncast, sf_dir)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert len(df.collect()) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_fixed_band_corr_fixture_matches_static_oracle(spark, sf_dir):
    """The fixed-band pruned correlation was demoted from the registry in
    r7 (VERDICT r6 #1: its pinned band width has a measured quadratic
    cliff at 10x users, so the gate now exercises the auto-banded form) —
    but it remains the regression pin for the sketch mechanics, so its
    static oracle keeps running here."""
    from eth_dspa_2019_spark.plans.behavior import (
        _CORR_PRUNED_ORACLE_FIXED,
        user_correlation_sketch_pruned,
    )

    compare(
        user_correlation_sketch_pruned(spark, sf_dir),
        _CORR_PRUNED_ORACLE_FIXED,
        sf_dir,
    )


def test_task3_ratio_oracle_splits_on_vertical_tabs(spark, sf_dir, tmp_path):
    """The Task 3 oracle tokenizes content on Java's ``\\s`` class, the one
    the engine's ``split(content, '\\\\s+')`` uses: RE2's ``\\s`` leaves out
    the vertical tab, so a document whose first space is a vertical tab
    gets a different ``cratio``/``pratio`` unless the oracle spells the
    class out."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from eth_dspa_2019_spark.io.readers import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    text = pc.replace_substring(docs.column("text"), " ", "\x0b", max_replacements=1)
    assert pc.any(pc.match_substring(text, "\x0b")).as_py()
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
    pq.write_table(docs, tmp_path / "documents.parquet")
    spec = all_queries()["task3_user_features"]
    compare(spec.spark(spark, str(tmp_path)), spec.oracle, str(tmp_path))
