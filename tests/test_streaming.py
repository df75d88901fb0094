"""Streaming == batch equality (the reference's dual-implementation golden
methodology, `SN/validation/SlidingWindowEvaluator.java:35-59`): each
streaming operator replayed to completion with Trigger.AvailableNow must
reproduce the oracle-checked batch query exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_dspa_2019_spark.io.readers import load_table
from eth_dspa_2019_spark.streaming import (
    run_to_memory,
    running_totals_stateful,
    running_totals_stream,
    sliding_counts_two_stage_stream,
    stream_events,
    tumbling_counts_stream,
)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_counts_stream_equals_batch(spark, sf_dir, tmp_path):
    stream = tumbling_counts_stream(stream_events(spark, sf_dir))
    got = run_to_memory(stream, str(tmp_path / "ckpt"), "complete")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    cols = ["window_start", "event_type", "n_events"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_running_totals_stream_equals_batch(spark, sf_dir, tmp_path):
    stream = running_totals_stream(stream_events(spark, sf_dir))
    got = run_to_memory(stream, str(tmp_path / "ckpt"), "complete")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert _rows(got, ["user_id", "n"]) == _rows(batch, ["user_id", "n"])


def test_stateful_running_sum_equals_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState (ValueState analog): final per-key state after
    the bounded replay equals the batch aggregate."""
    stream = running_totals_stateful(stream_events(spark, sf_dir))
    got = run_to_memory(stream, str(tmp_path / "ckpt"), "update")
    # update mode emits one row per key per batch; keep the last (max n)
    final = (
        got.groupBy("user_id")
        .agg(F.max_by("running_value", "n").alias("rv"), F.max("n").alias("n"))
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum("value").alias("rv"), F.count(F.lit(1)).alias("n")
        )
    )
    g = {r["user_id"]: (round(r["rv"], 6), r["n"]) for r in final.collect()}
    b = {r["user_id"]: (round(r["rv"], 6), r["n"]) for r in batch.collect()}
    assert g == b


def test_two_stage_sliding_stream_equals_batch_prefix(spark, sf_dir, tmp_path):
    """Chained stateful window aggregations (30-min partials → 12h/30m
    sliding sum): every window emitted before the final watermark must
    equal the batch two-stage result, with no gaps before the tail."""
    stream = sliding_counts_two_stage_stream(stream_events(spark, sf_dir))
    got = run_to_memory(stream, str(tmp_path / "ckpt"), "append")
    ev = load_table(spark, sf_dir, "events")
    partial = ev.groupBy(
        F.window("ts", "30 minutes").alias("w30"), "event_type"
    ).agg(F.count(F.lit(1)).alias("pn"))
    batch = (
        partial.groupBy(
            F.window(F.col("w30.start"), "12 hours", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(F.sum("pn").alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    cols = ["window_start", "event_type", "n_events"]
    got_rows, batch_rows = set(_rows(got, cols)), set(_rows(batch, cols))
    assert got_rows and got_rows <= batch_rows
    max_emitted = max(r[0] for r in got_rows)
    assert not {r for r in batch_rows - got_rows if r[0] <= max_emitted}


def test_session_windows_stream_prefix(spark, sf_dir, tmp_path):
    """W7 streaming: session_window + watermark (merging session state) —
    emitted sessions equal the batch session query up to the watermark."""
    ev = stream_events(spark, sf_dir)
    stream = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("session_start"),
            F.col("sw.end").cast("long").alias("session_end"),
            "n_events",
        )
    )
    got = run_to_memory(stream, str(tmp_path / "swck"), "append")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("session_start"),
            F.col("sw.end").cast("long").alias("session_end"),
            "n_events",
        )
    )
    cols = ["user_id", "session_start", "session_end", "n_events"]
    got_rows, batch_rows = set(_rows(got, cols)), set(_rows(batch, cols))
    assert got_rows and got_rows <= batch_rows
    max_end = max(r[2] for r in got_rows)
    assert not {r for r in batch_rows - got_rows if r[2] <= max_end}


def test_stateful_task3_features_equal_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState Task 3 feature extraction (per-user ring
    state) == the oracle-checked batch window-function form, over an
    in-order bounded replay."""
    import tempfile

    from eth_dspa_2019_spark.operators.anomaly import user_features
    from eth_dspa_2019_spark.sources.activity import (
        load_activities,
        parse_activities,
        synth_activity_lines,
    )
    from eth_dspa_2019_spark.streaming.features import user_features_stateful

    lines = synth_activity_lines(spark, sf_dir)
    ldir = str(tmp_path / "flines")
    lines.coalesce(1).write.mode("overwrite").text(ldir)
    acts_stream = parse_activities(
        spark.readStream.format("text").load(ldir)
    )
    got = run_to_memory(
        user_features_stateful(acts_stream),
        str(tmp_path / "fckpt"),
        "append",
    )
    batch = user_features(load_activities(spark, sf_dir)).select(
        "person_id", "ts_ms", "id", "kind", "freq", "clen", "plen",
        "cratio", "pratio",
    )
    cols = batch.columns
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stateful_task3_features_split_on_whitespace_runs(spark):
    """The stateful form tokenizes like the spec's split(content, '\\s+'):
    a run of spaces or tabs is one separator ("a  a" is two tokens, one
    distinct: cratio 500000), and only a leading or trailing run yields an
    empty token. None of the replay documents above has such a run."""
    import pandas as pd

    from eth_dspa_2019_spark.operators.anomaly import user_features
    from eth_dspa_2019_spark.streaming.features import _feature_rows

    class _NewKey:  # the GroupState of a key seen for the first time
        exists = False

        def update(self, value):
            pass

    contents = [("comment", "a  a"), ("post", "b\tb c"), ("reply", " x \t y  x ")]
    pdf = pd.DataFrame(
        [(7, 1000 * i, i, kind, text) for i, (kind, text) in enumerate(contents)],
        columns=["person_id", "ts_ms", "id", "kind", "content"],
    )
    got = next(_feature_rows((7,), iter([pdf]), _NewKey()))
    batch = user_features(spark.createDataFrame(
        pdf, "person_id long, ts_ms long, id long, kind string, content string"
    ))
    cols = list(got.columns)
    assert sorted(map(tuple, got.itertuples(index=False))) == sorted(
        map(tuple, batch.select(*cols).collect())
    )
    assert got["cratio"].tolist()[0] == 500_000


def test_watermark_append_drops_only_incomplete_windows(spark, sf_dir, tmp_path):
    """Append mode + watermark: after a bounded replay the emitted windows
    are exactly the batch windows whose end precedes the final watermark
    (the reference's allowedLateness policy mapped to Spark, SURVEY §7.3)."""
    stream = tumbling_counts_stream(stream_events(spark, sf_dir))
    got = run_to_memory(stream, str(tmp_path / "ckpt"), "append")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    cols = ["window_start", "event_type", "n_events"]
    got_rows = set(_rows(got, cols))
    batch_rows = set(_rows(batch, cols))
    assert got_rows <= batch_rows
    # everything except the tail (still-open windows behind the watermark)
    # must have been emitted
    max_emitted = max((r[0] for r in got_rows), default=0)
    missing_before_tail = {
        r for r in batch_rows - got_rows if r[0] <= max_emitted
    }
    assert not missing_before_tail
    assert len(got_rows) > 0
