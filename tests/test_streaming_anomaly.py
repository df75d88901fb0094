"""Streaming Task 3 anomaly flagging == the batch oracle-checked query,
regardless of micro-batch boundaries (event-time-ordered chunks)."""

from __future__ import annotations

from pyspark.sql import functions as F

from eth_dspa_2019_spark.plans.registry import all_queries
from eth_dspa_2019_spark.sources.activity import load_activities
from eth_dspa_2019_spark.streaming.anomaly import StreamingAnomalyDetector


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_anomalies_equal_batch(spark, sf_dir):
    acts = load_activities(spark, sf_dir)
    batch = all_queries()["task3_anomalies"].spark(spark, sf_dir)

    det = StreamingAnomalyDetector(spark)
    # three uneven event-TIME-ordered chunks (ids don't follow event time
    # for likes, whose id is the liked post's id — chunk on ts_ms)
    lo_ts, hi_ts = acts.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    c1 = lo_ts + (hi_ts - lo_ts) // 7
    c2 = lo_ts + (hi_ts - lo_ts) // 2
    for lo, hi in [(lo_ts, c1), (c1, c2), (c2, hi_ts + 1)]:
        det.process_batch(
            acts.filter((F.col("ts_ms") >= lo) & (F.col("ts_ms") < hi))
        )
    assert _rows(det.anomalies()) == _rows(batch)


def test_streaming_anomalies_single_batch(spark, sf_dir):
    acts = load_activities(spark, sf_dir)
    batch = all_queries()["task3_anomalies"].spark(spark, sf_dir)
    det = StreamingAnomalyDetector(spark)
    det.process_batch(acts)
    assert _rows(det.anomalies()) == _rows(batch)


def test_streaming_fold_has_no_single_partition_window(spark, sf_dir):
    """VERDICT r5 #2: the cumulative fold must use the range-prefix
    two-stage plan, never an unkeyed ``Window.orderBy`` funneling the
    whole input through one reducer — in both of its callers: the batch
    query (empty ring) and a stream micro-batch (the detector's live
    ring buffers)."""
    from eth_dspa_2019_spark.io.materialize import local_frame
    from eth_dspa_2019_spark.operators.anomaly import RING_SCHEMA, scored

    acts = load_activities(spark, sf_dir)
    det = StreamingAnomalyDetector(spark)
    half = acts.agg(F.avg("ts_ms")).first()[0]
    det.process_batch(acts.filter(F.col("ts_ms") < half))
    for ring in (local_frame(spark, RING_SCHEMA), det.state.live("users")):
        plan = scored(acts, ring)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan
        assert "rangepartitioning" in plan


def _ts_chunks(acts, n):
    from pyspark.sql import functions as F2

    lo, hi = acts.agg(F2.min("ts_ms"), F2.max("ts_ms")).collect()[0]
    cuts = [lo + (hi - lo) * i // n for i in range(n)] + [hi + 1]
    return list(zip(cuts[:-1], cuts[1:]))


def test_anomaly_stream_crash_restart_exactly_once(spark, sf_dir, tmp_path):
    """Kill/restart mid-stream on the same checkpoint + state dirs
    reproduces the batch anomaly set EXACTLY (VERDICT r5 #1): the crash
    fires after batch 2's state commit but before the engine's offset
    commit — on restart the detector must detect the replayed batch_id,
    roll back one version, and rewrite the batch's output idempotently.
    Also asserts the per-batch state writes are O(batch): each committed
    version's flagged delta holds only that batch's newly-flagged rows."""
    from eth_dspa_2019_spark.streaming.anomaly import anomaly_stream

    acts = load_activities(spark, sf_dir).select(
        "ts_ms", "id", "kind", "person_id", "content"
    )
    cdir = tmp_path / "chunks"
    chunks = _ts_chunks(acts, 4)
    for i, (lo, hi) in enumerate(chunks):  # sequential → mod-time order
        acts.filter((F.col("ts_ms") >= lo) & (F.col("ts_ms") < hi)).coalesce(
            1
        ).write.mode("overwrite").parquet(str(cdir / f"chunk{i}"))
    out_dir = str(tmp_path / "flagged")
    ck = str(tmp_path / "ck")
    sdir = str(tmp_path / "state")

    try:
        anomaly_stream(
            spark, f"{cdir}/chunk*", acts.schema, out_dir, ck,
            state_dir=sdir, _fail_at_batch=2,
        )
        raise AssertionError("injected crash did not fire")
    except Exception as ex:
        assert "injected crash" in str(ex)

    det = anomaly_stream(
        spark, f"{cdir}/chunk*", acts.schema, out_dir, ck, state_dir=sdir
    )
    batch = all_queries()["task3_anomalies"].spark(spark, sf_dir)
    # recovered in-memory state == batch
    assert _rows(det.anomalies()) == _rows(batch)
    # the emitted per-batch sink too (exact multiset — a replay-duplicated
    # emission would fail)
    emitted = spark.read.parquet(f"{out_dir}/batch-*")
    assert _rows(emitted) == _rows(batch)
    # O(batch) persistence: deltas across versions partition the flagged
    # set (their counts sum to the total — nothing rewritten per batch)
    import glob

    deltas = sorted(glob.glob(f"{sdir}/v*/flagged__delta.parquet"))
    n_total = sum(
        spark.read.parquet(d).count() for d in deltas
    )
    assert len(deltas) == 4
    assert n_total == emitted.count()


def test_detector_restart_resumes_from_snapshot(spark, sf_dir, tmp_path):
    """Manual-drive form: commit per batch, drop the object after batch 1,
    build a fresh detector on the same state_dir — it must resume with the
    carried sums/ring buffers and finish to the exact batch result."""
    acts = load_activities(spark, sf_dir)
    batch = all_queries()["task3_anomalies"].spark(spark, sf_dir)
    sdir = str(tmp_path / "state")
    chunks = _ts_chunks(acts, 3)

    det = StreamingAnomalyDetector(spark, state_dir=sdir)
    for bid, (lo, hi) in enumerate(chunks[:2]):
        det.begin_batch(bid)
        det.process_batch(
            acts.filter((F.col("ts_ms") >= lo) & (F.col("ts_ms") < hi))
        )
        det.commit(bid)
    del det

    det2 = StreamingAnomalyDetector(spark, state_dir=sdir)
    lo, hi = chunks[2]
    det2.begin_batch(2)
    det2.process_batch(
        acts.filter((F.col("ts_ms") >= lo) & (F.col("ts_ms") < hi))
    )
    det2.commit(2)
    assert _rows(det2.anomalies()) == _rows(batch)


def test_detector_rejects_batches_out_of_event_time_order(spark, sf_dir, tmp_path):
    """The fold is an ordered scan, and the `users` live view keeps the
    newest ring-buffer row per user: a batch that starts before the end
    of the previous one must fail loudly, naming both batch ids — also
    for a restarted detector, which reads the guard's clock from the
    committed sums registers. A rejected batch leaves the state as it
    was."""
    import pytest

    acts = load_activities(spark, sf_dir)
    (lo0, hi0), (lo1, hi1) = _ts_chunks(acts, 2)
    early = acts.filter((F.col("ts_ms") >= lo0) & (F.col("ts_ms") < hi0))
    late = acts.filter((F.col("ts_ms") >= lo1) & (F.col("ts_ms") < hi1))
    sdir = str(tmp_path / "state")

    det = StreamingAnomalyDetector(spark, state_dir=sdir)
    det.begin_batch(0)
    det.process_batch(late)
    det.commit(0)
    sums = {k: list(v) for k, v in det.sums.items()}
    n_flagged = det.flagged.count()
    det.begin_batch(1)
    with pytest.raises(ValueError, match=r"batch 1 .*batch 0 "):
        det.process_batch(early)
    assert det.sums == sums
    assert det.flagged.count() == n_flagged

    restarted = StreamingAnomalyDetector(spark, state_dir=sdir)
    restarted.begin_batch(1)
    with pytest.raises(ValueError, match=r"batch 1 .*batch 0 "):
        restarted.process_batch(early)


def test_detector_state_writes_are_o_batch(spark, sf_dir, tmp_path):
    """`users` is a keyed delta table: each batch stages exactly one
    ring-buffer row per user active in that batch, never the standing
    user table."""
    acts = load_activities(spark, sf_dir)
    sdir = str(tmp_path / "state")
    det = StreamingAnomalyDetector(spark, state_dir=sdir)
    for bid, (lo, hi) in enumerate(_ts_chunks(acts, 3)):
        chunk = acts.filter((F.col("ts_ms") >= lo) & (F.col("ts_ms") < hi))
        det.begin_batch(bid)
        det.process_batch(chunk)
        det.commit(bid)
        staged = spark.read.parquet(f"{sdir}/v{bid}/users__delta.parquet")
        want = sorted(r[0] for r in chunk.select("person_id").distinct().collect())
        assert sorted(r[0] for r in staged.select("person_id").collect()) == want


def test_detector_steady_batch_job_budget(spark, sf_dir, tmp_path, job_ids):
    """A steady micro-batch of the detector (begin, fold, commit with
    durable state) launches at most 11 Spark jobs: one observed pass over
    the batch plus the state writes. Per-job scheduling is the fixed
    cost of a small micro-batch."""
    acts = load_activities(spark, sf_dir)
    chunks = [
        acts.filter((F.col("ts_ms") >= lo) & (F.col("ts_ms") < hi)).localCheckpoint()
        for lo, hi in _ts_chunks(acts, 3)
    ]
    det = StreamingAnomalyDetector(spark, state_dir=str(tmp_path / "state"))
    for bid, chunk in enumerate(chunks):

        def fold(bid=bid, chunk=chunk):
            det.begin_batch(bid)
            det.process_batch(chunk)
            det.commit(bid)

        jobs = job_ids(f"test-detector-batch-{bid}", fold)
    assert 0 < len(jobs) <= 11, jobs


def test_batch_task3_job_budget(spark, sf_dir, job_ids):
    """The batch Task 3 queries, built and collected over the session's
    parsed activities: ``task3_anomalies`` is the fold's one observed
    pass plus the flagged scan (at most 8 jobs), ``task3_user_features``
    one windowed scan (at most 2)."""
    load_activities(spark, sf_dir)  # parsed once per session, as in a run
    for name, budget in (("task3_anomalies", 8), ("task3_user_features", 2)):
        query = all_queries()[name].spark
        jobs = job_ids(
            f"test-batch-{name}", lambda: query(spark, sf_dir).toArrow()
        )
        assert 0 < len(jobs) <= budget, (name, jobs)
