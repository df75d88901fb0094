"""O6/O8: RocksDB state store provider + StreamingQueryProgress surface.

``spark.sql.streaming.stateStore.providerClass`` is a runtime SQL conf —
set it on the shared session for the streaming run, restore afterwards."""

from __future__ import annotations

from pyspark.sql import functions as F

from eth_dspa_2019_spark.io.readers import load_table
from eth_dspa_2019_spark.streaming import (
    run_to_memory,
    stream_events,
    tumbling_counts_stream,
)
from eth_dspa_2019_spark.streaming.windows import ROCKSDB_STATE_CONF


def test_rocksdb_state_store_and_progress(spark, sf_dir, tmp_path):
    saved = {k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONF}
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        progress: list = []
        stream = tumbling_counts_stream(stream_events(spark, sf_dir))
        got = run_to_memory(
            stream,
            str(tmp_path / "ckpt"),
            "complete",
            collect_progress=progress,
        )
        batch_n = (
            load_table(spark, sf_dir, "events")
            .groupBy(F.window("ts", "30 minutes"), "event_type")
            .count()
            .count()
        )
        assert got.count() == batch_n
        # O8: frontier surfaced — watermark + state rows visible per batch
        assert progress, "no StreamingQueryProgress collected"
        last = progress[-1]
        assert "eventTime" in last and "stateOperators" in last
        assert last["stateOperators"][0]["numRowsTotal"] > 0
        # the state store actually used RocksDB
        assert "rocksdb" in str(last["stateOperators"][0]).lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_checkpoint_restart_resumes_state(spark, sf_dir, tmp_path):
    """O6: a restarted query on the same checkpoint ingests ONLY new files
    and its recovered state still carries the first run's aggregates — the
    reference's checkpoint/restart story
    (`session-9/.../FlinkKafkaConsumer.java:66-73`)."""
    import os

    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    a.coalesce(1).write.mode("append").parquet(src)

    def run(name):
        stream = (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = [p for p in q.recentProgress]
        return (
            {r["event_type"]: r["n"] for r in spark.table(name).collect()},
            progress,
        )

    first, _ = run("restart_t1")
    assert first == {
        r["event_type"]: r["n"]
        for r in a.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    b.coalesce(1).write.mode("append").parquet(src)
    second, progress2 = run("restart_t2")
    # recovered state + only-new input → totals over a ∪ b
    assert second == {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rows_read = sum(p.numInputRows for p in progress2)
    assert rows_read <= b.count()  # file A was NOT re-ingested


def test_resolver_snapshot_writes_are_o_batch(spark, tmp_path):
    """Verdict r4 #4/#5: each committed version persists `resolved` as the
    BATCH's delta (rows resolved that batch), not the full history; full
    compactions appear only at the COMPACT_EVERY cadence (plus the initial
    base), and reconstruction equals the in-memory state."""
    from eth_dspa_2019_spark.streaming.durable import COMPACT_EVERY
    from eth_dspa_2019_spark.streaming.resolution import (
        _RESOLVED_SCHEMA,
        IncrementalResolver,
    )

    n_batches, per_batch = 5, 40
    assert n_batches < COMPACT_EVERY  # only v0 should hold a compaction
    sdir = str(tmp_path / "state")
    r = IncrementalResolver(spark, state_dir=sdir)
    # batch b: comments with ids [b*100, b*100+per_batch) — each batch
    # resolves exactly its own rows, so the expected delta size is known
    for b in range(n_batches):
        rows = [(b * 100 + i, "comment", 7, None) for i in range(per_batch)]
        acts = spark.createDataFrame(
            rows, "id long, kind string, post_id long, parent_id long"
        )
        r.begin_batch(b)
        r.process_batch(acts)
        r.commit(b)

    fs_root = tmp_path / "state"
    delta_rows = {}
    for b in range(n_batches):
        vdir = fs_root / f"v{b}"
        assert (vdir / "_COMMITTED").exists()
        assert (vdir / "resolved__delta.parquet").exists()
        has_full = (vdir / "resolved__full.parquet").exists()
        assert has_full == (b == 0), f"unexpected compaction layout at v{b}"
        delta_rows[b] = (
            spark.read.schema(_RESOLVED_SCHEMA)
            .parquet(str(vdir / "resolved__delta.parquet"))
            .count()
        )
    # O(batch): every delta is exactly the batch's resolutions
    assert delta_rows == {b: per_batch for b in range(n_batches)}
    # reconstruction across base + deltas equals the live state
    fresh = IncrementalResolver(spark, state_dir=sdir)
    assert fresh.resolved.count() == n_batches * per_batch
    assert sorted(map(tuple, fresh.resolved.collect())) == sorted(
        map(tuple, r.resolved.collect())
    )


def test_resolver_compaction_prunes_old_versions(spark, tmp_path):
    """Crossing a compaction boundary prunes versions below the previous
    base while keeping the rollback target reconstructable."""
    from eth_dspa_2019_spark.streaming.durable import COMPACT_EVERY
    from eth_dspa_2019_spark.streaming.resolution import IncrementalResolver

    sdir = str(tmp_path / "state")
    r = IncrementalResolver(spark, state_dir=sdir)
    n_batches = COMPACT_EVERY + 2  # commits v0..v{CE+1}; v{CE} compacts
    for b in range(n_batches):
        acts = spark.createDataFrame(
            [(b, "comment", 1, None)],
            "id long, kind string, post_id long, parent_id long",
        )
        r.begin_batch(b)
        r.process_batch(acts)
        r.commit(b)
    live = sorted(
        int(p.name[1:])
        for p in (tmp_path / "state").iterdir()
        if p.name.startswith("v")
    )
    # after v{CE+1}: newest base <= CE is CE itself -> v0..v{CE-1} pruned
    assert live == [COMPACT_EVERY, COMPACT_EVERY + 1]
    fresh = IncrementalResolver(spark, state_dir=sdir)
    assert fresh.resolved.count() == n_batches
    # rollback target (one version back) is still loadable
    fresh.begin_batch(n_batches - 1)
    assert fresh.resolved.count() == n_batches - 1


def test_state_store_missing_table_raises(spark, tmp_path):
    """ADVICE r4 (medium): a committed snapshot with a missing table must
    raise, not silently reset resolver state to empty."""
    import pytest

    from eth_dspa_2019_spark.streaming.durable import _StateStore
    from eth_dspa_2019_spark.streaming.resolution import (
        _PARKED_SCHEMA,
        IncrementalResolver,
    )

    sdir = str(tmp_path / "state")
    r = IncrementalResolver(spark, state_dir=sdir)
    acts = spark.createDataFrame(
        [(1, "comment", 9, None)],
        "id long, kind string, post_id long, parent_id long",
    )
    r.begin_batch(0)
    r.process_batch(acts)
    r.commit(0)  # commits resolved+pending but no 'parked' extra

    store = _StateStore(spark, sdir)
    with pytest.raises(FileNotFoundError, match="parked"):
        store.load(0, "parked", _PARKED_SCHEMA)
    # version None / < 0 keeps the legitimate empty-state path
    assert store.load(None, "parked", _PARKED_SCHEMA).count() == 0
    assert store.load(-1, "parked", _PARKED_SCHEMA).count() == 0
    # a state_dir whose snapshots lack any 'resolved' base also raises
    with pytest.raises(FileNotFoundError, match="resolved_missing"):
        store.load_chain(0, "resolved_missing", "id long, root_post_id long")


def test_durable_tables_lifecycle(spark, tmp_path):
    """The shared DurableTables harness (`streaming/durable.py`) through a
    full life: 12 commits (> COMPACT_EVERY), a crash-replay rollback in
    the middle, delta-chain reconstruction, and the pruning bound (at
    most COMPACT_EVERY+1 delta dirs plus one compaction base retained)."""
    from eth_dspa_2019_spark.streaming.durable import (
        COMPACT_EVERY,
        DurableTables,
    )

    sdir = str(tmp_path / "state")
    fulls = {"cursor": "k long, v long"}
    deltas = {"log": "batch long, x long"}

    def mk():
        return DurableTables(spark, sdir, fulls, deltas)

    dt = mk()
    for b in range(8):
        assert not dt.begin_batch(b)  # fresh ids never roll back
        d = spark.createDataFrame([(b, b * 10)], deltas["log"])
        cur = spark.createDataFrame([(0, b)], fulls["cursor"])
        dt.fold({"cursor": cur, "log": d})
        dt.commit(b)

    # fresh process: recovers all 8 batches through the delta chain
    dt2 = mk()
    t = dt2.tables
    assert sorted(r["batch"] for r in t["log"].collect()) == list(range(8))
    assert t["cursor"].collect()[0]["v"] == 7

    # crash-replay: the engine re-runs batch 7 → state must roll back one
    # version and re-absorb the batch without duplicating its delta
    assert dt2.begin_batch(7)
    rolled = dt2.tables
    assert sorted(r["batch"] for r in rolled["log"].collect()) == list(range(7))
    d = spark.createDataFrame([(7, 999)], deltas["log"])  # new content
    dt2.fold({"cursor": spark.createDataFrame([(0, 70)], fulls["cursor"]),
              "log": d})
    dt2.commit(7)
    for b in range(8, 12):
        assert not dt2.begin_batch(b)
        d = spark.createDataFrame([(b, b * 10)], deltas["log"])
        dt2.fold({"cursor": spark.createDataFrame([(0, b)], fulls["cursor"]),
                  "log": d})
        dt2.commit(b)

    # final recovery sees the REPLAYED batch-7 content, not the original
    t3 = mk().tables
    rows = {r["batch"]: r["x"] for r in t3["log"].collect()}
    assert rows[7] == 999
    assert sorted(rows) == list(range(12))

    # pruning bound: versions below the newest compaction at-or-below the
    # previous batch are gone; the directory never grows with the stream
    import glob

    vdirs = sorted(glob.glob(f"{sdir}/v*"))
    assert len(vdirs) <= COMPACT_EVERY + 2, vdirs


def test_flat_checkpoint_strips_origin_statistics(spark):
    """Regression pin for the round-8 stats blowup: localCheckpoint
    preserves the origin plan's estimated sizeInBytes (join estimation
    multiplies these, compounding geometrically across standing-state
    batches); flat_checkpoint must reset the leaf to the bounded default
    while serving the identical rows without recompute."""
    import pyspark.sql.functions as F

    from eth_dspa_2019_spark.streaming.durable import flat_checkpoint

    a = spark.range(100).withColumn("k", F.col("id") % 7)
    b = spark.range(50).withColumn("k", F.col("id") % 7)
    j = a.join(b.withColumnRenamed("id", "id2"), "k").join(
        a.withColumnRenamed("id", "id3"), "k"
    )

    def bits(df):
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()

    flat = flat_checkpoint(j)
    assert bits(flat) <= 64, bits(flat)
    assert sorted(map(tuple, flat.collect())) == sorted(
        map(tuple, j.collect())
    )
    # and the compounding scenario stays bounded: re-checkpoint a plan
    # that references the previous checkpoint several times, repeatedly
    st = flat
    for _ in range(5):
        st = flat_checkpoint(
            st.alias("x").join(st.alias("y"), "k").limit(10)
        )
    assert bits(st) <= 64, bits(st)


def test_begin_commit_without_fold_persists_no_delta(spark, sf_dir, tmp_path):
    """A begin/commit cycle with no fold commits an EMPTY delta: the
    staging area is emptied at every begin_batch. A stale staging area
    would persist the previous batch's delta a second time, and a
    restart would then recover every row of that batch twice."""
    from eth_dspa_2019_spark.sources.activity import load_activities
    from eth_dspa_2019_spark.streaming.anomaly import StreamingAnomalyDetector
    from eth_dspa_2019_spark.streaming.resolution import IncrementalResolver

    def rows(df):
        return sorted(map(tuple, df.collect()))

    sdir = str(tmp_path / "resolver")
    r = IncrementalResolver(spark, state_dir=sdir)
    r.begin_batch(0)
    r.process_batch(
        spark.createDataFrame(
            [(1, "comment", 9, None), (2, "comment", 9, None)],
            "id long, kind string, post_id long, parent_id long",
        )
    )
    r.commit(0)
    r.begin_batch(1)
    r.commit(1)
    assert r.resolved.count() == 2
    assert rows(IncrementalResolver(spark, state_dir=sdir).resolved) == rows(
        r.resolved
    )

    ddir = str(tmp_path / "detector")
    det = StreamingAnomalyDetector(spark, state_dir=ddir)
    det.begin_batch(0)
    det.process_batch(load_activities(spark, sf_dir))
    det.commit(0)
    det.begin_batch(1)
    det.commit(1)
    assert det.flagged.count() > 0
    assert rows(StreamingAnomalyDetector(spark, state_dir=ddir).flagged) == rows(
        det.flagged
    )


def test_durable_state_lives_in_one_module():
    """Source guard: one store, one compaction cadence and one staging
    area, all in streaming/durable.py — no component keeps a compaction
    counter or a delta dict, or branches on the committed version."""
    import os
    import re

    import eth_dspa_2019_spark

    pkg = os.path.dirname(os.path.abspath(eth_dspa_2019_spark.__file__))
    durable = os.path.join("streaming", "durable.py")
    owned = re.compile(
        r"\b_StateStore\b|\b_since_compact\b|\bcommitted_batch\b"
        r"|^COMPACT_EVERY\s*=|^def flat_checkpoint\b",
        re.M,
    )
    staging = re.compile(r"def _(seed|empty_deltas?)\b|self\._delta\b")
    owners, stagers = set(), set()
    for root, _, names in os.walk(pkg):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                src = fh.read()
            rel = os.path.relpath(path, pkg)
            if owned.search(src):
                owners.add(rel)
            if staging.search(src):
                stagers.add(rel)
    assert owners == {durable}
    assert stagers == set()
    with open(os.path.join(pkg, durable)) as fh:
        assert "resolution" not in re.findall(r"^from \.(\w+)", fh.read(), re.M)


def _partitions(df) -> int:
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def _runs_python(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_materialize_observes_rows_and_metrics(spark):
    """materialize() returns the input's rows (right-sized, stats
    stripped) plus the row count and the caller's aggregates, read from
    the checkpoint's own job: they equal a separate agg. Frames with no
    rows — pruned to an empty relation by the optimizer, or filtered to
    nothing at run time — report rows == 0 without waiting on a metric."""
    import threading

    from eth_dspa_2019_spark.io.materialize import local_frame, materialize

    df = (
        spark.range(0, 500, numPartitions=8)
        .withColumn("k", F.col("id") % 7)
        .withColumn("odd", F.col("id") % 2 == 1)
    )
    frame, seen = materialize(
        df, odd=F.count_if("odd"), s=F.sum("k"), top=F.max("id")
    )
    want = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_if("odd").alias("odd"),
        F.sum("k").alias("s"),
        F.max("id").alias("top"),
    ).first()
    assert seen.asDict() == want.asDict()
    assert sorted(map(tuple, frame.collect())) == sorted(map(tuple, df.collect()))
    assert _partitions(frame) == 1  # ~12 KB of rows: one split

    results = {}

    def run(name, empty):
        results[name] = materialize(empty, s=F.sum("id"))

    threads = [
        threading.Thread(target=run, args=(name, empty), daemon=True)
        for name, empty in [
            ("pruned", spark.range(10).where(F.lit(False))),
            ("local", local_frame(spark, "id long")),
            ("filtered", spark.range(10).filter(F.col("id") > 100)),
        ]
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive(), "materialize blocked on an empty frame"
    for name, (frame, seen) in results.items():
        assert (seen.rows, seen.s) == (0, None), name
        assert frame.count() == 0, name


def test_per_batch_state_runs_no_python_workers(spark, sf_dir, tmp_path):
    """The frames a fold builds on the driver — empty tables, a load at no
    version, the anomaly detector's running-sum registers — are JVM
    relations: scanning them never starts a Python worker."""
    from eth_dspa_2019_spark.sources.activity import load_activities
    from eth_dspa_2019_spark.streaming.anomaly import StreamingAnomalyDetector
    from eth_dspa_2019_spark.streaming.durable import DurableTables, _StateStore

    dt = DurableTables(spark, None, {"f": "a long, b string"}, {"d": "c long"})
    for name, t in dt.tables.items():
        assert not _runs_python(t), name
    store = _StateStore(spark, str(tmp_path / "store"))
    assert not _runs_python(store.load(None, "f", "a long"))
    assert not _runs_python(store.load_chain(None, "d", "c long"))

    det = StreamingAnomalyDetector(spark)
    det.process_batch(load_activities(spark, sf_dir))
    sums = det.state.tables["sums"]
    assert not _runs_python(sums)
    assert {r["feature"]: [r["s"], r["c"]] for r in sums.collect()} == det.sums


def test_delta_table_partitions_stay_bounded(spark, sf_dir):
    """Each fold appends one part to a delta table's lazy union and
    compaction merges the union: `resolved` never carries more than
    COMPACT_EVERY + 1 partitions. A part used to keep its plan's
    partition count (the sum of its union inputs), and compaction kept
    the union's, so the table grew by several partitions per fold and
    every hop's scan of it by as many tasks."""
    from eth_dspa_2019_spark.sources.activity import load_activities
    from eth_dspa_2019_spark.streaming.durable import COMPACT_EVERY
    from eth_dspa_2019_spark.streaming.resolution import IncrementalResolver

    acts = load_activities(spark, sf_dir)
    lo, hi = acts.agg(F.min("ts_ms"), F.max("ts_ms")).first()
    n = COMPACT_EVERY + 1
    cuts = [lo + (hi - lo) * i // n for i in range(n)] + [hi + 1]
    r = IncrementalResolver(spark)
    seen = []
    for a, b in zip(cuts, cuts[1:]):
        r.process_batch(acts.filter((F.col("ts_ms") >= a) & (F.col("ts_ms") < b)))
        seen.append(_partitions(r.resolved))
    assert max(seen) <= COMPACT_EVERY + 1, seen
    assert r.resolved.count() == r.resolved.select("id").distinct().count()


def test_restarted_state_outlives_the_versions_it_loaded(spark, tmp_path):
    """A restarted component reads its tables from snapshot versions that
    the first disk compaction after the restart prunes. The loaded tables
    must hold their data: read lazily from those files, the resolver's
    next fold after the prune failed with FILE_NOT_EXIST (a 12-batch
    composed soak with a crash at batch 5 died at batch 10)."""
    from eth_dspa_2019_spark.streaming.durable import COMPACT_EVERY
    from eth_dspa_2019_spark.streaming.resolution import IncrementalResolver

    sdir = str(tmp_path / "state")

    def run(r, batches):
        for b in batches:
            r.begin_batch(b)
            r.process_batch(
                spark.createDataFrame(
                    [(b, "comment", 1, None), (100 + b, "reply", None, b)],
                    "id long, kind string, post_id long, parent_id long",
                )
            )
            r.commit(b)

    run(IncrementalResolver(spark, state_dir=sdir), range(3))
    r = IncrementalResolver(spark, state_dir=sdir)  # restart from v2
    run(r, range(3, COMPACT_EVERY + 3))
    assert not (tmp_path / "state" / "v2").exists()  # pruned under r
    assert r.resolved.count() == 2 * (COMPACT_EVERY + 3)
    assert r.pending.count() == 0
