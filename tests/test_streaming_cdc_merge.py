"""Streaming CDC merge == a reference in-memory fold, invariant to the
micro-batch split, and exactly-once across a crash-restart.

The change sequence is synthesized deterministically (op by residue, seq =
global position) and includes every interesting interleaving: update of an
existing key, delete, insert-or-replace, update-after-delete (re-creates
from zero), delete-with-no-later-update (stays deleted), update of an
absent key (upsert-creates).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eth_dspa_2019_spark.streaming.cdc_merge import (
    StreamingSnapshotMerge,
    snapshot_merge_stream,
)

_CHANGE_SCHEMA = "op string, key long, cents long, seq long"
_SNAP_SCHEMA = "key long, cents long"


def _changes(n=60, keys=9):
    """Deterministic change list covering all op interleavings."""
    rows = []
    for s in range(n):
        k = (s * 5) % keys
        if s % 11 == 3:
            rows.append(("D", k, 0, s))
        elif s % 7 == 2:
            rows.append(("I", k, 1000 + s, s))
        else:
            rows.append(("U", k, (s % 13) - 6, s))
    return rows


def _reference_fold(snap: dict[int, int], rows) -> dict[int, int]:
    """Plain-Python model: apply changes one at a time in seq order."""
    snap = dict(snap)
    for op, k, c, _s in sorted(rows, key=lambda r: r[3]):
        if op == "D":
            snap.pop(k, None)
        elif op == "I":
            snap[k] = c
        else:
            snap[k] = snap.get(k, 0) + c
    return snap


def _seed(spark):
    return spark.createDataFrame(
        [(k, 100 * k) for k in range(6)], _SNAP_SCHEMA
    )


def _snap_dict(df):
    return {r.key: r.cents for r in df.collect()}


def test_fold_matches_reference_any_split(spark):
    rows = _changes()
    ref = _reference_fold({k: 100 * k for k in range(6)}, rows)
    for n_batches in (1, 3, 5):
        det = StreamingSnapshotMerge(spark, _seed(spark))
        per = len(rows) // n_batches + 1
        for i in range(n_batches):
            chunk = rows[i * per : (i + 1) * per]
            if not chunk:
                continue
            det.process_batch(
                spark.createDataFrame(chunk, _CHANGE_SCHEMA)
            )
        assert _snap_dict(det.snap) == ref, f"split {n_batches}"


def _stage_chunks(spark, rows, base, n_chunks=3):
    per = len(rows) // n_chunks + 1
    for i in range(n_chunks):
        spark.createDataFrame(
            rows[i * per : (i + 1) * per], _CHANGE_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(str(base / f"chunk{i}"))
    return f"{base}/chunk*"


def test_stream_crash_restart_exactly_once(spark, tmp_path):
    rows = _changes()
    ref = _reference_fold({k: 100 * k for k in range(6)}, rows)
    rglob = _stage_chunks(spark, rows, tmp_path)
    odir, ck, st = (
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        str(tmp_path / "state"),
    )
    schema = spark.createDataFrame([], _CHANGE_SCHEMA).schema
    try:
        snapshot_merge_stream(
            spark, rglob, schema, _seed(spark), odir, ck, st,
            _fail_at_batch=1,
        )
        raise AssertionError("injected crash did not surface")
    except Exception:
        pass
    det = snapshot_merge_stream(
        spark, rglob, schema, _seed(spark), odir, ck, st
    )
    assert _snap_dict(det.snap) == ref
    # the last emitted snapshot equals the final state
    import glob as _g

    last = sorted(_g.glob(f"{odir}/batch-*"))[-1]
    assert _snap_dict(spark.read.parquet(last)) == ref


def test_stream_crash_at_first_batch_reseeds(spark, tmp_path):
    """A crash right after batch 0's state commit replays batch 0: the
    state rolls back past the first commit and is rebuilt from the seed
    snapshot, so every emitted snapshot and the final persisted state
    equal an uninterrupted run's."""
    import glob as _g

    rglob = _stage_chunks(spark, _changes(), tmp_path / "changes")
    schema = spark.createDataFrame([], _CHANGE_SCHEMA).schema

    def run(tag, fail_at=None):
        return snapshot_merge_stream(
            spark, rglob, schema, _seed(spark), str(tmp_path / tag / "out"),
            str(tmp_path / tag / "ck"), str(tmp_path / tag / "state"),
            _fail_at_batch=fail_at,
        )

    want = run("ref")
    try:
        run("crash", fail_at=0)
        raise AssertionError("injected crash did not surface")
    except Exception:
        pass
    got = run("crash")
    assert _snap_dict(got.snap) == _snap_dict(want.snap)

    def dirs(tag, pattern):
        return sorted(_g.glob(str(tmp_path / tag / pattern)))

    ref_out, got_out = dirs("ref", "out/batch-*"), dirs("crash", "out/batch-*")
    assert len(ref_out) == len(got_out) == 3
    for a, b in zip(ref_out, got_out):
        assert _snap_dict(spark.read.parquet(b)) == _snap_dict(
            spark.read.parquet(a)
        )
    final = [dirs(t, "state/v*")[-1] for t in ("ref", "crash")]
    assert [p.rsplit("/", 1)[1] for p in final] == ["v2", "v2"]
    a, b = (spark.read.parquet(f"{p}/snap.parquet") for p in final)
    assert _snap_dict(b) == _snap_dict(a)
