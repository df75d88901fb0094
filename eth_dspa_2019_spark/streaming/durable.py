"""The durable-state layer of every stateful foreachBatch component
(O3/O6). The reference keeps its streaming state in Flink keyed state plus
an external memcached store (`SN/task/postidresolution/PostIdResolver.java:
63-225`) whose contents simply OUTLIVE the Flink job — durable only as long
as an unrelated external process stays up. Here each component (the
resolver, the task-2/3 operators, the dedup, index and sketch folds)
declares its tables once and :class:`DurableTables` owns everything else:
loading and seeding, staging each batch's deltas, the in-memory compaction
cadence, the versioned snapshot commit and rollback-on-replay.

A component declares:

- **fulls** — small working sets (running-sum registers, pending chase
  pointers): rewritten whole each batch; size tracks the KEY space, not
  stream history.
- **deltas** — append-only tables (flagged anomalies, resolved mappings,
  postings, tombstone logs, keyed rows such as the per-user ring
  buffers): each batch persists only its own additions. In memory each
  one is a lazy union over per-fold parts, each a checkpoint or a narrow
  filter of one.
- optional **live** views of delta tables (tombstones applied, increments
  re-summed, the newest row per key): what the component reads, and what compaction keeps — in
  memory every ``COMPACT_EVERY`` folds, on disk every ``COMPACT_EVERY``
  batches. Physical deletion thus rides the compaction cadence, the
  log-structured delete shape.
- an optional **seed** for the standing tables when no snapshot exists
  (first start, or a rollback past the first commit); empty otherwise.

Every frame a fold keeps goes through the engine's one materialization
primitive, ``io/materialize.py::materialize`` (eager, observed,
right-sized, statistics stripped), so a delta table's lazy union grows by
one small part per fold and compaction merges it back; the rows a fold
builds on the driver are JVM relations (``local_frame``).

Durability: with ``state_dir`` set, the tables persist as versioned
parquet under the directory — one ``v{batch_id}`` snapshot per micro-batch,
committed with a marker file AFTER the data lands. A restarted query
recovers the newest committed snapshot; if Spark replays the last
micro-batch (crash between the state commit and the engine's offset
commit), the replayed ``batch_id`` is detected and the state ROLLS BACK
one version first, so reprocessing is idempotent — the exactly-once story
holds across process restarts, not just within one process (all filesystem
access goes through the Hadoop FileSystem API, so any checkpoint-capable
FS works).

Snapshot I/O is O(batch), not O(history): a delta table is persisted as
per-batch DELTAS (for the resolver, exactly the mappings the batch
resolved — the analog of the reference's memcached ``set`` calls, which
also only ever ship the new edges, `PostIdResolver.java:63-96`), with a
FULL compaction every ``COMPACT_EVERY`` batches and on the first commit;
recovery reads the newest compaction plus the committed deltas after it.
Versions older than the newest compaction at-or-below the previous batch
are pruned, so at most ``COMPACT_EVERY + 1`` small delta dirs plus one
full snapshot exist at any time, and the rollback target is always
reconstructable.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..io.materialize import local_frame, materialize

__all__ = [
    "COMPACT_EVERY",
    "DurableComponent",
    "DurableTables",
    "flat_checkpoint",
    "table",
]

# full-compaction cadence for delta-persisted tables: amortizes the
# O(history) rewrite to history/COMPACT_EVERY per batch while bounding
# recovery reads to one full + <= COMPACT_EVERY deltas
COMPACT_EVERY = 8


def flat_checkpoint(df: DataFrame) -> DataFrame:
    """The frame of ``materialize``: eager, right-sized, and with the
    origin plan's statistics stripped."""
    return materialize(df)[0]


class _StateStore:
    """Versioned parquet snapshots under ``root`` with commit markers.

    Layout per version dir ``root/v{batch_id}/``:

    - ``{table}.parquet``         — full snapshot (bounded working sets),
    - ``{table}__delta.parquet``  — this batch's additions (append-only
      tables; the full content is the newest ``__full`` plus every
      committed ``__delta`` after it),
    - ``{table}__full.parquet``   — periodic compaction of an append-only
      table (always present at the first committed version),
    - ``_COMMITTED``              — marker written AFTER all data lands.

    Only marker-bearing versions count. Pruning keeps every version at or
    after the newest compaction at-or-below ``version - 1``, so both the
    current version and the rollback target stay reconstructable."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _jpath(self, rel: str = ""):
        p = f"{self.root}/{rel}" if rel else self.root
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self):
        return self._jpath().getFileSystem(self._conf)

    def committed_versions(self) -> list[int]:
        fs = self._fs()
        if not fs.exists(self._jpath()):
            return []
        out = []
        for status in fs.listStatus(self._jpath()):
            name = status.getPath().getName()
            if (
                status.isDirectory()
                and name.startswith("v")
                and name[1:].isdigit()
                and fs.exists(self._jpath(f"{name}/_COMMITTED"))
            ):
                out.append(int(name[1:]))
        return sorted(out)

    def latest(self) -> int | None:
        versions = self.committed_versions()
        return versions[-1] if versions else None

    def load(self, version: int | None, table: str, schema: str) -> DataFrame:
        """Read one full state table at ``version`` (None / < 0 → empty).

        A MISSING table at a committed version is an error, not an empty
        frame: silently resetting state (e.g. a state_dir paired with the
        wrong checkpoint, or a corrupted snapshot) would make the
        exactly-once machinery emit wrong output with no signal."""
        if version is None or version < 0:
            return local_frame(self.spark, schema)
        rel = f"v{version}/{table}.parquet"
        if not self._fs().exists(self._jpath(rel)):
            raise FileNotFoundError(
                f"state table '{table}' missing from committed snapshot "
                f"{self.root}/v{version} — state_dir/checkpoint mismatch "
                "or corrupted snapshot"
            )
        return self.spark.read.schema(schema).parquet(f"{self.root}/{rel}")

    def _bases(self, table: str, upto: int) -> list[int]:
        """Committed versions <= ``upto`` holding a compaction of ``table``."""
        fs = self._fs()
        return [
            v
            for v in self.committed_versions()
            if v <= upto
            and fs.exists(self._jpath(f"v{v}/{table}__full.parquet"))
        ]

    def load_chain(
        self, version: int | None, table: str, schema: str
    ) -> DataFrame:
        """Reconstruct a delta-persisted table at ``version``: newest
        compaction at-or-below it plus every committed delta after."""
        if version is None or version < 0:
            return local_frame(self.spark, schema)
        bases = self._bases(table, version)
        if not bases:
            raise FileNotFoundError(
                f"no compaction of '{table}' at or below version {version} "
                f"under {self.root} — state_dir/checkpoint mismatch or "
                "corrupted snapshot"
            )
        base = bases[-1]
        paths = [f"{self.root}/v{base}/{table}__full.parquet"] + [
            f"{self.root}/v{v}/{table}__delta.parquet"
            for v in self.committed_versions()
            if base < v <= version
        ]
        return self.spark.read.schema(schema).parquet(*paths)

    def save(
        self,
        version: int,
        fulls: dict[str, DataFrame],
        deltas: dict[str, DataFrame] | None = None,
        compactions: dict[str, DataFrame] | None = None,
    ) -> None:
        """Write all tables for ``version`` (fulls as ``{t}.parquet``,
        deltas as ``{t}__delta.parquet``, compactions additionally as
        ``{t}__full.parquet``), then the commit marker, then prune
        versions below the newest compaction at-or-below ``version - 1``."""
        fs = self._fs()
        vdir = self._jpath(f"v{version}")
        if fs.exists(vdir):  # crashed/replayed attempt — start clean
            fs.delete(vdir, True)
        for table, df in fulls.items():
            df.write.mode("overwrite").parquet(
                f"{self.root}/v{version}/{table}.parquet"
            )
        for table, df in (deltas or {}).items():
            df.write.mode("overwrite").parquet(
                f"{self.root}/v{version}/{table}__delta.parquet"
            )
        for table, df in (compactions or {}).items():
            df.write.mode("overwrite").parquet(
                f"{self.root}/v{version}/{table}__full.parquet"
            )
        fs.create(self._jpath(f"v{version}/_COMMITTED"), True).close()
        keep_floor = version - 1
        for table in deltas or {}:
            bases = self._bases(table, version - 1)
            keep_floor = min(keep_floor, bases[-1] if bases else 0)
        for old in self.committed_versions():
            if old < keep_floor:
                fs.delete(self._jpath(f"v{old}"), True)


class DurableTables:
    """The standing state of one streaming component.

    ``fulls`` / ``deltas`` map table name → DDL schema string; ``tables``
    holds every table's current frame. ``seed()`` returns the tables to
    start from when no snapshot exists (any it omits start empty);
    ``live`` maps a delta table to its live view (see the module
    docstring); ``on_reset(tables)`` runs after every (re)load so the
    component can re-derive driver-side values. Without a ``state_dir``
    nothing persists and components run identically in throwaway mode."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str | None,
        fulls: dict[str, str],
        deltas: dict[str, str],
        *,
        seed: Callable[[], dict[str, DataFrame]] | None = None,
        live: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
        on_reset: Callable[[dict[str, DataFrame]], None] | None = None,
    ):
        self.spark = spark
        self.fulls = dict(fulls)
        self.deltas = dict(deltas)
        self.schemas = {**self.fulls, **self.deltas}
        self.seed = seed
        self.live_views = dict(live or {})
        self.on_reset = on_reset
        self.store = _StateStore(spark, state_dir) if state_dir else None
        self.committed_batch: int | None = (
            self.store.latest() if self.store else None
        )
        self._staged: dict[str, DataFrame] = {}
        self._reset()

    def _empty(self, t: str) -> DataFrame:
        return local_frame(self.spark, self.schemas[t])

    def _reset(self) -> None:
        """Load every table at ``committed_batch`` (the seed when None)
        and restart the compaction cadence."""
        v = self.committed_batch
        if v is None:
            seeded = self.seed() if self.seed else {}
            self.tables = {
                t: seeded[t] if t in seeded else self._empty(t)
                for t in self.schemas
            }
        else:
            loaded = {
                t: self.store.load(v, t, s) for t, s in self.fulls.items()
            }
            for t, s in self.deltas.items():
                loaded[t] = self.store.load_chain(v, t, s)
            # hold the data, not the files: the first disk compaction after
            # a restart prunes the version dirs these frames were read from
            self.tables = {t: flat_checkpoint(df) for t, df in loaded.items()}
        self._folds = 0
        if self.on_reset:
            self.on_reset(self.tables)

    def begin_batch(self, batch_id: int) -> bool:
        """Call at the top of every foreachBatch: empties the staging
        area. On a replayed ``batch_id`` (crash between state commit and
        engine offset commit) the tables roll back to ``batch_id - 1`` —
        reloaded, or re-seeded when that precedes the first commit.
        Returns whether it rolled back."""
        self._staged = {}
        if self.committed_batch is None or batch_id > self.committed_batch:
            return False
        self.committed_batch = batch_id - 1 if batch_id > 0 else None
        self._reset()
        return True

    def live(self, t: str) -> DataFrame:
        """Table ``t`` through its live view."""
        view = self.live_views.get(t)
        return view(self.tables[t]) if view else self.tables[t]

    def fold(self, frames: dict[str, DataFrame]) -> None:
        """Apply one fold. A full table's frame replaces it; a delta
        table's frame is staged for the next commit and appended to the
        standing lazy union. A fold that stages a delta ticks the cadence
        once; every ``COMPACT_EVERY`` ticks each delta table becomes
        ``flat_checkpoint`` of its live view, bounding the union fan-in."""
        for t, df in frames.items():
            if t in self.deltas:
                staged = self._staged.get(t)
                self._staged[t] = df if staged is None else staged.unionByName(df)
                df = self.tables[t].unionByName(df)
            elif t not in self.fulls:
                raise KeyError(f"undeclared state table '{t}'")
            self.tables[t] = df
        if not self.deltas.keys() & frames.keys():
            return
        self._folds += 1
        if self._folds % COMPACT_EVERY == 0:
            self.tables.update(
                {t: flat_checkpoint(self.live(t)) for t in self.deltas}
            )

    def commit(self, batch_id: int) -> None:
        """Persist this batch's snapshot: every full table, each delta
        table's staged frames, plus — every ``COMPACT_EVERY`` batches
        (and always on the first commit, so a recovery base exists) — a
        compaction of each delta table's live view. The live views are
        lazy and only EXECUTED on compaction batches, so the amortized
        write stays O(batch). No-op without a state_dir."""
        if self.store is None:
            return
        comp = {
            t: self.live(t)
            for t in self.deltas
            if batch_id % COMPACT_EVERY == 0
            or not self.store._bases(t, batch_id - 1)
        }
        self.store.save(
            batch_id,
            {t: self.tables[t] for t in self.fulls},
            deltas={
                t: self._staged[t] if t in self._staged else self._empty(t)
                for t in self.deltas
            },
            compactions=comp or None,
        )
        self.committed_batch = batch_id


class DurableComponent:
    """Base of the stateful streaming components: ``self.state`` owns the
    standing tables, and the engine-facing hooks delegate to it."""

    state: DurableTables

    def begin_batch(self, batch_id: int) -> bool:
        """Top of every foreachBatch (`DurableTables.begin_batch`)."""
        return self.state.begin_batch(batch_id)

    def commit(self, batch_id: int) -> None:
        """Persist the post-batch snapshot (no-op without state_dir)."""
        self.state.commit(batch_id)


def table(name: str) -> property:
    """A read-only component attribute for the standing table ``name``."""
    return property(lambda self: self.state.tables[name])
