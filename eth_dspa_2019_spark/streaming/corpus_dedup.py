"""Streaming incremental corpus dedup (VERDICT r5 #4) — the production
daily-ingest shape that the batch query `incremental_dedup_newbatch`
(`plans/llm.py`) models: a standing corpus's dedup artifacts (prefix-key
hashes, MinHash band rows, the shingle relation — see
`operators/dedup.py::corpus_dedup_artifacts`) live as engine state; each
arriving micro-batch of documents is scored against that state
(`incremental_dedup_against`: exact prefix semi-join + banded new⋈corpus
LSH with exact-Jaccard verify — never corpus×corpus), and the KEPT
documents' artifacts are appended to the state so later batches dedup
against everything that survived before them.

Semantics: batch k is scored against corpus ∪ kept(batches < k). By
default within-batch duplicates are NOT scored against each other —
matching the batch query, whose new side is scored against the corpus
side only. ``self_dedup=True`` adds the within-batch pass (the full
daily-ingest semantics when the source itself can contain dups): exact
prefix-key groups and MinHash-LSH near-dup pairs INSIDE the batch keep
their min-doc_id canonical and mark the rest, so of k copies arriving
together exactly one survives into the corpus.

State is O(corpus artifacts), persisted through the shared
versioned-snapshot harness (`streaming/durable.py`) as APPEND-ONLY
deltas: each batch commits only the kept docs' keys/bands/shingles
(O(batch) writes), with periodic compaction and rollback-on-replay — so
a restarted process resumes with the full standing corpus instead of
re-hashing 100 TB, and a replayed batch rescores idempotently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    corpus_dedup_artifacts,
    h64,
    incremental_dedup_against,
    minhash_lsh_pairs,
)
from ..operators.forget import delete_id_col
from .durable import DurableComponent, DurableTables, flat_checkpoint, table

_KEYS_SCHEMA = "id long, key_hash long"
_BANDS_SCHEMA = "id long, band_id int, band_key string"
_SHINGLES_SCHEMA = "id long, shingle string"
_DELETED_SCHEMA = "doc_id long"


class StreamingCorpusDedup(DurableComponent):
    """Folds micro-batches of documents against the standing corpus
    state; optionally durable under ``state_dir``."""

    keys = table("keys")
    bands = table("bands")
    shingles = table("shingles")
    deleted = table("deleted")

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame | None = None,
        state_dir: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        num_perm: int = 16,
        bands: int = 8,
        threshold: float = 0.2,
        prefix: int = 64,
        grow: bool = True,
        self_dedup: bool = False,
    ):
        self.spark = spark
        self.params = dict(
            id_col=id_col, text_col=text_col, n=n, num_perm=num_perm,
            bands=bands, threshold=threshold, prefix=prefix,
        )
        self.grow = grow
        self.self_dedup = self_dedup
        self.state = DurableTables(
            spark,
            state_dir,
            fulls={},
            deltas={
                "keys": _KEYS_SCHEMA,
                "bands": _BANDS_SCHEMA,
                "shingles": _SHINGLES_SCHEMA,
                # right-to-be-forgotten tombstone log: append-only doc-id
                # deletes; standing artifacts are read through an
                # anti-join on it and physically purged at compaction
                "deleted": _DELETED_SCHEMA,
            },
            # the first commit's compaction also captures the seed
            # corpus, so recovery never re-hashes it
            seed=None if corpus is None else lambda: self._seed_from(corpus),
            live={t: self._active for t in ("keys", "bands", "shingles")},
        )

    def _seed_from(self, corpus: DataFrame) -> dict[str, DataFrame]:
        """The standing artifacts of the seed corpus."""
        p = self.params
        k, b, sh = corpus_dedup_artifacts(
            corpus, p["id_col"], p["text_col"], n=p["n"],
            num_perm=p["num_perm"], bands=p["bands"], prefix=p["prefix"],
        )
        return {
            "keys": k.transform(flat_checkpoint),
            "bands": b.transform(flat_checkpoint),
            "shingles": sh.transform(flat_checkpoint),
        }

    def _fold_within_batch(
        self, new_docs: DataFrame, scored: DataFrame
    ) -> DataFrame:
        """Within-batch dedup pass (``self_dedup=True``): exact
        prefix-key groups keep their min-id; MinHash-LSH near-dup pairs
        go through connected components (`dedup_clusters`) so each
        component keeps exactly its min-id canonical (a single
        greater-of-pair pass would leak survivors on pair chains). The
        marks OR into the corpus-screen flags — output schema unchanged."""
        from ..operators.dedup import dedup_clusters

        p = self.params
        idc, txt = p["id_col"], p["text_col"]
        key = h64(F.substring(F.col(txt), 1, p["prefix"]))
        keyed = new_docs.select(F.col(idc).alias("doc_id"), key.alias("kh"))
        canon = keyed.groupBy("kh").agg(F.min("doc_id").alias("canon"))
        wb_exact = (
            keyed.join(canon, "kh")
            .filter(F.col("doc_id") != F.col("canon"))
            .select("doc_id")
            .withColumn("wbe", F.lit(True))
        )
        pairs = minhash_lsh_pairs(
            new_docs, idc, txt, n=p["n"], num_perm=p["num_perm"],
            bands=p["bands"], threshold=p["threshold"],
        )
        wb_near = (
            dedup_clusters(pairs)
            .filter(F.col("id") != F.col("cluster_id"))
            .select(F.col("id").alias("doc_id"))
            .withColumn("wbn", F.lit(True))
        )
        return (
            scored.join(wb_exact, "doc_id", "left")
            .join(wb_near, "doc_id", "left")
            .select(
                "doc_id",
                (F.col("is_exact_dup") | F.coalesce("wbe", F.lit(False)))
                .alias("is_exact_dup"),
                (F.col("is_near_dup") | F.coalesce("wbn", F.lit(False)))
                .alias("is_near_dup"),
            )
            .withColumn(
                "keep", ~(F.col("is_exact_dup") | F.col("is_near_dup"))
            )
        )

    def _active(self, df: DataFrame) -> DataFrame:
        """A standing artifact with tombstones applied — every read goes
        through this view, so deletion is visible immediately while the
        physical purge waits for compaction. The tombstone side
        broadcasts (doc-id-sized); on an empty log this is a no-op
        map-side probe."""
        return df.join(
            F.broadcast(self.deleted),
            df["id"] == self.deleted["doc_id"],
            "left_anti",
        )

    def delete_batch(self, ids: DataFrame) -> None:
        """Right-to-be-forgotten fold: retract the given doc ids from the
        standing dedup state. O(delete-set) commit — only the tombstone
        delta persists; a later copy of a forgotten document scores as
        NEW (the whole point of the retraction). Call between
        ``begin_batch`` and ``commit`` like ``process_batch``."""
        d = (
            ids.select(delete_id_col(ids).cast("long").alias("doc_id"))
            .distinct()
            .transform(flat_checkpoint)
        )
        self.state.fold({"deleted": d})

    # -- the fold ---------------------------------------------------------
    def process_batch(self, new_docs: DataFrame) -> DataFrame:
        """Score one micro-batch against the standing state; returns
        (doc_id, is_exact_dup, is_near_dup, keep) for the batch. With
        ``grow``, the kept docs' artifacts join the state."""
        p = self.params
        new_docs = new_docs.transform(flat_checkpoint)
        caches: list[DataFrame] = []
        scored = incremental_dedup_against(
            self.state.live("keys"),
            self.state.live("bands"),
            self.state.live("shingles"),
            new_docs,
            p["id_col"], p["text_col"], n=p["n"], num_perm=p["num_perm"],
            bands=p["bands"], threshold=p["threshold"], prefix=p["prefix"],
            cache_registry=caches,
        )
        if self.self_dedup:
            scored = self._fold_within_batch(new_docs, scored)
        scored = scored.transform(flat_checkpoint)
        for c in caches:
            c.unpersist()
        if not self.grow:
            return scored
        kept = new_docs.join(
            scored.filter(F.col("keep")).select(
                F.col("doc_id").alias(p["id_col"])
            ),
            p["id_col"],
        )
        dk, db, dsh = corpus_dedup_artifacts(
            kept, p["id_col"], p["text_col"], n=p["n"],
            num_perm=p["num_perm"], bands=p["bands"], prefix=p["prefix"],
        )
        # O(batch) eager work: only the kept delta checkpoints
        self.state.fold({
            "keys": dk.transform(flat_checkpoint),
            "bands": db.transform(flat_checkpoint),
            "shingles": dsh.transform(flat_checkpoint),
        })
        return scored


def corpus_dedup_stream(
    spark: SparkSession,
    new_docs_dir: str,
    schema,
    corpus: DataFrame | None,
    out_dir: str,
    checkpoint_dir: str,
    state_dir: str | None = None,
    _fail_at_batch: int | None = None,
    **params,
) -> "StreamingCorpusDedup":
    """Wire the standing-corpus dedup to a parquet micro-batch stream of
    new documents (one file per trigger): each batch's scores land in
    ``{out_dir}/batch-{id}`` with overwrite semantics — with ``state_dir``
    set, exactly-once across process restarts (same discipline as
    `streaming/resolution.py::resolve_activities_stream`).
    ``_fail_at_batch`` injects a crash AFTER that batch's state commit."""
    det = StreamingCorpusDedup(spark, corpus, state_dir, **params)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        det.begin_batch(batch_id)
        scored = det.process_batch(batch_df)
        scored.write.mode("overwrite").parquet(
            f"{out_dir}/batch-{batch_id:05d}"
        )
        det.commit(batch_id)
        if _fail_at_batch is not None and batch_id == _fail_at_batch:
            raise RuntimeError(
                f"injected crash after committing batch {batch_id}"
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(new_docs_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return det
