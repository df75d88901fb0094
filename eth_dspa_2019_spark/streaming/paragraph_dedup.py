"""Streaming paragraph-level corpus dedup — the incremental twin of the
batch query `doc_paragraph_dedup` (`plans/llm.py`): the standing state is
the set of paragraph hashes ever KEPT; each arriving micro-batch of
documents elects within-batch first occurrences (min (doc_id, pidx), the
batch query's rule), screens them against the standing set, re-assembles
every batch document from its surviving paragraphs, and appends the kept
paragraph hashes to the state.

Equivalence: over doc_id-ordered micro-batches, "first occurrence in an
earlier batch OR earlier in this batch" IS the batch query's global
first-occurrence rule, so streaming over K splits equals the oracle-checked
batch output exactly (golden-tested). State is the paragraph-HASH set (16
bytes/paragraph, not text) persisted as O(batch) append-only deltas through
`streaming/durable.py` — same crash-restart / rollback-on-replay discipline
as the resolver and the document-level `streaming/corpus_dedup.py`.

The hash screen means a 64-bit collision could drop a non-duplicate
paragraph; at 2^32 paragraphs the birthday bound makes that ~1/2 across
the corpus — production would widen to 128-bit (two h64 columns), the
same remedy the exact-dedup family documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h64
from ..plans.llm import PARA_KEY, PARA_W
from ..operators.forget import delete_id_col
from .durable import DurableComponent, DurableTables, flat_checkpoint, table

_PARAS_SCHEMA = "doc_id long, ph long"  # keeper doc id = retraction provenance
_DELETED_SCHEMA = "doc_id long"


def _batch_paragraphs(new_docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, pidx, para, okey, ph) — the batch query's explode, plus
    the h64 paragraph key the standing state stores."""
    base = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"split({text_col}, ' ')").alias("t"),
    )
    return base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(t) - 1) div {PARA_W}), "
                f"j -> concat_ws(' ', slice(t, j * {PARA_W} + 1, {PARA_W})))"
            )
        ).alias("pidx", "para"),
    ).select(
        "doc_id",
        "pidx",
        "para",
        (F.col("doc_id") * PARA_KEY + F.col("pidx")).alias("okey"),
        h64(F.col("para")).alias("ph"),
    )


class StreamingParagraphDedup(DurableComponent):
    """Folds micro-batches of documents against the standing
    paragraph-hash set; optionally durable under ``state_dir``."""

    paras = table("paras")
    deleted = table("deleted")

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str | None = None,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.state = DurableTables(
            spark,
            state_dir,
            fulls={},
            # "deleted" is the right-to-be-forgotten tombstone log; the
            # standing paragraph set is read through an anti-join on it
            # (by KEEPER doc id) and physically purged at compaction
            deltas={"paras": _PARAS_SCHEMA, "deleted": _DELETED_SCHEMA},
            # a forgotten document's paragraphs stop screening at once
            live={
                "paras": lambda df: df.join(
                    F.broadcast(self.deleted), "doc_id", "left_anti"
                )
            },
        )

    def delete_batch(self, ids: DataFrame) -> None:
        """Right-to-be-forgotten fold: retract every paragraph hash this
        doc id KEPT (owned as first occurrence). O(delete-set) commit;
        physical purge rides the compaction cadence. Call between
        ``begin_batch`` and ``commit`` like ``process_batch``.

        Semantics vs rebuild-from-purged-history: copies of the
        forgotten paragraphs that arrived earlier and were DROPPED are
        not resurrected as keepers — their content was never stored
        (that is the point of a hash-only state). So post-delete the
        screen equals the rebuild exactly when the forgotten doc's kept
        paragraphs had no other historical occurrence (the common
        case), and is strictly WEAKER (keeps more) otherwise — always
        safe in the forget direction: nothing of the deleted document
        remains in state."""
        d = (
            ids.select(delete_id_col(ids).cast("long").alias("doc_id"))
            .distinct()
            .transform(flat_checkpoint)
        )
        self.state.fold({"deleted": d})

    # -- the fold ---------------------------------------------------------
    def process_batch(self, new_docs: DataFrame) -> DataFrame:
        """Returns (doc_id, n_paras, n_dropped, clean_text) for the batch
        — the batch query's schema — and grows the standing hash set by
        this batch's kept paragraphs."""
        paras = _batch_paragraphs(
            new_docs, self.id_col, self.text_col
        ).transform(flat_checkpoint)
        win = paras.groupBy("ph").agg(F.min("okey").alias("wkey"))
        first_in_batch = paras.join(win, "ph").filter(
            F.col("okey") == F.col("wkey")
        )
        kept = first_in_batch.join(
            self.state.live("paras").select("ph"), "ph", "left_anti"
        ).transform(flat_checkpoint)
        # every batch doc appears in the output, even fully-deduped ones
        agg = kept.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("nk"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pidx", "para"))),
                    lambda s: s["para"],
                ),
            ).alias("clean_text"),
        )
        nparas = paras.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_paras")
        )
        out = (
            nparas.join(agg, "doc_id", "left")
            .select(
                "doc_id",
                "n_paras",
                (
                    F.col("n_paras") - F.coalesce(F.col("nk"), F.lit(0))
                ).alias("n_dropped"),
                F.coalesce(F.col("clean_text"), F.lit("")).alias(
                    "clean_text"
                ),
            )
            .transform(flat_checkpoint)
        )
        dp = kept.select("doc_id", "ph").distinct().transform(flat_checkpoint)
        self.state.fold({"paras": dp})
        return out


def paragraph_dedup_stream(
    spark: SparkSession,
    new_docs_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    state_dir: str | None = None,
    _fail_at_batch: int | None = None,
) -> "StreamingParagraphDedup":
    """Wire the fold to a parquet micro-batch stream (one file per
    trigger); per-batch outputs land in ``{out_dir}/batch-{id}`` with
    overwrite semantics — with ``state_dir`` set, exactly-once across
    process restarts. ``_fail_at_batch`` injects a crash AFTER that
    batch's state commit (the replay-detection crash model)."""
    det = StreamingParagraphDedup(spark, state_dir)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        det.begin_batch(batch_id)
        out = det.process_batch(batch_df)
        out.write.mode("overwrite").parquet(f"{out_dir}/batch-{batch_id:05d}")
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
