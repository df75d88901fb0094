"""Incremental inverted index == one-pass batch index: streaming K
doc-splits into `StreamingPostingsIndex` and searching must reproduce the
oracle-checked `bm25_search_topk` exactly (append-only postings make the
split order irrelevant), including across a crash-restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from eth_dspa_2019_spark.io.readers import load_table
from eth_dspa_2019_spark.plans.registry import all_queries
from eth_dspa_2019_spark.streaming.postings import postings_index_stream


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _stage_chunks(docs, n_chunks, base):
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    cuts = [lo + (hi - lo) * i // n_chunks for i in range(n_chunks)] + [hi + 1]
    for i, (clo, chi) in enumerate(zip(cuts[:-1], cuts[1:])):
        docs.filter(
            (F.col("doc_id") >= clo) & (F.col("doc_id") < chi)
        ).coalesce(1).write.mode("overwrite").parquet(str(base / f"chunk{i}"))
    return f"{base}/chunk*"


def test_incremental_index_search_equals_batch_query(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rglob = _stage_chunks(docs, 3, tmp_path / "docs")
    idx = postings_index_stream(
        spark, rglob, docs.schema, str(tmp_path / "ck")
    )
    got = idx.search()
    want = all_queries()["bm25_search_topk"].spark(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_incremental_index_crash_restart(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rglob = _stage_chunks(docs, 3, tmp_path / "docs")
    ck, st = str(tmp_path / "ck"), str(tmp_path / "state")
    try:
        postings_index_stream(
            spark, rglob, docs.schema, ck, st, _fail_at_batch=1
        )
        raise AssertionError("injected crash did not surface")
    except Exception:
        pass
    idx = postings_index_stream(spark, rglob, docs.schema, ck, st)
    got = idx.search()
    want = all_queries()["bm25_search_topk"].spark(spark, sf_dir)
    assert _rows(got) == _rows(want)
    # append-only deltas: postings rows across versions sum to the index
    assert idx.tf.count() == idx.tf.select("doc_id", "tok").distinct().count()


def test_incremental_mixture_equals_batch_including_after_delete(
    spark, sf_dir
):
    """The standing postings relations double as the state for corpus-
    global perplexity mixing: the mixture report read from the streamed
    index equals the registered batch query, and after a right-to-be-
    forgotten delete it equals the batch report over the purged corpus
    (surprisal margins, terciles, and sampling all shift)."""
    from eth_dspa_2019_spark.plans.pipeline import (
        perplexity_mixture_from_postings,
    )
    from eth_dspa_2019_spark.streaming.postings import StreamingPostingsIndex

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    cuts = [lo + (hi - lo) * i // 3 for i in range(3)] + [hi + 1]
    idx = StreamingPostingsIndex(spark)
    for b, (a, z) in enumerate(zip(cuts[:-1], cuts[1:])):
        idx.begin_batch(b)
        idx.process_batch(
            docs.filter((F.col("doc_id") >= a) & (F.col("doc_id") < z))
        )
        idx.commit(b)

    got = perplexity_mixture_from_postings(idx._live(idx.tf), idx._live(idx.dl))
    want = all_queries()["perplexity_mixture_sample"].spark(spark, sf_dir)
    assert _rows(got) == _rows(want)

    deletes = docs.filter(F.col("doc_id") % 17 == 3).select("doc_id")
    idx.begin_batch(3)
    idx.delete_docs(deletes)
    idx.commit(3)
    got2 = perplexity_mixture_from_postings(
        idx._live(idx.tf), idx._live(idx.dl)
    )
    purged = docs.join(deletes, "doc_id", "left_anti")
    tok = purged.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    want2 = perplexity_mixture_from_postings(
        tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")),
        tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")),
    )
    assert _rows(got2) == _rows(want2)


def test_incremental_nb_classifier_equals_batch_including_after_delete(
    spark, sf_dir
):
    """The trained NB quality classifier is fully derivable from the
    standing postings statistics — labels, per-class weights,
    calibration, and scores read from the streamed index equal the
    registered batch query, and deletion shifts all of them exactly as
    a purged-corpus retrain would."""
    from eth_dspa_2019_spark.plans.llm import nb_quality_from_postings
    from eth_dspa_2019_spark.streaming.postings import StreamingPostingsIndex

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull())
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    cuts = [lo + (hi - lo) * i // 3 for i in range(3)] + [hi + 1]
    idx = StreamingPostingsIndex(spark)
    for b, (a, z) in enumerate(zip(cuts[:-1], cuts[1:])):
        idx.begin_batch(b)
        idx.process_batch(
            docs.filter((F.col("doc_id") >= a) & (F.col("doc_id") < z))
        )
        idx.commit(b)

    got = nb_quality_from_postings(idx._live(idx.tf), idx._live(idx.dl))
    want = all_queries()["doc_nb_quality"].spark(spark, sf_dir)
    assert _rows(got) == _rows(want)

    deletes = docs.filter(F.col("doc_id") % 17 == 3).select("doc_id")
    idx.begin_batch(3)
    idx.delete_docs(deletes)
    idx.commit(3)
    got2 = nb_quality_from_postings(idx._live(idx.tf), idx._live(idx.dl))
    purged = docs.join(deletes, "doc_id", "left_anti")
    tok = purged.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    want2 = nb_quality_from_postings(
        tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")),
        tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")),
    )
    assert _rows(got2) == _rows(want2)


def test_in_memory_compaction_purges_tombstones(spark, sf_dir, tmp_path):
    """COMPACT_EVERY + 1 folds, one of them a delete in the middle: the
    in-memory compaction (on an ingest fold) keeps the live postings, so
    the deleted documents are physically gone; search equals a fresh
    index over the surviving documents, before and after a restart."""
    from eth_dspa_2019_spark.streaming.durable import COMPACT_EVERY
    from eth_dspa_2019_spark.streaming.postings import StreamingPostingsIndex

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    cuts = [lo + (hi - lo) * i // COMPACT_EVERY for i in range(COMPACT_EVERY)]
    ranges = list(zip(cuts, cuts[1:] + [hi + 1]))
    mid = COMPACT_EVERY // 2
    deletes = docs.filter(
        (F.col("doc_id") < ranges[mid][0]) & (F.col("doc_id") % 5 == 0)
    ).select("doc_id")
    st = str(tmp_path / "state")
    idx = StreamingPostingsIndex(spark, st)
    folds = [("ingest", r) for r in ranges[:mid]] + [("delete", None)]
    folds += [("ingest", r) for r in ranges[mid:]]
    assert len(folds) == COMPACT_EVERY + 1
    for b, (kind, r) in enumerate(folds):
        idx.begin_batch(b)
        if kind == "delete":
            idx.delete_docs(deletes)
        else:
            idx.process_batch(
                docs.filter((F.col("doc_id") >= r[0]) & (F.col("doc_id") < r[1]))
            )
        idx.commit(b)

    assert idx.tf.join(deletes, "doc_id").count() == 0
    assert idx.dl.join(deletes, "doc_id").count() == 0
    ref = StreamingPostingsIndex(spark)
    ref.begin_batch(0)
    ref.process_batch(docs.join(deletes, "doc_id", "left_anti"))
    ref.commit(0)
    want = _rows(ref.search())
    assert _rows(idx.search()) == want
    assert _rows(StreamingPostingsIndex(spark, st).search()) == want
