"""Pure-numpy property tests for the Arrow kernel functions — no Spark
session needed, so hypothesis can sweep many cases cheaply."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from eth_dspa_2019_spark.operators.similarity import (
    SQ8_MAX,
    pair_qsim_batches,
    quantize_sq8_batches,
)


def _quantize(vecs: list[list[float]]) -> pd.DataFrame:
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(len(vecs))),
            "embedding": [np.array(v, dtype=np.float32) for v in vecs],
        }
    )
    (out,) = list(quantize_sq8_batches()([pdf]))
    return out


finite_vec = st.lists(
    st.floats(
        min_value=-1e6,
        max_value=1e6,
        allow_nan=False,
        allow_infinity=False,
        width=32,
    ),
    min_size=2,
    max_size=16,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(finite_vec, min_size=1, max_size=8).filter(
    lambda vs: len({len(v) for v in vs}) == 1
))
def test_sq8_reconstruction_error_bounded(vecs):
    """|x - q·s| <= s/2 with s = max|x|/127: round-half-up quantization can
    never err by more than half a step, and codes stay in [-127, 127]."""
    out = _quantize(vecs)
    for v, q, qn2 in zip(vecs, out["qvec"], out["qn2"]):
        x = np.array(v, dtype=np.float32).astype(np.float64)
        q = np.asarray(q, dtype=np.int64)
        assert q.min() >= -SQ8_MAX and q.max() <= SQ8_MAX
        assert int((q * q).sum()) == int(qn2)
        mx = np.abs(x).max()
        if mx == 0.0:
            assert not q.any()
            continue
        s = mx / SQ8_MAX
        assert np.all(np.abs(x - q * s) <= s / 2 + 1e-12 * mx)


@settings(max_examples=100, deadline=None)
@given(st.lists(finite_vec, min_size=2, max_size=6).filter(
    lambda vs: len({len(v) for v in vs}) == 1
))
def test_sq8_quantized_cosine_tracks_exact(vecs):
    """Quantized cosine must stay within the SQ8 error envelope of exact
    cosine (loose analytic bound ~ 2·dim/127 for unit-normalized error)."""
    out = _quantize(vecs)
    qv = {i: np.asarray(q, dtype=np.int64) for i, q in zip(out["vec_id"], out["qvec"])}
    qn = {i: int(n) for i, n in zip(out["vec_id"], out["qn2"])}
    rows = []
    for a in range(len(vecs)):
        for b in range(a + 1, len(vecs)):
            rows.append((a, b))
    if not rows:
        return
    pdf = pd.DataFrame(
        {
            "query_id": [a for a, _ in rows],
            "vec_id": [b for _, b in rows],
            "q_qvec": [qv[a] for a, _ in rows],
            "c_qvec": [qv[b] for _, b in rows],
            "q_qn2": [qn[a] for a, _ in rows],
            "c_qn2": [qn[b] for _, b in rows],
        }
    )
    (sim,) = list(pair_qsim_batches()([pdf]))
    dim = len(vecs[0])
    for (a, b), q_sim in zip(rows, sim["q_sim"]):
        x = np.array(vecs[a], dtype=np.float32).astype(np.float64)
        y = np.array(vecs[b], dtype=np.float32).astype(np.float64)
        nx, ny = np.linalg.norm(x), np.linalg.norm(y)
        if nx == 0.0 or ny == 0.0:
            assert q_sim == 0.0
            continue
        exact = float(x @ y / (nx * ny))
        assert abs(q_sim - exact) <= 4.0 * dim / SQ8_MAX**2 + 6.0 / SQ8_MAX


def test_auto_band_bits_matches_sql_twin():
    """The shared banded-LSH sizing knob must land on the same R in both
    engines at every population — including exact powers of two, where a
    floating log2 would be one ULP from flipping ceil. The Python side is
    pure bit_length; this pins the DuckDB scalar twin to it."""
    import duckdb

    from eth_dspa_2019_spark.functions.hashing import (
        auto_band_bits,
        o_auto_band_bits,
    )

    con = duckdb.connect()
    probes = [1, 2, 15, 16, 17, 100, 127, 128, 129, 500, 1024, 1025,
              4096, 15000, 32768, 32769, 10**6, 10**9]
    for n in probes:
        sql = con.execute(
            f"SELECT {o_auto_band_bits(str(n))}"
        ).fetchone()[0]
        assert sql == auto_band_bits(n), (n, sql, auto_band_bits(n))
    # non-default clamp + load
    for n in probes:
        sql = con.execute(
            f"SELECT {o_auto_band_bits(str(n), lo=6, hi=17, load=1024)}"
        ).fetchone()[0]
        assert sql == auto_band_bits(n, lo=6, hi=17, load=1024), n


# ---------------------------------------------------------------------------
# BPE merge rounds: the registered query vs a sequential reference trainer


def _bpe_reference(word_counts, rounds):
    """Plain sequential BPE trainer (Sennrich et al. 2016): per round,
    count adjacent pairs over the word-count dict, adopt the (cnt DESC,
    x, y)-best pair, greedy left-to-right re-segment. The third opinion
    that pins what Spark AND DuckDB both claim to compute."""
    segs = {w: list(w) for w in word_counts}
    out = []
    for _ in range(rounds):
        counts = {}
        for w, syms in segs.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_counts[w]
        if not counts:
            break
        (x, y), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((x, y, cnt))
        for w, syms in segs.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    merged.append(x + y)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            segs[w] = merged
    return out


def test_bpe_merge_rounds_matches_sequential_trainer(spark, sf_dir):
    from pyspark.sql import functions as F

    from eth_dspa_2019_spark.io.readers import load_table
    from eth_dspa_2019_spark.plans.llm import BPE_ROUNDS, bpe_merge_rounds

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    wc = {
        r["word"]: r["wn"]
        for r in docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
        .collect()
    }
    expected = _bpe_reference(wc, BPE_ROUNDS)
    got = [
        (r["x"], r["y"], r["cnt"])
        for r in bpe_merge_rounds(spark, sf_dir).collect()
    ]
    assert got == expected


def test_bpe_merge_rounds_repeated_symbol_runs(spark):
    """The greedy-run edge: 'aaaa' must merge to [aa, aa] (even offsets),
    'aaa' to [aa, a] — exercised with a synthetic corpus where the
    winning pair is (a, a) and runs overlap."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    import eth_dspa_2019_spark.plans.llm as llm

    rows = [("aaaa",), ("aaa",), ("baaab",)]
    # drive the same round mechanics directly: round 1 on this corpus
    wv = (
        spark.createDataFrame(rows, "word string")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    chars = wv.select(
        "word",
        "wn",
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1))"
            )
        ).alias("p0", "sym"),
    ).select("word", "wn", (F.col("p0") + 1).alias("pos"), "sym")
    seq = Window.partitionBy("word").orderBy("pos")
    p = chars.withColumn("nxt", F.lead("sym").over(seq))
    best = (
        p.filter(F.col("nxt").isNotNull())
        .groupBy("sym", "nxt")
        .agg(F.sum("wn").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "sym", "nxt")
        .limit(1)
        .collect()[0]
    )
    assert (best["sym"], best["nxt"]) == ("a", "a")
    occ = p.filter((F.col("sym") == "a") & (F.col("nxt") == "a")).select(
        "word", "pos"
    )
    runs = occ.withColumn("grp", F.col("pos") - F.row_number().over(seq))
    keep = (
        runs.withColumn(
            "off",
            F.col("pos") - F.min("pos").over(Window.partitionBy("word", "grp")),
        )
        .filter(F.col("off") % 2 == 0)
        .select("word", "pos")
    )
    kept = {
        (r["word"], r["pos"]) for r in keep.collect()
    }
    assert kept == {("aaaa", 1), ("aaaa", 3), ("aaa", 1), ("baaab", 2)}


def test_bpe_train_deep_rounds_match_sequential_trainer(spark, sf_dir):
    """The production trainer at K=8 (beyond the registered unrolled
    depth) still tracks the sequential reference, including early-stop
    safety on vocabulary exhaustion."""
    from pyspark.sql import functions as F

    from eth_dspa_2019_spark.io.readers import load_table
    from eth_dspa_2019_spark.plans.llm import bpe_train

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    wc = {
        r["word"]: r["wn"]
        for r in docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
        .collect()
    }
    expected = _bpe_reference(wc, 8)
    merges, pieces = bpe_train(docs, 8)
    got = [
        (r["x"], r["y"], r["cnt"])
        for r in merges.orderBy("merge_round").collect()
    ]
    assert got == expected
    # pieces re-assemble every word exactly
    bad = pieces.groupBy("word").agg(
        F.concat_ws("", F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sym"))),
            lambda s: s["sym"],
        )).alias("joined")
    ).filter(F.col("joined") != F.col("word")).count()
    assert bad == 0


def test_nb_quality_classifier_beats_majority_baseline(spark, sf_dir):
    """The learned filter must actually discriminate: accuracy against
    its training label strictly above the predict-all-majority baseline
    (guards the integer-log resolution and the calibration from
    regressing into a degenerate always-pass model)."""
    from pyspark.sql import functions as F

    from eth_dspa_2019_spark.plans.llm import doc_nb_quality

    sc = doc_nb_quality(spark, sf_dir)
    agg = sc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("label_good") == F.col("nb_pass")).cast("int")
        ).alias("correct"),
        F.sum("label_good").alias("pos"),
    ).collect()[0]
    acc = agg["correct"] / agg["n"]
    base = max(agg["pos"], agg["n"] - agg["pos"]) / agg["n"]
    assert acc > base + 0.05, (acc, base)


def test_semantic_dedup_recall(spark, sf_dir):
    """SemDedup effectiveness + exactness vs the all-corpus LSH screen
    (`embedding_neardup_pairs`): (1) the later member of EVERY
    co-clustered >=tau pair is dropped (within-cluster verify is exact),
    and (2) co-cluster recall beats the chance co-clustering rate by
    >=4x — on near-random testdata embeddings clustering must still
    capture real similarity structure, not just partition randomly."""
    from pyspark.sql import functions as F

    from eth_dspa_2019_spark.plans.vectors import (
        embedding_neardup_pairs,
        semantic_dedup_clusters,
    )

    sd = semantic_dedup_clusters(spark, sf_dir).localCheckpoint(eager=True)
    nd = (
        embedding_neardup_pairs(spark, sf_dir)
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .localCheckpoint(eager=True)
    )
    asg = sd.select("vec_id", "cid")
    co = (
        nd.join(
            asg.select(F.col("vec_id").alias("a"), F.col("cid").alias("ca")),
            "a",
        )
        .join(
            asg.select(F.col("vec_id").alias("b"), F.col("cid").alias("cb")),
            "b",
        )
        .filter(F.col("ca") == F.col("cb"))
        .localCheckpoint(eager=True)
    )
    dropped = sd.filter(~F.col("keep")).select("vec_id")
    missed = (
        co.select(F.col("b").alias("vec_id"))
        .distinct()
        .join(dropped, "vec_id", "left_anti")
        .count()
    )
    assert missed == 0, "co-clustered >=tau pair survived the verify"

    tot = nd.count()
    assert tot > 0, "LSH screen found no pairs — threshold drifted?"
    recall = co.count() / tot
    sizes = [
        r["c"]
        for r in asg.groupBy("cid").agg(F.count(F.lit(1)).alias("c")).collect()
    ]
    n = sum(sizes)
    chance = sum(s * (s - 1) for s in sizes) / (n * (n - 1))
    assert recall >= 4 * chance, (recall, chance)


def test_sem_cluster_assign_rejects_wrong_dim(spark):
    """A vector whose length is not DIM fails the precondition scan with
    a ValueError naming DIM, not with an ANSI array-index error deep
    inside the assignment job."""
    from eth_dspa_2019_spark.plans.vectors import sem_cluster_assign

    emb = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.3])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="DIM"):
        sem_cluster_assign(emb)


def test_leakage_safe_split_zero_cross_pairs(spark, sf_dir):
    """The structural guarantee of `leakage_safe_split`: NO near-dup pair
    (the MinHash-LSH relation the split is built from) may straddle two
    splits, and all three splits must be non-empty (the coin actually
    partitions)."""
    from pyspark.sql import functions as F

    from eth_dspa_2019_spark.plans.llm import _lsh_pairs
    from eth_dspa_2019_spark.plans.pipeline import leakage_safe_split

    sp = leakage_safe_split(spark, sf_dir).localCheckpoint(eager=True)
    pairs = _lsh_pairs(spark, sf_dir)
    crossed = (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"),
                      F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"),
                      F.col("split").alias("sb")),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert crossed == 0, "near-dup pair crossed the train/valid/test split"
    got = {r["split"] for r in sp.select("split").distinct().collect()}
    assert got == {"train", "valid", "test"}, got


def test_gopher_flags_discriminate_and_compose(spark, sf_dir):
    """The rule bitmask must (1) fire on real fixture docs (some fail,
    some pass — the rules bind), and (2) stay consistent:
    gopher_pass == 1 iff flags == 0."""
    from pyspark.sql import functions as F

    from eth_dspa_2019_spark.plans.pipeline import gopher_quality_flags

    g = gopher_quality_flags(spark, sf_dir).localCheckpoint(eager=True)
    agg = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gopher_pass").alias("npass"),
        F.sum(
            ((F.col("flags") == 0) != (F.col("gopher_pass") == 1))
            .cast("int")
        ).alias("inconsistent"),
    ).collect()[0]
    assert agg["inconsistent"] == 0
    assert 0 < agg["npass"] < agg["n"], (agg["npass"], agg["n"])


def test_dsir_weights_favor_target_language(spark, sf_dir):
    """DSIR must actually find the target: the selection rate among
    target-language docs has to beat the rate among out-of-domain docs
    by a wide margin (guards the hashed-bigram model + integer-log
    weights from degenerating to a coin flip)."""
    from pyspark.sql import functions as F

    from eth_dspa_2019_spark.io.readers import load_table
    from eth_dspa_2019_spark.plans.pipeline import (
        DSIR_TARGET_LANG,
        dsir_importance_weights,
    )

    w = dsir_importance_weights(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = {
        r["is_t"]: r["rate"]
        for r in w.join(docs, "doc_id")
        .groupBy((F.col("lang") == DSIR_TARGET_LANG).alias("is_t"))
        .agg(F.avg("selected").alias("rate"))
        .collect()
    }
    assert rates[True] > rates[False] + 0.3, rates


def test_negative_sampling_contract(spark, sf_dir):
    """Semantic contract beyond the oracle equivalence: no document is
    ever its own negative, no negative shares the exact-dup prefix key
    with its anchor, at most NEG_PROBES negatives per doc, and coverage
    is near-total (a doc misses a probe only when it lands on its own
    or a dup-mate's bucket)."""
    from pyspark.sql import functions as F

    from eth_dspa_2019_spark.io.readers import load_table
    from eth_dspa_2019_spark.plans.pipeline import (
        NEG_PROBES,
        negative_sampling_pairs,
    )

    pairs = negative_sampling_pairs(spark, sf_dir).collect()
    assert pairs, "sampler produced no negatives"
    docs = {
        r["doc_id"]: r["k"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.md5(F.substring("text", 1, 64)).alias("k"))
        .collect()
    }
    per_doc: dict[int, int] = {}
    for r in pairs:
        assert r["neg_doc_id"] != r["doc_id"]
        assert docs[r["neg_doc_id"]] != docs[r["doc_id"]]
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
    assert max(per_doc.values()) <= NEG_PROBES
    # coverage: nearly every doc draws at least one valid negative
    assert len(per_doc) >= 0.9 * len(docs)


def test_ingest_dedup_reproduces_source_totals(spark, sf_dir):
    """First-delivery-wins must reproduce the uncorrupted source sums:
    kept_cents per type equals the original events' floor-cents total,
    and exactly the 1-in-7 redeliveries are dropped."""
    from pyspark.sql import functions as F

    from eth_dspa_2019_spark.io.readers import load_table
    from eth_dspa_2019_spark.plans.pipeline import event_ingest_dedup

    got = {
        r["event_type"]: r for r in event_ingest_dedup(spark, sf_dir).collect()
    }
    src = {
        r["event_type"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("cents"),
            F.sum(
                F.when(F.col("event_id") % 7 == 0, 1).otherwise(0)
            ).alias("redelivered"),
        )
        .collect()
    }
    assert set(got) == set(src)
    for t, s in src.items():
        assert got[t]["n_unique"] == s["n"]
        assert got[t]["n_dropped"] == s["redelivered"]
        assert got[t]["kept_cents"] == s["cents"]


def test_kl_drift_zero_for_corpus_identical_source(spark, sf_dir):
    """A synthetic source whose token distribution IS the corpus must
    drift to ~0 fixed-point bits, and every drift is bounded by the
    64-bit shift window."""
    from eth_dspa_2019_spark.plans.pipeline import source_token_kl_drift

    rows = source_token_kl_drift(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -64_000_000 <= r["drift_bits_fx"] <= 64_000_000
        # code-length identity: per-source bits never exceed corpus bits
        # by more than the integer-log rounding (1 bit/token)
        assert r["source_bits"] <= r["corpus_bits"] + r["n_tokens"]


def test_mad_outliers_array_fold_order_statistics(spark):
    """The r11 higher-order-function MAD fold must reproduce the doubled
    integer order statistics exactly: odd/even group sizes, the MAD==0
    degenerate rule (any deviation flags), and a group with genuine
    outliers."""
    from pyspark.sql import functions as F

    from eth_dspa_2019_spark.plans import all_queries
    import numpy as np

    rows = []
    # user 1: odd n, plain spread  -> med2=2*30, mad2=2*10
    for v in (10, 30, 50):
        rows.append((1, v))
    # user 2: even n -> med2 = 20+40
    for v in (10, 20, 40, 70):
        rows.append((2, v))
    # user 3: MAD == 0 (majority identical), one deviant must flag
    for v in (5, 5, 5, 5, 99):
        rows.append((3, v))
    df = spark.createDataFrame(
        [(u, v / 100.0) for u, v in rows], "user_id long, value double"
    )

    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        # the query loads events.parquet from sf_dir; synthesize a minimal one
        df.select(
            F.col("user_id"),
            F.col("value"),
            F.lit(1).cast("long").alias("event_id"),
            F.current_timestamp().alias("ts"),
            F.lit("x").alias("event_type"),
            F.lit("p").alias("props"),
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r["user_id"]: r
            for r in all_queries()["user_value_outliers_mad"]
            .spark(spark, d)
            .collect()
        }

    def ref(vals):
        v = np.sort(np.array(vals, dtype=np.int64))
        n = len(v)
        k1, k2 = (n + 1) // 2 - 1, n // 2
        med2 = int(v[k1]) + int(v[k2])
        dd = np.abs(2 * v - med2)
        ds = np.sort(dd)
        mad2 = int(ds[k1]) + int(ds[k2])
        return n, med2, mad2, int((2 * dd > 7 * mad2).sum())

    groups = {1: [10, 30, 50], 2: [10, 20, 40, 70], 3: [5, 5, 5, 5, 99]}
    for u, vals in groups.items():
        n, med2, mad2, n_out = ref(vals)
        r = out[u]
        assert (r["n"], r["med2_fx"], r["mad2_fx"], r["n_outliers"]) == (
            n, med2, mad2, n_out,
        ), (u, dict(r.asDict()))
    assert out[3]["mad2_fx"] == 0 and out[3]["n_outliers"] == 1
