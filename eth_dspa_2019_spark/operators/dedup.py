"""Deduplication operator family for large-scale document corpora.

Reusable DataFrame→DataFrame operators: exact (hash-groupBy), n-gram
Jaccard, MinHash+LSH, SimHash. Everything is expressed with built-in
column functions + joins so Catalyst parallelizes it; the only quadratic
step is always *within an LSH/band bucket*, never across the corpus —
that's the property that survives a 100× scale-up.

Hashes are the md5-derived :func:`~eth_dspa_2019_spark.functions.hashing.h64`
so the DuckDB oracle can reproduce identical signatures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import MERSENNE31, h64, perm_coeffs
from ..functions.text import tokens
from ..io.materialize import broadcast_if_fits, materialize


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Pure array ops (sequence/transform/concat_ws) — stays in whole-stage
    codegen; one output row per distinct shingle.
    """
    toks = tokens(text_col)
    parts = ", ".join(f"toks[i - 1 + {k}]" for k in range(n))
    shingle_arr = F.expr(
        f"array_distinct(transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})))"
    )
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select("id", F.explode(shingle_arr).alias("shingle"))
    )


def exact_dedup(df: DataFrame, id_col: str, key: Column) -> DataFrame:
    """Exact dedup by key hash: one canonical (min id) row per key, with
    the duplicate count. Single hash-shuffle on the key."""
    return (
        df.select(F.col(id_col).alias("id"), h64(key).alias("key_hash"))
        .groupBy("key_hash")
        .agg(F.min("id").alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def _pair_jaccard(sh: DataFrame, candidates: DataFrame | None = None) -> DataFrame:
    """Jaccard from a (id, shingle) relation.

    Without ``candidates``: all pairs sharing ≥1 shingle (the shingle
    equi-join bounds the candidate space). With ``candidates`` (doc_a,
    doc_b): the shingle relation is first restricted to candidate pairs —
    the common-shingle join is computed for candidates ONLY, never for the
    full corpus. This is what keeps the LSH path sub-quadratic: the join
    graph is candidates ⋈ sh ⋈ sh, and Catalyst never sees (or builds) the
    all-pairs shingle self-join.
    """
    if candidates is None:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        a, b = sh.alias("a"), sh.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        # r11: verify candidates against per-doc shingle ARRAYS instead of
        # re-exploding the shingle relation under the pair join (same move
        # as prefix_filter_jaccard_pairs' verify): |cand| rows with one
        # codegen'd array_intersect each, instead of |cand|·|shingles/doc|
        # join+aggregate rows. sh is distinct per id, so the intersect is
        # exact; sizes come from the same arrays, dropping the two
        # _jaccard_ratio joins. Pairs with zero common shingles are
        # filtered, matching the old inner-join semantics.
        # r12 (verdict r11 #3): build arrays ONLY for docs that appear in
        # a candidate pair — the r11 form collect_list'ed every doc's
        # shingles (a corpus-volume shuffle) to verify a candidate set
        # that is orders of magnitude smaller; that overhead made
        # incremental_dedup_newbatch net-slower at sf0.1. The candidate
        # subtree now has two consumers (id screen + verify join) and no
        # materialization barrier between them. The executed plan does
        # not reuse the candidate exchange (the committed plan
        # plans/r12/incremental_dedup_newbatch_after.txt has no
        # ReusedExchange), so the candidate pipeline runs once for each
        # consumer.
        cand_ids = candidates.select(
            F.explode(F.array("doc_a", "doc_b")).alias("id")
        ).distinct()
        tokarr = (
            sh.join(cand_ids, "id", "left_semi")
            .groupBy("id")
            .agg(F.sort_array(F.collect_list("shingle")).alias("toks"))
        )
        return (
            candidates.join(
                tokarr.alias("A"), F.col("A.id") == F.col("doc_a")
            )
            .join(tokarr.alias("B"), F.col("B.id") == F.col("doc_b"))
            .select(
                "doc_a",
                "doc_b",
                F.size(
                    F.array_intersect(F.col("A.toks"), F.col("B.toks"))
                ).alias("common"),
                F.size(F.col("A.toks")).alias("na"),
                F.size(F.col("B.toks")).alias("nb"),
            )
            .filter(F.col("common") > 0)
            .select(
                "doc_a",
                "doc_b",
                (
                    F.col("common")
                    / (F.col("na") + F.col("nb") - F.col("common"))
                ).alias("jaccard"),
            )
        )
    return _jaccard_ratio(sizes, common)


def _jaccard_ratio(sizes: DataFrame, common: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) from per-doc shingle sizes and per-pair
    common-shingle counts."""
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))).alias(
                "jaccard"
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard ≥ threshold.

    Candidate pairs come from a self-join on shared shingles; with
    ``max_shingle_df`` set (default 1000, standard near-dup practice),
    shingles appearing in more than that many documents are excluded from
    CANDIDATE GENERATION ONLY — a df-k shingle contributes k² join rows, so
    one boilerplate phrase shared by 1M docs would otherwise build a 10¹²
    row join. The Jaccard itself is still computed over the FULL shingle
    sets of each candidate pair, so every reported value is exact; a pair
    is missed only if ALL of its shared shingles are hot, which at
    threshold ≥ 0.8 means near-identical documents made entirely of
    corpus-wide boilerplate. Pass ``max_shingle_df=None`` for the unbounded
    exact mode.
    """
    sh = shingles(df, id_col, text_col, n)
    if max_shingle_df is None:
        return _pair_jaccard(sh).filter(F.col("jaccard") >= threshold)
    # The shingle relation feeds 3-4 consumers below (df scan, sizes, both
    # join sides); persist so the tokenize+explode runs once. Spill-safe
    # (MEMORY_AND_DISK default) and LRU-evicted; at cluster scale this is
    # the standard materialize-the-shingle-table trade.
    sh = sh.persist()
    # Hot shingles are FEW in number by construction (≤ corpus/cap distinct
    # values), so the hot-key list broadcasts; the split is two broadcast
    # joins, adding NO shuffle of the shingle relation. The pair join runs
    # over the rare rows only; the hot correction re-adds hot-shingle
    # matches for the already-found candidate pairs, so reported Jaccard
    # values stay exact over FULL shingle sets.
    hot_keys = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_shingle_df)
        .select("shingle")
    )
    # Data-dependent fast path (an AQE-style runtime re-plan): one tiny
    # aggregate job decides whether any shingle is hot at all — in clean
    # corpora none is, and the plain single-join plan needs no split or
    # correction machinery. The check costs one partial-aggregated pass
    # over the shingle relation; the three joins it avoids cost far more.
    if hot_keys.isEmpty():
        return _pair_jaccard(sh).filter(F.col("jaccard") >= threshold)
    rare = sh.join(F.broadcast(hot_keys), "shingle", "left_anti")
    a, b = rare.alias("a"), rare.alias("b")
    common_rare = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("rc"))
    )
    hot = sh.join(F.broadcast(hot_keys), "shingle", "left_semi")
    common_hot = (
        common_rare.select("doc_a", "doc_b")
        .join(hot.alias("ha"), F.col("ha.id") == F.col("doc_a"))
        .join(
            hot.alias("hb"),
            (F.col("hb.id") == F.col("doc_b"))
            & (F.col("ha.shingle") == F.col("hb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("hc"))
    )
    common = (
        common_rare.join(common_hot, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            (F.col("rc") + F.coalesce(F.col("hc"), F.lit(0))).alias("common"),
        )
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    return _jaccard_ratio(sizes, common).filter(
        F.col("jaccard") >= threshold
    )


def minhash_signatures(
    sh: DataFrame, num_perm: int = 16
) -> DataFrame:
    """(id, m0..m{P-1}) MinHash signature in ONE aggregation pass over the
    shingle relation (P min-aggregates, not P passes). The base hash is
    md5-derived ONCE per shingle row in a projection below the groupBy;
    each permutation is then two integer ops (universal-hash family — see
    functions/hashing.py), which cut signature time ~6× vs per-permutation
    md5."""
    hb = sh.select(
        "id", (h64("shingle") % F.lit(MERSENNE31)).alias("hb")
    )
    aggs = [
        F.min(
            (F.lit(a).cast("bigint") * F.col("hb") + F.lit(b))
            % F.lit(MERSENNE31)
        ).alias(f"m{p}")
        for p, (a, b) in enumerate(perm_coeffs(num_perm))
    ]
    return hb.groupBy("id").agg(*aggs)


def _band_rows(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """Explode (id, m0..m{P-1}) signatures into (id, band_id, band_key)
    rows — the LSH join key relation shared by self-join dedup and the
    incremental new-vs-corpus variant."""
    rows = num_perm // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    ",", *[F.col(f"m{b * rows + r}") for r in range(rows)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("id", F.explode(band_structs).alias("band")).select(
        "id", "band.band_id", "band.band_key"
    )


def corpus_dedup_artifacts(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 8,
    prefix: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The standing-state side of incremental dedup, computed once per
    corpus (or per kept delta): ``(keys, band_rows, shingles)`` —

    - ``keys``: per-doc 64-char-prefix hashes, ``(id, key_hash)`` — the
      doc id is provenance for RETRACTION (deletion propagation must be
      able to remove exactly one document's contribution, so every
      standing artifact carries its source id);
    - ``band_rows``: MinHash LSH join keys, ``(id, band_id, band_key)``;
    - ``shingles``: the n-gram relation ``(id, shingle)`` the exact
      Jaccard verify reads.

    At 100 TB these are persisted bucketed tables (by key_hash /
    band_key); the streaming form (`streaming/corpus_dedup.py`) persists
    them as versioned append-only deltas."""
    keys = corpus.select(
        F.col(id_col).alias("id"),
        h64(F.substring(F.col(text_col), 1, prefix)).alias("key_hash"),
    ).distinct()
    sh_c = shingles(corpus, id_col, text_col, n)
    bc = _band_rows(minhash_signatures(sh_c, num_perm), num_perm, bands)
    return keys, bc, sh_c


def incremental_dedup_against(
    ckeys: DataFrame,
    cbands: DataFrame,
    cshingles: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 8,
    threshold: float = 0.2,
    prefix: int = 64,
    cache_registry: list | None = None,
) -> DataFrame:
    """Score a NEW batch against PRECOMPUTED corpus artifacts
    (:func:`corpus_dedup_artifacts`) — the form a standing ingest
    pipeline actually runs: the corpus side is state, only the delta is
    hashed. One row per new document: ``(doc_id, is_exact_dup,
    is_near_dup, keep)``.

    Two screens, both sub-quadratic and both one-directional (new→corpus,
    never corpus×corpus):

    - exact: the 64-char-prefix hash of a new doc hits the corpus key set
      (a semi-join on the hash — at scale the corpus keys are a standing
      bucketed table, so this is a co-located probe);
    - near: MinHash band signatures of the new side equi-join the corpus
      side's band rows (same banded-LSH mechanics as
      :func:`minhash_lsh_pairs`, but the join is new⋈corpus instead of a
      self-join), candidates verified with exact shingle Jaccard.

    Pass a ``cache_registry`` list to receive the persisted intermediate
    so per-micro-batch callers can unpersist after materializing.
    """
    def _key(df: DataFrame) -> Column:
        return h64(F.substring(F.col(text_col), 1, prefix))

    exact = (
        new.select(F.col(id_col).alias("doc_id"), _key(new).alias("key_hash"))
        .join(ckeys, "key_hash")
        .select("doc_id")
        .distinct()
        .withColumn("is_exact_dup", F.lit(True))
    )
    sh_n = shingles(new, id_col, text_col, n)
    sh = cshingles.unionByName(sh_n).persist()
    if cache_registry is not None:
        cache_registry.append(sh)
    bn = _band_rows(minhash_signatures(sh_n, num_perm), num_perm, bands)
    bc = cbands
    cand = (
        bn.alias("n")
        .join(
            bc.alias("c"),
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(F.col("n.id").alias("doc_a"), F.col("c.id").alias("doc_b"))
        .distinct()
    )
    near = (
        _pair_jaccard(sh, candidates=cand)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    return (
        new.select(F.col(id_col).alias("doc_id"))
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("is_exact_dup"), F.lit(False)).alias(
                "is_exact_dup"
            ),
            F.coalesce(F.col("is_near_dup"), F.lit(False)).alias(
                "is_near_dup"
            ),
        )
        .withColumn(
            "keep", ~(F.col("is_exact_dup") | F.col("is_near_dup"))
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 8,
    threshold: float = 0.2,
    prefix: int = 64,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the daily-ingest
    form of dedup (see :func:`incremental_dedup_against` for semantics
    and scale shape). This convenience form computes the corpus artifacts
    inline; a standing pipeline computes them once at ingest
    (:func:`corpus_dedup_artifacts`) and persists them."""
    ckeys, cbands, csh = corpus_dedup_artifacts(
        corpus, id_col, text_col, n=n, num_perm=num_perm, bands=bands,
        prefix=prefix,
    )
    return incremental_dedup_against(
        ckeys, cbands, csh, new, id_col, text_col,
        n=n, num_perm=num_perm, bands=bands, threshold=threshold,
        prefix=prefix,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + banded LSH candidate generation + exact-Jaccard verify.

    bands×rows = num_perm; a pair is a candidate iff some band of the
    signature matches exactly (hash-join on (band_id, band_key) after
    exploding signatures to band rows — never an all-pairs comparison).
    Candidates are then verified with exact shingle Jaccard ≥ threshold
    (computed for the candidate pairs only — see :func:`_pair_jaccard`),
    so false positives cost time, not correctness; false negatives follow
    the standard (1-j^rows)^bands LSH miss curve.
    """
    if bands <= 0 or bands > num_perm:
        raise ValueError(f"bands must be in 1..num_perm, got {bands}/{num_perm}")
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})"
        )
    rows = num_perm // bands
    # the shingle relation feeds the signature pass AND the three verify
    # consumers (sizes + both join sides); materialize the tokenize+explode
    # once — same trade as in ngram_jaccard_pairs
    sh = shingles(df, id_col, text_col, n).persist()
    band_rows = _band_rows(minhash_signatures(sh, num_perm), num_perm, bands)
    # (no persist here: the self-join's two sides canonicalize to the same
    # subplan, so Spark reuses one exchange for both)
    a, b = band_rows.alias("a"), band_rows.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    return _pair_jaccard(sh, candidates=candidates).filter(
        F.col("jaccard") >= threshold
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """(id, cluster_id): connected components over a near-dup pair relation,
    cluster_id = min doc id of the component — the step that turns pair
    output into actionable dedup groups (keep cluster_id, drop the rest).

    Min-label propagation with pointer jumping: each round takes the min
    label over the neighborhood, then contracts label chains with a
    label-of-label join (lbl ← lbl[lbl]) — the classic shortcutting step
    that turns O(diameter) rounds into O(log diameter), so even
    adversarial long-chain graphs converge in a handful of joins. Each
    round is one materialized pass that observes how many labels it
    changed; the loop exits at the first round that changes none. No
    driver-side graph, no GraphFrames dependency.
    """
    # materialize: the propagation loop re-reads edges every round —
    # without this the whole upstream pair pipeline re-runs per round
    edges, _ = materialize(
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
        .unionByName(pairs.selectExpr("doc_b AS a", "doc_a AS b"))
        .distinct()
    )
    labels, seen = materialize(
        edges.groupBy("a")
        .agg(F.min("b").alias("mb"))
        .selectExpr("a AS id", "least(a, mb) AS lbl")
    )
    # r11: the fixpoint check is a CHANGE count carried by the round's
    # own materialization — each round knows its pre-round label, so the
    # count is observed on the checkpoint the round writes anyway, and
    # the loop exits at the FIRST no-change round (a no-change round is
    # a fixpoint of deterministic ops — identical labels). Every node has
    # one label row, so the observed label count bounds each relation
    # the round broadcasts.
    n = seen.rows
    for _ in range(64):
        # neighbor-min pass: lbl'(v) = min(lbl(v), min over neighbors lbl(u))
        nbr = (
            edges.join(broadcast_if_fits(labels, n), F.col("b") == F.col("id"))
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        nxt = labels.join(
            broadcast_if_fits(nbr, n), F.col("id") == F.col("a"), "left"
        ).selectExpr(
            "id", "lbl AS old_lbl", "least(lbl, coalesce(nlbl, lbl)) AS lbl"
        )
        # pointer jump: lbl''(v) = lbl'(lbl'(v)) — shortcut label chains
        # (every label is itself a node id, so the self-join is total)
        jump = nxt.selectExpr("id AS jid", "lbl AS jlbl")
        step, seen = materialize(
            nxt.join(
                broadcast_if_fits(jump, n), F.col("lbl") == F.col("jid"), "left"
            ).selectExpr(
                "id", "least(lbl, coalesce(jlbl, lbl)) AS lbl", "old_lbl"
            ),
            changed=F.count_if(F.col("lbl") != F.col("old_lbl")),
        )
        labels = step.select("id", "lbl")
        if not seen.changed:
            break
    return labels.selectExpr("id", "lbl AS cluster_id")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """(id, simhash) — classic SimHash over token hashes, ``bits`` wide
    (≤62 keeps the BIGINT positive).

    All ``bits`` bit-votes are computed as conditional aggregates in ONE
    groupBy over per-(doc, token) occurrence counts: vote_b =
    Σ_{(id,tok)} cnt · (±1) — the same integers as ±1 per occurrence.
    The (id, tok) pre-aggregation collapses map-side (a doc's exploded
    tokens sit in its own partition), and the md5-derived token hash is
    computed ONCE PER DISTINCT TOKEN on a broadcast vocabulary relation
    instead of once per occurrence — on Zipf text the corpus has orders
    of magnitude more occurrences than vocabulary entries, and
    md5+conv(16,10) is the expensive expression in this plan (profiled
    r8: the per-occurrence form spent ~2 s of the 4 s query here at
    sf0.1). The vote aggregation then runs over |doc|·|doc-vocab| rows,
    not token occurrences.

    ``broadcast_vocab`` gates the vocabulary hint: a Heaps-law web-scale
    corpus has hundreds of millions of distinct tokens, past the 8 GB
    broadcast cap — there, pass ``False`` and the hash is computed inline
    per DISTINCT (doc, token) pair instead (no join at all; the (id, tok)
    pre-agg already collapsed raw occurrences, so the md5 cost is per
    doc-vocab entry — more than per-corpus-vocab, far less than
    per-occurrence, and nothing ever sits on the driver).
    """
    tokc = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
        .select("id", F.explode("toks").alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if broadcast_vocab:
        vocab = tokc.select("tok").distinct().select(
            "tok", h64("tok").alias("h")
        )
        tok = tokc.join(F.broadcast(vocab), "tok").select("id", "cnt", "h")
    else:
        tok = tokc.select("id", "cnt", h64("tok").alias("h"))
    # SQL-string expressions: one py4j call per aggregate instead of ~8
    # Column-builder round-trips — with `bits` of them, driver-side plan
    # construction dominated the whole query otherwise (~2 s at 84 exprs).
    # Branch-free bit arithmetic (sum of cnt·bit_b, vote>0 ⇔ 2·s_b > n)
    # keeps the generated aggregate class small — the CASE form's codegen
    # compile was a measurable share of the cold query.
    vote_aggs = [
        F.expr(f"sum(cnt * (shiftright(h, {b}) & 1))").alias(f"s{b}")
        for b in range(bits)
    ]
    votes = tok.groupBy("id").agg(
        F.expr("sum(cnt)").alias("n"), *vote_aggs
    )
    sim = F.expr(
        " + ".join(
            f"(CASE WHEN 2 * s{b} > n THEN CAST({1 << b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits)
        )
    )
    return votes.select("id", sim.alias("simhash"))


def simhash_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_bits: tuple[int, ...] = (48, 36),
    salts: tuple[str, ...] = ("", "#w1"),
    broadcast_vocab: bool = True,
) -> DataFrame:
    """(id, sim_0, sim_1, …) — SimHash fingerprints WIDER than one BIGINT,
    one column ("word") per entry of ``word_bits``, each word voted from an
    independent md5 token hash (``h64(tok || salt)``).

    Why: banded SimHash needs ``bands > max_hamming`` for pigeonhole
    recall, so at fixed 48/64 total bits the per-band key is stuck at 6-8
    bits = 64-256 buckets — a CONSTANT, which at corpus scale turns the
    per-bucket self-join quadratic (VERDICT r3 #4). Widening the
    fingerprint is the scale knob that keeps recall exact: total_bits =
    bands × band_bits grows, bucket count per band = 2^band_bits grows
    with the corpus, bands stay > max_hamming. Multi-word fingerprints
    lift the 62-bit BIGINT ceiling without arrays (arrays would defeat the
    single-aggregation vote below).

    All words' votes still run in ONE groupBy (Σ word_bits conditional
    sums), count-weighted over per-(doc, token) rows with all salted
    hashes computed once per DISTINCT token on a broadcast vocabulary —
    see :func:`simhash` for why (occurrences ≫ vocabulary on Zipf text),
    and for the ``broadcast_vocab=False`` web-scale fallback (inline
    per-(doc, token) hashing, no driver-sized structure).
    """
    if len(word_bits) != len(salts):
        raise ValueError("word_bits and salts must align")
    tokc = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
        .select("id", F.explode("toks").alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    salted = [
        (h64(F.concat(F.col("tok"), F.lit(s))) if s else h64("tok")).alias(
            f"h{w}"
        )
        for w, s in enumerate(salts)
    ]
    if broadcast_vocab:
        vocab = tokc.select("tok").distinct().select("tok", *salted)
        tokh = tokc.join(F.broadcast(vocab), "tok").drop("tok")
    else:
        tokh = tokc.select("id", "cnt", *salted)
    # SQL-string expressions — see :func:`simhash` for why (py4j plan-build
    # cost scales with expression count; Σ word_bits is 84 by default)
    vote_aggs = [
        F.expr(f"sum(cnt * (shiftright(h{w}, {b}) & 1))").alias(f"s{w}_{b}")
        for w, bits in enumerate(word_bits)
        for b in range(bits)
    ]
    votes = tokh.groupBy("id").agg(
        F.expr("sum(cnt)").alias("n"), *vote_aggs
    )
    sims = [
        F.expr(
            " + ".join(
                f"(CASE WHEN 2 * s{w}_{b} > n THEN CAST({1 << b} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
                for b in range(bits)
            )
        ).alias(f"sim_{w}")
        for w, bits in enumerate(word_bits)
    ]
    return votes.select("id", *sims)


def simhash_pairs_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_bits: tuple[int, ...] = (48, 36),
    salts: tuple[str, ...] = ("", "#w1"),
    band_bits: int = 12,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over the WIDE (multi-word)
    SimHash — the 100-TB parameterization of :func:`simhash_pairs`.

    Defaults: 84-bit fingerprint → 7 bands of 12 bits = 4096 bucket values
    per band (vs 64 at band_bits=6), still pigeonhole-complete for
    Hamming ≤ 6. Expected bucket population is N/2^band_bits, so the
    per-(band, bucket) self-join cost is Θ(bands · N²/2^band_bits) —
    band_bits is the knob that grows with log₂(corpus) while bands stays
    fixed at max_hamming+1 (see SCALE.md for the sizing table).
    """
    if any(b % band_bits for b in word_bits):
        raise ValueError("each word must split into whole bands")
    n_bands = sum(b // band_bits for b in word_bits)
    if n_bands <= max_hamming:
        raise ValueError(
            f"{n_bands} bands cannot guarantee recall for "
            f"max_hamming={max_hamming}; need bands > max_hamming"
        )
    # materialize once — three consumers, see :func:`simhash_pairs`
    sims = simhash_wide(df, id_col, text_col, word_bits, salts).localCheckpoint(
        eager=True
    )
    mask = (1 << band_bits) - 1
    band_structs, band_id = [], 0
    for w, bits in enumerate(word_bits):
        for i in range(bits // band_bits):
            band_structs.append(
                F.struct(
                    F.lit(band_id).alias("band_id"),
                    F.shiftright(F.col(f"sim_{w}"), i * band_bits)
                    .bitwiseAND(mask)
                    .alias("band_key"),
                )
            )
            band_id += 1
    sim_cols = [f"sim_{w}" for w in range(len(word_bits))]
    # Distinct-sketch candidate join + doc-pair expansion — see
    # :func:`simhash_pairs` for the rationale (dup-heavy corpora collapse
    # to few distinct fingerprints; candidates go Σ n_b² → Σ d_b²).
    ds = sims.select(*sim_cols).distinct()
    band_rows = ds.select(
        *sim_cols, F.explode(F.array(*band_structs)).alias("band")
    ).select(*sim_cols, "band.band_id", "band.band_key")
    a, b = band_rows.alias("a"), band_rows.alias("b")
    hamming = None
    for c in sim_cols:
        term = F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}")))
        hamming = term if hamming is None else hamming + term
    a_key = F.struct(*[F.col(f"a.{c}") for c in sim_cols])
    b_key = F.struct(*[F.col(f"b.{c}") for c in sim_cols])
    sketch_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (a_key < b_key),
        )
        .select(
            *[F.col(f"a.{c}").alias(f"sa_{w}") for w, c in enumerate(sim_cols)],
            *[F.col(f"b.{c}").alias(f"sb_{w}") for w, c in enumerate(sim_cols)],
            hamming.alias("hamming"),
        )
        # filter BEFORE distinct: candidates that fail the Hamming test
        # (the overwhelming majority on a real corpus) die map-side
        # instead of being shuffled into the dedup exchange
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    from functools import reduce

    x, y = sims.alias("x"), sims.alias("y")
    on_a = reduce(
        lambda p, q: p & q,
        [F.col(f"x.{c}") == F.col(f"sa_{w}") for w, c in enumerate(sim_cols)],
    )
    on_b = reduce(
        lambda p, q: p & q,
        [F.col(f"y.{c}") == F.col(f"sb_{w}") for w, c in enumerate(sim_cols)],
    )
    cross = (
        sketch_pairs.join(x, on_a)
        .join(y, on_b)
        .select(
            F.least("x.id", "y.id").alias("doc_a"),
            F.greatest("x.id", "y.id").alias("doc_b"),
            "hamming",
        )
    )
    within_on = reduce(
        lambda p, q: p & q,
        [F.col(f"x.{c}") == F.col(f"y.{c}") for c in sim_cols]
        + [F.col("x.id") < F.col("y.id")],
    )
    within = x.join(y, within_on).select(
        F.col("x.id").alias("doc_a"),
        F.col("y.id").alias("doc_b"),
        F.lit(0).cast(
            dict(cross.dtypes)["hamming"]
        ).alias("hamming"),
    )
    return cross.unionByName(within)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    band_bits: int = 6,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, candidates
    restricted to pairs agreeing on at least one ``band_bits``-wide chunk.

    Pigeonhole: distance ≤ bands-1 guarantees a matching band, so complete
    recall requires ``bits // band_bits > max_hamming`` — enforced here
    (defaults 48/6 → 8 bands, covers Hamming ≤ 7 ≥ max_hamming=6).

    Near-dup corpora collapse to FAR fewer distinct fingerprints than
    docs (exact and near-exact duplicates share a sketch), so the banded
    self-join runs over DISTINCT sketches and doc pairs are expanded
    afterwards: candidate count drops from Σ_bucket n_b² (doc counts) to
    Σ_bucket d_b² (distinct-sketch counts) — measured 11.7M → ~90k
    candidate rows at sf0.1 on the dup-heavy testdata corpus. Within-
    group (identical-sketch) pairs are emitted directly at Hamming 0;
    cross-group pairs expand each surviving sketch pair through two
    joins back to the (id, sketch) relation, output-bound work. The
    degenerate all-sketches-distinct corpus reduces to the original
    per-doc join plus one tiny distinct.
    """
    # the sketch feeds three consumers (distinct sketches + both sides of
    # the doc-pair expansion) — materialize once instead of recomputing
    # the tokenize/vote aggregation per consumer
    sims = simhash(df, id_col, text_col, bits).localCheckpoint(eager=True)
    n_bands = bits // band_bits
    if n_bands <= max_hamming:
        raise ValueError(
            f"bits//band_bits ({n_bands}) bands cannot guarantee recall for "
            f"max_hamming={max_hamming}; need bands > max_hamming"
        )
    mask = (1 << band_bits) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftright(F.col("simhash"), i * band_bits)
                .bitwiseAND(mask)
                .alias("band_key"),
            )
            for i in range(n_bands)
        ]
    )
    ds = sims.select("simhash").distinct()
    band_rows = ds.select(
        "simhash", F.explode(band_structs).alias("band")
    ).select("simhash", "band.band_id", "band.band_key")
    a, b = band_rows.alias("a"), band_rows.alias("b")
    sketch_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # filter BEFORE distinct: candidates failing the Hamming test
        # (the overwhelming majority on a real corpus) die map-side
        # instead of being shuffled into the dedup exchange
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    x, y = sims.alias("x"), sims.alias("y")
    cross = (
        sketch_pairs.join(x, F.col("x.simhash") == F.col("sa"))
        .join(y, F.col("y.simhash") == F.col("sb"))
        .select(
            F.least("x.id", "y.id").alias("doc_a"),
            F.greatest("x.id", "y.id").alias("doc_b"),
            "hamming",
        )
    )
    within = (
        x.join(
            y,
            (F.col("x.simhash") == F.col("y.simhash"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("doc_a"),
            F.col("y.id").alias("doc_b"),
            F.lit(0).cast(dict(cross.dtypes)["hamming"]).alias("hamming"),
        )
    )
    return cross.unionByName(within)


def prefix_filter_jaccard_pairs(
    items: DataFrame,
    t_num: int = 3,
    t_den: int = 5,
    cache_registry: list | None = None,
) -> DataFrame:
    """Exact token-set Jaccard ≥ t_num/t_den pairs via PREFIX FILTERING —
    the AllPairs/PPJoin candidate bound (Bayardo et al. WWW'07, Xiao et
    al. WWW'08), the third candidate-generation strategy in the family
    (MinHash bands: probabilistic; hot-capped shingle join: exact but
    misses all-hot pairs; prefix filter: exact with NO false negatives).

    ``items`` is any distinct (id, tok) set relation — word tokens or
    n-gram shingles (the registered query uses 3-gram shingles, the
    standard near-dup item space). Items are globally ordered by
    ascending document frequency (rarest
    first, tok as tie-break); a document of set-size ``s`` exposes only
    its first ``s - ceil(t·s) + 1`` tokens in that order as join keys.
    Two sets with Jaccard ≥ t MUST share a prefix token (pigeonhole on
    the overlap bound ``ceil(t/(1+t)·(sa+sb))``), so joining on prefix
    tokens alone is complete. Candidates then verify EXACT Jaccard over
    full sets with pure integer arithmetic: ``t_den·inter ≥ t_num·union``.

    Scale shape: prefixes are built from the RAREST tokens, so the
    per-token join fan-out is smallest exactly where the join runs —
    the inverse of the hot-shingle problem. One df aggregate, one
    per-doc rank window (keyed by doc — no global sort), one equi-join
    on prefix tokens, one verify join bounded to candidates.

    Pass a ``cache_registry`` list to receive the persisted token-set
    frame so long-lived callers can unpersist it (same discipline as
    `_range_partitioned` / `incremental_dedup_against`; ADVICE r6).
    """
    tokset = items.select("id", "tok").distinct().persist()
    if cache_registry is not None:
        cache_registry.append(tokset)
    dfreq = tokset.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # set size and prefix rank share ONE exchange on id: an unbounded
    # count window plus the row_number window reuse the same hash
    # partitioning (guide §2.4 — the former groupBy("id") aggregate and
    # its re-join paid two extra shuffles for the same number).
    w = Window.partitionBy("id").orderBy("df", "tok")
    wsz = Window.partitionBy("id")
    ranked = (
        tokset.join(dfreq, "tok")
        .withColumn("sz", F.count(F.lit(1)).over(wsz))
        .withColumn("r", F.row_number().over(w))
        # prefix length = sz - ceil(t*sz) + 1, ceil via integer division
        .filter(
            F.col("r")
            <= F.col("sz")
            - F.expr(f"({t_num} * sz + {t_den - 1}) div {t_den}")
            + F.lit(1)
        )
        .select("id", "tok", "sz")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            # symmetric length filter: t <= sa/sb <= 1/t
            & (F.col("a.sz") * t_num <= F.col("b.sz") * t_den)
            & (F.col("b.sz") * t_num <= F.col("a.sz") * t_den),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .distinct()
    )
    # Verify via per-doc token ARRAYS instead of re-exploding the token
    # relation under the candidate join (r11, guide §2.3 "shuffle fewer
    # bytes"/§3.3): the exploded form pushed |cand|·|tokens per doc| rows
    # (13.5M at sf0.1) through a grouped count; joining the |docs|-row
    # array relation onto the |cand| pairs and intersecting in one
    # codegen'd array op moves the same token bytes but 70x fewer rows
    # and no aggregation hash table. tokset is distinct per id, so
    # array_intersect is exact set intersection.
    # (persisted: both verify joins probe it, and collect_list is a
    # non-codegen ObjectHashAggregate worth computing once; |docs| rows,
    # bounded by per-doc token counts — same footprint discipline as
    # tokset above, released through the same cache_registry)
    tokarr = (
        tokset.groupBy("id")
        .agg(F.sort_array(F.collect_list("tok")).alias("toks"))
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(tokarr)
    inter = (
        cand.join(tokarr.alias("A"), F.col("A.id") == F.col("doc_a"))
        .join(tokarr.alias("B"), F.col("B.id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "sza",
            "szb",
            F.size(F.array_intersect(F.col("A.toks"), F.col("B.toks")))
            .cast("long")
            .alias("inter_sz"),
        )
    )
    return (
        inter.withColumn(
            "union_sz", F.col("sza") + F.col("szb") - F.col("inter_sz")
        )
        .filter(F.col("inter_sz") * t_den >= F.col("union_sz") * t_num)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter_sz").cast("bigint").alias("inter_sz"),
            F.col("union_sz").cast("bigint").alias("union_sz"),
            F.expr("(100 * inter_sz) div (sza + szb - inter_sz)")
            .cast("int")
            .alias("jac_pct"),
        )
    )
