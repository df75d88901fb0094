"""Registered similarity-search queries over ``embeddings.parquet`` —
brute-force exact cosine top-k and the LSH-bucketed ANN scale path.

The oracle SQL is generated from the same constants (query-set size, k,
hyperplane sign matrix) as the Spark plan; all float reductions go through
floor-quantized 1e-15 fixed-point BIGINT sums so both engines produce
bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.readers import load_table
from ..operators.similarity import (
    FIXED_POINT,
    ann_topk_lsh,
    ann_topk_multiprobe,
    cosine_topk,
    ivf_topk,
    neardup_pairs_lsh,
    norm2_fx,
    o_bucket_expr,
    pair_cosine_batches,
    plane_signs,
    pq_topk,
    sq8_topk,
    stride_centroids,
    PQ_STRIDE,
    PQ_SUBS,
    SQ8_MAX,
)
from ..functions.hashing import auto_band_bits, o_auto_band_bits
from ..io.stats import n_rows
from .registry import register

N_QUERIES = 10  # query set = vec_id < N_QUERIES
TOP_K = 5
NUM_PLANES = 8
DIM = 64

# Element-wise relation + fixed-point norms (floor(x²·1e15) BIGINT sums —
# see operators.similarity for why decimal casts are not cross-engine-safe).
_O_ELEMENTS = f"""
    e AS (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i, embedding
          FROM embeddings),
    el AS (SELECT vec_id, i, cast(embedding[i] AS double) AS x FROM e),
    norms AS (SELECT vec_id,
                     sum(cast(floor(x * x * {FIXED_POINT}.0) AS bigint)) AS n2
              FROM el GROUP BY vec_id)
"""


def _o_rank_select(scored_rel: str) -> str:
    return f"""
    SELECT query_id, vec_id, rank, cos_sim
    FROM (
      SELECT query_id, vec_id, cos_sim,
             cast(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS int)
               AS rank
      FROM {scored_rel}
    ) WHERE rank <= {TOP_K}
    """


@register(
    "cosine_topk_bruteforce",
    oracle=f"""
    WITH {_O_ELEMENTS},
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             sum(cast(floor(a.x * b.x * 1000000000000000.0) AS bigint)) AS dp
      FROM el a JOIN el b ON a.i = b.i
      WHERE a.vec_id < {N_QUERIES} AND a.vec_id != b.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.vec_id,
             cast(d.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.vec_id
    )
    {_o_rank_select('scored')}
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the first 10 vectors against the full corpus —
    broadcast queries, zip_with/aggregate dot products, fixed-point-exact sums."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    df = cosine_topk(emb, queries, k=TOP_K)
    return df.withColumn("rank", F.col("rank").cast("int"))


def _ann_oracle() -> str:
    signs = plane_signs(NUM_PLANES, DIM)
    bucket = o_bucket_expr("embedding", signs)
    return f"""
    WITH {_O_ELEMENTS},
    buckets AS (SELECT vec_id, {bucket} AS bucket FROM embeddings),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id
      FROM buckets q JOIN buckets c ON q.bucket = c.bucket
      WHERE q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
    ),
    dots AS (
      SELECT cd.query_id, cd.vec_id,
             sum(cast(floor(a.x * b.x * 1000000000000000.0) AS bigint)) AS dp
      FROM cand cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.vec_id,
             cast(d.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.vec_id
    )
    {_o_rank_select('scored')}
    """


# Embedding-cosine near-dup: the testdata embeddings are near-random
# (max pairwise cosine ≈ 0.48), so the threshold sits at ~p99.9 of the
# pair distribution to yield a real non-empty pair set; on an actual
# near-dup corpus the same operator runs with e.g. 0.95.
ND_BANDS = 8
ND_PLANES = 6
ND_THRESHOLD = 0.35
# corpus-derived banding (VERDICT r8 #4 — the r9 100× probe caught the
# FIXED 8×6 banding's 64-buckets-per-band going quadratic: 26× wall per
# 10× corpus at 10×, est. ~2.5e9 candidates at 100×). planes-per-band R
# follows the shared auto_band_bits load rule (load=8, the same target
# bucket population as the SimHash/correlation bands; lo=ND_PLANES so
# sf0.001/sf0.01 derive exactly the historical 8×6). Candidate mass ≈
# bands·n·load/2, so load=8 keeps the exact-verify join (which ships
# two WIDE embedding rows per candidate — the decade-dominant shuffle)
# linear-in-n. Bands grow 2 per extra bit as the RECALL knob (collision
# 1-(1-p^R)^B: +1 bit multiplies p^R by p ≈ 0.9 in the near-dup regime
# and +2 bands compensates: p=0.9 pairs hold ≥99% recall through R=16;
# recall itself is asserted vs brute force at gate scale in
# tests/test_kernels.py).
ND_RPB_LO, ND_RPB_HI, ND_LOAD = ND_PLANES, 16, 8
ND_BANDS_MAX = ND_BANDS + 2 * (ND_RPB_HI - ND_RPB_LO)


def nd_knobs(n_vecs: int) -> tuple[int, int]:
    """(planes_per_band, bands) for a corpus of ``n_vecs`` — shared, in
    semantics, with the oracle's nknob/bknob CTEs (`_o_nd_bb`)."""
    rpb = auto_band_bits(n_vecs, lo=ND_RPB_LO, hi=ND_RPB_HI, load=ND_LOAD)
    return rpb, ND_BANDS + 2 * (rpb - ND_RPB_LO)


def _o_nd_bb() -> str:
    """Row-form dynamic banding CTE chain ending in bb(vec_id, band,
    bucket) — the dynamic-oracle pattern (`plans/behavior.py::
    _o_corr_auto_sketch`): a static per-band column list can't depend on
    data, but a (band, plane, dim) sign relation filtered by the knobs
    can. Signs are md5-parity of 'band{b}:plane{p}#dim{i}' — byte-0
    parity = parity of the SECOND hex digit — exactly
    `operators/similarity.py::plane_signs`; buckets are sign bits of the
    QUANTIZED projection Σ floor(x·FX)·s (order-free int64), matching
    `lsh_buckets_batches` bit-for-bit. The projection is LIST-FORM
    (r11): the old el×(band,plane,dim) row join emitted n·bands·rpb·64
    rows (5e9 at 100x) into a GROUP BY and blew the DuckDB memory cap;
    aggregating the sign relation into per-(band,plane) lists and
    unrolling the 64-term dot keeps the intermediate at n·bands·rpb
    rows with identical int64 sums."""
    sign = (
        "CASE WHEN substr(md5('band' || b.b || ':plane' || p.p"
        " || '#dim' || i.i), 2, 1)"
        " IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END"
    )
    return f"""
    nknob AS (
      SELECT {o_auto_band_bits("SELECT count(*) FROM embeddings",
                               lo=ND_RPB_LO, hi=ND_RPB_HI, load=ND_LOAD)}
               AS rpb
    ),
    bknob AS (
      SELECT {ND_BANDS} + 2 * (k.rpb - {ND_RPB_LO}) AS bands FROM nknob k
    ),
    ndpl AS (
      SELECT b.b, p.p, i.i, {sign} AS sign
      FROM range(0, {ND_BANDS_MAX}) b(b), range(0, {ND_RPB_HI}) p(p),
           range(0, {DIM}) i(i), nknob k, bknob bx
      WHERE b.b < bx.bands AND p.p < k.rpb
    ),
    ndpll AS MATERIALIZED (
      SELECT b, p, list(sign ORDER BY i) AS sgn FROM ndpl GROUP BY 1, 2
    ),
    ndqel AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                  x -> cast(floor(cast(x AS double) * {FIXED_POINT}.0)
                            AS bigint)) AS q
      FROM embeddings
    ),
    ndproj AS (
      SELECT qe.vec_id, pl.b, pl.p,
             cast({" + ".join(f"qe.q[{i}] * pl.sgn[{i}]"
                              for i in range(1, DIM + 1))}
                  AS bigint) AS s
      FROM ndqel qe CROSS JOIN ndpll pl
    ),
    bb AS (
      SELECT vec_id, cast(b AS int) AS band,
             cast(sum(CASE WHEN s >= 0 THEN (1::BIGINT << p)
                           ELSE 0 END) AS bigint) AS bucket
      FROM ndproj GROUP BY 1, 2
    )"""


def _neardup_oracle() -> str:
    return f"""
    WITH {_O_ELEMENTS},
    {_o_nd_bb()},
    cand AS (
      SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      FROM bb x JOIN bb y
        ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    dots AS (
      SELECT cd.a, cd.b,
             cast(list_sum(list_transform(range(1, {DIM} + 1),
                  i -> cast(floor(cast(ea.embedding[i] AS double)
                                  * cast(eb.embedding[i] AS double)
                                  * {FIXED_POINT}.0) AS bigint)))
                  AS bigint) AS dp
      FROM cand cd
      JOIN embeddings ea ON ea.vec_id = cd.a
      JOIN embeddings eb ON eb.vec_id = cd.b
    )
    SELECT d.a, d.b,
           cast(d.dp AS double)
             / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
             AS cos_sim
    FROM dots d
    JOIN norms na ON na.vec_id = d.a
    JOIN norms nb ON nb.vec_id = d.b
    WHERE cast(d.dp AS double)
            / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
          >= {ND_THRESHOLD}
    """


@register("embedding_neardup_pairs", oracle=_neardup_oracle())
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-band hyperplane LSH
    + exact fixed-point cosine verify of candidates only — the
    vector-space member of the dedup family (exact / Jaccard / MinHash /
    SimHash / cosine). Candidates come from one (band, bucket)
    equi-self-join; the all-pairs product is never built, and BOTH
    banding knobs follow the corpus (`nd_knobs`: bucket count tracks
    n/load, band count restores recall — derived identically in the
    oracle's nknob/bknob CTEs), so bucket population is load-bounded at
    any corpus size instead of going quadratic past the fixed-knob
    design point."""
    emb = load_table(spark, sf_dir, "embeddings")
    rpb, bands = nd_knobs(n_rows(spark, sf_dir, "embeddings"))
    return neardup_pairs_lsh(
        emb, ND_THRESHOLD, bands=bands, planes_per_band=rpb, dim=DIM
    )


IVF_STRIDE = 31  # floor stride: K = ceil(N/31) coarse centroids at fixture N
IVF_NPROBE = 3
#: FAISS-style nlist cap: past N > IVF_STRIDE * IVF_NLIST_CAP the stride
#: grows with the corpus so the coarse codebook stops growing linearly —
#: the 10x certification sweep caught the fixed stride turning the
#: assignment join quadratic (N x N/31 centroid dots). Production FAISS
#: sizes nlist ~ sqrt(N) and k-means-refines (`kmeans_refine`); the cap
#: keeps the registered query oracle-checkable with the same modulo seed.
IVF_NLIST_CAP = 512
#: FAISS-style per-subspace PQ codebook cap (real PQ uses 256 entries =
#: one code byte). Same cliff class: the stride-7 seed made K ~ N/7, so
#: the encode join grew as N^2/7 — caught at 10x, capped here.
PQ_CB_CAP = 256


def ivf_stride(n_vecs: int) -> int:
    """Knob-derived coarse-centroid stride: the fixture floor until the
    nlist cap binds, then ceil(n/cap) — integer-exact, mirrored in SQL
    by `_O_IVFS` (same greatest/ceil-div arithmetic)."""
    return max(IVF_STRIDE, -(-n_vecs // IVF_NLIST_CAP))


def pq_stride(n_vecs: int) -> int:
    """Knob-derived PQ codebook stride: K <= PQ_CB_CAP + 1 entries per
    subspace, FAISS's one-byte-code regime. SQL mirror: `_O_PQS`."""
    return max(PQ_STRIDE, -(-n_vecs // PQ_CB_CAP))


#: scalar-subquery SQL mirrors of the stride knobs (dynamic-oracle
#: pattern, like `o_auto_band_bits`): ceil-div via (n + cap - 1) // cap.
_O_IVFS = (
    f"(SELECT greatest({IVF_STRIDE},"
    f" (count(*) + {IVF_NLIST_CAP - 1}) // {IVF_NLIST_CAP})"
    " FROM embeddings)"
)
_O_PQS = (
    f"(SELECT greatest({PQ_STRIDE},"
    f" (count(*) + {PQ_CB_CAP - 1}) // {PQ_CB_CAP})"
    " FROM embeddings)"
)

#: List-form centroid-assign dot products (VERDICT r10 #1). The row-form
#: `el a JOIN el b ON a.i = b.i AND b.vec_id % stride = 0` pushed
#: N×K×64 rows through a hash join plus a 64-wide GROUP BY and was the
#: 670–760 s/query slow tail of the 10× certification sweep
#: (SCALE.md:948) — all oracle-side cost; the Spark twins run in
#: seconds. Same fix pattern the round proved on PQ-encode: keep each
#: vector as its list, cross-join the N rows against the K ≤ 512
#: centroid rows (`_O_IVFS` keeps K capped), and fold the fixed-point
#: products with list_sum/list_transform. Each term is bit-identical to
#: the row form — floor(x·y·FP) AS BIGINT, summed — so `assign`/`probe`
#: and everything downstream see the exact same dp values.
_O_CDOTS_LIST = f"""
    cents AS MATERIALIZED (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings
      WHERE vec_id % {_O_IVFS} = 0
    ),
    cdots AS (
      SELECT a.vec_id AS vec_id, c.cid AS cid,
             cast(list_sum(list_transform(range(1, {DIM} + 1),
                  i -> cast(floor(cast(a.embedding[i] AS double)
                                  * cast(c.cemb[i] AS double)
                                  * {FIXED_POINT}.0) AS bigint)))
                  AS bigint) AS dp
      FROM embeddings a CROSS JOIN cents c
    )"""


def _ivf_oracle() -> str:
    return f"""
    WITH {_O_ELEMENTS},
{_O_CDOTS_LIST},
    cscored AS MATERIALIZED (
      SELECT c.vec_id, c.cid,
             cast(c.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cs
      FROM cdots c
      JOIN norms na ON na.vec_id = c.vec_id
      JOIN norms nb ON nb.vec_id = c.cid
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid) AS rn
        FROM cscored
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid) AS rn
        FROM cscored WHERE vec_id < {N_QUERIES}
      ) WHERE rn <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probe p JOIN assign a ON a.cid = p.cid
      WHERE a.vec_id != p.query_id
    ),
    dots AS (
      SELECT cd.query_id, cd.vec_id,
             sum(cast(floor(a.x * b.x * {FIXED_POINT}.0) AS bigint)) AS dp
      FROM cand cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.vec_id,
             cast(d.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.vec_id
    )
    {_o_rank_select('scored')}
    """


@register("ivf_topk", oracle=_ivf_oracle())
def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: corpus vectors are bucketed into data-adaptive
    inverted lists by nearest coarse centroid (deterministic stride seed,
    K≈N/31); each query scans only its top-3 centroid lists via a
    broadcast probe → centroid_id equi-join. The third ANN strategy next
    to brute force and hyperplane LSH — centroids follow corpus density
    and recall tunes at query time via nprobe, no index rebuild. The
    oracle runs the identical algorithm (parity gate, as `ann_topk_lsh`);
    recall vs brute force is asserted in pytest with k-means-refined
    centroids (`kmeans_refine`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = stride_centroids(emb, ivf_stride(n_rows(spark, sf_dir, "embeddings")))
    df = ivf_topk(emb, queries, cents, k=TOP_K, nprobe=IVF_NPROBE)
    return df.withColumn("rank", F.col("rank").cast("int"))


# 2^12 buckets at fixture scale; probe = own bucket + 12 distance-1 flips.
# The plane count is the log₂(N)-scaled knob — a 10^9-doc corpus runs the
# same operator with num_planes ≈ 24 (16.7M buckets), see SCALE.md.
MP_PLANES = 12


def _ann_multiprobe_oracle() -> str:
    signs = plane_signs(MP_PLANES, DIM)
    bucket = o_bucket_expr("embedding", signs)
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(MP_PLANES)]
    )
    return f"""
    WITH {_O_ELEMENTS},
    buckets AS (SELECT vec_id, {bucket} AS bucket FROM embeddings),
    qprobes AS (
      SELECT vec_id AS query_id, unnest([{probes}]) AS bucket
      FROM buckets WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT p.query_id, c.vec_id
      FROM qprobes p JOIN buckets c ON c.bucket = p.bucket
      WHERE c.vec_id != p.query_id
    ),
    dots AS (
      SELECT cd.query_id, cd.vec_id,
             sum(cast(floor(a.x * b.x * {FIXED_POINT}.0) AS bigint)) AS dp
      FROM cand cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.vec_id,
             cast(d.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.vec_id
    )
    {_o_rank_select('scored')}
    """


@register("ann_topk_multiprobe", oracle=_ann_multiprobe_oracle())
def ann_topk_multiprobe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-key multi-probe hyperplane ANN top-5: MP_PLANES=12 planes →
    4 096 buckets (bucket population falls with corpus-scaled plane
    count), recall recovered by probing each query's bucket plus all 12
    distance-1 flips. The oracle runs the identical algorithm — parity of
    the wide bucketing + probe expansion + rerank, not ANN recall (recall
    vs brute force is asserted in pytest)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    df = ann_topk_multiprobe(
        emb, queries, k=TOP_K, num_planes=MP_PLANES, dim=DIM
    )
    return df.withColumn("rank", F.col("rank").cast("int"))


@register("ann_topk_lsh", oracle=_ann_oracle())
def ann_topk_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5: queries scan only their own sign-pattern
    bucket (equi-join on bucket id instead of a corpus×queries product).
    The oracle runs the identical algorithm — the gate checks parity of the
    bucketing + rerank mechanics, not ANN recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    df = ann_topk_lsh(emb, queries, k=TOP_K, num_planes=NUM_PLANES, dim=DIM)
    return df.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# Composed end-to-end vector pipeline

#: squared-L2-to-centroid cutoff (1e12 fixed point) ≈ p80 of the corpus
#: distance distribution — drops each label's farthest-from-centroid tail
E2E_DIST_MAX = 1_010_000_000_000


def _o_vec_e2e() -> str:
    from .corpus import CENT_FX

    return f"""
    WITH pairs AS MATERIALIZED ({_neardup_oracle()}),
    dropped AS (SELECT DISTINCT b AS vec_id FROM pairs),
    surv AS MATERIALIZED (SELECT * FROM embeddings
             WHERE vec_id NOT IN (SELECT vec_id FROM dropped)),
    spos AS (SELECT vec_id, label, unnest(embedding) AS val,
                    unnest(range(1, len(embedding) + 1)) AS pos
             FROM surv),
    sbase AS (SELECT vec_id, label, pos, cast(val AS double) AS v,
                     cast(floor(cast(val AS double) * {CENT_FX}) AS bigint)
                       AS qv
              FROM spos),
    scent AS (SELECT label, pos,
                     cast(sum(qv) AS double) / (count(*) * {CENT_FX}) AS c
              FROM sbase GROUP BY 1, 2),
    sdist AS (SELECT b.vec_id,
                     cast(sum(cast(floor((b.v - c.c) * (b.v - c.c)
                                         * {CENT_FX}) AS bigint)) AS bigint)
                       AS dist2_fx
              FROM sbase b JOIN scent c
                ON b.label = c.label AND b.pos = c.pos
              GROUP BY 1),
    clean AS (SELECT s.* FROM surv s JOIN sdist d ON s.vec_id = d.vec_id
              WHERE d.dist2_fx <= {E2E_DIST_MAX}),
    cel AS (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
                   embedding
            FROM clean),
    cell AS (SELECT vec_id, i, cast(embedding[i] AS double) AS x FROM cel),
    cnorm AS (SELECT vec_id,
                     sum(cast(floor(x * x * {FIXED_POINT}.0) AS bigint)) AS n2
              FROM cell GROUP BY 1),
    qel AS (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
                   embedding
            FROM embeddings WHERE vec_id < {N_QUERIES}),
    qell AS (SELECT vec_id, i, cast(embedding[i] AS double) AS x FROM qel),
    qnorm AS (SELECT vec_id,
                     sum(cast(floor(x * x * {FIXED_POINT}.0) AS bigint)) AS n2
              FROM qell GROUP BY 1),
    dots AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                    sum(cast(floor(a.x * b.x * {FIXED_POINT}.0) AS bigint))
                      AS dp
             FROM qell a JOIN cell b ON a.i = b.i
             WHERE a.vec_id != b.vec_id
             GROUP BY 1, 2),
    scored AS (SELECT d.query_id, d.vec_id,
                      cast(d.dp AS double)
                        / (sqrt(cast(qn.n2 AS double))
                           * sqrt(cast(cn.n2 AS double))) AS cos_sim
               FROM dots d
               JOIN qnorm qn ON qn.vec_id = d.query_id
               JOIN cnorm cn ON cn.vec_id = d.vec_id)
    {_o_rank_select('scored')}
    """


@register("vector_pipeline_e2e", oracle=_o_vec_e2e())
def vector_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-corpus curation DAG as ONE query — the embedding twin of
    ``curation_pipeline_e2e``: near-dup removal (multi-band hyperplane LSH
    pairs; the higher vec_id of each pair is dropped) → label-centroid
    outlier pruning (squared-L2 beyond E2E_DIST_MAX) → exact cosine top-K
    retrieval for the query set over the CLEANED corpus.

    Scale shape: LSH pairs are bucket-bounded (never all-pairs); the drop
    and outlier stages are an anti-join and a semi-join on vec_id; the
    centroid pass shuffles only the exploded (label, pos) partials; the
    final retrieval broadcasts the query set and scans the cleaned corpus
    once (Arrow numpy kernel, corpus never shuffled).
    """
    from .corpus import label_centroid_dist

    emb = load_table(spark, sf_dir, "embeddings")
    rpb, bands = nd_knobs(n_rows(spark, sf_dir, "embeddings"))
    pairs = neardup_pairs_lsh(
        emb, ND_THRESHOLD, bands=bands, planes_per_band=rpb, dim=DIM
    )
    # surv is consumed twice (outlier scoring + the cleaned corpus), and
    # without a barrier each consumer re-executes the whole LSH pair
    # subtree through the anti-join (guide §5: cache what is reused and
    # expensive). Materialize the DROP LIST (a bare vec_id relation, the
    # lightweight proxy per guide §8) instead of the wide corpus rows —
    # the two surv re-executions then cost one scan + broadcast anti-join
    # each while LSH runs exactly once.
    dropped = (
        pairs.select(F.col("b").alias("vec_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    surv = emb.join(dropped, "vec_id", "left_anti")
    keep = (
        label_centroid_dist(surv)
        .filter(F.col("dist2_fx") <= E2E_DIST_MAX)
        .select("vec_id")
    )
    clean = surv.join(keep, "vec_id", "semi")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out = cosine_topk(clean, queries, k=TOP_K)
    return out.withColumn("rank", F.col("rank").cast("int"))


SQ8_CAND_K = 15  # 3× oversample before the exact re-rank


def _sq8_oracle() -> str:
    return f"""
    WITH {_O_ELEMENTS},
    mx AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     x -> abs(cast(x AS double)))) AS mx
      FROM embeddings
    ),
    qel AS (
      SELECT el.vec_id, el.i,
             CASE WHEN m.mx = 0 THEN 0
                  ELSE cast(floor(el.x * {SQ8_MAX}.0 / m.mx + 0.5)
                            AS bigint) END AS qx
      FROM el JOIN mx m ON el.vec_id = m.vec_id
    ),
    qn AS (SELECT vec_id, sum(qx * qx) AS qn2 FROM qel GROUP BY vec_id),
    qdots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
             sum(a.qx * b.qx) AS qdp
      FROM qel a JOIN qel b ON a.i = b.i
      WHERE a.vec_id < {N_QUERIES} AND a.vec_id != b.vec_id
      GROUP BY 1, 2
    ),
    qscored AS (
      SELECT d.query_id, d.vec_id,
             CASE WHEN qa.qn2 = 0 OR qb.qn2 = 0 THEN 0.0
                  ELSE cast(d.qdp AS double)
                       / (sqrt(cast(qa.qn2 AS double))
                          * sqrt(cast(qb.qn2 AS double))) END AS q_sim
      FROM qdots d
      JOIN qn qa ON qa.vec_id = d.query_id
      JOIN qn qb ON qb.vec_id = d.vec_id
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY q_sim DESC, vec_id) AS crk
        FROM qscored
      ) WHERE crk <= {SQ8_CAND_K}
    ),
    dots AS (
      SELECT cd.query_id, cd.vec_id,
             sum(cast(floor(a.x * b.x * {FIXED_POINT}.0) AS bigint)) AS dp
      FROM cand cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.vec_id,
             cast(d.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.vec_id
    )
    {_o_rank_select('scored')}
    """


@register("ann_topk_sq8", oracle=_sq8_oracle())
def ann_topk_sq8_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) ANN top-5: approximate scan over 4×-compressed
    codes keeps SQ8_CAND_K=15 candidates per query, then the exact
    fixed-point kernel re-ranks only those — the compressed-scan-plus-refine
    shape (FAISS SQ8) that cuts corpus IO 4× where the LSH/IVF variants cut
    the candidate COUNT. The oracle runs the identical quantize→scan→refine
    algorithm; recall vs brute force is asserted in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    df = sq8_topk(emb, queries, k=TOP_K, cand_k=SQ8_CAND_K)
    return df.withColumn("rank", F.col("rank").cast("int"))


def _ivf_sq8_oracle() -> str:
    return f"""
    WITH {_O_ELEMENTS},
    mx AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     x -> abs(cast(x AS double)))) AS mx
      FROM embeddings
    ),
    qel AS (
      SELECT el.vec_id, el.i,
             CASE WHEN m.mx = 0 THEN 0
                  ELSE cast(floor(el.x * {SQ8_MAX}.0 / m.mx + 0.5)
                            AS bigint) END AS qx
      FROM el JOIN mx m ON el.vec_id = m.vec_id
    ),
    qn AS (SELECT vec_id, sum(qx * qx) AS qn2 FROM qel GROUP BY vec_id),
{_O_CDOTS_LIST},
    cscored AS MATERIALIZED (
      SELECT c.vec_id, c.cid,
             cast(c.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cs
      FROM cdots c
      JOIN norms na ON na.vec_id = c.vec_id
      JOIN norms nb ON nb.vec_id = c.cid
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid) AS rn
        FROM cscored
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid) AS rn
        FROM cscored WHERE vec_id < {N_QUERIES}
      ) WHERE rn <= {IVF_NPROBE}
    ),
    qcand AS (
      SELECT p.query_id, a.vec_id
      FROM probe p JOIN assign a ON a.cid = p.cid
      WHERE a.vec_id != p.query_id
    ),
    qdots AS (
      SELECT c.query_id, c.vec_id, sum(qa.qx * qb.qx) AS qdp
      FROM qcand c
      JOIN qel qa ON qa.vec_id = c.query_id
      JOIN qel qb ON qb.vec_id = c.vec_id AND qb.i = qa.i
      GROUP BY 1, 2
    ),
    qscored AS (
      SELECT d.query_id, d.vec_id,
             CASE WHEN qa.qn2 = 0 OR qb.qn2 = 0 THEN 0.0
                  ELSE cast(d.qdp AS double)
                       / (sqrt(cast(qa.qn2 AS double))
                          * sqrt(cast(qb.qn2 AS double))) END AS q_sim
      FROM qdots d
      JOIN qn qa ON qa.vec_id = d.query_id
      JOIN qn qb ON qb.vec_id = d.vec_id
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY q_sim DESC, vec_id) AS crk
        FROM qscored
      ) WHERE crk <= {SQ8_CAND_K}
    ),
    dots AS (
      SELECT cd.query_id, cd.vec_id,
             sum(cast(floor(a.x * b.x * {FIXED_POINT}.0) AS bigint)) AS dp
      FROM cand cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.vec_id,
             cast(d.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.vec_id
    )
    {_o_rank_select('scored')}
    """


@register("ivf_sq8_topk", oracle=_ivf_sq8_oracle())
def ivf_sq8_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ANN capstone (FAISS ``IVFx,SQ8``): inverted lists prune
    WHICH vectors each query scans (top-3 of ~N/31 data-adaptive lists),
    int8 codes shrink WHAT the scan reads (4× fewer bytes), and only 15
    survivors per query touch full-precision vectors for the exact
    re-rank. The oracle runs the identical assign→probe→quantized-scan→
    refine algorithm."""
    from ..operators.similarity import ivf_sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = stride_centroids(emb, ivf_stride(n_rows(spark, sf_dir, "embeddings")))
    df = ivf_sq8_topk(
        emb, queries, cents, k=TOP_K, nprobe=IVF_NPROBE, cand_k=SQ8_CAND_K
    )
    return df.withColumn("rank", F.col("rank").cast("int"))


PARA_MAX_JACCARD = 0.2  # lexically distinct: below the near-dup threshold


def _paraphrase_oracle() -> str:
    # list-form shingles + MATERIALIZED (same r11 fix as _O_SHINGLES:
    # the row-form idx carried the token array per row and the CTE was
    # re-executed per reference — both blow the temp cap at 100x)
    from .llm import _O_SHINGLES

    return f"""
    WITH {_O_ELEMENTS},
    {_O_SHINGLES},
    {_o_nd_bb()},
    cand AS (
      SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      FROM bb x JOIN bb y
        ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    dots AS (
      SELECT cd.a, cd.b,
             cast(list_sum(list_transform(range(1, {DIM} + 1),
                  i -> cast(floor(cast(ea.embedding[i] AS double)
                                  * cast(eb.embedding[i] AS double)
                                  * {FIXED_POINT}.0) AS bigint)))
                  AS bigint) AS dp
      FROM cand cd
      JOIN embeddings ea ON ea.vec_id = cd.a
      JOIN embeddings eb ON eb.vec_id = cd.b
    ),
    -- MATERIALIZED: close_pairs is referenced twice (common + final
    -- select); DuckDB otherwise inlines and RE-EXECUTES the whole
    -- banded dots pipeline per reference, doubling temp spill — at the
    -- 10x certification scale that alone exceeded a 55GiB temp cap.
    close_pairs AS MATERIALIZED (
      SELECT d.a, d.b,
             cast(d.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.a
      JOIN norms nb ON nb.vec_id = d.b
      WHERE cast(d.dp AS double)
              / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
            >= {ND_THRESHOLD}
    ),
    common AS (
      SELECT p.a, p.b, count(*) AS common
      FROM close_pairs p
      JOIN sh x ON x.id = p.a
      JOIN sh y ON y.id = p.b AND y.shingle = x.shingle
      GROUP BY 1, 2
    )
    SELECT p.a, p.b, p.cos_sim,
           coalesce(cast(c.common AS double)
                      / (sa.n + sb.n - c.common), 0.0) AS jaccard
    FROM close_pairs p
    JOIN sizes sa ON sa.id = p.a
    JOIN sizes sb ON sb.id = p.b
    LEFT JOIN common c ON c.a = p.a AND c.b = p.b
    WHERE coalesce(cast(c.common AS double)
                     / (sa.n + sb.n - c.common), 0.0) < {PARA_MAX_JACCARD}
    """


@register("paraphrase_candidates", oracle=_paraphrase_oracle())
def paraphrase_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paraphrase mining — the SEMANTIC-dedup signal lexical dedup cannot
    see: pairs whose embeddings are close (cosine >= the near-dup
    threshold, LSH-bucketed candidates) but whose token 3-gram Jaccard is
    LOW (below the lexical near-dup threshold). The survivors are
    "same content, different words" — the pairs a curation pipeline
    routes to semantic dedup or keeps as natural paraphrase augmentation.

    Scale shape: candidate pairs come from the banded hyperplane LSH
    equi-join (never all-pairs); the Jaccard check runs ONLY on the
    cosine-close survivors (the expensive lexical comparison is gated by
    the cheap-at-scale vector screen); shingle sizes broadcast-join onto
    the tiny pair set."""
    from ..operators.dedup import _pair_jaccard, shingles
    from .llm import SHINGLE_N

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    rpb, bands = nd_knobs(n_rows(spark, sf_dir, "embeddings"))
    close = neardup_pairs_lsh(
        emb, ND_THRESHOLD, bands=bands, planes_per_band=rpb, dim=DIM
    )
    sh = shingles(docs, "doc_id", "text", SHINGLE_N)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    jac = (
        _pair_jaccard(
            sh,
            candidates=close.select(
                F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
            ),
        )
        .select(
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            F.col("jaccard").alias("j"),
        )
    )
    out = (
        close.join(jac, ["a", "b"], "left")
        .join(
            sizes.select(F.col("id").alias("a")), "a"
        )  # docs without >=SHINGLE_N tokens are excluded by contract
        .join(sizes.select(F.col("id").alias("b")), "b")
        .select(
            "a",
            "b",
            "cos_sim",
            F.coalesce(F.col("j"), F.lit(0.0)).alias("jaccard"),
        )
        .filter(F.col("jaccard") < PARA_MAX_JACCARD)
    )
    return out


# ---------------------------------------------------------------------------
# Product-quantized ANN (PQ + exact re-rank)

PQ_CAND_K = 25  # 5x oversample before the exact re-rank
PQ_SUB_DIM = DIM // PQ_SUBS  # 4 dims per subspace on the 64-d fixture

#: Explicit squared-L2 between the subvector lists of relations ``s``
#: and ``c`` — unrolled over the {PQ_SUB_DIM} dims so the encode join
#: evaluates plain integer arithmetic instead of a per-row
#: list_transform lambda (~10x fewer DuckDB ops per joined row).
_O_SUBD2 = " + ".join(
    f"(s.ql[{i}] - c.ql[{i}]) * (s.ql[{i}] - c.ql[{i}])"
    for i in range(1, PQ_SUB_DIM + 1)
)
#: d2 fits 2^18 (4 dims x 254^2), so min(d2·2^44 + cid) is the exact
#: lexicographic argmin by (d2, cid) — the same tie-break as the old
#: row_number ORDER BY d2, cid — packed into one streaming grouped MIN.
_O_PACK = 1 << 44

#: Shared PQ-encode CTE block (r11): the old MATERIALIZED ``encd``
#: (every (vec, m, cid) distance) was N·K·16 rows — 822M rows / >24 GB
#: at the 100x scale, where it hit the DuckDB memory cap and failed the
#: certification sweep. Only the per-(vec, m) ARGMIN and the 10 query
#: rows are ever consumed, so: ``codes`` streams the join straight into
#: a grouped packed-MIN (no materialization), and ``qtab`` re-joins just
#: the query subvectors (10·16·K rows). Bit-identical outputs.
_O_PQ_CODES = f"""
    cb AS MATERIALIZED (
      SELECT vec_id AS cid, m, ql FROM subl WHERE vec_id % {_O_PQS} = 0
    ),
    codes AS (
      SELECT s.vec_id, s.m,
             cast(min(({_O_SUBD2}) * {_O_PACK} + c.cid) % {_O_PACK}
                  AS bigint) AS code
      FROM subl s JOIN cb c ON c.m = s.m
      GROUP BY 1, 2
    ),
    qtab AS (
      SELECT s.vec_id AS query_id, s.m, c.cid,
             cast({_O_SUBD2} AS bigint) AS d2
      FROM subl s JOIN cb c ON c.m = s.m
      WHERE s.vec_id < {N_QUERIES}
    )"""


def _pq_oracle() -> str:
    return f"""
    WITH {_O_ELEMENTS},
    gmx AS (SELECT max(abs(x)) AS mxg FROM el),
    pqel AS (
      SELECT vec_id, i,
             cast(floor(x * 127.0 / mxg + 0.5) AS bigint) AS qx
      FROM el CROSS JOIN gmx
    ),
    sub AS (
      SELECT vec_id, cast((i - 1) // {PQ_SUB_DIM} AS bigint) AS m, i, qx
      FROM pqel
    ),
    subl AS (
      SELECT vec_id, m, list(qx ORDER BY i) AS ql FROM sub GROUP BY 1, 2
    ),
{_O_PQ_CODES},
    adc AS (
      SELECT t.query_id, v.vec_id, cast(sum(t.d2) AS bigint) AS ad2
      FROM codes v
      JOIN qtab t ON t.m = v.m AND t.cid = v.code
      WHERE t.query_id != v.vec_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ad2, vec_id) AS crk
        FROM adc
      ) WHERE crk <= {PQ_CAND_K}
    ),
    dots AS (
      SELECT cd.query_id, cd.vec_id,
             sum(cast(floor(a.x * b.x * {FIXED_POINT}.0) AS bigint)) AS dp
      FROM cand cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.vec_id,
             cast(d.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.vec_id
    )
    {_o_rank_select('scored')}
    """


@register("ann_topk_pq", oracle=_pq_oracle())
def ann_topk_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN top-5 (FAISS ``PQ{PQ_SUBS}`` shape): the
    fourth compression point of the ANN family — LSH/IVF cut candidate
    COUNT, SQ8 cuts bytes-per-coordinate 4x, PQ cuts the whole vector to
    {PQ_SUBS} codebook indices and replaces the scan's dot products with
    {PQ_SUBS} integer table lookups. Codebooks are stride-seeded per
    subspace with the knob-derived `pq_stride` (K <= {PQ_CB_CAP} entries,
    FAISS's one-byte-code regime — the fixed stride-7 seed grew K ~ N/7
    and made the encode join quadratic; caught by the 10x certification
    sweep, capped, regression-pinned), distances are exact int64 at
    every step (global-scale quantization -> squared-L2 in the quantized
    domain), and the oracle replays the identical
    quantize -> encode -> lookup-scan -> refine algorithm. Recall vs
    brute force is asserted in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    df = pq_topk(emb, queries, k=TOP_K, cand_k=PQ_CAND_K,
                 stride=pq_stride(n_rows(spark, sf_dir, "embeddings")))
    return df.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# IVF + PQ composed ANN


def _ivf_pq_oracle() -> str:
    return f"""
    WITH {_O_ELEMENTS},
    gmx AS (SELECT max(abs(x)) AS mxg FROM el),
    pqel AS (
      SELECT vec_id, i,
             cast(floor(x * 127.0 / mxg + 0.5) AS bigint) AS qx
      FROM el CROSS JOIN gmx
    ),
    sub AS (
      SELECT vec_id, cast((i - 1) // {PQ_SUB_DIM} AS bigint) AS m, i, qx
      FROM pqel
    ),
    subl AS (
      SELECT vec_id, m, list(qx ORDER BY i) AS ql FROM sub GROUP BY 1, 2
    ),
{_O_PQ_CODES},
{_O_CDOTS_LIST},
    cscored AS MATERIALIZED (
      SELECT c.vec_id, c.cid,
             cast(c.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cs
      FROM cdots c
      JOIN norms na ON na.vec_id = c.vec_id
      JOIN norms nb ON nb.vec_id = c.cid
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid) AS rn
        FROM cscored
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cs DESC, cid) AS rn
        FROM cscored WHERE vec_id < {N_QUERIES}
      ) WHERE rn <= {IVF_NPROBE}
    ),
    adc AS (
      SELECT p.query_id, a.vec_id, cast(sum(t.d2) AS bigint) AS ad2
      FROM probe p
      JOIN assign a ON a.cid = p.cid
      JOIN codes v ON v.vec_id = a.vec_id
      JOIN qtab t ON t.query_id = p.query_id
                 AND t.m = v.m AND t.cid = v.code
      WHERE a.vec_id != p.query_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ad2, vec_id) AS crk
        FROM adc
      ) WHERE crk <= {PQ_CAND_K}
    ),
    dots AS (
      SELECT cd.query_id, cd.vec_id,
             sum(cast(floor(a.x * b.x * {FIXED_POINT}.0) AS bigint)) AS dp
      FROM cand cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.vec_id,
             cast(d.dp AS double)
               / (sqrt(cast(na.n2 AS double)) * sqrt(cast(nb.n2 AS double)))
               AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.vec_id
    )
    {_o_rank_select('scored')}
    """


@register("ivf_pq_topk", oracle=_ivf_pq_oracle())
def ivf_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAISS ``IVF,PQ`` production compose, completing the quantized
    family (LSH / multiprobe / IVF / SQ8 / IVF,SQ8 / PQ): coarse inverted
    lists prune WHICH vectors are scanned (top-{IVF_NPROBE} of <= {IVF_NLIST_CAP} knob-derived lists, `ivf_stride`), PQ codes shrink the scan to {PQ_SUBS} integer
    table lookups per candidate, and {PQ_CAND_K} survivors per query are
    re-ranked exactly. PQ encodes raw vectors (``by_residual=false``) so
    ONE broadcastable codebook serves every list. The oracle replays the
    identical assign -> probe -> encode -> lookup-scan -> refine pipeline;
    recall within the IVF candidate set is asserted in pytest."""
    from ..operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    n = n_rows(spark, sf_dir, "embeddings")  # cached stat feeds both stride knobs
    cents = stride_centroids(emb, ivf_stride(n))
    df = ivf_pq_topk(
        emb, queries, cents, k=TOP_K, nprobe=IVF_NPROBE, cand_k=PQ_CAND_K,
        stride=pq_stride(n),
    )
    return df.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# Integer-exact Lloyd iterations (k-means refinement, gate-checked)

KM_Q = 4096  # per-coordinate quantization: xf = floor(x * 2^12)
KM_S = 64  # centroid sub-resolution: centroids live at scale 2^12 * 2^6


def km_stride_for(n_vecs: int) -> int:
    """The k-means seed knob, derived from the data (a fixed stride
    would make K ∝ N and the assign join quadratic — the constant-knob
    trap): K = the smallest power of two with K² ≥ N (≈ ⌈√N⌉ within
    √2), stride = max(1, N div K), so assignment cost is N·K·dim ≈
    N^1.5·dim and the growth-test IVF sizing (K ~ √N) applies. Pure
    integers — the DuckDB twin in `_o_kmeans` lands on the same stride
    at every N."""
    t = ((max(n_vecs, 1) - 1).bit_length() + 1) // 2
    return max(1, n_vecs // (1 << t))


def _o_kmeans() -> str:
    """DuckDB mirror of the 2-round integer Lloyd refinement. Floor-vs-
    truncate division divergence (DuckDB ``//`` floors, Spark ``div``
    truncates toward zero) is neutralized by shifting each centroid sum
    non-negative before dividing: cel = (S*(s + n*Q)) // n − S*Q with
    s ≥ −n·Q, so the numerator is ≥ 0 and the two semantics agree. The
    seed stride derives from the data (knobs CTE): the smallest
    power-of-two K with K² ≥ N via the coalesce-min-range pattern, then
    stride = max(1, N // K) — all integer comparisons, matching
    :func:`km_stride_for` exactly (N ≥ 1 keeps // == div)."""
    upd = (
        f"cast(({KM_S} * (sum(e.xf) + count(*) * {KM_Q})) // count(*)"
        f" - {KM_S * KM_Q} AS bigint)"
    )
    # List-form assignment (r11): the old el×cent row joins (d1/d2)
    # pushed N·K·64 rows (6.5e9 at 100x) through GROUP BYs and spilled
    # past the disk, so the distance is an unrolled 64-term expression
    # over per-vector/per-centroid lists, streamed into one grouped MIN
    # per vector. The argmin packs (d, cid) into a HUGEINT
    # d·2^48 + cid — exact lexicographic (d, cid), the same ORDER BY
    # d, cid tie-break as the old row_number (d < 2^45 for |x| < 2 at
    # these scales; hugeint never wraps).
    pack = 1 << 48
    d1e = " + ".join(
        f"(a.q[{i}] * {KM_S} - c.cl[{i}])"
        f" * (a.q[{i}] * {KM_S} - c.cl[{i}])"
        for i in range(1, DIM + 1)
    )
    return f"""
    WITH e0 AS (
      SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i, embedding
      FROM embeddings
    ),
    el AS (
      SELECT vec_id, i,
             cast(floor(cast(embedding[i] AS double) * {KM_Q}) AS bigint)
               AS xf
      FROM e0
    ),
    elq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                  x -> cast(floor(cast(x AS double) * {KM_Q}) AS bigint))
               AS q
      FROM embeddings
    ),
    knobs AS (
      SELECT greatest(1, c.n // (1::BIGINT << coalesce(
               (SELECT min(t) FROM range(0, 22) r(t), (SELECT count(DISTINCT vec_id) AS n FROM el) c2
                WHERE (1::BIGINT << (2 * t)) >= c2.n), 21))) AS stride
      FROM (SELECT count(DISTINCT vec_id) AS n FROM el) c
    ),
    cent0l AS MATERIALIZED (
      SELECT vec_id AS cid,
             list_transform(q, v -> v * {KM_S}) AS cl
      FROM elq, knobs WHERE vec_id % knobs.stride = 0
    ),
    assign1 AS (
      SELECT a.vec_id,
             cast(min(cast({d1e} AS hugeint) * {pack} + c.cid) % {pack}
                  AS bigint) AS cid
      FROM elq a CROSS JOIN cent0l c
      GROUP BY 1
    ),
    upd1 AS (
      SELECT a.cid, e.i, {upd} AS cel
      FROM assign1 a JOIN el e ON e.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    cent0 AS (
      SELECT vec_id AS cid, i, xf * {KM_S} AS cel FROM el, knobs
      WHERE vec_id % knobs.stride = 0
    ),
    cent1 AS (
      SELECT p.cid, p.i, coalesce(u.cel, p.cel) AS cel
      FROM cent0 p LEFT JOIN upd1 u ON u.cid = p.cid AND u.i = p.i
    ),
    cent1l AS MATERIALIZED (
      SELECT cid, list(cel ORDER BY i) AS cl FROM cent1 GROUP BY 1
    ),
    asg2 AS (
      SELECT a.vec_id,
             min(cast({d1e} AS hugeint) * {pack} + c.cid) AS m
      FROM elq a CROSS JOIN cent1l c
      GROUP BY 1
    ),
    assign2 AS (
      SELECT vec_id, cast(m % {pack} AS bigint) AS cid,
             cast(m // {pack} AS bigint) AS d
      FROM asg2
    )
    SELECT cid, count(*) AS n_members,
           cast(sum(d) AS bigint) AS inertia_fx
    FROM assign2 GROUP BY 1 ORDER BY cid
    """


def _list_form_seeds(emb: DataFrame, where: str):
    """(elq, cent0l, min coordinate) of the list-form k-means assignment:
    the quantized vectors (vec_id, q) materialized, and the stride-seed
    centroids (cid, cl). The size guard drops NULL/empty embeddings. One
    precondition scan counts the stride knob's population — ADVICE r7:
    the SAME population the oracle's knobs CTE counts, distinct vec_id
    after that guard — and fails loudly unless every vector has DIM
    elements: the unrolled distance reads element_at(q, 1..DIM), which
    ANSI mode would fail deep inside the job on a short vector."""
    elq = (
        emb.select(
            "vec_id",
            F.expr(
                f"transform(embedding, x -> cast(floor(cast(x AS double)"
                f" * {KM_Q}) AS bigint))"
            ).alias("q"),
        )
        .filter(F.size("q") > 0)
        .localCheckpoint(eager=True)
    )
    st = elq.agg(
        F.countDistinct("vec_id").alias("n"),
        F.min(F.array_min("q")).alias("mn"),
        F.min(F.size("q")).alias("dmin"),
        F.max(F.size("q")).alias("dmax"),
    ).collect()[0]
    if st["dmin"] is not None and not st["dmin"] == st["dmax"] == DIM:
        raise ValueError(
            f"{where}: every embedding must have DIM={DIM} elements, "
            f"found lengths {st['dmin']}..{st['dmax']}"
        )
    stride = km_stride_for(int(st["n"]))
    cent0l = elq.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"),
        F.expr(f"transform(q, v -> v * {KM_S})").alias("cl"),
    )
    return elq, cent0l, st["mn"]


def _sq_dist():
    """Unrolled DIM-term squared distance of q (scaled by KM_S) to cl, the
    oracle's d1e shape: element_at is whole-stage-codegen'd where
    zip_with/aggregate lambdas are interpreted per element — measured 2×
    faster."""
    return F.expr(
        " + ".join(
            f"(element_at(q, {i}) * {KM_S} - element_at(cl, {i}))"
            f" * (element_at(q, {i}) * {KM_S} - element_at(cl, {i}))"
            for i in range(1, DIM + 1)
        )
    )


@register(
    "kmeans_lloyd_sizes",
    oracle=_o_kmeans(),
    doc="2 integer-exact Lloyd rounds: cluster sizes + inertia",
)
def kmeans_lloyd_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means refinement as a GATE-CHECKED query — the iterative
    distributed-ML primitive (assign → update, unrolled 2 rounds)
    expressed so both engines land on bit-identical state: coordinates
    quantize to integers (xf = floor(x·2¹²)), centroids live at a finer
    fixed-point scale (2¹²·2⁶) and update by INTEGER division of the
    member sum (shifted non-negative first, so DuckDB's floor-division
    ``//`` and Spark's truncating ``div`` agree), assignment is an
    integer-distance argmin with (d, cid) tie-break. The float-mean
    production form is `operators/similarity.py::kmeans_refine`
    (recall-tested); this query pins the ITERATION MECHANICS — two
    chained assign/update rounds — against an oracle, the way the graph
    fixpoints pin theirs with unrolled-round CTEs. The seed stride is
    KNOB-DERIVED (K ≈ ⌈√N⌉ as a power of two, `km_stride_for`, same
    integer rule in the oracle's knobs CTE) so the assign join stays
    N^1.5·dim — a third dynamic-oracle query alongside the correlation
    and SimHash autos.

    Scale shape: per round, one broadcast nested-loop join of the N
    list-form vectors against the K centroid lists (N·K rows, each
    carrying one unrolled DIM-term distance) reduced to an argmin per
    vector, and one (cid, i)-keyed update aggregation — the standard
    data-parallel Lloyd decomposition; the K-row centroid relation
    broadcasts. Lineage is cut per round in the production
    operator (localCheckpoint); 2 unrolled rounds here keep the oracle a
    pure CTE chain. Empty clusters keep their previous centroid
    (coalesce), matching `kmeans_refine`."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r12: LIST-FORM assignment, mirroring the oracle's own elq/cent0l
    # CTEs (guide §2.3 shuffle fewer bytes / §8 decide on proxies): the
    # old row-form assign exploded to N·dim rows and pushed N·K·dim rows
    # (~180M at sf0.1, 6.5e9 at 100×) through the join+aggregate; the
    # vector stays an array<bigint>, the broadcast nested-loop join
    # produces only N·K rows, and the 64-term distance is ONE unrolled
    # element_at expression per row (`_sq_dist`).
    elq, cent0l, mn = _list_form_seeds(emb, "kmeans_lloyd_sizes")
    # The same precondition scan guards the floor-vs-truncate
    # neutralization: the centroid-update shift keeps numerators
    # non-negative only while every coordinate satisfies xf >= -KM_Q
    # (x >= -1); below that the two division semantics silently diverge,
    # so fail loudly instead.
    if mn is not None and int(mn) < -KM_Q:
        raise ArithmeticError(
            f"kmeans_lloyd_sizes: coordinate {mn}/{KM_Q} < -1.0 "
            "breaks the floor-vs-truncate division neutralization"
        )

    def assign(centl: DataFrame) -> DataFrame:
        d = elq.crossJoin(F.broadcast(centl)).select(
            "vec_id", "cid", _sq_dist().alias("d")
        )
        return d.groupBy("vec_id").agg(
            F.min(F.struct("d", "cid")).alias("a")
        ).select(
            "vec_id", F.col("a.cid").alias("cid"), F.col("a.d").alias("d")
        )

    def _rows(df: DataFrame, arr: str, out: str) -> DataFrame:
        """(id-cols, i, value) row form of one array column — the update
        aggregation is per-dimension, so it alone re-explodes."""
        other = [c for c in df.columns if c != arr]
        return df.select(
            *other, F.posexplode(arr).alias("i0", out)
        ).select(*other, (F.col("i0") + 1).alias("i"), out)

    def update(centl: DataFrame, asg: DataFrame) -> DataFrame:
        upd = (
            asg.select("vec_id", "cid")
            .join(elq, "vec_id")
            .select("cid", F.posexplode("q").alias("i0", "xf"))
            .select("cid", (F.col("i0") + 1).alias("i"), "xf")
            .groupBy("cid", "i")
            .agg(F.sum("xf").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "cid",
                "i",
                (
                    F.expr(f"({KM_S} * (s + n * {KM_Q})) div n")
                    - KM_S * KM_Q
                ).alias("ucel"),
            )
        )
        cent_rows = _rows(centl, "cl", "cel")
        new_rows = cent_rows.join(upd, ["cid", "i"], "left").select(
            "cid", "i", F.coalesce("ucel", "cel").alias("cel")
        )
        return new_rows.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, cel))),"
                " s -> s.cel)"
            ).alias("cl")
        )

    cent1l = update(cent0l, assign(cent0l)).localCheckpoint(eager=True)
    a2 = assign(cent1l)
    return (
        a2.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d").cast("bigint").alias("inertia_fx"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDedup shape: Abbas et al. 2023, arXiv:2303.09540) —
# embedding-space near-dup pruning with the all-pairs product bounded by
# CLUSTER SIZE: k-means assignment first, exact cosine only within a
# cluster. The one industry-standard dedup family (embedding, cluster-
# pruned) alongside exact / Jaccard / MinHash / SimHash / cosine-LSH.

SEM_THRESHOLD = 0.35  # testdata embeddings are near-random; see ND_THRESHOLD

def _o_semdedup() -> str:
    cos = (
        "cast(d.dp AS double) / (sqrt(cast(na.n2 AS double)) * "
        "sqrt(cast(nb.n2 AS double)))"
    )
    # List-form assignment (r11, the _o_kmeans pattern): the old row-form
    # eli×cent0 join on i pushed N·K·64 rows (6.5e9 at 100x — 200k
    # vectors, K=512 knob-derived seeds) through a GROUP BY and spilled
    # past a 48 GiB temp cap. Each squared-distance term below is
    # bit-identical to the row form ((floor(x·Q)·S − xf_c·S)², summed as
    # BIGINT), and the hugeint-packed MIN is the exact lexicographic
    # (d, cid) argmin the old row_number ORDER BY d, cid selected
    # (d < 2^45 for |x| < 2 at these scales; cid = a seed vec_id < 2^48).
    pack = 1 << 48
    d1e = " + ".join(
        f"(a.q[{i}] * {KM_S} - c.cl[{i}])"
        f" * (a.q[{i}] * {KM_S} - c.cl[{i}])"
        for i in range(1, DIM + 1)
    )
    return f"""
    WITH {_O_ELEMENTS},
    elq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                  x -> cast(floor(cast(x AS double) * {KM_Q}) AS bigint))
               AS q
      FROM embeddings
    ),
    knobs AS (
      SELECT greatest(1, c.n // (1::BIGINT << coalesce(
               (SELECT min(t) FROM range(0, 22) r(t),
                    (SELECT count(DISTINCT vec_id) AS n FROM elq) c2
                WHERE (1::BIGINT << (2 * t)) >= c2.n), 21))) AS stride
      FROM (SELECT count(DISTINCT vec_id) AS n FROM elq) c
    ),
    cent0l AS MATERIALIZED (
      SELECT vec_id AS cid, list_transform(q, v -> v * {KM_S}) AS cl
      FROM elq, knobs WHERE vec_id % knobs.stride = 0
    ),
    assign1 AS MATERIALIZED (
      SELECT a.vec_id,
             cast(min(cast({d1e} AS hugeint) * {pack} + c.cid) % {pack}
                  AS bigint) AS cid
      FROM elq a CROSS JOIN cent0l c
      GROUP BY 1
    ),
    cand AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM assign1 x JOIN assign1 y
        ON x.cid = y.cid AND x.vec_id > y.vec_id
    ),
    dots AS (
      SELECT cd.a, cd.b,
             cast(list_sum(list_transform(range(1, {DIM} + 1),
                  i -> cast(floor(cast(ea.embedding[i] AS double)
                                  * cast(eb.embedding[i] AS double)
                                  * {FIXED_POINT}.0) AS bigint)))
                  AS bigint) AS dp
      FROM cand cd
      JOIN embeddings ea ON ea.vec_id = cd.a
      JOIN embeddings eb ON eb.vec_id = cd.b
    ),
    dup AS (
      SELECT DISTINCT d.a AS vec_id
      FROM dots d
      JOIN norms na ON na.vec_id = d.a
      JOIN norms nb ON nb.vec_id = d.b
      WHERE {cos} >= {SEM_THRESHOLD}
    )
    SELECT s.vec_id, cast(s.cid AS bigint) AS cid,
           (du.vec_id IS NULL) AS keep
    FROM assign1 s LEFT JOIN dup du ON du.vec_id = s.vec_id
    """


def sem_cluster_assign(emb: DataFrame) -> DataFrame:
    """(vec_id, cid): one integer-exact Lloyd assignment round over
    stride seeds, K knob-derived (`km_stride_for`, K ≈ √N). Shared by
    the registered query and the growth/recall tests. A second Lloyd
    round moves co-cluster recall < 1 pt on the testdata embeddings
    (measured r9), so the gate query pins the single-round form."""
    # r12: same list-form assignment as kmeans_lloyd_sizes (vectors stay
    # array<bigint>; N·K rows through the broadcast nested-loop join
    # instead of N·K·dim through a join+aggregate; the 64-term distance
    # is one codegen'd expression). The size guard drops exactly the
    # rows the old posexplode dropped (NULL/empty embeddings).
    elq, cent0l, _ = _list_form_seeds(emb, "sem_cluster_assign")
    return (
        elq.crossJoin(F.broadcast(cent0l))
        .select("vec_id", "cid", _sq_dist().alias("d"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid")).alias("a"))
        .select("vec_id", F.col("a.cid").alias("cid"))
        .localCheckpoint(eager=True)
    )


@register(
    "semantic_dedup_clusters",
    oracle=_o_semdedup(),
    doc="SemDedup: kmeans-pruned embedding near-dup, per-doc keep flags",
)
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup over the embeddings table: integer-exact k-means
    assignment (the `kmeans_lloyd_sizes` machinery, one assign round,
    knob-derived K ≈ √N) partitions the corpus; exact fixed-point cosine
    runs ONLY within a cluster; a vector is dropped when an
    earlier-id cluster-mate sits at cos ≥ τ (greedy first-occurrence
    election — the same keeper discipline as paragraph/exact dedup).
    Returns (vec_id, cid, keep).

    Scale shape: candidate pairs are Σ_c n_c², never corpus² — with
    K ≈ √N balanced clusters that is ~N^1.5, and the growth exponent is
    asserted in tests/test_candidate_growth.py. The cluster assignment
    join broadcasts K·dim centroid rows; the pair verify is the
    Arrow-batched numpy kernel shared with `embedding_neardup_pairs`.
    Production form at 100 TB: more Lloyd rounds (kmeans_refine) and a
    per-cluster repartition so each cluster's verify is partition-local;
    recall vs the LSH all-corpus screen is measured in
    tests/test_kernels.py::test_semantic_dedup_recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    asg = sem_cluster_assign(emb)
    x, y = asg.alias("x"), asg.alias("y")
    cand = x.join(
        y,
        (F.col("x.cid") == F.col("y.cid"))
        & (F.col("x.vec_id") > F.col("y.vec_id")),
    ).select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
    vecs = emb.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        norm2_fx(F.col("embedding")).alias("n2"),
    )
    va = vecs.select(
        F.col("vec_id").alias("a"),
        F.col("emb").alias("a_emb"),
        F.col("n2").alias("a_n2"),
    )
    vb = vecs.select(
        F.col("vec_id").alias("b"),
        F.col("emb").alias("b_emb"),
        F.col("n2").alias("b_n2"),
    )
    dup = (
        cand.join(va, "a")
        .join(vb, "b")
        .mapInPandas(
            pair_cosine_batches(), schema="a long, b long, cos_sim double"
        )
        .filter(F.col("cos_sim") >= SEM_THRESHOLD)
        .select(F.col("a").alias("vec_id"))
        .distinct()
        .withColumn("isdup", F.lit(True))
    )
    return asg.join(dup, "vec_id", "left").select(
        "vec_id",
        F.col("cid").cast("bigint").alias("cid"),
        F.coalesce(~F.col("isdup"), F.lit(True)).alias("keep"),
    )
