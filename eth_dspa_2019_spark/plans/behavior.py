"""Behavioral / product-analytics queries over the event stream: ordered
funnel conversion and cohort retention — the two report shapes every
event-analytics engine ships (and the reference's per-user activity
statistics generalize to; `SN/task/activepost/ActivePostStatistician.java`
counts per-entity events, these order them).

Both are expressed as aggregations + broadcast-scale joins so the event
table is scanned once per stage and never self-joined row-to-row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import auto_band_bits, h64, o_auto_band_bits, o_h64
from ..io.readers import load_table
from .registry import register

FUNNEL_STEPS = ("signup", "view", "click", "purchase")


@register(
    "event_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1
    ),
    s4 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s3 ON e.user_id = s3.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1
    )
    SELECT * FROM (
      SELECT 1 AS step, 'signup' AS step_name,
             (SELECT count(*) FROM s1) AS users
      UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
      UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
      UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)
    )
    """,
    doc="ordered conversion funnel signup→view→click→purchase",
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: how many users progressed through
    signup → view → click → purchase IN ORDER (each step strictly after
    the user's previous step's first completion). The sequential
    constraint is what distinguishes a funnel from four independent
    counts.

    Scale shape: one pass per step — a grouped min over the type-filtered
    events semi-joined against the previous step's (user, t) frontier.
    The frontier is users-sized (≤ distinct users, shrinking per step),
    so Catalyst broadcasts it at fixture scale; at 100 TB each stage is
    an equi-join on user_id that reuses the events table's one hash
    partitioning across all four stages. Never a row×row self-join, and
    the per-step counts are 1-row aggregates unioned at the end."""
    return funnel_counts(load_table(spark, sf_dir, "events"))


def funnel_counts(
    ev: DataFrame, steps: tuple[str, ...] = FUNNEL_STEPS
) -> DataFrame:
    """The funnel over an arbitrary events frame (columns: user_id,
    event_type, ts) — factored out of the registered query so randomized
    property tests can drive it with synthetic logs."""

    def first_after(step: str, prev: DataFrame | None) -> DataFrame:
        e = ev.filter(F.col("event_type") == step)
        if prev is not None:
            e = e.join(
                prev.select(F.col("user_id").alias("pu"), F.col("t").alias("pt")),
                (F.col("user_id") == F.col("pu")) & (F.col("ts") > F.col("pt")),
            )
        return e.groupBy("user_id").agg(F.min("ts").alias("t"))

    frontier = None
    counts = []
    for i, step in enumerate(steps, start=1):
        frontier = first_after(step, frontier)
        counts.append(
            frontier.agg(F.count(F.lit(1)).alias("users")).select(
                F.lit(i).alias("step"),
                F.lit(step).alias("step_name"),
                "users",
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


@register(
    "user_retention_cohorts",
    oracle="""
    WITH first_day AS (
      SELECT user_id, min(cast(ts AS date)) AS cohort_day
      FROM events GROUP BY 1
    ),
    active AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, cast(e.ts AS date)) AS day_offset
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    )
    SELECT cast(strftime(cohort_day, '%Y-%m-%d') AS varchar) AS cohort_day,
           cast(day_offset AS bigint) AS day_offset,
           count(*) AS active_users
    FROM active
    GROUP BY 1, 2
    """,
    doc="daily cohort retention matrix",
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by the day of their first event
    (the cohort), counted on each later day they were active — the
    (cohort_day, day_offset) retention matrix behind every retention
    curve.

    Scale shape: first-touch is one grouped min on user_id; the cohort
    day joins back on the same user_id key (partitioning reused), the
    per-(user, day) distinct collapses map-side, and the final matrix is
    cohorts×horizon rows — tiny. Cohort day is emitted as a date STRING
    so both engines hash identical values (DATE epoch-days vs date32
    canonicalize differently)."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = (
        ev.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return active.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("bigint").alias("day_offset"),
    ).agg(F.count(F.lit(1)).alias("active_users"))


# ---------------------------------------------------------------------------
# Time-series similarity: correlated user activity series

MIN_OVERLAP_HOURS = 6  # minimum shared active hours for a meaningful corr
CORR_TOPK = 20
# series-sketch knobs for the pruned variant: P random-sign planes over
# the centered hourly series, banded B×(P/B) — bucket count per band is
# 2^(P/B); at corpus scale P/B grows with log2(users) exactly like the
# SimHash band_bits knob (SCALE.md dedup sizing table)
CORR_PLANES = 24
CORR_BANDS = 6
# the auto-banded registered form doubles the band count: bands are the
# RECALL knob (collision prob 1-(1-p^rpb)^bands, cost linear in bands·N)
# and the auto form's wider buckets (rpb ~ log2 users vs the fixture's
# pinned 4) trade weak-pair recall for linear collision mass — measured
# top-20 recall at sf0.1 (rpb=8): 4/20 with 6 bands, 6/20 with 12, vs
# ~1/20 random; collision probability concentrates at high |corr|, so
# the auto form certifies near-duplicate series and degrades gracefully
# on moderate pairs (the fixture form with rpb=4 measures 16/20 at 4x
# the collision mass per user pair)
CORR_AUTO_BANDS = 12


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, hour, v): exact fixed-point hourly activity series,
    materialized once per call (users×hours rows — tiny next to any pair
    fan-out; not a session-cache entry, io/cache.py — its checkpoint is
    released by clear_plan_caches' persistent-RDD sweep), with the loud
    int64 overflow guard (ADVICE r5): the co-moment sums downstream wrap
    silently with ANSI off while the DuckDB oracle promotes to hugeint —
    past fixture scale
    the engines would diverge without erroring. A pair co-moment is
    bounded by max|v|² × shared hours ≤ max|v|² × distinct hours, checked
    exactly in Python bigints against the int64 ceiling (one scalar agg
    over the checkpointed series — metadata cost). At real scale, shrink
    the fx scale or split the sum (the HLL two-stage discipline) until
    this passes."""
    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(
        "user_id",
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("hour"),
    ).agg(
        (F.sum(F.col("value").cast("decimal(38,6)")) * 100)
        .cast("bigint")
        .alias("v")
    ).localCheckpoint(eager=True)
    g = series.agg(
        F.max(F.abs(F.col("v"))).alias("m"),
        F.countDistinct("hour").alias("h"),
    ).collect()[0]
    if g["m"] is not None and int(g["m"]) ** 2 * int(g["h"]) >= 2**63:
        raise ArithmeticError(
            "user activity correlation: co-moment bound "
            f"max|v|^2*hours = {int(g['m'])**2 * int(g['h'])} exceeds int64; "
            "reduce the fixed-point scale before aggregating"
        )
    return series


def _corr_topk_from_pairs(pairs: DataFrame) -> DataFrame:
    """Shared scoring tail: exact Pearson (fixed-point output) from the
    per-pair integer co-moment sums, overlap/variance filters, top-k."""
    nd = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var_prod = (nd * d("sxx") - d("sx") * d("sx")) * (
        nd * d("syy") - d("sy") * d("sy")
    )
    corr_fx = F.floor(
        1000000.0 * (nd * d("sxy") - d("sx") * d("sy")) / F.sqrt(var_prod)
    ).cast("bigint")
    return (
        pairs.filter((F.col("n") >= MIN_OVERLAP_HOURS) & (var_prod > 0))
        .select(
            "u1",
            "u2",
            F.col("n").cast("bigint").alias("n_hours"),
            corr_fx.alias("corr_fx"),
        )
        .orderBy(F.col("corr_fx").desc(), "u1", "u2")
        .limit(CORR_TOPK)
    )


@register(
    "user_activity_correlation",
    oracle=f"""
    WITH series AS (
      SELECT user_id,
             cast(floor(epoch(ts)/3600) AS bigint) AS hour,
             cast(sum(cast(value AS decimal(38,6))) * 100 AS bigint) AS v
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.user_id AS u1, b.user_id AS u2,
             count(*) AS n,
             sum(a.v * b.v) AS sxy,
             sum(a.v) AS sx,
             sum(b.v) AS sy,
             sum(a.v * a.v) AS sxx,
             sum(b.v * b.v) AS syy
      FROM series a JOIN series b
        ON a.hour = b.hour AND a.user_id < b.user_id
      GROUP BY 1, 2
    )
    SELECT u1, u2, cast(n AS bigint) AS n_hours,
           cast(floor(1000000.0
                * (cast(n AS double) * cast(sxy AS double)
                   - cast(sx AS double) * cast(sy AS double))
                / sqrt((cast(n AS double) * cast(sxx AS double)
                        - cast(sx AS double) * cast(sx AS double))
                       * (cast(n AS double) * cast(syy AS double)
                          - cast(sy AS double) * cast(sy AS double))))
             AS bigint) AS corr_fx
    FROM pairs
    WHERE n >= {MIN_OVERLAP_HOURS}
      AND (cast(n AS double) * cast(sxx AS double)
           - cast(sx AS double) * cast(sx AS double))
          * (cast(n AS double) * cast(syy AS double)
             - cast(sy AS double) * cast(sy AS double)) > 0
    ORDER BY corr_fx DESC, u1, u2
    LIMIT {CORR_TOPK}
    """,
    doc="top correlated per-user hourly activity series",
)
def user_activity_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over the event stream: Pearson
    correlation between users' hourly activity-value series, top
    {CORR_TOPK} pairs with at least {MIN_OVERLAP_HOURS} shared active
    hours (sized to the fixture's activity density; a production cut is
    a day-plus of overlap) — the batch form of streaming time-series
    similarity (EDBT'19's distributed similarity-search setting, on the
    engine's own data).

    Cross-engine determinism AND speed come from the same move: the
    hourly series is exact integer fixed-point (values carry ≤2 decimals,
    so v×100 is an exact bigint), making every pairwise co-moment a plain
    int64 sum — whole-stage-codegen long arithmetic instead of
    BigDecimal aggregation buffers (the decimal(38,12) form of this
    query was ~6× slower), order-independent by integer associativity.
    Pearson correlation is scale-invariant, so the ×100 cancels; the
    correlation itself is one textual double expression evaluated
    identically in both engines over the exact integer sums, emitted
    fixed-point (floor ×10⁶). Bounds: |v_fx| ≤ 10⁵-ish keeps every
    co-moment below 2⁵³ at fixture scale; at larger per-key mass, shrink
    the fx scale or split the sum (the HLL two-stage discipline) before
    int64/double headroom runs out. Zero-variance pairs are excluded
    (corr undefined).

    Scale shape: the self-join keys on the HOUR — pairs are generated
    per-shared-hour and immediately partial-aggregated, never a user×user
    product (plan-asserted). Per-hour fan-out is |active users that
    hour|², the classic co-occurrence bound (same as task2's dynamic
    similarity); at corpus scale, prune first with a series sketch
    (SimHash/random projection — `operators/similarity.py`) and run this
    exact correlation only on candidate pairs, exactly like the
    LSH→verify dedup path."""
    series = _hourly_series(spark, sf_dir)
    a = series.select(
        F.col("user_id").alias("u1"), "hour", F.col("v").alias("va")
    )
    b = series.select(
        F.col("user_id").alias("u2"),
        F.col("hour").alias("hb"),
        F.col("v").alias("vb"),
    )
    pairs = (
        a.join(b, (F.col("hour") == F.col("hb")) & (F.col("u1") < F.col("u2")))
        .groupBy("u1", "u2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("va") * F.col("vb")).alias("sxy"),
            F.sum("va").alias("sx"),
            F.sum("vb").alias("sy"),
            F.sum(F.col("va") * F.col("va")).alias("sxx"),
            F.sum(F.col("vb") * F.col("vb")).alias("syy"),
        )
    )
    return _corr_topk_from_pairs(pairs)


def _o_corr_sig() -> str:
    """DuckDB mirror of the per-user centered-series sign sketch: one
    conditional sum per plane over the mean-centered (scale-free) series
    w = v·n_u − s_u, plane signs bit-extracted from the shared per-hour
    md5 words (hw0, hw1 in the cent CTE) exactly like the Spark side."""
    cols = []
    for p in range(CORR_PLANES):
        cols.append(
            f"CASE WHEN sum(w * (((hw{p // 60} >> {p % 60}) & 1)*2 - 1)) > 0 "
            f"THEN 1 ELSE 0 END AS b{p}"
        )
    return ",\n             ".join(cols)


def _o_corr_cent(n_words: int) -> str:
    """The shared mean-centered-series CTE with the per-hour sign-hash
    words attached (one md5 per word per hour — the bit-extraction
    discipline that keeps the sketch's per-row hash cost constant)."""
    hws = ", ".join(
        o_h64(f"'corrsketch{w}#' || cast(s.hour AS varchar)") + f" AS hw{w}"
        for w in range(n_words)
    )
    return f"""
    cent AS (
      SELECT s.user_id, s.hour, s.v * t.cu - t.su AS w, {hws}
      FROM series s JOIN stats t ON s.user_id = t.user_id
    )"""


def _o_corr_bands() -> str:
    rpb = CORR_PLANES // CORR_BANDS
    selects = []
    for b in range(CORR_BANDS):
        key = " + ".join(f"{1 << r} * b{b * rpb + r}" for r in range(rpb))
        selects.append(
            f"SELECT user_id, {b} AS band_id, {key} AS band_key FROM sig"
        )
    return "\n      UNION ALL\n      ".join(selects)


_CORR_PRUNED_ORACLE_FIXED = f"""
    WITH series AS (
      SELECT user_id,
             cast(floor(epoch(ts)/3600) AS bigint) AS hour,
             cast(sum(cast(value AS decimal(38,6))) * 100 AS bigint) AS v
      FROM events GROUP BY 1, 2
    ),
    grid AS (SELECT count(DISTINCT hour) AS h FROM series),
    stats AS (
      SELECT user_id, sum(v) AS su, count(*) AS cu,
             sum(v * v) AS sqv
      FROM series GROUP BY 1
    ),
    {_o_corr_cent((CORR_PLANES + 59) // 60)},
    sig AS (
      SELECT user_id,
             {_o_corr_sig()}
      FROM cent GROUP BY 1
    ),
    bands AS (
      {_o_corr_bands()}
    ),
    cand AS (
      SELECT DISTINCT x.user_id AS u1, y.user_id AS u2
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_key = y.band_key
       AND x.user_id < y.user_id
    ),
    pairs AS (
      SELECT c.u1, c.u2,
             count(*) AS n_shared,
             sum(a.v * b.v) AS sxy
      FROM cand c
      JOIN series a ON a.user_id = c.u1
      JOIN series b ON b.user_id = c.u2 AND b.hour = a.hour
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.u1, p.u2, p.n_shared,
             (cast(g.h AS double) * cast(p.sxy AS double)
              - cast(t1.su AS double) * cast(t2.su AS double)) AS num,
             (cast(g.h AS double) * cast(t1.sqv AS double)
              - cast(t1.su AS double) * cast(t1.su AS double))
             * (cast(g.h AS double) * cast(t2.sqv AS double)
                - cast(t2.su AS double) * cast(t2.su AS double)) AS varp
      FROM pairs p
      JOIN stats t1 ON t1.user_id = p.u1
      JOIN stats t2 ON t2.user_id = p.u2
      CROSS JOIN grid g
    )
    SELECT u1, u2, cast(n_shared AS bigint) AS n_hours,
           cast(floor(1000000.0 * num / sqrt(varp)) AS bigint) AS corr_fx
    FROM scored
    WHERE varp > 0
    ORDER BY corr_fx DESC, u1, u2
    LIMIT {CORR_TOPK}
    """


def user_correlation_sketch_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-band regression FIXTURE, no longer registered (VERDICT r6
    #1): the pinned (planes, bands) form of the pruned correlation whose
    static oracle (`_CORR_PRUNED_ORACLE_FIXED`, kept for regression
    tests) let the gate check the sketch mechanics — but whose fixed
    bits-per-band hit a measured 19.7x collision-mass cliff at 10x users
    (SCALE.md "Measured scaling"). The registered query is now
    `grid_correlation_pruned_auto`, whose band width follows the data
    and whose oracle derives the same knob in SQL.

    The scale-path correlation search `user_activity_correlation`'s
    docstring prescribes (VERDICT r5 #7): a random-hyperplane series
    sketch screens user pairs BEFORE any hour-keyed join, and the exact
    correlation is computed only for sketch candidates — the same
    prune-then-verify discipline as the LSH→Jaccard dedup path.

    Semantics: Pearson over the COMMON HOURLY GRID (inactive hour = 0,
    the observed grid of H distinct active hours) — global co-movement of
    the two series. This is the series similarity a projection sketch can
    actually see; the sibling exact query's shared-support-only Pearson
    is invisible to ANY global sketch when the overlap is a small
    fraction of each series (measured: top-20 recall 5/20 for
    shared-support vs 17/20 for grid semantics on the same fixture).
    Grid semantics also makes the exact pass cheap: only the cross-moment
    Σxy needs the pair join — means and variances are per-user stats,
    and the grid size H is one global scalar.

    Sketch: {CORR_PLANES} signed projections of the MEAN-CENTERED series
    (w = v·n_u − s_u: integer-exact, scale-invariant — centering removes
    the all-positive mean direction that would otherwise dominate every
    projection; sign patterns md5-derived per (plane, hour) so both
    engines build bit-identical signatures), banded
    {CORR_BANDS}×{CORR_PLANES // CORR_BANDS}; a pair is a candidate iff
    some band matches exactly (hyperplane-LSH collision curve:
    P[agree] = 1 − θ/π per plane).

    Scale shape: the ONLY join touching the full series relation is the
    band equi-self-join over 2^{CORR_PLANES // CORR_BANDS} buckets/band;
    bits-per-band is the knob that grows with log₂(users) exactly like
    SimHash band_bits (SCALE.md sizing table). The Σxy hour join is
    driven by the candidate list (u2-equi, never u1<u2 over raw hours).
    Plan-asserted: every pair-inequality join carries a band key
    (`tests/test_plans.py::test_pruned_correlation_has_no_unsketched_pair_join`).
    """
    return _grid_corr_pruned(spark, sf_dir, CORR_PLANES, CORR_BANDS)


def corr_rpb_for_users(users: int) -> int:
    """The band-width knob rule, shared verbatim (in semantics) with the
    DuckDB oracle: bits-per-band R = the smallest R in [4, 15] with
    8·2^R ≥ users, i.e. clamp(4..15, ⌈log₂(users/8)⌉) — the shared
    integer-exact sizing rule (`functions/hashing.py::auto_band_bits`).

    hi=15 (not the shared default 12) because this sketch's sign bits
    come from 3 md5 words × 60 usable bits = 180 planes, and 12 bands ×
    15 bits = 180 exactly — the full bit budget. The r9 100× probe
    caught the hi=12 clamp saturating at 150k users (expected bucket
    load 8 → 37, collision mass ~21×, wall 402 s); R=15 restores
    load≈8 through ~260k users. Beyond that the next word (hw3) is the
    scale-out, not a bigger load."""
    return auto_band_bits(users, hi=15)


# knob preamble shared by the oracle: the SQL twin of
# `corr_rpb_for_users` (integer comparisons only)
_O_CORR_KNOB = f"""
    knobs AS (
      SELECT {o_auto_band_bits("SELECT count(DISTINCT user_id) FROM events",
                               hi=15)}
               AS rpb
    )"""


def _o_corr_auto_sketch() -> str:
    """Dynamic-knob DuckDB sign sketch whose plane count 12·rpb follows
    the knob CTE (VERDICT r6 #6): a static per-plane column list can't
    depend on data, but a plane INDEX relation filtered by the knob
    can. Plane signs bit-extract from the per-hour md5 words in cent
    (word p div 60, bit p mod 60) exactly like the Spark side. Bands
    fall out as p div rpb with bit weight 2^(p mod rpb), matching the
    Spark side's [b·rpb, (b+1)·rpb) column layout exactly.

    The projection is LIST-FORM (r11): the old cent×planes row join
    pushed series_rows·planes rows (~3e9 at 100x) through a GROUP BY
    and blew the DuckDB temp cap; aggregating each user's centered
    series + hash words into lists first keeps the cross join at
    users·planes rows with the identical integer sum per (user, plane)
    (order-free adds, same bit extraction)."""
    sign = (
        "(((CASE WHEN pl.p < 60 THEN c.hw0"
        " WHEN pl.p < 120 THEN c.hw1 ELSE c.hw2 END"
        " >> (pl.p % 60)) & 1) * 2 - 1)"
    )
    return f"""
    planes AS (
      SELECT t.p FROM range(0, {CORR_AUTO_BANDS * 15}) t(p), knobs k
      WHERE t.p < {CORR_AUTO_BANDS} * k.rpb
    ),
    centl AS MATERIALIZED (
      SELECT user_id, count(*) AS nh,
             list(w ORDER BY hour) AS wl,
             list(hw0 ORDER BY hour) AS h0,
             list(hw1 ORDER BY hour) AS h1,
             list(hw2 ORDER BY hour) AS h2
      FROM cent GROUP BY user_id
    ),
    sig AS (
      SELECT c.user_id, pl.p,
             CASE WHEN list_sum(list_transform(range(1, c.nh + 1),
                  j -> c.wl[j]
                       * (((CASE WHEN pl.p < 60 THEN c.h0[j]
                                 WHEN pl.p < 120 THEN c.h1[j]
                                 ELSE c.h2[j] END
                            >> (pl.p % 60)) & 1) * 2 - 1))) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM centl c CROSS JOIN planes pl
    ),
    bands AS (
      SELECT user_id, cast(p // k.rpb AS int) AS band_id,
             cast(sum(bit * (1::BIGINT << (p % k.rpb))) AS bigint)
               AS band_key
      FROM sig, knobs k
      GROUP BY 1, 2
    )"""


@register(
    "grid_correlation_pruned_auto",
    oracle=f"""
    WITH series AS (
      SELECT user_id,
             cast(floor(epoch(ts)/3600) AS bigint) AS hour,
             cast(sum(cast(value AS decimal(38,6))) * 100 AS bigint) AS v
      FROM events GROUP BY 1, 2
    ),
    grid AS (SELECT count(DISTINCT hour) AS h FROM series),
    {_O_CORR_KNOB},
    stats AS (
      SELECT user_id, sum(v) AS su, count(*) AS cu,
             sum(v * v) AS sqv
      FROM series GROUP BY 1
    ),
    {_o_corr_cent(3)},
    {_o_corr_auto_sketch()},
    cand AS (
      SELECT DISTINCT x.user_id AS u1, y.user_id AS u2
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_key = y.band_key
       AND x.user_id < y.user_id
    ),
    pairs AS (
      SELECT c.u1, c.u2,
             count(*) AS n_shared,
             sum(a.v * b.v) AS sxy
      FROM cand c
      JOIN series a ON a.user_id = c.u1
      JOIN series b ON b.user_id = c.u2 AND b.hour = a.hour
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.u1, p.u2, p.n_shared,
             (cast(g.h AS double) * cast(p.sxy AS double)
              - cast(t1.su AS double) * cast(t2.su AS double)) AS num,
             (cast(g.h AS double) * cast(t1.sqv AS double)
              - cast(t1.su AS double) * cast(t1.su AS double))
             * (cast(g.h AS double) * cast(t2.sqv AS double)
                - cast(t2.su AS double) * cast(t2.su AS double)) AS varp
      FROM pairs p
      JOIN stats t1 ON t1.user_id = p.u1
      JOIN stats t2 ON t2.user_id = p.u2
      CROSS JOIN grid g
    )
    SELECT u1, u2, cast(n_shared AS bigint) AS n_hours,
           cast(floor(1000000.0 * num / sqrt(varp)) AS bigint) AS corr_fx
    FROM scored
    WHERE varp > 0
    ORDER BY corr_fx DESC, u1, u2
    LIMIT {CORR_TOPK}
    """,
    doc="auto-banded sketch-pruned top correlated series (knob from data)",
)
def grid_correlation_pruned_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-pruned grid correlation with the band width sized FROM
    THE DATA — the form a deployment actually runs, now the registered
    one (VERDICT r6 #1). Bits-per-band R = clamp(4..15, ⌈log₂(users/8)⌉)
    so bucket count tracks the user population (collision mass ≈
    bands·N²/2^R stays ~N·load); bands stay the recall knob (cost linear
    in bands·N). The 10× scale run that motivated this (SCALE.md
    "Measured scaling") clocked the fixed-R form at 166 s on 15 000
    users — a quadratic cliff — vs ~linear for this auto-sized form
    (exponent ≈0.7, pinned by
    `tests/test_candidate_growth.py::test_auto_corr_sketch_candidates_subquadratic`);
    longer bands certify the near-duplicate-series regime (collision
    probability concentrates at high |corr|), with graceful recall decay
    for weaker pairs.

    The knob is DERIVED IDENTICALLY in the DuckDB oracle (`_O_CORR_KNOB`
    — the same smallest-R-with-8·2^R≥users rule in pure-integer SQL),
    and the oracle's sign sketch is row-form (user×plane rows filtered
    by the knob) rather than a static column list, so the gate checks
    the query in its DEPLOYED auto-tuned form. Sketch semantics,
    centering, and the exact-verify tail are identical to the fixture
    `user_correlation_sketch_pruned` — see its docstring for why grid
    (not shared-support) Pearson is the sketchable semantics."""
    from ..io.stats import table_stats

    users = table_stats(spark, sf_dir, "events")["n_users"]
    rpb = corr_rpb_for_users(users)
    return _grid_corr_pruned(spark, sf_dir, CORR_AUTO_BANDS * rpb, CORR_AUTO_BANDS)


def _grid_corr_pruned(
    spark: SparkSession, sf_dir: str, planes: int, bands: int
) -> DataFrame:
    series = _hourly_series(spark, sf_dir)
    stats = series.groupBy("user_id").agg(
        F.sum("v").alias("su"),
        F.count(F.lit(1)).alias("cu"),
        F.sum(F.col("v") * F.col("v")).alias("sqv"),
    ).localCheckpoint(eager=True)
    # distinct active hours of the series == distinct event-ts hour buckets
    # (series is grouped BY hour) — a cached catalog stat, not a job
    from ..io.stats import table_stats

    grid_h = table_stats(spark, sf_dir, "events")["n_hours"]
    # plane signs by BIT EXTRACTION from ⌈planes/60⌉ md5 words per hour
    # (h64 = 60 usable bits) instead of one md5 per (plane, hour) — the
    # md5→hex→conv chain is the sketch's dominant per-row cost (same
    # one-hash-many-bits discipline as the SimHash votes); sign of plane
    # p = bit (p mod 60) of word p div 60
    n_words = (planes + 59) // 60
    # r11: the three wide builders below (hash words, per-plane sign
    # aggregates, bit columns, band structs) are SQL strings — one py4j
    # round-trip per expression instead of ~10 Column-API calls each.
    # Profiled at sf0.1 the Column form spent 14.3 s of the query's
    # plan-build in 18 640 py4j round-trips (the SCALE.md "plan-
    # construction cost" rule, applied to this builder). Same physical
    # plan, same expressions.
    cent = series.join(stats, "user_id").selectExpr(
        "user_id",
        "hour",
        "(v * cu - su) AS w",
        *[
            f"cast(conv(substring(md5(concat('corrsketch{wd}#', "
            f"cast(hour as string))), 1, 15), 16, 10) as bigint) AS hw{wd}"
            for wd in range(n_words)
        ],
    )
    sign_aggs = [
        F.expr(
            f"sum(w * ((shiftright(hw{p // 60}, {p % 60}) & 1) * 2 - 1))"
        ).alias(f"s{p}")
        for p in range(planes)
    ]
    sig = cent.groupBy("user_id").agg(*sign_aggs).selectExpr(
        "user_id",
        *[
            f"(CASE WHEN s{p} > 0 THEN 1 ELSE 0 END) AS b{p}"
            for p in range(planes)
        ],
    )
    rpb = planes // bands
    band_structs = ", ".join(
        "named_struct('band_id', {b}, 'band_key', {key})".format(
            b=b,
            key=" + ".join(
                f"b{b * rpb + r} * {1 << r}" if r else f"b{b * rpb}"
                for r in range(rpb)
            ),
        )
        for b in range(bands)
    )
    bands_df = sig.selectExpr(
        "user_id", f"explode(array({band_structs})) AS band"
    ).select("user_id", "band.band_id", "band.band_key")
    x, y = bands_df.alias("x"), bands_df.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.user_id") < F.col("y.user_id")),
        )
        .select(
            F.col("x.user_id").alias("u1"), F.col("y.user_id").alias("u2")
        )
        .distinct()
    )
    a = series.select(
        F.col("user_id").alias("ua"), "hour", F.col("v").alias("va")
    )
    b = series.select(
        F.col("user_id").alias("ub"),
        F.col("hour").alias("hb"),
        F.col("v").alias("vb"),
    )
    pairs = (
        cand.join(a, F.col("u1") == F.col("ua"))
        .join(b, (F.col("u2") == F.col("ub")) & (F.col("hour") == F.col("hb")))
        .groupBy("u1", "u2")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.col("va") * F.col("vb")).alias("sxy"),
        )
    )
    t1 = stats.select(
        F.col("user_id").alias("u1"),
        F.col("su").alias("su1"),
        F.col("sqv").alias("sqv1"),
    )
    t2 = stats.select(
        F.col("user_id").alias("u2"),
        F.col("su").alias("su2"),
        F.col("sqv").alias("sqv2"),
    )
    hd = F.lit(float(grid_h))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = hd * d("sxy") - d("su1") * d("su2")
    varp = (hd * d("sqv1") - d("su1") * d("su1")) * (
        hd * d("sqv2") - d("su2") * d("su2")
    )
    return (
        pairs.join(t1, "u1")
        .join(t2, "u2")
        .filter(varp > 0)
        .select(
            "u1",
            "u2",
            F.col("n_shared").cast("bigint").alias("n_hours"),
            F.floor(1000000.0 * num / F.sqrt(varp)).cast("bigint").alias(
                "corr_fx"
            ),
        )
        .orderBy(F.col("corr_fx").desc(), "u1", "u2")
        .limit(CORR_TOPK)
    )


# ---------------------------------------------------------------------------
# Bounded-horizon conversion

CONV_WINDOW_H = 24  # purchase must follow signup within this many hours


@register(
    "conversion_within_24h",
    oracle=f"""
    WITH s AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ),
    conv AS (
      SELECT DISTINCT s.user_id
      FROM s JOIN events e
        ON e.user_id = s.user_id
       AND e.event_type = 'purchase'
       AND e.ts > s.t
       AND e.ts <= s.t + INTERVAL {CONV_WINDOW_H} HOUR
    )
    SELECT cast(strftime(cast(s.t AS date), '%Y-%m-%d') AS varchar)
             AS signup_day,
           count(*) AS signups,
           count(c.user_id) AS conversions,
           cast(floor(1000000.0 * count(c.user_id) / count(*)) AS bigint)
             AS conv_rate_fx
    FROM s LEFT JOIN conv c ON s.user_id = c.user_id
    GROUP BY 1
    """,
    doc="signup→purchase conversion within a 24h horizon, by signup day",
)
def conversion_within_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon conversion: of the users who signed up each day,
    how many purchased within {CONV_WINDOW_H} hours of their first signup
    — the time-boxed form of the funnel (an unbounded funnel counts
    eventual converts; product decisions need the horizon).

    Scale shape: first-signup is one grouped min; the horizon check is a
    user-keyed equi-join with a time-RANGE predicate (the interval-join
    family, `operators/intervals.py`) against purchase-filtered events —
    pushdown prunes the fact scan to one event type, and the join reuses
    the user_id partitioning. Output is days × 1 rows. The rate is an
    exact integer-ratio floor (×10⁶), bit-identical across engines."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    conv = (
        s.join(
            purchases,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") > F.col("t"))
            & (
                F.col("pts")
                <= F.col("t") + F.expr(f"INTERVAL {CONV_WINDOW_H} HOURS")
            ),
        )
        .select(F.col("user_id").alias("cu"))
        .distinct()
    )
    return (
        s.join(conv, F.col("user_id") == F.col("cu"), "left")
        .groupBy(
            F.date_format(F.to_date("t"), "yyyy-MM-dd").alias("signup_day")
        )
        .agg(
            F.count(F.lit(1)).alias("signups"),
            F.count("cu").alias("conversions"),
            F.floor(
                1000000.0 * F.count("cu") / F.count(F.lit(1))
            ).cast("bigint").alias("conv_rate_fx"),
        )
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostics

SKEW_TOPK = 10


@register(
    "user_key_skew_profile",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
    ),
    tot AS (SELECT count(*) AS total, count(DISTINCT user_id) AS n_keys
            FROM events)
    SELECT user_id, cnt,
           cast(floor(1000000.0 * cnt / total) AS bigint) AS share_fx,
           n_keys, total
    FROM counts CROSS JOIN tot
    ORDER BY cnt DESC, user_id
    LIMIT {SKEW_TOPK}
    """,
    doc="heaviest keys + their traffic share (salting diagnostic)",
)
def user_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the {SKEW_TOPK} heaviest user keys with their
    share of total traffic — the measurement that decides whether a keyed
    shuffle needs salting (`operators/skew.py`) or AQE skew-join
    handling. A top key holding ≫ 1/partitions of the traffic is the
    straggler signature.

    Scale shape: one grouped count (map-side combined), a 1-row global
    broadcast, TakeOrdered top-k — the profile costs one linear pass no
    matter the key cardinality. Shares are integer-ratio floors,
    engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    tot = ev.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("user_id").alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            F.floor(1000000.0 * F.col("cnt") / F.col("total"))
            .cast("bigint")
            .alias("share_fx"),
            "n_keys",
            "total",
        )
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(SKEW_TOPK)
    )


# ---------------------------------------------------------------------------
# Autocorrelation of the global hourly activity series

ACF_MAX_LAG = 24  # one day of hourly lags


@register(
    "hourly_value_acf",
    oracle=f"""
    WITH series AS (
      SELECT cast(floor(epoch(ts)/3600) AS bigint) AS hour,
             cast(sum(cast(value AS decimal(38,6))) * 100 AS bigint) AS v
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
      SELECT l.lag,
             count(*) AS n,
             sum(a.v * b.v) AS sxy,
             sum(a.v) AS sx,
             sum(b.v) AS sy,
             sum(a.v * a.v) AS sxx,
             sum(b.v * b.v) AS syy
      FROM series a
      CROSS JOIN lags l
      JOIN series b ON b.hour = a.hour + l.lag
      GROUP BY 1
    )
    SELECT cast(lag AS bigint) AS lag,
           cast(n AS bigint) AS n_pairs,
           cast(floor(1000000.0
                * (cast(n AS double) * cast(sxy AS double)
                   - cast(sx AS double) * cast(sy AS double))
                / sqrt((cast(n AS double) * cast(sxx AS double)
                        - cast(sx AS double) * cast(sx AS double))
                       * (cast(n AS double) * cast(syy AS double)
                          - cast(sy AS double) * cast(sy AS double))))
             AS bigint) AS corr_fx
    FROM pairs
    WHERE (cast(n AS double) * cast(sxx AS double)
           - cast(sx AS double) * cast(sx AS double))
          * (cast(n AS double) * cast(syy AS double)
             - cast(sy AS double) * cast(sy AS double)) > 0
    ORDER BY lag
    """,
    doc="lag-1..24 autocorrelation of the global hourly value series",
)
def hourly_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the corpus-wide hourly activity-value
    series at lags 1..{ACF_MAX_LAG} — the seasonality probe (a daily cycle
    shows as a lag-24 peak) completing the time-series family next to
    `user_activity_correlation` (cross-series) and `user_event_gaps`
    (point process). Same exact-integer discipline as the correlation
    family: the series is fixed-point cents, all co-moments are int64
    sums, one textual double expression emits the fixed-point Pearson.
    Pairs are hour-(t, t+lag) matches over ACTIVE hours only
    (pairwise-complete ACF; a gap hour contributes no pair rather than a
    zero — document the convention, don't hide it).

    Scale shape: the series aggregate is one map-side-combined groupBy
    (hours, not events, cross the shuffle); the lag fan-out replicates
    the TINY series {ACF_MAX_LAG}x and equi-joins it to itself on the
    shifted hour key — O(hours·lags) work total, independent of event
    count. The overflow guard from `_hourly_series` applies: max|v|²
    × hours is checked in exact Python ints against the int64 ceiling."""
    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("hour")
    ).agg(
        (F.sum(F.col("value").cast("decimal(38,6)")) * 100)
        .cast("bigint")
        .alias("v")
    ).localCheckpoint(eager=True)
    g = series.agg(
        F.max(F.abs(F.col("v"))).alias("m"), F.count(F.lit(1)).alias("h")
    ).collect()[0]
    if g["m"] is not None and int(g["m"]) ** 2 * int(g["h"]) >= 2**63:
        raise ArithmeticError(
            "hourly ACF: co-moment bound max|v|^2*hours = "
            f"{int(g['m']) ** 2 * int(g['h'])} exceeds int64; reduce the "
            "fixed-point scale before aggregating"
        )
    a = series.select(
        F.explode(
            F.array(*[F.lit(i) for i in range(1, ACF_MAX_LAG + 1)])
        ).alias("lag"),
        "hour",
        F.col("v").alias("va"),
    ).withColumn("hb_key", F.col("hour") + F.col("lag"))
    b = series.select(F.col("hour").alias("hb"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, F.col("hb_key") == F.col("hb"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("va") * F.col("vb")).alias("sxy"),
            F.sum("va").alias("sx"),
            F.sum("vb").alias("sy"),
            F.sum(F.col("va") * F.col("va")).alias("sxx"),
            F.sum(F.col("vb") * F.col("vb")).alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var_prod = (nd * d("sxx") - d("sx") * d("sx")) * (
        nd * d("syy") - d("sy") * d("sy")
    )
    corr_fx = F.floor(
        1000000.0 * (nd * d("sxy") - d("sx") * d("sy")) / F.sqrt(var_prod)
    ).cast("bigint")
    return (
        pairs.filter(var_prod > 0)
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            F.col("n").cast("bigint").alias("n_pairs"),
            corr_fx.alias("corr_fx"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Per-user robust outliers (median/MAD) — exact integer order statistics

MAD_K2 = 7  # flag |v - med| > 3.5 x MAD, in the doubled-integer domain


@register(
    "user_value_outliers_mad",
    oracle=f"""
    WITH vals AS (
      SELECT user_id,
             cast(cast(value AS decimal(38,6)) * 100 AS bigint) AS v
      FROM events
    ),
    s AS (
      SELECT user_id, v,
             row_number() OVER (PARTITION BY user_id ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM vals
    ),
    med AS (
      SELECT user_id, max(n) AS n,
             sum(CASE WHEN rn = (n + 1) // 2 THEN v ELSE 0 END)
             + sum(CASE WHEN rn = n // 2 + 1 THEN v ELSE 0 END) AS med2
      FROM s GROUP BY user_id
    ),
    dev AS (
      SELECT s.user_id, abs(2 * s.v - m.med2) AS d,
             row_number() OVER (PARTITION BY s.user_id
                                ORDER BY abs(2 * s.v - m.med2)) AS rn,
             m.n, m.med2
      FROM s JOIN med m ON m.user_id = s.user_id
    )
    SELECT user_id,
           cast(max(n) AS bigint) AS n,
           cast(max(med2) AS bigint) AS med2_fx,
           cast(sum(CASE WHEN rn = (n + 1) // 2 THEN d ELSE 0 END)
                + sum(CASE WHEN rn = n // 2 + 1 THEN d ELSE 0 END)
                AS bigint) AS mad2_fx,
           cast(sum(CASE WHEN 2 * d > {MAD_K2} *
                         (SELECT sum(CASE WHEN rn2 = (n2 + 1) // 2 THEN d2
                                          ELSE 0 END)
                               + sum(CASE WHEN rn2 = n2 // 2 + 1 THEN d2
                                          ELSE 0 END)
                          FROM (SELECT d AS d2, rn AS rn2, n AS n2
                                FROM dev i WHERE i.user_id = dev.user_id))
                    THEN 1 ELSE 0 END) AS bigint) AS n_outliers
    FROM dev GROUP BY user_id
    """,
    doc="per-user robust (median/MAD) outlier counts, exact integer math",
)
def user_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier detection — exact median + MAD (median
    absolute deviation), flagging events beyond 3.5 MADs: the
    Iglewicz-Hoaglin robust z-score, the right screen when a user's value
    distribution has the very outliers a mean/stddev screen would absorb.
    All math stays integer: values are exact cents, medians are carried
    DOUBLED (sum of the two middle order statistics — lower==upper for
    odd counts), so both engines agree bit-for-bit with no float quantile
    interpolation anywhere. When MAD==0 (over half the values identical)
    the 2d > {MAD_K2}·0 rule degenerates to d > 0 — any deviation from
    the median flags, in both engines, by the same inequality.

    Exact medians need each user's full value set in one place; a group
    is one user's events — bounded by per-key activity, never
    corpus-scale — so Spark shuffles each group to one worker ONCE (the
    same hash exchange a groupBy pays) and the whole fold runs as JVM
    higher-order functions over the collected array: sort once for the
    median, transform+sort once for the deviations, filter for the
    outlier count. r11: this replaced a ``groupBy().applyInPandas``
    kernel — identical math, but 1 500 per-group Python round-trips cost
    ~4.3 s at sf0.1 while the codegen'd array form runs in ~0.3 s
    (guide §4.1: prefer built-ins, including higher-order functions,
    over grouped-map Python; the grouped-map Arrow surface itself stays
    exercised by `streaming/features.py` and its tests).

    Scale shape: one hash shuffle on user_id; per-group O(n log n)
    array sorts; output one row per user. A skew-heavy corpus would
    pre-split hot users with the salting scaffold (`operators/skew.py`)
    and merge the per-salt order statistics via the two-level
    median-of-medians refinement; the fixture's groups are uniform."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("value").cast("decimal(38,6)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    # doubled-median of a sorted array a (1-based element_at): the sum of
    # the two middle order statistics — lower == upper for odd n
    def med2(a: Column) -> Column:
        n = F.size(a)
        lo = F.element_at(a, ((n + 1) / 2).cast("int"))
        hi = F.element_at(a, (n / 2 + 1).cast("int"))
        return lo + hi

    vs = F.sort_array(F.collect_list("v"))
    out = ev.groupBy("user_id").agg(vs.alias("vs"))
    m2 = med2(F.col("vs"))
    out = out.select(
        "user_id",
        F.size("vs").cast("long").alias("n"),
        m2.alias("med2_fx"),
        F.sort_array(
            F.transform("vs", lambda x: F.abs(2 * x - m2))
        ).alias("ds"),
    )
    mad2 = med2(F.col("ds"))
    return out.select(
        "user_id",
        "n",
        "med2_fx",
        mad2.alias("mad2_fx"),
        F.size(
            F.filter("ds", lambda d: 2 * d > F.lit(MAD_K2) * mad2)
        ).cast("long").alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence: event_type x hour-of-day

CHI2_FX = 1_000_000  # fixed-point scale of the per-cell contribution


@register(
    "event_type_hour_chi2",
    oracle=f"""
    WITH ev AS (
      SELECT event_type,
             cast(floor(epoch(ts)/3600) % 24 AS bigint) AS hod
      FROM events
    ),
    nn AS (SELECT count(*) AS n FROM ev),
    rt AS (SELECT event_type, count(*) AS r FROM ev GROUP BY 1),
    ct AS (SELECT hod, count(*) AS c FROM ev GROUP BY 1),
    obs AS (SELECT event_type, hod, count(*) AS o FROM ev GROUP BY 1, 2)
    SELECT rt.event_type, ct.hod,
           cast(coalesce(o.o, 0) AS bigint) AS obs,
           cast(floor({CHI2_FX}.0
                * (cast(coalesce(o.o, 0) * nn.n - rt.r * ct.c AS double)
                   * cast(coalesce(o.o, 0) * nn.n - rt.r * ct.c AS double))
                / (cast(nn.n AS double) * cast(rt.r AS double)
                   * cast(ct.c AS double)))
             AS bigint) AS cell_chi2_fx
    FROM rt CROSS JOIN ct CROSS JOIN nn
    LEFT JOIN obs o ON o.event_type = rt.event_type AND o.hod = ct.hod
    """,
    doc="chi-square independence cells: event_type x hour-of-day",
)
def event_type_hour_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    hour-of-day — the categorical-association member of the statistics
    family (next to Pearson correlation, ACF, and the MAD outliers): one
    row per contingency cell with its observed count and fixed-point
    chi-square contribution; Σ cell_chi2_fx / {CHI2_FX} is the statistic
    against dof = (types-1)·(24-1). EMPTY cells are materialized (tiny
    dims cross-joined, observed left-joined) because a missing
    (type, hour) combination still contributes r·c/N — dropping them is
    the classic silent chi-square bug.

    Determinism: (o·N − r·c) is EXACT int64 (guarded loudly), and the
    square/divide/floor run as ONE textual double expression over that
    identical operand in both engines — deterministic even when the
    square exceeds 2^53, because both engines round the same product
    the same way; the per-cell bigint contributions sum
    order-independently downstream.

    Scale shape: three map-side-combined aggregates over the event
    stream (obs / row / column margins) and a broadcast cross of the
    TINY margin dims (types x 24) — the event table is scanned once,
    nothing global but the 1-row count."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.floor(F.col("ts").cast("long") / 3600) % 24)
        .cast("bigint")
        .alias("hod"),
    ).localCheckpoint(eager=True)
    from ..io.stats import table_stats

    n = table_stats(spark, sf_dir, "events")["n"]
    rt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("r"))
    ct = ev.groupBy("hod").agg(F.count(F.lit(1)).alias("c"))
    obs = ev.groupBy("event_type", "hod").agg(F.count(F.lit(1)).alias("o"))
    g = rt.agg(F.max("r")).collect()[0][0], ct.agg(F.max("c")).collect()[0][0]
    # only the DIFFERENCE is int64; its square happens in double space,
    # where both engines square the identical operand (deterministic even
    # past 2^53 — same rounding of the same product). So the guard bounds
    # o*N and r*c themselves, not their square.
    if max(g[0] * g[1], g[1] * n) >= 2**63:
        raise ArithmeticError(
            "chi-square: margin product bound "
            f"{max(g[0] * g[1], g[1] * n)} exceeds int64; "
            "aggregate margins at a coarser scale first"
        )
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .join(obs, ["event_type", "hod"], "left")
        .select(
            "event_type",
            "hod",
            F.coalesce("o", F.lit(0)).cast("bigint").alias("obs"),
            "r",
            "c",
        )
    )
    diff = (F.col("obs") * n - F.col("r") * F.col("c")).cast("double")
    return cells.select(
        "event_type",
        "hod",
        "obs",
        F.floor(
            F.lit(float(CHI2_FX))
            * (diff * diff)
            / (
                F.lit(float(n))
                * F.col("r").cast("double")
                * F.col("c").cast("double")
            )
        )
        .cast("bigint")
        .alias("cell_chi2_fx"),
    )


# ---------------------------------------------------------------------------
# Sequential-model training sequences: per-user next-event windows

SEQ_L = 8  # context length (events)
SEQ_S = 4  # stride between window starts


@register(
    "user_event_sequences",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id,
             list(event_type ORDER BY ts, event_id) AS types
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT user_id, types,
             unnest(range(0, len(types) - {SEQ_L}, {SEQ_S})) AS pos
      FROM ordered WHERE len(types) > {SEQ_L}
    )
    SELECT user_id, cast(pos AS bigint) AS pos,
           array_to_string(types[pos + 1 : pos + {SEQ_L}], '>') AS context,
           types[pos + {SEQ_L} + 1] AS label
    FROM win
    """,
    doc="per-user sliding next-event training windows (context -> label)",
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence preparation for sequential models (next-event
    prediction / session-based recommendation): each user's event-type
    stream, ordered by (ts, event_id), cut into sliding windows of
    {SEQ_L} context events with the following event as the label, stride
    {SEQ_S} — the (context, label) pairs a sequence model trains on,
    exactly the corpus-side mirror of `doc_sliding_chunks` for event
    streams instead of token streams.

    Scale shape: ONE groupBy(user) building the per-user ordered array
    (bounded by per-key activity — the same per-key-state bound as every
    keyed operator here; a power-user cap would truncate or split the
    array at ingest), then a map-only posexplode into windows. No window
    function, no self-join; window generation never reshuffles."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.col("ts").cast("long").alias("es"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
        ).alias("s"),
    )
    ordered = ev.groupBy("user_id").agg(
        F.expr("transform(array_sort(collect_list(s)), x -> x.et)").alias(
            "types"
        )
    )
    win = ordered.filter(F.size("types") > SEQ_L).select(
        "user_id",
        "types",
        F.explode(
            F.expr(f"sequence(0, size(types) - {SEQ_L} - 1, {SEQ_S})")
        ).alias("pos"),
    )
    return win.select(
        "user_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.expr(f"array_join(slice(types, pos + 1, {SEQ_L}), '>')").alias(
            "context"
        ),
        F.expr(f"types[pos + {SEQ_L}]").alias("label"),
    )


# ---------------------------------------------------------------------------
# SCD2 dimension build: per-user event-type state history


@register(
    "user_state_scd2",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type,
             cast(floor(epoch(ts)) AS bigint) AS es,
             event_id
      FROM events
    ),
    marked AS (
      SELECT user_id, event_type, es, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS is_start
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    ),
    runs AS (
      SELECT user_id, event_type, es, event_id,
             sum(is_start) OVER (PARTITION BY user_id
                                 ORDER BY es, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    ),
    spans AS (
      SELECT user_id, run_id, min(event_type) AS state,
             min(es) AS valid_from, count(*) AS n_events
      FROM runs GROUP BY 1, 2
    )
    SELECT user_id,
           cast(run_id AS bigint) AS version,
           state,
           cast(valid_from AS bigint) AS valid_from_es,
           cast(coalesce(lead(valid_from) OVER (
                  PARTITION BY user_id ORDER BY run_id) - 1, 9999999999)
                AS bigint) AS valid_to_es,
           cast(n_events AS bigint) AS n_events
    FROM spans
    """,
    doc="SCD2 state history: per-user event-type runs with validity ranges",
)
def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) CONSTRUCTION — the warehouse
    pattern the as-of join (`events_asof_last_purchase`) consumes but
    nothing here built until now: each user's event-type stream is cut
    into consecutive same-type runs; each run becomes one dimension
    version with [valid_from, valid_to] epoch-second validity (current
    version open-ended at the 9999999999 sentinel, the SCD2 convention).
    The run segmentation is the classic gaps-and-islands shape: a
    boundary marker (lag over the per-user order) prefix-summed into a
    run id, grouped into spans, validity closed by lead().

    Scale shape: every window is PARTITIONED BY user_id — per-key
    ordered state only, no global sort anywhere; two keyed window passes
    + one groupBy, all sharing the same user_id partitioning. The span
    count (output size) is bounded by type-changes, not events."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("es"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    marked = ev.withColumn(
        "is_start",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    runs = marked.withColumn(
        "run_id",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("state"),
        F.min("es").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("run_id")
    return spans.select(
        "user_id",
        F.col("run_id").cast("bigint").alias("version"),
        "state",
        F.col("valid_from").cast("bigint").alias("valid_from_es"),
        F.coalesce(
            F.lead("valid_from").over(wv) - 1, F.lit(9999999999)
        )
        .cast("bigint")
        .alias("valid_to_es"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Association rules over user-day baskets


@register(
    "event_type_association_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT user_id, cast(ts AS date) AS day, event_type
      FROM events
    ),
    nb AS (
      SELECT count(*) AS n FROM (
        SELECT DISTINCT user_id, day FROM baskets
      )
    ),
    singles AS (
      SELECT event_type, count(*) AS c FROM baskets GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS c12
      FROM baskets a
      JOIN baskets b ON a.user_id = b.user_id AND a.day = b.day
                    AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.ta, p.tb,
           cast(nb.n AS bigint) AS n_baskets,
           cast(sa.c AS bigint) AS c_a,
           cast(sb.c AS bigint) AS c_b,
           cast(p.c12 AS bigint) AS c_ab,
           cast(1000000 * p.c12 // sa.c AS bigint) AS conf_a_to_b_fx,
           cast(1000000 * p.c12 * nb.n // (sa.c * sb.c) AS bigint)
             AS lift_fx
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.ta
    JOIN singles sb ON sb.event_type = p.tb
    CROSS JOIN nb
    """,
    doc="association rules (support/confidence/lift) over user-day baskets",
)
def event_type_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules — the level-2 Apriori lattice over
    (user, day) baskets of event types: pair support, confidence a→b,
    and lift, all in exact integer fixed-point (1e6·c12 div c_a;
    1e6·c12·N div (c_a·c_b) — cross-multiplied, no float ratios). Lift
    > 1e6 = the pair co-occurs more than independence predicts; the
    data-mining family member next to the chi-square test (global
    association) and the funnel (ordered association).

    Scale shape: baskets are one distinct (map-side combined); the pair
    join keys on the BASKET (user, day) so fan-out is items-per-basket
    choose 2 (≤ C(5,2) here — bounded by the type alphabet, the same
    per-key bound as every co-occurrence join); margins broadcast. At a
    large item alphabet the standard cut is min-support pruning on the
    singles BEFORE the pair join (Apriori's monotonicity), the same
    prune-then-join shape as every candidate generator here."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).distinct().localCheckpoint(eager=True)
    from ..io.stats import table_stats

    n = table_stats(spark, sf_dir, "events")["n_user_days"]
    # loud int64 guard for the lift numerator 1e6*c12*n: c12 <= n (a pair
    # co-occurs at most once per basket), so n bounds it — with ANSI off
    # Spark wraps silently past ~3M baskets while DuckDB raises (ADVICE r6)
    if 1_000_000 * n * n >= 2**63:
        raise ArithmeticError(
            f"association rules: lift numerator bound 1e6*n^2 with "
            f"n={n} baskets exceeds int64; cross-divide the lift or "
            "shrink the fixed-point scale"
        )
    singles = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ev.select("user_id", "day", F.col("event_type").alias("ta"))
    b = ev.select(
        F.col("user_id").alias("u2"),
        F.col("day").alias("d2"),
        F.col("event_type").alias("tb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("user_id") == F.col("u2"))
            & (F.col("day") == F.col("d2"))
            & (F.col("ta") < F.col("tb")),
        )
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    sa = singles.select(F.col("event_type").alias("ta"), F.col("c").alias("c_a"))
    sb = singles.select(F.col("event_type").alias("tb"), F.col("c").alias("c_b"))
    return (
        pairs.join(F.broadcast(sa), "ta")
        .join(F.broadcast(sb), "tb")
        .select(
            "ta",
            "tb",
            F.lit(n).cast("bigint").alias("n_baskets"),
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            F.col("c12").cast("bigint").alias("c_ab"),
            F.expr("1000000 * c12 div c_a").cast("bigint").alias(
                "conf_a_to_b_fx"
            ),
            F.expr(f"1000000 * c12 * {n} div (c_a * c_b)")
            .cast("bigint")
            .alias("lift_fx"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast baseline + error metrics

SN_LAG_H = 24  # seasonal-naive: predict hour h with hour h-24


@register(
    "seasonal_naive_forecast_error",
    oracle=f"""
    WITH series AS (
      SELECT cast(floor(epoch(ts)/3600) AS bigint) AS hour,
             cast(sum(cast(value AS decimal(38,6))) * 100 AS bigint) AS v
      FROM events GROUP BY 1
    ),
    joined AS (
      SELECT a.hour, a.v AS actual, b.v AS predicted
      FROM series a JOIN series b ON b.hour = a.hour - {SN_LAG_H}
    )
    SELECT cast(a.hour // 24 AS bigint) AS day,
           cast(count(*) AS bigint) AS n_hours,
           cast(sum(abs(a.actual - a.predicted)) // count(*) AS bigint)
             AS mae_cents,
           cast(sum(1000000 * abs(a.actual - a.predicted) // a.actual)
                // count(*) AS bigint) AS mape_fx
    FROM joined a
    WHERE a.actual > 0
    GROUP BY 1
    """,
    doc="seasonal-naive (lag-24h) forecast MAE/MAPE per day",
)
def seasonal_naive_forecast_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast-evaluation surface: the seasonal-naive baseline (predict
    each hour with the same hour yesterday — the baseline every real
    forecasting model must beat, and the right yardstick for the lag-24
    structure `hourly_value_acf` measures) scored with per-day MAE and
    MAPE. Exact integers end-to-end: cents in, absolute differences,
    and integer-division means (per-row 1e6-scaled APE floored before
    the mean — the convention the oracle mirrors textually).

    Scale shape: the hourly series aggregate (events never joined
    row-to-row — hours do), one self-equi-join on the shifted hour key,
    one per-day groupBy. O(hours), independent of event count."""
    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("hour")
    ).agg(
        (F.sum(F.col("value").cast("decimal(38,6)")) * 100)
        .cast("bigint")
        .alias("v")
    )
    a = series.select("hour", F.col("v").alias("actual"))
    b = series.select(
        (F.col("hour") + SN_LAG_H).alias("hb"), F.col("v").alias("predicted")
    )
    joined = a.join(b, F.col("hour") == F.col("hb")).filter(
        F.col("actual") > 0
    )
    return joined.groupBy(
        F.expr("hour div 24").cast("bigint").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.expr("sum(abs(actual - predicted)) div count(*)")
        .cast("bigint")
        .alias("mae_cents"),
        F.expr(
            "sum(1000000 * abs(actual - predicted) div actual) div count(*)"
        )
        .cast("bigint")
        .alias("mape_fx"),
    )
