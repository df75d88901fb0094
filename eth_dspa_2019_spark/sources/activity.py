"""Social-network activity ingest: the pipe-format tag-dispatch parser and a
deterministic activity-stream synthesizer over the driver testdata.

Parser (the engine surface):

- :func:`parse_creation_date` — the reference's timestamp zoo
  ``yyyy-MM-dd'T'HH:mm:ss[.S][S][S][X][X]`` in GMT+0, including the dataset's
  weird ``...ZZ`` double zone suffix (`SN/util/Activity.java:44-50`,
  `SN/validation/TestJava.java:10-36`): normalize trailing ``Z``s, then a
  ``try_to_timestamp`` coalesce chain over 0–3 fractional digits.
- :func:`parse_activities` — ``P|``/``C|``/``L|``/``T|`` tag dispatch into the
  unified :data:`~eth_dspa_2019_spark.schemas.ACTIVITY_SCHEMA` frame;
  Comment-vs-Reply by the empty reply_to_postId field 7
  (`SN/util/Activity.java:188-193`); ``tags`` list-in-a-string → array<long>
  (`SN/util/Activity.java:124`). Pure column expressions — the parse is a
  single whole-stage-codegen projection, no UDFs, no shuffle.

Synthesizer (test fixture, NOT an engine operator): the driver testdata has
no social-network CSVs, so :func:`synth_activity_lines` derives a
deterministic activity stream from ``events.parquet`` + ``documents.parquet``
and serializes it through the SAME wire format the reference producer uses —
three per-kind streams unioned (`SN/Producer.java:23-43`, SURVEY §2.7 U1).
The correctness oracle re-derives the expected *parsed* fields directly from
the events table (see plans/social.py), so the string round-trip exercises
the parser end-to-end: a parser bug breaks every downstream social query.

Synthesis spec (mirrored verbatim in the oracle SQL — keep in sync):
with ``m = event_id % 10``: m∈{0,1,2}→post, {3..6}→comment, {7,8}→reply,
{9}→like; a comment/like targets the latest post before it; a reply's parent
is the latest comment-or-reply before it (chains of consecutive replies give
multi-hop resolution paths); content = documents.text[event_id % n_docs];
creationDate format variant = event_id % 5 (plain / .S / .SS+Z / .SSS+Z /
.SS+ZZ).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.cache import query_data, table_meta
from ..io.readers import load_table, spread_scan
from ..schemas import (
    KIND_COMMENT,
    KIND_LIKE,
    KIND_POST,
    KIND_REPLY,
    UNRESOLVED,
)

BROWSERS = ("Firefox", "Chrome", "Safari")
LANGS = ("en", "de", "fr", "es")

# ---------------------------------------------------------------------------
# Parser


def parse_creation_date(c: Column) -> Column:
    """Timestamp-zoo parse: optional 1–3 fractional digits, optional
    ``Z``/``ZZ`` suffix, GMT (session tz is pinned to UTC). NULL for
    unparseable input (routed to the error side output by the caller)."""
    norm = F.regexp_replace(c, "Z+$", "")
    return F.coalesce(
        F.try_to_timestamp(norm, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSS")),
        F.try_to_timestamp(norm, F.lit("yyyy-MM-dd'T'HH:mm:ss.SS")),
        F.try_to_timestamp(norm, F.lit("yyyy-MM-dd'T'HH:mm:ss.S")),
        F.try_to_timestamp(norm, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
    )


def parse_activities(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Tag-dispatch parse of pipe-format activity lines into the unified
    activity frame — ONE projection with per-column CASE dispatch on the
    tag, so the input is scanned exactly once (the earlier
    filter-per-kind + union form re-executed the input subtree once per
    kind, which forced an extra materialization between synth and parse).
    Field layout per tag mirrors the reference wire format
    (`SN/util/Activity.java`): P|id|person|date|image|ip|browser|lang|
    content|tags|forum|place · C|id|person|date|ip|browser|content|
    reply_to_post|reply_to_comment|place · L|person|post|date."""
    # r11: the projection is built as SQL strings — one py4j round-trip
    # per output column instead of ~10 (the same plan-construction diet
    # as the synth builders; identical expressions, identical plan —
    # repeated subtrees like the split() are shared by Catalyst's
    # subexpression elimination exactly as the shared Column node was).
    p = rf"split(`{value_col}`, '\\|', -1)"

    def e(i: int) -> str:
        return f"element_at({p}, {i})"

    is_p, is_c = f"{e(1)} = 'P'", f"{e(1)} = 'C'"
    is_reply = f"({is_c} AND {e(8)} = '')"

    def pick(post: str | None, comment: str | None, like: str | None, dtype: str) -> str:
        nul = f"CAST(NULL AS {dtype})"
        return (
            f"CASE WHEN {is_p} THEN {post if post is not None else nul} "
            f"WHEN {is_c} THEN {comment if comment is not None else nul} "
            f"ELSE {like if like is not None else nul} END"
        )

    raw_date = e(4)  # date is field 4 for all three kinds
    norm = f"regexp_replace({raw_date}, 'Z+$', '')"
    ts = "coalesce(" + ", ".join(
        f'try_to_timestamp({norm}, "yyyy-MM-dd\'T\'HH:mm:ss{frac}")'
        for frac in (".SSS", ".SS", ".S", "")
    ) + ")"
    tags_inner = rf"regexp_replace({e(10)}, '^\\[|\\]$', '')"
    tags = (
        f"CASE WHEN length(trim({tags_inner})) = 0 "
        "THEN CAST(array() AS ARRAY<BIGINT>) "
        rf"ELSE transform(split({tags_inner}, ',\\s*'), "
        "x -> CAST(x AS BIGINT)) END"
    )
    return lines.filter(F.expr(f"{e(1)} IN ('P', 'C', 'L')")).selectExpr(
        f"CASE WHEN {is_p} THEN '{KIND_POST}' "
        f"WHEN {is_reply} THEN '{KIND_REPLY}' "
        f"WHEN {is_c} THEN '{KIND_COMMENT}' "
        f"ELSE '{KIND_LIKE}' END AS kind",
        f"CAST({pick(e(2), e(2), e(3), 'STRING')} AS BIGINT) AS id",
        f"CAST({pick(e(3), e(3), e(2), 'STRING')} AS BIGINT) AS person_id",
        f"{raw_date} AS creation_date",
        f"{ts} AS ts",
        f"unix_millis({ts}) AS ts_ms",
        pick(
            f"CAST({e(2)} AS BIGINT)",
            f"CASE WHEN {is_reply} THEN CAST({UNRESOLVED} AS BIGINT) "
            f"ELSE CAST({e(8)} AS BIGINT) END",
            f"CAST({e(3)} AS BIGINT)",
            "BIGINT",
        )
        + " AS post_id",
        f"CASE WHEN {is_reply} THEN CAST({e(9)} AS BIGINT) END AS parent_id",
        f"{pick(e(9), e(7), None, 'STRING')} AS content",
        f"CASE WHEN {is_p} THEN {tags} END AS tags",
        f"CASE WHEN {is_p} THEN {e(5)} END AS image_file",
        f"{pick(e(6), e(5), None, 'STRING')} AS location_ip",
        f"{pick(e(7), e(6), None, 'STRING')} AS browser",
        f"CASE WHEN {is_p} THEN {e(8)} END AS language",
        f"CASE WHEN {is_p} THEN CAST({e(11)} AS BIGINT) END AS forum_id",
        f"CAST({pick(e(12), e(10), None, 'STRING')} AS BIGINT) AS place_id",
    )


# ---------------------------------------------------------------------------
# Deterministic fixture synthesis from the driver testdata

def _table_stats(spark: SparkSession, sf_dir: str) -> tuple[int, int, int, int]:
    """(n_docs, n_events, min_event_id, max_event_id): catalog statistics
    from io/stats.py, table metadata in the session cache (io/cache.py)."""
    from ..io.stats import table_stats

    ev = table_stats(spark, sf_dir, "events")
    n_docs = table_stats(spark, sf_dir, "documents")["n"]
    return (n_docs, ev["n"], ev["min_event_id"], ev["max_event_id"])


@table_meta
def _spread_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's scan fanned out by spread_scan; table metadata, so the
    narrow-or-wide probe (``.rdd`` partition count, a full plan analysis)
    runs once per session and table version, not once per query."""
    return spread_scan(load_table(spark, sf_dir, name))


def synth_base(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """events + per-row synthesis columns (kind selector, latest-post /
    latest-comment references, formatted creationDate, joined content).

    Because kind is a pure function of ``event_id % 10`` and the testdata
    event_ids are dense 0..N-1 (asserted below), the latest-post /
    latest-comment references are CLOSED-FORM arithmetic on event_id — a
    codegen projection, no window, no sort, no shuffle. The oracle derives
    the same refs independently via its ORDER BY window
    (plans/social.py `_O_BASE`), so the two implementations stay
    methodologically independent. If the testdata ever stops being dense,
    the single-partition-window fallback below reproduces the reference
    producer's single-threaded TreeMap replay (`SN/Producer.java:21-46`);
    the scale-correct form of that fallback exists as
    `operators/prefix.py::global_running_max`.
    """
    from pyspark.sql.window import Window

    # One row group -> one scan task: without a fan-out the WHOLE
    # synth+parse pipeline (string formatting, regex, timestamp zoo,
    # checkpoint write) runs on a single core (guide §2.5). The fan-out is
    # OPT-IN (load_activities, the batch-parse consumer, requests it):
    # tape writers need the narrow form — their downstream file streams
    # consume with maxFilesPerTrigger=1, so fanning the synth out 32-wide
    # multiplied the written file count and therefore the micro-batch
    # count ~32x (each with a durable-state commit).
    ev = (_spread_table if spread else load_table)(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    e = F.col("event_id")
    m = e % 10
    n_docs, n, mn, mx = _table_stats(spark, sf_dir)
    if mn == 0 and mx == n - 1:
        # dense ids: last post before e = the largest e' < e with e'%10<=2;
        # per decade d the posts are 10d..10d+2, comments/replies 10d+3..10d+8
        # (SQL strings — one py4j round-trip per column, see the r11 note
        # in synth_activity_lines)
        d10 = "floor(event_id / 10)"
        pre = ev.selectExpr(
            "event_id",
            "user_id",
            "ts",
            "props",
            "CASE WHEN event_id % 10 >= 3 THEN "
            f"{d10} * 10 + 2 "
            "WHEN event_id % 10 >= 1 THEN event_id - 1 "
            f"ELSE (CASE WHEN {d10} > 0 THEN ({d10} - 1) * 10 + 2 END) "
            "END AS last_post",
            "CASE WHEN event_id % 10 >= 4 THEN event_id - 1 "
            f"ELSE (CASE WHEN {d10} > 0 THEN ({d10} - 1) * 10 + 8 END) "
            "END AS last_comment",
        )
    else:  # pragma: no cover — driver testdata is dense at every sf
        w_prev = Window.orderBy("event_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        pre = ev.select(
            "event_id",
            "user_id",
            "ts",
            "props",
            F.max(F.when(m <= 2, e)).over(w_prev).alias("last_post"),
            F.max(F.when((m >= 3) & (m <= 8), e)).over(w_prev).alias(
                "last_comment"
            ),
        )
    fmt = {
        0: "yyyy-MM-dd'T'HH:mm:ss",
        1: "yyyy-MM-dd'T'HH:mm:ss.S",
        2: "yyyy-MM-dd'T'HH:mm:ss.SS'Z'",
        3: "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
        4: "yyyy-MM-dd'T'HH:mm:ss.SS'ZZ'",
    }
    date_str = (
        "CASE "
        + " ".join(
            f'WHEN event_id % 5 = {v} THEN date_format(ts, "{fmt[v]}")'
            for v in range(4)
        )
        + f' ELSE date_format(ts, "{fmt[4]}") END'
    )
    base = pre.selectExpr(
        "event_id",
        "user_id",
        "event_id % 10 AS m",
        "last_post",
        "last_comment",
        f"{date_str} AS date_str",
        f"event_id % {n_docs} AS doc_ref",
        r"cast(regexp_extract(props, '(\\d+)', 1) as bigint) AS k",
    )
    return base.join(
        F.broadcast(docs), base.doc_ref == docs.doc_id, "left"
    ).drop("doc_id")


def synth_activity_lines(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """Serialize the synthetic activities through the reference wire format,
    as three per-kind streams unioned (posts ∪ comments+replies ∪ likes —
    the producer's 3-file merge, `SN/Producer.java:23-43`).

    ``spread=False`` (default) keeps the single-task scan shape — tape
    writers depend on the narrow form for file granularity == micro-batch
    granularity; the batch parse path opts into the core fan-out."""
    b = synth_base(spark, sf_dir, spread=spread)
    # r11: each branch's wire line is ONE SQL expression string instead
    # of ~40 Column-API calls — plan construction for the synth was ~0.9s
    # of py4j round-trips PER QUERY (re-paid by every cold social query;
    # SCALE.md plan-construction rule). Expressions are 1:1 with the old
    # Column form; the oracle derives every parsed field independently,
    # so any drift here fails 16 gate rows.
    e = "cast(event_id as string)"
    person = "cast(user_id as string)"
    ip = (
        "concat('10.0.', cast(event_id % 250 as string), '.', "
        "cast(event_id % 100 as string))"
    )
    browser = (
        "element_at(array("
        + ", ".join(f"'{x}'" for x in BROWSERS)
        + f"), cast(event_id % {len(BROWSERS)} + 1 as int))"
    )
    lang = (
        "element_at(array("
        + ", ".join(f"'{x}'" for x in LANGS)
        + f"), cast(event_id % {len(LANGS)} + 1 as int))"
    )
    post_line = (
        "concat_ws('|', 'P', "
        f"{e}, {person}, date_str, "
        f"CASE WHEN event_id % 2 = 0 THEN concat('photo', {e}, '.jpg') "
        "ELSE '' END, "
        f"{ip}, {browser}, {lang}, text, "
        "concat('[', cast(k as string), ', ', cast(k + 100 as string), ']'), "
        "cast(event_id % 100 as string), "
        "cast(event_id % 50 as string))"
    )
    # comment → reply_to_postId, reply → empty + reply_to_commentId
    comment_line = (
        "concat_ws('|', 'C', "
        f"{e}, {person}, date_str, {ip}, {browser}, text, "
        "CASE WHEN m <= 6 THEN cast(last_post as string) ELSE '' END, "
        "CASE WHEN m >= 7 THEN cast(last_comment as string) ELSE '' END, "
        "cast(event_id % 50 as string))"
    )
    like_line = (
        f"concat_ws('|', 'L', {person}, cast(last_post as string), "
        "date_str)"
    )
    if spread:
        # r12: the batch-parse path serializes all three kinds in ONE
        # per-row CASE projection — the 3-branch union scanned and
        # synthesized events three times (one single-task map job per
        # branch) and left the parse checkpoint 3×cores partitions wide,
        # which every downstream social job re-paid as task count (guide
        # §2.4 remove passes outright). Line expressions are byte-
        # identical to the union form below — only the assembly differs.
        return b.selectExpr(
            f"CASE WHEN m <= 2 THEN {post_line} "
            f"WHEN m <= 8 THEN {comment_line} "
            f"ELSE {like_line} END AS value"
        )
    # Tape writers keep the producer's 3-file merge shape (posts ∪
    # comments ∪ likes): their downstream file streams consume with
    # maxFilesPerTrigger=1, so branch-per-file granularity is load-bearing.
    posts = b.filter(F.col("m") <= 2).selectExpr(f"{post_line} AS value")
    comments = b.filter((F.col("m") >= 3) & (F.col("m") <= 8)).selectExpr(
        f"{comment_line} AS value"
    )
    likes = b.filter(F.col("m") == 9).selectExpr(f"{like_line} AS value")
    return posts.unionByName(comments).unionByName(likes)


@query_data
def load_activities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parsed synthetic activity stream (wire-format round trip),
    materialized once per session+scale (persist + localCheckpoint frees
    every downstream query from re-running the synth sort and the parse).
    Every social query starts from this stream, so it is query data in the
    session cache (io/cache.py)."""
    # Single-pass parse (CASE dispatch, no per-kind branch re-execution)
    # means synth→parse pipelines into ONE job and one materialization;
    # the synth union's three branches each scan events once inside it.
    return parse_activities(
        synth_activity_lines(spark, sf_dir, spread=True)
    ).localCheckpoint(eager=True)


def split_side_outputs(
    lines: DataFrame,
    watermark_ts: str | None = None,
    value_col: str = "value",
) -> dict[str, DataFrame]:
    """P8/O5: route one line stream into side outputs the way the reference
    routes OutputTags (`SN/util/Config.java:58-61`,
    `SN/task/postidresolution/PostIdResolver.java:144,203-223`):

    - ``main``: well-formed P/C/L activities (parsed),
    - ``tombstones``: ``T|partition|date`` end-of-stream markers
      (`SN/Producer.java:77-81` — control records, not errors),
    - ``errors``: unknown tag or unparseable creationDate,
    - ``late``: main records with event time behind ``watermark_ts``
      (the allowedLateness side output, W8 — only if a watermark is given).

    Spark shape: one source, N independent filters — Catalyst merges the
    scans; in streaming each output becomes its own query/sink.
    """
    p = F.split(F.col(value_col), r"\|", -1)
    tag = F.element_at(p, 1)
    date_ix = F.when(tag == "T", 3).otherwise(4)
    ts = parse_creation_date(F.element_at(p, date_ix))
    ok = tag.isin("P", "C", "L") & ts.isNotNull()
    out = {
        "main": parse_activities(lines.filter(ok), value_col),
        "tombstones": lines.filter((tag == "T") & ts.isNotNull()).select(
            F.element_at(p, 2).cast("long").alias("partition_id"),
            ts.alias("ts"),
        ),
        "errors": lines.filter(
            ~tag.isin("P", "C", "L", "T") | ts.isNull()
        ),
    }
    if watermark_ts is not None:
        out["late"] = out["main"].filter(
            F.col("ts") < F.lit(watermark_ts).cast("timestamp")
        )
    return out
