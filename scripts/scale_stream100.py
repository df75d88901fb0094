"""100x standing-state run of the durable streaming components
(VERDICT r9 #4): the incremental reply->post resolver and the streaming
corpus dedup, driven over ~20 batches of the /tmp/sf100synth tape
(10M activities / 500k documents — the scale the batch-side 100x probe
covered but the streaming components had only seen at 10x).

What it measures, per batch: wall seconds, durable-state bytes written,
standing version-dir count (bounded retention), and — the wedge class
this run exists to catch — whether per-batch time stays flat as the
STANDING state (resolver pending/known-posts, dedup corpus signatures)
grows to 100x. End checks: resolver pending drains to 0 and the dedup
corpus ends at exactly seed + streamed-survivors.

    python scripts/gen_scale.py 100 /tmp/sf100synth
    python scripts/scale_stream100.py

Writes /tmp/scale_stream100_results.json; summarized in SCALE.md.
"""
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F

from eth_dspa_2019_spark.session import get_spark

SRC = os.environ.get("SS100_SRC", "/tmp/sf100synth")
ROOT = os.environ.get("SS100_ROOT", "/tmp/scale_stream100")
K = int(os.environ.get("SS100_K", "20"))

spark = get_spark(app_name="scale_stream100")
spark.sparkContext.setLogLevel("ERROR")

from eth_dspa_2019_spark.sources.activity import (  # noqa: E402
    parse_creation_date,
    synth_activity_lines,
)
from eth_dspa_2019_spark.streaming.corpus_dedup import (  # noqa: E402
    StreamingCorpusDedup,
)
from eth_dspa_2019_spark.streaming.resolution import (  # noqa: E402
    resolve_activities_stream,
)
from eth_dspa_2019_spark.plans.llm import (  # noqa: E402
    BANDS,
    DEDUP_PREFIX,
    JACCARD_THRESHOLD,
    NUM_PERM,
    SHINGLE_N,
)


def du(path):
    out = subprocess.run(["du", "-sb", path], capture_output=True, text=True)
    return int(out.stdout.split()[0]) if out.returncode == 0 else 0


def vdirs(sd):
    return sorted(d for d in os.listdir(sd) if d.startswith("v")) \
        if os.path.exists(sd) else []


results = {}

# ---- 1. resolver over the 100x wire tape, K event-time-ordered chunks
ldir = f"{ROOT}/lines"
tape_marker = f"{ROOT}/_TAPE_DONE"
t0 = time.time()
if not os.path.exists(tape_marker):
    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(ROOT)
    lines = synth_activity_lines(spark, SRC).withColumn(
        "ts_ms",
        F.unix_millis(
            parse_creation_date(F.element_at(F.split("value", r"\|", -1), 4))
        ),
    )
    # materialize once: each chunk filter below otherwise re-runs the
    # whole synth lineage (K full scans of the activity build)
    lines = lines.localCheckpoint(eager=True)
    lo, hi = lines.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    cuts = [lo + (hi - lo) * i // K for i in range(K)] + [hi + 1]
    for i, (clo, chi) in enumerate(zip(cuts[:-1], cuts[1:])):
        lines.filter(
            (F.col("ts_ms") >= clo) & (F.col("ts_ms") < chi)
        ).select("value").coalesce(4).write.mode("overwrite").text(
            f"{ldir}/chunk{i:03d}"
        )
    n_lines = lines.count()
    with open(tape_marker, "w") as fh:
        fh.write(f"{n_lines} {K}")
else:
    n_lines = int(open(tape_marker).read().split()[0])
    for d in os.listdir(ROOT):
        if d not in ("lines", "_TAPE_DONE"):
            shutil.rmtree(f"{ROOT}/{d}", ignore_errors=True)
print(f"tape: {n_lines} lines in {K} chunks ({time.time()-t0:.0f}s)",
      flush=True)

rdir, ck1, sd1 = f"{ROOT}/resolved", f"{ROOT}/ck1", f"{ROOT}/sd1"


class _StateSnapTimings(list):
    """Timings sink that snapshots the durable-state delta AT APPEND TIME
    (the resolver appends right after each batch's state commit) — the
    post-hoc loop the r10 ADVICE flagged enumerated version dirs only
    after the whole run, so the per-batch deltas it promised were never
    captured (retention had already pruned them)."""

    def __init__(self):
        super().__init__()
        self._seen: set = set()

    def append(self, item):  # (batch_id, seconds) from the resolver
        b, s = item
        new = [d for d in vdirs(sd1) if d not in self._seen]
        self._seen.update(new)
        super().append(dict(
            batch=b, sec=round(s, 2), new_version_dirs=len(new),
            new_state_bytes=sum(du(f"{sd1}/{d}") for d in new),
        ))


timings = _StateSnapTimings()
t0 = time.time()
resolver = resolve_activities_stream(
    spark, f"{ldir}/chunk*", rdir, ck1, state_dir=sd1, sink_parts=4,
    timings=timings,
)
wall = time.time() - t0
pending = resolver.pending.count()
rows = list(timings)
results["resolver"] = {
    "wall_sec": round(wall, 1),
    "n_lines": n_lines,
    "lines_per_sec": round(n_lines / wall, 1),
    "pending_after": pending,
    "version_dirs_final": len(vdirs(sd1)),
    "state_bytes_final": du(sd1),
    "batches": rows,
}
print("resolver:", json.dumps(results["resolver"])[:400], flush=True)

# ---- 2. streaming corpus dedup: 250k-doc seed corpus, stream the other
# 250k docs in K batches against the standing signature state
docs = spark.read.parquet(f"{SRC}/documents.parquet").select("doc_id", "text")
corpus = docs.filter(F.col("doc_id") % 2 == 0).localCheckpoint(eager=True)
new = docs.filter(F.col("doc_id") % 2 == 1).localCheckpoint(eager=True)
n_seed, n_new = corpus.count(), new.count()
lo, hi = new.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
cuts = [lo + (hi - lo) * i // K for i in range(K)] + [hi + 1]
sd2 = f"{ROOT}/sd_dedup"
shutil.rmtree(sd2, ignore_errors=True)
comp = StreamingCorpusDedup(
    spark, corpus, sd2, n=SHINGLE_N, num_perm=NUM_PERM, bands=BANDS,
    threshold=JACCARD_THRESHOLD, prefix=DEDUP_PREFIX, grow=True,
)
rows = []
seen = set()
kept_total = 0
t_all = time.time()
for i, (clo, chi) in enumerate(zip(cuts[:-1], cuts[1:])):
    batch = new.filter((F.col("doc_id") >= clo) & (F.col("doc_id") < chi))
    t0 = time.time()
    comp.begin_batch(i)
    out = comp.process_batch(batch)
    kept = out.filter(F.col("keep")).count()
    comp.commit(i)
    dt = time.time() - t0
    kept_total += kept
    newd = [d for d in vdirs(sd2) if d not in seen]
    seen.update(newd)
    nb = sum(du(os.path.join(sd2, d)) for d in newd)
    rows.append(dict(batch=i, sec=round(dt, 2), kept=kept, state_bytes=nb))
    print("corpus_dedup", rows[-1], flush=True)
corpus_final = (
    comp.state.live("keys").select("id").distinct().count()
)
results["corpus_dedup"] = {
    "wall_sec": round(time.time() - t_all, 1),
    "n_seed": n_seed,
    "n_streamed": n_new,
    "kept_total": kept_total,
    "corpus_final": corpus_final,
    "corpus_equals_seed_plus_kept": corpus_final == n_seed + kept_total,
    "docs_per_sec": round(n_new / (time.time() - t_all), 1),
    "version_dirs_final": len(vdirs(sd2)),
    "state_bytes_final": du(sd2),
    "batches": rows,
}
print("corpus_dedup:", json.dumps(results["corpus_dedup"])[:400], flush=True)

with open("/tmp/scale_stream100_results.json", "w") as f:
    json.dump(results, f, indent=1)
print("done")
