"""Streaming Task 3 feature extraction with real per-key state (O1):
the reference's `ComputeFeatures` RichFlatMapFunction keeps a per-user
`ValueState<Features>` + last-three-timestamps ring and emits a feature
vector per activity (`SN/task/anomalydetection/AnomalousUserDetector.java:
209-246`). Here the same state machine runs in ``applyInPandasWithState``:
the ring survives across micro-batches in the (checkpointable, RocksDB-able)
state store, and each batch's rows are processed in event order within the
key — the batch form (`operators/anomaly.py::user_features`) is the
oracle this is tested against.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.anomaly import HOUR_MS, Q
from ..schemas import KIND_COMMENT, KIND_POST, KIND_REPLY

_STATE_SCHEMA = "t0 long, t1 long, t2 long"
# the spec's tokenizer, Java's \s+ (Spark's split): runs of ASCII
# whitespace — Python's \s would also match Unicode spaces
_TOKENS = re.compile(r"[ \t\n\x0b\f\r]+")
_OUT_SCHEMA = (
    "person_id bigint, ts_ms bigint, id bigint, kind string, freq bigint, "
    "clen bigint, plen bigint, cratio bigint, pratio bigint"
)


def _feature_rows(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
    t0, t1, t2 = state.get if state.exists else (-1, -1, -1)
    out = []
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts_ms", "id", "kind"])
        for row in pdf.itertuples(index=False):
            t0, t1, t2 = int(row.ts_ms), t0, t1
            if t2 != -1:
                # IEEE double division + floor, matching the batch plan's
                # floor(1.08e13 / Δ) bit-for-bit (exact int // can differ
                # by 1 when the double quotient rounds across an integer)
                freq = int(math.floor(float(3 * HOUR_MS * Q) / max(t0 - t2, 1)))
            else:
                freq = -1
            clen = plen = cratio = pratio = -1
            content = row.content
            if row.kind in (KIND_COMMENT, KIND_REPLY, KIND_POST) and content is not None:
                toks = _TOKENS.split(content)
                ratio = int(len(set(toks)) / len(toks) * Q)
                if row.kind == KIND_POST:
                    plen, pratio = len(content), ratio
                else:
                    clen, cratio = len(content), ratio
            out.append(
                (key[0], t0, row.id, row.kind, freq, clen, plen, cratio, pratio)
            )
    state.update((t0, t1, t2))
    yield pd.DataFrame(
        out,
        columns=[
            "person_id",
            "ts_ms",
            "id",
            "kind",
            "freq",
            "clen",
            "plen",
            "cratio",
            "pratio",
        ],
    )


def user_features_stateful(acts: DataFrame) -> DataFrame:
    """Per-activity Task 3 features from keyed streaming state."""
    return acts.select(
        "person_id", "ts_ms", "id", "kind", "content"
    ).groupBy("person_id").applyInPandasWithState(
        _feature_rows,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
