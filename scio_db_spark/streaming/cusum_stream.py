"""Streaming CUSUM drift detection — the stateful twin of
``operators/cusum.py``, with the anomaly-operator equality contract.

Per-key state is THREE int64s — (prefix sum P, running min of P,
previous S) — exactly the integers the batch form's two stacked
window passes compute, so a stream fed the same rows in the same
order produces bit-identical statistics and alarm decisions to
``cusum_scores`` (pinned in tests/test_cusum_stream.py), and
micro-batch boundaries cannot move a verdict. All arithmetic is
exact Python/int64 integers over pre-quantized values (cents) — no
float anywhere, the streaming/anomaly.py policy.

Scale: state is cardinality-bounded (3 ints per key), hash-
partitioned in the state store, and kept for every key ever seen (no
timeout): a key's drift statistic never restarts.

Overflow posture: P is a signed sum of (value - target) cents; a key
needs ~9e18 / |typical d| rows to overflow int64 (state.update then
fails loudly, never wraps silently). The zero-floor identity keeps
S = P - min(0, min P) non-negative and bounded by the data's actual
upward excursions.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from scio_db_spark.schemas import struct_ddl
from scio_db_spark.streaming.exactness import exact_int64

_STATE_SCHEMA = "p long, runmin long, prev_s long"


def _make_cusum_fn(
    order_cols: tuple[str, ...],
    target: int,
    threshold: int,
    passthrough: list[str],
):
    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        p, runmin, prev_s = state.get if state.exists else (0, 0, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        # NULL values carry no evidence: excluded from output and
        # state, matching the batch twin's pre-filter.
        rows = rows[rows["__x"].notna()]
        rows = rows.assign(__x=exact_int64(rows["__x"]))
        rows = rows.sort_values(list(order_cols), kind="mergesort")
        out_s, out_alarm = [], []
        for cents in rows["__x"]:
            p += int(cents) - target
            runmin = min(runmin, p)
            s = p - runmin  # runmin seeded at 0 == min(0, min prefix P)
            out_s.append(s)
            out_alarm.append(s > threshold and prev_s <= threshold)
            prev_s = s
        if len(rows):
            state.update((p, runmin, prev_s))
        res = rows[passthrough].copy()
        res["cusum"] = out_s
        res["is_alarm"] = out_alarm
        yield res

    return fn


def cusum_detect_stream(
    stream_df: DataFrame,
    key_col: str,
    value_expr,
    order_cols: tuple[str, ...],
    target: int,
    threshold: int,
) -> DataFrame:
    """Streaming CUSUM: input columns + ``cusum`` + ``is_alarm``
    (append mode). ``value_expr`` must be an exact-integer Column
    over the input (e.g. the cents quantization)."""
    passthrough = list(stream_df.columns)
    keyed = stream_df.withColumn("__x", value_expr)
    return keyed.groupBy(key_col).applyInPandasWithState(
        func=_make_cusum_fn(order_cols, target, threshold, passthrough),
        outputStructType=struct_ddl(
            stream_df.schema, "cusum long", "is_alarm boolean"
        ),
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
