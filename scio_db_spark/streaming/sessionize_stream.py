"""Streaming TTL-gap sessionization — the stateful twin of
``operators/dedup.py::ttl_sessionize`` (D2's batch analogue), with the
bit-equality contract the cusum twin carries: a stream fed the same
rows in the same per-key order assigns the SAME
session ids and send statuses as the batch window form, regardless of
where micro-batch boundaries fall (pinned in
tests/test_sessionize_stream.py).

State per key is TWO int64s: the previous row's timestamp in
microseconds and the running session counter. The gap test reproduces
the batch expression exactly — the batch form casts each timestamp to
DOUBLE seconds (micros / 1e6) and compares the difference against
ttl_seconds, so this twin performs the identical IEEE double
divisions and subtraction rather than an integer-microsecond compare
that could disagree at the boundary ulp.

Scale: state is cardinality-bounded (2 ints/key), hash-partitioned in
the state store, and kept for every key ever seen (no timeout), so
session ids keep counting from the key's whole history, as the batch
form's do.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from scio_db_spark.schemas import SENT, SENT_OR_DUPLICATED, struct_ddl

_STATE_SCHEMA = "last_us long, sid long"


def _make_session_fn(
    ts_col: str,
    tie_cols: tuple[str, ...],
    ttl_seconds: int,
    passthrough: list[str],
):
    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last_us, sid = state.get if state.exists else (None, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(
            [ts_col, *tie_cols], kind="mergesort"
        )
        out_sid, out_status = [], []
        for ts in rows[ts_col]:
            us = int(pd.Timestamp(ts).value) // 1000  # ns -> micros
            # identical arithmetic to the batch form's
            # ts.cast("double") comparison: divide each side to IEEE
            # double seconds FIRST, then subtract
            new = (
                last_us is None
                or (us / 1e6) - (last_us / 1e6) >= ttl_seconds
            )
            if new:
                sid += 1
            out_sid.append(sid)
            out_status.append(SENT if new else SENT_OR_DUPLICATED)
            last_us = us
        if len(rows):
            state.update((last_us, sid))
        res = rows[passthrough].copy()
        res["session_id"] = out_sid
        res["send_status"] = out_status
        yield res

    return fn


def sessionize_stream(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    ttl_seconds: int,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming twin of ttl_sessionize: input columns + session_id +
    send_status (append mode)."""
    passthrough = list(stream_df.columns)
    return stream_df.groupBy(*key_cols).applyInPandasWithState(
        func=_make_session_fn(
            ts_col, tuple(tie_cols or []), ttl_seconds, passthrough
        ),
        outputStructType=struct_ddl(
            stream_df.schema, "session_id long", "send_status string"
        ),
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
