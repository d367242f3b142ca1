"""Stateful TTL deduplication (D2/D4) on Structured Streaming.

Re-expresses the reference's State & Timer pattern
(``/root/reference/src/main/scala/com.db.myproject/mediation/http/state/StateBaseAsyncDoFn.java:30-34,68-93,156-166``
and ``http/StateAsyncParDoWithHttpHandler.scala:86-95,105-164``) on
``applyInPandasWithState`` with an event-time timeout on a batch clock:

- first occurrence of a key → emitted ``SENT`` and the send time is
  recorded in per-key state (Beam's ``BagState`` buffered the record,
  but the duplicate check is key-presence only —
  StateAsyncParDoWithHttpHandler.scala:116-120 — so first-send time
  carries the same information);
- repeats while state is live → emitted ``SENT_OR_DUPLICATED``
  (the duplicate contract D4 — duplicates are *emitted*, not dropped);
- the TTL runs from the FIRST send (``ttl.offset(bufferTime).setRelative()``
  on first buffering, StateAsyncParDoWithHttpHandler.scala:86-95);
  duplicates do NOT extend it. Since ``GroupStateTimeout`` resets on
  every invocation, the deadline is re-derived from the stored
  first-send time each time — after expiry the key sends again.

The reference also seeds its state with ``INITIAL_LOAD_`` rows so that
already-notified records are never sent (D3,
StateAsyncParDoWithHttpHandler.scala:111-113,133-145). Here the J1
anti-join against the historical key set does that upstream of this
gate (``build_mediation_core``), so the gate's state holds live sends
only.

One state implementation, ``applyInPandasWithState`` (SURVEY.md §2.5),
and one clean-up for every trigger. The contract needs no per-key timer:
the deadline is re-derived from the first-send time on every visit, and
clean-up only bounds state. It runs on a batch clock: the input is
stamped with the micro-batch time (``__batch_ts``) under a watermark
delayed by ``min(TTL, 1 hour)``, and each live key times out at the
batch time plus what is left of its TTL. The delay keeps rows above the
watermark when the wall clock steps back; a row below it would be
dropped as late, a lost notification. Keys are removed in data batches
and in the one trailing batch Spark runs after the watermark moves, so
a query goes idle when its input does. ``stamp_batch_clock`` and
``arm_timeout`` hold that clock for every keyed stream that clears idle
state (``anomaly_detect_stream`` too).

Scale: state is hash-partitioned by key across executors in the
RocksDB state store — ~1M live keys (BASELINE.md) fits comfortably,
and clean-up bounds state to the keys sent within TTL plus delay.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from scio_db_spark.operators.keying import KEY_COL
from scio_db_spark.schemas import SENT, SENT_OR_DUPLICATED, struct_ddl

_STATE_SCHEMA = "first_sent_ms long"
BATCH_TS = "__batch_ts"
_MAX_DELAY_MS = 3_600_000


def stamp_batch_clock(df: DataFrame, ttl_ms: int | None) -> DataFrame:
    """Stamp ``df`` with the micro-batch time as ``BATCH_TS`` under a
    watermark delayed by ``min(ttl_ms, 1 hour)`` (1 hour for None): the
    clock that ``arm_timeout``'s event-time timeouts run on."""
    delay = _MAX_DELAY_MS if ttl_ms is None else min(ttl_ms, _MAX_DELAY_MS)
    return df.withColumn(BATCH_TS, F.current_timestamp()).withWatermark(
        BATCH_TS, f"{delay} milliseconds"
    )


def arm_timeout(state: GroupState, remaining_ms: int) -> None:
    """Time the key out ``remaining_ms`` after this batch on the batch
    clock. Spark drops the timeout after every call, so re-arm on every
    visit."""
    state.setTimeoutTimestamp(
        state.getCurrentProcessingTimeMs() + max(1, int(remaining_ms))
    )


def _apply_ttl_gate(
    chunks: list[pd.DataFrame],
    first_sent: int | None,
    now: int,
    order_cols: list[str] | None,
) -> tuple[pd.DataFrame | None, int | None]:
    """Per-key core of the gate: mark SENT / SENT_OR_DUPLICATED and
    advance the first-send watermark.

    All chunks for the key are materialized before ordering: Arrow may
    deliver one key's batch as several DataFrames, and a chunk-local
    sort would let a later chunk hold the globally first-ordered row
    while an earlier chunk gets the SENT mark. Memory is bounded by one
    key's rows in one micro-batch — the same bound as the reference's
    per-key BagState (MediationService pairs it with a pre-state
    ``distinctByKey``; see build_mediation_core, which anti-joins
    historical keys upstream for the same pressure relief).

    Pathological hot key (one key flooding a micro-batch): the bound
    degrades to that batch's row count for the key. Mitigations, in
    preference order: (1) cap the per-trigger volume
    (``maxOffsetsPerTrigger``/``maxFilesPerTrigger``), which caps this
    bound for EVERY key at once; (2) route the caller through
    ``streaming_distinct_by_key`` upstream when within-batch duplicate
    EMISSION (D4) can be traded away — state then sees one row per key
    per watermark window; (3) salting is NOT applicable here — the TTL
    contract is per-key (split keys would each send), which is the
    same reason the reference's BagState carries the identical bound.
    The per-row work below is vectorized, so a hot key costs pandas
    concat + sort, never a Python-loop blowup (pinned by
    test_hot_key_batch_is_bounded_and_correct).
    """
    if not chunks:
        return None, first_sent
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
    if order_cols:
        pdf = pdf.sort_values(order_cols)
    if first_sent is None:
        statuses = [SENT] + [SENT_OR_DUPLICATED] * (len(pdf) - 1)
        first_sent = now
    else:
        statuses = [SENT_OR_DUPLICATED] * len(pdf)
    out = pdf.copy()
    out["send_status"] = statuses
    return out, first_sent


def _make_dedup_fn(ttl_ms: int, order_cols: list[str] | None, clock_ms=None):
    clock_ms = clock_ms or (lambda: int(time.time() * 1000))

    def dedup_fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # W5/onTtl: the watermark passed the key's deadline — clear
            # its state (StateBaseAsyncDoFn.java:156-166).
            state.remove()
            return
        now = clock_ms()
        first_sent = state.get[0] if state.exists else None
        if first_sent is not None and now - first_sent >= ttl_ms:
            # Deadline passed but the watermark has not reached it yet
            # (a key with data is never timed out) — expire inline.
            first_sent = None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        out, first_sent = _apply_ttl_gate(chunks, first_sent, now, order_cols)
        if out is not None:
            yield out
        if first_sent is not None:
            state.update((int(first_sent),))
            # Re-arm relative to the FIRST send so duplicates never
            # extend the TTL.
            arm_timeout(state, first_sent + ttl_ms - now)

    return dedup_fn


def ttl_dedup(
    keyed_df: DataFrame,
    ttl_seconds: float,
    order_cols: list[str] | None = None,
    clock_ms=None,
) -> DataFrame:
    """Apply the TTL dedup gate to a streaming DataFrame keyed by
    ``idempotent_key``; the output is in update mode.

    The output is the input columns (every field nullable) plus
    ``send_status string``. ``clock_ms`` is injectable for
    deterministic tests (virtual clock); it decides expiry, while state
    clean-up runs on the batch clock, under every trigger (see the
    module docstring): an ``availableNow`` pass ends after its trailing
    batch, and a continuous query goes idle with its input.
    """
    ttl_ms = int(ttl_seconds * 1000)
    stamped = stamp_batch_clock(keyed_df, ttl_ms)
    return (
        stamped.groupBy(KEY_COL)
        .applyInPandasWithState(
            func=_make_dedup_fn(ttl_ms, order_cols, clock_ms),
            outputStructType=struct_ddl(stamped.schema, "send_status string"),
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .drop(BATCH_TS)
    )
