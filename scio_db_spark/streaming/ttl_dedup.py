"""Stateful TTL deduplication (D2/D4) on Structured Streaming.

Re-expresses the reference's State & Timer pattern
(``/root/reference/src/main/scala/com.db.myproject/mediation/http/state/StateBaseAsyncDoFn.java:30-34,68-93,156-166``
and ``http/StateAsyncParDoWithHttpHandler.scala:86-95,105-164``) on
``applyInPandasWithState`` with a processing-time timeout:

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

One state implementation, ``applyInPandasWithState`` (SURVEY.md §2.5):
Beam's explicit per-key timer is not needed for the contract, because
the deadline is re-derived from the stored first-send time on every
visit; the processing-time timeout only garbage-collects expired keys.

Scale: state is hash-partitioned by key across executors in the
RocksDB state store — ~1M live keys (BASELINE.md) fits comfortably,
and the TTL timeout bounds state growth.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from scio_db_spark.operators.keying import KEY_COL
from scio_db_spark.schemas import SENT_OR_DUPLICATED

SENT = "SENT"

_STATE_SCHEMA = "first_sent_ms long"


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


def _make_dedup_fn(
    ttl_ms: int,
    order_cols: list[str] | None,
    clock_ms=None,
    use_timers: bool = True,
):
    clock_ms = clock_ms or (lambda: int(time.time() * 1000))

    def dedup_fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # W5/onTtl: the timer fired — clear the key's state so the
            # next occurrence sends again (StateBaseAsyncDoFn.java:156-166).
            state.remove()
            return
        now = clock_ms()
        first_sent = state.get[0] if state.exists else None
        if first_sent is not None and now - first_sent >= ttl_ms:
            # Deadline passed but the timeout callback hasn't run yet
            # (timeouts reset on every invocation) — expire inline.
            first_sent = None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        out, first_sent = _apply_ttl_gate(chunks, first_sent, now, order_cols)
        if out is not None:
            yield out
        if first_sent is not None:
            state.update((int(first_sent),))
            if use_timers:
                # Re-arm the per-key timer relative to the FIRST send so
                # duplicates never extend the TTL.
                remaining = max(1, first_sent + ttl_ms - now)
                state.setTimeoutDuration(int(remaining))

    return dedup_fn


def ttl_dedup(
    keyed_df: DataFrame,
    ttl_seconds: float,
    order_cols: list[str] | None = None,
    clock_ms=None,
    use_timers: bool = True,
) -> DataFrame:
    """Apply the TTL dedup gate to a streaming DataFrame keyed by
    ``idempotent_key``; the output is in update mode.

    The output is the input columns (every field nullable) plus
    ``send_status string``. ``clock_ms`` is injectable for
    deterministic tests (virtual clock).

    ``use_timers=True`` (production, continuous queries) arms a
    per-key processing-time timer that garbage-collects expired state
    (Beam's ``@OnTimer`` clear). Armed timers make Spark schedule
    timer-check micro-batches, which keeps ``Trigger.AvailableNow``
    queries alive — so bounded/test harnesses pass ``use_timers=False``:
    TTL expiry is *also* enforced inline from the stored first-send
    time, so observable SENT / SENT_OR_DUPLICATED semantics are
    identical; only the state-GC mechanism differs (inline removal on
    the key's next visit instead of a background timer).
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if use_timers
        else GroupStateTimeout.NoTimeout
    )
    out_cols = [
        f"{f.name} {f.dataType.simpleString()}" for f in keyed_df.schema.fields
    ]
    return keyed_df.groupBy(KEY_COL).applyInPandasWithState(
        func=_make_dedup_fn(
            int(ttl_seconds * 1000), order_cols, clock_ms, use_timers
        ),
        outputStructType=", ".join(out_cols) + ", send_status string",
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
