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
StateAsyncParDoWithHttpHandler.scala:111-113,133-145). Here the gate
probes a sorted historical key file instead (J1): the driver writes
the distinct historical keys once (``ship_historical_keys``), each
Python worker maps the file once, and a key with no live state that is
found there yields no row and writes no state. The probe is exact
(``np.searchsorted`` plus an equality check). Each key is stored as its
UTF-8 bytes plus a trailing 0xFF byte, which never occurs in UTF-8, so
NumPy's stripping of trailing NUL bytes from fixed-width values cannot
make two keys equal. The gate's state holds live sends only.

Invalid records ride the same gate (``valid_col``), as the reference's
one pipeline tags its KO output (MediationService.scala:124-131): each
row whose validity flag is not true comes out once, under ``INVALID``,
whatever the key's state. It reads and writes no state, gets no probe,
and never decides the status of a valid row with the same key. A visit
that brings only invalid rows re-arms the key's timeout on its stored
deadline, so the key keeps its state and its TTL.

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

import functools
import hashlib
import os
import time
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JError

from pyspark import SparkFiles
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from scio_db_spark.operators.keying import KEY_COL
from scio_db_spark.schemas import INVALID, SENT, SENT_OR_DUPLICATED, struct_ddl

_STATE_SCHEMA = "first_sent_ms long"
BATCH_TS = "__batch_ts"
_MAX_DELAY_MS = 3_600_000
_KEY_END = b"\xff"  # never occurs in UTF-8

# Key files this driver shipped: (application id, input files) ->
# [(historical plan, file name)].
_SHIPPED: dict[tuple, list[tuple[DataFrame, str | None]]] = {}


def _input_files(df: DataFrame) -> tuple | None:
    """Spark's own listing of the files ``df`` reads, (path, length,
    modification time) each, taken from the file indexes of its plan;
    None when a leaf of the plan is not a file relation or no file is
    read."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files = []
    for i in range(leaves.size()):
        try:
            statuses = leaves.apply(i).relation().location().allFiles()
        except Py4JError:
            return None
        for j in range(statuses.size()):
            st = statuses.apply(j)
            files.append(
                (st.getPath().toString(), st.getLen(),
                 st.getModificationTime())
            )
    return tuple(sorted(files)) or None


def _sorted_keys(keys: pa.ChunkedArray) -> np.ndarray:
    """Distinct keys as a sorted fixed-width array of UTF-8 + 0xFF."""
    ended = pc.binary_join_element_wise(
        keys.drop_null().cast(pa.binary()),
        pa.scalar(_KEY_END),
        pa.scalar(b""),
    )
    width = pc.max(pc.binary_length(ended)).as_py() or 1
    return np.unique(ended.to_numpy().astype(f"S{width}"))


def ship_historical_keys(historical_df: DataFrame) -> str | None:
    """Write the distinct ``idempotent_key`` values of ``historical_df``
    to a sorted key file and ship it to the workers with
    ``SparkContext.addFile``; returns its name, None for an empty set.

    The file is named by a hash of its content and written under the
    session's local dir (``spark.local.dir`` / ``SPARK_LOCAL_DIRS``),
    which Spark removes when the JVM exits. The result is memoised per
    SparkContext: a plan with the same semantics over the same files
    (path, length and modification time, from Spark's listing of the
    plan) gets the shipped file back without running a Spark job. A
    plan that reads no files is built afresh every time."""
    sc = historical_df.sparkSession.sparkContext
    files = _input_files(historical_df)
    memo = _SHIPPED.setdefault((sc.applicationId, files), []) if files else []
    for plan, name in memo:
        if plan.sameSemantics(historical_df):
            return name
    keys = _sorted_keys(historical_df.select(KEY_COL).toArrow().column(0))
    name = None
    if len(keys):
        digest = hashlib.sha256(keys.dtype.str.encode() + keys.tobytes())
        name = f"historical-keys-{digest.hexdigest()[:24]}.npy"
        path = os.path.join(
            os.path.dirname(SparkFiles.getRootDirectory()), name
        )
        if not os.path.exists(path):
            np.save(path + ".tmp.npy", keys)
            os.replace(path + ".tmp.npy", path)
        sc.addFile(path)
    memo.append((historical_df, name))
    return name


@functools.cache
def _historical_keys(name: str) -> np.ndarray:
    """The shipped key file ``name``, mapped once per Python worker (a
    module function, so the gate's closure pickles a reference to it)."""
    return np.load(SparkFiles.get(name), mmap_mode="r")


def _is_historical(keys: np.ndarray, key: str) -> bool:
    probe = key.encode() + _KEY_END
    if len(probe) > keys.dtype.itemsize:
        return False
    i = int(np.searchsorted(keys, probe))
    return i < len(keys) and keys[i] == probe


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
    per-key BagState. Neither invalid rows nor historical keys get here:
    the caller sets the former apart and probes the latter first,
    dropping their valid rows (``_make_dedup_fn``).

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


def _split_invalid(
    chunks: list[pd.DataFrame], valid_col: str
) -> tuple[list[pd.DataFrame], list[pd.DataFrame]]:
    """``(valid, invalid)`` row chunks; a null flag is invalid."""
    valid, invalid = [], []
    for pdf in chunks:
        ok = pdf[valid_col].eq(True)
        if ok.all():
            valid.append(pdf)
            continue
        if ok.any():
            valid.append(pdf[ok])
        invalid.append(pdf[~ok])
    return valid, invalid


def _make_dedup_fn(
    ttl_ms: int,
    order_cols: list[str] | None,
    clock_ms=None,
    historical_keys: str | None = None,
    valid_col: str | None = None,
):
    clock_ms = clock_ms or (lambda: int(time.time() * 1000))

    def dedup_fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # W5/onTtl: the watermark passed the key's deadline — clear
            # its state (StateBaseAsyncDoFn.java:156-166).
            state.remove()
            return
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if valid_col is not None:
            chunks, invalid = _split_invalid(chunks, valid_col)
            for pdf in invalid:
                yield pdf.assign(send_status=INVALID)
        now = clock_ms()
        first_sent = state.get[0] if state.exists else None
        if not chunks:
            # Invalid rows only: the state stays as it is, and the
            # timeout goes back on the deadline it had.
            if first_sent is not None:
                arm_timeout(state, first_sent + ttl_ms - now)
            return
        if first_sent is not None and now - first_sent >= ttl_ms:
            # Deadline passed but the watermark has not reached it yet
            # (a key with data is never timed out) — expire inline.
            first_sent = None
        if (
            first_sent is None
            and historical_keys is not None
            and key[0] is not None
            and _is_historical(_historical_keys(historical_keys), key[0])
        ):
            # D3: already notified — no row, no state.
            if state.exists:
                state.remove()
            return
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
    historical_keys: str | None = None,
    valid_col: str | None = None,
) -> DataFrame:
    """Apply the TTL dedup gate to a streaming DataFrame keyed by
    ``idempotent_key``; the output is in update mode.

    ``historical_keys`` names a key file from ``ship_historical_keys``:
    a key with no live state that is in it is dropped (D3).

    ``valid_col`` names a boolean input column: a row where it is not
    true passes through once as ``INVALID`` and takes no part in the
    gate (see the module docstring).

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
            func=_make_dedup_fn(
                ttl_ms, order_cols, clock_ms, historical_keys, valid_col
            ),
            outputStructType=struct_ddl(stamped.schema, "send_status string"),
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .drop(BATCH_TS)
    )
