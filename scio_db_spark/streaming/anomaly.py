"""Keyed rolling anomaly detection — streaming and its exact batch twin.

The monitoring staple the reference's mediation pipeline stops short
of: flag each reading whose deviation from its key's OWN history
exceeds k standard deviations. Two forms with IDENTICAL decisions:

- ``anomaly_plan_batch``: prefix-window form (per key, ordered by
  (ts, id), baseline = all PRECEDING rows) — registered as the
  oracle-checked ``events_rolling_anomaly_census``.
- ``anomaly_detect_stream``: ``applyInPandasWithState`` form whose
  per-key state is the same three integers the batch windows compute
  (n, Σx, Σx²) — so a stream fed the same rows in the same order
  produces bit-identical decisions to the batch plan (pinned in
  tests/test_anomaly.py), and micro-batch boundaries cannot move
  them.

Float policy (the reason this is exactly verifiable at all): values
are centified to BIGINT through the proven DECIMAL(18,2) path, and
the k-sigma test is cross-multiplied into pure integer arithmetic —
``dev² > k²·var`` becomes

    (n·x − Σx)²·(n−1)  >  k²·(n·Σx² − (Σx)²)·n

evaluated in DECIMAL(38,0) (Python ints on the streaming side). No
mean, no sqrt, no float anywhere, so both engines and both forms
agree to the bit. NULL values are excluded from output and history on
every path. Headroom: batch sums live in DECIMAL(38,0) end-to-end
(|Σx| ≤ 1e14 cents keeps every product under 1e38); the streaming
STATE schema is int64, so a key's Σx² is bounded by 2^63 —
~9e9 rows of typical 2-decimal values — past which state.update fails
LOUDLY (never a silent wrap; widen the state schema if a deployment
ever approaches that).

Scale: batch form is one shuffle on the key + running integer window
(no second scan); streaming state is the three integers plus the
key's last-touch time, hash-partitioned in the state store —
cardinality-bounded, not volume-bounded. ``idle_timeout_ms`` bounds
it to live keys: idle keys expire on the TTL gate's batch clock
(streaming/ttl_dedup.py), so a bounded pass ends and an idle
continuous query stops running batches.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from scio_db_spark.schemas import struct_ddl
from scio_db_spark.streaming.exactness import exact_int64
from scio_db_spark.streaming.ttl_dedup import arm_timeout, stamp_batch_clock

_STATE_SCHEMA = "n long, sx long, sx2 long, touched_ms long"


def _cents(col: Column) -> Column:
    """Exact integer cents via the proven double→DECIMAL(18,2) path
    (half-up on both engines; see plans/relational.py module doc)."""
    return (col.cast("decimal(18,2)") * 100).cast("long")


def _decide_int(n: int, sx: int, sx2: int, x: int, k: int) -> bool:
    """The exact integer k-sigma test (Python-int twin of the
    DECIMAL(38,0) expression in anomaly_plan_batch)."""
    d = n * x - sx
    return d * d * (n - 1) > k * k * (n * sx2 - sx * sx) * n


def anomaly_plan_batch(
    df: DataFrame,
    key_col: str,
    value_col: str,
    order_cols: tuple[str, ...],
    k: int = 3,
    min_n: int = 30,
) -> DataFrame:
    """Input rows + (n_prev, is_scored, is_anomaly): each row judged
    against the exact mean/variance of its key's PRECEDING rows."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    x = _cents(F.col(value_col))
    dec = "decimal(38,0)"
    zero = F.lit(0).cast(dec)
    # Sums accumulate in DECIMAL(38,0) from the first addition: a LONG
    # Σx² wraps silently past 2^63 with ANSI off (x=3.1e9 cents makes
    # x² alone overflow, and typical values cross at ~1e10 rows/key),
    # which would break the bit-identical batch==oracle==stream
    # contract far below the documented 1e38 envelope.
    #
    # The exclusion predicate is __x IS NULL — the CENTIFIED value —
    # not the raw value: a NaN (or out-of-DECIMAL(18,2)-range) double
    # is non-null yet centifies to NULL, and the streaming form can
    # only see the centified column, so filtering on anything else
    # would make the two forms disagree on row membership. Rows whose
    # reading carries no scoreable value are excluded from output,
    # history, and both engines' counts alike.
    #
    # The empty-frame default is when(n > 0), NOT coalesce: coalesce
    # would also rewrite a DECIMAL-overflow NULL (past the 1e38
    # envelope, ANSI off) into a fabricated zero history that flags
    # everything — overflow must surface as NULL decisions, matching
    # the loud-failure posture of the stream (int64 state) and the
    # oracle (DuckDB throws).
    has_hist = F.col("__n") > 0
    out = (
        df.withColumn("__x", x)
        .filter(F.col("__x").isNotNull())
        .withColumn("__n", F.count("__x").over(w))
        .withColumn(
            "__sx",
            F.when(
                has_hist, F.sum(F.col("__x").cast(dec)).over(w)
            ).otherwise(zero),
        )
        .withColumn(
            "__sx2",
            F.when(
                has_hist,
                F.sum(
                    F.col("__x").cast(dec) * F.col("__x").cast(dec)
                ).over(w),
            ).otherwise(zero),
        )
    )
    dn = F.col("__n").cast(dec)
    dx = F.col("__x").cast(dec)
    dsx = F.col("__sx").cast(dec)
    dsx2 = F.col("__sx2").cast(dec)
    d = dn * dx - dsx
    lhs = d * d * (dn - 1)
    rhs = F.lit(k * k).cast(dec) * (dn * dsx2 - dsx * dsx) * dn
    scored = F.col("__n") >= min_n
    return (
        out.withColumn("is_scored", scored)
        .withColumn("is_anomaly", scored & (lhs > rhs))
        .withColumn("n_prev", F.col("__n"))
        .drop("__x", "__n", "__sx", "__sx2")
    )


def _make_anomaly_fn(
    order_cols: tuple[str, ...],
    k: int,
    min_n: int,
    passthrough: list[str],
    idle_timeout_ms: int | None = None,
):
    def fn(
        key: Any,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Idle eviction: the batch clock passed the key's idle
            # deadline — drop its state.
            state.remove()
            return
        now = state.getCurrentProcessingTimeMs()
        n, sx, sx2, touched = state.get if state.exists else (0, 0, 0, now)
        if idle_timeout_ms is not None and now - touched >= idle_timeout_ms:
            # Idle past the deadline but not yet timed out (a key with
            # data never is): expire inline. The key is NOT remembered
            # as anomalous or clean — it re-warms from n=0 (is_scored
            # stays False until min_n readings accrue again) instead of
            # being judged against a stale distribution.
            n, sx, sx2 = 0, 0, 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        # NULL values are excluded from output and history (the batch
        # twin filters them before its windows); without this a NULL
        # arrives as NaN and int() would kill the query.
        rows = rows[rows["__x"].notna()]
        rows = rows.assign(__x=exact_int64(rows["__x"]))
        # Deterministic order inside the batch — the batch twin's
        # window ordering; across batches the state integers carry.
        rows = rows.sort_values(list(order_cols), kind="mergesort")
        out_scored, out_anom, out_nprev = [], [], []
        for cents in rows["__x"]:
            c = int(cents)
            scored = n >= min_n
            out_scored.append(scored)
            out_anom.append(scored and _decide_int(n, sx, sx2, c, k))
            out_nprev.append(n)
            n, sx, sx2 = n + 1, sx + c, sx2 + c * c
        # Every batch that touches a key with state resets its idle
        # clock (even an all-NULL one — the key is demonstrably alive);
        # an all-NULL batch allocates no state for a new key.
        if len(rows) or state.exists:
            state.update((n, sx, sx2, now))
            if idle_timeout_ms is not None:
                arm_timeout(state, idle_timeout_ms)
        res = rows[passthrough].copy()
        res["is_scored"] = out_scored
        res["is_anomaly"] = out_anom
        res["n_prev"] = out_nprev
        yield res

    return fn


def anomaly_detect_stream(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    order_cols: tuple[str, ...],
    k: int = 3,
    min_n: int = 30,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming form: per-key state is (n, Σx, Σx²) — the same
    integers the batch windows compute, so decisions are identical
    for identical row order — plus the batch time the key was last
    touched. Output = input columns + is_scored, is_anomaly, n_prev
    (append mode).

    ``idle_timeout_ms``: expire a key once that long passes without a
    batch touching it, on the TTL gate's batch clock
    (``stamp_batch_clock``). At 1M+ distinct keys the state store is
    the scaling bound — without eviction a one-shot key holds its
    state forever. Live keys' decisions are unchanged; a key that
    returns after the idle time RE-WARMS from n=0 (is_scored False
    until min_n readings), whether or not a trailing batch has removed
    its state yet. None = keep state forever. The state layout is the
    same either way, so a checkpoint can switch eviction on or off."""
    passthrough = list(stream_df.columns)
    keyed = stamp_batch_clock(
        stream_df.withColumn("__x", _cents(F.col(value_col))),
        idle_timeout_ms,
    )
    return keyed.groupBy(key_col).applyInPandasWithState(
        func=_make_anomaly_fn(
            order_cols, k, min_n, passthrough, idle_timeout_ms
        ),
        outputStructType=struct_ddl(
            stream_df.schema,
            "is_scored boolean",
            "is_anomaly boolean",
            "n_prev long",
        ),
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
