"""Deduplication operators (D1, D4 batch analogue, TTL sessionization).

Reference semantics:

- D1 stateless ``distinctByKey`` — ``MediationService.scala:115,125,219``.
- D4 duplicate contract — duplicates are not dropped silently, they emit
  ``SENT_OR_DUPLICATED`` (``StateAsyncParDoWithHttpHandler.scala:155-164``,
  ``MyHttpResponse.scala:11``).
- D2 TTL state — a key may be re-sent once its state expired
  (``StateBaseAsyncDoFn.java:156-166``). The exact streaming form lives in
  ``scio_db_spark.streaming.ttl_dedup``; the batch analogue here is
  gap-based sessionization: a new "send" begins when the key was quiet
  for >= ttl.

Scale notes: all of these are single-shuffle window/aggregate plans on
the key. ``dropDuplicates`` map-side-combines before the shuffle;
the window-function forms shuffle once on ``(key)`` and sort within
partitions — at 100 TB the shuffle is hash-partitioned on the dedup key,
so skewed hot keys should be pre-salted or handled by AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scio_db_spark.schemas import SENT, SENT_OR_DUPLICATED


def distinct_by_key(df: DataFrame, *key_cols: str) -> DataFrame:
    """D1: keep one arbitrary row per key (Beam ``distinctByKey``)."""
    if not key_cols:
        # dropDuplicates([]) dedups on ZERO columns — the whole frame
        # collapses to one arbitrary row. The variadic signature makes
        # forgetting the keys type-check fine; fail loudly instead of
        # silently discarding a corpus.
        raise ValueError(
            "distinct_by_key needs at least one key column (a zero-"
            "column dropDuplicates keeps exactly one arbitrary row)"
        )
    return df.dropDuplicates(list(key_cols))


def streaming_distinct_by_key(
    df: DataFrame,
    *key_cols: str,
    watermark_col: str,
    delay: str,
) -> DataFrame:
    """D1 streaming form with BOUNDED state: Spark's native
    ``dropDuplicatesWithinWatermark``.

    Guarantees dedup for duplicates arriving within ``delay`` of the
    first occurrence and lets the engine expire key state past the
    watermark — the same bounded-memory contract as the TTL gate
    (streaming/ttl_dedup.py) when the caller only needs drop-dup
    semantics (no SENT_OR_DUPLICATED emission, no per-key timers).
    Past the watermark a re-arriving key is emitted again, mirroring
    TTL expiry re-sends with ttl ≈ watermark delay.
    """
    return df.withWatermark(
        watermark_col, delay
    ).dropDuplicatesWithinWatermark(list(key_cols))


def first_per_key(
    df: DataFrame, key_cols: list[str], order_cols: list[str | Column]
) -> DataFrame:
    """Deterministic D1: keep the first row per key under an ordering.

    Uses ``row_number`` over a window — one shuffle on the key, then a
    partition-local sort; no driver collection.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def mark_duplicates(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str | Column],
    status_col: str = "send_status",
) -> DataFrame:
    """D4: keep every row; first-per-key is SENT, repeats SENT_OR_DUPLICATED."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn(
        status_col,
        F.when(F.row_number().over(w) == 1, F.lit(SENT)).otherwise(
            F.lit(SENT_OR_DUPLICATED)
        ),
    )


def ttl_sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    ttl_seconds: int,
    tie_cols: list[str] | None = None,
    session_col: str = "session_id",
    status_col: str = "send_status",
) -> DataFrame:
    """Batch analogue of TTL-keyed dedup state (D2).

    A row starts a new session (⇒ would be SENT) when the key has been
    quiet for >= ``ttl_seconds``; rows inside a live session are
    duplicates (⇒ SENT_OR_DUPLICATED). Classic lag + cumulative-sum
    sessionization — two window functions over one shuffle.
    ``tie_cols`` make the per-key ordering total (deterministic output
    when timestamps collide).
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col, *(tie_cols or []))
    # NTZ-proof: TIMESTAMP_NTZ can't cast straight to double, but
    # NTZ→TIMESTAMP is legal (and a no-op on an ltz column).
    secs = F.col(ts_col).cast("timestamp").cast("double")
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(gap.isNull() | (gap >= ttl_seconds), 1).otherwise(0)
    out = df.withColumn("__new_session", is_new)
    out = out.withColumn(
        session_col,
        F.sum("__new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    out = out.withColumn(
        status_col,
        F.when(F.col("__new_session") == 1, F.lit(SENT)).otherwise(
            F.lit(SENT_OR_DUPLICATED)
        ),
    )
    return out.drop("__new_session")
