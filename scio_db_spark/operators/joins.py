"""Lookup / split joins (J1-J5).

All the reference's joins are broadcast-style lookups against a side
input. Spark-first mapping:

- J1 dup-vs-new split vs a historical map
  (``MediationService.scala:163-205``) → left-anti + left-semi joins on
  a broadcast static DataFrame.
- J2/J3 enrichment (``MinimalPubSubBQLookup.scala:39-46``,
  ``JavaMinimalPubSubBQLookup.java:121-132``) → broadcast left-outer
  join with a default for misses.
- J4 singleton-map uniqueness contract (``asMapSingletonSideInput``
  throws on duplicate keys, tested at ``MediationServiceSpec.scala:156-173``)
  → explicit distributed assertion.

Scale notes: the lookup side is broadcast (must fit in executor memory,
same constraint the reference documents at mediation/README.md:136-137);
the big side is never shuffled. For lookup tables too large to
broadcast, callers fall back to a shuffled join where bucketing the big
side on the key amortizes the exchange across stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def anti_join_split(
    stream_df: DataFrame, lookup_df: DataFrame, on: list[str]
) -> tuple[DataFrame, DataFrame]:
    """J1: returns ``(new, duplicated)`` vs a (broadcast) lookup set.

    The two returned frames are independently-executed plans: a caller
    consuming BOTH legs re-scans and re-broadcasts the deduplicated
    lookup once per action. That is deliberate — every in-repo caller
    consumes one leg, and pre-materializing (cache/localCheckpoint)
    a potentially table-sized key set to help the both-legs case would
    tax the common one. A both-legs caller should materialize the
    deduped lookup itself before splitting.
    """
    if not on:
        raise ValueError("anti_join_split needs at least one key column")
    hinted = F.broadcast(lookup_df.select(*on).dropDuplicates(on))
    new = stream_df.join(hinted, on=on, how="left_anti")
    dup = stream_df.join(hinted, on=on, how="left_semi")
    return new, dup


def lookup_join(
    stream_df: DataFrame,
    lookup_df: DataFrame,
    on: list[str],
    default: dict[str, object] | None = None,
    hint_broadcast: bool = True,
) -> DataFrame:
    """J2/J3: broadcast left-outer enrichment; misses get defaults.

    ``default`` maps lookup column -> value used when the key misses
    (the Java variant's ``getOrDefault(key, "")``).

    ``hint_broadcast=True`` matches the reference's side-input
    semantics for genuinely dim-sized lookups; pass ``False`` for a
    fact-scale lookup table (the hint OVERRIDES the size threshold and
    AQE, so at SF100 a forced broadcast of a 15M-row customer table is
    a driver OOM — let the planner decide there).
    """
    hinted = F.broadcast(lookup_df) if hint_broadcast else lookup_df
    out = stream_df.join(hinted, on=on, how="left")
    for col, val in (default or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(val)))
    return out


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "0 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (beyond the reference's surface).

    Matches right rows whose ``right_time`` falls inside
    ``[left_time - lower, left_time + upper]`` for equal keys — the
    impression/click correlation shape. The reference has no
    stream-stream join (its only joins are side-input lookups, J1-J5);
    this is the engine's stream-stream join, Spark's native one.

    Both sides get ``withWatermark`` (a no-op under batch execution, so
    the same plan is unit-testable on static frames): the watermark plus
    the time-range condition is what lets Spark BOUND the join state —
    buffered rows are evicted once the other side's watermark passes
    their eligibility window, so state size is O(rows within the
    interval + lateness horizon) per key, not O(stream). At 100 TB/day
    that eviction is the difference between a working join and an
    unbounded state store; keep ``upper`` as tight as the semantics
    allow.

    Column names must not collide across sides (rename before joining);
    keys stay separate columns so outer-join null-padding remains
    distinguishable.
    """
    left = left.withWatermark(left_time, watermark)
    right = right.withWatermark(right_time, watermark)
    cond = (
        (left[left_key] == right[right_key])
        & (right[right_time] >= left[left_time] - F.expr(f"INTERVAL {lower}"))
        & (right[right_time] <= left[left_time] + F.expr(f"INTERVAL {upper}"))
    )
    return left.join(right, cond, how)


def assert_unique_keys(df: DataFrame, *key_cols: str) -> DataFrame:
    """J4: raise if any key occurs more than once (singleton-map contract).

    Distributed check — one aggregation, limit 1; no full collect.
    """
    dupes = (
        df.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1).collect()
    )
    if dupes:
        row = dupes[0]
        raise ValueError(
            f"duplicate key in singleton lookup: {tuple(row[c] for c in key_cols)}"
        )
    return df
