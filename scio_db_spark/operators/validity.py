"""Validity predicate + OK/KO routing (F1/F2, K5 feed).

Reference: ``MyEventRecordUtils.scala:15-25`` (``isBerValid`` = non-null
``event.transactionId`` ∧ ``notification.id`` ∧ ``customer.id``);
``MediationService.scala:233-251`` partitions the stream into
(invalid → toxic sink, valid → mediation path).

``split_ok_ko`` is two filters over one predicate, so each branch is
its own plan: it reads the source once only when the source is cached
or both branches run in one job, as in the batch plans. A stream is
not split: two streaming queries over the two branches would each
list and read every input file. The mediation pipeline keeps one
query instead; it flags each row with ``is_valid_ber`` and the TTL gate
passes the invalid ones through as ``INVALID``
(``streaming.mediation.build_mediation_core``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def is_valid_ber(
    transaction_id: str | Column = "transaction_id",
    notification_id: str | Column = "notification_id",
    customer_id: str | Column = "customer_id",
) -> Column:
    cols = [
        F.col(c) if isinstance(c, str) else c
        for c in (transaction_id, notification_id, customer_id)
    ]
    pred = cols[0].isNotNull()
    for c in cols[1:]:
        pred = pred & c.isNotNull()
    return pred


def split_ok_ko(df: DataFrame, valid: Column) -> tuple[DataFrame, DataFrame]:
    """2-way partition: returns ``(ok, ko)``.

    ``ko`` uses null-safe negation: a null predicate (any key column
    null) routes to KO, matching the reference where a null field makes
    the record invalid.
    """
    ok = df.filter(valid)
    ko = df.filter(~F.coalesce(valid, F.lit(False)))
    return ok, ko
