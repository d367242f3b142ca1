"""Streaming TTL-dedup contract tests (SURVEY.md §2.5 D2/D4, §5).

The Spark analogue of MediationServiceSpec.scala:45-83: deterministic
micro-batches through the file-drop harness, asserting

- 3 duplicates -> 1 SENT + 2 SENT_OR_DUPLICATED (D4: emitted, not dropped);
- a later batch inside the TTL -> SENT_OR_DUPLICATED;
- after TTL expiry the key sends again, and its state is removed under
  an ``availableNow`` trigger too (W5 timer-clear semantics).

Already-notified records (the reference's INITIAL_LOAD_ seed, D3) are
dropped inside the gate: a key with no live state is probed in the
shipped historical key file, and a hit yields no row and no state (the
probe's exactness tests below; the pipeline wiring in
test_mediation_pipeline.py).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from scio_db_spark.streaming.harness import StreamHarness
from scio_db_spark.streaming.ttl_dedup import ship_historical_keys, ttl_dedup

SCHEMA = StructType(
    [
        StructField("idempotent_key", StringType()),
        StructField("payload", StringType()),
        StructField("ts", DoubleType()),
    ]
)


def _statuses(rows, key):
    return sorted(
        (r.ts, r.send_status) for r in rows if r.idempotent_key == key
    )


@pytest.fixture()
def harness(spark):
    h = StreamHarness(spark, SCHEMA)
    yield h
    h.stop()


def test_three_duplicates_one_send(spark, harness):
    harness.start(
        lambda s: ttl_dedup(s, ttl_seconds=3600, order_cols=["ts"])
    )
    harness.add_batch(
        [
            Row(idempotent_key="tx1-1", payload="a", ts=1.0),
            Row(idempotent_key="tx1-1", payload="b", ts=2.0),
            Row(idempotent_key="tx1-1", payload="c", ts=3.0),
            Row(idempotent_key="tx2-2", payload="d", ts=1.0),
        ]
    )
    rows = harness.results()
    assert _statuses(rows, "tx1-1") == [
        (1.0, "SENT"),
        (2.0, "SENT_OR_DUPLICATED"),
        (3.0, "SENT_OR_DUPLICATED"),
    ]
    assert _statuses(rows, "tx2-2") == [(1.0, "SENT")]


def test_duplicate_across_batches_then_ttl_expiry(spark, harness):
    ttl = 6.0
    harness.start(
        lambda s: ttl_dedup(s, ttl_seconds=ttl, order_cols=["ts"])
    )
    harness.add_batch([Row(idempotent_key="k", payload="a", ts=1.0)])
    harness.add_batch([Row(idempotent_key="k", payload="b", ts=2.0)])
    rows = harness.results()
    assert _statuses(rows, "k") == [(1.0, "SENT"), (2.0, "SENT_OR_DUPLICATED")]

    # After the TTL elapses the key's state is cleared and it sends again
    # (StateBaseAsyncDoFn.java:156-166 onTtl -> clear).
    time.sleep(ttl + 2)
    harness.add_batch([Row(idempotent_key="k", payload="c", ts=3.0)])
    rows = harness.results()
    assert _statuses(rows, "k")[-1] == (3.0, "SENT")


def _state_ops(progress):
    return [p["stateOperators"][0] for p in progress if p["stateOperators"]]


def test_available_now_pass_removes_expired_keys(spark, harness):
    """A bounded pass clears expired state too: once TTL + delay
    (``min(TTL, 1 hour)``) has passed, the pass that brings k2 moves the
    watermark past k1's deadline, and its trailing batch removes k1."""
    ttl = 2.0
    harness.start(
        lambda s: ttl_dedup(s, ttl_seconds=ttl, order_cols=["ts"])
    )
    first = harness.add_batch([Row(idempotent_key="k1", payload="a", ts=1.0)])
    assert _state_ops(first)[-1]["numRowsTotal"] == 1
    time.sleep(2 * ttl + 1)
    ops = _state_ops(
        harness.add_batch([Row(idempotent_key="k2", payload="b", ts=2.0)])
    )
    assert sum(op["numRowsRemoved"] for op in ops) >= 1
    assert ops[-1]["numRowsTotal"] == 1  # k2 alone
    assert all(op["numRowsDroppedByWatermark"] == 0 for op in ops)
    assert _statuses(harness.results(), "k2") == [(2.0, "SENT")]


def test_multichunk_key_sends_globally_first_row(spark):
    # A key whose micro-batch rows span multiple Arrow chunks must mark
    # the globally first-ordered row SENT, not the first chunk's first.
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        h = StreamHarness(spark, SCHEMA)
        h.start(
            lambda s: ttl_dedup(s, ttl_seconds=3600, order_cols=["ts"])
        )
        # 10 rows, one key, descending ts — the LAST row (ts=1.0) is
        # globally first and sits in the final Arrow chunk.
        h.add_batch(
            [
                Row(idempotent_key="k", payload=str(i), ts=float(10 - i))
                for i in range(10)
            ]
        )
        rows = h.results()
        sent = [r for r in rows if r.send_status == "SENT"]
        assert len(sent) == 1 and sent[0].ts == 1.0
        assert len(rows) == 10
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
        h.stop()


def test_streaming_distinct_by_key_bounded_state(spark):
    """D1 streaming form: duplicates inside the watermark delay drop
    (even across micro-batches); once the watermark passes, the key's
    state expires and it emits again (TTL-expiry analogue)."""
    import datetime

    from pyspark.sql.types import TimestampType

    from scio_db_spark.operators.dedup import streaming_distinct_by_key

    sch = StructType(
        [
            StructField("k", StringType()),
            StructField("event_time", TimestampType()),
        ]
    )
    h = StreamHarness(spark, sch)

    def ts(s):
        return datetime.datetime.fromisoformat(s)

    try:
        h.start(
            lambda s: streaming_distinct_by_key(
                s, "k", watermark_col="event_time", delay="10 minutes"
            ),
            output_mode="append",
        )
        h.add_batch([Row(k="a", event_time=ts("2024-01-01T10:00:00"))])
        h.add_batch([Row(k="a", event_time=ts("2024-01-01T10:01:00"))])
        rows = h.results()
        assert len([r for r in rows if r.k == "a"]) == 1  # dup dropped
        # advance the watermark far past a's state, then re-send
        h.add_batch([Row(k="z", event_time=ts("2024-01-01T12:00:00"))])
        h.add_batch([Row(k="a", event_time=ts("2024-01-01T12:01:00"))])
        rows = h.results()
        assert len([r for r in rows if r.k == "a"]) == 2  # re-emitted
    finally:
        h.stop()


def test_hot_key_batch_is_bounded_and_correct(spark, harness):
    """Pathological hot key (round-3 VERDICT #9): one key flooding a
    micro-batch stays within the documented bound — the gate holds
    that key's batch rows in pandas once (same bound as the
    reference's BagState), the per-row work is vectorized, and the
    contract holds: exactly one SENT, every other row
    SENT_OR_DUPLICATED, all rows EMITTED (D4)."""
    n = 50_000
    harness.start(
        lambda s: ttl_dedup(s, ttl_seconds=3600, order_cols=["ts"])
    )
    harness.add_batch(
        [
            Row(idempotent_key="hot", payload=f"p{i}", ts=float(i))
            for i in range(n)
        ]
        + [Row(idempotent_key="cold", payload="x", ts=1.0)]
    )
    rows = harness.results()
    hot = [r for r in rows if r.idempotent_key == "hot"]
    assert len(hot) == n  # D4: emitted, never dropped
    by_status = {}
    for r in hot:
        by_status.setdefault(r.send_status, []).append(r.ts)
    assert by_status["SENT"] == [0.0]  # deterministic first by order_cols
    assert len(by_status["SENT_OR_DUPLICATED"]) == n - 1
    assert _statuses(rows, "cold") == [(1.0, "SENT")]


def test_apply_ttl_gate_vectorized_hot_key_direct():
    """Unit form of the hot-key bound: 200k single-key rows through
    the shared gate core complete in pandas-vectorized time with one
    SENT and the first-send watermark advanced once."""
    import pandas as pd

    from scio_db_spark.streaming.ttl_dedup import _apply_ttl_gate

    n = 200_000
    pdf = pd.DataFrame(
        {"idempotent_key": ["hot"] * n, "ts": range(n)}
    )
    out, first_sent = _apply_ttl_gate(
        [pdf.iloc[: n // 2], pdf.iloc[n // 2 :]],
        first_sent=None,
        now=1_000,
        order_cols=["ts"],
    )
    assert first_sent == 1_000
    assert len(out) == n
    counts = out["send_status"].value_counts()
    assert counts["SENT"] == 1
    assert counts["SENT_OR_DUPLICATED"] == n - 1
    assert out.iloc[0]["ts"] == 0  # SENT goes to the first-ordered row
    assert out.iloc[0]["send_status"] == "SENT"


def _ship(spark, *keys):
    return ship_historical_keys(
        spark.createDataFrame([(k,) for k in keys], "idempotent_key string")
    )


def test_historical_probe_is_exact(spark, harness):
    """D3: a key in the historical set yields no row and writes no
    state; every other key is SENT, however close to a historical one.
    Keys are stored with a trailing 0xFF byte, so NumPy's stripping of
    trailing NUL bytes cannot make ``tx1-1`` equal ``tx1-1\\x00``."""
    hist = _ship(spark, "tx0-9", "tx1-1\x00", "tx2-\u00e9", "w" * 40)
    harness.start(
        lambda s: ttl_dedup(s, ttl_seconds=3600, historical_keys=hist)
    )
    live = ["tx0-99", "tx0-", "tx0-9\x00", "tx0-9\u00e9", "tx1-1",
            "tx2-e", "tx2-\u00e9\u00e9", "w" * 41]
    progress = harness.add_batch(
        [Row(idempotent_key=k, payload="p", ts=1.0)
         for k in ["tx0-9", *live, "tx0-9", "tx2-\u00e9", "w" * 40]]
    )
    assert sorted(
        (r.idempotent_key, r.send_status) for r in harness.results()
    ) == sorted((k, "SENT") for k in live)
    assert _state_ops(progress)[-1]["numRowsTotal"] == len(live)


def test_empty_historical_set_drops_nothing(spark, harness):
    hist = _ship(spark)
    harness.start(
        lambda s: ttl_dedup(s, ttl_seconds=3600, historical_keys=hist)
    )
    harness.add_batch(
        [Row(idempotent_key=k, payload="p", ts=1.0) for k in ["a", "", "b"]]
    )
    assert sorted(
        (r.idempotent_key, r.send_status) for r in harness.results()
    ) == [("", "SENT"), ("a", "SENT"), ("b", "SENT")]
