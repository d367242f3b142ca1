"""Continuous-query streaming tests: TTL dedup state clean-up (W5) in a
long-running query, and streaming dropDuplicates (D1 streaming form).

The TTL test runs a REAL continuous micro-batch query, waits on
observed output, and reads the state operator's progress: after TTL
plus the watermark delay, the batch-clock timeout removes the expired
key once new input moves the watermark (see streaming/ttl_dedup.py).
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid

import pytest
from pyspark.sql import Row

from scio_db_spark.streaming.ttl_dedup import ttl_dedup

SCHEMA = "idempotent_key string, payload string, ts double"


def _drop_file(spark, input_dir, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    staging = tempfile.mkdtemp(prefix="cq_stage_")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(
        f for f in os.listdir(staging)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.rename(
        os.path.join(staging, part),
        os.path.join(input_dir, f"b_{uuid.uuid4().hex}.parquet"),
    )


def _wait_until(pred, timeout=60.0, step=0.5):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(step)
    return False


@pytest.mark.slow
def test_ttl_expiry_removes_state_in_continuous_query(spark):
    input_dir = tempfile.mkdtemp(prefix="cq_in_")
    ck = tempfile.mkdtemp(prefix="cq_ck_")
    collected: list = []

    ttl = 6.0
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    deduped = ttl_dedup(stream, ttl_seconds=ttl, order_cols=["ts"])
    query = (
        deduped.writeStream.foreachBatch(
            lambda b, _e: collected.extend(b.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", ck)
        .start()
    )

    def state_ops():
        return [
            p["stateOperators"][0]
            for p in query.recentProgress
            if p["stateOperators"]  # none before the first batch
        ]

    try:
        _drop_file(spark, input_dir, [Row("k1", "a", 1.0)])
        assert _wait_until(lambda: len(collected) >= 1)
        assert collected[0].send_status == "SENT"

        # Within the TTL: duplicate.
        _drop_file(spark, input_dir, [Row("k1", "b", 2.0)])
        assert _wait_until(lambda: len(collected) >= 2)
        assert collected[1].send_status == "SENT_OR_DUPLICATED"

        # Sleep past TTL + delay (min(TTL, 1 hour)). A new key moves the
        # watermark past k1's deadline, and the batch after it removes
        # k1's state (StateBaseAsyncDoFn.java:156-166).
        time.sleep(2 * ttl + 2)
        _drop_file(spark, input_dir, [Row("k2", "c", 3.0)])
        assert _wait_until(lambda: len(collected) >= 3)
        assert collected[2].send_status == "SENT"
        assert _wait_until(
            lambda: sum(op["numRowsRemoved"] for op in state_ops()) >= 1
            and state_ops()[-1]["numRowsTotal"] == 1
        ), state_ops()

        # The key sends again.
        _drop_file(spark, input_dir, [Row("k1", "d", 4.0)])
        assert _wait_until(lambda: len(collected) >= 4)
        assert collected[3].send_status == "SENT"
        assert all(op["numRowsDroppedByWatermark"] == 0 for op in state_ops())
    finally:
        query.stop()


def test_streaming_drop_duplicates_within_watermark(spark):
    # D1 streaming form: dropDuplicates on the key column.
    from scio_db_spark.streaming.harness import StreamHarness

    h = StreamHarness(spark, SCHEMA)
    h.start(
        lambda s: s.dropDuplicates(["idempotent_key"]),
        output_mode="append",
    )
    h.add_batch(
        [
            Row(idempotent_key="a", payload="1", ts=1.0),
            Row(idempotent_key="a", payload="2", ts=2.0),
            Row(idempotent_key="b", payload="3", ts=1.0),
        ]
    )
    rows = h.results()
    assert sorted(r.idempotent_key for r in rows) == ["a", "b"]
    # Cross-batch: the state remembers 'a'.
    h.add_batch([Row(idempotent_key="a", payload="4", ts=3.0)])
    assert len(h.results()) == 2
    h.stop()
