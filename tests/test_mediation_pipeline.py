"""End-to-end mediation pipeline test (SURVEY.md §3.1).

The Spark analogue of the reference's flagship spec
(MediationServiceSpec.scala:45-83): deterministic micro-batches through
validate → key → historical anti-join → stateful TTL dedup, asserting
the full routing contract.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import Row

from scio_db_spark.streaming.harness import StreamHarness
from scio_db_spark.streaming.mediation import build_mediation_core

FLAT = (
    "transaction_id string, notification_id string, customer_id string, "
    "message string, ts double"
)


def _ber(tx, nid, cid, msg="m", ts=1.0):
    return Row(
        transaction_id=tx, notification_id=nid, customer_id=cid,
        message=msg, ts=ts,
    )


def test_mediation_core_end_to_end(spark):
    # Historical: key tx0-9 was already notified (J1 anti-join drop).
    hist = spark.createDataFrame([Row(idempotent_key="tx0-9")])

    h = StreamHarness(spark, FLAT)
    h.start(
        lambda s: build_mediation_core(
            s, historical_df=hist, ttl_seconds=3600, order_cols=["ts"],
        )["deduped"]
    )
    h.add_batch(
        [
            _ber("tx1", "n1", "1", ts=1.0),
            _ber("tx1", "n1", "1", ts=2.0),   # duplicate in-batch
            _ber("tx0", "n0", "9", ts=1.0),   # historical -> dropped
            _ber(None, "n2", "2", ts=1.0),    # invalid -> KO branch
            _ber("tx3", "n3", "3", ts=1.0),
        ]
    )
    rows = h.results()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.idempotent_key, []).append(r.send_status)
    assert sorted(by_key["tx1-1"]) == ["SENT", "SENT_OR_DUPLICATED"]
    assert by_key["tx3-3"] == ["SENT"]
    assert "tx0-9" not in by_key          # dropped by anti-join
    assert not any(k.startswith("n2") for k in by_key)  # invalid not sent

    # Second batch: tx1-1 still inside TTL -> duplicate.
    h.add_batch([_ber("tx1", "n1", "1", ts=9.0)])
    rows = h.results()
    assert [
        s for r in rows if r.idempotent_key == "tx1-1"
        for s in [r.send_status]
    ].count("SENT") == 1
    h.stop()


def test_mediation_ko_branch(spark):
    from scio_db_spark.operators.keying import with_idempotent_key
    from scio_db_spark.operators.validity import is_valid_ber, split_ok_ko

    df = spark.createDataFrame(
        [
            _ber("tx1", "n1", "1"),
            _ber(None, "n2", "2"),
            _ber("tx3", None, "3"),
        ],
        FLAT,
    )
    keyed = with_idempotent_key(df, "transaction_id", "customer_id")
    ok, ko = split_ok_ko(keyed, is_valid_ber())
    assert [r.transaction_id for r in ok.collect()] == ["tx1"]
    assert {(r.transaction_id, r.notification_id) for r in ko.collect()} == {
        (None, "n2"),
        ("tx3", None),
    }


def _hist(spark, path, *keys):
    spark.createDataFrame(
        [Row(idempotent_key=k) for k in keys]
    ).coalesce(1).write.mode("append").parquet(str(path))


def _sent(rows):
    return sorted((r.idempotent_key, r.send_status) for r in rows)


def test_historical_set_is_read_once_at_build(spark, tmp_path):
    """The historical key set is read when the pipeline is built, not in
    every micro-batch: with its files deleted after the first batch,
    the next batch still drops the historical key and sends the new
    one. (The harness rebuilds the pipeline each batch, so the rebuild
    must reuse the cached set rather than read the files again.)"""
    hist_dir = tmp_path / "hist"
    _hist(spark, hist_dir, "tx0-9")
    hist = spark.read.parquet(str(hist_dir))

    h = StreamHarness(spark, FLAT)
    h.start(
        lambda s: build_mediation_core(
            s, historical_df=hist, ttl_seconds=3600,
        )["deduped"]
    )
    try:
        h.add_batch([_ber("tx1", "n1", "1")])
        shutil.rmtree(hist_dir)
        h.add_batch([_ber("tx0", "n0", "9"), _ber("tx2", "n2", "2")])
        rows = h.results()
    finally:
        h.stop()
    assert _sent(rows) == [("tx1-1", "SENT"), ("tx2-2", "SENT")]


@pytest.mark.parametrize("writer", ["spark", "outside_then_refresh"])
def test_rebuild_over_changed_historical_dir_drops_new_key(
    spark, tmp_path, writer
):
    """A pipeline rebuilt over a historical directory that gained a key
    drops that key. A write through this session refreshes the cached
    set by itself; files written from outside Spark need
    ``refreshByPath`` before the rebuild."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    hist_dir = tmp_path / "hist"
    _hist(spark, hist_dir, "tx0-9")

    h = StreamHarness(spark, FLAT)
    # Each harness pass rebuilds the pipeline over a fresh read.
    h.start(
        lambda s: build_mediation_core(
            s, historical_df=spark.read.parquet(str(hist_dir)),
            ttl_seconds=3600,
        )["deduped"]
    )
    try:
        h.add_batch([_ber("tx0", "n0", "9"), _ber("tx1", "n1", "1")])
        if writer == "spark":
            _hist(spark, hist_dir, "tx7-7")
        else:
            pq.write_table(
                pa.table({"idempotent_key": ["tx7-7"]}),
                str(hist_dir / "added.parquet"),
            )
            spark.catalog.refreshByPath(str(hist_dir))
        h.add_batch([_ber("tx7", "n7", "7"), _ber("tx8", "n8", "8")])
        rows = h.results()
    finally:
        h.stop()
    assert _sent(rows) == [("tx1-1", "SENT"), ("tx8-8", "SENT")]


@pytest.mark.parametrize("threshold", [None, "-1"])
def test_size_statistics_pick_the_historical_join(spark, tmp_path, threshold):
    """The measured size of the cached key set picks the join: broadcast
    under the session's default threshold, shuffle with broadcasting
    off. Both drop the same rows, and neither micro-batch plan scans
    the historical files."""
    hist_dir = tmp_path / "hist"
    _hist(spark, hist_dir, "tx0-9", "tx5-5")
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    out: list = []
    h = StreamHarness(spark, FLAT)
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        h.add_batch(
            [_ber("tx0", "n0", "9"), _ber("tx1", "n1", "1"),
             _ber("tx5", "n5", "5")],
            wait=False,
        )
        stream = spark.readStream.schema(FLAT).parquet(h.input_dir)
        deduped = build_mediation_core(
            stream, historical_df=spark.read.parquet(str(hist_dir)),
            ttl_seconds=3600,
        )["deduped"]
        query = (
            deduped.writeStream.foreachBatch(
                lambda b, _e: out.extend(b.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", h.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        plan = query._jsq.explainInternal(False)
        # The cached set's own plan prints under InMemoryTableScan, so
        # look for scans among the leaves of the micro-batch plan.
        leaves = (
            query._jsq.streamingQuery().lastExecution().executedPlan()
            .collectLeaves()
        )
        scans = [
            leaves.apply(i).simpleString(100) for i in range(leaves.size())
        ]
    finally:
        spark.conf.set(key, default)
        h.stop()

    assert _sent(out) == [("tx1-1", "SENT")]
    assert ("BroadcastExchange" in plan) == (threshold is None)
    assert any(scan.startswith("InMemoryTableScan") for scan in scans)
    assert not any(str(hist_dir) in scan for scan in scans)
