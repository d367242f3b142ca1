"""End-to-end mediation pipeline test (SURVEY.md §3.1).

The Spark analogue of the reference's flagship spec
(MediationServiceSpec.scala:45-83): deterministic micro-batches through
validate → key → stateful TTL dedup with its historical-key probe,
asserting the full routing contract, and the driver-side memo that
ships the historical key file once per set of input files.
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
    # Historical: key tx0-9 was already notified (J1: the gate drops it).
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
    assert "tx0-9" not in by_key          # dropped by the gate's probe
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


def test_invalid_row_with_historical_key_reaches_ko(spark):
    hist = spark.createDataFrame([Row(idempotent_key="tx0-9")])
    h = StreamHarness(spark, FLAT)
    h.start(
        lambda s: build_mediation_core(
            s, historical_df=hist, ttl_seconds=3600,
        )["ko"]
    )
    try:
        h.add_batch([_ber("tx0", None, "9"), _ber("tx0", "n0", "9")])
        rows = h.results()
    finally:
        h.stop()
    assert [(r.idempotent_key, r.notification_id) for r in rows] == [
        ("tx0-9", None)
    ]


@pytest.mark.parametrize("threshold", [None, "-1"])
def test_size_statistics_pick_the_historical_join(spark, tmp_path, threshold):
    """The size statistics of the historical set pick no join any more:
    under the session's default broadcast threshold and with
    broadcasting off alike, the micro-batch plan has no join, no
    broadcast, no cached relation and no scan of the historical files;
    the gate still drops the historical keys."""
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
        plan = (
            query._jsq.streamingQuery().lastExecution().executedPlan()
            .toString()
        )
    finally:
        spark.conf.set(key, default)
        h.stop()

    assert _sent(out) == [("tx1-1", "SENT")]
    for node in ("Join", "BroadcastExchange", "InMemoryTableScan"):
        assert node not in plan
    assert str(hist_dir) not in plan


def _jobs(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def test_rebuild_over_unchanged_files_ships_nothing_new(spark, tmp_path):
    """The key file is built once per set of historical files: a rebuild
    over a fresh read of the same files runs no Spark job and ships no
    file; a file added to the directory ships a new key file. (Key
    files are named by content, so the keys are this test's own.)"""
    hist_dir = tmp_path / "hist"
    _hist(spark, hist_dir, "memo-1")
    (tmp_path / "in").mkdir()
    stream = spark.readStream.schema(FLAT).parquet(str(tmp_path / "in"))
    build_mediation_core(stream, historical_df=spark.read.parquet(str(hist_dir)))
    sc = spark.sparkContext

    fresh = spark.read.parquet(str(hist_dir))
    jobs, shipped = _jobs(spark), set(sc.listFiles)
    build_mediation_core(stream, historical_df=fresh)
    assert _jobs(spark) == jobs
    assert set(sc.listFiles) == shipped

    _hist(spark, hist_dir, "memo-2")
    build_mediation_core(
        stream, historical_df=spark.read.parquet(str(hist_dir))
    )
    assert len(set(sc.listFiles) - shipped) == 1
