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
        )
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
    assert by_key["null-2"] == ["INVALID"]  # routed to the KO branch

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
        )
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
        )
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
        )
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
        gated = build_mediation_core(
            stream, historical_df=spark.read.parquet(str(hist_dir)),
            ttl_seconds=3600,
        )
        query = (
            gated.writeStream.foreachBatch(
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


@pytest.fixture
def notify_stub():
    """A local endpoint that records each POSTed payload; yields
    ``(requests, url)``."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class _Stub(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length", 0))
            payload = json.loads(self.rfile.read(n) or b"{}")
            self.server.requests.append(payload)
            body = json.dumps({**payload, "id": 101}).encode()
            self.send_response(201)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), _Stub)
    server.requests = []
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield server.requests, f"http://127.0.0.1:{server.server_address[1]}/p"
    server.shutdown()


def test_invalid_row_sharing_a_valid_key_goes_to_toxic_only(
    spark, tmp_path, notify_stub
):
    """One batch holds a valid row and an invalid row (null
    notification id) with the same key. The valid row is SENT and
    POSTed once; the invalid row is written under ``toxic/`` only, and
    is never SENT."""
    import datetime

    from scio_db_spark.streaming.mediation import run_mediation_pipeline

    requests, url = notify_stub
    et = datetime.datetime(2024, 1, 1)
    schema = FLAT + ", event_time timestamp"
    src = tmp_path / "in"
    spark.createDataFrame(
        [
            Row("tx1", "n1", "1", "m", 1.0, et),
            Row("tx1", None, "1", "m", 2.0, et),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src))
    queries = run_mediation_pipeline(
        spark.readStream.schema(schema).parquet(str(src)),
        url=url,
        checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_path=str(tmp_path / "dead"),
        analytics_path=str(tmp_path / "analytics"),
        ttl_seconds=3600,
        trigger={"availableNow": True},
        retries=0,
        throttle_rps=None,
    )
    assert queries["send_query"].awaitTermination(120)
    assert queries["send_query"].exception() is None

    analytics = spark.read.parquet(str(tmp_path / "analytics")).collect()
    assert [(r.notification_id, r.send_status) for r in analytics] == [
        ("n1", "SENT")
    ]
    assert [p["title"] for p in requests] == ["n1"]
    toxic = spark.read.parquet(str(tmp_path / "dead" / "toxic")).collect()
    assert [(r.idempotent_key, r.notification_id, r.ts) for r in toxic] == [
        ("tx1-1", None, 2.0)
    ]


def _state_rows(progress: list) -> int:
    return progress[-1]["stateOperators"][0]["numRowsTotal"]


def test_invalid_only_visit_keeps_the_keys_state(spark):
    """A batch that holds only an invalid row for a key with live state
    leaves that state alone: the key still holds one state row, and a
    later valid copy inside the TTL is SENT_OR_DUPLICATED."""
    h = StreamHarness(spark, FLAT)
    h.start(lambda s: build_mediation_core(s, ttl_seconds=3600))
    try:
        h.add_batch([_ber("tx1", "n1", "1")])
        progress = h.add_batch([_ber("tx1", None, "1", ts=2.0)])
        assert _state_rows(progress) == 1
        h.add_batch([_ber("tx1", "n1", "1", ts=3.0)])
        rows = h.results()
    finally:
        h.stop()
    assert [(r.ts, r.send_status) for r in rows] == [
        (1.0, "SENT"), (2.0, "INVALID"), (3.0, "SENT_OR_DUPLICATED"),
    ]


def test_invalid_only_visit_keeps_the_keys_timeout(spark):
    """An invalid-only visit re-arms the key's timeout on its old
    deadline (Spark drops a timeout the state function does not set):
    once a later batch moves the batch clock past that deadline, the
    key's state is removed. With a 1 s TTL, the key of the first batch
    has expired by the time of the third."""
    import time

    h = StreamHarness(spark, FLAT)
    h.start(lambda s: build_mediation_core(s, ttl_seconds=1))
    try:
        h.add_batch([_ber("tx1", "n1", "1")])
        time.sleep(1.5)
        progress = h.add_batch([_ber("tx1", None, "1", ts=2.0)])
        assert _state_rows(progress) == 1
        time.sleep(1.5)
        progress = h.add_batch([_ber("tx2", "n2", "2")])
    finally:
        h.stop()
    # tx1-1 removed; tx2-2 (sent just now) is the one live key.
    assert _state_rows(progress) == 1
