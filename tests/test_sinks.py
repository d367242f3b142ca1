"""Sink tests (SURVEY.md §2.2): HTTP sink contract against a local stub
(replacing the reference's live jsonplaceholder dependency,
MediationServiceSpec.scala:74-79) and the file sinks.
"""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


class _StubHandler(BaseHTTPRequestHandler):
    """Mimics jsonplaceholder POST /posts: echoes body + id=101."""

    protocol_version = "HTTP/1.1"  # keep-alive (the sink pools connections)

    def do_POST(self):  # noqa: N802 — http.server API
        length = int(self.headers.get("Content-Length", 0))
        payload = json.loads(self.rfile.read(length) or b"{}")
        self.server.requests.append(payload)
        if self.server.fail_all:
            self.send_response(500)
            self.send_header("Content-Length", "4")
            self.end_headers()
            self.wfile.write(b"boom")
            return
        if self.server.weird_mode:
            # Non-DTO 2xx: string id, no "body" field — the parsing
            # layer must degrade gracefully, never crash the task.
            data = json.dumps({"id": "a1b2", "status": "accepted"}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            return
        body = dict(payload)
        body["id"] = 101
        data = json.dumps(body).encode()
        self.send_response(201)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)
        if self.server.close_when_idle:
            # An endpoint that closes idle keep-alive connections: the
            # socket closes after the response, with no
            # ``Connection: close`` header to warn the client.
            self.close_connection = True

    def log_message(self, *args):  # silence
        pass


@pytest.fixture()
def http_stub():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _StubHandler)
    server.requests = []
    server.fail_all = False
    server.weird_mode = False
    server.close_when_idle = False
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield server
    server.shutdown()


def _url(server):
    return f"http://127.0.0.1:{server.server_address[1]}/posts"


def test_send_http_batch_appends_responses(spark, http_stub):
    from scio_db_spark.sinks import send_http_batch, to_http_request

    df = spark.createDataFrame(
        [
            Row(notification_id="n1", message="hello", customer_id="7"),
            Row(notification_id="n2", message="world", customer_id="8"),
        ]
    )
    out = send_http_batch(to_http_request(df), _url(http_stub)).collect()
    assert len(out) == 2
    assert all(r.resp_id == 101 for r in out)
    assert all(r.nhub_success for r in out)
    assert sorted(q["title"] for q in http_stub.requests) == ["n1", "n2"]


def test_send_http_batch_ko_on_failure_no_raise(spark, http_stub):
    # W9: errors are swallowed into the KO response, never raised.
    from scio_db_spark.sinks import send_http_batch, to_http_request

    http_stub.fail_all = True
    df = spark.createDataFrame(
        [Row(notification_id="n1", message="hello", customer_id="7")]
    )
    out = send_http_batch(
        to_http_request(df), _url(http_stub), retries=2, backoff_s=0.01
    ).collect()
    assert len(out) == 1
    assert out[0].resp_body == "ko"
    assert out[0].nhub_success is False
    # W8: 1 initial + 2 retries.
    assert len(http_stub.requests) == 3


def test_classify_success():
    from scio_db_spark.sinks import classify_success

    assert classify_success("created id=5")
    assert not classify_success("ERROR: nope")
    assert not classify_success("status KO")
    assert not classify_success(None)


def test_send_deduped_batch_posts_only_sent(spark, http_stub):
    # D4 + K4: 3 duplicates -> exactly 1 POST, all 3 rows emitted.
    from scio_db_spark.streaming.mediation import send_deduped_batch

    df = spark.createDataFrame(
        [
            Row(notification_id="n1", message="m", customer_id="7",
                send_status="SENT"),
            Row(notification_id="n1", message="m", customer_id="7",
                send_status="SENT_OR_DUPLICATED"),
            Row(notification_id="n1", message="m", customer_id="7",
                send_status="SENT_OR_DUPLICATED"),
        ]
    )
    out = send_deduped_batch(df, _url(http_stub)).collect()
    assert len(out) == 3
    assert len(http_stub.requests) == 1
    statuses = sorted(r.resp_body for r in out)
    assert statuses.count("SENT_OR_DUPLICATED") == 2
    sent = [r for r in out if r.send_status == "SENT"]
    assert sent[0].resp_id == 101 and sent[0].nhub_success

    # The rule lives in send_http_batch itself: the same rows sent
    # through it directly cost one more POST, and each duplicate gets
    # the constant response.
    from scio_db_spark.schemas import NOT_HTTP_RESPONSE_ID
    from scio_db_spark.sinks import send_http_batch, to_http_request

    direct = send_http_batch(to_http_request(df), _url(http_stub)).collect()
    assert len(http_stub.requests) == 2
    dups = [r for r in direct if r.send_status == "SENT_OR_DUPLICATED"]
    assert len(dups) == 2
    for r in dups:
        assert (r.resp_id, r.resp_title, r.resp_body, r.resp_user_id) == (
            NOT_HTTP_RESPONSE_ID, None, "SENT_OR_DUPLICATED", 7,
        )
        assert r.nhub_success and r.send_latency_ms == 0


def test_write_sharded_and_windowed(spark, tmp_path):
    from scio_db_spark.sinks import write_sharded, write_windowed_batch

    df = spark.range(100).withColumn(
        "event_time",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(secs=F.col("id").cast("double")),
    )
    p1 = str(tmp_path / "sharded")
    write_sharded(df, p1, num_shards=3)
    parts = [f for f in os.listdir(p1) if f.startswith("part-")]
    assert len(parts) == 3
    assert spark.read.parquet(p1).count() == 100

    p2 = str(tmp_path / "windowed")
    write_windowed_batch(df, p2, window_duration="30 seconds")
    dirs = sorted(d for d in os.listdir(p2) if d.startswith("window_start="))
    assert len(dirs) == 4  # 100 s of data / 30 s windows
    back = spark.read.parquet(p2)
    assert back.count() == 100
    # Partition pruning works on the window column.
    assert back.filter(
        F.col("window_start") == "2024-01-01_00-00-00"
    ).count() == 30


def test_idempotent_batch_writer_replay_safe(spark, tmp_path):
    # Replaying the same epoch must overwrite, not duplicate; other
    # epochs stay intact (dynamic partition overwrite).
    from scio_db_spark.sinks.files import idempotent_batch_writer

    path = str(tmp_path / "eo")
    w = idempotent_batch_writer(path)
    b0 = spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)])
    b1 = spark.createDataFrame([Row(k="c", v=3)])
    w(b0, 0)
    w(b1, 1)
    w(b0, 0)  # replay of epoch 0 (post-failure rerun)
    got = spark.read.parquet(path)
    assert got.count() == 3
    assert sorted(r.k for r in got.collect()) == ["a", "b", "c"]
    assert {r.epoch for r in got.select("epoch").collect()} == {0, 1}


def test_send_http_batch_survives_non_dto_response(spark, http_stub):
    """W9 extends to the parsing layer: a 2xx JSON reply with a string
    id and no body must not crash the task; the raw text becomes the
    body and the malformed id maps to a null column."""
    from scio_db_spark.sinks.http_sink import send_http_batch

    http_stub.weird_mode = True
    df = spark.createDataFrame(
        [("n1", "hello", 7)], "title string, body string, user_id int"
    )
    out = send_http_batch(
        df, f"http://127.0.0.1:{http_stub.server_address[1]}/posts",
        retries=0, backoff_s=0.0,
    ).collect()
    (r,) = out
    assert r.resp_id is None  # "a1b2" is not an int — null, not a crash
    assert "accepted" in r.resp_body  # raw JSON recorded as body
    assert r.nhub_success  # no "error"/"ko" in the raw body


def test_send_deduped_batch_full_ber_flat_schema(spark, http_stub):
    """The documented BER_FLAT input carries a pre-send nhub_success
    placeholder; the send must supersede it, not crash with a duplicate
    column — and duplicates classify as SUCCESS (the reference's
    SENT_OR_DUPLICATED response contains neither 'error' nor 'ko')."""
    import datetime

    from scio_db_spark.schemas import BER_FLAT_SCHEMA
    from scio_db_spark.streaming.mediation import send_deduped_batch

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("e1", "tx1", 0, "7", "A", "n1", "m1", 0, False, 1.0, None, ts,
         "SENT"),
        ("e2", "tx1", 0, "7", "A", "n1", "m1", 0, False, 1.0, None, ts,
         "SENT_OR_DUPLICATED"),
    ]
    import pyspark.sql.types as T

    schema = T.StructType(
        BER_FLAT_SCHEMA.fields
        + [T.StructField("send_status", T.StringType())]
    )
    df = spark.createDataFrame(rows, schema)
    out = send_deduped_batch(
        df, _url(http_stub), retries=0, backoff_s=0.0
    ).collect()
    by_status = {r.send_status: r for r in out}
    assert by_status["SENT"].nhub_success
    assert by_status["SENT_OR_DUPLICATED"].nhub_success  # dup = handled OK
    assert by_status["SENT_OR_DUPLICATED"].resp_body == "SENT_OR_DUPLICATED"


def test_windowed_batch_epoch_replay_idempotent(spark, tmp_path):
    """foreachBatch replay (same epoch) must REPLACE the epoch's
    partitions, not append duplicates."""
    import datetime as dt

    from scio_db_spark.sinks.files import write_windowed_batch

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0, 5))],
        "id long, event_time timestamp",
    )
    out = str(tmp_path / "win")
    write_windowed_batch(df, out, window_duration="30 seconds", epoch_id=7)
    write_windowed_batch(df, out, window_duration="30 seconds", epoch_id=7)
    assert spark.read.parquet(out).count() == 1  # replay replaced, not appended
    # conf was restored (unset) — not leaked as 'dynamic'
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", None
    ) is None


def test_windowed_parquet_sink_routes_null_ts_to_no_window(spark, tmp_path):
    """K1 parquet flavor: a null-timestamp row must land in an explicit
    window_start=no-window partition, not silently vanish (F.window
    would inject an isnotnull filter — the dead-letter data-loss bug)."""
    import datetime

    from pyspark.sql import Row

    from scio_db_spark.sinks.files import write_windowed_batch

    rows = [
        Row(k="a", event_time=datetime.datetime(2024, 1, 1, 10, 0, 0)),
        Row(k="b", event_time=None),
    ]
    df = spark.createDataFrame(rows, "k string, event_time timestamp")
    out = str(tmp_path / "w")
    write_windowed_batch(df, out, window_duration="1 minute")
    back = spark.read.parquet(out)
    got = {(r.k, r.window_start) for r in back.select("k", "window_start").collect()}
    assert ("b", "no-window") in got
    assert any(k == "a" and w != "no-window" for k, w in got)


def test_send_http_batch_tolerates_response_named_input_columns(
    spark, http_stub
):
    """An input already carrying a response-named column (the BER-flat
    stream's pre-send nhub_success placeholder) must be dropped and
    re-appended, not declared twice in the output schema (which made
    every non-empty micro-batch fail on a column-count mismatch)."""
    from pyspark.sql import functions as F

    from scio_db_spark.sinks import send_http_batch, to_http_request

    df = to_http_request(
        spark.createDataFrame(
            [("n1", "hello", "7")],
            "notification_id string, message string, customer_id string",
        )
    ).withColumn("nhub_success", F.lit(None).cast("boolean"))
    out = send_http_batch(df, _url(http_stub)).collect()
    assert len(out) == 1
    assert out[0].nhub_success is True  # the RESPONSE value, not the input


def test_token_bucket_sub_one_burst_cannot_deadlock():
    from scio_db_spark.sinks.http_sink import TokenBucket

    b = TokenBucket(rate=1000.0, burst=0.25)
    # capacity clamps to >= 1 token, so acquire returns immediately
    b.acquire()


def test_as_int_rejects_out_of_int32_values():
    from scio_db_spark.sinks.http_sink import _as_int

    assert _as_int(99999999999) is None  # would overflow the int32 cast
    assert _as_int(-(2**40)) is None
    assert _as_int(2147483647) == 2147483647
    assert _as_int("12") == 12
    assert _as_int("nope") is None


def test_send_one_reconnects_after_endpoint_closed_idle_connection(
    http_stub, monkeypatch
):
    """A sender thread's keep-alive connection outlives the micro-batch,
    so the endpoint may have closed it by the next POST. The stale
    connection is dropped and the POST goes out once on a fresh one,
    without spending a retry."""
    from scio_db_spark.sinks import http_sink

    drops = []
    drop_conn = http_sink._drop_conn

    def counting_drop(*key):
        drops.append(key)
        drop_conn(*key)

    monkeypatch.setattr(http_sink, "_drop_conn", counting_drop)
    http_stub.close_when_idle = True
    for i in range(2):
        resp, attempts = http_sink.send_one(
            _url(http_stub), {"title": f"n{i}", "body": "m", "userId": i},
            retries=0, backoff_s=0.0,
        )
        assert attempts == 0 and resp["id"] == 101
        assert http_sink.classify_success(resp["body"])
    assert [req["title"] for req in http_stub.requests] == ["n0", "n1"]
    assert len(drops) == 1  # the second call found its connection closed


def test_release_session_memory_unpersists_and_reports(spark):
    from scio_db_spark.plans.hygiene import release_session_memory

    df = spark.range(100_000).localCheckpoint(eager=True)
    assert df.count() == 100_000
    before = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert before, "localCheckpoint should pin at least one RDD"
    stats = release_session_memory(spark)
    assert stats["unpersisted"] >= 1
    assert stats["heap_after"] >= 0  # GC ran and re-measured


DEDUP_IN = (
    "idempotent_key string, notification_id string, message string, "
    "customer_id string, ts double"
)


def _file_clock(path: str):
    """A ``clock_ms`` for Python workers, which share no memory: each
    call returns the next reading scheduled in the JSON file at
    ``path`` (the last one repeats) and counts itself there."""

    def clock_ms() -> int:
        import fcntl

        with open(path, "r+") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            st = json.load(fh)
            readings = st["readings"]
            now = readings[min(st["calls"], len(readings) - 1)]
            st["calls"] += 1
            fh.seek(0)
            fh.truncate()
            json.dump(st, fh)
        return now

    return clock_ms


def test_ttl_straddle_in_one_batch_sends_once(spark, http_stub, tmp_path):
    """The clock readings inside one micro-batch straddle a key's TTL
    deadline, as the clocks of two executors can. The row must still be
    POSTed once and emitted once, as SENT. A send that reads the deduped
    batch twice runs the state operator twice, once per reading, and
    the row lands in both or neither of its SENT and duplicate
    outcomes. The clock counts its calls, which are the state
    function's runs: one per key per batch."""
    from scio_db_spark.streaming.harness import StreamHarness
    from scio_db_spark.streaming.mediation import send_deduped_batch
    from scio_db_spark.streaming.ttl_dedup import ttl_dedup

    ttl_ms, t0 = 1_000, 1_000_000
    clock = tmp_path / "clock.json"
    clock_ms = _file_clock(str(clock))
    out = []

    def _process(batch_df, _epoch_id):
        out.extend(
            send_deduped_batch(
                batch_df, _url(http_stub), retries=0, throttle_rps=None
            ).collect()
        )

    h = StreamHarness(spark, DEDUP_IN)

    def run_batch(rows, *readings) -> int:
        clock.write_text(json.dumps({"readings": list(readings), "calls": 0}))
        h.add_batch(rows, wait=False)
        stream = spark.readStream.schema(DEDUP_IN).parquet(h.input_dir)
        ttl_dedup(
            stream, ttl_seconds=ttl_ms / 1000, clock_ms=clock_ms
        ).writeStream.foreachBatch(_process).outputMode("update").option(
            "checkpointLocation", h.checkpoint_dir
        ).trigger(availableNow=True).start().awaitTermination()
        return json.loads(clock.read_text())["calls"]

    try:
        calls = [
            run_batch([Row("k", "n1", "m", "7", 1.0)], t0),
            # The first reading is at the deadline, the next just before.
            run_batch(
                [Row("k", "n2", "m", "7", 2.0)], t0 + ttl_ms, t0 + ttl_ms - 1
            ),
        ]
    finally:
        h.stop()

    assert [req["title"] for req in http_stub.requests] == ["n1", "n2"]
    assert sorted((r.notification_id, r.send_status) for r in out) == [
        ("n1", "SENT"), ("n2", "SENT"),
    ]
    assert calls == [1, 1]
