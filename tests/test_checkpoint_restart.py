"""Checkpoint-RESTART e2e for the at-most-once contracts.

The reference's flagship guarantee is state-guarded at-most-once sends
surviving worker churn (StateBaseAsyncDoFn.java:68-93 under Dataflow's
durable state). The rest of the suite proves the contract *within* a
live stream; these tests kill the query and restart it from
``checkpointLocation``:

- clean stop between micro-batches → per-key TTL state must survive
  the restart (a duplicate arriving after the restart is suppressed),
  and no pending input may be lost or re-sent;
- a poisoned batch (the body raises after its dead-letter write and
  before any send) → the failed batch's state updates must NOT have
  committed, so the replay after restart computes the identical SENT
  set, each key still hits the wire exactly once, and each invalid
  record is under ``toxic/`` once;
- a send checkpoint of the former two-query layout restarts under the
  one-query pipeline;
- the streaming MERGE sink restarted mid-stream converges to the exact
  upsert result, including across a poisoned (crashed-then-replayed)
  batch.

File-drop sources are used throughout: unlike a memory source, the
file source's offsets live in the checkpoint, so a restarted query
resumes exactly where the killed one stopped.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import Row

FLAT = (
    "transaction_id string, notification_id string, customer_id string, "
    "message string, event_time timestamp, ts double"
)


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


def _start_stub():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _Stub)
    server.requests = []
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, f"http://127.0.0.1:{server.server_address[1]}/posts"


def _wait_until(pred, timeout=120.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(0.5)
    return False


def _drop_file(spark, rows, schema, input_dir):
    df = spark.createDataFrame(rows, schema)
    staging = tempfile.mkdtemp(prefix="restart_stage_")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(
        f for f in os.listdir(staging)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.rename(
        os.path.join(staging, part),
        os.path.join(input_dir, f"b_{uuid.uuid4().hex}.parquet"),
    )


def _analytics_statuses(spark, analytics):
    try:
        return {
            (r.transaction_id, r.send_status)
            for r in spark.read.parquet(analytics)
            .select("transaction_id", "send_status").collect()
        }
    except Exception:  # noqa: BLE001 — not written yet
        return set()


@pytest.mark.slow
def test_ttl_dedup_state_survives_clean_restart(spark):
    """Stop the pipeline's query between micro-batches, restart from the
    same checkpoint: a post-restart duplicate is still suppressed
    (state survived) and the new key is sent exactly once (no loss,
    no re-send of already-processed input)."""
    import datetime

    from scio_db_spark.streaming.mediation import run_mediation_pipeline

    server, url = _start_stub()
    root = tempfile.mkdtemp(prefix="restart_e2e_")
    input_dir = os.path.join(root, "in")
    os.makedirs(input_dir)
    analytics = os.path.join(root, "analytics")
    et = datetime.datetime(2024, 1, 1)

    def _start():
        stream = spark.readStream.schema(FLAT).parquet(input_dir)
        return run_mediation_pipeline(
            stream,
            url=url,
            checkpoint_dir=os.path.join(root, "ck"),
            dead_letter_path=os.path.join(root, "dead"),
            analytics_path=analytics,
            ttl_seconds=3600,
            retries=0,
            throttle_rps=None,
        )

    _drop_file(spark, [
        Row("tx1", "n1", "1", "m", et, 1.0),
        Row("tx2", "n2", "2", "m", et, 1.0),
    ], FLAT, input_dir)
    queries = _start()
    try:
        assert _wait_until(
            lambda: {("tx1", "SENT"), ("tx2", "SENT")}
            <= _analytics_statuses(spark, analytics)
        ), "first run never sent tx1/tx2"
    finally:
        queries["send_query"].stop()
        queries["send_query"].awaitTermination()

    # restart from the same checkpoint with a duplicate + a new key
    _drop_file(spark, [
        Row("tx1", "n1", "1", "m", et, 2.0),   # duplicate AFTER restart
        Row("tx4", "n4", "4", "m", et, 1.0),
    ], FLAT, input_dir)
    queries = _start()
    try:
        assert _wait_until(
            lambda: {("tx1", "SENT_OR_DUPLICATED"), ("tx4", "SENT")}
            <= _analytics_statuses(spark, analytics)
        ), "restarted run never processed the second file"
    finally:
        queries["send_query"].stop()
        queries["send_query"].awaitTermination()
        server.shutdown()

    # zero duplicate sends: tx1 hit the wire ONCE despite the restart
    sent_titles = sorted(r["title"] for r in server.requests)
    assert sent_titles == ["n1", "n2", "n4"]


def _toxic_records(spark, toxic):
    try:
        return sorted(
            (r.transaction_id, r.notification_id)
            for r in spark.read.parquet(toxic).collect()
        )
    except Exception:  # noqa: BLE001 — not written yet
        return []


@pytest.mark.slow
def test_ttl_dedup_poisoned_batch_replay_sends_once(spark):
    """Kill the query MID-BATCH: on its first encounter with the
    poisoned file the batch body writes the batch's invalid rows under
    ``toxic/`` and then raises, before any send. The failed batch's
    state must not commit, so the restarted query replays it: the new
    key is sent exactly once, keys whose state committed in earlier
    batches stay suppressed, and the replayed dead-letter write
    replaces the epoch's own files, so each invalid record is under
    ``toxic/`` once. (A crash after the sends would re-POST the epoch's
    SENT rows: ``foreachBatch`` is at-least-once.)"""
    import datetime

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from scio_db_spark.sinks.files import (
        idempotent_batch_writer,
        write_windowed_batch,
    )
    from scio_db_spark.streaming import mediation as med

    server, url = _start_stub()
    root = tempfile.mkdtemp(prefix="poison_e2e_")
    input_dir = os.path.join(root, "in")
    os.makedirs(input_dir)
    analytics = os.path.join(root, "analytics")
    toxic = os.path.join(root, "dead", "toxic")
    poison_flag = os.path.join(root, "poison_armed")
    open(poison_flag, "w").close()
    et = datetime.datetime(2024, 1, 1)
    invalid = F.col("send_status") == "INVALID"

    def _start():
        stream = spark.readStream.schema(FLAT).parquet(input_dir)
        gated = med.build_mediation_core(stream, ttl_seconds=3600)
        writer = idempotent_batch_writer(analytics)

        def _process(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.persist()
            try:
                write_windowed_batch(
                    batch_df.where(invalid).drop("send_status"), toxic,
                    epoch_id=epoch_id,
                )
                # poison: die after the dead-letter write and before
                # any send while the flag is armed and the batch holds
                # the poisoned transaction
                if os.path.exists(poison_flag) and batch_df.filter(
                    "transaction_id = 'txP'"
                ).count() > 0:
                    os.remove(poison_flag)
                    raise RuntimeError("simulated mid-batch worker death")
                out = med.send_deduped_batch(
                    batch_df.where(~invalid), url, retries=0,
                    throttle_rps=None,
                )
                writer(out, epoch_id)
            finally:
                batch_df.unpersist()

        return (
            gated.writeStream.foreachBatch(_process)
            .outputMode("update")
            .option(
                "checkpointLocation", os.path.join(root, "ck", "send")
            )
            .start()
        )

    # batch 1: commit state for tx1
    _drop_file(spark, [Row("tx1", "n1", "1", "m", et, 1.0)], FLAT, input_dir)
    send_q = _start()
    assert _wait_until(
        lambda: ("tx1", "SENT") in _analytics_statuses(spark, analytics)
    ), "tx1 never sent"

    # batch 2 (poisoned): duplicate of tx1 + new key txP + an invalid
    # record → the body dies after writing the invalid one
    _drop_file(spark, [
        Row("tx1", "n1", "1", "m", et, 2.0),
        Row("txP", "nP", "9", "m", et, 1.0),
        Row("txQ", None, "9", "m", et, 1.0),
    ], FLAT, input_dir)
    assert _wait_until(
        lambda: not send_q.isActive, timeout=90.0
    ), "poisoned batch never killed the query"
    assert not os.path.exists(poison_flag)  # it died ON the poison
    assert _toxic_records(spark, toxic) == [("txQ", None)]
    # nothing from the failed batch reached the wire
    assert [r["title"] for r in server.requests] == ["n1"]

    # restart: the poisoned batch replays against UNCOMMITTED state
    send_q = _start()
    try:
        assert _wait_until(
            lambda: {("txP", "SENT"), ("tx1", "SENT_OR_DUPLICATED")}
            <= _analytics_statuses(spark, analytics)
        ), "replayed batch never completed after restart"
    finally:
        send_q.stop()
        send_q.awaitTermination()
        server.shutdown()

    # exactly-once at the wire across the crash: tx1 once, txP once
    sent_titles = sorted(r["title"] for r in server.requests)
    assert sent_titles == ["n1", "nP"]
    # the replay overwrote its epoch's dead letters: txQ once
    assert _toxic_records(spark, toxic) == [("txQ", None)]


@pytest.mark.slow
def test_send_checkpoint_of_two_query_layout_restarts(spark):
    """A send checkpoint written by the former two-query layout, whose
    TTL gate saw the valid rows only, restarts under
    ``run_mediation_pipeline``: the gate's input gained the validity
    flag, its state schema did not change. The key sent before the
    switch stays suppressed, the new key is sent once, and the invalid
    record reaches ``toxic/``."""
    import datetime

    from scio_db_spark.observability import observe_metrics, validity_metrics
    from scio_db_spark.operators.keying import with_idempotent_key
    from scio_db_spark.operators.validity import is_valid_ber
    from scio_db_spark.sinks.files import idempotent_batch_writer
    from scio_db_spark.sinks.http_sink import send_http_batch, to_http_request
    from scio_db_spark.streaming.mediation import run_mediation_pipeline
    from scio_db_spark.streaming.ttl_dedup import ttl_dedup

    server, url = _start_stub()
    root = tempfile.mkdtemp(prefix="layout_switch_")
    input_dir = os.path.join(root, "in")
    os.makedirs(input_dir)
    analytics = os.path.join(root, "analytics")
    ck = os.path.join(root, "ck")
    et = datetime.datetime(2024, 1, 1)

    # The former send query: gate metrics, valid rows only, the gate,
    # the request projection, then send + analytics per micro-batch.
    _drop_file(spark, [Row("tx1", "n1", "1", "m", et, 1.0)], FLAT, input_dir)
    stream = spark.readStream.schema(FLAT).parquet(input_dir)
    flagged = with_idempotent_key(
        stream, "transaction_id", "customer_id"
    ).withColumn("__is_valid", is_valid_ber())
    ok = (
        observe_metrics(
            flagged, "mediation_gate", validity_metrics("__is_valid")
        )
        .filter("__is_valid")
        .drop("__is_valid")
    )
    writer = idempotent_batch_writer(analytics)
    to_http_request(ttl_dedup(ok, ttl_seconds=3600)).writeStream.foreachBatch(
        lambda b, e: writer(
            send_http_batch(b, url, retries=0, throttle_rps=None), e
        )
    ).outputMode("update").option(
        "checkpointLocation", os.path.join(ck, "send")
    ).trigger(availableNow=True).start().awaitTermination()
    assert [r["title"] for r in server.requests] == ["n1"]

    _drop_file(spark, [
        Row("tx1", "n1", "1", "m", et, 2.0),
        Row("tx5", "n5", "5", "m", et, 1.0),
        Row(None, "n6", "6", "m", et, 1.0),
    ], FLAT, input_dir)
    queries = run_mediation_pipeline(
        spark.readStream.schema(FLAT).parquet(input_dir),
        url=url,
        checkpoint_dir=ck,
        dead_letter_path=os.path.join(root, "dead"),
        analytics_path=analytics,
        ttl_seconds=3600,
        trigger={"availableNow": True},
        retries=0,
        throttle_rps=None,
    )
    try:
        assert queries["send_query"].awaitTermination(120)
        assert queries["send_query"].exception() is None
    finally:
        queries["send_query"].stop()
        server.shutdown()
    assert sorted(r["title"] for r in server.requests) == ["n1", "n5"]
    assert _analytics_statuses(spark, analytics) == {
        ("tx1", "SENT"), ("tx1", "SENT_OR_DUPLICATED"), ("tx5", "SENT"),
    }
    assert _toxic_records(spark, os.path.join(root, "dead", "toxic")) == [
        (None, "n6")
    ]


@pytest.mark.slow
def test_streaming_upsert_sink_restart_converges(spark):
    """Stop the MERGE sink between micro-batches and restart it from
    the checkpoint: already-applied files are not re-upserted, pending
    files are picked up, and the table converges to the exact MERGE
    result. Then poison one batch (unparseable recovery manifest →
    upsert_batch raises), restart, and assert the replay converges."""
    from scio_db_spark.sinks import maintenance as m
    from scio_db_spark.sinks.maintenance import streaming_upsert_sink

    root = tempfile.mkdtemp(prefix="merge_restart_")
    input_dir = os.path.join(root, "in")
    os.makedirs(input_dir)
    table = os.path.join(root, "table")
    ck = os.path.join(root, "ck")
    schema = "id long, v string, seq long"

    def _table():
        try:
            return {
                r.id: (r.v, r.seq)
                for r in spark.read.parquet(table).collect()
            }
        except Exception:  # noqa: BLE001
            return {}

    def _start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        return streaming_upsert_sink(
            stream, table, key_col="id", checkpoint=ck, seq_col="seq"
        )

    _drop_file(spark, [Row(1, "a", 1), Row(2, "a", 1)], schema, input_dir)
    q = _start()
    assert _wait_until(lambda: _table() == {1: ("a", 1), 2: ("a", 1)})
    q.stop()
    q.awaitTermination()

    # pending file while the sink is DOWN; restart picks it up
    _drop_file(spark, [Row(1, "b", 2), Row(3, "a", 1)], schema, input_dir)
    q = _start()
    assert _wait_until(
        lambda: _table() == {1: ("b", 2), 2: ("a", 1), 3: ("a", 1)}
    ), f"restarted sink did not converge: {_table()}"
    q.stop()
    q.awaitTermination()

    # poison: an unparseable recovery manifest makes upsert_batch raise
    # mid-epoch; the query dies, the manifest is repaired, the restart
    # replays the SAME batch and converges (at-least-once + convergent
    # upsert = exact MERGE result).
    manifest = os.path.join(table, m._UPSERT_MANIFEST)
    with open(manifest, "w") as f:
        f.write("{not json")
    _drop_file(spark, [Row(2, "c", 3), Row(4, "a", 1)], schema, input_dir)
    q = _start()
    assert _wait_until(lambda: not q.isActive, timeout=90.0), (
        "poisoned manifest never killed the query"
    )
    os.remove(manifest)  # operator repairs the table
    q = _start()
    assert _wait_until(
        lambda: _table()
        == {1: ("b", 2), 2: ("c", 3), 3: ("a", 1), 4: ("a", 1)}
    ), f"post-poison replay did not converge: {_table()}"
    q.stop()
    q.awaitTermination()
    # no duplicate keys ever
    ids = [r.id for r in spark.read.parquet(table).collect()]
    assert len(ids) == len(set(ids)) == 4


@pytest.mark.slow
def test_sessionize_state_survives_clean_restart(spark):
    """Generalize the restart guarantee to a CUSTOM
    applyInPandasWithState operator: per-key (last_ts, session_id)
    state must be restored from the checkpoint, so a post-restart
    event inside the gap continues the SAME session and one past the
    gap increments rather than resetting to session 1 (which a lost
    state store would produce)."""
    from pyspark.sql import Row

    from scio_db_spark.streaming.sessionize_stream import sessionize_stream

    schema = "k string, ts timestamp"
    root = tempfile.mkdtemp(prefix="sess_restart_")
    input_dir = os.path.join(root, "in")
    os.makedirs(input_dir)
    ck = os.path.join(root, "ck")
    out: list = []

    def _start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        sess = sessionize_stream(
            stream, ["k"], "ts", ttl_seconds=3600
        )

        def _sink(batch_df, _epoch):
            out.extend(batch_df.collect())

        return (
            sess.writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    import datetime

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def _at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    _drop_file(spark, [Row("a", _at(0)), Row("a", _at(10))], schema,
               input_dir)
    q = _start()
    q.awaitTermination()

    # restart: one event INSIDE the 1h gap (same session) and, later,
    # one PAST the gap from the post-restart event (new session)
    _drop_file(spark, [Row("a", _at(40))], schema, input_dir)
    q = _start()
    q.awaitTermination()
    _drop_file(spark, [Row("a", _at(40 + 61))], schema, input_dir)
    q = _start()
    q.awaitTermination()

    got = sorted((r.k, r.ts.minute + 60 * r.ts.hour, r.session_id)
                 for r in out)
    assert got == [
        ("a", 0, 1),     # first event, session 1
        ("a", 10, 1),    # inside gap
        ("a", 40, 1),    # AFTER RESTART, inside gap: state survived
        ("a", 101, 2),   # past the gap: increments (not reset to 1)
    ], got
