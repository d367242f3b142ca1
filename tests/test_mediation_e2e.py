"""Full-pipeline integration test: run_mediation_pipeline, one query
whose micro-batch sends, writes analytics and writes dead letters,
driven by a file-drop source against a local HTTP stub — the complete
SURVEY.md §3.1 dataflow.
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

from scio_db_spark.streaming.mediation import run_mediation_pipeline

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


def _wait_until(pred, timeout=90.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(0.5)
    return False


def _start_stub():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _Stub)
    server.requests = []
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, f"http://127.0.0.1:{server.server_address[1]}/posts"


def _rows():
    """Two copies of tx1, one invalid row and tx3."""
    import datetime

    et = datetime.datetime(2024, 1, 1, 0, 0, 0)
    return [
        Row("tx1", "n1", "1", "m", et, 1.0),
        Row("tx1", "n1", "1", "m", et, 2.0),   # in-batch duplicate
        Row(None, "n2", "2", "m", et, 1.0),    # invalid -> dead letter
        Row("tx3", "n3", "3", "m", et, 1.0),
    ]


def _start_pipeline(spark, url, root, rows=None, **kwargs) -> dict:
    """Drop ``rows`` (default ``_rows()``) as one file into ``<root>/in``
    and start ``run_mediation_pipeline`` over that directory; a second
    call on the same ``root`` restarts on the same checkpoints."""
    input_dir = os.path.join(root, "in")
    os.makedirs(input_dir, exist_ok=True)
    df = spark.createDataFrame(rows or _rows(), FLAT)
    staging = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(
        f for f in os.listdir(staging)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.rename(
        os.path.join(staging, part),
        os.path.join(input_dir, f"b_{uuid.uuid4().hex}.parquet"),
    )

    stream = spark.readStream.schema(FLAT).parquet(input_dir)
    kwargs.setdefault("analytics_path", os.path.join(root, "analytics"))
    return run_mediation_pipeline(
        stream,
        url=url,
        checkpoint_dir=os.path.join(root, "ck"),
        dead_letter_path=os.path.join(root, "dead"),
        ttl_seconds=3600,
        window_duration="30 seconds",
        retries=0,
        throttle_rps=None,
        **kwargs,
    )


def _status_counts(spark, analytics: str) -> dict:
    out = spark.read.parquet(analytics)
    return {
        r.send_status: r.n
        for r in out.groupBy("send_status").count()
        .withColumnRenamed("count", "n").collect()
    }


@pytest.mark.slow
def test_run_mediation_pipeline_end_to_end(spark):
    server, url = _start_stub()
    root = tempfile.mkdtemp(prefix="med_e2e_")
    analytics = os.path.join(root, "analytics")
    dead = os.path.join(root, "dead")
    queries = _start_pipeline(spark, url, root)
    try:
        def _analytics_ready():
            try:
                return spark.read.parquet(analytics).count() >= 3
            except Exception:  # noqa: BLE001 — path not written yet
                return False

        assert _wait_until(_analytics_ready), "analytics output missing"
        # tx1-1 + tx3-3 SENT; tx1-1 second copy duplicated.
        assert _status_counts(spark, analytics) == {
            "SENT": 2, "SENT_OR_DUPLICATED": 1
        }
        assert len(server.requests) == 2  # only SENT rows hit the wire

        def _dead_ready():
            try:
                return spark.read.parquet(
                    os.path.join(dead, "toxic")
                ).count() >= 1
            except Exception:  # noqa: BLE001
                return False

        assert _wait_until(_dead_ready), "dead-letter output missing"
        toxic = spark.read.parquet(os.path.join(dead, "toxic"))
        assert [r.notification_id for r in toxic.collect()] == ["n2"]
    finally:
        for q in queries.values():
            q.stop()
        server.shutdown()


@pytest.mark.slow
def test_available_now_runs_one_query_that_ends(spark):
    """A bounded run (``trigger={"availableNow": True}``) starts one
    streaming query, with one checkpoint, which drains the input, sends,
    writes the dead letters and ends. ``ko_query`` names that same
    query; no ``<checkpoint_dir>/ko`` is created."""
    server, url = _start_stub()
    root = tempfile.mkdtemp(prefix="med_e2e_now_")
    before = {q.id for q in spark.streams.active}
    queries = _start_pipeline(
        spark, url, root, trigger={"availableNow": True}
    )
    try:
        started = {q.id for q in spark.streams.active} - before
        assert started == {queries["send_query"].id}
        assert queries["ko_query"] is queries["send_query"]
        q = queries["send_query"]
        assert q.awaitTermination(60), "query still running"
        assert q.exception() is None
        assert os.listdir(os.path.join(root, "ck")) == ["send"]
        assert _status_counts(spark, os.path.join(root, "analytics")) == {
            "SENT": 2, "SENT_OR_DUPLICATED": 1
        }
        assert len(server.requests) == 2
        toxic = spark.read.parquet(os.path.join(root, "dead", "toxic"))
        assert [r.notification_id for r in toxic.collect()] == ["n2"]
    finally:
        for q in queries.values():
            q.stop()
        server.shutdown()


@pytest.mark.slow
def test_continuous_pipeline_goes_idle_without_input(spark):
    """With no input the send query runs no timer loop: after the data
    batch it runs at most the TTL gate's one trailing batch, so its
    batch id advances by at most 2 over 10 s (an idle progress report
    carries the next batch's id)."""
    server, url = _start_stub()
    root = tempfile.mkdtemp(prefix="med_e2e_idle_")
    queries = _start_pipeline(spark, url, root)
    send = queries["send_query"]
    try:
        assert _wait_until(lambda: len(server.requests) >= 2)
        assert _wait_until(lambda: send.lastProgress is not None)
        before = send.lastProgress["batchId"]
        time.sleep(10)
        after = send.lastProgress["batchId"]
        assert after - before <= 2, (before, after)
        assert send.isActive and send.exception() is None
        assert len(server.requests) == 2
    finally:
        for q in queries.values():
            q.stop()
        server.shutdown()


@pytest.mark.slow
def test_checkpoint_survives_switch_from_available_now_to_continuous(spark):
    """A checkpoint written by an ``availableNow`` run restarts under
    the default trigger: the TTL gate keeps one state layout under
    every trigger. The restarted leg sees a copy of tx1, which state
    still holds, and a new tx7."""
    import datetime

    server, url = _start_stub()
    root = tempfile.mkdtemp(prefix="med_e2e_switch_")
    analytics = os.path.join(root, "analytics")
    queries = _start_pipeline(
        spark, url, root, trigger={"availableNow": True}
    )
    try:
        for name, q in queries.items():
            assert q.awaitTermination(60), f"{name} still running"
            assert q.exception() is None, name
        assert len(server.requests) == 2

        et = datetime.datetime(2024, 1, 1, 0, 0, 0)
        queries = _start_pipeline(
            spark, url, root,
            rows=[
                Row("tx1", "n1", "1", "m", et, 3.0),
                Row("tx7", "n7", "7", "m", et, 1.0),
            ],
        )

        send = queries["send_query"]

        def _leg2_done():
            try:
                return sum(_status_counts(spark, analytics).values()) >= 5
            except Exception:  # noqa: BLE001 — a file being written
                return False

        assert _wait_until(lambda: not send.isActive or _leg2_done())
        assert send.isActive, send.exception()
        assert _leg2_done(), "leg 2 analytics missing"
        assert sorted(r["title"] for r in server.requests) == [
            "n1", "n3", "n7"
        ]
        dup = spark.read.parquet(analytics).where(
            "transaction_id = 'tx1' AND ts = 3.0"
        ).collect()
        assert [r.send_status for r in dup] == ["SENT_OR_DUPLICATED"]
        assert _status_counts(spark, analytics) == {
            "SENT": 3, "SENT_OR_DUPLICATED": 2
        }
    finally:
        for q in queries.values():
            q.stop()
        server.shutdown()


def _dup_rows():
    """Three rows of tx1 (n1 first by ``ts``) and one of tx2."""
    import datetime

    et = datetime.datetime(2024, 1, 1, 0, 0, 0)
    return [
        Row("tx1", "n1", "7", "m", et, 1.0),
        Row("tx1", "n1b", "7", "m", et, 2.0),
        Row("tx1", "n1c", "7", "m", et, 3.0),
        Row("tx2", "n2", "8", "m", et, 1.0),
    ]


@pytest.mark.slow
def test_pipeline_posts_sent_rows_and_answers_duplicates(spark):
    """Each SENT row is POSTed once, and each duplicate gets the
    constant response without a POST, in the analytics rows of the
    pipeline's one send pass. A batch with no invalid row writes no
    dead letters."""
    from scio_db_spark.schemas import NOT_HTTP_RESPONSE_ID

    server, url = _start_stub()
    root = tempfile.mkdtemp(prefix="med_e2e_dup_")
    q = _start_pipeline(
        spark, url, root, rows=_dup_rows(), order_cols=["ts"],
        trigger={"availableNow": True},
    )["send_query"]
    try:
        assert q.awaitTermination(60) and q.exception() is None
    finally:
        q.stop()
        server.shutdown()
    assert sorted(req["title"] for req in server.requests) == ["n1", "n2"]
    out = {
        r.notification_id: r
        for r in spark.read.parquet(os.path.join(root, "analytics")).collect()
    }
    assert sorted(out) == ["n1", "n1b", "n1c", "n2"]
    for nid in ("n1", "n2"):
        assert out[nid].send_status == "SENT"
        assert out[nid].resp_id == 101 and out[nid].nhub_success
    for nid in ("n1b", "n1c"):
        r = out[nid]
        assert r.send_status == "SENT_OR_DUPLICATED"
        assert (r.resp_id, r.resp_body, r.resp_user_id) == (
            NOT_HTTP_RESPONSE_ID, "SENT_OR_DUPLICATED", 7,
        )
        assert r.nhub_success and r.send_latency_ms == 0
    # no invalid row, so no dead-letter write
    assert not os.path.exists(os.path.join(root, "dead"))


@pytest.mark.slow
def test_pipeline_without_analytics_still_sends(spark):
    """Without an analytics path the pipeline still forces the sends:
    each SENT row is POSTed once and no duplicate is POSTed."""
    server, url = _start_stub()
    root = tempfile.mkdtemp(prefix="med_e2e_send_only_")
    q = _start_pipeline(
        spark, url, root, rows=_dup_rows(), analytics_path=None,
        order_cols=["ts"], trigger={"availableNow": True},
    )["send_query"]
    try:
        assert q.awaitTermination(60) and q.exception() is None
    finally:
        q.stop()
        server.shutdown()
    assert sorted(req["title"] for req in server.requests) == ["n1", "n2"]
    assert not os.path.exists(os.path.join(root, "analytics"))
