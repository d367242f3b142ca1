"""Async HTTP notification sink (SURVEY.md §2.2 K4, §2.8 W8/W9/W11).

Re-expresses the reference's at-most-once HTTP push
(``mediation/http/clients/akka/AkkaHttpClient.scala:29-41,76-98``,
retry ``http/StateAsyncParDoWithHttpHandler.scala:36-37,66-84``, error
swallowing ``http/state/StateBaseAsyncDoFn.java:118-135``, throttle
``application.conf:22-31``) on Spark's execution model:

- the micro-batch is the bundle (W7): the ``foreachBatch`` body of
  ``run_mediation_pipeline`` drains every in-flight request before the
  batch commits, which is exactly the ``@FinishBundle`` flush of the
  reference;
- the send itself runs DISTRIBUTED via ``mapInPandas`` — each executor
  posts its own partition through its Python worker's sender pool, so
  throughput scales with executors instead of funneling through the
  driver;
- per-worker token bucket + 32-thread pool ≈ Akka's
  ``throttle-requests``/``max-open-requests`` (W11). The budget is
  per PYTHON WORKER, and Spark forks one worker per concurrently
  running task — so the cluster-wide rate is
  ``throttle_rps × (executors × cores-per-executor)``; divide the
  global SLA by TOTAL CONCURRENT TASKS, not executor count;
- fixed-backoff retry ×N (W8, ZIO ``Schedule.fixed(10s) && recurs(3)``);
- any exhausted/failed send maps to the KO response and the stream
  stays alive (W9 — "REMOVED for avoiding stalling");
- response classification (P8): success iff the lowercased body
  contains neither "error" nor "ko" (MyHttpResponse.scala:19-27);
- latency stamping (P4): ``send_latency_ms`` per record
  (MyEventRecordUtils.scala:67-76).

The sender pool, each sender thread's keep-alive connection and the
token buckets are per-Python-worker singletons (module level), the
Spark analogue of ``DoFnWithResource.PER_CLASS``
(StateAsyncParDoWithHttpHandler.scala:48-50): a reused Python worker
keeps its sender threads and their connections across tasks and
micro-batches.
"""

from __future__ import annotations

import functools
import http.client
import json
import threading
import time
import urllib.parse
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scio_db_spark.schemas import (
    KO_RESPONSE_BODY,
    NOT_HTTP_RESPONSE_ID,
    SENT_OR_DUPLICATED,
    struct_ddl,
)

#: Output columns appended to the input rows by :func:`send_http_batch`.
RESPONSE_FIELDS = (
    "resp_id int, resp_title string, resp_body string, "
    "resp_user_id int, nhub_success boolean, send_latency_ms long"
)

# Fixed send settings (application.conf:22-31 analogues): sender
# threads per Python worker, the connect/read deadline of each request
# (``initial-timeout``) and the token bucket capacity
# (``throttle-burst``).
_SENDER_THREADS = 32
_INITIAL_TIMEOUT_S = 30.0
_BURST = 1000.0


class _HttpStatusError(OSError):
    """HTTP >= 400 — distinct from transport errors so the stale
    keep-alive reconnect path can tell them apart."""


class TokenBucket:
    """Thread-safe token bucket: ``rate`` tokens/s, ``burst`` capacity."""

    def __init__(self, rate: float, burst: float | None = None):
        self.rate = float(rate)
        # capacity below one token can never satisfy acquire() — every
        # sender thread would spin forever (silent stall, no error).
        self.capacity = max(
            1.0, float(burst if burst is not None else rate)
        )
        self.tokens = self.capacity
        self.last = time.monotonic()
        self.lock = threading.Lock()

    def acquire(self) -> None:
        while True:
            with self.lock:
                now = time.monotonic()
                self.tokens = min(
                    self.capacity, self.tokens + (now - self.last) * self.rate
                )
                self.last = now
                if self.tokens >= 1.0:
                    self.tokens -= 1.0
                    return
                wait = (1.0 - self.tokens) / self.rate
            time.sleep(wait)


_buckets: dict[float, TokenBucket] = {}
_buckets_lock = threading.Lock()


def _bucket_for(rate: float) -> TokenBucket:
    with _buckets_lock:
        if rate not in _buckets:
            _buckets[rate] = TokenBucket(rate, _BURST)
        return _buckets[rate]


@functools.cache
def _sender_pool() -> ThreadPoolExecutor:
    """This Python worker's sender pool, made by its first send (a
    module function: the partition closure is pickled by value, and
    with it any pool object it named)."""
    return ThreadPoolExecutor(max_workers=_SENDER_THREADS)


def _as_int(v) -> int | None:
    """Best-effort int coercion; None for missing or malformed values.

    Values outside int32 are ALSO None: the response schema declares
    32-bit ids, and an out-of-range server id must degrade to a
    missing field (W9 never-crash contract), not overflow the Arrow
    cast and fail the task.
    """
    try:
        i = int(v)
    except (TypeError, ValueError):
        return None
    return i if -2147483648 <= i <= 2147483647 else None


def classify_success(body: str | None) -> bool:
    """P8: success iff body lacks 'error'/'ko' (MyHttpResponse.scala:19-27).

    A missing body (None — impossible in the reference's unmarshalled
    DTO) is classified as failure, not success.
    """
    if body is None:
        return False
    low = body.lower()
    return not ("error" in low or "ko" in low)


# Per-thread keep-alive connections (the Akka connection-pool analogue,
# application.conf:23-24 max-open-connection): one persistent HTTP
# connection per sender thread per host, reused across requests —
# without reuse, every POST pays TCP setup/teardown and throughput
# drops ~4×.
_tl = threading.local()


def _get_conn(scheme: str, netloc: str):
    conns = getattr(_tl, "conns", None)
    if conns is None:
        conns = _tl.conns = {}
    key = (scheme, netloc)
    conn = conns.get(key)
    if conn is None:
        cls = (
            http.client.HTTPSConnection
            if scheme == "https"
            else http.client.HTTPConnection
        )
        conn = cls(netloc, timeout=_INITIAL_TIMEOUT_S)
        conns[key] = conn
    return conn


def _drop_conn(scheme: str, netloc: str) -> None:
    conns = getattr(_tl, "conns", {})
    conn = conns.pop((scheme, netloc), None)
    if conn is not None:
        try:
            conn.close()
        except Exception:  # noqa: BLE001
            pass


def _post_once(url: str, payload: dict) -> dict:
    parts = urllib.parse.urlsplit(url)
    path = parts.path or "/"
    if parts.query:
        path += "?" + parts.query
    data = json.dumps(payload).encode("utf-8")
    headers = {"Content-Type": "application/json"}
    def _attempt():
        conn = _get_conn(parts.scheme, parts.netloc)
        conn.request("POST", path, body=data, headers=headers)
        resp = conn.getresponse()
        body = resp.read().decode("utf-8", errors="replace")
        if resp.status >= 400:
            # Non-2xx = application-level failure: surfaces to the W8
            # retry loop (body read keeps the connection reusable).
            raise _HttpStatusError(f"HTTP {resp.status}: {body[:200]}")
        return body

    try:
        raw = _attempt()
    except _HttpStatusError:
        raise  # real HTTP status — no point reconnecting
    except Exception:
        # Transport error — including RemoteDisconnected/ConnectionReset
        # from a stale keep-alive the server closed between requests:
        # drop the pooled connection and re-attempt once on a fresh one;
        # failures of the fresh attempt propagate to send_one's retry.
        _drop_conn(parts.scheme, parts.netloc)
        raw = _attempt()
    try:
        parsed = json.loads(raw)
        if not isinstance(parsed, dict):
            parsed = {"body": raw}
        elif "body" not in parsed:
            # A 2xx JSON object without the reference's DTO shape:
            # record the raw text as the body so classification and
            # analytics see the actual response instead of a null.
            parsed = {**parsed, "body": raw}
    except ValueError:
        parsed = {"body": raw}
    return parsed


def send_one(
    url: str,
    payload: dict,
    retries: int = 3,
    backoff_s: float = 10.0,
) -> tuple[dict, int]:
    """W8/W9: POST with fixed-backoff retry; KO response on exhaustion.

    Returns ``(response_dict, attempts_used)``; never raises.
    """
    attempt = 0
    while True:
        try:
            return _post_once(url, payload), attempt
        except Exception:  # noqa: BLE001 — W9: keep the stream alive
            attempt += 1
            if attempt > retries:
                return (
                    {
                        "id": NOT_HTTP_RESPONSE_ID,
                        "title": "",
                        "body": KO_RESPONSE_BODY,
                        "userId": payload.get("userId"),
                    },
                    attempt,
                )
            time.sleep(backoff_s)


def to_http_request(df: DataFrame) -> DataFrame:
    """P7: project the HTTP request DTO
    (NotificationFactory.scala:8-13 — title=notification.id,
    body=message, userId=int(customer.id))."""
    return df.withColumns(
        {
            "title": F.col("notification_id").cast("string"),
            "body": F.col("message").cast("string"),
            "user_id": F.col("customer_id").cast("int"),
        }
    )


def send_http_batch(
    batch_df: DataFrame,
    url: str,
    throttle_rps: float | None = 1000.0,
    retries: int = 3,
    backoff_s: float = 10.0,
) -> DataFrame:
    """K4: post every row (expects ``title``/``body``/``user_id`` cols,
    see :func:`to_http_request`), appending the response columns.

    A row whose ``send_status`` is ``SENT_OR_DUPLICATED`` gets the
    constant duplicate response without a network call (D4,
    StateAsyncParDoWithHttpHandler.scala:155-164), in the same pass
    that POSTs the rest, so a ``ttl_dedup`` batch is read once.

    Distributed: each executor partition sends through its Python
    worker's sender pool + token bucket, and every row's response is in
    before the partition yields it. The returned DataFrame is lazy; the
    caller's write/collect action inside ``foreachBatch`` is the bundle
    flush.
    """
    # Input columns named like a response column (e.g. a BER-flat
    # stream's pre-send nhub_success placeholder) must be DROPPED, not
    # declared twice: the pandas assignment overwrites in place, so a
    # duplicated schema entry would make every non-empty micro-batch
    # fail with a column-count mismatch.
    resp_names = {f.split()[0] for f in RESPONSE_FIELDS.split(", ")}
    clash = [c for c in batch_df.columns if c in resp_names]
    if clash:
        batch_df = batch_df.drop(*clash)
    out_schema = struct_ddl(batch_df.schema, RESPONSE_FIELDS)

    def _send_partition(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bucket = _bucket_for(throttle_rps) if throttle_rps else None
        pool = _sender_pool()

        def _send_row(row) -> tuple:
            user_id = None if pd.isna(row.user_id) else int(row.user_id)
            if getattr(row, "send_status", None) == SENT_OR_DUPLICATED:
                # The reference classifies this response as SUCCESS (its
                # body contains neither "error" nor "ko",
                # MyHttpResponse.scala:19-27): a duplicate is a correctly
                # handled record, not a failed send.
                return (
                    NOT_HTTP_RESPONSE_ID, None, SENT_OR_DUPLICATED, user_id,
                    True, 0,
                )
            if bucket is not None:
                bucket.acquire()
            t0 = time.time()
            payload = {"title": row.title, "body": row.body, "userId": user_id}
            resp, _attempts = send_one(
                url, payload, retries=retries, backoff_s=backoff_s
            )
            latency_ms = int((time.time() - t0) * 1000)
            body = resp.get("body")
            # Defensive int coercion: a server replying with non-integer
            # id/userId must classify as a malformed response (null
            # column), never crash the task — W9's never-stall contract
            # covers the parsing layer too.
            rid = _as_int(resp.get("id"))
            uid = _as_int(resp.get("userId"))
            return (
                rid if rid is not None else (
                    NOT_HTTP_RESPONSE_ID if resp.get("id") is None else None
                ),
                resp.get("title"),
                body,
                uid,
                classify_success(body),
                latency_ms,
            )

        for pdf in pdfs:
            if not len(pdf):
                continue
            results = list(pool.map(_send_row, pdf.itertuples(index=False)))
            out = pdf.copy()
            out[
                [
                    "resp_id",
                    "resp_title",
                    "resp_body",
                    "resp_user_id",
                    "nhub_success",
                    "send_latency_ms",
                ]
            ] = pd.DataFrame(results, index=pdf.index)
            yield out

    return batch_df.mapInPandas(_send_partition, out_schema)
