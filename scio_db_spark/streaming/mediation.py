"""End-to-end mediation pipeline (SURVEY.md §3.1, MediationService.scala:71-145).

The flagship dataflow of the reference, Spark-first:

```
readStream (BERs), one streaming query, one checkpoint
  STEP 2   key by idempotent_key (P1/P2)
  STEP 2.2 validity flag (F1/F2); every row goes on to the gate
  STEP 2.3 KO rows pass the gate as INVALID (no state, no POST) and,
           after STEP 5-6 of the same micro-batch, go to tumbling
           windows → dead-letter files (K5/W2); no write without one
  STEP 2.b historical key set → sorted key file, written and
           shipped once at build (J1; no per-batch plan stage)
  STEP 3-4 stateful TTL dedup (D2/D4); a key with no live state is
           probed in the key file, and a hit gets no row and no state
           (D3, the reference's INITIAL_LOAD_ state seed)
  STEP 5   one send pass over the deduped batch (K4, W8/W9/W11):
           SENT → async HTTP POST,
           SENT_OR_DUPLICATED → constant response, no POST (D4)
  STEP 6   (record, response) analytics projection (P9)
```

The steps after the gate run in one ``foreachBatch`` body over the
persisted gated batch, so the state operator runs once per micro-batch
and each input file is listed, decoded and checkpointed once.

Where the reference turns the historical records into a side-input map
once, at pipeline start (MediationService.scala:89-96,110-117), we
write the distinct historical keys once, when the pipeline is built, to
a sorted key file that every Python worker maps once, and the TTL gate
probes it (``ttl_dedup.ship_historical_keys``). To pick up new
historical records, rebuild the pipeline over a fresh read (see
``build_mediation_core``). The J5 refreshing side input is the lookup
join's job, not this path's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scio_db_spark.observability import (
    observe_metrics,
    observed_batch,
    validity_metrics,
)
from scio_db_spark.operators.keying import with_idempotent_key
from scio_db_spark.operators.validity import is_valid_ber
from scio_db_spark.schemas import INVALID
from scio_db_spark.sinks.files import (
    idempotent_batch_writer,
    write_windowed_batch,
)
from scio_db_spark.sinks.http_sink import send_http_batch, to_http_request
from scio_db_spark.streaming.ttl_dedup import ship_historical_keys, ttl_dedup

_VALID = "__is_valid"


def build_mediation_core(
    stream_df: DataFrame,
    historical_df: DataFrame | None = None,
    ttl_seconds: float = 259200.0,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Build the gated streaming plan (no sinks attached).

    ``stream_df`` is the flat BER stream (BER_FLAT_SCHEMA columns). The
    result carries every input row plus ``idempotent_key`` and
    ``send_status`` in update mode: ``SENT`` or ``SENT_OR_DUPLICATED``
    for a valid row that passed the TTL gate, ``INVALID`` for a row that
    fails F1 and belongs under ``toxic/``. An invalid row touches no
    state (see ``ttl_dedup``). Every query built on the plan reports
    ``n_total``/``n_ok``/``n_ko`` per micro-batch under
    ``observedMetrics["mediation_gate"]``.

    ``historical_df`` is read once, here: its distinct keys go to a
    sorted key file shipped to the workers, which the TTL gate probes;
    no micro-batch reads the historical set. The file is memoised per
    SparkContext on the plan and on Spark's listing of its files (path,
    length, modification time), so a rebuild over unchanged files runs
    no Spark job. A fresh ``spark.read`` lists the files again, so a
    rebuild over one sees files added or rewritten, from this session or
    outside it, without ``spark.catalog.refreshByPath``; a rebuild over
    the same DataFrame object reuses the listing it was created with.
    """
    keyed = with_idempotent_key(
        stream_df, "transaction_id", "customer_id"
    )  # P1/P2: transactionId-customerId, MyEventRecordUtils.scala:55
    # F1: non-null transaction/notification/customer ids
    # (MyEventRecordUtils.scala:15-25); G2 metrics ride the job.
    flagged = observe_metrics(
        keyed.withColumn(_VALID, is_valid_ber()),
        "mediation_gate",
        validity_metrics(_VALID),
    )
    # J1: the gate drops already-notified keys (D3).
    hist_keys = (
        None if historical_df is None else ship_historical_keys(historical_df)
    )
    return ttl_dedup(
        flagged, ttl_seconds=ttl_seconds, order_cols=order_cols,
        historical_keys=hist_keys, valid_col=_VALID,
    ).drop(_VALID)


def send_deduped_batch(
    batch_df: DataFrame,
    url: str,
    **send_kwargs,
) -> DataFrame:
    """STEP 5-6 batch body: one ``send_http_batch`` pass over the
    deduped batch. SENT rows are POSTed; duplicates get the constant
    SENT_OR_DUPLICATED response without a network call (D4,
    StateAsyncParDoWithHttpHandler.scala:155-164). The batch is read
    once, so the state operator above it runs once per micro-batch.

    Returns the (record, response) analytics DataFrame (P9).
    """
    return send_http_batch(to_http_request(batch_df), url, **send_kwargs)


def run_mediation_pipeline(
    stream_df: DataFrame,
    url: str,
    checkpoint_dir: str,
    dead_letter_path: str,
    analytics_path: str | None = None,
    historical_df: DataFrame | None = None,
    ttl_seconds: float = 259200.0,
    window_duration: str = "30 seconds",
    trigger: dict | None = None,
    order_cols: list[str] | None = None,
    **send_kwargs,
) -> dict:
    """Start the pipeline: one streaming query, checkpointed under
    ``<checkpoint_dir>/send``. Returns ``{"send_query": q, "ko_query":
    q}``; ``ko_query`` names the same query, for callers of the former
    two-query layout.

    Each micro-batch persists the gated batch once. It POSTs the SENT
    rows and writes the (record, response) pairs (P9,
    MediationService.scala:259-268) to ``analytics_path`` with an
    epoch-partitioned overwrite, or just forces the sends when there is
    no path (K7 off, as in the reference, MediationService.scala:137-139).
    Then, only when the batch holds invalid rows, it writes them under
    ``<dead_letter_path>/toxic/`` in ``window_duration`` windows (K5,
    MediationService.scala:128-131), also replay-safe per epoch. The
    sends go first, so a dead-letter write never delays a notification.

    The TTL gate removes expired keys the same way under every trigger
    (see ``ttl_dedup``), so an ``availableNow`` run ends and a
    continuous one goes idle when its input does.

    An idle continuous query still costs CPU under the default
    ``trigger=None`` (no interval): with no input and no batch running,
    it looks at its file source again every
    ``spark.sql.streaming.pollingDelay`` (10 ms). Measured over 30 s
    with no input after one file (``local[4]``, a 4-core VM, CPU of the
    driver's process tree), the query used 9.6 CPU-s, and 0.7 under
    ``{"processingTime": "1 second"}``; the former two-query layout
    used 17.6 and 1.3 on the same host. A long-running deployment that
    can wait up to an interval for new input should pass one.
    """
    gated = build_mediation_core(
        stream_df,
        historical_df=historical_df,
        ttl_seconds=ttl_seconds,
        order_cols=order_cols,
    )
    toxic_path = f"{dead_letter_path.rstrip('/')}/toxic"
    analytics_writer = (
        idempotent_batch_writer(analytics_path)
        if analytics_path is not None
        else None
    )
    invalid = F.col("send_status") == INVALID

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            # The send's own job counts the invalid rows: no extra job
            # decides whether there are dead letters to write.
            counted, obs = observed_batch(
                batch_df, "invalid_rows", {"n": F.count_if(invalid)}
            )
            sent = send_deduped_batch(
                counted.where(~invalid), url, **send_kwargs
            )
            if analytics_writer is not None:
                analytics_writer(sent, epoch_id)
            else:
                sent.write.format("noop").mode("overwrite").save()
            if obs.get["n"]:
                write_windowed_batch(
                    batch_df.where(invalid).drop("send_status"),
                    toxic_path,
                    window_duration=window_duration,
                    epoch_id=epoch_id,
                )
        finally:
            batch_df.unpersist()

    writer = (
        gated.writeStream.foreachBatch(_process)
        # update, not the default append, which Spark rejects for the
        # update-mode state output of ttl_dedup
        .outputMode("update")
        .option("checkpointLocation", f"{checkpoint_dir}/send")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    query = writer.start()
    return {"send_query": query, "ko_query": query}
