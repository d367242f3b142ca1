"""observe()-based metrics tests: counts ride the job, no extra scan."""

from __future__ import annotations

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from scio_db_spark.observability import (
    observe_metrics,
    observed_batch,
    validity_metrics,
)


def test_observed_batch_counts_without_second_action(spark):
    df = spark.createDataFrame(
        [Row(k="a", v=1.0), Row(k=None, v=2.0), Row(k="c", v=3.0)]
    ).withColumn("is_valid", F.col("k").isNotNull())
    out, obs = observed_batch(df, "gate", validity_metrics())
    out.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert (got["n_total"], got["n_ok"], got["n_ko"]) == (3, 2, 1)


def test_streaming_observed_metrics_per_microbatch(spark, tmp_path):
    rows = [
        Row(k="a", event_time=datetime.datetime(2024, 1, 1)),
        Row(k=None, event_time=datetime.datetime(2024, 1, 1)),
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("k string, event_time timestamp")
        .parquet(src)
        .withColumn("is_valid", F.col("k").isNotNull())
    )
    out = observe_metrics(stream, "gate", validity_metrics())
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    observed = [
        p["observedMetrics"]["gate"].asDict()
        for p in q.recentProgress
        if p.get("observedMetrics", {}).get("gate")
    ]
    assert observed, "no micro-batch reported the gate metrics"
    total = {k: sum(m[k] for m in observed) for k in observed[0]}
    assert (total["n_total"], total["n_ok"], total["n_ko"]) == (2, 1, 1)


def test_mediation_gate_metrics_ride_the_pipeline(spark, tmp_path):
    # The mediation core reports its OK/KO gate counts per micro-batch
    # without a count branch, on the one query built on its gated plan.
    from pyspark.sql import Row

    from scio_db_spark.streaming.mediation import build_mediation_core

    rows = [
        Row(transaction_id="tx1", notification_id="n1",
            customer_id="1", message="m", ts=1.0),
        Row(transaction_id=None, notification_id="n2",
            customer_id="2", message="m", ts=1.0),  # KO
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "transaction_id string, notification_id string, "
        "customer_id string, message string, ts double"
    ).parquet(src)
    gated = build_mediation_core(stream, ttl_seconds=3600)
    q = (
        gated.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    gates = [
        p["observedMetrics"]["mediation_gate"].asDict()
        for p in q.recentProgress
        if p.get("observedMetrics", {}).get("mediation_gate")
    ]
    total = {k: sum(g[k] for g in gates) for k in gates[0]}
    assert (total["n_total"], total["n_ok"], total["n_ko"]) == (2, 1, 1)
