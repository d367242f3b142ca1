"""Streaming rolling-anomaly throughput (records/min).

Sibling of bench_corpus_ingest.py: pushes N
synthetic keyed readings through the stateful k-sigma detector
(streaming/anomaly.py::anomaly_detect_stream — per-key state is three
integers and a last-touch time) and reports records/min against the reference's 200K/min
mediation stress posture (the closest published throughput figure;
the reference has no anomaly operator).

Usage: python tools/bench_anomaly.py [n_records] [n_keys]
           [--idle-ms N] [--layout mod|seq]
Prints one JSON line.

``--idle-ms``: enable idle-TTL state eviction (round-6). ``--layout
seq`` gives keys temporal locality (key = id DIV rows_per_key) — the
regime where eviction pays: a key's readings cluster, then the key
goes idle and its (n, Σx, Σx²) triple is dropped, so the state store
tracks ACTIVE keys instead of every key ever seen. With the default
``mod`` layout every key stays active for the whole run and eviction
never fires (decisions unchanged — pinned in tests).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from benchgate import preflight_load_gate  # noqa: E402
from scio_db_spark.session import SessionFactory  # noqa: E402
from scio_db_spark.streaming.anomaly import anomaly_detect_stream  # noqa: E402


def main() -> None:
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_records = int(pos[0]) if len(pos) > 0 else 1_000_000
    n_keys = int(pos[1]) if len(pos) > 1 else 10_000
    idle_ms = (
        int(sys.argv[sys.argv.index("--idle-ms") + 1])
        if "--idle-ms" in sys.argv
        else None
    )
    layout = (
        sys.argv[sys.argv.index("--layout") + 1]
        if "--layout" in sys.argv
        else "mod"
    )

    _gate_stamps = preflight_load_gate("bench_anomaly")
    spark = SessionFactory.create("bench-anomaly")
    spark.sparkContext.setLogLevel("ERROR")

    indir = tempfile.mkdtemp(prefix="an_in_")
    ck = tempfile.mkdtemp(prefix="an_ck_")

    # Deterministic readings: a stable per-key baseline with a ~0.5%
    # spike population, pure Column generation so the detector — not
    # the generator — is what gets measured.
    rows_per_key = max(1, n_records // n_keys)
    key_expr = (
        (F.col("id") % n_keys)
        if layout == "mod"
        else (F.col("id") / rows_per_key).cast("long")
    )
    gen = spark.range(n_records).select(
        F.concat(F.lit("k"), key_expr.cast("string")).alias("k"),
        F.col("id").alias("seq"),
        F.when(F.col("id") % 211 == 0, F.lit(5000.0))
        .otherwise(
            10.0 + (F.col("id") % 7).cast("double") * 0.25
        )
        .alias("value"),
    )
    gen.write.mode("overwrite").parquet(indir)

    stream = spark.readStream.schema(
        "k string, seq bigint, value double"
    ).parquet(indir)
    out = anomaly_detect_stream(
        stream, "k", "value", ("seq",), k=3, min_n=30,
        idle_timeout_ms=idle_ms,
    )

    counts = {"rows": 0, "anomalies": 0}

    def _sink(batch_df, _epoch):
        row = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0)).alias("a"),
        ).collect()[0]
        counts["rows"] += row.n or 0
        counts["anomalies"] += row.a or 0

    t0 = time.perf_counter()
    q = (
        out.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    elapsed = time.perf_counter() - t0
    q.stop()

    print(
        json.dumps(
            {
                "metric": "anomaly_stream_records_per_min",
                "value": round(counts["rows"] / elapsed * 60),
                "unit": "records/min",
                "records": counts["rows"],
                "anomalies": counts["anomalies"],
                "distinct_keys": n_keys,
                "layout": layout,
                "idle_ms": idle_ms,
                "elapsed_sec": round(elapsed, 2),
                "load_1m": list(os.getloadavg())[:2],
                **_gate_stamps,
                "baseline_records_per_min": 200_000,
            }
        )
    )


if __name__ == "__main__":
    main()
