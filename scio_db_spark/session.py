"""SparkSession factory.

Mirrors the reference's ScioContext construction
(``/root/reference/src/main/scala/com.db.myproject/mediation/MediationService.scala:75-77``)
but Spark-first: one place that encodes the scale-oriented defaults we
want on a real cluster (AQE, skew-join handling, broadcast threshold,
shuffle partitions) while remaining testable on ``local[N]``.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point, still correct locally:
# - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
#   replaces hand-tuned partition counts.
# - autoBroadcastJoinThreshold 64m: dimension tables (region/nation/
#   customer-sized lookups) broadcast instead of shuffling the fact table.
# - shuffle.partitions: a starting value; AQE coalesces down. On a
#   1000-executor cluster this should be ~2-3x total cores.
# - Arrow enabled: every Pandas-UDF boundary is Arrow-batched.
_SCALE_DEFAULTS: dict[str, str] = {
    # local[N] runs every task inside the driver JVM, whose Spark
    # default heap is 1g — 32 concurrent tasks in 1g OOMs on
    # moderately sized shuffles long before the machine (128 GiB) is
    # near full (first hit: the 10x scaling run, BENCH_LOCAL_r06_
    # scaling.json). Static conf: applies when THIS factory creates
    # the JVM; on a real cluster the submitter owns it.
    "spark.driver.memory": "8g",
    "spark.driver.maxResultSize": "4g",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE's coalescing floor decides post-shuffle parallelism by BYTES
    # alone, but this engine's post-shuffle stages are often far more
    # CPU-dense per byte than a scan (pair explosion, shingle hashing,
    # vector math): at the 1m default a 5 MB shuffle collapses to ~5
    # tasks and the compute serializes (measured: basket_part_pairs_
    # topk 2.12 s -> 1.77 s at 64k, round-12 opt). Parameterised per
    # the scale-adaptivity rule: on a production cluster sub-MB
    # partitions waste scheduling, so deployments override via
    # SCIO_AQE_MIN_PARTITION_SIZE (e.g. "1m" or larger); the local
    # default keeps tiny-input benches parallel. See
    # OPTIMIZATION_r12.md.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": (
        os.environ.get("SCIO_AQE_MIN_PARTITION_SIZE", "64k")
    ),
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # Streaming state store: RocksDB scales to ~1M+ keys of TTL state
    # (BASELINE.md) without executor-heap pressure.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # Reliable checkpoints (DataFrame.checkpoint, used by the graph /
    # BPE iterative loops when SCIO_GRAPH_CKPT_DIR is set) are NEVER
    # deleted by Spark unless this is on — each peel/merge round would
    # otherwise leave a full frame on disk for the life of the process
    # (107 BPE rounds x vocab frame; ADVICE r10). Static conf: the
    # ContextCleaner reads it once at context start, which is why it
    # lives here and not at the setCheckpointDir call site.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}
# Python workers fork from a daemon whose zip import cache re-reads
# pyspark.zip only when it changed: on Python < 3.13 each task's
# importlib.invalidate_caches() otherwise costs 130-270 ms of CPU
# (python_daemon.py). Static conf; the daemon imports scio_db_spark,
# so the package must be importable where workers start. The version
# check is not imported from python_daemon: the package must not load
# that module before ``python -m`` runs it.
if sys.version_info < (3, 13):
    _SCALE_DEFAULTS["spark.python.daemon.module"] = "scio_db_spark.python_daemon"


class SessionFactory:
    """Builds configured SparkSessions (the engine's single entry point)."""

    @staticmethod
    def create(
        app_name: str = "scio-db-spark",
        master: str | None = None,
        extra_conf: dict[str, str] | None = None,
    ) -> SparkSession:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = SparkSession.builder.appName(app_name).master(
            master or f"local[{cpus}]"
        )
        conf = dict(_SCALE_DEFAULTS)
        # Heap override for tools that outgrow the 8g local default
        # (e.g. the x1000 scaling runs): static conf, so it only
        # matters for the process's FIRST session.
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        if mem:
            conf["spark.driver.memory"] = mem
        if extra_conf:
            conf.update(extra_conf)
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        # getOrCreate returns an EXISTING session with all builder
        # confs silently ignored. Re-apply every requested conf at
        # runtime so callers actually get what they asked for; confs
        # that are static (can't change post-start) and differ from
        # the running value are a real conflict — warn loudly instead
        # of letting streaming code run with heap state / wrong TZ and
        # no indication.
        def _norm(x: object) -> str:
            # Compare normalized forms: Python True vs Spark's 'true',
            # stray whitespace, etc. — naive str(v) inequality triggers
            # redundant sets and spurious static-conf warnings for
            # semantically-equal values.
            s = str(x).strip()
            return s.lower() if s.lower() in ("true", "false") else s

        for k, v in conf.items():
            try:
                if _norm(spark.conf.get(k, None)) != _norm(v):
                    spark.conf.set(k, v)
            except Exception:  # noqa: BLE001 — static conf on a live session
                # The equality probe must not raise out of session
                # creation: if the ORIGINAL failure came from conf.get
                # itself (not conf.set), a bare re-read here would
                # re-raise instead of warning. Any probe failure falls
                # through to the warning path.
                try:
                    existing = spark.conf.get(k, None)
                    if _norm(existing) == _norm(v):
                        continue  # effective value already matches
                except Exception:  # noqa: BLE001
                    existing = "<unreadable>"
                import warnings

                warnings.warn(
                    f"SessionFactory: existing SparkSession pins static "
                    f"conf {k!r}={existing!r}; requested "
                    f"{v!r} was NOT applied",
                    RuntimeWarning,
                    stacklevel=2,
                )
        return spark


def get_spark(app_name: str = "scio-db-spark") -> SparkSession:
    """Convenience accessor used by tests and bench."""
    return SessionFactory.create(app_name)
