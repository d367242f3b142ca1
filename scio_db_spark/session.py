"""SparkSession factory.

Mirrors the reference's ScioContext construction
(``/root/reference/src/main/scala/com.db.myproject/mediation/MediationService.scala:75-77``)
but Spark-first: one place that encodes the scale-oriented defaults we
want on a real cluster (AQE, skew-join handling, broadcast threshold,
shuffle partitions) while remaining testable on ``local[N]``.
"""

from __future__ import annotations

import os
import warnings

from pyspark import SparkContext
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
    # Python workers fork from a daemon whose zip import cache re-reads
    # pyspark.zip only when it changed (python_daemon.py; from Python
    # 3.13 the stdlib does that and the daemon only hands over). Static
    # conf, as is the workers' path: it carries the directory holding
    # this package, so the daemon and the UDFs import scio_db_spark
    # wherever the driver was started.
    "spark.python.daemon.module": "scio_db_spark.python_daemon",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
}


def _qualified(spark: SparkSession, path: str) -> str:
    """``path`` qualified by its Hadoop file system, as Spark does."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.makeQualified(jpath).toString()


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
        live = SparkContext._active_spark_context is not None
        spark = builder.getOrCreate()
        # On a live session getOrCreate applies the SQL confs that are
        # not static, but the running context keeps its own core confs
        # (heap, worker daemon, ...): name every conf that did not take.
        # A fresh context took every conf from the builder, and Spark
        # extends some of them (spark.driver.extraJavaOptions), so there
        # is nothing to check.
        if live:
            running = spark.sparkContext.getConf()
            kept = []
            for k, v in conf.items():
                # SQL confs live in the session, the rest in the context.
                if k.startswith("spark.sql."):
                    now = spark.conf.get(k, None)
                else:
                    now = running.get(k)
                if k == "spark.sql.warehouse.dir":
                    # Stored qualified: /tmp/wh reads back file:/tmp/wh.
                    v = _qualified(spark, v)
                if now != v:
                    kept.append(f"{k}={now!r} (requested {v!r})")
            if kept:
                warnings.warn(
                    "SessionFactory: the running session keeps "
                    + ", ".join(kept),
                    RuntimeWarning,
                    stacklevel=2,
                )
        return spark


def get_spark(app_name: str = "scio-db-spark") -> SparkSession:
    """Convenience accessor used by tests and bench."""
    return SessionFactory.create(app_name)
