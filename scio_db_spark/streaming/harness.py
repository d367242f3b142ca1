"""Deterministic streaming test harness (S8).

The Spark analogue of Beam's ``testStreamOf``
(``MediationServiceSpec.scala:47-57``): each ``add_batch`` call writes
one parquet file into a monitored directory and runs ONE
``Trigger.AvailableNow`` pass over it against a persistent checkpoint,
so tests control exactly which records arrive in which micro-batch and
per-key state survives between batches exactly as it would across
micro-batches of a long-running query.

Each pass ends after its data batches and any trailing batch a
watermark move owes (closing windows, removing timed-out state), since
no operator's timeout runs on processing time. State, watermarks and
armed event-time timeouts are restored from the checkpoint on every
restart, so a test that sleeps between passes moves the batch clock
exactly as idle time moves it under a long-running query.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class StreamHarness:
    """Drives a streaming transform micro-batch by micro-batch.

    Usage::

        h = StreamHarness(spark, schema)
        h.start(lambda stream: my_transform(stream))
        h.add_batch(rows)       # one micro-batch, runs to completion
        out1 = h.results()      # rows emitted so far
        h.add_batch(more_rows)
        ...
        h.stop()
    """

    def __init__(self, spark: SparkSession, schema: StructType | str):
        self.spark = spark
        self.schema = schema
        self.input_dir = tempfile.mkdtemp(prefix="stream_in_")
        self.checkpoint_dir = tempfile.mkdtemp(prefix="stream_ck_")
        self._transform: Callable[[DataFrame], DataFrame] | None = None
        self._output_mode = "update"
        self._collected: list = []

    def start(
        self,
        transform: Callable[[DataFrame], DataFrame],
        output_mode: str = "update",
    ) -> None:
        self._transform = transform
        self._output_mode = output_mode

    def _run_pass(self) -> list:
        """One Trigger.AvailableNow pass into the collected rows;
        returns the pass's ``recentProgress``."""
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", "1")  # one file = one micro-batch
            .parquet(self.input_dir)
        )

        def _sink(batch_df: DataFrame, _epoch: int) -> None:
            self._collected.extend(batch_df.collect())

        query = (
            self._transform(stream)
            .writeStream.foreachBatch(_sink)
            .outputMode(self._output_mode)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return query.recentProgress

    def add_batch(self, rows: list, wait: bool = True) -> list | None:
        """Stage ``rows`` as one file; with ``wait``, run a pass over it
        and return that pass's ``recentProgress``."""
        # One parquet file into the monitored dir: the file source does
        # not recurse into the directory a DataFrame write creates,
        # hence the staging dir + rename.
        df = self.spark.createDataFrame(rows, self.schema)
        staging = tempfile.mkdtemp(prefix="stream_stage_")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(
            f for f in os.listdir(staging)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        os.rename(
            os.path.join(staging, part),
            os.path.join(self.input_dir, f"batch_{uuid.uuid4().hex}.parquet"),
        )
        shutil.rmtree(staging, ignore_errors=True)
        return self._run_pass() if wait else None

    def process_pending(self) -> None:
        """Run one available-now pass without adding data: only the
        batch the last watermark move still owes, if any."""
        self._run_pass()

    def results(self) -> list:
        return list(self._collected)

    def stop(self) -> None:
        self._transform = None
        # Remove the per-harness temp dirs (checkpoints include RocksDB
        # state — dozens of streaming tests would otherwise accumulate
        # hundreds of dirs per CI run).
        shutil.rmtree(self.input_dir, ignore_errors=True)
        shutil.rmtree(self.checkpoint_dir, ignore_errors=True)
