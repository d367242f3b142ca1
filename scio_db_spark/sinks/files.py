"""File and debug sinks (SURVEY.md §2.2 K1/K2/K5/K6).

All batch writes go through the DataFrame writer so Catalyst controls
the physical write (dynamic partition overwrite, file sizing via
``maxRecordsPerFile``). The windowed streaming sink (K1) is
``foreachBatch`` + ``partitionBy(window_start)`` — at 100 TB that means
one write job per micro-batch, files co-located per window partition,
no driver-side file shuffling.

Format note: the reference writes Avro
(``streaming/utils/SinkUtils.scala:36-71``); Spark's avro connector is
a separate jar not present in this environment, so the default format
here is parquet with ``fmt`` overridable — the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_sharded(
    df: DataFrame,
    path: str,
    num_shards: int | None = None,
    fmt: str = "parquet",
    mode: str = "append",
    max_records_per_file: int | None = None,
) -> None:
    """K2: sharded file write (``saveAsAvroFile(num_shards)``,
    SinkUtils.scala:58-71).

    ``num_shards=None`` keeps the upstream partitioning (preferred at
    scale — an explicit ``repartition`` is a full shuffle, so only pass
    it when the downstream consumer needs exactly-N files).
    """
    if num_shards is not None:
        df = df.repartition(num_shards)
    if fmt == "avro":
        from scio_db_spark.functions.avroio import write_avro
        from scio_db_spark.sources.readers import has_avro_jar

        if not has_avro_jar(df.sparkSession):
            # Connector jar absent: pure-Python OCF writer, one shard
            # per partition (functions/avroio.py). Honor the writer
            # mode: overwrite stages new shards in a hidden temp
            # subdirectory first (invisible to *.avro globs and to
            # Spark's file index), then swaps them in — a mid-write
            # task failure or driver crash leaves the previous data
            # untouched, mirroring the JVM writer's stage-then-commit.
            # The final delete-old/rename-new step is not transactional
            # (plain filesystem), but the destructive part only begins
            # after the distributed job has fully succeeded. append
            # writes under a unique prefix so reruns never clobber
            # earlier shards. max_records_per_file is a JVM-writer
            # knob; shard size here is bounded by partition size.
            import glob as _glob
            import os as _os
            import shutil as _shutil
            import uuid as _uuid

            if mode == "overwrite":
                staging = _os.path.join(
                    path, f"._staging-{_uuid.uuid4().hex[:8]}"
                )
                try:
                    write_avro(df, staging, name_prefix="part")
                except BaseException:
                    _shutil.rmtree(staging, ignore_errors=True)
                    raise
                for old in _glob.glob(_os.path.join(path, "*.avro")):
                    _os.remove(old)
                for f in sorted(_os.listdir(staging)):
                    _os.replace(
                        _os.path.join(staging, f),
                        _os.path.join(path, f),
                    )
                _shutil.rmtree(staging, ignore_errors=True)
            elif mode == "append":
                write_avro(
                    df,
                    path,
                    name_prefix=f"part-{_uuid.uuid4().hex[:8]}",
                )
            else:
                raise ValueError(
                    f"jar-less avro write supports mode append/"
                    f"overwrite, got {mode!r}"
                )
            return
    writer = df.write.format(fmt).mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.save(path)


def write_windowed_batch(
    batch_df: DataFrame,
    path: str,
    ts_col: str = "event_time",
    window_duration: str = "30 seconds",
    fmt: str = "parquet",
    epoch_id: int | None = None,
) -> None:
    """K1 batch body: write one partition dir per tumbling window.

    The reference names each Avro file ``<start>_<end>.avro`` per
    ``IntervalWindow`` (SinkUtils.scala:36-56, TimeUtils.scala:38-57);
    here every window becomes a ``window_start=.../`` partition dir —
    same grouping contract, but partition-pruned on read.
    ``fmt="avro"`` without the connector jar reproduces the exact
    ``<start>_<end>`` file-naming contract via the pure-Python writer.
    """
    if fmt == "avro":
        from scio_db_spark.functions.avroio import write_windowed_avro
        from scio_db_spark.sources.readers import has_avro_jar

        if not has_avro_jar(batch_df.sparkSession):
            # epoch_id in the file tag keeps successive micro-batches
            # of the same window from truncating each other's shards.
            write_windowed_avro(
                batch_df, path, ts_col=ts_col,
                window_duration=window_duration,
                file_tag="" if epoch_id is None else f"e{epoch_id}",
            )
            return
    # Window start derived arithmetically, NOT via F.window: the
    # TimeWindowing rule injects an isnotnull(ts) filter that silently
    # DROPS null-timestamp rows before any when() could route them —
    # data loss in the dead-letter leg itself. Null-ts rows land in an
    # explicit window_start=no-window partition (K5 contract), same as
    # the jar-less Avro writer.
    from scio_db_spark.functions.avroio import _duration_micros

    dur_us = _duration_micros(window_duration)
    um = F.unix_micros(F.col(ts_col))
    start_us = um - F.pmod(um, F.lit(dur_us))
    out = batch_df.withColumn(
        "window_start",
        F.when(F.col(ts_col).isNull(), F.lit("no-window")).otherwise(
            F.date_format(
                F.timestamp_micros(start_us), "yyyy-MM-dd_HH-mm-ss"
            )
        ),
    )
    if epoch_id is not None:
        # foreachBatch is at-least-once: a replayed epoch must REPLACE
        # its own partitions, not append duplicates. One shared body
        # with idempotent_batch_writer — epoch partition + dynamic
        # per-partition overwrite (_epoch_overwrite).
        _epoch_overwrite(out, path, fmt, ["window_start"], epoch_id)
        return
    out.write.format(fmt).mode("append").partitionBy("window_start").save(path)


def windowed_file_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str = "event_time",
    window_duration: str = "30 seconds",
    fmt: str = "parquet",
    trigger: dict | None = None,
):
    """K1: streaming windowed file sink (returns the started query)."""
    writer = stream_df.writeStream.foreachBatch(
        lambda batch_df, epoch: write_windowed_batch(
            batch_df, path, ts_col, window_duration, fmt, epoch_id=epoch
        )
    ).option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def dead_letter_sink(
    ko_stream: DataFrame,
    base_path: str,
    checkpoint: str,
    ts_col: str = "event_time",
    window_duration: str = "30 seconds",
    fmt: str = "parquet",
    trigger: dict | None = None,
):
    """K5: toxic/dead-letter routing — K1 under ``<base>/toxic/``.

    Reference: invalid BERs → 30 s windows → Avro under
    ``gs://bucket/toxic/`` (MediationService.scala:128-131).
    """
    return windowed_file_sink(
        ko_stream,
        f"{base_path.rstrip('/')}/toxic",
        checkpoint,
        ts_col=ts_col,
        window_duration=window_duration,
        fmt=fmt,
        trigger=trigger,
    )


def idempotent_batch_writer(
    path: str,
    fmt: str = "parquet",
    partition_cols: list[str] | None = None,
):
    """Exactly-once ``foreachBatch`` file writer.

    ``foreachBatch`` bodies are AT-LEAST-once: a failure after the
    write but before the checkpoint commit replays the epoch. Writing
    each micro-batch to its own ``epoch=N`` partition with
    per-partition OVERWRITE makes the replay idempotent — the rerun
    replaces the same directory instead of appending duplicates. This
    is the standard Spark exactly-once file-sink pattern when the
    built-in file sink (with its own commit log) can't be used because
    the batch needs transformation inside foreachBatch.

    Readers scan ``path`` recursively; the epoch column also gives
    free lineage ("which micro-batch produced this row").
    """

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        _epoch_overwrite(batch_df, path, fmt, partition_cols or [], epoch_id)

    return _write


def _epoch_overwrite(
    batch_df: DataFrame,
    path: str,
    fmt: str,
    partition_cols: list[str],
    epoch_id: int,
) -> None:
    """Shared exactly-once body of idempotent_batch_writer and the
    windowed sink's epoch leg: epoch column + dynamic per-partition
    overwrite. The mode is a writer option, so the session conf is
    never touched."""
    (
        batch_df.withColumn("epoch", F.lit(int(epoch_id)))
        .write.format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch", *partition_cols)
        .save(path)
    )


def debug_sink(stream_df: DataFrame, num_rows: int = 20, truncate: bool = True):
    """K6: console/debug sink (``.debug()``, PubSubConsumer.scala:34)."""
    return (
        stream_df.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", str(truncate).lower())
        .start()
    )
