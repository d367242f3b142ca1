"""Source operators (SURVEY.md §2.1 S1-S8, F5).

Batch reads are plain ``spark.read`` DataFrames so Catalyst keeps
pushdown/pruning; the date-partitioned historical load (S4) probes
paths driver-side (F5) then issues ONE multi-path scan — Spark treats a
multi-path load as an implicit union with a single file index, so at
100 TB it schedules one scan stage instead of N unioned plans.

Streaming reads (S1/S2) are ``readStream`` facades. The queue source is
Kafka when available; tests use the file-drop and rate sources, exactly
as the reference tests swap Pub/Sub for ``testStreamOf``
(MediationServiceSpec.scala:47-57).
"""

from __future__ import annotations

import os
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def has_avro_jar(spark: SparkSession) -> bool:
    """True when the spark-avro connector jar is on the classpath."""
    try:
        jvm = spark._jvm  # type: ignore[attr-defined]
        # AvroFileFormat exists core-side as an error-message stub;
        # AvroDataToCatalyst only ships in the real connector jar.
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroDataToCatalyst"
        )
        return True
    except Exception:
        return False


def has_kafka_jar(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector jar is on the classpath
    (mirrors :func:`has_avro_jar`). ``KafkaSourceProvider`` only ships
    in the connector jar, so its presence means ``format("kafka")``
    reads/writes can actually resolve and start."""
    try:
        jvm = spark._jvm  # type: ignore[attr-defined]
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def read_files(
    spark: SparkSession,
    paths: str | list[str],
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    **options,
) -> DataFrame:
    """S3: bounded file read (glob-capable), any Spark batch format.

    Reference: ``sc.avroFile[MyEventRecord](path*)``
    (MediationService.scala:301,309). ``fmt="avro"`` uses the
    connector jar when present, else the pure-Python OCF reader
    (functions/avroio.py) — same bytes, same resulting DataFrame.
    """
    if fmt == "avro" and not has_avro_jar(spark):
        from scio_db_spark.functions.avroio import read_avro

        if options:
            raise ValueError(
                f"jar-less avro read supports no reader options, got "
                f"{sorted(options)}; install the spark-avro connector "
                "for option support"
            )
        df = read_avro(spark, paths)
        if schema is not None:
            # Honor a caller-pinned schema by aligning the decoded
            # frame to it (column order + types) — silently returning
            # the writer schema instead would hand callers mis-typed
            # columns.
            from pyspark.sql.types import _parse_datatype_string

            target = (
                _parse_datatype_string(schema)
                if isinstance(schema, str)
                else schema
            )
            df = df.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in target.fields
                ]
            )
        return df
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    return reader.load(paths if isinstance(paths, str) else list(paths))


def _existing_date_paths(
    base_path: str, days: int, pattern: str, today: date | None = None
) -> list[str]:
    """F5: driver-side probing of date-partitioned dirs that exist.

    Reference: ``getOldAvrosFromGCS`` probes ``yyyy/MM/dd`` dirs for the
    last N days and unions the ones that exist
    (MediationService.scala:270-315; GCSCommonUtilsInterim.scala:11-40).
    Local-fs implementation; on object stores swap in the matching
    lister — the contract (probe, then one multi-path load) is the same.
    """
    today = today or date.today()
    out = []
    for d in range(days):
        day = today - timedelta(days=d)
        sub = day.strftime(pattern)
        p = os.path.join(base_path, sub)
        if os.path.isdir(p) and any(
            not f.startswith((".", "_")) for f in os.listdir(p)
        ):
            out.append(p)
    return out


def read_date_partitioned(
    spark: SparkSession,
    base_path: str,
    days: int,
    fmt: str = "parquet",
    pattern: str = "%Y/%m/%d",
    today: date | None = None,
    schema: StructType | str | None = None,
    merge_schema: bool = False,
) -> DataFrame | None:
    """S4: historical multi-path union-all load; None when nothing exists.

    One scan over all existing date dirs (implicit union), not N plans.

    ``merge_schema=True`` handles SCHEMA DRIFT across the date range —
    a column added to the pipeline mid-window exists only in newer
    dirs, and the default parquet read infers the schema from a sample
    footer, silently DROPPING the new column (or erroring) depending
    on which day the sample came from. With the flag, Spark merges all
    footers and older days backfill NULL — the reader contract a
    multi-day historical load actually needs. Off by default: footer
    merging costs a listing-wide read at plan time, and a caller with
    a pinned ``schema`` should pass that instead (cheaper AND typed).
    """
    paths = _existing_date_paths(base_path, days, pattern, today)
    if not paths:
        return None
    options = {"mergeSchema": "true"} if merge_schema else {}
    return read_files(spark, paths, fmt=fmt, schema=schema, **options)


def from_rows(
    spark: SparkSession, rows: list, schema: StructType | str | None = None
) -> DataFrame:
    """S7: in-memory collection source (``sc.parallelize``)."""
    return spark.createDataFrame(rows, schema)


def read_stream_files(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1/S8 test form: unbounded file-drop source with explicit schema.

    ``maxFilesPerTrigger`` is the ingest-rate knob (W11 backpressure
    analogue of the reference's throttled consumption).
    """
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_stream_avro(
    spark: SparkSession,
    path: str,
    avro_schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1 Avro leg as a real streaming source, no connector jar.

    A streaming ``binaryFile`` scan (explicit schema — streaming
    sources can't infer) ships each newly-arrived ``.avro`` shard as
    one row; ``decode_containers`` decodes them executor-side with
    the pure-Python codec. Parallelism = files per micro-batch, the
    contract sharded Avro producers (the reference's windowed sinks)
    already provide. ``avro_schema`` (JSON/dict) can pin the writer
    schema; otherwise it is probed from a file already in ``path``
    (the directory must be non-empty in that case).

    With the connector jar present, prefer
    ``spark.readStream.format("avro")`` — this is the jar-less path.
    """
    from scio_db_spark.functions.avroio import (
        decode_containers,
        parse_schema,
        probe_writer_schema,
        spark_schema_of,
    )

    if avro_schema is None:
        try:
            avro_schema = probe_writer_schema(path)
        except FileNotFoundError as e:
            raise FileNotFoundError(
                f"{e}; pass avro_schema= explicitly for an "
                "initially-empty dir"
            ) from None
    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.avro")
    )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    return decode_containers(
        reader.load(path), spark_schema_of(parse_schema(avro_schema))
    )


def read_stream_rate(
    spark: SparkSession, rows_per_second: int = 1000
) -> DataFrame:
    """S2 stand-in: synthetic unbounded source (``timestamp, value``)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def queue_reader_options(
    topic: str,
    bootstrap_servers: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Kafka reader option contract, testable without a broker.

    ``maxOffsetsPerTrigger`` is the W11 ingest-throttle analogue of
    the reference's RateLimit (PubSubConsumer.scala:47-50).
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_stream_queue(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S1/S2 production form: Kafka subscription read (binary key/value).

    The Pub/Sub reads of the reference (PubSubConsumer.scala:38-52) map
    to Kafka in the Spark ecosystem; callers decode ``value`` with
    ``deserialize_avro``/``cast('string')``. Requires the Kafka
    connector jars on the cluster — this facade only declares the plan.
    """
    reader = spark.readStream.format("kafka").options(
        **queue_reader_options(
            topic, bootstrap_servers, starting_offsets,
            max_offsets_per_trigger,
        )
    )
    return reader.load()


def read_table_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options,
) -> DataFrame:
    """S5/S6 lookup-table read as a JDBC scan (driver jar on classpath).

    The reference reads BigQuery tables as side inputs
    (``MinimalPubSubBQLookup.scala:37``, ``JavaMinimalPubSubBQLookup.java:81-83``);
    the catalog's parquet stand-in covers the oracle checks, and this
    facade covers real warehouse tables. The four partitioned-read
    options are the scale lever: without them Spark reads the WHOLE
    table through one connection on one task; with a numeric/date
    ``partition_column`` and bounds it issues ``num_partitions``
    range-sliced queries in parallel. Size ``num_partitions`` to what
    the database can serve concurrently, not to Spark's core count —
    the database is the bottleneck.
    """
    if partition_column is not None and (
        lower_bound is None or upper_bound is None
    ):
        raise ValueError(
            "partition_column requires both lower_bound and upper_bound "
            "(Spark slices [lower, upper) into numPartitions range queries)"
        )
    reader = spark.read.format("jdbc").option("url", url).option(
        "dbtable", table
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
