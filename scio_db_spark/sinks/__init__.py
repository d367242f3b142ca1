from scio_db_spark.sinks.files import (
    dead_letter_sink,
    debug_sink,
    idempotent_batch_writer,
    windowed_file_sink,
    write_sharded,
    write_windowed_batch,
)
from scio_db_spark.sinks.http_sink import (
    classify_success,
    send_http_batch,
    send_one,
    to_http_request,
)

__all__ = [
    "dead_letter_sink",
    "debug_sink",
    "idempotent_batch_writer",
    "windowed_file_sink",
    "write_sharded",
    "write_windowed_batch",
    "classify_success",
    "send_http_batch",
    "send_one",
    "to_http_request",
]
