"""Schema registry.

The business-event-record (BER) schema mirrors the reference's Avro
``MyEventRecord { Event, Customer, Notification }`` (schema literal at
``/root/reference/src/main/scala/com.db.myproject/mediation/avro/MyEventRecord.java:17``;
nested records ``Event.java:17``, ``Customer.java:17``,
``Notification.java:17``). Every field is a ``["null", T]`` Avro union,
so every StructField here is nullable.
"""

from __future__ import annotations

from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("transaction_id", T.StringType()),
        T.StructField("nhub_timestamp", T.LongType()),  # epoch millis
    ]
)

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("full_name", T.StringType()),
    ]
)

NOTIFICATION_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("retries", T.IntegerType()),
        T.StructField("nhub_success", T.BooleanType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("success_descr", T.StringType()),
    ]
)

# Nested (wire-format) shape: one row per BER.
BER_SCHEMA = T.StructType(
    [
        T.StructField("event", EVENT_SCHEMA),
        T.StructField("customer", CUSTOMER_SCHEMA),
        T.StructField("notification", NOTIFICATION_SCHEMA),
        T.StructField("event_time", T.TimestampType()),
    ]
)

# Flattened shape used by the batch/test fixtures (FIXTURES.md §1).
BER_FLAT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("transaction_id", T.StringType()),
        T.StructField("nhub_timestamp", T.LongType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("customer_full_name", T.StringType()),
        T.StructField("notification_id", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("retries", T.IntegerType()),
        T.StructField("nhub_success", T.BooleanType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("success_descr", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
    ]
)

# HTTP DTOs (reference: mediation/notification/model/MyHttpRequest.scala:12-16,
# MyHttpResponse.scala:32-37).
HTTP_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("userId", T.IntegerType()),
    ]
)

HTTP_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("userId", T.IntegerType()),
    ]
)

# Response sentinels (reference: MyHttpResponse.scala:9-17).
NOT_HTTP_RESPONSE_ID = 0
SENT = "SENT"
SENT_OR_DUPLICATED = "SENT_OR_DUPLICATED"
INVALID = "INVALID"  # the TTL gate's status for a record bound for toxic/
KO_RESPONSE_BODY = "ko"  # koNotificationResponse, MyHttpResponse.scala:13-14

# Initial-load tag prefix (reference: MediationService.scala:57).
INITIAL_LOAD_PREFIX = "INITIAL_LOAD_"


def struct_ddl(schema: T.StructType, *extra: str) -> str:
    """DDL of ``schema``'s fields in order, then the ``extra`` fields:
    an operator's output type of its input columns plus its own. Parsed
    back, every field is nullable."""
    own = [f"{f.name} {f.dataType.simpleString()}" for f in schema.fields]
    return ", ".join(own + list(extra))
