"""Pure-Python Avro codec + Spark bindings (S1/S3/K1/K2/P12 Avro legs).

The reference is Avro-native: it reads Avro from the queue
(PubSubConsumer.scala:38-52), serializes records to Avro bytes on the
wire (AvroUtils.scala:40-62) and sinks windowed ``<start>_<end>`` Avro
files (SinkUtils.scala:36-71). Spark's own Avro support lives in the
external ``spark-avro`` connector jar, which is cluster-provided and
absent here — so this module implements the *public Apache Avro 1.11
specification* (binary encoding + Object Container Files, deflate/null
codecs) on the stdlib, making the Avro surface runnable end-to-end
with no jar. When the jar IS present, prefer
``pyspark.sql.avro.functions.from_avro/to_avro`` — the wire format is
identical, these paths interoperate.

Scale notes:
- Reads distribute via the built-in ``binaryFile`` source — one task
  per ``.avro`` shard. Avro container files are only splittable at
  sync markers; sharded producers (the reference writes N shards per
  window) give file-level parallelism, which is the same contract the
  reference's sinks rely on.
- Writes distribute via ``mapInArrow`` — one container file per
  Spark partition, written executor-side. Paths must be visible to
  executors (local/NFS/fuse mounts); object-store writes are what the
  cluster-provided connector jar is for.
- Wire encode/decode are Arrow-batched pandas UDFs (never
  row-at-a-time Python UDFs on the JVM boundary).
"""

from __future__ import annotations

import io
import json
import os
import struct as _struct
import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"
SYNC_SIZE = 16
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

# ---------------------------------------------------------------------------
# Binary encoding (Avro spec "Binary Encoding" section)
# ---------------------------------------------------------------------------


class BinaryEncoder:
    def __init__(self) -> None:
        self._buf = io.BytesIO()

    def getvalue(self) -> bytes:
        return self._buf.getvalue()

    def write_null(self, _v=None) -> None:
        pass

    def write_boolean(self, v: bool) -> None:
        self._buf.write(b"\x01" if v else b"\x00")

    def write_long(self, v: int) -> None:
        # zig-zag then base-128 varint, little-endian groups of 7 bits
        n = (int(v) << 1) ^ (int(v) >> 63)
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                self._buf.write(bytes((b | 0x80,)))
            else:
                self._buf.write(bytes((b,)))
                break

    write_int = write_long

    def write_float(self, v: float) -> None:
        self._buf.write(_struct.pack("<f", float(v)))

    def write_double(self, v: float) -> None:
        self._buf.write(_struct.pack("<d", float(v)))

    def write_bytes(self, v: bytes) -> None:
        v = bytes(v)
        self.write_long(len(v))
        self._buf.write(v)

    def write_string(self, v: str) -> None:
        self.write_bytes(str(v).encode("utf-8"))

    def write_fixed(self, v: bytes) -> None:
        self._buf.write(bytes(v))


class BinaryDecoder:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self._d = data
        self.pos = pos

    def read_null(self):
        return None

    def read_boolean(self) -> bool:
        b = self._d[self.pos]
        self.pos += 1
        return b != 0

    def read_long(self) -> int:
        shift = 0
        accum = 0
        while True:
            b = self._d[self.pos]
            self.pos += 1
            accum |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        return (accum >> 1) ^ -(accum & 1)

    read_int = read_long

    def read_float(self) -> float:
        (v,) = _struct.unpack_from("<f", self._d, self.pos)
        self.pos += 4
        return v

    def read_double(self) -> float:
        (v,) = _struct.unpack_from("<d", self._d, self.pos)
        self.pos += 8
        return v

    def read_bytes(self) -> bytes:
        n = self.read_long()
        v = self._d[self.pos : self.pos + n]
        self.pos += n
        return v

    def read_string(self) -> str:
        return self.read_bytes().decode("utf-8")

    def read_fixed(self, n: int) -> bytes:
        v = self._d[self.pos : self.pos + n]
        self.pos += n
        return v


# ---------------------------------------------------------------------------
# Schema handling
# ---------------------------------------------------------------------------

_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


def parse_schema(schema) -> dict | list | str:
    """Accept a JSON string or an already-parsed schema; normalize
    bare-string primitives inside ``{"type": "..."}`` wrappers lazily
    (the encoders handle both shapes)."""
    if isinstance(schema, str) and schema not in _PRIMITIVES:
        return json.loads(schema)
    return schema


def _schema_type(schema) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def _encode_value(schema, v, enc: BinaryEncoder) -> None:
    t = _schema_type(schema)
    if t == "null":
        enc.write_null()
    elif t == "boolean":
        enc.write_boolean(v)
    elif t in ("int", "long"):
        enc.write_long(_to_long(schema, v))
    elif t == "float":
        enc.write_float(v)
    elif t == "double":
        enc.write_double(v)
    elif t == "bytes":
        enc.write_bytes(v)
    elif t == "string":
        enc.write_string(v)
    elif t == "fixed":
        enc.write_fixed(v)
    elif t == "enum":
        enc.write_long(schema["symbols"].index(v))
    elif t == "union":
        idx, branch = _union_branch(schema, v)
        enc.write_long(idx)
        _encode_value(branch, v, enc)
    elif t == "array":
        items = list(v)
        if items:
            enc.write_long(len(items))
            for item in items:
                _encode_value(schema["items"], item, enc)
        enc.write_long(0)
    elif t == "map":
        entries = dict(v)
        if entries:
            enc.write_long(len(entries))
            for k, item in entries.items():
                enc.write_string(k)
                _encode_value(schema["values"], item, enc)
        enc.write_long(0)
    elif t == "record":
        for f in schema["fields"]:
            _encode_value(f["type"], v.get(f["name"]), enc)
    else:
        raise ValueError(f"unsupported Avro type {t!r}")


def _to_long(schema, v) -> int:
    logical = isinstance(schema, dict) and schema.get("logicalType")
    if logical in ("timestamp-micros", "timestamp-millis"):
        if isinstance(v, datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=timezone.utc)
            # Exact integer micros via timedelta division —
            # int(v.timestamp() * 1e6) truncates a FLOAT product and
            # mis-encodes ~8% of microsecond values by 1us.
            from datetime import timedelta

            us = (v - _EPOCH) // timedelta(microseconds=1)
            return us if logical == "timestamp-micros" else us // 1000
        v = int(v)
    if logical == "date" and hasattr(v, "toordinal"):
        return v.toordinal() - datetime(1970, 1, 1).toordinal()
    return int(v)


def _union_branch(union: list, v) -> tuple[int, dict | str]:
    """Pick the union branch for a Python value. Nullable-style unions
    (the only shape the Spark bindings emit) resolve on None-ness;
    general unions resolve on a type probe."""
    for i, branch in enumerate(union):
        bt = _schema_type(branch)
        if v is None and bt == "null":
            return i, branch
        if v is not None and bt != "null":
            if _accepts(branch, v):
                return i, branch
    raise ValueError(f"value {v!r} matches no branch of {union}")


def _accepts(schema, v) -> bool:
    import decimal

    t = _schema_type(schema)
    if t in ("int", "long"):
        return isinstance(v, int) or hasattr(v, "timestamp") or hasattr(v, "toordinal")
    if t in ("float", "double"):
        return isinstance(v, (int, float))
    if t == "string":
        # DecimalType maps to the string branch in this binding, and
        # Arrow to_pylist hands decimals over as decimal.Decimal — a
        # nullable decimal column must resolve here, not crash the
        # union probe.
        return isinstance(v, (str, decimal.Decimal))
    if t == "enum":
        return isinstance(v, str) and v in schema["symbols"]
    if t in ("bytes", "fixed"):
        return isinstance(v, (bytes, bytearray))
    if t == "boolean":
        return isinstance(v, bool)
    if t == "array":
        return isinstance(v, (list, tuple))
    if t == "map":
        # Arrow's map representation through to_pylist is a list of
        # (key, value) tuples, not a dict — accept both shapes (the
        # encoder's dict(v) handles the tuple list).
        return isinstance(v, dict) or (
            isinstance(v, list)
            and all(isinstance(e, tuple) and len(e) == 2 for e in v)
        )
    if t == "record":
        return isinstance(v, dict)
    return True


def _decode_value(schema, dec: BinaryDecoder):
    t = _schema_type(schema)
    if t == "null":
        return None
    if t == "boolean":
        return dec.read_boolean()
    if t in ("int", "long"):
        return _from_long(schema, dec.read_long())
    if t == "float":
        return dec.read_float()
    if t == "double":
        return dec.read_double()
    if t == "bytes":
        return dec.read_bytes()
    if t == "string":
        return dec.read_string()
    if t == "fixed":
        return dec.read_fixed(schema["size"])
    if t == "enum":
        return schema["symbols"][dec.read_long()]
    if t == "union":
        return _decode_value(schema[dec.read_long()], dec)
    if t == "array":
        out = []
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:  # block with byte-size prefix (spec-allowed)
                n = -n
                dec.read_long()
            for _ in range(n):
                out.append(_decode_value(schema["items"], dec))
        return out
    if t == "map":
        out = {}
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                dec.read_long()
            for _ in range(n):
                k = dec.read_string()
                out[k] = _decode_value(schema["values"], dec)
        return out
    if t == "record":
        return {
            f["name"]: _decode_value(f["type"], dec)
            for f in schema["fields"]
        }
    raise ValueError(f"unsupported Avro type {t!r}")


def _from_long(schema, v: int):
    # Timestamps decode TZ-AWARE (UTC): a naive datetime is localized
    # to spark.sql.session.timeZone by the pandas serializer, which
    # silently shifted every decoded timestamp by the session offset
    # on non-UTC hosts (deserialize_avro / read_stream_avro); aware
    # UTC values convert identically on every path.
    logical = isinstance(schema, dict) and schema.get("logicalType")
    if logical == "timestamp-micros":
        return datetime.fromtimestamp(v / 1_000_000, tz=timezone.utc)
    if logical == "timestamp-millis":
        return datetime.fromtimestamp(v / 1_000, tz=timezone.utc)
    if logical == "date":
        from datetime import date, timedelta

        return date(1970, 1, 1) + timedelta(days=v)
    return v


def encode_record(schema, record: dict) -> bytes:
    """Single-record binary body (the P12 wire shape — no container)."""
    enc = BinaryEncoder()
    _encode_value(parse_schema(schema), record, enc)
    return enc.getvalue()


def decode_record(schema, data: bytes) -> dict:
    return _decode_value(parse_schema(schema), BinaryDecoder(data))


# ---------------------------------------------------------------------------
# Object Container Files (Avro spec "Object Container Files" section)
# ---------------------------------------------------------------------------


class ContainerWriter:
    """Writes an Avro OCF: magic, metadata map (avro.schema,
    avro.codec), 16-byte sync marker, then blocks of
    ``count, byte-size, data, sync``."""

    def __init__(self, fh, schema, codec: str = "deflate",
                 block_records: int = 4096) -> None:
        if codec not in ("null", "deflate"):
            raise ValueError(f"unsupported codec {codec!r}")
        self._fh = fh
        self._schema = parse_schema(schema)
        self._codec = codec
        self._block_records = block_records
        # Deterministic sync marker derived from the schema: replayable
        # writes produce byte-identical files (Date/random APIs are
        # also unavailable in some execution contexts).
        import hashlib

        self._sync = hashlib.md5(
            json.dumps(self._schema, sort_keys=True).encode()
        ).digest()[:SYNC_SIZE]
        self._pending: list[dict] = []
        header = BinaryEncoder()
        header.write_fixed(MAGIC)
        meta = {
            "avro.schema": json.dumps(self._schema).encode(),
            "avro.codec": codec.encode(),
        }
        header.write_long(len(meta))
        for k, v in meta.items():
            header.write_string(k)
            header.write_bytes(v)
        header.write_long(0)
        header.write_fixed(self._sync)
        self._fh.write(header.getvalue())

    def write(self, record: dict) -> None:
        self._pending.append(record)
        if len(self._pending) >= self._block_records:
            self.flush_block()

    def write_rows(self, rows) -> None:
        for r in rows:
            self.write(r)

    def flush_block(self) -> None:
        if not self._pending:
            return
        body = BinaryEncoder()
        for rec in self._pending:
            _encode_value(self._schema, rec, body)
        data = body.getvalue()
        if self._codec == "deflate":
            # raw DEFLATE (RFC 1951): zlib stream minus header/checksum
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            data = co.compress(data) + co.flush()
        blk = BinaryEncoder()
        blk.write_long(len(self._pending))
        blk.write_long(len(data))
        self._fh.write(blk.getvalue())
        self._fh.write(data)
        self._fh.write(self._sync)
        self._pending = []

    def close(self) -> None:
        self.flush_block()
        self._fh.flush()


def _parse_header(dec: BinaryDecoder) -> dict[str, bytes]:
    """Decode the OCF metadata map; ``dec`` must sit past the magic."""
    meta: dict[str, bytes] = {}
    while True:
        n = dec.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            dec.read_long()
        for _ in range(n):
            k = dec.read_string()
            meta[k] = dec.read_bytes()
    return meta


def read_container(data: bytes) -> tuple[dict | list | str, list[dict]]:
    """Decode a whole OCF held in memory → (schema, records)."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    dec = BinaryDecoder(data, pos=4)
    meta = _parse_header(dec)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    sync = dec.read_fixed(SYNC_SIZE)
    records: list[dict] = []
    while dec.pos < len(data):
        count = dec.read_long()
        size = dec.read_long()
        block = dec.read_fixed(size)
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        bdec = BinaryDecoder(block)
        for _ in range(count):
            records.append(_decode_value(schema, bdec))
        marker = dec.read_fixed(SYNC_SIZE)
        if marker != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
    return schema, records


# ---------------------------------------------------------------------------
# Spark type mapping
# ---------------------------------------------------------------------------

_SPARK_TO_AVRO = {
    T.LongType: "long",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.StringType: "string",
    T.BooleanType: "boolean",
    T.BinaryType: "bytes",
}


def avro_schema_of(spark_schema: T.StructType, name: str = "row") -> dict:
    """Spark StructType → Avro record schema (nullable → null union)."""

    def field_schema(dt: T.DataType):
        for cls, avro in _SPARK_TO_AVRO.items():
            if isinstance(dt, cls):
                return avro
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.TimestampNTZType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, T.DecimalType):
            # Exact-decimal wire fidelity via string; the connector
            # jar's bytes+decimal logical type needs two's-complement
            # unscaled encoding — string keeps this codec simple and
            # lossless.
            return "string"
        if isinstance(dt, T.ArrayType):
            return {"type": "array", "items": field_schema(dt.elementType)}
        if isinstance(dt, T.MapType):
            return {"type": "map", "values": field_schema(dt.valueType)}
        if isinstance(dt, T.StructType):
            # Unique record name per field path — the Avro spec forbids
            # redefining a named type, so two sibling structs must not
            # both be "<name>_nested".
            return avro_schema_of(dt, name=f"{name}_{fname}")
        raise ValueError(f"no Avro mapping for Spark type {dt}")

    fields = []
    for f in spark_schema.fields:
        fname = f.name
        fs = field_schema(f.dataType)
        if f.nullable:
            # Type first, null second — matching spark-avro's
            # SchemaConverters union order so jar-written and
            # codec-written bytes interoperate (the union branch INDEX
            # is on the wire). No "default" is set: a null default
            # would be invalid against a type-first union per the spec.
            fs = [fs, "null"]
        fields.append({"name": f.name, "type": fs})
    return {"type": "record", "name": name, "fields": fields}


def spark_schema_of(avro_schema) -> T.StructType:
    """Avro record schema → Spark StructType (inverse of the above)."""
    avro_schema = parse_schema(avro_schema)

    def spark_type(s) -> tuple[T.DataType, bool]:
        t = _schema_type(s)
        if t == "union":
            branches = [b for b in s if _schema_type(b) != "null"]
            if len(branches) != 1:
                raise ValueError(
                    "only null-unions map to Spark columns; got "
                    f"{s!r} (general unions need the connector jar's "
                    "struct encoding)"
                )
            inner, _ = spark_type(branches[0])
            return inner, True
        logical = isinstance(s, dict) and s.get("logicalType")
        if logical in ("timestamp-micros", "timestamp-millis"):
            return T.TimestampType(), False
        if logical == "date":
            return T.DateType(), False
        simple = {
            "null": T.NullType(), "boolean": T.BooleanType(),
            "int": T.IntegerType(), "long": T.LongType(),
            "float": T.FloatType(), "double": T.DoubleType(),
            "bytes": T.BinaryType(), "string": T.StringType(),
            "enum": T.StringType(), "fixed": T.BinaryType(),
        }
        if t in simple:
            return simple[t], False
        if t == "array":
            inner, n = spark_type(s["items"])
            return T.ArrayType(inner, containsNull=n), False
        if t == "map":
            inner, n = spark_type(s["values"])
            return T.MapType(T.StringType(), inner, valueContainsNull=n), False
        if t == "record":
            return spark_schema_of(s), False
        raise ValueError(f"unsupported Avro type {t!r}")

    fields = []
    for f in avro_schema["fields"]:
        dt, nullable = spark_type(f["type"])
        fields.append(T.StructField(f["name"], dt, nullable))
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# Distributed read / write
# ---------------------------------------------------------------------------


def probe_writer_schema(path: str | list) -> dict:
    """Driver-side writer-schema probe shared by every jar-less Avro
    reader: resolves explicit files, directories, and globs (including
    globs whose matches are DIRECTORIES — ``/data/2024/*`` expanding
    to day dirs must probe inside them, exactly as Spark's own loader
    reads them), then parses the first file's container header
    (headers are a few hundred bytes; 1 MB covers any real schema).
    """
    import glob as _glob

    paths = [path] if isinstance(path, str) else list(path)
    candidates: list[str] = []
    for p in paths:
        if any(c in p for c in "*?["):
            for c in _glob.glob(p):
                if os.path.isdir(c):
                    candidates.extend(
                        _glob.glob(os.path.join(c, "*.avro"))
                    )
                elif c.endswith(".avro"):
                    candidates.append(c)
        elif os.path.isdir(p):
            candidates.extend(_glob.glob(os.path.join(p, "*.avro")))
        elif p.endswith(".avro"):
            candidates.append(p)
    if not candidates:
        raise FileNotFoundError(f"no .avro files under {paths!r}")
    with open(sorted(candidates)[0], "rb") as fh:
        header = fh.read(1 << 20)
    schema, _ = _read_header_schema(header)
    return schema


def read_avro(spark: SparkSession, path: str | list) -> DataFrame:
    """S1/S3 Avro leg: distributed OCF read without the connector jar.

    ``binaryFile`` lists and ships each shard as one row (one task per
    file — the same parallelism contract the reference's sharded Avro
    sinks assume); a mapInArrow stage decodes shards executor-side.
    The schema comes from the first file's header, read driver-side
    (container headers are a few hundred bytes).
    """
    paths = [path] if isinstance(path, str) else list(path)
    # pathGlobFilter keeps _SUCCESS / .crc markers (jar-written dirs)
    # out of the distributed read; the driver-side probe applies the
    # same filter.
    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(paths)
    )
    return decode_containers(
        bin_df, spark_schema_of(probe_writer_schema(paths))
    )


def decode_containers(bin_df: DataFrame, out_schema: T.StructType) -> DataFrame:
    """Decode the ``content`` column of a ``binaryFile`` DataFrame, one
    Avro container per row, into ``out_schema`` rows executor-side.
    Shared by the batch ``read_avro`` and the streaming
    ``read_stream_avro``.

    mapInArrow, not mapInPandas: the decoded values are plain Python
    (None for Avro null, float('nan') for a genuine NaN double), and
    building the output arrays directly in Arrow preserves that
    distinction — the pandas route would fold NaN payloads back into
    nulls on the return conversion.
    """
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    cols = [f.name for f in out_schema.fields]
    arrow_fields = [
        (f.name, to_arrow_type(f.dataType)) for f in out_schema.fields
    ]

    def decode(batches):
        for batch in batches:
            for content in batch.column("content").to_pylist():
                _, records = read_container(bytes(content))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(
                            [r.get(name) for r in records], type=typ
                        )
                        for name, typ in arrow_fields
                    ],
                    names=cols,
                )

    return bin_df.select("content").mapInArrow(decode, out_schema)


def _read_header_schema(data: bytes):
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta = _parse_header(BinaryDecoder(data, pos=4))
    return json.loads(meta["avro.schema"].decode()), meta


def write_avro(
    df: DataFrame,
    path: str,
    codec: str = "deflate",
    name_prefix: str = "part",
) -> list:
    """K2 Avro leg: one container file per partition, written
    executor-side (paths must be executor-visible: local/NFS/fuse).

    Returns ``[(path, rows), ...]`` — one row per written shard.
    """
    avsc = avro_schema_of(df.schema)
    cols = [f.name for f in df.schema.fields]
    os.makedirs(path, exist_ok=True)

    def write_part(batches):
        import uuid as _uuid

        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        fname = os.path.join(path, f"{name_prefix}-{pid:05d}.avro")
        # Attempt-unique temp + atomic rename (the JVM writer's
        # task-commit contract): a speculative or zombie duplicate
        # attempt writes its OWN temp file, and whichever rename lands
        # last installs a COMPLETE container — never interleaved
        # writes tearing the shard.
        tmp = f"{fname}.{_uuid.uuid4().hex}.tmp"
        n = 0
        writer = None
        for batch in batches:
            if writer is None:
                writer = ContainerWriter(open(tmp, "wb"), avsc, codec)
            # to_pylist carries the Arrow validity bitmap: Spark NULL
            # → None, genuine NaN → float('nan') — NaN payloads hit
            # the wire exactly as the JVM writer encodes them.
            for rec in batch.select(cols).to_pylist():
                writer.write(rec)
                n += 1
        if writer is not None:
            writer.close()
            writer._fh.close()
            os.replace(tmp, fname)
            yield pa.RecordBatch.from_pydict(
                {"path": [fname], "rows": [n]}
            )

    res = df.mapInArrow(write_part, "path string, rows long")
    return [(r["path"], r["rows"]) for r in res.collect()]


_DURATION_UNITS = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60 * 1_000_000,
    "hour": 3600 * 1_000_000,
    "day": 86400 * 1_000_000,
    "week": 7 * 86400 * 1_000_000,
}


def _duration_micros(text: str) -> int:
    """Spark interval string ('30 seconds', '1 hour') → microseconds."""
    try:
        n, unit = text.strip().split()
        return int(n) * _DURATION_UNITS[unit.rstrip("s").lower()]
    except (ValueError, KeyError):
        raise ValueError(
            f"unsupported window duration {text!r}; expected "
            f"'<n> <unit>' with unit in {sorted(_DURATION_UNITS)}"
        ) from None


def write_windowed_avro(
    batch_df: DataFrame,
    path: str,
    ts_col: str = "event_time",
    window_duration: str = "30 seconds",
    codec: str = "deflate",
    file_tag: str = "",
) -> list:
    """K1 Avro leg with the reference's ``<start>_<end>`` file-naming
    contract (SinkUtils.scala:36-56, TimeUtils.scala:36-57): every
    tumbling window's rows land in files named
    ``<start>_<end>[-<file_tag>]-p<partition>.avro``.

    ``file_tag`` must be unique per invocation when the same window can
    be written more than once (e.g. the micro-batch epoch id in a
    streaming foreachBatch): files are opened with truncation, so
    identical names across invocations would silently replace earlier
    rows of the window.

    ``repartition(window)`` co-locates each window in one task (two
    windows may share a task; the writer splits per window), so a
    window's file count stays bounded by its row volume, not by the
    upstream partitioning.

    Rows with a NULL ``ts_col`` have no window — they are routed to an
    explicit ``no-window`` dead-letter file (K5 contract) instead of
    silently landing in a malformed ``''``-named file that a windowed
    read-back would mis-assign. The dead-letter shards appear in the
    returned report so callers can alert on them.
    """
    from pyspark.sql import functions as F

    fmt = "yyyy-MM-dd'T'HH-mm-ss"
    # The window bounds are derived arithmetically rather than via
    # F.window: the TimeWindowing rule injects an isnotnull(ts) filter
    # that silently DROPS null-timestamp rows before any when() can
    # route them — exactly the data loss the dead-letter contract
    # exists to prevent. Epoch-aligned tumbling windows are identical:
    # start = ts - (ts mod duration). pmod keeps the floor correct for
    # pre-1970 timestamps.
    dur_us = _duration_micros(window_duration)
    um = F.unix_micros(F.col(ts_col))
    start_us = um - F.pmod(um, F.lit(dur_us))
    tagged = batch_df.withColumn(
        "__win",
        F.when(F.col(ts_col).isNull(), F.lit("no-window")).otherwise(
            F.concat_ws(
                "_",
                F.date_format(F.timestamp_micros(start_us), fmt),
                F.date_format(
                    F.timestamp_micros(start_us + F.lit(dur_us)), fmt
                ),
            )
        ),
    ).repartition("__win")
    data_cols = [c for c in batch_df.columns]
    avsc = avro_schema_of(batch_df.schema)
    os.makedirs(path, exist_ok=True)
    tag = f"-{file_tag}" if file_tag else ""

    def write_part(batches):
        import uuid as _uuid

        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        # Bounded open-writer set: a backfill batch can span thousands
        # of distinct windows per task; unbounded handles exhaust
        # ulimit -n mid-write. Past the cap the OLDEST-OPENED window's
        # shard commits and a later recurrence opens a NEW
        # sequence-numbered shard (containers can't re-open-append);
        # repartition('__win') clusters windows, so evictions are rare
        # outside pathological interleavings.
        max_open = 64
        writers: dict[str, ContainerWriter] = {}
        counts: dict[str, int] = {}
        seq: dict[str, int] = {}

        def _commit(wname: str) -> None:
            w = writers.pop(wname)
            w.close()
            w._fh.close()
            os.replace(w._tmp, w._fname)  # type: ignore[attr-defined]

        def _open(wname: str) -> ContainerWriter:
            s = seq.get(wname, 0)
            seq[wname] = s + 1
            part = f"-s{s}" if s else ""
            fname = os.path.join(
                path, f"{wname}{tag}-p{pid:05d}{part}.avro"
            )
            # attempt-unique temp + atomic rename: see write_avro.
            tmp = f"{fname}.{_uuid.uuid4().hex}.tmp"
            w = ContainerWriter(open(tmp, "wb"), avsc, codec)
            w._fname = fname  # type: ignore[attr-defined]
            w._tmp = tmp  # type: ignore[attr-defined]
            counts[fname] = 0
            return w

        for batch in batches:
            wins = batch.column("__win").to_pylist()
            # to_pylist: Arrow validity bitmap → None for NULL, NaN
            # stays a payload (see write_avro) — same fidelity here.
            for wname, rec in zip(wins, batch.to_pylist()):
                if wname not in writers:
                    if len(writers) >= max_open:
                        _commit(next(iter(writers)))
                    writers[wname] = _open(wname)
                writers[wname].write({c: rec[c] for c in data_cols})
                counts[writers[wname]._fname] += 1  # type: ignore
        for wname in list(writers):
            _commit(wname)
        if counts:
            yield pa.RecordBatch.from_pydict(
                {"path": list(counts), "rows": list(counts.values())}
            )

    # Replay idempotence: a re-run epoch must REPLACE its previous
    # attempt's shards, not coexist with them — the replay can land
    # windows on different partition ids (AQE re-coalescing, changed
    # shuffle settings across restart), so name-collision truncation
    # alone leaves stale shards behind. Epoch-tagged invocations sweep
    # their tag's files first.
    if file_tag:
        import glob as _glob

        for stale in _glob.glob(os.path.join(path, f"*{tag}-p*.avro")):
            os.remove(stale)

    res = tagged.mapInArrow(write_part, "path string, rows long")
    return [(r["path"], r["rows"]) for r in res.collect()]


# ---------------------------------------------------------------------------
# Schema resolution (Avro spec "Schema Resolution"): decode data
# written with an OLD schema under a NEW reader schema — the evolution
# path every long-lived queue pipeline needs (producers upgrade before
# or after consumers; reference: PubSubConsumer's subject-versioned
# schemas). Supported core: record fields matched BY NAME in writer
# order (reordering is free), writer-only fields skipped, reader-only
# fields filled from their "default", numeric promotions
# (int->long->float->double), string<->bytes promotion, union branch
# re-resolution, and recursive resolution through arrays/maps/records.
# Unsupported (refused loudly): aliases, enum symbol evolution.
# ---------------------------------------------------------------------------


_PROMOTIONS = {
    ("int", "long"),
    ("int", "float"),
    ("int", "double"),
    ("long", "float"),
    ("long", "double"),
    ("float", "double"),
    ("string", "bytes"),
    ("bytes", "string"),
}


def _promote(value, wt: str, rt: str):
    if rt in ("float", "double"):
        return float(value)
    if rt == "long":
        return int(value)
    if rt == "string":
        return value.decode("utf-8")
    if rt == "bytes":
        return value.encode("utf-8")
    return value


_NAMED_TYPES = ("record", "enum", "fixed")


def _fullname(schema) -> str | None:
    """Avro fullname of a named schema (None for unnamed types). A
    dotted ``name`` is already a fullname per the spec; otherwise the
    ``namespace`` qualifies it. Namespace INHERITANCE (a nested named
    type inherits the most tightly enclosing namespace) is applied
    ahead of time by :func:`_stamp_namespaces`, so this stays
    dict-local."""
    if isinstance(schema, dict) and "name" in schema:
        name = schema["name"]
        ns = schema.get("namespace")
        return f"{ns}.{name}" if ns and "." not in name else name
    return None


def _alias_fullnames(schema) -> tuple[str, ...]:
    """Reader-side ``aliases`` of a named schema as fullnames. Per the
    spec an unqualified alias is qualified with the namespace of the
    schema it belongs to."""
    if not isinstance(schema, dict):
        return ()
    fn = _fullname(schema)
    ns = fn.rsplit(".", 1)[0] if fn and "." in fn else None
    return tuple(
        a if "." in a or not ns else f"{ns}.{a}"
        for a in schema.get("aliases", ())
    )


def _stamp_namespaces(schema, enclosing: str | None = None):
    """Copy of ``schema`` with the Avro namespace-inheritance rule
    applied (spec 'Names'): a named type whose ``name`` is undotted
    and that carries no explicit ``namespace`` inherits the most
    tightly enclosing namespace. An explicit ``"namespace": ""``
    means the null namespace and stops inheritance, per spec."""
    if isinstance(schema, list):
        return [_stamp_namespaces(b, enclosing) for b in schema]
    if not isinstance(schema, dict):
        return schema
    out = dict(schema)
    if _schema_type(out) in _NAMED_TYPES:
        name = out.get("name", "")
        if "." in name:
            enclosing = name.rsplit(".", 1)[0]
        elif "namespace" in out:
            enclosing = out["namespace"] or None
        elif enclosing:
            out["namespace"] = enclosing
    if "fields" in out:
        out["fields"] = [
            {**f, "type": _stamp_namespaces(f["type"], enclosing)}
            for f in out["fields"]
        ]
    if "items" in out:
        out["items"] = _stamp_namespaces(out["items"], enclosing)
    if "values" in out:
        out["values"] = _stamp_namespaces(out["values"], enclosing)
    return out


def _coerce_default(schema, value):
    """Coerce a reader field's JSON ``default`` into the runtime shape
    decoded values take. Spec: defaults are JSON-encoded — bytes/fixed
    as ISO-8859-1 strings, numeric defaults in whatever JSON type the
    author wrote; returning them raw leaks ``str`` where every decoded
    value is ``bytes`` and ``int`` where floats flow."""
    schema = parse_schema(schema)
    t = _schema_type(schema)
    if t == "union":
        # spec: a union field's default is written for the FIRST branch
        return _coerce_default(schema[0], value)
    if value is None:
        return None
    if t in ("bytes", "fixed"):
        return value.encode("latin-1") if isinstance(value, str) else value
    if t in ("float", "double"):
        return float(value)
    if t in ("int", "long"):
        return int(value)
    if t == "record":
        out = {}
        for f in schema["fields"]:
            if f["name"] in value:
                out[f["name"]] = _coerce_default(
                    f["type"], value[f["name"]]
                )
            elif "default" in f:
                out[f["name"]] = _coerce_default(f["type"], f["default"])
            else:
                raise ValueError(
                    f"schema resolution: record default for "
                    f"{schema.get('name')!r} omits field "
                    f"{f['name']!r} which has no default of its own"
                )
        return out
    if t == "array":
        return [_coerce_default(schema["items"], v) for v in value]
    if t == "map":
        return {
            k: _coerce_default(schema["values"], v)
            for k, v in value.items()
        }
    return value


def _resolve_value(writer, reader, dec: BinaryDecoder):
    wt, rt = _schema_type(writer), _schema_type(reader)
    if wt == "union":
        # the wire carries the writer's branch index; resolve the
        # chosen branch against the reader schema
        return _resolve_value(writer[dec.read_long()], reader, dec)
    if rt == "union":
        # writer non-union read into a reader union: first matching
        # or promotable branch wins (spec resolution order). Named
        # types must match by FULLNAME when the union holds several
        # branches of the same tag — a union of two records would
        # otherwise silently decode into whichever sorts first.
        tag_matches = [
            b
            for b in reader
            if _schema_type(b) == wt
            or (wt, _schema_type(b)) in _PROMOTIONS
        ]
        if wt in _NAMED_TYPES and len(tag_matches) > 1:
            wname = _fullname(writer)
            named = [
                b
                for b in tag_matches
                if _fullname(b) == wname or wname in _alias_fullnames(b)
            ]
            if len(named) != 1:
                what = "none matches" if not named else "several match"
                raise ValueError(
                    f"schema resolution: reader union holds "
                    f"{len(tag_matches)} {wt!r} branches and {what} "
                    f"writer fullname {wname!r} (refusing rather "
                    f"than guessing a branch)"
                )
            return _resolve_value(writer, named[0], dec)
        if tag_matches:
            return _resolve_value(writer, tag_matches[0], dec)
        raise ValueError(
            f"schema resolution: writer {wt!r} matches no reader "
            f"union branch"
        )
    if wt != rt:
        if (wt, rt) in _PROMOTIONS:
            return _promote(_decode_value(writer, dec), wt, rt)
        raise ValueError(
            f"schema resolution: writer {wt!r} -> reader {rt!r} is "
            f"not a legal promotion"
        )
    if wt == "record":
        rfields = {f["name"]: f for f in reader["fields"]}
        out = {}
        seen = set()
        for wf in writer["fields"]:  # wire order = writer order
            rf = rfields.get(wf["name"])
            if rf is None:
                _decode_value(wf["type"], dec)  # skip writer-only
            else:
                out[wf["name"]] = _resolve_value(
                    wf["type"], rf["type"], dec
                )
                seen.add(wf["name"])
        for rf in reader["fields"]:  # reader-only: defaults
            if rf["name"] in seen:
                continue
            if "default" not in rf:
                raise ValueError(
                    f"schema resolution: reader field "
                    f"{rf['name']!r} absent from writer data and has "
                    f"no default"
                )
            out[rf["name"]] = _coerce_default(rf["type"], rf["default"])
        return out
    if wt == "array":
        inner_w, inner_r = writer["items"], reader["items"]
        out = []
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                dec.read_long()
            for _ in range(n):
                out.append(_resolve_value(inner_w, inner_r, dec))
        return out
    if wt == "map":
        inner_w, inner_r = writer["values"], reader["values"]
        out = {}
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                dec.read_long()
            for _ in range(n):
                k = dec.read_string()
                out[k] = _resolve_value(inner_w, inner_r, dec)
        return out
    if wt == "enum":
        if writer.get("symbols") != reader.get("symbols"):
            raise ValueError(
                "schema resolution: enum symbol evolution is not "
                "supported (refusing rather than mis-mapping ordinals)"
            )
        return _decode_value(writer, dec)
    return _decode_value(writer, dec)


def decode_record_resolved(
    writer_schema, reader_schema, data: bytes
) -> dict:
    """Decode a single-record binary body written under
    ``writer_schema`` into the shape of ``reader_schema``."""
    return _resolve_value(
        _stamp_namespaces(parse_schema(writer_schema)),
        _stamp_namespaces(parse_schema(reader_schema)),
        BinaryDecoder(data),
    )
