"""Schema registry: versioned per-topic schemas + compatibility enforcement
(SURVEY §1.1, §1.3).

Reference: pulsar-broker/.../service/schema/SchemaRegistryServiceImpl.java —
schemas are appended to a per-topic version log; writes are admitted only if
the new schema passes the configured compatibility strategy, per format
(AvroSchemaCompatibilityCheck.java, JsonSchemaCompatibilityCheck.java,
KeyValueSchemaCompatibilityCheck.java). Consumers with AUTO_CONSUME resolve
the latest registered schema at runtime
(pulsar-client/.../impl/schema/AutoConsumeSchema.java:50,123).

Spark re-expression: the version log is ``schemas.json`` beside the topic
manifest; each version stores a Spark StructType JSON. Compatibility is a
structural check over StructType (the same adds/removes/renames logic Avro
compat reduces to for record types). Decode = ``from_json(value, schema)``
— AUTO_CONSUME is decode-with-latest.

Strategies (pulsar-client-api/.../api/SchemaCompatibilityStrategy.java):
BACKWARD (new reader reads old data), FORWARD (old reader reads new data),
FULL (both), NONE (anything), ALWAYS_INCOMPATIBLE (nothing).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, functions as F, types as T

from pulsar_3_2_codedump_spark.topic import _write_json_atomic

SCHEMAS_FILE = "schemas.json"


class SchemaIncompatibleError(ValueError):
    pass


def _load_log(topic_path: str) -> list[dict]:
    p = os.path.join(topic_path, SCHEMAS_FILE)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def _store_log(topic_path: str, log: list[dict]) -> None:
    _write_json_atomic(os.path.join(topic_path, SCHEMAS_FILE), log)


def _can_read(reader: T.StructType, writer: T.StructType) -> bool:
    """Can data written with ``writer`` be decoded by ``reader``?
    (the Avro record-resolution rule compat checks reduce to):
    every reader field must exist in the writer with the same type, or be
    nullable (acts as the default); extra writer fields are ignored."""
    wmap = {f.name: f for f in writer.fields}
    for rf in reader.fields:
        wf = wmap.get(rf.name)
        if wf is None:
            if not rf.nullable:
                return False
        elif wf.dataType != rf.dataType:
            return False
    return True


def check_compatibility(
    new: T.StructType, existing: list[T.StructType], strategy: str
) -> None:
    strategy = strategy.upper()
    if strategy == "NONE":
        return
    if strategy == "ALWAYS_INCOMPATIBLE":
        raise SchemaIncompatibleError("registry is ALWAYS_INCOMPATIBLE")
    if not existing:
        return
    prev = existing[-1]
    if strategy in ("BACKWARD", "FULL") and not _can_read(new, prev):
        raise SchemaIncompatibleError("BACKWARD violated: new schema cannot read old data")
    if strategy in ("FORWARD", "FULL") and not _can_read(prev, new):
        raise SchemaIncompatibleError("FORWARD violated: old schema cannot read new data")
    if strategy in ("BACKWARD_TRANSITIVE", "FULL_TRANSITIVE"):
        for old in existing:
            if not _can_read(new, old):
                raise SchemaIncompatibleError("BACKWARD_TRANSITIVE violated")
    if strategy in ("FORWARD_TRANSITIVE", "FULL_TRANSITIVE"):
        for old in existing:
            if not _can_read(old, new):
                raise SchemaIncompatibleError("FORWARD_TRANSITIVE violated")


def register_schema(
    topic_path: str,
    schema: T.StructType,
    strategy: str = "BACKWARD",
    schema_type: str = "JSON",
) -> int:
    """Append a schema version (returns the version id) after the compat gate
    (SchemaRegistryServiceImpl admission)."""
    log = _load_log(topic_path)
    existing = [T.StructType.fromJson(e["schema"]) for e in log]
    if (
        schema_type.upper() in ("PROTOBUF", "PROTOBUF_NATIVE")
        and existing
        and strategy.upper() != "NONE"  # NONE (AlwaysCompatible) skips ALL checks
    ):
        # descriptor-level rule (field numbers + wire types) runs IN ADDITION
        # to the structural strategy — ProtobufNativeSchemaCompatibilityCheck
        from pulsar_3_2_codedump_spark.functions.proto_codec import (
            check_protobuf_compatibility,
        )

        check_protobuf_compatibility(schema, existing[-1])
    check_compatibility(schema, existing, strategy)
    version = len(log)
    log.append({"version": version, "type": schema_type, "schema": schema.jsonValue()})
    _store_log(topic_path, log)
    return version


def get_schema_entry(topic_path: str, version: int | None = None) -> tuple[T.StructType, str]:
    """(schema, format) — version=None → latest (AUTO_CONSUME resolution,
    AutoConsumeSchema.java:123)."""
    log = _load_log(topic_path)
    if not log:
        raise LookupError(f"no schemas registered for {topic_path}")
    entry = log[-1] if version is None else log[version]
    return T.StructType.fromJson(entry["schema"]), entry.get("type", "JSON")


def get_schema(topic_path: str, version: int | None = None) -> T.StructType:
    return get_schema_entry(topic_path, version)[0]


def decode_value(
    env: DataFrame, topic_path: str, version: int | None = None, out_col: str = "data"
) -> DataFrame:
    """Schema-decode the envelope's binary value → typed struct column
    (consumer-side schema decode, ConsumerImpl message path). Dispatches on the
    registered format (SchemaType.java): JSON → from_json (JVM codegen);
    AVRO / PROTOBUF → the Arrow-batched spec codecs (functions/avro_codec.py,
    functions/proto_codec.py)."""
    schema, fmt = get_schema_entry(topic_path, version)
    if fmt == "AVRO":
        from pulsar_3_2_codedump_spark.functions.avro_codec import avro_decode

        return avro_decode(env, schema, value_col="value", out_col=out_col)
    if fmt in ("PROTOBUF", "PROTOBUF_NATIVE"):
        from pulsar_3_2_codedump_spark.functions.proto_codec import proto_decode

        # keep_in_col: PROTOBUF must return the same envelope shape as the
        # JSON/AVRO branches (raw 'value' retained alongside the struct)
        dec = proto_decode(env, schema, in_col="value", prefix="__pb_", keep_in_col=True)
        return dec.withColumn(
            out_col, F.struct(*[F.col("__pb_" + f.name).alias(f.name) for f in schema.fields])
        ).drop(*["__pb_" + f.name for f in schema.fields])
    return env.withColumn(out_col, F.from_json(F.col("value").cast("string"), schema))


def validate_payloads(spark, df: DataFrame, topic_path: str) -> None:
    """Produce-side schema validation (AutoProduceBytesSchema.java: a
    producer publishing raw bytes has every payload validated against the
    topic's registered schema before the broker accepts it). Decodes the
    batch's ``value`` bytes with the LATEST registered schema and rejects
    the whole append if any non-null payload fails to decode — for JSON,
    malformed documents decode to NULL and documents missing a
    non-nullable reader field leave that field NULL; both are rejections.
    AVRO/PROTOBUF payloads go through the registered codec the consumers
    will use, so 'validated' means literally 'the reader schema can decode
    it'. One extra scan over the batch (the reference pays the same
    per-message validation on the publish path); raises
    SchemaIncompatibleError with the failing row count."""
    schema, fmt = get_schema_entry(topic_path)  # raises LookupError if none
    decoded = decode_value(df, topic_path, out_col="__vchk")
    required = [f.name for f in schema.fields if not f.nullable]
    bad = F.col("__vchk").isNull()
    for name in required:
        bad = bad | F.col("__vchk")[name].isNull()
    n_bad = (
        decoded.filter(F.col("value").isNotNull()).filter(bad).limit(1_000_000).count()
    )
    if n_bad:
        raise SchemaIncompatibleError(
            f"{n_bad} payload(s) do not decode under the registered "
            f"{fmt} schema v{len(_load_log(topic_path)) - 1} of {topic_path}"
        )


def key_value_schema(key_schema: T.DataType, value_schema: T.StructType) -> T.StructType:
    """KEY_VALUE schema (SchemaType.KEY_VALUE, KeyValueEncodingType INLINE):
    a struct of both parts."""
    return T.StructType(
        [T.StructField("key", key_schema, True), T.StructField("value", value_schema, True)]
    )


def decode_auto_consume(env: DataFrame, topic_path: str) -> DataFrame:
    """AUTO_CONSUME: always the latest registered schema."""
    return decode_value(env, topic_path, version=None)


def decode_multi_version(
    env: DataFrame,
    topic_path: str,
    out_col: str = "data",
    version_col: str = "schema_version",
) -> DataFrame:
    """Per-message writer-schema dispatch, conformed to the latest reader view.

    The reference stamps every message with the schema version it was written
    under (MessageMetadata.schema_version, PulsarApi.proto:127) and an
    AUTO_CONSUME consumer decodes each message with ITS writer schema, then
    serves it through the latest reader schema (AutoConsumeSchema.java) —
    fields the writer didn't have come back null, fields the reader dropped
    disappear. Spark re-expression: one filtered decode branch per registered
    version, conformed to the reader struct, unioned. The branch count is
    bounded by the (tiny) schema log, each branch's version predicate pushes
    into the scan, and every branch stays whole-stage codegen — at 100 TB
    this is a handful of parallel scans of disjoint row sets, not a per-row
    Python dispatch.

    Rows whose ``version_col`` is not in the log are dropped (the broker
    rejects writes with unknown schema versions, so they cannot exist in a
    well-formed topic)."""
    log = _load_log(topic_path)
    if not log:
        raise LookupError(f"no schemas registered for {topic_path}")
    reader = T.StructType.fromJson(log[-1]["schema"])
    parts = []
    for entry in log:
        v = entry["version"]
        writer = T.StructType.fromJson(entry["schema"])
        writer_names = {f.name for f in writer.fields}
        dec = decode_value(
            env.filter(F.col(version_col) == v), topic_path, version=v, out_col="__mv"
        )
        conformed = dec.withColumn(
            out_col,
            F.struct(
                *[
                    (
                        F.col(f"__mv.{f.name}")
                        if f.name in writer_names
                        else F.lit(None).cast(f.dataType)
                    ).alias(f.name)
                    for f in reader.fields
                ]
            ),
        ).drop("__mv")
        parts.append(conformed)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
