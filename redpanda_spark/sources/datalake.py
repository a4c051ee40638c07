"""Datalake sink: typed record translation + hour-partitioned table output.

Reference: the Iceberg/datalake subsystem translates topic records into
typed columnar rows, attaching a ``redpanda`` system struct
{partition, offset, timestamp, headers, key} to every row
(`src/v/datalake/record_translator.cc:68-98`) and partitioning tables by
hour(timestamp) (`src/v/datalake/table_definition.cc:57-66`).

Spark-first: this is Spark's home turf — ``from_json`` decodes the value
per the registered schema, the system struct is one `struct()` expression,
and the hour partitioning is `partitionBy` on a derived column, giving
partition pruning on every downstream read.
"""

from __future__ import annotations

import json
import os
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def redpanda_system_struct() -> Column:
    """The per-row provenance struct (record_translator.cc:68-98)."""
    return F.struct(
        F.col("partition").alias("partition"),
        F.col("offset").alias("offset"),
        F.col("timestamp").alias("timestamp"),
        F.col("headers").alias("headers"),
        F.col("key").alias("key"),
    ).alias("redpanda")


def translate_json_topic(
    log: DataFrame,
    value_schema: T.StructType | str,
) -> DataFrame:
    """Decode JSON values into typed columns + the system struct + hour col.

    Output: redpanda struct, flattened value fields, ``_hour`` partition
    column (hour-truncated timestamp, the reference's default partition
    spec).
    """
    cols = [redpanda_system_struct()] if "headers" in log.columns else [
        F.struct(
            F.col("partition"), F.col("offset"), F.col("timestamp"),
            F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
            F.col("key"),
        ).alias("redpanda")
    ]
    decoded = log.select(
        *cols,
        F.from_json(F.col("value").cast("string"), value_schema).alias("_v"),
        F.date_trunc("hour", F.col("timestamp")).alias("_hour"),
    )
    value_fields = decoded.select("_v.*").columns
    return decoded.select(
        "redpanda", *[F.col(f"_v.{f}").alias(f) for f in value_fields], "_hour"
    )


# --------------------------------------------------------------------------
# Avro / Protobuf typed translation
# --------------------------------------------------------------------------
#
# The reference translates all three registry schema types to columnar rows
# (`src/v/datalake/schema_avro.cc`, `schema_protobuf.cc`,
# `record_translator.cc:68-98`). Spark's from_avro/from_protobuf live in
# external packages absent here, so decode runs as an Arrow-batched pandas
# UDF over the pure-Python codecs in registry/ — one Python stage, plan
# identical to the JSON path otherwise (system struct + hour partition stay
# JVM-side).


def avro_spark_type(schema: Any) -> T.DataType:
    """Avro schema → Spark type, mirroring the reference's Iceberg mapping
    (`schema_avro.cc`; SURVEY.md §1.3/§1.4): enum→string, fixed→binary,
    [null, X] unions→nullable X."""
    if isinstance(schema, str):
        prim = {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }
        if schema in prim:
            return prim[schema]
        raise ValueError(f"unsupported avro type {schema}")
    if isinstance(schema, list):  # union
        branches = [b for b in schema if b != "null"]
        if len(branches) != 1:
            raise ValueError("only [null, X] unions map to a column type")
        return avro_spark_type(branches[0])
    t = schema["type"]
    if t == "record":
        return T.StructType(
            [
                T.StructField(f["name"], avro_spark_type(f["type"]), True)
                for f in schema["fields"]
            ]
        )
    if t == "array":
        return T.ArrayType(avro_spark_type(schema["items"]), True)
    if t == "map":
        return T.MapType(T.StringType(), avro_spark_type(schema["values"]), True)
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    return avro_spark_type(t)


_PROTO_SPARK = {
    "int32": T.IntegerType(),
    "sint32": T.IntegerType(),
    "sfixed32": T.IntegerType(),
    "uint32": T.LongType(),
    "int64": T.LongType(),
    "sint64": T.LongType(),
    "sfixed64": T.LongType(),
    "uint64": T.LongType(),  # top bit may overflow; reference maps to long too
    "fixed32": T.LongType(),
    "fixed64": T.LongType(),
    "bool": T.BooleanType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}


def proto_spark_type(schema, msg_name: str) -> T.StructType:
    """Proto message → Spark struct (`schema_protobuf.cc` analog);
    enum → string, matching the Avro enum mapping."""
    from redpanda_spark.registry.proto_codec import _lookup
    from redpanda_spark.registry.protobuf_compat import _resolve

    msg = _lookup(schema, msg_name)
    fields = []
    for num in sorted(msg.fields):
        f = msg.fields[num]
        if f.type.startswith("map<"):
            from redpanda_spark.registry.proto_codec import _map_types

            kt, vt = _map_types(f.type)
            if vt in _PROTO_SPARK:
                vtype: T.DataType = _PROTO_SPARK[vt]
            else:
                vresolved = _resolve(vt, msg.full_name, schema)
                vtype = (
                    T.StringType()
                    if vresolved in schema.enums
                    else proto_spark_type(schema, vresolved)
                )
            fields.append(
                T.StructField(f.name, T.MapType(_PROTO_SPARK[kt], vtype, True), True)
            )
            continue
        if f.type in _PROTO_SPARK:
            ftype: T.DataType = _PROTO_SPARK[f.type]
        else:
            resolved = _resolve(f.type, msg.full_name, schema)
            if resolved in schema.enums:
                ftype = T.StringType()
            else:
                ftype = proto_spark_type(schema, resolved)
        if f.label == "repeated":
            ftype = T.ArrayType(ftype, True)
        fields.append(T.StructField(f.name, ftype, True))
    return T.StructType(fields)


def json_spark_type(json_schema: str) -> T.StructType:
    """JSON-Schema (registry type JSON) object → Spark struct, for
    registry-driven dispatch of JSON subjects. Mirrors the reference's
    datalake JSON column mapping: string/integer/number/boolean/array/
    object; integer → long, number → double."""
    spec = json.loads(json_schema)

    def conv(s: dict) -> T.DataType:
        t = s.get("type")
        if t == "string":
            return T.StringType()
        if t == "integer":
            return T.LongType()
        if t == "number":
            return T.DoubleType()
        if t == "boolean":
            return T.BooleanType()
        if t == "array":
            return T.ArrayType(conv(s.get("items", {"type": "string"})), True)
        if t == "object":
            return T.StructType(
                [
                    T.StructField(n, conv(p), True)
                    for n, p in s.get("properties", {}).items()
                ]
            )
        raise ValueError(f"unsupported json-schema type {t}")

    out = conv(spec)
    if not isinstance(out, T.StructType):
        raise ValueError("top-level json schema must be an object")
    return out


def _subject_spark_type(schema_type: str, schema_text: str) -> T.StructType:
    if schema_type == "AVRO":
        t = avro_spark_type(json.loads(schema_text))
        if not isinstance(t, T.StructType):
            raise ValueError("top-level avro schema must be a record")
        return t
    if schema_type == "PROTOBUF":
        from redpanda_spark.registry.protobuf_compat import parse_proto

        schema = parse_proto(schema_text)
        first_msg = next(iter(schema.messages))
        return proto_spark_type(schema, first_msg)
    return json_spark_type(schema_text)


def translate_topic(log: DataFrame, registry, subject: str) -> DataFrame:
    """Registry-driven typed translation — each record's schema resolves
    from its OWN wire bytes (`record_schema_resolver.cc` parity): the
    Confluent wire header (magic 0x00 + big-endian schema id) is read per
    record, the id resolves to its registered (type, schema) via the
    registry, and the record decodes with the matching JSON/Avro/Protobuf
    codec. Mixed-schema-id topics (several live versions of ``subject``)
    therefore decode correctly record by record.

    Output columns follow the subject's LATEST version (the Iceberg table
    schema after evolution); rows written with an older version leave the
    added columns NULL — Iceberg add-column semantics
    (`schema_evolution` in the reference's datalake), intentionally NOT
    Avro reader-default filling. Records that are unframed, carry an
    unknown id, or have NULL values yield all-NULL value columns (the
    produce-side schema-id gate keeps these out of real topics).

    Scale shape: the id→schema map is driver-resolved tiny metadata
    shipped in the UDF closure; decode is one Arrow-batched narrow stage,
    no shuffle, no driver data path.
    """
    from redpanda_spark.registry.avro_codec import decode_datum, resolve_names
    from redpanda_spark.registry.proto_codec import decode_message
    from redpanda_spark.registry.protobuf_compat import parse_proto

    latest = registry.get_latest(subject)
    reader_type = _subject_spark_type(latest.type, latest.schema)
    names = [f.name for f in reader_type.fields]

    writers: dict[int, tuple] = {}
    for ver in registry.versions(subject):
        v = registry.get_version(subject, ver)
        if v.type == "AVRO":
            # resolve references + named types once, driver-side
            text = (
                registry.resolved_schema(v)
                if hasattr(registry, "resolved_schema")
                else v.schema
            )
            writers[v.id] = ("AVRO", resolve_names(json.loads(text)), None)
        elif v.type == "PROTOBUF":
            schema = parse_proto(v.schema)
            writers[v.id] = ("PROTOBUF", schema, next(iter(schema.messages)))
        else:
            writers[v.id] = ("JSON", None, None)

    @F.pandas_udf(returnType=reader_type)
    def decode(vals: pd.Series) -> pd.DataFrame:
        none_row = dict.fromkeys(names)
        rows = []
        for b in vals:
            if b is None or len(b) < 5 or b[0] != 0:
                rows.append(none_row)
                continue
            w = writers.get(int.from_bytes(bytes(b[1:5]), "big"))
            if w is None:
                rows.append(none_row)
                continue
            kind, schema, msg = w
            body = bytes(b[5:])
            try:
                if kind == "AVRO":
                    d, _ = decode_datum(schema, body, 0)
                elif kind == "PROTOBUF":
                    d = decode_message(schema, msg, body)
                else:
                    d = json.loads(body.decode("utf-8"))
                if not isinstance(d, dict):
                    raise ValueError("non-object value")
            except Exception:
                rows.append(none_row)
                continue
            rows.append({n: d.get(n) for n in names})
        return pd.DataFrame(rows, columns=names)

    decoded = log.select(
        *_system_cols(log),
        decode(F.col("value")).alias("_v"),
        F.date_trunc("hour", F.col("timestamp")).alias("_hour"),
    )
    return decoded.select(
        "redpanda",
        *[F.col(f"_v.{n}").alias(n) for n in names],
        "_hour",
    )


def _system_cols(log: DataFrame) -> list[Column]:
    if "headers" in log.columns:
        return [redpanda_system_struct()]
    return [
        F.struct(
            F.col("partition"), F.col("offset"), F.col("timestamp"),
            F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
            F.col("key"),
        ).alias("redpanda")
    ]


def _strip_wire_header(payload: bytes, wire_framed: bool) -> bytes:
    # Confluent wire format: MAGIC 0x00 + 4-byte big-endian schema id
    # (registry/store.py::wire_encode, produce.cc:360-362)
    return payload[5:] if wire_framed else payload


def _strip_wire_header_col(wire_framed: bool) -> Column:
    v = F.col("value")
    return F.expr("substring(value, 6, length(value) - 5)") if wire_framed else v


# Probe caches: None = not probed yet. The reference decodes Avro/Protobuf
# natively in C++ (`schema_avro.cc`, `schema_protobuf.cc`); the Spark
# analog is the spark-avro / spark-protobuf packages, which keep decode
# inside the JVM (wholestage-adjacent, no Python workers). They are
# external jars and may be absent (they are absent in this container), so
# each translate function probes once and falls back to the Arrow-batched
# pure-Python codecs.
_JVM_AVRO_READY: bool | None = None
_JVM_PROTO_READY: bool | None = None


def _jvm_class_exists(spark, cls: str) -> bool:
    # Class.forName is the deterministic probe: py4j hands back a
    # JavaPackage placeholder for missing packages without raising, so
    # attribute access alone cannot detect an absent jar
    try:
        spark._jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        return False


def _jvm_avro_ready(spark) -> bool:
    global _JVM_AVRO_READY
    if _JVM_AVRO_READY is None:
        _JVM_AVRO_READY = _jvm_class_exists(
            spark, "org.apache.spark.sql.avro.AvroDataToCatalyst"
        )
    return _JVM_AVRO_READY


def _jvm_proto_ready(spark) -> bool:
    global _JVM_PROTO_READY
    if _JVM_PROTO_READY is None:
        _JVM_PROTO_READY = _jvm_class_exists(
            spark, "org.apache.spark.sql.protobuf.ProtobufDataToCatalyst"
        )
    return _JVM_PROTO_READY


def translate_avro_topic(
    log: DataFrame,
    schema_json: str,
    wire_framed: bool = False,
) -> DataFrame:
    """Decode Avro binary values into typed columns + system struct + hour.

    Same output shape as translate_json_topic. Decode path is auto-
    selected: when the spark-avro package is loadable, ``from_avro`` keeps
    decode entirely JVM-side (the 100 TB path — parity with the
    reference's native `schema_avro.cc` decode); otherwise an
    Arrow-batched pandas UDF over registry.avro_codec. Both are narrow
    per-row maps — no shuffle, no driver involvement.
    """
    from redpanda_spark.registry.avro_codec import decode_datum, resolve_names

    schema = resolve_names(json.loads(schema_json))
    value_type = avro_spark_type(schema)
    if not isinstance(value_type, T.StructType):
        raise ValueError("top-level avro schema must be a record")

    if _jvm_avro_ready(log.sparkSession):
        from pyspark.sql.avro.functions import from_avro

        decoded = log.select(
            *_system_cols(log),
            from_avro(_strip_wire_header_col(wire_framed), schema_json).alias("_v"),
            F.date_trunc("hour", F.col("timestamp")).alias("_hour"),
        )
        return decoded.select(
            "redpanda",
            *[F.col(f"_v.{f.name}").alias(f.name) for f in value_type.fields],
            "_hour",
        )

    @F.pandas_udf(returnType=value_type)
    def decode(vals: pd.Series) -> pd.DataFrame:
        rows = []
        for b in vals:
            if b is None:
                rows.append({f.name: None for f in value_type.fields})
                continue
            v, _ = decode_datum(schema, _strip_wire_header(bytes(b), wire_framed), 0)
            rows.append(v)
        return pd.DataFrame(rows, columns=[f.name for f in value_type.fields])

    decoded = log.select(
        *_system_cols(log),
        decode(F.col("value")).alias("_v"),
        F.date_trunc("hour", F.col("timestamp")).alias("_hour"),
    )
    return decoded.select(
        "redpanda",
        *[F.col(f"_v.{f.name}").alias(f.name) for f in value_type.fields],
        "_hour",
    )


def translate_proto_topic(
    log: DataFrame,
    proto_text: str,
    msg_name: str,
    wire_framed: bool = False,
    desc_set: bytes | None = None,
) -> DataFrame:
    """Decode Protobuf wire-format values into typed columns + system struct
    + hour (schema_protobuf.cc parity), via registry.proto_codec.

    JVM fast path: when the spark-protobuf package is loadable AND the
    caller supplies a compiled ``desc_set`` (FileDescriptorSet bytes —
    Spark's from_protobuf cannot consume .proto text), decode stays
    JVM-side; otherwise the Arrow-batched Python codec runs."""
    from redpanda_spark.registry.proto_codec import decode_message
    from redpanda_spark.registry.protobuf_compat import parse_proto

    schema = parse_proto(proto_text)
    value_type = proto_spark_type(schema, msg_name)

    if desc_set is not None and _jvm_proto_ready(log.sparkSession):
        from pyspark.sql.protobuf.functions import from_protobuf

        decoded = log.select(
            *_system_cols(log),
            from_protobuf(
                _strip_wire_header_col(wire_framed),
                msg_name,
                binaryDescriptorSet=desc_set,
            ).alias("_v"),
            F.date_trunc("hour", F.col("timestamp")).alias("_hour"),
        )
        return decoded.select(
            "redpanda",
            *[F.col(f"_v.{f.name}").alias(f.name) for f in value_type.fields],
            "_hour",
        )

    @F.pandas_udf(returnType=value_type)
    def decode(vals: pd.Series) -> pd.DataFrame:
        rows = []
        for b in vals:
            if b is None:
                rows.append({f.name: None for f in value_type.fields})
                continue
            rows.append(
                decode_message(schema, msg_name, _strip_wire_header(bytes(b), wire_framed))
            )
        return pd.DataFrame(rows, columns=[f.name for f in value_type.fields])

    decoded = log.select(
        *_system_cols(log),
        decode(F.col("value")).alias("_v"),
        F.date_trunc("hour", F.col("timestamp")).alias("_hour"),
    )
    return decoded.select(
        "redpanda",
        *[F.col(f"_v.{f.name}").alias(f.name) for f in value_type.fields],
        "_hour",
    )


def export_topic(
    engine,
    topic: str,
    path: str,
    *,
    registry=None,
    subject: str | None = None,
    json_schema=None,
    avro_schema: str | None = None,
    proto_text: str | None = None,
    msg_name: str | None = None,
    wire_framed: bool = True,
    mode: str = "append",
) -> list[str]:
    """One-shot topic → datalake export: translate the committed log with
    the selected decoder and commit one snapshot (the reference's datalake
    coordinator in batch form — record_translator + iceberg_file_committer
    glued over TopicEngine). Decoder precedence: registry+subject
    (per-record schema-id dispatch) > avro_schema > proto_text >
    json_schema."""
    typed = _translate_any(
        engine.log(topic),
        registry=registry,
        subject=subject,
        json_schema=json_schema,
        avro_schema=avro_schema,
        proto_text=proto_text,
        msg_name=msg_name,
        wire_framed=wire_framed,
    )
    return write_datalake(typed, path, mode=mode)


def export_topic_stream(
    engine,
    topic: str,
    path: str,
    checkpoint: str,
    *,
    registry=None,
    subject: str | None = None,
    json_schema=None,
    avro_schema: str | None = None,
    proto_text: str | None = None,
    msg_name: str | None = None,
    wire_framed: bool = True,
    trigger_available_now: bool = False,
    iceberg_out: str | None = None,
):
    """Continuous topic → datalake export (the reference's datalake mode:
    `datalake/coordinator/` drains partitions into Iceberg continuously).
    Structured Streaming over the topic files; each micro-batch commits
    one snapshot whose metadata records the batch id, and a replayed
    batch (crash between snapshot commit and checkpoint advance) is
    SKIPPED when its id already committed — exactly-once table commits
    over the at-least-once foreachBatch contract, the same
    offset-tracking idea the reference's coordinator persists.

    ``iceberg_out``: additionally commit each micro-batch's snapshot to a
    real Apache Iceberg v2 table (sources/iceberg_export.py) — the full
    `iceberg_file_committer.cc` shape: one Iceberg snapshot per batch,
    idempotent under foreachBatch replays (an already-exported snapshot
    is a no-op)."""
    stream = engine.log_stream(topic)
    typed = _translate_any(
        stream,
        registry=registry,
        subject=subject,
        json_schema=json_schema,
        avro_schema=avro_schema,
        proto_text=proto_text,
        msg_name=msg_name,
        wire_framed=wire_framed,
    )

    def _commit(batch_df, batch_id):
        commit_stream_batch(path, batch_df, batch_id)
        if iceberg_out is not None:
            from redpanda_spark.sources.iceberg_export import export_iceberg

            export_iceberg(batch_df.sparkSession, path, iceberg_out)

    writer = typed.writeStream.foreachBatch(_commit).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def commit_stream_batch(path: str, batch_df: DataFrame, batch_id: int) -> bool:
    """foreachBatch sink body: commit one snapshot per micro-batch unless
    this batch id already committed (crash-replay between the snapshot
    commit and the checkpoint advance). Returns whether a commit
    happened."""
    last = last_snapshot_meta(batch_df.sparkSession, path)
    if last is not None and last.get("batch_id") == batch_id:
        return False  # replayed micro-batch: snapshot already committed
    write_datalake(batch_df, path, meta={"batch_id": batch_id})
    return True


def _translate_any(
    log: DataFrame,
    *,
    registry=None,
    subject: str | None = None,
    json_schema=None,
    avro_schema: str | None = None,
    proto_text: str | None = None,
    msg_name: str | None = None,
    wire_framed: bool = True,
) -> DataFrame:
    if registry is not None and subject is not None:
        return translate_topic(log, registry, subject)
    if avro_schema is not None:
        return translate_avro_topic(log, avro_schema, wire_framed=wire_framed)
    if proto_text is not None:
        if msg_name is None:
            raise ValueError("proto_text requires msg_name")
        return translate_proto_topic(
            log, proto_text, msg_name, wire_framed=wire_framed
        )
    if json_schema is not None:
        return translate_json_topic(log, json_schema)
    raise ValueError("no decoder selected: pass registry+subject or a schema")


def last_snapshot_meta(spark, path: str) -> dict | None:
    """Metadata dict of the latest committed snapshot (None when the table
    or manifest doesn't exist yet)."""
    from redpanda_spark import fsio

    fs = fsio.for_root(spark, path)
    manifest = os.path.join(path, "_manifest.json")
    if not fs.exists(manifest):
        return None
    snaps = _load_lake_manifest(fs, manifest)["snapshots"]
    if not snaps:
        return None
    return snaps[-1].get("meta", {})


def _load_lake_manifest(fs, manifest: str) -> dict:
    return json.loads(fs.read_text(manifest))


def write_datalake(
    df: DataFrame,
    path: str,
    mode: str = "append",
    meta: dict | None = None,
) -> list[str]:
    """Hour-partitioned Parquet table write with snapshot semantics.

    Iceberg-commit analog (`datalake/coordinator/iceberg_file_committer.cc`):
    data files land under ``path`` first, then a ``_manifest.json`` holding
    the snapshot history — each snapshot is the complete live-file list at
    its commit — is swapped in with one atomic rename, the same commit
    pattern the engine uses for topic mutations (engine.py::
    _commit_manifest). An append commits the previous snapshot's files
    plus the files this write added (the listing diff around the Spark
    write, as in the engine's produce), so files a crashed writer left
    behind never enter a snapshot. Readers that honor the manifest
    (read_datalake) never observe a half-written snapshot. File listing
    and the manifest swap go through redpanda_spark.fsio, so URI
    (object-store) table paths behave identically. Returns the newly
    committed snapshot's file list (path-relative).

    ``mode="overwrite"`` physically deletes prior snapshots' data files
    (Spark's overwrite), so the prior snapshot ids move to the manifest's
    ``expired`` list — time travel to them raises a clear error instead
    of file-not-found. Table maintenance (compaction, expiry, deletes,
    upserts) runs on the exported Iceberg table (sources/iceberg_maintain.py),
    not here. The manifest read-modify-write assumes the engine's
    single-writer model (one committer per table, like the reference's
    datalake coordinator); concurrent writers need an external lock.
    """
    from redpanda_spark import fsio

    fs = fsio.for_root(df.sparkSession, path)
    manifest = os.path.join(path, "_manifest.json")
    root = fs.normalize(path)

    def listing() -> set[str]:
        return {os.path.relpath(p, root) for p in fs.list_files_recursive(path)}

    # read the prior history BEFORE the write: Spark's overwrite truncates
    # the whole table path, manifest included
    snapshots: list[dict] = []
    expired: list[int] = []
    if fs.exists(manifest):
        prev = _load_lake_manifest(fs, manifest)
        snapshots, expired = prev["snapshots"], prev["expired"]
    before = listing()
    df.write.mode(mode).partitionBy("_hour").parquet(path)
    after = listing()
    if mode == "overwrite":
        files = sorted(after)
        if snapshots:
            expired = sorted(set(expired) | {s["id"] for s in snapshots})
            snapshots = []
    else:
        live = snapshots[-1]["files"] if snapshots else []
        files = sorted(set(live) | (after - before))
    next_id = max(
        [s["id"] for s in snapshots] + expired + [0]
    ) + 1
    snap: dict = {"id": next_id, "files": files}
    if meta:
        snap["meta"] = meta  # e.g. streaming batch_id for replay skipping
    snapshots.append(snap)
    fs.write_text_atomic(
        manifest, json.dumps({"snapshots": snapshots, "expired": expired})
    )
    return files


def read_datalake(
    spark,
    path: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Snapshot read: only files listed in the committed manifest.

    ``snapshot_id`` selects a historical snapshot (time travel); default
    is the latest. Snapshots expired by an overwrite raise a ValueError
    naming the expiry, never a file-not-found from a dangling list.
    ``mergeSchema`` is on, so a table whose later snapshots added columns
    (schema evolution) reads with NULLs for pre-evolution rows — Iceberg
    add-column semantics.
    """
    from redpanda_spark import fsio

    fs = fsio.for_root(spark, path)
    manifest = os.path.join(path, "_manifest.json")
    m = _load_lake_manifest(fs, manifest)
    snapshots = m["snapshots"]
    if snapshot_id is None:
        if not snapshots:
            raise ValueError(f"no live snapshots in {manifest}")
        snap = snapshots[-1]
    else:
        matches = [s for s in snapshots if s["id"] == snapshot_id]
        if not matches:
            if snapshot_id in m["expired"]:
                raise ValueError(f"snapshot {snapshot_id} expired (overwrite)")
            raise ValueError(f"no snapshot {snapshot_id} in {manifest}")
        snap = matches[0]
    full = [os.path.join(path, p) for p in snap["files"]]
    return (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(*full)
    )
