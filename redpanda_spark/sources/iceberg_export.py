"""Iceberg v2 export: standard-format lakehouse interop for datalake tables.

``export_iceberg(spark, lake_path, out_path)`` converts an engine-written
datalake table (``write_datalake`` layout + ``_manifest.json`` snapshot
history) into a REAL Apache Iceberg v2 table on disk:

  out/
    data/_hour=…/part-….parquet        copied data files (layout preserved)
    metadata/<uuid>-m0.avro            manifest (Avro OCF, manifest_entry)
    metadata/snap-<id>-…-ml.avro       manifest list (Avro OCF, manifest_file)
    metadata/v1.metadata.json          table metadata (Iceberg v2 spec)
    metadata/version-hint.text         filesystem-catalog pointer

Reference parity: this is the output surface of `src/v/iceberg/` —
manifest/manifest-list Avro schemas (`avroschemas/manifest_entry.schema.
json`, `manifest_file.schema.json`, reproduced here from the public
Iceberg spec), table metadata JSON (`table_metadata.cc` / `json_utils.cc`),
and the filesystem catalog's vN.metadata.json + version-hint convention
(`filesystem_catalog.cc`). The reference's hour partition spec
(`datalake/table_definition.cc:57-66`: hour transform on the redpanda
timestamp, field-id 1000) dissolves here into an IDENTITY transform on the
already-materialized ``_hour`` column — same pruning power, truthful to
this layout's physical partitioning.

Every writer of the table — this export and ``iceberg_maintain``'s
deletes, upserts, compaction and expiry — commits through one path: it
reads the head (N, vN) once (``_current_version``, the Hadoop catalog's
resolution) and publishes v{N+1}.metadata.json by exclusive create
(``_commit_metadata``), the commit point; version-hint.text follows as a
hint. A writer that loses the publish re-runs from a fresh read, so two
concurrent commits never overwrite one another (``_commit_retrying``).

Avro container files are written with the repo's from-spec datum codec
(registry/avro_codec.py) plus the OCF framing implemented below from the
Apache Avro 1.11 spec (magic, metadata map, sync-marker-delimited blocks).
No Iceberg runtime is needed to produce the table; any Iceberg reader
(Spark+iceberg-runtime, Trino, DuckDB iceberg extension) can consume it,
and a plain parquet reader can consume ``out/data`` directly.

Scale note: the export is a metadata operation plus a data-file copy. The
metadata side is O(files) driver-side — the same cardinality any Iceberg
committer handles — and the copy is byte-for-byte (no decode/re-encode);
on an object store it becomes a server-side copy per file.
"""

from __future__ import annotations

import functools as _functools
import json
import os
import re
import struct
import time
import uuid
from typing import Any

import pyarrow.parquet as pq

from redpanda_spark.registry.avro_codec import (
    _write_long,
    decode_datum,
    encode_datum,
    resolve_names,
)

# ---------------------------------------------------------------------------
# Avro Object Container File framing (Avro 1.11 spec §Object Container Files)
# ---------------------------------------------------------------------------

_OCF_MAGIC = b"Obj\x01"
_META_SCHEMA = {"type": "map", "values": "bytes"}


def _fs_or_local(fs):
    """Default filesystem for the Iceberg helpers: plain local paths.
    Callers on a URI table root pass the root's fsio handle, making
    every metadata read/write (Avro manifests, metadata.json, hints,
    state) work identically on object stores — the deployment the
    reference's Iceberg committer actually targets
    (`datalake/coordinator/iceberg_file_committer.cc`)."""
    if fs is not None:
        return fs
    from redpanda_spark.fsio import LocalFS

    return LocalFS()


def avro_ocf_write(
    path: str,
    schema: dict,
    records: list[dict],
    meta: dict[str, bytes] | None = None,
    fs=None,
) -> None:
    """One-block Avro OCF with null codec — metadata-scale record counts."""
    resolved = resolve_names(schema)
    out = bytearray(_OCF_MAGIC)
    md = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"null"}
    md.update(meta or {})
    encode_datum(resolve_names(_META_SCHEMA), md, out)
    sync = uuid.uuid4().bytes  # 16 bytes
    out += sync
    block = bytearray()
    for r in records:
        encode_datum(resolved, r, block)
    _write_long(out, len(records))
    _write_long(out, len(block))
    out += block
    out += sync
    _fs_or_local(fs).write_bytes_atomic(path, bytes(out))


def avro_ocf_read(path: str, fs=None) -> tuple[dict, dict, list[Any]]:
    """(schema, metadata, records) — the verification-side reader."""
    buf = _fs_or_local(fs).read_bytes(path)
    if buf[:4] != _OCF_MAGIC:
        raise ValueError("not an Avro object container file")
    md, pos = decode_datum(resolve_names(_META_SCHEMA), buf, 4)
    schema = json.loads(md["avro.schema"])
    if md.get("avro.codec", b"null") not in (b"null", None):
        raise ValueError("only null codec supported")
    sync, pos = buf[pos : pos + 16], pos + 16
    resolved = resolve_names(schema)
    records: list[Any] = []
    while pos < len(buf):
        from redpanda_spark.registry.avro_codec import _read_long

        n, pos = _read_long(buf, pos)
        size, pos = _read_long(buf, pos)
        end = pos + size
        for _ in range(n):
            rec, pos = decode_datum(resolved, buf, pos)
            records.append(rec)
        if pos != end:
            raise ValueError("avro block size mismatch")
        if buf[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch")
        pos += 16
    return schema, {k: v for k, v in md.items()}, records


# ---------------------------------------------------------------------------
# Spark schema -> Iceberg schema JSON (v2 spec §Schemas, with field ids)
# ---------------------------------------------------------------------------

_PRIMS = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "string": "string",
    "binary": "binary",
    "boolean": "boolean",
    "double": "double",
    "float": "float",
    "date": "date",
}


def _iceberg_type(dt, next_id) -> Any:
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _iceberg_type(f.dataType, next_id),
                }
            )
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        eid = next_id()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = next_id(), next_id()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(dt.keyType, next_id),
            "value-id": vid,
            "value": _iceberg_type(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamptz" if isinstance(dt, T.TimestampType) else "timestamp"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    name = dt.simpleString()
    if name in _PRIMS:
        return _PRIMS[name]
    raise ValueError(f"no iceberg mapping for spark type {name}")


def _iceberg_spark_type(t) -> str:
    """Iceberg primitive type (schema JSON form) -> Spark SQL type string,
    for null-filling columns added to the schema after a data file was
    written. Nested types can't need a fill from THIS reader (the writer
    assigns ids top-down, so an added nested field arrives as a whole new
    top-level column of primitive-composed type we can cast to)."""
    if isinstance(t, dict):
        k = t.get("type")
        if k == "list":
            return f"array<{_iceberg_spark_type(t['element'])}>"
        if k == "map":
            return (
                f"map<{_iceberg_spark_type(t['key'])},"
                f"{_iceberg_spark_type(t['value'])}>"
            )
        if k == "struct":
            inner = ",".join(
                f"{f['name']}:{_iceberg_spark_type(f['type'])}"
                for f in t["fields"]
            )
            return f"struct<{inner}>"
        raise ValueError(f"unsupported iceberg type {t!r}")
    if t.startswith("decimal"):
        return t
    if t.startswith("fixed"):
        return "binary"
    prim = {
        "boolean": "boolean",
        "int": "int",
        "long": "bigint",
        "float": "float",
        "double": "double",
        "string": "string",
        "binary": "binary",
        "date": "date",
        "time": "bigint",
        "timestamp": "timestamp_ntz",
        "timestamptz": "timestamp",
        "uuid": "string",
    }
    if t in prim:
        return prim[t]
    raise ValueError(f"unsupported iceberg type {t!r}")


def iceberg_schema(spark_schema) -> dict:
    """Iceberg schema JSON with spec-compliant sequential field ids."""
    counter = {"id": 0}

    def next_id():
        counter["id"] += 1
        return counter["id"]

    top = _iceberg_type(spark_schema, next_id)
    return {
        "type": "struct",
        "schema-id": 0,
        "fields": top["fields"],
        "_last_column_id": counter["id"],
    }


# ---------------------------------------------------------------------------
# manifest / manifest-list Avro schemas (Iceberg v2 spec; the reference
# ships the same documents as src/v/iceberg/avroschemas/*.schema.json)
# ---------------------------------------------------------------------------


def _manifest_entry_schema(partition_fields: list[dict]) -> dict:
    part_record = {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": p["name"],
                "type": ["null", p["avro_type"]],
                "default": None,
                "field-id": p["field_id"],
            }
            for p in partition_fields
        ],
    }
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": part_record, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            # v2 equality deletes (spec field 135 / element 136): the
            # table-schema field ids a delete row matches on; null for
            # data and position-delete files
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int", "element-id": 136}],
                "default": None,
                "field-id": 135,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 1,
            },
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {
                                "name": "contains_null",
                                "type": "boolean",
                                "field-id": 509,
                            },
                            {
                                "name": "contains_nan",
                                "type": ["null", "boolean"],
                                "default": None,
                                "field-id": 518,
                            },
                            {
                                "name": "lower_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 510,
                            },
                            {
                                "name": "upper_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 511,
                            },
                        ],
                    },
                    "element-id": 508,
                },
            ],
            "default": None,
            "field-id": 507,
        },
    ],
}


# ---------------------------------------------------------------------------
# the export
# ---------------------------------------------------------------------------


def _hour_to_micros(hour_dir_value: str) -> int | None:
    """'_hour=2024-03-01 10%3A00%3A00' dir value -> epoch micros (UTC)."""
    import datetime as dt
    from urllib.parse import unquote

    try:
        d = dt.datetime.strptime(unquote(hour_dir_value), "%Y-%m-%d %H:%M:%S")
        return (d.replace(tzinfo=dt.timezone.utc) - dt.datetime(
            1970, 1, 1, tzinfo=dt.timezone.utc
        )) // dt.timedelta(microseconds=1)
    except ValueError:
        return None


def _rebuild_state(prior: dict, data_dir: str, fs=None) -> dict:
    """Recover the file -> [added_snapshot_id, sequence] map from the
    committed manifest chain (current snapshot's manifest list -> manifest
    entries). Used whenever ``_export_state.json`` is missing or stamped
    with a version other than the head the export read — the manifests are the
    source of truth; the state file is only a cache of them. Sequence/
    snapshot inheritance for ADDED entries follows the spec: a null field
    inherits from the manifest-list record that carries the manifest."""
    snap = next(
        s
        for s in prior["snapshots"]
        if s["snapshot-id"] == prior["current-snapshot-id"]
    )
    state: dict[str, list] = {}
    _, _, manifests = avro_ocf_read(snap["manifest-list"], fs=fs)
    for mf in manifests:
        if mf.get("content") == 1:
            continue  # delete manifests are not export state
        _, _, entries = avro_ocf_read(mf["manifest_path"], fs=fs)
        for e in entries:
            if e["status"] == 2:  # DELETED: not live
                continue
            if e["data_file"].get("content", 0) != 0:
                continue  # position/equality delete files: not data state
            rel = os.path.relpath(
                e["data_file"]["file_path"], _data_path_form(data_dir)
            )
            e_snap = e.get("snapshot_id")
            if e_snap is None:
                e_snap = mf["added_snapshot_id"]
            e_seq = e.get("sequence_number")
            if e_seq is None:
                e_seq = mf["sequence_number"]
            state[rel] = [int(e_snap), int(e_seq)]
    return state


# ---------------------------------------------------------------------------
# the commit: one version resolver, one exclusive metadata publish
# ---------------------------------------------------------------------------

# A writer that loses the publish of v{N+1} re-runs from a fresh read this
# many times before giving up (Iceberg's commit.retry.num-retries default).
_COMMIT_RETRIES = 4
_VERSION_NAME = re.compile(r"^v(\d+)\.metadata\.json$")


class CommitConflictError(RuntimeError):
    """Every attempt of an Iceberg commit lost the publish of the table's
    next metadata version to a concurrent writer."""


def _version_path(meta_dir: str, version: int) -> str:
    return os.path.join(meta_dir, f"v{version}.metadata.json")


def _current_version(meta_dir: str, fs=None) -> tuple[int, dict | None]:
    """(N, vN metadata) of the table's committed head — (0, None) before
    the first commit. Resolution is the Hadoop catalog's
    (`HadoopTableOperations.findVersion` + refresh): start at
    version-hint.text, or at the highest vN listed when the hint is
    absent or names no file, then step forward while v{N+1} exists. The
    exclusive create of v{N+1} is the commit point; the hint may lag it
    (a crash after the publish, or a slow writer overwriting a newer
    hint), never lead it."""
    fs = _fs_or_local(fs)
    hint = os.path.join(meta_dir, "version-hint.text")
    try:
        version = int(fs.read_text(hint).strip()) if fs.exists(hint) else 0
    except ValueError:
        version = 0
    if not (version and fs.exists(_version_path(meta_dir, version))):
        found = [_VERSION_NAME.match(n) for n in fs.list_names(meta_dir)]
        version = max((int(m.group(1)) for m in found if m), default=0)
    while fs.exists(_version_path(meta_dir, version + 1)):
        version += 1
    if not version:
        return 0, None
    return version, json.loads(fs.read_text(_version_path(meta_dir, version)))


def _commit_metadata(
    meta_dir: str, base_version: int, base: dict | None, new_meta: dict, fs=None
) -> int:
    """Publish ``new_meta`` — built from ``base``, the table's
    v{base_version} — as v{base_version+1} and return that version. The
    exclusive create is the commit point: when another writer already
    published that version this raises CommitConflictError, never
    overwrites. version-hint.text advances after it, as a hint only.
    Fills the bookkeeping every commit shares: ``last-updated-ms``, the
    metadata-log entry for the superseded file, and a snapshot-log entry
    when the current snapshot changed."""
    fs = _fs_or_local(fs)
    version = base_version + 1
    new_meta = {**new_meta, "last-updated-ms": int(time.time() * 1000)}
    base = base or {}
    new_meta["metadata-log"] = list(base.get("metadata-log", []))
    if base:
        new_meta["metadata-log"].append(
            {
                "timestamp-ms": base["last-updated-ms"],
                "metadata-file": _version_path(meta_dir, base_version),
            }
        )
    cur = new_meta["current-snapshot-id"]
    if cur != base.get("current-snapshot-id"):
        snap = next(s for s in new_meta["snapshots"] if s["snapshot-id"] == cur)
        new_meta["snapshot-log"] = list(new_meta.get("snapshot-log", [])) + [
            {"timestamp-ms": snap["timestamp-ms"], "snapshot-id": cur}
        ]
    if not fs.create_exclusive(
        _version_path(meta_dir, version), json.dumps(new_meta, indent=1)
    ):
        raise CommitConflictError(
            f"{os.path.dirname(meta_dir)}: v{version}.metadata.json was "
            "published by a concurrent writer"
        )
    fs.write_text_atomic(os.path.join(meta_dir, "version-hint.text"), str(version))
    return version


def _commit_retrying(meta_dir: str, fs, attempt, create: bool = False):
    """Run ``attempt(version, meta)`` on a fresh read of the table and
    commit what it builds; a lost publish re-runs it from a new read, up
    to ``_COMMIT_RETRIES`` times, then raises CommitConflictError naming
    the table and version. ``attempt`` returns (new metadata or None for
    a no-op, the files it wrote, result); a losing attempt's files are
    deleted. Returns (committed version or None, result). ``create``
    allows an empty table (the first export)."""
    fs = _fs_or_local(fs)
    for _ in range(_COMMIT_RETRIES + 1):
        version, meta = _current_version(meta_dir, fs)
        if meta is None and not create:
            raise ValueError(f"no vN.metadata.json under {meta_dir}")
        new_meta, written, result = attempt(version, meta)
        if new_meta is None:
            return None, result
        try:
            return _commit_metadata(meta_dir, version, meta, new_meta, fs), result
        except CommitConflictError:
            for p in written:
                fs.delete(p)
    raise CommitConflictError(
        f"{os.path.dirname(meta_dir)}: lost the publish of "
        f"v{version + 1}.metadata.json to concurrent writers "
        f"{_COMMIT_RETRIES + 1} times"
    )


def _data_path_form(p: str) -> str:
    """file_path as stored in manifests: plain filesystem form for
    local / ``file:`` tables (identical to Spark's
    `_metadata.file_path` after :func:`fs_path_col` normalization, and
    directly readable by `spark.read.parquet`), the full URI for true
    object-store schemes (where Spark's metadata column carries the
    same URI form)."""
    return re.sub(r"^file:(//)?", "", p)


def _pq_file(fs, path: str):
    """pyarrow ParquetFile over either filesystem: direct path locally
    (and for ``file:`` URIs, whose plain form is a local path), bytes
    through the driver otherwise — footer-stats reads at export/maintain
    time, the same per-file metadata any Iceberg committer collects."""
    local = _data_path_form(path)
    if getattr(fs, "is_local", True) or local != path or os.path.exists(local):
        return pq.ParquetFile(local)
    import io

    return pq.ParquetFile(io.BytesIO(fs.read_bytes(path)))


def export_iceberg(
    spark, lake_path: str, out_path: str, snapshot_id: int | None = None
) -> dict:
    """Layout conversion of a datalake table snapshot into an Apache
    Iceberg v2 table (see module docstring). Returns a summary dict
    {table_uuid, snapshot_id, n_files, n_rows, metadata_path}.

    INCREMENTAL: calling again for a later engine snapshot appends an
    Iceberg snapshot to the SAME table — the reference committer's shape
    (`datalake/coordinator/iceberg_file_committer.cc` commits one Iceberg
    snapshot per translated batch). Only new data files are copied;
    previously-exported files enter the new manifest as EXISTING entries
    carrying their original (snapshot_id, sequence_number); a new
    vN.metadata.json keeps every prior snapshot (time travel across
    exports works through ``read_iceberg(snapshot_id=...)``) and the
    metadata-log records the superseded metadata file. Files dropped
    between engine snapshots simply leave the new manifest (full-state
    manifests per snapshot); their bytes stay on disk for the older
    snapshots that reference them. Re-exporting an already-exported
    snapshot is an idempotent no-op.

    The commit is ``_commit_metadata``'s exclusive create of
    v{N+1}.metadata.json on the version N the export read; an export
    that loses it to a concurrent writer (another export, a maintenance
    commit) re-runs from a fresh read, and raises CommitConflictError
    after ``_COMMIT_RETRIES`` re-runs. Export bookkeeping (file ->
    first-export snapshot/sequence) lives in ``metadata/_export_state.json``
    — engine-side state, not part of the Iceberg spec surface — written
    after the commit and stamped with the committed version; a stamp
    that is not the head's version is ignored and the state rebuilt from
    the committed manifests.

    The exported table is self-contained: data files are copied under
    ``out/data`` (byte-for-byte), all metadata paths inside the manifest
    list / metadata.json are absolute to ``out_path`` per the spec.
    """
    from redpanda_spark.sources.datalake import (
        _load_lake_manifest,
        read_datalake,
    )
    from redpanda_spark import fsio

    fs = fsio.for_root(spark, lake_path)
    m = _load_lake_manifest(fs, os.path.join(lake_path, "_manifest.json"))
    snaps = m["snapshots"]
    if not snaps:
        raise ValueError(f"no live snapshots under {lake_path}")
    snap = (
        snaps[-1]
        if snapshot_id is None
        else next((s for s in snaps if s["id"] == snapshot_id), None)
    )
    if snap is None:
        raise ValueError(f"snapshot {snapshot_id} not live under {lake_path}")
    snap_id = int(snap["id"])

    # the table root's filesystem: plain local paths stay on the POSIX
    # fast path; URI roots (file:/hdfs:/s3a:/...) ride the Hadoop
    # FileSystem of the live JVM, like every engine metadata path
    ofs = fsio.for_root(spark, out_path)
    out_abs = (
        ofs.normalize(out_path)
        if fsio.has_scheme(out_path)
        else os.path.abspath(out_path)
    )
    data_dir = os.path.join(out_abs, "data")
    meta_dir = os.path.join(out_abs, "metadata")
    ofs.mkdirs(data_dir)
    ofs.mkdirs(meta_dir)
    state_path = os.path.join(meta_dir, "_export_state.json")

    @_functools.cache
    def layout():
        """(schema, last column id, partition fields, spec) of the lake
        snapshot: the schema from the snapshot read (mergeSchema view —
        what a reader gets), the spec an identity on the materialized
        _hour column (see module docstring vs the reference's hour
        transform, field-id 1000)."""
        schema = iceberg_schema(
            read_datalake(spark, lake_path, snapshot_id=snap["id"]).schema
        )
        last_column_id = schema.pop("_last_column_id")
        hour_field = next(
            (f for f in schema["fields"] if f["name"] == "_hour"), None
        )
        part_fields = []
        if hour_field is not None:
            part_fields = [
                {
                    "name": "_hour",
                    "source_id": hour_field["id"],
                    "field_id": 1000,
                    "transform": "identity",
                    "avro_type": "long",  # timestamptz partition value: micros
                }
            ]
        spec = {
            "spec-id": 0,
            "fields": [
                {
                    "name": p["name"],
                    "transform": p["transform"],
                    "source-id": p["source_id"],
                    "field-id": p["field_id"],
                }
                for p in part_fields
            ],
        }
        return schema, last_column_id, part_fields, spec

    @_functools.cache
    def data_files():
        """[(rel, dst, rows, bytes, partition value)] of the snapshot's
        files, each copied under out/data unless already there, with
        footer-only stats."""
        part_fields = layout()[2]
        out = []
        src_root = fs.normalize(lake_path)
        for rel in snap["files"]:
            dst = os.path.join(data_dir, rel)
            if not ofs.exists(dst):
                ofs.mkdirs(os.path.dirname(dst))
                # tmp + rename (fsio.copy_file): dst is either absent or
                # complete — a crash mid-copy must not leave a truncated
                # parquet that the retry's exists-check would then trust
                fsio.copy_file(fs, os.path.join(src_root, rel), ofs, dst)
            part_val = None
            if part_fields and "_hour=" in rel:
                part_val = _hour_to_micros(
                    rel.split("_hour=", 1)[1].split(os.sep, 1)[0].split("/", 1)[0]
                )
            rows = int(_pq_file(ofs, dst).metadata.num_rows)
            out.append((rel, dst, rows, int(ofs.getsize(dst)), part_val))
        return out

    def attempt(version: int, prior: dict | None):
        if prior is not None and snap_id in {
            s["snapshot-id"] for s in prior["snapshots"]
        }:  # idempotent re-export
            return None, [], {
                "table_uuid": prior["table-uuid"],
                "snapshot_id": snap_id,
                "n_files": len(snap["files"]),
                "n_rows": None,
                "metadata_path": _version_path(meta_dir, version),
            }
        # rel path -> [added_snapshot_id, seq]: the state file is a cache
        # of the committed manifests, trusted only when stamped with the
        # version this attempt read — anything else (a crash before the
        # state write, a concurrent commit) rebuilds it from the manifest
        # chain, which is authoritative by definition. Trusting a stale
        # cache would mark files EXISTING under a snapshot id the table
        # never committed (a spec violation the conformance reader checks).
        state: dict[str, list] = {}
        if prior is not None:
            if ofs.exists(state_path):
                raw = json.loads(ofs.read_text(state_path))
                if raw.pop("_version", None) == version:
                    state = raw
            if not state:
                state = _rebuild_state(prior, data_dir, fs=ofs)
        schema, last_column_id, part_fields, spec = layout()

        # files already exported enter as EXISTING entries with their
        # original (snapshot_id, sequence_number) per the v2 spec
        seq = (prior["last-sequence-number"] + 1) if prior else 1
        entries = []
        total_rows = added_rows = 0
        n_added = n_existing = 0
        for rel, dst, rows, size, part_val in data_files():
            total_rows += rows
            if rel in state:
                status, e_snap, e_seq = 0, int(state[rel][0]), int(state[rel][1])
                n_existing += 1
            else:
                status, e_snap, e_seq = 1, snap_id, None  # ADDED: seq inherited
                state[rel] = [snap_id, seq]
                n_added += 1
                added_rows += rows
            entries.append(
                {
                    "status": status,
                    "snapshot_id": e_snap,
                    "sequence_number": e_seq,
                    "file_sequence_number": e_seq,
                    "data_file": {
                        "content": 0,  # DATA
                        "file_path": _data_path_form(dst),
                        "file_format": "PARQUET",
                        "partition": {"_hour": part_val} if part_fields else {},
                        "record_count": rows,
                        "file_size_in_bytes": size,
                        "equality_ids": None,
                    },
                }
            )
        min_seq = min((int(state[rel][1]) for rel in snap["files"]), default=seq)

        # manifest (…-m0.avro)
        manifest_path = os.path.join(meta_dir, f"{uuid.uuid4()}-m0.avro")
        avro_ocf_write(
            manifest_path,
            _manifest_entry_schema(part_fields),
            entries,
            fs=ofs,
            meta={
                "schema": json.dumps(schema).encode(),
                "partition-spec": json.dumps(spec["fields"]).encode(),
                "partition-spec-id": b"0",
                "format-version": b"2",
                "content": b"data",
            },
        )

        # manifest list (snap-<id>-….avro)
        part_vals = [e["data_file"]["partition"].get("_hour") for e in entries]
        known = [v for v in part_vals if v is not None]
        partitions_summary = (
            [
                {
                    "contains_null": len(known) < len(part_vals),
                    "contains_nan": False,
                    "lower_bound": struct.pack("<q", min(known)) if known else None,
                    "upper_bound": struct.pack("<q", max(known)) if known else None,
                }
            ]
            if part_fields
            else None
        )
        mlist_records = [
            {
                "manifest_path": manifest_path,
                "manifest_length": ofs.getsize(manifest_path),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": min_seq,
                "added_snapshot_id": snap_id,
                "added_data_files_count": n_added,
                "existing_data_files_count": n_existing,
                "deleted_data_files_count": 0,
                "added_rows_count": added_rows,
                "existing_rows_count": total_rows - added_rows,
                "deleted_rows_count": 0,
                "partitions": partitions_summary,
            }
        ]
        # Carry the prior snapshot's DELETE manifests forward (position AND
        # equality): maintenance commits (iceberg_maintain.delete_where /
        # equality_delete / merge_upsert) interleave with exports on the
        # same table, and a new snapshot that silently dropped their delete
        # files would resurrect deleted rows. The manifest files themselves
        # are immutable — reference them as-is (the v2 spec explicitly
        # allows a manifest to be listed by many snapshots).
        if prior:
            prior_snap = next(
                s
                for s in prior["snapshots"]
                if s["snapshot-id"] == prior["current-snapshot-id"]
            )
            _pls, _plm, prior_mfs = avro_ocf_read(
                prior_snap["manifest-list"], fs=ofs
            )
            mlist_records += [dict(p) for p in prior_mfs if p.get("content") == 1]
        mlist_path = os.path.join(
            meta_dir, f"snap-{snap_id}-{seq}-{uuid.uuid4()}.avro"
        )
        avro_ocf_write(mlist_path, _MANIFEST_FILE_SCHEMA, mlist_records, fs=ofs)

        # table metadata (v2 spec §Table Metadata)
        schema_id = 0
        schemas = [schema]
        if prior:
            schemas = list(prior["schemas"])
            cur = next(
                s for s in schemas if s["schema-id"] == prior["current-schema-id"]
            )
            if {k: v for k, v in schema.items() if k != "schema-id"} == {
                k: v for k, v in cur.items() if k != "schema-id"
            }:
                schema_id = cur["schema-id"]
            else:  # schema evolution: register the new schema
                schema_id = max(s["schema-id"] for s in schemas) + 1
                schemas.append({**schema, "schema-id": schema_id})
            last_column_id = max(last_column_id, prior["last-column-id"])
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": int(time.time() * 1000),
            "manifest-list": mlist_path,
            "summary": {
                "operation": "append",
                "added-data-files": str(n_added),
                "added-records": str(added_rows),
                "total-records": str(total_rows),
                "total-data-files": str(len(entries)),
            },
            "schema-id": schema_id,
        }
        metadata = {
            "format-version": 2,
            "table-uuid": prior["table-uuid"] if prior else str(uuid.uuid4()),
            "location": out_abs,
            "last-sequence-number": seq,
            "last-column-id": last_column_id,
            "current-schema-id": schema_id,
            "schemas": schemas,
            "default-spec-id": 0,
            "partition-specs": [spec],
            "last-partition-id": 1000 if part_fields else 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": snap_id,
            "snapshots": (prior["snapshots"] if prior else []) + [snapshot],
            "snapshot-log": prior.get("snapshot-log", []) if prior else [],
        }
        summary = {
            "table_uuid": metadata["table-uuid"],
            "snapshot_id": snap_id,
            "n_files": len(entries),
            "n_rows": total_rows,
            "metadata_path": _version_path(meta_dir, version + 1),
        }
        return metadata, [manifest_path, mlist_path], (summary, state)

    version, result = _commit_retrying(meta_dir, ofs, attempt, create=True)
    if version is None:
        return result
    summary, state = result
    ofs.write_text_atomic(state_path, json.dumps({**state, "_version": version}))
    return summary


# ---------------------------------------------------------------------------
# the import side: consume an Iceberg v2 table without an Iceberg runtime
# ---------------------------------------------------------------------------


def _current_metadata(path: str, fs=None) -> dict:
    """The committed metadata of the table at ``path`` (see
    ``_current_version``)."""
    meta_dir = os.path.join(path, "metadata")
    _version, meta = _current_version(meta_dir, fs)
    if meta is None:
        raise ValueError(f"no vN.metadata.json under {meta_dir}")
    return meta


def fs_path_col(col):
    """Normalize Spark's `_metadata.file_path` URI to the filesystem path
    form manifests store: strip the file: scheme and URL-decode (%20
    spaces, %25 for the literal % hive-escaping puts in partition dirs).
    url_decode also maps '+' to space — the writer's file names (uuid /
    part-NNNNN / hive-escaped hour dirs) never contain a literal '+'."""
    from pyspark.sql import functions as F

    return F.url_decode(F.regexp_replace(col, "^file:(//)?", ""))


def _extract_footer_field_ids(pa_schema):
    fid2col: dict[int, str] = {}
    names: dict[str, str] = {}
    for fld in pa_schema:
        names[fld.name] = str(fld.type)
        md = fld.metadata or {}
        fid = md.get(b"PARQUET:field_id")
        if fid is not None:
            fid2col[int(fid)] = fld.name
    return (
        tuple(sorted(fid2col.items())),
        frozenset(names),
        tuple(sorted(names.items())),
    )


@_functools.lru_cache(maxsize=65536)
def _footer_field_ids_cached(
    path: str, mtime_ns: int, size: int
) -> tuple[tuple[tuple[int, str], ...], frozenset, tuple[tuple[str, str], ...]]:
    import pyarrow.parquet as papq

    return _extract_footer_field_ids(papq.read_schema(path))


# URI-scheme footer cache: same (path, fingerprint) keying, bytes read
# through the table root's filesystem (pyarrow has no handle for the
# JVM's Hadoop connectors). Bounded like the lru above.
_REMOTE_FOOTER_CACHE: dict[tuple, tuple] = {}


def _footer_field_ids(
    path: str, fs=None
) -> tuple[tuple[tuple[int, str], ...], frozenset, tuple[tuple[str, str], ...]]:
    """(field_id→physical-name pairs, all physical names, (name, physical
    type) pairs) from a parquet footer. Cached by (path, mtime, size) —
    Iceberg data/delete files are immutable by spec, but a table rewritten
    in place at the same path within one driver process (tests, external
    writers) must not serve a stale mapping, so the stat fingerprint keys
    the cache. Raises on an unreadable footer (OSError for I/O, pyarrow's
    ArrowInvalid — a ValueError — for malformed bytes): only successes are
    cached, so a transient I/O blip is never pinned as a wrong empty
    resolution; callers decide whether malformation may fall back to name
    matching."""
    from redpanda_spark.fsio import has_scheme as _has_scheme

    if not _has_scheme(path):
        st = os.stat(path)
        return _footer_field_ids_cached(path, st.st_mtime_ns, st.st_size)
    fs = _fs_or_local(fs)
    key = (path, *fs.stat_fingerprint(path))
    hit = _REMOTE_FOOTER_CACHE.get(key)
    if hit is None:
        import io

        import pyarrow.parquet as papq

        hit = _extract_footer_field_ids(
            papq.read_schema(io.BytesIO(fs.read_bytes(path)))
        )
        if len(_REMOTE_FOOTER_CACHE) >= 65536:
            _REMOTE_FOOTER_CACHE.clear()
        _REMOTE_FOOTER_CACHE[key] = hit
    return hit


# test/maintenance hooks keep the pre-wrapper API
_footer_field_ids.cache_clear = _footer_field_ids_cached.cache_clear
_footer_field_ids.cache_info = _footer_field_ids_cached.cache_info


def read_iceberg(
    spark,
    path: str,
    snapshot_id: int | None = None,
    with_metadata: bool = False,
):
    """Read an Iceberg v2 table through its OWN metadata — current (or
    ``snapshot_id``) snapshot resolved from table metadata, data files
    enumerated from the manifest list + manifests (never a directory
    LIST), then read as parquet. Deleted/existing entry statuses are
    honored (status 2 = DELETED entries are skipped).

    POSITION DELETES (v2 merge-on-read) are applied: delete files
    (content=1) from delete manifests become a (file_path, pos) frame,
    restricted by the spec's sequence-number rule (a position delete
    applies to data files whose sequence_number <= the delete's) via a
    manifest-sized broadcast lookup, then LEFT ANTI-joined against the
    data scan's (_metadata.file_path, _metadata.row_index). The delete
    frame is small relative to the data and broadcasts; the data side
    never shuffles. EQUALITY DELETES (content=2) are applied by field-id
    with the strict sequence rule (see below).

    SCHEMA EVOLUTION on read (spec §Schemas / Column Projection): data
    file columns resolve against the CURRENT schema by parquet field_id
    — a column renamed after a file was written still reads (old
    physical name, current output name), and a column added after a
    file was written null-fills. Files without field_id metadata (e.g.
    this repo's own writer) fall back to name matching, which is the
    identity mapping for an unevolved table. Footer schemas are read
    once per file at plan time (the same footers any engine's planner
    reads); files sharing a resolution group scan together, so the
    unevolved fast path is a single multi-file scan.

    ``with_metadata=True`` keeps the physical address columns
    (_file_path normalized to the manifest's path form, _row_index) —
    the hook `iceberg_maintain.delete_where` uses to locate rows.

    This is the consume half of the interop story: any Iceberg table an
    external writer committed (same layout rules) is queryable here with
    no Iceberg runtime, exactly how `manifest_io.cc` materializes a
    snapshot's file set in the reference."""
    ofs = None
    from redpanda_spark import fsio as _fsio

    if _fsio.has_scheme(path):
        ofs = _fsio.for_root(spark, path)
        path = ofs.normalize(path)
    meta = _current_metadata(path, fs=ofs)
    return _read_snapshot(spark, path, meta, snapshot_id, with_metadata, ofs)


def _read_snapshot(spark, path: str, meta: dict, snapshot_id, with_metadata, ofs):
    """``read_iceberg`` on already-resolved table metadata: maintenance
    locates rows in the very snapshot its commit builds on."""
    from pyspark.sql import functions as F

    if meta.get("format-version") != 2:
        raise ValueError(f"unsupported iceberg format-version {meta.get('format-version')}")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    if sid not in snaps:
        raise ValueError(f"snapshot {sid} not in table metadata")
    _schema, _md, manifests = avro_ocf_read(snaps[sid]["manifest-list"], fs=ofs)
    files: list[tuple[str, int]] = []  # (path, effective sequence number)
    del_files: list[tuple[str, int]] = []
    eq_files: list[tuple[str, int, tuple[int, ...]]] = []  # (+ equality ids)
    part_meta: dict[str, dict] = {}  # data file -> manifest partition struct
    for mf in manifests:
        _es, _em, entries = avro_ocf_read(mf["manifest_path"], fs=ofs)
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            d = e["data_file"]
            eff_seq = e.get("sequence_number")
            if eff_seq is None:  # spec inheritance from the manifest record
                eff_seq = mf["sequence_number"]
            content = d.get("content", 0)
            if d["file_format"].upper() != "PARQUET":
                raise ValueError(f"unsupported file format {d['file_format']}")
            if content == 2:
                ids = d.get("equality_ids")
                if not ids:
                    raise ValueError(
                        "equality delete file without equality_ids"
                    )
                eq_files.append((d["file_path"], int(eff_seq), tuple(ids)))
            elif content == 1:
                del_files.append((d["file_path"], int(eff_seq)))
            else:
                files.append((d["file_path"], int(eff_seq)))
                part_meta[d["file_path"]] = d.get("partition") or {}
    if not files:
        from pyspark.sql import types as T

        return spark.createDataFrame([], T.StructType([]))
    need_addr = bool(del_files) or with_metadata
    need_fseq = bool(eq_files)

    # -- field-id column resolution (spec §Column Projection) -------------
    cur_schema_fields = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )["fields"]
    # identity-transform partition fields: source field id -> partition
    # struct key. Spec Column Projection rule 2: a field id absent from a
    # data file resolves from the manifest's partition metadata when an
    # identity transform exists for it (data files may legitimately omit
    # the column; hive-style dirs are a layout convention, not the spec).
    _specs = {s.get("spec-id"): s for s in meta.get("partition-specs", [])}
    _dspec = _specs.get(meta.get("default-spec-id"), {"fields": []})
    ident_part = {
        pf["source-id"]: pf["name"]
        for pf in _dspec.get("fields", [])
        if pf.get("transform") == "identity"
    }

    def _part_value_col(expr, t):
        """Manifest partition values decode as Avro primitives; give the
        int encodings of date (days) / timestamp (micros) their types."""
        if t == "date":
            return F.date_add(F.lit("1970-01-01").cast("date"), expr.cast("int"))
        if t in ("timestamp", "timestamptz"):
            return F.timestamp_micros(expr.cast("long"))
        return expr.cast(_iceberg_spark_type(t))

    def _file_resolution(p: str) -> tuple:
        """Per current-schema field: the file's physical column name, or
        None (null-fill). field_id metadata wins (spec §Column
        Projection — physical names are arbitrary, even under a single
        table schema); name match is the fallback for files written
        without ids."""
        fid_pairs, names, type_pairs = _footer_field_ids(p, fs=ofs)
        fid2col = dict(fid_pairs)
        col2type = dict(type_pairs)
        out = []
        for f in cur_schema_fields:
            if fid2col:
                phys = fid2col.get(f["id"])
            else:
                phys = f["name"] if f["name"] in names else None
            # the PHYSICAL type rides along in the group key: files that
            # differ only by spec type promotion (int->long, float->double)
            # on the same column name must scan in separate groups — a
            # single inferred footer schema would misread the other file
            out.append((phys, col2type.get(phys) if phys else None))
        return tuple(out)

    # footer reads are pure I/O and per-path cached; fan them out on a
    # thread pool so plan time is ~one round-trip, not O(files) serial
    # driver I/O (the same footers any engine's planner reads)
    from concurrent.futures import ThreadPoolExecutor

    uniq = [p for p, _ in files]
    if len(uniq) > 1:
        with ThreadPoolExecutor(max_workers=min(32, len(uniq))) as ex:
            resolutions = dict(zip(uniq, ex.map(_file_resolution, uniq)))
    else:
        resolutions = {p: _file_resolution(p) for p in uniq}
    groups: dict[tuple, list[tuple[str, int]]] = {}
    for p, s in files:
        groups.setdefault(resolutions[p], []).append((p, s))

    def _scan_group(res: tuple, members: list[tuple[str, int]]):
        sub = spark.read.option(
            "basePath", os.path.join(path, "data")
        ).parquet(*[p for p, _ in members])
        sel = []
        for f, (phys, _ptype) in zip(cur_schema_fields, res):
            pn = ident_part.get(f["id"])
            has_part_val = pn is not None and any(
                part_meta.get(p, {}).get(pn) is not None for p, _ in members
            )
            if phys is not None:
                # cast to the CURRENT schema type so a pre-promotion group
                # (file written as int, schema since promoted to long)
                # unions cleanly with post-promotion groups
                sel.append(
                    F.col(phys)
                    .cast(_iceberg_spark_type(f["type"]))
                    .alias(f["name"])
                )
            elif has_part_val:
                # identity-partition column absent from the data files:
                # the manifest's partition struct is the authoritative
                # source (spec Column Projection rule 2) — works for ANY
                # layout, hive-style dirs or flat
                pmap = F.create_map(
                    *[
                        x
                        for p, _ in members
                        for x in (
                            F.lit(p),
                            F.lit(part_meta.get(p, {}).get(pn)),
                        )
                    ]
                )
                sel.append(
                    _part_value_col(
                        pmap[fs_path_col(F.col("_metadata.file_path"))],
                        f["type"],
                    ).alias(f["name"])
                )
            elif f["name"] in sub.columns:
                # layout fallback: Spark materialized the column from
                # hive-style dirs (basePath) and the manifest carried no
                # value for it
                sel.append(F.col(f["name"]))
            else:
                sel.append(
                    F.lit(None)
                    .cast(_iceberg_spark_type(f["type"]))
                    .alias(f["name"])
                )
        if need_fseq:
            fseq_map = F.create_map(
                *[x for p, s in members for x in (F.lit(p), F.lit(s))]
            )
            sel.append(
                fseq_map[fs_path_col(F.col("_metadata.file_path"))].alias(
                    "_data_seq"
                )
            )
        if need_addr:
            sel.append(
                fs_path_col(F.col("_metadata.file_path")).alias("_file_path")
            )
            sel.append(F.col("_metadata.row_index").alias("_row_index"))
        return sub.select(*sel)

    group_items = list(groups.items())
    df = _scan_group(*group_items[0])
    for res, members in group_items[1:]:
        df = df.unionByName(_scan_group(res, members))
    if del_files:
        dels = spark.read.parquet(*[p for p, _ in del_files])
        # sequence rule: tag each delete FILE with its seq, each data file
        # with its seq (manifest-sized lookup), keep dels where
        # delete.seq >= data.seq
        dseq = F.create_map(
            *[x for p, s in del_files for x in (F.lit(p), F.lit(s))]
        )
        # which delete file a row came from -> its sequence number
        dels = dels.withColumn("_dseq", dseq[fs_path_col(F.col("_metadata.file_path"))])
        fseq = F.create_map(*[x for p, s in files for x in (F.lit(p), F.lit(s))])
        dels = dels.withColumn("_fseq", fseq[F.col("file_path")]).where(
            F.col("_fseq").isNull() | (F.col("_dseq") >= F.col("_fseq"))
        )
        df = df.join(
            F.broadcast(dels.select("file_path", "pos")),
            (df["_file_path"] == F.col("file_path"))
            & (df["_row_index"] == F.col("pos")),
            "left_anti",
        )
    if eq_files:
        # EQUALITY DELETES (content=2, spec §Delete Formats): a delete row
        # hides data rows that match on the listed field-ids and live in
        # data files with sequence_number STRICTLY LESS than the delete's.
        # Field-ids resolve against the CURRENT schema; delete frames are
        # tiny next to the data and broadcast — the data side never
        # shuffles (one anti-join per distinct equality-id set).
        cur_schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        id2name = {f["id"]: f["name"] for f in cur_schema["fields"]}

        def _delete_file_cols(path: str, ids: tuple[int, ...]) -> list[str]:
            # Spec: columns in a delete file resolve by parquet field_id,
            # NOT by name — an external table whose key column was renamed
            # after the delete file was written still reads correctly.
            # Name match is the fallback when ids are absent or the footer
            # is deterministically malformed (ArrowInvalid/ValueError);
            # transient I/O errors (OSError) propagate — a silent name
            # fallback there could apply deletes against the wrong column.
            try:
                fid2col = dict(_footer_field_ids(path, fs=ofs)[0])
            except ValueError:
                fid2col = {}
            out = []
            for i in ids:
                if i in fid2col:
                    out.append(fid2col[i])
                elif i in id2name:
                    out.append(id2name[i])
                else:
                    raise ValueError(
                        f"equality_ids reference unknown field id {i}"
                    )
            return out

        by_ids: dict[tuple[int, ...], list[tuple[str, int]]] = {}
        for p, s, ids in eq_files:
            by_ids.setdefault(ids, []).append((p, s))
        for ids, plist in by_ids.items():
            try:
                cols = [id2name[i] for i in ids]
            except KeyError as exc:
                raise ValueError(
                    f"equality_ids reference unknown field id {exc}"
                ) from None
            frames = []
            for p, s in plist:
                src = _delete_file_cols(p, ids)
                frames.append(
                    spark.read.parquet(p).select(
                        *[
                            F.col(sn).alias(f"_eq_{cn}")
                            for sn, cn in zip(src, cols)
                        ],
                        F.lit(s).alias("_eq_seq"),
                    )
                )
            eqd = frames[0]
            for fr in frames[1:]:
                eqd = eqd.unionByName(fr)
            cond = F.col("_eq_seq") > F.col("_data_seq")
            for c in cols:
                # spec: null delete values match null (null-safe equality)
                cond = cond & F.col(c).eqNullSafe(F.col(f"_eq_{c}"))
            df = df.join(F.broadcast(eqd), cond, "left_anti")
    if need_fseq:
        df = df.drop("_data_seq")
    if need_addr and not with_metadata:
        df = df.drop("_file_path", "_row_index")
    return df
