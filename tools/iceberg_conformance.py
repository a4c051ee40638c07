"""Independent Iceberg v2 metadata-chain reader for conformance testing.

This module intentionally shares NO code with the engine's exporter
(``redpanda_spark/sources/iceberg_export.py``) or its Avro codec
(``redpanda_spark/registry/avro_codec.py``): the Avro binary decoder and
the Object Container File framing below are implemented directly from the
public Apache Avro 1.11 specification (https://avro.apache.org/docs/1.11.1/
specification/ — zigzag varint longs, OCF magic/metadata/sync framing),
and the metadata traversal follows the public Apache Iceberg table spec v2
(https://iceberg.apache.org/spec/ — version-hint → vN.metadata.json →
snapshot manifest-list → manifest → data files, and the spec's required
field-ids for manifest_file / manifest_entry / data_file).

Purpose: a consumer that cannot inherit a writer bug traverses
  version-hint.text (stepping forward while v{N+1} exists, as the
  Hadoop catalog does) → v{N}.metadata.json → manifest-list.avro →
  manifest.avro → data parquet
and returns what it found, so tests can assert the chain is readable by an
implementation that only knows the published specs.
"""

from __future__ import annotations

import json
import os
import struct
from typing import Any

# ---------------------------------------------------------------------------
# Avro binary decoding (Avro 1.11 spec §Binary Encoding) — from scratch
# ---------------------------------------------------------------------------


class AvroDecodeError(Exception):
    pass


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Variable-length zigzag integer (spec: int/long encoding)."""
    shift = 0
    acc = 0
    while True:
        if pos >= len(buf):
            raise AvroDecodeError("truncated varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
        if shift > 70:
            raise AvroDecodeError("varint too long")
    return (acc >> 1) ^ -(acc & 1), pos  # zigzag decode


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_varint(buf, pos)
    if n < 0 or pos + n > len(buf):
        raise AvroDecodeError("bad bytes length")
    return buf[pos : pos + n], pos + n


def _decode(schema: Any, buf: bytes, pos: int) -> tuple[Any, int]:
    """Decode one datum per the writer schema (JSON form, names NOT
    pre-resolved — named-type references are resolved lazily via the
    environment captured at parse)."""
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return None, pos
        if t == "boolean":
            if pos >= len(buf):
                raise AvroDecodeError("truncated boolean")
            return buf[pos] == 1, pos + 1
        if t in ("int", "long"):
            return _read_varint(buf, pos)
        if t == "float":
            return struct.unpack_from("<f", buf, pos)[0], pos + 4
        if t == "double":
            return struct.unpack_from("<d", buf, pos)[0], pos + 8
        if t == "bytes":
            return _read_bytes(buf, pos)
        if t == "string":
            raw, pos = _read_bytes(buf, pos)
            return raw.decode("utf-8"), pos
        raise AvroDecodeError(f"unknown primitive {t!r}")
    if isinstance(schema, list):  # union: long index then value
        idx, pos = _read_varint(buf, pos)
        if not 0 <= idx < len(schema):
            raise AvroDecodeError(f"union index {idx} out of range")
        return _decode(schema[idx], buf, pos)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            out = {}
            for f in schema["fields"]:
                out[f["name"]], pos = _decode(f["type"], buf, pos)
            return out, pos
        if t == "array":
            items = []
            while True:
                n, pos = _read_varint(buf, pos)
                if n == 0:
                    break
                if n < 0:  # spec: negative count precedes a byte size
                    _, pos = _read_varint(buf, pos)
                    n = -n
                for _ in range(n):
                    v, pos = _decode(schema["items"], buf, pos)
                    items.append(v)
            return items, pos
        if t == "map":
            out = {}
            while True:
                n, pos = _read_varint(buf, pos)
                if n == 0:
                    break
                if n < 0:
                    _, pos = _read_varint(buf, pos)
                    n = -n
                for _ in range(n):
                    k, pos = _decode("string", buf, pos)
                    out[k], pos = _decode(schema["values"], buf, pos)
            return out, pos
        if t == "fixed":
            n = schema["size"]
            return buf[pos : pos + n], pos + n
        if t == "enum":
            idx, pos = _read_varint(buf, pos)
            return schema["symbols"][idx], pos
        # logical types / nested named reference: decode as the base type
        return _decode(t, buf, pos)
    raise AvroDecodeError(f"unhandled schema node {schema!r}")


# ---------------------------------------------------------------------------
# Avro Object Container File (spec §Object Container Files)
# ---------------------------------------------------------------------------

_FILE_META_SCHEMA = {"type": "map", "values": "bytes"}


def _local_path(p: str) -> str:
    """Map a ``file:`` URI to its local filesystem path (single- or
    double-slash form). Iceberg metadata legitimately stores URIs; a
    filesystem reader follows ``file:`` links locally — the same mapping
    every independent engine (DuckDB/Trino) applies. Non-file schemes
    pass through untouched (and will fail loudly on open, which is
    correct for a local-only verification reader)."""
    import re

    return re.sub(r"^file:(//)?", "", p)


def read_ocf(path: str) -> tuple[dict, dict, list[Any]]:
    """(writer_schema_json, file_metadata, records) — spec framing:
    magic Obj\\x01, file metadata map, 16-byte sync marker, then
    (count, size, data, sync) blocks until EOF."""
    buf = open(_local_path(path), "rb").read()
    if buf[:4] != b"Obj\x01":
        raise AvroDecodeError("bad OCF magic")
    meta, pos = _decode(_FILE_META_SCHEMA, buf, 4)
    codec = meta.get("avro.codec", b"null")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    sync = buf[pos : pos + 16]
    pos += 16
    records: list[Any] = []
    while pos < len(buf):
        n, pos = _read_varint(buf, pos)
        size, pos = _read_varint(buf, pos)
        block = buf[pos : pos + size]
        pos += size
        if codec == b"deflate":
            import zlib

            block = zlib.decompress(block, -15)
        elif codec not in (b"null", None):
            raise AvroDecodeError(f"unsupported codec {codec!r}")
        bpos = 0
        for _ in range(n):
            rec, bpos = _decode(schema, block, bpos)
            records.append(rec)
        if bpos != len(block):
            raise AvroDecodeError("block not fully consumed")
        if buf[pos : pos + 16] != sync:
            raise AvroDecodeError("sync marker mismatch")
        pos += 16
    return schema, meta, records


# ---------------------------------------------------------------------------
# Iceberg v2 spec conformance (field-ids from the public table spec)
# ---------------------------------------------------------------------------

# manifest_file (manifest list entries), spec "Manifest Lists" table
MANIFEST_FILE_REQUIRED_IDS = {
    "manifest_path": 500,
    "manifest_length": 501,
    "partition_spec_id": 502,
    "added_snapshot_id": 503,
}
# manifest_entry, spec "Manifests" table
MANIFEST_ENTRY_REQUIRED_IDS = {"status": 0, "data_file": 2}
# data_file struct, spec "Manifests" table
DATA_FILE_REQUIRED_IDS = {
    "content": 134,
    "file_path": 100,
    "file_format": 101,
    "partition": 102,
    "record_count": 103,
    "file_size_in_bytes": 104,
}


def _field_ids(record_schema: dict) -> dict[str, int]:
    return {
        f["name"]: f.get("field-id")
        for f in record_schema.get("fields", [])
        if "field-id" in f
    }


def _check_ids(record_schema: dict, required: dict[str, int], what: str) -> list[str]:
    got = _field_ids(record_schema)
    errs = []
    for name, fid in required.items():
        if name not in got:
            errs.append(f"{what}: missing required field {name!r}")
        elif got[name] != fid:
            errs.append(
                f"{what}: field {name!r} has field-id {got[name]}, spec says {fid}"
            )
    return errs


def traverse(table_path: str) -> dict:
    """Walk the committed metadata chain of a filesystem-catalog Iceberg
    table and return everything a reader needs, validating spec structure
    along the way. Raises on any broken link."""
    meta_dir = os.path.join(table_path, "metadata")
    version = int(open(os.path.join(meta_dir, "version-hint.text")).read().strip())
    # Hadoop-catalog resolution: the hint may lag the last published
    # version (a writer that crashed after its publish), never lead it
    while os.path.exists(os.path.join(meta_dir, f"v{version + 1}.metadata.json")):
        version += 1
    md_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    md = json.load(open(md_path))
    errs: list[str] = []
    if md.get("format-version") != 2:
        errs.append(f"format-version is {md.get('format-version')}, expected 2")
    snap_id = md["current-snapshot-id"]
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    if snap_id not in snaps:
        raise AvroDecodeError(f"current-snapshot-id {snap_id} not in snapshots")
    snap = snaps[snap_id]
    # ids legitimately removed by snapshot expiry (writer-defined
    # property): EXISTING entries may still carry them as the snapshot
    # that first added the file — not the uncommitted-state bug the
    # dangling-reference check below exists to catch.
    expired_ids = {
        int(x)
        for x in md.get("properties", {})
        .get("history.expired-snapshot-ids", "")
        .split(",")
        if x
    }

    ml_schema, ml_meta, manifests = read_ocf(snap["manifest-list"])
    errs += _check_ids(ml_schema, MANIFEST_FILE_REQUIRED_IDS, "manifest_file")

    files: list[dict] = []
    delete_files: list[dict] = []
    statuses: list[int] = []
    for mf in manifests:
        m_schema, m_meta, entries = read_ocf(mf["manifest_path"])
        errs += _check_ids(m_schema, MANIFEST_ENTRY_REQUIRED_IDS, "manifest_entry")
        df_schema = next(
            f["type"] for f in m_schema["fields"] if f["name"] == "data_file"
        )
        if isinstance(df_schema, list):  # optional union
            df_schema = next(s for s in df_schema if isinstance(s, dict))
        errs += _check_ids(df_schema, DATA_FILE_REQUIRED_IDS, "data_file")
        for e in entries:
            statuses.append(e["status"])
            if e["status"] != 2:  # 2 = DELETED (spec: not live)
                # content: 0 = data, 1 = position deletes (spec data_file)
                if e["data_file"].get("content", 0) == 1:
                    delete_files.append(e["data_file"])
                else:
                    files.append(e["data_file"])
                # spec: an entry's snapshot-id names the snapshot that
                # added (or last updated) the file — it must be a snapshot
                # this table actually committed. A dangling reference is
                # the signature of metadata written from uncommitted state.
                e_snap = e.get("snapshot_id")
                if (
                    e_snap is not None
                    and e_snap not in snaps
                    and e_snap not in expired_ids
                ):
                    errs.append(
                        f"manifest entry references unknown snapshot {e_snap}"
                    )
    live_rows = sum(f["record_count"] for f in files)
    return {
        "version": version,
        "snapshot_id": snap_id,
        "sequence_number": snap.get("sequence-number"),
        "summary": snap.get("summary", {}),
        "n_manifests": len(manifests),
        "entry_statuses": statuses,
        "data_files": files,
        "delete_files": delete_files,
        "position_delete_count": sum(f["record_count"] for f in delete_files),
        "live_record_count": live_rows,
        "schema_errors": errs,
        "snapshot_log": md.get("snapshot-log", []),
        "metadata_log": md.get("metadata-log", []),
    }


if __name__ == "__main__":
    import sys

    out = traverse(sys.argv[1])
    out["data_files"] = len(out["data_files"])
    print(json.dumps(out, indent=1, default=str))
