"""Iceberg v2 table maintenance: row-level deletes (position deletes,
merge-on-read), snapshot expiry with orphan GC, and small-file
compaction (a REPLACE snapshot).

These complete the lakehouse lifecycle around `iceberg_export.py`'s
writer/reader pair. The reference's datalake sink is append-only
(`datalake/coordinator/iceberg_file_committer.cc` commits data-file
appends), so deletes/expiry/compaction have no reference analog — they
are the table-maintenance half every Iceberg deployment runs out-of-band
(Spark's `rewrite_data_files` / `expire_snapshots` procedures), and a
training-data pipeline needs them for right-to-be-forgotten removal and
small-file hygiene at 100 TB.

Design notes (every op commits like the exporter: it reads the table's
head (N, vN) once through ``iceberg_export._current_version``, derives
everything from that snapshot, and publishes v{N+1}.metadata.json with
an exclusive create — the commit point. A writer that loses the publish
to a concurrent one re-runs from a fresh read and deletes the files its
lost attempt wrote; after ``_COMMIT_RETRIES`` re-runs it raises
``CommitConflictError``. No commit ever overwrites another's snapshot):

- **Position deletes** (`delete_where`): matching rows are located with
  Spark's parquet metadata columns (`_metadata.file_path` +
  `_metadata.row_index`) — one distributed scan, no row rewriting. The
  delete file is parquet with the spec's reserved schema
  (file_path: field-id 2147483546, pos: 2147483545), sorted by
  (file_path, pos), written via pyarrow so the field-ids are real.
  The commit appends a delete manifest (content=1) and a new snapshot
  whose sequence number exceeds every live data file's — the v2 rule
  "a position delete applies to data files with sequence_number <=
  delete's" therefore covers the whole current table, and files added
  LATER carry higher sequence numbers so the delete never touches them.
- **Merge-on-read** happens in `iceberg_export.read_iceberg`: delete
  files are read as a (file_path, pos) frame, restricted by the
  sequence-number rule via a manifest-sized broadcast lookup, and
  anti-joined against the data scan's (file_path, row_index). At scale
  the delete frame is a fraction of the data and broadcasts; the data
  side never shuffles.
- **Compaction** (`compact_data_files`): per-partition bin-packing of
  live data files below `small_bytes` into `target_bytes` bins; each
  bin is read WITH its outstanding position deletes applied and
  rewritten as one file, committed as a REPLACE snapshot (rewritten
  files leave the manifest, untouched files stay EXISTING with their
  original snapshot/sequence). Delete files whose every target path was
  rewritten are dropped; the rest stay and keep applying to the
  untouched files (new files have a higher sequence number, so stale
  entries are inert by both the sequence rule and the path anti-join).
- **Expiry** (`expire_snapshots`): trims the snapshot list in a new
  metadata version, THEN garbage-collects manifest lists / manifests /
  data+delete files referenced only by expired snapshots of the version
  the trim committed on. A crash between the commit and the GC leaves
  orphan files, never a broken table (GC is best-effort hygiene).

All driver-side metadata work is O(manifest entries) — bounded control
material, never data-sized.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid

from redpanda_spark.sources.iceberg_export import (
    _MANIFEST_FILE_SCHEMA,
    _commit_retrying,
    _current_metadata,  # re-exported: callers read table state from here
    _data_path_form,
    _fs_or_local,
    _manifest_entry_schema,
    _pq_file,
    _read_snapshot,
    avro_ocf_read,
    avro_ocf_write,
)


def _resolve_table(spark, table_path: str):
    """(normalized table path, fsio handle or None): plain local paths
    stay on the POSIX fast path (fs None -> raw-local helpers); URI
    roots get the Hadoop FileSystem of the live JVM, so every
    maintenance commit works on object stores like the exporter."""
    from redpanda_spark import fsio as _fsio

    if _fsio.has_scheme(table_path):
        ofs = _fsio.for_root(spark, table_path)
        return ofs.normalize(table_path), ofs
    return os.path.abspath(table_path), None


def _walk_parquet(fs, d: str) -> list[str]:
    """Parquet part files under ``d`` (any depth) — os.walk locally,
    recursive listStatus on URI roots. Used to collect Spark's
    partitionBy() output from a staging dir before renaming the parts
    into the table layout."""
    if fs is None or getattr(fs, "is_local", True):
        out = []
        for dirpath, _dirs, files in os.walk(d):
            for fn in files:
                if fn.endswith(".parquet"):
                    out.append(os.path.join(dirpath, fn))
        return out
    return [p for p in fs.list_files_recursive(d) if p.endswith(".parquet")]


def _pq_write_atomic(fs, path: str, tbl) -> None:
    """Spec-schema parquet write (delete files): tmp+rename locally,
    bytes-through-the-driver + atomic rename on URI roots (delete files
    are bounded: one row per deleted position/key)."""
    import pyarrow.parquet as papq

    if fs is None or getattr(fs, "is_local", True):
        tmp = f"{path}.tmp"
        papq.write_table(tbl, tmp)
        os.replace(tmp, path)
        return
    import io

    buf = io.BytesIO()
    papq.write_table(tbl, buf)
    fs.write_bytes_atomic(path, buf.getvalue())

# Iceberg spec: reserved field ids for position-delete file columns.
_DEL_FILE_PATH_FID = 2147483546
_DEL_POS_FID = 2147483545


# ---------------------------------------------------------------------------
# shared metadata plumbing
# ---------------------------------------------------------------------------


def _snapshot(meta: dict, snapshot_id: int | None = None) -> dict:
    sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    return next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)


def live_entries(meta: dict, snapshot_id: int | None = None, fs=None):
    """(data_entries, delete_entries) for a snapshot, with spec
    inheritance resolved: a null snapshot_id / sequence_number on an
    ADDED entry inherits from the manifest-list record. Entries are the
    raw manifest dicts plus resolved ``snapshot_id``/``sequence_number``;
    DELETED (status 2) entries are skipped."""
    snap = _snapshot(meta, snapshot_id)
    data, dels = [], []
    _, _, manifests = avro_ocf_read(snap["manifest-list"], fs=fs)
    for mf in manifests:
        _, _, entries = avro_ocf_read(mf["manifest_path"], fs=fs)
        for e in entries:
            if e["status"] == 2:
                continue
            if e.get("snapshot_id") is None:
                e["snapshot_id"] = mf["added_snapshot_id"]
            if e.get("sequence_number") is None:
                e["sequence_number"] = mf["sequence_number"]
            e["file_sequence_number"] = e.get("file_sequence_number") or e[
                "sequence_number"
            ]
            (dels if e["data_file"].get("content", 0) != 0 else data).append(e)
    return data, dels


def _part_fields_of(meta: dict) -> list[dict]:
    """Reconstruct the exporter's partition-field descriptors from the
    table's default spec (identity-on-_hour or unpartitioned)."""
    spec = next(
        s for s in meta["partition-specs"] if s["spec-id"] == meta["default-spec-id"]
    )
    return [
        {
            "name": f["name"],
            "source_id": f["source-id"],
            "field_id": f["field-id"],
            "transform": f["transform"],
            "avro_type": "long",
        }
        for f in spec["fields"]
    ]


def _partitions_summary(entries: list[dict], part_fields: list[dict]):
    if not part_fields:
        return None
    name = part_fields[0]["name"]
    vals = [e["data_file"]["partition"].get(name) for e in entries]
    nn = [v for v in vals if v is not None]
    return [
        {
            "contains_null": any(v is None for v in vals),
            "contains_nan": False,
            "lower_bound": struct.pack("<q", min(nn)) if nn else None,
            "upper_bound": struct.pack("<q", max(nn)) if nn else None,
        }
    ]


def _write_manifest(
    meta_dir: str,
    entries: list[dict],
    part_fields: list[dict],
    schema: dict,
    content: str,
    fs=None,
) -> str:
    path = os.path.join(meta_dir, f"{uuid.uuid4()}-m0.avro")
    for e in entries:  # older entries predate the equality_ids field
        e["data_file"].setdefault("equality_ids", None)
    avro_ocf_write(
        path,
        _manifest_entry_schema(part_fields),
        entries,
        fs=fs,
        meta={
            "schema": json.dumps(schema).encode(),
            "partition-spec": json.dumps(
                [
                    {
                        "name": p["name"],
                        "transform": p["transform"],
                        "source-id": p["source_id"],
                        "field-id": p["field_id"],
                    }
                    for p in part_fields
                ]
            ).encode(),
            "partition-spec-id": b"0",
            "format-version": b"2",
            "content": content.encode(),
        },
    )
    return path


def _manifest_file_record(
    path: str,
    entries: list[dict],
    content: int,
    seq: int,
    snap_id: int,
    part_fields: list[dict],
    fs=None,
) -> dict:
    added = [e for e in entries if e["status"] == 1]
    existing = [e for e in entries if e["status"] == 0]
    return {
        "manifest_path": path,
        "manifest_length": _fs_or_local(fs).getsize(path),
        "partition_spec_id": 0,
        "content": content,
        "sequence_number": seq,
        "min_sequence_number": min(
            (int(e["sequence_number"]) for e in entries), default=seq
        ),
        "added_snapshot_id": snap_id,
        "added_data_files_count": len(added),
        "existing_data_files_count": len(existing),
        "deleted_data_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"] for e in added),
        "existing_rows_count": sum(e["data_file"]["record_count"] for e in existing),
        "deleted_rows_count": 0,
        "partitions": _partitions_summary(entries, part_fields),
    }


def _existing(entries: list[dict]) -> list[dict]:
    """Live entries carried into a new full-state manifest: EXISTING,
    keeping their resolved snapshot id and sequence numbers."""
    return [{**e, "status": 0} for e in entries]


def _added(
    path: str,
    content: int,
    partition: dict,
    record_count: int,
    snap_id: int,
    seq: int,
    fs=None,
    equality_ids: list[int] | None = None,
) -> dict:
    """Manifest entry for a file this commit ADDS (content 0 data, 1
    position deletes, 2 equality deletes)."""
    return {
        "status": 1,
        "snapshot_id": snap_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": _data_path_form(path),
            "file_format": "PARQUET",
            "partition": partition,
            "record_count": int(record_count),
            "file_size_in_bytes": int(_fs_or_local(fs).getsize(path)),
            "equality_ids": equality_ids,
        },
    }


def _snapshot_metadata(
    table_path: str,
    meta: dict,
    data: list[dict],
    dels: list[dict],
    snap_id: int,
    seq: int,
    operation: str,
    summary: dict[str, str],
    fs=None,
) -> tuple[dict, list[str]]:
    """(new metadata, files written) for a snapshot over ``meta`` whose
    full state is ``data`` + ``dels``: one data manifest, one delete
    manifest when there are deletes, and the manifest list. The caller
    commits it through ``_commit_retrying``."""
    meta_dir = os.path.join(table_path, "metadata")
    part_fields = _part_fields_of(meta)
    schema = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    written, records = [], []
    for content, entries in ((0, data), (1, dels)):
        if entries:
            path = _write_manifest(
                meta_dir, entries, part_fields, schema,
                "deletes" if content else "data", fs=fs,
            )
            written.append(path)
            records.append(
                _manifest_file_record(
                    path, entries, content, seq, snap_id, part_fields, fs=fs
                )
            )
    mlist_path = os.path.join(meta_dir, f"snap-{snap_id}-{seq}-{uuid.uuid4()}.avro")
    avro_ocf_write(mlist_path, _MANIFEST_FILE_SCHEMA, records, fs=fs)
    written.append(mlist_path)
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": int(time.time() * 1000),
        "manifest-list": mlist_path,
        "summary": {"operation": operation, **summary},
        "schema-id": meta["current-schema-id"],
    }
    new_meta = {
        **meta,
        "last-sequence-number": seq,
        "current-snapshot-id": snap_id,
        "snapshots": meta["snapshots"] + [snapshot],
    }
    return new_meta, written


def _next_ids(meta: dict) -> tuple[int, int]:
    """(snapshot_id, sequence_number) for a maintenance commit. Lake
    exports use the lake's own small snapshot ids; maintenance ids live
    1e6 above the current max so the two ranges can never collide."""
    snap_id = max(s["snapshot-id"] for s in meta["snapshots"]) + 1_000_000
    return snap_id, meta["last-sequence-number"] + 1


# ---------------------------------------------------------------------------
# position deletes
# ---------------------------------------------------------------------------


def _strip_scheme(col):
    from redpanda_spark.sources.iceberg_export import fs_path_col

    return fs_path_col(col)


def _write_delete_file(table_path: str, hits, fs=None) -> str:
    """Write one spec-schema position-delete parquet (reserved field-ids,
    sorted by file_path then pos) under data/ and return its path.
    ``hits`` are rows/tuples of (file_path, pos), already sorted."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    dfile = os.path.join(table_path, "data", f"delete-{uuid.uuid4()}.parquet")
    schema = pa.schema(
        [
            pa.field(
                "file_path",
                pa.string(),
                nullable=False,
                metadata={b"PARQUET:field_id": str(_DEL_FILE_PATH_FID).encode()},
            ),
            pa.field(
                "pos",
                pa.int64(),
                nullable=False,
                metadata={b"PARQUET:field_id": str(_DEL_POS_FID).encode()},
            ),
        ]
    )
    tbl = pa.table(
        {
            "file_path": [r["file_path"] for r in hits],
            "pos": [r["pos"] for r in hits],
        },
        schema=schema,
    )
    _pq_write_atomic(fs, dfile, tbl)
    return dfile


def delete_where(spark, table_path: str, predicate: str) -> dict:
    """Delete rows matching ``predicate`` (a SQL expression over the
    table's columns) via v2 position-delete files — no data file is
    rewritten. Returns {deleted_rows, snapshot_id}; a predicate matching
    nothing is a no-op that commits nothing.

    The matched (file_path, pos) set is materialized on the driver to
    write one spec-schema sorted parquet — right for the
    right-to-be-forgotten deletes this exists for (a tiny fraction of
    the table). Bulk deletes at 100 TB would instead sort+write the
    frame distributed (one delete file per partition) and enter each in
    the manifest; the commit path below is unchanged by that swap."""
    from pyspark.sql import functions as F

    table_path, ofs = _resolve_table(spark, table_path)

    def attempt(_version, meta):
        # rows are located in the snapshot this commit builds on, through
        # the normal merge-on-read path so already-deleted rows can't be
        # deleted twice (their positions would duplicate)
        hits = (
            _read_snapshot(spark, table_path, meta, None, True, ofs)
            .where(F.expr(predicate))
            # _file_path is already normalized (scheme-stripped + URL-
            # decoded) by the with_metadata read
            .select(
                F.col("_file_path").alias("file_path"),
                F.col("_row_index").alias("pos"),
            )
            .orderBy("file_path", "pos")
            .collect()
        )
        if not hits:
            return None, [], {"deleted_rows": 0, "snapshot_id": None}
        data_entries, del_entries = live_entries(meta, fs=ofs)
        snap_id, seq = _next_ids(meta)
        dfile = _write_delete_file(table_path, hits, fs=ofs)
        parts = {p["name"]: None for p in _part_fields_of(meta)}
        new_meta, written = _snapshot_metadata(
            table_path,
            meta,
            _existing(data_entries),
            _existing(del_entries)
            + [_added(dfile, 1, parts, len(hits), snap_id, seq, fs=ofs)],
            snap_id,
            seq,
            "delete",
            {
                "added-position-delete-files": "1",
                "added-position-deletes": str(len(hits)),
                "total-records": str(
                    sum(e["data_file"]["record_count"] for e in data_entries)
                ),
                "total-position-deletes": str(
                    sum(e["data_file"]["record_count"] for e in del_entries)
                    + len(hits)
                ),
                "total-data-files": str(len(data_entries)),
            },
            fs=ofs,
        )
        result = {"deleted_rows": len(hits), "snapshot_id": snap_id}
        return new_meta, [dfile, *written], result

    return _commit_retrying(os.path.join(table_path, "metadata"), ofs, attempt)[1]


_EQ_PA_TYPES = {
    "int": "int32",
    "long": "int64",
    "string": "string",
    "double": "float64",
    "boolean": "bool_",
}


def equality_delete(
    spark, table_path: str, key_cols: list[str], keys: list[dict]
) -> dict:
    """Delete BY KEY via a v2 equality-delete file (spec content=2 +
    equality_ids): every current row matching one of ``keys`` on
    ``key_cols`` disappears from subsequent reads — without locating row
    addresses at all (the CDC shape: the writer knows keys, not
    positions). Rows appended AFTER this commit are untouched (the
    strict sequence-number rule read_iceberg applies).

    The reference's datalake writes position deletes only; this writer
    exists for interop completeness — read_iceberg consumes any external
    v2 table, so the repo must also be able to produce the construct it
    claims to read. Keys are a driver-side list (CDC-key batches are
    small); the delete file is one spec-schema parquet with the key
    columns' field-ids."""
    import pyarrow as pa

    if not keys:
        return {"deleted_keys": 0, "snapshot_id": None}
    table_path, ofs = _resolve_table(spark, table_path)

    def attempt(_version, meta):
        table_schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        by_name = {f["name"]: f for f in table_schema["fields"]}
        ids, pa_fields = [], []
        for c in key_cols:
            f = by_name.get(c)
            if f is None:
                raise ValueError(f"unknown key column {c!r}")
            t = f["type"]
            if t not in _EQ_PA_TYPES:
                raise ValueError(f"unsupported equality-delete key type {t!r}")
            ids.append(int(f["id"]))
            pa_fields.append(
                pa.field(
                    c,
                    getattr(pa, _EQ_PA_TYPES[t])(),
                    nullable=True,
                    metadata={b"PARQUET:field_id": str(f["id"]).encode()},
                )
            )
        dfile = os.path.join(table_path, "data", f"eq-delete-{uuid.uuid4()}.parquet")
        tbl = pa.table(
            {c: [k.get(c) for k in keys] for c in key_cols},
            schema=pa.schema(pa_fields),
        )
        _pq_write_atomic(ofs, dfile, tbl)

        data_entries, del_entries = live_entries(meta, fs=ofs)
        snap_id, seq = _next_ids(meta)
        parts = {p["name"]: None for p in _part_fields_of(meta)}
        new_entry = _added(
            dfile, 2, parts, len(keys), snap_id, seq, fs=ofs, equality_ids=ids
        )
        new_meta, written = _snapshot_metadata(
            table_path,
            meta,
            _existing(data_entries),
            _existing(del_entries) + [new_entry],
            snap_id,
            seq,
            "delete",
            {
                "added-equality-delete-files": "1",
                "added-equality-deletes": str(len(keys)),
                "total-records": str(
                    sum(e["data_file"]["record_count"] for e in data_entries)
                ),
                "total-data-files": str(len(data_entries)),
            },
            fs=ofs,
        )
        result = {"deleted_keys": len(keys), "snapshot_id": snap_id}
        return new_meta, [dfile, *written], result

    return _commit_retrying(os.path.join(table_path, "metadata"), ofs, attempt)[1]


def merge_upsert(spark, table_path: str, updates, key_cols: list[str]) -> dict:
    """MERGE INTO analog, merge-on-read flavor: rows of ``updates`` whose
    key already exists REPLACE the stored row (a position delete covers
    the old copy); the rest are plain inserts. One snapshot commits both
    sides — a reader sees the table before the merge or after it, never
    half. No existing data file is rewritten.

    ``updates`` must be key-unique and carry the table's full column set
    (including the partition column when the table is partitioned — the
    new files land in their hive partition directories so the layout
    keeps materializing the column).

    Scale shape: the match scan is one distributed read of the live
    table joined (broadcast when small) against the DISTINCT update
    keys; the update payload itself is written partitionBy() — Spark's
    parallel write path — and only (file_path, pos) pairs of matched
    rows ever reach the driver. This is the foreachBatch body for a CDC
    stream into the lakehouse: Structured Streaming micro-batches call
    this per batch, giving exactly-once upsert semantics through the
    snapshot commit point (the exclusive metadata publish)."""
    from pyspark.sql import functions as F

    from redpanda_spark.sources.iceberg_export import _hour_to_micros

    table_path, ofs = _resolve_table(spark, table_path)
    mfs = _fs_or_local(ofs)
    keys = updates.select(*key_cols).distinct()

    def attempt(_version, meta):
        data_entries, del_entries = live_entries(meta, fs=ofs)
        part_fields = _part_fields_of(meta)
        snap_id, seq = _next_ids(meta)
        # 1) locate stored rows whose key is being replaced, in the
        # snapshot this commit builds on
        hits = (
            _read_snapshot(spark, table_path, meta, None, True, ofs)
            .join(F.broadcast(keys), key_cols, "inner")
            .select(
                F.col("_file_path").alias("file_path"),
                F.col("_row_index").alias("pos"),
            )
            .orderBy("file_path", "pos")
            .collect()
        )

        # 2) write the update rows as new data files in the table layout
        part_names = [p["name"] for p in part_fields]
        tmpd = os.path.join(table_path, f"_upsert_tmp_{uuid.uuid4()}")
        w = updates.write.mode("overwrite")
        if part_names:
            w = w.partitionBy(*part_names)
        w.parquet(tmpd)
        new_entries: list[dict] = []
        written: list[str] = []
        for src_file in sorted(_walk_parquet(ofs, tmpd)):
            rel_dir = os.path.relpath(os.path.dirname(src_file), tmpd)
            dst_dir = (
                os.path.join(table_path, "data")
                if rel_dir == "."
                else os.path.join(table_path, "data", rel_dir)
            )
            mfs.mkdirs(dst_dir)
            dst = os.path.join(dst_dir, f"upsert-{uuid.uuid4()}.parquet")
            mfs.rename(src_file, dst)
            written.append(dst)
            part_val = {}
            if part_names and f"{part_names[0]}=" in rel_dir:
                part_val = {
                    part_names[0]: _hour_to_micros(
                        rel_dir.split(f"{part_names[0]}=", 1)[1].split(os.sep, 1)[0]
                    )
                }
            elif part_names:
                part_val = {part_names[0]: None}
            rows = _pq_file(mfs, dst).metadata.num_rows
            new_entries.append(_added(dst, 0, part_val, rows, snap_id, seq, fs=ofs))
        mfs.delete(tmpd, recursive=True)
        if not new_entries and not hits:
            return None, [], {"matched_rows": 0, "inserted_rows": 0, "snapshot_id": None}

        # 3) one snapshot: data manifest + delete manifest (if any match)
        data_all = _existing(data_entries) + new_entries
        del_all = _existing(del_entries)
        if hits:
            dfile = _write_delete_file(table_path, hits, fs=ofs)
            written.append(dfile)
            parts = {p["name"]: None for p in part_fields}
            del_all.append(_added(dfile, 1, parts, len(hits), snap_id, seq, fs=ofs))
        added_rows = sum(e["data_file"]["record_count"] for e in new_entries)
        new_meta, meta_files = _snapshot_metadata(
            table_path,
            meta,
            data_all,
            del_all,
            snap_id,
            seq,
            "overwrite",
            {
                "added-data-files": str(len(new_entries)),
                "added-records": str(added_rows),
                "added-position-deletes": str(len(hits)),
                "total-data-files": str(len(data_all)),
                "total-records": str(
                    sum(e["data_file"]["record_count"] for e in data_all)
                ),
            },
            fs=ofs,
        )
        result = {
            "matched_rows": len(hits),
            "inserted_rows": added_rows - len(hits),
            "snapshot_id": snap_id,
        }
        return new_meta, written + meta_files, result

    return _commit_retrying(os.path.join(table_path, "metadata"), ofs, attempt)[1]


# ---------------------------------------------------------------------------
# compaction (REPLACE snapshot)
# ---------------------------------------------------------------------------


def compact_data_files(
    spark,
    table_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    small_bytes: int | None = None,
    min_input_files: int = 2,
) -> dict:
    """Bin-pack live data files smaller than ``small_bytes`` (default
    target/2) into ~``target_bytes`` outputs, per partition. Outstanding
    position deletes for the rewritten files are APPLIED during the
    rewrite (the rewritten data is clean); delete files whose every
    target was rewritten are dropped from the new snapshot. Commits one
    REPLACE snapshot; a table with nothing to compact is a no-op."""
    from pyspark.sql import functions as F

    table_path, ofs = _resolve_table(spark, table_path)
    mfs = _fs_or_local(ofs)
    small = small_bytes if small_bytes is not None else target_bytes // 2

    def attempt(_version, meta):
        data_entries, del_entries = live_entries(meta, fs=ofs)
        # bin-pack per partition value (files can't merge across partitions)
        by_part: dict[tuple, list[dict]] = {}
        for e in data_entries:
            if e["data_file"]["file_size_in_bytes"] >= small:
                continue
            key = tuple(sorted(e["data_file"]["partition"].items()))
            by_part.setdefault(key, []).append(e)
        bins: list[list[dict]] = []
        for _key, group in sorted(by_part.items()):
            group.sort(key=lambda e: e["data_file"]["file_path"])
            cur: list[dict] = []
            size = 0
            for e in group:
                cur.append(e)
                size += e["data_file"]["file_size_in_bytes"]
                if size >= target_bytes:
                    bins.append(cur)
                    cur, size = [], 0
            if len(cur) >= min_input_files:
                bins.append(cur)
        bins = [b for b in bins if len(b) >= min_input_files]
        if not bins:
            return None, [], {"rewritten_files": 0, "new_files": 0, "snapshot_id": None}

        snap_id, seq = _next_ids(meta)
        rewritten = {e["data_file"]["file_path"] for b in bins for e in b}

        if any(e["data_file"].get("content", 0) == 2 for e in del_entries):
            # applying outstanding EQUALITY deletes during a rewrite needs
            # the matched-row semantics of the read path; refuse loudly
            # rather than misread them as positional (read_iceberg handles
            # them)
            raise ValueError(
                "compact_data_files: table has equality delete files; "
                "rewrite via read_iceberg + a fresh export instead"
            )
        # (file_path, pos) frame of ALL live position deletes, once
        del_paths = [e["data_file"]["file_path"] for e in del_entries]
        del_df = (
            spark.read.parquet(*del_paths).select("file_path", "pos")
            if del_paths
            else None
        )

        new_entries: list[dict] = []
        outputs: list[str] = []
        for b in bins:
            paths = [e["data_file"]["file_path"] for e in b]
            df = spark.read.parquet(*paths).withColumn(
                "_fp", _strip_scheme(F.col("_metadata.file_path"))
            ).withColumn("_pos", F.col("_metadata.row_index"))
            if del_df is not None:
                df = df.join(
                    F.broadcast(del_df),
                    (df["_fp"] == del_df["file_path"]) & (df["_pos"] == del_df["pos"]),
                    "left_anti",
                )
            df = df.drop("_fp", "_pos")
            # one output file per bin, placed beside its inputs so the
            # hive-partition directory (identity _hour) keeps working
            out = os.path.join(
                os.path.dirname(paths[0]), f"compact-{uuid.uuid4()}.parquet"
            )
            tmpd = os.path.join(table_path, f"_compact_tmp_{uuid.uuid4()}")
            df.coalesce(1).write.mode("overwrite").parquet(tmpd)
            mfs.rename(next(iter(_walk_parquet(ofs, tmpd))), out)
            outputs.append(out)
            mfs.delete(tmpd, recursive=True)
            rows = _pq_file(mfs, out).metadata.num_rows
            new_entries.append(
                _added(
                    out, 0, dict(b[0]["data_file"]["partition"]), rows,
                    snap_id, seq, fs=ofs,
                )
            )

        # delete files fully absorbed by the rewrite drop out of the snapshot
        kept_dels = []
        for e in del_entries:
            targets = set(
                _pq_file(mfs, e["data_file"]["file_path"])
                .read(columns=["file_path"])
                .column("file_path")
                .to_pylist()
            )
            if not targets <= rewritten:
                kept_dels.append(e)

        entries = _existing(
            [e for e in data_entries if e["data_file"]["file_path"] not in rewritten]
        ) + new_entries
        new_meta, written = _snapshot_metadata(
            table_path,
            meta,
            entries,
            _existing(kept_dels),
            snap_id,
            seq,
            "replace",
            {
                "deleted-data-files": str(len(rewritten)),
                "added-data-files": str(len(new_entries)),
                "total-data-files": str(len(entries)),
                "total-records": str(
                    sum(e["data_file"]["record_count"] for e in entries)
                ),
            },
            fs=ofs,
        )
        result = {
            "rewritten_files": len(rewritten),
            "new_files": len(new_entries),
            "snapshot_id": snap_id,
        }
        return new_meta, outputs + written, result

    return _commit_retrying(os.path.join(table_path, "metadata"), ofs, attempt)[1]


# ---------------------------------------------------------------------------
# snapshot expiry + orphan GC
# ---------------------------------------------------------------------------


def _referenced_files(
    meta: dict, snapshot_ids: set[int], fs=None
) -> set[str]:
    """Every path (manifest list, manifest, data/delete file) a set of
    snapshots can reach."""
    refs: set[str] = set()
    for s in meta["snapshots"]:
        if s["snapshot-id"] not in snapshot_ids:
            continue
        refs.add(s["manifest-list"])
        _, _, manifests = avro_ocf_read(s["manifest-list"], fs=fs)
        for mf in manifests:
            refs.add(mf["manifest_path"])
            _, _, entries = avro_ocf_read(mf["manifest_path"], fs=fs)
            for e in entries:
                if e["status"] != 2:
                    refs.add(e["data_file"]["file_path"])
    return refs


def expire_snapshots(
    table_path: str,
    keep_last: int | None = None,
    older_than_ms: int | None = None,
    spark=None,
) -> dict:
    """Expire snapshots (always keeping the current one), then GC every
    file only they referenced. The metadata trim commits first (the
    exclusive publish of the next metadata version; a lost publish
    re-plans from a fresh read); GC runs after, from the version the trim
    committed on, so a crash leaves orphans — never a broken table — and
    the next expiry's reachability sweep collects them. URI table roots
    need ``spark`` (the Hadoop FileSystem lives in the JVM); plain local
    paths don't."""
    from redpanda_spark.fsio import has_scheme as _has_scheme_e

    if _has_scheme_e(table_path):
        if spark is None:
            raise ValueError(
                "expire_snapshots on a URI table root needs spark="
            )
        table_path, ofs = _resolve_table(spark, table_path)
    else:
        table_path, ofs = os.path.abspath(table_path), None
    if keep_last is None and older_than_ms is None:
        raise ValueError("pass keep_last and/or older_than_ms")
    mfs = _fs_or_local(ofs)

    def attempt(_version, meta):
        snaps = sorted(meta["snapshots"], key=lambda s: s["timestamp-ms"])
        keep_ids = {meta["current-snapshot-id"]}
        if keep_last is not None:
            keep_ids |= {s["snapshot-id"] for s in snaps[-keep_last:]}
        if older_than_ms is not None:
            keep_ids |= {
                s["snapshot-id"] for s in snaps if s["timestamp-ms"] >= older_than_ms
            }
        expired = {s["snapshot-id"] for s in snaps} - keep_ids
        if not expired:
            return None, [], None
        # writer-defined property: EXISTING manifest entries keep the
        # snapshot id that first added their file, which may now be
        # expired. Recording the expired ids lets the independent
        # conformance reader tell "references a legitimately expired
        # snapshot" apart from "references a snapshot the table never
        # committed" (the exporter crash-bug signature it exists to catch).
        props = meta.get("properties", {})
        prev = props.get("history.expired-snapshot-ids", "")
        all_expired = sorted({int(x) for x in prev.split(",") if x} | expired)
        new_meta = {
            **meta,
            "properties": {
                **props,
                "history.expired-snapshot-ids": ",".join(map(str, all_expired)),
            },
            "snapshots": [s for s in snaps if s["snapshot-id"] in keep_ids],
            "snapshot-log": [
                e
                for e in meta.get("snapshot-log", [])
                if e["snapshot-id"] in keep_ids
            ],
        }
        return new_meta, [], (meta, keep_ids, expired)

    trimmed = _commit_retrying(os.path.join(table_path, "metadata"), ofs, attempt)[1]
    if trimmed is None:
        return {"expired": 0, "files_deleted": 0}
    meta, keep_ids, expired = trimmed
    # GC: reachable-from-kept minus reachable-from-expired
    dead = _referenced_files(meta, expired, fs=ofs) - _referenced_files(
        meta, keep_ids, fs=ofs
    )
    n = 0
    for p in sorted(dead):
        if ofs is None:
            try:
                os.remove(p)
                n += 1
            except FileNotFoundError:
                pass
        else:
            if mfs.exists(p):
                mfs.delete(p)
                n += 1
    return {"expired": len(expired), "files_deleted": n}
