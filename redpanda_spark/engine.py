"""TopicEngine — the Kafka-surface lifecycle over parquet-backed topic tables.

Maps the reference's RPC surface (SURVEY.md §2.1) onto table operations:

  create_topic / delete_topic        CreateTopics/DeleteTopics (create_topics.cc)
  produce                            Produce (handlers/produce.cc:311-500):
                                     murmur2 key routing, timestamp-type
                                     enforcement, offset assignment, atomic
                                     per-partition append. Idempotent dedup
                                     is an opt-in read-side operator
                                     (operators/transactions.idempotent_dedup
                                     or the streaming twin), not a produce-
                                     time filter — the log keeps duplicate
                                     sequences; readers drop them.
  fetch / fetch_rows                 Fetch (handlers/fetch.cc:300): offset-range
                                     scan with isolation level; the row
                                     fetch reads the hot tail or the
                                     pruned segments in-process
  list_offsets / timequery           ListOffsets (list_offsets.cc:66-157)
  delete_records                     DeleteRecords (delete_records.cc:115-172)
  run_retention / run_compaction     storage GC + keep-latest compaction
  offset_commit / offset_fetch       group offsets (group_metadata.h): keyed
                                     records in the internal compacted
                                     ``__consumer_offsets`` topic

Storage layout: ``root/<topic>/*.parquet`` — flat segment files with
``partition`` stored as a DATA column, sorted by (partition, offset)
within each file. The manifest records per-file min/max stats for the
partition and offset columns (Iceberg-style file metadata), so
partition/offset pruning happens at the MANIFEST — the engine hands Spark
only the overlapping files, no directory LIST and no footer reads on the
read path. The layout is flat rather than one directory per partition:
per-partition dirs force one file per touched partition per micro-batch
(a 5k-row produce to a 100-partition topic = 100 files, ~16 ms of writer
setup each), while the flat layout writes one file per shuffle task — AQE
coalesces a small batch to a single ~file and scales file count with
batch bytes, which is exactly the segment-size behavior the reference
gets from its log appender.

Commit protocol (single-writer per topic, like a partition leader): every
mutation — produce append, compaction/retention rewrite, segment merge —
commits by atomically replacing the topic's manifest
(``root/_manifest_<topic>.json``), which records the per-partition high
watermarks AND the list of live segment files in one ``os.replace``. The
single-writer invariant is ENFORCED, not assumed: opening a root claims a
durable per-topic writer epoch, and every commit re-checks it (under a
root flock on local disk; optimistically on Hadoop roots), so a stale
writer gets FencedWriterError instead of last-writer-winning — the
leadership fencing raft gives the reference (`src/v/raft/consensus.cc`,
`cluster/rm_stm.h:67-73`). Data
files are written first under unique names; until the manifest swap they
are invisible orphans, and a crash between data write and manifest commit
is healed on the next engine open by deleting unreferenced files. This is
the analog of the reference's atomic offset-assignment-with-append
(`storage/disk_log_appender.cc` — offsets advance iff the raft append
succeeds) re-expressed as an Iceberg-style snapshot commit, which is how
a table format gets the same guarantee on object storage. Reads resolve
the manifest's file list (no directory listing on the read path — the
same trick Iceberg uses to avoid O(objects) LIST calls at scale).

At cluster scale the same layout works on object storage (s3a://…) —
Spark reads/writes it identically, and every metadata operation
(manifest commit, segment listing, snapshot swap, orphan GC) routes
through the Hadoop FileSystem API for URI roots (redpanda_spark.fsio),
so the atomic-commit crash story holds there too; that's the reference's
tiered storage (`cloud_storage/`) dissolved into a FileSystem impl.
"""

from __future__ import annotations

import datetime as _dt
import itertools
import json
import operator
import os
import time
from contextlib import nullcontext as _nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from redpanda_spark import fsio
from redpanda_spark.functions.hashes import murmur2_partition_udf, murmur2_partitions
from redpanda_spark.operators import log as LOG
from redpanda_spark.operators import groups as G
from redpanda_spark.operators.compaction import compact_with_tombstone_grace
from redpanda_spark.operators.transactions import read_committed as _read_committed


@dataclass
class TopicConfig:
    partitions: int = 1
    cleanup_policy: str = "delete"  # delete | compact
    retention_ms: int | None = None
    retention_bytes: int | None = None
    timestamp_type: str = "CreateTime"  # CreateTime | LogAppendTime
    delete_retention_ms: int = 86400000  # tombstone grace
    # Kafka compression.type → parquet codec 1:1 (model/record.h:345-361
    # batch attrs; producer codecs gzip/snappy/lz4/zstd are all parquet
    # codecs too; "producer"/none → engine default snappy)
    compression: str = "snappy"
    # Broker-side schema-id validation (produce.cc:360-362,
    # schema_id_validation.h): when set, produced values must carry the
    # registry wire format (magic 0 + big-endian schema id) with an id
    # registered under this subject. Requires a registry on the engine.
    value_schema_subject: str | None = None
    # max.message.bytes (kafka::server rejects oversized records with
    # MESSAGE_TOO_LARGE at produce time). None = unlimited and adds ZERO
    # cost to the produce hot path; when set, enforcement is one
    # column-pruned max() over the batch before the write job.
    max_message_bytes: int | None = None
    # min.cleanable.dirty.ratio: run_cleanup skips keep-latest compaction
    # until this fraction of the log was appended since the last pass
    # (storage/compaction policy analog) — avoids rewriting an
    # already-clean log every maintenance tick.
    min_cleanable_dirty_ratio: float = 0.5
    # Tiered storage (redpanda.remote.write + retention.local.target.ms,
    # `cluster/archival/ntp_archiver_service.cc`): with remote_write on,
    # run_archival moves segments whose NEWEST row is older than
    # local_retention_ms to the archive tier (any FileSystem root — the
    # object store). Reads (fetch/timequery/list_offsets) span both tiers
    # transparently; retention_ms/bytes remain the TOTAL log's retention
    # (the reference's cloud retention).
    remote_write: bool = False
    local_retention_ms: int | None = None
    configs: dict[str, str] = field(default_factory=dict)


class ProduceError(Exception):
    def __init__(self, code: str, detail: str = ""):
        super().__init__(f"{code}: {detail}" if detail else code)
        self.code = code


class OffsetOutOfRangeError(ValueError):
    """OFFSET_OUT_OF_RANGE: a DeleteRecords offset past the high watermark
    (KIP-107)."""

    code = "OFFSET_OUT_OF_RANGE"

    def __init__(self, detail: str):
        super().__init__(f"{self.code}: {detail}")


class FencedWriterError(Exception):
    """Raised when this engine's writer epoch for a topic is stale: another
    engine opened the same root (claiming a higher epoch) after we did, so
    our commits must be refused to prevent last-writer-wins manifest loss.
    The reference enforces the same single-appender invariant by raft
    leadership (`src/v/raft/consensus.cc`) and fences stale producers by
    epoch (`cluster/rm_stm.h:67-73`); this is the storage-level analog."""

    def __init__(self, topic: str, mine: int, current: int):
        super().__init__(
            f"writer fenced for topic {topic!r}: this engine holds epoch "
            f"{mine} but the root's current writer epoch is {current} — "
            "another engine claimed the topic; reopen to resume"
        )
        self.topic = topic
        self.mine = mine
        self.current = current


# Group state (committed offsets, group metadata) and transaction ranges:
# keyed records of this internal compacted topic, as in the reference
# (`group_metadata.h:71`; tx ranges are partition state, `rm_stm.h:130`).
# Opened (and claimed) by every engine; it is never in the catalog, its
# first manifest is written by the first commit, and list_topics hides it.
OFFSETS_TOPIC = "__consumer_offsets"

# The record columns a produce batch may carry, as the in-process produce
# core takes them: the segment schema, with timestamps as integer µs.
_RECORD_ARROW = pa.schema(
    [
        ("partition", pa.int32()),
        ("timestamp", pa.int64()),
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
        ("producer_id", pa.int64()),
        ("producer_epoch", pa.int16()),
        ("base_sequence", pa.int32()),
        ("is_transactional", pa.bool_()),
        ("is_control", pa.bool_()),
    ]
)

# A stored segment's columns as the in-process rewrites hold them: the
# record columns (integer-µs timestamps) and the offset.
_SEGMENT_ARROW = _RECORD_ARROW.append(pa.field("offset", pa.int64()))

# A stored segment's file schema, as both produce paths write it: the
# segment columns with UTC µs timestamps. Every engine read of segment
# files is given its Spark form, so building a read runs no
# footer-inference job, and the empty log has the same columns.
_SEGMENT_FILE_ARROW = _SEGMENT_ARROW.set(
    1, pa.field("timestamp", pa.timestamp("us", tz="UTC"))
)
_SEGMENT_SCHEMA = from_arrow_schema(_SEGMENT_FILE_ARROW)

# Segment column order, written by both produce paths; a segment scan's
# collect() returns its fields in this order, and so does fetch_rows.
_RecordRow = Row(*_SEGMENT_ARROW.names)
_HeaderRow = Row("key", "value")

# Largest produce batch, in bytes of its Arrow record table, that is
# appended in-process; a bigger one takes the distributed
# route/write/read-back pipeline. Set at the measured crossover: on a
# 4-core VM (local[4], cached keyed batches, a 4-partition topic) the
# in-process append took less session CPU at every size from 8 to
# 128 MiB, 1 KiB and 100 B records alike, and less wall time up to 64 MiB;
# at 128 MiB of 1 KiB records the walls met (in-process 1.4-2.1 s,
# distributed 1.7-2.2 s) while 100 B records still ran 2x faster
# in-process. Past it the driver holds the whole batch for little.
_LOCAL_PRODUCE_MAX_BYTES = 128 << 20

# Plan operators whose output is a subset of their input's rows: over
# cached frames they make a batch no bigger than those frames.
_ROW_SUBSET_NODES = frozenset({
    "Filter", "Union", "GlobalLimit", "LocalLimit", "Sample", "Sort",
    "Repartition", "RepartitionByExpression",
})


def _cached_plan_bytes(plan) -> int | None:
    """An upper bound on the bytes of an optimized plan that reads only
    materialized cached frames through ``_ROW_SUBSET_NODES`` and column
    selections: the sum of those frames' cached sizes, which Spark counts
    exactly as it fills the cache. None for any other plan."""
    total, stack = 0, [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "InMemoryRelation":
            # unloaded, its size is still the estimate of the plan it caches
            if not node.cacheBuilder().isCachedColumnBuffersLoaded():
                return None
            total += node.stats().sizeInBytes()
            continue
        if name == "Project":
            cols = node.projectList()
            for i in range(cols.size()):
                e = cols.apply(i)
                if e.nodeName() == "Alias":
                    e = e.child()
                if e.nodeName() != "AttributeReference":
                    return None
        elif name not in _ROW_SUBSET_NODES:
            return None
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


def _route(n_parts: int, n: int, key=None, partition=None) -> np.ndarray:
    """The partitions of ``n`` records (``key``/``partition``: Arrow arrays
    or None): an explicit partition wins, else murmur2(key), else
    round-robin on the record's index — a null partition is routed."""
    part = np.arange(n, dtype=np.int64) % n_parts
    if key is not None:
        hashed = murmur2_partitions(key, n_parts)
        part = np.where(hashed >= 0, hashed, part)
    if partition is not None:
        part = np.where(
            np.asarray(partition.is_null()),
            part,
            np.asarray(partition.fill_null(0), dtype=np.int64),
        )
    return part


def _record_row(r: dict) -> Row:
    """A stored record (integer-µs timestamp, header dicts) as the Row a
    ``collect()`` of the segment scan returns: the timestamp naive in the
    OS-local zone, as TimestampType.fromInternal builds it (not in the
    session timezone), and headers as Rows."""
    us, hdrs = r["timestamp"], r["headers"]
    return _RecordRow(
        r["partition"],
        _dt.datetime.fromtimestamp(us // 1_000_000).replace(
            microsecond=us % 1_000_000
        ),
        r["key"],
        r["value"],
        None if hdrs is None else [_HeaderRow(h["key"], h["value"]) for h in hdrs],
        r["producer_id"],
        r["producer_epoch"],
        r["base_sequence"],
        r["is_transactional"],
        r["is_control"],
        r["offset"],
    )


# Produce-batch columns other than partition, timestamp and offset, with
# the value a record lacking one stores (a null scalar: null), typed once
# so a defaulted column is one pa.repeat.
_RECORD_DEFAULTS = {
    c: pa.scalar(d, _RECORD_ARROW.field(c).type)
    for c, d in {
        "key": None, "value": None, "headers": None, "producer_id": -1,
        "producer_epoch": -1, "base_sequence": -1, "is_transactional": False,
        "is_control": False,
    }.items()
}

# Kafka compression.type -> pyarrow parquet codec ("producer": the default)
_PARQUET_CODECS = {
    "snappy": "snappy", "zstd": "zstd", "gzip": "gzip", "lz4": "lz4",
    "none": "none", "uncompressed": "none", "producer": "snappy",
}

_MISSING = object()


class _SegmentsText:
    """The ``json.dumps`` text of a manifest's segment list and of its
    stats map (``{p: stats[p] for p in files if p in stats}``), built from
    per-segment fragments. A segment's fragments are encoded when it
    joins the list or its stats entry is replaced by another object (the
    engine replaces entries, never mutates them); the rest are found and
    joined by C-level iteration, with no per-segment Python work."""

    def __init__(self):
        self.src: dict = {}  # rel -> the stats entry encoded (None: none)
        self.name: dict[str, str] = {}  # rel -> json.dumps(rel)
        self.entry: dict[str, str] = {}  # rel -> '"rel": [stats]'

    def encode(self, files: list[str], stats: dict) -> tuple[str, str]:
        src = self.src
        stale = itertools.compress(files, map(
            operator.is_not,
            map(stats.get, files),
            map(src.get, files, itertools.repeat(_MISSING)),
        ))
        for p in list(stale):
            s = src[p] = stats.get(p)
            q = self.name[p] = json.dumps(p)
            if s is None:
                self.entry.pop(p, None)
            else:
                self.entry[p] = f"{q}: {json.dumps(s)}"
        if len(src) > len(files):  # segments left the list
            live = set(files)
            for d in (src, self.name, self.entry):
                for p in [p for p in d if p not in live]:
                    del d[p]
        return (
            "[" + ", ".join(map(self.name.__getitem__, files)) + "]",
            "{" + ", ".join(filter(None, map(self.entry.get, files))) + "}",
        )


def _record_dicts(columns, idx, n: int) -> list[dict]:
    """Rows ``idx`` of an ``n``-row batch held as ``_RecordRow``-ordered
    columns (numpy arrays, Arrow arrays, or one pa.Scalar for every row) as
    the record dicts the hot tail keeps. Column-wise, so a 10-record batch
    pays a few list conversions rather than a whole-table ``to_pylist``."""
    lists = []
    for c in columns:
        if isinstance(c, np.ndarray):
            lists.append(c[idx].tolist())
        elif isinstance(c, (pa.Array, pa.ChunkedArray)):
            lists.append((c if len(idx) == n else c.take(pa.array(idx))).to_pylist())
        else:
            lists.append([c.as_py()] * len(idx))
    return [dict(zip(_RecordRow, v)) for v in zip(*lists)]


def _record_bytes(r) -> int:
    """Wire-size estimate of one record: the 16-byte overhead + key +
    value accounting that byte budgets, fetch counters and the hot-tail
    reservation share."""
    return (
        16
        + (len(r["key"]) if r["key"] else 0)
        + (len(r["value"]) if r["value"] else 0)
    )


def _next_arch_epoch(paths) -> int:
    """First archive epoch past every ``e<epoch>_<i>.parquet`` name in
    ``paths``, so new archive uploads never overwrite them."""
    max_epoch = -1
    for p in paths:
        name = os.path.basename(p)
        if name.startswith("e") and "_" in name:
            try:
                max_epoch = max(max_epoch, int(name[1:].split("_", 1)[0]))
            except ValueError:
                pass
    return max_epoch + 1


def _gc_sidecars(fs, d: str) -> None:
    """Delete the checksum sidecars in ``d`` whose file is gone. Spark's
    parquet writes on a plain local root go through Hadoop's checksummed
    local FileSystem, which leaves ``.<name>.crc`` beside each segment;
    ``LocalFS.delete`` removes it with its segment, and this collects
    those older code or a crash left behind. Hadoop roots list and delete
    through the checksummed FileSystem itself, so only local dirs hold
    strays."""
    if not getattr(fs, "is_local", False):
        return
    names = set(fs.list_names(d))
    for n in names:
        if n.startswith(".") and n.endswith(".crc") and n[1:-4] not in names:
            fs.delete(os.path.join(d, n))


class TopicEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        registry=None,
        archive_root: str | None = None,
        read_only: bool = False,
    ):
        """``read_only=True`` opens the root WITHOUT claiming the writer
        epoch (and without orphan GC, which requires ownership): an
        observer — metrics scrape, topic describe, a consumer — must
        never fence a live producer, exactly as a reference follower
        serves metadata without disturbing the partition leader. A
        read-only engine refuses every mutation with a clear error."""
        self.spark = spark
        self.root = root
        self.read_only = bool(read_only)
        self.registry = registry  # SchemaRegistry, for schema-id validation
        # INT96 (Spark's default parquet timestamp encoding) carries no
        # min/max statistics, which would blind the manifest's timestamp
        # pruning index (segment-level retention). There is no per-write
        # knob (the writer ignores an outputTimestampType option —
        # verified), so this is a session-level setting; it also affects
        # other parquet writes on the shared session, which is why it is
        # documented here and in the README. If the set fails the engine
        # still behaves correctly (retention falls back to full
        # rewrites), but that degradation should be visible, not silent.
        try:
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
        except Exception:
            import warnings

            warnings.warn(
                "could not set spark.sql.parquet.outputTimestampType; "
                "timestamp footer stats will be absent and time retention "
                "will use full rewrites",
                stacklevel=2,
            )
        # Plain paths use POSIX fast calls; URI roots (file:, hdfs:, s3a:,
        # gs:, abfss:) route every metadata/listing/maintenance operation
        # through the Hadoop FS API — same engine code on object stores
        # (the reference's cloud_storage layer dissolving into a
        # FileSystem impl, SURVEY.md §2.2-i).
        self._fsio = fsio.for_root(spark, root)
        self.root = self._fsio.normalize(root)
        self._fsio.mkdirs(self.root)
        # Archive (cold) tier root — defaults to a sibling dir under the
        # root, but is its own FileSystem so the cold tier can live on a
        # different store than the hot one (local disk + s3a://, the
        # reference's deployment shape).
        self.archive_root = archive_root or os.path.join(self.root, "_archive")
        self._afsio = fsio.for_root(spark, self.archive_root)
        self.archive_root = self._afsio.normalize(self.archive_root)
        # Archived segments per topic (archive-root-relative, manifest
        # order) + their footer stats — same pruning index as the hot
        # tier, so cold segments are prunable without being read.
        self._archived: dict[str, list[str]] = {}
        self._archived_stats: dict[str, dict[str, list[int]]] = {}
        # monotone per-topic archival epoch: archive file names are
        # epoch-prefixed so names never collide across archival batches
        self._arch_epoch: dict[str, int] = {}
        # Cold-read cache (the reference's cloud_storage/cache_service):
        # archived segments fetched through the read path are copied to
        # local disk once and served from there, LRU-bounded by
        # cold_cache_bytes (0 = pass-through, the default — on this box
        # both tiers are local disk; set it when archive_root is an
        # object store). Safe by construction: archive names are
        # epoch-unique and segments immutable, so a cached copy can never
        # be stale.
        self.cold_cache_bytes = 0
        self._cold_cache_dir: str | None = None
        self._cold_lru: dict[str, int] = {}  # rel -> size, insertion=LRU order
        self._meta_path = os.path.join(root, "_topics.json")
        self._topics: dict[str, TopicConfig] = {}
        self._high: dict[str, dict[int, int]] = {}
        # Live segment files per topic, root-relative, in manifest order.
        self._files: dict[str, list[str]] = {}
        # Per-file column stats {relpath: [min_p, max_p, min_o, max_o, rows]}
        # — the manifest-level pruning index (Iceberg data-file stats
        # analog). Files without an entry are never pruned.
        self._stats: dict[str, dict[str, list[int]]] = {}
        # Produce-side idempotence state per topic:
        # {"<partition>:<producer_id>": [epoch, last_seq]} — the rm_stm
        # producer-sequence window (`cluster/rm_stm.h:67-73`,
        # `cluster/producer_state.h:46-98`), committed WITH the data in
        # the manifest so dedup state and offsets advance atomically.
        self._producers: dict[str, dict[str, list[int]]] = {}
        # Engine-side rate counters per topic (the reference's
        # /public_metrics rate families: produce/fetch bytes+rows,
        # request counts, archival uploads, cache outcomes — the
        # quota/probe instrumentation in `kafka/server/quota_manager.h`).
        # Process-lifetime monotone, like a broker's counters; exposed as
        # Prometheus counters in the /metrics exposition.
        self._counters: dict[str, dict[str, int]] = {}
        # Writer fencing: per-topic epoch this engine CLAIMED (opening the
        # root bumps `_writer_epoch_<topic>.json`; each manifest commit
        # re-reads it and refuses to proceed if another writer advanced
        # it). See FencedWriterError for the reference mapping.
        self._writer_epoch: dict[str, int] = {}
        # rows in the log right after the last compaction (manifest-side
        # dirty-ratio bookkeeping; 0 = never compacted => everything dirty)
        self._clean_rows: dict[str, int] = {}
        # Hot-tail read cache (the reference's batch cache,
        # `storage/batch_cache.h:101`: just-committed batches served from
        # memory without touching storage). Per topic per partition:
        # (tail_start_offset, [row dicts]) covering the CONTIGUOUS range
        # [tail_start, high-watermark), so the record at offset o is list
        # index o - tail_start. A published pair and its list are never
        # mutated (upkeep builds new ones), so a reader may hold them
        # without a lock. Strictly read-through: populated
        # only AFTER a successful manifest commit by the local produce
        # path, invalidated by EVERY manifest flip (_commit_manifest), so
        # it can never serve rows the durable log doesn't have.
        self._tail: dict[str, dict[int, tuple[int, list[dict]]]] = {}
        self._tail_max_rows = 2048  # per partition
        self._tail_max_bytes = 16 << 20  # per topic (batch_cache reservation)
        # _record_bytes sum per partition of _tail[topic]
        self._tail_bytes: dict[str, dict[int, int]] = {}
        # per topic: (stored "_log_starts" config string, its parsed map)
        self._log_start_cache: dict[str, tuple[str, dict[int, int]]] = {}
        # per topic: manifest text of the hot and archived segments
        self._manifest_text: dict[str, tuple[_SegmentsText, _SegmentsText]] = {}
        # keep-latest map of __consumer_offsets (record key -> decoded
        # value) and its "tx" keys indexed by (topic, partition), keyed by
        # the manifest file list they were replayed from
        self._group_cache: tuple[tuple[str, ...], dict, dict] | None = None
        # Engine-instance nonce, written into every epoch-claim file. On
        # stores whose create is NOT arbitrated (plain S3 without
        # conditional writes), two engines racing the same epoch number
        # can both believe they created the claim — but the store keeps
        # exactly ONE content (last PUT wins), so comparing the claim's
        # owner nonce at commit time converges the double-win ONCE the
        # rival's PUT has landed: from then on one nonce is current and
        # the other engine fences at its next commit. A racer that
        # commits BEFORE the rival's slower PUT lands is not caught —
        # that residual window is narrowed, not closed, and closes only
        # with store-side conditional writes (see fsio.HadoopFS
        # .trust_conditional_create).
        import uuid as _uuid

        self._engine_nonce = _uuid.uuid4().hex
        self._load_state()

    # -- catalog / manifest -----------------------------------------------

    def _manifest_path(self, topic: str) -> str:
        return os.path.join(self.root, f"_manifest_{topic}.json")

    def _epoch_path(self, topic: str) -> str:
        # legacy (pre-claim-chain) single-file epoch — read-only fallback
        return os.path.join(self.root, f"_writer_epoch_{topic}.json")

    def _epoch_dir(self, topic: str) -> str:
        return os.path.join(self.root, f"_epoch_{topic}")

    def _read_writer_epoch(self, topic: str) -> int:
        """Current writer epoch = highest claim in the topic's epoch-chain
        dir (a handful of tiny files — the winner GCs superseded claims,
        so the listing stays O(1)); legacy single-file roots fall back to
        the old json. The chain is NEVER reset across topic delete/create
        (epochs are monotone for the lifetime of the root), which is what
        makes the fence ABA-proof: a stale engine's epoch can never become
        current again via a delete+recreate cycle."""
        best = 0
        for name in self._fsio.list_names(self._epoch_dir(topic)):
            if name.endswith(".claim"):
                try:
                    best = max(best, int(name[:-6]))
                except ValueError:
                    pass
        if best:
            return best
        try:
            return int(
                json.loads(self._fsio.read_text(self._epoch_path(topic)))[
                    "epoch"
                ]
            )
        except Exception:  # absent / legacy root => epoch 0
            return 0

    def _manifest_writer_epoch(self, topic: str) -> int:
        try:
            return int(
                json.loads(
                    self._fsio.read_text(self._manifest_path(topic))
                ).get("writer_epoch", 0)
            )
        except Exception:
            return 0

    def _claim_writer_epoch(self, topic: str) -> int:
        """Claim topic leadership by CREATE-EXCLUSIVE of the next epoch's
        claim file: the filesystem arbitrates, so two engines racing the
        same epoch number can never both win — real mutual exclusion on
        HDFS and local roots without any lock (the raft leader-election
        analog: at most one leader per term, `src/v/raft/consensus.cc`).
        A loser retries one epoch higher, becoming the newest writer. The
        claim floor includes the last committed manifest's writer_epoch,
        so even a hand-truncated chain can't rewind below a committed
        claim (stale-leader fencing, `cluster/rm_stm.h:67-73`)."""
        d = self._epoch_dir(topic)
        self._fsio.mkdirs(d)
        floor = self._manifest_writer_epoch(topic)
        while True:
            target = max(self._read_writer_epoch(topic), floor) + 1
            if self._fsio.create_exclusive(
                os.path.join(d, f"{target:020d}.claim"),
                json.dumps(
                    {
                        "epoch": target,
                        "ts_ms": int(time.time() * 1000),
                        "owner": self._engine_nonce,
                    }
                ),
            ):
                self._writer_epoch[topic] = target
                # superseded claims (and the legacy file) are dead weight:
                # any fence check now reads max >= target regardless
                for name in self._fsio.list_names(d):
                    if name.endswith(".claim"):
                        try:
                            n = int(name[:-6])
                        except ValueError:
                            continue
                        if n < target:
                            self._fsio.delete(os.path.join(d, name))
                self._fsio.delete(self._epoch_path(topic))
                return target
            # lost the create-exclusive race — another engine owns this
            # epoch number; claim above it (we fence them, never share)

    def _refuse_read_only(self) -> None:
        if self.read_only:
            raise ValueError(
                "engine opened read_only=True: mutations are refused "
                "(reopen without read_only to claim the writer epoch)"
            )

    def _check_writer_fence(self, topic: str) -> None:
        """Refuse a commit from a stale writer (caller holds write_lock).
        Topics first committed by this engine (create_topic) claim lazily
        here, so every commit path is fenced without special-casing."""
        self._refuse_read_only()
        current = self._read_writer_epoch(topic)
        mine = self._writer_epoch.get(topic)
        if mine is None:
            mine = self._claim_writer_epoch(topic)
            return
        if current != mine:
            raise FencedWriterError(topic, mine, current)
        if not getattr(self._fsio, "arbitrated_create", True):
            # Optimistic-create store (plain S3 without conditional
            # writes): the epoch NUMBER matching is not enough — another
            # engine may have "won" the same claim file and its PUT
            # landed last. The file carries exactly one owner nonce; if
            # it isn't ours, we are the double-win loser and fence here
            # instead of publishing. This converges the split once the
            # rival's PUT is visible; a commit that sneaks in BEFORE the
            # rival's slower PUT lands is the documented residual window
            # (closed only by store-side conditional writes). One tiny
            # extra read per commit, only on non-arbitrated schemes.
            try:
                owner = json.loads(
                    self._fsio.read_text(
                        os.path.join(
                            self._epoch_dir(topic), f"{mine:020d}.claim"
                        )
                    )
                ).get("owner")
            except (FileNotFoundError, json.JSONDecodeError, KeyError):
                owner = None  # legacy/absent claim: number check stands
            except Exception as e:
                # a TRANSIENT read error must not silently pass the fence
                # (that would disable the exact convergence this check
                # provides — the same swallow-to-default class fixed in
                # HadoopFS.list_names); only a genuinely absent claim is
                # "legacy", everything else propagates to the caller
                from redpanda_spark.fsio import _is_not_found

                if not _is_not_found(e):
                    raise
                owner = None
            if owner is not None and owner != self._engine_nonce:
                raise FencedWriterError(topic, mine, current)

    def _commit_manifest(self, topic: str) -> None:
        """THE commit point for all data mutations of a topic: watermarks +
        live file list become durable in one atomic rename, FENCED by the
        writer epoch (a stale engine — one whose root another engine has
        opened since — gets FencedWriterError instead of silently
        last-writer-winning the manifest). Everything written before this
        call is provisional; everything after is cleanup."""
        # any manifest flip invalidates the hot tail; the produce paths
        # repopulate it post-commit, every other mutator leaves it cold
        self._tail.pop(topic, None)
        with self._fsio.write_lock(self.root):
            self._check_writer_fence(topic)
            self._write_manifest_locked(topic)

    def _write_manifest_locked(self, topic: str) -> None:
        """The manifest as ``json.dumps`` writes this dict, byte for byte:
        ``{"high", "files", "stats" (of listed files), "producers",
        "clean_rows", "archived", "archived_stats", "arch_epoch",
        "writer_epoch"}``. The segment lists and stats maps of both tiers
        come from ``_SegmentsText``, so a commit encodes only the segments
        it added or whose stats it replaced."""
        enc = self._manifest_text.get(topic)
        if enc is None:
            enc = self._manifest_text[topic] = (_SegmentsText(), _SegmentsText())
        files, stats = enc[0].encode(self._files[topic], self._stats.get(topic, {}))
        arch, astats = enc[1].encode(
            self._archived.get(topic, []), self._archived_stats.get(topic, {})
        )
        dumps = json.dumps
        self._fsio.write_text_atomic(
            self._manifest_path(topic),
            f'{{"high": {dumps(self._high.get(topic, {}))}, "files": {files}, '
            f'"stats": {stats}, "producers": {dumps(self._producers.get(topic, {}))}, '
            f'"clean_rows": {dumps(self._clean_rows.get(topic, 0))}, '
            f'"archived": {arch}, "archived_stats": {astats}, '
            f'"arch_epoch": {dumps(self._arch_epoch.get(topic, 0))}, '
            f'"writer_epoch": {dumps(self._writer_epoch.get(topic, 0))}}}',
        )

    def _load_state(self) -> None:
        for d, state in (
            ("_consumer_offsets", "group state"),
            ("_groups", "group state"),
            ("_tx_ranges", "transaction ranges"),
        ):
            for legacy in (d, d + ".old", d + ".purge.tmp"):
                # the old Parquet side tables (and a crashed purge swap's
                # copies): not imported, so opening would silently drop
                # every committed position or aborted range
                legacy = os.path.join(self.root, legacy)
                if self._fsio.list_names(legacy):
                    raise ValueError(
                        f"{legacy}: legacy side table, not read since "
                        f"{state} moved into the {OFFSETS_TOPIC} topic"
                    )
        # the old transaction-coordinator stores: its snapshot file, and
        # the transactional ids the producer-id allocator used to keep
        for name, key in (("_tx_coordinator.json", None),
                          ("_producer_ids.json", "tx_ids")):
            legacy = os.path.join(self.root, name)
            if self._fsio.exists(legacy) and (
                key is None or json.loads(self._fsio.read_text(legacy)).get(key)
            ):
                raise ValueError(
                    f"{legacy}: legacy transaction coordinator state, not "
                    f"read since transaction state moved into the "
                    f"{OFFSETS_TOPIC} topic"
                )
        if self._fsio.exists(self._meta_path):
            raw = json.loads(self._fsio.read_text(self._meta_path))
            self._topics = {t: TopicConfig(**c) for t, c in raw.items()}
        # never in the catalog; opened (and claimed) like every topic
        # whether or not its first commit has landed, so an older engine's
        # group-state commits are fenced from this open on
        self._topics[OFFSETS_TOPIC] = TopicConfig(
            partitions=1, cleanup_policy="compact", delete_retention_ms=0
        )
        for t in self._topics:
            # Read the manifest AND claim the writer epoch inside one
            # critical section: the state we adopt is the latest committed
            # one, and from the claim on, the previous writer's commits
            # are refused — so the _gc_orphans below can only ever delete
            # segments NO committed manifest references (the split-brain
            # GC hazard the single-writer model alone did not close).
            # A read-only open skips the claim AND the GC (observers must
            # not fence a live producer, and GC requires ownership); the
            # manifest read itself needs no lock — the atomic replace
            # means a reader sees the old or the new snapshot, never a
            # torn one.
            with self._fsio.write_lock(self.root) if not self.read_only \
                    else _nullcontext():
                mp = self._manifest_path(t)
                has_manifest = self._fsio.exists(mp)
                if has_manifest:
                    m = json.loads(self._fsio.read_text(mp))
                    # a partition added since the last commit is at 0
                    self._high[t] = {
                        **{p: 0 for p in range(self._topics[t].partitions)},
                        **{int(p): o for p, o in m.get("high", {}).items()},
                    }
                    self._files[t] = m.get("files", [])
                    self._stats[t] = m.get("stats", {})
                    self._producers[t] = m.get("producers", {})
                    self._clean_rows[t] = m.get("clean_rows", 0)
                    self._archived[t] = m.get("archived", [])
                    self._archived_stats[t] = m.get("archived_stats", {})
                    self._arch_epoch[t] = m.get("arch_epoch", 0)
                else:
                    # catalog written, first manifest commit never landed
                    # (or the manifest was lost): the empty topic
                    # create_topic commits. GC below drops stray hot
                    # segments but leaves the archive tier alone — it may
                    # hold the only copy of the topic's cold data — and
                    # new archive names continue past it, never over it.
                    self._high[t] = {
                        p: 0 for p in range(self._topics[t].partitions)
                    }
                    self._files[t] = []
                    self._arch_epoch[t] = _next_arch_epoch(
                        self._afsio.list_segments(self._archive_dir(t))
                    )
                if not self.read_only:
                    self._claim_writer_epoch(t)
            if not self.read_only:
                self._gc_orphans(t, archive=has_manifest)

    def _gc_orphans(self, topic: str, archive: bool) -> None:
        """Crash recovery: delete segment files not referenced by the
        manifest (a produce or rewrite that died before its manifest
        commit) and leftover rewrite temp dirs. Safe under the
        single-writer-per-root model. ``archive=False`` limits it to the
        hot tier (a topic opened without a manifest has no archived list
        to judge the cold tier by).

        NEVER runs for read-replica topics: their archive_root is the
        SOURCE cluster's bucket, and any segment the source archived after
        the replica's last refresh is absent from the replica's manifest —
        GC here would delete the source's live archived data (the
        reference's remote-read topics likewise never reconcile the
        bucket; only the cluster with remote_write ownership does,
        `cloud_storage/remote_partition`)."""
        cfg = self._topics.get(topic)
        if cfg is not None and cfg.configs.get("_read_replica") == "true":
            return
        d = self._topic_dir(topic)
        for leftover in (
            d + ".rewrite.tmp",
            d + ".compact.tmp",
            d + ".retain.tmp",  # tiered-retention durable spill
            d + ".old",
        ):
            self._fsio.delete(leftover, recursive=True)
        live_abs = {os.path.join(self.root, p) for p in self._files[topic]}
        for f in self._segment_files(topic) - live_abs:
            self._fsio.delete(f)
        _gc_sidecars(self._fsio, d)
        if not archive:
            return
        # archive tier: a crash between the archival copy and the manifest
        # commit leaves half-uploaded cold segments; GC anything the
        # manifest's archived list doesn't own
        ad = self._archive_dir(topic)
        self._afsio.delete(ad + ".rewrite.tmp", recursive=True)
        live_arch = {
            os.path.join(self.archive_root, p)
            for p in self._archived.get(topic, [])
        }
        for f in set(self._afsio.list_segments(ad)) - live_arch:
            self._afsio.delete(f)
        _gc_sidecars(self._afsio, ad)

    def _save_state(self) -> None:
        self._refuse_read_only()
        # Topic CONFIG metadata stays last-writer-wins: the reference
        # funnels it through the single controller raft group
        # (`cluster/topics_frontend`), and this engine's analog is "one
        # admin at a time". DATA cannot be lost to this — every data
        # mutation commits through the epoch-fenced manifest path.
        self._fsio.write_text_atomic(
            self._meta_path,
            json.dumps({t: vars(c) for t, c in self.list_topics().items()}),
        )

    def create_topic(self, topic: str, config: TopicConfig | None = None) -> None:
        if topic == OFFSETS_TOPIC:
            raise ValueError(f"topic name reserved for group state: {topic}")
        if topic in self._topics:
            raise ValueError(f"topic exists: {topic}")
        self._topics[topic] = config or TopicConfig()
        self._high[topic] = {p: 0 for p in range(self._topics[topic].partitions)}
        self._files[topic] = []
        self._fsio.mkdirs(self._topic_dir(topic))
        # a crashed delete/unmount of an earlier same-named topic may
        # have left per-topic debris after its catalog removal committed;
        # a reopen between now and our first manifest commit must not
        # resurrect that state. The writer-epoch chain is deliberately
        # NOT reset: epochs stay monotone across delete/recreate, so an
        # engine fenced on the old incarnation can never pass the fence
        # on the new one (the ABA hazard a restarted lineage would open).
        self._fsio.delete(self._manifest_path(topic))
        self._purge_topic_keys(topic)  # a crashed delete/unmount's leftovers
        self._save_state()
        self._commit_manifest(topic)

    def delete_topic(self, topic: str) -> None:
        """Drop the topic's data, its tx ranges and its committed
        offsets. Without the purge, recreating a topic with the
        same name resurrects stale tx metadata — a leftover 'open' range
        would gate the new topic's LSO forever, and stale aborted ranges
        could hide fresh records at the reused offsets (the reference
        scopes this state to the partition's raft log, which dies with the
        topic: `cluster/rm_stm`'s state is per-partition)."""
        if topic == OFFSETS_TOPIC:
            raise ValueError(f"internal topic cannot be deleted: {topic}")
        self._require(topic)
        # tombstone its committed offsets first (a commit of its own, so
        # outside the root lock), so no crash past the catalog removal
        # can leave them for a mount of the same name to resurrect. The
        # fence check first: a stale writer must not tombstone the offsets
        # of a topic it no longer owns.
        with self._fsio.write_lock(self.root):
            self._check_writer_fence(topic)
        self._purge_topic_keys(topic, kinds=("offset",))
        # a stale writer must not destroy the current writer's topic —
        # and the fence must hold THROUGH the destructive sequence, not
        # just at entry: the root write_lock is held across the deletes
        # (local roots; URI roots keep the narrower optimistic window of
        # a re-check immediately before the first irreversible step).
        # Deletes are rare admin ops, so holding the per-root lock for
        # the duration doesn't cost the produce path anything.
        with self._fsio.write_lock(self.root):
            self._check_writer_fence(topic)
            # a read-replica does not OWN its archive tier: the
            # archive_root is the source cluster's bucket. Dropping the
            # replica must only remove local metadata/cache — deleting
            # the archive dir would destroy the source's live archived
            # segments (reference: remote-read topics never delete
            # bucket data on replica drop).
            is_replica = (
                self._topics[topic].configs.get("_read_replica") == "true"
            )
            del self._topics[topic]
            self._high.pop(topic, None)
            self._files.pop(topic, None)
            self._stats.pop(topic, None)
            self._manifest_text.pop(topic, None)
            self._tail.pop(topic, None)
            self._producers.pop(topic, None)
            self._archived.pop(topic, None)
            self._archived_stats.pop(topic, None)
            self._arch_epoch.pop(topic, None)
            self._fsio.delete(self._topic_dir(topic), recursive=True)
            if not is_replica:
                self._afsio.delete(self._archive_dir(topic), recursive=True)
            if self._cold_cache_dir is not None:
                import shutil as _shutil

                _shutil.rmtree(
                    os.path.join(self._cold_cache_dir, topic),
                    ignore_errors=True,
                )
                self._cold_lru = {
                    r: s
                    for r, s in self._cold_lru.items()
                    if not r.startswith(topic + os.sep)
                }
            self._fsio.delete(self._manifest_path(topic))
            # the epoch CHAIN survives the topic (monotone lineage — see
            # create_topic); only our in-memory claim is dropped
            self._writer_epoch.pop(topic, None)
            self._save_state()
        self._purge_topic_keys(topic)  # tx keys, and offsets that raced in

    def _purge_topic_keys(
        self, topic: str, kinds: tuple[str, ...] = ("offset", "tx")
    ) -> None:
        """Tombstone ``topic``'s OFFSETS_TOPIC keys of ``kinds`` in one
        commit (which takes the root lock: call it outside a locked
        section).

        Ordering invariant: a topic's tx keys are tombstoned only once its
        data is gone or detached — after delete_topic's locked removal,
        after unmount_topic stages its handoff manifest — never before
        (a crash in between would leave the topic live with its aborted
        records reading as committed). A crash may therefore leave a gone
        topic's keys behind, so every adoption of the name (create_topic,
        and mount_topic before it replays a handoff) tombstones them
        first."""
        self._group_append(
            [
                (k, None)
                for k in self._group_map()
                if k[0] in kinds and k[2 if k[0] == "offset" else 1] == topic
            ]
        )

    def list_topics(self) -> dict[str, TopicConfig]:
        return {t: c for t, c in self._topics.items() if t != OFFSETS_TOPIC}

    def _topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, topic)

    def _archive_dir(self, topic: str) -> str:
        return os.path.join(self.archive_root, topic)

    def _segment_files(self, topic: str) -> set[str]:
        """All parquet segment paths of a topic's flat dir. Listed via
        the root's filesystem (POSIX locally, Hadoop FS on URI roots), so
        object-store roots keep the full manifest/crash-safety story."""
        return set(self._fsio.list_segments(self._topic_dir(topic)))

    def _require(self, topic: str) -> TopicConfig:
        if topic not in self._topics:
            raise KeyError(f"unknown topic: {topic}")
        return self._topics[topic]

    # -- produce ----------------------------------------------------------

    def _count(self, topic: str, **deltas: int) -> None:
        # unsynchronized read-modify-write: concurrent callers can lose
        # an increment — acceptable for monotone observability counters
        # (broker probes make the same trade), never used for correctness
        c = self._counters.setdefault(topic, {})
        for k, v in deltas.items():
            c[k] = c.get(k, 0) + int(v)

    def counters(self, topic: str) -> dict[str, int]:
        """Monotone engine-side counters for the topic (process-lifetime,
        reset on restart — broker counter semantics)."""
        return dict(self._counters.get(topic, {}))

    def snapshot_counters_history(self, max_entries: int = 500) -> dict:
        """Append a timestamped counters + manifest-stats snapshot to the
        root-side history log (``_counters_history.jsonl``, ring-bounded
        to ``max_entries``). The maintenance tick calls this, so the
        debug bundle carries a TIME SERIES of the observability surface —
        a regression is diagnosable post-hoc from the bundle alone, not
        just from the point-in-time state (the reference's debug bundle
        ships metrics samples alongside state,
        `debug_bundle_service.h:35`). O(topics) manifest math + one tiny
        file rewrite; never a Spark job."""
        self._refuse_read_only()
        path = os.path.join(self.root, "_counters_history.jsonl")
        keep = ("rows", "segments", "bytes", "archived_segments")
        def _kept(t: str) -> dict:
            st = self.topic_stats(t)  # once per topic: it getsizes every
            return {k: st.get(k) for k in keep}  # segment (RPCs on URIs)

        entry = {
            "ts_ms": int(time.time() * 1000),
            "counters": {t: self.counters(t) for t in sorted(self._topics)},
            "stats": {t: _kept(t) for t in sorted(self._topics)},
        }
        # the read-append-rewrite is a RMW: two maintenance ticks from
        # processes sharing the root would otherwise interleave and drop
        # history entries (observability-only, but free to close — the
        # same root lock every manifest commit already takes)
        with self._fsio.write_lock(self.root):
            lines: list[str] = []
            if self._fsio.exists(path):
                lines = [
                    ln for ln in self._fsio.read_text(path).splitlines() if ln
                ]
            lines.append(json.dumps(entry))
            self._fsio.write_text_atomic(
                path, "\n".join(lines[-max_entries:]) + "\n"
            )
        return entry

    def produce(self, topic: str, batch: DataFrame) -> dict[int, int]:
        """Instrumented produce: counts appended rows/bytes around
        :meth:`_produce_impl` (which holds the full semantics docstring).
        Byte accounting reads back only the files THIS batch appended —
        O(batch files), never O(log)."""
        files0 = len(self._files.get(topic) or [])
        hw0 = sum(self._high.get(topic, {}).values())
        bases = self._produce_impl(topic, batch)
        new_files = self._files[topic][files0:]
        self._count(
            topic,
            produce_requests=1,
            produced_rows=sum(self._high.get(topic, {}).values()) - hw0,
            produced_bytes=sum(
                self._fsio.getsize(os.path.join(self.root, f))
                for f in new_files
            ),
        )
        return bases

    def _produce_impl(self, topic: str, batch: DataFrame) -> dict[int, int]:
        """Append a batch of records; returns {partition: base_offset}.

        ``batch`` columns: key binary (nullable), value binary (nullable),
        optional timestamp, optional partition int (explicit routing),
        optional headers/producer_id/producer_epoch/base_sequence.

        Batches of at most ``_LOCAL_PRODUCE_MAX_BYTES`` append in-process
        (``_produce_local``): a record list or a LocalRelation DataFrame
        with zero Spark jobs, a DataFrame over materialized cached frames
        with one ``toArrow()`` job, then routing, offsets, validation and
        the parquet write on Arrow arrays. URI roots, streaming frames,
        bigger batches and plans whose size is only the planner's
        estimate take the distributed pipeline below.

        Distributed pipeline (mirrors produce.cc): route partition
        (explicit, else Arrow-batched murmur2(key), else round-robin via
        monotonic id) → timestamp validate/rewrite per topic
        timestamp_type → assign contiguous offsets from the stored high
        watermark → one write job (local (partition, offset) sort + flat
        parquet append), then the watermark bookkeeping reads back ONLY
        the new files: a column-pruned per-partition count job plus
        driver-side footer stats for the manifest pruning index —
        O(files in batch) = O(write tasks), not O(partitions), and nothing
        re-runs the routing/offset pipeline (the reference's segment index
        records batch row counts at append, `storage/index_state.h`).
        """
        cfg = self._require(topic)
        self._refuse_replica_mutation(topic)
        n_parts = cfg.partitions

        if isinstance(batch, (list, tuple)):
            out = self._produce_local(topic, cfg, None, records=batch)
            if out is not None:
                return out
            batch = self._records_to_df(batch)  # URI root: DF path
        else:
            out = self._produce_local(topic, cfg, batch)
            if out is not None:
                return out

        if cfg.value_schema_subject is not None:
            self._validate_schema_ids(batch, cfg.value_schema_subject)

        if cfg.max_message_bytes is not None:
            biggest = batch.agg(
                F.max(
                    F.coalesce(F.length("value"), F.lit(0))
                    + (
                        F.coalesce(F.length("key"), F.lit(0))
                        if "key" in batch.columns
                        else F.lit(0)
                    )
                ).alias("m")
            ).collect()[0]["m"]
            if biggest is not None and biggest > cfg.max_message_bytes:
                raise ProduceError(
                    "MESSAGE_TOO_LARGE",
                    f"record of {biggest} bytes exceeds max.message.bytes="
                    f"{cfg.max_message_bytes}",
                )

        cols = batch.columns
        df = batch.withColumn("_seq", F.monotonically_increasing_id())
        if "partition" in cols:
            # null partition in a mixed batch = unrouted record. A keyed
            # row must keep murmur2 affinity (Kafka's default partitioner
            # guarantees per-key ordering even in mixed batches); only
            # truly key-less rows round-robin. The Arrow UDF stage this
            # adds applies only to batches carrying BOTH partition and key
            # columns — already the rare DataFrame fallback (mixed REST
            # batches take _produce_local, which key-hash routes without
            # any Spark job).
            rr = F.pmod(F.col("_seq"), F.lit(n_parts)).cast("int")
            unrouted = (
                F.when(
                    F.col("key").isNotNull(),
                    # cast: string keys are tolerated in the DF path; their
                    # UTF-8 bytes hash like Kafka's StringSerializer
                    murmur2_partition_udf(n_parts)(F.col("key").cast("binary")),
                ).otherwise(rr)
                if "key" in cols
                else rr
            )
            part = F.coalesce(F.col("partition").cast("int"), unrouted)
        else:
            # Arrow-batched murmur2 kernel, not a JVM expression: murmur2
            # as an expression tree cost ~1.3s of driver-side analysis PER
            # produce, measured; the UDF keeps the per-batch plan small,
            # which dominates small-batch produce latency.
            # key-less batches (legal: null key = no routing affinity)
            # round-robin on the monotonic id, like null-keyed rows
            rr = F.pmod(F.col("_seq"), F.lit(n_parts)).cast("int")
            part = (
                F.when(
                    F.col("key").isNotNull(),
                    murmur2_partition_udf(n_parts)(F.col("key").cast("binary")),
                ).otherwise(rr)
                if "key" in cols
                else rr
            )
        ts = (
            F.current_timestamp()
            if "timestamp" not in cols or cfg.timestamp_type == "LogAppendTime"
            else F.col("timestamp")
        )
        defaults = {
            "headers": F.lit(None).cast("array<struct<key:string,value:binary>>"),
            "producer_id": F.lit(-1).cast("bigint"),
            "producer_epoch": F.lit(-1).cast("smallint"),
            "base_sequence": F.lit(-1).cast("int"),
            "is_transactional": F.lit(False),
            "is_control": F.lit(False),
        }
        # single select (not a withColumn chain): one analysis pass, and
        # small-batch produce latency is sensitive to driver round trips.
        # Key and value are stored binary whatever the batch's types, as
        # the in-process path stores them.
        df = df.select(
            part.alias("partition"),
            ts.alias("timestamp"),
            (F.col("key") if "key" in cols else F.lit(None)).cast("binary").alias(
                "key"
            ),
            F.col("value").cast("binary").alias("value"),
            *[
                (F.col(c) if c in cols else d.alias(c))
                for c, d in defaults.items()
            ],
            F.col("_seq").alias("ingest_seq"),
        )

        # Produce-side idempotence (rm_stm window): only when the CALLER
        # supplied producer columns — plain batches skip the extra job.
        if "producer_id" in cols and "base_sequence" in cols:
            df = self._idempotence_gate(topic, df)

        base = dict(self._high.get(topic, {}))
        df = LOG.assign_offsets(df, base_offsets=base).drop("ingest_seq")
        # local sort so each file's (partition, offset) footer stats are
        # tight — that's what makes the manifest pruning index selective
        df = df.sortWithinPartitions("partition", "offset")

        out_dir = self._topic_dir(topic)
        # Listing goes through fsio (POSIX or Hadoop FS) so URI roots get
        # the same file-list manifest and crash story as local ones — no
        # weaker watermark-only branch.
        before = self._segment_files(topic)
        # Dictionary encoding off: record payloads are high-entropy
        # (keys/values unique per record), so the dictionary build is
        # pure overhead — measured ~6% produce throughput.
        df.write.mode("append").option("compression", cfg.compression).option(
            "parquet.enable.dictionary", "false"
        ).parquet(out_dir)
        new_files = sorted(self._segment_files(topic) - before)
        self._files[topic] = self._files[topic] + [
            os.path.relpath(f, self.root) for f in new_files
        ]
        self._stats.setdefault(topic, {}).update(self._footer_stats(new_files))
        # Per-partition counts for the watermark advance: one
        # column-pruned count job over ONLY the new files, read with the
        # segment schema so no inference job runs first — the scan
        # touches just the `partition` column chunks, so this costs a
        # near-constant ~0.15s regardless of batch bytes. (An attached
        # df.observe() metric was tried first: observation metrics
        # evaluate interpreted per-row, ~20µs/row for a 100-partition
        # sum-if array — 4s on a 200k-row batch. The readback job is
        # the scale-safe shape.)
        counts: dict[int, int] = (
            {
                r["partition"]: r["n"]
                for r in self._scan(new_files)
                .groupBy("partition")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            if new_files
            else {}
        )
        bases = {p: base.get(p, 0) for p in counts}
        for p, n in counts.items():
            self._high.setdefault(topic, {})[p] = base.get(p, 0) + n
        # Atomic commit: watermarks + file list flip together. Before this
        # line the written files are invisible orphans (GC'd on reopen);
        # after it the append is durable — offsets stay contiguous across
        # any crash.
        self._commit_manifest(topic)
        return bases

    # record-list produce column types (fallback DF conversion + REST):
    # the segment schema's record columns, as DDL type names
    _RECORD_COL_TYPES = {
        f.name: f.dataType.simpleString() for f in _SEGMENT_SCHEMA[:-1]
    }

    def _records_to_df(self, records) -> DataFrame:
        """List-of-records → DataFrame, for when the in-process path
        declines (URI root, over the byte bound, exotic timestamps) and
        the batch must go through the distributed produce pipeline."""
        rows = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in records]
        cols = list(rows[0]) if rows else ["key", "value"]
        schema = ", ".join(f"{c} {self._RECORD_COL_TYPES[c]}" for c in cols)
        return self.spark.createDataFrame(
            [tuple(r.get(c) for c in cols) for r in rows], schema
        )

    def _produce_local(
        self, topic: str, cfg: TopicConfig, batch: DataFrame | None, records=None
    ):
        """Driver-side append for driver-sized batches, with no Spark job
        beyond collecting the batch.

        A batch the driver holds — a list of record dicts/Rows (REST
        produce, interactive producers) or a DataFrame whose optimized
        plan is a local relation — is collected with a zero-job
        ``collect()``. A DataFrame that only selects, filters, unions or
        limits materialized cached frames (``_cached_plan_bytes``) is
        collected with one ``toArrow()`` job when those frames hold at
        most ``_LOCAL_PRODUCE_MAX_BYTES``; any other plan's size is the
        planner's estimate, which can be orders of magnitude low (a file
        scan's compressed size, a computed column's default type size),
        so it is never collected. The record table must then be at most
        ``_LOCAL_PRODUCE_MAX_BYTES`` too, and takes ``_append_arrow``,
        which runs the distributed path's produce semantics on Arrow
        arrays in-process, with no routing UDF stage, no offset window
        shuffle and no count read-back job.

        This is the reference's produce shape: the partition leader
        appends on its own shard (`kafka/server/handlers/produce.cc:311-500`)
        and keeps the batch in its batch cache (`storage/batch_cache.h:101`)
        so the next fetch never touches storage. Returns None to decline
        (URI root, streaming frame, over-bound or unsized batch, exotic
        column types); the caller falls through to the distributed path.
        """
        if not getattr(self._fsio, "is_local", False):
            return None  # object-store roots: pyarrow can't write there
        if records is not None:
            rows = [
                r.asDict() if hasattr(r, "asDict") else dict(r) for r in records
            ]
            cols = set(rows[0]) if rows else set()
            for r in rows[1:]:
                if set(r) != cols:
                    raise ProduceError(
                        "INVALID_RECORD",
                        "heterogeneous record fields in produce batch",
                    )
            bad_cols = cols - set(self._RECORD_COL_TYPES)
            if bad_cols:
                raise ProduceError(
                    "INVALID_RECORD", f"unknown record fields {sorted(bad_cols)}"
                )
            if rows and "value" not in cols:
                # same error surface as the other validations — not a raw
                # KeyError mid-produce (null value = tombstone is fine,
                # an absent value FIELD is not a record)
                raise ProduceError(
                    "INVALID_RECORD",
                    "records must carry a 'value' field (null = tombstone)",
                )
        elif batch.isStreaming:
            return None
        else:
            try:
                # isLocal() only looks at the ANALYZED plan, so a foldable
                # projection over a driver-held batch (e.g. the tx
                # coordinator's withColumn(lit(pid))) reads as non-local
                # even though ConvertToLocalRelation collapses it — the
                # OPTIMIZED plan decides
                plan = None if batch.isLocal() else (
                    batch._jdf.queryExecution().optimizedPlan()
                )
                if plan is None or plan.nodeName() == "LocalRelation":
                    # LocalTableScan: executeCollect, no executors involved
                    rows = [r.asDict() for r in batch.collect()]
                    cols = set(batch.columns)
                else:
                    size = _cached_plan_bytes(plan)
                    if size is None or size > _LOCAL_PRODUCE_MAX_BYTES:
                        return None
                    rows, table = None, self._collect_arrow(batch)
            except Exception:
                return None
        if rows is not None:
            table = self._rows_to_arrow(cfg, rows, cols)
        if table is None or table.nbytes > _LOCAL_PRODUCE_MAX_BYTES:
            return None
        return self._append_arrow(topic, cfg, table)

    def _session_tz(self):
        """The session time zone naive timestamps are read in, or None
        for a zone this process cannot resolve."""
        # cached: spark.conf.get is a py4j round-trip (~1 ms) — on the
        # zero-job produce hot path that was ~20% of e2e visible latency.
        # The session timezone doesn't change mid-engine; invalidate by
        # constructing a new engine.
        tzname = getattr(self, "_session_tz_name", None)
        if tzname is None:
            tzname = "UTC"
            try:
                tzname = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
            except Exception:
                pass
            self._session_tz_name = tzname
        if tzname in ("UTC", "Etc/UTC", "GMT"):
            return _dt.timezone.utc
        try:
            from zoneinfo import ZoneInfo

            return ZoneInfo(tzname)
        except Exception:
            return None

    def _rows_to_arrow(self, cfg: TopicConfig, rows: list[dict], cols: set):
        """Record dicts as the Arrow table ``_append_arrow`` takes (integer
        µs timestamps, naive ones read in the session zone), or None to
        decline a batch with exotic timestamps or no value column."""
        if rows and "value" not in cols:
            return None
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        one_us = _dt.timedelta(microseconds=1)
        data = {}
        for c in self._RECORD_COL_TYPES:
            if c not in cols or (
                c == "timestamp" and cfg.timestamp_type == "LogAppendTime"
            ):
                continue
            vals = [r[c] for r in rows]
            if c == "timestamp":
                tz = self._session_tz()
                for i, t in enumerate(vals):
                    if t is None:
                        continue
                    if not isinstance(t, _dt.datetime):
                        return None  # exotic timestamp type: decline
                    if t.tzinfo is None:
                        if tz is None:
                            return None
                        t = t.replace(tzinfo=tz)
                    vals[i] = (t - epoch) // one_us
            elif c in ("is_transactional", "is_control"):
                vals = [bool(v) for v in vals]
            elif c == "headers":
                vals = [
                    None
                    if h is None
                    else [{"key": x["key"], "value": x["value"]} for x in h]
                    for h in vals
                ]
            data[c] = pa.array(vals, _RECORD_ARROW.field(c).type)
        return pa.table(data) if data else pa.table({"value": pa.nulls(0, pa.binary())})

    def _collect_arrow(self, batch: DataFrame):
        """The batch's record columns, key and value cast to binary as the
        distributed path reads them, collected with one ``toArrow()`` into
        the table ``_append_arrow`` takes; None for a batch without a
        value column or with a non-TIMESTAMP timestamp column. A column
        already of its record type is selected by name, so a batch of
        record types plans no cast."""
        types = dict(batch.dtypes)
        if "value" not in types or types.get("timestamp", "timestamp") != "timestamp":
            return None
        t = batch.select(
            *[
                c if types[c] == ty else F.col(c).cast(ty).alias(c)
                for c, ty in self._RECORD_COL_TYPES.items()
                if c in types
            ]
        ).toArrow()
        if "timestamp" in types:
            i = t.schema.get_field_index("timestamp")
            # the arrow values are UTC µs whatever zone the type names
            us = t.column(i).cast(pa.timestamp("us"), safe=False).cast(pa.int64())
            t = t.set_column(i, "timestamp", us)
        return t.cast(pa.schema([_RECORD_ARROW.field(c) for c in t.column_names]))

    def _append_arrow(self, topic: str, cfg: TopicConfig, t):
        """The in-process produce core over an Arrow table of record
        columns (a subset of ``_RECORD_ARROW``, timestamps as integer µs):
        schema-id and max.message.bytes validation, timestamp-type rewrite,
        murmur2 routing over the key buffer (``murmur2_partitions``, the
        kernel the distributed path's UDF runs) with explicit partitions
        winning and key-less rows round-robin, the producer idempotence
        window (``_idempotence_decide``), contiguous per-partition offsets
        by a stable sort, one (partition, offset)-sorted parquet segment
        whose manifest stats come from the arrays, the atomic manifest
        commit, and then the hot tail, with record dicts built only for
        the rows it keeps. Returns {partition: base_offset}."""
        t = t.combine_chunks()
        n = t.num_rows
        cols = set(t.column_names)

        def column(c):
            return t[c].chunk(0) if t[c].num_chunks else pa.nulls(0, t[c].type)

        def lengths(a):
            return np.asarray(pc.fill_null(pc.binary_length(a), 0), dtype=np.int64)

        value = column("value")

        # -- validations (before any state mutation) ----------------------
        if cfg.value_schema_subject is not None:
            self._validate_schema_ids_local(value, cfg.value_schema_subject)
        nbytes = lengths(value)
        if "key" in cols:
            nbytes += lengths(column("key"))
        if cfg.max_message_bytes is not None and n:
            biggest = int(nbytes.max())
            if biggest > cfg.max_message_bytes:
                raise ProduceError(
                    "MESSAGE_TOO_LARGE",
                    f"record of {biggest} bytes exceeds max.message.bytes="
                    f"{cfg.max_message_bytes}",
                )
        nbytes += 16  # the _record_bytes overhead

        # -- timestamps (integer µs; same rewrite rule as the DF path) ----
        now_us = time.time_ns() // 1000
        if "timestamp" in cols and cfg.timestamp_type != "LogAppendTime":
            ts = np.asarray(pc.fill_null(column("timestamp"), now_us), dtype=np.int64)
        else:
            ts = np.full(n, now_us, dtype=np.int64)

        part = _route(
            cfg.partitions,
            n,
            column("key") if "key" in cols else None,
            column("partition") if "partition" in cols else None,
        )

        # -- producer idempotence window (shared decision logic) ----------
        keep = np.ones(n, dtype=bool)
        if "producer_id" in cols and "base_sequence" in cols:

            def ints(c):
                if c not in cols:
                    return np.full(n, -1, dtype=np.int64)
                return np.asarray(column(c).fill_null(-1), dtype=np.int64)

            pid, ep, seq = ints("producer_id"), ints("producer_epoch"), ints("base_sequence")
            m = pid >= 0
            if m.any():
                groups = pa.table({
                    "partition": part[m], "producer_id": pid[m],
                    "producer_epoch": ep[m], "seq": seq[m],
                }).group_by(
                    ["partition", "producer_id", "producer_epoch"], use_threads=False
                ).aggregate([("seq", "min"), ("seq", "max")])
                drop_all, trim = self._idempotence_decide(
                    topic,
                    [
                        {**g, "min_seq": g["seq_min"], "max_seq": g["seq_max"]}
                        for g in groups.to_pylist()
                    ],
                )
                for p, q in drop_all:
                    keep &= ~((part == p) & (pid == q))
                for p, q, last in trim:
                    keep &= ~((part == p) & (pid == q) & (seq <= last))

        # -- contiguous offsets from the stored watermark ------------------
        kept = np.flatnonzero(keep)
        order = kept[np.argsort(part[kept], kind="stable")]
        sp = part[order]
        parts, first, counts = np.unique(sp, return_index=True, return_counts=True)
        base = self._high.get(topic, {})
        starts = np.array([base.get(int(p), 0) for p in parts], dtype=np.int64)
        offs = np.repeat(starts - first, counts) + np.arange(order.size)

        k = order.size
        # a batch already in segment order (say, one partition) is not taken
        taken = t if np.array_equal(order, np.arange(n)) else t.take(order)
        sts = ts[order]
        # each column as the batch carries it (nulls filled) or its
        # default scalar for every row; NB: a null id/epoch/sequence is -1,
        # a legitimate 0 stays 0
        col = {}
        for c, d in _RECORD_DEFAULTS.items():
            if c not in cols:
                col[c] = d
            elif d.is_valid and taken[c].null_count:
                col[c] = taken[c].fill_null(d)
            else:
                col[c] = taken[c]

        bases: dict[int, int] = {}
        if k:
            rel = self._write_local_segment(topic, cfg, pa.table({
                "partition": pa.array(sp, pa.int32()),
                "timestamp": pa.array(sts, pa.timestamp("us", tz="UTC")),
                **{
                    c: pa.repeat(v, k) if isinstance(v, pa.Scalar) else v
                    for c, v in col.items()
                },
                "offset": pa.array(offs, pa.int64()),
            }))
            high = self._high.setdefault(topic, {})
            for p, s, c in zip(parts.tolist(), starts.tolist(), counts.tolist()):
                bases[p] = s
                high[p] = s + c
            self._files[topic] = self._files[topic] + [rel]
            self._stats.setdefault(topic, {})[rel] = [
                int(sp[0]), int(sp[-1]), int(offs.min()), int(offs.max()),
                int(order.size), int(sts.min()), int(sts.max()),
            ]

        prev_tail = self._tail.get(topic) or {}
        prev_sizes = self._tail_bytes.get(topic, {}) if prev_tail else {}
        self._commit_manifest(topic)  # atomic visibility point (clears tail)
        spans = zip(parts.tolist(), first.tolist(), (first + counts).tolist(), starts.tolist())
        columns = [sp, sts, *col.values(), offs]
        self._update_tail(topic, prev_tail, prev_sizes, columns, nbytes[order], spans)
        return bases

    def _write_local_segment(self, topic: str, cfg: TopicConfig, recs) -> str:
        """One (partition, offset)-sorted parquet segment via pyarrow,
        byte-compatible with the Spark-written ones (same schema, micros
        timestamps, dictionary off). ``recs`` holds the segment columns.
        Returns the root-relative path."""
        import uuid

        import pyarrow.parquet as pq

        rel = os.path.join(topic, f"local-{uuid.uuid4().hex}.parquet")
        dest = os.path.join(self.root, rel)
        try:
            raw = pa.OSFile(dest, "wb")
        except FileNotFoundError:  # the topic dir is made at its first write
            os.makedirs(self._topic_dir(topic), exist_ok=True)
            raw = pa.OSFile(dest, "wb")
        # buffered: the writer's many small header and footer writes
        # become a few syscalls; bigger writes pass straight through
        with pa.BufferedOutputStream(raw, 1 << 16) as f:
            pq.write_table(
                recs, f, compression=_PARQUET_CODECS.get(cfg.compression, "snappy"),
                use_dictionary=False,
            )
        return rel

    def _validate_schema_ids_local(self, values, subject: str) -> None:
        """Driver-side twin of _validate_schema_ids over a pyarrow binary
        array of values (same error surface)."""
        from redpanda_spark.functions.hashes import string_array_bytes_offsets

        if self.registry is None:
            raise ProduceError(
                "INVALID_CONFIG", "schema-id validation requires a registry"
            )
        ids = [
            int(self.registry.get_version(subject, v).id)
            for v in self.registry.versions(subject)
        ]
        data, off = string_array_bytes_offsets(values)
        at = off[:-1]
        if data.size == 0:
            data = np.zeros(1, dtype=np.uint8)

        def byte(j):
            return data[np.minimum(at + j, data.size - 1)].astype(np.int64)

        sid = (byte(1) << 24) | (byte(2) << 16) | (byte(3) << 8) | byte(4)
        good = (off[1:] - at >= 5) & (byte(0) == 0) & np.isin(sid, ids)
        bad = int((~good & ~np.asarray(values.is_null())).sum())
        if bad:
            raise ProduceError(
                "INVALID_RECORD",
                f"{bad} record(s) failed schema-id validation for subject {subject}",
            )

    def _update_tail(self, topic, prev_tail, prev_sizes, columns, nbytes, spans) -> None:
        """Post-commit hot-tail upkeep in O(batch). ``columns`` holds the
        committed batch sorted by (partition, offset) (see
        ``_record_dicts``), ``nbytes`` its records' ``_record_bytes`` and
        ``spans`` (partition, first row, end row, base offset) per touched
        partition. Each partition's contiguous
        coverage is extended with its newest records, then trimmed to the
        row and byte budgets from the OLD end with one slice, so coverage
        always stays [start, high). The byte counts per cached partition
        are kept running, and the budgets are settled on the batch's
        arrays first, so record dicts are built only for the rows the tail
        keeps. The tail keeps the records as written (integer-µs
        timestamps); fetch_rows builds the Rows. Every (start, rows) pair
        stored here is new: a published pair or list is never mutated."""
        cap = self._tail_max_bytes
        tail = dict(prev_tail)  # dict order is the byte-budget trim order
        size = dict(prev_sizes)
        new: dict[int, list[int]] = {}  # partition -> [lo, end) rows kept
        for p, a, end, base in spans:
            lo = max(a, end - self._tail_max_rows)
            old = tail.get(p, (0, []))[1]
            if not (old and lo == a and old[-1]["offset"] + 1 == base):
                old, size[p] = [], 0  # superseded by newer rows, or a gap
            cut = max(0, len(old) + end - lo - self._tail_max_rows)
            size[p] += int(nbytes[lo:end].sum()) - sum(
                map(_record_bytes, itertools.islice(old, cut))
            )
            tail[p] = (0, old[cut:])
            new[p] = [lo, end]
        # topic-level byte budget (batch_cache memory reservation analog)
        total = sum(size.values())
        for p in list(tail):
            if total <= cap:
                break
            old, cut = tail[p][1], 0
            while cut < len(old) and total > cap:
                total -= _record_bytes(old[cut])
                size[p] -= _record_bytes(old[cut])
                cut += 1
            tail[p] = (0, old[cut:])
            if p in new and total > cap:
                lo, end = new[p]
                c = np.cumsum(nbytes[lo:end])
                k = min(int(np.searchsorted(c, total - cap)) + 1, end - lo)
                total -= int(c[k - 1])
                size[p] -= int(c[k - 1])
                new[p][0] = lo + k
        rows = _record_dicts(
            columns,
            np.array([i for lo, end in new.values() for i in range(lo, end)], np.int64),
            nbytes.size,
        )
        at = 0
        for p, (lo, end) in new.items():
            tail[p] = (0, tail[p][1] + rows[at:at + end - lo])
            at += end - lo
        for p, (_s, lst) in list(tail.items()):
            if lst:
                tail[p] = (lst[0]["offset"], lst)
            else:
                del tail[p]
                del size[p]
        self._tail[topic] = tail
        self._tail_bytes[topic] = size

    def fetch_rows(
        self,
        topic: str,
        partition: int,
        offset: int = 0,
        max_records: int | None = None,
        max_bytes: int | None = None,
        isolation: str = "read_uncommitted",
    ) -> list:
        """Row-level fetch for consumers, in-process with ZERO Spark jobs:
        served from the hot-tail cache when it covers ``offset``, else
        read with pyarrow from the manifest-pruned parquet segments of
        both tiers — the reference's batch cache in front of
        `storage::log_reader` (`storage/log_reader.h:131`). Both sources
        go through the same log start, read_committed visibility, byte
        budget (whole records; the first one returns even alone over
        budget) and then record cap, and the Rows equal
        ``fetch(...).collect()`` sorted by offset."""
        cut = max(offset, self._log_starts(topic).get(partition, 0))
        tail = self._tail.get(topic, {}).get(partition)
        if tail is not None and cut >= tail[0]:
            # contiguous offsets from tail[0]: record cut is at cut - tail[0]
            lst = tail[1]
            recs = map(lst.__getitem__, range(cut - tail[0], len(lst)))
            counts = {"tail_cache_hits": 1}
        else:
            recs = self._segment_records(topic, partition, cut)
            counts = {"tail_cache_misses": 1, "fetch_requests": 1}
        visible = self._visibility(topic, partition, isolation)
        if visible is not None:
            recs = filter(visible, recs)
        taken, size = [], 0
        # checked before each pull, so a met limit opens no further segment
        while (max_bytes is None or size < max_bytes) and (
            max_records is None or len(taken) < max_records
        ):
            r = next(recs, None)
            if r is None:
                break
            taken.append(r)
            size += _record_bytes(r)
        self._count(topic, fetched_rows=len(taken), fetched_bytes=size, **counts)
        return [_record_row(r) for r in taken]

    def _segment_records(self, topic: str, partition: int, cut: int):
        """Records of ``partition`` at/after ``cut`` in offset order, from
        the segments the manifest stats index leaves (hot, then cold
        through the cold cache). Segments are opened in ascending
        min-offset order, each only once the merge reaches its min
        offset, so a fetch that stops early leaves the rest unread. A
        manifest-listed segment missing on disk raises."""
        import heapq

        def min_offset(stats, rel) -> int:
            s = stats.get(rel)
            return s[2] if s else -1  # no stats: read it first

        hot = self._pruned_files(topic, partition=partition, min_offset=cut)
        cold = self._pruned_archived(topic, partition=partition, min_offset=cut)
        hot_stats = self._stats.get(topic, {})
        cold_stats = self._archived_stats.get(topic, {})
        cands = [
            (min_offset(hot_stats, rel), self._fsio, os.path.join(self.root, rel))
            for rel in hot
        ]
        for rel, path in zip(cold, self._cold_paths(topic, cold)):
            # _cold_paths leaves a segment on the archive root or maps it
            # into the local cold cache
            remote = path == os.path.join(self.archive_root, rel)
            fs = self._afsio if remote else fsio.LocalFS()
            cands.append((min_offset(cold_stats, rel), fs, path))
        cands.sort(key=lambda c: c[0])
        heap: list = []
        nxt = 0
        while True:
            while nxt < len(cands) and (not heap or cands[nxt][0] <= heap[0][0]):
                it = self._read_segment(cands[nxt][1], cands[nxt][2], partition, cut)
                first = next(it, None)
                if first is not None:
                    heapq.heappush(heap, (first["offset"], nxt, first, it))
                nxt += 1
            if not heap:
                return
            _o, i, rec, it = heap[0]
            yield rec
            r = next(it, None)
            if r is None:
                heapq.heappop(heap)
            else:
                heapq.heapreplace(heap, (r["offset"], i, r, it))

    def _read_segment(self, fs, path: str, partition: int, cut: int):
        """One segment's records of ``partition`` at/after ``cut`` as
        record dicts in offset order, converted batch by batch as the
        caller consumes them."""
        t = self._read_records(
            fs, path, filters=[("partition", "=", partition), ("offset", ">=", cut)]
        )
        for batch in t.sort_by("offset").to_batches(max_chunksize=1024):
            yield from batch.to_pylist()

    def _read_records(self, fs, path: str, filters=None):
        """One segment's columns in ``_RecordRow`` order as an Arrow
        table, timestamps as integer µs."""
        t = self._read_parquet_file(fs, path, columns=list(_RecordRow), filters=filters)
        ts = t["timestamp"].cast(pa.timestamp("us"), safe=False).cast(pa.int64())
        return t.set_column(1, "timestamp", ts)

    def _read_parquet_file(self, fs, path: str, columns=None, filters=None):
        """One parquet file as a pyarrow table — direct-path on a local
        filesystem, bytes-through-the-driver on a URI one (the records of
        OFFSETS_TOPIC, and the few segments a row fetch reads)."""
        import pyarrow.parquet as _pq

        if getattr(fs, "is_local", True):
            return _pq.read_table(
                path, columns=columns, filters=filters, partitioning=None
            )
        import io as _io

        return _pq.read_table(
            _io.BytesIO(fs.read_bytes(path)), columns=columns, filters=filters
        )

    def _tx_ranges_local(self, topic=None, partition=None) -> list[dict]:
        """Live tx ranges (zero Spark jobs) of one partition, or of every
        partition: the "tx" records of OFFSETS_TOPIC's keep-latest map,
        where a range's EndTxn record replaced its open one under the same
        key, read from the (topic, partition) index replayed beside it."""
        self._group_map()
        index = self._group_cache[2]
        parts = index.values() if topic is None else [index.get((topic, partition), {})]
        return [
            {"topic": k[1], "partition": k[2], "producer_id": k[3],
             "first_offset": k[4], **v}
            for part in parts
            for k, v in part.items()
        ]

    def _visibility(self, topic, partition, isolation):
        """The read_committed visibility test of one partition's records,
        or None at read_uncommitted. Applied in-process from the replayed
        tx ranges, as the reference's fetch applies the
        LSO as a read bound (`handlers/fetch.cc:355-399`): offsets below
        the LSO (min open-txn first_offset, else HWM), outside aborted
        ranges, never control rows — the same predicates
        operators/transactions.py::read_committed runs relationally."""
        if isolation != "read_committed":
            return None
        ranges = self._tx_ranges_local(topic, partition)
        hwm = self._high.get(topic, {}).get(partition, 0)
        open_first = min(
            (r["first_offset"] for r in ranges if r["outcome"] == "open"),
            default=None,
        )
        lso = hwm if open_first is None else min(open_first, hwm)
        aborted = [
            (r["producer_id"], r["first_offset"], r["last_offset"])
            for r in ranges
            if r["outcome"] == "aborted"
        ]

        def visible(r) -> bool:
            o = r["offset"]
            return not (
                o >= lso
                or r["is_control"]
                or r["is_transactional"]
                and any(
                    pid == r["producer_id"] and fo <= o <= lo
                    for pid, fo, lo in aborted
                )
            )

        return visible

    def _idempotence_gate(self, topic: str, df: DataFrame) -> DataFrame:
        """Broker-side sequence window per (partition, producer): the
        reference's idempotent_replicate (`cluster/rm_stm.h:296-302`,
        dedup window `cluster/producer_state.h:46-98`).

        Per (partition, pid): a batch whose sequences were all appended
        before is DROPPED silently (the duplicate-ack path — the client
        retried a request the broker already committed); a batch starting
        beyond last_seq+1 is rejected OUT_OF_ORDER_SEQUENCE_NUMBER; a
        lower epoch than the fenced-in one is rejected
        INVALID_PRODUCER_EPOCH; a higher epoch resets the window. State
        commits in the SAME manifest flip as the data — crash-atomic with
        the offsets, like the reference's stm snapshot riding raft.

        One extra small aggregation job per produce, only on batches that
        actually carry producer ids."""
        stats = (
            df.where(F.col("producer_id") >= 0)
            .groupBy("partition", "producer_id", "producer_epoch")
            .agg(
                F.min("base_sequence").alias("min_seq"),
                F.max("base_sequence").alias("max_seq"),
            )
            .collect()
        )
        if not stats:
            return df
        drop_all, trim = self._idempotence_decide(topic, stats)
        cond = None
        for p, pid in drop_all:
            c = (
                (F.col("partition") == p)
                & (F.col("producer_id") == pid)
            )
            cond = c if cond is None else cond | c
        for p, pid, last in trim:
            c = (
                (F.col("partition") == p)
                & (F.col("producer_id") == pid)
                & (F.col("base_sequence") <= last)
            )
            cond = c if cond is None else cond | c
        return df if cond is None else df.where(~cond)

    def _idempotence_decide(
        self, topic: str, stats
    ) -> tuple[list[tuple[int, int]], list[tuple[int, int, int]]]:
        """Shared producer-window decision for both produce paths.

        ``stats``: mappings with partition / producer_id / producer_epoch /
        min_seq / max_seq per (partition, pid>=0, epoch) group. Mutates the
        manifest-committed window state; returns (drop_all [(p, pid)],
        trim [(p, pid, last_seq)]). Raises on fencing/sequence-gap errors
        exactly like the reference rm_stm (`cluster/rm_stm.h:296-302`)."""
        state = self._producers.setdefault(topic, {})
        drop_all: list[tuple[int, int]] = []
        trim: list[tuple[int, int, int]] = []  # (partition, pid, last_seq)
        for r in sorted(stats, key=lambda x: x["producer_epoch"]):
            key = f"{r['partition']}:{r['producer_id']}"
            cur = state.get(key)
            epoch = int(r["producer_epoch"])
            if cur is not None:
                if epoch < cur[0]:
                    raise ProduceError(
                        "INVALID_PRODUCER_EPOCH",
                        f"producer {r['producer_id']} epoch {epoch} < fenced {cur[0]}",
                    )
                last = -1 if epoch > cur[0] else cur[1]
            else:
                last = -1
            if r["min_seq"] > last + 1:
                raise ProduceError(
                    "OUT_OF_ORDER_SEQUENCE_NUMBER",
                    f"partition {r['partition']} producer {r['producer_id']}: "
                    f"first seq {r['min_seq']} after last committed {last}",
                )
            if r["max_seq"] <= last:
                drop_all.append((r["partition"], r["producer_id"]))
            elif r["min_seq"] <= last:
                trim.append((r["partition"], r["producer_id"], last))
            state[key] = [epoch, max(last, int(r["max_seq"])), int(time.time() * 1000)]
        return drop_all, trim

    def _footer_stats(
        self, paths: list[str], base: str | None = None
    ) -> dict[str, list[int]]:
        """Per-file [min_p, max_p, min_o, max_o, rows, min_ts_us, max_ts_us]
        from parquet footers — the manifest pruning index entries (Iceberg
        data-file column stats analog). The trailing timestamp pair (epoch
        micros) is optional — older manifests and files without timestamp
        stats keep the 5-element form; consumers must treat entries
        positionally with len checks. Files whose footers can't be read
        simply get no entry and are never pruned. ``base`` picks the root
        the returned keys are relative to (default: the hot-tier root)."""
        import datetime as _dt

        import pyarrow.parquet as pq

        base = base or self.root
        out: dict[str, list[int]] = {}
        for path in paths:
            try:
                # pyarrow wants a plain path for local files; non-file URI
                # roots simply skip stats (files stay unprunable, correct)
                local = path
                if local.startswith("file:"):
                    local = "/" + local.split(":", 1)[1].lstrip("/")
                md = pq.ParquetFile(local).metadata
                agg: dict[str, list[int]] = {}
                for j in range(md.num_row_groups):
                    rg = md.row_group(j)
                    for i in range(rg.num_columns):
                        c = rg.column(i)
                        if c.path_in_schema in ("partition", "offset", "timestamp") and (
                            c.statistics is not None
                        ):
                            s = c.statistics
                            if not s.has_min_max:
                                if c.path_in_schema == "timestamp":
                                    continue
                                raise ValueError("no min/max")
                            mn, mx = s.min, s.max
                            if isinstance(mn, _dt.datetime):
                                # integer micros via timedelta floor-div:
                                # float .timestamp()*1e6 has ~0.25us
                                # representation error which can misplace
                                # a segment at the exact cutoff microsecond
                                ep = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                                us = _dt.timedelta(microseconds=1)
                                utc = _dt.timezone.utc
                                mn = (mn.replace(tzinfo=mn.tzinfo or utc) - ep) // us
                                mx = (mx.replace(tzinfo=mx.tzinfo or utc) - ep) // us
                            cur = agg.get(c.path_in_schema)
                            if cur is None:
                                agg[c.path_in_schema] = [int(mn), int(mx)]
                            else:
                                cur[0] = min(cur[0], int(mn))
                                cur[1] = max(cur[1], int(mx))
                if md.num_rows == 0:
                    out[os.path.relpath(path, base)] = [0, -1, 0, -1, 0]
                elif "partition" in agg and "offset" in agg:
                    entry = [*agg["partition"], *agg["offset"], md.num_rows]
                    if "timestamp" in agg:
                        entry += agg["timestamp"]
                    out[os.path.relpath(path, base)] = entry
            except Exception:
                continue
        return out

    def _validate_schema_ids(self, batch: DataFrame, subject: str) -> None:
        """Reject the batch if any non-null value lacks the registry wire
        format (magic 0x00 + big-endian schema id registered under
        ``subject``). All-JVM check: substring/hex/conv on the binary value
        — no per-row Python (produce.cc:360-362 parity)."""
        if self.registry is None:
            raise ProduceError(
                "INVALID_CONFIG", "schema-id validation requires a registry"
            )
        ids = [
            int(self.registry.get_version(subject, v).id)
            for v in self.registry.versions(subject)
        ]
        val = F.col("value")
        sid = F.conv(F.hex(F.substring(val, 2, 4)), 16, 10).cast("long")
        bad = batch.where(
            val.isNotNull()
            & (
                (F.length(val) < 5)
                | (F.substring(val, 1, 1) != F.lit(b"\x00"))
                | (~sid.isin(ids) if ids else F.lit(True))
            )
        ).count()
        if bad:
            raise ProduceError(
                "INVALID_RECORD",
                f"{bad} record(s) failed schema-id validation for subject {subject}",
            )

    # -- read paths -------------------------------------------------------

    def log(self, topic: str) -> DataFrame:
        """The topic as a DataFrame — the FULL log, archive tier included
        (the reference's remote_partition read path: a fetch below the
        local log start routes to cloud segments transparently,
        `cloud_storage/remote_partition.cc`).

        The scan is over the manifest's explicit live-file list —
        committed snapshot isolation and no directory LIST on the read
        path (the same trick Iceberg uses to avoid O(objects) LIST at
        scale)."""
        self._require(topic)
        df = self._scan(
            [os.path.join(self.root, f) for f in self._files[topic]]
            + self._cold_paths(topic, self._archived.get(topic, []))
        )
        starts = self._log_starts(topic)
        if starts:
            df = LOG.delete_records(df, starts)
        return df

    def _local_log(self, topic: str) -> DataFrame:
        """The HOT tier only — the maintenance view. Local segment
        rewrites (compaction, segment merging, local retention) must never
        pull archived data back into the topic dir, so every maintenance
        job reads through this instead of ``log`` (the reference's
        disk_log maintenance likewise operates below the archival
        boundary)."""
        self._require(topic)
        df = self._scan([os.path.join(self.root, f) for f in self._files[topic]])
        starts = self._log_starts(topic)
        if starts:
            df = LOG.delete_records(df, starts)
        return df

    def _scan(self, paths: list[str]) -> DataFrame:
        """The record DataFrame over explicit segment paths, read with
        ``_SEGMENT_SCHEMA``. Hot and cold segments share it, so a tiered
        read is one multi-path parquet read whose build runs no Spark job
        (listing more than ``parallelPartitionDiscovery.threshold`` paths
        still does). No paths is the empty log; a listed segment missing
        on disk raises when the read is built, so a rewrite never commits
        a lost read as empty. The empty log is an empty Arrow table, a
        LocalRelation whose reads run no Spark job (a list-built frame is
        an RDD scan)."""
        if not paths:
            return self.spark.createDataFrame(
                _SEGMENT_FILE_ARROW.empty_table(), schema=_SEGMENT_SCHEMA
            )
        return self.spark.read.schema(_SEGMENT_SCHEMA).parquet(*paths)

    def enable_cold_cache(self, max_bytes: int, cache_dir: str | None = None):
        """Turn on the cold-read cache (cloud_storage/cache_service
        analog). ``cache_dir`` must be LOCAL disk; defaults to
        <root>/_cold_cache for local roots, a /tmp dir keyed by the root
        otherwise."""
        import hashlib
        import tempfile

        self.cold_cache_bytes = max_bytes
        if cache_dir is None:
            if getattr(self._fsio, "is_local", False):
                cache_dir = os.path.join(self.root, "_cold_cache")
            else:
                cache_dir = os.path.join(
                    tempfile.gettempdir(),
                    "rps_cold_cache",
                    hashlib.md5(self.root.encode()).hexdigest(),
                )
        self._cold_cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        # adopt whatever survived a previous process (disposable state —
        # names are epoch-unique so adoption can't serve wrong bytes)
        self._cold_lru = {}
        for dirpath, _dirs, names in os.walk(cache_dir):
            for n in names:
                p = os.path.join(dirpath, n)
                self._cold_lru[os.path.relpath(p, cache_dir)] = os.path.getsize(p)

    def _cold_paths(self, topic: str, archived: list[str]) -> list[str]:
        """Map archived relpaths to readable paths — through the local
        cache when enabled (copy-once + LRU evict), else the archive
        root directly. Only the (pruned) files a read actually touches
        are ever copied."""
        if not archived or not self.cold_cache_bytes or self._cold_cache_dir is None:
            return [os.path.join(self.archive_root, f) for f in archived]
        pinned = set(archived)  # the scan being assembled needs ALL of these
        misses = []
        hits = 0
        for rel in archived:
            local = os.path.join(self._cold_cache_dir, rel)
            if rel in self._cold_lru and os.path.exists(local):
                self._cold_lru[rel] = self._cold_lru.pop(rel)  # touch: move to MRU
                hits += 1
            else:
                misses.append((rel, local))
        self._count(topic, cold_cache_hits=hits, cold_cache_misses=len(misses))
        if misses:
            # concurrent fills (cache_service downloads in parallel): each
            # is tmp+rename, so a racing or crashed fill never leaves a
            # truncated segment behind
            from concurrent.futures import ThreadPoolExecutor

            def _fill(pair):
                rel, local = pair
                os.makedirs(os.path.dirname(local), exist_ok=True)
                fsio.copy_file(
                    self._afsio,
                    os.path.join(self.archive_root, rel),
                    fsio.LocalFS(),
                    local,
                )

            if len(misses) > 1:
                with ThreadPoolExecutor(max_workers=min(8, len(misses))) as ex:
                    list(ex.map(_fill, misses))
            else:
                _fill(misses[0])
            for rel, local in misses:
                self._cold_lru.pop(rel, None)
                self._cold_lru[rel] = os.path.getsize(local)
            self._evict_cold(pinned=pinned)
        return [os.path.join(self._cold_cache_dir, rel) for rel in archived]

    def _evict_cold(self, pinned: set[str] | None = None) -> None:
        """LRU-evict down to the byte budget — never touching ``pinned``
        entries (the current scan's working set may legitimately exceed
        the budget; it then shrinks on the next unpinned eviction)."""
        pinned = pinned or set()
        victims = [r for r in self._cold_lru if r not in pinned]
        while victims and sum(self._cold_lru.values()) > self.cold_cache_bytes:
            rel = victims.pop(0)  # least-recently used first
            self._cold_lru.pop(rel, None)
            try:
                os.remove(os.path.join(self._cold_cache_dir, rel))
            except OSError:
                pass

    def _pruned_files(
        self,
        topic: str,
        partition: int | None = None,
        min_offset: int | None = None,
    ) -> list[str]:
        """Manifest-level file pruning by (partition, offset) stats — the
        engine's sparse index. Conservative: a file is kept unless its
        stats PROVE it can't contain a matching row (files without stats
        are always kept), so the downstream filters remain the source of
        truth. ``max_o < min_offset`` is safe even though offsets are
        per-partition sequences: it bounds every partition's offsets in
        the file."""
        return self._prune(
            self._files[topic], self._stats.get(topic, {}), partition, min_offset
        )

    @staticmethod
    def _prune(
        files: list[str],
        stats: dict[str, list[int]],
        partition: int | None,
        min_offset: int | None,
    ) -> list[str]:
        keep: list[str] = []
        for f in files:
            s = stats.get(f)
            if s is not None:
                min_p, max_p, _min_o, max_o, _rows = s[:5]
                if partition is not None and not (min_p <= partition <= max_p):
                    continue
                if min_offset is not None and max_o < min_offset:
                    continue
            keep.append(f)
        return keep

    def _pruned_archived(
        self,
        topic: str,
        partition: int | None = None,
        min_offset: int | None = None,
    ) -> list[str]:
        """Cold-tier pruning over the SAME stats index — a fetch of recent
        offsets never opens an archived segment (the reference's manifest
        lookup deciding local vs cloud, `remote_partition.cc` offset
        routing)."""
        return self._prune(
            self._archived.get(topic, []),
            self._archived_stats.get(topic, {}),
            partition,
            min_offset,
        )

    def log_stream(self, topic: str, max_files_per_trigger: int = 64) -> DataFrame:
        """The topic as a streaming DataFrame — the continuous-consume mode
        (Fetch long-poll dissolves into Structured Streaming triggers,
        SURVEY.md §2.6). Micro-batch size is bounded by
        ``maxFilesPerTrigger`` (maxOffsetsPerTrigger analog).

        Tiered topics: the file stream covers the HOT tier (a tailing
        consumer never reads segments old enough to archive — archival
        moves data past retention.local.target.ms only). Historical
        backfill below the local boundary goes through ``fetch``/``log``,
        which span both tiers — the same split the reference makes
        between the follower fetch path and remote_partition reads.

        The stream reads the topic directory with ``_SEGMENT_SCHEMA``, so
        starting it runs no Spark job."""
        self._require(topic)
        return (
            self.spark.readStream.schema(_SEGMENT_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(self._topic_dir(topic))
        )

    def fetch_poll(
        self,
        topic: str,
        partition: int,
        offset: int = 0,
        min_records: int = 1,
        max_wait_s: float = 5.0,
        poll_interval_s: float = 0.2,
        isolation: str = "read_uncommitted",
    ):
        """Synchronous long-poll fetch: return rows at/after ``offset`` once
        at least ``min_records`` are visible, or whatever is there when
        ``max_wait_s`` expires (fetch.cc op_context min_bytes/max_wait,
        `fetch.h:34`). Driver-side poll loop — streaming consumers should
        use ``log_stream`` instead.

        Each poll is one ``fetch_rows``: served in-process with ZERO
        Spark jobs, from the hot-tail cache (the just-committed batches,
        `storage/batch_cache.h:101`) when it covers the range, else from
        a pyarrow read of the manifest-pruned parquet segments."""
        deadline = time.monotonic() + max_wait_s
        while True:
            rows = self.fetch_rows(topic, partition, offset=offset, isolation=isolation)
            if len(rows) >= min_records or time.monotonic() >= deadline:
                return rows
            time.sleep(poll_interval_s)

    def fetch(
        self,
        topic: str,
        partition: int,
        offset: int = 0,
        max_records: int | None = None,
        isolation: str = "read_uncommitted",
        max_bytes: int | None = None,
    ) -> DataFrame:
        self._require(topic)
        # the relational path returns a lazy plan, so rows/bytes can't be
        # counted here without forcing a job — requests are
        self._count(topic, fetch_requests=1)
        # manifest-level pruning: only segments whose stats overlap the
        # requested (partition, offset-range) reach the Spark scan —
        # applied per tier, so hot fetches never open cold segments
        hot = self._pruned_files(topic, partition=partition, min_offset=offset)
        cold = self._pruned_archived(topic, partition=partition, min_offset=offset)
        log = self._scan(
            [os.path.join(self.root, f) for f in hot] + self._cold_paths(topic, cold)
        )
        starts = self._log_starts(topic)
        if starts:
            log = LOG.delete_records(log, starts)
        if isolation == "read_committed":
            ranges = self.tx_ranges().where(F.col("topic") == topic)
            log = _read_committed(log, ranges)
        if max_bytes is not None:
            # Kafka byte budget (max.partition.fetch.bytes): whole records
            # until the budget is spent, first record always returned
            log = LOG.fetch_max_bytes(
                log, max_bytes, partition=partition, start_offset=offset
            )
        return LOG.fetch(log, partition=partition, start_offset=offset, max_records=max_records)

    def list_offsets(self, topic: str, isolation: str = "read_uncommitted") -> DataFrame:
        """Earliest/latest per partition; at read_committed the "latest"
        special returns the LSO instead of the HWM
        (`handlers/list_offsets.cc:100-132` isolation-aware bound)."""
        out = LOG.list_offsets(self.log(topic))
        if isolation != "read_committed":
            return out
        from redpanda_spark.operators.transactions import last_stable_offset

        ranges = self.tx_ranges().where(F.col("topic") == topic)
        lso = last_stable_offset(self.log(topic), ranges)
        return (
            out.join(F.broadcast(lso), "partition", "left")
            .select(
                "partition",
                "earliest_offset",
                F.least(
                    F.col("latest_offset"), F.coalesce("lso", F.col("latest_offset"))
                ).alias("latest_offset"),
            )
        )

    def timequery(self, topic: str, ts) -> DataFrame:
        return LOG.timequery(self.log(topic), ts)

    def max_timestamp_offsets(self, topic: str) -> DataFrame:
        """ListOffsets MAX_TIMESTAMP (-3, KIP-734)."""
        return LOG.max_timestamp_offsets(self.log(topic))

    def high_watermarks(self, topic: str) -> dict[int, int]:
        self._require(topic)
        return dict(self._high.get(topic, {}))

    def route_records(self, topic: str, rows: list[dict]) -> list[int]:
        """Each record dict's partition (``_route``), for a caller that must
        know it before the produce; pinned as explicit partitions, it
        holds on every produce path."""
        key, part = (
            pa.array([r.get(c) for r in rows], _RECORD_ARROW.field(c).type)
            if any(c in r for r in rows)
            else None
            for c in ("key", "partition")
        )
        return _route(self._require(topic).partitions, len(rows), key, part).tolist()

    def topic_stats(self, topic: str) -> dict:
        """O(1) observability from the manifest — no scan, no Spark job
        (the reference's per-partition probes /public_metrics surface:
        segment counts, on-disk bytes, watermarks, log starts). Row count
        comes from the manifest's per-file stats; files without stats
        report None rather than a wrong number."""
        self._require(topic)
        files = self._files[topic]
        sizes = [self._fsio.getsize(os.path.join(self.root, f)) for f in files]
        rows = self._stats_rows(topic)
        arch = self._archived.get(topic, [])
        astats = self._archived_stats.get(topic, {})
        arch_rows = (
            sum(astats[f][4] for f in arch)
            if arch and all(f in astats for f in arch)
            else (0 if not arch else None)
        )
        return {
            "segments": len(files),
            "bytes": sum(sizes),
            "rows": rows,
            "archived_segments": len(arch),
            "archived_bytes": sum(
                self._afsio.getsize(os.path.join(self.archive_root, f))
                for f in arch
            ),
            "archived_rows": arch_rows,
            "high_watermarks": dict(self._high.get(topic, {})),
            "log_starts": self._log_starts(topic),
            "producers_tracked": len(self._producers.get(topic, {})),
            "dirty_ratio": round(self.dirty_ratio(topic), 6),
        }

    # -- admin / maintenance ---------------------------------------------

    def _log_starts(self, topic: str) -> dict[int, int]:
        """{partition: log start offset}, a copy the caller may mutate;
        the stored config string is parsed again only when it changed."""
        raw = self._require(topic).configs.get("_log_starts", "{}")
        hit = self._log_start_cache.get(topic)
        if hit is None or hit[0] != raw:
            hit = (raw, {int(p): int(o) for p, o in json.loads(raw).items()})
            self._log_start_cache[topic] = hit
        return dict(hit[1])

    def delete_records(self, topic: str, start_offsets: dict[int, int]) -> None:
        """Advance log start offsets (visibility-immediate prefix truncate).
        As in KIP-107, -1 means the high watermark, and an offset past it
        is refused whole with OFFSET_OUT_OF_RANGE."""
        cfg = self._require(topic)
        self._refuse_replica_mutation(topic)
        cur = self._log_starts(topic)
        high = self._high.get(topic, {})
        for p, o in start_offsets.items():
            hwm = high.get(p, 0)
            if not -1 <= o <= hwm:
                raise OffsetOutOfRangeError(
                    f"{topic}/{p}: offset {o} is not between 0 and the high "
                    f"watermark {hwm} (or -1, which means it)"
                )
        for p, o in start_offsets.items():
            cur[p] = max(cur.get(p, 0), high.get(p, 0) if o == -1 else o)
        cfg.configs["_log_starts"] = json.dumps(cur)
        self._save_state()

    def run_retention(self, topic: str, now_ms: int | None = None) -> None:
        """Apply time + size retention (the reference's segment GC,
        `disk_log_impl.cc:260-417`).

        With neither retention.ms nor retention.bytes set nothing ages
        out, so nothing is rewritten: the segments of either tier that lie
        wholly below the log start (DeleteRecords) leave the manifest and
        then the disk, the reference's prefix-truncation eviction
        (`cluster/log_eviction_stm.cc`). A partly truncated segment stays;
        reads filter it by the log start. Decided from the manifest stats
        alone, with no Spark job.

        Time-only retention takes the SEGMENT fast path: manifest
        timestamp stats classify every live file as fully-expired (max_ts
        < cutoff → metadata-only drop), untouched (min_ts >= cutoff → not
        even read), or boundary (straddles the cutoff → row-filter
        rewrite of just those files, in-process on Arrow when they are
        driver-sized). Work is O(expired + boundary files),
        not O(log) — on a 100 TB topic the nightly tick drops whole aged
        segments and rewrites at most one boundary file per partition,
        exactly the reference's behavior. Results are row-identical to
        the full filter. Size retention, and time retention over a file
        without timestamp stats, take the full Spark rewrite."""
        cfg = self._require(topic)
        self._refuse_replica_mutation(topic)
        if cfg.retention_ms is None and cfg.retention_bytes is None:
            self._drop_below_log_start(topic)
            return
        if cfg.retention_bytes is None and self._retention_time_segments(topic, now_ms):
            return

        def _filters(log: DataFrame) -> DataFrame:
            if cfg.retention_ms is not None:
                now = (now_ms or int(time.time() * 1000)) / 1000.0
                # same integer-microsecond cutoff the segment fast path
                # uses (_retention_time_segments), so the two paths are
                # row-identical even at the exact cutoff microsecond
                cutoff_us = int((now - cfg.retention_ms / 1000.0) * 1e6)
                log = log.where(
                    F.unix_micros(F.col("timestamp")) >= F.lit(cutoff_us)
                )
            if cfg.retention_bytes is not None:
                sized = log.withColumn(
                    "_nbytes",
                    F.lit(16)
                    + F.coalesce(F.length("key"), F.lit(0))
                    + F.coalesce(F.length("value"), F.lit(0)),
                )
                log = LOG.retain_by_size(
                    sized, cfg.retention_bytes, "_nbytes"
                ).drop("_nbytes")
            return log

        archived = self._archived.get(topic, [])
        if not archived:
            self._rewrite(topic, _filters(self._local_log(topic)))
            return
        # Tiered fallback (size retention, or a file without stats):
        # retention_ms/bytes govern the TOTAL log, so the filters run over
        # the tier-tagged union — size retention keeps the newest bytes,
        # which evicts from the archive (oldest data) first, exactly the
        # reference's cloud-retention order — then each tier is rewritten
        # from its own surviving rows. Offsets are untouched.
        cold = self._scan([os.path.join(self.archive_root, f) for f in archived])
        starts = self._log_starts(topic)
        if starts:
            # physically drop DeleteRecords-truncated prefixes from the
            # cold tier too (the hot tier gets this via _local_log)
            cold = LOG.delete_records(cold, starts)
        cold = cold.withColumn("_tier", F.lit("a"))
        hot = self._local_log(topic).withColumn("_tier", F.lit("l"))
        # Spill the surviving rows to a durable temp dir BEFORE the first
        # tier swap: the local rewrite deletes the hot-tier source files
        # before the archive-side pass runs, so the archive pass must not
        # be recomputable from the now-deleted inputs. Parquet spill (not
        # localCheckpoint/persist) both survives executor death and is
        # freed deterministically — a multi-topic sweep would otherwise
        # stack one block-manager copy per topic until driver GC runs.
        spill = self._topic_dir(topic) + ".retain.tmp"
        self._fsio.delete(spill, recursive=True)
        _filters(cold.unionByName(hot)).write.parquet(spill)
        try:
            kept = self.spark.read.schema(
                T.StructType([*_SEGMENT_SCHEMA, T.StructField("_tier", T.StringType())])
            ).parquet(spill)
            self._rewrite(
                topic, kept.where(F.col("_tier") == "l").drop("_tier")
            )
            self._rewrite_archive(
                topic, kept.where(F.col("_tier") == "a").drop("_tier")
            )
        finally:
            self._fsio.delete(spill, recursive=True)

    def _drop_below_log_start(self, topic: str) -> None:
        """Drop the segments of both tiers that lie wholly below the log
        start: their max offset is below the smallest start of the
        partitions their stats span (an unset start is 0, and an empty
        segment spans none). Manifest math only; a file without stats
        stays."""
        starts = self._log_starts(topic)

        def below(files, stats) -> list[str]:
            return [
                f for f in files
                if (st := stats.get(f)) is not None and st[3] < min(
                    (starts.get(p, 0) for p in range(st[0], st[1] + 1)), default=0
                )
            ]

        gone = below(self._files[topic], self._stats.get(topic, {}))
        a_gone = below(
            self._archived.get(topic, []), self._archived_stats.get(topic, {})
        )
        if gone or a_gone:
            self._replace_segments(topic, gone, [], {}, a_gone, [], {})

    @staticmethod
    def _classify_expired(
        files: list[str], stats: dict[str, list[int]], cutoff_us: int
    ) -> tuple[list[str], list[str]] | None:
        """Split a segment list into (fully-expired, boundary) against an
        integer-µs cutoff using footer stats only. None = a file lacks the
        stats needed to classify (caller falls back to a full rewrite)."""
        drop: list[str] = []
        boundary: list[str] = []
        for f in files:
            st = stats.get(f)
            if st is None:
                return None
            if st[4] == 0:
                drop.append(f)  # empty segment: metadata-only removal
                continue
            if len(st) < 7:
                return None  # no timestamp stats for a non-empty file
            if st[6] < cutoff_us:
                drop.append(f)
            elif st[5] < cutoff_us:
                boundary.append(f)
        return drop, boundary

    def _retention_time_segments(self, topic: str, now_ms: int | None) -> bool:
        """Segment-granularity time retention, BOTH tiers. Returns True
        when handled (including the nothing-expired no-op); False → caller
        falls back to the full rewrite (a file without timestamp
        stats). Work is O(expired + boundary files) per
        tier; for a tiered topic this is the reference's cloud-retention
        housekeeping (`cluster/archival/archival_policy.cc`): aged cloud
        segments are dropped from the manifest without touching hot
        data."""
        cfg = self._require(topic)
        files = self._files[topic]
        stats = self._stats.get(topic, {})
        archived = self._archived.get(topic, [])
        astats = self._archived_stats.get(topic, {})
        now = (now_ms or int(time.time() * 1000)) / 1000.0
        cutoff_s = now - cfg.retention_ms / 1000.0
        cutoff_us = int(cutoff_s * 1e6)
        local_cls = self._classify_expired(files, stats, cutoff_us)
        arch_cls = self._classify_expired(archived, astats, cutoff_us)
        if local_cls is None or arch_cls is None:
            return False
        drop, boundary = local_cls
        a_drop, a_boundary = arch_cls
        if not drop and not boundary and not a_drop and not a_boundary:
            return True  # zero work, zero jobs
        new_rel: list[str] = []
        new_stats: dict[str, list[int]] = {}
        if boundary:
            paths = [os.path.join(self.root, f) for f in boundary]
            if self._driver_sized(sum(map(self._fsio.getsize, paths))):
                new_stats = self._merge_local(topic, boundary, min_ts_us=cutoff_us)
                new_rel = list(new_stats)
            else:
                new_rel = self._write_segments(
                    topic,
                    self._scan(paths).where(
                        F.unix_micros(F.col("timestamp")) >= F.lit(cutoff_us)
                    ),
                )
                new_stats = self._footer_stats(
                    [os.path.join(self.root, f) for f in new_rel]
                )
        a_new_rel: list[str] = []
        if a_boundary:
            a_new_rel = self._write_segments(
                topic,
                self._scan(
                    [os.path.join(self.archive_root, f) for f in a_boundary]
                ).where(F.unix_micros(F.col("timestamp")) >= F.lit(cutoff_us)),
                archive=True,
            )
        self._replace_segments(
            topic, drop + boundary, new_rel, new_stats,
            a_drop + a_boundary, a_new_rel, self._footer_stats(
                [os.path.join(self.archive_root, f) for f in a_new_rel],
                base=self.archive_root,
            ),
        )
        return True

    def run_cleanup(self, topic: str, now_ms: int | None = None) -> None:
        """Dispatch on cleanup.policy — 'delete', 'compact', or the combined
        'compact,delete' the reference also supports: compact first (keep
        latest per key), then age/size out what remains. Compaction is
        gated on min.cleanable.dirty.ratio so an already-clean log is not
        rewritten on every maintenance tick."""
        cfg = self._require(topic)
        policies = {p.strip() for p in cfg.cleanup_policy.split(",")}
        if "compact" in policies and (
            self.dirty_ratio(topic) >= cfg.min_cleanable_dirty_ratio
        ):
            self.run_compaction(topic, now_ms)
        if "delete" in policies:
            self.run_retention(topic, now_ms)

    def _adjust_clean_baseline(self, topic: str, rows_before: int | None) -> None:
        """Keep the dirty-ratio baseline honest across row-REMOVING
        rewrites (retention, delete-records, merges): rows removed are
        assumed to come from the CLEAN (oldest) portion first, so the
        baseline shrinks by the removed count — a conservative estimate
        that can only make compaction run earlier, never starve it.
        (run_compaction re-stamps the baseline right after, overriding
        this for the compaction path.) Unknown row counts reset the
        baseline to 0 = everything dirty."""
        clean = self._clean_rows.get(topic, 0)
        if not clean:
            return
        rows_after = self._stats_rows(topic)
        if rows_before is None or rows_after is None:
            self._clean_rows[topic] = 0
            return
        removed = max(0, rows_before - rows_after)
        self._clean_rows[topic] = max(0, clean - removed)

    def _stats_rows(self, topic: str) -> int | None:
        """Total live rows from the manifest's per-file stats — no Spark
        job. None when any live file lacks stats (unknown => treat as
        fully dirty)."""
        stats = self._stats.get(topic, {})
        total = 0
        for f in self._files[topic]:
            st = stats.get(f)
            if st is None or len(st) < 5:
                return None
            total += st[4]
        return total

    def dirty_ratio(self, topic: str) -> float:
        """Fraction of live rows appended since the last compaction
        (segment-granularity dirty ratio, like the reference's
        min_cleanable_dirty_ratio policy). Never-compacted or
        stats-unknown logs read as 1.0 (fully dirty); an empty log as
        0.0."""
        self._require(topic)
        total = self._stats_rows(topic)
        if total is None:
            return 1.0
        if total == 0:
            return 0.0
        clean = min(self._clean_rows.get(topic, 0), total)
        return (total - clean) / total

    def run_compaction(self, topic: str, now_ms: int | None = None) -> None:
        """Keep-latest-per-key + tombstone grace (cleanup.policy=compact).

        Aborted-transaction records are dropped FIRST (tx_reducer,
        `storage/compaction_reducers.h:217`): an aborted write must never
        win keep-latest over an older committed value. Open transactions'
        rows are excluded from keep-latest and unioned back untouched —
        an uncommitted record must not evict an older committed value for
        the same key, because if the tx later aborts the committed value
        would be permanently lost. The reference gets this by bounding
        compaction below the LSO; here it is a broadcast anti-join on the
        open ranges (same effect, per-producer precision)."""
        cfg = self._require(topic)
        self._refuse_replica_mutation(topic)
        if self._archived.get(topic):
            # keep-latest over a split log would be wrong (an archived key
            # could shadow-win); archival refuses compact topics, and this
            # guard closes the direct-call path
            raise ValueError("cannot compact a topic with archived segments")
        log = self._local_log(topic)
        ranges = self.tx_ranges().where(F.col("topic") == topic)

        def _range_cond():
            return (
                (F.col("partition") == F.col("a_partition"))
                & (F.col("producer_id") == F.col("a_pid"))
                & F.col("offset").between(F.col("first_offset"), F.col("last_offset"))
                & F.col("is_transactional")
            )

        aborted = ranges.where(F.col("outcome") == "aborted").select(
            F.col("partition").alias("a_partition"),
            F.col("producer_id").alias("a_pid"),
            "first_offset",
            "last_offset",
        )
        log = log.join(F.broadcast(aborted), _range_cond(), "left_anti")
        open_rngs = ranges.where(F.col("outcome") == "open").select(
            F.col("partition").alias("a_partition"),
            F.col("producer_id").alias("a_pid"),
            "first_offset",
            "last_offset",
        )
        in_open = log.join(F.broadcast(open_rngs), _range_cond(), "left_semi")
        compactable = log.join(F.broadcast(open_rngs), _range_cond(), "left_anti")
        now_s = (now_ms or int(time.time() * 1000)) / 1000.0
        compacted = compact_with_tombstone_grace(
            compactable,
            ["partition", "key"],
            "value",
            F.timestamp_seconds(F.lit(now_s)),
            cfg.delete_retention_ms,
        ).select(*log.columns)
        self._rewrite(topic, compacted.unionByName(in_open.select(*log.columns)))
        # stamp the clean baseline for the dirty-ratio trigger; the stats
        # were just refreshed by the rewrite, so this is manifest-side math
        self._clean_rows[topic] = self._stats_rows(topic) or 0
        self._commit_manifest(topic)

    def optimize_segments(
        self, topic: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> dict[str, int]:
        """Adjacent-segment merging (`disk_log_impl.cc:419` self/merge
        compaction; e2e parity: adjacent_segment_merging_test.py):
        consolidate the many small per-produce segment files into
        ~target-size, offset-sorted files. Rows, offsets and watermarks are
        unchanged — this is the small-files maintenance job that keeps a
        100 TB topic's file count (scan + listing cost) bounded. Merged
        files stay offset-contiguous on (partition, offset). Segments of a
        local root that total at most ``_LOCAL_PRODUCE_MAX_BYTES`` on disk
        merge in-process on Arrow (``_merge_local``), with no Spark job;
        bigger inputs and URI roots take one Spark range-shuffle job.
        Either way the manifest commit is the one atomic switch, as in the
        reference's segment replace, and truncated prefixes
        (DeleteRecords) are physically dropped, like the reference's
        eviction."""
        self._require(topic)
        files = self._files[topic]
        if not files:
            return {"files_before": 0, "files_after": 0}
        total = sum(self._fsio.getsize(os.path.join(self.root, f)) for f in files)
        n_target = max(1, -(-total // target_file_bytes))
        if len(files) <= n_target:
            return {"files_before": len(files), "files_after": len(files)}
        if self._driver_sized(total):
            merged = self._merge_local(topic, files, n_files=n_target)
            self._replace_segments(topic, files, list(merged), merged)
        else:
            self._rewrite(topic, self._local_log(topic), n_files=n_target)
        return {
            "files_before": len(files),
            "files_after": len(self._files[topic]),
        }

    # -- tiered storage (archival) -----------------------------------------

    def run_archival(self, topic: str, now_ms: int | None = None) -> dict:
        """Move segments whose newest row is older than
        retention.local.target.ms to the archive tier (the reference's
        upload loop, `cluster/archival/ntp_archiver_service.cc`: segments
        past the local target are PUT to object storage and evicted from
        local disk once the uploaded manifest commits).

        Offsets, stats, and visibility are unchanged — this is a data
        MOVEMENT operation, not retention: reads transparently span both
        tiers afterwards. Copy-then-commit-then-delete, so a crash at any
        point leaves the log intact (half-copied archive files are GC'd on
        reopen, local bytes are only deleted after the manifest flip).
        Work is O(segments past the target), not O(log)."""
        cfg = self._require(topic)
        self._refuse_replica_mutation(topic)
        if not cfg.remote_write:
            raise ValueError(f"topic {topic}: archival requires remote_write=True")
        if "compact" in cfg.cleanup_policy:
            # the reference constrains compacted topics' tiering the same
            # way (compacted reuploads are a separate, gated subsystem) —
            # keep-latest rewrites must not race the archive tier
            raise ValueError("archival supports cleanup.policy=delete only")
        if cfg.local_retention_ms is None:
            raise ValueError("local_retention_ms is not set")
        files = self._files[topic]
        stats = self._stats.get(topic, {})
        now = (now_ms or int(time.time() * 1000)) / 1000.0
        cutoff_us = int((now - cfg.local_retention_ms / 1000.0) * 1e6)
        move = [
            f
            for f in files
            if (st := stats.get(f)) is not None
            and len(st) >= 7
            and st[4] > 0
            and st[6] < cutoff_us
        ]
        if not move:
            return {"archived": 0, "remaining_local": len(files)}
        ad = self._archive_dir(topic)
        self._afsio.mkdirs(ad)
        epoch = self._arch_epoch.get(topic, 0)
        # concurrent uploads (the reference's archiver runs parallel PUTs,
        # `ntp_archiver_service.cc` upload loop): every copy is
        # tmp+rename and the manifest commits only after ALL land, so
        # ordering doesn't matter and a partial failure leaves orphans
        # the reopen GC collects
        from concurrent.futures import ThreadPoolExecutor

        dsts = [
            os.path.join(ad, f"e{epoch:06d}_{i:05d}.parquet")
            for i in range(len(move))
        ]

        def _upload(pair):
            src_rel, dst = pair
            fsio.copy_file(
                self._fsio, os.path.join(self.root, src_rel), self._afsio, dst
            )

        workers = min(8, len(move))
        if workers > 1:
            with ThreadPoolExecutor(max_workers=workers) as ex:
                list(ex.map(_upload, zip(move, dsts)))
        else:
            _upload((move[0], dsts[0]))
        new_rel: list[str] = []
        for f, dst in zip(move, dsts):
            rel = os.path.relpath(dst, self.archive_root)
            new_rel.append(rel)
            # footer stats are byte-identical to the source segment's
            self._archived_stats.setdefault(topic, {})[rel] = stats[f]
        self._arch_epoch[topic] = epoch + 1
        self._archived[topic] = self._archived.get(topic, []) + new_rel
        gone = set(move)
        self._files[topic] = [f for f in files if f not in gone]
        self._commit_manifest(topic)  # atomic tier flip; then local delete
        self._count(
            topic,
            archival_uploads=len(move),
            archival_bytes=sum(
                self._afsio.getsize(d) for d in dsts
            ),
        )
        for f in move:
            self._fsio.delete(os.path.join(self.root, f))
        return {"archived": len(move), "remaining_local": len(self._files[topic])}

    def attach_read_replica(self, topic: str, partitions: int | None = None) -> dict:
        """Remote Read Replica (the reference's remote-read topics,
        `cloud_storage/remote_partition.cc` + topic recovery): register a
        READ-ONLY topic served entirely from the archive tier another
        cluster wrote. Point this engine's ``archive_root`` at the source
        cluster's bucket; the replica scans the topic's cold segments,
        rebuilds the pruning index from parquet footers, and computes
        watermarks with one column-pruned scan. ``refresh_read_replica``
        picks up segments the source uploads later — the replica lags the
        source by its archival interval, exactly the reference's
        semantics. Produce and all maintenance are refused."""
        if topic in self._topics:
            raise ValueError(f"topic {topic} already exists")
        ad = self._archive_dir(topic)
        segs = sorted(self._afsio.list_segments(ad))
        if not segs:
            raise ValueError(f"no archived segments under {ad}")
        stats = self._footer_stats(segs, base=self.archive_root)
        rels = [os.path.relpath(p, self.archive_root) for p in segs]
        if partitions is None:
            partitions = 1 + max(
                (stats[r][1] for r in rels if r in stats), default=0
            )
        self._topics[topic] = TopicConfig(
            partitions=partitions, configs={"_read_replica": "true"}
        )
        self._files[topic] = []  # no hot tier, ever
        self._archived[topic] = rels
        self._archived_stats[topic] = stats
        self._high[topic] = self._replica_watermarks(rels)
        self._save_state()
        self._commit_manifest(topic)
        return {"segments": len(rels), "high_watermarks": dict(self._high[topic])}

    def recover_topic_from_archive(
        self, topic: str, config: "TopicConfig | None" = None
    ) -> dict:
        """Disaster recovery (redpanda.remote.recovery / whole-cluster
        restore, `cluster/cloud_metadata/`): rebuild a WRITABLE topic from
        its archive tier after total loss of the hot cluster. The cold
        segments become the topic's archived list (pruning index from
        footers), watermarks resume from the recovered maximum, and new
        produces append to a fresh hot tier — offsets continue without a
        gap. Unlike attach_read_replica, the result is a normal tiered
        topic: archival, retention, and reads all operate."""
        if topic in self._topics:
            raise ValueError(f"topic {topic} already exists")
        ad = self._archive_dir(topic)
        segs = sorted(self._afsio.list_segments(ad))
        if not segs:
            raise ValueError(f"no archived segments under {ad}")
        stats = self._footer_stats(segs, base=self.archive_root)
        rels = [os.path.relpath(p, self.archive_root) for p in segs]
        cfg = config or TopicConfig(
            partitions=1 + max((stats[r][1] for r in rels if r in stats), default=0),
            remote_write=True,
            local_retention_ms=86_400_000,
        )
        self._topics[topic] = cfg
        self._files[topic] = []
        self._archived[topic] = rels
        self._archived_stats[topic] = stats
        self._high[topic] = self._replica_watermarks(rels)
        # archive names continue past the recovered epochs (never collide)
        self._arch_epoch[topic] = _next_arch_epoch(rels)
        # manifest first, CATALOG LAST (mount's Phase B order): a crash
        # in between leaves an orphan manifest that a retry overwrites,
        # never a cataloged topic without one
        self._commit_manifest(topic)
        self._save_state()
        # DR takes OWNERSHIP: consume EVERY handoff token left by the
        # pre-loss incarnation — a staged manifest (crashed unmount), a
        # published mountable manifest (completed unmount, target lost
        # before mounting), or a claimed token (crashed mount). Any of
        # them surviving would let a later mount / resume_claim on
        # another cluster double-own the topic against this recovery
        # (the operator chose the rows-only path; the tokens' tx/group
        # metadata is superseded with it)
        for name in (
            "_topic_manifest.pending.json",
            "_topic_manifest.json",
            "_topic_manifest.claimed.json",
        ):
            self._afsio.delete(os.path.join(ad, name))
        return {
            "segments": len(rels),
            "high_watermarks": dict(self._high[topic]),
        }

    def unmount_topic(
        self,
        topic: str,
        with_groups: "list[str] | bool | None" = None,
        now_ms: int | None = None,
    ) -> dict:
        """Unmount (tiered-storage migration, step 1): flush every local
        segment to the archive tier, write a self-describing topic
        manifest INTO the bucket, and detach the topic from this cluster.
        The bucket alone then carries the topic — config, watermarks,
        pruning index, data — ready for :meth:`mount_topic` on any
        cluster sharing the archive root. This is the reference's
        unmount-then-mount migration flow
        (`cloud_storage/topic_mount_handler.h`,
        `cluster/data_migration_backend.cc:523`).

        ``with_groups`` opts consumer-offset migration INTO the handoff
        (the reference's migration object carries ``groups`` first-class,
        `cluster/data_migration_types.h:184,231`): a list of group ids —
        or True for every group with commits on this topic — whose
        committed offsets ride in the bucket manifest and are replayed by
        mount, so a consumer resumes at its exact position on the target
        cluster with no manual export/import. Omitted groups stay
        cluster-local and are purged as before.

        Compacted topics migrate too (the reference has no policy
        restriction): one FINAL keep-latest compaction runs first
        (tombstone grace honored, ``now_ms`` passed through), so the
        bucket carries exactly the compacted view."""
        cfg = self._require(topic)
        self._refuse_replica_mutation(topic)
        with self._fsio.write_lock(self.root):
            # a stale writer must not migrate the topic away
            self._check_writer_fence(topic)
        if not cfg.remote_write:
            raise ValueError(
                f"topic {topic}: unmount requires remote_write=True"
            )
        if "compact" in cfg.cleanup_policy and self._files[topic]:
            # (skipped on a retry after a phase-1 crash: the log is then
            # fully archived already, and it was compacted before upload)
            self.run_compaction(topic, now_ms=now_ms)
        files = self._files[topic]
        stats = self._stats.get(topic, {})
        if any(f not in stats for f in files):
            raise ValueError(
                "some segments lack footer stats; run maintenance first"
            )
        # Transaction metadata travels WITH the topic: aborted ranges are
        # what keeps read_committed honest on the target cluster (the
        # reference carries tx markers inside the log itself, so its
        # migration moves them for free; here they are records of the
        # root's internal topic, so the handoff carries them explicitly).
        # An OPEN transaction means the topic isn't
        # quiesced — refuse, exactly as leadership transfer waits for
        # in-flight transactions.
        tx_rows = [r for r in self._tx_ranges_local() if r["topic"] == topic]
        if any(r["outcome"] == "open" for r in tx_rows):
            raise ValueError(
                f"topic {topic}: open transaction in flight — "
                "commit/abort before unmount"
            )
        group_rows = [
            {"group": k[1], "partition": k[3], "offset": v["committed_offset"]}
            for k, v in self._group_map().items()
            if with_groups
            and k[0] == "offset"
            and k[2] == topic
            and (with_groups is True or k[1] in with_groups)
        ]
        ad = self._archive_dir(topic)
        self._afsio.mkdirs(ad)
        epoch = self._arch_epoch.get(topic, 0)
        dsts = [
            os.path.join(ad, f"e{epoch:06d}_{i:05d}.parquet")
            for i in range(len(files))
        ]
        if files:
            from concurrent.futures import ThreadPoolExecutor

            def _upload(pair):
                src_rel, dst = pair
                fsio.copy_file(
                    self._fsio,
                    os.path.join(self.root, src_rel),
                    self._afsio,
                    dst,
                )

            workers = min(8, len(files))
            if workers > 1:
                with ThreadPoolExecutor(max_workers=workers) as ex:
                    list(ex.map(_upload, zip(files, dsts)))
            else:
                _upload((files[0], dsts[0]))
        astats = self._archived_stats.setdefault(topic, {})
        new_rel = []
        for f, dst in zip(files, dsts):
            rel = os.path.relpath(dst, self.archive_root)
            new_rel.append(rel)
            astats[rel] = stats[f]
        archived = self._archived.get(topic, []) + new_rel
        self._count(
            topic,
            archival_uploads=len(new_rel),
            archival_bytes=sum(self._afsio.getsize(d) for d in dsts),
        )
        # Phase 1 COMMIT: flip every segment to the archived list and
        # commit the LOCAL manifest. A crash anywhere before here undoes
        # the unmount cleanly (uploaded copies are unreferenced orphans,
        # collected at reopen); a crash after leaves a normal,
        # fully-tiered, still-locally-owned topic — unmount is simply
        # retried. Only after this flip are the hot files deletable.
        self._archived[topic] = archived
        self._files[topic] = []
        self._stats[topic] = {}
        self._arch_epoch[topic] = epoch + 1
        high = dict(self._high.get(topic, {}))
        self._commit_manifest(topic)
        for f in files:
            self._fsio.delete(os.path.join(self.root, f))
        # Phase 2: local detach, then STAGE the bucket handoff manifest,
        # then purge — in exactly that order, under the root lock up to
        # the tombstone commit (which takes the lock itself):
        #
        #   fence check .. _save_state   detach commit point. The fence
        #                                is re-checked here: a writer
        #                                that claimed the topic after
        #                                our phase-1 commit adopted a
        #                                fully-tiered topic and must not
        #                                have it destroyed by us (the
        #                                stale migrator) — we abort,
        #                                leaving the topic theirs, and
        #                                since the stage is written only
        #                                AFTER this point, a fenced
        #                                unmount leaves no bucket debris
        #                                to retract.
        #   stage write (pending name)   the bucket becomes the durable
        #                                carrier of the tx-range and
        #                                group-offset metadata BEFORE
        #                                the purge erases it locally (the
        #                                r12 phase-2→3 loss window). The
        #                                stage existing IMPLIES the
        #                                detach committed — staging
        #                                before the detach would let a
        #                                crash in between present
        #                                "handoff_staged" for a topic the
        #                                source still fully owns, and a
        #                                resume_claim on another cluster
        #                                would then double-own it.
        #   local deletes + tombstones   cleanup; every piece is now
        #                                durable in the bucket.
        #
        # Crash states: before _save_state → topic still owned (retry
        # unmount); between detach and stage write → detached with NO
        # token, but nothing was purged — tx rows and committed offsets
        # are intact under this root, so a plain mount here falls back to footer
        # recovery and still sees full tx/group metadata; after the
        # stage → mount_topic(resume_claim=True) adopts with metadata
        # intact. No state allows TWO clusters to own the topic at once.
        # The reference carries groups/tx state transactionally through
        # its migration state machine (`cluster/data_migration_backend.cc`,
        # `cluster/data_migration_types.h:184,231`).
        pending = os.path.join(ad, "_topic_manifest.pending.json")
        with self._fsio.write_lock(self.root):
            self._check_writer_fence(topic)
            del self._topics[topic]
            for d in (
                self._high,
                self._files,
                self._stats,
                self._manifest_text,
                self._tail,
                self._producers,
                self._archived,
                self._archived_stats,
                self._arch_epoch,
                self._clean_rows,
            ):
                d.pop(topic, None)
            self._save_state()
            try:
                self._afsio.write_text_atomic(
                    pending,
                    json.dumps(
                        {
                            "config": vars(cfg),
                            "high": high,
                            "archived": archived,
                            "archived_stats": {
                                r: astats[r] for r in archived if r in astats
                            },
                            "arch_epoch": epoch + 1,
                            "tx_ranges": tx_rows,
                            "groups": group_rows,
                        }
                    ),
                )
            except Exception as e:
                # topic is detached but no handoff token exists; nothing
                # was purged — tell the operator exactly how to recover
                e.add_note(
                    f"unmount of {topic!r} failed writing the staged "
                    "handoff manifest AFTER the local detach committed: "
                    "the topic is detached, tx/group metadata is "
                    "intact under this root — run "
                    "recover_topic_from_archive (or retry once the "
                    "bucket is reachable: mount here, then unmount "
                    "again)"
                )
                raise
            self._fsio.delete(self._topic_dir(topic), recursive=True)
            self._fsio.delete(self._manifest_path(topic))
            # epoch chain survives (monotone lineage across mounts)
            self._writer_epoch.pop(topic, None)
        self._purge_topic_keys(topic)
        # Phase 3: PUBLISH the handoff token by atomic rename of the
        # staged manifest to its mountable name. Mount reads it for O(1)
        # metadata adoption (exact config + watermarks even for
        # partitions that never got a row) and consumes it.
        self._afsio.rename(
            pending, os.path.join(ad, "_topic_manifest.json")
        )
        return {
            "unmounted": topic,
            "segments": len(archived),
            "archive_dir": ad,
        }

    def mount_topic(
        self,
        topic: str,
        config: "TopicConfig | None" = None,
        resume_claim: bool = False,
    ) -> dict:
        """Mount (tiered-storage migration, step 2): adopt a topic living
        entirely in the archive tier — written by unmount_topic on this
        or ANOTHER cluster sharing the bucket — as a WRITABLE tiered
        topic. With the bucket manifest present this is O(1) metadata
        (config, watermarks and pruning index adopted directly; no footer
        scan; empty partitions keep their slots); without it, falls back
        to footer recovery (recover_topic_from_archive — the DR path).

        Mirror of unmount's phase discipline, CLAIM-first so two clusters
        sharing the bucket can never both adopt (the reference's
        migrated-resource lifecycle, `cluster/data_migration_backend.cc`):

        - Phase A (claim): CREATE-EXCLUSIVE the claimed token (carrying
          the manifest's content), then delete the plain manifest —
          exactly one cluster wins the create, with the same arbitration
          story as the writer-epoch chain (kernel/namenode-arbitrated on
          local/``file:``/HDFS; narrowed-optimistic on plain S3, where a
          bare rename would be copy+delete and two racers could BOTH
          succeed — the ADVICE hazard this ordering closes; LocalFS
          os.rename silently overwrites, same hazard). A crash here
          leaves the topic mounted NOWHERE (safe), recoverable via
          ``resume_claim=True``.
        - Phase B (adopt): commit the topic locally from the claimed
          manifest; any failure rolls the local state back and returns
          the token, so the mount is retryable anywhere.
        - Phase C (consume): delete plain-then-claimed (plain first, so
          no interleaving ever exposes a mounted topic alongside a
          mountable manifest). A crash before this leaves debris in the
          bucket but the claimed token blocks any other cluster's claim.

        ``resume_claim=True`` adopts from an orphaned claimed token (a
        mount that crashed between phases A and B) — or, when only the
        STAGED ``.pending`` manifest exists, from an unmount that crashed
        between its detach commit and the handoff publish (the stage is
        promoted to a claim first). Either way the operator asserts no
        cluster owns the topic — the same trust level as the DR recovery
        path."""
        if topic in self._topics:
            raise ValueError(f"topic {topic} already exists")
        ad = self._archive_dir(topic)
        mp = os.path.join(ad, "_topic_manifest.json")
        claimed = os.path.join(ad, "_topic_manifest.claimed.json")
        pending = os.path.join(ad, "_topic_manifest.pending.json")
        if resume_claim:
            if not self._afsio.exists(claimed):
                if self._afsio.exists(pending):
                    # crashed UNMOUNT: detach committed, publish rename
                    # never ran. Promote the stage to a claim with the
                    # same create-exclusive discipline as Phase A. The
                    # read can lose a race too: a rival's promotion
                    # consumes the stage between our exists check and
                    # this read — map not-found to the clean race error,
                    # not a raw FileNotFound crash.
                    try:
                        stage_token = self._afsio.read_text(pending)
                    except Exception as e:
                        from redpanda_spark.fsio import _is_not_found

                        if isinstance(e, FileNotFoundError) or _is_not_found(e):
                            raise ValueError(
                                f"topic {topic}: lost the resume race "
                                "(another cluster claimed the staged "
                                "manifest)"
                            ) from None
                        raise
                    if not self._afsio.create_exclusive(
                        claimed, stage_token
                    ):
                        raise ValueError(
                            f"topic {topic}: lost the resume race "
                            "(another cluster claimed the staged "
                            "manifest)"
                        )
                    self._afsio.delete(pending)
                else:
                    raise ValueError(
                        f"topic {topic}: no claimed manifest to resume"
                    )
        else:
            if not self._afsio.exists(mp):
                if self._afsio.exists(claimed):
                    raise ValueError(
                        f"topic {topic}: a mount is in progress or "
                        "crashed mid-claim on some cluster; if no "
                        "cluster owns the topic, retry with "
                        "resume_claim=True"
                    )
                if self._afsio.exists(pending):
                    raise ValueError(
                        f"topic {topic}: an unmount crashed mid-handoff "
                        "(staged manifest present, never published); if "
                        "the source cluster no longer owns the topic, "
                        "retry with resume_claim=True (falling back to "
                        "footer recovery would silently drop the staged "
                        "tx/group metadata)"
                    )
                return self.recover_topic_from_archive(topic, config)
            # Phase A: the handoff — first-writer-wins claim creation,
            # then retire the mountable name. The read itself can lose
            # the race (a rival claims and deletes the plain manifest
            # between our exists check and this read): map not-found to
            # the same clean race error, not a raw FileNotFound crash.
            try:
                mount_token = self._afsio.read_text(mp)
            except Exception as e:
                from redpanda_spark.fsio import _is_not_found

                if isinstance(e, FileNotFoundError) or _is_not_found(e):
                    mount_token = None
                else:
                    raise
            if mount_token is None or not self._afsio.create_exclusive(
                claimed, mount_token
            ):
                raise ValueError(
                    f"topic {topic}: lost the mount claim race (another "
                    "cluster holds the claimed token); if that was THIS "
                    "cluster's mount crashing between claim and adopt "
                    "and no other cluster is mounting, retry with "
                    "resume_claim=True"
                )
            self._afsio.delete(mp)
        m = json.loads(self._afsio.read_text(claimed))
        cfg = config or TopicConfig(**m["config"])
        try:
            # Phase B: adopt. Durable writes land manifest-first,
            # CATALOG-LAST: the _save_state at the end is the adoption
            # commit point, so a crash anywhere before it leaves the
            # topic mounted NOWHERE (token claimed; debris = an orphan
            # manifest + replayed tx rows and offsets, all overwritten or
            # idempotent under resume_claim) — never a cataloged topic
            # that reads empty because its manifest is missing (the
            # kill-point sweep caught exactly that with the old
            # catalog-first order).
            self._topics[topic] = cfg
            self._files[topic] = []
            self._stats[topic] = {}
            self._archived[topic] = list(m["archived"])
            self._archived_stats[topic] = dict(m["archived_stats"])
            self._high[topic] = {
                int(p): int(o) for p, o in m["high"].items()
            }
            self._arch_epoch[topic] = int(m.get("arch_epoch", 0))
            self._fsio.mkdirs(self._topic_dir(topic))
            self._commit_manifest(topic)  # claims the writer epoch
            self._purge_topic_keys(topic)  # a crashed delete's leftovers
            if m.get("tx_ranges"):
                # restore the migrated aborted/committed ranges so
                # read_committed filters identically on the target
                # cluster (a resumed mount rewrites the same keys)
                self.append_tx_ranges(m["tx_ranges"])
            # first-class consumer-offset migration (opt-in at unmount):
            # resume at the exact committed positions. Batched per group
            # (offset_commit_batch, the OffsetCommit-request shape): one
            # commit per GROUP, not one per (group, partition) row
            by_group: dict[str, dict[tuple[str, int], int]] = {}
            for g in m.get("groups", []):
                by_group.setdefault(g["group"], {})[
                    (topic, int(g["partition"]))
                ] = int(g["offset"])
            for gid, offsets in by_group.items():
                self.offset_commit_batch(gid, offsets)
            self._save_state()  # ADOPTION COMMIT POINT
        except BaseException:
            # roll back and RETURN the token: the bucket stays
            # mountable. Every step is best-effort — whatever fails,
            # the token return is still attempted, and a token stuck
            # under its claimed name remains resume_claim-recoverable.
            self._topics.pop(topic, None)
            for d in (
                self._high,
                self._files,
                self._stats,
                self._manifest_text,
                self._archived,
                self._archived_stats,
                self._arch_epoch,
            ):
                d.pop(topic, None)
            self._writer_epoch.pop(topic, None)
            try:
                self._fsio.delete(self._manifest_path(topic))
                self._purge_topic_keys(topic)  # replayed tx rows, offsets
                self._save_state()
            except BaseException:
                pass  # reopen-time GC / resume_claim cover the debris
            try:
                if self._afsio.exists(mp):
                    # Phase A crashed mid-claim earlier (plain name never
                    # retired): dropping our token re-exposes the plain
                    # manifest as the single mountable copy
                    self._afsio.delete(claimed)
                else:
                    self._afsio.rename(claimed, mp)
            except OSError:
                pass  # token stays claimed; resume_claim recovers
            raise
        # Phase C: consume — one owner. Plain name first (a resumed
        # claim may have left it behind), then the token, then any
        # staged-manifest debris from a promoted unmount resume.
        self._afsio.delete(mp)
        self._afsio.delete(claimed)
        self._afsio.delete(pending)
        return {
            "mounted": topic,
            "segments": len(self._archived[topic]),
            "high_watermarks": dict(self._high[topic]),
        }

    def migration_status(self, topic: str) -> dict:
        """Observer view of a topic's migration/handoff state — the
        reference exposes the migration state machine's status the same
        way (`cluster/data_migration_backend.cc`,
        `data_migration_types.h` state enum). Read-only (safe from a
        ``read_only`` engine): inspects the local catalog and the bucket
        token names, never mutates. States:

        - ``mounted``        — owned by THIS cluster (``read_replica``
          flagged separately)
        - ``mountable``      — published handoff manifest in the bucket;
          ``mount_topic`` adopts it
        - ``claim_in_progress`` — claimed token present: a mount is
          running or crashed between claim and adopt
          (``resume_claim=True`` recovers)
        - ``handoff_staged`` — staged ``.pending`` manifest: an unmount
          crashed between its detach commit and the publish rename
          (``resume_claim=True`` adopts it, metadata intact)
        - ``recoverable``    — archived segments but no token. Ambiguous
          by construction: either ANOTHER cluster owns the topic (these
          segments are its live cold tier — a completed mount consumes
          every token) or the owner is lost. The DR path
          (``recover_topic_from_archive``, rows only) applies ONLY under
          the operator's assertion that no cluster owns the topic — the
          same trust level as ``resume_claim``.
        - ``absent``         — nothing local, nothing in the bucket
        """
        if topic in self._topics:
            return {
                "topic": topic,
                "state": "mounted",
                "read_replica": self._topics[topic].configs.get(
                    "_read_replica"
                )
                == "true",
                "segments": len(self._files[topic])
                + len(self._archived.get(topic, [])),
            }
        ad = self._archive_dir(topic)
        # precedence matters: a mount that crashed between its claim
        # create and the plain-name delete leaves BOTH tokens — a plain
        # mount of that state deterministically loses the (already-won)
        # claim race, so the correct verb is resume_claim and the
        # claimed token must win the report
        names = {
            "_topic_manifest.claimed.json": "claim_in_progress",
            "_topic_manifest.json": "mountable",
            "_topic_manifest.pending.json": "handoff_staged",
        }
        for name, state in names.items():
            p = os.path.join(ad, name)
            if self._afsio.exists(p):
                try:
                    m = json.loads(self._afsio.read_text(p))
                    extra = {
                        "segments": len(m.get("archived", [])),
                        "carries_tx_ranges": bool(m.get("tx_ranges")),
                        "carries_groups": bool(m.get("groups")),
                    }
                except Exception:
                    extra = {}
                return {"topic": topic, "state": state, **extra}
        if self._afsio.list_segments(ad):
            return {"topic": topic, "state": "recoverable"}
        return {"topic": topic, "state": "absent"}

    def refresh_read_replica(self, topic: str) -> dict:
        """Pick up segments the source archived since attach/last refresh:
        O(new files) — footers read only for the additions, watermarks
        advanced from the new files alone."""
        cfg = self._require(topic)
        if cfg.configs.get("_read_replica") != "true":
            raise ValueError(f"topic {topic} is not a read replica")
        ad = self._archive_dir(topic)
        known = set(self._archived.get(topic, []))
        new_abs = [
            p
            for p in sorted(self._afsio.list_segments(ad))
            if os.path.relpath(p, self.archive_root) not in known
        ]
        if not new_abs:
            return {"added": 0}
        stats = self._footer_stats(new_abs, base=self.archive_root)
        rels = [os.path.relpath(p, self.archive_root) for p in new_abs]
        self._archived[topic] = self._archived.get(topic, []) + rels
        self._archived_stats.setdefault(topic, {}).update(stats)
        hwm = self._high.setdefault(topic, {})
        for p, o in self._replica_watermarks(rels).items():
            hwm[p] = max(hwm.get(p, 0), o)
        self._commit_manifest(topic)
        return {"added": len(rels)}

    def _replica_watermarks(self, rels: list[str]) -> dict[int, int]:
        df = self._scan([os.path.join(self.archive_root, r) for r in rels])
        return {
            r["partition"]: r["hwm"]
            for r in df.groupBy("partition")
            .agg((F.max("offset") + 1).alias("hwm"))
            .collect()
        }

    def _refuse_replica_mutation(self, topic: str) -> None:
        cfg = self._topics.get(topic)
        if cfg is not None and cfg.configs.get("_read_replica") == "true":
            raise ProduceError(
                "INVALID_TOPIC_EXCEPTION", f"{topic} is a read replica (read-only)"
            )

    def optimize_archive_segments(
        self, topic: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> dict[str, int]:
        """Adjacent-segment merging for the COLD tier — the object-store
        small-file problem is the scale killer archival creates (every
        upload is one object; a year of ticks is millions of tiny
        objects). Same contract as optimize_segments: rows, offsets and
        watermarks unchanged, one range-shuffle on (partition, offset),
        atomic manifest flip (the reference's adjacent-segment reupload,
        `cluster/archival/adjacent_segment_merger.cc`)."""
        self._require(topic)
        arch = self._archived.get(topic, [])
        files = [os.path.join(self.archive_root, f) for f in arch]
        if not files:
            return {"files_before": 0, "files_after": 0}
        total = sum(self._afsio.getsize(f) for f in files)
        n_target = max(1, -(-total // target_file_bytes))
        if len(files) <= n_target:
            return {"files_before": len(files), "files_after": len(files)}
        self._rewrite_archive(
            topic, self._scan(files), n_files=n_target
        )
        return {
            "files_before": len(files),
            "files_after": len(self._archived.get(topic, [])),
        }

    def _rewrite_archive(
        self, topic: str, df: DataFrame, n_files: int | None = None
    ) -> None:
        """Replace the topic's COLD tier with ``df`` (tiered retention
        fallback, cold-tier merge) — the archive-side twin of _rewrite."""
        new_rel = self._write_segments(topic, df, n_files=n_files, archive=True)
        self._replace_segments(
            topic, [], [], {}, self._archived.get(topic, []), new_rel,
            self._footer_stats(
                [os.path.join(self.archive_root, f) for f in new_rel],
                base=self.archive_root,
            ),
        )

    def _rewrite(self, topic: str, df: DataFrame, n_files: int | None = None) -> None:
        """Replace the topic's hot segments with ``df`` written by Spark
        (compaction, size retention, and merges past the in-process bound):
        ``_write_segments``, then ``_replace_segments``."""
        new_rel = self._write_segments(topic, df, n_files=n_files)
        self._replace_segments(
            topic, self._files[topic], new_rel,
            self._footer_stats([os.path.join(self.root, f) for f in new_rel]),
        )

    def _write_segments(
        self, topic: str, df: DataFrame, n_files: int | None = None,
        archive: bool = False,
    ) -> list[str]:
        """Write ``df`` as new segments of the hot (or, with ``archive``,
        the cold) tier with Spark: range-partitioned on (partition,
        offset), ``n_files`` ranges or the planner's count, and sorted
        within each, so every file holds contiguous offset runs with tight
        manifest stats. The files land in a temp dir and move into the
        topic dir under unique names (Spark's part names; cold ones
        epoch-prefixed). Returns their root-relative paths; they are
        invisible until the caller's manifest commit."""
        cfg = self._require(topic)
        fs, root = (self._afsio, self.archive_root) if archive else (self._fsio, self.root)
        d = os.path.join(root, topic)
        fs.mkdirs(d)
        tmp = d + ".rewrite.tmp"
        fs.delete(tmp, recursive=True)
        rp = (
            df.repartitionByRange(n_files, "partition", "offset")
            if n_files
            else df.repartitionByRange("partition", "offset")
        )
        (
            rp.sortWithinPartitions("partition", "offset")
            .write.mode("overwrite")
            .option("compression", cfg.compression)
            .option("parquet.enable.dictionary", "false")
            .parquet(tmp)
        )
        if archive:
            epoch = self._arch_epoch.get(topic, 0)
            self._arch_epoch[topic] = epoch + 1
        new_rel: list[str] = []
        for i, f in enumerate(sorted(fs.list_segments(tmp))):
            name = f"e{epoch:06d}_{i:05d}.parquet" if archive else os.path.basename(f)
            fs.rename(f, os.path.join(d, name))
            new_rel.append(os.path.join(topic, name))
        fs.delete(tmp, recursive=True)
        self._count(topic, maintenance_spark_rewrites=1)
        return new_rel

    def _driver_sized(self, nbytes: int) -> bool:
        """Whether a maintenance rewrite of segments holding ``nbytes`` on
        disk runs in-process: a local root, and at most the in-process
        produce bound."""
        return getattr(self._fsio, "is_local", False) and nbytes <= _LOCAL_PRODUCE_MAX_BYTES

    def _merge_local(
        self, topic: str, rels: list[str], n_files: int = 1,
        min_ts_us: int | None = None,
    ) -> dict[str, list[int]]:
        """Rewrite the hot segments ``rels`` in-process on Arrow, with no
        Spark job: their rows at or past the log start (and, with
        ``min_ts_us``, with a timestamp at or past it), sorted on
        (partition, offset) and cut into at most ``n_files`` contiguous
        runs of equal row count, each written by ``_write_local_segment``.
        Returns {new rel: manifest stats from the arrays} in offset order;
        the caller commits, then deletes ``rels``."""
        cfg = self._require(topic)
        t = pa.concat_tables([
            self._read_records(self._fsio, os.path.join(self.root, f)).cast(_SEGMENT_ARROW)
            for f in rels
        ])
        part = t["partition"].to_numpy()
        offs = t["offset"].to_numpy()
        ts = t["timestamp"].to_numpy()
        keep = np.ones(t.num_rows, dtype=bool)
        starts = self._log_starts(topic)
        if starts and t.num_rows:
            lo = np.zeros(max(int(part.max()), *starts) + 1, dtype=np.int64)
            lo[list(starts)] = list(starts.values())
            keep &= offs >= lo[part]
        if min_ts_us is not None:
            keep &= ts >= min_ts_us
        idx = np.flatnonzero(keep)
        idx = idx[np.lexsort((offs[idx], part[idx]))]
        if not np.array_equal(idx, np.arange(t.num_rows)):
            t, part, offs, ts = t.take(idx), part[idx], offs[idx], ts[idx]
        t = t.set_column(1, "timestamp", t["timestamp"].cast(pa.timestamp("us", tz="UTC")))
        out: dict[str, list[int]] = {}
        cuts = np.linspace(0, t.num_rows, n_files + 1).astype(np.int64).tolist()
        for a, b in zip(cuts, cuts[1:]):
            if a == b:
                continue
            rel = self._write_local_segment(topic, cfg, t.slice(a, b - a))
            out[rel] = [
                int(part[a]), int(part[b - 1]), int(offs[a:b].min()),
                int(offs[a:b].max()), b - a, int(ts[a:b].min()), int(ts[a:b].max()),
            ]
        self._count(topic, maintenance_local_rewrites=1)
        return out

    def _replace_segments(
        self, topic: str, gone, new: list[str], new_stats: dict[str, list[int]],
        a_gone=(), a_new: list[str] = (), a_new_stats: dict[str, list[int]] | None = None,
    ) -> None:
        """The segment swap every maintenance change ends with: segments
        ``gone`` (hot) and ``a_gone`` (cold) leave the manifest lists,
        ``new`` and ``a_new`` join them with their stats, the manifest
        commits in one atomic switch (the reference's segment replace),
        and then the replaced files are deleted. A crash before the commit
        leaves the old snapshot whole, with the new files orphans that
        reopen GC deletes; one after it leaves the old files as such
        orphans."""
        rows_before = self._stats_rows(topic)
        gone, a_gone = set(gone), set(a_gone)
        for files, stats, g, n, ns in (
            (self._files, self._stats, gone, new, new_stats),
            (self._archived, self._archived_stats, a_gone, a_new, a_new_stats or {}),
        ):
            if g or n:
                old = stats.get(topic, {})
                kept = [f for f in files.get(topic, []) if f not in g]
                files[topic] = kept + list(n)
                stats[topic] = {f: old[f] for f in kept if f in old} | ns
        self._adjust_clean_baseline(topic, rows_before)
        self._commit_manifest(topic)
        for f in gone:
            self._fsio.delete(os.path.join(self.root, f))
        for f in a_gone:
            self._afsio.delete(os.path.join(self.archive_root, f))

    # -- transaction ranges (rm_stm aborted/committed tx metadata) --------

    def append_tx_ranges(self, rows) -> None:
        """Record transaction ranges — mappings with the TX_RANGE_SCHEMA
        columns, e.g. a handoff manifest's rows (a DataFrame of them is
        collected) — as ONE commit of their OFFSETS_TOPIC records
        (``groups.tx_range_record``). The TxCoordinator writes its range
        records inside its own batches instead."""
        if isinstance(rows, DataFrame):
            rows = rows.collect()
        self._group_append(
            [
                G.tx_range_record(
                    r["topic"], r["partition"], r["producer_id"],
                    r["first_offset"], r["last_offset"], r["outcome"],
                )
                for r in rows
            ]
        )

    def tx_ranges(self) -> DataFrame:
        """Live tx ranges (``_tx_ranges_local``): committed and aborted
        ranges plus the still-open ones, as an Arrow LocalRelation, which
        collects with no Spark job where a list-built frame is an RDD scan."""
        from redpanda_spark.operators.txcoord import TX_RANGE_SCHEMA

        rows = self._tx_ranges_local()
        cols = [c.split()[0] for c in TX_RANGE_SCHEMA.split(", ")]
        table = pa.Table.from_pydict({c: [r[c] for r in rows] for c in cols})
        return self.spark.createDataFrame(table, schema=TX_RANGE_SCHEMA)

    # -- group state: records of OFFSETS_TOPIC ----------------------------

    def _group_map(self) -> dict[tuple, dict]:
        """Keep-latest map of OFFSETS_TOPIC (decoded key -> latest value;
        tombstoned keys absent), replayed driver-side like the reference's
        `group_recovery_consumer.cc`. It follows the manifest on disk, so
        commits of a newer engine on the root show too; appended files
        replay incrementally."""
        mp = self._manifest_path(OFFSETS_TOPIC)
        files = (
            tuple(json.loads(self._fsio.read_text(mp))["files"])
            if self._fsio.exists(mp)
            else ()
        )
        seen, state, tx = self._group_cache or ((), {}, {})
        if files[: len(seen)] != seen:
            seen, state, tx = (), {}, {}  # rewritten by compaction: replay all
        log: list[tuple] = []
        for f in files[len(seen):]:
            cols = ("offset", "key", "value")
            t = self._read_parquet_file(
                self._fsio, os.path.join(self.root, f), columns=list(cols)
            )
            log += zip(*(t.column(c).to_pylist() for c in cols))
        log.sort(key=lambda r: r[0])
        for key, value in (G.decode_group_record(k, v) for _, k, v in log):
            maps = [state]
            if key[0] == "tx":  # also indexed by (topic, partition)
                maps.append(tx.setdefault(key[1:3], {}))
            for m in maps:
                if value is None:
                    m.pop(key, None)
                else:
                    m[key] = value
        self._group_cache = (files, state, tx)
        return state

    def _group_append(self, records: list[tuple[tuple, dict | None]]) -> None:
        """Commit (key, value) records as ONE batch of OFFSETS_TOPIC by the
        normal produce path (zero-job _produce_local on local roots),
        atomic and fenced like every commit; the next _group_map call
        replays the new file. A decided tx range is final: a batch that
        would turn a committed range aborted, or the reverse, is refused
        whole."""
        self._refuse_read_only()
        if not records:
            return
        outcomes = [(k, v["outcome"]) for k, v in records if k[0] == "tx" and v]
        if outcomes:
            state = self._group_map()
            for k, new in outcomes:
                old = state.get(k, {}).get("outcome")
                if {old, new} == {"committed", "aborted"}:
                    raise ValueError(
                        f"tx range {list(k[1:])} is already {old}: refusing {new}"
                    )
        self._produce_impl(
            OFFSETS_TOPIC,
            [
                dict(zip(("key", "value"), G.encode_group_record(k, v)))
                for k, v in records
            ],
        )

    def group_metadata_append(self, snapshot: dict) -> None:
        """Commit one group-metadata snapshot (GroupCoordinator.snapshot)
        — the record the reference writes to __consumer_offsets
        (`kafka/server/group_manager.cc`, serialization in
        `group_metadata.cc`); ``deleted`` writes the group's tombstone."""
        value = {k: v for k, v in snapshot.items() if k not in ("group_id", "deleted")}
        key = ("group", snapshot["group_id"])
        self._group_append([(key, None if snapshot.get("deleted") else value)])

    def group_metadata_snapshots(self) -> list[dict]:
        """Latest surviving snapshot per group, from the replayed map."""
        return [
            {"group_id": k[1], **v}
            for k, v in self._group_map().items()
            if k[0] == "group"
        ]

    # -- consumer offsets -------------------------------------------------

    def offset_commit(
        self, group_id: str, topic: str, partition: int, offset: int,
        metadata: str = "",
    ) -> None:
        value = G.offset_value(offset, metadata)
        self._group_append([(("offset", group_id, topic, int(partition)), value)])

    def offset_commit_batch(
        self, group_id: str, offsets: dict[tuple[str, int], int | None]
    ) -> None:
        """Commit many (topic, partition) -> next-offset positions as ONE
        record batch, the OffsetCommit-request shape — a client commits
        its whole assignment in one RPC, not one per partition. A None
        position writes that partition's tombstone (OffsetDelete)."""
        self._group_append(
            [
                (
                    ("offset", group_id, t, int(p)),
                    None if off is None else G.offset_value(off),
                )
                for (t, p), off in offsets.items()
            ]
        )

    def offset_delete(self, group_id: str, topic: str, partition: int) -> None:
        self.offset_commit_batch(group_id, {(topic, partition): None})

    def expire_producers(
        self, topic: str, max_idle_ms: int = 24 * 3600 * 1000,
        now_ms: int | None = None,
    ) -> int:
        """Evict idle producer sequence windows (producer.id.expiration.ms;
        rm_stm evicts idle producer_state the same way) so the per-topic
        idempotence map stays O(active producers), not O(every producer
        ever). An evicted producer that resumes starts a fresh window —
        exactly Kafka's semantics (its duplicates can no longer be
        detected, which is why the default idle window is a day). Entries
        from pre-timestamp manifests count as idle-forever. Returns the
        eviction count; the shrunken map commits with the manifest."""
        self._require(topic)
        state = self._producers.get(topic) or {}
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        gone = [
            k
            for k, v in state.items()
            if now - (v[2] if len(v) > 2 else 0) > max_idle_ms
        ]
        for k in gone:
            del state[k]
        if gone:
            self._commit_manifest(topic)
        return len(gone)

    def compact_offsets(self) -> dict[str, int]:
        """Keep-latest compaction of OFFSETS_TOPIC (run_compaction; its
        config drops tombstones), so the topic stays O(live keys) — the
        reference compacts `__consumer_offsets` the same way. Returns the
        record counts before and after, from the manifest."""
        if not self._files[OFFSETS_TOPIC]:
            return {"before": 0, "after": 0}
        before = self._stats_rows(OFFSETS_TOPIC)
        self.run_compaction(OFFSETS_TOPIC)
        return {"before": before, "after": self._stats_rows(OFFSETS_TOPIC)}

    def _offset_rows(self, group_id: str | None = None) -> list[dict]:
        """Live committed offsets of one group (None: every group) as
        OffsetFetch rows, from the replayed map: no JVM call, as the
        reference answers OffsetFetch from in-memory group state
        (`kafka/server/group.cc`)."""
        return [
            {"group_id": k[1], "topic": k[2], "partition": k[3], **v}
            for k, v in self._group_map().items()
            if k[0] == "offset" and group_id in (None, k[1])
        ]

    def committed_offsets(self, group_id: str) -> dict[tuple[str, int], int]:
        """{(topic, partition): committed offset} of ``group_id``."""
        return {
            (r["topic"], r["partition"]): r["committed_offset"]
            for r in self._offset_rows(group_id)
        }

    def expire_offsets(
        self,
        retention_ms: int = 7 * 24 * 3600 * 1000,
        now_ns: int | None = None,
        active_group_ids: list[str] | None = None,
    ) -> int:
        """GC committed offsets older than offsets.retention.ms for groups
        with no live members (KIP-211 semantics; the reference expires
        through the group coordinator's periodic offset GC). Decided on
        the replayed map, with no Spark job: a partition's latest commit
        is all that counts (keep-latest shadows the earlier ones). Writes
        the tombstones as ONE commit."""
        now = now_ns if now_ns is not None else time.time_ns()
        cutoff = now - retention_ms * 1_000_000
        active = set(active_group_ids or ())
        gone = [
            k
            for k, v in self._group_map().items()
            if k[0] == "offset" and k[1] not in active and v["commit_seq"] < cutoff
        ]
        self._group_append([(k, None) for k in gone])
        return len(gone)

    def offset_fetch(self, group_id: str | None = None) -> DataFrame:
        """OffsetFetch: latest committed offset per (group, topic,
        partition), tombstoned entries excluded, as an Arrow
        LocalRelation (collecting it runs no Spark job)."""
        from pyspark.sql.pandas.types import to_arrow_schema

        from redpanda_spark.datamodel import CONSUMER_OFFSETS_SCHEMA

        schema = to_arrow_schema(CONSUMER_OFFSETS_SCHEMA[:6])
        return self.spark.createDataFrame(
            pa.Table.from_pylist(self._offset_rows(group_id), schema)
        )
