"""rpk-style command-line interface over the engine.

The reference ships `rpk` (`src/go/rpk/`) as the operator surface: topic
CRUD, produce/consume, group inspection, offset management, cluster info.
This is the same surface over a TopicEngine root:

    python -m redpanda_spark --root /data topic create t -p 8
    echo '{"key":"k1","value":"v1"}' | python -m redpanda_spark --root /data topic produce t
    python -m redpanda_spark --root /data topic consume t -p 0 -o 0 -n 10
    python -m redpanda_spark --root /data topic list
    python -m redpanda_spark --root /data topic describe t
    python -m redpanda_spark --root /data group list
    python -m redpanda_spark --root /data group describe g
    python -m redpanda_spark --root /data cluster info

Keys/values are UTF-8 strings in JSON lines on stdin (base64 via
"key_b64"/"value_b64" for binary payloads), records print as JSON lines
on stdout — the `rpk topic produce/consume` contract. The Spark session
is created lazily with the engine-tuned defaults; `--master` overrides
for a real cluster."""

from __future__ import annotations

import argparse
import base64
import json
import sys

from pyspark.sql import Row


def _engine(args, read_only: bool = False):
    """read_only=True for observer commands (list/describe/consume/
    metrics): the engine then does NOT claim the writer epoch, so a
    scrape or an interactive consumer never fences a live producer."""
    from redpanda_spark.engine import TopicEngine
    from redpanda_spark.session import get_spark

    import os

    if args.master:
        os.environ["SPARK_MASTER"] = args.master
    spark = get_spark("redpanda-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return TopicEngine(
        spark,
        args.root,
        archive_root=getattr(args, "archive_root", None),
        read_only=read_only,
    )


def _b(rec: dict, key: str):
    if f"{key}_b64" in rec:
        return base64.b64decode(rec[f"{key}_b64"])
    v = rec.get(key)
    return v.encode() if isinstance(v, str) else v


def cmd_topic_create(args) -> int:
    from redpanda_spark.engine import TopicConfig

    eng = _engine(args)
    eng.create_topic(args.topic, TopicConfig(partitions=args.partitions))
    if args.config:
        from redpanda_spark.admin import AdminClient

        changes = dict(kv.partition("=")[::2] for kv in args.config)
        AdminClient(eng).alter_configs(args.topic, changes)
    print(json.dumps({"topic": args.topic, "partitions": args.partitions}))
    return 0


def cmd_topic_list(args) -> int:
    eng = _engine(args, read_only=True)
    for t, cfg in sorted(eng.list_topics().items()):
        print(json.dumps({"topic": t, "partitions": cfg.partitions,
                          "cleanup_policy": cfg.cleanup_policy}))
    return 0


def cmd_topic_delete(args) -> int:
    _engine(args).delete_topic(args.topic)
    print(json.dumps({"deleted": args.topic}))
    return 0


def cmd_topic_describe(args) -> int:
    from redpanda_spark.admin import AdminClient

    eng = _engine(args, read_only=True)
    admin = AdminClient(eng)
    meta = admin.metadata([args.topic])["topics"][args.topic]
    out = {
        "topic": args.topic,
        "partitions": meta.get("partitions", {}),
        "configs": admin.describe_configs(args.topic),
        # O(1) manifest-side observability, tier stats included
        "stats": eng.topic_stats(args.topic),
    }
    print(json.dumps(out, default=str))
    return 0


def cmd_topic_produce(args) -> int:
    eng = _engine(args)
    rows = []
    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        rec = json.loads(line)
        r = {"key": _b(rec, "key"), "value": _b(rec, "value")}
        if "partition" in rec:
            r["partition"] = int(rec["partition"])
        rows.append(r)
    if not rows:
        print(json.dumps({"produced": 0}))
        return 0
    if any("partition" in r for r in rows):
        # explicit routing for some records: fill the rest with the
        # client-side murmur2 default so one schema covers the batch
        from redpanda_spark.functions.hashes import murmur2_partition

        n_parts = eng.list_topics()[args.topic].partitions
        for r in rows:
            if "partition" not in r:
                r["partition"] = (
                    murmur2_partition(r["key"], n_parts)
                    if r["key"] is not None
                    else 0
                )
        schema = "key binary, value binary, partition int"
    else:
        schema = "key binary, value binary"
    df = eng.spark.createDataFrame([Row(**r) for r in rows], schema)
    bases = eng.produce(args.topic, df)
    print(json.dumps({"produced": len(rows), "base_offsets": bases}))
    return 0


def cmd_topic_consume(args) -> int:
    eng = _engine(args, read_only=True)
    for r in eng.fetch_rows(
        args.topic, args.partition, offset=args.offset,
        max_records=args.num, isolation=args.isolation,
    ):
        print(json.dumps({
            "partition": r["partition"],
            "offset": r["offset"],
            "key": (bytes(r["key"]).decode("utf-8", "replace")
                    if r["key"] is not None else None),
            "value": (bytes(r["value"]).decode("utf-8", "replace")
                      if r["value"] is not None else None),
        }))
    return 0


def cmd_topic_alter_config(args) -> int:
    from redpanda_spark.admin import AdminClient

    eng = _engine(args)
    changes = dict(kv.partition("=")[::2] for kv in args.config)
    AdminClient(eng).alter_configs(args.topic, changes)
    print(json.dumps({"topic": args.topic, "altered": changes}))
    return 0


def cmd_topic_truncate(args) -> int:
    eng = _engine(args)
    eng.delete_records(args.topic, {args.partition: args.before_offset})
    start = eng._log_starts(args.topic).get(args.partition, 0)
    print(json.dumps({"topic": args.topic, "partition": args.partition,
                      "new_start_offset": start}))
    return 0


def cmd_group_seek(args) -> int:
    """rpk group seek: reset committed offsets (to earliest/end/explicit)
    of every selected partition in one atomic commit."""
    eng = _engine(args)
    parts = range(eng.list_topics()[args.topic].partitions)
    if args.partition is not None:
        parts = [args.partition]
    if args.to == "start":
        pos = eng._log_starts(args.topic)
    elif args.to == "end":
        pos = eng.high_watermarks(args.topic)
    else:
        pos = dict.fromkeys(parts, int(args.to))
    offsets = {(args.topic, p): pos.get(p, 0) for p in parts}
    eng.offset_commit_batch(args.group, offsets)
    for (_, p), off in offsets.items():
        print(json.dumps({"group": args.group, "topic": args.topic,
                          "partition": p, "committed": off}))
    return 0


def cmd_group_list(args) -> int:
    eng = _engine(args, read_only=True)
    for r in eng.offset_fetch().select("group_id").distinct().collect():
        print(json.dumps({"group": r["group_id"]}))
    return 0


def cmd_group_describe(args) -> int:
    eng = _engine(args, read_only=True)
    rows = eng.offset_fetch(args.group).collect()
    for r in sorted(rows, key=lambda x: (x["topic"], x["partition"])):
        hwm = eng.high_watermarks(r["topic"]).get(r["partition"], 0)
        print(json.dumps({
            "group": args.group, "topic": r["topic"],
            "partition": r["partition"],
            "committed": r["committed_offset"],
            "high_watermark": hwm,
            "lag": hwm - r["committed_offset"],
        }))
    return 0


def cmd_group_export(args) -> int:
    """rpk-style offsets backup: committed offsets as JSON lines."""
    eng = _engine(args, read_only=True)
    for r in sorted(
        eng.offset_fetch(args.group).collect(),
        key=lambda x: (x["topic"], x["partition"]),
    ):
        print(json.dumps({
            "group": args.group, "topic": r["topic"],
            "partition": r["partition"], "offset": r["committed_offset"],
        }))
    return 0


def cmd_group_import(args) -> int:
    """Restore/migrate committed offsets from JSON lines on stdin (the
    export format; an optional per-line 'group' is overridden by the
    target group argument), as one atomic commit."""
    eng = _engine(args)
    recs = [json.loads(line) for line in sys.stdin if line.strip()]
    eng.offset_commit_batch(args.group, {
        (r["topic"], int(r["partition"])): int(r["offset"]) for r in recs
    })
    print(json.dumps({"group": args.group, "imported": len(recs)}))
    return 0


def cmd_group_delete_offsets(args) -> int:
    """rpk group offset-delete analog: tombstone committed offsets so the
    group's lag accounting forgets the topic (KIP-496 OffsetDelete), every
    selected partition in one atomic commit."""
    eng = _engine(args)
    parts = range(eng.list_topics()[args.topic].partitions)
    if args.partition is not None:
        parts = [args.partition]
    eng.offset_commit_batch(args.group, dict.fromkeys(
        ((args.topic, p) for p in parts), None
    ))
    print(json.dumps({"group": args.group, "topic": args.topic,
                      "deleted_partitions": list(parts)}))
    return 0


def cmd_maintain(args) -> int:
    """The nightly maintenance tick: per topic run cleanup (dirty-ratio
    gated compaction + retention with the segment fast path) and
    small-segment merging; then GC stale consumer offsets, compact the
    offsets log, and expire idle producer state. Each step is decided from
    the manifest: a topic with no retention set and nothing wholly below
    its log start runs no Spark job, and driver-sized merges and
    retention cuts on a local root run in-process on Arrow; the
    ``maintenance_spark_rewrites`` counter counts the rest."""
    eng = _engine(args)
    topics = [args.topic] if args.topic else sorted(eng.list_topics())
    for t in topics:
        cfg = eng.list_topics()[t]
        if cfg.configs.get("_read_replica") == "true":
            # Read replicas hold no local mutable state and must never
            # touch the source cluster's bucket; cleanup/retention on
            # them raises, so report and move on instead of aborting
            # the sweep.
            print(json.dumps({"topic": t, "skipped": "read replica"}))
            continue
        before = eng.topic_stats(t)
        eng.run_cleanup(t)
        merged = eng.optimize_segments(t)
        archival = cold_merge = None
        if cfg.remote_write and cfg.local_retention_ms is not None:
            # run_archival raises for compacted topics and for legacy
            # topics without a manifest; one such topic must not abort
            # the whole sweep — report the skip per-topic instead. A
            # cold-merge failure after a successful archival must not
            # clobber the archival result (segments really moved).
            try:
                archival = eng.run_archival(t)
            except ValueError as e:
                archival = {"skipped": str(e)}
            else:
                try:
                    cold_merge = eng.optimize_archive_segments(t)
                except ValueError as e:
                    cold_merge = {"skipped": str(e)}
        after = eng.topic_stats(t)
        print(json.dumps({
            "topic": t,
            "rows": {"before": before["rows"], "after": after["rows"]},
            "segments": {"before": before["segments"], "after": after["segments"]},
            "archived_segments": after["archived_segments"],
            "dirty_ratio": after["dirty_ratio"],
            "merge": merged,
            "archival": archival,
            "cold_merge": cold_merge,
            "producers_expired": eng.expire_producers(t),
        }))
    snap = eng.snapshot_counters_history()
    print(json.dumps({
        "offsets_expired": eng.expire_offsets(),
        "offsets_log": eng.compact_offsets(),
        "counters_snapshot_ts_ms": snap["ts_ms"],
    }))
    return 0


def cmd_topic_archive(args) -> int:
    """rpk-style archival tick for one topic: move segments past
    retention.local.target.ms to the cold tier (remote_write analog)."""
    eng = _engine(args)
    res = eng.run_archival(args.name)
    st = eng.topic_stats(args.name)
    print(json.dumps({
        "topic": args.name,
        **res,
        "archived_segments": st["archived_segments"],
        "archived_bytes": st["archived_bytes"],
        "local_bytes": st["bytes"],
    }))
    return 0


def cmd_topic_attach_replica(args) -> int:
    """Remote Read Replica: serve a topic straight from a source
    cluster's archive bucket (pass it via --archive-root)."""
    eng = _engine(args)
    print(json.dumps({"topic": args.name, **eng.attach_read_replica(args.name)}))
    return 0


def cmd_topic_recover(args) -> int:
    """Disaster recovery: rebuild a writable topic from its archive tier
    (pass the bucket via --archive-root)."""
    eng = _engine(args)
    print(json.dumps({"topic": args.name, **eng.recover_topic_from_archive(args.name)}))
    return 0


def cmd_topic_unmount(args) -> int:
    """Tiered-storage migration step 1: flush the topic fully to the
    archive tier, leave a self-describing bucket manifest, detach here.
    --with-groups rides the named groups' committed offsets (or all of
    them, with no names) in the handoff manifest."""
    eng = _engine(args)
    groups: list | bool | None = None
    if args.with_groups is not None:
        groups = args.with_groups if args.with_groups else True
    print(json.dumps(eng.unmount_topic(args.name, with_groups=groups)))
    return 0


def cmd_topic_migration_status(args) -> int:
    """Observer view of a topic's migration/handoff state (mounted /
    mountable / claim_in_progress / handoff_staged / recoverable /
    absent) — tells the operator which recovery verb applies after a
    crashed mount or unmount."""
    eng = _engine(args, read_only=True)
    print(json.dumps(eng.migration_status(args.name)))
    return 0


def cmd_topic_mount(args) -> int:
    """Tiered-storage migration step 2: adopt the bucket's topic as a
    writable tiered topic (pass the bucket via --archive-root).
    --resume-claim recovers a mount that crashed between its claim and
    adopt phases (operator asserts no cluster owns the topic)."""
    eng = _engine(args)
    print(
        json.dumps(
            eng.mount_topic(args.name, resume_claim=args.resume_claim),
            default=str,
        )
    )
    return 0


def cmd_topic_refresh_replica(args) -> int:
    eng = _engine(args)
    print(json.dumps({"topic": args.name, **eng.refresh_read_replica(args.name)}))
    return 0


def _registry(args):
    import os as _os

    from redpanda_spark.registry.store import SchemaRegistry

    _os.makedirs(args.root, exist_ok=True)
    return SchemaRegistry(_os.path.join(args.root, "_schema_registry.json"))


def cmd_registry_register(args) -> int:
    """rpk registry schema create: schema text on stdin, persisted under
    the engine root (same store the engine's schema-id validation and
    registry-driven datalake dispatch read)."""
    reg = _registry(args)
    sid = reg.register(args.subject, sys.stdin.read(), schema_type=args.type.upper())
    print(json.dumps({"subject": args.subject, "id": sid,
                      "version": reg.versions(args.subject)[-1]}))
    return 0


def cmd_registry_subjects(args) -> int:
    reg = _registry(args)
    for sub in reg.subjects():
        print(json.dumps({"subject": sub, "versions": reg.versions(sub)}))
    return 0


def cmd_registry_get(args) -> int:
    reg = _registry(args)
    v = (
        reg.get_latest(args.subject)
        if args.version is None
        else reg.get_version(args.subject, args.version)
    )
    print(json.dumps({
        "subject": args.subject, "id": v.id, "version": v.version,
        "type": v.type, "schema": v.schema,
    }))
    return 0


def cmd_registry_compat(args) -> int:
    """Check a candidate schema (stdin) against the subject's latest under
    the configured compatibility level — 0 exit = compatible."""
    from redpanda_spark.registry.store import test_compatibility

    reg = _registry(args)
    latest = reg.get_latest(args.subject)
    ok, why = test_compatibility(
        latest.schema,
        sys.stdin.read(),
        args.type.upper(),
        reg.get_compatibility(args.subject),
    )
    print(json.dumps({"subject": args.subject, "is_compatible": bool(ok),
                      "reason": why}))
    return 0 if ok else 1


def cmd_registry_mode(args) -> int:
    """rpk registry mode get/set (api-doc/schema_registry.json /mode):
    with a mode argument sets it (optionally per --subject), else reads."""
    reg = _registry(args)
    if args.mode is not None:
        reg.set_mode(args.mode.upper(), args.subject)
    print(json.dumps({"mode": reg.get_mode(args.subject),
                      "subject": args.subject}))
    return 0


def cmd_datalake_export(args) -> int:
    """Topic -> hour-partitioned datalake snapshot (registry/Avro/JSON
    decode per flags; the reference's datalake mode in batch form)."""
    eng = _engine(args)
    from redpanda_spark.sources.datalake import export_topic

    import os as _os

    kw = {}
    if args.avro_schema:
        kw["avro_schema"] = open(args.avro_schema).read()
        kw["wire_framed"] = args.wire_framed
    elif args.subject:
        from redpanda_spark.registry.store import SchemaRegistry

        kw["registry"] = SchemaRegistry(
            _os.path.join(args.root, "_schema_registry.json")
        )
        kw["subject"] = args.subject
    elif args.json_schema:
        kw["json_schema"] = args.json_schema  # Spark DDL, e.g. "a long, b string"
        kw["wire_framed"] = args.wire_framed
    else:
        raise SystemExit(
            "pass --subject (registry dispatch), --avro-schema FILE, or "
            "--json-schema 'col type, ...'"
        )
    files = export_topic(eng, args.topic, args.path, **kw)
    print(json.dumps({"topic": args.topic, "path": args.path,
                      "snapshot_files": len(files)}))
    return 0


def cmd_datalake_export_iceberg(args) -> int:
    """Datalake table -> Apache Iceberg v2 table (incremental: each call
    appends the newest engine snapshot as an Iceberg snapshot)."""
    eng = _engine(args)
    from redpanda_spark.sources.iceberg_export import export_iceberg

    out = export_iceberg(eng.spark, args.path, args.out)
    print(json.dumps(out))
    return 0


def cmd_iceberg_delete(args) -> int:
    """Row-level delete on an exported Iceberg table via v2 position-
    delete files (merge-on-read; no data file rewritten)."""
    eng = _engine(args)
    from redpanda_spark.sources.iceberg_maintain import delete_where

    print(json.dumps(delete_where(eng.spark, args.table_path, args.predicate)))
    return 0


def cmd_iceberg_upsert(args) -> int:
    """MERGE INTO analog: rows from a parquet path upsert into an
    exported Iceberg table by key (position delete + append, one
    snapshot)."""
    eng = _engine(args)
    from redpanda_spark.sources.iceberg_maintain import merge_upsert

    updates = eng.spark.read.parquet(args.updates_path)
    print(
        json.dumps(
            merge_upsert(eng.spark, args.table_path, updates, args.keys.split(","))
        )
    )
    return 0


def cmd_iceberg_compact(args) -> int:
    """Bin-pack small data files into a REPLACE snapshot, applying any
    outstanding position deletes during the rewrite."""
    eng = _engine(args)
    from redpanda_spark.sources.iceberg_maintain import compact_data_files

    print(
        json.dumps(
            compact_data_files(
                eng.spark, args.table_path, target_bytes=args.target_bytes
            )
        )
    )
    return 0


def cmd_iceberg_expire(args) -> int:
    """Expire old snapshots (keeping the current) and GC files only they
    referenced. No Spark session needed — pure metadata + file ops."""
    from redpanda_spark.sources.iceberg_maintain import expire_snapshots

    print(
        json.dumps(
            expire_snapshots(
                args.table_path,
                keep_last=args.keep_last,
                older_than_ms=args.older_than_ms,
            )
        )
    )
    return 0


def cmd_avro_import(args) -> int:
    """.avro OCF file(s) -> parquet (the ingest-once path; no connector
    jar needed — pure-Python decode in Arrow-batched tasks)."""
    from redpanda_spark.sources.avro_source import read_avro_ocf

    eng = _engine(args)
    df = read_avro_ocf(eng.spark, args.path)
    df.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": df.count(), "out": args.out}))
    return 0


def cmd_avro_export(args) -> int:
    """Parquet -> .avro OCF files (one per partition)."""
    from redpanda_spark.sources.avro_source import write_avro_ocf

    eng = _engine(args)
    df = eng.spark.read.parquet(args.path)
    paths = write_avro_ocf(df, args.out)
    print(json.dumps({"files": len(paths), "out": args.out}))
    return 0


def cmd_datalake_register_iceberg(args) -> int:
    """Register an exported Iceberg table's current metadata-location
    with a REST catalog (no Spark session needed — pure metadata)."""
    from redpanda_spark.sources.iceberg_catalog import register_table

    out = register_table(
        args.table_path,
        args.catalog_uri,
        args.namespace,
        args.table_name,
        token=args.token,
        dry_run=args.dry_run,
    )
    print(json.dumps(out))
    return 0


def cmd_cluster_info(args) -> int:
    from redpanda_spark.admin import AdminClient

    eng = _engine(args, read_only=True)
    meta = AdminClient(eng).metadata()
    print(json.dumps(meta, default=str))
    return 0


def cmd_cluster_quota_alter(args) -> int:
    """rpk cluster quotas analog: set/unset a client quota (durable —
    AlterClientQuotas is controller-log metadata in the reference)."""
    from redpanda_spark.admin import AdminClient

    eng = _engine(args)
    admin = AdminClient(eng)
    value = None if args.value in (None, "", "none") else float(args.value)
    admin.alter_client_quota(args.client, args.key, value)
    print(json.dumps({"client": args.client, "key": args.key, "value": value}))
    return 0


def cmd_cluster_quota_describe(args) -> int:
    from redpanda_spark.admin import AdminClient

    eng = _engine(args)
    for client, q in sorted(AdminClient(eng).describe_client_quotas().items()):
        print(json.dumps({"client": client, **q}))
    return 0


def cmd_cluster_logdirs(args) -> int:
    """rpk cluster logdirs describe: per-topic on-disk bytes/files."""
    from redpanda_spark.admin import AdminClient

    eng = _engine(args, read_only=True)
    for topic, d in sorted(AdminClient(eng).describe_log_dirs().items()):
        print(json.dumps({"topic": topic, **d}))
    return 0


def cmd_cluster_metrics(args) -> int:
    """Print the /metrics Prometheus exposition (reference
    /public_metrics analog) for scripted scrapes without an HTTP
    server."""
    from redpanda_spark.rest import RestApp

    status, text = RestApp(_engine(args, read_only=True)).handle("GET", "/metrics")
    print(text, end="")
    return 0 if status == 200 else 1


def cmd_cluster_debug_bundle(args) -> int:
    """rpk debug bundle analog (reference `debug_bundle_service.h:35` —
    collect the cluster's observable state for a support handoff): topic
    catalog + configs, per-topic manifest stats and rate counters, raw
    manifests, the Prometheus exposition, and the root's side files, in
    one zip. Collection is READ-ONLY — it never claims the writer epoch,
    so bundling a live cluster never disturbs the producer."""
    import os as _os
    import time as _time
    import zipfile

    from redpanda_spark.rest import RestApp

    eng = _engine(args, read_only=True)
    out = args.out or f"debug_bundle_{int(_time.time())}.zip"
    _status, metrics = RestApp(eng).handle("GET", "/metrics")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        topics = {
            t: {
                "config": vars(cfg),
                "stats": eng.topic_stats(t),
                "counters": eng.counters(t),
            }
            for t, cfg in sorted(eng.list_topics().items())
        }
        z.writestr("topics.json", json.dumps(topics, indent=2, default=str))
        z.writestr("metrics.prom", str(metrics))
        for t in sorted(eng.list_topics()):
            mp = eng._manifest_path(t)
            if eng._fsio.exists(mp):
                z.writestr(f"manifests/{t}.json", eng._fsio.read_text(mp))
        for side in (
            "_topics.json",
            "_quotas.json",
            "_acls.json",
            "_counters_history.jsonl",  # maintenance-tick time series
        ):
            p = _os.path.join(eng.root, side)
            if eng._fsio.exists(p):
                z.writestr(f"root/{side}", eng._fsio.read_text(p))
    print(json.dumps({"bundle": out, "topics": len(eng.list_topics())}))
    return 0


# -- acl (rpk security acl analog, src/go/rpk/pkg/cli/acl/) ------------------
# Pure-Python path: the ACL store is a JSON file under the engine root —
# no Spark session spin-up for control-plane edits (rpk talks to the admin
# API, not the data path). Local roots only, like every pyarrow-direct path.


def _acl_store(args):
    import os

    from redpanda_spark.security import AclStore

    if "://" in args.root:
        raise SystemExit("acl commands require a local --root")
    os.makedirs(args.root, exist_ok=True)
    return AclStore(path=os.path.join(args.root, "_acls.json"))


def _acl_resource(args) -> tuple[str, str]:
    picked = [
        ("topic", args.topic),
        ("group", args.group),
        ("transactional_id", args.transactional_id),
        ("cluster", "kafka-cluster" if args.cluster else None),
    ]
    chosen = [(t, n) for t, n in picked if n is not None]
    if len(chosen) != 1:
        raise SystemExit(
            "exactly one of --topic/--group/--transactional-id/--cluster"
        )
    return chosen[0]


def cmd_acl_create(args) -> int:
    from redpanda_spark.security import AclBinding

    rtype, rname = _acl_resource(args)
    store = _acl_store(args)
    b = AclBinding(
        principal=args.principal,
        resource_type=rtype,
        resource_name=rname,
        pattern_type=args.pattern,
        operation=args.operation,
        permission=args.permission,
        host=args.host,
    )
    store.create(b)
    from dataclasses import asdict

    print(json.dumps(asdict(b)))
    return 0


def cmd_acl_list(args) -> int:
    from dataclasses import asdict

    store = _acl_store(args)
    for b in store.describe(
        **({"principal": args.principal} if args.principal else {})
    ):
        print(json.dumps(asdict(b)))
    return 0


def cmd_acl_delete(args) -> int:
    from dataclasses import asdict

    store = _acl_store(args)
    filters = {}
    if args.principal:
        filters["principal"] = args.principal
    if args.operation:
        filters["operation"] = args.operation
    for flag, rtype in (
        ("topic", "topic"),
        ("group", "group"),
        ("transactional_id", "transactional_id"),
    ):
        v = getattr(args, flag)
        if v is not None:
            filters["resource_type"] = rtype
            filters["resource_name"] = v
    if not filters:
        raise SystemExit("refusing to delete every ACL: give a filter")
    removed = store.delete(**filters)
    print(json.dumps({"deleted": [asdict(b) for b in removed]}))
    return 0


def cmd_acl_check(args) -> int:
    """Authorization dry-run: what would the broker decide? (rpk's
    `--dry` debugging shape; exit 0 allowed / 1 denied so scripts can
    gate on it.)"""
    rtype, rname = _acl_resource(args)
    store = _acl_store(args)
    allowed = store.authorize(args.principal, args.operation, rtype, rname)
    print(json.dumps({"principal": args.principal, "operation": args.operation,
                      "resource": f"{rtype}:{rname}", "allowed": allowed}))
    return 0 if allowed else 1


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="redpanda_spark")
    p.add_argument("--root", required=True, help="engine root directory/URI")
    p.add_argument(
        "--archive-root",
        default=None,
        help="cold-tier root (object store URI); default <root>/_archive",
    )
    p.add_argument("--master", default=None, help="spark master override")
    sub = p.add_subparsers(dest="noun", required=True)

    topic = sub.add_parser("topic").add_subparsers(dest="verb", required=True)
    c = topic.add_parser("create")
    c.add_argument("topic")
    c.add_argument("-p", "--partitions", type=int, default=1)
    c.add_argument("-c", "--config", action="append", metavar="K=V")
    c.set_defaults(fn=cmd_topic_create)
    topic.add_parser("list").set_defaults(fn=cmd_topic_list)
    d = topic.add_parser("delete")
    d.add_argument("topic")
    d.set_defaults(fn=cmd_topic_delete)
    ds = topic.add_parser("describe")
    ds.add_argument("topic")
    ds.set_defaults(fn=cmd_topic_describe)
    pr = topic.add_parser("produce")
    pr.add_argument("topic")
    pr.set_defaults(fn=cmd_topic_produce)
    co = topic.add_parser("consume")
    co.add_argument("topic")
    co.add_argument("-p", "--partition", type=int, default=0)
    co.add_argument("-o", "--offset", type=int, default=0)
    co.add_argument("-n", "--num", type=int, default=None)
    co.add_argument("--isolation", default="read_uncommitted",
                    choices=["read_uncommitted", "read_committed"])
    co.set_defaults(fn=cmd_topic_consume)

    ac = topic.add_parser("alter-config")
    ac.add_argument("topic")
    ac.add_argument("-c", "--config", action="append", required=True, metavar="K=V")
    ac.set_defaults(fn=cmd_topic_alter_config)
    tr = topic.add_parser("truncate")
    tr.add_argument("topic")
    tr.add_argument("-p", "--partition", type=int, required=True)
    tr.add_argument("--before-offset", type=int, required=True)
    tr.set_defaults(fn=cmd_topic_truncate)

    group = sub.add_parser("group").add_subparsers(dest="verb", required=True)
    group.add_parser("list").set_defaults(fn=cmd_group_list)
    gd = group.add_parser("describe")
    gd.add_argument("group")
    gd.set_defaults(fn=cmd_group_describe)
    gs = group.add_parser("seek")
    gs.add_argument("group")
    gs.add_argument("-t", "--topic", required=True)
    gs.add_argument("-p", "--partition", type=int, default=None)
    gs.add_argument("--to", required=True,
                    help="'start', 'end', or an explicit offset")
    gs.set_defaults(fn=cmd_group_seek)
    gdo = group.add_parser("offset-delete")
    gdo.add_argument("group")
    gdo.add_argument("-t", "--topic", required=True)
    gdo.add_argument("-p", "--partition", type=int, default=None)
    gdo.set_defaults(fn=cmd_group_delete_offsets)
    ge = group.add_parser("export")
    ge.add_argument("group")
    ge.set_defaults(fn=cmd_group_export)
    gi = group.add_parser("import")
    gi.add_argument("group")
    gi.set_defaults(fn=cmd_group_import)

    cluster = sub.add_parser("cluster").add_subparsers(dest="verb", required=True)
    cluster.add_parser("info").set_defaults(fn=cmd_cluster_info)
    cluster.add_parser("logdirs").set_defaults(fn=cmd_cluster_logdirs)
    cluster.add_parser("metrics").set_defaults(fn=cmd_cluster_metrics)
    db = cluster.add_parser("debug-bundle")
    db.add_argument("--out", default=None)
    db.set_defaults(fn=cmd_cluster_debug_bundle)
    qa = cluster.add_parser("quota-alter")
    qa.add_argument("--client", required=True)
    qa.add_argument(
        "--key",
        required=True,
        choices=("producer_byte_rate", "consumer_byte_rate"),
    )
    qa.add_argument("--value", default=None, help="bytes/sec; omit to unset")
    qa.set_defaults(fn=cmd_cluster_quota_alter)
    cluster.add_parser("quota-describe").set_defaults(
        fn=cmd_cluster_quota_describe
    )

    def _acl_resource_flags(sp, required_op: bool):
        sp.add_argument("--principal", required=True)
        sp.add_argument("--operation", required=required_op)
        sp.add_argument("--topic", default=None)
        sp.add_argument("--group", default=None)
        sp.add_argument("--transactional-id", dest="transactional_id", default=None)
        sp.add_argument("--cluster", action="store_true")

    acl = sub.add_parser("acl").add_subparsers(dest="verb", required=True)
    ac = acl.add_parser("create")
    _acl_resource_flags(ac, required_op=True)
    ac.add_argument("--permission", choices=("allow", "deny"), default="allow")
    ac.add_argument("--pattern", choices=("literal", "prefixed"), default="literal")
    ac.add_argument("--host", default="*")
    ac.set_defaults(fn=cmd_acl_create)
    al = acl.add_parser("list")
    al.add_argument("--principal", default=None)
    al.set_defaults(fn=cmd_acl_list)
    ad = acl.add_parser("delete")
    ad.add_argument("--principal", default=None)
    ad.add_argument("--operation", default=None)
    ad.add_argument("--topic", default=None)
    ad.add_argument("--group", default=None)
    ad.add_argument("--transactional-id", dest="transactional_id", default=None)
    ad.set_defaults(fn=cmd_acl_delete)
    ak = acl.add_parser("check")
    _acl_resource_flags(ak, required_op=True)
    ak.set_defaults(fn=cmd_acl_check)
    reg = sub.add_parser("registry").add_subparsers(dest="verb", required=True)
    rr = reg.add_parser("register")
    rr.add_argument("subject")
    rr.add_argument("--type", default="avro", choices=["avro", "json", "protobuf"])
    rr.set_defaults(fn=cmd_registry_register)
    reg.add_parser("subjects").set_defaults(fn=cmd_registry_subjects)
    rg = reg.add_parser("get")
    rg.add_argument("subject")
    rg.add_argument("-v", "--version", type=int, default=None)
    rg.set_defaults(fn=cmd_registry_get)
    rc = reg.add_parser("compat")
    rc.add_argument("subject")
    rc.add_argument("--type", default="avro", choices=["avro", "json", "protobuf"])
    rc.set_defaults(fn=cmd_registry_compat)
    rm = reg.add_parser("mode")
    rm.add_argument("mode", nargs="?", default=None,
                    help="READWRITE|READONLY|IMPORT; omit to read")
    rm.add_argument("--subject", default=None)
    rm.set_defaults(fn=cmd_registry_mode)

    dl = sub.add_parser("datalake").add_subparsers(dest="verb", required=True)
    de = dl.add_parser("export")
    de.add_argument("topic")
    de.add_argument("path")
    de.add_argument("--subject", default=None,
                    help="registry subject for per-record schema dispatch")
    de.add_argument("--avro-schema", default=None,
                    help="path to an Avro schema JSON file")
    de.add_argument("--json-schema", default=None,
                    help="Spark DDL for JSON values, e.g. 'a long, b string'")
    de.add_argument("--wire-framed", action="store_true",
                    help="values carry the registry wire header")
    de.set_defaults(fn=cmd_datalake_export)
    di = dl.add_parser("export-iceberg")
    di.add_argument("path", help="datalake table path")
    di.add_argument("out", help="Iceberg table output path")
    di.set_defaults(fn=cmd_datalake_export_iceberg)
    dr = dl.add_parser("register-iceberg")
    dr.add_argument("table_path", help="exported Iceberg table path")
    dr.add_argument("catalog_uri", help="REST catalog base URI")
    dr.add_argument("namespace", help="dot-separated namespace, e.g. lake.prod")
    dr.add_argument("table_name")
    dr.add_argument("--token", default=None, help="bearer token")
    dr.add_argument("--dry-run", action="store_true",
                    help="print the request plan without any I/O")
    dr.set_defaults(fn=cmd_datalake_register_iceberg)
    idel = dl.add_parser("iceberg-delete")
    idel.add_argument("table_path", help="exported Iceberg table path")
    idel.add_argument("predicate", help="SQL predicate, e.g. \"user_id = 42\"")
    idel.set_defaults(fn=cmd_iceberg_delete)
    ius = dl.add_parser("iceberg-upsert")
    ius.add_argument("table_path", help="exported Iceberg table path")
    ius.add_argument("updates_path", help="parquet path with update rows")
    ius.add_argument("--keys", required=True,
                     help="comma-separated key columns, e.g. id")
    ius.set_defaults(fn=cmd_iceberg_upsert)
    icp = dl.add_parser("iceberg-compact")
    icp.add_argument("table_path", help="exported Iceberg table path")
    icp.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    icp.set_defaults(fn=cmd_iceberg_compact)
    iex = dl.add_parser("iceberg-expire")
    iex.add_argument("table_path", help="exported Iceberg table path")
    iex.add_argument("--keep-last", type=int, default=None)
    iex.add_argument("--older-than-ms", type=int, default=None)
    iex.set_defaults(fn=cmd_iceberg_expire)

    av = sub.add_parser("avro").add_subparsers(dest="verb", required=True)
    ai = av.add_parser("import")
    ai.add_argument("path", help=".avro file, directory, or glob")
    ai.add_argument("out", help="parquet output path")
    ai.set_defaults(fn=cmd_avro_import)
    ae = av.add_parser("export")
    ae.add_argument("path", help="parquet input path")
    ae.add_argument("out", help="directory for .avro files")
    ae.set_defaults(fn=cmd_avro_export)

    ar = topic.add_parser("archive")
    ar.add_argument("name")
    ar.set_defaults(fn=cmd_topic_archive)
    arr = topic.add_parser("attach-replica")
    arr.add_argument("name")
    arr.set_defaults(fn=cmd_topic_attach_replica)
    rfr = topic.add_parser("refresh-replica")
    rfr.add_argument("name")
    rfr.set_defaults(fn=cmd_topic_refresh_replica)
    rec = topic.add_parser("recover")
    rec.add_argument("name")
    rec.set_defaults(fn=cmd_topic_recover)
    um = topic.add_parser("unmount")
    um.add_argument("name")
    um.add_argument(
        "--with-groups",
        nargs="*",
        default=None,
        help="migrate these groups' committed offsets (no names = all)",
    )
    um.set_defaults(fn=cmd_topic_unmount)
    mo = topic.add_parser("mount")
    mo.add_argument("name")
    mo.add_argument("--resume-claim", action="store_true")
    mo.set_defaults(fn=cmd_topic_mount)
    ms = topic.add_parser("migration-status")
    ms.add_argument("name")
    ms.set_defaults(fn=cmd_topic_migration_status)

    mt = sub.add_parser("maintenance").add_subparsers(dest="verb", required=True)
    mr = mt.add_parser("run")
    mr.add_argument("-t", "--topic", default=None)
    mr.set_defaults(fn=cmd_maintain)
    return p


def main(argv: list[str] | None = None) -> int:
    from redpanda_spark.engine import OffsetOutOfRangeError
    from redpanda_spark.sources.iceberg_export import CommitConflictError

    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except (CommitConflictError, OffsetOutOfRangeError) as e:
        # expected refusals (an Iceberg commit lost to a concurrent
        # writer, a truncate past the high watermark): one line, not a
        # traceback
        print(f"error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
