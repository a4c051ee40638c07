"""REST facade — pandaproxy analog (SURVEY.md §2.8), stdlib-only WSGI app.

Reference endpoints (`src/v/pandaproxy/api/api-doc/rest.json:19-470`,
`schema_registry.json:394-1068`):

  GET  /topics                                  list topics
  GET  /topics/{t}                              topic metadata
  POST /topics/{t}                              produce records
  GET  /topics/{t}/partitions/{p}/records?offset=&count=   fetch
  POST /consumers/{g}                           create consumer instance
  POST /consumers/{g}/instances/{i}/subscription   subscribe to topics
  GET  /consumers/{g}/instances/{i}/records     poll assigned partitions
  POST /consumers/{g}/instances/{i}/offsets     commit consumed offsets
  DELETE /consumers/{g}/instances/{i}           remove instance
  GET  /subjects                                registry subjects
  POST /subjects/{s}/versions                   register schema
  GET  /subjects/{s}/versions                   list versions
  GET  /subjects/{s}/versions/{v}               get schema (or 'latest')
  GET  /schemas/ids/{id}                        schema by global id
  PUT  /config                                  set global compatibility
  GET  /config                                  get global compatibility

Serve with ``wsgiref.simple_server.make_server('', port, app)`` or test by
calling ``app.handle(method, path, body)`` directly. Records travel as
JSON with base64 key/value (the proxy's binary embedding).
"""

from __future__ import annotations

import base64
import json
import re


from redpanda_spark.admin import AdminClient
from redpanda_spark.engine import (
    FencedWriterError,
    ProduceError,
    TopicConfig,
    TopicEngine,
)
from redpanda_spark.operators.coordinator import CoordinatorError
from redpanda_spark.registry import CompatibilityError, ModeError, SchemaRegistry

_BROKER_ERRORS = (ProduceError, CoordinatorError)


class TextExposition(str):
    """Explicit marker for handlers whose payload is a verbatim text body
    (e.g. the /metrics Prometheus exposition). The WSGI layer keys its
    text-passthrough on THIS type, not on `str`, so a future handler that
    returns a bare string (say, an error message) still ships through the
    Kafka JSON error contract instead of silently becoming text/plain."""

    content_type = "text/plain; version=0.0.4"


def _req(body: dict, field: str):
    """Required body field: absence is a 422 malformed-request (never a
    KeyError -> 404 'not found', which misleads clients into re-creating
    state)."""
    if field not in body:
        raise ValueError(f"missing required body field '{field}'")
    return body[field]


def _b64e(b):
    return base64.b64encode(bytes(b)).decode() if b is not None else None


def _b64d(s):
    return base64.b64decode(s) if s is not None else None


class RestApp:
    def __init__(
        self,
        engine: TopicEngine,
        registry: SchemaRegistry | None = None,
        acls=None,
        audit=None,
    ):
        self.engine = engine
        self.admin = AdminClient(engine)
        self.registry = registry or SchemaRegistry()
        # optional authN/authZ (SURVEY §2 rows 32-35 end-to-end): when an
        # AclStore is supplied, topic produce/fetch require a principal
        # established through the SASL session routes, and every decision
        # flows through audited_authorize when an audit manager is given
        self.acls = acls
        if acls is not None and audit is not None:
            from redpanda_spark.audit import audited_authorize

            self._authorize = audited_authorize(acls, audit)
        elif acls is not None:
            self._authorize = (
                lambda principal, op, rtype, rname, host=None: acls.authorize(
                    principal, op, rtype, rname, host
                )
            )
        else:
            self._authorize = None
        # insertion-ordered with a hard cap: a long-lived proxy must not
        # accumulate abandoned handshakes without bound (the reference
        # expires SASL sessions); oldest session evicts first
        self._sasl_sessions: dict[str, object] = {}
        self._max_sasl_sessions = 10_000
        self._guards = {
            self._produce: ("write", "topic"),
            self._unmount: ("alter", "topic"),
            self._mount: ("alter", "topic"),
            self._fetch: ("read", "topic"),
            self._consumer_create: ("read", "group"),
            self._consumer_subscribe: ("read", "group"),
            self._consumer_records: ("read", "group"),
            self._consumer_commit: ("read", "group"),
            self._consumer_delete: ("read", "group"),
        }
        # consumer-group state (lazy): shared coordinator + live instances
        self._manager = None
        self._instances: dict[tuple[str, str], object] = {}
        self._next_instance = 0
        self.routes = [
            ("POST", r"^/sasl/handshake$", self._sasl_handshake),
            ("POST", r"^/sasl/authenticate$", self._sasl_authenticate),
            ("GET", r"^/metrics$", self._metrics),
            ("GET", r"^/topics$", self._list_topics),
            ("GET", r"^/topics/([^/]+)$", self._topic_meta),
            ("POST", r"^/topics/([^/]+)$", self._produce),
            ("POST", r"^/topics/([^/]+)/unmount$", self._unmount),
            ("POST", r"^/topics/([^/]+)/mount$", self._mount),
            (
                "GET",
                r"^/topics/([^/]+)/migration$",
                self._migration_status,
            ),
            ("GET", r"^/topics/([^/]+)/partitions/(\d+)/records$", self._fetch),
            ("POST", r"^/consumers/([^/]+)$", self._consumer_create),
            (
                "POST",
                r"^/consumers/([^/]+)/instances/([^/]+)/subscription$",
                self._consumer_subscribe,
            ),
            (
                "GET",
                r"^/consumers/([^/]+)/instances/([^/]+)/records$",
                self._consumer_records,
            ),
            (
                "POST",
                r"^/consumers/([^/]+)/instances/([^/]+)/offsets$",
                self._consumer_commit,
            ),
            (
                "DELETE",
                r"^/consumers/([^/]+)/instances/([^/]+)$",
                self._consumer_delete,
            ),
            ("GET", r"^/subjects$", self._subjects),
            ("POST", r"^/subjects/([^/]+)/versions$", self._register),
            ("POST", r"^/subjects/([^/]+)$", self._lookup_schema),
            ("DELETE", r"^/subjects/([^/]+)$", self._delete_subject),
            (
                "DELETE",
                r"^/subjects/([^/]+)/versions/(\d+)$",
                self._delete_version,
            ),
            ("GET", r"^/subjects/([^/]+)/versions$", self._versions),
            ("GET", r"^/subjects/([^/]+)/versions/([^/]+)$", self._get_version),
            (
                "GET",
                r"^/subjects/([^/]+)/versions/(\d+)/referencedby$",
                self._referenced_by,
            ),
            ("GET", r"^/schemas/ids/(\d+)$", self._schema_by_id),
            ("GET", r"^/schemas/ids/(\d+)/versions$", self._id_versions),
            ("GET", r"^/schemas/ids/(\d+)/subjects$", self._id_subjects),
            (
                "POST",
                r"^/compatibility/subjects/([^/]+)/versions/([^/]+)$",
                self._compat_check,
            ),
            ("GET", r"^/config$", self._get_config),
            ("PUT", r"^/config$", self._put_config),
            ("GET", r"^/mode$", self._get_mode),
            ("PUT", r"^/mode$", self._put_mode),
            ("GET", r"^/mode/([^/]+)$", self._get_mode_subject),
            ("PUT", r"^/mode/([^/]+)$", self._put_mode_subject),
            ("DELETE", r"^/mode/([^/]+)$", self._delete_mode_subject),
        ]

    # -- dispatch ---------------------------------------------------------

    def handle(
        self,
        method: str,
        path: str,
        body: dict | None = None,
        query: dict | None = None,
        headers: dict | None = None,
    ):
        """(status, payload) — the testable core. ``headers`` carries the
        Authorization bearer token (a SASL session id) when auth is on."""
        for m, pat, fn in self.routes:
            if m != method:
                continue
            match = re.match(pat, path)
            if match:
                guard = self._guards.get(fn) if self.acls is not None else None
                if guard is not None:
                    # data-plane gate: principal from the SASL session,
                    # decision through the real ACL algebra (audited).
                    # Kafka shape: produce = WRITE on topic, fetch = READ
                    # on topic, every consumer-group route = READ on the
                    # group (JoinGroup/OffsetCommit/etc. authorize against
                    # the group resource), and subscribe additionally
                    # pre-checks READ on each topic so denial lands at
                    # subscribe time, not first poll.
                    op, rtype = guard
                    principal = self._principal_of(headers)
                    if principal is None:
                        return 401, {
                            "error_code": 40101,
                            "message": "no authenticated SASL session",
                        }
                    denied = None
                    if not self._authorize(
                        principal, op, rtype, match.group(1)
                    ):
                        denied = (op, rtype, match.group(1))
                    # == not `is`: each attribute access creates a fresh
                    # bound-method object; identity is always False here
                    elif fn == self._consumer_subscribe:
                        for t in (body or {}).get("topics", []):
                            if not self._authorize(
                                principal, "read", "topic", str(t)
                            ):
                                denied = ("read", "topic", str(t))
                                break
                    if denied is not None:
                        return 403, {
                            "error_code": 40301,
                            "message": f"{principal} is not authorized to "
                            f"{denied[0]} {denied[1]} {denied[2]}",
                        }
                try:
                    return fn(*match.groups(), body=body or {}, query=query or {})
                except KeyError as e:
                    return 404, {"error_code": 404, "message": str(e)}
                except CompatibilityError as e:
                    return 409, {"error_code": 409, "message": str(e)}
                except ModeError as e:
                    # Confluent/reference mode-violation contract: 42205
                    return 422, {"error_code": 42205, "message": str(e)}
                except FencedWriterError as e:
                    # a stale-writer rejection is a conflict, not a crash:
                    # keep the JSON error contract (the reference returns
                    # NOT_LEADER-class errors for the same condition)
                    return 409, {"error_code": 40903, "message": str(e)}
                except (ValueError, TypeError) as e:
                    # TypeError covers malformed JSON shapes (e.g. a list
                    # where an object is required) — same 422 contract
                    return 422, {"error_code": 422, "message": str(e)}
                except _BROKER_ERRORS as e:
                    # routine broker-side rejections (MESSAGE_TOO_LARGE,
                    # group FSM errors) keep the JSON error contract —
                    # never an HTML 500 traceback out of the WSGI app
                    return 422, {"error_code": 42202, "message": str(e)}
        return 404, {"error_code": 404, "message": f"no route {method} {path}"}

    def __call__(self, environ, start_response):
        """WSGI entry point."""
        from urllib.parse import parse_qsl

        method = environ["REQUEST_METHOD"]
        path = environ["PATH_INFO"]
        query = dict(parse_qsl(environ.get("QUERY_STRING", "")))
        body = None
        try:
            length = int(environ.get("CONTENT_LENGTH") or 0)
            if length:
                body = json.loads(environ["wsgi.input"].read(length))
        except (ValueError, json.JSONDecodeError):
            body = None
        headers = {}
        if environ.get("HTTP_AUTHORIZATION"):
            headers["authorization"] = environ["HTTP_AUTHORIZATION"]
        status, payload = self.handle(method, path, body, query, headers)
        if status == 204:
            # RFC 9110: 204 has no body — a stray payload desynchronizes
            # keep-alive response framing
            start_response("204 No Content", [])
            return []
        if isinstance(payload, TextExposition):
            # explicitly-marked text routes (/metrics Prometheus
            # exposition) pass through verbatim — json-encoding would
            # quote the whole body; a bare str still goes through JSON
            data = payload.encode()
            ctype = payload.content_type
        else:
            data = json.dumps(payload).encode()
            ctype = "application/vnd.kafka.v2+json"
        start_response(
            f"{status} {'OK' if status < 400 else 'ERR'}",
            [("Content-Type", ctype),
             ("Content-Length", str(len(data)))],
        )
        return [data]

    # -- metrics (reference /public_metrics analog) ------------------------

    def _metrics(self, body, query):
        """Prometheus text exposition of the engine's O(1) observability
        surface (engine.topic_stats — manifest-derived, no Spark job).
        Mirrors what the reference exports per partition on
        /public_metrics (partition HWM / log-start, on-disk bytes,
        segment counts: redpanda_kafka_* / redpanda_storage_* families);
        names here use the redpanda_spark_ prefix. Unauthenticated, like
        a scrape port."""

        def esc(v: str) -> str:
            return (
                str(v)
                .replace("\\", "\\\\")
                .replace('"', '\\"')
                .replace("\n", "\\n")
            )

        lines: list[str] = []

        def gauge(name: str, help_: str, samples: list[tuple[dict, float]]):
            if not samples:
                return
            lines.append(f"# HELP {name} {help_}")
            lines.append(f"# TYPE {name} gauge")
            for labels, val in samples:
                lab = ",".join(f'{k}="{esc(v)}"' for k, v in labels.items())
                lines.append(f"{name}{{{lab}}} {val}")

        seg, byt, rows, aseg, abyt, prod, dirty = [], [], [], [], [], [], []
        hwm, starts = [], []
        for topic in sorted(self.engine.list_topics()):
            st = self.engine.topic_stats(topic)
            lb = {"topic": topic}
            seg.append((lb, st["segments"]))
            byt.append((lb, st["bytes"]))
            if st["rows"] is not None:
                rows.append((lb, st["rows"]))
            aseg.append((lb, st["archived_segments"]))
            abyt.append((lb, st["archived_bytes"]))
            prod.append((lb, st["producers_tracked"]))
            dirty.append((lb, st["dirty_ratio"]))
            for p, off in sorted(st["high_watermarks"].items()):
                hwm.append(({"topic": topic, "partition": str(p)}, off))
            for p, off in sorted(st["log_starts"].items()):
                starts.append(({"topic": topic, "partition": str(p)}, off))
        gauge("redpanda_spark_topic_segments", "live local segments", seg)
        gauge("redpanda_spark_topic_bytes", "local on-disk bytes", byt)
        gauge("redpanda_spark_topic_rows", "manifest-stat row count", rows)
        gauge(
            "redpanda_spark_topic_archived_segments", "tiered segments", aseg
        )
        gauge("redpanda_spark_topic_archived_bytes", "tiered bytes", abyt)
        gauge(
            "redpanda_spark_topic_producers_tracked",
            "idempotent producer states",
            prod,
        )
        gauge(
            "redpanda_spark_topic_dirty_ratio", "compaction dirty ratio", dirty
        )
        gauge(
            "redpanda_spark_partition_high_watermark",
            "next offset to be assigned",
            hwm,
        )
        gauge(
            "redpanda_spark_partition_log_start",
            "first retained offset",
            starts,
        )

        # rate counters (reference /public_metrics rate families —
        # produce/fetch bytes+rows, request counts, archival uploads,
        # cache outcomes): process-lifetime monotone, O(topics) to emit
        def counter(name: str, help_: str, samples: list[tuple[dict, float]]):
            if not samples:
                return
            lines.append(f"# HELP {name} {help_}")
            lines.append(f"# TYPE {name} counter")
            for labels, val in samples:
                lab = ",".join(f'{k}="{esc(v)}"' for k, v in labels.items())
                lines.append(f"{name}{{{lab}}} {val}")

        families = {
            "produce_requests": "produce calls",
            "produced_rows": "rows appended",
            "produced_bytes": "segment bytes appended",
            "fetch_requests": "relational fetches and row fetches from segments",
            "fetched_rows": "rows served via row-level fetch",
            "fetched_bytes": "wire-size bytes served via row-level fetch",
            "tail_cache_hits": "fetches served from the hot tail",
            "tail_cache_misses": "row fetches read from the parquet segments",
            "archival_uploads": "segments uploaded to the archive tier",
            "archival_bytes": "bytes uploaded to the archive tier",
            "cold_cache_hits": "cold reads served from the local cache",
            "cold_cache_misses": "cold reads that filled the local cache",
            "maintenance_local_rewrites": "maintenance rewrites run in-process on Arrow",
            "maintenance_spark_rewrites": "maintenance rewrites run as Spark jobs",
        }
        per_family: dict[str, list[tuple[dict, float]]] = {
            k: [] for k in families
        }
        for topic in sorted(self.engine.list_topics()):
            cts = self.engine.counters(topic)
            for k, v in cts.items():
                if k in per_family:
                    per_family[k].append(({"topic": topic}, v))
        for k, help_ in families.items():
            counter(f"redpanda_spark_{k}_total", help_, per_family[k])
        return 200, TextExposition("\n".join(lines) + "\n")

    # -- topic handlers ---------------------------------------------------

    def _list_topics(self, body, query):
        return 200, sorted(self.engine.list_topics())

    def _topic_meta(self, topic, body, query):
        meta = self.admin.metadata([topic])["topics"][topic]
        if "error" in meta:
            return 404, {"error_code": 40401, "message": meta["error"]}
        cfg = self.engine.list_topics()[topic]
        return 200, {
            "name": topic,
            "partitions": cfg.partitions,
            "configs": self.admin.describe_configs(topic),
            "offsets": meta["partitions"],
        }

    # -- SASL session routes (handshake -> authenticate -> bearer) --------

    def _principal_of(self, headers: dict | None) -> str | None:
        tok = (headers or {}).get("authorization", "")
        if not tok.startswith("Bearer "):
            return None
        sess = self._sasl_sessions.get(tok[len("Bearer ") :])
        return sess.principal if sess is not None else None

    def _sasl_handshake(self, body, query):
        """Open a SASL session; returns the session id the client passes
        as `Authorization: Bearer <id>` (the HTTP analog of the
        connection the reference's sasl_server FSM rides on)."""
        import uuid as _uuid

        from redpanda_spark.security import SaslSession

        sess = SaslSession(self.acls)
        res = sess.handshake(str(_req(body, "mechanism")))
        if res["error"]:
            return 422, {
                "error_code": 42210,
                "message": res["error"],
                "mechanisms": res["mechanisms"],
            }
        sid = _uuid.uuid4().hex
        while len(self._sasl_sessions) >= self._max_sasl_sessions:
            self._sasl_sessions.pop(next(iter(self._sasl_sessions)))
        self._sasl_sessions[sid] = sess
        return 200, {"session_id": sid, "mechanisms": res["mechanisms"]}

    def _sasl_authenticate(self, body, query):
        sess = self._sasl_sessions.get(str(_req(body, "session_id")))
        if sess is None:
            raise KeyError("unknown SASL session")
        res = sess.authenticate(
            str(_req(body, "username")), str(body.get("password", ""))
        )
        if res["error"]:
            return 422, {"error_code": 42210, "message": res["error"]}
        return 200, {"principal": res["principal"]}

    def _unmount(self, topic, body, query):
        """Tiered-storage migration, admin surface (the reference exposes
        mount/unmount on the admin API — `cluster/data_migration_frontend`);
        ACL-gated on topic ALTER. Body ``{"with_groups": [...]}`` (or
        true) opts consumer-offset migration into the handoff."""
        try:
            return 200, self.engine.unmount_topic(
                topic, with_groups=(body or {}).get("with_groups")
            )
        except ValueError as e:
            return 409, {"error_code": 40902, "message": str(e)}

    def _migration_status(self, topic, body, query):
        """Observer view of the topic's migration/handoff state — which
        recovery verb applies after a crashed mount/unmount (the
        reference's migration status RPCs,
        `cluster/data_migration_frontend`). Read-only, no ACL mutation
        gate (DESCRIBE-level, like topic metadata)."""
        return 200, self.engine.migration_status(topic)

    def _mount(self, topic, body, query):
        try:
            res = self.engine.mount_topic(
                topic, resume_claim=bool((body or {}).get("resume_claim"))
            )
        except ValueError as e:
            return 409, {"error_code": 40902, "message": str(e)}
        return 200, {
            "mounted": res["mounted"],
            "segments": res["segments"],
            "high_watermarks": {
                str(p): o for p, o in res["high_watermarks"].items()
            },
        }

    def _produce(self, topic, body, query):
        recs = body.get("records", [])
        if not recs:
            return 422, {"error_code": 42201, "message": "no records"}
        # client quota enforcement (quota_manager.h token bucket): a
        # producer_byte_rate quota on the client id returns the Kafka
        # throttle contract — 429 + throttle_time_ms; the client backs
        # off and retries (the broker never sleeps a request thread)
        client = query.get("client_id", body.get("client_id", "anonymous"))
        decoded = [
            {"key": _b64d(r.get("key")), "value": _b64d(r.get("value"))}
            for r in recs
        ]
        # charge the DECODED bytes (what actually lands in the log) —
        # base64 string lengths would overbill producers ~33% vs the
        # fetch path, which charges raw key/value bytes
        nbytes = sum(
            len(d["key"] or b"") + len(d["value"] or b"") for d in decoded
        )
        delay = self.admin.throttle(client, nbytes)
        if delay > 0:
            return 429, {
                "error_code": 42901,
                "message": f"quota exceeded for {client}",
                "throttle_time_ms": int(delay * 1000),
            }
        # record-list produce: the engine's driver-side fast path appends
        # these with zero Spark jobs (falls back to a DataFrame produce on
        # URI roots / legacy layouts automatically)
        if any("partition" in r for r in recs):
            # mixed batches keep per-record semantics: a record without a
            # partition routes by key-hash / round-robin (partition=None
            # → the engine's partitioner), never a silent partition 0
            rows = [
                {
                    **d,
                    "partition": (
                        int(r["partition"])
                        if r.get("partition") is not None
                        else None
                    ),
                }
                for r, d in zip(recs, decoded)
            ]
        else:
            rows = decoded
        bases = self.engine.produce(topic, rows)
        return 200, {
            "offsets": [
                {"partition": p, "base_offset": b} for p, b in sorted(bases.items())
            ]
        }

    def _fetch(self, topic, partition, body, query):
        offset = int(query.get("offset", 0))
        count = int(query.get("count", 100))
        # consumer_byte_rate quota, POST-PAID like Kafka's fetch throttle:
        # a request arriving while the bucket is in deficit is rejected
        # BEFORE any read happens (no wasted segment read, and the deficit
        # drains with wall time so the client's backoff always succeeds
        # eventually); completed reads then charge their actual bytes,
        # letting the bucket go negative for oversized fetches instead of
        # starving them forever.
        client = query.get("client_id", "anonymous")
        delay = self.admin.quota_deficit(client, "consumer_byte_rate")
        if delay > 0:
            return 429, {
                "error_code": 42901,
                "message": f"quota exceeded for {client}",
                "throttle_time_ms": int(delay * 1000),
            }
        out = self.engine.fetch_rows(
            topic, int(partition), offset=offset, max_records=count
        )
        nbytes = sum(
            len(r["key"] or b"") + len(r["value"] or b"") for r in out
        )
        self.admin.quota_charge(client, nbytes, "consumer_byte_rate")
        return 200, [
            {
                "topic": topic,
                "partition": r["partition"],
                "offset": r["offset"],
                "key": _b64e(r["key"]),
                "value": _b64e(r["value"]),
            }
            for r in out
        ]

    # -- registry handlers ------------------------------------------------

    # -- consumer-group handlers (rest.json /consumers/{g} surface) -------

    def _get_manager(self):
        from redpanda_spark.operators.coordinator import GroupManager

        parts = {t: c.partitions for t, c in self.engine.list_topics().items()}
        if self._manager is None:
            self._manager = GroupManager(parts, engine=self.engine)
        else:
            self._manager.topic_partitions.update(parts)
        return self._manager

    def _consumer_create(self, group, body, query):
        name = body.get("name") or f"rest-consumer-{self._next_instance}"
        self._next_instance += 1
        if (group, name) in self._instances:
            return 409, {"error_code": 40902, "message": f"instance {name} exists"}
        self._instances[(group, name)] = {
            "consumer": None,
            "reset": body.get("auto.offset.reset", "earliest"),
        }
        return 200, {
            "instance_id": name,
            "base_uri": f"/consumers/{group}/instances/{name}",
        }

    def _instance(self, group, inst):
        try:
            return self._instances[(group, inst)]
        except KeyError:
            raise KeyError(f"no consumer instance {group}/{inst}") from None

    def _consumer_subscribe(self, group, inst, body, query):
        from redpanda_spark.consumer import Consumer

        slot = self._instance(group, inst)
        if slot.get("consumer") is not None:
            # leave the group first: replacing without close() leaks a
            # phantom member that keeps partitions assigned (and
            # unpollable) until the session-timeout sweep
            slot["consumer"].close()
        slot["consumer"] = Consumer(
            self.engine,
            self._get_manager(),
            group,
            list(_req(body, "topics")),
            auto_offset_reset=slot["reset"],
        )
        slot["consumer"].subscribe()
        return 204, {}

    def _consumer_records(self, group, inst, body, query):
        slot = self._instance(group, inst)
        c = slot["consumer"]
        if c is None:
            return 409, {"error_code": 40903, "message": "not subscribed"}
        if not c.assignment:
            c.subscribe()  # group was mid-rebalance at subscription time
        else:
            c.heartbeat()
        if not c.assignment:
            return 200, []
        max_records = query.get("max_records")
        out = []
        for (topic, p), rows in c.poll(
            int(max_records) if max_records else None
        ).items():
            for r in rows:
                out.append(
                    {
                        "topic": topic,
                        "partition": p,
                        "offset": r["offset"],
                        "key": _b64e(r["key"]),
                        "value": _b64e(r["value"]),
                    }
                )
        return 200, out

    def _consumer_commit(self, group, inst, body, query):
        c = self._instance(group, inst)["consumer"]
        if c is None:
            return 409, {"error_code": 40903, "message": "not subscribed"}
        c.commit()
        return 200, {}

    def _consumer_delete(self, group, inst, body, query):
        slot = self._instance(group, inst)
        if slot["consumer"] is not None:
            slot["consumer"].close()
        del self._instances[(group, inst)]
        return 204, {}

    def _subjects(self, body, query):
        return 200, self.registry.subjects()

    def _register(self, subject, body, query):
        sid = self.registry.register(
            subject,
            _req(body, "schema"),
            body.get("schemaType", "AVRO"),
            references=body.get("references"),
        )
        return 200, {"id": sid}

    def _lookup_schema(self, subject, body, query):
        """POST /subjects/{s}: is this exact schema already registered?
        (api-doc post_subject). Returns the registered coordinates, 404
        with the Confluent 40403 code when absent — never registers."""
        from redpanda_spark.registry.store import _canonical

        stype = body.get("schemaType", "AVRO")
        canon = _canonical(_req(body, "schema"), stype)
        for ver in self.registry.versions(subject):
            v = self.registry.get_version(subject, ver)
            if v.type == stype and _canonical(v.schema, v.type) == canon:
                return 200, {
                    "subject": subject,
                    "id": v.id,
                    "version": v.version,
                    "schema": v.schema,
                }
        return 404, {"error_code": 40403, "message": "schema not found"}

    def _delete_subject(self, subject, body, query):
        """DELETE /subjects/{s}: soft-delete all live versions; returns
        the deleted version list (api-doc delete_subject)."""
        return 200, self.registry.delete_subject(subject)

    def _delete_version(self, subject, version, body, query):
        self.registry.delete_version(subject, int(version))
        return 200, int(version)

    def _versions(self, subject, body, query):
        vs = self.registry.versions(subject)
        if not vs:
            return 404, {"error_code": 40401, "message": f"subject {subject}"}
        return 200, vs

    def _get_version(self, subject, version, body, query):
        v = (
            self.registry.get_latest(subject)
            if version == "latest"
            else self.registry.get_version(subject, int(version))
        )
        out = {
            "subject": v.subject,
            "version": v.version,
            "id": v.id,
            "schemaType": v.type,
            "schema": v.schema,
        }
        if v.references:
            out["references"] = v.references
        return 200, out

    def _referenced_by(self, subject, version, body, query):
        return 200, self.registry.referenced_by(subject, int(version))

    def _schema_by_id(self, sid, body, query):
        v = self.registry.get_by_id(int(sid))
        out = {"schema": v.schema, "schemaType": v.type}
        if v.references:
            out["references"] = v.references
        return 200, out

    def _id_versions(self, sid, body, query):
        """GET /schemas/ids/{id}/versions (api-doc get_schema_versions):
        every (subject, version) carrying this global id."""
        v = self.registry.get_by_id(int(sid))
        return 200, [{"subject": v.subject, "version": v.version}]

    def _id_subjects(self, sid, body, query):
        v = self.registry.get_by_id(int(sid))
        return 200, [v.subject]

    def _compat_check(self, subject, version, body, query):
        """POST /compatibility/subjects/{s}/versions/{v}: would this
        candidate register cleanly against that version under the
        configured level? (api-doc compatibility_subject_version)"""
        from redpanda_spark.registry.store import test_compatibility

        v = (
            self.registry.get_latest(subject)
            if version == "latest"
            else self.registry.get_version(subject, int(version))
        )
        level = self.registry.get_compatibility(subject)
        base = level.replace("_TRANSITIVE", "")
        cand = _req(body, "schema")
        # transitive levels test against ALL live versions — the same
        # rule register enforces; checking only the named version would
        # report is_compatible=true for schemas the write path rejects
        targets = (
            [
                self.registry.get_version(subject, n)
                for n in self.registry.versions(subject)
            ]
            if level.endswith("_TRANSITIVE")
            else [v]
        )
        ok = all(
            test_compatibility(
                t.schema, cand, body.get("schemaType", t.type), base
            )[0]
            for t in targets
        )
        return 200, {"is_compatible": bool(ok)}

    def _get_config(self, body, query):
        return 200, {"compatibilityLevel": self.registry.get_compatibility()}

    def _put_config(self, body, query):
        self.registry.set_compatibility(_req(body, "compatibility"))
        return 200, {"compatibility": body["compatibility"]}

    # -- registry mode (api-doc/schema_registry.json /mode) ---------------

    def _get_mode(self, body, query):
        return 200, {"mode": self.registry.get_mode()}

    def _put_mode(self, body, query):
        self.registry.set_mode(_req(body, "mode"))
        return 200, {"mode": body["mode"]}

    def _get_mode_subject(self, subject, body, query):
        return 200, {"mode": self.registry.get_mode(subject)}

    def _put_mode_subject(self, subject, body, query):
        self.registry.set_mode(_req(body, "mode"), subject)
        return 200, {"mode": body["mode"]}

    def _delete_mode_subject(self, subject, body, query):
        return 200, {"mode": self.registry.delete_mode(subject)}
