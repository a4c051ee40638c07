"""Admin RPC + REST facade tests (metadata, configs, partitions, producer
ids, quotas, log dirs; pandaproxy endpoint shapes)."""

from __future__ import annotations

import base64
import json

import pytest

from redpanda_spark.admin import AdminClient
from redpanda_spark.engine import OFFSETS_TOPIC, TopicConfig, TopicEngine
from redpanda_spark.registry import SchemaRegistry
from redpanda_spark.rest import RestApp


@pytest.fixture()
def engine(spark, tmp_path):
    return TopicEngine(spark, str(tmp_path / "topics"))


@pytest.fixture()
def admin(engine):
    return AdminClient(engine)


def b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def test_metadata(admin, engine):
    engine.create_topic("t", TopicConfig(partitions=2))
    md = admin.metadata()
    assert set(md["topics"]) == {"t"}
    assert set(md["topics"]["t"]["partitions"]) == {0, 1}
    assert admin.metadata(["ghost"])["topics"]["ghost"]["error"] == "UNKNOWN_TOPIC_OR_PARTITION"


def test_describe_alter_configs(admin, engine):
    engine.create_topic("t", TopicConfig(partitions=1))
    cfg = admin.describe_configs("t")
    assert cfg["cleanup.policy"] == "delete"
    admin.alter_configs("t", {"cleanup.policy": "compact", "retention.ms": "1000", "custom.k": "v"})
    cfg = admin.describe_configs("t")
    assert cfg["cleanup.policy"] == "compact"
    assert cfg["retention.ms"] == "1000"
    assert cfg["custom.k"] == "v"
    assert engine.list_topics()["t"].retention_ms == 1000
    admin.alter_configs("t", {"custom.k": None})
    assert "custom.k" not in admin.describe_configs("t")


def test_create_partitions(admin, engine, spark):
    engine.create_topic("t", TopicConfig(partitions=2))
    admin.create_partitions("t", 4)
    assert engine.list_topics()["t"].partitions == 4
    assert set(engine.high_watermarks("t")) == {0, 1, 2, 3}
    with pytest.raises(ValueError):
        admin.create_partitions("t", 3)  # cannot shrink


def test_init_producer_id(admin):
    p1, e1 = admin.init_producer_id()
    p2, e2 = admin.init_producer_id()
    assert p2 == p1 + 1 and e1 == e2 == 0
    t1 = admin.init_producer_id("txn-1")
    t1b = admin.init_producer_id("txn-1")
    assert t1b[0] == t1[0] and t1b[1] == t1[1] + 1  # epoch fencing bump


def test_quota_throttle(admin):
    admin.alter_client_quota("c1", "producer_byte_rate", 1000.0)
    assert admin.throttle("c1", 500) == 0.0
    d = admin.throttle("c1", 1000)  # bucket nearly empty now
    assert d > 0.0
    assert admin.throttle("unlimited-client", 10**9) == 0.0


def test_describe_log_dirs(admin, engine, spark):
    from pyspark.sql import Row

    engine.create_topic("t", TopicConfig(partitions=1))
    engine.produce(
        "t",
        spark.createDataFrame([Row(key=b"k", value=b"v" * 100)], "key binary, value binary"),
    )
    dirs = admin.describe_log_dirs()
    assert dirs["t"]["size_bytes"] > 0 and dirs["t"]["n_files"] > 0


def test_rest_topic_lifecycle(engine, spark):
    app = RestApp(engine)
    engine.create_topic("t", TopicConfig(partitions=2))
    assert app.handle("GET", "/topics") == (200, ["t"])
    status, meta = app.handle("GET", "/topics/t")
    assert status == 200 and meta["partitions"] == 2
    status, resp = app.handle(
        "POST", "/topics/t",
        {"records": [{"key": b64("a"), "value": b64("1")},
                     {"key": b64("b"), "value": b64("2")}]},
    )
    assert status == 200 and len(resp["offsets"]) >= 1
    # fetch each partition and reassemble
    def fetch_all(app):
        out = []
        for p in (0, 1):
            status, recs = app.handle(
                "GET", f"/topics/t/partitions/{p}/records", query={"offset": "0"}
            )
            assert status == 200
            out += recs
        return out

    recs = fetch_all(app)
    assert sorted(base64.b64decode(r["value"]).decode() for r in recs) == ["1", "2"]
    # a freshly opened engine has no hot tail: the same records come from
    # the segments, with zero Spark jobs
    fresh = RestApp(TopicEngine(spark, engine.root, read_only=True))
    sc = spark.sparkContext
    sc.setJobGroup("rest-fetch", "segment fetch must be job-free")
    try:
        again = fetch_all(fresh)
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("rest-fetch")) == []
    assert again == recs
    assert app.handle("GET", "/topics/ghost")[0] == 404


def test_rest_registry_endpoints(engine):
    app = RestApp(engine)
    schema = json.dumps({"type": "record", "name": "R", "fields": [{"name": "a", "type": "int"}]})
    status, resp = app.handle("POST", "/subjects/s-value/versions", {"schema": schema})
    assert status == 200
    sid = resp["id"]
    assert app.handle("GET", "/subjects") == (200, ["s-value"])
    assert app.handle("GET", "/subjects/s-value/versions") == (200, [1])
    status, v = app.handle("GET", "/subjects/s-value/versions/latest")
    assert status == 200 and v["id"] == sid
    status, by_id = app.handle("GET", f"/schemas/ids/{sid}")
    assert status == 200 and json.loads(by_id["schema"])["name"] == "R"
    # incompatible register → 409 (registry compat gate through REST)
    bad = json.dumps({"type": "record", "name": "R", "fields": [{"name": "a", "type": "string"}]})
    assert app.handle("POST", "/subjects/s-value/versions", {"schema": bad})[0] == 409
    assert app.handle("GET", "/config") == (200, {"compatibilityLevel": "BACKWARD"})
    assert app.handle("PUT", "/config", {"compatibility": "FULL"})[0] == 200
    assert app.handle("GET", "/config") == (200, {"compatibilityLevel": "FULL"})


def test_rest_wsgi_roundtrip(engine):
    """Drive the actual WSGI callable (what a real server would invoke)."""
    import io

    app = RestApp(engine)
    engine.create_topic("w", TopicConfig(partitions=1))
    body = json.dumps({"records": [{"key": None, "value": b64("hello")}]}).encode()
    environ = {
        "REQUEST_METHOD": "POST",
        "PATH_INFO": "/topics/w",
        "QUERY_STRING": "",
        "CONTENT_LENGTH": str(len(body)),
        "wsgi.input": io.BytesIO(body),
    }
    captured = {}

    def start_response(status, headers):
        captured["status"] = status

    out = b"".join(app(environ, start_response))
    assert captured["status"].startswith("200")
    assert json.loads(out)["offsets"][0]["base_offset"] == 0


def test_rest_schema_references(engine):
    app = RestApp(engine)
    addr = json.dumps(
        {"type": "record", "name": "Address",
         "fields": [{"name": "city", "type": "string"}]}
    )
    person = json.dumps(
        {"type": "record", "name": "Person",
         "fields": [{"name": "home", "type": "Address"}]}
    )
    assert app.handle("POST", "/subjects/addr/versions", {"schema": addr})[0] == 200
    refs = [{"name": "Address", "subject": "addr", "version": 1}]
    status, resp = app.handle(
        "POST", "/subjects/person/versions", {"schema": person, "references": refs}
    )
    assert status == 200
    sid = resp["id"]
    status, v = app.handle("GET", "/subjects/person/versions/latest")
    assert status == 200 and v["references"] == refs
    status, holders = app.handle("GET", "/subjects/addr/versions/1/referencedby")
    assert status == 200 and holders == [sid]


def test_rest_consumer_group_lifecycle(engine, spark):
    """The pandaproxy /consumers surface end-to-end: create instance,
    subscribe, poll records (base64 payloads), commit, re-poll sees only
    new data, delete instance."""
    app = RestApp(engine)
    engine.create_topic("ct", TopicConfig(partitions=2))
    recs = [
        {"partition": i % 2, "key": b64("k%d" % i), "value": b64("v%d" % i)}
        for i in range(6)
    ]
    assert app.handle("POST", "/topics/ct", {"records": recs})[0] == 200

    status, inst = app.handle("POST", "/consumers/cg", {"name": "i1"})
    assert status == 200 and inst["instance_id"] == "i1"
    # duplicate instance name -> 409
    assert app.handle("POST", "/consumers/cg", {"name": "i1"})[0] == 409

    assert app.handle(
        "POST", "/consumers/cg/instances/i1/subscription", {"topics": ["ct"]}
    )[0] == 204
    status, rows = app.handle("GET", "/consumers/cg/instances/i1/records")
    assert status == 200 and len(rows) == 6
    import base64

    vals = sorted(base64.b64decode(r["value"]).decode() for r in rows)
    assert vals == [f"v{i}" for i in range(6)]
    assert app.handle("POST", "/consumers/cg/instances/i1/offsets")[0] == 200

    # only new records after commit
    app.handle("POST", "/topics/ct", {"records": [
        {"partition": 0, "key": b64("kx"), "value": b64("vnew")}]})
    status, rows = app.handle("GET", "/consumers/cg/instances/i1/records")
    assert [base64.b64decode(r["value"]).decode() for r in rows] == ["vnew"]

    assert app.handle("DELETE", "/consumers/cg/instances/i1")[0] == 204
    assert app.handle("GET", "/consumers/cg/instances/i1/records")[0] == 404


def test_rest_produce_quota_throttles(engine, spark):
    """A producer_byte_rate quota on the client id: an oversized produce
    returns 429 with throttle_time_ms (quota_manager token bucket);
    unquota'd clients pass; draining the window lets the client back."""
    app = RestApp(engine)
    engine.create_topic("qt", TopicConfig(partitions=1))
    app.admin.alter_client_quota("slow-client", "producer_byte_rate", 50.0)

    big = {"records": [{"key": b64("k"), "value": b64("x" * 200)}]}
    status, resp = app.handle("POST", "/topics/qt", big, {"client_id": "slow-client"})
    # first call drains the bucket (bucket starts full at the limit),
    # the second must throttle
    if status == 200:
        status, resp = app.handle("POST", "/topics/qt", big, {"client_id": "slow-client"})
    assert status == 429 and resp["throttle_time_ms"] > 0

    # a different client is unaffected
    assert app.handle("POST", "/topics/qt", big, {"client_id": "other"})[0] == 200


def test_partition_growth_rebalances_assignment(engine, spark):
    """create_partitions + a coordinator aware of the new count: the next
    rejoin assigns the grown partition set (the reference's metadata
    refresh -> rebalance path)."""
    from redpanda_spark.consumer import Consumer
    from redpanda_spark.operators.coordinator import GroupManager

    engine.create_topic("gt", TopicConfig(partitions=2))
    mgr = GroupManager({"gt": 2}, engine=engine)
    c = Consumer(engine, mgr, "gg", ["gt"])
    assert sorted(c.subscribe()["gt"]) == [0, 1]

    AdminClient(engine).create_partitions("gt", 4)
    rebalanced = mgr.refresh_topic_partitions(
        {t: cfg.partitions for t, cfg in engine.list_topics().items()}
    )
    assert rebalanced == ["gg"]
    # the member's next heartbeat sees the rebalance and rejoins
    c.heartbeat()
    assert sorted(c.assignment["gt"]) == [0, 1, 2, 3]


def test_rest_fetch_quota_throttles(engine, spark):
    """consumer_byte_rate on the client id throttles the fetch endpoint
    with the same 429 + throttle_time_ms contract as produce; other
    clients and the produce quota bucket are unaffected."""
    from pyspark.sql import Row

    engine.create_topic("fq", TopicConfig(partitions=1))
    engine.produce(
        "fq",
        spark.createDataFrame(
            [Row(key=None, value=b"x" * 200, partition=0) for _ in range(5)],
            "key binary, value binary, partition int",
        ),
    )
    app = RestApp(engine)
    app.admin.alter_client_quota("slow-reader", "consumer_byte_rate", 100.0)
    code, body = app.handle(
        "GET", "/topics/fq/partitions/0/records",
        query={"offset": "0", "count": "5", "client_id": "slow-reader"},
    )
    # post-paid: the first (oversized) read SUCCEEDS — the broker returns
    # the data and puts the bucket in deficit; the next request is
    # rejected before any read with the wait that drains the debt
    assert code == 200 and len(body) == 5
    code2, body2 = app.handle(
        "GET", "/topics/fq/partitions/0/records",
        query={"offset": "0", "count": "5", "client_id": "slow-reader"},
    )
    assert code2 == 429 and body2["throttle_time_ms"] > 0
    # an unthrottled client reads freely
    code3, body3 = app.handle(
        "GET", "/topics/fq/partitions/0/records",
        query={"offset": "0", "count": "5", "client_id": "fast"},
    )
    assert code3 == 200 and len(body3) == 5


def test_cli_topic_lifecycle(spark, tmp_path, capsys, monkeypatch):
    """rpk-parity CLI: create -> produce (stdin JSON lines) -> consume ->
    describe -> group describe -> delete, all through main(argv)."""
    import io
    import json as _json

    from redpanda_spark.cli import main

    root = str(tmp_path / "cli_root")
    assert main(["--root", root, "topic", "create", "t", "-p", "2"]) == 0
    capsys.readouterr()

    lines = "\n".join(
        _json.dumps(r)
        for r in [
            {"key": "a", "value": "v1"},
            {"key": "b", "value": "v2", "partition": 1},
        ]
    )
    monkeypatch.setattr("sys.stdin", io.StringIO(lines))
    assert main(["--root", root, "topic", "produce", "t"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["produced"] == 2

    sc = spark.sparkContext
    sc.setJobGroup("cli-consume", "consume must be job-free")
    try:
        assert main(["--root", root, "topic", "consume", "t", "-p", "1", "-o", "0"]) == 0
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("cli-consume")) == []
    recs = [_json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert [r["value"] for r in recs] == ["v2"]
    assert recs[0]["offset"] == 0

    assert main(["--root", root, "topic", "list"]) == 0
    assert _json.loads(capsys.readouterr().out)["topic"] == "t"

    assert main(["--root", root, "topic", "describe", "t"]) == 0
    desc = _json.loads(capsys.readouterr().out)
    assert desc["configs"]["cleanup.policy"] == "delete"

    from redpanda_spark.engine import TopicEngine

    TopicEngine(spark, root).offset_commit("g1", "t", 1, 1)
    assert main(["--root", root, "group", "describe", "g1"]) == 0
    g = _json.loads(capsys.readouterr().out)
    assert g["lag"] == 0  # committed 1 == hwm 1

    assert main(["--root", root, "topic", "delete", "t"]) == 0


def _offsets_segments(root):
    """Segment count of the root's internal __consumer_offsets topic."""
    with open(f"{root}/_manifest_{OFFSETS_TOPIC}.json") as f:
        return len(json.load(f)["files"])


def test_cli_seek_truncate_alter(spark, tmp_path, capsys, monkeypatch):
    import io
    import json as _json

    from redpanda_spark.cli import main

    root = str(tmp_path / "cli2")
    main(["--root", root, "topic", "create", "t", "-p", "1"])
    monkeypatch.setattr(
        "sys.stdin",
        io.StringIO("\n".join(_json.dumps({"key": "k", "value": f"v{i}"})
                               for i in range(6))),
    )
    main(["--root", root, "topic", "produce", "t"])
    capsys.readouterr()

    # truncate prefix, then consume sees only the tail
    assert main(["--root", root, "topic", "truncate", "t", "-p", "0",
                 "--before-offset", "4"]) == 0
    capsys.readouterr()
    main(["--root", root, "topic", "consume", "t", "-p", "0", "-o", "0"])
    recs = [_json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert [r["offset"] for r in recs] == [4, 5]

    # group seek to start = log start (4 after truncation), then end;
    # each seek is one commit: one new segment of the internal topic
    assert main(["--root", root, "group", "seek", "g", "-t", "t",
                 "--to", "start"]) == 0
    seek = _json.loads(capsys.readouterr().out)
    assert seek["committed"] == 4
    assert _offsets_segments(root) == 1
    assert main(["--root", root, "group", "seek", "g", "-t", "t",
                 "--to", "end"]) == 0
    assert _json.loads(capsys.readouterr().out)["committed"] == 6
    assert _offsets_segments(root) == 2
    # every partition of a multi-partition topic in the same one commit
    main(["--root", root, "topic", "create", "t3", "-p", "3"])
    capsys.readouterr()
    assert main(["--root", root, "group", "seek", "g", "-t", "t3",
                 "--to", "7"]) == 0
    lines = [_json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert [(r["partition"], r["committed"]) for r in lines] == [
        (0, 7), (1, 7), (2, 7)
    ]
    assert _offsets_segments(root) == 3

    # alter-config round-trips through describe
    assert main(["--root", root, "topic", "alter-config", "t",
                 "-c", "retention.ms=1234"]) == 0
    capsys.readouterr()
    main(["--root", root, "topic", "describe", "t"])
    desc = _json.loads(capsys.readouterr().out)
    assert str(desc["configs"]["retention.ms"]) == "1234"


def test_cli_maintenance_run(spark, tmp_path, capsys, monkeypatch):
    """The nightly tick through the CLI: compaction (dirty-gated),
    retention, segment merge, offsets GC — one verb, JSON report."""
    import io
    import json as _json

    from redpanda_spark.cli import main

    root = str(tmp_path / "mroot")
    main(["--root", root, "topic", "create", "c", "-p", "1",
          "-c", "cleanup.policy=compact"])
    lines = "\n".join(
        _json.dumps({"key": "k%d" % (i % 2), "value": "v%d" % i})
        for i in range(8)
    )
    monkeypatch.setattr("sys.stdin", io.StringIO(lines))
    main(["--root", root, "topic", "produce", "c"])
    capsys.readouterr()

    assert main(["--root", root, "maintenance", "run"]) == 0
    reports = [_json.loads(x) for x in capsys.readouterr().out.splitlines()]
    topic_report = next(r for r in reports if r.get("topic") == "c")
    assert topic_report["rows"]["before"] == 8
    assert topic_report["rows"]["after"] == 2  # keep-latest per key
    assert topic_report["dirty_ratio"] == 0.0
    tail = reports[-1]
    assert "offsets_expired" in tail and "offsets_log" in tail


def test_cli_group_export_import(spark, tmp_path, capsys, monkeypatch):
    """Offsets backup/restore: export a group's committed offsets, import
    them into a NEW group (the migration workflow)."""
    import io
    import json as _json

    from redpanda_spark.cli import main
    from redpanda_spark.engine import TopicEngine

    root = str(tmp_path / "gexp")
    main(["--root", root, "topic", "create", "t", "-p", "2"])
    eng = TopicEngine(spark, root)
    eng.offset_commit("src", "t", 0, 4)
    eng.offset_commit("src", "t", 1, 9)
    capsys.readouterr()

    assert main(["--root", root, "group", "export", "src"]) == 0
    dump = capsys.readouterr().out
    lines = [_json.loads(x) for x in dump.splitlines()]
    assert [(r["partition"], r["offset"]) for r in lines] == [(0, 4), (1, 9)]

    monkeypatch.setattr("sys.stdin", io.StringIO(dump))
    segments = _offsets_segments(root)
    assert main(["--root", root, "group", "import", "dst"]) == 0
    assert _json.loads(capsys.readouterr().out)["imported"] == 2
    assert _offsets_segments(root) == segments + 1  # one atomic commit
    got = {
        r["partition"]: r["committed_offset"]
        for r in eng.offset_fetch("dst").collect()
    }
    assert got == {0: 4, 1: 9}


def test_cli_registry_lifecycle(spark, tmp_path, capsys, monkeypatch):
    import io
    import json as _json

    from redpanda_spark.cli import main

    root = str(tmp_path / "reg")
    v1 = _json.dumps({"type": "record", "name": "E",
                      "fields": [{"name": "a", "type": "long"}]})
    v2 = _json.dumps({"type": "record", "name": "E",
                      "fields": [{"name": "a", "type": "long"},
                                 {"name": "b", "type": "string",
                                  "default": ""}]})
    bad = _json.dumps({"type": "record", "name": "E",
                       "fields": [{"name": "a", "type": "string"}]})

    monkeypatch.setattr("sys.stdin", io.StringIO(v1))
    assert main(["--root", root, "registry", "register", "ev-value"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["version"] == 1 and out["id"] >= 1

    # compatible evolution passes the check, then registers as v2
    monkeypatch.setattr("sys.stdin", io.StringIO(v2))
    assert main(["--root", root, "registry", "compat", "ev-value"]) == 0
    assert _json.loads(capsys.readouterr().out)["is_compatible"] is True
    monkeypatch.setattr("sys.stdin", io.StringIO(v2))
    main(["--root", root, "registry", "register", "ev-value"])
    assert _json.loads(capsys.readouterr().out)["version"] == 2

    # incompatible type change fails the check (exit 1)
    monkeypatch.setattr("sys.stdin", io.StringIO(bad))
    assert main(["--root", root, "registry", "compat", "ev-value"]) == 1
    capsys.readouterr()

    # store persists across CLI invocations
    assert main(["--root", root, "registry", "subjects"]) == 0
    subs = _json.loads(capsys.readouterr().out)
    assert subs == {"subject": "ev-value", "versions": [1, 2]}
    assert main(["--root", root, "registry", "get", "ev-value", "-v", "1"]) == 0
    got = _json.loads(capsys.readouterr().out)
    assert got["version"] == 1 and "record" in got["schema"]


# -- OffsetForLeaderEpoch / reassignments / SASL shim (round 9) -------------


def test_offset_for_leader_epoch(admin, engine, spark):
    engine.create_topic("t", TopicConfig(partitions=2))
    df = spark.createDataFrame(
        [(i, f"k{i}", f"v{i}") for i in range(6)], "p long, key string, value string"
    ).selectExpr("CAST(p % 2 AS INT) AS partition", "key", "value")
    engine.produce("t", df)
    hwm = engine.high_watermarks("t")
    # default request: every partition at the constant epoch 0
    res = admin.offset_for_leader_epoch("t")
    assert res == {
        p: {"leader_epoch": 0, "end_offset": hwm[p]} for p in hwm
    }
    # a from-the-future epoch and an unknown partition are UNDEFINED (-1)
    res = admin.offset_for_leader_epoch("t", {0: 5, 9: 0})
    assert res[0] == {"leader_epoch": -1, "end_offset": -1}
    assert res[9] == {"leader_epoch": -1, "end_offset": -1}


def test_alter_list_partition_reassignments(admin, engine):
    engine.create_topic("t", TopicConfig(partitions=2))
    res = admin.alter_partition_reassignments("t", {0: [0], 1: None})
    assert res[0] == {"replicas": [0], "adding": [], "removing": []}
    assert res[1] == {"replicas": [0], "adding": [], "removing": []}
    res = admin.alter_partition_reassignments("t", {5: [0], 0: [1, 2]})
    assert res[5]["error"] == "UNKNOWN_TOPIC_OR_PARTITION"
    assert res[0]["error"] == "INVALID_REPLICA_ASSIGNMENT"
    with pytest.raises(ValueError):
        admin.alter_partition_reassignments("ghost", {0: [0]})
    assert admin.list_partition_reassignments() == {"t": {}}
    assert admin.list_partition_reassignments(["t", "ghost"]) == {"t": {}}


def test_sasl_shim_wired_to_authorizer(tmp_path):
    from redpanda_spark.security import AclBinding, AclStore, SaslSession

    acls = AclStore(str(tmp_path / "acls.json"))
    acls.create(
        AclBinding(
            principal="User:alice",
            resource_type="topic",
            resource_name="orders",
            pattern_type="literal",
            operation="read",
            permission="allow",
        )
    )
    s = SaslSession(acls)
    # protocol order: authenticate before handshake is illegal
    assert s.authenticate("alice")["error"] == "ILLEGAL_SASL_STATE"
    bad = s.handshake("GSSAPI")
    assert bad["error"] == "UNSUPPORTED_SASL_MECHANISM"
    assert "PLAIN" in bad["mechanisms"]
    assert s.handshake("SCRAM-SHA-256")["error"] is None
    auth = s.authenticate("alice", "any-password-accepted")
    assert auth == {"error": None, "principal": "User:alice"}
    # the shim's authorize goes through the REAL ACL algebra
    assert s.authorize("read", "topic", "orders")
    assert s.authorize("describe", "topic", "orders")  # implied by read
    assert not s.authorize("write", "topic", "orders")
    # unauthenticated session: default deny
    assert not SaslSession(acls).authorize("read", "topic", "orders")
    # r9 regression (self-review): re-handshake AFTER authentication is
    # out-of-order too — the reference FSM accepts exactly one
    # handshake→authenticate sequence; a mechanism switch must not
    # silently keep the old identity
    re_hs = s.handshake("SCRAM-SHA-512")
    assert re_hs["error"] == "ILLEGAL_SASL_STATE"
    assert s.mechanism == "SCRAM-SHA-256"  # unchanged
    assert s.principal == "User:alice"  # identity intact, not switched
    # r10: re-AUTHENTICATE is equally out-of-order — an in-place identity
    # switch would bypass the audit trail bound to the first principal
    re_auth = s.authenticate("mallory")
    assert re_auth["error"] == "ILLEGAL_SASL_STATE"
    assert s.principal == "User:alice"


def test_api_versions_lists_new_handlers(admin):
    vs = admin.api_versions()
    for op in (
        "OffsetForLeaderEpoch",
        "SaslHandshake",
        "SaslAuthenticate",
        "AlterPartitionReassignments",
        "ListPartitionReassignments",
    ):
        assert vs[op] == 1


def test_rest_mixed_batch_routes_unpartitioned_records(engine, spark):
    """r9 regression: in a mixed produce batch, records WITHOUT a
    partition must route by key-hash (engine partitioner), never be
    forced to partition 0."""
    from redpanda_spark.functions.hashes import murmur2_partition

    app = RestApp(engine)
    engine.create_topic("mx", TopicConfig(partitions=8))
    recs = [
        {"partition": 5, "value": b64("explicit")},
        {"key": b64("affinity-key"), "value": b64("routed")},
    ]
    assert app.handle("POST", "/topics/mx", {"records": recs})[0] == 200
    rows = {
        bytes(r["value"]).decode(): r["partition"]
        for r in engine.log("mx").collect()
    }
    assert rows["explicit"] == 5
    assert rows["routed"] == murmur2_partition(b"affinity-key", 8)  # not 0


def test_rest_broker_errors_are_json_not_500(engine, spark):
    """r9 regression: ProduceError (e.g. MESSAGE_TOO_LARGE) keeps the
    JSON error contract instead of escaping as an unhandled exception."""
    app = RestApp(engine)
    engine.create_topic("lim", TopicConfig(partitions=1, max_message_bytes=4))
    status, payload = app.handle(
        "POST", "/topics/lim", {"records": [{"value": b64("way too large")}]}
    )
    assert status == 422 and "MESSAGE_TOO_LARGE" in payload["message"]


def test_rest_missing_body_fields_are_422_not_404(engine):
    app = RestApp(engine)
    status, payload = app.handle("POST", "/subjects/s/versions", {})
    assert status == 422 and "schema" in payload["message"]
    assert app.handle("PUT", "/config", {})[0] == 422
    assert app.handle("PUT", "/mode", {})[0] == 422


def test_rest_resubscribe_replaces_member_without_phantom(engine, spark):
    """r9 regression: re-subscribing an instance must close the previous
    Consumer — otherwise the old member keeps partitions assigned (and
    unpollable) until session expiry."""
    app = RestApp(engine)
    engine.create_topic("ph", TopicConfig(partitions=2))
    app.handle("POST", "/topics/ph", {"records": [
        {"partition": p, "value": b64(f"v{p}")} for p in (0, 1)]})
    app.handle("POST", "/consumers/pg", {"name": "i1"})
    sub = {"topics": ["ph"]}
    assert app.handle("POST", "/consumers/pg/instances/i1/subscription", sub)[0] == 204
    assert app.handle("POST", "/consumers/pg/instances/i1/subscription", sub)[0] == 204
    g = app._get_manager().get("pg")
    assert len(g.members) == 1  # old member left, no phantom
    status, rows = app.handle("GET", "/consumers/pg/instances/i1/records")
    assert status == 200 and len(rows) == 2  # ALL partitions pollable


def test_rest_transitive_compat_check_matches_register(engine):
    """r9 regression: under BACKWARD_TRANSITIVE the pre-flight
    /compatibility endpoint must test ALL live versions like register
    does — not just the named one."""
    app = RestApp(engine)
    f = lambda fields: __import__("json").dumps(
        {"type": "record", "name": "R", "fields": fields}
    )
    v1 = f([{"name": "a", "type": "string"}])
    v2 = f([{"name": "a", "type": "string"}, {"name": "b", "type": "string", "default": ""}])
    # candidate drops 'a' entirely and adds defaulted c: readable against
    # v2? no wait — compatible with NEITHER... build one compatible with
    # v2 only: v2 reader must read v1 data; candidate reads v2 data but
    # not v1: candidate requires field 'b' (no default) — v1 lacks b.
    cand = f([{"name": "b", "type": "string"}])
    app.handle("POST", "/subjects/t/versions", {"schema": v1})
    app.handle("POST", "/subjects/t/versions", {"schema": v2})
    app.handle("PUT", "/config", {"compatibility": "BACKWARD_TRANSITIVE"})
    status, res = app.handle(
        "POST", "/compatibility/subjects/t/versions/latest", {"schema": cand}
    )
    assert status == 200 and res["is_compatible"] is False
    # and register agrees (409)
    assert app.handle("POST", "/subjects/t/versions", {"schema": cand})[0] == 409


def test_rest_produce_explicit_null_partition_routes_by_key(engine, spark):
    """ADVICE r9 (medium): a record with explicit JSON "partition": null is
    legal in the Kafka REST proxy and means 'unset' — it must route through
    the partitioner (key-hash), never raise int(None) TypeError into a
    non-JSON 500. Mixed with an explicit-partition record so the mixed-batch
    branch is the one exercised."""
    from redpanda_spark.functions.hashes import murmur2_partition

    app = RestApp(engine)
    engine.create_topic("t", TopicConfig(partitions=4))
    status, resp = app.handle(
        "POST",
        "/topics/t",
        {
            "records": [
                {"partition": 2, "key": b64("explicit"), "value": b64("a")},
                {"partition": None, "key": b64("routed"), "value": b64("b")},
            ]
        },
    )
    assert status == 200, resp
    expect_p = murmur2_partition(b"routed", 4)
    got = {}
    for p in range(4):
        _, recs = app.handle(
            "GET", f"/topics/t/partitions/{p}/records", query={"offset": "0"}
        )
        for r in recs:
            got[base64.b64decode(r["value"]).decode()] = p
    assert got["a"] == 2
    assert got["b"] == expect_p


def test_rest_sasl_end_to_end(engine):
    """r9 verdict item 6: the SASL shim wired into the REST proxy session
    path — a WSGI-driven handshake→authenticate flow yields a bearer
    session whose principal flows into audited_authorize for topic
    produce/fetch; no session → 401, no ACL → 403 (and the denial is
    audited), ACL granted → 200."""
    import io

    from redpanda_spark.audit import AuditLogManager
    from redpanda_spark.security import AclBinding, AclStore

    acls = AclStore()
    audit = AuditLogManager(engine)
    app = RestApp(engine, acls=acls, audit=audit)
    engine.create_topic("sec", TopicConfig(partitions=1))

    def call(method, path, payload=None, auth=None):
        body = json.dumps(payload).encode() if payload is not None else b""
        environ = {
            "REQUEST_METHOD": method,
            "PATH_INFO": path,
            "QUERY_STRING": "offset=0" if method == "GET" else "",
            "CONTENT_LENGTH": str(len(body)),
            "wsgi.input": io.BytesIO(body),
        }
        if auth:
            environ["HTTP_AUTHORIZATION"] = f"Bearer {auth}"
        captured = {}
        out = b"".join(app(environ, lambda s, h: captured.update(status=s)))
        return int(captured["status"].split()[0]), json.loads(out or b"null")

    rec = {"records": [{"key": None, "value": b64("x")}]}
    # no session at all -> 401 JSON (never a traceback)
    status, resp = call("POST", "/topics/sec", rec)
    assert status == 401 and resp["error_code"] == 40101

    # authenticate out of order (no handshake session) -> 404 unknown session
    status, _ = call("POST", "/sasl/authenticate",
                     {"session_id": "ghost", "username": "alice"})
    assert status == 404

    # handshake: unsupported mechanism rejected with the supported list
    status, resp = call("POST", "/sasl/handshake", {"mechanism": "GSSAPI"})
    assert status == 422 and "SCRAM-SHA-256" in resp["mechanisms"]

    status, resp = call("POST", "/sasl/handshake", {"mechanism": "SCRAM-SHA-256"})
    assert status == 200
    sid = resp["session_id"]

    # bearer session exists but is not yet authenticated -> still 401
    status, _ = call("POST", "/topics/sec", rec, auth=sid)
    assert status == 401

    status, resp = call("POST", "/sasl/authenticate",
                        {"session_id": sid, "username": "alice", "password": "pw"})
    assert status == 200 and resp["principal"] == "User:alice"

    # authenticated but no ACL -> 403, and the denial is in the audit buffer
    status, resp = call("POST", "/topics/sec", rec, auth=sid)
    assert status == 403 and resp["error_code"] == 40301
    denies = [e for e in audit._buffer.values()
              if e["principal"] == "User:alice" and e["outcome"] == "denied"]
    assert denies

    # grant write+read -> produce and fetch succeed, decisions audited
    acls.create(AclBinding("User:alice", "topic", "sec", "literal", "write", "allow"))
    acls.create(AclBinding("User:alice", "topic", "sec", "literal", "read", "allow"))
    status, resp = call("POST", "/topics/sec", rec, auth=sid)
    assert status == 200 and resp["offsets"][0]["base_offset"] == 0
    status, recs = call("GET", "/topics/sec/partitions/0/records", auth=sid)
    assert status == 200 and len(recs) == 1
    allows = [e for e in audit._buffer.values()
              if e["principal"] == "User:alice" and e["outcome"] == "allowed"]
    assert allows

    # a DIFFERENT principal on a fresh session is still denied
    _, h2 = call("POST", "/sasl/handshake", {"mechanism": "PLAIN"})
    call("POST", "/sasl/authenticate",
         {"session_id": h2["session_id"], "username": "mallory"})
    status, _ = call("POST", "/topics/sec", rec, auth=h2["session_id"])
    assert status == 403

    # auth off (no acls) keeps the open behavior for existing users
    open_app = RestApp(engine)
    assert open_app.handle("POST", "/topics/sec", rec)[0] == 200


def test_rest_sasl_consumer_group_authorization(engine, spark):
    """Consumer-group REST routes under auth: every /consumers route
    authorizes READ on the GROUP resource; subscribe additionally
    pre-checks READ on each requested topic (denial at subscribe time,
    not first poll). Kafka resource mapping per the reference's
    group_authorizer."""
    from redpanda_spark.security import AclBinding, AclStore

    acls = AclStore()
    app = RestApp(engine, acls=acls)
    engine.create_topic("ct", TopicConfig(partitions=1))
    engine.produce("ct", [{"key": b"k", "value": b"v"}])

    def sasl(user):
        _, h = app.handle("POST", "/sasl/handshake", {"mechanism": "PLAIN"})
        sid = h["session_id"]
        app.handle("POST", "/sasl/authenticate",
                   {"session_id": sid, "username": user})
        return {"authorization": f"Bearer {sid}"}

    alice = sasl("alice")
    # no group ACL -> create denied
    status, resp = app.handle("POST", "/consumers/g1", {}, headers=alice)
    assert status == 403 and "group g1" in resp["message"]

    acls.create(AclBinding("User:alice", "group", "g1", "literal", "read", "allow"))
    status, resp = app.handle("POST", "/consumers/g1", {}, headers=alice)
    assert status == 200
    inst = resp["instance_id"]

    # group allowed but topic read missing -> subscribe denied, names the topic
    status, resp = app.handle(
        "POST", f"/consumers/g1/instances/{inst}/subscription",
        {"topics": ["ct"]}, headers=alice)
    assert status == 403 and "topic ct" in resp["message"]

    acls.create(AclBinding("User:alice", "topic", "ct", "literal", "read", "allow"))
    status, _ = app.handle(
        "POST", f"/consumers/g1/instances/{inst}/subscription",
        {"topics": ["ct"]}, headers=alice)
    assert status == 204
    status, recs = app.handle(
        "GET", f"/consumers/g1/instances/{inst}/records", headers=alice)
    assert status == 200 and len(recs) == 1
    assert app.handle(
        "POST", f"/consumers/g1/instances/{inst}/offsets", headers=alice)[0] == 200
    assert app.handle(
        "DELETE", f"/consumers/g1/instances/{inst}", headers=alice)[0] == 204

    # no session at all on a consumer route -> 401
    assert app.handle("POST", "/consumers/g1", {})[0] == 401


def test_rest_sasl_session_cap_evicts_oldest(engine):
    """A long-lived proxy must bound SASL session state: past the cap the
    oldest handshake evicts (its bearer token stops resolving), newest
    sessions stay valid."""
    app = RestApp(engine, acls=__import__(
        "redpanda_spark.security", fromlist=["AclStore"]).AclStore())
    app._max_sasl_sessions = 3
    sids = []
    for i in range(4):
        _, h = app.handle("POST", "/sasl/handshake", {"mechanism": "PLAIN"})
        sids.append(h["session_id"])
    assert len(app._sasl_sessions) == 3
    assert sids[0] not in app._sasl_sessions  # oldest evicted
    status, _ = app.handle(
        "POST", "/sasl/authenticate",
        {"session_id": sids[0], "username": "x"})
    assert status == 404  # evicted session is gone, JSON error
    status, _ = app.handle(
        "POST", "/sasl/authenticate",
        {"session_id": sids[3], "username": "x"})
    assert status == 200


def test_cli_acl_lifecycle(tmp_path, capsys):
    """rpk security acl analog: create -> list -> check (exit 0/1 as the
    scriptable decision) -> delete, persisted in <root>/_acls.json across
    CLI invocations, no Spark session needed."""
    import json as _json

    from redpanda_spark.cli import main

    root = str(tmp_path / "aclroot")
    assert main([
        "--root", root, "acl", "create", "--principal", "User:alice",
        "--operation", "read", "--topic", "orders",
    ]) == 0
    created = _json.loads(capsys.readouterr().out)
    assert created["resource_name"] == "orders"
    assert created["permission"] == "allow"

    assert main(["--root", root, "acl", "list"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) == 1 and rows[0]["principal"] == "User:alice"

    # check: read allowed (and DESCRIBE implied by READ), write denied
    assert main([
        "--root", root, "acl", "check", "--principal", "User:alice",
        "--operation", "read", "--topic", "orders",
    ]) == 0
    assert _json.loads(capsys.readouterr().out)["allowed"] is True
    assert main([
        "--root", root, "acl", "check", "--principal", "User:alice",
        "--operation", "describe", "--topic", "orders",
    ]) == 0
    capsys.readouterr()
    assert main([
        "--root", root, "acl", "check", "--principal", "User:alice",
        "--operation", "write", "--topic", "orders",
    ]) == 1
    capsys.readouterr()

    # exactly-one-resource validation
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["--root", root, "acl", "create", "--principal", "User:x",
              "--operation", "read"])
    capsys.readouterr()

    # unfiltered delete refused; filtered delete removes and persists
    with _pytest.raises(SystemExit):
        main(["--root", root, "acl", "delete"])
    capsys.readouterr()
    assert main([
        "--root", root, "acl", "delete", "--principal", "User:alice",
    ]) == 0
    assert len(_json.loads(capsys.readouterr().out)["deleted"]) == 1
    assert main(["--root", root, "acl", "list"]) == 0
    assert capsys.readouterr().out.strip() == ""


def test_cli_cluster_logdirs(spark, tmp_path, capsys, monkeypatch):
    """rpk cluster logdirs describe analog: one JSON line per topic with
    on-disk bytes/files."""
    import io
    import json as _json

    from redpanda_spark.cli import main

    root = str(tmp_path / "ld_root")
    assert main(["--root", root, "topic", "create", "t", "-p", "1"]) == 0
    capsys.readouterr()
    monkeypatch.setattr(
        "sys.stdin", io.StringIO(_json.dumps({"key": "k", "value": "v"}))
    )
    assert main(["--root", root, "topic", "produce", "t"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "cluster", "logdirs"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [r["topic"] for r in rows] == ["t"]
    assert rows[0]["size_bytes"] > 0 and rows[0]["n_files"] > 0


def test_cli_group_offset_delete(spark, tmp_path, capsys, monkeypatch):
    """rpk group offset-delete analog (KIP-496): after the tombstone the
    group's committed offsets for the topic disappear from offset_fetch."""
    import io
    import json as _json

    from redpanda_spark.cli import main

    root = str(tmp_path / "od_root")
    assert main(["--root", root, "topic", "create", "t", "-p", "2"]) == 0
    capsys.readouterr()
    monkeypatch.setattr(
        "sys.stdin", io.StringIO(_json.dumps({"key": "k", "value": "v"}))
    )
    assert main(["--root", root, "topic", "produce", "t"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "group", "seek", "g", "-t", "t", "--to", "end"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "group", "describe", "g"]) == 0
    assert len(capsys.readouterr().out.splitlines()) == 2  # both partitions

    segments = _offsets_segments(root)
    assert main(["--root", root, "group", "offset-delete", "g", "-t", "t"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["deleted_partitions"] == [0, 1]
    assert _offsets_segments(root) == segments + 1  # one atomic commit
    assert main(["--root", root, "group", "describe", "g"]) == 0
    assert capsys.readouterr().out.strip() == ""  # offsets tombstoned


def test_client_quotas_persist_across_admin_instances(engine, spark):
    """Reference parity: AlterClientQuotas is durable controller-log
    metadata (client_quotas.cc) — a fresh AdminClient over the same root
    sees the quota; runtime bucket state never persists; unsetting the
    last key removes the client entry from disk."""
    a1 = AdminClient(engine)
    a1.alter_client_quota("cA", "producer_byte_rate", 50_000.0)
    a1.throttle("cA", 10_000)  # creates _bucket/_last runtime keys
    a2 = AdminClient(engine)
    assert a2.describe_client_quotas() == {"cA": {"producer_byte_rate": 50_000.0}}
    a2.alter_client_quota("cA", "producer_byte_rate", None)
    a3 = AdminClient(engine)
    assert a3.describe_client_quotas() == {}


def test_cli_cluster_quotas(tmp_path, capsys):
    import json as _json

    from redpanda_spark.cli import main

    root = str(tmp_path / "q_root")
    assert main(["--root", root, "topic", "create", "t"]) == 0
    capsys.readouterr()
    assert main([
        "--root", root, "cluster", "quota-alter", "--client", "c1",
        "--key", "producer_byte_rate", "--value", "1000000",
    ]) == 0
    capsys.readouterr()
    assert main(["--root", root, "cluster", "quota-describe"]) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows == [{"client": "c1", "producer_byte_rate": 1000000.0}]


def test_rest_metrics_prometheus_exposition(engine, spark):
    """GET /metrics serves the engine's manifest-derived observability
    (topic_stats) as Prometheus text — the reference /public_metrics
    analog — through the real WSGI path with text/plain content type."""
    import io

    from pyspark.sql import functions as F

    engine.create_topic("m", TopicConfig(partitions=2))
    df = spark.range(10).select(
        F.col("id").cast("string").cast("binary").alias("key"),
        F.col("id").cast("string").cast("binary").alias("value"),
    )
    engine.produce("m", df)

    app = RestApp(engine)
    environ = {
        "REQUEST_METHOD": "GET",
        "PATH_INFO": "/metrics",
        "QUERY_STRING": "",
        "CONTENT_LENGTH": "0",
        "wsgi.input": io.BytesIO(b""),
    }
    captured = {}

    def start_response(status, headers):
        captured["status"] = status
        captured["headers"] = dict(headers)

    out = b"".join(app(environ, start_response)).decode()
    assert captured["status"].startswith("200")
    assert captured["headers"]["Content-Type"].startswith("text/plain")
    assert "# TYPE redpanda_spark_topic_segments gauge" in out
    assert 'redpanda_spark_topic_rows{topic="m"} 10' in out
    # per-partition watermarks sum to the produced rows
    hwms = [
        float(line.rsplit(" ", 1)[1])
        for line in out.splitlines()
        if line.startswith('redpanda_spark_partition_high_watermark{topic="m"')
    ]
    assert len(hwms) == 2 and sum(hwms) == 10
    # still a plain-text body, not JSON
    assert not out.lstrip().startswith("{")


def test_cli_cluster_metrics(spark, tmp_path, capsys, monkeypatch):
    """cluster metrics prints the Prometheus exposition for the root's
    topics — same body the REST /metrics route serves."""
    import io
    import json as _json

    from redpanda_spark.cli import main

    root = str(tmp_path / "metrics_root")
    assert main(["--root", root, "topic", "create", "mt", "-p", "1"]) == 0
    capsys.readouterr()
    lines = _json.dumps({"key": "k", "value": "v"})
    monkeypatch.setattr("sys.stdin", io.StringIO(lines))
    assert main(["--root", root, "topic", "produce", "mt"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "cluster", "metrics"]) == 0
    out = capsys.readouterr().out
    assert "# TYPE redpanda_spark_topic_segments gauge" in out
    assert 'redpanda_spark_partition_high_watermark{topic="mt",partition="0"} 1' in out


def test_rest_metrics_rate_counters(engine, spark):
    """The exposition also carries the engine's rate counters (reference
    /public_metrics rate families): produce/fetch rows+bytes, request
    counts, tail-cache outcomes — accumulated engine-side, O(topics) to
    emit, monotone across scrapes."""
    import io

    from pyspark.sql import functions as F

    engine.create_topic("c", TopicConfig(partitions=1))
    df = spark.range(7).select(
        F.col("id").cast("string").cast("binary").alias("key"),
        F.col("id").cast("string").cast("binary").alias("value"),
    )
    engine.produce("c", df)
    engine.fetch_rows("c", 0, offset=0)  # parquet path (cold tail)
    engine.fetch_rows("c", 0, offset=0)  # second read may hit the tail

    def scrape():
        app = RestApp(engine)
        environ = {
            "REQUEST_METHOD": "GET",
            "PATH_INFO": "/metrics",
            "QUERY_STRING": "",
            "CONTENT_LENGTH": "0",
            "wsgi.input": io.BytesIO(b""),
        }
        return b"".join(app(environ, lambda s, h: None)).decode()

    out = scrape()
    assert "# TYPE redpanda_spark_produced_rows_total counter" in out
    assert 'redpanda_spark_produced_rows_total{topic="c"} 7' in out
    assert 'redpanda_spark_produce_requests_total{topic="c"} 1' in out
    assert 'redpanda_spark_fetched_rows_total{topic="c"} 14' in out
    assert 'redpanda_spark_tail_cache_misses_total{topic="c"}' in out
    bytes_line = [
        l for l in out.splitlines()
        if l.startswith('redpanda_spark_produced_bytes_total{topic="c"}')
    ]
    assert bytes_line and float(bytes_line[0].rsplit(" ", 1)[1]) > 0
    # counters are monotone: another produce+fetch strictly increases them
    engine.produce("c", df)
    engine.fetch_rows("c", 0, offset=0)
    out2 = scrape()
    assert 'redpanda_spark_produced_rows_total{topic="c"} 14' in out2
    assert 'redpanda_spark_fetched_rows_total{topic="c"} 28' in out2
    # a driver-local produce (record-dict shape) populates the hot tail;
    # the next row fetch is a zero-job tail serve and counts a hit
    engine.produce("c", [{"key": b"k", "value": b"v"}])
    # the tail covers [tail_start, hwm); fetch FROM the tail start so the
    # serve needs no parquet segment
    engine.fetch_rows("c", 0, offset=14)
    out3 = scrape()
    assert 'redpanda_spark_tail_cache_hits_total{topic="c"} 1' in out3


def test_cold_cache_counters(spark, tmp_path):
    """Cold-tier reads through the LRU cache count hits and misses."""
    import datetime as dt

    from pyspark.sql import Row

    root = str(tmp_path / "cold_root")
    eng = TopicEngine(spark, root)
    eng.create_topic(
        "t",
        TopicConfig(
            partitions=1,
            remote_write=True,
            local_retention_ms=60_000,
            retention_ms=None,
        ),
    )
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    eng.produce(
        "t",
        [{"value": b"x", "timestamp": base, "partition": 0} for _ in range(4)],
    )
    eng.run_archival(
        "t", now_ms=int((base + dt.timedelta(hours=2)).timestamp() * 1000)
    )
    assert eng.counters("t")["archival_uploads"] >= 1
    assert eng.counters("t")["archival_bytes"] > 0
    eng.cold_cache_bytes = 1 << 30
    eng._cold_cache_dir = str(tmp_path / "cc")
    eng.fetch("t", 0, offset=0).count()  # first read fills the cache
    c1 = eng.counters("t")
    assert c1.get("cold_cache_misses", 0) >= 1
    eng.fetch("t", 0, offset=0).count()  # second read hits
    c2 = eng.counters("t")
    assert c2.get("cold_cache_hits", 0) >= 1


def test_producer_id_allocation_never_reissues_across_instances(engine):
    """Producer-id allocation is serialized across admin INSTANCES (and
    thus processes) sharing a root: each allocate reloads the durable
    store under the root write lock before bumping. Pre-fix, two
    AdminClients constructed before either allocated would both start at
    the same next_id and reissue identical pids — breaking the
    idempotence window and epoch fencing that key on pid uniqueness
    (the reference serializes through id_allocator_stm)."""
    a1 = AdminClient(engine)
    a2 = AdminClient(engine)  # constructed BEFORE a1 allocates anything
    pids = []
    for _ in range(3):
        pids.append(a1.init_producer_id(None)[0])
        pids.append(a2.init_producer_id(None)[0])
    assert len(set(pids)) == 6, pids
    # transactional identity: the epoch chain continues across instances
    p1, e1 = a1.init_producer_id("tx-shared")
    p2, e2 = a2.init_producer_id("tx-shared")
    assert (p2, e2) == (p1, e1 + 1)


def test_quota_alters_merge_across_instances(engine):
    """Concurrent quota CRUD from different admin instances must not
    lose each other's clients: alter reload-merges the durable table
    under the root lock before saving. Pre-fix, an instance constructed
    before another's alter would overwrite the whole file with its
    stale view, silently dropping the other client's quota."""
    a1 = AdminClient(engine)
    a2 = AdminClient(engine)  # stale view: constructed before a1's alter
    a1.alter_client_quota("c1", "producer_byte_rate", 1000.0)
    a2.alter_client_quota("c2", "producer_byte_rate", 2000.0)
    fresh = AdminClient(engine)
    got = fresh.describe_client_quotas()
    assert got["c1"]["producer_byte_rate"] == 1000.0
    assert got["c2"]["producer_byte_rate"] == 2000.0
