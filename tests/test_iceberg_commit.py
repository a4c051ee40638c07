"""The Iceberg commit point: every writer resolves the table's head
(N, vN) through one resolver (``iceberg_export._current_version``) and
commits by an exclusive create of v{N+1}.metadata.json
(``_commit_metadata``), so concurrent writers conflict and re-apply
instead of silently dropping each other's snapshots. Each table is a
fresh export of one small module-scoped datalake table."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from redpanda_spark import fsio
from redpanda_spark.sources import iceberg_export as ie
from redpanda_spark.sources.iceberg_catalog import CatalogError, _metadata_location
from redpanda_spark.sources.iceberg_export import (
    CommitConflictError,
    export_iceberg,
    read_iceberg,
)
from redpanda_spark.sources.iceberg_maintain import (
    compact_data_files,
    delete_where,
)
from tools.iceberg_conformance import traverse


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """ids 0..99 over two hours, four small files per hour."""
    from redpanda_spark.sources.datalake import write_datalake

    path = str(tmp_path_factory.mktemp("commit") / "lake")
    df = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") * 10).alias("v"),
        F.when(F.col("id") % 2 == 0, F.to_timestamp(F.lit("2024-03-01 10:00:00")))
        .otherwise(F.to_timestamp(F.lit("2024-03-01 11:00:00")))
        .alias("_hour"),
    ).repartition(4)
    write_datalake(df, path)
    return path


def _table(spark, lake, tmp_path, name="ice"):
    out = str(tmp_path / name)
    export_iceberg(spark, lake, out)
    return out


def _ids(spark, out):
    return sorted(r["id"] for r in read_iceberg(spark, out).select("id").collect())


def _head(out):
    return ie._current_version(os.path.join(out, "metadata"))


def _hint(out):
    with open(os.path.join(out, "metadata", "version-hint.text")) as f:
        return int(f.read())


def _files(out):
    return {os.path.join(d, n) for d, _, names in os.walk(out) for n in names}


def _race(monkeypatch, *ops):
    """Run ``ops`` on threads whose first head resolution waits at a
    barrier, so every op reads the same version N before any publishes.
    Returns each op's result or exception."""
    real = ie._current_version
    barrier = threading.Barrier(len(ops))
    first = threading.local()

    def resolve(meta_dir, fs=None):
        head = real(meta_dir, fs)
        if not getattr(first, "done", False):
            first.done = True
            barrier.wait(timeout=120)
        return head

    monkeypatch.setattr(ie, "_current_version", resolve)
    results: list = [None] * len(ops)

    def run(i):
        try:
            results[i] = ops[i]()
        except Exception as e:  # the outcome under test
            results[i] = e

    threads = [threading.Thread(target=run, args=(i,)) for i in range(len(ops))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    monkeypatch.setattr(ie, "_current_version", real)
    return results


def test_concurrent_deletes_never_lose_a_snapshot(spark, lake, tmp_path, monkeypatch):
    """Two deletes that both read version N: one publishes v{N+1}, the
    other's publish conflicts and re-applies on the winner's snapshot —
    80 rows, or 90 with exactly one CommitConflictError; never 90 rows
    with two successes, never two commits under one snapshot id."""
    for trial in range(3):
        out = _table(spark, lake, tmp_path, f"ice{trial}")
        base = _head(out)[0]
        results = _race(
            monkeypatch,
            lambda: delete_where(spark, out, "id < 10"),
            lambda: delete_where(spark, out, "id >= 90"),
        )
        ok = [r for r in results if isinstance(r, dict)]
        conflicts = [r for r in results if isinstance(r, CommitConflictError)]
        assert len(ok) + len(conflicts) == 2, results
        assert all(r["deleted_rows"] == 10 for r in ok)
        assert len({r["snapshot_id"] for r in ok}) == len(ok)
        ids = _ids(spark, out)
        if conflicts:
            assert len(conflicts) == 1 and len(ids) == 90
        else:
            assert ids == list(range(10, 90))
        assert _head(out)[0] == base + len(ok) == _hint(out)
        t = traverse(out)
        assert t["schema_errors"] == []
        assert t["position_delete_count"] == 10 * len(ok)


def test_delete_racing_compaction_keeps_deleted_rows_deleted(
    spark, lake, tmp_path, monkeypatch
):
    out = _table(spark, lake, tmp_path)
    results = _race(
        monkeypatch,
        lambda: delete_where(spark, out, "id % 10 = 0"),
        lambda: compact_data_files(
            spark, out, target_bytes=1 << 30, small_bytes=1 << 30
        ),
    )
    assert all(isinstance(r, (dict, CommitConflictError)) for r in results), results
    assert sum(isinstance(r, CommitConflictError) for r in results) <= 1
    deleted, compacted = results
    expect = list(range(100))
    if isinstance(deleted, dict):
        assert deleted["deleted_rows"] == 10
        expect = [i for i in expect if i % 10]
    assert _ids(spark, out) == expect
    if isinstance(compacted, dict):
        assert compacted["new_files"] == 2  # one per hour partition
    t = traverse(out)
    assert t["schema_errors"] == []
    assert t["live_record_count"] - t["position_delete_count"] == len(expect)


def test_crash_between_publish_and_hint(spark, lake, tmp_path, monkeypatch):
    """The exclusive publish is the commit: a writer that dies before
    advancing version-hint.text has still committed. Readers step past
    the lagging hint, and the next writer commits v{N+2}."""
    out = _table(spark, lake, tmp_path)
    n = _head(out)[0]
    real = fsio.LocalFS.write_text_atomic

    def crash(self, path, text):
        if path.endswith("version-hint.text"):
            raise OSError("crash before the hint advance")
        return real(self, path, text)

    monkeypatch.setattr(fsio.LocalFS, "write_text_atomic", crash)
    with pytest.raises(OSError, match="hint advance"):
        delete_where(spark, out, "id < 10")
    monkeypatch.setattr(fsio.LocalFS, "write_text_atomic", real)
    assert _hint(out) == n and _head(out)[0] == n + 1

    assert _ids(spark, out) == list(range(10, 100))
    t = traverse(out)
    assert t["schema_errors"] == [] and t["position_delete_count"] == 10

    delete_where(spark, out, "id >= 90")
    assert _hint(out) == _head(out)[0] == n + 2
    assert _ids(spark, out) == list(range(10, 90))
    t = traverse(out)
    assert t["schema_errors"] == [] and t["position_delete_count"] == 20


def test_cli_reports_a_commit_conflict_in_one_line(
    spark, lake, tmp_path, monkeypatch, capsys
):
    """Writers that keep losing the publish give up after the re-apply
    budget with CommitConflictError — having deleted every file their
    lost attempts wrote — and the CLI reports it as one stderr line and
    exit status 1."""
    from redpanda_spark import cli

    out = _table(spark, lake, tmp_path)
    delete_where(spark, out, "id < 10")
    stale = _head(out)  # v2, two snapshots
    delete_where(spark, out, "id >= 90")  # a rival publishes v3
    files = _files(out)
    # every re-read hands back v2: each attempt builds on it and loses v3
    monkeypatch.setattr(ie, "_current_version", lambda meta_dir, fs=None: stale)
    monkeypatch.setattr("redpanda_spark.session.get_spark", lambda *a, **k: spark)
    root = str(tmp_path / "root")
    for verb in (
        ["iceberg-delete", out, "id = 50"],
        ["iceberg-expire", out, "--keep-last", "1"],
    ):
        assert cli.main(["--root", root, "datalake", *verb]) == 1
        captured = capsys.readouterr()
        assert captured.out == ""
        [line] = captured.err.splitlines()
        assert line.startswith("error: ") and out in line
        assert "v3.metadata.json" in line
        assert _files(out) == files
    monkeypatch.undo()
    assert _ids(spark, out) == list(range(10, 90))


def test_resolver_starts_at_the_hint_and_steps_forward(tmp_path):
    md = tmp_path / "metadata"
    md.mkdir()
    assert ie._current_version(str(md)) == (0, None)
    with pytest.raises(CatalogError):
        _metadata_location(str(tmp_path))
    for v in (1, 2, 3):
        (md / f"v{v}.metadata.json").write_text(json.dumps({"v": v}))
    hint = md / "version-hint.text"
    for text in (None, "1", "7", "junk"):  # absent, lagging, dangling, torn
        if text is not None:
            hint.write_text(text)
        assert ie._current_version(str(md)) == (3, {"v": 3})
        assert _metadata_location(str(tmp_path)) == str(md / "v3.metadata.json")


def test_commit_metadata_never_overwrites(tmp_path):
    md = str(tmp_path / "metadata")
    os.makedirs(md)
    base = {"current-snapshot-id": None, "snapshots": []}
    assert ie._commit_metadata(md, 0, None, {**base, "w": "a"}) == 1
    with pytest.raises(CommitConflictError, match="v1.metadata.json"):
        ie._commit_metadata(md, 0, None, {**base, "w": "b"})
    version, meta = ie._current_version(md)
    assert version == 1 and meta["w"] == "a" and meta["metadata-log"] == []
    assert sorted(os.listdir(md)) == ["v1.metadata.json", "version-hint.text"]
    assert ie._commit_metadata(md, 1, meta, {**meta, "w": "c"}) == 2
    _, meta2 = ie._current_version(md)
    assert meta2["metadata-log"] == [
        {"timestamp-ms": meta["last-updated-ms"],
         "metadata-file": os.path.join(md, "v1.metadata.json")}
    ]


def test_local_create_exclusive_race_publishes_one_whole_file(tmp_path):
    fs = fsio.LocalFS()
    path = str(tmp_path / "target")
    barrier = threading.Barrier(8)
    won = []

    def racer(i):
        barrier.wait(timeout=60)
        if fs.create_exclusive(path, f"writer-{i};" * 20_000):
            won.append(i)

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert len(won) == 1
    assert fs.read_text(path) == f"writer-{won[0]};" * 20_000
    assert os.listdir(tmp_path) == ["target"]  # no temp file left behind
