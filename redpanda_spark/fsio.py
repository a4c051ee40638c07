"""Filesystem shim for engine metadata and segment maintenance.

Plain local paths take a POSIX fast path (os / shutil — microseconds per
call, which small-batch produce latency cares about). Roots with a URI
scheme (``file:``, ``hdfs:``, ``s3a:``, ``gs:``, ``abfss:`` …) go through
the Hadoop FileSystem API of the live JVM, so manifest commits, segment
listings and snapshot swaps work identically on object stores — the
reference's tiered-storage layer (`src/v/cloud_storage/`) dissolves into
"the same paths, a different FileSystem impl" (SURVEY.md §2.2-i).

Atomicity note: the local path uses os.replace (atomic). The Hadoop path
implements replace as delete-then-rename — atomic on HDFS per rename
contract, best-effort on S3-style stores; the engine's single-writer-per-
root model (one partition leader in the reference) is what makes this
safe, and is documented at the call sites.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

try:  # POSIX only; Windows falls back to optimistic commits
    import fcntl
except ImportError:  # pragma: no cover
    fcntl = None  # type: ignore[assignment]


def _exception_names_any(e: Exception, class_names: tuple[str, ...]) -> bool:
    """True when a py4j-wrapped Java exception's CLASS NAME (or, for
    wrapped causes flattened into the message, a class-name token in the
    text) matches one of ``class_names``. Class names only — bare
    substrings like '412' would misclassify request ids / byte counts
    in unrelated error text."""
    je = getattr(e, "java_exception", None)
    if je is not None:
        try:
            name = je.getClass().getName()
            if any(c in name for c in class_names):
                return True
        except Exception:
            pass
    return any(c in str(e) for c in class_names)


def _is_not_found(e: Exception) -> bool:
    """True when a py4j-wrapped Hadoop exception is a file/dir-not-found
    (listStatus on an absent path throws FileNotFoundException). Used to
    distinguish "absent, return empty" from real IO errors that must
    propagate to the caller."""
    return _exception_names_any(
        e, ("FileNotFoundException", "PathNotFoundException")
    ) or "does not exist" in str(e)


def has_scheme(path: str) -> bool:
    """True when ``path`` carries a URI scheme (``file:``, ``s3a:``,
    ``hdfs:``, …) — including Hadoop's normalized single-slash form
    (``file:/x``), which a naive ``"://" in path`` check misses."""
    scheme = path.split(":", 1)[0] if ":" in path else ""
    return bool(scheme) and not (
        len(scheme) == 1 and path[1:3] in (":\\", ":/")
    )


def _link_exclusive(path: str, text: str) -> bool:
    """Publish ``text`` at local ``path`` only if ``path`` is absent: the
    bytes go to a uniquely named temp file first, then ``os.link`` gives
    it the target name (EEXIST = the race was lost). The link is atomic,
    so ``path`` is either absent or whole — a crash mid-write leaves only
    the temp file, never a truncated target that would block every later
    create of the same name."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "wb") as f:
        f.write(text.encode("utf-8"))
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)
    return True


def for_root(spark, root: str) -> "LocalFS | HadoopFS":
    """Pick the implementation for a storage root. Anything with a URI
    scheme routes through Hadoop; bare paths stay on os/shutil."""
    scheme = root.split(":", 1)[0] if ":" in root else ""
    if scheme and not (len(scheme) == 1 and root[1:3] in (":\\", ":/")):  # not a drive letter
        return HadoopFS(spark, root)
    return LocalFS()


class LocalFS:
    is_local = True
    # link(2) never overwrites: the kernel arbitrates create_exclusive —
    # two racers can never both win, so the engine's epoch-number fence
    # alone is sufficient (no per-commit owner-nonce read needed)
    arbitrated_create = True

    def normalize(self, path: str) -> str:
        return path

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        # binary: text mode's encoder and newline pass cost every commit
        with open(tmp, "wb") as f:
            f.write(text.encode("utf-8"))
        os.replace(tmp, path)

    def create_exclusive(self, path: str, text: str) -> bool:
        """First-writer-wins creation: publish ``path`` whole, only if it
        does not already exist (temp file, then link — the kernel
        arbitrates, see ``_link_exclusive``). Returns False when another
        writer got there first. The engine's writer-epoch claims and the
        Iceberg metadata commit ride on this: two writers racing the same
        name can never both win (the reference gets the same uniqueness
        from raft electing at most one leader per term,
        `src/v/raft/consensus.cc`)."""
        return _link_exclusive(path, text)

    def list_names(self, d: str) -> list[str]:
        """Plain file names directly under ``d`` ([] if absent)."""
        try:
            return [e.name for e in os.scandir(d) if e.is_file()]
        except OSError:
            return []

    def delete(self, path: str, recursive: bool = False) -> None:
        """Remove a file or (with recursive) a directory; quiet on absence."""
        try:
            if recursive and os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
                return
            os.remove(path)
            # Hadoop's checksummed local FS (Spark's parquet writes) leaves
            # a ``.<name>.crc`` sidecar that must go with its file
            d, name = os.path.split(path)
            os.remove(os.path.join(d, f".{name}.crc"))
        except OSError:
            pass

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    @contextmanager
    def write_lock(self, root: str):
        """Exclusive advisory lock serializing writer-epoch claims and
        manifest commits across processes sharing this root (flock on a
        root-level lock file). This closes the read-check-write window of
        the engine's optimistic writer fence — the local-disk analog of
        the reference electing exactly one partition leader via raft
        (`src/v/raft/consensus.cc`) so only one appender exists."""
        if fcntl is None:  # pragma: no cover - non-POSIX
            yield
            return
        fd = os.open(
            os.path.join(root, "_writer.lock"), os.O_CREAT | os.O_RDWR, 0o644
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(fd)  # close releases the flock

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    def list_segments(self, d: str) -> dict[str, int]:
        """{path: size} of every parquet segment in a flat topic dir."""
        out: dict[str, int] = {}
        if not os.path.isdir(d):
            return out
        try:
            for e in os.scandir(d):
                if e.name.endswith(".parquet"):
                    out[e.path] = e.stat().st_size
        except OSError:
            pass
        return out

    def list_files_recursive(self, d: str) -> list[str]:
        """All data-file paths under ``d`` (any depth), skipping metadata
        files/dirs (names starting with '_' or '.')."""
        out: list[str] = []
        for root, dirs, names in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith((".",))]
            for n in names:
                if not n.startswith(("_", ".")):
                    out.append(os.path.join(root, n))
        return out

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def stat_fingerprint(self, path: str) -> tuple[int, int]:
        """(mtime_ns, size) — cache key for immutable-by-spec files that
        may still be rewritten in place at the same path (tests, external
        writers)."""
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)


class HadoopFS:
    is_local = False

    def __init__(self, spark, root: str):
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._jvm = jvm
        self._fs = self._Path(root).getFileSystem(spark._jsc.hadoopConfiguration())
        scheme = root.split(":", 1)[0].lower() if ":" in root else ""
        # Which schemes give create_exclusive REAL mutual exclusion:
        # file: takes the kernel O_EXCL path below; hdfs/viewfs/webhdfs
        # funnel create(overwrite=false) through the namenode, which
        # arbitrates. Everything else (s3a, gs, abfss, …) is optimistic;
        # create_exclusive additionally ASKS the connector for a
        # server-side conditional create (see there) — _conditional_create
        # is a tri-state: None = untried, True = the builder option was
        # accepted at least once (keep using it), False = connector
        # rejected it (stop paying for the probe). Acceptance is NOT
        # treated as proof of enforcement: an S3-compatible store can
        # accept and ignore precondition headers, so arbitrated_create
        # never flips on its own — an operator who has verified their
        # store honors If-None-Match can set trust_conditional_create.
        self._native_arbitrated = scheme in (
            "file",
            "hdfs",
            "viewfs",
            "webhdfs",
        )
        self._conditional_create: bool | None = (
            False if self._native_arbitrated else None
        )
        self.trust_conditional_create = False

    @property
    def arbitrated_create(self) -> bool:
        """True when create_exclusive on this store is known to be
        first-writer-wins by ARBITRATION (kernel, namenode, or an
        operator-attested conditional PUT) rather than optimism. The
        engine adds a per-commit owner-nonce check only when this is
        False."""
        return self._native_arbitrated or self.trust_conditional_create

    def _p(self, path: str):
        return self._Path(path)

    def normalize(self, path: str) -> str:
        """Canonical Hadoop form (e.g. file:///x -> file:/x), so that
        relpath arithmetic between the root and listed paths is sound."""
        return self._Path(path).toString()

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        # tmp write + delete-dst + rename: atomic on HDFS, best-effort on
        # S3-style stores — safe under the engine's single-writer model
        tmp = path + ".tmp"
        out = self._fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        dst = self._p(path)
        if self._fs.exists(dst):
            self._fs.delete(dst, False)
        self._fs.rename(self._p(tmp), dst)

    def create_exclusive(self, path: str, text: str) -> bool:
        """First-writer-wins creation of a whole file: no reader ever sees
        ``path`` half-written, and a crash never leaves it so. ``file:``
        URIs take the kernel's temp-file-then-link path (Hadoop's
        RawLocalFileSystem implements create(overwrite=false) as
        exists-then-create — NOT atomic — so the POSIX primitive is the
        correct arbiter there). Namenode-backed schemes (hdfs/viewfs/
        webhdfs) write a temp file and rename it: the namenode's rename
        never overwrites, so two racers can never both succeed. Object-
        store PUTs are atomic at close; those schemes FIRST try a
        conditional create through the connector — S3 has supported
        conditional writes (``If-None-Match: *`` on PUT) since late
        2024, surfaced by Hadoop's createFile builder option
        ``fs.option.create.conditional.overwrite`` (HADOOP-19256);
        GCS/ABFS generation/ETag preconditions ride the same contract —
        remembering only whether the OPTION was accepted (tri-state
        ``_conditional_create``), never inferring enforcement from it
        (an S3-compatible store can accept and ignore precondition
        headers). Where the connector rejects the option, the plain
        ``create(path, overwrite=false)`` fallback is exists-then-create.
        Either way the window on an untrusted object store is narrowed,
        NOT closed: ``arbitrated_create`` stays False unless the
        operator sets ``trust_conditional_create``, and the engine
        compensates with a per-commit owner-nonce check that converges a
        double-win once the rival's PUT has landed (see
        ``TopicEngine._check_writer_fence`` for the exact residual
        window; the two-engine convergence test in tests/test_fencing.py
        drives the landed-PUT interleaving). The Iceberg metadata commit
        has no such check: on those stores two publishes of one table
        version can both report success."""
        p = self._p(path)
        norm = p.toString()
        if norm.startswith("file:"):
            import re

            return _link_exclusive(re.sub(r"^file:/+", "/", norm), text)
        if self._native_arbitrated:
            # the namenode's rename never overwrites a file: the whole
            # temp file appears under ``path`` or the race is lost
            tmp = self._p(f"{path}.{uuid.uuid4().hex}.tmp")
            out = self._fs.create(tmp, True)
            try:
                out.write(bytearray(text.encode("utf-8")))
            finally:
                out.close()
            if self._fs.rename(tmp, p):
                return True
            self._fs.delete(tmp, False)
            if self._fs.exists(p):
                return False
            raise OSError(f"rename failed: {tmp} -> {path}")
        if self._conditional_create is not False:
            try:
                # createFile builder contract (verified against the
                # bundled hadoop-client-api 3.4.2 bytecode): a create or
                # overwrite flag is MANDATORY — build() throws without
                # one — so ask for create + no-overwrite, and request the
                # server-side precondition via the HADOOP-19256 option
                # key (Options.CreateFileOptionKeys
                # .FS_OPTION_CREATE_CONDITIONAL_OVERWRITE).
                b = self._fs.createFile(p)
                b.create()
                b.overwrite(False)
                b.recursive()
                b.must("fs.option.create.conditional.overwrite", True)
                out = b.build()
                try:
                    out.write(bytearray(text.encode("utf-8")))
                finally:
                    out.close()  # an S3A conditional PUT commits here
                self._conditional_create = True
                return True
            except Exception as e:
                if _exception_names_any(
                    e,
                    (
                        "FileAlreadyExistsException",
                        "RemoteFileChangedException",
                    ),
                ):
                    # lost the race (client- or server-side check — only
                    # the operator's trust_conditional_create attests
                    # which; see __init__)
                    self._conditional_create = True
                    return False
                # connector too old / option unsupported (or a transient
                # IO error — the optimistic path below retries the write
                # and surfaces real failures): stop paying for the probe
                self._conditional_create = False
        try:
            out = self._fs.create(p, False)
        except Exception:
            # create(overwrite=false) throws FileAlreadyExistsException
            # when we lost the race; anything else is a real IO error
            if self._fs.exists(p):
                return False
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        return True

    def list_names(self, d: str) -> list[str]:
        """Plain file names directly under ``d``. [] ONLY for an absent
        directory; any other IO failure propagates. Swallowing transient
        listStatus errors here would make ``_read_writer_epoch`` see an
        empty claim chain and fall back to epoch 0 — spuriously fencing
        the LIVE writer at its next commit (and inside the claim retry
        loop, busy-spinning on a constant target)."""
        try:
            return [
                st.getPath().getName()
                for st in self._fs.listStatus(self._p(d))
                if st.isFile()
            ]
        except Exception as e:
            if _is_not_found(e):
                return []
            raise

    def delete(self, path: str, recursive: bool = False) -> None:
        try:
            self._fs.delete(self._p(path), bool(recursive))
        except Exception:
            pass

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    @contextmanager
    def write_lock(self, root: str):
        """Hadoop FileSystems have no advisory locks; mutual exclusion on
        URI roots instead comes from the create-exclusive epoch-claim
        chain (see ``create_exclusive``): epoch numbers are unique by
        construction, so the commit-time epoch re-read alone fences stale
        writers — no lock needed for safety, only the claim retry loop."""
        yield

    def getsize(self, path: str) -> int:
        return int(self._fs.getFileStatus(self._p(path)).getLen())

    def list_segments(self, d: str) -> dict[str, int]:
        out: dict[str, int] = {}
        p = self._p(d)
        try:
            if not self._fs.exists(p):
                return out
            for st in self._fs.listStatus(p):
                path = st.getPath()
                name = path.getName()
                if name.endswith(".parquet"):
                    out[path.toString()] = int(st.getLen())
        except Exception:
            pass
        return out

    def list_files_recursive(self, d: str) -> list[str]:
        out: list[str] = []
        try:
            it = self._fs.listFiles(self._p(d), True)
            while it.hasNext():
                p = it.next().getPath()
                if not p.getName().startswith(("_", ".")):
                    out.append(p.toString())
        except Exception:
            pass
        return out

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs.open(self._p(path))
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        tmp = path + ".tmp"
        out = self._fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        dst = self._p(path)
        if self._fs.exists(dst):
            self._fs.delete(dst, False)
        self._fs.rename(self._p(tmp), dst)

    def stat_fingerprint(self, path: str) -> tuple[int, int]:
        """(mtime_ns, size) via FileStatus — modification time is
        millisecond-granular on Hadoop filesystems, scaled to ns so the
        fingerprint shape matches LocalFS."""
        st = self._fs.getFileStatus(self._p(path))
        return (int(st.getModificationTime()) * 1_000_000, int(st.getLen()))


def copy_file(src_fs, src: str, dst_fs, dst: str) -> None:
    """Copy one segment file across (possibly different) filesystems —
    the archival "upload". Local→local takes the zero-buffer shutil path;
    any tier on a URI root streams bytes through the driver (segments are
    bounded by segment_bytes, so this is a bounded transfer, exactly what
    the reference's archival uploader moves per PUT:
    `cluster/archival/ntp_archiver_service.cc` segment upload)."""
    if getattr(src_fs, "is_local", False) and getattr(dst_fs, "is_local", False):
        tmp = dst + ".tmp"
        shutil.copyfile(src, tmp)
        os.replace(tmp, dst)
        return
    dst_fs.write_bytes_atomic(dst, src_fs.read_bytes(src))
