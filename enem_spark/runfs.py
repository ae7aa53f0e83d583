"""Run-store filesystem abstraction: the exactly-once commit protocol,
portable off POSIX-only stores.

Every exactly-once store in the engine (lineage run trees, the statstore,
the signature index, icetable metadata) follows one protocol: write side
outputs under per-run directories, then publish a tiny commit object LAST.
Until round 4 the protocol's *control plane* — existence probes, stale-dir
clears, the icetable exclusive version-file create — called `os` directly,
so lineage refused any URI-schemed out_dir (a blanket POSIX-only check): on
`s3://...` those calls silently return False and the exactly-once layer
would degrade to re-extracting everything with no resume.

This module splits the two planes explicitly:

  * **data plane** — bulk parquet reads/writes stay on Spark/Hadoop, which
    already speaks every store. Protocol code converts a logical store
    path to its Hadoop address with :func:`spark_path`.
  * **control plane** — everything the protocol itself needs is exactly
    SIX primitives, each expressible against an object store:

      exists(path)                object or prefix present?
      list_files(path)            recursive list under a prefix
      list_names(path)            one-level (delimiter) list
      delete_prefix(path)         recursive delete, idempotent
      read_bytes / write_bytes    whole-object get / atomic put
      create_exclusive(path, b)   CONDITIONAL put (If-None-Match: *);
                                  FileExistsError for the race loser

    `create_exclusive` is the only synchronization primitive the whole
    engine uses: the icetable version file commits through it, and both
    S3 (conditional writes, 2024) and GCS (`ifGenerationMatch=0`) provide
    it natively. There is deliberately NO rename in the interface — the
    protocol never renames, precisely so object stores can implement it.

Implementations:

  * :class:`LocalRunFS` — plain POSIX paths (the default; byte-identical
    behavior to the old direct `os` calls).
  * :class:`FileUriRunFS` — `file:///...` URIs. Spark accepts them
    natively; the control plane strips the scheme. This is the shared-
    mount (NFS/EFS/Lustre) deployment spelled as a URI.
  * :class:`MockObjectRunFS` — an object-store SEMANTICS implementation
    for tests and as the reference shape for a real S3/GCS port: flat
    keys under a backing root, list-by-prefix, delete-by-prefix,
    conditional put, no rename, and an op log tests assert against. Its
    `spark_path` maps the URI to the backing directory, standing in for
    the real port where the data plane address (`s3a://bucket/k`) and
    the control-plane client (boto conditional put) differ.

A real S3 port is this file plus ~60 lines of boto: implement the six
primitives (`create_exclusive` = `put_object(..., IfNoneMatch="*")`),
register under the scheme, and point `spark_path` at `s3a://`. The
commit object itself (`lineage.append_run_marker`) is a plain
`write_bytes` put from the driver, never a Spark write, so the commit
point needs no object-store committer.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from urllib.parse import unquote, urlparse

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*)://")


def scheme_of(path: str) -> str | None:
    m = _SCHEME_RE.match(path)
    return m.group(1) if m else None


def _atomic_publish(
    local_path: str, data: bytes, exclusive: bool, durable: bool = True
) -> None:
    """Write ``data`` so it appears under ``local_path`` with its FULL
    content in one step — the object-store 'whole object or nothing'
    visibility rule, enforced locally with tmp + fsync + link/replace.
    ``durable=False`` skips both fsyncs (file and directory entry): the
    put stays whole-or-nothing for readers but is no more crash-durable
    than a Spark write, for objects that only become visible through a
    later durable commit object (an fsync's latency is the disk's, and
    on a shared disk it varies from one call to the next).
    ``exclusive`` gives conditional-put semantics: the race loser gets
    FileExistsError with the content already durable at publish time (a
    create-then-write window would let a concurrent reader observe, or a
    crash leave behind, a truncated object). pid alone is NOT
    attempt-unique — two concurrent commits in one driver process would
    share the tmp file and the winner could publish the LOSER's payload.
    The tmp name is dot-prefixed: a crash before the publish leaves it in
    the target directory, where every reader (Spark's and
    `lineage._data_files`) skips _-/.-prefixed names — a `part-*` leftover
    would otherwise be read as a committed object."""
    head, tail = os.path.split(local_path)
    tmp = os.path.join(head, f".{tail}.tmp.{os.getpid()}.{uuid.uuid4().hex[:12]}")
    with open(tmp, "wb") as fh:
        fh.write(data)
        if durable:
            fh.flush()
            os.fsync(fh.fileno())
    try:
        if exclusive:
            try:
                os.link(tmp, local_path)
            except FileExistsError:
                raise
        else:
            os.replace(tmp, local_path)
            tmp = None
    finally:
        if tmp is not None and os.path.exists(tmp):
            os.unlink(tmp)
    if not durable:
        return
    dfd = os.open(os.path.dirname(local_path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)  # make the new directory entry itself durable
    finally:
        os.close(dfd)


class LocalRunFS:
    """Plain POSIX paths — the default control plane."""

    def _local(self, path: str) -> str:
        return path

    def exists(self, path: str) -> bool:
        return os.path.exists(self._local(path))

    def list_files(self, path: str) -> list[str]:
        """Paths RELATIVE to ``path`` of every file under it (recursive) —
        the prefix listing an object store does natively."""
        root = self._local(path)
        out = []
        for dirpath, _dirnames, files in os.walk(root):
            rel = os.path.relpath(dirpath, root)
            for f in files:
                out.append(f if rel == "." else f"{rel}/{f}")
        return out

    def list_names(self, path: str) -> list[str]:
        """Immediate child names (files and dirs) — a delimiter listing.
        Empty for a missing path (object stores have no 'missing dir')."""
        root = self._local(path)
        if not os.path.isdir(root):
            return []
        return sorted(os.listdir(root))

    def delete_prefix(self, path: str) -> None:
        """Recursive delete, idempotent (absent prefix is a no-op)."""
        local = self._local(path)
        if os.path.isdir(local):
            shutil.rmtree(local, ignore_errors=True)
        elif os.path.exists(local):
            os.unlink(local)

    def delete_file(self, path: str) -> None:
        local = self._local(path)
        if os.path.exists(local):
            os.unlink(local)

    def read_bytes(self, path: str) -> bytes:
        with open(self._local(path), "rb") as fh:
            return fh.read()

    def write_bytes(self, path: str, data: bytes, durable: bool = True) -> None:
        """Atomic whole-object put; ``durable=False`` as in
        :func:`_atomic_publish` (object stores are durable at put time)."""
        local = self._local(path)
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        _atomic_publish(local, data, exclusive=False, durable=durable)

    def create_exclusive(self, path: str, data: bytes) -> None:
        """Conditional put: raises FileExistsError for the race loser —
        THE synchronization primitive of the commit protocol."""
        local = self._local(path)
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        _atomic_publish(local, data, exclusive=True)

    def ensure_dir(self, path: str) -> None:
        """mkdir -p; a no-op for object stores (keys imply prefixes)."""
        os.makedirs(self._local(path), exist_ok=True)

    def mtime(self, path: str) -> float:
        """Last-modified time (object stores: LastModified) — used only
        by orphan GC's in-flight-attempt age guard."""
        return os.path.getmtime(self._local(path))

    def local_data_path(self, path: str) -> str | None:
        """A POSIX path where this object's bytes can be read locally, or
        None when the data plane is not locally accessible (callers then
        fall back to `read_bytes` — e.g. parquet footer stats at manifest
        build time)."""
        return self._local(path)

    def spark_path(self, path: str) -> str:
        """The address Spark/Hadoop reads and writes this path at."""
        return path


class FileUriRunFS(LocalRunFS):
    """``file:///abs/path`` URIs: Spark resolves them natively, so the
    data plane passes through unchanged; the control plane strips the
    scheme (`os.path` treats 'file:///x' as a RELATIVE path — the silent
    degradation the old POSIX-only store check used to refuse outright)."""

    def _local(self, path: str) -> str:
        u = urlparse(path)
        if u.scheme != "file":
            raise ValueError(f"not a file:// URI: {path!r}")
        if u.netloc not in ("", "localhost"):
            raise ValueError(
                f"file:// URI with remote authority {u.netloc!r} is not a "
                "local path; mount it and use the mount point"
            )
        return unquote(u.path) or "/"

    def ensure_dir(self, path: str) -> None:
        os.makedirs(self._local(path), exist_ok=True)

    def spark_path(self, path: str) -> str:
        return path  # Hadoop's LocalFileSystem owns file://


class MockObjectRunFS(LocalRunFS):
    """Object-store semantics over a local backing root — the tests' URI
    store and the documented shape of a real S3/GCS port.

    Logical ``<scheme>://<bucket>/<key>`` maps to backing file
    ``<root>/<bucket>/<key>``; every control-plane op goes through the
    six primitives only (no rename anywhere), conditional put emulated
    with an exclusive link standing in for If-None-Match, and each op is
    appended to :attr:`ops` so tests can PROVE the protocol routed its
    control plane through the interface instead of os. `spark_path`
    returns the backing path — the seam where a real port returns
    ``s3a://bucket/key`` while its control plane speaks boto."""

    def __init__(self, scheme: str, root: str):
        self.scheme = scheme
        self.root = root
        self.ops: list[tuple[str, str]] = []

    def _local(self, path: str) -> str:
        u = urlparse(path)
        if u.scheme != self.scheme:
            raise ValueError(
                f"path {path!r} is not under scheme {self.scheme}://"
            )
        if not u.netloc:
            raise ValueError(f"object path {path!r} has no bucket")
        return os.path.join(self.root, u.netloc, u.path.lstrip("/"))

    def _logged(self, op: str, path: str) -> str:
        self.ops.append((op, path))
        return self._local(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(self._logged("exists", path))

    def list_files(self, path: str) -> list[str]:
        root = self._logged("list_files", path)
        out = []
        for dirpath, _dirnames, files in os.walk(root):
            rel = os.path.relpath(dirpath, root)
            for f in files:
                out.append(f if rel == "." else f"{rel}/{f}")
        return out

    def list_names(self, path: str) -> list[str]:
        root = self._logged("list_names", path)
        if not os.path.isdir(root):
            return []
        return sorted(os.listdir(root))

    def delete_prefix(self, path: str) -> None:
        local = self._logged("delete_prefix", path)
        if os.path.isdir(local):
            shutil.rmtree(local, ignore_errors=True)
        elif os.path.exists(local):
            os.unlink(local)

    def delete_file(self, path: str) -> None:
        local = self._logged("delete_file", path)
        if os.path.exists(local):
            os.unlink(local)

    def read_bytes(self, path: str) -> bytes:
        with open(self._logged("read", path), "rb") as fh:
            return fh.read()

    def write_bytes(self, path: str, data: bytes, durable: bool = True) -> None:
        local = self._logged("put", path)
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        _atomic_publish(local, data, exclusive=False, durable=durable)

    def create_exclusive(self, path: str, data: bytes) -> None:
        local = self._logged("conditional_put", path)
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        _atomic_publish(local, data, exclusive=True)

    def ensure_dir(self, path: str) -> None:
        # object stores have no directories; Spark's committer on the
        # backing path creates what it needs
        self.ops.append(("ensure_dir", path))
        os.makedirs(self._local(path), exist_ok=True)

    def spark_path(self, path: str) -> str:
        return self._local(path)


_LOCAL = LocalRunFS()
_FILE = FileUriRunFS()
_SCHEMES: dict[str, LocalRunFS] = {}


def register(scheme: str, fs: LocalRunFS) -> None:
    """Register a control-plane implementation for a URI scheme (a real
    S3/GCS port's entry point; tests register MockObjectRunFS here)."""
    if scheme_of(f"{scheme}://x") != scheme:
        raise ValueError(f"invalid scheme {scheme!r}")
    _SCHEMES[scheme] = fs


def unregister(scheme: str) -> None:
    _SCHEMES.pop(scheme, None)


def fs_for(path: str):
    """Resolve the control-plane implementation for a store path — THE
    capability check: plain paths and file:// are built in, other schemes
    must have been registered, anything else raises loudly (on s3:// the
    old behavior would silently degrade exactly-once to re-extract-all)."""
    s = scheme_of(path)
    if s is None:
        return _LOCAL
    if s == "file":
        return _FILE
    fs = _SCHEMES.get(s)
    if fs is None:
        raise ValueError(
            f"run store '{path}' uses scheme '{s}://' with no registered "
            "control-plane implementation: the exactly-once commit "
            "protocol needs the six runfs primitives (see enem_spark/"
            "runfs.py — an object-store port is the six primitives over "
            "a conditional-put client, registered via runfs.register()); "
            "plain POSIX paths and file:// URIs work out of the box"
        )
    return fs


def spark_path(path: str) -> str:
    """Hadoop/Spark address of a logical store path (identity for plain
    and file:// paths). Every Spark read/write the commit protocol issues
    goes through here so a registered store can split its data plane
    from its control plane."""
    return fs_for(path).spark_path(path)


def require_supported_store(out_dir: str) -> None:
    """Capability check (demoted from the round-4 POSIX-only refusal):
    raises iff no control-plane implementation is available for the
    store's scheme."""
    fs_for(out_dir)
