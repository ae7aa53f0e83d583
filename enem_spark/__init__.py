"""enem_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the query/data-processing capabilities of
caue-paiva/ENEM_PDF_PARSER (reference at /root/reference), re-expressed as a
distributed, columnar, Arrow-vectorized Spark pipeline over Common-Crawl-style
page tables:

    pages(url, warc_ts, html, text, lang)
      -> layout reconstruction (two-column bbox clustering)
      -> page preprocessing (marker normalization, header/barcode strip)
      -> question segmentation (explode)
      -> alternative parsing (vectorized state machine)
      -> answer-key broadcast join
      -> subject routing + ordered group-concat sinks

plus the training-data-pipeline operators a 100 TB corpus needs
(dedup exact/MinHash-LSH/SimHash, similarity search, language ID,
quality scoring, token counting, fingerprinting).

Nothing here is a port: the reference is a single-threaded, row-at-a-time
Python program; this engine is declarative DataFrame plans with pandas UDFs
only where string state machines genuinely need Python.
"""

import hashlib
import os
import re
import shutil
import tempfile
import uuid
import zipimport
from typing import Any, Callable

__version__ = "0.1.0"


def _install_stat_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read its archive only when
    the archive's (inode, size, mtime) changed since this importer last
    read it.

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``), and Python 3.11's
    zipimporter re-reads its archive's whole directory there, eagerly and
    in pure Python. The workers import pyspark from ``pyspark.zip``
    (1,328 entries) through one zipimporter per imported package dir, so
    every task re-read it up to 16 times, 0.15-0.26 s of CPU before its
    first row. Every Python crossing of the engine unpickles a function
    from this package, so each worker installs this on its first task;
    an importer's first invalidation after that still reads, to record
    the stat. A rewritten archive is still re-read; where invalidation is
    already lazy (3.12+) the check costs one stat. Installing twice is a
    no-op."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_checked", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        # stat before reading: an archive rewritten during the read
        # shows a new key next time and is read again
        if key is None or key != getattr(self, "_read_stat", None):
            original(self)
        self._read_stat = key

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_stat_checked_zip_invalidation()

_PACKAGE = os.path.dirname(os.path.abspath(__file__))
_PACKAGE_FILES: list[str] = []
_FILE_MD5: dict[str, str] = {}
_MEMO: dict[str, Any] = {}


def _file_md5(path: str) -> str:
    if path not in _FILE_MD5:
        with open(path, "rb") as f:
            _FILE_MD5[path] = hashlib.md5(f.read()).hexdigest()
    return _FILE_MD5[path]


def _source_fingerprint(code: Callable | None = None) -> str:
    """md5 over the bytes of every ``enem_spark`` source file plus the
    file that defines ``code`` (a build outside the package, such as one
    of bench.py's stores). Each file is read once per process."""
    if not _PACKAGE_FILES:
        _PACKAGE_FILES.extend(
            os.path.join(d, n)
            for d, _, names in os.walk(_PACKAGE)
            for n in names
            if n.endswith(".py")
        )
    files = set(_PACKAGE_FILES)
    if code is not None:
        files.add(os.path.abspath(code.__code__.co_filename))
    return hashlib.md5(
        "".join(sorted(_file_md5(f) for f in files)).encode()
    ).hexdigest()


def _corpus_fingerprint(sf_dir: str) -> str:
    """(name, size, mtime) of every entry directly under ``sf_dir``."""
    try:
        entries = sorted(
            (e.name, st.st_size, st.st_mtime_ns)
            for e in os.scandir(sf_dir)
            for st in (e.stat(),)
        )
    except FileNotFoundError:
        entries = []
    return repr(entries)


def staging_path(
    kind: str, sf_dir: str, extra: str = "", code: Callable | None = None
) -> str:
    """Where a stager keeps what it derives from the corpus at ``sf_dir``:
    ``$TMPDIR/enem_<kind>_<basename>_<path tag>_<fingerprint><extra>``.
    The path tag keeps two corpora that share a basename apart; the
    fingerprint covers the corpus files (:func:`_corpus_fingerprint`) and
    the code that derives from them (:func:`_source_fingerprint`), so a
    rewritten corpus or a changed kernel lands in a fresh path and nothing
    staged is ever deleted by hand. ``extra`` carries any other input the
    staged files depend on (a shard count, a file suffix)."""
    sf_dir = os.path.normpath(sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    fp = hashlib.md5(
        (_corpus_fingerprint(sf_dir) + _source_fingerprint(code)).encode()
    ).hexdigest()[:8]
    return os.path.join(
        tempfile.gettempdir(),
        f"enem_{kind}_{os.path.basename(sf_dir)}_{tag}_{fp}{extra}",
    )


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _remove_dead_tmps(path: str) -> None:
    """Delete the ``<path>.tmp-<pid>-<hex>`` siblings of ``path`` whose
    builder process is gone. A live pid's tmp is left alone: it is a build
    in flight (or a reused pid, which at worst keeps garbage around)."""
    head, base = os.path.split(path)
    pattern = re.compile(re.escape(base) + r"\.tmp-(\d+)-[0-9a-f]+")
    with os.scandir(head) as entries:
        dead = [
            e.path
            for e in entries
            if (m := pattern.fullmatch(e.name)) and not _pid_alive(int(m[1]))
        ]
    for tmp in dead:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass


def stage(
    kind: str,
    sf_dir: str,
    build: Callable[[str], Any],
    extra: str = "",
    layout: Callable[[str], Any] | None = None,
) -> Any:
    """Build once what a stager derives from ``sf_dir`` and return
    ``layout(path)`` (default: the path), memoized per process by path.

    ``build(tmp)`` writes the staged file or directory at ``tmp``, a
    private sibling ``<path>.tmp-<pid>-<hex>`` of ``path =
    staging_path(kind, sf_dir, extra, build)``; the result is published
    by renaming ``tmp`` into place, so a reader never sees a half-written
    store and a killed build leaves nothing at ``path``. The first entry
    for a path in a process removes the tmp siblings that a killed build
    left behind (:func:`_remove_dead_tmps`). When another process
    publishes first, this one's copy is discarded (staged bytes are
    deterministic)."""
    path = staging_path(kind, sf_dir, extra, build)
    if path not in _MEMO:
        _remove_dead_tmps(path)
    if not os.path.exists(path):
        tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:12]}"
        try:
            build(tmp)
            # neither call replaces a published path: rename refuses a
            # non-empty dir, link refuses any existing file
            try:
                (os.rename if os.path.isdir(tmp) else os.link)(tmp, path)
            except OSError:
                if not os.path.exists(path):
                    raise
        finally:
            if os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
            elif os.path.exists(tmp):
                os.remove(tmp)
    if path not in _MEMO:
        _MEMO[path] = path if layout is None else layout(path)
    return _MEMO[path]
