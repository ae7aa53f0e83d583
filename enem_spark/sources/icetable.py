"""Iceberg-style table layer over parquet: snapshots, manifests, pruning.

The north rule targets "Iceberg tables of Common-Crawl-style web pages at
10^12-document scale".  The sandbox has no Iceberg runtime jars, so this
module rebuilds the *table-format layer* that makes Iceberg work at that
scale — from the public spec (https://iceberg.apache.org/spec/), not any
implementation:

  * **Metadata tree, not directory listing.**  A committed version file
    (``metadata/v{N}.json``) points at manifest files; each manifest lists
    data files with their partition tuple, record count and per-column
    min/max bounds.  Planning a scan is O(manifest entries) driver-side
    metadata work — at 10^12 documents an object-store ``LIST`` of the data
    prefix is the thing that cannot happen, and never does here.
  * **Hidden partitioning via transforms** (`identity`, ``days(ts)``,
    ``bucket(n, col)``).  Queries filter on *source* columns (``warc_ts``,
    ``url``); pruning maps the predicate through the transform to partition
    values.  Data files keep every schema column (Iceberg semantics — the
    partition tuple lives in the manifest, not carved out of the rows the
    way Hive-style ``partitionBy`` does), so readers never depend on path
    reconstruction.
  * **Atomic commits.**  A commit writes its data files and manifest first,
    then creates ``v{N+1}.json`` with ``O_CREAT|O_EXCL`` — the version file
    is the single commit point (same shape as lineage.py's runs marker). A
    concurrent committer loses the race and gets ``CommitConflict`` to
    retry on fresh metadata; a crash before the version file leaves only
    unreferenced files that the next commit ignores.
  * **Snapshot isolation + time travel.**  Readers resolve a snapshot once
    (latest, by id, or ``as_of`` a sequence number) and only ever see the
    closed set of files its manifests reference.
  * **Metadata-only deletes.**  ``delete_where`` on a partition-aligned
    predicate rewrites manifests to drop whole files — zero data IO, the
    Iceberg "drop a crawl" operation.
  * **Merge-on-read equality deletes** (Iceberg v2 delete files).
    ``delete_rows`` commits a tiny key-list file instead of rewriting data
    (the 10^12-row takedown/opt-out story: removing 10k urls must not
    rewrite 100 TB); readers anti-join applicable delete files at scan
    time, and ``purge_deletes`` later materializes them in one maintenance
    rewrite.  Sequence scoping matches the spec: an equality delete applies
    only to data files whose commit sequence is STRICTLY below the
    delete's, so rows (re-)appended after a takedown survive it.
  * **Branches, tags, write-audit-publish.**  Named refs in table
    metadata: commits with ``branch=`` advance a branch head while main
    readers see nothing; ``publish_branch`` fast-forwards main in ONE
    metadata commit (the WAP pattern: stage a crawl on an audit branch,
    run quality checks against ``read(ref=...)``, publish atomically —
    or drop the ref and let the staged snapshots expire). Tags pin a
    snapshot readable-by-name and exempt from expiry.
  * **Schema evolution.**  Appends may add columns; the merged schema lives
    in table metadata (never inferred from footers), and old files read
    back with nulls for the new columns.  Renames/drops would need Iceberg
    field-ids and are out of scope (documented divergence).

Determinism: nothing here calls the clock — snapshot ``sequence`` numbers
are caller-supplied logical times, and bucket transforms use md5 (not
builtin ``hash``), so staging in pure Python and writing from Spark agree
byte-for-byte.

Reference parity note: the reference repo (enem_pdf_extractor.py) has no
table format at all — it globs a local directory per run.  This module is
the engine extension SURVEY.md §2.9-style: what replaces that glob when the
corpus is 10^12 rows.
"""

from __future__ import annotations

import hashlib
import json
import os
import urllib.parse
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .. import runfs, stage

FORMAT_VERSION = 1
_PART_DIR = "__part"  # synthetic partition dir level (see module docstring)


class CommitConflict(RuntimeError):
    """Another writer committed the version this writer raced for."""


# ---------------------------------------------------------------------------
# Partition transforms (hidden partitioning)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Transform:
    """One partition field: ``name = kind(source_col[, param])``."""

    name: str
    kind: str  # identity | days | bucket
    source: str
    param: int | None = None

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "kind": self.kind,
            "source": self.source,
            "param": self.param,
        }

    @staticmethod
    def from_json(d: dict) -> "Transform":
        return Transform(d["name"], d["kind"], d["source"], d.get("param"))


def _bucket_of(value: Any, n: int) -> int:
    # md5-based so the Spark expression below and pure-Python staging agree;
    # Iceberg uses murmur3-32 — same role, different constant (documented).
    digest = hashlib.md5(str(value).encode("utf-8")).hexdigest()[:8]
    return int(digest, 16) % n


def _days_of(ts: Any) -> int:
    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts)
    if isinstance(ts, datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        return int(ts.timestamp()) // 86400
    return int(ts) // 86400


def transform_value(t: Transform, value: Any) -> str:
    """Partition value (as the canonical string stored in manifests)."""
    if t.kind == "identity":
        return str(value)
    if t.kind == "days":
        return str(_days_of(value))
    if t.kind == "bucket":
        return str(_bucket_of(value, int(t.param)))
    raise ValueError(f"unknown transform kind: {t.kind}")


def _transform_col(t: Transform) -> F.Column:
    """The same transform as a JVM-side Column (for the Spark write path)."""
    col = F.col(t.source)
    if t.kind == "identity":
        return col.cast("string")
    if t.kind == "days":
        return F.floor(F.unix_timestamp(col) / F.lit(86400)).cast("string")
    if t.kind == "bucket":
        hashed = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        return (hashed.cast("long") % F.lit(int(t.param))).cast("string")
    raise ValueError(f"unknown transform kind: {t.kind}")


def partition_dir(transforms: Sequence[Transform], values: dict[str, str]) -> str:
    """``__part=<escaped k=v|k=v>`` — one synthetic dir level for any arity."""
    blob = "|".join(f"{t.name}={values[t.name]}" for t in transforms)
    return f"{_PART_DIR}={urllib.parse.quote(blob, safe='')}"


def _parse_partition_dir(rel_path: str, transforms: Sequence[Transform]) -> dict[str, str]:
    for seg in rel_path.split(os.sep):
        if seg.startswith(_PART_DIR + "="):
            blob = urllib.parse.unquote(seg[len(_PART_DIR) + 1 :])
            out: dict[str, str] = {}
            for item in blob.split("|"):
                k, _, v = item.partition("=")
                out[k] = v
            return out
    return {}


# ---------------------------------------------------------------------------
# Parquet footer stats -> manifest entries
# ---------------------------------------------------------------------------

_STAT_TYPES = (int, float, str, bool)


def _json_safe_bound(v: Any) -> Any:
    if isinstance(v, bytes):
        return None  # binary bounds not tracked (Iceberg truncates; we skip)
    if isinstance(v, datetime):
        # naive UTC isoformat sorts lexicographically == chronologically
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _STAT_TYPES):
        return v
    return None


def _file_entry(
    table_root: str,
    rel: str,
    transforms: Sequence[Transform],
    fs=None,
) -> dict:
    """Manifest entry for the table-relative file ``rel``. Footer stats
    come from a local read when the data plane is POSIX-accessible
    (`fs.local_data_path`), else from a whole-object `read_bytes` — the
    shape a real object-store port keeps (a production port would use
    ranged GETs for the footer; at manifest-build time the file was just
    written, so the bytes are warm either way)."""
    import io

    import pyarrow.parquet as pq

    fs = fs if fs is not None else runfs.fs_for(table_root)
    full = f"{table_root}/{rel}"
    local = fs.local_data_path(full)
    if local is not None:
        meta = pq.ParquetFile(local).metadata
        nbytes = os.path.getsize(local)
    else:
        blob = fs.read_bytes(full)
        meta = pq.ParquetFile(io.BytesIO(blob)).metadata
        nbytes = len(blob)
    bounds: dict[str, list] = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            stats = col.statistics
            if stats is None or not stats.has_min_max:
                continue
            lo = _json_safe_bound(stats.min)
            hi = _json_safe_bound(stats.max)
            if lo is None or hi is None:
                continue
            name = col.path_in_schema
            if name in bounds:
                bounds[name] = [min(bounds[name][0], lo), max(bounds[name][1], hi)]
            else:
                bounds[name] = [lo, hi]
    return {
        "path": rel,
        "records": meta.num_rows,
        "bytes": nbytes,
        "partition": _parse_partition_dir(rel, transforms),
        "bounds": bounds,
    }


_EQ_DELETES = "eq-deletes"


def _split_entries(entries: list[dict]) -> tuple[list[dict], list[dict]]:
    """(data entries, equality-delete entries). Entries without a
    ``content`` field are data files (every pre-MOR manifest)."""
    data = [e for e in entries if e.get("content") != _EQ_DELETES]
    dels = [e for e in entries if e.get("content") == _EQ_DELETES]
    return data, dels


def _without_delete_keys(df: DataFrame, keys: DataFrame, cols: Sequence[str]):
    """NULL-safe equality-delete application (Iceberg v2 semantics: null
    matches null — a takedown key with a NULL column must hit rows whose
    column is NULL, which a plain ``on=`` equi-join would silently skip)."""
    cond = None
    for c in cols:
        term = df[c].eqNullSafe(keys[c])
        cond = term if cond is None else cond & term
    return df.join(F.broadcast(keys), cond, "left_anti")


def _delete_applies(data_entry: dict, delete_entry: dict) -> bool:
    """Iceberg v2 sequence scoping: an equality delete hits only data files
    committed STRICTLY before it. A data entry with no recorded ``seq``
    (written before MOR landed) is treated as older than every delete —
    conservative in the only direction that matters (a takedown must never
    silently miss rows)."""
    seq = data_entry.get("seq")
    return seq is None or seq < delete_entry["applies_below"]


def _scan_commit_dir(
    commit_dir: str, table_root: str, transforms: Sequence[Transform], fs=None
) -> list[dict]:
    fs = fs if fs is not None else runfs.fs_for(table_root)
    root = table_root.rstrip("/")
    if not commit_dir.startswith(root + "/"):
        raise ValueError(f"commit dir {commit_dir!r} outside table {root!r}")
    prefix = commit_dir[len(root) + 1 :]
    entries = []
    for rel in sorted(fs.list_files(commit_dir)):
        if rel.endswith(".parquet"):
            entries.append(
                _file_entry(root, f"{prefix}/{rel}", transforms, fs)
            )
    entries.sort(key=lambda e: e["path"])
    return entries


# ---------------------------------------------------------------------------
# Predicate -> partition/bounds pruning
# ---------------------------------------------------------------------------

_OPS = {"=", "<", "<=", ">", ">=", "in"}


def _coerce_pair(a: Any, b: Any) -> tuple[Any, Any] | None:
    """Coerce a bound and a literal to a comparable pair, else None."""
    if isinstance(a, bool) or isinstance(b, bool):
        return (bool(a), bool(b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return (a, b)
    if isinstance(b, datetime):
        b = _json_safe_bound(b)
    if isinstance(a, str) and isinstance(b, str):
        return (a, b)
    try:
        return (float(a), float(b))
    except (TypeError, ValueError):
        return None


def _range_disjoint(lo: Any, hi: Any, op: str, lit: Any) -> bool:
    """True only if [lo, hi] provably contains NO row matching ``op lit``."""
    pair_lo = _coerce_pair(lo, lit)
    pair_hi = _coerce_pair(hi, lit)
    if pair_lo is None or pair_hi is None:
        return False
    lo_c, lit_c = pair_lo
    hi_c, _ = pair_hi
    if op == "=":
        return lit_c < lo_c or lit_c > hi_c
    if op == "<":
        return lo_c >= lit_c
    if op == "<=":
        return lo_c > lit_c
    if op == ">":
        return hi_c <= lit_c
    if op == ">=":
        return hi_c < lit_c
    return False


def _keep_file(
    entry: dict, filters: Sequence[tuple], transforms: Sequence[Transform]
) -> bool:
    by_source = {t.source: t for t in transforms}
    for col, op, lit in filters:
        if op not in _OPS:
            raise ValueError(f"unsupported filter op: {op!r}")
        # 1) transform-aware partition pruning on source columns
        t = by_source.get(col)
        if t is not None and t.name in entry["partition"]:
            pv = entry["partition"][t.name]
            if t.kind == "identity":
                if op == "=" and str(lit) != pv:
                    return False
                if op == "in" and all(str(x) != pv for x in lit):
                    return False
                if op in ("<", "<=", ">", ">="):
                    pair = _coerce_pair(pv, lit)
                    if pair is not None and _range_disjoint(pair[0], pair[0], op, pair[1]):
                        return False
            elif t.kind == "days":
                day = int(pv)
                # conservative: a file's partition day d covers [d, d]
                if op in ("=", "<", "<=", ">", ">="):
                    lit_day = _days_of(lit)
                    # day-granular: <=/>= widen by nothing; </> widen by 0/0
                    # because a timestamp strictly inside day d still lives
                    # in partition d — compare at day granularity inclusively
                    if op == "=" and lit_day != day:
                        return False
                    if op in ("<", "<=") and day > lit_day:
                        return False
                    if op in (">", ">=") and day < lit_day:
                        return False
                elif op == "in":
                    if all(_days_of(x) != day for x in lit):
                        return False
            elif t.kind == "bucket":
                if op == "=" and _bucket_of(lit, int(t.param)) != int(pv):
                    return False
                if op == "in" and all(
                    _bucket_of(x, int(t.param)) != int(pv) for x in lit
                ):
                    return False
        # 2) min/max bounds pruning on any column with footer stats
        if col in entry["bounds"]:
            lo, hi = entry["bounds"][col]
            if op == "in":
                if all(_range_disjoint(lo, hi, "=", x) for x in lit):
                    return False
            elif _range_disjoint(lo, hi, op, lit):
                return False
    return True


# ---------------------------------------------------------------------------
# The table
# ---------------------------------------------------------------------------


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _version_file(path: str, v: int) -> str:
    return os.path.join(_meta_dir(path), f"v{v:05d}.json")


def current_version(path: str) -> int:
    """Highest committed version, -1 if the table doesn't exist yet.

    O(#versions) metadata listing (a delimiter list on the metadata
    prefix) — never touches the data prefix."""
    md = _meta_dir(path)
    best = -1
    for name in runfs.fs_for(path).list_names(md):
        if name.startswith("v") and name.endswith(".json"):
            try:
                best = max(best, int(name[1:-5]))
            except ValueError:
                continue
    return best


def _atomic_create(path: str, payload: dict) -> None:
    """Content-atomic exclusive create — the commit point. Loser raises
    CommitConflict.

    The version file must appear with its FULL content in one step, and
    the first writer must win: exactly the CONDITIONAL-PUT primitive of
    the runfs control plane (`create_exclusive` — If-None-Match on an
    object store, tmp + fsync + link(2) locally, where link is atomic
    and fails with EEXIST for the race loser with the content already
    durable at publish time). A create-then-write window would let a
    concurrent reader observe (or a crash leave behind) an empty/
    truncated version file that every later metadata() read chokes on;
    the runfs implementations all publish whole-object-or-nothing."""
    blob = json.dumps(payload, indent=1, sort_keys=True).encode("utf-8")
    try:
        runfs.fs_for(path).create_exclusive(path, blob)
    except FileExistsError:
        raise CommitConflict(
            f"lost commit race for {path.rsplit('/', 1)[-1]}"
        ) from None


def _merge_schema(old: T.StructType, new: T.StructType) -> T.StructType:
    """Add-column evolution: old field order kept, new fields appended."""
    have = {f.name for f in old.fields}
    fields = list(old.fields)
    for f in new.fields:
        if f.name not in have:
            fields.append(T.StructField(f.name, f.dataType, True))
        else:
            old_f = next(g for g in old.fields if g.name == f.name)
            if old_f.dataType != f.dataType:
                raise ValueError(
                    f"type change on column {f.name!r} "
                    f"({old_f.dataType} -> {f.dataType}) needs field-id "
                    "evolution, which this shim does not implement"
                )
    return T.StructType(fields)


class IceTable:
    """Handle on an icetable directory. Cheap to construct; metadata is
    loaded lazily per read and re-read per commit (optimistic concurrency).
    """

    def __init__(self, spark: SparkSession | None, path: str):
        self.spark = spark
        # normpath only plain paths: it would collapse a URI's '//'
        self.path = (
            path.rstrip("/")
            if runfs.scheme_of(path)
            else os.path.normpath(path)
        )
        self._fs = runfs.fs_for(self.path)

    def _dp(self, rel: str) -> str:
        """Data-plane (Spark/Hadoop) address of a table-relative path."""
        return self._fs.spark_path(f"{self.path}/{rel}")

    def _rel_of_uri(self, uri: str) -> str:
        """Table-relative path of a Spark ``input_file_name()`` URI —
        resolved against the DATA-PLANE root, which differs from
        ``self.path`` on stores whose spark_path translates."""
        p = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
        sp_root = self._fs.spark_path(self.path)
        root_local = urllib.parse.urlparse(sp_root).path or sp_root
        return os.path.relpath(p, root_local)

    # -- metadata ----------------------------------------------------------

    def exists(self) -> bool:
        return current_version(self.path) >= 0

    def metadata(self, version: int | None = None) -> dict:
        v = current_version(self.path) if version is None else version
        if v < 0:
            raise FileNotFoundError(f"no icetable at {self.path}")
        return json.loads(self._fs.read_bytes(_version_file(self.path, v)))

    def snapshots(self) -> list[dict]:
        return self.metadata()["snapshots"]

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self.metadata(version)["schema"])

    def transforms(self, version: int | None = None) -> list[Transform]:
        return [Transform.from_json(d) for d in self.metadata(version)["partition_by"]]

    def published_sequence(self) -> int:
        """Highest sequence visible to MAIN readers (marker-based — robust
        to expired parent chains). The WAP ladder guards on this, never on
        the global max, which unpublished branch commits already raise."""
        meta = self.metadata()
        return max(
            s["sequence"] for s in meta["snapshots"] if self._is_main(s)
        )

    def refs(self) -> dict:
        """Named refs: {name: {"snapshot_id": int, "type": "branch"|"tag"}}.
        Absent in pre-ref metadata — read as empty."""
        return self.metadata().get("refs", {})

    @staticmethod
    def _ancestry(meta: dict, head_id: int) -> set[int]:
        """Snapshot ids reachable from ``head_id`` via parent links.
        Used for publish-time fast-forward checks only — MAIN visibility
        is the per-snapshot ``branch`` marker (`_is_main`), which unlike a
        parent walk survives snapshot expiry breaking the chain."""
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        out: set[int] = set()
        cur: int | None = head_id
        while cur is not None and cur in by_id and cur not in out:
            out.add(cur)
            cur = by_id[cur]["parent_id"]
        return out

    @staticmethod
    def _is_main(snap: dict) -> bool:
        """Main-visible snapshot: committed to main, or published there.
        Pre-ref snapshots carry no marker — all main by construction."""
        return snap.get("branch", "main") == "main"

    def _resolve_snapshot(
        self,
        meta: dict,
        snapshot_id: int | None,
        as_of: int | None,
        ref: str | None = None,
    ) -> dict:
        snaps = meta["snapshots"]
        if ref is not None:
            if snapshot_id is not None or as_of is not None:
                raise ValueError("ref is exclusive with snapshot_id/as_of")
            refs = meta.get("refs", {})
            if ref not in refs:
                raise KeyError(f"no ref {ref!r} in {self.path}")
            snapshot_id = refs[ref]["snapshot_id"]
        if snapshot_id is not None:
            for s in snaps:
                if s["snapshot_id"] == snapshot_id:
                    return s
            raise KeyError(f"snapshot {snapshot_id} not in {self.path}")
        if as_of is not None:
            # MAIN-visible only: unpublished branch snapshots carry
            # sequences too, and a pinned as_of read on main must never
            # resolve to work an audit branch has not published yet
            # (publish flips the markers, making them as_of-visible)
            live = [
                s
                for s in snaps
                if s["sequence"] <= as_of and self._is_main(s)
            ]
            if not live:
                raise KeyError(f"no snapshot at or before sequence {as_of}")
            return max(live, key=lambda s: s["sequence"])
        return next(s for s in snaps if s["snapshot_id"] == meta["current_snapshot_id"])

    def _manifest_entries(self, snap: dict) -> list[dict]:
        out = []
        for mpath in snap["manifests"]:
            out.extend(
                json.loads(self._fs.read_bytes(f"{self.path}/{mpath}"))[
                    "entries"
                ]
            )
        return out

    # -- scan planning -----------------------------------------------------

    def _plan_entries(
        self,
        filters: Sequence[tuple] | None = None,
        snapshot_id: int | None = None,
        as_of: int | None = None,
        ref: str | None = None,
    ) -> tuple[list[dict], list[dict], dict]:
        """Manifest-level scan plan over ENTRIES: (kept data entries,
        equality-delete entries, report). Driver-side metadata work only."""
        meta = self.metadata()
        snap = self._resolve_snapshot(meta, snapshot_id, as_of, ref)
        transforms = [Transform.from_json(d) for d in meta["partition_by"]]
        entries, dels = _split_entries(self._manifest_entries(snap))
        filters = list(filters or [])
        kept = [e for e in entries if _keep_file(e, filters, transforms)]
        report = {
            "snapshot_id": snap["snapshot_id"],
            "sequence": snap["sequence"],
            "files_total": len(entries),
            "files_kept": len(kept),
            "delete_files": len(dels),
            "records_total": sum(e["records"] for e in entries),
            "records_kept_max": sum(e["records"] for e in kept),
            "bytes_kept": sum(e["bytes"] for e in kept),
        }
        return kept, dels, report

    def plan_files(
        self,
        filters: Sequence[tuple] | None = None,
        snapshot_id: int | None = None,
        as_of: int | None = None,
    ) -> tuple[list[str], dict]:
        """Manifest-level scan plan: (kept absolute DATA file paths, report).

        Driver-side metadata work only — O(manifest entries), no listing of
        the data prefix, no footer reads (bounds were captured at commit).
        When the snapshot carries equality-delete files the report says so
        (``delete_files``); a caller reading the planned paths raw sees
        pre-delete rows — row-exact reads go through ``read``, which
        anti-joins the applicable deletes."""
        kept, _dels, report = self._plan_entries(filters, snapshot_id, as_of)
        return [self._dp(e["path"]) for e in kept], report

    def _plan_incremental_entries(
        self,
        from_seq: int,
        filters: Sequence[tuple] | None = None,
        snapshot_id: int | None = None,
        as_of: int | None = None,
    ) -> tuple[list[dict], list[dict], dict]:
        """Incremental scan plan: the target snapshot's files MINUS every
        file already referenced by the newest snapshot at or before
        ``from_seq`` (none committed that early -> the full file set).
        Returns (kept data entries, applicable delete entries, report).

        This is the Iceberg incremental-read shape: planning stays
        O(manifest entries) driver-side, and at 10^12 rows a re-crawl
        append is scanned at the cost of the delta, not the corpus.  The
        snapshot LOG is walked, per operation:

          * ``append`` — contributes the files it added (diff vs parent),
            read from the APPEND snapshot's own manifests: a later
            compaction may have rewritten them out of the target's live
            set, but the original files stay on disk (and readable) until
            ``expire_snapshots`` reclaims them;
          * ``replace`` (compaction) — ignored: it rewrites bytes, not
            logical content, so an incremental reader must not re-see it;
          * ``overwrite`` — everything in the target becomes "new": old
            extractions are invalidated, and row-level exactness stays
            with the caller's content-addressed anti-join (a rewritten
            file may carry rows whose content did not change);
          * ``delete`` — subtracts the files it dropped (those rows are
            gone; partition-aligned deletes drop whole files, so the
            subtraction is exact);
          * ``rowdelete`` — contributes nothing: it adds no data files,
            and its equality delete cannot apply to any incremental file
            (sequence scoping — every file in this walk committed at
            sequence > from_seq >= nothing, while the delete hits only
            files STRICTLY below its own sequence, all of which predate
            the walk). Vanished rows need no re-extraction; takedown
            propagation to serving is icerun.apply_takedown's job;
          * ``merge`` / ``rollback`` / anything unrecognized — full rescan
            (default-deny): a COW merge rewrites files mixing changed and
            unchanged rows, and a rollback reverts the live row set, so an
            append-only walk would miss live-content changes.

        A ``from_seq`` older than the oldest retained snapshot (expired
        history) degrades to a full rescan — same contract as Iceberg,
        where incremental reads cannot cross expired snapshots."""
        meta = self.metadata()
        target = self._resolve_snapshot(meta, snapshot_id, as_of)
        # visibility scoping: a main-target incremental walk must never
        # absorb unpublished branch snapshots (they carry sequences in the
        # window but main readers cannot see their rows — the same WAP
        # invariant as_of resolution enforces); a branch-target walk sees
        # main history plus its own branch's commits
        target_branch = target.get("branch", "main")
        ordered = sorted(
            (
                s
                for s in meta["snapshots"]
                if self._is_main(s) or s.get("branch") == target_branch
            ),
            key=lambda s: s["sequence"],
        )
        walk = [
            s
            for s in ordered
            if from_seq < s["sequence"] <= target["sequence"]
        ]
        # data entries only: equality-delete files are not scannable rows
        # (their row-removal effect rides along as the delete set below,
        # sequence-scoped per data file by _read_entries). LAZY per
        # snapshot: each manifest parse is O(inherited live files), so
        # parsing every retained snapshot makes an "O(delta)" tail plan
        # cost O(history x files) in driver JSON work — only the walk
        # members, their parents, and the target are ever needed (none on
        # a decided full rescan).
        by_id = {s["snapshot_id"]: s for s in ordered}
        split_cache: dict[int, tuple[list[dict], list[dict]]] = {}

        def split_for(sid) -> tuple[list[dict], list[dict]]:
            if sid not in split_cache:
                snap = by_id.get(sid)
                split_cache[sid] = (
                    _split_entries(self._manifest_entries(snap))
                    if snap is not None
                    else ([], [])
                )
            return split_cache[sid]
        # Default-deny: only operations whose incremental meaning is known
        # are walked file-by-file. ``merge`` (COW upsert: rewritten files
        # mix changed and unchanged rows), ``rollback`` (the live row set
        # reverts wholesale), ``overwrite``, and any future operation all
        # degrade to a full rescan — row-level exactness then stays with
        # the caller's content-addressed anti-join, which re-extracts only
        # changed content. An append-only walk that silently skipped a
        # merge would serve pre-merge content forever.
        full_rescan = any(
            s["operation"] not in ("append", "replace", "delete", "rowdelete")
            for s in walk
        ) or not any(s["sequence"] <= from_seq for s in ordered)
        added: dict[str, dict] = {}
        if not full_rescan:
            for s in walk:
                own = split_for(s["snapshot_id"])[0]
                parent_paths = (
                    {e["path"] for e in split_for(s["parent_id"])[0]}
                    if s["parent_id"] is not None
                    else set()
                )
                if s["operation"] == "append":
                    for e in own:
                        if e["path"] not in parent_paths:
                            added[e["path"]] = e
                elif s["operation"] == "delete":
                    own_paths = {e["path"] for e in own}
                    for p in parent_paths - own_paths:
                        added.pop(p, None)
        transforms = [Transform.from_json(d) for d in meta["partition_by"]]
        filters = list(filters or [])
        entries = (
            list(split_for(target["snapshot_id"])[0])
            if full_rescan
            else [added[p] for p in sorted(added)]
        )
        kept = [e for e in entries if _keep_file(e, filters, transforms)]
        target_data, target_dels = split_for(target["snapshot_id"])
        report = {
            "snapshot_id": target["snapshot_id"],
            "sequence": target["sequence"],
            "from_sequence": from_seq,
            "full_rescan": full_rescan,
            "files_total_snapshot": len(target_data),
            "files_new": len(entries),
            "files_kept": len(kept),
            "delete_files": len(target_dels),
            "records_kept_max": sum(e["records"] for e in kept),
            "bytes_kept": sum(e["bytes"] for e in kept),
        }
        # Target deletes ride along unconditionally: a rowdelete in the
        # walk CAN scope over files an earlier append in the same window
        # added (append at 150, takedown at 200, from_seq=100), and
        # _read_entries applies each delete only to data files whose seq
        # is strictly below it — exact, and a no-op when nothing applies.
        #
        # But the TARGET's delete set alone is not enough: a purge_deletes
        # inside the window materializes the deletes (rewriting live files
        # as a `replace` the walk rightly skips) and DROPS the delete
        # entries from subsequent manifests — while the walk still returns
        # the ORIGINAL pre-purge append files, which carry the deleted
        # rows. Union in every walked rowdelete snapshot's delete entries
        # (their delete files stay on disk until expire_snapshots, same
        # lifetime rule as the walked append data files) so takedowns
        # never resurrect through an incremental read. Dedup by path:
        # un-purged deletes appear in both the walk and the target.
        dels_by_path: dict[str, dict] = {e["path"]: e for e in target_dels}
        if not full_rescan:
            for s in walk:
                if s["operation"] == "rowdelete":
                    for e in split_for(s["snapshot_id"])[1]:
                        dels_by_path.setdefault(e["path"], e)
        dels = [dels_by_path[p] for p in sorted(dels_by_path)]
        report["delete_files"] = len(dels)
        return kept, dels, report

    def plan_incremental(
        self,
        from_seq: int,
        filters: Sequence[tuple] | None = None,
        snapshot_id: int | None = None,
        as_of: int | None = None,
    ) -> tuple[list[str], dict]:
        """Path-level wrapper over ``_plan_incremental_entries`` (kept for
        callers that feed paths to their own reader; row-exactness under
        equality deletes lives in ``read_incremental``)."""
        kept, _dels, report = self._plan_incremental_entries(
            from_seq, filters, snapshot_id, as_of
        )
        return [self._dp(e["path"]) for e in kept], report

    def read_incremental(
        self,
        from_seq: int,
        filters: Sequence[tuple] | None = None,
        snapshot_id: int | None = None,
        as_of: int | None = None,
    ) -> DataFrame:
        """Rows of the files added since ``from_seq`` (see plan_incremental
        for the exactness contract), with residual row-level filters and
        applicable equality deletes anti-joined."""
        assert self.spark is not None, "read_incremental() needs a SparkSession"
        kept, dels, _report = self._plan_incremental_entries(
            from_seq, filters, snapshot_id, as_of
        )
        return self._read_entries(kept, dels, filters)

    def read(
        self,
        filters: Sequence[tuple] | None = None,
        snapshot_id: int | None = None,
        as_of: int | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Snapshot-isolated read of the pruned file set.

        The residual predicate is applied row-level too (pruning is
        conservative), so callers get exact filter semantics; Spark also
        pushes it into the parquet scan for row-group skipping. Equality
        deletes carried by the snapshot are anti-joined (merge-on-read).
        ``ref`` reads a named branch/tag head (the AUDIT half of
        write-audit-publish reads the staging branch this way)."""
        assert self.spark is not None, "read() needs a SparkSession"
        kept, dels, _report = self._plan_entries(filters, snapshot_id, as_of, ref)
        schema = None
        if ref is not None:
            r = self.refs().get(ref, {})
            if "schema" in r:
                # a branch's private schema evolution (main readers keep
                # the table schema until publish folds it in)
                schema = T.StructType.fromJson(r["schema"])
        return self._read_entries(kept, dels, filters, schema=schema)

    def _read_entries(
        self,
        data_entries: list[dict],
        delete_entries: list[dict],
        filters: Sequence[tuple] | None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """Merge-on-read: read the data entries, anti-joining every
        equality-delete file that applies (sequence-scoped per data file).

        Data files are grouped by their applicable-delete set — the groups
        are equivalence classes over at most ``len(delete_entries)``
        boundaries, so the union has O(distinct delete sequences) branches,
        not O(files). Delete key sets are takedown lists (tiny by
        construction — a big delete should be a `merge`/`overwrite`), so
        each anti-join broadcasts the keys: zero extra shuffle on the scan,
        which is the whole point of MOR at 10^12 rows."""
        if not delete_entries:
            return self._read_files(
                [self._dp(e["path"]) for e in data_entries],
                filters,
                schema=schema,
            )
        dels = sorted(
            delete_entries, key=lambda e: (e["applies_below"], e["path"])
        )
        groups: dict[tuple, list[dict]] = {}
        for e in data_entries:
            key = tuple(
                i for i, d in enumerate(dels) if _delete_applies(e, d)
            )
            groups.setdefault(key, []).append(e)
        # applicable-delete sets are suffix-structured over the sorted
        # delete list, so branches repeat each other's key files — build
        # each (cols, file set) key frame ONCE and reuse it across the
        # union's branches instead of re-scanning per branch
        key_cache: dict[tuple, DataFrame] = {}
        out: DataFrame | None = None
        for key in sorted(groups):
            df = self._read_files(
                [self._dp(e["path"]) for e in groups[key]],
                filters,
                schema=schema,
            )
            by_cols: dict[tuple, list[dict]] = {}
            for i in key:
                by_cols.setdefault(tuple(dels[i]["delete_cols"]), []).append(
                    dels[i]
                )
            for cols, group in sorted(by_cols.items()):
                paths = tuple(
                    sorted(self._dp(d["path"]) for d in group)
                )
                ck = (cols, paths)
                if ck not in key_cache:
                    key_cache[ck] = (
                        self.spark.read.parquet(*paths)
                        .select(*cols)
                        .dropDuplicates()
                    )
                df = _without_delete_keys(df, key_cache[ck], cols)
            out = df if out is None else out.unionByName(df)
        if out is None:
            return self._read_files([], filters)
        return out

    def _read_files(
        self,
        files: list[str],
        filters: Sequence[tuple] | None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        schema = schema or self.schema()
        if not files:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.schema(schema).parquet(*files)
        for col, op, lit in filters or []:
            c = F.col(col)
            if op == "=":
                df = df.filter(c == F.lit(lit))
            elif op == "<":
                df = df.filter(c < F.lit(lit))
            elif op == "<=":
                df = df.filter(c <= F.lit(lit))
            elif op == ">":
                df = df.filter(c > F.lit(lit))
            elif op == ">=":
                df = df.filter(c >= F.lit(lit))
            elif op == "in":
                df = df.filter(c.isin(list(lit)))
        return df

    # -- commits -----------------------------------------------------------

    def _commit(
        self,
        operation: str,
        new_entries: list[dict],
        sequence: int,
        df_schema: T.StructType | None,
        keep_parent_manifests: bool,
        manifest_filter=None,
        base_version: int | None = None,
        branch: str | None = None,
    ) -> dict:
        """Commit against the metadata observed at ``base_version`` (the
        version read when the operation STARTED). The new version file is
        created at exactly base+1 with O_EXCL, so a writer that committed
        in between makes this one fail with CommitConflict — optimistic
        concurrency, never a silent rebase onto unseen metadata. The caller
        retries from fresh metadata (re-writing its data files: each
        attempt gets a private data dir, so losers never pollute it).

        With ``branch``, the commit advances that ref instead of main:
        parent = the branch head, ``current_snapshot_id`` untouched — the
        write-audit-publish staging step. Readers on main cannot see it
        until ``publish_branch`` fast-forwards."""
        v = current_version(self.path) if base_version is None else base_version
        if v < 0:
            raise FileNotFoundError(f"no icetable at {self.path}; use create()")
        # Stamp each NEW entry with its commit sequence — the data-file side
        # of the equality-delete scoping rule (_delete_applies). Entries
        # carried over from parent manifests keep the seq they were born
        # with; pre-MOR entries have none and read as infinitely old.
        for e in new_entries:
            e.setdefault("seq", sequence)
        meta = self.metadata(v)
        refs = dict(meta.get("refs", {}))
        if branch is not None:
            if branch not in refs or refs[branch]["type"] != "branch":
                raise KeyError(f"no branch {branch!r} in {self.path}")
            head_id = refs[branch]["snapshot_id"]
        else:
            head_id = meta["current_snapshot_id"]
        # ids are unique across ALL refs' histories, not just main's chain
        snap_id = max(s["snapshot_id"] for s in meta["snapshots"]) + 1
        # schema evolution scope: a MAIN commit merges into the table
        # schema; a BRANCH commit merges into the ref's private schema so
        # main readers' column set cannot change before publish (the WAP
        # contract) — publish_branch folds it into the table schema
        old_schema = T.StructType.fromJson(meta["schema"])
        if branch is not None:
            branch_base = T.StructType.fromJson(
                refs[branch]["schema"]
            ) if "schema" in refs[branch] else old_schema
            branch_schema = (
                _merge_schema(branch_base, df_schema)
                if df_schema
                else branch_base
            )
            schema = old_schema
        else:
            schema = (
                _merge_schema(old_schema, df_schema)
                if df_schema
                else old_schema
            )

        # Manifest filenames carry an attempt-unique token: two writers
        # racing for the same target version would otherwise both write
        # manifest-{snap_id}.json, and the LOSER's pre-commit write would
        # silently replace the content behind the winner's already-committed
        # version file (observed as row duplication under commit races).
        # Losers' manifests become unreferenced orphans, GC'd by
        # expire_snapshots like any dead manifest.
        token = uuid.uuid4().hex[:12]
        manifests: list[str] = []
        if keep_parent_manifests:
            parent = self._resolve_snapshot(meta, head_id, None)
            if manifest_filter is None:
                manifests = list(parent["manifests"])
            else:
                # rewrite manifests dropping filtered files (metadata-only)
                for i, mpath in enumerate(parent["manifests"]):
                    entries = json.loads(
                        self._fs.read_bytes(f"{self.path}/{mpath}")
                    )["entries"]
                    survivors = [e for e in entries if manifest_filter(e)]
                    if len(survivors) == len(entries):
                        manifests.append(mpath)
                        continue
                    if not survivors:
                        continue
                    rel = (
                        f"metadata/manifest-{snap_id:05d}-r{i:03d}-{token}.json"
                    )
                    self._fs.write_bytes(
                        f"{self.path}/{rel}",
                        json.dumps({"entries": survivors}, indent=1).encode(),
                    )
                    manifests.append(rel)
        if new_entries:
            rel = f"metadata/manifest-{snap_id:05d}-{token}.json"
            self._fs.write_bytes(
                f"{self.path}/{rel}",
                json.dumps({"entries": new_entries}, indent=1).encode(),
            )
            manifests.append(rel)

        snap = {
            "snapshot_id": snap_id,
            "parent_id": head_id,
            "sequence": sequence,
            "branch": branch if branch is not None else "main",
            "operation": operation,
            "manifests": manifests,
            "summary": {
                "added_files": len(new_entries),
                "added_records": sum(e["records"] for e in new_entries),
            },
        }
        if branch is not None:
            refs[branch] = {"snapshot_id": snap_id, "type": "branch"}
            if json.loads(branch_schema.json()) != meta["schema"]:
                refs[branch]["schema"] = json.loads(branch_schema.json())
        new_meta = {
            "format_version": FORMAT_VERSION,
            "schema": json.loads(schema.json()),
            "partition_by": meta["partition_by"],
            "current_snapshot_id": (
                meta["current_snapshot_id"] if branch is not None else snap_id
            ),
            "snapshots": meta["snapshots"] + [snap],
        }
        if refs:
            new_meta["refs"] = refs
        _atomic_create(_version_file(self.path, v + 1), new_meta)
        return snap

    def _attempt_dir(self, snap_hint: int) -> str:
        """Collision-proof data dir for one write ATTEMPT.  Two writers
        racing for the same target version must never share a directory:
        the manifest is built by scanning the attempt dir, so a shared dir
        lets one writer's manifest absorb the other's files (observed as
        row duplication under commit races).  The uuid suffix makes each
        attempt's dir private; losers leave unreferenced orphans that no
        manifest points at (reclaimed the same way as crash leftovers).
        Spark part-file names are already non-deterministic, so the random
        dir does not weaken any byte-for-byte guarantee on this path."""
        return os.path.join(
            self.path, "data", f"c{snap_hint:05d}-{uuid.uuid4().hex[:12]}"
        )

    def _write_data(self, df: DataFrame, snap_hint: int) -> list[dict]:
        transforms = self.transforms()
        commit_dir = self._attempt_dir(snap_hint)
        staged = df
        if transforms:
            parts = [
                F.concat(F.lit(f"{t.name}="), _transform_col(t))
                for t in transforms
            ]
            staged = df.withColumn(
                _PART_DIR, F.concat_ws("|", *parts)
            ).repartition(_PART_DIR)
            staged.write.mode("overwrite").partitionBy(_PART_DIR).parquet(
                self._fs.spark_path(commit_dir)
            )
        else:
            staged.write.mode("overwrite").parquet(
                self._fs.spark_path(commit_dir)
            )
        # partition dirs written by Spark are url-encoded already for the
        # synthetic column; entries are parsed back from the path
        return _scan_commit_dir(commit_dir, self.path, transforms, self._fs)

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        partition_by: Sequence[Transform] = (),
        sequence: int = 0,
    ) -> "IceTable":
        t = cls(spark, path)
        t._fs.ensure_dir(_meta_dir(t.path))
        if current_version(path) >= 0:
            raise FileExistsError(f"icetable already exists at {path}")
        meta0 = {
            "format_version": FORMAT_VERSION,
            "schema": json.loads(df.schema.json()),
            "partition_by": [x.to_json() for x in partition_by],
            "current_snapshot_id": 0,
            "snapshots": [
                {
                    "snapshot_id": 0,
                    "parent_id": None,
                    "sequence": sequence - 1,
                    "operation": "create",
                    "manifests": [],
                    "summary": {"added_files": 0, "added_records": 0},
                }
            ],
        }
        _atomic_create(_version_file(path, 0), meta0)
        t.append(df, sequence=sequence)
        return t

    def append(
        self, df: DataFrame, sequence: int, branch: str | None = None
    ) -> dict:
        base = current_version(self.path)
        entries = self._write_data(df, base + 1)
        return self._commit(
            "append", entries, sequence, df.schema, True,
            base_version=base, branch=branch,
        )

    def overwrite(
        self, df: DataFrame, sequence: int, branch: str | None = None
    ) -> dict:
        base = current_version(self.path)
        entries = self._write_data(df, base + 1)
        return self._commit(
            "overwrite", entries, sequence, df.schema, False,
            base_version=base, branch=branch,
        )

    # -- refs: branches, tags, write-audit-publish -------------------------

    def _commit_refs(self, mutate) -> dict:
        """Metadata-only ref change through the same O_EXCL version-file
        commit as any write — a racing writer conflicts, never a silent
        overwrite of its ref state. ``mutate(refs, meta)`` edits the refs
        dict (and, for publish, meta's snapshots/schema) in place and may
        return a current_snapshot_id override."""
        base = current_version(self.path)
        meta = self.metadata(base)
        refs = dict(meta.get("refs", {}))
        new_current = mutate(refs, meta)
        new_meta = dict(meta, refs=refs)
        if not refs:
            new_meta.pop("refs", None)
        if new_current is not None:
            new_meta["current_snapshot_id"] = new_current
        _atomic_create(_version_file(self.path, base + 1), new_meta)
        return new_meta

    def create_branch(
        self, name: str, from_snapshot_id: int | None = None
    ) -> dict:
        """Named branch ref (Iceberg branches): commits with
        ``branch=name`` advance it while main stays untouched — the
        staging half of write-audit-publish."""

        def mutate(refs, meta):
            if name in refs:
                raise ValueError(f"ref already exists: {name!r}")
            sid = (
                meta["current_snapshot_id"]
                if from_snapshot_id is None
                else from_snapshot_id
            )
            self._resolve_snapshot(meta, sid, None)  # must exist
            refs[name] = {"snapshot_id": sid, "type": "branch"}
            return None

        return self._commit_refs(mutate)

    def tag(self, name: str, snapshot_id: int | None = None) -> dict:
        """Named immutable tag (e.g. ``crawl-2024-02``): keeps its
        snapshot expirable-proof and readable by name forever."""

        def mutate(refs, meta):
            if name in refs:
                raise ValueError(f"ref already exists: {name!r}")
            sid = (
                meta["current_snapshot_id"]
                if snapshot_id is None
                else snapshot_id
            )
            self._resolve_snapshot(meta, sid, None)
            refs[name] = {"snapshot_id": sid, "type": "tag"}
            return None

        return self._commit_refs(mutate)

    def drop_ref(self, name: str) -> dict:
        def mutate(refs, meta):
            if name not in refs:
                raise KeyError(f"no ref {name!r}")
            del refs[name]
            return None

        return self._commit_refs(mutate)

    def publish_branch(self, name: str, drop: bool = True) -> dict:
        """Fast-forward main to the branch head — the PUBLISH half of
        write-audit-publish: the audited snapshots become visible to every
        main reader in ONE metadata commit (atomic; zero data IO). Refuses
        a diverged branch (main not an ancestor of the branch head) — that
        needs an explicit rollback or a fresh branch, never a silent
        merge."""

        def mutate(refs, meta):
            if name not in refs or refs[name]["type"] != "branch":
                raise KeyError(f"no branch {name!r}")
            head = refs[name]["snapshot_id"]
            by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
            # walk the branch's own commits back to the fork point; the
            # fast-forward condition is fork == current main head. An
            # EXPIRED fork point reads as diverged (cur falls off the
            # dict) — correct: main moved past it.
            chain: set[int] = set()
            cur: int | None = head
            while (
                cur is not None
                and cur in by_id
                and by_id[cur].get("branch") == name
            ):
                chain.add(cur)
                cur = by_id[cur]["parent_id"]
            if cur != meta["current_snapshot_id"]:
                raise ValueError(
                    f"branch {name!r} diverged from main; cannot fast-forward"
                )
            # the published snapshots become main: as_of reads, incremental
            # walks, and expiry now treat them like any main commit
            for snap in meta["snapshots"]:
                if snap["snapshot_id"] in chain:
                    snap["branch"] = "main"
            if "schema" in refs[name]:
                # fold the branch's private schema evolution into the table
                meta["schema"] = refs[name]["schema"]
            if drop:
                del refs[name]
            return head

        return self._commit_refs(mutate)

    def append_with_retry(
        self, df: DataFrame, sequence: int, max_attempts: int = 5
    ) -> dict:
        """Optimistic-concurrency append loop: on CommitConflict, re-read
        fresh metadata and retry (each attempt writes its data under the
        new target version's dir, so a loser's files are never referenced).
        This is the multi-writer client the commit protocol is designed
        for — e.g. parallel crawl shards appending to one table."""
        last: CommitConflict | None = None
        for _ in range(max_attempts):
            try:
                return self.append(df, sequence)
            except CommitConflict as e:
                last = e
        raise CommitConflict(
            f"append lost {max_attempts} commit races at {self.path}"
        ) from last

    def compact(self, sequence: int, snapshot_id: int | None = None) -> dict:
        """Rewrite-data-files maintenance (Iceberg's ``rewrite_data_files``):
        coalesce each partition's files into one, then commit a ``replace``
        snapshot whose manifests reference only the rewritten files. Rows
        are bit-identical and every EXISTING snapshot keeps referencing the
        old files (time travel intact — old files are reclaimed later by
        ``expire_snapshots``). The streaming ingest path commits one small
        snapshot per micro-batch, so periodic compaction is what keeps the
        file count O(partitions) instead of O(batches) at 10^12 rows."""
        assert self.spark is not None, "compact() needs a SparkSession"
        base = current_version(self.path)
        meta = self.metadata(base)
        snap = self._resolve_snapshot(meta, snapshot_id, None)
        if snap["snapshot_id"] != meta["current_snapshot_id"]:
            # compacting a non-current snapshot would graft its rewritten
            # files onto the current manifest set — duplicated rows; only
            # the table tip is compactable (Iceberg's rewrite_data_files
            # has the same contract)
            raise ValueError("compact() targets the current snapshot only")
        entries, dels = _split_entries(self._manifest_entries(snap))
        by_part: dict[str, list[dict]] = {}
        for e in entries:
            key = json.dumps(e["partition"], sort_keys=True)
            by_part.setdefault(key, []).append(e)
        multi = [g for g in by_part.values() if len(g) > 1]
        if not multi:
            return snap  # nothing to do — already one file per partition
        # ONE Spark job for the whole compaction: only multi-file
        # partitions are read, shuffled once on the partition dir (each
        # partition value lands in one task -> one output file), and
        # single-file partitions carry over by manifest reference alone —
        # a per-partition job loop would serialize O(partitions) jobs on
        # the driver, which at 10^5 partitions IS the bottleneck.
        # Pending equality deletes are APPLIED to the rewritten rows (a raw
        # re-write would resurrect deleted rows: the new files' seq >= the
        # deletes' applies_below, so the deletes no longer scope to them);
        # the delete entries stay in the manifest for the single-file
        # partitions carried by reference — purge_deletes retires them.
        drop_paths = {e["path"] for g in multi for e in g}
        df = self._read_entries([e for g in multi for e in g], dels, None)
        new_entries = self._write_data(df, base + 1)
        out = self._commit(
            "replace", new_entries, sequence, None, True,
            manifest_filter=lambda e: e["path"] not in drop_paths,
            base_version=base,
        )
        out["summary"]["compacted_from_files"] = len(drop_paths)
        return out

    def _zvalue_col(
        self, cols: Sequence[str], entries: list[dict], bits: int
    ) -> F.Column:
        """Z-order key: per column, fixed-point normalize into ``bits``
        bits using GLOBAL bounds read from the MANIFESTS (driver-side,
        zero data IO — the footer stats were captured at commit), then
        interleave the columns' bits. Linear normalization is the
        spec-simple choice (Iceberg's zorder uses byte interleave of type
        encodings); under heavy value skew the low bits carry less
        information but pruning stays correct — bounds-based skipping is
        conservative by construction."""
        schema = self.schema()
        dtypes = {f.name: f.dataType for f in schema.fields}
        for c in cols:
            if c not in dtypes:
                raise ValueError(f"cluster column not in schema: {c!r}")

        def _to_raw(v: Any) -> Any:
            # one comparable representation per type: timestamps as the
            # manifests' naive-UTC isoformat (sorts == chronological)
            if isinstance(v, datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(timezone.utc).replace(tzinfo=None)
                return v.isoformat()
            return v

        # global RAW bounds from the manifests (driver-side, free);
        # columns whose stats a writer skipped (e.g. INT96 timestamps from
        # other engines) fall back to ONE min/max aggregate over the
        # candidate files, projecting only those columns
        raw_bounds: dict[str, tuple[Any, Any]] = {}
        missing = [
            c for c in cols if any(c not in e["bounds"] for e in entries)
        ]
        for c in cols:
            if c in missing:
                continue
            raw_bounds[c] = (
                min(e["bounds"][c][0] for e in entries),
                max(e["bounds"][c][1] for e in entries),
            )
        if missing:
            row = (
                self.spark.read.schema(schema)
                .parquet(*[self._dp(e["path"]) for e in entries])
                .agg(
                    *[F.min(c).alias(f"lo_{c}") for c in missing],
                    *[F.max(c).alias(f"hi_{c}") for c in missing],
                )
                .collect()[0]
            )
            for c in missing:
                lo_v, hi_v = row[f"lo_{c}"], row[f"hi_{c}"]
                if lo_v is None or hi_v is None:
                    raise ValueError(f"cluster column is all-null: {c!r}")
                raw_bounds[c] = (_to_raw(lo_v), _to_raw(hi_v))

        # the interleave must fit a signed 64-bit long: JVM shiftleft wraps
        # shift counts mod 64 (position 63 flips the sign), which would
        # silently scramble the sort key — shrink bits to fit instead
        bits = min(bits, 63 // len(cols))
        if bits < 1:
            raise ValueError(
                f"too many cluster columns for a 63-bit key: {list(cols)}"
            )
        exprs: list[F.Column] = []
        for c in cols:
            lo_raw, hi_raw = raw_bounds[c]
            dt = dtypes[c]
            if isinstance(dt, T.TimestampType):
                lo_n = (
                    datetime.fromisoformat(lo_raw)
                    .replace(tzinfo=timezone.utc)
                    .timestamp()
                )
                hi_n = (
                    datetime.fromisoformat(hi_raw)
                    .replace(tzinfo=timezone.utc)
                    .timestamp()
                )
                val = F.unix_timestamp(F.col(c)).cast("double")
            elif isinstance(dt, T.StringType):
                # 4 utf-8 bytes AFTER the global common prefix, as a
                # big-endian int — locality-preserving for lexicographic
                # order. Stripping the common prefix matters: crawl urls
                # all start "https://", so the raw first 4 bytes carry
                # ZERO discrimination and the column's z-bits would be
                # constant (measured: url-point skipping barely moved)
                lo_b = str(lo_raw).encode("utf-8")
                hi_b = str(hi_raw).encode("utf-8")
                lcp = 0
                while (
                    lcp < min(len(lo_b), len(hi_b))
                    and lo_b[lcp] == hi_b[lcp]
                ):
                    lcp += 1

                def _p4(b: bytes, _lcp: int = lcp) -> float:
                    return float(
                        int.from_bytes(
                            b[_lcp:_lcp + 4].ljust(4, b"\0"), "big"
                        )
                    )

                lo_n, hi_n = _p4(lo_b), _p4(hi_b)
                byte_len = F.length(F.encode(F.col(c), "utf-8"))
                val = F.coalesce(
                    F.conv(
                        F.substring(
                            F.hex(F.encode(F.col(c), "utf-8")),
                            2 * lcp + 1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("double"),
                    F.lit(0.0),
                )
                # hex of fewer than lcp+4 bytes yields fewer than 8
                # digits, and conv reads them as the LOW bytes —
                # left-shift to big-endian alignment
                val = val * F.pow(
                    F.lit(256.0),
                    F.greatest(
                        F.lit(0),
                        F.lit(4) - (byte_len - F.lit(lcp)),
                    ).cast("double"),
                )
            else:
                lo_n, hi_n = float(lo_raw), float(hi_raw)
                val = F.col(c).cast("double")
            span = max(hi_n - lo_n, 1e-12)
            top = (1 << bits) - 1
            norm = F.least(
                F.lit(top),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.coalesce(val, F.lit(lo_n)) - F.lit(lo_n))
                        / F.lit(span)
                        * F.lit(float(top))
                    ),
                ),
            ).cast("long")
            exprs.append(norm)
        n = len(cols)
        z = F.lit(0).cast("long")
        for i, norm in enumerate(exprs):
            for b in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(norm, b).bitwiseAND(F.lit(1)), b * n + i
                )
        return z

    def cluster_files(
        self,
        cols: Sequence[str],
        sequence: int,
        filters: Sequence[tuple] | None = None,
        bits: int = 10,
        target_files: int | None = None,
    ) -> dict:
        """Z-order clustering rewrite (Iceberg's ``rewrite_data_files``
        with the zorder sort strategy): rewrite the matching data files
        sorted by an interleaved-bit key over ``cols``, so each output
        file covers a narrow range of EVERY cluster column and the
        manifest min/max bounds prune multi-dimensionally.  A time-ordered
        crawl table answers ``url = ?`` by reading every file; after
        clustering on (warc_ts, url), both a time slice AND a url point
        probe skip most files — data skipping without an index.

        ``filters`` scopes the rewrite (e.g. one partition day) so the
        maintenance job can cluster incrementally instead of rewriting
        10^12 rows in one commit; file count is preserved by default
        (``target_files``) and each output file stays partition-pure (the
        range partitioner keys on the partition dir first).  Pending
        equality deletes are applied during the rewrite, like compact."""
        assert self.spark is not None, "cluster_files() needs a SparkSession"
        cols = list(cols)
        if len(cols) < 1:
            raise ValueError("cluster_files() needs at least one column")
        base = current_version(self.path)
        kept, dels, _report = self._plan_entries(filters, None, None)
        if not kept:
            return {"operation": "noop", "files_rewritten": 0}
        drop_paths = {e["path"] for e in kept}
        df = self._read_entries(kept, dels, None)
        z = self._zvalue_col(cols, kept, bits).alias("_ice_z")
        n_out = target_files if target_files is not None else len(kept)
        transforms = self.transforms()
        commit_dir = self._attempt_dir(base + 1)
        staged = df.withColumn("_ice_z", z)
        if transforms:
            parts = [
                F.concat(F.lit(f"{t.name}="), _transform_col(t))
                for t in transforms
            ]
            staged = (
                staged.withColumn(_PART_DIR, F.concat_ws("|", *parts))
                .repartitionByRange(
                    max(n_out, 1), F.col(_PART_DIR), F.col("_ice_z")
                )
                .sortWithinPartitions(_PART_DIR, "_ice_z")
                .drop("_ice_z")
            )
            staged.write.mode("overwrite").partitionBy(_PART_DIR).parquet(
                self._fs.spark_path(commit_dir)
            )
        else:
            staged = (
                staged.repartitionByRange(max(n_out, 1), F.col("_ice_z"))
                .sortWithinPartitions("_ice_z")
                .drop("_ice_z")
            )
            staged.write.mode("overwrite").parquet(
                self._fs.spark_path(commit_dir)
            )
        new_entries = _scan_commit_dir(
            commit_dir, self.path, transforms, self._fs
        )
        out = self._commit(
            "replace", new_entries, sequence, None, True,
            manifest_filter=lambda e: e["path"] not in drop_paths,
            base_version=base,
        )
        out["summary"].update(
            {
                "files_rewritten": len(drop_paths),
                "cluster_cols": cols,
            }
        )
        return out

    def expire_snapshots(self, keep_sequences_from: int) -> dict:
        """Snapshot GC (Iceberg's ``expire_snapshots``): drop every snapshot
        with ``sequence < keep_sequences_from`` (except the current one)
        from table metadata, then delete data files referenced ONLY by the
        dropped snapshots. Time travel to expired snapshots stops working —
        by design; that is what bounds metadata and storage on a table that
        commits every micro-batch. The new metadata is committed through
        the same O_EXCL version file as any write (concurrency-safe); file
        deletion happens after the commit point, so a crash mid-delete
        leaves only unreferenced orphans (harmless, re-deleted next time)."""
        base = current_version(self.path)
        meta = self.metadata(base)
        current_id = meta["current_snapshot_id"]
        refs = meta.get("refs", {})
        ref_targets = {r["snapshot_id"] for r in refs.values()}
        # every snapshot of a LIVE branch is protected, not just the head:
        # publish needs the parent chain back to the fork point, and
        # expiring it would strand the staged work as "diverged" forever.
        # Dropping the ref releases them to normal expiry.
        live_branches = {
            n for n, r in refs.items() if r["type"] == "branch"
        }
        keep = [
            s
            for s in meta["snapshots"]
            if s["sequence"] >= keep_sequences_from
            or s["snapshot_id"] == current_id
            or s["snapshot_id"] in ref_targets
            or s.get("branch") in live_branches
        ]
        dropped = [s for s in meta["snapshots"] if s not in keep]
        if not dropped:
            return {"expired_snapshots": 0, "deleted_files": 0}
        live_paths = {
            e["path"] for s in keep for e in self._manifest_entries(s)
        }
        dead_paths = {
            e["path"] for s in dropped for e in self._manifest_entries(s)
        } - live_paths
        live_manifests = {m for s in keep for m in s["manifests"]}
        dead_manifests = {
            m for s in dropped for m in s["manifests"]
        } - live_manifests
        new_meta = dict(meta, snapshots=keep)
        _atomic_create(_version_file(self.path, base + 1), new_meta)
        # past the commit point: physical deletes (a crash here leaves only
        # unreferenced orphans — harmless, re-deleted by the next expire)
        for rel in sorted(dead_paths | dead_manifests):
            self._fs.delete_file(f"{self.path}/{rel}")
        return {
            "expired_snapshots": len(dropped),
            "deleted_files": len(dead_paths),
            "deleted_manifests": len(dead_manifests),
        }

    def delete_partitions(self, filters: Sequence[tuple], sequence: int) -> dict:
        """Metadata-only delete: drop every file whose partition tuple
        matches the conjunction of ``filters``, each ``(partition_name, op,
        value)`` with op in =, <, <=, >, >=, in, compared against the
        partition VALUE (numeric when both sides coerce, else string).

        Predicates are on partition *names* (e.g. ``("p_day", "<", 19700)``
        to expire crawls older than a day number), so a match always covers
        every row of the file — this is Iceberg's partition-aligned DELETE:
        at 10^12 rows, expiring an old crawl is a manifest rewrite, zero
        data IO.  Row-level deletes go through ``delete_rows`` (merge-on-
        read equality-delete files) + ``purge_deletes``."""
        filters = list(filters)
        pnames = {t.name for t in self.transforms()}
        for name, op, _ in filters:
            if name not in pnames:
                raise ValueError(f"{name!r} is not a partition field")
            if op not in _OPS:
                raise ValueError(f"unsupported filter op: {op!r}")

        def matches(e: dict) -> bool:
            for name, op, lit in filters:
                pv = e["partition"].get(name)
                if pv is None:
                    return False
                if op == "in":
                    if all(
                        _coerce_pair(pv, x) is None
                        or _coerce_pair(pv, x)[0] != _coerce_pair(pv, x)[1]
                        for x in lit
                    ):
                        return False
                    continue
                pair = _coerce_pair(pv, lit)
                if pair is None:
                    return False
                a, b = pair
                ok = {
                    "=": a == b,
                    "<": a < b,
                    "<=": a <= b,
                    ">": a > b,
                    ">=": a >= b,
                }[op]
                if not ok:
                    return False
            return True

        base = current_version(self.path)
        meta = self.metadata(base)
        snap = self._resolve_snapshot(meta, None, None)
        dropped = sum(1 for e in self._manifest_entries(snap) if matches(e))
        out = self._commit(
            "delete", [], sequence, None, True,
            manifest_filter=lambda e: not matches(e),
            base_version=base,
        )
        out["summary"]["deleted_files"] = dropped
        return out

    def rollback(self, snapshot_id: int, sequence: int) -> dict:
        """Metadata-only revert (Iceberg's ``rollback_to_snapshot``): commit
        a NEW snapshot that re-references an earlier snapshot's manifests
        verbatim — zero data IO, history preserved (the bad snapshots stay
        time-travelable until ``expire_snapshots``), and the same O_EXCL
        version-file commit as any write, so a racing writer conflicts
        rather than silently losing the revert."""
        base = current_version(self.path)
        meta = self.metadata(base)
        target = next(
            (s for s in meta["snapshots"] if s["snapshot_id"] == snapshot_id),
            None,
        )
        if target is None:
            raise ValueError(f"no snapshot {snapshot_id} to roll back to")
        snap = {
            # max over ALL snapshots: branch commits allocate from the same
            # id space, and a collision would corrupt ref resolution
            "snapshot_id": max(x["snapshot_id"] for x in meta["snapshots"]) + 1,
            "parent_id": meta["current_snapshot_id"],
            "sequence": sequence,
            "branch": "main",
            "operation": "rollback",
            "manifests": list(target["manifests"]),
            "summary": {
                "added_files": 0,
                "added_records": 0,
                "rolled_back_to": snapshot_id,
            },
        }
        new_meta = dict(
            meta,
            current_snapshot_id=snap["snapshot_id"],
            snapshots=meta["snapshots"] + [snap],
        )
        _atomic_create(_version_file(self.path, base + 1), new_meta)
        return snap

    def remove_orphan_files(self, older_than_s: float = 3 * 86400.0) -> dict:
        """Data-prefix GC (Iceberg's ``remove_orphan_files``): delete every
        ``data/`` file referenced by NO snapshot — the crash leftovers of
        losing commit attempts (each attempt writes into a private dir, so
        a loser's files are orphans by construction). Distinct from
        ``expire_snapshots``, which deletes files referenced only by
        DROPPED snapshots. Pure driver-side metadata diff + unlink; never
        touches a referenced file. ``older_than_s`` is the in-flight-
        attempt guard (Iceberg defaults to 3 days): a writer mid-attempt
        has unreferenced files on disk that will become referenced when it
        commits — only files older than the threshold are eligible, so run
        GC with a threshold comfortably above the longest write attempt.
        Deleting a racing attempt's pre-commit files would NOT conflict:
        its O_EXCL commit still succeeds and then references deleted files
        — which is exactly why the default is 3 days, not 0."""
        import time as _time

        cutoff = _time.time() - older_than_s
        data_root = f"{self.path}/data"
        on_disk: set[str] = set()
        for rel in self._fs.list_files(data_root):
            if not rel.endswith(".parquet"):
                continue
            full = f"{data_root}/{rel}"
            try:
                if self._fs.mtime(full) > cutoff:
                    continue  # too young: possibly an in-flight attempt
            except FileNotFoundError:
                continue
            on_disk.add(f"data/{rel}")
        meta = self.metadata()
        referenced = {
            e["path"]
            for s in meta["snapshots"]
            for e in self._manifest_entries(s)
        }
        orphans = on_disk - referenced
        for rel in sorted(orphans):
            self._fs.delete_file(f"{self.path}/{rel}")
        return {"deleted_orphans": len(orphans), "live_files": len(referenced)}

    def merge(
        self, source: DataFrame, key_cols: Sequence[str], sequence: int
    ) -> dict:
        """Row-level MERGE (upsert) as copy-on-write — Iceberg's
        ``MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE *
        WHEN NOT MATCHED THEN INSERT *``: every target row whose key
        appears in ``source`` is replaced by the source row; source rows
        with unseen keys are inserted; everything else is untouched —
        physically untouched: files with no matching key carry over into
        the new snapshot by manifest reference alone (zero data IO).

        Plan (the 10^12-row story):
          1. partition pruning — for each partition transform whose source
             column exists in ``source``, the file set narrows to the
             partitions the source actually lands in (driver-side manifest
             filter over O(distinct partitions) collected values);
          2. touched-file scan — candidates are read projecting ONLY the
             key columns (parquet column pruning: at web scale that is the
             url column, not the html payload) and left-semi joined against
             the distinct source keys; the distinct matched file list comes
             back to the driver (O(files), tiny);
          3. rewrite — touched files' survivors (anti-join on key) union
             the full source are written as new files through the normal
             partitioned write; the commit drops exactly the touched file
             entries and keeps every other parent entry.

        The join in (2)/(3) shuffles on the key; AQE broadcasts the source
        side when it is small (the common re-crawl fix-up). Base version is
        pinned at operation start, so a racing writer yields
        ``CommitConflict``, never a silent rebase. NULL keys in ``source``
        never match (SQL join semantics) and are inserted as-is. If the
        target holds several rows for one key (multi-version crawl
        appends), ALL of them are replaced by the single source row — the
        upsert canonicalizes the key. Time travel to pre-merge snapshots
        still sees the old rows (rewritten files are reclaimed by
        ``expire_snapshots``, like any replaced file). A ``source``
        carrying several rows for one key inserts them ALL (this shim does
        not enforce Iceberg's one-match-per-target-row rule); pre-reduce
        the source (e.g. latest-fetch-per-url) when upserting a crawl."""
        assert self.spark is not None, "merge() needs a SparkSession"
        key_cols = list(key_cols)
        missing = [k for k in key_cols if k not in source.columns]
        if missing:
            raise ValueError(f"key columns absent from source: {missing}")
        base = current_version(self.path)
        meta = self.metadata(base)
        snap = self._resolve_snapshot(meta, None, None)
        entries, dels = _split_entries(self._manifest_entries(snap))
        schema = T.StructType.fromJson(meta["schema"])
        for k in key_cols:
            if k not in schema.fieldNames():
                raise ValueError(f"key column not in table schema: {k!r}")

        # 1. partition pruning against the source's own partition values —
        # all transforms in ONE aggregate job (a per-transform distinct
        # would scan the source once per transform). ONLY transforms of a
        # KEY column are sound to prune on: a matched target row shares the
        # source row's key (hence its key-derived partitions), but any
        # non-key column (e.g. days(warc_ts) on a re-fetch 45 days later)
        # may differ between the old row and its replacement — pruning on
        # it would hide the old row from the rewrite and leave a duplicate
        # key behind.
        candidates = entries
        prunable = [t for t in self.transforms() if t.source in key_cols]
        if prunable:
            row = source.agg(
                *[
                    F.collect_set(_transform_col(t)).alias(t.name)
                    for t in prunable
                ]
            ).collect()[0]
            for t in prunable:
                vals = set(row[t.name])
                candidates = [
                    e for e in candidates if e["partition"].get(t.name) in vals
                ]

        # distinct source keys feed BOTH the touched-file plan and the
        # survivor anti-join — persist so the source is keyed once
        src_keys = source.select(*key_cols).dropDuplicates().persist()
        try:
            # 2. key-column-only scan of the candidates -> touched file list
            touched_rel: set[str] = set()
            if candidates:
                cand_paths = [self._dp(e["path"]) for e in candidates]
                keyed = (
                    self.spark.read.schema(schema)
                    .parquet(*cand_paths)
                    .select(*key_cols)
                    .withColumn("_ice_file", F.input_file_name())
                )
                uris = (
                    keyed.join(src_keys, on=key_cols, how="leftsemi")
                    .select("_ice_file")
                    .distinct()
                    .collect()
                )
                for (uri,) in uris:
                    touched_rel.add(self._rel_of_uri(uri))

            # 3. rewrite touched survivors + source into new files.
            # Survivors are read DELETE-AWARE: a raw file read would
            # resurrect rows an equality delete had removed (the rewrite
            # escapes the delete's sequence scope); untouched files keep
            # the delete entries applying via the carried manifests.
            if touched_rel:
                survivors = self._read_entries(
                    [e for e in entries if e["path"] in touched_rel],
                    dels,
                    None,
                ).join(src_keys, on=key_cols, how="left_anti")
                new_df = survivors.unionByName(source, allowMissingColumns=True)
            else:
                new_df = source
            new_entries = self._write_data(new_df, base + 1)
        finally:
            src_keys.unpersist()
        out = self._commit(
            "merge", new_entries, sequence, source.schema, True,
            manifest_filter=lambda e: e["path"] not in touched_rel,
            base_version=base,
        )
        out["summary"].update(
            {
                "files_candidates": len(candidates),
                "files_rewritten": len(touched_rel),
                "files_kept": len(entries) - len(touched_rel),
            }
        )
        return out

    def delete_rows(self, keys: DataFrame, sequence: int) -> dict:
        """Merge-on-read row delete (Iceberg v2 equality-delete files):
        commit a tiny key-list parquet instead of rewriting data files —
        the takedown/opt-out operation at 10^12 rows, where removing 10k
        urls must not rewrite 100 TB. Every column of ``keys`` is a delete
        key (rows matching ALL of them are deleted); readers anti-join the
        committed key list at scan time, and ``purge_deletes`` materializes
        it later in one maintenance rewrite.

        Sequence scoping (the spec's rule): the delete applies only to data
        files committed STRICTLY before ``sequence`` — a page re-appended
        by a later crawl is a new document and survives an old takedown.
        Note what this deliberately is NOT: extraction side outputs already
        derived from a deleted page are downstream tables with their own
        lineage; re-serve from `current_main_content` after re-extraction,
        or purge + re-run, to propagate a takedown end-to-end."""
        assert self.spark is not None, "delete_rows() needs a SparkSession"
        key_cols = list(keys.columns)
        if not key_cols:
            raise ValueError("delete_rows() needs at least one key column")
        base = current_version(self.path)
        schema = self.schema()
        for k in key_cols:
            if k not in schema.fieldNames():
                raise ValueError(f"delete key column not in schema: {k!r}")
        commit_dir = self._attempt_dir(base + 1)
        # one file: delete key lists are small by contract (a big delete
        # wants overwrite/merge); coalesce keeps the manifest one entry
        keys.dropDuplicates().coalesce(1).write.mode("overwrite").parquet(
            self._fs.spark_path(commit_dir)
        )
        entries = _scan_commit_dir(commit_dir, self.path, [], self._fs)
        n_keys = sum(e["records"] for e in entries)
        if n_keys == 0:
            self._fs.delete_prefix(commit_dir)
            return {"operation": "noop", "deleted_keys": 0}
        for e in entries:
            e["content"] = _EQ_DELETES
            e["delete_cols"] = key_cols
            e["applies_below"] = sequence
        out = self._commit(
            "rowdelete", entries, sequence, None, True, base_version=base
        )
        out["summary"].update(
            {"delete_files": len(entries), "deleted_keys": n_keys}
        )
        return out

    def purge_deletes(self, sequence: int) -> dict:
        """Materialize every pending equality delete (Iceberg's
        ``rewrite_position_delete_files`` + data rewrite rolled into one):
        rewrite ONLY the data files that actually contain deleted keys —
        planned by a key-column-only scan (parquet column pruning: url
        bytes, not html payload) semi-joined against the broadcast key
        lists — then commit a ``replace`` snapshot that drops the delete
        entries. Rows are bit-identical to the MOR read before the purge;
        untouched files carry over by manifest reference (zero data IO).
        Read latency then stops paying the per-scan anti-join, which is
        the point of running this in maintenance windows."""
        assert self.spark is not None, "purge_deletes() needs a SparkSession"
        base = current_version(self.path)
        meta = self.metadata(base)
        snap = self._resolve_snapshot(meta, None, None)
        data, dels = _split_entries(self._manifest_entries(snap))
        if not dels:
            return {
                "operation": "noop",
                "files_rewritten": 0,
                "delete_files_removed": 0,
            }
        schema = T.StructType.fromJson(meta["schema"])
        # group delete files by (key columns, scope) -> one planning job per
        # group over exactly the data files that delete group applies to
        by_group: dict[tuple, list[dict]] = {}
        for d in dels:
            by_group.setdefault(
                (tuple(d["delete_cols"]), d["applies_below"]), []
            ).append(d)
        touched_rel: set[str] = set()
        for (cols, _below), group in sorted(by_group.items()):
            applicable = [
                e for e in data if _delete_applies(e, group[0])
            ]
            if not applicable:
                continue
            keys = (
                self.spark.read.parquet(
                    *[self._dp(d["path"]) for d in group]
                )
                .select(*cols)
                .dropDuplicates()
            )
            keyed = (
                self.spark.read.schema(schema)
                .parquet(*[self._dp(e["path"]) for e in applicable])
                .select(*cols)
                .withColumn("_ice_file", F.input_file_name())
            )
            cond = None
            for c in cols:
                term = keyed[c].eqNullSafe(keys[c])
                cond = term if cond is None else cond & term
            uris = (
                # null-safe like _without_delete_keys: a NULL key must
                # plan the files holding NULL rows or the purge would
                # drop the delete entry without materializing it
                keyed.join(F.broadcast(keys), cond, "leftsemi")
                .select("_ice_file")
                .distinct()
                .collect()
            )
            for (uri,) in uris:
                touched_rel.add(self._rel_of_uri(uri))
        touched_entries = [e for e in data if e["path"] in touched_rel]
        drop = touched_rel | {d["path"] for d in dels}
        new_entries = (
            self._write_data(
                self._read_entries(touched_entries, dels, None), base + 1
            )
            if touched_entries
            else []
        )
        out = self._commit(
            "replace", new_entries, sequence, None, True,
            manifest_filter=lambda e: e["path"] not in drop,
            base_version=base,
        )
        out["summary"].update(
            {
                "files_rewritten": len(touched_rel),
                "delete_files_removed": len(dels),
            }
        )
        return out


# ---------------------------------------------------------------------------
# Pure-Python write path (no SparkSession — usable from oracle_sql staging)
# ---------------------------------------------------------------------------


def _arrow_type(dt: T.DataType):
    import pyarrow as pa

    mapping = {
        T.StringType(): pa.string(),
        T.LongType(): pa.int64(),
        T.IntegerType(): pa.int32(),
        T.DoubleType(): pa.float64(),
        T.FloatType(): pa.float32(),
        T.BinaryType(): pa.binary(),
        T.BooleanType(): pa.bool_(),
        T.TimestampType(): pa.timestamp("us"),
    }
    try:
        return mapping[dt]
    except KeyError:
        raise ValueError(f"no arrow mapping for {dt}") from None


def _write_data_pandas(
    table_path: str,
    pdf,
    schema: T.StructType,
    transforms: Sequence[Transform],
    snap_hint: int,
) -> list[dict]:
    """Write a pandas frame as one parquet file per partition tuple with
    deterministic names — the Spark-free twin of ``IceTable._write_data``.
    Deterministic content + CONTENT-ADDRESSED naming keeps re-staging
    idempotent (a second stage of the same frames rewrites byte-identical
    files under the same names) while keeping racing writers safe: two
    attempts for the same target version with DIFFERENT rows write
    different part names, so the version-race loser's bytes can never
    clobber a path the winner's committed manifest references (the Spark
    path gets the same property from _attempt_dir's uuid — here a random
    name would break the byte-identical re-staging the sf staging relies
    on).  Unlike the Spark path there is no dir glob: the manifest lists
    EXACTLY the files this call wrote, so a concurrent writer attempt
    sharing the target version can never leak extra files into this
    commit's manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_schema = pa.schema(
        [(f.name, _arrow_type(f.dataType)) for f in schema.fields]
    )
    commit_dir = f"{table_path.rstrip('/')}/data/c{snap_hint:05d}"
    cols = [f.name for f in schema.fields]
    if transforms:
        keys = pdf.apply(
            lambda row: partition_dir(
                transforms, {t.name: transform_value(t, row[t.source]) for t in transforms}
            ),
            axis=1,
        )
        groups = pdf.groupby(keys, sort=True)
    else:
        groups = [("", pdf)]
    fs = runfs.fs_for(table_path)
    root = table_path.rstrip("/")
    commit_rel = commit_dir[len(root) + 1 :]
    written: list[str] = []
    for dirname, group in groups:
        rel_dir = f"{commit_rel}/{dirname}" if dirname else commit_rel
        tbl = pa.Table.from_pandas(
            group[cols].reset_index(drop=True), schema=arrow_schema, preserve_index=False
        )
        import io

        buf = io.BytesIO()
        pq.write_table(tbl, buf)
        blob = buf.getvalue()
        digest = hashlib.md5(blob).hexdigest()[:12]
        rel = f"{rel_dir}/part-{digest}.parquet"
        fs.write_bytes(f"{root}/{rel}", blob)
        written.append(rel)
    entries = [_file_entry(root, rel, transforms, fs) for rel in written]
    entries.sort(key=lambda e: e["path"])
    return entries


def create_pandas(
    path: str,
    pdf,
    schema: T.StructType,
    partition_by: Sequence[Transform] = (),
    sequence: int = 0,
) -> IceTable:
    """Spark-free ``IceTable.create`` for deterministic staging."""
    runfs.fs_for(path).ensure_dir(_meta_dir(path))
    if current_version(path) >= 0:
        raise FileExistsError(f"icetable already exists at {path}")
    meta0 = {
        "format_version": FORMAT_VERSION,
        "schema": json.loads(schema.json()),
        "partition_by": [x.to_json() for x in partition_by],
        "current_snapshot_id": 0,
        "snapshots": [
            {
                "snapshot_id": 0,
                "parent_id": None,
                "sequence": sequence - 1,
                "operation": "create",
                "manifests": [],
                "summary": {"added_files": 0, "added_records": 0},
            }
        ],
    }
    _atomic_create(_version_file(path, 0), meta0)
    t = IceTable(None, path)
    commit_pandas(t, pdf, schema, "append", sequence)
    return t


def commit_pandas(
    table: IceTable,
    pdf,
    schema: T.StructType,
    operation: str,
    sequence: int,
) -> dict:
    """Spark-free append/overwrite."""
    base = current_version(table.path)
    entries = _write_data_pandas(
        table.path, pdf, schema, table.transforms(), base + 1
    )
    return table._commit(
        operation,
        entries,
        sequence,
        schema,
        keep_parent_manifests=(operation == "append"),
        base_version=base,
    )


# ---------------------------------------------------------------------------
# Snapshot delta (incremental-crawl CDC)
# ---------------------------------------------------------------------------


def _digest_col(key_cols: Iterable[str]):
    """md5 over content columns — IDENTICAL expression shape on both
    engines (DuckDB twin: md5(concat_ws(chr(31), coalesce(c, chr(0)))))."""
    return F.md5(
        F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key_cols],
        )
    )


def snapshot_delta(
    table: IceTable,
    old: int,
    new: int,
    key: str = "url",
    content_cols: Iterable[str] = ("text",),
) -> DataFrame:
    """Classify every key as added / removed / changed / unchanged between
    two snapshots.  One shuffle per side on ``key`` for the full outer
    join; content comparison is an md5 over the named columns so wide rows
    never travel past the project.  At 10^12 rows this is the incremental
    re-crawl diff: both sides hash-partition on url, AQE handles skew, and
    nothing is collected driver-side.

    Assumes one row per key per snapshot (true of crawl snapshots, where a
    snapshot is one fetch of the frontier). For multi-fetch snapshots,
    reduce to latest-per-key first (icerun._latest_per_url) or the outer
    join fans out."""
    cols = list(content_cols)

    def digest(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(key).alias(key), _digest_col(cols).alias(f"h_{tag}")
        )

    a = digest(table.read(snapshot_id=old), "old")
    b = digest(table.read(snapshot_id=new), "new")
    joined = a.join(b, on=key, how="full_outer")
    return joined.select(
        key,
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# Deterministic staging for the driver's DuckDB twins
# ---------------------------------------------------------------------------

EPOCH_S = 1704067200  # 2024-01-01 UTC (same epoch as the other sources)
FETCH_SPACING_S = 900  # 15 min between fetches: sf0.01 spans ~5 partition days
SEQ_OLD = 100  # logical sequence of the first crawl snapshot
SEQ_NEW = 200  # logical sequence of the re-crawl snapshot
SEQ_DELTA = 300  # logical sequence of the appended delta crawl
SEQ_ROWDEL = 200  # pages_rowdel table: the url-takedown rowdelete commit
SEQ_PURGE = 300  # pages_rowdel table: the delete-materializing purge
SEQ_CLUSTER = 400  # pages_rowdel table: the (warc_ts, url) z-order rewrite
SEQ_WAP = 200  # pages_wap table: the audited-branch delta, post-publish
SEQ_MERGE = 400  # logical sequence of the fix-up-crawl MERGE (upsert)
SEQ_COMPACT = 500  # logical sequence of the post-merge compaction (replace)
SEQ_ROLLBACK = 600  # logical sequence of the revert-to-first-crawl rollback

PAGES_ICE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

ICE_TRANSFORMS = (
    Transform("p_day", "days", "warc_ts"),
    Transform("b_url", "bucket", "url", 4),
)


def ice_url(doc_id: int, source: str) -> str:
    return f"https://{source}.example.org/doc/{doc_id}"


def _ice_html(doc_id: int, text: str) -> bytes:
    return (
        f"<html><head><title>doc {doc_id}</title></head>"
        f"<body><p>{text}</p></body></html>"
    ).encode("utf-8")


def _ice_row(doc_id: int, text: str, lang: str, source: str, ts_s: int) -> dict:
    import pandas as pd

    return {
        "url": ice_url(doc_id, source),
        "warc_ts": pd.Timestamp(ts_s, unit="s"),
        "html": _ice_html(doc_id, text),
        "text": text,
        "lang": lang,
    }


def crawl_frames(sf_dir: str):
    """(old_crawl, new_crawl) pandas frames — the deterministic two-snapshot
    story over ``sf_dir``'s documents table:

      old  = one page per document, fetched EPOCH + 900*doc_id
      new  = the re-crawl: doc_id%5==4 gone, doc_id%3==0 re-fetched 30 days
             later with ``text || ' v2'``, doc_id%7==0 grew a ``?page=2``
             companion page; everything else byte-identical.

    Pure Python — callable from oracle_sql() (no SparkSession)."""
    import pandas as pd

    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "text", "lang", "source"],
    ).sort_values("doc_id")
    old_rows, new_rows = [], []
    for doc_id, text, lang, source in zip(
        docs["doc_id"], docs["text"], docs["lang"], docs["source"]
    ):
        doc_id, text = int(doc_id), str(text)
        ts = EPOCH_S + FETCH_SPACING_S * doc_id
        old_rows.append(_ice_row(doc_id, text, lang, source, ts))
        if doc_id % 5 == 4:
            pass  # dropped from the re-crawl
        elif doc_id % 3 == 0:
            new_rows.append(
                _ice_row(doc_id, text + " v2", lang, source, ts + 30 * 86400)
            )
        else:
            new_rows.append(_ice_row(doc_id, text, lang, source, ts))
        if doc_id % 7 == 0:
            row = _ice_row(doc_id, "p2 " + text, lang, source, ts)
            row["url"] = ice_url(doc_id, source) + "?page=2"
            new_rows.append(row)
    cols = [f.name for f in PAGES_ICE_SCHEMA.fields]
    return (
        pd.DataFrame(old_rows, columns=cols),
        pd.DataFrame(new_rows, columns=cols),
    )


def delta_frame(sf_dir: str):
    """The third crawl, APPENDED after the re-crawl overwrite: doc_id%9==2
    pages re-fetched 60 days after their original timestamp with
    ``text || ' v3'``.  Appends (unlike the overwrite above) add only new
    data files, so an incremental scan from SEQ_NEW reads exactly these
    rows — the metadata-only delta the 10^12-scale re-crawl story needs.
    Pure Python, callable from oracle_sql()."""
    import pandas as pd

    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "text", "lang", "source"],
    ).sort_values("doc_id")
    rows = []
    for doc_id, text, lang, source in zip(
        docs["doc_id"], docs["text"], docs["lang"], docs["source"]
    ):
        doc_id, text = int(doc_id), str(text)
        if doc_id % 9 != 2:
            continue
        ts = EPOCH_S + FETCH_SPACING_S * doc_id + 60 * 86400
        rows.append(_ice_row(doc_id, text + " v3", lang, source, ts))
    cols = [f.name for f in PAGES_ICE_SCHEMA.fields]
    return pd.DataFrame(rows, columns=cols)


def merge_frame(sf_dir: str):
    """The fix-up crawl, MERGEd (upsert on url) into the first crawl:
    doc_id%3==1 pages re-fetched 45 days later with ``text || ' m2'``
    (updates — note the 45-day shift moves them to a DIFFERENT p_day
    partition, so the merge exercises cross-partition upsert), and
    doc_id%11==5 grew a ``?page=9`` companion page (inserts under a new
    url).  Pure Python — callable from oracle_sql() staging."""
    import pandas as pd

    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "text", "lang", "source"],
    ).sort_values("doc_id")
    rows = []
    for doc_id, text, lang, source in zip(
        docs["doc_id"], docs["text"], docs["lang"], docs["source"]
    ):
        doc_id, text = int(doc_id), str(text)
        ts = EPOCH_S + FETCH_SPACING_S * doc_id
        if doc_id % 3 == 1:
            rows.append(
                _ice_row(doc_id, text + " m2", lang, source, ts + 45 * 86400)
            )
        if doc_id % 11 == 5:
            row = _ice_row(doc_id, "p9 " + text, lang, source, ts)
            row["url"] = ice_url(doc_id, source) + "?page=9"
            rows.append(row)
    cols = [f.name for f in PAGES_ICE_SCHEMA.fields]
    return pd.DataFrame(rows, columns=cols)


def _html_twin(pdf):
    """An ice pages frame as its expected twin: ``html`` replaced by its
    md5 and byte length."""
    return pdf.drop(columns=["html"]).assign(
        html_md5=[hashlib.md5(h).hexdigest() for h in pdf["html"]],
        html_len=[len(h) for h in pdf["html"]],
    )


def _create_first_crawl(path: str, old_pdf) -> IceTable:
    return create_pandas(
        path,
        old_pdf,
        PAGES_ICE_SCHEMA,
        partition_by=ICE_TRANSFORMS,
        sequence=SEQ_OLD,
    )


def stage_ice_merge_base(sf_dir: str) -> dict[str, Any]:
    """Stage (memoized per process) the MERGE story's base table — the
    first crawl alone, under its own path so the shared three-snapshot
    table's pinned snapshots stay untouched — plus the EXPECTED post-merge
    parquet twin, computed purely in pandas from the same source frames
    the Spark merge consumes (old rows whose url survives + every fix-up
    row).  The Spark-side ``IceTable.merge`` itself runs in the driver
    query; a hash match against the twin therefore certifies the whole
    plan-prune-rewrite-commit-read round trip of the merge."""

    def build(tmp: str) -> None:
        import pandas as pd

        old_pdf, _ = crawl_frames(sf_dir)
        fix_pdf = merge_frame(sf_dir)
        _create_first_crawl(os.path.join(tmp, "pages_merge"), old_pdf)
        merged = pd.concat(
            [old_pdf[~old_pdf["url"].isin(set(fix_pdf["url"]))], fix_pdf],
            ignore_index=True,
        )
        _html_twin(merged).to_parquet(
            os.path.join(tmp, "expected_merged.parquet"), index=False
        )

    return stage(
        "ice_merge", sf_dir, build,
        layout=lambda base: {
            "table": os.path.join(base, "pages_merge"),
            "expected_merged": os.path.join(base, "expected_merged.parquet"),
        },
    )


def takedown_frame(sf_dir: str):
    """The takedown request list: every first-crawl url whose doc_id % 7
    == 3 (deterministic, ~14% of the corpus — big enough that several data
    files are touched, small enough that the delete stays a broadcast).
    Pure Python — callable from oracle_sql() staging."""
    import pandas as pd

    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "source"],
    ).sort_values("doc_id")
    urls = [
        ice_url(int(d), s)
        for d, s in zip(docs["doc_id"], docs["source"])
        if int(d) % 7 == 3
    ]
    return pd.DataFrame({"url": urls})


def stage_ice_rowdel(sf_dir: str) -> dict[str, Any]:
    """Stage (memoized per process) the ROW-DELETE story's base table —
    the first crawl alone under its own path (`pages_rowdel`, separate
    from the pinned three-snapshot table and the merge ladder) — plus the
    EXPECTED post-takedown parquet twin (first-crawl rows whose url is not
    on the takedown list, computed purely in pandas).  The Spark-side
    ``delete_rows`` / ``purge_deletes`` commits run in the driver queries;
    a hash match against the twin therefore certifies the whole
    MOR-commit -> sequence-scoped anti-join -> read round trip (and, for
    the purge, the touched-file rewrite)."""

    def build(tmp: str) -> None:
        old_pdf, _ = crawl_frames(sf_dir)
        _create_first_crawl(os.path.join(tmp, "pages_rowdel"), old_pdf)
        gone = set(takedown_frame(sf_dir)["url"])
        _html_twin(old_pdf[~old_pdf["url"].isin(gone)]).to_parquet(
            os.path.join(tmp, "expected_rowdel.parquet"), index=False
        )

    return stage(
        "ice_rowdel", sf_dir, build,
        layout=lambda base: {
            "table": os.path.join(base, "pages_rowdel"),
            "expected_rowdel": os.path.join(base, "expected_rowdel.parquet"),
        },
    )


def stage_ice_wap(sf_dir: str) -> dict[str, Any]:
    """Stage (memoized per process) the WRITE-AUDIT-PUBLISH story's base
    table — the first crawl alone under its own path (`pages_wap`) — and
    return it together with the expected twins stage_ice_pages already
    materializes (the published state = first crawl UNION delta crawl, so
    the twin is a UNION ALL over two existing parquets — zero new staging
    IO).  The branch-append + audit + publish run Spark-side in the
    driver query; the hash match certifies that the published main state
    equals exactly base+delta — nothing lost in staging, nothing visible
    early."""

    def build(tmp: str) -> None:
        _create_first_crawl(os.path.join(tmp, "pages_wap"), crawl_frames(sf_dir)[0])

    def layout(base: str) -> dict[str, Any]:
        shared = stage_ice_pages(sf_dir)
        return {
            "table": os.path.join(base, "pages_wap"),
            "expected_old": shared["expected_old"],
            "expected_delta": shared["expected_delta"],
        }

    return stage("ice_wap", sf_dir, build, layout=layout)


def stage_ice_pages(sf_dir: str) -> dict[str, Any]:
    """Stage (memoized per process) the three-snapshot pages icetable for
    ``sf_dir`` (first crawl -> re-crawl overwrite -> delta-crawl append)
    plus the expected per-snapshot parquet twins; returns
    {"table": path, "expected_old/new/delta": paths, "snap_old/new/delta": ids}.

    The expected tables are the SOURCE frames pre-write, so a driver hash
    match certifies the whole write -> manifest -> prune -> read round trip
    of the table format, exactly like the WARC twin certifies its encoder."""
    names = ("expected_old", "expected_new", "expected_delta")

    def build(tmp: str) -> None:
        old_pdf, new_pdf = crawl_frames(sf_dir)
        delta_pdf = delta_frame(sf_dir)
        table = _create_first_crawl(os.path.join(tmp, "pages"), old_pdf)
        commit_pandas(table, new_pdf, PAGES_ICE_SCHEMA, "overwrite", SEQ_NEW)
        commit_pandas(table, delta_pdf, PAGES_ICE_SCHEMA, "append", SEQ_DELTA)
        for name, pdf in zip(names, (old_pdf, new_pdf, delta_pdf)):
            _html_twin(pdf).to_parquet(
                os.path.join(tmp, f"{name}.parquet"), index=False
            )

    return stage(
        "ice", sf_dir, build,
        layout=lambda base: {
            "table": os.path.join(base, "pages"),
            "snap_old": 1,
            "snap_new": 2,
            "snap_delta": 3,
            **{n: os.path.join(base, f"{n}.parquet") for n in names},
        },
    )
