"""Per-partition lineage/metrics + checkpoint-resumable extraction runs.

The north rule requires the pipeline to be "resumable from checkpoint with
per-partition lineage + metrics". The reference has neither (it is a
single-process script, re-run from zero on failure — pdf_extraction_test.py
just loops `extract_pdf`); this module adds both, Spark-first:

  * **lineage**: the page stage (``extract.instrumented_page_stage``, one
    Arrow-batched ``mapInPandas``) stamps each row with its task partition
    id and amortized batch wall time; a per-partition aggregate (run_id,
    part_id, input_pages, marker_pages, q_candidates, parse_failures,
    wall_ms) is collected on the driver in place of the run's row count and
    put as one parquet object under ``lineage`` next to the outputs. Its
    rows scale with partitions, not documents.
  * **checkpoint-resume**: the unit of work is the *document* (page numbering
    is a running sum across a document's pages — resuming mid-document would
    corrupt X3), so the next run left-anti-joins the doc_ids that committed
    runs completed: an exam run records them in a ``processed_docs`` table
    (a doc with zero questions has no ``questions`` row), an html run reads
    them from its own ``main_content`` (one row per doc, never rewritten).
    Re-running after a crash therefore touches only unfinished documents, and
    appends are idempotent at the document level.
  * **quarantine**: F1 contract violations (enem_pdf_extractor.py:81-100
    raises IOError) are appended to a ``quarantine`` table instead.

Run directory layout (parquet everywhere; Iceberg DDL would be identical —
the sandbox has no Iceberg catalog, so plain parquet paths stand in). Every
table but ``runs`` holds one ``run_id=<id>`` dir per run:

    out_dir/questions/       exam runs; partitioned by (year, day)
    out_dir/images/          exam runs with process_images
    out_dir/quarantine/      exam runs
    out_dir/main_content/    html runs; also their resume set
    out_dir/anchors/         html runs with with_anchors
    out_dir/fetch_log/       html stream and icetable runs
    out_dir/lineage/         one parquet object per run, put by the driver
                             through runfs (no Spark job)
    out_dir/processed_docs/  exam runs (html runs of older layouts too;
                             nothing reads those any more)
    out_dir/runs/            one marker object per committed run, put by the
                             driver through runfs (no Spark job)

Every run commits through :func:`commit_run` (write each table's dir, clear
the dirs this attempt left empty, put the marker last), and every store
that numbers its runs names them through a :class:`RunFamily`.
"""

from __future__ import annotations

import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import runfs
from .extract import (
    ExtractorConfig,
    build_answer_keys,
    instrumented_page_stage,
    questions_from_counted,
    resolve_salt_chunk,
    split_quarantine,
    with_page_numbering,
    with_url_metadata,
)
from .htmlops import instrumented_html_stage


def partition_lineage(paged: DataFrame) -> DataFrame:
    """Per-partition metrics aggregate over the instrumented page stage.
    No run_id column: the table is written under lineage/run_id=<id>, so
    the id lives in the partition path (adding the column here only to
    drop it at the write site was dead threading)."""
    failures = F.size(F.filter(F.col("questions"), lambda q: ~q.ok))
    return paged.groupBy("part_id").agg(
        F.count("*").alias("input_pages"),
        F.sum((F.col("q_count") > 0).cast("long")).alias("marker_pages"),
        F.sum(F.coalesce(F.col("q_count"), F.lit(0)).cast("long")).alias(
            "q_candidates"
        ),
        F.sum(failures.cast("long")).alias("parse_failures"),
        F.round(F.sum("wall_ms"), 3).alias("wall_ms"),
    )


def _data_files(fs, path: str) -> list[str]:
    """Paths RELATIVE to ``path`` of the committed parquet files Spark
    will read under it. Files under Spark's in-flight `_temporary` (or any
    other _-/.-prefixed) directories must not count: a crash mid-write
    leaves only those, and treating them as data makes the read-back throw
    UNABLE_TO_INFER_SCHEMA on every retry — wedging the exactly-once resume
    this module exists for. Spark's own readers skip _-/.-prefixed paths;
    mirror that. Runs on the store's runfs control plane (a recursive
    prefix listing), so URI-schemed stores probe correctly."""
    if not fs.exists(path):
        return []
    out = []
    for rel in fs.list_files(path):
        parts = rel.split("/")
        if any(p.startswith(("_", ".")) for p in parts):
            continue
        f = parts[-1]
        if f.endswith(".parquet") or f.startswith("part-"):
            out.append(rel)
    return out


def _exists(path: str) -> bool:
    """True iff the dir holds COMMITTED parquet data Spark will read
    (see :func:`_data_files` for the skip rule)."""
    return bool(_data_files(runfs.fs_for(path), path))


def derive_replay_run_id(committed_ids, base_id: str) -> str:
    """``base_id`` if it was never committed, else ``base_idf{n:06d}`` —
    the deterministic replay-id scheme shared by icerun's recovery flow
    and the html stream's checkpoint-incarnation collisions. Reusing a
    COMMITTED id would overwrite that run's committed side outputs in
    place (the overwrite-dir protocol is for retrying CRASHED attempts
    only); the f-suffix sorts between the base and the next base id, and
    counting n from COMMITTED suffixed ids keeps a crashed attempt's
    retry on the same id (deterministic overwrite)."""
    if base_id not in committed_ids:
        return base_id
    n = 1 + sum(1 for i in committed_ids if i.startswith(f"{base_id}f"))
    return f"{base_id}f{n:06d}"


def clear_stale_run_dirs(out_dir: str, run_id: str, tables) -> None:
    """Delete ``<table>/run_id=<id>`` dirs a crashed prior attempt of the
    SAME id may have written but this attempt did not. Called only by
    :func:`commit_run`, just before the marker, with the tables it maps to
    None (a table missed here makes a crashed attempt's orphan rows
    committed-visible)."""
    fs = runfs.fs_for(out_dir)
    for table in tables:
        fs.delete_prefix(_run_dir(out_dir, table, run_id))


RUNS_MARKER_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("input_pages", T.LongType()),
        T.StructField("questions_written", T.LongType()),
    ]
)
# the file-level form of the same schema, derived so the two cannot drift
_RUNS_MARKER_ARROW = to_arrow_schema(RUNS_MARKER_SCHEMA)


def append_run_marker(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    input_pages: int = 0,
    questions_written: int = 0,
) -> None:
    """THE runs-table commit point — the single spelling of the marker row
    every exactly-once store in the engine appends LAST. One source of
    truth: a schema or semantics change that landed in one hand-copied
    site but not another would silently desync the commit protocol the
    whole design hangs on (review finding, round 3).

    The row is serialized on the driver and published as one parquet
    object through the store's runfs ``write_bytes`` — an atomic
    whole-object put on every implementation, so a reader sees the whole
    marker or none of it — under a name unique per call, which keeps the
    table append-only. No Spark job runs (``spark`` is unused; the
    signature is shared with every caller). Spark reads the file back with
    exactly ``RUNS_MARKER_SCHEMA``."""
    _put_parquet(
        f"{out_dir}/runs/part-{uuid.uuid4().hex}.parquet",
        pa.table(
            {
                "run_id": [run_id],
                "input_pages": [int(input_pages)],
                "questions_written": [int(questions_written)],
            },
            schema=_RUNS_MARKER_ARROW,
        ),
    )


def _put_parquet(path: str, table: pa.Table, durable: bool = True) -> None:
    """Publish ``table`` as one parquet object at ``path``: serialized on
    the driver and put through the store's runfs ``write_bytes``, an
    atomic whole-object put (a reader sees all of it or none)."""
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    runfs.fs_for(path).write_bytes(path, buf.getvalue().to_pybytes(), durable=durable)


def _collect_arrow(frame: DataFrame) -> pa.Table:
    """``frame``'s rows, collected to the driver (one Spark job), as a
    pyarrow table of ``frame``'s schema — for small aggregates that
    :func:`write_run_table` then puts without a Spark write."""
    return pa.Table.from_pylist(
        [r.asDict() for r in frame.collect()], schema=to_arrow_schema(frame.schema)
    )


# run tables whose run dirs are partitioned further (the rest are flat)
_PARTITION_BY = {"questions": ("year", "day")}


def _run_dir(out_dir: str, table: str, run_id: str) -> str:
    """The one spelling of a run's dir in a run table."""
    return f"{out_dir}/{table}/run_id={run_id}"


def write_run_table(
    out_dir: str, table: str, run_id: str, frame: DataFrame | pa.Table
) -> None:
    """Overwrite ``<table>/run_id=<id>`` with ``frame`` (overwrite makes a
    crashed attempt's retry under the same id idempotent). A DataFrame is
    one Spark write; a pyarrow table (a driver-collected aggregate such as
    ``lineage``) replaces the dir with one parquet object put through
    runfs, like the ``runs`` marker, and runs no Spark job. That put is
    not fsynced: like the Spark-written tables, the object is read only
    once the run's marker (the one durable put of a commit) names it."""
    path = _run_dir(out_dir, table, run_id)
    if isinstance(frame, pa.Table):
        runfs.fs_for(path).delete_prefix(path)
        _put_parquet(f"{path}/part-00000.parquet", frame, durable=False)
        return
    writer = frame.write.mode("overwrite")
    if table in _PARTITION_BY:
        writer = writer.partitionBy(*_PARTITION_BY[table])
    writer.parquet(runfs.spark_path(path))


def commit_run(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    tables: dict,
    input_pages: int = 0,
    questions_written: int = 0,
) -> None:
    """Commit one run: the whole write side of the exactly-once protocol.

    ``tables`` maps each table the run owns to the frame (a DataFrame, or
    a pyarrow table collected on the driver) this attempt writes there, or
    to None when it writes nothing there. Frames are
    written in the map's order (:func:`write_run_table`); the None tables'
    dirs under this id are deleted, since a crashed prior attempt of the
    SAME id may have written them and the marker would make those rows
    committed-visible (:func:`clear_stale_run_dirs`); the ``runs`` marker
    goes last (:func:`append_run_marker`). Tables absent from the map are
    left alone — e.g. a fetch_log the caller wrote before delegating."""
    for table, frame in tables.items():
        if frame is not None:
            write_run_table(out_dir, table, run_id, frame)
    clear_stale_run_dirs(
        out_dir, run_id, [t for t, frame in tables.items() if frame is None]
    )
    append_run_marker(spark, out_dir, run_id, input_pages, questions_written)


class RunFamily:
    """One run-id namespace of the shared ``runs`` ledger: ids are
    ``template`` filled with the store's config integers, then
    ``_{n:06d}`` and a trailing ``c`` on a compaction run (whose state
    includes every run numbered below it). A family's parse ignores every
    other family's ids, so several stores can share one out_dir.

    The config is part of every id because mixing configs in one store
    would silently corrupt it (bucket widths, band boundaries and cell ids
    all shift meaning): ``runs`` checks it on every entry point. ``store``
    names the store in that error and ``redo`` says how to start over."""

    def __init__(self, template: str, store: str, redo: str):
        self.template = template
        self.store = store
        self.redo = redo
        # {6,}: :06d pads, never truncates — a {6} anchor would hide run
        # 1,000,000 from the parse and re-derive (and overwrite) its id
        self._re = re.compile(
            "^" + r"(\d+)".join(map(re.escape, template.split("{}")))
            + r"_(\d{6,})(c?)$"
        )

    def run_id(self, *config_and_n: int, compaction: bool = False) -> str:
        *config, n = config_and_n
        return f"{self.template.format(*config)}_{n:06d}" + (
            "c" if compaction else ""
        )

    def parse(self, run_id: str) -> tuple[tuple[int, ...], int, bool] | None:
        """(config, n, is_compaction) of one of this family's ids, else None."""
        m = self._re.match(run_id)
        if m is None:
            return None
        *config, n, comp = m.groups()
        return tuple(map(int, config)), int(n), comp == "c"

    def runs(self, committed, config: tuple | None = None) -> list:
        """(config, n, is_compaction) of every id in ``committed`` that
        belongs to this family. Raises unless each run carries ``config``;
        with no config given (a cursor reader has none to request) the
        runs must all carry one and the same config."""
        runs = [r for r in map(self.parse, committed) if r is not None]
        kind = self.store.split()[-1]
        if config is None:
            configs = {c for c, _, _ in runs}
            if len(configs) > 1:
                raise ValueError(
                    f"{self.store} holds mixed configs {sorted(configs)} — "
                    f"the one-{kind}-one-config invariant is violated; its "
                    f"cursor cannot be trusted (use a fresh out_dir to {self.redo})"
                )
            return runs
        bad = sorted({c for c, _, _ in runs if c != tuple(config)})
        if bad:
            raise ValueError(
                f"{self.store} holds config(s) {bad}, requested {tuple(config)}"
                f" — one {kind}, one config; use a fresh out_dir to {self.redo}"
            )
        return runs

    @staticmethod
    def next_n(runs) -> int:
        return max((n for _, n, _ in runs), default=0) + 1

    def active_ids(self, runs) -> list[str]:
        """The ids readers trust: every run numbered at or after the latest
        compaction. The compacted state INCLUDES every earlier run, so a
        pre-compaction dir a crashed cleanup left behind must contribute
        nothing — filtering here, not the delete, is the double-count
        guard."""
        ncomp = max((n for _, n, c in runs if c), default=0)
        return [
            self.run_id(*config, n, compaction=c)
            for config, n, c in runs
            if n >= ncomp
        ]

    def read(
        self,
        spark: SparkSession,
        out_dir: str,
        table: str,
        config: tuple | None = None,
        committed: set[str] | None = None,
    ) -> DataFrame | None:
        """Rows of one of this family's tables over its active runs (exactly
        those run dirs are read), ``run_id`` dropped; None when the family
        has no committed run. ``config`` is checked as in :meth:`runs`;
        pass ``committed`` when the caller already read the ledger."""
        if committed is None:
            committed = committed_id_set(out_dir)
        runs = self.runs(committed, config)
        if not runs:
            return None
        rows = committed_table(spark, out_dir, table, set(self.active_ids(runs)))
        return None if rows is None else rows.drop("run_id")


# runs/ path -> {marker file (relative) -> the run_ids it holds}
_MARKER_IDS: dict[str, dict[str, tuple[str, ...]]] = {}


def committed_id_set(out_dir: str) -> set[str]:
    """run_ids of every COMMITTED run (empty when none): the ``run_id``
    column of each marker file under ``runs/``, listed through runfs with
    the :func:`_data_files` skip rule and read with pyarrow on the driver —
    no Spark job. Reads markers written by this module and by the older
    Spark append writer alike (same columns).

    A marker object is immutable under a unique name (a whole-object put,
    never rewritten), so each file's ids are cached by name: a call costs
    one listing plus reads of the markers that appeared since the last
    call, not one read per commit ever made. The listing stays the source
    of truth — a file that is gone drops out of the result and the
    cache."""
    path = f"{out_dir}/runs"
    fs = runfs.fs_for(path)
    known = _MARKER_IDS.get(path, {})
    current: dict[str, tuple[str, ...]] = {}
    for rel in _data_files(fs, path):
        ids = known.get(rel)
        if ids is None:
            table = pq.read_table(
                pa.BufferReader(fs.read_bytes(f"{path}/{rel}")),
                columns=["run_id"],
            )
            ids = tuple(table.column("run_id").to_pylist())
        current[rel] = ids
    _MARKER_IDS[path] = current
    return {i for ids in current.values() for i in ids}


def committed_run_ids(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The committed run_ids as a one-column ``run_id`` frame, or None
    when nothing is committed. The frame is a snapshot of
    :func:`committed_id_set` taken at call time, held in the plan as a
    local relation: evaluating it reads no file and runs no scan job."""
    ids = committed_id_set(out_dir)
    if not ids:
        return None
    return spark.createDataFrame(
        pa.table({"run_id": sorted(ids)}), "run_id string"
    )


def committed_table(
    spark: SparkSession,
    out_dir: str,
    table: str,
    committed: set[str] | None = None,
    schema: str | None = None,
) -> DataFrame | None:
    """Rows of ``<out_dir>/<table>`` written by COMMITTED runs, or None
    when no committed run wrote the table — the one reader of run-protocol
    tables. ``committed`` is the run-id set to trust (default:
    :func:`committed_id_set`); pass it when the caller already read the
    ledger, or to narrow the read (an index's active runs, a stream
    batch's family).

    The table is listed one level deep and exactly the ``run_id=<id>``
    dirs whose id is trusted are read, with ``basePath`` at the table so
    ``run_id`` (and nested partitions such as year/day) stay columns. A
    crashed attempt's dir is never listed into the read, so its truncated
    part files, ``_temporary`` leftovers or foreign schema cannot wedge
    schema inference or the scan. ``schema`` (DDL) skips footer
    inference."""
    if committed is None:
        committed = committed_id_set(out_dir)
    if not committed:
        return None
    path = f"{out_dir}/{table}"
    dirs = [
        runfs.spark_path(f"{path}/{d}")
        for d in runfs.fs_for(path).list_names(path)
        if d.startswith("run_id=") and d.split("=", 1)[1] in committed
    ]
    if not dirs:
        return None
    reader = spark.read.option("basePath", runfs.spark_path(path))
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*dirs)


def processed_doc_ids(
    spark: SparkSession,
    out_dir: str,
    doc_id_type: str,
    committed: set[str] | None = None,
) -> DataFrame | None:
    """doc_ids of documents completed by COMMITTED runs only.

    A run's side outputs live under run_id=<id> directories; the tiny
    ``runs`` marker is published last and is the commit point. A crash
    anywhere before it leaves orphan run_id directories that neither this
    resume check nor `committed_questions` will ever read, and a retried
    run with the same run_id overwrites them wholesale.

    ``doc_id_type`` (a Spark SQL type name) is the caller's known doc_id
    type: the read takes its schema as given instead of inferring it from
    a footer, which would cost a Spark job per call."""
    done = committed_table(
        spark, out_dir, "processed_docs", committed,
        schema=f"doc_id {doc_id_type}, run_id string",
    )
    return None if done is None else done.select("doc_id").distinct()


def committed_questions(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Reader view of the questions table restricted to committed runs."""
    return committed_table(spark, out_dir, "questions")


def _total_pages(lineage_rows: pa.Table) -> int:
    return sum(lineage_rows.column("input_pages").to_pylist())


EXAM_TABLES = ("questions", "lineage", "processed_docs", "images", "quarantine")


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    cfg: ExtractorConfig,
    out_dir: str,
    run_id: str,
) -> dict:
    """One checkpoint-resumable extraction run over a pages table.

    Exactly-once protocol: every side output is written to an
    ``<table>/run_id=<run_id>`` directory with mode=overwrite, so replaying
    a crashed run (same run_id — what foreachBatch retries do) is
    idempotent; the ``runs`` marker append is the commit point, and resume
    (`processed_doc_ids`) plus readers (`committed_questions`) only trust
    committed runs. run_id must be unique per logical unit of work —
    enforced here: a run_id that is ALREADY COMMITTED is re-derived to the
    deterministic replay scheme (`derive_replay_run_id`) instead of
    overwriting the committed run's outputs in place (re-running a CLI
    command over grown input previously destroyed the first run's rows);
    crashed attempts (uncommitted id) keep their id and overwrite, which
    is the retry protocol. The summary reports the EFFECTIVE run_id.

    Calling again over the same pages with a NEW run_id is a no-op: every
    document already committed is anti-joined away and nothing is written."""
    runfs.require_supported_store(out_dir)
    committed = committed_id_set(out_dir)
    run_id = derive_replay_run_id(committed, run_id)
    if cfg.dedup_pages:
        # the batch entry point must honor the flag exactly like
        # extract_pages does — a duplicated re-crawl page otherwise doubles
        # its q_count in the numbering window and shifts every later
        # question's positional answer join
        from .extract import dedup_latest_per_url

        pages = dedup_latest_per_url(pages)
    meta = with_url_metadata(pages.filter(F.col("lang") == "pt"))
    valid, quarantined = split_quarantine(meta)
    pv = valid.filter((F.col("kind") == "PV") & (F.col("page_idx") >= 1))

    done = processed_doc_ids(spark, out_dir, "string", committed)
    if done is not None:
        # no broadcast hint: processed_docs grows without bound across runs;
        # AQE broadcasts while it is small, shuffles (skew-free key) after
        pv = pv.join(done, "doc_id", "left_anti")

    paged = instrumented_page_stage(pv, cfg).persist()
    new_quarantine = questions = imgs = None
    try:
        # the lineage rows stand in for a count: one job fills the cache
        # and yields both the page total and the table's content
        lineage_rows = _collect_arrow(partition_lineage(paged))
        n_pages = _total_pages(lineage_rows)
        n_questions = n_images = 0

        new_quarantine = quarantined.select("url", "year", "day", "kind", "color")
        # dedup only against COMMITTED runs' quarantine rows: orphan
        # run_id dirs from crashed runs must not suppress a re-write under
        # the new run_id, or the orphan rows would stay invisible to every
        # committed-gated reader forever
        seen = committed_table(spark, out_dir, "quarantine", committed)
        if seen is not None:
            new_quarantine = new_quarantine.join(
                seen.select("url"), "url", "left_anti"
            )
        # persist: the count below AND the conditional write would otherwise
        # each re-run the quarantine anti-join's scan over the input table
        new_quarantine = new_quarantine.persist()
        n_quarantined = new_quarantine.count()

        if n_pages == 0 and n_quarantined == 0:
            # nothing to do — write nothing (an empty overwrite of a reused
            # run_id directory must not erase a previous run's output)
            return {
                "run_id": run_id,
                "input_pages": 0,
                "questions_written": 0,
                "quarantined": 0,
                "images_written": 0,
            }

        # a table this attempt writes nothing to stays None, so commit_run
        # clears a crashed prior attempt's dir there (the state of the
        # world can differ on retry, e.g. its docs were committed by
        # another run meanwhile)
        tables = dict.fromkeys(EXAM_TABLES)
        if n_pages:
            # no persist_to: `paged` is already persisted above, so the
            # salted path's offsets join reads the cache without pinning a
            # second copy per run (foreachBatch calls this every micro-batch)
            # AUTO salt resolves against the PERSISTED page frame (cache
            # read, no UDF re-execution)
            chunk = resolve_salt_chunk(paged, cfg.salt_chunk_size)
            counted = with_page_numbering(
                paged.filter(F.col("q_count") > 0), chunk
            )
            # keys from ALL pages (no lang filter), matching
            # extract_questions: an answer-key page is mostly digit/letter
            # tables and a langid stage can plausibly tag it non-pt — the
            # lang guard is for exam-text noise, and filtering the key side
            # turned whole exams into MISSING_ANSWER on this path only
            keys = build_answer_keys(with_url_metadata(pages))
            questions = questions_from_counted(counted, keys, cfg).persist()
            # Count BEFORE the write: an all-pages-markerless run (pt PV
            # pages with no 'QUESTÃO' marker, or every parse failing) yields
            # zero questions, and an empty partitionBy write produces no
            # parquet files — reading the dir back would throw
            # UNABLE_TO_INFER_SCHEMA before the commit point, wedging resume
            # into retrying the same documents forever. Such documents are
            # DONE, not failed: skip the questions write but still record
            # processed_docs + the runs marker.
            n_questions = questions.count()
            tables.update(
                questions=questions if n_questions else None,
                lineage=lineage_rows,
                processed_docs=paged.select("doc_id").distinct(),
            )
            if cfg.process_images:
                # images mode (reference :269-334): restricted to this
                # run's documents so a resumed run never rewrites committed
                # images (the reference writes one PNG file per (page,
                # index) unconditionally — re-running would silently
                # overwrite). pv is already metadata-derived,
                # quarantine-split and resume-anti-joined, so committed
                # docs' pages never reach the image UDF.
                from .extract import materialize_images

                imgs = materialize_images(pages, pv=pv).persist()
                n_images = imgs.count()
                if n_images:
                    tables["images"] = imgs
        if n_quarantined:
            # quarantine-only runs commit too: their rows must become
            # visible to readers and to the dedup above
            tables["quarantine"] = new_quarantine
        commit_run(spark, out_dir, run_id, tables, n_pages, n_questions)
    finally:
        for df in (paged, new_quarantine, questions, imgs):
            if df is not None:
                df.unpersist()
    return {
        "run_id": run_id,
        "input_pages": n_pages,
        "questions_written": n_questions,
        "quarantined": n_quarantined,
        "images_written": n_images,
    }


# ---------------------------------------------------------------------------
# HTML main-content extraction under the same exactly-once protocol
# ---------------------------------------------------------------------------

def committed_main_content(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Reader view of the main_content table restricted to committed runs."""
    return committed_table(spark, out_dir, "main_content")


HTML_TABLES = ("main_content", "anchors", "lineage")


def html_partition_lineage(extracted: DataFrame) -> DataFrame:
    """Per-partition metrics aggregate over the instrumented HTML stage,
    the html run's ``lineage`` table (run_id lives in the path, as in
    :func:`partition_lineage`)."""
    return extracted.groupBy("part_id").agg(
        F.count("*").alias("input_pages"),
        F.sum((F.col("main_chars") > 0).cast("long")).alias("nonempty_main"),
        F.sum(F.col("n_blocks").cast("long")).alias("total_blocks"),
        F.sum(F.col("n_content_blocks").cast("long")).alias("content_blocks"),
        F.round(F.sum("wall_ms"), 3).alias("wall_ms"),
    )


def run_html_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    with_anchors: bool = False,
    fetch_log: DataFrame | None = None,
) -> dict:
    """One checkpoint-resumable DOM-extraction run over a CC pages table
    (doc_id, url, html binary, ...) — the north rule's web-page pipeline
    under the SAME exactly-once protocol as run_extraction (one
    :func:`commit_run`). The unit of work is the document (one page row),
    so resume anti-joins committed doc_ids and a rerun is a no-op.

    Tables: main_content/ lineage/ runs (+ anchors/ when ``with_anchors``:
    the per-anchor link-text table, exploded from the same single Arrow
    crossing). Resume reads the doc_ids of committed ``main_content``,
    which holds one row per completed doc, so no processed_docs table is
    written (an out_dir whose older runs wrote one resumes the same: each
    of those runs wrote main_content for the same docs). ``lineage`` is
    collected in place of the row count and put from the driver. A
    directory can host EITHER an ENEM run tree or an html run tree, not
    both (they share the runs ledger but different payload tables).

    with_anchors is NOT retroactive: resume skips every committed doc
    regardless of which flag its run used, so flipping the flag on over an
    out_dir with committed anchor-less runs yields an anchors table that
    covers only the docs processed from then on (the returned summary's
    `anchors_backfill_needed` flags this). Backfilling means a fresh
    out_dir or an explicit re-run of the old inputs there.

    ``fetch_log`` is the streaming path's event-time serving anchor: a
    (url, warc_ts, doc_id) frame of THIS run's fetches, written for EVERY
    unit — including ones whose content was already extracted — and
    committed even when the extraction itself no-ops (a marker-only run).
    Without it, a url whose content re-arrives or REVERTS never advances
    its latest-fetch pointer, and the serving view's run-recency fallback
    mis-ranks replay-suffixed run ids (stream batch ids are NOT monotonic
    across checkpoint incarnations — warc_ts is, which is why the stream
    log carries it while icerun's snapshot-sequenced log does not need
    to).

    Same committed-id guard as run_extraction: an already-COMMITTED
    run_id re-derives to the replay scheme instead of overwriting that
    run's outputs (callers that pre-derive — the html stream, icerun —
    always pass an uncommitted id, so the guard is an identity for them
    and their pre-written fetch_log dirs keep their names)."""
    runfs.require_supported_store(out_dir)
    committed = committed_id_set(out_dir)
    run_id = derive_replay_run_id(committed, run_id)
    work = pages.select("doc_id", "url", "html")
    done = committed_table(
        spark, out_dir, "main_content", committed,
        schema="doc_id bigint, run_id string",
    )
    # definitely-missing detection: prior committed runs exist and no
    # committed run wrote anchors -> those docs will never appear in it
    backfill_needed = bool(
        with_anchors
        and done is not None
        and committed_table(spark, out_dir, "anchors", committed) is None
    )
    if done is not None:
        # unbounded across runs -> no broadcast hint; AQE handles small case
        work = work.join(done.select("doc_id"), "doc_id", "left_anti")

    extracted = instrumented_html_stage(work, with_anchors=with_anchors).persist()
    try:
        # the lineage rows stand in for a count: one job fills the cache
        # and yields both the page total and the table's content
        lineage_rows = _collect_arrow(html_partition_lineage(extracted))
        n_pages = _total_pages(lineage_rows)
        if n_pages == 0 and fetch_log is None:
            # nothing to do — write nothing (an empty overwrite of a reused
            # run_id dir must not erase a previous attempt's output)
            return {
                "run_id": run_id,
                "input_pages": 0,
                "main_rows": 0,
                "anchors_backfill_needed": backfill_needed,
            }
        # fetch_log is left out of the map when the param is None: icerun
        # writes fetch_log/run_id=<id> ITSELF before delegating here, and
        # clearing it would destroy that same attempt's log. With no pages
        # this is a marker-only commit that makes the fetch_log visible (the
        # revert/re-arrival case extracts nothing but still moves the url's
        # latest-fetch pointer), and every html table is cleared of a
        # crashed prior attempt's orphans; with pages, only anchors can be
        # stale (a prior attempt may have run with with_anchors=True).
        tables = {}
        if fetch_log is not None:
            tables["fetch_log"] = fetch_log.select("url", "warc_ts", "doc_id")
        tables.update(dict.fromkeys(HTML_TABLES))
        if n_pages:
            tables["main_content"] = extracted.drop("part_id", "wall_ms", "anchors")
            if with_anchors:
                tables["anchors"] = (
                    extracted.select(
                        "doc_id", "url", F.explode_outer("anchors").alias("a")
                    )
                    .filter(F.col("a").isNotNull())
                    .select("doc_id", "url", "a.pos", "a.href", "a.anchor_text")
                )
            tables["lineage"] = lineage_rows
        commit_run(spark, out_dir, run_id, tables, n_pages, n_pages)
    finally:
        extracted.unpersist()
    return {
        "run_id": run_id,
        "input_pages": n_pages,
        "main_rows": n_pages,
        "anchors_backfill_needed": backfill_needed,
    }
