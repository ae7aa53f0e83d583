"""The exactly-once commit protocol on URI-schemed stores (runfs port).

Round-4 verdict #1: the protocol's control plane used to call `os`
directly, so lineage refused every URI-schemed out_dir.
These tests re-run the crash/replay battery from
test_lineage_streaming.py against a registered object-store-semantics
implementation (`runfs.MockObjectRunFS`, scheme ``mock://``) and against
``file://`` URIs, prove via the mock's op log that the control plane
routed through the six runfs primitives, and pin the conditional-put
contract that a real S3/GCS port must satisfy."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from enem_spark import corpus, lineage, runfs
from enem_spark.extract import ExtractorConfig, extract_questions
from enem_spark.lineage import (
    append_run_marker,
    commit_run,
    committed_id_set,
    committed_questions,
    committed_run_ids,
    committed_table,
    run_extraction,
)

CFG = corpus.CorpusConfig(seed=11, n_exams=4, pages_per_exam=6, questions_per_page=2)


@pytest.fixture(scope="module")
def pages_df(spark):
    return corpus.pages_dataframe(spark, CFG)


@pytest.fixture()
def mockfs(tmp_path):
    fs = runfs.MockObjectRunFS("mock", str(tmp_path / "backing"))
    runfs.register("mock", fs)
    try:
        yield fs
    finally:
        runfs.unregister("mock")


def _question_keys(df):
    return sorted(
        (r["url"], r["seq"], r["question_text"], r["correct_answer"])
        for r in df.select(
            "url", "seq", "question_text", "correct_answer"
        ).collect()
    )


# ---------------------------------------------------------------------------
# primitives: the contract a real object-store port must satisfy
# ---------------------------------------------------------------------------


def test_conditional_put_winner_takes_all(mockfs):
    """create_exclusive is the protocol's ONE synchronization primitive:
    first writer wins, loser gets FileExistsError, and the winner's
    content is never clobbered — If-None-Match semantics."""
    path = "mock://bucket/meta/v00001.json"
    mockfs.create_exclusive(path, b"winner")
    with pytest.raises(FileExistsError):
        mockfs.create_exclusive(path, b"loser")
    assert mockfs.read_bytes(path) == b"winner"
    assert ("conditional_put", path) in mockfs.ops


def test_prefix_ops_are_idempotent_and_recursive(mockfs):
    base = "mock://bucket/t"
    mockfs.write_bytes(f"{base}/run_id=r1/part-0.parquet", b"x")
    mockfs.write_bytes(f"{base}/run_id=r1/sub/part-1.parquet", b"y")
    mockfs.write_bytes(f"{base}/run_id=r2/part-0.parquet", b"z")
    assert sorted(mockfs.list_names(base)) == ["run_id=r1", "run_id=r2"]
    assert sorted(mockfs.list_files(f"{base}/run_id=r1")) == [
        "part-0.parquet",
        "sub/part-1.parquet",
    ]
    mockfs.delete_prefix(f"{base}/run_id=r1")
    mockfs.delete_prefix(f"{base}/run_id=r1")  # absent prefix: no-op
    assert mockfs.list_names(base) == ["run_id=r2"]
    assert not mockfs.exists(f"{base}/run_id=r1")


def test_only_the_marker_put_is_fsynced(tmp_path, monkeypatch):
    """A driver-put run table (lineage) is published whole but not
    fsynced, like the Spark-written tables beside it; the runs marker,
    which makes them visible, is fsynced (file and directory entry)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "out")
    synced = []
    real_fsync = os.fsync
    monkeypatch.setattr(runfs.os, "fsync", lambda fd: synced.append(fd) or real_fsync(fd))

    rows = pa.table({"part_id": [0, 1], "input_pages": [3, 4]})
    lineage.write_run_table(out, "lineage", "r1", rows)
    assert synced == []
    run_dir = f"{out}/lineage/run_id=r1"
    assert os.listdir(run_dir) == ["part-00000.parquet"]
    assert pq.read_table(f"{run_dir}/part-00000.parquet").equals(rows)

    append_run_marker(None, out, "r1")
    assert len(synced) == 2
    assert committed_id_set(out) == {"r1"}


def test_crashed_marker_put_leftover_is_invisible(spark, tmp_path, monkeypatch):
    """A crash between the temp write and the publish of a marker put
    leaves the temp file in ``runs/``. Its name must be one every reader
    skips: a ``part-*`` leftover would read as a commit (or, truncated,
    fail the read)."""
    out = str(tmp_path / "out")
    append_run_marker(spark, out, "r1")
    temps = []
    real_replace = os.replace

    def spy(src, dst):
        temps.append(src)
        return real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(runfs.os, "replace", spy)
        append_run_marker(spark, out, "r2")
    assert len(temps) == 1
    assert os.path.dirname(temps[0]) == f"{out}/runs"
    # plant leftovers under that exact temp name: one holding a whole
    # marker of a run that never committed, one truncated
    other = str(tmp_path / "other")
    append_run_marker(spark, other, "never")
    (blob,) = os.listdir(f"{other}/runs")
    with open(f"{other}/runs/{blob}", "rb") as fh:
        whole = fh.read()
    with open(temps[0], "wb") as fh:
        fh.write(whole)
    with open(f"{temps[0]}x", "wb") as fh:
        fh.write(whole[:10])

    assert committed_id_set(out) == {"r1", "r2"}
    assert sorted(r.run_id for r in committed_run_ids(spark, out).collect()) == [
        "r1",
        "r2",
    ]
    read = spark.read.parquet(f"{out}/runs")
    assert sorted(r.run_id for r in read.collect()) == ["r1", "r2"]


def test_committed_reads_fetch_only_new_markers(spark, mockfs):
    """A long-lived out_dir gains one marker per commit. Re-reading the
    ledger lists runs/ once and fetches only markers it has not read
    before, so a call does not cost one GET per commit ever made."""
    out = "mock://bucket/ledger"
    for i in range(30):
        append_run_marker(spark, out, f"r{i:02d}")

    def reads(fn):
        start = len(mockfs.ops)
        got = fn()
        new = mockfs.ops[start:]
        return got, sum(op == "read" for op, _ in new), new

    every = {f"r{i:02d}" for i in range(30)}
    got, n_first, _ = reads(lambda: committed_id_set(out))
    assert got == every and n_first <= 30
    got, n, ops = reads(lambda: committed_id_set(out))
    assert got == every and n == 0
    assert [op for op, _ in ops if op == "list_files"] == ["list_files"]

    append_run_marker(spark, out, "r30")
    got, n, _ = reads(lambda: committed_id_set(out))
    assert got == every | {"r30"} and n == 1

    # the listing stays the source of truth: a vanished marker drops out
    # (crash-before-commit replays delete runs/ wholesale)
    mockfs.delete_prefix(f"{out}/runs")
    got, n, _ = reads(lambda: committed_id_set(out))
    assert got == set() and n == 0
    append_run_marker(spark, out, "r00")
    assert committed_id_set(out) == {"r00"}


def test_run_reads_the_ledger_once(spark, pages_df, mockfs):
    """A run lists runs/ once and hands the committed id set to every
    reader; readers list one table level, never every file under it."""
    out = "mock://bucket/once"
    cfg = ExtractorConfig(output_type="json")
    run_extraction(spark, pages_df, cfg, out, run_id="r1")
    start = len(mockfs.ops)
    s2 = run_extraction(spark, pages_df, cfg, out, run_id="r2")
    assert s2["input_pages"] == 0
    listed = [path for op, path in mockfs.ops[start:] if op == "list_files"]
    assert listed.count(f"{out}/runs") == 1
    assert not [
        p for p in listed
        if p.startswith((f"{out}/questions", f"{out}/processed_docs"))
    ]


def test_unregistered_scheme_refused_loudly(pages_df, spark):
    """s3:// (or any unregistered scheme) still fails FAST — the old
    silent-degradation mode (os.path returning False on URIs, resume
    re-extracting everything) must stay unreachable."""
    cfg = ExtractorConfig(output_type="json")
    with pytest.raises(ValueError, match="s3"):
        run_extraction(spark, pages_df, cfg, "s3://bucket/out", "r1")
    runfs.require_supported_store("/plain/posix/path")  # no raise
    runfs.require_supported_store("relative/path")
    runfs.require_supported_store("file:///tmp/x")  # file:// now supported


def test_commit_run_writes_clears_then_commits_last(spark, mockfs, monkeypatch):
    """commit_run over a crashed attempt's leftovers: ``run_id=r1`` dirs
    in tables a, b and c; the retry writes a, maps b to None and leaves c
    out. b's orphan is deleted, c is untouched, a reads back exactly the
    new rows, and the marker put comes after every write and delete."""
    out = "mock://bucket/run"
    for t in ("a", "b", "c"):
        mockfs.write_bytes(f"{out}/{t}/run_id=r1/part-0.parquet", b"orphan")
    real_write = lineage.write_run_table

    def logged_write(out_dir, table, run_id, frame):
        mockfs.ops.append(("spark_write", f"{out_dir}/{table}/run_id={run_id}"))
        real_write(out_dir, table, run_id, frame)

    monkeypatch.setattr(lineage, "write_run_table", logged_write)
    df = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    mockfs.ops.clear()
    commit_run(spark, out, "r1", {"a": df, "b": None})
    ops = list(mockfs.ops)

    assert ops[0] == ("spark_write", f"{out}/a/run_id=r1")
    assert ("delete_prefix", f"{out}/b/run_id=r1") in ops
    assert ops[-1][0] == "put" and ops[-1][1].startswith(f"{out}/runs/")
    assert [op for op, _ in ops].count("put") == 1
    assert not mockfs.exists(f"{out}/b/run_id=r1")
    assert mockfs.read_bytes(f"{out}/c/run_id=r1/part-0.parquet") == b"orphan"
    rows = committed_table(spark, out, "a").select("k", "v").collect()
    assert sorted(map(tuple, rows)) == [(1, "x"), (2, "y")]
    assert committed_id_set(out) == {"r1"}


# ---------------------------------------------------------------------------
# the crash/replay battery, re-run on a mock:// store
# ---------------------------------------------------------------------------


def test_mock_store_rerun_noop_and_resume(spark, pages_df, mockfs, tmp_path):
    out = "mock://bucket/run"
    cfg = ExtractorConfig(output_type="json")
    s1 = run_extraction(spark, pages_df, cfg, out, run_id="r1")
    assert s1["input_pages"] > 0

    got = committed_questions(spark, out)
    assert _question_keys(got) == _question_keys(
        extract_questions(pages_df, cfg)
    )
    n1 = got.count()

    # identical rerun: every document is already in processed_docs
    s2 = run_extraction(spark, pages_df, cfg, out, run_id="r2")
    assert s2["input_pages"] == 0 and s2["questions_written"] == 0
    assert committed_questions(spark, out).count() == n1

    # add new documents: only they are processed on resume
    bigger = corpus.CorpusConfig(
        seed=11, n_exams=6, pages_per_exam=6, questions_per_page=2
    )
    pages2 = corpus.pages_dataframe(spark, bigger)
    s3 = run_extraction(spark, pages2, cfg, out, run_id="r3")
    assert 0 < s3["input_pages"]
    assert _question_keys(committed_questions(spark, out)) == _question_keys(
        extract_questions(pages2, cfg)
    )

    # the control plane really went through the interface
    ops = {op for op, _ in mockfs.ops}
    # (put/read: the runs marker is published and read back as objects)
    assert {"exists", "list_files", "delete_prefix", "put", "read"} <= ops
    # and the data plane landed under the backing root, not a literal
    # 'mock:' directory in the cwd
    assert os.path.isdir(os.path.join(mockfs.root, "bucket", "run"))
    assert not os.path.exists("mock:")


def test_mock_store_replay_same_run_id_idempotent(
    spark, pages_df, mockfs
):
    """Crash-before-commit replay (same run_id) on the URI store: side
    outputs are per-run overwrite dirs, so the retry leaves the questions
    table un-doubled."""
    out = "mock://bucket/replay"
    cfg = ExtractorConfig(output_type="json")
    run_extraction(spark, pages_df, cfg, out, run_id="b0")
    n1 = committed_questions(spark, out).count()

    # crash happened before the commit point: the marker table vanishes
    mockfs.delete_prefix(f"{out}/runs")
    summary = run_extraction(spark, pages_df, cfg, out, run_id="b0")
    assert summary["input_pages"] > 0  # uncommitted docs were retried
    committed = committed_questions(spark, out)
    assert committed.count() == n1
    dups = (
        committed.groupBy("url", "seq")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_mock_store_committed_id_reuse_never_destroys(
    spark, pages_df, mockfs
):
    out = "mock://bucket/reuse"
    cfg = ExtractorConfig(output_type="json")
    s1 = run_extraction(spark, pages_df, cfg, out, run_id="r1")
    n1 = committed_questions(spark, out).count()
    assert s1["run_id"] == "r1" and n1 > 0

    bigger = corpus.CorpusConfig(
        seed=11, n_exams=6, pages_per_exam=6, questions_per_page=2
    )
    pages2 = corpus.pages_dataframe(spark, bigger)
    s2 = run_extraction(spark, pages2, cfg, out, run_id="r1")  # same id!
    assert s2["run_id"] == "r1f000001"  # re-derived, not overwritten
    combined = committed_questions(spark, out)
    assert combined.count() > n1
    assert _question_keys(combined) == _question_keys(
        extract_questions(pages2, cfg)
    )


def test_file_uri_store_end_to_end(spark, pages_df, tmp_path):
    """file:/// URIs — the shared-mount deployment spelled as a URI —
    work without registration: Spark resolves them natively and the
    control plane strips the scheme (the old code refused them because
    os.path treats 'file:///x' as relative)."""
    out = f"file://{tmp_path}/run"
    cfg = ExtractorConfig(output_type="json")
    s1 = run_extraction(spark, pages_df, cfg, out, run_id="r1")
    assert s1["input_pages"] > 0
    assert _question_keys(committed_questions(spark, out)) == _question_keys(
        extract_questions(pages_df, cfg)
    )
    s2 = run_extraction(spark, pages_df, cfg, out, run_id="r2")
    assert s2["input_pages"] == 0  # resume sees the committed run
    # and the tree really lives at the stripped path
    assert os.path.isdir(f"{tmp_path}/run/questions")


# ---------------------------------------------------------------------------
# downstream exactly-once stores on the URI store
# ---------------------------------------------------------------------------


def test_statstore_fold_and_compaction_on_mock_store(spark, mockfs):
    """The stats store's incremental == one-shot equality and the
    compaction sweep (delimiter list + prefix delete) both run through
    the control plane on a mock:// store."""
    from enem_spark import statstore, textops

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "text", "n_chars"
    )
    kw = dict(p=textops.PARITY_HLL_P, sub_bits=textops.QSKETCH_SUB_BITS)
    incr, full = "mock://bucket/stats_incr", "mock://bucket/stats_full"
    statstore.update_corpus_stats(
        spark, incr, docs.filter(F.col("doc_id") % 2 == 0), **kw
    )
    statstore.update_corpus_stats(spark, incr, docs, **kw)
    statstore.update_corpus_stats(spark, full, docs, **kw)

    def rows(out):
        return sorted(
            tuple(r)
            for r in statstore.corpus_stat_report(spark, out, **kw).collect()
        )

    assert rows(incr) == rows(full)
    comp = statstore.compact_stats(spark, incr, **kw)
    assert comp["compacted_runs"] == 2
    assert rows(incr) == rows(full)  # compaction preserves the report
    # the sweep removed the superseded run dirs through delete_prefix
    names = mockfs.list_names(f"{incr}/{statstore.STATS_TABLE}")
    assert names == [f"run_id={comp['run_id']}"]


def test_sigindex_update_and_probe_on_mock_store(spark, mockfs):
    """The signature index maintains and probes exactly-once on the URI
    store: second update is a no-op, probe reads persisted signatures."""
    from enem_spark import sigindex

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    out = "mock://bucket/sigs"
    r1 = sigindex.update_signature_index(
        spark, out, source=docs, perms=8, bands=4
    )
    assert r1["indexed"] == docs.count()
    r2 = sigindex.update_signature_index(
        spark, out, source=docs, perms=8, bands=4
    )
    assert r2["indexed"] == 0 and r2["up_to_date"]
    # re-keyed identical texts: each must hit its original in the store
    # (the estimator deliberately drops doc_id == dup_of self-pairs)
    probe_batch = docs.limit(5).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    probe = sigindex.probe_near_dups(
        spark, out, probe_batch, threshold=0.99, perms=8, bands=4
    )
    assert (
        probe.filter(F.col("doc_id") - 10_000_000 == F.col("dup_of")).count()
        == 5
    )


def test_icetable_on_mock_store(spark, mockfs):
    """The icetable commit protocol on a URI store: the version file
    commits through the conditional-put primitive (op-logged), snapshot
    isolation and time travel hold, a racing commit from the same base
    version loses with CommitConflict, and MOR row deletes apply."""
    from enem_spark.sources.icetable import CommitConflict, IceTable

    path = "mock://bucket/pages_tbl"
    df1 = spark.createDataFrame(
        [(f"u{i}", i) for i in range(10)], "url string, x long"
    )
    t = IceTable.create(spark, path, df1, sequence=100)
    assert t.read().count() == 10
    t.append(
        spark.createDataFrame([("u10", 10)], "url string, x long"),
        sequence=200,
    )
    assert t.read().count() == 11
    assert t.read(as_of=100).count() == 10  # time travel intact

    # version files went through conditional put on the mock control plane
    cond_puts = [
        pth for op, pth in mockfs.ops if op == "conditional_put"
    ]
    assert any("v00000.json" in p for p in cond_puts)
    assert any(
        "metadata/v" in p and p.startswith("mock://") for p in cond_puts
    )

    # racing commit from a stale base: the conditional put loses
    from enem_spark.sources.icetable import current_version

    stale_base = current_version(path)
    t.append(
        spark.createDataFrame([("u11", 11)], "url string, x long"),
        sequence=300,
    )
    with pytest.raises(CommitConflict):
        t._commit("append", [], 400, None, True, base_version=stale_base)

    # MOR equality delete + purge round-trip on the URI store
    t.delete_rows(
        spark.createDataFrame([("u3",)], "url string"), sequence=500
    )
    assert t.read().filter(F.col("url") == "u3").count() == 0
    t.purge_deletes(sequence=600)
    assert t.read().filter(F.col("url") == "u3").count() == 0
    assert t.read().count() == 11  # 12 rows - 1 deleted
