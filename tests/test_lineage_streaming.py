"""Checkpoint-resume + per-partition lineage + streaming ingestion tests.

north_rule: "resumable from checkpoint with per-partition lineage + metrics";
streaming is the §7.6 ingestion extension. Both paths must produce exactly
the rows the plain batch pipeline produces."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from enem_spark import corpus
from enem_spark.extract import ExtractorConfig, extract_questions
from enem_spark.lineage import run_extraction

CFG = corpus.CorpusConfig(seed=11, n_exams=4, pages_per_exam=6, questions_per_page=2)


@pytest.fixture(scope="module")
def pages_df(spark):
    return corpus.pages_dataframe(spark, CFG)


def _question_keys(df):
    return sorted(
        (r["url"], r["seq"], r["question_text"], r["correct_answer"])
        for r in df.select("url", "seq", "question_text", "correct_answer").collect()
    )


def test_run_extraction_matches_batch_and_writes_lineage(spark, pages_df, tmp_path):
    out = str(tmp_path / "run")
    cfg = ExtractorConfig(output_type="json")
    summary = run_extraction(spark, pages_df, cfg, out, run_id="r1")
    assert summary["input_pages"] > 0

    written = spark.read.parquet(f"{out}/questions")
    assert _question_keys(written) == _question_keys(extract_questions(pages_df, cfg))

    lineage = spark.read.parquet(f"{out}/lineage")
    rows = lineage.collect()
    assert rows and all(r["run_id"] == "r1" for r in rows)
    # lineage totals must reconcile with the data they describe
    totals = lineage.agg(
        F.sum("input_pages").alias("p"), F.sum("q_candidates").alias("q")
    ).first()
    assert totals["p"] == summary["input_pages"]
    assert totals["q"] >= written.count()  # candidates >= emitted (F6 drops)
    assert lineage.filter(F.col("wall_ms") <= 0).count() == 0


def test_rerun_is_noop_and_resume_processes_only_new_docs(spark, pages_df, tmp_path):
    out = str(tmp_path / "run")
    cfg = ExtractorConfig(output_type="json")
    s1 = run_extraction(spark, pages_df, cfg, out, run_id="r1")
    n1 = spark.read.parquet(f"{out}/questions").count()

    # identical rerun: every document is already in processed_docs
    s2 = run_extraction(spark, pages_df, cfg, out, run_id="r2")
    assert s2["input_pages"] == 0
    assert s2["questions_written"] == 0
    assert spark.read.parquet(f"{out}/questions").count() == n1

    # add new documents: only they are processed on resume
    bigger = corpus.CorpusConfig(seed=11, n_exams=6, pages_per_exam=6, questions_per_page=2)
    pages2 = corpus.pages_dataframe(spark, bigger)
    s3 = run_extraction(spark, pages2, cfg, out, run_id="r3")
    assert 0 < s3["input_pages"] < s1["input_pages"] + s3["input_pages"]
    combined = spark.read.parquet(f"{out}/questions")
    assert _question_keys(combined) == _question_keys(extract_questions(pages2, cfg))


def test_replay_same_run_id_is_idempotent(spark, pages_df, tmp_path):
    """foreachBatch is at-least-once: a crashed batch replays with the SAME
    run_id. Side outputs are per-run overwrite directories, so the replay
    must leave questions/processed_docs byte-identical, not doubled."""
    from enem_spark.lineage import committed_questions

    out = str(tmp_path / "replay")
    cfg = ExtractorConfig(output_type="json")
    run_extraction(spark, pages_df, cfg, out, run_id="b0")
    n1 = spark.read.parquet(f"{out}/questions").count()
    # simulate the retry: wipe the commit marker's effect by re-running the
    # exact same unit of work under the same run_id
    import shutil

    shutil.rmtree(f"{out}/runs")  # crash happened before the commit point
    summary = run_extraction(spark, pages_df, cfg, out, run_id="b0")
    assert summary["input_pages"] > 0  # uncommitted docs were retried
    assert spark.read.parquet(f"{out}/questions").count() == n1
    committed = committed_questions(spark, out)
    assert committed is not None and committed.count() == n1
    dups = (
        spark.read.parquet(f"{out}/questions")
        .groupBy("url", "seq")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_committed_run_id_reuse_never_destroys(spark, pages_df, tmp_path):
    """Re-running a CLI command with the same --run-id over GROWN input
    must not overwrite the committed run's outputs: the id re-derives to
    the replay scheme and the first run's rows survive."""
    from enem_spark.lineage import committed_questions

    out = str(tmp_path / "reuse")
    cfg = ExtractorConfig(output_type="json")
    s1 = run_extraction(spark, pages_df, cfg, out, run_id="r1")
    n1 = spark.read.parquet(f"{out}/questions").count()
    assert s1["run_id"] == "r1" and n1 > 0

    bigger = corpus.CorpusConfig(
        seed=11, n_exams=6, pages_per_exam=6, questions_per_page=2
    )
    pages2 = corpus.pages_dataframe(spark, bigger)
    s2 = run_extraction(spark, pages2, cfg, out, run_id="r1")  # same id!
    assert s2["run_id"] == "r1f000001"  # re-derived, not overwritten
    assert s2["input_pages"] > 0
    combined = committed_questions(spark, out)
    # run 1's rows survive AND the union equals a fresh full extraction
    assert combined.count() > n1
    assert _question_keys(combined) == _question_keys(
        extract_questions(pages2, cfg)
    )
    # third reuse over unchanged input: fresh derived id, nothing to do
    s3 = run_extraction(spark, pages2, cfg, out, run_id="r1")
    assert s3["input_pages"] == 0


def test_require_local_store_rejects_object_store(spark, pages_df):
    import pytest as _pytest

    from enem_spark.runfs import require_supported_store

    cfg = ExtractorConfig(output_type="json")
    with _pytest.raises(ValueError, match="s3"):
        run_extraction(spark, pages_df, cfg, "s3://bucket/out", "r1")
    require_supported_store("/plain/posix/path")  # no raise
    require_supported_store("relative/path")


def test_quarantine_table_written(spark, pages_df, tmp_path):
    import pandas as pd

    bad = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "url": "cc://junk/nometa/page/1",
                    "warc_ts": pd.Timestamp("2024-01-01"),
                    "html": None,
                    "text": "QUESTÃO 1 x",
                    "lang": "pt",
                }
            ]
        ),
        schema=pages_df.schema,
    )
    out = str(tmp_path / "runq")
    summary = run_extraction(
        spark, pages_df.unionByName(bad), ExtractorConfig(), out, run_id="rq"
    )
    assert summary["quarantined"] == 1
    q = spark.read.parquet(f"{out}/quarantine").collect()
    assert [r["url"] for r in q] == ["cc://junk/nometa/page/1"]


def test_marker_free_corpus_commits_and_is_not_retried(spark, tmp_path):
    """A run whose PV pages carry no 'QUESTÃO' marker yields ZERO questions.
    That must not crash the read-back (empty partitionBy writes no files)
    and the documents must be marked DONE — not retried forever."""
    import pandas as pd

    rows = [
        {
            "url": f"cc://enem/2017_PV_impresso_D1_CD1/page/{i}",
            "warc_ts": pd.Timestamp("2024-01-01"),
            "html": None,
            "text": "pagina sem marcador de questao",
            "lang": "pt",
        }
        for i in range(1, 4)
    ]
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=schema)
    out = str(tmp_path / "mf")
    s1 = run_extraction(spark, pages, ExtractorConfig(), out, run_id="m1")
    assert s1["input_pages"] == 3 and s1["questions_written"] == 0
    # the run COMMITTED: resume must see the docs as processed
    s2 = run_extraction(spark, pages, ExtractorConfig(), out, run_id="m2")
    assert s2["input_pages"] == 0


def test_stale_dirs_from_crashed_attempt_not_committed(spark, pages_df, tmp_path):
    """A crashed attempt of run X leaves populated run_id=x dirs; if the
    world changes before the retry (its docs get committed under another
    id) the retry may legitimately write NOTHING for some tables — but its
    commit must then CLEAR the stale dirs, or attempt 1's rows surface as
    committed output (duplicating the other run's)."""
    import os
    import shutil

    import pandas as pd

    from enem_spark.lineage import committed_questions

    out = str(tmp_path / "stale")
    cfg = ExtractorConfig(output_type="json")
    # attempt 1 of 'x': full side outputs, crash before the commit marker
    s1 = run_extraction(spark, pages_df, cfg, out, run_id="x")
    assert s1["questions_written"] > 0
    shutil.rmtree(f"{out}/runs")
    assert os.path.exists(f"{out}/questions/run_id=x")  # stale survivor

    # another run commits the same documents meanwhile
    run_extraction(spark, pages_df, cfg, out, run_id="other")
    n = committed_questions(spark, out).count()

    # retry of 'x': its old docs are anti-joined away; one new marker-free
    # document gives it pages but zero questions -> it commits
    markerless = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "url": "cc://enem/2021_PV_impresso_D1_CD2-xtra/page/1",
                    "warc_ts": pd.Timestamp("2024-02-01"),
                    "html": None,
                    "text": "pagina sem marcador",
                    "lang": "pt",
                }
            ]
        ),
        schema=pages_df.schema,
    )
    s3 = run_extraction(
        spark, pages_df.unionByName(markerless), cfg, out, run_id="x"
    )
    assert s3["input_pages"] == 1 and s3["questions_written"] == 0
    # the stale questions dir must be GONE, not committed
    assert not os.path.exists(f"{out}/questions/run_id=x")
    assert committed_questions(spark, out).count() == n


def _plant_crash_leftovers(spark, out: str) -> None:
    """What a crashed attempt under the uncommitted id ``crashed`` can leave
    behind: a processed_docs part file cut short mid-write, a garbage part
    file deep in the questions partition tree, and a main_content file
    whose doc_id has another type than the committed runs'."""
    import glob

    done = sorted(glob.glob(f"{out}/processed_docs/run_id=r1/part-*.parquet"))[0]
    with open(done, "rb") as fh:
        head = fh.read()
    os.makedirs(f"{out}/processed_docs/run_id=crashed")
    with open(f"{out}/processed_docs/run_id=crashed/part-00000-cut.parquet", "wb") as fh:
        fh.write(head[: len(head) // 2])
    os.makedirs(f"{out}/questions/run_id=crashed/year=2021/day=1")
    with open(
        f"{out}/questions/run_id=crashed/year=2021/day=1/part-00000-junk.parquet", "wb"
    ) as fh:
        fh.write(b"not a parquet file")
    spark.createDataFrame(
        [("not-a-bigint", "https://ex.org/crashed", "text")],
        "doc_id string, url string, main_text string",
    ).write.parquet(f"{out}/main_content/run_id=crashed")


def _all_rows(df) -> list[str]:
    return sorted(str(tuple(r)) for r in df.select(*sorted(df.columns)).collect())


def _html_pages(spark, ids):
    return spark.createDataFrame(
        [
            (
                i,
                f"https://ex.org/d/{i}",
                (
                    "<html><body><p>"
                    + " ".join(f"palavra{(i * 7 + k) % 53}" for k in range(40))
                    + f" documento {i}.</p></body></html>"
                ).encode(),
            )
            for i in ids
        ],
        "doc_id bigint, url string, html binary",
    )


def test_crashed_attempt_leftovers_never_wedge_resume_or_readers(
    spark, pages_df, tmp_path
):
    """Readers and resume read exactly the committed run dirs, so nothing
    a crashed attempt left under an uncommitted run_id is listed, inferred
    or scanned: the next run resumes with the same summary as over a clean
    out_dir, and the committed readers return exactly r1's rows."""
    from enem_spark.lineage import (
        committed_main_content,
        committed_questions,
        run_html_extraction,
    )

    cfg = ExtractorConfig(output_type="json")
    bigger = corpus.pages_dataframe(
        spark,
        corpus.CorpusConfig(seed=11, n_exams=6, pages_per_exam=6, questions_per_page=2),
    )
    summaries = {}
    for kind in ("clean", "dirty"):
        out = str(tmp_path / f"exam_{kind}")
        run_extraction(spark, pages_df, cfg, out, run_id="r1")
        if kind == "dirty":
            want = _all_rows(spark.read.parquet(f"{out}/questions"))
            _plant_crash_leftovers(spark, out)
            assert _all_rows(committed_questions(spark, out)) == want
        summaries[kind] = run_extraction(spark, bigger, cfg, out, run_id="r2")
    assert summaries["dirty"] == summaries["clean"]
    assert summaries["dirty"]["input_pages"] > 0

    for kind in ("clean", "dirty"):
        out = str(tmp_path / f"html_{kind}")
        run_html_extraction(spark, _html_pages(spark, range(6)), out, run_id="r1")
        if kind == "dirty":
            want = _all_rows(spark.read.parquet(f"{out}/main_content"))
            _plant_crash_leftovers(spark, out)
            assert _all_rows(committed_main_content(spark, out)) == want
        summaries[kind] = run_html_extraction(
            spark, _html_pages(spark, range(10)), out, run_id="r2"
        )
    assert summaries["dirty"] == summaries["clean"]
    assert summaries["dirty"]["input_pages"] == 4


def test_quarantine_only_run_commits(spark, tmp_path):
    """A batch containing ONLY contract-violating pages must still commit,
    so its quarantine rows become reader-visible and dedup-able."""
    import pandas as pd
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    bad = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "url": "cc://junk/nometa/page/1",
                    "warc_ts": pd.Timestamp("2024-01-01"),
                    "html": None,
                    "text": "x",
                    "lang": "pt",
                }
            ]
        ),
        schema=schema,
    )
    out = str(tmp_path / "qonly")
    s1 = run_extraction(spark, bad, ExtractorConfig(), out, run_id="q1")
    assert s1["quarantined"] == 1
    from enem_spark.lineage import committed_run_ids

    committed = committed_run_ids(spark, out)
    assert committed is not None
    assert [r["run_id"] for r in committed.collect()] == ["q1"]
    # second sight of the same bad url dedups against the committed row
    s2 = run_extraction(spark, bad, ExtractorConfig(), out, run_id="q2")
    assert s2["quarantined"] == 0


def _spark_jobs_started(spark, fn) -> int:
    """Spark jobs ``fn`` starts, counted through the status tracker under
    a fresh job group. A control job runs last in the same group: the
    tracker is fed asynchronously and in order, so once the control job
    is visible every earlier job of the group is too."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
        sc.parallelize([0], 1).count()  # control: exactly one job
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 30
    while not (ids := sc.statusTracker().getJobIdsForGroup(group)):
        assert time.time() < deadline, "control job never reached the tracker"
        time.sleep(0.05)
    return len(ids) - 1


def test_marker_commit_and_committed_reads_run_no_spark_job(spark, tmp_path):
    """The commit ledger is driver-side: publishing a marker and reading
    the committed ids (as a set, as a frame, and collected) start no
    Spark job, and neither does a known-schema resume read."""
    from enem_spark import lineage

    out = str(tmp_path / "ledger")
    spark.createDataFrame([("d1",), ("d2",)], "doc_id string").write.parquet(
        f"{out}/processed_docs/run_id=r1"
    )

    def commit_and_read():
        lineage.append_run_marker(spark, out, "r1", 5, 3)
        assert lineage.committed_id_set(out) == {"r1"}
        ids = lineage.committed_run_ids(spark, out)
        assert [r.run_id for r in ids.collect()] == ["r1"]
        lineage.processed_doc_ids(spark, out, "string")

    assert _spark_jobs_started(spark, commit_and_read) == 0
    # the probe sees jobs when there are some
    assert _spark_jobs_started(
        spark, lambda: spark.read.parquet(f"{out}/processed_docs").collect()
    ) >= 1
    done = lineage.processed_doc_ids(spark, out, "string")
    assert sorted(r.doc_id for r in done.collect()) == ["d1", "d2"]
    assert done.schema.simpleString() == "struct<doc_id:string>"


def test_driver_marker_reads_back_through_spark_with_marker_schema(spark, tmp_path):
    import pyspark.sql.types as T

    from enem_spark import lineage

    out = str(tmp_path / "ledger")
    lineage.append_run_marker(spark, out, "r1", 7, 4)
    runs = spark.read.parquet(f"{out}/runs")
    assert runs.schema == lineage.RUNS_MARKER_SCHEMA
    assert [tuple(r) for r in runs.collect()] == [("r1", 7, 4)]


def test_legacy_spark_marker_and_driver_marker_both_committed(spark, tmp_path):
    """A runs/ table written by the older Spark append writer stays
    readable next to driver-written markers."""
    from enem_spark import lineage

    out = str(tmp_path / "ledger")
    spark.createDataFrame([("old", 1, 1)], lineage.RUNS_MARKER_SCHEMA).write.mode(
        "append"
    ).parquet(f"{out}/runs")
    lineage.append_run_marker(spark, out, "new", 2, 2)
    assert lineage.committed_id_set(out) == {"old", "new"}
    committed = lineage.committed_run_ids(spark, out)
    assert sorted(r.run_id for r in committed.collect()) == ["new", "old"]
    both = spark.read.parquet(f"{out}/runs")
    assert sorted(tuple(r) for r in both.collect()) == [
        ("new", 2, 2),
        ("old", 1, 1),
    ]


def test_document_stream_page_at_a_time(spark, pages_df, tmp_path):
    """Pages of one document straddle two micro-batches; the completeness
    horizon delays its release until all pages are staged, and the lineage
    anti-join keeps the extraction exactly-once (no duplicate rows)."""
    from enem_spark.streaming import (
        flush_staging,
        read_pages_stream,
        start_document_stream,
    )

    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")
    cfg = ExtractorConfig(output_type="json")

    # split one PV document's pages across two source files
    straddler = (
        pages_df.filter(F.col("url").contains("PV"))
        .select(F.regexp_extract("url", r"^(.*)/page/\d+$", 1).alias("d"))
        .first()["d"]
    )
    part1 = pages_df.filter(
        F.col("url").startswith(straddler)
        & (F.regexp_extract("url", r"/page/(\d+)$", 1).cast("int") <= 2)
    )
    part2 = pages_df.exceptAll(part1)
    part1.coalesce(1).write.parquet(f"{src}/f1")
    part2.coalesce(1).write.parquet(f"{src}/f2")

    stream = spark.readStream.schema(pages_df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{src}/*")
    q = start_document_stream(
        stream.withWatermark("warc_ts", "10 seconds").dropDuplicatesWithinWatermark(
            ["url"]
        ),
        cfg,
        out,
        ckpt,
        completeness_delay_s=30,
    )
    q.awaitTermination(300)
    flush_staging(spark, cfg, out)

    got = spark.read.parquet(f"{out}/questions")
    assert _question_keys(got) == _question_keys(extract_questions(pages_df, cfg))
    dups = got.groupBy("url", "seq").count().filter(F.col("count") > 1).count()
    assert dups == 0


def test_compaction_drops_quarantined_pv_pages(spark, tmp_path):
    """A PV-looking page with a broken filename contract never reaches
    processed_docs; once its quarantine row commits, compaction must still
    be able to drop its staging dir (regression: the quarantine filter only
    applied to unknown-kind pages)."""
    import os

    import pandas as pd
    import pyspark.sql.types as T

    from enem_spark.streaming import compact_staging

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    bad_pv = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "url": "cc://enem/2017_PV_impresso_D1_noColor/page/1",
                    "warc_ts": pd.Timestamp("2024-01-01"),
                    "html": None,
                    "text": "QUESTÃO 1 x",
                    "lang": "pt",
                }
            ]
        ),
        schema=schema,
    )
    out = str(tmp_path / "qc")
    bad_pv.write.parquet(f"{out}/staging/batch_id=0")
    # before any committed quarantine row: the page is live, dir survives
    assert compact_staging(spark, out) == 0
    s = run_extraction(spark, bad_pv, ExtractorConfig(), out, run_id="c1")
    assert s["quarantined"] == 1
    assert compact_staging(spark, out) == 1
    assert not os.listdir(f"{out}/staging")


def test_stream_quarantines_noise_urls_and_compacts(spark, pages_df, tmp_path):
    """A live tail receiving pt pages whose url is neither PV nor GB must
    quarantine them THROUGH the stream (not only at flush) so compaction
    can drop their staging dirs — otherwise they pin staging forever."""
    import os

    import pandas as pd

    from enem_spark.streaming import start_document_stream

    src = str(tmp_path / "nsrc")
    out = str(tmp_path / "nout")
    ckpt = str(tmp_path / "nckpt")
    cfg = ExtractorConfig(output_type="json")

    noise = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "url": "cc://junk/banner-ad/page/1",
                    "warc_ts": pd.Timestamp("2024-06-01"),
                    "html": None,
                    "text": "cookie banner noise",
                    "lang": "pt",
                }
            ]
        ),
        schema=pages_df.schema,
    )
    pages_df.unionByName(noise).coalesce(1).write.parquet(f"{src}/f1")

    stream = spark.readStream.schema(pages_df.schema).parquet(f"{src}/*")
    q = start_document_stream(stream, cfg, out, ckpt, completeness_delay_s=0)
    q.awaitTermination(300)

    quarantined = spark.read.parquet(f"{out}/quarantine")
    assert [r["url"] for r in quarantined.collect()] == ["cc://junk/banner-ad/page/1"]
    staged_dirs = (
        [d for d in os.listdir(f"{out}/staging") if d.startswith("batch_id=")]
        if os.path.exists(f"{out}/staging")
        else []
    )
    assert staged_dirs == [], f"noise url pinned staging: {staged_dirs}"


def test_late_answer_key_held_by_key_grace(spark, pages_df, tmp_path):
    """Exactly-once makes a keyless extraction irreversible: a PV document
    whose answer key arrives LATER must be held back (key_grace_s), then
    extracted with the real key — no MISSING_ANSWER rows."""
    from enem_spark import oracle
    from enem_spark.streaming import flush_staging, start_document_stream

    src = str(tmp_path / "ksrc")
    out = str(tmp_path / "kout")
    ckpt = str(tmp_path / "kckpt")
    cfg = ExtractorConfig(output_type="json")

    docs = sorted(
        r["d"]
        for r in pages_df.select(
            F.regexp_extract("url", r"^(.*)/page/\d+$", 1).alias("d")
        )
        .distinct()
        .collect()
        if "PV" in r["d"]
    )
    doc1 = docs[0]
    pv1 = pages_df.filter(F.col("url").startswith(doc1))
    pv_rest = pages_df.filter(
        ~F.col("url").startswith(doc1) & ~F.col("url").contains("GB")
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 600 SECONDS"))
    gb = pages_df.filter(F.col("url").contains("GB")).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 700 SECONDS")
    )

    # mtime order = arrival order: doc1, then the rest (advancing the
    # horizon far past doc1's completeness), then — late — the keys
    import time

    pv1.coalesce(1).write.parquet(f"{src}/a")
    time.sleep(1.2)
    pv_rest.coalesce(1).write.parquet(f"{src}/b")
    time.sleep(1.2)
    gb.coalesce(1).write.parquet(f"{src}/c")

    stream = spark.readStream.schema(pages_df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{src}/*")
    q = start_document_stream(
        stream, cfg, out, ckpt,
        completeness_delay_s=30, key_grace_s=100_000,
    )
    q.awaitTermination(300)
    flush_staging(spark, cfg, out)

    got = spark.read.parquet(f"{out}/questions")
    missing = got.filter(
        F.col("correct_answer") == oracle.MISSING_ANSWER
    ).count()
    assert missing == 0, f"{missing} questions extracted before their key arrived"
    assert got.count() == extract_questions(pages_df, cfg).count()


def test_second_streaming_invocation_preserves_first_flush(spark, pages_df, tmp_path):
    """The supported resume flow runs the streaming job twice over the same
    --output. Each flush must get a UNIQUE run_id: a reused 'flush' id would
    overwrite the first invocation's committed questions while its commit
    marker still stands — silent data loss."""
    from enem_spark.streaming import flush_staging

    out = str(tmp_path / "two")
    cfg = ExtractorConfig(output_type="json")

    docs = [
        r["d"]
        for r in pages_df.select(
            F.regexp_extract("url", r"^(.*)/page/\d+$", 1).alias("d")
        )
        .distinct()
        .collect()
        if "PV" in r["d"]
    ]
    first_doc = docs[0]
    part1 = pages_df.filter(
        F.col("url").startswith(first_doc) | F.col("url").contains("GB")
    )
    # invocation 1: stage part1, flush
    part1.write.mode("overwrite").parquet(f"{out}/staging/batch_id=0")
    s1 = flush_staging(spark, cfg, out)
    assert s1["run_id"] == "flush_0" and s1["questions_written"] > 0
    n1 = spark.read.parquet(f"{out}/questions").count()

    # invocation 2: stage everything (old pages re-staged too), flush again
    pages_df.write.mode("overwrite").parquet(f"{out}/staging/batch_id=1")
    s2 = flush_staging(spark, cfg, out)
    assert s2["run_id"] == "flush_1"

    from enem_spark.lineage import committed_questions

    combined = committed_questions(spark, out)
    assert _question_keys(combined) == _question_keys(extract_questions(pages_df, cfg))
    # the first flush's directory was NOT overwritten
    assert spark.read.parquet(f"{out}/questions/run_id=flush_0").count() == n1


def test_staging_compaction_bounds_footprint(spark, pages_df, tmp_path):
    """Long-tail hazard: staging grew with the stream because every batch
    re-read it in full. After compaction, batch dirs whose documents are all
    committed are deleted; with availableNow + delay 0 every doc settles in
    its own batch, so staging ends EMPTY while gb_store (the persistent
    answer-key dimension) survives."""
    import os

    from enem_spark.streaming import flush_staging, start_document_stream

    src = str(tmp_path / "csrc")
    out = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    cfg = ExtractorConfig(output_type="json")

    # GB files first (older mtime -> earlier micro-batch: with delay 0 a PV
    # doc settles the moment it is staged, so its key must already be in
    # gb_store), then one file per PV-document group
    import time

    gb = pages_df.filter(F.col("url").contains("GB"))
    pv = pages_df.filter(~F.col("url").contains("GB"))
    gb.coalesce(1).write.parquet(f"{src}/g")
    time.sleep(1.2)
    pv.withColumn(
        "doc", F.regexp_extract("url", r"^(.*)/page/\d+$", 1)
    ).repartition("doc").drop("doc").write.parquet(f"{src}/p")

    stream = spark.readStream.schema(pages_df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{src}/*")
    q = start_document_stream(
        stream, cfg, out, ckpt, completeness_delay_s=0, compact=True
    )
    q.awaitTermination(300)
    flush_staging(spark, cfg, out)

    staged_dirs = (
        [d for d in os.listdir(f"{out}/staging") if d.startswith("batch_id=")]
        if os.path.exists(f"{out}/staging")
        else []
    )
    assert staged_dirs == [], f"staging not compacted: {staged_dirs}"
    assert os.path.exists(f"{out}/gb_store")

    got = spark.read.parquet(f"{out}/questions")
    assert _question_keys(got) == _question_keys(extract_questions(pages_df, cfg))


def test_stateful_user_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: running per-user totals must survive the
    micro-batch boundary (state store) and converge to the batch aggregate."""
    from enem_spark.streaming import stateful_user_totals

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "esrc")
    a, b = events.randomSplit([0.5, 0.5], seed=7)
    a.coalesce(1).write.parquet(f"{src}/p1")
    b.coalesce(1).write.parquet(f"{src}/p2")

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{src}/*")
    q = (
        stateful_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "eckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # memory sink accumulates one row per (user, update); the final state is
    # the max-n_events row per user (totals are monotone)
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 4))
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rn
                 FROM user_totals) WHERE rn = 1"""
        ).collect()
    }
    exp = {
        r["user_id"]: (r["n"], round(r["t"], 4))
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert got == exp


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Closed sessions from the stateful streaming sessionizer must agree
    with textops.sessionize's batch session boundaries: every emitted
    session is a batch session (same seq, same event count), and every
    NON-FINAL session per user is emitted (the final one may stay open in
    state when the stream ends)."""
    from enem_spark import textops
    from enem_spark.streaming import streaming_sessionize

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ssrc")
    # split by TIME, not randomly: watermark semantics only promise
    # correctness for data no later than the watermark, and a random split
    # delivers arbitrarily late events
    ts_sorted = sorted(r["ts"] for r in events.select("ts").collect())
    median = ts_sorted[len(ts_sorted) // 2]
    a = events.filter(F.col("ts") <= F.lit(median))
    b = events.filter(F.col("ts") > F.lit(median))
    a.coalesce(1).write.parquet(f"{src}/p1")
    import time

    time.sleep(1.2)  # mtime order = arrival order
    b.coalesce(1).write.parquet(f"{src}/p2")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        # watermarks require TIMESTAMP (with zone); the testdata is NTZ
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 minute")
    )
    q = (
        streaming_sessionize(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["user_id"], r["session_seq"]): r["n_events"]
        for r in spark.sql("SELECT * FROM closed_sessions").collect()
    }
    batch = (
        textops.sessionize(events, gap_minutes=30)
        .groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    exp = {(r["user_id"], r["session_seq"]): r["n"] for r in batch}
    last_seq = {}
    for (u, s) in exp:
        last_seq[u] = max(last_seq.get(u, 0), s)

    assert got, "no sessions closed"
    for k, n in got.items():
        assert exp.get(k) == n, f"session {k}: stream {n} vs batch {exp.get(k)}"
    missing = [
        (u, s)
        for (u, s), n in exp.items()
        if s < last_seq[u] and (u, s) not in got
    ]
    assert not missing, f"{len(missing)} non-final sessions never closed"


def test_windowed_counts_with_late_data(spark, pages_df, tmp_path):
    """Watermarked tumbling windows over the pages stream: append-mode
    output equals the batch windowed aggregate for all windows closed by
    the watermark (late rows inside the horizon are still counted)."""
    from enem_spark.streaming import windowed_page_counts

    src = str(tmp_path / "wsrc")
    out = str(tmp_path / "wout")
    ckpt = str(tmp_path / "wckpt")
    pages_df.write.parquet(src)

    stream = spark.readStream.schema(pages_df.schema).parquet(src)
    q = (
        windowed_page_counts(stream, window="1 hour", watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["window_start"], r["lang"]): (r["n_pages"], r["n_chars"])
        for r in spark.read.parquet(out).collect()
    }
    batch = (
        pages_df.groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(F.count("*").alias("n"), F.sum(F.length("text")).alias("c"))
        .collect()
    )
    exp = {(r["w"]["start"], r["lang"]): (r["n"], r["c"]) for r in batch}
    # append mode withholds windows the watermark has not closed; everything
    # emitted must match the batch truth, and most windows must have closed
    assert got, "no windows emitted"
    for k, v in got.items():
        assert exp[k] == v, k
    assert len(got) >= len(exp) - 2


def test_streaming_matches_batch(spark, pages_df, tmp_path):
    """availableNow file stream through the document stream == batch
    pipeline output, including dedup of a re-crawled (duplicate-url)
    page by the reader."""
    from enem_spark.lineage import committed_questions
    from enem_spark.streaming import (
        flush_staging,
        read_pages_stream,
        start_document_stream,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = ExtractorConfig(output_type="json")

    # one parquet file per document (whole-document delivery per micro-batch)
    pages_df.withColumn(
        "doc", F.regexp_extract("url", r"^(.*)/page/\d+$", 1)
    ).repartition("doc").drop("doc").write.parquet(src)
    # a duplicated page file: same urls again -> must be dropped by dedup
    pages_df.limit(3).write.mode("append").parquet(src)

    stream = read_pages_stream(spark, src, watermark="10 seconds")
    q = start_document_stream(stream, cfg, out, ckpt, completeness_delay_s=0)
    q.awaitTermination(300)
    flush_staging(spark, cfg, out)

    got = committed_questions(spark, out)
    assert _question_keys(got) == _question_keys(extract_questions(pages_df, cfg))


def test_streaming_sessionize_timeout_keeps_seq_and_survives_late_key(
    spark, tmp_path
):
    """Two regressions: (1) a timeout-closed session must NOT reset the
    user's session_seq — the next session continues the cumulative batch
    numbering; (2) a fresh key whose events are ALL below the watermark
    must not crash the worker (previously armed a timeout off last=None)."""
    import time

    import pandas as pd

    from enem_spark.streaming import streaming_sessionize

    T = pd.Timestamp("2024-01-01 00:00:00")

    def m(mins):
        return T + pd.Timedelta(minutes=mins)

    files = [
        # f1: u1 session 1 (2 events); u2 anchor
        [(1, 10, m(0)), (1, 11, m(1)), (2, 20, m(0))],
        # f2: u2 advances the watermark past u1's last+gap
        [(2, 21, m(40))],
        # f3: u2 keeps flowing; u1 absent -> u1 session 1 closes via TIMEOUT
        [(2, 22, m(41))],
        # f4: u1 returns (session 2); u3's only events are far below the
        # watermark (all dropped -> must not crash, must not emit)
        [(1, 12, m(60)), (1, 13, m(61)), (3, 30, m(5)), (3, 31, m(6))],
        # f5+f6: u2 advances the watermark so u1 session 2 times out too
        [(2, 23, m(200))],
        [(2, 24, m(201))],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=["user_id", "event_id", "ts"]).astype(
            {"ts": "datetime64[us]"}  # Spark reads micros, not pandas nanos
        ).to_parquet(f"{src}/f{i}.parquet")
        time.sleep(1.2)  # mtime order = arrival order

    schema = "user_id long, event_id long, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 minute")
    )
    q = (
        streaming_sessionize(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("seq_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM seq_sessions").collect()
    u1 = {r["session_seq"]: r["n_events"] for r in rows if r["user_id"] == 1}
    assert u1 == {1: 2, 2: 2}  # seq 2, not a duplicated seq 1
    assert not [r for r in rows if r["user_id"] == 3]  # dropped, no crash


def test_images_side_output_under_run_protocol(spark, pages_df):
    """process_images=True writes the binary images table as a side
    output under the exactly-once protocol: one row per image span,
    committed with the run, and a resumed run (new run_id, same pages)
    rewrites NOTHING — the reference's images dir semantics without the
    silent-overwrite hazard."""
    import os

    from enem_spark.extract import ExtractorConfig, materialize_images

    out = "/tmp/lineage_imgtest"
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    cfg = ExtractorConfig(output_type="json", process_images=True)
    s1 = run_extraction(spark, pages_df, cfg, out, run_id="i1")
    expected = materialize_images(pages_df).count()
    assert s1["images_written"] == expected > 0
    from enem_spark.lineage import committed_table

    imgs = committed_table(spark, out, "images")
    assert imgs.count() == expected
    assert set(imgs.select("run_id").distinct().toPandas()["run_id"]) == {"i1"}
    # image_name follows the reference's output convention
    r = imgs.select("image_name", "page_idx", "image_index").first()
    assert r["image_name"].endswith(f"page{r['page_idx']}_{r['image_index']}.png")

    # full replay under a NEW run id: nothing re-extracted, no images dir
    s2 = run_extraction(spark, pages_df, cfg, out, run_id="i2")
    assert s2["images_written"] == 0 and s2["input_pages"] == 0
    assert not os.path.exists(f"{out}/images/run_id=i2")
    assert committed_table(spark, out, "images").count() == expected

    # orphan dir from a crashed attempt: invisible to the committed reader
    spark.read.parquet(f"{out}/images/run_id=i1").withColumn(
        "image_index", F.col("image_index") + 1000
    ).write.mode("overwrite").parquet(f"{out}/images/run_id=crashed")
    assert committed_table(spark, out, "images").count() == expected
    shutil.rmtree(out, ignore_errors=True)


def test_fresh_checkpoint_incarnation_never_clobbers_committed_state(
    spark, pages_df, tmp_path
):
    """Review finding (r3): batch ids restart at 0 under a fresh
    checkpoint. Incarnation 2's batch 0 must neither overwrite
    incarnation 1's committed batch_0 run (derive_replay_run_id) nor its
    staged/gb_store batch dirs (per-incarnation dir token) — both were
    silent-loss paths."""
    from enem_spark.streaming import flush_staging, start_document_stream

    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    out = str(tmp_path / "out")
    cfg = ExtractorConfig(output_type="json")

    pv_docs = sorted(
        r["d"]
        for r in pages_df.select(
            F.regexp_extract("url", r"^(.*)/page/\d+$", 1).alias("d")
        ).distinct().collect()
        if "PV" in r["d"]
    )
    first = pv_docs[: len(pv_docs) // 2]
    is_first = F.lit(False)
    for d in first:
        is_first = is_first | F.col("url").startswith(d)
    half1 = pages_df.filter(F.col("url").contains("GB") | is_first)
    half2 = pages_df.filter(~F.col("url").contains("GB") & ~is_first)
    half1.coalesce(1).write.parquet(f"{src1}/a")
    half2.coalesce(1).write.parquet(f"{src2}/a")

    # incarnation 1: fresh checkpoint, extracts half1 as its batch 0
    q = start_document_stream(
        spark.readStream.schema(pages_df.schema).parquet(f"{src1}/*"),
        cfg, out, str(tmp_path / "ck1"), completeness_delay_s=0,
        key_grace_s=0,
    )
    q.awaitTermination(300)
    n1 = spark.read.parquet(f"{out}/questions").count()
    assert n1 > 0

    # incarnation 2: NEW checkpoint dir, batch ids restart at 0 with
    # DIFFERENT data
    q2 = start_document_stream(
        spark.readStream.schema(pages_df.schema).parquet(f"{src2}/*"),
        cfg, out, str(tmp_path / "ck2"), completeness_delay_s=0,
        key_grace_s=0,
    )
    q2.awaitTermination(300)
    flush_staging(spark, cfg, out)

    got = spark.read.parquet(f"{out}/questions")
    # incarnation 1's questions survived AND incarnation 2's landed:
    # together they equal the one-shot batch extraction
    assert got.count() == extract_questions(pages_df, cfg).count()
