"""Determinism + CLI coverage.

The corpus and the bridge must be pure functions of their seeds (no wall
clock, no ambient RNG) — retries, reruns, and other machines must produce
byte-identical inputs; the job CLI must work as a subprocess the way
spark-submit would run it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from enem_spark import corpus
from enem_spark.sources.documents_bridge import gb_text_for, page_text_for

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_corpus_generation_is_deterministic():
    cfg = corpus.CorpusConfig(seed=99, n_exams=5, pages_per_exam=6)
    a = corpus.to_rows(corpus.generate(cfg), cfg.seed)
    b = corpus.to_rows(corpus.generate(cfg), cfg.seed)
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra == rb


def test_corpus_urls_unique_at_any_scale():
    """Regression: (year, day, color) cycles every 8 exams — urls must stay
    distinct anyway (the skew bench uses n_exams=256)."""
    cfg = corpus.CorpusConfig(seed=3, n_exams=40, pages_per_exam=3)
    rows = corpus.to_rows(corpus.generate(cfg), cfg.seed)
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls))


def test_bridge_is_deterministic():
    assert page_text_for(123, "alpha beta gamma delta " * 5, 2022) == page_text_for(
        123, "alpha beta gamma delta " * 5, 2022
    )
    assert gb_text_for(2021, "D2") == gb_text_for(2021, "D2")
    # D2 keys must cover probe range 91..181 inclusive
    assert "\n181\n" in gb_text_for(2021, "D2")


def test_extract_job_cli_batch(tmp_path, spark):
    """The spark-submit-shaped CLI runs as a subprocess and resumes."""
    src = str(tmp_path / "pages")
    corpus.pages_dataframe(
        spark, corpus.CorpusConfig(seed=17, n_exams=2, pages_per_exam=4)
    ).write.parquet(src)
    out = str(tmp_path / "out")

    def run(run_id):
        p = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "jobs", "extract_job.py"),
                "--input", src, "--output", out,
                "--run-id", run_id, "--cores", "2",
            ],
            capture_output=True,
            text=True,
            timeout=300,
            cwd=REPO,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        return json.loads(
            [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
        )

    s1 = run("r1")
    assert s1["input_pages"] > 0 and s1["questions_written"] > 0
    s2 = run("r2")
    assert s2["input_pages"] == 0  # document-granular resume across processes


def test_extract_job_cli_streaming_drops_redelivered_pages(tmp_path, spark):
    """--streaming reads through the url-deduping pages reader: a file
    that re-delivers pages must not fan their questions out or shift the
    numbering of later questions in the document."""
    from enem_spark.extract import ExtractorConfig, extract_questions
    from enem_spark.lineage import committed_questions

    src = str(tmp_path / "pages")
    pages = corpus.pages_dataframe(
        spark, corpus.CorpusConfig(seed=17, n_exams=2, pages_per_exam=4)
    )
    pages.write.parquet(src)
    pages.limit(3).write.mode("append").parquet(src)
    out = str(tmp_path / "out")
    p = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", "extract_job.py"),
            "--input", src, "--output", out,
            "--streaming", "--cores", "2",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert p.returncode == 0, p.stderr[-2000:]

    def keys(df):
        return sorted(
            (r["url"], r["seq"], r["question_text"])
            for r in df.select("url", "seq", "question_text").collect()
        )

    want = keys(extract_questions(pages, ExtractorConfig()))
    assert want
    assert keys(committed_questions(spark, out)) == want


def test_spark_submit_py_files(tmp_path, spark):
    """The north-rule deployment shape, for real: zip the package, copy the
    job script AWAY from the repo, and run it via `spark-submit --py-files
    enem_spark.zip` from a cwd that does NOT contain the package — imports
    on the driver and the Python workers must resolve from the zip alone."""
    import shutil
    import zipfile

    src = str(tmp_path / "pages")
    corpus.pages_dataframe(
        spark, corpus.CorpusConfig(seed=23, n_exams=2, pages_per_exam=4)
    ).write.parquet(src)
    out = str(tmp_path / "out")

    pkg_zip = str(tmp_path / "enem_spark.zip")
    pkg_dir = os.path.join(REPO, "enem_spark")
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    job = str(tmp_path / "extract_job.py")
    shutil.copy(os.path.join(REPO, "jobs", "extract_job.py"), job)

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [
            spark_submit, "--master", "local[2]",
            "--py-files", pkg_zip,
            job,
            "--input", src, "--output", out,
            "--run-id", "s1", "--cores", "2",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),
        env=env,
    )
    assert p.returncode == 0, (p.stderr[-3000:], p.stdout[-500:])
    summary = json.loads(
        [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert summary["input_pages"] > 0 and summary["questions_written"] > 0


def test_extract_job_cli_html_sig_index_and_wet(tmp_path, spark):
    """--html with --sig-index + --wet-out: first run extracts, signs, and
    exports; the re-run is a document-granular no-op whose sig update
    commits nothing and whose WET re-export is byte-identical."""
    from enem_spark.htmlops import synth_html_pages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "pages")
    synth_html_pages(docs.limit(60)).write.parquet(src)
    out = str(tmp_path / "out")
    wet = str(tmp_path / "wet")
    wat = str(tmp_path / "wat")

    def run(run_id):
        p = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "jobs", "extract_job.py"),
                "--input", src, "--output", out, "--html",
                "--run-id", run_id, "--cores", "2",
                "--sig-index", "--wet-out", wet, "--wet-shards", "4",
                "--wat-out", wat,
            ],
            capture_output=True,
            text=True,
            timeout=300,
            cwd=REPO,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        return json.loads(
            [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
        )

    s1 = run("r1")
    assert s1["main_rows"] == 60
    assert s1["sig_index"]["indexed"] == 60
    assert sum(w["n_records"] for w in s1["wet"]) == 60
    for w in s1["wet"]:
        assert os.path.exists(w["file"])

    assert sum(w["n_records"] for w in s1["wat"]) == 60
    for w in s1["wat"]:
        assert os.path.exists(w["file"])

    s2 = run("r2")
    assert s2["input_pages"] == 0
    assert s2["sig_index"] == {
        "indexed": 0,
        "run_id": "sig128x16_000002",
        "up_to_date": True,
    }
    assert {w["shard_id"]: w["wet_md5"] for w in s2["wet"]} == {
        w["shard_id"]: w["wet_md5"] for w in s1["wet"]
    }
    # WAT describes the raw input crawl: the re-run re-exports the same
    # byte-identical shards regardless of extraction state
    assert {w["shard_id"]: w["wat_md5"] for w in s2["wat"]} == {
        w["shard_id"]: w["wat_md5"] for w in s1["wat"]
    }
