"""The three workloads: one production entry point each, run to its
committed ``runs`` marker over seeded input tables.

Sizes are chosen so that one run of each workload, with its session start
and cold op, fits the benchmark's time budget on a 4-core host; the fixed
cost of an op (Spark jobs, commit protocol) dominates at these sizes, which
is what the production per-run and per-micro-batch costs are made of.
"""

from __future__ import annotations

import json
import os

from perfbench import inputs

EXAM_DOCS = 2400  # 100 exams of 24 pages (documents_bridge shape)
EXAM_FILES = 16
HTML_DOCS = 4800
ICE_REFETCH_EVERY = 50  # 2% of urls fetched twice in the snapshot range
ICE_SNAPSHOTS = 4
STREAM_FILES = 16
STREAM_BATCHES = 4
WARM_BATCHES = 2  # micro-batches of the stream's cold op


class Workload:
    """``prepare`` builds the inputs and their reference digests for a seed
    (cached per workload, seed and size); ``op`` runs the entry point;
    ``check`` validates an op's committed output.

    Set-up's cold op runs over the main input, except where ``warm_slice``
    is set: the stream's cold op catches up two micro-batches (the first
    half of the files), which already runs every plan a batch runs,
    including those of a batch that finds committed state before it."""

    name = ""
    size = 0
    cols: tuple = ()
    warm_slice = False
    # seconds of one warm op on a 4-core host; a run makes
    # ceil(--seconds / op_s) ops, the same count every run
    op_s = 1.0

    def key(self, warm: bool) -> str:
        return "warm" if warm and self.warm_slice else "main"

    def layout(self) -> str:
        """What besides the seed decides the inputs (the cache key)."""
        return str(self.size)

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.dir = os.path.join(work, "inputs", f"{self.name}-{seed}-{self.layout()}")
        self.ref: dict = {}

    def prepare(self) -> None:
        ref_path = os.path.join(self.work, "refs", f"{self.name}-{self.seed}-{self.layout()}.json")
        ready = os.path.join(self.dir, "_READY")
        if not os.path.exists(ready) or not os.path.exists(ref_path):
            inputs.reset_dir(self.dir)
            ref = self.build(inputs.documents(self.seed, self.size))
            os.makedirs(os.path.dirname(ref_path), exist_ok=True)
            with open(ref_path, "w") as fh:
                json.dump(ref, fh)
            open(ready, "w").close()
        with open(ref_path) as fh:
            self.ref = json.load(fh)

    def build(self, docs) -> dict:
        raise NotImplementedError

    def op(self, spark, out: str, warm: bool) -> dict:
        raise NotImplementedError

    def committed(self, spark, out: str):
        from enem_spark.lineage import committed_main_content

        return committed_main_content(spark, out)

    def check(self, spark, out: str, res: dict, warm: bool) -> list[str]:
        """Errors of one op: its committed rows must hash equal to the
        reference, and its counts must reconcile."""
        key = self.key(warm)
        want = self.ref[key]
        df = self.committed(spark, out)
        got = [0, 0] if df is None else inputs.spark_digest(df, self.cols)
        errs = []
        if res["docs"] is None:
            res["docs"] = got[0]
        if got != want:
            errs.append(f"committed digest {got} != reference {want}")
        if res["docs"] != self.ref[f"n_{key}"]:
            errs.append(f"committed {res['docs']} docs, expected {self.ref[f'n_{key}']}")
        return errs + self.check_more(res, warm)

    def check_more(self, res: dict, warm: bool) -> list[str]:
        return []


class ExamBatch(Workload):
    name = "exam_batch"
    size = EXAM_DOCS
    cols = inputs.EXAM_COLS
    op_s = 3.5

    def build(self, docs) -> dict:
        return {
            "main": inputs.digest(inputs.exam_reference(docs)),
            "n_main": inputs.write_exam_store(f"{self.dir}/main", docs, EXAM_FILES),
        }

    def op(self, spark, out, warm):
        from enem_spark.extract import ExtractorConfig
        from enem_spark.lineage import run_extraction

        s = run_extraction(
            spark, spark.read.parquet(f"{self.dir}/main"), ExtractorConfig(), out, "run1"
        )
        return {"docs": s["input_pages"], "summary": s}

    def committed(self, spark, out):
        from enem_spark.lineage import committed_questions

        return committed_questions(spark, out)

    def check_more(self, res, warm):
        s = res["summary"]
        want = self.ref["main"][0]
        errs = []
        if s["questions_written"] != want:
            errs.append(f"questions_written {s['questions_written']} != {want}")
        if s["quarantined"]:
            errs.append(f"{s['quarantined']} pages quarantined")
        return errs


class HtmlIce(Workload):
    name = "html_ice"
    size = HTML_DOCS
    cols = inputs.HTML_COLS
    op_s = 4.0

    def build(self, docs) -> dict:
        pages = inputs.html_pages(docs, refetch_every=ICE_REFETCH_EVERY)
        inputs.write_ice_table(f"{self.dir}/main", pages, ICE_SNAPSHOTS)
        ref = inputs.digest(inputs.html_reference(pages))
        return {"main": ref, "n_main": ref[0]}

    def op(self, spark, out, warm):
        from enem_spark.icerun import run_html_extraction_ice

        s = run_html_extraction_ice(spark, f"{self.dir}/main", out)
        return {"docs": s["input_pages"], "summary": s}


class HtmlStream(Workload):
    name = "html_stream"
    size = HTML_DOCS
    cols = inputs.HTML_COLS
    warm_slice = True
    op_s = 12.0

    def layout(self):
        return f"{self.size}-w{WARM_BATCHES}"

    def build(self, docs) -> dict:
        pages = inputs.html_pages(docs)
        warm = pages.iloc[: len(pages) * WARM_BATCHES // STREAM_BATCHES]
        inputs.write_stream_dir(f"{self.dir}/main", pages, STREAM_FILES)
        inputs.write_stream_dir(
            f"{self.dir}/warm", warm, STREAM_FILES * WARM_BATCHES // STREAM_BATCHES
        )
        ref = {
            "main": inputs.digest(inputs.html_reference(pages)),
            "warm": inputs.digest(inputs.html_reference(warm)),
        }
        ref["n_main"], ref["n_warm"] = ref["main"][0], ref["warm"][0]
        return ref

    def op(self, spark, out, warm):
        from enem_spark.streaming import read_html_pages_stream, start_html_stream

        stream = read_html_pages_stream(
            spark,
            f"{self.dir}/{self.key(warm)}",
            max_files_per_trigger=STREAM_FILES // STREAM_BATCHES,
        )
        q = start_html_stream(stream, out, f"{out}/_checkpoint")
        q.awaitTermination()
        every = q.recentProgress
        progress = [p for p in every if p["numInputRows"] > 0]
        return {
            "docs": None,  # the committed row count, filled in by check()
            "progress": progress,
            "all_progress": every,
            "batches": [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress],
        }

    def check_more(self, res, warm):
        planned = WARM_BATCHES if warm else STREAM_BATCHES
        if len(res["progress"]) != planned:
            return [f"observed {len(res['progress'])} micro-batches, planned {planned}"]
        return []


WORKLOADS = {w.name: w for w in (ExamBatch, HtmlIce, HtmlStream)}
