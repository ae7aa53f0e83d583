"""Pure-Python expected-output generator for the flagship driver queries.

Turns the two rows-only CORRECTNESS entries (`extract_questions`,
`extract_question_spans`) into fully hash-checked ones: this module runs the
SAME per-page pure function the Spark UDF runs (`extract._process_one_page`)
plus the same key build (`extract.answer_key_rows`) over the bridge corpus,
entirely without Spark, and stages the expected tables as parquet that the
driver's DuckDB oracle can `read_parquet()`.

No forked semantics: every quirky step is the shared implementation —
  * page synthesis: documents_bridge.page_text_for / gb_text_for / slot_meta
  * page parse:     extract._process_one_page (identical bytes to the UDF)
  * answer keys:    extract.answer_key_rows (the oracle's offset probe)
  * routing/remap:  oracle.DAY1_RANGES / DAY2_RANGES and the same number
                    remap as oracle.question_json (n<6 ? n : n-5 / n+90 —
                    enem_pdf_extractor.py:443-454)
The only code here is the glue relational logic (running-sum numbering,
dict join, CASE routing) that the 34 hash-green relational driver queries
already pin down on the Spark side.
"""

from __future__ import annotations

import json
import os

import pandas as pd

from . import oracle, staging_path
from .extract import ExtractorConfig, _process_one_page, answer_key_rows
from .sources.documents_bridge import (
    EXAM_PAGES,
    N_SLOTS,
    gb_text_for,
    page_text_for,
    slot_meta,
)

MISSING = oracle.MISSING_ANSWER


def _key_maps() -> dict[tuple[int, str, str], dict[int, str]]:
    """(year, day, color) -> {exam_num: answer}, via the shared key builder."""
    maps: dict[tuple[int, str, str], dict[int, str]] = {}
    for s in range(N_SLOTS):
        year, day, color = slot_meta(s)
        rows = answer_key_rows(year, day, color, gb_text_for(year, day))
        maps[(year, day, color)] = {r["exam_num"]: r["answer"] for r in rows}
    return maps


def _route(abs_num: int, day_one: bool) -> str | None:
    ranges = oracle.DAY1_RANGES if day_one else oracle.DAY2_RANGES
    for subj, lo, hi in ranges:
        if lo <= abs_num <= hi:
            return subj
    return None


def _remap(abs_num: int, day_one: bool) -> int:
    if day_one:
        return abs_num if abs_num < 6 else abs_num - 5
    return abs_num + 90


def expected_question_rows(
    documents: pd.DataFrame, keep_unparsed: bool
) -> list[dict]:
    """One dict per question row, matching the Spark questions table."""
    cfg = ExtractorConfig(output_type="json", process_images=False)
    keys = _key_maps()

    exams: dict[int, list[tuple[int, int, str]]] = {}
    for doc_id, text in zip(documents["doc_id"], documents["text"]):
        doc_id = int(doc_id)
        exams.setdefault(doc_id // EXAM_PAGES, []).append(
            (doc_id % EXAM_PAGES + 1, doc_id, str(text))
        )

    out: list[dict] = []
    for exam in sorted(exams):
        year, day, color = slot_meta(exam)
        day_one = day == "D1"
        kmap = keys[(year, day, color)]
        running = 0  # questions on earlier pages of this document
        for page_idx, doc_id, text in sorted(exams[exam]):
            url = (
                f"cc://enem/{year}_PV_impresso_{day}_CD{color}-x{exam}"
                f"/page/{page_idx}"
            )
            rec = _process_one_page(url, None, page_text_for(doc_id, text, year), cfg)
            page_first = running + 1
            running += rec["q_count"]
            for q in rec["questions"]:
                if not keep_unparsed and not q["ok"]:
                    continue  # F6: dropped, numbering gap preserved
                abs_num = page_first + q["seq"]
                subject = _route(abs_num, day_one)
                if subject is None:
                    continue  # beyond-range numbers are dropped
                qnum = _remap(abs_num, day_one)
                out.append(
                    {
                        "url": url,
                        "seq": abs_num,
                        "subject": subject,
                        "question_num": qnum,
                        "ID": f"{year}_{day}_N{qnum}",
                        "span_start": q["span_start"],
                        "span_end": q["span_end"],
                        "question_text": q["question_text"],
                        "correct_answer": kmap.get(abs_num, MISSING),
                        "parse_ok": q["ok"],
                    }
                )
    return out


def _questions_frame(rows: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(
        rows,
        columns=[
            "url",
            "seq",
            "subject",
            "question_num",
            "ID",
            "correct_answer",
            "question_text",
        ],
    )
    # match Spark's IntegerType -> pandas int32 so the driver's dtype-
    # sensitive value hash agrees
    return df.astype({"seq": "int32", "question_num": "int32"})


def _spans_frame(rows: list[dict]) -> pd.DataFrame:
    by_url: dict[str, list[dict]] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    out = []
    for url, qs in by_url.items():
        qs.sort(
            key=lambda q: (
                q["seq"],
                q["span_start"],
                q["span_end"],
                q["question_num"],
                q["parse_ok"],
            )
        )
        # byte-identical to Spark's to_json(array_sort(collect_list(struct)))
        spans = json.dumps(
            [
                {
                    "seq": q["seq"],
                    "span_start": q["span_start"],
                    "span_end": q["span_end"],
                    "question_num": q["question_num"],
                    "parse_ok": q["parse_ok"],
                }
                for q in qs
            ],
            separators=(",", ":"),
            ensure_ascii=False,
        )
        out.append({"url": url, "spans_json": spans})
    return pd.DataFrame(out, columns=["url", "spans_json"])


_STAGED: dict[str, dict[str, str]] = {}


def stage_expected_tables(sf_dir: str) -> dict[str, str]:
    """Generate (memoized per process) the expected parquet tables for
    ``sf_dir`` and return {table_name: absolute_parquet_path}. Pure Python —
    callable from oracle_sql(), which has no SparkSession. One extraction
    pass: the keep_unparsed=True row set is a superset of the questions
    table (filter parse_ok) AND the spans input."""
    sf_dir = os.path.normpath(sf_dir)
    if sf_dir in _STAGED:
        return _STAGED[sf_dir]
    base = staging_path("expected", sf_dir)
    paths = {
        "extract_questions": os.path.join(base, "questions.parquet"),
        "extract_question_spans": os.path.join(base, "question_spans.parquet"),
    }
    os.makedirs(base, exist_ok=True)
    documents = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    all_rows = expected_question_rows(documents, keep_unparsed=True)
    frames = {
        "extract_questions": _questions_frame(
            [r for r in all_rows if r["parse_ok"]]
        ),
        "extract_question_spans": _spans_frame(all_rows),
    }
    for name, frame in frames.items():
        # write-then-rename: a concurrent reader (driver harness + pytest
        # sharing one staging dir) must never see a half-written parquet;
        # the staged bytes are deterministic, so racing writers converge and
        # os.replace's last-wins is safe
        tmp = f"{paths[name]}.tmp.{os.getpid()}"
        frame.to_parquet(tmp, index=False)
        os.replace(tmp, paths[name])
    _STAGED[sf_dir] = paths
    return paths
