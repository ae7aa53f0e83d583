"""The core extraction pipeline: `pages` DataFrame -> `questions` DataFrame.

Plan shape (SURVEY.md §3.2/§4.3) — declarative everywhere Catalyst can help,
one Arrow crossing for the per-page string state machines:

    scan pages(url, warc_ts, html, text, lang)
     -> filter lang / filename-contract quarantine          [codegen]
     -> project url-derived metadata (regexp_extract)       [codegen]
     -> page stage: layout reconstruction + preprocessing +
        segmentation + alternative parsing                  [MapInPandas, 1 pass]
     -> window running question-count (plain or salted)     [shuffle by doc_id]
     -> posexplode(question candidates)                     [Generate]
     -> broadcast join answer keys                          [no shuffle]
     -> subject routing + number remap + templates          [codegen]

The per-page Python work mirrors enem_pdf_extractor.py:230-334 (preprocess),
:432-447 (segmentation), :106-148 (alternative parsing); the semantics are
delegated to enem_spark.oracle so the Spark engine and the byte-identity
oracle share one implementation of the quirky string logic.

Scale notes (100 TB / 10^12 docs):
  * the only wide shuffle before the sink is the numbering window, keyed by
    doc_id; a pathological document with 10^5 pages skews one partition, so
    `salt_chunk_size` switches to a two-level running sum (per-chunk partial
    + a skew-free per-doc chunk-offset equi-join) — AQE cannot split a
    single window partition, this can.
  * the answer-key table is ~180 rows/exam — always broadcast.
  * filters (lang, kind, page_idx>=1, has_marker) are plain Catalyst filters
    below the page stage; the stage's output carries no `html`, so nothing
    downstream ships it.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, Window as W, functions as F, types as T

from . import oracle
from .layout import IMG_MARKER, count_image_spans, image_spans, reconstruct_page

def _to_printf(tpl: str) -> str:
    """Derive the format_string pattern from the oracle's template so the
    two renderers cannot drift (oracle.py is the semantics anchor)."""
    return (
        tpl.replace("%", "%%")
        .replace("{year}", "%s")
        .replace("{text}", "%s")
        .replace("{answer}", "%s")
    )


TXT_FMT = _to_printf(oracle.TXT_TEMPLATE)
MD_FMT = _to_printf(oracle.MD_TEMPLATE)


@dataclass(frozen=True)
class ExtractorConfig:
    """Session-level config (reference constructor, enem_pdf_extractor.py:60-77)."""

    output_type: str = "json"  # txt | json | markdown
    process_images: bool = False
    # 0 = plain window; >0 = two-level salted numbering with that chunk
    # size; AUTO_SALT (default) = probe a cheap pages-per-doc sample and
    # salt only when a pathological document is detected, so the 3x skew
    # win does not depend on an operator knowing to configure it
    salt_chunk_size: int = -1
    keep_unparsed: bool = False  # keep F6-dropped candidates (debug/lineage)
    # newest-wins per-url dedup BEFORE extraction. A re-crawled page row
    # would double-count q_count and shift every later question's number in
    # its document. Off by default: the streaming path already dedups in
    # streaming.read_pages_stream (url dedup within the warc_ts watermark),
    # and the extra url shuffle is not free — enable for batch runs over raw
    # re-crawled corpora.
    dedup_pages: bool = False

    def __post_init__(self):
        if self.output_type not in ("txt", "json", "markdown"):
            raise ValueError(f"unsupported output_type: {self.output_type}")


# ---------------------------------------------------------------------------
# metadata projection + contract filter (F1/F2, J2 keys)
# ---------------------------------------------------------------------------

def with_url_metadata(pages: DataFrame) -> DataFrame:
    """Derive the INEP filename-contract columns from the url (codegen-only).

    Mirrors enem_pdf_extractor.py:40-50,966-969: year = first 20\\d{2}; day by
    'D1' substring; kind by PV/GB substring; color = CD\\d digit."""
    url = F.col("url")
    # regexp_extract yields "" on no match; try_cast maps that to NULL instead
    # of an ANSI cast error, so contract violations flow to quarantine (F1)
    out = (
        pages.withColumn("doc_id", F.regexp_extract(url, r"^(.*)/page/\d+$", 1))
        .withColumn(
            "page_idx", F.regexp_extract(url, r"/page/(\d+)$", 1).try_cast("int")
        )
        .withColumn("year", F.regexp_extract(url, r"(20\d{2})", 1).try_cast("int"))
        .withColumn("day", F.when(url.contains("D1"), "D1").otherwise("D2"))
        .withColumn("color", F.regexp_extract(url, r"CD(\d)", 1))
    )
    if "kind" in pages.columns:
        # a physical `kind` column (e.g. an Iceberg/hive partition column of
        # the pages table) beats re-deriving it: downstream kind filters then
        # become PARTITION PRUNING at the scan instead of a regexp over every
        # row — the answer-key build touches only the tiny GB partition
        return out
    return out.withColumn("kind", url_kind(url))


def url_kind(url: F.Column) -> F.Column:
    """THE kind derivation (F1), single-sourced: PV beats GB when both
    substrings appear, anything else stays NULL (flows to quarantine — no
    otherwise()). Every kind predicate in the engine (quarantine routing,
    streaming gb_store split, bench page store) must come through here so
    a derivation change can never desynchronize them."""
    return F.when(url.contains("PV"), "PV").when(url.contains("GB"), "GB")


def split_quarantine(pages_meta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F1: rows violating the filename contract go to a quarantine table
    instead of raising IOError (enem_pdf_extractor.py:81-100)."""
    ok = (
        F.col("kind").isNotNull()
        & (F.col("color") != "")
        & (F.col("year").isNotNull())
        & F.col("page_idx").isNotNull()
    )
    return pages_meta.filter(ok), pages_meta.filter(~ok)


# ---------------------------------------------------------------------------
# the one Arrow crossing: layout + preprocess + segment + parse per page
# ---------------------------------------------------------------------------

_QUESTION_FIELDS = T.StructType(
    [
        T.StructField("seq", T.IntegerType()),
        T.StructField("span_start", T.IntegerType()),
        T.StructField("span_end", T.IntegerType()),
        T.StructField("question_text", T.StringType()),
        T.StructField("alternatives", T.ArrayType(T.StringType())),
        T.StructField("ok", T.BooleanType()),
    ]
)

PAGE_STRUCT = T.StructType(
    [
        T.StructField("page_text", T.StringType()),
        T.StructField("has_images", T.BooleanType()),
        T.StructField("image_refs", T.ArrayType(T.StringType())),
        T.StructField("q_count", T.IntegerType()),
        T.StructField("questions", T.ArrayType(_QUESTION_FIELDS)),
    ]
)


def _process_one_page(url, html, text, cfg: ExtractorConfig) -> dict:
    """Pure per-page function shared by instrumented_page_stage, the
    materialized oracle (expected.py) and unit tests."""
    if text is None:
        text, n_images = reconstruct_page(html)
    elif html is not None:
        # text already extracted: only the image count is needed — a raw
        # byte scan for the marker skips the full JSON decode + column
        # clustering + sort that reconstruct_page would pay per page
        n_images = count_image_spans(html)
    else:
        n_images = 0
    image_refs = [f"{url}#img{k}" for k in range(n_images)]
    has_images = n_images > 0

    page = oracle.preprocess_page(
        text, has_images, 0, cfg.process_images, image_refs
    )
    if page is None:
        return {
            "page_text": text,
            "has_images": has_images,
            "image_refs": image_refs,
            "q_count": 0,
            "questions": [],
        }
    questions = []
    if page.text:  # empty when image page in no-images mode (F4)
        positions = list(oracle.iter_marker_positions(page.text))
        seg_start, seq = 0, 0
        for pos in positions:
            if pos == 0:
                continue
            raw = page.text[seg_start:pos]
            parsed = oracle.parse_alternatives(raw, cfg.output_type)
            if isinstance(parsed, tuple):
                q_text, alts = parsed
            else:
                q_text, alts = parsed, []
            if cfg.output_type == "markdown":
                q_text = oracle.md_insert_alternatives_header(q_text)
            ok = q_text != oracle.NON_STANDARD
            questions.append(
                {
                    "seq": seq,
                    # character span of the raw segment within the
                    # preprocessed page text (header-stripped coordinates)
                    "span_start": seg_start,
                    "span_end": pos,
                    "question_text": q_text if ok else None,
                    "alternatives": alts if ok else [],
                    "ok": ok,
                }
            )
            seg_start = pos
            seq += 1
    return {
        "page_text": text,
        "has_images": has_images,
        "image_refs": image_refs,
        "q_count": page.total_question_number,
        "questions": questions,
    }


_META_COLS = ["url", "doc_id", "page_idx", "year", "day", "color"]

INSTRUMENTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("page_idx", T.IntegerType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("day", T.StringType()),
        T.StructField("color", T.StringType()),
        *PAGE_STRUCT.fields,
        T.StructField("part_id", T.IntegerType()),
        T.StructField("wall_ms", T.DoubleType()),
    ]
)


def instrumented_page_stage(pv: DataFrame, cfg: ExtractorConfig) -> DataFrame:
    """THE page stage: _process_one_page over Arrow batches, in ONE
    mapInPandas crossing, plus the task partition id and the batch wall time
    amortized per row — so a plain groupBy(part_id) over the output yields
    per-partition lineage without a second pass. extract_pages and
    lineage.run_extraction both run it; callers that keep no lineage drop
    part_id and wall_ms."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        for pdf in batches:
            t0 = time.perf_counter()
            recs = [
                _process_one_page(u, h, t, cfg)
                for u, h, t in zip(pdf["url"], pdf["html"], pdf["text"])
            ]
            ms = (time.perf_counter() - t0) * 1000.0
            out = pd.DataFrame(recs)
            for c in _META_COLS:
                out[c] = pdf[c].values
            out["part_id"] = part_id
            out["wall_ms"] = ms / max(len(pdf), 1)
            yield out[[f.name for f in INSTRUMENTED_SCHEMA.fields]]

    cols = _META_COLS + ["html", "text"]
    return pv.select(*cols).mapInPandas(run, INSTRUMENTED_SCHEMA)


# ---------------------------------------------------------------------------
# X3: running question counter as a window (plain and skew-salted)
# ---------------------------------------------------------------------------

AUTO_SALT = -1

# (semanticHash, fraction, threshold, target) -> resolved chunk. The probe is
# a heuristic, not a correctness input (salted and plain outputs are
# byte-identical), so memoizing per logical plan is safe: repeated runs over
# the same table (benchmarks, retries, resume) pay the sampling job once.
# Streaming foreachBatch plans hash differently per batch, so those calls
# MISS by design (each batch's data is new — re-probing is correct there);
# the bound below keeps a long-lived stream from growing the dict forever.
_SALT_PROBE_CACHE: dict[tuple, int] = {}
_SALT_PROBE_CACHE_MAX = 256


def resolve_salt_chunk(
    pages_with_doc: DataFrame,
    salt_chunk_size: int,
    sample_fraction: float = 0.05,
    skew_threshold: int = 1024,
    chunk_target: int = 256,
) -> int:
    """Resolve AUTO_SALT into a concrete chunk size via a cheap skew probe.

    Samples ~sample_fraction of the doc_id column (columnar scans prune to
    one column; callers on an already-persisted frame pay a cache read),
    estimates the max pages-per-document, and switches the numbering window
    to the salted two-level form only when a document would otherwise sort
    more than `skew_threshold` pages inside ONE window task. Deterministic
    seed so reruns plan identically. Explicit 0/positive values bypass the
    probe entirely."""
    if salt_chunk_size != AUTO_SALT:
        return salt_chunk_size
    try:
        key = (
            pages_with_doc.semanticHash(),
            sample_fraction,
            skew_threshold,
            chunk_target,
        )
    except Exception:  # pragma: no cover - semanticHash unavailable
        key = None
    if key is not None and key in _SALT_PROBE_CACHE:
        return _SALT_PROBE_CACHE[key]
    m = (
        pages_with_doc.select("doc_id")
        .sample(fraction=sample_fraction, seed=7)
        .groupBy("doc_id")
        .count()
        .agg(F.max("count").alias("m"))
        .first()["m"]
    )
    resolved = (
        0 if m is None else (chunk_target if m / sample_fraction > skew_threshold else 0)
    )
    if key is not None:
        if len(_SALT_PROBE_CACHE) >= _SALT_PROBE_CACHE_MAX:
            _SALT_PROBE_CACHE.clear()
        _SALT_PROBE_CACHE[key] = resolved
    return resolved


def with_page_numbering(
    pages: DataFrame,
    salt_chunk_size: int = 0,
    persist_to: list | None = None,
) -> DataFrame:
    """page_first_question = 1 + questions on earlier pages of the document.

    Plain: one window over (doc_id, page_idx). Salted: pages are grouped into
    chunks of `salt_chunk_size`; a per-chunk running sum plus a skew-free
    equi-join of per-doc chunk offsets (AQE broadcasts it only when small)
    reproduce the same value without ever sorting a whole pathological
    document inside one task. The input is persisted in salted mode because
    it feeds both sides of the offsets join — without it the page stage
    upstream would execute twice."""
    if salt_chunk_size == AUTO_SALT:
        # direct callers get the probe on this frame; extract_pages /
        # lineage pre-resolve on a cheaper (pre-UDF or persisted) frame
        salt_chunk_size = resolve_salt_chunk(pages, salt_chunk_size)
    if salt_chunk_size <= 0:
        w = (
            W.partitionBy("doc_id")
            .orderBy("page_idx")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        return pages.withColumn(
            "page_first_question",
            (F.coalesce(F.sum("q_count").over(w), F.lit(0)) + 1).cast("int"),
        )
    chunk = F.floor(F.col("page_idx") / salt_chunk_size).alias("chunk_id")
    pages = pages.withColumn("chunk_id", chunk)
    if persist_to is not None:
        # persist ONLY with an owner (the caller appends here and
        # unpersists after consuming): an unowned persist pins a
        # MEMORY_AND_DISK copy of the post-UDF frame per call until the
        # ContextCleaner happens to GC the plan — notebooks/retries/
        # streams accumulate them. An unowned salted call instead
        # recomputes the upstream subtree for the offsets join (bounded,
        # 2x) — production paths all own: extract_pages threads
        # persist_to, lineage pre-persists and passes none.
        from pyspark import StorageLevel

        pages = pages.persist(StorageLevel.MEMORY_AND_DISK)
        persist_to.append(pages)
    w_in = (
        W.partitionBy("doc_id", "chunk_id")
        .orderBy("page_idx")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum("q_count").over(w_in), F.lit(0))
    w_chunks = (
        W.partitionBy("doc_id")
        .orderBy("chunk_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = (
        pages.groupBy("doc_id", "chunk_id")
        .agg(F.sum("q_count").alias("_chunk_total"))
        .withColumn(
            "_chunk_offset",
            F.coalesce(F.sum("_chunk_total").over(w_chunks), F.lit(0)),
        )
        .drop("_chunk_total")
    )
    # plain equi-join on (doc_id, chunk_id): the key is fine-grained by
    # construction (that was the point of salting), so the shuffle is
    # skew-free; AQE picks broadcast when the offsets side is small. An
    # explicit broadcast would be wrong at 10^12 docs — offsets has one row
    # per (doc, chunk).
    return (
        pages.join(offsets, ["doc_id", "chunk_id"])
        .withColumn(
            "page_first_question",
            (F.col("_chunk_offset") + within + 1).cast("int"),
        )
        .drop("_chunk_offset", "chunk_id")
    )


# ---------------------------------------------------------------------------
# J1: answer-key dimension table from GB documents (broadcast build side)
# ---------------------------------------------------------------------------

ANSWER_KEY_SCHEMA = T.StructType(
    [
        T.StructField("year", T.IntegerType()),
        T.StructField("day", T.StringType()),
        T.StructField("color", T.StringType()),
        T.StructField("exam_num", T.IntegerType()),
        T.StructField("answer", T.StringType()),
    ]
)


def answer_key_rows(year: int, day: str, color: str, raw_text: str) -> list[dict]:
    """Expand one GB page-0 text into (exam_num -> answer) rows by evaluating
    the reference probe for every exam number, so positional-offset semantics
    (enem_pdf_extractor.py:189-226) survive the join-based rewrite exactly."""
    filtered = oracle.filter_answer_key_text(raw_text)
    day_one = day == "D1"
    rows = []
    for n in range(1, 96 if day_one else 92):
        ans = oracle.find_correct_answer(
            filtered, n, day_one, is_spanish=day_one and 5 < n < 11
        )
        if ans != oracle.MISSING_ANSWER:
            rows.append(
                {"year": year, "day": day, "color": color, "exam_num": n, "answer": ans}
            )
    return rows


def build_answer_keys(pages_meta: DataFrame) -> DataFrame:
    """GB page-0 rows -> broadcastable key table, built distributed
    (applyInPandas per exam; each group is one tiny text).

    Exactly ONE key text is used per (year, day, color), chosen inside the
    group as the longest (ties: lexicographically largest) non-null text: a
    re-delivered, truncated, or blank duplicate of the answer-key page must
    neither fan the answer join out into duplicate questions nor mask the
    complete copy. Rows whose url violates the metadata contract (null
    year/day, empty color) are dropped here — the main path quarantines
    them, but this helper must also stand alone (streaming staging replay)."""
    gb = pages_meta.filter(
        (F.col("kind") == "GB")
        & (F.col("page_idx") == 0)
        & F.col("year").isNotNull()
        & F.col("day").isNotNull()
        & (F.col("color") != "")
    ).select("year", "day", "color", "text")

    def expand(key, pdf):
        year, day, color = key
        texts = [t for t in pdf["text"] if t]
        if not texts:
            return pd.DataFrame(
                columns=["year", "day", "color", "exam_num", "answer"]
            )
        best = max(texts, key=lambda t: (len(t), t))
        return pd.DataFrame(
            answer_key_rows(int(year), day, color, best),
            columns=["year", "day", "color", "exam_num", "answer"],
        )

    return gb.groupBy("year", "day", "color").applyInPandas(expand, ANSWER_KEY_SCHEMA)


# ---------------------------------------------------------------------------
# full pipeline
# ---------------------------------------------------------------------------

def dedup_latest_per_url(pages: DataFrame) -> DataFrame:
    """Newest-wins re-crawl dedup (cfg.dedup_pages): one row per url, the
    latest warc_ts kept — shared by every entry point that honors the flag
    (a duplicated page otherwise doubles its q_count in the numbering
    window and shifts every later question's positional answer join).

    Ties on warc_ts (second-granularity crawl timestamps DO collide) are
    broken by content hash, not shuffle order — same hazard and same fix
    as icerun._window_latest: an order-dependent winner would flip q_count
    between reruns and shift every later positional answer join. html can
    be legitimately NULL on synthetic/test frames, so hash the text bytes
    then; identical-content ties are interchangeable either way."""
    tie = F.md5(F.coalesce(F.col("html"), F.encode(F.col("text"), "UTF-8")))
    # nulls LAST: a content-free duplicate (html and text both NULL — a
    # blank re-delivery) has a NULL hash, and plain asc() is nulls-first,
    # which would let the blank row beat the real page at an equal
    # warc_ts — silently dropping its q_count from the numbering window
    w_dedup = W.partitionBy("url").orderBy(
        F.desc("warc_ts"), tie.asc_nulls_last()
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def extract_pages(
    pages: DataFrame,
    cfg: ExtractorConfig,
    persist_to: list | None = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Per-page pipeline: metadata, quarantine, the page stage, numbering.

    Returns one row per kept PV page with page_text (the per-url extracted
    main content — the byte-identity invariant), q_count, candidate
    questions, page_first_question."""
    if cfg.dedup_pages and not pre_deduped:
        pages = dedup_latest_per_url(pages)
    meta = with_url_metadata(pages.filter(F.col("lang") == "pt"))
    valid, _ = split_quarantine(meta)
    pv = valid.filter((F.col("kind") == "PV") & (F.col("page_idx") >= 1))  # F2
    # F3 as a cheap codegen prefilter BELOW the page stage: a page yields
    # q_count>0 iff its text carries the marker (either case — P1
    # normalizes Questão), so unmarked pages never cross into Python.
    has_marker = (
        F.col("text").contains(oracle.QUESTION_MARKER)
        | F.col("text").contains("Questão")
        | (F.col("text").isNull() & F.col("html").isNotNull())
    )
    pv = pv.filter(has_marker)
    paged = instrumented_page_stage(pv, cfg).drop("part_id", "wall_ms")
    # numbering needs every marker-bearing page (image pages included: their
    # count advances numbering even though they emit nothing — F4). Rare
    # q_count=0 survivors (html-only pages with no marker) add 0 to the
    # running sum and explode to nothing, so no post-UDF filter is needed.
    # resolve AUTO salting on the PRE-UDF frame: the probe then scans only
    # the url-derived doc_id column, never the page stage subtree
    chunk = resolve_salt_chunk(pv, cfg.salt_chunk_size)
    return with_page_numbering(paged, chunk, persist_to=persist_to)


def extract_questions(
    pages: DataFrame,
    cfg: ExtractorConfig,
    persist_to: list | None = None,
) -> DataFrame:
    """pages -> questions table (SURVEY.md §1.4 / FIXTURES.md §3)."""
    if cfg.dedup_pages:
        # dedup ONCE, up front, so the answer-key build sees the same
        # newest-wins view as the page stage — keys built from the raw
        # frame could pick a superseded GB page's text while
        # lineage.run_extraction (which dedups before both) picks the
        # re-crawled one: the two entry points must agree (CLAUDE.md)
        pages = dedup_latest_per_url(pages)
    counted = extract_pages(
        pages, cfg, persist_to=persist_to, pre_deduped=cfg.dedup_pages
    )
    keys = build_answer_keys(with_url_metadata(pages))
    return questions_from_counted(counted, keys, cfg)


def questions_from_counted(
    counted: DataFrame, keys: DataFrame, cfg: ExtractorConfig
) -> DataFrame:
    """Downstream stage shared by batch, lineage-instrumented, and streaming
    runs: explode candidates -> broadcast answer join -> subject routing."""
    exploded = (
        counted.select(
            "url",
            "doc_id",
            "page_idx",
            "year",
            "day",
            "color",
            "image_refs",
            "page_first_question",
            F.explode("questions").alias("q"),
        )
        .withColumn("abs_num", F.col("page_first_question") + F.col("q.seq"))
        .withColumn("span_start", F.col("q.span_start"))
        .withColumn("span_end", F.col("q.span_end"))
        .withColumn("question_text", F.col("q.question_text"))
        .withColumn("alternatives", F.col("q.alternatives"))
        .withColumn("parse_ok", F.col("q.ok"))
        .drop("q", "page_first_question")
    )
    if not cfg.keep_unparsed:
        exploded = exploded.filter(F.col("parse_ok"))  # F6 (numbering already fixed)

    joined = exploded.join(
        F.broadcast(keys),
        on=(
            (exploded["year"] == keys["year"])
            & (exploded["day"] == keys["day"])
            & (exploded["color"] == keys["color"])
            & (exploded["abs_num"] == keys["exam_num"])
        ),
        how="left",
    ).select(
        exploded["*"],
        F.coalesce(keys["answer"], F.lit(oracle.MISSING_ANSWER)).alias(
            "correct_answer"
        ),
    )

    n = F.col("abs_num")
    day_one = F.col("day") == "D1"
    # CASE chain derived from the oracle's range tables — never forked
    subject = None
    for subj, lo, hi in oracle.DAY1_RANGES:
        cond = day_one & n.between(lo, hi)
        subject = F.when(cond, subj) if subject is None else subject.when(cond, subj)
    for subj, lo, hi in oracle.DAY2_RANGES:
        subject = subject.when(~day_one & n.between(lo, hi), subj)
    # mirrors oracle.remap_number (the semantics anchor) as a Catalyst
    # expression; equality over the full range is pinned by
    # tests/test_oracle_properties.py::test_remap_expression_matches_oracle
    out_num = F.when(day_one, F.when(n < 6, n).otherwise(n - 5)).otherwise(n + 90)
    result = (
        joined.withColumn("subject", subject)
        .filter(F.col("subject").isNotNull())  # beyond-range numbers are dropped
        .withColumn("question_num", out_num.cast("int"))
        .withColumn(
            "ID",
            F.format_string("%d_%s_N%d", F.col("year"), F.col("day"), F.col("question_num")),
        )
        .withColumnRenamed("abs_num", "seq")
    )
    return result.select(
        "url",
        "doc_id",
        "page_idx",
        "year",
        "day",
        "color",
        "seq",
        "subject",
        "question_num",
        "ID",
        "span_start",
        "span_end",
        "question_text",
        "alternatives",
        "correct_answer",
        "image_refs",
        "parse_ok",
    )


def render_payloads(questions: DataFrame, cfg: ExtractorConfig) -> DataFrame:
    """Attach the rendered per-question payload.

    txt/markdown render JVM-side (format_string, codegen); json payloads are
    serialized in the sink (oracle.question_json via applyInPandas) because
    byte-exact indent-4 JSON is not expressible with to_json."""
    if cfg.output_type == "txt":
        payload = F.format_string(
            TXT_FMT, F.col("year"), F.col("question_text"), F.col("correct_answer")
        )
    elif cfg.output_type == "markdown":
        payload = F.format_string(
            MD_FMT, F.col("year"), F.col("question_text"), F.col("correct_answer")
        )
    else:
        payload = F.lit(None).cast("string")
    return questions.withColumn("payload", payload)


def render_sink_files(questions: DataFrame, cfg: ExtractorConfig) -> DataFrame:
    """A2/S5/S6: ordered group-concat into one row per output file, byte-
    identical to the reference sinks. Groups are (doc_id, year, day) — one
    exam each; subjects with no questions still emit (empty string / []).

    `filename` follows the reference convention ({year}_{subject}_...), which
    is only unique WITHIN a document — the reference writes each exam into
    its own output directory (extract_pdf's extracted_data_path). Sinks must
    therefore key on (doc_id, filename); doc_id is the directory analogue."""
    ext = oracle.SINK_EXTENSIONS[cfg.output_type]
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("year", T.IntegerType()),
            T.StructField("day", T.StringType()),
            T.StructField("subject", T.StringType()),
            T.StructField("filename", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
    output_type = cfg.output_type
    process_images = cfg.process_images

    def render_group(key, pdf):
        doc_id, year, day = key
        year = int(year)
        day_one = day == "D1"
        ranges = oracle.DAY1_RANGES if day_one else oracle.DAY2_RANGES
        # the sinks render the REFERENCE's output, which never contains
        # F6-dropped candidates: under cfg.keep_unparsed the questions
        # frame carries parse_ok=False rows (debug/lineage), and
        # format_string would render their NULL text as the literal
        # 'null' inside byte-identity-contracted files
        if "parse_ok" in pdf.columns:
            pdf = pdf[pdf["parse_ok"].fillna(False)]
        pdf = pdf.sort_values("seq")
        rows = []
        for subj, _, _ in ranges:
            sub = pdf[pdf["subject"] == subj]
            if output_type == "json":
                payloads = [
                    oracle.question_json(
                        r.question_text,
                        day_one,
                        year,
                        r.correct_answer,
                        int(r.seq),
                        list(r.alternatives),
                        list(r.image_refs) if process_images else None,
                    )
                    for r in sub.itertuples()
                ]
                content = json.dumps(payloads, indent=4, ensure_ascii=False)
            else:
                content = "".join(sub["payload"])
            rows.append(
                {
                    "doc_id": doc_id,
                    "year": year,
                    "day": day,
                    "subject": subj,
                    "filename": oracle.sink_filename(year, subj, ext),
                    "content": content,
                }
            )
        return pd.DataFrame(rows)

    prepared = render_payloads(questions, cfg)
    return prepared.groupBy("doc_id", "year", "day").applyInPandas(
        render_group, out_schema
    )


# ---------------------------------------------------------------------------
# S3: image materialization sink (binary images table)
# ---------------------------------------------------------------------------

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("page_idx", T.IntegerType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("day", T.StringType()),
        T.StructField("image_index", T.IntegerType()),
        T.StructField("image_name", T.StringType()),
        T.StructField("image_ref", T.StringType()),
        T.StructField("png", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("had_alpha", T.BooleanType()),
        T.StructField("was_cmyk", T.BooleanType()),
    ]
)


def materialize_images(pages: DataFrame, pv: DataFrame | None = None) -> DataFrame:
    """S3: the reference's images-mode side output as a binary table.

    The reference decodes each page's image xrefs, strips alpha, converts
    CMYK to RGB, and writes PNG files named
    ``{year}_{day}_page{page}_{index}.png`` (enem_pdf_extractor.py:295-331);
    questions text never embeds the bytes — images are a SIDE output keyed
    by name. This operator reproduces that contract Spark-first: one binary
    ``images`` table (parquet/Iceberg-ready) whose ``image_ref`` joins the
    questions table's ``image_refs`` entries. The decode
    (layout.decode_image_span) runs the REAL raster kernels
    (enem_spark.imaging: alpha strip, CMYK->RGB, PNG encode) in the
    reference's branch order; real PDF bytes take the same kernels through
    pdfbin.extract_images, while this synthetic span corpus feeds them
    deterministic source pixels (spans carry no embedded pixel data).

    Plan shape mirrors the page stage: a JVM-side marker prefilter BELOW
    the UDF (only pages whose span payload contains an image marker reach
    Python), then ONE Arrow crossing. No shuffle at all — the operator is
    embarrassingly parallel per page.

    ``pv`` (optional) is an already-prepared valid-PV frame (metadata
    applied, quarantine split, cover dropped, resume anti-join done) —
    run_extraction passes its own so images mode does not re-derive URL
    metadata over the whole input a second time per run."""
    if pv is None:
        meta = with_url_metadata(pages.filter(F.col("lang") == "pt"))
        valid, _ = split_quarantine(meta)
        pv = valid.filter((F.col("kind") == "PV") & (F.col("page_idx") >= 1))
    # both marker forms: raw UTF-8 AND the ensure_ascii JSON escape
    # (⟦...) — the prefilter must agree with count_image_spans or a
    # page gets image_refs from the text path with no images row here
    has_img = F.col("html").isNotNull() & (
        F.col("html").cast("string").contains(IMG_MARKER)
        | F.lower(F.col("html").cast("string")).contains("\\u27e6")
    )
    pv = pv.filter(has_img).select("url", "doc_id", "page_idx", "year", "day", "html")

    cols = [f.name for f in IMAGES_SCHEMA.fields]

    def run(batches):
        for pdf in batches:
            rows = []
            for url, doc_id, page_idx, year, day, html in zip(
                pdf["url"], pdf["doc_id"], pdf["page_idx"], pdf["year"],
                pdf["day"], pdf["html"],
            ):
                for i, rec in enumerate(image_spans(html, url), start=1):
                    rows.append(
                        {
                            "url": url,
                            "doc_id": doc_id,
                            "page_idx": int(page_idx),
                            "year": int(year),
                            "day": day,
                            "image_index": i,
                            # ref:327 output_filename convention
                            "image_name": f"{year}_{day}_page{page_idx}_{i}.png",
                            **rec,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return pv.mapInPandas(run, IMAGES_SCHEMA)
