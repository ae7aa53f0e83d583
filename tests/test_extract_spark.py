"""Spark pipeline vs pure-Python oracle: byte-identity on the synthetic corpus.

This is the engine's primary correctness gate (north_rule: byte-identical
extracted text + question records per url). The oracle itself is validated
against the reference's golden fixtures in test_oracle_golden.py, closing the
loop reference -> oracle -> Spark.
"""

from __future__ import annotations

import json

import pytest

from enem_spark import corpus, oracle
from enem_spark.extract import (
    ExtractorConfig,
    extract_pages,
    extract_questions,
    render_sink_files,
)
from enem_spark.layout import reconstruct_page

CFG = corpus.CorpusConfig(seed=7, n_exams=6, pages_per_exam=8, questions_per_page=3)


@pytest.fixture(scope="module")
def docs():
    return corpus.generate(CFG)


@pytest.fixture(scope="module")
def pages_df(spark, docs):
    return corpus.pages_dataframe(spark, CFG)


def oracle_rows(docs, output_type, process_images):
    """Expected question rows per document, via the oracle."""
    keys = {
        (d.year, d.day, d.color): d.page_texts[0]
        for d in docs
        if d.kind == "GB"
    }
    expected = {}
    for d in docs:
        if d.kind != "PV" or d.lang != "pt":
            continue
        raw_answers = keys.get((d.year, d.day, d.color), "")
        image_names = [
            [f"{d.url_prefix}/page/{p}#img0"] if has else []
            for p, has in enumerate(d.page_has_images)
        ]
        rows = oracle.extract_document(
            d.page_texts,
            d.page_has_images,
            raw_answers,
            d.year,
            day_one=d.day_one,
            output_type=output_type,
            process_images=process_images,
            page_image_names=image_names,
        )
        expected[d.url_prefix] = rows
    return expected


def test_layout_reconstruction_matches_text(docs):
    """The bbox-clustering reconstruction reproduces every page text byte-
    for-byte, and image spans are detected."""
    rows = corpus.to_rows(docs, CFG.seed)
    assert len(rows) > 30
    doc_imgs = {d.url_prefix: d.page_has_images for d in docs}
    for r in rows:
        text, n_img = reconstruct_page(r["html"])
        assert text == r["text"], f"layout mismatch for {r['url']}"
        prefix, idx = r["url"].rsplit("/page/", 1)
        assert (n_img > 0) == doc_imgs[prefix][int(idx)]


@pytest.mark.parametrize("output_type", ["json", "txt", "markdown"])
def test_questions_match_oracle(spark, docs, pages_df, output_type):
    cfg = ExtractorConfig(output_type=output_type, process_images=False)
    got = extract_questions(pages_df, cfg).collect()
    expected = oracle_rows(docs, output_type, process_images=False)

    got_by_doc = {}
    for r in got:
        got_by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in got_by_doc.items():
        rows.sort(key=lambda r: r["seq"])

    exp_docs = {k: v for k, v in expected.items() if v}
    assert set(got_by_doc) == set(exp_docs)
    for doc_id, exp in exp_docs.items():
        rows = got_by_doc[doc_id]
        assert [r["seq"] for r in rows] == [e.seq for e in exp], doc_id
        for r, e in zip(rows, exp):
            assert r["subject"] == e.subject
            if output_type == "json":
                p = e.payload
                assert r["question_text"] == p["question_text"], (doc_id, e.seq)
                assert r["correct_answer"] == p["correct_answer"]
                assert list(r["alternatives"]) == p["alternatives"]
                assert r["question_num"] == p["question_num"]
                assert r["ID"] == p["ID"]


@pytest.mark.parametrize("output_type", ["json", "txt", "markdown"])
def test_sink_files_byte_identical(spark, docs, pages_df, output_type):
    cfg = ExtractorConfig(output_type=output_type, process_images=False)
    questions = extract_questions(pages_df, cfg)
    files = render_sink_files(questions, cfg).collect()
    expected = oracle_rows(docs, output_type, process_images=False)

    by_doc = {}
    for f in files:
        by_doc.setdefault(f["doc_id"], {})[f["filename"]] = f["content"]
    for d in docs:
        if d.kind != "PV" or d.lang != "pt" or not expected[d.url_prefix]:
            continue
        exp_files = oracle.render_sink_files(
            expected[d.url_prefix], d.year, d.day_one, output_type
        )
        got_files = by_doc[d.url_prefix]
        assert set(got_files) == set(exp_files), d.url_prefix
        for name, content in exp_files.items():
            assert got_files[name] == content, f"{d.url_prefix}/{name} bytes differ"


def test_images_mode_matches_oracle(spark, docs, pages_df):
    """process_images=True: image pages are kept and page_images appears."""
    cfg = ExtractorConfig(output_type="json", process_images=True)
    questions = extract_questions(pages_df, cfg)
    files = render_sink_files(questions, cfg).collect()
    expected = oracle_rows(docs, "json", process_images=True)
    by_doc = {}
    for f in files:
        by_doc.setdefault(f["doc_id"], {})[f["filename"]] = f["content"]
    checked = 0
    for d in docs:
        if d.kind != "PV" or d.lang != "pt" or not expected[d.url_prefix]:
            continue
        exp_files = oracle.render_sink_files(
            expected[d.url_prefix], d.year, d.day_one, "json"
        )
        for name, content in exp_files.items():
            assert by_doc[d.url_prefix][name] == content, f"{d.url_prefix}/{name}"
            if '"page_images"' in content:
                checked += 1
    assert checked > 0, "corpus produced no image-page questions to verify"


def test_image_materialization_sink(spark, docs, pages_df):
    """S3 binary sink: one row per image span, ref-count == row-count, and
    png payload bytes are the deterministic stand-in decode of each span
    (alpha/CMYK branch points exercised), keyed so the table joins the
    questions table's image_refs."""
    import hashlib

    from enem_spark import layout
    from enem_spark.extract import extract_pages, materialize_images

    got = {r["image_ref"]: r for r in materialize_images(pages_df).collect()}

    # expected from the pure function over the raw corpus rows
    rows = corpus.to_rows(docs, CFG.seed)
    expected = {}
    for r in rows:
        if "PV" not in r["url"] or r["url"].endswith("/page/0") or r["lang"] != "pt":
            continue
        for rec in layout.image_spans(r["html"], r["url"]):
            expected[rec["image_ref"]] = rec
    assert expected, "corpus has no image spans"
    assert set(got) == set(expected)
    for ref, exp in expected.items():
        g = got[ref]
        assert hashlib.md5(bytes(g["png"])).hexdigest() == hashlib.md5(
            exp["png"]
        ).hexdigest(), ref
        assert (g["had_alpha"], g["was_cmyk"]) == (
            exp["had_alpha"],
            exp["was_cmyk"],
        ), ref
        assert g["image_name"].endswith(".png")
    # both branch points must actually occur in the corpus
    assert any(r["had_alpha"] for r in got.values())
    assert any(r["was_cmyk"] for r in got.values())

    # ref-count parity with the text path's image_refs
    cfg = ExtractorConfig(output_type="json", process_images=True)
    n_refs = sum(
        len(r["image_refs"])
        for r in extract_pages(pages_df, cfg).select("image_refs").collect()
    )
    # materialized rows cover every page with image spans, including pages
    # the text path drops (no marker); so the text path's refs are a subset
    assert n_refs <= len(got)
    text_refs = {
        ref
        for r in extract_pages(pages_df, cfg).select("image_refs").collect()
        for ref in r["image_refs"]
    }
    assert text_refs <= set(got)


def test_auto_salt_probe(spark, pages_df):
    """AUTO_SALT resolves to 0 on a uniform corpus (salting costs a join)
    and to a positive chunk when a pathological document is present."""
    from enem_spark.extract import AUTO_SALT, resolve_salt_chunk, with_url_metadata

    uniform = with_url_metadata(pages_df)
    assert resolve_salt_chunk(uniform, AUTO_SALT) == 0
    # explicit values bypass the probe
    assert resolve_salt_chunk(uniform, 0) == 0
    assert resolve_salt_chunk(uniform, 512) == 512

    skewed = corpus.pages_dataframe(
        spark,
        corpus.CorpusConfig(
            seed=5, n_exams=4, pages_per_exam=8, questions_per_page=2,
            skew_doc_pages=4096,
        ),
    )
    assert resolve_salt_chunk(with_url_metadata(skewed), AUTO_SALT) > 0


def test_salted_numbering_equals_plain(spark, pages_df):
    plain = ExtractorConfig(output_type="json", salt_chunk_size=0)
    salted = ExtractorConfig(output_type="json", salt_chunk_size=3)
    a = extract_pages(pages_df, plain).select(
        "url", "page_first_question"
    ).collect()
    b = extract_pages(pages_df, salted).select(
        "url", "page_first_question"
    ).collect()
    assert sorted((r["url"], r["page_first_question"]) for r in a) == sorted(
        (r["url"], r["page_first_question"]) for r in b
    )
    # end-to-end: full question extraction agrees across the two modes, and
    # with extract_pages — every question's number falls inside its page's
    # [page_first_question, page_first_question + q_count) range
    pages = {
        r["url"]: (r["page_first_question"], r["q_count"])
        for r in extract_pages(pages_df, plain).collect()
    }
    qa = extract_questions(pages_df, plain).select("url", "seq", "ID", "question_text")
    qb = extract_questions(pages_df, salted).select("url", "seq", "ID", "question_text")
    qa, qb = qa.collect(), qb.collect()
    assert qa and sorted(map(tuple, qa)) == sorted(map(tuple, qb))
    for r in qa:
        first, q_count = pages[r["url"]]
        assert first <= r["seq"] < first + q_count, r
    # duplicate (doc_id, page_idx) rows (raw re-crawl, dedup off): the
    # plain window neither drops nor fans out rows
    from enem_spark.extract import with_page_numbering

    dup = spark.createDataFrame(
        [("d1", 1, 2), ("d1", 1, 2), ("d1", 2, 3), ("d2", 1, 1)],
        "doc_id string, page_idx int, q_count int",
    )
    assert len(with_page_numbering(dup, 0).collect()) == 4


def test_extracted_page_text_per_url(spark, docs, pages_df):
    """north_rule per-row invariant: byte-identical extracted text per url."""
    cfg = ExtractorConfig()
    got = {
        r["url"]: r["page_text"]
        for r in extract_pages(pages_df, cfg).select("url", "page_text").collect()
    }
    checked = 0
    for d in docs:
        if d.kind != "PV" or d.lang != "pt":
            continue
        for p, text in enumerate(d.page_texts):
            url = f"{d.url_prefix}/page/{p}"
            if url in got:  # only marker-bearing pages flow through
                assert got[url] == text
                checked += 1
    assert checked > 10


def test_question_spans_tile_page_text(spark, docs, pages_df):
    """Span offsets are contiguous per page, start at the page's first
    segment boundary, and each span slice of the oracle-preprocessed page
    text begins with the question marker."""
    cfg = ExtractorConfig(output_type="json", keep_unparsed=True)
    rows = extract_questions(pages_df, cfg).select(
        "url", "page_idx", "seq", "span_start", "span_end"
    ).collect()
    by_page = {}
    for r in rows:
        by_page.setdefault(r["url"], []).append(r)
    raw = {
        f"{d.url_prefix}/page/{p}": (d.page_texts[p], d.page_has_images[p])
        for d in docs
        if d.kind == "PV" and d.lang == "pt"
        for p in range(len(d.page_texts))
    }
    checked = 0
    for url, page_rows in by_page.items():
        page_rows.sort(key=lambda r: r["seq"])
        text, has_img = raw[url]
        rec = oracle.preprocess_page(text, has_img, 0, False)
        assert rec is not None and rec.text
        for a, b in zip(page_rows, page_rows[1:]):
            assert a["span_end"] == b["span_start"], url
        for r in page_rows:
            seg = rec.text[r["span_start"] : r["span_end"]]
            assert seg.startswith(oracle.QUESTION_MARKER), (url, r["seq"])
            checked += 1
    assert checked > 20


def test_dedup_pages_newest_wins(spark, docs, pages_df):
    """A re-crawled PV page (same url, newer warc_ts, extra question) shifts
    numbering without dedup; with cfg.dedup_pages the newest row wins and
    output matches extraction over the deduped input."""
    import pandas as pd
    from pyspark.sql import functions as F

    pv_row = (
        pages_df.filter(F.col("url").contains("PV") & F.col("url").endswith("/page/1"))
        .limit(1)
        .collect()[0]
    )
    recrawl = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "url": pv_row["url"],
                    "warc_ts": pd.Timestamp("2030-01-01"),
                    "html": None,
                    "text": pv_row["text"],  # same content, newer snapshot
                    "lang": "pt",
                }
            ]
        ),
        schema=pages_df.schema,
    )
    noisy = pages_df.unionByName(recrawl)
    base = extract_questions(pages_df, ExtractorConfig()).collect()
    deduped = extract_questions(noisy, ExtractorConfig(dedup_pages=True)).collect()
    key = lambda rows: sorted((r["url"], r["seq"], r["question_text"]) for r in rows)
    assert key(deduped) == key(base)
    # and without dedup the duplicate page fans out
    dup = extract_questions(noisy, ExtractorConfig()).count()
    assert dup > len(base)


def test_duplicate_and_corrupt_gb_pages_are_harmless(spark, docs, pages_df):
    """Re-delivered answer-key pages (exact dup, truncated copy, blank copy,
    null-metadata url) must neither duplicate questions nor mask the
    complete key text, and a GB url without a year must not crash the key
    builder."""
    import pandas as pd

    cfg = ExtractorConfig(output_type="json")
    baseline = extract_questions(pages_df, cfg).collect()

    gb = next(d for d in docs if d.kind == "GB")
    gb_url = f"{gb.url_prefix}/page/0"
    full = gb.page_texts[0]
    extra = pd.DataFrame(
        [
            # exact duplicate
            {"url": gb_url, "warc_ts": pd.Timestamp("2024-02-01"),
             "html": None, "text": full, "lang": "pt"},
            # truncated copy (sorts before the full text lexicographically
            # in some cases — must lose to the longest-text rule)
            {"url": gb_url, "warc_ts": pd.Timestamp("2024-02-02"),
             "html": None, "text": full[: len(full) // 3], "lang": "pt"},
            # blank copy
            {"url": gb_url, "warc_ts": pd.Timestamp("2024-02-03"),
             "html": None, "text": "", "lang": "pt"},
            # GB url with no parseable year: must be dropped, not crash
            {"url": "cc://enem/NOYEAR_GB_impresso_D1_CD1/page/0",
             "warc_ts": pd.Timestamp("2024-02-04"),
             "html": None, "text": "1\nA\n", "lang": "pt"},
        ]
    )
    noisy = pages_df.unionByName(
        spark.createDataFrame(extra, schema=pages_df.schema)
    )
    got = extract_questions(noisy, cfg).collect()

    key = lambda rows: sorted(
        (r["url"], r["seq"], r["correct_answer"]) for r in rows
    )
    assert key(got) == key(baseline)


def test_contract_violations_quarantined_not_crash(spark, pages_df):
    """F1: rows with urls outside the naming contract must not crash the
    pipeline (ANSI cast on regexp_extract('') regression) nor emit rows."""
    import pandas as pd

    bad = pd.DataFrame(
        [
            {
                "url": "cc://junk/nometa/page/1",
                "warc_ts": pd.Timestamp("2024-01-01"),
                "html": None,
                "text": "QUESTÃO 1 x",
                "lang": "pt",
            }
        ]
    )
    bad_df = spark.createDataFrame(bad, schema=pages_df.schema)
    assert extract_questions(bad_df, ExtractorConfig()).count() == 0


def test_dedup_latest_per_url_tie_breaks_by_content_hash(spark):
    """Two fetches of one url sharing a warc_ts (second-granularity crawl
    timestamps collide) must resolve to a deterministic winner — the lower
    content hash — not whichever row the shuffle ordered first: an
    order-dependent winner flips q_count between reruns and shifts every
    later positional answer join."""
    import hashlib

    import pandas as pd

    from enem_spark.extract import dedup_latest_per_url

    ts = pd.Timestamp("2024-05-05 12:00:00")
    rows = [
        {"url": "u", "warc_ts": ts, "html": None, "text": t, "lang": "pt"}
        for t in ("texto bbb", "texto aaa", "texto ccc")
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    expect = min(
        (hashlib.md5(t.encode()).hexdigest(), t)
        for t in ("texto bbb", "texto aaa", "texto ccc")
    )[1]
    for _ in range(2):  # stable across invocations
        got = dedup_latest_per_url(df).collect()
        assert len(got) == 1 and got[0]["text"] == expect
    # a strictly newer fetch still wins regardless of hash order
    rows.append(
        {
            "url": "u",
            "warc_ts": ts + pd.Timedelta(seconds=1),
            "html": None,
            "text": "texto zzz",
            "lang": "pt",
        }
    )
    got = dedup_latest_per_url(spark.createDataFrame(pd.DataFrame(rows))).collect()
    assert len(got) == 1 and got[0]["text"] == "texto zzz"


def test_corrupt_span_payload_degrades_not_crashes(spark, pages_df):
    """A pages row whose html is not valid span-JSON (truncated payload,
    wrong charset) must flow through the page UDF as an empty page — the
    charset invariant applies inside ArrowEvalPython too, where one
    raising row aborts the whole extraction job."""
    import pandas as pd
    from pyspark.sql import functions as F

    from enem_spark.layout import image_spans, reconstruct_page

    for bad in (b"\xff\xfe garbage", b"{not json", b'{"a": 1}', b"[1, 2]"):
        assert reconstruct_page(bad) == ("", 0)
        assert image_spans(bad, "u") == []
    # end-to-end: corrupt rows alongside good ones, text=None so the UDF
    # must reconstruct from the payload
    pv = (
        pages_df.filter(F.col("url").contains("PV"))
        .limit(3)
        .collect()
    )
    rows = [
        {"url": r["url"], "warc_ts": r["warc_ts"], "html": b"\xff\xfenot json",
         "text": None, "lang": "pt"}
        for r in pv
    ]
    noisy = pages_df.unionByName(
        spark.createDataFrame(pd.DataFrame(rows), schema=pages_df.schema)
    )
    base = extract_questions(pages_df, ExtractorConfig()).count()
    got = extract_questions(noisy, ExtractorConfig()).count()
    assert got == base  # corrupt rows contributed nothing and killed nothing


def test_hostile_span_payloads_never_crash(spark):
    """The review-reproduced crash classes: infinite coordinates (valid
    JSON, previously OverflowError in the image decode), deeply-nested
    JSON (previously RecursionError through the 'lenient' parser), and a
    page claiming hundreds of 4096x4096 images (executor-OOM class —
    degrades to 1x1 past the page pixel budget)."""
    import json as _json

    from enem_spark.layout import (
        PAGE_PIXEL_BUDGET,
        count_image_spans,
        image_spans,
        reconstruct_page,
    )

    inf_span = (
        b'[{"text":"\xe2\x9f\xa6IMG\xe2\x9f\xa7","x0":0.0,"y0":0.0,'
        b'"x1":1e309,"y1":10.0}]'
    )
    assert reconstruct_page(inf_span) == ("", 0)  # non-finite rejected
    assert image_spans(inf_span, "u") == []
    assert count_image_spans(inf_span) == 0

    nested = b"[" * 3000 + b"]" * 3000
    assert reconstruct_page(nested) == ("", 0)
    assert count_image_spans(nested) == 0

    bomb = _json.dumps(
        [
            {"text": "⟦IMG⟧", "x0": 0.0, "y0": 0.0, "x1": 4096.0, "y1": 4096.0}
            for _ in range(8)
        ]
    ).encode()
    imgs = image_spans(bomb, "u")
    assert len(imgs) == 8  # ref mapping stays 1:1 with the text path
    total_px = sum(i["width"] * i["height"] for i in imgs)
    assert total_px <= PAGE_PIXEL_BUDGET + len(imgs) - 1  # 1px floors
    assert imgs[0]["width"] == 4096 and imgs[1]["width"] == 1  # degrade


def test_escaped_marker_agrees_across_paths(spark):
    """ensure_ascii=True producers escape the marker (\\u27e6IMG\\u27e7):
    the byte screen, the parsed count, and the reconstruct path must all
    agree or has_images/image_refs dangle."""
    import json as _json

    from enem_spark.layout import count_image_spans, reconstruct_page

    payload = _json.dumps(
        [
            {"text": "corpo", "x0": 40.0, "y0": 40.0, "x1": 280.0, "y1": 50.0},
            {"text": "⟦IMG⟧", "x0": 100.0, "y0": 400.0, "x1": 200.0, "y1": 500.0},
        ],
        ensure_ascii=True,  # marker becomes \\u27e6IMG\\u27e7 in the bytes
    ).encode()
    assert b"\\u27e6" in payload  # escaped form really exercised
    assert count_image_spans(payload) == 1
    assert reconstruct_page(payload) == ("corpo", 1)
