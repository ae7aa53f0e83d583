"""DOM-heuristic HTML main-content extraction (enem_spark/htmlops.py).

The anchor test is recovery: expected main text is built from the INPUT
document text (the paragraphs the synthesizer embeds), never by running the
extractor — so a classifier bug cannot hide inside its own oracle.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from enem_spark import htmlops as H

SF = "/root/testdata/sf0.001"


def _docs() -> pd.DataFrame:
    return pd.read_parquet(
        f"{SF}/documents.parquet", columns=["doc_id", "text", "source", "lang"]
    )


# ---------------------------------------------------------------------------
# pure-Python layer
# ---------------------------------------------------------------------------


def test_recovery_byte_identical_all_docs():
    for d, t, s, g in _docs().itertuples(index=False):
        main, n_blocks, n_content = H.extract_main_py(H.html_for(d, t, s, g))
        expected = "\n".join(H._paragraphs(t))
        assert main == expected, f"doc {d}"
        assert n_content == len(H._paragraphs(t))
        assert n_blocks > n_content  # chrome blocks exist and were counted


@pytest.mark.parametrize(
    "text",
    [
        "",  # empty doc -> padded filler paragraph, still recovered
        "a b",  # below WORD_MIN -> padded
        'x < y & z > w "q" \'t\' ' + " ".join(f"tok{i}" for i in range(80)),
        " ".join(f"w{i}" for i in range(H.PARA_TOKENS + 3)),  # short tail merge
    ],
)
def test_recovery_edge_cases(text):
    # doc_id 0 hits BOTH special branches: inline anchor (0%3==0) and ad
    # block (0%4==0) — content with a link must survive, ad must not
    main, _, _ = H.extract_main_py(H.html_for(0, text, "src&co", "pt"))
    assert main == "\n".join(H._paragraphs(text))


def test_chrome_is_dropped():
    html = H.html_for(0, " ".join(f"tok{i}" for i in range(80)), "g1", "pt")
    main, _, _ = H.extract_main_py(html)
    for chrome in ("Compre agora", "Em alta", "Privacidade", "Ótimo artigo",
                   "Home", "track(page)", "margin:0 auto", "artigo 0"):
        assert chrome not in main, chrome


def test_classifier_boundaries():
    # exactly WORD_MIN words, no links -> kept
    kept = "<p>" + " ".join(f"w{i}" for i in range(H.WORD_MIN)) + "</p>"
    assert H.extract_main_py(kept)[2] == 1
    # one word fewer -> dropped
    short = "<p>" + " ".join(f"w{i}" for i in range(H.WORD_MIN - 1)) + "</p>"
    assert H.extract_main_py(short)[2] == 0
    # long but fully anchored -> dropped (density 1.0)
    linky = '<p><a href="/x">' + " ".join(f"w{i}" for i in range(20)) + "</a></p>"
    assert H.extract_main_py(linky)[2] == 0


# ---------------------------------------------------------------------------
# Spark layer
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pages(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return H.synth_html_pages(docs)


def test_synth_matches_staged_input(spark, pages):
    """The DuckDB twins regex over the staged pages; the Spark queries regex
    over the mapInPandas synth — byte-identity here is what makes those
    'computing twin' checks meaningful."""
    staged = pd.read_parquet(H.stage_html_tables(SF)["html_pages"])
    got = pages.toPandas()
    merged = staged.merge(got, on="doc_id", suffixes=("_st", "_sp"))
    assert len(merged) == len(staged) == len(got)
    assert (merged["url_st"] == merged["url_sp"]).all()
    assert all(
        sp.decode("utf-8") == st
        for sp, st in zip(merged["html_sp"], merged["html_st"])
    )


def test_extract_main_content_matches_expected(spark, pages):
    got = (
        H.extract_main_content(pages)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = (
        pd.read_parquet(H.stage_html_tables(SF)["html_main"])
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_plan_shape(spark, pages):
    # main content: exactly 2 Arrow crossings (synth + extract), no shuffle
    main_plan = H.extract_main_content(pages)._jdf.queryExecution().executedPlan().toString()
    assert main_plan.count("ArrowEvalPython") == 0  # mapInPandas, not eval
    assert main_plan.count("MapInPandas") == 2
    assert "Exchange" not in main_plan
    # strip/title: JVM-side regexp only beyond the synth stage
    for df in (H.html_strip_tags(pages), H.html_title_meta(pages)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1  # the synth stage only
        assert "Exchange" not in plan
    # outlinks: single aggregation exchange on host
    out_plan = H.html_outlinks(pages)._jdf.queryExecution().executedPlan().toString()
    assert out_plan.count("MapInPandas") == 1
    # paragraph dedup: the DOM stage runs ONCE (single linear pipeline into
    # the window + reassembly), and nothing becomes a cartesian product
    dp_plan = (
        H.dedup_paragraphs(H.extract_main_content(pages))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert dp_plan.count("MapInPandas") == 2  # synth + extract, each once
    assert "CartesianProduct" not in dp_plan


# ---------------------------------------------------------------------------
# property tests (Hypothesis): invariants for ANY input, not just the corpus
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

# words that stress escaping, unicode, and the classifier boundaries
_WORDS = st.sampled_from(
    ["palavra", "données", "x<y", "a&b", '"q"', "'t'", "…", "ação",
     "w" * 40, "k", "<p>", "</a>", "&amp;", "tok1"]
)
_TEXTS = st.lists(_WORDS, min_size=0, max_size=120).map(" ".join)


@given(doc_id=st.integers(min_value=0, max_value=10**9), text=_TEXTS)
@settings(max_examples=200, deadline=None)
def test_prop_recovery_any_text(doc_id, text):
    """H1: synthesis -> extraction recovers exactly the embedded paragraphs
    for ANY word sequence, including words that look like markup (they are
    escaped on the way in, unescaped on the way out)."""
    main, n_blocks, n_content = H.extract_main_py(
        H.html_for(doc_id, text, "src", "pt")
    )
    paras = H._paragraphs(text)
    assert main == "\n".join(paras)
    assert n_content == len(paras)
    assert n_blocks >= n_content


# raw tag soup: unclosed tags, nested anchors, stray entities, skip-tag
# islands — extractor must never raise and must respect the density rule
_SOUP = st.lists(
    st.sampled_from(
        ["<p>", "</p>", "<div>", "</div>", "<a href='/x'>", "</a>",
         "<script>", "</script>", "<br>", "<br/>", "<hr />",
         "texto util com oito palavras aqui",
         "curto", "&amp;", "&bogus;", "&#65;", "<", ">", "<p", "<!-- c -->",
         "<!--", "-->", "-- >", "</ p>", "</p x>", "</p<div>", "</script x>",
         "<!doctype html>", "<?pi?>", "</", "</ x>", "<P Class='y'>", "<<",
         "<a href='a>b'>", "<a href=\"q>z\">", "<p <p>", "<noscript>",
         "<é>", "x<é acentuada", "<中文>", "<Ñao tag>",
         "</noscript>", "<em>", "</em>", "<td>", "</td>",
         "<style>", "</style>", "palavras soltas de enchimento para blocos"]
    ),
    min_size=0,
    max_size=40,
).map(" ".join)

# OUTSIDE the differential envelope: tags with unbalanced quotes, where
# html.parser's tolerant attribute grammar makes arbitrary recovery choices
# the fast scanner does not replicate (documented in htmlops.py). Both
# implementations must still be deterministic and crash-free there.
_PATHOLOGICAL = st.lists(
    st.sampled_from(
        ["<p a='unterminated quote>", "'", '"', "<p a='x <b>", "<p>", "</p>",
         "texto com palavras suficientes para um bloco", "<a href='/x'>",
         "</a>", "<script>", "</script>"]
    ),
    min_size=0,
    max_size=40,
).map(" ".join)


@given(soup=_PATHOLOGICAL)
@settings(max_examples=200, deadline=None)
def test_prop_pathological_quotes_no_crash(soup):
    first = H.extract_main_py(soup)
    assert first == H.extract_main_py(soup)  # deterministic
    ref = H.extract_main_reference(soup)
    assert 0 <= first[2] <= first[1]
    assert 0 <= ref[2] <= ref[1]


@given(soup=_SOUP)
@settings(max_examples=200, deadline=None)
def test_prop_malformed_html_never_raises(soup):
    """H2: arbitrary tag soup (CC reality) parses without exceptions; output
    text never contains tag characters from well-formed markup regions; and
    the fast split-scanner agrees with the html.parser reference on it."""
    main, n_blocks, n_content = H.extract_main_py(soup)
    assert 0 <= n_content <= n_blocks
    # every kept block honors the word floor
    for block in main.split("\n") if main else []:
        assert block.count(" ") + 1 >= H.WORD_MIN
    assert (main, n_blocks, n_content) == H.extract_main_reference(soup)


def test_fast_scanner_matches_reference_on_corpus():
    """Differential anchor for the fast scanner: byte-identical blocks and
    classification vs the stdlib html.parser implementation on every
    synthesized page plus targeted parser edge cases."""
    for d, t, s, g in _docs().itertuples(index=False):
        h = H.html_for(d, t, s, g)
        assert H.extract_main_py(h) == H.extract_main_reference(h), f"doc {d}"
    W9 = " ".join(f"w{i}" for i in range(9))
    probes = [
        "", "plain words only here for a block test ok",
        "<p>a<p>b</p>", "<<p>x</p>", "<a href='x'>w1 w2</a>",
        f"<script>var a = '</notscript>' + 1;</script><p>{W9}</p>",
        f"<style>p{{color:red}}</style><p>{W9}</p>",
        f"<br/><hr/><p>{W9}</p>",
        f"<P CLASS='x'>{W9}</P>",
        f"</ bogus > <p>{W9}</p>",
        f"<!DOCTYPE html><?pi x?><p>{W9}</p>",
        "unterminated <p tag at eof",
        "text &amp; more &lt;x&gt; &bogus; &#65; end here now ok",
        "< notatag but text", "<p>a &amp b</p>", "<script>never closed",
        "<noscript><p>hidden words one two three four five six</p></noscript>",
        f"a<!--c1-->b <!-- multi\nline --> <p>{W9}</p>",
    ]
    for probe in probes:
        assert H.extract_main_py(probe) == H.extract_main_reference(probe), probe


# ---------------------------------------------------------------------------
# exactly-once lineage for the web-extraction path (lineage.run_html_extraction)
# ---------------------------------------------------------------------------


def test_run_html_extraction_exactly_once(spark, pages, tmp_path):
    from enem_spark.lineage import committed_main_content, run_html_extraction

    out = str(tmp_path / "html_out")
    s1 = run_html_extraction(spark, pages, out, run_id="r1")
    n_docs = pages.count()
    assert s1["input_pages"] == n_docs and s1["main_rows"] == n_docs

    got = committed_main_content(spark, out)
    assert got.count() == n_docs
    # committed output matches the staged pure-Python expected table exactly
    exp = pd.read_parquet(H.stage_html_tables(SF)["html_main"])
    gp = (
        got.drop("run_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)[exp.columns]
    )
    pd.testing.assert_frame_equal(gp, exp.sort_values("doc_id").reset_index(drop=True))

    # per-partition lineage sums to the totals
    lin = spark.read.parquet(f"{out}/lineage").toPandas()
    assert lin["input_pages"].sum() == n_docs
    assert lin["content_blocks"].sum() == exp["n_content_blocks"].sum()
    assert (lin["wall_ms"] > 0).all()

    # rerun with a NEW run_id over the same pages: no-op, nothing rewritten
    s2 = run_html_extraction(spark, pages, out, run_id="r2")
    assert s2 == {
        "run_id": "r2",
        "input_pages": 0,
        "main_rows": 0,
        "anchors_backfill_needed": False,
    }
    assert committed_main_content(spark, out).count() == n_docs
    import os

    assert not os.path.exists(f"{out}/main_content/run_id=r2")


def test_run_html_extraction_resume_and_orphans(spark, pages, tmp_path):
    """Crash semantics: an uncommitted run_id dir (orphan) is invisible to
    readers, and resume reprocesses exactly the unfinished documents."""
    import shutil

    from enem_spark.lineage import committed_main_content, run_html_extraction

    out = str(tmp_path / "html_out")
    half = pages.filter(F.col("doc_id") % 2 == 0)
    run_html_extraction(spark, half, out, run_id="r1")
    n_half = half.count()

    # simulate a crashed attempt: copy r1's payload dir to an uncommitted id
    shutil.copytree(
        f"{out}/main_content/run_id=r1", f"{out}/main_content/run_id=crashed"
    )
    assert committed_main_content(spark, out).count() == n_half  # orphan unread

    # resume over the FULL table processes only the odd docs
    s2 = run_html_extraction(spark, pages, out, run_id="r2")
    n_all = pages.count()
    assert s2["input_pages"] == n_all - n_half
    got = committed_main_content(spark, out)
    assert got.count() == n_all
    assert got.select("doc_id").distinct().count() == n_all


# ---------------------------------------------------------------------------
# streaming ingestion (crawl tail) for the html path
# ---------------------------------------------------------------------------


def test_html_stream_matches_batch_with_recrawl_dedup(spark, pages, tmp_path):
    """availableNow html stream == batch extraction, including drop of a
    re-crawled duplicate url, and a second invocation over the same
    checkpoint is a no-op (no new committed runs)."""
    from enem_spark.lineage import committed_main_content
    from enem_spark.streaming import read_html_pages_stream, start_html_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages.write.parquet(src)
    # re-crawl: the same 3 urls again -> dedupped inside the watermark
    pages.limit(3).write.mode("append").parquet(src)

    stream = read_html_pages_stream(spark, src, watermark="10 seconds")
    q = start_html_stream(stream, out, ckpt, available_now=True)
    q.awaitTermination(300)

    got = committed_main_content(spark, out)
    n_docs = pages.count()
    assert got.count() == n_docs
    assert got.select("doc_id").distinct().count() == n_docs
    exp = pd.read_parquet(H.stage_html_tables(SF)["html_main"])
    gp = (
        got.drop("run_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)[list(exp.columns)]
    )
    pd.testing.assert_frame_equal(
        gp, exp.sort_values("doc_id").reset_index(drop=True)
    )

    runs_before = spark.read.parquet(f"{out}/runs").count()
    q2 = start_html_stream(
        read_html_pages_stream(spark, src, watermark="10 seconds"),
        out,
        ckpt,
        available_now=True,
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{out}/runs").count() == runs_before


# ---------------------------------------------------------------------------
# paragraph-level corpus dedup (CCNet-style pass after DOM extraction)
# ---------------------------------------------------------------------------


def test_dedup_paragraphs_first_occurrence(spark):
    main = spark.createDataFrame(
        [
            (1, "P um\nP dois"),
            (2, "P dois\nP tres"),  # P dois already seen in doc 1 -> dropped
            (3, "P um"),  # everything dropped -> empty reassembly
        ],
        "doc_id long, main_text string",
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_deduped"])
        for r in H.dedup_paragraphs(main).collect()
    }
    assert got == {
        1: (2, 2, "P um\nP dois"),
        2: (2, 1, "P tres"),
        3: (1, 0, ""),
    }


# ---------------------------------------------------------------------------
# host PageRank (iterative graph op with an unrolled SQL twin)
# ---------------------------------------------------------------------------


def test_host_pagerank_properties(spark, pages):
    ranks = H.host_pagerank(pages).toPandas()
    n = len(ranks)
    assert n > 1
    # every rank is at least the teleport floor (to 6-dp output rounding)
    # and below 1
    floor = (1 - H.PAGERANK_DAMPING) / n
    assert (ranks["pagerank"] >= floor - 1e-6).all()
    assert (ranks["pagerank"] < 1).all()
    # total mass <= 1 (dangling hosts leak mass; no redistribution) and
    # at least the teleport share survives
    total = ranks["pagerank"].sum()
    assert (1 - H.PAGERANK_DAMPING) - 1e-6 <= total <= 1 + 1e-6
    # hub hosts (linked from every page of a source) outrank leaf targets:
    # the per-source example.com nav hosts receive 5 weighted in-links per
    # page and must clear the teleport-only floor
    hubs = ranks[ranks["host"].str.endswith(".example.com")]
    assert (hubs["pagerank"] > floor + 1e-6).any()
    spark.catalog.clearCache()


def test_host_pagerank_hand_graph(spark):
    # two-node cycle a<->b plus dangling c fed by a: hand-computable
    import pandas as pd_

    def page(src, hrefs):
        body = " ".join(f'<a href="https://{h}/x">l</a>' for h in hrefs)
        return (f"cc://{src}/1", f"<html><body>{body}</body></html>".encode())

    rows = [page("a", ["b", "c"]), page("b", ["a"])]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {r["host"]: r["pagerank"] for r in H.host_pagerank(pages).collect()}
    # manual unroll (N=3, d=0.85, r0=1/3, per-iteration round 9)
    N, d = 3, 0.85
    r = {"a": 1 / N, "b": 1 / N, "c": 1 / N}
    for _ in range(H.PAGERANK_ITERATIONS):
        r = {
            "a": round((1 - d) / N + d * r["b"], 9),
            "b": round((1 - d) / N + d * r["a"] / 2, 9),
            "c": round((1 - d) / N + d * r["a"] / 2, 9),
        }
    assert got == {h: round(v, 6) for h, v in r.items()}
    spark.catalog.clearCache()


def test_host_components_hand_graph(spark):
    # chain a->b->c (multi-round convergence), isolated d, 2-cycle e<->f;
    # c appears ONLY as a link target and must still be labeled
    def page(src, hrefs):
        body = " ".join(f'<a href="https://{h}/x">l</a>' for h in hrefs)
        return (f"cc://{src}/1", f"<html><body>{body}</body></html>".encode())

    rows = [
        page("a", ["b"]),
        page("b", ["c"]),
        page("d", []),
        page("e", ["f"]),
        page("f", ["e"]),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {r["host"]: r["component"] for r in H.host_components(pages).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e", "f": "e"}
    spark.catalog.clearCache()


def test_host_components_consistent_with_edges(spark, pages):
    comp = {r["host"]: r["component"] for r in H.host_components(pages).collect()}
    edges = H.host_edges(pages).collect()
    assert edges
    for e in edges:
        # linked hosts always share a component
        assert comp[e["src"]] == comp[e["dst"]]
    # every label is the lexicographic min of its members and is a root
    for host, label in comp.items():
        assert label <= host
        assert comp[label] == label
    spark.catalog.clearCache()


def test_curate_main_content_splits(spark, pages):
    """Curation must actually split the corpus: hub-hosted docs with enough
    text are kept, and the keep rule matches its own columns row-by-row."""
    got = H.curate_main_content(pages).toPandas()
    assert 0 < got["keep"].sum() < len(got)
    n_hosts = got["host"].nunique() + 2  # + ads + ref targets (not doc hosts)
    thr = H.CURATE_RANK_FLOOR_MULT * (1 - H.PAGERANK_DAMPING) / n_hosts
    rule = (
        (got["main_chars"] >= H.CURATE_MIN_CHARS)
        & (got["n_content_blocks"] >= H.CURATE_MIN_BLOCKS)
        & (got["host_rank"] >= thr)
    )
    assert (got["keep"] == rule).all()
    # junk-hosted docs with plenty of text are dropped PURELY by host rank
    dropped_by_rank = (
        (got["main_chars"] >= H.CURATE_MIN_CHARS)
        & (got["n_content_blocks"] >= H.CURATE_MIN_BLOCKS)
        & ~got["keep"]
    )
    assert dropped_by_rank.any()
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# anchor-text extraction (link-signal corpus)
# ---------------------------------------------------------------------------


def test_anchor_texts_pure():
    pairs = H.anchor_texts_py(
        '<p><a href="/a">um  dois</a> x <a href="/b">tres</a></p>'
        '<script><a href="/no">skip</a></script>'
        '<a href="/c"><a href="/inner">aninhado</a> fora</a>'
        '<a href="/d">aberto no fim'
    )
    assert pairs == [
        ("/a", "um dois"),
        ("/b", "tres"),
        ("/c", "aninhado fora"),  # nested anchor: outermost wins
        ("/d", "aberto no fim"),  # unterminated at EOF still emitted
    ]
    assert H.anchor_texts_py("") == []
    assert H.anchor_texts_py("<a>no href</a>") == [("", "no href")]


def test_anchor_texts_corpus(spark, pages):
    got = (
        H.extract_anchor_texts(pages)
        .toPandas()
        .sort_values(["doc_id", "pos"])
        .reset_index(drop=True)
    )
    exp = (
        pd.read_parquet(H.stage_html_tables(SF)["html_anchors"])
        .sort_values(["doc_id", "pos"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    # structure: every page has 5 nav + 4 sidebar anchors at minimum, and
    # every citation anchor carries exactly its 2-word text
    per_doc = got.groupby("doc_id").size()
    assert (per_doc >= 9).all()
    cites = got[got["href"].str.startswith("https://ref.example.com/")]
    assert (cites["anchor_text"].str.count(" ") == 1).all()
    spark.catalog.clearCache()


def test_run_html_extraction_with_anchors(spark, pages, tmp_path):
    """with_anchors=True writes the per-anchor side table from the SAME
    single Arrow crossing, under the same commit protocol; a crashed
    attempt's stale anchors dir is swept when retried without the flag."""
    import os
    import shutil

    from enem_spark.lineage import committed_table, run_html_extraction

    out = str(tmp_path / "html_out")
    even = pages.filter(F.col("doc_id") % 2 == 0)
    run_html_extraction(spark, even, out, run_id="r1", with_anchors=True)
    got = (
        committed_table(spark, out, "anchors")
        .select("doc_id", "pos", "href", "anchor_text")
        .toPandas()
        .sort_values(["doc_id", "pos"])
        .reset_index(drop=True)
    )
    staged = pd.read_parquet(H.stage_html_tables(SF)["html_anchors"])
    exp = (
        staged[staged["doc_id"] % 2 == 0]
        .sort_values(["doc_id", "pos"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)

    # simulate: r2 crashed AFTER writing anchors, then retried WITHOUT the
    # flag over the remaining docs — the retry commits (it has real work)
    # and must sweep the stale anchors dir before the marker lands
    shutil.copytree(f"{out}/anchors/run_id=r1", f"{out}/anchors/run_id=r2")
    s2 = run_html_extraction(spark, pages, out, run_id="r2", with_anchors=False)
    assert s2["input_pages"] > 0
    assert not os.path.exists(f"{out}/anchors/run_id=r2")
    # committed anchors are exactly r1's
    assert committed_table(spark, out, "anchors").count() == len(exp)


def test_anchor_profile_and_outlink_consistency(spark, pages):
    """Cross-operator consistency: html_outlinks' per-host link count must
    equal the number of extracted anchors whose href is absolute to that
    host — two independent implementations (JVM regex over raw html vs the
    anchor parser) counting the same thing."""
    out = {
        r["host"]: r["n_links"] for r in H.html_outlinks(pages).collect()
    }
    anchors = H.extract_anchor_texts(pages).toPandas()
    hosts = anchors["href"].str.extract(r"^https?://([^/]+)")[0]
    from_anchors = hosts.dropna().value_counts().to_dict()
    assert out == from_anchors
    # profile: rank is dense per host starting at 1, terms lowercased
    prof = H.anchor_text_profile(pages).toPandas()
    assert (prof.groupby("host")["rank"].min() == 1).all()
    assert (prof["term"] == prof["term"].str.lower()).all()
    assert (prof["rank"] <= 3).all()
    spark.catalog.clearCache()


def test_anchor_parser_skip_region_symmetry():
    # an </a> inside an <svg> island (whose <a> start was ignored) must not
    # close the outer anchor — "label" belongs to /x
    pairs = H.anchor_texts_py(
        '<a href="/x"><svg><a href="#i">icon</a></svg>label</a>'
    )
    assert pairs == [("/x", "label")]


def test_anchors_backfill_flag(spark, pages, tmp_path):
    """Flipping with_anchors ON over an out_dir whose committed runs had no
    anchors is flagged: coverage cannot be retroactive."""
    from enem_spark.lineage import run_html_extraction

    out = str(tmp_path / "html_out")
    even = pages.filter(F.col("doc_id") % 2 == 0)
    s1 = run_html_extraction(spark, even, out, run_id="r1")  # no anchors
    assert s1["anchors_backfill_needed"] is False
    s2 = run_html_extraction(spark, pages, out, run_id="r2", with_anchors=True)
    assert s2["anchors_backfill_needed"] is True
    # the anchors table holds ONLY r2's docs (the odd half)
    from enem_spark.lineage import committed_table

    got = committed_table(spark, out, "anchors")
    assert got.select("doc_id").distinct().count() == s2["input_pages"]


def test_paragraph_langid_mixed_doc(spark):
    """Pin the per-paragraph semantics on a genuinely mixed page: majority
    by strict plurality, ties -> 'und', minority fraction exact."""
    main = spark.createDataFrame(
        [
            # 2 en paragraphs, 1 pt -> majority en, 1/3 minority
            (1, "the cat and the dog of the house\n"
                "the sum of the work and the rest\n"
                "a casa de pedra que vale mais"),
            # 1 en, 1 pt -> tie -> reported 'und'; NO paragraph agrees with
            # the reported label, so minority_frac = 1.0 (the most mixed
            # page must read as fully mixed, not 0.5)
            (2, "the cat and the dog of it\na casa de pedra que vale"),
            # marker-free -> all und, majority und, 0 minority
            (3, "sem marcadores aqui\nnada reconhecivel"),
        ],
        "doc_id long, main_text string",
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["majority_lang"], r["minority_frac"])
        for r in H.paragraph_langid(main).collect()
    }
    assert got[1] == (3, "en", round(1 / 3, 6))
    assert got[2] == (2, "und", 1.0)
    assert got[3] == (2, "und", 0.0)


def test_clean_paragraphs_composition(spark):
    """Hand-checkable: dedup drops the repeated paragraph from doc 2; the
    language filter drops the pt paragraph from en-majority doc 1; an
    und-plurality doc keeps everything deduped."""
    main = spark.createDataFrame(
        [
            (1, "the cat and the dog of it\n"
                "the sum of the work and the rest\n"
                "a casa de pedra que vale mais"),
            (2, "the cat and the dog of it\nsem marcadores aqui"),
            (3, "linha neutra um\nlinha neutra dois"),
        ],
        "doc_id long, main_text string",
    )
    got = {
        r["doc_id"]: (r["majority_lang"], r["n_paras"], r["n_kept"], r["text_clean"])
        for r in H.clean_paragraphs(main).collect()
    }
    # doc 1: en plurality (2 en vs 1 pt); pt paragraph filtered out
    assert got[1] == (
        "en", 3, 2,
        "the cat and the dog of it\nthe sum of the work and the rest",
    )
    # doc 2: its en paragraph is a corpus-wide duplicate of doc 1's first
    # (rk=2 -> dropped); the remaining und paragraph ties 1-1-? ... en=1,
    # pt=0, und=1 -> no strict plurality -> 'und' keeps deduped paragraphs
    assert got[2] == ("und", 2, 1, "sem marcadores aqui")
    # doc 3: all und, everything kept
    assert got[3] == ("und", 2, 2, "linha neutra um\nlinha neutra dois")


def test_html_robots_directives(spark):
    from enem_spark.htmlops import html_robots, robots_html_for, synth_robots_pages

    docs = spark.createDataFrame(
        [(i, f"texto do documento {i} " * 20, f"s{i}", "pt") for i in range(5, 11)],
        "doc_id long, text string, source string, lang string",
    )
    out = {r["doc_id"]: r for r in html_robots(synth_robots_pages(docs)).collect()}
    assert len(out) == 6
    # classes by doc_id % 5: 0 none-declared, 1 noindex+nofollow, 2 nofollow,
    # 3 NOINDEX case variant, 4 'none' shorthand
    assert out[5]["robots_content"] == "" and not out[5]["noindex"] and not out[5]["nofollow"]
    assert out[6]["noindex"] and out[6]["nofollow"]
    assert not out[7]["noindex"] and out[7]["nofollow"]
    assert out[8]["noindex"] and not out[8]["nofollow"]  # case-insensitive
    assert out[9]["noindex"] and out[9]["nofollow"]  # 'none' = both
    # token matching: 'noindexing' must NOT count as noindex
    probe = spark.createDataFrame(
        [(1, "u", '<html><head><meta name="robots" content="noindexing"></head></html>'.encode())],
        "doc_id long, url string, html binary",
    )
    r = html_robots(probe).collect()[0]
    assert not r["noindex"]


def test_robots_synth_byte_identity_with_staging(spark):
    from enem_spark.htmlops import stage_html_tables, synth_robots_pages
    import pandas as pd

    sf = "/root/testdata/sf0.001"
    exp = pd.read_parquet(stage_html_tables(sf)["robots_pages"]).sort_values("doc_id")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = synth_robots_pages(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert list(got["url"]) == list(exp["url"])
    assert [bytes(b).decode("utf-8") for b in got["html"]] == list(exp["html"])


def test_non_ascii_after_lt_is_data_not_a_tag():
    """html.parser's starttagopen is '<[a-zA-Z]': '<é' / '<中' are DATA.
    A Unicode-aware isalpha() routed these into the ASCII-only name regex
    and crashed (None.group()) — real crawl pages do contain them."""
    soup = "<p>texto util com muitas palavras boas aqui x<é acentuada e <中文> mais</p>"
    got = H.extract_main_py(soup)
    assert got == H.extract_main_reference(soup)
    assert "é" in got[0] or got[2] == 0  # never raises; data survives


def test_curate_empty_host_graph_disables_rank_gate(spark):
    """A batch whose hrefs produce no host edges must degrade to the
    min_chars/min_blocks rules: host_pagerank returns its empty frame
    (schema identical to the populated path) and the threshold guard keeps
    c/0 from becoming +Infinity (which silently rejected every page)."""
    from pyspark.sql import Row

    para = (
        "<p>"
        + " ".join(f"palavra{i} util aqui mesmo" for i in range(15))
        + "</p>"
    )
    pages = spark.createDataFrame(
        [Row(doc_id=4, url="cc://h4/d", html=(para + para).encode())]
    )
    ranks = H.host_pagerank(pages)
    assert ranks.columns == ["host", "pagerank"] and ranks.count() == 0
    cur = H.curate_main_content(pages).collect()
    assert len(cur) == 1 and cur[0].keep and cur[0].host_rank == 0.0


def test_extraction_eval_hand_computed(spark):
    """Hand-checked multiset P/R/F1: gold 'a b b c' vs extracted 'a b x'
    -> common = {a:1, b:min(2,1)=1} = 2, P = 2/3, R = 2/4, F1 = 4/7. Empty
    and NULL texts yield all-zero rows (ANSI-guarded divisions), and every
    doc_id from EITHER side appears exactly once."""
    gold = spark.createDataFrame(
        [(1, "a b b c"), (2, ""), (3, None)], "doc_id long, text string"
    )
    extracted = spark.createDataFrame(
        [(1, "a b x"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    out = H.extraction_eval(gold, extracted).collect()
    assert len(out) == 3
    rows = {r["doc_id"]: r for r in out}
    r1 = rows[1]
    assert (r1["n_gold"], r1["n_extracted"], r1["n_common"]) == (4, 3, 2)
    assert r1["precision"] == round(2 / 3, 6)
    assert r1["recall"] == 0.5
    assert r1["f1"] == round(4 / 7, 6)
    r2 = rows[2]  # empty gold: nothing to recall, one spurious token
    assert (r2["n_gold"], r2["n_extracted"], r2["n_common"]) == (0, 1, 0)
    assert (r2["precision"], r2["recall"], r2["f1"]) == (0.0, 0.0, 0.0)
    r3 = rows[3]  # NULL gold behaves like '' (engine-wide NULL-text rule)
    assert (r3["n_gold"], r3["n_extracted"], r3["n_common"]) == (0, 0, 0)
    assert (r3["precision"], r3["recall"], r3["f1"]) == (0.0, 0.0, 0.0)


def test_extraction_eval_strip_vs_dom_signal(spark):
    """On the synthetic corpus the DOM classifier IS gold (recovery test),
    so scoring the bare tag strip against it must show the designed spread:
    recall exactly 1.0 everywhere (the strip is a superset — main tokens
    all survive tag removal) and precision strictly < 1 (chrome tokens are
    spurious)."""
    docs = spark.createDataFrame(_docs())
    pages = H.synth_html_pages(docs)
    gold = H.extract_main_content(pages).select(
        "doc_id", F.col("main_text").alias("text")
    )
    extracted = H.html_strip_tags(pages).select(
        "doc_id", F.col("text_stripped").alias("text")
    )
    ev = H.extraction_eval(gold, extracted).toPandas()
    assert len(ev) == len(_docs())
    assert (ev["recall"] == 1.0).all()
    assert (ev["precision"] < 1.0).all()
    assert ((ev["f1"] > 0.0) & (ev["f1"] < 1.0)).all()


def test_scanner_balanced_quote_nesting_matches_reference():
    """Review finding (r3): the old even-parity fast path ended a tag at a
    '>' INSIDE a double-quoted value whenever a prior single-quoted value
    contained a double quote (both counts even) — a balanced-quote input
    where the fast scanner diverged from html.parser, violating the
    declared divergence envelope (only UNBALANCED quotes may differ)."""
    from enem_spark.htmlops import _blocks_reference, _scan_blocks

    cases = [
        "<a x='\"' y=\"z>w\">hello um dois tres quatro cinco</a>",
        "<p onclick=\"if(a>b)c()\" alt='it\"s'>body text here now ok</p>",
        "<div data-x='>' title=\"a>b\">plain words in the block</div>",
    ]
    for h in cases:
        assert list(_scan_blocks(h)) == list(_blocks_reference(h)), h
