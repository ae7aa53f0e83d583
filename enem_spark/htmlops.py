"""DOM-heuristic HTML main-content extraction over Common-Crawl-style pages.

The north rule names three extraction families: PDF/layout parse (extract.py),
cross-document boilerplate strip (textops.strip_boilerplate), and DOM
heuristics — this module is the third. It generalizes the reference's
"keep the question text, drop the chrome" behavior (enem_pdf_extractor.py's
header/cover skipping, F2/F3) to web pages: given an `html` payload, recover
the article text and drop nav/sidebar/ads/comments/footer.

Two extraction paths, mirroring the repo's split elsewhere:

* `extract_main_content` — densitometric block classification (Boilerpipe's
  NumWordsRules simplified: a DOM block is content iff it has >= WORD_MIN
  words and anchor-text density <= LINK_DENSITY_MAX). Pure stdlib
  `html.parser`, vectorized through ONE mapInPandas Arrow crossing. This is
  the path that needs a real parser, so it is the Python one; its DuckDB
  oracle is MATERIALIZED (stage_html_tables), same pattern as
  expected.py for the flagship queries.
* `strip_tags_expr` / outlink + title extraction — JVM-side regexp chains
  (whole-stage codegen, no Python), with *computing* DuckDB twins: the SQL
  runs the same regexes over a staged copy of the same pages, so the twin
  re-derives the answer instead of SELECTing a precomputed one.

Synthetic input: the driver's documents table has no html column, so
`html_for` deterministically wraps each document's text in realistic chrome
(nav, sidebar, ad blocks, comments, footer, script/style) — pure function of
(doc_id, text, source, lang), no RNG. The recovery invariant tested in
tests/test_htmlops.py: extraction returns exactly the embedded article
paragraphs, byte-identical, for every document — expected text is built from
the INPUT text, independent of the extractor.

Scale notes (100 TB): both paths are map-side only — no shuffle, no driver
collect; the outlink aggregation shuffles once on `host` (near-uniform key).
Real crawls feed `html` straight from the table, so the synth stage
disappears and main-content extraction is a single Arrow crossing per
partition. Blocks are classified independently → the parser never holds more
than one page in memory per row.
"""

from __future__ import annotations

import hashlib
import html as html_mod
import os
import re
import time
from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from . import staging_path

# Densitometric operating point (Boilerpipe NumWordsRules uses 10 words /
# 0.33 link density; 8 keeps the shortest synthetic paragraph clear of the
# boundary while still dropping every chrome block).
WORD_MIN = 8
LINK_DENSITY_MAX = 0.33
PARA_TOKENS = 40  # words per synthesized <p>
FILLER = "conteudo"

_WS = re.compile(r"\s+")

# ---------------------------------------------------------------------------
# synthesis (pure functions of the documents row — shared by the Spark
# mapInPandas path and the DuckDB staging path, never forked)
# ---------------------------------------------------------------------------


def _paragraphs(text: str) -> list[str]:
    """Deterministic article paragraphs for a document: whitespace-normalized
    chunks of PARA_TOKENS words; short documents are padded to WORD_MIN words
    and a short tail chunk is merged into its predecessor so every paragraph
    clears the classifier's word floor by construction."""
    toks = str(text).split()
    if len(toks) < WORD_MIN:
        toks = (toks + [FILLER] * WORD_MIN)[:WORD_MIN]
    chunks = [toks[i : i + PARA_TOKENS] for i in range(0, len(toks), PARA_TOKENS)]
    if len(chunks) > 1 and len(chunks[-1]) < WORD_MIN:
        chunks[-2] = chunks[-2] + chunks[-1]
        chunks.pop()
    return [" ".join(c) for c in chunks]


def _para_html(doc_id: int, j: int, para: str) -> str:
    """Escape one paragraph; every third document gets an inline citation
    anchor in its first paragraph (content with links must survive the
    classifier). The density guarantee is ENFORCED, not assumed: the anchor
    is added only when the two anchored words' chars stay at <= 1/4 of the
    paragraph (margin under LINK_DENSITY_MAX = 1/3) — word lengths vary, so
    a word-count rule alone cannot bound a char-ratio."""
    raw = para.split(" ")
    words = [html_mod.escape(w) for w in raw]
    if doc_id % 3 == 0 and j == 0 and len(words) >= 20:
        # measure on the UNESCAPED text — that is what the extractor's
        # density sees after entity decode (escaped lengths can differ)
        anchored = len(raw[5]) + len(raw[6]) + 1  # + the joining space
        if anchored * 4 <= len(para):
            words[5] = f'<a href="https://ref.example.com/r/{doc_id}">' + words[5]
            words[6] = words[6] + "</a>"
    return " ".join(words)


def is_junk_source(source: str) -> bool:
    """A deterministic md5-keyed subset of sources (digest[1] % 4 == 0 —
    2 of the 20 fixed testdata sources, src1 and src8) are 'junk' sites
    whose nav links an ad network instead of their own host. Their public
    host then receives no in-links and sits at the PageRank teleport floor,
    so the host-prior curation rule has a real split to make."""
    digest = hashlib.md5(str(source).encode()).digest()
    return digest[1] % 4 == 0


_HOST_SAFE = re.compile(r"[^a-zA-Z0-9.-]")


def public_host(source: str) -> str:
    """The source's public hostname, shared by page_url AND the nav hrefs.
    Sanitized to url-safe chars: a raw name with '&'/'<' would otherwise
    html-escape differently in the href than in the cc:// url, and the
    host would silently lose its self-links (and its PageRank)."""
    return _HOST_SAFE.sub("-", str(source)) + ".example.com"


def html_for(doc_id: int, text: str, source: str, lang: str) -> str:
    """One deterministic Common-Crawl-style page: the document's text as
    an <article> surrounded by boilerplate chrome."""
    doc_id = int(doc_id)
    src = html_mod.escape(str(source))
    nav_host = (
        "ads.example.com" if is_junk_source(source) else public_host(source)
    )
    paras = _paragraphs(text)
    title = f"{src} artigo {doc_id}"
    out = [
        "<!DOCTYPE html>",
        f'<html lang="{html_mod.escape(str(lang))}"><head><title>{title}</title>',
        f'<meta name="description" content="resumo {doc_id} de {src}">',
        f"<script>var page={doc_id};track(page);</script>",
        "<style>.main{margin:0 auto}.ad{display:block}</style>",
        "</head><body>",
        '<nav id="topnav">'
        + " ".join(
            f'<a href="https://{nav_host}/{p}">{p.capitalize()}</a>'
            for p in ("home", "noticias", "esportes", "cultura", "contato")
        )
        + "</nav>",
        '<div class="sidebar"><ul>'
        + "".join(
            f'<li><a href="/t/{(doc_id + k) % 97}">Em alta {(doc_id + k) % 97}</a></li>'
            for k in range(4)
        )
        + "</ul></div>",
        "<article>",
        f"<h1>{title}</h1>",
    ]
    for j, para in enumerate(paras):
        if doc_id % 4 == 0 and j == 1:
            out.append(
                f'<div class="ad"><a href="https://ads.example.com/c/{doc_id}">'
                "Compre agora com desconto</a></div>"
            )
        body = _para_html(doc_id, j, para)
        # DOM variety with an unchanged recovery invariant: blockquote/table
        # wrappers are block boundaries themselves, so the inner text still
        # flushes as exactly one block with the same collapsed bytes
        if doc_id % 5 == 0 and j == 2:
            out.append(f"<blockquote><p>{body}</p></blockquote>")
        elif doc_id % 7 == 0 and j == 3:
            out.append(f"<table><tr><td>{body}</td></tr></table>")
        else:
            out.append("<p>" + body + "</p>")
    out.append("</article>")
    out.append(
        '<div class="comments"><p>Ótimo artigo!</p><p>Concordo plenamente.</p></div>'
    )
    out.append(
        '<footer><a href="/privacidade">Privacidade</a> · '
        f'<a href="/termos">Termos</a> · © 2024 {src}</footer>'
    )
    out.append("</body></html>")
    return "\n".join(out)


def page_url(doc_id: int, source: str) -> str:
    # the source's PUBLIC host: the same name its own nav links target, so
    # host-level signals (PageRank) attach back to the site's pages
    return f"cc://{public_host(source)}/{int(doc_id)}"


# ---------------------------------------------------------------------------
# DOM-heuristic extraction (pure Python, shared by Spark UDF and staging)
# ---------------------------------------------------------------------------

_SKIP_TAGS = frozenset({"script", "style", "noscript", "svg", "template"})
_BLOCK_TAGS = frozenset(
    (
        "html head body title p div li ul ol h1 h2 h3 h4 h5 h6 br hr article "
        "section nav footer header aside main table thead tbody tr td th "
        "blockquote pre form figure figcaption"
    ).split()
)


class _BlockParser(HTMLParser):
    """Linear block segmentation: text fragments accumulate until a
    block-level tag boundary, then flush as one block with its anchor-text
    char count. script/style/noscript subtrees are skipped entirely;
    convert_charrefs (default) unescapes entities in-stream so recovery of
    escaped source text is byte-identical."""

    def __init__(self) -> None:
        super().__init__()
        self.blocks: list[tuple[str, int]] = []  # (collapsed_text, link_chars)
        self._frags: list[tuple[str, bool]] = []
        self._skip = 0
        self._anchor = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip += 1
        elif tag == "a":
            self._anchor += 1
        elif tag in _BLOCK_TAGS:
            self.flush()

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag == "a":
            self._anchor = max(0, self._anchor - 1)
        elif tag in _BLOCK_TAGS:
            self.flush()

    def handle_data(self, data):
        if not self._skip and data:
            self._frags.append((data, self._anchor > 0))

    def flush(self) -> None:
        if not self._frags:
            return
        raw = "".join(f for f, _ in self._frags)
        anchored = "".join(f for f, a in self._frags if a)
        self._frags = []
        text = _WS.sub(" ", raw).strip()
        if text:
            self.blocks.append((text, len(_WS.sub(" ", anchored).strip())))


def _blocks_reference(html_text: str) -> list[tuple[str, int]]:
    """Block segmentation via stdlib html.parser — the REFERENCE
    implementation the fast scanner below is differential-tested against
    (tests/test_htmlops.py::test_fast_scanner_matches_reference*)."""
    parser = _BlockParser()
    parser.feed(html_text or "")
    parser.close()
    parser.flush()
    return parser.blocks


# Fast scanner: html.parser spends ~everything in per-construct Python
# dispatch (~2.7 MB/s/core measured); this split-based scanner does ONE
# C-level split('<') and then pure string ops per part. Semantics mirror
# _BlockParser: same block tags, same skip set, same anchor accounting,
# charrefs unescaped in text runs (html.unescape == convert_charrefs'
# table), script/style consume raw text to their matching end tag
# (html.parser's CDATA mode — noscript is skipped but NOT rawtext there,
# mirrored), '</'+non-letter is a dropped bogus comment, start-tag scans are
# quote-aware (a '>' inside a BALANCED quoted attribute does not end the
# tag) while end/bogus/decl scans use the plain next-'>' like html.parser's.
# Comments are parsed in-loop with the stdlib's close rule ('--' + ws +
# '>'), including html.parser's data-through-'>' recovery for unterminated
# ones. Declared divergence envelope (tests/test_htmlops.py): on tags
# containing an UNBALANCED quote, html.parser's tolerant attribute grammar
# makes arbitrary recovery choices this scanner does not replicate (block
# segmentation may differ; both remain crash-free and deterministic, and
# driver parity is unaffected because the staged oracle runs this same
# function). Everything else — the synthesized corpus and tag soup
# including comments, bogus/whitespace end tags, CDATA content, and
# quoted-'>' attributes — is differential-tested equal to html.parser.
_RAWTEXT = frozenset({"script", "style"})
_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9-]*")
_TAG_END_CH = " \t\n\r\f/>"
# first unquoted '>' (quote-aware start-tag end, html.parser locatetagend)
_TAGEND_RE = re.compile(r"(?:[^>'\"]|'[^']*'|\"[^\"]*\")*>")
# html.parser's endtagfind ('</' already consumed): whitespace-tolerant name
_ENDTAG_STRICT = re.compile(r"\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*\Z")
# html.parser's tagfind_tolerant fallback (matched right after '</'):
# name charset excludes only whitespace, '/', '>' — '<' is legal inside
_ENDTAG_TOLERANT = re.compile(r"[a-zA-Z][^\t\n\r\f />\x00]*")
# _markupbase._commentclose: comments close at '--' + optional ws + '>'
# (none of those chars is '<', so a per-part search stays exact)
_COMMENT_CLOSE = re.compile(r"--\s*>")


def _scan_blocks(s: str) -> list[tuple[str, int]]:
    blocks: list[tuple[str, int]] = []
    frags: list[tuple[str, bool]] = []
    skip = 0
    anchor = 0

    def flush() -> None:
        nonlocal frags
        if not frags:
            return
        raw = "".join(f for f, _ in frags)
        anchored = "".join(f for f, a in frags if a)
        frags = []
        text = _WS.sub(" ", raw).strip()
        if text:
            blocks.append((text, len(_WS.sub(" ", anchored).strip())))

    def on_start(name: str) -> None:
        nonlocal skip, anchor
        if name in _SKIP_TAGS:
            skip += 1
        elif name == "a":
            anchor += 1
        elif name in _BLOCK_TAGS:
            flush()

    def on_end(name: str) -> None:
        nonlocal skip, anchor
        if name in _SKIP_TAGS:
            skip = max(0, skip - 1)
        elif name == "a":
            anchor = max(0, anchor - 1)
        elif name in _BLOCK_TAGS:
            flush()

    parts = s.split("<")
    if parts[0] and not skip:
        frags.append((html_mod.unescape(parts[0]), False))
    i, nparts = 1, len(parts)
    while i < nparts:
        part = parts[i]
        i += 1
        if not part:
            # '<<': the first '<' is data, the next part opens the construct
            if not skip:
                frags.append(("<", anchor > 0))
            continue
        c0 = part[0]
        if part.startswith("!--"):
            # comment: body may contain '<' ('-->' itself cannot, so a
            # per-part search is exact); ends at '-->' searched from after
            # the '<!--' opener (html.parser parse_comment)
            m_c = _COMMENT_CLOSE.search(part, 3)
            rest = m_c and part[m_c.end() :]
            j = i
            while m_c is None and j < nparts:
                m_c = _COMMENT_CLOSE.search(parts[j])
                if m_c:
                    rest = parts[j][m_c.end() :]
                    i = j + 1
                    break
                j += 1
            if m_c:
                if rest and not skip:
                    frags.append((html_mod.unescape(rest), anchor > 0))
                continue
            # unterminated comment: html.parser's close() emits '<' through
            # the first '>' (even one inside a later tag) as DATA and
            # resumes after it; with no '>' anywhere, data to the next '<'
            # (the remaining parts re-enter the loop individually)
            gt_in = part.find(">")
            if gt_in != -1:
                if not skip:
                    frags.append(
                        (html_mod.unescape("<" + part[: gt_in + 1]), anchor > 0)
                    )
                tail = part[gt_in + 1 :]
                if tail and not skip:
                    frags.append((html_mod.unescape(tail), anchor > 0))
                continue
            acc = ["<" + part]
            handled = False
            j = i
            while j < nparts:
                p2 = parts[j]
                k2 = p2.find(">")
                if k2 != -1:
                    acc.append("<" + p2[: k2 + 1])
                    if not skip:
                        frags.append(
                            (html_mod.unescape("".join(acc)), anchor > 0)
                        )
                    tail = p2[k2 + 1 :]
                    if tail and not skip:
                        frags.append((html_mod.unescape(tail), anchor > 0))
                    i = j + 1
                    handled = True
                    break
                acc.append("<" + p2)
                j += 1
            if not handled and not skip:
                frags.append((html_mod.unescape("<" + part), anchor > 0))
            continue
        is_end = c0 == "/"
        # ASCII letters ONLY, like html.parser's starttagopen '<[a-zA-Z]':
        # a Unicode-aware isalpha() would route '<é'/'<中' here and then
        # crash on the ASCII-only _NAME_RE (None.group()) — both parsers
        # must treat a non-ASCII-letter '<' as data
        is_start = "a" <= c0 <= "z" or "A" <= c0 <= "Z"
        is_drop = c0 == "!" or c0 == "?"
        if not (is_end or is_start or is_drop):
            # stray '<' before a non-construct char: '<' is data, and the
            # rest of the part is ordinary text
            if not skip:
                frags.append(("<", anchor > 0))
                frags.append((html_mod.unescape(part), anchor > 0))
            continue
        # html.parser scans a construct to its closing '>' even across '<'
        # chars. Start tags are quote-aware over the WHOLE remaining buffer
        # (a quoted attr value legally swallows text and later tags until
        # its closing quote); end/bogus/decl scans use the plain next-'>'.
        gt = part.find(">")
        if is_start:
            # fast path ONLY when no quote char appears before the first
            # '>': then that '>' cannot be inside an attribute value and
            # the plain end is exact. The former even-parity shortcut was
            # UNSOUND — quote chars nested in the OTHER quote's value keep
            # both counts even while a '>' sits inside an open value
            # (<a x='"' y="z>w"> ends at the z'>' under parity), diverging
            # from html.parser on balanced-quote input. Any quoted tag
            # takes the slow path, whose _TAGEND_RE is the exact
            # quote-state scan at C regex speed.
            if gt != -1:
                head = part[:gt]
                if "'" in head or '"' in head:
                    gt = -1  # quotes present: take the exact slow path
            if gt == -1:
                m = _TAGEND_RE.match(part)
                stitched = False
                if m is None and i < nparts:
                    part = part + "<" + "<".join(parts[i:])
                    i = nparts
                    stitched = True
                    m = _TAGEND_RE.match(part)

                def _splice(remainder: str) -> str:
                    # the un-consumed tail of a full stitch is MARKUP, not
                    # data: re-split it and push the pieces back into the
                    # part stream, returning the leading text run
                    nonlocal nparts
                    more = remainder.split("<")
                    parts[i:i] = more[1:]
                    nparts = len(parts)
                    return more[0]

                if m is None:
                    plain = part.find(">")
                    if plain != -1:
                        # tag that can never close properly (unterminated
                        # quote, no closing quote anywhere): html.parser
                        # emits '<' through the first plain '>' as DATA and
                        # resumes after it
                        if not skip:
                            frags.append(
                                (
                                    html_mod.unescape("<" + part[: plain + 1]),
                                    anchor > 0,
                                )
                            )
                        rest = part[plain + 1 :]
                        if stitched:
                            rest = _splice(rest)
                        if rest and not skip:
                            frags.append(
                                (html_mod.unescape(rest), anchor > 0)
                            )
                    else:
                        # unterminated at EOF: close() emits it raw as data
                        if not skip:
                            frags.append(
                                (html_mod.unescape("<" + part), anchor > 0)
                            )
                    continue
                gt = m.end() - 1
                if stitched:
                    part = part[: gt + 1] + _splice(part[gt + 1 :])
        else:
            while gt == -1 and i < nparts:
                part = part + "<" + parts[i]
                i += 1
                gt = part.find(">")
            if gt == -1:
                if not skip:
                    frags.append((html_mod.unescape("<" + part), anchor > 0))
                continue
        rest = part[gt + 1 :]
        if is_end:
            # html.parser parse_endtag: strict '</\s*name\s*>' first, then
            # the tolerant name grab right after '</' (its charset admits
            # '<', so '</p<div>' fires a junk no-op name), else a dropped
            # bogus comment — all consume to the same first plain '>'
            m_end = _ENDTAG_STRICT.match(part, 1, gt)
            if m_end:
                on_end(m_end.group(1).lower())
            else:
                m_tol = _ENDTAG_TOLERANT.match(part, 1)
                if m_tol:
                    on_end(m_tol.group().lower())
        elif is_start:
            tag_src = part[:gt]
            name = _NAME_RE.match(tag_src).group().lower()
            on_start(name)
            if tag_src.rstrip().endswith("/"):
                on_end(name)  # self-closing, like handle_startendtag
            elif name in _RAWTEXT:
                # CDATA mode: discard raw parts until a VALID end tag —
                # html.parser stops at '</name' + [\s/>] candidates but only
                # exits when endtagfind ('</name\s*>') matches; '</script x>'
                # or '</script/>' stay inside (their bytes become raw data,
                # dropped here because script/style are skip tags)
                end = "/" + name
                L = len(end)
                rest = ""
                while i < nparts:
                    p2 = parts[i]
                    i += 1
                    if p2[:L].lower() == end and (
                        len(p2) == L or p2[L] in _TAG_END_CH
                    ):
                        gt2 = p2.find(">")
                        if gt2 != -1 and not p2[L:gt2].strip(" \t\n\r\f"):
                            on_end(name)
                            rest = p2[gt2 + 1 :]
                            break
        # is_drop: bogus comment / decl / pi — content until '>' is dropped
        if rest and not skip:
            frags.append((html_mod.unescape(rest), anchor > 0))
    flush()
    return blocks


def extract_main_py(html_text: str) -> tuple[str, int, int]:
    """(main_text, n_blocks, n_content_blocks) for one page. A block is
    content iff words >= WORD_MIN and anchor density <= LINK_DENSITY_MAX.
    Runs the fast scanner; `extract_main_reference` is the html.parser
    twin, pinned equal by the differential tests."""
    return _classify(_scan_blocks(html_text or ""))


def extract_main_reference(html_text: str) -> tuple[str, int, int]:
    return _classify(_blocks_reference(html_text))


def _classify(blocks: list[tuple[str, int]]) -> tuple[str, int, int]:
    kept = []
    for text, link_chars in blocks:
        words = text.count(" ") + 1  # text is collapsed + stripped + nonempty
        if words >= WORD_MIN and link_chars / len(text) <= LINK_DENSITY_MAX:
            kept.append(text)
    return "\n".join(kept), len(blocks), len(kept)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

EPOCH_S = 1704067200  # 2024-01-01 UTC — deterministic warc_ts base

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

MAIN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("main_text", T.StringType(), True),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("n_content_blocks", T.IntegerType(), False),
        T.StructField("main_chars", T.IntegerType(), False),
    ]
)


def synth_html_pages(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, source, lang) -> input-hint-shaped pages with
    a real binary html payload. Test-corpus stand-in for the crawl table —
    a production run reads `html` straight from the table and skips this."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "url": [
                        page_url(d, s) for d, s in zip(pdf["doc_id"], pdf["source"])
                    ],
                    "warc_ts": pd.to_datetime(
                        pdf["doc_id"].astype("int64") + EPOCH_S, unit="s"
                    ),
                    "html": [
                        html_for(d, t, s, g).encode("utf-8")
                        for d, t, s, g in zip(
                            pdf["doc_id"], pdf["text"], pdf["source"], pdf["lang"]
                        )
                    ],
                    "lang": pdf["lang"],
                }
            )

    cols = documents.select("doc_id", "text", "source", "lang")
    return cols.mapInPandas(gen, PAGES_SCHEMA)


def main_frame(doc_ids, urls, mains) -> pd.DataFrame:
    """THE definition of the main-content output frame, shared by the HTML
    stage (instrumented_html_stage, behind both extract_main_content and
    the lineage runs) and the staged oracle (stage_html_tables) — one place
    to change the column set, so the materialized oracle cannot silently
    diverge from the stage. `mains` = extract_main_py result tuples."""
    return pd.DataFrame(
        {
            "doc_id": pd.Series(list(doc_ids), dtype="int64"),
            "url": list(urls),
            "main_text": [m[0] for m in mains],
            "n_blocks": pd.Series([m[1] for m in mains], dtype="int32"),
            "n_content_blocks": pd.Series([m[2] for m in mains], dtype="int32"),
            "main_chars": pd.Series([len(m[0]) for m in mains], dtype="int32"),
        }
    )


def extract_mains(payloads) -> list[tuple[str, int, int]]:
    """Decode + extract one batch of binary html payloads (None-safe).

    errors='replace', never strict: one stray non-UTF-8 page in a 10^12-row
    crawl must degrade to U+FFFD noise in that row, not kill the job (the
    quarantine philosophy, F1). Pipelines that care about the tail run
    charset.normalize_encoding first and keep the mojibake measurable."""
    return [
        extract_main_py(p.decode("utf-8", "replace") if p is not None else "")
        for p in payloads
    ]


_ANCHOR_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("pos", T.IntegerType()),
            T.StructField("href", T.StringType()),
            T.StructField("anchor_text", T.StringType()),
        ]
    )
)

HTML_INSTRUMENTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("main_text", T.StringType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("n_content_blocks", T.IntegerType()),
        T.StructField("main_chars", T.IntegerType()),
        T.StructField("anchors", _ANCHOR_STRUCT),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("wall_ms", T.DoubleType()),
    ]
)


def instrumented_html_stage(
    pages: DataFrame, with_anchors: bool = False
) -> DataFrame:
    """THE HTML stage: extract_main_py (+ anchor_texts_py when
    ``with_anchors``) + metrics in ONE mapInPandas crossing — the web
    sibling of extract.instrumented_page_stage. Carrying anchors as a
    nested array column (field names pinned to ANCHORS_SCHEMA) means the
    lineage anchors side table costs no second html decode; when the flag
    is off, the second parser pass is skipped entirely so the default hot
    path pays nothing for it."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        for pdf in batches:
            t0 = time.perf_counter()
            out = main_frame(pdf["doc_id"], pdf["url"], extract_mains(pdf["html"]))
            if with_anchors:
                out["anchors"] = [
                    [
                        {"pos": pos, "href": href, "anchor_text": text}
                        for pos, (href, text) in enumerate(
                            anchor_texts_py(
                                # replace, not strict — same crash-safety
                                # rule as extract_mains
                                p.decode("utf-8", "replace")
                                if p is not None
                                else ""
                            )
                        )
                    ]
                    for p in pdf["html"]
                ]
            else:
                out["anchors"] = [[] for _ in range(len(pdf))]
            ms = (time.perf_counter() - t0) * 1000.0
            out["part_id"] = part_id
            out["wall_ms"] = ms / max(len(pdf), 1)
            yield out

    return pages.select("doc_id", "url", "html").mapInPandas(
        run, HTML_INSTRUMENTED_SCHEMA
    )


def extract_main_content(pages: DataFrame) -> DataFrame:
    """DOM-heuristic main-content extraction: (doc_id, url, html) ->
    (doc_id, url, main_text, n_blocks, n_content_blocks, main_chars).

    The HTML stage projected to the MAIN_SCHEMA columns: one Arrow
    crossing, no shuffle; each row is parsed independently so the operator
    scales linearly with pages and is safe under AQE repartition."""
    return instrumented_html_stage(pages).select(*MAIN_SCHEMA.fieldNames())


# JVM-side entity map shared with the DuckDB twin (html.escape's output set;
# &amp; LAST so freshly produced '&' never re-combines)
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#x27;", "'"), ("&amp;", "&"))
_SCRIPT_STYLE_RE = r"(?s)<(script|style|noscript)[^>]*>.*?</(script|style|noscript)>"
_TAG_RE = r"<[^>]*>"
_HREF_RE = r'href="([^"]*)"'
_HOST_RE = r"^https?://([^/]+)"
_TITLE_RE = r"(?s)<title>(.*?)</title>"
_META_DESC_RE = r'<meta name="description" content="([^"]*)"'


def _html_str(col=None):
    """ANSI-safe lenient UTF-8 view of the binary html column for JVM-side
    operators: cast is non-validating and make_valid_utf8 replaces invalid
    sequences with U+FFFD — the JVM twin of the Python paths'
    decode("utf-8", "replace") (charset protocol: one mojibake page must
    never kill a strip/outlinks/robots/pagerank/title job, which strict
    F.decode does under Spark 4 ANSI)."""
    c = F.col("html") if col is None else col
    return F.make_valid_utf8(c.cast("string"))


def strip_tags_expr(col):
    """Whole-stage-codegen tag strip + entity decode + whitespace collapse.
    Flat text only (no block structure) — the cheap JVM-side sibling of
    extract_main_content, for pipelines that want raw page text."""
    s = F.regexp_replace(col, _SCRIPT_STYLE_RE, " ")
    s = F.regexp_replace(s, _TAG_RE, " ")
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def html_strip_tags(pages: DataFrame) -> DataFrame:
    s = _html_str()
    return pages.select(
        "doc_id",
        "url",
        strip_tags_expr(s).alias("text_stripped"),
    ).withColumn("n_chars_stripped", F.length("text_stripped"))


def html_outlinks(pages: DataFrame) -> DataFrame:
    """Outlink host graph: href targets -> absolute-URL hosts -> per-host
    degree. One shuffle on `host` (near-uniform); relative links dropped."""
    s = _html_str()
    links = pages.select(
        "doc_id",
        F.explode(F.regexp_extract_all(s, F.lit(_HREF_RE), F.lit(1))).alias("link"),
    )
    return (
        links.select(
            "doc_id", F.regexp_extract("link", _HOST_RE, 1).alias("host")
        )
        .filter(F.col("host") != "")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# robots directives: the regex + token rules are shared verbatim with the
# DuckDB twin (both RE2- and java.util.regex-compatible constructs only)
ROBOTS_CONTENT_RE = r'(?i)<meta[^>]*name="robots"[^>]*content="([^"]*)"'
ROBOTS_NOINDEX_RE = r"(^|[ ,])(noindex|none)([ ,]|$)"
ROBOTS_NOFOLLOW_RE = r"(^|[ ,])(nofollow|none)([ ,]|$)"


def html_robots(pages: DataFrame) -> DataFrame:
    """Per-page robots-meta directives: (doc_id, url, robots_content,
    noindex, nofollow). A compliant corpus pipeline must drop noindex
    pages before export and ignore nofollow pages' outlinks in the link
    graph — this is the signal both decisions read. 'none' is the spec's
    shorthand for noindex+nofollow; matching is on comma/space-delimited
    tokens of the lowercased content attribute, so 'noindexing' never
    false-positives. JVM-side regexp (whole-stage codegen, no Python,
    no shuffle)."""
    s = _html_str()
    content = F.lower(F.regexp_extract(s, ROBOTS_CONTENT_RE, 1))
    return pages.select(
        "doc_id",
        "url",
        content.alias("robots_content"),
        content.rlike(ROBOTS_NOINDEX_RE).alias("noindex"),
        content.rlike(ROBOTS_NOFOLLOW_RE).alias("nofollow"),
    )


ROBOTS_CLASSES = 5


def robots_html_for(doc_id: int, text: str, source: str, lang: str) -> str:
    """html_for's page with a robots meta injected per doc class — covers
    the directive combinations, a case variant, and the no-directive
    default. Pure function, shared by the Spark synth stage and the DuckDB
    staging (byte-identity tested)."""
    html = html_for(doc_id, text, source, lang)
    k = int(doc_id) % ROBOTS_CLASSES
    directives = {
        1: '<meta name="robots" content="noindex, nofollow">',
        2: '<meta name="robots" content="nofollow">',
        3: '<meta name="ROBOTS" content="NOINDEX">',
        4: '<meta name="robots" content="none">',
    }
    if k == 0:
        return html
    return html.replace("<head>", "<head>" + directives[k], 1)


def synth_robots_pages(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, url, html binary) pages with robots metas."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "url": [
                        page_url(d, s)
                        for d, s in zip(pdf["doc_id"], pdf["source"])
                    ],
                    "html": [
                        robots_html_for(d, t, s, g).encode("utf-8")
                        for d, t, s, g in zip(
                            pdf["doc_id"], pdf["text"], pdf["source"], pdf["lang"]
                        )
                    ],
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("url", T.StringType(), False),
            T.StructField("html", T.BinaryType(), True),
        ]
    )
    return documents.select("doc_id", "text", "source", "lang").mapInPandas(
        gen, schema
    )


def dedup_paragraphs(main: DataFrame) -> DataFrame:
    """Corpus-wide exact paragraph dedup over extracted main content (the
    CCNet-style line/paragraph-level pass web pipelines run after main-
    content extraction): every paragraph keeps its FIRST occurrence in
    (doc_id, pos) order; later occurrences are dropped and each document's
    text is reassembled from its kept paragraphs.

    Output: (doc_id, n_paras, n_kept, text_deduped). A document whose
    main_text has NO non-empty paragraphs (all-chrome page) is absent
    from the output — corpus_curate is the operator that audits every
    doc_id; this one ships the cleaned corpus. Two content-keyed
    shuffles (md5(paragraph) for the occurrence window, doc_id for the
    reassembly) — both near-uniform keys; at 10^12 docs the paragraph-hash
    exchange is the big one and salts itself by content."""
    paras = main.select(
        "doc_id",
        F.posexplode(F.split(F.col("main_text"), "\n")).alias("pos", "para"),
    ).filter(F.col("para") != "")
    ranked = paras.withColumn(
        "rk",
        F.row_number().over(W.partitionBy(F.md5("para")).orderBy("doc_id", "pos")),
    )
    kept = F.when(F.col("rk") == 1, F.struct("pos", "para"))
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_paras"),
        F.sum((F.col("rk") == 1).cast("int")).cast("int").alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["para"]),
        ).alias("text_deduped"),
    )


class _AnchorParser(HTMLParser):
    """(href, anchor_text) pairs in document order: capture starts at an
    <a href=...> outside script/style, nested <a> is ignored (outermost
    wins, matching browsers' implicit anchor closing), and text is
    whitespace-collapsed. Anchor-text corpora are the classic link-quality
    signal a web pipeline exports alongside the page text."""

    def __init__(self) -> None:
        super().__init__()
        self.pairs: list[tuple[str, str]] = []
        self._href: str | None = None
        self._buf: list[str] = []
        self._skip = 0
        self._depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip += 1
        elif tag == "a" and not self._skip:
            if self._href is None:
                href = dict(attrs).get("href") or ""
                self._href = href
                self._buf = []
                self._depth = 1
            else:
                self._depth += 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag == "a" and not self._skip and self._href is not None:
            # the skip guard must be SYMMETRIC with handle_starttag: an
            # </a> inside e.g. an <svg> island (whose <a> start was ignored)
            # must not close the outer anchor early
            self._depth -= 1
            if self._depth <= 0:
                self.pairs.append(
                    (self._href, _WS.sub(" ", "".join(self._buf)).strip())
                )
                self._href = None

    def handle_data(self, data):
        if self._href is not None and not self._skip and data:
            self._buf.append(data)


def anchor_texts_py(html_text: str) -> list[tuple[str, str]]:
    parser = _AnchorParser()
    parser.feed(html_text or "")
    parser.close()
    if parser._href is not None:  # unterminated anchor at EOF
        parser.pairs.append(
            (parser._href, _WS.sub(" ", "".join(parser._buf)).strip())
        )
    return parser.pairs


ANCHORS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("href", T.StringType(), True),
        T.StructField("anchor_text", T.StringType(), True),
    ]
)


def anchor_frame(doc_ids, htmls) -> pd.DataFrame:
    """THE definition of the anchor row fan-out, shared by the operator
    (extract_anchor_texts) and the staged oracle (stage_html_tables) — one
    place to change the row shape. (The lineage anchors table is exploded
    from instrumented_html_stage's nested column instead.) `htmls` are
    decoded strings."""
    ids, poss, hrefs, texts = [], [], [], []
    for doc_id, raw in zip(doc_ids, htmls):
        for pos, (href, text) in enumerate(anchor_texts_py(raw)):
            ids.append(int(doc_id))
            poss.append(pos)
            hrefs.append(href)
            texts.append(text)
    return pd.DataFrame(
        {
            "doc_id": pd.Series(ids, dtype="int64"),
            "pos": pd.Series(poss, dtype="int32"),
            "href": pd.Series(hrefs, dtype="object"),
            "anchor_text": pd.Series(texts, dtype="object"),
        }
    )


def extract_anchor_texts(pages: DataFrame) -> DataFrame:
    """(doc_id, pos, href, anchor_text) per anchor in document order — one
    Arrow crossing, no shuffle; rows fan out per anchor map-side."""

    def run(batches):
        for pdf in batches:
            yield anchor_frame(
                pdf["doc_id"],
                [
                    # replace, not strict — same crash-safety rule as
                    # extract_mains
                    p.decode("utf-8", "replace") if p is not None else ""
                    for p in pdf["html"]
                ],
            )

    return pages.select("doc_id", "html").mapInPandas(run, ANCHORS_SCHEMA)


def anchor_text_profile(pages: DataFrame, top_k: int = 3) -> DataFrame:
    """Per-target-host anchor-text index: the top terms other pages use
    when linking to a host — the classic off-page description signal
    (search engines index it; corpus builders use it as a host label).

    Output: (host, term, n, rank) with rank <= top_k ordered by
    (n DESC, term). Shuffles once on (host, term) for the count and once
    on host for the rank window — both content-derived keys; anchor text
    is tiny relative to pages, so this stays cheap at crawl scale."""
    from .textops import TOKEN_WS_RE

    anchors = extract_anchor_texts(pages)
    terms = (
        anchors.select(
            F.regexp_extract("href", _HOST_RE, 1).alias("host"),
            F.explode(
                # EXPLICIT whitespace class (CLAUDE.md tokenizer rule):
                # Java \s+ would desync term counts from RE2 twins on \x0B
                F.split(F.lower(F.col("anchor_text")), TOKEN_WS_RE)
            ).alias("term"),
        )
        .filter((F.col("host") != "") & (F.col("term") != ""))
        .groupBy("host", "term")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("host").orderBy(F.desc("n"), "term")
    return (
        terms.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def _marker_hits(col, markers) -> "F.Column":
    """Marker occurrence count on a string column (textops.langid's
    heuristic, shared by the per-paragraph operators). Delegates to the
    ONE replace-based counting kernel — a second inline copy would let a
    counting-semantics fix land on one engine path and silently diverge
    doc-level from paragraph-level langid (both have DuckDB twins)."""
    from .textops import _count_occurrences

    padded = F.concat(F.lit(" "), col, F.lit(" "))
    return sum(
        (_count_occurrences(padded, m) for m in markers), F.lit(0)
    )


def clean_paragraphs(main: DataFrame) -> DataFrame:
    """The paragraph-level clean-corpus export — the composition a CCNet-
    style pipeline actually ships: a paragraph survives iff it is the FIRST
    corpus-wide occurrence of its text (exact dedup) AND matches its
    document's plurality language (documents with no plurality keep all
    their deduped paragraphs). Surviving paragraphs reassemble in order.

    Output: (doc_id, majority_lang, n_paras, n_kept, text_clean).
    Three content-keyed shuffles (paragraph-hash window, doc_id majority
    aggregate + join, doc_id reassembly) — near-uniform keys throughout."""
    from .textops import EN_MARKERS, PT_MARKERS

    paras = main.select(
        "doc_id",
        F.posexplode(F.split(F.col("main_text"), "\n")).alias("pos", "para"),
    ).filter(F.col("para") != "")
    en = _marker_hits(F.col("para"), EN_MARKERS)
    pt = _marker_hits(F.col("para"), PT_MARKERS)
    p = paras.withColumn(
        "plang",
        F.when(en > pt, "en").when(pt > en, "pt").otherwise("und"),
    ).withColumn(
        "rk",
        F.row_number().over(W.partitionBy(F.md5("para")).orderBy("doc_id", "pos")),
    )
    maj = (
        p.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_paras"),
            F.sum((F.col("plang") == "en").cast("int")).alias("n_en"),
            F.sum((F.col("plang") == "pt").cast("int")).alias("n_pt"),
        )
        .select(
            "doc_id",
            "n_paras",
            F.when(
                (F.col("n_en") > F.col("n_pt"))
                & (F.col("n_en") > F.col("n_paras") - F.col("n_en") - F.col("n_pt")),
                "en",
            )
            .when(
                (F.col("n_pt") > F.col("n_en"))
                & (F.col("n_pt") > F.col("n_paras") - F.col("n_en") - F.col("n_pt")),
                "pt",
            )
            .otherwise("und")
            .alias("majority_lang"),
        )
    )
    keep = (F.col("rk") == 1) & (
        (F.col("majority_lang") == "und") | (F.col("plang") == F.col("majority_lang"))
    )
    kept_struct = F.when(keep, F.struct("pos", "para"))
    return (
        p.join(maj, "doc_id")
        .groupBy("doc_id", "majority_lang", "n_paras")
        .agg(
            F.sum(keep.cast("int")).cast("int").alias("n_kept"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["para"]
                ),
            ).alias("text_clean"),
        )
        .select("doc_id", "majority_lang", "n_paras", "n_kept", "text_clean")
    )


def paragraph_langid(main: DataFrame) -> DataFrame:
    """Per-PARAGRAPH language ID over extracted main content, aggregated to
    a document verdict — the CCNet refinement of doc-level langid (mixed
    pages get a minority fraction instead of a single mislabel). Same
    marker heuristic as textops.langid, applied per paragraph entirely in
    whole-stage-codegen array expressions (transform/filter/size — no
    Python, no shuffle).

    Output: (doc_id, n_paras, majority_lang, minority_frac). majority =
    strict plurality among {en, pt, und}; ties -> 'und'. minority_frac =
    paragraphs disagreeing with the plurality / paragraphs."""
    from .textops import EN_MARKERS, PT_MARKERS

    # the ONE marker-count kernel (shared with the other per-paragraph
    # operators): a second inline copy would let the langid heuristic —
    # which the twin protocol requires landing on both engines — drift
    hits = _marker_hits

    paras = F.filter(F.split(F.col("main_text"), "\n"), lambda p: p != "")
    langs = F.transform(
        paras,
        lambda p: F.when(hits(p, EN_MARKERS) > hits(p, PT_MARKERS), "en")
        .when(hits(p, PT_MARKERS) > hits(p, EN_MARKERS), "pt")
        .otherwise("und"),
    )
    n = F.size(langs)
    n_en = F.size(F.filter(langs, lambda l: l == "en"))
    n_pt = F.size(F.filter(langs, lambda l: l == "pt"))
    n_und = n - n_en - n_pt
    is_en = (n_en > n_pt) & (n_en > n_und)
    is_pt = (n_pt > n_en) & (n_pt > n_und)
    # minority_frac counts paragraphs disagreeing with the REPORTED label:
    # an en/pt tie reports 'und', so its disagreement is measured against
    # n_und — measuring against greatest(n_en,n_pt,n_und) understated the
    # mixedness of exactly the most mixed pages (a 2en/2pt page read 0.5
    # instead of 1.0) and a mixed-page filter under-dropped them
    majority_count = F.when(is_en, n_en).when(is_pt, n_pt).otherwise(n_und)
    return main.select(
        "doc_id",
        n.alias("n_paras"),
        F.when(is_en, "en").when(is_pt, "pt").otherwise("und").alias(
            "majority_lang"
        ),
        F.round(
            (n - majority_count) / F.greatest(n, F.lit(1)), 6
        ).alias("minority_frac"),
    )


def extraction_eval(gold: DataFrame, extracted: DataFrame) -> DataFrame:
    """CleanEval-style extraction-quality scoring: token-multiset
    precision/recall/F1 of an extractor's output against gold main content,
    per document. The standard way to compare boilerplate-removal strategies
    (e.g. the DOM classifier vs a bare tag strip) on a corpus where gold is
    known — which this engine's synthetic pages make true by construction.

    Inputs: two (doc_id, text) frames. Tokens are the engine-wide whitespace
    split (textops.TOKEN_WS_RE — the explicit class, never \\s+); matching is
    a MULTISET intersection (a token appearing twice in gold must be
    extracted twice to count twice):

        n_common  = sum_t min(tf_gold(t), tf_extracted(t))
        precision = n_common / n_extracted       (0 when nothing extracted)
        recall    = n_common / n_gold            (0 when gold is empty)
        f1        = 2*n_common / (n_gold + n_extracted)   (harmonic mean —
                    the 2PR/(P+R) algebra reduced to integer counts, so both
                    engines divide the same exact integers once)

    Output: (doc_id, n_gold, n_extracted, n_common, precision, recall, f1)
    for EVERY doc_id present in either input (all-zero row when both texts
    are empty). ANSI guard: every division sits behind a CASE on its
    denominator.

    Scale plan: one token explode per side (map-side), ONE full-outer
    equi-join on (doc_id, token), one groupBy(doc_id) — O(tokens) work, no
    driver collect, no cartesian. The (doc_id, token) shuffle key is
    near-unique, so skew needs a pathological single document (same profile
    as every other per-doc token op here)."""
    from .textops import _tokens

    def _tf(df: DataFrame, cname: str) -> DataFrame:
        return (
            df.select(
                "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
            )
            .filter(F.col("tok") != "")
            .groupBy("doc_id", "tok")
            .agg(F.count("*").cast("long").alias(cname))
        )

    g, e = _tf(gold, "g"), _tf(extracted, "e")
    per_doc = (
        g.join(e, ["doc_id", "tok"], "full")
        .select(
            "doc_id",
            F.coalesce("g", F.lit(0)).alias("g"),
            F.coalesce("e", F.lit(0)).alias("e"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("g").cast("long").alias("n_gold"),
            F.sum("e").cast("long").alias("n_extracted"),
            F.sum(F.least("g", "e")).cast("long").alias("n_common"),
        )
    )
    ids = gold.select("doc_id").union(extracted.select("doc_id")).distinct()
    c, ng, ne = F.col("n_common"), F.col("n_gold"), F.col("n_extracted")
    return (
        ids.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(ng, F.lit(0)).alias("n_gold"),
            F.coalesce(ne, F.lit(0)).alias("n_extracted"),
            F.coalesce(c, F.lit(0)).alias("n_common"),
        )
        .select(
            "doc_id",
            "n_gold",
            "n_extracted",
            "n_common",
            F.when(ne > 0, F.round(c / ne, 6)).otherwise(F.lit(0.0)).alias(
                "precision"
            ),
            F.when(ng > 0, F.round(c / ng, 6)).otherwise(F.lit(0.0)).alias(
                "recall"
            ),
            F.when(
                ng + ne > 0, F.round(F.lit(2) * c / (ng + ne), 6)
            ).otherwise(F.lit(0.0)).alias("f1"),
        )
    )


def host_edges(pages: DataFrame) -> DataFrame:
    """Weighted outlink edge list (src_host, dst_host, weight): the page's
    own host (from its cc:// url) linking to every absolute-URL host in its
    html. One shuffle on the (src, dst) pair."""
    s = _html_str()
    links = pages.select(
        F.regexp_extract("url", r"^cc://([^/]+)", 1).alias("src"),
        F.explode(F.regexp_extract_all(s, F.lit(_HREF_RE), F.lit(1))).alias("link"),
    )
    return (
        links.select("src", F.regexp_extract("link", _HOST_RE, 1).alias("dst"))
        # BOTH endpoints: a url not matching ^cc:// extracts src='' — one
        # shared pseudo-host that would bridge unrelated sites into a
        # single component (and, being the lexicographic minimum, become
        # its label) and inject a phantom pagerank node
        .filter((F.col("dst") != "") & (F.col("src") != ""))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
    )


PAGERANK_ITERATIONS = 3
PAGERANK_DAMPING = 0.85


def host_pagerank(
    pages: DataFrame,
    iterations: int = PAGERANK_ITERATIONS,
    damping: float = PAGERANK_DAMPING,
    persist_to: list | None = None,
) -> DataFrame:
    """Damped PageRank over the outlink host graph — the standard web-corpus
    quality prior (hosts linked by many ranked hosts score high).

    Fixed-iteration, deterministic: each iteration is one equi-join shuffle
    (edges x ranks on src) plus a host aggregation; ranks round to 9 dp per
    iteration so double summation-order ulps cannot cross a rounding
    boundary between engines, and the DuckDB twin unrolls the SAME
    iterations as chained CTEs — the iterative algorithm itself is
    hash-checked, not just row-counted. Dangling hosts keep the teleport
    term only (no dangling-mass redistribution; standard simplification).
    At 10^12 docs the edge list is the big table; it shuffles once on
    (src, dst) at build and once per iteration on src — content-derived,
    near-uniform keys. The node count is one scalar `count()` (a cheap
    driver action, same as dedup_clusters' convergence probe)."""
    edges = host_edges(pages)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    # persist-with-owner: cache only when the caller owns the lifetime.
    # Unowned calls lean on ReuseExchange (the distinct ends in an
    # aggregate Exchange, deduped across the unrolled iterations) instead
    # of pinning an orphan cache block for the session.
    if persist_to is not None:
        nodes = nodes.persist()
        persist_to.append(nodes)
    n = nodes.count()
    if n == 0:
        # a page set with no matching outlinks (e.g. single-quoted hrefs)
        # has an empty host graph — emit an empty ranks frame instead of
        # dividing by zero on the driver (one bad batch must not kill a
        # job: the quarantine philosophy, and the CLAUDE.md division rule)
        # same schema as the populated path ('pagerank', not 'rank'):
        # curate_main_content selects by name and would otherwise fail
        # resolution on exactly the degenerate batch this branch protects
        return pages.sparkSession.createDataFrame(
            [], "host string, pagerank double"
        )
    outw = edges.groupBy("src").agg(F.sum("weight").alias("outw"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contrib = (
            edges.join(outw, "src")
            .join(ranks.withColumnRenamed("host", "src"), "src")
            .groupBy(F.col("dst").alias("host"))
            .agg(F.sum(F.col("rank") * F.col("weight") / F.col("outw")).alias("s"))
        )
        ranks = nodes.join(contrib, "host", "left").select(
            "host",
            F.round(
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                9,
            ).alias("rank"),
        )
    # nodes persists because it appears 2x per unrolled iteration in the
    # returned lazy plan, and the caller materializes AFTER this returns.
    # Persist-with-owner: pass persist_to and unpersist after consuming;
    # unowned calls rely on the harnesses' clearCache() between queries.
    return ranks.select("host", F.round("rank", 6).alias("pagerank"))


def host_components(pages: DataFrame) -> DataFrame:
    """Connected components over the undirected outlink host graph — site
    clusters. Every host (page hosts + every host linked from a page) gets
    its component's lexicographically smallest host as ``component``;
    hosts with no (non-self) links map to themselves. Completes the
    link-analysis pair with :func:`host_pagerank`.

    Iterated min-label propagation WITH pointer-jumping: each round takes
    the min over (own label, neighbors' labels, label-of-own-label — the
    jump join doubles the effective hop distance), so rounds =
    O(log diameter) instead of O(diameter); web host graphs converge in
    3-4 driver-probed rounds where plain propagation walks every hop of
    the longest chain (with per-round lineage checkpointing this is 5x
    wall on the synthetic corpus — 2.6 s vs 13.6 s at sf0.1 — and the
    gap grows with diameter). Label values are always vertex ids inside
    the edge-induced set (init = self; updates pick an existing label),
    so the jump join always finds its target. Vertices iterate over the
    EDGE-INDUCED set only — linkless hosts (the long tail of a real
    crawl) re-enter via the final left join, so per-round cost scales with
    the link graph, not the host universe. At 10^12 docs the host graph is
    ~10^8 nodes / ~10^9 edges: each round is one edge equi-join shuffle +
    one label self-join (labels are 2-column host rows, far smaller than
    the edge list), and a pathological component still converges in
    log2(diameter) rounds; the 64-round cap raises rather than spinning.

    String min is byte-order on BOTH engines (Spark UTF8Binary default,
    DuckDB binary varchar min), so the label choice is engine-stable."""
    page_hosts = (
        pages.select(F.regexp_extract("url", r"^cc://([^/]+)", 1).alias("host"))
        .filter(F.col("host") != "")
        .distinct()
    )
    directed = host_edges(pages).select("src", "dst").filter(
        F.col("src") != F.col("dst")  # self-links are CC no-ops
    )
    edges = (
        directed.union(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        # symmetric edges: src alone covers every edge endpoint.
        # localCheckpoint (not persist): the loop references `labels` three
        # times per round (neighbor join + both sides of the jump self-join),
        # so an un-truncated logical plan grows 3^rounds and Catalyst
        # optimization time explodes (measured: round 4 spent ~14 s PLANNING
        # a 22-host graph). Checkpointing cuts the lineage to a LogicalRDD —
        # constant-size plan per round. Blocks are tiny (2 string cols per
        # linked host) and are reclaimed by the ContextCleaner when the
        # previous round's frame goes out of scope; on a real cluster swap
        # for reliable checkpoint() if executor loss must be survivable.
        edges.select(F.col("src").alias("host"))
        .distinct()
        .withColumn("component", F.col("host"))
        .localCheckpoint(eager=True)
    )
    def _prop_step(lab: DataFrame) -> DataFrame:
        """One min-label + pointer-jump application: (host, component) ->
        (host, component, prev) with prev = the input label, kept so the
        convergence test needs no extra join."""
        neighbor_min = (
            edges.join(lab, edges.dst == lab.host)
            .groupBy(F.col("src").alias("host"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # pointer jump: my label's CURRENT label (label values are vertex
        # ids in the labeled set, so this inner join is total)
        jump = lab.alias("a").join(
            lab.alias("b"), F.col("a.component") == F.col("b.host")
        ).select(F.col("a.host").alias("host"), F.col("b.component").alias("jump"))
        return (
            lab.select("host", "component")
            .join(neighbor_min, "host", "left")
            .join(jump, "host", "left")
            .select(
                "host",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_min", "component"),
                    F.coalesce("jump", "component"),
                ).alias("component"),
                F.col("component").alias("prev"),
            )
        )

    converged = False
    # two applications per materialized round (same batching as
    # textops.dedup_clusters): each localCheckpoint + convergence count is
    # a scheduled job whose fixed latency dominates the tiny label frames,
    # and testing convergence on the SECOND application stays exact — one
    # application with no change IS the fixpoint. 32 double-rounds keep
    # the 64-application O(log diameter) bound.
    for _ in range(32):
        # persist the inner application (see textops.dedup_clusters: the
        # outer step references it four times and only the persist keeps
        # its joins single-execution inside the one materializing job)
        s1 = _prop_step(labels).select("host", "component").persist()
        s2 = _prop_step(s1).localCheckpoint(eager=True)
        changed = s2.filter(F.col("component") != F.col("prev")).count()
        s1.unpersist()
        labels = s2.select("host", "component")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            "host_components: label propagation did not converge in 64 "
            "rounds (>64-diameter link chain); raise the bound or switch "
            "to pointer-jumping"
        )
    nodes = page_hosts.unionByName(
        labels.select("host")
    ).distinct()
    # the returned plan reads the final round's checkpoint blocks; they are
    # freed when the result frame is garbage-collected (ContextCleaner)
    return nodes.join(labels, "host", "left").select(
        "host", F.coalesce("component", F.col("host")).alias("component")
    )


# curation keep-rule defaults — the DuckDB twin interpolates THESE (one
# source of truth; see __spark_entry__._curate_sql)
CURATE_MIN_CHARS = 200
CURATE_MIN_BLOCKS = 2
CURATE_RANK_FLOOR_MULT = 2.0  # keep iff host_rank >= mult x teleport floor


def curate_main_content(
    pages: DataFrame,
    min_chars: int = CURATE_MIN_CHARS,
    min_blocks: int = CURATE_MIN_BLOCKS,
    rank_floor_mult: float = CURATE_RANK_FLOOR_MULT,
    persist_to: list | None = None,
) -> DataFrame:
    """End-to-end web curation: DOM extraction + host-graph quality prior
    -> per-document keep decision. This is the composition a corpus builder
    actually runs (extract, rank hosts, drop thin pages and junk hosts).

    keep = enough main text AND enough content blocks AND the page's host
    clears `rank_floor_mult` x the PageRank teleport floor ((1-d)/N). The
    threshold is SCALE-FREE: ranks scale as 1/N_hosts, so an absolute
    cutoff degenerates the moment the host count changes, while a
    floor-multiple keeps the same semantics at any corpus size (unlinked
    hosts sit exactly at 1x the floor; linked hosts on this corpus score
    >= 4x). Plan: host comes from the main-content output's own url (no
    second pages scan, no doc_id shuffle); the rank table is tiny (hosts)
    and broadcast-joins back; the threshold is an in-plan scalar aggregate
    over the rank table (no driver action)."""
    main = extract_main_content(pages)
    # ranks feeds TWO independent consumers (the broadcast rank join and
    # the threshold aggregate); persist-with-owner: cache only when the
    # caller passes persist_to (unowned calls recompute the iteration
    # tree twice — bounded, and no orphan cache block outlives the call)
    ranks = host_pagerank(pages, persist_to=persist_to)
    if persist_to is not None:
        ranks = ranks.persist()
        persist_to.append(ranks)
    # empty host graph (host_pagerank's graceful no-edges frame) must
    # DISABLE the rank gate, not make it unpassable: c/0 is +Infinity in
    # double arithmetic (no ANSI error), and coalesce(pagerank,0) >= Inf
    # would silently reject the whole corpus instead of degrading to the
    # min_chars/min_blocks rules
    n_hosts = F.count("*")
    thr = ranks.agg(
        F.when(
            n_hosts > 0,
            F.lit(rank_floor_mult * (1.0 - PAGERANK_DAMPING)) / n_hosts,
        )
        .otherwise(F.lit(0.0))
        .alias("rank_thr")
    )
    return (
        main.withColumn(
            "host", F.regexp_extract("url", r"^cc://([^/]+)", 1)
        )
        .join(F.broadcast(ranks.withColumnRenamed("host", "h")),
              F.col("host") == F.col("h"), "left")
        .crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "host",
            "main_chars",
            "n_content_blocks",
            F.coalesce("pagerank", F.lit(0.0)).alias("host_rank"),
            (
                (F.col("main_chars") >= min_chars)
                & (F.col("n_content_blocks") >= min_blocks)
                & (F.coalesce("pagerank", F.lit(0.0)) >= F.col("rank_thr"))
            ).alias("keep"),
        )
    )


def html_title_meta(pages: DataFrame) -> DataFrame:
    s = _html_str()
    return pages.select(
        "doc_id",
        "url",
        F.regexp_extract(s, _TITLE_RE, 1).alias("title"),
        F.regexp_extract(s, _META_DESC_RE, 1).alias("meta_description"),
    )


# ---------------------------------------------------------------------------
# DuckDB staging (materialized input + materialized main-content expected)
# ---------------------------------------------------------------------------

_STAGED: dict[str, dict[str, str]] = {}


def stage_html_tables(sf_dir: str) -> dict[str, str]:
    """Stage (memoized per process) the synthetic pages and the expected
    main-content table for ``sf_dir`` as parquet; returns {name: path}.

    `html_pages` is the INPUT twin: the DuckDB oracles for strip/outlinks/
    title re-compute their answers with SQL regexes over it, so those checks
    exercise DuckDB's own engine, not a precomputed SELECT. `html_main` is
    the expected OUTPUT of the non-SQL-expressible DOM path (same pattern as
    expected.stage_expected_tables). Pure Python — callable from
    oracle_sql(), which has no SparkSession."""

    sf_dir = os.path.normpath(sf_dir)
    if sf_dir in _STAGED:
        return _STAGED[sf_dir]
    base = staging_path("html", sf_dir)
    os.makedirs(base, exist_ok=True)
    paths = {
        "html_pages": os.path.join(base, "html_pages.parquet"),
        "html_main": os.path.join(base, "html_main.parquet"),
        "html_anchors": os.path.join(base, "html_anchors.parquet"),
        "robots_pages": os.path.join(base, "robots_pages.parquet"),
    }
    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "text", "source", "lang"],
    )
    htmls = [
        html_for(d, t, s, g)
        for d, t, s, g in zip(docs["doc_id"], docs["text"], docs["source"], docs["lang"])
    ]
    urls = [page_url(d, s) for d, s in zip(docs["doc_id"], docs["source"])]
    pd.DataFrame(
        {
            "doc_id": docs["doc_id"].astype("int64"),
            "url": urls,
            "html": htmls,  # VARCHAR on purpose: the twin regexes run on it
            "lang": docs["lang"],
        }
    ).to_parquet(paths["html_pages"], index=False)

    main_frame(
        docs["doc_id"], urls, [extract_main_py(h) for h in htmls]
    ).to_parquet(paths["html_main"], index=False)

    anchor_frame(docs["doc_id"], htmls).to_parquet(
        paths["html_anchors"], index=False
    )
    # robots INPUT twin (VARCHAR html: the robots DuckDB oracle COMPUTES
    # the directive extraction with SQL regexes over it)
    pd.DataFrame(
        {
            "doc_id": docs["doc_id"].astype("int64"),
            "url": urls,
            "html": [
                robots_html_for(d, t, s, g)
                for d, t, s, g in zip(
                    docs["doc_id"], docs["text"], docs["source"], docs["lang"]
                )
            ],
        }
    ).to_parquet(paths["robots_pages"], index=False)
    _STAGED[sf_dir] = paths
    return paths


# --- robots.txt FILE parsing + allow/deny decisions --------------------------
# (complements html_robots, which reads per-PAGE robots-meta tags)


def synth_robots_txt(hosts: DataFrame) -> DataFrame:
    """Deterministic robots.txt per host (input: distinct (host) rows with a
    trailing integer in the name, e.g. 'src7'): four variants cycling on
    that integer — star group with overlapping Allow/Disallow, empty
    Disallow (allow-all), stacked user-agents sharing one rule block, and a
    no-star file. Pure JVM concat, mirrored verbatim by the SQL twin."""
    v = F.regexp_extract(F.col("host"), r"(\d+)", 1).cast("int") % 4
    nl = "\n"
    txt = (
        F.when(
            v == 0,
            F.lit(
                "# generic site" + nl + "User-agent: googlebot" + nl
                + "Disallow: /private" + nl + "User-agent: *" + nl
                + "Allow: /a/b" + nl + "Disallow: /a" + nl + "Crawl-delay: 2"
            ),
        )
        .when(v == 1, F.lit("User-agent: *" + nl + "Disallow:"))
        .when(
            v == 2,
            F.lit(
                "User-agent: bota" + nl + "User-agent: *" + nl
                + "Disallow: /x" + nl + "Allow: /x/y"
            ),
        )
        .otherwise(F.lit("User-agent: botb" + nl + "Disallow: /"))
    )
    return hosts.select("host", txt.alias("robots_txt"))


def robots_txt_rules(robots: DataFrame) -> DataFrame:
    """Parse (host, robots_txt) into the User-agent:* rule set:
    (host, rule_idx, rule_type 'allow'|'disallow', prefix, prefix_len).

    Declared simplifications (documented contract, shared with the twin):
    directives are matched case-insensitively by lower()ing the whole file;
    '#' comments stripped; plain path prefixes only (no wildcards); an empty
    Disallow value imposes no restriction (dropped); a rule belongs to the
    star set iff its CONTIGUOUS preceding User-agent block contains '*'
    (stacked agents share the block, per the de-facto standard).

    Scale plan: posexplode + two windows per host (group-id running sum,
    then a group-level star max) — one shuffle on host; a host's robots.txt
    is bounded (crawlers cap at 500 KiB), so per-host work is O(lines)."""
    lines = (
        robots.select(
            "host",
            F.posexplode(F.split(F.lower("robots_txt"), "\n")).alias(
                "idx", "raw"
            ),
        )
        .withColumn("line", F.trim(F.regexp_replace("raw", "#.*", "")))
        .withColumn(
            "directive",
            F.regexp_extract("line", r"^(user-agent|allow|disallow)\s*:\s*(.*)$", 1),
        )
        .withColumn(
            "value",
            F.trim(
                F.regexp_extract(
                    "line", r"^(user-agent|allow|disallow)\s*:\s*(.*)$", 2
                )
            ),
        )
    )
    w_scan = W.partitionBy("host").orderBy("idx").rowsBetween(
        W.unboundedPreceding, 0
    )
    grouped = lines.withColumn(
        "grp",
        F.sum(
            (
                (F.col("directive") == "user-agent")
                & (
                    F.lag("directive", 1, "").over(
                        W.partitionBy("host").orderBy("idx")
                    )
                    != "user-agent"
                )
            ).cast("int")
        ).over(w_scan),
    )
    star = F.max(
        ((F.col("directive") == "user-agent") & (F.col("value") == "*")).cast(
            "int"
        )
    ).over(W.partitionBy("host", "grp"))
    return (
        grouped.withColumn("star", star)
        .filter(
            (F.col("star") == 1)
            & F.col("directive").isin("allow", "disallow")
            & (F.col("value") != "")
        )
        .select(
            "host",
            F.col("idx").alias("rule_idx"),
            F.col("directive").alias("rule_type"),
            F.col("value").alias("prefix"),
            F.length("value").alias("prefix_len"),
        )
    )


def robots_txt_allow(robots: DataFrame, urls: DataFrame) -> DataFrame:
    """(url, host, allowed, matched_type, matched_len): longest-prefix-match
    robots decision for each url row (host, path). Longest matching rule
    wins; on a length tie Allow beats Disallow (Google semantics); no
    matching rule means allowed.

    Scale plan: rules join on host then prefix-match in the join condition —
    the rule table is tiny per host (and overall ~rules-per-host x hosts, a
    dimension table: broadcast-able), so this is a broadcast join + one
    row_number window over the few matched candidates per url."""
    rules = robots_txt_rules(robots)
    cand = urls.join(
        F.broadcast(rules),
        (urls["host"] == rules["host"]) & urls["path"].startswith(rules["prefix"]),
        "left",
    ).select(
        "url",
        urls["host"].alias("host"),
        "rule_type",
        "prefix_len",
    )
    w = W.partitionBy("url").orderBy(
        F.col("prefix_len").desc_nulls_last(),
        F.when(F.col("rule_type") == "allow", 0).otherwise(1),
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "url",
            "host",
            F.coalesce(F.col("rule_type") == "allow", F.lit(True)).alias(
                "allowed"
            ),
            F.col("rule_type").alias("matched_type"),
            F.col("prefix_len").cast("int").alias("matched_len"),
        )
    )


# --- sitemap.xml parsing + crawl discovery -----------------------------------


def synth_sitemaps(hosts: DataFrame, per_host: int = 6) -> DataFrame:
    """Deterministic sitemap.xml per host: `per_host` <url> entries with
    loc/lastmod/changefreq cycling a fixed pattern — pure JVM concat,
    mirrored verbatim by the SQL twin. Entry k of host h points at
    https://{h}.example.com/page/{k}; lastmod day-of-month cycles 1..28,
    changefreq cycles daily/weekly/monthly."""
    entries = []
    for k in range(per_host):
        freq = ("daily", "weekly", "monthly")[k % 3]
        entries.append(
            F.concat(
                F.lit("<url><loc>https://"),
                F.col("host"),
                F.lit(f".example.com/page/{k}</loc>"
                      f"<lastmod>2024-01-{k % 28 + 1:02d}</lastmod>"
                      f"<changefreq>{freq}</changefreq></url>"),
            )
        )
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'), *entries, F.lit("</urlset>")
    )
    return hosts.select("host", xml.alias("sitemap_xml"))


def sitemap_parse(sitemaps: DataFrame) -> DataFrame:
    """Parse (host, sitemap_xml) into one row per <url> entry:
    (host, loc, lastmod, changefreq). JVM-side regexp_extract_all over the
    <url> blocks — no shuffle, no Python; missing lastmod/changefreq come
    back as empty strings (the twin's regexp_extract agrees).

    All block/field regexes run in (?s) mode: real sitemaps pretty-print
    one tag per line, so a '.' that stops at \\n would match ZERO <url>
    blocks and silently parse the whole sitemap to nothing (the field
    extracts then tolerate whitespace-padded values via trim)."""
    block = F.explode(
        F.regexp_extract_all("sitemap_xml", F.lit(r"(?s)<url>(.*?)</url>"), 1)
    ).alias("entry")

    def field(tag: str):
        return F.trim(
            F.regexp_extract("entry", rf"(?s)<{tag}>(.*?)</{tag}>", 1)
        ).alias(tag if tag != "loc" else "loc")

    return sitemaps.select("host", block).select(
        "host", field("loc"), field("lastmod"), field("changefreq")
    )


def sitemap_discover(sitemaps: DataFrame, known: DataFrame) -> DataFrame:
    """Crawl discovery: sitemap entries classified against the frontier's
    known-url set — (host, loc, lastmod, changefreq, is_new) with a
    deterministic recrawl priority rank per host (new first, then by
    changefreq daily<weekly<monthly, then most-recent lastmod, loc
    tiebreak).

    Scale plan: the parse is shuffle-free; the known-set membership is one
    left join on loc (the known side is the frontier table — equi-join,
    AQE-broadcast when small); the rank is one window per host over the
    host's own sitemap entries (bounded: 50k urls per sitemap file by
    spec)."""
    parsed = sitemap_parse(sitemaps)
    flagged = (
        parsed.join(
            # distinct: a frontier url crawled twice must not multiply the
            # left join's output rows (duplicate ranks shift every
            # lower-priority entry and overrun a rank<=K fetch budget)
            known.select(F.col("url").alias("loc")).distinct().withColumn(
                "_known", F.lit(1)
            ),
            "loc",
            "left",
        )
        .withColumn("is_new", F.col("_known").isNull())
        .drop("_known")
    )
    freq_rank = (
        F.when(F.col("changefreq") == "daily", 0)
        .when(F.col("changefreq") == "weekly", 1)
        .otherwise(2)
    )
    w = W.partitionBy("host").orderBy(
        F.col("is_new").cast("int").desc(),
        freq_rank.asc(),
        F.col("lastmod").desc(),
        F.col("loc"),
    )
    return flagged.select(
        "host",
        "loc",
        "lastmod",
        "changefreq",
        "is_new",
        F.row_number().over(w).alias("fetch_rank"),
    )
