"""Charset sniffing + encoding normalization for binary crawl pages.

The input hint's pages carry ``html:binary`` — and a real Common-Crawl
slice is an encoding zoo (UTF-8 is ~95% of the modern web but the tail is
windows-1252/legacy-declared pages, BOM'd files, and UTF-16 exports). Every
other operator in this repo decodes UTF-8; this module is the ingestion
step that makes that safe: detect each page's encoding, decode it, and
re-emit the payload as clean UTF-8 bytes with the detection recorded.

Detection is the WHATWG "encoding sniffing algorithm" reduced to its
deterministic core, in precedence order:

  1. **BOM** — UTF-8 / UTF-16LE/BE / UTF-32LE/BE byte-order marks (the
     spec's step 1; UTF-32 checked before UTF-16 because its LE BOM is a
     prefix-superset).
  2. **meta prescan** — a ``charset=`` declaration inside a ``<meta`` tag
     within the first ``PRESCAN`` bytes (HTML5 §13.2.3.2 prescan, reduced:
     one regex over the raw bytes instead of the full tokenizer, so a
     declaration inside an HTML comment is honored — a documented
     divergence that is deterministic and crash-free). Labels map per the
     WHATWG Encoding registry subset in ``LABELS`` — notably
     iso-8859-1 / latin-1 / us-ascii are windows-1252 in browsers, and a
     ``utf-16`` label found by an ASCII-superset prescan means the page is
     actually an ASCII superset, so it decodes as UTF-8 (spec rule).
  3. **strict UTF-8 validation** — undeclared pages that decode cleanly
     as UTF-8 are UTF-8.
  4. **windows-1252 fallback** — the browser default for the unmarked
     rest; never fails (undefined cp1252 bytes 0x81/0x8D/0x8F/0x90/0x9D
     become U+FFFD and show up in ``replacement_ratio`` — WHATWG maps them
     to C1 controls instead; divergence documented, deterministic).

One pure function (`decode_bytes`) is shared by the Spark mapInPandas
path, the expected-staging path, and the tests — the materialized-oracle
protocol used for every non-SQL-expressible stage in this repo (DuckDB
cannot decode cp1252 blobs, so the twin SELECTs staged expected output
computed by the same function without Spark).

Reference tie-in: the reference opens PDF bytes and never sees charsets
(fitz owns decoding, enem_pdf_extractor.py:947); generalized to web pages
the equivalent "make bytes readable before parsing" step is exactly this
operator.

Scale (100 TB): detection + decode is map-side only — one Arrow crossing,
no shuffle, each page handled independently; the prescan reads at most
``PRESCAN`` bytes before the full decode, and the full decode is the same
single pass the downstream parser would have paid anyway.
"""

from __future__ import annotations

import codecs
import hashlib
import os
import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from . import htmlops, stage

PRESCAN = 1024  # bytes inspected for a <meta charset> declaration

# order matters: UTF-32LE's BOM begins with UTF-16LE's
_BOMS = (
    (codecs.BOM_UTF8, "utf-8"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)

# WHATWG Encoding registry subset: label (lowercased) -> python codec
LABELS = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "unicode-1-1-utf-8": "utf-8",
    # browsers decode every latin-1-family label as windows-1252
    "iso-8859-1": "cp1252",
    "iso8859-1": "cp1252",
    "latin-1": "cp1252",
    "latin1": "cp1252",
    "us-ascii": "cp1252",
    "ascii": "cp1252",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "x-cp1252": "cp1252",
    "iso-8859-15": "iso8859-15",
    "windows-1251": "cp1251",
    "cp1251": "cp1251",
    "koi8-r": "koi8-r",
    "shift_jis": "shift_jis",
    "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "euc-jp": "euc_jp",
    "gbk": "gbk",
    "gb2312": "gbk",  # WHATWG: gb2312 label decodes as GBK
    "big5": "big5",
    "euc-kr": "euc_kr",
    # prescan finding a utf-16 label implies ASCII-superset bytes -> utf-8
    "utf-16": "utf-8",
    "utf-16le": "utf-8",
    "utf-16be": "utf-8",
}

_META_RE = re.compile(
    rb"(?is)<meta[^>]{0,512}?charset\s*=\s*[\"']?\s*([a-z0-9._:\-]+)"
)


def sniff_bytes(payload: bytes) -> tuple[str, str, int]:
    """(python codec, method, bom_len) for one page's raw bytes.

    method is the detection step that fired: ``bom`` | ``meta`` | ``utf8``
    (strict validation) | ``fallback``. Never raises."""
    for bom, codec in _BOMS:
        if payload.startswith(bom):
            return codec, "bom", len(bom)
    m = _META_RE.search(payload[:PRESCAN])
    if m:
        label = m.group(1).decode("ascii", "replace").strip().lower()
        codec = LABELS.get(label)
        if codec is not None:
            return codec, "meta", 0
        # unknown label falls through to content detection (spec: ignore)
    try:
        payload.decode("utf-8", "strict")
        return "utf-8", "utf8", 0
    except UnicodeDecodeError:
        return "cp1252", "fallback", 0


def decode_bytes(payload: bytes | None) -> tuple[str, str, str, float]:
    """(text, codec, method, replacement_ratio) for one page.

    Total function: None/empty payloads yield ("", "utf-8", "empty", 0.0);
    decode errors under the chosen codec become U+FFFD and are counted in
    replacement_ratio (replacements / decoded chars)."""
    if not payload:
        return "", "utf-8", "empty", 0.0
    codec, method, bom_len = sniff_bytes(payload)
    text = payload[bom_len:].decode(codec, "replace")
    n = len(text)
    ratio = (text.count("�") / n) if n else 0.0
    return text, codec, method, ratio


# ---------------------------------------------------------------------------
# synthetic mixed-encoding corpus (pure functions of the documents row —
# shared by the Spark synth stage and the DuckDB staging, never forked)
# ---------------------------------------------------------------------------

ENC_CLASSES = 6


def _declare(html: str, label: str) -> str:
    return html.replace("<head>", f'<head><meta charset="{label}">', 1)


def encoded_page_for(doc_id: int, text: str, source: str, lang: str) -> bytes:
    """One deterministic raw-bytes page: htmlops.html_for's page, encoded
    per the doc_id's class — covering every detection path (bom, meta,
    meta-alias, utf8-validation, cp1252-fallback)."""
    doc_id = int(doc_id)
    html = htmlops.html_for(doc_id, text, source, lang)
    k = doc_id % ENC_CLASSES
    if k == 0:  # undeclared clean UTF-8 -> utf8 validation path
        return html.encode("utf-8")
    if k == 1:  # BOM'd UTF-8
        return codecs.BOM_UTF8 + html.encode("utf-8")
    if k == 2:  # declared windows-1252 -> meta path
        return _declare(html, "windows-1252").encode("cp1252", "replace")
    if k == 3:  # declared iso-8859-1, really cp1252 -> WHATWG alias path
        return _declare(html, "iso-8859-1").encode("cp1252", "replace")
    if k == 4:  # BOM'd UTF-16LE (not an ASCII superset)
        return b"\xff\xfe" + html.encode("utf-16-le")
    # k == 5: undeclared cp1252 -> fallback when non-ASCII bytes present,
    # utf8 path when the page happens to be pure ASCII (both deterministic)
    return html.encode("cp1252", "replace")


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("charset", T.StringType(), False),
        T.StructField("method", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("n_chars", T.LongType(), False),
        T.StructField("replacement_ratio", T.DoubleType(), False),
        T.StructField("text_md5", T.StringType(), False),
    ]
)


def decoded_frame(doc_ids, urls, payloads) -> pd.DataFrame:
    """THE decode-stats frame, shared by the operator and the staged
    oracle (one place to change the column set). text_md5 pins the decoded
    CONTENT cross-engine without shipping the text itself."""
    rows = [decode_bytes(p) for p in payloads]
    return pd.DataFrame(
        {
            "doc_id": pd.Series(list(doc_ids), dtype="int64"),
            "url": list(urls),
            "charset": [r[1] for r in rows],
            "method": [r[2] for r in rows],
            "n_bytes": pd.Series(
                [len(p) if p is not None else 0 for p in payloads], dtype="int64"
            ),
            "n_chars": pd.Series([len(r[0]) for r in rows], dtype="int64"),
            "replacement_ratio": pd.Series(
                [round(r[3], 6) for r in rows], dtype="float64"
            ),
            "text_md5": [
                hashlib.md5(r[0].encode("utf-8")).hexdigest() for r in rows
            ],
        }
    )


def decode_stats(pages: DataFrame) -> DataFrame:
    """(doc_id, url, html binary) -> per-page charset detection + decode
    stats. One Arrow crossing, no shuffle."""

    def run(batches):
        for pdf in batches:
            yield decoded_frame(pdf["doc_id"], pdf["url"], pdf["html"])

    return pages.select("doc_id", "url", "html").mapInPandas(run, DECODED_SCHEMA)


def normalize_encoding(pages: DataFrame) -> DataFrame:
    """Ingestion normalization: rows with a binary ``html`` column in any
    byte encoding -> the same rows with ``html`` re-encoded as clean UTF-8
    bytes, plus ``charset``/``method`` recording the detection. Downstream
    stages (run_html_extraction, icerun, textops) keep their plain UTF-8
    decode and stay correct on any crawl slice.

    Schema-generic: every input column passes through unchanged (the
    output schema is derived from the input's), so the operator slots into
    any point of a pipeline. Map-side only — one Arrow crossing, no
    shuffle."""
    if "html" not in pages.columns:
        raise ValueError("normalize_encoding needs an `html` binary column")
    clash = [c for c in ("charset", "method") if c in pages.columns]
    if clash:
        # a second normalization pass (or a frame joined with decode_stats
        # output) would duplicate these names in the output schema and
        # fail deep inside the Arrow conversion with a column-count
        # mismatch — fail fast with the actual cause instead
        raise ValueError(
            f"normalize_encoding output columns already present: {clash} "
            "(input looks already normalized)"
        )
    out_schema = T.StructType(
        list(pages.schema.fields)
        + [
            T.StructField("charset", T.StringType(), False),
            T.StructField("method", T.StringType(), False),
        ]
    )

    def run(batches):
        for pdf in batches:
            decoded = [decode_bytes(p) for p in pdf["html"]]
            out = pdf.copy()
            out["html"] = [t.encode("utf-8") for t, _, _, _ in decoded]
            out["charset"] = [c for _, c, _, _ in decoded]
            out["method"] = [m for _, _, m, _ in decoded]
            yield out

    return pages.mapInPandas(run, out_schema)


def synth_encoded_pages(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, source, lang) -> PAGES_SCHEMA rows whose
    html bytes cycle through the ENC_CLASSES encodings. Test-corpus
    stand-in for a real mixed-encoding crawl slice."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "url": [
                        htmlops.page_url(d, s)
                        for d, s in zip(pdf["doc_id"], pdf["source"])
                    ],
                    "warc_ts": pd.to_datetime(
                        pdf["doc_id"].astype("int64") + htmlops.EPOCH_S, unit="s"
                    ),
                    "html": [
                        encoded_page_for(d, t, s, g)
                        for d, t, s, g in zip(
                            pdf["doc_id"], pdf["text"], pdf["source"], pdf["lang"]
                        )
                    ],
                    "lang": pdf["lang"],
                }
            )

    cols = documents.select("doc_id", "text", "source", "lang")
    return cols.mapInPandas(gen, htmlops.PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# payload MIME triage (magic-byte sniffing — is this even text?)
# ---------------------------------------------------------------------------
#
# A real crawl table's `html:binary` column is not all HTML: servers ship
# PDFs, gzip blobs, images, and junk under text/html content types. This
# is the triage step BEFORE charset detection: classify each payload from
# its leading bytes so the extraction pipeline routes html/text rows to
# the DOM stage and skips (or quarantines) binaries instead of feeding
# mojibake to the parser. 100% JVM-side (hex prefix + regex — no Python
# crossing, no shuffle), with a COMPUTING DuckDB twin: both engines run
# the same rules over the same staged bytes.

MIME_PREFIX = 64  # bytes inspected

# THE rule table: ordered (anchored hex regex, mime). All three
# implementations — mime_of (re), mime_expr (Spark rlike), mime_sql_case
# (DuckDB regexp_matches, GENERATED) — walk this same list, so a new rule
# lands everywhere at once. Constructs are RE2- and java.util.regex-safe.
# Text detection is BOM-aware (WHATWG mime sniffing's step 2): a BOM'd
# UTF-8/UTF-16 page whose first non-whitespace character is '<' is html —
# without these rules a crawl's BOM'd html would be triaged as binary and
# wrongly dropped.
MIME_RULES = (
    ("^25504446", "application/pdf"),  # %PDF
    ("^1F8B", "application/gzip"),
    ("^504B0304", "application/zip"),
    ("^89504E470D0A1A0A", "image/png"),
    ("^FFD8FF", "image/jpeg"),
    ("^47494638", "image/gif"),
    ("^(FFFE0000|0000FEFF)", "text/plain"),  # UTF-32 BOM (before UTF-16's)
    # UTF-16 LE/BE BOM + optional whitespace + '<' (each char is 2 bytes)
    ("^FFFE(2000|0900|0A00|0D00)*3C00", "text/html"),
    ("^FEFF(0020|0009|000A|000D)*003C", "text/html"),
    ("^(FFFE|FEFF)", "text/plain"),  # other BOM'd UTF-16 content
    # optional UTF-8 BOM, optional ASCII whitespace, then '<'
    ("^(EFBBBF)?(20|09|0A|0D)*3C", "text/html"),
    # every byte printable ASCII or whitespace (0x09/0x0A/0x0D/0x20-0x7E);
    # `+` so the empty payload stays octet-stream everywhere
    ("^(EFBBBF)?(09|0A|0D|[2-6][0-9A-F]|7[0-9A-E])+$", "text/plain"),
)
MIME_OTHER = "application/octet-stream"


def mime_of(payload: bytes | None) -> str:
    """Pure-Python twin of mime_expr (tests pin the three implementations
    — this, the Spark expression, and the DuckDB SQL — together)."""
    if not payload:
        return MIME_OTHER
    hx = payload[:MIME_PREFIX].hex().upper()
    for pattern, mime in MIME_RULES:
        if re.match(pattern, hx):
            return mime
    return MIME_OTHER


def mime_expr(col):
    """Whole-stage-codegen MIME classification of a binary column."""
    hx = F.hex(F.substring(col, 1, MIME_PREFIX))
    out = None
    for pattern, mime in MIME_RULES:
        cond = hx.rlike(pattern)
        out = F.when(cond, mime) if out is None else out.when(cond, mime)
    return out.otherwise(MIME_OTHER)


def mime_sniff(pages: DataFrame, col: str = "html") -> DataFrame:
    """Adds a ``mime`` column classifying the binary payload. JVM-side,
    no shuffle; typical use: route mime='text/html' to extraction and
    everything else to a binary-sidecar table."""
    return pages.withColumn("mime", mime_expr(F.col(col)))


MIME_CLASSES = 8


def payload_for(doc_id: int, text: str, source: str, lang: str) -> bytes:
    """One deterministic crawl payload per doc_id class: real html for the
    markup classes, magic-byte-prefixed bodies for the binary classes (the
    sniffer reads prefixes only, so the binary bodies need not be valid
    streams — documented stand-in, same rule as the media decode stubs)."""
    doc_id = int(doc_id)
    k = doc_id % MIME_CLASSES
    if k == 0:
        return htmlops.html_for(doc_id, text, source, lang).encode("utf-8")
    if k == 1:
        return b"%PDF-1.7\n" + str(text).encode("utf-8")
    if k == 2:
        return b"\x1f\x8b\x08\x00" + str(text).encode("utf-8")
    if k == 3:
        return b"PK\x03\x04" + str(text).encode("utf-8")
    if k == 4:
        return b"\x89PNG\r\n\x1a\n" + str(text).encode("utf-8")
    if k == 5:
        return b"\xff\xd8\xff\xe0" + str(text).encode("utf-8")
    if k == 6:  # leading whitespace then markup
        return b"\n  " + htmlops.html_for(doc_id, text, source, lang).encode(
            "utf-8"
        )
    # k == 7: printable-ASCII plain text (accents -> '?' keeps it in range)
    return str(text).replace("<", "").encode("ascii", "replace")


def synth_payload_pages(documents: DataFrame) -> DataFrame:
    """documents -> (doc_id, url, html binary) with payload bytes cycling
    through the MIME_CLASSES. Byte-identical to stage_mime_tables' input
    twin (tested), so the DuckDB oracle computes over the same bytes."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "url": [
                        htmlops.page_url(d, s)
                        for d, s in zip(pdf["doc_id"], pdf["source"])
                    ],
                    "html": [
                        payload_for(d, t, s, g)
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
    cols = documents.select("doc_id", "text", "source", "lang")
    return cols.mapInPandas(gen, schema)


def mime_sql_case(hx: str) -> str:
    """The DuckDB CASE expression over ``hx`` (a hex-prefix SQL fragment)
    — GENERATED from MIME_RULES, never forked."""
    whens = "\n".join(
        f"  WHEN regexp_matches({hx}, '{pattern}') THEN '{mime}'"
        for pattern, mime in MIME_RULES
    )
    return f"""CASE
{whens}
  ELSE '{MIME_OTHER}'
END"""


# ---------------------------------------------------------------------------
# DuckDB staging (materialized expected decode stats)
# ---------------------------------------------------------------------------

def stage_charset_tables(sf_dir: str) -> dict[str, str]:
    """Stage (memoized per process) the expected decode-stats table for
    ``sf_dir``: the same pure functions (encoded_page_for -> decoded_frame)
    run without Spark. Pure Python — callable from oracle_sql()."""

    def build(tmp: str) -> None:
        docs = pd.read_parquet(
            os.path.join(sf_dir, "documents.parquet"),
            columns=["doc_id", "text", "source", "lang"],
        )
        rows = list(zip(docs["doc_id"], docs["text"], docs["source"], docs["lang"]))
        urls = [
            htmlops.page_url(d, s) for d, s in zip(docs["doc_id"], docs["source"])
        ]
        os.makedirs(tmp)
        decoded_frame(
            docs["doc_id"], urls, [encoded_page_for(*r) for r in rows]
        ).to_parquet(os.path.join(tmp, "charset_stats.parquet"), index=False)
        # mime INPUT twin: same bytes the Spark synth stage emits
        # (byte-identity tested) — the DuckDB mime oracle COMPUTES the
        # classification over it
        pd.DataFrame(
            {
                "doc_id": docs["doc_id"].astype("int64"),
                "url": urls,
                "html": [payload_for(*r) for r in rows],
            }
        ).to_parquet(os.path.join(tmp, "mime_payloads.parquet"), index=False)

    return stage(
        "charset", sf_dir, build,
        layout=lambda base: {
            name: os.path.join(base, f"{name}.parquet")
            for name in ("charset_stats", "mime_payloads")
        },
    )
