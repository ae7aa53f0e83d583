"""Distributed WARC ingestion: the Common Crawl container format.

The north-rule input is an Iceberg-style table of Common-Crawl pages
`(url, warc_ts, html, text, lang)`; upstream of that table sits the crawl
archive itself — `.warc.gz` files of per-record gzip members. This module
closes that gap: a deterministic pure-Python encoder (for fixtures and the
driver's materialized oracle) and a Spark reader that turns a directory of
WARC files into the pages table.

Reader shape (the CC-standard processing granularity):
  * `spark.read.format("binaryFile")` — one row per WARC file. CC shards
    are ~1 GiB, so file granularity IS the partition granularity at scale;
    Spark bin-packs small files via `spark.sql.files.maxPartitionBytes`
    and a 1000-executor cluster simply gets one task per shard.
  * ONE `mapInPandas` crossing parses records out of the bytes — no
    shuffle anywhere in the ingest plan (guarded in tests/test_warc.py).
  * Malformed records do not kill the file: the parser emits an error row
    (url NULL, `error` set — the quarantine philosophy of F1,
    enem_pdf_extractor.py:69-76, applied to the container format) and
    resyncs at the next 'WARC/1.0' magic.

Gzip handling: real CC files are CONCATENATED per-record gzip members (so
readers can seek); the encoder writes exactly that (mtime=0 for
determinism) and `gzip.GzipFile` transparently reads multi-member streams.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import re
import zlib
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .. import stage

WARC_MAGIC = b"WARC/1.0"
EPOCH_S = 1704067200  # 2024-01-01T00:00:00Z — same epoch as documents_bridge

READ_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("warc_file", T.StringType(), False),
        T.StructField("record_offset", T.LongType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("warc_type", T.StringType(), True),
    ]
)


def iso_date(epoch_s: int) -> str:
    return datetime.fromtimestamp(epoch_s, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def encode_record(
    url: str, date: str, payload: bytes, status: int = 200
) -> bytes:
    """One WARC/1.0 response record wrapping an HTTP response."""
    http = (
        f"HTTP/1.1 {status} OK\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode() + payload
    rec_id = hashlib.md5(f"{url}|{date}".encode()).hexdigest()
    headers = (
        WARC_MAGIC + b"\r\n"
        b"WARC-Type: response\r\n"
        + f"WARC-Record-ID: <urn:md5:{rec_id}>\r\n".encode()
        + f"WARC-Date: {date}\r\n".encode()
        + f"WARC-Target-URI: {url}\r\n".encode()
        + b"Content-Type: application/http; msgtype=response\r\n"
        + f"Content-Length: {len(http)}\r\n".encode()
    )
    return headers + b"\r\n" + http + b"\r\n\r\n"


def encode_conversion_record(url: str, date: str, text: bytes) -> bytes:
    """One WARC/1.0 conversion record — the WET representation of a page:
    the extracted plain text, no HTTP envelope. WARC-Refers-To names the
    response record the same (url, date) would produce, so a WET shard
    stays joinable back to its WARC original by id."""
    rec_id = hashlib.md5(f"{url}|{date}|conversion".encode()).hexdigest()
    refers = hashlib.md5(f"{url}|{date}".encode()).hexdigest()
    headers = (
        WARC_MAGIC + b"\r\n"
        b"WARC-Type: conversion\r\n"
        + f"WARC-Record-ID: <urn:md5:{rec_id}>\r\n".encode()
        + f"WARC-Refers-To: <urn:md5:{refers}>\r\n".encode()
        + f"WARC-Date: {date}\r\n".encode()
        + f"WARC-Target-URI: {url}\r\n".encode()
        + b"Content-Type: text/plain\r\n"
        + f"Content-Length: {len(text)}\r\n".encode()
    )
    return headers + b"\r\n" + text + b"\r\n\r\n"


def encode_metadata_record(url: str, date: str, body: bytes) -> bytes:
    """One WARC/1.0 metadata record — the WAT representation of a page: a
    JSON envelope describing the response, no payload bytes. WARC-Refers-To
    names the response record the same (url, date) would produce, so a WAT
    shard stays joinable back to its WARC original by id (the same contract
    encode_conversion_record gives WET)."""
    rec_id = hashlib.md5(f"{url}|{date}|metadata".encode()).hexdigest()
    refers = hashlib.md5(f"{url}|{date}".encode()).hexdigest()
    headers = (
        WARC_MAGIC + b"\r\n"
        b"WARC-Type: metadata\r\n"
        + f"WARC-Record-ID: <urn:md5:{rec_id}>\r\n".encode()
        + f"WARC-Refers-To: <urn:md5:{refers}>\r\n".encode()
        + f"WARC-Date: {date}\r\n".encode()
        + f"WARC-Target-URI: {url}\r\n".encode()
        + b"Content-Type: application/json\r\n"
        + f"Content-Length: {len(body)}\r\n".encode()
    )
    return headers + b"\r\n" + body + b"\r\n\r\n"


def encode_warcinfo(filename: str) -> bytes:
    """Leading warcinfo record (CC files start with one; readers skip it)."""
    body = b"software: enem-spark-warc/1.0\r\nformat: WARC File Format 1.0\r\n"
    headers = (
        WARC_MAGIC + b"\r\n"
        b"WARC-Type: warcinfo\r\n"
        + f"WARC-Date: {iso_date(EPOCH_S)}\r\n".encode()
        + f"WARC-Filename: {filename}\r\n".encode()
        + b"Content-Type: application/warc-fields\r\n"
        + f"Content-Length: {len(body)}\r\n".encode()
    )
    return headers + b"\r\n" + body + b"\r\n\r\n"


def encode_warc_file(records: list[bytes], gzip_members: bool = True) -> bytes:
    """Concatenate records into one file; gzip_members=True writes the CC
    layout (one gzip member per record, mtime=0 for byte determinism)."""
    if not gzip_members:
        return b"".join(records)
    return b"".join(
        gzip.compress(r, compresslevel=6, mtime=0) for r in records
    )


def _maybe_gunzip(data: bytes) -> tuple[bytes, str | None]:
    """Decompress a concatenated-member gzip stream member by member,
    salvaging every intact leading member of a corrupt/truncated file
    (the quarantine philosophy applied to the container itself: one bad
    shard tail must not kill the ingest task). Returns (decompressed,
    error_or_None); plain (non-gzip) input passes through untouched."""
    if data[:2] != b"\x1f\x8b":
        return data, None
    out: list[bytes] = []
    view = memoryview(data)  # slicing a memoryview is O(1), not a copy:
    # CC files hold one gzip member per record, and a bytes slice per
    # member makes decompression QUADRATIC in member count (measured 22x
    # wall for 4x members) — an hour of pure byte copying per 1 GiB shard
    pos, n = 0, len(data)
    while pos < n:
        if view[pos : pos + 2] != b"\x1f\x8b":
            return b"".join(out), "gzip_trailing_garbage"
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(view[pos:])
        except zlib.error:
            return b"".join(out), "bad_gzip_member"
        if not d.eof:
            return b"".join(out), "truncated_gzip_member"
        out.append(chunk)
        pos = n - len(d.unused_data)
    return b"".join(out), None


def parse_warc_bytes(data: bytes, warc_file: str) -> list[dict]:
    """Pure-Python record parser (runs inside the Arrow batch on executors;
    also the driver oracle's staging parser). Returns one dict per response
    record, plus error rows for malformed regions (resynced at the next
    record magic)."""
    data, gz_err = _maybe_gunzip(data)
    out: list[dict] = []
    p = 0
    n = len(data)

    def err(offset: int, msg: str) -> None:
        out.append(
            {
                "url": None,
                "warc_date": None,
                "html": None,
                "http_status": None,
                "warc_file": warc_file,
                "record_offset": offset,
                "error": msg,
                "warc_type": None,
            }
        )

    while p < n:
        while data.startswith(b"\r\n", p):
            p += 2
        if p >= n:
            break
        start = p
        if not data.startswith(WARC_MAGIC, p):
            err(start, "bad_magic")
            nxt = data.find(WARC_MAGIC, p + 1)
            if nxt < 0:
                break
            p = nxt
            continue
        head_end = data.find(b"\r\n\r\n", p)
        if head_end < 0:
            err(start, "truncated_header")
            break
        headers: dict[str, str] = {}
        for line in data[p:head_end].split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.decode("ascii", "replace").strip().lower()] = (
                    v.decode("utf-8", "replace").strip()
                )
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            clen = -1  # unify with the negative-length reject below
        if clen < 0:
            # a negative length would put body_end at or BEFORE the
            # record start — the loop would re-parse the same record
            # forever, appending error rows unboundedly (one hostile
            # record = a wedged executor). Reject and resync forward.
            err(start, "bad_content_length")
            nxt = data.find(WARC_MAGIC, head_end)
            if nxt < 0:
                break
            p = nxt
            continue
        body_start = head_end + 4
        body_end = body_start + clen
        if body_end > n:
            err(start, "truncated_payload")
            break
        payload = data[body_start:body_end]
        p = body_end
        if headers.get("warc-type") == "response":
            http_end = payload.find(b"\r\n\r\n")
            if http_end < 0:
                err(start, "bad_http_payload")
                continue
            status_line = payload[:http_end].split(b"\r\n", 1)[0]
            parts = status_line.split()
            try:
                status = int(parts[1])
            except (IndexError, ValueError):
                err(start, "bad_http_status")
                continue
            out.append(
                {
                    "url": headers.get("warc-target-uri"),
                    "warc_date": headers.get("warc-date"),
                    "html": payload[http_end + 4 :],
                    "http_status": status,
                    "warc_file": warc_file,
                    "record_offset": start,
                    "error": None,
                    "warc_type": "response",
                }
            )
        elif headers.get("warc-type") == "conversion":
            # WET record: payload is the extracted plain text, no HTTP
            # envelope — `html` carries the raw text bytes
            out.append(
                {
                    "url": headers.get("warc-target-uri"),
                    "warc_date": headers.get("warc-date"),
                    "html": payload,
                    "http_status": None,
                    "warc_file": warc_file,
                    "record_offset": start,
                    "error": None,
                    "warc_type": "conversion",
                }
            )
        elif headers.get("warc-type") == "metadata":
            # WAT record: payload is the JSON envelope describing the page
            # — `html` carries the raw JSON bytes
            out.append(
                {
                    "url": headers.get("warc-target-uri"),
                    "warc_date": headers.get("warc-date"),
                    "html": payload,
                    "http_status": None,
                    "warc_file": warc_file,
                    "record_offset": start,
                    "error": None,
                    "warc_type": "metadata",
                }
            )
        # warcinfo / request records: skipped, no row
    if gz_err is not None:
        # after salvaging intact leading members: one error row marking
        # where the decompressed stream ended
        err(n, gz_err)
    return out


def _parse_files_frame(files: DataFrame) -> DataFrame:
    """(path, content) binaryFile frame -> records frame via ONE
    mapInPandas crossing — shared by the batch and streaming readers so
    both parse with exactly the same kernel (resync + quarantine
    semantics included)."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                rows.extend(
                    parse_warc_bytes(bytes(content), os.path.basename(fpath))
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in READ_SCHEMA.fields]
            )

    return files.select("path", "content").mapInPandas(parse, READ_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Directory (or glob) of .warc / .warc.gz files -> records DataFrame.

    Plan: FileScan(binaryFile) -> one ArrowEvalPython — no exchange. The
    `html` column is raw response-body bytes; join-ready with the pages
    pipeline via `warc_pages`."""
    return _parse_files_frame(spark.read.format("binaryFile").load(path))


def read_warc_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming records frame over a live WARC drop directory: the
    binaryFile file-stream source lists only NEW archive files per trigger
    (a crawler appends whole containers, never edits them — the exact
    contract file-stream sources assume), parsed by the same kernel as
    the batch read. Archive-level parallelism, no exchange."""
    # the binaryFile source's fixed schema must be spelled out on the
    # STREAMING reader (file-stream sources refuse to infer)
    schema = T.StructType(
        [
            T.StructField("path", T.StringType(), False),
            T.StructField("modificationTime", T.TimestampType(), False),
            T.StructField("length", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    reader = spark.readStream.format("binaryFile").schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _parse_files_frame(reader.load(path))


def warc_pages(records: DataFrame) -> DataFrame:
    """Records -> the north-rule pages shape (url, warc_ts, html, text,
    lang): good responses only; text/lang are NULL until extraction.

    The date parse is try_to_timestamp: under Spark 4 ANSI a strict
    to_timestamp would abort the whole ingest on ONE malformed/fractional
    WARC-Date header (the parser never validates the date), violating the
    module's quarantine philosophy — an unparseable date degrades to a
    NULL warc_ts row, never a job failure."""
    ok = records.filter(
        F.col("error").isNull() & (F.col("http_status") == 200)
    )
    return ok.select(
        "url",
        F.try_to_timestamp(
            F.col("warc_date"), F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")
        ).alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


# ---------------------------------------------------------------------------
# WET export: the cleaned corpus back into the crawl-container format.

WET_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("wet_len", T.LongType(), False),
        T.StructField("wet_md5", T.StringType(), False),
        T.StructField("wet", T.BinaryType(), False),
    ]
)


def _wet_shard_expr(n_shards: int):
    """Shard assignment from the url's md5 head — conv() Spark-side,
    CAST('0x'||…) DuckDB-side (the bloom_dedup hex convention), and plain
    int(hex, 16) in the pure staging twin."""
    return F.pmod(
        F.conv(F.substring(F.md5("url"), 1, 8), 16, 10).cast("long"),
        F.lit(n_shards),
    ).cast("int")


def _wet_shard_bytes(sid: int, urls, dates, texts, gzip_members: bool) -> bytes:
    """One WET shard, deterministically: leading warcinfo + conversion
    records in url order, per-record gzip members (mtime=0). Shared by the
    Spark sink and the pure staging twin — byte identity by construction."""
    recs = [encode_warcinfo(f"wet-{sid:05d}.warc.wet.gz")]
    recs += [
        encode_conversion_record(u, d, (t or "").encode("utf-8"))
        for u, d, t in zip(urls, dates, texts)
    ]
    return encode_warc_file(recs, gzip_members)


def wet_shards(
    docs: DataFrame, n_shards: int = 8, gzip_members: bool = True
) -> DataFrame:
    """Distributed WET export: an (url, wet_date, text) frame -> one
    `.warc.wet.gz` file image per shard (CC's extracted-text sibling of the
    WARC archive). Sharding is content-derived (md5(url) head), records
    within a shard are url-ordered, every gzip member has mtime=0 — the
    whole export is a pure function of the input set, so re-runs are
    byte-identical and shards can be diffed across snapshots.

    Plan: one hash exchange on shard_id, then one applyInPandas assembling
    each shard's bytes — the assembly is per-shard sequential by design
    (a WET file is one ordered byte stream); parallelism is the shard
    count, which at crawl scale is the CC convention of many ~100 MB
    files. Round-trips through read_warc/parse_warc_bytes (conversion
    records)."""
    tagged = docs.select(
        _wet_shard_expr(n_shards).alias("shard_id"), "url", "wet_date", "text"
    )

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(key[0])
        # full-tuple sort: a url fetched twice (normal in a crawl) needs a
        # deterministic tiebreak or shard bytes drift between re-runs
        pdf = pdf.assign(
            _tk=[
                hashlib.md5((t or "").encode()).hexdigest()
                for t in pdf["text"]
            ]
        ).sort_values(["url", "wet_date", "_tk"], kind="mergesort")
        data = _wet_shard_bytes(
            sid, pdf["url"], pdf["wet_date"], pdf["text"], gzip_members
        )
        return pd.DataFrame(
            [
                {
                    "shard_id": sid,
                    "n_records": len(pdf),
                    "wet_len": len(data),
                    "wet_md5": hashlib.md5(data).hexdigest(),
                    "wet": data,
                }
            ]
        )

    return tagged.groupBy("shard_id").applyInPandas(build, WET_SCHEMA)


def _write_shard_dir(
    shards: DataFrame, path: str, kind: str
) -> list[dict]:
    """Materialize a wet_shards/wat_shards frame as files under ``path`` —
    written from the EXECUTORS (the shared-storage contract every Spark
    file sink assumes), one `<kind>-<shard>.warc.<kind>.gz` per row,
    tmp-file + atomic rename so a crashed task never leaves a torn file.
    Deterministic names and byte-deterministic content make any re-run an
    idempotent overwrite. Returns the manifest (shard_id, n_records,
    <kind>_len, <kind>_md5, file), collected — one tiny row per shard."""
    os.makedirs(path, exist_ok=True)
    len_c, md5_c = f"{kind}_len", f"{kind}_md5"

    manifest_schema = T.StructType(
        [
            T.StructField("shard_id", T.IntegerType(), False),
            T.StructField("n_records", T.LongType(), False),
            T.StructField(len_c, T.LongType(), False),
            T.StructField(md5_c, T.StringType(), False),
            T.StructField("file", T.StringType(), False),
        ]
    )

    def write(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                sid = int(r.shard_id)
                fname = os.path.join(
                    path, f"{kind}-{sid:05d}.warc.{kind}.gz"
                )
                tmp = f"{fname}.tmp.{os.getpid()}"
                with open(tmp, "wb") as fh:
                    fh.write(bytes(getattr(r, kind)))
                os.replace(tmp, fname)
                rows.append(
                    {
                        "shard_id": sid,
                        "n_records": int(r.n_records),
                        len_c: int(getattr(r, len_c)),
                        md5_c: getattr(r, md5_c),
                        "file": fname,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in manifest_schema.fields]
            )

    out = shards.mapInPandas(write, manifest_schema)
    return [r.asDict() for r in out.collect()]


def write_wet_dir(shards: DataFrame, path: str) -> list[dict]:
    """Executor-side WET file sink; see _write_shard_dir."""
    return _write_shard_dir(shards, path, "wet")


def write_wat_dir(shards: DataFrame, path: str) -> list[dict]:
    """Executor-side WAT file sink; see _write_shard_dir."""
    return _write_shard_dir(shards, path, "wat")


def wet_texts(records: DataFrame) -> DataFrame:
    """Conversion records -> (url, warc_date, text): the WET reader view.
    Decode is utf-8/replace in an Arrow crossing (charset protocol: one bad
    record must not kill a job — JVM cast would be strict under ANSI)."""
    conv = records.filter(
        F.col("error").isNull() & (F.col("warc_type") == "conversion")
    ).select("url", "warc_date", "html")

    def dec(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_date": pdf["warc_date"],
                    "text": [
                        bytes(b).decode("utf-8", "replace") for b in pdf["html"]
                    ],
                }
            )

    return conv.mapInPandas(dec, "url string, warc_date string, text string")


# ---------------------------------------------------------------------------
# Deterministic staging for fixtures + the driver's materialized oracle.


def stage_warc_files(
    sf_dir: str, n_files: int = 8, gzip_members: bool = True
) -> dict[str, str]:
    """Stage (memoized per process) a WARC rendering of ``sf_dir``'s
    documents table plus the expected-records parquet; returns
    {"warc_dir": ..., "expected": ...}.

    Pure Python (duckdb read, no SparkSession — callable from
    oracle_sql()). Each document becomes one response record whose payload
    is the SAME synthetic page `htmlops.html_for` emits, so WARC ingest
    composes with the DOM-extraction chain; files are round-robin by
    doc_id, records in doc_id order, one leading warcinfo record each. The
    expected table is built from the SOURCE rows (pre-encode), so the
    driver's hash check certifies the full encode->decode round trip."""
    import duckdb

    from ..htmlops import html_for, page_url

    def build(tmp: str) -> None:
        rows = duckdb.sql(
            "SELECT doc_id, text, lang, source FROM "
            f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
        ).fetchall()

        per_file: list[list[bytes]] = [[] for _ in range(n_files)]
        expected = []
        for doc_id, text, lang, source in rows:
            doc_id = int(doc_id)
            url = page_url(doc_id, source)
            date = iso_date(EPOCH_S + doc_id)
            payload = html_for(doc_id, text, source, lang).encode("utf-8")
            per_file[doc_id % n_files].append(encode_record(url, date, payload))
            expected.append(
                {
                    "url": url,
                    "warc_date": date,
                    "html_md5": hashlib.md5(payload).hexdigest(),
                    "html_len": len(payload),
                    "http_status": 200,
                }
            )

        ext = ".warc.gz" if gzip_members else ".warc"
        os.makedirs(os.path.join(tmp, "warc"))
        for i, recs in enumerate(per_file):
            fname = f"crawl-{i:05d}{ext}"
            blob = encode_warc_file(
                [encode_warcinfo(fname)] + recs, gzip_members=gzip_members
            )
            with open(os.path.join(tmp, "warc", fname), "wb") as fh:
                fh.write(blob)

        pd.DataFrame(expected).astype(
            {"html_len": "int64", "http_status": "int32"}
        ).to_parquet(os.path.join(tmp, "warc_expected.parquet"), index=False)

    return stage(
        "warc", sf_dir, build, f"_{n_files}x{int(gzip_members)}",
        layout=lambda base: {
            "warc_dir": os.path.join(base, "warc"),
            "expected": os.path.join(base, "warc_expected.parquet"),
        },
    )


def stage_wet_expected(sf_dir: str, n_shards: int = 8) -> str:
    """Pure-Python twin of the wet_export driver query: build every shard's
    bytes with the SAME shared functions (_wet_shard_bytes over page_url /
    iso_date inputs) and stage (shard_id, n_records, wet_len, wet_md5) as
    parquet — a driver hash match certifies the distributed assembly is
    byte-identical to the sequential reference. No SparkSession (callable
    from oracle_sql())."""
    import duckdb

    from ..htmlops import page_url

    def build(tmp: str) -> None:
        rows = duckdb.sql(
            "SELECT doc_id, text, source FROM "
            f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
        shards: list[list[tuple[str, str, str]]] = [[] for _ in range(n_shards)]
        for doc_id, text, source in rows:
            doc_id = int(doc_id)
            url = page_url(doc_id, source)
            date = iso_date(EPOCH_S + doc_id)
            sid = int(hashlib.md5(url.encode()).hexdigest()[:8], 16) % n_shards
            shards[sid].append((url, date, text))
        expected = []
        for sid, items in enumerate(shards):
            if not items:
                # applyInPandas produces no row for an absent group; an
                # empty shard must not exist on either side (CC writes no
                # empty files)
                continue
            items.sort(
                key=lambda t: (
                    t[0], t[1], hashlib.md5((t[2] or "").encode()).hexdigest()
                )
            )
            data = _wet_shard_bytes(
                sid,
                [u for u, _, _ in items],
                [d for _, d, _ in items],
                [t or "" for _, _, t in items],
                gzip_members=True,
            )
            expected.append(
                {
                    "shard_id": sid,
                    "n_records": len(items),
                    "wet_len": len(data),
                    "wet_md5": hashlib.md5(data).hexdigest(),
                }
            )
        pd.DataFrame(expected).astype(
            {"shard_id": "int32", "n_records": "int64", "wet_len": "int64"}
        ).to_parquet(tmp, index=False)

    return stage("wet", sf_dir, build, f"_{n_shards}.parquet")


# ---------------------------------------------------------------------------
# WAT export: per-page metadata envelopes, completing the container triple
# (WARC = raw responses, WET = extracted text, WAT = metadata JSON).

_WAT_WS = re.compile(r"\s+")


def wat_envelope(url: str, date: str, payload: bytes) -> bytes:
    """The CC-WAT-style JSON envelope for one response record, as canonical
    bytes (sorted keys, compact separators — a pure function of (url, date,
    payload), so the distributed sink and the sequential twin agree
    byte-for-byte). Title and href extraction reuse the SAME regex
    constants the htmlops title/outlinks operators ship to their DuckDB
    twins (htmlops._TITLE_RE/_HREF_RE are deliberately RE2-, java- and
    Python-compatible), so a page's WAT links agree with html_outlinks."""
    from ..htmlops import _HREF_RE, _TITLE_RE

    html = payload.decode("utf-8", "replace")
    m = re.search(_TITLE_RE, html)
    head: dict = {}
    if m:
        head["Title"] = _WAT_WS.sub(" ", m.group(1)).strip()
    links = [{"path": "A@/href", "url": u} for u in re.findall(_HREF_RE, html)]
    env = {
        "Envelope": {
            "Format": "WARC",
            "WARC-Header-Metadata": {
                "WARC-Type": "response",
                "WARC-Target-URI": url,
                "WARC-Date": date,
            },
            "Payload-Metadata": {
                "Actual-Content-Length": len(payload),
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": {"Head": head, "Links": links}
                },
            },
        }
    }
    return json.dumps(env, sort_keys=True, separators=(",", ":")).encode()


WAT_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("n_links", T.LongType(), False),
        T.StructField("wat_len", T.LongType(), False),
        T.StructField("wat_md5", T.StringType(), False),
        T.StructField("wat", T.BinaryType(), False),
    ]
)


def _wat_shard_bytes(
    sid: int, urls, dates, payloads, gzip_members: bool
) -> tuple[bytes, int]:
    """One WAT shard, deterministically: leading warcinfo + metadata
    records in url order, per-record gzip members (mtime=0). Shared by the
    Spark sink and the pure staging twin — byte identity by construction.
    Returns (bytes, total link count across envelopes)."""
    recs = [encode_warcinfo(f"wat-{sid:05d}.warc.wat.gz")]
    n_links = 0
    for u, d, p in zip(urls, dates, payloads):
        body = wat_envelope(u, d, bytes(p) if p is not None else b"")
        n_links += body.count(b'"path":"A@/href"')
        recs.append(encode_metadata_record(u, d, body))
    return encode_warc_file(recs, gzip_members), n_links


def wat_shards(
    pages: DataFrame, n_shards: int = 8, gzip_members: bool = True
) -> DataFrame:
    """Distributed WAT export: an (url, wat_date, html) frame -> one
    `.warc.wat.gz` file image per shard. Same determinism contract as
    wet_shards (content-derived shard from md5(url), url-ordered records,
    mtime=0 gzip members): the export is a pure function of the input set.

    Plan: one hash exchange on shard_id, then one applyInPandas building
    each shard's bytes; parallelism = shard count (the CC many-files
    convention). Round-trips through read_warc (metadata records)."""
    tagged = pages.select(
        _wet_shard_expr(n_shards).alias("shard_id"), "url", "wat_date", "html"
    )

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(key[0])
        # same full-tuple determinism tiebreak as the WET builder
        pdf = pdf.assign(
            _tk=[
                hashlib.md5(bytes(p) if p is not None else b"").hexdigest()
                for p in pdf["html"]
            ]
        ).sort_values(["url", "wat_date", "_tk"], kind="mergesort")
        data, n_links = _wat_shard_bytes(
            sid, pdf["url"], pdf["wat_date"], pdf["html"], gzip_members
        )
        return pd.DataFrame(
            [
                {
                    "shard_id": sid,
                    "n_records": len(pdf),
                    "n_links": n_links,
                    "wat_len": len(data),
                    "wat_md5": hashlib.md5(data).hexdigest(),
                    "wat": data,
                }
            ]
        )

    return tagged.groupBy("shard_id").applyInPandas(build, WAT_SCHEMA)


def stage_wat_expected(sf_dir: str, n_shards: int = 8) -> str:
    """Pure-Python twin of the wat_export driver query: rebuild every
    shard's bytes sequentially with the SAME shared functions
    (_wat_shard_bytes over html_for/page_url/iso_date inputs) and stage
    (shard_id, n_records, n_links, wat_len, wat_md5) as parquet. A driver
    hash match certifies the distributed assembly — envelope JSON included
    — byte-for-byte. No SparkSession (callable from oracle_sql())."""
    import duckdb

    from ..htmlops import html_for, page_url

    def build(tmp: str) -> None:
        rows = duckdb.sql(
            "SELECT doc_id, text, source, lang FROM "
            f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
        shards: list[list[tuple[str, str, bytes]]] = [
            [] for _ in range(n_shards)
        ]
        for doc_id, text, source, lang in rows:
            doc_id = int(doc_id)
            url = page_url(doc_id, source)
            date = iso_date(EPOCH_S + doc_id)
            sid = int(hashlib.md5(url.encode()).hexdigest()[:8], 16) % n_shards
            shards[sid].append(
                (url, date, html_for(doc_id, text, source, lang).encode())
            )
        expected = []
        for sid, items in enumerate(shards):
            if not items:
                continue  # no empty files, either side (the WET rule)
            items.sort(
                key=lambda t: (t[0], t[1], hashlib.md5(t[2]).hexdigest())
            )
            data, n_links = _wat_shard_bytes(
                sid,
                [u for u, _, _ in items],
                [d for _, d, _ in items],
                [p for _, _, p in items],
                gzip_members=True,
            )
            expected.append(
                {
                    "shard_id": sid,
                    "n_records": len(items),
                    "n_links": n_links,
                    "wat_len": len(data),
                    "wat_md5": hashlib.md5(data).hexdigest(),
                }
            )
        pd.DataFrame(expected).astype(
            {
                "shard_id": "int32",
                "n_records": "int64",
                "n_links": "int64",
                "wat_len": "int64",
            }
        ).to_parquet(tmp, index=False)

    return stage("wat", sf_dir, build, f"_{n_shards}.parquet")
