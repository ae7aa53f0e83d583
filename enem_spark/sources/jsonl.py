"""Distributed JSONL ingestion — the web-corpus interchange format.

Most published web corpora ship as JSON-lines shards (one JSON object per
line). This module mirrors the WARC-source protocol (sources/warc.py): a
deterministic pure-Python encoder for fixtures and the driver's
materialized oracle, plus a Spark reader built on the NATIVE json source —
no Python in the read path at all.

Reader discipline (the parts that matter at 100 TB):
  * Explicit schema, never inference — inference is a full extra pass over
    every shard before the real scan.
  * PERMISSIVE mode with a corrupt-record column: a malformed line becomes
    a quarantine row (`_corrupt` holds the raw line; data fields NULL for
    unparseable JSON, partially populated on type mismatches — route on
    `_corrupt`, not on NULLs) instead of killing the job — the F1
    quarantine philosophy applied to the container format. FAILFAST at crawl scale means one mangled line
    in shard 381,442 kills a day-long job.
  * Shards are staged UNCOMPRESSED (or at scale: zstd/bzip2) because plain
    gzip is not splittable — a gzipped 1 GiB shard pins one task for the
    whole member. Uncompressed/seekable shards let maxPartitionBytes split
    freely.

Spark quirk pinned in tests/test_jsonl.py: a projection referencing ONLY
the corrupt column is disallowed by the json source — always select data
columns alongside it (done here), never `.select("_corrupt")` directly off
the raw scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, types as T

from .. import stage
from .documents_bridge import EPOCH_S  # one epoch: jsonl fetch_ts must sit
# on the same timeline as the bridge's warc_ts (cross-source joins and
# decontamination windows key on it) — a re-declared literal could drift

CORRUPT_COL = "_corrupt"

JSONL_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("fetch_ts", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField(CORRUPT_COL, T.StringType(), True),
    ]
)


def doc_url(doc_id: int, source: str) -> str:
    return f"https://{source}/doc/{doc_id}"


def encode_line(row: dict) -> str:
    """One canonical JSONL line: sorted keys, no whitespace, ensure_ascii
    False — byte-deterministic for any dict."""
    return json.dumps(row, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


# Deterministic malformed lines, one flavour per shard position: the reader
# must quarantine each without losing neighbours.
BAD_LINES = [
    '{"url": "https://bad/1", "text": "truncated',  # unterminated string
    "not json at all",  # no braces
    '{"url": "https://bad/3", "fetch_ts": "NaN-ish"}',  # wrong type for long
]


def stage_line_shards(
    sf_dir: str,
    n_files: int,
    prefix: str,
    ext: str,
    encode_fn,
    bad_lines: list[str],
) -> dict[str, str]:
    """Shared line-shard staging protocol for the text container sources
    (JSONL + CSV): render ``sf_dir``'s documents table through
    ``encode_fn`` into n_files round-robin shards (doc_id order), splice
    one deterministic malformed line per shard after its first record
    (flavour = shard % len(bad_lines)), and stage the expected-rows
    parquet from the SOURCE rows pre-encode — so a driver hash check
    certifies the full encode->parse round trip AND that malformed lines
    displaced nothing. Returns {"dir": ..., "expected": ..., "n_bad": ...}.

    Pure Python (duckdb read, no SparkSession — callable from
    oracle_sql()). The shard count SHAPES the staged layout, so it is
    part of the staging path."""

    def build(tmp: str) -> None:
        import duckdb

        rows = duckdb.sql(
            "SELECT doc_id, text, lang, source FROM "
            f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
        shards: list[list[str]] = [[] for _ in range(n_files)]
        expected = []
        for doc_id, text, lang, source in rows:
            rec = {
                "url": doc_url(doc_id, source),
                "fetch_ts": EPOCH_S + int(doc_id),
                "text": text,
                "lang": lang,
                "source": source,
            }
            shards[int(doc_id) % n_files].append(encode_fn(rec))
            expected.append(rec)
        shard_dir = os.path.join(tmp, prefix)
        os.makedirs(shard_dir)
        for i, lines in enumerate(shards):
            bad = bad_lines[i % len(bad_lines)]
            body = lines[:1] + [bad] + lines[1:] if lines else [bad]
            # explicit utf-8 + newline="": encoders may emit non-ASCII
            # (ensure_ascii=False) and CR-bearing quoted fields — the
            # locale default would mojibake, and universal-newline
            # translation would corrupt embedded \r
            with open(
                os.path.join(shard_dir, f"part-{i:05d}.{ext}"),
                "w",
                encoding="utf-8",
                newline="",
            ) as f:
                f.write("\n".join(body) + "\n")
        duckdb.register("expected_df", _to_df(expected))
        duckdb.sql(
            "COPY (SELECT * FROM expected_df ORDER BY url) TO "
            f"'{os.path.join(tmp, prefix + '_expected.parquet')}' (FORMAT PARQUET)"
        )

    return stage(
        prefix, sf_dir, build, f"_{n_files}",
        layout=lambda base: {
            "dir": os.path.join(base, prefix),
            "expected": os.path.join(base, f"{prefix}_expected.parquet"),
            "n_bad": str(n_files),
        },
    )


def stage_jsonl_files(sf_dir: str, n_files: int = 8) -> dict[str, str]:
    """JSONL instance of `stage_line_shards`; returns
    {"jsonl_dir": ..., "expected": ..., "n_bad": ...}."""
    out = stage_line_shards(
        sf_dir, n_files, "jsonl", "jsonl", encode_line, BAD_LINES
    )
    return {"jsonl_dir": out["dir"], **{k: v for k, v in out.items() if k != "dir"}}


def _to_df(expected: list[dict]):
    import pandas as pd

    return pd.DataFrame(
        expected, columns=["url", "fetch_ts", "text", "lang", "source"]
    )


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Native-source JSONL scan: explicit schema, PERMISSIVE corrupt-record
    capture. Good rows have _corrupt NULL. Malformed lines carry the raw
    line in _corrupt; their data columns are NULL for unparseable JSON,
    but a TYPE-MISMATCH row keeps the fields that did parse (PERMISSIVE
    semantics) — quarantine on `_corrupt IS NOT NULL`, never on a data
    column being NULL."""
    return (
        spark.read.schema(JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_jsonl_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of read_jsonl: tail a directory of JSONL shards with
    the same explicit schema + PERMISSIVE quarantine. File-granular
    micro-batches (the CC-shard arrival pattern); cap batch size with
    max_files_per_trigger so a backlog catch-up cannot build one giant
    batch. Corrupt lines flow through as quarantine ROWS — a poisoned
    shard can never wedge the stream."""
    reader = (
        spark.readStream.schema(JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)
