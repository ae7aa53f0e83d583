"""Distributed CSV ingestion — the other interchange format web corpora
and metadata dumps ship in (crawl indexes, URL lists, label tables).

Mirrors the JSONL-source protocol (sources/jsonl.py): a deterministic
pure-Python encoder for fixtures and the driver's materialized oracle,
plus a Spark reader on the NATIVE csv source — no Python in the read path.

Reader discipline (the parts that matter at 100 TB):
  * Explicit schema, never inference — ``inferSchema`` is a full extra
    pass over every shard before the real scan.
  * PERMISSIVE mode with a corrupt-record column: a malformed row (type
    mismatch, missing or extra columns) becomes a quarantine row carrying
    the raw line in ``_corrupt`` — fields that did parse stay populated,
    so route on ``_corrupt``, never on data-column NULLs. FAILFAST at
    crawl scale means one mangled row in shard 381,442 kills the job.
  * ``multiLine=true`` + quote-doubling escape so RFC-4180 quoted fields
    (embedded commas, quotes, newlines) round-trip exactly. The cost is
    real and must be planned for: a multiLine CSV file is NOT splittable
    (the parser cannot resync mid-file), so ONE SHARD = ONE TASK — stage
    many medium shards (the shard count IS the scan parallelism), or
    pre-escape newlines into a TSV layout when fields are newline-free.
  * The one hazard PERMISSIVE cannot contain row-by-row: an UNCLOSED
    quote swallows input until the next quote, so a single bad row can
    absorb its neighbour lines into one giant field. The damage is
    bounded to that window and the job survives; detecting it is a
    content check (tests pin the behavior), not a parser flag. This is
    inherent to CSV — corpora that cannot tolerate it should ship JSONL.
  * DECLARED DIVERGENCE — carriage returns inside quoted fields: the
    multiLine parser (univocity) normalizes line endings inside quotes,
    so a field containing "\\r" or "\\r\\n" reads back with "\\n" — there is
    no Spark option to disable it. The round trip is byte-exact for every
    CR-free field (tests pin both directions); corpora where bare-CR
    fidelity matters should ship JSONL, which round-trips it exactly.
"""

from __future__ import annotations

import csv
import io
import os

from pyspark.sql import DataFrame, SparkSession, types as T

from .jsonl import doc_url  # one url scheme across container formats (re-exported
# for tests; the staging helper itself lives in jsonl.stage_line_shards)

CORRUPT_COL = "_corrupt"

CSV_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("fetch_ts", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField(CORRUPT_COL, T.StringType(), True),
    ]
)

_DATA_COLS = ["url", "fetch_ts", "text", "lang", "source"]


def encode_row(row: dict) -> str:
    """One canonical CSV line (no trailing newline): RFC-4180 quoting
    with doubled quotes, minimal quoting — byte-deterministic."""
    buf = io.StringIO()
    # lineterminator matters for QUOTING, not just the terminator: the csv
    # writer quotes a field iff it contains the delimiter, the quotechar,
    # or a lineterminator character — with lineterminator="" an embedded
    # newline would go out UNQUOTED and shear the record on read
    w = csv.writer(
        buf, quoting=csv.QUOTE_MINIMAL, lineterminator="\r\n", doublequote=True
    )
    w.writerow([row[c] for c in _DATA_COLS])
    out = buf.getvalue()
    # the terminator is ours to strip; a field ending in \r/\n is quoted
    # (that is the point of the setting), so this only removes the tail
    assert out.endswith("\r\n")
    return out[:-2]


# Deterministic malformed rows, one flavour per shard position. Each is
# quarantined by the PERMISSIVE reader WITHOUT displacing neighbours
# (pinned in tests): type mismatch keeps parsed fields, short rows null
# the missing tail, extra columns keep the schema's prefix. An unclosed
# quote is deliberately NOT here — it merges a bounded window instead of
# quarantining (module docstring; tests pin that too).
BAD_ROWS = [
    "https://bad/1,not-a-number,text,pt,src",  # type mismatch on long
    "https://bad/2,200",  # too few columns
    "https://bad/3,300,text,pt,src,EXTRA-COLUMN",  # too many columns
]


def stage_csv_files(sf_dir: str, n_files: int = 8) -> dict[str, str]:
    """CSV instance of the shared `jsonl.stage_line_shards` protocol
    (round-robin shards, one malformed row per shard, expected parquet
    from SOURCE rows pre-encode); returns
    {"csv_dir": ..., "expected": ..., "n_bad": ...}."""
    from .jsonl import stage_line_shards

    out = stage_line_shards(sf_dir, n_files, "csv", "csv", encode_row, BAD_ROWS)
    return {"csv_dir": out["dir"], **{k: v for k, v in out.items() if k != "dir"}}


def _reader_options(reader):
    return (
        reader.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("multiLine", "true")
        .option("quote", '"')
        # escape = the quote char maps Spark's (univocity) escape handling
        # onto RFC-4180 doubled quotes, which is what encode_row emits
        .option("escape", '"')
        .option("header", "false")
    )


def read_csv_docs(spark: SparkSession, path: str) -> DataFrame:
    """Native-source CSV scan: explicit schema, PERMISSIVE corrupt-record
    capture, RFC-4180 quoting. Good rows have _corrupt NULL; malformed
    rows carry the raw line there with whatever fields did parse —
    quarantine on `_corrupt IS NOT NULL`, never on a data NULL."""
    return _reader_options(spark.read.schema(CSV_SCHEMA)).csv(path)


def read_csv_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of read_csv_docs: tail a directory of CSV shards,
    same schema + quarantine semantics, file-granular micro-batches.
    Corrupt rows flow through as quarantine ROWS — a poisoned shard can
    never wedge the stream."""
    reader = _reader_options(spark.readStream.schema(CSV_SCHEMA))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.csv(path)
