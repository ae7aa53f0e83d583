"""Training-sequence packing: greedy first-fit of documents into fixed
token-capacity bins (the "sample packing" step that turns a filtered corpus
into dense fixed-length training sequences with minimal padding).

Packing is inherently sequential — bin assignment depends on a running
fill that RESETS at capacity, which no window function expresses — so the
operator shards the corpus by a deterministic key and packs each shard
independently with ONE Arrow-batched applyInPandas pass:

  shard = doc_id % n_shards      (content-stable, no RNG)
  within a shard, docs are packed in doc_id order by the pure-Python
  kernel `pack_bins` (greedy: open a new bin when the next doc no longer
  fits; docs longer than the capacity are truncated to one full bin).

Scale: each shard's packing state is O(1) and shards are embarrassingly
parallel — at crawl scale raise `n_shards` to ~4x the executor-core count
and every core streams its shard's (doc_id, n_tokens) pairs, a few bytes
per row; the token arrays themselves never move (packing plans placement,
the downstream writer slices text by the plan). The only shuffle is the
groupBy(shard) over the 2-column frame.

The greedy result depends on the visit order, so there is no closed-form
SQL twin; the driver oracle is MATERIALIZED (CLAUDE.md protocol): the SAME
`pack_bins` kernel runs over per-shard token counts computed by DuckDB
with the token_count twin's tokenizer, staged as parquet the oracle SQL
trivially SELECTs — both engines' hashes pin tokenizer AND kernel.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import stage
from .textops import _tokens

PACK_CAPACITY = 128
PACK_SHARDS = 8

_PACK_COLS = ["doc_id", "shard", "bin_id", "bin_offset", "n_tokens_packed"]
_PACK_SCHEMA = (
    "doc_id long, shard long, bin_id long, bin_offset long, n_tokens_packed long"
)


def pack_bins(
    items: list[tuple[int, int]], capacity: int
) -> list[tuple[int, int, int, int]]:
    """Greedy first-fit packing of (doc_id, n_tokens) pairs, visited in the
    given order: returns (doc_id, bin_id, bin_offset, n_tokens_packed) with
    bin_id local to the call. Docs longer than `capacity` occupy one full
    bin, truncated (n_tokens_packed = capacity)."""
    out: list[tuple[int, int, int, int]] = []
    bin_id, fill = 0, 0
    for doc_id, n_tokens in items:
        n_used = min(int(n_tokens), capacity)
        if fill > 0 and fill + n_used > capacity:
            bin_id, fill = bin_id + 1, 0
        out.append((int(doc_id), bin_id, fill, n_used))
        fill += n_used
        if fill >= capacity:
            bin_id, fill = bin_id + 1, 0
    return out


def _shard_token_counts(documents: DataFrame, n_shards: int) -> DataFrame:
    # NOTE: empty/whitespace-only docs count as 1 token (split('') ==
    # ['']) — the DELIBERATE family-wide convention shared by token_count,
    # the histograms, the statstore registers, and every DuckDB twin
    # (changing it would desync committed sketch stores); quality filters
    # drop empty docs before packing in any real pipeline, so the 1-slot
    # cost never materializes at scale.
    return documents.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("long").alias("shard"),
        F.size(_tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long").alias(
            "n_tokens"
        ),
    )


def pack_sequences(
    documents: DataFrame,
    capacity: int = PACK_CAPACITY,
    n_shards: int = PACK_SHARDS,
) -> DataFrame:
    """(doc_id, shard, bin_id, bin_offset, n_tokens_packed) — the packing
    plan assigning every document a slot in a fixed `capacity`-token
    training sequence. See module docstring for the sharding design."""
    counted = _shard_token_counts(documents, n_shards)

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        rows = pack_bins(
            list(zip(pdf["doc_id"], pdf["n_tokens"])), capacity
        )
        shard = int(pdf["shard"].iloc[0])
        return pd.DataFrame(
            [(d, shard, b, off, n) for d, b, off, n in rows], columns=_PACK_COLS
        )

    return counted.groupBy("shard").applyInPandas(_pack, _PACK_SCHEMA)


def stage_pack_expected(
    sf_dir: str,
    capacity: int = PACK_CAPACITY,
    n_shards: int = PACK_SHARDS,
) -> str:
    """Materialized oracle for pack_sequences: token counts via DuckDB's
    twin tokenizer (identical to the token_count oracle, already
    hash-proven against Spark's split), then the SAME pack_bins kernel per
    shard. Memoized per (sf_dir, capacity, n_shards)."""

    def build(tmp: str) -> None:
        import duckdb

        counts = duckdb.sql(
            rf"""
            SELECT doc_id,
                   -- pmod, not DuckDB's sign-preserving %: a content-addressed
                   -- doc_id (xxhash64, negative ~half the time) must land in
                   -- the same shard the engine's F.pmod puts it in
                   ((doc_id % {n_shards}) + {n_shards}) % {n_shards} AS shard,
                   len(regexp_split_to_array(trim(coalesce(text, '')), '\s+'))
                     AS n_tokens
            FROM read_parquet('{os.path.join(sf_dir, "documents.parquet")}')
            ORDER BY shard, doc_id
            """
        ).df()
        frames = [pd.DataFrame(columns=_PACK_COLS)]  # 0-row base: an empty
        # documents table stages an empty parquet instead of crashing
        # pd.concat([]) where the Spark side succeeds
        for shard, grp in counts.groupby("shard"):
            rows = pack_bins(list(zip(grp["doc_id"], grp["n_tokens"])), capacity)
            frames.append(
                pd.DataFrame(
                    [(d, int(shard), b, off, n) for d, b, off, n in rows],
                    columns=_PACK_COLS,
                )
            )
        pd.concat(frames, ignore_index=True).astype("int64").to_parquet(
            tmp, index=False
        )

    return stage(
        "pack_expected", sf_dir, build, f"_{capacity}x{n_shards}.parquet"
    )
