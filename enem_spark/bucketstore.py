"""Bucketed table layout — the co-located-join scale lever.

At 10^12 rows the pipeline's recurring equi-joins (pages ⋈ processed_docs
resume anti-join, docs ⋈ signature index, docs ⋈ per-doc quality scores)
each pay a full shuffle of the BIG side unless the storage layout already
hash-partitions it on the join key. Spark's ``bucketBy`` writes a table
into N hash buckets on the key, records the layout in the catalog, and a
join of two tables bucketed by the same key and bucket count then plans as
a sort-merge join with ZERO Exchange on either side — the shuffle was paid
once, at write time, and is amortized over every subsequent join. That is
the difference between "every nightly dedup maintenance run reshuffles
100 TB" and "it streams bucket-to-bucket".

Mechanics this module pins down (each guarded by a test):

* ``bucketBy`` is catalog-only in Spark — plain ``.parquet(path)`` writes
  ignore it — so the store goes through ``saveAsTable`` with an explicit
  ``path`` option (an EXTERNAL table: dropping the catalog entry later
  leaves the data files).
* Both sides must agree on bucket count AND key; a mismatched count
  reintroduces the Exchange on one side (Spark can't co-locate 32 against
  48 buckets).
* ``sortBy(key)`` at write time additionally removes the per-task Sort for
  the merge join when each bucket holds one file (compaction's job).
* bucket-pruned point reads: an equality filter on the bucket key scans
  1/N of the files (``spark.sql.sources.bucketing.enabled`` pruning).

Sizing at 10^12 rows: buckets are the join parallelism AND the file-count
floor — pick N so a bucket's biggest table fits an executor's shuffle-free
merge (e.g. 100 TB / 65536 buckets ≈ 1.5 GB per bucket file, compacted).
"""

from __future__ import annotations

import os
import re
from typing import Sequence

from . import staging_path, textops
from pyspark.sql import DataFrame, SparkSession


def _safe_name(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"not a valid table identifier: {name!r}")
    return name


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    key: str | Sequence[str],
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Write ``df`` as an EXTERNAL bucketed catalog table at ``path``.

    Overwrite is idempotent: the catalog entry is replaced and the data
    dir rewritten. The bucket layout (key, N) is what every later
    co-located join and bucket-pruned point read keys off."""
    _safe_name(name)
    keys = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    w = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", os.path.abspath(path))
        .bucketBy(n_buckets, *keys)
    )
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(name)


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """The catalog view of a bucketed store (layout metadata attached —
    a plain ``spark.read.parquet`` of the same path would NOT carry the
    bucket spec and would shuffle in joins)."""
    return spark.table(_safe_name(name))


def colocated_join(
    spark: SparkSession, left: str, right: str, on: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Join two same-layout bucketed tables — plans with zero Exchange
    (guarded in tests/test_plan_shape.py). The join itself is ordinary
    DataFrame code; co-location is a property of the STORES."""
    return read_bucketed(spark, left).join(
        read_bucketed(spark, right), list(on), how
    )


# ---------------------------------------------------------------------------
# Driver-query staging: a documents/scores pair bucketed by doc_id
# ---------------------------------------------------------------------------

N_BUCKETS = 8  # parity-sized; deploy sizing discussed in the module doc

_STAGED: dict[str, dict[str, str]] = {}


def stage_bucketed_pair(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Stage (memoized per process) the bucketed docs/scores pair for
    ``sf_dir``: ``docs`` = (doc_id, source, text_len), ``scores`` =
    (doc_id, score) with a deterministic integer score both engines can
    compute (Knuth multiplicative hash mod 1000). Both bucketed by doc_id
    into N_BUCKETS — the layout the co-located join relies on."""
    from pyspark.sql import functions as F

    sf_dir = os.path.normpath(sf_dir)
    if sf_dir in _STAGED:
        return _STAGED[sf_dir]
    base = staging_path("bucket", sf_dir)
    # catalog table names take no '.' or '-'
    tag = (
        os.path.basename(base).removeprefix("enem_bucket_")
        .replace(".", "_").replace("-", "_")
    )
    names = {"docs": f"bkt_docs_{tag}", "scores": f"bkt_scores_{tag}"}
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    need_write = not all(
        spark.catalog.tableExists(n) for n in names.values()
    ) or not all(
        os.path.isdir(os.path.join(base, d)) for d in ("docs", "scores")
    )
    if need_write:
        write_bucketed(
            docs.select(
                "doc_id",
                "source",
                F.length("text").cast("long").alias("text_len"),
            ),
            names["docs"],
            os.path.join(base, "docs"),
            "doc_id",
            N_BUCKETS,
        )
        write_bucketed(
            docs.select(
                "doc_id",
                # md5-prefix score, NOT a Knuth multiply: content-addressed
                # doc_ids (xxhash64, negative ~half the time, |id| up to
                # 2^63) overflow the BIGINT multiply under Spark 4 ANSI,
                # and pmod vs DuckDB's sign-preserving % diverges on
                # negatives — the hex_prefix_mod kernel is the engine-
                # portable hash every other lottery in the repo uses
                textops.hex_prefix_mod(
                    F.md5(F.col("doc_id").cast("string")), 1000
                ).alias("score"),
            ),
            names["scores"],
            os.path.join(base, "scores"),
            "doc_id",
            N_BUCKETS,
        )
    _STAGED[sf_dir] = names
    return names
