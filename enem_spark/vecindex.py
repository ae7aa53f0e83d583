"""Persisted IVF coarse-quantization index, maintained exactly-once.

`simsearch.ivf_topk` re-assigns the WHOLE corpus to centroid cells on
every search — a full-corpus scan of dim-length dot products that at
10^9+ vectors is the dominant cost of the query, exactly the way
per-query re-signing was the dominant cost of the LSH family before the
signature store (sigindex.py). This module is the same amortization for
ANN: an `ivf_assign` side table of narrow (vec_id, cell) rows plus the
pinned `ivf_cents` centroid table, living under an ``out_dir`` governed
by the SAME run protocol as every other lineage table (CLAUDE.md
exactly-once invariant) —

  * each index-maintenance run writes its assignment rows to
    ``ivf_assign/run_id=<id>`` with overwrite (the creation run also
    writes ``ivf_cents/run_id=<id>``), then appends the tiny ``runs``
    marker LAST (the commit point);
  * readers trust only committed runs, so a crashed attempt's directory
    is invisible; a retry derives the same next run id from COMMITTED
    ids only and overwrites the orphan;
  * centroids are written ONCE by the creation run and pinned for the
    index's lifetime — assignments from different centroid sets cannot
    mix (the cell ids would be incomparable), so later runs assign new
    vectors against the STORED centroids, never recomputed ones.

Steady state at 10^9 vectors: each embedding batch appends, one
maintenance run assigns ONLY the vectors not yet in the committed index
(anti-join on vec_id — append-only because vec_id is content-addressed:
changed content is a new unit, never a mutation), and a search reads the
narrow committed (vec_id, cell) table instead of re-scoring the corpus.
The index holds two longs per vector; the vectors themselves stay in the
corpus table and are only ever read for the ~n_probe/n_cells slice a
query actually probes.

The (n_cells, dim) config is part of every run id
(``ivf{C}d{D}_{n:06d}``): mixing configs in one index would silently
corrupt probes (cell ids shift meaning), so every entry point validates
the requested config against all committed runs and raises on mismatch
— the sigindex discipline, one index, one config.

The module maintains a SECOND family in the same out_dir: ``srp_tags``
(vec_id, table, bucket) rows under ``srp{B}x{T}d{D}_{n:06d}`` run ids —
the sign-random-projection buckets that `srp_bucket_topk`,
`embedding_near_dup`, and `embedding_decontaminate` otherwise recompute
(bits*tables projection dot products per vector) on every call. The two
families share the one runs table without interacting (each family's
run-id regex ignores the other's ids — the statstore stats/terms
pattern), so one maintenance tail can keep both warm per embedding
batch.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import lineage, runfs, simsearch

ASSIGN_TABLE = "ivf_assign"
CENT_TABLE = "ivf_cents"
SRP_TABLE = "srp_tags"
_RUN_RE = re.compile(r"^ivf(\d+)d(\d+)_(\d{6,})$")  # {6,}: :06d PADS, never
# truncates — a {6} anchor would hide run 1,000,000 from the committed list,
# re-deriving (and overwriting) the same run_id
_SRP_RUN_RE = re.compile(r"^srp(\d+)x(\d+)d(\d+)_(\d{6,})$")


def ivf_run_id(n_cells: int, dim: int, n: int) -> str:
    return f"ivf{n_cells}d{dim}_{n:06d}"


def srp_run_id(bits: int, tables: int, dim: int, n: int) -> str:
    return f"srp{bits}x{tables}d{dim}_{n:06d}"


def _committed_ivf_runs(committed: set[str]) -> list[tuple[int, int, int]]:
    """(n_cells, dim, n) per COMMITTED ivf run, parsed from the run ids of
    a lineage.committed_id_set snapshot."""
    out = []
    for run_id in committed:
        m = _RUN_RE.match(run_id)
        if m:
            out.append((int(m.group(1)), int(m.group(2)), int(m.group(3))))
    return out


def _check_config(
    runs: list[tuple[int, int, int]], n_cells: int, dim: int
) -> None:
    bad = sorted({(c, d) for c, d, _ in runs if (c, d) != (n_cells, dim)})
    if bad:
        raise ValueError(
            f"ivf index holds config(s) {bad}, requested ({n_cells}, {dim})"
            " — one index, one config; use a fresh out_dir to re-index"
            " under a new config"
        )


def committed_centroids(
    spark: SparkSession,
    out_dir: str,
    n_cells: int = simsearch.IVF_CELLS,
    dim: int = simsearch.SRP_DIM,
    committed: set[str] | None = None,
) -> DataFrame | None:
    """The pinned centroid table (cent_id, cvec, cnorm), or None when no
    committed ivf run exists. Written once by the creation run (n=1);
    doubles round-trip parquet exactly, so scores against stored
    centroids are bit-identical to scores against fresh ones."""
    if committed is None:
        committed = lineage.committed_id_set(out_dir)
    runs = _committed_ivf_runs(committed)
    _check_config(runs, n_cells, dim)
    if not runs:
        return None
    rows = lineage.committed_table(spark, out_dir, CENT_TABLE, committed)
    return None if rows is None else rows.drop("run_id")


def committed_assignments(
    spark: SparkSession,
    out_dir: str,
    n_cells: int = simsearch.IVF_CELLS,
    dim: int = simsearch.SRP_DIM,
    committed: set[str] | None = None,
) -> DataFrame | None:
    """Reader view of the assignment store restricted to committed runs:
    (vec_id, cell), or None when no committed ivf run exists."""
    if committed is None:
        committed = lineage.committed_id_set(out_dir)
    runs = _committed_ivf_runs(committed)
    _check_config(runs, n_cells, dim)
    if not runs:
        return None
    rows = lineage.committed_table(spark, out_dir, ASSIGN_TABLE, committed)
    return None if rows is None else rows.drop("run_id")


def update_ivf_index(
    spark: SparkSession,
    out_dir: str,
    source: DataFrame,
    n_cells: int = simsearch.IVF_CELLS,
    dim: int | None = None,
) -> dict:
    """One exactly-once index-maintenance run: assign every source vector
    absent from the committed index and commit the batch. ``source`` is
    any (vec_id, embedding) frame. The CREATION run derives centroids
    from the source under the ivf_assignments convention (vec_id <
    n_cells, validated — a source without them raises rather than build
    a degenerate index) and pins them; later runs read the pinned
    centroids back and assign only the anti-joined remainder.

    Returns {"indexed": n, "run_id": id, "up_to_date": bool}. Empty
    deltas write nothing and commit nothing (lineage invariant); the
    anti-join IS the resume cursor."""
    dim = simsearch._resolve_dim(source, dim)
    committed = lineage.committed_id_set(out_dir)
    runs = _committed_ivf_runs(committed)
    _check_config(runs, n_cells, dim)
    creating = not runs
    base = simsearch.with_norm(source)
    if creating:
        cents = base.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cent_id"),
            F.col("vec").alias("cvec"),
            F.col("norm").alias("cnorm"),
        )
        todo = base
    else:
        cents = committed_centroids(spark, out_dir, n_cells, dim, committed)
        existing = committed_assignments(spark, out_dir, n_cells, dim, committed)
        if cents is None or existing is None:
            # committed run ids exist but a table dir is gone (store
            # half-copied or hand-pruned): cents=None would silently fall
            # through to re-deriving centroids from the DELTA and blame
            # the centroid convention; existing=None would crash opaquely
            raise ValueError(
                f"ivf index under {out_dir} has committed runs but no "
                "readable ivf_cents/ivf_assign run dirs — store corrupted "
                "or moved; refusing to rebuild over it"
            )
        # unbounded across runs -> no broadcast hint; AQE handles small case
        todo = base.join(existing.select("vec_id"), "vec_id", "left_anti")
    run_id = ivf_run_id(
        n_cells, dim, max((n for _, _, n in runs), default=0) + 1
    )
    # ivf_assignments validates the centroid set (count >= n_cells) and is
    # THE assignment kernel — store-built cells must be bit-identical to
    # fresh ones, so there is exactly one scoring implementation
    assigned = simsearch.ivf_assignments(
        todo, n_cells, base=todo, cents=cents
    ).select("vec_id", "cell").persist()
    try:
        n = assigned.count()
        if n == 0:
            return {"indexed": 0, "run_id": run_id, "up_to_date": True}
        if creating:
            cents.write.mode("overwrite").parquet(
                runfs.spark_path(f"{out_dir}/{CENT_TABLE}/run_id={run_id}")
            )
        assigned.write.mode("overwrite").parquet(
            runfs.spark_path(f"{out_dir}/{ASSIGN_TABLE}/run_id={run_id}")
        )
        # COMMIT POINT
        lineage.append_run_marker(spark, out_dir, run_id, n)
    finally:
        assigned.unpersist()
    return {"indexed": n, "run_id": run_id, "up_to_date": False}


# ---------------------------------------------------------------------------
# SRP tag family — persisted sign-random-projection buckets
# ---------------------------------------------------------------------------


def _committed_srp_runs(
    committed: set[str],
) -> list[tuple[int, int, int, int]]:
    """(bits, tables, dim, n) per COMMITTED srp run; ivf-family ids fall
    through the regex, so the two families never see each other."""
    out = []
    for run_id in committed:
        m = _SRP_RUN_RE.match(run_id)
        if m:
            out.append(tuple(int(m.group(i)) for i in (1, 2, 3, 4)))
    return out


def _check_srp_config(
    runs: list[tuple[int, int, int, int]], bits: int, tables: int, dim: int
) -> None:
    bad = sorted(
        {(b, t, d) for b, t, d, _ in runs if (b, t, d) != (bits, tables, dim)}
    )
    if bad:
        raise ValueError(
            f"srp index holds config(s) {bad}, requested "
            f"({bits}, {tables}, {dim}) — one index, one config; use a "
            "fresh out_dir to re-tag under a new config"
        )


def committed_srp_tags(
    spark: SparkSession,
    out_dir: str,
    bits: int = simsearch.SRP_BITS,
    tables: int = simsearch.SRP_TABLES,
    dim: int = simsearch.SRP_DIM,
    committed: set[str] | None = None,
) -> DataFrame | None:
    """Reader view of the tag store restricted to committed runs:
    (vec_id, table, bucket) — ``tables`` rows per vector, each bucket a
    ``bits``-char sign string — or None when no committed srp run
    exists."""
    if committed is None:
        committed = lineage.committed_id_set(out_dir)
    runs = _committed_srp_runs(committed)
    _check_srp_config(runs, bits, tables, dim)
    if not runs:
        return None
    rows = lineage.committed_table(spark, out_dir, SRP_TABLE, committed)
    return None if rows is None else rows.drop("run_id")


def update_srp_index(
    spark: SparkSession,
    out_dir: str,
    source: DataFrame,
    bits: int = simsearch.SRP_BITS,
    tables: int = simsearch.SRP_TABLES,
    dim: int | None = None,
) -> dict:
    """One exactly-once srp-tag maintenance run: bucket every source
    vector absent from the committed tag store and commit the batch.
    Unlike the ivf family there is no pinned state beyond the config —
    the projection vectors are deterministic per (bits, tables, dim)
    (simsearch.srp_config_vectors), which is exactly what the run-id
    config pin guarantees the store was built with."""
    dim = simsearch._resolve_dim(source, dim)
    committed = lineage.committed_id_set(out_dir)
    runs = _committed_srp_runs(committed)
    _check_srp_config(runs, bits, tables, dim)
    base = simsearch.with_norm(source)
    existing = committed_srp_tags(spark, out_dir, bits, tables, dim, committed)
    if existing is not None:
        base = base.join(
            existing.select("vec_id").distinct(), "vec_id", "left_anti"
        )
    run_id = srp_run_id(
        bits, tables, dim, max((n for *_, n in runs), default=0) + 1
    )
    # _srp_exploded is THE tagging kernel (shared with every fresh-path
    # consumer) — store-built buckets must be bit-identical to fresh ones
    tags = (
        simsearch._srp_exploded(base, bits, tables, dim)
        .select("vec_id", "table", "bucket")
        .persist()
    )
    try:
        n_vec = tags.select("vec_id").distinct().count()
        if n_vec == 0:
            return {"indexed": 0, "run_id": run_id, "up_to_date": True}
        tags.write.mode("overwrite").parquet(
            runfs.spark_path(f"{out_dir}/{SRP_TABLE}/run_id={run_id}")
        )
        # COMMIT POINT
        lineage.append_run_marker(spark, out_dir, run_id, n_vec)
    finally:
        tags.unpersist()
    return {"indexed": n_vec, "run_id": run_id, "up_to_date": False}
