"""Persisted IVF coarse-quantization index, maintained exactly-once.

`simsearch.ivf_topk` re-assigns the WHOLE corpus to centroid cells on
every search — a full-corpus scan of dim-length dot products that at
10^9+ vectors is the dominant cost of the query, exactly the way
per-query re-signing was the dominant cost of the LSH family before the
signature store (sigindex.py). This module is the same amortization for
ANN: an `ivf_assign` side table of narrow (vec_id, cell) rows plus the
pinned `ivf_cents` centroid table, living under an ``out_dir``. Each
index-maintenance run commits its assignment rows (the creation run also
its centroids) through `lineage.commit_run`, so readers see only committed
runs and a retry re-derives the same next run id from COMMITTED ids and
overwrites the orphan. Centroids are written ONCE by the creation run and
pinned for the index's lifetime — assignments from different centroid sets
cannot mix (the cell ids would be incomparable), so later runs assign new
vectors against the STORED centroids, never recomputed ones.

Steady state at 10^9 vectors: each embedding batch appends, one
maintenance run assigns ONLY the vectors not yet in the committed index
(anti-join on vec_id — append-only because vec_id is content-addressed:
changed content is a new unit, never a mutation), and a search reads the
narrow committed (vec_id, cell) table instead of re-scoring the corpus.
The index holds two longs per vector; the vectors themselves stay in the
corpus table and are only ever read for the ~n_probe/n_cells slice a
query actually probes.

Run ids are ``ivf{C}d{D}_{n:06d}`` (`IVFS`, a `lineage.RunFamily`): the
(n_cells, dim) config is in every id and every entry point refuses a
mismatch, because mixing configs would silently corrupt probes (cell ids
shift meaning).

The module maintains a SECOND family in the same out_dir: ``srp_tags``
(vec_id, table, bucket) rows under ``srp{B}x{T}d{D}_{n:06d}`` run ids
(`SRPS`) — the sign-random-projection buckets that `srp_bucket_topk`,
`embedding_near_dup`, and `embedding_decontaminate` otherwise recompute
(bits*tables projection dot products per vector) on every call. Each
family's parse ignores the other's ids, so one maintenance tail can keep
both warm per embedding batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import lineage, simsearch

ASSIGN_TABLE = "ivf_assign"
CENT_TABLE = "ivf_cents"
SRP_TABLE = "srp_tags"
IVFS = lineage.RunFamily("ivf{}d{}", "ivf index", "re-index under a new config")
SRPS = lineage.RunFamily("srp{}x{}d{}", "srp index", "re-tag under a new config")


def ivf_run_id(n_cells: int, dim: int, n: int) -> str:
    return IVFS.run_id(n_cells, dim, n)


def srp_run_id(bits: int, tables: int, dim: int, n: int) -> str:
    return SRPS.run_id(bits, tables, dim, n)


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
    return IVFS.read(spark, out_dir, CENT_TABLE, (n_cells, dim), committed)


def committed_assignments(
    spark: SparkSession,
    out_dir: str,
    n_cells: int = simsearch.IVF_CELLS,
    dim: int = simsearch.SRP_DIM,
    committed: set[str] | None = None,
) -> DataFrame | None:
    """Reader view of the assignment store restricted to committed runs:
    (vec_id, cell), or None when no committed ivf run exists."""
    return IVFS.read(spark, out_dir, ASSIGN_TABLE, (n_cells, dim), committed)


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
    runs = IVFS.runs(committed, (n_cells, dim))
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
    run_id = ivf_run_id(n_cells, dim, IVFS.next_n(runs))
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
        written = {CENT_TABLE: cents} if creating else {}
        written[ASSIGN_TABLE] = assigned
        lineage.commit_run(spark, out_dir, run_id, written, n)
    finally:
        assigned.unpersist()
    return {"indexed": n, "run_id": run_id, "up_to_date": False}


# ---------------------------------------------------------------------------
# SRP tag family — persisted sign-random-projection buckets
# ---------------------------------------------------------------------------


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
    return SRPS.read(spark, out_dir, SRP_TABLE, (bits, tables, dim), committed)


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
    runs = SRPS.runs(committed, (bits, tables, dim))
    base = simsearch.with_norm(source)
    existing = committed_srp_tags(spark, out_dir, bits, tables, dim, committed)
    if existing is not None:
        base = base.join(
            existing.select("vec_id").distinct(), "vec_id", "left_anti"
        )
    run_id = srp_run_id(bits, tables, dim, SRPS.next_n(runs))
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
        lineage.commit_run(spark, out_dir, run_id, {SRP_TABLE: tags}, n_vec)
    finally:
        tags.unpersist()
    return {"indexed": n_vec, "run_id": run_id, "up_to_date": False}
