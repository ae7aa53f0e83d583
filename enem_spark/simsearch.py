"""Similarity search over an embedding column (array<float>).

Two paths:
  * cosine_topk — brute-force exact top-k: broadcast the (small) query set,
    JVM-side dot products via zip_with/aggregate (left-fold => deterministic
    summation order, reproducible in DuckDB's list_dot_product).
  * srp_bucket_topk — sign-random-projection LSH: each vector hashes to a
    bucket of projection signs; candidates come only from the query's bucket.
    At 10^9+ vectors this turns the full cross join into a bucket-local one
    (shuffle keyed by bucket, near-uniform by construction).

Projection vectors are deterministic (seeded), generated once at import so
the ANSI-SQL oracle can embed the same literals.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window as W, functions as F

# PARITY config: small enough that the DuckDB oracle can embed the
# projection literals. The ENGINE config (more bits = smaller buckets,
# more tables = recovered recall) is what a 10^9-vector deployment uses;
# its recall/candidate trade is measured in tests/test_simsearch_quality.py.
SRP_BITS = 4
SRP_TABLES = 4  # L independent hash tables; candidates = union over tables
ENGINE_SRP_BITS = 8
ENGINE_SRP_TABLES = 32
SRP_DIM = 64  # embedding dimensionality of the test tables
_rng = random.Random(0xE5EED)
SRP_VECTORS: list[list[float]] = [
    [round(_rng.uniform(-1.0, 1.0), 6) for _ in range(SRP_DIM)]
    for _ in range(SRP_BITS * SRP_TABLES)
]

_VEC_CACHE: dict[tuple[int, int, int], list[list[float]]] = {
    (SRP_BITS, SRP_TABLES, SRP_DIM): SRP_VECTORS
}


def srp_config_vectors(
    bits: int, tables: int, dim: int = SRP_DIM
) -> list[list[float]]:
    """Deterministic projection set per (bits, tables, dim) config — the
    parity config (dim=SRP_DIM) keeps its original literals and seed
    stream (the DuckDB oracle embeds them); other embedding
    dimensionalities mix ``dim`` into the seed. A projection shorter than
    the vectors would be SILENT poison: zip_with pads with NULLs, the dot
    goes NULL, every bucket bit falls to '0', and the LSH blocking
    degenerates to one global bucket (full O(n^2) pair join)."""
    key = (bits, tables, dim)
    if key not in _VEC_CACHE:
        seed = 0xE5EED ^ (bits * 1_000_003 + tables)
        if dim != SRP_DIM:
            seed ^= dim * 0x9E3779B1
        rng = random.Random(seed)
        _VEC_CACHE[key] = [
            [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]
            for _ in range(bits * tables)
        ]
    return _VEC_CACHE[key]


def srp_table_vectors(
    table: int,
    bits: int = SRP_BITS,
    tables: int = SRP_TABLES,
    dim: int = SRP_DIM,
) -> list[list[float]]:
    vecs = srp_config_vectors(bits, tables, dim)
    return vecs[table * bits : (table + 1) * bits]


def _resolve_dim(embeddings: DataFrame, dim: int | None) -> int:
    """Embedding dimensionality for the projection set: explicit wins;
    otherwise probed from one row (tiny driver action). Empty frames keep
    the default — nothing will hash anyway."""
    if dim is not None:
        return dim
    # skip NULL embeddings: size(NULL) is NULL and int(None) would crash
    # the probe even though the pipeline tolerates (drops) such rows
    row = (
        embeddings.select(F.size("embedding").alias("d"))
        .filter(F.col("d").isNotNull())
        .first()
    )
    return SRP_DIM if row is None else int(row["d"])


def _dot(a, b):
    """Deterministic left-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def with_norm(embeddings: DataFrame) -> DataFrame:
    """Attach vec (double) + L2 norm, dropping zero-norm vectors.

    A degenerate all-zero embedding (padding row, failed encoder) has no
    defined cosine; under Spark 4's default ANSI mode the division would
    abort the whole job, so such rows are excluded from search entirely."""
    v = _as_double(F.col("embedding"))
    return (
        embeddings.withColumn("vec", v)
        .withColumn("norm", F.sqrt(_dot(F.col("vec"), F.col("vec"))))
        .filter(F.col("norm") > 0)
    )


def _query_frame(base: DataFrame, query_ids: tuple[int, ...]) -> DataFrame:
    """Query-side projection, VALIDATED: every requested id must exist in
    the (zero-norm-filtered) base — a typo'd or all-zero query otherwise
    returns an empty result indistinguishable from "no neighbors" (the
    silent misconfiguration class pq_topk/ivf_assignments already raise
    on; one helper makes all four search operators consistent)."""
    q = base.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    _require_query_ids(q, query_ids)
    return q


def _require_query_ids(
    queries: DataFrame, query_ids: tuple[int, ...], col: str = "query_id"
) -> None:
    """Raise when any requested query id is absent from the built query
    frame (typo'd id, or zero-norm vector dropped by with_norm) — the
    silent-empty-result misconfiguration class _query_frame kills for
    cosine_topk/pq_topk, applied to the filter-built query frames of
    srp_bucket_topk/ivf_topk so all four search operators actually are
    consistent. One tiny collect over an already-tiny frame."""
    found = {r[col] for r in queries.select(col).distinct().collect()}
    absent = sorted(set(query_ids) - found)
    if absent:
        raise ValueError(
            f"query ids absent (or zero-norm) in embeddings: {absent}"
        )


def _rank_exact_cosine(pairs: DataFrame, k: int) -> DataFrame:
    """The ONE exact-rerank discipline (6-dp rounded cosine, ties to the
    lowest neighbor_id) shared by cosine_topk and the PQ refine path —
    ``pairs`` carries (query_id, neighbor_id, nvec, nnorm, qvec, qnorm).
    A fix to the rounding or tie-break lands in both paths by
    construction (both are twin/recall-gated)."""
    scored = pairs.withColumn(
        "cosine",
        F.round(
            _dot(F.col("nvec"), F.col("qvec"))
            / (F.col("nnorm") * F.col("qnorm")),
            6,
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_topk(
    embeddings: DataFrame, query_ids: tuple[int, ...] = (0, 1, 2, 3, 4), k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    Output: (query_id, neighbor_id, rank, cosine) — cosine rounded to 6 dp,
    ties broken by neighbor_id for cross-engine determinism."""
    base = with_norm(embeddings)
    queries = _query_frame(base, query_ids)
    pairs = (
        base.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("vec").alias("nvec"),
            F.col("norm").alias("nnorm"),
        )
        .crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _rank_exact_cosine(pairs, k)


def srp_bucket(
    col,
    table: int = 0,
    bits: int = SRP_BITS,
    tables: int = SRP_TABLES,
    dim: int = SRP_DIM,
) -> F.Column:
    """Sign-random-projection bucket id for one hash table: one char/bit."""
    cols = [
        F.when(
            _dot(col, F.array(*[F.lit(x) for x in vec])) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for vec in srp_table_vectors(table, bits, tables, dim)
    ]
    return F.concat(*cols)


def srp_buckets(
    col, bits: int = SRP_BITS, tables: int = SRP_TABLES, dim: int = SRP_DIM
) -> F.Column:
    """array<struct<table, bucket>> over all SRP_TABLES hash tables —
    exploded for the multi-table candidate join (classic L-table LSH: a
    single 4-bit table has near-chance recall on high-dim data; the union
    over L independent tables trades a ~L/2^bits candidate fraction for
    1-(1-p^bits)^L recall)."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                srp_bucket(col, t, bits, tables, dim).alias("bucket"),
            )
            for t in range(tables)
        ]
    )


def _srp_exploded(
    base: DataFrame,
    bits: int = SRP_BITS,
    tables: int = SRP_TABLES,
    dim: int = SRP_DIM,
) -> DataFrame:
    # in-plan dim assertion (fires at action time, costs one size() per
    # row): a configured dim longer than the vectors makes every
    # projection dot NULL and every bucket bit '0' — the whole corpus in
    # ONE bucket, LSH degenerated to O(n^2), silently (the
    # srp_config_vectors poison warning). With the persistent tag store
    # that poison would be COMMITTED, so the kernel refuses loudly on
    # both the fresh and store-maintenance paths.
    guarded = F.when(
        F.size(F.col("vec")) == dim,
        srp_buckets(F.col("vec"), bits, tables, dim),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"srp projection dim mismatch: configured {dim}, "
                    "embedding has "
                ),
                F.size(F.col("vec")).cast("string"),
            )
        )
    )
    return base.select(
        "vec_id",
        "vec",
        "norm",
        F.explode(guarded).alias("tb"),
    ).select("vec_id", "vec", "norm", "tb.table", "tb.bucket")


def _store_tags(
    base: DataFrame,
    ids: DataFrame,
    index_store: str,
    bits: int,
    tables: int,
    dim: int,
) -> DataFrame:
    """The tagged frame (vec_id, vec, norm, table, bucket) for the SRP
    family from a committed vecindex srp store: stored tags joined back
    to the corpus vectors, plus on-the-fly tagging (same `_srp_exploded`
    kernel) for corpus vectors the store does not cover — output must be
    indistinguishable from tagging everything, at any coverage (the
    `_store_assignments` contract). Raises when the store has no
    committed srp run: a silent fallback to full re-tagging would hide
    exactly the bits*tables-projections-per-vector cost the store
    removes."""
    from . import vecindex  # lazy: vecindex imports this module

    spark = base.sparkSession
    stored = vecindex.committed_srp_tags(spark, index_store, bits, tables, dim)
    if stored is None:
        raise ValueError(f"no committed srp index under {index_store}")
    stored_ids = stored.select("vec_id").distinct()
    covered = base.join(stored, "vec_id").select(
        "vec_id", "vec", "norm", "table", "bucket"
    )
    missing = base.join(stored_ids, "vec_id", "left_anti")
    # the fresh-tagging branch embeds bits*tables*dim projection literals
    # — at engine config a plan whose codegen/compile alone costs seconds,
    # paid even when the branch is EMPTY. One id-only probe action drops
    # the branch in the steady state (full coverage — every maintenance
    # tail run precedes queries). The probe anti-joins ``ids`` (the RAW
    # id column, NOT the norm-filtered base, whose norm>0 filter would
    # force a dim-length dot per row into the probe's plan) against the
    # stored ids: narrow longs only. Conservative by construction —
    # zero-norm rows are never stored, so a corpus containing them keeps
    # the branch (over a frame the norm filter empties anyway).
    # Deliberate exception to the no-eager-actions-in-plan-building rule,
    # same class as _query_frame's validation collect.
    if ids.join(stored_ids, "vec_id", "left_anti").limit(1).count() == 0:
        return covered
    return covered.unionByName(_srp_exploded(missing, bits, tables, dim))


def _tagged_frame(
    embeddings: DataFrame,
    base: DataFrame,
    bits: int,
    tables: int,
    dim: int,
    index_store: str | None,
) -> DataFrame:
    """ONE dispatch point for the three SRP consumers: fresh kernel, or
    committed store + on-the-fly remainder (``embeddings`` feeds the
    store path's narrow id probe only)."""
    if index_store is None:
        return _srp_exploded(base, bits, tables, dim)
    return _store_tags(
        base, embeddings.select("vec_id"), index_store, bits, tables, dim
    )


def srp_bucket_topk(
    embeddings: DataFrame,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 5,
    bits: int = SRP_BITS,
    tables: int = SRP_TABLES,
    persist_to: list | None = None,
    dim: int | None = None,
    index_store: str | None = None,
) -> DataFrame:
    """Multi-table LSH approximate top-k: candidates share ANY table bucket
    with the query. Same output shape as cosine_topk; recall < 1 by design
    (the scale path — the shuffle key (table, bucket) is near-uniform).
    ``persist_to``: see embedding_near_dup — base/tagged feed the query
    side, the candidate side, AND scoring; owned persistence avoids the
    recompute. ``index_store``: committed vecindex srp store — tags are
    READ instead of recomputed (uncovered vectors tag on the fly; output
    identical at any coverage)."""
    dim = _resolve_dim(embeddings, dim)
    base = with_norm(embeddings)
    tagged = _tagged_frame(embeddings, base, bits, tables, dim, index_store)
    if persist_to is not None:
        base, tagged = base.persist(), tagged.persist()
        persist_to.extend([base, tagged])
    queries = tagged.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
        F.col("table").alias("qtable"),
        F.col("bucket").alias("qbucket"),
    )
    _require_query_ids(queries, query_ids)
    # dedup (query, candidate) on narrow ids first — a pair can collide in
    # several tables, and hashing vector arrays through distinct would
    # dominate — then attach vectors back for scoring
    cand_ids = (
        tagged.select("vec_id", "table", "bucket")
        .join(
            F.broadcast(queries.select("query_id", "qtable", "qbucket")),
            (F.col("table") == F.col("qtable"))
            & (F.col("bucket") == F.col("qbucket")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    qvecs = queries.select("query_id", "qvec", "qnorm").distinct()
    scored = (
        cand_ids.join(base, "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("vec"), F.col("qvec")) / (F.col("norm") * F.col("qnorm")),
                6,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            "cosine",
        )
    )


IVF_CELLS = 8
IVF_PROBE = 2


def ivf_assignments(
    embeddings: DataFrame,
    n_cells: int = IVF_CELLS,
    base: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization with deterministic centroids.

    Centroids are the vectors with vec_id < n_cells (seeded corpus => a fixed
    pseudo-random sample; a production run would swap in k-means centroids —
    the plan shape is identical). Every vector is assigned to its max-cosine
    centroid. Output: base columns + (cell, cell_cos).

    The id convention is VALIDATED: a table whose ids don't start at 0
    would otherwise yield zero (or too few) centroids and ivf_topk would
    return empty/degraded results indistinguishable from 'no neighbors'
    (same misconfiguration class clustering.initial_centroids raises on)."""
    if base is None:
        base = with_norm(embeddings)
    if cents is None:
        cents = base.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cent_id"),
            F.col("vec").alias("cvec"),
            F.col("norm").alias("cnorm"),
        )
    n_found = cents.count()
    if n_found < n_cells:
        raise ValueError(
            f"ivf centroid convention needs vec_ids 0..{n_cells - 1} "
            f"present with non-zero norm; found only {n_found}"
        )
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "ccos",
        F.round(_dot(F.col("vec"), F.col("cvec")) / (F.col("norm") * F.col("cnorm")), 6),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cent_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") == 1)
        .select("vec_id", "vec", "norm", F.col("cent_id").alias("cell"))
    )


def _store_assignments(
    base: DataFrame, index_store: str, n_cells: int, dim: int
) -> tuple[DataFrame, DataFrame]:
    """(cents, assigned) for ivf_topk from a committed vecindex store:
    stored (vec_id, cell) rows joined back to the corpus vectors, plus
    on-the-fly assignment (same `ivf_assignments` kernel, STORED
    centroids) for corpus vectors the store does not cover — the
    `textops._store_signatures` contract: store-backed output must be
    indistinguishable from assigning everything, at any coverage.
    Raises when the store has no committed ivf run: a search that
    silently fell back to full re-scoring would hide exactly the cost
    the store exists to remove."""
    from . import vecindex  # lazy: vecindex imports this module

    from . import lineage

    spark = base.sparkSession
    # ONE committed-runs snapshot for both readers: halves the ledger
    # reads per query AND pins cents + assignments to the same commit
    # point (two default-None reads each re-list the ledger)
    committed = lineage.committed_id_set(index_store)
    cents = vecindex.committed_centroids(
        spark, index_store, n_cells, dim, committed
    )
    stored = vecindex.committed_assignments(
        spark, index_store, n_cells, dim, committed
    )
    if cents is None or stored is None:
        raise ValueError(f"no committed ivf index under {index_store}")
    # inner join restricts the index to the current corpus (stored ids the
    # corpus no longer holds drop out — the fresh path never saw them
    # either); the store side is narrow (two longs), the join key is the
    # corpus' primary key
    covered = base.join(stored, "vec_id")
    missing = base.join(stored.select("vec_id"), "vec_id", "left_anti")
    fresh = ivf_assignments(missing, n_cells, base=missing, cents=cents)
    assigned = covered.select("vec_id", "vec", "norm", "cell").unionByName(
        fresh.select("vec_id", "vec", "norm", "cell")
    )
    return cents, assigned


def ivf_topk(
    embeddings: DataFrame,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    persist_to: list | None = None,
    index_store: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF-style ANN: probe the n_probe nearest centroid cells per query.

    The scale path for 10^9+ vectors: the candidate scan shrinks from the
    full table to ~n_probe/n_cells of it, the cell assignment is a shuffle on
    a low-cardinality near-uniform key, and the per-query probe is a
    broadcast join. Same output shape as cosine_topk (recall < 1).

    ``index_store``: a committed vecindex out_dir ((n_cells, dim)
    validated per its protocol) — centroids and cell assignments are READ
    from the store instead of re-scoring the corpus, with vectors the
    store does not cover assigned on the fly against the STORED centroids
    (`_store_assignments`): output is IDENTICAL to the fresh path at any
    coverage level. At 10^9 vectors the full-corpus assignment scan is
    the dominant query cost; the store amortizes it to index-maintenance
    time, the sig_store pattern applied to ANN."""
    # ONE with_norm pass + ONE centroid frame shared with the assignment
    # stage: rebuilding them here ran the full-corpus norm scan twice per
    # search (ivf_assignments also validates cents with its own count)
    base = with_norm(embeddings)
    if persist_to is not None:
        base = base.persist()
        persist_to.append(base)
    if index_store is not None:
        cents, assigned = _store_assignments(
            base, index_store, n_cells, _resolve_dim(embeddings, dim)
        )
    else:
        cents = base.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cent_id"),
            F.col("vec").alias("cvec"),
            F.col("norm").alias("cnorm"),
        )
        assigned = ivf_assignments(embeddings, n_cells, base=base, cents=cents)
    queries = base.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    _require_query_ids(queries, query_ids)
    return _ivf_search(assigned, cents, queries, k, n_probe)


def _ivf_search(
    assigned: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int,
) -> DataFrame:
    """THE IVF probe/score tail shared by ivf_topk (corpus-internal query
    ids) and ivf_probe_topk (external query vectors): rank centroids per
    query, keep the n_probe nearest cells, score only those cells'
    assigned vectors, window to top-k. ``queries`` is (query_id, qvec,
    qnorm); self-matches (query_id == vec_id) are excluded — external
    callers use a fresh id namespace, making the filter a no-op."""
    qcells = queries.crossJoin(F.broadcast(cents)).withColumn(
        "ccos",
        F.round(
            _dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")), 6
        ),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cent_id"))
    probes = (
        qcells.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= n_probe)
        .select("query_id", "qvec", "qnorm", F.col("cent_id").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("vec"), F.col("qvec")) / (F.col("norm") * F.col("qnorm")), 6
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            "cosine",
        )
    )


def ivf_probe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    index_store: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """The SERVING shape of IVF ANN: search EXTERNAL query vectors — a
    (query_id, embedding) frame that need not exist in the corpus —
    against the corpus, the vecindex analog of sigindex.probe_near_dups.
    With ``index_store`` (the steady state) the corpus side is the
    committed narrow (vec_id, cell) table + pinned centroids: a search
    batch costs query-side centroid ranking (|queries| x n_cells,
    broadcast) plus scoring the ~n_probe/n_cells slice of the corpus it
    probes — the corpus is never re-scored. Same output shape and
    semantics as ivf_topk (shared `_ivf_search` tail); zero-norm or
    dropped query vectors raise rather than silently return no rows.
    Query ids share the corpus id namespace for the self-match exclusion
    — use fresh ids for genuinely external vectors."""
    dim = _resolve_dim(corpus, dim)
    base = with_norm(corpus)
    if index_store is not None:
        cents, assigned = _store_assignments(base, index_store, n_cells, dim)
    else:
        cents = base.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cent_id"),
            F.col("vec").alias("cvec"),
            F.col("norm").alias("cnorm"),
        )
        assigned = ivf_assignments(corpus, n_cells, base=base, cents=cents)
    want = [r["query_id"] for r in queries.select("query_id").collect()]
    qframe = with_norm(
        queries.select(F.col("query_id").alias("vec_id"), "embedding")
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    _require_query_ids(qframe, tuple(want))
    return _ivf_search(assigned, cents, qframe, k, n_probe)


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bits: int = SRP_BITS,
    tables: int = SRP_TABLES,
    persist_to: list | None = None,
    dim: int | None = None,
    index_store: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table SRP blocking.

    Output: (vec_a, vec_b, cosine) with vec_a < vec_b and cosine >= threshold.
    Blocking on (table, bucket) keeps the pairwise term bucket-local; the
    distinct() collapses pairs colliding in several tables.

    base/tagged each feed BOTH sides of the self-join, so the full-corpus
    norm + bits*tables projection hashing would otherwise execute twice —
    pass ``persist_to`` (a list; caller unpersists after consuming) to pin
    them for the join's duration. Left unowned, the plan recomputes
    (bounded, but ~2x the dominant stage at 10^9 vectors).
    ``index_store``: committed vecindex srp store — see srp_bucket_topk."""
    dim = _resolve_dim(embeddings, dim)
    base = with_norm(embeddings)
    tagged = _tagged_frame(embeddings, base, bits, tables, dim, index_store)
    if persist_to is not None:
        base, tagged = base.persist(), tagged.persist()
        persist_to.extend([base, tagged])
    a = tagged.select(F.col("vec_id").alias("vec_a"), "table", "bucket")
    b = tagged.select(
        F.col("vec_id").alias("vec_b"),
        F.col("table").alias("table_b"),
        F.col("bucket").alias("bucket_b"),
    )
    # dedup on the narrow id pair FIRST (a pair can collide in several
    # tables); hashing 64-float vectors through the distinct would dominate
    pair_ids = (
        a.join(
            b,
            (F.col("table") == F.col("table_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b")
        .distinct()
    )
    va = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("vec").alias("va"),
        F.col("norm").alias("na"),
    )
    vb = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("vec").alias("vb"),
        F.col("norm").alias("nb"),
    )
    return (
        pair_ids.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cosine",
            F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def embedding_decontaminate(
    embeddings: DataFrame,
    benchmark_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    threshold: float = 0.35,
    bits: int = SRP_BITS,
    tables: int = SRP_TABLES,
    persist_to: list | None = None,
    dim: int | None = None,
    index_store: str | None = None,
) -> DataFrame:
    """Semantic decontamination: flag corpus vectors sitting at cosine >=
    threshold to ANY benchmark vector — the embedding-space complement of
    the 8-gram `decontaminate` (paraphrased benchmark leakage that exact
    n-grams cannot see).

    Output: (vec_id, n_hits, max_cos, is_clean) for every NON-benchmark
    corpus row; max_cos is NULL for clean rows. Candidates come only from
    shared SRP buckets (multi-table LSH, the embedding_near_dup blocking),
    so the comparison term is |bucket-local pairs|, never |corpus| x
    |benchmark|; the benchmark side is broadcast. Zero-norm vectors cannot
    match and report clean. ``persist_to``: see embedding_near_dup."""
    ids = list(benchmark_ids)
    # ONE aggregate action answers both probes (per-action overhead on a
    # busy cluster dwarfs this tiny scan): which benchmark ids exist, and
    # the embedding dimensionality for the projection set
    probe = embeddings.agg(
        F.collect_set(
            # presence is not enough: a ZERO-NORM benchmark vector (failed
            # encoder) is dropped by with_norm and silently matches
            # nothing — the corpus would be reported clean against it
            F.when(
                F.col("vec_id").isin(ids)
                & (_dot(_as_double(F.col("embedding")),
                        _as_double(F.col("embedding"))) > 0),
                F.col("vec_id"),
            )
        ).alias("present"),
        F.first(F.size("embedding"), ignorenulls=True).alias("d"),
    ).first()
    missing = sorted(set(ids) - set(probe["present"] or []))
    if missing:
        # a benchmark set that is not actually searchable would make the
        # operator report the ENTIRE corpus clean — the one answer a
        # decontamination gate must never give by accident (same
        # misconfiguration class clustering.initial_centroids raises on)
        raise ValueError(
            "benchmark_ids absent from embeddings table (or zero-norm): "
            f"{missing}"
        )
    if dim is None:
        dim = SRP_DIM if probe["d"] is None else int(probe["d"])
    base = with_norm(embeddings)
    tagged = _tagged_frame(embeddings, base, bits, tables, dim, index_store)
    if persist_to is not None:
        base, tagged = base.persist(), tagged.persist()
        persist_to.extend([base, tagged])
    bench_tags = tagged.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("bench_id"),
        F.col("table").alias("btable"),
        F.col("bucket").alias("bbucket"),
    )
    cand_ids = (
        tagged.filter(~F.col("vec_id").isin(ids))
        .select("vec_id", "table", "bucket")
        .join(
            F.broadcast(bench_tags),
            (F.col("table") == F.col("btable"))
            & (F.col("bucket") == F.col("bbucket")),
        )
        .select("vec_id", "bench_id")
        .distinct()
    )
    bv = base.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("bench_id"),
        F.col("vec").alias("bvec"),
        F.col("norm").alias("bnorm"),
    )
    hits = (
        cand_ids.join(base.select("vec_id", "vec", "norm"), "vec_id")
        .join(F.broadcast(bv), "bench_id")
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("vec"), F.col("bvec"))
                / (F.col("norm") * F.col("bnorm")),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
    )
    agg = hits.groupBy("vec_id").agg(
        F.count("*").cast("long").alias("hit_cnt"), F.max("cos").alias("max_cos")
    )
    return (
        embeddings.select("vec_id")
        .filter(~F.col("vec_id").isin(ids))
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("hit_cnt"), F.lit(0)).cast("long").alias("n_hits"),
            "max_cos",
            F.col("hit_cnt").isNull().alias("is_clean"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bounded ANN path
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces (dim must divide evenly)
PQ_K = 8  # centroids per subspace -> one byte-ish code per subspace
GRID_QUANT = 1_000_000  # 1e-6 grid: floats become exact BIGINTs
PQ_QUANT = GRID_QUANT  # twin SQL references keep their name


def quantize_grid(embeddings: DataFrame) -> DataFrame:
    """(vec_id, q array<long>): coordinates on the 1e-6 integer grid —
    THE exact-integer quantizer shared by PQ and clustering.kmeans
    (integer sums are exact and order-independent; float sub-distances
    differ across engines in the last ulp and flip argmins). One kernel:
    a grid change desyncs every integer-exact twin at once, loudly."""
    return embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * GRID_QUANT).cast("long"),
        ).alias("q"),
    )


_pq_quantized = quantize_grid  # internal alias (pre-refactor name)


def _pq_sqdist(slice_col, centroid: list[int]):
    """Exact integer squared distance from an array<long> slice to a
    centroid literal (left-fold sum — order-deterministic)."""
    lit = F.array(*[F.lit(int(v)).cast("long") for v in centroid])
    return F.aggregate(
        F.zip_with(slice_col, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def pq_codebooks(
    embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K, dim: int | None = None
) -> list[list[list[int]]]:
    """cents[s][j] = subvector s of quantized vec_id j — the deterministic
    seeding convention shared with ivf_assignments/kmeans (vec_id < k are
    the codewords; a production run swaps in per-subspace k-means
    centroids, same shapes). Validated: ids 0..k-1 must exist, dim % m
    == 0. Driver-held (m*k*dim/m = dim*k ints — tiny, broadcast as plan
    literals; no shuffle anywhere in encode)."""
    dim = _resolve_dim(embeddings, dim)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    rows = (
        _pq_quantized(embeddings)
        .filter(F.col("vec_id") < k)
        .orderBy("vec_id")
        .collect()
    )
    got = [int(r["vec_id"]) for r in rows]
    if got != list(range(k)):
        raise ValueError(
            f"pq codebook convention needs vec_ids 0..{k - 1}; got {got[:10]}"
        )
    return [
        [list(r["q"])[s * sub : (s + 1) * sub] for r in rows]
        for s in range(m)
    ]


def pq_codes(
    embeddings: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int | None = None,
    _cents: list | None = None,
) -> DataFrame:
    """(vec_id, q, codes array<int>): each vector compressed to m small
    codes — dim floats become m indices (the 10^9-vector memory story:
    64 float32 -> 4 bytes here; a billion vectors fit one executor's
    RAM as codes). Encoding is pure per-row expressions over broadcast
    codebook literals: zero shuffle, whole-stage codegen."""
    dim = _resolve_dim(embeddings, dim)
    sub = dim // m
    # _cents: pq_topk already collected the codebooks — don't run the
    # tiny collect job twice per search
    cents = _cents if _cents is not None else pq_codebooks(embeddings, m, k, dim)
    qdf = _pq_quantized(embeddings)
    code_cols = []
    for s in range(m):
        sl = F.slice(F.col("q"), s * sub + 1, sub)
        dists = F.array(*[_pq_sqdist(sl, cents[s][j]) for j in range(k)])
        # array_position -> FIRST minimum: ties to the lowest codeword id
        # in both engines
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return qdf.select("vec_id", "q", F.array(*code_cols).alias("codes"))


def pq_topk(
    embeddings: DataFrame,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 5,
    m: int = PQ_M,
    n_cent: int = PQ_K,
    dim: int | None = None,
    refine: int = 0,
    persist_to: list | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: neighbors ranked by
    sum_s sqdist(query_subvec_s, codeword(s, code_x[s])) — the query stays
    exact, the corpus is its codes. The scale shape: per query a tiny
    m x n_cent distance TABLE is computed driver-side and broadcast; each
    candidate costs m array lookups + a sum (never a dim-length dot), the
    only shuffle is the final per-query top-k window, and the corpus-side
    state is the code table. Output (query_id, neighbor_id, rank,
    approx_dist) — approx_dist is the exact-integer ADC distance, so the
    DuckDB twin reproduces it bit-for-bit (recall vs exact cosine is
    measured in tests, not assumed).

    ``refine`` > 0 is the deployment shape: an ADC shortlist of
    ``refine * k`` candidates per query, then EXACT cosine re-ranking of
    just the shortlist (output columns switch to cosine, matching the
    other ANN operators). The expensive exact math touches refine*k rows
    per query instead of the corpus — codes select, vectors verify."""
    dim = _resolve_dim(embeddings, dim)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    # ONE tiny collect serves both the codebooks (vec_id < n_cent) and
    # the query vectors — a separate query collect would re-scan the
    # table for rows this job usually already holds
    need = (
        _pq_quantized(embeddings)
        .filter(
            (F.col("vec_id") < n_cent) | F.col("vec_id").isin(*query_ids)
        )
        .collect()
    )
    by_id = {int(r["vec_id"]): list(r["q"]) for r in need}
    if any(j not in by_id for j in range(n_cent)):
        raise ValueError(
            f"pq codebook convention needs vec_ids 0..{n_cent - 1}"
        )
    absent = [q for q in query_ids if q not in by_id]
    if absent:
        raise ValueError(f"query ids not in embeddings: {absent}")
    cents = [
        [by_id[j][s * sub : (s + 1) * sub] for j in range(n_cent)]
        for s in range(m)
    ]
    enc = pq_codes(embeddings, m, n_cent, dim, _cents=cents)
    if persist_to is not None:
        # persist-with-owner rule: enc feeds the ADC job AND (in refine
        # mode) the shortlist join — the caller owns the lifetime
        enc = enc.persist()
        persist_to.append(enc)
    spark = embeddings.sparkSession
    qtab_rows = []
    for qid in query_ids:
        qv = by_id[qid]
        tab = [
            [
                sum(
                    (int(qv[s * sub + i]) - int(cents[s][j][i])) ** 2
                    for i in range(sub)
                )
                for j in range(n_cent)
            ]
            for s in range(m)
        ]
        qtab_rows.append((int(qid), tab))
    queries = spark.createDataFrame(
        qtab_rows, "query_id long, qtab array<array<long>>"
    )
    scored = (
        enc.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "approx_dist",
            F.aggregate(
                F.zip_with(
                    F.col("qtab"),
                    F.col("codes"),
                    lambda t, c: F.element_at(t, c + F.lit(1)),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("vec_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine <= 0:
        return ranked.filter(F.col("rank") <= k).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            "approx_dist",
        )
    shortlist = ranked.filter(F.col("rank") <= refine * k).select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    base = with_norm(embeddings)
    if persist_to is not None:
        # base feeds BOTH the candidate re-rank join and the query frame
        # (plus _query_frame's validation collect) — unpersisted, the
        # full-corpus norm scan runs per consumer
        base = base.persist()
        persist_to.append(base)
    cand = shortlist.join(
        base.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("vec").alias("nvec"),
            F.col("norm").alias("nnorm"),
        ),
        "neighbor_id",
    )
    pairs = cand.join(F.broadcast(_query_frame(base, query_ids)), "query_id")
    return _rank_exact_cosine(pairs, k)
