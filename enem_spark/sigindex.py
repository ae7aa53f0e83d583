"""Persisted MinHash signature index, maintained exactly-once.

`textops.incremental_minhash_dedup` promises that "at scale the existing
band table is a materialized store ... the whole pass touches the existing
corpus's raw text zero times". This module is that store: a `minhash_sigs`
side table living under an extraction ``out_dir``. Each index-maintenance
run commits its signature rows through `lineage.commit_run`, so readers
(`committed_signatures`, `probe_near_dups`) see only committed runs and a
retry re-derives the same next run id from COMMITTED ids and overwrites
the orphan.

Steady state at 10^12 docs: each crawl snapshot's extraction run commits
its main content, `update_signature_index` signs ONLY the docs not yet in
the committed index (anti-join on doc_id — the index is append-only because
doc_id is content-addressed: changed content is a new unit, never a
mutation), and `probe_near_dups` LSH-joins a new increment against the
stored band table. The existing corpus's text is re-read zero times, and
the probe's candidate join is new×existing only — never existing×existing.

Run ids are ``sig{P}x{B}_{n:06d}`` (`SIGS`, a `lineage.RunFamily`): the
(perms, bands) config is in every id and every entry point refuses a
mismatch, because mixing configs would silently corrupt probes (band
boundaries shift).

Storage: one row per doc with the full md5-hex signature columns
(mh0..mh{P-1}); md5 is kept whole because the DuckDB parity twins must be
bit-identical (engine invariant). A production deployment would truncate
to 16 hex chars per component and bucket the derived band table by
(band, sig) so probes are co-located joins; both are representation
choices under this exact protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import lineage, textops

SIG_TABLE = "minhash_sigs"
SIGS = lineage.RunFamily(
    "sig{}x{}", "signature index", "re-sign under a new config"
)


def sig_run_id(perms: int, bands: int, n: int) -> str:
    return SIGS.run_id(perms, bands, n)


def committed_signatures(
    spark: SparkSession,
    out_dir: str,
    perms: int = textops.MINHASH_PERMS,
    bands: int = textops.LSH_BANDS,
    committed: set[str] | None = None,
) -> DataFrame | None:
    """Reader view of the signature store restricted to committed runs:
    (doc_id, mh0..mh{perms-1}), or None when no committed sig run exists.
    Pass ``committed`` (the lineage.committed_id_set snapshot) when the
    caller already read it — one ledger listing per maintenance step, not
    three."""
    if committed is None:
        committed = lineage.committed_id_set(out_dir)
    if not SIGS.runs(committed, (perms, bands)):
        return None
    # read EXACTLY the committed run dirs, never the whole table dir: a
    # crashed first attempt under a DIFFERENT (perms, bands) config leaves
    # an orphan run dir the config check cannot see (it validates committed
    # runs only), and a bare directory read would let schema inference
    # resolve that orphan's narrower/wider mh column set — an
    # AnalysisException on mh{perms-1}, or silently null-padded signatures
    sigs = lineage.committed_table(spark, out_dir, SIG_TABLE, committed)
    return None if sigs is None else sigs.drop("run_id")


def update_signature_index(
    spark: SparkSession,
    out_dir: str,
    source: DataFrame | None = None,
    perms: int = textops.MINHASH_PERMS,
    bands: int = textops.LSH_BANDS,
) -> dict:
    """One exactly-once index-maintenance run: sign every source doc absent
    from the committed index and commit the batch. ``source`` is any
    (doc_id, text) frame; it defaults to the out_dir's own committed main
    content (`lineage.committed_main_content`), which makes this the
    post-extraction maintenance step of an icetable tail run:

        icerun.run_html_extraction_ice(spark, table, out)   # extract delta
        sigindex.update_signature_index(spark, out)          # sign delta

    Returns {"indexed": n, "run_id": id, "up_to_date": bool}. Empty deltas
    write nothing and commit nothing (an empty overwrite of a reused run_id
    dir must not erase a previous attempt's output — lineage invariant);
    there is no watermark to advance here because the anti-join IS the
    resume cursor."""
    committed = lineage.committed_id_set(out_dir)
    runs = SIGS.runs(committed, (perms, bands))
    if source is None:
        main = lineage.committed_table(spark, out_dir, "main_content", committed)
        if main is None:
            return {"indexed": 0, "run_id": None, "up_to_date": True}
        source = main.select("doc_id", F.col("main_text").alias("text"))
    docs = source.select("doc_id", "text")
    existing = committed_signatures(spark, out_dir, perms, bands, committed)
    if existing is not None:
        # unbounded across runs -> no broadcast hint; AQE handles small case
        docs = docs.join(existing.select("doc_id"), "doc_id", "left_anti")
    run_id = sig_run_id(perms, bands, SIGS.next_n(runs))
    sigs = textops.minhash_signatures(docs, None, perms).persist()
    try:
        n = sigs.count()
        if n == 0:
            return {"indexed": 0, "run_id": run_id, "up_to_date": True}
        lineage.commit_run(spark, out_dir, run_id, {SIG_TABLE: sigs}, n)
    finally:
        sigs.unpersist()
    return {"indexed": n, "run_id": run_id, "up_to_date": False}


def probe_near_dups(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame,
    threshold: float = 0.5,
    perms: int = textops.MINHASH_PERMS,
    bands: int = textops.LSH_BANDS,
    persist_to: list | None = None,
) -> DataFrame:
    """Near-dup estimate of a new increment against the COMMITTED store —
    semantically identical to textops.incremental_minhash_dedup(new,
    existing) (shared `_estimate_new_vs_existing`), but the existing side
    is the persisted signature table: no shingling, no signature
    recomputation, no read of the existing corpus's text at all.

    Output: (doc_id, dup_of, est_jaccard) with est_jaccard >= threshold."""
    from pyspark import StorageLevel

    sig_ex = committed_signatures(spark, out_dir, perms, bands)
    if sig_ex is None:
        raise ValueError(f"no committed signature index under {out_dir}")
    # always persisted: the estimator reads sig_new twice (band table +
    # agreement join) and the zero-shuffle signature build has no exchange
    # for ReuseExchange to dedupe — unpersisted, the whole shingle+md5
    # chain would run twice from storage. Callers that pass persist_to own
    # the lifetime (unpersist after consuming); otherwise the
    # ContextCleaner reclaims the blocks when the plan is dropped (the
    # increment is small by definition).
    sig_new = textops.minhash_signatures(new_docs, None, perms).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if persist_to is not None:
        persist_to.append(sig_new)
    return textops._estimate_new_vs_existing(
        sig_new, sig_ex, threshold, perms, bands
    )
