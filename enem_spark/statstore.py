"""Persisted corpus-statistics store: mergeable sketches maintained
exactly-once.

A curation dashboard needs per-source corpus stats — document counts, token
volume, vocabulary size, length percentiles — continuously, over a corpus
that only ever grows by crawl increments. Recomputing them is an O(corpus)
scan per refresh; this module keeps them O(delta) by persisting MERGEABLE
state instead of answers:

  * HyperLogLog registers (vocabulary): registers over disjoint increments
    merge by max(reg) per (group, bucket) — the merged registers are
    IDENTICAL to a one-shot pass over the union, so the estimate is too.
  * qsketch log-histogram (length percentiles): histograms merge by
    sum(n) per (group, bin_id) — again exactly the one-shot histogram.
  * exact counters (n_docs, n_tokens): merge by sum.

All three merges are exact, so `corpus_stat_report` over the incremental
store equals the full recompute bit-for-bit (gated in
tests/test_statstore.py and by the incr_corpus_stats driver twin, whose
DuckDB oracle IS the full recompute).

The store lives under an extraction ``out_dir``: each maintenance run
commits ``corpus_stats/run_id=<id>`` and ``stats_docs/run_id=<id>`` (the
doc_id cursor for the delta anti-join) through `lineage.commit_run`, and
readers trust only committed runs. Run ids are ``stats{P}q{S}_{n:06d}``
(`STATS`, a `lineage.RunFamily`), so the (hll_p, sub_bits) config is
validated on every entry point — one store, one config (mixing bucket
widths would silently corrupt every merge). Defaults are the ENGINE
config (HLL_P=12, ~1.6% vocab error); the driver query passes
PARITY_HLL_P explicitly so its DuckDB twin stays tractable — the same
engine/parity split every sketch operator keeps.

Unified state schema: (grp, sketch, slot, val) —
  sketch='hll'    slot=register bucket   val=reg        merge: max
  sketch='qhist'  slot=bin_id            val=count      merge: sum
  sketch='count'  slot=0 docs / 1 tokens val=count      merge: sum
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import lineage, runfs, textops

STATS_TABLE = "corpus_stats"
DOCS_TABLE = "stats_docs"
# a compaction run ('c' suffix) folds every run numbered below it; readers
# trust only RunFamily.active_ids — that reader rule (not the cleanup
# delete) is what makes compaction crash-safe
STATS = lineage.RunFamily("stats{}q{}", "stats store", "re-profile")


def stats_run_id(p: int, sub_bits: int, n: int, compaction: bool = False) -> str:
    return STATS.run_id(p, sub_bits, n, compaction=compaction)


def _active_table(
    spark: SparkSession, out_dir: str, table: str, active_ids: list[str]
) -> DataFrame | None:
    """Rows of one stats side-output table restricted to the ACTIVE run
    set (exactly those run dirs are read)."""
    rows = lineage.committed_table(spark, out_dir, table, set(active_ids))
    return None if rows is None else rows.drop("run_id")


def _delta_state(
    docs: DataFrame, group_col: str, p: int, sub_bits: int
) -> DataFrame:
    """The (grp, sketch, slot, val) state rows for one increment. Pure
    composition of the mergeable-sketch operators — no new hashing logic,
    so the store can never drift from the one-shot queries it must equal."""
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(textops._tokens(F.col("text"))).alias("v"),
    )
    hll = textops._hll_registers(toks, ["grp"], F.col("v"), 1 << p).select(
        "grp",
        F.lit("hll").alias("sketch"),
        F.col("bucket").alias("slot"),
        F.col("reg").cast("long").alias("val"),
    )
    qh = textops.qsketch_hist(
        docs.select(F.col(group_col).alias("grp"), "n_chars"),
        ["grp"],
        "n_chars",
        sub_bits,
    ).select(
        "grp",
        F.lit("qhist").alias("sketch"),
        F.col("bin_id").alias("slot"),
        F.col("n").cast("long").alias("val"),
    )
    counts = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.size(textops._tokens(F.col("text"))).alias("ntok"),
        )
        .groupBy("grp")
        .agg(F.count("*").alias("nd"), F.sum("ntok").alias("nt"))
        .selectExpr(
            "grp",
            "stack(2, 0L, nd, 1L, nt) AS (slot, val)",
        )
        .select("grp", F.lit("count").alias("sketch"), "slot", "val")
    )
    return hll.unionByName(qh).unionByName(counts)


def committed_stats(
    spark: SparkSession,
    out_dir: str,
    p: int = textops.HLL_P,
    sub_bits: int = textops.QSKETCH_SUB_BITS,
    committed: set[str] | None = None,
) -> DataFrame | None:
    """MERGED state over all committed runs: one row per (grp, sketch,
    slot) — max for hll registers, sum for histograms/counters. None when
    no committed stats run exists."""
    if committed is None:
        committed = lineage.committed_id_set(out_dir)
    runs = STATS.runs(committed, (p, sub_bits))
    state = _active_table(spark, out_dir, STATS_TABLE, STATS.active_ids(runs))
    if state is None:
        return None
    agg = state.groupBy("grp", "sketch", "slot").agg(
        F.max("val").alias("_mx"), F.sum("val").alias("_sm")
    )
    return agg.select(
        "grp",
        "sketch",
        "slot",
        F.when(F.col("sketch") == "hll", F.col("_mx"))
        .otherwise(F.col("_sm"))
        .alias("val"),
    )


def _commit_compaction(
    spark: SparkSession,
    out_dir: str,
    family: lineage.RunFamily,
    run_id: str,
    tables: dict,
    n_active: int,
) -> None:
    """Commit a compaction run, then delete every run dir of its tables
    numbered below it (markers or not — this is where crash-orphaned
    garbage goes away; the sweep runs on the store's runfs control plane,
    so URI-schemed stores sweep correctly). Every table must map to a
    frame: a None means committed runs whose dirs are gone (store
    half-copied or hand-pruned), and committing it would clear the table
    and hide every older run behind the compaction."""
    missing = sorted(t for t, frame in tables.items() if frame is None)
    if missing:
        raise ValueError(
            f"{family.store} under {out_dir} has committed runs but no "
            f"readable {missing} run dirs — refusing to compact over it"
        )
    lineage.commit_run(spark, out_dir, run_id, tables, n_active)
    n_new = family.parse(run_id)[1]
    fs = runfs.fs_for(out_dir)
    for table in tables:
        base = f"{out_dir}/{table}"
        for d in fs.list_names(base):
            run = family.parse(d.removeprefix("run_id="))
            if run is not None and run[1] < n_new:
                fs.delete_prefix(f"{base}/{d}")


def update_corpus_stats(
    spark: SparkSession,
    out_dir: str,
    source: DataFrame,
    group_col: str = "source",
    p: int = textops.HLL_P,
    sub_bits: int = textops.QSKETCH_SUB_BITS,
) -> dict:
    """One exactly-once stats-maintenance run: fold every source doc absent
    from the committed cursor into the store. ``source`` is any (doc_id,
    <group_col>, text, n_chars) frame. Returns {"folded": n, "run_id": id,
    "up_to_date": bool}. Empty deltas write nothing and commit nothing
    (lineage invariant: an empty overwrite of a reused run_id dir must not
    erase a previous attempt's output)."""
    committed = lineage.committed_id_set(out_dir)
    runs = STATS.runs(committed, (p, sub_bits))
    docs = source.select("doc_id", group_col, "text", "n_chars")
    seen = _active_table(spark, out_dir, DOCS_TABLE, STATS.active_ids(runs))
    if seen is not None:
        # unbounded across runs -> no broadcast hint; AQE handles it
        docs = docs.join(seen.select("doc_id"), "doc_id", "left_anti")
    run_id = stats_run_id(p, sub_bits, STATS.next_n(runs))
    docs = docs.persist()
    try:
        n = docs.count()
        if n == 0:
            return {"folded": 0, "run_id": run_id, "up_to_date": True}
        lineage.commit_run(
            spark, out_dir, run_id,
            {
                STATS_TABLE: _delta_state(docs, group_col, p, sub_bits),
                DOCS_TABLE: docs.select("doc_id"),
            },
            n,
        )
    finally:
        docs.unpersist()
    return {"folded": n, "run_id": run_id, "up_to_date": False}


def folded_doc_ids(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """(doc_id) cursor of everything the stats store has folded — the
    cheap completeness probe: comparing its count with the corpus the
    store is supposed to profile detects a backfill gap (runs committed
    before profiling was turned on). Refuses a mixed-config store: its
    cursor could silently drop unfolded docs from a caller's delta."""
    runs = STATS.runs(lineage.committed_id_set(out_dir))
    return _active_table(spark, out_dir, DOCS_TABLE, STATS.active_ids(runs))


def compact_stats(
    spark: SparkSession,
    out_dir: str,
    p: int = textops.HLL_P,
    sub_bits: int = textops.QSKETCH_SUB_BITS,
    min_runs: int = 2,
) -> dict:
    """Fold every active stats run into ONE compaction run so a
    long-lived per-micro-batch fold (start_html_stream stats_dir) doesn't
    leave the reader merging one state dir per batch forever: write the
    MERGED state and the full cursor under `stats..._{n}c`, append the
    marker (the commit point), then best-effort delete every superseded
    run directory. Crash-safe by the READER RULE, not the delete: readers
    trust only runs numbered >= the latest compaction, so a crash after
    the commit but before the cleanup leaves invisible garbage, never a
    double count — the next compaction's cleanup sweep (numbered-below
    scan of the dirs on disk) removes it.

    Compaction rewrites the FULL cursor (O(corpus) doc_ids), so a caller
    on a schedule should amortize it: ``min_runs`` fires it only once the
    active set reaches that many runs (default 2 = whenever there is
    anything to merge — right for an end-of-stream-job compaction of many
    micro-batch runs, too eager for a nightly tick over a huge table)."""
    committed = lineage.committed_id_set(out_dir)
    runs = STATS.runs(committed, (p, sub_bits))
    active = STATS.active_ids(runs)
    if len(active) < max(min_runs, 2):
        return {"compacted_runs": 0, "run_id": None}
    run_id = stats_run_id(p, sub_bits, STATS.next_n(runs), compaction=True)
    _commit_compaction(
        spark, out_dir, STATS, run_id,
        {
            STATS_TABLE: committed_stats(spark, out_dir, p, sub_bits, committed),
            DOCS_TABLE: _active_table(spark, out_dir, DOCS_TABLE, active),
        },
        len(active),
    )
    return {"compacted_runs": len(active), "run_id": run_id}


def corpus_stat_report(
    spark: SparkSession,
    out_dir: str,
    qs: tuple = (0.5, 0.9, 0.99),
    p: int = textops.HLL_P,
    sub_bits: int = textops.QSKETCH_SUB_BITS,
) -> DataFrame:
    """(grp, n_docs, n_tokens, vocab_est, p50, p90, p99) from the committed
    store — never touching raw text. Exactly equals the one-shot report
    over the union of all committed increments (all three merges are
    exact)."""
    state = committed_stats(spark, out_dir, p, sub_bits)
    if state is None:
        raise ValueError(f"no committed stats run under {out_dir}")
    return _report_from_state(state, qs, p, sub_bits)


def one_shot_report(
    docs: DataFrame,
    group_col: str = "source",
    qs: tuple = (0.5, 0.9, 0.99),
    p: int = textops.HLL_P,
    sub_bits: int = textops.QSKETCH_SUB_BITS,
    persist_to: list | None = None,
) -> DataFrame:
    """The report computed straight from raw text with NO store, writes,
    or commits — what a dashboard without the incremental store pays per
    refresh, and the honest recompute counterfactual the bench times.
    Composes the same _delta_state / _report_from_state kernels the store
    uses, so it equals corpus_stat_report over any partition of ``docs``
    into committed increments. The report reads its state three times
    (counts / vocab / quantile branches); pass ``persist_to`` (the
    persist-with-owner rule: caller unpersists after consuming) to
    tokenize the corpus once instead of once per branch."""
    state = _delta_state(docs, group_col, p, sub_bits)
    if persist_to is not None:
        state = state.persist()
        persist_to.append(state)
    return _report_from_state(state, qs, p, sub_bits)


def _report_from_state(
    state: DataFrame, qs: tuple, p: int, sub_bits: int
) -> DataFrame:
    # no persist: the state table is <= groups * (2^p + bins + 2) rows —
    # re-reading the source per branch is cheaper than owning a
    # cache lifetime here (persist-with-owner rule)
    counts = (
        state.filter(F.col("sketch") == "count")
        .groupBy("grp")
        .agg(
            F.sum(F.when(F.col("slot") == 0, F.col("val"))).alias("n_docs"),
            F.sum(F.when(F.col("slot") == 1, F.col("val"))).alias("n_tokens"),
        )
    )
    vocab = textops.hll_estimate(
        state.filter(F.col("sketch") == "hll").select(
            "grp", F.col("slot").alias("bucket"), F.col("val").alias("reg")
        ),
        ["grp"],
        p,
    ).withColumnRenamed("approx_distinct", "vocab_est")
    quants = textops.qsketch_quantiles(
        state.filter(F.col("sketch") == "qhist").select(
            "grp", F.col("slot").alias("bin_id"), F.col("val").alias("n")
        ),
        ["grp"],
        qs,
        sub_bits,
    )
    qcols = quants.groupBy("grp").agg(
        *[
            F.max(F.when(F.col("q") == float(q), F.col("q_est"))).alias(
                f"p{int(q * 100)}"
            )
            for q in qs
        ]
    )
    out = counts.join(vocab, "grp").join(qcols, "grp")
    return out.select(
        "grp", "n_docs", "n_tokens", "vocab_est",
        *[f"p{int(q * 100)}" for q in qs],
    )


# ---------------------------------------------------------------------------
# Incremental heavy hitters: a persisted count-min sketch + candidate set
# under the same runs protocol, in its OWN run-id namespace ("terms...")
# with its OWN doc_id cursor — a stats run and a terms run over one
# out_dir never interact, so neither store can corrupt the other's
# watermark. Both CMS merges are exact: registers over disjoint
# increments merge by cell-wise SUM (= the one-shot sketch), candidate
# sets by distinct union (= the one-shot sample, since the sample
# predicate is a pure per-doc function). top_term_report over increments
# therefore equals textops.cms_topk over the union bit-for-bit — the
# incr_top_terms driver twin IS the one-shot SQL.

TERMS_TABLE = "term_cms"
CANDS_TABLE = "term_cands"
TERM_DOCS_TABLE = "term_docs"
TERMS = lineage.RunFamily("terms{}x{}m{}", "term store", "re-profile")


def term_run_id(
    depth: int, width: int, sample_mod: int, n: int, compaction: bool = False
) -> str:
    return TERMS.run_id(depth, width, sample_mod, n, compaction=compaction)


def _term_tokens(docs: DataFrame, group_col: str) -> DataFrame:
    return docs.select(
        F.col(group_col).alias("grp"),
        "doc_id",
        F.explode(textops._tokens(F.col("text"))).alias("v"),
    )


def folded_term_doc_ids(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """(doc_id) cursor of everything the TERM store has folded — the term
    twin of :func:`folded_doc_ids` (own cursor table and run namespace;
    the stores share only the runs marker table). Lets callers pre-filter
    a corpus frame to the unfolded delta before materializing text.
    Refuses a mixed-config store, like :func:`folded_doc_ids`."""
    runs = TERMS.runs(lineage.committed_id_set(out_dir))
    return _active_table(spark, out_dir, TERM_DOCS_TABLE, TERMS.active_ids(runs))


def update_term_sketch(
    spark: SparkSession,
    out_dir: str,
    source: DataFrame,
    group_col: str = "source",
    depth: int = textops.CMS_DEPTH,
    width: int = textops.CMS_WIDTH,
    sample_mod: int = textops.CMS_SAMPLE_MOD,
) -> dict:
    """One exactly-once term-sketch maintenance run: for every source doc
    absent from the term cursor, add its token occurrences to the CMS
    registers and its sampled tokens to the candidate set. State written
    per run: <= depth*width register rows per group + the delta's sampled
    vocabulary — never the token stream."""
    committed = lineage.committed_id_set(out_dir)
    runs = TERMS.runs(committed, (depth, width, sample_mod))
    docs = source.select("doc_id", group_col, "text")
    seen = _active_table(spark, out_dir, TERM_DOCS_TABLE, TERMS.active_ids(runs))
    if seen is not None:
        # unbounded across runs -> no broadcast hint; AQE handles it
        docs = docs.join(seen.select("doc_id"), "doc_id", "left_anti")
    run_id = term_run_id(depth, width, sample_mod, TERMS.next_n(runs))
    docs = docs.persist()
    try:
        n = docs.count()
        if n == 0:
            return {"folded": 0, "run_id": run_id, "up_to_date": True}
        toks = _term_tokens(docs, group_col)
        sampled = toks.filter(textops._cms_doc_sampled(F.col("doc_id"), sample_mod))
        lineage.commit_run(
            spark, out_dir, run_id,
            {
                TERMS_TABLE: textops.cms_sketch(toks, ["grp"], "v", depth, width),
                CANDS_TABLE: sampled.select("grp", "v").distinct(),
                TERM_DOCS_TABLE: docs.select("doc_id"),
            },
            n,
        )
    finally:
        docs.unpersist()
    return {"folded": n, "run_id": run_id, "up_to_date": False}


def top_term_report(
    spark: SparkSession,
    out_dir: str,
    k: int = 10,
    group_col: str = "source",
    depth: int = textops.CMS_DEPTH,
    width: int = textops.CMS_WIDTH,
    sample_mod: int = textops.CMS_SAMPLE_MOD,
) -> DataFrame:
    """(source, term, est_count, rank): heavy hitters over everything ever
    folded, from the committed store alone — registers merged by SUM,
    candidates by distinct union, then the same estimate+rank kernel as
    the one-shot cms_topk (shared functions, so the two paths cannot
    drift). Never re-reads committed text."""
    committed = lineage.committed_id_set(out_dir)
    runs = TERMS.runs(committed, (depth, width, sample_mod))
    if not runs:
        raise ValueError(f"no committed term run under {out_dir}")
    active = TERMS.active_ids(runs)
    sketch = _merged_term_sketch(spark, out_dir, active)
    cands = _active_table(spark, out_dir, CANDS_TABLE, active)
    est = textops.cms_estimate(sketch, cands, ["grp"], "v", depth, width)
    return textops._cms_rank_topk(est, k, group_col)


def _merged_term_sketch(
    spark: SparkSession, out_dir: str, active: list[str]
) -> DataFrame:
    """Cell-wise SUM merge of the active CMS register runs — ONE
    implementation shared by the report and the compaction, so compacted
    state can never diverge from what the report computes."""
    return (
        _active_table(spark, out_dir, TERMS_TABLE, active)
        .groupBy("grp", "row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact_terms(
    spark: SparkSession,
    out_dir: str,
    depth: int = textops.CMS_DEPTH,
    width: int = textops.CMS_WIDTH,
    sample_mod: int = textops.CMS_SAMPLE_MOD,
    min_runs: int = 2,
) -> dict:
    """compact_stats for the terms namespace: merged registers (cell-wise
    SUM), distinct-union candidates, and the full cursor written under
    `terms..._{n}c`, marker committed, superseded dirs swept. Same reader
    rule: a crash after the commit leaves invisible garbage, never a
    double count. Same ``min_runs`` amortization: the rewrite is
    O(cursor + sampled vocabulary), so fire it once enough runs accrue."""
    committed = lineage.committed_id_set(out_dir)
    runs = TERMS.runs(committed, (depth, width, sample_mod))
    active = TERMS.active_ids(runs)
    if len(active) < max(min_runs, 2):
        return {"compacted_runs": 0, "run_id": None}
    run_id = term_run_id(
        depth, width, sample_mod, TERMS.next_n(runs), compaction=True
    )
    _commit_compaction(
        spark, out_dir, TERMS, run_id,
        {
            TERMS_TABLE: _merged_term_sketch(spark, out_dir, active),
            CANDS_TABLE: _active_table(spark, out_dir, CANDS_TABLE, active).distinct(),
            TERM_DOCS_TABLE: _active_table(spark, out_dir, TERM_DOCS_TABLE, active),
        },
        len(active),
    )
    return {"compacted_runs": len(active), "run_id": run_id}


def main_content_docs(
    main: DataFrame,
    langs: DataFrame | None = None,
    group_col: str = "lang",
    how: str = "left",
) -> DataFrame:
    """(doc_id, <group_col>, text, n_chars) from a main_content frame
    (htmlops MAIN_SCHEMA rows), optionally joined to a (doc_id,
    <group_col>) frame — a missing or undetected group folds under 'und'.
    The group pick for a duplicated doc_id is min(), not an arbitrary
    dropDuplicates row, so every caller derives the same label.
    ``how="inner"`` restricts the output to docs present in ``langs`` —
    the streaming fold passes the batch's own frame there so a colliding
    run directory from an older stream incarnation can never contribute
    foreign rows. ONE implementation: the streaming fold and its equality
    tests must derive identically or incremental != one-shot."""
    out = main.select(
        "doc_id",
        F.coalesce(F.col("main_text"), F.lit("")).alias("text"),
        F.coalesce(F.col("main_chars").cast("long"), F.lit(0)).alias(
            "n_chars"
        ),
    )
    if langs is not None:
        out = out.join(
            langs.groupBy("doc_id").agg(
                F.min(F.col(group_col).cast("string")).alias(group_col)
            ),
            "doc_id",
            how,
        )
    else:
        out = out.withColumn(group_col, F.lit(None).cast("string"))
    return out.select(
        "doc_id",
        F.coalesce(F.col(group_col), F.lit("und")).alias(group_col),
        "text",
        "n_chars",
    )
