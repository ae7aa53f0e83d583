"""Incremental corpus-statistics store (statstore.py): incremental folds
must equal the one-shot full recompute bit-for-bit (all three merges —
max registers, summed histograms, summed counters — are exact), replays
are committed-nothing no-ops, crashed runs are invisible and get
overwritten by the retry, and the (hll_p, sub_bits) config is pinned per
store."""

import os

import pytest
from pyspark.sql import functions as F

from enem_spark import statstore, textops

SF_DIR = "/root/testdata/sf0.001"
P, S = textops.PARITY_HLL_P, textops.QSKETCH_SUB_BITS


KW = dict(p=P, sub_bits=S)  # parity config, passed explicitly: the
# engine default is HLL_P=12 and tests should pin what they assert on


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text", "n_chars"
    )


def _report_rows(spark, out):
    return sorted(
        tuple(r) for r in statstore.corpus_stat_report(spark, out, **KW).collect()
    )


def test_incremental_equals_one_shot(spark, tmp_path):
    """Fold even half then the full table (delta = odd half); the report
    from the two-increment store must be bit-identical to a fresh store
    folded in one pass. This is the whole point of mergeable sketches."""
    docs = _docs(spark)
    incr, full = str(tmp_path / "incr"), str(tmp_path / "full")

    r1 = statstore.update_corpus_stats(
        spark, incr, docs.filter(F.col("doc_id") % 2 == 0), **KW
    )
    assert r1["run_id"] == statstore.stats_run_id(P, S, 1)
    assert not r1["up_to_date"] and r1["folded"] > 0
    r2 = statstore.update_corpus_stats(spark, incr, docs, **KW)
    assert r2["folded"] == docs.count() - r1["folded"]

    statstore.update_corpus_stats(spark, full, docs, **KW)
    assert _report_rows(spark, incr) == _report_rows(spark, full)


def test_replay_is_noop(spark, tmp_path):
    """A third run over already-folded docs commits nothing: no new runs
    marker, folded=0, and the report is unchanged."""
    docs = _docs(spark)
    out = str(tmp_path / "s")
    statstore.update_corpus_stats(spark, out, docs, **KW)
    before = _report_rows(spark, out)

    r = statstore.update_corpus_stats(spark, out, docs, **KW)
    assert r == {
        "folded": 0,
        "run_id": statstore.stats_run_id(P, S, 2),
        "up_to_date": True,
    }
    runs = spark.read.parquet(f"{out}/runs")
    assert runs.count() == 1
    assert _report_rows(spark, out) == before


def test_crashed_run_invisible_then_overwritten(spark, tmp_path):
    """An orphan run directory with NO commit marker (a crashed attempt)
    must not leak into the report; the retry derives the SAME run id from
    committed ids only and overwrites the orphan."""
    docs = _docs(spark)
    out = str(tmp_path / "s")
    statstore.update_corpus_stats(
        spark, out, docs.filter(F.col("doc_id") % 2 == 0), **KW
    )
    clean = _report_rows(spark, out)

    # simulate a crash: the run-2 state dir exists (with absurd counter
    # rows that would be unmissable in the report) but runs was never
    # appended
    orphan = statstore.stats_run_id(P, S, 2)
    spark.createDataFrame(
        [("web", "count", 0, 10**12), ("web", "count", 1, 10**12)],
        "grp string, sketch string, slot long, val long",
    ).write.mode("overwrite").parquet(
        f"{out}/{statstore.STATS_TABLE}/run_id={orphan}"
    )
    assert _report_rows(spark, out) == clean

    # retry reuses run id 2, overwrites the junk, and commits
    r = statstore.update_corpus_stats(spark, out, docs, **KW)
    assert r["run_id"] == orphan and not r["up_to_date"]
    full = str(tmp_path / "full")
    statstore.update_corpus_stats(spark, full, docs, **KW)
    assert _report_rows(spark, out) == _report_rows(spark, full)


def test_config_is_pinned(spark, tmp_path):
    """One store, one (hll_p, sub_bits) config: both the updater and every
    reader must refuse a mismatched request instead of silently merging
    incompatible bucket widths."""
    docs = _docs(spark)
    out = str(tmp_path / "s")
    statstore.update_corpus_stats(spark, out, docs, p=P, sub_bits=S)
    with pytest.raises(ValueError, match="one store, one config"):
        statstore.update_corpus_stats(spark, out, docs, p=P + 1, sub_bits=S)
    with pytest.raises(ValueError, match="one store, one config"):
        statstore.corpus_stat_report(spark, out, p=P, sub_bits=S + 1)
    with pytest.raises(ValueError, match="no committed stats run"):
        statstore.corpus_stat_report(spark, str(tmp_path / "empty"))


def test_mixed_config_store_poisons_cursor(spark, tmp_path):
    """The folded-docs cursors must refuse a store whose one-config
    invariant was ever violated (only reachable by forging run ids
    around the entry points): ice_maintenance's pre-drop path trusts
    them, and a silently-wrong cursor would drop unfolded docs from the
    delta forever (advice finding, round 4)."""
    from enem_spark import lineage

    docs = _docs(spark)
    out = str(tmp_path / "s")
    statstore.update_corpus_stats(spark, out, docs, **KW)
    assert statstore.folded_doc_ids(spark, out).count() == docs.count()
    # forge a second-config marker straight into the runs table — the
    # only way the invariant can break, since every entry point validates
    lineage.append_run_marker(
        spark, out, statstore.stats_run_id(P + 1, S, 2)
    )
    with pytest.raises(ValueError, match="mixed configs"):
        statstore.folded_doc_ids(spark, out)

    # term-store twin
    tout = str(tmp_path / "t")
    statstore.update_term_sketch(
        spark, tout, docs, group_col="source",
        depth=2, width=64, sample_mod=1,
    )
    assert statstore.folded_term_doc_ids(spark, tout).count() == docs.count()
    lineage.append_run_marker(
        spark, tout, statstore.term_run_id(2, 128, 1, 2)
    )
    with pytest.raises(ValueError, match="mixed configs"):
        statstore.folded_term_doc_ids(spark, tout)


def test_empty_delta_writes_nothing(spark, tmp_path):
    """An empty increment must not write run directories (an empty
    overwrite of a reused run id would erase a previous attempt's
    output) nor append a marker."""
    docs = _docs(spark)
    out = str(tmp_path / "s")
    statstore.update_corpus_stats(spark, out, docs, **KW)
    r = statstore.update_corpus_stats(spark, out, docs.limit(0), **KW)
    assert r["folded"] == 0 and r["up_to_date"]
    assert not os.path.exists(
        f"{out}/{statstore.STATS_TABLE}/run_id={statstore.stats_run_id(P, S, 2)}"
    )
    assert spark.read.parquet(f"{out}/runs").count() == 1


def test_ice_maintenance_stats_cli(spark, tmp_path):
    """The nightly-ops CLI's --stats action: folds the current snapshot
    incrementally (content-addressed cursor), re-runs are no-ops, an
    appended crawl delta folds only the new content versions, and the
    resulting report equals a one-shot in-process store over the same
    pages."""
    import json
    import subprocess
    import sys

    import pandas as pd

    from enem_spark.sources import icetable as it

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tbl, store = str(tmp_path / "tbl"), str(tmp_path / "stats")
    tstore = str(tmp_path / "terms")

    def rows(ids, lang):
        return [
            {
                "url": f"https://ex.org/{lang}/{i}",
                "warc_ts": pd.Timestamp(it.EPOCH_S + i, unit="s"),
                "html": f"<html><body>doc {i} {lang}</body></html>".encode(),
                "text": " ".join(f"w{lang}{(i * 3 + k) % 11}" for k in range(6)),
                "lang": lang,
            }
            for i in ids
        ]

    def frame(rs):
        return spark.createDataFrame(
            pd.DataFrame(rs, columns=[f.name for f in it.PAGES_ICE_SCHEMA.fields]),
            schema=it.PAGES_ICE_SCHEMA,
        )

    base = rows(range(4), "pt") + rows(range(4), "en")
    t = it.IceTable.create(spark, tbl, frame(base), sequence=10)

    def run_cli():
        p = subprocess.run(
            [
                sys.executable,
                os.path.join(repo, "jobs", "ice_maintenance.py"),
                "--table", tbl, "--stats", store, "--cores", "2",
                "--terms", tstore, "--terms-k", "3",
            ],
            capture_output=True,
            text=True,
            check=True,
        )
        return json.loads(p.stdout.strip().splitlines()[-1])

    o1 = run_cli()
    s1, t1 = o1["stats"], o1["terms"]
    assert s1["folded"] == 8 and not s1["up_to_date"]
    assert {r["grp"] for r in s1["report"]} == {"en", "pt"}
    assert all(r["n_docs"] == 4 for r in s1["report"])
    assert t1["folded"] == 8 and t1["report"]
    assert all(r["rank"] <= 3 for r in t1["report"])

    o2 = run_cli()
    s2, t2 = o2["stats"], o2["terms"]
    assert s2["folded"] == 0 and s2["up_to_date"]
    assert s2["report"] == s1["report"]
    assert t2["folded"] == 0 and t2["report"] == t1["report"]

    # crawl delta: 3 new pt pages + 1 byte-identical replay of an old one
    t.append(frame(rows(range(4, 7), "pt") + rows(range(1), "pt")), 20)
    o3 = run_cli()
    s3, t3 = o3["stats"], o3["terms"]
    assert s3["folded"] == 3 and t3["folded"] == 3

    # incremental term report == one-shot cms_topk over the same docs
    tdocs = (
        t.read()
        .select(
            F.xxhash64("url", F.md5("html")).alias("doc_id"),
            F.col("lang").alias("source"),
            "text",
        )
        .dropDuplicates(["doc_id"])
    )
    want = sorted(
        (r.source, r.term, r.est_count, r.rank)
        for r in textops.cms_topk(tdocs, k=3, group_col="source").collect()
    )
    got = sorted(
        (r["lang"], r["term"], r["est_count"], r["rank"])
        for r in t3["report"]
    )
    assert got == want

    # the incremental store must equal a one-shot fold over the SAME pages
    # (identical doc_id derivation to the CLI's)
    docs = (
        t.read()
        .select(
            F.xxhash64("url", F.md5("html")).alias("doc_id"),
            "lang",
            "text",
            F.length("text").alias("n_chars"),
        )
        .dropDuplicates(["doc_id"])
    )
    one_shot = str(tmp_path / "oneshot")
    statstore.update_corpus_stats(spark, one_shot, docs, group_col="lang")
    expected = sorted(
        (
            r.asDict()
            for r in statstore.corpus_stat_report(spark, one_shot).collect()
        ),
        key=lambda r: r["grp"],
    )
    assert sorted(s3["report"], key=lambda r: r["grp"]) == expected

    # asymmetric stores: stats is fully folded, terms starts FRESH — the
    # CLI's delta pre-filter (drop docs folded by EVERY active store) must
    # not starve the empty term store of the corpus
    tstore2 = str(tmp_path / "terms_fresh")
    p = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "jobs", "ice_maintenance.py"),
            "--table", tbl, "--stats", store, "--cores", "2",
            "--terms", tstore2, "--terms-k", "3",
        ],
        capture_output=True, text=True, check=True,
    )
    o4 = json.loads(p.stdout.strip().splitlines()[-1])
    assert o4["stats"]["folded"] == 0  # own cursor absorbs everything
    assert o4["terms"]["folded"] == 11  # fresh store folds the whole corpus
    assert o4["terms"]["report"] == t3["report"]


TKW = dict(
    depth=textops.PARITY_CMS_DEPTH,
    width=textops.PARITY_CMS_WIDTH,
    sample_mod=textops.CMS_SAMPLE_MOD,
)


def test_term_store_incremental_equals_one_shot(spark, tmp_path):
    """Three uneven term-sketch increments must reproduce textops.cms_topk
    over the whole corpus bit-for-bit: registers merge by SUM, candidates
    by distinct union of the per-doc sample — both exact."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    out = str(tmp_path / "terms")
    statstore.update_term_sketch(
        spark, out, docs.filter(F.col("doc_id") % 3 == 0), **TKW
    )
    statstore.update_term_sketch(
        spark, out, docs.filter(F.col("doc_id") % 3 <= 1), **TKW
    )
    r = statstore.update_term_sketch(spark, out, docs, **TKW)
    assert not r["up_to_date"]

    got = sorted(
        tuple(x)
        for x in statstore.top_term_report(spark, out, k=7, **TKW).collect()
    )
    want = sorted(
        tuple(x) for x in textops.cms_topk(docs, k=7, **TKW).collect()
    )
    assert got == want


def test_term_and_stats_stores_share_out_dir_independently(spark, tmp_path):
    """The two stores live in one out_dir with separate run-id namespaces
    and separate cursors: folding docs into one must not advance the
    other's watermark, and replays stay per-store no-ops."""
    docs = _docs(spark)
    out = str(tmp_path / "both")
    statstore.update_corpus_stats(spark, out, docs, **KW)
    # the stats fold must NOT have consumed the term cursor
    t1 = statstore.update_term_sketch(spark, out, docs, **TKW)
    assert t1["folded"] == docs.count()
    assert t1["run_id"] == statstore.term_run_id(
        TKW["depth"], TKW["width"], TKW["sample_mod"], 1
    )
    # both replay as no-ops, each under its own namespace
    assert statstore.update_corpus_stats(spark, out, docs, **KW)["up_to_date"]
    assert statstore.update_term_sketch(spark, out, docs, **TKW)["up_to_date"]
    # and both reports work off the shared runs table
    assert statstore.corpus_stat_report(spark, out, **KW).count() > 0
    assert statstore.top_term_report(spark, out, **TKW).count() > 0


def test_term_store_config_pinned(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    out = str(tmp_path / "terms")
    statstore.update_term_sketch(spark, out, docs, **TKW)
    with pytest.raises(ValueError, match="one store, one config"):
        statstore.update_term_sketch(
            spark, out, docs, depth=TKW["depth"] + 1,
            width=TKW["width"], sample_mod=TKW["sample_mod"],
        )
    with pytest.raises(ValueError, match="no committed term run"):
        statstore.top_term_report(spark, str(tmp_path / "empty"), **TKW)


def test_streaming_stats_fold_matches_one_shot(spark, tmp_path):
    """start_html_stream(stats_dir=...): per-micro-batch folds of the
    extraction output (several batches via maxFilesPerTrigger=1) must
    leave the stats store EQUAL to a one-shot store folded from the final
    committed main_content — continuous profiling loses nothing. A second
    stream invocation over the same checkpoint folds nothing."""
    from enem_spark import htmlops as H
    from enem_spark.lineage import committed_main_content
    from enem_spark.streaming import read_html_pages_stream, start_html_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = H.synth_html_pages(docs)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stats = str(tmp_path / "stats")
    # several files -> several micro-batches
    pages.repartition(4).write.parquet(src)

    q = start_html_stream(
        read_html_pages_stream(
            spark, src, max_files_per_trigger=1, watermark="10 seconds"
        ),
        out, ckpt, available_now=True, stats_dir=stats,
    )
    q.awaitTermination(300)
    n_batches = spark.read.parquet(f"{stats}/runs").count()
    assert n_batches >= 2  # the fold really was incremental

    got = sorted(
        tuple(r)
        for r in statstore.corpus_stat_report(spark, stats).collect()
    )

    one_shot = str(tmp_path / "oneshot")
    langs = pages.select("doc_id", "lang")
    statstore.update_corpus_stats(
        spark,
        one_shot,
        statstore.main_content_docs(
            committed_main_content(spark, out).drop("run_id"), langs
        ),
        group_col="lang",
    )
    want = sorted(
        tuple(r)
        for r in statstore.corpus_stat_report(spark, one_shot).collect()
    )
    assert got == want

    # replayed stream: extraction no-ops, stats folds nothing new
    q2 = start_html_stream(
        read_html_pages_stream(
            spark, src, max_files_per_trigger=1, watermark="10 seconds"
        ),
        out, ckpt, available_now=True, stats_dir=stats,
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{stats}/runs").count() == n_batches


def test_compaction_preserves_report_and_prunes_dirs(spark, tmp_path):
    """compact_stats folds N active runs into one compaction run: the
    report is bit-identical before/after, superseded run directories are
    removed from disk, the cursor survives (replays still fold 0), and
    crash-orphaned garbage numbered below the compaction is invisible to
    readers and swept by the next compaction."""
    docs = _docs(spark)
    out = str(tmp_path / "s")
    for m in (0, 1, 2):
        statstore.update_corpus_stats(
            spark, out, docs.filter(F.col("doc_id") % 3 <= m), **KW
        )
    before = _report_rows(spark, out)

    r = statstore.compact_stats(spark, out, **KW)
    assert r["compacted_runs"] == 3
    assert r["run_id"] == statstore.stats_run_id(P, S, 4, compaction=True)
    assert _report_rows(spark, out) == before
    for table in (statstore.STATS_TABLE, statstore.DOCS_TABLE):
        assert os.listdir(f"{out}/{table}") == [f"run_id={r['run_id']}"]

    # cursor intact: a full replay folds nothing
    assert statstore.update_corpus_stats(spark, out, docs, **KW)[
        "up_to_date"
    ]
    # single active run -> compaction is a no-op
    assert statstore.compact_stats(spark, out, **KW)["compacted_runs"] == 0

    # crash-orphaned garbage below the compaction number: invisible to
    # the report (reader rule), swept by the next compaction's cleanup
    junk = statstore.stats_run_id(P, S, 2)
    spark.createDataFrame(
        [("web", "count", 0, 10**12)],
        "grp string, sketch string, slot long, val long",
    ).write.mode("overwrite").parquet(
        f"{out}/{statstore.STATS_TABLE}/run_id={junk}"
    )
    assert _report_rows(spark, out) == before
    statstore.update_corpus_stats(
        spark,
        out,
        docs.withColumn("doc_id", F.col("doc_id") + 10_000_000),
        **KW,
    )
    r2 = statstore.compact_stats(spark, out, **KW)
    assert r2["compacted_runs"] == 2
    assert not os.path.exists(
        f"{out}/{statstore.STATS_TABLE}/run_id={junk}"
    )


def test_streaming_fold_ignores_foreign_rows_in_colliding_run_dir(
    spark, tmp_path
):
    """A fresh checkpoint incarnation restarts batch ids at 0, so its
    run_id can collide with an older incarnation's committed directory.
    The fold must take ONLY the current batch's docs from it — foreign
    rows must neither fold nor be mislabeled 'und'."""
    from enem_spark import htmlops as H
    from enem_spark.lineage import run_html_extraction
    from enem_spark.streaming import read_html_pages_stream, start_html_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = H.synth_html_pages(docs).persist()
    out = str(tmp_path / "out")
    stats = str(tmp_path / "stats")

    # incarnation 1 (NO profiling): batch 0 committed the whole corpus
    run_html_extraction(
        spark, pages, out, run_id="html_batch_000000000000"
    )

    # incarnation 2 (fresh checkpoint, profiling ON): its batch 0 holds
    # ONE already-committed page -> extraction no-ops, the colliding run
    # dir still holds the whole corpus
    one = pages.orderBy("doc_id").limit(1).persist()
    one_lang = one.collect()[0]["lang"]
    src = str(tmp_path / "src")
    one.write.parquet(src)
    q = start_html_stream(
        read_html_pages_stream(spark, src, watermark="10 seconds"),
        out,
        str(tmp_path / "ckpt2"),
        available_now=True,
        stats_dir=stats,
    )
    q.awaitTermination(300)
    pages.unpersist()
    one.unpersist()

    rep = statstore.corpus_stat_report(spark, stats).collect()
    assert {r.grp for r in rep} == {one_lang}
    assert sum(r.n_docs for r in rep) == 1

    # and the completeness probe sees the gap the old incarnation left
    n_folded = statstore.folded_doc_ids(spark, stats).count()
    assert n_folded == 1 and n_folded != pages.count()


def test_compaction_refuses_store_with_missing_run_dirs(spark, tmp_path):
    """A hand-pruned cursor table must stop a compaction before its
    commit: committing with no cursor frame would clear the cursor and
    hide every older run behind the compaction."""
    import shutil

    from enem_spark import lineage

    docs = _docs(spark)
    out = str(tmp_path / "s")
    for m in (0, 1):
        statstore.update_corpus_stats(
            spark, out, docs.filter(F.col("doc_id") % 2 <= m), **KW
        )
    before = lineage.committed_id_set(out)
    shutil.rmtree(f"{out}/{statstore.DOCS_TABLE}")
    with pytest.raises(ValueError, match="refusing to compact"):
        statstore.compact_stats(spark, out, **KW)
    assert lineage.committed_id_set(out) == before


def test_term_compaction_preserves_report_and_prunes_dirs(spark, tmp_path):
    """compact_terms: top_term_report is identical before/after, the three
    term tables are pruned to the single compaction run, and the cursor
    survives (full replay folds 0)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    out = str(tmp_path / "t")
    for m in (0, 1, 2):
        statstore.update_term_sketch(
            spark, out, docs.filter(F.col("doc_id") % 3 <= m), **TKW
        )
    before = sorted(
        tuple(x)
        for x in statstore.top_term_report(spark, out, k=7, **TKW).collect()
    )

    r = statstore.compact_terms(spark, out, **TKW)
    assert r["compacted_runs"] == 3
    assert r["run_id"] == statstore.term_run_id(
        TKW["depth"], TKW["width"], TKW["sample_mod"], 4, compaction=True
    )
    after = sorted(
        tuple(x)
        for x in statstore.top_term_report(spark, out, k=7, **TKW).collect()
    )
    assert after == before
    for table in (
        statstore.TERMS_TABLE,
        statstore.CANDS_TABLE,
        statstore.TERM_DOCS_TABLE,
    ):
        assert os.listdir(f"{out}/{table}") == [f"run_id={r['run_id']}"]
    assert statstore.update_term_sketch(spark, out, docs, **TKW)[
        "up_to_date"
    ]
    assert statstore.compact_terms(spark, out, **TKW)["compacted_runs"] == 0


def test_colliding_incarnation_mixed_batch_preserves_committed_rows(
    spark, tmp_path
):
    """If a fresh incarnation's batch 0 contains a NEW doc, the extraction
    must commit it under a suffix-derived run id — overwriting the old
    incarnation's html_batch_000000000000 dir would destroy committed
    rows. The stats fold covers both the new doc (from the new dir) and
    the batch's already-committed doc (healed from the base dir)."""
    from enem_spark import htmlops as H
    from enem_spark.lineage import committed_main_content, run_html_extraction
    from enem_spark.streaming import read_html_pages_stream, start_html_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = H.synth_html_pages(docs).persist()
    n_all = pages.count()
    out = str(tmp_path / "out")
    stats = str(tmp_path / "stats")
    run_html_extraction(spark, pages, out, run_id="html_batch_000000000000")

    # batch 0 of the new incarnation: one committed page + one NEW page
    old_one = pages.orderBy("doc_id").limit(1)
    new_one = old_one.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("url"), F.lit("?v=2")).alias("url"),
        "warc_ts",
        "html",
        "lang",
    )
    src = str(tmp_path / "src")
    old_one.unionByName(new_one).write.parquet(src)
    q = start_html_stream(
        read_html_pages_stream(spark, src, watermark="10 seconds"),
        out,
        str(tmp_path / "ckpt2"),
        available_now=True,
        stats_dir=stats,
    )
    q.awaitTermination(300)
    pages.unpersist()

    got = committed_main_content(spark, out)
    # every old committed row survived, plus the new doc
    assert got.count() == n_all + 1
    runs = {r.run_id for r in spark.read.parquet(f"{out}/runs").select("run_id").collect()}
    assert "html_batch_000000000000f000001" in runs
    # stats folded exactly the batch's two docs (new + healed old)
    assert statstore.folded_doc_ids(spark, stats).count() == 2


def test_cross_incarnation_refetch_serves_new_content(spark, tmp_path):
    """A fresh checkpoint incarnation restarts batch ids at 0, so its runs
    sort BELOW an older incarnation's later batches — run-id recency would
    serve the OLD extraction for a re-fetched url forever. The streaming
    fetch_log carries warc_ts, and the serving view ranks fetches by event
    time, so the re-fetch wins; a later re-delivery of the ORIGINAL fetch
    (older warc_ts, marker-only commit) must not flip it back."""
    from enem_spark import htmlops as H, icerun
    from enem_spark.lineage import run_html_extraction
    from enem_spark.streaming import read_html_pages_stream, start_html_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = H.synth_html_pages(docs).persist()
    out = str(tmp_path / "out")

    # incarnation 1 reached batch 5
    run_html_extraction(
        spark, pages, out, run_id="html_batch_000000000005",
        fetch_log=pages.select("url", "warc_ts", "doc_id"),
    )
    target = pages.orderBy("doc_id").limit(1).collect()[0]

    def stream(src_df, ckpt):
        src = str(tmp_path / f"src_{ckpt}")
        src_df.write.parquet(src)
        q = start_html_stream(
            read_html_pages_stream(spark, src, watermark="10 seconds"),
            out, str(tmp_path / ckpt), available_now=True,
        )
        q.awaitTermination(300)

    # incarnation 2, batch 0: the SAME url re-fetched with NEW content
    refetch = (
        pages.orderBy("doc_id").limit(1)
        .select(
            "doc_id", "url",
            (F.col("warc_ts") + F.expr("INTERVAL 30 DAYS")).alias("warc_ts"),
            F.concat(F.col("html"), F.lit(b"<p>conteudo novo v2</p>")).alias("html"),
            "lang",
        )
        .withColumn("doc_id", F.xxhash64("url", F.md5("html")))
    )
    stream(refetch, "ckpt2")
    row = (
        icerun.current_main_content(spark, out)
        .filter(F.col("url") == target["url"]).collect()
    )
    assert len(row) == 1 and row[0]["doc_id"] != target["doc_id"]

    # incarnation 3 re-delivers the ORIGINAL fetch: marker-only commit
    # (content already extracted), and the older warc_ts must NOT win
    stream(pages.orderBy("doc_id").limit(1), "ckpt3")
    row = (
        icerun.current_main_content(spark, out)
        .filter(F.col("url") == target["url"]).collect()
    )
    assert len(row) == 1 and row[0]["doc_id"] != target["doc_id"]
    pages.unpersist()


def test_crash_mid_compaction_then_restart_heals(spark, tmp_path):
    """A compaction that crashes AFTER writing its state+cursor dirs but
    BEFORE the marker append (the commit point) must leave the store fully
    functional: the uncommitted `..._{n}c` dirs are invisible to readers
    (reader rule), a replayed fold still reports up_to_date, and the
    RETRIED compaction derives the same run id and overwrites the orphan
    dirs rather than double counting."""
    docs = _docs(spark)
    out = str(tmp_path / "s")
    for m in (0, 1, 2):
        statstore.update_corpus_stats(
            spark, out, docs.filter(F.col("doc_id") % 3 <= m), **KW
        )
    before = _report_rows(spark, out)

    # simulate the crash: write exactly what compact_stats writes before
    # its commit point — the merged state and full cursor under the NEXT
    # compaction run id — and stop before the marker append. Plant a
    # poisoned value so a reader (or retry) that trusted the uncommitted
    # dir would be caught.
    crash_id = statstore.stats_run_id(P, S, 4, compaction=True)
    spark.createDataFrame(
        [("web", "count", 0, 10**12)],
        "grp string, sketch string, slot long, val long",
    ).write.mode("overwrite").parquet(
        f"{out}/{statstore.STATS_TABLE}/run_id={crash_id}"
    )
    spark.createDataFrame(
        [(-1,)], "doc_id long"
    ).write.mode("overwrite").parquet(
        f"{out}/{statstore.DOCS_TABLE}/run_id={crash_id}"
    )

    # restart: readers see only committed runs — report unchanged,
    # cursor intact (replay folds nothing, commits nothing)
    assert _report_rows(spark, out) == before
    assert statstore.update_corpus_stats(spark, out, docs, **KW)["up_to_date"]

    # the retried compaction reuses run number 4, overwriting the orphan
    # dirs with the real merged state; report stays bit-identical
    r = statstore.compact_stats(spark, out, **KW)
    assert r["run_id"] == crash_id and r["compacted_runs"] == 3
    assert _report_rows(spark, out) == before
    for table in (statstore.STATS_TABLE, statstore.DOCS_TABLE):
        assert os.listdir(f"{out}/{table}") == [f"run_id={crash_id}"]
    # and the healed store keeps folding increments exactly
    statstore.update_corpus_stats(
        spark,
        out,
        docs.withColumn("doc_id", F.col("doc_id") + 10_000_000),
        **KW,
    )
    fresh = str(tmp_path / "fresh")
    statstore.update_corpus_stats(
        spark,
        fresh,
        docs.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
        ),
        **KW,
    )
    assert _report_rows(spark, out) == _report_rows(spark, fresh)
