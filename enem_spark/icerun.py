"""Checkpoint-resumable extraction over an icetable of CC-style pages.

This is the north rule's input end-to-end: the main-content pipeline
(`lineage.run_html_extraction`) fed from an Iceberg-style table of
(url, warc_ts, html, text, lang) pages instead of a flat parquet dir.
Two mechanisms make a steady-state tail run cost O(delta), not O(corpus),
at any table size:

  * **Manifest-level incremental scan.**  Each committed extraction run
    records the snapshot sequence it processed (encoded in its run_id);
    the next invocation plans only the data files appended since — pure
    driver-side metadata work (`IceTable.plan_incremental`), so a re-crawl
    append over a 10^12-row table is scanned at the size of the append.
  * **Content-addressed units of work.**  doc_id = xxhash64(url, md5(html))
    — all JVM-side, no Python crossing.  A re-fetch with identical bytes is
    the same unit and the exactly-once anti-join skips it; a changed page
    is a new unit and is re-extracted.  This keeps overwrite snapshots
    (which invalidate the file-level delta) exact: the full file set is
    re-SCANNED, but only changed content is re-EXTRACTED.

Within one run, a url fetched more than once (old fetch + re-fetch in the
same snapshot) is reduced to its latest fetch before extraction
(`_latest_per_url`), matching the reference's one-text-per-url contract.
Across runs the serving view `current_main_content` picks, per url, the
row of the highest committed ice run — which is the latest fetch under the
crawl invariant that re-fetches carry later warc_ts than every earlier
snapshot's fetch of that url (true of the staged crawls and of CC).

Run ids are ``ice{sequence:012d}`` so lexicographic order equals snapshot
order (sequences must be non-negative); a crashed attempt re-runs under
the same run_id and overwrites per the lineage protocol.  A ``full=True``
re-plan at an already-committed tip gets ``ice{seq:012d}f{n:06d}`` — a
fresh id (never overwrite a COMMITTED run's outputs) that still sorts
between its sequence and the next for the serving view's recency order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from . import lineage
from .sources.icetable import IceTable

_RUN_PREFIX = "ice"


def run_id_for(sequence: int) -> str:
    if sequence < 0:
        raise ValueError("ice run sequences must be non-negative")
    return f"{_RUN_PREFIX}{sequence:012d}"


def _ice_sequences(run_ids) -> list[int]:
    """THE ice run-id parse (prefix + all-digits; f-suffixed recovery ids
    excluded by the digit check) — single-sourced so the watermark the
    incremental plan trusts cannot desync between call sites."""
    return [
        int(i[len(_RUN_PREFIX) :])
        for i in run_ids
        if i.startswith(_RUN_PREFIX) and i[len(_RUN_PREFIX) :].isdigit()
    ]


def last_extracted_sequence(spark: SparkSession, out_dir: str) -> int | None:
    """Highest snapshot sequence with a COMMITTED ice run, None if none.

    The runs table is one tiny object per run; reading it is O(#runs)
    driver-side object reads — the same class of metadata work as reading
    a version file, not a data scan."""
    return max(_ice_sequences(lineage.committed_id_set(out_dir)), default=None)


_DUP_BROADCAST_LIMIT = 2_000_000  # urls; ~100 MB broadcast worst case


def _window_latest(pages: DataFrame) -> DataFrame:
    w = W.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.md5("html").asc()
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _latest_per_url(pages: DataFrame) -> DataFrame:
    """One row per url: the latest fetch (ties broken by content hash so
    reruns are deterministic).

    The naive plan — a row_number window over url — shuffles every html
    payload, and measured 2->8-core scaling of the whole job collapsed to
    ~0.57 because the wide shuffle is I/O-bound while extraction is
    CPU-bound. Multi-fetch urls are rare in a crawl snapshot, so instead:

      1. find duplicated urls with a NARROW aggregate (the scan reads only
         the url column — parquet column pruning);
      2. route ONLY those rows through the window (tiny shuffle);
      3. pass unique-url rows through untouched via a broadcast anti-join
         — html bytes never leave their scan partitions.

    If there are no duplicates the input is returned as-is (zero shuffle,
    zero extra plan). If the duplicated-url set is too large to broadcast
    (adversarial input), fall back to the full window — correctness never
    depends on the fast path. The dup probe costs one narrow count action;
    at any realistic scale that is orders cheaper than shuffling payloads."""
    dups = (
        pages.groupBy("url")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("url")
    )
    n_dups = dups.count()
    if n_dups == 0:
        return pages
    if n_dups > _DUP_BROADCAST_LIMIT:
        return _window_latest(pages)
    winners = _window_latest(
        pages.join(F.broadcast(dups), "url", "left_semi")
    )
    uniques = pages.join(F.broadcast(dups), "url", "left_anti")
    return uniques.unionByName(winners)


def _mark_noop_run(spark: SparkSession, out_dir: str, run_id: str) -> None:
    """Commit a marker-only run: advances the sequence watermark when a
    snapshot added files but no new content units (pure duplicate append).
    Every html table is mapped to None, so a CRASHED prior attempt's dirs
    under the same run_id are cleared rather than committed-visible."""
    lineage.commit_run(spark, out_dir, run_id, dict.fromkeys(lineage.HTML_TABLES))


def run_html_extraction_ice(
    spark: SparkSession,
    table_path: str,
    out_dir: str,
    with_anchors: bool = False,
    full: bool = False,
    normalize: bool = False,
    mime_filter: bool = False,
) -> dict:
    """One resumable main-content extraction run over the icetable's
    current snapshot.  Plans incrementally from the last committed ice
    run's sequence unless ``full`` (or no prior run) — see module
    docstring for the exactness argument.  Returns the lineage summary
    plus the manifest-level scan report.

    ``normalize`` routes payloads through charset.normalize_encoding
    (WHATWG-style sniff -> clean UTF-8 re-encode) before extraction, for
    crawl slices that are not UTF-8-clean. The content address is computed
    on the RAW bytes first — a page's identity is what was fetched, so
    flipping ``normalize`` between runs never changes which units count as
    already-extracted. The extra Arrow crossing is map-side only (no new
    shuffle) and is skipped entirely when the flag is off.

    ``mime_filter`` drops non-text payloads (PDFs, gzip, images shipped
    under a crawl's html column — charset.mime_expr magic-byte triage)
    before extraction: a pure whole-stage-codegen filter below the UDF, no
    extra action or crossing. Filtered units are never extracted and never
    marked processed, but the snapshot watermark STILL advances — an
    incremental run with the flag off plans only newer snapshots and will
    NOT re-present them; recovering filtered units needs an explicit
    ``full=True`` re-plan (the anti-join then extracts exactly the
    never-processed ones). Choose the flag per corpus, not per run."""
    table = IceTable(spark, table_path)
    # watermark tip = the MAIN-visible max, never the global max: an
    # unpublished WAP branch carries higher sequences whose rows a main
    # incremental plan cannot see — a global-max watermark would commit a
    # noop marker past them, and after publish the next run would read
    # since >= tip as up_to_date, silently never extracting the published
    # delta (the CLAUDE.md published-sequence invariant)
    tip = table.published_sequence()
    committed_ids = lineage.committed_id_set(out_dir)
    committed_seq = max(_ice_sequences(committed_ids), default=None)
    since = None if full else committed_seq
    run_id = run_id_for(tip)
    if full and committed_seq is not None and committed_seq >= tip:
        # full re-plan at an ALREADY-COMMITTED tip (the documented recovery
        # flow for mime-filtered units): run_id_for(tip) names a committed
        # run, and reusing it would overwrite that run's committed side
        # outputs in place (the overwrite-dir protocol is for retrying
        # CRASHED attempts only). Derive a distinct recovery id that still
        # sorts between ice{tip} and ice{tip+1} so the serving view's
        # run-recency order stays correct; deriving n from COMMITTED
        # recovery runs keeps a crashed recovery attempt's retry on the
        # same id (deterministic overwrite, per the lineage protocol).
        run_id = lineage.derive_replay_run_id(committed_ids, run_id)

    if since is not None and since >= tip:
        return {
            "run_id": run_id,
            "sequence": tip,
            "input_pages": 0,
            "main_rows": 0,
            "up_to_date": True,
        }
    if since is None:
        kept, dels, scan = table._plan_entries()
    else:
        kept, dels, scan = table._plan_incremental_entries(from_seq=since)
    # read the plan we already have — read()/read_incremental() would walk
    # the snapshot manifests a second time for the identical file list.
    # Entry-level (not path-level) so the read applies equality deletes:
    # a taken-down page must never be re-extracted by a rescan.
    pages = table._read_entries(kept, dels, None)

    work = _latest_per_url(pages.select("url", "warc_ts", "html")).select(
        F.xxhash64("url", F.md5("html")).alias("doc_id"), "url", "html"
    ).persist()
    try:
        # fetch_log: (url, doc_id) of THIS run's latest fetch per url —
        # written for EVERY unit, including ones whose content was already
        # extracted by an older run. Content addressing makes the resume
        # anti-join skip those, so without this log a url whose content
        # REVERTS to a previously-seen version (A -> B -> A again) would be
        # served forever as B: the serving view's run-recency proxy only
        # sees extraction runs, not fetches. Written BEFORE the run's
        # commit marker (same overwrite-dir + committed-gate protocol as
        # every side output), so a crash here leaves an invisible orphan
        # that the deterministic run_id retry overwrites.
        lineage.write_run_table(
            out_dir, "fetch_log", run_id, work.select("url", "doc_id")
        )
        extract_in = work
        if mime_filter:
            from .charset import mime_expr

            extract_in = extract_in.filter(
                mime_expr(F.col("html")).startswith("text/")
            )
        if normalize:
            from .charset import normalize_encoding

            extract_in = normalize_encoding(extract_in).select(
                "doc_id", "url", "html"
            )
        summary = lineage.run_html_extraction(
            spark, extract_in, out_dir, run_id=run_id, with_anchors=with_anchors
        )
    finally:
        work.unpersist()
    if summary["input_pages"] == 0 and (committed_seq is None or committed_seq < tip):
        # scanned files but every unit was already extracted: commit the
        # watermark so the next tail run plans an empty delta (skipped when
        # the tip is already committed — e.g. a forced full re-plan — so a
        # marker row is never duplicated)
        _mark_noop_run(spark, out_dir, run_id)
    summary["sequence"] = tip
    summary["scan"] = scan
    summary["up_to_date"] = False
    return summary


_TAKEDOWN_PREFIX = "takedown"


def apply_takedown(
    spark: SparkSession,
    table_path: str,
    out_dir: str,
    keys: DataFrame,
    sequence: int,
) -> dict:
    """End-to-end url takedown: the table-side merge-on-read delete
    (`IceTable.delete_rows` — no data rewrite, sequence-scoped so later
    re-crawls of the url are new documents) PLUS a committed ``takedowns``
    url log under out_dir that `current_main_content` anti-joins — without
    the log, extraction side outputs derived from the page BEFORE the
    takedown would be served forever (they are downstream tables with
    their own lineage; the table delete alone cannot reach them).

    ``keys`` must carry a ``url`` column (the serving view's key).  Crash
    safety: the table delete commits first; the log write + runs marker
    follow the lineage overwrite-dir protocol, and a re-run with the same
    ``sequence`` skips the already-committed table delete (guarded on the
    snapshot log) and re-commits only what is missing — idempotent."""
    if "url" not in keys.columns:
        raise ValueError("takedown keys need a url column")
    table = IceTable(spark, table_path)
    already = any(
        s["operation"] == "rowdelete" and s["sequence"] == sequence
        for s in table.snapshots()
    )
    summary: dict = {"sequence": sequence}
    if not already:
        summary["table_delete"] = table.delete_rows(keys, sequence=sequence)
    run_id = f"{_TAKEDOWN_PREFIX}{sequence:012d}"
    if run_id not in lineage.committed_id_set(out_dir):
        lineage.commit_run(
            spark, out_dir, run_id, {"takedowns": keys.select("url").dropDuplicates()}
        )
    summary["run_id"] = run_id
    return summary


def current_main_content(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Serving view: per url, the extraction of its LATEST FETCH.

    When the out_dir has a committed fetch_log (every ice run writes one),
    the view is latest-fetch-per-url (fetch_log, run recency) joined to the
    committed main_content by content address — this serves correctly even
    when a url's content REVERTS to a previously-extracted version: the
    re-fetch commits only a fetch_log row (the extraction was skipped as
    already done), and the join resolves it back to the old run's
    extraction. A url whose latest fetch was never extracted (e.g. dropped
    by mime_filter) has no current row — its current content is not text.

    Committed takedowns (`apply_takedown`) are anti-joined LAST: a
    taken-down url is never served, whatever runs extracted it — the
    takedown list is small by contract, so the anti-join broadcasts.

    Without a fetch_log (flat html runs, pre-log dirs) the view falls back
    to the run-recency proxy over main_content itself, which cannot see
    extraction-skipped re-fetches."""
    committed = lineage.committed_id_set(out_dir)
    mc = lineage.committed_table(spark, out_dir, "main_content", committed)
    if mc is None:
        return None
    gone = lineage.committed_table(spark, out_dir, "takedowns", committed)

    def _served(df: DataFrame) -> DataFrame:
        if gone is None:
            return df
        return df.join(
            F.broadcast(gone.select("url").dropDuplicates()), "url", "left_anti"
        )

    # one schema for both log kinds: stream logs carry warc_ts, ice logs
    # do not and read it as NULL — without the given schema, a dir holding
    # both would let Spark pick one footer's schema at random
    fl = lineage.committed_table(
        spark, out_dir, "fetch_log", committed,
        schema="url string, warc_ts timestamp, doc_id bigint, run_id string",
    )
    if fl is not None:
        # stream fetch logs carry event time: micro-batch run ids are NOT
        # monotonic across checkpoint incarnations (a replay-suffixed
        # batch-0 id sorts below an older incarnation's batch-5), so
        # recency is the fetch's own warc_ts, nulls last so event-time-
        # stamped fetches serve preferentially; run_id breaks exact ties
        # and orders ice logs (NULL warc_ts), whose snapshot-sequenced ids
        # ARE monotonic.
        w = W.partitionBy("url").orderBy(
            F.col("warc_ts").desc_nulls_last(), F.col("run_id").desc()
        )
        latest = (
            fl.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("url", "doc_id")
        )
        return _served(latest.join(mc.drop("url"), "doc_id", "inner"))
    w = W.partitionBy("url").orderBy(F.col("run_id").desc())
    return _served(
        mc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# scheme case is insignificant (RFC 3986 §3.1) and crawl logs do carry
# mixed-case schemes — a lowercase-only match would silently drop those
# fetches from the politeness audit and under-count the real rate. The
# DuckDB twin in __spark_entry__.py spells the same character classes.
_URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)"


def fetch_politeness(history: DataFrame) -> DataFrame:
    """Per-host crawl-politeness audit from observed fetch events.

    ``history``: one row per FETCH — (url, warc_ts). Emits, per host:

      n_fetches        fetch events against the host
      n_urls           distinct urls fetched
      first_s/last_s   observation span, epoch seconds
      peak_per_minute  max fetches landing in any one wall-clock minute —
                       THE politeness number: a crawler promising <= k
                       req/min/host must keep this under k

    Scale: two aggregations — (host, minute) then host — both shuffling
    narrow rows on near-uniform keys, joined host-to-host; payload bytes
    are never read (column pruning keeps the scan at url+warc_ts)."""
    base = history.select(
        F.regexp_extract("url", _URL_HOST_RE, 1).alias("host"),
        F.col("warc_ts").cast("long").alias("ts_s"),
        "url",
    ).filter(F.col("host") != "")
    per_host = base.groupBy("host").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.count_distinct("url").cast("long").alias("n_urls"),
        F.min("ts_s").alias("first_s"),
        F.max("ts_s").alias("last_s"),
    )
    peak = (
        base.groupBy("host", F.floor(F.col("ts_s") / 60).alias("_minute"))
        .agg(F.count("*").alias("_n"))
        .groupBy("host")
        .agg(F.max("_n").cast("long").alias("peak_per_minute"))
    )
    return per_host.join(peak, "host")


def recrawl_priority(history: DataFrame) -> DataFrame:
    """Crawl-scheduling signal from observed fetch history.

    ``history``: one row per FETCH event — (url, warc_ts, digest), digest
    identifying the fetched content (e.g. md5 of the payload). Emits
    per-url change statistics and a re-fetch priority class — the
    Cho & Garcia-Molina re-crawl scheduling idea ("Effective Page Refresh
    Policies for Web Crawlers", TODS 2003) reduced to its observable core:
    pages seen changing between past fetches are re-fetched sooner.

      n_fetches     fetch events observed for the url
      n_versions    distinct contents across those fetches
      change_ratio  (n_versions-1)/(n_fetches-1); NULL until 2 fetches
      last_fetch_s  most recent fetch, epoch seconds
      priority      hot (ratio>=0.5) / warm (>0) / cold (0) / unknown (<2)

    Scale: ONE groupBy(url) shuffle on a near-uniform key; the history
    frame is the union of manifest-planned snapshot reads of the icetable
    (pinned as_of + incremental), so building it never rescans the corpus
    once per snapshot."""
    g = history.groupBy("url").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.count_distinct("digest").cast("long").alias("n_versions"),
        F.max("warc_ts").cast("long").alias("last_fetch_s"),
    )
    ratio = F.when(
        F.col("n_fetches") > 1,
        F.round((F.col("n_versions") - 1) / (F.col("n_fetches") - 1), 6),
    )
    out = g.withColumn("change_ratio", ratio)
    priority = (
        F.when(F.col("n_fetches") <= 1, "unknown")
        .when(F.col("change_ratio") >= 0.5, "hot")
        .when(F.col("change_ratio") > 0, "warm")
        .otherwise("cold")
    )
    return out.select(
        "url",
        "n_fetches",
        "n_versions",
        "change_ratio",
        "last_fetch_s",
        priority.alias("priority"),
    )
