"""Structured Streaming ingestion of a pages stream (SURVEY.md §7.6).

The reference is batch-only (one PDF per `extract_pdf` call,
enem_pdf_extractor.py:933); a web-scale engine additionally needs to ingest
pages as they are crawled. Spark-first design:

    readStream (file source over the pages layout, schema = input_hint)
     -> _deduped: url dedup within a warc_ts watermark  # crawler re-fetch
     -> foreachBatch: stage, release settled documents, lineage.run_extraction

``foreachBatch`` is the right primitive here because the extraction plan
contains a window + applyInPandas + broadcast join — far beyond what a
continuous streaming plan supports — and it gives exactly-once appends per
micro-batch via the checkpoint dir. Within each micro-batch the work is the
proven batch plan under the run protocol, so streaming adds no second
implementation of the semantics.

The unit of correctness is the document (X3 numbering runs across a
document's pages), so `start_document_stream` is the one ingestion mode:
pages accumulate in a staging table; a document is released for
extraction once its newest page is older than the event-time completeness
horizon (all pages of a doc are assumed to arrive within
`completeness_delay` of each other — the same contract a watermark gives a
windowed aggregate). Released documents run through
`lineage.run_extraction`, whose processed_docs anti-join makes the release
exactly-once even though a document's pages appear in the staging table
across many batches. Whole-document delivery (the writer emits one file
per document) is the case where every document settles in its own batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import runfs
from .extract import ExtractorConfig
from .sources.documents_bridge import PAGES_SCHEMA


def _deduped(stream: DataFrame, watermark: str) -> DataFrame:
    """Crawl-dedup on url: `dropDuplicatesWithinWatermark` keeps state
    only inside the event-time horizon — bounded state at 10^12-document
    scale, unlike a global dropDuplicates."""
    return stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def _file_stream(
    spark: SparkSession,
    schema,
    input_dir: str,
    max_files_per_trigger: int | None,
    watermark: str,
) -> DataFrame:
    """Parquet file-source stream of ``schema`` rows, url-deduped."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _deduped(reader.parquet(input_dir), watermark)


def _start(
    stream: DataFrame, process_batch, checkpoint_dir: str, available_now: bool
):
    """Start ``process_batch`` as the stream's foreachBatch sink; returns
    the StreamingQuery. foreachBatch is at-least-once: each caller makes
    its batch idempotent under replay."""
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_pages_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """File-source stream of pages rows with crawl-dedup on url."""
    return _file_stream(
        spark, PAGES_SCHEMA, input_dir, max_files_per_trigger, watermark
    )


def stateful_user_totals(events_stream: DataFrame):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (event count, value total) maintained in managed state
    across micro-batches, emitted on every update.

    The primitive for streaming aggregations that built-in windowed aggs
    cannot express (arbitrary per-key state transitions — here a simple
    running total, in production e.g. per-domain crawl budgets or sessions
    with custom expiry). State lives in the state store (checkpointed,
    partitioned by key), so the operator scales horizontally like any
    keyed stream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, float(total)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 6)],
            }
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_sessionize(events_stream: DataFrame, gap_minutes: int = 30):
    """Stateful gap-session detection over an event stream: the streaming
    twin of textops.sessionize. A session CLOSES when a later event of the
    same user arrives more than ``gap_minutes`` after its last event, or
    when the watermark passes the gap with no new events (event-time state
    timeout) — each closed session is emitted exactly once as
    (user_id, session_seq, session_start, session_end, n_events).

    applyInPandasWithState + EventTimeTimeout: per-user state is one open
    session plus the cumulative session_seq counter (the counter survives
    timeouts so seq never repeats, matching the batch twin's numbering),
    so state is O(distinct users) x 4 small fields, horizontally
    partitioned by the grouping key like any keyed stream. The input must
    carry a watermark on ts."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "user_id long, session_seq int, session_start timestamp, "
        "session_end timestamp, n_events long"
    )
    state_schema = "start timestamp, last timestamp, n long, seq int"
    gap = pd.Timedelta(minutes=gap_minutes)

    # Arrow hands the UDF tz-NAIVE wall times in the session timezone, but
    # getCurrentWatermarkMs()/setTimeoutTimestamp speak true epoch ms — a
    # naive Timestamp.timestamp() call reads the wall time as UTC, which in
    # a non-UTC session drops on-time events as late and arms timeouts
    # hours early. Capture the session tz driver-side and localize before
    # every epoch conversion (the repo's session factory pins UTC, but the
    # operator must not depend on that).
    tz = events_stream.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")

    def epoch_ms(ts) -> int:
        if ts.tzinfo is None:
            # explicit DST policy: the fall-back hour's ambiguous wall
            # times read as the FIRST occurrence and spring-forward gap
            # times shift forward — a bare tz_localize raises Ambiguous/
            # NonExistentTimeError inside the state UDF and kills the
            # whole query on such events in non-UTC sessions
            ts = ts.tz_localize(tz, ambiguous=True, nonexistent="shift_forward")
        return int(ts.timestamp() * 1000)

    def update(key, pdfs, state):
        closed = []
        if state.hasTimedOut:
            start, last, n, seq = state.get
            closed.append((key[0], seq, start, last, n))
            # keep the seq counter (drop only the open session): removing
            # state would restart session_seq at 1 after a timeout,
            # emitting duplicate seq values and diverging from the batch
            # twin's cumulative per-user numbering. Counter-only state is
            # O(distinct users) x 4 fields — the bounded-state story holds.
            state.update((None, None, 0, seq))
        else:
            start, last, n, seq = (
                state.get if state.exists else (None, None, 0, 0)
            )
            events = pd.concat(list(pdfs))
            wm_ms = state.getCurrentWatermarkMs()
            for ts in events.sort_values("ts")["ts"]:
                if epoch_ms(ts) < wm_ms:
                    continue  # later than the watermark allows: dropped,
                    # like every watermarked stateful operator
                if last is not None and ts < last:
                    # late-but-inside-watermark arrival below the open
                    # session's frontier: absorb without moving it backward
                    n += 1
                    continue
                if last is not None and (ts - last) > gap:
                    closed.append((key[0], seq, start, last, n))
                    start, n = None, 0
                if start is None:
                    start, seq = ts, seq + 1
                n += 1
                last = ts
            state.update((start, last, n, seq))
            # event-time timeout: fire once the watermark passes last+gap.
            # Clamped: a user whose events are older than the global stream
            # frontier can have last+gap already BEHIND the watermark (the
            # API rejects that) — the session is then due immediately, so
            # arm the earliest allowed instant. `last` can be None when a
            # fresh (or just-timed-out) key's events were ALL below the
            # watermark: nothing is open, so nothing to arm (arming off
            # None crashed the worker and killed the query).
            if last is not None:
                target = epoch_ms(last) + gap_minutes * 60_000
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(target, wm + 1))
        yield pd.DataFrame(
            closed,
            columns=[
                "user_id",
                "session_seq",
                "session_start",
                "session_end",
                "n_events",
            ],
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def windowed_page_counts(
    pages_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window ingestion metrics: pages and distinct-ish
    volume per (window, lang). The standard late-data pattern — rows later
    than `watermark` past the max seen event time are dropped, so state is
    bounded; append-mode emits a window only once it is final.

    This is the monitoring side-channel of the ingestion pipeline (crawl
    volume per hour per language), not an extraction stage."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
            "n_chars",
        )
    )


def _read_staged(
    spark: SparkSession, staging: str, gb_store: str
) -> DataFrame | None:
    """Union of the PV staging table and the GB dimension store, batch_id
    dropped. Loaded per-root (Spark refuses multi-root partition
    discovery) — None when neither holds a batch. A root is read only when
    `lineage._exists` finds committed data files under it: a staging dir
    whose batches were all compacted away, or one holding only a crashed
    attempt's _temporary leftovers, would wedge the parquet reader in
    UNABLE_TO_INFER_SCHEMA."""
    from .lineage import _exists

    frames = [
        spark.read.parquet(runfs.spark_path(p)).drop("batch_id")
        for p in (staging, gb_store)
        if _exists(p)
    ]
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _next_flush_run_id(out_dir: str) -> str:
    """Unique flush run_id per invocation: ``flush_<n>`` with n = 1 + the
    highest committed flush index. Reusing a constant 'flush' id would make
    a second streaming invocation over the same --output (the supported
    resume flow) overwrite the first flush's COMMITTED questions/
    processed_docs directories while the old commit marker still stands —
    silently losing its questions and un-marking its documents. Only
    COMMITTED ids advance the counter: a flush that crashed pre-commit is
    correctly replayed under the same id (overwrite semantics)."""
    import re

    from .lineage import committed_id_set

    last = -1
    for run_id in committed_id_set(out_dir):
        m = re.fullmatch(r"flush(?:_(\d+))?", run_id)
        if m:
            last = max(last, int(m.group(1) or 0))
    return f"flush_{last + 1}"


def flush_staging(
    spark: SparkSession,
    cfg: ExtractorConfig,
    out_dir: str,
    run_id: str | None = None,
) -> dict | None:
    """End-of-stream flush for `start_document_stream`: extract every staged
    document regardless of the completeness horizon (the stream is finished,
    so nothing newer can arrive). Exactly-once still holds via the
    processed_docs anti-join."""
    from .lineage import run_extraction

    staging = f"{out_dir}/staging"
    gb_store = f"{out_dir}/gb_store"
    staged = _read_staged(spark, staging, gb_store)
    if staged is None:
        return None
    staged = staged.select(*[f.name for f in PAGES_SCHEMA.fields])
    if run_id is None:
        run_id = _next_flush_run_id(out_dir)
    return run_extraction(spark, staged, cfg, out_dir, run_id=run_id)


def compact_staging(spark: SparkSession, out_dir: str) -> int:
    """Bound the staging table for live tails: delete ``batch_id=`` dirs
    that no longer hold any LIVE page. A staged page is live iff it is a
    pt-language page that the pipeline could still need:

      * a PV page of a document NOT yet in committed processed_docs, or
      * an unresolved-kind page whose url is NOT yet committed-quarantined,
      * (upgrade safety) a GB page still sitting in staging from before the
        gb_store split — answer keys must survive compaction.

    Non-pt pages are dead on arrival (run_extraction filters them). GB
    pages now live in ``gb_store`` (a persistent, tiny dimension store that
    is never compacted), so at steady state the staging footprint is
    O(unsettled PV documents), not O(stream lifetime). Deletion is safe
    against foreachBatch replays: a replayed batch rewrites its dir with
    identical content (overwrite mode) and the next compaction re-drops it.

    Deletes and listings run on the store's runfs control plane, so the
    decision logic (one Spark aggregate) and the cleanup are both
    storage-agnostic. Returns the number of directories dropped."""
    from .lineage import committed_id_set, committed_table, processed_doc_ids

    fs = runfs.fs_for(out_dir)
    staging = f"{out_dir}/staging"
    batch_dirs = [
        d for d in fs.list_names(staging) if d.startswith("batch_id=")
    ]
    if not batch_dirs:
        return 0

    from .extract import with_url_metadata

    staged = spark.read.parquet(
        runfs.spark_path(staging)
    )  # batch_id from partition dirs
    live = with_url_metadata(staged.filter(F.col("lang") == "pt"))
    committed = committed_id_set(out_dir)
    # committed-quarantined urls are dead regardless of kind: a PV url with
    # a broken contract (bad color/year) never reaches processed_docs, so
    # without this filter it would pin its staging dir forever
    qurls = committed_table(spark, out_dir, "quarantine", committed)
    if qurls is not None:
        live = live.join(qurls.select("url"), "url", "left_anti")
    pv_live = live.filter(F.col("kind") == "PV")
    done = processed_doc_ids(spark, out_dir, "string", committed)
    if done is not None:
        pv_live = pv_live.join(done, "doc_id", "left_anti")
    unk_live = live.filter(F.col("kind").isNull())
    gb_live = live.filter(F.col("kind") == "GB")
    live_batches = {
        str(r["batch_id"])
        for r in pv_live.select("batch_id")
        .unionByName(unk_live.select("batch_id"))
        .unionByName(gb_live.select("batch_id"))
        .distinct()
        .collect()
    }
    dropped = 0
    for d in batch_dirs:
        if d.split("=", 1)[1] not in live_batches:
            fs.delete_prefix(f"{staging}/{d}")
            dropped += 1
    return dropped


def start_document_stream(
    pages_stream: DataFrame,
    cfg: ExtractorConfig,
    out_dir: str,
    checkpoint_dir: str,
    completeness_delay_s: int = 0,
    available_now: bool = True,
    compact: bool = True,
    key_grace_s: int | None = None,
):
    """Page-at-a-time ingestion with event-time document-completeness release.

    Each micro-batch appends to a staging table. A PV document is *settled*
    when `max(warc_ts)` over its staged pages is at least
    ``completeness_delay_s`` older than the global max event time seen — the
    event-time analogue of a watermark, driven entirely by data (no wall
    clock, so replays are deterministic). Settled documents plus all GB
    answer-key pages feed `lineage.run_extraction`; its processed_docs
    anti-join guarantees each document extracts exactly once no matter how
    many batches its pages straddled. With ``completeness_delay_s=0`` every
    staged document settles each batch (right for availableNow catch-up
    runs; use a positive delay for live tailing).

    ``key_grace_s`` (default: ``completeness_delay_s``) guards against the
    answer key ARRIVING AFTER its documents: exactly-once means a document
    extracted with a missing key is never revisited, so a settled document
    whose (year, day, color) has no staged GB page is held back for an
    extra ``key_grace_s`` of event time before being released with the
    MISSING_ANSWER literal (the reference's own no-key behavior)."""
    from .lineage import committed_id_set, derive_replay_run_id, run_extraction

    staging = f"{out_dir}/staging"
    gb_store = f"{out_dir}/gb_store"
    # per-incarnation token: batch ids restart at 0 under a fresh
    # checkpoint, so raw batch_id staging dirs would let a new
    # incarnation's batch 0 overwrite an old incarnation's still-unsettled
    # staged pages and its answer-key store — silent, unrecoverable loss.
    # Same-incarnation crash replays reuse the token (idempotent
    # overwrite); old incarnations' dirs stay readable (the readers glob
    # every batch dir and drop the key).
    import uuid as _uuid

    incarnation = _uuid.uuid4().hex[:8]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one scan for the whole batch: the kind split + two isEmpty
        # probes + two writes below are four actions over this frame,
        # and unpersisted each would re-read the micro-batch's source
        # files (persist-with-owner: released in the finally)
        batch_df = batch_df.persist()
        try:
            _process_document_batch(spark, batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _process_document_batch(
        spark: SparkSession, batch_df: DataFrame, batch_id: int
    ) -> None:
        if not batch_df.isEmpty():
            # per-batch overwrite directories: foreachBatch is at-least-once,
            # and a blind append would duplicate every page of the batch on
            # replay — page-level duplicates corrupt the numbering window.
            # GB (answer-key) pages go to a separate persistent gb_store so
            # staging compaction never has to choose between bounding the
            # table and keeping the key dimension available to future docs.
            from .extract import url_kind

            # single-sourced kind derivation: gb_store routing can never
            # disagree with quarantine routing or the release gate
            is_gb = url_kind(F.col("url")).eqNullSafe("GB")
            gb_batch = batch_df.filter(is_gb)
            rest = batch_df.filter(~is_gb)
            if not gb_batch.isEmpty():
                gb_batch.write.mode("overwrite").parquet(
                    runfs.spark_path(
                        f"{gb_store}/batch_id={incarnation}-{batch_id}"
                    )
                )
            if not rest.isEmpty():
                rest.write.mode("overwrite").parquet(
                    runfs.spark_path(
                        f"{staging}/batch_id={incarnation}-{batch_id}"
                    )
                )

        staged = _read_staged(spark, staging, gb_store)
        if staged is None:
            return
        # ONE url-contract derivation for the whole engine: reuse
        # extract.with_url_metadata (doc_id/page_idx/year/day/color/kind)
        # so the release gate can never disagree with quarantine routing
        from .extract import with_url_metadata

        meta = with_url_metadata(staged)
        # the horizon is the global max event time seen (GB arrivals advance
        # the clock too — event time is one stream, not per-kind)
        horizon = meta.agg(F.max("warc_ts")).first()[0]
        if horizon is None:
            return
        cutoff = F.lit(horizon) - F.expr(f"INTERVAL {completeness_delay_s} SECONDS")
        # keyless-release grace: defaulting it to a ZERO completeness
        # delay (the availableNow catch-up default) would bake
        # MISSING_ANSWER irreversibly whenever a GB file lands one
        # trigger after its PV docs — exactly-once never revisits them.
        # So with delay 0 the default HOLDS keyless docs (the end-of-
        # stream flush extracts them with every key that arrived); an
        # explicit key_grace_s keeps full control.
        grace = completeness_delay_s if key_grace_s is None else key_grace_s
        hold_keyless = key_grace_s is None and completeness_delay_s == 0
        key_cutoff = F.lit(horizon) - F.expr(
            f"INTERVAL {completeness_delay_s + grace} SECONDS"
        )
        pv_docs = (
            meta.filter(F.col("kind") == "PV")
            .groupBy("doc_id")
            .agg(
                F.max("warc_ts").alias("newest"),
                F.max("year").alias("year"),  # constant per doc
                F.max("day").alias("day"),
                F.max("color").alias("color"),
            )
        )
        keys_avail = (
            meta.filter(F.col("kind") == "GB")
            .select("year", "day", "color")
            .distinct()
        )
        # key present -> release at the completeness horizon; key absent ->
        # hold for key_grace_s more event time, then release anyway (the
        # reference emits its MISSING_ANSWER literal when the key is gone)
        settled = pv_docs.join(
            keys_avail, ["year", "day", "color"], "left_semi"
        ).filter(F.col("newest") <= cutoff).select("doc_id")
        if not hold_keyless:
            settled = settled.unionByName(
                pv_docs.join(keys_avail, ["year", "day", "color"], "left_anti")
                .filter(F.col("newest") <= key_cutoff)
                .select("doc_id")
            )
        # no broadcast hint — the settled set is unbounded over a stream's
        # lifetime; AQE broadcasts while small.
        # unresolved-kind pages ride along every batch: run_extraction
        # quarantines them (committed), which is what lets compact_staging
        # eventually drop their dirs — excluding them here would leave them
        # unquarantinable and pin staging forever on a live tail
        ready = (
            meta.join(settled, "doc_id", "left_semi")
            .unionByName(meta.filter(F.col("kind") == "GB"))
            .unionByName(meta.filter(F.col("kind").isNull()))
        )
        # never reuse a COMMITTED run id: a fresh checkpoint incarnation
        # restarts batch ids at 0, and run_extraction's overwrite-dir
        # protocol is for retrying CRASHED attempts only — reusing
        # batch_0 would overwrite the old incarnation's committed
        # questions/processed_docs while its marker still stands (the
        # html stream's documented derive_replay_run_id hazard)
        run_extraction(
            spark,
            ready.select(*[f.name for f in PAGES_SCHEMA.fields]),
            cfg,
            out_dir,
            run_id=derive_replay_run_id(
                committed_id_set(out_dir), f"batch_{batch_id}"
            ),
        )
        if compact:
            compact_staging(spark, out_dir)

    return _start(pages_stream, process_batch, checkpoint_dir, available_now)


# ---------------------------------------------------------------------------
# HTML main-content extraction over a live crawl tail
# ---------------------------------------------------------------------------


def read_html_pages_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """File-source stream of CC-style html pages (htmlops.PAGES_SCHEMA)
    with the same bounded-state crawl-dedup on url as read_pages_stream."""
    from .htmlops import PAGES_SCHEMA as HTML_PAGES_SCHEMA

    return _file_stream(
        spark, HTML_PAGES_SCHEMA, input_dir, max_files_per_trigger, watermark
    )


def read_warc_pages_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Live WARC tail -> crawl-deduped pages stream: binaryFile file-stream
    source over a crawler's archive drop directory, parsed container-by-
    container with the batch reader's exact kernel (sources/warc), good
    responses shaped to the north-rule pages frame, then the same bounded
    dedup-state pattern as read_html_pages_stream (url state held only
    inside the event-time horizon). Pipe into start_html_stream for
    exactly-once extraction of a crawl AS IT LANDS."""
    from .sources.warc import read_warc_stream, warc_pages

    records = read_warc_stream(spark, input_dir, max_files_per_trigger)
    pages = warc_pages(records).withColumn(
        # content-addressed unit, same derivation as the icetable path
        # (icerun): a replayed container re-yields the same doc_ids, so
        # the extraction resume anti-join absorbs replays even beyond the
        # dedup watermark horizon
        "doc_id",
        F.xxhash64("url", F.md5("html")),
    )
    return _deduped(
        pages.select("doc_id", "url", "warc_ts", "html", "lang"), watermark
    )


def start_html_stream(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    with_anchors: bool = False,
    stats_dir: str | None = None,
    stats_group: str = "lang",
):
    """DOM main-content extraction per micro-batch, exactly-once.

    Far simpler than the exam path: a web document is one row, so there is
    no completeness horizon, no staging table, and no cross-batch key store
    — each micro-batch feeds `lineage.run_html_extraction` directly with
    run_id=html_batch_<id:012d> (zero-padded so ids order as strings;
    when a fresh checkpoint incarnation makes a base id collide with a
    COMMITTED run, derive_replay_run_id suffixes it rather than
    overwriting committed dirs). Every batch also commits a
    (url, warc_ts, doc_id) fetch_log — even when the extraction no-ops —
    so icerun.current_main_content serves each url's latest fetch by
    EVENT TIME, which stays correct across incarnations where batch-id
    order does not. foreachBatch is at-least-once; the run protocol
    absorbs replays (crashed attempt -> same derived id -> overwrite;
    docs committed by the first attempt -> anti-joined to a no-op), so
    the output table is exactly-once without any append anywhere.

    ``stats_dir`` turns on continuous profiling: each micro-batch's
    committed extraction output is folded into the incremental
    corpus-stats store (statstore) grouped by ``stats_group`` from the
    pages frame, so per-language counts / token volume / vocabulary /
    length percentiles stay current WITH the tail at O(batch) cost. The
    fold reads back only this batch family's committed run directories
    (never the corpus) and the store's content-addressed cursor makes it
    replay-proof: a crash between the extraction commit and the stats
    commit is healed on the foreachBatch replay — the extraction no-ops
    but the committed run dir is still there to fold, and rows the first
    attempt DID fold are absorbed by the cursor anti-join. The fold
    self-compacts once 64 run dirs accrue, so a live tail's store stays
    bounded."""
    from . import lineage, statstore
    from .lineage import run_html_extraction

    # a live tail never reaches the end-of-job compaction, so the fold
    # compacts itself once this many run dirs accrue — one O(cursor)
    # rewrite amortized over 64 micro-batches
    STATS_COMPACT_MIN_RUNS = 64

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # A fresh checkpoint incarnation restarts batch ids at 0, so the
        # base id can already be COMMITTED by an older incarnation with
        # DIFFERENT content — overwriting that dir would destroy committed
        # rows. Suffix-derive a new id exactly like icerun's replay scheme
        # (the f-suffix sorts after the base and before the next batch, so
        # current_main_content's string-ordered recency stays correct).
        base_id = f"html_batch_{batch_id:012d}"
        # keep ONLY this batch family's ids: the stats fold below reads
        # the family's committed dirs
        ids = {
            i for i in lineage.committed_id_set(out_dir) if i.startswith(base_id)
        }
        run_id = lineage.derive_replay_run_id(ids, base_id)
        summary = run_html_extraction(
            spark,
            batch_df,
            out_dir,
            run_id=run_id,
            with_anchors=with_anchors,
            # event-time serving anchor: every fetch in this batch moves
            # its url's latest-fetch pointer even when the extraction
            # no-ops (revert/re-arrival), and warc_ts recency is immune to
            # the non-monotonic batch ids a fresh incarnation produces
            fetch_log=batch_df.select("url", "warc_ts", "doc_id"),
        )
        if stats_dir:
            # fold from every COMMITTED dir of this batch family — the one
            # just written plus base/f-suffixed dirs committed by earlier
            # attempts (a crash between THEIR extraction commit and stats
            # fold heals here, since the cursor absorbs rows already
            # folded). run_id joins the family only when THIS attempt
            # extracted (a marker-only no-op wrote no main dir, and the
            # commit cleared any abandoned orphan under the id).
            family = set(ids)
            if summary["input_pages"] > 0:
                family.add(run_id)
            main = lineage.committed_table(spark, out_dir, "main_content", family)
            if main is not None:
                # how="inner": fold ONLY this batch's docs — a colliding
                # dir can hold rows of a different batch composition, and
                # those must neither fold nor borrow this batch's group
                # labels (they fold when THEIR batch runs, or surface in
                # the backfill probe if profiling started later).
                statstore.update_corpus_stats(
                    spark,
                    stats_dir,
                    statstore.main_content_docs(
                        main,
                        batch_df.select("doc_id", stats_group),
                        group_col=stats_group,
                        how="inner",
                    ),
                    group_col=stats_group,
                )
                statstore.compact_stats(
                    spark, stats_dir, min_runs=STATS_COMPACT_MIN_RUNS
                )

    return _start(pages_stream, process_batch, checkpoint_dir, available_now)


def start_ice_ingest_stream(
    pages_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    partition_by=None,
    available_now: bool = True,
    branch: str | None = None,
):
    """Crawl tail -> icetable: each micro-batch commits as one append
    snapshot with ``sequence = batch_id``, making the table the durable,
    time-travelable ingestion log that `icerun.run_html_extraction_ice`
    consumes incrementally — the full loop is
    stream -> snapshot commits -> manifest-level delta extraction.

    foreachBatch is at-least-once; idempotence comes from the table's own
    commit protocol: a replayed batch sees a snapshot with its sequence
    already committed and becomes a no-op, and a replay racing a crashed
    attempt loses the O_EXCL version-file race (CommitConflict), re-checks,
    and swallows the conflict iff its sequence is now committed. Empty
    batches commit nothing (sequences need not be contiguous: the
    extraction watermark compares, never enumerates).

    The stream is assumed to be this table's single writer (the streaming
    analogue of one Iceberg writer per table branch); an unrelated
    concurrent committer would surface as a re-raised CommitConflict.

    ``branch`` stages every micro-batch on a named branch instead of main
    (the write half of write-audit-publish: the tail accrues snapshots no
    main reader sees until `publish_branch` fast-forwards after audit).
    Branch mode requires an EXISTING table — the published base the
    branch forks from — committed at a sequence BELOW the stream's batch
    ids (e.g. -1): the replay guard reads any snapshot whose sequence
    equals a batch id as that batch already committed."""
    from .sources.icetable import CommitConflict, IceTable

    transforms = tuple(partition_by or ())

    def _committed(spark: SparkSession, batch_id: int) -> bool:
        t = IceTable(spark, table_path)
        return t.exists() and any(
            s["sequence"] == batch_id for s in t.snapshots()
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if _committed(spark, batch_id):
            return  # checkpoint replay of an already-committed batch
        t = IceTable(spark, table_path)
        try:
            if not t.exists():
                if branch is not None:
                    raise FileNotFoundError(
                        f"branch ingest needs an existing table at "
                        f"{table_path} (the published base to fork from)"
                    )
                IceTable.create(
                    spark, table_path, batch_df,
                    partition_by=transforms, sequence=batch_id,
                )
            else:
                if branch is not None and branch not in t.refs():
                    try:
                        t.create_branch(branch)
                    except (CommitConflict, ValueError):
                        # racer created it (ValueError: exists) — re-check
                        # the TYPE too: a same-named TAG would otherwise be
                        # swallowed here and every append would then die on
                        # a misleading KeyError("no branch")
                        if t.refs().get(branch, {}).get("type") != "branch":
                            raise
                t.append(batch_df, sequence=batch_id, branch=branch)
        except (CommitConflict, FileExistsError):
            if _committed(spark, batch_id):
                return
            raise

    return _start(pages_stream, process_batch, checkpoint_dir, available_now)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    tolerance_s: int = 3600,
    how: str = "inner",
    max_lateness_s: int | None = None,
) -> DataFrame:
    """Watermarked stream-stream interval join — the Structured Streaming
    primitive for correlating two live event streams by key within an
    event-time window: every LEFT row pairs with the RIGHT rows of the
    same key where ``right_ts <= left_ts < right_ts + tolerance_s``
    (half-open — exactly relops.range_join's containment, which is the
    batch ground truth the tests replay the same data through).

    The crawl use: enrich each fetched page (left, keyed by host) with
    the robots/directive fetches that preceded it within the tolerance.

    Why the shape matters at scale: BOTH sides carry watermarks and the
    join condition bounds event-time distance, so Spark can expire state
    — without the time bound, a stream-stream join buffers every row of
    both streams forever (unbounded state is the classic failure mode).
    State per key is O(rows inside one tolerance window). The join
    shuffles both streams on the key; skewed hosts behave like any
    skewed shuffle (AQE does not re-plan streaming stages — cap per-host
    fetch rate upstream, which politeness requires anyway).

    ``how``: "inner" or "leftOuter" (left rows with no directive emit
    once with nulls AFTER the watermark passes — late-arriving matches
    inside the watermark still pair).

    ``max_lateness_s`` is the allowed event-time DISORDER — a separate
    knob from the join tolerance (conflating them would silently drop
    any row arriving more than tolerance_s out of order, and a caller
    wanting a tight 60 s join window would be forced to accept only
    60 s of disorder). Defaults to tolerance_s; raise it to the
    pipeline's real reordering bound. State and emission latency grow
    with the SUM of the two windows — that is the price of lateness.

    Output carries ONE ``key`` column (the left side's, like the batch
    range_join) — the expression-condition join would otherwise keep
    both under the same name and break every downstream select."""
    late = int(max_lateness_s if max_lateness_s is not None else tolerance_s)
    lw = left.withWatermark(left_ts, f"{late} seconds")
    rw = right.withWatermark(right_ts, f"{late} seconds")
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] <= lw[left_ts])
        & (
            lw[left_ts]
            < rw[right_ts] + F.expr(f"INTERVAL {int(tolerance_s)} SECONDS")
        )
    )
    return lw.join(rw, cond, how).drop(rw[key])
