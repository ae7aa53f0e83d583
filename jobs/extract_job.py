#!/usr/bin/env python
"""Cluster job entry point for the extraction pipeline.

On a real cluster:

    spark-submit --master yarn --deploy-mode cluster \
        --py-files enem_spark.zip \
        jobs/extract_job.py --input s3://bucket/pages --output /mnt/shared/out \
        --run-id 2026-08-17 --salt-chunk-size 4096

(--input may be any Spark-readable URI; --output takes a plain POSIX
path, a file:// URI, or any URI scheme with a registered runfs
control-plane implementation — the commit/resume protocol runs its
probes/clears/commits through enem_spark/runfs.py's six primitives, so
an object-store deployment registers a conditional-put client for its
scheme (see the runfs module docstring). An unregistered scheme raises
loudly instead of silently degrading exactly-once.)

In this sandbox (no cluster manager) the same script runs under plain
python; the session factory builds local[N] and ships the package zip to
the Python workers, which is the local-mode analogue of --py-files.

Modes:
  batch (default)  one checkpoint-resumable run over --input
                   (re-running with the same --output continues where the
                   previous run stopped — document-granular anti-join)
  --streaming      tail --input as a file stream, page-at-a-time, with
                   event-time document-completeness release + final flush
  --html           DOM main-content extraction over a CC pages table
                   (doc_id, url, warc_ts, html, lang) instead of the exam
                   pipeline; combines with --streaming for a crawl tail
  --iceberg        with --html batch: --input is an icetable path; runs
                   incrementally from the last committed snapshot sequence
                   (--full forces a whole-snapshot re-plan); re-invoking
                   after each table commit is the crawl-tail batch loop
  --sig-index      with --html: maintain the minhash signature index after
                   the run (sign ONLY newly committed docs — exactly-once)
  --wet-out DIR    with --html: export committed main content as CC-style
                   WET shards (byte-deterministic; re-runs overwrite
                   idempotently). Under --iceberg the export is
                   INCREMENTAL: each run's new content lands in its own
                   DIR/<run_id>/ shard set (O(delta), the CC per-crawl
                   convention); an up-to-date run exports nothing
  --wat-out DIR    with --html batch: export the raw input pages' metadata
                   envelopes (title/links/length JSON) as CC-style WAT
                   shards (same determinism contract)
  --warc           with --html: --input is a directory of WARC containers;
                   batch reads it once (WARC -> extraction, and WARC -> WAT
                   with --wat-out), --streaming tails it as archives land
                   (exactly-once via the content-addressed resume)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet path")
    ap.add_argument("--output", required=True, help="run output dir")
    ap.add_argument("--run-id", default=None,
                    help="batch run id (default run1). A run id that is "
                         "already COMMITTED in --output is automatically "
                         "re-derived to the replay scheme instead of "
                         "overwriting the committed run")
    ap.add_argument("--output-type", default=None, choices=["txt", "json", "markdown"])
    ap.add_argument("--process-images", action="store_true")
    # -1 = auto (skew-probe decides); 0 = plain window; >0 = fixed chunk
    ap.add_argument("--salt-chunk-size", type=int, default=None)
    ap.add_argument("--dedup-pages", action="store_true",
                    help="newest-wins per-url dedup before extraction — "
                         "enable for batch runs over raw re-crawled "
                         "corpora (exam pipeline; the html modes dedup "
                         "by content address / watermark already)")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--html", action="store_true")
    ap.add_argument("--anchors", action="store_true",
                    help="with --html batch: also write the per-anchor table")
    ap.add_argument("--iceberg", action="store_true",
                    help="with --html batch: read --input as an icetable")
    ap.add_argument("--warc", action="store_true",
                    help="with --html: --input is a directory of WARC "
                         "containers (.warc/.warc.gz); batch reads it once, "
                         "--streaming tails it as archives land")
    ap.add_argument("--full", action="store_true",
                    help="with --iceberg: ignore the incremental watermark")
    ap.add_argument("--normalize", action="store_true",
                    help="with --iceberg: charset-sniff + re-encode payloads "
                         "to clean UTF-8 before extraction")
    ap.add_argument("--mime-filter", action="store_true",
                    help="with --iceberg: drop non-text payloads (magic-byte "
                         "triage) before extraction")
    ap.add_argument("--sig-index", action="store_true",
                    help="with --html: after the run, sign newly committed "
                         "main content into the minhash signature index "
                         "(sigindex.update_signature_index, engine config)")
    ap.add_argument("--wet-out", default=None,
                    help="with --html: export the committed main content "
                         "as CC-style WET shards into this directory")
    ap.add_argument("--wet-shards", type=int, default=8)
    ap.add_argument("--wat-out", default=None,
                    help="with --html batch: export the INPUT pages' "
                         "metadata envelopes (title/links/length) as "
                         "CC-style WAT shards into this directory")
    ap.add_argument("--stats-store", default=None, metavar="DIR",
                    help="(html streaming) fold each micro-batch's "
                         "extraction output into the incremental "
                         "corpus-stats store at DIR (continuous per-lang "
                         "profiling of the tail) and report it in the "
                         "summary")
    ap.add_argument("--completeness-delay-s", type=int, default=0)
    ap.add_argument("--cores", default=None)
    args = ap.parse_args()

    from enem_spark.extract import ExtractorConfig
    from enem_spark.session import get_spark

    spark = get_spark("enem_spark_extract_job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    cfg = ExtractorConfig(
        output_type=args.output_type or "json",
        process_images=args.process_images,
        salt_chunk_size=(
            args.salt_chunk_size if args.salt_chunk_size is not None else -1
        ),
        dedup_pages=args.dedup_pages,
    )

    # exam-pipeline flags under --html (and --run-id under --streaming,
    # where batch ids come from the checkpoint) would be silently ignored
    # while the job prints a success summary — same guard class as the
    # mode-scoped flags below: error loudly instead
    if args.html and (
        args.process_images
        or args.dedup_pages
        or args.output_type is not None
        or args.salt_chunk_size is not None
    ):
        ap.error("--process-images/--dedup-pages/--output-type/"
                 "--salt-chunk-size configure the exam pipeline and do "
                 "nothing under --html")
    if args.anchors and not args.html:
        ap.error("--anchors writes the html pipeline's per-anchor table: "
                 "--html mode only")
    if args.streaming and args.run_id is not None:
        ap.error("--run-id is ignored under --streaming (micro-batch ids "
                 "derive from the checkpoint); drop the flag")
    if args.iceberg and (args.streaming or not args.html):
        ap.error("--iceberg requires --html batch mode (the snapshot "
                 "watermark IS the tail: re-invoke after each commit)")
    if (args.sig_index or args.wet_out) and not args.html:
        ap.error("--sig-index/--wet-out operate on committed main content "
                 "(html pipeline outputs)")
    if args.wat_out and (not args.html or args.streaming or args.iceberg):
        ap.error("--wat-out reads the raw input pages frame: --html batch "
                 "mode only (WET covers the committed-output export paths)")
    if args.warc and (not args.html or args.iceberg):
        ap.error("--warc is an --html input mode (container dir), "
                 "incompatible with --iceberg")
    if args.stats_store and not (args.html and args.streaming):
        # silently skipping the requested profiling would report success
        # with no stats — same guard class as the other mode-scoped flags
        ap.error("--stats-store folds per micro-batch: --html --streaming "
                 "mode only (batch/iceberg profiling is "
                 "ice_maintenance --stats)")
    if (args.normalize or args.mime_filter) and not args.iceberg:
        # silently ignoring a requested charset repair / payload triage
        # would extract raw bytes and report success — same guard class
        # as the other mode-scoped flags above
        ap.error("--normalize/--mime-filter are --iceberg run options "
                 "(icerun.run_html_extraction_ice)")

    if args.html:
        if args.streaming:
            from enem_spark.streaming import (
                read_html_pages_stream,
                read_warc_pages_stream,
                start_html_stream,
            )

            stream = (
                read_warc_pages_stream(spark, args.input)
                if args.warc
                else read_html_pages_stream(spark, args.input)
            )
            q = start_html_stream(
                stream,
                args.output,
                f"{args.output}/_checkpoint",
                with_anchors=args.anchors,
                stats_dir=args.stats_store,
            )
            q.awaitTermination()
            from enem_spark.lineage import committed_main_content

            main = committed_main_content(spark, args.output)
            n_main = main.count() if main is not None else 0
            summary = {"main_rows": n_main}
            if args.stats_store:
                from enem_spark import statstore

                # one run dir per micro-batch accrues forever on a tail;
                # fold them into one compaction run at the end of each
                # invocation so the store stays O(1) dirs per job
                summary["stats_compaction"] = statstore.compact_stats(
                    spark, args.stats_store
                )
                try:
                    report = [
                        r.asDict()
                        for r in statstore.corpus_stat_report(
                            spark, args.stats_store
                        ).orderBy("grp").collect()
                    ]
                except ValueError:
                    # zero micro-batches fired and the store was never
                    # committed: nothing to report, but the job succeeded
                    report = []
                summary["stats"] = report
                folded = statstore.folded_doc_ids(spark, args.stats_store)
                n_folded = folded.count() if folded is not None else 0
                # runs committed before profiling was enabled never fold
                # (each fold reads only its own batch's run dir) — surface
                # the gap instead of reporting a silently partial profile
                summary["stats_backfill_needed"] = n_folded != n_main
        elif args.iceberg:
            from enem_spark.icerun import run_html_extraction_ice

            summary = run_html_extraction_ice(
                spark, args.input, args.output,
                with_anchors=args.anchors, full=args.full,
                normalize=args.normalize, mime_filter=args.mime_filter,
            )
        else:
            from enem_spark.lineage import run_html_extraction

            warc_pages_df = None
            if args.warc:
                from pyspark.sql import functions as F

                from enem_spark.sources.warc import read_warc, warc_pages

                # persist: the container gunzip+parse pass is the job's
                # most expensive scan, and --wat-out consumes it again
                warc_pages_df = warc_pages(read_warc(spark, args.input))
                if args.wat_out:
                    warc_pages_df.persist()
                # duplicate captures inside ONE archive drop (re-dropped
                # or replayed containers) share the content address; the
                # resume anti-join only absorbs replays ACROSS committed
                # runs, so collapse them here or one run commits the same
                # document twice. Rows with equal doc_id are identical in
                # every column extraction consumes (url, html), so the
                # pick is deterministic. WAT export (--wat-out) reads the
                # RAW frame — the crawl record keeps its duplicates.
                pages = warc_pages_df.withColumn(
                    "doc_id", F.xxhash64("url", F.md5("html"))
                ).dropDuplicates(["doc_id"])
            else:
                pages = spark.read.parquet(args.input)
            summary = run_html_extraction(
                spark, pages, args.output, args.run_id or "run1",
                with_anchors=args.anchors,
            )
        if args.sig_index:
            from enem_spark.sigindex import update_signature_index

            summary["sig_index"] = update_signature_index(spark, args.output)
        if args.wet_out:
            from pyspark.sql import functions as F

            from enem_spark.lineage import committed_main_content
            from enem_spark.sources import warc

            main = committed_main_content(spark, args.output)

            def wet_frame(df):
                # main_content carries no capture timestamp; the export
                # date is the fixed corpus epoch (determinism over
                # wall-clock — re-exports stay byte-identical)
                return df.select(
                    "url",
                    F.lit(warc.iso_date(warc.EPOCH_S)).alias("wet_date"),
                    F.col("main_text").alias("text"),
                )

            if main is None:
                summary["wet"] = []
            elif args.iceberg:
                # incremental export, the CC convention: each ice run's
                # content becomes its own crawl-shard set under
                # wet_out/<run_id>/ — O(delta) work per run, full corpus =
                # the union of the run dirs. The work list is COMMITTED
                # runs with content that have no export dir yet (not "the
                # run this invocation performed"): a crash between a run's
                # commit marker and its export would otherwise skip that
                # run's shard set forever; up-to-date invocations self-heal
                # the hole instead of exporting nothing.
                rids = sorted(
                    r["run_id"]
                    for r in main.select("run_id").distinct().collect()
                )
                exports = []
                for rid in rids:
                    rdir = os.path.join(args.wet_out, rid)
                    marker = os.path.join(rdir, "_manifest.json")
                    # the marker is the export's commit point (written
                    # LAST): a crash mid-export leaves no marker, and the
                    # re-run overwrites the byte-deterministic shards
                    # idempotently before re-writing it
                    if os.path.exists(marker):
                        continue
                    manifest = warc.write_wet_dir(
                        warc.wet_shards(
                            wet_frame(main.filter(F.col("run_id") == rid)),
                            n_shards=args.wet_shards,
                        ),
                        rdir,
                    )
                    tmp = f"{marker}.tmp.{os.getpid()}"
                    with open(tmp, "w") as fh:
                        json.dump(manifest, fh)
                    os.replace(tmp, marker)
                    exports.extend(manifest)
                summary["wet"] = exports
            else:
                summary["wet"] = warc.write_wet_dir(
                    warc.wet_shards(
                        wet_frame(main), n_shards=args.wet_shards
                    ),
                    args.wet_out,
                )
        if args.wat_out:
            from pyspark.sql import functions as F

            from enem_spark.sources import warc

            # WAT describes the CRAWL, not the extraction: envelopes are
            # built from the raw input pages (url, warc_ts, html). Under
            # --warc the persisted parse from the extraction pass is
            # reused — never a second gunzip+parse of the containers.
            raw = (
                warc_pages_df
                if warc_pages_df is not None
                else spark.read.parquet(args.input)
            )
            pages_in = raw.select(
                "url",
                F.date_format(
                    "warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"
                ).alias("wat_date"),
                "html",
            )
            # a page whose WARC-Date failed try_to_timestamp has NULL
            # warc_ts; f-stringing that into the record would emit a
            # malformed 'WARC-Date: None' envelope with an unjoinable
            # record id — skip them, but REPORT the drop (no silent caps)
            n_undated = pages_in.filter(F.col("wat_date").isNull()).count()
            summary["wat"] = warc.write_wat_dir(
                warc.wat_shards(
                    pages_in.filter(F.col("wat_date").isNotNull()),
                    n_shards=args.wet_shards,
                ),
                args.wat_out,
            )
            summary["wat_undated_skipped"] = n_undated
            if warc_pages_df is not None:
                warc_pages_df.unpersist()
        print(json.dumps(summary))
        spark.stop()
        return

    if args.streaming:
        from enem_spark.streaming import (
            flush_staging,
            read_pages_stream,
            start_document_stream,
        )

        # read_pages_stream drops a url re-delivered within the watermark:
        # a re-crawled page would otherwise count its questions twice and
        # shift every later question number in its document
        q = start_document_stream(
            read_pages_stream(spark, args.input),
            cfg,
            args.output,
            f"{args.output}/_checkpoint",
            completeness_delay_s=args.completeness_delay_s,
        )
        q.awaitTermination()
        summary = flush_staging(spark, cfg, args.output) or {}
    else:
        from enem_spark.lineage import run_extraction

        pages = spark.read.parquet(args.input)
        summary = run_extraction(
            spark, pages, cfg, args.output, args.run_id or "run1"
        )

    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
