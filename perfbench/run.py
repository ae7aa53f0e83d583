"""Production-path benchmark of the extraction engine.

    python3 perfbench/run.py --workload <exam_batch|html_ice|html_stream> \
        --seed <n> --seconds <s> --trace <0|1>

Each workload drives one entry point that ``jobs/extract_job.py`` calls,
from a seeded input table to the committed ``runs`` marker:

    exam_batch   lineage.run_extraction over a stored exam pages table
    html_ice     icerun.run_html_extraction_ice over an icetable of HTML pages
    html_stream  streaming.start_html_stream, an availableNow catch-up of
                 4 micro-batches arriving in event-time order

One process, one session on local[<cores>], one op at a time (closed loop),
fresh output and checkpoint directories per op. Inputs and their reference
digests are built before anything is timed. Set-up (``setup_s``) is the
session start plus one cold op (for the stream, a catch-up of its first
micro-batches only). The timed loop then makes ceil(``--seconds`` / the
workload's nominal op time) ops, a count fixed per workload so that every
run measures the same ops (a deadline would let the count, and with it
the share of still-warming ops, vary between runs). The end-to-end
figures are those of the run's fastest op: its docs/s, its CPU per doc,
and the median and tail of its micro-batch durations (an exam or icetable
op is one batch). JIT warm-up (the first timed op is 10-25% slower than
the next) and CPU time the hypervisor gives to other guests only ever
make an op slower, and with three ops a median still carries them; the
fastest op spread a third as much across seeds.
After every op, untimed, its committed output is hashed and compared with
the repo's pure-Python reference, and its counts are reconciled; an op
that raises or mismatches is a failed op.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the session also serves the monitoring REST API and
runs the ``perf`` UDF profiler; ops alternate untraced and traced (spans
recorded by swapping module attributes for wrappers), and the last line
carries the per-layer metrics (medians over traced ops) plus
``trace.overhead_frac``, the traced ops' median wall over the untraced
ones' minus one. Spans are written to
``.perfbench_work/trace/<workload>-<seed>.json``.

Everything the benchmark writes stays under ``.perfbench_work/`` in the
working directory, including Spark's local and temporary directories.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(os.getcwd(), ".perfbench_work")
HEAP = "2g"


def _isolate_scratch() -> None:
    """Point every temporary and local directory of Python, the JVM and
    Spark into WORK (must run before pyspark starts the JVM)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(q, value): the highest percentile with at least ten samples beyond
    it, or the median when there are fewer than twenty samples."""
    n = len(values)
    q = max(0.5, 1.0 - 10.0 / n) if n >= 20 else 0.5
    ordered = sorted(values)
    return q, ordered[min(n - 1, int(q * n))]


def _wrap_program(tracer) -> None:
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from enem_spark import extract, icerun, lineage, runfs, streaming
    from enem_spark.sources.icetable import IceTable

    for mod, names in (
        (lineage, ("run_extraction", "run_html_extraction", "instrumented_page_stage",
                   "instrumented_html_stage", "partition_lineage", "committed_run_ids",
                   "processed_doc_ids", "derive_replay_run_id", "append_run_marker",
                   "clear_stale_run_dirs")),
        (icerun, ("run_html_extraction_ice", "_latest_per_url", "_mark_noop_run")),
        (extract, ("with_url_metadata", "split_quarantine", "resolve_salt_chunk",
                   "with_page_numbering", "build_answer_keys", "questions_from_counted")),
        (streaming, ("read_html_pages_stream", "start_html_stream")),
    ):
        for name in names:
            tracer.wrap_function(mod, name)
    for name in ("_plan_entries", "_plan_incremental_entries"):
        tracer.wrap_method(IceTable, name, "icetable.plan")
    tracer.wrap_method(IceTable, "_read_entries", "icetable.read_entries")
    tracer.wrap_method(IceTable, "metadata", "icetable.metadata")
    for name in ("exists", "list_files", "list_names", "delete_prefix", "delete_file",
                 "read_bytes", "write_bytes", "create_exclusive", "ensure_dir"):
        tracer.wrap_method(runfs.LocalRunFS, name, f"runfs.{name}")
    for cls, name, kind in (
        (DataFrame, "count", "count"), (DataFrame, "collect", "collect"),
        (DataFrame, "first", "first"), (DataFrame, "isEmpty", "isEmpty"),
        (DataFrame, "toPandas", "toPandas"), (DataFrameWriter, "parquet", "write"),
        (DataFrameWriter, "save", "write"), (DataFrameReader, "parquet", "read"),
    ):
        tracer.tag_action(cls, name, kind)


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended (the Python workers outlive the JVM by a moment
    and are no longer in our tree by then, so their pids are noted first)."""
    from pyspark import SparkContext

    from perfbench.procstat import alive, tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    t0 = time.time()
    while True:
        left = [p for p in started if alive(p)]
        if not left or time.time() > t0 + 40:
            return
        if time.time() > t0 + 10:  # not gone by themselves: terminate, then kill
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL if time.time() > t0 + 30 else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_scratch()
    sys.path.insert(0, ROOT)
    from perfbench import layers, procstat
    from perfbench.spans import Tracer, coverage
    from perfbench.workloads import WORKLOADS

    from enem_spark.session import get_spark

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](WORK, args.seed)
    wl.prepare()

    pid = os.getpid()
    rss = procstat.PeakRss(pid).start()
    cores = len(os.sched_getaffinity(0))
    conf = {
        # a fixed, pre-touched driver heap, so the JVM's share of peak
        # memory does not depend on when G1 decides to grow the heap; and
        # the C1 JIT only: a run is too short for C2 to settle (on a 4-core
        # host C2 still spent 1.5 s of CPU per op compiling at the 12th
        # exam op, and how far its queue had got varied the third op's wall
        # by 20% across seeds, against 3% with C1, which also halves the
        # cold op's CPU)
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.enabled": "true" if args.trace else "false",
    }
    if args.trace:
        conf["spark.sql.pyspark.udf.profiler"] = "perf"
    t0 = time.time()
    # one shuffle partition per core (the factory's floor of 32 is sized
    # for a cluster): every micro-batch's dedup state and every commit write
    # then runs one wave of tasks. On a 4-core host a micro-batch takes
    # 8.4 s at 32 partitions, 3.5 s at 8 and 2.9 s at 4
    spark = get_spark(
        "perfbench", cores=cores, shuffle_partitions=cores,
        driver_memory=HEAP, extra=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t0

    ops_dir = os.path.join(WORK, "ops")
    tracer = Tracer()
    rest = layers.Rest(spark.sparkContext) if args.trace else None

    def run_op(i: int, warm: bool, traced: bool) -> dict:
        out = os.path.join(ops_dir, f"op{i}")
        shutil.rmtree(out, ignore_errors=True)
        rec = {"warm": warm, "traced": traced, "errors": []}
        cpu0 = procstat.cpu_seconds(pid)
        t = time.time()
        try:
            if traced:
                tracer.op = i
                _wrap_program(tracer)
                try:
                    with tracer.span("op") as sid:
                        tracer.root = sid
                        res = wl.op(spark, out, warm)
                finally:
                    tracer.restore()
                    tracer.root = None
            else:
                res = wl.op(spark, out, warm)
        except Exception as e:  # an op that raises is a failed op
            rec["errors"].append(f"{type(e).__name__}: {e}")
            res = None
        rec["wall"] = time.time() - t
        rec["start"], rec["end"] = t, t + rec["wall"]
        rec["cpu"] = procstat.cpu_delta(cpu0, procstat.cpu_seconds(pid))
        if res is not None:
            try:
                rec["errors"] += wl.check(spark, out, res, warm)
            except Exception as e:
                rec["errors"].append(f"check {type(e).__name__}: {e}")
            rec["docs"] = res["docs"] or 0
            rec["batches"] = res.get("batches") or [rec["wall"]]
            rec["progress"] = res.get("progress")
            rec["all_progress"] = res.get("all_progress")
            rec["summary"] = res.get("summary")
            if traced:
                rec["layers"] = _traced_layers(i, rec, out)
        rec.setdefault("docs", 0)
        rec.setdefault("batches", [rec["wall"]])
        shutil.rmtree(out, ignore_errors=True)
        print(
            f"op {i}{' warm' if warm else ''}{' traced' if traced else ''}: "
            f"wall {rec['wall']:.3f} s, cpu {rec['cpu']:.2f} s, docs {rec.get('docs')}, "
            f"errors {rec['errors']}, batches {[round(b, 3) for b in rec.get('batches', [])]}",
            file=sys.stderr,
        )
        return rec

    def _traced_layers(i, rec, out):
        spans = [s for s in tracer.spans if s["op"] == i]
        root = next(s for s in spans if s["name"] == "op")
        if rec["progress"] is not None:
            # all progress events, including no-data triggers
            tracer.op = i
            layers.add_trigger_spans(tracer, root, rec["all_progress"])
            spans = [s for s in tracer.spans if s["op"] == i]
        from pyspark.sql import functions as F

        page_fn = 0.0
        lin = os.path.join(out, "lineage")
        if os.path.isdir(lin):
            page_fn = spark.read.parquet(lin).agg(F.sum("wall_ms")).first()[0] or 0.0
        time.sleep(1.0)  # let the UI listener drain the op's last events
        m = layers.op_layers(
            spans, rest.window(rec["start"] - 0.5, rec["end"] + 0.5),
            rec["progress"], rec["summary"], float(page_fn), layers.udf_profile(spark),
        )
        m["trace.span_coverage"] = coverage(spans, root)
        return m

    cold = run_op(0, warm=True, traced=False)
    setup_s = session_s + cold["wall"]
    # traced runs need a plain and a traced op
    n_ops = max(2 if args.trace else 1, math.ceil(args.seconds / wl.op_s))
    host0 = procstat.host_cpu()
    ops = [run_op(i + 1, warm=False, traced=args.trace and i % 2 == 1) for i in range(n_ops)]
    steal = procstat.steal_share(host0, procstat.host_cpu())
    peak = rss.stop()
    _stop(spark)

    every = [cold] + ops
    failed = [o for o in every if o["errors"]]
    for o in failed:
        print(f"failed op: {'; '.join(o['errors'])}", file=sys.stderr)
    good = [o for o in ops if not o["errors"]] or ops

    if args.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        with open(os.path.join(WORK, "trace", f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(tracer.spans, fh)
        traced = [o for o in good if o["traced"] and "layers" in o]
        plain = [o for o in good if not o["traced"]]
        metrics = {
            k: statistics.median(o["layers"][k] for o in traced) if traced else 0.0
            for k in layers.PER_LAYER
        }
        metrics["session.start_s"] = session_s
        if traced and plain:
            metrics["trace.overhead_frac"] = (
                statistics.median(o["wall"] for o in traced)
                / statistics.median(o["wall"] for o in plain) - 1.0
            )
        if traced:
            metrics["trace.span_coverage"] = min(o["layers"]["trace.span_coverage"] for o in traced)
        units = {k: _unit(k) for k in metrics}
    else:
        best = min(good, key=lambda o: o["wall"])
        wall, docs, batches = best["wall"], best["docs"], best["batches"]
        q, tail = tail_percentile(batches)
        metrics = {
            "docs_per_s": docs / wall,
            "cpu_ms_per_doc": 1000.0 * best["cpu"] / max(docs, 1),
            "batch_p50_s": statistics.median(batches),
            "batch_tail_s": tail,
            "setup_s": setup_s,
            "peak_rss_mb": peak / 2**20,
        }
        units = {"docs_per_s": "docs/s", "cpu_ms_per_doc": "ms", "batch_p50_s": "s",
                 "batch_tail_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
        print(
            f"{args.workload}: best of {len(good)} ops: {docs} docs in {wall:.3f} s; "
            f"batch_tail_s is p{round(q * 100)} of {len(batches)} batch samples; "
            f"steal {steal:.1%} of host CPU while timing",
        )
    print(json.dumps({
        "correct": not failed,
        "attempted": len(every),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    parts = name.split(".")
    for suffix, unit in (("bytes", "bytes"), ("ms", "ms"), ("s", "s"),
                         ("frac", "ratio"), ("coverage", "ratio")):
        if any(p == suffix or p.endswith(f"_{suffix}") for p in parts):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
