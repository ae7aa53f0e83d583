"""Per-layer metrics of a traced op, from its spans, Spark's REST API
(stage metrics and SQL node metrics), the streaming progress events and
the UDF profiler.

Which SQL execution belongs to which layer is decided by the span that
launched it: the traced run tags every Spark job with ``span=<id>`` in its
job description, and the span's ancestors name the entry point.
"""

from __future__ import annotations

import json
import re
import urllib.request
from datetime import datetime, timezone

from perfbench.spans import ancestors, self_times, union_length

WRITE_TABLES = ("questions", "lineage", "processed_docs", "main_content", "fetch_log")
SELF_LAYERS = ("lineage", "icerun", "extract", "icetable", "runfs", "streaming", "spark")
RESUME_SPANS = (
    "lineage.committed_run_ids", "lineage.processed_doc_ids",
    "lineage.derive_replay_run_id", "spark.collect",
)
COMMIT_SPANS = ("lineage.append_run_marker", "lineage.clear_stale_run_dirs")
STREAM_PHASES = (
    "latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets",
)

PER_LAYER = (
    "session.start_s", "session.gc_s", "session.spill_bytes",
    "session.shuffle_write_bytes", "session.fetch_wait_s", "session.failed_tasks",
    "sources.scan_bytes", "sources.scan_s",
    "icetable.plan_s", "icetable.files_kept",
    "icerun.window_shuffle_bytes", "icerun.fetch_log_write_s",
    "extract.numbering_s", "extract.numbering_shuffle_bytes",
    "extract.salt_probe_s", "extract.keys_s",
    "lineage.page_stage.python_s", "lineage.page_stage.to_python_bytes",
    "lineage.page_stage.from_python_bytes", "oracle.page_fn_ms",
    "oracle.profile.preprocess_s", "oracle.profile.parse_alternatives_s",
    "lineage.html_stage.python_s", "lineage.html_stage.to_python_bytes",
    "lineage.html_stage.from_python_bytes", "htmlops.extract_ms",
    "htmlops.profile.scan_blocks_s",
    "lineage.actions", "lineage.count_s",
    *(f"lineage.write_s.{t}" for t in WRITE_TABLES),
    "lineage.resume_s", "lineage.commit_s",
    "runfs.calls", "runfs.s",
    "streaming.batches", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.state_commit_ms", "streaming.state_rows", "streaming.state_mem_bytes",
    *(f"layer.self_s.{x}" for x in SELF_LAYERS),
    "trace.overhead_frac", "trace.span_coverage",
)

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric's display string in base units: bytes, seconds or a
    count. Per-task metrics read ``total (min, med, max ...)\\n<total> ...``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def parse_time(text: str) -> float:
    """Epoch seconds of a REST timestamp (``...GMT``) or a streaming
    progress timestamp (``...Z``)."""
    text = text.replace("GMT", "").replace("Z", "")
    return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


class Rest:
    """The monitoring REST API of the running application."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def window(self, start: float, end: float) -> dict:
        """Stages, jobs and SQL executions submitted in [start, end]."""

        def inside(x):
            return start <= parse_time(x["submissionTime"]) <= end

        return {
            "stages": [s for s in self.get("/stages") if "submissionTime" in s and inside(s)],
            "jobs": [j for j in self.get("/jobs") if "submissionTime" in j and inside(j)],
            "sql": [
                e for e in self.get("/sql?details=true&planDescription=false&length=100000")
                if inside(e)
            ],
        }


def _node_metrics(node) -> dict[str, float]:
    return {m["name"]: parse_metric(m["value"]) for m in node.get("metrics", [])}


def _window_exchanges(execution) -> list[dict]:
    """Exchange nodes feeding a Window (Window <- Sort <- [AQEShuffleRead]
    <- Exchange): the shuffle that a window's partitioning costs."""
    nodes = {n["nodeId"]: n for n in execution["nodes"]}
    kids: dict[int, list[int]] = {}
    for e in execution.get("edges", []):
        kids.setdefault(e["toId"], []).append(e["fromId"])
    out = []
    for n in execution["nodes"]:
        if n["nodeName"] != "Window":
            continue
        todo, seen = [(n["nodeId"], 0)], set()
        while todo:
            nid, d = todo.pop()
            if nid in seen or d > 4:
                continue
            seen.add(nid)
            if nodes[nid]["nodeName"] == "Exchange":
                out.append(nodes[nid])
                continue
            todo.extend((k, d + 1) for k in kids.get(nid, ()))
    return out


def _window_sorts(execution) -> list[dict]:
    nodes = {n["nodeId"]: n for n in execution["nodes"]}
    out = []
    for e in execution.get("edges", []):
        if nodes.get(e["toId"], {}).get("nodeName") == "Window":
            child = nodes.get(e["fromId"])
            if child is not None and child["nodeName"] == "Sort":
                out.append(child)
    return out


_SPAN_TAG = re.compile(r"span=(\d+)")


def op_layers(spans, rest_window, progress, summary, lineage_wall_ms, profile) -> dict:
    """Per-layer metrics of one traced op from its spans, ``Rest.window``
    over the op, its streaming progress, its summary, the summed
    ``wall_ms`` of its committed lineage table and ``udf_profile``."""
    m = {k: 0.0 for k in PER_LAYER}
    selfs = self_times(spans)

    def dur(names):
        return union_length((s["start"], s["end"]) for s in spans if s["name"] in names)

    entry = {s["id"]: ancestors(spans, s["id"]) + [s["name"]] for s in spans}

    def under(sid, name) -> bool:
        return sid in entry and name in entry[sid]

    # session: stage metrics summed over the op's stages
    for st in rest_window["stages"]:
        m["session.gc_s"] += st.get("jvmGcTime", 0) / 1000.0
        m["session.spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        m["session.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        m["session.fetch_wait_s"] += st.get("shuffleFetchWaitTime", 0) / 1000.0
        m["session.failed_tasks"] += st.get("numFailedTasks", 0)
    m["lineage.actions"] = float(len(rest_window["jobs"]))

    # SQL node metrics, attributed through the launching span
    for ex in rest_window["sql"]:
        tag = _SPAN_TAG.search(ex.get("description") or "")
        sid = int(tag.group(1)) if tag else None
        exam = sid is not None and under(sid, "lineage.run_extraction")
        ice = sid is not None and under(sid, "icerun.run_html_extraction_ice")
        for n in ex["nodes"]:
            nm = _node_metrics(n)
            name = n["nodeName"]
            if name.startswith("Scan parquet"):
                m["sources.scan_bytes"] += nm.get("size of files read", 0)
                m["sources.scan_s"] += nm.get("scan time", 0)
            elif name == "MapInPandas":
                stage = "lineage.page_stage" if exam else "lineage.html_stage"
                m[f"{stage}.python_s"] += nm.get("time to run Python workers", 0)
                m[f"{stage}.to_python_bytes"] += nm.get("data sent to Python workers", 0)
                m[f"{stage}.from_python_bytes"] += nm.get("data returned from Python workers", 0)
            elif name == "FlatMapGroupsInPandas" and exam:
                m["extract.keys_s"] += nm.get("time to run Python workers", 0)
        for x in _window_exchanges(ex):
            nm = _node_metrics(x)
            if ice:
                m["icerun.window_shuffle_bytes"] += nm.get("shuffle bytes written", 0)
            elif exam:
                m["extract.numbering_shuffle_bytes"] += nm.get("shuffle bytes written", 0)
                m["extract.numbering_s"] += nm.get("shuffle write time", 0)
        if exam:
            for srt in _window_sorts(ex):
                m["extract.numbering_s"] += _node_metrics(srt).get("sort time", 0)

    # driver-side spans
    m["extract.numbering_s"] += dur(("extract.with_page_numbering",))
    m["extract.keys_s"] += dur(("extract.build_answer_keys",))
    m["extract.salt_probe_s"] = dur(("extract.resolve_salt_chunk",))
    m["icetable.plan_s"] = dur(("icetable.plan",))
    m["icerun.fetch_log_write_s"] = union_length(
        (s["start"], s["end"]) for s in spans
        if s["name"] == "spark.write:fetch_log"
        and under(s["id"], "icerun.run_html_extraction_ice")
        and not under(s["id"], "lineage.run_html_extraction")
    )
    m["lineage.count_s"] = dur(("spark.count", "spark.isEmpty"))
    for t in WRITE_TABLES:
        m[f"lineage.write_s.{t}"] = dur((f"spark.write:{t}",))
    m["lineage.resume_s"] = dur(RESUME_SPANS)
    m["lineage.commit_s"] = dur(COMMIT_SPANS)
    fs = [s for s in spans if s["name"].startswith("runfs.")]
    m["runfs.calls"] = float(len(fs))
    m["runfs.s"] = union_length((s["start"], s["end"]) for s in fs)
    for layer in SELF_LAYERS:
        m[f"layer.self_s.{layer}"] = sum(
            selfs[s["id"]] for s in spans if s["name"].split(".")[0].split(":")[0] == layer
        )

    if summary and "scan" in summary:
        m["icetable.files_kept"] = float(summary["scan"]["files_kept"])
    exam_run = any(s["name"] == "lineage.run_extraction" for s in spans)
    m["oracle.page_fn_ms" if exam_run else "htmlops.extract_ms"] = lineage_wall_ms
    m.update(profile)

    if progress:
        m["streaming.batches"] = float(len(progress))
        for p in progress:
            d = p["durationMs"]
            m["streaming.add_batch_ms"] += d.get("addBatch", 0)
            m["streaming.wal_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            for so in p.get("stateOperators", []):
                m["streaming.state_commit_ms"] += so.get("commitTimeMs", 0)
                m["streaming.state_mem_bytes"] = max(
                    m["streaming.state_mem_bytes"], so.get("memoryUsedBytes", 0)
                )
        m["streaming.state_rows"] = float(
            sum(so.get("numRowsTotal", 0) for so in progress[-1].get("stateOperators", []))
        )
    return m


def add_trigger_spans(tracer, root: dict, progress_all) -> None:
    """Spans for each micro-batch trigger and its phases, built from the
    query's progress events (the phases run in STREAM_PHASES order), as
    children of the op span. Spans the foreachBatch callback recorded on
    the engine's thread are moved under the addBatch phase they ran in."""
    add_batch = []
    for p in progress_all:
        start = parse_time(p["timestamp"])
        d = p["durationMs"]
        trig = tracer.add("streaming.trigger", start, start + d.get("triggerExecution", 0) / 1000.0, root["id"])
        t = start
        for ph in STREAM_PHASES:
            if ph in d:
                sid = tracer.add(f"streaming.{ph}", t, t + d[ph] / 1000.0, trig)
                if ph == "addBatch":
                    add_batch.append((t, t + d[ph] / 1000.0, sid))
                t += d[ph] / 1000.0
    for s in tracer.spans:
        if s["parent"] == root["id"] and not s["name"].startswith("streaming."):
            for a, b, sid in add_batch:
                if a <= s["start"] and s["end"] <= b + 0.05:
                    s["parent"] = sid
                    break


_PROFILED = {
    "oracle.profile.preprocess_s": ("oracle.py", "preprocess_page"),
    "oracle.profile.parse_alternatives_s": ("oracle.py", "parse_alternatives"),
    "htmlops.profile.scan_blocks_s": ("htmlops.py", "_scan_blocks"),
}


def udf_profile(spark) -> dict:
    """Cumulative seconds of the oracle and DOM phases inside the Python
    UDFs, from the ``perf`` UDF profiler's pstats; cleared after reading."""
    out = {k: 0.0 for k in _PROFILED}
    collector = getattr(spark, "_profiler_collector", None)
    if collector is None:
        return out
    for stats in collector._perf_profile_results.values():
        for (path, _line, func), row in stats.stats.items():
            for key, (fname, fn) in _PROFILED.items():
                if func == fn and path.endswith(fname):
                    out[key] += row[3]
    collector.clear_perf_profiles()
    return out
