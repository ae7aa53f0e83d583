"""In-memory spans recorded around the program's layer boundaries.

Nothing inside ``enem_spark`` records spans: the traced run swaps module
attributes for timing wrappers (and pyspark action methods for wrappers
that also tag the Spark job with the calling ``enem_spark`` function), then
restores them. Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans as dicts: id, name, start, end (epoch seconds), parent, op.

    Each thread keeps its own stack of open spans; a span opened on a
    thread with no open span (the streaming engine calls foreachBatch on
    its own thread) is parented to ``root``, the op's entry span."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self.root: int | None = None
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple] = []

    def _new_id(self) -> int:
        with self._lock:
            self._ids += 1
            return self._ids

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else self.root

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        sid = self._new_id()
        with self._lock:
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "op": self.op}
            )
        return sid

    @contextmanager
    def span(self, name: str):
        sid = self._new_id()
        parent = self.current()
        st = self._stack()
        st.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            st.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": time.time(),
                     "parent": parent, "op": self.op}
                )

    # -- attribute swapping ------------------------------------------------

    def _timed(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def wrap_function(self, module, attr: str) -> None:
        """Time ``module.attr`` everywhere it is called: the attribute is
        swapped in every loaded ``enem_spark`` module that holds the same
        function object, so ``from x import f`` call sites are timed too."""
        orig = getattr(module, attr)
        wrapper = self._timed(f"{module.__name__.split('.')[-1]}.{attr}", orig)
        for m in [m for n, m in list(sys.modules.items()) if n.startswith("enem_spark")]:
            for key in [k for k, v in vars(m).items() if v is orig]:
                setattr(m, key, wrapper)
                self._restore.append((m, key, orig))

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        setattr(cls, attr, self._timed(name, orig))
        self._restore.append((cls, attr, orig))

    def tag_action(self, cls, attr: str, kind: str) -> None:
        """Wrap a pyspark action so it records a span and runs its Spark
        jobs under a job description naming the calling ``enem_spark``
        function. Nested actions (``first`` calls ``collect``) are tagged
        once, by the outermost."""
        orig = cls.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            if getattr(tracer._local, "in_action", False):
                return orig(obj, *args, **kwargs)
            name = f"spark.{kind}"
            if kind == "write" and args:
                name = f"spark.write:{table_of(str(args[0]))}"
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            with tracer.span(name) as sid:
                prev = sc.getLocalProperty("spark.job.description")
                sc.setJobDescription(f"{caller()} {name} span={sid} op={tracer.op}")
                tracer._local.in_action = True
                try:
                    return orig(obj, *args, **kwargs)
                finally:
                    tracer._local.in_action = False
                    sc.setLocalProperty("spark.job.description", prev)

        setattr(cls, attr, wrapper)
        self._restore.append((cls, attr, orig))

    def restore(self) -> None:
        for obj, key, orig in reversed(self._restore):
            setattr(obj, key, orig)
        self._restore.clear()


def table_of(path: str) -> str:
    """Table name of a run-store path: ``<out>/<table>/run_id=<id>`` or
    ``<out>/<table>``."""
    parts = path.rstrip("/").split("/")
    return parts[-2] if parts[-1].startswith("run_id=") and len(parts) > 1 else parts[-1]


def caller() -> str:
    """``module.function`` of the innermost ``enem_spark`` frame on the
    stack, or ``perfbench`` when the benchmark itself calls."""
    f = sys._getframe(1)
    while f is not None:
        mod = f.f_globals.get("__name__", "")
        if mod.startswith("enem_spark"):
            return f"{mod.split('.', 1)[-1]}.{f.f_code.co_name}"
        f = f.f_back
    return "perfbench"


# -- arithmetic over recorded spans ------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the part of its interval that its
    child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in kids.get(s["id"], ())
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


def depths(spans: list[dict]) -> dict[int, int]:
    by_id = {s["id"]: s for s in spans}
    out: dict[int, int] = {}

    def depth(sid: int) -> int:
        if sid not in out:
            p = by_id[sid]["parent"]
            out[sid] = 0 if p is None or p not in by_id else depth(p) + 1
        return out[sid]

    for s in spans:
        depth(s["id"])
    return out


def ancestors(spans: list[dict], sid: int) -> list[str]:
    """Names of the span's ancestors, nearest first."""
    by_id = {s["id"]: s for s in spans}
    out = []
    p = by_id[sid]["parent"]
    while p is not None and p in by_id:
        out.append(by_id[p]["name"])
        p = by_id[p]["parent"]
    return out


def coverage(spans: list[dict], root: dict, min_depth: int = 2) -> float:
    """Share of ``root``'s wall time covered by spans at least
    ``min_depth`` levels below it — with the op at depth 0 and the entry
    point call at depth 1, the share its layers explain."""
    d = depths(spans)
    base = d[root["id"]]
    inside = [
        (max(s["start"], root["start"]), min(s["end"], root["end"]))
        for s in spans
        if d[s["id"]] >= base + min_depth and s["op"] == root["op"]
        and min(s["end"], root["end"]) > max(s["start"], root["start"])
    ]
    return union_length(inside) / max(root["end"] - root["start"], 1e-9)
