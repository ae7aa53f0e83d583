"""Tests of the benchmark itself: seeded inputs, the digest check, span
arithmetic and BENCHMARK.json. Run with

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, layers  # noqa: E402
from perfbench.run import _unit, tail_percentile  # noqa: E402
from perfbench.spans import coverage, self_times, union_length  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

N_DOCS = 96


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _stage(tmp_path, tag: str, seed: int) -> str:
    base = str(tmp_path / tag)
    docs = inputs.documents(seed, N_DOCS)
    inputs.write_exam_store(f"{base}/exam", docs, 4)
    pages = inputs.html_pages(docs, refetch_every=10)
    inputs.write_stream_dir(f"{base}/stream", pages, 4)
    inputs.write_ice_table(f"{base}/ice", pages, 2)
    return base


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = _stage(tmp_path, "a", 5), _stage(tmp_path, "b", 5)
    for sub in ("exam", "stream", "ice/data"):
        fa, fb = _files(f"{a}/{sub}"), _files(f"{b}/{sub}")
        assert fa and fa == fb, sub
    # file-source arrival order: mtimes increase with event time
    names = sorted(os.listdir(f"{a}/stream"))
    mtimes = [os.path.getmtime(f"{a}/stream/{n}") for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_other_seed_changes_content_keeps_counts_and_sizes():
    d1, d2 = inputs.documents(1, 2000), inputs.documents(2, 2000)
    assert len(d1) == len(d2)
    assert (d1["text"] != d2["text"]).mean() > 0.99
    p1, p2 = inputs.html_pages(d1, refetch_every=50), inputs.html_pages(d2, refetch_every=50)
    assert len(p1) == len(p2)
    s1, s2 = p1["html"].map(len).sum(), p2["html"].map(len).sum()
    assert abs(s1 - s2) / s1 < 0.05
    e1, e2 = inputs.exam_pages(d1)[0], inputs.exam_pages(d2)[0]
    assert len(e1) == len(e2)
    assert abs(e1["text"].str.len().sum() / e2["text"].str.len().sum() - 1) < 0.05


def test_stream_files_are_in_event_time_order(tmp_path):
    pages = inputs.html_pages(inputs.documents(3, N_DOCS))
    inputs.write_stream_dir(str(tmp_path), pages, 4)
    import pyarrow.parquet as pq

    bounds = [
        (t.column("warc_ts").to_pylist()[0], t.column("warc_ts").to_pylist()[-1])
        for t in (pq.read_table(tmp_path / n) for n in sorted(os.listdir(tmp_path)))
    ]
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert hi <= lo


def test_digest_catches_a_single_altered_row():
    rows = inputs.html_reference(inputs.html_pages(inputs.documents(4, N_DOCS)))
    base = inputs.digest(rows)
    assert inputs.digest(list(reversed(rows))) == base  # order-independent
    altered = [list(r) for r in rows]
    altered[17][1] = altered[17][1] + " "
    assert inputs.digest(altered) != base
    altered = [list(r) for r in rows]
    altered[3][2] += 1
    assert inputs.digest(altered) != base
    assert inputs.digest(rows + rows[:1]) != base  # a duplicated row
    assert inputs.digest(rows[1:]) != base  # a missing row


def test_exam_reference_counts_every_question():
    docs = inputs.documents(6, 48)
    rows = inputs.exam_reference(docs)
    assert len(rows) == 2 * len(docs)  # 2 questions per bridge page
    assert inputs.digest(rows) == inputs.digest(inputs.exam_reference(docs))


def test_self_time_on_a_hand_built_tree():
    spans = [
        {"id": 1, "name": "op", "start": 0.0, "end": 10.0, "parent": None, "op": 1},
        {"id": 2, "name": "a", "start": 1.0, "end": 4.0, "parent": 1, "op": 1},
        {"id": 3, "name": "b", "start": 3.0, "end": 6.0, "parent": 1, "op": 1},
        {"id": 4, "name": "c", "start": 2.0, "end": 3.0, "parent": 2, "op": 1},
        # a child reaching past its parent only counts inside the parent
        {"id": 5, "name": "d", "start": 5.0, "end": 7.0, "parent": 3, "op": 1},
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5)  # children a, b cover [1, 6]
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3 - 1)
    assert st[4] == pytest.approx(1)
    assert st[5] == pytest.approx(2)
    assert coverage(spans, spans[0], min_depth=1) == pytest.approx(0.6)  # [1, 7]
    assert coverage(spans, spans[0], min_depth=2) == pytest.approx(0.3)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3)


def test_parse_metric_and_time():
    assert layers.parse_metric("1544.0 B") == 1544
    assert layers.parse_metric("total (min, med, max)\n2.0 MiB (1.0 MiB, ...)") == 2 * 2**20
    assert layers.parse_metric("total (min, med, max)\n1.5 s (0.1 s, ...)") == 1.5
    assert layers.parse_metric("350 ms") == pytest.approx(0.35)
    assert layers.parse_metric("9,600") == 9600
    assert layers.parse_time("2026-01-01T00:00:01.500GMT") == pytest.approx(1767225601.5)
    assert layers.parse_time("2026-01-01T00:00:01.500Z") == pytest.approx(1767225601.5)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile([3.0, 1.0, 2.0]) == (0.5, 2.0)
    q, v = tail_percentile([float(i) for i in range(40)])
    assert q == 0.75 and v == 30.0  # 10 samples lie beyond


def test_benchmark_json_records_every_workload_and_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    whys = {w["name"]: w["why"] for w in bench["workloads"]}
    assert set(whys) == set(WORKLOADS)
    assert all(whys.values())
    assert [m["name"] for m in bench["per_layer"]] == list(layers.PER_LAYER)
    assert all(m["unit"] == _unit(m["name"]) for m in bench["per_layer"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


@pytest.mark.skipif(shutil.which("java") is None, reason="needs a JVM")
def test_spark_digest_equals_python_digest(tmp_path):
    from pyspark.sql import SparkSession

    rows = [
        ["https://a/1", "olá\nmundo", 3, 2, 9],
        ["https://a/2", "", 0, 0, 0],
        ["https://a/3", None, 1, 0, 0],
    ]
    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path))
        .getOrCreate()
    )
    try:
        df = spark.createDataFrame(
            rows, "url string, main_text string, n_blocks int, n_content_blocks int, main_chars int"
        )
        assert inputs.spark_digest(df, inputs.HTML_COLS) == inputs.digest(rows)
    finally:
        spark.stop()
