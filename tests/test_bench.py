"""bench.py harness pieces that run without Spark: the fresh-vs-store A/B
loop, the timed-job count reconciliation, the CLI's --mult plumbing and
the BENCH.md section renderers."""

from __future__ import annotations

import inspect
import re
import subprocess
from pathlib import Path

import pytest

import bench

BENCH_MD = Path(__file__).resolve().parent.parent / "BENCH.md"


@pytest.fixture
def flat_probe(monkeypatch):
    monkeypatch.setattr(bench, "_mp_probe", lambda procs, total=0: 1.0)


def _returns(*values):
    calls = iter(values)
    return lambda: next(calls)


def test_ab_loop_raises_on_first_diverging_trial(flat_probe):
    # calls: warm, trial 0, trial 1 — the store leg diverges in trial 0
    # only, so a loop that checks just the last trial would publish
    legs = {
        "ok": (lambda: (2, 5), lambda: (2, 5)),
        "x": (lambda: (3, 7), _returns((3, 7), (3, 8), (3, 7))),
    }
    with pytest.raises(RuntimeError, match="trial 0: x"):
        bench._ab_loop(legs, trials=2, cpus="2")


def test_ab_loop_verdict_is_most_probe_stable_trial(monkeypatch):
    probes = iter([1.0, 2.0, 1.0, 1.05])  # trial drifts 2.0, then 1.05
    monkeypatch.setattr(bench, "_mp_probe", lambda procs, total=0: next(probes))
    rows, verdict = bench._ab_loop(
        {"x": (lambda: (1, 1), lambda: (1, 1))}, trials=2, cpus="2"
    )
    assert [r["probe_drift"] for r in rows] == [2.0, 1.05]
    assert set(rows[0]) >= {"x_fresh", "x_store", "x_speedup"}
    assert verdict == {"x_speedup": rows[1]["x_speedup"]}


def test_time_job_refuses_unreconciled_counts():
    with pytest.raises(RuntimeError, match="expected 5"):
        bench._time_job(lambda: 4, runs=2, expected=5)
    with pytest.raises(RuntimeError, match="warm pass 5"):
        bench._time_job(_returns(5, 5, 4), runs=2)
    count, walls = bench._time_job(lambda: 5, runs=3, expected=5)
    assert count == 5 and len(walls) == 3


@pytest.mark.parametrize(
    "argv, target, mult",
    [
        (["--iceberg", "--mult", "2"], "run_iceberg_bench", 2),
        (["--stats-incremental", "--mult", "2"], "run_stats_bench", 2),
        (["--job", "html", "--mult", "2"], "run_job", 2),
        (["--job", "pdfimg"], "run_job", bench.JOBS["pdfimg"].mult),
        (["--mult", "3"], "run_bench", 3),
    ],
)
def test_mult_reaches_the_mode(monkeypatch, capsys, argv, target, mult):
    seen = {}
    sig = inspect.signature(getattr(bench, target))

    def fake(*args, **kwargs):
        seen.update(sig.bind(*args, **kwargs).arguments)
        return {}

    monkeypatch.setattr(bench, target, fake)
    bench.main(argv)
    assert seen["mult"] == mult
    assert capsys.readouterr().out.strip() == "{}"


def test_scaling_child_gets_its_settings_on_argv(monkeypatch):
    seen = {}

    def fake_run(cmd, env, **kwargs):
        seen.update(cmd=cmd, env=env)
        return subprocess.CompletedProcess(cmd, 0, '{"value": 1.0}\n', "")

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    assert bench._one_config("/data/sf0.01", 2, 3, "html") == {"value": 1.0}
    assert seen["cmd"][2:] == [
        "--job", "html", "--mult", "3", "--runs", "2", "--no-probe"
    ]
    assert seen["env"]["SPARK_GRAFT_CPUS"] == "2"
    assert seen["env"]["SPARK_GRAFT_SF_DIR"] == "/data/sf0.01"


SCALING = {
    "low_cpus": 2, "high_cpus": 8,
    "docs_per_sec_low": 1000.0, "docs_per_sec_high": 3900.0,
    "scaling_efficiency": 0.975, "hw_mhash_low": 2.0, "hw_mhash_high": 7.6,
    "hw_scaling_efficiency": 0.95, "normalized_efficiency": 1.0,
    "trials": [{"scaling_efficiency": 0.975, "hw_scaling_efficiency": 0.95}],
    "sf": 0.1, "scale_mult": 4, "n_pages": 20000,
}


def _ab(legs):
    rows = [
        {"trial": t, "probe_drift": 1.0,
         **{f"{n}_{k}": v for n in legs
            for k, v in (("fresh", 2.0), ("store", 1.0), ("speedup", 2.0))}}
        for t in range(2)
    ]
    return {"mult": 4, "cpus": "4", "rows": rows, "outputs_identical": True,
            "verdict": {f"{n}_speedup": 2.0 for n in legs}}


SIG = {**_ab(["est", "clusters"]), "n_docs": 20000, "sig_setup_sec": 1.5}
IVF = {**_ab(["ivf", "srp"]), "n_vecs": 16000, "n_cells": 64,
       "srp_config": [8, 32], "ivf_setup_sec": 1.0, "srp_setup_sec": 2.0}


def _render_all(path, names):
    for name in names:
        bench.render_scaling(name, SCALING, path)
    bench.update_sig_ab_md(SIG, path)
    bench.update_ivf_ab_md(IVF, path)


def _blocks(text):
    """[(heading line, block)] split at '## ' lines; the top block's
    heading is ''."""
    return [
        (b.split("\n", 1)[0] if b.startswith("## ") else "", b)
        for b in re.split(r"(?m)^(?=## )", text)
    ]


# the top block (exam, '') and every section a renderer owns
RENDERED = {
    "",
    *(bench.JOBS[n].heading for n in bench.JOBS if n != "exam"),
    *(s for s in bench._BENCH_SECTIONS if "-store A/B" in s),
}


def test_renderers_upsert_in_place_and_are_idempotent(tmp_path):
    original = BENCH_MD.read_text()
    path = tmp_path / "BENCH.md"
    path.write_text(original)
    _render_all(str(path), bench.JOBS)
    once = path.read_text()
    before, after = _blocks(original), _blocks(once)
    assert [h for h, _ in after] == [h for h, _ in before]
    assert RENDERED <= {h for h, _ in before}
    for (head, old), (_, new) in zip(before, after):
        if head in RENDERED:
            assert new != old and ("3900.0" in new or "| 1 | 2.0 |" in new), head
        else:
            assert new == old, head
    _render_all(str(path), bench.JOBS)
    assert path.read_text() == once


def test_renderers_insert_at_canonical_positions(tmp_path):
    # strip every rendered block, then render in reverse order: each must
    # land where the in-place render put it
    path = tmp_path / "BENCH.md"
    path.write_text(BENCH_MD.read_text())
    _render_all(str(path), bench.JOBS)
    expected = path.read_text()
    path.write_text(
        "".join(b for h, b in _blocks(expected) if h not in RENDERED)
    )
    bench.update_ivf_ab_md(IVF, str(path))
    bench.update_sig_ab_md(SIG, str(path))
    for name in reversed(list(bench.JOBS)):
        bench.render_scaling(name, SCALING, str(path))
    assert path.read_text() == expected
    order = [
        i
        for h, _ in _blocks(expected)
        for i, s in enumerate(bench._BENCH_SECTIONS)
        if h.startswith(s)
    ]
    assert order == sorted(order) and len(order) == len(bench._BENCH_SECTIONS)
