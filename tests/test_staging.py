"""Stagers cache what they derive from a corpus under the process temp
dir (``TMPDIR``), never a hard-coded ``/tmp``, keyed by corpus and source,
built once and published whole."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pandas as pd
import pytest

import enem_spark
from enem_spark import staging_path, textops

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def staging_dir(tmp_path, monkeypatch):
    """A private temp dir for the stagers."""
    d = tmp_path / "tmpdir"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


def _corpus(sf, doc_ids) -> str:
    sf.mkdir(exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": doc_ids,
            "text": [f"texto {i} um dois" for i in doc_ids],
            "lang": ["pt"] * len(doc_ids),
            "source": ["enem.example"] * len(doc_ids),
        }
    ).to_parquet(sf / "documents.parquet")
    return str(sf)


def test_stager_writes_under_tempdir(tmp_path, monkeypatch):
    sf = tmp_path / "sf_tiny"
    sf.mkdir()
    pd.DataFrame({"doc_id": [1, 2], "text": ["um dois", "tres"]}).to_parquet(
        sf / "documents.parquet"
    )
    scratch = tmp_path / "tmpdir"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))

    path = textops.stage_compression_expected(str(sf))

    assert os.path.dirname(path) == str(scratch)
    assert os.path.basename(path).startswith("enem_comp_sf_tiny_")
    assert pd.read_parquet(path)["doc_id"].tolist() == [1, 2]
    assert path == staging_path("comp", str(sf), ".parquet")


_KILL_AT_OVERWRITE = """
import os, sys
from enem_spark.sources import icetable

commit = icetable.commit_pandas


def dying(table, pdf, schema, operation, sequence):
    if operation == "overwrite":
        os._exit(9)
    return commit(table, pdf, schema, operation, sequence)


icetable.commit_pandas = dying
icetable.stage_ice_pages(sys.argv[1])
"""


def test_killed_ice_staging_is_rebuilt_on_retry(tmp_path, staging_dir):
    from enem_spark.sources import icetable

    sf = _corpus(tmp_path / "sf_ice", list(range(12)))
    killed = subprocess.run(
        [sys.executable, "-c", _KILL_AT_OVERWRITE, sf],
        env={**os.environ, "TMPDIR": str(staging_dir), "PYTHONPATH": REPO},
        cwd=REPO,
    )
    assert killed.returncode == 9

    staged = icetable.stage_ice_pages(sf)

    snaps = icetable.IceTable(None, staged["table"]).snapshots()
    assert [s["operation"] for s in snaps] == [
        "create", "append", "overwrite", "append",
    ]
    assert snaps[staged["snap_new"]]["operation"] == "overwrite"
    assert snaps[staged["snap_delta"]]["sequence"] == icetable.SEQ_DELTA


def test_rewritten_corpus_is_restaged_in_process(tmp_path, staging_dir):
    sf = _corpus(tmp_path / "sf_rw", [1, 2])
    first = textops.stage_compression_expected(sf)
    assert pd.read_parquet(first)["doc_id"].tolist() == [1, 2]

    _corpus(tmp_path / "sf_rw", [7, 8, 9])
    second = textops.stage_compression_expected(sf)

    assert second != first
    assert pd.read_parquet(second)["doc_id"].tolist() == [7, 8, 9]


def test_changed_source_gives_new_path_and_rebuild(tmp_path, staging_dir, monkeypatch):
    from enem_spark import stage

    sf = _corpus(tmp_path / "sf_src", [1])
    builds = []

    def build(tmp):
        builds.append(tmp)
        pd.DataFrame({"build": [len(builds)]}).to_parquet(tmp)

    first = stage("probe", sf, build, ".parquet")
    assert stage("probe", sf, build, ".parquet") == first
    assert len(builds) == 1

    monkeypatch.setitem(
        enem_spark._FILE_MD5, os.path.abspath(textops.__file__), "edited"
    )
    second = stage("probe", sf, build, ".parquet")

    assert second != first
    assert len(builds) == 2
    assert pd.read_parquet(second)["build"].tolist() == [2]
    assert pd.read_parquet(first)["build"].tolist() == [1]


def test_failed_build_leaves_nothing(tmp_path, staging_dir):
    from enem_spark import stage

    sf = _corpus(tmp_path / "sf_fail", [1])

    def build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "half.parquet"), "w") as f:
            f.write("torn")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        stage("broken", sf, build)

    assert not os.path.exists(staging_path("broken", sf, code=build))
    assert os.listdir(staging_dir) == []


@pytest.mark.parametrize("as_dir", [True, False])
def test_losing_a_publish_race_keeps_the_winner(tmp_path, staging_dir, as_dir):
    from enem_spark import stage

    sf = _corpus(tmp_path / "sf_race", [1])

    def write(path, text):
        if as_dir:
            os.makedirs(path)
            path = os.path.join(path, "part")
        with open(path, "w") as f:
            f.write(text)

    def build(tmp):
        write(tmp, "loser")
        # another process publishes while this one is still building
        write(staging_path("race", sf, code=build), "winner")

    path = stage("race", sf, build)

    with open(os.path.join(path, "part") if as_dir else path) as f:
        assert f.read() == "winner"
    assert os.listdir(staging_dir) == [os.path.basename(path)]


def test_dead_builders_tmp_is_removed_and_a_live_ones_stays(tmp_path, staging_dir):
    from enem_spark import stage

    sf = _corpus(tmp_path / "sf_sweep", [1])

    def build(tmp):
        pd.DataFrame({"x": [1]}).to_parquet(tmp)

    path = staging_path("sweep", sf, ".parquet", build)
    exited = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    )
    dead = int(exited.stdout)
    os.makedirs(f"{path}.tmp-{dead}-0123456789ab")  # a killed dir build
    open(f"{path}.tmp-{dead}-ba9876543210", "w").close()  # a killed file build
    live = f"{path}.tmp-{os.getpid()}-0123456789ab"
    os.makedirs(live)
    other = f"{staging_path('other', sf)}.tmp-{dead}-0123456789ab"
    os.makedirs(other)

    assert stage("sweep", sf, build, ".parquet") == path

    assert sorted(os.listdir(staging_dir)) == sorted(
        os.path.basename(p) for p in (path, live, other)
    )
