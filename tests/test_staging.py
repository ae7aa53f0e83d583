"""Stagers cache what they derive from a corpus under the process temp
dir (``TMPDIR``), never a hard-coded ``/tmp``."""

from __future__ import annotations

import os
import tempfile

import pandas as pd

from enem_spark import staging_path, textops


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
