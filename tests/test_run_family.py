"""Run-id namespaces of the shared ``runs`` ledger (`lineage.RunFamily`),
without Spark: every store's formatter keeps its literal ids, each family
parses only its own ids, and a config mismatch is refused."""

from __future__ import annotations

import pytest

from enem_spark import sigindex, statstore, vecindex

OWN_ID = {
    sigindex.SIGS: "sig128x16_000001",
    vecindex.IVFS: "ivf64d32_000002",
    vecindex.SRPS: "srp8x4d32_000003",
    statstore.STATS: "stats12q4_000004c",
    statstore.TERMS: "terms4x2048m8_000005",
}
# ids other writers put in the same ledger: ice runs, stream batches and
# their replay suffix, exam/stream flushes, takedowns
FOREIGN = (
    "ice000000000007",
    "html_batch_000000000003f000001",
    "batch_2",
    "flush_3",
    "takedown000000000001",
)


def test_formatters_return_literal_ids():
    assert sigindex.sig_run_id(128, 16, 1) == "sig128x16_000001"
    assert vecindex.ivf_run_id(64, 32, 2) == "ivf64d32_000002"
    assert vecindex.srp_run_id(8, 4, 32, 3) == "srp8x4d32_000003"
    assert statstore.stats_run_id(12, 4, 4, compaction=True) == "stats12q4_000004c"
    assert statstore.term_run_id(4, 2048, 8, 5) == "terms4x2048m8_000005"


@pytest.mark.parametrize("family", list(OWN_ID), ids=lambda f: f.template)
def test_each_family_parses_only_its_own_ids(family):
    ledger = set(OWN_ID.values()) | set(FOREIGN)
    runs = family.runs(ledger)
    assert len(runs) == 1
    config, n, compaction = runs[0]
    assert family.run_id(*config, n, compaction=compaction) == OWN_ID[family]
    assert family.runs(ledger, config) == runs


def test_run_one_million_parses():
    ids = {sigindex.sig_run_id(128, 16, n) for n in (999_999, 1_000_000)}
    assert "sig128x16_1000000" in ids
    runs = sigindex.SIGS.runs(ids, (128, 16))
    assert sorted(n for _, n, _ in runs) == [999_999, 1_000_000]
    assert sigindex.SIGS.next_n(runs) == 1_000_001


def test_next_n_starts_at_one():
    assert statstore.STATS.next_n([]) == 1


@pytest.mark.parametrize(
    "family, ids, config, match",
    [
        (sigindex.SIGS, {"sig64x8_000001"}, (128, 16), "one index, one config"),
        (vecindex.IVFS, {"ivf64d32_000001"}, (32, 32), "one index, one config"),
        (vecindex.SRPS, {"srp8x4d32_000001"}, (8, 4, 16), "one index, one config"),
        (statstore.STATS, {"stats12q4_000001"}, (6, 4), "one store, one config"),
        (statstore.TERMS, {"terms4x2048m8_000001"}, (4, 64, 8), "one store, one config"),
    ],
)
def test_mismatched_config_raises(family, ids, config, match):
    with pytest.raises(ValueError, match=match):
        family.runs(ids, config)


def test_cursor_read_refuses_mixed_configs():
    with pytest.raises(ValueError, match="mixed configs"):
        statstore.STATS.runs({"stats12q4_000001", "stats6q4_000002"})


def test_active_ids_start_at_latest_compaction():
    ids = {
        statstore.stats_run_id(12, 4, 1),
        statstore.stats_run_id(12, 4, 2),
        statstore.stats_run_id(12, 4, 3, compaction=True),
        statstore.stats_run_id(12, 4, 4),
    }
    runs = statstore.STATS.runs(ids, (12, 4))
    assert sorted(statstore.STATS.active_ids(runs)) == [
        "stats12q4_000003c",
        "stats12q4_000004",
    ]
