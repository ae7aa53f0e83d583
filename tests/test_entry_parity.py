"""Local mirror of the driver's CORRECTNESS gate: every queries() entry with
an oracle_sql() twin must match DuckDB exactly (row count + schema column
names + order-insensitive values) at sf0.01."""

from __future__ import annotations

import os
import tempfile
from decimal import Decimal

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c] if not isinstance(row, tuple) else row[cols.index(c)]
            if isinstance(v, Decimal):
                v = float(v)
            if isinstance(v, float):
                if v != v:  # pandas renders NULL numerics as NaN on BOTH
                    v = None  # engines; NaN != NaN would flag agreement
                else:
                    v = round(v, 6)
                    if v == -0.0:
                        v = 0.0
            if hasattr(v, "timestamp"):  # datetime
                v = v.isoformat()
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def _kind(dtype) -> str:
    """Collapse a pandas dtype to the kind that matters for a value-hash:
    int-ish, float-ish, bool, datetime, or object/string."""
    k = dtype.kind  # i u f b M O ...
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    return k


@pytest.fixture(autouse=True)
def _release_cache(spark):
    """Operators persist intermediates (shingle/signature frames) owned by
    no one across queries; drop them between cases so the 45+-query module
    doesn't accumulate orphaned cache blocks on one session."""
    yield
    spark.catalog.clearCache()


_RESULTS: dict[str, dict] = {}
TIMINGS_PATH = os.path.join(tempfile.gettempdir(), "enem_parity_timings.json")
RESULTS_PATH = os.path.join(tempfile.gettempdir(), "enem_parity_results.json")


@pytest.fixture(scope="module", autouse=True)
def _write_timings():
    """Two artifacts per full battery run: per-query Spark wall timings
    (regression attribution without a driver round), and a
    CORRECTNESS_r{N}.json-shaped record per query (rows/schema/hash/err) —
    the committed PARITY_r{N}.json that covers every pair whether or not
    the driver's fixed 50-query sample reached it."""
    yield
    if _RESULTS:
        import json

        with open(TIMINGS_PATH, "w") as fh:
            json.dump(
                {
                    "sf": 0.01,
                    "spark_sec": {
                        k: v["spark_sec"] for k, v in sorted(_RESULTS.items())
                    },
                },
                fh,
            )
        with open(RESULTS_PATH, "w") as fh:
            json.dump(dict(sorted(_RESULTS.items())), fh, indent=1)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    assert name in QUERIES, f"oracle {name} has no queries() entry"
    # ONE execution per engine: rows AND dtypes both come from the same
    # pandas frame (the heavy dedup queries would otherwise run twice)
    import time as _time

    rec = _RESULTS[name] = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
        "spark_sec": None,
    }
    try:
        t0 = _time.perf_counter()
        spdf = QUERIES[name](spark, SF_DIR).toPandas()
        rec["spark_sec"] = round(_time.perf_counter() - t0, 3)
        cols = list(spdf.columns)
        odf = duck.execute(ORACLES[name]).df()
    except Exception as ex:  # recorded, then surfaced as the test failure
        rec["err"] = f"{type(ex).__name__}: {ex}"[:300]
        raise
    duck_cols = list(odf.columns)
    rec["spark_rows"] = len(spdf)
    rec["oracle_rows"] = len(odf)
    rec["rows_match"] = len(spdf) == len(odf)

    # The driver compares via pandas, where dtype KIND matters: DuckDB
    # HUGEINT (sum of INT/BIGINT) becomes float64 while Spark's bigint stays
    # int64, and "99111.0" != "99111" under a stringified value-hash even
    # though the Python values are equal ints. Mirror that strictness.
    sp_kinds = {c: _kind(d) for c, d in spdf.dtypes.items()}
    du_kinds = {c: _kind(d) for c, d in odf.dtypes.items()}
    kind_mism = {
        c: (sp_kinds.get(c), du_kinds.get(c))
        for c in set(cols) | set(duck_cols)
        if sp_kinds.get(c) != du_kinds.get(c)
    }
    rec["schema_match"] = sorted(duck_cols) == sorted(cols) and not kind_mism
    assert sorted(duck_cols) == sorted(cols), (
        f"{name}: column mismatch spark={cols} duck={duck_cols}"
    )
    spark_rows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
    duck_rows = [
        tuple(r) for r in odf[cols].itertuples(index=False, name=None)
    ]
    assert not kind_mism, (
        f"{name}: pandas dtype-kind mismatch (driver hash would differ): {kind_mism}"
    )

    got = normalize(spark_rows, list(range(len(cols))))
    exp = normalize(duck_rows, list(range(len(cols))))
    rec["hash_match"] = got == exp
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    mism = [(g, e) for g, e in zip(got, exp) if g != e]
    assert not mism, f"{name}: {len(mism)} mismatching rows; first: {mism[0]}"


def test_no_duplicate_registry_keys():
    """Python dict literals SILENTLY drop duplicate keys (later wins):
    a re-registered query name shadows the old pair without any error and
    parity keeps passing by luck of ordering — the round-4 operator
    collision. Parse the driver module's AST and reject any duplicate
    string key in a dict literal."""
    import ast

    src = open(entry_mod.__file__).read()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Dict):
            keys = [
                k.value
                for k in node.keys
                if isinstance(k, ast.Constant) and isinstance(k.value, str)
            ]
            dupes = {k for k in keys if keys.count(k) > 1}
            assert not dupes, (
                f"duplicate dict keys at line {node.lineno}: {sorted(dupes)}"
            )


def test_every_query_has_oracle_or_is_declared():
    # every queries() entry now has an oracle twin — the flagship pair is
    # checked against the MATERIALIZED pure-Python expected tables
    undeclared = set(QUERIES) - set(ORACLES)
    assert undeclared == set(), undeclared


def test_bench_headline_covers_every_query():
    # every driver query gets a per-round perf datapoint; a query added to
    # queries() without a bench.HEADLINE row would silently drop out of the
    # recorded timing profile
    import bench

    assert set(bench.HEADLINE) == set(QUERIES), {
        "unbenched": sorted(set(QUERIES) - set(bench.HEADLINE)),
        "stale": sorted(set(bench.HEADLINE) - set(QUERIES)),
    }


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns == [
        "url",
        "seq",
        "subject",
        "question_num",
        "ID",
        "correct_answer",
        "question_text",
    ]
    assert entry_mod.q_extract_questions(spark, SF_DIR).count() > 0
    assert len(rows) > 0
