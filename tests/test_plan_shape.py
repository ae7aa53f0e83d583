"""Physical-plan regression guards.

These assert the *shape* of the flagship plan, not its results — the bug
class they catch (silently doubled UDF evaluation, lost pushdown, lost
partition pruning, accidental driver-side collect) passes every correctness
test while wrecking 100 TB runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from enem_spark import corpus
from enem_spark.extract import ExtractorConfig, extract_questions


@pytest.fixture(scope="module")
def plan(spark, tmp_path_factory):
    """Executed-plan string for extraction over a kind-partitioned store."""
    store = str(tmp_path_factory.mktemp("plan") / "pages")
    pages = corpus.pages_dataframe(
        spark, corpus.CorpusConfig(seed=2, n_exams=2, pages_per_exam=4)
    ).withColumn(
        "kind", F.when(F.col("url").contains("_PV_"), "PV").otherwise("GB")
    )
    pages.write.partitionBy("kind").parquet(store)
    df = extract_questions(
        spark.read.parquet(store), ExtractorConfig(output_type="json")
    )
    return df._jdf.queryExecution().executedPlan().toString()


def test_page_udf_evaluates_once(plan):
    """Exactly ONE Python crossing: the page stage's single MapInPandas
    node, and no ArrowEvalPython beside it — a second crossing (a scalar
    UDF, or the stage planned twice) would run the page function twice
    per page."""
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan


def test_scan_pushdown_present(plan):
    """lang/url predicates must reach the parquet scan."""
    assert "PushedFilters: [" in plan
    assert "EqualTo(lang,pt)" in plan


def test_answer_keys_join_is_broadcast(plan):
    """The key table must broadcast — a shuffled join here would move the
    full question set for a ~180-row/exam dimension."""
    assert "BroadcastHashJoin" in plan


def test_kind_partition_pruning(plan):
    """With a physical `kind` column, the GB dimension scan must prune
    partitions rather than regexp-scan every page row."""
    assert "PartitionFilters" in plan
    # the GB-side scan filters on the partition column value
    assert "kind" in plan.split("PartitionFilters", 1)[1][:400]


def test_no_cartesian_or_nested_loop(plan):
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_image_sink_plan_no_shuffle(spark, tmp_path_factory):
    """materialize_images must stay embarrassingly parallel: one Arrow
    crossing, zero Exchange (shuffle) nodes, and the image-marker prefilter
    sits BELOW the UDF as a JVM predicate."""
    from enem_spark.extract import materialize_images

    store = str(tmp_path_factory.mktemp("imgplan") / "pages")
    pages = corpus.pages_dataframe(
        spark, corpus.CorpusConfig(seed=4, n_exams=2, pages_per_exam=4)
    )
    pages.write.parquet(store)
    plan = (
        materialize_images(spark.read.parquet(store))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_iceberg_read_plan(spark):
    """The icetable read must deliver Iceberg-grade plans: manifest-level
    file pruning (fewer files listed than the snapshot holds), residual
    filters pushed into the parquet scan, and column pruning to the
    projected schema (html/text never read for a url/lang projection)."""
    from datetime import datetime

    from enem_spark.sources import icetable as it

    staged = it.stage_ice_pages("/root/testdata/sf0.001")
    t = it.IceTable(spark, staged["table"])
    filters = [("warc_ts", ">=", datetime(2024, 1, 3)), ("lang", "=", "pt")]
    files, report = t.plan_files(filters, as_of=it.SEQ_NEW)
    assert report["files_kept"] < report["files_total"]
    plan = (
        t.read(filters, as_of=it.SEQ_NEW)
        .select("url", "lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(warc_ts" in plan
    assert "ReadSchema: struct<url:string,warc_ts:timestamp,lang:string>" in plan
    assert "html" not in plan.split("ReadSchema")[1][:120]


def test_icerun_extraction_plan(spark, tmp_path_factory):
    """The icetable extraction stage: ONE Arrow crossing (MapInPandas), no
    cartesian/nested-loop joins, and the content-address (xxhash64+md5)
    computed JVM-side below the UDF — never in Python."""
    from pyspark.sql import functions as F

    from enem_spark import icerun, lineage
    from enem_spark.sources import icetable as it

    staged = it.stage_ice_pages("/root/testdata/sf0.001")
    t = it.IceTable(spark, staged["table"])
    work = icerun._latest_per_url(
        t.read().select("url", "warc_ts", "html")
    ).select(
        F.xxhash64("url", F.md5("html")).alias("doc_id"), "url", "html"
    )
    plan = (
        lineage.instrumented_html_stage(work)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "xxhash64" in plan and "md5" in plan


def test_icerun_mime_filter_below_udf(spark):
    """mime_filter is a whole-stage-codegen Filter BELOW the extraction
    UDF: binary rows die before the Arrow crossing, and the filter adds no
    Python stage of its own."""
    from pyspark.sql import functions as F

    from enem_spark import icerun, lineage
    from enem_spark.charset import mime_expr
    from enem_spark.sources import icetable as it

    staged = it.stage_ice_pages("/root/testdata/sf0.001")
    t = it.IceTable(spark, staged["table"])
    work = (
        icerun._latest_per_url(t.read().select("url", "warc_ts", "html"))
        .select(F.xxhash64("url", F.md5("html")).alias("doc_id"), "url", "html")
        .filter(mime_expr(F.col("html")).startswith("text/"))
    )
    plan = (
        lineage.instrumented_html_stage(work)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    # the mime rule table must be evaluated JVM-side: the %PDF hex rule
    # shows up in a Filter's RLIKE chain (Catalyst constant-folds the
    # outer startswith('text/') into per-branch booleans)
    assert "25504446" in plan and "RLIKE" in plan, plan
    assert any(
        "Filter CASE WHEN RLIKE" in line for line in plan.splitlines()
    ), plan


def test_bucketed_join_is_exchange_free(spark, tmp_path_factory):
    """Two tables bucketed by the same key/count sort-merge-join with ZERO
    Exchange — the co-location lever bucketstore exists for. The identical
    join over plain parquet reads of the SAME files shuffles both sides
    (negative control: the property comes from the catalog bucket spec,
    not the data)."""
    import os

    from enem_spark import bucketstore

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    names = bucketstore.stage_bucketed_pair(spark, sf)
    # tiny test tables would otherwise plan as broadcast joins, which have
    # a BroadcastExchange regardless of layout — force the SMJ path the
    # bucket spec exists for (at 10^12 rows neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketstore.colocated_join(
            spark, names["docs"], names["scores"], ["doc_id"]
        )
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p, p
        assert "SortMergeJoin" in p, p

        # negative control: path-reads of the same data lose the bucket spec
        def loc_of(name):
            rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            return [r["data_type"] for r in rows if r["col_name"] == "Location"][0]

        plain = spark.read.parquet(loc_of(names["docs"]).replace("file:", "")).join(
            spark.read.parquet(loc_of(names["scores"]).replace("file:", "")),
            "doc_id",
        )
        pp = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in pp, pp

        # same rows either way (layout is a physical property, not semantics)
        assert sorted(j.select("doc_id").toPandas()["doc_id"]) == sorted(
            plain.select("doc_id").toPandas()["doc_id"]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_point_read_prunes_buckets(spark):
    """An equality filter on the bucket key scans 1 of N buckets — the
    point-read path a signature-index probe takes against a bucketed
    store."""
    import os

    from enem_spark import bucketstore

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    names = bucketstore.stage_bucketed_pair(spark, sf)
    some_id = bucketstore.read_bucketed(spark, names["docs"]).select(
        "doc_id"
    ).first()["doc_id"]
    # a bare point read has no operator that needs the bucket distribution,
    # so the planner's autoBucketedScan turns the bucketed scan (and with
    # it the pruning) off — force it on, as a probe-heavy deploy would
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        q = bucketstore.read_bucketed(spark, names["docs"]).filter(
            F.col("doc_id") == int(some_id)
        )
        p = q._jdf.queryExecution().executedPlan().toString()
        assert f"SelectedBucketsCount: 1 out of {bucketstore.N_BUCKETS}" in p, p
        assert q.count() == 1
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")


def test_merge_touched_file_scan_projects_keys_only(spark, tmp_path_factory):
    """IceTable.merge's touched-file planning scan must read ONLY the key
    column (url) — at web scale that is the difference between planning
    over key bytes and re-reading every html payload."""
    import pandas as pd

    from enem_spark.sources import icetable as it

    tmp = str(tmp_path_factory.mktemp("mplan") / "tbl")
    rows = []
    for i in range(20):
        rows.append(
            {
                "url": f"https://s.example.org/doc/{i}",
                "warc_ts": pd.Timestamp(it.EPOCH_S + i * 86400, unit="s"),
                "html": f"<p>{i}</p>".encode(),
                "text": f"doc {i}",
                "lang": "pt",
            }
        )
    pdf = pd.DataFrame(rows, columns=[f.name for f in it.PAGES_ICE_SCHEMA.fields])
    t = it.IceTable.create(
        spark, tmp, spark.createDataFrame(pdf, schema=it.PAGES_ICE_SCHEMA),
        (it.Transform("p_day", "days", "warc_ts"),), sequence=1,
    )
    captured = []
    # patch the CONCRETE DataFrame class (Spark 4's classic subclass
    # overrides collect, so patching the pyspark.sql.DataFrame base is a
    # no-op for method lookup)
    cls = type(spark.range(1))
    orig = cls.collect

    def spy(self):
        captured.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self)

    cls.collect = spy
    try:
        src = pdf.head(3).copy()
        src["text"] = "fixed"
        t.merge(
            spark.createDataFrame(src, schema=it.PAGES_ICE_SCHEMA),
            ["url"], sequence=2,
        )
    finally:
        cls.collect = orig
    touched_plans = [p for p in captured if "_ice_file" in p]
    assert touched_plans, "touched-file scan not captured"
    scan = touched_plans[-1]
    assert "ReadSchema: struct<url:string>" in scan, scan
