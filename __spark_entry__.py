"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: full extraction pipeline over pages synthesized
                deterministically from /root/testdata/sf0.001/documents.parquet.
queries()     — one entry per implemented operator (SURVEY.md §2 + the
                training-data operator set); each callable (spark, sf_dir) -> DF.
oracle_sql()  — ANSI-SQL twins runnable by DuckDB on the same parquet views.
                EVERY queries() entry has one: the flagship extraction pair
                (a stateful cross-page string machine, not SQL-expressible
                directly) is checked against MATERIALIZED expected tables
                staged by the pure-Python twin in enem_spark/expected.py.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from enem_spark import simsearch, stage, staging_path, textops
from enem_spark.extract import ExtractorConfig, extract_questions
from enem_spark.sources.documents_bridge import pages_from_documents

SF001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def q_extract_questions(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_from_documents(_t(spark, sf_dir, "documents"))
    cfg = ExtractorConfig(output_type="json", process_images=False)
    return extract_questions(pages, cfg).select(
        "url",
        "seq",
        "subject",
        "question_num",
        "ID",
        "correct_answer",
        "question_text",
    )


def q_extract_question_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-url structured JSON question spans (the north-rule artifact):
    one row per page url with the ordered [start,end) character spans of its
    question segments in header-stripped page coordinates."""
    pages = pages_from_documents(_t(spark, sf_dir, "documents"))
    cfg = ExtractorConfig(output_type="json", process_images=False, keep_unparsed=True)
    q = extract_questions(pages, cfg)
    spans = F.array_sort(
        F.collect_list(
            F.struct("seq", "span_start", "span_end", "question_num", "parse_ok")
        )
    )
    return q.groupBy("url").agg(F.to_json(spans).alias("spans_json"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_questions(spark, SF001)


# ---------------------------------------------------------------------------
# reference relational operators (SURVEY.md §2) on the driver testdata
# ---------------------------------------------------------------------------

def q_route_case(spark, sf_dir):
    """A1 subject routing: static-range CASE + aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity").between(1, 5), "eng")
        .when(F.col("l_quantity").between(6, 10), "spa")
        .when(F.col("l_quantity").between(11, 50), "lang")
        .otherwise("other")
    )
    return (
        li.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def q_lookup_join(spark, sf_dir):
    """J1 answer-key lookup: broadcast left equi-join + coalesce miss default."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left")
        .withColumn(
            "segment", F.coalesce(F.col("c_mktsegment"), F.lit("não achou a questão"))
        )
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
    )


def q_running_window(spark, sf_dir):
    """X3 running counter: sum over rows BEFORE the current one."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.coalesce(F.sum("value").over(w), F.lit(0.0)), 4).alias("prior_sum"),
    )


def q_ordered_concat(spark, sf_dir):
    """A2 ordered group-concat: in-order string accumulation per group."""
    ev = _t(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(ordered, lambda s: s.event_type), ""
        ).alias("event_seq")
    )


def q_segment_explode(spark, sf_dir):
    """X2 segmentation: one-to-many explode with positional sequence."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    # EXPLICIT whitespace class — Java \s+ includes \x0B, the DuckDB
    # twin's RE2 \s+ does not (CLAUDE.md tokenizer rule)
    toks = F.split(F.trim(F.col("text")), textops.TOKEN_WS_RE)
    return docs.select(
        "doc_id", F.posexplode(toks).alias("seq", "token")
    )


def q_numbering_gaps(spark, sf_dir):
    """F6 numbering-with-gaps: sequence assigned before filtering."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("seq", F.row_number().over(w))
        .filter(F.col("event_type") == "click")
        .select("user_id", "event_id", "seq")
    )


def q_filter_normalize(spark, sf_dir):
    """P1/P3/F3: normalize marker case, strip a pattern, filter on marker."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.replace(F.col("text"), F.lit("Spark"), F.lit("spark"))
    cleaned = F.regexp_replace(norm, r"\bvalue\b", "")
    return docs.filter(
        F.instr(norm, "spark") > 0
    ).select(
        "doc_id",
        F.length(cleaned).alias("clean_len"),
        F.instr(norm, "spark").alias("first_marker"),
    )


def q_latest_snapshot(spark, sf_dir):
    """Crawl-recency dedup: keep each user's latest event (CC re-crawl
    semantics: newest warc_ts wins per url). row_number desc over ts."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q_anti_join_missing(spark, sf_dir):
    """Left-anti join (the checkpoint-resume primitive): orders whose
    customer is absent from a filtered dimension."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


def q_rollup_revenue(spark, sf_dir):
    """Rollup aggregate (subtotal lattice) over returnflag/linestatus."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def q_tpch_q1_like(spark, sf_dir):
    """Partial-aggregatable scan-heavy aggregate (map-side combine showcase)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# training-data operators on documents/embeddings
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return textops.exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark, sf_dir):
    # PARITY config (8 perms / 4 bands): small enough for the DuckDB twin;
    # the engine default is 128/16 (textops module constants), whose recall
    # is measured in tests/test_minhash_quality.py
    return textops.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.5,
        perms=textops.PARITY_PERMS,
        bands=textops.PARITY_BANDS,
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    return textops.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


def q_simhash(spark, sf_dir):
    return textops.simhash(_t(spark, sf_dir, "documents"))


TOKEN_BUDGET = 8000  # tokens; scale-independent greedy quality cut


def q_token_budget_select(spark, sf_dir):
    return textops.token_budget_select(
        _t(spark, sf_dir, "documents"), budget_tokens=TOKEN_BUDGET
    )


def q_compression_ratio(spark, sf_dir):
    """zlib compression-ratio junk signal (textops.compression_ratio): one
    Arrow crossing carrying only the compressed length back, ratio JVM-side.
    Oracle is MATERIALIZED (stage_compression_expected — same pure zlib
    kernel, no Spark); the twin computes the ratio in SQL from the staged
    integer lengths."""
    return textops.compression_ratio(_t(spark, sf_dir, "documents"))


def _c4_docs(docs):
    """Deterministic C4-rule exercise lines over the punctuation-free corpus
    (same planting idiom as _chrome_docs / q_pii_scrub): every doc gets one
    keepable content line; doc_id residues cycle the drop rules. concat_ws
    skips NULL branches on both engines."""
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Welcome to the site"),
            F.concat(F.col("text"), F.lit(".")),
            F.lit("Please enable javascript to continue now."),
            F.lit("Buy now!"),
            F.when(
                did % 5 != 0,
                F.concat(
                    F.lit(
                        "This sentence number two is real. "
                        "And here is sentence three for "
                    ),
                    F.col("source"),
                    F.lit("."),
                ),
            ),
            F.when(did % 7 == 0, F.lit("lorem ipsum dolor sit amet.")),
            F.when(did % 11 == 0, F.lit("var x = { a: 1 };")),
            F.when(did % 13 == 0, F.lit("win big at the casino tonight!")),
        ).alias("text"),
    )


def q_c4_filters(spark, sf_dir):
    """C4 (Raffel et al. 2020 §2.2) line+page heuristics over deterministic
    planted lines — line-keep predicate + lorem/brace/badword/min-sentence
    page rules, all codegen array functions (no UDF, no shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    return textops.c4_filters(_c4_docs(docs))


def q_mojibake_repair(spark, sf_dir):
    """ftfy-style double-encoded UTF-8 repair (textops.mojibake_repair):
    deterministic planted mojibake (module-level constants), ONE Arrow
    crossing, digest + length accounting JVM-side. MATERIALIZED oracle
    (stage_mojibake_expected — same pure kernel + same constants)."""
    docs = _t(spark, sf_dir, "documents")
    return textops.mojibake_repair(textops.plant_mojibake(docs))


def q_bloom_dedup(spark, sf_dir):
    """Fixed-memory Bloom membership probe (textops.bloom_dedup): the even
    doc_ids are the committed corpus, every doc probes the filter. PARITY m
    (2048 bits) so sf0.01 exercises real bit collisions; engine default is
    BLOOM_M=4M. COMPUTING twin — both engines build the same filter from
    md5-derived positions."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    return textops.bloom_dedup(docs, corpus, m=textops.PARITY_BLOOM_M)


def q_simhash_near_dup(spark, sf_dir):
    """64-bit banded simhash near-dup pairs over planted duplicates: exact
    copies (doc_id%10==0 -> +1000000, hamming 0 guaranteed) and one-token
    mutants (%10==5 -> +2000000, whatever radius the token lands at — both
    engines agree bit-for-bit). At 64 bits the raw corpus has no birthday
    collisions, so the planted pairs ARE the signal."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    exact = docs.filter(did % 10 == 0).select(
        (did + 1000000).alias("doc_id"), "text"
    )
    near = docs.filter(did % 10 == 5).select(
        (did + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" almostdup")).alias("text"),
    )
    return textops.simhash_near_dup(
        docs.unionByName(exact).unionByName(near)
    )


def q_langid(spark, sf_dir):
    return textops.langid(_t(spark, sf_dir, "documents"))


def q_script_detect(spark, sf_dir):
    """Dominant writing script per document (textops.script_detect):
    per-script Unicode-class character counts in one codegen projection,
    first-rule-wins tie-break. Every script branch is PLANTED
    deterministically (doc_id % 11 selects a rule's sample text, repeated;
    slot 9 plants a letterless doc -> 'unknown'; the rest keep the real
    latin corpus). The DuckDB twin is GENERATED from the same
    textops.SCRIPT_RULES table — classes, samples, and tie order cannot
    fork."""
    from enem_spark.textops import SCRIPT_RULES, script_detect

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 11
    planted = F.col("text")
    planted = F.when(m == 9, F.lit("123 456 --- !!!")).otherwise(planted)
    for i, (_name, _cls, sample) in reversed(list(enumerate(SCRIPT_RULES))):
        planted = F.when(m == i, F.repeat(F.lit(sample + " "), 5)).otherwise(
            planted
        )
    return script_detect(docs.select("doc_id", planted.alias("text")))


def q_quality_score(spark, sf_dir):
    return textops.quality_score(_t(spark, sf_dir, "documents"))


def q_gopher_filters(spark, sf_dir):
    return textops.gopher_filters(_t(spark, sf_dir, "documents"))


def q_repetition_filters(spark, sf_dir):
    return textops.repetition_filters(_t(spark, sf_dir, "documents"))


def q_token_count(spark, sf_dir):
    return textops.token_count(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark, sf_dir):
    return textops.fingerprint(_t(spark, sf_dir, "documents"))


def q_stratified_sample(spark, sf_dir):
    return textops.stratified_sample(_t(spark, sf_dir, "documents"))


def q_train_split(spark, sf_dir):
    """Deterministic train/val/test split (textops.train_split): banded on
    md5(text) so byte-identical duplicates share a split and additions
    never reassign existing rows; zero shuffles."""
    return textops.train_split(_t(spark, sf_dir, "documents"))


def q_shuffle_export(spark, sf_dir):
    """Deterministic global-shuffle export manifest (textops.shuffle_export):
    seed-keyed pseudo-random order, hash-uniform shards, per-shard
    positions from ONE balanced shuffle. The twin recomputes the md5
    order key, the hex-prefix shard id, and the window positions from
    first principles — the manifest is a pure function of (seed, rows)."""
    return textops.shuffle_export(_t(spark, sf_dir, "documents")).select(
        "shard", "pos", "doc_id", F.md5("text").alias("text_md5")
    )


def q_token_histogram(spark, sf_dir):
    return textops.token_histogram(_t(spark, sf_dir, "documents"))


def q_cap_per_host(spark, sf_dir):
    """Per-domain quota sampling (textops.cap_per_host): deterministic
    content-hash lottery, at most `cap` docs per source host."""
    return textops.cap_per_host(_t(spark, sf_dir, "documents"))


def q_doc_chunk(spark, sf_dir):
    """Fixed token-window chunking with overlap (textops.doc_chunk):
    the context-window preparation step — every doc becomes >=1 chunks of
    <=32 tokens, consecutive chunks 24 tokens apart."""
    return textops.doc_chunk(_t(spark, sf_dir, "documents"))


def q_mixture_sample(spark, sf_dir):
    """Balanced domain-mixture sampling (textops.mixture_sample):
    waterfill every stratum down to the smallest one by exact integer
    content-hash lottery. Stratified on `lang` — the sf tables'  sources
    are equal-sized by construction (waterfill would be the identity
    there), while the language mix is 3:1 skewed, so this exercises a
    real downsample."""
    return textops.mixture_sample(_t(spark, sf_dir, "documents"), strata_col="lang")


def q_dsir_weights(spark, sf_dir):
    """DSIR-style hashed-unigram importance weights (textops.dsir_weights):
    per-doc mean log-likelihood ratio, target = lang='en' slice vs raw
    crawl, quantized to integer micro-nats for engine-exact sums."""
    return textops.dsir_weights(_t(spark, sf_dir, "documents"))


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE vocabulary induction (bpe.bpe_merges): the first 6
    merges learned from the corpus word-frequency table, deterministic
    tiebreak, unrolled computing DuckDB twin."""
    from enem_spark import bpe

    return bpe.bpe_merges(_t(spark, sf_dir, "documents"))


def q_bpe_encode(spark, sf_dir):
    """BPE tokenizer application (bpe.bpe_encode_stats): learn the 6-round
    merge chain, then encode every document via the distinct-word
    vocabulary (merge chain runs once per distinct word, one equi-join
    re-attaches subword counts). Per-doc (n_words, n_subwords, fertility);
    all JVM-side built-ins."""
    from enem_spark import bpe

    return bpe.bpe_encode_stats(_t(spark, sf_dir, "documents"))


BM25_QUERY_TERMS = ["spark", "hash", "window"]
BM25_K = 10


def q_bm25_search(spark, sf_dir):
    """BM25 keyword retrieval (retrieval.bm25_search): top-10 documents for
    a 3-term query; postings filtered to the query terms before any
    shuffle, broadcast idf, TakeOrdered top-k, rank on the rounded score."""
    from enem_spark import retrieval

    return retrieval.bm25_search(
        _t(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=BM25_K
    )


def q_nb_classifier(spark, sf_dir):
    """Model-based quality filter (classify.nb_classifier): multinomial
    Naive Bayes trained by pure aggregation on the lang=='en' slice, scored
    in-sample; the learned model is one row per term, all corpus scalars
    are broadcast 1-row aggregates."""
    from enem_spark.classify import nb_classifier

    return nb_classifier(_t(spark, sf_dir, "documents"))


def q_pack_sequences(spark, sf_dir):
    """Greedy training-sequence packing (packing.pack_sequences): one
    applyInPandas pass per deterministic doc_id-shard; oracle is
    MATERIALIZED (same pure kernel over DuckDB-computed token counts)."""
    from enem_spark import packing

    return packing.pack_sequences(_t(spark, sf_dir, "documents"))


def q_minhash_jaccard_estimate(spark, sf_dir):
    return textops.minhash_jaccard_estimate(
        _t(spark, sf_dir, "documents"),
        perms=textops.PARITY_PERMS,
        bands=textops.PARITY_BANDS,
    )


def _incr_new(docs):
    """Simulated re-crawl increment over the documents table: every
    doc_id%3==0 row re-appears verbatim under a shifted id (exact dup);
    every %3==1 row re-appears with a two-token tail (near-dup, not exact);
    %3==2 rows are absent (genuinely new content never re-crawled)."""
    base = F.col("doc_id") + F.lit(1_000_000)
    exact = docs.filter(F.col("doc_id") % 3 == 0).select(
        base.alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 3 == 1).select(
        base.alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz1 zz2")).alias("text"),
    )
    return exact.unionByName(near)


def q_incr_dedup_exact(spark, sf_dir):
    """Incremental exact dedup: new crawl increment vs existing hash store."""
    docs = _t(spark, sf_dir, "documents")
    return textops.incremental_exact_dedup(_incr_new(docs), docs)


def q_incr_dedup_minhash(spark, sf_dir):
    """Incremental near-dup: new increment probes the existing signature
    store (estimate-only, new-vs-existing band join)."""
    docs = _t(spark, sf_dir, "documents")
    return textops.incremental_minhash_dedup(
        _incr_new(docs),
        docs,
        threshold=0.5,
        perms=textops.PARITY_PERMS,
        bands=textops.PARITY_BANDS,
    )


def _sig_store_dir(spark, sf_dir):
    """Stage (memoized per process) a committed PARITY-config signature
    index over the documents table, built in TWO maintenance runs — evens
    first, then everyone — so the staging itself exercises the anti-join
    resume path. The probe query below then hash-matching the plain
    incremental SQL twin certifies the store's write -> commit-gate ->
    read round trip, icetable-staging style."""
    from enem_spark import sigindex

    def build(tmp):
        docs = _t(spark, sf_dir, "documents")
        p, b = textops.PARITY_PERMS, textops.PARITY_BANDS
        sigindex.update_signature_index(
            spark, tmp, source=docs.filter(F.col("doc_id") % 2 == 0),
            perms=p, bands=b,
        )
        sigindex.update_signature_index(spark, tmp, source=docs, perms=p, bands=b)

    return stage("sigidx", sf_dir, build)


def q_sig_probe_near_dup(spark, sf_dir):
    """Store-backed incremental near-dup (sigindex.probe_near_dups): the
    new increment LSH-joins the PERSISTED committed signature index — the
    existing corpus's text is read zero times. Same semantics as
    incr_dedup_minhash (shared estimator), so the twin is the same SQL."""
    from enem_spark import sigindex

    out = _sig_store_dir(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return sigindex.probe_near_dups(
        spark,
        out,
        _incr_new(docs),
        threshold=0.5,
        perms=textops.PARITY_PERMS,
        bands=textops.PARITY_BANDS,
    )


def _messy_urls(docs):
    """Deterministic messy-url synthesis (documents carry no url column):
    four variants cycling on doc_id — uppercase scheme/host + default port
    + utm + fragment; default http port + trailing utm; mixed-case host +
    trailing slash; non-http scheme whose port must survive."""
    sid = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 4
    return docs.select(
        "doc_id",
        F.when(
            v == 0,
            F.concat(
                F.lit("HTTPS://WWW."), F.col("source"),
                F.lit(".Example.com:443/Path/"), sid,
                F.lit("/?utm_source=a&id="), sid, F.lit("#frag"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("http://"), F.col("source"),
                F.lit(".example.com:80/path/"), sid,
                F.lit("?id="), sid, F.lit("&utm_campaign=b"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".Example.Com/path/"), sid, F.lit("/"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("ftp://Files."), F.col("source"),
                F.lit(".com:21/path/"), sid,
            )
        )
        .alias("url"),
    )


def q_url_canonicalize(spark, sf_dir):
    """CC-pipeline url canonicalization (the re-crawl dedup key)."""
    urls = _messy_urls(_t(spark, sf_dir, "documents"))
    return urls.select(
        "doc_id", textops.canonicalize_url(F.col("url")).alias("canonical_url")
    )


def q_source_percentiles(spark, sf_dir):
    """Per-source corpus length profile (exact percentiles)."""
    return textops.source_length_percentiles(_t(spark, sf_dir, "documents"))


def _chrome_docs(docs):
    """Documents wrapped in per-source template chrome (nav header + legal
    footer) — what raw crawled pages look like before main-content
    extraction. Deterministic, no RNG."""
    return docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("NAVBAR HOME ABOUT "), F.col("source"), F.lit("\n"),
            F.col("text"), F.lit("\n"),
            F.lit("COPYRIGHT "), F.col("source"), F.lit(" ALL RIGHTS"),
        ).alias("text"),
    )


def q_boilerplate_strip(spark, sf_dir):
    """Cross-document template removal: the injected chrome must vanish,
    the content lines must survive in order."""
    docs = _t(spark, sf_dir, "documents")
    return textops.strip_boilerplate(_chrome_docs(docs), min_frac=0.5)


def q_pii_scrub(spark, sf_dir):
    """PII redaction over text with deterministic planted PII (the raw
    corpus has none): one email + one IP + one phone per document."""
    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), sid, F.lit("@example.com or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel +55 11 9999-00"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    return textops.pii_scrub(planted)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: every doc sharing an 8-gram with the
    benchmark slice (doc_id % 50 == 0) is flagged with its hit count."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return textops.decontaminate(docs, bench, n=8)


def q_dedup_minhash_estimate(spark, sf_dir):
    """Scale-path near-dup: estimate-only, NO shingle verification join."""
    return textops.minhash_estimate_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.25,
        perms=textops.PARITY_PERMS,
        bands=textops.PARITY_BANDS,
    )


def q_dedup_minhash_sig_store(spark, sf_dir):
    """Round-5 sig_store path certified through the driver gate: the SAME
    estimate-only near-dup as `dedup_minhash_estimate`, but signatures
    come from the COMMITTED signature index (staged by _sig_store_dir —
    the same store sig_probe_near_dup reads) instead of per-query
    re-signing. The DuckDB twin is deliberately the FRESH-computation SQL
    (_minhash_est_only_sql): hash equality IS the store-path identity
    guarantee (textops._store_signatures contract — stored signatures
    plus on-the-fly signing of uncovered docs must be indistinguishable
    from signing everything)."""
    out = _sig_store_dir(spark, sf_dir)
    return textops.minhash_estimate_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.25,
        perms=textops.PARITY_PERMS,
        bands=textops.PARITY_BANDS,
        sig_store=out,
    )


def q_tfidf_top_terms(spark, sf_dir):
    return textops.tfidf_top_terms(_t(spark, sf_dir, "documents"))


def q_top_terms(spark, sf_dir):
    return textops.top_terms(_t(spark, sf_dir, "documents"))


def q_corpus_curate(spark, sf_dir):
    return textops.corpus_curate(_t(spark, sf_dir, "documents"))


def q_source_stats(spark, sf_dir):
    return textops.source_stats(_t(spark, sf_dir, "documents"))


def q_props_extract(spark, sf_dir):
    return textops.props_extract(_t(spark, sf_dir, "events"))


def q_sessionize(spark, sf_dir):
    return textops.sessionize(_t(spark, sf_dir, "events"))


def q_bucketed_join(spark, sf_dir):
    """Co-located join over bucketBy stores (enem_spark/bucketstore.py):
    docs and per-doc scores are both bucketed by doc_id into the same
    bucket count, so the join plans with ZERO Exchange — the shuffle was
    paid once at write time and amortizes over every maintenance join at
    10^12 rows. The zero-Exchange property itself is plan-guarded in
    tests/test_plan_shape.py; this entry certifies the joined VALUES."""
    from pyspark.sql import functions as F

    from enem_spark import bucketstore

    names = bucketstore.stage_bucketed_pair(spark, sf_dir)
    left = bucketstore.read_bucketed(spark, names["docs"])
    right = bucketstore.read_bucketed(spark, names["scores"]).filter(
        F.col("score") < 500
    )
    return left.join(right, "doc_id").select(
        "doc_id", "source", "text_len", "score"
    )


def q_sentence_stats(spark, sf_dir):
    return textops.sentence_stats(_t(spark, sf_dir, "documents"))


def q_unicode_normalize(spark, sf_dir):
    """Unicode repair (textops.unicode_normalize): NFC + newline
    canonicalization + control/zero-width strip in ONE Arrow crossing over
    (doc_id, text); digest + change accounting JVM-side, no shuffle."""
    return textops.unicode_normalize(_t(spark, sf_dir, "documents"))


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail selection (textops.ccnet_buckets): per-lang
    perplexity ranking banded by exact integer (row_number, count)
    arithmetic; NULLS LAST so token-free docs tail identically in both
    engines."""
    return textops.ccnet_buckets(_t(spark, sf_dir, "documents"))


def q_char_lm_score(spark, sf_dir):
    """CCNet-style char-bigram LM perplexity signal (self-trained)."""
    return textops.char_lm_score(_t(spark, sf_dir, "documents"))


def q_char_entropy(spark, sf_dir):
    return textops.char_entropy(_t(spark, sf_dir, "documents"))


def q_dup_span_stats(spark, sf_dir):
    """Exact-substring dedup profile (Lee et al. rolling-window rebuild);
    parity window size so the DuckDB lead-chain twin stays short — the
    engine default is textops.DUP_SPAN_W=50."""
    return textops.duplicate_spans(
        _t(spark, sf_dir, "documents"), w=textops.PARITY_SPAN_W
    )


def q_dedup_spans_clean(spark, sf_dir):
    """Exact-substring dedup CUT: corpus with every non-canonical
    duplicated window's tokens removed (first occurrence kept)."""
    return textops.remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), w=textops.PARITY_SPAN_W
    )


def q_url_filter(spark, sf_dir):
    """Crawl-frontier URL filter: 8 deterministic variants per doc cycling
    every rule (good / scheme / ad host / tracker host / binary ext / deep
    path / long query / long url), classified by the codegen rule chain."""
    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 8
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/a/b/"), sid))
        .when(v == 1, F.concat(F.lit("ftp://files."), F.col("source"), F.lit(".com/"), sid))
        .when(v == 2, F.concat(F.lit("https://ads.example.com/c/"), sid))
        .when(v == 3, F.concat(F.lit("http://trk.tracker"), sid, F.lit(".net/x")))
        .when(v == 4, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/img/"), sid, F.lit(".JPG")))
        .when(v == 5, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/a/b/c/d/e/f/g/h/i/"), sid))
        .when(v == 6, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/s?q="), F.repeat(F.lit("x"), 200)))
        .otherwise(F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/"), F.repeat(F.lit("p/"), 4), F.repeat(F.lit("y"), 600)))
    )
    urls = docs.select("doc_id", url.alias("url"))
    return textops.crawl_url_filter(urls)


def q_url_normalize(spark, sf_dir):
    """Crawl-url normalization (textops.url_normalize, the param-sorting
    DataFrame sibling of q:`url_canonicalize`'s column helper): 6
    deterministic variants per doc cycling every rule — tracking params +
    unsorted query + fragment, default :80/:443 ports, uppercase
    scheme/host, empty path, fragment containing '?', non-http
    passthrough, duplicate param names. The DuckDB twin COMPUTES the same
    rule chain (regexp extracts + list_filter/list_sort), so the hash
    certifies the normalization itself, not staged output."""
    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 6
    url = (
        F.when(v == 0, F.concat(F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM:443/Path/"), sid, F.lit("?utm_source=x&b=2&a=1#frag")))
        .when(v == 1, F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com:80?z=1&utm_campaign=spring&&y="), sid))
        .when(v == 2, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/a/"), sid, F.lit("?gclid=abc")))
        .when(v == 3, F.concat(F.lit("ftp://Files."), F.col("source"), F.lit(".com/"), sid))
        .when(v == 4, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/b/"), sid, F.lit("#sec?notaquery")))
        .otherwise(F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com/c/"), sid, F.lit("?b=2&a=1&a=0")))
    )
    return textops.url_normalize(docs.select("doc_id", url.alias("url")))


def q_dedup_clusters(spark, sf_dir):
    # parity LSH config — must mirror the DuckDB twin's candidate set
    return textops.dedup_clusters(
        _t(spark, sf_dir, "documents"),
        threshold=0.5,
        perms=textops.PARITY_PERMS,
        bands=textops.PARITY_BANDS,
    )


def q_dedup_clusters_store(spark, sf_dir):
    """The clustering rung of the committed-index story: identical
    semantics to `dedup_clusters`, but the LSH pair stage reads the
    COMMITTED signature index (the same store `dedup_minhash_sig_store`
    and `sig_probe_near_dup` consume) instead of re-signing the corpus
    per call. The twin is deliberately the FRESH recursive-components
    SQL — hash equality certifies that stored signatures plus on-the-fly
    signing of uncovered docs are indistinguishable from signing
    everything (textops._store_signatures contract), all the way through
    the connected-components labels."""
    out = _sig_store_dir(spark, sf_dir)
    return textops.dedup_clusters(
        _t(spark, sf_dir, "documents"),
        threshold=0.5,
        perms=textops.PARITY_PERMS,
        bands=textops.PARITY_BANDS,
        sig_store=out,
    )


def q_ann_cosine_topk(spark, sf_dir):
    return simsearch.cosine_topk(_t(spark, sf_dir, "embeddings"))


def q_ann_srp_bucket(spark, sf_dir):
    # dim passed explicitly: the driver KNOWS its tables are 64-dim, and
    # skipping the one-row probe action keeps the benched plan minimal
    return simsearch.srp_bucket_topk(
        _t(spark, sf_dir, "embeddings"), dim=simsearch.SRP_DIM
    )


def q_ann_ivf_topk(spark, sf_dir):
    return simsearch.ivf_topk(_t(spark, sf_dir, "embeddings"))


def _ivf_store_dir(spark, sf_dir):
    """Stage (memoized per process) a committed IVF index over the
    embeddings table, built in TWO maintenance runs — the centroid ids +
    evens first, then everyone — so the staging itself exercises the
    pinned-centroid resume path (run 2 assigns against STORED centroids).
    The probe query below then hash-matching the fresh-assignment SQL twin
    certifies the store's write -> commit-gate -> read round trip,
    sig-store style."""
    from enem_spark import vecindex

    c, d = simsearch.IVF_CELLS, simsearch.SRP_DIM

    def build(tmp):
        emb = _t(spark, sf_dir, "embeddings")
        # first run must carry vec_id < n_cells: the creation run derives
        # and pins the centroids from its own source (validated convention)
        vecindex.update_ivf_index(
            spark,
            tmp,
            emb.filter((F.col("vec_id") < c) | (F.col("vec_id") % 2 == 0)),
            n_cells=c,
            dim=d,
        )
        vecindex.update_ivf_index(spark, tmp, emb, n_cells=c, dim=d)
        # the srp tag family shares the dir (and its runs table) — two-run
        # staging exercises its anti-join resume the same way
        vecindex.update_srp_index(
            spark, tmp, emb.filter(F.col("vec_id") % 2 == 0),
            bits=simsearch.SRP_BITS, tables=simsearch.SRP_TABLES, dim=d,
        )
        vecindex.update_srp_index(
            spark, tmp, emb,
            bits=simsearch.SRP_BITS, tables=simsearch.SRP_TABLES, dim=d,
        )

    return stage("ivfidx", sf_dir, build)


def q_ann_ivf_store(spark, sf_dir):
    """Store-backed IVF ANN certified through the driver gate: the SAME
    search as `ann_ivf_topk`, but centroids and cell assignments come
    from the COMMITTED vecindex (staged by _ivf_store_dir in two
    exactly-once maintenance runs) instead of re-scoring the corpus per
    query. The DuckDB twin is deliberately the FRESH-assignment SQL
    (_ivf_sql): hash equality IS the store-path identity guarantee
    (simsearch._store_assignments contract — stored cells plus
    on-the-fly assignment of uncovered vectors must be indistinguishable
    from assigning everything)."""
    out = _ivf_store_dir(spark, sf_dir)
    return simsearch.ivf_topk(
        _t(spark, sf_dir, "embeddings"),
        index_store=out,
        dim=simsearch.SRP_DIM,
    )


def q_ann_ivf_probe(spark, sf_dir):
    """The SERVING shape certified through the driver gate: EXTERNAL
    query vectors (a (query_id, embedding) frame) searched against the
    corpus through the COMMITTED vecindex (simsearch.ivf_probe_topk —
    the vecindex analog of sig_probe_near_dup). The driver derives the
    query frame from the same 5 vectors ivf_topk uses, so the twin is
    the SAME fresh _ivf_sql: hash equality certifies that serving an
    external batch through the store equals the in-corpus search."""
    out = _ivf_store_dir(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    ext = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return simsearch.ivf_probe_topk(
        emb, ext, index_store=out, dim=simsearch.SRP_DIM
    )


def q_ann_srp_store(spark, sf_dir):
    """Store-backed SRP ANN certified through the driver gate: the SAME
    search as `ann_srp_bucket`, but the bits*tables projection tags come
    from the COMMITTED vecindex srp family (staged by _ivf_store_dir)
    instead of re-hashing the corpus per query. Twin = the fresh-tagging
    SQL (_srp_sql): hash equality IS the store-path identity guarantee
    (simsearch._store_tags contract)."""
    out = _ivf_store_dir(spark, sf_dir)
    return simsearch.srp_bucket_topk(
        _t(spark, sf_dir, "embeddings"),
        dim=simsearch.SRP_DIM,
        index_store=out,
    )


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (simsearch.pq_topk): the corpus compressed
    to m=4 integer codes per vector (the memory-bounded scale path — dim
    floats become m bytes), queries ranked by exact-integer ADC distance
    against broadcast per-query lookup tables. The twin recomputes the
    codebooks, codes, and ADC sums from first principles in SQL — every
    argmin and distance is integer-exact on the 1e-6 grid, so the hash
    match certifies the whole quantize->encode->search path."""
    return simsearch.pq_topk(
        _t(spark, sf_dir, "embeddings"), dim=simsearch.SRP_DIM
    )


def q_embedding_decontaminate(spark, sf_dir):
    """Semantic decontamination (simsearch.embedding_decontaminate): flag
    corpus vectors at cosine >= 0.35 to any of the 5 designated benchmark
    vectors — SRP-bucketed candidates, broadcast benchmark side."""
    return simsearch.embedding_decontaminate(
        _t(spark, sf_dir, "embeddings"), dim=simsearch.SRP_DIM
    )


def q_kmeans_clusters(spark, sf_dir):
    """Quantized k-means (clustering.kmeans_clusters): 3 Lloyd rounds from
    the vec_id<k seed on the 1e-6 integer grid — exact, order-independent
    arithmetic, so assignments are engine-portable. Per round the driver
    sees k centroid rows; assignment is a zero-shuffle broadcast-literal
    expression."""
    from enem_spark import clustering

    return clustering.kmeans_clusters(_t(spark, sf_dir, "embeddings"))


def q_semdedup(spark, sf_dir):
    """SemDeDup (clustering.semdedup): pairwise cosine ONLY within a
    k-means cluster; drop a vector when a lower-id cluster-mate sits at
    cosine >= tau. tau=0.35 is the corpus-calibrated parity value (the
    embedding_near_dup regime); production uses ~0.9."""
    from enem_spark import clustering

    return clustering.semdedup(_t(spark, sf_dir, "embeddings"), tau=0.35)


def q_embedding_near_dup(spark, sf_dir):
    # 0.35 sits just under the synthetic embeddings' max pairwise cosine
    # (~0.51), so the check exercises non-empty results; real corpora use
    # ~0.95 for true near-dups
    return simsearch.embedding_near_dup(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, dim=simsearch.SRP_DIM
    )


def q_embedding_near_dup_store(spark, sf_dir):
    """`embedding_near_dup` with SRP tags read from the COMMITTED vector
    index (the same store `ann_srp_store` reads, staged untimed by
    _ivf_store_dir) instead of re-hashing the corpus through bits*tables
    projections per call. Twin = the fresh _near_dup_sql — hash equality
    certifies simsearch._tagged_frame's store-path identity through the
    pair join and exact cosine re-rank."""
    out = _ivf_store_dir(spark, sf_dir)
    return simsearch.embedding_near_dup(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.35,
        dim=simsearch.SRP_DIM,
        index_store=out,
    )


def q_embedding_decontaminate_store(spark, sf_dir):
    """`embedding_decontaminate` over the COMMITTED SRP tag store — the
    steady-state decontamination shape at 100 TB: benchmark vectors are
    tiny and broadcast, the corpus side's bucket tags come from the
    persisted index, so a new benchmark sweep never re-projects the
    corpus. Twin = the fresh _embedding_decon_sql."""
    out = _ivf_store_dir(spark, sf_dir)
    return simsearch.embedding_decontaminate(
        _t(spark, sf_dir, "embeddings"),
        dim=simsearch.SRP_DIM,
        index_store=out,
    )


def q_media_featurize(spark, sf_dir):
    """Media featurization with REAL container-header metadata AND real
    pixel statistics: the deterministic mixed corpus (real PNGs via
    imaging.png_encode, real PROGRESSIVE JPEGs via
    imaging.jpeg_encode_progressive, raw text) flows through the Arrow
    featurizer; format/width/height/channels/bit_depth come from actual
    PNG-IHDR/JPEG-SOF parses (multimodal.sniff_media), and
    px_mean/px_std/px_entropy come from DECODED pixels for BOTH image
    thirds (imaging.png_decode / imaging.jpeg_decode incl. SOF2;
    digest fallback only for the text third). The twin is the
    MATERIALIZED pure-Python run of the same synth + sniff + feature
    composition (stage_media_expected), so the hash certifies both
    pixel decoders over identical bytes."""
    from enem_spark.multimodal import featurize_media, synth_media_frame

    # repartition BEFORE the UDF chain: the toy sf dir is one parquet
    # file -> one scan partition, and since the jpeg third became a real
    # progressive encode/decode (~20 ms/row) a single-core Arrow stage
    # was the whole query wall (r5 bench finding). Deploy-scale inputs
    # are many-file tables, where this stage is a no-op concern; the
    # shuffle moves ~5 MB of text here.
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    ).repartition(64)
    return featurize_media(synth_media_frame(docs)).select(
        "media_id", "media_type", "n_bytes", "content_md5",
        "format", "width", "height", "channels", "bit_depth",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("px_mean"),
        F.round(F.element_at("features", 2).cast("double"), 6).alias("px_std"),
        F.round(F.element_at("features", 5).cast("double"), 6).alias("px_entropy"),
    )


def q_media_resize(spark, sf_dir):
    """Distributed image resize on the in-repo codecs: every decodable
    payload (the real-PNG third of the mixed corpus) comes back as an 8x8
    nearest-neighbor PNG (multimodal.resize_media -> imaging.png_decode /
    png_encode); undecodable payloads yield NULL (quarantine). The twin is
    the MATERIALIZED pure-Python run of the same synth + resize kernels
    (stage_media_expected), so the md5 match certifies decode -> resample
    -> re-encode byte-for-byte over identical inputs."""
    from enem_spark.multimodal import (
        RESIZE_PARITY_H,
        RESIZE_PARITY_W,
        resize_media,
        synth_media_frame,
    )

    # same single-file -> single-core hazard as q_media_featurize
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    ).repartition(64)
    return resize_media(
        synth_media_frame(docs), RESIZE_PARITY_W, RESIZE_PARITY_H
    ).select("media_id", "resized_md5", "n_resized_bytes")


def q_media_frame_sample(spark, sf_dir):
    from enem_spark.multimodal import frame_sample

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return frame_sample(docs).select(
        "media_id", "frame_idx", "frame_md5", "n_frame_bytes"
    )


def _html_pages(spark, sf_dir):
    """Input-hint-shaped synthetic crawl pages (url, html binary, lang) —
    deterministic function of the documents table; a production run reads
    `html` straight from the crawl table and this stage disappears."""
    from enem_spark import htmlops

    return htmlops.synth_html_pages(_t(spark, sf_dir, "documents"))


def q_html_main_content(spark, sf_dir):
    # DOM-heuristic main-content extraction (htmlops.extract_main_content):
    # densitometric block classifier, one Arrow crossing, no shuffle. Oracle
    # is MATERIALIZED (htmlops.stage_html_tables) — the same pure functions
    # run without Spark, so the hash check pins the full distributed path.
    from enem_spark import htmlops

    return htmlops.extract_main_content(_html_pages(spark, sf_dir))


def q_charset_decode(spark, sf_dir):
    """Charset sniffing + decode over a mixed-encoding crawl slice
    (charset.decode_stats): WHATWG-style BOM/meta/utf8/fallback detection,
    one Arrow crossing, no shuffle. Oracle is MATERIALIZED
    (charset.stage_charset_tables) — the same pure functions run without
    Spark; text_md5 pins the decoded content cross-engine."""
    from enem_spark import charset

    return charset.decode_stats(
        charset.synth_encoded_pages(_t(spark, sf_dir, "documents"))
    )


def q_mime_sniff(spark, sf_dir):
    """Magic-byte MIME triage of binary crawl payloads (charset.mime_sniff):
    100% JVM-side (hex prefix + regex, whole-stage codegen, no Python
    crossing, no shuffle). COMPUTING twin: DuckDB runs the same generated
    rule table (charset.mime_sql_case) over byte-identical staged payloads."""
    from enem_spark import charset

    pages = charset.synth_payload_pages(_t(spark, sf_dir, "documents"))
    return charset.mime_sniff(pages).select(
        "doc_id",
        "url",
        "mime",
        F.octet_length("html").cast("long").alias("n_bytes"),
    )


def q_html_strip_tags(spark, sf_dir):
    from enem_spark import htmlops

    return htmlops.html_strip_tags(_html_pages(spark, sf_dir))


def q_html_outlinks(spark, sf_dir):
    from enem_spark import htmlops

    return htmlops.html_outlinks(_html_pages(spark, sf_dir))


def q_html_title_meta(spark, sf_dir):
    from enem_spark import htmlops

    return htmlops.html_title_meta(_html_pages(spark, sf_dir))


def q_html_host_pagerank(spark, sf_dir):
    # iterative graph algorithm with a FULLY unrolled SQL twin: DuckDB
    # chains one CTE per PageRank iteration (same damping, same per-
    # iteration 9-dp rounding), so the hash check covers the iteration
    # semantics, not just the row count
    from enem_spark import htmlops

    # driver-owned persist: the harness clearCache between queries is the
    # unpersist (persist-with-owner — the owner here is the driver run)
    return htmlops.host_pagerank(_html_pages(spark, sf_dir), persist_to=[])


def q_html_host_components(spark, sf_dir):
    # connected components (site clusters) over the same host graph: the
    # Spark side iterates min-label propagation to fixpoint; the DuckDB
    # twin computes the SAME components via a recursive reachability CTE,
    # so the iterative fixpoint semantics are hash-checked end-to-end
    from enem_spark import htmlops

    return htmlops.host_components(_html_pages(spark, sf_dir))


def q_html_curate(spark, sf_dir):
    # full web-curation composition: DOM extraction (materialized-oracle
    # side) + unrolled-PageRank host prior (computing side) + keep rule
    from enem_spark import htmlops

    # driver-owned persist (released by the harness clearCache per query)
    return htmlops.curate_main_content(_html_pages(spark, sf_dir), persist_to=[])


def q_html_anchor_texts(spark, sf_dir):
    # anchor-text corpus (href + link text per anchor, document order) —
    # materialized oracle (same pure parser staged by stage_html_tables)
    from enem_spark import htmlops

    return htmlops.extract_anchor_texts(_html_pages(spark, sf_dir))


def q_html_anchor_profile(spark, sf_dir):
    # per-target-host anchor-text index; the DuckDB twin COMPUTES the
    # tokenize/count/rank pipeline over the staged anchors table
    from enem_spark import htmlops

    return htmlops.anchor_text_profile(_html_pages(spark, sf_dir))


def q_html_paragraph_langid(spark, sf_dir):
    # CCNet-style per-paragraph langid over extracted main content; the
    # DuckDB twin re-computes the per-paragraph heuristic + plurality in
    # SQL list comprehensions over the staged DOM output
    from enem_spark import htmlops

    return htmlops.paragraph_langid(
        htmlops.extract_main_content(_html_pages(spark, sf_dir))
    )


def q_html_clean_corpus(spark, sf_dir):
    # capstone composition: corpus-wide first-occurrence paragraph dedup +
    # per-paragraph langid vs document plurality -> final reassembled text
    from enem_spark import htmlops

    return htmlops.clean_paragraphs(
        htmlops.extract_main_content(_html_pages(spark, sf_dir))
    )


def q_extraction_eval(spark, sf_dir):
    # CleanEval-style extractor scoring (htmlops.extraction_eval): token-
    # multiset precision/recall/F1 of the bare tag-strip extractor against
    # the DOM classifier's main content as gold — real spread by
    # construction (strip keeps nav/ads/footer chrome, so precision < 1
    # while recall stays 1). COMPUTING twin: DuckDB re-derives both texts
    # (staged DOM output as gold, the strip regex chain over staged pages)
    # and the same multiset-F1 algebra.
    from enem_spark import htmlops

    pages = _html_pages(spark, sf_dir)
    gold = htmlops.extract_main_content(pages).select(
        "doc_id", F.col("main_text").alias("text")
    )
    extracted = htmlops.html_strip_tags(pages).select(
        "doc_id", F.col("text_stripped").alias("text")
    )
    return htmlops.extraction_eval(gold, extracted)


def q_warc_ingest(spark, sf_dir):
    """Distributed WARC-container ingestion: binaryFile scan -> one
    mapInPandas record parser (no shuffle). The oracle is the expected
    table staged from the SOURCE rows pre-encode, so the hash check
    certifies the whole encode->decode round trip of the crawl format."""
    from enem_spark.sources import warc

    staged = warc.stage_warc_files(sf_dir)
    recs = warc.read_warc(spark, staged["warc_dir"])
    return recs.filter(F.col("error").isNull()).select(
        "url",
        "warc_date",
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("html_len"),
        "http_status",
    )


def q_pdf_decode(spark, sf_dir):
    """Binary-PDF decode round trip (S1): deterministic exam-style PDFs
    are SYNTHESIZED per document (pdfbin.synth_pdf — valid classic-xref
    bytes, no timestamps) and decoded back by the from-scratch stdlib
    parser inside ONE Arrow crossing, no shuffle. The oracle is the
    expected table staged from the SOURCE lines pre-encode, certifying
    the synth->parse round trip the way the WARC twin certifies its
    container format. The same decoder is golden-gated on the REAL
    reference PDFs in tests/test_pdfbin.py (every golden question
    recovered, 102/102 answer letters equal, token recall >= 0.93)."""
    import json as _json

    import pandas as pd

    from enem_spark import pdfbin
    from enem_spark.layout import reconstruct_page

    docs = (
        _t(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(pdfbin.PDF_DECODE_DOCS)
        .select("doc_id", "text")
    )

    def roundtrip(batches):
        for b in batches:
            rows = []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                data = pdfbin.synth_pdf(pdfbin.doc_pdf_lines(text))
                for page_idx, payload in enumerate(
                    pdfbin.pdf_to_span_payloads(data)
                ):
                    t, _ = reconstruct_page(payload)
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "page_idx": page_idx,
                            "page_text": t,
                            "n_spans": len(_json.loads(payload.decode("utf-8"))),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "page_idx", "page_text", "n_spans"]
            )

    return docs.mapInPandas(
        roundtrip,
        "doc_id long, page_idx long, page_text string, n_spans long",
    )


def q_pdf_images(spark, sf_dir):
    """Image-XObject extraction (S3, reference enem_pdf_extractor.py:
    306-331): deterministic image specs (gray / PNG-predictor RGB /
    palette-indexed / CMYK / RGB+SMask) are EMBEDDED into real synthetic
    PDF bytes per document, then extracted and pixel-decoded back by
    pdfbin.extract_images + the imaging kernels inside one Arrow
    crossing. The oracle is the expected table staged from the SPECS
    before any PDF byte exists (pdfbin.expected_image_rows — direct
    kernel composition), so matching png_md5 certifies the embed ->
    parse -> inflate -> unpredict -> palette/CMYK->RGB -> PNG round
    trip. The same extractor is gated on the REAL reference PDFs in
    tests/test_pdfbin.py (golden page_images name parity)."""
    import hashlib as _hashlib

    import pandas as pd

    from enem_spark import pdfbin

    docs = (
        _t(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(pdfbin.PDF_IMAGE_DOCS)
        .select("doc_id", "text")
    )

    def roundtrip(batches):
        for b in batches:
            rows = []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                data = pdfbin.synth_pdf(
                    pdfbin.doc_pdf_lines(text),
                    pdfbin.synth_doc_images(int(doc_id)),
                )
                for rec in pdfbin.extract_images(data):
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "page_idx": rec["page_idx"],
                            "img_index": rec["img_index"],
                            "width": rec["width"],
                            "height": rec["height"],
                            "fmt": rec["fmt"],
                            "codec": rec["codec"],
                            "channels": rec["channels"],
                            "had_alpha": rec["had_alpha"],
                            "was_cmyk": rec["was_cmyk"],
                            "png_md5": _hashlib.md5(
                                rec["image"]
                            ).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "page_idx", "img_index", "width", "height",
                    "fmt", "codec", "channels", "had_alpha", "was_cmyk",
                    "png_md5",
                ],
            )

    return docs.mapInPandas(
        roundtrip,
        "doc_id long, page_idx long, img_index long, width long, "
        "height long, fmt string, codec string, channels long, "
        "had_alpha boolean, was_cmyk boolean, png_md5 string",
    )


def q_wet_export(spark, sf_dir):
    """Distributed WET export (sources/warc.wet_shards): the corpus back
    into CC's extracted-text container — content-derived shard assignment,
    url-ordered conversion records, per-record mtime=0 gzip members, so the
    whole export is a pure function of the input set. The oracle is the
    byte-level twin: the pure staging builds every shard with the SAME
    shared functions, and matching wet_md5 certifies the distributed
    assembly byte-for-byte."""
    import pandas as pd

    from enem_spark.sources import warc

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")

    def gen(batches):
        # url/date from the SAME pure functions the staging twin uses
        from enem_spark.htmlops import page_url

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": [
                        page_url(i, s)
                        for i, s in zip(pdf["doc_id"], pdf["source"])
                    ],
                    "wet_date": [
                        warc.iso_date(warc.EPOCH_S + int(i))
                        for i in pdf["doc_id"]
                    ],
                    "text": pdf["text"],
                }
            )

    frame = docs.mapInPandas(gen, "url string, wet_date string, text string")
    return warc.wet_shards(frame, n_shards=8).select(
        "shard_id", "n_records", "wet_len", "wet_md5"
    )


def q_wat_export(spark, sf_dir):
    """Distributed WAT export (sources/warc.wat_shards): per-page metadata
    envelopes (canonical JSON: title, outlinks, content length) back into
    the crawl-container format — the third artifact of the WARC/WET/WAT
    triple. Byte-level twin like wet_export: the pure staging rebuilds
    every shard with the SAME shared functions; matching wat_md5 certifies
    the distributed assembly including the envelope JSON."""
    import pandas as pd

    from enem_spark.sources import warc

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "lang"
    )

    def gen(batches):
        # url/date/payload from the SAME pure functions the staging twin uses
        from enem_spark.htmlops import html_for, page_url

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": [
                        page_url(i, s)
                        for i, s in zip(pdf["doc_id"], pdf["source"])
                    ],
                    "wat_date": [
                        warc.iso_date(warc.EPOCH_S + int(i))
                        for i in pdf["doc_id"]
                    ],
                    "html": [
                        html_for(i, t, s, g).encode()
                        for i, t, s, g in zip(
                            pdf["doc_id"],
                            pdf["text"],
                            pdf["source"],
                            pdf["lang"],
                        )
                    ],
                }
            )

    frame = docs.mapInPandas(gen, "url string, wat_date string, html binary")
    return warc.wat_shards(frame, n_shards=8).select(
        "shard_id", "n_records", "n_links", "wat_len", "wat_md5"
    )


def q_csv_ingest(spark, sf_dir):
    """CSV-container ingestion (sources/csvsrc.py): native csv source with
    an explicit schema (no inference pass), RFC-4180 quoting (embedded
    commas/quotes/newlines round-trip), and PERMISSIVE corrupt-record
    quarantine — the injected malformed row per shard (type mismatch /
    short / extra-column flavours) is quarantined, never fatal, and
    displaces no neighbour. The oracle is the expected table staged from
    the SOURCE rows pre-encode, so the hash check certifies the full
    encode->parse round trip."""
    from enem_spark.sources import csvsrc

    staged = csvsrc.stage_csv_files(sf_dir)
    recs = csvsrc.read_csv_docs(spark, staged["csv_dir"])
    # anchor a data column next to the corrupt filter, same rationale as
    # q_jsonl_ingest (never a corrupt-column-only projection)
    return recs.filter(
        F.col(csvsrc.CORRUPT_COL).isNull() & F.col("url").isNotNull()
    ).select(
        "url",
        "fetch_ts",
        F.md5("text").alias("text_md5"),
        F.length("text").cast("long").alias("text_len"),
        "lang",
        "source",
    )


def q_jsonl_ingest(spark, sf_dir):
    """JSONL-container ingestion (sources/jsonl.py): native json source
    with an explicit schema (no inference pass) and PERMISSIVE
    corrupt-record quarantine — the injected malformed line per shard is
    quarantined, never fatal, and displaces no neighbour. The oracle is
    the expected table staged from the SOURCE rows pre-encode, so the hash
    check certifies the full encode->parse round trip."""
    from enem_spark.sources import jsonl

    staged = jsonl.stage_jsonl_files(sf_dir)
    recs = jsonl.read_jsonl(spark, staged["jsonl_dir"])
    # url IS NOT NULL is the schema contract for every valid record (the
    # corrupt row puts NULLs in all data fields) — keeping it in the filter
    # anchors a data column in the scan, so a count()-pruned plan never
    # degenerates to the corrupt-column-only read the json source disallows
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    return recs.filter(
        F.col(jsonl.CORRUPT_COL).isNull() & F.col("url").isNotNull()
    ).select(
        "url",
        "fetch_ts",
        F.md5("text").alias("text_md5"),
        F.length("text").cast("long").alias("text_len"),
        "lang",
        "source",
    )


def q_iceberg_scan(spark, sf_dir):
    """Iceberg-style table scan with hidden-partition pruning: the filter is
    on the SOURCE column warc_ts; the days(warc_ts) transform prunes whole
    partition days at the manifest level before Spark ever lists a file.
    The oracle is the staged source frame pre-write, so the hash match
    certifies the full write -> manifest -> prune -> read round trip."""
    from enem_spark.sources import icetable

    staged = icetable.stage_ice_pages(sf_dir)
    t = icetable.IceTable(spark, staged["table"])
    cutoff = datetime(2024, 1, 3, 0, 0, 0)
    # pinned to the re-crawl snapshot: the staged table has since appended
    # a delta crawl (exercised by iceberg_incremental below)
    return t.read(
        [("warc_ts", ">=", cutoff)], as_of=icetable.SEQ_NEW
    ).select(
        "url",
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("html_len"),
        F.md5("text").alias("text_md5"),
        "lang",
    )


def q_iceberg_time_travel(spark, sf_dir):
    """Snapshot time travel: aggregate the FIRST crawl (as_of its logical
    sequence) after the table was since overwritten by the re-crawl — the
    read resolves the old snapshot's closed manifest set."""
    from enem_spark.sources import icetable

    staged = icetable.stage_ice_pages(sf_dir)
    t = icetable.IceTable(spark, staged["table"])
    return (
        t.read(as_of=icetable.SEQ_OLD)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).cast("long").alias("sum_text_chars"),
            F.count_distinct("url").alias("n_urls"),
        )
    )


def q_crawl_delta(spark, sf_dir):
    """Incremental-crawl CDC between the two icetable snapshots: one
    full-outer join on url over md5 content digests (wide rows never pass
    the project). The DuckDB twin recomputes the classification from the
    staged source frames."""
    from enem_spark.sources import icetable

    staged = icetable.stage_ice_pages(sf_dir)
    t = icetable.IceTable(spark, staged["table"])
    return icetable.snapshot_delta(
        t, staged["snap_old"], staged["snap_new"], key="url", content_cols=("text",)
    )


def q_iceberg_incremental(spark, sf_dir):
    """Incremental snapshot read: files added to the table AFTER the
    re-crawl snapshot (the appended delta crawl) are planned at the
    manifest level — the corpus is never rescanned. The oracle is the
    staged delta source frame, so the hash match certifies that the
    incremental plan reads exactly the appended rows, no more, no less."""
    from enem_spark.sources import icetable

    staged = icetable.stage_ice_pages(sf_dir)
    t = icetable.IceTable(spark, staged["table"])
    return t.read_incremental(from_seq=icetable.SEQ_NEW).select(
        "url",
        F.md5("html").alias("html_md5"),
        F.md5("text").alias("text_md5"),
        "lang",
    )


def q_iceberg_merge(spark, sf_dir):
    """Row-level MERGE (copy-on-write upsert) on the icetable: the fix-up
    crawl (sources/icetable.merge_frame — updates that MOVE partition via a
    45-day re-fetch, plus brand-new companion urls) is merged on url into
    the first crawl. The merge itself runs HERE, Spark-side (partition
    prune -> key-column-only touched-file scan -> survivor rewrite ->
    manifest-filter commit); the oracle is the pure-pandas expected
    post-merge frame, so the hash match certifies the whole round trip.
    Idempotent across invocations: once SEQ_MERGE is committed the query
    is a pinned as_of read."""
    from enem_spark.sources import icetable

    staged = icetable.stage_ice_merge_base(sf_dir)
    t = icetable.IceTable(spark, staged["table"])
    _guarded_rung(
        t,
        icetable.SEQ_MERGE,
        lambda: t.merge(
            spark.createDataFrame(
                icetable.merge_frame(sf_dir), schema=icetable.PAGES_ICE_SCHEMA
            ),
            ["url"],
            sequence=icetable.SEQ_MERGE,
        ),
    )
    return t.read(as_of=icetable.SEQ_MERGE).select(
        "url",
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("html_len"),
        F.md5("text").alias("text_md5"),
        "lang",
    )


def q_iceberg_compact(spark, sf_dir):
    """rewrite_data_files maintenance, driver-gated: compact the post-merge
    table (merge leaves touched partitions holding a kept file AND a new
    file) into one file per partition, then read the `replace` snapshot.
    The oracle is the SAME expected post-merge frame as iceberg_merge — a
    hash match certifies compaction is row-preserving bit-for-bit through
    the full commit->manifest->read round trip. Runs after (and depends
    on) the merge commit; idempotent via the SEQ_COMPACT watermark."""
    from enem_spark.sources import icetable

    # ensure the merge snapshot exists first (shared staging + guard)
    q_iceberg_merge(spark, sf_dir)
    staged = icetable.stage_ice_merge_base(sf_dir)
    t = icetable.IceTable(spark, staged["table"])
    _guarded_rung(
        t,
        icetable.SEQ_COMPACT,
        lambda: t.compact(sequence=icetable.SEQ_COMPACT),
    )
    return t.read(as_of=icetable.SEQ_COMPACT).select(
        "url",
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("html_len"),
        F.md5("text").alias("text_md5"),
        "lang",
    )


def q_iceberg_rollback(spark, sf_dir):
    """Metadata-only snapshot revert, driver-gated: after the merge and the
    compaction, roll the table BACK to the first-crawl snapshot (zero data
    IO — the new snapshot re-references the old manifests verbatim) and
    read it. The oracle is the first-crawl source frame staged
    independently by stage_ice_pages, so a hash match certifies the revert
    reproduces the pre-merge state bit-for-bit while the merge/compact
    reads above stay pinned to their own sequences."""
    from enem_spark.sources import icetable

    q_iceberg_compact(spark, sf_dir)
    staged = icetable.stage_ice_merge_base(sf_dir)
    t = icetable.IceTable(spark, staged["table"])

    def _rollback():
        first = next(
            s["snapshot_id"]
            for s in t.snapshots()
            if s["sequence"] == icetable.SEQ_OLD and s["operation"] != "create"
        )
        t.rollback(first, sequence=icetable.SEQ_ROLLBACK)

    _guarded_rung(t, icetable.SEQ_ROLLBACK, _rollback)
    return t.read(as_of=icetable.SEQ_ROLLBACK).select(
        "url",
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("html_len"),
        F.md5("text").alias("text_md5"),
        "lang",
    )


def _guarded_rung(t, seq, commit_fn):
    """Commit one ladder rung at most once: guarded on the committed max
    sequence, and a CommitConflict re-raises only if the rung did NOT land
    (a racing process staging the same deterministic rung is success).
    This is THE ladder protocol (CLAUDE.md: extend at the top rung only) —
    both the merge ladder and the rowdel ladder go through here."""
    from enem_spark.sources.icetable import CommitConflict

    def _max_seq():
        return max(s["sequence"] for s in t.snapshots())

    if _max_seq() < seq:
        try:
            commit_fn()
        except CommitConflict:
            if _max_seq() < seq:
                raise


def _ice_rowdel_ladder(spark, sf_dir, up_to_seq):
    """Shared driver ladder for the row-delete story (its OWN staged table,
    `pages_rowdel` — separate from the pinned three-snapshot table and the
    merge ladder): first crawl at SEQ_OLD, url-takedown `delete_rows` at
    SEQ_ROWDEL (merge-on-read: one tiny key file committed, zero data
    files rewritten), delete-materializing `purge_deletes` at SEQ_PURGE.
    Each rung commits at most once (guarded on the committed max sequence,
    CommitConflict = a racing process staged the same deterministic rung);
    every read is pinned `as_of` its own sequence, so re-runs are pinned
    reads — same protocol as the merge ladder."""
    from enem_spark.sources import icetable

    staged = icetable.stage_ice_rowdel(sf_dir)
    t = icetable.IceTable(spark, staged["table"])

    rungs = [
        (
            icetable.SEQ_ROWDEL,
            lambda: t.delete_rows(
                spark.createDataFrame(icetable.takedown_frame(sf_dir)),
                sequence=icetable.SEQ_ROWDEL,
            ),
        ),
        (icetable.SEQ_PURGE, lambda: t.purge_deletes(sequence=icetable.SEQ_PURGE)),
        (
            icetable.SEQ_CLUSTER,
            lambda: t.cluster_files(
                ["warc_ts", "url"], sequence=icetable.SEQ_CLUSTER
            ),
        ),
    ]
    for seq, fn in rungs:
        if up_to_seq >= seq:
            _guarded_rung(t, seq, fn)
    return t.read(as_of=up_to_seq).select(
        "url",
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("html_len"),
        F.md5("text").alias("text_md5"),
        "lang",
    )


def q_iceberg_row_delete(spark, sf_dir):
    """Merge-on-read url takedown (Iceberg v2 equality-delete files): the
    `delete_rows` commit runs HERE, Spark-side — a tiny key-list file, no
    data file rewritten — and the pinned read anti-joins it at scan time
    (sequence-scoped). The oracle is the pure-pandas expected post-takedown
    frame, so the hash match certifies the whole MOR commit -> scoped
    anti-join -> read round trip."""
    from enem_spark.sources import icetable

    return _ice_rowdel_ladder(spark, sf_dir, icetable.SEQ_ROWDEL)


def q_iceberg_delete_purge(spark, sf_dir):
    """Delete materialization, driver-gated: `purge_deletes` rewrites ONLY
    the data files holding taken-down urls (key-column-only planning scan)
    and drops the delete entries; the pinned read of the `replace`
    snapshot must be bit-identical to the MOR read — same twin as
    iceberg_row_delete, which is exactly the row-preservation claim."""
    from enem_spark.sources import icetable

    return _ice_rowdel_ladder(spark, sf_dir, icetable.SEQ_PURGE)


def q_iceberg_cluster(spark, sf_dir):
    """Z-order clustering rewrite, driver-gated: after the takedown purge,
    `cluster_files` re-sorts the table by the interleaved (warc_ts, url)
    key so every output file covers a narrow range of BOTH columns — time
    slices and url point probes each skip most files on manifest bounds
    alone. Rows must be bit-identical through the layout rewrite, so the
    twin is the SAME expected post-takedown frame as iceberg_row_delete —
    that sharing IS the row-preservation claim (compact's protocol)."""
    from enem_spark.sources import icetable

    return _ice_rowdel_ladder(spark, sf_dir, icetable.SEQ_CLUSTER)


def q_iceberg_wap(spark, sf_dir):
    """Write-audit-publish, driver-gated: the delta crawl is appended to
    an `audit` BRANCH (main readers — including pinned as_of reads — see
    nothing), audited via a ref read, then `publish_branch` fast-forwards
    main in one atomic metadata commit. The oracle is first-crawl UNION
    delta-crawl (two twins stage_ice_pages already materializes), so the
    hash match certifies the published state is exactly base+delta —
    nothing lost in staging, nothing visible early. Guarded on the
    PUBLISHED sequence (main ancestry only): a crash between branch
    append and publish re-runs the missing steps, never re-stages."""
    from enem_spark.sources import icetable

    staged = icetable.stage_ice_wap(sf_dir)
    t = icetable.IceTable(spark, staged["table"])

    if t.published_sequence() < icetable.SEQ_WAP:
        try:
            if "audit" not in t.refs():
                t.create_branch("audit")
            head_id = t.refs()["audit"]["snapshot_id"]
            head_seq = next(
                s["sequence"]
                for s in t.snapshots()
                if s["snapshot_id"] == head_id
            )
            if head_seq < icetable.SEQ_WAP:
                delta = spark.createDataFrame(
                    icetable.delta_frame(sf_dir),
                    schema=icetable.PAGES_ICE_SCHEMA,
                )
                t.append(delta, sequence=icetable.SEQ_WAP, branch="audit")
            # AUDIT: the staged state must be exactly base + delta before
            # anyone can see it — this count gate is the WAP point
            n_expected = t.read(as_of=icetable.SEQ_OLD).count() + len(
                icetable.delta_frame(sf_dir)
            )
            assert t.read(ref="audit").count() == n_expected
            t.publish_branch("audit")
        except (icetable.CommitConflict, ValueError, KeyError):
            # a racing process ran the same deterministic ladder: its
            # create_branch surfaces here as ValueError("ref already
            # exists"), its completed publish as KeyError("no branch") —
            # success in disguise iff the published watermark landed
            if t.published_sequence() < icetable.SEQ_WAP:
                raise
    return t.read(as_of=icetable.SEQ_WAP).select(
        "url",
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("html_len"),
        F.md5("text").alias("text_md5"),
        "lang",
    )


def q_recrawl_priority(spark, sf_dir):
    """Re-crawl scheduling from the icetable's fetch history: the union of
    the pinned first-crawl read, the pinned re-crawl read, and the
    incremental delta read (manifest-planned — never a latest-state read,
    per the oracle-pairing rule) feeds the change-ratio bucketing."""
    from enem_spark import icerun
    from enem_spark.sources import icetable

    staged = icetable.stage_ice_pages(sf_dir)
    t = icetable.IceTable(spark, staged["table"])
    fetches = [
        t.read(as_of=icetable.SEQ_OLD),
        t.read(as_of=icetable.SEQ_NEW),
        t.read_incremental(from_seq=icetable.SEQ_NEW),
    ]
    frames = [
        f.select("url", "warc_ts", F.md5("html").alias("digest")) for f in fetches
    ]
    hist = frames[0].unionByName(frames[1]).unionByName(frames[2])
    return icerun.recrawl_priority(hist)


def q_fetch_politeness(spark, sf_dir):
    """Per-host crawl-politeness audit (icerun.fetch_politeness) over the
    same pinned fetch-history union recrawl_priority reads. Narrow
    aggregate — payload bytes never leave the scan."""
    from enem_spark import icerun
    from enem_spark.sources import icetable

    staged = icetable.stage_ice_pages(sf_dir)
    t = icetable.IceTable(spark, staged["table"])
    fetches = [
        t.read(as_of=icetable.SEQ_OLD),
        t.read(as_of=icetable.SEQ_NEW),
        t.read_incremental(from_seq=icetable.SEQ_NEW),
    ]
    frames = [f.select("url", "warc_ts") for f in fetches]
    hist = frames[0].unionByName(frames[1]).unionByName(frames[2])
    return icerun.fetch_politeness(hist)


def q_robots_txt_allow(spark, sf_dir):
    """robots.txt FILE parsing + longest-prefix allow/deny decisions
    (htmlops.robots_txt_allow): four deterministic robots.txt variants per
    host (overlapping Allow/Disallow, empty Disallow, stacked user-agents,
    no-star group), five path shapes per doc cycling every rule. Rule table
    is a broadcast dimension; the twin recomputes the full parse in SQL."""
    from enem_spark import htmlops

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select(F.col("source").alias("host")).distinct()
    robots = htmlops.synth_robots_txt(hosts)
    p = F.col("doc_id") % 5
    path = (
        F.when(p == 0, F.lit("/a/b/c"))
        .when(p == 1, F.lit("/a/z"))
        .when(p == 2, F.lit("/x/y/1"))
        .when(p == 3, F.lit("/x/priv"))
        .otherwise(F.lit("/q"))
    )
    urls = docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com"),
            path,
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("source").alias("host"),
        F.concat(path, F.lit("/"), F.col("doc_id").cast("string")).alias("path"),
    )
    return htmlops.robots_txt_allow(robots, urls)


def q_sitemap_discover(spark, sf_dir):
    """Sitemap-based crawl discovery (htmlops.sitemap_discover): per-host
    synthetic sitemap.xml (6 entries, cycling lastmod/changefreq) parsed
    JVM-side, membership-checked against a planted known-url frontier
    (pages 0/2/4 already crawled), ranked new-first then by changefreq and
    recency. COMPUTING twin — the SQL builds and regex-parses the same
    XML."""
    from enem_spark import htmlops

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select(F.col("source").alias("host")).distinct()
    sitemaps = htmlops.synth_sitemaps(hosts)
    known = hosts.select(
        "host", F.explode(F.array(F.lit(0), F.lit(2), F.lit(4))).alias("k")
    ).select(
        F.concat(
            F.lit("https://"),
            F.col("host"),
            F.lit(".example.com/page/"),
            F.col("k").cast("string"),
        ).alias("url")
    )
    return htmlops.sitemap_discover(sitemaps, known)


def q_html_robots(spark, sf_dir):
    """Robots-meta directive extraction (htmlops.html_robots): JVM-side
    regexp + token matching; computing DuckDB twin over staged pages."""
    from enem_spark import htmlops

    return htmlops.html_robots(
        htmlops.synth_robots_pages(_t(spark, sf_dir, "documents"))
    )


def q_html_dedup_paragraphs(spark, sf_dir):
    # full web pipeline: synth -> DOM extraction -> corpus-wide paragraph
    # dedup. The DuckDB twin COMPUTES the dedup with SQL windows over the
    # staged html_main table (the DOM stage's materialized expected output).
    from enem_spark import htmlops

    return htmlops.dedup_paragraphs(
        htmlops.extract_main_content(_html_pages(spark, sf_dir))
    )


def q_asof_join(spark, sf_dir):
    """Backward as-of join (relops.asof_join): every view event gains the
    user's latest click at-or-before it — the union+window rewrite (ONE
    equi-shuffle, no inequality join). The right side is pre-reduced to one
    row per (user_id, ts) so the tie-break can't differ from DuckDB's
    native ASOF LEFT JOIN, which is the twin."""
    from enem_spark import relops

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.round(F.max("value"), 6).alias("click_value"),
        )
    )
    return relops.asof_join(views, clicks, on=["user_id"])


def q_range_join(spark, sf_dir):
    """Interval join (relops.range_join): clicks inside each error event's
    1-hour window, aggregated per window with zero-count windows kept via
    the join-back. Scale path is the epoch-bucket equi-join; the DuckDB
    twin is the plain inequality join this rewrite replaces."""
    from enem_spark import relops

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 3600 SECONDS")).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    pairs = relops.range_join(clicks, errors, on=["user_id"], bucket_s=3600)
    agg = pairs.groupBy("error_id").agg(
        F.count("*").alias("n_clicks"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    return (
        errors.select("error_id", "user_id")
        .join(agg, "error_id", "left")
        .select(
            "error_id",
            "user_id",
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
        )
    )


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct sketch (textops.hll_distinct) at PARITY_HLL_P:
    two datasets in one result — vocabulary per source (raw-estimate
    branch) and distinct users per event_type (linear-counting branch).
    COMPUTING twin: both engines build identical md5-derived registers and
    the exact-integer register sum, so the estimates agree to the rounded
    digit — including the estimator's error vs the true count, which is
    part of the contract (the accuracy gate at the engine config lives in
    tests/test_relops.py)."""
    docs = _t(spark, sf_dir, "documents")
    ev = _t(spark, sf_dir, "events")
    toks = docs.select(
        F.col("source").alias("grp"),
        F.explode(textops._tokens(F.col("text"))).alias("v"),
    )
    a = textops.hll_distinct(toks, ["grp"], "v", p=textops.PARITY_HLL_P)
    users = ev.select(
        F.col("event_type").alias("grp"), F.col("user_id").alias("v")
    )
    b = textops.hll_distinct(users, ["grp"], "v", p=textops.PARITY_HLL_P)
    return a.withColumn("dataset", F.lit("tokens")).unionByName(
        b.withColumn("dataset", F.lit("users"))
    ).select("dataset", "grp", "approx_distinct")


def q_incr_corpus_stats(spark, sf_dir):
    """Incremental corpus-stats store (enem_spark/statstore.py): fold the
    even-doc_id half, then the full table (delta = odd half), under the
    exactly-once runs protocol; report per-source n_docs / n_tokens /
    vocab_est (HLL registers merged by max) / p50-p90-p99 (qsketch
    histograms merged by sum) from the STORE, never re-reading committed
    text. All three merges are exact, so the DuckDB twin is the one-shot
    full recompute — a hash match PROVES incremental == full. Replays are
    no-ops (doc_id cursor anti-join), so re-running the driver is a pinned
    read."""
    from enem_spark import statstore

    docs = _t(spark, sf_dir, "documents")
    # staging_path keys the store by corpus: distinct corpora must never
    # share a doc_id cursor
    out = staging_path("stats", sf_dir)
    # parity config (engine default is HLL_P=12; the twin recomputes every
    # register, so keep it at 2^6)
    pp = textops.PARITY_HLL_P
    statstore.update_corpus_stats(
        spark, out, docs.filter(F.col("doc_id") % 2 == 0), p=pp
    )
    statstore.update_corpus_stats(spark, out, docs, p=pp)
    return statstore.corpus_stat_report(spark, out, p=pp).withColumnRenamed(
        "grp", "source"
    )


def q_quantile_sketch(spark, sf_dir):
    """Mergeable log-histogram quantile sketch (textops.quantile_sketch):
    p50/p90/p99 of n_chars per source from <= ~64*8 integer bin counts per
    group — the partial-aggregatable path exact percentile can't take at
    scale. COMPUTING twin: binning is integer-exact (length(bin(x)) MSB,
    shift-reconstructed edges), so both engines produce identical BIGINT
    estimates — no float rounding anywhere in the output."""
    return textops.quantile_sketch(
        _t(spark, sf_dir, "documents"), ["source"], "n_chars"
    )


def q_cms_topk_terms(spark, sf_dir):
    """Count-min-sketch heavy hitters (textops.cms_topk): top-5 terms per
    source estimated from a depth x width counter sketch (bounded memory
    however large the vocabulary) with candidates from a deterministic
    content-hash doc sample. PARITY config (3x64) so the twin's sketch is
    tiny and collisions actually happen at sf0.01 — the overestimate is
    part of the contract (min-over-rows of md5-derived cells is a pure
    deterministic function of the input, reproduced bit-for-bit by the
    twin). Engine config is 4x16384; estimate quality there is gated in
    tests/test_cms.py."""
    return textops.cms_topk(
        _t(spark, sf_dir, "documents"),
        k=_CMS_K,
        depth=textops.PARITY_CMS_DEPTH,
        width=textops.PARITY_CMS_WIDTH,
        sample_mod=textops.CMS_SAMPLE_MOD,
    )


def q_incr_top_terms(spark, sf_dir):
    """Incremental heavy hitters (statstore.update_term_sketch /
    top_term_report): fold the even-doc_id half, then the full table
    (delta = odd half), at the PARITY CMS config; report top-5 per source
    from the committed registers + candidate set alone — never re-reading
    committed text. Register merges are cell-wise SUM and candidate merges
    are distinct union of a per-doc deterministic sample, both exact, so
    the twin is the SAME one-shot SQL as cms_topk_terms — a hash match
    PROVES incremental == one-shot. Replays are no-ops (term cursor), so
    re-running the driver is a pinned read."""
    from enem_spark import statstore

    docs = _t(spark, sf_dir, "documents")
    out = staging_path("terms", sf_dir)
    kw = dict(
        depth=textops.PARITY_CMS_DEPTH,
        width=textops.PARITY_CMS_WIDTH,
        sample_mod=textops.CMS_SAMPLE_MOD,
    )
    statstore.update_term_sketch(
        spark, out, docs.filter(F.col("doc_id") % 2 == 0), **kw
    )
    statstore.update_term_sketch(spark, out, docs, **kw)
    return statstore.top_term_report(spark, out, k=_CMS_K, **kw)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "extract_questions": q_extract_questions,
        "extract_question_spans": q_extract_question_spans,
        "route_case": q_route_case,
        "lookup_join": q_lookup_join,
        "running_window": q_running_window,
        "ordered_concat": q_ordered_concat,
        "segment_explode": q_segment_explode,
        "numbering_gaps": q_numbering_gaps,
        "filter_normalize": q_filter_normalize,
        "tpch_q1_like": q_tpch_q1_like,
        "latest_snapshot": q_latest_snapshot,
        "anti_join_missing": q_anti_join_missing,
        "rollup_revenue": q_rollup_revenue,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "simhash": q_simhash,
        "simhash_near_dup": q_simhash_near_dup,
        "token_budget_select": q_token_budget_select,
        "compression_ratio": q_compression_ratio,
        "c4_filters": q_c4_filters,
        "mojibake_repair": q_mojibake_repair,
        "bloom_dedup": q_bloom_dedup,
        "robots_txt_allow": q_robots_txt_allow,
        "sitemap_discover": q_sitemap_discover,
        "langid": q_langid,
        "script_detect": q_script_detect,
        "quality_score": q_quality_score,
        "token_count": q_token_count,
        "gopher_filters": q_gopher_filters,
        "repetition_filters": q_repetition_filters,
        "fingerprint": q_fingerprint,
        "stratified_sample": q_stratified_sample,
        "train_split": q_train_split,
        "shuffle_export": q_shuffle_export,
        "cap_per_host": q_cap_per_host,
        "token_histogram": q_token_histogram,
        "doc_chunk": q_doc_chunk,
        "mixture_sample": q_mixture_sample,
        "dsir_weights": q_dsir_weights,
        "pack_sequences": q_pack_sequences,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "bm25_search": q_bm25_search,
        "nb_classifier": q_nb_classifier,
        "minhash_jaccard_estimate": q_minhash_jaccard_estimate,
        "dedup_minhash_estimate": q_dedup_minhash_estimate,
        "dedup_minhash_sig_store": q_dedup_minhash_sig_store,
        "incr_dedup_exact": q_incr_dedup_exact,
        "incr_dedup_minhash": q_incr_dedup_minhash,
        "sig_probe_near_dup": q_sig_probe_near_dup,
        "url_canonicalize": q_url_canonicalize,
        "url_filter": q_url_filter,
        "url_normalize": q_url_normalize,
        "boilerplate_strip": q_boilerplate_strip,
        "pii_scrub": q_pii_scrub,
        "decontaminate": q_decontaminate,
        "source_percentiles": q_source_percentiles,
        "tfidf_top_terms": q_tfidf_top_terms,
        "top_terms": q_top_terms,
        "corpus_curate": q_corpus_curate,
        "source_stats": q_source_stats,
        "props_extract": q_props_extract,
        "sessionize": q_sessionize,
        "bucketed_join": q_bucketed_join,
        "sentence_stats": q_sentence_stats,
        "char_lm_score": q_char_lm_score,
        "ccnet_buckets": q_ccnet_buckets,
        "unicode_normalize": q_unicode_normalize,
        "char_entropy": q_char_entropy,
        "dup_span_stats": q_dup_span_stats,
        "dedup_spans_clean": q_dedup_spans_clean,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_store": q_dedup_clusters_store,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_srp_bucket": q_ann_srp_bucket,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_store": q_ann_ivf_store,
        "ann_srp_store": q_ann_srp_store,
        "ann_ivf_probe": q_ann_ivf_probe,
        "ann_pq_topk": q_ann_pq_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_store": q_embedding_near_dup_store,
        "embedding_decontaminate": q_embedding_decontaminate,
        "embedding_decontaminate_store": q_embedding_decontaminate_store,
        "kmeans_clusters": q_kmeans_clusters,
        "semdedup": q_semdedup,
        "media_featurize": q_media_featurize,
        "media_resize": q_media_resize,
        "media_frame_sample": q_media_frame_sample,
        "html_main_content": q_html_main_content,
        "html_strip_tags": q_html_strip_tags,
        "html_outlinks": q_html_outlinks,
        "html_title_meta": q_html_title_meta,
        "html_dedup_paragraphs": q_html_dedup_paragraphs,
        "html_host_pagerank": q_html_host_pagerank,
        "html_host_components": q_html_host_components,
        "html_curate": q_html_curate,
        "html_anchor_texts": q_html_anchor_texts,
        "html_anchor_profile": q_html_anchor_profile,
        "html_paragraph_langid": q_html_paragraph_langid,
        "html_clean_corpus": q_html_clean_corpus,
        "extraction_eval": q_extraction_eval,
        "warc_ingest": q_warc_ingest,
        "pdf_decode": q_pdf_decode,
        "pdf_images": q_pdf_images,
        "wet_export": q_wet_export,
        "wat_export": q_wat_export,
        "jsonl_ingest": q_jsonl_ingest,
        "csv_ingest": q_csv_ingest,
        "iceberg_scan": q_iceberg_scan,
        "iceberg_time_travel": q_iceberg_time_travel,
        "iceberg_incremental": q_iceberg_incremental,
        "iceberg_merge": q_iceberg_merge,
        "iceberg_compact": q_iceberg_compact,
        "iceberg_rollback": q_iceberg_rollback,
        "iceberg_row_delete": q_iceberg_row_delete,
        "iceberg_delete_purge": q_iceberg_delete_purge,
        "iceberg_cluster": q_iceberg_cluster,
        "iceberg_wap": q_iceberg_wap,
        "crawl_delta": q_crawl_delta,
        "recrawl_priority": q_recrawl_priority,
        "charset_decode": q_charset_decode,
        "mime_sniff": q_mime_sniff,
        "fetch_politeness": q_fetch_politeness,
        "html_robots": q_html_robots,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "hll_distinct": q_hll_distinct,
        "quantile_sketch": q_quantile_sketch,
        "incr_corpus_stats": q_incr_corpus_stats,
        "cms_topk_terms": q_cms_topk_terms,
        "incr_top_terms": q_incr_top_terms,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_SHINGLES_CTE = r"""
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks FROM documents
),
shingled AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
      THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
      ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM tok
)
"""

_JACCARD_TAIL = """
sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shingled GROUP BY doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM candidates c
  JOIN shingled sa ON sa.doc_id = c.doc_a
  JOIN shingled sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       round(n_common / (za.n_shingles + zb.n_shingles - n_common), 6) AS jaccard
FROM common c
JOIN sizes za ON za.doc_id = c.doc_a
JOIN sizes zb ON zb.doc_id = c.doc_b
WHERE round(n_common / (za.n_shingles + zb.n_shingles - n_common), 6) >= {thr}
"""


def _minhash_lsh_sql(threshold: float) -> str:
    mh_cols = ",\n    ".join(
        f"min(md5('{s}:' || shingle)) AS mh{s}" for s in range(textops.PARITY_PERMS)
    )
    rows_per_band = textops.PARITY_PERMS // textops.PARITY_BANDS
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {sig} AS sig FROM sig_t".format(
            b=b,
            sig=" || '|' || ".join(
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(textops.PARITY_BANDS)
    )
    return f"""
WITH {_SHINGLES_CTE},
sig_t AS (
  SELECT doc_id, {mh_cols} FROM shingled GROUP BY doc_id
),
bands AS ({band_selects}),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL.format(thr=threshold)}
"""


def _ngram_jaccard_sql(threshold: float) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, source, regexp_split_to_array(trim(coalesce(text, '')), '\\s+') AS toks FROM documents
),
shingled AS (
  SELECT DISTINCT doc_id, source, unnest(CASE WHEN len(toks) >= 3
      THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
      ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM tok
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM shingled a JOIN shingled b
    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
),
{_JACCARD_TAIL.format(thr=threshold)}
"""


def _minhash_est_sql() -> str:
    mh_cols = ",\n    ".join(
        f"min(md5('{s}:' || shingle)) AS mh{s}" for s in range(textops.PARITY_PERMS)
    )
    agree = " + ".join(
        f"CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END"
        for s in range(textops.PARITY_PERMS)
    )
    return f"""
WITH pairs AS ({_minhash_lsh_sql(0.0)}),
{_SHINGLES_CTE},
sig_t AS (
  SELECT doc_id, {mh_cols} FROM shingled GROUP BY doc_id
)
SELECT p.doc_a, p.doc_b,
       round(({agree}) / {textops.PARITY_PERMS}, 6) AS est_jaccard,
       p.jaccard
FROM pairs p
JOIN sig_t a ON a.doc_id = p.doc_a
JOIN sig_t b ON b.doc_id = p.doc_b
"""


def _minhash_est_only_sql(threshold: float) -> str:
    """Estimate-only twin: candidates from band buckets, similarity from
    signature agreement — NO shingle verification join (the scale path)."""
    mh_cols = ",\n    ".join(
        f"min(md5('{s}:' || shingle)) AS mh{s}" for s in range(textops.PARITY_PERMS)
    )
    rows_per_band = textops.PARITY_PERMS // textops.PARITY_BANDS
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {sig} AS sig FROM sig_t".format(
            b=b,
            sig=" || '|' || ".join(
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(textops.PARITY_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END"
        for s in range(textops.PARITY_PERMS)
    )
    return f"""
WITH {_SHINGLES_CTE},
sig_t AS (
  SELECT doc_id, {mh_cols} FROM shingled GROUP BY doc_id
),
bands AS ({band_selects}),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, est_jaccard FROM (
  SELECT c.doc_a, c.doc_b,
         round(({agree}) / {textops.PARITY_PERMS}, 6) AS est_jaccard
  FROM candidates c
  JOIN sig_t a ON a.doc_id = c.doc_a
  JOIN sig_t b ON b.doc_id = c.doc_b
) WHERE est_jaccard >= {threshold}
"""


_INCR_NEW_CTE = r"""
newdocs AS (
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' zz1 zz2' AS text
  FROM documents WHERE doc_id % 3 = 1
)
"""

_INCR_EXACT_SQL = f"""
WITH {_INCR_NEW_CTE},
store AS (
  SELECT md5(coalesce(text, '')) AS h, min(doc_id) AS dup_of
  FROM documents GROUP BY 1
)
SELECT n.doc_id, s.dup_of
FROM (SELECT doc_id, md5(coalesce(text, '')) AS h FROM newdocs) n
JOIN store s USING (h)
"""


def _incr_minhash_sql(threshold: float) -> str:
    """Incremental near-dup twin: new-side band signatures probe the
    existing side's — candidates are new x existing only."""
    mh_cols = ",\n    ".join(
        f"min(md5('{s}:' || shingle)) AS mh{s}" for s in range(textops.PARITY_PERMS)
    )
    rows_per_band = textops.PARITY_PERMS // textops.PARITY_BANDS

    def shingle_cte(src: str, tag: str) -> str:
        return f"""
{tag}tok AS (
  SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\\s+') AS toks FROM {src}
),
{tag}sh AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
      THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
      ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM {tag}tok
),
{tag}sig AS (
  SELECT doc_id, {mh_cols} FROM {tag}sh GROUP BY doc_id
)"""

    def band_cte(sig_t: str) -> str:
        return " UNION ALL ".join(
            "SELECT doc_id, {b} AS band, {sig} AS sig FROM {t}".format(
                b=b,
                t=sig_t,
                sig=" || '|' || ".join(
                    f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
                ),
            )
            for b in range(textops.PARITY_BANDS)
        )

    agree = " + ".join(
        f"CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END"
        for s in range(textops.PARITY_PERMS)
    )
    return f"""
WITH {_INCR_NEW_CTE},{shingle_cte("newdocs", "n")},{shingle_cte("documents", "e")},
nbands AS ({band_cte("nsig")}),
ebands AS ({band_cte("esig")}),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, e.doc_id AS dup_of
  FROM nbands n JOIN ebands e ON n.band = e.band AND n.sig = e.sig
)
SELECT doc_id, dup_of, est_jaccard FROM (
  SELECT c.doc_id, c.dup_of,
         round(({agree}) / {textops.PARITY_PERMS}, 6) AS est_jaccard
  FROM cand c
  JOIN nsig a ON a.doc_id = c.doc_id
  JOIN esig b ON b.doc_id = c.dup_of
) WHERE est_jaccard >= {threshold}
"""


_URL_CANON_SQL = r"""
WITH urls AS (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.com:443/Path/'
                  || CAST(doc_id AS VARCHAR) || '/?utm_source=a&id='
                  || CAST(doc_id AS VARCHAR) || '#frag'
      WHEN 1 THEN 'http://' || source || '.example.com:80/path/'
                  || CAST(doc_id AS VARCHAR) || '?id='
                  || CAST(doc_id AS VARCHAR) || '&utm_campaign=b'
      WHEN 2 THEN 'https://' || source || '.Example.Com/path/'
                  || CAST(doc_id AS VARCHAR) || '/'
      ELSE 'ftp://Files.' || source || '.com:21/path/' || CAST(doc_id AS VARCHAR)
    END AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
  FROM urls
),
cleaned AS (
  SELECT doc_id, scheme,
    CASE WHEN scheme = 'https' AND host LIKE '%:443'
           THEN regexp_replace(host, ':443$', '')
         WHEN scheme = 'http' AND host LIKE '%:80'
           THEN regexp_replace(host, ':80$', '')
         ELSE host END AS host,
    regexp_replace(rest, '#.*$', '') AS rest
  FROM parts
),
split_q AS (
  SELECT doc_id, scheme, host,
    regexp_extract(rest, '^([^?]*)', 1) AS path,
    regexp_extract(rest, '^[^?]*\?(.*)$', 1) AS query
  FROM cleaned
),
requeried AS (
  SELECT doc_id, scheme, host, path,
    regexp_replace(
      regexp_replace('&' || query, '&utm_[^&]*', '', 'g'),
      '^&', '') AS q2
  FROM split_q
)
-- path-anchored '/'-strip BEFORE query reassembly, mirroring the engine
-- (the synthetic urls all carry a scheme, so the engine's schemeless
-- pass-through branch is unreachable on this input by construction)
SELECT doc_id,
       scheme || '://' || host ||
       CASE WHEN q2 = '' THEN regexp_replace(path, '/$', '')
            ELSE regexp_replace(path, '/$', '') || '?' || q2 END
       AS canonical_url
FROM requeried
"""


_BOILER_SQL = r"""
WITH docs AS (
  SELECT doc_id, source,
         'NAVBAR HOME ABOUT ' || source || chr(10) || text || chr(10)
         || 'COPYRIGHT ' || source || ' ALL RIGHTS' AS text
  FROM documents
),
flat AS (
  SELECT doc_id, source, u.no AS line_no, u.line AS line
  FROM (
    SELECT doc_id, source,
           unnest([{'no': i, 'line': l[i+1]} for i in range(0, len(l))]) AS u
    FROM (SELECT doc_id, source, str_split(text, chr(10)) AS l FROM docs)
  )
),
src_docs AS (SELECT source, count(*) AS n_docs FROM docs GROUP BY source),
line_docs AS (
  SELECT source, line, count(DISTINCT doc_id) AS n
  FROM flat WHERE line <> '' GROUP BY source, line
),
boiler AS (
  SELECT l.source, l.line
  FROM line_docs l JOIN src_docs s USING (source)
  WHERE l.n >= greatest(2, CAST(ceil(0.5 * s.n_docs) AS BIGINT))
),
kept AS (
  SELECT f.doc_id, f.line_no, f.line
  FROM flat f LEFT JOIN boiler b ON f.source = b.source AND f.line = b.line
  WHERE b.line IS NULL
)
SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
FROM kept GROUP BY doc_id
"""


_PII_SQL = r"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
              || ' tel +55 11 9999-00'
              || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS text
  FROM planted
),
s2 AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
         regexp_replace(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
  FROM s1
)
SELECT doc_id,
       regexp_replace(text, '\+\d[\d()\- ]{7,}\d', '<PHONE>', 'g') AS text,
       n_emails, n_ips,
       CAST(len(regexp_extract_all(text, '\+\d[\d()\- ]{7,}\d')) AS INT) AS n_phones
FROM s2
"""

_DECON_SQL = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks FROM documents
),
grams AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
      THEN list_distinct([md5(array_to_string(toks[i:i+7], ' ')) for i in range(1, len(toks)-6)])
      ELSE [] END) AS gram_hash
  FROM tok
),
bgrams AS (
  SELECT DISTINCT unnest(CASE WHEN len(toks) >= 8
      THEN list_distinct([md5(array_to_string(toks[i:i+7], ' ')) for i in range(1, len(toks)-6)])
      ELSE [] END) AS gram_hash
  FROM tok WHERE doc_id % 50 = 0
)
SELECT doc_id, count(*) AS n_contaminated_ngrams
FROM grams JOIN bgrams USING (gram_hash)
GROUP BY doc_id
"""


def _dup_span_grams_sql(w: int) -> str:
    """Shared CTEs for the exact-substring (duplicate-span) twins: the
    w-token rolling-window hash built with the SAME lead-chain shape the
    Spark `_gram_rows` window uses, ranked per hash by (doc_id, pos) —
    rn > 1 marks every non-canonical occurrence."""
    leads = ", ".join(f"lead(tok, {j}) OVER win" for j in range(1, w))
    return rf"""
tok AS (
  SELECT doc_id,
         CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS pos,
         unnest(arr) AS tok
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS arr
        FROM documents)
),
grams AS (
  SELECT doc_id, pos,
         md5(concat_ws(' ', tok, {leads})) AS h,
         (lead(tok, {w - 1}) OVER win IS NOT NULL) AS whole
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
dupw AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
    FROM grams WHERE whole
  ) WHERE rn > 1
),
base AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(coalesce(text, '')), '\s+'))
              AS BIGINT) AS n_tokens
  FROM documents
)"""


def _dup_span_stats_sql(w: int) -> str:
    return rf"""
WITH {_dup_span_grams_sql(w)},
cov AS (
  SELECT doc_id, pos,
         greatest(coalesce(max(pos + {w}) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), pos),
                  pos) AS cstart
  FROM dupw
),
agg AS (
  SELECT doc_id, count(*) AS dup_windows,
         sum(greatest(pos + {w} - cstart, 0)) AS dup_tokens
  FROM cov GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CAST(coalesce(a.dup_windows, 0) AS BIGINT) AS dup_windows,
       CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(coalesce(a.dup_tokens, 0) * 1.0 / greatest(b.n_tokens, 1), 6)
           AS dup_frac
FROM base b LEFT JOIN agg a USING (doc_id)
"""


def _dup_span_clean_sql(w: int) -> str:
    return rf"""
WITH {_dup_span_grams_sql(w)},
covered AS (
  SELECT DISTINCT doc_id, pos + g AS pos
  FROM dupw CROSS JOIN generate_series(0, {w - 1}) AS s(g)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tok t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.doc_id IS NULL
),
reb AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(b.n_tokens - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN reb r USING (doc_id)
"""


def _url_filter_sql() -> str:
    """Twin of textops.crawl_url_filter over the same 8 synthetic
    variants; DuckDB computes the rule chain with its own regex engine."""
    exts = ", ".join(f"'{e}'" for e in textops.CRAWL_BAD_EXTS)
    hosts = ", ".join(f"'{h}'" for h in textops.CRAWL_BLOCKED_HOSTS)
    return rf"""
WITH urls AS (
  SELECT doc_id,
    CASE CAST(doc_id % 8 AS INT)
      WHEN 0 THEN 'https://' || source || '.example.com/a/b/' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN 'ftp://files.' || source || '.com/' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://ads.example.com/c/' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'http://trk.tracker' || CAST(doc_id AS VARCHAR) || '.net/x'
      WHEN 4 THEN 'https://' || source || '.example.com/img/' || CAST(doc_id AS VARCHAR) || '.JPG'
      WHEN 5 THEN 'https://' || source || '.example.com/a/b/c/d/e/f/g/h/i/' || CAST(doc_id AS VARCHAR)
      WHEN 6 THEN 'https://' || source || '.example.com/s?q=' || repeat('x', 200)
      ELSE 'https://' || source || '.example.com/' || repeat('p/', 4) || repeat('y', 600)
    END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':\d+$', '') AS bare_host,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '^[^#]*?\?([^#]*)', 1) AS query
  FROM urls
),
classified AS (
  SELECT doc_id, url,
    CASE
      WHEN scheme NOT IN ('http', 'https') THEN 'scheme'
      WHEN bare_host IN ({hosts}) OR bare_host LIKE '%tracker%' THEN 'blocked_host'
      WHEN lower(regexp_extract(path, '\.([A-Za-z0-9]+)$', 1)) IN ({exts}) THEN 'binary_ext'
      WHEN length(path) - length(replace(path, '/', '')) > 8 THEN 'deep_path'
      WHEN length(url) > 512 THEN 'long_url'
      WHEN length(query) > 128 THEN 'long_query'
      ELSE 'ok'
    END AS reason
  FROM parts
)
SELECT doc_id, url, (reason = 'ok') AS keep, reason FROM classified
"""


def _url_normalize_sql() -> str:
    """Computing twin of textops.url_normalize over the same 6
    synthetic variants: every rule re-derived in DuckDB (regexp extracts,
    list_filter with the same anchored tracking-param regex, binary
    list_sort mirroring Spark's array_sort)."""
    trk = textops.URL_TRACKING_PARAM_RE
    return rf"""
WITH urls AS (
  SELECT doc_id,
    CASE CAST(doc_id % 6 AS INT)
      WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.COM:443/Path/' || CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1#frag'
      WHEN 1 THEN 'http://' || source || '.example.com:80?z=1&utm_campaign=spring&&y=' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://' || source || '.example.com/a/' || CAST(doc_id AS VARCHAR) || '?gclid=abc'
      WHEN 3 THEN 'ftp://Files.' || source || '.com/' || CAST(doc_id AS VARCHAR)
      WHEN 4 THEN 'https://' || source || '.example.com/b/' || CAST(doc_id AS VARCHAR) || '#sec?notaquery'
      ELSE 'http://' || source || '.example.com/c/' || CAST(doc_id AS VARCHAR) || '?b=2&a=1&a=0'
    END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
    regexp_matches(url, '^[Hh][Tt][Tt][Pp][Ss]?://') AS is_http,
    split_part(url, '#', 1) AS pre
  FROM urls
),
comp AS (
  SELECT doc_id, url, is_http,
    lower(regexp_extract(pre, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(pre, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS rawhost,
    regexp_extract(pre, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
    regexp_extract(pre, '\?(.*)', 1) AS query
  FROM parts
),
norm AS (
  SELECT doc_id, url, is_http, scheme,
    CASE
      WHEN scheme = 'http' AND rawhost LIKE '%:80' THEN regexp_replace(rawhost, '(:80)+$', '')
      WHEN scheme = 'https' AND rawhost LIKE '%:443' THEN regexp_replace(rawhost, '(:443)+$', '')
      ELSE rawhost
    END AS host,
    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
    list_sort(list_filter(str_split(query, '&'),
              p -> p <> '' AND NOT regexp_matches(p, '{trk}'))) AS kept
  FROM comp
)
SELECT doc_id, url,
  CASE WHEN is_http THEN
    scheme || '://' || host || path ||
    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END
  ELSE url END AS canon_url
FROM norm
"""


def _stratified_sample_sql(rate_pct=10) -> str:
    cut_hex = format(int(0xFFFFFF * rate_pct / 100), "06x")
    return f"""
SELECT doc_id, source AS stratum FROM documents
WHERE substr(md5(text), 1, 6) < '{cut_hex}'
"""


def _train_split_sql(val_pct=10, test_pct=10) -> str:
    test_cut = format(int(0xFFFFFF * test_pct / 100), "06x")
    val_cut = format(int(0xFFFFFF * (test_pct + val_pct) / 100), "06x")
    return f"""
SELECT doc_id,
       CASE WHEN substr(md5(text), 1, 6) < '{test_cut}' THEN 'test'
            WHEN substr(md5(text), 1, 6) < '{val_cut}' THEN 'val'
            ELSE 'train' END AS split
FROM documents
"""


def _doc_chunk_sql(window=None, stride=None) -> str:
    w = textops.CHUNK_WINDOW if window is None else window
    s = textops.CHUNK_STRIDE if stride is None else stride
    # DuckDB list slice l[a:b] is 1-based inclusive and clamps at the end,
    # matching Spark slice(toks, start, length)'s clamp
    return rf"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE trim(text) <> ''
), sized AS (
  SELECT doc_id, toks,
         1 + (greatest(len(toks) - {w}, 0) + {s - 1}) // {s} AS n_chunks
  FROM docs
), exploded AS (
  SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS i FROM sized
)
SELECT doc_id,
       i AS chunk_id,
       len(toks[i*{s}+1 : i*{s}+{w}]) AS n_tokens,
       array_to_string(toks[i*{s}+1 : i*{s}+{w}], ' ') AS chunk_text
FROM exploded
"""


def _mixture_sample_sql() -> str:
    # exact-integer waterfill lottery — same cross-multiplied keep test as
    # textops.mixture_sample, no float rates anywhere
    return f"""
WITH counts AS (
  SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY lang
), floor_c AS (SELECT min(c) AS min_c FROM counts)
SELECT d.doc_id, d.lang AS stratum
FROM documents d
JOIN counts ON counts.stratum = d.lang
CROSS JOIN floor_c
WHERE CAST(concat('0x', substr(md5(d.text), 1, {textops.MIX_HEX_W})) AS BIGINT) * c
      < min_c * {textops.MIX_SPACE}
"""


def _dsir_sql(target_lang="en") -> str:
    b = textops.DSIR_BUCKETS
    q = textops.LM_QUANT
    return rf"""
WITH tok AS (
  SELECT doc_id, lang,
         substr(md5(unnest(regexp_split_to_array(trim(text), '\s+'))),
                1, {textops.DSIR_HEX_W}) AS b
  FROM documents
),
raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt_r FROM tok GROUP BY b),
tgt AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cnt_t FROM tok
  WHERE lang = '{target_lang}' GROUP BY b
),
model AS (
  SELECT raw.b, cnt_r, coalesce(cnt_t, 0) AS cnt_t
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b
),
totals AS (
  SELECT CAST(sum(cnt_r) AS BIGINT) AS tot_r,
         CAST(sum(cnt_t) AS BIGINT) AS tot_t
  FROM model
),
lp AS (
  SELECT b, CAST(round((ln((cnt_t + 1) / (tot_t + {b}))
                      - ln((cnt_r + 1) / (tot_r + {b}))) * {q}) AS BIGINT) AS lpq
  FROM model, totals
),
tf AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, b),
scored AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         CAST(sum(tf * lpq) AS BIGINT) AS q_sum
  FROM tf JOIN lp USING (b) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       round(q_sum / (greatest(coalesce(n_tokens, 0), 1) * {float(q)}), 6)
         AS dsir_weight
FROM (SELECT doc_id FROM documents) d LEFT JOIN scored USING (doc_id)
"""


def _bpe_merge_expr(sym_expr: str, i: int) -> str:
    """The shared doubled-separator replace algebra applying round i's
    learned pair (scalar subqueries on t{i}) to a symbol-string column."""
    return (
        f"trim(regexp_replace(\n           replace(' ' || replace({sym_expr}, ' ', '  ') || ' ',\n"
        f"                   ' ' || (SELECT a FROM t{i}) || '  '\n"
        f"                       || (SELECT b FROM t{i}) || ' ',\n"
        f"                   ' ' || (SELECT a || b FROM t{i}) || ' '),\n"
        f"           ' +', ' ', 'g'))"
    )


def _bpe_learn_ctes(r: int) -> list[str]:
    """The unrolled BPE learning chain (w0 + per-round pair-count/argmax/
    re-merge CTEs) shared by the bpe_merges and bpe_encode twins.

    Every CTE is AS MATERIALIZED: DuckDB otherwise inlines the chain, and
    because round i references round i-1 twice (pair count + re-merge) and
    each t{i} three times (the scalar subqueries in the merge algebra), the
    inlined plan re-derives the whole prefix exponentially — the 6-round
    twin goes from ~1 s to minutes. Materializing restores the linear
    per-round cost the Spark side's persist() gives."""
    parts = [
        r"""w0 AS MATERIALIZED (
  SELECT array_to_string(regexp_split_to_array(w, ''), ' ') || ' </w>' AS sym,
         CAST(count(*) AS BIGINT) AS freq
  FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
  ) toks
  WHERE w <> ''
  GROUP BY w
)"""
    ]
    for i in range(1, r + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT toks[i] AS a, toks[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (
    SELECT freq, toks, unnest(generate_series(1, len(toks) - 1)) AS i
    FROM (SELECT freq, regexp_split_to_array(sym, ' ') AS toks FROM {prev}) t
  ) q
  GROUP BY 1, 2
),
t{i} AS MATERIALIZED (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
w{i} AS MATERIALIZED (
  SELECT {_bpe_merge_expr('sym', i)} AS sym, freq
  FROM {prev}
)"""
        )
    return parts


def _bpe_sql(rounds=None) -> str:
    """COMPUTING twin of bpe.bpe_merges, fully unrolled per round (the
    pagerank-twin discipline): each round is a pair-count CTE, a LIMIT-1
    argmax CTE (same count-desc/pair-asc tiebreak), and a re-merged vocab
    CTE using the shared doubled-separator replace algebra."""
    from enem_spark.bpe import BPE_ROUNDS

    r = BPE_ROUNDS if rounds is None else rounds
    parts = _bpe_learn_ctes(r)
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS rnd, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, cnt FROM t{i}"
        for i in range(1, r + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + unions


def _bpe_encode_sql(rounds=None) -> str:
    """COMPUTING twin of bpe.bpe_encode_stats: re-learns the merge chain
    with the same unrolled CTEs, then applies each learned pair in order to
    the distinct-word symbol table (v0..v{r}) and re-joins subword counts
    onto the per-doc word counts — the same distinct-vocabulary encode plan
    the Spark side runs."""
    from enem_spark.bpe import BPE_ROUNDS

    r = BPE_ROUNDS if rounds is None else rounds
    parts = _bpe_learn_ctes(r)
    parts.append(
        r"""dw AS MATERIALIZED (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
    FROM documents
  ) t
  WHERE w <> ''
  GROUP BY 1, 2
),
v0 AS MATERIALIZED (
  SELECT w, array_to_string(regexp_split_to_array(w, ''), ' ') || ' </w>' AS sym
  FROM (SELECT DISTINCT w FROM dw) u
)"""
    )
    for i in range(1, r + 1):
        parts.append(
            f"v{i} AS MATERIALIZED (\n  SELECT w, {_bpe_merge_expr('sym', i)} AS sym FROM v{i - 1}\n)"
        )
    parts.append(
        f"""enc AS (
  SELECT w, CAST(len(regexp_split_to_array(sym, ' ')) AS BIGINT) AS n_sub
  FROM v{r}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT dw.doc_id AS doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_words,
       CAST(sum(cnt * n_sub) AS BIGINT) AS n_subwords,
       round(CAST(sum(cnt * n_sub) AS BIGINT) * 1.0
             / greatest(CAST(sum(cnt) AS BIGINT), 1), 6) AS fertility
FROM dw JOIN enc USING (w)
GROUP BY 1
"""
    )


def _bm25_sql() -> str:
    """COMPUTING twin of retrieval.bm25_search — identical idf/normalizer
    expression shapes so both engines produce the same doubles, ranked on
    the 6-dp-rounded score."""
    from enem_spark.retrieval import BM25_B, BM25_K1

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    k1, b = BM25_K1, BM25_B
    return rf"""
WITH dl AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS dl
  FROM documents
),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
    FROM documents
  ) t
  WHERE term IN ({terms})
  GROUP BY 1, 2
),
idf AS (
  SELECT term,
         ln(((SELECT n_docs FROM stats) - df + 0.5) / (df + 0.5) + 1.0) AS idf
  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1) d
),
scored AS (
  SELECT tf.doc_id AS doc_id,
         round(sum(idf.idf * (tf.tf * ({k1} + 1.0))
               / (tf.tf + {k1} * ((1.0 - {b})
                  + {b} * dl.dl / (SELECT avgdl FROM stats)))), 6) AS score
  FROM tf JOIN idf USING (term) JOIN dl ON tf.doc_id = dl.doc_id
  GROUP BY 1
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM scored
ORDER BY score DESC, doc_id
LIMIT {BM25_K}
"""


def _nb_sql() -> str:
    """COMPUTING twin of classify.nb_classifier — identical Laplace/log
    expression shapes; pred compares the 6-dp-rounded score so the
    decision boundary is engine-portable."""
    return r"""
WITH labeled AS (
  SELECT doc_id, text, (lang = 'en') AS y FROM documents
),
tok AS (
  SELECT doc_id, y, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM labeled
),
tok_ne AS (SELECT * FROM tok WHERE term <> ''),
per_term AS (
  SELECT term,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cnt_pos,
         CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS cnt_neg
  FROM tok_ne
  GROUP BY term
),
totals AS (
  SELECT CAST(sum(cnt_pos) AS BIGINT) AS tot_pos,
         CAST(sum(cnt_neg) AS BIGINT) AS tot_neg,
         CAST(count(*) AS BIGINT) AS v
  FROM per_term
),
model AS (
  SELECT term,
         ln((cnt_pos + 1.0) / ((SELECT tot_pos FROM totals) + (SELECT v FROM totals)))
       - ln((cnt_neg + 1.0) / ((SELECT tot_neg FROM totals) + (SELECT v FROM totals))) AS lr
  FROM per_term
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok_ne
  GROUP BY 1, 2
),
doc_sum AS (
  SELECT tf.doc_id AS doc_id, sum(tf.tf * model.lr) AS evidence
  FROM tf JOIN model USING (term)
  GROUP BY 1
),
priors AS (
  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM labeled
)
SELECT l.doc_id AS doc_id,
       round(ln(((SELECT n_pos FROM priors) + 1.0)
                / ((SELECT n_neg FROM priors) + 1.0))
             + coalesce(d.evidence, 0.0), 6) AS score,
       (round(ln(((SELECT n_pos FROM priors) + 1.0)
                 / ((SELECT n_neg FROM priors) + 1.0))
              + coalesce(d.evidence, 0.0), 6) > 0) AS pred
FROM labeled l LEFT JOIN doc_sum d ON l.doc_id = d.doc_id
"""


def _simhash_hash_expr() -> str:
    """64-nibble portable token hash: md5(w) for bits<=32, else
    md5(w) || md5('1:' || w) — mirrors textops.simhash exactly."""
    if textops.SIMHASH_BITS <= 32:
        return "md5(w)"
    return "md5(w) || md5('1:' || w)"


def _simhash_sql(source: str = "documents") -> str:
    sums = ",\n    ".join(
        "sum(CASE WHEN substr(h, {p}, 1) IN ('1','3','5','7','9','b','d','f')"
        " THEN 1 ELSE -1 END) AS s{j}".format(p=j + 1, j=j)
        for j in range(textops.SIMHASH_BITS)
    )
    bits = " || ".join(
        f"CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END" for j in range(textops.SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {_simhash_hash_expr()} AS h FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
    FROM {source}
  )
),
sums AS (
  SELECT doc_id, {sums} FROM tok GROUP BY doc_id
)
SELECT doc_id, {bits} AS simhash FROM sums
"""


def _token_budget_sql(budget: int, buckets: int = 1000) -> str:
    """COMPUTING twin of textops.token_budget_select: same two-phase
    bucket-histogram cut over the shared quality-feature CTE."""
    return f"""
WITH {_doc_features_cte()},
docs AS (
  SELECT doc_id, source, n_tokens, quality,
         least(CAST(floor(quality * {buckets}) AS INT), {buckets - 1}) AS qb
  FROM scored
),
hist AS (SELECT qb, sum(n_tokens) AS btoks FROM docs GROUP BY qb),
cum AS (
  SELECT qb, btoks,
         sum(btoks) OVER (ORDER BY qb DESC ROWS UNBOUNDED PRECEDING) AS cum_top
  FROM hist
),
j AS (SELECT d.*, c.btoks, c.cum_top FROM docs d JOIN cum c USING (qb)),
boundary AS (
  SELECT *, sum(n_tokens) OVER (
      PARTITION BY qb ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING
    ) AS run
  FROM j WHERE cum_top > {budget} AND cum_top - btoks < {budget}
)
SELECT doc_id, source, n_tokens, quality FROM j WHERE cum_top <= {budget}
UNION ALL
SELECT doc_id, source, n_tokens, quality FROM boundary
WHERE run <= {budget} - (cum_top - btoks)
"""


def _simhash_near_dup_sql(max_hamming: int = 3, bands: int = 4) -> str:
    """COMPUTING twin of textops.simhash_near_dup over the SAME planted
    input q_simhash_near_dup builds (exact copies at doc_id%10==0, one-token
    mutants at %10==5): signature CTE as _simhash_sql, banded pigeonhole
    candidate join, unrolled hamming sum."""
    bits = textops.SIMHASH_BITS
    width = bits // bands
    sums = ",\n    ".join(
        "sum(CASE WHEN substr(h, {p}, 1) IN ('1','3','5','7','9','b','d','f')"
        " THEN 1 ELSE -1 END) AS s{j}".format(p=j + 1, j=j)
        for j in range(bits)
    )
    bitstr = " || ".join(
        f"CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END" for j in range(bits)
    )
    ham = " + ".join(
        f"CASE WHEN substr(sig_a, {j + 1}, 1) <> substr(sig_b, {j + 1}, 1)"
        " THEN 1 ELSE 0 END"
        for j in range(bits)
    )
    return f"""
WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' almostdup' FROM documents
  WHERE doc_id % 10 = 5
),
tok AS (
  SELECT doc_id, {_simhash_hash_expr()} AS h FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
    FROM planted
  )
),
sums AS (
  SELECT doc_id, {sums} FROM tok GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {bitstr} AS simhash FROM sums
),
banded AS (
  SELECT doc_id, simhash, b.band_idx,
         substr(simhash, b.band_idx * {width} + 1, {width}) AS band_val
  FROM sigs, (SELECT unnest(range({bands})) AS band_idx) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM banded a
  JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST({ham} AS INT) AS hamming
FROM cand
WHERE ({ham}) <= {max_hamming}
"""


def _count_occ_sql(expr: str, needle: str) -> str:
    n = len(needle)
    return f"((length({expr}) - length(replace({expr}, '{needle}', ''))) // {n})"


def _langid_sql() -> str:
    padded = "(' ' || text || ' ')"
    en = " + ".join(_count_occ_sql(padded, m) for m in textops.EN_MARKERS)
    pt = " + ".join(_count_occ_sql(padded, m) for m in textops.PT_MARKERS)
    return f"""
SELECT doc_id,
       CAST({en} AS INT) AS en_hits,
       CAST({pt} AS INT) AS pt_hits,
       CASE WHEN ({en}) > ({pt}) THEN 'en'
            WHEN ({pt}) > ({en}) THEN 'pt'
            ELSE 'und' END AS lang_pred
FROM documents
"""


def _quality_sql() -> str:
    padded = "(' ' || text || ' ')"
    stop = " + ".join(
        _count_occ_sql(padded, m) for m in textops.EN_MARKERS + textops.PT_MARKERS
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
         {stop} AS stop_hits
  FROM documents
)
SELECT doc_id,
       n_tokens,
       round((n_chars - (n_tokens - 1)) / n_tokens, 6) AS mean_tok_len,
       round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
       round(stop_hits / n_tokens, 6) AS stop_ratio,
       round(0.4 * least(n_tokens / 100.0, 1.0)
           + 0.3 * (1.0 - least((n_punct / greatest(n_chars, 1)) * 10, 1.0))
           + 0.3 * least((stop_hits / n_tokens) * 5, 1.0), 6) AS quality
FROM base
"""


def _doc_features_cte() -> str:
    """Shared DuckDB CTE mirroring quality_score + langid + md5 per doc."""
    padded = "(' ' || text || ' ')"
    en = " + ".join(_count_occ_sql(padded, m) for m in textops.EN_MARKERS)
    pt = " + ".join(_count_occ_sql(padded, m) for m in textops.PT_MARKERS)
    stop = " + ".join(
        _count_occ_sql(padded, m) for m in textops.EN_MARKERS + textops.PT_MARKERS
    )
    return f"""
feat AS (
  SELECT doc_id, source, md5(text) AS h,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
         {stop} AS stop_hits,
         CAST({en} AS INT) AS en_hits,
         CAST({pt} AS INT) AS pt_hits
  FROM (SELECT doc_id, source, coalesce(text, '') AS text FROM documents)
),
scored AS (
  SELECT *,
         CASE WHEN en_hits > pt_hits THEN 'en'
              WHEN pt_hits > en_hits THEN 'pt' ELSE 'und' END AS lang_pred,
         round(0.4 * least(n_tokens / 100.0, 1.0)
             + 0.3 * (1.0 - least((n_punct / greatest(n_chars, 1)) * 10, 1.0))
             + 0.3 * least((stop_hits / n_tokens) * 5, 1.0), 6) AS quality
  FROM feat
)
"""


def _curate_sql(min_tokens=20, min_quality=0.5, lang="en") -> str:
    return f"""
WITH {_doc_features_cte()},
keepers AS (SELECT h, min(doc_id) AS kd FROM scored GROUP BY h),
j AS (
  SELECT s.doc_id, s.doc_id = k.kd AS is_keeper, s.lang_pred, s.n_tokens, s.quality
  FROM scored s JOIN keepers k USING (h)
),
decided AS (
  SELECT doc_id,
         CASE WHEN NOT is_keeper THEN 'dup'
              WHEN lang_pred <> '{lang}' THEN 'lang'
              WHEN n_tokens < {min_tokens} THEN 'short'
              WHEN quality < {min_quality} THEN 'low_quality'
              ELSE 'ok' END AS reason
  FROM j
)
SELECT doc_id, reason = 'ok' AS keep, reason FROM decided
"""


def _source_stats_sql() -> str:
    return f"""
WITH {_doc_features_cte()}
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT h) AS n_distinct,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(quality), 6) AS avg_quality,
       round(1.0 - count(DISTINCT h) / count(*), 6) AS dup_rate
FROM scored GROUP BY source
"""


def _cosine_topk_sql(query_ids="0,1,2,3,4", k=5) -> str:
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_dot_product(b.vec, q.vec) / (b.norm * q.norm), 6) AS cosine
  FROM base b, base q
  WHERE q.vec_id IN ({query_ids}) AND b.vec_id <> q.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM ranked WHERE rank <= {k}
"""


def _proj_sql(vec):
    lits = ", ".join(repr(x) for x in vec)
    return f"list_dot_product(vec, [{lits}]::DOUBLE[])"


def _srp_table_bucket_sql(table: int) -> str:
    return " || ".join(
        f"CASE WHEN {_proj_sql(v)} >= 0 THEN '1' ELSE '0' END"
        for v in simsearch.srp_table_vectors(table)
    )


def _srp_tagged_sql() -> str:
    """base + exploded (table, bucket) rows over all SRP hash tables."""
    per_table = " UNION ALL ".join(
        f"SELECT vec_id, vec, norm, {t} AS tbl, {_srp_table_bucket_sql(t)} AS bucket FROM base"
        for t in range(simsearch.SRP_TABLES)
    )
    return f"""
base AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
tagged AS ({per_table})
"""


def _srp_sql(k=5) -> str:
    return f"""
WITH {_srp_tagged_sql()},
cands AS (
  SELECT DISTINCT q.vec_id AS query_id, q.vec AS qvec, q.norm AS qnorm,
                  b.vec_id AS neighbor_id, b.vec AS vec, b.norm AS norm
  FROM tagged b JOIN tagged q ON b.tbl = q.tbl AND b.bucket = q.bucket
  WHERE q.vec_id IN (0,1,2,3,4) AND b.vec_id <> q.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(vec, qvec) / (norm * qnorm), 6) AS cosine
  FROM cands
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM ranked WHERE rank <= {k}
"""


def _pq_sql(k=5, m=None, n_cent=None, dim=None) -> str:
    """Computing PQ twin: quantize -> per-subspace codebooks (vec_id <
    n_cent convention) -> argmin codes -> integer ADC sums. sqdist uses
    the dot-product identity aa - 2ab + bb: every term is an integer
    below 2^53, so DuckDB's double list_dot_product is EXACT and equals
    Spark's long-arithmetic left fold."""
    m = m or simsearch.PQ_M
    n_cent = n_cent or simsearch.PQ_K
    dim = dim or simsearch.SRP_DIM
    sub = dim // m
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * {simsearch.PQ_QUANT}) AS BIGINT)) AS qv
  FROM embeddings
),
subsp AS (
  SELECT vec_id, s.s AS s,
         list_transform(qv[s.s*{sub}+1 : (s.s+1)*{sub}], v -> v::DOUBLE) AS sv
  FROM q, (SELECT unnest(range({m})) AS s) s
),
cents AS (
  SELECT s, vec_id AS j, sv AS cv FROM subsp WHERE vec_id < {n_cent}
),
dists AS (
  SELECT x.vec_id, x.s, c.j,
         CAST(list_dot_product(x.sv, x.sv)
              - 2 * list_dot_product(x.sv, c.cv)
              + list_dot_product(c.cv, c.cv) AS BIGINT) AS d
  FROM subsp x JOIN cents c USING (s)
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
    FROM dists
  ) WHERE rn = 1
),
adc AS (
  SELECT qs.vec_id AS query_id, cx.vec_id AS neighbor_id,
         CAST(SUM(CAST(list_dot_product(qs.sv, qs.sv)
                       - 2 * list_dot_product(qs.sv, ce.cv)
                       + list_dot_product(ce.cv, ce.cv) AS BIGINT))
              AS BIGINT) AS approx_dist
  FROM codes cx
  JOIN cents ce ON ce.s = cx.s AND ce.j = cx.code
  JOIN subsp qs ON qs.s = cx.s
  WHERE qs.vec_id IN (0,1,2,3,4) AND cx.vec_id <> qs.vec_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY approx_dist, neighbor_id
  ) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, approx_dist
FROM ranked WHERE rank <= {k}
"""


def _ivf_sql(k=5, n_cells=None, n_probe=None) -> str:
    n_cells = n_cells or simsearch.IVF_CELLS
    n_probe = n_probe or simsearch.IVF_PROBE
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
),
cents AS (
  SELECT vec_id AS cent_id, vec AS cvec, norm AS cnorm FROM base WHERE vec_id < {n_cells}
),
assign_scored AS (
  SELECT b.vec_id, b.vec, b.norm, c.cent_id,
         round(list_dot_product(b.vec, c.cvec) / (b.norm * c.cnorm), 6) AS ccos
  FROM base b, cents c
),
assigned AS (
  SELECT vec_id, vec, norm, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crank
    FROM assign_scored
  ) WHERE crank = 1
),
probes AS (
  SELECT vec_id AS query_id, vec AS qvec, norm AS qnorm, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crank
    FROM assign_scored WHERE vec_id IN (0,1,2,3,4)
  ) WHERE crank <= {n_probe}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_dot_product(a.vec, p.qvec) / (a.norm * p.qnorm), 6) AS cosine
  FROM assigned a JOIN probes p ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM ranked WHERE rank <= {k}
"""


def _near_dup_sql(threshold: float) -> str:
    return f"""
WITH {_srp_tagged_sql()},
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, a.vec AS va, a.norm AS na,
                  b.vec_id AS vec_b, b.vec AS vb, b.norm AS nb
  FROM tagged a JOIN tagged b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(list_dot_product(va, vb) / (na * nb), 6) AS cosine
FROM pairs
WHERE round(list_dot_product(va, vb) / (na * nb), 6) >= {threshold}
"""


# The char-bigram LM chain (norm -> grams -> tf -> model -> tot -> scored)
# shared by the char_lm_score and ccnet_buckets twins — one definition, the
# htmlops-twin discipline: a change must land on both engines or neither.
_CHAR_LM_CTES = r"""norm AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'),
                        '[0-9]', '0', 'g') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, substring(t, u.i, 2) AS g
  FROM norm, unnest(generate_series(1, length(t) - 1)) AS u(i)
),
tf AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf FROM grams GROUP BY 1, 2),
model AS (SELECT g, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS v FROM model),
scored AS (
  SELECT tf.doc_id,
         CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
         CAST(sum(tf.tf * CAST(round(
              ln((model.cnt + 1) * 1.0 / (tot.total + tot.v)) * 1000000)
              AS BIGINT)) AS BIGINT) AS q_sum
  FROM tf JOIN model USING (g) CROSS JOIN tot
  GROUP BY 1
)"""


def _char_lm_score_sql() -> str:
    return f"""
WITH {_CHAR_LM_CTES}
SELECT d.doc_id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(-s.q_sum / (s.n_bigrams * 1000000.0), 6) AS nll
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def _ccnet_buckets_sql(head_pct: int = 30, middle_pct: int = 40) -> str:
    """COMPUTING twin of textops.ccnet_buckets: same integer band edges on
    (row_number, count) per language, same NULLS LAST ordering."""
    mid_cut = head_pct + middle_pct
    return f"""
WITH {_CHAR_LM_CTES},
lm AS (
  SELECT d.doc_id, d.lang,
         round(-s.q_sum / (s.n_bigrams * 1000000.0), 6) AS nll
  FROM documents d LEFT JOIN scored s USING (doc_id)
),
ranked AS (
  SELECT doc_id, lang, nll,
         row_number() OVER (PARTITION BY lang
                            ORDER BY nll ASC NULLS LAST, doc_id) AS r,
         count(*) OVER (PARTITION BY lang) AS n
  FROM lm
)
SELECT doc_id, lang, nll,
       CASE WHEN r * 100 <= {head_pct} * n THEN 'head'
            WHEN r * 100 <= {mid_cut} * n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
"""


def _embedding_decon_sql(
    benchmark_ids=(0, 1, 2, 3, 4), threshold: float = 0.35
) -> str:
    ids = ", ".join(str(i) for i in benchmark_ids)
    return f"""
WITH {_srp_tagged_sql()},
cand AS (
  SELECT DISTINCT c.vec_id AS vec_id, b.vec_id AS bench_id
  FROM tagged c JOIN tagged b ON c.tbl = b.tbl AND c.bucket = b.bucket
  WHERE b.vec_id IN ({ids}) AND c.vec_id NOT IN ({ids})
),
hits AS (
  SELECT cand.vec_id AS vec_id,
         round(list_dot_product(cv.vec, bv.vec) / (cv.norm * bv.norm), 6) AS cos
  FROM cand
  JOIN base cv ON cand.vec_id = cv.vec_id
  JOIN base bv ON cand.bench_id = bv.vec_id
  WHERE round(list_dot_product(cv.vec, bv.vec) / (cv.norm * bv.norm), 6)
        >= {threshold}
),
agg AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits, max(cos) AS max_cos
  FROM hits GROUP BY 1
)
SELECT e.vec_id AS vec_id,
       coalesce(a.n_hits, 0) AS n_hits,
       a.max_cos AS max_cos,
       (a.vec_id IS NULL) AS is_clean
FROM (SELECT vec_id FROM embeddings WHERE vec_id NOT IN ({ids})) e
LEFT JOIN agg a USING (vec_id)
"""


def _kmeans_ctes(k: int, iters: int) -> list[str]:
    """Unrolled quantized-Lloyd chain shared by the kmeans_clusters and
    semdedup twins, ending in the final assignment CTE ``a{iters}``.

    Same exact integer arithmetic as clustering.kmeans_clusters: BIGINT
    coordinates on the 1e-6 grid, floor(exact_sum / count) centroid
    updates, argmin tie-break on the lowest cluster id, empty clusters
    respawned at the origin. AS MATERIALIZED throughout — the bpe-twin
    lesson: DuckDB otherwise inlines each round's prefix exponentially."""
    from enem_spark.clustering import QUANT

    parts = [
        f"""q0 AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS q
  FROM embeddings
)""",
        """qe AS MATERIALIZED (
  SELECT vec_id, i AS pos, q[i] AS v
  FROM (SELECT vec_id, q, unnest(generate_series(1, len(q))) AS i FROM q0) t
)""",
        f"""c0 AS MATERIALIZED (
  SELECT vec_id AS cluster, pos, v AS val FROM qe WHERE vec_id < {k}
)""",
    ]
    for r in range(iters + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT qe.vec_id AS vec_id, c.cluster AS cluster,
         CAST(sum((qe.v - c.val) * (qe.v - c.val)) AS BIGINT) AS dist
  FROM qe JOIN c{r} c USING (pos)
  GROUP BY 1, 2
),
a{r} AS MATERIALIZED (
  SELECT vec_id, cluster, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist ASC, cluster ASC) AS rn
    FROM d{r}
  ) WHERE rn = 1
)"""
        )
        if r == iters:
            break
        parts.append(
            f"""m{r} AS MATERIALIZED (
  SELECT a.cluster, qe.pos,
         CAST(floor(CAST(sum(qe.v) AS DOUBLE) / count(*)) AS BIGINT) AS val
  FROM a{r} a JOIN qe USING (vec_id)
  GROUP BY 1, 2
),
c{r + 1} AS MATERIALIZED (
  SELECT g.cluster, p.pos, coalesce(m.val, 0) AS val
  FROM (SELECT CAST(unnest(generate_series(0, {k - 1})) AS BIGINT) AS cluster) g
  CROSS JOIN (SELECT DISTINCT pos FROM qe) p
  LEFT JOIN m{r} m ON m.cluster = g.cluster AND m.pos = p.pos
)"""
        )
    return parts


def _kmeans_sql(k=None, iters=None) -> str:
    from enem_spark.clustering import KMEANS_ITERS, KMEANS_K

    k = k or KMEANS_K
    iters = iters or KMEANS_ITERS
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(k, iters))
        + f"""
SELECT vec_id, CAST(cluster AS INT) AS cluster, dist AS dist_sq
FROM a{iters}
"""
    )


def _semdedup_sql(tau: float, k=None, iters=None) -> str:
    from enem_spark.clustering import KMEANS_ITERS, KMEANS_K

    k = k or KMEANS_K
    iters = iters or KMEANS_ITERS
    parts = _kmeans_ctes(k, iters)
    parts.append(
        """nv AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
)"""
    )
    parts.append(
        f"""pv AS MATERIALIZED (
  SELECT a.cluster, n.vec_id, n.vec, n.norm
  FROM a{iters} a JOIN nv n USING (vec_id)
),
dropped AS (
  SELECT DISTINCT b.vec_id AS vec_id
  FROM pv a JOIN pv b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) >= {tau}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT a.vec_id AS vec_id, CAST(a.cluster AS INT) AS cluster,
       (d.vec_id IS NULL) AS is_kept
FROM a{iters} a LEFT JOIN dropped d USING (vec_id)
"""
    )


def _pagerank_sql(
    html_pages_path: str, iterations: int = 3, damping: float = 0.85
) -> str:
    """Unrolled PageRank twin: r_{k+1}(h) = round((1-d)/N + d * sum over
    in-edges of r_k(src) * weight / outw(src), 9). Mirrors
    enem_spark.htmlops.host_pagerank exactly (fixed iterations, same
    dangling simplification)."""
    iters = []
    for k in range(iterations):
        iters.append(
            f"""r{k + 1} AS (
  SELECT nodes.host,
         round((1 - {damping}) / n.n + {damping} * coalesce(c.s, 0), 9) AS rank
  FROM nodes CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst AS host, sum(r{k}.rank * e.weight / o.outw) AS s
    FROM edges e
    JOIN outw o ON e.src = o.src
    JOIN r{k} ON r{k}.host = e.src
    GROUP BY e.dst
  ) c ON nodes.host = c.host
)"""
        )
    chain = ",\n".join(iters)
    return f"""
WITH hrefs AS (
  SELECT regexp_extract(url, '^cc://([^/]+)', 1) AS src,
         unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS link
  FROM read_parquet('{html_pages_path}')
),
edges AS (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS weight
  FROM (SELECT src, regexp_extract(link, '^https?://([^/]+)', 1) AS dst FROM hrefs)
  WHERE dst <> '' GROUP BY src, dst
),
nodes AS (
  SELECT DISTINCT host FROM (
    SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges
  )
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS (SELECT src, sum(weight) AS outw FROM edges GROUP BY src),
r0 AS (SELECT nodes.host, 1.0 / n.n AS rank FROM nodes CROSS JOIN n),
{chain}
SELECT host, round(rank, 6) AS pagerank FROM r{iterations}
"""


def _components_sql(html_pages_path: str) -> str:
    """Twin of htmlops.host_components: same edge derivation as
    _pagerank_sql (href extraction, dst <> ''), self-links dropped,
    symmetric closure, then components via a recursive reachability CTE —
    (host, label) pairs grow along undirected edges until fixpoint (UNION
    dedups, so it terminates), and min(label) per host is exactly the
    min-label-propagation fixpoint the Spark side iterates to. Node set =
    page hosts UNION edge endpoints; linkless hosts label themselves."""
    return f"""
WITH RECURSIVE hrefs AS (
  SELECT regexp_extract(url, '^cc://([^/]+)', 1) AS src,
         unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS link
  FROM read_parquet('{html_pages_path}')
),
dedges AS (
  SELECT DISTINCT src, dst
  FROM (SELECT src, regexp_extract(link, '^https?://([^/]+)', 1) AS dst FROM hrefs)
  WHERE dst <> '' AND dst <> src
),
uedges AS (
  SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges
),
nodes AS (
  SELECT DISTINCT host FROM (
    SELECT regexp_extract(url, '^cc://([^/]+)', 1) AS host
    FROM read_parquet('{html_pages_path}')
    UNION ALL SELECT src FROM uedges
  ) WHERE host <> ''
),
reach(host, label) AS (
  SELECT host, host FROM nodes
  UNION
  SELECT e.dst, r.label FROM reach r JOIN uedges e ON e.src = r.host
)
SELECT host, min(label) AS component FROM reach GROUP BY host
"""


def _paragraph_langid_sql(html_main_path: str) -> str:
    """Twin of htmlops.paragraph_langid: per-paragraph marker heuristic via
    SQL list comprehensions over the staged DOM output, same plurality and
    tie rules; all counts are exact ints so the single division is
    IEEE-identical across engines."""
    px = "(' ' || x || ' ')"
    en = "(" + " + ".join(_count_occ_sql(px, m) for m in textops.EN_MARKERS) + ")"
    pt = "(" + " + ".join(_count_occ_sql(px, m) for m in textops.PT_MARKERS) + ")"
    return f"""
WITH p AS (
  SELECT doc_id,
         [x for x in string_split(main_text, chr(10)) if x <> ''] AS paras
  FROM read_parquet('{html_main_path}')
),
l AS (
  SELECT doc_id, len(paras) AS n,
         [CASE WHEN {en} > {pt} THEN 'en'
               WHEN {pt} > {en} THEN 'pt'
               ELSE 'und' END for x in paras] AS langs
  FROM p
),
c AS (
  SELECT doc_id, n,
         len(list_filter(langs, y -> y = 'en')) AS n_en,
         len(list_filter(langs, y -> y = 'pt')) AS n_pt
  FROM l
)
SELECT doc_id,
       CAST(n AS INT) AS n_paras,
       CASE WHEN n_en > n_pt AND n_en > (n - n_en - n_pt) THEN 'en'
            WHEN n_pt > n_en AND n_pt > (n - n_en - n_pt) THEN 'pt'
            ELSE 'und' END AS majority_lang,
       -- disagreement vs the REPORTED label (ties report 'und', so the
       -- denominator pairs with n_und there), mirroring the engine
       round((n - CASE WHEN n_en > n_pt AND n_en > (n - n_en - n_pt) THEN n_en
                       WHEN n_pt > n_en AND n_pt > (n - n_en - n_pt) THEN n_pt
                       ELSE n - n_en - n_pt END)
             / greatest(n, 1), 6) AS minority_frac
FROM c
"""


def _clean_corpus_sql(html_main_path: str) -> str:
    """Twin of htmlops.clean_paragraphs: same window (first occurrence by
    (doc_id, pos) on the paragraph hash), same per-paragraph heuristic and
    plurality rules, same ordered reassembly."""
    px = "(' ' || para || ' ')"
    en = "(" + " + ".join(_count_occ_sql(px, m) for m in textops.EN_MARKERS) + ")"
    pt = "(" + " + ".join(_count_occ_sql(px, m) for m in textops.PT_MARKERS) + ")"
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(main_text, chr(10)) AS ps
  FROM read_parquet('{html_main_path}')
),
paras AS (
  SELECT doc_id, u.pos, u.para FROM (
    SELECT doc_id,
           unnest([{{'pos': i - 1, 'para': ps[i]}} for i in range(1, len(ps) + 1)]) AS u
    FROM tok
  ) WHERE u.para <> ''
),
p AS (
  SELECT doc_id, pos, para,
         CASE WHEN {en} > {pt} THEN 'en'
              WHEN {pt} > {en} THEN 'pt' ELSE 'und' END AS plang,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rk
  FROM paras
),
maj AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_paras,
         sum(CASE WHEN plang = 'en' THEN 1 ELSE 0 END) AS n_en,
         sum(CASE WHEN plang = 'pt' THEN 1 ELSE 0 END) AS n_pt
  FROM p GROUP BY doc_id
),
m AS (
  SELECT doc_id, n_paras,
         CASE WHEN n_en > n_pt AND n_en > (n_paras - n_en - n_pt) THEN 'en'
              WHEN n_pt > n_en AND n_pt > (n_paras - n_en - n_pt) THEN 'pt'
              ELSE 'und' END AS majority_lang
  FROM maj
)
SELECT p.doc_id, m.majority_lang, m.n_paras,
       CAST(sum(CASE WHEN p.rk = 1
                 AND (m.majority_lang = 'und' OR p.plang = m.majority_lang)
                THEN 1 ELSE 0 END) AS INT) AS n_kept,
       coalesce(string_agg(CASE WHEN p.rk = 1
                 AND (m.majority_lang = 'und' OR p.plang = m.majority_lang)
                THEN p.para END, chr(10) ORDER BY p.pos), '') AS text_clean
FROM p JOIN m ON p.doc_id = m.doc_id
GROUP BY p.doc_id, m.majority_lang, m.n_paras
"""


def _html_curate_sql(html_staged: dict) -> str:
    """Twin of htmlops.curate_main_content: staged DOM output + the
    computed unrolled-PageRank CTE + the SAME keep-rule constants (imported,
    not copied) with the scale-free floor-multiple threshold."""
    from enem_spark.htmlops import (
        CURATE_MIN_BLOCKS,
        CURATE_MIN_CHARS,
        CURATE_RANK_FLOOR_MULT,
        PAGERANK_DAMPING,
    )

    # empty host graph disables the rank gate (mirror of the Spark
    # when(count>0).otherwise(0.0) guard against c/0 = +Infinity)
    thr = (
        f"CASE WHEN n.n > 0 THEN "
        f"{CURATE_RANK_FLOOR_MULT * (1.0 - PAGERANK_DAMPING)!r} / n.n "
        f"ELSE 0.0 END"
    )
    return f"""
WITH pr AS ({_pagerank_sql(html_staged["html_pages"])}),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pr),
m AS (
  SELECT doc_id, regexp_extract(url, '^cc://([^/]+)', 1) AS host,
         main_chars, n_content_blocks
  FROM read_parquet('{html_staged["html_main"]}')
)
SELECT m.doc_id, m.host, m.main_chars, m.n_content_blocks,
       coalesce(pr.pagerank, 0.0) AS host_rank,
       (m.main_chars >= {CURATE_MIN_CHARS}
        AND m.n_content_blocks >= {CURATE_MIN_BLOCKS}
        AND coalesce(pr.pagerank, 0.0) >= {thr}) AS keep
FROM m LEFT JOIN pr ON m.host = pr.host CROSS JOIN n
"""


def _hll_ctes(src: str, keys: str, prefix: str = "") -> str:
    """The HLL register/estimate CTE chain over ``src``, a CTE exposing
    ({keys}, v): buckets+rho from md5, max per bucket, exact HUGEINT
    register sum, raw estimate + linear-counting inputs. Exists ONCE so
    the hll_distinct and incr_corpus_stats twins can never drift (the SQL
    mirror of the never-fork-hashing invariant). Float constants are
    inlined via repr() from the SAME Python doubles the Spark side
    F.lit()s, so both engines perform identical IEEE operations. The
    consumer SELECTs _hll_final_expr() FROM {prefix}est."""
    m = 1 << textops.PARITY_HLL_P
    amm = (0.7213 / (1.0 + 1.079 / m)) * m * m
    p61 = float(1 << 61)
    return f"""{prefix}rr AS (
  SELECT {keys},
         CAST(concat('0x', substr(md5(v), 1, 4)) AS BIGINT) % {m} AS bucket,
         CAST(concat('0x', substr(md5(v), 5, 15)) AS BIGINT) AS rem
  FROM {src}
),
{prefix}regs AS (
  SELECT {keys}, bucket,
         max(CASE WHEN rem = 0 THEN 61 ELSE 61 - length(bin(rem)) END) AS reg
  FROM {prefix}rr GROUP BY {keys}, bucket
),
{prefix}agg AS (
  SELECT {keys},
         sum(CAST(1::BIGINT << (61 - reg) AS HUGEINT)) AS s_present,
         count(*) AS n_regs
  FROM {prefix}regs GROUP BY {keys}
),
{prefix}est AS (
  SELECT {keys}, {m} - n_regs AS v0,
         {amm!r} * {p61!r}
           / CAST(s_present + ({m} - n_regs) * CAST({1 << 61} AS HUGEINT)
                  AS DOUBLE) AS raw
  FROM {prefix}agg
)"""


def _hll_final_expr() -> str:
    """Linear-counting-or-raw finalization over ({prefix}est's) v0/raw."""
    m = 1 << textops.PARITY_HLL_P
    return (
        f"round(CASE WHEN raw <= {2.5 * m!r} AND v0 > 0 "
        f"THEN {float(m)!r} * ln({float(m)!r} / v0) ELSE raw END, 4)"
    )


def _qsketch_pick_ctes(src: str, keys: str, prefix: str = "") -> str:
    """The qsketch bin/hist/pick CTE chain over ``src``, a CTE exposing
    ({keys}, x): log-histogram bin ids (bin arithmetic exists ONCE here),
    cumulative counts, and the picked bin per quantile. The consumer
    SELECTs _qsketch_est_expr() FROM {prefix}pick."""
    sub = 1 << textops.QSKETCH_SUB_BITS
    return f"""{prefix}bins AS (
  SELECT {keys}, CASE WHEN x <= 0 THEN 0
    ELSE length(bin(x)) * {sub} +
         ((x - (1::BIGINT << (length(bin(x)) - 1))) * {sub})
           // (1::BIGINT << (length(bin(x)) - 1)) END AS bin_id
  FROM {src}
),
{prefix}hist AS (
  SELECT {keys}, bin_id, count(*) AS n
  FROM {prefix}bins GROUP BY {keys}, bin_id
),
{prefix}cum AS (
  SELECT {keys}, bin_id,
         sum(n) OVER (PARTITION BY {keys} ORDER BY bin_id) AS cum,
         sum(n) OVER (PARTITION BY {keys}) AS total
  FROM {prefix}hist
),
{prefix}tall AS (
  SELECT {keys}, bin_id, cum, total, unnest([0.5, 0.9, 0.99]) AS q
  FROM {prefix}cum
),
{prefix}pick AS (
  SELECT {keys}, q, min(bin_id) AS bin_id
  FROM {prefix}tall WHERE cum >= ceil(q * total) GROUP BY {keys}, q
)"""


def _qsketch_est_expr() -> str:
    """Bin-id -> lower-edge value reconstruction (// is DuckDB floor
    division, matching Spark's `div` on the all-positive operands)."""
    sub = 1 << textops.QSKETCH_SUB_BITS
    return f"""CAST(CASE WHEN bin_id = 0 THEN 0
    ELSE (1::BIGINT << (CAST(bin_id // {sub} AS INT) - 1))
         + ((bin_id % {sub}) * (1::BIGINT << (CAST(bin_id // {sub} AS INT) - 1)))
             // {sub}
  END AS BIGINT)"""


def _hll_sql() -> str:
    """COMPUTING twin of textops.hll_distinct over the same two datasets
    the Spark query unions; register construction shared via _hll_ctes."""
    return f"""
WITH tok AS (
  SELECT source AS grp, unnest(regexp_split_to_array(trim(text), '\\s+')) AS v
  FROM documents
),
u AS (
  SELECT 'tokens' AS dataset, grp, v FROM tok
  UNION ALL
  SELECT 'users' AS dataset, event_type AS grp, CAST(user_id AS VARCHAR) AS v
  FROM events
),
{_hll_ctes("u", "dataset, grp")}
SELECT dataset, grp, {_hll_final_expr()} AS approx_distinct
FROM est
"""


_HLL_SQL = _hll_sql()


def _qsketch_sql() -> str:
    sub = 1 << textops.QSKETCH_SUB_BITS
    return f"""
WITH base AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
{_qsketch_pick_ctes("base", "source")}
SELECT source, q, {_qsketch_est_expr()} AS q_est
FROM pick
"""


_QSKETCH_SQL = _qsketch_sql()


def _stats_sql() -> str:
    """One-shot full-recompute twin of statstore.corpus_stat_report:
    exact counts, HLL vocabulary, and qsketch percentiles per source —
    the register construction and bin arithmetic come from the SAME
    builders as _HLL_SQL/_QSKETCH_SQL (prefixed 'h'/'q' to keep CTE names
    unique), so the three twins cannot drift apart."""
    return f"""
WITH tok AS (
  SELECT source AS grp, unnest(regexp_split_to_array(trim(text), '\\s+')) AS v
  FROM documents
),
counts AS (
  SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
{_hll_ctes("tok", "grp", prefix="h")},
vocab AS (
  SELECT grp, {_hll_final_expr()} AS vocab_est FROM hest
),
qbase AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS x FROM documents),
{_qsketch_pick_ctes("qbase", "grp", prefix="q")},
qest AS (
  SELECT grp, q, {_qsketch_est_expr()} AS q_est FROM qpick
),
quants AS (
  SELECT grp,
         max(CASE WHEN q = 0.5 THEN q_est END) AS p50,
         max(CASE WHEN q = 0.9 THEN q_est END) AS p90,
         max(CASE WHEN q = 0.99 THEN q_est END) AS p99
  FROM qest GROUP BY grp
)
SELECT c.grp AS source, c.n_docs, c.n_tokens, v.vocab_est,
       q.p50, q.p90, q.p99
FROM counts c JOIN vocab v ON c.grp = v.grp JOIN quants q ON c.grp = q.grp
"""


_STATS_SQL = _stats_sql()


# k shared between q_cms_topk_terms and its twin — every other parity
# knob (depth/width/sample_mod) is a shared constant too; a k edited on
# one side only would silently shrink the twin's coverage
_CMS_K = 5


def _cms_sql() -> str:
    """COMPUTING twin of textops.cms_topk at the parity config: the same
    depth-replicated md5 cells, min-over-rows estimate, and (est DESC,
    term) tie-broken rank — collisions and all."""
    d = textops.PARITY_CMS_DEPTH
    w = textops.PARITY_CMS_WIDTH
    mod = textops.CMS_SAMPLE_MOD
    rows = ", ".join(str(i) for i in range(d))
    col = (
        "CAST(concat('0x', substr(md5(concat(CAST(row AS VARCHAR), ':', v)),"
        f" 1, 15)) AS BIGINT) % {w}"
    )
    return f"""
WITH tok AS (
  SELECT source AS grp, doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS v
  FROM documents
),
cells AS (
  SELECT grp, v, row, {col} AS col
  FROM (SELECT grp, v, unnest([{rows}]) AS row FROM tok)
),
sk AS (SELECT grp, row, col, count(*) AS cnt FROM cells GROUP BY grp, row, col),
cand AS (
  SELECT DISTINCT grp, v FROM tok
  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % {mod} = 0
),
probe AS (
  SELECT grp, v, row, {col} AS col
  FROM (SELECT grp, v, unnest([{rows}]) AS row FROM cand)
),
est AS (
  SELECT p.grp, p.v, min(coalesce(s.cnt, 0)) AS est_count
  FROM probe p
  LEFT JOIN sk s ON p.grp = s.grp AND p.row = s.row AND p.col = s.col
  GROUP BY p.grp, p.v
),
rk AS (
  SELECT grp, v, est_count,
         row_number() OVER (PARTITION BY grp ORDER BY est_count DESC, v)
           AS rank
  FROM est
)
SELECT grp AS source, v AS term, CAST(est_count AS BIGINT) AS est_count,
       CAST(rank AS INT) AS rank
FROM rk WHERE rank <= {_CMS_K}
"""


_CMS_SQL = _cms_sql()


def oracle_sql() -> dict[str, str]:
    # The flagship pipeline is a stateful cross-page string machine — not
    # SQL-expressible directly. Its oracle is therefore MATERIALIZED: the
    # pure-Python twin (enem_spark/expected.py — same per-page function,
    # same key builder, no Spark) stages the expected tables as parquet and
    # the SQL is a trivial SELECT over them. The driver compares at sf0.01.
    import os as _os

    from enem_spark.expected import stage_expected_tables

    # The driver's CORRECTNESS compare runs at sf0.01; a harness comparing
    # at another scale must point the materialized oracle at the same
    # corpus the Spark queries read (the staging is memoized per sf_dir)
    from enem_spark.htmlops import stage_html_tables

    oracle_sf = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    expected = stage_expected_tables(oracle_sf)
    # sequence-packing twin: greedy bin assignment is order-dependent (no
    # closed-form SQL), so the same pack_bins kernel runs over
    # DuckDB-computed token counts and the SQL SELECTs the staged plan
    from enem_spark.packing import stage_pack_expected

    pack_expected = stage_pack_expected(oracle_sf)
    # html twins: `html_pages` is a staged copy of the INPUT (same pure
    # synthesis the Spark mapInPandas stage runs — byte-identity tested in
    # tests/test_htmlops.py), so the strip/outlinks/title oracles COMPUTE
    # their answers with DuckDB regexes; only the non-SQL-expressible DOM
    # classifier uses a materialized expected table (html_main).
    html_staged = stage_html_tables(oracle_sf)
    # warc twin: expected table built from the SOURCE rows BEFORE encoding
    # (enem_spark/sources/warc.py stage_warc_files), so the Spark side's
    # hash certifies the encode->decode round trip of the container format
    from enem_spark.sources.warc import stage_warc_files

    warc_staged = stage_warc_files(oracle_sf)
    # pdf twin: source lines staged pre-encode (round-trip certification)
    from enem_spark.pdfbin import stage_pdf_expected, stage_pdfimg_expected

    pdf_expected = stage_pdf_expected(oracle_sf)
    # image twin: expected rows staged from the image specs pre-embed
    pdfimg_expected = stage_pdfimg_expected(oracle_sf)
    # media twin: pure-Python synth+sniff over the same documents
    from enem_spark.multimodal import stage_media_expected

    media_expected = stage_media_expected(oracle_sf)
    # wet twin: shard bytes rebuilt sequentially with the SAME shared
    # encode functions — matching wet_md5 is byte-level certification of
    # the distributed export
    from enem_spark.sources.warc import stage_wet_expected

    wet_expected = stage_wet_expected(oracle_sf, n_shards=8)
    # wat twin: same byte-level protocol for the metadata-envelope shards
    from enem_spark.sources.warc import stage_wat_expected

    wat_expected = stage_wat_expected(oracle_sf, n_shards=8)
    # jsonl twin: same protocol — expected table staged from SOURCE rows
    # pre-encode; the SELECT certifies the encode->parse round trip
    from enem_spark.sources.jsonl import stage_jsonl_files

    jsonl_staged = stage_jsonl_files(oracle_sf)
    # csv twin: same protocol — expected table staged from SOURCE rows
    # pre-encode; the SELECT certifies the encode->parse round trip
    from enem_spark.sources.csvsrc import stage_csv_files

    csv_staged = stage_csv_files(oracle_sf)
    # icetable twins: expected tables are the SOURCE frames staged BEFORE
    # the pure-Python writer builds the table, so the scan/time-travel
    # hashes certify the write->manifest->prune->read round trip and the
    # delta twin COMPUTES the CDC classification from first principles
    from enem_spark.sources.icetable import (
        stage_ice_merge_base,
        stage_ice_pages,
    )

    ice_staged = stage_ice_pages(oracle_sf)
    # merge twin: expected post-merge frame, pure pandas from the same
    # source frames the Spark-side IceTable.merge consumes in the query
    ice_merge_staged = stage_ice_merge_base(oracle_sf)
    # row-delete twin: expected post-takedown frame, pure pandas from the
    # same first-crawl + takedown-list frames the Spark-side delete_rows /
    # purge_deletes queries consume
    from enem_spark.sources.icetable import stage_ice_rowdel

    ice_rowdel_staged = stage_ice_rowdel(oracle_sf)
    # wap twin: published main state == first crawl UNION delta crawl
    from enem_spark.sources.icetable import stage_ice_wap

    ice_wap_staged = stage_ice_wap(oracle_sf)
    # charset twin: expected decode stats from the same pure detector
    # (DuckDB cannot decode cp1252/utf-16 blobs, so this is materialized)
    from enem_spark.charset import (
        MIME_PREFIX as _mime_prefix,
        mime_sql_case,
        stage_charset_tables,
    )

    charset_staged = stage_charset_tables(oracle_sf)
    _mime_case = mime_sql_case("hx")
    # shared by the fresh and sig-store dedup_clusters legs (store path
    # must hash-match the fresh computation — _store_signatures contract)
    _dedup_clusters_twin = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_minhash_lsh_sql(0.5)})
),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.doc_a, r.r FROM edges e JOIN reach r ON r.doc_id = e.doc_b
)
SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
"""
    sqls = {
        "charset_decode": f"""
SELECT doc_id, url, charset, method, n_bytes, n_chars,
       round(replacement_ratio, 6) AS replacement_ratio, text_md5
FROM read_parquet('{charset_staged["charset_stats"]}')
""",
        # computing twin: the CASE is GENERATED from the same rule table
        # the Spark expression uses (charset.mime_sql_case) and runs over
        # byte-identical staged payloads
        "mime_sniff": f"""
WITH h AS (
  SELECT doc_id, url,
         substr(hex(html), 1, {2 * _mime_prefix}) AS hx,
         CAST(octet_length(html) AS BIGINT) AS n_bytes
  FROM read_parquet('{charset_staged["mime_payloads"]}')
)
SELECT doc_id, url,
       {_mime_case} AS mime,
       n_bytes
FROM h
""",
        "iceberg_scan": f"""
SELECT url, html_md5, html_len, md5(text) AS text_md5, lang
FROM read_parquet('{ice_staged["expected_new"]}')
WHERE warc_ts >= TIMESTAMP '2024-01-03 00:00:00'
""",
        "iceberg_incremental": f"""
SELECT url, html_md5, md5(text) AS text_md5, lang
FROM read_parquet('{ice_staged["expected_delta"]}')
""",
        "iceberg_merge": f"""
SELECT url, html_md5, CAST(html_len AS BIGINT) AS html_len,
       md5(text) AS text_md5, lang
FROM read_parquet('{ice_merge_staged["expected_merged"]}')
""",
        # compaction is row-preserving by contract: same twin as the merge
        "iceberg_compact": f"""
SELECT url, html_md5, CAST(html_len AS BIGINT) AS html_len,
       md5(text) AS text_md5, lang
FROM read_parquet('{ice_merge_staged["expected_merged"]}')
""",
        # merge-on-read takedown: twin = pure-pandas post-takedown frame
        "iceberg_row_delete": f"""
SELECT url, html_md5, CAST(html_len AS BIGINT) AS html_len,
       md5(text) AS text_md5, lang
FROM read_parquet('{ice_rowdel_staged["expected_rowdel"]}')
""",
        # the purge is row-preserving by contract: same twin as the delete
        "iceberg_delete_purge": f"""
SELECT url, html_md5, CAST(html_len AS BIGINT) AS html_len,
       md5(text) AS text_md5, lang
FROM read_parquet('{ice_rowdel_staged["expected_rowdel"]}')
""",
        # write-audit-publish: published main == base UNION delta, no row
        # lost in staging, none visible early
        "iceberg_wap": f"""
SELECT url, html_md5, CAST(html_len AS BIGINT) AS html_len,
       md5(text) AS text_md5, lang
FROM (
  SELECT * FROM read_parquet('{ice_wap_staged["expected_old"]}')
  UNION ALL
  SELECT * FROM read_parquet('{ice_wap_staged["expected_delta"]}')
)
""",
        # z-order rewrite is row-preserving by contract: same twin again
        "iceberg_cluster": f"""
SELECT url, html_md5, CAST(html_len AS BIGINT) AS html_len,
       md5(text) AS text_md5, lang
FROM read_parquet('{ice_rowdel_staged["expected_rowdel"]}')
""",
        # rollback reproduces the pre-merge state: twin = the first-crawl
        # source frame (staged independently by stage_ice_pages)
        "iceberg_rollback": f"""
SELECT url, html_md5, CAST(html_len AS BIGINT) AS html_len,
       md5(text) AS text_md5, lang
FROM read_parquet('{ice_staged["expected_old"]}')
""",
        "iceberg_time_travel": f"""
SELECT lang, count(*) AS n_pages,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_chars,
       count(DISTINCT url) AS n_urls
FROM read_parquet('{ice_staged["expected_old"]}')
GROUP BY lang
""",
        "crawl_delta": f"""
SELECT coalesce(o.url, n.url) AS url,
       CASE WHEN o.url IS NULL THEN 'added'
            WHEN n.url IS NULL THEN 'removed'
            WHEN o.text <> n.text THEN 'changed'
            ELSE 'unchanged' END AS status
FROM read_parquet('{ice_staged["expected_old"]}') o
FULL OUTER JOIN read_parquet('{ice_staged["expected_new"]}') n
  ON o.url = n.url
""",
        "warc_ingest": f"""
SELECT url, warc_date, html_md5, html_len, http_status
FROM read_parquet('{warc_staged["expected"]}')
""",
        # pdf twin: expected staged from the SOURCE lines BEFORE any PDF
        # byte exists — the Spark side synthesizes real PDF bytes and
        # parses them back, so the hash certifies the full round trip
        "pdf_decode": f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(page_idx AS BIGINT) AS page_idx,
       page_text, CAST(n_spans AS BIGINT) AS n_spans
FROM read_parquet('{pdf_expected}')
""",
        # image twin: expected rows staged from the image SPECS before any
        # PDF byte exists — matching png_md5 certifies the embed -> parse
        # -> inflate -> unpredict -> palette/CMYK->RGB -> PNG round trip
        "pdf_images": f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(page_idx AS BIGINT) AS page_idx,
       CAST(img_index AS BIGINT) AS img_index, CAST(width AS BIGINT) AS width,
       CAST(height AS BIGINT) AS height, fmt, codec,
       CAST(channels AS BIGINT) AS channels, had_alpha, was_cmyk, png_md5
FROM read_parquet('{pdfimg_expected}')
""",
        "wet_export": f"""
SELECT shard_id, n_records, wet_len, wet_md5
FROM read_parquet('{wet_expected}')
""",
        "wat_export": f"""
SELECT shard_id, n_records, n_links, wat_len, wat_md5
FROM read_parquet('{wat_expected}')
""",
        "jsonl_ingest": f"""
SELECT url, fetch_ts, md5(text) AS text_md5,
       CAST(length(text) AS BIGINT) AS text_len, lang, source
FROM read_parquet('{jsonl_staged["expected"]}')
""",
        "csv_ingest": f"""
SELECT url, fetch_ts, md5(text) AS text_md5,
       CAST(length(text) AS BIGINT) AS text_len, lang, source
FROM read_parquet('{csv_staged["expected"]}')
""",
        # fetch-history twin: UNION ALL of the three staged source frames
        # (same events the pinned as_of + incremental Spark reads see);
        # change stats are exact small-int arithmetic
        "recrawl_priority": f"""
WITH hist AS (
  SELECT url, warc_ts, html_md5 AS digest
  FROM read_parquet('{ice_staged["expected_old"]}')
  UNION ALL
  SELECT url, warc_ts, html_md5 FROM read_parquet('{ice_staged["expected_new"]}')
  UNION ALL
  SELECT url, warc_ts, html_md5 FROM read_parquet('{ice_staged["expected_delta"]}')
),
g AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
         CAST(count(DISTINCT digest) AS BIGINT) AS n_versions,
         CAST(epoch(max(warc_ts)) AS BIGINT) AS last_fetch_s
  FROM hist GROUP BY 1
),
r AS (
  SELECT url, n_fetches, n_versions,
         CASE WHEN n_fetches > 1
              THEN round((n_versions - 1) * 1.0 / (n_fetches - 1), 6)
         END AS change_ratio,
         last_fetch_s
  FROM g
)
SELECT url, n_fetches, n_versions, change_ratio, last_fetch_s,
       CASE WHEN n_fetches <= 1 THEN 'unknown'
            WHEN change_ratio >= 0.5 THEN 'hot'
            WHEN change_ratio > 0 THEN 'warm'
            ELSE 'cold' END AS priority
FROM r
""",
        # fetch-history politeness twin: same staged UNION as
        # recrawl_priority; host + minute bucketing recomputed in SQL
        "fetch_politeness": f"""
WITH hist AS (
  SELECT url, warc_ts FROM read_parquet('{ice_staged["expected_old"]}')
  UNION ALL
  SELECT url, warc_ts FROM read_parquet('{ice_staged["expected_new"]}')
  UNION ALL
  SELECT url, warc_ts FROM read_parquet('{ice_staged["expected_delta"]}')
),
base AS (
  SELECT regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1) AS host,
         CAST(epoch(warc_ts) AS BIGINT) AS ts_s, url
  FROM hist
  WHERE regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)', 1) <> ''
),
per_host AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_fetches,
         CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
         min(ts_s) AS first_s, max(ts_s) AS last_s
  FROM base GROUP BY 1
),
peak AS (
  SELECT host, CAST(max(n) AS BIGINT) AS peak_per_minute FROM (
    SELECT host, CAST(floor(ts_s / 60) AS BIGINT) AS m, count(*) AS n
    FROM base GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT p.host, p.n_fetches, p.n_urls, p.first_s, p.last_s, k.peak_per_minute
FROM per_host p JOIN peak k ON p.host = k.host
""",
        # computing twin: same robots regex + token rules over staged pages
        "html_robots": f"""
WITH r AS (
  SELECT doc_id, url,
         lower(regexp_extract(html,
           '(?i)<meta[^>]*name="robots"[^>]*content="([^"]*)"', 1)) AS c
  FROM read_parquet('{html_staged["robots_pages"]}')
)
SELECT doc_id, url, c AS robots_content,
       regexp_matches(c, '(^|[ ,])(noindex|none)([ ,]|$)') AS noindex,
       regexp_matches(c, '(^|[ ,])(nofollow|none)([ ,]|$)') AS nofollow
FROM r
""",
        "extract_questions": f"""
SELECT url, seq, subject, question_num, "ID", correct_answer, question_text
FROM read_parquet('{expected["extract_questions"]}')
""",
        "extract_question_spans": f"""
SELECT url, spans_json
FROM read_parquet('{expected["extract_question_spans"]}')
""",
        "route_case": """
SELECT CASE WHEN l_quantity BETWEEN 1 AND 5 THEN 'eng'
            WHEN l_quantity BETWEEN 6 AND 10 THEN 'spa'
            WHEN l_quantity BETWEEN 11 AND 50 THEN 'lang'
            ELSE 'other' END AS bucket,
       count(*) AS n_items,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
FROM lineitem GROUP BY 1
""",
        "lookup_join": """
SELECT coalesce(c.c_mktsegment, 'não achou a questão') AS segment,
       count(*) AS n_orders,
       round(CAST(sum(o.o_totalprice) AS DOUBLE), 2) AS sum_total
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
""",
        "running_window": """
SELECT user_id, event_id,
       round(coalesce(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0), 4) AS prior_sum
FROM events
""",
        "ordered_concat": """
SELECT user_id, string_agg(event_type, '' ORDER BY ts, event_id) AS event_seq
FROM events GROUP BY user_id
""",
        "segment_explode": r"""
SELECT doc_id,
       CAST(unnest(range(1, len(toks) + 1)) - 1 AS INT) AS seq,
       unnest(toks) AS token
FROM (SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks
      FROM documents WHERE doc_id < 100)
""",
        "numbering_gaps": """
SELECT user_id, event_id, CAST(seq AS INT) AS seq FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM events
) WHERE event_type = 'click'
""",
        "filter_normalize": r"""
SELECT doc_id,
       CAST(length(regexp_replace(replace(text, 'Spark', 'spark'), '\bvalue\b', '', 'g')) AS INT) AS clean_len,
       CAST(instr(replace(text, 'Spark', 'spark'), 'spark') AS INT) AS first_marker
FROM documents
WHERE instr(replace(text, 'Spark', 'spark'), 'spark') > 0
""",
        "tpch_q1_like": """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "latest_snapshot": """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
        "anti_join_missing": """
SELECT o_orderstatus, count(*) AS n_orders
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey
)
GROUP BY o_orderstatus
""",
        "rollup_revenue": """
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
        "dedup_exact": """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id, count(*) AS dup_count
FROM documents GROUP BY 1
""",
        "dedup_minhash_lsh": _minhash_lsh_sql(0.5),
        "dedup_ngram_jaccard": _ngram_jaccard_sql(0.5),
        "simhash": _simhash_sql(),
        "simhash_near_dup": _simhash_near_dup_sql(),
        "token_budget_select": _token_budget_sql(TOKEN_BUDGET),
        "compression_ratio": f"""
SELECT doc_id, n_bytes, z_bytes,
       round(z_bytes / greatest(n_bytes, 1), 6) AS comp_ratio
FROM read_parquet('{textops.stage_compression_expected(oracle_sf)}')
""",
        # COMPUTING twin of textops.c4_filters over the SAME planted lines
        # _c4_docs builds Spark-side (concat_ws skips NULL branches on both
        # engines; list_filter mirrors F.filter's keep predicate exactly).
        "c4_filters": r"""
WITH planted AS (
  SELECT doc_id,
    concat_ws(chr(10),
      'Welcome to the site',
      text || '.',
      'Please enable javascript to continue now.',
      'Buy now!',
      CASE WHEN doc_id % 5 <> 0 THEN
        'This sentence number two is real. And here is sentence three for '
        || source || '.' END,
      CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.' END,
      CASE WHEN doc_id % 11 = 0 THEN 'var x = { a: 1 };' END,
      CASE WHEN doc_id % 13 = 0 THEN 'win big at the casino tonight!' END
    ) AS text
  FROM documents
),
t AS (
  SELECT doc_id, text,
    string_split(text, chr(10)) AS lines,
    list_filter(string_split(text, chr(10)),
      x -> regexp_matches(trim(x), '[.!?"]$')
           AND len(regexp_split_to_array(trim(x), '\s+')) >= 5
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM planted
),
f AS (
  SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept_lines,
    CAST(length(array_to_string(kept, chr(10)))
       - length(translate(array_to_string(kept, chr(10)), '.!?', '')) AS INT)
      AS n_sentences,
    NOT contains(lower(text), 'lorem ipsum') AS r_lorem,
    NOT contains(text, '{') AS r_brace,
    NOT regexp_matches(text, '\b(casino|viagra|xxx)\b', 'i') AS r_badword,
    array_to_string(kept, chr(10)) AS kept_text
  FROM t
)
SELECT doc_id, n_lines, n_kept_lines, n_sentences, r_lorem, r_brace,
  r_badword, (n_sentences >= 3) AS r_min_sentences,
  (r_lorem AND r_brace AND r_badword AND n_sentences >= 3) AS c4_pass,
  md5(kept_text) AS kept_md5
FROM f
""",
        # MATERIALIZED twin of textops.mojibake_repair: the staged table
        # holds (planted, repaired) from the same pure kernel + constants;
        # the SQL hashes/measures them itself so both engines digest the
        # same strings independently.
        "mojibake_repair": f"""
SELECT doc_id, md5(repaired) AS repaired_md5,
       CAST(length(planted) AS BIGINT) AS n_before,
       CAST(length(repaired) AS BIGINT) AS n_after,
       (planted <> repaired) AS changed
FROM read_parquet('{textops.stage_mojibake_expected(oracle_sf)}')
""",
        # COMPUTING twin of textops.bloom_dedup: both engines derive the
        # same bit positions (first 48 bits of md5('i:text') mod m) and the
        # same 4-row probe expansion, so hits AND false positives agree
        # bit-for-bit.
        "bloom_dedup": f"""
WITH seeds AS (SELECT * FROM (VALUES ('0:'), ('1:'), ('2:'), ('3:')) AS s(i)),
bits AS (
  SELECT DISTINCT
    CAST(concat('0x', substr(md5(concat(s.i, coalesce(text, ''))), 1, 12)) AS BIGINT)
      % {textops.PARITY_BLOOM_M} AS pos, 1 AS hit
  FROM documents, seeds s WHERE doc_id % 2 = 0
),
ppos AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(concat(s.i, coalesce(text, ''))), 1, 12)) AS BIGINT)
      % {textops.PARITY_BLOOM_M} AS pos
  FROM documents, seeds s
)
SELECT p.doc_id, (sum(coalesce(b.hit, 0)) = 4) AS bloom_hit
FROM ppos p LEFT JOIN bits b ON p.pos = b.pos
GROUP BY p.doc_id
""",
        # COMPUTING twin of htmlops.robots_txt_allow over the same synthetic
        # robots.txt variants + url paths the Spark query builds: full parse
        # (comment strip, UA-block group scan, star-set rules) + longest-
        # prefix decision, Allow wins length ties, no match = allowed.
        "robots_txt_allow": r"""
WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
robots AS (
  SELECT host,
    CASE CAST(regexp_extract(host, '(\d+)', 1) AS INT) % 4
      WHEN 0 THEN '# generic site' || chr(10) || 'User-agent: googlebot'
        || chr(10) || 'Disallow: /private' || chr(10) || 'User-agent: *'
        || chr(10) || 'Allow: /a/b' || chr(10) || 'Disallow: /a'
        || chr(10) || 'Crawl-delay: 2'
      WHEN 1 THEN 'User-agent: *' || chr(10) || 'Disallow:'
      WHEN 2 THEN 'User-agent: bota' || chr(10) || 'User-agent: *'
        || chr(10) || 'Disallow: /x' || chr(10) || 'Allow: /x/y'
      ELSE 'User-agent: botb' || chr(10) || 'Disallow: /'
    END AS robots_txt
  FROM hosts
),
lines AS (
  SELECT host, i - 1 AS idx,
         trim(regexp_replace(raw, '#.*', '')) AS line
  FROM (
    SELECT host,
      unnest(string_split(lower(robots_txt), chr(10))) AS raw,
      generate_subscripts(string_split(lower(robots_txt), chr(10)), 1) AS i
    FROM robots
  )
),
cls AS (
  SELECT host, idx,
    regexp_extract(line, '^(user-agent|allow|disallow)\s*:\s*(.*)$', 1)
      AS directive,
    trim(regexp_extract(line, '^(user-agent|allow|disallow)\s*:\s*(.*)$', 2))
      AS value
  FROM lines
),
marks AS (
  SELECT *, CASE WHEN directive = 'user-agent'
                  AND lag(directive, 1, '') OVER (
                    PARTITION BY host ORDER BY idx) <> 'user-agent'
                 THEN 1 ELSE 0 END AS ua_start
  FROM cls
),
grouped AS (
  SELECT *, sum(ua_start) OVER (PARTITION BY host ORDER BY idx
                                ROWS UNBOUNDED PRECEDING) AS grp
  FROM marks
),
starred AS (
  SELECT *, max(CASE WHEN directive = 'user-agent' AND value = '*'
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY host, grp) AS star
  FROM grouped
),
rules AS (
  SELECT host, directive AS rule_type, value AS prefix,
         length(value) AS prefix_len
  FROM starred
  WHERE star = 1 AND directive IN ('allow', 'disallow') AND value <> ''
),
urls AS (
  SELECT 'https://' || source || '.example.com' || p || '/' || doc_id AS url,
         source AS host, p || '/' || doc_id AS path
  FROM (
    SELECT doc_id, source,
      CASE doc_id % 5 WHEN 0 THEN '/a/b/c' WHEN 1 THEN '/a/z'
        WHEN 2 THEN '/x/y/1' WHEN 3 THEN '/x/priv' ELSE '/q' END AS p
    FROM documents
  )
),
cand AS (
  SELECT u.url, u.host, r.rule_type, r.prefix_len,
         row_number() OVER (
           PARTITION BY u.url
           ORDER BY r.prefix_len DESC NULLS LAST,
                    CASE WHEN r.rule_type = 'allow' THEN 0 ELSE 1 END
         ) AS rn
  FROM urls u
  LEFT JOIN rules r ON u.host = r.host AND starts_with(u.path, r.prefix)
)
SELECT url, host,
       coalesce(rule_type = 'allow', TRUE) AS allowed,
       rule_type AS matched_type,
       CAST(prefix_len AS INT) AS matched_len
FROM cand WHERE rn = 1
""",
        # COMPUTING twin of htmlops.sitemap_discover: builds the SAME
        # sitemap.xml strings, regex-parses the <url> blocks, membership-
        # checks the planted frontier, and ranks with the identical window.
        "sitemap_discover": r"""
WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
sitemaps AS (
  SELECT host, '<?xml version="1.0"?><urlset>'
    || '<url><loc>https://' || host || '.example.com/page/0</loc>'
    || '<lastmod>2024-01-01</lastmod><changefreq>daily</changefreq></url>'
    || '<url><loc>https://' || host || '.example.com/page/1</loc>'
    || '<lastmod>2024-01-02</lastmod><changefreq>weekly</changefreq></url>'
    || '<url><loc>https://' || host || '.example.com/page/2</loc>'
    || '<lastmod>2024-01-03</lastmod><changefreq>monthly</changefreq></url>'
    || '<url><loc>https://' || host || '.example.com/page/3</loc>'
    || '<lastmod>2024-01-04</lastmod><changefreq>daily</changefreq></url>'
    || '<url><loc>https://' || host || '.example.com/page/4</loc>'
    || '<lastmod>2024-01-05</lastmod><changefreq>weekly</changefreq></url>'
    || '<url><loc>https://' || host || '.example.com/page/5</loc>'
    || '<lastmod>2024-01-06</lastmod><changefreq>monthly</changefreq></url>'
    || '</urlset>' AS sitemap_xml
  FROM hosts
),
entries AS (
  SELECT host,
    unnest(regexp_extract_all(sitemap_xml, '(?s)<url>(.*?)</url>', 1)) AS entry
  FROM sitemaps
),
parsed AS (
  SELECT host,
    trim(regexp_extract(entry, '(?s)<loc>(.*?)</loc>', 1)) AS loc,
    trim(regexp_extract(entry, '(?s)<lastmod>(.*?)</lastmod>', 1)) AS lastmod,
    trim(regexp_extract(entry, '(?s)<changefreq>(.*?)</changefreq>', 1)) AS changefreq
  FROM entries
),
known AS (
  SELECT 'https://' || host || '.example.com/page/' || k AS url
  FROM hosts, (SELECT unnest([0, 2, 4]) AS k)
),
flagged AS (
  SELECT p.*, (k.url IS NULL) AS is_new
  FROM parsed p LEFT JOIN known k ON p.loc = k.url
)
SELECT host, loc, lastmod, changefreq, is_new,
  row_number() OVER (
    PARTITION BY host
    ORDER BY CAST(is_new AS INT) DESC,
      CASE changefreq WHEN 'daily' THEN 0 WHEN 'weekly' THEN 1 ELSE 2 END,
      lastmod DESC, loc
  ) AS fetch_rank
FROM flagged
""",
        "langid": _langid_sql(),
        "quality_score": _quality_sql(),
        "gopher_filters": r"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
),
feat AS (
  SELECT doc_id,
    len(toks) AS n_tokens,
    round(list_sum(list_transform(toks, x -> length(x))) / greatest(len(toks), 1), 6) AS mean_word_len,
    round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) / greatest(len(toks), 1), 6) AS alpha_frac,
    round((CAST(length(text) - length(replace(text, '#', '')) AS INT)
         + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS INT))
         / greatest(len(toks), 1), 6) AS symbol_ratio,
    round(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%'))
         / greatest(len(lines), 1), 6) AS bullet_frac,
    round(len(list_filter(lines, l -> l LIKE '%...'))
         / greatest(len(lines), 1), 6) AS ellipsis_frac
  FROM t
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       mean_word_len, alpha_frac, symbol_ratio, bullet_frac, ellipsis_frac,
       n_tokens BETWEEN 50 AND 100000 AS r_word_count,
       mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
       alpha_frac >= 0.8 AS r_alpha_words,
       symbol_ratio < 0.1 AS r_symbol_ratio,
       bullet_frac < 0.9 AS r_bullet_lines,
       ellipsis_frac < 0.3 AS r_ellipsis_lines,
       (n_tokens BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
         AND alpha_frac >= 0.8 AND symbol_ratio < 0.1
         AND bullet_frac < 0.9 AND ellipsis_frac < 0.3 AS gopher_pass
FROM feat
""",
        "repetition_filters": r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
         regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks
  FROM documents
),
linestats AS (
  SELECT doc_id,
         round((len(lines) - len(list_distinct(lines)))
               / greatest(len(lines), 1), 6) AS dup_line_frac,
         CASE WHEN len(toks) >= 2
              THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
              ELSE [] END AS bg
  FROM t
),
bgrows AS (
  SELECT doc_id, unnest(bg) AS bigram FROM linestats
),
bgcounts AS (
  SELECT doc_id, bigram, count(*) AS c FROM bgrows GROUP BY doc_id, bigram
),
bgagg AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS total_c FROM bgcounts GROUP BY doc_id
)
SELECT l.doc_id, l.dup_line_frac,
       round(coalesce(a.top_c / a.total_c, 0.0), 6) AS top_bigram_frac,
       l.dup_line_frac <= 0.3 AS r_dup_lines,
       coalesce(a.top_c / a.total_c, 0.0) <= 0.2 AS r_top_bigram
FROM linestats l LEFT JOIN bgagg a USING (doc_id)
""",
        "token_count": r"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords_est
FROM documents
""",
        "fingerprint": r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks FROM documents
),
shingled AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
      THEN list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])
      ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM tok
),
hashed AS (
  SELECT doc_id, md5(shingle) AS h,
         row_number() OVER (PARTITION BY doc_id ORDER BY md5(shingle)) AS rn
  FROM shingled
)
SELECT doc_id, string_agg(h, '|' ORDER BY h) AS fingerprint
FROM hashed WHERE rn <= 4 GROUP BY doc_id
""",
        "top_terms": r"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS term
  FROM documents
),
dfq AS (SELECT term, count(*) AS doc_freq FROM tok GROUP BY term)
SELECT term, doc_freq, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY doc_freq DESC, term) AS rank FROM dfq
) WHERE rank <= 50
""",
        "corpus_curate": _curate_sql(),
        "source_stats": _source_stats_sql(),
        "props_extract": """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
""",
        # identical regex both engines (no lookbehind — RE2 lacks it); the
        # mean is one exact-int division, no float-sum order risk
        "sentence_stats": r"""
WITH p AS (
  SELECT doc_id,
         [trim(x) for x in regexp_split_to_array(coalesce(text, ''), '[.!?]+\s+')
          if trim(x) <> ''] AS sents
  FROM documents
)
SELECT doc_id,
       CAST(len(sents) AS INT) AS n_sentences,
       round(CAST(list_sum([length(s) for s in sents]) AS DOUBLE)
             / greatest(len(sents), 1), 6) AS mean_sentence_chars,
       CAST(coalesce(list_max([length(s) for s in sents]), 0) AS INT)
         AS max_sentence_chars
FROM p
""",
        # CCNet-style char-bigram LM: log-probs quantized to integer
        # micro-nats BEFORE the per-doc sum (exact integer aggregation in
        # both engines — no float summation-order drift); ln() inputs are
        # identical exact int-ratio doubles, so the quantized values agree
        "char_lm_score": _char_lm_score_sql(),
        "ccnet_buckets": _ccnet_buckets_sql(),
        # COMPUTING twin of textops.unicode_normalize: utf8proc NFC vs
        # Python unicodedata NFC — same UAX#15 result on every codepoint in
        # the corpus (the hash is the Unicode-version-skew canary); length()
        # counts codepoints in BOTH engines (Spark UTF8String.numChars)
        "unicode_normalize": r"""
WITH n AS (
  SELECT doc_id, text AS t,
         regexp_replace(
           regexp_replace(
             regexp_replace(nfc_normalize(text), '\r\n', chr(10), 'g'),
             '\r', chr(10), 'g'),
           '[\x{0001}-\x{0008}\x{000b}\x{000c}\x{000e}-\x{001f}\x{007f}-\x{009f}\x{200b}\x{200c}\x{200d}\x{feff}]',
           '', 'g') AS nn
  FROM documents
)
SELECT doc_id, md5(nn) AS norm_md5,
       CAST(length(t) AS BIGINT) AS n_before,
       CAST(length(nn) AS BIGINT) AS n_after,
       (t <> nn) AS changed
FROM n
""",
        "char_entropy": r"""
WITH norm AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'),
                        '[0-9]', '0', 'g') AS t
  FROM documents
),
chars AS (
  SELECT doc_id, substring(t, u.i, 1) AS c
  FROM norm, unnest(generate_series(1, length(t))) AS u(i)
),
tf AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS tf FROM chars GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY 1),
ent AS (
  SELECT tf.doc_id,
         CAST(max(tot.n) AS BIGINT) AS n_chars_norm,
         CAST(sum(tf.tf * CAST(round(ln(tf.tf * 1.0 / tot.n) * 1000000)
              AS BIGINT)) AS BIGINT) AS q_sum
  FROM tf JOIN tot USING (doc_id)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(e.n_chars_norm, 0) AS BIGINT) AS n_chars_norm,
       round(-e.q_sum / (e.n_chars_norm * 1000000.0), 6) AS entropy
FROM documents d LEFT JOIN ent e USING (doc_id)
""",
        # computing twin: the bucketed pair both derive from documents, so
        # the join collapses to a projection + the same Knuth-hash filter
        "bucketed_join": """
SELECT doc_id, source,
       CAST(length(text) AS BIGINT) AS text_len,
       CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
            AS BIGINT) % 1000 AS score
FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
           AS BIGINT) % 1000 < 500
""",
        "dup_span_stats": _dup_span_stats_sql(textops.PARITY_SPAN_W),
        "dedup_spans_clean": _dup_span_clean_sql(textops.PARITY_SPAN_W),
        "sessionize": """
WITH lagged AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL
                OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS is_start
  FROM lagged
)
SELECT user_id, event_id,
       user_id || '#' || CAST(sum(is_start) OVER w AS INT) AS session_id,
       CAST(sum(is_start) OVER w AS INT) AS session_seq
FROM marked
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
        "dedup_clusters": _dedup_clusters_twin,
        # store leg's twin is the SAME fresh recursive-components SQL:
        # hash equality certifies the committed signature index through
        # the pair stage AND the propagation labels
        "dedup_clusters_store": _dedup_clusters_twin,
        "stratified_sample": _stratified_sample_sql(),
        "train_split": _train_split_sql(),
        # computing twin: md5 order key, hex-prefix shard, window pos —
        # same '0x'||substr cast-to-BIGINT idiom as the bloom twin
        "shuffle_export": f"""
WITH keyed AS (
  SELECT doc_id, text,
         md5(concat('{textops.SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR)))
           AS order_key
  FROM documents
),
sharded AS (
  SELECT doc_id, text, order_key,
         CAST(CAST(concat('0x', substr(order_key, 1, 12)) AS BIGINT)
              % {textops.SHUFFLE_SHARDS} AS INT) AS shard
  FROM keyed
)
SELECT shard,
       CAST(row_number() OVER (
         PARTITION BY shard ORDER BY order_key, doc_id
       ) AS BIGINT) AS pos,
       doc_id, md5(text) AS text_md5
FROM sharded
""",
        # same deterministic content-hash lottery, recomputed in SQL
        "cap_per_host": """
WITH ranked AS (
  SELECT doc_id, source AS host,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY md5(text) ASC, doc_id ASC
         ) AS INT) AS host_rank
  FROM documents
)
SELECT doc_id, host, host_rank FROM ranked WHERE host_rank <= 3
""",
        "token_histogram": r"""
SELECT CAST((len(regexp_split_to_array(trim(text), '\s+')) // 10) * 10 AS INT) AS bucket_lo,
       count(*) AS n_docs
FROM documents GROUP BY 1
""",
        "doc_chunk": _doc_chunk_sql(),
        "mixture_sample": _mixture_sample_sql(),
        "dsir_weights": _dsir_sql(),
        "pack_sequences": f"""
SELECT doc_id, shard, bin_id, bin_offset, n_tokens_packed
FROM read_parquet('{pack_expected}')
""",
        "bpe_merges": _bpe_sql(),
        "bpe_encode": _bpe_encode_sql(),
        "bm25_search": _bm25_sql(),
        "nb_classifier": _nb_sql(),
        "minhash_jaccard_estimate": _minhash_est_sql(),
        "dedup_minhash_estimate": _minhash_est_only_sql(0.25),
        # the sig_store leg's twin is the SAME fresh-computation SQL:
        # store-backed output must be identical (see q_ docstring)
        "dedup_minhash_sig_store": _minhash_est_only_sql(0.25),
        "incr_dedup_exact": _INCR_EXACT_SQL,
        "incr_dedup_minhash": _incr_minhash_sql(0.5),
        # store-backed probe is semantically identical to the recompute
        # path (shared estimator) — same twin; the Spark side routes
        # through the persisted committed index, so a hash match certifies
        # the store round trip on top of the estimate itself
        "sig_probe_near_dup": _incr_minhash_sql(0.5),
        "url_canonicalize": _URL_CANON_SQL,
        "url_filter": _url_filter_sql(),
        "url_normalize": _url_normalize_sql(),
        "boilerplate_strip": _BOILER_SQL,
        "pii_scrub": _PII_SQL,
        "decontaminate": _DECON_SQL,
        "source_percentiles": """
SELECT source,
       count(*) AS n_docs,
       round(quantile_cont(n_chars, 0.25), 6) AS p25,
       round(quantile_cont(n_chars, 0.50), 6) AS p50,
       round(quantile_cont(n_chars, 0.75), 6) AS p75,
       round(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents GROUP BY source
""",
        "tfidf_top_terms": r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
totals AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((SELECT n FROM totals) * 1.0 / dft.df), 6) AS tfidf
  FROM tf JOIN dft USING (term)
)
SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
) WHERE rank <= 3
""",
        "ann_cosine_topk": _cosine_topk_sql(),
        "ann_srp_bucket": _srp_sql(),
        "ann_ivf_topk": _ivf_sql(),
        # the store legs' twins are the SAME fresh-computation SQL: hash
        # equality certifies the committed index's write->read round trip
        "ann_ivf_store": _ivf_sql(),
        "ann_srp_store": _srp_sql(),
        "ann_ivf_probe": _ivf_sql(),
        "ann_pq_topk": _pq_sql(),
        "embedding_near_dup": _near_dup_sql(0.35),
        "embedding_near_dup_store": _near_dup_sql(0.35),
        "embedding_decontaminate": _embedding_decon_sql(),
        "embedding_decontaminate_store": _embedding_decon_sql(),
        "kmeans_clusters": _kmeans_sql(),
        "semdedup": _semdedup_sql(0.35),
        # media twin: MATERIALIZED — the same synth+sniff composition run
        # pure-Python (multimodal.stage_media_expected); format/dims are
        # REAL PNG-IHDR/JPEG-SOF header fields
        "media_featurize": f"""
SELECT CAST(media_id AS BIGINT) AS media_id, media_type,
       CAST(n_bytes AS BIGINT) AS n_bytes, content_md5, format,
       CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
       CAST(channels AS BIGINT) AS channels,
       CAST(bit_depth AS BIGINT) AS bit_depth,
       ROUND(CAST(px_mean AS DOUBLE), 6) AS px_mean,
       ROUND(CAST(px_std AS DOUBLE), 6) AS px_std,
       ROUND(CAST(px_entropy AS DOUBLE), 6) AS px_entropy
FROM read_parquet('{media_expected}')
""",
        # resize twin: MATERIALIZED from the same staged parquet — the
        # pure-Python resize_image run over identical synth payloads
        "media_resize": f"""
SELECT CAST(media_id AS BIGINT) AS media_id, resized_md5,
       CAST(n_resized_bytes AS BIGINT) AS n_resized_bytes
FROM read_parquet('{media_expected}')
""",
        # documents.text is pure ASCII (asserted in tests), so VARCHAR
        # substring equals the Spark side's byte slicing and md5(VARCHAR)
        # hashes the same UTF-8 bytes
        "media_frame_sample": """
WITH m AS (
  SELECT doc_id AS media_id, text AS b, octet_length(encode(text)) AS L
  FROM documents
),
params AS (
  SELECT media_id, b, L,
         least(4, greatest(L, 1)) AS k,
         greatest(L // 4, 1) AS step
  FROM m
),
frames AS (
  SELECT media_id, i AS frame_idx,
         substring(b, CAST(i * step + 1 AS INT), CAST(step AS INT)) AS fb
  FROM params, (SELECT unnest(range(0, 4)) AS i)
  WHERE i < k AND i * step < L
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       md5(fb) AS frame_md5,
       CAST(octet_length(encode(fb)) AS BIGINT) AS n_frame_bytes
FROM frames
""",
        "html_main_content": f"""
SELECT doc_id, url, main_text, n_blocks, n_content_blocks, main_chars
FROM read_parquet('{html_staged["html_main"]}')
""",
        # computing twin: DuckDB runs the SAME regex chain (entity order
        # matters — &amp; last) over the staged input pages
        "html_strip_tags": f"""
WITH stripped AS (
  SELECT doc_id, url,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(
        regexp_replace(regexp_replace(html,
          '(?s)<(script|style|noscript)[^>]*>.*?</(script|style|noscript)>', ' ', 'g'),
          '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#x27;', CHR(39)), '&amp;', '&'),
      '\\s+', ' ', 'g')) AS text_stripped
  FROM read_parquet('{html_staged["html_pages"]}')
)
SELECT doc_id, url, text_stripped,
       CAST(length(text_stripped) AS INT) AS n_chars_stripped
FROM stripped
""",
        "html_outlinks": f"""
SELECT host, count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, regexp_extract(link, '^https?://([^/]+)', 1) AS host
  FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS link
    FROM read_parquet('{html_staged["html_pages"]}')
  )
) WHERE host <> ''
GROUP BY host
""",
        "html_title_meta": f"""
SELECT doc_id, url,
       regexp_extract(html, '(?s)<title>(.*?)</title>', 1) AS title,
       regexp_extract(html, 'meta name="description" content="([^"]*)"', 1)
         AS meta_description
FROM read_parquet('{html_staged["html_pages"]}')
""",
        # computing twin: the paragraph-dedup window/reassembly re-derived in
        # SQL over the staged DOM output (first occurrence by (doc_id, pos))
        "html_dedup_paragraphs": f"""
WITH tok AS (
  SELECT doc_id, string_split(main_text, chr(10)) AS ps
  FROM read_parquet('{html_staged["html_main"]}')
),
paras AS (
  SELECT doc_id, u.pos, u.para
  FROM (
    SELECT doc_id,
           unnest([{{'pos': i - 1, 'para': ps[i]}} for i in range(1, len(ps) + 1)]) AS u
    FROM tok
  )
),
ranked AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rk
  FROM paras WHERE para <> ''
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_paras,
       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
       coalesce(string_agg(CASE WHEN rk = 1 THEN para END, chr(10) ORDER BY pos), '')
         AS text_deduped
FROM ranked GROUP BY doc_id
""",
        # computing twin: both texts re-derived (staged DOM output as gold,
        # the strip regex chain over staged pages), then the same multiset
        # precision/recall/F1 algebra — F1 as 2c/(g+e) so both engines
        # divide the same exact integers once
        "extraction_eval": f"""
WITH gold AS (
  SELECT doc_id, main_text AS text FROM read_parquet('{html_staged["html_main"]}')
),
stripped AS (
  SELECT doc_id,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(
        regexp_replace(regexp_replace(html,
          '(?s)<(script|style|noscript)[^>]*>.*?</(script|style|noscript)>', ' ', 'g'),
          '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#x27;', CHR(39)), '&amp;', '&'),
      '\\s+', ' ', 'g')) AS text
  FROM read_parquet('{html_staged["html_pages"]}')
),
gt AS (
  SELECT doc_id, tok, count(*) AS g FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM gold
  ) WHERE tok <> '' GROUP BY doc_id, tok
),
et AS (
  SELECT doc_id, tok, count(*) AS e FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM stripped
  ) WHERE tok <> '' GROUP BY doc_id, tok
),
j AS (
  SELECT doc_id, coalesce(g, 0) AS g, coalesce(e, 0) AS e
  FROM gt FULL JOIN et USING (doc_id, tok)
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(g) AS BIGINT) AS n_gold,
         CAST(sum(e) AS BIGINT) AS n_extracted,
         CAST(sum(least(g, e)) AS BIGINT) AS n_common
  FROM j GROUP BY doc_id
),
ids AS (
  SELECT doc_id FROM gold UNION SELECT doc_id FROM stripped
)
SELECT ids.doc_id,
       coalesce(n_gold, 0) AS n_gold,
       coalesce(n_extracted, 0) AS n_extracted,
       coalesce(n_common, 0) AS n_common,
       CASE WHEN coalesce(n_extracted, 0) > 0
            THEN round(n_common * 1.0 / n_extracted, 6) ELSE 0.0 END AS "precision",
       CASE WHEN coalesce(n_gold, 0) > 0
            THEN round(n_common * 1.0 / n_gold, 6) ELSE 0.0 END AS recall,
       CASE WHEN coalesce(n_gold, 0) + coalesce(n_extracted, 0) > 0
            THEN round(2.0 * n_common / (n_gold + n_extracted), 6) ELSE 0.0 END AS f1
FROM ids LEFT JOIN per_doc USING (doc_id)
""",
        # computing twin for the ITERATIVE graph algorithm: one CTE per
        # PageRank iteration, same damping/teleport and the same 9-dp
        # per-iteration rounding as htmlops.host_pagerank
        "html_host_pagerank": _pagerank_sql(html_staged["html_pages"]),
        # recursive-CTE twin of the min-label-propagation fixpoint
        "html_host_components": _components_sql(html_staged["html_pages"]),
        # curation composition: staged DOM output joined to the computed
        # PageRank twin; the keep-rule constants are interpolated from
        # htmlops itself so engine and oracle cannot desynchronize
        "html_curate": _html_curate_sql(html_staged),
        "html_paragraph_langid": _paragraph_langid_sql(html_staged["html_main"]),
        "html_clean_corpus": _clean_corpus_sql(html_staged["html_main"]),
        "html_anchor_texts": f"""
SELECT doc_id, pos, href, anchor_text
FROM read_parquet('{html_staged["html_anchors"]}')
""",
        # computing twin: tokenize/count/rank re-derived in SQL over the
        # staged anchors (same (n DESC, term) tiebreak, top 3)
        "html_anchor_profile": f"""
WITH terms AS (
  SELECT regexp_extract(href, '^https?://([^/]+)', 1) AS host,
         unnest(regexp_split_to_array(lower(anchor_text), '\\s+')) AS term
  FROM read_parquet('{html_staged["html_anchors"]}')
),
counted AS (
  SELECT host, term, count(*) AS n
  FROM terms WHERE host <> '' AND term <> ''
  GROUP BY host, term
)
SELECT host, term, n, rank FROM (
  SELECT host, term, n,
         row_number() OVER (PARTITION BY host ORDER BY n DESC, term) AS rank
  FROM counted
) WHERE rank <= 3
""",
        # DuckDB's NATIVE asof join is the twin of the union+window rewrite
        # (right side pre-reduced to one row per (user_id, ts) on BOTH
        # engines so tie-breaks can't diverge)
        "asof_join": """
WITH v AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
),
c AS (
  SELECT user_id, ts AS asof_ts,
         CAST(max(event_id) AS BIGINT) AS click_id,
         round(max(value), 6) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT v.user_id, v.ts, v.event_id, c.asof_ts, c.click_id, c.click_value
FROM v ASOF LEFT JOIN c
  ON v.user_id = c.user_id AND v.ts >= c.asof_ts
""",
        # the plain inequality join the bucketed rewrite replaces — fine at
        # sf0.01, quadratic at scale (which is the point of relops.range_join)
        "range_join": """
WITH e AS (
  SELECT event_id AS error_id, user_id, ts AS start_ts,
         ts + INTERVAL 3600 SECOND AS end_ts
  FROM events WHERE event_type = 'error'
),
c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
SELECT e.error_id, e.user_id,
       CAST(count(c.ts) AS BIGINT) AS n_clicks,
       round(coalesce(sum(c.value), 0), 6) AS sum_value
FROM e LEFT JOIN c
  ON e.user_id = c.user_id AND c.ts >= e.start_ts AND c.ts < e.end_ts
GROUP BY e.error_id, e.user_id
""",
        # COMPUTING twin of textops.hll_distinct: identical md5-derived
        # registers (bucket = first 16 bits mod m, rho = 61 - MSB position
        # of the next 60 bits via integer-exact length(bin(x))), EXACT
        # integer register sum in HUGEINT, float constants inlined from the
        # same Python doubles the Spark side uses.
        "hll_distinct": _HLL_SQL,
        # COMPUTING twin of textops.quantile_sketch: identical integer-exact
        # binning (MSB via length(bin(x)), sub-bin by integer division) and
        # shift-reconstructed lower edges; // is DuckDB floor division,
        # matching Spark's `div` on the all-positive operands here
        "quantile_sketch": _QSKETCH_SQL,
        # the ONE-SHOT full recompute — matching it proves the incremental
        # store's three merges (max registers, summed histograms, summed
        # counters) lose nothing vs re-scanning the whole corpus
        "incr_corpus_stats": _STATS_SQL,
        # same md5 cells, same min-over-rows, same sample predicate —
        # the sketch's collision overestimates reproduce bit-for-bit
        "cms_topk_terms": _CMS_SQL,
        # deliberately the SAME one-shot SQL: the incremental term store's
        # two merges are exact, so matching the one-shot recompute proves
        # the store loses nothing
        "incr_top_terms": _CMS_SQL,
    }
    # script_detect twin: GENERATED from textops.SCRIPT_RULES (single
    # source of truth for the classes, samples, and tie order). Built by
    # concatenation, not an f-string: the \x{hhhh} regex classes carry
    # literal braces.
    sqls["script_detect"] = _script_detect_sql()
    return sqls


def _script_detect_sql() -> str:
    from enem_spark.textops import SCRIPT_RULES, script_sql_exprs

    whens = "\n    ".join(
        "WHEN %d THEN repeat('%s ', 5)" % (i, s)
        for i, (_n, _c, s) in enumerate(SCRIPT_RULES)
    )
    planted = (
        "CASE doc_id % 11\n    "
        + whens
        + "\n    WHEN 9 THEN '123 456 --- !!!'\n    ELSE text END"
    )
    ex = script_sql_exprs("t")
    letters = " + ".join(
        ex[name] for name, _c, _s in SCRIPT_RULES
    )
    m = ex["__max__"]
    return (
        "WITH planted AS (SELECT doc_id, "
        + planted
        + " AS t FROM documents)\n"
        + "SELECT doc_id, "
        + ex["__case__"]
        + " AS script,\n CAST("
        + m
        + " AS BIGINT) AS n_script_chars,\n CAST("
        + letters
        + " AS BIGINT) AS n_letter_chars,\n round(("
        + m
        + ") / greatest(("
        + letters
        + "), 1), 6) AS script_frac\nFROM planted"
    )
