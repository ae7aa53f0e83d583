"""Training-data pipeline operators over a documents table.

Everything here is expressed with built-in pyspark.sql.functions (JVM-side,
whole-stage codegen) — no Python UDFs in the hot path. Each operator has an
ANSI-SQL twin in __spark_entry__.oracle_sql() runnable by DuckDB, so hash
functions are restricted to md5() (identical lowercase-hex semantics in both
engines) and all float outputs are rounded.

Operators (SURVEY.md §2 extension set):
  exact_dedup          hash-groupBy duplicate clustering
  minhash_lsh_pairs    shingle -> md5 minhash -> banded LSH -> verified Jaccard
  simhash              16-bit token-parity SimHash signature
  simhash_near_dup     banded hamming-pigeonhole near-dup pairs (no all-pairs)
  ngram_jaccard_pairs  blocked pairwise n-gram Jaccard (explode + self-join)
  langid               n-gram/stopword-count heuristic language ID
  quality_score        length/punct/stopword-ratio quality features
  token_count          whitespace + regex token counting
  fingerprint          bottom-k shingle-hash document sketch
  doc_chunk            fixed token-window chunking with stride overlap
  mixture_sample       balanced domain-mixture waterfill (integer lottery)
  dsir_weights         DSIR hashed-unigram importance weights

Scale notes: dedup/self-join families shuffle on content-derived keys
(hash/shingle/band), which are near-uniform, so no skew salting is needed;
the pair-verification joins are equi-joins on those keys and AQE handles
residual imbalance. At 100 TB the explode(shingles) stage dominates — it is
map-side only (no shuffle) until the groupBy(shingle-band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from . import staging_path

# word shingles of this size feed minhash + fingerprint
SHINGLE_N = 3
# Engine-scale LSH defaults: 128 permutations in 16 bands of 8 rows — the
# standard web-dedup operating point (collision prob 1-(1-j^8)^16 ≈ 0.95 at
# j=0.8, ≈ 0.05 at j=0.5), sharp enough that 10^12 docs don't drown in
# false candidates. The driver queries pass PARITY_* instead: a tiny config
# whose DuckDB twin stays tractable — correctness is checked there, the
# recall of the big config is measured in tests/test_minhash_quality.py.
MINHASH_PERMS = 128
LSH_BANDS = 16  # rows per band = MINHASH_PERMS // LSH_BANDS
PARITY_PERMS = 8
PARITY_BANDS = 4
# 64-bit / 4-band default: 16-bit band buckets (65k keys) — the config that
# survives real corpus sizes; 16-bit signatures birthday-collide into
# millions of spurious "near-dup" pairs beyond ~1k docs (measured at sf0.1).
SIMHASH_BITS = 64
SIMHASH_BANDS = 4

EN_MARKERS = (" the ", " and ", " of ")
PT_MARKERS = (" de ", " que ", " da ")
ODD_HEX = "13579bdf"  # hex digits with low bit set


# THE tokenizer whitespace class, spelled explicitly: Java's \s is
# [ \t\n\x0B\f\r] while DuckDB/RE2's \s is [ \t\n\f\r] — they differ on
# vertical tab only, and an implicit \s+ here would shift every token
# count (hence the whole greedy packing plan) against the RE2 twins on a
# document containing \x0B. This class is what RE2's \s+ already matches,
# so every regexp_split_to_array(..., '\s+') twin stays valid verbatim.
TOKEN_WS_RE = r"[ \t\n\f\r]+"


def _tokens(col):
    return F.split(F.trim(col), TOKEN_WS_RE)


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate clustering by content hash; keeper = min doc_id.

    Output: (text_hash, keeper_doc_id, dup_count) for every distinct text."""
    return (
        documents.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


def incremental_exact_dedup(
    new_docs: DataFrame, existing_docs: DataFrame
) -> DataFrame:
    """Dedup a NEW crawl increment against an EXISTING corpus — the standard
    production shape: the existing side is a content-hash signature store
    (precomputed once per corpus snapshot), the new side is today's crawl.

    Output: (doc_id, dup_of) for every new doc whose text hash already
    exists; dup_of = the minimum existing doc_id with that hash. Inner join
    on the hash — new-vs-new duplicates are exact_dedup's job, not this
    one's. At 10^12 docs the store is bucketed by text_hash so the join is
    co-located; here it is a plain hash shuffle on a near-uniform key."""
    store = (
        existing_docs.select(
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_hash"),
            F.col("doc_id").alias("dup_of"),
        )
        .groupBy("text_hash")
        .agg(F.min("dup_of").alias("dup_of"))
    )
    # coalesce BEFORE hashing: md5(NULL) is NULL and NULL join keys never
    # match, so two NULL-text docs would silently not deduplicate (the
    # corpus_curate docstring's documented bug class)
    new_hashed = new_docs.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_hash"),
    )
    return new_hashed.join(store, "text_hash").select("doc_id", "dup_of")


def incremental_minhash_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    threshold: float = 0.5,
    perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    persist_to: list | None = None,
) -> DataFrame:
    """Near-dup of a new increment against the existing corpus, estimate-
    only (no shingle verification join — see minhash_estimate_pairs): band
    signatures of the new side join the existing side's signature store, so
    candidate generation is new×existing only, never existing×existing.

    Output: (doc_id, dup_of, est_jaccard >= threshold). At scale the
    existing band table is a materialized store keyed by (band, sig) —
    today's crawl probes it with a co-located join and the whole pass
    touches the existing corpus's raw text zero times."""
    from pyspark import StorageLevel

    sig_new = minhash_signatures(new_docs, None, perms).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sig_ex = minhash_signatures(existing_docs, None, perms).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if persist_to is not None:
        persist_to.extend((sig_new, sig_ex))
    return _estimate_new_vs_existing(sig_new, sig_ex, threshold, perms, bands)


def _estimate_new_vs_existing(
    sig_new: DataFrame,
    sig_ex: DataFrame,
    threshold: float,
    perms: int,
    bands: int,
) -> DataFrame:
    """Shared estimator over two SIGNATURE frames (doc_id, mh0..mh{k-1}):
    band-bucket join for candidates (new×existing only), then est_jaccard =
    fraction of agreeing signature components. Callers own persistence of
    the signature frames (each side is read twice: band table + agree join).
    sigindex.probe_near_dups feeds the existing side from the PERSISTED
    store, so this is also the plan the materialized index executes."""
    bn = _band_table(sig_new, perms, bands).alias("n")
    be = _band_table(sig_ex, perms, bands).alias("e")
    candidates = (
        bn.join(
            be,
            (F.col("n.band") == F.col("e.band")) & (F.col("n.sig") == F.col("e.sig")),
        )
        .select(
            F.col("n.doc_id").alias("doc_id"), F.col("e.doc_id").alias("dup_of")
        )
        # a doc present on BOTH sides (the documented maintenance flow:
        # extract increment -> update_signature_index -> probe the same
        # increment) band-joins itself with est 1.0 — a self-"duplicate"
        # that would make a dedup consumer drop the whole batch
        .filter(F.col("doc_id") != F.col("dup_of"))
        .distinct()
    )
    return _signature_agreement(
        sig_new, sig_ex, candidates, perms, "doc_id", "dup_of"
    ).filter(F.col("est_jaccard") >= threshold)


def _signature_agreement(
    sig_a: DataFrame,
    sig_b: DataFrame,
    candidates: DataFrame,
    perms: int,
    a_key: str,
    b_key: str,
) -> DataFrame:
    """THE MinHash agreement estimator, single-sourced: join the two
    signature frames onto the candidate pairs and append
    ``est_jaccard`` = round(fraction of agreeing components, 6). Keeps
    every candidate column, so callers filter or carry extra columns
    (e.g. the calibration query's exact jaccard) themselves. Three call
    sites (new-vs-existing probe, self-estimate, calibration) share this
    definition — the rounding, the when/otherwise shape, and the alias
    scheme can never drift apart."""
    a = sig_a.select(
        F.col("doc_id").alias(a_key),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(perms)],
    )
    b = sig_b.select(
        F.col("doc_id").alias(b_key),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(perms)],
    )
    agree = sum(
        (
            F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
            for s in range(perms)
        ),
        F.lit(0),
    )
    keep = list(candidates.columns)
    return (
        candidates.join(a, a_key)
        .join(b, b_key)
        .select(*keep, F.round(agree / perms, 6).alias("est_jaccard"))
    )


def _gram_rows(
    documents: DataFrame,
    n: int,
    extra_cols: tuple[str, ...] = (),
    short_doc_whole: bool = True,
    keep_pos: bool = False,
) -> DataFrame:
    """(doc_id, *extra_cols[, pos], shingle) — one row per n-token gram, built as
    posexplode(tokens) + lead() window so the tokenizing split runs ONCE
    per document. Building grams as transform(sequence, i -> concat(
    element_at(toks, i+j)...)) LOOKS cheaper (no shuffle) but Catalyst's
    project-collapse inlines the split() into the lambda, re-splitting the
    text n times per gram per row — measured 10x slower than this window
    at 5k docs and growing with document length.

    ``short_doc_whole``: docs with fewer than n tokens contribute their
    whole text as one gram (shingle semantics) or nothing (decontamination
    semantics). Output is NOT deduplicated — callers add their own
    distinct. The window shuffles on doc_id; a pathological mega-document
    skews one partition exactly like the numbering window, and the same
    two-level salting applies if it ever matters for a documents table."""
    # coalesce: a NULL text must behave like '' (one empty token -> one
    # empty whole-text shingle under short_doc_whole, nothing otherwise) —
    # posexplode of a null array would drop the document entirely, silently
    # removing it from every shingle-derived table and from the DuckDB
    # twins, which DO emit a row for it
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = documents.select(
        "doc_id",
        *extra_cols,
        F.posexplode(_tokens(text)).alias("pos", "tok"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    out = toks.withColumn("shingle", F.concat_ws(" ", *parts)).withColumn(
        "_full", F.lead("tok", n - 1).over(w).isNotNull()
    )
    if short_doc_whole:
        # window results must be projected before they can be filtered on
        out = out.withColumn(
            "_n_toks", F.count("*").over(W.partitionBy("doc_id"))
        )
        keep = F.col("_full") | ((F.col("pos") == 0) & (F.col("_n_toks") < n))
    else:
        keep = F.col("_full")
    pos_cols = ("pos",) if keep_pos else ()
    return out.filter(keep).select("doc_id", *extra_cols, *pos_cols, "shingle")


def shingle_table(documents: DataFrame, cache: bool = False) -> DataFrame:
    """One row per (doc_id, distinct shingle) — explode of
    :func:`_shingle_arrays` (one narrow generator, no window, no
    dropDuplicates shuffle; distinctness comes from array_distinct inside
    the array kernel).

    ``cache=True`` persists the exploded table (MEMORY_AND_DISK) for plans
    that branch over it several times (LSH candidates + both sides of the
    verification join + set sizes) — the gram build is the dominant cost
    and Spark re-executes it per branch otherwise. ContextCleaner reclaims
    the blocks once the plan is garbage collected. At 100 TB the same role
    is played by materializing the shingle table to storage once per corpus
    snapshot and reusing it across dedup jobs."""
    sh = _shingle_arrays(documents).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    if cache:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    return sh


def _shingle_arrays(documents: DataFrame) -> DataFrame:
    """(doc_id, shingles array<string>) — the per-document DISTINCT shingle
    set as a single array column, built with ZERO exchanges.

    Grams come from zipping n shifted slices of the token array and
    concat_ws-ing each zipped struct. This does NOT fall into the
    project-collapse re-split trap that rules out transform(sequence, i ->
    element_at(toks, i+j)) (see _gram_rows): the lambda here references
    only the zipped array — the tokenizing split appears solely in the n
    slice arguments of one projection, where whole-stage codegen's
    subexpression elimination evaluates it once per row. Byte-identical to
    the _gram_rows window path (posexplode + lead) and measured ~2x faster
    on long documents even before counting the two shuffles it removes
    (the lead window's doc_id exchange and the dropDuplicates exchange).

    short-doc semantics match _gram_rows(short_doc_whole=True): a document
    with fewer than SHINGLE_N tokens contributes its whole (trimmed,
    space-renormalized) text as one shingle; NULL text behaves like ''."""
    n = SHINGLE_N
    toks = _tokens(F.coalesce(F.col("text"), F.lit("")))
    m = F.size(toks)
    full_len = F.greatest(m - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, full_len) for i in range(n)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    shingles = F.array_distinct(
        F.when(m >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )
    return documents.select("doc_id", shingles.alias("shingles"))


def _mh_expr(s: int):
    """Per-seed MinHash element hash (shared by both signature paths)."""

    def fn(x):
        return F.md5(F.concat(F.lit(f"{s}:"), x))

    return fn


def _signatures_from_arrays(arr: DataFrame, perms: int) -> DataFrame:
    """(doc_id, mh0..mh{perms-1}) from a (doc_id, shingles) array table —
    array_min over per-seed md5, all inside one codegen projection: the
    signature build carries NO exchange at any corpus size (the groupBy
    formulation shuffles the full exploded shingle table through a
    perms-wide min aggregate). Parallelism is scan-bound (input splits) —
    exactly right at corpus scale; a single-file toy input runs the md5
    work on one core, which is the price of removing the exchange."""
    return arr.select(
        "doc_id",
        *[
            F.array_min(F.transform("shingles", _mh_expr(s))).alias(f"mh{s}")
            for s in range(perms)
        ],
    )


def minhash_signatures(
    documents: DataFrame,
    sh: DataFrame | None = None,
    perms: int = MINHASH_PERMS,
) -> DataFrame:
    """MinHash via k md5 'permutations': min(md5(seed || shingle)) per seed.

    Lexicographic min over md5 hex is a valid random-permutation min — and is
    bit-identical across Spark and DuckDB, unlike numeric hash functions.

    With ``sh=None`` (the normal call) signatures come from the zero-shuffle
    array kernel (:func:`_signatures_from_arrays`); passing an exploded
    (doc_id, shingle) table keeps the groupBy formulation for callers that
    already hold one."""
    if sh is None:
        return _signatures_from_arrays(_shingle_arrays(documents), perms)
    aggs = [
        F.min(_mh_expr(s)(F.col("shingle"))).alias(f"mh{s}")
        for s in range(perms)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _store_signatures(
    documents: DataFrame, perms: int, bands: int, sig_store: str
) -> DataFrame:
    """Signatures for ``documents`` read from a committed signature index
    (sigindex protocol — (perms, bands) validated against every committed
    sig run), signing on the fly ONLY the docs the store does not cover.
    The union makes store-backed output IDENTICAL to a fresh computation
    at any coverage level, so callers can adopt the store without a
    semantics flag day; at full coverage (the steady state — every
    extraction run is followed by update_signature_index) the text column
    is never touched, which at 10^12 docs is the dominant cost of every
    LSH query. Falls back to fresh signing when the store has no
    committed sig run yet."""
    from . import sigindex

    spark = documents.sparkSession
    stored = sigindex.committed_signatures(spark, sig_store, perms, bands)
    if stored is None:
        return minhash_signatures(documents, None, perms)
    ids = documents.select("doc_id").distinct()
    have = stored.join(ids, "doc_id", "left_semi")
    missing = documents.join(stored.select("doc_id"), "doc_id", "left_anti")
    return have.unionByName(minhash_signatures(missing, None, perms))


def _band_table(sig: DataFrame, perms: int, n_bands: int) -> DataFrame:
    """Signature table -> (doc_id, band, sig) rows for band-bucket joining."""
    rows_per_band = perms // n_bands
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")


def _band_candidates(sig: DataFrame, perms: int, n_bands: int) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing at least one band signature.
    The self-join key is (band, sig) — a hash bucket, never a cross join."""
    bands = _band_table(sig, perms, n_bands)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    sh: DataFrame | None = None,
    sig: DataFrame | None = None,
    persist_to: list | None = None,
    sig_store: str | None = None,
) -> DataFrame:
    """Banded-LSH candidate generation + exact Jaccard verification.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold,
    rounded to 6 dp. Candidates = pairs sharing at least one band signature;
    verification joins the shingle sets (equi-join on shingle). Pass an
    already-built (sh, sig) pair to reuse them — the shingle build is the
    dominant cost, and a caller that also needs the signatures
    (minhash_jaccard_estimate) must not pay it twice (nor pin two caches
    of the same shingle table).

    Default path: ONE persisted (doc_id, shingles-array) table feeds the
    signature projection (zero-shuffle), the exploded verification join,
    and the set sizes (size(shingles), replacing a groupBy-count exchange).
    The sig frame is persisted too: the band self-join reads it twice, and
    with no exchange in the zero-shuffle build there is no ReuseExchange to
    dedupe the per-seed md5 work (the narrow doc_id+hashes rows are tiny).

    Persist-with-owner: pass ``persist_to`` and unpersist after consuming —
    the SQL CacheManager holds unowned entries for the SESSION lifetime
    (the ContextCleaner only reclaims them if the cached plan itself is
    collected, which a long-lived session's repeated calls never
    guarantee); the bench/parity harnesses clearCache between queries.

    ``sig_store``: path of a committed signature index (sigindex
    protocol); signatures are READ from it instead of recomputed, with
    uncovered docs signed on the fly (`_store_signatures`) — output is
    identical either way. The shingle table is still built for the exact
    verification join; callers that can live with estimated Jaccard use
    minhash_estimate_pairs(sig_store=...), which then touches text only
    for uncovered docs."""
    sizes = None
    if sh is None:
        from pyspark import StorageLevel

        arr = _shingle_arrays(documents).persist(StorageLevel.MEMORY_AND_DISK)
        if persist_to is not None:
            persist_to.append(arr)
        if sig is None:
            sig = (
                _store_signatures(documents, perms, bands, sig_store)
                if sig_store is not None
                else _signatures_from_arrays(arr, perms)
            ).persist(StorageLevel.MEMORY_AND_DISK)
            if persist_to is not None:
                persist_to.append(sig)
        sh = arr.select("doc_id", F.explode("shingles").alias("shingle"))
        sizes = arr.select("doc_id", F.size("shingles").alias("n_shingles"))
    elif sig is None:
        sig = minhash_signatures(documents, sh, perms)
    candidates = _band_candidates(sig, perms, bands)
    return _verified_jaccard(sh, candidates, threshold, sizes=sizes)


def minhash_estimate_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    persist_to: list | None = None,
    sig_store: str | None = None,
) -> DataFrame:
    """THE scale path for near-dup detection: banded candidates + Jaccard
    estimated from signature agreement alone — O(k) per pair, NO shingle
    verification join anywhere in the plan. At 10^12 documents the shingle
    table is orders of magnitude larger than the signature table; this
    operator touches shingles exactly once (the signature aggregation) and
    joins only narrow (doc_id, 128-hash) rows after that.

    Output: (doc_a, doc_b, est_jaccard >= threshold). Estimation error vs
    exact Jaccard is measured in tests/test_minhash_quality.py; the
    calibration query `minhash_jaccard_estimate` keeps both side by side.

    ``sig_store``: committed signature index to read signatures from
    (uncovered docs signed on the fly — identical output at any
    coverage). With full coverage this operator never touches text at
    all: the whole near-dup pass is narrow-row joins over the persisted
    store, which is the 10^12-doc steady state the index exists for."""
    from pyspark import StorageLevel

    # persisted: feeds the band explode AND both sides of the estimate join.
    # Callers that run many operators in one session pass persist_to and
    # unpersist after their action; otherwise the ContextCleaner reclaims
    # the blocks when the plan is garbage collected.
    sig = (
        _store_signatures(documents, perms, bands, sig_store)
        if sig_store is not None
        else minhash_signatures(documents, None, perms)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if persist_to is not None:
        persist_to.append(sig)
    candidates = _band_candidates(sig, perms, bands)
    return _signature_agreement(
        sig, sig, candidates, perms, "doc_a", "doc_b"
    ).filter(F.col("est_jaccard") >= threshold)


def _verified_jaccard(
    sh: DataFrame,
    candidates: DataFrame,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs, from a (doc_id, shingle) table.

    Shingles are already distinct per doc (array_distinct in the shingle
    kernel), so counts are true set sizes. Pass a precomputed
    (doc_id, n_shingles) frame to skip the groupBy-count exchange (the
    array path gets it free as size(shingles))."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    sa = sh.withColumnRenamed("doc_id", "doc_a")
    sb = sh.withColumnRenamed("doc_id", "doc_b")
    common = (
        candidates.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    block_col: str = "source",
    persist_to: list | None = None,
) -> DataFrame:
    """Exact pairwise shingle-Jaccard within a blocking key (e.g. source).

    The blocked self-join is the brute-force baseline minhash_lsh_pairs
    approximates; at scale the block bounds the quadratic term."""
    from pyspark import StorageLevel

    sh = (
        _gram_rows(
            documents.select(
                "doc_id", F.col(block_col).alias("block"), "text"
            ),
            SHINGLE_N,
            extra_cols=("block",),
        )
        .dropDuplicates(["doc_id", "block", "shingle"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # branches: self-join sides + sizes
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _simhash_batch(texts, bits: int):
    """Vectorized per-document SimHash used inside the Arrow UDF.

    Mirrors the declarative definition exactly (tokens =
    split(trim-spaces(text), TOKEN_WS_RE) with Java limit=-1 semantics —
    leading AND trailing empty fields kept, so '' yields the single token
    ''); hash = md5(token) hex, extended with md5('1:' || token) beyond 32
    bits; vote per nibble = +1 if odd else -1; bit_j = 1 iff sum_j >= 0.
    Nibble parity is the low bit of each half-byte, so the votes come
    straight off the digest bytes — no hex strings, no per-bit Python."""
    import hashlib
    import re

    import numpy as np

    pat = re.compile(TOKEN_WS_RE)
    ext = bits > 32
    out = []
    for s in texts:
        toks = pat.split(s.strip(" "))
        n = len(toks)
        buf = bytearray()
        for w in toks:
            b = w.encode("utf-8")
            buf += hashlib.md5(b).digest()
            if ext:
                buf += hashlib.md5(b"1:" + b).digest()
        arr = np.frombuffer(bytes(buf), np.uint8).reshape(n, -1)
        nib = np.empty((n, arr.shape[1] * 2), np.uint16)
        nib[:, 0::2] = (arr >> 4) & 1
        nib[:, 1::2] = arr & 1
        ones = nib[:, :bits].sum(axis=0, dtype=np.int64)
        # vote sum = ones - (n - ones) = 2*ones - n; bit = 1 iff sum >= 0
        out.append("".join("1" if 2 * o >= n else "0" for o in ones))
    return out


def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash from token md5 nibble parities (default 64-bit).

    bit_j = sign of sum over tokens of (+1 if j-th hex digit of the token's
    hash is odd else -1), where the hash is md5(token) for bits <= 32 and
    md5(token) || md5('1:' || token) beyond (64 portable hex nibbles).
    Output: (doc_id, simhash) with simhash as a '0'/'1' string (portable
    across engines; no 64-bit int semantics to match).

    Physical plan: ONE scalar Arrow crossing over (doc_id, text) — no token
    explode, no shuffle. The declarative alternative (explode + 64
    sum(when(substring...)) aggregates) exceeds spark.sql.codegen.maxFields,
    so the whole HashAggregate runs INTERPRETED: measured 12.8 s vs ~0.6 s
    for this UDF on 6k sf0.1 docs. Signature computation is embarrassingly
    parallel per document, so the Arrow path is also the 100 TB shape.
    NULL-text rows are dropped (explode(NULL) semantics of the original
    plan); doc_id is assumed unique per row (the documents contract)."""
    if bits > 64:
        raise ValueError("simhash supports at most 64 bits")

    import pandas as pd

    @F.pandas_udf("string")
    def _sig(texts):
        return pd.Series(
            _simhash_batch(texts.tolist(), bits), index=texts.index
        )

    return documents.filter(F.col("text").isNotNull()).select(
        "doc_id", _sig("text").alias("simhash")
    )


def simhash_near_dup(
    documents: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = SIMHASH_BITS,
    persist_to: list | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs via banded hamming pigeonhole.

    The bits of each signature are split into `bands` contiguous bands; any
    pair within hamming distance max_hamming < bands must agree EXACTLY on at
    least one band (pigeonhole), so candidate generation is an equi-join on
    (band_idx, band_value) — never all-pairs. Verification is an unrolled
    per-position comparison (whole-stage codegen, no UDF). This is the
    complementary scale path to minhash LSH: O(1)-size signatures computed in
    one token pass, hamming radius instead of Jaccard threshold.

    The default 64-bit / 4-bands point gives 16-bit band values (65,536
    bucket keys per band): bucket population ~n/65k under uniform hashing
    keeps the within-bucket quadratic term tame, and 64 bits make random
    cross-doc collisions at hamming<=3 vanishingly rare — at a 16-bit
    signature a 5k-doc corpus degenerates to ~2M "near-dup" pairs purely by
    birthday collisions (measured; that config survives only as a test
    size). More bands widen recall radius but shrink band width: bands=8
    would allow hamming<=7 at 256-value buckets — choose by radius first,
    then check n/2^width.

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b, distinct,
    hamming <= max_hamming.
    """
    if not 0 <= max_hamming < bands:
        raise ValueError("pigeonhole requires 0 <= max_hamming < bands")
    if bits % bands:
        raise ValueError("bands must divide bits")
    width = bits // bands
    # Persist the signatures: the self-join would otherwise recompute the
    # Arrow sig stage on BOTH sides. The repartition matters as much as the
    # persist: the scalar-UDF sigs inherit the input's FILE partitioning
    # (3 partitions at sf0.1), and the banded self-join's candidate +
    # hamming evaluation runs at the cached frame's parallelism — measured
    # 32 s on 3 cores vs ~3 s spread across the default shuffle width.
    # The bitstring is also packed ONCE per signature into 32-bit integer
    # halves here, so per-candidate hamming is bit_count(xor) on longs —
    # the unrolled per-character CASE chain (64 substring compares) blows
    # the codegen size limit and falls back to interpreted eval, which at
    # ~600k candidates dominated the whole operator.
    n_half = (bits + 31) // 32
    halves = [
        F.conv(
            F.substring(F.col("simhash"), h * 32 + 1, min(32, bits - h * 32)),
            2,
            10,
        )
        .cast("long")
        .alias(f"half{h}")
        for h in range(n_half)
    ]
    sigs = (
        simhash(documents, bits=bits)
        .select("doc_id", "simhash", *halves)
        .repartition(F.col("doc_id"))
        .persist()
    )
    if persist_to is not None:
        persist_to.append(sigs)
    banded = sigs.select(
        "doc_id",
        *[f"half{h}" for h in range(n_half)],
        F.posexplode(
            F.array(
                *[
                    F.substring(F.col("simhash"), b * width + 1, width)
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            [
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.half{h}").alias(f"ha{h}") for h in range(n_half)],
            *[F.col(f"b.half{h}").alias(f"hb{h}") for h in range(n_half)],
        )
    )
    ham = sum(
        (
            F.bit_count(F.col(f"ha{h}").bitwiseXOR(F.col(f"hb{h}")))
            for h in range(n_half)
        ),
        F.lit(0),
    ).cast("int")
    # hamming-filter BEFORE the pair dedup: the filter runs map-side on the
    # join output, so the dropDuplicates exchange carries only true near-dup
    # pairs (a pair colliding in k bands appears k times and dedups here) —
    # never the full candidate volume.
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


def _count_occurrences(col, needle: str):
    """Non-overlapping substring occurrence count, replace-based (portable)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def langid(documents: DataFrame) -> DataFrame:
    """Marker-n-gram language heuristic: count EN vs PT stopword trigrams.

    Output: (doc_id, en_hits, pt_hits, lang_pred)."""
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    en = sum((_count_occurrences(padded, m) for m in EN_MARKERS), F.lit(0))
    pt = sum((_count_occurrences(padded, m) for m in PT_MARKERS), F.lit(0))
    return documents.select(
        "doc_id",
        en.alias("en_hits"),
        pt.alias("pt_hits"),
        F.when(en > pt, "en")
        .when(pt > en, "pt")
        .otherwise("und")
        .alias("lang_pred"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + composite.

    All arithmetic in doubles, rounded for cross-engine hash stability."""
    text = F.col("text")
    n_chars = F.length(text)
    # Spark 4 runs ANSI mode by default: an unguarded division by zero on an
    # empty document aborts the job instead of yielding null
    safe_chars = F.greatest(n_chars, F.lit(1))
    toks = _tokens(text)
    n_tokens = F.size(toks)  # split(trim('')) -> [''] so this is always >= 1
    n_punct = n_chars - F.length(
        F.regexp_replace(text, r"[\.,;:!\?]", "")
    )
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    stop_hits = sum(
        (_count_occurrences(padded, m) for m in EN_MARKERS + PT_MARKERS), F.lit(0)
    )
    mean_tok_len = (n_chars - (n_tokens - 1)) / n_tokens
    punct_ratio = n_punct / safe_chars
    stop_ratio = stop_hits / n_tokens
    score = (
        F.lit(0.4) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_tok_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def token_budget_select(
    documents: DataFrame,
    budget_tokens: int,
    buckets: int = 1000,
) -> DataFrame:
    """Fill a token budget with the highest-quality documents — WITHOUT a
    global sort (the naive rank-then-running-sum plan funnels the whole
    corpus through one window partition; at 10^12 docs that task never
    finishes).

    Two-phase bucket-histogram cut:
      1. quantize quality into `buckets` levels; aggregate tokens per level
         (one shuffle producing <= buckets rows);
      2. running total over the TINY histogram (from the best level down)
         finds the boundary level b*: every level above b* is selected
         outright with a broadcast semi-join, and only the docs INSIDE b*
         (~1/buckets of the corpus) pay a per-level window to consume the
         residual budget in (quality desc, doc_id) order.

    Greedy prefix semantics: docs are taken in quality order until the next
    doc would overflow the budget; monotone running sums make the filter
    `run <= residual` exactly that prefix.

    Output: (doc_id, source, n_tokens, quality) of the selected docs.
    """
    feats = quality_score(documents).select("doc_id", "n_tokens", "quality")
    docs = documents.select("doc_id", "source").join(feats, "doc_id")
    qb = F.least(
        F.floor(F.col("quality") * buckets).cast("int"), F.lit(buckets - 1)
    )
    docs = docs.withColumn("qb", qb)
    hist = docs.groupBy("qb").agg(F.sum("n_tokens").alias("btoks"))
    # window over <= `buckets` rows — unpartitioned is fine at any corpus size
    cum = hist.withColumn(
        "cum_top",
        F.sum("btoks").over(
            W.orderBy(F.col("qb").desc()).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    )
    joined = docs.join(F.broadcast(cum), "qb")
    budget = F.lit(budget_tokens).cast("long")
    out_cols = ["doc_id", "source", "n_tokens", "quality"]
    full = joined.filter(F.col("cum_top") <= budget).select(*out_cols)
    boundary = joined.filter(
        (F.col("cum_top") > budget) & (F.col("cum_top") - F.col("btoks") < budget)
    )
    run_w = (
        W.partitionBy("qb")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    residual = budget - (F.col("cum_top") - F.col("btoks"))
    picked = (
        boundary.withColumn("run", F.sum("n_tokens").over(run_w))
        .filter(F.col("run") <= residual)
        .select(*out_cols)
    )
    return full.unionByName(picked)


def gopher_filters(documents: DataFrame) -> DataFrame:
    """Gopher-style (Rae et al. 2021, public) heuristic quality rules,
    entirely JVM-side (array higher-order functions, zero Python):

      r_word_count     50 <= n_tokens <= 100000
      r_mean_word_len  3 <= mean token length <= 10
      r_alpha_words    >= 80% of tokens contain an alphabetic char
      r_symbol_ratio   '#'/'...' per token < 0.1
      r_bullet_lines   < 90% of lines start with a bullet
      r_ellipsis_lines < 30% of lines end with '...'

    Output: per-rule booleans + overall `gopher_pass`. Fractions rounded to
    6 dp for cross-engine parity."""
    text = F.col("text")
    toks = _tokens(text)
    n = F.greatest(F.size(toks), F.lit(1))
    mean_wl = F.round(
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
        )
        / n,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / n, 6
    )
    hashes = _count_occurrences(text, "#")
    ellipses = _count_occurrences(text, "...")
    symbol_ratio = F.round((hashes + ellipses) / n, 6)
    lines = F.split(text, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
            )
        )
        / n_lines,
        6,
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l: l.endswith("..."))) / n_lines, 6
    )
    r = {
        "r_word_count": F.size(toks).between(50, 100000),
        "r_mean_word_len": mean_wl.between(3.0, 10.0),
        "r_alpha_words": alpha_frac >= 0.8,
        "r_symbol_ratio": symbol_ratio < 0.1,
        "r_bullet_lines": bullet_frac < 0.9,
        "r_ellipsis_lines": ellipsis_frac < 0.3,
    }
    passed = None
    for c in r.values():
        passed = c if passed is None else (passed & c)
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        *[c.alias(name) for name, c in r.items()],
        passed.alias("gopher_pass"),
    )


def repetition_filters(documents: DataFrame) -> DataFrame:
    """Repetition-based quality signals (the other half of the Gopher
    family): duplicate-line fraction and most-frequent-bigram mass.

      dup_line_frac    1 - distinct_lines / lines        (boilerplate loops)
      top_bigram_frac  count(most frequent bigram) / total bigrams

    Line stats are per-row array ops (no shuffle); the bigram mass uses one
    explode + two-level aggregation — partial aggregation collapses repeated
    bigrams map-side, so the shuffle carries at most the distinct bigrams of
    each document."""
    text = F.col("text")
    lines = F.filter(F.split(text, "\n"), lambda l: F.trim(l) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    dup_line_frac = F.round(
        (F.size(lines) - F.size(F.array_distinct(lines))) / n_lines, 6
    )
    base = documents.select("doc_id", dup_line_frac.alias("dup_line_frac"))
    # bigram rows via the lead-window builder (split once per doc; the
    # transform+element_at form re-splits per bigram — see _gram_rows).
    # Multiplicity preserved: _gram_rows does not deduplicate.
    bg_counts = (
        _gram_rows(documents, 2, short_doc_whole=False)
        .withColumnRenamed("shingle", "bigram")
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_c"),
            F.sum("c").alias("total_c"),
        )
    )
    return (
        base.select("doc_id", "dup_line_frac")
        .join(bg_counts, "doc_id", "left")
        .select(
            "doc_id",
            "dup_line_frac",
            F.round(
                F.coalesce(F.col("top_c") / F.col("total_c"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
            (F.col("dup_line_frac") <= 0.3).alias("r_dup_lines"),
            (
                F.coalesce(F.col("top_c") / F.col("total_c"), F.lit(0.0)) <= 0.2
            ).alias("r_top_bigram"),
        )
    )


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace tokens plus a BPE-ish subword estimate (ceil chars/4)."""
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    subwords = F.ceil(F.length(F.col("text")) / F.lit(4.0)).cast("bigint")
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        subwords.alias("n_subwords_est"),
    )


def props_extract(events: DataFrame) -> DataFrame:
    """Semi-structured metadata extraction: parse the JSON `props` column
    JVM-side (get_json_object — no Python) and aggregate by event_type.

    The CC-pipeline shape: WARC/page metadata arrives as JSON strings; keep
    parsing inside codegen, never in a Python UDF."""
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def sentence_stats(documents: DataFrame) -> DataFrame:
    """Per-document sentence segmentation stats (n, mean/max chars) — the
    sentence-level quality signal corpus filters use alongside the word
    ones. Boundary = punctuation run + whitespace run, with the whitespace
    class spelled EXPLICITLY ([ \\t\\n\\f\\r] == RE2's \\s; Java's \\s
    adds \\x0B) so the DuckDB twin's '[.!?]+\\s+' is the identical
    language. All
    JVM-side (split/filter/transform/aggregate — no Python); mean is ONE
    exact-int division, so no float summation-order drift between engines.
    """
    parts = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"[.!?]+[ \t\n\f\r]+"),
        lambda p: F.trim(p) != "",
    )
    lens = F.transform(parts, lambda p: F.length(F.trim(p)))
    n = F.size(lens)
    total = F.aggregate(lens, F.lit(0), lambda acc, x: acc + x)
    return documents.select(
        "doc_id",
        n.alias("n_sentences"),
        F.round(total / F.greatest(n, F.lit(1)), 6).alias("mean_sentence_chars"),
        F.coalesce(F.array_max(lens), F.lit(0)).alias("max_sentence_chars"),
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization of an event stream (batch form).

    A new session starts when the gap from the user's previous event exceeds
    ``gap_minutes``. session_seq = cumulative count of session starts per
    user (1-based); session_id = "<user>#<seq>". One shuffle on user_id;
    both windows share the same (user_id, ts, event_id) sort so Spark plans
    a single Sort+Window chain."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = (
        prev_ts.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts) > gap_minutes * 60)
    ).cast("int")
    cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        events.withColumn("is_start", new_session)
        .withColumn("session_seq", F.sum("is_start").over(cum).cast("int"))
        .select(
            "user_id",
            "event_id",
            F.concat_ws("#", F.col("user_id"), F.col("session_seq")).alias(
                "session_id"
            ),
            "session_seq",
        )
    )


def dedup_clusters(
    documents: DataFrame,
    threshold: float = 0.5,
    perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    sig_store: str | None = None,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph: every doc in
    a cluster gets the cluster's minimum doc_id as its cluster_id.

    Pairs come from minhash_lsh_pairs (verified Jaccard >= threshold). The
    component computation is iterated min-label propagation WITH
    pointer-jumping (min over own label, neighbors' labels, and
    label-of-own-label), run to fixpoint with a driver-side convergence
    check: rounds = O(log diameter) even for pathological duplicate
    chains. Each round localCheckpoints its labels — the self-join
    references the frame three times per round, so an un-truncated
    logical plan grows 3^rounds and Catalyst planning would dominate
    (same fix as htmlops.host_components, where it was measured 5x).
    Output: (doc_id, cluster_id) for EVERY doc (singletons map to
    themselves). ``sig_store``: committed signature index — the pair
    stage reads persisted signatures instead of re-signing the corpus
    per call (the dominant residual cost after the r4 double-step
    propagation fix)."""
    owned: list = []
    pairs = minhash_lsh_pairs(
        documents, threshold, perms, bands, persist_to=owned,
        sig_store=sig_store,
    ).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    # iterate over the edge-induced vertex set ONLY: singletons (the vast
    # majority of a real corpus) never change label, so carrying them
    # through every round's join + count would scale each iteration with
    # corpus size instead of duplicate-graph size. They re-enter via the
    # final left join. Edges are symmetric, so doc_a alone covers all
    # vertices.
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )

    def _prop_step(lab: DataFrame) -> DataFrame:
        """One min-label + pointer-jump application: (doc_id, cluster_id)
        -> (doc_id, cluster_id, prev) where prev is the input label (kept
        so the caller's convergence test needs no extra join)."""
        neighbor_min = (
            edges.join(lab, edges.doc_b == lab.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # pointer jump: my label's CURRENT label — labels are always doc
        # ids inside the labeled set, so the join is total and the hop
        # distance doubles per application
        jump = lab.alias("a").join(
            lab.alias("b"), F.col("a.cluster_id") == F.col("b.doc_id")
        ).select(
            F.col("a.doc_id").alias("doc_id"), F.col("b.cluster_id").alias("jump")
        )
        return (
            lab.select("doc_id", "cluster_id")
            .join(neighbor_min, "doc_id", "left")
            .join(jump, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("nbr_min", "cluster_id"),
                    F.coalesce("jump", "cluster_id"),
                ).alias("cluster_id"),
                F.col("cluster_id").alias("prev"),
            )
        )

    converged = False
    # TWO applications per materialization: each localCheckpoint(eager) +
    # convergence count is a full scheduled job, and at fixed-round toy
    # scale that per-round latency dominates the actual join work — so
    # batching two steps into one job halves the round count for the same
    # label trajectory. Convergence stays exact: the test is on the
    # SECOND application (no change in one application == fixpoint,
    # regardless of what the first changed). 32 double-rounds keep the
    # original 64-application O(log diameter) bound.
    for _ in range(32):
        # persist the inner application: the outer references it four
        # times (neighbor join + both jump sides + the base frame), and
        # ReuseExchange dedupes shuffle writes but not the join work
        # downstream of them — without the persist each round re-executes
        # most of the inner step's joins per reference
        s1 = _prop_step(labels).select("doc_id", "cluster_id").persist()
        s2 = _prop_step(s1).localCheckpoint(eager=True)
        changed = s2.filter(F.col("cluster_id") != F.col("prev")).count()
        s1.unpersist()
        labels = s2.select("doc_id", "cluster_id")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    for df in owned:  # the LSH stage's shingle/signature caches: the
        df.unpersist()  # checkpointed labels no longer reference them
    # the returned plan reads the final round's checkpoint blocks; the
    # ContextCleaner reclaims them once the caller drops the DataFrame
    if not converged:
        raise RuntimeError(
            "dedup_clusters: label propagation did not converge in 64 rounds "
            "(pathological >2^64-diameter duplicate chain)"
        )
    # singletons map to themselves; the propagated labels cover only the
    # duplicate-graph vertices
    return (
        documents.select("doc_id")
        .distinct()
        .join(labels.select("doc_id", "cluster_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )


def top_terms(documents: DataFrame, k: int = 50) -> DataFrame:
    """Vocabulary head by document frequency (tokenizer/vocab building step).

    Output: (term, doc_freq, rank), rank 1..k, ties broken by term. Document
    frequency (distinct docs per term) not raw count — the quantity BPE/vocab
    pruning actually needs. Scale: explode is map-side; the groupBy(term)
    shuffle key is near-Zipfian, but partial aggregation collapses each
    partition's term set first, so the skew of hot terms never materializes
    as row skew (only as one long-ish reduce key per hot term)."""
    tok = documents.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("term")
    )
    df_counts = tok.groupBy("term").agg(F.count("*").alias("doc_freq"))
    # distributed TakeOrdered for the head, THEN a window over only k rows —
    # a global row_number window over the full vocabulary would pull every
    # distinct term into one task
    head = df_counts.orderBy(F.desc("doc_freq"), F.asc("term")).limit(k)
    w = W.orderBy(F.desc("doc_freq"), F.asc("term"))
    return head.withColumn("rank", F.row_number().over(w)).select(
        "term", "doc_freq", "rank"
    )


def corpus_curate(
    documents: DataFrame,
    min_tokens: int = 20,
    min_quality: float = 0.5,
    lang: str = "en",
) -> DataFrame:
    """The canonical training-data curation composite: language filter +
    quality filter + exact-dedup keeper selection, with a reason per drop.

    Output: (doc_id, keep, reason) for EVERY document — an auditable
    keep-list, not a silently filtered corpus. reason in
    {'ok','dup','lang','short','low_quality'} (first failing rule wins, in
    that order). All three inputs are single-pass aggregates/joins over the
    same scan; the dedup keeper join broadcasts only (hash, keeper) pairs.

    NULL text is coalesced to '' up front (the _gram_rows discipline):
    md5(NULL) is NULL and NULL join keys never match, so without this a
    NULL-text document would silently VANISH from the keep-list —
    breaking the every-document contract the audit reconciles against."""
    documents = documents.withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    q = quality_score(documents).select("doc_id", "n_tokens", "quality")
    l = langid(documents).select("doc_id", "lang_pred")
    keepers = exact_dedup(documents).select(
        F.col("keeper_doc_id").alias("kd"), F.col("text_hash")
    )
    hashed = documents.select("doc_id", F.md5("text").alias("text_hash"))
    is_keeper = hashed.join(keepers, "text_hash").withColumn(
        "is_keeper", F.col("doc_id") == F.col("kd")
    ).select("doc_id", "is_keeper")
    joined = q.join(l, "doc_id").join(is_keeper, "doc_id")
    reason = (
        F.when(~F.col("is_keeper"), "dup")
        .when(F.col("lang_pred") != lang, "lang")
        .when(F.col("n_tokens") < min_tokens, "short")
        .when(F.col("quality") < min_quality, "low_quality")
        .otherwise("ok")
    )
    return joined.select(
        "doc_id",
        (reason == F.lit("ok")).alias("keep"),
        reason.alias("reason"),
    )


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d[\d()\- ]{7,}\d"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """Training-data PII redaction: emails, IPv4 addresses, and
    international-format phone numbers replaced by typed placeholders,
    with per-document match counts for audit dashboards.

    Pure regexp_replace/regexp_count chains — whole-stage codegen, zero
    Python; the patterns avoid lookaround so Java (Spark) and RE2 (DuckDB)
    agree byte-for-byte. Order matters: emails first (an email's host part
    must not be half-eaten by the IP rule), then IPs, then phones."""
    t0 = F.col("text")
    n_email = F.regexp_count(t0, F.lit(PII_EMAIL))
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    n_ip = F.regexp_count(t1, F.lit(PII_IPV4))
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    n_phone = F.regexp_count(t2, F.lit(PII_PHONE))
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return documents.select(
        "doc_id",
        t3.alias("text"),
        n_email.alias("n_emails"),
        n_ip.alias("n_ips"),
        n_phone.alias("n_phones"),
    )


def _ngram_hash_table(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram_hash) for every DISTINCT n-token gram; docs shorter
    than n tokens contribute nothing (decontamination convention)."""
    return (
        _gram_rows(documents, n, short_doc_whole=False)
        .select("doc_id", F.md5(F.col("shingle")).alias("gram_hash"))
        .dropDuplicates(["doc_id", "gram_hash"])
    )


def decontaminate(
    documents: DataFrame, benchmark: DataFrame, n: int = 8
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any n-token
    gram with an eval/benchmark set (the Brown et-al / GPT-3 appendix-C
    criterion). Output: (doc_id, n_contaminated_ngrams) for flagged docs.

    The benchmark gram table is tiny relative to the corpus — AQE
    broadcasts it under the join, so the corpus side never shuffles; at
    10^12 docs this is one map-side semi-join pass over the corpus grams."""
    bench_grams = _ngram_hash_table(benchmark, n).select("gram_hash").distinct()
    doc_grams = _ngram_hash_table(documents, n)
    return (
        doc_grams.join(bench_grams, "gram_hash")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_ngrams"))
    )


def _doc_lines(documents: DataFrame) -> DataFrame:
    """(doc_id, source, line_no, line) — one row per text line."""
    return documents.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.col("text"), "\n")).alias("line_no", "line"),
    )


def boilerplate_lines(
    documents: DataFrame, min_frac: float = 0.5
) -> DataFrame:
    """Cross-document template detection — the distributed form of HTML
    boilerplate stripping: a line appearing in >= max(2, min_frac * docs)
    of a source's documents is template chrome (nav, footer, cookie
    banner), not content. Empty lines are never flagged (paragraph breaks
    are content structure).

    Output: (source, line, n_docs_with_line). Shuffles on (source, line) —
    content-derived, near-uniform; at 10^12 docs the per-source line-doc
    counts are exactly the aggregation CCNet/trafilatura-style pipelines
    precompute per crawl snapshot."""
    src_docs = documents.groupBy("source").agg(F.count("*").alias("n_docs"))
    line_docs = (
        _doc_lines(documents)
        .filter(F.col("line") != "")
        .groupBy("source", "line")
        .agg(F.countDistinct("doc_id").alias("n_docs_with_line"))
    )
    thresh = F.greatest(F.lit(2), F.ceil(F.lit(min_frac) * F.col("n_docs")))
    return (
        line_docs.join(src_docs, "source")
        .filter(F.col("n_docs_with_line") >= thresh)
        .select("source", "line", "n_docs_with_line")
    )


def strip_boilerplate(
    documents: DataFrame, min_frac: float = 0.5
) -> DataFrame:
    """Main-content extraction for template chrome: remove every detected
    boilerplate line (see boilerplate_lines) and reassemble each document's
    remaining lines in original order.

    Output: (doc_id, text). A document whose EVERY line is boilerplate
    drops out of the output entirely (a pure-template page has no main
    content to keep) — join back to the documents table when full doc_id
    coverage matters. Three shuffles — line-doc counts, the
    (source, line) anti-join, and the doc_id reassembly — all on
    near-uniform keys; the boilerplate table is small (templates per
    source) and AQE broadcasts it."""
    boiler = boilerplate_lines(documents, min_frac).select("source", "line")
    kept = _doc_lines(documents).join(boiler, ["source", "line"], "left_anti")
    ordered = F.array_sort(F.collect_list(F.struct("line_no", "line")))
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(ordered, lambda s: s.line), "\n"
        ).alias("text")
    )


def canonicalize_url(url):
    """Column expression: canonical form of a crawl url — the dedup key a
    CC-style pipeline groups re-crawls by. Rules (all codegen, each with an
    identical DuckDB twin):

      1. scheme and host lowercased (path/query case preserved),
      2. default ports stripped (:443 for https, :80 for http),
      3. fragment dropped,
      4. utm_* tracking params dropped (and a dangling '?'/'&' cleaned),
      5. trailing '/' stripped.

    Plain regexps only — no lookaround — so Java (Spark) and RE2 (DuckDB)
    agree byte-for-byte."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    rest = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    host = F.when(
        (scheme == "https") & host.endswith(":443"),
        F.regexp_replace(host, r":443$", ""),
    ).when(
        (scheme == "http") & host.endswith(":80"),
        F.regexp_replace(host, r":80$", ""),
    ).otherwise(host)
    rest = F.regexp_replace(rest, r"#.*$", "")
    # utm removal must be DELIMITER-anchored or a param merely containing
    # 'utm_' in its name (e.g. myutm_x) gets its tail eaten. Split the rest
    # at the FIRST '?' (a literal '&' in the path, or a second '?' inside a
    # value, must never be rewritten), give every query param a leading '&',
    # strip '&utm_<...>' params, then reassemble with '?' — global regex
    # alone cannot drop adjacent utm params (the consumed delimiter hides
    # the next match).
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    q2 = F.regexp_replace(F.concat(F.lit("&"), query), r"&utm_[^&]*", "")
    q2 = F.regexp_replace(q2, r"^&", "")
    # trailing-'/' strip applies to the PATH, before query reassembly — a
    # query VALUE ending in '/' (?x=/) is data, not a path separator, and
    # stripping after reassembly mutated it (collapsing '?x=/' with '?x=')
    path = F.regexp_replace(path, r"/$", "")
    rest = F.when(q2 == "", path).otherwise(F.concat(path, F.lit("?"), q2))
    # a url with no recognizable scheme cannot be canonicalized — pass it
    # through unchanged (each stays its own dedup key) instead of
    # collapsing every malformed url into one giant '://' cluster
    return F.when(scheme == "", url).otherwise(
        F.concat(scheme, F.lit("://"), host, rest)
    )


def source_length_percentiles(documents: DataFrame) -> DataFrame:
    """Per-source length distribution profile: exact percentiles of n_chars
    (p25/p50/p75/p99) + count. The corpus-profiling aggregate a curation
    dashboard reports; exact `percentile` (not approx_percentile) so the
    DuckDB quantile_cont twin matches bit-for-bit. One shuffle on the
    low-cardinality source key; at 10^12 rows swap in approx_percentile
    (t-digest, partial-aggregatable) and drop the cross-engine exactness."""
    p = lambda q: F.round(F.percentile(F.col("n_chars"), F.lit(q)), 6)
    return documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        p(0.25).alias("p25"),
        p(0.50).alias("p50"),
        p(0.75).alias("p75"),
        p(0.99).alias("p99"),
    )


def source_stats(documents: DataFrame) -> DataFrame:
    """Per-source corpus profile: volume, dedup rate, quality/length means.

    The dashboard aggregate a crawl-curation pipeline reports per domain.
    One shuffle on `source` (low cardinality, partial-agg collapses first).
    NULL text hashes as '' (countDistinct skips NULL — a NULL-text doc
    would otherwise be missing from n_distinct but present in n_docs)."""
    documents = documents.withColumn(
        "text", F.coalesce(F.col("text"), F.lit(""))
    )
    q = quality_score(documents).select("doc_id", "n_tokens", "quality")
    hashed = documents.select("doc_id", "source", F.md5("text").alias("h"))
    base = hashed.join(q, "doc_id")
    return base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("h").alias("n_distinct"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(
            F.lit(1.0) - F.countDistinct("h") / F.count("*"), 6
        ).alias("dup_rate"),
    )


def stratified_sample(
    documents: DataFrame, rate_pct: int = 10, strata_col: str = "source"
) -> DataFrame:
    """Deterministic hash-based stratified sampling: keep a ~rate_pct% slice
    of every stratum, reproducibly (content-hash threshold, no RNG).

    THE core corpus-subsampling primitive: unlike df.sample(), the decision
    is a pure function of the row, so reruns/retries/other engines agree
    row-for-row. Keep iff the first 6 hex digits of md5(text) fall below
    rate_pct% of 16^6 — compared as fixed-width lowercase hex STRINGS, which
    orders identically to the numeric value in any engine."""
    cut_hex = format(int(0xFFFFFF * rate_pct / 100), "06x")
    keep = F.substring(F.md5("text"), 1, 6) < cut_hex
    return documents.filter(keep).select("doc_id", F.col(strata_col).alias("stratum"))


def cap_per_host(
    documents: DataFrame, cap: int = 3, host_col: str = "source"
) -> DataFrame:
    """Per-domain quota: keep at most ``cap`` documents per host, chosen
    by deterministic content-hash order (md5(text), doc_id tiebreak) so
    reruns and engines agree row-for-row.

    The anti-domination step (C4 / RefinedWeb style): without it a single
    mirror farm or forum dominates the exported corpus. Hash order makes
    the quota a fair content-lottery rather than "whatever the scan saw
    first".

    Scale: one shuffle on the host key + a window; output is bounded at
    cap x |hosts|. A pathological mega-host makes one hot partition — at
    crawl scale enable AQE skew handling or pre-thin with
    stratified_sample before capping; the rank itself reads only
    (doc_id, host, md5) so payload columns never shuffle."""
    narrow = documents.select("doc_id", host_col, F.md5("text").alias("_h"))
    w = W.partitionBy(host_col).orderBy(F.col("_h").asc(), F.col("doc_id").asc())
    return (
        narrow.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .select(
            "doc_id",
            F.col(host_col).alias("host"),
            F.col("_rk").cast("int").alias("host_rank"),
        )
    )


def token_histogram(documents: DataFrame, bucket_w: int = 10) -> DataFrame:
    """Document-length histogram: docs per `bucket_w`-token bucket.

    The distribution report every corpus pipeline emits; one tiny shuffle on
    the bucket id (partial agg collapses first)."""
    n = F.size(_tokens(F.col("text")))
    bucket = (F.floor(n / bucket_w) * bucket_w).cast("int")
    return (
        documents.select(bucket.alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("n_docs"))
    )


def minhash_jaccard_estimate(
    documents: DataFrame,
    perms: int = MINHASH_PERMS,
    bands: int = LSH_BANDS,
    persist_to: list | None = None,
) -> DataFrame:
    """CALIBRATION query: sketch estimate NEXT TO the exact Jaccard for every
    LSH candidate pair, so the sketch's error is itself observable. This
    deliberately executes the exact shingle verification — the scale path
    that avoids it is `minhash_estimate_pairs`."""
    from pyspark import StorageLevel

    arr = _shingle_arrays(documents).persist(StorageLevel.MEMORY_AND_DISK)
    # four consumers (band self-join twice + both agreement sides) and no
    # exchange in the array build -> persist, or the md5 work runs 4x
    sig = _signatures_from_arrays(arr, perms).persist(StorageLevel.MEMORY_AND_DISK)
    if persist_to is not None:
        persist_to.extend((arr, sig))
    sh = arr.select("doc_id", F.explode("shingles").alias("shingle"))
    pairs = _verified_jaccard(
        sh,
        _band_candidates(sig, perms, bands),
        0.0,
        sizes=arr.select("doc_id", F.size("shingles").alias("n_shingles")),
    )
    return _signature_agreement(
        sig, sig, pairs, perms, "doc_a", "doc_b"
    ).select("doc_a", "doc_b", "est_jaccard", "jaccard")


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms (keyword extraction).

    tf = in-doc count; idf = ln(N / df) with df = docs containing the term.
    Deterministic ties by term. Two shuffles (df agg + per-doc rank), both
    on near-uniform keys; the df table is the only corpus-wide state and is
    aggregated, never broadcast raw."""
    tok = documents.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    # N as a broadcast 1-row aggregate INSIDE the plan — a separate
    # documents.count() action would re-scan the corpus once per invocation
    n_t = documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_t))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
        .drop("n_docs")
    )
    w = W.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def fingerprint(documents: DataFrame, k: int = 4) -> DataFrame:
    """Bottom-k sketch: the k smallest shingle md5s, concatenated.

    A compact content fingerprint: equal fingerprints => near-certain dup;
    used as a cheap pre-filter before pairwise verification.

    ZERO-shuffle kernel: the per-doc distinct shingle set is already an
    array (:func:`_shingle_arrays`), so the k smallest md5s are
    ``slice(array_sort(transform(...)), 1, k)`` inside one codegen
    projection — byte-identical to the explode + row_number-window +
    collect_list formulation it replaces (slice past the end returns the
    whole array, matching rn<=k on short docs), minus that plan's two
    doc_id exchanges. At 10^12 docs the fingerprint becomes scan-bound."""
    sh = _shingle_arrays(documents)
    hashes = F.array_sort(F.transform("shingles", lambda x: F.md5(x)))
    return sh.select(
        "doc_id",
        F.array_join(F.slice(hashes, 1, k), "|").alias("fingerprint"),
    )


# Crawl-frontier URL filtering (the gate BEFORE fetch: every rejected url
# saves a whole request + parse at crawl scale). First-match-wins rule
# chain, all plain regexps (no lookaround) so the DuckDB twin computes the
# same answer with its own regex engine.
CRAWL_BAD_EXTS = (
    "jpg jpeg png gif webp bmp ico svg css js mjs woff woff2 ttf eot "
    "mp3 mp4 avi mov mkv webm zip gz tgz tar rar 7z exe dmg iso bin"
).split()
CRAWL_BLOCKED_HOSTS = ("ads.example.com",)


def crawl_url_filter(
    urls: DataFrame,
    max_depth: int = 8,
    max_url_len: int = 512,
    max_query_len: int = 128,
) -> DataFrame:
    """(doc_id, url) -> (doc_id, url, keep, reason). Reasons, first match
    wins: scheme (not http/https), blocked_host (ad/tracker hosts),
    binary_ext (non-text asset extension), deep_path (> max_depth '/'
    segments — crawler-trap heuristic), long_url, long_query; else 'ok'.

    Scale: pure projection — no shuffle, no UDF; runs inside whole-stage
    codegen at the scan, so the frontier filter is free at 10^12 urls."""
    url = F.col("url")
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    # host WITHOUT port for list membership
    bare_host = F.regexp_replace(host, r":\d+$", "")
    path = F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    # anchored before any '#': a '?' inside the FRAGMENT is not a query
    # (e.g. 'https://h/p#sec?junk' has no query at all) — the unanchored
    # form misclassified such urls as long_query at the frontier
    query = F.regexp_extract(url, r"^[^#]*?\?([^#]*)", 1)
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]+)$", 1))
    depth = F.length(path) - F.length(F.regexp_replace(path, r"/", ""))
    reason = (
        F.when(~scheme.isin("http", "https"), F.lit("scheme"))
        .when(
            bare_host.isin(*CRAWL_BLOCKED_HOSTS)
            | bare_host.contains("tracker"),
            F.lit("blocked_host"),
        )
        .when(ext.isin(*CRAWL_BAD_EXTS), F.lit("binary_ext"))
        .when(depth > max_depth, F.lit("deep_path"))
        .when(F.length(url) > max_url_len, F.lit("long_url"))
        .when(F.length(query) > max_query_len, F.lit("long_query"))
        .otherwise(F.lit("ok"))
    )
    return urls.select(
        "doc_id",
        "url",
        (reason == "ok").alias("keep"),
        reason.alias("reason"),
    )


# tracking params stripped by url_normalize: the industry-standard
# click/campaign identifiers that fragment one logical page into millions
# of distinct crawl urls. Matched as whole param NAMES (before '=').
# \z, not $: Java's $ matches BEFORE a trailing newline while RE2's is
# true end-of-text — a tracking param ending in a raw \n (dirty crawl
# data) would be stripped by Spark and kept by DuckDB. \z means the same
# thing in both engines.
URL_TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref|ref_src|mc_cid|mc_eid)(=.*)?\z"


def url_normalize(urls: DataFrame) -> DataFrame:
    """(doc_id, url) -> (doc_id, url, canon_url): the crawl-frontier /
    dedup-key normalization every CC-scale pipeline runs before exact
    URL dedup — without it one logical page appears under millions of
    tracking-param / fragment / port variants and survives url-level
    dedup.

    Relationship to :func:`canonicalize_url` (the COLUMN-expression
    sibling, q:`url_canonicalize`): that one is the light in-plan helper
    (scheme/host case, default ports, fragment, utm_* strip, trailing
    slash); THIS op additionally SORTS surviving params (param order
    never distinguishes pages), drops empty params, strips the broader
    tracking list (URL_TRACKING_PARAM_RE), and maps the empty path to
    '/'. Use the column helper inside other plans; use this op when the
    canon key itself is the deliverable.

    Rules (deterministic, order-independent output): lowercase scheme and
    host; drop the fragment; drop default ports (:80 http, :443 https);
    empty path -> '/'; drop tracking params (URL_TRACKING_PARAM_RE) and
    empty params; SORT surviving params byte-wise (param order never
    distinguishes pages); drop the '?' when nothing survives. Non-http(s)
    urls pass through verbatim (canonicalizing mailto:/ftp: is not this
    operator's contract).

    Scale: pure projection — regexp extracts + one array filter/sort over
    the (short) query params, all whole-stage codegen; no shuffle, no UDF,
    free at 10^12 urls. The DuckDB twin re-computes every rule with the
    same regexes (list_filter + list_sort mirror filter + array_sort), so
    the hash certifies the rule chain itself."""
    url = F.col("url")
    is_http = url.rlike(r"^[Hh][Tt][Tt][Pp][Ss]?://")
    pre = F.substring_index(url, "#", 1)  # fragment gone
    scheme = F.lower(F.regexp_extract(pre, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(pre, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    # (:80)+ / (:443)+, not a single group: junk double-port hosts
    # ('h.com:80:80') must canonicalize in ONE application or the op
    # loses idempotence (property-tested)
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.regexp_replace(host, r"(:80)+$", ""),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.regexp_replace(host, r"(:443)+$", ""),
    ).otherwise(host)
    path = F.regexp_extract(pre, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # pre is already fragment-free, so the query is everything after the
    # FIRST '?' (leftmost match in both regex engines)
    query = F.regexp_extract(pre, r"\?(.*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(URL_TRACKING_PARAM_RE),
        )
    )
    qtail = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), host, path, qtail)
    return urls.select(
        "doc_id",
        "url",
        F.when(is_http, canon).otherwise(url).alias("canon_url"),
    )


# Exact-substring dedup window (token granularity). 50 tokens is the
# operating point of Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better" (their suffix-array threshold, rebuilt here as a
# rolling token-window hash — the distributed-friendly equivalent). The
# driver twin uses PARITY_SPAN_W so the DuckDB lead-chain stays short.
DUP_SPAN_W = 50
PARITY_SPAN_W = 8


def duplicate_span_windows(documents: DataFrame, w: int = DUP_SPAN_W) -> DataFrame:
    """(doc_id, pos) of every NON-CANONICAL occurrence of a duplicated
    w-token window: a window whose token hash appears at an earlier
    (doc_id, pos) anywhere in the corpus. The first occurrence is canonical
    and never marked — removing all marked windows keeps exactly one copy
    of every duplicated substring (within-document repeats included).

    Scale: the gram build is the `_gram_rows` window (one split per doc);
    the ranking shuffles on md5(window) — a content-derived, near-uniform
    key, so no salting is needed. At 10^12 docs this is the same
    shuffle-on-hash shape as minhash_signatures, and the w-token windows
    never materialize the text twice (hash projected immediately)."""
    grams = _gram_rows(documents, w, short_doc_whole=False, keep_pos=True)
    occ = grams.select("doc_id", "pos", F.md5(F.col("shingle")).alias("h"))
    win = W.partitionBy("h").orderBy("doc_id", "pos")
    # rn > 1 alone marks duplicated occurrences: any second row under the
    # same hash implies the hash occurs at least twice
    ranked = occ.withColumn("rn", F.row_number().over(win))
    return ranked.filter(F.col("rn") > 1).select("doc_id", "pos")


def _doc_token_counts(documents: DataFrame) -> DataFrame:
    text = F.coalesce(F.col("text"), F.lit(""))
    return documents.select(
        "doc_id", F.size(_tokens(text)).cast("long").alias("n_tokens")
    )


def duplicate_spans(documents: DataFrame, w: int = DUP_SPAN_W) -> DataFrame:
    """Per-document duplicated-span profile (exact-substring dedup stats).

    Every non-canonical duplicated w-token window (duplicate_span_windows)
    covers tokens [pos, pos+w); overlapping windows are interval-unioned
    with a running-max-end window (sorted sweep — one window shuffle on
    doc_id, no explode of the covered range).

    Output: (doc_id, n_tokens, dup_windows, dup_tokens, dup_frac) for
    EVERY document (zeros when nothing is duplicated)."""
    dups = duplicate_span_windows(documents, w)
    ord_w = W.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + w).over(
        ord_w.rowsBetween(W.unboundedPreceding, -1)
    )
    # new coverage from this window = its end minus where covered ground
    # already reaches (floored at its own start); positions are strictly
    # increasing within a doc so this is the classic sorted interval union
    inc = F.col("pos") + F.lit(w) - F.greatest(
        F.coalesce(prev_end, F.col("pos")), F.col("pos")
    )
    per_doc = (
        dups.withColumn("_inc", F.greatest(inc, F.lit(0)))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("dup_windows"),
            F.sum("_inc").alias("dup_tokens"),
        )
    )
    base = _doc_token_counts(documents)
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),  # ANSI: no div-by-0
            6,
        ).alias("dup_frac"),
    )


def remove_duplicate_spans(documents: DataFrame, w: int = DUP_SPAN_W) -> DataFrame:
    """Cleaned corpus: drop every token covered by a non-canonical
    duplicated w-token window (the Lee-et-al cut — one copy of every
    duplicated substring survives at its first occurrence). Whitespace is
    normalized to single spaces: the semantics are token-granular.

    Output: (doc_id, clean_text, n_kept, n_removed) for EVERY document
    (clean_text = '' when the whole document was duplicated ground).

    Scale: covered positions come from explode(sequence(pos, pos+w-1)) —
    w rows per duplicated window, bounded by corpus dup mass, not corpus
    size; the rebuild is one groupBy(doc_id) with an array_sort on
    (pos, tok) structs, the same per-doc-bounded shape as the ordered
    group-concat sink."""
    dups = duplicate_span_windows(documents, w)
    covered = dups.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + w - 1)).alias("pos"),
    ).dropDuplicates(["doc_id", "pos"])
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = documents.select(
        "doc_id", F.posexplode(_tokens(text)).alias("pos", "tok")
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    base = _doc_token_counts(documents)
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# Character-level language-model quality signals (CCNet-style).
#
# Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets from
# Web Crawl Data" (2019) rank web pages by the perplexity of a char-based
# KenLM; pages whose text is mojibake, markup soup, or keyword stuffing
# score far from the clean-text distribution. The estimator here is an
# add-one-smoothed character-bigram model trained on the corpus itself (or
# a caller-supplied clean slice), which keeps the whole operator inside
# pyspark.sql.functions and gives the DuckDB twin an exactly computable
# definition — no external model artifact.

# Log-probs are quantized to integer micro-nats BEFORE any per-document
# sum, so every aggregation is exact integer arithmetic: bit-identical
# across engines regardless of float summation order. Only the final
# single division per document is floating point.
LM_QUANT = 1_000_000


def _char_norm(col):
    """CCNet-ish text normalization: lowercase, digits->0, whitespace runs
    collapsed to one space. The whitespace class is the EXPLICIT
    TOKEN_WS_RE, not '\\s+': Java's \\s includes \\x0B while RE2's does
    not, so an implicit class desyncs every char-LM/entropy/ccnet twin on
    documents carrying a vertical tab."""
    t = F.lower(F.coalesce(col, F.lit("")))
    t = F.regexp_replace(t, TOKEN_WS_RE, " ")
    return F.regexp_replace(t, r"[0-9]", "0")


def char_bigram_tf(documents: DataFrame) -> DataFrame:
    """(doc_id, g, tf) — char-bigram term frequencies over normalized text.

    Built as posexplode(split(t, '')) + lead() window: the normalization
    and split run ONCE per document (same discipline as _gram_rows; see its
    docstring for why transform(sequence, i -> substring(...)) is the slow
    form — for chars it is also O(len²) because substring(t, i, 2) re-walks
    the UTF-8 prefix per gram). Spark's split(t, '') keeps a trailing ''
    element (Java split limit -1), so grams are kept by length == 2, which
    also drops the null concat at end-of-doc."""
    chars = documents.select(
        "doc_id",
        F.posexplode(F.split(_char_norm(F.col("text")), "")).alias("pos", "c"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    rows = chars.withColumn("g", F.concat(F.col("c"), F.lead("c", 1).over(w)))
    return (
        rows.filter(F.length("g") == 2)
        .groupBy("doc_id", "g")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def char_lm_score(documents: DataFrame, train: DataFrame | None = None) -> DataFrame:
    """Per-document negative log-likelihood (nats/bigram) under a corpus
    char-bigram LM — the CCNet perplexity-filter signal.

    p(g) = (cnt(g)+1) / (total+V), add-one smoothed, trained on ``train``
    (default: the scored corpus itself — self-scoring ranks each page
    against the corpus-wide character distribution). Unseen grams (only
    possible with an external ``train``) fall back to the smoothing floor
    via cnt=0.

    Scale: the model vocabulary is bounded by charset² — a few thousand
    entries at ANY corpus size — so the score join is a broadcast; the tf
    build is one per-doc window plus a partial-aggregated groupBy (common
    bigrams are hot keys but map-side combine collapses them before the
    exchange); the per-doc reduce is the only other shuffle."""
    tf = char_bigram_tf(documents)
    train_tf = tf if train is None else char_bigram_tf(train)
    model = train_tf.groupBy("g").agg(F.sum("tf").cast("long").alias("cnt"))
    totals = model.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count("*").cast("long").alias("v"),
    )
    lp_q = F.round(
        F.log((F.col("cnt") + F.lit(1)) / (F.col("total") + F.col("v"))) * LM_QUANT
    ).cast("long")
    scored = (
        tf.join(F.broadcast(model), "g", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
        .withColumn("lp_q", lp_q)
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("lp_q")).cast("long").alias("q_sum"),
        )
    )
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(
                -F.col("q_sum") / (F.col("n_bigrams") * F.lit(float(LM_QUANT))), 6
            ).alias("nll"),
        )
    )


def char_entropy(documents: DataFrame) -> DataFrame:
    """Per-document character unigram entropy (nats) over normalized text.

    Near-zero entropy flags repeated-junk pages (one char dominating);
    anomalously high entropy flags base64/binary-as-text blobs. Same
    integer-quantization protocol as char_lm_score: H = -(1/n)·Σ tf·ln(tf/n)
    with ln quantized to micro-nats before the exact integer sum."""
    chars = documents.select(
        "doc_id", F.explode(F.split(_char_norm(F.col("text")), "")).alias("c")
    ).filter(F.length("c") == 1)
    tf = chars.groupBy("doc_id", "c").agg(F.count("*").cast("long").alias("tf"))
    tot = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("n"))
    lp_q = F.round(F.log(F.col("tf") / F.col("n")) * LM_QUANT).cast("long")
    ent = (
        tf.join(tot, "doc_id")
        .withColumn("lp_q", lp_q)
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars_norm"),
            F.sum(F.col("tf") * F.col("lp_q")).cast("long").alias("q_sum"),
        )
    )
    return (
        documents.select("doc_id")
        .join(ent, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chars_norm", F.lit(0)).cast("long").alias("n_chars_norm"),
            F.round(
                -F.col("q_sum") / (F.col("n_chars_norm") * F.lit(float(LM_QUANT))), 6
            ).alias("entropy"),
        )
    )


# ---------------------------------------------------------------------------
# Context-window preparation: fixed token-window chunking with overlap
# ---------------------------------------------------------------------------

CHUNK_WINDOW = 32
CHUNK_STRIDE = 24


def doc_chunk(
    documents: DataFrame, window: int = CHUNK_WINDOW, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Split each document into fixed token-window chunks with overlap —
    the context-window preparation step of a training/RAG pipeline
    (window tokens per chunk, consecutive chunks `stride` tokens apart,
    last chunk clamped at end-of-doc).

    Chunk count is 1 + ceil(max(0, n - window) / stride), so every doc
    with non-blank text emits at least one chunk and every token is
    covered; blank/NULL-text docs emit none (there is nothing to train
    on — join back to documents when coverage accounting matters). Entirely narrow
    (tokenize once, explode chunk ids, slice the token array) — zero
    shuffles, so at crawl scale it is pure map work that pipelines into
    whatever consumes the chunks. Skew-free: cost is linear in document
    length and the explode fan-out is bounded by n/stride."""
    if window <= 0 or stride <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        # gaps: tokens between window and stride would land in NO chunk
        # and trailing chunks would slice past end-of-doc into empties —
        # silently truncated training data, never what a caller means
        raise ValueError("stride > window leaves uncovered token gaps")
    docs = documents.filter(F.trim(F.col("text")) != "").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    extra = F.greatest(F.size("toks") - F.lit(window), F.lit(0))
    n_chunks = (F.floor((extra + F.lit(stride - 1)) / F.lit(stride)) + 1).cast("long")
    chunked = docs.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(F.col("toks"), F.col("chunk_id") * stride + 1, window)
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Domain-mixture sampling: waterfill to a balanced source mixture
# ---------------------------------------------------------------------------

# lottery resolution: first 4 hex digits of md5(text) -> [0, 65536). Kept
# narrow on purpose: the keep test cross-multiplies (h * c < min_c * 65536)
# in exact int64, and 65536 * 10^12 docs/source still fits a long.
MIX_HEX_W = 4
MIX_SPACE = 16**MIX_HEX_W


def mixture_sample(documents: DataFrame, strata_col: str = "source") -> DataFrame:
    """Balanced domain-mixture sampling: downsample every stratum to the
    size of the SMALLEST one (waterfill with equal target weights), chosen
    by deterministic content-hash lottery — the mixture-rebalancing step
    before training-corpus export (no source dominates by crawl volume).

    keep(doc) iff h(doc) * c_s < min_c * 65536 with h = first 4 hex digits
    of md5(text) as an integer: an exact-integer per-stratum ~(min_c/c_s)
    Bernoulli cut that any engine reproduces row-for-row (no RNG, no
    sort). Scale: one tiny per-source count aggregate broadcast back over
    the corpus — a single partial-agg shuffle of |sources| rows; the keep
    filter itself is map-side."""
    counts = (
        documents.groupBy(F.col(strata_col).alias("stratum"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    floor_c = counts.agg(F.min("c").cast("long").alias("min_c"))
    h = F.conv(F.substring(F.md5("text"), 1, MIX_HEX_W), 16, 10).cast("long")
    return (
        documents.select("doc_id", F.col(strata_col).alias("stratum"), h.alias("_h"))
        .join(F.broadcast(counts), "stratum")
        .crossJoin(F.broadcast(floor_c))
        .filter(F.col("_h") * F.col("c") < F.col("min_c") * F.lit(MIX_SPACE))
        .select("doc_id", "stratum")
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed n-gram importance weights (data selection)
# ---------------------------------------------------------------------------

# hashed unigram feature space: first 3 hex digits of md5(token) -> 4096
# buckets, the classic hashed-DSIR compromise (model fits in one broadcast
# regardless of corpus vocabulary).
DSIR_HEX_W = 3
DSIR_BUCKETS = 16**DSIR_HEX_W


def dsir_weights(documents: DataFrame, target_lang: str = "en") -> DataFrame:
    """DSIR-style importance weight per document: mean log-likelihood
    ratio of the doc's hashed-unigram features under a TARGET distribution
    (here: the ``target_lang`` slice of the corpus) vs the RAW crawl
    distribution — the data-selection signal for importance resampling
    ("pick crawl docs that look like the target domain").

    Both unigram models are add-one smoothed over the 4096 hashed buckets;
    per-bucket log-ratios are quantized to integer micro-nats (same
    LM_QUANT protocol as char_lm_score) so the per-doc reduce is an exact
    integer sum — engine-order-independent and reproducible bit-for-bit.

    Scale: the model is ≤4096 rows whatever the corpus size — built with
    one partial-agg shuffle, broadcast back; the per-doc reduce is the
    only other shuffle. No skew (bucket keys are md5-uniform)."""
    tok = documents.select(
        "doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("w")
    ).select(
        "doc_id", "lang", F.substring(F.md5("w"), 1, DSIR_HEX_W).alias("b")
    )
    raw = tok.groupBy("b").agg(F.count("*").cast("long").alias("cnt_r"))
    tgt = (
        tok.filter(F.col("lang") == target_lang)
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("cnt_t"))
    )
    model = (
        raw.join(tgt, "b", "left")
        .withColumn("cnt_t", F.coalesce("cnt_t", F.lit(0)).cast("long"))
    )
    totals = model.agg(
        F.sum("cnt_r").cast("long").alias("tot_r"),
        F.sum("cnt_t").cast("long").alias("tot_t"),
    )
    lpq = F.round(
        (
            F.log((F.col("cnt_t") + 1) / (F.col("tot_t") + F.lit(DSIR_BUCKETS)))
            - F.log((F.col("cnt_r") + 1) / (F.col("tot_r") + F.lit(DSIR_BUCKETS)))
        )
        * LM_QUANT
    ).cast("long")
    lp = model.crossJoin(F.broadcast(totals)).select("b", lpq.alias("lpq"))
    scored = (
        tok.groupBy("doc_id", "b")
        .agg(F.count("*").cast("long").alias("tf"))
        .join(F.broadcast(lp), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lpq")).cast("long").alias("q_sum"),
        )
    )
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(
                F.col("q_sum")
                / (F.greatest(F.col("n_tokens"), F.lit(1)) * F.lit(float(LM_QUANT))),
                6,
            ).alias("dsir_weight"),
        )
    )


def train_split(
    documents: DataFrame, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Deterministic train/val/test assignment: (doc_id, split).

    Keyed on md5(text) — NOT doc_id — so byte-identical duplicates always
    land in the SAME split: a duplicate surviving upstream dedup can never
    put train text into the test set. The decision is a pure function of
    the row (the stratified_sample discipline): reruns, retries, and other
    engines agree row-for-row, and adding new documents never reassigns
    existing ones. Bands compare the first 6 hex digits as fixed-width
    lowercase strings, which orders identically to the numeric value in
    any engine. Zero shuffles — a pure projection the optimizer can fuse
    into any downstream plan."""
    h = F.substring(F.md5("text"), 1, 6)
    test_cut = format(int(0xFFFFFF * test_pct / 100), "06x")
    val_cut = format(int(0xFFFFFF * (test_pct + val_pct) / 100), "06x")
    return documents.select(
        "doc_id",
        F.when(h < test_cut, "test")
        .when(h < val_cut, "val")
        .otherwise("train")
        .alias("split"),
    )


def ccnet_buckets(
    documents: DataFrame,
    train: DataFrame | None = None,
    head_pct: int = 30,
    middle_pct: int = 40,
) -> DataFrame:
    """CCNet's head/middle/tail selection step: per LANGUAGE, rank pages by
    char-LM negative log-likelihood (low = closest to the clean-text
    distribution) and band the ranking into head (best head_pct%), middle
    (next middle_pct%), tail (rest). Wenzek et al. train on Wikipedia and
    keep head+middle; here the LM comes from char_lm_score (self- or
    slice-trained).

    Determinism: band edges are integer arithmetic on (row_number, count)
    — r*100 <= pct*n — never percent_rank/ntile (whose n=1 and tie
    behaviour differ across engines); ordering is (nll ASC NULLS LAST,
    doc_id), so token-free documents (nll NULL) always land in the tail
    band's end in BOTH engines.

    Scale: one window per language partition over (score join output);
    languages are a natural near-uniform partition key at crawl scale. The
    LM model itself is charset²-bounded and broadcast (see char_lm_score).
    """
    scored = char_lm_score(documents, train)
    base = documents.select("doc_id", "lang").join(scored, "doc_id")
    w = W.partitionBy("lang").orderBy(
        F.col("nll").asc_nulls_last(), F.col("doc_id")
    )
    r = F.row_number().over(w)
    n = F.count("*").over(W.partitionBy("lang"))
    head_cut, mid_cut = head_pct, head_pct + middle_pct
    return base.select(
        "doc_id",
        "lang",
        "nll",
        F.when(r * 100 <= head_cut * n, "head")
        .when(r * 100 <= mid_cut * n, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# Unicode repair: NFC + newline canonicalization + control/zero-width strip.
# The one step in the text-quality chain that genuinely needs Python (Spark
# has no NFC builtin) -- a single Arrow-batched scalar UDF, zero shuffle.
# The strip class keeps \t and \n; \r is folded into \n first; zero-widths
# are ZWSP/ZWNJ/ZWJ/BOM. Any change must land on the DuckDB twin too
# (nfc_normalize + the same classes in RE2 syntax).
_NORM_STRIP_RE = None  # built lazily so the hot import path stays re-free


COMPRESSION_LEVEL = 6  # zlib level; fixed so the signal is reproducible


def compression_len_py(s: str) -> int:
    """Pure kernel: zlib-compressed byte length — shared by the UDF and the
    materialized oracle so both engines run the identical compressor."""
    import zlib

    return len(zlib.compress(s.encode("utf-8"), COMPRESSION_LEVEL))


def _zlen_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _zlen(s):
        return s.map(lambda x: None if x is None else compression_len_py(x))

    return _zlen


def compression_ratio(documents: DataFrame) -> DataFrame:
    """zlib compression-ratio quality signal: repetitive/templated junk
    compresses far below natural prose (ratio under ~0.3 at level 6 flags
    boilerplate and keyboard-mash; prose sits ~0.4-0.7). A standard webtext
    curation feature that no closed-form SQL expresses — hence the
    MATERIALIZED oracle (stage_compression_expected, same pure kernel).

    Scale plan: ONE ArrowEvalPython crossing carrying only (text) in and the
    compressed LENGTH out — the compressed bytes never leave the executor;
    n_bytes and the ratio are JVM-side; no shuffle anywhere.

    Output: (doc_id, n_bytes, z_bytes, comp_ratio)."""
    zlen = _zlen_udf()
    return documents.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        zlen(F.col("text")).alias("z_bytes"),
    ).withColumn(
        "comp_ratio",
        F.round(F.col("z_bytes") / F.greatest(F.col("n_bytes"), F.lit(1)), 6),
    )


_COMP_STAGED: dict[str, str] = {}


def stage_compression_expected(sf_dir: str) -> str:
    """Stage (memoized per process) the expected (doc_id, n_bytes, z_bytes)
    parquet for ``sf_dir``: the same pure kernel run without Spark. The
    RATIO is left to the SQL twin (round(z/greatest(n,1), 6)) so both
    engines round from identical integer inputs."""
    import os

    import pandas as pd

    sf_dir = os.path.normpath(sf_dir)
    if sf_dir in _COMP_STAGED:
        return _COMP_STAGED[sf_dir]
    path = staging_path("comp", sf_dir, ".parquet")
    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    pd.DataFrame(
        {
            "doc_id": docs["doc_id"].astype("int64"),
            "n_bytes": pd.array(
                [len(t.encode("utf-8")) for t in docs["text"]], dtype="int32"
            ),
            "z_bytes": pd.array(
                [compression_len_py(t) for t in docs["text"]], dtype="int32"
            ),
        }
    ).to_parquet(path, index=False)
    _COMP_STAGED[sf_dir] = path
    return path


def normalize_text_py(s: str) -> str:
    """Pure normalization kernel -- shared by the UDF and tests."""
    import re
    import unicodedata

    global _NORM_STRIP_RE
    if _NORM_STRIP_RE is None:
        _NORM_STRIP_RE = re.compile(
            "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f-\u009f"
            "\u200b\u200c\u200d\ufeff]"
        )
    t = unicodedata.normalize("NFC", s)
    t = t.replace("\r\n", "\n").replace("\r", "\n")
    return _NORM_STRIP_RE.sub("", t)


def _norm_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s):
        return s.map(lambda x: None if x is None else normalize_text_py(x))

    return _norm


def with_normalized_text(documents: DataFrame) -> DataFrame:
    """documents with `text` replaced by the normalization kernel's output
    (same single Arrow crossing as unicode_normalize) -- the form pipeline
    jobs consume when they want the repaired text itself rather than the
    change report."""
    norm = _norm_udf()
    return documents.withColumn("text", norm(F.col("text")))


def unicode_normalize(documents: DataFrame) -> DataFrame:
    """(doc_id, norm_md5, n_before, n_after, changed): NFC-normalized,
    newline-canonicalized, control/zero-width-stripped text, reported as a
    digest plus change accounting.

    Scale plan: one ArrowEvalPython crossing over (doc_id, text) only --
    column pruning keeps every other column out of the Arrow transfer --
    then JVM-side md5/length; no shuffle anywhere. Unicode-version skew
    between Python's unicodedata and the twin's utf8proc is possible on
    exotic codepoints; the parity hash at sf0.01 is the canary."""
    _norm = _norm_udf()
    return documents.select(
        "doc_id",
        F.col("text").alias("_t"),
        _norm(F.col("text")).alias("_n"),
    ).select(
        "doc_id",
        F.md5("_n").alias("norm_md5"),
        F.length("_t").cast("long").alias("n_before"),
        F.length("_n").cast("long").alias("n_after"),
        (F.col("_t") != F.col("_n")).alias("changed"),
    )


# --- C4 heuristic filters (Raffel et al. 2020, §2.2 — public) -------------

# Word-boundary blocklist (C4 used the public "bad words" list; the engine
# ships a tiny neutral spam-marker set — extend via the `badwords` param).
C4_BADWORDS = ("casino", "viagra", "xxx")


def c4_filters(
    documents: DataFrame, badwords: tuple[str, ...] = C4_BADWORDS
) -> DataFrame:
    """C4-style cleaning (Raffel et al. 2020 §2.2), entirely JVM-side:

    line keep rules (applied to each '\\n'-line, predicate on trimmed text):
      - ends in terminal punctuation ('.', '!', '?', or closing '"')
      - has >= 5 whitespace words
      - does not contain 'javascript' (case-insensitive)
    page drop rules:
      - contains 'lorem ipsum' (case-insensitive)
      - contains '{'
      - contains a blocklist word (word-boundary, case-insensitive)
      - fewer than 3 sentences after line filtering (terminal-punct count)

    (C4's fourth dedup rule — three-sentence-span dedup — lives in the
    dedup family: duplicate_spans / remove_duplicate_spans.)

    Output: (doc_id, n_lines, n_kept_lines, n_sentences, r_lorem, r_brace,
    r_badword, r_min_sentences, c4_pass, kept_md5). kept_md5 digests the
    kept lines joined by '\\n' (original, untrimmed).

    Regex-dialect note: Java's `$` matches before a FINAL line terminator,
    so a '...done.\\r' line (from \\r\\n input split on '\\n') passes the
    terminal-punct rule; RE2 (the DuckDB twin) and Python anchor at
    end-of-text only. The parity corpus never carries '\\r'; run
    unicode_normalize first on real crawls (it canonicalizes newlines) and
    the dialects agree. Pinned by the mirror battery in
    tests/test_c4_mojibake.py.

    Scale plan: pure per-row array higher-order functions — no shuffle, no
    Python; whole-stage codegen end to end, so it composes with any
    downstream agg at 100 TB without adding an exchange."""
    text = F.col("text")
    lines = F.split(text, "\n")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike('[.!?"]$')
        & (F.size(F.split(F.trim(l), TOKEN_WS_RE)) >= 5)
        & ~F.lower(l).contains("javascript"),
    )
    kept_text = F.array_join(kept, "\n")
    n_sent = (
        F.length(kept_text) - F.length(F.translate(kept_text, ".!?", ""))
    ).cast("int")
    r_lorem = ~F.lower(text).contains("lorem ipsum")
    r_brace = ~text.contains("{")
    if badwords:
        bad_re = "(?i)\\b(" + "|".join(badwords) + ")\\b"
        r_badword = ~text.rlike(bad_re)
    else:
        # an empty blocklist means NO blocklist rule — joining it would
        # build '\b()\b', which matches every word boundary and silently
        # drops the whole corpus
        r_badword = F.lit(True)
    r_min_sent = n_sent >= 3
    return documents.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        n_sent.alias("n_sentences"),
        r_lorem.alias("r_lorem"),
        r_brace.alias("r_brace"),
        r_badword.alias("r_badword"),
        r_min_sent.alias("r_min_sentences"),
        (r_lorem & r_brace & r_badword & r_min_sent).alias("c4_pass"),
        F.md5(kept_text).alias("kept_md5"),
    )


# --- Mojibake repair (ftfy-style, public technique) ------------------------

# Fixed marker planted by the driver query (and by the staging kernel) so the
# synthetic ASCII corpus exercises the repair path deterministically.
MOJIBAKE_MARK = "café São Paulo açúcar é ótimo até você"


def mojibake_plant_py(s: str) -> str:
    """UTF-8 bytes misread as cp1252 — the classic double-encoding fault."""
    return s.encode("utf-8").decode("cp1252")


def mojibake_repair_py(s: str) -> str:
    """Pure repair kernel (shared by the UDF and the materialized oracle):
    while the text survives a strict cp1252 re-encode AND its bytes form
    valid UTF-8, undo one mis-decode; cap 3 rounds (handles double/triple
    encoding). Clean accented text is untouched: its cp1252 bytes are not
    valid UTF-8, so the very first decode attempt fails and we break."""
    t = s
    for _ in range(3):
        try:
            u = t.encode("cp1252").decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            break
        if u == t:
            break
        t = u
    return t


def _moji_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _moji(s):
        return s.map(lambda x: None if x is None else mojibake_repair_py(x))

    return _moji


def with_repaired_text(documents: DataFrame) -> DataFrame:
    """documents with `text` replaced by the mojibake-repair kernel's output
    (same single Arrow crossing as mojibake_repair) — the form pipeline jobs
    consume when they want the repaired text itself (mirrors
    with_normalized_text)."""
    moji = _moji_udf()
    return documents.withColumn("text", moji(F.col("text")))


def mojibake_repair(documents: DataFrame) -> DataFrame:
    """(doc_id, repaired_md5, n_before, n_after, changed): double-encoded
    UTF-8 (mojibake) repaired by the shared pure kernel.

    Scale plan: ONE ArrowEvalPython crossing over (doc_id, text); digest +
    length accounting JVM-side; no shuffle. The repaired text itself never
    crosses back to the driver. No closed-form SQL expresses the codec
    round-trip, hence the MATERIALIZED oracle (stage_mojibake_expected,
    same kernel, same planted input)."""
    moji = _moji_udf()
    return documents.select(
        "doc_id",
        F.col("text").alias("_t"),
        moji(F.col("text")).alias("_r"),
    ).select(
        "doc_id",
        F.md5("_r").alias("repaired_md5"),
        F.length("_t").cast("long").alias("n_before"),
        F.length("_r").cast("long").alias("n_after"),
        (F.col("_t") != F.col("_r")).alias("changed"),
    )


def plant_mojibake(documents: DataFrame) -> DataFrame:
    """Driver-query input builder: doc_id%3==0 gets a single-encoded marker
    prefix, doc_id%9==0 a DOUBLE-encoded one, the rest stay clean. The
    prefixes are module-level constants (pure Python, computed once), so the
    Spark side is a codegen CASE over literals — the staging kernel builds
    the identical text from the same constants."""
    once = mojibake_plant_py(MOJIBAKE_MARK)
    twice = mojibake_plant_py(once)
    prefix = (
        F.when(F.col("doc_id") % 9 == 0, F.lit(twice + " "))
        .when(F.col("doc_id") % 3 == 0, F.lit(once + " "))
        .otherwise(F.lit(""))
    )
    return documents.select(
        "doc_id", F.concat(prefix, F.col("text")).alias("text")
    )


_MOJI_STAGED: dict[str, str] = {}


def stage_mojibake_expected(sf_dir: str) -> str:
    """Stage (memoized per process) the expected mojibake_repair output for
    plant_mojibake(documents) at ``sf_dir`` — same constants, same kernel,
    no Spark. md5 is left to the SQL twin so both engines hash the staged
    repaired text themselves."""
    import os

    import pandas as pd

    sf_dir = os.path.normpath(sf_dir)
    if sf_dir in _MOJI_STAGED:
        return _MOJI_STAGED[sf_dir]
    path = staging_path("moji", sf_dir, ".parquet")
    once = mojibake_plant_py(MOJIBAKE_MARK)
    twice = mojibake_plant_py(once)
    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    planted = [
        (twice + " " + t) if i % 9 == 0 else (once + " " + t) if i % 3 == 0 else t
        for i, t in zip(docs["doc_id"], docs["text"])
    ]
    repaired = [mojibake_repair_py(t) for t in planted]
    pd.DataFrame(
        {
            "doc_id": docs["doc_id"].astype("int64"),
            "planted": planted,
            "repaired": repaired,
        }
    ).to_parquet(path, index=False)
    _MOJI_STAGED[sf_dir] = path
    return path


# --- Bloom-filter dedup probe (sparse bit-position form) --------------------

BLOOM_M = 1 << 22  # filter bits — the fixed memory budget of the filter
BLOOM_K = 4        # hash functions
# twin/test config: small enough that sf0.01 (~250 corpus docs) actually
# exercises bit collisions and a measurable false-positive rate
PARITY_BLOOM_M = 2048


def hex_prefix_mod(hex_col, m: int):
    """First 48 bits of an md5-hex column, mod ``m`` — THE engine-portable
    hash-position kernel (DuckDB twin spells it CAST('0x'||substr(h,1,12)
    AS BIGINT) % m). One kernel, several users: Bloom bit positions,
    shuffle-export shard ids."""
    return F.conv(F.substring(hex_col, 1, 12), 16, 10).cast("long") % m


def _bloom_pos(col, i: int, m: int):
    """Bit position of hash function ``i``: first 48 bits of md5('i:text'),
    mod m. NULL text coalesces to '' BEFORE hashing (symmetrically on
    build and probe): md5 of NULL is NULL, whose positions vanish from the
    explode — a NULL-text member would otherwise produce bloom_hit=false
    for its NULL-text twin, a false NEGATIVE the contract forbids."""
    return hex_prefix_mod(
        F.md5(F.concat(F.lit(f"{i}:"), F.coalesce(col, F.lit("")))), m
    )


def bloom_build(corpus: DataFrame, m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """Distinct set bit positions of a Bloom filter over ``corpus.text`` —
    the sparse form of the m-bit array: at most min(k*|corpus|, m) rows of
    one long each, REGARDLESS of corpus size. The groupBy-distinct dedups
    repeated positions map-side, so the shuffle carries at most m longs.

    At 100 TB you would fold these positions into per-range bitmap blobs
    (m/ranges bits each) and broadcast them; the position-set equi-join
    below is the shuffle-honest equivalent with the same bound, and Spark
    can broadcast it outright whenever m is small."""
    stacked = corpus.select(
        F.explode(F.array(*[_bloom_pos(F.col("text"), i, m) for i in range(k)]))
        .alias("pos")
    )
    return stacked.distinct()


def bloom_dedup(
    probe: DataFrame,
    corpus: DataFrame,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """(doc_id, bloom_hit): probe each document against the Bloom filter of
    ``corpus`` — bloom_hit=true iff ALL k bit positions are set. No false
    negatives ever (every true member hits); false positives at the usual
    (1 - e^{-kn/m})^k rate — with fixed hash seeds the outcome is a pure
    deterministic function of the two inputs, so reruns and other engines
    agree bit-for-bit.

    This is the fixed-memory incremental-dedup primitive: the filter's size
    is capped by m however large the committed corpus grows (contrast
    incremental_exact_dedup, whose anti-join side grows with the corpus).
    Docs flagged bloom_hit then go through the exact path; the (usually
    ~99%) clean remainder skips it.

    Shuffle budget: one distinct over <=m longs (build), one equi-join on
    pos (<=k rows per probe doc vs <=m build rows), one groupBy doc_id."""
    bits = bloom_build(corpus, m, k).withColumn("hit", F.lit(1))
    ppos = probe.select(
        "doc_id",
        F.explode(F.array(*[_bloom_pos(F.col("text"), i, m) for i in range(k)]))
        .alias("pos"),
    )
    return (
        ppos.join(bits, "pos", "left")
        .groupBy("doc_id")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) == k).alias("bloom_hit"))
    )


# HyperLogLog distinct-count sketch. Engine default p=12 (4096 registers,
# ~1.6% rel error) — the web-scale shape for "distinct urls per host" /
# "vocabulary per source" where an exact distinct would shuffle the full
# value set. The driver query passes PARITY_HLL_P so the DuckDB twin's
# register table stays tiny; estimator quality at the engine config is
# gated separately in tests/test_relops.py.
HLL_P = 12
PARITY_HLL_P = 6


def _hll_registers(df: DataFrame, group_cols: list, value, m: int) -> DataFrame:
    """(group_cols..., bucket, reg): max-rho register table. Deterministic
    md5 hashing (identical hex in both engines): bucket = first 16 hash
    bits mod m (unbiased for power-of-two m <= 65536), rho = 1 + leading
    zeros of the next 60 bits. length(bin(x)) is integer-exact MSB position
    on BOTH engines — no float log2 near power-of-two boundaries."""
    hex_ = F.md5(value.cast("string"))
    bucket = F.conv(F.substring(hex_, 1, 4), 16, 10).cast("long") % m
    rem = F.conv(F.substring(hex_, 5, 15), 16, 10).cast("long")
    rho = F.when(F.col("_rem") == 0, F.lit(61)).otherwise(
        F.lit(61) - F.length(F.bin(F.col("_rem")))
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"), rem.alias("_rem"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max(rho).alias("reg"))
    )


def hll_distinct(
    df: DataFrame, group_cols: list, value_col: str, p: int = HLL_P
) -> DataFrame:
    """(group_cols..., approx_distinct): HyperLogLog estimate of
    count(distinct value_col) per group, as one groupBy over m=2^p
    registers — memory per group is m bytes however many distinct values
    flow through, which is the whole point at 10^12 rows (exact distinct
    shuffles the value set; this shuffles at most m rows per group).

    Cross-engine determinism: the register sum is EXACT integer arithmetic
    (sum of 1<<(61-reg) in decimal/hugeint — no float-order drift), cast to
    double once; Flajolet's alpha_m raw estimate with the linear-counting
    small-range correction (est <= 2.5m and empty registers exist). Output
    rounded to 4 dp. No large-range correction: 60-bit hashes make
    collisions irrelevant below ~10^17 distinct values.

    Not spark.sql.functions.approx_count_distinct because that sketch's
    registers are engine-private — this one is reproducible bit-for-bit by
    the DuckDB twin, the same contract bloom_dedup keeps."""
    m = 1 << p
    regs = _hll_registers(df, list(group_cols), F.col(value_col), m)
    return hll_estimate(regs, list(group_cols), p)


def hll_estimate(regs: DataFrame, group_cols: list, p: int = HLL_P) -> DataFrame:
    """(group_cols..., approx_distinct) from a (group_cols..., bucket, reg)
    register table — the finalize step, split out so a PERSISTED register
    store (statstore) estimates without re-hashing any value. Registers
    over disjoint data merge by max(reg) per (group, bucket); merged
    registers estimate EXACTLY what a one-shot pass over the union would."""
    m = 1 << p
    # SQL shiftleft takes a column shift amount (the python wrapper's
    # numBits is int-only); 61-reg is in [0, 60] so the bigint never
    # overflows, and the decimal cast happens per-term BEFORE the sum so
    # 2^p registers x up to 2^61 can't overflow the aggregate either.
    term = F.expr("shiftleft(1L, 61 - reg)").cast("decimal(38,0)")
    alpha = 0.7213 / (1.0 + 1.079 / m)
    per_group = regs.groupBy(*group_cols).agg(
        F.sum(term).alias("s_present"),
        F.count("*").alias("n_regs"),
    )
    v = F.lit(m) - F.col("n_regs")  # empty registers (reg = 0)
    s = F.col("s_present") + v.cast("decimal(38,0)") * F.lit(1 << 61).cast(
        "decimal(38,0)"
    )
    raw = (
        F.lit(alpha * m * m) * F.lit(float(1 << 61)) / s.cast("double")
    )
    est = F.when(
        (raw <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return per_group.select(
        *group_cols, F.round(est, 4).alias("approx_distinct")
    )


# Mergeable quantile sketch: log2 octaves split into 2^QSKETCH_SUB_BITS
# sub-bins (relative bin width 1/8 at the default 3) — the partial-
# aggregatable scale path source_length_percentiles' exact percentile
# cannot take at 10^12 rows (exact percentile materializes each group's
# value multiset; this keeps <= ~64 * 8 bin counts per group, and two
# sketches merge by adding histograms — see merge tests).
QSKETCH_SUB_BITS = 3


def qsketch_hist(
    df: DataFrame, group_cols: list, value_col: str, sub_bits: int = QSKETCH_SUB_BITS
) -> DataFrame:
    """(group_cols..., bin_id, n): the sketch state — a log-histogram with
    integer-exact binning. Octave = MSB position via length(bin(x)) (never
    float log2, which disagrees across engines at power-of-two
    boundaries); sub-bin = the next ``sub_bits`` bits. x <= 0 lands in bin
    0. Two sketches over disjoint data merge by unioning and summing n per
    (group, bin_id) — the property that lets per-shard sketches combine
    without touching raw values again."""
    sub = 1 << sub_bits
    base = df.select(*group_cols, F.col(value_col).cast("long").alias("_x"))
    m = F.length(F.bin(F.col("_x")))
    lo = F.expr("shiftleft(1L, length(bin(_x)) - 1)")
    # sub_idx < 2^sub_bits, so the double division can't round across an
    # integer boundary (result ulp << 1/lo); stays equal to integer //
    sub_idx = F.floor(((F.col("_x") - lo) * sub) / lo)
    bin_id = (
        F.when(F.col("_x") <= 0, F.lit(0))
        .otherwise(m * sub + sub_idx)
        .cast("long")
    )
    return (
        base.select(*group_cols, bin_id.alias("bin_id"))
        .groupBy(*group_cols, "bin_id")
        .agg(F.count("*").alias("n"))
    )


def qsketch_quantiles(
    hist: DataFrame,
    group_cols: list,
    qs: tuple = (0.5, 0.9, 0.99),
    sub_bits: int = QSKETCH_SUB_BITS,
) -> DataFrame:
    """(group_cols..., q, q_est): quantile estimates from a qsketch_hist
    state. q_est is the LOWER EDGE of the bin whose cumulative count first
    reaches ceil(q * total) — an integer, exact on both engines (the edge
    is reconstructed from bin_id with shifts, no floats), and an
    underestimate by at most one sub-bin width (12.5% relative at the
    default 3 sub-bits)."""
    sub = 1 << sub_bits
    w = (
        W.partitionBy(*group_cols)
        .orderBy("bin_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wg = W.partitionBy(*group_cols)
    cum = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(wg)
    )
    tall = cum.select(
        *group_cols,
        "bin_id",
        "cum",
        "total",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    )
    pick = (
        tall.filter(F.col("cum") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy(*group_cols, "q")
        .agg(F.min("bin_id").alias("bin_id"))
    )
    lo2 = F.expr(f"shiftleft(1L, cast(bin_id div {sub} as int) - 1)")
    ss = F.col("bin_id") % sub
    edge = F.when(F.col("bin_id") == 0, F.lit(0)).otherwise(
        lo2 + F.floor((ss * lo2) / sub)
    )
    return pick.select(*group_cols, "q", edge.cast("long").alias("q_est"))


def quantile_sketch(
    df: DataFrame,
    group_cols: list,
    value_col: str,
    qs: tuple = (0.5, 0.9, 0.99),
    sub_bits: int = QSKETCH_SUB_BITS,
) -> DataFrame:
    """One-call form: histogram + quantile extraction. One shuffle on
    (group, bin_id), one on group (the tiny histogram) — never a per-group
    sort of the raw values, which is what exact percentile costs and what
    makes it a non-starter at 10^12 rows."""
    return qsketch_quantiles(
        qsketch_hist(df, group_cols, value_col, sub_bits), group_cols, qs, sub_bits
    )


# Count-min sketch: frequency estimation / heavy hitters with bounded
# memory. Engine default 4x16384 counters per group (~0.6 MB of longs)
# however many occurrences flow through — the web-scale shape for "top
# terms per source" where exact counting shuffles the full vocabulary.
# The driver query passes the PARITY config so the DuckDB twin's sketch
# stays tiny; estimate quality at the engine config is gated in
# tests/test_cms.py. Sketches over disjoint data merge by SUM
# per (group, row, col) — mergeable like hll/qsketch/bloom, so a
# persisted store could fold them incrementally (statstore pattern).
CMS_DEPTH = 4
CMS_WIDTH = 1 << 14
PARITY_CMS_DEPTH = 3
PARITY_CMS_WIDTH = 64
CMS_SAMPLE_MOD = 8


def _cms_col(value, row, width: int):
    """Column index of ``value`` under hash-row ``row``: md5("{row}:{v}")
    first 15 hex -> bigint (60 bits, never overflows) mod width. Identical
    hex on both engines; row is rendered through string concat so the
    DuckDB twin's concat(row, ':', v) matches byte-for-byte."""
    hex_ = F.md5(F.concat_ws(":", row.cast("string"), value.cast("string")))
    return F.conv(F.substring(hex_, 1, 15), 16, 10).cast("long") % width


def cms_sketch(
    df: DataFrame,
    group_cols: list,
    value_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(group_cols..., row, col, cnt): count-min sketch of value
    OCCURRENCES per group (Cormode & Muthukrishnan 2005). One groupBy over
    the depth-replicated value stream; output is <= depth*width rows per
    group whatever the stream size. Partial (map-side) aggregation does
    the heavy lifting: the shuffle carries at most depth*width rows per
    (group, map task), not the token stream."""
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("row")
    tall = df.select(
        *group_cols, F.col(value_col).alias("v")
    ).select(*group_cols, "v", rows)
    return (
        tall.withColumn("col", _cms_col(F.col("v"), F.col("row"), width))
        .groupBy(*group_cols, "row", "col")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    group_cols: list,
    value_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(group_cols..., <value_col>, est_count): count-min estimate (min
    over the depth cells) for each candidate value. Never underestimates;
    overestimates by colliding mass at the usual eps = e/width rate — with
    fixed md5 seeds the outcome is a pure deterministic function of the
    inputs, so reruns and other engines agree bit-for-bit. A candidate
    absent from the stream estimates its colliders' mass (>= 0), which is
    why candidates should come from the data (cms_topk's sample does).

    Shuffle budget: one distinct over the candidates, one equi-join on
    (group, row, col) against the <= depth*width-per-group sketch."""
    cand = candidates.select(
        *group_cols, F.col(value_col).alias("v")
    ).distinct()
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(depth)])
    ).alias("row")
    probes = cand.select(*group_cols, "v", rows).withColumn(
        "col", _cms_col(F.col("v"), F.col("row"), width)
    )
    return (
        probes.join(sketch, [*group_cols, "row", "col"], "left")
        .groupBy(*group_cols, "v")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
        .withColumnRenamed("v", value_col)
    )


def _cms_doc_sampled(doc_id_col, sample_mod: int):
    """Deterministic 1/sample_mod doc-sample predicate (content hash on
    doc_id, rerun-stable like stratified_sample). ONE implementation: the
    one-shot cms_topk and the persisted term store must sample identically
    or incremental != one-shot."""
    return (
        F.conv(F.substring(F.md5(doc_id_col.cast("string")), 1, 15), 16, 10)
        .cast("long")
        % sample_mod
        == 0
    )


def _cms_rank_topk(est: DataFrame, k: int, group_col: str) -> DataFrame:
    """(group_col, term, est_count, rank) from a (grp, v, est_count)
    estimate frame; ties rank by term for engine-stable output."""
    w = W.partitionBy("grp").orderBy(F.desc("est_count"), F.asc("v"))
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("grp").alias(group_col),
            F.col("v").alias("term"),
            "est_count",
            "rank",
        )
    )


def cms_topk(
    documents: DataFrame,
    k: int = 10,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    sample_mod: int = CMS_SAMPLE_MOD,
    group_col: str = "source",
) -> DataFrame:
    """(source, term, est_count, rank): heavy-hitter terms per group with
    bounded memory. The sketch counts EVERY occurrence exactly once (so
    estimates cover the full corpus); the candidate set comes from a
    deterministic 1/sample_mod doc sample (content-hash on doc_id,
    rerun-stable like stratified_sample) — a term heavy in the corpus
    appears in the sample w.h.p., while the full distinct-vocabulary pass
    exact top-k needs (top_terms) is exactly what the sketch exists to
    avoid. Ties rank by term for engine-stable output."""
    toks = documents.select(
        F.col(group_col).alias("grp"),
        F.col("doc_id"),
        F.explode(_tokens(F.col("text"))).alias("v"),
    )
    sketch = cms_sketch(toks, ["grp"], "v", depth, width)
    sampled = toks.filter(_cms_doc_sampled(F.col("doc_id"), sample_mod))
    est = cms_estimate(sketch, sampled, ["grp"], "v", depth, width)
    return _cms_rank_topk(est, k, group_col)


SHUFFLE_SEED = 7  # default export seed; the manifest is a pure function of it
SHUFFLE_SHARDS = 8


def shuffle_export(
    documents: DataFrame,
    n_shards: int = SHUFFLE_SHARDS,
    seed: int = SHUFFLE_SEED,
) -> DataFrame:
    """Deterministic global-shuffle export manifest — the training last
    mile: (shard, pos, doc_id, text) with documents in seed-keyed
    pseudo-random order, sharded for parallel readers. Training wants
    decorrelated order (a crawl's natural order clusters by host/time —
    adjacent batches would be near-duplicates of one domain); writers and
    re-runs want DETERMINISM, so the order key is md5(seed:doc_id) — a
    pure function of the row, reproducible in any engine, stable under
    appends of new docs (existing pairs never reorder within a shard).

    Scale shape: the shard id is a hex-prefix hash mod n_shards (uniform
    by construction), so the ONE shuffle — repartition by shard +
    in-shard sort by the order key — is balanced; pos is a per-shard
    row_number window over that same partitioning (no second exchange:
    the window's partition key equals the shuffle key). Downstream, each
    shard renders/writes independently (e.g. through the jsonl encoder) —
    n_shards = writer parallelism."""
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")))
    shard = hex_prefix_mod(key, n_shards).cast("int")
    w = W.partitionBy("shard").orderBy("order_key", "doc_id")
    cols = documents.columns
    return (
        documents.withColumn("order_key", key)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("shard", "pos", *cols)
    )


# --- writing-script detection ------------------------------------------------
#
# Multilingual curation gate: the dominant Unicode SCRIPT of a document
# (latin/cyrillic/han/...), computed by per-script character counting in
# pure codegen — length minus length-after-class-strip, one projection, no
# UDF, no shuffle. The rule table is the single source of truth: the
# Spark expressions AND the DuckDB twin's SQL are both generated from it
# (the charset.MIME_RULES discipline), and each rule carries a sample
# string so driver queries can plant every branch deterministically.
# Classes use \x{hhhh} escapes — the one form Java regex and RE2 share.
# Alphabetical rule order doubles as the deterministic tie-break.

SCRIPT_RULES = (
    ("arabic", r"\x{0600}-\x{06FF}", "مرحبا بالعالم"),
    ("cyrillic", r"\x{0400}-\x{04FF}", "привет мир"),
    ("devanagari", r"\x{0900}-\x{097F}", "नमस्ते दुनिया"),
    ("greek", r"\x{0370}-\x{03FF}", "γειά σου κόσμε"),
    ("han", r"\x{4E00}-\x{9FFF}", "你好世界"),
    ("hangul", r"\x{AC00}-\x{D7AF}", "안녕하세요 세계"),
    ("hebrew", r"\x{0590}-\x{05FF}", "שלום עולם"),
    ("kana", r"\x{3040}-\x{30FF}", "こんにちは せかい"),
    ("latin", r"A-Za-z\x{00C0}-\x{024F}", "hello world"),
)


def script_detect(documents: DataFrame) -> DataFrame:
    """(doc_id, script, n_script_chars, n_letter_chars, script_frac):
    dominant writing script by per-script character counts; 'unknown'
    when no rule matches a single character. Ties break to the
    alphabetically-first script (fixed rule order on both engines)."""
    text = F.coalesce(F.col("text"), F.lit(""))
    counts = {
        name: (
            F.length(text)
            - F.length(F.regexp_replace(text, f"[{cls}]", ""))
        ).alias(f"_c_{name}")
        for name, cls, _s in SCRIPT_RULES
    }
    letters = None
    for c in counts.values():
        letters = c if letters is None else letters + c
    m = F.greatest(*counts.values())
    script = F.lit("unknown")
    # build the CASE back-to-front so the FIRST rule wins ties
    for name, _cls, _s in reversed(SCRIPT_RULES):
        script = F.when((m > 0) & (counts[name] == m), name).otherwise(
            script
        )
    return documents.select(
        "doc_id",
        script.alias("script"),
        F.when(m > 0, m).otherwise(F.lit(0)).cast("long").alias(
            "n_script_chars"
        ),
        letters.cast("long").alias("n_letter_chars"),
        F.round(
            F.when(m > 0, m).otherwise(F.lit(0))
            / F.greatest(letters, F.lit(1)),
            6,
        ).alias("script_frac"),
    )


def script_sql_exprs(text_expr: str) -> dict[str, str]:
    """DuckDB twin fragments GENERATED from SCRIPT_RULES (never fork the
    SQL): {name: count_expr}, plus '__case__' -> the dominant-script CASE
    in the same first-rule-wins tie order."""
    counts = {
        name: (
            f"(length({text_expr}) - length(regexp_replace({text_expr}, "
            f"'[{cls}]', '', 'g')))"
        )
        for name, cls, _s in SCRIPT_RULES
    }
    m = "greatest(" + ", ".join(counts.values()) + ")"
    whens = "\n        ".join(
        f"WHEN {m} > 0 AND {counts[name]} = {m} THEN '{name}'"
        for name, _cls, _s in SCRIPT_RULES
    )
    return {**counts, "__max__": m, "__case__": f"CASE {whens} ELSE 'unknown' END"}
