"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: full reference-faithful pipeline (tokenize →
                     inverted index build → BM25 ranked top-k) over
                     /root/testdata/sf0.001 documents.
``queries()``      — operator inventory, one callable per implemented op
                     (SURVEY.md §2 + training-data extensions). These use
                     simple SQL-expressible tokenization (lower + split on
                     ' ') so every result has an exact DuckDB oracle; the
                     reference-faithful pipeline (stemming, hyphen
                     expansion, positions) is separately golden-tested in
                     tests/ against the actual Java engine's output.
``oracle_sql()``   — the matching ANSI SQL per query.

Column-name discipline: every computed column is aliased identically on
both sides (driver hash-compares after sorting columns by name). Float
scores are rounded to 6 digits on both sides to absorb float64
sum-order differences.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# shared fragments
# --------------------------------------------------------------------------

BM25_K1, BM25_B = 1.2, 0.75
_Q_TERMS = ["spark", "merge", "window"]  # fixed benchmark query
_STOPWORDS = ["the", "a"]

# one row per (doc_id, term): simple tokenization, SQL-mirrorable
_TOKENS_SQL = (
    "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term "
    "FROM documents"
)


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    ).filter(F.col("term") != "")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------------
# entry: flagship end-to-end on the real engine
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Build the reference-faithful inverted index over sf0.001 documents
    (as a pages-shaped corpus) in a temp dir, then answer a ranked BM25
    top-20 — the full tokenize → index → rank pipeline of SURVEY §3."""
    import tempfile

    from searchengine_spark.index.build import IndexBuilder
    from searchengine_spark.query.exec import IndexHandle, ranked_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.format_string("%08d", "doc_id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    out = tempfile.mkdtemp(prefix="flagship_index_")
    IndexBuilder(spark, out, bucket_docs=256).build(pages)
    idx = IndexHandle(spark, out)
    return ranked_topk(idx, "fast key order table", k=20, scorer="bm25")


# --------------------------------------------------------------------------
# queries (Spark side)
# --------------------------------------------------------------------------

def _q_term_stats(spark, sf):
    n = _docs(spark, sf).count()
    return (
        _tokens(spark, sf)
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
            F.round(F.log(F.lit(1.0) + F.lit(float(n)) / F.countDistinct("doc_id")), 6).alias("wqt"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


def _q_doc_lengths(spark, sf):
    tf = (
        _tokens(spark, sf)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # ld sums floats in DETERMINISTIC (sorted, left-fold) order so the
    # post-round(…,6) double is bit-identical to the DuckDB oracle — a
    # plain F.sum's partition-dependent order can land raw doubles on the
    # other side of a 0.5e-6 rounding boundary (round-1 driver hash-fail).
    sq = F.pow(F.lit(1.0) + F.log("tf"), F.lit(2.0))
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("dl"),
            F.count(F.lit(1)).alias("n_terms"),
            F.array_sort(F.collect_list(sq)).alias("sq"),
        )
        .select(
            "doc_id",
            "dl",
            "n_terms",
            F.round(
                F.sqrt(F.aggregate("sq", F.lit(0.0), lambda a, x: a + x)), 6
            ).alias("ld"),
        )
        .orderBy("doc_id")
    )


def _scored_tf(spark, sf):
    toks = _tokens(spark, sf).filter(F.col("term").isin(_Q_TERMS))
    return toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def _q_tfidf_topk(spark, sf):
    n = float(_docs(spark, sf).count())
    tf = _scored_tf(spark, sf)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ld = (
        _tokens(spark, sf)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("doc_id")
        .agg(F.sqrt(F.sum(F.pow(F.lit(1.0) + F.log("tf"), F.lit(2.0)))).alias("ld"))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .withColumn(
            "partial",
            (F.lit(1.0) + F.log("tf")) * F.log(F.lit(1.0) + F.lit(n) / F.col("df")),
        )
        .groupBy("doc_id")
        .agg(F.sum("partial").alias("acc"))
        .join(ld, "doc_id")
        .select("doc_id", F.round(F.col("acc") / F.col("ld"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)


def _q_bm25_topk(spark, sf):
    n = float(_docs(spark, sf).count())
    tf = _scored_tf(spark, sf)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = _tokens(spark, sf).groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    avgdl = dl.agg(F.avg("dl")).collect()[0][0]
    idf = F.log((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .withColumn(
            "partial",
            idf
            * (F.col("tf") * (BM25_K1 + 1.0))
            / (
                F.col("tf")
                + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(float(avgdl)))
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)


def _docs_with(spark, sf, term):
    return (
        _tokens(spark, sf).filter(F.col("term") == term).select("doc_id").distinct()
    )


def _q_boolean_and(spark, sf):
    a = _docs_with(spark, sf, "spark")
    b = _docs_with(spark, sf, "merge")
    return a.join(b, "doc_id", "inner").orderBy("doc_id")


def _q_boolean_or(spark, sf):
    a = _docs_with(spark, sf, "spark")
    b = _docs_with(spark, sf, "vector")
    return a.union(b).distinct().orderBy("doc_id")


def _q_boolean_andnot(spark, sf):
    a = _docs_with(spark, sf, "spark")
    b = _docs_with(spark, sf, "slow")
    return a.join(b, "doc_id", "left_anti").orderBy("doc_id")


def _q_phrase(spark, sf):
    """Adjacent-position phrase 'batch batch' via token positions.

    Compiled to ONE JVM regex instead of the higher-order-function
    adjacency scan (Spark 4 interprets HOF lambdas per element — the
    transform+exists shape cost ~2 s at sf0.1, the regex ~0.3 s):
    tokens are maximal runs of non-space chars under the oracle's
    `split(' ') drop empties` semantics, so "adjacent tokens both =
    'batch'" ⟺ the lowercased text matches `batch +batch` with no
    non-space char immediately before or after (lookarounds). Multiple
    separating spaces collapse to the same adjacency on both sides.
    The REAL positional phrase operator (J4) is `query/boolean.py`;
    this is the SQL-mirrorable analytics query."""
    docs = _docs(spark, sf)
    hit = F.lower("text").rlike("(?<![^ ])batch +batch(?![^ ])")
    return docs.select("doc_id").where(hit).orderBy("doc_id")


def _q_dedup_exact(spark, sf):
    return (
        _docs(spark, sf)
        .groupBy(F.md5(F.lower("text")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep_doc"))
        .orderBy("text_hash")
    )


def _shingles_of(docs):
    """Distinct 3-token shingles per doc of an arbitrary (doc_id, text)
    frame (SQL-mirrorable) — shared by the whole-corpus queries and the
    filtered-survivor stage of `pipeline_clean_corpus`.

    Columnar ``mapInArrow`` kernel (text/udfs.shingled_docs_arrow):
    literal-space split + dictionary-encoded lowercase + numpy trigram
    index arithmetic + C++ hash group-by for the per-doc dedup — zero
    per-token Python on the analytics suite's hottest shared stage
    (ADVICE r4 #4; the previous mapInPandas set-builder was
    interpreter-bound, ~1.9× slower at sf0.1 and growing with sf; the
    round-2 transform/element_at HOF before it was worse still — Spark 4
    interprets HOF lambdas per element). Per-doc dedup inside the kernel
    ≡ global distinct because doc_id is part of the key, so no consumer
    plan carries an Exchange for it. Emits FULL 3-grams only — exactly
    the oracle's `WHERE t1/t2/t3 IS NOT NULL` semantics; a <3-token doc
    contributes nothing. Equivalence to the per-row pandas reference
    generator (kept in tests) is fuzz-pinned incl. Unicode lowercase
    traps in tests/test_entry_extras.py."""
    from searchengine_spark.text.udfs import shingled_docs_arrow

    return shingled_docs_arrow(docs)


def _shingles(spark, sf):
    """Distinct 3-token shingles per doc of the full corpus."""
    return _shingles_of(_docs(spark, sf))


_JACCARD_MAX_DF = 20  # shingles in more docs than this are non-discriminative

# (applicationId, sf, stage) → localCheckpoint'ed DataFrame. Unbounded by
# design: the bench/driver cycle a handful of sessions per process, and a
# dead session's entry is just a plan reference — but one dict (vs one
# per stage) keeps that decision, and any future eviction, in one place.
_SESSION_CKPT_CACHE: dict = {}


def _session_ckpt(spark, sf, stage, builder):
    """Memoize `builder().localCheckpoint()` per (session, sf, stage) —
    the IVF-cache pattern shared by every dedup-family intermediate."""
    key = (spark.sparkContext.applicationId, sf, stage)
    if key not in _SESSION_CKPT_CACHE:
        _SESSION_CKPT_CACHE[key] = builder().localCheckpoint()
    return _SESSION_CKPT_CACHE[key]


def _cap_shingles(sh, max_df):
    """Drop shingles whose document frequency exceeds max_df (the
    ONE definition of 'df-capped' — shared by the session checkpoint
    and the standalone `_jaccard_pairs_from` path so the two can
    never desync)."""
    df_ok = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .where(F.col("sdf") <= max_df)
        .select("shingle")
    )
    return sh.join(df_ok, "shingle")


def _shingles_ckpt(spark, sf):
    """ONE materialized (localCheckpoint) full-corpus shingle set per
    (session, sf), shared by every consumer — jaccard/dedup-groups, the
    MinHash→LSH family, and the bench recall diagnostics — exactly like
    the IVF fit/assignment caches (`_ivf_assign2_cached`): shared query
    infrastructure is materialized once, not per invocation. At scale
    this is the persisted intermediate table a production dedup pipeline
    writes once and reads many times; localCheckpoint is its local[32]
    stand-in. (`pipeline_clean_corpus` keeps its own shingle pass — its
    input is the filtered SURVIVOR set, not the full corpus.)"""
    return _session_ckpt(spark, sf, "shingles", lambda: _shingles(spark, sf))


def _capped_shingles_ckpt(spark, sf):
    """The df-capped (shingle df ≤ _JACCARD_MAX_DF) full-corpus shingle
    set, one checkpoint per (session, sf) — the second shared
    intermediate of the dedup family: jaccard_pairs/dedup_groups and the
    LSH verify stage all join against exactly this frame, so the df
    group-by + semi-join run once per session instead of once per
    invocation."""
    return _session_ckpt(
        spark,
        sf,
        "capped_shingles",
        lambda: _cap_shingles(_shingles_ckpt(spark, sf), _JACCARD_MAX_DF),
    )


def _capped_sizes_ckpt(spark, sf):
    """Per-doc df-capped shingle counts (doc_id, n_sh) — tiny, but read
    by three queries (jaccard, containment, dedup_groups via jaccard),
    so it rides the same session-checkpoint pattern."""
    return _session_ckpt(
        spark,
        sf,
        "capped_sizes",
        lambda: _capped_shingles_ckpt(spark, sf)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh")),
    )


def _pair_inter_ckpt(spark, sf):
    """Undirected shared-shingle intersection counts (doc_a < doc_b,
    inter = |A∩B|) over the df-capped shingle set — the fourth shared
    intermediate of the dedup family and its single most expensive
    stage. Set-intersection size is symmetric, so the Jaccard entry,
    the directed containment entry, and the CC-group entry all read
    this ONE materialized self-join instead of re-running it per
    query."""

    def build():
        sh = _capped_shingles_ckpt(spark, sf)
        return (
            sh.alias("a")
            .join(sh.alias("b"), "shingle")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )

    return _session_ckpt(spark, sf, "pair_inter", build)


def _jaccard_from_inter(pairs, sizes):
    """The ONE definition of capped-Jaccard scoring from materialized
    (doc_a, doc_b, inter) + (doc_id, n_sh) frames — shared by the
    session-cached driver entry and the standalone
    `_jaccard_pairs_from` path so the two can never desync."""
    return (
        pairs.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n_sh", "na"
            ),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_sh", "nb"
            ),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _q_jaccard_pairs(spark, sf):
    """df-capped n-gram Jaccard near-dup pairs (threshold 0.5) via
    shared-shingle self-join. Shingles appearing in > _JACCARD_MAX_DF
    docs are dropped BEFORE the join (from both the intersection and the
    set sizes, so the capped Jaccard stays a well-defined similarity):
    one stopword shingle shared by d docs would otherwise emit d² join
    rows — the round-1 scale-killer (11 s at sf0.1, 20× the query
    median). Hot shingles carry no near-dup signal; exact duplicates
    still score 1.0 because both sides lose the same shingles.

    Reads the session-cached intersection + size checkpoints
    (`_pair_inter_ckpt`, `_capped_sizes_ckpt`), which themselves stack
    on the shingle checkpoints — the expensive self-join runs once per
    session no matter how many of jaccard/containment/dedup_groups
    execute. Semantics identical to
    `_jaccard_pairs_from(raw, max_df=_JACCARD_MAX_DF)` (same tail via
    `_jaccard_from_inter`)."""
    return _jaccard_from_inter(
        _pair_inter_ckpt(spark, sf), _capped_sizes_ckpt(spark, sf)
    )


def _jaccard_pairs_from(sh, max_df=_JACCARD_MAX_DF):
    """df-capped Jaccard ≥0.5 pairs from a MATERIALIZED shingle frame
    (callers localCheckpoint — the frame feeds four plan branches).
    max_df=None disables the cap — the O(d²)-exposed exact ground truth
    the bench's lsh_pair_recall diagnostic compares against."""
    if max_df is not None:
        sh = _cap_shingles(sh, max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_inter(pairs, sizes)


def _q_dedup_groups(spark, sf):
    """Near-dup GROUPS — the stage after pair emission that a real dedup
    needs: transitive closure of the df-capped Jaccard ≥0.5 pairs via
    distributed large-star/small-star connected components
    (`searchengine_spark/ml/dedup.py`), one canonical doc (component
    minimum) per group. Every document appears; singletons are their own
    canonical. The pair set is localCheckpointed first so the CC rounds
    iterate over the (tiny) edge rows, not over the shingle self-join
    plan. Oracle: DuckDB recursive-CTE transitive closure."""
    from pyspark.sql.window import Window

    from searchengine_spark.ml.dedup import connected_components

    pairs = (
        _q_jaccard_pairs(spark, sf).select("doc_a", "doc_b").localCheckpoint()
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return (
        _docs(spark, sf)
        .select("doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component", "doc_id").alias("canonical_id")
        )
        .withColumn(
            "group_size",
            F.count(F.lit(1)).over(Window.partitionBy("canonical_id")),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))
        .orderBy("doc_id")
    )


_PIPE_MIN_TOKENS = 20
_PIPE_MIN_DISTINCT_RATIO = 0.25


def _q_pipeline_clean_corpus(spark, sf):
    """Flagship end-to-end training-data cleaning pipeline — the actual
    100-TB composition, staged the way a production crawl cleaner is:
    cheap row-local gates FIRST (lang, quality) so the expensive dedup
    stages only ever see survivors, then exact dedup (hash groupBy),
    then near-dup grouping (df-capped Jaccard pairs → distributed
    connected components, `ml/dedup.py`) with one canonical kept per
    group. Emits a per-doc LINEAGE row — (doc_id, status,
    canonical_id) with status ∈ {empty, lang, quality, exact_dup,
    near_dup, kept} by first-failing-stage precedence — rather than
    just the kept set, because at scale the drop audit IS the product
    (filter-rate monitoring, reproducibility). Every stage is a
    composition of the already-oracle-checked building blocks; the
    oracle mirrors it as one CTE chain with a recursive transitive
    closure."""
    from searchengine_spark.ml.dedup import connected_components

    docs = _docs(spark, sf)
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    met = docs.select(
        "doc_id",
        "text",
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.size(toks).alias("n_tok"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("dr"),
    )
    drop0 = (
        F.when(F.col("text").isNull(), F.lit("empty"))
        .when(F.col("lang") != "en", F.lit("lang"))
        .when(
            (F.col("n_tok") < _PIPE_MIN_TOKENS)
            | (F.col("dr") < _PIPE_MIN_DISTINCT_RATIO),
            F.lit("quality"),
        )
    )
    staged = met.select("doc_id", "text", drop0.alias("drop0")).localCheckpoint()
    surv0 = staged.where(F.col("drop0").isNull()).select(
        "doc_id", "text", F.md5(F.lower("text")).alias("h")
    )
    exact = surv0.groupBy("h").agg(F.min("doc_id").alias("ecanon"))
    surv0 = surv0.join(exact, "h").select("doc_id", "text", "ecanon")
    surv1 = surv0.where(F.col("doc_id") == F.col("ecanon")).select(
        "doc_id", "text"
    )
    sh = _shingles_of(surv1).localCheckpoint()
    pairs = _jaccard_pairs_from(sh).select("doc_a", "doc_b").localCheckpoint()
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    lab = (
        surv0.select("doc_id", "ecanon")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "ecanon",
            F.coalesce("component", "doc_id").alias("ncanon"),
        )
    )
    status = (
        F.when(F.col("drop0").isNotNull(), F.col("drop0"))
        .when(F.col("doc_id") != F.col("ecanon"), F.lit("exact_dup"))
        .when(F.col("doc_id") != F.col("ncanon"), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    canonical = (
        F.when(F.col("drop0").isNotNull(), F.lit(None).cast("long"))
        .when(F.col("doc_id") != F.col("ecanon"), F.col("ecanon"))
        .otherwise(F.col("ncanon"))
    )
    return (
        staged.select("doc_id", "drop0")
        .join(lab, "doc_id", "left")
        .select(
            "doc_id",
            status.alias("status"),
            canonical.alias("canonical_id"),
        )
        .orderBy("doc_id")
    )


_MINHASH_K = 8


def _minhash_signatures_from(sh):
    """MinHash signature aggregation over a (doc_id, shingle) set:
    K hashes from K/2 md5 digests — one 128-bit digest yields TWO
    independent 60-bit slices (hex chars 1-15 and 16-30), so
    h_{2j}(s)/h_{2j+1}(s) are the two slices of md5(j||' '||s); the
    signature is the per-doc min per hash (band = 2 rows downstream).
    Halving the digest count halves the dominant hashing cost of the
    MinHash/LSH stage; MinHash needs approximately-min-wise hash
    families, which independent digest slices give exactly as well as
    independent digests."""
    cols = []
    for i in range(_MINHASH_K):
        off = 1 + 15 * (i % 2)
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i // 2} "), F.col("shingle"))), off, 15
            ),
            16,
            10,
        ).cast("bigint")
        cols.append(F.min(h).alias(f"mh{i}"))
    return sh.groupBy("doc_id").agg(*cols)


def _sigs_ckpt(spark, sf):
    """Materialized MinHash signatures, one localCheckpoint per
    (session, sf) — the third shared intermediate of the LSH family:
    the signature entry, the band-pair entry, and the end-to-end verify
    pipeline all consume exactly this frame, and the K/2 md5 digests per
    shingle row are the dominant hashing cost of the whole stage."""
    return _session_ckpt(
        spark,
        sf,
        "minhash_sigs",
        lambda: _minhash_signatures_from(_shingles_ckpt(spark, sf)),
    )


def _q_minhash_signatures(spark, sf):
    """Portable MinHash signatures per doc (oracle-checked entry)."""
    return _sigs_ckpt(spark, sf).orderBy("doc_id")


def _q_lsh_jaccard_verified(spark, sf):
    """The END-TO-END sub-quadratic near-dup pipeline: MinHash-LSH band
    candidates (sub-quadratic) → EXACT df-capped Jaccard verification of
    candidates only → pairs ≥ 0.5. At 100 TB this is the dedup shape
    that works: the all-pairs verify cost collapses from O(d²) over the
    corpus to O(|candidates|), and candidates are bounded by the banding
    collision rate.

    ONE shingle materialization (the session-cached checkpoint) feeds
    every branch — signatures → bands → candidates, the df cap, set
    sizes, and both verification join sides (round-2 recomputed the
    tokenize+explode ~3× and the MinHash pipeline twice; the oracle
    already shared these via CTEs)."""
    cand = _band_pairs_from(_sigs_ckpt(spark, sf))
    sh = _capped_shingles_ckpt(spark, sf)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(
            b,
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _q_cosine_topk(spark, sf):
    """Brute-force cosine top-k neighbours of vec_id 0 (ANN baseline)."""
    e = _emb(spark, sf).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.round(dot / (nrm(F.col("v")) * nrm(F.col("qv"))), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


_SIMHASH_BITS = 16


def _q_simhash(spark, sf):
    """16-bit SimHash per doc from md5-derived term hashes (token
    multiplicity = weight) — near-dup fingerprinting for dedup at scale."""
    toks = _tokens(spark, sf)
    h = F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("bigint")
    t = toks.select("doc_id", h.alias("h"))
    sums = t.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"b{j}")
            for j in range(_SIMHASH_BITS)
        ]
    )
    fp = None
    for j in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sums.select("doc_id", fp.cast("bigint").alias("simhash")).orderBy("doc_id")


_LSH_BANDS = 4  # 8 minhashes, bands of 2 rows


def _band_pairs_from(sigs):
    """LSH banding over materialized signatures: docs sharing ≥1 of 4
    (2-row) bands — the stage that makes near-dup detection sub-quadratic."""
    bands = None
    for i in range(_LSH_BANDS):
        b = sigs.select(
            "doc_id",
            F.lit(i).alias("band"),
            F.col(f"mh{2 * i}").alias("h1"),
            F.col(f"mh{2 * i + 1}").alias("h2"),
        )
        bands = b if bands is None else bands.union(b)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band", "h1", "h2"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _q_lsh_band_pairs(spark, sf):
    """MinHash-LSH candidate pairs (oracle-checked entry). Signatures come
    from the session-cached checkpoint (`_sigs_ckpt`): the 4-band union +
    self-join would otherwise recompute the whole MinHash pipeline 8×."""
    return _band_pairs_from(_sigs_ckpt(spark, sf)).orderBy("doc_a", "doc_b")


_IVF_CELLS = 8     # K floor (the value the sf0.01 driver corpus fits)
_IVF_CELLS_MAX = 256  # centroid-matrix sanity cap (see _ivf_k)
_IVF_VECS_PER_CELL = 250  # target cell size: K grows with the corpus
_IVF_NPROBE = 2
_IVF_ITERS = 2


def _ivf_k(n: int) -> int:
    """Adaptive cell count: K ~ n/250 clamped to [8, 256]. A FIXED K is
    the quadratic trap the 1×-vs-10× scale sample caught (the same-cell
    near-dup join grows as n²/K — measured exponent 2.13 with K=8 at
    20k vectors, 407 s); scaling K with n keeps cells ~constant-size so
    the join stays linear. The cap bounds the centroid matrix the
    map-side assign kernel closes over; at 10^9 vectors K would be
    ~n/10³ with the centroids broadcast as a table instead (same plan
    shape, different transport)."""
    return min(_IVF_CELLS_MAX, max(_IVF_CELLS, n // _IVF_VECS_PER_CELL))


def _ivf_dot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, z: acc + z
    )


def _ivf_nrm(c):
    return F.sqrt(_ivf_dot(c, c))


def _cent_norm(cv) -> float:
    """Driver-side ‖cv‖ for a centroid, replicating the SQL fold
    bit-for-bit (Python floats are IEEE doubles; math.sqrt is the same
    correctly-rounded sqrt): 0.0 + cv₀² + cv₁² + … then √. Precomputing
    the K centroid norms once removes a 64-step fold per (row, centroid)
    from the assign stage without touching a single result bit."""
    import math

    acc = 0.0
    for x in cv:
        acc = acc + x * x
    return math.sqrt(acc)


_NEARDUP_NPROBE = 2  # cells per vector in the near-dup candidate join
_ASSIGN_SCHEMA = "vec_id long, v array<double>, rank int, cell int, nrm double"


def _assign_kernel(cent_rows, nprobe):
    """Arrow e-step kernel factory (mapInPandas): nearest-centroid
    (cosine) assignment against the K closure-held centroids, emitting
    the top ``nprobe`` cells per vector as (vec_id, v, rank, cell, nrm)
    rows, nrm = ‖v‖.

    Why a kernel: Spark 4 interprets HigherOrderFunction lambdas per
    element (no codegen), so a SQL fold over literal centroids costs
    ~6 µs per (row, centroid) 64-dim dot — at 20k vectors × K=80 the
    fit's Lloyd e-steps plus the final multi-probe assignment were ~40 s
    of the 10× scale sample's ann_ivf_topk wall. The same mult-adds
    vectorize to well under a second, and the closure-held centroid
    matrix (≤256×64 doubles = 128 KB) is exactly what a real IVF engine
    broadcasts, so the plan stays a zero-shuffle map.

    Spec, bit-for-bit (the oracle SQL ranks the same cosines by (cos
    DESC, cid ASC); pinned against a sequential Python fold in
    test_assign_kernel_bit_identical_to_hof on the full corpus):
    - cosine = dot(v, c) / (‖v‖·‖c‖), each dot a left-to-right add
      chain from 0.0 like the _ivf_dot SQL fold: ``V*C[j]`` is the same
      per-element IEEE multiply, and ``np.cumsum(axis=1)`` is a strict
      left-to-right prefix add chain with 0.0+p0 == p0 — the
      _cell_pair_cos recipe (numpy's plain sum would pairwise-split and
      move bits). np.sqrt is the correctly-rounded IEEE sqrt; nc are the
      _cent_norm Python floats; one multiply (nv·nc) then one divide.
    - ties: visiting cids ASCENDING and replacing only on a STRICT
      improvement (best demoted to second) is top-nprobe of a stable
      descending sort — ``np.argsort(-cosm, kind="stable")`` picks the
      lowest index (= lowest cid; cent_rows is cid-sorted) on
      exact-double ties at every rank.
    NaN/±inf cosines would compare differently (Spark SQL orders NaN
    largest, numpy argsort pushes NaN first under negation) but are
    unreachable: embeddings and fitted centroids have nonzero finite
    norms, and 64-dim unit-scale dots cannot overflow."""
    import numpy as np

    cids = np.array([c for c, _ in cent_rows], dtype=np.int32)
    C = np.asarray([cv for _, cv in cent_rows], dtype=np.float64)
    nc = np.array([_cent_norm(cv) for _, cv in cent_rows], dtype=np.float64)
    K = len(cids)
    r = min(nprobe, K)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.asarray(pdf["v"].to_list(), dtype=np.float64)
            P = V * V
            np.cumsum(P, axis=1, out=P)
            nv = np.sqrt(P[:, -1])
            cosm = np.empty((n, K), dtype=np.float64)
            for j in range(K):
                Pj = V * C[j]
                np.cumsum(Pj, axis=1, out=Pj)
                cosm[:, j] = Pj[:, -1] / (nv * nc[j])
            order = np.argsort(-cosm, axis=1, kind="stable")
            yield pd.concat(
                [
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "v": pdf["v"].to_numpy(),
                            "rank": np.full(n, rank, dtype=np.int32),
                            "cell": cids[order[:, rank]],
                            "nrm": nv,
                        }
                    )
                    for rank in range(r)
                ],
                ignore_index=True,
            )

    return fn


def _ivf_assign_kernel(e, cent_rows):
    """Production top-1 e-step: the Arrow kernel at nprobe=1. Used
    inside every Lloyd iteration of _ivf_fit."""
    return e.mapInPandas(_assign_kernel(cent_rows, 1), _ASSIGN_SCHEMA)


def _ivf_assign2_kernel(e, cent_rows):
    """Production multi-probe assignment: the Arrow kernel at
    nprobe=_NEARDUP_NPROBE. A near-dup pair straddling one cell boundary
    still collides in the other vector's runner-up cell. Rank 0 is the
    top-1 cell of _ivf_assign_kernel. Feeds the per-(session, sf)
    checkpointed assignment every IVF-family query shares."""
    return e.mapInPandas(
        _assign_kernel(cent_rows, _NEARDUP_NPROBE), _ASSIGN_SCHEMA
    )


def _ivf_fit(e):
    """k-means coarse quantizer (Lloyd, _IVF_ITERS unrolled iterations,
    integer-scaled deterministic means) → final centroid rows
    ``[(cid, [float, ...]), ...]`` sorted by cid.

    Each m-step is one groupBy(cell, dim) with map-side partial
    aggregation into K×dim groups, then the K centroid rows are
    COLLECTED to the driver (tiny at any K — they are the model) so the
    next e-step is map-side. Collecting also cuts the lazy plan per
    iteration, which the round-3 localCheckpoint existed to do."""
    k = _ivf_k(e.count())
    cent_rows = [
        (int(r["cid"]), list(r["cv"]))
        for r in e.where(F.col("vec_id") < k)
        .select(
            F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv")
        )
        .collect()
    ]
    cent_rows.sort(key=lambda t: t[0])
    for _ in range(_IVF_ITERS):
        assign = _ivf_assign_kernel(e, cent_rows)
        dims = assign.select("cell", F.posexplode("v").alias("dim", "x"))
        m = dims.groupBy("cell", "dim").agg(
            (
                F.sum(F.round(F.col("x") * F.lit(1e6)).cast("long"))
                / F.count(F.lit(1))
                / F.lit(1e6)
            ).alias("m")
        )
        cents = m.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
        cent_rows = [
            (int(r["cell"]), list(r["cv"])) for r in cents.collect()
        ]
        cent_rows.sort(key=lambda t: t[0])
    return cent_rows


# one fitted quantizer per (session, sf_dir): ann_ivf_topk,
# embedding_neardup_pairs and the bench recall sweep all reuse the same
# deterministic centroids instead of refitting k-means inline per query
# (VERDICT r3 #3 — the refit was ~9 s, the heaviest driver query)
_IVF_FIT_CACHE: dict = {}
_IVF_ASSIGN2_CACHE: dict = {}


def _ivf_e(spark, sf):
    return _emb(spark, sf).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def _ivf_fit_cached(spark, sf):
    key = (spark.sparkContext.applicationId, sf)
    if key not in _IVF_FIT_CACHE:
        _IVF_FIT_CACHE[key] = _ivf_fit(_ivf_e(spark, sf))
    return _IVF_FIT_CACHE[key]


def _py_cos(a, b):
    """Driver-side cosine replicating the SQL fold order bit-for-bit
    (sequential left-to-right adds, IEEE doubles) — used only on K
    centroid rows / the 1 query vector."""
    import math

    def dot(x, y):
        acc = 0.0
        for xi, yi in zip(x, y):
            acc = acc + xi * yi
        return acc

    return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))


def _ivf_assign2_cached(spark, sf):
    """One checkpointed multi-probe assignment per (session, sf), like
    the fit cache (VERDICT r3 #3: share the fitted assignment instead of
    re-deriving it per invocation — the assign projection + checkpoint
    was ~1.5 s of every call's wall). Columns: vec_id, v, rank (0 = best
    cell, 1 = runner-up), cell, nrm."""
    key = (spark.sparkContext.applicationId, sf)
    if key not in _IVF_ASSIGN2_CACHE:
        e = _ivf_e(spark, sf)
        cent_rows = _ivf_fit_cached(spark, sf)
        _IVF_ASSIGN2_CACHE[key] = _ivf_assign2_kernel(
            e, cent_rows
        ).localCheckpoint()
    return _IVF_ASSIGN2_CACHE[key]


def _ivf_candidates(spark, sf, nprobe):
    """The IVF candidate set (cell-pruned scan) at an explicit nprobe,
    with the query vector attached — shared by the oracle-checked top-k
    entry and bench.py's recall/scan-fraction sweep. Probe-cell
    selection is driver-side query planning over the K broadcast
    centroids (same bit-exact fold as the SQL); the scan reads the
    rank-0 rows of the session-cached checkpointed assignment (≡ the
    map-side top-1 assign), so the plan is: checkpoint scan → rank/IN
    filter → broadcast query vector."""
    e = _ivf_e(spark, sf)
    cent_rows = _ivf_fit_cached(spark, sf)
    qv = list(
        e.where(F.col("vec_id") == 0).select("v").first()["v"]
    )
    ranked = sorted(
        ((cid, _py_cos(cv, qv)) for cid, cv in cent_rows),
        key=lambda t: (-t[1], t[0]),
    )
    probe_cells = [cid for cid, _ in ranked[:nprobe]]
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        _ivf_assign2_cached(spark, sf)
        .where(F.col("rank") == 0)
        .select("vec_id", "v", "cell")
        .where(F.col("cell").isin(probe_cells))
        .where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
    )


def _ann_ivf_topk_at(spark, sf, nprobe):
    cand = _ivf_candidates(spark, sf, nprobe)
    cos_qv = _ivf_dot(F.col("v"), F.col("qv")) / (
        _ivf_nrm(F.col("v")) * _ivf_nrm(F.col("qv"))
    )
    return (
        cand.select("vec_id", F.round(cos_qv, 6).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


def ann_recall_curve(spark, sf, nprobes=(1, 2, 4)) -> list:
    """recall@10 vs the brute-force cosine baseline and the fraction of
    the corpus scanned, per nprobe — makes the IVF accuracy/cost
    trade-off legible (emitted into the bench detail)."""
    brute = {r["vec_id"] for r in _q_cosine_topk(spark, sf).collect()}
    n_total = _emb(spark, sf).where(F.col("vec_id") != 0).count()
    out = []
    for np_ in nprobes:
        got = {r["vec_id"] for r in _ann_ivf_topk_at(spark, sf, np_).collect()}
        scanned = _ivf_candidates(spark, sf, np_).count()
        out.append(
            {
                "nprobe": np_,
                "recall_at_10": round(len(brute & got) / max(len(brute), 1), 3),
                "scan_fraction": round(scanned / max(n_total, 1), 3),
            }
        )
    return out


def neardup_pair_recall(spark, sf) -> dict:
    """Recall of the same-cell embedding near-dup pairs vs the BRUTE-FORCE
    all-pairs cosine top-20 (VERDICT r3 #4: same-cell-only silently
    misses pairs straddling a cell boundary — this measures the miss
    instead of hiding it). The ground truth is the O(n²) definition, so
    it runs as a broadcast nested-loop over the full vector set — a
    bench-only diagnostic, never a driver query."""
    e = _ivf_e(spark, sf).where(F.col("vec_id") != 0).withColumn(
        "nrm", _ivf_nrm(F.col("v"))
    )
    # ground truth through the SAME bit-exact Arrow kernel as the query,
    # over ONE all-vectors group (the O(n²) definition; a single task is
    # the point of a brute-force diagnostic — the crossJoin+HOF form it
    # replaces spent ~13 s interpreting 2M 64-wide folds per bench run)
    brute = {
        (r["vec_a"], r["vec_b"])
        for r in e.select(
            F.lit(0).alias("cell"), "vec_id", "v", "nrm"
        )
        .groupBy("cell")
        .applyInPandas(
            _cell_pair_cos, schema="vec_a long, vec_b long, cos double"
        )
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(20)
        .collect()
    }
    got = {
        (r["vec_a"], r["vec_b"])
        for r in _q_embedding_neardup_pairs(spark, sf).collect()
    }
    return {
        "recall_at_20": round(len(brute & got) / max(len(brute), 1), 3),
        "boundary_missed": len(brute - got),
    }


def lsh_pair_recall(spark, sf) -> dict:
    """Recall of the LSH→exact-verify pipeline vs the UNCAPPED exact
    Jaccard ≥0.5 pair set (VERDICT r3 #3: the df cap and the banding
    collision rate both drop pairs silently — this measures the combined
    miss). Also reports the df-capped shingle fraction (the no-silent-
    caps number for the whole shingle family). Quadratic ground truth —
    run at sf0.01 from the bench, never as a driver query."""
    sh = _shingles_ckpt(spark, sf)
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in _jaccard_pairs_from(sh, max_df=None)
        .select("doc_a", "doc_b")
        .collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in _q_lsh_jaccard_verified(spark, sf)
        .select("doc_a", "doc_b")
        .collect()
    }
    sdf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    n_tot = sdf.count()
    n_hot = sdf.where(F.col("sdf") > _JACCARD_MAX_DF).count()
    return {
        "recall": round(len(truth & got) / max(len(truth), 1), 3),
        "n_truth_pairs": len(truth),
        "missed": len(truth - got),
        "df_capped_shingle_fraction": round(n_hot / max(n_tot, 1), 6),
    }


def _q_ann_ivf_topk(spark, sf):
    """IVF ANN with a REAL k-means coarse quantizer: Lloyd's algorithm
    (init = vectors 0..K-1, _IVF_ITERS unrolled iterations), then the
    query (vec 0) probes its _IVF_NPROBE nearest cells only — measured
    recall@10 vs the brute-force cosine_topk baseline is 0.9 while
    scanning ~23% of vectors at sf0.01 (tests/test_entry_extras.py;
    bench.py reports the recall curve at nprobe 1/2/4).

    Centroid means use the integer-scaled (1e-6-quantized) sum so the
    update is associative — bit-identical on Spark and DuckDB regardless
    of partition/combine order. The e-step is a map-side fold against
    the K broadcast-as-literals centroids (zero shuffle — round 3's
    window argmin shuffled n×K rows per Lloyd pass), and the fitted
    quantizer is cached per (session, sf) so embedding_neardup_pairs
    and the bench recall sweep reuse it instead of refitting."""
    return _ann_ivf_topk_at(spark, sf, _IVF_NPROBE)


def _cell_pair_cos(pdf):
    """Per-cell pair-cosine kernel (applyInPandas; Arrow-batched, one
    call per k-means cell): emits every unordered same-cell pair with
    its cosine, computed BIT-identically to the SQL fold `_ivf_dot`.
    The fold is `aggregate(zip_with(v_a, v_b, (x,y)->x*y), 0.0,
    (acc,z)->acc+z)`: an exact elementwise IEEE multiply followed by a
    strict left-to-right add chain seeded at 0.0. numpy replays it
    exactly — `Va*Vb` is the same per-element multiply, and
    `np.cumsum(axis=1)` is a sequential prefix accumulation in index
    order (it must produce every prefix, so it cannot reorder or
    pairwise-split), with 0.0+p0 == p0. Division by the precomputed
    norms is a single IEEE op on both sides. Rounding is deliberately
    NOT done here: the caller applies F.round so the Spark/DuckDB
    HALF_UP semantics stay the pair the oracle contract was verified
    with.

    Why a kernel at all: the per-pair HOF fold is interpreted per
    element by Spark (HigherOrderFunction lambdas don't codegen), and
    at ~1M candidate pairs × 64 dims that interpretation was ~6 s of
    the query's 7.7 s wall at sf0.1 — a count() plan that pruned the
    cosine column ran the identical join in 1.4 s. Vectorized numpy
    does the same 64M mult-adds in ~0.1 s. Pair blocks are chunked so
    peak memory stays ~64 MB regardless of cell size."""
    import numpy as np
    import pandas as pd

    n = len(pdf)
    out_a: list = []
    out_b: list = []
    out_c: list = []
    if n >= 2:
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.asarray(pdf["v"].to_list(), dtype=np.float64)[order]
        nr = pdf["nrm"].to_numpy(dtype=np.float64)[order]
        ia, ib = np.triu_indices(n, k=1)
        d = V.shape[1]
        step = max(1, (8 << 20) // max(d, 1))  # ~64 MB of float64 P per block
        for s in range(0, ia.size, step):
            sa, sb = ia[s : s + step], ib[s : s + step]
            P = V[sa] * V[sb]
            np.cumsum(P, axis=1, out=P)
            out_a.append(ids[sa])
            out_b.append(ids[sb])
            out_c.append(P[:, -1] / (nr[sa] * nr[sb]))
    return pd.DataFrame(
        {
            "vec_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
            "vec_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
            "cos": np.concatenate(out_c) if out_c else np.array([], dtype=np.float64),
        }
    )


def _q_embedding_neardup_pairs(spark, sf):
    """Embedding-cosine near-dup pairs, sub-quadratically: vectors are
    bucketed by their k-means cell (the same coarse quantizer as
    ann_ivf_topk) with MULTI-PROBE: each vector lands in its top-2 cells
    (_ivf_assign2_kernel), and only SHARED-CELL pairs are scored — grouped by
    the cell key instead of the O(n²) cross join, the cluster-bucketed
    shape near-dup detection takes at 10^9 vectors (with K sized ~n/10³
    the per-cell work stays bounded; the adaptive-K rule in _ivf_k keeps
    the per-cell pair count ~constant as n grows). Multi-probe closes
    most boundary misses of the round-3 same-cell-only join (recall@20
    vs brute force was 0.55; the bench emits the measured number every
    run — VERDICT r3 #4). Per-cell scoring runs in the Arrow-batched
    `_cell_pair_cos` kernel (bit-identical fold replay — see its
    docstring; the interpreted per-pair HOF fold it replaces was ~6 s
    of the 7.7 s query wall at sf0.1). Pairs colliding in both probed
    cells are deduped before top-k. Top-20 pairs by rounded cosine,
    id-tiebroken — ordering is on the ROUNDED value so Spark and the
    DuckDB oracle rank identically."""
    # session-cached fit + checkpointed assignment (shared with
    # ann_ivf_topk); per-vector norms are precomputed ONCE there:
    # sqrt(dot(v,v)) is the same deterministic add chain whether
    # evaluated per vector or per pair, so the cosine bits are
    # unchanged while the kernel does one multiply-cumsum per pair
    # instead of three folds.
    assign = _ivf_assign2_cached(spark, sf)
    pairs = assign.select("cell", "vec_id", "v", "nrm").groupBy("cell").applyInPandas(
        _cell_pair_cos, schema="vec_a long, vec_b long, cos double"
    )
    return (
        # round AFTER the kernel, in Spark: F.round's HALF_UP decimal
        # semantics are the exact pair the DuckDB oracle was verified
        # against (numpy rounds half-even — never let it round)
        pairs.select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
        # a pair can collide in up to 2 shared cells — dedupe before
        # top-k (duplicate rows are bit-identical: same vectors, same
        # fold, same rounded cosine — so which copy survives is
        # immaterial, and dropDuplicates' map-side partial aggregation
        # halves the exchange)
        .dropDuplicates(["vec_a", "vec_b"])
        .orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(20)
    )


def _q_token_counts(spark, sf):
    """Token counting: whitespace tokens vs BPE-ish alnum subword pieces
    + char budget — the per-doc accounting a training pipeline needs."""
    lt = F.lower("text")
    ws = F.filter(F.split(lt, " "), lambda x: x != "")
    sub = F.regexp_extract_all(lt, F.lit("[a-z0-9]+"), 0)
    alnum_chars = F.length(F.regexp_replace(lt, "[^a-z0-9]", ""))
    return (
        _docs(spark, sf)
        .select(
            "doc_id",
            F.size(ws).alias("n_ws_tokens"),
            F.size(sub).alias("n_subword_tokens"),
            F.length(lt).alias("n_chars_total"),
            F.round(alnum_chars / F.size(sub), 6).alias("avg_subword_len"),
        )
        .orderBy("doc_id")
    )


def _q_lang_id(spark, sf):
    """Stopword-ratio language-ID heuristic + agreement with the labeled
    lang column (quality gate shape for corpus filtering)."""
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    stop_ratio = F.size(F.filter(toks, lambda x: x.isin(_STOPWORDS))) / F.size(toks)
    d = _docs(spark, sf).select(
        "doc_id",
        "lang",
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.when(stop_ratio >= 0.05, F.lit("en")).otherwise(F.lit("und")).alias(
            "predicted_lang"
        ),
    )
    return d.withColumn(
        "agrees", (F.col("predicted_lang") == F.col("lang")).cast("int")
    ).orderBy("doc_id")


def _q_doc_fingerprint(spark, sf):
    """Rolling char-8-gram fingerprint: min/max md5-derived gram hash +
    distinct-gram count (winnowing-style doc identity). lower(text) is
    materialized as its own projection first — inlined into the
    per-position substring lambda it re-lowercases the whole document
    per gram (the same O(len²) trap as `_shingles_of`).

    Entirely MAP-SIDE: the per-doc aggregates fold inside array HOFs
    (array_min/array_max over the hashed grams, size∘array_distinct for
    the count), so no (doc_id, gram) row ever shuffles — the previous
    explode → groupBy(countDistinct) form moved every gram occurrence
    through an exchange and ran ~10× slower at sf0.1 (2.4 s → 0.2 s).
    Spark 4 interprets the HOF lambdas per element, but md5 dominates
    the per-element cost here (unlike the 64-float dot folds that
    needed Arrow kernels), so the interpreted form wins. Values are
    bit-identical to the exploded form; size() is cast back to bigint
    to keep the oracle schema."""
    return _doc_fingerprint_frame(_docs(spark, sf))


def _doc_fingerprint_frame(docs):
    """The doc_fingerprint plan over an arbitrary (doc_id, text) frame
    (split out so the NULL-text branch is unit-testable without a
    parquet corpus). A NULL text yields _gs = [NULL] (greatest(NULL, 1)
    = 1 index positions, each a NULL substring) — array_compact drops
    it so n_grams = 0, matching the exploded form's countDistinct and
    the DuckDB oracle; fp_min/fp_max are NULL on both forms already
    (array_min/min skip NULLs)."""
    grams = F.expr(
        "transform(sequence(1, greatest(char_length(_lt) - 7, 1)),"
        " i -> substring(_lt, i, 8))"
    )
    hs = F.expr(
        "transform(_gs, g -> cast(conv(substring(md5(g),1,15),16,10)"
        " as bigint))"
    )
    return (
        docs.select("doc_id", F.lower("text").alias("_lt"))
        .select("doc_id", grams.alias("_gs"))
        .select("doc_id", hs.alias("_hs"), "_gs")
        .select(
            "doc_id",
            F.array_min("_hs").alias("fp_min"),
            F.array_max("_hs").alias("fp_max"),
            F.size(F.array_distinct(F.array_compact("_gs")))
            .cast("bigint")
            .alias("n_grams"),
        )
        .orderBy("doc_id")
    )


def _events(spark, sf):
    return spark.read.parquet(f"{sf}/events.parquet")


def _det_sum_value(col="value"):
    """sum(value) rounded to 6, computed as a micro-scaled BIGINT sum.

    Integer addition is associative, so the result is independent of
    Spark's partition/combine order — a plain F.sum(double) over a
    large group can land on either side of a 0.5e-6 rounding boundary
    depending on summation order (round 1's doc_lengths hash-fail
    class).  Fully distributed: no collect_list gather.
    """
    micros = F.round(F.col(col) * F.lit(1e6)).cast("long")
    return F.round(F.sum(micros) / F.lit(1e6), 6).alias("sum_value")


def _q_events_windowed(spark, sf):
    """Tumbling 1-hour event-time windows per event_type (the batch shape
    of the streaming windowed agg; readStream swaps in for live data)."""
    return (
        _events(spark, sf)
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _det_sum_value(),
        )
        .orderBy("window_start", "event_type")
    )


_SESSION_GAP_MIN = 30


def _q_events_sessions(spark, sf):
    """Gap-based sessionization (30-min inactivity) per user: classic
    lag → new-session flag → running session id → per-user rollup."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC so the epoch matches
    # DuckDB's epoch() on the naive value
    epoch = F.col("ts").cast("timestamp").cast("long")
    ev = _events(spark, sf).select("user_id", "ts")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            epoch - F.lag(epoch).over(w) > _SESSION_GAP_MIN * 60,
            1,
        )
        .otherwise(0)
        .cast("int"),
    )
    sess = flagged.withColumn("session_id", F.sum("new_s").over(w))
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_ev")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_ev").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


def _q_events_json(spark, sf):
    """JSON prop extraction + aggregate per event_type."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        _events(spark, sf)
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def _q_events_rollup(spark, sf):
    """ROLLUP over (event_type, day): per-type-per-day, per-type subtotal,
    grand total — the grouping-sets family the reference lacks."""
    ev = _events(spark, sf).select(
        "event_type", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"), "value"
    )
    return (
        ev.rollup("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"), _det_sum_value())
        .select(
            # subtotal rows surface as 'ALL' instead of NULL so the
            # driver's value-hash comparison never sees NaT/None
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n",
            "sum_value",
        )
        .orderBy("event_type", "day")
    )


def _q_lang_stats(spark, sf):
    return (
        _docs(spark, sf)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("lang")
    )


def _q_quality_scores(spark, sf):
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(_STOPWORDS)))
    d = _docs(spark, sf).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        stop_hits.alias("n_stop"),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
        F.round(F.col("n_stop") / F.col("n_tokens"), 6).alias("stopword_ratio"),
    ).orderBy("doc_id")


def _q_quality_repetition(spark, sf):
    """Repetition-based quality signals (the Gopher/C4-style rules a
    webtext training-data filter applies after the length/stopword
    gates): per doc, the fraction of tokens that are the single most
    frequent token (`top_token_ratio`), the fraction of token bigrams
    that are repeats of an earlier bigram (`dup_bigram_ratio` =
    1 − distinct/total), and the fraction that are the single most
    frequent bigram (`top_bigram_ratio`). Heavily templated or
    looping machine text scores high on all three while length and
    stopword ratios look normal — the failure mode quality_scores
    can't see.

    Shape: the bigram ARRAY and its distinct count fold map-side
    (HOFs, no shuffle — the doc_fingerprint lesson); the two mode
    counts (max per-doc frequency) are the one thing an array HOF
    can't do without an O(d²) interpreted nested loop, so they take
    the canonical explode → partial-agg groupBy((doc, gram)) →
    groupBy(doc) max path — two shuffles over token-count rows, the
    same shape at any scale. n_tok < 2 ⇒ empty bigram array via a
    CASE guard (Spark's sequence(1, 0) is DESCENDING [1, 0], not
    empty — the trap the guard exists for); ratios over an empty
    denominator are NULL on both sides."""
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    base = (
        _docs(spark, sf)
        .select("doc_id", toks.alias("tk"))
        .select("doc_id", "tk", F.size("tk").alias("n_tok"))
        .select(
            "doc_id",
            "tk",
            "n_tok",
            F.when(
                F.col("n_tok") >= 2,
                F.expr(
                    "transform(sequence(1, n_tok - 1),"
                    " i -> concat(element_at(tk, i), ' ',"
                    " element_at(tk, i + 1)))"
                ),
            )
            .otherwise(F.expr("array()"))
            .alias("bg"),
        )
        .localCheckpoint()
    )
    top_tok = (
        base.select("doc_id", F.explode("tk").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mc_tok"))
    )
    top_bg = (
        base.select("doc_id", F.explode("bg").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mc_bg"))
    )
    n_bg = F.greatest(F.col("n_tok") - 1, F.lit(0))
    return (
        base.select(
            "doc_id",
            "n_tok",
            n_bg.alias("n_bg"),
            F.size(F.array_distinct("bg")).cast("bigint").alias("nd_bg"),
        )
        .join(top_tok, "doc_id", "left")
        .join(top_bg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tok").cast("bigint").alias("n_tokens"),
            F.round(F.col("mc_tok") / F.col("n_tok"), 6).alias(
                "top_token_ratio"
            ),
            F.when(
                F.col("n_bg") > 0,
                F.round(1 - F.col("nd_bg") / F.col("n_bg"), 6),
            ).alias("dup_bigram_ratio"),
            F.round(F.col("mc_bg") / F.col("n_bg"), 6).alias(
                "top_bigram_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# round-5 training-data pipeline extensions: sampling, decontamination,
# LM quality scoring, containment dedup, embedding clustering
# --------------------------------------------------------------------------

_SAMPLE_PER_LANG = 20     # exact per-stratum quota
_EVAL_MOD = 97            # doc_id % 97 == 0 ⇒ held-out "benchmark" doc
_CONTAIN_THRESHOLD = 0.8  # directed containment cut


def _q_stratified_sample(spark, sf):
    """Deterministic stratified sampling — the per-language quota draw a
    training-data mixer runs before tokenization. Each doc's sort key is
    md5(doc_id): content-independent, uniform, and reproducible across
    engines and runs (no Date/rand), so the exact-N-per-stratum sample
    is a pure function of the corpus. Shape: two-phase exact top-N —
    a bare `Window.partitionBy(lang)` would route an ENTIRE stratum
    through one task (the bare-key skew rule: a 10¹²-row corpus with 5
    languages is five 200-billion-row sorts on five cores), so phase 1
    takes each input partition's local top-N per stratum (window keyed
    on (lang, spark_partition_id) — balanced, bounded by partition
    size) and phase 2 ranks only the ≤ N·num_partitions survivors per
    stratum. Global top-N of per-partition top-Ns ≡ global top-N, so
    the result — and the oracle, which keeps the simple one-window
    form — is unchanged. With huge quotas you'd swap phase 2 for a
    map-side `md5 < threshold` Bernoulli gate (approximate quota)."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf).select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("skey")
    ).withColumn("pid", F.spark_partition_id())
    w1 = Window.partitionBy("lang", "pid").orderBy("skey")
    cand = (
        d.withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= _SAMPLE_PER_LANG)
        .drop("pid", "r1")
    )
    w = Window.partitionBy("lang").orderBy("skey")
    return (
        cand.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= _SAMPLE_PER_LANG)
        .select("lang", "sample_rank", "doc_id")
        .orderBy("lang", "sample_rank")
    )


def _q_decontaminate(spark, sf):
    """Benchmark decontamination — flag training docs sharing 3-gram
    shingles with a held-out eval set (doc_id % _EVAL_MOD == 0), the
    n-gram-overlap check every LLM data pipeline runs against its eval
    suites. Shingles come from the session-cached full-corpus checkpoint
    (`_shingles_ckpt` — shared with the whole dedup family, computed
    once per session). A production eval suite is FIXED and tiny, so
    the contamination probe is a broadcast semi-join — map-side at any
    corpus size; the join carries no explicit broadcast hint because
    this synthetic stand-in slice (1/97 of docs) grows WITH the corpus:
    AQE picks broadcast whenever the eval set fits (it does at every
    bench scale) and degrades to a shuffled semi-join instead of an
    OOM if it ever doesn't. The only other shuffle is the per-doc
    count, keyed on doc_id (never on shingle, so hot n-grams can't
    skew a task)."""
    sh = _shingles_ckpt(spark, sf)
    eval_sh = (
        sh.where(F.col("doc_id") % _EVAL_MOD == 0).select("shingle").distinct()
    )
    train = sh.where(F.col("doc_id") % _EVAL_MOD != 0)
    per_doc = (
        train.join(eval_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = F.coalesce(F.col("hits"), F.lit(0)).cast("long")
    ratio = hit / F.col("n_shingles")
    return (
        sizes.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            hit.alias("n_contaminated"),
            F.round(ratio, 6).alias("contamination_ratio"),
            F.when(ratio >= 0.2, F.lit(1)).otherwise(F.lit(0)).alias("flagged"),
        )
        .orderBy("doc_id")
    )


def _q_quality_lm(spark, sf):
    """Unigram-LM fluency scoring (the CCNet/KenLM-style perplexity gate,
    reduced to its order-0 form): p(term) = cf/total over the corpus,
    per-doc mean negative log-prob. Rare-token-heavy or OOV-heavy docs
    score high. Determinism: ln is taken once PER DISTINCT TERM, rounded
    to integer micro-nats (`nll_mic`), and each doc's total is an exact
    BIGINT Σ tf·nll_mic — associative, so partition order can't move a
    rounding boundary (the `_det_sum_value` pattern). Shape: token
    counts (one shuffle on term) → tiny per-term table joined back to
    per-doc tf rows (vocab ≪ corpus; AQE broadcasts it) → per-doc sum
    keyed on doc_id."""
    toks = _tokens(spark, sf)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    tot = toks.agg(F.count(F.lit(1)).alias("tot"))
    lp = cf.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(-F.log(F.col("cf") / F.col("tot")) * 1e6)
        .cast("long")
        .alias("nll_mic"),
    )
    return (
        tf.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("nll_mic")).alias("nll_micros"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "nll_micros",
            F.round(
                F.col("nll_micros") / F.col("n_tokens") / F.lit(1e6), 6
            ).alias("mean_nll"),
        )
        .orderBy("doc_id")
    )


def _q_containment_pairs(spark, sf):
    """Directed containment near-dup pairs: |src ∩ dst| / |src| ≥ 0.8
    over df-capped 3-gram shingles — catches quote/wrapper/superset
    pages whose Jaccard stays low because the containing doc is much
    larger (the asymmetric case `jaccard_pairs` structurally misses).
    Set-intersection size is symmetric, so the directed rows come from
    ONE undirected pass: this reads the session-cached
    `_pair_inter_ckpt` (the same materialized self-join Jaccard and the
    CC groups consume — the family's most expensive stage runs once per
    session) and emits each undirected pair in both directions before
    the per-direction |src| normalization. Sub-quadratic for the same
    reason as Jaccard: no shingle with df > cap ever joins."""
    und = _pair_inter_ckpt(spark, sf)
    sizes = _capped_sizes_ckpt(spark, sf).withColumnRenamed("n_sh", "n_src")
    inter = und.select(
        F.col("doc_a").alias("doc_src"),
        F.col("doc_b").alias("doc_dst"),
        "inter",
    ).union(
        und.select(
            F.col("doc_b").alias("doc_src"),
            F.col("doc_a").alias("doc_dst"),
            "inter",
        )
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_src"), "doc_src")
        .withColumn(
            "containment", F.round(F.col("inter") / F.col("n_src"), 6)
        )
        .where(F.col("containment") >= _CONTAIN_THRESHOLD)
        .select("doc_src", "doc_dst", "inter", "containment")
        .orderBy("doc_src", "doc_dst")
    )


_TOP_TERMS_K = 3


def _q_top_terms(spark, sf):
    """Per-doc keyword extraction: the top-K terms of every document by
    the reference's tf-idf weight (wdt·wqt = (1+ln tf)·ln(1+N/df) —
    the doc-length normalization cancels inside a single doc's
    ranking), the tag/keyword feature a corpus browser or a
    topic-labeled training mix builds from the index it already has.
    Ranking happens on the ROUNDED weight with the term as tiebreak,
    so rank assignment is identical on both engines (the raw doubles
    may differ in the last ulp between ln implementations — the same
    reason every float column rounds before comparison). Shape: tf
    and df are the index's own aggregates; the per-doc top-K window
    partitions on doc_id — millions of balanced keys, never a bare
    low-cardinality stratum (the stratified_sample lesson doesn't
    apply: no giant partition exists)."""
    from pyspark.sql.window import Window

    n = _docs(spark, sf).count()
    tf = (
        _tokens(spark, sf)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        F.round(
            (F.lit(1.0) + F.log("tf"))
            * F.log(F.lit(1.0) + F.lit(float(n)) / F.col("df")),
            6,
        ).alias("w"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .where(F.col("rank") <= _TOP_TERMS_K)
        .select("doc_id", "rank", "term", "w")
        .orderBy("doc_id", "rank")
    )


_SPAN_LEN = 32   # window length (chars)
_SPAN_STRIDE = 16  # window stride — bounds rows at len/stride per doc


def _q_span_dedup_stats(spark, sf):
    """Span-level exact-duplication profile (the repeated-substring
    signal doc-level dedup can't see: boilerplate headers, licence
    blocks, templated paragraphs shared across otherwise-distinct
    pages). Per doc: the number of stride-16 32-char windows and the
    fraction whose exact text occurs in ≥2 DISTINCT documents.

    Shape: strided windows keep the exploded row count at len/16 per
    doc (not len — the full-substring explode is the quadratic trap);
    the duplicated-window set is found with one (window → distinct-doc
    df) aggregation and joined back LEFT SEMI, so each (doc, window)
    row matches at most once — a hot boilerplate window shared by d
    docs costs d rows, never d². Docs shorter than one window are
    excluded on both sides (Spark's sequence() with a positive step
    rejects descending bounds — the CASE-guard trap quality_repetition
    documents)."""
    d = _docs(spark, sf).select(
        "doc_id", F.lower("text").alias("t")
    ).where(F.length("t") >= _SPAN_LEN)
    win = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(t) - {_SPAN_LEN - 1},"
                f" {_SPAN_STRIDE}), i -> substring(t, i, {_SPAN_LEN}))"
            )
        ).alias("w"),
    )
    dup = (
        win.groupBy("w")
        .agg(F.count_distinct("doc_id").alias("wdf"))
        .where(F.col("wdf") >= 2)
        .select("w")
    )
    hits = (
        win.join(dup, "w", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    sizes = win.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    ndup = F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long")
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            ndup.alias("n_dup_windows"),
            F.round(ndup / F.col("n_windows"), 6).alias("dup_span_ratio"),
        )
        .orderBy("doc_id")
    )


def _q_kmeans_clusters(spark, sf):
    """Embedding-space cluster profile: per-cell size, representative
    (min vec_id), and mean vector norm of the k-means partition the IVF
    family fits — the corpus-topology summary a data-mixing pipeline
    reads before choosing sampling weights. Reuses the ONE fitted
    quantizer + checkpointed assignment per (session, sf)
    (`_ivf_assign2_cached`, rank 0 ≡ the Lloyd top-1 cell ≡ the
    oracle's `fa`), so the query itself is a single groupBy over the
    materialized assignment. mean_nrm goes through micro-scaled BIGINT
    sums (the `_det_sum_value` pattern) so partition order can't move a
    rounding boundary."""
    a = _ivf_assign2_cached(spark, sf).where(F.col("rank") == 0)
    per = a.select(
        "cell",
        "vec_id",
        F.round(F.col("nrm") * F.lit(1e6)).cast("long").alias("nrm_mic"),
    )
    return (
        per.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
            F.sum("nrm_mic").alias("sum_mic"),
        )
        .select(
            "cell",
            "n_vecs",
            "min_vec_id",
            F.round(F.col("sum_mic") / F.col("n_vecs") / F.lit(1e6), 6).alias(
                "mean_nrm"
            ),
        )
        .orderBy("cell")
    )


_MEDIA_DOCS = 64          # doc_id < 64 → 64 media rows at sf ≥ 0.01
_MEDIA_W, _MEDIA_H = 16, 12   # PPM image geometry (W*H*3 = 576 bytes)
# BMP geometry chosen so the row stride NEEDS padding (18*3 = 54 → 56):
# a stride bug in either codec half shifts bytes and breaks the oracle
_MEDIA_BMP_W, _MEDIA_BMP_H = 18, 10
_MEDIA_SAMPLES = 256      # WAV sample count (per channel)


def _q_media_features(spark, sf):
    """Multimodal feature statistics, ORACLE-CHECKED (VERDICT r3 missing
    #2; r4 next-steps #6 widened it to EVERY codec branch): each doc gets
    a deterministic media blob derived from its doc_id, rotating by
    doc_id % 4 through all four real pure-numpy codecs in
    ml/multimodal.py —

      0: P6 PPM        pixel byte i   = (doc_id*7 + i) % 256
      1: WAV 8 kHz mono  sample i     = (doc_id*31 + i*17) % 65536 − 32768
      2: 24-bit BMP    pixel byte i   = (doc_id*11 + i) % 256
         (18-px-wide rows ⇒ 4-byte stride padding is exercised, plus the
         bottom-up flip and BGR↔RGB swap round-trip)
      3: WAV 16 kHz STEREO  flat j    = (doc_id*13 + (j//2)*29 + (j%2)*7)
                                         % 65536 − 32768
         (channel interleave round-trip is exercised)

    — built and then DECODED inside one Arrow-batched mapInPandas
    kernel. The emitted integer statistics come from the DECODED arrays,
    so any codec round-trip defect (header math, offsets, stride,
    endianness, channel order) breaks the match against the DuckDB
    closed-form oracle.

    At scale this is the training-pipeline shape: media as opaque binary
    columns + typed metadata, decode/feature-extract as a map-side
    Arrow kernel — no shuffle, no driver involvement."""
    import pandas as pd

    w, h, ns = _MEDIA_W, _MEDIA_H, _MEDIA_SAMPLES
    bw, bh = _MEDIA_BMP_W, _MEDIA_BMP_H

    def kernel(batches):
        import numpy as np

        from searchengine_spark.ml.multimodal import (
            decode_bmp,
            decode_ppm,
            decode_wav,
            encode_bmp,
            encode_ppm,
            encode_wav,
        )

        for pdf in batches:
            out = {
                "doc_id": [], "kind": [], "n_values": [],
                "val_sum": [], "val_min": [], "val_max": [],
            }
            for doc_id in pdf["doc_id"].tolist():
                branch = doc_id % 4
                if branch == 0:
                    raw = (doc_id * 7 + np.arange(w * h * 3)) % 256
                    blob = encode_ppm(raw.astype(np.uint8).reshape(h, w, 3))
                    vals = decode_ppm(blob).astype(np.int64).ravel()
                    kind = "image/ppm"
                elif branch == 2:
                    raw = (doc_id * 11 + np.arange(bw * bh * 3)) % 256
                    blob = encode_bmp(raw.astype(np.uint8).reshape(bh, bw, 3))
                    vals = decode_bmp(blob).astype(np.int64).ravel()
                    kind = "image/bmp"
                elif branch == 1:
                    raw = (doc_id * 31 + np.arange(ns) * 17) % 65536 - 32768
                    blob = encode_wav(raw.astype(np.int16), rate=8000)
                    dec, rate = decode_wav(blob)
                    assert rate == 8000 and dec.shape[1] == 1
                    vals = dec.astype(np.int64).ravel()
                    kind = "audio/wav8k"
                else:
                    j = np.arange(ns * 2)
                    raw = (doc_id * 13 + (j // 2) * 29 + (j % 2) * 7) % 65536 - 32768
                    blob = encode_wav(
                        raw.astype(np.int16).reshape(ns, 2), rate=16000
                    )
                    dec, rate = decode_wav(blob)
                    assert rate == 16000 and dec.shape[1] == 2
                    # reshape(-1, 2).ravel() restores the interleaved flat
                    # order, so the closed form indexes by flat j directly
                    vals = dec.astype(np.int64).ravel()
                    kind = "audio/wav16k"
                out["doc_id"].append(doc_id)
                out["kind"].append(kind)
                out["n_values"].append(int(vals.size))
                out["val_sum"].append(int(vals.sum()))
                out["val_min"].append(int(vals.min()))
                out["val_max"].append(int(vals.max()))
            yield pd.DataFrame(out)

    return (
        _docs(spark, sf)
        .select("doc_id")
        .where(F.col("doc_id") < _MEDIA_DOCS)
        .mapInPandas(
            kernel,
            "doc_id long, kind string, n_values long, "
            "val_sum long, val_min long, val_max long",
        )
        .orderBy("doc_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "term_stats": _q_term_stats,
        "doc_lengths": _q_doc_lengths,
        "tfidf_topk": _q_tfidf_topk,
        "bm25_topk": _q_bm25_topk,
        "boolean_and": _q_boolean_and,
        "boolean_or": _q_boolean_or,
        "boolean_andnot": _q_boolean_andnot,
        "phrase_adjacent": _q_phrase,
        "dedup_exact": _q_dedup_exact,
        "jaccard_pairs": _q_jaccard_pairs,
        "dedup_groups": _q_dedup_groups,
        "pipeline_clean_corpus": _q_pipeline_clean_corpus,
        "minhash_signatures": _q_minhash_signatures,
        "simhash_fingerprints": _q_simhash,
        "lsh_band_pairs": _q_lsh_band_pairs,
        "lsh_jaccard_verified": _q_lsh_jaccard_verified,
        "cosine_topk": _q_cosine_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "embedding_neardup_pairs": _q_embedding_neardup_pairs,
        "token_counts": _q_token_counts,
        "lang_id_heuristic": _q_lang_id,
        "doc_fingerprint": _q_doc_fingerprint,
        "lang_stats": _q_lang_stats,
        "quality_scores": _q_quality_scores,
        "quality_repetition": _q_quality_repetition,
        "quality_lm_score": _q_quality_lm,
        "stratified_sample": _q_stratified_sample,
        "decontaminate_overlap": _q_decontaminate,
        "containment_pairs": _q_containment_pairs,
        "span_dedup_stats": _q_span_dedup_stats,
        "top_terms_per_doc": _q_top_terms,
        "kmeans_clusters": _q_kmeans_clusters,
        "events_windowed": _q_events_windowed,
        "events_sessions": _q_events_sessions,
        "events_json": _q_events_json,
        "events_rollup": _q_events_rollup,
        "media_features": _q_media_features,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

def _ivf_cos(a, b):
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def _ivf_fit_ctes() -> list[str]:
    """The shared DuckDB k-means CTE chain (mirrors _ivf_fit: same Lloyd
    iterations, integer-scaled centroid means, tiebreaks), ending in
    ``fa(vec_id, v, cell)`` — the final assignment both ANN oracles
    build on."""
    cos = _ivf_cos
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        # adaptive K mirror of _ivf_k: clamp(n // 250, 8, 256)
        f"kk AS (SELECT least({_IVF_CELLS_MAX}, greatest({_IVF_CELLS}, "
        f"count(*) // {_IVF_VECS_PER_CELL})) AS k FROM e)",
        "c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e, kk WHERE vec_id < kk.k)",
    ]
    prev = "c0"
    for it in range(_IVF_ITERS):
        a, m, nxt = f"a{it}", f"m{it}", f"c{it + 1}"
        ctes.append(
            f"""{a} AS (
              SELECT vec_id, v, cid AS cell FROM (
                SELECT e.vec_id, e.v, {prev}.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {cos('e.v', f'{prev}.cv')} DESC, {prev}.cid ASC) AS rn
                FROM e, {prev}) WHERE rn = 1)"""
        )
        ctes.append(
            f"""{m} AS (
              SELECT cell, dim,
                     (CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS BIGINT) / count(*)) / 1e6 AS m
              FROM (SELECT cell, v[i] AS x, i AS dim
                    FROM {a}, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i))
              GROUP BY cell, dim)"""
        )
        ctes.append(
            f"{nxt} AS (SELECT cell AS cid, list(m ORDER BY dim) AS cv FROM {m} GROUP BY cell)"
        )
        prev = nxt
    ctes.append(
        f"""fa AS (
          SELECT vec_id, v, cid AS cell FROM (
            SELECT e.vec_id, e.v, {prev}.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {cos('e.v', f'{prev}.cv')} DESC, {prev}.cid ASC) AS rn
            FROM e, {prev}) WHERE rn = 1)"""
    )
    ctes.append(f"_prev AS (SELECT * FROM {prev})")
    return ctes


def _ivf_oracle_sql() -> str:
    """DuckDB mirror of _q_ann_ivf_topk: shared k-means CTEs + the
    nprobe-pruned query-side scan."""
    cos = _ivf_cos
    ctes = _ivf_fit_ctes()
    prev = "_prev"
    ctes.append("q AS (SELECT v AS qv FROM e WHERE vec_id = 0)")
    ctes.append(
        f"""qc AS (
          SELECT cid AS cell FROM (
            SELECT cid, row_number() OVER (
              ORDER BY {cos(f'{prev}.cv', 'q.qv')} DESC, cid ASC) AS rn
            FROM {prev}, q) WHERE rn <= {_IVF_NPROBE})"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT vec_id, round({cos('v', 'qv')}, 6) AS cos
        FROM fa JOIN qc USING (cell), q
        WHERE vec_id <> 0
        ORDER BY round({cos('v', 'qv')}, 6) DESC, vec_id ASC
        LIMIT 10"""
    )


def _neardup_oracle_sql() -> str:
    """DuckDB mirror of _q_embedding_neardup_pairs: shared k-means CTEs,
    top-2-cell (multi-probe) assignment, shared-cell self-join with
    pair dedup, rounded-cosine ordering."""
    cos = _ivf_cos
    ctes = _ivf_fit_ctes()
    ctes.append(
        f"""fa2 AS (
          SELECT vec_id, v, cid AS cell FROM (
            SELECT e.vec_id, e.v, _prev.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {cos('e.v', '_prev.cv')} DESC, _prev.cid ASC) AS rn
            FROM e, _prev) WHERE rn <= {_NEARDUP_NPROBE})"""
    )
    ctes.append(
        """p AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM fa2 a JOIN fa2 b ON a.cell = b.cell AND a.vec_id < b.vec_id)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT p.vec_a, p.vec_b, round({cos('ea.v', 'eb.v')}, 6) AS cos
        FROM p JOIN e ea ON ea.vec_id = p.vec_a
               JOIN e eb ON eb.vec_id = p.vec_b
        ORDER BY round({cos('ea.v', 'eb.v')}, 6) DESC, vec_a ASC, vec_b ASC
        LIMIT 20"""
    )


def _kmeans_oracle_sql() -> str:
    """DuckDB mirror of _q_kmeans_clusters: the shared k-means CTE chain's
    final assignment `fa`, per-cell size/representative/mean-norm with the
    micro-scaled BIGINT sum (division order sum / n / 1e6 mirrored)."""
    ctes = _ivf_fit_ctes()
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
        SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_vec_id,
               round(CAST(sum(CAST(round(sqrt(list_dot_product(v, v)) * 1e6)
                                   AS BIGINT)) AS BIGINT)
                     / count(*) / 1e6, 6) AS mean_nrm
        FROM fa GROUP BY cell ORDER BY cell"""
    )


def oracle_sql() -> dict[str, str]:
    tokens = _TOKENS_SQL + " WHERE text IS NOT NULL"
    toks = f"(SELECT doc_id, term FROM ({tokens}) WHERE term <> '')"
    tf_all = f"(SELECT doc_id, term, count(*) AS tf FROM {toks} t GROUP BY doc_id, term)"
    qterms = ",".join(f"'{t}'" for t in _Q_TERMS)
    n_docs = "(SELECT count(*) FROM documents)"
    ld = (
        f"(SELECT doc_id, sqrt(sum(pow(1.0 + ln(tf), 2.0))) AS ld FROM {tf_all} GROUP BY doc_id)"
    )
    shingles = (
        "(SELECT DISTINCT doc_id, concat_ws(' ', t1, t2, t3) AS shingle FROM ("
        "  SELECT doc_id, toks[i] AS t1, toks[i+1] AS t2, toks[i+2] AS t3"
        "  FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents),"
        "       LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i)"
        ") WHERE t1 IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL)"
    )
    mh_cols = ",".join(
        f"min(CAST(('0x' || substr(md5('{i // 2} ' || shingle), {1 + 15 * (i % 2)}, 15)) AS BIGINT)) AS mh{i}"
        for i in range(_MINHASH_K)
    )
    sigs = f"(SELECT doc_id, {mh_cols} FROM {shingles} sh GROUP BY doc_id)"
    simhash_sums = ",".join(
        f"sum(((h >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(_SIMHASH_BITS)
    )
    simhash_fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SIMHASH_BITS)
    )
    lsh_bands = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, mh{2 * i} AS h1, mh{2 * i + 1} AS h2 FROM sigs"
        for i in range(_LSH_BANDS)
    )
    grams = (
        "(SELECT doc_id, substr(lower(text), i, 8) AS gram"
        " FROM documents, LATERAL (SELECT unnest(generate_series(1,"
        " greatest(length(lower(text)) - 7, 1))) AS i))"
    )
    return {
        "term_stats": f"""
            SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf,
                   round(ln(1.0 + {n_docs} * 1.0 / count(DISTINCT doc_id)), 6) AS wqt
            FROM {toks} t GROUP BY term
            ORDER BY df DESC, term ASC LIMIT 50""",
        "doc_lengths": f"""
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl, count(*) AS n_terms,
                   round(sqrt(list_reduce(list_sort(list(pow(1.0 + ln(tf), 2.0))),
                                          (a, b) -> a + b)), 6) AS ld
            FROM {tf_all} GROUP BY doc_id ORDER BY doc_id""",
        "tfidf_topk": f"""
            WITH tf AS (SELECT * FROM {tf_all} WHERE term IN ({qterms})),
                 df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
                 acc AS (
                   SELECT tf.doc_id, sum((1.0 + ln(tf.tf)) * ln(1.0 + {n_docs} * 1.0 / df.df)) AS acc
                   FROM tf JOIN df USING (term) GROUP BY tf.doc_id)
            SELECT acc.doc_id AS doc_id, round(acc.acc / ld.ld, 6) AS score
            FROM acc JOIN {ld} ld ON acc.doc_id = ld.doc_id
            ORDER BY score DESC, acc.doc_id ASC LIMIT 20""",
        "bm25_topk": f"""
            WITH tf AS (SELECT * FROM {tf_all} WHERE term IN ({qterms})),
                 df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
                 dl AS (SELECT doc_id, count(*) AS dl FROM {toks} t GROUP BY doc_id),
                 avgdl AS (SELECT avg(dl) AS avgdl FROM dl)
            SELECT tf.doc_id AS doc_id,
                   round(sum(ln(({n_docs} - df.df + 0.5) / (df.df + 0.5) + 1.0)
                         * (tf.tf * ({BM25_K1} + 1.0))
                         / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / avgdl.avgdl))), 6) AS score
            FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, avgdl
            GROUP BY tf.doc_id
            ORDER BY score DESC, tf.doc_id ASC LIMIT 20""",
        "boolean_and": f"""
            SELECT DISTINCT a.doc_id FROM {toks} a JOIN {toks} b USING (doc_id)
            WHERE a.term = 'spark' AND b.term = 'merge' ORDER BY doc_id""",
        "boolean_or": f"""
            SELECT DISTINCT doc_id FROM {toks} t
            WHERE term IN ('spark', 'vector') ORDER BY doc_id""",
        "boolean_andnot": f"""
            SELECT DISTINCT doc_id FROM {toks} a
            WHERE term = 'spark' AND doc_id NOT IN (
              SELECT doc_id FROM {toks} b WHERE term = 'slow')
            ORDER BY doc_id""",
        "phrase_adjacent": """
            SELECT doc_id FROM (
              SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents)
            WHERE len(list_filter(generate_series(1, greatest(len(toks) - 1, 0)),
                      i -> toks[i] = 'batch' AND toks[i+1] = 'batch')) > 0
            ORDER BY doc_id""",
        "dedup_exact": """
            SELECT md5(lower(text)) AS text_hash, count(*) AS n, min(doc_id) AS keep_doc
            FROM documents GROUP BY 1 ORDER BY text_hash""",
        "jaccard_pairs": f"""
            WITH sh_all AS (SELECT * FROM {shingles}),
                 sh AS (SELECT * FROM sh_all WHERE shingle IN (
                          SELECT shingle FROM sh_all GROUP BY shingle
                          HAVING count(*) <= {_JACCARD_MAX_DF})),
                 sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
                 pairs AS (
                   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
                   GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
            FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
            WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.5
            ORDER BY doc_a, doc_b""",
        "dedup_groups": f"""
            WITH RECURSIVE
                 sh_all AS (SELECT * FROM {shingles}),
                 sh AS (SELECT * FROM sh_all WHERE shingle IN (
                          SELECT shingle FROM sh_all GROUP BY shingle
                          HAVING count(*) <= {_JACCARD_MAX_DF})),
                 sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
                 inter AS (
                   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                   FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
                   GROUP BY 1, 2),
                 pairs AS (
                   SELECT doc_a, doc_b
                   FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                              JOIN sizes sb ON doc_b = sb.doc_id
                   WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.5),
                 edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                           UNION SELECT doc_b, doc_a FROM pairs),
                 reach(u, v) AS (
                   SELECT u, v FROM edges
                   UNION
                   SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
                 canon AS (SELECT u AS doc_id, least(u, min(v)) AS canonical_id
                           FROM reach GROUP BY u),
                 lab AS (SELECT d.doc_id,
                                COALESCE(c.canonical_id, d.doc_id) AS canonical_id
                         FROM documents d LEFT JOIN canon c USING (doc_id))
            SELECT doc_id, canonical_id,
                   count(*) OVER (PARTITION BY canonical_id) AS group_size,
                   doc_id = canonical_id AS is_canonical
            FROM lab ORDER BY doc_id""",
        "pipeline_clean_corpus": f"""
            WITH RECURSIVE
                 met AS (SELECT doc_id, text, coalesce(lang, '') AS lang,
                                len(toks) AS n_tok,
                                len(list_distinct(toks)) * 1.0 / len(toks) AS dr
                         FROM (SELECT doc_id, text, lang,
                                      list_filter(string_split(lower(text), ' '),
                                                  x -> x <> '') AS toks
                               FROM documents)),
                 staged AS (SELECT doc_id, text,
                                   CASE WHEN text IS NULL THEN 'empty'
                                        WHEN lang <> 'en' THEN 'lang'
                                        WHEN n_tok < {_PIPE_MIN_TOKENS}
                                             OR dr < {_PIPE_MIN_DISTINCT_RATIO}
                                             THEN 'quality'
                                   END AS drop0
                            FROM met),
                 surv0 AS (SELECT doc_id, text,
                                  min(doc_id) OVER (PARTITION BY md5(lower(text)))
                                      AS ecanon
                           FROM staged WHERE drop0 IS NULL),
                 surv1 AS (SELECT doc_id, text FROM surv0 WHERE doc_id = ecanon),
                 sh_all AS (SELECT DISTINCT doc_id,
                                   concat_ws(' ', t1, t2, t3) AS shingle
                            FROM (SELECT doc_id, toks[i] AS t1, toks[i+1] AS t2,
                                         toks[i+2] AS t3
                                  FROM (SELECT doc_id,
                                               list_filter(string_split(lower(text), ' '),
                                                           x -> x <> '') AS toks
                                        FROM surv1),
                                       LATERAL (SELECT unnest(generate_series(1,
                                                greatest(len(toks) - 2, 0))) AS i))
                            WHERE t1 IS NOT NULL AND t2 IS NOT NULL
                                  AND t3 IS NOT NULL),
                 sh AS (SELECT * FROM sh_all WHERE shingle IN (
                          SELECT shingle FROM sh_all GROUP BY shingle
                          HAVING count(*) <= {_JACCARD_MAX_DF})),
                 sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
                 inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                                  count(*) AS it
                           FROM sh a JOIN sh b USING (shingle)
                           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
                 pairs AS (SELECT doc_a, doc_b
                           FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                                      JOIN sizes sb ON doc_b = sb.doc_id
                           WHERE it * 1.0 / (sa.n_sh + sb.n_sh - it) >= 0.5),
                 edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                           UNION SELECT doc_b, doc_a FROM pairs),
                 reach(u, v) AS (
                   SELECT u, v FROM edges
                   UNION
                   SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
                 canon AS (SELECT u AS doc_id, least(u, min(v)) AS ncanon
                           FROM reach GROUP BY u),
                 lab AS (SELECT s.doc_id, s.ecanon,
                                COALESCE(c.ncanon, s.doc_id) AS ncanon
                         FROM surv0 s LEFT JOIN canon c USING (doc_id))
            SELECT st.doc_id,
                   CASE WHEN st.drop0 IS NOT NULL THEN st.drop0
                        WHEN st.doc_id <> l.ecanon THEN 'exact_dup'
                        WHEN st.doc_id <> l.ncanon THEN 'near_dup'
                        ELSE 'kept' END AS status,
                   CASE WHEN st.drop0 IS NOT NULL THEN NULL
                        WHEN st.doc_id <> l.ecanon THEN l.ecanon
                        ELSE l.ncanon END AS canonical_id
            FROM staged st LEFT JOIN lab l USING (doc_id)
            ORDER BY doc_id""",
        "minhash_signatures": f"""
            SELECT doc_id, {mh_cols} FROM {shingles} sh GROUP BY doc_id ORDER BY doc_id""",
        "simhash_fingerprints": f"""
            WITH t AS (SELECT doc_id,
                              CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS h
                       FROM {toks} tk),
                 s AS (SELECT doc_id, {simhash_sums} FROM t GROUP BY doc_id)
            SELECT doc_id, CAST({simhash_fp} AS BIGINT) AS simhash
            FROM s ORDER BY doc_id""",
        "lsh_band_pairs": f"""
            WITH sigs AS (SELECT * FROM {sigs} sg),
                 bands AS ({lsh_bands})
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b USING (band, h1, h2)
            WHERE a.doc_id < b.doc_id
            ORDER BY doc_a, doc_b""",
        "lsh_jaccard_verified": f"""
            WITH sigs AS (SELECT * FROM {sigs} sg),
                 bands AS ({lsh_bands}),
                 cand AS (
                   SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM bands a JOIN bands b USING (band, h1, h2)
                   WHERE a.doc_id < b.doc_id),
                 sh_all AS (SELECT * FROM {shingles}),
                 sh AS (SELECT * FROM sh_all WHERE shingle IN (
                          SELECT shingle FROM sh_all GROUP BY shingle
                          HAVING count(*) <= {_JACCARD_MAX_DF})),
                 sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
                 inter AS (
                   SELECT c.doc_a, c.doc_b, count(*) AS inter
                   FROM cand c
                   JOIN sh a ON a.doc_id = c.doc_a
                   JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
                   GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
            FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                       JOIN sizes sb ON doc_b = sb.doc_id
            WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.5
            ORDER BY doc_a, doc_b""",
        "ann_ivf_topk": _ivf_oracle_sql(),
        "embedding_neardup_pairs": _neardup_oracle_sql(),
        "token_counts": """
            SELECT doc_id,
                   len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_ws_tokens,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_subword_tokens,
                   length(lower(text)) AS n_chars_total,
                   round(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) * 1.0
                         / len(regexp_extract_all(lower(text), '[a-z0-9]+')), 6) AS avg_subword_len
            FROM documents ORDER BY doc_id""",
        "lang_id_heuristic": """
            WITH d AS (SELECT doc_id, lang,
                              list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
                       FROM documents),
                 r AS (SELECT doc_id, lang,
                              len(list_filter(toks, x -> x IN ('the', 'a'))) * 1.0 / len(toks) AS sr
                       FROM d)
            SELECT doc_id, lang, round(sr, 6) AS stop_ratio,
                   CASE WHEN sr >= 0.05 THEN 'en' ELSE 'und' END AS predicted_lang,
                   CAST(CASE WHEN sr >= 0.05 THEN 'en' ELSE 'und' END = lang AS INT) AS agrees
            FROM r ORDER BY doc_id""",
        "doc_fingerprint": f"""
            SELECT doc_id,
                   min(CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)) AS fp_min,
                   max(CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)) AS fp_max,
                   count(DISTINCT gram) AS n_grams
            FROM {grams} g GROUP BY doc_id ORDER BY doc_id""",
        "cosine_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                 q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_dot_product(v, qv) /
                         (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
            FROM e, q WHERE vec_id <> 0
            ORDER BY cos DESC, vec_id ASC LIMIT 10""",
        "lang_stats": """
            SELECT lang, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang""",
        "events_windowed": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events,
                   round(CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6, 6) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
        "events_sessions": f"""
            WITH flagged AS (
              SELECT user_id, ts,
                     CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                          > {_SESSION_GAP_MIN} * 60 THEN 1 ELSE 0 END AS new_s
              FROM events),
                 sess AS (
              SELECT user_id,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flagged),
                 per_session AS (
              SELECT user_id, session_id, count(*) AS n_ev
              FROM sess GROUP BY user_id, session_id)
            SELECT user_id, count(*) AS n_sessions, max(n_ev) AS max_session_events
            FROM per_session GROUP BY user_id ORDER BY user_id""",
        "events_json": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
                   round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k
            FROM events GROUP BY event_type ORDER BY event_type""",
        "events_rollup": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(day, 'ALL') AS day,
                   count(*) AS n,
                   round(CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6, 6) AS sum_value
            FROM (SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, value
                  FROM events)
            GROUP BY ROLLUP (event_type, day)
            ORDER BY 1, 2""",
        "quality_scores": """
            SELECT doc_id, len(toks) AS n_tokens,
                   round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS distinct_ratio,
                   round(len(list_filter(toks, x -> x IN ('the', 'a'))) * 1.0 / len(toks), 6) AS stopword_ratio
            FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
                  FROM documents)
            ORDER BY doc_id""",
        # repetition signals: bigram list built positionally (DuckDB
        # range(1, 1) is EMPTY, unlike Spark's descending sequence —
        # no guard needed here); mode counts via unnest + two-level
        # group-by; NULL/short-doc denominators yield NULL on both
        # sides
        "quality_repetition": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents
            ), b AS (
              SELECT doc_id, toks,
                     CAST(len(toks) AS BIGINT) AS n_tok,
                     list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i + 1]) AS bgs
              FROM t
            ), tc AS (
              SELECT doc_id, max(c) AS mc_tok FROM (
                SELECT doc_id, g, count(*) AS c
                FROM b, UNNEST(toks) AS u(g) GROUP BY 1, 2) GROUP BY 1
            ), bc AS (
              SELECT doc_id, max(c) AS mc_bg FROM (
                SELECT doc_id, g, count(*) AS c
                FROM b, UNNEST(bgs) AS u(g) GROUP BY 1, 2) GROUP BY 1
            )
            SELECT b.doc_id,
                   n_tok AS n_tokens,
                   round(mc_tok * 1.0 / n_tok, 6) AS top_token_ratio,
                   CASE WHEN n_tok >= 2
                        THEN round(1 - len(list_distinct(bgs)) * 1.0 / (n_tok - 1), 6)
                   END AS dup_bigram_ratio,
                   CASE WHEN n_tok >= 2
                        THEN round(mc_bg * 1.0 / (n_tok - 1), 6)
                   END AS top_bigram_ratio
            FROM b LEFT JOIN tc USING (doc_id) LEFT JOIN bc USING (doc_id)
            ORDER BY doc_id""",
        # per-term ln rounded to integer micro-nats BEFORE the per-doc
        # sum (associative BIGINT arithmetic — partition order can't
        # move a rounding boundary); division order (sum / n / 1e6)
        # mirrored exactly
        "quality_lm_score": f"""
            WITH cf AS (SELECT term, count(*) AS cf FROM {toks} t GROUP BY term),
                 tot AS (SELECT count(*) AS tot FROM {toks} t),
                 lp AS (SELECT term,
                               CAST(round(-ln(cf / tot) * 1e6) AS BIGINT) AS nll_mic
                        FROM cf, tot)
            SELECT tf.doc_id AS doc_id,
                   CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                   CAST(sum(tf.tf * lp.nll_mic) AS BIGINT) AS nll_micros,
                   round(CAST(sum(tf.tf * lp.nll_mic) AS BIGINT)
                         / CAST(sum(tf.tf) AS BIGINT) / 1e6, 6) AS mean_nll
            FROM {tf_all} tf JOIN lp USING (term)
            GROUP BY tf.doc_id ORDER BY doc_id""",
        "stratified_sample": f"""
            SELECT lang, sample_rank, doc_id FROM (
              SELECT lang, doc_id,
                     CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT)
                       AS sample_rank
              FROM documents)
            WHERE sample_rank <= {_SAMPLE_PER_LANG}
            ORDER BY lang, sample_rank""",
        "decontaminate_overlap": f"""
            WITH sh AS (SELECT * FROM {shingles}),
                 ev AS (SELECT DISTINCT shingle FROM sh
                        WHERE doc_id % {_EVAL_MOD} = 0),
                 tr AS (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} <> 0),
                 sizes AS (SELECT doc_id, count(*) AS n_shingles
                           FROM tr GROUP BY doc_id),
                 hits AS (SELECT doc_id, count(*) AS hits FROM tr
                          WHERE shingle IN (SELECT shingle FROM ev)
                          GROUP BY doc_id)
            SELECT s.doc_id AS doc_id, s.n_shingles,
                   CAST(coalesce(h.hits, 0) AS BIGINT) AS n_contaminated,
                   round(CAST(coalesce(h.hits, 0) AS BIGINT) / s.n_shingles, 6)
                     AS contamination_ratio,
                   CASE WHEN CAST(coalesce(h.hits, 0) AS BIGINT) / s.n_shingles
                             >= 0.2
                        THEN 1 ELSE 0 END AS flagged
            FROM sizes s LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""",
        "containment_pairs": f"""
            WITH sh_all AS (SELECT * FROM {shingles}),
                 sh AS (SELECT * FROM sh_all WHERE shingle IN (
                          SELECT shingle FROM sh_all GROUP BY shingle
                          HAVING count(*) <= {_JACCARD_MAX_DF})),
                 sizes AS (SELECT doc_id, count(*) AS n_src
                           FROM sh GROUP BY doc_id),
                 inter AS (
                   SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst,
                          count(*) AS inter
                   FROM sh a JOIN sh b USING (shingle)
                   WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
            SELECT doc_src, doc_dst, inter,
                   round(inter * 1.0 / n_src, 6) AS containment
            FROM inter JOIN sizes s ON doc_src = s.doc_id
            WHERE round(inter * 1.0 / n_src, 6) >= {_CONTAIN_THRESHOLD}
            ORDER BY doc_src, doc_dst""",
        # rank over the ROUNDED weight (term tiebreak) so rank
        # assignment can't flip on a last-ulp ln difference
        "top_terms_per_doc": f"""
            WITH tf AS (SELECT * FROM {tf_all} t),
                 dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
                 scored AS (
                   SELECT tf.doc_id, tf.term,
                          round((1.0 + ln(tf.tf))
                                * ln(1.0 + {n_docs} * 1.0 / dfq.df), 6) AS w
                   FROM tf JOIN dfq USING (term)),
                 r AS (
                   SELECT doc_id, term, w,
                          CAST(row_number() OVER (PARTITION BY doc_id
                            ORDER BY w DESC, term ASC) AS BIGINT) AS rank
                   FROM scored)
            SELECT doc_id, rank, term, w FROM r
            WHERE rank <= {_TOP_TERMS_K} ORDER BY doc_id, rank""",
        "span_dedup_stats": f"""
            WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
                       WHERE length(lower(text)) >= {_SPAN_LEN}),
                 win AS (
                   SELECT doc_id, substr(t, g.i, {_SPAN_LEN}) AS w
                   FROM d, LATERAL (SELECT unnest(generate_series(1,
                        length(t) - {_SPAN_LEN - 1}, {_SPAN_STRIDE})) AS i) g),
                 dup AS (SELECT w FROM win GROUP BY w
                         HAVING count(DISTINCT doc_id) >= 2),
                 sizes AS (SELECT doc_id, count(*) AS n_windows
                           FROM win GROUP BY doc_id),
                 hits AS (SELECT doc_id, count(*) AS n_dup
                          FROM win WHERE w IN (SELECT w FROM dup)
                          GROUP BY doc_id)
            SELECT s.doc_id AS doc_id, s.n_windows,
                   CAST(coalesce(h.n_dup, 0) AS BIGINT) AS n_dup_windows,
                   round(CAST(coalesce(h.n_dup, 0) AS BIGINT) / s.n_windows, 6)
                     AS dup_span_ratio
            FROM sizes s LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""",
        "kmeans_clusters": _kmeans_oracle_sql(),
        # closed-form mirror of the media kernel: the Spark side encodes
        # REAL PPM/BMP/WAV blobs from the same doc_id-derived byte
        # formulas and computes stats from the DECODED arrays; the oracle
        # computes the formulas directly — equality proves every codec
        # round-trip branch (PPM header, BMP stride/flip/BGR, mono 8 kHz
        # and interleaved stereo 16 kHz PCM)
        "media_features": f"""
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < {_MEDIA_DOCS}),
            ppm AS (
              SELECT d.doc_id, 'image/ppm' AS kind,
                     count(*) AS n_values,
                     CAST(sum((d.doc_id * 7 + g.i) % 256) AS BIGINT) AS val_sum,
                     CAST(min((d.doc_id * 7 + g.i) % 256) AS BIGINT) AS val_min,
                     CAST(max((d.doc_id * 7 + g.i) % 256) AS BIGINT) AS val_max
              FROM d, generate_series(0, {_MEDIA_W * _MEDIA_H * 3 - 1}) AS g(i)
              WHERE d.doc_id % 4 = 0 GROUP BY d.doc_id),
            bmp AS (
              SELECT d.doc_id, 'image/bmp' AS kind,
                     count(*) AS n_values,
                     CAST(sum((d.doc_id * 11 + g.i) % 256) AS BIGINT) AS val_sum,
                     CAST(min((d.doc_id * 11 + g.i) % 256) AS BIGINT) AS val_min,
                     CAST(max((d.doc_id * 11 + g.i) % 256) AS BIGINT) AS val_max
              FROM d, generate_series(0, {_MEDIA_BMP_W * _MEDIA_BMP_H * 3 - 1}) AS g(i)
              WHERE d.doc_id % 4 = 2 GROUP BY d.doc_id),
            wav8 AS (
              SELECT d.doc_id, 'audio/wav8k' AS kind,
                     count(*) AS n_values,
                     CAST(sum((d.doc_id * 31 + g.i * 17) % 65536 - 32768) AS BIGINT) AS val_sum,
                     CAST(min((d.doc_id * 31 + g.i * 17) % 65536 - 32768) AS BIGINT) AS val_min,
                     CAST(max((d.doc_id * 31 + g.i * 17) % 65536 - 32768) AS BIGINT) AS val_max
              FROM d, generate_series(0, {_MEDIA_SAMPLES - 1}) AS g(i)
              WHERE d.doc_id % 4 = 1 GROUP BY d.doc_id),
            wav16 AS (
              SELECT d.doc_id, 'audio/wav16k' AS kind,
                     count(*) AS n_values,
                     CAST(sum((d.doc_id * 13 + (g.i // 2) * 29 + (g.i % 2) * 7) % 65536 - 32768) AS BIGINT) AS val_sum,
                     CAST(min((d.doc_id * 13 + (g.i // 2) * 29 + (g.i % 2) * 7) % 65536 - 32768) AS BIGINT) AS val_min,
                     CAST(max((d.doc_id * 13 + (g.i // 2) * 29 + (g.i % 2) * 7) % 65536 - 32768) AS BIGINT) AS val_max
              FROM d, generate_series(0, {_MEDIA_SAMPLES * 2 - 1}) AS g(i)
              WHERE d.doc_id % 4 = 3 GROUP BY d.doc_id)
            SELECT doc_id, kind, n_values, val_sum, val_min, val_max
            FROM (SELECT * FROM ppm UNION ALL SELECT * FROM bmp
                  UNION ALL SELECT * FROM wav8 UNION ALL SELECT * FROM wav16)
            ORDER BY doc_id""",
    }
