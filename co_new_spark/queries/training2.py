"""Training-pipeline surface, part 2: quality scoring, fingerprinting,
embedding near-dup, multimodal plumbing, shortcode resolution, extraction.

Oracle-checked throughout — entries whose upstream step DuckDB can't
restate (xxhash page generation, centroid assignment) materialize that
intermediate via the mat.py protocol and the oracle re-derives everything
downstream from the same bytes.  Only the mm_* media stubs stay rows-only
(deterministic-fake payload decode, determinism pytest-gated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators import media
from ..sources.pages import stored_pages as pages
from ..sources.tables import load
from ..operators.ann import _cosine
from .training import sql_cosine, sql_cosine_topk

# ---------------------------------------------------------------------------
# train_quality_score — heuristic doc quality (length/punct/alpha), oracle'd
# ---------------------------------------------------------------------------


def t_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return docs.select("doc_id", tx.quality_score(F.col("text")).alias("quality"))


def sql_quality_expr(t: str) -> str:
    """THE SQL restatement of functions/text.quality_score for an arbitrary
    text expression — single source for every oracle that scores quality
    (this module's SQL_QUALITY and e2e_q's pipeline stage)."""
    n = f"CAST(length({t}) AS DOUBLE)"
    na = f"CAST(length(regexp_replace({t}, '[^\\p{{L}}]', '', 'g')) AS DOUBLE)"
    np_ = f"CAST(length(regexp_replace({t}, '[^.,;:!?]', '', 'g')) AS DOUBLE)"
    return (f"round(least({n} / 500.0, 1.0) * 0.4"
            f" + (CASE WHEN {n} > 0 THEN {na} / {n} ELSE 0.0 END) * 0.4"
            f" + (CASE WHEN {n} > 0 THEN 1.0 - least({np_} / greatest({n} / 20.0, 1.0), 1.0)"
            f"     ELSE 0.0 END) * 0.2, 6)")


SQL_QUALITY = f"""
SELECT doc_id, {sql_quality_expr('text')} AS quality FROM documents
"""


# ---------------------------------------------------------------------------
# train_fingerprint — rolling polynomial hash (native fold on both engines)
# ---------------------------------------------------------------------------


def t_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    fp = tx.rolling_fingerprint(F.col("text"))
    return (
        docs.select("doc_id", fp.alias("fp"))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("fp").orderBy("doc_id")))
        .select("doc_id", "fp", (F.col("rn") == 1).alias("is_canonical"))
    )


SQL_FINGERPRINT = f"""
WITH fps AS (
  SELECT doc_id,
         CASE WHEN length(norm) > 0 THEN
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(norm, ''),
                              c -> CAST(unicode(c) AS BIGINT))),
             (acc, c) -> (acc * {tx.FP_BASE} + c) % {tx.FP_MOD})
         ELSE 0 END AS fp
  FROM (SELECT doc_id,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        FROM documents))
SELECT doc_id, fp,
       row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1 AS is_canonical
FROM fps
"""


# ---------------------------------------------------------------------------
# train_embed_neardup — embedding-cosine near-duplicate pairs (exact, oracle'd)
# ---------------------------------------------------------------------------

NEARDUP_SIM = 0.35
# Exact all-pairs is the small-input ground truth; cap the input so the
# correctness run stays O(NEARDUP_CAP^2) regardless of sf (LSH/IVF are the
# scale paths — see t_knn_lsh / t_knn_ivf).
NEARDUP_CAP = 300


def t_embed_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """All vector pairs with cosine >= threshold (exact ground truth).

    At scale this runs AFTER LSH bucketing (train_knn_lsh path); the exact
    pair scan is the correctness oracle and the small-input default.
    """
    from .training import _spread

    emb = _spread(load(spark, sf, "embeddings"), "vec_id") \
        .filter(F.col("vec_id") < NEARDUP_CAP)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b",
                     F.round(_cosine(F.col("va"), F.col("vb")), 6).alias("sim"))
        .filter(F.col("sim") >= NEARDUP_SIM)
    )


SQL_EMBED_NEARDUP = f"""
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({sql_cosine("a.embedding", "b.embedding")}, 6) AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < {NEARDUP_CAP} AND b.vec_id < {NEARDUP_CAP}
) WHERE sim >= {NEARDUP_SIM}
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing over the pages binary payloads (rows-only)
# ---------------------------------------------------------------------------

_PAGES_N = 2500


def t_media_meta(spark: SparkSession, sf: str) -> DataFrame:
    """binary -> typed metadata via mapInPandas; agg by sniffed format.

    The Arrow-batch feature table is materialized so the rollup (counts,
    byte totals, distinct phashes) is hash-checked cross-engine; the decode
    stub itself stays pytest-gated deterministic."""
    from .mat import materialize

    pg = pages(spark, _PAGES_N)
    meta = materialize(
        media.media_meta(pg, bin_col="html", key_col="url")
        .select("format", "n_channels", "n_bytes", "phash"), "media_meta")
    return meta.groupBy("format", "n_channels").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("phash").alias("n_distinct_phash"),
    )


def _sql_media_meta() -> str:
    from .mat import mat_glob

    return f"""
        SELECT format, n_channels, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
               CAST(count(DISTINCT phash) AS BIGINT) AS n_distinct_phash
        FROM read_parquet('{mat_glob("media_meta")}')
        GROUP BY format, n_channels
    """


def t_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling explode shape: 4 'frames' per payload, dedup by hash.

    The exploded frame table is materialized; per-index frame counts and
    distinct-hash counts are re-derived by the oracle from the same bytes."""
    from .mat import materialize

    pg = pages(spark, _PAGES_N)
    fr = materialize(
        media.frame_sample(pg, n_frames=4, bin_col="html", key_col="url")
        .select("frame_idx", "frame_hash"), "frame_sample")
    return fr.groupBy("frame_idx").agg(
        F.count("*").alias("n_frames"),
        F.countDistinct("frame_hash").alias("n_distinct"),
    )


def _sql_frame_sample() -> str:
    from .mat import mat_glob

    return f"""
        SELECT frame_idx, CAST(count(*) AS BIGINT) AS n_frames,
               CAST(count(DISTINCT frame_hash) AS BIGINT) AS n_distinct
        FROM read_parquet('{mat_glob("frame_sample")}')
        GROUP BY frame_idx
    """


def t_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash-style dedup over decoded media features.

    Byte-identical payloads (the duplicated-url groups of the pages fixture)
    must collapse to one canonical url per phash.  The mapInPandas feature
    table (the stubbed decode, pytest-gated deterministic) is materialized;
    the oracle re-derives the window dedup + rollup from those bytes.
    """
    from .mat import materialize

    pg = pages(spark, _PAGES_N)
    meta = materialize(
        media.media_meta(pg, bin_col="html", key_col="url")
        .select("url", "format", "phash"), "phash_meta")
    w = Window.partitionBy("phash").orderBy("url")
    return (
        meta.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("format").agg(F.count("*").alias("n_canonical"))
    )


def _sql_phash_dedup() -> str:
    from .mat import mat_glob

    return f"""
        SELECT format, CAST(count(*) AS BIGINT) AS n_canonical
        FROM (SELECT format,
                     row_number() OVER (PARTITION BY phash ORDER BY url) AS rn
              FROM read_parquet('{mat_glob("phash_meta")}'))
        WHERE rn = 1 GROUP BY format
    """


def t_extract_consistency(spark: SparkSession, sf: str) -> DataFrame:
    """A28 contract: engine extraction of html == the stored text, per url.

    Output: per-lang counts of urls where extracted == stored (must equal
    n_urls) after B14 url-dedup.  The synthetic pages (xxhash-generated, not
    SQL-expressible) are MATERIALIZED; the oracle re-runs the url-dedup AND
    the full pinned extraction spec (webtext_q._sql_extract_expr) over the
    same bytes — so this checks the extraction UDF itself, like
    web_extract_parity does over the committed fixture.
    """
    from .mat import materialize
    from .webtext_q import extraction_parity

    return extraction_parity(materialize(
        pages(spark, _PAGES_N).select("url", "lang", "warc_ts", "html", "text")
        .coalesce(1),
        "extract_pages"))


def _sql_extract_consistency() -> str:
    from .mat import mat_glob
    from .webtext_q import sql_extraction_parity

    return sql_extraction_parity(f"read_parquet('{mat_glob('extract_pages')}')")


def t_knn_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-bucketed ANN.  The centroid-assigned candidate/query bucket
    tables are MATERIALIZED (mat.py protocol); the oracle re-derives the
    probe join + cosine re-rank from the same bytes.  Centroid assignment /
    recall vs brute force stay pytest-gated."""
    from ..operators.ann import ivf_knn

    return ivf_knn(load(spark, sf, "embeddings"),
                   k=5, n_query=20, n_centroids=16, nprobe=6,
                   mat_prefix="knn_ivf")


# ---------------------------------------------------------------------------
# Contamination scan + reproducible hash sampling (oracle-checked)
# ---------------------------------------------------------------------------

_PROBES = ["query plan", "shuffle join", "broadcast hash", "window agg"]


def t_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination scan: docs containing any probe phrase.

    The multi-pattern containment check a training pipeline runs against
    eval-set strings before training; probes broadcast (at scale: Aho-
    Corasick in a pandas UDF; here the built-in contains stays JVM-side).
    """
    docs = load(spark, sf, "documents")
    hit = None
    flags = []
    for i, p in enumerate(_PROBES):
        f = F.col("text").contains(p)
        flags.append(f.cast("int").alias(f"hit_{i}"))
        hit = f if hit is None else (hit | f)
    return docs.filter(hit).select("doc_id", *flags)


SQL_CONTAMINATION = f"""
SELECT doc_id,
       {", ".join(f"CAST(contains(text, '{p}') AS INT) AS hit_{i}"
                  for i, p in enumerate(_PROBES))}
FROM documents
WHERE {" OR ".join(f"contains(text, '{p}')" for p in _PROBES)}
"""


def t_contamination_scaled(spark: SparkSession, sf: str) -> DataFrame:
    """The contamination scan's production shape (RE2-alternation prefilter +
    narrow exact pass in one Arrow crossing — tx.multi_probe_scan_udf),
    producing EXACTLY train_contamination's output so the same SQL oracle
    hash-checks both implementations against each other."""
    docs = load(spark, sf, "documents")
    hit = docs.withColumn("__flags", tx.multi_probe_scan_udf(_PROBES)(F.col("text")))
    out = hit.filter(
        F.exists(F.col("__flags"), lambda f: f == 1))
    return out.select(
        "doc_id",
        *[F.element_at(F.col("__flags"), i + 1).alias(f"hit_{i}")
          for i in range(len(_PROBES))])


def t_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Repetition-ratio quality metrics (the boilerplate/loop filter every
    web-text pipeline runs): per-doc duplicate fraction of word unigrams and
    bigrams, fully native (split + list algebra, no explode, no shuffle)."""
    docs = load(spark, sf, "documents")
    toks = tx.word_tokens(F.col("text"))
    n1 = F.size(toks)
    rep1 = F.when(n1 > 0, F.round(
        1.0 - F.size(F.array_distinct(toks)) / n1, 6)).otherwise(F.lit(0.0))
    bi = F.transform(
        F.sequence(F.lit(1), F.greatest(n1 - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1)))
    n2 = F.size(bi)
    rep2 = F.when(n2 > 0, F.round(
        1.0 - F.size(F.array_distinct(bi)) / n2, 6)).otherwise(F.lit(0.0))
    return docs.select("doc_id", rep1.alias("rep_unigram"), rep2.alias("rep_bigram"))


SQL_REPETITION = """
SELECT doc_id,
       CASE WHEN len(toks) > 0
            THEN round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
            ELSE 0.0 END AS rep_unigram,
       CASE WHEN len(toks) > 1
            THEN round(1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / len(bi), 6)
            ELSE 0.0 END AS rep_bigram
FROM (
  SELECT doc_id, toks,
         [toks[i] || ' ' || toks[i + 1] FOR i IN range(1, len(toks))] AS bi
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
                       x -> x <> '') AS toks
    FROM documents))
"""


def t_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible stratified sampling: keep docs whose content-hash falls
    in a fixed bucket range (1/8 rate), counted per source stratum.

    Hash-gated sampling is how a 100 TB pipeline takes consistent,
    re-runnable samples — no RNG, no sampleBy seed drift across engines.
    """
    docs = load(spark, sf, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("text")), 1, 2), 16, 10).cast("int")
    kept = docs.withColumn("bucket", bucket).filter(F.col("bucket") < 32)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("first_doc"),
    )


SQL_HASH_SAMPLE = """
SELECT source, count(*) AS n_sampled, min(doc_id) AS first_doc
FROM (SELECT source, doc_id,
             (strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) AS bucket
      FROM documents)
WHERE bucket < 32
GROUP BY source
"""


def t_mm_embed_knn(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal composition: payload -> deterministic embedding stub ->
    IVF ANN top-k over the embedded pages.  The embed + centroid assignment
    (xxhash-seeded, not SQL-expressible) is MATERIALIZED as the candidate /
    query bucket tables; the oracle re-derives the bucket join, cosine
    scoring and per-query ranking from the same bytes (mat.py protocol).
    Embed determinism + IVF recall stay pytest-gated."""
    pg = pages(spark, 2_000)
    emb = media.fake_embed(pg, dim=16)
    emb = emb.withColumn("vec_id", F.xxhash64("url")).dropDuplicates(["vec_id"]) \
             .select("vec_id", "embedding")
    return _mm_knn(emb)


def _mm_knn(emb: DataFrame) -> DataFrame:
    from ..operators.ann import (bucket_topk, deterministic_centroids,
                                 ivf_assign_udf)
    from .mat import materialize

    cents = deterministic_centroids(emb, 8)
    c = materialize(
        emb.select(F.col("vec_id").alias("cid"),
                   F.col("embedding").alias("cv"),
                   F.element_at(ivf_assign_udf(cents, 1)(F.col("embedding")), 1)
                   .alias("bucket")),
        "mm_knn_c")
    q = materialize(
        emb.orderBy("vec_id").limit(10).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"),
            F.explode(ivf_assign_udf(cents, 2)(F.col("embedding")))
             .alias("bucket")),
        "mm_knn_q")
    return bucket_topk(c, q, 3)


def _sql_bucket_knn(prefix: str, k: int) -> str:
    """Oracle over materialized (cid, cv, bucket) / (qid, qv, bucket) tables:
    re-derives the probe join, cosine scoring and per-query top-k ranking
    from the same bytes the Spark query rebuilt its result from."""
    from .mat import mat_glob

    return f"""
WITH c AS (SELECT * FROM read_parquet('{mat_glob(prefix + "_c")}')),
q AS (SELECT * FROM read_parquet('{mat_glob(prefix + "_q")}')),
scored AS (
  SELECT q.qid, c.cid, round({sql_cosine("q.qv", "c.cv")}, 6) AS sim
  FROM q JOIN c USING (bucket) WHERE q.qid <> c.cid)
{sql_cosine_topk("scored", k)}
"""


def _sql_mm_knn() -> str:
    return _sql_bucket_knn("mm_knn", 3)


# ---------------------------------------------------------------------------
# Mixture-weighted sampling: per-language TARGET rates (the data-mixing stage
# of a training pipeline — downsample dominant languages, keep scarce ones)
# applied through the same RNG-free content-hash gate as t_hash_sample, so
# the mixture is reproducible run-to-run and engine-to-engine.  At 100 TB
# this is one narrow projection + map-side-combined rollup: no shuffle of the
# fact table, no sampleBy seed drift across retries/executors.
# ---------------------------------------------------------------------------

# lang -> keep-threshold out of 256 content-hash buckets (256 = keep all)
MIX_THRESHOLDS = {"en": 64, "de": 128, "fr": 192}
_MIX_DEFAULT = 256


def t_mix_weights(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("text")), 1, 2), 16, 10).cast("int")
    thr = F.lit(_MIX_DEFAULT)
    for lang, t in sorted(MIX_THRESHOLDS.items()):
        thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
    kept = (bucket < thr).cast("int")
    return (docs.withColumn("kept", kept)
            .groupBy("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("kept").cast("long").alias("n_kept"))
            .orderBy("lang", "source"))


_SQL_MIX_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {t}" for lang, t in sorted(MIX_THRESHOLDS.items())
) + f" ELSE {_MIX_DEFAULT} END"

SQL_MIX_WEIGHTS = f"""
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN bucket < {_SQL_MIX_CASE} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM (SELECT lang, source,
             (strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) AS bucket
      FROM documents)
GROUP BY lang, source ORDER BY lang, source
"""


# ---------------------------------------------------------------------------
# DSIR-style data selection (Xie et al., "Data Selection for Language Models
# via Importance Resampling", NeurIPS 2023 — public method): score every raw
# doc by its importance weight under a TARGET distribution, both modeled as
# hashed word-bigram bag distributions, and keep the top-K.
# ---------------------------------------------------------------------------

_DSIR_B = 8192          # hashed feature buckets
_DSIR_TARGET = "es"     # the target "domain": Spanish docs
_DSIR_TOPK = 100


def t_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc DSIR importance weight + top-K selection flag.

    Oracle split (mat.py protocol), engineered so every cross-engine step is
    INTEGER-exact:
      1. ``dsir_pairs`` (doc_id, is_target, h) — the xxhash64-bucketed
         bigram stream, the only hash-dependent step, materialized.
      2. ``dsir_scores`` (h, ct, cr, score) — per-bucket Laplace-smoothed
         log-ratio in integer MICRO-units (round(1e6 * [log((ct+1)/(Nt+B))
         - log((cr+1)/(Nr+B))])), computed by Spark and materialized.  The
         oracle RE-DERIVES ct/cr from dsir_pairs and joins on (h, ct, cr),
         so a wrong count silently drops rows and breaks the hash; only the
         one float log stays Spark-authored (pytest-gated sanity: target
         docs outrank non-target on the fixture).
      3. downstream, both engines: w_micro = BIGINT sum(score) over the
         doc's stream, n_features, w_avg = round(w_micro/n_features, 6)
         (the LENGTH-NORMALIZED mean log-ratio — the raw sum carries the
         smoothing baseline times doc length, so it ranks long docs, not
         on-target docs; measured: top-100 by raw sum was 76% off-target,
         by mean 100% on-target), selected = doc is in the top K by
         (w_avg desc, doc_id).
    Scale: the per-doc weight table is materialized ONCE (it has two
    consumers — the top-K probe and the flag join — and Spark does not
    share common subplans, so without the barrier the pairs-scores join
    would execute twice; measured 2x entry cost at sf0.1).  The top-K is
    then a distributed ``orderBy().limit(K)`` over that parquet
    (TakeOrderedAndProject — each task keeps K rows, the driver merges
    n_partitions*K, never a single-partition global sort), and the K
    winners broadcast back onto the weight table as a flag join.  No
    Window ever sees the unlimited fact table (plan-gated in
    tests/test_plan_shapes.py::test_dsir_selection_has_no_global_window)."""
    from .mat import materialize
    from .training import _spread

    # spread doc rows before the bigram explosion — a single-split parquet
    # serializes the pairs materialization (no-op at scale)
    docs = _spread(load(spark, sf, "documents"))
    w = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    bi = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)))
    pairs = (docs.select("doc_id",
                         (F.col("lang") == _DSIR_TARGET).alias("is_target"),
                         F.explode(F.when(F.size(w) > 1, bi)
                                   .otherwise(F.array().cast("array<string>")))
                         .alias("bg"))
             .select("doc_id", "is_target",
                     F.pmod(F.xxhash64("bg"), F.lit(_DSIR_B)).alias("h")))
    pairs = materialize(pairs, "dsir_pairs", key=sf)

    tot = pairs.agg(
        F.count("*").alias("nr"),
        F.sum(F.col("is_target").cast("long")).alias("nt")).collect()[0]
    nr, nt = tot["nr"], tot["nt"]
    counts = pairs.groupBy("h").agg(
        F.count("*").alias("cr"),
        F.sum(F.col("is_target").cast("long")).alias("ct"))
    score = F.round(
        (F.log((F.col("ct") + 1) / F.lit(float(nt + _DSIR_B)))
         - F.log((F.col("cr") + 1) / F.lit(float(nr + _DSIR_B))))
        * 1_000_000).cast("long")
    scores = materialize(counts.withColumn("score", score),
                         "dsir_scores", key=sf)

    ww = (pairs.join(scores.select("h", "score"), "h")
          .groupBy("doc_id")
          .agg(F.count("*").alias("n_features"),
               F.sum("score").alias("w_micro")))
    ww = ww.withColumn(
        "w_avg", F.round(F.col("w_micro") / F.col("n_features"), 6))
    ww = materialize(ww, "dsir_weights", key=sf)
    winners = (ww.orderBy(F.col("w_avg").desc(), F.col("doc_id"))
                 .limit(_DSIR_TOPK)
                 .select("doc_id", F.lit(True).alias("selected")))
    return (ww.join(F.broadcast(winners), "doc_id", "left")
              .select("doc_id", "n_features", "w_micro", "w_avg",
                      F.coalesce("selected", F.lit(False)).alias("selected"))
              .orderBy("doc_id"))


def _sql_dsir() -> str:
    from .mat import mat_glob

    return f"""
WITH p AS (SELECT * FROM read_parquet('{mat_glob("dsir_pairs")}')),
s AS (SELECT * FROM read_parquet('{mat_glob("dsir_scores")}')),
chk AS (
  SELECT h, CAST(count(*) AS BIGINT) AS cr,
         CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM p GROUP BY h
),
v AS (  -- count mismatch -> dropped bucket -> hash break
  SELECT s.h, s.score FROM s
  JOIN chk ON chk.h = s.h AND chk.cr = s.cr AND chk.ct = s.ct
),
w AS (
  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_features,
         CAST(sum(v.score) AS BIGINT) AS w_micro
  FROM p JOIN v ON v.h = p.h GROUP BY p.doc_id
),
wa AS (
  SELECT doc_id, n_features, w_micro,
         round(CAST(w_micro AS DOUBLE) / n_features, 6) AS w_avg
  FROM w
)
SELECT doc_id, n_features, w_micro, w_avg,
       (row_number() OVER (ORDER BY w_avg DESC, doc_id) <= {_DSIR_TOPK})
         AS selected
FROM wa ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# train_quality_calibrate — per-language quantile GATE: keep the top 20% of
# each language by quality score, with the threshold derived from a BOUNDED
# score histogram so no sort/window/percentile-buffer ever sees the fact
# table (the failure mode the registry's window audit bans: at 100 TB a
# per-lang Window.orderBy is 3 reducers sorting the corpus; a percentile()
# agg buffers a language's every value on one reducer).
#
# Plan: (1) narrow codegen score projection (micro-int, the 6-dp-rounded
# quality_score is already cross-engine hash-proven); (2) ONE map-side-
# combined groupBy(lang, q_micro) — output is bounded by lang x 1e6+1
# distinct scores, CORPUS-INDEPENDENT; (3) threshold = max q_micro whose
# top-down cumulative count >= k, k = ceil(n/5) in integer arithmetic,
# computed by a window over the bounded histogram only; (4) the per-lang
# thresholds broadcast back as a flag join.  Ties AT the threshold are all
# kept (>= semantics) — deterministic without ranking the tied docs.
# ---------------------------------------------------------------------------


def t_quality_calibrate(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    q = docs.select(
        "doc_id", "lang",
        F.round(tx.quality_score(F.col("text")) * 1_000_000)
         .cast("long").alias("q_micro"))
    hist = q.groupBy("lang", "q_micro").agg(F.count("*").alias("c"))
    tot = hist.groupBy("lang").agg(F.sum("c").alias("n"))
    k = tot.select("lang", ((F.col("n") + 4) / 5).cast("long").alias("k"))
    cum = hist.join(F.broadcast(k), "lang").withColumn(
        "cum", F.sum("c").over(
            Window.partitionBy("lang").orderBy(F.col("q_micro").desc())))
    thr = (cum.filter(F.col("cum") >= F.col("k"))
              .groupBy("lang").agg(F.max("q_micro").alias("thr")))
    return (q.join(F.broadcast(thr), "lang")
             .select("doc_id", "lang", "q_micro",
                     (F.col("q_micro") >= F.col("thr")).alias("kept"))
             .orderBy("doc_id"))


SQL_QUALITY_CALIBRATE = f"""
WITH q AS (
  SELECT doc_id, lang,
         CAST(round({sql_quality_expr('text')} * 1000000) AS BIGINT)
           AS q_micro
  FROM documents),
n AS (SELECT lang, count(*) AS n FROM q GROUP BY 1),
r AS (SELECT lang, q_micro,
             row_number() OVER (PARTITION BY lang
                                ORDER BY q_micro DESC, doc_id) AS rn
      FROM q),
thr AS (
  SELECT r.lang, r.q_micro AS thr
  FROM r JOIN n ON r.lang = n.lang AND r.rn = (n.n + 4) // 5)
SELECT q.doc_id, q.lang, q.q_micro, q.q_micro >= t.thr AS kept
FROM q JOIN thr t ON q.lang = t.lang
ORDER BY q.doc_id
"""


QUERIES = {
    "train_quality_calibrate": (t_quality_calibrate, SQL_QUALITY_CALIBRATE),
    "train_dsir_weights": (t_dsir_weights, _sql_dsir()),
    "mm_embed_knn": (t_mm_embed_knn, _sql_mm_knn()),
    "train_mix_weights": (t_mix_weights, SQL_MIX_WEIGHTS),
    "train_contamination": (t_contamination, SQL_CONTAMINATION),
    "train_contamination_scaled": (t_contamination_scaled, SQL_CONTAMINATION),
    "train_repetition": (t_repetition, SQL_REPETITION),
    "train_hash_sample": (t_hash_sample, SQL_HASH_SAMPLE),
    "train_knn_ivf": (t_knn_ivf, _sql_bucket_knn("knn_ivf", 5)),
    "train_quality_score": (t_quality_score, SQL_QUALITY),
    "train_fingerprint": (t_fingerprint, SQL_FINGERPRINT),
    "train_embed_neardup": (t_embed_neardup, SQL_EMBED_NEARDUP),
    "mm_media_meta": (t_media_meta, _sql_media_meta()),
    "mm_frame_sample": (t_frame_sample, _sql_frame_sample()),
    "mm_phash_dedup": (t_phash_dedup, _sql_phash_dedup()),
    "train_extract_consistency": (t_extract_consistency, _sql_extract_consistency()),
}
