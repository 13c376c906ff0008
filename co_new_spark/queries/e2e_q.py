"""THE whole pre-training data pipeline as ONE hash-verified entry.

Over the committed pages fixture, chain every curation stage a web-scale
training-data build runs — url-dedup (latest crawl wins), quality scoring +
filter, language filter, exact content dedup, near-dup clustering
(3-gram Jaccard pairs -> connected components -> keep-best), deterministic
train/val/test split, greedy context-window packing — and verify the FINAL
packed output against a single DuckDB restatement of the entire chain
(recursive CTEs for the component closure and the packing fold).  A value
divergence in ANY stage shifts the final bins and fails the hash.

Doc ids are urls (strings): min/least/ordering are byte-lexicographic on
both engines for this ASCII fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators.components import connected_components
from ..operators.packing import pack_greedy
from .training import JACCARD_MAX_DF, jaccard_pairs
from .training2 import sql_quality_expr as _q_expr
from .webtext_q import _fixture, latest_per_url, sql_latest_per_url

QUALITY_MIN = 0.3
E2E_JACCARD = 0.25
PACK_CAP = 256


def e2e_training_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    # 1. url-dedup: latest crawl per url
    docs = latest_per_url(_fixture(spark)).select("url", "text", "lang")
    # 2. quality score + floor
    docs = docs.withColumn("quality", tx.quality_score(F.col("text"))) \
               .filter(F.col("quality") >= QUALITY_MIN)
    # 3. language filter
    docs = docs.filter(F.col("lang").isin("es", "en"))
    # 4. exact content dedup (md5(text), min url wins)
    w2 = Window.partitionBy(F.md5("text")).orderBy("url")
    docs = (docs.withColumn("__rn", F.row_number().over(w2))
                .filter(F.col("__rn") == 1).drop("__rn")
                .localCheckpoint(eager=True))
    # 5. near-dup clusters -> keep best quality per cluster
    edges = jaccard_pairs(docs, id_col="url", threshold=E2E_JACCARD) \
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    comp = connected_components(edges, nodes=docs.select("url")) \
        .select(F.col("node").alias("url"), "component")
    j = docs.join(comp, "url")
    w3 = Window.partitionBy("component").orderBy(F.col("quality").desc(), "url")
    kept = (j.withColumn("__rn", F.row_number().over(w3))
             .filter(F.col("__rn") == 1).drop("__rn", "component", "quality"))
    # 6. deterministic split
    b = F.conv(F.substring(F.md5(F.col("url")), 1, 2), 16, 10).cast("int")
    kept = kept.withColumn(
        "split", F.when(b < 204, "train").when(b < 230, "val").otherwise("test"))
    # 7. greedy packing per (lang, split) stream in url order
    sized = kept.select(
        "lang", "split", "url",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.concat_ws("|", "lang", "split").alias("stream"))
    packed = pack_greedy(sized, "stream", "url", "n_tok", PACK_CAP)
    return (packed.groupBy("lang", "split", "bin_id")
                  .agg(F.count("*").alias("n_docs"),
                       F.sum("n_tok").alias("sum_tok")))


SQL_E2E = f"""
WITH RECURSIVE
d1 AS (
  SELECT url, text, lang, {_q_expr('text')} AS quality
  FROM {sql_latest_per_url()}
), d2 AS (
  SELECT * FROM d1 WHERE quality >= {QUALITY_MIN} AND lang IN ('es', 'en')
), docs AS (
  SELECT url, text, lang, quality FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY url) AS rn2
    FROM d2) WHERE rn2 = 1
), sh0 AS (
  SELECT url, unnest(list_distinct(sl)) AS shingle FROM (
    SELECT url, string_split(text, ' ') AS w,
           [array_to_string(w[i:i+2], ' ')
            FOR i IN range(1, greatest(len(w) - 1, 1))] AS sl
    FROM docs)
), hot AS (
  SELECT shingle FROM sh0 GROUP BY shingle
  HAVING count(*) > {JACCARD_MAX_DF} * (SELECT count(*) FROM docs)
), sh AS (
  SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)
), sizes AS (
  SELECT url, count(*) AS n_sh FROM sh GROUP BY url
), pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.c AS DOUBLE) / (sa.n_sh + sb.n_sh - i.c), 6) AS jac
    FROM (SELECT a.url AS doc_a, b.url AS doc_b, count(*) AS c
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.url < b.url
          GROUP BY 1, 2) i
    JOIN sizes sa ON sa.url = i.doc_a JOIN sizes sb ON sb.url = i.doc_b
  ) WHERE jac >= {E2E_JACCARD}
), ed AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(src, dst) AS (
  SELECT url, url FROM docs
  UNION
  SELECT r.src, e.v FROM reach r JOIN ed e ON e.u = r.dst
), comp AS (
  SELECT src AS url, min(dst) AS component FROM reach GROUP BY src
), kept AS (
  SELECT url, text, lang FROM (
    SELECT d.url, d.text, d.lang,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY d.quality DESC, d.url) AS rn3
    FROM docs d JOIN comp c ON c.url = d.url) WHERE rn3 = 1
), sized AS (
  SELECT lang, url,
         CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val'
              ELSE 'test' END AS split,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM (SELECT *,
               (strpos('0123456789abcdef', substring(md5(url), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substring(md5(url), 2, 1)) - 1) AS b
        FROM kept)
), t AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so the packing
  -- recursion below would otherwise re-evaluate the ENTIRE upstream chain
  -- (closure + shingle self-join) once per iteration (~1000x)
  SELECT lang, split, url, n_tok,
         row_number() OVER (PARTITION BY lang, split ORDER BY url) AS rn
  FROM sized
), r(lang, split, url, n_tok, rn, bin_id, acc) AS (
  SELECT lang, split, url, n_tok, rn, CAST(0 AS BIGINT), n_tok
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.lang, t.split, t.url, t.n_tok, t.rn,
         CASE WHEN r.acc + t.n_tok > {PACK_CAP} THEN r.bin_id + 1 ELSE r.bin_id END,
         CASE WHEN r.acc + t.n_tok > {PACK_CAP} THEN t.n_tok ELSE r.acc + t.n_tok END
  FROM r JOIN t ON t.lang = r.lang AND t.split = r.split AND t.rn = r.rn + 1
)
SELECT lang, split, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tok
FROM r GROUP BY lang, split, bin_id
"""


QUERIES = {
    "train_e2e_pipeline": (e2e_training_pipeline, SQL_E2E),
}
