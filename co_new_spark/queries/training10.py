"""Training-pipeline surface, part 10: tokenizer APPLICATION and hybrid
retrieval fusion — the two halves that close loops part 7 opened.

``train_bpe_apply`` — tokenize the corpus with the BPE merge table that
``train_bpe_merges`` learns (Sennrich et al. 2016 apply step): for each
merge, in rank order, fuse every adjacent occurrence greedy left-to-right.
Training is distributed (operators/bpe.py); application is the
broadcast-the-model pattern: the merge table is collected to the driver
(T rows here; vocab-sized <= ~100k at real scale — model-sized by
construction, never fact-sized) and compiled into a chain of native
``replace`` calls over a unit-separator-joined character string, one
whole-stage-codegen projection, zero UDFs, zero shuffles past the scan.

Cross-engine exactness is structural, not numeric: Spark's Java
``String.replace`` and DuckDB's ``replace`` are both greedy left-to-right
non-overlapping scans (verified: 'a,a,a' -> 'aa,a' under 'a,a'->'aa' in
both), and both md5 the identical UTF-8 bytes, so ``seq_md5`` proves the
full tokenization BYTE-IDENTICAL per document — the oracle re-derives the
merge table itself through the same unrolled SQL rounds as
train_bpe_merges (training7._sql_bpe_round), so nothing is trusted, not
even the model.

``train_rrf_fusion`` — hybrid retrieval: fuse the BM25 lexical top-k
(training7.t_bm25_topk) with the embedding-cosine semantic top-k over the
same probe set via Reciprocal Rank Fusion (Cormack, Clarke & Buettcher,
SIGIR 2009): score(d) = sum over lists of 1/(rrf_k + rank_d).  This is
the standard dense+sparse ensembling step of a retrieval-augmented
curation pipeline (decontamination, dedup-by-retrieval, eval-neighbor
mining).  Contributions are rounded to integer MICRO-units per list
BEFORE summing, so the fused score is an order-independent BIGINT sum —
exact in any engine.

Scale shape: each leg ends with a per-probe bounded list (k rows), so
fusion windows over <= 2k rows per probe — never the corpus.  The lexical
leg's postings join and the semantic leg's broadcast probe x candidate
scan are the scale-bearing stages, and both are the already-audited
shapes of train_bm25_topk / train_knn_brute (the IVF/LSH variants swap in
unchanged for the semantic leg at real scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.bpe import bpe_train
from ..sources.tables import load

_SEP = "\x1f"  # unit separator: token boundary; corpus text is printable
_BPEA_T = 3    # merge rounds — matches training7's train_bpe_merges


# ---------------------------------------------------------------------------
# train_bpe_apply
# ---------------------------------------------------------------------------

def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize (doc_id, text) with an ordered merge list.

    ``merges`` is the driver-side model (vocab-sized).  The sequence is a
    _SEP-joined char string; merge (l, r) is replace('l<SEP>r' -> 'lr'),
    greedy left-to-right — the reference BPE application rule.
    """
    s = F.array_join(F.split(F.col("text"), ""), _SEP)
    for lhs, rhs in merges:
        s = F.replace(s, F.lit(lhs + _SEP + rhs), F.lit(lhs + rhs))
    n_tok = F.when(F.length("s") == 0, F.lit(0)).otherwise(
        F.length("s") - F.length(F.replace(F.col("s"), F.lit(_SEP))) + 1)
    return (docs.select("doc_id", F.length("text").alias("n_chars"),
                        s.alias("s"))
                .select("doc_id", "n_chars",
                        n_tok.cast("long").alias("n_tokens"),
                        F.md5(F.encode(F.col("s"), "UTF-8")).alias("seq_md5"))
                .orderBy("doc_id"))


def t_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    from .training import _spread

    docs = load(spark, sf, "documents").select("doc_id", "text")
    model = (bpe_train(_spread(docs), rounds=_BPEA_T)
             .orderBy("rnd").select("lhs", "rhs").collect())  # T rows
    return bpe_apply(docs, [(r.lhs, r.rhs) for r in model])


def _sql_bpe_apply() -> str:
    from .training7 import _sql_bpe_round

    # re-derive the merge table with the SAME unrolled rounds the
    # train_bpe_merges oracle uses, then chain the applies
    parts = ["""s0 AS MATERIALIZED (
  SELECT doc_id, pos - 1 AS pos, tok FROM (
    SELECT doc_id, unnest(string_split(text, '')) AS tok,
           generate_subscripts(string_split(text, ''), 1) AS pos
    FROM documents)
  WHERE tok <> '')"""]
    parts += [_sql_bpe_round(r) for r in range(_BPEA_T)]
    parts.append("""a0 AS (
  SELECT doc_id, length(text) AS n_chars,
         array_to_string(string_split(text, ''), chr(31)) AS s
  FROM documents)""")
    for r in range(_BPEA_T):
        parts.append(f"""a{r + 1} AS (
  SELECT doc_id, n_chars,
         replace(s, b.lhs || chr(31) || b.rhs, b.lhs || b.rhs) AS s
  FROM a{r}, b{r} b)""")
    return f"""
WITH {",".join(parts)}
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(CASE WHEN length(s) = 0 THEN 0
            ELSE length(s) - length(replace(s, chr(31), '')) + 1 END
            AS BIGINT) AS n_tokens,
       md5(s) AS seq_md5
FROM a{_BPEA_T} ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# train_rrf_fusion
# ---------------------------------------------------------------------------

_RRF_C = 60   # the SIGIR'09 constant
_RRF_K = 5    # fused hits kept per probe
_SEM_K = 5    # semantic-leg candidates per probe


def t_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ann import cosine_topk
    from .training import _spread
    from .training7 import t_bm25_topk

    lex = (t_bm25_topk(spark, sf)
           .select("qid", "doc_id", F.col("rank").alias("lrank")))

    emb = _spread(load(spark, sf, "embeddings"), "vec_id")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("doc_id"),
                   F.col("embedding").alias("cv"))
    sem = (cosine_topk(c.join(F.broadcast(q), F.col("qid") != F.col("doc_id")),
                       _SEM_K, cid="doc_id", rank="srank")
           .select("qid", "doc_id", "srank"))

    # integer RRF: per-list contribution rounds BEFORE the sum
    def contrib(rank):
        return F.round(F.lit(1_000_000.0) / (_RRF_C + rank)).cast("long")

    fused = (lex.join(sem, ["qid", "doc_id"], "full")
                .select("qid", "doc_id",
                        (F.coalesce(contrib(F.col("lrank")), F.lit(0))
                         + F.coalesce(contrib(F.col("srank")), F.lit(0)))
                        .alias("rrf_micro"),
                        F.col("lrank").isNotNull().alias("in_lex"),
                        F.col("srank").isNotNull().alias("in_sem")))
    wf = Window.partitionBy("qid").orderBy(F.col("rrf_micro").desc(),
                                           "doc_id")
    return (fused.withColumn("fused_rank", F.row_number().over(wf))
                 .filter(F.col("fused_rank") <= _RRF_K)
                 .select("qid", F.col("fused_rank").cast("int")
                                 .alias("fused_rank"),
                         "doc_id", "rrf_micro", "in_lex", "in_sem")
                 .orderBy("qid", "fused_rank"))


def _sql_rrf() -> str:
    from .training import sql_cosine, sql_cosine_topk
    from .training7 import _sql_bm25

    return f"""
WITH lex AS MATERIALIZED (
  SELECT qid, doc_id, rank AS lrank FROM ({_sql_bm25()})),
scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS doc_id,
         round({sql_cosine("q.embedding", "c.embedding")}, 6) AS sim
  FROM embeddings q JOIN embeddings c
    ON q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id),
sem AS MATERIALIZED (
  {sql_cosine_topk("scored", _SEM_K, cid="doc_id", rank="srank")}),
fused AS (
  SELECT coalesce(l.qid, s.qid) AS qid,
         coalesce(l.doc_id, s.doc_id) AS doc_id,
         CAST(coalesce(CAST(round(1000000.0 / ({_RRF_C} + l.lrank))
                            AS BIGINT), 0)
              + coalesce(CAST(round(1000000.0 / ({_RRF_C} + s.srank))
                              AS BIGINT), 0) AS BIGINT) AS rrf_micro,
         l.lrank IS NOT NULL AS in_lex,
         s.srank IS NOT NULL AS in_sem
  FROM lex l FULL OUTER JOIN sem s
    ON s.qid = l.qid AND s.doc_id = l.doc_id)
SELECT qid, CAST(fused_rank AS INT) AS fused_rank,
       doc_id, rrf_micro, in_lex, in_sem
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY rrf_micro DESC, doc_id)
                AS fused_rank
      FROM fused)
WHERE fused_rank <= {_RRF_K}
ORDER BY qid, fused_rank
"""


QUERIES = {
    "train_bpe_apply": (t_bpe_apply, _sql_bpe_apply()),
    "train_rrf_fusion": (t_rrf_fusion, _sql_rrf()),
}
