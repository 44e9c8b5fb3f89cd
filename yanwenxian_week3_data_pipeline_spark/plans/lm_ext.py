"""EXT language-model surface: tokenizer training and LM-based quality
bucketing — the two corpus-level LM steps of a training-data pipeline the
reference (a single-table pandas cleaner, cleaner.py:1-5) has no
counterpart for.

- ``text_bpe_learn`` — distributed BPE vocabulary learning (Sennrich et
  al. 2016) in the word-frequency formulation: the corpus collapses to a
  deterministic top-V word-count table, then every merge round is
  V-bounded. Greedy non-overlap pair semantics are pure window algebra
  (see operators/bpe.py); the oracle unrolls the identical recurrence as
  MATERIALIZED CTEs (the pagerank.py discipline).
- ``docs_nb_langid_confusion`` — multinomial Naive Bayes language-ID
  (the classifier-filter primitive: fastText-style quality/lang
  classification) trained on a deterministic half split, scored on the
  held-out half by exact integer micro-nat argmax; outputs the confusion
  matrix.
- ``agg_cms_token_counts`` — Count-Min Sketch of token frequencies,
  exact-integer construction with the one-sided guarantee verified
  in-band (completes the sketch family in plans/analytic_ext.py).
- ``docs_ccnet_perplexity_buckets`` — CCNet-style head/middle/tail
  corpus split (Wenzek et al. 2020, arXiv:1911.00359): a hashed-bucket
  conditional bigram model is trained on the target-language slice,
  every doc is scored by mean negative log-probability per bigram, and
  the corpus is cut at exact rank tertiles. All model math rides exact
  integer micro-nats (the DSIR recipe — integer sums are exact under any
  reduction order); the tertile cuts come from
  operators/quantiles.exact_rank_cuts (no global sort, no
  single-partition exchange).

Scale shape (100 TB): BPE's corpus-sized work is ONE tokenize → explode
→ word-count shuffle; the ~10 merge rounds touch 2000-row frames. The
perplexity query's model table is ≤ B² rows and BROADCAST; per-doc
scoring is one (doc, bp, bw) partial aggregation; tertile cuts move one
histogram-row per distinct score plus one row per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import QuerySpec
from ..constants import (
    BPE_MAX_WORD_LEN,
    BPE_MERGES,
    BPE_VOCAB_TOP,
    CMS_DEPTH,
    CMS_SEED,
    CMS_TOPK,
    CMS_WIDTH,
    LM_BUCKETS,
    LM_TRAIN_LANG,
    NB_BUCKETS,
    NB_SPLIT_SEED,
    PMI_MIN_COUNT,
    PMI_TOPK,
)
from ..functions.hashing import hash60_expr, hash60_sql
from ..functions.text import clean_text_expr
from ..functions.textstats import tokens_expr, tokens_sql
from ..operators.bpe import bpe_encode_oracle_sql, bpe_learn, bpe_oracle_sql
from .documents_domain import CLEAN_SQL, _docs


_CLEANED_LM = f"SELECT doc_id, {CLEAN_SQL} AS c FROM documents"


# ---------------------------------------------------------------------------
# text_bpe_learn
# ---------------------------------------------------------------------------

def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(clean_text_expr(F.col("text")).alias("c"))
    return (
        d.select(F.explode(tokens_expr(F.col("c"))).alias("word"))
        .where(F.length("word") <= BPE_MAX_WORD_LEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
        .orderBy(F.desc("wcount"), F.asc("word"))
        .limit(BPE_VOCAB_TOP)
    )


def _q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_learn(spark, _word_counts(spark, sf_dir), BPE_MERGES)


_WORDS_SQL = f"""
SELECT g AS word, CAST(count(*) AS BIGINT) AS wcount
FROM (SELECT {CLEAN_SQL} AS c FROM documents) d, UNNEST({tokens_sql('c')}) AS un(g)
WHERE length(g) <= {BPE_MAX_WORD_LEN}
GROUP BY g ORDER BY wcount DESC, word ASC LIMIT {BPE_VOCAB_TOP}
"""


# ---------------------------------------------------------------------------
# text_bpe_encode_topk — APPLY the learned merges to the whole corpus and
# report the top-K pieces (weighted by word frequency) — the tokenize
# step that follows text_bpe_learn in a real pipeline. Scale shape: the
# merge table is a K-row bounded collect (the sanctioned candidate-state
# class); encoding is ONE Column fold per distinct word — an outer
# aggregate over the merge literal, an inner aggregate over the word's
# symbols — so the corpus-sized work is exactly the word-count aggregate
# (map-side combinable) plus a scan-speed expression; no per-merge
# shuffle, no Python. The same MAX_WORD_LEN cap as the learn table keeps
# the two tables aligned (production tokenizers pass over-long words
# through unsegmented; here they are excluded on both engines).
# ---------------------------------------------------------------------------

BPE_ENCODE_TOPK = 20


def _all_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(clean_text_expr(F.col("text")).alias("c"))
    return (
        d.select(F.explode(tokens_expr(F.col("c"))).alias("word"))
        .where(F.length("word") <= BPE_MAX_WORD_LEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_expr, word_syms_expr

    merges = [
        (r["x"], r["y"])
        for r in bpe_learn(
            spark, _word_counts(spark, sf_dir), BPE_MERGES
        ).collect()
    ]
    enc = _all_word_counts(spark, sf_dir).select(
        "word",
        "wcount",
        bpe_encode_expr(word_syms_expr(F.col("word")), merges).alias("pieces"),
    )
    return (
        enc.select("word", "wcount", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(
            F.sum("wcount").alias("n_occurrences"),
            F.countDistinct("word").alias("n_words"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("piece"))
        .limit(BPE_ENCODE_TOPK)
    )


_ALL_WORDS_SQL = f"""
SELECT g AS word, CAST(count(*) AS BIGINT) AS wcount
FROM (SELECT {CLEAN_SQL} AS c FROM documents) d, UNNEST({tokens_sql('c')}) AS un(g)
WHERE length(g) <= {BPE_MAX_WORD_LEN}
GROUP BY g
"""


# ---------------------------------------------------------------------------
# docs_ccnet_perplexity_buckets
# ---------------------------------------------------------------------------

def _doc_bigram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, bp, bw) — one row per adjacent-token bigram, both
    sides hashed into LM_BUCKETS buckets."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", clean_text_expr(F.col("text")).alias("c")
    )
    tk = tokens_expr(F.col("c"))
    # F.sequence on size<2 would yield a DESCENDING range — gate it (the
    # F.sequence-on-empty pitfall, same as the DSIR bigram build)
    pairs = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.struct(
                F.element_at(tk, i).alias("prev"),
                F.element_at(tk, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    return d.select(
        "doc_id", "lang", F.explode(pairs).alias("pr")
    ).select(
        "doc_id",
        "lang",
        F.pmod(hash60_expr(F.col("pr.prev")), F.lit(LM_BUCKETS)).alias("bp"),
        F.pmod(hash60_expr(F.col("pr.cur")), F.lit(LM_BUCKETS)).alias("bw"),
    )


def _q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import exact_rank_cuts

    bi = _doc_bigram_buckets(spark, sf_dir)
    train = bi.where(F.col("lang") == LM_TRAIN_LANG)
    c2 = train.groupBy("bp", "bw").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("bp").agg(F.sum("c2").alias("c1"))

    per_doc = bi.groupBy("doc_id", "bp", "bw").agg(
        F.count(F.lit(1)).alias("n")
    )
    # smoothed conditional: (c2+1)/(c1+B) — a quotient of exact integers
    # (< 2^53), so the double division and its ln round identically on
    # both engines; micro-nat integers from there on
    logp_micro = F.round(
        F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("c1"), F.lit(0)) + LM_BUCKETS).cast("double")
        )
        * 1e6,
        0,
    ).cast("long")
    scored = (
        per_doc.join(F.broadcast(c2), ["bp", "bw"], "left")
        .join(F.broadcast(c1), ["bp"], "left")
        .withColumn("lp", logp_micro)
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            (-F.sum(F.col("n") * F.col("lp"))).cast("long").alias("nlp_micro"),
        )
        .withColumn(
            "avg_micro", F.expr("nlp_micro div n_bigrams").cast("long")
        )
    )
    cuts = exact_rank_cuts(scored, "avg_micro", [(1, 3), (2, 3)])
    cut_row = cuts.groupBy().agg(
        F.max(F.when(F.col("cut_id") == 1, F.col("cut"))).alias("cut1"),
        F.max(F.when(F.col("cut_id") == 2, F.col("cut"))).alias("cut2"),
    )
    return scored.crossJoin(F.broadcast(cut_row)).select(
        "doc_id",
        "n_bigrams",
        "nlp_micro",
        "avg_micro",
        (F.col("avg_micro") / F.lit(1e6)).alias("avg_nats"),
        F.when(F.col("avg_micro") <= F.col("cut1"), F.lit("head"))
        .when(F.col("avg_micro") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def _sql_ccnet_buckets() -> str:
    b = LM_BUCKETS
    return f"""
WITH d AS (SELECT doc_id, lang, {CLEAN_SQL} AS c FROM documents),
t AS (SELECT doc_id, lang, {tokens_sql('c')} AS tk FROM d),
bi AS (
  SELECT doc_id, lang,
         ({hash60_sql('pv')}) % {b} AS bp,
         ({hash60_sql('cu')}) % {b} AS bw
  FROM (SELECT doc_id, lang,
               unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS pv,
               unnest(list_transform(range(1, len(tk)), i -> tk[i + 1])) AS cu
        FROM t)),
c2 AS (SELECT bp, bw, count(*) AS c2 FROM bi
       WHERE lang = '{LM_TRAIN_LANG}' GROUP BY 1, 2),
c1 AS (SELECT bp, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
pd AS (SELECT doc_id, bp, bw, count(*) AS n FROM bi GROUP BY 1, 2, 3),
sc AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         CAST(-sum(n * CAST(round(ln(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
                                     / CAST(COALESCE(c1.c1, 0) + {b} AS DOUBLE))
                                  * 1e6, 0) AS BIGINT)) AS BIGINT) AS nlp_micro
  FROM pd LEFT JOIN c2 USING (bp, bw) LEFT JOIN c1 USING (bp)
  GROUP BY doc_id),
av AS (SELECT doc_id, n_bigrams, nlp_micro,
              nlp_micro // n_bigrams AS avg_micro FROM sc),
nn AS (SELECT count(*) AS n FROM av),
cut1 AS (SELECT avg_micro AS c FROM av ORDER BY avg_micro
         LIMIT 1 OFFSET (SELECT GREATEST(1, (n * 1 + 2) // 3) FROM nn) - 1),
cut2 AS (SELECT avg_micro AS c FROM av ORDER BY avg_micro
         LIMIT 1 OFFSET (SELECT GREATEST(1, (n * 2 + 2) // 3) FROM nn) - 1)
SELECT doc_id, n_bigrams, nlp_micro, avg_micro,
       avg_micro / 1e6 AS avg_nats,
       CASE WHEN avg_micro <= (SELECT c FROM cut1) THEN 'head'
            WHEN avg_micro <= (SELECT c FROM cut2) THEN 'middle'
            ELSE 'tail' END AS bucket
FROM av
"""


# ---------------------------------------------------------------------------
# docs_nb_langid_confusion — multinomial Naive Bayes language-ID: the
# classifier-based filtering primitive of curation pipelines (fastText
# quality/lang filters), here trained and evaluated entirely in-engine.
# Deterministic half split on a seeded doc_id hash; hashed-unigram
# features; Laplace-smoothed class priors and per-class token
# distributions; held-out docs classified by exact integer micro-nat
# score argmax (prior + sum of per-bucket log-likelihoods — integer sums,
# exact under any reduction order; ties broken by lang ASC via the
# (score DESC, lang ASC) row_number window, partitioned per doc).
# Output: the confusion matrix (actual, predicted, n_docs).
#
# Scale shape (100 TB): one tokenize → (doc, bucket) partial-agg pass;
# the model is (L·B)-bounded and BROADCAST (L = distinct langs, B = 512
# buckets); candidate-class fan-out is a broadcast of the L-row class
# table (L ≈ 6); the argmax window partitions by doc_id — never global.
# Docs with no tokens or null lang have no feature rows and are out of
# scope on both engines identically.
# ---------------------------------------------------------------------------

def _q_nb_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    b_lit = F.lit(NB_BUCKETS)
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", clean_text_expr(F.col("text")).alias("c")
    ).where(F.col("lang").isNotNull())
    feats = d.select(
        "doc_id",
        "lang",
        (F.pmod(hash60_expr(F.col("doc_id").cast("string"), seed=NB_SPLIT_SEED), F.lit(2)) == 0).alias(
            "is_train"
        ),
        F.explode(tokens_expr(F.col("c"))).alias("g"),
    ).select(
        "doc_id",
        "lang",
        "is_train",
        F.pmod(hash60_expr(F.col("g")), b_lit).alias("b"),
    )
    train = feats.where(F.col("is_train"))
    c_lb = train.groupBy("lang", "b").agg(F.count(F.lit(1)).alias("c_lb"))
    t_l = c_lb.groupBy("lang").agg(F.sum("c_lb").alias("t_l"))
    n_l = train.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_l")
    )
    totals = n_l.agg(
        F.sum("n_l").alias("n_docs_train"), F.count(F.lit(1)).alias("n_langs")
    )
    prior = n_l.crossJoin(totals).select(
        F.col("lang").alias("cand"),
        F.round(
            F.log(
                (F.col("n_l") + 1).cast("double")
                / (F.col("n_docs_train") + F.col("n_langs")).cast("double")
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("prior_micro"),
    )
    test_db = (
        feats.where(~F.col("is_train"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cand = test_db.crossJoin(
        F.broadcast(t_l.select(F.col("lang").alias("cand"), "t_l"))
    )
    ll = F.round(
        F.log(
            (F.coalesce(F.col("c_lb"), F.lit(0)) + 1).cast("double")
            / (F.col("t_l") + NB_BUCKETS).cast("double")
        )
        * 1e6,
        0,
    ).cast("long")
    scored = (
        cand.join(
            F.broadcast(
                c_lb.select(F.col("lang").alias("cand"), "b", "c_lb")
            ),
            ["cand", "b"],
            "left",
        )
        .withColumn("ll", ll)
        .groupBy("doc_id", "lang", "cand")
        .agg(F.sum(F.col("n") * F.col("ll")).cast("long").alias("lik_micro"))
        .join(F.broadcast(prior), "cand")
        .select(
            "doc_id",
            "lang",
            "cand",
            (F.col("lik_micro") + F.col("prior_micro")).alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("cand")
    )
    pred = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return pred.groupBy(
        F.col("lang").alias("actual"), F.col("cand").alias("predicted")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


def _sql_nb_langid_confusion() -> str:
    b = NB_BUCKETS
    split = hash60_sql("CAST(doc_id AS VARCHAR)", seed=NB_SPLIT_SEED)
    return f"""
WITH d AS (SELECT doc_id, lang, {CLEAN_SQL} AS c FROM documents
           WHERE lang IS NOT NULL),
feats AS (
  SELECT doc_id, lang, ({split}) % 2 = 0 AS is_train,
         ({hash60_sql('g')}) % {b} AS bk
  FROM (SELECT doc_id, lang, c FROM d) t, UNNEST({tokens_sql('c')}) AS un(g)),
train AS (SELECT * FROM feats WHERE is_train),
c_lb AS (SELECT lang, bk, count(*) AS c_lb FROM train GROUP BY 1, 2),
t_l AS (SELECT lang, CAST(sum(c_lb) AS BIGINT) AS t_l FROM c_lb GROUP BY 1),
n_l AS (SELECT lang, count(DISTINCT doc_id) AS n_l FROM train GROUP BY 1),
tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS n_docs_train,
               count(*) AS n_langs FROM n_l),
prior AS (
  SELECT lang AS cand,
         CAST(round(ln(CAST(n_l + 1 AS DOUBLE)
                       / CAST(n_docs_train + n_langs AS DOUBLE)) * 1e6, 0)
              AS BIGINT) AS prior_micro
  FROM n_l, tot),
test_db AS (SELECT doc_id, lang, bk, count(*) AS n
            FROM feats WHERE NOT is_train GROUP BY 1, 2, 3),
scored AS (
  SELECT t.doc_id, t.lang, tl.lang AS cand,
         CAST(sum(t.n * CAST(round(ln(CAST(COALESCE(c.c_lb, 0) + 1 AS DOUBLE)
                                      / CAST(tl.t_l + {b} AS DOUBLE))
                                   * 1e6, 0) AS BIGINT)) AS BIGINT)
           AS lik_micro
  FROM test_db t
  CROSS JOIN t_l tl
  LEFT JOIN c_lb c ON c.lang = tl.lang AND c.bk = t.bk
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT s.doc_id, s.lang, s.cand,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY s.lik_micro + p.prior_micro DESC,
                                     s.cand ASC) AS rn
  FROM scored s JOIN prior p ON p.cand = s.cand)
SELECT lang AS actual, cand AS predicted, CAST(count(*) AS BIGINT) AS n_docs
FROM ranked WHERE rn = 1 GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# agg_cms_token_counts — Count-Min Sketch (Cormode & Muthukrishnan 2005)
# of corpus token frequencies, completing the sketch family (HLL / KLL /
# Misra-Gries in plans/analytic_ext.py). The sketch is a DEPTH×WIDTH
# integer counter grid built with independently-seeded hashes — the
# streamable, mergeable frequency summary used where exact per-token
# counts don't fit (per-shard sketches sum cell-wise at 100 TB). Unlike
# library sketches, this construction is exact-integer end to end, so the
# oracle rebuilds the identical grid and the query VERIFIES the CMS
# guarantee in-band: est = min over rows >= exact count, always.
#
# Scale shape: one token explode feeding DEPTH (row, bucket) partial
# aggregations (map-side combine; grid bounded at DEPTH·WIDTH rows,
# broadcast); exact top-K via TakeOrderedAndProject; the probe joins K·D
# rows against the broadcast grid.
# ---------------------------------------------------------------------------

def _q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(clean_text_expr(F.col("text")).alias("c"))
    toks = d.select(F.explode(tokens_expr(F.col("c"))).alias("tok"))
    rows = toks.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(
                            hash60_expr(F.col("tok"), seed=CMS_SEED + r),
                            F.lit(CMS_WIDTH),
                        ).alias("b"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("rb"),
    ).select("tok", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    grid = rows.groupBy("r", "b").agg(F.count(F.lit(1)).alias("cell"))
    topk = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("tok"))
        .limit(CMS_TOPK)
    )
    probes = topk.select(
        "tok",
        "n_exact",
        *[
            F.pmod(
                hash60_expr(F.col("tok"), seed=CMS_SEED + r), F.lit(CMS_WIDTH)
            ).alias(f"b{r}")
            for r in range(CMS_DEPTH)
        ],
    )
    est = probes
    for r in range(CMS_DEPTH):
        g = F.broadcast(
            grid.where(F.col("r") == r).select(
                F.col("b").alias(f"b{r}"), F.col("cell").alias(f"c{r}")
            )
        )
        est = est.join(g, f"b{r}")
    return est.select(
        "tok",
        "n_exact",
        F.least(*[F.col(f"c{r}") for r in range(CMS_DEPTH)]).alias("n_est"),
    ).select(
        "tok",
        "n_exact",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).alias("overcount"),
        (F.col("n_est") >= F.col("n_exact")).alias("cms_guarantee_ok"),
    )


def _sql_cms_token_counts() -> str:
    row_buckets = ", ".join(
        f"({hash60_sql('tok', seed=CMS_SEED + r)}) % {CMS_WIDTH} AS b{r}"
        for r in range(CMS_DEPTH)
    )
    grid_joins = "\n  ".join(
        f"JOIN grid g{r} ON g{r}.r = {r} AND g{r}.b = p.b{r}"
        for r in range(CMS_DEPTH)
    )
    least = ", ".join(f"g{r}.cell" for r in range(CMS_DEPTH))
    union_rows = " UNION ALL ".join(
        f"SELECT {r} AS r, ({hash60_sql('tok', seed=CMS_SEED + r)}) % {CMS_WIDTH} AS b FROM toks"
        for r in range(CMS_DEPTH)
    )
    return f"""
WITH d AS (SELECT {CLEAN_SQL} AS c FROM documents),
toks AS MATERIALIZED (SELECT g AS tok FROM d, UNNEST({tokens_sql('c')}) AS un(g)),
grid AS MATERIALIZED (
  SELECT r, b, CAST(count(*) AS BIGINT) AS cell
  FROM ({union_rows}) rb GROUP BY r, b),
topk AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact FROM toks
         GROUP BY tok ORDER BY n_exact DESC, tok ASC LIMIT {CMS_TOPK}),
p AS (SELECT tok, n_exact, {row_buckets} FROM topk)
SELECT p.tok, p.n_exact, LEAST({least}) AS n_est,
       LEAST({least}) - p.n_exact AS overcount,
       LEAST({least}) >= p.n_exact AS cms_guarantee_ok
FROM p
  {grid_joins}
"""


# ---------------------------------------------------------------------------
# text_inverted_index — the IR-side build: token → (document frequency,
# capped posting list). Scale discipline: the posting CAP is enforced
# BEFORE any list materializes — a per-token row_number window with the
# rn <= CAP filter rides Catalyst's rank-limit pushdown (partial
# WindowGroupLimit below the exchange), so a stopword's corpus-sized
# posting stream never sorts in one task and never aggregates into one
# buffer; document frequency comes from a separate count aggregate
# (map-side combinable) joined back. Output: top-DF tokens with their
# first-CAP doc ids as a sorted array (deterministic: df DESC, tok ASC
# top-k via TakeOrderedAndProject; postings ordered by doc_id).
# ---------------------------------------------------------------------------

INVIDX_TOPK = 15
INVIDX_POSTINGS_CAP = 8


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", clean_text_expr(F.col("text")).alias("c")
    )
    tok_doc = d.select(
        F.explode(F.array_distinct(tokens_expr(F.col("c")))).alias("tok"),
        "doc_id",
    )
    df_counts = tok_doc.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("tok").orderBy("doc_id")
    capped = (
        tok_doc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= INVIDX_POSTINGS_CAP)
        .groupBy("tok")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("postings"))
    )
    return (
        df_counts.join(capped, "tok")
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(INVIDX_TOPK)
    )


_SQL_INVERTED_INDEX = f"""
WITH d AS ({_CLEANED_LM}),
td AS (SELECT DISTINCT g AS tok, doc_id
       FROM d, UNNEST({tokens_sql('c')}) AS un(g)),
dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM td GROUP BY tok),
capped AS (
  SELECT tok, list(doc_id ORDER BY doc_id) AS postings
  FROM (SELECT tok, doc_id,
               row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
        FROM td)
  WHERE rn <= {INVIDX_POSTINGS_CAP} GROUP BY tok)
SELECT dfq.tok, df, postings
FROM dfq JOIN capped USING (tok)
ORDER BY df DESC, tok ASC LIMIT {INVIDX_TOPK}
"""


# ---------------------------------------------------------------------------
# text_bm25_topk — BM25 lexical retrieval for a FIXED query (the classic
# Robertson/Sparck Jones ranking; the lexical half of hybrid retrieval
# next to sim_rrf_hybrid). Exactness discipline: k1 = 1.2 and b = 0.75 are
# carried as the exact rationals 12/10 and 3/4, so the tf normalization
#   tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))        with avgdl = T/N
# multiplies out (×40T) to ONE division of two exact int64 values:
#   num = 88·T·tf,   den = 40·T·tf + 12·T + 36·dl·N
# (all terms < 8·10^16 even at 10^13 corpus tokens — int64-exact, and the
# int→double casts are correctly rounded identically in both engines).
# idf = ln((N − df + 0.5)/(df + 0.5) + 1) = ln((N+1)/(df+0.5)) is the one
# libm call, quantized to exact MILLI integers (the zipf-slope rule) so a
# last-ulp ln() difference cannot move the hash. The 3 per-term scores
# sum in FIXED expression order (s1+s2+s3), never an aggregate over rows.
# Scale shape: one scan computes per-doc (tf_i, dl); N/T/df_i come from
# ONE 1-row aggregate broadcast back (the sanctioned scalar class);
# ranking is a TakeOrdered over matching docs only. No shuffle grows
# with the corpus.
# ---------------------------------------------------------------------------


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import BM25_QUERY_TERMS, BM25_TOPK

    d = _docs(spark, sf_dir).select(
        "doc_id", tokens_expr(clean_text_expr(F.col("text"))).alias("toks")
    )
    def _tf(term: str):
        # closure, not a default arg: PySpark reads lambda ARITY to decide
        # between (element) and (element, index) signatures
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(term)))

    tf_cols = [
        _tf(t).cast("long").alias(f"tf{i}") for i, t in enumerate(BM25_QUERY_TERMS)
    ]
    stats = d.select("doc_id", F.size("toks").cast("long").alias("dl"), *tf_cols)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("t_tokens"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    ]
    g = stats.agg(*aggs)

    def term_score(i: int):
        idf_milli = F.round(
            F.log((F.col("n_docs") + F.lit(1.0)) / (F.col(f"df{i}") + F.lit(0.5)))
            * 1000,
            0,
        ).cast("long")
        num = F.lit(88) * F.col("t_tokens") * F.col(f"tf{i}")
        den = (
            F.lit(40) * F.col("t_tokens") * F.col(f"tf{i}")
            + F.lit(12) * F.col("t_tokens")
            + F.lit(36) * F.col("dl") * F.col("n_docs")
        )
        return (
            idf_milli.cast("double")
            * (num.cast("double") / den.cast("double"))
            / F.lit(1000.0)
        )

    scored = stats.crossJoin(F.broadcast(g))
    score = term_score(0)
    for i in range(1, len(BM25_QUERY_TERMS)):
        score = score + term_score(i)
    matched = sum(
        (F.col(f"tf{i}") > 0).cast("int") for i in range(len(BM25_QUERY_TERMS))
    )
    return (
        scored.where(sum(F.col(f"tf{i}") for i in range(len(BM25_QUERY_TERMS))) > 0)
        .select(
            "doc_id",
            matched.alias("n_terms_matched"),
            F.round(score, 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


def _sql_bm25_topk() -> str:
    from ..constants import BM25_QUERY_TERMS, BM25_TOPK

    toks = tokens_sql("c")
    tf_exprs = ", ".join(
        f"CAST(len(list_filter({toks}, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(BM25_QUERY_TERMS)
    )
    dfs = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(BM25_QUERY_TERMS))
    )
    scores = " + ".join(
        f"(CAST(CAST(round(ln((n_docs + 1.0) / (df{i} + 0.5)) * 1000, 0) AS BIGINT) AS DOUBLE)"
        f" * (CAST(88 * t_tokens * tf{i} AS DOUBLE)"
        f" / CAST(40 * t_tokens * tf{i} + 12 * t_tokens + 36 * dl * n_docs AS DOUBLE))"
        f" / 1000.0)"
        for i in range(len(BM25_QUERY_TERMS))
    )
    matched = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(BM25_QUERY_TERMS))
    )
    any_tf = " + ".join(f"tf{i}" for i in range(len(BM25_QUERY_TERMS)))
    return f"""
WITH d AS ({_CLEANED_LM}),
s AS (SELECT doc_id, CAST(len({toks}) AS BIGINT) AS dl, {tf_exprs} FROM d),
g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS t_tokens, {dfs} FROM s)
SELECT doc_id, CAST({matched} AS INT) AS n_terms_matched,
       round({scores}, 6) AS bm25
FROM s, g WHERE {any_tf} > 0
ORDER BY bm25 DESC, doc_id ASC LIMIT {BM25_TOPK}
"""


# ---------------------------------------------------------------------------
# text_unigram_entropy — corpus unigram entropy in nats (the corpus-health
# gate next to text_zipf_slope: entropy collapse flags synthetic or
# template-heavy corpora before training). H = ln T − (Σ c·ln c)/T over
# token frequencies c. Same exact-milli quantization as the zipf slope:
# ln values become exact MILLI integers, Σ c·lnmilli(c) is an exact int64
# sum under any reduction order (< 2·10^17 even at 10^13 tokens), and the
# final expression is one division of two correctly-rounded int→double
# casts. Scale: one map-side-combining token-frequency shuffle + a 1-row
# aggregate. ---------------------------------------------------------------


def _q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        tokens_expr(clean_text_expr(F.col("text"))).alias("toks")
    )
    freq = (
        d.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ln_milli = F.round(F.log(F.col("c").cast("double")) * 1000, 0).cast("long")
    a = freq.agg(
        F.sum("c").alias("t_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.col("c") * ln_milli).alias("s_clnc"),
    )
    lnt_milli = F.round(F.log(F.col("t_tokens").cast("double")) * 1000, 0).cast("long")
    return a.select(
        F.col("t_tokens").cast("long").alias("n_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.round(
            (lnt_milli * F.col("t_tokens") - F.col("s_clnc")).cast("double")
            / (F.col("t_tokens").cast("double") * F.lit(1000.0)),
            6,
        ).alias("entropy_nats"),
    )


def _sql_unigram_entropy() -> str:
    toks = tokens_sql("c")
    return f"""
WITH d AS ({_CLEANED_LM}),
t AS (SELECT unnest({toks}) AS tok FROM d),
f AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
a AS (SELECT CAST(sum(c) AS BIGINT) AS t_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000, 0) AS BIGINT)) AS BIGINT) AS s_clnc
      FROM f)
SELECT t_tokens AS n_tokens, vocab_size,
  round(CAST(CAST(round(ln(CAST(t_tokens AS DOUBLE)) * 1000, 0) AS BIGINT) * t_tokens - s_clnc AS DOUBLE)
        / (CAST(t_tokens AS DOUBLE) * 1000.0), 6) AS entropy_nats
FROM a
"""


# ---------------------------------------------------------------------------
# text_pmi_bigrams — collocation mining: top-K adjacent-token pairs by
# pointwise mutual information, PMI = ln(c12·B / (cf1·cs2)) with B the
# total bigram count and cf1/cs2 the positional marginals (count of w1 in
# first position, w2 in second). The standard phrase-detection primitive
# (word2vec's phrase pass, quality-filter boilerplate detection). A
# min-count floor drops sparse pairs whose PMI is noise.
#
# Exactness: each ln rides the ZIPF_LN_SCALE milli quantization —
# pmi_milli = L(c12) + L(B) − L(cf1) − L(cs2) is an exact int64 sum of
# four engine-agreed integers, so ranking and the final /1000 division
# are bit-identical. Scale: ONE corpus-sized map-side-combining bigram
# shuffle; marginals derive from the vocab²-bounded pair table (never
# re-scanning the corpus); the floor cuts the scored frame before the
# broadcast joins; TakeOrdered bounds the output.
# ---------------------------------------------------------------------------

def _lmilli(col):
    return F.round(F.log(col.cast("double")) * 1000, 0).cast("long")


def _q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(clean_text_expr(F.col("text")).alias("c"))
    tk = tokens_expr(F.col("c"))
    # F.sequence on size<2 would yield a DESCENDING range — gate it (the
    # _doc_bigram_buckets pitfall)
    pairs = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.struct(
                F.element_at(tk, i).alias("w1"),
                F.element_at(tk, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = d.select(F.explode(pairs).alias("pr")).select("pr.w1", "pr.w2")
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    cf = cb.groupBy("w1").agg(F.sum("n_pair").alias("n_first"))
    cs = cb.groupBy("w2").agg(F.sum("n_pair").alias("n_second"))
    tot = cb.agg(F.sum("n_pair").alias("n_bigrams"))
    scored = (
        cb.where(F.col("n_pair") >= PMI_MIN_COUNT)
        .join(F.broadcast(cf), "w1")
        .join(F.broadcast(cs), "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_pmi_milli",
            _lmilli(F.col("n_pair"))
            + _lmilli(F.col("n_bigrams"))
            - _lmilli(F.col("n_first"))
            - _lmilli(F.col("n_second")),
        )
    )
    return (
        scored.orderBy(
            F.col("_pmi_milli").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(PMI_TOPK)
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.round(F.col("_pmi_milli").cast("double") / F.lit(1000.0), 6).alias(
                "pmi_nats"
            ),
        )
    )


def _sql_pmi_bigrams() -> str:
    toks = tokens_sql("c")

    def lmilli(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1000, 0) AS BIGINT)"

    return f"""
WITH d AS ({_CLEANED_LM}),
tk AS (SELECT {toks} AS t FROM d),
big AS (
  SELECT u.b.w1 AS w1, u.b.w2 AS w2
  FROM (SELECT list_transform(range(1, len(t)), i -> {{'w1': t[i], 'w2': t[i + 1]}}) AS bl
        FROM tk WHERE len(t) >= 2),
       UNNEST(bl) AS u(b)),
cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM big GROUP BY 1, 2),
cf AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_first FROM cb GROUP BY 1),
cs AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS n_second FROM cb GROUP BY 1),
tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n_bigrams FROM cb),
scored AS (
  SELECT w1, w2, n_pair,
    {lmilli('n_pair')} + {lmilli('n_bigrams')}
      - {lmilli('n_first')} - {lmilli('n_second')} AS pmi_milli
  FROM cb JOIN cf USING (w1) JOIN cs USING (w2), tot
  WHERE n_pair >= {PMI_MIN_COUNT})
SELECT w1, w2, n_pair,
       round(CAST(pmi_milli AS DOUBLE) / 1000.0, 6) AS pmi_nats
FROM scored
ORDER BY pmi_milli DESC, w1 ASC, w2 ASC
LIMIT {PMI_TOPK}
"""


QUERIES = [
    QuerySpec(
        name="text_bpe_learn",
        build=_q_bpe_learn,
        oracle=bpe_oracle_sql(_WORDS_SQL, BPE_MERGES),
        doc=f"Distributed BPE vocabulary learning: top-{BPE_VOCAB_TOP} "
        f"word-frequency table, {BPE_MERGES} greedy merge rounds with "
        "exact window-algebra non-overlap semantics; oracle unrolls the "
        "identical recurrence as materialized CTEs.",
    ),
    QuerySpec(
        name="text_bpe_encode_topk",
        build=_q_bpe_encode,
        oracle=bpe_encode_oracle_sql(
            _WORDS_SQL, _ALL_WORDS_SQL, BPE_MERGES, BPE_ENCODE_TOPK
        ),
        doc="Learned-merge application (tokenize): one Column fold per "
        "distinct word over the collected K-row merge table; top-20 "
        "pieces weighted by word frequency. Oracle re-learns via the "
        "unrolled CTE chain then applies each merge with the identical "
        "list_reduce value-fold.",
    ),
    QuerySpec(
        name="text_inverted_index",
        build=_q_inverted_index,
        oracle=_SQL_INVERTED_INDEX,
        doc="Capped inverted index: top-15 tokens by document frequency "
        "with their first-8 posting doc ids; the posting cap rides the "
        "rank-limit pushdown so hot tokens never serialize one task.",
    ),
    QuerySpec(
        name="agg_cms_token_counts",
        build=_q_cms_token_counts,
        oracle=_sql_cms_token_counts(),
        doc="Count-Min Sketch of token frequencies (4x1024 exact-integer "
        "grid): top-20 tokens probed against the sketch, min-over-rows "
        "estimate, one-sided guarantee verified in-band.",
    ),
    QuerySpec(
        name="docs_nb_langid_confusion",
        build=_q_nb_langid_confusion,
        oracle=_sql_nb_langid_confusion(),
        doc="Multinomial Naive Bayes language-ID on a deterministic "
        "half split: hashed-unigram features, Laplace smoothing, exact "
        "micro-nat argmax; outputs the held-out confusion matrix.",
    ),
    QuerySpec(
        name="text_bm25_topk",
        build=_q_bm25_topk,
        oracle=_sql_bm25_topk(),
        doc="BM25 top-15 for a fixed 3-term query: exact-rational tf "
        "normalization (one int64/int64 division), milli-quantized idf, "
        "fixed-order per-term sum; one scan + a broadcast 1-row stats "
        "aggregate + TakeOrdered.",
    ),
    QuerySpec(
        name="text_pmi_bigrams",
        build=_q_pmi_bigrams,
        oracle=_sql_pmi_bigrams(),
        doc="Top-20 collocations by PMI over adjacent-token bigrams with "
        "a min-count floor: one map-side-combining bigram shuffle, "
        "vocab²-bounded marginals, exact milli-quantized ln sums, "
        "TakeOrdered output.",
    ),
    QuerySpec(
        name="text_unigram_entropy",
        build=_q_unigram_entropy,
        oracle=_sql_unigram_entropy(),
        doc="Corpus unigram entropy in nats via exact milli-quantized "
        "ln sums (the zipf-slope discipline); one token-frequency "
        "shuffle + a 1-row aggregate.",
    ),
    QuerySpec(
        name="docs_ccnet_perplexity_buckets",
        build=_q_ccnet_buckets,
        oracle=_sql_ccnet_buckets(),
        doc="CCNet head/middle/tail perplexity split: hashed-bucket "
        "bigram LM trained on the target-language slice, per-doc mean "
        "negative log-prob in exact micro-nats, exact rank tertiles.",
    ),
]
