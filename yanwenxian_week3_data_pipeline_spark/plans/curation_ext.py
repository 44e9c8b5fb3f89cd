"""Round-2 curation extensions (EXT surface; no reference counterpart —
the reference is a single-table pandas cleaner, cleaner.py:1-5):

- ``emb_label_centroids`` — per-label elementwise vector centroid. The
  vector-aggregation primitive behind IVF training, cluster profiling and
  centroid-based dedup. Float sums are order-dependent under parallel
  reduction, so each element is cast to DECIMAL before summing: decimal
  addition is exact and associative, making the centroid bit-identical
  across engines and across partitionings — the same trick the relational
  queries use for money columns.
- ``text_winnowing_overlap`` — winnowing fingerprints (Schleimer et al.
  2003, the MOSS algorithm): hash token k-grams, keep the min hash of each
  w-window of consecutive gram hashes. Any shared token run of length
  >= k + w - 1 is guaranteed to surface at least one shared fingerprint at
  ~1/w the storage of the full gram set. Pairs are found by the same
  bucket-guarded fingerprint equi-join shape as the MinHash band join.
- ``docs_length_histogram`` — per-language fixed-width length histogram
  (portable arithmetic bucketing), the corpus-profiling report run before
  choosing filter thresholds.
- ``docs_bloom_decontaminate`` — broadcast Bloom-filter pre-filter for
  benchmark decontamination, built entirely from relational expressions:
  the bench-side n-gram hashes are folded into a 2^16-bit bitset
  (``bit_or`` of shifted bits, grouped by word index), broadcast as ONE
  array<long> row, and probed per train-side gram with 3 positions sliced
  from the 60-bit hash. At 100 TB the exact bench join touches every
  train gram; the bloom probe is a map-side filter that drops the
  overwhelming majority of grams before any shuffle. The query emits both
  bloom and exact hit counts plus a per-doc superset check (bloom must
  never miss an exact hit — the defining Bloom property), so the oracle
  verifies the filter, not just the counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..constants import (
    BLOOM_PROBES,
    BLOOM_WORDS,
    DECON_BENCH_MIN_BUCKET,
    DECON_NGRAM,
    DECON_TRAIN_MAX_BUCKET,
    DEDUP_MAX_BUCKET,
    HIST_BUCKET_WIDTH,
    HIST_NUM_BUCKETS,
    WINNOW_GRAM_K,
    WINNOW_HASH_SEED,
    WINNOW_MIN_SHARED,
    WINNOW_WINDOW,
    WSAMPLE_K,
    WSAMPLE_PER_SOURCE_K,
    WSAMPLE_SEED,
    DSIR_BUCKETS,
    DSIR_K,
    DSIR_SEED,
    DSIR_TARGET_LANG,
)
from ..functions.hashing import hash52_expr, hash52_sql, hash60_expr, hash60_sql, md5_split_np
from ..functions.text import clean_text_expr
from ..functions.textstats import (
    quality_features_expr,
    quality_features_sql,
    token_count_expr,
    token_count_sql,
    tokens_expr,
    tokens_sql,
)
from . import QuerySpec
from .documents_domain import CLEAN_SQL, _docs

_CLEANED = f"SELECT doc_id, {CLEAN_SQL} AS c FROM documents"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# emb_label_centroids
# ---------------------------------------------------------------------------

def _q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elementwise mean vector per label: posexplode -> exact decimal sums
    per (label, dim) -> reassemble ordered by dim. One shuffle on
    (label, pos) with map-side partial sums; the reassembly groupBy(label)
    moves only n_labels × dim rows. Scale shape: never materializes an
    all-vectors-per-label list — the explode keeps state per (label, dim)
    cell, so a 4096-dim embedding over billions of rows aggregates into
    n_labels × 4096 cells regardless of corpus size."""
    e = _emb(spark, sf_dir)
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    sums = ex.groupBy("label", "pos").agg(
        F.sum(F.col("v").cast("double").cast("decimal(25,10)")).alias("sd"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = sums.select(
        "label",
        "pos",
        "n",
        F.round(F.col("sd").cast("double") / F.col("n"), 6).alias("cv"),
    )
    return (
        cent.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("_ps"),
        )
        .select(
            "label",
            "n_vecs",
            F.transform("_ps", lambda x: x["cv"]).alias("centroid"),
        )
    )


_SQL_LABEL_CENTROIDS = """
WITH ex AS (
  SELECT label,
         unnest(range(len(embedding))) AS pos,
         unnest(embedding) AS v
  FROM embeddings),
s AS (
  SELECT label, pos,
         sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(25,10))) AS sd,
         count(*) AS n
  FROM ex GROUP BY label, pos),
c AS (SELECT label, pos, n, round(CAST(sd AS DOUBLE) / n, 6) AS cv FROM s)
SELECT label, max(n) AS n_vecs, list(cv ORDER BY pos) AS centroid
FROM c GROUP BY label
"""


# ---------------------------------------------------------------------------
# text_winnowing_overlap
# ---------------------------------------------------------------------------

def _winnow_fps_expr(text: F.Column) -> F.Column:
    """Winnowed fingerprint set of a raw text column. Both the token array
    and the gram-hash array are LET-BOUND via ``transform(array(x), λ)[0]``
    (see operators/dedup.py shingles_from_text_expr): the window-min step
    references the gram array w times per position, and an inlined gram
    builder would be re-hashed per reference."""

    def grams(t: F.Column) -> F.Column:
        idx = F.sequence(F.lit(1), F.size(t) - (WINNOW_GRAM_K - 1))
        g = F.transform(
            idx,
            lambda i: hash60_expr(
                F.concat_ws(" ", F.slice(t, i, WINNOW_GRAM_K)), seed=WINNOW_HASH_SEED
            ),
        )
        return F.when(F.size(t) >= WINNOW_GRAM_K, g).otherwise(
            F.array().cast("array<long>")
        )

    def winnow(g: F.Column) -> F.Column:
        wins = F.sequence(F.lit(1), F.size(g) - (WINNOW_WINDOW - 1))
        fps = F.array_distinct(
            F.transform(wins, lambda j: F.array_min(F.slice(g, j, WINNOW_WINDOW)))
        )
        return F.when(F.size(g) >= WINNOW_WINDOW, fps).otherwise(
            F.array().cast("array<long>")
        )

    toks = tokens_expr(clean_text_expr(text))
    return F.transform(
        F.array(toks), lambda t: F.transform(F.array(grams(t)), winnow)[0]
    )[0]


def _winnow_fps_table(d: DataFrame) -> DataFrame:
    """(doc_id, fp) exploded winnowed-fingerprint table — Arrow/numpy
    kernel, the default execution path (r11). Same contract as
    ``_winnow_fps_expr``, which stays as the expression reference the
    DuckDB oracle replays and the cross-impl unit test compares against:
    fp = hash60(seed || ':' || space-joined k-gram) (md5 is md5 in both
    implementations), one sliding-window min per position (numpy stride
    tricks), distinct per doc; docs with < k tokens or < w gram hashes
    emit nothing.

    Why Arrow here (the _minhash_sig_table lesson): the window-min step
    is an interpreted O(n·w) array_min-over-slices HOF per document —
    Catalyst does not codegen higher-order-function lambdas — and it
    dominated the committed wall. Measured interleaved ×6, results
    bit-identical (OPTIMIZATION_r11.md): sf0.1 2.628 → 0.384 s
    (−85 %), sf1 8.227 → 1.640 s (−80 %). Tokenization stays a Spark
    expression so cleaning is shared with every other text operator; the
    transfer in is (doc_id, toks) only, out is two longs per fingerprint.
    """
    import numpy as np
    import pandas as pd

    K, W, seed = WINNOW_GRAM_K, WINNOW_WINDOW, WINNOW_HASH_SEED
    md5_split = md5_split_np()

    def kernel(batches):
        pre = f"{seed}:".encode()
        for pdf in batches:
            ids, fps = [], []
            for did, toks in zip(pdf["doc_id"], pdf["toks"]):
                n = len(toks)
                if n < K:
                    continue
                grams = [pre + " ".join(toks[i : i + K]).encode() for i in range(n - K + 1)]
                h = md5_split(grams)[0]
                if len(h) < W:
                    continue
                mins = np.lib.stride_tricks.sliding_window_view(h, W).min(axis=1)
                for fp in set(mins.tolist()):
                    ids.append(did)
                    fps.append(fp)
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    toks = d.select(
        "doc_id", tokens_expr(clean_text_expr(F.col("text"))).alias("toks")
    )
    return toks.mapInPandas(kernel, "doc_id long, fp long")


def _q_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= WINNOW_MIN_SHARED winnowed fingerprints.
    Plan shape = the LSH band join: explode (doc, fp), drop mega-buckets
    (a fingerprint shared by more than DEDUP_MAX_BUCKET docs is boilerplate,
    and its self-join would be quadratic), equi-join on fp, count per pair.
    The only data-sized shuffle is on the fingerprint key.

    The fingerprint table is the Arrow kernel (``_winnow_fps_table``) and
    feeds THREE consumers (bucket guard + both join sides); Python stages
    are not deduped by exchange reuse (the r6 lesson), so it is
    checkpointed once — two narrow longs per fingerprint, ~1/w of the
    gram count (the minhash sigs precedent)."""
    e = _winnow_fps_table(_docs(spark, sf_dir)).localCheckpoint(eager=True)
    ok = e.groupBy("fp").count().where(F.col("count") <= DEDUP_MAX_BUCKET).drop("count")
    e = e.join(ok, "fp", "left_semi")
    pairs = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    return pairs


_WINNOW_GRAM = hash60_sql(
    f"array_to_string(toks[i:i+{WINNOW_GRAM_K - 1}], ' ')", seed=WINNOW_HASH_SEED
)

_SQL_WINNOWING_OVERLAP = f"""
WITH d AS ({_CLEANED}),
t AS (SELECT doc_id, {tokens_sql('c')} AS toks FROM d),
g AS (SELECT doc_id,
        CASE WHEN len(toks) >= {WINNOW_GRAM_K}
             THEN list_transform(range(1, len(toks) - {WINNOW_GRAM_K - 1} + 1),
                                 i -> {_WINNOW_GRAM})
             ELSE CAST([] AS BIGINT[]) END AS gh
      FROM t),
f AS (SELECT doc_id,
        CASE WHEN len(gh) >= {WINNOW_WINDOW}
             THEN list_distinct(list_transform(
                    range(1, len(gh) - {WINNOW_WINDOW - 1} + 1),
                    j -> list_aggregate(gh[j:j+{WINNOW_WINDOW - 1}], 'min')))
             ELSE CAST([] AS BIGINT[]) END AS fps
      FROM g),
e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
ok AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= {DEDUP_MAX_BUCKET}),
eo AS (SELECT e.doc_id, e.fp FROM e JOIN ok USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM eo a JOIN eo b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# docs_length_histogram
# ---------------------------------------------------------------------------

def _q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language char-length histogram with fixed-width buckets (top
    bucket open-ended) and the within-language share. One shuffle on the
    low-cardinality (lang, bucket) key; the share window repartitions only
    the tiny histogram table."""
    d = _docs(spark, sf_dir)
    bucket = F.least(
        F.floor(F.col("n_chars") / HIST_BUCKET_WIDTH),
        F.lit(HIST_NUM_BUCKETS - 1),
    ).cast("int")
    h = d.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    share = F.round(
        F.col("n_docs") / F.sum("n_docs").over(Window.partitionBy("lang")), 6
    )
    return h.select(
        "lang",
        "bucket",
        (F.col("bucket") * HIST_BUCKET_WIDTH).alias("bucket_lo"),
        "n_docs",
        share.alias("lang_share"),
    )


_SQL_LENGTH_HISTOGRAM = f"""
WITH h AS (
  SELECT lang,
         CAST(least(floor(n_chars / {HIST_BUCKET_WIDTH}), {HIST_NUM_BUCKETS - 1}) AS INT) AS bucket,
         count(*) AS n_docs
  FROM documents GROUP BY 1, 2)
SELECT lang, bucket, bucket * {HIST_BUCKET_WIDTH} AS bucket_lo,
       CAST(n_docs AS BIGINT) AS n_docs,
       round(n_docs / sum(n_docs) OVER (PARTITION BY lang), 6) AS lang_share
FROM h
"""


# ---------------------------------------------------------------------------
# docs_bloom_decontaminate
# ---------------------------------------------------------------------------

def _q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered decontamination over the same train/bench hash
    split as docs_decontaminate (plans/llm_ops.py): bench gram hashes fold
    into a broadcast 2^16-bit bitset; every train gram is probed at
    BLOOM_PROBES positions sliced from its own 60-bit hash (no extra
    hashing). Emits per-train-doc gram counts, bloom hits, exact hits and
    the superset invariant (bloom never misses an exact hit)."""
    from .llm_ops import _word_grams

    d = _docs(spark, sf_dir).select(
        "doc_id", clean_text_expr(F.col("text")).alias("c")
    )
    grams = F.array_distinct(
        _word_grams(tokens_expr(F.col("c")), DECON_NGRAM, as_hash=True)
    )
    bucket = hash60_expr(F.col("doc_id").cast("string")) % 1000
    g = d.select("doc_id", bucket.alias("bkt"), F.explode(grams).alias("gh"))

    bench_gh = (
        g.where(F.col("bkt") >= DECON_BENCH_MIN_BUCKET).select("gh").distinct()
    )
    # bitset build: 3 probe positions per gram -> (word, bit) -> bit_or per
    # word -> ONE row holding the array<long> bitset
    pos = F.explode(
        F.array(
            *[
                F.shiftright(F.col("gh"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                for i in range(BLOOM_PROBES)
            ]
        )
    ).alias("pos")
    words = (
        bench_gh.select(pos)
        .select(
            F.shiftright(F.col("pos"), 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )
    bitset = (
        words.agg(
            F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("m")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(BLOOM_WORDS - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("m"), i.cast("long")),
                    F.lit(0).cast("long"),
                ),
            ).alias("bs")
        )
    )

    train = g.where(F.col("bkt") < DECON_TRAIN_MAX_BUCKET).select("doc_id", "gh")
    probed = train.crossJoin(F.broadcast(bitset))
    for i in range(BLOOM_PROBES):
        probed = probed.withColumn(
            f"p{i}", F.shiftright(F.col("gh"), 16 * i).bitwiseAND(F.lit(0xFFFF))
        )
    hit = F.lit(True)
    for i in range(BLOOM_PROBES):
        hit = hit & F.expr(
            f"(element_at(bs, CAST(p{i} DIV 64 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(p{i} % 64 AS INT))) != 0"
        )
    probed = probed.withColumn("bloom_hit", hit).join(
        bench_gh.withColumn("exact_hit", F.lit(True)), "gh", "left"
    )
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"),
        F.sum(F.coalesce(F.col("exact_hit"), F.lit(False)).cast("long")).alias(
            "n_exact_hits"
        ),
        F.bool_and(
            F.col("bloom_hit") | ~F.coalesce(F.col("exact_hit"), F.lit(False))
        ).alias("bloom_superset_ok"),
    )


def _bloom_grams_sql(n: int) -> str:
    from .llm_ops import _grams_sql

    return _grams_sql(n, hashed=True)


def _bit_sql(b: str) -> str:
    """BIGINT with bit ``b`` set, DuckDB-side. DuckDB raises on
    ``1::BIGINT << 63`` (checked overflow) where Spark's shiftleft wraps to
    the sign bit, so bit 63 is spelled as MIN_BIGINT."""
    return (
        f"(CASE WHEN ({b}) = 63 THEN (-9223372036854775807 - 1) "
        f"ELSE (1::BIGINT << CAST({b} AS INT)) END)"
    )


def _bloom_probe_sql(i: int) -> str:
    p = f"((tr.gh >> {16 * i}) & 65535)"
    return f"((bs[CAST({p} // 64 AS BIGINT) + 1] & {_bit_sql(f'{p} % 64')}) != 0)"


def _sql_bloom_decontaminate() -> str:
    probes = " AND ".join(_bloom_probe_sql(i) for i in range(BLOOM_PROBES))
    pos_list = ", ".join(f"(gh >> {16 * i}) & 65535" for i in range(BLOOM_PROBES))
    return f"""
WITH d AS ({_CLEANED}),
t AS (SELECT doc_id, {tokens_sql('c')} AS toks FROM d),
g AS (SELECT doc_id, ({hash60_sql('CAST(doc_id AS VARCHAR)')} % 1000) AS bkt,
        unnest(list_distinct({_bloom_grams_sql(DECON_NGRAM)})) AS gh
      FROM t),
bench AS (SELECT DISTINCT gh FROM g WHERE bkt >= {DECON_BENCH_MIN_BUCKET}),
pw AS (SELECT pos // 64 AS w, bit_or({_bit_sql('pos % 64')}) AS word
       FROM (SELECT unnest([{pos_list}]) AS pos FROM bench) GROUP BY 1),
bsr AS (SELECT list(coalesce(pw.word, 0) ORDER BY r.i) AS bs
        FROM range(0, {BLOOM_WORDS}) r(i) LEFT JOIN pw ON pw.w = r.i),
train AS (SELECT doc_id, gh FROM g WHERE bkt < {DECON_TRAIN_MAX_BUCKET}),
probed AS (
  SELECT tr.doc_id, tr.gh, ({probes}) AS bloom_hit,
         (be.gh IS NOT NULL) AS exact_hit
  FROM train tr CROSS JOIN bsr LEFT JOIN bench be ON be.gh = tr.gh)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
       bool_and(bloom_hit OR NOT exact_hit) AS bloom_superset_ok
FROM probed GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# join_fuzzy_part_names — q-gram-blocked fuzzy self-join (entity
# resolution): candidate name pairs must share at least one character
# 3-gram (strings within edit distance k share a 3-gram whenever
# max_len - 3 + 1 - 3k > 0 — true for these name lengths at k=3, so
# blocking loses no true pair), then exact Levenshtein verifies. The same
# block-then-verify shape as the LSH joins: the only data-sized shuffle is
# on the gram key, never name × name.
# ---------------------------------------------------------------------------

FUZZY_MAX_DISTANCE = 3


def _q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        spark.read.parquet(f"{sf_dir}/part.parquet").select("p_name").distinct()
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("p_name") - 2),
            lambda i: F.substr(F.col("p_name"), i, F.lit(3)),
        )
    )
    e = names.select("p_name", F.explode(grams).alias("g"))
    ok = e.groupBy("g").count().where(F.col("count") <= DEDUP_MAX_BUCKET).drop("count")
    e = e.join(ok, "g", "left_semi")
    cand = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"), F.col("b.p_name").alias("name_b")
        )
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("lev"),
    ).where(F.col("lev") <= FUZZY_MAX_DISTANCE)


_SQL_FUZZY_PART_NAMES = f"""
WITH n AS (SELECT DISTINCT p_name FROM part),
e AS (SELECT DISTINCT p_name, unnest(list_transform(range(1, greatest(len(p_name) - 2, 0) + 1),
                                     i -> substr(p_name, CAST(i AS INT), 3))) AS g
      FROM n),
ok AS (SELECT g FROM e GROUP BY g HAVING count(*) <= {DEDUP_MAX_BUCKET}),
eo AS (SELECT e.p_name, e.g FROM e JOIN ok USING (g)),
cand AS (SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
         FROM eo a JOIN eo b ON a.g = b.g AND a.p_name < b.p_name)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS lev
FROM cand WHERE levenshtein(name_a, name_b) <= {FUZZY_MAX_DISTANCE}
"""


# ---------------------------------------------------------------------------
# docs_vocab_coverage — vocabulary-size decision report: top-K tokens by
# corpus frequency with each token's cumulative coverage of all token
# occurrences (the curve read before fixing a tokenizer vocab size). The
# heavy work is the token groupBy (map-side partial, one shuffle on the
# token). Ranking must NOT window over the whole vocabulary — a 100 TB web
# corpus has billions of distinct junk tokens, so that window is a
# single-partition sort of the distinct-token table. Instead: top-K via
# orderBy().limit(K) (TakeOrderedAndProject — each task keeps its local
# top-K, only K·partitions rows ever leave the scan), the global
# occurrence total as a broadcast 1-row crossJoin, and the rank/cumsum
# window over exactly the K surviving rows (K-bounded, not
# data-proportional). Both branches aggregate the same counts frame, so
# the token-shuffle exchange is planned once and reused. Plan-shape pinned
# by tests/test_plans.py::test_vocab_coverage_no_full_vocab_sort.
# ---------------------------------------------------------------------------

VOCAB_TOPK = 30


def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select(
        F.explode(tokens_expr(clean_text_expr(F.col("text")))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_occ"))
    topk = counts.orderBy(F.desc("n_occ"), F.asc("tok")).limit(VOCAB_TOPK)
    total = counts.agg(F.sum("n_occ").alias("_tot"))
    w_rank = Window.orderBy(F.desc("n_occ"), F.asc("tok"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return topk.crossJoin(F.broadcast(total)).select(
        "tok",
        "n_occ",
        F.row_number().over(w_rank).alias("rank"),
        F.round(F.sum("n_occ").over(w_cum) / F.col("_tot"), 6).alias(
            "cum_coverage"
        ),
    )


_SQL_VOCAB_COVERAGE = f"""
WITH d AS ({_CLEANED}),
t AS (SELECT unnest({tokens_sql('c')}) AS tok FROM d),
c AS (SELECT tok, count(*) AS n_occ FROM t GROUP BY tok),
r AS (SELECT tok, n_occ,
        row_number() OVER (ORDER BY n_occ DESC, tok ASC) AS rank,
        round(sum(n_occ) OVER (ORDER BY n_occ DESC, tok ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              / sum(n_occ) OVER (), 6) AS cum_coverage
      FROM c)
SELECT tok, n_occ, CAST(rank AS INT) AS rank, cum_coverage
FROM r WHERE rank <= {VOCAB_TOPK}
"""


# ---------------------------------------------------------------------------
# docs_equidepth_histogram — equi-DEPTH (decile) length histogram: cut
# points are the exact rank-selected decile values of n_chars, every doc
# bucketed by how many cuts its length strictly exceeds. Cross-engine
# determinism: ANSI percentile_disc and DuckDB quantile_disc disagree on
# the selected INDEX for some (n, q) (ceil(nq) vs floor((n-1)q)+1), so
# neither is used — both engines rank by (n_chars, doc_id) and select rank
# (n·i + 9) div 10 with INTEGER arithmetic, so the cut values are
# identical by construction. Ties share a bucket (bucketing is by value),
# so depths are ~n/10, exactly reproducible.
#
# The EXACT ranks are computed fully distributed — no row_number over the
# corpus. Key observation: the n_chars value at global rank t in
# (n_chars, doc_id) order depends only on the LENGTH HISTOGRAM — it is
# the value v with cum(<v) < t <= cum(<=v) (the doc_id tiebreak orders
# equal-valued rows among themselves but never changes which VALUE sits
# at a rank). So: groupBy(n_chars) → range-repartition the histogram →
# eager local checkpoint (pins partition contents, so the offsets job and
# the cuts job see identical partitioning) → per-partition subtotals (one
# tiny collect, the record_id offset technique from
# sources/articles_json.py:30-60) → mapInPandas running cumulative sum
# with the partition's global offset → each decile target joins the one
# histogram row whose [cum_lo, cum_hi) span contains it. Every stage is
# parallel; the only driver data is one row per partition. Plan-shape
# pinned by tests/test_plans.py::test_equidepth_no_single_partition_sort.
# The machinery is factored into operators/quantiles.py (exact_rank_cuts),
# shared with the CCNet perplexity tertiles in plans/lm_ext.py.
# ---------------------------------------------------------------------------

def _q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import exact_rank_cuts

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    cuts = exact_rank_cuts(
        d, "n_chars", [(i, 10) for i in range(1, 10)]
    ).select(F.col("cut"))
    bucketed = (
        d.join(F.broadcast(cuts), d.n_chars > cuts.cut, "left")
        .groupBy("doc_id", "n_chars")
        .agg(F.count("cut").alias("bucket"))
    )
    return (
        bucketed.groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("len_lo"),
            F.max("n_chars").alias("len_hi"),
        )
    )


_SQL_EQUIDEPTH_HISTOGRAM = """
WITH t AS (SELECT count(*) AS n FROM documents),
ranked AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rn
  FROM documents),
idxs AS (SELECT i, (n * i + 9) // 10 AS target
         FROM t, UNNEST(range(1, 10)) AS u(i)),
cuts AS (SELECT n_chars AS cut FROM ranked JOIN idxs ON rn = target),
bucketed AS (
  SELECT d.doc_id, d.n_chars, count(c.cut) AS bucket
  FROM documents d LEFT JOIN cuts c ON d.n_chars > c.cut
  GROUP BY d.doc_id, d.n_chars)
SELECT CAST(bucket AS INT) AS bucket, count(*) AS n_docs,
       min(n_chars) AS len_lo, max(n_chars) AS len_hi
FROM bucketed GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# docs_median_length_by_lang — per-language median length via a GROUPED_AGG
# pandas UDF, the one Pandas-UDF flavor the registry didn't yet pin
# (scalar, grouped-map, mapInPandas, mapInArrow, UDTF are all exercised
# elsewhere). Median is cross-engine bit-deterministic: sort + midpoint,
# with the even-n interpolation (a+b)/2 evaluated identically by numpy and
# DuckDB on exact integers. Scale note: a grouped-agg UDF materializes the
# whole group as one pandas Series (no partial aggregation) — fine for
# per-language groups, and the built-in median/percentile_approx is the
# drop-in when groups outgrow memory; the point here is the API surface
# and the exactness contract.
# ---------------------------------------------------------------------------

def _q_median_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _median(v):
        return float(np.median(v.dropna()))

    # concrete annotation OBJECTS (not strings): `from __future__ import
    # annotations` stringifies inline hints and pandas_udf cannot resolve
    # 'pd.Series' from a function-local import
    _median.__annotations__ = {"v": pd.Series, "return": float}
    median_udaf = pandas_udf(_median, "double")

    def _size(v):
        return len(v)

    # a grouped-agg UDF cannot be mixed with built-in aggregates in one
    # agg(), so the row count is a second pandas UDAF (len includes NaN —
    # count(*) semantics)
    _size.__annotations__ = {"v": pd.Series, "return": int}
    size_udaf = pandas_udf(_size, "long")

    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            size_udaf("n_chars").alias("n_docs"),
            median_udaf("n_chars").alias("median_chars"),
        )
    )


_SQL_MEDIAN_BY_LANG = """
SELECT lang, count(*) AS n_docs,
       CAST(median(n_chars) AS DOUBLE) AS median_chars
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# docs_temperature_mixture — temperature-based source re-weighting (the
# mT5/multilingual-corpus recipe: sample stratum s proportional to
# w_s = mass_s^(1/T), here T = 2 so w = sqrt — chosen deliberately because
# IEEE sqrt is CORRECTLY ROUNDED on every engine, unlike pow/exp, so the
# keep thresholds are bit-identical with no libm slack). Per source:
# target char budget = (sqrt-share of total mass) × (50 % global budget),
# capped at the stratum's own mass; docs kept by the same deterministic
# doc_id-hash-bucket rule as docs_sample_mixture (re-run-stable, engine-
# independent). The sqrt terms are summed as DECIMALS (exact, associative)
# and cast to double ONCE, so the normalizer does not depend on partition
# order — the same determinism trick as emb_label_centroids.
# Scale shape: two aggregates over the corpus + a broadcast of one row
# per source; the keep decision is a map-side filter.
# ---------------------------------------------------------------------------

MIX_TEMP_BUDGET = 0.5  # fraction of total corpus chars to keep


def _q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import MIX_BUCKETS, MIX_HASH_SEED

    d = _docs(spark, sf_dir)
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars")
    )
    w_dec = F.sqrt(F.col("chars").cast("double")).cast("decimal(28,10)")
    tot = s.agg(
        F.sum(w_dec).cast("double").alias("wsum"),
        F.sum("chars").cast("double").alias("totchars"),
    )
    fs = F.least(
        F.lit(1.0),
        F.sqrt(F.col("chars").cast("double"))
        / F.col("wsum")
        * (F.lit(MIX_TEMP_BUDGET) * F.col("totchars"))
        / F.col("chars").cast("double"),
    )
    th = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "chars",
        F.floor(F.lit(MIX_BUCKETS) * fs).cast("long").alias("thr"),
        F.round(fs, 6).alias("keep_frac"),
    )
    h = hash60_expr(F.col("doc_id").cast("string"), seed=MIX_HASH_SEED) % MIX_BUCKETS
    k = (
        d.join(F.broadcast(th.select("source", "thr")), "source")
        .where(h < F.col("thr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    return th.join(k, "source", "left").select(
        "source",
        "n_docs",
        F.col("chars").alias("chars_total"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("kept_chars", F.lit(0)).cast("long").alias("kept_chars"),
        "keep_frac",
    )


def _temperature_mixture_sql() -> str:
    from ..constants import MIX_BUCKETS, MIX_HASH_SEED

    return f"""
WITH s AS (SELECT source, count(*) AS n_docs, sum(n_chars) AS chars
           FROM documents GROUP BY source),
t AS (SELECT CAST(sum(CAST(sqrt(CAST(chars AS DOUBLE)) AS DECIMAL(28,10))) AS DOUBLE) AS wsum,
             CAST(sum(chars) AS DOUBLE) AS totchars
      FROM s),
th AS (SELECT source, n_docs, chars,
         CAST(floor({MIX_BUCKETS} * least(1.0,
           sqrt(CAST(chars AS DOUBLE)) / wsum * ({MIX_TEMP_BUDGET} * totchars)
             / CAST(chars AS DOUBLE))) AS BIGINT) AS thr,
         round(least(1.0,
           sqrt(CAST(chars AS DOUBLE)) / wsum * ({MIX_TEMP_BUDGET} * totchars)
             / CAST(chars AS DOUBLE)), 6) AS keep_frac
       FROM s, t),
k AS (SELECT d.source, count(*) AS n_kept, sum(d.n_chars) AS kept_chars
      FROM documents d JOIN th ON d.source = th.source
      WHERE ({hash60_sql("CAST(doc_id AS VARCHAR)", seed=MIX_HASH_SEED)}
             % {MIX_BUCKETS}) < th.thr
      GROUP BY d.source)
SELECT th.source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(chars AS BIGINT) AS chars_total,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(kept_chars, 0) AS BIGINT) AS kept_chars,
       keep_frac
FROM th LEFT JOIN k ON th.source = k.source
"""


# ---------------------------------------------------------------------------
# docs_weighted_sample — weighted sampling WITHOUT replacement
# (Efraimidis–Spirakis A-ES, Inf. Process. Lett. 2006): each doc draws
# u ~ U(0,1] and gets key u^(1/w); the k largest keys are exactly a
# weight-proportional sample without replacement. This is the
# quality-weighted training-mix subsample ("take k docs proportional to
# quality") in ONE scan with no RNG state: u is a seeded md5 of doc_id
# (hash52 — 52 bits so (h+1)/2^52 is a bit-identical double on both
# engines), so the sample is reproducible and independent of partitioning,
# task order, and engine. Ranking uses the monotone transform ln(u)/w of
# the E-S key (same ordering, no underflow for tiny weights), rounded to 6
# as everywhere libm enters the output; w = the exact-decimal quality
# score, and zero-weight docs are unsampleable (the estimator's own
# contract — u^(1/0+) → 0).
# Scale shape: map-only feature/key computation, then orderBy().limit(k)
# = TakeOrderedAndProject: per-partition k-row heaps and one k-row merge —
# no global sort, no corpus shuffle; at 100 TB this is one scan plus a
# k-row reduce, and the same plan serves any k that fits the driver.
# ---------------------------------------------------------------------------


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", clean_text_expr(F.col("text")).alias("c")
    )
    q = quality_features_expr(F.col("c"))["quality_score"]
    u = (hash52_expr(F.col("doc_id").cast("string"), seed=WSAMPLE_SEED) + 1) / F.lit(
        float(2**52)
    )
    keyed = (
        d.select("doc_id", q.alias("q"), u.alias("u"))
        .where(F.col("q") > 0)
        .select(
            "doc_id",
            F.col("q").cast("double").alias("weight"),
            F.round(F.log("u") / F.col("q").cast("double"), 6).alias("es_key"),
        )
    )
    return keyed.orderBy(F.desc("es_key"), F.asc("doc_id")).limit(WSAMPLE_K)


def _sql_weighted_sample() -> str:
    q = quality_features_sql("c")["quality_score"]
    u = f"(({hash52_sql('CAST(doc_id AS VARCHAR)', seed=WSAMPLE_SEED)} + 1) / {float(2**52)})"
    # the final projection sits in its own CTE before ORDER BY: DuckDB
    # binds ORDER BY expressions against INPUT columns, not output aliases
    return f"""
WITH d AS ({_CLEANED}),
f AS (SELECT doc_id, {q} AS q, {u} AS u FROM d),
k AS (SELECT doc_id, CAST(q AS DOUBLE) AS weight,
             round(ln(u) / CAST(q AS DOUBLE), 6) AS es_key
      FROM f WHERE q > 0)
SELECT doc_id, weight, es_key FROM k
ORDER BY es_key DESC, doc_id ASC LIMIT {WSAMPLE_K}
"""


# ---------------------------------------------------------------------------
# docs_weighted_sample_by_source — the STRATIFIED form of the A-ES sampler:
# an independent weight-proportional sample of k docs per source (the
# "balanced quota per domain" curation op; per-stratum E-S with a shared
# seed is still exact per stratum since uniforms are independent across
# docs). Scale shape: source cardinality is tiny, so a naive window over
# source would seem to sort each source's whole corpus slice in ONE task —
# but Catalyst's rank-limit pushdown (WindowGroupLimit, Spark 3.5+) turns
# the ``row_number() <= k`` filter into a PER-INPUT-PARTITION top-k cut
# BEFORE the exchange: each map task forwards at most k rows per source,
# so the hot-source task only ever sorts nparts·k survivors. A first draft
# hand-rolled exactly that two-level top-k via a (spark_partition_id,
# source) pre-window; the explain showed Catalyst already emits the
# Partial/Final WindowGroupLimit pair for the single-window form, and the
# manual level only added a redundant sort + exchange — so the declarative
# form wins (plan test pins the pushdown so a regression can't silently
# restore the unbounded sort).
# ---------------------------------------------------------------------------


def _q_weighted_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", clean_text_expr(F.col("text")).alias("c")
    )
    q = quality_features_expr(F.col("c"))["quality_score"]
    u = (hash52_expr(F.col("doc_id").cast("string"), seed=WSAMPLE_SEED) + 1) / F.lit(
        float(2**52)
    )
    keyed = (
        d.select("doc_id", "source", q.alias("q"), u.alias("u"))
        .where(F.col("q") > 0)
        .select(
            "doc_id",
            "source",
            F.col("q").cast("double").alias("weight"),
            F.round(F.log("u") / F.col("q").cast("double"), 6).alias("es_key"),
        )
    )
    w_src = Window.partitionBy("source").orderBy(F.desc("es_key"), F.asc("doc_id"))
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w_src).cast("long"))
        .where(F.col("sample_rank") <= WSAMPLE_PER_SOURCE_K)
        .select("source", "sample_rank", "doc_id", "weight", "es_key")
        .orderBy("source", "sample_rank")
    )


def _sql_weighted_sample_by_source() -> str:
    q = quality_features_sql("c")["quality_score"]
    u = f"(({hash52_sql('CAST(doc_id AS VARCHAR)', seed=WSAMPLE_SEED)} + 1) / {float(2**52)})"
    return f"""
WITH d AS (SELECT doc_id, source, {CLEAN_SQL} AS c FROM documents),
f AS (SELECT doc_id, source, {q} AS q, {u} AS u FROM d),
k AS (SELECT doc_id, source, CAST(q AS DOUBLE) AS weight,
             round(ln(u) / CAST(q AS DOUBLE), 6) AS es_key
      FROM f WHERE q > 0),
r AS (SELECT source, doc_id, weight, es_key,
             CAST(row_number() OVER (PARTITION BY source
                  ORDER BY es_key DESC, doc_id ASC) AS BIGINT) AS sample_rank
      FROM k)
SELECT source, sample_rank, doc_id, weight, es_key FROM r
WHERE sample_rank <= {WSAMPLE_PER_SOURCE_K}
ORDER BY source, sample_rank
"""


# ---------------------------------------------------------------------------
# docs_dsir_select — DSIR: Data Selection via Importance Resampling (Xie et
# al. 2023, arXiv:2302.03169). Selects the K raw-pool docs (lang != target)
# whose hashed-n-gram profile looks most like the TARGET slice (lang =
# target): the standard "pick web data that resembles the high-quality
# domain" curation op.
#
#   features   hashed unigram + adjacent-bigram counts into B buckets
#   weights    log p̂(b)/q̂(b) per bucket, Laplace-smoothed (+1 / +B)
#   per doc    log w(doc) = Σ_b n_b(doc) · log-ratio(b)
#   resample   Gumbel top-k: argmax-k of log w + Gumbel(0,1), which draws
#              k docs ~ softmax(log w) WITHOUT replacement in one pass
#
# Cross-engine exactness: the smoothed ratio is a quotient of exact integer
# products (each < 2^53, so the double division is bit-identical), and ln
# enters the output only through round(·×10⁶) → BIGINT micro-nats. The
# per-doc weight is then an INTEGER sum — exact under any reduction order —
# and the Gumbel key likewise (seeded hash52 uniform, the A-ES recipe).
# Selection orders by the exact integer key with doc_id tie-break.
#
# Scale shape (100 TB): one token-explode pass builds both distributions
# and the per-doc counts; the log-ratio table is B-bounded (512 rows) and
# BROADCAST, so per-doc scoring is map-side; the two corpus totals ride
# 1-row cross joins (sanctioned scalar class); the final top-k is
# TakeOrderedAndProject (per-partition heaps, k-row merge) — no corpus
# shuffle anywhere after the (doc_id, bucket) partial-agg. Docs with no
# tokens have no feature rows and are unsampleable on both engines.
# ---------------------------------------------------------------------------


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    b_lit = F.lit(DSIR_BUCKETS)
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", clean_text_expr(F.col("text")).alias("c")
    )
    tk = tokens_expr(F.col("c"))
    # adjacent bigrams; F.sequence on size<2 would yield a DESCENDING range
    # ([0,-1]), so gate it (the F.sequence-on-empty pitfall)
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 2),
            lambda i: F.concat_ws(
                "_", F.element_at(tk, i + 1), F.element_at(tk, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = d.select(
        "doc_id", "lang", F.explode(F.concat(tk, bigrams)).alias("g")
    ).select("doc_id", "lang", F.pmod(hash60_expr(F.col("g")), b_lit).alias("b"))

    is_tgt = F.col("lang") == DSIR_TARGET_LANG
    tgt_b = feats.where(is_tgt).groupBy("b").agg(F.count(F.lit(1)).alias("np"))
    pool = feats.where(~is_tgt)
    pool_b = pool.groupBy("b").agg(F.count(F.lit(1)).alias("nq"))
    tp = tgt_b.agg(F.coalesce(F.sum("np"), F.lit(0)).alias("tp"))
    tq = pool_b.agg(F.coalesce(F.sum("nq"), F.lit(0)).alias("tq"))

    ratio = (
        ((F.coalesce(F.col("np"), F.lit(0)) + 1) * (F.col("tq") + b_lit)).cast(
            "double"
        )
        / ((F.col("nq") + 1) * (F.col("tp") + b_lit)).cast("double")
    )
    lr = (
        pool_b.join(tgt_b, "b", "left")
        .crossJoin(tp)
        .crossJoin(tq)
        .select(
            "b",
            F.round(F.log(ratio) * 1e6, 0).cast("long").alias("lr_micro"),
        )
    )

    per_doc = pool.groupBy("doc_id", "lang", "b").agg(
        F.count(F.lit(1)).alias("n")
    )
    logw = per_doc.join(F.broadcast(lr), "b").groupBy("doc_id", "lang").agg(
        F.sum(F.col("n") * F.col("lr_micro")).cast("long").alias("logw_micro")
    )
    u = (hash52_expr(F.col("doc_id").cast("string"), seed=DSIR_SEED) + 1) / F.lit(
        float(2**52)
    )
    keyed = logw.select(
        "doc_id",
        "lang",
        "logw_micro",
        (
            F.col("logw_micro")
            + F.round(-F.log(-F.log(u)) * 1e6, 0).cast("long")
        ).alias("key_micro"),
    )
    return (
        keyed.orderBy(F.desc("key_micro"), F.asc("doc_id"))
        .limit(DSIR_K)
        .select(
            "doc_id",
            "lang",
            "logw_micro",
            (F.col("logw_micro") / F.lit(1e6)).alias("logw"),
            (F.col("key_micro") / F.lit(1e6)).alias("gumbel_key"),
        )
    )


def _sql_dsir_select() -> str:
    b = DSIR_BUCKETS
    tgt = DSIR_TARGET_LANG
    u = f"(({hash52_sql('CAST(doc_id AS VARCHAR)', seed=DSIR_SEED)} + 1) / {float(2**52)})"
    return f"""
WITH d AS (SELECT doc_id, lang, {CLEAN_SQL} AS c FROM documents),
t AS (SELECT doc_id, lang, {tokens_sql('c')} AS tk FROM d),
grams AS (
  SELECT doc_id, lang, g FROM t, UNNEST(tk) AS un(g)
  UNION ALL
  SELECT doc_id, lang, g
  FROM (SELECT doc_id, lang,
               unnest(list_transform(range(1, len(tk)),
                                     i -> tk[i] || '_' || tk[i + 1])) AS g
        FROM t)),
feats AS (SELECT doc_id, lang, ({hash60_sql('g')}) % {b} AS b FROM grams),
tgtb AS (SELECT b, count(*) AS np FROM feats WHERE lang = '{tgt}' GROUP BY b),
poolf AS (SELECT * FROM feats WHERE NOT (lang = '{tgt}')),
poolb AS (SELECT b, count(*) AS nq FROM poolf GROUP BY b),
tp AS (SELECT COALESCE(SUM(np), 0) AS tp FROM tgtb),
tq AS (SELECT COALESCE(SUM(nq), 0) AS tq FROM poolb),
lr AS (SELECT poolb.b,
              CAST(round(ln(CAST((COALESCE(np, 0) + 1) * (tq + {b}) AS DOUBLE)
                            / CAST((nq + 1) * (tp + {b}) AS DOUBLE)) * 1e6,
                         0) AS BIGINT) AS lr_micro
       FROM poolb LEFT JOIN tgtb USING (b), tp, tq),
pd AS (SELECT doc_id, lang, b, count(*) AS n
       FROM poolf GROUP BY doc_id, lang, b),
lw AS (SELECT doc_id, lang, CAST(SUM(n * lr_micro) AS BIGINT) AS logw_micro
       FROM pd JOIN lr USING (b) GROUP BY doc_id, lang),
k AS (SELECT doc_id, lang, logw_micro,
             logw_micro + CAST(round(-ln(-ln({u})) * 1e6, 0) AS BIGINT)
               AS key_micro
      FROM lw)
SELECT doc_id, lang, logw_micro,
       logw_micro / 1e6 AS logw, key_micro / 1e6 AS gumbel_key
FROM k ORDER BY key_micro DESC, doc_id ASC LIMIT {DSIR_K}
"""


# ---------------------------------------------------------------------------
# docs_token_budget_waterfill — per-source token budget allocation by
# water-filling: given budget T = half the corpus tokens, find the max
# integer level c with Σ_s min(n_s, c) <= T; small sources are kept whole,
# large ones capped at c (the classic fair-allocation / domain-rebalancing
# rule for training mixtures). Scale shape: the ONLY corpus-sized work is
# the per-source token aggregate (map-side combinable, #domains rows);
# the level is derived from that K-bounded frame driver-side with exact
# integer arithmetic (the bounded-model-table class — no single-partition
# exchange, no S² self-join) and folded back as literals. All outputs are
# integers or one rounded ratio, bit-identical across engines.
# ---------------------------------------------------------------------------

BUDGET_DEN = 2  # budget = total_tokens div 2


def _q_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "source", clean_text_expr(F.col("text")).alias("c")
    )
    per = (
        d.select("source", token_count_expr(F.col("c")).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
    )
    # K-bounded collect: one row per domain (the NB-model-table class)
    rows = sorted(
        ((int(r["n_tokens"]), r["source"]) for r in per.collect())
    )
    total = sum(n for n, _s in rows)
    T = total // BUDGET_DEN
    S = len(rows)
    # max k with filled(n_k) = cum_k + n_k·(S-k) <= T (prefix property),
    # then c = (T - cum_k) // (S - k); k == S means everything fits
    cum = 0
    k, cum_k = 0, 0
    for i, (n, _s) in enumerate(rows, start=1):
        cum += n
        if cum + n * (S - i) <= T:
            k, cum_k = i, cum
    if not rows:
        c = 0  # empty corpus: S == k == 0; the oracle degrades via null nmax
    elif k == S:
        c = rows[-1][0]
    else:
        c = (T - cum_k) // (S - k)
    return per.select(
        "source",
        "n_tokens",
        F.least(F.col("n_tokens"), F.lit(c)).alias("kept_tokens"),
        F.round(
            F.least(F.col("n_tokens"), F.lit(c))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("keep_rate"),
    ).orderBy("source")


_SQL_TOKEN_BUDGET = f"""
WITH d AS (SELECT source, {CLEAN_SQL} AS c FROM documents),
per AS (SELECT source, CAST(sum({token_count_sql('c')}) AS BIGINT) AS n_tokens
        FROM d GROUP BY source),
o AS (SELECT source, n_tokens,
        row_number() OVER (ORDER BY n_tokens, source) AS i,
        sum(n_tokens) OVER (ORDER BY n_tokens, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM per),
g AS (SELECT (SELECT sum(n_tokens) FROM per) // {BUDGET_DEN} AS T,
             (SELECT count(*) FROM per) AS S,
             (SELECT max(n_tokens) FROM per) AS nmax),
kk AS (SELECT coalesce(max(i), 0) AS k, coalesce(max(cum), 0) AS cum_k
       FROM o, g WHERE cum + n_tokens * (S - i) <= T),
lvl AS (SELECT CAST(CASE WHEN k = S THEN nmax
                         ELSE (T - cum_k) // (S - k) END AS BIGINT) AS c
        FROM kk, g)
SELECT source, n_tokens,
       least(n_tokens, c) AS kept_tokens,
       round(least(n_tokens, c) / greatest(n_tokens, 1), 6) AS keep_rate
FROM per, lvl ORDER BY source
"""


# ---------------------------------------------------------------------------
# docs_stratified_split — exact-proportion train/val split per
# (lang, source) stratum: docs ranked by (hash52(doc_id), doc_id) inside
# each stratum, first n_docs div 10 go to validation. Per-stratum summary
# with an order-free doc_id checksum of the val set so the MEMBERSHIP is
# verified, not just the counts. Scale shape: one window shuffle keyed by
# the stratum (never a global sort); hash ranking makes the split
# reproducible and uncorrelated with ingest order.
# ---------------------------------------------------------------------------

SPLIT_VAL_DEN = 10  # val = n div 10 per stratum


def _q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    w = Window.partitionBy("lang", "source").orderBy(
        hash52_expr(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    ranked = d.withColumn("rn", F.row_number().over(w))
    cnt = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    j = ranked.join(F.broadcast(cnt), ["lang", "source"])
    # exact integer division (house rule): double division + cast matches
    # floor only while the double can't round up — `div` mirrors DuckDB `//`
    val = F.col("rn") <= F.expr(f"n_docs div {SPLIT_VAL_DEN}")
    return (
        j.groupBy("lang", "source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.sum(F.when(val, 1).otherwise(0)).cast("long").alias("n_val"),
            F.sum(F.when(~val, 1).otherwise(0)).cast("long").alias("n_train"),
            F.coalesce(
                F.sum(F.when(val, F.col("doc_id"))), F.lit(0)
            ).cast("long").alias("val_id_sum"),
        )
        .orderBy("lang", "source")
    )


_SQL_STRATIFIED_SPLIT = f"""
WITH r AS (
  SELECT doc_id, lang, source,
    row_number() OVER (PARTITION BY lang, source
      ORDER BY {hash52_sql('CAST(doc_id AS VARCHAR)')}, doc_id) AS rn,
    count(*) OVER (PARTITION BY lang, source) AS n_docs
  FROM documents)
SELECT lang, source, CAST(max(n_docs) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN rn <= n_docs // {SPLIT_VAL_DEN} THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
  CAST(sum(CASE WHEN rn > n_docs // {SPLIT_VAL_DEN} THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
  CAST(coalesce(sum(CASE WHEN rn <= n_docs // {SPLIT_VAL_DEN} THEN doc_id END), 0) AS BIGINT)
    AS val_id_sum
FROM r GROUP BY lang, source ORDER BY lang, source
"""


# ---------------------------------------------------------------------------
# emb_int8_quant_error — per-dimension scalar INT8 quantization of the
# embedding table with exact reconstruction-error accounting: per-dim
# min/max (the quantizer codebook), q = clamp(floor((x−min)/scale + 0.5)),
# error aggregated per label. Scale shape: the codebook is a 64-row
# aggregate broadcast back onto the scan; the error aggregate is map-side
# combinable integer sums (err²·1e12 floored to exact longs — the micro-
# unit house rule, so parallel reduction order can't move the result).
# The production story: INT8 storage is 4× smaller and ADC-friendly;
# this query IS the quantization-quality gate run before switching.
# ---------------------------------------------------------------------------

def _q_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "xf")
    ).select("vec_id", "label", "pos", F.col("xf").cast("double").alias("x"))
    cb = e.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    j = e.join(F.broadcast(cb), "pos")
    scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
    q = F.when(
        F.col("mx") > F.col("mn"),
        F.least(
            F.lit(255.0),
            F.greatest(F.lit(0.0), F.floor((F.col("x") - F.col("mn")) / scale + F.lit(0.5)).cast("double")),
        ),
    ).otherwise(F.lit(0.0))
    err = F.col("x") - (F.col("mn") + q * scale)
    e2 = F.floor(err * err * F.lit(1e12) + F.lit(0.5)).cast("long")
    return (
        j.select("vec_id", "label", e2.alias("e2"))
        .groupBy("label")
        .agg(
            F.countDistinct("vec_id").alias("n_vecs"),
            F.count(F.lit(1)).alias("n_elems"),
            F.sum("e2").alias("sum_err2_e12"),
            ((F.sum("e2") / F.count(F.lit(1))) / F.lit(1e12)).alias("mse"),
        )
        .orderBy("label")
    )


_SQL_INT8_QUANT = """
WITH e AS (
  SELECT vec_id, label, pos, CAST(x AS DOUBLE) AS x
  FROM (SELECT vec_id, label,
               unnest(generate_series(1, len(embedding))) AS pos,
               unnest(embedding) AS x
        FROM embeddings) raw),
cb AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM e GROUP BY pos),
q AS (
  SELECT e.vec_id, e.label,
    CAST(floor(
      (e.x - (cb.mn + (CASE WHEN cb.mx > cb.mn
        THEN least(255.0, greatest(0.0,
             floor((e.x - cb.mn) / ((cb.mx - cb.mn) / 255.0) + 0.5)))
        ELSE 0.0 END) * ((cb.mx - cb.mn) / 255.0)))
      * (e.x - (cb.mn + (CASE WHEN cb.mx > cb.mn
        THEN least(255.0, greatest(0.0,
             floor((e.x - cb.mn) / ((cb.mx - cb.mn) / 255.0) + 0.5)))
        ELSE 0.0 END) * ((cb.mx - cb.mn) / 255.0)))
      * 1e12 + 0.5) AS BIGINT) AS e2
  FROM e JOIN cb USING (pos))
SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
  CAST(count(*) AS BIGINT) AS n_elems,
  CAST(sum(e2) AS BIGINT) AS sum_err2_e12,
  (sum(e2) / count(*)) / 1e12 AS mse
FROM q GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# emb_kmeans_exact — Lloyd k-means in pure integer arithmetic (see
# operators/kmeans_exact.py): coordinates quantized once to micro ints,
# then every round's assignment argmin and floor-div centroid update is
# exact — a BIT-IDENTICAL clustering across engines, the pagerank
# determinism contract extended to an iterative geometric algorithm.
# ---------------------------------------------------------------------------

KM_K = 8
KM_ROUNDS = 3


def _q_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans_exact import kmeans_exact

    return kmeans_exact(_emb(spark, sf_dir), KM_K, KM_ROUNDS)


def _sql_kmeans_exact() -> str:
    from ..operators.kmeans_exact import kmeans_exact_oracle_sql

    return kmeans_exact_oracle_sql("SELECT * FROM embeddings", KM_K, KM_ROUNDS)


# ---------------------------------------------------------------------------
# docs_repetition_ratio — within-doc duplicate-n-gram repetition signals
# per language (the Gopher repetition-filter family, Rae et al. 2021
# §A1.1): a doc's REP_NGRAM-gram positions vs its DISTINCT n-grams; docs
# whose duplicate fraction exceeds REP_DUP_FRAC_MAX are counted as
# repetitive, and the per-language corpus-level duplicate fraction is an
# exact ratio of INTEGER SUMS (gram positions, distinct grams) — never an
# average of per-doc doubles, whose parallel reduction order would move
# the result. Scale shape: pure per-row expressions (the let-bound
# shingle builder) + one map-side-combinable aggregate; no joins.
# ---------------------------------------------------------------------------

def _q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import REP_DUP_FRAC_MAX, REP_NGRAM
    from ..operators.dedup import shingles_from_text_expr

    d = _docs(spark, sf_dir).select(
        "lang",
        token_count_expr(clean_text_expr(F.col("text"))).alias("nt"),
        F.size(shingles_from_text_expr(F.col("text"), REP_NGRAM))
        .cast("long")
        .alias("d5"),
    )
    per = d.select(
        "lang",
        F.greatest(F.col("nt") - (REP_NGRAM - 1), F.lit(0)).alias("n5"),
        "d5",
    ).withColumn(
        "dup_frac",
        F.round((F.col("n5") - F.col("d5")) / F.greatest(F.col("n5"), F.lit(1)), 6),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("n5") > 0) & (F.col("dup_frac") > REP_DUP_FRAC_MAX), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_repetitive"),
            F.sum("n5").cast("long").alias("gram_positions"),
            F.sum("d5").cast("long").alias("distinct_grams"),
        )
        .withColumn(
            "corpus_dup_frac",
            F.round(
                (F.col("gram_positions") - F.col("distinct_grams"))
                / F.greatest(F.col("gram_positions"), F.lit(1)),
                6,
            ),
        )
        .orderBy("lang")
    )


def _sql_repetition_ratio() -> str:
    from ..constants import REP_DUP_FRAC_MAX, REP_NGRAM
    from .llm_ops import _shingles_sql_inline

    sh = _shingles_sql_inline("c", REP_NGRAM)
    return f"""
WITH d AS (SELECT lang, {CLEAN_SQL} AS c FROM documents),
g AS (SELECT lang,
        CAST(greatest(len({tokens_sql('c')}) - {REP_NGRAM - 1}, 0) AS BIGINT) AS n5,
        CAST(len({sh}) AS BIGINT) AS d5
      FROM d),
p AS (SELECT lang, n5, d5,
        round((n5 - d5) / greatest(n5, 1), 6) AS dup_frac FROM g)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN n5 > 0 AND dup_frac > {REP_DUP_FRAC_MAX}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
  CAST(sum(n5) AS BIGINT) AS gram_positions,
  CAST(sum(d5) AS BIGINT) AS distinct_grams,
  round((sum(n5) - sum(d5)) / greatest(sum(n5), 1), 6) AS corpus_dup_frac
FROM p GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# docs_best_of_cluster — dedup that keeps the BEST capture, not the first:
# re-captures of the same page share the content HEAD but differ in
# boilerplate tails, so clusters key on a canonical-head fingerprint
# (hash60 of the first BEST_HEAD_TOKENS cleaned tokens) and keep one
# representative per cluster by (quality_score DESC, doc_id ASC) — the
# production dedup policy for training corpora (dedup_keep_first /
# dedup_exact cover the ingest-order and exact-content semantics). The
# fixture has no re-captures, so the query unions a DEGRADED copy of the
# doc_id % 7 == 0 subset (digit-junk tail appended → same head, lower
# alpha ratio → lower score; the EMB_COPY_OFFSET demo precedent), making
# the sweep hash-check the argmax itself. Scale shape: ONE shuffle on the
# head fingerprint; the argmax is a max over (score, -doc_id) structs,
# map-side combinable — never a sort within the group.
# ---------------------------------------------------------------------------

BEST_HEAD_TOKENS = 12
BEST_COPY_OFFSET = 2_000_000
BEST_JUNK_TAIL = " 000 111 222 333 444"


def _q_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _docs(spark, sf_dir).select("doc_id", "text")
    degraded = base.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + BEST_COPY_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(BEST_JUNK_TAIL)).alias("text"),
    )
    u = base.unionByName(degraded)
    c = clean_text_expr(F.col("text"))
    score = quality_features_expr(c)["quality_score"]
    head = F.concat_ws(" ", F.slice(tokens_expr(c), 1, BEST_HEAD_TOKENS))
    d = u.select("doc_id", hash60_expr(head).alias("h"), score.alias("score"))
    best = d.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.max(F.struct(F.col("score").alias("s"), (-F.col("doc_id")).alias("ni"))).alias(
            "m"
        ),
    )
    return best.select(
        (-F.col("m.ni")).cast("long").alias("keep_id"),
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("m.s").alias("best_score"),
    )


def _sql_best_of_cluster() -> str:
    score = quality_features_sql("c")["quality_score"]
    head = f"array_to_string(({tokens_sql('c')})[1:{BEST_HEAD_TOKENS}], ' ')"
    return f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {BEST_COPY_OFFSET}, text || '{BEST_JUNK_TAIL}'
  FROM documents WHERE doc_id % 7 = 0),
d AS (SELECT doc_id, {CLEAN_SQL} AS c FROM u),
s AS (SELECT doc_id, {hash60_sql(head)} AS h, {score} AS score FROM d),
r AS (SELECT doc_id, score,
        row_number() OVER (PARTITION BY h ORDER BY score DESC, doc_id ASC) AS rn,
        count(*) OVER (PARTITION BY h) AS n_copies
      FROM s)
SELECT doc_id AS keep_id, CAST(n_copies AS BIGINT) AS n_copies,
       score AS best_score
FROM r WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# text_zipf_slope — Zipf exponent of the corpus token distribution: OLS
# slope of ln(freq) on ln(rank) over the ZIPF_TOP_K most frequent tokens
# (≈ −1 for natural language; a strong drift flags synthetic/boilerplate
# corpora — a one-row corpus-health gate next to vocab coverage). Exact-
# arithmetic discipline: ln values are quantized to MILLI integers
# (constants.ZIPF_LN_SCALE), so every OLS moment (K·Σxy, Σx·Σy, …) stays
# below 2^53 at ANY corpus size — the int64→double casts before the one
# final division are then EXACT, and round(num/den, 6) is bit-identical
# across engines. Scale shape: one token-frequency aggregate (map-side
# combinable) + a TakeOrdered top-K; the regression is a 1-row aggregate
# over K=256 rows (K-bounded single-partition window, the sanctioned
# bounded class).
# ---------------------------------------------------------------------------

def _q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import ZIPF_LN_SCALE, ZIPF_TOP_K

    d = _docs(spark, sf_dir).select(clean_text_expr(F.col("text")).alias("c"))
    freq = (
        d.select(F.explode(tokens_expr(F.col("c"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(ZIPF_TOP_K)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    m = freq.withColumn("rank", F.row_number().over(w)).select(
        F.round(F.log(F.col("rank").cast("double")) * ZIPF_LN_SCALE, 0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * ZIPF_LN_SCALE, 0)
        .cast("long")
        .alias("y"),
    )
    a = m.agg(
        F.count(F.lit(1)).cast("long").alias("k_tokens"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    # zero-denominator guard (CASE-guarded in BOTH engines, the
    # triangle-census transitivity pattern): a degenerate corpus with < 2
    # distinct ranks gives den = 0, where Spark doubles yield NaN but
    # DuckDB's /0 semantics can differ — NULL is the agreed answer. den is
    # K·Σx² − (Σx)² ≥ 0 (Cauchy–Schwarz), so > 0 is the only live branch.
    den = (F.col("k_tokens") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    num = (F.col("k_tokens") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return a.select(
        "k_tokens",
        F.col("sx").alias("sum_lnrank_milli"),
        F.col("sy").alias("sum_lnfreq_milli"),
        F.when(den > 0, F.round(num / den, 6)).alias("zipf_slope"),
    )


def _sql_zipf_slope() -> str:
    from ..constants import ZIPF_LN_SCALE, ZIPF_TOP_K

    return f"""
WITH d AS (SELECT {CLEAN_SQL} AS c FROM documents),
t AS (SELECT unnest({tokens_sql('c')}) AS tok FROM d),
f AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok),
r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
      FROM f ORDER BY freq DESC, tok ASC LIMIT {ZIPF_TOP_K}),
m AS (SELECT CAST(round(ln(rank) * {ZIPF_LN_SCALE}, 0) AS BIGINT) AS x,
             CAST(round(ln(freq) * {ZIPF_LN_SCALE}, 0) AS BIGINT) AS y
      FROM r),
a AS (SELECT CAST(count(*) AS BIGINT) AS k_tokens,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM m)
SELECT k_tokens, sx AS sum_lnrank_milli, sy AS sum_lnfreq_milli,
  CASE WHEN k_tokens * sxx - sx * sx > 0
       THEN round(CAST(k_tokens * sxy - sx * sy AS DOUBLE)
                  / CAST(k_tokens * sxx - sx * sx AS DOUBLE), 6)
       END AS zipf_slope
FROM a
"""


# ---------------------------------------------------------------------------
# text_tokenizer_fertility — tokenizer-cost profile per language:
# BPE-style pieces per whitespace token (fertility — the metric that
# decides how many training tokens a corpus actually costs; >1.5 for a
# language usually means the tokenizer under-serves it). Both counts are
# per-row regex/split expressions summed as exact integers; the fertility
# and pieces-per-100-chars ratios are single final divisions of those
# sums, so parallel reduction order cannot move them. One map-side-
# combinable aggregate, no joins.
# ---------------------------------------------------------------------------

def _q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textstats import bpe_piece_count_expr

    c = clean_text_expr(F.col("text"))
    d = _docs(spark, sf_dir).select(
        "lang",
        token_count_expr(c).alias("nt"),
        bpe_piece_count_expr(c).alias("np"),
        F.length(c).cast("long").alias("nc"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum("np").cast("long").alias("n_pieces"),
            F.sum("nc").cast("long").alias("n_chars"),
        )
        .withColumn(
            "fertility",
            F.round(F.col("n_pieces") / F.greatest(F.col("n_tokens"), F.lit(1)), 6),
        )
        .withColumn(
            "pieces_per_100_chars",
            F.round(
                F.col("n_pieces") * 100 / F.greatest(F.col("n_chars"), F.lit(1)), 6
            ),
        )
        .orderBy("lang")
    )


def _sql_tokenizer_fertility() -> str:
    from ..functions.textstats import bpe_piece_count_sql

    return f"""
WITH d AS (SELECT lang, {CLEAN_SQL} AS c FROM documents),
g AS (SELECT lang, {token_count_sql('c')} AS nt,
             {bpe_piece_count_sql('c')} AS np,
             CAST(length(c) AS BIGINT) AS nc
      FROM d)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(nt) AS BIGINT) AS n_tokens,
  CAST(sum(np) AS BIGINT) AS n_pieces,
  CAST(sum(nc) AS BIGINT) AS n_chars,
  round(sum(np) / greatest(sum(nt), 1), 6) AS fertility,
  round(sum(np) * 100 / greatest(sum(nc), 1), 6) AS pieces_per_100_chars
FROM g GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# docs_ngram_novelty_by_source — per-source novelty of the corpus in
# ingest (doc_id) order: a doc's distinct 5-grams are NOVEL when their
# first corpus occurrence (min doc_id over all docs containing them) is
# this doc. Declining novelty across sources/snapshots is the standard
# signal that a crawl has started re-collecting itself (data-curation
# dashboards track exactly this curve before spending training tokens).
# Exactness: all counts are integers; the ratio is one final division
# rounded to 6. Scale shape: one (gram → min doc_id) map-side-combining
# aggregate, one join back on the gram (co-partitioned by the same key),
# one per-doc aggregate, one per-source rollup — every shuffle is keyed,
# nothing global, output bounded by |sources|.
# ---------------------------------------------------------------------------

NOVELTY_NGRAM = 5


def _q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", clean_text_expr(F.col("text")).alias("c")
    )
    toks = tokens_expr(F.col("c"))
    n = F.size(toks)
    grams = F.when(
        n >= NOVELTY_NGRAM,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (NOVELTY_NGRAM - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, NOVELTY_NGRAM)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    dg = d.select("doc_id", "source", F.explode(grams).alias("g"))
    firsts = dg.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        dg.join(firsts, "g")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_novel").cast("long").alias("n_novel"),
        )
        .select(
            "source",
            "n_docs",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty_ratio"),
        )
    )


def _sql_ngram_novelty() -> str:
    k = NOVELTY_NGRAM
    toks = tokens_sql("c")
    grams = (
        f"(CASE WHEN len({toks}) >= {k} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {k - 2}), "
        f"i -> array_to_string({toks}[i:i + {k - 1}], ' '))) "
        f"ELSE []::VARCHAR[] END)"
    )
    return f"""
WITH d AS (SELECT doc_id, source, {CLEAN_SQL} AS c FROM documents),
dg AS (SELECT doc_id, source, unnest({grams}) AS g FROM d),
firsts AS (SELECT g, min(doc_id) AS first_doc FROM dg GROUP BY g),
per_doc AS (
  SELECT doc_id, source, count(*) AS n_grams,
         sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM dg JOIN firsts USING (g) GROUP BY doc_id, source)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_grams) AS BIGINT) AS n_grams,
       CAST(sum(n_novel) AS BIGINT) AS n_novel,
       round(sum(n_novel) / sum(n_grams), 6) AS novelty_ratio
FROM per_doc GROUP BY source
"""


# ---------------------------------------------------------------------------
# docs_source_lang_kl — per-source language-mixture drift: KL(P_s ‖ Q) of
# each source's language distribution against the corpus-wide one — the
# gate a curation pipeline puts on a new crawl snapshot before mixing it
# in (a source whose language mix diverges from the corpus shifts the
# training mixture silently). Exact-milli discipline: each cell's log
# ratio ln(p_sl/q_l) = ln((c_sl·n)/(n_s·c_l)) is ONE libm call on a
# deterministic double (products cast correctly-rounded identically in
# both engines), milli-quantized; Σ c_sl·lr_milli is an exact int64 sum
# under any reduction order; one final division per source. Cells with
# c_sl = 0 contribute 0 and never materialize. Scale: one (source, lang)
# map-side-combining count — everything after is |sources|·|langs| rows.
# ---------------------------------------------------------------------------


def _q_source_lang_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("source", "lang").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )  # KL is over the labeled mass; NULL keys would silently drop at the joins
    cell = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c_sl"))
    srctot = cell.groupBy("source").agg(F.sum("c_sl").cast("long").alias("n_s"))
    langtot = cell.groupBy("lang").agg(F.sum("c_sl").cast("long").alias("c_l"))
    tot = cell.agg(F.sum("c_sl").cast("long").alias("n"))
    j = (
        cell.join(srctot, "source")
        .join(F.broadcast(langtot), "lang")
        .crossJoin(F.broadcast(tot))
    )
    lr_milli = F.round(
        F.log(
            (F.col("c_sl") * F.col("n")).cast("double")
            / (F.col("n_s") * F.col("c_l")).cast("double")
        )
        * 1000,
        0,
    ).cast("long")
    return (
        j.groupBy("source", "n_s")
        .agg(F.sum(F.col("c_sl") * lr_milli).alias("s_milli"))
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            F.round(
                F.col("s_milli").cast("double")
                / (F.col("n_s").cast("double") * F.lit(1000.0)),
                6,
            ).alias("kl_nats"),
        )
    )


_SQL_SOURCE_LANG_KL = """
WITH cell AS (SELECT source, lang, count(*) AS c_sl FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL
              GROUP BY source, lang),
srctot AS (SELECT source, CAST(sum(c_sl) AS BIGINT) AS n_s FROM cell GROUP BY source),
langtot AS (SELECT lang, CAST(sum(c_sl) AS BIGINT) AS c_l FROM cell GROUP BY lang),
tot AS (SELECT CAST(sum(c_sl) AS BIGINT) AS n FROM cell),
j AS (SELECT cell.source, cell.lang, cell.c_sl, srctot.n_s, langtot.c_l, tot.n
      FROM cell JOIN srctot USING (source) JOIN langtot USING (lang), tot),
terms AS (SELECT source, n_s,
            c_sl * CAST(round(ln(CAST(c_sl * n AS DOUBLE)
                                 / CAST(n_s * c_l AS DOUBLE)) * 1000, 0) AS BIGINT)
              AS t_milli
          FROM j)
SELECT source, n_s AS n_docs,
       round(CAST(sum(t_milli) AS DOUBLE) / (CAST(n_s AS DOUBLE) * 1000.0), 6)
         AS kl_nats
FROM terms GROUP BY source, n_s
"""


# ---------------------------------------------------------------------------
# emb_centroid_outliers — embedding data-quality gate: the top-K vectors
# furthest from their label's centroid (mislabeled rows, encoder failures,
# adversarial points — the curation step run before centroid-based
# semantic dedup trusts the labels). Coordinates ride the SHARED
# kmeans_exact micro quantization, the per-(label, dim) centroid is an
# exact floor-division on the positive quantized domain (Spark `div` ==
# DuckDB `//` there; the +1e7 offset cancels exactly in q − m), and
# distance² is an exact int64 sum (diffs < 2²¹, 64 dims → < 2⁴⁸), so the
# ranking is bit-identical across engines. Scale shape: one posexplode
# shuffle to the (label, dim)-bounded centroid table, broadcast back onto
# the exploded scan, one map-side-combinable per-vector aggregate, and a
# per-label top-K window over rank-limited partitions.
# ---------------------------------------------------------------------------

def _q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import EMB_OUTLIER_TOPK
    from ..operators.kmeans_exact import quantize_expr

    ex = (
        _emb(spark, sf_dir)
        .select("vec_id", "label", F.posexplode(quantize_expr(F.col("embedding"))).alias("pos", "q"))
    )
    cen = ex.groupBy("label", "pos").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    ).select("label", "pos", F.expr("s div n").alias("m"))
    d2 = (
        ex.join(F.broadcast(cen), ["label", "pos"])
        .select("vec_id", "label", ((F.col("q") - F.col("m")) * (F.col("q") - F.col("m"))).alias("t"))
        .groupBy("vec_id", "label")
        .agg(F.sum("t").cast("long").alias("d2"))
    )
    w = Window.partitionBy("label").orderBy(F.col("d2").desc(), F.col("vec_id").asc())
    return (
        d2.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= EMB_OUTLIER_TOPK)
        .select(
            "label",
            "vec_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("d2").alias("dist_sq_q"),
            F.round(F.col("d2").cast("double") / F.lit(1e12), 6).alias("dist_sq"),
        )
    )


def _sql_centroid_outliers() -> str:
    from ..constants import EMB_OUTLIER_TOPK
    from ..operators.kmeans_exact import KM_OFFSET, KM_SCALE

    return f"""
WITH e AS (
  SELECT vec_id, label, pos, q
  FROM (SELECT vec_id, label,
               unnest(generate_series(1, len(embedding))) AS pos,
               unnest(list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * {KM_SCALE} + 0.5) AS BIGINT)
                      + {KM_OFFSET})) AS q
        FROM embeddings) raw),
c AS (SELECT label, pos, CAST(sum(q) // count(*) AS BIGINT) AS m
      FROM e GROUP BY label, pos),
d AS (SELECT e.vec_id, e.label,
             CAST(sum((e.q - c.m) * (e.q - c.m)) AS BIGINT) AS d2
      FROM e JOIN c USING (label, pos) GROUP BY 1, 2),
r AS (SELECT label, vec_id, d2,
             row_number() OVER (PARTITION BY label
               ORDER BY d2 DESC, vec_id ASC) AS rank
      FROM d)
SELECT label, vec_id, CAST(rank AS INT) AS rank, d2 AS dist_sq_q,
       round(CAST(d2 AS DOUBLE) / 1e12, 6) AS dist_sq
FROM r WHERE rank <= {EMB_OUTLIER_TOPK}
"""


# ---------------------------------------------------------------------------
# docs_distinctive_terms_by_source — per-source signature vocabulary: the
# top terms by LIFT p(t|source)/p(t) with a min-count floor (the
# corpus-drift companion to docs_source_lang_kl: KL says THAT a source's
# distribution drifted, this says WHICH terms carry it). Exactness: all
# counts are ints; lift = (c_ts/c_t)·(T/T_s) is the IDENTICAL IEEE
# expression tree on both engines over exact-int casts (the
# agg_stats_moments discipline), so the per-source ranking agrees
# bit-for-bit; ties break on the term. Scale: ONE (source, token)
# map-side-combining shuffle; marginals derive from that bounded table;
# the per-source top-K is a window over rank-limited partitions.
# ---------------------------------------------------------------------------

LIFT_MIN_COUNT = 5
LIFT_TOPK_PER_SOURCE = 5


def _q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import clean_text_expr
    from ..functions.textstats import tokens_expr

    d = _docs(spark, sf_dir).select(
        "source", clean_text_expr(F.col("text")).alias("c")
    )
    st = d.select("source", F.explode(tokens_expr(F.col("c"))).alias("term"))
    cts = st.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c_ts"))
    ct = cts.groupBy("term").agg(F.sum("c_ts").alias("c_t"))
    ts_tot = cts.groupBy("source").agg(F.sum("c_ts").alias("t_s"))
    tot = cts.agg(F.sum("c_ts").alias("t_all"))
    lift = (F.col("c_ts").cast("double") / F.col("c_t").cast("double")) * (
        F.col("t_all").cast("double") / F.col("t_s").cast("double")
    )
    scored = (
        cts.where(F.col("c_ts") >= LIFT_MIN_COUNT)
        .join(F.broadcast(ct), "term")
        .join(F.broadcast(ts_tot), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("_lift", lift)
    )
    w = Window.partitionBy("source").orderBy(F.col("_lift").desc(), F.col("term").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= LIFT_TOPK_PER_SOURCE)
        .select(
            "source",
            "term",
            F.col("c_ts").cast("long").alias("n_in_source"),
            F.round(F.col("_lift"), 6).alias("lift"),
        )
    )


def _sql_distinctive_terms() -> str:
    toks = tokens_sql("c")
    return f"""
WITH d AS (SELECT source, {CLEAN_SQL} AS c FROM documents),
st AS (SELECT source, unnest({toks}) AS term FROM d),
cts AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c_ts FROM st GROUP BY 1, 2),
ct AS (SELECT term, CAST(sum(c_ts) AS BIGINT) AS c_t FROM cts GROUP BY 1),
tst AS (SELECT source, CAST(sum(c_ts) AS BIGINT) AS t_s FROM cts GROUP BY 1),
tot AS (SELECT CAST(sum(c_ts) AS BIGINT) AS t_all FROM cts),
scored AS (
  SELECT cts.source, cts.term, c_ts,
    (CAST(c_ts AS DOUBLE) / CAST(c_t AS DOUBLE))
      * (CAST(t_all AS DOUBLE) / CAST(t_s AS DOUBLE)) AS lift
  FROM cts JOIN ct USING (term) JOIN tst USING (source), tot
  WHERE c_ts >= {LIFT_MIN_COUNT}),
r AS (SELECT source, term, c_ts, lift,
        row_number() OVER (PARTITION BY source
          ORDER BY lift DESC, term ASC) AS rn
      FROM scored)
SELECT source, term, c_ts AS n_in_source, round(lift, 6) AS lift
FROM r WHERE rn <= {LIFT_TOPK_PER_SOURCE}
"""


# ---------------------------------------------------------------------------
# emb_pca_power_iteration — the top principal direction of the embedding
# cloud by EXACT-INTEGER power iteration (operators/pca_power.py): the
# pagerank bit-identical-iteration contract extended to linear algebra.
# The number an embedding pipeline wants before JL projection / PCA
# whitening / anisotropy correction: where the variance actually lives.
# ---------------------------------------------------------------------------

PCA_ROUNDS = 4


def _q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca_power import pca_top_component

    return pca_top_component(_emb(spark, sf_dir), rounds=PCA_ROUNDS)


def _sql_pca_power() -> str:
    from ..operators.pca_power import pca_oracle_sql

    return pca_oracle_sql("SELECT vec_id, embedding FROM embeddings", PCA_ROUNDS)


def _q_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca_power import pca_variance_explained

    return pca_variance_explained(_emb(spark, sf_dir), rounds=PCA_ROUNDS)


def _sql_pca_variance() -> str:
    from ..operators.pca_power import pca_variance_oracle_sql

    return pca_variance_oracle_sql(
        "SELECT vec_id, embedding FROM embeddings", PCA_ROUNDS
    )


QUERIES = [
    QuerySpec(
        "emb_pca_power_iteration",
        _q_pca_power,
        _sql_pca_power(),
        doc="Top principal component via exact-integer power iteration "
        "(micro-quantized coords, division-free n-scaled centering, "
        "DECIMAL(38,0) matvec sums, non-negative-div renormalization) — "
        "bit-identical across engines; two map-side-combining aggregates "
        "per round on the (vec, dim) long matrix.",
    ),
    QuerySpec(
        "emb_pca_variance_explained",
        _q_pca_variance,
        _sql_pca_variance(),
        doc="Share of total variance captured by the power-iteration top "
        "component (Rayleigh quotient over the trace) — the number a "
        "curation pipeline gates on before JL/whitening. Both quadratic "
        "sums normalized to the 10^6 grid by their own 1-row maxima, then "
        "three exact floor-division steps; every intermediate provably "
        "< 10^38 at any corpus size for <=300 dims, bit-identical across "
        "engines. One extra long-format matvec on top of the iteration.",
    ),
    QuerySpec(
        "docs_distinctive_terms_by_source",
        _q_distinctive_terms,
        _sql_distinctive_terms(),
        doc="Per-source top-5 terms by lift p(t|source)/p(t) with a "
        "min-count floor — which terms carry a source's drift; one "
        "(source, token) shuffle, bounded marginals, identical IEEE "
        "lift expression on both engines.",
    ),
    QuerySpec(
        "docs_ngram_novelty_by_source",
        _q_ngram_novelty,
        _sql_ngram_novelty(),
    ),
    QuerySpec(
        "docs_source_lang_kl",
        _q_source_lang_kl,
        _SQL_SOURCE_LANG_KL,
    ),
    QuerySpec("emb_label_centroids", _q_label_centroids, _SQL_LABEL_CENTROIDS),
    QuerySpec("emb_kmeans_exact", _q_kmeans_exact, _sql_kmeans_exact()),
    QuerySpec(
        "docs_token_budget_waterfill", _q_token_budget_waterfill, _SQL_TOKEN_BUDGET
    ),
    QuerySpec("docs_stratified_split", _q_stratified_split, _SQL_STRATIFIED_SPLIT),
    QuerySpec("docs_repetition_ratio", _q_repetition_ratio, _sql_repetition_ratio()),
    QuerySpec(
        "text_tokenizer_fertility", _q_tokenizer_fertility, _sql_tokenizer_fertility()
    ),
    QuerySpec("docs_best_of_cluster", _q_best_of_cluster, _sql_best_of_cluster()),
    QuerySpec("text_zipf_slope", _q_zipf_slope, _sql_zipf_slope()),
    QuerySpec("emb_int8_quant_error", _q_int8_quant_error, _SQL_INT8_QUANT),
    QuerySpec(
        "emb_centroid_outliers",
        _q_centroid_outliers,
        _sql_centroid_outliers(),
        doc="Per-label top-5 embedding outliers by exact integer "
        "distance² to the label centroid (shared kmeans micro "
        "quantization) — the mislabel/encoder-failure gate before "
        "centroid-trusting semantic dedup.",
    ),
    QuerySpec(
        "docs_temperature_mixture", _q_temperature_mixture, _temperature_mixture_sql()
    ),
    QuerySpec("docs_equidepth_histogram", _q_equidepth_histogram, _SQL_EQUIDEPTH_HISTOGRAM),
    QuerySpec("docs_median_length_by_lang", _q_median_by_lang, _SQL_MEDIAN_BY_LANG),
    QuerySpec("text_winnowing_overlap", _q_winnowing_overlap, _SQL_WINNOWING_OVERLAP),
    QuerySpec("docs_length_histogram", _q_length_histogram, _SQL_LENGTH_HISTOGRAM),
    QuerySpec(
        "docs_bloom_decontaminate", _q_bloom_decontaminate, _sql_bloom_decontaminate()
    ),
    QuerySpec("join_fuzzy_part_names", _q_fuzzy_part_names, _SQL_FUZZY_PART_NAMES),
    QuerySpec("docs_vocab_coverage", _q_vocab_coverage, _SQL_VOCAB_COVERAGE),
    QuerySpec("docs_weighted_sample", _q_weighted_sample, _sql_weighted_sample()),
    QuerySpec("docs_dsir_select", _q_dsir_select, _sql_dsir_select()),
    QuerySpec(
        "docs_weighted_sample_by_source",
        _q_weighted_sample_by_source,
        _sql_weighted_sample_by_source(),
    ),
]
