"""EXT LLM-data-pipeline surface (BASELINE.json north star): deduplication
(exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search
(brute-force + IVF cosine top-k), text analysis (token counting, quality
scoring, language-ID, fingerprinting), multimodal binary plumbing.

Oracle strategy: every deterministic operator gets a DuckDB twin whose SQL
is GENERATED from the same constants/seed recipe as the Spark expressions
(functions/hashing.py md5-based 60-bit hash family), so even MinHash
signatures and SimHash bits are bit-identical across engines. Only the
``mapInPandas`` feature-extraction stub and the HLL sketch are rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..constants import (
    DEDUP_MAX_BUCKET,
    MINHASH_BANDS,
    MINHASH_JACCARD_THRESHOLD,
    MINHASH_NUM_HASHES,
    MINHASH_ROWS_PER_BAND,
    MINHASH_SHINGLE_K,
    SIMHASH_BITS,
    SIMHASH_HAMMING_THRESHOLD,
)
from ..functions.hashing import hash60_sql, km_hash_sql, md5_split_sql
from ..functions.text import clean_text_expr
from ..functions.textstats import (
    bpe_piece_count_expr,
    bpe_piece_count_sql,
    fingerprint_md5_expr,
    fingerprint_md5_sql,
    fingerprint_rolling_expr,
    fingerprint_rolling_sql,
    fingerprint_shape_expr,
    fingerprint_shape_sql,
    lang_id_expr,
    lang_id_sql,
    quality_features_expr,
    quality_features_sql,
    token_count_expr,
    token_count_sql,
    tokens_sql,
)
from ..constants import (
    EMB_COPY_OFFSET,
    EMB_COSINE_NEAR_DUP,
    EMB_COSINE_PAIRS_THRESHOLD,
    EMB_DIM,
    EMB_LSH_BANDS,
    EMB_LSH_DEGEN_FACTOR,
    EMB_LSH_MAX_BUCKET_ABS,
    EMB_LSH_SEED,
)
from ..functions.vectors import (
    band_value_sql,
    cosine_sql,
    dot_sql,
    hyperplane_matrix,
    norm_sql,
)
from ..operators.dedup import (
    MINHASH_EMPTY_SENTINEL,
    dedup_exact,
    dedup_minhash_lsh,
    dedup_simhash,
    doc_shingles,
    minhash_signatures,
    simhash_signatures,
)
from ..operators.multimodal import documents_as_media, extract_features
from ..operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    dedup_embedding_lsh,
    embedding_cosine_pairs,
    semantic_dedup,
)
from ..sources.tables import load_table
from . import QuerySpec
from .documents_domain import CLEAN_SQL, _docs

SIM_QUERY_IDS = [0, 1, 2, 3, 4]
SIM_K = 10

_CLEANED = f"SELECT doc_id, {CLEAN_SQL} AS c FROM documents"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _cleaned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", clean_text_expr(F.col("text")).alias("c"), "lang"
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _cleaned_docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count_expr(F.col("c")).alias("n_tokens"),
        bpe_piece_count_expr(F.col("c")).alias("n_bpe_pieces"),
    )


_SQL_TOKEN_COUNT = (
    f"WITH d AS ({_CLEANED}) SELECT doc_id, {token_count_sql('c')} AS n_tokens, "
    f"{bpe_piece_count_sql('c')} AS n_bpe_pieces FROM d"
)


# ---------------------------------------------------------------------------
# docs_unigram_logprob — CCNet-style LM quality proxy: each document's mean
# token surprisal in bits, −(1/T)·Σ log2 p(tok), under the corpus's own
# unigram model. High surprisal = rare-token-heavy text (OCR noise, code
# dumps, boilerplate IDs); low = stopword soup. Two scans: (1) token
# frequency table (vocab-sized — BROADCAST back to the token stream, which
# both avoids re-shuffling the corpus by token and sidesteps the stopword
# hot-key skew a shuffled token join would have; past ~10⁸ distinct tokens
# the salted_join path replaces the broadcast); (2) per-doc fold.
#
# Float determinism: a per-doc AVG of logs would be association-order
# dependent under parallel reduction, so the per-doc sum is a SEQUENTIAL
# fold in token-position order on both engines — posexplode → join counts →
# collect_list(struct(pos, n)) → sort_array → aggregate(acc + ln(n)), the
# exact association the DuckDB list_reduce twin uses. ln() itself is the
# one residual risk (Java Math.log is ≤1 ulp, glibc log is correctly
# rounded); round(6) absorbs it — the same accepted slack as the
# percentile queries (module-doc rule).
# ---------------------------------------------------------------------------

_LN2 = 0.6931471805599453


def _q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _cleaned_docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.posexplode(tokens_expr(F.col("c"))).alias("pos", "tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    total = freq.agg(F.sum("n_tok").alias("n_total"))
    seq = (
        toks.join(F.broadcast(freq), "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "n_tok"))).alias("seq"))
    )
    sum_ln = F.aggregate(
        F.col("seq"),
        F.lit(0.0),
        lambda acc, s: acc + F.log(s["n_tok"].cast("double")),
    )
    t_cnt = F.size("seq")
    return (
        seq.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            t_cnt.cast("long").alias("n_tokens"),
            (
                (
                    F.log(F.col("n_total").cast("double"))
                    - sum_ln / t_cnt.cast("double")
                )
                / F.lit(_LN2)
            ).alias("_bits"),
        )
        .select("doc_id", "n_tokens", F.round("_bits", 6).alias("surprisal_bits"))
    )


_SQL_UNIGRAM_LOGPROB = f"""
WITH d AS ({_CLEANED}),
tokpos AS (
  SELECT doc_id, u.s.pos AS pos, u.s.tok AS tok
  FROM (SELECT doc_id,
               list_transform({tokens_sql('c')},
                              (t, i) -> struct_pack(pos := i, tok := t)) AS l
        FROM d),
       UNNEST(l) AS u(s)),
freq AS (SELECT tok, count(*) AS n_tok FROM tokpos GROUP BY tok),
total AS (SELECT sum(n_tok) AS n_total FROM freq),
seq AS (
  SELECT doc_id,
         list_sort(list(struct_pack(pos := pos, n := n_tok))) AS sq
  FROM tokpos JOIN freq USING (tok) GROUP BY doc_id)
SELECT doc_id, CAST(len(sq) AS BIGINT) AS n_tokens,
  round((ln(CAST(n_total AS DOUBLE))
         - list_reduce(list_prepend(0.0, list_transform(sq, s -> ln(CAST(s.n AS DOUBLE)))),
                       (acc, x) -> acc + x) / CAST(len(sq) AS DOUBLE))
        / {_LN2!r}, 6) AS surprisal_bits
FROM seq, total
"""


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _cleaned_docs(spark, sf_dir)
    feats = quality_features_expr(F.col("c"))
    return d.select("doc_id", *[v.alias(k) for k, v in feats.items()])


_q_feats_sql = quality_features_sql("c")
_SQL_QUALITY = (
    f"WITH d AS ({_CLEANED}) SELECT doc_id, "
    + ", ".join(f"{v} AS {k}" for k, v in _q_feats_sql.items())
    + " FROM d"
)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _cleaned_docs(spark, sf_dir)
    pred = lang_id_expr(F.col("c"))
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        pred.alias("lang_pred"),
        (pred == F.col("lang")).alias("agrees"),
    )


_SQL_LANG_ID = (
    f"WITH d AS (SELECT doc_id, {CLEAN_SQL} AS c, lang FROM documents) "
    f"SELECT doc_id, lang AS lang_declared, {lang_id_sql('c')} AS lang_pred, "
    f"({lang_id_sql('c')} = lang) AS agrees FROM d"
)


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _cleaned_docs(spark, sf_dir)
    return d.select(
        "doc_id",
        fingerprint_md5_expr(F.col("c")).alias("fp_md5"),
        fingerprint_shape_expr(F.col("c")).alias("fp_shape"),
        fingerprint_rolling_expr(F.col("c")).alias("fp_rolling"),
    )


_SQL_FINGERPRINT = (
    f"WITH d AS ({_CLEANED}) SELECT doc_id, {fingerprint_md5_sql('c')} AS fp_md5, "
    f"{fingerprint_shape_sql('c')} AS fp_shape, "
    f"{fingerprint_rolling_sql('c')} AS fp_rolling FROM d"
)


def _q_corpus_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset fingerprint — ONE row identifying the corpus version:
    row count, bit-XOR and sum of per-doc content hashes (hash60 over
    doc_id ⊕ cleaned text). Order- and partitioning-independent (XOR and
    modular sum are commutative), so the same corpus yields the same id on
    any cluster layout — the 'did my training input change?' check every
    reproducible pipeline records next to its model artifacts. Detects
    edits, drops, duplications, and id remaps in one scan with constant
    output."""
    d = _cleaned_docs(spark, sf_dir)
    h = hash60_expr(F.concat_ws("\x01", F.col("doc_id").cast("string"), F.col("c")))
    # modular sum through an exact DECIMAL(38,0) accumulator: 60-bit hash
    # values overflow a plain long sum within 8 rows; decimal38 has ~1e17
    # rows of headroom, and the 2^61-1 modulus of the exact sum is
    # identical on both engines (DuckDB sums into HUGEINT)
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.bit_xor(h).alias("xor_hash"),
        (
            F.sum(h.cast("decimal(38,0)"))
            % F.lit(CHECKSUM_MOD).cast("decimal(38,0)")
        )
        .cast("long")
        .alias("sum_hash_mod"),
    )


CHECKSUM_MOD = (1 << 61) - 1

_SQL_CORPUS_CHECKSUM = f"""
WITH d AS ({_CLEANED}),
h AS (SELECT {hash60_sql("concat_ws(chr(1), CAST(doc_id AS VARCHAR), c)")} AS hv FROM d)
SELECT count(*) AS n_docs,
       CAST(bit_xor(hv) AS BIGINT) AS xor_hash,
       CAST(sum(hv) % 2305843009213693951 AS BIGINT) AS sum_hash_mod
FROM h
"""


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(_docs(spark, sf_dir), "text", "doc_id")


_SQL_DEDUP_EXACT = (
    f"WITH d AS ({_CLEANED}) SELECT min(doc_id) AS keep_id, count(*) AS n_copies "
    "FROM d GROUP BY c"
)


# --- MinHash: shared SQL fragments generated from the same recipe ----------

def _shingles_sql_inline(c: str, k: int = MINHASH_SHINGLE_K) -> str:
    toks = tokens_sql(c)
    gram = " || ' ' || ".join(f"({toks})[i + {j}]" for j in range(k))
    return (
        f"(CASE WHEN len({toks}) >= {k} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {k} + 2), i -> {gram})) "
        f"ELSE []::VARCHAR[] END)"
    )


def _minhash_sig_sql(digests_col: str, num: int = MINHASH_NUM_HASHES) -> str:
    """SQL twin of operators/dedup.py ``minhash_sig_row_expr`` over a
    staged md5 digest list: split each digest into the (h1, h2) KM pair
    (``md5_split_sql``) and take the per-hash min."""
    h1, h2 = md5_split_sql("dg")
    mins = ", ".join(
        f"list_min(list_transform({digests_col}, dg -> {km_hash_sql(h1, h2, i)}))"
        for i in range(num)
    )
    return f"[{mins}]"


# d → sh → hashed → sigs: the one oracle chain of every MinHash query. ONE
# md5 per shingle is staged as a list (ds) before the num_hashes folds.
# Docs without a shingle have no signature row, as in the Arrow kernel.
# ``sigs`` is MATERIALIZED: DuckDB inlines a plain CTE at each reference, and
# the LSH pairs read it three times (bands, both sides of the verify join).
_MINHASH_SIGS_CTES = f"""d AS ({_CLEANED}),
sh AS (SELECT doc_id, {_shingles_sql_inline('c')} AS shingles FROM d),
hashed AS (SELECT doc_id, shingles, list_transform(shingles, s -> md5(s)) AS ds
           FROM sh WHERE len(shingles) > 0),
sigs AS MATERIALIZED (SELECT doc_id, shingles, {_minhash_sig_sql('ds')} AS sig FROM hashed)"""


def _q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(_docs(spark, sf_dir), "text", "doc_id").select(
        F.col("id").alias("doc_id"), "sig"
    )


_SQL_MINHASH_SIG = f"""
WITH {_MINHASH_SIGS_CTES}
SELECT d.doc_id, coalesce(sigs.sig, {[MINHASH_EMPTY_SENTINEL] * MINHASH_NUM_HASHES}) AS sig
FROM d LEFT JOIN sigs USING (doc_id)
"""


def _band_key_sql(b: int, rows: int = MINHASH_ROWS_PER_BAND) -> str:
    parts = " || ',' || ".join(f"CAST(sig[{b * rows + r + 1}] AS VARCHAR)" for r in range(rows))
    return f"md5({parts})"


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_minhash_lsh(
        _docs(spark, sf_dir), "text", "doc_id", threshold=MINHASH_JACCARD_THRESHOLD
    ).withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})


_band_structs = ", ".join(
    "{'band_idx': %d, 'band_key': %s}" % (b, _band_key_sql(b)) for b in range(MINHASH_BANDS)
)

# the LSH pairs after _MINHASH_SIGS_CTES: a CTE tail ending in ``mh_pairs``,
# so a query that already holds ``sigs`` reads the pairs off the same chain
_MINHASH_PAIRS_CTES = f"""banded_all AS (SELECT doc_id, u.band_idx AS band_idx, u.band_key AS band_key
           FROM sigs, UNNEST([{_band_structs}]) AS t(u)),
ok_buckets AS (SELECT band_idx, band_key FROM banded_all
               GROUP BY band_idx, band_key HAVING count(*) <= {DEDUP_MAX_BUCKET}),
banded AS (SELECT banded_all.* FROM banded_all
           SEMI JOIN ok_buckets USING (band_idx, band_key)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM banded a JOIN banded b
           ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
verified AS (
  SELECT doc_a, doc_b,
    round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
          / CAST(len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT), 6) AS jaccard
  FROM cand
  JOIN sigs sa ON sa.doc_id = doc_a
  JOIN sigs sb ON sb.doc_id = doc_b),
mh_pairs AS (SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {MINHASH_JACCARD_THRESHOLD})"""

_SQL_DEDUP_MINHASH = f"""
WITH {_MINHASH_SIGS_CTES},
{_MINHASH_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM mh_pairs
"""


# ---------------------------------------------------------------------------
# dedup_minhash_estimate_gate — the MinHash ESTIMATOR itself, gated: for
# every verified near-dup pair, the signature-based Jaccard estimate
# (matching positions / num_hashes — the only number a signature store
# can answer without the shingle sets) next to the exact Jaccard, with
# the absolute error. Completes the sketch-gate family (HLL bound replay,
# MG soundness, LSH/kNN recall): before a 100 TB pipeline drops shingle
# sets and keeps only 32 longs per doc, this is the measured quality of
# what remains. est = nm/32 is exactly representable; the error is
# computed from the two ALREADY-ROUNDED columns, so every double op is
# identical cross-engine.
# ---------------------------------------------------------------------------


def _q_minhash_est_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _minhash_sig_table

    docs = _docs(spark, sf_dir)
    pairs = dedup_minhash_lsh(
        docs, "text", "doc_id", threshold=MINHASH_JACCARD_THRESHOLD
    )
    sigs = _minhash_sig_table(doc_shingles(docs, "text", "doc_id"))
    sa = sigs.withColumnsRenamed({"id": "id_a", "sig": "sig_a"})
    sb = sigs.withColumnsRenamed({"id": "id_b", "sig": "sig_b"})
    j = pairs.join(sa, "id_a").join(sb, "id_b")
    nm = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    est = F.round(nm.cast("double") / F.lit(float(MINHASH_NUM_HASHES)), 6)
    return j.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard",
        est.alias("jaccard_est"),
        F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
    )


_SQL_MINHASH_EST_GATE = f"""
WITH {_MINHASH_SIGS_CTES},
{_MINHASH_PAIRS_CTES}
SELECT p.doc_a, p.doc_b, p.jaccard,
  round(CAST(len(list_filter(range(1, {MINHASH_NUM_HASHES + 1}),
                             i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
        / {float(MINHASH_NUM_HASHES)}, 6) AS jaccard_est,
  round(abs(round(CAST(len(list_filter(range(1, {MINHASH_NUM_HASHES + 1}),
                                       i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
                  / {float(MINHASH_NUM_HASHES)}, 6) - p.jaccard), 6) AS abs_err
FROM mh_pairs p
JOIN sigs sa ON sa.doc_id = p.doc_a
JOIN sigs sb ON sb.doc_id = p.doc_b
"""


# ---------------------------------------------------------------------------
# dedup_minhash_recall — the minhash family's missing recall gate (r9): the
# LSH+verify pipeline's recall against EXACT ground truth (every pair with
# true shingle-Jaccard >= threshold), completing the sketch-gate family
# (emb_knn_recall / dedup_lsh_recall measure the embedding side; this is
# the text side). Ground truth via a shingle inverted index: explode
# shingles, self-equi-join on the shingle, and COUNT co-occurrences per
# pair — the group count IS the exact intersection size (shingle arrays
# are sets), so true Jaccard needs no list_intersect. The threshold test
# is integer-exact cross-engine: J >= t  <=>  (1+t)·ni >= t·(na+nb), all
# operands exact in double.
#
# Scale: the GT stage is O(sum df²) over shingle document frequencies —
# an INTENTIONAL exact baseline of the dedup_embedding_cosine class (the
# plan-audit-justified recall ground truth); at 100 TB it runs on a
# sampled corpus slice, never the full corpus. The LSH side is the
# production banded plan unchanged. r9 context: this gate is what made
# the 32->16 hash A/B decidable (recall 0.9961 vs 0.9883 at sf0.1 for a
# wall-time wash -> variant rejected, floor declared).
# ---------------------------------------------------------------------------


def _q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_minhash_lsh, doc_shingles

    docs = _docs(spark, sf_dir)
    sh = doc_shingles(docs, "text", "doc_id").where(F.size("shingles") > 0)
    ex = sh.select(
        F.col("id"), F.size("shingles").alias("nsh"), F.explode("shingles").alias("s")
    )
    a = ex.select(
        F.col("id").alias("id_a"), F.col("nsh").alias("na"), F.col("s").alias("sa")
    )
    b = ex.select(
        F.col("id").alias("id_b"), F.col("nsh").alias("nb"), F.col("s").alias("sb")
    )
    inter = (
        a.join(b, (F.col("sa") == F.col("sb")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("ni"))
    )
    t = MINHASH_JACCARD_THRESHOLD
    gt = inter.where(
        F.lit(1.0 + t) * F.col("ni") >= F.lit(t) * (F.col("na") + F.col("nb"))
    ).select("id_a", "id_b")
    lsh = dedup_minhash_lsh(docs, "text", "doc_id", threshold=t).select("id_a", "id_b")
    marked = gt.join(lsh.withColumn("_f", F.lit(1)), ["id_a", "id_b"], "left")
    s = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.coalesce(F.sum("_f"), F.lit(0)).cast("long").alias("n_found"),
    )
    nl = lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
    return s.crossJoin(F.broadcast(nl)).select(
        "n_true",
        "n_lsh",
        "n_found",
        (F.col("n_true") - F.col("n_found")).cast("long").alias("n_missed"),
        F.when(
            F.col("n_true") > 0,
            F.round(
                F.col("n_found").cast("double") / F.col("n_true").cast("double"), 6
            ),
        ).alias("recall"),
    )


_SQL_MINHASH_RECALL = f"""
WITH gtd AS ({_CLEANED}),
gts AS (SELECT doc_id, {_shingles_sql_inline('c')} AS shingles FROM gtd),
gtn AS (SELECT doc_id, shingles FROM gts WHERE len(shingles) > 0),
shex AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS s FROM gtn),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.nsh AS na, b.nsh AS nb,
                 CAST(count(*) AS BIGINT) AS ni
          FROM shex a JOIN shex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
gt AS (SELECT id_a, id_b FROM inter
       WHERE {1.0 + MINHASH_JACCARD_THRESHOLD} * ni
             >= {MINHASH_JACCARD_THRESHOLD} * (na + nb)),
lsh AS (SELECT doc_a AS id_a, doc_b AS id_b FROM ({_SQL_DEDUP_MINHASH})),
marked AS (SELECT gt.id_a, gt.id_b,
                  CASE WHEN lsh.id_a IS NULL THEN 0 ELSE 1 END AS f
           FROM gt LEFT JOIN lsh ON gt.id_a = lsh.id_a AND gt.id_b = lsh.id_b),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_true,
             CAST(coalesce(sum(f), 0) AS BIGINT) AS n_found FROM marked),
l AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lsh)
SELECT n_true, n_lsh, n_found, CAST(n_true - n_found AS BIGINT) AS n_missed,
  CASE WHEN n_true > 0
       THEN round(CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE), 6) END AS recall
FROM s, l
"""


# ---------------------------------------------------------------------------
# dedup_source_mirror_matrix — mirror detection: which SOURCES duplicate
# each other. Verified near-dup pairs (the dedup_minhash_lsh output)
# aggregated to the unordered source×source matrix with a pair count and
# the mean verified Jaccard — the number crawl curation acts on (drop or
# down-weight a mirrored host, pick one canonical side). Intra-source
# rows (source_a = source_b) are the self-duplication diagonal.
#
# Exactness: each pair's jaccard is ALREADY rounded to 6 dp, so
# round(jaccard·10⁶) is an exact long on both engines; the mean is ONE
# double division of two exact integers (the dec_as_double discipline).
# Scale shape: everything up to the pair list is dedup_minhash_lsh's own
# banded plan; the matrix step is two |pairs|-row joins against the
# (doc_id, source) projection and a |sources|²-bounded aggregate.
# ---------------------------------------------------------------------------

def _q_source_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = dedup_minhash_lsh(
        docs, "text", "doc_id", threshold=MINHASH_JACCARD_THRESHOLD
    )
    src = docs.select("doc_id", "source")
    sa = src.withColumnsRenamed({"doc_id": "id_a", "source": "src_a"})
    sb = src.withColumnsRenamed({"doc_id": "id_b", "source": "src_b"})
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            F.round(F.col("jaccard") * F.lit(1000000.0)).cast("long").alias("_jm"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("_jm").cast("long").alias("_sum_jm"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.round(
                F.col("_sum_jm").cast("double")
                / (F.col("n_pairs") * F.lit(1000000)).cast("double"),
                6,
            ).alias("mean_jaccard"),
        )
    )


_SQL_SOURCE_MIRRORS = f"""
WITH pairs AS (SELECT doc_a, doc_b, jaccard FROM ({_SQL_DEDUP_MINHASH})),
src AS (SELECT doc_id, source FROM documents),
tagged AS (
  SELECT least(sa.source, sb.source) AS source_a,
         greatest(sa.source, sb.source) AS source_b,
         CAST(round(p.jaccard * 1000000.0) AS BIGINT) AS jm
  FROM pairs p
  JOIN src sa ON sa.doc_id = p.doc_a
  JOIN src sb ON sb.doc_id = p.doc_b)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(jm) AS DOUBLE)
             / CAST(count(*) * 1000000 AS DOUBLE), 6) AS mean_jaccard
FROM tagged GROUP BY source_a, source_b
"""


# --- SimHash ----------------------------------------------------------------

def _simhash_sql(c: str, bits: int = SIMHASH_BITS) -> str:
    toks = f"list_distinct({tokens_sql(c)})"
    hashes = f"list_transform({toks}, t -> {hash60_sql('t')})"
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter({hashes}, h -> ((h >> {j}) & 1) = 1)) > len({toks}) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return f"(CASE WHEN len({toks}) > 0 THEN ({bit_terms}) ELSE CAST(0 AS BIGINT) END)"


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(_docs(spark, sf_dir), "text", "doc_id").select(
        F.col("id").alias("doc_id"), "simhash"
    )


_SQL_SIMHASH = f"WITH d AS ({_CLEANED}) SELECT doc_id, {_simhash_sql('c')} AS simhash FROM d"


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_simhash(
        _docs(spark, sf_dir), "text", "doc_id", max_hamming=SIMHASH_HAMMING_THRESHOLD
    ).withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})


_SIMHASH_CHUNKS = 4
_CHUNK_WIDTH = SIMHASH_BITS // _SIMHASH_CHUNKS
_CHUNK_MASK = (1 << _CHUNK_WIDTH) - 1

_chunk_structs = ", ".join(
    "{'chunk_idx': %d, 'chunk_val': ((simhash >> %d) & %d)}" % (c, c * _CHUNK_WIDTH, _CHUNK_MASK)
    for c in range(_SIMHASH_CHUNKS)
)

_SQL_DEDUP_SIMHASH = f"""
WITH d AS ({_CLEANED}),
sigs AS (SELECT doc_id, {_simhash_sql('c')} AS simhash FROM d),
chunked_all AS (SELECT doc_id, simhash, u.chunk_idx AS chunk_idx, u.chunk_val AS chunk_val
            FROM sigs, UNNEST([{_chunk_structs}]) AS t(u)),
ok_buckets AS (SELECT chunk_idx, chunk_val FROM chunked_all
               GROUP BY chunk_idx, chunk_val HAVING count(*) <= {DEDUP_MAX_BUCKET}),
chunked AS (SELECT chunked_all.* FROM chunked_all
            SEMI JOIN ok_buckets USING (chunk_idx, chunk_val)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sim_a, b.simhash AS sim_b
         FROM chunked a JOIN chunked b
           ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_HAMMING_THRESHOLD}
"""


# --- n-gram (character 3-gram) Jaccard over consecutive-id pairs -----------

def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard similarity — the verify kernel exposed
    standalone, computed between each doc and the next doc id (a cheap
    deterministic pairing that exercises the kernel everywhere)."""
    d = _cleaned_docs(spark, sf_dir).select("doc_id", "c")
    def grams(col):
        # guard: Spark sequence(1, n) with n < 1 would generate a DESCENDING
        # sequence, so gate on length >= 3 explicitly
        g = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - 2),
                lambda i: col.substr(i, F.lit(3)),
            )
        )
        return F.when(F.length(col) >= 3, g).otherwise(F.array().cast("array<string>"))
    a = d.select(F.col("doc_id").alias("doc_a"), grams(F.col("c")).alias("g_a"))
    b = d.select((F.col("doc_id") - 1).alias("doc_a"), F.col("doc_id").alias("doc_b"), grams(F.col("c")).alias("g_b"))
    j = (
        a.join(b, "doc_a")
        .withColumn("n_inter", F.size(F.array_intersect("g_a", "g_b")).cast("long"))
        .withColumn("n_union", (F.size("g_a") + F.size("g_b") - F.col("n_inter")).cast("long"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_inter") / F.col("n_union"), 6).alias("jaccard"),
        )
    )
    return j


def _q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import CONTAIN_MAX_DF, CONTAIN_THRESHOLD
    from ..operators.dedup import dedup_containment
    from .relational import _gated_dim

    # the counting verify's small sides (per-doc sizes, common-shingle
    # slice) derive from documents and scale with SF — size-gate the
    # broadcast with the base table as the conservative proxy (the
    # _gated_dim discipline: past the gate they degrade to shuffled joins)
    return dedup_containment(
        _cleaned_docs(spark, sf_dir).select("doc_id", "c"),
        "c",
        "doc_id",
        CONTAIN_THRESHOLD,
        CONTAIN_MAX_DF,
        small_hint=lambda side: _gated_dim(side, sf_dir, "documents"),
    )


def _sql_containment_pairs() -> str:
    from ..constants import CONTAIN_MAX_DF, CONTAIN_THRESHOLD

    return f"""
WITH d AS ({_CLEANED}),
sh AS (SELECT doc_id, {_shingles_sql_inline('c')} AS shingles FROM d),
posts AS (SELECT doc_id, s FROM sh, UNNEST(shingles) AS un(s)),
rare AS (SELECT s FROM posts GROUP BY s
         HAVING count(*) >= 2 AND count(*) <= {CONTAIN_MAX_DF}),
pr AS (SELECT posts.* FROM posts SEMI JOIN rare USING (s)),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id),
v AS (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
               / CAST(least(len(sa.shingles), len(sb.shingles)) AS BIGINT), 6)
           AS containment,
         round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
               / CAST(len(sa.shingles) + len(sb.shingles)
                      - len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT),
               6) AS jaccard
  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
SELECT id_a, id_b, containment, jaccard FROM v
WHERE containment >= {CONTAIN_THRESHOLD}
"""


_SQL_CONTAINMENT_PAIRS = _sql_containment_pairs()


_NGRAMS = (
    "list_distinct(list_transform(range(1, greatest(length({c}) - 2, 0) + 1), i -> substr({c}, i, 3)))"
)

_SQL_NGRAM_JACCARD = f"""
WITH d AS ({_CLEANED}),
g AS (SELECT doc_id, {_NGRAMS.format(c='c')} AS grams FROM d)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  round(CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT)
        / CAST(len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS BIGINT), 6) AS jaccard
FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(_emb(spark, sf_dir), SIM_QUERY_IDS, k=SIM_K)


def _q_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk_arrow

    return cosine_topk_arrow(_emb(spark, sf_dir), SIM_QUERY_IDS, k=SIM_K)


_COS = cosine_sql("q.embedding", "e.embedding")
_IDS = ", ".join(str(i) for i in SIM_QUERY_IDS)

_SQL_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN ({_IDS})),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id, {_COS} AS cos
  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, cand_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rnk
  FROM scored)
SELECT query_id, cand_id, round(cos, 6) AS cosine, CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= {SIM_K}
"""


def _q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk_ivf(_emb(spark, sf_dir), SIM_QUERY_IDS, k=SIM_K, n_cells=16, nprobe=4)


_COS_CENT = cosine_sql("x.embedding", "cen.cell_vec")

_SQL_COSINE_TOPK_IVF = f"""
WITH cen AS (SELECT vec_id AS cell, embedding AS cell_vec FROM embeddings ORDER BY vec_id LIMIT 16),
assigned AS (
  SELECT cand_id, cand_vec, cell FROM (
    SELECT x.vec_id AS cand_id, x.embedding AS cand_vec, cen.cell,
      row_number() OVER (PARTITION BY x.vec_id ORDER BY {_COS_CENT} DESC, cen.cell ASC) AS rn
    FROM embeddings x, cen) WHERE rn = 1),
probes AS (
  SELECT query_id, query_vec, cell FROM (
    SELECT x.vec_id AS query_id, x.embedding AS query_vec, cen.cell,
      row_number() OVER (PARTITION BY x.vec_id ORDER BY {_COS_CENT} DESC, cen.cell ASC) AS rn
    FROM embeddings x, cen WHERE x.vec_id IN ({_IDS})) WHERE rn <= 4),
scored AS (
  SELECT p.query_id, a.cand_id, {cosine_sql('p.query_vec', 'a.cand_vec')} AS cos
  FROM assigned a JOIN probes p ON a.cell = p.cell
  WHERE a.cand_id <> p.query_id),
ranked AS (
  SELECT query_id, cand_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rnk
  FROM scored)
SELECT query_id, cand_id, round(cos, 6) AS cosine, CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= {SIM_K}
"""


def _recall_vs_exact(spark: SparkSession, sf_dir: str, approx: DataFrame) -> DataFrame:
    """Per-query recall@k of an approximate top-k against the brute-force
    ground truth — shared by every ANN variant so all recall gates compute
    the identical metric by construction."""
    exact = _q_cosine_topk(spark, sf_dir).select("query_id", "cand_id")
    approx = approx.select(
        F.col("query_id").alias("_aq"), F.col("cand_id").alias("_ac")
    )
    j = exact.join(
        approx,
        (F.col("query_id") == F.col("_aq")) & (F.col("cand_id") == F.col("_ac")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("_ac").alias("n_hit"),
        F.round(F.count("_ac") / F.lit(SIM_K), 6).alias("recall_at_k"),
    )


def _q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF index against brute-force ground truth — the
    evaluation loop an ANN deployment needs before trading exactness for
    scan pruning. Pure composition of registered queries: both engines
    join their own exact and approximate results, so the metric itself is
    oracle-checked."""
    return _recall_vs_exact(spark, sf_dir, _q_cosine_topk_ivf(spark, sf_dir))


_SQL_IVF_RECALL = f"""
WITH exact AS ({_SQL_COSINE_TOPK}),
approx AS ({_SQL_COSINE_TOPK_IVF})
SELECT e.query_id, count(*) AS n_exact, count(a.cand_id) AS n_hit,
       round(count(a.cand_id) / {SIM_K}, 6) AS recall_at_k
FROM exact e LEFT JOIN approx a
  ON a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY e.query_id
"""


def _q_emb_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import norm_expr

    e = _emb(spark, sf_dir)
    norm = norm_expr(F.col("embedding"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(norm.cast("decimal(18,6)")).alias("sum_norm"),
        F.min(norm).alias("min_norm"),
        F.max(norm).alias("max_norm"),
    )


_NORM = norm_sql("embedding")

_SQL_EMB_NORMS = f"""
SELECT label, count(*) AS n,
  sum(CAST({_NORM} AS DECIMAL(18,6))) AS sum_norm,
  min({_NORM}) AS min_norm,
  max({_NORM}) AS max_norm
FROM embeddings GROUP BY label
"""


# ---------------------------------------------------------------------------
# docs_emb_length_mass_corr — cross-modal sanity analytics: Pearson
# correlation between a document's length and its embedding's COMPONENT
# SUM (the mean-activation "mass" — the "is my embedding accidentally
# encoding length as a bias term?" check run before trusting cosine for
# dedup). Exact sufficient statistics, not F.corr: corr()'s streaming
# float formula is engine- and partition-order-dependent, so x stays
# integral and y is built EXACTLY — each float component cast
# double→DECIMAL(25,10) (shortest-repr rounding, agreed by both engines —
# the emb_label_centroids recipe) and summed as a posexplode + decimal SUM
# aggregate (SUM gets the p+10 precision promotion, so it stays exact;
# a per-element `aggregate` fold cannot — decimal '+' caps at 38 and
# silently drops a scale digit per step). Exact decimal addition is
# associative, so partition/fold order is irrelevant. (The first cut of
# this query correlated against the L2 NORM: unit-norm embeddings make
# that pure float noise at the quantization grid, and one engine-ulp in
# sqrt flipped the whole statistic at sf0.1 — mass is exact by
# construction.) All five sums are exact decimal/integer, cast to double
# ONCE at the end with the identical IEEE expression tree on both engines
# (the OLS-trend recipe). One equi-join shuffle + one scalar aggregate.
# ---------------------------------------------------------------------------


def _q_doc_emb_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    e = (
        _emb(spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"), F.posexplode("embedding"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("col").cast("double").cast("decimal(25,10)"))
            .cast("decimal(18,10)")
            .alias("yq")
        )
    )
    j = d.join(e, "doc_id")
    xd = F.col("n_chars").cast("decimal(10,0)")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(xd * xd).alias("sxx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
        F.sum(xd * F.col("yq")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = (nd * sxy - sx * sy) / (
        F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    )
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.round(sx / nd, 6).alias("avg_chars"),
        F.round(sy / nd, 6).alias("avg_mass"),
        F.round(corr, 6).alias("corr_len_mass"),
    )


_SQL_DOC_EMB_CORR = """
WITH j AS (
  SELECT CAST(d.n_chars AS DECIMAL(10,0)) AS xd,
         CAST(list_aggregate(
                list_transform(e.embedding,
                               v -> CAST(CAST(v AS DOUBLE) AS DECIMAL(25,10))),
                'sum') AS DECIMAL(18,10)) AS yq
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
s AS (SELECT count(*) AS n, sum(xd) AS sx, sum(xd * xd) AS sxx,
             sum(yq) AS sy, sum(yq * yq) AS syy, sum(xd * yq) AS sxy
      FROM j),
c AS (SELECT CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sx,
             CAST(sxx AS DOUBLE) AS sxx, CAST(sy AS DOUBLE) AS sy,
             CAST(syy AS DOUBLE) AS syy, CAST(sxy AS DOUBLE) AS sxy, n
      FROM s)
SELECT CAST(n AS BIGINT) AS n_pairs,
       round(sx / nd, 6) AS avg_chars,
       round(sy / nd, 6) AS avg_mass,
       round((nd * sxy - sx * sy)
             / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)), 6)
         AS corr_len_mass
FROM c
"""


# --- Embedding near-dup ------------------------------------------------------

def _q_emb_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_cosine_pairs(_emb(spark, sf_dir), EMB_COSINE_PAIRS_THRESHOLD)


_NORM_E = norm_sql("embedding")
_DOT_AB = dot_sql("a.embedding", "b.embedding")

_SQL_EMB_COSINE_PAIRS = f"""
WITH n AS (SELECT vec_id, embedding, {_NORM_E} AS nrm FROM embeddings),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round({_DOT_AB} / (a.nrm * b.nrm), 6) AS cosine
  FROM n a JOIN n b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {EMB_COSINE_PAIRS_THRESHOLD}
"""


def _q_dedup_emb_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup demo over embeddings ∪ an exact copy (vec_id offset by
    EMB_COPY_OFFSET): every original pairs with its copy at cosine 1.0; the
    near-random originals (max pairwise cosine ≈ 0.51) never verify."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = e.select((F.col("vec_id") + F.lit(EMB_COPY_OFFSET)).alias("vec_id"), "embedding")
    return dedup_embedding_lsh(e.unionByName(copies), EMB_COSINE_NEAR_DUP)


def _sql_emb_banded_ctes(planes_n: int | None, bands: int) -> str:
    """The shared banded-table CTE fragment (expects a prior CTE named
    ``e`` with vec_id, embedding; defines nn/banded0/banded) — bit-exact
    twin of operators/similarity.py embedding_band_table including the
    degenerate-bucket cap arithmetic. ``planes_n=None`` = the
    count-adaptive default tier: band values at EMB_LSH_BITS_MAX bits
    coarsened by the shared bmod CASE over COUNT(*)
    (constants.emb_lsh_bmod_case_sql — one string, both engines). The
    guard mirrors the operator: each id appears exactly once per band, so
    the per-band total IS the corpus count, and the bucket count is a
    window over (band_idx, band_val)."""
    from ..constants import EMB_LSH_BITS_MAX, emb_lsh_bmod_case_sql

    adaptive = planes_n is None
    bits = EMB_LSH_BITS_MAX if adaptive else planes_n // bands
    planes = hyperplane_matrix(bands * bits, EMB_DIM, EMB_LSH_SEED)
    band_structs = ", ".join(
        "{'band_idx': %d, 'band_val': %s}"
        % (b, band_value_sql("embedding", planes[b * bits : (b + 1) * bits]))
        for b in range(bands)
    )
    bmod_sql = (
        emb_lsh_bmod_case_sql("n_tot") if adaptive else f"CAST({1 << bits} AS BIGINT)"
    )
    return f"""nn AS (
  SELECT n_tot, {bmod_sql} AS bmod
  FROM (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM e)),
banded0 AS (
  SELECT vec_id AS id, u.band_idx AS band_idx, u.band_val % bmod AS band_val,
         n_tot, bmod
  FROM e, nn, UNNEST([{band_structs}]) AS t(u)),
banded AS (
  SELECT id, band_idx, band_val FROM (
    SELECT id, band_idx, band_val,
      count(*) OVER (PARTITION BY band_idx, band_val) AS c,
      greatest(CAST({EMB_LSH_MAX_BUCKET_ABS} AS BIGINT),
               ({EMB_LSH_DEGEN_FACTOR} * n_tot) // bmod) AS cap
    FROM banded0)
  WHERE c <= cap)"""


def _sql_emb_lsh(planes_n: int | None, bands: int) -> str:
    """Oracle for the embedding-LSH near-dup family at a given tier."""
    return f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {EMB_COPY_OFFSET}, embedding FROM embeddings),
{_sql_emb_banded_ctes(planes_n, bands)},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id),
n AS (SELECT vec_id, embedding, {_NORM_E} AS nrm FROM e),
v AS (
  SELECT id_a, id_b, round({_DOT_AB} / (a.nrm * b.nrm), 6) AS cosine
  FROM cand JOIN n a ON a.vec_id = id_a JOIN n b ON b.vec_id = id_b)
SELECT id_a, id_b, cosine FROM v WHERE cosine >= {EMB_COSINE_NEAR_DUP}
"""


_SQL_DEDUP_EMB_LSH = _sql_emb_lsh(None, EMB_LSH_BANDS)


# ---------------------------------------------------------------------------
# dedup_embedding_lsh_wide — the FIXED 16-bit tier of the embedding LSH
# (4 bands × 16 bits = 64 hyperplanes). The default query is now
# count-adaptive (r6) and converges to exactly this configuration once
# the corpus crosses the last EMB_LSH_ADAPTIVE_STEPS threshold; this
# query pins it unconditionally so the widest tier stays CORRECTNESS-
# gated at every sf, independent of corpus size. 16-bit bands cut a
# random pair's band-collision probability from 2^-8 to 2^-16
# (candidates ÷256 at equal N) at ~0.93 theoretical recall for cosine
# 0.99 (vs 0.99 at 8-bit); exact duplicates still collide on every band,
# so dup recall stays 1 — measured: identical answer set on the fixture
# (the sweep's hash equality IS that check).
# ---------------------------------------------------------------------------

EMB_LSH_PLANES_WIDE = 64


def _q_dedup_emb_lsh_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = e.select(
        (F.col("vec_id") + F.lit(EMB_COPY_OFFSET)).alias("vec_id"), "embedding"
    )
    return dedup_embedding_lsh(
        e.unionByName(copies),
        EMB_COSINE_NEAR_DUP,
        n_planes=EMB_LSH_PLANES_WIDE,
        bands=EMB_LSH_BANDS,
    )


_SQL_DEDUP_EMB_LSH_WIDE = _sql_emb_lsh(EMB_LSH_PLANES_WIDE, EMB_LSH_BANDS)


# ---------------------------------------------------------------------------
# emb_knn_graph — approximate k-NN GRAPH over the whole embedding table:
# every vector's top-k cosine neighbors among its LSH band candidates
# (operators/similarity.py embedding_knn_graph). Distinct from
# sim_cosine_topk (broadcast query-set search): here the query set IS the
# corpus, so the count-adaptive band table is the candidate generator and
# the ranking window partitions by vector (never global). The building
# block for graph-based semantic dedup, cluster discovery, and
# retrieval-index QA. Approximate by contract: all-singleton-bucket
# vectors yield no rows; recall is band-width-tunable.
# ---------------------------------------------------------------------------

EMB_KNN_K = 3


def _q_emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_knn_graph

    return embedding_knn_graph(
        _emb(spark, sf_dir).select("vec_id", "embedding"), k=EMB_KNN_K
    )


_SQL_EMB_KNN_GRAPH = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
{_sql_emb_banded_ctes(None, EMB_LSH_BANDS)},
cand AS (
  SELECT DISTINCT a.id AS id, b.id AS nb
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id <> b.id),
n AS (SELECT vec_id, embedding, {_NORM_E} AS nrm FROM e),
v AS (SELECT id, nb, round({_DOT_AB} / (a.nrm * b.nrm), 6) AS cosine
      FROM cand JOIN n a ON a.vec_id = id JOIN n b ON b.vec_id = nb),
r AS (SELECT id, nb, cosine,
        row_number() OVER (PARTITION BY id
          ORDER BY cosine DESC, nb ASC) AS knn_rank
      FROM v)
SELECT id AS vec_id, nb AS neighbor_id, knn_rank, cosine
FROM r WHERE knn_rank <= {EMB_KNN_K}
"""


# ---------------------------------------------------------------------------
# emb_knn_label_confusion — the kNN graph put to work: leave-one-out
# k-NN label prediction (majority over each vector's ≤k graph neighbors,
# ties to the smallest label) and the resulting confusion matrix — the
# label-quality / cluster-separability gate run before any
# label-trusting curation step (stratified mixtures, per-label dedup
# budgets). Vectors the banded graph found no neighbor for drop out —
# the matrix covers exactly the graph's vertex set, so coverage is
# visible as sum(n_vecs) vs the table count.
#
# Exactness: the graph is the registered bit-exact emb_knn_graph; votes
# and the argmax are integer counts with a deterministic tie-break;
# output is |labels|²-bounded. Scale: two broadcast label joins and one
# K²-bounded aggregate on top of the graph's banded join — nothing new
# grows with the corpus.
# ---------------------------------------------------------------------------


def _q_emb_knn_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    lab = _emb(spark, sf_dir).select("vec_id", "label")
    g = _q_emb_knn_graph(spark, sf_dir)
    votes = (
        g.join(
            F.broadcast(
                lab.withColumnsRenamed({"vec_id": "neighbor_id", "label": "nb_label"})
            ),
            "neighbor_id",
        )
        .groupBy("vec_id", "nb_label")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("_c").desc(), F.col("nb_label").asc())
    pred = (
        votes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("vec_id", F.col("nb_label").alias("pred_label"))
    )
    return (
        pred.join(F.broadcast(lab), "vec_id")
        .groupBy(F.col("label").alias("true_label"), "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


_SQL_EMB_KNN_LABEL_CONFUSION = f"""
WITH g AS ({_SQL_EMB_KNN_GRAPH}),
lv AS (SELECT vec_id, label FROM embeddings),
votes AS (SELECT g.vec_id, l.label AS nb_label, count(*) AS c
          FROM g JOIN lv l ON l.vec_id = g.neighbor_id GROUP BY 1, 2),
pred AS (SELECT vec_id, nb_label AS pred_label
         FROM (SELECT vec_id, nb_label,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY c DESC, nb_label ASC) AS rn
               FROM votes) WHERE rn = 1)
SELECT t.label AS true_label, pred.pred_label,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM pred JOIN lv t ON t.vec_id = pred.vec_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# emb_knn_recall — measured recall of the approximate kNN graph against
# brute-force exact top-k, per sampled query vector (vec_id % MOD == 0 —
# a deterministic sample so the exact side stays |sample|·N, never N²;
# the graph side is the full registered emb_knn_graph, filtered). The
# r6 verdict's point: an ANN graph without a pinned recall number is an
# unquantified approximation — this is the dedup_lsh_recall pattern
# applied to the corpus-as-query-set surface. The sample is K-BOUNDED
# (every MOD-th vec_id, at most MAX_QUERIES of them), so the broadcast
# query side never grows with the corpus — the recall gate stays a
# bounded probe at 100 TB while the graph side stays band-bucketed.
# Composition of registered queries, so the metric itself is
# oracle-checked; a recount test pins the recall values against a
# sequential replay.
# ---------------------------------------------------------------------------

EMB_KNN_RECALL_MOD = 50
EMB_KNN_RECALL_MAX_QUERIES = 64


def _q_emb_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.vectors import cosine_expr

    e = _emb(spark, sf_dir)
    queries = e.where(
        (F.col("vec_id") % EMB_KNN_RECALL_MOD == 0)
        & (F.col("vec_id") < EMB_KNN_RECALL_MOD * EMB_KNN_RECALL_MAX_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    base = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    # exact side: broadcast the sampled queries against the full table,
    # rank per query on the UNROUNDED cosine (the cosine_topk recipe)
    scored = base.join(
        F.broadcast(queries), F.col("cand_id") != F.col("query_id")
    ).withColumn("cos", cosine_expr(F.col("qv"), F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    exact = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= EMB_KNN_K)
        .select("query_id", "cand_id")
    )
    approx = (
        _q_emb_knn_graph(spark, sf_dir)
        .where(
            (F.col("vec_id") % EMB_KNN_RECALL_MOD == 0)
            & (F.col("vec_id") < EMB_KNN_RECALL_MOD * EMB_KNN_RECALL_MAX_QUERIES)
        )
        .select(F.col("vec_id").alias("_aq"), F.col("neighbor_id").alias("_ac"))
    )
    j = exact.join(
        approx, (F.col("query_id") == F.col("_aq")) & (F.col("cand_id") == F.col("_ac")), "left"
    )
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("_ac").alias("n_hit"),
        F.round(F.count("_ac") / F.count(F.lit(1)), 6).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# emb_prefix_dim_recall — Matryoshka-style truncation check (Kusupati et
# al. 2022, arXiv:2205.13147): recall@k of exact top-k computed on the
# FIRST EMB_PREFIX_DIM coordinates against the full-dimension ground
# truth, over the same K-bounded query sample as emb_knn_recall. The
# question a production index answers before storing truncated vectors:
# how much ranking quality do the dropped dimensions carry. Both sides
# are exact brute force with the ≤64-query side broadcast; shared fold
# recipes keep the cosines bit-identical cross-engine.
# ---------------------------------------------------------------------------


def _q_emb_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..constants import EMB_PREFIX_DIM, EMB_PREFIX_K
    from ..functions.vectors import cosine_expr

    e = _emb(spark, sf_dir)
    queries = e.where(
        (F.col("vec_id") % EMB_KNN_RECALL_MOD == 0)
        & (F.col("vec_id") < EMB_KNN_RECALL_MOD * EMB_KNN_RECALL_MAX_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    base = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    scored = base.join(
        F.broadcast(queries), F.col("cand_id") != F.col("query_id")
    ).select(
        "query_id",
        "cand_id",
        cosine_expr(F.col("qv"), F.col("cv")).alias("cos_full"),
        cosine_expr(
            F.slice(F.col("qv"), 1, EMB_PREFIX_DIM),
            F.slice(F.col("cv"), 1, EMB_PREFIX_DIM),
        ).alias("cos_pre"),
    )

    def topk(col: str):
        w = Window.partitionBy("query_id").orderBy(F.desc(col), F.asc("cand_id"))
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= EMB_PREFIX_K)
            .select("query_id", "cand_id")
        )

    exact = topk("cos_full")
    approx = topk("cos_pre").select(
        F.col("query_id").alias("_aq"), F.col("cand_id").alias("_ac")
    )
    j = exact.join(
        approx,
        (F.col("query_id") == F.col("_aq")) & (F.col("cand_id") == F.col("_ac")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("_ac").alias("n_hit"),
        F.round(F.count("_ac") / F.count(F.lit(1)), 6).alias("recall_at_k"),
    )


def _sql_emb_prefix_recall() -> str:
    from ..constants import EMB_PREFIX_DIM, EMB_PREFIX_K

    cos_pre = cosine_sql(
        f"q.embedding[1:{EMB_PREFIX_DIM}]", f"e.embedding[1:{EMB_PREFIX_DIM}]"
    )
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id % {EMB_KNN_RECALL_MOD} = 0
             AND vec_id < {EMB_KNN_RECALL_MOD * EMB_KNN_RECALL_MAX_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id, {_COS} AS cos_full, {cos_pre} AS cos_pre
  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
exact AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_full DESC, cand_id ASC) AS rnk
    FROM scored) WHERE rnk <= {EMB_PREFIX_K}),
approx AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos_pre DESC, cand_id ASC) AS rnk
    FROM scored) WHERE rnk <= {EMB_PREFIX_K})
SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(a.cand_id) AS BIGINT) AS n_hit,
       round(count(a.cand_id) / count(*), 6) AS recall_at_k
FROM exact e LEFT JOIN approx a
  ON a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY e.query_id
"""


_SQL_EMB_KNN_RECALL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id % {EMB_KNN_RECALL_MOD} = 0
             AND vec_id < {EMB_KNN_RECALL_MOD * EMB_KNN_RECALL_MAX_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id, {_COS} AS cos
  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
exact AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rnk
    FROM scored)
  WHERE rnk <= {EMB_KNN_K}),
approx AS ({_SQL_EMB_KNN_GRAPH})
SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       round(count(a.neighbor_id) / count(*), 6) AS recall_at_k
FROM exact e LEFT JOIN approx a
  ON a.vec_id = e.query_id AND a.neighbor_id = e.cand_id
GROUP BY e.query_id
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

def _q_mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return documents_as_media(_docs(spark, sf_dir)).select(
        "media_id", "media_type", "byte_len", "sha256"
    )


_SQL_MM_BINARY_META = """
SELECT doc_id AS media_id,
  (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
  sha256(text) AS sha256
FROM documents
"""


def _q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads (stubbed decode —
    deterministic fake; rows-only check, exercised further in tests/)."""
    return extract_features(documents_as_media(_docs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# mm_extract_features_checked — ORACLE-CERTIFIED twin of the multimodal
# feature extraction. The stub codec is a pure per-byte computation
# (polynomial rolling hash over the first 4096 payload bytes → width /
# height / n_frames / crc), so for ASCII payloads (byte == code point;
# gated identically on both sides via octet_length = char_length) DuckDB
# can replay it with a list_reduce fold — the hash check then certifies
# the whole mapInPandas path BYTE-FOR-BYTE: Arrow batching, binary-column
# transfer, per-row decode, schema mapping. The rows-only
# mm_extract_features keeps exercising the unrestricted payload path.
# ---------------------------------------------------------------------------


def _q_mm_features_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull()
        & (F.octet_length(F.encode(F.col("text"), "UTF-8")) == F.length("text"))
    )
    return extract_features(documents_as_media(d))


_SQL_MM_FEATURES_CHECKED = """
WITH a AS (SELECT doc_id, text FROM documents
           WHERE text IS NOT NULL AND octet_length(encode(text)) = length(text)),
h AS (SELECT doc_id, text,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, least(length(text), 4096) + 1),
                           i -> CAST(unicode(text[i]) AS BIGINT))),
          (acc, x) -> (acc * 131 + x) % 2147483648) AS hv
      FROM a)
SELECT doc_id AS media_id,
       (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
       CAST(length(text) AS BIGINT) AS byte_len,
       CAST(16 + hv % 1024 AS INT) AS width,
       CAST(16 + (hv // 1024) % 1024 AS INT) AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 1 + hv % 300 END AS INT) AS n_frames,
       CAST(hv AS BIGINT) AS feature_crc
FROM h
"""

# shared ASCII-gated hash CTE for the three checked multimodal twins
_MM_H_CTE = """
WITH a AS (SELECT doc_id, text FROM documents
           WHERE text IS NOT NULL AND octet_length(encode(text)) = length(text)),
h AS (SELECT doc_id, text,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, least(length(text), 4096) + 1),
                           i -> CAST(unicode(text[i]) AS BIGINT))),
          (acc, x) -> (acc * 131 + x) % 2147483648) AS hv
      FROM a),
f AS (SELECT doc_id,
        (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        CAST(length(text) AS BIGINT) AS byte_len,
        16 + hv % 1024 AS w,
        16 + (hv // 1024) % 1024 AS hgt,
        CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 1 + hv % 300 END AS n_frames,
        hv
      FROM h)
"""


def _q_mm_frame_sample_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import frame_sample

    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull()
        & (F.octet_length(F.encode(F.col("text"), "UTF-8")) == F.length("text"))
    )
    return frame_sample(documents_as_media(d), stride=10)


_SQL_MM_FRAME_SAMPLE_CHECKED = f"""{_MM_H_CTE}
SELECT doc_id AS media_id, media_type,
       CAST(n_frames AS INT) AS n_frames,
       CAST(i AS INT) AS frame_idx,
       CAST((hv + i * 2654435761) % 2147483648 AS BIGINT) AS frame_crc
FROM f, UNNEST(range(0, n_frames, 10)) AS u(i)
"""


def _q_mm_resize_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import resize_media

    d = _docs(spark, sf_dir).where(
        F.col("text").isNotNull()
        & (F.octet_length(F.encode(F.col("text"), "UTF-8")) == F.length("text"))
    )
    return resize_media(documents_as_media(d)).drop("payload")


_SQL_MM_RESIZE_CHECKED = f"""{_MM_H_CTE}
SELECT doc_id AS media_id, media_type,
       CAST(w AS INT) AS width, CAST(hgt AS INT) AS height,
       CAST(224 AS INT) AS target_w, CAST(224 AS INT) AS target_h,
       CAST(least(
         greatest(1, CAST(trunc(byte_len * least(
           1.0, CAST(224 * 224 AS DOUBLE) / CAST(greatest(w * hgt, 1) AS DOUBLE)
         )) AS BIGINT)),
         byte_len) AS BIGINT) AS byte_len
FROM f
"""


# ---------------------------------------------------------------------------
# dedup_cc_clusters — pairs → clusters → canonical survivors.
# LSH gives PAIRS; dedup needs GROUPS (duplicate chains A~B~C must collapse
# to one survivor even when A~C was never emitted). Connected components
# over the verified-pair graph (operators/components.py), canonical = min
# doc_id per component; docs in no pair are their own singleton cluster.
# Oracle: DuckDB WITH RECURSIVE min-label walk over the same pair SQL.
# ---------------------------------------------------------------------------

def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    docs = _docs(spark, sf_dir)
    pairs = dedup_minhash_lsh(
        docs, "text", "doc_id", threshold=MINHASH_JACCARD_THRESHOLD
    )
    comp = connected_components(pairs, "id_a", "id_b").withColumnsRenamed(
        {"node": "doc_id", "comp": "_comp"}
    )
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_comp", "doc_id").alias("cluster_id"),
            (F.coalesce("_comp", "doc_id") == F.col("doc_id")).alias("is_canonical"),
        )
    )


_SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({_SQL_DEDUP_MINHASH}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
walk(node, comp) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
),
cc AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node)
SELECT d.doc_id,
  coalesce(cc.comp, d.doc_id) AS cluster_id,
  (coalesce(cc.comp, d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
"""


# ---------------------------------------------------------------------------
# dedup_survivors_by_priority — POLICY-driven survivor selection: when a
# duplicate cluster spans sources of different trust (curated wiki vs
# common crawl), production dedup keeps the copy from the most trusted
# source, not the lowest id. Priority here derives deterministically from
# the source number (src_num % 5 — the fixture's stand-in for a curated
# source ranking); survivor per multi-member cluster = highest priority,
# ties to the lowest doc_id. The ranking window partitions by CLUSTER —
# cardinality linear in docs, nothing global. Oracle reuses the recursive
# min-label walk, so the star-contraction clusters and the policy pick are
# certified together.
# ---------------------------------------------------------------------------


def _q_survivors_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    clusters = _q_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    prio = (
        F.regexp_extract(F.col("source"), "([0-9]+)", 1).cast("long") % 5
    ).alias("priority")
    memb = clusters.join(docs, "doc_id").select("doc_id", "cluster_id", prio)
    multi = (
        memb.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .where(F.col("n_members") > 1)
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("priority"), F.asc("doc_id")
    )
    ranked = memb.join(multi, "cluster_id").withColumn(
        "rk", F.row_number().over(w)
    )
    return ranked.where(F.col("rk") == 1).select(
        "cluster_id",
        "n_members",
        F.col("doc_id").alias("survivor_id"),
        F.col("priority").alias("survivor_priority"),
    )


_SQL_SURVIVORS_BY_PRIORITY = f"""
WITH RECURSIVE pairs AS ({_SQL_DEDUP_MINHASH}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
walk(node, comp) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
),
cc AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node),
memb AS (SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS cluster_id,
                TRY_CAST(NULLIF(regexp_extract(d.source, '([0-9]+)', 1), '') AS BIGINT) % 5 AS priority
         FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
multi AS (SELECT cluster_id, count(*) AS n_members FROM memb
          GROUP BY cluster_id HAVING count(*) > 1),
ranked AS (SELECT m.cluster_id, mu.n_members, m.doc_id, m.priority,
             row_number() OVER (PARTITION BY m.cluster_id
                                ORDER BY m.priority DESC, m.doc_id ASC) AS rk
           FROM memb m JOIN multi mu ON m.cluster_id = mu.cluster_id)
SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS survivor_id, CAST(priority AS BIGINT) AS survivor_priority
FROM ranked WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# text_chunking — overlapping fixed-width character windows (the LLM
# context-window prep step), entirely in native expressions: sequence +
# explode + substring; no UDF. Chunk text is reported as (len, md5) so the
# result stays narrow.
# ---------------------------------------------------------------------------

CHUNK_CHARS = 512
CHUNK_STRIDE = 384


def _q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n_chunks = (
        F.lit(1)
        + F.floor((F.greatest(F.length("text"), F.lit(1)) - 1) / F.lit(CHUNK_STRIDE))
    ).cast("int")
    return (
        docs.select("doc_id", "text", n_chunks.alias("_n"))
        .withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.expr(
                f"substring(text, chunk_idx * {CHUNK_STRIDE} + 1, {CHUNK_CHARS})"
            ).alias("_chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.length("_chunk").alias("chunk_len"),
            F.md5("_chunk").alias("chunk_md5"),
        )
    )


def _q_text_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF twin of text_chunking (one input row → n chunk rows via
    a lateral join) — API-parity demo for the table-function surface.
    UDTFs run row-at-a-time Python and are the SLOW path; the expression
    formulation in text_chunking (sequence + explode + substring, pure
    codegen) is the scale path — this twin exists to pin that the UDTF
    surface produces byte-identical output (it shares text_chunking's
    oracle), not to be deployed at 100 TB."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx bigint, chunk_len int, chunk_md5 string")
    class ChunkDoc:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF protocol
            import hashlib

            t = text or ""
            n = 1 + (max(len(t), 1) - 1) // CHUNK_STRIDE
            for i in range(n):
                ch = t[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_CHARS]
                yield doc_id, i, len(ch), hashlib.md5(ch.encode("utf-8")).hexdigest()

    spark.udtf.register("chunk_doc_udtf", ChunkDoc)
    _docs(spark, sf_dir).createOrReplaceTempView("_docs_for_chunk_udtf")
    return spark.sql(
        "SELECT f.* FROM _docs_for_chunk_udtf, LATERAL chunk_doc_udtf(doc_id, text) f"
    )


_SQL_TEXT_CHUNKS = f"""
WITH base AS (
  SELECT doc_id, text,
    1 + CAST(floor((greatest(length(text), 1) - 1) / {CHUNK_STRIDE}) AS INT) AS n
  FROM documents
),
ch AS (
  SELECT doc_id, i AS chunk_idx,
    substring(text, CAST(i AS INT) * {CHUNK_STRIDE} + 1, {CHUNK_CHARS}) AS chunk
  FROM base, UNNEST(range(0, n)) AS t(i)
)
SELECT doc_id, chunk_idx, length(chunk) AS chunk_len, md5(chunk) AS chunk_md5
FROM ch
"""


# ---------------------------------------------------------------------------
# docs_train_split — deterministic train/val/test assignment by key hash
# (shared md5 recipe): reproducible across engines, runs, and cluster
# sizes, and stable under data growth (a doc's split never changes when
# other docs are added — the property rand()-based splits lack).
# ---------------------------------------------------------------------------

def _q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash60_expr

    docs = _docs(spark, sf_dir)
    bucket = hash60_expr(F.col("doc_id").cast("string")) % 1000
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    return docs.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


_SQL_TRAIN_SPLIT = f"""
SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val' ELSE 'test' END AS split,
  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM (SELECT *, ({hash60_sql("CAST(doc_id AS VARCHAR)")} % 1000) AS b FROM documents)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# text_pii_scrub — typed-placeholder redaction of emails / phones / IPv4.
# The synthetic corpus carries no PII, so each engine deterministically
# injects it first (doc_id-keyed suffixes) — the scrub then has real work:
# ~1/3 of docs gain an email, 1/5 a phone, 1/7 an address.
# ---------------------------------------------------------------------------

from ..functions.textstats import (  # noqa: E402
    pii_counts_expr,
    pii_counts_sql,
    pii_scrub_expr,
    pii_scrub_sql,
    repetition_features_expr,
    repetition_features_sql,
)


def _inject_pii_expr() -> F.Column:
    did = F.col("doc_id")
    email = F.when(
        did % 3 == 0, F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@mail.example.com"))
    ).otherwise("")
    phone = F.when(
        did % 5 == 0,
        F.concat(F.lit(" call +1 555-010-"), F.lpad((did % 10000).cast("string"), 4, "0")),
    ).otherwise("")
    ip = F.when(
        did % 7 == 0, F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".1"))
    ).otherwise("")
    return F.concat(F.col("text"), email, phone, ip)


_INJECTED_SQL = (
    "text"
    " || (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END)"
    " || (CASE WHEN doc_id % 5 = 0 THEN ' call +1 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)"
    " || (CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END)"
)


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", _inject_pii_expr().alias("t"))
    counts = pii_counts_expr(F.col("t"))
    scrubbed = pii_scrub_expr(F.col("t"))
    return d.select(
        "doc_id",
        *[v.alias(k) for k, v in counts.items()],
        F.length(scrubbed).alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


_pii_counts = pii_counts_sql("t")
_SQL_PII_SCRUB = (
    f"WITH d AS (SELECT doc_id, {_INJECTED_SQL} AS t FROM documents) SELECT doc_id, "
    + ", ".join(f"{v} AS {k}" for k, v in _pii_counts.items())
    + f", length({pii_scrub_sql('t')}) AS scrubbed_len, md5({pii_scrub_sql('t')}) AS scrubbed_md5 FROM d"
)


# ---------------------------------------------------------------------------
# text_word_repetition — Gopher-style repetition signals
# ---------------------------------------------------------------------------

def _q_word_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _cleaned_docs(spark, sf_dir)
    feats = repetition_features_expr(F.col("c"))
    return d.select("doc_id", *[v.alias(k) for k, v in feats.items()])


_rep_sql = repetition_features_sql("c")
_SQL_WORD_REPETITION = (
    f"WITH d AS ({_CLEANED}) SELECT doc_id, "
    + ", ".join(f"{v} AS {k}" for k, v in _rep_sql.items())
    + " FROM d"
)


# ---------------------------------------------------------------------------
# docs_corpus_curation — the end-to-end curation funnel in ONE pass:
# clean → quality gate (score ≥ 0.5 ∧ tokens ≥ 30) → exact dedup survivor
# (min doc_id per cleaned text among quality docs, via one window) →
# per-(lang, source) funnel counts + kept token mass. Two shuffles total
# (window on text, groupBy on the group keys); no joins.
# ---------------------------------------------------------------------------

CURATION_MIN_SCORE = "0.5"
CURATION_MIN_TOKENS = 30


def _q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", "source", clean_text_expr(F.col("text")).alias("c")
    )
    feats = quality_features_expr(F.col("c"))
    f_ = d.select(
        "doc_id", "lang", "source", "c",
        feats["n_tokens"].alias("n_tokens"),
        feats["quality_score"].alias("score"),
    )
    g = f_.withColumn(
        "pass",
        (F.col("score") >= F.lit(CURATION_MIN_SCORE).cast("decimal(14,5)"))
        & (F.col("n_tokens") >= CURATION_MIN_TOKENS),
    )
    w = Window.partitionBy("c").orderBy(F.desc("pass"), F.asc("doc_id"))
    r = g.withColumn("rn", F.row_number().over(w))
    surv = F.col("pass") & (F.col("rn") == 1)
    return r.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_loaded"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("long").alias("n_quality"),
        F.sum(F.when(surv, 1).otherwise(0)).cast("long").alias("n_unique"),
        F.sum(F.when(surv, F.col("n_tokens")).otherwise(0)).cast("long").alias("tokens_kept"),
    )


# ---------------------------------------------------------------------------
# docs_training_funnel — the WHOLE training-data pipeline as one
# stage-survival funnel, the reference's quality-funnel shape
# (pipeline.py flag_stages) lifted to corpus scale: per-doc CUMULATIVE
# stage flags (loaded → nonempty → quality → exact-unique →
# decontaminated → train-split) computed in one pass over the cleaned
# corpus, then a single conditional-sum aggregate stacked into one row
# per stage with surviving doc and token counts. Stage semantics reuse
# the standalone operators' exact definitions (CURATION_* thresholds,
# corpus_curation's dedup window, docs_decontaminate's hashed-5-gram
# bench overlap, docs_train_split's hash buckets) so the funnel is the
# composition, not a reimplementation. Scale shape: one window shuffle on
# the cleaned text (dedup), one gram self-join guarded by the broadcast
# bench side — never a per-stage rescan of the corpus.
# ---------------------------------------------------------------------------

FUNNEL_STAGES = [
    "loaded",
    "nonempty",
    "quality",
    "unique",
    "decontaminated",
    "train",
]


def _q_training_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", clean_text_expr(F.col("text")).alias("c")
    )
    feats = quality_features_expr(F.col("c"))
    base = d.select(
        "doc_id",
        "c",
        feats["n_tokens"].alias("n_tokens"),
        feats["quality_score"].alias("score"),
        (hash60_expr(F.col("doc_id").cast("string")) % 1000).alias("bkt"),
    )
    s2 = F.col("c") != ""
    s3 = s2 & (
        F.col("score") >= F.lit(CURATION_MIN_SCORE).cast("decimal(14,5)")
    ) & (F.col("n_tokens") >= CURATION_MIN_TOKENS)
    flagged = base.withColumn("s2", s2).withColumn("s3", s3)
    w = Window.partitionBy("c").orderBy(F.desc("s3"), F.asc("doc_id"))
    ranked = flagged.withColumn(
        "s4", F.col("s3") & (F.row_number().over(w) == 1)
    )
    grams = F.array_distinct(
        _word_grams(tokens_expr(F.col("c")), DECON_NGRAM, as_hash=True)
    )
    g = base.select("doc_id", "bkt", F.explode(grams).alias("gh"))
    bench = g.where(F.col("bkt") >= DECON_BENCH_MIN_BUCKET).select(
        "gh", F.col("doc_id").alias("bench_id")
    )
    contam = (
        g.join(F.broadcast(bench), "gh")
        .where(F.col("bench_id") != F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("_contam", F.lit(True))
    )
    staged = (
        ranked.join(contam, "doc_id", "left")
        .withColumn("s5", F.col("s4") & F.col("_contam").isNull())
        .withColumn("s6", F.col("s5") & (F.col("bkt") < DECON_TRAIN_MAX_BUCKET))
    )
    flags = [F.lit(True), F.col("s2"), F.col("s3"), F.col("s4"), F.col("s5"), F.col("s6")]
    aggs = []
    for i, fl in enumerate(flags):
        aggs.append(F.sum(F.when(fl, 1).otherwise(0)).cast("long").alias(f"_n{i}"))
        aggs.append(
            F.sum(F.when(fl, F.col("n_tokens")).otherwise(0)).cast("long").alias(f"_t{i}")
        )
    row = staged.agg(*aggs)
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("stage_idx"),
                        F.lit(name).alias("stage"),
                        F.col(f"_n{i}").alias("n_docs"),
                        F.col(f"_t{i}").alias("n_tokens"),
                    )
                    for i, name in enumerate(FUNNEL_STAGES)
                ]
            )
        ).alias("s")
    ).select("s.*")


_cur_feats = quality_features_sql("c")
_SQL_CORPUS_CURATION = f"""
WITH d AS (SELECT doc_id, lang, source, {CLEAN_SQL} AS c FROM documents),
f AS (SELECT doc_id, lang, source, c, {_cur_feats['n_tokens']} AS n_tokens,
        {_cur_feats['quality_score']} AS score FROM d),
g AS (SELECT *, (score >= CAST('{CURATION_MIN_SCORE}' AS DECIMAL(14,5))
                 AND n_tokens >= {CURATION_MIN_TOKENS}) AS pass FROM f),
r AS (SELECT *, row_number() OVER (PARTITION BY c ORDER BY pass DESC, doc_id ASC) AS rn FROM g)
SELECT lang, source, count(*) AS n_loaded,
  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
  CAST(sum(CASE WHEN pass AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
  CAST(sum(CASE WHEN pass AND rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM r GROUP BY lang, source
"""


def _sql_training_funnel() -> str:
    nt, sc = _cur_feats["n_tokens"], _cur_feats["quality_score"]
    bkt = f"({hash60_sql('CAST(doc_id AS VARCHAR)')} % 1000)"
    stages = []
    for i, name in enumerate(FUNNEL_STAGES):
        cond = "TRUE" if i == 0 else f"s{i + 1}"
        stages.append(
            f"SELECT {i} AS stage_idx, '{name}' AS stage, "
            f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS n_docs, "
            f"CAST(sum(CASE WHEN {cond} THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens "
            "FROM st"
        )
    body = " UNION ALL ".join(stages)
    return f"""
WITH d AS ({_CLEANED}),
f AS (SELECT doc_id, c, {nt} AS n_tokens, {sc} AS score, {bkt} AS bkt FROM d),
fl AS (SELECT *, (c <> '') AS s2,
         ((c <> '') AND score >= CAST('{CURATION_MIN_SCORE}' AS DECIMAL(14,5))
          AND n_tokens >= {CURATION_MIN_TOKENS}) AS s3 FROM f),
rk AS (SELECT *, (s3 AND row_number() OVER (
         PARTITION BY c ORDER BY s3 DESC, doc_id ASC) = 1) AS s4 FROM fl),
t AS (SELECT doc_id, {bkt} AS bkt, {tokens_sql('c')} AS toks FROM d),
g AS (SELECT doc_id, bkt, unnest(list_distinct({_grams_sql(DECON_NGRAM, hashed=True)})) AS gh
      FROM t),
contam AS (SELECT DISTINCT tr.doc_id FROM g tr
           JOIN g be ON be.gh = tr.gh
            AND be.bkt >= {DECON_BENCH_MIN_BUCKET} AND be.doc_id <> tr.doc_id),
st AS (SELECT rk.*, (s4 AND c2.doc_id IS NULL) AS s5,
         (s4 AND c2.doc_id IS NULL AND bkt < {DECON_TRAIN_MAX_BUCKET}) AS s6
       FROM rk LEFT JOIN contam c2 ON c2.doc_id = rk.doc_id)
{body}
"""


# ---------------------------------------------------------------------------
# text_tfidf_top_terms — top-5 distinctive terms per language by TF-IDF.
# Corpus-level text analysis: one explode + two hash aggregations + a
# broadcast of the (tiny) per-term doc-freq side onto the per-lang term
# counts; ranking via a per-lang window. idf is rounded to 6 decimals and
# the score kept in DECIMAL so the cross-engine ranking is exact.
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 5


def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    from ..functions.textstats import tokens_expr

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", clean_text_expr(F.col("text")).alias("c")
    )
    tok = d.select("doc_id", "lang", F.explode(tokens_expr(F.col("c"))).alias("t"))
    tf = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("term_count"))
    docfreq = tok.select("doc_id", "t").distinct().groupBy("t").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(docfreq), "t")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf", F.round(F.log(F.col("n_docs") / F.col("doc_freq")), 6).cast("decimal(18,6)")
        )
        .withColumn("tfidf", (F.col("term_count") * F.col("idf")).cast("decimal(28,6)"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("lang", F.col("t").alias("term"), "term_count", "doc_freq", "tfidf",
                F.col("rank").cast("int").alias("rank"))
    )


_SQL_TFIDF = f"""
WITH d AS (SELECT doc_id, lang, {CLEAN_SQL} AS c FROM documents),
tok AS (SELECT doc_id, lang, unnest({tokens_sql('c')}) AS t FROM d),
tf AS (SELECT lang, t, count(*) AS term_count FROM tok GROUP BY lang, t),
docfreq AS (SELECT t, count(*) AS doc_freq FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY t),
nd AS (SELECT count(*) AS n_docs FROM d),
scored AS (
  SELECT lang, t, term_count, doc_freq,
    CAST(term_count * CAST(round(ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS DECIMAL(18,6)) AS DECIMAL(28,6)) AS tfidf
  FROM tf JOIN docfreq USING (t), nd),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, t ASC) AS rnk FROM scored)
SELECT lang, t AS term, term_count, doc_freq, tfidf, CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# dedup_incremental — new-batch (doc_id % 10 = 0) vs corpus near-dup check
# ---------------------------------------------------------------------------

def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_incremental

    out = dedup_incremental(
        _docs(spark, sf_dir),
        "text",
        "doc_id",
        batch_pred=lambda i: i % 10 == 0,
        threshold=MINHASH_JACCARD_THRESHOLD,
    )
    # NULLABLE-INT canon rule: dup_of is null for unique batch docs, and one
    # null makes pandas render the oracle column float64; emit double on
    # BOTH engines (query layer only — the operator keeps the long id).
    return out.withColumn("dup_of", F.col("dup_of").cast("double"))


_SQL_DEDUP_INCREMENTAL = f"""
WITH {_MINHASH_SIGS_CTES},
banded AS (SELECT doc_id, u.band_idx AS band_idx, u.band_key AS band_key
           FROM sigs, UNNEST([{_band_structs}]) AS t(u)),
corpus_ok AS (SELECT band_idx, band_key FROM banded WHERE doc_id % 10 <> 0
              GROUP BY band_idx, band_key HAVING count(*) <= {DEDUP_MAX_BUCKET}),
corpus_b AS (SELECT banded.* FROM banded SEMI JOIN corpus_ok USING (band_idx, band_key)
             WHERE doc_id % 10 <> 0),
cand AS (SELECT DISTINCT nb.doc_id AS batch_id, cb.doc_id AS corpus_id
         FROM banded nb JOIN corpus_b cb
           ON nb.band_idx = cb.band_idx AND nb.band_key = cb.band_key
          AND nb.doc_id % 10 = 0),
verified AS (
  SELECT batch_id, corpus_id,
    round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
          / CAST(len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT), 6) AS jaccard
  FROM cand
  JOIN sigs sa ON sa.doc_id = batch_id
  JOIN sigs sb ON sb.doc_id = corpus_id),
best AS (
  SELECT batch_id, corpus_id AS dup_of, jaccard FROM (
    SELECT *, row_number() OVER (PARTITION BY batch_id ORDER BY jaccard DESC, corpus_id ASC) AS rn
    FROM verified WHERE jaccard >= {MINHASH_JACCARD_THRESHOLD})
  WHERE rn = 1)
SELECT doc.doc_id, CAST(b.dup_of AS DOUBLE) AS dup_of, b.jaccard,
  (b.dup_of IS NULL) AS is_unique
FROM documents doc LEFT JOIN best b ON b.batch_id = doc.doc_id
WHERE doc.doc_id % 10 = 0
"""


# ---------------------------------------------------------------------------
# docs_decontaminate — benchmark decontamination: flag training-split docs
# that share any word-5-gram with the held-out benchmark split (the standard
# n-gram-overlap recipe for keeping eval sets out of training corpora). The
# reference has no corpus-level ops at all (SURVEY.md §2.10); this is EXT.
# Splits reuse the docs_train_split hash recipe (<800 of 1000 = train,
# >=900 = benchmark) and gram hashes reuse the md5 hash60 family, so the
# DuckDB oracle buckets and hashes bit-identically.
# Scale shape: the benchmark gram set is a small fraction of the corpus ->
# broadcast it; the train side then filters map-side with NO shuffle of the
# (huge) exploded gram stream until the per-doc groupBy of surviving hits.
# ---------------------------------------------------------------------------

from ..constants import (  # noqa: E402
    DECON_BENCH_MIN_BUCKET,
    DECON_HASH_SEED,
    DECON_NGRAM,
    DECON_TRAIN_MAX_BUCKET,
    NGRAM_TOPK_K,
    NGRAM_TOPK_N,
    REPEATED_SPAN_N,
    REPEATED_SPAN_TOPK,
)
from ..functions.hashing import hash60_expr  # noqa: E402
from ..functions.textstats import tokens_expr  # noqa: E402


def _word_grams(toks: F.Column, n: int, as_hash: bool) -> F.Column:
    """Word n-grams of a token array: positions 1..len-n+1, each joined with
    a single space; optionally hash60-hashed (decontamination compares
    hashes, never gram text). Empty array when the doc is shorter than n."""
    def gram(i: F.Column) -> F.Column:
        g = F.concat_ws(" ", F.slice(toks, i, n))
        return hash60_expr(g, seed=DECON_HASH_SEED) if as_hash else g

    grams = F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram)
    empty = F.array().cast("array<long>" if as_hash else "array<string>")
    return F.when(F.size(toks) >= n, grams).otherwise(empty)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _cleaned_docs(spark, sf_dir).select("doc_id", "c")
    grams = F.array_distinct(_word_grams(tokens_expr(F.col("c")), DECON_NGRAM, as_hash=True))
    bucket = hash60_expr(F.col("doc_id").cast("string")) % 1000
    g = d.select("doc_id", bucket.alias("bkt"), F.explode(grams).alias("gh"))
    bench = g.where(F.col("bkt") >= DECON_BENCH_MIN_BUCKET).select(
        F.col("doc_id").alias("bench_id"), "gh"
    )
    train = g.where(F.col("bkt") < DECON_TRAIN_MAX_BUCKET)
    return (
        train.join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gh").alias("n_hit_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


# ---------------------------------------------------------------------------
# sim_rrf_hybrid — hybrid retrieval with Reciprocal Rank Fusion (Cormack
# et al. 2009): two lexical retrievers — distinct-token overlap and
# 5-token-shingle overlap — each produce a per-query top-20 ranking, fused
# by rrf(d) = Σ_lists 10^6 div (60 + rank_list(d)) in exact micro-units
# (integer division, reduction-order-free). The production hybrid-search
# shape: both retrievers are a broadcast of the tiny query side semi-
# joined against the corpus posting stream (corpus-sized work = two
# explode+count aggregations); ranks ride the rank-limit window pushdown;
# the fusion join moves only queries×top-k rows.
# ---------------------------------------------------------------------------

RRF_QUERY_DOCS = [0, 1, 2]
RRF_K = 60
RRF_PER_LIST = 20
RRF_TOPK = 10


def _q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.dedup import shingles_expr

    d = _cleaned_docs(spark, sf_dir).select("doc_id", "c")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_expr(F.col("c")))).alias("f"),
    )
    shin = d.select(
        "doc_id", F.explode(shingles_expr(tokens_expr(F.col("c")))).alias("f")
    )

    def ranked(posting: DataFrame) -> DataFrame:
        q = posting.where(F.col("doc_id").isin(RRF_QUERY_DOCS)).select(
            F.col("doc_id").alias("query_id"), "f"
        )
        scored = (
            posting.join(F.broadcast(q), "f")
            .where(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("score"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return scored.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= RRF_PER_LIST
        )

    a = ranked(tok).select("query_id", "doc_id", F.col("rank").alias("rank_tok"))
    b = ranked(shin).select("query_id", "doc_id", F.col("rank").alias("rank_shingle"))
    fused = a.join(b, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(
                F.expr(f"1000000 div ({RRF_K} + rank_tok)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000 div ({RRF_K} + rank_shingle)"), F.lit(0)
            )
        ).cast("long").alias("rrf_micro"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .where(F.col("fused_rank") <= RRF_TOPK)
        .orderBy("query_id", "fused_rank")
    )


def _rrf_sql() -> str:
    qd = ", ".join(str(i) for i in RRF_QUERY_DOCS)
    toks = tokens_sql("c")
    return f"""
WITH d AS ({_CLEANED}),
tok AS (SELECT doc_id, unnest(list_distinct({toks})) AS f FROM d),
shin AS (SELECT doc_id, unnest({_shingles_sql_inline('c')}) AS f FROM d),
ra AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM (SELECT q.doc_id AS query_id, p.doc_id, count(*) AS score
        FROM tok p JOIN tok q ON p.f = q.f
        WHERE q.doc_id IN ({qd}) AND p.doc_id <> q.doc_id
        GROUP BY 1, 2)
  QUALIFY rank <= {RRF_PER_LIST}),
rb AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM (SELECT q.doc_id AS query_id, p.doc_id, count(*) AS score
        FROM shin p JOIN shin q ON p.f = q.f
        WHERE q.doc_id IN ({qd}) AND p.doc_id <> q.doc_id
        GROUP BY 1, 2)
  QUALIFY rank <= {RRF_PER_LIST}),
fused AS (
  SELECT coalesce(ra.query_id, rb.query_id) AS query_id,
         coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         CAST(coalesce(1000000 // ({RRF_K} + ra.rank), 0)
              + coalesce(1000000 // ({RRF_K} + rb.rank), 0) AS BIGINT) AS rrf_micro
  FROM ra FULL OUTER JOIN rb
    ON ra.query_id = rb.query_id AND ra.doc_id = rb.doc_id)
SELECT query_id, doc_id, rrf_micro,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY rrf_micro DESC, doc_id) AS INT) AS fused_rank
FROM fused
QUALIFY fused_rank <= {RRF_TOPK}
ORDER BY query_id, fused_rank
"""


def _q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flip side of docs_decontaminate: per BENCH doc, how badly it leaks
    into the train split — the report a benchmark owner reads to decide
    which evals are compromised. Same hashed-5-gram frames and the same
    broadcast-bench join shape (the corpus-sized side streams; the bench
    side is the bounded build side), grouped by bench_id instead of the
    train doc."""
    d = _cleaned_docs(spark, sf_dir).select("doc_id", "c")
    grams = F.array_distinct(_word_grams(tokens_expr(F.col("c")), DECON_NGRAM, as_hash=True))
    bucket = hash60_expr(F.col("doc_id").cast("string")) % 1000
    g = d.select("doc_id", bucket.alias("bkt"), F.explode(grams).alias("gh"))
    bench = g.where(F.col("bkt") >= DECON_BENCH_MIN_BUCKET).select(
        F.col("doc_id").alias("bench_id"), "gh"
    )
    train = g.where(F.col("bkt") < DECON_TRAIN_MAX_BUCKET)
    return (
        train.join(F.broadcast(bench), "gh")
        .groupBy("bench_id")
        .agg(
            F.countDistinct("doc_id").alias("n_train_docs"),
            F.countDistinct("gh").alias("n_leaked_grams"),
        )
        .orderBy("bench_id")
    )


def _grams_sql(n: int, hashed: bool) -> str:
    gram = f"array_to_string(toks[i:i+{n - 1}], ' ')"
    if hashed:
        gram = hash60_sql(gram, seed=DECON_HASH_SEED)
    return (
        f"list_transform(range(1, greatest(len(toks) - {n - 1}, 0) + 1), i -> {gram})"
    )


_SQL_DECONTAMINATE = f"""
WITH d AS ({_CLEANED}),
t AS (SELECT doc_id, {tokens_sql('c')} AS toks FROM d),
g AS (SELECT doc_id, ({hash60_sql('CAST(doc_id AS VARCHAR)')} % 1000) AS bkt,
        unnest(list_distinct({_grams_sql(DECON_NGRAM, hashed=True)})) AS gh
      FROM t)
SELECT tr.doc_id, count(DISTINCT tr.gh) AS n_hit_grams,
       count(DISTINCT be.doc_id) AS n_bench_docs
FROM g tr JOIN g be ON be.gh = tr.gh AND be.bkt >= {DECON_BENCH_MIN_BUCKET}
WHERE tr.bkt < {DECON_TRAIN_MAX_BUCKET}
GROUP BY tr.doc_id
"""

_SQL_CONTAMINATION_REPORT = f"""
WITH d AS ({_CLEANED}),
t AS (SELECT doc_id, {tokens_sql('c')} AS toks FROM d),
g AS (SELECT doc_id, ({hash60_sql('CAST(doc_id AS VARCHAR)')} % 1000) AS bkt,
        unnest(list_distinct({_grams_sql(DECON_NGRAM, hashed=True)})) AS gh
      FROM t)
SELECT be.doc_id AS bench_id,
       CAST(count(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs,
       CAST(count(DISTINCT tr.gh) AS BIGINT) AS n_leaked_grams
FROM g tr JOIN g be ON be.gh = tr.gh AND be.bkt >= {DECON_BENCH_MIN_BUCKET}
WHERE tr.bkt < {DECON_TRAIN_MAX_BUCKET}
GROUP BY be.doc_id ORDER BY bench_id
"""


# ---------------------------------------------------------------------------
# text_ngram_topk — corpus-level top-K word bigrams with occurrence and
# document frequencies. The groupBy gets map-side partial aggregation for
# free (hash-agg over a bounded gram vocabulary), and the final top-K is a
# TakeOrderedAndProject — no full sort of the gram table. Total order
# (count desc, gram asc) makes the K-set deterministic across engines.
# ---------------------------------------------------------------------------


def _q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _cleaned_docs(spark, sf_dir).select("doc_id", "c")
    grams = _word_grams(tokens_expr(F.col("c")), NGRAM_TOPK_N, as_hash=False)
    return (
        d.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(NGRAM_TOPK_K)
    )


_SQL_NGRAM_TOPK = f"""
WITH d AS ({_CLEANED}),
t AS (SELECT doc_id, {tokens_sql('c')} AS toks FROM d),
g AS (SELECT doc_id, unnest({_grams_sql(NGRAM_TOPK_N, hashed=False)}) AS gram FROM t)
SELECT gram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM g GROUP BY gram
ORDER BY n_occurrences DESC, gram ASC LIMIT {NGRAM_TOPK_K}
"""


# ---------------------------------------------------------------------------
# dedup_repeated_spans — substring-level dedup signal (the span-grain,
# shuffle-friendly stand-in for suffix-array substring dedup à la
# "Deduplicating Training Data Makes Language Models Better"): every
# REPEATED_SPAN_N-token span is hashed; a span hash seen in ≥2 distinct
# docs marks all its occurrences as cross-document repeats, and each doc
# reports the fraction of its spans so marked — the drop/trim signal.
# Scale shape: the exploded span stream is linear in corpus tokens (never
# pairwise) and is scanned ONCE — "seen in ≥2 distinct docs" is computed
# as min(doc_id) != max(doc_id) over a window keyed by the span hash:
# exact, O(1) state per span, no collect_set, and no groupBy + mark-back
# join (which would tokenize and hash the whole corpus twice — measured 2
# scans / 4 exchanges vs 1 scan / 2 exchanges for this form). The per-doc
# rollup then shuffles on doc_id. Nothing is quadratic in docs or spans.
# ---------------------------------------------------------------------------


def _q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _cleaned_docs(spark, sf_dir).select("doc_id", "c")
    grams = _word_grams(tokens_expr(F.col("c")), REPEATED_SPAN_N, as_hash=True)
    spans = d.select("doc_id", F.explode(grams).alias("gh"))
    w = Window.partitionBy("gh")
    marked = spans.select(
        "doc_id",
        (F.min("doc_id").over(w) != F.max("doc_id").over(w)).cast("long").alias("is_rep"),
    )
    per_doc = (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("is_rep").alias("n_repeated"),
        )
        .withColumn(
            "repeated_frac",
            F.round(F.col("n_repeated").cast("double") / F.col("n_spans"), 6),
        )
    )
    return per_doc.orderBy(
        F.desc("repeated_frac"), F.asc("doc_id")
    ).limit(REPEATED_SPAN_TOPK)


_SQL_REPEATED_SPANS = f"""
WITH d AS ({_CLEANED}),
t AS (SELECT doc_id, {tokens_sql('c')} AS toks FROM d),
g AS (SELECT doc_id, unnest({_grams_sql(REPEATED_SPAN_N, hashed=True)}) AS gh FROM t),
x AS (SELECT gh, 1 AS is_rep FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2)
SELECT g.doc_id, count(*) AS n_spans,
  CAST(coalesce(sum(x.is_rep), 0) AS BIGINT) AS n_repeated,
  round(CAST(coalesce(sum(x.is_rep), 0) AS DOUBLE) / count(*), 6) AS repeated_frac
FROM g LEFT JOIN x ON g.gh = x.gh
GROUP BY g.doc_id
ORDER BY repeated_frac DESC, g.doc_id ASC LIMIT {REPEATED_SPAN_TOPK}
"""


# ---------------------------------------------------------------------------
# dedup_repeated_spans_merged — the ACTIONABLE form of the repeated-span
# signal: per document, overlapping/adjacent cross-document-repeated spans
# are merged into MAXIMAL repeated token intervals [start_tok, end_tok) —
# exactly what a span-removal curation pass cuts out of the text (vs the
# sibling query's per-doc fraction, which only ranks docs). Merge rule:
# span positions p < p' belong to one interval iff p' - p ≤ N (their
# N-token windows overlap or touch), i.e. the classic gaps-and-islands
# break when the position gap exceeds N.
# Scale shape: one span stream linear in corpus tokens; repetition is
# marked by a window keyed on the span hash (min≠max doc, single scan);
# island numbering and interval rollup are windows/groupBys PARTITIONED BY
# doc_id — every stage shuffles on a key with linear cardinality, nothing
# global, nothing pairwise.
# ---------------------------------------------------------------------------


def _q_repeated_spans_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    n = REPEATED_SPAN_N
    d = _cleaned_docs(spark, sf_dir).select("doc_id", "c")
    grams = _word_grams(tokens_expr(F.col("c")), n, as_hash=True)
    spans = d.select("doc_id", F.posexplode(grams).alias("pos", "gh"))
    w_gh = Window.partitionBy("gh")
    rep = (
        spans.withColumn(
            "is_rep", F.min("doc_id").over(w_gh) != F.max("doc_id").over(w_gh)
        )
        .where("is_rep")
        .select("doc_id", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w_doc)
    brk = F.when(prev.isNull() | (F.col("pos") - prev > n), 1).otherwise(0)
    islands = rep.withColumn(
        "island",
        F.sum(brk).over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + n).alias("e")
    )
    return (
        intervals.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.col("e") - F.col("s")).alias("covered_toks"),
            F.max(F.col("e") - F.col("s")).alias("longest_span"),
        )
        .orderBy(F.desc("covered_toks"), F.asc("doc_id"))
        .limit(REPEATED_SPAN_TOPK)
    )


_SQL_REPEATED_SPANS_MERGED = f"""
WITH d AS ({_CLEANED}),
t AS (SELECT doc_id, {tokens_sql('c')} AS toks FROM d),
t2 AS (SELECT doc_id, {_grams_sql(REPEATED_SPAN_N, hashed=True)} AS gl FROM t),
g AS (SELECT doc_id, unnest(gl) AS gh, unnest(range(len(gl))) AS pos FROM t2),
x AS (SELECT gh FROM g GROUP BY gh HAVING min(doc_id) != max(doc_id)),
r AS (SELECT g.doc_id, g.pos FROM g JOIN x USING (gh)),
i AS (SELECT doc_id, pos,
        CASE WHEN coalesce(pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                           > {REPEATED_SPAN_N}, TRUE) THEN 1 ELSE 0 END AS brk
      FROM r),
il AS (SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
       FROM i),
iv AS (SELECT doc_id, island, min(pos) AS s, max(pos) + {REPEATED_SPAN_N} AS e
       FROM il GROUP BY doc_id, island)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(e - s) AS BIGINT) AS covered_toks,
       CAST(max(e - s) AS BIGINT) AS longest_span
FROM iv GROUP BY doc_id
ORDER BY covered_toks DESC, doc_id ASC LIMIT {REPEATED_SPAN_TOPK}
"""


# ---------------------------------------------------------------------------
# docs_remove_repeated_spans — the curation ACTION the two span queries
# exist for: per affected document, every token covered by a
# cross-document-repeated span is cut and the remaining tokens are
# rejoined — output is the TRIMMED TEXT itself (hash-compared against the
# oracle, so the byte-level edit is what's certified), plus before/after
# token counts. Scale shape: the token stream and the span stream are both
# linear in corpus tokens; covered positions come from exploding each
# repeated span to its N token indices (N× a linear stream); the cut is a
# left-anti join on (doc_id, token_pos) and the rebuild is a per-doc
# collect_list + array_sort — per-group memory bounded by one document,
# the same bound any whole-doc transform already has.
# ---------------------------------------------------------------------------


def _q_remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    n = REPEATED_SPAN_N
    d = _cleaned_docs(spark, sf_dir).select("doc_id", "c")
    toks_arr = tokens_expr(F.col("c"))
    toks = d.select("doc_id", F.posexplode(toks_arr).alias("tpos", "tok"))
    spans = d.select(
        "doc_id", F.posexplode(_word_grams(toks_arr, n, as_hash=True)).alias("pos", "gh")
    )
    w_gh = Window.partitionBy("gh")
    rep = (
        spans.withColumn(
            "is_rep", F.min("doc_id").over(w_gh) != F.max("doc_id").over(w_gh)
        )
        .where("is_rep")
        .select("doc_id", "pos")
    )
    covered = rep.select(
        "doc_id", F.explode(F.sequence("pos", F.col("pos") + (n - 1))).alias("tpos")
    ).distinct()
    kept = toks.join(covered, ["doc_id", "tpos"], "left_anti")
    trimmed = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("trimmed_text"),
        F.count(F.lit(1)).alias("n_toks_after"),
    )
    totals = d.select("doc_id", F.size(toks_arr).cast("long").alias("n_toks_before"))
    affected = rep.select("doc_id").distinct()
    return (
        affected.join(totals, "doc_id")
        .join(trimmed, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks_before",
            F.coalesce("n_toks_after", F.lit(0)).cast("long").alias("n_toks_after"),
            F.coalesce("trimmed_text", F.lit("")).alias("trimmed_text"),
        )
        .orderBy(
            F.desc(F.col("n_toks_before") - F.col("n_toks_after")), F.asc("doc_id")
        )
        .limit(REPEATED_SPAN_TOPK)
    )


_SQL_REMOVE_REPEATED_SPANS = f"""
WITH d AS ({_CLEANED}),
t AS (SELECT doc_id, {tokens_sql('c')} AS toks FROM d),
t2 AS (SELECT doc_id, toks, {_grams_sql(REPEATED_SPAN_N, hashed=True)} AS gl FROM t),
g AS (SELECT doc_id, unnest(gl) AS gh, unnest(range(len(gl))) AS pos FROM t2),
x AS (SELECT gh FROM g GROUP BY gh HAVING min(doc_id) != max(doc_id)),
r AS (SELECT g.doc_id, g.pos FROM g JOIN x USING (gh)),
cov AS (SELECT DISTINCT doc_id, pos + i AS tpos
        FROM r, UNNEST(range(0, {REPEATED_SPAN_N})) AS u(i)),
tk AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS tpos FROM t),
kept AS (SELECT tk.doc_id, tk.tok, tk.tpos
         FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tpos = cov.tpos
         WHERE cov.doc_id IS NULL),
tr AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS trimmed_text,
              count(*) AS n_toks_after
       FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, len(toks) AS n_toks_before FROM t),
rd AS (SELECT DISTINCT doc_id FROM r),
-- final projection in its own CTE so ORDER BY sees the COALESCED counts:
-- inside the joining select, n_toks_after would bind to tr's pre-coalesce
-- column, and a fully-trimmed doc (NULL) would sort NULLS-LAST out of the
-- top-K instead of ranking by its full removal
fin AS (SELECT rd.doc_id AS doc_id,
               CAST(n_toks_before AS BIGINT) AS n_toks_before,
               CAST(coalesce(n_toks_after, 0) AS BIGINT) AS n_toks_after,
               coalesce(trimmed_text, '') AS trimmed_text
        FROM rd JOIN tot USING (doc_id) LEFT JOIN tr USING (doc_id))
SELECT * FROM fin
ORDER BY n_toks_before - n_toks_after DESC, doc_id ASC
LIMIT {REPEATED_SPAN_TOPK}
"""


# ---------------------------------------------------------------------------
# docs_sample_mixture — corpus mixture sampling: each source stratum keeps a
# deterministic hash-fraction of its docs (the data-mixing step that weights
# sources in a pretraining corpus). Keep fractions derive from the source
# number ((n % 4 + 1) x 25%), so the recipe is pure expression in both
# engines — no per-stratum driver loop, no sampleBy RNG (seeded RNG is not
# reproducible across engines; a doc_id hash is, and is also stable under
# re-partitioning and incremental re-runs: a doc's keep/drop never changes
# when the corpus around it grows).
# Scale shape: a map-side filter + partial agg — no shuffle except the
# final tiny per-source rollup.
# ---------------------------------------------------------------------------

from ..constants import MIX_BUCKETS, MIX_HASH_SEED, PACK_TOKEN_BUDGET  # noqa: E402


def _q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain scan, no fan-out: Catalyst pushes this deterministic filter
    # below the fan-out's round-robin exchange, so the fan-out would
    # parallelize none of the map work and only add an exchange (sf0.1,
    # 4 cores: 0.350 s plain vs 0.465 s fanned; docs/FANOUT_RULE_AB.md)
    d = load_table(spark, sf_dir, "documents")
    src_num = F.regexp_extract(F.col("source"), "([0-9]+)", 1).cast("long")
    frac_bp = (src_num % 4 + 1) * (MIX_BUCKETS // 4)
    h = hash60_expr(F.col("doc_id").cast("string"), seed=MIX_HASH_SEED) % MIX_BUCKETS
    return (
        d.where(h < frac_bp)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )


_SQL_SAMPLE_MIXTURE = f"""
WITH s AS (SELECT source, n_chars,
  ({hash60_sql('CAST(doc_id AS VARCHAR)', seed=MIX_HASH_SEED)} % {MIX_BUCKETS}) AS h,
  ((TRY_CAST(NULLIF(regexp_extract(source, '([0-9]+)', 1), '') AS BIGINT) % 4 + 1) * {MIX_BUCKETS // 4}) AS frac_bp
  FROM documents)
SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM s WHERE h < frac_bp GROUP BY source
"""


# ---------------------------------------------------------------------------
# docs_pack_sequences — sequence packing: assign docs to fixed-token-budget
# bins (the batch-assembly step before pretraining). Packing is inherently
# sequential, so it runs per source shard: a running token sum over
# (source, doc_id order) and bin = floor(preceding_cum / budget). One
# shuffle on source; at 100 TB the partition key becomes (source, shard) so
# no single window partition exceeds an executor.
# ---------------------------------------------------------------------------


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", token_count_expr(clean_text_expr(F.col("text"))).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w))
    bin_id = F.floor((F.col("cum") - F.col("n_tok")) / PACK_TOKEN_BUDGET)
    return c.groupBy("source", bin_id.alias("bin_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
    )


_SQL_PACK_SEQUENCES = f"""
WITH t AS (SELECT doc_id, source, {token_count_sql(CLEAN_SQL)} AS n_tok FROM documents),
c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t)
SELECT source, CAST(floor((cum - n_tok) / {PACK_TOKEN_BUDGET}) AS BIGINT) AS bin_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
FROM c GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# dedup_lsh_recall — recall of the random-hyperplane LSH near-dup pass
# against its construction's ground truth: the LSH demo corpus is
# originals ∪ exact copies (vec_id + EMB_COPY_OFFSET), so every original
# must pair with its copy (cosine 1.0). Recall = found copy-pairs / n_vecs
# — the acceptance metric for trading the O(n^2) exact pass for bucketed
# candidates. Composition of registered queries, so oracle-checked.
# ---------------------------------------------------------------------------

def _q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + F.lit(EMB_COPY_OFFSET)).alias("id_b"),
    )
    approx = _q_dedup_emb_lsh(spark, sf_dir).select(
        F.col("id_a").alias("_la"), F.col("id_b").alias("_lb")
    )
    j = truth.join(
        approx, (F.col("id_a") == F.col("_la")) & (F.col("id_b") == F.col("_lb")), "left"
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.count("_la").alias("n_lsh_hits"),
        F.round(F.count("_la") / F.greatest(F.count(F.lit(1)), F.lit(1)), 6).alias("recall"),
    )


_SQL_LSH_RECALL = f"""
WITH truth AS (
  SELECT vec_id AS id_a, vec_id + {EMB_COPY_OFFSET} AS id_b FROM embeddings),
approx AS ({_SQL_DEDUP_EMB_LSH})
SELECT count(*) AS n_true_pairs, count(a.id_a) AS n_lsh_hits,
       round(count(a.id_a) / greatest(count(*), 1), 6) AS recall
FROM truth e LEFT JOIN approx a ON a.id_a = e.id_a AND a.id_b = e.id_b
"""


def _q_cosine_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means-trained IVF top-k (pyspark.ml, seeded) — rows-only: k-means
    training is not SQL-expressible; quality is gated by
    sim_ivf_kmeans_recall instead."""
    from ..operators.similarity import cosine_topk_ivf_kmeans

    return cosine_topk_ivf_kmeans(_emb(spark, sf_dir), SIM_QUERY_IDS, k=SIM_K)


def _q_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k consistency gate for the k-means IVF against brute-force
    ground truth (the trained-centroid counterpart of sim_ivf_recall).
    Honest note: on the driver's near-random embeddings (no cluster
    structure; max pairwise cosine ~0.5) trained centroids measure 0.4-0.7
    recall vs the seeded heuristic's 0.7-1.0 — IVF only pays off when the
    data actually clusters, which is precisely what this per-query gate
    surfaces before anyone trades exactness for pruning at 100 TB.

    Oracle strategy (same pattern as agg_approx_count_distinct): the recall
    VALUE depends on pyspark.ml k-means training and is not
    SQL-expressible, so the checked output is the exact part plus
    consistency invariants — one row per probe query, the exact ground-truth
    size (always SIM_K), and ``sane`` = hits within [0, n_exact] and the
    reported recall arithmetically consistent with the hit count. The raw
    per-query recall values remain visible via the rows-only
    sim_cosine_topk_ivf_kmeans."""
    r = _recall_vs_exact(spark, sf_dir, _q_cosine_topk_ivf_kmeans(spark, sf_dir))
    sane = (
        (F.col("n_hit") >= 0)
        & (F.col("n_hit") <= F.col("n_exact"))
        & (F.col("recall_at_k") == F.round(F.col("n_hit") / F.lit(SIM_K), 6))
    )
    return r.select("query_id", "n_exact", sane.alias("sane"))


_SQL_IVF_KMEANS_RECALL = f"""
SELECT CAST(unnest({SIM_QUERY_IDS}) AS BIGINT) AS query_id,
       CAST({SIM_K} AS BIGINT) AS n_exact, true AS sane
"""


# ---------------------------------------------------------------------------
# sim_ivf_kmeans_clustered_* — the fixture where k-means IVF SHOULD win,
# and a gate that fails the sweep if it ever stops winning. The driver's
# embeddings are near-random (no cluster structure), where
# sim_ivf_kmeans_recall honestly reports trained centroids LOSING to the
# lowest-id heuristic; this pair plants real cluster structure — a
# deterministic transform (no new fixture files): cluster c(vec_id),
# new_vec = 0.35·orig + block-indicator center (coords 8c..8c+7 = 1/√8) —
# same-cluster cosines ≈ 0.9, cross-cluster ≲ 0.12. The assignment puts
# the 8 LOWEST ids — exactly the seed heuristic's centroid picks — all in
# cluster 0 (the production failure mode in miniature: ids correlate with
# collection order, so "first vectors seen" under-cover the space), and
# every other vector in cluster vec_id % 8. With n_cells=8 / nprobe=1 and
# probe queries in clusters 1-5, the heuristic's near-parallel centroids
# split every cluster arbitrarily (recall ≈ 1/cells) while k-means
# recovers the planted centers. `_recalls` (rows-only) carries the
# measured numbers; `_ahead` is oracled against a literal `true`, so the
# correctness sweep itself fails if trained-IVF recall ever drops
# to/below the heuristic's at equal nprobe.
# ---------------------------------------------------------------------------

_CLUSTER_CELLS = 8
_CLUSTER_NPROBE = 1
_CLUSTER_QUERY_IDS = [9, 10, 11, 12, 13]  # clusters 1-5: none covered by ids 0-7


def _clustered_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    c = F.when(F.col("vec_id") < 8, F.lit(0)).otherwise(
        F.col("vec_id") % _CLUSTER_CELLS
    )
    idx = F.sequence(F.lit(0), F.lit(EMB_DIM - 1))
    newvec = F.transform(
        idx,
        lambda i: (
            F.element_at(F.col("embedding"), i + 1) * F.lit(0.35)
            + F.when(F.floor(i / 8) == c, F.lit(0.35355339059327373)).otherwise(
                F.lit(0.0)
            )
        ).cast("float"),
    )
    return e.select("vec_id", newvec.alias("embedding"), "label")


def _clustered_recall_scalars(spark: SparkSession, sf_dir: str) -> tuple:
    from ..operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
        cosine_topk_ivf_kmeans,
    )

    # one materialization feeds the exact baseline, both IVF variants and
    # k-means training (4 traversals of the transform otherwise)
    e = _clustered_emb(spark, sf_dir).localCheckpoint(eager=True)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in cosine_topk(e, _CLUSTER_QUERY_IDS, k=SIM_K).collect()
    }  # |Q|·k rows — bounded collect

    def recall(df: DataFrame) -> float:
        hits = sum(
            (r["query_id"], r["cand_id"]) in exact
            for r in df.collect()  # |Q|·k rows
        )
        return round(hits / max(len(exact), 1), 6)

    heur = recall(
        cosine_topk_ivf(
            e, _CLUSTER_QUERY_IDS, k=SIM_K,
            n_cells=_CLUSTER_CELLS, nprobe=_CLUSTER_NPROBE,
        )
    )
    km = recall(
        cosine_topk_ivf_kmeans(
            e, _CLUSTER_QUERY_IDS, k=SIM_K,
            n_cells=_CLUSTER_CELLS, nprobe=_CLUSTER_NPROBE,
        )
    )
    return len(_CLUSTER_QUERY_IDS), heur, km


def _q_ivf_kmeans_clustered_recalls(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_q, heur, km = _clustered_recall_scalars(spark, sf_dir)
    return spark.createDataFrame(
        [(n_q, heur, km, km > heur)],
        "n_queries long, heuristic_recall double, kmeans_recall double, "
        "kmeans_ahead boolean",
    )


def _q_ivf_kmeans_clustered_ahead(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_q, heur, km = _clustered_recall_scalars(spark, sf_dir)
    return spark.createDataFrame(
        [(n_q, km > heur)], "n_queries long, kmeans_ahead boolean"
    )


_SQL_IVF_KMEANS_CLUSTERED_AHEAD = f"""
SELECT CAST({len(_CLUSTER_QUERY_IDS)} AS BIGINT) AS n_queries, true AS kmeans_ahead
"""


# ---------------------------------------------------------------------------
# dedup_semantic / dedup_semantic_checked — SemDeDup (Abbas et al. 2023,
# arXiv:2303.09540): cluster the embedding space, then inside each cluster
# greedily drop every example whose cosine to an earlier-ordered member
# reaches eps (ordering = cosine-to-centroid ASC — keep the least
# prototypical member of each duplicate group). Runs on the planted-cluster
# fixture (the raw driver embeddings are near-random: max pairwise cosine
# ≈ 0.51, so eps-level duplicates simply don't exist there). `_checked`
# uses the PLANTED block-indicator centers as a literal centroid table, so
# assignment + ordering + the triangular drop rule are all SQL-expressible
# and the whole path is oracled; `dedup_semantic` runs the production path
# — seeded MLlib k-means training — over the same input (rows-only, like
# every k-means query). Input is capped at vec_id < _SEMDEDUP_CAP_ID so the
# quadratic-in-cell-size pair stage does constant work at every sf; the
# operator's n_cells-scales-with-N / max_cell_rows contract is documented
# at operators/similarity.py::semantic_dedup. eps sits at the ~p70 of the
# fixture's within-cluster cosine distribution (median 0.892, p95 0.916),
# so the duplicate graph is nontrivial: some members shadow others, some
# survive, and survivor counts move if ordering, assignment, rounding, or
# the triangular rule drift in either engine.
# ---------------------------------------------------------------------------

_SEMDEDUP_EPS = 0.9
_SEMDEDUP_CAP_ID = 2000
_CLUSTER_CENTER_COORD = 0.35355339059327373  # 1/sqrt(8), the planted center


def _semdedup_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _clustered_emb(spark, sf_dir).where(F.col("vec_id") < _SEMDEDUP_CAP_ID)


def _planted_centroids(spark: SparkSession) -> DataFrame:
    cents = []
    for c in range(_CLUSTER_CELLS):
        vec = [0.0] * EMB_DIM
        vec[8 * c : 8 * c + 8] = [_CLUSTER_CENTER_COORD] * 8
        cents.append((c, vec))
    return spark.createDataFrame(cents, "cell int, cell_vec array<float>")


def _q_dedup_semantic_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup(
        _semdedup_input(spark, sf_dir),
        _SEMDEDUP_EPS,
        centroids=_planted_centroids(spark),
    )


def _q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup(
        _semdedup_input(spark, sf_dir),
        _SEMDEDUP_EPS,
        n_cells=_CLUSTER_CELLS,
        seed=42,
    )


# The oracle replays the full path: the planted-cluster transform (same
# double-arithmetic-then-float-cast as _clustered_emb, so vectors are
# bit-identical), centroid literals cast to FLOAT (matching the Spark
# array<float> centroid table — cosine then widens float->double in the
# same places on both engines), argmax assignment with the same
# (cos DESC, cell ASC) row_number convention, and the triangular drop.
_SQL_DEDUP_SEMANTIC_CHECKED = f"""
WITH e AS (
  SELECT vec_id,
    list_transform(range(1, {EMB_DIM} + 1), i -> CAST(
      CAST(embedding[i] AS DOUBLE) * 0.35 +
      CASE WHEN (i - 1) // 8 = (CASE WHEN vec_id < 8 THEN 0 ELSE vec_id % 8 END)
           THEN {_CLUSTER_CENTER_COORD} ELSE 0.0 END AS FLOAT)) AS vec
  FROM embeddings WHERE vec_id < {_SEMDEDUP_CAP_ID}),
cen AS (
  SELECT c.cell AS cell,
    list_transform(range(1, {EMB_DIM} + 1), i -> CAST(
      CASE WHEN (i - 1) // 8 = c.cell THEN {_CLUSTER_CENTER_COORD}
           ELSE 0.0 END AS FLOAT)) AS cell_vec
  FROM (SELECT CAST(unnest(range({_CLUSTER_CELLS})) AS INT) AS cell) c),
assigned AS (
  SELECT id, vec, cell, round(cc, 6) AS cent_cos FROM (
    SELECT e.vec_id AS id, e.vec AS vec, cen.cell,
      {cosine_sql('e.vec', 'cen.cell_vec')} AS cc,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {cosine_sql('e.vec', 'cen.cell_vec')} DESC,
                                  cen.cell ASC) AS rn
    FROM e, cen) WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.id AS id
  FROM assigned a JOIN assigned b ON a.cell = b.cell
   AND (a.cent_cos < b.cent_cos OR (a.cent_cos = b.cent_cos AND a.id < b.id))
  WHERE round({cosine_sql('a.vec', 'b.vec')}, 6) >= {_SEMDEDUP_EPS})
SELECT s.id AS vec_id, s.cell, s.cent_cos
FROM assigned s WHERE s.id NOT IN (SELECT id FROM dropped)
"""


# ---------------------------------------------------------------------------
# docs_lrs_capped / docs_longest_repeated_substring — arbitrary-length
# repeated-substring discovery (suffix grain, the Lee-et-al. substring-dedup
# upgrade of the fixed-8-token span queries). The capped form is the
# SQL-expressible oracle twin (capped-suffix sort + adjacent LCP — exact
# for answers < LRS_CAP, reports LRS_CAP when the true repeat is longer);
# the uncapped form is the scale path (hash-probe binary search, no sort)
# and is rows-only for the driver, with pytest pinning capped==min(uncapped,
# cap) plus a brute-force property test. See operators/substrings.py.
# ---------------------------------------------------------------------------

def _toks_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(tokens_expr(clean_text_expr(F.col("text"))).alias("toks"))


def _q_lrs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.substrings import lrs_capped_sorted

    return lrs_capped_sorted(_toks_frame(spark, sf_dir))


def _q_lrs_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.substrings import longest_repeated_substring

    return longest_repeated_substring(_toks_frame(spark, sf_dir))


def _sql_lrs_capped() -> str:
    from ..operators.substrings import LRS_CAP

    return f"""
WITH d AS ({_CLEANED}),
t AS (SELECT {tokens_sql('c')} AS toks FROM d),
sfx AS (SELECT unnest(list_transform(range(1, len(toks) + 1),
                i -> array_to_string(toks[i:i+{LRS_CAP - 1}], ' '))) AS sstr
        FROM t WHERE len(toks) > 0),
g AS (SELECT sstr, count(*) AS c FROM sfx GROUP BY sstr),
o AS (SELECT sstr, c, string_split(sstr, ' ') AS s,
             lag(string_split(sstr, ' ')) OVER (ORDER BY sstr) AS prev
      FROM g),
adj AS (SELECT len(list_filter(range(1, least(len(s), len(prev)) + 1),
                 i -> s[1:i] = prev[1:i])) AS l, s
        FROM o WHERE prev IS NOT NULL),
cand AS (
  SELECT CAST(l AS BIGINT) AS l, array_to_string(s[1:CAST(l AS INT)], ' ') AS sub
  FROM adj WHERE l > 0
  UNION ALL
  SELECT CAST(len(s) AS BIGINT) AS l, sstr AS sub FROM o WHERE c >= 2
)
SELECT l AS lrs_len, sub AS lrs_text FROM cand ORDER BY l DESC, sub ASC LIMIT 1
"""


# ---------------------------------------------------------------------------
# emb_jl_distortion — Johnson-Lindenstrauss random projection quality:
# project 64-dim embeddings to JL_PLANES dims with the seeded ±1
# hyperplane matrix (the LSH banding matrix family, embedded as literals
# in both engines) and measure, per probe query, how far projected
# cosines drift from exact cosines over ALL candidates — the
# dimensionality-reduction error report run before moving ANN search to
# a compressed space. Exactness: each projected coordinate is one
# sequential fold; the 16-dim projected dot/norms are sequential folds;
# the per-pair |Δcosine| enters aggregation only as round(·×1e6) BIGINT
# micro units, so max/sum/mean are integer-exact under any reduction
# order. Scale shape: projection is one map-side pass (no shuffle);
# the pair stage is the broadcast tiny-query-side pattern; output is one
# row per query.
# ---------------------------------------------------------------------------

JL_PLANES = 16
JL_SEED = 9901


def _q_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import (
        cosine_expr,
        dot_expr,
        hyperplane_matrix,
        norm_expr,
    )

    planes = hyperplane_matrix(JL_PLANES, EMB_DIM, JL_SEED)
    e = _emb(spark, sf_dir)

    def proj(vec):
        return F.array(
            *[
                dot_expr(
                    vec, F.array(*[F.lit(float(c)) for c in plane])
                )
                for plane in planes
            ]
        )

    base = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cand_vec"),
        proj(F.col("embedding")).alias("cand_p"),
    )
    queries = e.where(F.col("vec_id").isin(SIM_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        proj(F.col("embedding")).alias("query_p"),
    )
    pairs = base.join(
        F.broadcast(queries), F.col("cand_id") != F.col("query_id")
    ).select(
        "query_id",
        F.round(
            F.abs(
                cosine_expr(F.col("query_vec"), F.col("cand_vec"))
                - dot_expr(F.col("query_p"), F.col("cand_p"))
                / (norm_expr(F.col("query_p")) * norm_expr(F.col("cand_p")))
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("d_micro"),
    )
    return pairs.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max("d_micro").alias("max_abs_micro"),
        F.expr("sum(d_micro) div count(1)").cast("long").alias("mean_abs_micro"),
    )


def _sql_jl_distortion() -> str:
    from ..functions.vectors import (
        cosine_sql,
        dot_sql,
        hyperplane_matrix,
        norm_sql,
    )

    planes = hyperplane_matrix(JL_PLANES, EMB_DIM, JL_SEED)

    def proj_sql(vec: str) -> str:
        coords = ", ".join(
            dot_sql(vec, "[" + ", ".join(f"{float(c)}" for c in plane) + "]")
            for plane in planes
        )
        return f"[{coords}]"

    qids = ", ".join(str(i) for i in SIM_QUERY_IDS)
    return f"""
WITH e AS (SELECT vec_id, embedding, {proj_sql('embedding')} AS p
           FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, p AS qp
      FROM e WHERE vec_id IN ({qids})),
pairs AS (
  SELECT query_id,
         CAST(round(abs({cosine_sql('qvec', 'embedding')}
                        - {dot_sql('qp', 'p')}
                          / ({norm_sql('qp')} * {norm_sql('p')})) * 1e6, 0)
              AS BIGINT) AS d_micro
  FROM e JOIN q ON vec_id <> query_id)
SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs,
       max(d_micro) AS max_abs_micro,
       CAST(sum(d_micro) // count(*) AS BIGINT) AS mean_abs_micro
FROM pairs GROUP BY query_id
"""


# ---------------------------------------------------------------------------
# sim_pq_adc_recall — product quantization + asymmetric distance (see
# operators/pq.py): per-query recall@k of the compressed-domain search
# against the exact L2² top-k. Fully oracled: the seeded id-order
# codebook, the sequential-fold distances, the tie-broken code
# assignment, and the left-associated ADC sum replay identically in
# DuckDB.
# ---------------------------------------------------------------------------

def _q_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import PQ_CODEWORDS, PQ_QUERIES, PQ_SUB, PQ_TOPK
    from ..operators.pq import pq_adc_recall

    return pq_adc_recall(
        _emb(spark, sf_dir),
        n_codewords=PQ_CODEWORDS,
        n_queries=PQ_QUERIES,
        n_sub=PQ_SUB,
        k=PQ_TOPK,
    )


def _sql_pq_adc_recall() -> str:
    from ..constants import PQ_CODEWORDS, PQ_QUERIES, PQ_SUB, PQ_TOPK
    from ..functions.vectors import l2sq_sql

    m, kc, nq, k = PQ_SUB, PQ_CODEWORDS, PQ_QUERIES, PQ_TOPK
    sub = "vec[m * ds + 1 : m * ds + ds]"
    qsub = "qvec[m * ds + 1 : m * ds + ds]"
    pivot = ", ".join(
        f"max(CASE WHEN m = {i} THEN qd END) AS d{i}" for i in range(m)
    )
    lsum = " + ".join(f"d{i}" for i in range(m))  # left-associated
    return f"""
WITH emb AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
p AS (SELECT len(vec) // {m} AS ds FROM emb ORDER BY id LIMIT 1),
low AS (SELECT id, vec, row_number() OVER (ORDER BY id) AS rn
        FROM (SELECT * FROM emb ORDER BY id LIMIT {kc + nq})),
ms AS (SELECT unnest(range(0, {m})) AS m),
cb AS (SELECT m, rn - 1 AS c, {sub.replace('vec', 'low.vec')} AS cw
       FROM low CROSS JOIN p CROSS JOIN ms WHERE rn <= {kc}),
q AS (SELECT id AS query_id, vec AS qvec FROM low WHERE rn > {kc}),
assign AS (
  SELECT id, m, c, {l2sq_sql(sub.replace('vec', 'emb.vec'), 'cw')} AS d
  FROM emb CROSS JOIN p JOIN cb ON TRUE),
codes AS (
  SELECT id, m, c FROM (
    SELECT id, m, c,
           row_number() OVER (PARTITION BY id, m ORDER BY d ASC, c ASC) AS arn
    FROM assign) WHERE arn = 1),
qtab AS (
  SELECT query_id, m, c, {l2sq_sql(qsub, 'cw')} AS qd
  FROM q CROSS JOIN p JOIN cb ON TRUE),
adc AS (
  SELECT query_id, id, {lsum} AS adc_d
  FROM (SELECT query_id, id, {pivot}
        FROM codes JOIN qtab USING (m, c)
        WHERE id <> query_id GROUP BY query_id, id)),
approx AS (
  SELECT query_id, id FROM (
    SELECT query_id, id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_d ASC, id ASC) AS rn
    FROM adc) WHERE rn <= {k}),
exact AS (
  SELECT query_id, id FROM (
    SELECT query_id, id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ed ASC, id ASC) AS rn
    FROM (SELECT query_id, id, {l2sq_sql('vec', 'qvec')} AS ed
          FROM emb JOIN q ON id <> query_id)) WHERE rn <= {k}),
ov AS (SELECT query_id, count(*) AS n_overlap
       FROM approx SEMI JOIN exact USING (query_id, id) GROUP BY query_id)
SELECT q.query_id, CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / {float(k)} AS recall
FROM q LEFT JOIN ov USING (query_id)
"""


# On the driver's near-random embeddings PQ-ADC recall is honestly LOW
# (~0-30% — random high-dim vectors don't compress; same story as
# sim_ivf_recall). The clustered companion runs the identical operator on
# the planted-cluster transform and measures what compression is SUPPOSED
# to preserve — coarse neighborhood structure: every top-10 lands in the
# query's planted cluster (cluster_precision 1.0, measured at
# sf0.001/0.01) even though exact within-cluster ORDERING (the recall@10
# metric) needs finer-grained codebooks. The gate twin is oracled against
# literal true, so the correctness sweep itself fails if compressed-domain
# search ever stops preserving the planted clusters.

def _pq_clustered_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import PQ_CODEWORDS, PQ_QUERIES, PQ_SUB, PQ_TOPK
    from ..operators.pq import pq_adc_cluster_precision

    e = _clustered_emb(spark, sf_dir).withColumn(
        "cl",
        F.when(F.col("vec_id") < 8, F.lit(0)).otherwise(
            F.col("vec_id") % _CLUSTER_CELLS
        ),
    )
    return pq_adc_cluster_precision(
        e,
        "cl",
        n_codewords=PQ_CODEWORDS,
        n_queries=PQ_QUERIES,
        n_sub=PQ_SUB,
        k=PQ_TOPK,
    )


def _q_pq_clustered_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_clustered_precision(spark, sf_dir)


def _q_pq_clustered_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _pq_clustered_precision(spark, sf_dir).collect()
    ok = bool(rows) and all(r["cluster_precision"] == 1.0 for r in rows)
    return spark.createDataFrame(
        [(ok,)], "pq_preserves_planted_clusters boolean"
    )


# ---------------------------------------------------------------------------
# dedup_cdc_chunks — token-anchor content-defined chunking dedup (see
# operators/dedup.py:cdc_chunk_pairs): the storage-layer near-dup primitive
# (LBFS/rsync lineage) next to the similarity-layer MinHash family. Finds
# doc pairs sharing exact multi-token spans (quotes, license blocks,
# lifted paragraphs) even when whole-doc Jaccard is low. Boundaries come
# from the portable hash60, so the DuckDB twin replays the identical
# chunking decision stream.
# ---------------------------------------------------------------------------

def _q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..constants import (
        CDC_GEAR_MOD,
        CDC_MAX_FP_BUCKET,
        CDC_MIN_CHUNK_TOKENS,
        CDC_MIN_SHARED_CHUNKS,
    )
    from ..operators.dedup import cdc_chunk_pairs

    return cdc_chunk_pairs(
        _docs(spark, sf_dir),
        "text",
        "doc_id",
        gear_mod=CDC_GEAR_MOD,
        min_tokens=CDC_MIN_CHUNK_TOKENS,
        max_bucket=CDC_MAX_FP_BUCKET,
        min_shared=CDC_MIN_SHARED_CHUNKS,
    ).withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})


def _sql_cdc_chunks() -> str:
    from ..constants import (
        CDC_GEAR_MOD,
        CDC_MAX_FP_BUCKET,
        CDC_MIN_CHUNK_TOKENS,
        CDC_MIN_SHARED_CHUNKS,
    )

    toks = tokens_sql("c")
    anchor = hash60_sql("t[i]")
    return f"""
WITH d AS ({_CLEANED}),
tk AS (SELECT doc_id, {toks} AS t FROM d WHERE len({toks}) >= {CDC_MIN_CHUNK_TOKENS}),
e AS (SELECT doc_id, t,
        [0] || list_filter(range(1, len(t) + 1), i -> {anchor} % {CDC_GEAR_MOD} = 0)
            || [len(t)] AS ed
      FROM tk),
ch AS (
  SELECT doc_id, u.s.ch AS chunk
  FROM (SELECT doc_id,
          list_filter(
            list_transform(range(1, len(ed)), j ->
              {{'ln': ed[j + 1] - ed[j],
                'ch': array_to_string(list_slice(t, ed[j] + 1, ed[j + 1]), ' ')}}),
            s -> s.ln >= {CDC_MIN_CHUNK_TOKENS}) AS cl
        FROM e),
       UNNEST(cl) AS u(s)),
fps AS (SELECT DISTINCT doc_id, md5(chunk) AS fp FROM ch),
ok AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {CDC_MAX_FP_BUCKET}),
fk AS (SELECT fps.* FROM fps SEMI JOIN ok USING (fp)),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= {CDC_MIN_SHARED_CHUNKS}
"""


QUERIES = [
    QuerySpec(
        "emb_jl_distortion",
        _q_jl_distortion,
        _sql_jl_distortion(),
        doc="Johnson-Lindenstrauss projection quality: per-query "
        "max/mean |exact cosine − projected cosine| in exact micro "
        "units, 64→16 dims via the seeded ±1 plane matrix.",
    ),
    QuerySpec(
        "sim_pq_adc_recall",
        _q_pq_adc_recall,
        _sql_pq_adc_recall(),
        doc="Product quantization + ADC: per-query recall@10 of "
        "compressed-domain L2 search vs the exact top-10 (8 subspaces, "
        "16-codeword seeded codebooks, fully oracled).",
    ),
    QuerySpec(
        "sim_pq_clustered_precision",
        _q_pq_clustered_precision,
        None,
        doc="PQ-ADC cluster precision on the planted-cluster fixture "
        "(rows-only like the other clustered twins): fraction of each "
        "query's compressed-domain top-10 in the query's planted cluster.",
    ),
    QuerySpec(
        "sim_pq_clustered_gate",
        _q_pq_clustered_gate,
        "SELECT true AS pq_preserves_planted_clusters",
        doc="Oracled gate: PQ-ADC keeps every clustered-fixture top-10 "
        "inside the query's planted cluster (cluster_precision 1.0 for "
        "all probes) — the sweep fails if compression ever stops "
        "preserving coarse structure.",
    ),
    QuerySpec("text_token_count", _q_token_count, _SQL_TOKEN_COUNT),
    QuerySpec("docs_lrs_capped", _q_lrs_capped, _sql_lrs_capped()),
    QuerySpec("docs_longest_repeated_substring", _q_lrs_uncapped, None),
    QuerySpec("text_quality_score", _q_quality, _SQL_QUALITY, headline=True),
    QuerySpec("docs_unigram_logprob", _q_unigram_logprob, _SQL_UNIGRAM_LOGPROB),
    QuerySpec("text_lang_id", _q_lang_id, _SQL_LANG_ID),
    QuerySpec("text_fingerprint", _q_fingerprint, _SQL_FINGERPRINT),
    QuerySpec("docs_corpus_checksum", _q_corpus_checksum, _SQL_CORPUS_CHECKSUM),
    QuerySpec("dedup_exact", _q_dedup_exact, _SQL_DEDUP_EXACT),
    QuerySpec("text_minhash_signature", _q_minhash_sig, _SQL_MINHASH_SIG),
    QuerySpec("dedup_minhash_lsh", _q_dedup_minhash, _SQL_DEDUP_MINHASH, headline=True),
    QuerySpec("dedup_minhash_estimate_gate", _q_minhash_est_gate, _SQL_MINHASH_EST_GATE),
    QuerySpec("dedup_minhash_recall", _q_minhash_recall, _SQL_MINHASH_RECALL),
    QuerySpec(
        "dedup_source_mirror_matrix",
        _q_source_mirrors,
        _SQL_SOURCE_MIRRORS,
        doc="Mirror detection: verified near-dup pairs aggregated to the "
        "unordered source x source matrix (pair count + mean verified "
        "Jaccard from exact micro-int sums) — the drop/down-weight/"
        "canonicalize signal for mirrored hosts; |sources|^2-bounded "
        "output on top of the banded LSH plan.",
    ),
    QuerySpec("text_simhash", _q_simhash, _SQL_SIMHASH),
    QuerySpec("dedup_simhash_pairs", _q_dedup_simhash, _SQL_DEDUP_SIMHASH),
    QuerySpec("dedup_ngram_jaccard", _q_ngram_jaccard, _SQL_NGRAM_JACCARD),
    QuerySpec(
        "dedup_containment_pairs",
        _q_containment_pairs,
        _SQL_CONTAINMENT_PAIRS,
        doc="Asymmetric containment near-dup join: inverted-index "
        "rare-shingle prefix filter (df-capped fan-out) + exact "
        "containment/Jaccard verify — catches subset duplication that "
        "the Jaccard threshold misses.",
    ),
    QuerySpec(
        "dedup_cdc_chunks",
        _q_cdc_chunks,
        _sql_cdc_chunks(),
        doc="Token-anchor content-defined chunking dedup (window-1 gear, "
        "portable hash60 anchors): doc pairs sharing >= 2 distinct chunk "
        "fingerprints; per-fp fan-out capped via a window over the join's "
        "own key — catches exact-span reuse that whole-doc Jaccard misses.",
    ),
    QuerySpec("dedup_repeated_spans", _q_repeated_spans, _SQL_REPEATED_SPANS),
    QuerySpec(
        "dedup_repeated_spans_merged",
        _q_repeated_spans_merged,
        _SQL_REPEATED_SPANS_MERGED,
    ),
    QuerySpec(
        "docs_remove_repeated_spans",
        _q_remove_repeated_spans,
        _SQL_REMOVE_REPEATED_SPANS,
    ),
    QuerySpec("sim_cosine_topk", _q_cosine_topk, _SQL_COSINE_TOPK, headline=True),
    QuerySpec("sim_cosine_topk_arrow", _q_cosine_topk_arrow, _SQL_COSINE_TOPK),
    QuerySpec("sim_cosine_topk_ivf", _q_cosine_topk_ivf, _SQL_COSINE_TOPK_IVF),
    QuerySpec("dedup_embedding_cosine", _q_emb_cosine_pairs, _SQL_EMB_COSINE_PAIRS),
    QuerySpec("dedup_embedding_lsh", _q_dedup_emb_lsh, _SQL_DEDUP_EMB_LSH, headline=True),
    QuerySpec("emb_knn_graph", _q_emb_knn_graph, _SQL_EMB_KNN_GRAPH),
    QuerySpec(
        "emb_knn_label_confusion",
        _q_emb_knn_label_confusion,
        _SQL_EMB_KNN_LABEL_CONFUSION,
        doc="Leave-one-out kNN label prediction over the banded kNN "
        "graph (majority of ≤k neighbors, ties to smallest label) and "
        "its confusion matrix — the label-quality gate before "
        "label-trusting curation; |labels|²-bounded output.",
    ),
    QuerySpec("emb_knn_recall", _q_emb_knn_recall, _SQL_EMB_KNN_RECALL),
    QuerySpec("emb_prefix_dim_recall", _q_emb_prefix_recall, _sql_emb_prefix_recall()),
    QuerySpec(
        "dedup_embedding_lsh_wide", _q_dedup_emb_lsh_wide, _SQL_DEDUP_EMB_LSH_WIDE
    ),
    QuerySpec("emb_label_norms", _q_emb_norms, _SQL_EMB_NORMS),
    QuerySpec("docs_emb_length_mass_corr", _q_doc_emb_corr, _SQL_DOC_EMB_CORR),
    QuerySpec("mm_binary_meta", _q_mm_binary_meta, _SQL_MM_BINARY_META),
    QuerySpec("mm_extract_features", _q_mm_features, None),
    QuerySpec(
        "mm_extract_features_checked", _q_mm_features_checked, _SQL_MM_FEATURES_CHECKED
    ),
    QuerySpec("dedup_cc_clusters", _q_dedup_clusters, _SQL_DEDUP_CLUSTERS),
    QuerySpec(
        "dedup_survivors_by_priority",
        _q_survivors_by_priority,
        _SQL_SURVIVORS_BY_PRIORITY,
    ),
    QuerySpec("text_chunking", _q_text_chunks, _SQL_TEXT_CHUNKS),
    QuerySpec("text_chunking_udtf", _q_text_chunks_udtf, _SQL_TEXT_CHUNKS),
    QuerySpec("docs_train_split", _q_train_split, _SQL_TRAIN_SPLIT),
    QuerySpec("text_pii_scrub", _q_pii_scrub, _SQL_PII_SCRUB),
    QuerySpec("text_word_repetition", _q_word_repetition, _SQL_WORD_REPETITION),
    QuerySpec("docs_corpus_curation", _q_corpus_curation, _SQL_CORPUS_CURATION, headline=True),
    QuerySpec("docs_training_funnel", _q_training_funnel, _sql_training_funnel()),
    QuerySpec("dedup_incremental", _q_dedup_incremental, _SQL_DEDUP_INCREMENTAL),
    QuerySpec("text_tfidf_top_terms", _q_tfidf_top_terms, _SQL_TFIDF),
    QuerySpec("docs_decontaminate", _q_decontaminate, _SQL_DECONTAMINATE),
    QuerySpec(
        "docs_contamination_report",
        _q_contamination_report,
        _SQL_CONTAMINATION_REPORT,
    ),
    QuerySpec("sim_rrf_hybrid", _q_rrf_hybrid, _rrf_sql()),
    QuerySpec("text_ngram_topk", _q_ngram_topk, _SQL_NGRAM_TOPK),
    QuerySpec("docs_sample_mixture", _q_sample_mixture, _SQL_SAMPLE_MIXTURE),
    QuerySpec("docs_pack_sequences", _q_pack_sequences, _SQL_PACK_SEQUENCES),
    QuerySpec("sim_ivf_recall", _q_ivf_recall, _SQL_IVF_RECALL),
    QuerySpec("dedup_lsh_recall", _q_lsh_recall, _SQL_LSH_RECALL),
    QuerySpec("sim_cosine_topk_ivf_kmeans", _q_cosine_topk_ivf_kmeans, None),
    QuerySpec("sim_ivf_kmeans_recall", _q_ivf_kmeans_recall, _SQL_IVF_KMEANS_RECALL),
    QuerySpec(
        "sim_ivf_kmeans_clustered_recalls", _q_ivf_kmeans_clustered_recalls, None
    ),
    QuerySpec(
        "sim_ivf_kmeans_clustered_ahead",
        _q_ivf_kmeans_clustered_ahead,
        _SQL_IVF_KMEANS_CLUSTERED_AHEAD,
    ),
    QuerySpec(
        "dedup_semantic_checked", _q_dedup_semantic_checked, _SQL_DEDUP_SEMANTIC_CHECKED
    ),
    QuerySpec("dedup_semantic", _q_dedup_semantic, None),
]


# ---------------------------------------------------------------------------
# docs_gopher_filter — Gopher-style rule filter (Rae et al. 2021 §A1.1
# forms, thresholds adapted to this corpus; functions/textstats.py). Emits
# per-rule booleans so downstream funnels can attribute drops per rule.
# ---------------------------------------------------------------------------

def _q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textstats import gopher_rules_expr

    d = _cleaned_docs(spark, sf_dir)
    rules = gopher_rules_expr(F.col("c"))
    return d.select("doc_id", *[v.alias(k) for k, v in rules.items()])


def _gopher_sql() -> str:
    from ..functions.textstats import gopher_rules_sql

    rules = gopher_rules_sql("c")
    cols = ", ".join(f"{v} AS {k}" for k, v in rules.items())
    return f"WITH d AS ({_CLEANED}) SELECT doc_id, {cols} FROM d"


# ---------------------------------------------------------------------------
# docs_domain_stats — per-source corpus accounting (docs, langs, chars,
# Gopher pass rate): the "what is in my 100 TB crawl" report, one shuffle
# on the low-cardinality source key with map-side partial aggregation.
# ---------------------------------------------------------------------------

def _q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textstats import gopher_rules_expr

    d = _docs(spark, sf_dir).select(
        "source",
        "lang",
        "n_chars",
        gopher_rules_expr(clean_text_expr(F.col("text")))["passes_gopher"].alias("ok"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_pass_gopher"),
        )
        .orderBy("source")
    )


def _domain_stats_sql() -> str:
    from ..functions.textstats import gopher_rules_sql

    ok = gopher_rules_sql("c")["passes_gopher"]
    return f"""
WITH d AS (SELECT source, lang, n_chars, {CLEAN_SQL} AS c FROM documents)
SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(sum(CASE WHEN {ok} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_gopher
FROM d GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# mm_frame_sample — stride-sampled frames from video/audio payloads via
# mapInPandas (stubbed decode; rows-only check like mm_extract_features,
# exact expansion asserted in tests/test_operators.py)
# ---------------------------------------------------------------------------

def _q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import frame_sample

    return frame_sample(documents_as_media(_docs(spark, sf_dir)), stride=10)


def _q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas resize over binary payloads (stubbed decode; rows-only
    check like the other mm_ ops — SURVEY.md §2.10 multimodal row)."""
    from ..operators.multimodal import resize_media

    return resize_media(documents_as_media(_docs(spark, sf_dir))).drop("payload")


QUERIES.extend(
    [
        QuerySpec("docs_gopher_filter", _q_gopher_filter, _gopher_sql()),
        QuerySpec("docs_domain_stats", _q_domain_stats, _domain_stats_sql()),
        QuerySpec("mm_frame_sample", _q_mm_frame_sample, None),
        QuerySpec("mm_resize", _q_mm_resize, None),
        QuerySpec(
            "mm_frame_sample_checked",
            _q_mm_frame_sample_checked,
            _SQL_MM_FRAME_SAMPLE_CHECKED,
        ),
        QuerySpec("mm_resize_checked", _q_mm_resize_checked, _SQL_MM_RESIZE_CHECKED),
    ]
)
