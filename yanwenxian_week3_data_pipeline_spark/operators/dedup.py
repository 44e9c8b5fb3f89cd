"""Deduplication family.

- ``dedup_keep_first``  — the reference's operator (cleaner.py:106-121):
  dedupe on NORMALIZED key columns, keep the first occurrence in ingest
  order. ``dropDuplicates`` is not order-stable, so this is a
  ``row_number()`` window over the normalized key ordered by the explicit
  ingest-order id.
- ``dedup_exact``       — exact dedup at scale: group by content hash, keep
  min-id representative (EXT, LLM-pipeline surface).
- ``minhash_signatures`` / ``dedup_minhash_lsh`` — MinHash+LSH near-dup:
  token k-shingles → n MinHash values (seeded md5 family, cross-engine
  deterministic, see functions/hashing.py) → band keys → candidate pairs via
  a self-equi-join on band key → exact Jaccard verify on shingle sets.
  Scale shape: the band join shuffles on (band_idx, band_hash) — the classic
  LSH bucket join; no O(n²) stage anywhere.
- ``simhash_signatures`` / ``dedup_simhash`` — 32-bit SimHash + banded
  Hamming candidate join.
- ``dedup_ngram_jaccard`` — n-gram Jaccard verify over LSH candidates (the
  verify stage exposed standalone).

All computation is native Column expressions (higher-order array functions),
with ONE deliberate exception: the minhash signature table is an Arrow/numpy
kernel (``_minhash_sig_table``) — dense per-row numeric work is the narrow
case where Arrow beats codegen'd expression aggregates (measured 2.1×/1.8×
at sf0.1/sf1). It is bit-identical to ``minhash_sig_row_expr``, the one
expression form of the signature: the candidate streams
(streaming/neardup.py) run it, and the DuckDB oracle's ``_minhash_sig_sql``
(plans/llm_ops.py) is its SQL twin. ``minhash_band_keys`` is the one band
key recipe for batch and stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..constants import (
    DEDUP_MAX_BUCKET,
    MINHASH_BANDS,
    MINHASH_NUM_HASHES,
    MINHASH_ROWS_PER_BAND,
    MINHASH_SHINGLE_K,
    SIMHASH_BITS,
)
from ..functions.hashing import hash60_expr, km_hash_expr, md5_split_exprs, md5_split_np
from ..functions.text import clean_text_expr
from ..functions.textstats import tokens_expr


# ---------------------------------------------------------------------------
# Reference operator: keep-first dedup on normalized (title, url)
# ---------------------------------------------------------------------------

def dedup_keep_first(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("title", "url"),
    order_col: str = "record_id",
) -> DataFrame:
    """Keep the first row (by ``order_col``) per normalized key. Pass-through
    if any key column is absent (cleaner.py:113-114)."""
    if any(c not in df.columns for c in key_cols):
        return df
    norm = [clean_text_expr(F.col(c)).alias(f"_norm_{c}") for c in key_cols]
    # xxhash64 prefix on the partition key: grouping is identical (the full
    # keys still follow), but shuffle-sort comparisons short-circuit on one
    # long instead of comparing multi-KB strings — material at 100 TB.
    norm_cols = [F.col(f"_norm_{c}") for c in key_cols]
    w = Window.partitionBy(F.xxhash64(*norm_cols), *norm_cols).orderBy(F.col(order_col).asc())
    out = (
        df.select("*", *norm)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", *[f"_norm_{c}" for c in key_cols])
    )
    return out


# ---------------------------------------------------------------------------
# EXT: exact dedup by content hash (group-by, no window needed)
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per exact (cleaned) text. Returns (id, n_copies)
    per surviving representative. One shuffle on the text hash."""
    clean = clean_text_expr(F.col(text_col)).alias("_clean")
    return (
        df.select(F.col(id_col), clean)
        .groupBy("_clean")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingles_expr(toks: Column, k: int = MINHASH_SHINGLE_K) -> Column:
    """Distinct token k-gram shingles (space-joined) over a token-array
    column that is a PLAIN REFERENCE (a real column or a lambda variable),
    never a nested expression — Catalyst does not eliminate common
    subexpressions inside higher-order-function lambdas, so an inlined
    tokenizer would be re-evaluated k times per shingle position (measured
    20s+ for 5k docs). Use ``shingles_from_text_expr`` to go straight from
    raw text."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - k)  # empty when n < k
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)])
    )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))


MINHASH_EMPTY_SENTINEL = 2**62


def shingles_from_text_expr(text: Column, k: int = MINHASH_SHINGLE_K) -> Column:
    """Shingles straight from raw text, with the token array LET-BOUND via
    ``transform(array(tokens), λ)[0]``: the lambda variable binds the
    tokenized array once per row, so the k ``element_at`` references inside
    the shingle builder cannot be re-inlined by CollapseProject / generator
    pushdown (an inlined tokenizer is re-evaluated per reference — measured
    24.7 s for a bare explode over 5k docs at sf0.1).

    This replaces an earlier persist() optimizer barrier: writing 260k
    shingle strings to the block cache cost 3.0 s against 0.4 s for the
    whole let-bound computation, so recomputing beats caching here."""
    return F.transform(
        F.array(tokens_expr(clean_text_expr(text))), lambda t: shingles_expr(t, k)
    )[0]


def doc_shingles(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, shingles) — cleaned, tokenized, k-gram shingled. Lazy and cheap
    to recompute (see ``shingles_from_text_expr``); consumers reference it
    freely instead of caching it at 5-7× its compute cost."""
    return df.select(
        F.col(id_col).alias("id"),
        shingles_from_text_expr(F.col(text_col)).alias("shingles"),
    )


def minhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, shingles, sig: array<long>[num_hashes]).

    sig_i = min over shingles of g_i = (h1 + i·h2) mod (2^61−1), with
    (h1, h2) split from one md5 per shingle (``minhash_sig_row_expr``);
    every position is ``MINHASH_EMPTY_SENTINEL`` for an empty shingle set.
    The signatures come from the Arrow kernel ``_minhash_sig_table`` and
    are left-joined back onto the shingle frame, so empty-shingle docs keep
    a row."""
    sh = doc_shingles(df, text_col, id_col)
    sigs = _minhash_sig_table(sh)
    sentinel = F.array(*[F.lit(MINHASH_EMPTY_SENTINEL).cast("long")] * MINHASH_NUM_HASHES)
    return sh.join(sigs, "id", "left").select(
        "id", "shingles", F.coalesce(F.col("sig"), sentinel).alias("sig")
    )


def minhash_sig_row_expr(shingles: Column, num: int = MINHASH_NUM_HASHES) -> Column:
    """array<long>[num] MinHash signature of one row's shingle array — the
    expression form of the recipe: one md5 per shingle, split into the
    Kirsch-Mitzenmacher pair (``md5_split_exprs``), sig_i = min over the
    shingles of ``km_hash_expr(h1, h2, i)``. The digest list is let-bound
    (``transform(array(ds), λ)[0]``), so the ``num`` folds share one md5
    per shingle. An empty shingle array gives nulls; callers drop it.

    Per-row and stateless, so a stream can run it with no shuffle; the
    batch path runs the Arrow kernel ``_minhash_sig_table``, which is
    tested bit-equal to this expression."""
    digests = F.transform(shingles, lambda s: F.md5(s))
    return F.transform(
        F.array(digests),
        lambda ds: F.array(
            *[
                F.array_min(F.transform(ds, lambda d: km_hash_expr(*md5_split_exprs(d), i)))
                for i in range(num)
            ]
        ),
    )[0]


def _minhash_sig_table(sh: DataFrame) -> DataFrame:
    """(id, sig) from a (id, shingles) frame — Arrow/numpy kernel (the
    batch signature path); empty-shingle docs dropped.

    Per doc it equals ``minhash_sig_row_expr(shingles)``: the same md5
    split (``md5_split_np`` is the numpy twin of ``md5_split_exprs``) and
    the same EXACT int64 arithmetic (products ≤ 31·2^56 < 2^61, sums
    < 2^62 — no float anywhere), so the tables are bit-identical —
    verified by the cross-impl unit test and continuously by the oracle
    sweep, whose DuckDB twin replays the expression recipe.

    Why Arrow here (the banding-matmul lesson from operators/similarity
    .py): the signature stage is a dense per-row numeric kernel — 32
    modular hashes × every shingle, then a 32-way min. As native
    expressions (the retired explode + groupBy shape) that is 32 codegen'd
    aggregates over an exploded shingle stream; as a numpy batch it is one
    (n_shingles × 32) outer product and a column-min per doc. Measured at sf0.1 (5k docs, 260k
    shingles): 3.44 s → 1.62 s for the signature table (2.1×), identical
    output. hashlib.md5 per shingle stays a C call; the Arrow transfer
    moves only (id, shingles) in and 32 longs per doc out. Hashing in
    Catalyst and shipping only (id, h1, h2) to Arrow for the min lost:
    dedup_minhash_lsh 3.80 → 4.97 s median, 1 of 10 wins (sf0.1, 4 cores,
    tools/ab.py; CHANGES.md)."""
    import numpy as np
    import pandas as pd

    from ..constants import MINHASH_PRIME

    p = MINHASH_PRIME
    iv = np.arange(MINHASH_NUM_HASHES, dtype=np.int64)
    md5_split = md5_split_np()

    def kernel(iterator):
        for pdf in iterator:
            ids, sigs = [], []
            for did, shingles in zip(pdf["id"], pdf["shingles"]):
                if shingles is None or len(shingles) == 0:
                    continue
                h1, h2 = md5_split([s.encode() for s in shingles])
                g = (h1[:, None] + (iv[None, :] * h2[:, None]) % p) % p
                ids.append(did)
                sigs.append([int(x) for x in g.min(axis=0)])
            yield pd.DataFrame({"id": ids, "sig": sigs})

    return sh.mapInPandas(kernel, "id long, sig array<long>")


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    bands: int = MINHASH_BANDS,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
    max_bucket_size: int = DEDUP_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) with exact-Jaccard verify
    over LSH band candidates.

    Plan shape: signatures → explode to (band_idx, band_key, id) → self-join
    on band key (shuffle hash join on the bucket key — the only shuffle that
    grows with data) → distinct candidate pairs → verify via shingle-set
    intersection/union sizes.

    Measured negative results (do not retry without new evidence): r7 —
    shingle caching/passthrough (wash), verify-side candidate prefilter
    (loss); r8 — Arrow mapInPandas intersection kernel for the verify
    stage (wash: verify is ~0.3 s of the 2.4 s total and array_intersect
    is already JVM-cheap over the ~14k surviving pairs at sf0.1) and a
    groupBy+collect_list+combination-explode candidate stage replacing
    the window guard + self-join (exact wash over 12 interleaved rounds:
    2.3885 vs 2.390 s — the window rides the join's own exchange, so
    there was no second shuffle to save); also r8 — a FUSED raw-text→sig
    Arrow kernel (clean/tokenize/shingle/md5/minhash in one Python pass,
    bit-equal sig table) won the isolated sig stage 1.63 → 1.38 s but
    washed end-to-end (2.266 vs 2.229 s over 10 interleaved rounds: the
    candidate+verify stages dominate and the native shingle eval it
    removes overlaps work the pipeline pays anyway). Stage breakdown at
    sf0.1: shingles 0.94, +signatures 1.39, +banding/candidates 2.35,
    +verify 2.65 s.

    r9 — FLOOR DECLARED after the last open variant was tried: lowering
    MINHASH_NUM_HASHES 32→16 (both 8×2 and 4×4 band shapes, two session
    rounds each at sf0.1) was a wall-time WASH (round 1: 3.46/3.29/3.23 s
    for 32-8×4/16-8×2/16-4×4; round 2 INVERTED the ordering: 3.17/3.26 s
    with the 16-4×4 session load-contaminated) and a measured RECALL LOSS
    against exact ground truth (dedup_minhash_recall: 0.9961 → 0.9883,
    1 → 3 of 256 true pairs missed at sf0.1). A quality regression for no
    reliable speed win; the ~2.3–2.6 s sf0.1 floor stands on evidence.
    Do not revisit the hash count without a new quality budget.
    """
    sh = doc_shingles(df, text_col, id_col)
    # The Arrow signature kernel feeds BOTH band-join sides; exchange reuse
    # does not dedupe Python stages the way it did the old expression
    # aggregate (the embedding-LSH r6 lesson), so the num_hashes-longs-per-
    # doc table is checkpointed once — tiny relative to the shingles. The
    # shingle arrays themselves are still NOT cached: the verify joins
    # recompute them let-bound (~0.4 s/side) — caching 260k shingle strings
    # cost 3.0 s.
    sigs = _minhash_sig_table(sh).localCheckpoint(eager=True)

    banded = minhash_band_keys(sigs, bands, rows_per_band)
    # mega-bucket guard (see dedup_simhash): skip band buckets whose size
    # would make the candidate join quadratic. Expressed as a window over
    # (band_idx, band_key) — the exact partitioning the self-join shuffles
    # on — so the guard rides the join's own exchange instead of a separate
    # count + semi-join pass over the band table (the embedding-LSH r6
    # restructure, applied here).
    from pyspark.sql.window import Window

    wb = Window.partitionBy("band_idx", "band_key")
    banded = (
        banded.withColumn("_c", F.count(F.lit(1)).over(wb))
        .where(F.col("_c") <= max_bucket_size)
        .drop("_c")
    )

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    verified = (
        cand.join(sh.withColumnsRenamed({"id": "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"}), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn(
            "n_union",
            (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")).cast("long"),
        )
        .withColumn("jaccard", F.round(F.col("n_inter") / F.col("n_union"), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, text_col: str, id_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash): bit j of the SimHash is 1 iff the count of distinct
    tokens with hash-bit j set exceeds half the distinct-token count. Kept
    at 32 bits so every intermediate fits signed-64 in both engines.

    Execution shape mirrors minhash_signatures: explode distinct tokens →
    hash once → groupBy(id) with ``bits`` conditional-count aggregates
    (codegen'd; HOF-lambda bit counting is interpreted and far slower), then
    assemble the bits. Docs with no tokens get simhash 0.

    No persist: the token chain is referenced exactly once (by the
    explode), so generator pushdown inlines the tokenizer into the Generate
    node but evaluates it once per row — unlike the shingle builder, which
    references its input k+1 times and needs the let-binding trick. The
    all-ids left side of the sentinel join comes from ``df`` directly, so
    column pruning drops the tokenizer there entirely."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens_expr(clean_text_expr(F.col(text_col)))).alias("toks"),
    )
    exploded = toks.select("id", F.explode("toks").alias("t")).select(
        "id", hash60_expr(F.col("t")).alias("h")
    )
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"_b{j}")
        for j in range(bits)
    ]
    counted = exploded.groupBy("id").agg(*aggs)
    total = F.lit(0).cast("long")
    for j in range(bits):
        total = total + F.when(
            F.col(f"_b{j}") * 2 > F.col("_n"), F.lit(2**j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    sigs = counted.select("id", total.alias("simhash"))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(sigs, "id", "left")
        .select("id", F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash"))
    )


def hamming_expr(a: Column, b: Column, bits: int = SIMHASH_BITS) -> Column:
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def dedup_simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int,
    bits: int = SIMHASH_BITS,
    chunks: int = 4,
    max_bucket_size: int = DEDUP_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Banded: split the signature into ``chunks`` equal bit-chunks; any pair
    within distance ``chunks - 1`` shares at least one exact chunk
    (pigeonhole), so candidates come from equi-joins on (chunk_idx, chunk
    value) — no cross join.
    """
    assert max_hamming < chunks, "pigeonhole guarantee requires max_hamming < chunks"
    # both sides of the chunk self-join read the identical signature
    # subtree — exchange reuse computes it once (see dedup_minhash_lsh)
    sig = simhash_signatures(df, text_col, id_col)
    width = bits // chunks
    mask = (1 << width) - 1
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask)).alias("chunk_val"),
            )
            for c in range(chunks)
        ]
    )
    chunked = sig.select("id", "simhash", F.explode(chunk_structs).alias("ch")).select(
        "id", "simhash", F.col("ch.chunk_idx").alias("chunk_idx"), F.col("ch.chunk_val").alias("chunk_val")
    )
    # mega-bucket guard: a bucket of b members yields ~b^2/2 candidates, so
    # one hot chunk value (near-identical boilerplate at corpus scale) turns
    # the self-join quadratic. Skip oversized buckets; their members still
    # meet through other chunks. Same partitioning key as the self-join, so
    # the count piggybacks on the join's exchange.
    ok_buckets = (
        chunked.groupBy("chunk_idx", "chunk_val")
        .count()
        .where(F.col("count") <= max_bucket_size)
        .drop("count")
    )
    chunked = chunked.join(ok_buckets, ["chunk_idx", "chunk_val"], "left_semi")
    a = chunked.alias("a")
    b = chunked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
        .withColumn("hamming", hamming_expr(F.col("sim_a"), F.col("sim_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

def minhash_band_keys(
    sigs: DataFrame,
    bands: int = MINHASH_BANDS,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
) -> DataFrame:
    """(id, band_idx, band_key) — explode a signature frame to its LSH band
    keys: md5 over each band's comma-joined signature slice, the recipe
    ``_band_key_sql`` replays. Every column but ``sig`` rides along, so the
    watermarked stream keeps its event time on each band row."""
    keep = [c for c in sigs.columns if c != "sig"]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)],
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(*keep, F.explode(band_structs).alias("band")).select(
        *keep, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key")
    )


def dedup_incremental(
    df: DataFrame,
    text_col: str,
    id_col: str,
    batch_pred,
    threshold: float,
    max_bucket_size: int = DEDUP_MAX_BUCKET,
) -> DataFrame:
    """Incremental near-dup: which NEW-batch docs already exist (as near
    duplicates) in the corpus? The daily-ingest shape of dedup at scale:
    signatures are computed ONCE over the union, then the (small) batch side
    band-joins against the (large) corpus side — never corpus × corpus.

    ``batch_pred`` is a function id-Column → boolean Column deciding batch
    membership (e.g. ``lambda i: i % 10 == 0``).

    Returns one row per batch doc: (doc_id, dup_of, jaccard, is_unique)
    where dup_of is the best-matching corpus doc (max jaccard, ties to the
    lowest id) or null when the doc is genuinely new. Batch docs with no
    shingles (too short) are unique by definition.

    At cluster scale the corpus band table is a persisted/bucketed dataset
    keyed by (band_idx, band_key); each new batch only shuffles ITS bands.
    """
    sh = doc_shingles(df, text_col, id_col)
    # checkpointed: the Python signature stage feeds batch AND corpus band
    # sides plus the bucket guard (see dedup_minhash_lsh)
    sigs = _minhash_sig_table(sh).localCheckpoint(eager=True)
    banded = minhash_band_keys(sigs)
    batch_bands = banded.where(batch_pred(F.col("id")))
    corpus_bands = banded.where(~batch_pred(F.col("id")))
    # mega-bucket guard on the corpus side (see dedup_simhash): a hot corpus
    # bucket multiplies every batch doc that lands in it
    ok_buckets = (
        corpus_bands.groupBy("band_idx", "band_key")
        .count()
        .where(F.col("count") <= max_bucket_size)
        .drop("count")
    )
    corpus_bands = corpus_bands.join(ok_buckets, ["band_idx", "band_key"], "left_semi")
    cand = (
        batch_bands.alias("n")
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(F.col("n.id").alias("batch_id"), F.col("c.id").alias("corpus_id"))
        .distinct()
    )
    verified = (
        cand.join(sh.withColumnsRenamed({"id": "batch_id", "shingles": "sh_n"}), "batch_id")
        .join(sh.withColumnsRenamed({"id": "corpus_id", "shingles": "sh_c"}), "corpus_id")
        .withColumn("n_inter", F.size(F.array_intersect("sh_n", "sh_c")).cast("long"))
        .withColumn("n_union", (F.size("sh_n") + F.size("sh_c") - F.col("n_inter")).cast("long"))
        .withColumn("jaccard", F.round(F.col("n_inter") / F.col("n_union"), 6))
        .where(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )
    w = Window.partitionBy("batch_id").orderBy(F.desc("jaccard"), F.asc("corpus_id"))
    best = (
        verified.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("batch_id", F.col("corpus_id").alias("dup_of"), "jaccard")
    )
    return (
        df.where(batch_pred(F.col(id_col)))
        .select(F.col(id_col).alias("doc_id"))
        .join(best.withColumnsRenamed({"batch_id": "doc_id"}), "doc_id", "left")
        .select(
            "doc_id",
            "dup_of",
            "jaccard",
            F.col("dup_of").isNull().alias("is_unique"),
        )
    )


# ---------------------------------------------------------------------------
# Containment join (asymmetric near-dup)
# ---------------------------------------------------------------------------

def dedup_containment(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    max_df: int,
    small_hint=lambda side: side,
) -> DataFrame:
    """Containment near-duplicate pairs: containment(A, B) =
    |shingles(A) ∩ shingles(B)| / min(|A|, |B|) — catches SUBSET
    duplication (a doc embedded inside a bigger one) that the symmetric
    Jaccard threshold misses (a contained small doc has low Jaccard but
    containment ≈ 1). Broder's resemblance-vs-containment distinction;
    Lee et al. dedup uses the same family for partial overlap.

    Candidate generation is the inverted-index prefix filter, not minhash
    bands (band collision probability tracks JACCARD, so a low-Jaccard
    contained pair would rarely band-collide): a pair is a candidate iff
    it shares at least one RARE shingle (2 <= df <= max_df). The df cap
    bounds the per-shingle join fan-out at max_df² (the DEDUP_MAX_BUCKET
    discipline) and drops stopword-grade shingles, which can never be
    containment evidence on their own.

    Verify is by COUNTING IDENTITIES, not by shipping shingle arrays
    (r10 decomposition: at sf0.1 the df ≤ max_df "rare" filter removes
    only 0.08 % of postings, candidate gen emits 1.13 M pairs for 256
    result rows, and candidate+verify — two joins carrying full shingle
    arrays — were 70 % of an 8.3 s wall; guide §2.3 "shuffle keys and
    metadata instead of payloads"). Shingles are DISTINCT per doc
    (``shingles_expr`` applies array_distinct), so postings are unique
    (id, s) rows and per-pair co-occurrence COUNTS are exact set-
    intersection sizes:

      n_rare(A,B)   = #shared shingles with 2 ≤ df ≤ max_df
                      — the candidate self-join's own groupBy count;
      n_common(A,B) = #shared shingles with df > max_df — counted by
                      joining only SURVIVING candidates to the tiny
                      df > max_df postings slice;
      df = 1 shingles belong to one doc and contribute 0;
      n_inter = n_rare + n_common, exactly array_intersect's size.

    A SOUND pre-filter runs between the two counts: n_inter can never
    exceed n_rare plus the corpus-wide count of common shingles (c_tot),
    so a pair with round((n_rare + c_tot)/min(|A|,|B|), 6) < threshold
    can never reach round(n_inter/min, 6) ≥ threshold (round is
    monotone) and is dropped before the n_common join — 1.13 M → ~10³
    pairs at sf0.1. Measured (r10 prototype, interleaved ×6, results
    bit-identical): 8.442 → 6.166 s at sf0.1 (−27 %, fully separated
    samples); SLOWER at sf0.01 (1.86 vs 1.36 s — fixed join overhead
    dominates tiny candidate sets), and the win grows with Σdf², i.e.
    superlinearly with corpus size. Output (id_a < id_b, containment,
    jaccard) — identical to the array-intersect formulation.

    ``small_hint`` wraps the per-doc size table and the common-shingle
    slice (both far smaller than the corpus, but SF-scaling). The default
    adds no hint, so Spark's own size gate decides: the planner
    broadcasts a side only under ``spark.sql.autoBroadcastJoinThreshold``
    and otherwise plans a shuffled join (AQE may still convert one at
    runtime from measured sizes). Callers with their own gate pass it
    (plans layer: ``_gated_dim``). The 1-row c_tot scalar stays
    unconditionally broadcast.

    r11 negative result — PPJoin-style positional prefix filtering of
    the candidate self-join was instrumented and REJECTED (do not retry
    without a new corpus shape): at sf0.1 the smaller-side prefix
    (global df-ascending order, o_B = max(1, ceil((t−ε)·n_B − c_tot)))
    cuts emitted pair rows only 1.27 M → 491 k and DISTINCT candidates
    1.13 M → 466 k (2.4×, not the 10× target — the pair mass is df=2-3
    shingles spread across every doc, which prefixes cannot exclude),
    while forfeiting the exact n_rare the full self-join's groupBy
    produces for free, forcing a recount join for ~466 k pairs that
    costs more than the emission it saves. Numbers + lemma:
    OPTIMIZATION_r11.md.
    """
    sh = doc_shingles(df, text_col, id_col)
    posts = sh.select("id", F.explode("shingles").alias("s"))
    # The df-count table feeds SIX plan branches (rare ×2 self-join sides,
    # common ×2 posts_c sides, plus the rare/common splits): per-branch
    # column pruning de-unifies the subtrees so exchange reuse does not
    # kick in (the docs_lrs r7 lesson) and each branch would re-scan +
    # re-shingle the corpus and redo the groupBy(s) exchange. dfc is
    # vocabulary-sized (distinct shingles, 2 narrow columns), so ONE eager
    # materialization replaces those passes — measured interleaved ×6,
    # bit-identical: sf0.1 6.120 → 4.336 s (−29 %, 6/6 rounds), sf1
    # 15.456 → 13.123 s (−15 %, 5/6).
    dfc = (
        posts.groupBy("s").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    )
    rare = dfc.where((F.col("n") >= 2) & (F.col("n") <= max_df)).select("s")
    common = dfc.where(F.col("n") > max_df).select("s")
    posts_r = posts.join(rare, "s", "left_semi")
    a, b = posts_r.alias("a"), posts_r.alias("b")
    n_rare = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_rare"))
    )
    sizes = sh.select("id", F.size("shingles").alias("n"))
    c_tot = common.agg(F.count(F.lit(1)).alias("c_tot"))
    min_n = F.least("na", "nb").cast("long")
    cand = (
        n_rare.join(small_hint(sizes.withColumnsRenamed({"id": "id_a", "n": "na"})), "id_a")
        .join(small_hint(sizes.withColumnsRenamed({"id": "id_b", "n": "nb"})), "id_b")
        .crossJoin(F.broadcast(c_tot))
        .where(F.round((F.col("n_rare") + F.col("c_tot")) / min_n, 6) >= threshold)
    )
    posts_c = posts.join(small_hint(common), "s", "left_semi")
    n_common = (
        cand.select("id_a", "id_b")
        .join(posts_c.withColumnsRenamed({"id": "id_a"}), "id_a")
        .join(posts_c.withColumnsRenamed({"id": "id_b"}), ["s", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        cand.join(n_common, ["id_a", "id_b"], "left")
        .withColumn(
            "n_inter",
            (F.col("n_rare") + F.coalesce("n_common", F.lit(0))).cast("long"),
        )
        .withColumn("containment", F.round(F.col("n_inter") / min_n, 6))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("long"),
                6,
            ),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment", "jaccard")
    )


# ---------------------------------------------------------------------------
# Token-anchor content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------

def cdc_chunks_expr(toks: Column, gear_mod: int, min_tokens: int) -> Column:
    """array<string> of token-anchor CDC chunks over a token array that is
    a PLAIN REFERENCE (the shingles_expr let-binding rule — an inlined
    tokenizer would be re-evaluated per boundary probe).

    A boundary falls AFTER every token whose portable ``hash60`` is
    ≡ 0 (mod gear_mod) — the window-1 gear variant of content-defined
    chunking (Muthitacharoen et al., LBFS, SOSP'01): boundary decisions
    depend only on local content, so an insertion shifts at most one chunk
    and the stream re-synchronizes immediately, unlike fixed-width
    shingling where one edit shifts every downstream shingle. Chunks
    shorter than ``min_tokens`` (including the zero-length artifact when
    the final token is itself an anchor) are dropped."""
    from ..functions.hashing import hash60_expr

    n = F.size(toks)
    bnd = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.pmod(hash60_expr(F.element_at(toks, i)), F.lit(gear_mod)) == 0,
    )
    edges = F.concat(F.array(F.lit(0)), bnd, F.array(n))
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(edges) - 1),
        lambda j: F.struct(
            (F.element_at(edges, j + 1) - F.element_at(edges, j)).alias("ln"),
            F.concat_ws(
                " ",
                F.slice(
                    toks,
                    F.element_at(edges, j) + 1,
                    F.element_at(edges, j + 1) - F.element_at(edges, j),
                ),
            ).alias("ch"),
        ),
    )
    kept = F.filter(chunks, lambda s: s["ln"] >= min_tokens)
    # gate BEFORE building: F.sequence(1, 0) on an empty token array would
    # yield a DESCENDING range (the _doc_bigram_buckets pitfall)
    return F.when(n >= min_tokens, F.transform(kept, lambda s: s["ch"])).otherwise(
        F.array().cast("array<string>")
    )


def cdc_chunk_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    gear_mod: int,
    min_tokens: int,
    max_bucket: int,
    min_shared: int,
) -> DataFrame:
    """(id_a < id_b, n_shared): document pairs sharing >= min_shared
    distinct CDC chunk fingerprints — the storage-layer near-dup primitive
    (rsync/LBFS lineage) next to the similarity-layer MinHash family:
    CDC finds docs sharing exact long spans even when overall Jaccard is
    low (a quote, a license block, a lifted paragraph).

    Scale shape: chunking is per-row Column work on the doc's own
    partition; the only corpus-sized shuffle is the distinct (id, fp)
    dedup + the fp equi-join. Boilerplate chunks shared by ~every doc
    would make that join quadratic, so per-fp fan-out is capped at
    ``max_bucket`` docs via a window over the join's own key (the
    dedup_minhash_lsh mega-bucket guard); output is bounded by the
    surviving fp buckets' pair fan-out, never all-pairs."""
    toks = F.transform(
        F.array(tokens_expr(clean_text_expr(F.col(text_col)))),
        lambda t: cdc_chunks_expr(t, gear_mod, min_tokens),
    )[0]
    fps = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("chunk"))
        .select("id", F.md5(F.col("chunk")).alias("fp"))
        .distinct()
    )
    wb = Window.partitionBy("fp")
    fps = (
        fps.withColumn("_c", F.count(F.lit(1)).over(wb))
        .where(F.col("_c") <= max_bucket)
        .drop("_c")
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
