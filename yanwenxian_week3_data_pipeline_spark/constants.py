"""Frozen constants shared by the Spark expression builders and the DuckDB
oracle-SQL generators.

Anything that affects query *values* (entity decode table, whitespace class,
validation limits, message templates, hash recipe) lives here exactly once so
the Spark side and the SQL side can never drift.

Reference parity notes (paths relative to
/root/reference/week3assigment/week3-assignment/):
- validation limits: validator.py:14-17
- reason codes + labels: validator.py:99-141
- whitespace collapse + HTML entity decode: cleaner.py:20,23-48
- "none"/"null"/"nan" treated as missing dates: cleaner.py:64
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Text cleaning
# ---------------------------------------------------------------------------

# HTML entity subset observed in article-style data. Decoded by a chained
# replace in BOTH engines; `&amp;` must be LAST so that `&amp;lt;` decodes to
# `&lt;` (single pass), matching Python ``html.unescape`` on already-escaped
# entities. (Full html.unescape covers ~2k named entities; the UDF variant in
# functions/text.py handles those outside the oracle path.)
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&#x27;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

# Whitespace characters collapsed to a single space. Python's ``\s`` (used by
# the reference, cleaner.py:20) is Unicode-aware and in particular matches
# U+00A0 (the decode of &nbsp;). Java regex and RE2 ``\s`` are ASCII-only, so
# we spell the class out explicitly — identical in Spark and DuckDB.
WHITESPACE_CHARS: str = " \t\n\r\f\x0b\xa0"
# Character-class body, escaped for embedding in a regex in both engines.
WHITESPACE_CLASS: str = "[ \\t\\n\\r\\f\\x0B\\xA0]"

# ---------------------------------------------------------------------------
# Validation limits (validator.py:14-16)
# ---------------------------------------------------------------------------

MIN_CONTENT_LENGTH = 120
MAX_TITLE_LENGTH = 500
MAX_CONTENT_LENGTH = 1_000_000

# Reason codes in rule order (first failing rule wins the `reason` slot,
# validator.py:95) and their human-readable labels (validator.py:131-141).
REASON_LABELS: dict[str, str] = {
    "missing_title": "Title is missing or empty.",
    "title_too_long": f"Title exceeds maximum length ({MAX_TITLE_LENGTH} characters).",
    "missing_content": "Content is missing or empty.",
    "short_content": f"Content is too short (minimum {MIN_CONTENT_LENGTH} characters).",
    "content_too_long": f"Content exceeds maximum length ({MAX_CONTENT_LENGTH} characters).",
    "missing_url": "URL is missing or empty.",
    "invalid_url": "URL must start with http:// or https:// and have valid format.",
    "missing_published": "Published date is missing or empty.",
    "validation_failed": "Validation failed.",
}

# Date strings treated as missing by the permissive parser (cleaner.py:64).
MISSING_DATE_LITERALS: tuple[str, ...] = ("none", "null", "nan")

# ---------------------------------------------------------------------------
# Cross-engine deterministic hashing
# ---------------------------------------------------------------------------

# 60-bit unsigned hash = first 15 hex chars of md5, parsed base-16.
#   Spark : conv(substr(md5(s), 1, 15), 16, 10) :: bigint
#   DuckDB: ('0x' || substr(md5(s), 1, 15)) :: BIGINT
# Verified identical on both engines (probe 2026-08-13).
HASH64_HEX_CHARS = 15

# MinHash configuration (dedup family): 32 hashes in 8 bands of 4 rows.
# r9 A/B of 32/8x4 vs 16-hash variants: see operators/dedup.py docstring.
MINHASH_NUM_HASHES = 32
MINHASH_BANDS = 8

# LSH buckets larger than this are skipped by the band self-joins: a bucket
# of b members contributes b^2/2 candidate pairs, so one boilerplate/empty-
# text mega-bucket turns the join quadratic at corpus scale. Members of a
# skipped bucket still pair through their other bands. Mirrored verbatim in
# the DuckDB oracle SQL; never binds at test scale (sf0.01 max bucket ~= 3).
DEDUP_MAX_BUCKET = 1000
MINHASH_ROWS_PER_BAND = MINHASH_NUM_HASHES // MINHASH_BANDS
MINHASH_SHINGLE_K = 3      # token 3-gram shingles
MINHASH_JACCARD_THRESHOLD = 0.5

# Modulus of the Kirsch-Mitzenmacher MinHash family g_i = (h1 + i·h2) mod p
# (functions/hashing.py::km_hash_expr): two md5-derived base hashes replace
# num_hashes seeded md5s, with every intermediate in signed-64 range.
MINHASH_PRIME = (1 << 61) - 1

# SimHash configuration: 32 bits keeps every intermediate in signed-64 range
# in both engines.
SIMHASH_BITS = 32
SIMHASH_HAMMING_THRESHOLD = 3

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

# Tiny frozen stopword lists for the heuristic language-ID operator. The
# operator is deterministic: score(lang) = number of tokens that are in the
# lang's stopword list; argmax with ties broken by ascending lang code.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"),
    "en": ("the", "a", "and", "is", "not", "of", "to", "in", "on", "for"),
    "es": ("el", "la", "los", "las", "y", "es", "no", "un", "una", "con"),
    "fr": ("le", "la", "les", "et", "est", "pas", "un", "une", "avec", "pour"),
}

# Regex for BPE-ish token pieces: runs of letters, runs of digits, or a single
# other non-space symbol. ASCII-only classes → identical in Java regex & RE2.
BPE_PIECE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]"

# English stopwords reused for the quality-score stopword ratio.
QUALITY_STOPWORDS: tuple[str, ...] = LANG_STOPWORDS["en"]


# ---------------------------------------------------------------------------
# Embedding near-dup (random-hyperplane LSH / signed random projection)
# ---------------------------------------------------------------------------

# Driver testdata embedding dimensionality (embeddings.parquet, array<float>).
EMB_DIM = 64
# 32 hyperplanes = 4 bands x 8 bits — the FIXED tier used by the streaming
# twin (streaming/neardup.py), which cannot count its corpus up front; the
# batch dedup_embedding_lsh default is count-adaptive (EMB_LSH_BITS_MAX
# below). At the 0.99 cosine near-dup threshold (theta ~ 8.1 deg, per-bit
# collision p ~ 0.955) 8-bit bands give ~0.99 recall while a random pair
# collides on a band with p = 2^-8 -> ~1.6% of pairs become candidates.
# The +/-1 plane matrix is generated from a seeded PRNG and embedded as
# literals in BOTH engines' expressions, so bucketing is bit-identical.
EMB_LSH_PLANES = 32
EMB_LSH_BANDS = 4
EMB_LSH_BITS_PER_BAND = EMB_LSH_PLANES // EMB_LSH_BANDS
EMB_LSH_SEED = 42
# Degenerate-bucket guard for the band join (the DEDUP_MAX_BUCKET idea,
# made RELATIVE): a band bucket is excluded from pair generation when its
# size exceeds max(ABS floor, FACTOR x the uniform expectation N/2^bits).
# Uniform growth never trips it (buckets and cap both scale with N); only
# mass-collision degeneracy (e.g. millions of identical/zero vectors — the
# exact-dedup regime, not LSH's job) does, which is what would otherwise
# make the candidate join quadratic at 100 TB.
EMB_LSH_MAX_BUCKET_ABS = 1000
EMB_LSH_DEGEN_FACTOR = 20
# Count-adaptive band width (the default dedup_embedding_lsh tier): band
# values are always computed at the FINEST width (EMB_LSH_BITS_MAX bits
# per band = EMB_LSH_BANDS x EMB_LSH_BITS_MAX hyperplanes) and coarsened
# by a count-driven modulus, band_val % bmod — taking the LOW `bits`
# planes of each band. Fixed-width bands make LSH candidates grow as
# N^2 * 2^-bits, so `bits` must be sized to the corpus; deriving it from
# COUNT(*) inside the plan keeps the choice identical in Spark and the
# DuckDB oracle (both evaluate the same CASE on the same count) with no
# driver round-trip. Policy: bmod ~ N/4 rounded down to a power of 4,
# clamped to [2^8, 2^16] — the average bucket stays ~4 rows, so random
# band collisions (~N^2/(2*bmod) per band) grow LINEARLY with N instead
# of quadratically, while 0.99-cosine recall stays high (p_bit ~ 0.955;
# 4 bands: 8 bits -> 0.99, 10 -> 0.98, 12 -> 0.97, 14 -> 0.95,
# 16 -> 0.93; exact duplicates collide at every width, recall 1).
# Extending past 2^16 at larger N is one more (threshold, modulus) row
# + more planes.
EMB_LSH_BITS_MAX = 16
EMB_LSH_ADAPTIVE_STEPS = (  # (N below, bmod)
    (2048, 1 << 8),
    (8192, 1 << 10),
    (32768, 1 << 12),
    (131072, 1 << 14),
)
EMB_LSH_BMOD_MAX = 1 << EMB_LSH_BITS_MAX


def emb_lsh_bmod_case_sql(n_col: str) -> str:
    """The shared Spark-SQL / DuckDB CASE mapping corpus count -> band
    modulus. ONE string evaluated by both engines = the adaptive choice
    cannot diverge."""
    whens = " ".join(
        f"WHEN {n_col} < {thr} THEN {bmod}" for thr, bmod in EMB_LSH_ADAPTIVE_STEPS
    )
    return f"CAST(CASE {whens} ELSE {EMB_LSH_BMOD_MAX} END AS BIGINT)"
# near-dup verify threshold for the LSH query (true dups sit at ~1.0)
EMB_COSINE_NEAR_DUP = 0.99
# exact all-pairs query threshold: the synthetic embeddings are near-random
# (max pairwise cosine ~0.51 at sf0.01), so the demo threshold is low enough
# to produce a nonempty, bounded result
EMB_COSINE_PAIRS_THRESHOLD = 0.4
# vec_id offset for the LSH demo query's exact-copy union
EMB_COPY_OFFSET = 1_000_000


# ---------------------------------------------------------------------------
# Benchmark decontamination + corpus n-gram statistics
# ---------------------------------------------------------------------------

# Word-n-gram size for train-vs-benchmark overlap detection. Published
# decontamination recipes use 8-13-gram spans on web-scale text; the synthetic
# docs run 10-80 words, so 5 keeps every doc shingle-able while still being
# long enough that cross-doc collisions imply shared provenance.
DECON_NGRAM = 5
# seed namespacing the decontamination gram hashes away from MinHash hashes
DECON_HASH_SEED = 77
# hash-split buckets (of 1000) — same recipe as docs_train_split: <800 train,
# >=900 held-out benchmark ("test")
DECON_TRAIN_MAX_BUCKET = 800
DECON_BENCH_MIN_BUCKET = 900

# corpus-level n-gram frequency: bigrams, top-50 by occurrence count
NGRAM_TOPK_N = 2
NGRAM_TOPK_K = 50

# substring-level dedup: fixed-length token spans tested for cross-document
# repetition (the scalable span-grain stand-in for suffix-array substring
# dedup), and the per-doc report size
REPEATED_SPAN_N = 8
REPEATED_SPAN_TOPK = 20

# mixture sampling: doc_id-hash buckets and the seed namespacing them
MIX_BUCKETS = 10_000
MIX_HASH_SEED = 11
# weighted sampling without replacement (Efraimidis–Spirakis A-ES): sample
# size and the seed namespacing its per-doc uniforms away from the other
# md5 families
WSAMPLE_K = 100
WSAMPLE_SEED = 104729
# stratified variant: independent per-source sample size
WSAMPLE_PER_SOURCE_K = 5

# DSIR (Data Selection via Importance Resampling, Xie et al. 2023,
# arXiv:2302.03169): hashed unigram+bigram features, Laplace-smoothed
# target/raw bucket distributions, Gumbel top-k resampling. The bucket
# count bounds the broadcast log-ratio table; log-ratios and Gumbel noise
# are scaled to exact MICRO-NAT integers so the per-doc weight sum is
# order-independent (a double sum over a doc's buckets would be
# association-order dependent under parallel reduction).
DSIR_BUCKETS = 512
DSIR_SEED = 271828
DSIR_K = 50
DSIR_TARGET_LANG = "en"
# sequence packing: per-bin token budget
PACK_TOKEN_BUDGET = 256


# ---------------------------------------------------------------------------
# Curation extensions (round 2): winnowing, corpus histograms, Bloom filter
# ---------------------------------------------------------------------------

# Winnowing (Schleimer et al. 2003, MOSS): token k-grams hashed, then the
# minimum hash of every w-window of consecutive gram hashes is selected as a
# fingerprint. Guarantees any shared run of >= k + w - 1 tokens yields at
# least one shared fingerprint, at ~1/w the storage of full gram sets.
WINNOW_GRAM_K = 4
WINNOW_WINDOW = 5
# seed namespacing winnowing hashes away from MinHash/decontamination hashes
WINNOW_HASH_SEED = 91
# report only pairs sharing at least this many winnowed fingerprints
WINNOW_MIN_SHARED = 2

# corpus length-distribution histogram: fixed-width char buckets (portable
# arithmetic bucketing; the top bucket is open-ended)
HIST_BUCKET_WIDTH = 50
HIST_NUM_BUCKETS = 12

# broadcast Bloom filter for decontamination pre-filtering: m bits as
# m/64-long bitset words, k probe positions sliced directly from the 60-bit
# gram hash (3 disjoint 16-bit slices -> m = 2^16)
BLOOM_BITS = 65536
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_PROBES = 3

# BPE vocabulary learning (Sennrich et al. 2016, the word-frequency
# formulation SentencePiece / HF trainers use): the corpus collapses to a
# deterministic top-V word-count table (count DESC, word ASC), so every
# merge round is V-bounded regardless of corpus size. Word-length cap
# bounds the per-word window partitions.
BPE_MERGES = 10
BPE_VOCAB_TOP = 2000
BPE_MAX_WORD_LEN = 24

# CCNet-style bigram-LM perplexity bucketing (Wenzek et al. 2020,
# arXiv:1911.00359): hashed-bucket conditional bigram model trained on the
# target-language slice, per-doc mean negative log-prob in exact MICRO-NAT
# integers, corpus split into head/middle/tail at exact rank tertiles.
LM_BUCKETS = 256
LM_TRAIN_LANG = "en"

# Naive Bayes language-ID / quality-classifier analog: hashed-unigram
# multinomial NB trained on a deterministic half split, evaluated on the
# held-out half. All model math is exact-integer micro-nats (DSIR recipe).
NB_BUCKETS = 512
NB_SPLIT_SEED = 7919

# Count-Min Sketch of token frequencies: depth x width integer counter
# grid via independently-seeded hashes; estimates are min-over-rows.
# Exact-integer construction, so the sketch and its one-sided error
# guarantee (est >= exact, always) replay identically in the oracle.
CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_SEED = 6151
CMS_TOPK = 20

# k-core: bounded-round peel of the part co-purchase graph. Degrees in
# the co-purchase graph are scale-invariant (lines-per-order and
# parts-per-order are SF-independent), so a fixed k selects a comparable
# core at every SF; KCORE_ROUNDS bounds the peel (the output carries a
# converged flag computed from the last two rounds).
KCORE_K = 80
KCORE_ROUNDS = 8

# Synchronous label propagation (community detection) on the same
# co-purchase graph: a fixed round budget bounds the iteration (the
# kcore/pagerank discipline; LPA label counts move fastest in the first
# few rounds), top LPA_TOPK communities reported by (size, label).
LPA_ROUNDS = 4
LPA_TOPK = 20

# Link prediction on the same graph: wedges enumerated only at apexes of
# degree <= LINKPRED_HUB_CAP (the triangle-census cap discipline — the
# pair stage stays <= m·cap rows on any degree distribution; the oracle
# replays the identical cap so the capped score is exact, not an
# unquantified approximation). 80 sits inside the co-purchase degree
# distribution at EVERY fixture scale (sf0.001 min/median/max degree
# 49/89/138; sf0.1 38/119/222), so the cap binds without emptying the
# candidate set — probed at all three scales before freezing.
LINKPRED_HUB_CAP = 80
LINKPRED_TOPK = 20

# Product quantization (Jegou et al. 2011): M subspaces, K codewords per
# subspace (seeded id-order heuristic codebook, the IVF recipe), ADC
# recall probed on the next NQ ids against the exact L2^2 top-k.
PQ_SUB = 8
PQ_CODEWORDS = 16
PQ_QUERIES = 5
PQ_TOPK = 10

# Containment near-dup join (Broder resemblance/containment): candidate
# pairs share at least one RARE shingle (2 <= document frequency <=
# CONTAIN_MAX_DF — the inverted-index prefix-filter discipline; a pair
# sharing only stopword-grade shingles is not a containment duplicate),
# verified by exact containment = |A∩B| / min(|A|,|B|).
CONTAIN_MAX_DF = 64
CONTAIN_THRESHOLD = 0.5

# Within-doc repetition (the Gopher repetition-signal family, Rae et al.
# 2021 §A1.1: "fraction of duplicate n-grams" as a quality filter): a doc
# is repetitive when more than REP_DUP_FRAC_MAX of its REP_NGRAM-gram
# positions are duplicates of an earlier position.
REP_NGRAM = 5
REP_DUP_FRAC_MAX = 0.2

# Zipf slope fit: OLS of ln(freq) on ln(rank) over the ZIPF_TOP_K most
# frequent tokens. Log values are quantized to exact MILLI integers
# (round(ln(x)·1e3) — the DSIR logw_micro discipline at 1e3 so every OLS
# moment stays below 2^53 and int64→double casts are EXACT, not merely
# correctly rounded, at any corpus size).
ZIPF_TOP_K = 256
ZIPF_LN_SCALE = 1000

# ---------------------------------------------------------------------------
# BM25 retrieval + corpus entropy + matryoshka prefix recall (round 7)
# ---------------------------------------------------------------------------
# Fixed lexical query for the BM25 gate — tokens present at every fixture
# scale. k1 = 1.2 and b = 0.75 are carried as the exact rationals 12/10 and
# 3/4, so the tf normalization is ONE double division of two exact int64
# values (see plans/lm_ext.py derivation) — no float accumulates anywhere.
BM25_QUERY_TERMS: tuple[str, ...] = ("column", "window", "scan")
BM25_TOPK = 15
# Matryoshka-style prefix-dimension ANN check: recall of exact top-k under
# the first EMB_PREFIX_DIM coordinates vs the full-dimension ground truth,
# over the same K-bounded query sample as emb_knn_recall.
EMB_PREFIX_DIM = 16
EMB_PREFIX_K = 5

# ---------------------------------------------------------------------------
# round-8 wave: PMI collocations, token-anchor CDC dedup, embedding outliers
# ---------------------------------------------------------------------------
# PMI collocation mining: bigrams with fewer than PMI_MIN_COUNT occurrences
# are dropped before scoring (the standard sparse-count guard — PMI of a
# count-1 pair is pure noise and unbounded), top PMI_TOPK reported. Ln
# values ride the ZIPF_LN_SCALE milli-quantization so the score is an
# exact int64 sum of four terms; ranking ties break on (w1, w2).
PMI_MIN_COUNT = 5
PMI_TOPK = 20
# Token-anchor content-defined chunking (window-1 gear CDC): a chunk
# boundary falls AFTER any token whose portable hash60 is ≡ 0 mod
# CDC_GEAR_MOD (expected chunk ≈ CDC_GEAR_MOD tokens) — boundaries depend
# only on local content, so edits re-sync immediately (the CDC property
# fixed-width shingles lack). Chunks shorter than CDC_MIN_CHUNK_TOKENS are
# noise and skipped; per-fingerprint fan-out is capped at
# CDC_MAX_FP_BUCKET docs (the LSH mega-bucket guard — boilerplate chunks
# shared by ~every doc would otherwise make the pair join quadratic); doc
# pairs must share at least CDC_MIN_SHARED_CHUNKS chunks to be reported.
CDC_GEAR_MOD = 16
CDC_MIN_CHUNK_TOKENS = 3
CDC_MAX_FP_BUCKET = 64
CDC_MIN_SHARED_CHUNKS = 2
# Embedding outlier gate: coordinates ride the SHARED kmeans_exact micro
# quantization (floor(x·1e6 + 0.5) + 1e7 — positive ints, so Spark `div`
# and DuckDB `//` agree on the centroid floor-division, and the offset
# cancels exactly in q − m); top EMB_OUTLIER_TOPK furthest vectors per
# label by exact integer distance².
EMB_OUTLIER_TOPK = 5
