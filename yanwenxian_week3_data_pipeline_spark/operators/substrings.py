"""Arbitrary-length repeated-substring discovery — the suffix-grain
upgrade of the fixed-8-token span dedup (Lee et al., "Deduplicating
Training Data Makes Language Models Better" works at this grain; the
span queries in plans/llm_ops.py are its bounded-window stand-in).

Two formulations, both token-grain over cleaned text:

``lrs_capped_sorted`` — longest repeated substring CAPPED at ``cap``
tokens, via capped-suffix sort + adjacent-LCP. Classic suffix-array
property, kept exact under the cap: the longest repeated prefix of any
two suffixes is attained either by two EQUAL capped suffixes (count ≥ 2)
or by an ADJACENT pair of distinct capped suffixes in sorted order.

Spark-first shape (reworked r7 — the r4–r6 form range-partitioned the
distinct-suffix table, which re-ran the explode+groupBy pipeline for the
RangePartitioner's sample job, sorted three times (sortWithinPartitions
plus two window passes), pinned the range assignment with an eager
checkpoint, and collected boundary rows driver-side; measured 2.9–4.1 s
at sf0.1 with heavy session-to-session variance from the sampling):
sorted adjacency is recovered from TWO hash-partitioned windows, with no
global sort, no checkpoint, and no driver collect. Fixed-length string
prefixes are monotone under lexicographic order, so rows sharing a
PREFIX_CHARS prefix form a CONTIGUOUS block of the global sorted order —
a ``lag`` window hash-partitioned by that prefix yields exactly the
within-block globally-adjacent pairs. The pairs that straddle two
consecutive blocks are (max of block i, min of block i+1): a map-side
combinable min/max per block plus a second ``lag`` window over the
#blocks-row frame, partitioned by the block key's FIRST character
(1-char prefixes are monotone too, so same-first-char blocks are
contiguous among blocks; pairs straddling different first characters
share no first token and have token-LCP 0, which the ``lcp > 0`` filter
drops regardless). Union the block-internal pairs, the block-boundary
pairs, and the equal-suffix duplicates (count ≥ 2) and every
globally-adjacent candidate is accounted for — the answer is EXACTLY the
one the global sort produces, unconditionally, on any input. Every
candidate pair's LCP is a sound witness (two positions sharing an
ℓ-prefix IS a repeated ℓ-substring), and sorted adjacency guarantees the
max is witnessed. Cost: O(cap · N) span rows through one map-side
combining aggregate, one window over distinct suffixes partitioned by
the 8-char prefix (fine-grained, skew-bounded by how many DISTINCT
suffixes share 8 leading chars), and one window over the much smaller
block frame; the groupBy exchange is reused by all three consumers.
This is the SQL-expressible form (DuckDB oracle mirrors the same
candidate set with a plain global window sort); the uncapped probe
formulation below remains the 100 TB scale path.

Exactness precondition (adjacency-witnesses-the-max): suffixes are
compared as SPACE-joined strings, and string-lex order agrees with
token-grain suffix order only while every token character sorts above
the U+0020 separator. A token containing a C0 control char (regex
``\\s`` does not strip e.g. ``\\x01``, so cleaning can let one through)
can sort BETWEEN two occurrences of a longer repeat and hide it from
the adjacent-pair scan — the reported repeat is then still a true
repeated substring (every emitted pair is a sound witness), just not
provably the longest. Whitespace-tokenized natural text satisfies the
precondition; the uncapped probe formulation below has no such
precondition (it never orders suffixes) and is the scale path anyway.
Both engines use binary collation, so the oracle computes the
IDENTICAL function either way — the caveat bounds the math claim, not
the cross-engine match.

``longest_repeated_substring`` — UNCAPPED, via exponential + binary
search on the span length L: "some L-token span occurs ≥ 2 times" is
monotone in L, and each probe is one linear pass over ROLLING span
hashes into a count-≥2 existence check with map-side partial
aggregation — O(N) shuffle rows of constant width per probe,
O(log L_max) probes, no sort at all. The probe hash is a polynomial
rolling hash over per-token xxhash64 values in two independent 31-bit
prime fields (pair ≈ 62 bits): per doc the prefix arrays
P[i] = (P[i-1]·B + h[i]) mod p are computed ONCE (vectorized numpy via
one mapInPandas — Spark has no array-cumsum builtin; the recurrence
vectorizes as P[i] = B^i · cumsum(h[j]·B^-j), all products < 2^62 so
uint64 arithmetic is exact) and eagerly checkpointed; each probe then
evaluates every L-span hash as the O(1) Column expression
pmod(P[i+L-1] − P[i-1]·B^L, p) — no string materialization at any
length (the r4 formulation concatenated every L-token span per probe:
O(N·L) characters; with book-length docs the long-L probes dominated).
A final pass at the found L re-groups on the ACTUAL substring
(hash-free) to pick the lexicographically-smallest winner and its
count, which also certifies against hash collisions (~n²/2⁶²; on the
certify-miss path the search re-runs with the exact string predicate).
This is the 100 TB scale path: no global sort, probes shuffle two longs
per span, and the doc→token/prefix arrays are materialized once.

A distributed suffix ARRAY (prefix-doubling / DC3) was considered and
rejected for Spark: it needs O(log n) repartitionByRange global-sort
rounds with per-round checkpoints (the components.py lineage
discipline), and its only advantage over the probe form — the full LCP
array — isn't needed for the repeated-substring queries this engine
serves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

LRS_CAP = 30  # tokens; the capped query reports min(true LRS, LRS_CAP)


def _lcp_tokens(a, b):
    """Column: number of leading equal tokens of two string arrays."""
    z = F.zip_with(a, b, lambda x, y: F.coalesce(x == y, F.lit(False)))
    first_false = F.array_position(z, F.lit(False))
    return F.when(first_false == 0, F.least(F.size(a), F.size(b))).otherwise(
        first_false - 1
    )


# block key width for the two-level adjacency (module docstring): long
# enough that natural-text suffix blocks stay small relative to the
# corpus, short enough that blocks rarely become singletons (which would
# push all pairs to the level-2 boundary window).
# r11 SWEEP (OPTIMIZATION_r11.md, interleaved 4/8/12, identical
# results asserted, 6 rounds each scale) — DO NOT RE-SWEEP without new
# evidence: sf0.1 medians 0.909/0.788/0.851 s, sf1 4.378/3.916/3.910 s.
# 8 and 12 are a dead wash at sf1 and 8 wins at sf0.1; 4 loses at both
# (too-coarse blocks push work into the level-1 windows).
LRS_PREFIX_CHARS = 8


def lrs_capped_sorted(
    toks_df: DataFrame,
    toks_col: str = "toks",
    cap: int = LRS_CAP,
    prefix_chars: int = LRS_PREFIX_CHARS,
) -> DataFrame:
    """1-row (lrs_len, lrs_text): the longest token-substring occurring at
    ≥2 positions corpus-wide, capped at ``cap`` tokens; ties broken by
    lexicographically-smallest text. Empty input → empty result. Physical
    shape: two-level prefix-bucketed sorted adjacency (module docstring) —
    candidate-set-identical to a global sort, with only hash exchanges."""
    # empty-doc guard: F.sequence(1, 0) yields [1, 0] (descending), not []
    sfx = toks_df.where(F.size(toks_col) > 0).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(toks_col)),
                lambda i: F.concat_ws(" ", F.slice(F.col(toks_col), i, cap)),
            )
        ).alias("sstr")
    )
    # distinct suffixes + multiplicity in ONE map-side-combining shuffle,
    # cut to an eager checkpoint: the three candidate families below prune
    # different columns off this frame, so Catalyst's per-branch column
    # pruning de-unifies the subtrees and exchange reuse does NOT kick in
    # (measured: the explode + span-string build ran once per branch, ~1 s
    # each at sf0.1). One materialization of the distinct-suffix table —
    # a strict subset of what the r4–r6 form checkpointed — feeds all
    # three consumers.
    dist = (
        sfx.groupBy("sstr")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("_b", F.substring("sstr", 1, prefix_chars))
        .localCheckpoint(eager=True)
    )
    toks = F.split(F.col("sstr"), " ")

    def _tok1(c):
        return F.substring_index(c, " ", 1)

    def _adj_pairs(frame, cur: str, prev: str, order_col: str, part):
        """(l, sub) for sorted-adjacent (prev, cur) pairs within ``part``
        windows. The expensive token-LCP runs ONCE per surviving row, in
        the projection only: the survival filter is first-token equality,
        which is exactly ``token-LCP > 0`` (and keeps the costly zip_with
        out of a Filter that Catalyst would re-inline per reference)."""
        cur_toks = F.split(F.col(cur), " ")
        lcp = _lcp_tokens(cur_toks, F.split(F.col(prev), " "))
        return (
            frame.withColumn(prev, F.lag(cur).over(W.partitionBy(part).orderBy(order_col)))
            .where(F.col(prev).isNotNull() & (_tok1(F.col(cur)) == _tok1(F.col(prev))))
            .select(
                lcp.cast("long").alias("l"),
                F.concat_ws(" ", F.slice(cur_toks, 1, lcp)).alias("sub"),
            )
        )

    # level 1 — within-block adjacency: rows sharing the prefix are a
    # contiguous run of the global sorted order, so lag() inside the block
    # IS global adjacency there
    adj = _adj_pairs(dist.select("sstr", "_b"), "sstr", "prev", "sstr", F.col("_b"))
    # duplicate capped suffixes: the whole (≤cap)-token suffix repeats
    dups = dist.where(F.col("c") >= 2).select(
        F.size(toks).cast("long").alias("l"), F.col("sstr").alias("sub")
    )
    # level 2 — block-boundary adjacency: the one global-adjacent pair a
    # block border hides is (max of block i, min of block i+1); same-first-
    # char blocks are contiguous among blocks, and pairs straddling a
    # first-char change share no first token (token-LCP 0 — excluded by
    # the first-token filter in _adj_pairs, mirroring the oracle's l > 0).
    # #blocks rows, map-side min/max. Pairing max(i) with min(i+1) is the
    # lag over (mn, prev mx) below: each row contributes its mn as "cur"
    # and hands its mx to the next block as "prev".
    blocks = dist.groupBy("_b").agg(
        F.min("sstr").alias("mn"), F.max("sstr").alias("mx")
    )
    w2 = W.partitionBy(F.substring("_b", 1, 1)).orderBy("_b")
    mtoks = F.split(F.col("mn"), " ")
    blcp = _lcp_tokens(mtoks, F.split(F.col("prev_mx"), " "))
    bnd = (
        blocks.withColumn("prev_mx", F.lag("mx").over(w2))
        .where(
            F.col("prev_mx").isNotNull()
            & (_tok1(F.col("mn")) == _tok1(F.col("prev_mx")))
        )
        .select(
            blcp.cast("long").alias("l"),
            F.concat_ws(" ", F.slice(mtoks, 1, blcp)).alias("sub"),
        )
    )
    return (
        adj.unionByName(dups)
        .unionByName(bnd)
        .orderBy(F.col("l").desc(), F.col("sub").asc())
        .limit(1)
        .select(F.col("l").cast("long").alias("lrs_len"), F.col("sub").alias("lrs_text"))
    )


def _span_strs(toks_df: DataFrame, toks_col: str, length: int) -> DataFrame:
    t = F.col(toks_col)
    return toks_df.where(F.size(t) >= length).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (length - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, length)),
            )
        ).alias("s")
    )


# Two 31-bit prime fields for the rolling-hash pair. All intermediate
# products stay below 2^62 (value < p < 2^31 times power < p), so the
# Column arithmetic never overflows a long even under ANSI mode, and the
# numpy prefix computation is exact in uint64.
_RH_P1, _RH_B1 = 2147483647, 1000003
_RH_P2, _RH_B2 = 2147483629, 999983


def _rh_prefix_state(toks_df: DataFrame, toks_col: str) -> DataFrame:
    """(toks, _pre1, _pre2): per-doc polynomial prefix-hash arrays over
    per-token xxhash64 values, 0-prefixed so element_at(pre, i) = P[i-1].
    One mapInPandas pass (justified Python: Spark has no array cumsum and
    the aggregate() accumulator form is O(n²) in array copies); everything
    downstream of this one pass is pure Column arithmetic."""
    import numpy as np
    import pandas as pd

    hashed = toks_df.select(
        toks_col,
        F.transform(F.col(toks_col), lambda t: F.xxhash64(t)).alias("_h"),
    )

    pow_cache: dict = {}

    def _pows(p: int, B: int, n: int):
        key = (p, B)
        have = pow_cache.get(key)
        if have is None or len(have[0]) < n + 1:
            m = max(n + 1, 1024, 2 * len(have[0]) if have else 0)
            binv = pow(B, p - 2, p)  # Fermat inverse, p prime
            bp = np.empty(m, dtype=np.uint64)
            ip = np.empty(m, dtype=np.uint64)
            bp[0] = ip[0] = 1
            b_acc = i_acc = 1
            for i in range(1, m):
                b_acc = (b_acc * B) % p
                i_acc = (i_acc * binv) % p
                bp[i] = b_acc
                ip[i] = i_acc
            pow_cache[key] = (bp, ip)
        return pow_cache[key]

    def _prefix(h: np.ndarray, p: int, B: int) -> list[int]:
        n = len(h)
        if n == 0:
            return [0]
        bp, ip = _pows(p, B, n)
        up = np.uint64(p)
        hm = h.astype(np.uint64) % up
        # P[i] = B^i * cumsum(h[j] * B^-j): cumsum of values < 2^31 is
        # exact in uint64 for any doc shorter than 2^33 tokens
        t = (hm * ip[1 : n + 1]) % up
        c = np.cumsum(t) % up
        pre = (c * bp[1 : n + 1]) % up
        return [0] + pre.astype(np.int64).tolist()

    def gen(batches):
        for pdf in batches:
            pre1, pre2 = [], []
            for h in pdf["_h"]:
                arr = np.asarray(h, dtype=np.int64)
                pre1.append(_prefix(arr, _RH_P1, _RH_B1))
                pre2.append(_prefix(arr, _RH_P2, _RH_B2))
            yield pd.DataFrame(
                {toks_col: pdf[toks_col], "_pre1": pre1, "_pre2": pre2}
            )

    return hashed.mapInPandas(
        gen, f"{toks_col} array<string>, _pre1 array<long>, _pre2 array<long>"
    )


def longest_repeated_substring(
    toks_df: DataFrame, toks_col: str = "toks", max_len: int | None = None
) -> DataFrame:
    """1-row (lrs_len, lrs_text, n_occurrences): the longest token-substring
    occurring at ≥2 positions corpus-wide, UNCAPPED; ties broken by
    lexicographically-smallest text. Exponential + binary search on rolling
    span hashes (O(N) constant-width rows per probe, no string
    materialization); the winner pass re-groups on the actual substring
    (certifying against hash collisions — certify-miss re-runs the search
    with exact string spans)."""
    spark = toks_df.sparkSession
    toks_df = _rh_prefix_state(toks_df.select(toks_col), toks_col).localCheckpoint(
        eager=True
    )
    empty = spark.createDataFrame(
        [], "lrs_len long, lrs_text string, n_occurrences long"
    )
    bound_row = toks_df.agg(F.max(F.size(toks_col)).alias("m")).collect()[0]
    max_doc = int(bound_row["m"] or 0)
    if max_len is not None:
        max_doc = min(max_doc, max_len)
    if max_doc == 0:
        return empty

    def has_repeat(length: int, exact: bool) -> bool:
        if exact:
            s = _span_strs(toks_df, toks_col, length).select("s")
        else:
            bl1 = pow(_RH_B1, length, _RH_P1)
            bl2 = pow(_RH_B2, length, _RH_P2)

            def span_hash(pre: str, bl: int, p: int):
                # element_at(pre, i) = P[i-1] (0-prefixed array);
                # H(i, L) = (P[i+L-1] - P[i-1]·B^L) mod p
                def at(i):
                    return F.pmod(
                        F.element_at(F.col(pre), i + length)
                        - F.element_at(F.col(pre), i) * F.lit(bl),
                        F.lit(p),
                    )

                return at

            h1, h2 = span_hash("_pre1", bl1, _RH_P1), span_hash("_pre2", bl2, _RH_P2)
            n = F.size(toks_col)
            s = toks_df.where(n >= length).select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), n - (length - 1)),
                        lambda i: F.struct(
                            h1(i).alias("h1"), h2(i).alias("h2")
                        ),
                    )
                ).alias("s")
            )
        return (
            s.groupBy("s")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 2)
            .limit(1)
            .count()
            > 0
        )

    def search(exact: bool) -> int:
        if not has_repeat(1, exact):
            return 0
        lo, hi = 1, 2  # invariant: repeat at lo; probe hi
        while hi <= max_doc and has_repeat(hi, exact):
            lo, hi = hi, hi * 2
        hi = min(hi, max_doc + 1)  # first known-false (or just past max)
        while hi - lo > 1:
            mid = (lo + hi) // 2
            if has_repeat(mid, exact):
                lo = mid
            else:
                hi = mid
        return lo

    best = search(exact=False)
    if best == 0:
        return empty
    winner = (
        _span_strs(toks_df, toks_col, best)
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .orderBy(F.asc("s"))
        .limit(1)
        .collect()
    )
    if not winner:  # xxhash64 collision inflated the hash predicate
        best = search(exact=True)
        if best == 0:
            return empty
        winner = (
            _span_strs(toks_df, toks_col, best)
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 2)
            .orderBy(F.asc("s"))
            .limit(1)
            .collect()
        )
    return spark.createDataFrame(
        [(best, winner[0]["s"], int(winner[0]["c"]))],
        "lrs_len long, lrs_text string, n_occurrences long",
    )
