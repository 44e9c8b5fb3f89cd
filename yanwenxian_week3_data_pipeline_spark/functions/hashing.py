"""Deterministic cross-engine hashing primitives.

The whole dedup family (MinHash-LSH, SimHash, fingerprints) is built on ONE
primitive that produces bit-identical values in Spark and DuckDB:

    hash60(s) = int(md5(s)[:15], 16)        # 60-bit unsigned, fits BIGINT

Spark:  conv(substr(md5(s), 1, 15), 16, 10)::bigint
DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

(xxhash64/hash() are engine-specific and NOT portable; md5 is.)

Seeded families are derived as hash60(seed || ':' || s).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..constants import HASH64_HEX_CHARS


def hash60_expr(col: Column, seed: int | None = None) -> Column:
    s = col if seed is None else F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(s), 1, HASH64_HEX_CHARS), 16, 10).cast("long")


def hash60_sql(expr: str, seed: int | None = None) -> str:
    s = expr if seed is None else f"('{seed}:' || {expr})"
    return f"(('0x' || substr(md5({s}), 1, {HASH64_HEX_CHARS}))::BIGINT)"


def hash52_expr(col: Column, seed: int | None = None) -> Column:
    """52-bit md5 hash (13 hex chars). Every value is EXACTLY representable
    as an IEEE double, so (h + 1) / 2^52 is a bit-identical uniform in
    (0, 1] on both engines — the 60-bit variant would round long→double
    first and the two engines' rounded doubles, while equal, would carry
    less entropy than the hash. Use for anything that feeds libm."""
    s = col if seed is None else F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("long")


def hash52_sql(expr: str, seed: int | None = None) -> str:
    s = expr if seed is None else f"('{seed}:' || {expr})"
    return f"(('0x' || substr(md5({s}), 1, 13))::BIGINT)"


def md5_split_exprs(digest: Column) -> tuple[Column, Column]:
    """(h1, h2) Kirsch-Mitzenmacher base hashes from ONE md5 hex digest
    column: h1 = hex chars 1-15 (60 bits), h2 = hex chars 16-29 (56 bits).
    Disjoint halves of a single digest are independent hash values, so one
    md5 per shingle replaces two seeded calls. Takes the digest, not the
    string, so a caller can bind ``md5(s)`` once and split it in every
    hash fold, as ``md5_split_sql`` does."""
    h1 = F.conv(F.substring(digest, 1, HASH64_HEX_CHARS), 16, 10).cast("long")
    h2 = F.conv(F.substring(digest, 16, 14), 16, 10).cast("long")
    return h1, h2


def md5_split_np():
    """Return ``split(data) -> (h1, h2)``, the numpy twin of
    ``md5_split_exprs(md5(s))`` for the Arrow kernels: ``data`` is a list
    of byte strings, h1 and h2 are int64 arrays.

    Lemma: read ``md5(s).digest()`` as big-endian uint64 words (w0, w1).
    Hex chars 1-15 are the top 60 bits of w0, so h1 = w0 >> 4; hex chars
    16-29 are the low nibble of w0 followed by the top 52 bits of w1, so
    h2 = ((w0 & 0xF) << 52) | (w1 >> 12). Both are < 2^63, so the int64
    cast is exact. One buffer parse replaces two hexdigest int() loops.

    Returned as a closure so Spark pickles it by value into the Python
    workers, which need not be able to import this package."""
    import hashlib

    import numpy as np

    # uint64 shift counts: NumPy 1.x mixes uint64 with a Python int as float
    s4, s12, s52, low4 = (np.uint64(x) for x in (4, 12, 52, 0xF))

    def split(data: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
        digests = b"".join([hashlib.md5(s).digest() for s in data])
        w = np.frombuffer(digests, dtype=">u8").reshape(-1, 2)
        h1 = (w[:, 0] >> s4).astype(np.int64)
        h2 = (((w[:, 0] & low4) << s52) | (w[:, 1] >> s12)).astype(np.int64)
        return h1, h2

    return split


def md5_split_sql(digest_expr: str) -> tuple[str, str]:
    """DuckDB twin of ``md5_split_exprs`` over an already-computed digest
    column/expression (stage the ``md5(s)`` list once; inlining it would
    recompute the digest inside every one of the num_hashes transforms)."""
    return (
        f"(('0x' || substr({digest_expr}, 1, {HASH64_HEX_CHARS}))::BIGINT)",
        f"(('0x' || substr({digest_expr}, 16, 14))::BIGINT)",
    )


def km_hash_expr(h1: Column, h2: Column, i: int) -> Column:
    """g_i = (h1 + i·h2) mod (2^61−1), pure int64: h1 < 2^60, i·h2 < 32·2^56
    < 2^61, and the sum of the two residues < 2^62 — no overflow, no
    decimal. Two md5 calls replace ``num_hashes`` seeded md5s (the
    measured alternatives: 32 seeded md5s ≈ 2× slower; exact (a·h+b) mod p
    in DECIMAL(38,0) ≈ 3-4× slower than an extra md5)."""
    from ..constants import MINHASH_PRIME

    if i == 0:
        return h1  # h1 < 2^60 < P, so g_0 = h1 mod P = h1
    p = F.lit(MINHASH_PRIME)
    return (h1 + (F.lit(i) * h2) % p) % p


def km_hash_sql(h1: str, h2: str, i: int) -> str:
    from ..constants import MINHASH_PRIME

    if i == 0:
        return h1
    return f"(({h1} + (({i} * {h2}) % {MINHASH_PRIME})) % {MINHASH_PRIME})"
