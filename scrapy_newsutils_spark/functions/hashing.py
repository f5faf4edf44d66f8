"""Hashing primitives for dedup/similarity: shingles, SimHash, Jaccard.

All pure Column expressions (JVM-side, codegen) — no Python in the hot path.
Two hash families are offered:

- md5-string based (portable: DuckDB computes the identical value, so the
  correctness oracle can replicate signatures bit-for-bit);
- xxhash64 based (the fast path at scale — 64-bit integer math, no hex
  strings; used by the engine's large fan-out stages).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import tokens_of


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingle array (space-joined, lowercase). Shorter docs
    yield one shingle of all their tokens."""
    toks = tokens_of(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(
        F.when(n >= k, F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " ")))
        .otherwise(F.array(F.array_join(toks, " ")))
    )


def _simhash_from_votes(tok_bits, id_col: str):
    """(id, per-bit votes) → (id, sig:long): one groupBy(id) with 64
    bit-count sums (shift amounts are literal ints, so everything stays in
    whole-stage codegen). One shuffle on the doc id — the same shape at any
    corpus size. ``tok_bits`` carries one row per (doc, distinct token) with
    the token hash split into ``_hi``/``_lo`` 32-bit halves."""
    aggs = [
        F.sum(
            F.shiftrightunsigned(F.col("_lo") if b < 32 else F.col("_hi"),
                                 b if b < 32 else b - 32)
            .bitwiseAND(F.lit(1))
        ).alias(f"_c{b}")
        for b in range(64)
    ]
    g = tok_bits.groupBy(id_col).agg(F.count("*").alias("_n"), *aggs)
    sig = F.lit(0).cast("long")
    for b in range(64):
        bit = F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long")
        sig = sig.bitwiseOR(
            F.when(F.col(f"_c{b}") * 2 > F.col("_n"), bit).otherwise(F.lit(0).cast("long"))
        )
    return g.select(id_col, sig.alias("sig"))


def simhash_signatures(docs, id_col: str, text_col: str):
    """64-bit SimHash per document: (id_col, sig:long) DataFrame.

    Bit b of the signature is set iff the majority of distinct token hashes
    have bit b set (vote = +1 present / −1 absent; ties clear the bit).
    Fully JVM-side: explode distinct tokens → xxhash64 → vote aggregation
    (the engine fast path; xxhash64 is integer math, no hex strings)."""
    tok = docs.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_of(F.col(text_col)))).alias("_tok")
    ).select(
        id_col,
        F.shiftrightunsigned(F.xxhash64("_tok"), 32).alias("_hi"),
        F.xxhash64("_tok").bitwiseAND(F.lit(0xFFFFFFFF)).alias("_lo"),
    )
    return _simhash_from_votes(tok, id_col)


def simhash_signatures_md5(docs, id_col: str, text_col: str):
    """Portable-family SimHash: token hash = first 16 hex chars of md5,
    parsed as two 32-bit halves via ``conv`` — DuckDB computes the identical
    value (``('0x' || substr(md5(t),1,8))::UBIGINT``), so signatures are
    bit-replicable by the correctness oracle. Same vote semantics and plan
    shape as the xxhash64 fast path; ~2x the scan cost (hex strings)."""
    tok = docs.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_of(F.col(text_col)))).alias("_tok")
    )
    md5c = F.md5(F.col("_tok"))
    bits = tok.select(
        id_col,
        F.conv(F.substring(md5c, 1, 8), 16, 10).cast("long").alias("_hi"),
        F.conv(F.substring(md5c, 9, 8), 16, 10).cast("long").alias("_lo"),
    )
    return _simhash_from_votes(bits, id_col)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def jaccard(a_arr: Column, b_arr: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (set semantics)."""
    inter = F.size(F.array_intersect(a_arr, b_arr))
    union = F.size(F.array_union(a_arr, b_arr))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))
