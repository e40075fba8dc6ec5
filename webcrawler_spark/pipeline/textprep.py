"""Shared text-preparation column expressions (tokenize / shingle / hash64).

These are the common kernel under textstats/dedup/similarity. All JVM-side
built-ins: the hot path over a 100 TB document table stays inside whole-stage
codegen, and every expression has an exact ANSI-SQL twin (used by the DuckDB
oracles in ``__spark_entry__.py``).

Conventions (mirrored exactly in oracle SQL — do not change one side only):
- tokens(text)      = non-empty pieces of split(lower(text), '\\s+')
- shingles_k        = distinct runs of k consecutive tokens joined with ' '
- hash64(s)         = int64 of the first 15 hex chars of sha256(s)  (60 bits,
                      non-negative; same construction as functions.host_hash_col)
- minhash_i(sh)     = lexicographic min over shingles of sha256(i || ':' || s)
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, target: Optional[int] = None) -> DataFrame:
    """Round-robin repartition an under-partitioned input before CPU-heavy
    per-row expressions (higher-order array functions evaluate interpreted,
    outside whole-stage codegen — a single-partition scan serializes them
    onto one core). No-op when the scan already has >= target partitions,
    which is the real-cluster / 100 TB case; only small single-file local
    reads pay the (tiny) extra shuffle."""
    t = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= t:
        return df
    return df.repartition(t)


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of lowercased text, empties dropped."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def hash64(s: Column) -> Column:
    """Deterministic 60-bit non-negative int64 of a string via sha256.

    Chosen over xxhash64/murmur because sha256 exists identically in DuckDB,
    so dedup/LSH outputs are oracle-checkable bit-for-bit.
    """
    return F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("long")


def hash64_hi(s: Column) -> Column:
    """A SECOND independent 60-bit hash from the same sha256 digest (hex chars
    16-30) — zero extra hashing. Used where one hash64 doesn't supply enough
    bits (e.g. the 64-bit SimHash signature needs bits 60-63)."""
    return F.conv(F.substring(F.sha2(s, 256), 16, 15), 16, 10).cast("long")


def shingles_col(toks: Column, k: int) -> Column:
    """Distinct word k-shingles (space-joined runs of k tokens), in-order
    first-occurrence distinct. Docs with < k tokens get the whole-doc shingle
    so they still participate in dedup.

    Runs are built with slice+array_join, NOT element_at: under ANSI mode
    (the Spark 4 default, on in this engine's sessions) an out-of-range
    element_at RAISES, so the old formulation crashed the whole job on any
    document with 1..k-1 tokens — slice truncates cleanly and produces the
    identical whole-doc shingle for short docs."""
    runs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.array_distinct(runs)


def dot_double(a: Column, b: Column) -> Column:
    """Σ a_i*b_i in index order, computed in double (inputs cast first so
    Spark and DuckDB see identical float64 operands)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_double(a: Column) -> Column:
    return F.sqrt(dot_double(a, a))


def cosine_sim(a: Column, b: Column, decimals: int = 4) -> Column:
    """Cosine similarity rounded to ``decimals`` (rounding both engines to the
    same precision absorbs any last-bit FMA differences)."""
    return F.round(dot_double(a, b) / (norm_double(a) * norm_double(b)), decimals)


def hash64_lane(s: Column, lane: int) -> Column:
    """The ``lane``-th independent 60-bit int64 from ONE sha256 digest
    (hex chars 1-15 / 16-30 / 31-45 / 46-60): four pairwise-independent
    hashes for the price of a single digest evaluation. lane 0 == hash64,
    lane 1 == hash64_hi. Lanes >= 4 need a salted re-hash."""
    if not 0 <= lane < 4:
        raise ValueError("hash64_lane supports lanes 0..3")
    return F.conv(F.substring(F.sha2(s, 256), 1 + 15 * lane, 15), 16, 10).cast("long")
