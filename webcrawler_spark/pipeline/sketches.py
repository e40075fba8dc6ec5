"""Mergeable sketch operators: count-min frequency estimation and KMV
(k-minimum-values / bottom-k) distinct counting + uniform sampling.

At 100 TB, exact per-key state is often the wrong trade: a frontier monitor
asking "which hosts dominate the queue" or "how many distinct URLs per host"
does not need an exact groupBy over 10^10 rows held forever — it needs a
BOUNDED, MERGEABLE summary that a streaming job can fold across batches and
a batch job can union across shards. These are the two classic answers
(Cormode & Muthukrishnan 2005 count-min; Bar-Yossef et al. 2002 KMV), built
entirely from DataFrame primitives so Catalyst plans them like any
aggregation — and, deliberately, with INTEGER-ONLY arithmetic end-to-end, so
every output is bit-reproducible and oracle-checkable against DuckDB.

Scale shapes:
- ``cms_build``: one groupBy over (lane, bucket) — the sketch is d × w
  counters REGARDLESS of input size; map-side combine collapses each
  partition to ≤ d·w rows before the (tiny) shuffle. Merging two sketches is
  a union + sum on the same key — associative, streaming-friendly.
- ``cms_estimate``: join the query keys' (lane, bucket) coordinates against
  the sketch — |keys|·d lookup rows, min over lanes; never touches the
  corpus again.
- ``bottomk``: per-group k smallest hash64(key) values — a uniform sample
  WITHOUT randomness (membership is a pure function of the data, stable
  across retries/partitionings, exactly like sampling.py's hash splits).
  One window over (group) ordered by the hash; the same k rows double as a
  KMV distinct-count estimator: D ≈ (k-1) · H / h_k for hash range H.

The reference has no sketch surface (its seen-set is an exact in-memory Set,
`InMemoryLinkQueue.java:34`, kept exact by operators/dedup.py); these
sketches add bounded state standing in for unbounded exactness, with the
error knob explicit, where an estimate is all a caller needs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textprep import hash64, hash64_lane

# hash64 yields 60-bit non-negative values: range [0, 2^60)
HASH_RANGE = 1 << 60


def _lane_bucket(key: Column, lane: int, width: int) -> Column:
    """Bucket of ``key`` in lane ``lane``, folded to [0, width). Lanes 0-3
    slice four independent 60-bit values out of ONE sha256 digest
    (hash64_lane) — the whole-stage-codegen CSE evaluates that digest once
    per row, so a d=4 sketch costs ONE hash per key instead of four. Deeper
    sketches fall back to a lane-salted re-hash."""
    if lane < 4:
        return hash64_lane(key, lane) % F.lit(width)
    return hash64(F.concat(F.lit(f"cms{lane}:"), key)) % F.lit(width)


def cms_build(
    df: DataFrame,
    key: Column,
    d: int = 4,
    w: int = 1024,
    weight: Column | None = None,
) -> DataFrame:
    """Count-min sketch of ``key`` (optionally ``weight``-weighted): returns
    the d × w counter table (lane, bucket, cnt); absent counters are zero.
    Point estimate for any key = min over lanes of its bucket's counter —
    always an OVERestimate; error ≤ N·e/w with prob 1−(1/2)^d.

    Two sketches built with the same (d, w) merge by
    ``union → groupBy(lane, bucket) → sum(cnt)``.
    """
    wcol = F.lit(1).cast("long") if weight is None else weight.cast("long")
    lanes = F.array(
        *[
            F.struct(F.lit(i).alias("lane"), _lane_bucket(key, i, w).alias("bucket"))
            for i in range(d)
        ]
    )
    return (
        df.select(F.explode(lanes).alias("lb"), wcol.alias("_w"))
        .groupBy(F.col("lb.lane").alias("lane"), F.col("lb.bucket").alias("bucket"))
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, keys: Sequence[str], d: int = 4, w: int = 1024
) -> DataFrame:
    """(key, est): count-min point estimates for literal ``keys`` from a
    ``cms_build(d, w)`` sketch. Builds the |keys|·d coordinate relation
    driver-side (keys are a query, not data), left-joins the sketch (missing
    counter = 0), takes min over lanes."""
    spark = sketch.sparkSession
    coords = spark.createDataFrame(
        [(k,) for k in sorted(set(keys))], schema="key string"
    ).select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("lane"),
                        _lane_bucket(F.col("key"), i, w).alias("bucket"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("lb"),
    ).select("key", F.col("lb.lane").alias("lane"), F.col("lb.bucket").alias("bucket"))
    return (
        coords.join(sketch, ["lane", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )


def bottomk(
    df: DataFrame,
    group_col: str,
    key: Column,
    k: int = 64,
) -> DataFrame:
    """Per-group bottom-k sample: the k rows whose ``hash64(key)`` is
    smallest within each group — a deterministic uniform-without-replacement
    sample (hash order is independent of the data's own order) that is also
    the KMV sketch of the group. Returns (group, key, kmv_rank, kmv_hash),
    kmv_rank 1-based by hash. Duplicate keys collapse first (DISTINCT
    semantics — KMV estimates DISTINCT counts).

    One distinct aggregate + one window partitioned BY GROUP (never a global
    sort); merge two samples of the same group by union → re-rank → limit k.
    """
    uniq = df.select(
        F.col(group_col).alias("grp"), key.alias("key")
    ).distinct().withColumn("kmv_hash", hash64(F.col("key")))
    win = Window.partitionBy("grp").orderBy("kmv_hash", "key")
    return (
        uniq.withColumn("kmv_rank", F.row_number().over(win))
        .filter(F.col("kmv_rank") <= k)
        .select(
            F.col("grp").alias(group_col), "key", "kmv_rank", "kmv_hash"
        )
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    key: Column,
    k: int = 64,
) -> DataFrame:
    """(group, n_seen, est_distinct): KMV distinct-count estimate per group.
    With fewer than k distinct keys the count is exact (= n_seen); otherwise
    D ≈ (k−1) · HASH_RANGE / h_k where h_k is the k-th smallest hash
    (Bar-Yossef et al. 2002), computed with integer division so both engines
    produce the identical estimate. Relative error ~ 1/sqrt(k)."""
    bk = bottomk(df, group_col, key, k)
    agg = bk.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_seen"),
        F.max(F.when(F.col("kmv_rank") == k, F.col("kmv_hash"))).alias("_hk"),
    )
    return agg.select(
        group_col,
        "n_seen",
        F.when(F.col("_hk").isNull(), F.col("n_seen"))
        .otherwise(
            F.expr(f"({k} - 1) * cast({HASH_RANGE} as decimal(38, 0)) div _hk").cast(
                "long"
            )
        )
        .alias("est_distinct"),
    )


# HLL geometry: hash64 supplies 60 bits; p index bits + the rest for rho
HLL_HASH_BITS = 60


def hll_registers(
    df: DataFrame,
    group_col: str,
    key: Column,
    p: int = 8,
) -> DataFrame:
    """HyperLogLog registers per group: (group, reg, rho) with
    reg = top-p index bits of hash64(key), rho = max over the group's keys
    of 1 + leading-zero-count of the remaining (60-p) bits (Flajolet et al.
    2007). Absent registers mean rho 0.

    Fully integer arithmetic (rho via the length of the value's binary
    string — no float log), so registers are bit-identical in any engine.
    One groupBy(group, reg) MAX — map-side combine collapses each partition
    to ≤ 2^p rows per group; two register tables merge by GREATEST. This is
    the bounded-state distinct counter for per-host URL cardinality at
    10^10 scale: 2^p small ints per host, forever.
    """
    w_bits = HLL_HASH_BITS - p
    h = hash64(key)
    reg = F.shiftright(h, w_bits)
    w = h.bitwiseAND(F.lit((1 << w_bits) - 1))
    # rho = w_bits - bit_length(w) + 1; bin(w) has no leading zeros, and
    # bin(0) = "0" (handled: w = 0 -> rho = w_bits + 1, the all-zeros case)
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits) + 1 - F.length(F.bin(w))
    )
    return (
        df.select(F.col(group_col).alias("grp"), reg.alias("reg"), rho.alias("rho"))
        .groupBy("grp", "reg")
        .agg(F.max("rho").cast("int").alias("rho"))
        .withColumnRenamed("grp", group_col)
    )


def hll_distinct(
    df: DataFrame,
    group_col: str,
    key: Column,
    p: int = 8,
) -> DataFrame:
    """(group, est_distinct): HyperLogLog estimate per group, ~1.04/sqrt(2^p)
    relative error at 2^p registers.

    Cross-engine determinism: the harmonic denominator Σ 2^(-rho_j) is
    computed as the INTEGER Σ 2^(w_bits+1-rho_j) (fits int64: ≤ 2^p · 2^53),
    so both engines divide the same two exact numbers; the final alpha·m²/S
    and the small-range linear-counting correction are single double ops on
    identical operands. Estimate is rounded to a long."""
    m = 1 << p
    w_bits = HLL_HASH_BITS - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    regs = hll_registers(df, group_col, key, p)
    agg = regs.groupBy(group_col).agg(
        F.count("*").cast("long").alias("_nz"),  # registers with rho >= 1
        F.sum(F.expr(f"cast(pow(2, {w_bits + 1}) as long) div "
                     f"cast(pow(2, rho) as long)")).alias("_s_hit"),
    )
    # absent registers have rho 0: each contributes 2^0 = 1 to the harmonic
    # sum, i.e. the full 2^(w_bits+1) at this scaling
    s = F.col("_s_hit") + (F.lit(m) - F.col("_nz")) * F.lit(1 << (w_bits + 1))
    raw = F.lit(alpha * m * m * float(2 ** (w_bits + 1))) / s.cast("double")
    zeros = F.lit(m) - F.col("_nz")
    # small-range correction: linear counting when any register is empty
    # and the raw estimate is below the 2.5m threshold
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((zeros > 0) & (raw <= 2.5 * m), lin).otherwise(raw)
    return agg.select(
        group_col, F.round(est).cast("long").alias("est_distinct")
    )


def kmv_set_ops(
    df: DataFrame,
    group_col: str,
    key: Column,
    group_a,
    group_b,
    k: int = 64,
) -> DataFrame:
    """Set-operation estimates between two key sets from their bottom-k
    samples (Beyer et al. 2007, the theta-sketch idea): ONE row
    (n_union_sample, n_common, est_union, est_intersection, jaccard_pm).

    How: merge the two groups' bottom-k samples, re-rank, keep the union's
    bottom-k; its k-th smallest hash L calibrates est_union = (k-1)·H div L
    (exact count when the union sample is under k); n_common = union-sample
    keys present in BOTH sides estimates the Jaccard fraction directly
    (jaccard_pm = 1000·n_common div sample size), and
    est_intersection = n_common·est_union div sample size.

    The 100 TB use: "how many URLs do this month's and last month's crawls
    share?" costs two bottom-k samples (each a groupBy + one windowed
    top-k) instead of a full-corpus join — and the samples are reusable,
    mergeable artifacts. Integer arithmetic end-to-end.
    """
    bk = bottomk(df, group_col, key, k)
    a = bk.filter(F.col(group_col) == group_a).select(
        "key", "kmv_hash", F.lit(1).alias("_in_a")
    )
    b = bk.filter(F.col(group_col) == group_b).select(
        "key", "kmv_hash", F.lit(1).alias("_in_b")
    )
    u = (
        a.join(b.select("key", "_in_b"), "key", "full")
        .select(
            "key",
            F.coalesce(F.col("kmv_hash"), hash64(F.col("key"))).alias("kmv_hash"),
            F.coalesce("_in_a", F.lit(0)).alias("_in_a"),
            F.coalesce("_in_b", F.lit(0)).alias("_in_b"),
        )
    )
    w = Window.orderBy("kmv_hash", "key")  # union sample is <= 2k rows
    su = u.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") <= k)
    return su.agg(
        F.count("*").cast("long").alias("n_union_sample"),
        F.sum((F.col("_in_a") * F.col("_in_b")).cast("long")).alias("n_common"),
        F.when(
            F.count("*") < k,
            F.count("*"),
        )
        .otherwise(
            F.expr(
                f"({k} - 1) * cast({HASH_RANGE} as decimal(38, 0)) div max(kmv_hash)"
            )
        )
        .cast("long")
        .alias("est_union"),
    ).select(
        "n_union_sample",
        "n_common",
        "est_union",
        # decimal intermediate: n_common * est_union can pass 2^63 at web scale
        F.expr(
            "cast(n_common as decimal(38, 0)) * est_union div n_union_sample"
        ).cast("long").alias("est_intersection"),
        F.expr("1000 * n_common div n_union_sample").alias("jaccard_pm"),
    )
