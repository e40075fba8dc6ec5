"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``        — exact brute-force top-k neighbors for a set of
  query vectors. The correctness baseline: broadcast the (small) query side,
  so the big corpus never shuffles — one scan, per-partition local top-k via
  window over (query, sim). At 100 TB the corpus side streams; cost is
  O(|corpus|·|queries|·d) flops, embarrassingly parallel, zero corpus shuffle.
- ``assign_centroids`` / ``ivf_topk`` — IVF-style approximate variant: assign
  every vector to its nearest centroid (broadcast centroids, narrow map);
  queries probe only their ``n_probe`` nearest centroid buckets, turning the
  scan into a partition-pruned lookup when the corpus table is written
  partitioned by ``centroid_id`` (the scale path).

All math in double with index-order summation (see textprep.cosine_sim) —
DuckDB-oracle-checkable value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textprep import cosine_sim, spread


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (q_id, neighbor_id, cos, rnk) with rnk 1..k, ties broken by
    neighbor_id ascending (deterministic). Self-matches (same id) excluded.
    """
    q = F.broadcast(queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")))
    c = spread(corpus).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v"))
    scored = c.crossJoin(q).filter(F.col("neighbor_id") != F.col("q_id")).select(
        "q_id",
        "neighbor_id",
        cosine_sim(F.col("v"), F.col("q_vec")).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "cos", "rnk")
    )


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    c_id_col: str = "centroid_id",
    c_vec_col: str = "c_vec",
) -> DataFrame:
    """(vec_id, centroid_id, cos): nearest centroid by cosine, ties broken by
    centroid_id ascending. Centroids broadcast; corpus side is a narrow map —
    no shuffle. Writing the output partitioned by centroid_id gives IVF
    partition pruning for free on the read side.
    """
    cset = F.broadcast(
        centroids.select(F.col(c_id_col).alias("cid"), F.col(c_vec_col).alias("cv"))
    )
    scored = spread(corpus).select(F.col(id_col), F.col(vec_col).alias("v")).crossJoin(cset).select(
        F.col(id_col),
        F.col("cid"),
        cosine_sim(F.col("v"), F.col("cv")).alias("cos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(F.col(id_col), F.col("cid").alias("centroid_id"), F.col("cos"))
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe only the query's ``n_probe`` nearest centroid
    buckets. Same output shape as cosine_topk; recall < 1 by design."""
    assigned = assign_centroids(corpus, centroids, id_col=id_col, vec_col=vec_col)
    bucketed = corpus.join(assigned.select(id_col, "centroid_id"), id_col)

    q_probe = assign_probes(queries, centroids, n_probe)
    cand = bucketed.join(q_probe, "centroid_id").filter(F.col(id_col) != F.col("q_id"))
    scored = cand.select(
        "q_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_sim(F.col(vec_col), F.col("q_vec")).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "cos", "rnk")
    )


def assign_probes(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """(q_id, q_vec, centroid_id): each query's n_probe nearest centroids."""
    cset = F.broadcast(
        centroids.select(F.col("centroid_id").alias("cid"), F.col("c_vec").alias("cv"))
    )
    scored = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")
    ).crossJoin(cset).select(
        "q_id", "q_vec", F.col("cid"), cosine_sim(F.col("q_vec"), F.col("cv")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_probe)
        .select("q_id", "q_vec", F.col("cid").alias("centroid_id"))
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
):
    """Deterministic spherical k-means (Lloyd) — TRAINING for the IVF coarse
    quantizer that ``assign_centroids``/``ivf_topk`` serve. Returns
    (assignments, centroids): assignments = (id, centroid_id, cos) for the
    final iteration; centroids = the trained (centroid_id, c_vec) DataFrame.

    Determinism, the property a 100 TB training job actually needs (same
    codebook on every rerun/retry, no RNG):
    - init: the k corpus vectors with the smallest ``hash64(id)`` — a
      bottom-k sketch (pipeline/sketches.py), stable under any partitioning,
      unlike Spark ML's seeded-but-partition-sensitive kmeans||;
    - assignment by cosine (scale-invariant, so plain per-cluster MEANS act
      as spherical centroids without renormalizing);
    - new centroid coordinates rounded to ``decimals`` each iteration —
      absorbs float summation-order drift so independent engines (the DuckDB
      oracle unrolls the same iterations) converge to identical codebooks.

    Scale shape per iteration: one broadcast-assign over the corpus (narrow
    map + per-id window over k rows), one posexplode + groupBy(cid, pos)
    mean — shuffle volume k × dim cells after map-side combine — and a
    k × dim collect (driver-scale by construction). Empty clusters keep
    their previous centroid. Iteration count is a fixed budget: each round
    is one pass, the standard big-data k-means trade (kmeans|| init + few
    Lloyd rounds) rather than convergence-looping over 10^10 rows.
    """
    from .textprep import hash64

    spark = corpus.sparkSession
    vecs = corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    # bottom-k by id hash compiles to TakeOrderedAndProject (per-partition
    # heaps), never a global sort; k rows collect driver-side by design
    seed_rows = (
        vecs.withColumn("_h", hash64(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    centroids = [
        {"centroid_id": i + 1, "c_vec": r["_v"]} for i, r in enumerate(seed_rows)
    ]

    def _cdf(rows):
        return spark.createDataFrame(
            sorted((r["centroid_id"], r["c_vec"]) for r in rows),
            schema="centroid_id int, c_vec array<double>",
        )

    assigned = None
    for _ in range(iters):
        cdf = _cdf(centroids)
        assigned = assign_centroids(
            vecs, cdf, id_col=id_col, vec_col="_v"
        )
        means = (
            assigned.select(F.col(id_col), "centroid_id")
            .join(vecs, id_col)
            .select("centroid_id", F.posexplode("_v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("x"), decimals).alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("c_vec"),
            )
        )
        got = {r["centroid_id"]: r["c_vec"] for r in means.collect()}
        centroids = [
            {"centroid_id": r["centroid_id"],
             "c_vec": got.get(r["centroid_id"], r["c_vec"])}
            for r in centroids
        ]
    final = _cdf(centroids)
    out = assign_centroids(vecs, final, id_col=id_col, vec_col="_v")
    return out, final


def subvectors(
    df: DataFrame, m: int, sub: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, subspace, sv): the vector split into m contiguous sub-blocks of
    ``sub`` dims each — narrow m-way explode, no shuffle."""
    parts = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.transform(
                    F.slice(F.col(vec_col), j * sub + 1, sub),
                    lambda x: x.cast("double"),
                ).alias("sv"),
            )
            for j in range(m)
        ]
    )
    return df.select(F.col(id_col), F.explode(parts).alias("p")).select(
        F.col(id_col), F.col("p.subspace").alias("subspace"), F.col("p.sv").alias("sv")
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Product-quantization encoding: each vector becomes m small codes —
    per sub-block, the id of the nearest codeword by L2 (Jégou et al. 2011).
    ``codebooks`` is (subspace, cid, c_vec); train it with ``kmeans_fit`` per
    sub-block or subsample codewords from the corpus. Returns
    (id, subspace, code) rows.

    This is the compression layer of IVF-PQ: at 10^10 vectors, float32
    embeddings at dim 64 are 2.5 TB; m=4 one-byte codes are 40 GB — the
    difference between an index that fits executor memory and one that
    doesn't.

    Determinism: L2 uses the expansion |x|² − 2·x·c + |c|² with index-order
    dots (textprep.dot_double) and is rounded to ``decimals`` before the
    argmin (ties → smaller cid) — the DuckDB twin computes the identical
    value. Plan: m-way explode (narrow) ⋈ broadcast codebooks, one window
    per (id, subspace) over |codebook| rows.
    """
    from .textprep import dot_double

    sub = dim // m
    sv = subvectors(spread(corpus), m, sub, id_col, vec_col)
    cb = F.broadcast(codebooks.select("subspace", "cid", "c_vec"))
    l2 = F.round(
        dot_double(F.col("sv"), F.col("sv"))
        - 2 * dot_double(F.col("sv"), F.col("c_vec"))
        + dot_double(F.col("c_vec"), F.col("c_vec")),
        decimals,
    )
    scored = sv.join(cb, "subspace").select(
        F.col(id_col), "subspace", F.col("cid"), l2.alias("_l2")
    )
    w = Window.partitionBy(id_col, "subspace").orderBy("_l2", "cid")
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(F.col(id_col), "subspace", F.col("cid").alias("code"))
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    m: int = 4,
    dim: int = 64,
    k: int = 5,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    decimals: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: dot(q, x) is
    approximated by Σ_j dot(q_j, codeword(code_j)) — the query side stays
    full-precision, the corpus side is never decoded. Returns
    (q_id, neighbor_id, score, rnk), score = the ADC dot estimate, ties by
    neighbor_id.

    Plan: the per-(query, subspace, codeword) partial-dot LUT is
    |q| × m × |codebook| rows — broadcast; codes join the LUT on
    (subspace, code) and the m partials fold per (q_id, id). The fold PIVOTS
    the m subspaces into columns and adds them in fixed order rather than
    groupBy-summing doubles across rows, so the result is bit-stable under
    any partitioning (and equals the DuckDB twin exactly). Per-partial
    rounding to ``decimals`` makes the pivoted addends engine-identical
    first.
    """
    from .textprep import dot_double

    sub = dim // m
    qv = subvectors(queries, m, sub, q_id_col, q_vec_col).withColumnRenamed(
        "sv", "qsv"
    )
    lut = F.broadcast(
        qv.join(codebooks.select("subspace", "cid", "c_vec"), "subspace").select(
            F.col(q_id_col),
            "subspace",
            F.col("cid").alias("code"),
            F.round(dot_double(F.col("qsv"), F.col("c_vec")), decimals).alias(
                "_dot"
            ),
        )
    )
    joined = codes.join(lut, ["subspace", "code"]).filter(
        F.col(id_col) != F.col(q_id_col)
    )
    pivots = [
        F.sum(F.when(F.col("subspace") == j, F.col("_dot"))).alias(f"_p{j}")
        for j in range(m)
    ]
    folded = joined.groupBy(q_id_col, id_col).agg(*pivots)
    score: Column = F.col("_p0")
    for j in range(1, m):
        score = score + F.col(f"_p{j}")
    scored = folded.select(
        F.col(q_id_col).alias("q_id"),
        F.col(id_col).alias("neighbor_id"),
        score.alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "neighbor_id", "score", "rnk")
    )
