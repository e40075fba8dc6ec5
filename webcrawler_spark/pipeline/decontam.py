"""Benchmark decontamination: flag training documents that share a word
n-gram with a held-out evaluation set.

Standard corpus-curation step (GPT-3 appendix C / PaLM / Llama all
decontaminate pretraining data by n-gram overlap with eval benchmarks): a
training document is contaminated iff it contains at least one n-token run
(default n=8) that also appears in any eval document. Documents with fewer
than n tokens cannot contain an n-gram and are never flagged.

Plan shape at 100 TB: the eval side is benchmark-sized (thousands of docs) —
its distinct hashed grams broadcast everywhere; the corpus side explodes its
grams (the unavoidable cost, ~|tokens| rows) into a broadcast semi-join, so
the only wide op is the final distinct on flagged doc keys. At extreme eval
sizes, swap the broadcast for a membership filter built from the eval grams and
re-check survivors exactly — same join key either way.

Tokenization/gram conventions mirror ``textprep`` (and the DuckDB oracle in
``__spark_entry__.py``) exactly: tokens = non-empty split(lower(text), '\\s+');
gram = space-join of n consecutive tokens; gram key = hash64(gram).

No reference analogue (the reference crawler has no training-data surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textprep import hash64, spread, tokens_col

NGRAM_N = 8


def ngram_hashes_from_tokens(tk: Column, n: int = NGRAM_N) -> Column:
    """Distinct hash64 keys of all word n-grams over a token array; empty
    array when the document has fewer than n tokens. Pure JVM expression.

    ``tk`` must be a MATERIALIZED column (projected via select/withColumn),
    not an inline ``tokens_col(text)`` expression: higher-order functions
    evaluate interpreted without common-subexpression elimination, so an
    inline tokenizer would re-split the text per array reference in the
    gram lambda (measured 10x+ slowdown). Runs use slice+array_join, the
    ANSI-safe form (see textprep.shingles_col)."""
    runs = F.transform(
        F.sequence(F.lit(1), F.size(tk) - (n - 1)),
        lambda i: hash64(F.array_join(F.slice(tk, i, n), " ")),
    )
    return F.when(F.size(tk) >= n, F.array_distinct(runs)).otherwise(
        F.array().cast("array<bigint>")
    )


def contaminated_docs(
    train: DataFrame,
    eval_df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    n: int = NGRAM_N,
) -> DataFrame:
    """Distinct keys of training docs sharing >=1 word n-gram with eval_df.

    Returns one row per contaminated training doc, carrying every non-text
    column of ``train`` (text is dropped — the flag list is metadata-sized).
    """
    eval_grams = (
        eval_df.select(tokens_col(F.col(text)).alias("_tk"))
        .select(F.explode(ngram_hashes_from_tokens(F.col("_tk"), n)).alias("g"))
        .distinct()
    )
    train_grams = spread(train).select(
        *[c for c in train.columns if c != text],
        tokens_col(F.col(text)).alias("_tk"),
    ).select(
        *[c for c in train.columns if c != text],
        F.explode(ngram_hashes_from_tokens(F.col("_tk"), n)).alias("g"),
    )
    return (
        train_grams.join(F.broadcast(eval_grams), "g", "left_semi")
        .drop("g")
        .dropDuplicates([key])
    )


def eval_containment(
    train: DataFrame,
    eval_df: DataFrame,
    tau_pm: int = 300_000,
    key: str = "doc_id",
    eval_key: str = "doc_id",
    text: str = "text",
    n: int = NGRAM_N,
) -> DataFrame:
    """Containment-scored decontamination — the refinement of
    :func:`contaminated_docs`' any-overlap rule that large curations
    actually ship (Llama/GPT-4-style: an eval example is "contaminated in"
    a training doc when a sizable FRACTION of its n-grams appears there,
    not when one boilerplate gram does; a single shared 8-gram like a
    license header must not nuke a benchmark).

    Score per (train doc, eval doc) pair with ≥1 shared gram:

        containment_pm = (1_000_000 * |train_grams ∩ eval_grams|)
                         div |eval_grams|          (integer per-million)

    asymmetric on purpose: the denominator is the EVAL doc's gram count —
    "how much of this eval example is inside this training doc" — so a
    100k-token training doc that swallows a 40-token eval example scores
    1e6, while Jaccard would see ~0. Rows with containment_pm >= tau_pm
    are returned (default 30%).

    Scale shape: eval side is benchmark-sized → its (gram → eval doc) map
    and per-doc gram totals BROADCAST; the corpus side explodes its
    distinct grams into the broadcast join, so matched-gram rows (∝ actual
    overlap, tiny) are all that reach the one real shuffle — the
    groupBy(train key, eval key) pair count with map-side combine. The
    train relation itself never reshuffles. All score math is integral —
    cross-engine exact.
    """
    eg = (
        eval_df.select(
            F.col(eval_key).alias("_ek"),
            tokens_col(F.col(text)).alias("_tk"),
        )
        .select("_ek", F.explode(ngram_hashes_from_tokens(F.col("_tk"), n)).alias("g"))
    )
    etot = eg.groupBy("_ek").agg(F.count("*").alias("_eval_grams"))
    tg = spread(train).select(
        F.col(key).alias("_k"),
        tokens_col(F.col(text)).alias("_tk"),
    ).select("_k", F.explode(ngram_hashes_from_tokens(F.col("_tk"), n)).alias("g"))
    hits = (
        tg.join(F.broadcast(eg), "g")
        .groupBy("_k", "_ek")
        .agg(F.count("*").alias("_hit_grams"))
        .join(F.broadcast(etot), "_ek")
    )
    pm = F.expr("(1000000 * _hit_grams) div _eval_grams")
    return (
        hits.filter(pm >= int(tau_pm))
        .select(
            F.col("_k").alias(key),
            F.col("_ek").alias(f"eval_{eval_key}"),
            F.col("_hit_grams").alias("hit_grams"),
            F.col("_eval_grams").alias("eval_grams"),
            pm.alias("containment_pm"),
        )
    )
