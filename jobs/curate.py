"""spark-submit entry point: the full training-data curation chain, end to end.

    spark-submit --py-files engine.zip jobs/curate.py \
        --docs /path/documents.parquet --out /tmp/curated \
        [--eval /path/eval.parquet] [--weights '{"src0": 600, "src1": 400}'] \
        [--budget-chars 30000] [--min-words 50] [--shard-chars 1000000] \
        [--no-near-dedup] [--canonical min-id|longest]

Stage order (each one a pipeline op with its own oracle-checked query in
`__spark_entry__.py` — this job is their composition):

    exact dedup -> near-dup cluster dedup (MinHash-LSH + connected
    components) -> Gopher quality filter -> eval-set decontamination
    (optional) -> domain-mixture sampling (optional) -> token-aware shard
    packing -> parquet write partitioned by shard_id

Prints ONE summary JSON line with per-stage survivor counts.

Scale notes: per-stage counts are driver-side actions for reporting; each
stage is persisted before counting so the lineage is evaluated once, and
unpersisted as soon as its successor materializes. In a 100 TB deployment
you would drop the intermediate counts (read them off the final write's
task metrics) — the transformation chain itself contains no collect and no
global sort; the output write is the only wide materialization.

No reference analogue: the reference stops at indexing (`README.md:159`);
this is the pipeline the brief's training-data surface exists for.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

if importlib.util.find_spec("webcrawler_spark") is None:
    # no engine on the path (no --py-files): use this checkout, and hand it
    # to local-mode python workers on PYTHONPATH. With --py-files the driver
    # keeps the shipped engine, the one its workers import.
    _REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, _REPO)
    os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def run(
    spark: SparkSession,
    docs_path: str,
    out_path: str,
    eval_path: str | None = None,
    weights: dict[str, int] | None = None,
    budget_chars: int = 0,
    min_words: int = 50,
    shard_chars: int = 1_000_000,
    near_dedup: bool = True,
    quality: str = "gopher",
    canonical: str = "min-id",
) -> dict:
    """Run the curation chain; returns the per-stage summary dict.

    Input schema: (doc_id long, text string, source string, ...) — extra
    columns ride along untouched. Output: input columns + shard_id,
    partitioned by shard_id.
    """
    from webcrawler_spark.pipeline.decontam import contaminated_docs
    from webcrawler_spark.pipeline.dedup import dedup_clusters
    from webcrawler_spark.pipeline.sampling import mixture_sample, pack_shards
    from webcrawler_spark.pipeline.textstats import with_gopher_flags

    t0 = time.monotonic()
    d = spark.read.parquet(docs_path)
    summary: dict = {"input": d.count()}
    stages: list[DataFrame] = []

    def step(name: str, nxt: DataFrame) -> DataFrame:
        nxt = nxt.persist()
        summary[name] = nxt.count()
        for prev in stages:
            prev.unpersist()
        stages.clear()
        stages.append(nxt)
        return nxt

    # 1. exact dedup: first occurrence per byte-identical text wins
    w = Window.partitionBy(F.lower(F.sha2(F.col("text"), 256))).orderBy("doc_id")
    d = step(
        "exact_deduped",
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn"),
    )

    # 2. near-dup dedup: drop every non-canonical cluster member.
    # --canonical longest keeps the most complete COPY per cluster (char
    # length as the completeness proxy — truncated mirrors lose) instead of
    # the smallest id; dedup.select_canonical does the cluster-keyed argmax.
    if near_dedup:
        clusters = dedup_clusters(d)
        if canonical == "longest":
            from webcrawler_spark.pipeline.dedup import select_canonical

            losers = select_canonical(
                clusters.select("doc_id", "cluster"),
                d.select("doc_id", F.length("text").cast("long").alias("score")),
            ).filter(~F.col("keep")).select("doc_id")
        else:
            losers = clusters.filter(~F.col("keep")).select("doc_id")
        d = step("near_deduped", d.join(losers, "doc_id", "left_anti"))

    # 3. Gopher quality filter (`--quality off` for corpora whose vocabulary
    # legitimately misses the English stop list, e.g. non-English shards —
    # run language-partitioned in that case)
    if quality == "gopher":
        flag_cols = [
            "n_words", "ok_word_count", "ok_mean_len", "ok_symbol_ratio",
            "ok_alpha_words", "ok_stopwords", "keep",
        ]
        d = step(
            "quality_kept",
            with_gopher_flags(d, min_words=min_words).filter("keep").drop(*flag_cols),
        )

    # 4. decontamination against a held-out eval set
    if eval_path:
        eval_df = spark.read.parquet(eval_path)
        flagged = contaminated_docs(d, eval_df).select("doc_id")
        d = step("decontaminated", d.join(flagged, "doc_id", "left_anti"))

    # 5. domain-mixture sampling
    if weights:
        d = d.withColumn("_w", F.length("text").cast("long"))
        d = step(
            "mixture_sampled",
            mixture_sample(
                d, key="doc_id", domain="source", weight="_w",
                weights_pm=weights, budget=budget_chars,
            ).drop("rate_pm"),
        )

    # 6. token-aware shard packing + partitioned write
    if "_w" not in d.columns:
        d = d.withColumn("_w", F.length("text").cast("long"))
    packed = pack_shards(
        d, key="doc_id", weight="_w", target_weight=shard_chars
    ).drop("_w").persist()
    packed.write.mode("overwrite").partitionBy("shard_id").parquet(out_path)
    summary["output"] = packed.count()
    summary["n_shards"] = packed.select("shard_id").distinct().count()
    packed.unpersist()
    summary["out"] = out_path
    summary["wall_sec"] = round(time.monotonic() - t0, 2)
    for prev in stages:
        prev.unpersist()
    return summary


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--eval", default=None)
    ap.add_argument("--weights", default=None, help="JSON {source: per-mille}")
    ap.add_argument("--budget-chars", type=int, default=0)
    ap.add_argument("--min-words", type=int, default=50)
    ap.add_argument("--shard-chars", type=int, default=1_000_000)
    ap.add_argument("--no-near-dedup", action="store_true")
    ap.add_argument("--quality", choices=("gopher", "off"), default="gopher")
    ap.add_argument("--canonical", choices=("min-id", "longest"), default="min-id")
    args = ap.parse_args()

    from webcrawler_spark.session import get_spark, run_record

    spark = get_spark(app_name="curate")
    summary = run(
        spark,
        docs_path=args.docs,
        out_path=args.out,
        eval_path=args.eval,
        weights=json.loads(args.weights) if args.weights else None,
        budget_chars=args.budget_chars,
        min_words=args.min_words,
        shard_chars=args.shard_chars,
        near_dedup=not args.no_near_dedup,
        quality=args.quality,
        canonical=args.canonical,
    )
    print(json.dumps({**summary, **run_record(spark)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
