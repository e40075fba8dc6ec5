"""spark-submit entry point: build and query a standing full-text index.

    # build: docs parquet -> term-bucketed postings + doc lengths + stats
    spark-submit --py-files engine.zip jobs/index.py build \
        --docs /path/documents.parquet --index-dir /tmp/idx [--buckets 32]

    # query: BM25 top-k served from the standing index (no corpus scan)
    spark-submit --py-files engine.zip jobs/index.py query \
        --index-dir /tmp/idx --terms "alpha,beta" [--k 10]

The build pays the tokenize+shuffle cost once; every query after that
filters the postings scan by its term IN-list (bucket-pruned on the
term-bucketed layout) and touches rows proportional to the MATCHED
postings, never the corpus — the search-side twin of the reference's
Elasticsearch tier (SURVEY §2.6), minus the server.
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

from pyspark.sql import functions as F


def build(spark, docs_path: str, index_dir: str, buckets: int) -> dict:
    from webcrawler_spark.pipeline.search import doc_lengths, postings

    t0 = time.monotonic()
    d = spark.read.parquet(docs_path)
    p = postings(d).repartition(buckets, "term").sortWithinPartitions("term")
    p.write.mode("overwrite").parquet(f"{index_dir}/postings")
    doc_lengths(d).write.mode("overwrite").parquet(f"{index_dir}/lengths")
    n_post = spark.read.parquet(f"{index_dir}/postings").count()
    n_docs = spark.read.parquet(f"{index_dir}/lengths").count()
    return {
        "action": "build", "postings": n_post, "docs": n_docs,
        "index_dir": index_dir, "wall_sec": round(time.monotonic() - t0, 2),
    }


def query(spark, index_dir: str, terms: list[str], k: int) -> dict:
    from webcrawler_spark.pipeline.search import bm25_from_index

    t0 = time.monotonic()
    post = spark.read.parquet(f"{index_dir}/postings")
    dl = spark.read.parquet(f"{index_dir}/lengths")
    top = (
        bm25_from_index(post, dl, terms)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
        .collect()
    )
    return {
        "action": "query", "terms": terms,
        "hits": [[r["doc_id"], r["score"]] for r in top],
        "wall_sec": round(time.monotonic() - t0, 2),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build")
    b.add_argument("--docs", required=True)
    b.add_argument("--index-dir", required=True)
    b.add_argument("--buckets", type=int, default=32)
    q = sub.add_parser("query")
    q.add_argument("--index-dir", required=True)
    q.add_argument("--terms", required=True, help="comma-separated query terms")
    q.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from webcrawler_spark.session import get_spark, run_record

    spark = get_spark(app_name="index")
    if args.cmd == "build":
        out = build(spark, args.docs, args.index_dir, args.buckets)
    else:
        out = query(spark, args.index_dir, [t.strip() for t in args.terms.split(",") if t.strip()], args.k)
    print(json.dumps({**out, **run_record(spark)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
