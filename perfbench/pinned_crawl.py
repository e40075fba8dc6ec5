"""spark-submit entry that runs ``jobs/crawl.py`` unchanged and records what ran.

    spark-submit ... perfbench/pinned_crawl.py RECORD.json jobs/crawl.py [crawl flags]

The job runs as ``__main__`` exactly as spark-submit would run it. When it
stops its SparkSession, the effective master, parallelism, shuffle
partitions, the engine module path on the driver and the --py-files the
Python workers import it from are written to RECORD.json. That happens after
the crawl's own timer has stopped.
"""

from __future__ import annotations

import json
import runpy
import sys


def pin_record(spark) -> dict:
    """What a session actually runs with: the figures a benchmark must pin."""
    import webcrawler_spark

    sc = spark.sparkContext
    conf = spark.conf
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "max_records_per_batch": int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        "py_files": conf.get("spark.submit.pyFiles", None),
        "driver_engine": webcrawler_spark.__file__,
    }


def require_pinned(pin: dict, cpus: int) -> None:
    """Refuse to report figures measured at another parallelism than the
    CPUs the job was pinned to."""
    if pin["default_parallelism"] != cpus:
        raise SystemExit(
            f"perfbench: session ran at parallelism {pin['default_parallelism']} "
            f"(master {pin['master']}), not nproc={cpus}; refusing to report"
        )


def worker_engine(spark) -> list[str]:
    """Where the Python workers import the engine from (one tiny job)."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    return sorted(
        sc.parallelize(range(n), n)
        .map(lambda _: __import__("webcrawler_spark").__file__)
        .distinct()
        .collect()
    )


def main() -> None:
    from pyspark.sql import SparkSession

    record_path, script = sys.argv[1], sys.argv[2]
    sys.argv = [script, *sys.argv[3:]]
    real_stop = SparkSession.stop

    def stop(self):
        with open(record_path, "w") as f:
            json.dump(pin_record(self), f)
        real_stop(self)

    SparkSession.stop = stop
    runpy.run_path(script, run_name="__main__")


if __name__ == "__main__":
    main()
