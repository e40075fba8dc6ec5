"""SparkSession factory: the launch wins, engine defaults fill the gaps.

Spark settings come from the launch (spark-submit's ``--master``/``--conf``,
Spark's ``SPARK_LOCAL_DIRS``); a plain-Python launch runs at ``local[*]``. The
engine defaults (AQE on as the skew-join backstop per SURVEY §4, Arrow on for
the vectorized UDFs, shuffle partitions sized to cores) apply only to keys the
launch left unset. Explicit ``master``/``shuffle_partitions``/``extra_conf``
arguments win over both.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Shuffle blocks, localCheckpoint blocks and broadcast spill go to
# spark.local.dir. On a real cluster every executor has its own local SSD; in
# a single-host deployment the default /tmp shares one journal with the
# state-dir parquet writes, so scratch traffic goes to tmpfs when available
# (same role as cluster-local NVMe). Skipped if the dir can't be created.
LOCAL_DIR = "/dev/shm/spark-local"

DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "spark.sql.session.timeZone": "UTC",
    # smaller than the 128m cluster default: per-byte cost here is a Python
    # DOM parse, so scan splits must outnumber cores or the mapInPandas stage
    # runs underparallelized (1.5 GB / 128m = 12 tasks would starve 32 cores)
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.ui.enabled": "false",
    # Always use the single-file sort shuffle writer. The default bypass
    # writer kicks in below 200 reduce partitions and opens one stream PER
    # REDUCE PARTITION per map task; on a host with one shared disk that is
    # O(maps x reducers) file creates per shuffle and the filesystem journal
    # becomes a convoy — measured 16x task CPU inflation at 16 cores on slim
    # scan+shuffle stages. One data file + one index file per map task is the
    # multi-executor-safe shape.
    "spark.shuffle.sort.bypassMergeThreshold": "1",
    "spark.local.dir": LOCAL_DIR,
}


def get_spark(
    app_name: str = "webcrawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Read the conf the JVM was launched with. Under spark-submit the gateway
    # already runs and this attaches to it; a plain-Python launch starts the
    # JVM here, with the driver heap (which takes effect only at JVM launch).
    heap = SparkConf().set("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    SparkContext._ensure_initialized(conf=heap)
    launch = SparkConf()
    conf = {k: v for k, v in DEFAULTS.items() if not launch.contains(k)}
    if "spark.local.dir" in conf:
        try:
            os.makedirs(LOCAL_DIR, exist_ok=True)
        except OSError:
            del conf["spark.local.dir"]
    conf.update(extra_conf or {})
    if master:
        conf["spark.master"] = master
    key = "spark.sql.shuffle.partitions"
    if shuffle_partitions:
        conf[key] = str(shuffle_partitions)
    spark = SparkSession.builder.appName(app_name).config(map=conf).getOrCreate()
    if key not in conf and not launch.contains(key):
        # 3x cores, not 1x: with exactly |cores| shuffle tasks one straggler
        # adds a full 1/cores to stage wall; finer tasks rebalance around slow
        # cores (AQE coalescing still caps tiny shuffles at the parallelism
        # floor)
        spark.conf.set(key, str(max(3 * spark.sparkContext.defaultParallelism, 24)))
    return spark


def run_record(spark: SparkSession) -> dict:
    """What a job ran with, for its summary line: the session's effective
    settings and the engine file its driver imported (the ``--py-files`` zip
    when one is given)."""
    import webcrawler_spark

    return {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "engine": webcrawler_spark.__file__,
    }
