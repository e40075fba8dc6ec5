"""Snapshot-manifest table storage (Iceberg-fallback, SURVEY §7 risk #6).

The north_rule requires idempotent, checkpoint-resumable crawl rounds. With no
Iceberg runtime in the sandbox, this layer provides the same contract over
plain parquet:

- each table version is written to ``<root>/<table>/v=<round>/`` (write to a
  ``_tmp`` dir, then atomic rename);
- ``<root>/MANIFEST.json`` records the committed round and per-table versions,
  and is replaced atomically (write + os.replace);
- resume = read MANIFEST, load each table at its committed version; a crashed
  round leaves only orphan ``v=k`` dirs that the re-run overwrites.

Swap-in for real Iceberg is a config switch: the engine only uses
``read_table/write_table/commit_round/load_manifest``.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Manifest:
    committed_round: int = -1
    tables: Dict[str, int] = field(default_factory=dict)  # table -> version
    meta: Dict[str, object] = field(default_factory=dict)


class SnapshotStore:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest -------------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "MANIFEST.json")

    def load_manifest(self) -> Optional[Manifest]:
        p = self._manifest_path()
        if not os.path.exists(p):
            return None
        with open(p, "r", encoding="utf-8") as f:
            d = json.load(f)
        return Manifest(
            committed_round=d["committed_round"],
            tables=d.get("tables", {}),
            meta=d.get("meta", {}),
        )

    def commit(self, manifest: Manifest) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "committed_round": manifest.committed_round,
                    "tables": manifest.tables,
                    "meta": manifest.meta,
                },
                f,
                indent=2,
            )
        os.replace(tmp, self._manifest_path())

    # -- tables ---------------------------------------------------------------
    def _table_dir(self, table: str, version: int) -> str:
        return os.path.join(self.root, table, f"v={version}")

    def write_table(self, df: DataFrame, table: str, version: int) -> str:
        final = self._table_dir(table, version)
        tmp = final + "_tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)  # idempotent re-run of a crashed round
        os.replace(tmp, final)
        return final

    def read_table(self, spark: SparkSession, table: str, version: int) -> DataFrame:
        return spark.read.parquet(self._table_dir(table, version))

    def count_table(self, table: str, version: int) -> int:
        """Row count from parquet footers (driver-side, no Spark job) — the
        snapshot-metadata count an Iceberg table would serve from its
        manifests. A written table's count must not cost a cluster pass.

        Raises FileNotFoundError when the table version was never written
        (missing dir or no part files): a failed write must surface as an
        error, not report 0 rows (ADVICE r2)."""
        import glob as _glob

        import pyarrow.parquet as pq

        d = self._table_dir(table, version)
        files = _glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            raise FileNotFoundError(
                f"no parquet files for table {table!r} v={version} under {d}"
            )
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def read_committed(self, spark: SparkSession, table: str) -> Optional[DataFrame]:
        m = self.load_manifest()
        if m is None or table not in m.tables:
            return None
        return self.read_table(spark, table, m.tables[table])

    # -- lifecycle (Iceberg expire_snapshots / rewrite_data_files twins) -------
    def list_versions(self, table: str) -> list[int]:
        d = os.path.join(self.root, table)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.startswith("v=") and not name.endswith("_tmp"):
                try:
                    out.append(int(name[2:]))
                except ValueError:
                    pass
        return sorted(out)

    def expire_snapshots(self, keep_last: int = 2) -> Dict[str, list]:
        """Delete old table versions, Iceberg ``expire_snapshots`` style:
        per table, keep the newest ``keep_last`` versions AND always the
        manifest-committed one (resume safety — the committed version is
        never expired regardless of age or keep_last). Returns
        {table: [expired versions]}. A long crawl otherwise accumulates one
        full copy of frontier/url_seen/docs per round — at 10^10 urls that
        is the dominant storage cost, so expiry is part of the round loop's
        ops story, not an afterthought."""
        m = self.load_manifest()
        committed = m.tables if m else {}
        expired: Dict[str, list] = {}
        for name in os.listdir(self.root):
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            versions = self.list_versions(name)
            keep = set(versions[-max(keep_last, 1):])
            if name in committed:
                keep.add(committed[name])
            drop = [v for v in versions if v not in keep]
            for v in drop:
                shutil.rmtree(self._table_dir(name, v))
            if drop:
                expired[name] = drop
        return expired

    def compact_table(
        self,
        spark: SparkSession,
        table: str,
        target_rows_per_file: int = 5_000_000,
    ) -> int:
        """Rewrite the committed version of ``table`` into few large files
        (Iceberg ``rewrite_data_files`` twin) and commit the rewrite as a new
        version. Incremental appends leave a small-files problem — every
        round adds part files, and at scale scan planning + open() overhead
        grows with file count, not bytes. Returns the new committed version;
        the old version stays on disk until ``expire_snapshots``.

        Row-preserving by construction (coalesce only merges partitions); the
        file count is ceil(rows / target_rows_per_file) with rows read from
        parquet footers (no cluster pass)."""
        m = self.load_manifest()
        if m is None or table not in m.tables:
            raise FileNotFoundError(f"table {table!r} has no committed version")
        cur = m.tables[table]
        rows = self.count_table(table, cur)
        n_files = max(1, -(-rows // target_rows_per_file))
        df = self.read_table(spark, table, cur).coalesce(n_files)
        new = max(self.list_versions(table)) + 1
        self.write_table(df, table, new)
        m.tables[table] = new
        self.commit(m)
        return new


def reset(store: SnapshotStore) -> None:
    """LinkQueue.init() semantics at table level (F4 —
    crawler/InMemoryLinkQueue.java:54-59): clear every state table AND the
    manifest, allowing all URLs to be re-enqueued in a fresh crawl."""
    for name in os.listdir(store.root):
        p = os.path.join(store.root, name)
        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.remove(p)


class InvertedDocStore:
    """The Elasticsearch replacement (SURVEY §2.6): a deterministically
    partitioned inverted-doc table with MERGE-style upsert by doc id.

    - id is sha256(url) (README.md:68 designed it so) — deterministic, so
      re-indexing a crawl is idempotent;
    - rows are hash-partitioned on id into ``n_buckets`` (write-side
      ``repartition(bucket)``), giving stable layout + bucket pruning for
      id lookups at scale;
    - upsert = anti-join old by id + union new (S1,
      elasticsearch/ElasticRestClient.java:201-219); get/scan mirror S2/S3.
    """

    TABLE = "inverted_docs"

    def __init__(self, store: SnapshotStore, n_buckets: int = 64) -> None:
        self.store = store
        self.n_buckets = n_buckets

    def _bucket(self, id_col):
        from pyspark.sql import functions as F

        return F.pmod(
            F.conv(F.substring(id_col, 1, 15), 16, 10).cast("long"),
            F.lit(self.n_buckets),
        ).cast("int")

    def upsert(self, spark: SparkSession, docs: DataFrame, version: int) -> int:
        """MERGE INTO … ON id: new rows win; returns the committed version."""
        from pyspark.sql import functions as F

        batch = docs.withColumn("_bucket", self._bucket(F.col("id")))
        current = self.read(spark)
        if current is not None:
            keep = current.join(batch.select("id"), "id", "left_anti")
            merged = keep.unionByName(batch)
        else:
            merged = batch
        merged = merged.repartition(self.n_buckets, "_bucket")
        self.store.write_table(merged, self.TABLE, version)
        m = self.store.load_manifest() or Manifest()
        m.tables[self.TABLE] = version
        self.store.commit(m)
        return version

    def read(self, spark: SparkSession) -> Optional[DataFrame]:
        return self.store.read_committed(spark, self.TABLE)

    def get(self, spark: SparkSession, doc_id: str) -> Optional[dict]:
        """S2 getDocument: id lookup (bucket-prunable: the predicate pins one
        hash bucket)."""
        from pyspark.sql import functions as F

        t = self.read(spark)
        if t is None:
            return None
        rows = (
            t.filter(
                (F.col("_bucket") == self._bucket(F.lit(doc_id)))
                & (F.col("id") == doc_id)
            )
            .limit(1)
            .collect()
        )
        return rows[0].asDict() if rows else None

    def scan(self, spark: SparkSession, limit: int = 1000) -> DataFrame:
        """S3 searchAll: match_all with the reference's hardcoded size
        (ElasticRestClient.java:260)."""
        t = self.read(spark)
        if t is None:
            raise FileNotFoundError("inverted_docs table not committed")
        return t.limit(limit)
