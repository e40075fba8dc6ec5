"""Storage-level operator parity: F4 queue reset, S1 merge-upsert,
S2 get-by-id, S3 scan-limit (SURVEY §2.1/§2.6)."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def store(tmp_path):
    from webcrawler_spark.storage import SnapshotStore

    return SnapshotStore(str(tmp_path / "state"))


def _docs(spark, rows):
    return spark.createDataFrame(
        [{"id": i, "url": u, "title": t} for i, u, t in rows],
        "id string, url string, title string",
    )


def test_reset_clears_tables_and_manifest(spark, store):
    from webcrawler_spark.storage import Manifest, reset

    store.write_table(_docs(spark, [("a", "u1", "t1")]), "url_seen", 0)
    m = Manifest(committed_round=0, tables={"url_seen": 0})
    store.commit(m)
    assert store.read_committed(spark, "url_seen") is not None

    reset(store)
    assert store.load_manifest() is None
    assert store.read_committed(spark, "url_seen") is None


def test_inverted_doc_upsert_get_scan(spark, store):
    from webcrawler_spark.storage import InvertedDocStore

    idx = InvertedDocStore(store, n_buckets=8)
    idx.upsert(spark, _docs(spark, [("a" * 64, "u1", "t1"), ("b" * 64, "u2", "t2")]), 1)
    # S1: second batch overwrites id 'a', adds 'c'
    idx.upsert(spark, _docs(spark, [("a" * 64, "u1", "t1-v2"), ("c" * 64, "u3", "t3")]), 2)

    t = idx.read(spark)
    assert t.count() == 3
    got = {r["id"]: r["title"] for r in t.collect()}
    assert got["a" * 64] == "t1-v2" and got["c" * 64] == "t3"

    # S2: get by id
    assert idx.get(spark, "b" * 64)["title"] == "t2"
    assert idx.get(spark, "f" * 64) is None

    # S3: scan limit
    assert idx.scan(spark, limit=2).count() == 2

    # deterministic partitioning: bucket column present and stable
    b1 = {r["id"]: r["_bucket"] for r in t.collect()}
    idx.upsert(spark, _docs(spark, [("d" * 64, "u4", "t4")]), 3)
    b2 = {r["id"]: r["_bucket"] for r in idx.read(spark).collect()}
    assert all(b2[k] == v for k, v in b1.items())


def test_upsert_is_idempotent(spark, store):
    from webcrawler_spark.storage import InvertedDocStore

    idx = InvertedDocStore(store, n_buckets=8)
    batch = _docs(spark, [("a" * 64, "u1", "t1")])
    idx.upsert(spark, batch, 1)
    idx.upsert(spark, batch, 1)  # re-run of a crashed commit
    assert idx.read(spark).count() == 1


# ---------------------------------------------------------------------------
# S4/S5: index catalog — aliases, templates, ALTER-style settings
# (elasticsearch/ElasticRestClient.java:62-188)
# ---------------------------------------------------------------------------

def test_catalog_index_lifecycle(tmp_path):
    from webcrawler_spark.catalog import CatalogError, IndexCatalog
    from webcrawler_spark.storage import SnapshotStore

    cat = IndexCatalog(SnapshotStore(str(tmp_path / "cat")))
    assert cat.create_index("web-default") is True
    assert cat.create_index("web-default") is False  # createIndex: exists -> false
    cat.update_index("web-default", {"replicas": 2})  # ALTER
    assert cat.get_settings("web-default")["replicas"] == 2
    assert cat.delete_index("web-default") is True
    assert cat.delete_index("web-default") is False
    try:
        cat.update_index("nope", {})
        assert False
    except CatalogError:
        pass


def test_catalog_aliases_and_templates(tmp_path):
    from webcrawler_spark.catalog import IndexCatalog
    from webcrawler_spark.storage import SnapshotStore

    cat = IndexCatalog(SnapshotStore(str(tmp_path / "cat")))
    # template applies at CREATE time to matching names (composable template)
    cat.create_template(
        "web-tpl", ["web-*"], {"settings": {"n_buckets": 8}, "aliases": ["web-live"]}
    )
    cat.create_index("web-2025")
    assert cat.get_settings("web-2025")["n_buckets"] == 8
    assert cat.resolve("web-live") == "web-2025"
    # alias repoint (createAlias is create-or-update)
    cat.create_index("web-2026")
    cat.create_alias("web-2026", "web-live")
    assert cat.resolve("web-live") == "web-2026"
    # deleteAlias scoped to the index: wrong index -> no-op
    cat.delete_alias("web-2025", "web-live")
    assert cat.resolve("web-live") == "web-2026"
    cat.delete_alias("web-2026", "web-live")
    try:
        cat.resolve("web-live")
        assert False
    except Exception:
        pass
    # non-matching name gets no template settings
    cat.create_index("other")
    assert "n_buckets" not in cat.get_settings("other")
    cat.delete_template("web-tpl")


def test_catalog_docs_through_alias(spark, tmp_path):
    from pyspark.sql import functions as F

    from webcrawler_spark.catalog import IndexCatalog
    from webcrawler_spark.storage import SnapshotStore

    cat = IndexCatalog(SnapshotStore(str(tmp_path / "cat")))
    cat.create_index("web-a", {"settings": {"n_buckets": 4}})
    cat.create_alias("web-a", "live")
    docs = spark.createDataFrame(
        [("a" * 64, "u1", "t1"), ("b" * 64, "u2", "t2")], "id string, url string, title string"
    )
    store = cat.doc_store("live")  # resolves the alias
    store.upsert(spark, docs, version=0)
    got = cat.read(spark, "live")
    assert got is not None and got.count() == 2
    # index deletion drops data and unbinds the alias
    assert cat.delete_index("web-a") is True
    try:
        cat.read(spark, "live")
        assert False
    except Exception:
        pass


def test_count_table_missing_raises(tmp_path):
    """A never-written table version must raise, not report 0 rows — a failed
    docs write surfacing as docs:0 hides the failure (ADVICE r2)."""
    from webcrawler_spark.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "empty"))
    with pytest.raises(FileNotFoundError):
        store.count_table("docs", 3)


def test_expire_snapshots_keeps_committed_and_last_k(spark, tmp_path):
    from webcrawler_spark.storage import Manifest, SnapshotStore

    st = SnapshotStore(str(tmp_path / "s"))
    df = spark.range(10).toDF("x")
    for v in range(5):
        st.write_table(df, "frontier", v)
    # commit an OLD version (simulates resume pin) then expire keeping 2
    m = Manifest(committed_round=1, tables={"frontier": 1})
    st.commit(m)
    expired = st.expire_snapshots(keep_last=2)
    assert expired == {"frontier": [0, 2]}          # keeps v3, v4 (last 2) + v1 (committed)
    assert st.list_versions("frontier") == [1, 3, 4]
    # committed version still readable
    assert st.read_committed(spark, "frontier").count() == 10


def test_expire_snapshots_keeps_a_stopped_crawl_whole(tmp_path):
    """While the manifest carries a stop marker every version may be a resume
    input (the resume reads raw_docs of every round before the stop), so
    expiry deletes nothing; once a completed resume clears the marker,
    expiry keeps the last k and the committed versions again."""
    from webcrawler_spark.storage import Manifest, SnapshotStore

    st = SnapshotStore(str(tmp_path / "s"))
    for table, versions in (("raw_docs", (0, 1)), ("url_seen", (2,)), ("frontier", (2,))):
        for v in versions:
            os.makedirs(os.path.join(st.root, table, f"v={v}"))
    st.commit(
        Manifest(committed_round=1, tables={"url_seen": 2}, meta={"stopped_next_depth": 2})
    )
    assert st.expire_snapshots(keep_last=1) == {}
    assert st.list_versions("raw_docs") == [0, 1]

    m = st.load_manifest()
    del m.meta["stopped_next_depth"]
    st.commit(m)
    assert st.expire_snapshots(keep_last=1) == {"raw_docs": [0]}


def test_compact_table_preserves_rows_and_commits_new_version(spark, tmp_path):
    import glob

    from webcrawler_spark.storage import Manifest, SnapshotStore

    st = SnapshotStore(str(tmp_path / "s"))
    df = spark.range(1000).toDF("x").repartition(16)
    st.write_table(df, "docs", 0)
    st.commit(Manifest(committed_round=0, tables={"docs": 0}))
    assert len(glob.glob(f"{st.root}/docs/v=0/*.parquet")) == 16

    new = st.compact_table(spark, "docs", target_rows_per_file=600)
    assert new == 1
    files = glob.glob(f"{st.root}/docs/v=1/*.parquet")
    assert len(files) == 2                            # ceil(1000/600)
    got = st.read_committed(spark, "docs")
    assert got.count() == 1000
    assert sorted(r["x"] for r in got.collect()) == list(range(1000))
    # old version intact until expiry, then removed
    assert st.list_versions("docs") == [0, 1]
    assert st.expire_snapshots(keep_last=1) == {"docs": [0]}
