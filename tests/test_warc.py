"""WARC source (sources/warc.py): pure-bytes kernel unit tests plus the
distributed binaryFile read path."""

import gzip
import os

import pytest

from webcrawler_spark.sources.warc import (
    iter_warc_records,
    parse_http_response,
    parse_warc_shard,
    read_warc_files,
    warc_record_bytes,
    warc_to_pages,
    write_warc_bytes,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_roundtrip_single_raw_record():
    raw = warc_record_bytes(
        "https://x.test/a", "2025-01-02T03:04:05Z", b"<html>hi</html>",
        gzip_member=False,
    )
    rows = parse_warc_shard(raw)
    assert len(rows) == 1
    r = rows[0]
    assert r["url"] == "https://x.test/a"
    assert r["warc_ts"] == "2025-01-02T03:04:05Z"
    assert r["http_status"] == 200
    assert r["content_type"] == "text/html"
    assert r["payload"] == b"<html>hi</html>"
    assert r["payload_len"] == 15
    assert r["record_offset"] == 0


def test_multi_member_gzip_shard():
    shard = write_warc_bytes(
        [
            ("https://x.test/1", "2025-01-01T00:00:00Z", b"one"),
            ("https://x.test/2", "2025-01-01T00:00:01Z", b"two two"),
            ("https://x.test/3", "2025-01-01T00:00:02Z", b""),
        ]
    )
    # really multiple gzip members, as Common Crawl lays them out
    assert shard.count(b"\x1f\x8b\x08") >= 3
    rows = parse_warc_shard(shard)
    assert [r["url"][-1] for r in rows] == ["1", "2", "3"]
    assert [r["payload"] for r in rows] == [b"one", b"two two", b""]
    # member offsets are increasing byte positions in the compressed shard
    offs = [r["record_offset"] for r in rows]
    assert offs == sorted(offs) and offs[0] == 0 and offs[1] > 0


def test_non_response_records_skipped():
    req = warc_record_bytes(
        "https://x.test/a", "2025-01-01T00:00:00Z",
        b"GET /a HTTP/1.1\r\nHost: x.test\r\n\r\n",
        record_type="request", gzip_member=False,
    )
    meta = warc_record_bytes(
        "https://x.test/a", "2025-01-01T00:00:00Z", b"fetchTimeMs: 12",
        record_type="metadata", gzip_member=False,
    )
    resp = warc_record_bytes(
        "https://x.test/a", "2025-01-01T00:00:00Z", b"body", gzip_member=False
    )
    rows = parse_warc_shard(req + resp + meta)
    assert len(rows) == 1 and rows[0]["payload"] == b"body"


def test_malformed_prefix_resyncs_and_truncated_tail_stops():
    good = warc_record_bytes(
        "https://x.test/ok", "2025-01-01T00:00:00Z", b"fine", gzip_member=False
    )
    garbage = b"NOT A WARC AT ALL\r\n\r\n"
    truncated = warc_record_bytes(
        "https://x.test/cut", "2025-01-01T00:00:00Z", b"x" * 100, gzip_member=False
    )[:-60]
    rows = parse_warc_shard(garbage + good + truncated)
    assert [r["url"] for r in rows] == ["https://x.test/ok"]


def test_non_200_and_non_http_payloads():
    nf = warc_record_bytes(
        "https://x.test/404", "2025-01-01T00:00:00Z", b"gone", http_status=404,
        gzip_member=False,
    )
    rows = parse_warc_shard(nf)
    assert rows[0]["http_status"] == 404 and rows[0]["payload"] == b"gone"
    status, ctype, body = parse_http_response(b"plain payload, no envelope")
    assert status is None and ctype is None and body == b"plain payload, no envelope"


def test_iter_warc_records_bad_content_length_skipped():
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n"
        b"Content-Length: nope\r\n\r\n"
    )
    good = warc_record_bytes("https://x.test/g", "2025-01-01T00:00:00Z", b"y",
                             gzip_member=False)
    recs = list(iter_warc_records(bad + good))
    assert len(recs) == 1 and recs[0][1]["warc-target-uri"] == "https://x.test/g"


def test_read_warc_files_binaryfile_path(spark, tmp_path):
    shard_a = write_warc_bytes(
        [("https://a.test/%d" % i, "2025-01-01T00:00:00Z", b"A%d" % i) for i in range(5)]
    )
    shard_b = write_warc_bytes(
        [("https://b.test/%d" % i, "2025-01-01T00:00:00Z", b"B%d" % i) for i in range(3)],
        gzip_members=False,
    )
    (tmp_path / "a.warc.gz").write_bytes(shard_a)
    (tmp_path / "b.warc").write_bytes(shard_b)
    recs = read_warc_files(spark, str(tmp_path))
    got = {r["url"]: bytes(r["payload"]) for r in recs.collect()}
    assert len(got) == 8
    assert got["https://a.test/4"] == b"A4" and got["https://b.test/0"] == b"B0"

    pages = warc_to_pages(recs)
    assert [f.name for f in pages.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    row = pages.filter(pages.url == "https://a.test/0").collect()[0]
    assert row["warc_ts"] is not None and bytes(row["html"]) == b"A0"


def test_entry_roundtrip_matches_duckdb_oracle(spark):
    import duckdb

    import __spark_entry__ as entry

    got = {
        r["url"]: (r["warc_ts"], r["http_status"], r["content_type"],
                   r["payload_len"], r["payload_sha"])
        for r in entry.q_warc_roundtrip(spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    con.execute(f"create view documents as select * from '{SF_DIR}/documents.parquet'")
    want = {r[0]: tuple(r[1:]) for r in con.execute(entry._WARC_SQL).fetchall()}
    assert len(got) == len(want) > 0
    assert got == want
