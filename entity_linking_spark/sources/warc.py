"""WARC (Web ARChive, ISO 28500) ingest — the format Common Crawl
actually ships, parsed with stdlib bytes handling only.

Same plan shape as the tar source (`sources/archive.py`):
``binaryFile`` reads whole .warc / .warc.gz files (one task per
archive — per-record gzip members have no Spark split points, so the
archive is the parallelism unit; web-corpus distributors already shard
at ~1 GB), then ONE ``mapInPandas`` walks each archive with
``decode_warc``.  Record bytes stay columnar from the first Arrow
batch on.

``decode_warc`` handles the two layouts in the wild: plain
concatenated records, and the standard per-record-gzip-member layout
(Python's ``gzip.decompress`` inflates concatenated members in one
call).  For ``response`` records the HTTP envelope is split off so
``payload`` is the document body; the raw HTTP headers are preserved
in ``http_headers`` for status/content-type filtering.
"""

from __future__ import annotations

import gzip

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

WARC_RECORD_SCHEMA = (
    "archive string, record_ordinal int, record_type string, url string, "
    "warc_date string, http_headers string, payload binary, n_bytes bigint"
)

_GZIP_MAGIC = b"\x1f\x8b"


def decode_warc(content: bytes) -> list[dict]:
    """Parse a WARC byte stream into record dicts.

    Each record: ``WARC/x.y`` version line, header lines to a blank
    line, ``Content-Length`` octets of block, then CRLF CRLF.  Headers
    are case-insensitive per the spec.  A ``response`` record's block
    is an HTTP message — headers split off at the first CRLFCRLF.
    Raises ValueError on a malformed stream (bad magic, unterminated
    header block, missing Content-Length, truncated block) rather than
    silently dropping
    tail records."""
    if content[:2] == _GZIP_MAGIC:
        content = gzip.decompress(content)
    records: list[dict] = []
    pos, n = 0, len(content)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and content[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not content[pos:pos + 5] == b"WARC/":
            raise ValueError(f"malformed WARC: expected version at byte {pos}")
        hdr_end = content.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(
                f"malformed WARC: unterminated header block at byte {pos}"
            )
        headers: dict[str, str] = {}
        lines = content[pos:hdr_end].decode("utf-8", "replace").split("\r\n")
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        if "content-length" not in headers:
            raise ValueError("malformed WARC: record missing Content-Length")
        length = int(headers["content-length"])
        block_start = hdr_end + 4
        if block_start + length > n:
            raise ValueError("truncated WARC: block extends past stream end")
        block = content[block_start:block_start + length]
        rtype = headers.get("warc-type", "")
        http_headers = ""
        payload = block
        if rtype == "response" and block[:5] in (b"HTTP/",):
            split = block.find(b"\r\n\r\n")
            if split >= 0:
                http_headers = block[:split].decode("utf-8", "replace")
                payload = block[split + 4:]
        records.append({
            "record_type": rtype,
            "url": headers.get("warc-target-uri", ""),
            "warc_date": headers.get("warc-date", ""),
            "http_headers": http_headers,
            "payload": payload,
        })
        pos = block_start + length
    return records


def encode_warc(records: list[dict], per_record_gzip: bool = False) -> bytes:
    """Fixture/round-trip twin of ``decode_warc``: record dicts (same
    keys) back to a WARC byte stream, optionally in the standard
    per-record-gzip-member layout."""
    parts = []
    for r in records:
        payload = bytes(r.get("payload", b""))
        if r.get("record_type") == "response" and r.get("http_headers"):
            block = r["http_headers"].encode() + b"\r\n\r\n" + payload
        else:
            block = payload
        head = (
            "WARC/1.0\r\n"
            f"WARC-Type: {r.get('record_type', 'resource')}\r\n"
            f"WARC-Target-URI: {r.get('url', '')}\r\n"
            f"WARC-Date: {r.get('warc_date', '')}\r\n"
            f"Content-Length: {len(block)}\r\n\r\n"
        ).encode()
        rec = head + block + b"\r\n\r\n"
        parts.append(gzip.compress(rec) if per_record_gzip else rec)
    return b"".join(parts)


def _expand_warcs(batches):
    for pdf in batches:
        out: dict[str, list] = {
            "archive": [], "record_ordinal": [], "record_type": [], "url": [],
            "warc_date": [], "http_headers": [], "payload": [], "n_bytes": [],
        }
        for apath, data in zip(pdf["path"], pdf["content"]):
            for ordinal, rec in enumerate(decode_warc(bytes(data))):
                out["archive"].append(apath)
                out["record_ordinal"].append(ordinal)
                out["record_type"].append(rec["record_type"])
                out["url"].append(rec["url"])
                out["warc_date"].append(rec["warc_date"])
                out["http_headers"].append(rec["http_headers"])
                out["payload"].append(rec["payload"])
                out["n_bytes"].append(len(rec["payload"]))
        yield pd.DataFrame({
            "archive": pd.Series(out["archive"], dtype=object),
            "record_ordinal": pd.Series(out["record_ordinal"], dtype="int32"),
            "record_type": pd.Series(out["record_type"], dtype=object),
            "url": pd.Series(out["url"], dtype=object),
            "warc_date": pd.Series(out["warc_date"], dtype=object),
            "http_headers": pd.Series(out["http_headers"], dtype=object),
            "payload": pd.Series(out["payload"], dtype=object),
            "n_bytes": pd.Series(out["n_bytes"], dtype="int64"),
        })


def read_warc_records(spark: SparkSession, path_glob: str) -> DataFrame:
    """(archive, record_ordinal, record_type, url, warc_date,
    http_headers, payload, n_bytes) — one row per WARC record across
    every archive matching ``path_glob``; ``record_ordinal`` is the
    record's 0-based position in its archive."""
    archives = spark.read.format("binaryFile").load(path_glob)
    return archives.select("path", "content").mapInPandas(
        _expand_warcs, WARC_RECORD_SCHEMA
    )


def warc_records_from_binary(df: DataFrame, content_col: str = "content",
                             archive_col: str = "archive") -> DataFrame:
    """Same expansion over an existing (archive, content) frame — for
    WARC bytes that arrive through the catalog or another source rather
    than the filesystem."""
    from pyspark.sql import functions as F

    base = df.select(
        F.col(archive_col).alias("path"), F.col(content_col).alias("content")
    )
    return base.mapInPandas(_expand_warcs, WARC_RECORD_SCHEMA)


def docs_from_response_records(records: DataFrame) -> DataFrame:
    """Bridge WARC records to the hygiene pipeline's corpus shape:
    response records → (id, url, text), ready for
    ``plans/corpus_clean.py:clean_corpus`` (whose URL-dedup stage then
    collapses recrawls of the same canonical page).

    ``id`` is the xxhash64 of (url, warc_date, archive, record_ordinal)
    — deterministic across runs and distinct across recrawls of one url,
    including revisits captured in the same second (WARC-Date has
    one-second resolution).  Bodies decode as UTF-8 with replacement:
    invalid byte sequences become U+FFFD (charset sniffing beyond UTF-8
    is a decoder seam, same policy as the HTTP envelope split)."""
    from pyspark.sql import functions as F

    return records.where(F.col("record_type") == "response").select(
        F.xxhash64("url", "warc_date", "archive", "record_ordinal").alias("id"),
        "url",
        F.make_valid_utf8(F.col("payload").cast("string")).alias("text"),
    )
