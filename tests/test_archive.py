"""Tar archive source round-trip (sources/archive.py — the literal S7
reference format, eval_zeshel_gcp.py:86-89)."""

import io
import tarfile

from entity_linking_spark.sources.archive import read_tar_members


def _make_tar(path, members, mode="w:gz"):
    with tarfile.open(path, mode) as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
        # a directory member — must NOT surface as a row
        d = tarfile.TarInfo(name="docs")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)


def test_tar_members_round_trip(spark, tmp_path):
    members_a = {
        "docs/one.json": b'{"id": 1}',
        "docs/two.txt": b"hello tar",
    }
    members_b = {"notes/three.json": b'{"id": 3}' * 100}
    _make_tar(str(tmp_path / "a.tar.gz"), members_a)
    _make_tar(str(tmp_path / "b.tar.gz"), members_b)

    df = read_tar_members(spark, str(tmp_path / "*.tar.gz"))
    rows = {r["path"]: r for r in df.collect()}
    expect = {**members_a, **members_b}
    assert set(rows) == set(expect)
    for p, data in expect.items():
        assert bytes(rows[p]["content"]) == data
        assert rows[p]["size"] == len(data)
    assert rows["docs/one.json"]["archive"].endswith("a.tar.gz")
    assert rows["notes/three.json"]["archive"].endswith("b.tar.gz")


def test_tar_member_glob_filters_executor_side(spark, tmp_path):
    _make_tar(
        str(tmp_path / "c.tar.gz"),
        {"x/a.json": b"{}", "x/b.txt": b"no", "y/c.json": b"[]"},
    )
    df = read_tar_members(spark, str(tmp_path / "c.tar.gz"), member_glob="*.json")
    assert sorted(r["path"] for r in df.collect()) == ["x/a.json", "y/c.json"]


def test_uncompressed_tar_autodetected(spark, tmp_path):
    _make_tar(str(tmp_path / "plain.tar"), {"f.bin": b"\x00\x01\x02"}, mode="w")
    [row] = read_tar_members(spark, str(tmp_path / "plain.tar")).collect()
    assert bytes(row["content"]) == b"\x00\x01\x02"


def test_warc_roundtrip_both_layouts():
    """encode -> decode is identity for plain and per-record-gzip
    streams, response HTTP envelopes split off, non-response records
    keep their raw block."""
    from entity_linking_spark.sources.warc import decode_warc, encode_warc

    records = [
        {"record_type": "warcinfo", "url": "", "warc_date": "2024-01-01T00:00:00Z",
         "http_headers": "", "payload": b"software: test"},
        {"record_type": "response", "url": "http://ex.org/a",
         "warc_date": "2024-01-02T00:00:00Z",
         "http_headers": "HTTP/1.1 200 OK\r\nContent-Type: text/html",
         "payload": b"<html>hello</html>"},
        {"record_type": "request", "url": "http://ex.org/a",
         "warc_date": "2024-01-02T00:00:00Z", "http_headers": "",
         "payload": b"GET /a HTTP/1.1"},
    ]
    for gz in (False, True):
        got = decode_warc(encode_warc(records, per_record_gzip=gz))
        assert [r["record_type"] for r in got] == ["warcinfo", "response", "request"]
        assert got[1]["url"] == "http://ex.org/a"
        assert got[1]["payload"] == b"<html>hello</html>"
        assert got[1]["http_headers"].startswith("HTTP/1.1 200 OK")
        assert got[0]["payload"] == b"software: test"
        assert got[2]["payload"] == b"GET /a HTTP/1.1"


def test_warc_malformed_raises():
    import pytest

    from entity_linking_spark.sources.warc import decode_warc, encode_warc

    rec = [{"record_type": "resource", "url": "u", "warc_date": "d",
            "http_headers": "", "payload": b"0123456789"}]
    blob = encode_warc(rec)
    with pytest.raises(ValueError, match="version"):
        decode_warc(b"NOTWARC/1.0\r\n\r\n")
    with pytest.raises(ValueError, match="truncated"):
        decode_warc(blob[:-8])
    # a header block with no CRLFCRLF terminator names its start offset,
    # not a bare "subsection not found" from bytes.index
    with pytest.raises(
        ValueError,
        match=f"unterminated header block at byte {len(blob)}",
    ):
        decode_warc(blob + b"WARC/1.0\r\nContent-Length: 3\r\n")


def test_read_warc_records_from_files(spark, tmp_path):
    """binaryFile glob -> one row per record across multiple archives."""
    from entity_linking_spark.sources.warc import encode_warc, read_warc_records

    for i, gz in ((0, False), (1, True)):
        recs = [{"record_type": "resource", "url": f"http://ex.org/{i}/{j}",
                 "warc_date": "2024-01-01T00:00:00Z", "http_headers": "",
                 "payload": f"body {i} {j}".encode()} for j in range(3)]
        ext = "warc.gz" if gz else "warc"
        (tmp_path / f"part{i}.{ext}").write_bytes(
            encode_warc(recs, per_record_gzip=gz))
    out = read_warc_records(spark, str(tmp_path / "*.warc*"))
    rows = out.collect()
    assert len(rows) == 6
    urls = {r["url"] for r in rows}
    assert urls == {f"http://ex.org/{i}/{j}" for i in (0, 1) for j in range(3)}
    assert all(bytes(r["payload"]).startswith(b"body ") for r in rows)
    assert all(r["n_bytes"] == len(bytes(r["payload"])) for r in rows)


def test_docs_from_response_records_feeds_clean_corpus(spark, tmp_path):
    """WARC -> corpus bridge -> cleaning pipeline end-to-end: recrawls
    of one canonical URL collapse at the URL-dedup stage."""
    from entity_linking_spark.operators._cache import cache_scope
    from entity_linking_spark.plans.corpus_clean import CleanConfig, clean_corpus
    from entity_linking_spark.sources.warc import (
        docs_from_response_records, encode_warc, read_warc_records,
    )

    recs = []
    for j, (url, date) in enumerate([
        ("http://ex.org/a?utm_source=x", "2024-01-01T00:00:00Z"),
        ("http://ex.org/a", "2024-02-01T00:00:00Z"),  # recrawl, same canon
        ("http://ex.org/b", "2024-01-01T00:00:00Z"),
    ]):
        recs.append({
            "record_type": "response", "url": url, "warc_date": date,
            "http_headers": "HTTP/1.1 200 OK",
            "payload": " ".join(f"p{j}w{k}" for k in range(8)).encode(),
        })
    recs.append({"record_type": "warcinfo", "url": "", "warc_date": "",
                 "http_headers": "", "payload": b"meta"})
    (tmp_path / "crawl.warc").write_bytes(encode_warc(recs))

    docs = docs_from_response_records(
        read_warc_records(spark, str(tmp_path / "crawl.warc")))
    assert docs.count() == 3  # warcinfo filtered out
    with cache_scope():
        out, report = clean_corpus(
            docs, None, CleanConfig(min_tokens=3, near_dup_threshold=0.99))
        urls = {r["url"] for r in out.collect()}
    assert report["rows_in"] == 3
    assert report["url_dedup"] == 2
    assert urls == {"http://ex.org/a?utm_source=x", "http://ex.org/b"} or \
           urls == {"http://ex.org/a", "http://ex.org/b"}


def test_docs_from_response_records_decodes_invalid_utf8(spark, tmp_path):
    """Invalid UTF-8 in a response body becomes U+FFFD inside Spark, not
    a string carrying the raw bytes (collect() alone would hide those:
    the JVM-to-Python conversion replaces them on the way out)."""
    from pyspark.sql import functions as F

    from entity_linking_spark.sources.warc import (
        docs_from_response_records, encode_warc, read_warc_records,
    )

    body = b"caf\xe9 ok \xff\xfe end \xc3\xa9"  # latin-1 é, stray bytes, valid é
    (tmp_path / "bad.warc").write_bytes(encode_warc([{
        "record_type": "response", "url": "http://ex.org/x",
        "warc_date": "2024-01-01T00:00:00Z",
        "http_headers": "HTTP/1.1 200 OK", "payload": body,
    }]))
    docs = docs_from_response_records(
        read_warc_records(spark, str(tmp_path / "bad.warc")))
    [row] = docs.select(
        "text", F.is_valid_utf8("text").alias("valid"),
        F.octet_length("text").alias("n_bytes"),
    ).collect()
    assert row["valid"]
    assert row["n_bytes"] == len(body.decode("utf-8", "replace").encode())
    assert row["text"] == body.decode("utf-8", "replace")
    assert row["text"].count("\ufffd") == 3 and row["text"].endswith("end \u00e9")


def test_same_second_revisits_get_distinct_ids(spark, tmp_path):
    """Two response records of one URL with the same WARC-Date (a
    revisit inside one second) — in one archive and across two archives
    — still get four distinct ids, stable across reads."""
    from entity_linking_spark.sources.warc import (
        docs_from_response_records, encode_warc, read_warc_records,
    )

    recs = [{"record_type": "response", "url": "http://ex.org/a",
             "warc_date": "2024-01-01T00:00:00Z",
             "http_headers": "HTTP/1.1 200 OK",
             "payload": f"capture {j}".encode()} for j in range(2)]
    (tmp_path / "one.warc").write_bytes(encode_warc(recs))
    (tmp_path / "two.warc").write_bytes(encode_warc(recs))
    records = read_warc_records(spark, str(tmp_path / "*.warc"))
    assert sorted(r["record_ordinal"] for r in records.collect()) == [0, 0, 1, 1]
    ids = [r["id"] for r in docs_from_response_records(records).collect()]
    assert len(ids) == 4 and len(set(ids)) == 4
    again = {r["id"] for r in docs_from_response_records(records).collect()}
    assert again == set(ids)


def test_cli_clean_warc_mode(spark, tmp_path, capsys):
    """cli.py clean --warc cleans a crawl archive end-to-end."""
    import json as _json

    from entity_linking_spark.cli import main as cli_main
    from entity_linking_spark.sources.warc import encode_warc

    recs = [{"record_type": "response", "url": f"http://ex.org/{j}",
             "warc_date": "2024-01-01T00:00:00Z",
             "http_headers": "HTTP/1.1 200 OK",
             "payload": " ".join(f"w{j}x{k}" for k in range(8)).encode()}
            for j in range(4)]
    (tmp_path / "c.warc").write_bytes(encode_warc(recs))
    out = str(tmp_path / "clean")
    rc = cli_main(["clean", "--docs", str(tmp_path / "c.warc"), "--warc",
                   "--out", out, "--min-tokens", "3"])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out)["report"]
    assert rep["rows_in"] == 4 and rep["rows_out"] == 4
    assert spark.read.parquet(out).count() == 4
