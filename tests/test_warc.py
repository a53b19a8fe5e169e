"""WET record ingest (sources/warc.py) — hand-built real-shaped files,
write→read round trip, framing contract, and plan shape."""

import pytest
from pyspark.sql import functions as F

from apache_cassandra_spark.sources import warc


def _wet_bytes(records):
    """Build a literal WET file: records = [(type, uri, date, payload)]."""
    parts = []
    for rtype, uri, date, payload in records:
        headers = [f"WARC-Type: {rtype}"]
        if uri:
            headers.append(f"WARC-Target-URI: {uri}")
        if date:
            headers.append(f"WARC-Date: {date}")
        headers.append(f"Content-Length: {len(payload.encode('utf-8'))}")
        parts.append(
            "WARC/1.0\r\n" + "\r\n".join(headers) + "\r\n\r\n" + payload + "\r\n\r\n"
        )
    return "".join(parts)


@pytest.fixture()
def wet_file(tmp_path):
    content = _wet_bytes(
        [
            ("warcinfo", None, "2013-01-01T00:00:00Z", "software: test-crawler"),
            (
                "conversion",
                "http://example.com/a",
                "2013-01-01T00:00:01Z",
                "hello corpus",
            ),
            (
                "conversion",
                "http://example.com/b",
                "2013-01-01T00:00:02Z",
                "two\r\nlines here",
            ),
            ("conversion", "http://example.com/unicode", None, "café über"),
        ]
    )
    p = tmp_path / "part.wet"
    p.write_bytes(content.encode("utf-8"))
    return str(p)


def test_read_wet_parses_conversion_records(spark, wet_file):
    rows = {r["target_uri"]: r for r in warc.read_wet(spark, wet_file).collect()}
    assert set(rows) == {
        "http://example.com/a",
        "http://example.com/b",
        "http://example.com/unicode",
    }
    a = rows["http://example.com/a"]
    assert a["warc_type"] == "conversion"
    assert a["warc_date"] == "2013-01-01T00:00:01Z"
    assert a["text"] == "hello corpus"
    assert a["content_length"] == 12 and a["framing_ok"]
    # interior CRLF survives; only the record-separator tail is trimmed
    assert rows["http://example.com/b"]["text"] == "two\r\nlines here"
    assert rows["http://example.com/b"]["framing_ok"]


def test_read_wet_utf8_content_length_is_bytes(spark, wet_file):
    r = {r["target_uri"]: r for r in warc.read_wet(spark, wet_file).collect()}[
        "http://example.com/unicode"
    ]
    assert r["text"] == "café über"
    assert r["content_length"] == len("café über".encode("utf-8"))
    assert r["framing_ok"]
    assert r["warc_date"] == ""  # absent header -> empty, not NULL-crash


def test_read_wet_record_type_filter(spark, wet_file):
    all_types = warc.read_wet(spark, wet_file, record_types=())
    assert all_types.count() == 4
    assert (
        all_types.where(F.col("warc_type") == "warcinfo").collect()[0]["text"]
        == "software: test-crawler"
    )


def test_framing_flags_payload_trailing_crlf(spark, tmp_path):
    # a payload ENDING in CRLF is indistinguishable from the separator;
    # the trim loses it and framing_ok must say so
    content = _wet_bytes(
        [("conversion", "http://x.com/", "2013-01-01T00:00:00Z", "tail\r\n")]
    )
    p = tmp_path / "tail.wet"
    p.write_bytes(content.encode("utf-8"))
    r = warc.read_wet(spark, str(p)).collect()[0]
    assert r["text"] == "tail" and not r["framing_ok"]


def test_framing_flags_embedded_magic(spark, tmp_path):
    # delimiter collision: payload containing the record magic splits
    # early; the fragment fails the declared-length check
    content = _wet_bytes(
        [
            (
                "conversion",
                "http://y.com/",
                "2013-01-01T00:00:00Z",
                "before WARC/1.0\r\nafter",
            )
        ]
    )
    p = tmp_path / "magic.wet"
    p.write_bytes(content.encode("utf-8"))
    rows = warc.read_wet(spark, str(p)).collect()
    assert len(rows) == 1  # the tail fragment has no WARC-Type header
    assert not rows[0]["framing_ok"]


def test_wet_round_trip(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "http://a.com/1", "alpha beta"),
            (2, "http://a.com/2", "gamma\r\ndelta"),
            (3, None, "dropped: no uri"),
            (4, "http://a.com/4", None),
        ],
        "doc_id long, url string, text string",
    )
    out = str(tmp_path / "wet_out")
    warc.write_wet(docs, out)
    back = warc.read_wet(spark, out)
    rows = {r["target_uri"]: r for r in back.collect()}
    assert set(rows) == {"http://a.com/1", "http://a.com/2"}
    assert rows["http://a.com/1"]["text"] == "alpha beta"
    assert rows["http://a.com/2"]["text"] == "gamma\r\ndelta"
    assert all(r["framing_ok"] for r in rows.values())
    assert all(r["warc_date"] == "2013-01-01T00:00:00Z" for r in rows.values())


def test_empty_header_value_does_not_swallow_next_line(spark, tmp_path):
    # an empty-valued header is legal WARC; \s* would cross the CRLF and
    # return the NEXT header as the value
    content = (
        "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI:\r\n"
        "WARC-Date: 2013-01-01T00:00:00Z\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    )
    p = tmp_path / "empty_uri.wet"
    p.write_bytes(content.encode())
    r = warc.read_wet(spark, str(p)).collect()[0]
    assert r["target_uri"] == ""
    assert r["warc_date"] == "2013-01-01T00:00:00Z"
    assert r["text"] == "hi" and r["framing_ok"]


def test_missing_content_length_flags_false_not_null(spark, tmp_path):
    content = (
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Target-URI: http://x.com/\r\n\r\npayload\r\n\r\n"
    )
    p = tmp_path / "nolen.wet"
    p.write_bytes(content.encode())
    r = warc.read_wet(spark, str(p)).collect()[0]
    assert r["framing_ok"] is False  # false, never NULL
    assert r["content_length"] is None


def test_write_wet_null_date_falls_back_not_vanishes(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "http://a.com/1", "alpha", "2014-02-02T00:00:00Z"), (2, "http://a.com/2", "beta", None)],
        "doc_id long, url string, text string, fetched string",
    )
    out = str(tmp_path / "wet_dates")
    warc.write_wet(docs, out, date_col="fetched")
    rows = {r["target_uri"]: r for r in warc.read_wet(spark, out).collect()}
    assert rows["http://a.com/1"]["warc_date"] == "2014-02-02T00:00:00Z"
    # NULL date must not NULL the concat and silently drop the record
    assert rows["http://a.com/2"]["warc_date"] == "2013-01-01T00:00:00Z"
    assert rows["http://a.com/2"]["text"] == "beta"


def test_write_wet_strips_crlf_header_injection(spark, tmp_path):
    """A URI (or date) containing a bare CRLF must not inject a spoofed
    header line: write_wet strips [\\r\\n] from header values, so the
    record reads back whole — full payload, framing_ok true — with the
    control characters removed from the URI rather than splitting it."""
    evil = "http://a.com/x\r\nWARC-Type: warcinfo\r\nX-Spoof: 1"
    docs = spark.createDataFrame(
        [(1, evil, "payload stays intact", "2014-01-01T00:00:00Z\r\nX: y")],
        "doc_id long, url string, text string, fetched string",
    )
    out = str(tmp_path / "wet_inj")
    warc.write_wet(docs, out, date_col="fetched")
    rows = warc.read_wet(spark, out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["warc_type"] == "conversion"  # not the spoofed warcinfo
    assert r["target_uri"] == "http://a.com/xWARC-Type: warcinfoX-Spoof: 1"
    assert r["warc_date"] == "2014-01-01T00:00:00ZX: y"
    assert r["text"] == "payload stays intact"
    assert r["framing_ok"] is True


def test_read_wet_stream_matches_batch(spark, tmp_path):
    """The streaming reader (shared parse expressions) must emit exactly
    the batch reader's rows; maxFilesPerTrigger=1 forces one shard per
    micro-batch to prove incremental per-file ingest."""
    src = tmp_path / "wet_src"
    src.mkdir()
    for i in range(3):
        records = [("warcinfo", None, None, f"software: crawler-{i}")] + [
            (
                "conversion",
                f"http://s{i}.com/p{j}",
                "2013-01-01T00:00:00Z",
                f"payload {i} {j}",
            )
            for j in range(4)
        ]
        (src / f"shard{i}.wet").write_bytes(_wet_bytes(records).encode())

    batch = {
        (r["target_uri"], r["text"], r["framing_ok"])
        for r in warc.read_wet(spark, str(src)).collect()
    }
    q = (
        warc.read_wet_stream(spark, str(src), max_files_per_trigger=1)
        .writeStream.format("memory")
        .queryName("wet_stream_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["target_uri"], r["text"], r["framing_ok"])
            for r in spark.sql("select * from wet_stream_t").collect()
        }
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert got == batch and len(got) == 12
    assert n_batches >= 3  # one file per trigger -> at least 3 micro-batches


def test_read_wet_is_map_only(spark, wet_file):
    plan = warc.read_wet(spark, wet_file)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


@pytest.mark.parametrize("bad", [0, -1])
def test_read_warc_rejects_bad_num_partitions(spark, tmp_path, bad):
    """A width below 1 fails up front with the argument named, not
    inside Spark's repartition."""
    with pytest.raises(ValueError, match="num_partitions"):
        warc.read_warc(spark, str(tmp_path), num_partitions=bad)
