"""WET conversion records (functions/extract.py wet_records /
write_wet): the Common Crawl text-derivative sink.  The record
string's WARC contract is checked by PARSING it back (header/block
split on the blank line, Content-Length octets == the text block),
ids are checked for determinism + content-derivation, eligibility
must equal extract_text's, and the per-file sink layout mirrors the
one-WET-per-WARC convention.  The DuckDB side of the same derivation
is the driver query ``wet_records`` (``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

import os
import re

from cdx_writer_spark.functions.extract import (
    extract_text,
    wet_records,
    write_wet,
)
from cdx_writer_spark.pages_gen import _finalize, _row, http_block
from cdx_writer_spark.schema import PAGES_SCHEMA

_UUID = r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"


def _mk(spark, rows):
    return spark.createDataFrame(_finalize(rows), PAGES_SCHEMA)


def _parse(rec: str):
    """Split one WET record into (headers dict, block) per WARC 1.0:
    header lines to the first blank line, then Content-Length octets,
    then the two terminating CRLFs."""
    head, rest = rec.split("\r\n\r\n", 1)
    lines = head.split("\r\n")
    assert lines[0] == "WARC/1.0"
    hdrs = dict(ln.split(": ", 1) for ln in lines[1:])
    n = int(hdrs["Content-Length"])
    block = rest.encode("utf-8")[:n].decode("utf-8")
    assert rest.encode("utf-8")[n:] == b"\r\n\r\n", "bad record tail"
    return hdrs, block


def test_record_parses_and_block_matches_extraction(spark):
    payload = (b"<html><head><title>T</title></head>"
               b"<body>Hello <b>WET</b> world</body></html>")
    rows = [_row("http://wet.example.com/a",
                 html=http_block(payload=payload))]
    df = _mk(spark, rows)
    out = wet_records(df).collect()
    assert len(out) == 1
    r = out[0]
    hdrs, block = _parse(r["wet_record"])
    want_text = extract_text(df).collect()[0]["text"]
    assert block == want_text
    assert hdrs["WARC-Type"] == "conversion"
    assert hdrs["WARC-Target-URI"] == "http://wet.example.com/a"
    assert hdrs["Content-Type"] == "text/plain"
    assert re.fullmatch(r"2011-02-18T\d\d:\d\d:\d\dZ",
                        hdrs["WARC-Date"])
    assert int(hdrs["Content-Length"]) == r["content_length"]


def test_content_length_counts_octets_not_characters(spark):
    payload = ("<html><body>café-æøå</body></html>"
               .encode("utf-8"))
    rows = [_row("http://wet.example.com/mb",
                 html=http_block(
                     ctype="text/html; charset=utf-8",
                     payload=payload))]
    r = wet_records(_mk(spark, rows)).collect()[0]
    hdrs, block = _parse(r["wet_record"])
    assert block == "café-æøå"
    assert int(hdrs["Content-Length"]) == len(block.encode("utf-8"))
    assert int(hdrs["Content-Length"]) > len(block)  # multibyte


def test_ids_are_deterministic_and_cross_link(spark):
    rows = [_row("http://wet.example.com/x"),
            _row("http://wet.example.com/y")]
    recs = {r["url"]: r["wet_record"]
            for r in wet_records(_mk(spark, rows)).collect()}
    again = {r["url"]: r["wet_record"]
             for r in wet_records(_mk(spark, rows)).collect()}
    assert recs == again  # pure function of the row
    hx, _ = _parse(recs["http://wet.example.com/x"])
    hy, _ = _parse(recs["http://wet.example.com/y"])
    for h in (hx, hy):
        assert re.fullmatch(f"<urn:uuid:{_UUID}>", h["WARC-Record-ID"])
        assert re.fullmatch(f"<urn:uuid:{_UUID}>", h["WARC-Refers-To"])
        # the conversion record and the response it refers to get
        # DIFFERENT ids from the same (url, date)
        assert h["WARC-Record-ID"] != h["WARC-Refers-To"]
    assert hx["WARC-Record-ID"] != hy["WARC-Record-ID"]


def test_eligibility_equals_extract_text(spark):
    rows = [
        _row("http://wet.example.com/ok"),
        _row("http://wet.example.com/revisit", record_type="revisit"),
        _row("http://wet.example.com/png",
             html=http_block(ctype="image/png", payload=b"\x89PNG")),
        _row("http://wet.example.com/304",
             html=http_block(status="304 Not Modified", payload=b"")),
    ]
    df = _mk(spark, rows)
    got = {r["url"] for r in wet_records(df).collect()}
    want = {r["url"] for r in extract_text(df).collect()
            if r["text"] is not None}
    assert got == want == {"http://wet.example.com/ok"}


def test_write_wet_per_file_layout_and_order(spark, tmp_path):
    rows = []
    for i in range(6):
        rows.append(_row(
            f"http://wet.example.com/f{i}",
            html=http_block(
                payload=f"<html><body>doc {i}</body></html>"
                .encode()),
            warc_file=f"w{i % 2}.warc.gz"))
    out = str(tmp_path / "wet")
    write_wet(_mk(spark, rows), out)
    dirs = sorted(d for d in os.listdir(out)
                  if d.startswith("warc_file="))
    assert dirs == ["warc_file=w0.warc.gz", "warc_file=w1.warc.gz"]
    for d in dirs:
        lines = []
        for p in sorted(os.listdir(os.path.join(out, d))):
            if p.startswith("part-"):
                lines += open(os.path.join(out, d, p)).read().splitlines()
        # records for this file, in offset order (doc i order)
        uris = [ln.split("WARC-Target-URI: ")[1]
                for ln in lines if "WARC-Target-URI" in ln]
        nums = [int(u.rsplit("/f", 1)[1]) for u in uris]
        assert nums == sorted(nums)
        assert len(nums) == 3


def test_write_wet_orders_records_of_one_member(spark, tmp_path):
    """Records re-split from one multi-record gzip member share the
    member's offset; the sink orders them by the record ordinal, the
    rest of the file-order key, whatever order they arrive in."""
    rows = _finalize([
        _row(f"http://wet.example.com/m{i}",
             html=http_block(payload=f"<html><body>m {i}</body></html>"
                             .encode()),
             warc_file="single.warc.gz")
        for i in range(5)])
    for r in rows:
        r["offset"] = 0
    df = spark.createDataFrame(rows[::-1], PAGES_SCHEMA).repartition(3)
    out = str(tmp_path / "wet")
    write_wet(df, out)
    d = os.path.join(out, "warc_file=single.warc.gz")
    text = "".join(open(os.path.join(d, p)).read()
                   for p in sorted(os.listdir(d)) if p.startswith("part-"))
    uris = re.findall(r"WARC-Target-URI: (\S+)", text)
    assert uris == [f"http://wet.example.com/m{i}" for i in range(5)]
