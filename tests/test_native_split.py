"""native_http_split_struct == http_split UDF, byte for byte.

The native twin reproduces the UDF's Python-str regex semantics in
java.util.regex ((?d) UNIX_LINES for anchors/dot, explicit latin-1
whitespace class for \\s) — these tests pin:

* end-to-end CDX byte equality over the ENTIRE reference golden corpus
  with both split engines;
* the derived columns (headers/offset/status/version/ct + payload)
  on adversarial blocks chosen at the exact Java/Python divergence
  points: lone \\r in values, \\xa0/\\x85 whitespace, missing HTTP
  version, no blank line, \\r\\r\\n\\r\\n, multiple content-type
  lines, the other str.splitlines() breaks (\\x0b, \\x0c) and empty
  values, non-HTTP and NULL blocks;
* the plan: zero Python in the native split and exactly ONE
  regexp_instr however many consumers (the inline(array(struct))
  Generate barrier holds).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cdx_writer_spark import warc_source
from cdx_writer_spark.job import CDXConfig, cdx_flagged, cdx_lines
from cdx_writer_spark.schema import PAGES_SCHEMA

REF_WARCS = "/root/reference/tests/small_warcs"

_SPLIT_COLS = ["http_headers", "http_status", "http_version", "http_ct",
               "payload", "payload_present"]


def _derived(pages, native):
    df = cdx_flagged(pages, CDXConfig(all_records=True,
                                      native_split=native))
    rows = df.select("url", "record_seq", *_SPLIT_COLS).collect()
    return sorted(
        ((r.url, r.record_seq, r.http_headers, r.http_status,
          r.http_version, r.http_ct,
          bytes(r.payload) if r.payload is not None else None,
          r.payload_present)
         for r in rows),
        key=repr)


@pytest.mark.skipif(not os.path.isdir(REF_WARCS),
                    reason="reference corpus not present")
def test_corpus_cdx_lines_identical_with_native_split(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    for n in os.listdir(REF_WARCS):
        shutil.copy(os.path.join(REF_WARCS, n), d / n)
    # reduced to PAGES_SCHEMA: archive input carries the splitter
    # kernel's split, which would stand in for both engines
    pages = warc_source.read_warc(spark, str(d)).select(
        *PAGES_SCHEMA.fieldNames()).cache()
    try:
        udf_lines = sorted(r.cdx_line for r in cdx_lines(
            pages, CDXConfig(all_records=True, native_split=False),
            sort=False).collect())
        nat_lines = sorted(r.cdx_line for r in cdx_lines(
            pages, CDXConfig(all_records=True, native_split=True),
            sort=False).collect())
        assert udf_lines == nat_lines
        assert len(udf_lines) > 80
        # the derived columns themselves, not just the rendered lines
        assert _derived(pages, False) == _derived(pages, True)
    finally:
        pages.unpersist()


def _mk_pages(spark, blocks):
    rows = []
    for i, blk in enumerate(blocks):
        rows.append({
            "url": f"http://h/{i}", "warc_ts": None, "raw_date":
            "20200101000000", "record_type": "response",
            "content_type": "application/http; msgtype=response",
            "html": blk, "text": None, "lang": None,
            "warc_headers": {}, "content_length":
            len(blk) if blk is not None else None,
            "compressed_size": 10, "offset": i, "warc_file": "t.warc.gz",
            "record_seq": i,
        })
    # one non-response record type too
    rows.append({**rows[0], "url": "http://h/meta", "record_type":
                 "metadata", "record_seq": len(blocks)})
    return spark.createDataFrame(rows, PAGES_SCHEMA)


ADVERSARIAL_BLOCKS = [
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\nbody",
    b"HTTP/1.1 200 OK\nContent-Type:text/plain\n\ntail",       # bare LF
    b"HTTP 301\r\nLocation: /x\r\n\r\n",                       # no version
    b"HTTP/1.0 404 nf\r\nContent-Type: a\rb;c\r\n\r\nz",       # \r in value
    b"HTTP/1.1 200 OK\r\nContent-Type: text/x\xa0\r\n\r\np",   # nbsp ws
    b"HTTP/1.1 200 OK\r\nContent-Type: text/y\x85\r\n\r\np",   # NEL ws
    b"HTTP/1.1 410 Gone\r\r\n\r\n",                            # bare-CR line
    b"HTTP/1.1 200 OK\r\nX: 1\r\n",                            # no blank line
    b"HTTP/1.1 200 OK\r\nContent-Type: a/b\r\nContent-Type: c/d\r\n\r\nq",
    b"HTTP/1.1 200 OK\r\ncontent-type:   spaced/out  \r\n\r\nq",
    b"HTTP/1.1 200 OK\r\n\r\n",                                # empty body
    # header lines end where str.splitlines() breaks them
    b"HTTP/1.1 200 OK\r\nContent-Type:\r\ntext/html\r\n\r\nv",  # empty value
    b"HTTP/1.1 200 OK\r\nContent-Type: \x1ftext/html\x0cjunk\r\n\r\nv",
    b"HTTP/1.1 200 OK\r\nX: a\x0bContent-Type: text/plain\r\n\r\nv",
    b"HTTP/1.1 200 OK\r\nContent-Type:  \r\nContent-Type: a/b\r\n\r\nv",
    b"HT",                                                     # short block
    b"GIF89a not http at all",
    None,
    b"HTTP/1.1 200 OK\r\nA: " + b"x" * 5000 + b"\r\n\r\n" + b"y" * 10000,
]


def test_adversarial_blocks_identical(spark):
    pages = _mk_pages(spark, ADVERSARIAL_BLOCKS)
    assert _derived(pages, False) == _derived(pages, True)


def test_native_split_plan_is_python_free_and_single_parse(spark):
    pages = _mk_pages(spark, ADVERSARIAL_BLOCKS[:2])
    df = cdx_flagged(pages, CDXConfig(native_split=True)).select(
        "http_status", "http_ct", "http_version", "payload_present")
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # the split itself never enters Python (SURT/meta UDFs are pruned
    # away by this projection)
    assert "ArrowEvalPython" not in executed and "pythonUDF" not in executed
    # the Generate barrier holds: one blank-line scan, one decode —
    # not one per consumer column
    assert optimized.count("regexp_instr") == 1, optimized
    assert optimized.count("decode(") == 1, optimized
