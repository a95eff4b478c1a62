"""Archive input: the splitter kernel's derived columns.

``warc_source.read_warc`` emits the HTTP split, the field-N SURT and
the meta-tag map beside the PAGES_SCHEMA columns, and
``job.cdx_flagged`` reads them instead of splitting again and calling
the SURT/meta UDFs.  These tests pin that the two paths agree:

* the plan: on archive input the flagged frame has no Generate split and
  no ArrowEvalPython node; on PAGES_SCHEMA input it keeps both;
* parity: over ``.warc``, ``.warc.gz`` and ``.arc.gz`` archives holding
  the native-split adversarial blocks, meta/robots HTML and a
  ``<...>``-wrapped URL, the kernel path and the same rows reduced to
  PAGES_SCHEMA give equal CDX lines and equal derived columns under
  every config that changes which column is read, and the lines equal
  the row oracle's.
"""

from __future__ import annotations

import gzip

import pytest

from cdx_writer_spark import oracle, warc_source
from cdx_writer_spark.job import CDXConfig, cdx_flagged, cdx_lines
from cdx_writer_spark.schema import PAGES_SCHEMA

from test_native_split import ADVERSARIAL_BLOCKS
from test_warc_source import _warc_record

_RESP = {"Content-Type": "application/http; msgtype=response"}

_META_HTML = (
    b'<html><head><meta name="robots" content="noarchive, nofollow">'
    b'<meta http-equiv="Content-Type" content="text/html; '
    b'charset=iso-8859-1"><meta name="robots" content="noindex">'
    b'</head><body>caf\xe9</body></html>')


def _http(payload: bytes, ct: str = "text/html",
          extra: str = "") -> bytes:
    return (f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n{extra}\r\n"
            .encode("latin1") + payload)


# (url, block, record type, WARC Content-Type) of the records that go
# into every archive kind
_RECORDS = (
    [(f"http://www.adv.example.com/{i}", blk or b"", "response",
      _RESP["Content-Type"]) for i, blk in enumerate(ADVERSARIAL_BLOCKS)]
    + [
        ("http://www.meta.example.com/robots", _http(_META_HTML),
         "response", _RESP["Content-Type"]),
        ("http://www.meta.example.com/xrobots",
         _http(b"<html><head></head></html>", extra="X-Robots-Tag: noarchive\r\n"),
         "response", _RESP["Content-Type"]),
        ("http://www.meta.example.com/upper",
         _http(_META_HTML, ct="TEXT/HTML"), "response",
         _RESP["Content-Type"]),
        ("<http://www.wrapped.example.com/a b>", _http(_META_HTML),
         "response", _RESP["Content-Type"]),
        ("http://JavaScript:Wtop('www.pick2hand.com/index2.html')",
         _http(b"<html></html>"), "response", _RESP["Content-Type"]),
        # an HTML body recorded under a non-HTTP record type
        ("http://www.meta.example.com/resource", _META_HTML,
         "resource", "text/html"),
        ("http://www.meta.example.com/robots", b"GET / HTTP/1.1\r\n\r\n",
         "request", "application/http; msgtype=request"),
        ("http://www.meta.example.com/shot.png", b"\x89PNG fake",
         "metadata", "image/png"),
    ])


def _warc(rows) -> list[bytes]:
    out = [_warc_record("warcinfo", None, "2011-02-18T23:32:56Z",
                        b"software: test\r\n",
                        {"Content-Type": "application/warc-fields"})]
    for url, blk, rtype, ct in rows:
        out.append(_warc_record(rtype, url, "2011-02-18T23:32:57Z", blk,
                                {"Content-Type": ct}))
    return out


def _arc(rows) -> list[bytes]:
    spec = b"1 0 InternetArchive\nURL IP-address Archive-date " \
        b"Content-type Archive-length\n\n"
    out = [b"filedesc://t.arc 0.0.0.0 20100812000000 text/plain %d\n"
           % len(spec) + spec + b"\n"]
    for url, blk, rtype, _ in rows:
        if rtype != "response" or " " in url:
            continue  # ARC has one record kind; its URLs have no spaces
        out.append(b"%s 1.2.3.4 20100812000000 text/html %d\n"
                   % (url.encode("latin1"), len(blk)) + blk + b"\n")
    return out


def _write(d):
    d.mkdir()
    (d / "plain.warc").write_bytes(b"".join(_warc(_RECORDS)))
    (d / "members.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in _warc(_RECORDS)))
    (d / "members.arc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in _arc(_RECORDS)))
    return d


_DERIVED = ["http_headers", "http_status", "http_version", "http_ct",
            "payload", "payload_present", "massaged_url", "meta_tags",
            "aif_meta_tags"]


def _derived(pages, cfg):
    rows = cdx_flagged(pages, cfg).select(
        "warc_file", "record_seq", *_DERIVED).collect()
    return sorted(tuple(r) for r in rows)


@pytest.fixture(scope="module")
def archive_dir(tmp_path_factory):
    return _write(tmp_path_factory.mktemp("src") / "archives")


def _oracle_lines(archive_dir, **options) -> list[str]:
    rows = [r for p in sorted(archive_dir.iterdir())
            for r in warc_source.archive_to_rows(str(p), p.read_bytes())]
    return sorted(oracle.oracle_cdx(rows, **options)[0])


_CONFIGS = {
    "default": {},
    "all_records": {"all_records": True},
    "no_host_massage": {"host_massage": False},
    "screenshot": {"screenshot_mode": True, "all_records": True},
}


@pytest.mark.parametrize("options", _CONFIGS.values(), ids=_CONFIGS.keys())
def test_kernel_columns_match_pages_path(spark, archive_dir, options):
    cfg = CDXConfig(**options)
    pages = warc_source.read_warc(spark, str(archive_dir))
    reduced = pages.select(*PAGES_SCHEMA.fieldNames())
    got = [r.cdx_line for r in cdx_lines(pages, cfg).collect()]
    want = [r.cdx_line for r in cdx_lines(reduced, cfg).collect()]
    assert got == want
    assert len(got) > 20
    assert got == _oracle_lines(archive_dir, **options)
    assert _derived(pages, cfg) == _derived(reduced, cfg)


def test_kernel_lines_reach_meta_and_safe_url(spark, archive_dir):
    pages = warc_source.read_warc(spark, str(archive_dir))
    lines = [r.cdx_line.split(" ") for r in cdx_lines(
        pages, CDXConfig(format="a M g")).collect()]
    m_field = {(a, g): m for a, m, g in lines}
    # robots meta tags (A, F, then I from a second tag) and the
    # X-Robots-Tag header reach the M field; the <...> wrapper and the
    # space in its URL go through safe_url
    for g in ("plain.warc", "members.warc.gz", "members.arc.gz"):
        assert m_field["http://www.meta.example.com/robots", g] == "AFI"
        assert m_field["http://www.meta.example.com/xrobots", g] == "A"
    assert m_field["http://www.wrapped.example.com/a%20b",
                   "plain.warc"] == "AFI"
    # an upper-case HTTP Content-Type is mime 'unk': no meta parse; the
    # ARC record's own mime is text/html
    assert m_field["http://www.meta.example.com/upper", "plain.warc"] == "-"
    assert m_field["http://www.meta.example.com/upper",
                   "members.arc.gz"] == "AFI"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_archive_plan_has_no_split_and_no_python_udf(spark, archive_dir):
    pages = warc_source.read_warc(spark, str(archive_dir))
    kernel = _plan(cdx_flagged(pages))
    assert "ArrowEvalPython" not in kernel, kernel
    assert "Generate" not in kernel, kernel
    assert kernel.count("MapInPandas") == 1
    # PAGES_SCHEMA input keeps its own split and one UDF node
    pages_plan = _plan(cdx_flagged(pages.select(*PAGES_SCHEMA.fieldNames())))
    assert pages_plan.count("Generate inline") == 1, pages_plan
    assert pages_plan.count("ArrowEvalPython") == 1, pages_plan
