"""HTML -> text extraction: byte-identical per url (the north rule's
per-row invariant).

Three layers, mirroring the repo's CDX verification strategy:

* an INDEPENDENT pure-Python row oracle (written here, sharing no code
  with ``functions/extract.py`` beyond the published spec) recomputes
  the text straight from each record's raw bytes;
* the oracle is swept over the reference's entire golden small-WARC
  corpus — every record the engine extracts must match byte-for-byte;
* targeted edge cases: entity ordering (``&amp;lt;`` stays ``&lt;``),
  attribute-laden/cased script+style elements, comments, charset
  decode precedence (header beats meta; quoted header charset falls
  through to the meta tag), unknown-codec fallback, ``errors=replace``
  on malformed bytes, and NULL for every ineligible record shape.

The DuckDB side of the same invariant is the driver query
``cdx_extract_text`` (``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

import codecs
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from cdx_writer_spark import warc_source
from cdx_writer_spark.functions.extract import extract_text
from cdx_writer_spark.pages_gen import _finalize, _row, http_block
from cdx_writer_spark.schema import PAGES_SCHEMA

REF_WARCS = "/root/reference/tests/small_warcs"


# --- independent row oracle (pure Python re / codecs) --------------------------

_BLANK = re.compile(rb"\r?\n\r?\n")
_CT_LINE = re.compile(r"(?im)^content-type:\s*(.+?)\s*$")
_CHARSET = re.compile(r"(?i)charset\s*=\s*([a-z0-9_\-]+)")
_META_OR_HEAD = re.compile(rb"(<meta[^>]+?>|</head>)", re.I)
_ATTR = r"""\b%s\s*=\s*(['"]?)(.*?)(\1)[\s/>]"""


def _oracle_charset(head_text: str, body: bytes) -> str | None:
    m = _CT_LINE.search(head_text)
    if m:
        cm = _CHARSET.search(m.group(1))
        if cm:
            return cm.group(1).replace("win-", "windows-")
    # meta fallback: first content-type tag before </head>
    for t in _META_OR_HEAD.finditer(body.strip()):
        tag = t.group(1)
        if tag.lower() == b"</head>":
            break
        nm = re.search(_ATTR % "(?:name|http-equiv)", tag.decode("latin1"),
                       re.I)
        if nm and nm.group(2).lower() == "content-type":
            cm2 = re.search(_ATTR % "content", tag.decode("latin1"), re.I)
            if cm2:
                got = _CHARSET.search(cm2.group(2))
                if got:
                    return got.group(1).replace("win-", "windows-")
    return None


def _oracle_extract(block: bytes) -> str | None:
    """Extraction spec recomputed from the raw record block; None when
    the block is not an HTTP message (engine eligibility beyond that —
    handler/mime — is checked structurally by the caller)."""
    if block is None or not block.startswith(b"HTTP"):
        return None
    m = _BLANK.search(block)
    head = block[: m.start()] if m else block
    body = block[m.end():] if m else b""
    cs = _oracle_charset(head.decode("latin1"), body) or "utf-8"
    try:
        codecs.lookup(cs)
    except LookupError:
        cs = "utf-8"
    s = body.decode(cs, errors="replace")
    ws = " \\t\\n\\r\\f\\x0B"
    s = re.sub(r"(?is)<script([%s/][^>]*)?>.*?</script[%s]*>" % (ws, ws),
               " ", s)
    s = re.sub(r"(?is)<style([%s/][^>]*)?>.*?</style[%s]*>" % (ws, ws),
               " ", s)
    s = re.sub(r"(?s)<!--.*?-->", " ", s)
    s = re.sub(r"<[^>]*>", " ", s)
    for ent, rep in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
                     ("&amp;", "&")]:
        s = s.replace(ent, rep)
    s = re.sub(r"[ \t\n\r\f\x0B]+", " ", s)
    return s.strip(" ")


def _run(spark, rows):
    df = extract_text(
        spark.createDataFrame(_finalize(rows), PAGES_SCHEMA))
    return {(r["warc_file"], r["offset"], r["record_seq"]): r
            for r in df.select("warc_file", "offset", "record_seq",
                               "url", "html", "text").collect()}


# --- reference-corpus sweep -----------------------------------------------------


@pytest.mark.skipif(not os.path.isdir(REF_WARCS),
                    reason="reference corpus not present")
def test_reference_corpus_extraction_byte_parity(spark, tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    for n in sorted(os.listdir(REF_WARCS)):
        shutil.copy(os.path.join(REF_WARCS, n), d / n)
    pages = warc_source.read_warc(spark, str(d))
    rows = extract_text(pages).select("url", "html", "text").collect()
    extracted = 0
    for r in rows:
        if r["text"] is None:
            continue
        expected = _oracle_extract(bytes(r["html"]))
        assert expected is not None, r["url"]
        assert r["text"].encode("utf-8") == expected.encode("utf-8"), \
            r["url"]
        extracted += 1
    # the corpus carries real html responses; the sweep must bite
    assert extracted >= 20


# --- targeted edge cases ----------------------------------------------------------


def test_markup_strip_entities_and_whitespace(spark):
    payload = (b"<html><head><title>T</title>"
               b"<SCRIPT type='x'>var a = '<b>no</b>';</SCRIPT>"
               b"<style media=all>.x { color: red }</style></head>"
               b"<body><!-- hidden <b>comment</b> -->"
               b"A &amp;lt; B &lt; C &gt; D &quot;q&quot; &#39;s&#39;"
               b" &apos;a&apos; &nbsp;E \t F\r\n G &amp; H"
               b"<p>line</p></body></html>")
    rows = [_row("http://e.example.com/1", html=http_block(payload=payload))]
    got = list(_run(spark, rows).values())[0]["text"]
    assert got == _oracle_extract(bytes(http_block(payload=payload)))
    # &amp;lt; must survive as the literal '&lt;' (amp replaced LAST)
    assert "&lt;" in got and "<b>" not in got and "comment" not in got
    # title text is kept (only script/style/comment ELEMENTS drop)
    assert "T A &lt; B < C > D \"q\" 's' 'a' E F G & H line" == got


def test_charset_header_beats_meta_and_quoted_falls_through(spark):
    latin = "café-æøå".encode("iso-8859-1")
    meta = (b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=utf-8">')
    # header declares iso-8859-1: bytes decode as latin-1 (meta ignored)
    b1 = http_block(ctype="text/html; charset=iso-8859-1",
                    payload=b"<html><head>" + meta + b"</head><body>"
                    + latin + b"</body></html>")
    # QUOTED header charset fails the reference's value pattern
    # (cdx_writer.py:386) -> meta wins -> utf-8 decode of latin bytes
    # replaces malformed sequences
    b2 = http_block(ctype='text/html; charset="iso-8859-1"',
                    payload=b"<html><head>" + meta + b"</head><body>"
                    + latin + b"</body></html>")
    rows = [_row("http://e.example.com/h", html=b1,
                 warc_file="a.warc.gz"),
            _row("http://e.example.com/m", html=b2,
                 warc_file="b.warc.gz")]
    got = {r["url"]: r["text"] for r in _run(spark, rows).values()}
    assert got["http://e.example.com/h"] == "café-æøå"
    assert got["http://e.example.com/m"] == _oracle_extract(bytes(b2))
    assert "�" in got["http://e.example.com/m"]  # replace, not raise


def test_unknown_codec_falls_back_to_utf8(spark):
    b = http_block(ctype="text/html; charset=x-not-a-codec",
                   payload=b"<html><body>ok \xc3\xa9</body></html>")
    rows = [_row("http://e.example.com/u", html=b)]
    got = list(_run(spark, rows).values())[0]["text"]
    assert got == "ok é"


def test_ineligible_records_get_null(spark):
    rows = [
        _row("http://e.example.com/rv", record_type="revisit", html=b"",
             warc_headers={"WARC-Profile":
                           "http://netpreserve.org/warc/1.0/revisit/"
                           "identical-payload-digest"},
             warc_file="c.warc.gz"),
        _row("http://e.example.com/rq", record_type="request",
             content_type="application/http; msgtype=request",
             html=b"GET / HTTP/1.1\r\n\r\n", warc_file="d.warc.gz"),
        _row("http://e.example.com/js",
             html=http_block(ctype="application/javascript",
                             payload=b"var x = '<b>not html</b>';"),
             warc_file="e.warc.gz"),
        _row("http://e.example.com/ok", html=http_block(),
             warc_file="f.warc.gz"),
    ]
    got = {r["url"]: r["text"] for r in _run(spark, rows).values()}
    assert got["http://e.example.com/rv"] is None
    assert got["http://e.example.com/rq"] is None
    assert got["http://e.example.com/js"] is None
    assert got["http://e.example.com/ok"] == "x"


def test_extract_preserves_schema_and_row_count(spark):
    rows = [_row("http://e.example.com/%d" % i,
                 html=http_block(payload=b"<p>doc %d</p>" % i),
                 warc_file="g.warc.gz") for i in range(10)]
    pages = spark.createDataFrame(_finalize(rows), PAGES_SCHEMA)
    out = extract_text(pages)
    assert out.columns == pages.columns
    assert out.count() == 10
    assert out.filter(F.col("text").isNotNull()).count() == 10


def test_archive_input_extraction_matches_pages_input(spark, tmp_path):
    """On ``read_warc`` output the charset sniff reads the splitter
    kernel's meta map; extraction and WET records must equal the same
    calls over the rows reduced to PAGES_SCHEMA, and extract_text
    returns exactly its input's columns."""
    from test_warc_source import _warc_record, _write_archives

    from cdx_writer_spark.functions.extract import wet_records

    _write_archives(tmp_path)
    # the meta tag names the charset: decoded as latin-1, not utf-8
    html = (b'<html><head><meta http-equiv="content-type" '
            b'content="text/html; charset=iso-8859-1"></head>'
            b'<body>caf\xe9 <b>au</b> lait</body></html>')
    (tmp_path / "meta.warc").write_bytes(_warc_record(
        "response", "http://www.example.com/meta", "2011-02-18T23:32:58Z",
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html,
        {"Content-Type": "application/http; msgtype=response"}))
    pages = warc_source.read_warc(spark, str(tmp_path))
    reduced = pages.select(*PAGES_SCHEMA.fieldNames())

    out = extract_text(pages)
    assert out.columns == pages.columns
    key = ["warc_file", "offset", "record_seq"]
    got = sorted(out.select(*key, "url", "text").collect())
    assert got == sorted(
        extract_text(reduced).select(*key, "url", "text").collect())
    assert ("http://www.example.com/meta", "caf\xe9 au lait") in [
        (r.url, r.text) for r in got]
    assert sorted(wet_records(pages).collect()) == sorted(
        wet_records(reduced).collect())


def test_strip_regex_subset_is_engine_identical(spark):
    """The spec bans \\s and \\b (Java \\s includes \\x0B, RE2's does
    not; Python's \\s/\\b are unicode-aware) — drive the exact
    divergence inputs through all THREE engines: Spark, the Python row
    oracle, and DuckDB's RE2 via the shared _strip_sql helper."""
    import importlib.util
    import os as _os

    import duckdb

    spec = importlib.util.spec_from_file_location(
        "entry_for_strip", _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    payload = (b"<html><body>"
               b"<script>a</script\x0b>keep1"      # \x0B in close tag
               b"<scripty>keep2</scripty>"          # NOT a script element
               b"<script\xc3\xa9>keep3"             # unicode after name:
               b"<style>s</style\t>keep4"           # tab in close tag
               b"</body></html>")
    rows = [_row("http://e.example.com/ws", html=http_block(payload=payload))]
    got = list(_run(spark, rows).values())[0]["text"]

    expected = _oracle_extract(bytes(http_block(payload=payload)))
    assert got == expected
    # <script\x0B-close> element dropped wholesale; scripty tags strip
    # as generic tags (keep2 survives); '<scripté>' is a generic tag in
    # every engine (keep3 survives); style with tab-close dropped
    assert "keep1" in got and "keep2" in got
    assert "keep3" in got and "keep4" in got
    assert "a" not in got.split() and "s" not in got.split()

    con = duckdb.connect()
    decoded = bytes(http_block(payload=payload)).split(b"\r\n\r\n", 1)[1]
    ducked = con.execute(
        "WITH t AS (SELECT ? AS body) SELECT "
        + entry._strip_sql("body") + " FROM t",
        [decoded.decode("utf-8")]).fetchone()[0]
    assert ducked == got
