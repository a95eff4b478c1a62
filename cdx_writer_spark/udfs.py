"""The engine's Python-side scalar ops: plain per-record kernels and
the Arrow-vectorized pandas UDFs that run them over PAGES_SCHEMA input.

Everything else in the CDX projection is native Catalyst expressions
(whole-stage codegen).  These exist because Spark lacks the exact
semantics natively:

* ``split_http_block`` — header/payload split of a raw HTTP block
                         (cdx_writer.py:390-407), parsed once per
                         record (the reference's parse-once discipline,
                         :348-352).  ``http_split`` is its UDF;
                         ``native_http_split_struct`` its pure-Catalyst
                         twin, which ``job.cdx_flagged`` uses by default.
* ``make_surt_udf``    — SURT canonicalization with original-URL
                         fallback (cdx_writer.py:128-136) via
                         canonicalize.py.
* ``parse_meta_tags``  — HTML ``<meta>`` scan stopping at ``</head>``
                         (cdx_writer.py:461-519); ``meta_tags_udf`` is
                         its UDF.

On archive input none of the UDFs runs: ``warc_source.read_warc``
calls the same kernels while each record is still in Python and ships
their results as columns (``schema.SOURCE_FIELDS``), so a record
crosses into Python once.  On PAGES_SCHEMA input the SURT and meta
UDFs run in one ArrowEvalPython node.

Callers MASK the inputs with ``when()`` so rows that don't need the op
ship NULL (not multi-MB payloads) across the Arrow boundary; the
SHA-1/base32 checksum is fully native (``fields.sha1_b32_column``), so
payload bytes never cross just to be hashed.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .canonicalize import massaged_url, surt_key

_CRLF_SPLIT = re.compile(rb"\r?\n\r?\n")
# Status line (cdx_writer.py:435-436), anchored via .match
_RE_STATUS_LINE = re.compile(r"HTTP(/\d\.\d)? (\d+)")
# Content-Type header line: the reference splits the head with
# splitlines() and takes the first line this matches, value stripped
# (parse_headers_and_content + parse_http_header + .strip(),
# cdx_writer.py:356-374, 390-407)
_RE_CT_LINE = re.compile(r"content-type:\s*(.+)", re.I)
_RE_BEFORE_SEMI = re.compile(r"^(.+?);")

_HTTP_SPLIT_TYPE = StructType([
    StructField("headers", StringType()),
    StructField("body_off", IntegerType()),
    StructField("status", StringType()),
    StructField("version", StringType()),
    StructField("ct", StringType()),
])


# --- native http_split (zero-Python twin) -----------------------------------
#
# Python-str regex semantics reproduced in java.util.regex:
#  * (?d) = UNIX_LINES makes ^ $ and . treat ONLY \n as a line
#    terminator — exactly Python's str semantics (Java otherwise
#    refuses to let . cross \r and anchors $ before lone \r).
#  * str.splitlines() breaks latin-1 text at the characters of _BRK
#    (\r\n counts once): a Content-Type line starts at the head's
#    start or right after one of them and runs to the next one.
#  * Python's str.strip() whitespace that can remain inside a line is
#    _WS_LINE (Java's \s is ASCII-only and has no \x1f or \xa0).
_BRK = r"\n\r\x0B\f\x1C\x1D\x1E\x85"
_WS_LINE = r" \t\x1F\xA0"
_SEP_RE = r"(\r?\n\r?\n)"
_STATUS_RE_N = r"^HTTP(/\d\.\d)? (\d+)"
_CT_RE_N = r"(?i)(?<![^" + _BRK + r"])content-type:([^" + _BRK + r"]+)"
_STRIP_RE_N = r"^[" + _WS_LINE + r"]+|[" + _WS_LINE + r"]+$"
_SEMI_RE_N = r"(?d)^(.+?);"


def native_http_split_struct(block: Column) -> Column:
    """The same (http_headers, body_off, http_status, http_version,
    http_ct) contract as :func:`http_split`, as ONE pure-Catalyst
    struct — the record bytes never cross the Arrow boundary at all.

    The block decodes JVM-side as ISO-8859-1 (1:1 bytes->chars, so
    char offsets ARE byte offsets — same trick as the UDF's latin1
    decode); the blank-line search (`regexp_instr`) stops at the first
    match, and the status/content-type regexes run over the SMALL
    header substring only.  Every intermediate (decoded string, match
    position, header text) is lambda-bound (``bind_once``) so it
    evaluates exactly once however many consumers the struct has;
    callers must still put a materialization barrier between this
    struct and its ~30 field consumers (``job.cdx_flagged`` uses
    ``inline(array(struct))`` — a Generate node Catalyst cannot
    collapse projections across), or projection collapse re-inlines
    the whole parse per field (the measured 100x blowup that
    originally motivated the UDF)."""
    from .functions.dedup import bind_once

    # mask non-HTTP blocks at the INPUT (null decode -> every field
    # null) rather than wrapping the struct in when(): a null STRUCT
    # element would make the caller's inline() drop the row entirely,
    # silently losing non-response records from the flagged frame
    block = F.when(F.substring(block, 1, 4) == F.lit(b"HTTP"), block)

    def outer(s: Column) -> Column:
        pos0 = F.regexp_instr(s, F.lit(_SEP_RE))
        sep_len = F.length(F.regexp_extract(s, _SEP_RE, 1))

        def with_pos(pos: Column) -> Column:
            head = F.when(pos > 0,
                          s.substr(F.lit(1), pos - 1)).otherwise(s)
            off = (F.when(pos > 0, pos + sep_len)
                   .otherwise(F.length(s) + 1)).cast("int")

            def with_head(h: Column) -> Column:
                version = F.nullif(
                    F.regexp_extract(h, _STATUS_RE_N, 1), F.lit(""))
                status = F.nullif(
                    F.regexp_extract(h, _STATUS_RE_N, 2), F.lit(""))
                ct_raw = F.nullif(F.regexp_replace(
                    F.regexp_extract(h, _CT_RE_N, 1), _STRIP_RE_N, ""),
                    F.lit(""))
                ct = F.coalesce(
                    F.nullif(F.regexp_extract(ct_raw, _SEMI_RE_N, 1),
                             F.lit("")),
                    ct_raw)
                return F.struct(h.alias("http_headers"),
                                off.alias("body_off"),
                                status.alias("http_status"),
                                version.alias("http_version"),
                                ct.alias("http_ct"))

            return bind_once(head, with_head)

        return bind_once(pos0, with_pos)

    return bind_once(F.decode(block, "ISO-8859-1"), outer)


_NO_SPLIT = (None, None, None, None, None)


def split_http_block(block: bytes | None) -> tuple:
    """One block's ``(headers, body_off, status, version, ct)``, the row
    contract of :func:`http_split`; all None unless the block starts
    with ``HTTP``.  The archive source calls this too, so the split has
    one Python implementation."""
    if block is None or not block.startswith(b"HTTP"):
        return _NO_SPLIT
    m_sep = _CRLF_SPLIT.search(block)
    if m_sep:
        head = block[:m_sep.start()].decode("latin1")
        off = m_sep.end() + 1
    else:
        head = block.decode("latin1")
        off = len(block) + 1
    m = _RE_STATUS_LINE.match(head)
    ct = None
    for line in head.splitlines():
        c = _RE_CT_LINE.match(line)
        if c:
            ct = c.group(1).strip()
            semi = _RE_BEFORE_SEMI.match(ct)
            ct = (semi.group(1) if semi else ct) or None
            break
    return (head, off, m.group(2) if m else None,
            m.group(1) if m else None, ct)


@pandas_udf(_HTTP_SPLIT_TYPE)
def http_split(block: pd.Series) -> pd.DataFrame:
    """Split a raw HTTP message into (headers text, payload OFFSET,
    status code, HTTP version, raw content-type value).

    Mirrors ResponseHandler.parse_headers_and_content
    (cdx_writer.py:390-407): blocks not starting with ``HTTP`` yield
    all-NULL; blocks with no blank line (empty payloads terminated by
    a single newline) yield (whole block, len+1) so the payload slices
    to b'' and its digest is sha1(b'') — fixtures transposed_header /
    empty_payload_header_*.

    ``body_off`` is the 1-based byte offset of the payload within the
    input block — NOT the payload bytes.  The payload is sliced
    NATIVELY by the caller (``substring(html, body_off,
    octet_length(html))``, job.py), so the multi-MB bodies never make
    the return trip across the Arrow boundary: only the (small) header
    text and three parsed scalars come back from Python.  ``latin1``
    decodes 1:1, so ``m.end()`` in bytes is exact.

    The status/version groups (:435-441) and the raw Content-Type header
    value up to ';' (:367-384, validation stays native in fields.py) are
    parsed here — in the SAME per-row Python pass that already decodes
    the block — so the downstream dispatch/field Columns are cheap
    attribute references.  Before this, the native regexp_extract chain
    over `headers` was re-inlined at every one of its ~30 uses by
    Catalyst's projection collapse, exploding the codegen'd projection
    (observed 100× slowdown on the full CDX plan).
    """
    return pd.DataFrame([split_http_block(b) for b in block],
                        columns=_HTTP_SPLIT_TYPE.fieldNames())


def make_surt_udf(host_massage: bool = True, fallback: bool = True):
    """SURT-key UDF factory (``--no-host-massage`` maps to
    host_massage=False, cdx_writer.py:880-882).  With fallback=True this
    is the field-N semantics (massaged_url); with fallback=False it is the
    raw urlkey used by screenshot mode (cdx_writer.py:583)."""
    fn = massaged_url if fallback else surt_key

    @pandas_udf(StringType())
    def surt_udf(urls: pd.Series) -> pd.Series:
        return urls.map(
            lambda u: None if u is None else fn(u, host_massage=host_massage))

    return surt_udf


# Meta-tag scan regexes — semantics of cdx_writer.py:493-510: scan
# <meta ...> tags in order, stop at the first </head>, key from
# name|http-equiv, value from content, duplicate keys comma-appended
# except 'refresh' (first wins).
_RE_META_OR_HEAD = re.compile(rb"(<meta[^>]+?>|</head>)", re.I)
_RE_META_NAME = re.compile(
    rb"""\b(?:name|http-equiv)\s*=\s*(['"]?)(.*?)(\1)[\s/>]""", re.I)
_RE_META_CONTENT = re.compile(
    rb"""\bcontent\s*=\s*(['"]?)(.*?)(\1)[\s/>]""", re.I)


def parse_meta_tags(html: bytes) -> dict[str, str] | None:
    """Pure-Python meta-tag parse (shared with the row oracle)."""
    if html is None:
        return None
    html = html.strip()
    if html == b"":
        return {}
    tags: dict[str, str] = {}
    for m in _RE_META_OR_HEAD.finditer(html):
        tag = m.group(1)
        if tag.lower() == b"</head>":
            break
        nm = _RE_META_NAME.search(tag)
        if not nm:
            continue
        cm = _RE_META_CONTENT.search(tag)
        if not cm:
            continue
        name = nm.group(2).lower().decode("latin1")
        content = cm.group(2).decode("latin1")
        if name not in tags:
            tags[name] = content
        elif name != "refresh":  # refresh: first tag wins (cdx_writer.py:515-517)
            tags[name] += "," + content
    return tags


@pandas_udf(MapType(StringType(), StringType()))
def meta_tags_udf(body: pd.Series) -> pd.Series:
    """HTML meta-tag map.  Callers mask: only text/html response payloads
    under META_PARSE_LIMIT are passed (cdx_writer.py:471-486)."""
    return body.map(parse_meta_tags)
