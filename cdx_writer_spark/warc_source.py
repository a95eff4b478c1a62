"""Fixture-parity WARC source: real ``.warc`` / ``.warc.gz`` files →
PAGES_SCHEMA rows.

The reference streams ``(offset, record, errors)`` tuples from an
archive file via ``ArchiveRecord.open_archive(gzip='auto')``
(cdx_writer.py:823-828, reader in the external warctools package).
The distributed equivalent: ``spark.read.format('binaryFile')`` hands
each archive to one task, and an Arrow-batched ``mapInPandas`` kernel
splits it into records and derives their Python-computed columns:

* **gzip member splitting** — record-per-member WARCs are concatenated
  gzip streams; ``zlib.decompressobj(wbits=31)`` decodes one member at
  a time and ``unused_data`` marks the next member's byte offset, so
  per-record ``offset`` (CDX field V) and ``compressed_size`` (field
  S) fall out exactly like the reference's member-at-a-time reader.
  Empty members (the reference's ``empty-gzips.warc.gz`` fixture) are
  tolerated and skipped.
* **WARC record parse** — ``WARC/x.y`` version line, header block to
  the first blank line, ``Content-Length`` payload bytes.  Headers map
  to PAGES_SCHEMA: WARC-Type → record_type, WARC-Target-URI → url
  (angle-bracket wrapped URIs preserved verbatim — safe_url strips
  them downstream, cdx_writer.py:185-187), WARC-Date → raw_date
  (verbatim; date14_column handles ISO-8601 incl. micro/nano
  truncation), Content-Type → content_type, full header map →
  warc_headers.
* **derived columns** — while the record is in Python, the kernel also
  computes what the CDX projection would otherwise send back to Python
  (``source_columns``): the HTTP split, the field-N SURT and the
  meta-tag map, as ``schema.SOURCE_FIELDS``.  ``read_warc`` returns
  ``schema.ARCHIVE_SCHEMA`` (PAGES_SCHEMA plus those), and
  ``job.cdx_flagged`` reads them instead of running its own split and
  UDFs, so the projection over an archive has no Python node.

One archive = one task is the right granularity at scale: WARCs are
written ~1 GB each, so a 100 TB crawl is ~100k files spread across
executors; no intra-file parallelism is needed (and none is possible
without an offset index, which is exactly the CDX this engine emits).
"""

from __future__ import annotations

import base64
import hashlib
import os
import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .canonicalize import massaged_url, safe_url
from .schema import (
    ARCHIVE_SCHEMA,
    META_PARSE_LIMIT,
    PAGES_SCHEMA,
    SOURCE_FIELDS,
)
from .udfs import parse_meta_tags, split_http_block

_RE_VERSION = re.compile(rb"^WARC/\d+\.\d+\r?\n")
_RE_HEADER_SPLIT = re.compile(rb"\r?\n\r?\n", re.S)
# Two ADJACENT line terminators under universal line endings == the
# first empty line; the warctools ARC payload-digest boundary (see
# parse_arc_record).  Each terminator is ATOMIC — a \r\n pair may
# never backtrack into \r + \n (the (?!\n) guard), or a normal CRLF
# header line would read as a bare-CR line plus a blank line.
_RE_UNIVERSAL_BLANK = re.compile(
    rb"(?:\r\n|\r(?!\n)|\n)(?:\r\n|\r(?!\n)|\n)")


# Input slice fed to the decompressor per call: a member's decoder
# reads at most one chunk past the member's end, so splitting an
# archive costs O(archive) instead of copying the whole remainder
# once per member.
_GZIP_CHUNK = 16 * 1024


def split_gzip_members(data: bytes):
    """Yield (offset, compressed_size, decompressed_bytes) per gzip
    member; empty members are yielded with empty payload.  A corrupt
    or truncated member (no end-of-stream marker before the data ends)
    yields a final ``(offset, remaining_bytes, None)`` marker — payload
    None — so callers can distinguish a truncated/corrupt archive from
    a short one (the reference raises ParseError on warctools stream
    errors, cdx_writer.py:826-827; silent truncation would make a
    corrupt archive indistinguishable from a complete index)."""
    view = memoryview(data)
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        out = []
        fed = pos
        try:
            while not d.eof and fed < n:
                chunk = view[fed:fed + _GZIP_CHUNK]
                out.append(d.decompress(chunk))
                fed += len(chunk)
        except zlib.error:
            yield pos, n - pos, None
            return
        if not d.eof:
            yield pos, n - pos, None
            return
        consumed = fed - pos - len(d.unused_data)
        yield pos, consumed, b"".join(out)
        pos += consumed


def parse_warc_members(data: bytes):
    """Yield (offset, size, record_bytes) for an UNCOMPRESSED WARC:
    records delimited by Content-Length + blank-line separators."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record newlines byte-wise: the reference's
        # crlf_pattern tolerates \r?\n, so lone-LF-delimited WARCs must
        # not stall (a 2-byte slice test can never match a lone LF
        # except at the final byte)
        while pos < n and data[pos] in (0x0A, 0x0D):
            pos += 1
        if pos >= n or not _RE_VERSION.match(data[pos:pos + 16]):
            break
        m = _RE_HEADER_SPLIT.search(data, pos)
        if not m:
            break
        head = data[pos:m.start()]
        cl = re.search(rb"(?im)^content-length:\s*(\d+)\s*$", head)
        body_len = int(cl.group(1)) if cl else 0
        end = m.end() + body_len
        yield pos, end - pos, data[pos:end]
        pos = end


def parse_warc_record(raw: bytes) -> dict | None:
    """One WARC record's bytes → a PAGES_SCHEMA row dict (or None)."""
    if not _RE_VERSION.match(raw[:16]):
        return None
    m = _RE_HEADER_SPLIT.search(raw)
    if not m:
        return None
    head = raw[:m.start()].decode("latin1")
    lines = head.splitlines()[1:]  # drop version line
    headers: dict[str, str] = {}
    for line in lines:
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip()] = v.strip()
    cl = headers.get("Content-Length")
    try:
        body_len = int(cl) if cl is not None else len(raw) - m.end()
    except ValueError:
        body_len = len(raw) - m.end()
    body = raw[m.end():m.end() + body_len]
    return {
        "url": headers.get("WARC-Target-URI"),
        "warc_ts": None,
        "raw_date": headers.get("WARC-Date"),
        "record_type": headers.get("WARC-Type"),
        "content_type": headers.get("Content-Type"),
        "html": body,
        "text": None,
        "lang": None,
        "warc_headers": headers,
        "content_length": int(cl) if cl and cl.lstrip("-").isdigit()
        else None,
        "compressed_size": None,  # filled by the splitter
        "offset": None,
        "warc_file": None,
    }


# --- ARC (the WARC predecessor; cdx_writer.py handles both via
# warctools' gzip='auto' open_archive) --------------------------------


def parse_arc_members(data: bytes):
    """Yield (offset, size, record_bytes) for an UNCOMPRESSED ARC:
    `url ip date mime ... length` header line + length content bytes,
    records separated by a newline."""
    pos = 0
    n = len(data)
    while pos < n:
        while pos < n and data[pos] in (0x0A, 0x0D):
            pos += 1
        if pos >= n:
            break
        nl = data.find(b"\n", pos)
        if nl < 0:
            break
        fields = data[pos:nl].split(b" ")
        try:
            body_len = int(fields[-1])
        except (ValueError, IndexError):
            break
        end = nl + 1 + max(body_len, 0)
        yield pos, end - pos, data[pos:end]
        pos = end


_RE_ARC_DATE = re.compile(r"[0-9]{8,18}")


def _parse_arc_header_line(line: str):
    """(url, ip, date, mime, length) from an ARC header line, handling
    the reference corpus's pathologies (tests/test_small_warcs.py):

    * v1 ``url ip date mime length`` and v2's 10-field form — matched
      by splitting from the RIGHT so URLs containing literal spaces
      keep them (spaces_in_url.arc.gz fixture);
    * ``; charset=...`` leaking into the mime field, stripped like the
      warctools fix (alexa_charset_in_header fixture);
    * transposed ip/date fields (transposed_header fixture) — detected
      by which of the two is the digit string;
    * short 4-field headers without a mime (alexa_short_header).
    """
    line = re.sub(r"(?i);?\s?charset=[^ ]*", "", line).rstrip()
    tokens = line.split(" ")
    n = len(tokens)

    def finish(url, ip, date, mime, length_tok):
        try:
            length = int(length_tok)
        except ValueError:
            return None
        # transposed ip/date (transposed_header fixture): swap when the
        # ip slot is the digit string and the date slot is not
        if (not _RE_ARC_DATE.fullmatch(date)
                and _RE_ARC_DATE.fullmatch(ip)):
            ip, date = date, ip
        if mime is not None:
            # short/blank mime -> None, which the m operator maps to
            # 'unk' (alexa_short_header fixture)
            mime = mime.split(";")[0] or None
        return url, ip, date, mime, length

    if n == 5:                      # v1: url ip date mime length
        return finish(tokens[0], tokens[1], tokens[2], tokens[3],
                      tokens[4])
    if n == 10:                     # v2: + result checksum location
        return finish(tokens[0], tokens[1], tokens[2], tokens[3],
                      tokens[9])    # offset filename length
    if n == 4:                      # short header: no mime
        return finish(tokens[0], tokens[1], tokens[2], None, tokens[3])
    # URLs containing literal spaces: split from the right and require
    # a date-like token to anchor the field boundary
    for tail in (4, 9):
        parts = line.rsplit(" ", tail)
        if len(parts) != tail + 1:
            continue
        url, rest = parts[0], parts[1:]
        if (_RE_ARC_DATE.fullmatch(rest[1])
                or _RE_ARC_DATE.fullmatch(rest[0])):
            got = finish(url, rest[0], rest[1], rest[2], rest[-1])
            if got is not None:
                return got
    return None


def parse_arc_record(raw: bytes) -> dict | None:
    """One ARC record's bytes → a PAGES_SCHEMA row dict.

    v1 header: ``url ip date mimetype length``; v2 appends
    result/checksum/location/offset/filename before length
    (length is always last).  The version block (``filedesc://``) maps
    to record_type 'filedesc' — the base handler renders it as
    ``warc/filedesc`` under --all-records exactly like the reference
    fixtures (tests/test_small_warcs.py:11-22); default mode drops it.
    """
    nl = raw.find(b"\n")
    if nl < 0:
        return None
    parsed = _parse_arc_header_line(raw[:nl].decode("latin1"))
    if parsed is None:
        return None
    url, ip, date, mime, length = parsed
    if url.startswith("filedesc://"):
        # warctools consumes the version line + field-spec line of the
        # ARC file header as file metadata; record content is only the
        # remainder WITHIN the declared Archive-length (evidence: the
        # reference fixtures' filedesc digests are sha1(b'\n') when the
        # declared block has a trailing newline past the two lines and
        # sha1(b'') when it doesn't — tests/test_small_warcs.py:14,19)
        body = raw[nl + 1:nl + 1 + max(length or 0, 0)]
        for _ in range(2):
            k = body.find(b"\n")
            if k < 0:
                body = b""
                break
            body = body[k + 1:]
    else:
        # content is EXACTLY the declared Archive-length bytes; the
        # newline(s) after them are record separators, not content
        # (evidence: payload digests match the declared slice)
        body = raw[nl + 1:nl + 1 + max(length or 0, 0)]
    headers: dict[str, str] = {}
    if ip is not None:
        headers["IP-address"] = ip
    if length is not None:
        headers["Content-Length"] = str(length)
    if body.startswith(b"HTTP") and not url.startswith("filedesc://"):
        # Mirror the reference's patched warctools (requirements.txt
        # pins internetarchive/warctools@cdx-writer), which FABRICATES
        # WARC-Payload-Digest for ARC records at parse time
        # (cdx_writer.py:450-452 consumes it before ever hashing
        # content itself).  Its header/payload boundary is the first
        # empty line under UNIVERSAL line endings — a lone \r
        # terminates a line — which differs from cdx_writer's own
        # \r?\n\r?\n content split exactly when a bare CR precedes the
        # blank line: fixture empty_record.arc.gz's block ends
        # 'Gone\r\r\n\r\n', i.e. a CR-terminated status line + CRLF
        # blank line + payload b'\r\n' (digest XKFLL...,
        # tests/test_small_warcs.py:32).  The engine's digest fast
        # path then uses this header natively, same as for WARC.
        m_blank = _RE_UNIVERSAL_BLANK.search(body)
        payload = body[m_blank.end():] if m_blank else b""
        headers["WARC-Payload-Digest"] = "sha1:" + base64.b32encode(
            hashlib.sha1(payload).digest()).decode("ascii")
    return {
        "url": url,
        "warc_ts": None,
        "raw_date": date,
        "record_type": ("filedesc" if url.startswith("filedesc://")
                        else "response"),
        "content_type": mime,
        "html": body,
        "text": None,
        "lang": None,
        "warc_headers": headers,
        "content_length": length,
        "compressed_size": None,
        "offset": None,
        "warc_file": None,
    }


# Payloads above this stay out of Arrow/driver memory: the digest is
# computed here in the source kernel and carried as a header (the
# engine's digest fast path then never needs the bytes), and the html
# column keeps only the head (status line + headers for s/m; the meta
# scan is already gated off by content_length > 5MB).
MAX_INLINE_PAYLOAD = 16 * 1024 * 1024
_HEAD_KEEP = 64 * 1024


def _spill_oversized(row: dict) -> dict:
    html = row["html"]
    if html is None or len(html) <= MAX_INLINE_PAYLOAD:
        return row
    if html.startswith(b"HTTP"):
        m = _RE_HEADER_SPLIT.search(html)
        payload = html[m.end():] if m else b""
    else:
        payload = html
    digest = base64.b32encode(
        hashlib.sha1(payload).digest()).decode("ascii")
    headers = dict(row["warc_headers"] or {})
    headers.setdefault("WARC-Payload-Digest", "sha1:" + digest)
    row = dict(row)
    row["warc_headers"] = headers
    row["html"] = html[:_HEAD_KEEP]
    return row


def archive_to_rows(path: str, data: bytes) -> Iterator[dict]:
    """All records of one archive (gzip + WARC/ARC auto-detected) as
    row dicts.

    A gzip member usually holds ONE record (record-per-member archives,
    where the member boundaries give exact V/S fields), but
    single-stream ``.warc.gz``/``.arc.gz`` files put the whole archive
    in one member — warctools' open_archive(gzip='auto') still reads
    those record-by-record (cdx_writer.py:823-828), so each member is
    re-split and EVERY contained record is emitted; for multi-record
    members the V/S fields fall back to the member's offset/size (the
    compressed stream has no per-record byte boundaries to report).

    A corrupt gzip member raises (reference parity: ParseError on
    warctools stream errors) rather than silently truncating the index.
    """
    name = os.path.basename(path)
    record_seq = 0  # file-order ordinal (ties on offset within a
    #                 multi-record member are broken by this)
    if data[:2] == b"\x1f\x8b":
        members = list(split_gzip_members(data))
        if members and members[-1][2] is None:
            off, remaining, _ = members[-1]
            raise ValueError(
                f"corrupt gzip member in {name} at byte {off} "
                f"({remaining} bytes undecodable)")
    elif _RE_VERSION.match(data[:16]):
        members = list(parse_warc_members(data))
    else:
        members = list(parse_arc_members(data))
    first = next((m for m in members if m[2] != b""), None)
    if first is None:
        return
    is_arc = first[2].startswith(b"filedesc://") or (
        not _RE_VERSION.match(first[2][:16]))
    parse = parse_arc_record if is_arc else parse_warc_record
    split = parse_arc_members if is_arc else parse_warc_members
    for offset, size, raw in members:
        if raw == b"":
            continue  # tolerated empty gzip member
        # single-stream member: more records after the first one
        recs = list(split(raw))
        if len(recs) > 1:
            # the splitter stops at the first record it cannot parse
            # (bad version line / truncated Content-Length): any
            # non-separator residue past the last parsed record means
            # records would be silently dropped — raise instead,
            # matching this function's corrupt-gzip behavior and the
            # reference's ParseError-on-stream-error contract
            # (cdx_writer.py:826-827)
            consumed = recs[-1][0] + recs[-1][1]
            residue = raw[consumed:].strip(b"\r\n")
            if residue:
                raise ValueError(
                    f"unparseable record data in {name}: member at "
                    f"byte {offset} leaves {len(residue)} undecodable "
                    "bytes after record re-split")
            raws = [rb for _, _, rb in recs]
        else:
            # keep the whole member for the 1-record case: parse()
            # already handles trailing separators, and this preserves
            # the fixture-verified byte behavior exactly
            raws = [raw]
        for rb in raws:
            row = parse(rb)
            if row is None:
                continue
            row["offset"] = offset
            row["compressed_size"] = size
            row["warc_file"] = name
            row["record_seq"] = record_seq
            record_seq += 1
            yield _spill_oversized(row)


def source_columns(row: dict) -> tuple:
    """The ARCHIVE_SCHEMA columns past PAGES_SCHEMA for one row as the
    JVM sees it (after ``_spill_oversized``), in SOURCE_FIELDS order.

    The split follows the engine's mask: response records whose block
    starts with ``HTTP``.  The meta map is parsed where the M field's
    gate (``fields.meta_tags_column``) can pass: a split block with
    ``text/html`` in its HTTP head or as the record's content type, no
    longer than META_PARSE_LIMIT.  That is a superset of the rows whose
    mime resolves to ``text/html``; the gate still decides which values
    are read."""
    html = row["html"]
    split = split_http_block(
        html if row["record_type"] == "response" else None)
    head, off = split[0], split[1]
    url = row["url"]
    surt = None if url is None else massaged_url(safe_url(url))
    meta = None
    if off is not None and ("text/html" in head
                            or row["content_type"] == "text/html"):
        length = row["content_length"]
        if (len(html) if length is None else length) <= META_PARSE_LIMIT:
            meta = parse_meta_tags(html[off - 1:])
    return (*split, surt, meta)


def _warc_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: binaryFile (path, content) rows -> archive
    rows (ARCHIVE_SCHEMA).  Module-level so it pickles by reference,
    not by value."""
    cols = PAGES_SCHEMA.fieldNames()
    for pdf in batches:
        rows = []
        for p, content in zip(pdf["path"], pdf["content"]):
            rows.extend(archive_to_rows(p, bytes(content)))
        out = {c: [r[c] for r in rows] for c in cols}
        derived = list(zip(*map(source_columns, rows)))
        for i, f in enumerate(SOURCE_FIELDS):
            out[f.name] = derived[i] if rows else []
        yield pd.DataFrame(out)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed archive scan, one task per archive file: PAGES_SCHEMA
    rows plus the derived SOURCE_FIELDS (``schema.ARCHIVE_SCHEMA``)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{warc,arc,warc.gz,arc.gz}")
        .load(path)
        .select("path", "content")
        .mapInPandas(_warc_kernel, schema=ARCHIVE_SCHEMA)
    )
